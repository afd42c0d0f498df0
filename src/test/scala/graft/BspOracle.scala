package graft

import graft.core.Metric
import graft.ops.graph.BspBeamSearch
import graft.ops.graph.BspBeamSearch.Entry
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Per-step forms of the distributed build's two iterative searches, which
  * the specs hold the engine to:
  *  - [[search]], `BspBeamSearch.search` with one job per round: each
  *    round's state is checkpointed and counted before the next starts,
  *    and the loop stops at the first round after which no pool holds an
  *    unexpanded entry. On a one-partition pin the engine runs several
  *    rounds per job inside one task; ids and dist bits must agree.
  *  - [[bfsReached]], the level-synchronous BFS: every hop is one exchange
  *    of the frontier ids, eight hops per materialization. The engine
  *    takes each partition's frontier to a local fixpoint before an
  *    exchange; the reached set must agree. */
object BspOracle {

  /** Same inputs and output as `BspBeamSearch.search` (no shared pins). */
  def search(adj: DataFrame, vectors: DataFrame, queries: DataFrame,
             k: Int, l: Int, ep: Long, metric: Metric,
             frontierWidth: Int = 4, maxRounds: Int = 64,
             excludeSelf: Boolean = false,
             extraSeeds: Seq[Long] = Nil): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val pin = BspBeamSearch.pin(adj, vectors)
    val (part, adjRdd, vecRdd) = (pin.part, pin.adjRdd, pin.vecRdd)
    val qv = queries.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect()
    val qvBc = spark.sparkContext.broadcast {
      val m = new java.util.HashMap[Long, Array[Float]]()
      qv.foreach { case (id, v) => m.put(id, v) }
      m
    }

    def mergePool(pool: Array[Entry], cands: Iterator[(Long, Double)]): Array[Entry] = {
      val seen = new java.util.HashMap[Long, Entry]()
      pool.foreach(e => seen.put(e.id, e))
      cands.foreach { case (id, d) =>
        if (!seen.containsKey(id)) seen.put(id, Entry(d, id, expanded = false))
      }
      val arr = new Array[Entry](seen.size)
      val it = seen.values().iterator()
      var i = 0
      while (it.hasNext) { arr(i) = it.next(); i += 1 }
      arr.sorted(Entry.ordering).take(l)
    }

    val seedIds = (ep +: extraSeeds).distinct
    val seedVecs = vectors.filter(col("id").isin(seedIds: _*))
      .select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().toMap
    val seeds = seedIds.flatMap(id => seedVecs.get(id).map(v => (id, v))).toArray
    val qPart = new org.apache.spark.HashPartitioner(
      math.max(1, math.min(part.numPartitions, qv.length / 1024 + 1)))
    var state: RDD[(Long, Array[Entry])] = spark.sparkContext
      .parallelize(qv.toSeq)
      .map { case (qid, v) =>
        (qid, seeds.map { case (id, sv) => Entry(metric.dist(v, sv), id, expanded = false) }
          .sorted(Entry.ordering).take(l))
      }
      .partitionBy(qPart)
    def materialize(s: RDD[(Long, Array[Entry])]): Unit = {
      s.persist(StorageLevel.MEMORY_AND_DISK)
      s.localCheckpoint()
      s.count()
    }
    materialize(state)
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val frontier = state.flatMap { case (qid, pool) =>
        pool.iterator.filter(!_.expanded).take(frontierWidth).map(e => (e.id, qid))
      }.partitionBy(part)
      val exSelf = excludeSelf
      val scored = frontier.join(adjRdd)
        .flatMap { case (_, (qid, nbrs)) =>
          nbrs.iterator.filter(n => !exSelf || n != qid).map(n => (n, qid))
        }
        .partitionBy(part)
        .zipPartitions(vecRdd, preservesPartitioning = false) { (pit, vit) =>
          val qvs = qvBc.value
          val vecs = new java.util.HashMap[Long, Array[Float]]()
          vit.foreach { case (id, v) => vecs.put(id, v) }
          val seen = new java.util.HashSet[(Long, Long)]()
          pit.flatMap { case (nbr, qid) =>
            val v = vecs.get(nbr)
            if (!seen.add((nbr, qid)) || v == null) Iterator.empty
            else Iterator.single((qid, (nbr, metric.dist(qvs.get(qid), v))))
          }
        }
        .partitionBy(qPart)
      val fw = frontierWidth
      val unexpanded = spark.sparkContext.longAccumulator
      val next = state.cogroup(scored, qPart).flatMapValues { case (sts, cs) =>
        sts.iterator.map { pool =>
          var budget = fw
          val marked = pool.map { e =>
            if (!e.expanded && budget > 0) { budget -= 1; e.copy(expanded = true) }
            else e
          }
          val merged = mergePool(marked, cs.iterator)
          if (merged.exists(!_.expanded)) unexpanded.add(1)
          merged
        }
      }
      materialize(next)
      state.unpersist(blocking = false)
      state = next
      done = unexpanded.value == 0
      round += 1
    }
    pin.release()
    qvBc.destroy()
    spark.createDataset(state.map { case (qid, pool) =>
      val top = (if (excludeSelf) pool.filter(_.id != qid) else pool).take(k)
      (qid, top.map(_.id), top.map(_.dist))
    }).toDF("query_id", "ids", "dists")
  }

  /** `BspBeamSearch.pin` over `numPartitions` hash partitions instead of
    * the size-derived count, so a small spec graph runs the multi-partition
    * search and BFS paths. Lazy like the engine's pins; the caller
    * releases it. */
  def spreadPin(adj: DataFrame, vectors: DataFrame, numPartitions: Int): BspBeamSearch.Pinned = {
    import vectors.sparkSession.implicits._
    val part = new org.apache.spark.HashPartitioner(numPartitions)
    val vecRdd = vectors.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])].rdd
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    BspBeamSearch.pinAdjOnto(adj, new BspBeamSearch.PinnedVecs(vecRdd, part))
  }

  /** The ids reachable from `ep` over `adj` (src, nbrs), `ep` included,
    * hop by hop over an adjacency hash-partitioned into `numPartitions`. */
  def bfsReached(adj: DataFrame, ep: Long, numPartitions: Int): DataFrame = {
    val spark = adj.sparkSession
    import spark.implicits._
    type IdSet = RDD[(Long, Unit)]
    val part = new org.apache.spark.HashPartitioner(numPartitions)
    val adjRdd = adj
      .select(col("src").cast("long"), col("nbrs").cast("array<long>"))
      .as[(Long, Array[Long])].rdd
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    def materialize(s: IdSet): Long = {
      s.persist(StorageLevel.MEMORY_AND_DISK)
      s.localCheckpoint()
      s.count()
    }
    def minus(a: IdSet, b: IdSet): IdSet =
      a.zipPartitions(b, preservesPartitioning = true) { (ait, bit) =>
        val seen = new java.util.HashSet[Long]()
        bit.foreach(kv => seen.add(kv._1))
        ait.filter(kv => !seen.contains(kv._1))
      }
    def dedup(a: IdSet): IdSet =
      a.mapPartitions({ it =>
        val seen = new java.util.HashSet[Long]()
        it.filter(kv => seen.add(kv._1))
      }, preservesPartitioning = true)
    var reached: IdSet = spark.sparkContext
      .parallelize(Seq((ep, ())), 1).partitionBy(part)
    materialize(reached)
    var frontier = reached
    var grew = true
    while (grew) {
      var cur = frontier
      val hops = (0 until 8).map { _ =>
        cur = minus(dedup(
          cur.join(adjRdd)
            .mapPartitions(_.flatMap { case (_, (_, nbrs)) => nbrs.iterator.map(n => (n, ())) })
            .partitionBy(part)), reached)
        cur
      }
      val next = dedup(spark.sparkContext.union(hops))
      grew = materialize(next) > 0
      if (grew) {
        val widened = dedup(spark.sparkContext.union(Seq(reached, next)))
        materialize(widened)
        reached = widened
        frontier = next
      }
    }
    spark.createDataset(reached.map(_._1)).toDF("id")
  }
}
