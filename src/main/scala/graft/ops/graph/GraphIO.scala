package graft.ops.graph

import graft.build.GraphIndex
import graft.core.Metric
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph index persistence (SURVEY.md §2.1 S7/S8; reference Save/Load +
  * SaveProjectionGraph/LoadProjectionGraph, src/index_bipartite.cpp:
  * 2045-2071, 2606-2619, 2097-2117). The reference writes a packed binary
  * `(ep, npts, then per-node degree+ids)`; the Spark-native form is a
  * parquet adjacency table plus one metadata row — splittable, predicate-
  * prunable, and readable by any engine.
  */
object GraphIO {

  /** Write [id, vec, nbrs] adjacency + a `_meta` table (ep, metric, dim). */
  def save(index: GraphIndex, path: String)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    val rows = index.ids.indices.map { i =>
      (index.ids(i), index.vs.row(i), index.adj(i).map(index.ids(_)))
    }
    rows.toDF("id", "vec", "nbrs").write.mode("overwrite")
      .parquet(s"$path/adjacency")
    Seq((index.ids(index.ep), index.vs.metric.name, index.vs.dim))
      .toDF("entry_point", "metric", "dim")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  def load(path: String)(implicit spark: SparkSession): GraphIndex = {
    import spark.implicits._
    val meta = spark.read.parquet(s"$path/meta").collect().head
    val metric = Metric.fromString(meta.getAs[String]("metric"))
    val rows = spark.read.parquet(s"$path/adjacency")
      .select(col("id").cast("long"), col("vec"), col("nbrs"))
      .as[(Long, Array[Float], Array[Long])].collect().sortBy(_._1)
    val ids = rows.map(_._1)
    val dense = ids.zipWithIndex.toMap
    // vectors were normalized at build time if cosine (re-normalizing is
    // idempotent, so round-trips are stable)
    val vs = VecStore(rows.map(_._2), metric)
    val adj = rows.map(_._3.map(dense(_)))
    GraphIndex(adj, dense(meta.getAs[Long]("entry_point")), ids, vs)
  }

  /** Adjacency DataFrame view of an in-memory index (external ids). */
  def toDF(index: GraphIndex)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    index.ids.indices.map { i =>
      (index.ids(i), index.adj(i).map(index.ids(_)))
    }.toDF("src", "nbrs")
  }

  /** Persist a distributed-build product without driver materialization:
    * the adjacency DataFrame writes straight to parquet (splittable,
    * partitioned by Spark), only the (ep, metric) meta row touches the
    * driver. The distributed mirror of SaveProjectionGraph
    * (src/index_bipartite.cpp:2606-2619). */
  def saveDist(di: graft.build.DistIndex, path: String)
              (implicit spark: SparkSession): Unit = {
    import spark.implicits._
    di.adj.write.mode("overwrite").parquet(s"$path/adjacency")
    Seq((di.ep, di.metric.name)).toDF("entry_point", "metric")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[graft.build.DistIndex]] — adjacency stays a DataFrame
    * (ready for [[BspBeamSearch]] or a broadcast-load via
    * [[GraphSearch.indexFromDist]]); only the meta row is read eagerly. */
  def loadDist(path: String)(implicit spark: SparkSession): graft.build.DistIndex = {
    val meta = spark.read.parquet(s"$path/meta").collect().head
    graft.build.DistIndex(
      spark.read.parquet(s"$path/adjacency").select(col("src"), col("nbrs")),
      meta.getAs[Long]("entry_point"),
      Metric.fromString(meta.getAs[String]("metric")))
  }

  /** Persist a [[graft.build.DistIndex]] + its vector table with node-id
    * co-location: adjacency bucketed by `src`, vectors bucketed by `id`
    * (same bucket count). BSP search joins both tables on node id every
    * round — with this layout the big sides read pre-partitioned from
    * disk and never re-shuffle (only the per-round frontier, the small
    * side, moves). The 100 TB serving layout for an index that exceeds
    * executor memory. */
  /** `saveAsTable(overwrite)` only drops what the CATALOG knows; a fresh
    * session whose warehouse directory survives from a previous process
    * fails with LOCATION_ALREADY_EXISTS. Drop both the catalog entry and
    * any stale physical location before writing. */
  private def dropStale(db: String, table: String)
                       (implicit spark: SparkSession): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $db.$table")
    val dbLoc = spark.catalog.getDatabase(db).locationUri
    val path = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dbLoc), table)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  def saveDistBucketed(di: graft.build.DistIndex, vectors: DataFrame,
                       db: String, buckets: Int)
                      (implicit spark: SparkSession): Unit = {
    import spark.implicits._
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    Seq("adjacency", "vectors", "meta").foreach(dropStale(db, _))
    di.adj.select(col("src").cast("long"),
        col("nbrs").cast("array<bigint>").as("nbrs"))
      .write.mode("overwrite").bucketBy(buckets, "src").sortBy("src")
      .saveAsTable(s"$db.adjacency")
    // cast to array<float> on the WRITE side so the files always match the
    // schema attachDistBucketed declares — a double-typed caller corpus
    // would otherwise save fine here and misread in the attaching process
    vectors.select(col("id").cast("long"),
        col("vec").cast("array<float>").as("vec"))
      .write.mode("overwrite").bucketBy(buckets, "id").sortBy("id")
      .saveAsTable(s"$db.vectors")
    // the bucket count is part of the layout, not a serving-time opinion:
    // persist it so attachDistBucketed can never declare a count the files
    // don't satisfy (a mismatch silently drops buckets or asserts a hash
    // partitioning the data doesn't have — wrong joins, no error). The
    // build-time degree cap travels with the layout for the same reason:
    // a serving session has no way to recover it from its own params.
    Seq((di.ep, di.metric.name, buckets, di.degreeCap))
      .toDF("entry_point", "metric", "buckets", "degree_cap")
      .write.mode("overwrite").saveAsTable(s"$db.meta")
  }

  /** Attach a bucketed layout written by ANOTHER process: the in-memory
    * catalog dies with its JVM, but the files and their bucket layout
    * survive in the warehouse — re-register external tables (explicit
    * LOCATION + the same CLUSTERED/SORTED BY spec, so downstream joins
    * still co-locate without an Exchange). This is the serving-side half
    * of build-once/serve-elsewhere: the build cluster writes
    * [[saveDistBucketed]], a separate serving session attaches and
    * [[loadDistBucketed]]s. No-op for tables this catalog already has.
    *
    * The bucket count is read from the layout's own meta (written by
    * [[saveDistBucketed]]) and cross-checked against the bucket ids in the
    * data filenames — a caller-supplied count that disagreed with the
    * files would make Spark silently drop buckets past the declared count
    * or assume a hash partitioning the files don't satisfy, corrupting
    * every co-located join with no error. */
  def attachDistBucketed(db: String)
                        (implicit spark: SparkSession): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val dbLoc = spark.catalog.getDatabase(db).locationUri
    def loc(t: String) = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dbLoc), t).toString
    val metaDf = spark.read.parquet(loc("meta"))
    require(metaDf.columns.contains("buckets"),
      s"$db/meta carries no bucket count — layout predates saveDistBucketed's " +
        "meta schema; rewrite it with saveDistBucketed")
    val buckets = metaDf.select(col("buckets").cast("int")).head().getInt(0)
    // validate the declared count against the physical files: bucketed
    // parquet names carry the bucket id as `_NNNNN` before the extension
    // bucket ids are zero-padded to >=5 digits but GROW with the count
    // (Spark's %05d), so match any digit run — a >=100000-bucket layout
    // must not slip past a fixed 5-digit pattern
    val bucketId = "_(\\d{5,})\\.".r
    Seq("adjacency", "vectors").foreach { t =>
      val p = new org.apache.hadoop.fs.Path(loc(t))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val seen = fs.listStatus(p).iterator
        .map(_.getPath.getName).filter(_.endsWith(".parquet"))
        .flatMap(n => bucketId.findFirstMatchIn(n).map(_.group(1).toInt))
        .toArray
      require(seen.nonEmpty,
        s"$db/$t carries no parseable bucket ids in its filenames — not a " +
          "bucketed layout written by saveDistBucketed; refusing to attach " +
          "with a bucket spec the files don't satisfy")
      val maxSeen = seen.max
      require(maxSeen < buckets,
        s"$db/$t has bucket id $maxSeen >= declared bucket count $buckets — " +
          "the files were written with a different bucket spec")
    }
    if (!spark.catalog.tableExists(s"$db.adjacency"))
      spark.sql(s"""CREATE TABLE $db.adjacency (src BIGINT, nbrs ARRAY<BIGINT>)
        USING parquet CLUSTERED BY (src) SORTED BY (src) INTO $buckets BUCKETS
        LOCATION '${loc("adjacency")}'""")
    if (!spark.catalog.tableExists(s"$db.vectors"))
      spark.sql(s"""CREATE TABLE $db.vectors (id BIGINT, vec ARRAY<FLOAT>)
        USING parquet CLUSTERED BY (id) SORTED BY (id) INTO $buckets BUCKETS
        LOCATION '${loc("vectors")}'""")
    if (!spark.catalog.tableExists(s"$db.meta"))
      // degree_cap reads as NULL from meta files written before the column
      // existed — loadDistBucketed maps that to DistIndex.degreeCap = None
      spark.sql(s"""CREATE TABLE $db.meta (entry_point BIGINT, metric STRING,
        buckets INT, degree_cap INT) USING parquet LOCATION '${loc("meta")}'""")
  }

  /** Load the bucketed layout: (index, vectors) with both big tables
    * carrying their bucket layout into every downstream join. */
  def loadDistBucketed(db: String)
                      (implicit spark: SparkSession): (graft.build.DistIndex, DataFrame) = {
    val meta = spark.table(s"$db.meta").collect().head
    // pre-degree_cap layouts (and attach-declared columns absent from the
    // files) read as null → None, never a fabricated cap
    val cap = meta.schema.fieldNames.indexOf("degree_cap") match {
      case -1 => None
      case i if meta.isNullAt(i) => None
      case i => Some(meta.getInt(i))
    }
    (graft.build.DistIndex(
      spark.table(s"$db.adjacency"),
      meta.getAs[Long]("entry_point"),
      Metric.fromString(meta.getAs[String]("metric")),
      cap),
      spark.table(s"$db.vectors"))
  }
}
