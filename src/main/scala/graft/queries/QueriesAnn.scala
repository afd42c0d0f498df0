package graft.queries

import graft.core.{Metric, Tables}
import graft.eval.Eval
import graft.ops.{AnnSearch, KnnJoin}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-NN queries with DuckDB oracles (both ANN variants are
  * deterministic relational dataflow, so even the approximate results are
  * hash-checked exactly — and their recall vs the exact operator is itself
  * an oracle-checked query). Conventions: embeddings ids < 20 = queries,
  * >= 20 = base; centroids = base ids 20..27; k = 10; metric = L2. */
object QueriesAnn {

  private val K = 10
  private val NProbe = 2
  private val CentroidLo = 20
  private val CentroidHi = 27

  private def emb(s: SparkSession, dir: String) = Tables.vectors(s, dir)
  private def qSide(s: SparkSession, dir: String) =
    emb(s, dir).filter(col("id") < 20)
  private def bSide(s: SparkSession, dir: String) =
    emb(s, dir).filter(col("id") >= 20)
  private def centroids(s: SparkSession, dir: String) =
    emb(s, dir).filter(col("id").between(CentroidLo, CentroidHi))
      .select(col("id").as("centroid_id"), col("vec"))

  /** Exact-kNN ground truth (query side vs base side, k=K, L2), computed
    * ONCE per (session, sfDir) and cached — the recall family (LSH, SQ8,
    * PQ-refined) all compare against this same table, and the PQ chain's
    * verify cost was dominated by recomputing it inside each query's plan
    * (VERDICT r4 #3: ann_pq_recall at 13.8 s, two exact passes). The
    * eager count() materializes the cache so every later reference is a
    * cache read, mirroring the memoized PQ training below. QueriesGraph's
    * recall queries share the same (query, base) split and k, so they
    * read this memo too instead of re-running the exact join. */
  private val gtMemo = new SessionMemo[DataFrame]

  /** The full memoized GT table [query_id, knn: array<struct<dist, id>>] —
    * one exact join per (session, sfDir) serves every consumer that needs
    * ranks or distances too (knn_rderr/_ibin, graph_degree_stats, the
    * bipartite builders, roargraph_search_recall): they all ran the SAME
    * (q<20, b>=20, k=10, L2) join inside their own plans, paying it up to
    * 8x per bench run. */
  private[graft] def exactKnn(s: SparkSession, dir: String): DataFrame =
    gtMemo.getOrElseUpdate(s, dir) {
      val df = KnnJoin(qSide(s, dir), bSide(s, dir), K, Metric.L2).cache()
      df.count()
      df
    }

  /** Ids-only view of [[exactKnn]] (the recall family's GT shape). */
  private[graft] def exactGt(s: SparkSession, dir: String): DataFrame =
    exactKnn(s, dir)
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))

  private val l2SqlDist =
    "list_sum(list_transform(list_zip(qe, be), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"

  /** SQL LSH bucket of a list expr `v` (1-indexed lists). */
  private def bucketSql(v: String): String =
    (0 until AnnSearch.LshBits).map { d =>
      s"(CASE WHEN CAST($v[${2 * d + 1}] AS DOUBLE) - CAST($v[${2 * d + 2}] AS DOUBLE) >= 0 THEN ${1L << d} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** multi-probe list: own bucket + all hamming-1 buckets. */
  private val probeSql: String =
    ("bucket" +: (0 until AnnSearch.LshBits).map(j => s"xor(bucket, ${1L << j})"))
      .mkString("[", ", ", "]")

  // ---- LSH top-k ----------------------------------------------------------

  private def lshTopKQuery(s: SparkSession, dir: String): DataFrame =
    AnnSearch.lshTopK(qSide(s, dir), bSide(s, dir), K, Metric.L2)
      .select(col("query_id"), col("rank"), col("base_id"),
        round(col("dist"), 6).as("dist"))
      .orderBy("query_id", "rank")

  private val lshTopKOracle =
    s"""WITH q0 AS (SELECT vec_id AS qid, embedding AS qe, ${bucketSql("embedding")} AS bucket
       |            FROM embeddings WHERE vec_id < 20),
       |q AS (SELECT qid, qe, unnest($probeSql) AS bucket FROM q0),
       |b AS (SELECT vec_id AS bid, embedding AS be, ${bucketSql("embedding")} AS bucket
       |      FROM embeddings WHERE vec_id >= 20),
       |d AS (SELECT qid, bid, $l2SqlDist AS dist,
       |        row_number() OVER (PARTITION BY qid ORDER BY $l2SqlDist, bid) AS rnk
       |      FROM q JOIN b USING (bucket) QUALIFY rnk <= $K)
       |SELECT qid AS query_id, CAST(rnk AS INT) AS rank, bid AS base_id,
       |       round(dist, 6) AS dist
       |FROM d ORDER BY query_id, rank""".stripMargin

  // ---- LSH recall vs exact ------------------------------------------------

  private def lshRecallQuery(s: SparkSession, dir: String): DataFrame = {
    val approx = AnnSearch.lshTopK(qSide(s, dir), bSide(s, dir), K, Metric.L2)
      .groupBy("query_id").agg(collect_list(col("base_id")).as("ids"))
    Eval.recallAtK(approx, exactGt(s, dir), K)
      .select(round(col("recall_at_k"), 6).as("recall_at_k"), col("n_queries"))
  }

  private val lshRecallOracle =
    s"""WITH q0 AS (SELECT vec_id AS qid, embedding AS qe, ${bucketSql("embedding")} AS bucket
       |            FROM embeddings WHERE vec_id < 20),
       |q AS (SELECT qid, qe, unnest($probeSql) AS bucket FROM q0),
       |b AS (SELECT vec_id AS bid, embedding AS be, ${bucketSql("embedding")} AS bucket
       |      FROM embeddings WHERE vec_id >= 20),
       |ap AS (SELECT qid, bid,
       |         row_number() OVER (PARTITION BY qid ORDER BY $l2SqlDist, bid) AS rnk
       |       FROM q JOIN b USING (bucket) QUALIFY rnk <= $K),
       |gt AS (SELECT qid, bid,
       |         row_number() OVER (PARTITION BY qid ORDER BY $l2SqlDist, bid) AS rnk
       |       FROM (SELECT qid, qe FROM q0) q, b QUALIFY rnk <= $K),
       |hits AS (SELECT gt.qid, count(*) AS h FROM gt
       |         JOIN ap ON gt.qid = ap.qid AND gt.bid = ap.bid GROUP BY gt.qid),
       |per AS (SELECT q.qid, coalesce(h, 0) / $K.0 AS recall
       |        FROM (SELECT DISTINCT qid FROM q) q LEFT JOIN hits USING (qid))
       |SELECT round(avg(recall), 6) AS recall_at_k, count(*) AS n_queries FROM per""".stripMargin

  // ---- IVF top-k ----------------------------------------------------------

  /** The (base row → nearest fixed centroid) inverted-lists table, built
    * once per (session, sfDir) and cached: ann_ivf_topk scans it and
    * ann_ivfpq_topk derives its coarse list assignment from the same
    * table — each previously re-ran the identical literal-fold argmin
    * over the full base inside its own plan. */
  private val ivfListsMemo = new SessionMemo[DataFrame]
  private def ivfLists(s: SparkSession, dir: String): DataFrame =
    ivfListsMemo.getOrElseUpdate(s, dir) {
      val df = AnnSearch.invertedLists(bSide(s, dir), centroids(s, dir)).cache()
      df.count()
      df
    }

  private def ivfTopKQuery(s: SparkSession, dir: String): DataFrame =
    AnnSearch.ivfTopKOnLists(qSide(s, dir), ivfLists(s, dir),
      centroids(s, dir), K, NProbe, Metric.L2)
      .select(col("query_id"), col("rank"), col("base_id"),
        round(col("dist"), 6).as("dist"))
      .orderBy("query_id", "rank")

  private val ivfTopKOracle =
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |           WHERE vec_id BETWEEN $CentroidLo AND $CentroidHi),
       |b AS (SELECT vec_id AS bid, embedding AS be FROM embeddings WHERE vec_id >= 20),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
       |assign AS (SELECT bid, be, cid,
       |             row_number() OVER (PARTITION BY bid ORDER BY
       |               list_sum(list_transform(list_zip(be, ce), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), cid) AS crnk
       |           FROM b, c QUALIFY crnk = 1),
       |probes AS (SELECT qid, qe, cid,
       |             row_number() OVER (PARTITION BY qid ORDER BY
       |               list_sum(list_transform(list_zip(qe, ce), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), cid) AS prnk
       |           FROM q, c QUALIFY prnk <= $NProbe),
       |d AS (SELECT qid, bid, $l2SqlDist AS dist,
       |        row_number() OVER (PARTITION BY qid ORDER BY $l2SqlDist, bid) AS rnk
       |      FROM probes JOIN assign USING (cid) QUALIFY rnk <= $K)
       |SELECT qid AS query_id, CAST(rnk AS INT) AS rank, bid AS base_id,
       |       round(dist, 6) AS dist
       |FROM d ORDER BY query_id, rank""".stripMargin

  // ---- k-means centroid training (deterministic → unrolled-SQL oracle) ----

  private val KmK = 8
  private val KmIters = 3

  private def kmeansQuery(s: SparkSession, dir: String): DataFrame =
    AnnSearch.kMeans(emb(s, dir), KmK, KmIters)
      .select(col("centroid_id"), posexplode(col("vec")).as(Seq("pos", "v0")))
      .select(col("centroid_id"), col("pos"),
        round(col("v0").cast("double"), 5).as("v"))
      .orderBy("centroid_id", "pos")

  /** Lloyd's iterations unrolled into CTE blocks — deterministic seeding
    * (k smallest ids) makes even the iterative trainer hash-checkable. */
  private val kmeansOracle = {
    val l2 = "list_sum(list_transform(list_zip(be, ce), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""b AS (SELECT vec_id AS bid, embedding AS be FROM embeddings),
         |cent0 AS (SELECT CAST(row_number() OVER (ORDER BY bid) - 1 AS INT) AS cid, be AS ce
         |          FROM (SELECT bid, be FROM b ORDER BY bid LIMIT $KmK))""".stripMargin)
    (1 to KmIters).foreach { i =>
      ctes += s"""a$i AS (SELECT bid, be, cid,
         |  row_number() OVER (PARTITION BY bid ORDER BY $l2, cid) AS rnk
         |  FROM b, cent${i - 1} QUALIFY rnk = 1),
         |e$i AS (SELECT cid, generate_subscripts(be, 1) AS pos, CAST(unnest(be) AS DOUBLE) AS x FROM a$i),
         |m$i AS (SELECT cid, pos, CAST(avg(x) AS FLOAT) AS mf FROM e$i GROUP BY cid, pos),
         |u$i AS (SELECT cid, list(mf ORDER BY pos) AS ce FROM m$i GROUP BY cid),
         |cent$i AS (SELECT p.cid, coalesce(u$i.ce, p.ce) AS ce FROM cent${i - 1} p LEFT JOIN u$i USING (cid))""".stripMargin
    }
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT cid AS centroid_id, CAST(generate_subscripts(ce, 1) - 1 AS INT) AS pos,
       |       round(CAST(unnest(ce) AS DOUBLE), 5) AS v
       |FROM cent$KmIters ORDER BY centroid_id, pos""".stripMargin
  }

  // ---- SQ8 scalar quantization: recall of quantized search vs exact -------

  private def sq8RecallQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Quantize
    // fused encode→decode (Quantize.sq8EncodeDecode): the staged
    // bounds-collect → encode (groupBy) → crossJoin-decode chain re-scanned
    // base three times and paid 13 jobs for what is two passes (bounds agg
    // + one explode/join/assemble) — guide §1.2. Float-identical per
    // element (same op chain, see sq8EncodeDecode's doc); tri-SF
    // oracle-gated.
    val b = bSide(s, dir)
    val decoded = Quantize.sq8EncodeDecode(b, Quantize.sq8Bounds(b))
    val approx = KnnJoin(qSide(s, dir), decoded, K, Metric.L2)
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))
    Eval.recallAtK(approx, exactGt(s, dir), K)
      .select(round(col("recall_at_k"), 6).as("recall_at_k"), col("n_queries"))
  }

  private val sq8RecallOracle =
    s"""WITH b AS (SELECT vec_id AS bid, embedding AS be FROM embeddings WHERE vec_id >= 20),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
       |ex AS (SELECT bid, generate_subscripts(be, 1) AS pos, CAST(unnest(be) AS DOUBLE) AS x FROM b),
       |bounds AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM ex GROUP BY pos),
       |dec AS (SELECT bid, ex.pos,
       |          CAST(CASE WHEN hi > lo
       |            THEN lo + (round(255.0 * (x - lo) / (hi - lo)) / 255.0) * (hi - lo)
       |            ELSE lo END AS FLOAT) AS dx
       |        FROM ex JOIN bounds USING (pos)),
       |db AS (SELECT bid, list(dx ORDER BY pos) AS be FROM dec GROUP BY bid),
       |ap AS (SELECT qid, bid,
       |         row_number() OVER (PARTITION BY qid ORDER BY $l2SqlDist, bid) AS rnk
       |       FROM q, db QUALIFY rnk <= $K),
       |gt AS (SELECT qid, bid,
       |         row_number() OVER (PARTITION BY qid ORDER BY $l2SqlDist, bid) AS rnk
       |       FROM q, b QUALIFY rnk <= $K),
       |hits AS (SELECT gt.qid, count(*) AS h FROM gt
       |         JOIN ap ON gt.qid = ap.qid AND gt.bid = ap.bid GROUP BY gt.qid),
       |per AS (SELECT q.qid, coalesce(h, 0) / $K.0 AS recall
       |        FROM (SELECT DISTINCT qid FROM q) q LEFT JOIN hits USING (qid))
       |SELECT round(avg(recall), 6) AS recall_at_k, count(*) AS n_queries FROM per""".stripMargin

  // ---- PQ: product-quantized search recall (reference's vestigial PQ) -----

  private val PqM = 16       // subspaces (64-dim → 16×4-d cells)
  private val PqK = 256      // codes per subspace (1 byte/code)
  // 16 bytes of codes vs 256 vector bytes = a true 16× compression; the
  // earlier 8×64 layout quantized 8-d cells with 6-bit codebooks — coarse
  // cells were the recall floor (0.47), not the code count
  // 1 Lloyd iteration: measured — extra iterations move
  // recall by 0.000 on this corpus at every tested cap, the refine stage
  // dominates quality anyway, and each iteration costs ~1.5 s engine-side
  // plus 16 unrolled CTE chains oracle-side
  private val PqIters = 1
  // train codebooks on a bounded deterministic sample (the PqTrainCap
  // smallest ids) — standard PQ practice (FAISS trains on a subsample);
  // training cost stays constant as the corpus grows while encoding still
  // covers every vector. At sf0.01 the cap exceeds the corpus, so the
  // sample IS the corpus.
  private val PqTrainCap = 2048

  /** Deterministic bounded training set: the PqTrainCap smallest ids,
    * materialized once (GlobalLimit leaves it in one partition — fine:
    * the cap bounds the trainer's per-iteration work to ~PqTrainCap × PqK
    * × subDim ≈ 34M fused multiply-adds in codegen'd l2Sq, ~30 ms in one
    * task at ANY corpus scale, far below the per-task scheduling overhead
    * a conf-wide `repartition(col("id"))` spread added: 32 near-empty
    * tasks per k-means stage at bench scale, measured ~1 s/chain). */
  private def pqTrainSet(s: SparkSession, dir: String): DataFrame =
    graft.ops.graph.PlanUtil.cutDF(
      bSide(s, dir).orderBy("id").limit(PqTrainCap))

  /** Refine-stage candidate budget: the ADC byte-domain scan keeps 4k
    * candidates per query; the exact re-rank over ORIGINAL vectors keeps
    * k — FAISS's IndexRefineFlat serving shape. Measured at sf0.01: plain
    * PQ recall ceilings at 0.71 (the synthetic embeddings are isotropic —
    * flat variance, zero correlation, flat eigenspectrum — so NO rotation
    * can reorganize energy the subspaces don't already share, and the
    * 10th→11th neighbor gap (~0.6%) sits below PQ's distance noise at 2
    * bits/dim); rotation lifts the scan to 0.76, and refine at R=4k
    * reaches 1.0 while touching only R original rows per query. */
  private val PqRefine = 4 * K

  /** Shared OPQ+PQ artifacts per sfDir, trained ONCE per suite (both PQ
    * queries and the bench reuse them): rotation → permutation →
    * codebooks → codes. Returns (codebooks, codes over all base,
    * rotated+permuted queries). */
  private val pqMemo = new SessionMemo[(DataFrame, DataFrame, DataFrame)]
  private def pqArtifacts(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    pqMemo.getOrElseUpdate(s, dir) {
      import graft.ops.Quantize
      // ONE train-set cut shared by the permutation derivation and the
      // rotated trainer (two pqTrainSet calls = two localCheckpoint
      // materializations of the identical table)
      val train = pqTrainSet(s, dir)
      val rotTrain = Quantize.opqRotate(train, PqDim)
      val perm = Quantize.opqPermutation(rotTrain, PqDim, PqM)
      // cache the rotated+permuted tables (pqTrain/pqEncode re-scan them);
      // rotate+permute fused into one row-permuted MatVecRotate —
      // bit-identical, and the staged form's collapsed projection carried
      // dim copies of the matrix expression (see opqRotatePermuted doc)
      val bP = Quantize.opqRotatePermuted(bSide(s, dir), PqDim, perm).cache()
      val qP = Quantize.opqRotatePermuted(qSide(s, dir), PqDim, perm).cache()
      val trainP = Quantize.opqRotatePermuted(train, PqDim, perm)
        .cache()
      // materialize the cached rotations EAGERLY: pqTrain/pqEncode scan
      // them through the subspace posexplode, and racing tasks over a
      // lazily-cached table each re-evaluate the Hadamard fold (the
      // chain's dominant expression) instead of reading the cache.
      // bP's materialization is independent of the trainer (pqTrain reads
      // trainP only), so it runs concurrently and back-fills the
      // trainer's collect-job gaps (guide §2.6)
      trainP.count()
      locally {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val fB = Future(bP.count())
        // always await the concurrent count, even when the trainer throws
        // (ADVICE r13): an orphaned running job would keep the session
        // busy and its own failure would be swallowed
        val cb =
          try Quantize.pqTrain(trainP, PqM, PqK, PqIters).cache()
          finally Await.ready(fB, Duration.Inf)
        Await.result(fB, Duration.Inf)
        val codes = Quantize.pqEncode(bP, cb, PqM, dim = PqDim).cache()
        (cb, codes, qP)
      }
    }

  /** Recall of OPQ-rotated PQ search WITH the refine stage vs exact kNN —
    * at 16× compression for the scan (16 code bytes vs 256 vector bytes),
    * plus R=4k original rows re-ranked per query. The whole chain
    * (Hadamard+sign-flip rotation → variance-balancing permutation →
    * per-subspace k-means → encode → ADC top-R → exact re-rank) is
    * verified float-for-float against unrolled SQL. */
  private def pqRecallQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Quantize
    val (cb, codes, qP) = pqArtifacts(s, dir)
    val cand = Quantize.adcTopK(qP, codes, cb, PqRefine)
    val refined = Quantize.refineTopK(cand, qSide(s, dir), bSide(s, dir), K)
      .select(col("query_id"), transform(col("knn"), _("id")).as("ids"))
    Eval.recallAtK(refined, exactGt(s, dir), K)
      .select(round(col("recall_at_k"), 6).as("recall_at_k"), col("n_queries"))
  }

  private val PqDim = 64
  private def pqL2(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"

  /** Common PQ oracle CTEs: the OPQ rotation (sign-flipped Hadamard →
    * variance-balancing snake permutation), then per-subspace k-means
    * (unrolled Lloyd's) + nearest-code encoding — shared by the refined-
    * recall and the ADC oracles. `b`/`btrain`/`q` are the ROTATED+PERMUTED
    * tables (mirroring Quantize.opqRotate/opqPermutation/permute
    * float-for-float: ±1 matrix entries, left-fold sums via list_sum,
    * scale 0.125 applied once, cast to FLOAT); `rawb`/`rawq` keep the
    * original vectors for the refine stage and ground truth. Leaves
    * c{s}_{PqIters} (codebooks) and code{s} (codes) defined. */
  private def pqCommonCtes: scala.collection.mutable.ArrayBuffer[String] = {
    val sub = PqDim / PqM
    val rotBody = "CAST(list_sum(list_transform(list_zip(ve, hl), p -> CAST(p[1] AS DOUBLE) * p[2])) * 0.125 AS FLOAT)"
    val ctes = scala.collection.mutable.ArrayBuffer(
      "rawb AS (SELECT vec_id AS bid, embedding AS be FROM embeddings WHERE vec_id >= 20)",
      "rawq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20)",
      // sign-flipped Hadamard row i: hl[j+1] = (-1)^popcount(i&j) * s_j
      s"hmat AS (SELECT i, list(hs ORDER BY j) AS hl FROM (SELECT i.range AS i, j.range AS j, (CASE WHEN bit_count(CAST(i.range AS BIGINT) & CAST(j.range AS BIGINT)) % 2 = 0 THEN 1.0 ELSE -1.0 END) * (CASE WHEN bit_count((CAST(j.range AS BIGINT) * 2654435761) & 65535) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS hs FROM range($PqDim) i, range($PqDim) j) GROUP BY i)",
      s"rb AS (SELECT bid, list(y ORDER BY i) AS rvec FROM (SELECT bid, i, $rotBody AS y FROM (SELECT bid, be AS ve FROM rawb), hmat) GROUP BY bid)",
      s"rq AS (SELECT qid, list(y ORDER BY i) AS rvec FROM (SELECT qid, i, $rotBody AS y FROM (SELECT qid, qe AS ve FROM rawq), hmat) GROUP BY qid)",
      s"rtrain AS (SELECT bid, rvec FROM rb ORDER BY bid LIMIT $PqTrainCap)",
      // snake permutation: rank dims by round(var, 6) desc (pos ties),
      // deal rank r to subspace r%m (even deals) / m-1-r%m (odd deals)
      "pvar AS (SELECT pos - 1 AS pos, round(var_samp(CAST(x AS DOUBLE)), 6) AS v FROM (SELECT generate_subscripts(rvec, 1) AS pos, unnest(rvec) AS x FROM rtrain) GROUP BY pos)",
      "prank AS (SELECT pos, CAST(row_number() OVER (ORDER BY v DESC, pos) - 1 AS INT) AS r FROM pvar)",
      s"perm AS (SELECT pos AS oldpos, (CASE WHEN (r // $PqM) % 2 = 0 THEN r % $PqM ELSE ${PqM - 1} - (r % $PqM) END) * $sub + (r // $PqM) AS newpos FROM prank)",
      "b AS (SELECT bid, list(rvec[oldpos + 1] ORDER BY newpos) AS be FROM rb, perm GROUP BY bid)",
      "q AS (SELECT qid, list(rvec[oldpos + 1] ORDER BY newpos) AS qe FROM rq, perm GROUP BY qid)",
      s"btrain AS (SELECT bid, be FROM b ORDER BY bid LIMIT $PqTrainCap)")
    (0 until PqM).foreach { s =>
      val (lo, hi) = (s * sub + 1, (s + 1) * sub)
      ctes += s"bs$s AS (SELECT bid, be[$lo:$hi] AS sv FROM b)"
      ctes += s"ts$s AS (SELECT bid, be[$lo:$hi] AS sv FROM btrain)"
      ctes += s"c${s}_0 AS (SELECT CAST(row_number() OVER (ORDER BY bid) - 1 AS INT) AS cid, sv AS ce FROM (SELECT bid, sv FROM ts$s ORDER BY bid LIMIT $PqK))"
      (1 to PqIters).foreach { i =>
        val d = pqL2("sv", "ce")
        ctes += s"a${s}_$i AS (SELECT bid, sv, cid, row_number() OVER (PARTITION BY bid ORDER BY $d, cid) AS rnk FROM ts$s, c${s}_${i - 1} QUALIFY rnk = 1)"
        ctes += s"e${s}_$i AS (SELECT cid, generate_subscripts(sv, 1) AS pos, CAST(unnest(sv) AS DOUBLE) AS x FROM a${s}_$i)"
        ctes += s"m${s}_$i AS (SELECT cid, pos, CAST(avg(x) AS FLOAT) AS mf FROM e${s}_$i GROUP BY cid, pos)"
        ctes += s"u${s}_$i AS (SELECT cid, list(mf ORDER BY pos) AS ce FROM m${s}_$i GROUP BY cid)"
        ctes += s"c${s}_$i AS (SELECT p.cid, coalesce(u${s}_$i.ce, p.ce) AS ce FROM c${s}_${i - 1} p LEFT JOIN u${s}_$i USING (cid))"
      }
      val d = pqL2("sv", "ce")
      ctes += s"code$s AS (SELECT bid, cid AS code, row_number() OVER (PARTITION BY bid ORDER BY $d, cid) AS rnk FROM bs$s, c${s}_$PqIters QUALIFY rnk = 1)"
    }
    ctes
  }

  private val pqRecallOracle = {
    val sub = PqDim / PqM
    val ctes = pqCommonCtes
    // ADC over the rotated/coded corpus (same wide-join shape as the ADC
    // oracle) keeps top-R per query; refine re-ranks those R rows with
    // exact distances over the RAW vectors; ground truth is raw exact kNN
    val codeJoins = (1 until PqM).map(s => s"JOIN code$s USING (bid)").mkString(" ")
    ctes += s"allcodes AS (SELECT code0.bid AS bid, ${(0 until PqM).map(s => s"code$s.code AS k$s").mkString(", ")} FROM code0 $codeJoins)"
    val cbJoins = (0 until PqM)
      .map(s => s"JOIN c${s}_$PqIters cb$s ON cb$s.cid = k$s").mkString(" ")
    ctes += s"wide AS (SELECT bid, ${(0 until PqM).map(s => s"cb$s.ce AS ce$s").mkString(", ")} FROM allcodes $cbJoins)"
    val distExpr = (0 until PqM).map { s =>
      val (lo, hi) = (s * sub + 1, (s + 1) * sub)
      pqL2(s"qe[$lo:$hi]", s"ce$s")
    }.mkString("(", " + ", ")")
    ctes += s"adc AS (SELECT qid, bid, $distExpr AS dist FROM q, wide)"
    ctes += s"cand AS (SELECT qid, bid FROM (SELECT qid, bid, row_number() OVER (PARTITION BY qid ORDER BY dist, bid) AS rnk FROM adc) WHERE rnk <= $PqRefine)"
    ctes += s"rer AS (SELECT cand.qid AS qid, cand.bid AS bid, ${pqL2("rawq.qe", "rawb.be")} AS d FROM cand JOIN rawq ON cand.qid = rawq.qid JOIN rawb ON cand.bid = rawb.bid)"
    ctes += s"ap AS (SELECT qid, bid, row_number() OVER (PARTITION BY qid ORDER BY d, bid) AS rnk FROM rer QUALIFY rnk <= $K)"
    ctes += s"gt AS (SELECT qid, bid, row_number() OVER (PARTITION BY qid ORDER BY ${pqL2("qe", "be")}, bid) AS rnk FROM rawq, rawb QUALIFY rnk <= $K)"
    s"""WITH ${ctes.mkString(",\n")},
       |hits AS (SELECT gt.qid, count(*) AS h FROM gt JOIN ap ON gt.qid = ap.qid AND gt.bid = ap.bid GROUP BY gt.qid),
       |per AS (SELECT q.qid, coalesce(h, 0) / $K.0 AS recall
       |        FROM (SELECT DISTINCT qid FROM q) q LEFT JOIN hits USING (qid))
       |SELECT round(avg(recall), 6) AS recall_at_k, count(*) AS n_queries FROM per""".stripMargin
  }

  // ---- PQ ADC: byte-domain top-k via per-subspace lookup tables ----------

  /** ADC top-k over OPQ-rotated PQ codes (Quantize.adcTopK): distances
    * are sums of per-subspace table lookups — same association order as
    * the oracle's list_sum over per-subspace l2 terms, so even the
    * doubles agree. Shares the memoized rotation/codebooks/codes with
    * the recall query (one training per suite). */
  private def pqAdcQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Quantize
    val (cb, codes, qP) = pqArtifacts(s, dir)
    KnnJoin.explodeRanks(Quantize.adcTopK(qP, codes, cb, K))
      .select(col("query_id"), col("rank"), col("base_id"),
        round(col("dist"), 6).as("dist"))
      .orderBy("query_id", "rank")
  }

  private val pqAdcOracle = {
    val sub = PqDim / PqM
    val ctes = pqCommonCtes
    // one wide row per bid carrying all m codebook entries, then a single
    // (qid × bid) scan with the m per-subspace l2 terms summed inline,
    // left-associated in subspace order — the same association as the
    // engine's lookup-table fold, and no m× intermediate materialization
    // (an exploded per-(qid,bid,subspace) terms table OOMs DuckDB at sf0.1)
    val codeJoins = (1 until PqM).map(s => s"JOIN code$s USING (bid)").mkString(" ")
    ctes += s"allcodes AS (SELECT code0.bid AS bid, ${(0 until PqM).map(s => s"code$s.code AS k$s").mkString(", ")} FROM code0 $codeJoins)"
    val cbJoins = (0 until PqM)
      .map(s => s"JOIN c${s}_$PqIters cb$s ON cb$s.cid = k$s").mkString(" ")
    ctes += s"wide AS (SELECT bid, ${(0 until PqM).map(s => s"cb$s.ce AS ce$s").mkString(", ")} FROM allcodes $cbJoins)"
    val distExpr = (0 until PqM).map { s =>
      val (lo, hi) = (s * sub + 1, (s + 1) * sub)
      pqL2(s"qe[$lo:$hi]", s"ce$s")
    }.mkString("(", " + ", ")")
    ctes += s"adc AS (SELECT qid, bid, $distExpr AS dist FROM q, wide)"
    ctes += s"r AS (SELECT qid, bid, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, bid) AS rnk FROM adc QUALIFY rnk <= $K)"
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT qid AS query_id, CAST(rnk AS INT) AS rank, bid AS base_id,
       |       round(dist, 6) AS dist
       |FROM r ORDER BY query_id, rank""".stripMargin
  }

  // ---- PQ-guided beam + exact refine (the DiskANN serving shape) ---------

  /** Exact top-k served through [[graft.ops.graph.PqGraphSearch]]: beam
    * over the session-shared RoarGraph scoring via ADC lookup tables on
    * the memoized OPQ codes, exact re-rank of the top-PqRefine survivors.
    * The beam runs EXHAUSTIVELY (l = n over the repair-guaranteed fully
    * reachable graph), which makes the output graph-independent — the
    * SQL-expressible projection of the operator (ADC scan top-R + exact
    * refine), so the row is oracle-green rather than rows-only; the
    * bounded-beam graph-traversal behavior is pinned by PqBeamSpec
    * (exhaustive-beam == adcTopK equality + recall/determinism gates)
    * and measured at soak scale by the TierCurves pq tier. */
  private def pqBeamQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Quantize
    import s.implicits._
    val (cb, codes, qP) = pqArtifacts(s, dir)
    val gi = QueriesGraph.memIndex(s, dir)
    val adjDf = gi.adj.zipWithIndex.toSeq
      .map { case (nbrs, i) => (gi.ids(i), nbrs.map(gi.ids(_))) }
      .toDF("src", "nbrs")
    val pqIdx = graft.ops.graph.PqGraphSearch.fromPrecomputed(
      adjDf, codes, cb, ep = gi.ids(gi.ep), metric = Metric.L2)
    val cand = graft.ops.graph.PqGraphSearch.searchApprox(
      pqIdx, qP, refineK = PqRefine, l = pqIdx.n)
    val refined = Quantize.refineTopK(cand, qSide(s, dir), bSide(s, dir), K)
    KnnJoin.explodeRanks(refined)
      .select(col("query_id"), col("rank"), col("base_id"),
        round(col("dist"), 6).as("dist"))
      .orderBy("query_id", "rank")
  }

  private val pqBeamOracle = {
    val sub = PqDim / PqM
    val ctes = pqCommonCtes
    // identical candidate stage to the refined-recall oracle (ADC top-R
    // over the rotated/coded corpus == the exhaustive beam's pool), then
    // the exact re-rank emitted as ranked rows
    val codeJoins = (1 until PqM).map(s => s"JOIN code$s USING (bid)").mkString(" ")
    ctes += s"allcodes AS (SELECT code0.bid AS bid, ${(0 until PqM).map(s => s"code$s.code AS k$s").mkString(", ")} FROM code0 $codeJoins)"
    val cbJoins = (0 until PqM)
      .map(s => s"JOIN c${s}_$PqIters cb$s ON cb$s.cid = k$s").mkString(" ")
    ctes += s"wide AS (SELECT bid, ${(0 until PqM).map(s => s"cb$s.ce AS ce$s").mkString(", ")} FROM allcodes $cbJoins)"
    val distExpr = (0 until PqM).map { s =>
      val (lo, hi) = (s * sub + 1, (s + 1) * sub)
      pqL2(s"qe[$lo:$hi]", s"ce$s")
    }.mkString("(", " + ", ")")
    ctes += s"adc AS (SELECT qid, bid, $distExpr AS dist FROM q, wide)"
    ctes += s"cand AS (SELECT qid, bid FROM (SELECT qid, bid, row_number() OVER (PARTITION BY qid ORDER BY dist, bid) AS rnk FROM adc) WHERE rnk <= $PqRefine)"
    ctes += s"rer AS (SELECT cand.qid AS qid, cand.bid AS bid, ${pqL2("rawq.qe", "rawb.be")} AS d FROM cand JOIN rawq ON cand.qid = rawq.qid JOIN rawb ON cand.bid = rawb.bid)"
    ctes += s"ap AS (SELECT qid, bid, d, row_number() OVER (PARTITION BY qid ORDER BY d, bid) AS rnk FROM rer QUALIFY rnk <= $K)"
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT qid AS query_id, CAST(rnk AS INT) AS rank, bid AS base_id,
       |       round(d, 6) AS dist
       |FROM ap ORDER BY query_id, rank""".stripMargin
  }

  // ---- 200-d PQ codes through the zero-padded OPQ path --------------------
  // The reference's primary dataset is 200-d (prepare_data.sh:22-28); the
  // padded-Hadamard path (opqRotate zero-pads 200 -> 256) was previously
  // covered only by a ScalaTest recall gate. This query pins the ENTIRE
  // padded chain (derive -> pad -> rotate -> permute -> train -> encode)
  // with a hash-checked integer-code oracle (VERDICT r5 task 8).

  private val Pq200SrcDim = 200
  private val Pq200Pad = 256
  private val Pq200M = 8 // 256-d padded -> 8 x 32-d subspaces
  private val Pq200K = 16
  private val Pq200TrainCap = 256

  /** 200-d vectors derived deterministically from the 64-d embeddings:
    * v200 = vec ++ (-vec) ++ (0.5f*vec) ++ vec[0:8]. Every piece is an
    * EXACT float transform (negation and scaling by a power of two are
    * rounding-free), so Spark and DuckDB compute bit-identical inputs. */
  private def vec200(df: DataFrame): DataFrame =
    df.select(col("id"), concat(
      col("vec"),
      transform(col("vec"), x => -x),
      transform(col("vec"), x => x * lit(0.5f)),
      slice(col("vec"), 1, 8)).as("vec"))

  private def pq200CodesQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Quantize
    val b200 = vec200(bSide(s, dir))
    // one partition by construction (GlobalLimit) — see pqTrainSet: the
    // cap bounds trainer work below task-scheduling cost of a spread
    val train = graft.ops.graph.PlanUtil.cutDF(
      b200.orderBy("id").limit(Pq200TrainCap))
    val rotTrain = Quantize.opqRotate(train, Pq200SrcDim)
    val perm = Quantize.opqPermutation(rotTrain, Pq200Pad, Pq200M)
    val trainP = Quantize.opqRotatePermuted(train, Pq200SrcDim, perm).cache()
    trainP.count() // materialize before the per-subspace re-scans
    val bP = Quantize.opqRotatePermuted(b200, Pq200SrcDim, perm).cache()
    // the base-corpus rotation is independent of the trainer (pqTrain
    // reads trainP only) — materialize it concurrently (guide §2.6)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fB = Future(bP.count())
    // await even on trainer failure (ADVICE r13) — see pqArtifacts
    val cb =
      try Quantize.pqTrain(trainP, Pq200M, Pq200K, iters = 1)
      finally Await.ready(fB, Duration.Inf)
    Await.result(fB, Duration.Inf)
    // Scalar k0..k7 columns rather than codes: array<int> — the driver's
    // oracle comparator sorts result columns with pandas before hashing,
    // and an array-typed column is unsortable there (r6 red row).
    Quantize.pqEncode(bP, cb, Pq200M, dim = Pq200Pad)
      .select(col("id") +:
        (0 until Pq200M).map(s =>
          element_at(col("codes"), s + 1).as(s"k$s")): _*)
      .orderBy("id")
  }

  private val pq200CodesOracle = {
    val sub = Pq200Pad / Pq200M
    val rotBody = s"CAST(list_sum(list_transform(list_zip(ve, hl), p -> CAST(p[1] AS DOUBLE) * p[2])) * ${1.0 / math.sqrt(Pq200Pad.toDouble)} AS FLOAT)"
    val ctes = scala.collection.mutable.ArrayBuffer(
      "raw0 AS (SELECT vec_id AS bid, embedding AS v FROM embeddings WHERE vec_id >= 20)",
      // v200 = v ++ (-v) ++ (0.5*v) ++ v[1:8], then zero-pad to 256
      "r200 AS (SELECT bid, list_concat(list_concat(list_concat(v, list_transform(v, x -> -x)), list_transform(v, x -> CAST(x * 0.5 AS FLOAT))), v[1:8]) AS v FROM raw0)",
      s"padded AS (SELECT bid, list_concat(v, list_transform(generate_series(1, ${Pq200Pad - Pq200SrcDim}), i -> CAST(0 AS FLOAT))) AS ve FROM r200)",
      s"hmat AS (SELECT i, list(hs ORDER BY j) AS hl FROM (SELECT i.range AS i, j.range AS j, (CASE WHEN bit_count(CAST(i.range AS BIGINT) & CAST(j.range AS BIGINT)) % 2 = 0 THEN 1.0 ELSE -1.0 END) * (CASE WHEN bit_count((CAST(j.range AS BIGINT) * 2654435761) & 65535) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS hs FROM range($Pq200Pad) i, range($Pq200Pad) j) GROUP BY i)",
      s"rb AS (SELECT bid, list(y ORDER BY i) AS rvec FROM (SELECT bid, i, $rotBody AS y FROM padded, hmat) GROUP BY bid)",
      s"rtrain AS (SELECT bid, rvec FROM rb ORDER BY bid LIMIT $Pq200TrainCap)",
      "pvar AS (SELECT pos - 1 AS pos, round(var_samp(CAST(x AS DOUBLE)), 6) AS v FROM (SELECT generate_subscripts(rvec, 1) AS pos, unnest(rvec) AS x FROM rtrain) GROUP BY pos)",
      "prank AS (SELECT pos, CAST(row_number() OVER (ORDER BY v DESC, pos) - 1 AS INT) AS r FROM pvar)",
      s"perm AS (SELECT pos AS oldpos, (CASE WHEN (r // $Pq200M) % 2 = 0 THEN r % $Pq200M ELSE ${Pq200M - 1} - (r % $Pq200M) END) * $sub + (r // $Pq200M) AS newpos FROM prank)",
      "b AS (SELECT bid, list(rvec[oldpos + 1] ORDER BY newpos) AS be FROM rb, perm GROUP BY bid)",
      s"btrain AS (SELECT bid, be FROM b ORDER BY bid LIMIT $Pq200TrainCap)")
    (0 until Pq200M).foreach { s =>
      val (lo, hi) = (s * sub + 1, (s + 1) * sub)
      ctes += s"bs$s AS (SELECT bid, be[$lo:$hi] AS sv FROM b)"
      ctes += s"ts$s AS (SELECT bid, be[$lo:$hi] AS sv FROM btrain)"
      ctes += s"c${s}_0 AS (SELECT CAST(row_number() OVER (ORDER BY bid) - 1 AS INT) AS cid, sv AS ce FROM (SELECT bid, sv FROM ts$s ORDER BY bid LIMIT $Pq200K))"
      val d = pqL2("sv", "ce")
      ctes += s"a${s}_1 AS (SELECT bid, sv, cid, row_number() OVER (PARTITION BY bid ORDER BY $d, cid) AS rnk FROM ts$s, c${s}_0 QUALIFY rnk = 1)"
      ctes += s"e${s}_1 AS (SELECT cid, generate_subscripts(sv, 1) AS pos, CAST(unnest(sv) AS DOUBLE) AS x FROM a${s}_1)"
      ctes += s"m${s}_1 AS (SELECT cid, pos, CAST(avg(x) AS FLOAT) AS mf FROM e${s}_1 GROUP BY cid, pos)"
      ctes += s"u${s}_1 AS (SELECT cid, list(mf ORDER BY pos) AS ce FROM m${s}_1 GROUP BY cid)"
      ctes += s"c${s}_1 AS (SELECT p.cid, coalesce(u${s}_1.ce, p.ce) AS ce FROM c${s}_0 p LEFT JOIN u${s}_1 USING (cid))"
      ctes += s"code$s AS (SELECT bid, cid AS code, row_number() OVER (PARTITION BY bid ORDER BY $d, cid) AS rnk FROM bs$s, c${s}_1 QUALIFY rnk = 1)"
    }
    val codeJoins = (1 until Pq200M).map(s => s"JOIN code$s USING (bid)").mkString(" ")
    ctes += s"allcodes AS (SELECT code0.bid AS bid, ${(0 until Pq200M).map(s => s"code$s.code AS k$s").mkString(", ")} FROM code0 $codeJoins)"
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT bid AS id, ${(0 until Pq200M).map(s => s"k$s").mkString(", ")}
       |FROM allcodes ORDER BY id""".stripMargin
  }

  // ---- IVF+PQ: coarse-pruned byte-domain scan + exact refine --------------

  /** Refine budget for the IVF+PQ composite: the probed lists hold ~
    * nprobe/|C| of the corpus, so a 10×k candidate set already dominates
    * the k-boundary noise the full-corpus chain needs 4k candidates for. */
  private val IvfPqRefine = 10 * K

  /** IVF+PQ top-k (FAISS IndexIVFPQ's serving shape): raw-space coarse
    * probe (nprobe of 8 fixed-id centroids — the rotation is orthogonal,
    * so raw-space probes select exactly the right lists for rotated-space
    * codes) → ADC scan over ONLY the probed lists' PQ codes → exact
    * re-rank of the top-$IvfPqRefine over the original vectors. Shares
    * the memoized rotation/codebooks/codes with the other PQ queries; the
    * whole chain (coarse assign + probe + relational ADC + refine) is
    * float-for-float hash-checked. At rest the codes table is partitioned
    * by centroid ([[graft.ops.Quantize.saveIvfPq]]) and the probe becomes
    * partition pruning over 16-byte rows. */
  private def ivfPqQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Quantize
    val (cb, codes, qP) = pqArtifacts(s, dir)
    val cents = centroids(s, dir)
    // coarse assignment read from the shared inverted-lists memo (same
    // deterministic table ann_ivf_topk scans) instead of re-running the
    // full-base argmin inside this plan
    val assignedCodes = ivfLists(s, dir)
      .select(col("centroid_id"), col("base_id").as("id"))
      .join(codes, "id")
    val probes = AnnSearch.probeCentroids(qSide(s, dir), cents, NProbe)
    // kernel ADC (ivfAdcTopKKernel, result-identical, IvfPqSpec-gated) —
    // the same engine/oracle relationship as ann_pq_adc_topk, which has
    // always served the kernel adcTopK: the relational composite embeds
    // the m×k×subDim codebook as a 16k-float literal, making a ~485 KB
    // plan whose analysis/canonicalization walks dominated the query's
    // steady wall, and its per-row distance is an interpreted HOF fold.
    // ivfAdcTopK remains the DuckDB-mirroring form (IvfPqSpec pins
    // equality); the oracle hash is checked on this query's output as
    // before.
    val cand = Quantize.ivfAdcTopKKernel(probes, qP, assignedCodes, cb,
      IvfPqRefine)
    val refined = Quantize.refineTopK(cand, qSide(s, dir), bSide(s, dir), K)
    KnnJoin.explodeRanks(refined)
      .select(col("query_id"), col("rank"), col("base_id"),
        round(col("dist"), 6).as("dist"))
      .orderBy("query_id", "rank")
  }

  private val ivfPqOracle = {
    val sub = PqDim / PqM
    val ctes = pqCommonCtes
    // coarse IVF in RAW space: fixed-id centroids, nearest-centroid
    // assignment of base rows, nprobe nearest centroids per query — the
    // same CTE shapes as the plain-IVF oracle, over rawb/rawq
    ctes += s"cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id BETWEEN $CentroidLo AND $CentroidHi)"
    ctes += s"assign AS (SELECT bid, cid, row_number() OVER (PARTITION BY bid ORDER BY ${pqL2("be", "ce")}, cid) AS crnk FROM rawb, cents QUALIFY crnk = 1)"
    ctes += s"probes AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY ${pqL2("qe", "ce")}, cid) AS prnk FROM rawq, cents QUALIFY prnk <= $NProbe)"
    // rotated-space ADC restricted to the probed lists (same wide-join
    // shape as the full-corpus ADC oracle)
    val codeJoins = (1 until PqM).map(s => s"JOIN code$s USING (bid)").mkString(" ")
    ctes += s"allcodes AS (SELECT code0.bid AS bid, ${(0 until PqM).map(s => s"code$s.code AS k$s").mkString(", ")} FROM code0 $codeJoins)"
    val cbJoins = (0 until PqM)
      .map(s => s"JOIN c${s}_$PqIters cb$s ON cb$s.cid = k$s").mkString(" ")
    ctes += s"wide AS (SELECT bid, ${(0 until PqM).map(s => s"cb$s.ce AS ce$s").mkString(", ")} FROM allcodes $cbJoins)"
    val distExpr = (0 until PqM).map { s =>
      val (lo, hi) = (s * sub + 1, (s + 1) * sub)
      pqL2(s"qe[$lo:$hi]", s"ce$s")
    }.mkString("(", " + ", ")")
    ctes += s"adc AS (SELECT qid, bid, $distExpr AS dist FROM q JOIN probes USING (qid) JOIN assign USING (cid) JOIN wide USING (bid))"
    ctes += s"cand AS (SELECT qid, bid FROM (SELECT qid, bid, row_number() OVER (PARTITION BY qid ORDER BY dist, bid) AS rnk FROM adc) WHERE rnk <= $IvfPqRefine)"
    ctes += s"rer AS (SELECT cand.qid AS qid, cand.bid AS bid, ${pqL2("rawq.qe", "rawb.be")} AS d FROM cand JOIN rawq ON cand.qid = rawq.qid JOIN rawb ON cand.bid = rawb.bid)"
    ctes += s"ap AS (SELECT qid, bid, d, row_number() OVER (PARTITION BY qid ORDER BY d, bid) AS rnk FROM rer QUALIFY rnk <= $K)"
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT qid AS query_id, CAST(rnk AS INT) AS rank, bid AS base_id,
       |       round(d, 6) AS dist
       |FROM ap ORDER BY query_id, rank""".stripMargin
  }

  /** Bench hook: materialize the session-shared artifacts (PQ rotation/
    * codebooks/codes and the exact-kNN ground truth) so the bench's
    * per-query walls measure each query's own work — the one-time shared
    * cost is timed and reported as its own bench field instead of landing
    * on whichever family member happens to run first (VERDICT r5 #3: the
    * PQ chain's shared setup made ann_pq_recall the slowest entry two
    * rounds running while its siblings read the memo for free). */
  private[graft] def materializeShared(s: SparkSession, dir: String): Unit = {
    val (cb, codes, qP) = pqArtifacts(s, dir)
    cb.count(); codes.count(); qP.count()
    exactGt(s, dir)
    ivfLists(s, dir)
    ()
  }

  // ---- registry -----------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_lsh_topk" -> (lshTopKQuery _),
    "ann_lsh_recall" -> (lshRecallQuery _),
    "ann_ivf_topk" -> (ivfTopKQuery _),
    "ann_kmeans_centroids" -> (kmeansQuery _),
    "ann_sq8_recall" -> (sq8RecallQuery _),
    "ann_pq_recall" -> (pqRecallQuery _),
    "ann_pq_adc_topk" -> (pqAdcQuery _),
    "ann_pq_beam_topk" -> (pqBeamQuery _),
    "ann_pq200_codes" -> (pq200CodesQuery _),
    "ann_ivfpq_topk" -> (ivfPqQuery _),
  )

  val oracles: Map[String, String] = Map(
    "ann_lsh_topk" -> lshTopKOracle,
    "ann_lsh_recall" -> lshRecallOracle,
    "ann_ivf_topk" -> ivfTopKOracle,
    "ann_kmeans_centroids" -> kmeansOracle,
    "ann_sq8_recall" -> sq8RecallOracle,
    "ann_pq_recall" -> pqRecallOracle,
    "ann_pq_adc_topk" -> pqAdcOracle,
    "ann_pq_beam_topk" -> pqBeamOracle,
    "ann_pq200_codes" -> pq200CodesOracle,
    "ann_ivfpq_topk" -> ivfPqOracle,
  )
}
