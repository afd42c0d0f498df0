package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for training-data pipelines: MinHash+LSH,
  * SimHash, n-gram Jaccard. All hashing is engine-defined and deterministic
  * (polynomial rolling hashes with literal constants) so every stage is
  * expressible identically in any SQL engine — the DuckDB oracles in
  * QueriesDedup are generated from the same constants.
  *
  * Scale design: per-doc signatures are single-pass column expressions
  * (codegen'd higher-order functions, no UDFs, no shuffle); candidate
  * generation shuffles only (band_key, doc_id) pairs — never document text;
  * exact Jaccard runs only on LSH candidates, so the cross-product is
  * avoided entirely. This is the standard 100 TB dedup shape (the
  * MinHashLSH pattern of Broder'97 / Spark MLlib, re-expressed relationally).
  */
object NearDup {

  // ---- shared constants (mirrored into oracle SQL) -----------------------

  val ShingleSize = 3
  val HashMod = 1000000007L       // prime modulus for all poly hashes
  val CharBase = 31L              // char-level rolling base (= fingerprint's)
  /** (a, b) per MinHash function h_i(x) = (a*x + b) mod HashMod. */
  val MinHashParams: Seq[(Long, Long)] = Seq(
    (3L, 17L), (5L, 101L), (7L, 281L), (11L, 499L),
    (13L, 683L), (17L, 907L), (19L, 1151L), (23L, 1373L))
  val Bands = 4                   // 4 bands x 2 rows over the 8 minhashes
  val RowsPerBand = 2
  val SimHashBits = 24            // simhash width (fits comfortably in i64)
  // 3 x 8-bit chunks: 256 bucket values per chunk keeps candidate blowup
  // low; pigeonhole guarantees full recall for hamming <= chunks-1 = 2
  val SimHashChunks = 3
  /** Bucket-skew guard: buckets larger than this are decomposed into
    * block-pair tasks of at most 2×MaxBucketSize members each, so the
    * largest bucket never becomes a single straggler task (the all-pairs
    * work is O(bucket²) — one hot bucket would otherwise serialize the
    * whole stage). */
  val MaxBucketSize = 256

  // ---- building blocks ----------------------------------------------------

  /** Character-level polynomial hash of a string column, mod HashMod —
    * native codegen expression (one fused loop, no per-char array); the
    * HOF formulation it replaced is kept as [[hofCharHash]] for the
    * equivalence spec and as documentation of the oracle-mirrored
    * semantics. */
  def charHash(s: Column): Column = graft.functions.CharPolyHash.column(s)

  /** The higher-order-function form (what the DuckDB oracle mirrors). */
  def hofCharHash(s: Column): Column =
    aggregate(transform(split(s, ""), c => ascii(c).cast("long")),
      lit(0L), (acc, x) => (acc * CharBase + x) % HashMod)

  /** Distinct word-`n`-gram shingle hashes over a TOKEN ARRAY column
    * (sorted for determinism); shingle = space-joined n-gram.
    *
    * `toks` must be a materialized column (not an inline `split(...)`
    * expression): the per-index lambda references it once per shingle, and
    * Spark's subexpression elimination does not cross lambda boundaries —
    * an inline split would re-tokenize the document once PER SHINGLE
    * (~200× amplification on real text). [[signatures]] projects the
    * token array first for exactly this reason. */
  def shingleHashesFromTokens(toks: Column, n: Int = ShingleSize): Column = {
    val cnt = size(toks) - (n - 1)
    // guard: sequence(1, 0) would count DOWN in Spark, not produce empty
    val shingleStrs = when(cnt >= 1,
      transform(sequence(lit(1), cnt), i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    sort_array(array_distinct(transform(shingleStrs, charHash _)))
  }

  /** MinHash signature: array of min((a_i*x + b_i) mod M) over shingles. */
  def minHashSignature(shingles: Column): Column =
    array(MinHashParams.map { case (a, b) =>
      array_min(transform(shingles, x => (x * a + b) % HashMod))
    }: _*)

  /** Per-doc signatures: (idCol, shingles, sig). Tokenization, shingle
    * hashing, and the signature are separate projections so no expensive
    * subexpression lands inside a lambda (each stage reads the previous
    * stage's materialized column). */
  def signatures(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), split(col(textCol), " ").as("_toks"))
      .select(col(idCol),
        shingleHashesFromTokens(col("_toks")).as("shingles"))
      .withColumn("sig", minHashSignature(col("shingles")))

  /** Block-pair decomposition of per-bucket pair generation — the skew
    * guard shared by MinHash-LSH and SimHash candidates. Members of a
    * bucket (identified by `keys`) are assigned to `ceil(bucketSize /
    * maxBucket)` blocks by id hash, and every member is replicated to each
    * unordered block pair (blo, bhi) it belongs to. Pair generation then
    * runs per (bucket, blo, bhi) group — at most 2×maxBucket members per
    * task — so a hot bucket of size b becomes ~(b/maxBucket)² bounded
    * tasks instead of one O(b²) straggler. Id hash (not a hash of the
    * remaining signature bits) keeps blocks even in the adversarial
    * all-identical-documents corpus, where content-derived bits collide
    * by definition. Every within-bucket pair lands in exactly one group:
    * (blockOf(x), blockOf(y)) sorted. Output columns: `keys`, blo, bhi,
    * m (payload struct + blk). */
  private[graft] def blockPairGroups(banded: DataFrame, keys: Seq[String],
                                     idCol: String, payload: Column,
                                     maxBucket: Int): DataFrame = {
    val keyCols = keys.map(col)
    val counts = banded.groupBy(keyCols: _*).agg(count(lit(1)).as("bsz"))
    banded.join(counts, keys)
      .withColumn("nblk", ceil(col("bsz") / lit(maxBucket)).cast("int"))
      .withColumn("blk", pmod(hash(col(idCol)), col("nblk")).cast("int"))
      .withColumn("other", explode(sequence(lit(0), col("nblk") - 1)))
      .select(keyCols ++ Seq(
        least(col("blk"), col("other")).as("blo"),
        greatest(col("blk"), col("other")).as("bhi"),
        payload.as("m")): _*)
  }

  /** LSH candidate pairs: docs sharing at least one band key.
    * Output (id_a, id_b) with id_a < id_b, distinct. Shuffles only
    * (band, key, id) triples — the text never moves; oversized buckets
    * are decomposed into bounded block-pair tasks (no single-task
    * stragglers on hot bands). */
  def lshCandidates(sigs: DataFrame, idCol: String = "doc_id",
                    maxBucket: Int = MaxBucketSize): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    val banded = sigs.select(
      col(idCol),
      posexplode(array((0 until Bands).map { bnd =>
        // band key packs the band's rows into one i64: r0 * M + r1 < 2^63
        (0 until RowsPerBand).map(r => col("sig")(bnd * RowsPerBand + r))
          .reduceLeft((acc, x) => acc * HashMod + x)
      }: _*)).as(Seq("band", "key")))
    blockPairGroups(banded, Seq("band", "key"), idCol,
      struct(col(idCol).as("id"), col("blk")), maxBucket)
      .groupBy("band", "key", "blo", "bhi")
      .agg(collect_list(col("m")).as("members"))
      .select(col("blo") === col("bhi"), col("members"))
      .as[(Boolean, Seq[(Long, Int)])]
      .flatMap { case (sameBlock, ms) =>
        if (sameBlock) {
          val arr = ms.iterator.map(_._1).toArray.sorted
          for {
            i <- arr.indices.iterator
            j <- (i + 1) until arr.length
          } yield (arr(i), arr(j))
        } else {
          // cross-block group: members of the two blocks; blo members
          // pair with bhi members (each unordered pair exactly once)
          val loBlk = ms.iterator.map(_._2).min
          val lo = ms.iterator.filter(_._2 == loBlk).map(_._1).toArray
          val hi = ms.iterator.filter(_._2 != loBlk).map(_._1).toArray
          for {
            a <- lo.iterator
            b <- hi.iterator
          } yield (math.min(a, b), math.max(a, b))
        }
      }.distinct()
      .toDF("id_a", "id_b")
  }

  /** Exact n-gram Jaccard on given pairs; keeps pairs ≥ `threshold`.
    * Output (id_a, id_b, jaccard). */
  def jaccardOnPairs(pairs: DataFrame, sigs: DataFrame, threshold: Double,
                     idCol: String = "doc_id"): DataFrame = {
    val sa = sigs.select(col(idCol).as("id_a"), col("shingles").as("sh_a"))
    val sb = sigs.select(col(idCol).as("id_b"), col("shingles").as("sh_b"))
    pairs.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** MinHash-LSH near-dup pipeline: signatures → banded candidates → exact
    * Jaccard verification. The canonical large-corpus near-dedup. */
  def minHashLsh(docs: DataFrame, threshold: Double = 0.5,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // signatures are referenced 4x downstream (both join sides of candidate
    // generation and of verification); materialize once — cutDF's
    // checkpoint blocks are GC-managed, unlike a never-unpersisted cache
    val sigs = graft.ops.graph.PlanUtil.cutDF(signatures(docs, textCol, idCol))
    jaccardOnPairs(lshCandidates(sigs, idCol), sigs, threshold, idCol)
  }

  // ---- SimHash ------------------------------------------------------------

  /** Per-doc SimHash over token-level char hashes: bit b of the fingerprint
    * is set iff tokens with bit b set are the (weak) majority.
    *
    * Single-pass: ONE aggregate whose accumulator carries all SimHashBits
    * counters plus the token count, so each token is char-hashed exactly
    * once. (The naive per-bit formulation — one aggregate per bit — builds
    * SimHashBits copies of the token-hash subtree, and Spark's
    * common-subexpression elimination does not cross higher-order-function
    * lambda boundaries: it re-hashed every token 24×.) */
  def simHash(text: Column): Column = {
    val th = transform(split(text, " "), charHash _)
    val zero = struct(
      array_repeat(lit(0L), SimHashBits).as("c"), lit(0L).as("n"))
    aggregate(
      th,
      zero,
      (acc, h) => struct(
        array((0 until SimHashBits).map { b =>
          acc("c")(b) + shiftright(h, b).bitwiseAND(lit(1L))
        }: _*).as("c"),
        (acc("n") + 1L).as("n")),
      acc => (0 until SimHashBits).map { b =>
        when(acc("c")(b) * 2 >= acc("n"), lit(1L << b)).otherwise(lit(0L))
      }.reduceLeft(_ + _))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`.
    * Candidates via chunk-subset banding (pigeonhole: distance ≤ h leaves
    * at least chunks−h chunks equal, so banding on every (chunks−h)-chunk
    * subset covers every qualifying pair exactly; distances above
    * chunks−1 may be missed — the standard SimHash recall/cost trade).
    * Pair generation + hamming filter run inside bounded block-pair
    * groups (see [[blockPairGroups]]) so the candidate cross-product
    * never hits an exchange AND a hot bucket never becomes one straggler
    * task. */
  def simHashPairs(docs: DataFrame, maxHamming: Int = SimHashChunks - 1,
                   textCol: String = "text", idCol: String = "doc_id",
                   maxBucket: Int = MaxBucketSize): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bitsPerChunk = SimHashBits / SimHashChunks
    // the simhash expression (24 bit-count aggregates over token hashes) is
    // the expensive single-pass stage; the block decomposition references
    // the banded table twice (bucket counts + members), so materialize the
    // per-doc signatures once — 2 longs per doc, not the text
    // materialized once (2 longs per doc) — PlanUtil.cutDF instead of
    // persist(): checkpoint blocks are GC-managed (no unpersist-never-called
    // cache entry accumulating across invocations)
    val sh = graft.ops.graph.PlanUtil.cutDF(
      docs.select(col(idCol), simHash(col(textCol)).as("simhash")))
    val chunkExprs = (0 until SimHashChunks).map { c =>
      shiftright(col("simhash"), c * bitsPerChunk)
        .bitwiseAND(lit((1L << bitsPerChunk) - 1))
    }
    // pigeonhole, used at full tightness: a pair at hamming <= maxHamming
    // differs in at most maxHamming chunks, so it SHARES at least
    // (chunks - maxHamming) chunks — band on every subset of that size
    // (key = the subset's chunk values packed into one i64). maxHamming =
    // chunks-1 degenerates to the classic single-chunk banding; tighter
    // budgets get proportionally tighter candidate sets for free. The
    // banded row count per doc is C(chunks, comboSize) (= 3 for both
    // settings at 3 chunks); coverage is exact either way, only the
    // spurious-collision volume changes (measured at sf0.1, maxHamming=1:
    // raw pair checks 4.25M -> see OPTIMIZATION_r14.md item 8).
    val comboSize = math.max(1, SimHashChunks - maxHamming)
    require(comboSize * bitsPerChunk < 63,
      s"packed combo key overflows i64: $comboSize x $bitsPerChunk bits")
    val comboKeys = (0 until SimHashChunks).combinations(comboSize).toSeq
      .map(_.map(chunkExprs).reduceLeft((acc, x) =>
        acc * lit(1L << bitsPerChunk) + x))
    val banded = sh.select(col(idCol), col("simhash"),
      posexplode(array(comboKeys: _*)).as(Seq("chunk", "key")))
    blockPairGroups(banded, Seq("chunk", "key"), idCol,
      struct(col(idCol).as("id"), col("simhash").as("sh"), col("blk")),
      maxBucket)
      .groupBy("chunk", "key", "blo", "bhi")
      .agg(collect_list(col("m")).as("members"))
      .select(col("blo") === col("bhi"), col("members"))
      .as[(Boolean, Seq[(Long, Long, Int)])]
      .flatMap { case (sameBlock, ms) =>
        if (sameBlock) {
          val arr = ms.sortBy(_._1).toArray
          for {
            i <- arr.indices.iterator
            j <- (i + 1) until arr.length
            h = java.lang.Long.bitCount(arr(i)._2 ^ arr(j)._2)
            if h <= maxHamming
          } yield (arr(i)._1, arr(j)._1, h)
        } else {
          val loBlk = ms.iterator.map(_._3).min
          val lo = ms.filter(_._3 == loBlk).sortBy(_._1).toArray
          val hi = ms.filter(_._3 != loBlk).sortBy(_._1).toArray
          for {
            a <- lo.iterator
            b <- hi.iterator
            h = java.lang.Long.bitCount(a._2 ^ b._2)
            if h <= maxHamming
          } yield (math.min(a._1, b._1), math.max(a._1, b._1), h)
        }
      }.distinct()
      .toDF("id_a", "id_b", "hamming")
      .withColumn("hamming", col("hamming").cast("int"))
  }
}
