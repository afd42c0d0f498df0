package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Exact dedup here; MinHash-LSH / SimHash / n-gram-Jaccard near-dup live in
  * [[NearDup]]. Exact dedup is a single hash-keyed shuffle: group by a
  * content hash, keep the min-id representative — at 100 TB this is the
  * cheapest possible full-corpus pass (one shuffle of (hash, id) pairs, the
  * text itself never shuffles).
  */
object Dedup {

  /** Group documents by exact content hash. Output one row per distinct
    * content: (text_hash, n_dups, keep_id = min id). */
  def exactGroups(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame =
    docs
      .select(md5(col(textCol).cast("binary")).as("text_hash"), col(idCol))
      .groupBy("text_hash")
      .agg(count("*").as("n_dups"), min(col(idCol)).as("keep_id"))

  /** The deduplicated id set: every id that is its content-group's keeper. */
  def dedupIds(docs: DataFrame, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame =
    exactGroups(docs, textCol, idCol).select(col("keep_id").as(idCol))
}
