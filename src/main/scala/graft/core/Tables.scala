package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's testdata tables (TESTDATA.md). */
object Tables {
  /** One DataFrame per (session, table): `spark.read.parquet` starts a
    * schema-inference job, so each table pays it once per session. */
  private val memo = new graft.queries.SessionMemo[DataFrame]

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    memo.getOrElseUpdate(spark, path)(spark.read.parquet(path))
  }

  /** embeddings.parquet normalized to the engine's vector-table shape
    * (id: long, vec: array<float>, label) — SURVEY.md §1.1. */
  def vectors(spark: SparkSession, sfDir: String): DataFrame =
    apply(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    apply(spark, sfDir, "documents")

  def events(spark: SparkSession, sfDir: String): DataFrame =
    apply(spark, sfDir, "events")
}
