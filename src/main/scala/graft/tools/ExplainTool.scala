package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Dump the formatted physical plan of registered queries — the
  * `.explain("formatted")` audit loop as a tool:
  *
  * {{{ runMain graft.tools.ExplainTool <sfDir> [queryName ...] }}}
  *
  * No args after sfDir → a representative set covering each plan family.
  */
object ExplainTool {
  val Representative = Seq(
    "tpch_q3_top_revenue",  // broadcast dimension joins
    "dedup_exact",          // hash-keyed shuffle, partial aggregation
    "ann_lsh_topk",         // bucket-keyed join + bounded top-k aggregation
    "ann_ivf_topk",         // broadcast centroid kernel (no exchange)
    "vec_centroid",         // posexplode + keyed aggregate
    "vec_mean_pool",        // array-summing partial/final aggregate
    "text_quality")         // pure codegen'd column expressions

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else Representative
    val spark = Tools.session()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // finalize AQE
      println(s"==== $name ====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
