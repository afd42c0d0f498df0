package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The staged SQ8 round trip: encode to codes, then decode them.
  * `SamplingQuantizeSpec` holds `Quantize.sq8EncodeDecode` to
  * `decode(encode(v, bounds)) cast float` bit for bit, and bounds the
  * round-trip error through it. */
object Sq8Oracle {

  /** code_d = round(255 * (x_d - lo_d) / (hi_d - lo_d)), constant dims → 0.
    * `bounds` is `Quantize.sq8Bounds`. Output (id, codes: array<int> 0..255). */
  def encode(vectors: DataFrame, bounds: DataFrame): DataFrame = {
    val ex = vectors.select(col("id"), posexplode(col("vec")).as(Seq("pos", "x")))
    ex.join(broadcast(bounds), "pos")
      .select(col("id"), col("pos"),
        when(col("hi") > col("lo"),
          round(lit(255.0) * (col("x").cast("double") - col("lo"))
            / (col("hi") - col("lo"))).cast("int"))
          .otherwise(lit(0)).as("code"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("pos"), col("code")))).as("cs"))
      .select(col("id"), transform(col("cs"), _("code")).as("codes"))
  }

  /** Decode a codes column back to doubles given aligned lo/hi arrays. */
  def decode(codes: Column, lo: Column, hi: Column): Column =
    zip_with(codes, zip_with(lo, hi, (l, h) => struct(l.as("l"), h.as("h"))),
      (c, b) => b("l") + (c.cast("double") / 255.0) * (b("h") - b("l")))
}
