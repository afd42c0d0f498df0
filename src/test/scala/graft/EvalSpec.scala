package graft

import graft.core.Metric
import graft.eval.Eval

class EvalSpec extends SparkSpec {
  import spark.implicits._

  test("relativeDistError un-negates inner-product and cosine distances") {
    def err(res: Seq[Double], gt: Seq[Double], metric: String): Double =
      Eval.relativeDistError(Seq((1L, res)).toDF("query_id", "dists"),
        Seq((1L, gt)).toDF("query_id", "dists"), 2, Metric.fromString(metric))
        .head().getDouble(0)
    // IP: -d -> 0.9 and 0.8 against 1.0 and 0.8
    assert(math.abs(err(Seq(-0.9, -0.8), Seq(-1.0, -0.8), "IP") - 0.05) < 1e-12)
    // cosine: 2 * (1 + d) -> 0.8 and 1.0 against 0.4 and 1.0
    assert(math.abs(err(Seq(-0.6, -0.5), Seq(-0.8, -0.5), "cos") - 0.5) < 1e-12)
    assert(math.abs(err(Seq(1.5, 2.0), Seq(1.0, 2.0), "l2") - 0.25) < 1e-12)
  }
}
