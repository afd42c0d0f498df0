package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable

import graft.SparkEntry
import graft.queries.{QueriesAnn, QueriesGraph}
import org.apache.spark.sql.Row

/** Queries of the engine's query suite over the committed sf0.001
  * fixture: the shared ANN and graph artifacts, built one after the other,
  * then three passes over the exact kNN joins and the graph family, which
  * is served from those artifacts. Inputs are tiny, so the time goes to
  * Spark job latency, planning and codegen. The fixture is fixed; the seed
  * does not apply. */
final class QuerySuite extends Workload {
  val name = "query_suite"

  /** The exact kNN-join queries: the `knn` phase of each pass. */
  val knnQueries = Seq("knn_l2", "knn_ip", "knn_cosine")
  /** The `serve` phase of each pass: the graph family (bipartite and
    * RoarGraph build, search and recall), which reads the indexes and the
    * ground truth the `build` phase makes. The other families are left
    * out to keep a run inside the benchmark's run-length budget. */
  val served: Seq[String] = QueriesGraph.queries.keys.toSeq.sorted
  /** Passes over the queries. The first is cold (codegen, first plans)
    * and is reported on its own; each metric is the median over the warm
    * passes after it. */
  val passes = 3
  /** The query whose recall@10 is the workload's recall metric: the
    * in-memory RoarGraph index searched at L_pq = 100. */
  val recallQuery = "roargraph_search_recall"

  private def fixture(ctx: Ctx) = s"${ctx.benchDir}/fixture/sf0.001"
  private def expectedPath(ctx: Ctx) = s"${ctx.benchDir}/expected/query_suite.tsv"

  def sizes: Seq[(String, Any)] = Seq("fixture" -> "sf0.001",
    "queries" -> (knnQueries.size + served.size))

  /** Open the fixture's one table (footer and schema); the queries read
    * it themselves. */
  def prepare(ctx: Ctx): Unit =
    ctx.spark.read.parquet(s"${fixture(ctx)}/embeddings.parquet").schema

  def warmUp(ctx: Ctx): Unit = {
    ctx.spark.range(100000).selectExpr("sum(id)").collect()
    ctx.spark.read.parquet(s"${fixture(ctx)}/embeddings.parquet").count()
  }

  /** name -> (wall seconds, rows, checksum) of each run of the query */
  private val results = mutable.LinkedHashMap[String, mutable.ArrayBuffer[(Double, Long, String)]]()
  private var recall = Double.NaN

  /** Run one query to a collected result: the rows a user receives. */
  private def runQuery(ctx: Ctx, q: String): Unit = {
    val t0 = System.nanoTime()
    val rows = ctx.out.op(q)(SparkEntry.queries(q)(ctx.spark, fixture(ctx)).collect())
    val s = (System.nanoTime() - t0) / 1e9
    rows.foreach { r =>
      results.getOrElseUpdate(q, mutable.ArrayBuffer()) += ((s, r.length.toLong, QuerySuite.checksum(r)))
      if (q == recallQuery) recall = r.head.getAs[Double]("recall_at_k")
    }
  }

  def run(ctx: Ctx): Unit = {
    val p = ctx.probe
    val dir = fixture(ctx)
    val laps = new java.io.ByteArrayOutputStream()
    var annS, graphS = 0.0
    val (_, buildS) = p.phase("build") {
      val t0 = System.nanoTime()
      ctx.out.op("shared_ann")(QueriesAnn.materializeShared(ctx.spark, dir))
      val t1 = System.nanoTime()
      Console.withOut(new java.io.PrintStream(laps, true)) {
        ctx.out.op("shared_graph")(QueriesGraph.materializeShared(ctx.spark, dir))
      }
      annS = (t1 - t0) / 1e9
      graphS = (System.nanoTime() - t1) / 1e9
    }
    System.err.print(laps.toString)
    val walls = (1 to passes).map { _ =>
      val (_, knnS) = p.phase("knn")(knnQueries.foreach(runQuery(ctx, _)))
      val (_, serveS) = p.phase("serve")(served.foreach(runQuery(ctx, _)))
      (knnS, serveS)
    }
    p.heapPhase()
    val o = ctx.out
    val knnS = Stats.median(walls.tail.map(_._1))
    val serveS = Stats.median(walls.tail.map(_._2))
    val knnRows = knnQueries.flatMap(results.get).map(_.head._2).sum
    o.e2e("build_s") = buildS
    o.e2e("serve_qps") = served.size / serveS
    o.e2e("knn_qps") = knnRows / QuerySuite.K / knnS
    o.e2e("recall_at_10") = recall
    o.detail("layers") = mutable.LinkedHashMap[String, Any](
      "queries.shared_ann_s" -> annS, "queries.shared_graph_s" -> graphS,
      "queries.cold_s" -> (buildS + walls.head._1 + walls.head._2),
      "queries.knn_s" -> knnS, "queries.serve_s" -> serveS,
      "queries.knn_pass_s" -> walls.map(_._1), "queries.serve_pass_s" -> walls.map(_._2)) ++
      QuerySuite.distBuildLaps(laps.toString) ++
      results.toSeq.sortBy(_._1).flatMap { case (q, runs) =>
        Seq(s"q.${q}_cold_s" -> runs.head._1, s"q.${q}_s" -> Stats.median(runs.tail.map(_._1).toSeq))
      }
  }

  def verify(ctx: Ctx): Unit = {
    val expected = QuerySuite.readExpected(expectedPath(ctx))
    (knnQueries ++ served).foreach { q =>
      (results.get(q), expected.get(q)) match {
        case (Some(runs), Some((eRows, eSum))) => runs.foreach { case (_, rows, sum) =>
          ctx.out.check(s"$q.rows", rows == eRows, s"$rows rows, expected $eRows")
          ctx.out.check(s"$q.checksum", sum == eSum, s"checksum $sum, expected $eSum")
        }
        case (None, _) => ctx.out.check(q, ok = false, "no result")
        case (_, None) => ctx.out.check(q, ok = false, "no committed expectation")
      }
    }
  }

  /** Write the expectations file from this run's results (used once, on
    * the seed code, to create the committed expectations). */
  override def record(path: String): Unit = {
    val lines = results.toSeq.sortBy(_._1).map { case (q, runs) =>
      s"$q\t${runs.head._2}\t${runs.head._3}"
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object QuerySuite {
  val K = 10

  /** DistRoarGraphBuilder's `[dist-build] <phase> <s> s` stdout lines
    * as build.dist.<phase>_s. */
  def distBuildLaps(log: String): Seq[(String, Double)] = {
    val lap = """\[dist-build\] (centroid\+ep|phase1-forward|phase1-reverse|phase2-selfsearch|phase2-supply-merge|repair) ([0-9.]+) s""".r
    log.linesIterator.collect { case lap(n, s) =>
      s"build.dist.${n.replaceAll("[+-]", "_")}_s" -> s.toDouble
    }.toSeq
  }

  /** Order-insensitive checksum of a result: each row is rendered with
    * floating-point values rounded to 6 significant digits, hashed with
    * MD5, and the first 8 bytes of each hash are summed modulo 2^64. */
  def checksum(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    var acc = 0L
    rows.foreach { r =>
      val h = md.digest(render(r).getBytes(StandardCharsets.UTF_8))
      acc += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    f"$acc%016x"
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (a, b) => render(a) + "->" + render(b) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6)).stripTrailingZeros.toString

  def readExpected(path: String): Map[String, (Long, String)] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).map(_.split("\t")).map { a =>
        a(0) -> (a(1).toLong, a(2))
      }.toMap
}
