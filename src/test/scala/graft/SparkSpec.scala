package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** The (id, vec) rows of `df`, by id. */
  def vecRows(df: DataFrame): Array[(Long, Array[Float])] = {
    import spark.implicits._
    df.select(col("id").cast("long"), col("vec")).as[(Long, Array[Float])]
      .collect().sortBy(_._1)
  }

  /** `rows` as an (id, vec) DataFrame of `nParts` partitions, row i in
    * partition `partOf(i)`, built without a shuffle. */
  def spread(rows: Array[(Long, Array[Float])], nParts: Int)(
      partOf: Int => Int): DataFrame = {
    import spark.implicits._
    val placed = rows.indices.map(i => (partOf(i), rows(i)))
    spark.sparkContext.parallelize(0 until nParts, nParts)
      .mapPartitionsWithIndex((p, _) =>
        placed.iterator.collect { case (`p`, r) => r })
      .toDF("id", "vec")
  }

  /** Jobs started and shuffle bytes written while `body` runs. */
  def jobsAndShuffle(body: => Any): (Int, Long) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val shuffle = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          shuffle.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.ListenerBusDrain(sc) }
    finally sc.removeSparkListener(listener)
    (jobs.get, shuffle.get)
  }

  /** The message of the first IllegalArgumentException in the cause chain
    * of what `body` throws (a task failure arrives wrapped by Spark). */
  def namedError(body: => Any): String = {
    val e = intercept[Exception](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: IllegalArgumentException => x.getMessage }
      .getOrElse(fail(s"no IllegalArgumentException in $e"))
  }
}
