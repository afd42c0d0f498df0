package graft

import graft.ops.EventOps
import graft.core.Tables
import graft.streaming.StreamingEvents
import org.apache.spark.sql.functions._

/** Batch/stream equivalence gates: the streaming operators must reproduce
  * their batch counterparts over the same files (kappa architecture). */
class StreamingSpec extends SparkSpec {

  test("streaming hourly rollup equals batch rollup") {
    val stream = StreamingEvents.readEvents(spark, s"$sf0001/events.parquet")
    val res = StreamingEvents.runToMemory(
      StreamingEvents.hourlyRollup(stream), "test_stream_hourly")
    val batch = EventOps.hourlyRollup(Tables.events(spark, sf0001))
    assert(res.exceptAll(batch).isEmpty && batch.exceptAll(res).isEmpty)
  }

  test("hourly rollup is batch-equal at a reduced state partition count " +
    "and the conf is restored") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val stream = StreamingEvents.readEvents(spark, s"$sf0001/events.parquet")
    val res = StreamingEvents.runToMemory(
      StreamingEvents.hourlyRollup(stream), "test_stream_hourly_sp",
      statePartitions = Some(1))
    val batch = EventOps.hourlyRollup(Tables.events(spark, sf0001))
    assert(res.exceptAll(batch).isEmpty && batch.exceptAll(res).isEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prev,
      "shuffle-partition conf must be restored after the streaming query")
  }

  test("hourly rollup is batch-equal across multiple micro-batches") {
    // split the events table into several files and feed them one per
    // micro-batch — state must merge identically to the single-batch case
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    Tables.events(spark, sf0001).repartition(3).write.mode("overwrite")
      .parquet(s"$dir/events")
    val schema = spark.read.parquet(s"$dir/events").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/events")
    val res = StreamingEvents.runToMemory(
      StreamingEvents.hourlyRollup(stream), "test_stream_hourly_mb")
    val batch = EventOps.hourlyRollup(Tables.events(spark, sf0001))
    assert(res.exceptAll(batch).isEmpty && batch.exceptAll(res).isEmpty)
  }

  test("sessionize data call closes already-expired open sessions") {
    // ADVICE scenario: a user's open session is already past the watermark
    // when that user's NEXT event arrives (the group gets a data call, so
    // no timeout call fires) — the data path must emit the expired session
    // instead of registering a timeout earlier than the watermark (which
    // Spark rejects, killing the query)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = ms.toDF.toDF("user_id", "ts", "value")
    val q = StreamingEvents.sessionize(events)
      .writeStream.format("memory").queryName("test_sess_expired")
      .outputMode("append").start()
    def t(msec: Long) = new java.sql.Timestamp(msec)
    val gap = EventOps.SessionGapMs
    ms.addData((1L, t(1000), 1.0), (2L, t(1000), 1.0))
    q.processAllAvailable()
    ms.addData((2L, t(100 * gap), 1.0)) // watermark sails past user 1's session
    q.processAllAvailable()
    ms.addData((1L, t(200 * gap), 1.0)) // data call with an expired open session
    q.processAllAvailable() // pre-fix: IllegalArgumentException fails the query
    q.stop()
    val out = spark.table("test_sess_expired")
    assert(out.filter(col("user_id") === 1 && col("session_start_ms") === 1000)
      .count() == 1, "expired open session was not emitted from the data call")
  }

  test("streaming sessionize emits exactly the watermark-closed batch sessions") {
    val stream = StreamingEvents.readEvents(spark, s"$sf0001/events.parquet")
    val sessions = StreamingEvents.sessionize(stream)
    val q = sessions.writeStream.format("memory").queryName("test_stream_sess")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val res = spark.table("test_stream_sess")

    val events = Tables.events(spark, sf0001)
    val maxMs = events.select(max(EventOps.tsMs(events))).collect().head.getLong(0)
    // sessions still open at end-of-stream (within gap of the final
    // watermark) never time out — exclude them from the batch side too
    val batch = EventOps.sessionize(events)
      .filter(col("session_end_ms") + EventOps.SessionGapMs <= maxMs)
    val resCmp = res.select("user_id", "session_start_ms", "session_end_ms", "n_events")
    val batchCmp = batch.select("user_id", "session_start_ms", "session_end_ms", "n_events")
    assert(resCmp.exceptAll(batchCmp).isEmpty && batchCmp.exceptAll(resCmp).isEmpty,
      s"stream=${resCmp.count()} batch=${batchCmp.count()}")
  }

  test("the bench's streaming warm-up removes its temp dir and memory table") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def warmDirs: Set[String] =
      tmp.list().filter(_.startsWith("graft_warm_ev")).toSet
    val before = warmDirs
    Bench.warmStreaming(spark, sf0001)
    assert(warmDirs == before)
    assert(!spark.catalog.tableExists(Bench.WarmStreamTable))
    // and on failure: a missing events table
    intercept[Exception](Bench.warmStreaming(spark, s"$sf0001/no_such_sf"))
    assert(warmDirs == before)
    assert(!spark.catalog.tableExists(Bench.WarmStreamTable))
  }
}
