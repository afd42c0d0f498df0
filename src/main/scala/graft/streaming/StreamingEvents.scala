package graft.streaming

import graft.ops.EventOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming counterparts of the batch event analytics
  * (graft.ops.EventOps): the same logical aggregations declared over
  * `readStream`, so one definition serves both batch backfill and live
  * ingest — the standard kappa-architecture shape for a training-data
  * pipeline's event/telemetry feeds.
  */
object StreamingEvents {

  /** Streaming source over the events parquet (file-source; at scale this
    * is a directory the ingest job appends to). */
  def readEvents(spark: SparkSession, path: String): DataFrame = {
    val schema = spark.read.parquet(path).schema
    // the streaming file source monitors a directory (or glob): turn a
    // single-file path like .../events.parquet into a glob so the parent
    // directory becomes the base (the driver's testdata is one file/table)
    val f = new java.io.File(path)
    val globbed =
      if (f.isFile) s"${f.getParent}/{${f.getName}}"
      else path
    spark.readStream.schema(schema).parquet(globbed)
  }

  /** Hourly rollup on a stream — identical aggregation to the batch
    * EventOps.hourlyRollup; run with complete output mode (the group count
    * is bounded: hours × event types). */
  def hourlyRollup(stream: DataFrame): DataFrame =
    EventOps.hourlyRollup(stream)

  /** One closed user session (mirrors EventOps.sessionize's output row). */
  final case class Session(user_id: Long, session_start_ms: Long,
                           session_end_ms: Long, n_events: Long,
                           sum_value: Double)

  /** Open session state as a plain tuple (startMs, lastMs, nEvents,
    * sumValue) — tuple encoders survive the state-store codegen path where
    * nested case-class encoders do not. */
  private type SessState = (Long, Long, Long, Double)

  /** Gap-based streaming sessionization via flatMapGroupsWithState with
    * event-time timeout: a session closes (and emits) when the watermark
    * passes its last event + gap. Custom state instead of built-in windows
    * because session windows are data-driven, not fixed-width — SURVEY.md
    * §2.7's mapGroupsWithState surface. */
  def sessionize(events: DataFrame, gapMs: Long = EventOps.SessionGapMs,
                 watermarkDelay: String = "0 seconds"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    // the watermark column itself must reach the groupByKey (dropping it
    // would detach the watermark from the stateful operator)
    val typed = events
      .withColumn("event_ts", timestamp_millis(EventOps.tsMs(events)))
      .withWatermark("event_ts", watermarkDelay)
      .select(col("user_id").cast("long"), col("event_ts"),
        col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Double)]

    typed.groupByKey(_._1)
      .flatMapGroupsWithState[List[SessState], Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows0: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[List[SessState]]) =>
          val rows = rows0.map { case (u, ts, v) => (u, ts.getTime, v) }
          if (state.hasTimedOut) {
            val wm = state.getCurrentWatermarkMs()
            val (closed, open) = state.getOption.getOrElse(Nil)
              .partition(s => s._2 + gapMs <= wm)
            if (open.isEmpty) state.remove()
            else {
              state.update(open)
              state.setTimeoutTimestamp(open.map(_._2).min + gapMs)
            }
            closed.sortBy(_._1).iterator.map(s =>
              Session(user, s._1, s._2, s._3, s._4))
          } else {
            // union the micro-batch's events (as singleton intervals) with
            // the open sessions, then coalesce: two intervals chain into one
            // session iff separated by <= gap — the batch definition exactly,
            // regardless of arrival order or how many sessions are open
            // (head-only matching diverges once a user has >=2 open sessions
            // across micro-batches).
            val merged = (state.getOption.getOrElse(Nil) ++
                rows.map { case (_, ms, v) => (ms, ms, 1L, v) })
              .sortBy(s => (s._1, s._2))
              .foldLeft(List.empty[SessState]) {
                case ((cst, clast, ccnt, csum) :: tail, (st, last, cnt, sm))
                    if st - clast <= gapMs =>
                  (cst, math.max(clast, last), ccnt + cnt, csum + sm) :: tail
                case (acc, s) => s :: acc
              }
            // sessions already past the watermark close NOW, from the data
            // call: no timeout call will fire for them (this group just got
            // data), and keeping them would set a timeout timestamp <= the
            // current watermark, which Spark rejects
            val wm = state.getCurrentWatermarkMs()
            val (closed, open) = merged.partition(s => s._2 + gapMs <= wm)
            if (open.isEmpty) state.remove()
            else {
              state.update(open)
              state.setTimeoutTimestamp(open.map(_._2).min + gapMs)
            }
            closed.sortBy(_._1).iterator.map(s =>
              Session(user, s._1, s._2, s._3, s._4))
          }
      }
  }

  /** Run a streaming aggregation to completion over existing files
    * (Trigger.AvailableNow + memory sink) and return the final table —
    * used by the oracle-checked `streaming_hourly` query and tests.
    *
    * `statePartitions` (optional) scopes `spark.sql.shuffle.partitions`
    * for this query's lifetime — a NEW streaming query pins its state-
    * store partition count from that conf at first batch, and every
    * micro-batch then pays one state-store commit per partition. Callers
    * derive it from input size capped at the session conf (the
    * size-derived rule of BspBeamSearch.pinVectors) so a small input
    * doesn't pay conf-many near-empty store commits while cluster-scale
    * streams keep the configured parallelism. Restored after termination;
    * batch-equivalence is unaffected (the aggregation result is
    * partitioning-independent; the sum runs over exact decimals). */
  def runToMemory(agg: DataFrame, name: String,
                  mode: String = "complete",
                  statePartitions: Option[Int] = None): DataFrame = {
    val spark = agg.sparkSession
    // AvailableNow appends a no-data micro-batch after the data batches
    // (its purpose is firing event-time timers); a complete/update-mode
    // aggregation over a static file set emits the identical final table
    // without it, and the empty batch costs a full state-store
    // commit+sink cycle. Scoped to this query: restored after termination.
    // NOT applied in append mode: there the trailing no-data batch is what
    // finalizes windows past the watermark — skipping it would silently
    // never emit them (ADVICE r13).
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(key)
    if (mode != "append") spark.conf.set(key, "false")
    val spKey = "spark.sql.shuffle.partitions"
    val prevSp = spark.conf.getOption(spKey)
    statePartitions.foreach(n => spark.conf.set(spKey, n.toString))
    try {
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      prevSp match {
        case Some(v) => spark.conf.set(spKey, v)
        case None => spark.conf.unset(spKey)
      }
    }
    spark.table(name)
  }
}
