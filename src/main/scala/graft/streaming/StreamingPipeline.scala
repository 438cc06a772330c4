package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.parsers.GrokStage

/** One transcript turn (the input_hint schema). */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** Session aggregate emitted by the streaming grouping-by. */
final case class SessionAgg(
    conv_id: String,
    n_turns: Long,
    n_tool_turns: Long,
    session_start: Timestamp,
    session_end: Timestamp,
    closed_by: String) // "timeout" | "trigger"

private final case class SessionState(
    nTurns: Long,
    nToolTurns: Long,
    minTs: Long,
    maxTs: Long)

/** Structured Streaming shape of the engine (reference's streaming nature:
  * every operator is push-based over an unbounded stream; our batch
  * DataFrames are the bounded view of the same plans).
  *
  *  - sources: `readStream` over the transcript table directory (file
  *    source discovers new files — the wildcard-file() analog, reference
  *    modules/affile/wildcard-source.c), offsets tracked in the checkpoint
  *    (the reference's persist-state file positions, lib/logreader bookmark)
  *  - the parse/enrich/route stages are the SAME code as batch (narrow
  *    transforms are streaming-safe)
  *  - grouping-by with timeout()/trigger() maps to flatMapGroupsWithState
  *    with event-time timeout (the reference's timer-wheel advanced by
  *    message timestamps, modules/correlation/grouping-parser.c:80-127)
  *  - multi-sink fan-out = foreachBatch: persist the micro-batch once,
  *    N filtered writes (same single-parse guarantee as batch writeSinks)
  *  - exactly-once to file sinks via checkpoint WAL (the reference's
  *    reliable disk-buffer, modules/diskq)
  */
object StreamingPipeline {

  /** Streaming file source over a directory of transcript parquet. */
  def source(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
      .parquet(dir)

  /** parse → route flags, streaming-safe (same stages as batch). */
  def parsed(stream: DataFrame): DataFrame = {
    val p = GrokStage(stream, "text", GrokStage.transcriptRules)
    graft.Pipeline.withRoutes(p)
  }

  /** Windowed per-sink aggregate with a watermark: the streaming form of
    * Pipeline.sinkCounts. Late rows beyond the watermark are dropped from
    * the aggregate (the reference's timer-wheel would have expired them).
    */
  def sinkCounts(flagged: DataFrame, watermark: String = "1 hour"): DataFrame =
    graft.Pipeline.fanOut(flagged.withWatermark("ts", watermark),
        Seq(col("ts"), col("role"), coalesce(col("tool"), lit("none")).as("tool")))
      .groupBy(col("sink"), col("role"), col("tool"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))

  /** grouping-by(timeout(), trigger()) in streaming form: event-time
    * session state per conv_id; `timeoutGapSeconds` closes a session when
    * the watermark passes last-event+gap (reference timeout()); a row
    * matching `triggerPred` closes its session immediately (reference
    * trigger(), groupingby.c:104-114).
    */
  def sessionize(
      turns: Dataset[Turn],
      timeoutGapSeconds: Long,
      watermarkDelay: String = "10 seconds",
      triggerPred: Turn => Boolean = _ => false): Dataset[SessionAgg] = {
    import turns.sparkSession.implicits._
    turns
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        sessionFn(timeoutGapSeconds, triggerPred))
  }

  private def sessionFn(gapSeconds: Long, triggerPred: Turn => Boolean)(
      key: String,
      rows: Iterator[Turn],
      state: GroupState[SessionState]): Iterator[SessionAgg] = {
    def emit(s: SessionState, closedBy: String) = SessionAgg(
      key, s.nTurns, s.nToolTurns,
      new Timestamp(s.minTs), new Timestamp(s.maxTs + gapSeconds * 1000L), closedBy)

    if (state.hasTimedOut) {
      val out = emit(state.get, "timeout")
      state.remove()
      Iterator.single(out)
    } else {
      val out = Seq.newBuilder[SessionAgg]
      var cur = state.getOption.orNull
      // deterministic in-batch order (micro-batch rows are unordered)
      rows.toSeq.sortBy(t => (t.ts.getTime, t.turn_idx)).foreach { t =>
        val tms = t.ts.getTime
        cur =
          if (cur == null) SessionState(0, 0, tms, tms)
          else if (tms - cur.maxTs >= gapSeconds * 1000L) {
            // gap exceeded within the batch: close the old session now
            out += emit(cur, "timeout")
            SessionState(0, 0, tms, tms)
          } else cur
        cur = cur.copy(
          nTurns = cur.nTurns + 1,
          nToolTurns = cur.nToolTurns + (if (t.tool != null) 1 else 0),
          minTs = math.min(cur.minTs, tms),
          maxTs = math.max(cur.maxTs, tms))
        if (triggerPred(t)) {
          out += emit(cur, "trigger")
          cur = null
        }
      }
      if (cur == null) state.remove()
      else {
        state.update(cur)
        state.setTimeoutTimestamp(cur.maxTs + gapSeconds * 1000L)
      }
      out.result().iterator
    }
  }

  /** rate-limit() in streaming form (reference modules/rate-limit-filter/
    * rate-limit.c:68-142 token bucket): per key, at most `rate` rows pass
    * per event-time bucket of `bucketSeconds`. State is the spent count of
    * EVERY bucket still inside the watermark (a single current-bucket
    * counter would reset when a late row from an earlier bucket arrives,
    * over-admitting across out-of-order batches); buckets that end before
    * the watermark can no longer receive rows and are evicted. In-batch
    * rows are processed in deterministic (ts, turn_idx) order like the
    * batch variant.
    */
  def rateLimitStream(
      turns: Dataset[Turn],
      key: Turn => String,
      rate: Int,
      bucketSeconds: Long,
      watermarkDelay: String = "10 seconds"): Dataset[Turn] = {
    import turns.sparkSession.implicits._
    turns
      .withWatermark("ts", watermarkDelay)
      .groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[Turn], state: GroupState[Map[Long, Int]]) => {
          var spentByBucket = state.getOption.getOrElse(Map.empty[Long, Int])
          val out = Seq.newBuilder[Turn]
          rows.toSeq.sortBy(t => (t.ts.getTime, t.turn_idx)).foreach { t =>
            val b = t.ts.getTime / (bucketSeconds * 1000L)
            val spent = spentByBucket.getOrElse(b, 0)
            if (spent < rate) { spentByBucket += b -> (spent + 1); out += t }
          }
          val wm = state.getCurrentWatermarkMs()
          spentByBucket = spentByBucket.filter { case (b, _) =>
            (b + 1) * bucketSeconds * 1000L > wm
          }
          if (spentByBucket.isEmpty) state.remove() else state.update(spentByBucket)
          out.result().iterator
        })
  }

  /** suppress(seconds) in streaming form (reference lib/logwriter.c
    * suppress): per key, a turn whose text equals the previously seen one
    * within the interval is dropped; the survivor is emitted immediately
    * (the reference emits the first occurrence and counts followers — the
    * batch variant's `repeated` count needs the closed window, so the
    * streaming form reports suppression through the stats counters
    * instead). State = (last text, last event-time ms) per key, evicted on
    * event-time timeout at interval past the last occurrence. In-batch
    * rows process in deterministic (ts, turn_idx) order.
    */
  def suppressStream(
      turns: Dataset[Turn],
      key: Turn => String,
      intervalSeconds: Long,
      watermarkDelay: String = "10 seconds"): Dataset[Turn] = {
    import turns.sparkSession.implicits._
    turns
      .withWatermark("ts", watermarkDelay)
      .groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: String, rows: Iterator[Turn], state: GroupState[(String, Long)]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var cur = state.getOption.orNull
            val out = Seq.newBuilder[Turn]
            rows.toSeq.sortBy(t => (t.ts.getTime, t.turn_idx)).foreach { t =>
              val tms = t.ts.getTime
              val dup = cur != null && cur._1 == t.text &&
                tms - cur._2 <= intervalSeconds * 1000L
              if (!dup) out += t
              cur = (t.text, tms)
            }
            if (cur != null) {
              state.update(cur)
              // clamp past the watermark: a key whose rows are all late
              // (older than watermark - interval) would otherwise ask for a
              // timeout in the past, which setTimeoutTimestamp rejects and
              // the exception kills the whole query
              state.setTimeoutTimestamp(math.max(
                cur._2 + intervalSeconds * 1000L,
                state.getCurrentWatermarkMs() + 1L))
            }
            out.result().iterator
          }
        })
  }

  /** Multi-sink streaming fan-out: one foreachBatch persists the micro-batch
    * and writes each sink's filtered slice — the streaming form of
    * Pipeline.writeSinks. foreachBatch alone is at-least-once (a failure
    * between sink writes replays the batchId on restart); the writes are
    * made batchId-IDEMPOTENT by partitioning each sink on batch_id and
    * dynamically overwriting only that batch's partition — a replayed
    * batch rewrites its own partition instead of appending duplicates, so
    * the delivered contents are exactly-once per sink directory.
    */
  def writeSinks(
      flagged: DataFrame,
      sinkNames: Seq[String],
      outDir: String,
      checkpointDir: String): StreamingQuery =
    flagged.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeSinksBatch(batch, batchId, sinkNames, outDir)
      }
      .start()

  /** The per-micro-batch body of [[writeSinks]], public so crash-recovery
    * tests can drive ONE attempt with a fault injected between sink writes
    * (`afterSink` fires after each sink's write commits) and prove the
    * batchId-idempotence claim: a batch killed between two sink writes and
    * replayed on restart leaves no duplicate rows in any (sink, batch_id)
    * partition — the replay dynamically overwrites its own partition.
    * Unlike the batch `Pipeline.writeSinks`, the sinks are written one after
    * another: `afterSink` and the crash-recovery tests built on it depend on
    * that order.
    */
  def writeSinksBatch(
      batch: DataFrame,
      batchId: Long,
      sinkNames: Seq[String],
      outDir: String,
      afterSink: String => Unit = _ => ()): Unit = {
    val b = batch.persist()
    try {
      sinkNames.foreach { s =>
        b.filter(col(s"route_$s"))
          .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "rule_id")
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(s"$outDir/sink_$s")
        afterSink(s)
      }
    } finally { b.unpersist(); () }
  }
}
