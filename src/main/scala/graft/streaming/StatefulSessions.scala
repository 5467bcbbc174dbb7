package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** T7 taken past reference parity: gap-based sessionization as a custom
  * stateful streaming operator (`flatMapGroupsWithState`) — the
  * Spark-native shape for per-key state the built-in windows can't
  * express. State is one open session per user; a batch's events close
  * and emit any session whose gap exceeds `gapSec` and leave the last
  * session open in state. The batch form of the same operator is the
  * lag+running-sum window (ExtendedQueries s04) — `SessionsSpec` pins
  * stream ≡ batch on the same input.
  *
  * Scale notes: state is O(active users), partitioned by the group key
  * (one shuffle); with event-time timeouts
  * (`GroupStateTimeout.EventTimeTimeout` + a watermark) idle sessions
  * flush and state stays bounded on an unbounded stream. The drain path
  * here emits the final open session when the input is finite.
  */
object StatefulSessions {

  case class Ev(user_id: Long, event_id: Long, ts_s: Long)
  case class OpenSession(start_s: Long, end_s: Long, n_events: Long, sess_id: Long)
  case class Session(user_id: Long, sess_id: Long, n_events: Long,
                     start_s: Long, end_s: Long, dur_s: Long)

  /** Sentinel event id marking end-of-stream for a user: flushes the open
    * session out of state without contributing an event itself. */
  val SentinelId: Long = Long.MinValue

  /** Per-user state transition: sort the batch's real events, fold them
    * into the open session, emit every session that closes; the last one
    * stays open IN STATE across micro-batches (never per-batch flushed —
    * sessions spanning batches must not split). A sentinel event flushes
    * and clears the state. */
  private def update(gapSec: Long)(
      user: Long, events: Iterator[Ev], state: GroupState[OpenSession]): Iterator[Session] = {
    val (sentinels, real) = events.toSeq.partition(_.event_id == SentinelId)
    val sorted = real.sortBy(e => (e.ts_s, e.event_id))
    var open = state.getOption
    val out = Seq.newBuilder[Session]
    sorted.foreach { e =>
      open = open match {
        case None => Some(OpenSession(e.ts_s, e.ts_s, 1, 1))
        case Some(s) if e.ts_s - s.end_s <= gapSec =>
          Some(s.copy(end_s = e.ts_s, n_events = s.n_events + 1))
        case Some(s) =>
          out += Session(user, s.sess_id, s.n_events, s.start_s, s.end_s, s.end_s - s.start_s)
          Some(OpenSession(e.ts_s, e.ts_s, 1, s.sess_id + 1))
      }
    }
    if (sentinels.nonEmpty) {
      open.foreach(s =>
        out += Session(user, s.sess_id, s.n_events, s.start_s, s.end_s, s.end_s - s.start_s))
      state.remove()
    } else {
      open.foreach(state.update)
    }
    out.result().iterator
  }

  /** Ev plus the event-time column the watermark is declared on. */
  case class EvT(user_id: Long, event_id: Long, ts_s: Long, ts: java.sql.Timestamp)

  /** Per-user transition for the UNBOUNDED path: same fold as [[update]],
    * but the open session flushes via EVENT-TIME TIMEOUT — once the
    * watermark passes `end_s + gapSec`, no event for this user can extend
    * the session any more (anything older is beyond the watermark), so the
    * state is provably closeable without any sentinel. This is what keeps
    * state O(active users) on a stream that never ends. */
  private def updateEt(gapSec: Long)(
      user: Long, events: Iterator[EvT], state: GroupState[OpenSession]): Iterator[Session] = {
    if (state.hasTimedOut) {
      val out = state.getOption.map(s =>
        Session(user, s.sess_id, s.n_events, s.start_s, s.end_s, s.end_s - s.start_s)).iterator
      state.remove()
      out
    } else {
      val sorted = events.toSeq.sortBy(e => (e.ts_s, e.event_id))
      var open = state.getOption
      val out = Seq.newBuilder[Session]
      sorted.foreach { e =>
        open = open match {
          case None => Some(OpenSession(e.ts_s, e.ts_s, 1, 1))
          case Some(s) if e.ts_s - s.end_s <= gapSec =>
            Some(s.copy(end_s = e.ts_s, n_events = s.n_events + 1))
          case Some(s) =>
            out += Session(user, s.sess_id, s.n_events, s.start_s, s.end_s, s.end_s - s.start_s)
            Some(OpenSession(e.ts_s, e.ts_s, 1, s.sess_id + 1))
        }
      }
      open.foreach { s =>
        state.update(s)
        // timeout must sit strictly past the current watermark or Spark
        // rejects it (a late-arriving batch can otherwise set a timeout
        // in the already-passed past)
        state.setTimeoutTimestamp(
          math.max((s.end_s + gapSec) * 1000L + 1L, state.getCurrentWatermarkMs() + 1L))
      }
      out.result().iterator
    }
  }

  /** Sessionize an UNBOUNDED stream: `src` is a STREAMING DataFrame with
    * (user_id, event_id, ts_s). Sessions close either by gap (a later
    * event arrives past the gap) or by event-time timeout (the watermark
    * passes `end + gap` — the idle-user flush; no sentinel events
    * anywhere). Returns the streaming Dataset of closed sessions for the
    * caller to sink; `watermarkDelaySec` is the out-of-orderness budget. */
  def sessionizeUnbounded(spark: SparkSession, src: DataFrame, gapSec: Long = 3600L,
                          watermarkDelaySec: Long = 0L): Dataset[Session] = {
    import spark.implicits._
    src.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts_s").cast("long"))
      .withColumn("ts", timestamp_seconds(col("ts_s")))
      .withWatermark("ts", s"$watermarkDelaySec seconds")
      .as[EvT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(updateEt(gapSec))
  }

  /** Drain a finite event log into its complete session set. `events`
    * needs columns (user_id, event_id, ts_s).
    *
    * Two-phase drain, safe under ANY micro-batch split of the log (the
    * stream runs with maxFilesPerTrigger=1, so multi-batch is exercised,
    * not assumed away): phase 1 folds all real events, carrying open
    * sessions in state across batches; phase 2 appends one sentinel event
    * per user and resumes from the checkpoint, flushing the final open
    * sessions. On an unbounded stream the same flush comes from an
    * event-time timeout instead of a sentinel. */
  def sessionizeToCompletion(spark: SparkSession, events: DataFrame,
                             workDir: String, gapSec: Long = 3600L,
                             statePartitions: Int = 8): DataFrame =
    // both phases share one checkpoint, so the scoped partition count
    // must cover the whole drain (see StatefulScope)
    StatefulScope.withStatePartitions(spark, statePartitions) {
      sessionizeDrain(spark, events, workDir, gapSec)
    }

  private def sessionizeDrain(spark: SparkSession, events: DataFrame,
                              workDir: String, gapSec: Long): DataFrame = {
    import spark.implicits._
    val logDir = s"$workDir/log"
    val typed = events.select(col("user_id").cast("long"), col("event_id").cast("long"),
      col("ts_s").cast("long"))
    typed.coalesce(4).write.mode("overwrite").parquet(logDir)

    // parquet sink (not memory): the phase-2 query RESUMES from phase 1's
    // checkpoint, and only durable sinks support checkpoint recovery
    val outDir = s"$workDir/sessions"
    def drain(): Unit = {
      graft.GraftSession.install(spark)
      val src: Dataset[Ev] = spark.readStream
        .schema("user_id long, event_id long, ts_s long")
        .option("maxFilesPerTrigger", 1)
        .parquet(logDir).as[Ev]
      val q = src
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Append(), GroupStateTimeout.NoTimeout())(update(gapSec))
        .writeStream
        .format("parquet").option("path", outDir)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$workDir/ckpt")
        .start()
      q.awaitTermination()
    }

    drain()
    typed.select(col("user_id")).distinct()
      .withColumn("event_id", lit(SentinelId)).withColumn("ts_s", lit(Long.MaxValue))
      .coalesce(1).write.mode("append").parquet(logDir)
    drain()
    spark.read
      .schema("user_id long, sess_id long, n_events long, start_s long, end_s long, dur_s long")
      .parquet(outDir)
  }
}
