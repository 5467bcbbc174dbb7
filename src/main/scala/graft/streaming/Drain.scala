package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one drain skeleton every `foreachBatch` stage runs on: a streaming
  * source, one `perBatch(batch, batchId)` call per micro-batch under
  * [[TriggerScope.scoped]], `Trigger.AvailableNow`, and a checkpoint.
  *
  * Structured Streaming runs `foreachBatch` at least once: a driver that
  * dies after `perBatch` returns but before the commit log records the
  * batch runs the same batch id again on restart. A `perBatch` whose
  * effect must not apply twice has to tolerate that: the monitors skip a
  * replay by its high-water mark or fold it idempotently, and
  * [[GenManifest.advance]] never overwrites the generation a replay reads
  * from.
  *
  * With `GRAFT_TRACE` set in the environment, each micro-batch and the
  * wait for the drain print their wall time. */
object Drain {

  private val trace = sys.env.contains("GRAFT_TRACE")

  /** `body`, printing its wall time under `GRAFT_TRACE`. */
  private[streaming] def timed[A](label: String)(body: => A): A =
    if (!trace) body
    else {
      val t0 = System.nanoTime()
      val r = body
      println(f"[trace] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }

  /** Start draining `source` (a streaming frame) through `perBatch`;
    * returns the running query. The checkpoint and every `perBatch`
    * write go through [[graft.io.LocalFs]], whoever built the session. */
  def start(source: DataFrame, ckptPath: String)
           (perBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    graft.io.LocalFs.install(source.sparkSession)
    source.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        timed(s"perBatch $id")(TriggerScope.scoped(b)(perBatch(b, id)))
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckptPath)
      .start()
  }

  /** Drain the parquet log under `inPath` one file per micro-batch
    * through `perBatch` and wait until every file present at the start
    * is processed. A failure in `perBatch` is rethrown here; the
    * checkpoint then holds no commit for that batch, so a rerun over
    * the same `ckptPath` processes it again. */
  def run(spark: SparkSession, inPath: String, schema: StructType, ckptPath: String)
         (perBatch: (DataFrame, Long) => Unit): Unit = {
    val q = start(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inPath),
      ckptPath)(perBatch)
    timed("awaitTermination")(q.awaitTermination())
  }
}

/** Per-trigger SQL-conf scoping for the micro-batches of [[Drain]]:
  * shuffle width proportional to the trigger's input splits (floor 4,
  * capped at the session width) and AQE off — a trigger-sized frame has
  * nothing for AQE to re-plan, and its per-stage query materialization
  * is pure scheduling tax on a ~3-job trigger (the same disease the rank
  * loops had, BENCHNOTES_r17.md §2). Both settings restore in `finally`;
  * a genuinely large trigger (many input splits) keeps the session
  * width, so at cluster scale this is a no-op exactly when width
  * matters.
  *
  * The conf is applied to `b.sparkSession` — the STREAM'S CLONED session
  * (ForeachBatchSink hands the user a frame bound to
  * sparkSessionForStream, which snapshots the user conf at query start
  * and plans every batch-derived frame against its own SQLConf) — not
  * the session that started the query. Scoping the outer session (the
  * r17 shape) never reached the batch plans at all, and mutating it from
  * the stream thread raced any concurrent work on that session; scoping
  * the clone is both effective and race-free by construction, because
  * each streaming query owns its clone exclusively. Frames that should
  * plan under the scope must therefore DERIVE from `b` (for binary ops:
  * the batch-derived side must be the receiver — a Dataset executes
  * under its receiver chain's session). */
object TriggerScope {

  def scoped[T](b: DataFrame)(body: => T): T = {
    val sess = b.sparkSession
    val sessParts = sess.sessionState.conf.numShufflePartitions
    val trigParts = math.max(4, math.min(sessParts, b.rdd.getNumPartitions * 4))
    val prevParts = sess.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = sess.conf.get("spark.sql.adaptive.enabled")
    sess.conf.set("spark.sql.shuffle.partitions", trigParts.toString)
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally {
      sess.conf.set("spark.sql.shuffle.partitions", prevParts)
      sess.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }
}
