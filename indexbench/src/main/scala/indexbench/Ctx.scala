package indexbench

import graft.conf.IndexerConf
import graft.registry.{IndexerDefinition, IndexerRegistry, IndexerSupervisor}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** What one workload run reports. `e2e` holds the end-to-end metrics,
  * `layer` the per-layer ones (traced run only), `info` run facts that
  * are not metrics (sizes, host record, validity flags). */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        e2e: Map[String, Double], layer: Map[String, Double],
                        info: Map[String, Any], problems: Seq[String])

/** Shared state of one run: the session, the registry and supervisor the
  * workload drives, the tracer and listeners, and the run's parameters. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val seconds: Int,
                val tracer: Tracer, val perturb: Boolean) {
  val triggers = new TriggerLog(spark)
  val jobs: Option[JobLog] = if (tracer.enabled) Some(new JobLog(spark)) else None
  val conf: IndexerConf = IndexerConf.fromXml(Gen.ConfXml)
  val registry = new IndexerRegistry(work.resolve("registry").toString)
  val sup = new IndexerSupervisor(spark, registry, work.resolve("idx").toString,
    n => logDir(n).toString)
  val problems = mutable.ArrayBuffer.empty[String]
  /** Timed walls (start, end) of the run: what trace coverage is measured on. */
  val walls = mutable.ArrayBuffer.empty[(Double, Double)]
  var gcAtSetupEnd = 0.0
  val info = mutable.LinkedHashMap.empty[String, Any]

  /** A workload size, recorded in the run info. */
  def size(key: String, v: Int): Int = { info(s"size.$key") = v; v }

  def logDir(name: String): Path = work.resolve("logs").resolve(name)
  def indexDir(name: String): Path = work.resolve("idx").resolve(name).resolve("index")
  def ckptDir(name: String): Path = work.resolve("idx").resolve(name).resolve("ckpt")
  def staging(name: String): Path = work.resolve("staging").resolve(name)

  /** Register a consuming indexer over its own (empty) log. */
  def register(name: String): Unit = {
    Files.createDirectories(logDir(name))
    registry.add(IndexerDefinition(name, Gen.ConfXml, subscriptionTimestamp = Gen.SubscriptionTs))
  }

  /** Record a named point of the run (seconds since JVM start) in the run info. */
  def mark(label: String): Unit = {
    val t = (Tracer.wallMs() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    info(s"at.$label") = t
    System.err.println(f"indexbench: $label at $t%.2f s")
  }

  /** Mark the end of set-up: driver counters and spans start from here. */
  def endSetup(): Double = {
    tracer.clear()
    gcAtSetupEnd = Layers.gcMs()
    Layers.resetPeaks()
    walls.clear()
    mark("setup_end")
    Tracer.wallMs()
  }

  /** Collect garbage before a timed phase, so a phase does not pay for the
    * previous phase's garbage. */
  def quiesce(): Unit = { System.gc(); Thread.sleep(50) }

  /** Run a timed operation and record its wall; returns (ms, result). */
  def timed[A](body: => A): (Double, A) = {
    val t0 = Tracer.wallMs()
    val a = body
    val t1 = Tracer.wallMs()
    walls += ((t0, t1))
    (t1 - t0, a)
  }

  /** Full read of an index to its checksum, timed. */
  def timedRead(df: => DataFrame): (Double, Checksum) = timed(tracer.span("read")(Checksum.of(df)))

  def check(what: String, got: Checksum, want: Checksum): Boolean = {
    val ok = got == want
    if (!ok) problems += s"$what: index ${got.show} != reference ${want.show}"
    ok
  }

  /** The batch path over a mutation log or snapshot: run -> buildShards(8)
    * -> goLive(expectedRows). Returns (wall ms, flip time ms). */
  def rebuild(snapshot: DataFrame, shards: Path, serve: Path, expected: Long): (Double, Double) = {
    val t0 = Tracer.wallMs()
    val ops = tracer.span("BatchPipeline.run")(graft.batch.BatchPipeline.run(conf, snapshot,
      graft.batch.ScanOptions(startTime = Some(Gen.SubscriptionTs))))
    tracer.span("buildShards")(graft.batch.BatchPipeline.buildShards(
      ops.select("kind", "id", "doc"), Ctx.Shards, shards.toString))
    tracer.span("goLive")(graft.batch.BatchPipeline.goLive(spark, shards.toString, serve.toString,
      Ctx.Shards, Some(expected)))
    val t1 = Tracer.wallMs()
    walls += ((t0, t1))
    val flip = Files.getLastModifiedTime(serve.resolve("CURRENT"))
      .to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0
    (t1 - t0, flip)
  }

  def serving(serve: Path): DataFrame =
    tracer.span("currentServing")(graft.batch.BatchPipeline.currentServing(spark, serve.toString)
      .getOrElse(throw new IllegalStateException(s"nothing served at $serve")))

  def logSnapshot(name: String): DataFrame =
    spark.read.schema(graft.model.Schemas.mutationEvent).parquet(logDir(name).toString)

  /** Ops frame shaped like the streaming sink's (the columns applyOps reads). */
  def sinkOps(rowPathOut: DataFrame): DataFrame =
    rowPathOut.select(col("kind"), col("id"), col("doc"), col("rowKey").as("rowValue"),
      org.apache.spark.sql.functions.lit(null).cast("string").as("familyValue"),
      org.apache.spark.sql.functions.lit(null).cast("string").as("queryRow"),
      org.apache.spark.sql.functions.lit(null).cast("string").as("queryFamily"))
}

object Ctx {
  val Shards = 8
}
