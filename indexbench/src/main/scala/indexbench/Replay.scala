package indexbench

import graft.streaming.{DocStateStore, IndexState, MutationStream}
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** A DocStateStore wrapper that records `readBuckets` and `commit` spans,
  * the touched bucket count and the rows each commit writes. `readBuckets`
  * returns a lazy frame, so its span also scans that frame to a noop sink:
  * the read cost then shows in the state layer, not inside `commit`. */
final class TracingStore(inner: IndexState, tracer: Tracer) extends DocStateStore {
  val commits = ArrayBuffer.empty[(Int, Long)] // (touched buckets, rows written)
  def buckets: Int = inner.buckets
  def currentVersion: Option[String] = inner.currentVersion
  def liveBuckets: Set[Int] = inner.liveBuckets
  def read(): Option[DataFrame] = inner.read()
  def readBuckets(ks: Seq[Int]): Option[DataFrame] = tracer.span("readBuckets") {
    val df = inner.readBuckets(ks)
    df.foreach(_.write.format("noop").mode("overwrite").save())
    df
  }
  def commit(updated: DataFrame, version: String, touched: Seq[Int]): Unit = {
    val obs = Observation()
    tracer.span("commit")(inner.commit(updated.observe(obs, count(lit(1)).as("n")), version, touched))
    commits.synchronized(commits += ((touched.size, obs.get.get("n").map(_.asInstanceOf[Long]).getOrElse(0L))))
  }
  def stateMeta(key: String): Option[String] = inner.stateMeta(key)
  def commitWithMeta(updated: DataFrame, version: String, touched: Seq[Int],
                     kv: Map[String, String]): Unit = inner.commitWithMeta(updated, version, touched, kv)
  def commitAppendWithMeta(fresh: DataFrame, version: String, touched: Seq[Int],
                           kv: Map[String, String]): Unit = inner.commitAppendWithMeta(fresh, version, touched, kv)
  def vacuum(graceMs: Long): Seq[String] = inner.vacuum(graceMs)
}

/** Traced-run replays of the generated files through single layers. */
object Replay {
  /** Files of an indexer's log, in release order. */
  final case class Files(names: Seq[String], logDir: Path)

  final case class StateOut(store: TracingStore, triggers: Seq[Trigger], spanFrom: Double, spanTo: Double)

  /** Drain the same files, in the same order, into a fresh state through
    * `MutationStream.start` with the tracing store. */
  def state(c: Ctx, files: Files, tag: String): StateOut = {
    val log = c.work.resolve(s"replay-$tag/log")
    java.nio.file.Files.createDirectories(log)
    val base = System.currentTimeMillis() - 100000L
    files.names.zipWithIndex.foreach { case (n, k) =>
      val dst = log.resolve(n)
      java.nio.file.Files.copy(files.logDir.resolve(n), dst)
      java.nio.file.Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(base + k * 1000L))
    }
    var store: TracingStore = null
    val factory = (dir: String, s: SparkSession) => { store = new TracingStore(new IndexState(dir, s), c.tracer); store }
    c.triggers.clear()
    val t0 = Tracer.wallMs()
    val q = c.tracer.span("replay")(MutationStream.start(c.spark, c.conf, log.toString,
      c.work.resolve(s"replay-$tag/index").toString, c.work.resolve(s"replay-$tag/ckpt").toString,
      subscriptionTs = Gen.SubscriptionTs, stateFactory = factory))
    c.tracer.span("replay")(q.awaitTermination())
    val t1 = Tracer.wallMs()
    val trig = c.triggers.all.filter(_.phases.contains("addBatch"))
    trig.foreach(t => c.tracer.add("trigger", 0, t.start, t.end))
    StateOut(store, trig, t0, t1)
  }

  final case class CoreOut(rowPathMs: Seq[Double], applyOpsMs: Seq[Double], docMapMs: Seq[Double],
                           events: Long, ops: Long, cells: Long, shuffleBytes: Long)

  /** rowPath, applyOps (against the live index) and docMap on each file,
    * each materialized to a noop sink. */
  def core(c: Ctx, paths: Seq[Path], state: Option[DataFrame]): CoreOut = {
    val rp = ArrayBuffer.empty[Double]; val ao = ArrayBuffer.empty[Double]; val dm = ArrayBuffer.empty[Double]
    var events = 0L; var ops = 0L; var cells = 0L; var shuffle = 0L
    val st = state.map(_.select("id", "doc", "rowValue", "familyValue").cache())
    st.foreach(_.count())
    paths.foreach { p =>
      val ev = c.spark.read.schema(graft.model.Schemas.mutationEvent).parquet(p.toString)
      val in = Observation(); val out = Observation()
      val rowPath = graft.core.IndexerCore.rowPath(c.conf)(
        graft.core.IndexerCore.subscriptionFilter(Gen.SubscriptionTs)(ev.observe(in, count(lit(1)).as("n"))))
      val t0 = Tracer.wallMs()
      c.tracer.span("rowPath")(rowPath.observe(out, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save())
      val t1 = Tracer.wallMs()
      rp += t1 - t0
      shuffle += c.jobs.map(_.shuffleBytesIn(t0, t1)).getOrElse(0L)
      events += in.get("n").asInstanceOf[Long]
      ops += out.get("n").asInstanceOf[Long]
      st.foreach { s =>
        val opsDf = c.sinkOps(rowPath).cache()
        opsDf.count()
        ao += timed(c.tracer.span("applyOps")(graft.core.IndexerCore.applyOps(s, opsDf)
          .write.format("noop").mode("overwrite").save()))
        opsDf.unpersist(true)
      }
      val puts = ev.filter(exists(col("cells"), x => x.getField("cellType") === graft.model.CellType.Put))
      val dObs = Observation()
      dm += timed(c.tracer.span("docMap")(puts.observe(dObs, sum(size(col("cells"))).as("n"))
        .select(graft.mapping.Mapping.docMap(c.conf)(col("cells"))).write.format("noop").mode("overwrite").save()))
      cells += dObs.get("n").asInstanceOf[Long]
    }
    st.foreach(_.unpersist(true))
    CoreOut(rp.toSeq, ao.toSeq, dm.toSeq, events, ops, cells, shuffle)
  }

  def timed(body: => Unit): Double = { val t0 = Tracer.wallMs(); body; Tracer.wallMs() - t0 }
}
