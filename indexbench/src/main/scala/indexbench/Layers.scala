package indexbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from the spans the benchmark records
  * around its calls into each layer and from the two listeners. */
object Layers {
  /** Every per-layer metric a traced run reports, with its unit. A layer a
    * workload does not exercise reports 0. */
  val Units: Seq[(String, String)] = Seq(
    "registry.sync_ms_p50" -> "ms", "registry.empty_sync_ms_p50" -> "ms",
    "registry.drain_overhead_ms_p50" -> "ms",
    "streaming.triggers" -> "count", "streaming.jobs_per_trigger" -> "count",
    "streaming.tasks_per_trigger" -> "count", "streaming.trigger_ms_p50" -> "ms",
    "streaming.latestOffset_ms_p50" -> "ms", "streaming.queryPlanning_ms_p50" -> "ms",
    "streaming.getBatch_ms_p50" -> "ms", "streaming.addBatch_ms_p50" -> "ms",
    "streaming.walCommit_ms_p50" -> "ms", "streaming.commitOffsets_ms_p50" -> "ms",
    "streaming.backlog_files_max" -> "files",
    "state.readBuckets_ms_p50" -> "ms", "state.commit_ms_p50" -> "ms",
    "state.commit_share_of_trigger" -> "ratio",
    "state.buckets_touched_share" -> "ratio", "state.write_amplification" -> "ratio",
    "state.files_live" -> "count", "state.bytes_live" -> "bytes",
    "core.rowPath_ms_per_file" -> "ms", "core.applyOps_ms_per_file" -> "ms",
    "core.dedup_ratio" -> "ratio", "core.shuffle_bytes_per_file" -> "bytes",
    "core_mapping.share_of_trigger" -> "ratio",
    "mapping.docMap_cells_per_s" -> "cells/s",
    "batch.build_ms" -> "ms", "batch.goLive_ms" -> "ms", "batch.jobs_per_build" -> "count",
    "batch.shuffle_bytes" -> "bytes", "batch.shard_skew" -> "ratio", "batch.served_files" -> "count",
    "self.registry_ms" -> "ms", "self.streaming_ms" -> "ms", "self.state_ms" -> "ms",
    "self.core_ms" -> "ms", "self.mapping_ms" -> "ms", "self.batch_ms" -> "ms", "self.read_ms" -> "ms",
    "driver.gc_ms" -> "ms", "driver.heap_peak_mb" -> "MiB", "driver.executor_cpu_ms" -> "ms",
    "gen.late_ms_max" -> "ms", "trace.overhead_share" -> "ratio", "trace.coverage_share" -> "ratio")

  private def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Streaming-side metrics. `drains` are the timed syncs (or drains);
    * triggers are matched to the drain whose interval holds their start. */
  def streaming(c: Ctx, name: String, drains: Seq[Trickle.SyncRec], w0: Double, w1: Double,
                backlogMax: Long, lateMax: Double, stateFiles: Long, stateBytes: Long,
                replay: Option[Replay.Files], coreFiles: Seq[java.nio.file.Path] = Nil): Map[String, Double] = {
    // executed triggers only: an empty drain also posts a progress event
    val trig = c.triggers.all.filter(t => t.start >= w0 - 1 && t.start <= w1 && t.phases.contains("addBatch"))
    trig.foreach(t => c.tracer.add("trigger", 0, t.start, t.end))
    val busy = drains.filter(_.rows > 0)
    val empty = drains.filter(_.rows == 0)
    val overhead = busy.map { d =>
      d.ms - trig.filter(t => t.start >= d.start - 1 && t.start <= d.end).map(_.ms).sum
    }
    val jobs = c.jobs.get
    def phase(k: String) = p50(trig.map(_.phases.getOrElse(k, 0L).toDouble))
    val base = Map(
      "registry.sync_ms_p50" -> p50(busy.map(_.ms)),
      "registry.empty_sync_ms_p50" -> p50(empty.map(_.ms)),
      "registry.drain_overhead_ms_p50" -> p50(overhead),
      "streaming.triggers" -> trig.size.toDouble / math.max(1, busy.size),
      "streaming.jobs_per_trigger" -> trig.map(t => jobs.jobsIn(t.start, t.end)).sum.toDouble / math.max(1, trig.size),
      "streaming.tasks_per_trigger" -> trig.map(t => jobs.tasksIn(t.start, t.end)).sum.toDouble / math.max(1, trig.size),
      "streaming.trigger_ms_p50" -> p50(trig.map(_.ms)),
      "streaming.backlog_files_max" -> backlogMax.toDouble,
      "state.files_live" -> stateFiles.toDouble,
      "state.bytes_live" -> stateBytes.toDouble,
      "gen.late_ms_max" -> lateMax) ++
      Seq("latestOffset", "queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets")
        .map(k => s"streaming.${k}_ms_p50" -> phase(k))
    val st = replay.map { files =>
      val out = Replay.state(c, files, name)
      val spans = c.tracer.all.filter(s => s.start >= out.spanFrom && s.end <= out.spanTo)
      val commits = spans.filter(_.name == "commit").map(_.ms)
      val reads = spans.filter(_.name == "readBuckets").map(_.ms)
      val touched = out.store.commits.map(_._1.toDouble)
      val written = out.store.commits.map(_._2).sum
      val core = Replay.core(c, coreFiles, c.sup.indexState(name))
      val trigMs = out.triggers.map(_.ms).sum
      Map(
        "state.readBuckets_ms_p50" -> p50(reads),
        "state.commit_ms_p50" -> p50(commits),
        "state.commit_share_of_trigger" -> commits.sum / math.max(1.0, trigMs),
        "state.buckets_touched_share" -> (if (touched.isEmpty) 0.0 else touched.sum / touched.size / out.store.buckets),
        // per-file means on both sides: the state replay covers the whole
        // log, the core replay only `coreFiles`
        "state.write_amplification" -> (written.toDouble / math.max(1, touched.size)) /
          math.max(1e-9, core.ops.toDouble / math.max(1, coreFiles.size)),
        "core.rowPath_ms_per_file" -> p50(core.rowPathMs),
        "core.applyOps_ms_per_file" -> p50(core.applyOpsMs),
        "core.dedup_ratio" -> core.ops.toDouble / math.max(1L, core.events),
        "core.shuffle_bytes_per_file" -> core.shuffleBytes.toDouble / math.max(1, coreFiles.size),
        "core_mapping.share_of_trigger" ->
          (core.rowPathMs.sum + core.applyOpsMs.sum) / math.max(1.0, trigMs * coreFiles.size / math.max(1, out.triggers.size)),
        "mapping.docMap_cells_per_s" -> core.cells / math.max(1e-9, core.docMapMs.sum / 1000.0))
    }.getOrElse(Map.empty)
    base ++ st
  }

  /** Metrics every traced run reports: batch spans, self time per layer,
    * driver counters and trace coverage of the timed walls. */
  def common(c: Ctx, walls: Seq[(Double, Double)], servedFiles: Long, shardSkew: Double,
             gcMs: Double): Map[String, Double] = {
    val spans = nest(c.tracer.all)
    val jobs = c.jobs.get
    val builds = spans.filter(_.name == "buildShards")
    val goLive = spans.filter(_.name == "goLive")
    val runs = spans.filter(_.name == "BatchPipeline.run")
    val buildWalls = builds.map { b =>
      val r = runs.filter(_.end <= b.start + 1).maxByOption(_.end).getOrElse(b)
      val g = goLive.filter(_.start >= b.end - 1).minByOption(_.start).getOrElse(b)
      (r.start, g.end)
    }
    val selfBy = selfTimes(spans)
    def self(names: String*) = names.map(n => selfBy.getOrElse(n, 0.0)).sum
    val layerSpans = spans.filterNot(s => s.name == "window" || s.name == "replay")
    val covered = walls.map { case (a, b) => coverage(layerSpans, a, b) }.sum
    val total = walls.map { case (a, b) => b - a }.sum
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    Map(
      "batch.build_ms" -> p50(buildWalls.map { case (a, b) => b - a }),
      "batch.goLive_ms" -> p50(goLive.map(_.ms)),
      "batch.jobs_per_build" -> (if (buildWalls.isEmpty) 0.0
        else buildWalls.map { case (a, b) => jobs.jobsIn(a, b) }.sum.toDouble / buildWalls.size),
      "batch.shuffle_bytes" -> p50(builds.map(b => jobs.shuffleBytesIn(b.start, b.end).toDouble)),
      "batch.shard_skew" -> shardSkew,
      "batch.served_files" -> servedFiles.toDouble,
      "self.registry_ms" -> self("sync", "waitUntilDrained", "requestBatchBuild"),
      "self.streaming_ms" -> self("trigger"),
      "self.state_ms" -> self("readBuckets", "commit"),
      "self.core_ms" -> self("rowPath", "applyOps"),
      "self.mapping_ms" -> self("docMap"),
      "self.batch_ms" -> self("BatchPipeline.run", "buildShards", "goLive", "currentServing"),
      "self.read_ms" -> self("read"),
      "driver.gc_ms" -> gcMs,
      "driver.heap_peak_mb" -> heapPeak / 1048576.0,
      "driver.executor_cpu_ms" -> walls.map { case (a, b) => jobs.cpuMsIn(a, b) }.sum,
      "trace.coverage_share" -> (if (total <= 0) 0.0 else covered / total))
  }

  /** Give spans recorded on another thread (parent 0) the smallest span
    * whose interval holds them as parent. */
  def nest(spans: Seq[Span]): Seq[Span] = spans.map { s =>
    if (s.parent != 0) s
    else spans.filter(p => p.id != s.id && p.start <= s.start && p.end >= s.end && p.ms > s.ms)
      .minByOption(_.ms).map(p => s.copy(parent = p.id)).getOrElse(s)
  }

  /** Span name -> summed self time (duration minus the union of its children). */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ms - coverage(kids.getOrElse(s.id, Nil), s.start, s.end)).sum
    }
  }

  /** Length of [a, b] covered by the union of the spans. */
  def coverage(spans: Seq[Span], a: Double, b: Double): Double = {
    val iv = spans.map(s => (math.max(a, s.start), math.min(b, s.end))).filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0.0; var end = a
    iv.foreach { case (s, e) => if (e > end) { covered += e - math.max(s, end); end = e } }
    covered
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  def resetPeaks(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
}
