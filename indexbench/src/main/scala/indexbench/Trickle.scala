package indexbench

import scala.collection.mutable.ArrayBuffer

/** `trickle`: an open loop releases small files into one registered
  * indexer's log at a fixed period while the indexer runs back-to-back
  * `sync()`; then the live index is read repeatedly and rebuilt from its log
  * through the batch path. */
object Trickle {
  /** One sync (or drain): its wall, the rows it consumed, the backlog it found. */
  final case class SyncRec(start: Double, end: Double, rows: Long, backlogAtStart: Long) {
    def ms: Double = end - start
  }

  def run(c: Ctx): Result = {
    import c.{spark, sup, tracer}
    val name = "trickle"
    val bootRows = c.size("boot_rows", 10000)
    val perFile = c.size("file_events", 100)
    val warmFiles = c.size("warm_files", 3)
    val periodMs = c.size("period_ms", 4000)
    val reads = c.size("reads", 12)
    val rebuilds = c.size("rebuilds", 3)
    val files = math.max(1, c.seconds * 1000 / periodMs)
    c.info("files") = files

    // ---- generate every input from the seed
    val bootSpec = Gen.Spec(c.seed, 0, bootRows, -1, 0, 0, 0L)
    val fileSpec = Gen.Spec(c.seed, 1, bootRows, 1.1, 0.05, 0.03, 1000000000L)
    val stage = c.staging(name)
    val boot = Io.writeFiles(spark, bootSpec, 1, bootRows, stage, "a-boot").head
    val staged = Io.writeFiles(spark, fileSpec, warmFiles + files, perFile, stage, "b-file")
    val (warm, timed) = staged.splitAt(warmFiles)
    def fileEvents(f: Int) = (f.toLong * perFile until (f + 1L) * perFile).iterator.map(fileSpec.event)
    val ref = new Reference(c.perturb)
    ref.applyFile((0L until bootRows).iterator.map(bootSpec.event))
    (0 until warmFiles + files).foreach(f => ref.applyFile(fileEvents(f)))
    val timedEvents = files.toLong * perFile

    // ---- bootstrap the index and warm up the drain and read paths
    c.register(name)
    val log = c.logDir(name)
    var seen = (0L, 0L) // (events, applicable) reported by the indexer
    def sync(): Long = {
      tracer.span("sync")(sup.sync())
      val p = sup.progressReport(name)
      p.foreach(r => seen = (seen._1 + r.events, seen._2 + r.applicable))
      p.map(_.inputRows).getOrElse(0L)
    }
    c.mark("generated")
    Io.release(boot, log)
    sync()
    c.mark("bootstrapped")
    c.rebuild(c.logSnapshot(name), c.work.resolve("shards-warm"), c.work.resolve("serve-warm"), bootRows)
    warm.foreach { f => Io.release(f, log); sync() }
    (0 until 6).foreach(_ => Checksum.of(sup.indexState(name).get))

    // ---- the open loop
    val lead = 300.0
    val setupEnd = c.endSetup()
    val t0 = setupEnd + lead
    val due = timed.indices.map(j => t0 + j * periodMs)
    val late = new Array[Double](files)
    val released = new java.util.concurrent.atomic.AtomicInteger(0)
    val gen = new Thread(() => {
      timed.indices.foreach { j =>
        val wait = due(j) - Tracer.wallMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        Io.release(timed(j), log)
        late(j) = Tracer.wallMs() - due(j)
        released.incrementAndGet()
      }
    }, "indexbench-generator")
    val consumedBefore = Io.consumedBy(c.ckptDir(name)).size
    val syncs = ArrayBuffer.empty[SyncRec]
    val hardStop = t0 + c.seconds * 1000.0 + 120000.0
    gen.start()
    val window0 = Tracer.wallMs()
    tracer.span("window") {
      var done = false
      while (!done && Tracer.wallMs() < hardStop) {
        val s0 = Tracer.wallMs()
        val backlog = released.get() - (Io.consumedBy(c.ckptDir(name)).size - consumedBefore)
        val b = sync()
        syncs += SyncRec(s0, Tracer.wallMs(), b, backlog)
        System.err.println(f"indexbench: sync ${(s0 - t0) / 1000}%.2f s +${syncs.last.ms}%.0f ms rows=$b backlog=$backlog")
        done = released.get() == files &&
          Io.consumedBy(c.ckptDir(name)).size - consumedBefore == files
      }
    }
    val window1 = Tracer.wallMs()
    c.walls += ((window0, window1))
    gen.join()
    val drained = Io.consumedBy(c.ckptDir(name)).size - consumedBefore == files
    if (!drained) c.problems += s"open loop did not drain: backlog left after ${(window1 - t0) / 1000} s"

    c.mark("window_end")
    // ---- freshness: due time -> CURRENT flip of the consuming trigger
    val consumed = Io.consumedBy(c.ckptDir(name))
    val flips = Io.flipTimes(c.indexDir(name))
    val fresh = timed.indices.flatMap { j =>
      consumed.get(timed(j).getFileName.toString).flatMap(flips.get).map(_ - due(j))
    }
    val busy = syncs.filter(_.rows > 0)
    val backlogMax = syncs.map(_.backlogAtStart).maxOption.getOrElse(0L)
    // a growing backlog: the second half of the window saw a larger
    // backlog than the first — the rate was above capacity
    val (h1, h2) = syncs.splitAt(syncs.size / 2)
    val grew = h2.map(_.backlogAtStart).maxOption.getOrElse(0L) > math.max(2L, h1.map(_.backlogAtStart).maxOption.getOrElse(0L))
    c.info("backlog_grew") = grew
    if (grew) c.problems += "backlog grew during the open loop: rate above capacity, tail invalid"

    // ---- closing reads
    c.quiesce()
    (0 until 2).foreach(_ => Checksum.of(sup.indexState(name).get))
    val readMs = (0 until reads).map { _ =>
      val (ms, sum) = c.timedRead(sup.indexState(name).get)
      c.check("trickle index", sum, ref.checksum)
      ms
    }
    val (fileCount, bytes) = {
      val st = new graft.streaming.IndexState(c.indexDir(name).toString, spark)
      Io.liveFiles(c.indexDir(name), st.currentManifest.values)
    }

    c.info("reads_ms") = readMs.map(_.round)
    c.mark("reads_end")
    // ---- the same log through the batch path
    val logRows = bootRows.toLong + (warmFiles + files).toLong * perFile
    val serve = c.work.resolve("serve-trickle")
    c.quiesce()
    c.rebuild(c.logSnapshot(name), c.work.resolve("shards-warm-log"), c.work.resolve("serve-warm"), ref.docs.size)
    val builds = (0 until rebuilds).map { k =>
      val (ms, _) = c.rebuild(c.logSnapshot(name), c.work.resolve(s"shards-trickle-$k"), serve, ref.docs.size)
      if (k == rebuilds - 1) {
        val (_, sum) = c.timedRead(c.serving(serve))
        c.check("trickle log rebuild", sum, ref.checksum)
      }
      ms
    }

    c.info("builds_ms") = builds.map(_.round)
    c.mark("rebuilds_end")
    if (seen != ((ref.events, ref.applicable)))
      c.problems += s"applicable share: indexer reported ${seen._2}/${seen._1}, generator ${ref.applicable}/${ref.events}"

    val (tailPct, tailMs) = Stats.tail(fresh)
    c.info("freshness_samples") = fresh.size
    c.info("freshness_tail_percentile") = tailPct
    c.info("syncs") = syncs.size
    c.info("busy_syncs") = busy.size
    c.info("reference_docs") = ref.docs.size
    c.info("applicable_share") = ref.applicable.toDouble / ref.events
    c.info("gen.late_ms_max") = late.max

    Common.finish(c, setupEnd,
      attempted = files + syncs.size + reads + rebuilds,
      failed = (files - fresh.size) + (if (drained) 0 else 1),
      e2e = Map(
        "freshness_ms_p50" -> Stats.median(fresh),
        "freshness_ms_tail" -> tailMs,
        "read_ms_p50" -> Stats.median(readMs),
        "events_per_s" -> timedEvents / (busy.map(_.ms).sum / 1000.0),
        "rebuild_rows_per_s" -> logRows / (Stats.median(builds) / 1000.0)),
      servedShards = Some(c.work.resolve(s"shards-trickle-${rebuilds - 1}")),
      layer = Layers.streaming(c, name, syncs.toSeq, window0, window1, backlogMax, late.max,
        stateFiles = fileCount, stateBytes = bytes,
        replay = Some(Replay.Files(Seq(boot.getFileName.toString) ++ staged.map(_.getFileName.toString), log)),
        coreFiles = timed.take(10).map(f => log.resolve(f.getFileName))))
  }
}
