package indexbench

/** `catchup`: a backlog of one large file (24k events over 12k keys, so
  * with duplicates inside the file) is drained by one `waitUntilDrained`,
  * into a fresh indexer each time; then the index is read repeatedly and
  * rebuilt from its log through the batch path. One file per drain keeps
  * the fixed per-trigger cost amortized over the most events the run's
  * time allows, and gives one freshness sample per drain (more files per
  * drain would pool samples of different ranks into one distribution). */
object Catchup {
  def run(c: Ctx): Result = {
    import c.{spark, sup, tracer}
    val perFile = c.size("file_events", 24000)
    val nFiles = c.size("files", 1)
    val keys = c.size("keys", perFile / 2)
    // a fixed count, not "until the seconds are used": the median must not
    // depend on how many drains a slower or faster run happened to fit
    val timedDrains = c.size("rounds", math.max(3, c.seconds / 6))
    val warmDrains = c.size("warm_rounds", 2)
    val readsPerRound = c.size("reads_per_round", 2)
    val warmReads = c.size("warm_reads_per_round", 4)

    // ---- generate the backlog; files get 1 s apart modification times so
    // the file source takes them in generation order
    val spec = Gen.Spec(c.seed, 2, keys, 0, 0.05, 0.03, 0L)
    val backlog = Io.writeFiles(spark, spec, nFiles, perFile, c.staging("catchup"), "f")
    val base = System.currentTimeMillis() - 600000L
    backlog.zipWithIndex.foreach { case (p, k) =>
      java.nio.file.Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(base + k * 1000L))
    }
    val ref = new Reference(c.perturb)
    (0 until nFiles).foreach(f => ref.applyFile((f.toLong * perFile until (f + 1L) * perFile).iterator.map(spec.event)))
    val events = nFiles.toLong * perFile

    var drainNo = 0
    /** Register a fresh indexer over a copy of the backlog and drain it. */
    def drain(timedRun: Boolean): (String, Trickle.SyncRec) = {
      val name = s"catchup_$drainNo"
      drainNo += 1
      c.register(name)
      backlog.foreach(Io.link(_, c.logDir(name)))
      c.quiesce()
      val t0 = Tracer.wallMs()
      val p =
        if (timedRun) c.timed(tracer.span("waitUntilDrained")(sup.waitUntilDrained(name)))._2
        else sup.waitUntilDrained(name)
      val rec = Trickle.SyncRec(t0, Tracer.wallMs(), p.inputRows, nFiles)
      System.err.println(f"indexbench: drain $name ${rec.ms}%.0f ms rows=${p.inputRows}")
      if (p.events != ref.events || p.applicable != ref.applicable)
        c.problems += s"applicable share: $name reported ${p.applicable}/${p.events}, generator ${ref.applicable}/${ref.events}"
      (name, rec)
    }

    /** One round: drain a fresh indexer, read its index, rebuild it from
      * its log. Warm-up runs the same rounds as the timed part. */
    val serve = c.work.resolve("serve-catchup")
    def round(label: String, timedRun: Boolean): (String, Trickle.SyncRec, Seq[Double], Double) = {
      val (n, rec) = drain(timedRun)
      c.quiesce()
      // the first read of a new index lists and opens its files; it is
      // left out so the timed reads are all of one kind. The read path
      // warms more slowly than the others, so a warm round reads more.
      (0 until (if (timedRun) 1 else 1 + warmReads)).foreach(_ => Checksum.of(sup.indexState(n).get))
      val readMs = (0 until readsPerRound).map { _ =>
        val (ms, sum) = c.timedRead(sup.indexState(n).get)
        c.check("catchup index", sum, ref.checksum)
        ms
      }
      c.quiesce()
      val (buildMs, _) = c.rebuild(c.logSnapshot(n), c.work.resolve(s"shards-catchup-$label"), serve, ref.docs.size)
      (n, rec, readMs, buildMs)
    }

    c.mark("generated")
    (0 until warmDrains).foreach(k => round(s"warm$k", timedRun = false))
    // ---- timed rounds. Interleaving spreads every metric's samples over
    // the whole timed window, so a slow spell of the host shifts them all a
    // little instead of one metric a lot.
    val setupEnd = c.endSetup()
    val rounds = (0 until timedDrains).map(k => round(k.toString, timedRun = true))
    val window1 = Tracer.wallMs()
    c.mark("rounds_end")
    val drains = rounds.map(r => (r._1, r._2))
    val readMs = rounds.flatMap(_._3)
    val builds = rounds.map(_._4)
    c.info("drains_ms") = drains.map(_._2.ms.round)
    c.info("reads_ms") = readMs.map(_.round)
    c.check("catchup log rebuild", c.timedRead(c.serving(serve))._2, ref.checksum)

    // freshness: every backlog file is due at its drain's start
    val fresh = drains.flatMap { case (n, rec) =>
      val consumed = Io.consumedBy(c.ckptDir(n))
      val flips = Io.flipTimes(c.indexDir(n))
      backlog.flatMap(f => consumed.get(f.getFileName.toString).flatMap(flips.get).map(_ - rec.start))
    }
    val last = drains.last._1
    val (fileCount, bytes) = {
      val st = new graft.streaming.IndexState(c.indexDir(last).toString, spark)
      Io.liveFiles(c.indexDir(last), st.currentManifest.values)
    }
    c.info("builds_ms") = builds.map(_.round)
    val (tailPct, tailMs) = Stats.tail(fresh)
    c.info("drains") = drains.size
    c.info("events_per_drain") = events
    c.info("freshness_samples") = fresh.size
    c.info("freshness_tail_percentile") = tailPct
    c.info("reference_docs") = ref.docs.size
    c.info("applicable_share") = ref.applicable.toDouble / ref.events
    val drainMs = drains.map(_._2.ms)

    Common.finish(c, setupEnd,
      attempted = drains.size * nFiles + drains.size + readMs.size + builds.size,
      failed = drains.size * nFiles - fresh.size,
      e2e = Map(
        "freshness_ms_p50" -> Stats.median(fresh),
        "freshness_ms_tail" -> tailMs,
        "read_ms_p50" -> Stats.median(readMs),
        "events_per_s" -> events / (Stats.median(drainMs) / 1000.0),
        "rebuild_rows_per_s" -> events / (Stats.median(builds) / 1000.0)),
      servedShards = Some(c.work.resolve(s"shards-catchup-${builds.size - 1}")),
      layer = {
        // one extra drain of an empty log gives the empty-drain cost
        val empties = (0 until 3).map { _ =>
          val t0 = Tracer.wallMs()
          tracer.span("waitUntilDrained")(sup.waitUntilDrained(last))
          Trickle.SyncRec(t0, Tracer.wallMs(), 0, 0)
        }
        Layers.streaming(c, last, drains.map(_._2) ++ empties, setupEnd, window1,
          backlogMax = nFiles, lateMax = 0.0, stateFiles = fileCount, stateBytes = bytes,
          replay = Some(Replay.Files(backlog.map(_.getFileName.toString), c.logDir(last))),
          coreFiles = backlog.map(f => c.logDir(last).resolve(f.getFileName)))
      })
  }
}
