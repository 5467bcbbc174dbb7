package indexbench

/** `rebuild`: a snapshot of complete rows goes through
  * `BatchPipeline.run -> buildShards(8) -> goLive(expectedRows)`, repeated
  * after warm builds, each build followed by reads of the served shard set. */
object Rebuild {
  def run(c: Ctx): Result = {
    import c.spark
    val rows = c.size("rows", 40000)
    val warmBuilds = c.size("warm_rounds", 2)
    val timedBuilds = c.size("rounds", math.max(3, c.seconds / 6))
    val readsPerRound = c.size("reads_per_round", 3)
    val warmReads = c.size("warm_reads_per_round", 4)

    val spec = Gen.Spec(c.seed, 3, rows, -1, 0, 0, 0L)
    val snapDir = c.work.resolve("snapshot")
    import spark.implicits._
    spark.range(0, rows, 1, spark.sparkContext.defaultParallelism * 2).as[Long]
      .map(i => spec.event(i).toMutation).write.parquet(snapDir.toString)
    val want = (0L until rows).iterator.map(spec.event).foldLeft(Checksum.Empty) { (acc, e) =>
      val vs = if (c.perturb && e.seq == 0) e.values.reverse else e.values
      vs.indices.foldLeft(acc.copy(docs = acc.docs + 1))((a, k) => a + Checksum.cellHash(e.rowKey, Gen.FieldNames(k), vs(k)))
    }
    c.mark("generated")
    def snapshot = spark.read.schema(graft.model.Schemas.mutationEvent).parquet(snapDir.toString)
    val serve = c.work.resolve("serve")

    var k = 0
    /** One round: a build, then reads of the set it served. Warm-up runs
      * the same rounds as the timed part. */
    def round(timedRun: Boolean): (Double, Double, Seq[Double]) = {
      c.quiesce()
      val t0 = Tracer.wallMs()
      val (ms, flip) = c.rebuild(snapshot, c.work.resolve(s"shards-$k"), serve, rows)
      k += 1
      c.quiesce()
      // the read path warms more slowly than the build, so a warm round
      // reads more
      if (!timedRun) (0 until warmReads).foreach(_ => Checksum.of(c.serving(serve)))
      val readMs = (0 until readsPerRound).map { _ =>
        val (rms, sum) = c.timedRead(c.serving(serve))
        c.check("rebuild serving set", sum, want)
        rms
      }
      (ms, flip - t0, readMs)
    }
    (0 until warmBuilds).foreach(_ => round(timedRun = false))
    // timed rounds; interleaving spreads both metrics' samples over the
    // whole timed window
    val setupEnd = c.endSetup()
    val rounds = (0 until timedBuilds).map(_ => round(timedRun = true))
    c.mark("rounds_end")
    val builds = rounds.map(r => (r._1, r._2))
    val readMs = rounds.flatMap(_._3)

    c.info("builds_ms") = builds.map(_._1.round)
    c.info("reads_ms") = readMs.map(_.round)
    val fresh = builds.map(_._2)
    val (tailPct, tailMs) = Stats.tail(fresh)
    c.info("builds") = builds.size
    c.info("freshness_samples") = fresh.size
    c.info("freshness_tail_percentile") = tailPct
    c.info("reference_docs") = rows
    val buildMs = Stats.median(builds.map(_._1))
    val lastShards = c.work.resolve(s"shards-${k - 1}")

    Common.finish(c, setupEnd,
      attempted = builds.size + readMs.size,
      failed = 0,
      e2e = Map(
        "freshness_ms_p50" -> Stats.median(fresh),
        "freshness_ms_tail" -> tailMs,
        "read_ms_p50" -> Stats.median(readMs),
        "events_per_s" -> rows / (buildMs / 1000.0),
        "rebuild_rows_per_s" -> rows / (buildMs / 1000.0)),
      servedShards = Some(lastShards),
      layer = {
        val core = Replay.core(c, Seq(snapDir), None)
        Map(
          "core.rowPath_ms_per_file" -> Stats.median(core.rowPathMs),
          "core.dedup_ratio" -> core.ops.toDouble / math.max(1L, core.events),
          "core.shuffle_bytes_per_file" -> core.shuffleBytes.toDouble,
          "mapping.docMap_cells_per_s" -> core.cells / math.max(1e-9, core.docMapMs.sum / 1000.0))
      })
  }
}
