package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}

/** Pins the fused-manifest crash contract (round-14's GenManifest /
  * GenMeta rework): (a) a crash between the idempotent output write and
  * the manifest commit replays into an identical overwrite, never
  * duplicates; (b) a crash after the commit is a bit-exact redelivery
  * detected by the fused (gen, lo, hi) and skipped; (c) an empty delta
  * carrying meta kv still claims a txn slot (the rollup pointers must
  * advance on an all-stale batch); (d) generation sweep is two-phase
  * with a grace window so a concurrent reader that resolved the old
  * pointer never loses its files mid-scan. */
class GenManifestSpec extends SparkSpec {

  /** The read schema of the (k, v) generations these cases commit. */
  private val kvSchema = IndexState.readSchema(
    new org.apache.spark.sql.types.StructType().add("k", "long").add("v", "long")).json

  private def copyDir(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.iterator().forEachRemaining { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t); () }
    } finally walk.close()
  }

  test("read: fused manifest layout") {
    val d = Files.createTempDirectory("graft_gm").toString
    assert(GenManifest.read(d).isEmpty)
    // one file, one commit point
    GenManifest.commit(d, "g4", 10L, 20L, kvSchema)
    assert(GenManifest.read(d).contains(("g4", 10L, 20L)))
    assert(GenManifest.isRedelivery(d, 10L, 20L, "c"))
    intercept[IllegalStateException](GenManifest.isRedelivery(d, 15L, 25L, "c"))
    assert(!GenManifest.isRedelivery(d, 21L, 22L, "c"))
  }

  test("empty delta with kv claims a txn slot; without kv it claims nothing") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft_gm3").toString
    val st = new TxnLogState(s"$work/st", spark, 4)
    def slots = {
      val l = Files.list(Paths.get(s"$work/st", "_txnlog"))
      try {
        var n = 0; val it = l.iterator()
        while (it.hasNext) if (it.next().getFileName.toString.endsWith(".txn")) n += 1
        n
      } finally l.close()
    }
    st.commitAppendWithMeta(Seq.empty[String].toDF("id"), "r0000000000",
      Seq.empty, Map("m.gen" -> "g1", "m.hwm" -> "1,2"))
    assert(slots == 1, "a kv-carrying empty delta must claim a txn slot")
    // a FRESH handle over the same dir must see the meta (it rode the log)
    val st2 = new TxnLogState(s"$work/st", spark, 4)
    assert(st2.stateMeta("m.gen").contains("g1"))
    assert(st2.stateMeta("m.hwm").contains("1,2"))
    // an empty delta with NO kv is a true no-op: nothing to log
    st.commitAppend(Seq.empty[String].toDF("id"), "r0000000001", Seq.empty)
    assert(slots == 1, "an empty delta with no kv must not claim a slot")
    val st3 = new TxnLogState(s"$work/st", spark, 4)
    assert(st3.stateMeta("m.gen").contains("g1"))
  }

  test("quota: kill between output write and manifest commit replays without duplicates") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "a"), (5L, "b"))
      .toDF("doc_id", "cls")
    val quotas = Map("a" -> 2L, "b" -> 10L)
    val work = Files.createTempDirectory("graft_gm5").toString
    val (state, out) = (s"$work/state", s"$work/out")
    StreamQuota.applyBatch(state, quotas, docs.filter(col("doc_id") <= 2), out, 0L)
    // snapshot the pre-batch-1 durable state (manifest + counter gen)
    val cur0 = Files.readString(Paths.get(state, "_current"))
    val g0 = GenManifest.currentGen(state).get
    copyDir(Paths.get(state, g0), Paths.get(s"$work/g0_saved"))
    def admitted() = spark.read.parquet(out)
      .select(col("doc_id"), col("cls"), col("adm_rk"))
      .orderBy(col("doc_id")).collect().toSeq
    StreamQuota.applyBatch(state, quotas,
      docs.filter(col("doc_id") > 2), out, 1L)
    val once = admitted()
    // quota a=2 → doc 4 rejected; within-batch rank continues the counter
    assert(once.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      == Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "a", 2L), (5L, "b", 2L)))
    // ---- simulate the crash: output + new gen landed, commit did NOT —
    // restore the pre-batch manifest and the old counter generation as
    // they were (the sweep has stamped g0 but kept it)
    IndexState.atomicWriteString(Paths.get(state, "_current"), cur0)
    IndexState.deleteTree(Paths.get(state, g0))
    copyDir(Paths.get(s"$work/g0_saved"), Paths.get(state, g0))
    StreamQuota.applyBatch(state, quotas,
      docs.filter(col("doc_id") > 2), out, 1L) // the replay
    assert(admitted() == once, "replay must overwrite identically, not append")
    // ---- and a post-commit redelivery is skipped outright (fused lo/hi)
    val cur1 = Files.readString(Paths.get(state, "_current"))
    StreamQuota.applyBatch(state, quotas,
      docs.filter(col("doc_id") > 2), out, 2L)
    assert(admitted() == once)
    assert(Files.readString(Paths.get(state, "_current")) == cur1,
      "a skipped redelivery must not advance the manifest")
  }

  test("sweep: two-phase with grace window; doomed dirs stay readable until it expires") {
    val agg = Files.createTempDirectory("graft_gm6").toString
    Files.createDirectories(Paths.get(agg, "g0"))
    Files.writeString(Paths.get(agg, "g0", "part-0"), "x")
    Files.createDirectories(Paths.get(agg, "g1"))
    // first sweep: stamps, does NOT delete (grace window open)
    GenMeta.sweep(agg, keep = "g1", graceMs = 60 * 60 * 1000L)
    assert(Files.exists(Paths.get(agg, "g0", "part-0")), "grace window must hold")
    assert(Files.exists(Paths.get(agg, "g0", "_doomed")))
    // sweep with the window expired: reclaimed
    GenMeta.sweep(agg, keep = "g1", graceMs = 0L)
    assert(!Files.exists(Paths.get(agg, "g0")))
    assert(Files.exists(Paths.get(agg, "g1")))
    // a re-committed (live-again) generation gets its stale stamp cleared
    Files.createDirectories(Paths.get(agg, "g2"))
    GenMeta.sweep(agg, keep = "g1", graceMs = 60 * 60 * 1000L) // dooms g2
    GenMeta.sweep(agg, keep = "g2", graceMs = 60 * 60 * 1000L) // g2 live again
    assert(!Files.exists(Paths.get(agg, "g2", "_doomed")))
  }

  test("sweep: count-bounded retention deletes beyond graceKeep even inside the window") {
    val agg = Files.createTempDirectory("graft_gm7").toString
    (0 to 5).foreach { i =>
      Files.createDirectories(Paths.get(agg, s"g$i"))
      Files.writeString(Paths.get(agg, s"g$i", "part-0"), "x")
    }
    // g5 live; g0..g4 superseded, all inside a wide-open grace window.
    // Commit count alone must NOT delete — a reader that just resolved
    // g0 may still be materializing its lazy scan (the floor is its
    // hard bound), so with the default floor everything lingers
    GenMeta.sweep(agg, keep = "g5", graceMs = 60 * 60 * 1000L, graceKeep = 2)
    (0 to 4).foreach(i => assert(Files.exists(Paths.get(agg, s"g$i")),
      s"g$i must survive: count rank alone never deletes inside the floor"))
    // once the floor has passed, only the graceKeep=2 newest (g4, g3)
    // keep the FULL window; older ones are reclaimed
    GenMeta.sweep(agg, keep = "g5", graceMs = 60 * 60 * 1000L, graceKeep = 2,
      graceFloorMs = 0L)
    assert(Files.exists(Paths.get(agg, "g5")))
    assert(Files.exists(Paths.get(agg, "g4")) && Files.exists(Paths.get(agg, "g3")),
      "graceKeep newest superseded gens must get the full grace window")
    assert(!Files.exists(Paths.get(agg, "g2")) && !Files.exists(Paths.get(agg, "g1")) &&
      !Files.exists(Paths.get(agg, "g0")),
      "older superseded gens must be reclaimed once past the floor")
    // a non-numeric stray ranks OLDEST (never occupies a protected
    // slot): with floor passed it is reclaimed while g4/g3 linger
    Files.createDirectories(Paths.get(agg, "gstray"))
    GenMeta.sweep(agg, keep = "g5", graceMs = 60 * 60 * 1000L, graceKeep = 2,
      graceFloorMs = 0L)
    assert(!Files.exists(Paths.get(agg, "gstray")),
      "non-numeric gen names must rank oldest, not newest (negation overflow)")
    assert(Files.exists(Paths.get(agg, "g4")) && Files.exists(Paths.get(agg, "g3")))
    // a corrupted (partial-write) _doomed stamp must not wedge the sweep:
    // it is re-stamped now, not thrown on
    Files.createDirectories(Paths.get(agg, "g6"))
    Files.writeString(Paths.get(agg, "g6", "_doomed"), "")
    GenMeta.sweep(agg, keep = "g5", graceMs = 60 * 60 * 1000L, graceKeep = 2)
    val restamped = Files.readString(Paths.get(agg, "g6", "_doomed")).trim
    assert(restamped.nonEmpty && restamped.forall(_.isDigit),
      s"partial stamp must be rewritten, got '$restamped'")
  }

  test("sweep crash-window: a lazy reader that resolved CURRENT materializes safely across aggressive sweeps") {
    import spark.implicits._
    val agg = Files.createTempDirectory("graft_gm8").toString
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").write.parquet(s"$agg/g0")
    GenManifest.commit(agg, "g0", 0L, 9L, kvSchema)
    // the reader resolves CURRENT and builds its LAZY scan — no action
    // yet; this is exactly the window the graceFloor exists to protect
    val gen = GenManifest.currentGen(agg).get
    val lazyScan = spark.read.parquet(s"$agg/$gen")
    // the writer advances five generations, sweeping aggressively after
    // each: rank-based retention protects NOTHING (graceKeep = 0), so
    // only the graceFloor stands between the reader and a
    // FileNotFoundException mid-materialization
    (1 to 5).foreach { i =>
      Seq((1L, 10L + i)).toDF("k", "v").write.parquet(s"$agg/g$i")
      GenManifest.commit(agg, s"g$i", i * 10L, i * 10L + 9L, kvSchema)
      GenMeta.sweep(agg, keep = s"g$i", graceMs = 60 * 60 * 1000L, graceKeep = 0)
    }
    assert(Files.exists(Paths.get(agg, "g0", "_doomed")), "g0 must be stamped")
    // the materialization the whole discipline guarantees: succeeds with
    // the ORIGINAL generation's rows, not an error and not g5's
    assert(lazyScan.collect().map(_.getLong(1)).sorted.toSeq == Seq(10L, 20L))
    // boundary: once the floor too has passed, the dir is reclaimed
    GenMeta.sweep(agg, keep = "g5", graceMs = 60 * 60 * 1000L, graceKeep = 0,
      graceFloorMs = 0L)
    assert(!Files.exists(Paths.get(agg, "g0")), "past the floor g0 is reclaimed")
  }

  test("advance: a frame resolved through live still collects after the next advance") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_gm9").toString
    GenManifest.advance(d, 0L, Seq((1L, 10L)).toDF("k", "v"), 0L, 0L)
    // a dashboard read (Supervisor.quotaStatus) resolves the pointer, then
    // a drain advances it before the read collects
    val earlier = GenManifest.live(spark, d).get
    GenManifest.advance(d, 1L, Seq((2L, 20L)).toDF("k", "v"), 1L, 1L)
    assert(earlier.collect().map(_.getLong(1)).toSeq == Seq(10L))
    assert(GenManifest.live(spark, d).get.collect().map(_.getLong(1)).toSeq == Seq(20L))
    assert(Files.exists(Paths.get(d, "g0", "_doomed")), "the replaced generation is stamped")
    // once its grace has passed, the sweep reclaims it
    GenMeta.sweep(d, keep = "g1", graceMs = 0L)
    assert(!Files.exists(Paths.get(d, "g0")) && Files.exists(Paths.get(d, "g1")))
  }

  test("a generation dir rebuilt at one path with a new schema reads through the new schema") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft_gm_rebuilt").toString
    // a GenManifest.advance directory: first written as (k, v) ...
    val gen = s"$work/gen"
    GenManifest.advance(gen, 0L, Seq((1L, 10L)).toDF("k", "v"), 0L, 0L)
    assert(GenManifest.live(spark, gen).get.columns.toSeq == Seq("k", "v"))
    // ... then deleted and rebuilt as (k, w)
    IndexState.deleteTree(Paths.get(gen))
    GenManifest.advance(gen, 0L, Seq((2L, "x")).toDF("k", "w"), 0L, 0L)
    val g = GenManifest.live(spark, gen).get
    assert(g.columns.toSeq == Seq("k", "w"))
    assert(g.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "x")))

    // a GenMeta rollup and its store: the same through GenMeta.write/live
    val (agg, st) = (s"$work/agg", s"$work/st")
    def commitRollup(rollup: org.apache.spark.sql.DataFrame): Unit = {
      val (name, schema) = GenMeta.write(agg, 0L, rollup)
      new TxnLogState(st, spark, 4).commitWithMeta(Seq("a").toDF("id"), "r0000000000",
        Seq(0, 1, 2, 3), GenMeta.kv("ns", name, schema, 0L, 0L))
    }
    commitRollup(Seq((1L, 10L)).toDF("k", "v"))
    assert(GenMeta.live(spark, new TxnLogState(st, spark), "ns", agg).get.columns.toSeq == Seq("k", "v"))
    IndexState.deleteTree(Paths.get(agg))
    IndexState.deleteTree(Paths.get(st))
    commitRollup(Seq((2L, "x")).toDF("k", "w"))
    val r = GenMeta.live(spark, new TxnLogState(st, spark), "ns", agg).get
    assert(r.columns.toSeq == Seq("k", "w"))
    assert(r.collect().map(x => (x.getLong(0), x.getString(1))).toSeq == Seq((2L, "x")))
  }

  /** THE manifest-drift guard (round-15 regression class): every
    * monitor that keeps rollup generations behind a filesystem pointer
    * must (a) write the FUSED `gen\tlo\thi` manifest — never a raw
    * gen-only pointer with a `_hwm` sibling — and (b) stay readable
    * through its own dashboard path after the commit. Round 15's
    * quota-dashboard 500 happened exactly because a reader parsed the
    * raw file while the writer had moved to the fused format; this test
    * enumerates ALL `_current` writers so any future format change
    * breaks HERE, not in production. (StreamVocab/Transitions/
    * Attribution/UniqueTokens ride the store meta, not a file;
    * StreamNovelty keeps a bare `_hwm` with append-only output — both
    * contracts pinned elsewhere.) */
  test("drift guard: every filesystem-manifest monitor writes fused and reads back") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft_gm8").toString

    def assertFused(dir: String, wantHwm: Boolean): Unit = {
      val raw = Files.readString(Paths.get(dir, "_current")).trim
      assert(raw.split("\t").length == 3, s"$dir: raw manifest '$raw' not fused")
      assert(!Files.exists(Paths.get(dir, "_hwm")), s"$dir: stale _hwm sibling")
      val Some((g, lo, hi)) = GenManifest.read(dir)
      assert(g.startsWith("g"))
      if (wantHwm) assert(lo != Long.MinValue && lo <= hi, s"$dir: hwm ($lo,$hi)")
    }

    // StreamQuota: commit → quota dashboard read (the round-15 breakage)
    val qdir = s"$work/quota"
    StreamQuota.applyBatch(s"$qdir/state", Map("a" -> 2L),
      Seq((1L, "a"), (2L, "a"), (3L, "a")).toDF("doc_id", "cls"), s"$qdir/out", 0L)
    assertFused(s"$qdir/state", wantHwm = true)
    val g = GenManifest.currentGen(s"$qdir/state").get
    assert(spark.read.parquet(s"$qdir/state/$g").count() == 1L)

    // StreamPsi: commit → summary
    val pdir = s"$work/psi"
    StreamPsi.applyBatch(pdir, Seq((1L, 0L), (2L, 1L)).toDF("doc_id", "bin"), 0L)
    assertFused(pdir, wantHwm = true)
    assert(StreamPsi.summary(spark, pdir, Seq(0L, 1L).toDF("bin")).count() > 0)

    // StreamBurst: commit → summary
    val bdir = s"$work/burst"
    StreamBurst.applyBatch(bdir,
      Seq((1L, "A", 100L), (2L, "A", 200L)).toDF("event_id", "event_type", "ts_s"), 0L)
    assertFused(bdir, wantHwm = true)
    StreamBurst.summary(spark, bdir).collect()

    // StreamAspect: commit → summary (tiny real PNG headers)
    def png(id: Long, w: Int, h: Int) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      (id, "image/png", bos.toByteArray)
    }
    val adir = s"$work/aspect"
    StreamAspect.applyBatch(adir,
      Seq(png(1L, 32, 32), png(2L, 64, 36)).toDF("doc_id", "mime", "payload"), 0L)
    assertFused(adir, wantHwm = true)
    assert(StreamAspect.summary(spark, adir).count() > 0)

    // StreamCalibration: commit → summary
    val docs = Seq((1L, "good clean text"), (2L, "zz spam junk")).toDF("doc_id", "text")
    val labels = Seq((1L, true), (2L, false)).toDF("doc_id", "lab")
    val (model, consts) = graft.ops.CorpusStats.nbTrain(docs, "doc_id", "text", labels)
    val cdir = s"$work/cal"
    StreamCalibration.applyBatch(model, consts, cdir,
      docs.join(labels, Seq("doc_id")), 0L)
    assertFused(cdir, wantHwm = true)
    assert(StreamCalibration.summary(spark, cdir).count() > 0)

    // StreamDecodeHealth: commit → summary
    val ddir = s"$work/dec"
    StreamDecodeHealth.applyBatch(ddir,
      Seq(png(1L, 8, 8), (2L, "image/png", Array[Byte](1, 2)))
        .toDF("doc_id", "mime", "payload"), 0L)
    assertFused(ddir, wantHwm = true)
    assert(StreamDecodeHealth.summary(spark, ddir).count() > 0)

    // StreamKmv (idempotent — sentinel hwm): commit → readState
    val kdir = s"$work/kmv"
    StreamKmv.applyBatch(Seq((1L, "alpha beta gamma delta", "g1"))
      .toDF("doc_id", "text", "grp"), "grp", "text", 4, kdir, 0L)
    assertFused(kdir, wantHwm = false)
    assert(StreamKmv.readState(spark, kdir, "grp").get.count() > 0)

    // StreamGramCoverage (idempotent — sentinel hwm): commit → readState
    val gdir = s"$work/cov"
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val probe = graft.ops.Dedup.shingleHashSets(bench, "doc_id", "text", 3)
      .select(explode(col("hs")).as("g")).distinct()
    StreamGramCoverage.applyBatch(
      Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
      "doc_id", "text", 3, probe, gdir, 0L)
    assertFused(gdir, wantHwm = false)
    assert(StreamGramCoverage.readState(spark, gdir).get.count() > 0)
  }
}
