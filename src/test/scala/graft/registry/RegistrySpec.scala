package graft.registry

import graft.SparkSpec
import graft.model.{Cell, MutationEvent}
import org.apache.spark.sql.functions._

/** C1/C2 catalog + OCC semantics, and the T5 lifecycle
  * (pause / resume / rewind) driven end-to-end through the supervisor and
  * the real streaming path — mirroring the reference's incremental-state
  * IT scenarios (IndexerIT.java:414-489, :547-603). */
class RegistrySpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val confXml =
    """<indexer table="events" read-row="never">
      |  <field name="val_s" value="evt:*" type="string"/>
      |  <field name="etype_s" value="evt:*" source="qualifier" type="string"/>
      |</indexer>""".stripMargin

  test("registry CRUD + OCC: stale update rejected, versions advance") {
    val reg = new IndexerRegistry(tmp("graft_reg"))
    val d0 = reg.add(IndexerDefinition("idx1", confXml))
    assert(d0.occVersion == 0L)
    assert(reg.list().map(_.name) == Seq("idx1"))

    val d1 = reg.update(d0.copy(subscriptionTimestamp = 42L))
    assert(d1.occVersion == 1L)
    assert(reg.get("idx1").get.subscriptionTimestamp == 42L)

    // stale writer (still holding occVersion 0) must fail
    intercept[ConcurrentModificationError] {
      reg.update(d0.copy(subscriptionTimestamp = 99L))
    }
    // json round-trip
    assert(reg.fromJson(reg.toJson(d1)) == d1)
    // duplicate add rejected
    intercept[IllegalStateException] { reg.add(IndexerDefinition("idx1", confXml)) }
  }

  private def writeLog(logDir: String, batch: Int, events: Seq[MutationEvent]): Unit = {
    import spark.implicits._
    spark.createDataset(events).toDF()
      .coalesce(1).write.mode("append").parquet(logDir)
  }

  private def ev(user: String, seq: Long, writeTime: Long, etype: String, v: String) =
    MutationEvent("events", user, seq, writeTime,
      Seq(Cell("evt", etype, seq, "put", v)), None)

  test("indexer names validate like the reference (IndexerNameValidatorTest parity)") {
    val reg = new IndexerRegistry(tmp("graft_regn"))
    for (bad <- Seq("", "with space", "with-dash", "with.dot", "bad/slash"))
      intercept[IllegalArgumentException] {
        reg.add(IndexerDefinition(bad, confXml))
      }
    reg.add(IndexerDefinition("ok_Name_42", confXml))
    assert(reg.get("ok_Name_42").isDefined)
  }

  test("batch rebuild ≡ streamed drain over the same mutation log (IndexerIT-style)") {
    val logs = tmp("graft_logs_eq"); val work = tmp("graft_work_eq")
    val log = s"$logs/idx"
    // adds, a same-row update with a later seq, and interleaved rows — the
    // two paths must agree on last-wins semantics
    writeLog(log, 1, Seq(ev("u1", 1, 10, "click", "a"), ev("u2", 2, 10, "view", "b")))
    writeLog(log, 2, Seq(ev("u1", 3, 20, "click", "a2"), ev("u3", 4, 20, "buy", "c")))
    val conf = graft.conf.IndexerConf.fromXml(confXml)

    def flat(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), explode(col("doc")).as(Seq("f", "vs")))
        .select(col("id"), col("f"), concat_ws(",", col("vs")).as("v"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

    val streamed = graft.streaming.MutationStream.runToCompletion(spark, conf, log, work)

    val snapshot = spark.read.schema(graft.model.Schemas.mutationEvent).parquet(log)
    val batchOps = graft.streaming.MutationStream.opsWithSinkMeta(
      graft.batch.BatchPipeline.run(conf, snapshot))
    val bState = new graft.streaming.IndexState(tmp("graft_state_eq"), spark)
    graft.streaming.MutationStream.applyBatch(bState, batchOps, 0L)

    val s = flat(streamed)
    val b = flat(bState.read().get)
    assert(s.nonEmpty && s == b,
      s"batch and streamed index state must be identical; stream=$s batch=$b")
  }

  test("supervisor lifecycle: consume → pause → resume → rewind-to-now (T5)") {
    val regDir = tmp("graft_reg2"); val work = tmp("graft_work"); val logs = tmp("graft_logs")
    val reg = new IndexerRegistry(regDir)
    val sup = new IndexerSupervisor(spark, reg, work, name => s"$logs/$name",
      nowNanos = () => 1000L)
    val log = s"$logs/idx"

    reg.add(IndexerDefinition("idx", confXml))
    writeLog(log, 1, Seq(ev("u1", 1, 10, "click", "1.0"), ev("u2", 2, 10, "view", "2.0")))
    sup.sync()
    def stateMap(): Map[String, String] =
      sup.indexState("idx").get
        .select(col("id"), element_at(col("doc")("val_s"), 1).as("v"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(stateMap() == Map("u1" -> "1.0", "u2" -> "2.0"))

    // pause: new events arrive but are not consumed
    val d1 = reg.get("idx").get
    reg.update(d1.copy(incrementalState = IncrementalIndexingState.SubscribeDoNotConsume))
    writeLog(log, 2, Seq(ev("u1", 3, 20, "click", "1.1")))
    sup.sync()
    assert(stateMap() == Map("u1" -> "1.0", "u2" -> "2.0"), "paused indexer must not consume")

    // resume: the checkpoint position is retained — the queued event lands
    val d2 = reg.get("idx").get
    reg.update(d2.copy(incrementalState = IncrementalIndexingState.SubscribeAndConsume))
    sup.sync()
    assert(stateMap() == Map("u1" -> "1.1", "u2" -> "2.0"), "resume continues from checkpoint")

    // unsubscribe, then re-subscribe "now": checkpoint dropped, and the
    // new subscription timestamp (1000) skips all history below it
    val d3 = reg.get("idx").get
    reg.update(d3.copy(incrementalState = IncrementalIndexingState.DoNotSubscribe))
    sup.sync()
    sup.resubscribeNow("idx")
    writeLog(log, 3, Seq(ev("u3", 4, 500, "click", "old"), ev("u4", 5, 2000, "view", "new")))
    sup.sync()
    assert(reg.get("idx").get.subscriptionTimestamp == 1000L)
    val m = stateMap()
    assert(m.get("u4").contains("new"), "post-subscription event must index")
    assert(!m.contains("u3"), "pre-subscription history must be skipped after rewind")

    // batch build: BUILD_REQUESTED → BUILDING → INACTIVE, shards on disk
    sup.requestBatchBuild("idx")
    sup.sync()
    assert(reg.get("idx").get.batchState == BatchIndexingState.Inactive)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$work/idx/shards")))

    // delete lifecycle: flag-flip, supervisor executes, state removed
    reg.requestDelete("idx")
    sup.sync()
    assert(reg.list().isEmpty)
    assert(sup.indexState("idx").isEmpty)
  }

  test("T6 drain report: ingress counters, durations, backlog, committed version") {
    val regDir = tmp("graft_reg3"); val work = tmp("graft_work3"); val logs = tmp("graft_logs3")
    val reg = new IndexerRegistry(regDir)
    val sup = new IndexerSupervisor(spark, reg, work, name => s"$logs/$name")
    val log = s"$logs/idx"

    reg.add(IndexerDefinition("idx", confXml, subscriptionTimestamp = 15L))
    writeLog(log, 1, Seq(ev("u1", 1, 10, "click", "old"), ev("u2", 2, 20, "view", "new")))
    val rep = sup.waitUntilDrained("idx")

    assert(rep.batches >= 1L)
    assert(rep.events == 2L, s"observe() must count both ingress events: $rep")
    assert(rep.applicable == 1L, "only the post-subscription event is applicable")
    assert(rep.inputRows == 2L)
    assert(rep.lastBatchDurationMs > 0L)
    assert(rep.processedFiles == 1L && rep.backlogFiles == 0L, s"drained: $rep")
    assert(rep.lastCommittedVersion.exists(_.startsWith("MANIFEST-")))

    // new un-consumed log file shows up as backlog on the stored report? —
    // the report is a snapshot; a fresh drain consumes it and re-zeroes
    writeLog(log, 2, Seq(ev("u3", 3, 30, "click", "x")))
    val rep2 = sup.waitUntilDrained("idx")
    assert(rep2.processedFiles == 2L && rep2.backlogFiles == 0L)
    assert(sup.progressReport("idx").contains(rep2))
    assert(rep2.bySource.get("(root)").contains(graft.streaming.SourceLag(2L, 0L)),
      s"drained log must show per-source processed=2/backlog=0: ${rep2.bySource}")

    // uneven backlog across SOURCES (subdirectories of the log): source
    // (see also the retention-cap test below)
    // 'src-a' gets two pending files, 'src-b' one — the census must show
    // the skew per source, not one merged number
    writeLog(s"$log/src-a", 3, Seq(ev("u4", 4, 40, "click", "x")))
    writeLog(s"$log/src-a", 4, Seq(ev("u5", 5, 50, "view", "x")))
    writeLog(s"$log/src-b", 5, Seq(ev("u6", 6, 60, "click", "x")))
    val lag = sup.sourceLag("idx")
    assert(lag.get("(root)").contains(graft.streaming.SourceLag(2L, 0L)), lag)
    assert(lag.get("src-a").contains(graft.streaming.SourceLag(0L, 2L)),
      s"skewed source must be visible: $lag")
    assert(lag.get("src-b").contains(graft.streaming.SourceLag(0L, 1L)), lag)
  }

  test("progress totals survive past the recentProgress retention cap (listener path)") {
    val regDir = tmp("graft_reg4"); val work = tmp("graft_work4"); val logs = tmp("graft_logs4")
    val reg = new IndexerRegistry(regDir)
    val sup = new IndexerSupervisor(spark, reg, work, name => s"$logs/$name")
    val log = s"$logs/idx"
    reg.add(IndexerDefinition("idx", confXml))
    // 6 log files × maxFilesPerTrigger=1 = at least 6 micro-batches, but
    // Spark only RETAINS the last `numRecentProgressUpdates` progress
    // objects — with retention 3, a recentProgress-summing report would
    // silently claim 3 batches / 3 events
    (1 to 6).foreach(i => writeLog(log, i, Seq(ev(s"u$i", i.toLong, 10L * i, "click", "v"))))
    val prev = spark.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "3")
    try {
      val rep = sup.waitUntilDrained("idx")
      assert(rep.batches >= 6L, s"listener must count every batch, got $rep")
      assert(rep.events == 6L && rep.inputRows == 6L,
        s"counters must cover the whole drain, not the retained tail: $rep")
    } finally spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", prev)
  }

  test("empty drains settle at once; busy drains still report full totals") {
    val regDir = tmp("graft_reg6"); val work = tmp("graft_work6"); val logs = tmp("graft_logs6")
    val reg = new IndexerRegistry(regDir)
    val sup = new IndexerSupervisor(spark, reg, work, name => s"$logs/$name")
    val log = s"$logs/idx"
    reg.add(IndexerDefinition("idx", confXml))
    (1 to 3).foreach(i => writeLog(log, i, Seq(ev(s"u$i", i.toLong, 10L * i, "click", "v"))))
    val busy = sup.waitUntilDrained("idx")
    assert(busy.batches == 3L && busy.events == 3L && busy.inputRows == 3L,
      s"a busy drain must report every batch: $busy")
    // the empty drains: the checkpoint is at the end of the log, so no
    // batch runs and no progress event will ever reach the listener
    val walls = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val rep = sup.waitUntilDrained("idx")
      val ms = (System.nanoTime() - t0) / 1e6
      assert(rep.batches == 0L && rep.inputRows == 0L, s"empty drain ran no batch: $rep")
      ms
    }
    assert(walls.min < 500.0, s"an empty drain must not wait out a settle timeout: $walls")
  }

  test("C3 admission arm: build → admit → append → admit through the supervisor") {
    import spark.implicits._
    val regDir = tmp("graft_reg5"); val work = tmp("graft_work5"); val logs = tmp("graft_logs5")
    val reg = new IndexerRegistry(regDir)
    val sup = new IndexerSupervisor(spark, reg, work, name => s"$logs/$name")
    reg.add(IndexerDefinition("idx", confXml))

    val corpus = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta",
      2L -> "one two three four five six seven").toDF("doc_id", "text")
    sup.buildAdmissionIndex("idx", corpus, "doc_id", "text", bands = 4, rowsPerBand = 2)

    // round 1: a corpus near-dup (rejected) and a novel doc (admitted,
    // then appended to the index)
    val r1 = sup.admitIncrement("idx", Seq(
      10L -> "alpha beta gamma delta epsilon zeta theta",
      11L -> "red orange yellow green blue indigo violet").toDF("doc_id", "text"),
      "doc_id", "text").collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Number]("kept").longValue()).toMap
    assert(r1 == Map(10L -> 0L, 11L -> 1L), s"round 1 verdicts: $r1")

    // round 2: a second-generation copy of the round-1 admit must now
    // reject as a CORPUS dup — only the appended doc can gate it
    val r2 = sup.admitIncrement("idx", Seq(
      20L -> "red orange yellow green blue indigo cyan").toDF("doc_id", "text"),
      "doc_id", "text").collect()
    assert(r2.length == 1)
    assert(r2.head.getAs[Number]("kept").longValue() == 0L,
      s"second-generation copy must reject against the appended slice: ${r2.head}")
    assert(r2.head.getAs[Number]("n_corpus_dups").longValue() >= 1L)
    assert(sup.admissionRounds("idx") == Seq(1, 2))

    // unknown indexer and missing index both fail loudly
    intercept[IllegalStateException] {
      sup.admitIncrement("nope", corpus, "doc_id", "text")
    }
    reg.add(IndexerDefinition("bare", confXml))
    intercept[IllegalArgumentException] {
      sup.admitIncrement("bare", corpus, "doc_id", "text")
    }
  }

  test("C3 vector arm: build → ingest → search through the supervisor; append ≡ one-shot build") {
    val regDir = tmp("graft_reg7"); val work = tmp("graft_work7"); val logs = tmp("graft_logs7")
    val reg = new IndexerRegistry(regDir)
    val sup = new IndexerSupervisor(spark, reg, work, name => s"$logs/$name")
    reg.add(IndexerDefinition("idx", confXml))

    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 === 1)
    val probes = emb.filter(col("vec_id") < 5)

    // build on the evens, ingest the odds under the frozen codebooks
    sup.buildVectorIndex("idx", evens, "vec_id", "embedding")
    sup.ingestVectors("idx", odds, "vec_id", "embedding")
    val got = sup.searchVectors("idx", probes, "vec_id", "embedding", k = 5)
      .orderBy(col("q_id"), col("rk")).collect().toSeq
    assert(got.nonEmpty)

    // append ≡ rebuild is only guaranteed under the SAME codebooks: a
    // one-shot index over evens∪odds with evens-trained books must serve
    // identical results
    reg.add(IndexerDefinition("oneshot", confXml))
    val evensPrep = graft.ops.Similarity.prep(evens, "vec_id", "embedding")
    val (co, bo) = (graft.ops.Similarity.trainCentroids(evensPrep, 8, 2),
      graft.ops.Similarity.trainPqCodebooks(evensPrep, m = 4, dim = 64))
    graft.ops.Similarity.buildIvfPqIndex(
      graft.ops.Similarity.prep(emb, "vec_id", "embedding"),
      s"$work/oneshot/ivfpq", coarse = Some(co), books = Some(bo))
    val oneShot = sup.searchVectors("oneshot", probes, "vec_id", "embedding", k = 5)
      .orderBy(col("q_id"), col("rk")).collect().toSeq
    assert(got == oneShot, "supervisor ingest path must equal a one-shot build")

    // unknown indexer and missing index both fail loudly
    intercept[IllegalStateException] {
      sup.searchVectors("nope", probes, "vec_id", "embedding", k = 5)
    }
    reg.add(IndexerDefinition("bare", confXml))
    intercept[IllegalArgumentException] {
      sup.ingestVectors("bare", odds, "vec_id", "embedding")
    }
  }

  test("C3 vector arm deletions: delete masks, compact applies, serving stable") {
    val regDir = tmp("graft_reg8"); val work = tmp("graft_work8"); val logs = tmp("graft_logs8")
    val reg = new IndexerRegistry(regDir)
    val sup = new IndexerSupervisor(spark, reg, work, name => s"$logs/$name")
    reg.add(IndexerDefinition("idx", confXml))

    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 5)
    sup.buildVectorIndex("idx", emb, "vec_id", "embedding")
    def served() = sup.searchVectors("idx", probes, "vec_id", "embedding", k = 5)
      .orderBy(col("q_id"), col("rk")).collect().toSeq
    val before = served()
    sup.deleteVectors("idx", emb.filter(col("vec_id") % 7 === 3).select("vec_id"))
    val masked = served()
    assert(masked != before && masked.forall(_.getLong(1) % 7 != 3),
      "deleted vectors must never surface through the supervisor")
    sup.compactVectorIndex("idx")
    assert(served() == masked, "compaction must not change serving")
    intercept[IllegalStateException] {
      sup.deleteVectors("nope", emb.select("vec_id"))
    }
  }

  test("C3 re-crawl arm: freeze → chunked ingest (any order) → diff == batch triage") {
    import spark.implicits._
    val regDir = tmp("graft_reg9"); val work = tmp("graft_work9"); val logs = tmp("graft_logs9")
    val reg = new IndexerRegistry(regDir)
    val sup = new IndexerSupervisor(spark, reg, work, name => s"$logs/$name")
    reg.add(IndexerDefinition("idx", confXml))

    val v1 = Seq(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "spark shuffles partition data across the cluster by key",
      3L -> "a completely different document about gardening tools",
      4L -> "this page disappears in the next crawl").toDF("doc_id", "text")
    val v2 = Seq(
      1L -> "  the quick brown fox jumps over the lazy dog today ",
      2L -> "spark shuffles partition data across the cluster by key ok",
      3L -> "tools gardening about document different completely a",
      9L -> "a brand new page").toDF("doc_id", "text")

    sup.freezeRecrawlBaseline("idx", v1, "doc_id", "text")
    // chunks arrive out of id order — verdicts are order-free
    sup.ingestRecrawl("idx", v2.filter(col("doc_id") > 2), "doc_id", "text")
    sup.ingestRecrawl("idx", v2.filter(col("doc_id") <= 2), "doc_id", "text")
    val got = sup.recrawlDiff("idx").orderBy("doc_id").collect().toSeq
    val expected = graft.ops.Dedup.snapshotFuzzyDiff(v1, v2, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(got == expected, s"supervisor diff must equal the batch triage: $got")

    // a second epoch needs an explicit verdict reset — no silent mixing
    intercept[IllegalArgumentException] {
      sup.freezeRecrawlBaseline("idx", v2, "doc_id", "text")
    }
    // ingest without a baseline fails loudly
    reg.add(IndexerDefinition("bare", confXml))
    intercept[IllegalArgumentException] {
      sup.ingestRecrawl("bare", v2, "doc_id", "text")
    }
  }

  test("C3 percolation arm: frozen standing queries route batches through the supervisor") {
    import spark.implicits._
    val regDir = tmp("graft_reg6"); val work = tmp("graft_work6"); val logs = tmp("graft_logs6")
    val reg = new IndexerRegistry(regDir)
    val sup = new IndexerSupervisor(spark, reg, work, name => s"$logs/$name")
    reg.add(IndexerDefinition("idx", confXml))

    val corpus = Seq(
      1L -> "spark index search engine", 2L -> "alpha beta gamma",
      3L -> "search engine ranking", 4L -> "unrelated words here"
    ).toDF("doc_id", "text")
    val queries = Seq(0L -> Seq("search", "engine"), 1L -> Seq("alpha"))
    sup.registerStandingQueries("idx", corpus, "doc_id", "text", queries)

    val batch = Seq(
      10L -> "a new search engine doc", 11L -> "alpha something",
      12L -> "nothing relevant").toDF("doc_id", "text")
    val routes = sup.routeBatch("idx", batch, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    assert(routes.map(_._2) == Set(10L, 11L))
    assert(routes == Set((0L, 10L), (1L, 11L)), routes.toString)
    // routing ≡ the library path under the same frozen stats
    val (n, t) = graft.ops.Search.corpusTokenStats(corpus, "text")
    val dfm = graft.ops.Search.termDf(corpus, "text", queries.flatMap(_._2))
    val direct = graft.ops.Search.bm25Scores(batch, "doc_id", "text", queries, dfm, n, t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaSup = sup.routeBatch("idx", batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaSup == direct)
    // unregistered indexer / missing percolator fail loudly
    intercept[IllegalStateException] {
      sup.routeBatch("nope", batch, "doc_id", "text")
    }
    reg.add(IndexerDefinition("bare", confXml))
    intercept[IllegalArgumentException] {
      sup.routeBatch("bare", batch, "doc_id", "text")
    }
  }
}
