package graft.registry

import graft.conf.IndexerConf
import graft.streaming.{IndexState, MutationStream}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** C3/C4/C7: the master/supervisor collapsed into one driver-side
  * scheduler (the reference splits them only because it is multi-node —
  * IndexerMaster.java:239-412 assigns subscriptions and launches batch
  * builds, IndexerSupervisor.java:179-278 wires and runs the indexers; in
  * one Spark driver there is no leader election to do).
  *
  * `sync()` reconciles running streams with the registry's desired state:
  *
  *  - SUBSCRIBE_AND_CONSUME → a named StreamingQuery is running;
  *  - SUBSCRIBE_DO_NOT_CONSUME → stopped, checkpoint retained (pause:
  *    events keep queueing in the log; resume picks up where it left off);
  *  - DO_NOT_SUBSCRIBE → stopped, checkpoint AND subscription dropped
  *    (re-subscribing later rewinds to "now": a fresh subscription
  *    timestamp skips history — reference T5 semantics);
  *  - DELETE_REQUESTED → stop, drop state, remove the definition
  *    (lifecycle DELETING → gone; IndexerMaster.java:363-412).
  *
  * The process registry (C7) is the `running` map — name → live query —
  * queryable like the reference's ephemeral ZK process nodes.
  *
  * The caller's session gets the engine's session settings
  * ([[graft.GraftSession.install]]) on construction, so everything the
  * supervisor runs writes `file:` paths without forking and shares one
  * codegen cache.
  */
class IndexerSupervisor(
    spark: SparkSession,
    val registry: IndexerRegistry,
    workRoot: String,
    logDirFor: String => String,
    nowNanos: () => Long = () => System.currentTimeMillis() * 1000000L) {

  graft.GraftSession.install(spark)

  private val running = new java.util.concurrent.ConcurrentHashMap[String, StreamingQuery]()
  private val lastReport =
    new java.util.concurrent.ConcurrentHashMap[String, graft.streaming.IndexerProgress]()
  // listener-backed so drains longer than the recentProgress retention
  // (default 100 batches) still report complete totals
  private val progressAcc = new graft.streaming.ProgressAccumulator(spark)

  private def dirs(name: String): (String, String) =
    (s"$workRoot/$name/index", s"$workRoot/$name/ckpt")

  def runningIndexers: Set[String] = running.keySet().asScala.toSet

  /** T6 monitoring: the drain report of the indexer's most recent run
    * (events/sec, batch durations, processed vs backlog files, last
    * committed state version) — the reference's replication-status
    * surface (ReplicationStatus.java:81-95). */
  def progressReport(name: String): Option[graft.streaming.IndexerProgress] =
    Option(lastReport.get(name))

  /** Drain one indexer now and return its progress report (the
    * reference's ReplicationWaitCli wait-until-drained + status). */
  def waitUntilDrained(name: String): graft.streaming.IndexerProgress = {
    val d = registry.get(name)
      .getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    reconcile(d)
    progressReport(name)
      .getOrElse(throw new IllegalStateException(s"indexer $name is not consuming"))
  }

  def indexState(name: String): Option[org.apache.spark.sql.DataFrame] =
    new graft.streaming.IndexState(dirs(name)._1, spark).read()

  /** Live per-source consumed/pending census (no drain needed) — the
    * reference's per-regionserver replication-lag breakdown. */
  def sourceLag(name: String): Map[String, graft.streaming.SourceLag] =
    graft.streaming.MutationStream.sourceLag(logDirFor(name), dirs(name)._2)

  /** Reconcile every definition's desired state. Blocking: streams run
    * with Trigger.AvailableNow and are awaited (drain semantics — the
    * reference's ReplicationWaitCli wait-until-drained, T6). */
  def sync(): Unit = {
    registry.list().foreach { d =>
      d.lifecycleState match {
        case LifecycleState.DeleteRequested => executeDelete(d)
        case LifecycleState.Active => reconcile(d)
        case _ => ()
      }
    }
  }

  /** [[sync]] with the reference's PRODUCTION concurrency: every
    * SUBSCRIBE_AND_CONSUME drain runs on its own pool thread (the
    * reference gives each indexer its own worker threads,
    * IndexerSupervisor.java:233-237), so N indexers share the cluster
    * instead of queueing behind one another's full drain. Safe by
    * construction: each streaming query plans against its OWN cloned
    * session ([[graft.streaming.TriggerScope]] scopes only that clone),
    * state/checkpoint dirs are per-indexer, and the progress listener
    * keys by runId. Deletes, pauses, and unsubscribes reconcile FIRST,
    * serially — they only stop queries and touch the registry. Blocks
    * until every drain completes; the first failure is rethrown after
    * the pool has fully quiesced (never a half-awaited pool). */
  def syncConcurrent(maxConcurrent: Int = 8): Unit = {
    require(maxConcurrent >= 1, s"maxConcurrent must be positive: $maxConcurrent")
    // ONE registry snapshot drives both passes — sync()'s semantics: a
    // definition flipping state between two reads could otherwise be
    // reconciled twice (serial pass + pool) or skipped entirely
    val snapshot = registry.list()
    snapshot.foreach { d =>
      d.lifecycleState match {
        case LifecycleState.DeleteRequested => executeDelete(d)
        case LifecycleState.Active
            if d.incrementalState != IncrementalIndexingState.SubscribeAndConsume =>
          reconcile(d)
        case _ => ()
      }
    }
    val consuming = snapshot.filter(d =>
      d.lifecycleState == LifecycleState.Active &&
        d.incrementalState == IncrementalIndexingState.SubscribeAndConsume)
    if (consuming.isEmpty) return
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(maxConcurrent, consuming.size))
    try {
      val futures = consuming.map { d =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = reconcile(d)
        })
      }
      val errs = futures.flatMap { f =>
        try { f.get(); None }
        catch { case e: java.util.concurrent.ExecutionException => Option(e.getCause) }
      }
      errs.headOption.foreach(throw _)
    } finally { pool.shutdown(); () }
  }

  /** C2/C3 batch arm: clients flip BUILD_REQUESTED; sync() executes the
    * batch pipeline (scan → mapping → sharded build) and returns the
    * state to INACTIVE (IndexerMaster.java:288-361). */
  def requestBatchBuild(name: String): IndexerDefinition = {
    val d = registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    registry.update(d.copy(batchState = BatchIndexingState.BuildRequested))
  }

  private def executeBatchBuild(d: IndexerDefinition): Unit = {
    val building = registry.update(d.copy(batchState = BatchIndexingState.Building))
    val conf = IndexerConf.fromXml(d.configXml)
    val snapshot = spark.read
      .schema(graft.model.Schemas.mutationEvent)
      .parquet(logDirFor(d.name))
    val ops = graft.batch.BatchPipeline.run(conf, snapshot)
    graft.batch.BatchPipeline.buildShards(
      ops.select("kind", "id", "doc"), numShards = 8, s"$workRoot/${d.name}/shards")
    registry.update(building.copy(batchState = BatchIndexingState.Inactive))
  }

  private def reconcile(d: IndexerDefinition): Unit = {
    if (d.batchState == BatchIndexingState.BuildRequested) executeBatchBuild(d)
    val (indexDir, ckptDir) = dirs(d.name)
    registry.get(d.name).getOrElse(d).incrementalState match {
      case IncrementalIndexingState.SubscribeAndConsume =>
        val conf = IndexerConf.fromXml(d.configXml)
        val q = MutationStream.start(
          spark, conf, logDirFor(d.name), indexDir, ckptDir,
          subscriptionTs = d.subscriptionTimestamp)
        running.put(d.name, q)
        q.awaitTermination()
        lastReport.put(d.name, MutationStream.progressOf(
          q, new graft.streaming.IndexState(indexDir, spark), logDirFor(d.name), ckptDir,
          Some(progressAcc)))
        running.remove(d.name)

      case IncrementalIndexingState.SubscribeDoNotConsume =>
        // pause: nothing to run; checkpoint + index state retained
        Option(running.remove(d.name)).foreach(_.stop())

      case IncrementalIndexingState.DoNotSubscribe =>
        // unsubscribe: drop checkpoint (the subscription position); a
        // later re-subscribe gets a fresh subscriptionTimestamp = now and
        // will skip history before it (rewind-to-now)
        Option(running.remove(d.name)).foreach(_.stop())
        IndexState.deleteTree(Paths.get(ckptDir))
    }
  }

  /** S5 one-row reindex (REST `POST /indexer/{name}?action=index&id=…`,
    * reference IndexerResource.java:141-182): re-run the mapping pipeline
    * for a single row key from the indexer's log and upsert the result
    * into its bucketed state — a point repair without a full rebuild.
    * Returns the number of ops applied. */
  def reindexRow(name: String, rowKey: String): Long = {
    val d = registry.get(name)
      .getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    val conf = IndexerConf.fromXml(d.configXml)
    val events = spark.read
      .schema(graft.model.Schemas.mutationEvent)
      .parquet(logDirFor(name))
      .filter(org.apache.spark.sql.functions.col("rowKey") === rowKey)
    val ops = MutationStream.opsWithSinkMeta(graft.core.IndexerCore.rowPath(conf, None)(events))
    val n = ops.count()
    val state = new graft.streaming.IndexState(dirs(name)._1, spark)
    MutationStream.applyBatch(state, ops, System.currentTimeMillis())
    n
  }

  // C3 admission arm (r11): the persisted near-dup admission index as an
  // OPERABLE per-indexer artifact, driven the way batch builds are —
  // build once, then each crawl increment is one synchronous
  // admit-and-append round (drain semantics, like reindexRow). Layout:
  //   $workRoot/<name>/neardup/        the index (sigs/bands/banddf/MANIFEST)
  //   $workRoot/<name>/admissions/rN   round N's verdict frame (parquet)
  // Verdicts are MATERIALIZED before the append: the admission frame is
  // lazy over the index parquet, so appending first would let a round
  // see its own admitted docs as corpus (the d18 invariant).

  private def admissionDir(name: String): String = s"$workRoot/$name/neardup"

  /** Build (or rebuild) the admission index for `name` from a
    * deduplicated corpus. Synchronous, like executeBatchBuild. */
  def buildAdmissionIndex(name: String, corpus: org.apache.spark.sql.DataFrame,
                          idCol: String, textCol: String,
                          bands: Int = 0, rowsPerBand: Int = 0,
                          n: Int = 3, threshold: Double = 0.5): Unit = {
    registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    graft.ops.Dedup.buildNearDupIndex(
      corpus, admissionDir(name), idCol, textCol, bands, rowsPerBand, n, threshold)
  }

  /** Admit a crawl increment against `name`'s index: returns the verdict
    * frame (doc_id, n_corpus_dups, n_batch_dups, best_jaccard, kept) read
    * back from the round's materialized parquet; when `append` (the
    * default), the kept slice is appended so the NEXT round sees
    * corpus ∪ admitted. Admission cost ∝ increment (admitWithIndex). */
  def admitIncrement(name: String, batch: org.apache.spark.sql.DataFrame,
                     idCol: String, textCol: String,
                     append: Boolean = true): org.apache.spark.sql.DataFrame = {
    registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    val idx = admissionDir(name)
    require(Files.exists(Paths.get(idx, "MANIFEST")),
      s"no admission index for $name — run buildAdmissionIndex first")
    val roundsRoot = Paths.get(s"$workRoot/$name/admissions")
    Files.createDirectories(roundsRoot)
    val round = {
      val existing = Files.list(roundsRoot)
      try existing.iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("r"))
        .map(_.drop(1).toInt).foldLeft(0)(math.max) + 1
      finally existing.close()
    }
    val out = s"$roundsRoot/r$round"
    graft.ops.Dedup.admitWithIndex(spark, idx, batch, idCol, textCol)
      .write.mode("overwrite").parquet(out)
    val verdicts = spark.read.parquet(out)
    if (append) {
      import org.apache.spark.sql.functions.col
      graft.ops.Dedup.appendToNearDupIndex(spark, idx,
        batch.join(verdicts.filter(col("kept") === 1).select(col(idCol)), Seq(idCol)),
        idCol, textCol)
    }
    verdicts
  }

  /** All admission rounds so far for `name`, newest last — the
    * admission analog of progressReport. */
  def admissionRounds(name: String): Seq[Int] = {
    val roundsRoot = Paths.get(s"$workRoot/$name/admissions")
    if (!Files.exists(roundsRoot)) Seq.empty
    else {
      val s = Files.list(roundsRoot)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("r")).map(_.drop(1).toInt).toSeq.sorted
      finally s.close()
    }
  }

  // C3 percolation arm (r11): standing saved-searches per indexer — the
  // s16 gate as an OPERABLE artifact. The query set, its term document
  // frequencies, and the corpus length stats FREEZE at registration (the
  // index-build moment), persist under $workRoot/<name>/percolator, and
  // every arriving batch routes against that frozen snapshot — scores
  // stay comparable across batches and re-registration is an explicit
  // operator action, not drift.

  private def percolatorDir(name: String): String = s"$workRoot/$name/percolator"

  /** Freeze a standing-query set for `name` against `corpus` (one
    * stats + df pass — the percolator's index build). */
  def registerStandingQueries(name: String, corpus: org.apache.spark.sql.DataFrame,
                              idCol: String, textCol: String,
                              queries: Seq[(Long, Seq[String])]): Unit = {
    registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    require(queries.nonEmpty, "registerStandingQueries: empty query set")
    val (n, t) = graft.ops.Search.corpusTokenStats(corpus, textCol)
    val dfm = graft.ops.Search.termDf(corpus, textCol, queries.flatMap(_._2).distinct)
    val dir = percolatorDir(name)
    import spark.implicits._
    queries.toDF("q_id", "terms").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/queries")
    dfm.toSeq.toDF("term", "df").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/df")
    Seq((n, t)).toDF("n_docs", "total_tokens").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Route a document batch against `name`'s frozen standing queries:
    * every positive (q_id, doc_id, score_q). The persisted artifacts are
    * query-sized (driver-bounded reads); scoring is s16's map-only pass. */
  def routeBatch(name: String, batch: org.apache.spark.sql.DataFrame,
                 idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    val dir = percolatorDir(name)
    require(Files.exists(Paths.get(dir, "stats")),
      s"no standing queries for $name — run registerStandingQueries first")
    val qs = spark.read.parquet(s"$dir/queries").collect() // query-sized
      .map(r => (r.getLong(0), r.getSeq[String](1).toSeq)).toSeq.sortBy(_._1)
    val dfm = spark.read.parquet(s"$dir/df").collect() // ≤ |query terms|
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val st = spark.read.parquet(s"$dir/stats").head()
    graft.ops.Search.bm25Scores(batch, idCol, textCol, qs, dfm,
      st.getLong(0), st.getLong(1))
  }

  // C3 vector arm (r12): the persisted IVF-PQ index (a13) as an OPERABLE
  // per-indexer artifact — build FREEZES both quantizers (coarse + all m
  // subspace codebooks, one atomic manifest), each crawl increment is a
  // map-only compressed append under the frozen books (append ≡ rebuild,
  // the pure-per-row-encode invariant), and serving prunes to the probed
  // partitions. Layout: $workRoot/<name>/ivfpq (the a13 layout).

  private def vectorDir(name: String): String = s"$workRoot/$name/ivfpq"

  /** Build (or rebuild) the vector index for `name`. Synchronous, like
    * executeBatchBuild; re-building re-trains the quantizers and flips
    * the single manifest — an explicit operator action, never drift. */
  def buildVectorIndex(name: String, vectors: org.apache.spark.sql.DataFrame,
                       idCol: String, vecCol: String,
                       nCentroids: Int = 8, m: Int = 4, dim: Int = 64,
                       ksub: Int = 8, trainIters: Int = 2): Unit = {
    registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    graft.ops.Similarity.buildIvfPqIndex(
      graft.ops.Similarity.prep(vectors, idCol, vecCol), vectorDir(name),
      nCentroids, m, dim, ksub, trainIters)
  }

  /** Append a vector increment under `name`'s frozen codebooks — cost ∝
    * increment (map-only encode + one partitioned write). */
  def ingestVectors(name: String, vectors: org.apache.spark.sql.DataFrame,
                    idCol: String, vecCol: String): Unit = {
    registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    require(Files.exists(Paths.get(vectorDir(name), "IVFPQ")),
      s"no vector index for $name — run buildVectorIndex first")
    graft.ops.Similarity.appendToIvfPqIndex(
      graft.ops.Similarity.prep(vectors, idCol, vecCol), vectorDir(name))
  }

  /** Serve top-k neighbors for `queries` from `name`'s index, reading
    * only the probed centroids' partitions. */
  def searchVectors(name: String, queries: org.apache.spark.sql.DataFrame,
                    idCol: String, vecCol: String,
                    k: Int, nProbe: Int = 2): org.apache.spark.sql.DataFrame = {
    registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    require(Files.exists(Paths.get(vectorDir(name), "IVFPQ")),
      s"no vector index for $name — run buildVectorIndex first")
    graft.ops.Similarity.ivfPqIndexTopK(spark, vectorDir(name),
      graft.ops.Similarity.prep(queries, idCol, vecCol), k, nProbe)
  }

  /** Tombstone-delete vectors from `name`'s index — delete-sized work,
    * masked at serve time; [[compactVectorIndex]] applies physically.
    * The a19 lifecycle, operable per indexer. */
  def deleteVectors(name: String, ids: org.apache.spark.sql.DataFrame): Unit = {
    registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    require(Files.exists(Paths.get(vectorDir(name), "IVFPQ")),
      s"no vector index for $name — run buildVectorIndex first")
    graft.ops.Similarity.deleteFromIvfPqIndex(ids, vectorDir(name))
  }

  /** Per-cell census of `name`'s vector index — the REBALANCE dashboard:
    * (c_id, n, hot) where hot = above the ⌈total/cells⌉ cap (the a26
    * split trigger). Cells-sized collect; the operator reads this before
    * deciding a rebuild/split — probe cost is proportional to the
    * hottest probed cell, so a skewed census IS the latency alarm. */
  def vectorCellCensus(name: String): Seq[(Long, Long, Boolean)] = {
    registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    require(Files.exists(Paths.get(vectorDir(name), "IVFPQ")),
      s"no vector index for $name — run buildVectorIndex first")
    val (coarse, _, gen, _, _, schema) =
      graft.ops.Similarity.resolveIvfPqIndex(vectorDir(name))
    val census = graft.streaming.IndexState.readParquet(spark, schema, s"${vectorDir(name)}/$gen")
      .groupBy(org.apache.spark.sql.functions.col("c_id").cast("long").as("c_id"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = census.values.sum
    val k = math.max(coarse.length.toLong, 1L)
    val cap = (total + k - 1) / k
    // every codebook cell reports, including empty ones — an operator
    // watching skew needs the zeros too
    coarse.map(_.cId).sorted.map { c =>
      val n = census.getOrElse(c, 0L)
      (c, n, n > cap)
    }
  }

  /** Rewrite `name`'s live generation minus its tombstones (codes copy
    * under the frozen books — pure I/O) and flip the manifest. */
  def compactVectorIndex(name: String): String = {
    registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    require(Files.exists(Paths.get(vectorDir(name), "IVFPQ")),
      s"no vector index for $name — run buildVectorIndex first")
    graft.ops.Similarity.compactIvfPqIndex(spark, vectorDir(name))
  }

  // C3 re-crawl arm (r12): the incremental snapshot diff (s22) as an
  // OPERABLE per-indexer artifact — freeze the standing corpus once as a
  // bucketed baseline, feed re-crawl chunks in any order (verdicts are
  // pure per-doc functions of the frozen baseline), read the full triage
  // (incl. deleted) whenever the snapshot is complete. Layout:
  //   $workRoot/<name>/recrawl/base   frozen baseline state
  //   $workRoot/<name>/recrawl/verd   append-only verdict log

  private def recrawlBase(name: String) =
    new graft.streaming.TxnLogState(s"$workRoot/$name/recrawl/base", spark, 16)
  private def recrawlVerdicts(name: String) =
    new graft.streaming.TxnLogState(s"$workRoot/$name/recrawl/verd", spark, 16)

  /** Freeze the standing corpus as `name`'s diff baseline. Re-freezing
    * starts a NEW diff epoch: the verdict log must be empty (finish or
    * discard the in-flight diff first) — verdicts from two epochs must
    * never mix. */
  def freezeRecrawlBaseline(name: String, corpus: org.apache.spark.sql.DataFrame,
                            idCol: String, textCol: String): Unit = {
    registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    require(recrawlVerdicts(name).currentVersion.isEmpty,
      s"$name has an in-flight re-crawl diff — delete $workRoot/$name/recrawl/verd first")
    graft.streaming.StreamSnapshotDiff.initBaseline(
      recrawlBase(name), corpus, idCol, textCol)
  }

  /** Fold one re-crawl chunk into `name`'s diff — order-free, idempotent
    * on bit-exact redelivery, loud on a conflicting re-arrival. */
  def ingestRecrawl(name: String, chunk: org.apache.spark.sql.DataFrame,
                    idCol: String, textCol: String): Unit = {
    registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    require(recrawlBase(name).currentVersion.nonEmpty,
      s"no re-crawl baseline for $name — run freezeRecrawlBaseline first")
    graft.streaming.StreamSnapshotDiff.applyBatch(
      recrawlBase(name), recrawlVerdicts(name), chunk,
      System.nanoTime(), idCol, textCol)
  }

  /** The full triage so far: added/unchanged/minor_edit/rewrite per
    * arrived doc, deleted = baseline never seen (only meaningful once
    * the snapshot has fully arrived). */
  def recrawlDiff(name: String): org.apache.spark.sql.DataFrame = {
    registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    graft.streaming.StreamSnapshotDiff.summary(recrawlBase(name), recrawlVerdicts(name))
  }

  // --- quota-admission arm (s28 made operable, the re-crawl pattern) ---
  // Layout: $workRoot/<name>/quota — per-class admitted counters behind
  // the StreamQuota generation flip, admitted log beside them.

  private def quotaDir(name: String) = s"$workRoot/$name/quota"

  /** Fold one ordered (doc_id, cls) chunk through `name`'s first-come
    * admission gate — replay-safe, out-of-order loud ([[graft.streaming.StreamQuota]]). */
  def quotaAdmit(name: String, chunk: org.apache.spark.sql.DataFrame,
                 quotas: Map[String, Long], batchId: Long): Unit = {
    registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    graft.streaming.StreamQuota.applyBatch(
      s"${quotaDir(name)}/state", quotas, chunk, s"${quotaDir(name)}/out", batchId)
  }

  /** The standing per-class admitted counters — the budget dashboard. */
  def quotaStatus(name: String): Map[String, Long] = {
    registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    graft.streaming.GenManifest.live(spark, s"${quotaDir(name)}/state") match {
      case None => Map.empty
      case Some(st) => st.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
  }

  // --- contamination-audit arm (s30 made operable) ---
  // Layout: $workRoot/<name>/coverage — frozen benchmark + probe grams,
  // seen-gram state behind the StreamGramCoverage generation flip.

  private def coverageDir(name: String) = s"$workRoot/$name/coverage"

  /** Freeze `name`'s audit benchmark: the probe docs and their distinct
    * gram set persist once, and every ingested chunk prunes against the
    * SAME frozen probes (comparable coverage across the corpus's life —
    * the s30 contract). Re-freezing resets the audit. */
  def coverageFreeze(name: String, benchmark: org.apache.spark.sql.DataFrame): Unit = {
    registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    IndexState.deleteTree(Paths.get(coverageDir(name)))
    benchmark.select("doc_id", "text")
      .write.mode("overwrite").parquet(s"${coverageDir(name)}/bench")
    graft.ops.Dedup.benchGrams(
        spark.read.parquet(s"${coverageDir(name)}/bench"), "doc_id", "text", 5)
      .select("g").distinct()
      .write.mode("overwrite").parquet(s"${coverageDir(name)}/probes")
  }

  /** Fold one corpus chunk into `name`'s seen-gram state (set-union
    * fold — any order, any redelivery; [[graft.streaming.StreamGramCoverage]]). */
  def coverageIngest(name: String, chunk: org.apache.spark.sql.DataFrame,
                     batchId: Long): Unit = {
    registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    val probes = Paths.get(s"${coverageDir(name)}/probes")
    if (!Files.exists(probes))
      throw new IllegalStateException(s"coverage benchmark not frozen for: $name")
    graft.streaming.StreamGramCoverage.applyBatch(chunk, "doc_id", "text", 5,
      spark.read.parquet(probes.toString), s"${coverageDir(name)}/state", batchId)
  }

  /** The per-probe contamination report over everything ingested so far
    * — (doc_id, n_grams, n_hit, cov_q), the s30 drain-end frame. */
  def coverageReport(name: String): org.apache.spark.sql.DataFrame = {
    registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    val bench = Paths.get(s"${coverageDir(name)}/bench")
    if (!Files.exists(bench))
      throw new IllegalStateException(s"coverage benchmark not frozen for: $name")
    val seen = graft.streaming.StreamGramCoverage
      .readState(spark, s"${coverageDir(name)}/state")
      .getOrElse(spark.range(0).select(
        org.apache.spark.sql.functions.col("id").as("g")))
    graft.ops.Dedup.coverageFromSeen(
      spark.read.parquet(bench.toString), "doc_id", "text", 5, seen)
  }

  /** Re-subscribe after DO_NOT_SUBSCRIBE: stamps subscriptionTimestamp =
    * now, so pre-existing log history is skipped (SepModelImpl records the
    * subscription timestamp at peer creation the same way). */
  def resubscribeNow(name: String): IndexerDefinition = {
    val d = registry.get(name).getOrElse(throw new IllegalStateException(s"no such indexer: $name"))
    registry.update(d.copy(
      incrementalState = IncrementalIndexingState.SubscribeAndConsume,
      subscriptionTimestamp = nowNanos()))
  }

  private def executeDelete(d: IndexerDefinition): Unit = {
    registry.update(d.copy(lifecycleState = LifecycleState.Deleting))
    Option(running.remove(d.name)).foreach(_.stop())
    IndexState.deleteTree(Paths.get(s"$workRoot/${d.name}"))
    registry.remove(d.name)
  }
}

/** C6: CLI verbs over the registry — add/update/delete/list, mirroring
  * hbase-indexer-cli (AddIndexerCli.java etc.). */
object IndexerCli {
  def main(args: Array[String]): Unit = {
    val usage = "usage: IndexerCli <registry-dir> " +
      "(list | add <name> <conf.xml> | update <name> <conf.xml> | delete <name> | get <name>)"
    if (args.length < 2) { System.err.println(usage); sys.exit(2) }
    val registry = new IndexerRegistry(args(0))
    args(1) match {
      case "list" =>
        registry.list().foreach { d =>
          println(s"${d.name}\t${d.lifecycleState.name}\t${d.incrementalState.name}\t" +
            s"${d.batchState.name}\tocc=${d.occVersion}")
        }
      case "add" =>
        val xml = Files.readString(Paths.get(args(3)))
        IndexerConf.fromXml(xml) // validate before storing
        registry.add(IndexerDefinition(name = args(2), configXml = xml))
        println(s"added ${args(2)}")
      case "update" =>
        val xml = Files.readString(Paths.get(args(3)))
        IndexerConf.fromXml(xml)
        val cur = registry.get(args(2)).getOrElse {
          System.err.println(s"no such indexer: ${args(2)}"); sys.exit(1)
        }
        registry.update(cur.copy(configXml = xml))
        println(s"updated ${args(2)}")
      case "delete" =>
        registry.requestDelete(args(2))
        println(s"delete requested: ${args(2)}")
      case "get" =>
        registry.get(args(2)) match {
          case Some(d) => println(registry.toJson(d))
          case None => System.err.println(s"no such indexer: ${args(2)}"); sys.exit(1)
        }
      case other =>
        System.err.println(s"unknown verb: $other\n$usage"); sys.exit(2)
    }
  }
}
