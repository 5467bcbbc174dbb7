package graft.streaming

import graft.conf.IndexerConf
import graft.core.IndexerCore
import graft.model.Schemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The incremental path (reference SEP stream → Indexer → Solr) as
  * Structured Streaming (SURVEY §2.6):
  *
  *  - source: `readStream` over a file-backed mutation log — the engine's
  *    stand-in for the replication RPC ingress (SepConsumer.java:214-277);
  *  - subscription-timestamp filter at the ingress (T4);
  *  - per micro-batch: the same IndexerCore calculus as batch (the
  *    reference shares one core the same way), then an idempotent upsert
  *    into a parquet-backed index state (T1 at-least-once + idempotent
  *    sink = exactly-once state);
  *  - per-key ordering (T2/A6): the batch-wide `max_by(seq)` dedup makes
  *    out-of-order delivery safe — strictly stronger than the reference's
  *    thread-pinning, and it survives Spark's task retries.
  *
  * The index state is BUCKETED: documents live in `B` hash buckets keyed
  * by `md5_shard(id, B)` (the reference's own shard routing, A5), with a
  * manifest file mapping bucket → commit directory and a CURRENT pointer
  * naming the live manifest. A micro batch rewrites ONLY the buckets its
  * ops hash into — O(batch ∩ state), not O(state) — writing them as ONE
  * plain parquet dir (bucket id as a data column), then the new manifest,
  * then flipping CURRENT (atomic: readers see old or new, never a mix).
  * This is the same copy-on-write + manifest move
  * that Delta/Iceberg MERGE makes at 100 TB; the op algebra is identical
  * and the bucket count is the `spark.sql.shuffle.partitions`-style dial.
  *
  * Files are NOT bucket-pure: `repartition(_bucket)` hashes the bucket ids
  * into the session's shuffle partitions, so a commit of 16 buckets under
  * 4 shuffle partitions writes at most 4 files, of several buckets each.
  * A bucket read scans the files of the commit dirs that own the bucket;
  * the pushed-down `_bucket IN (...)` drops the other buckets' rows, and
  * skips a whole file only when its footer min/max range misses every
  * requested bucket.
  *
  * The state's read schema lives in the manifest, as the reserved
  * `#meta\t_schema` entry ([[IndexState.SchemaKey]]) that every commit
  * carries forward, so a read resolves its frame with no footer-inference
  * job, in this process or any other.
  */
class IndexState(val indexDir: String, spark: SparkSession, requestedBuckets: Int = 16)
    extends DocStateStore {
  import IndexState.Manifest
  private val ptr: Path = Paths.get(indexDir, "CURRENT")
  private val lockPath: Path = Paths.get(indexDir, "LOCK")
  Files.createDirectories(Paths.get(indexDir))

  /** The last CURRENT value this writer observed — its fencing token. A
    * commit whose token no longer matches CURRENT means another writer
    * advanced the state since; committing anyway would silently drop that
    * writer's buckets (last-writer-wins), so it throws instead. */
  @volatile private var fenceToken: Option[String] = currentVersion

  /** Run `body` holding the state dir's LOCK file (create-exclusive). A
    * held lock means a commit/vacuum is mid-flight in ANOTHER process —
    * fail loudly rather than interleave. The lock scopes only the
    * manifest+pointer critical section (milliseconds), never the bucket
    * data write. */
  private def withLock[A](body: => A): A = {
    try Files.createFile(lockPath)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"index state $indexDir is locked by a concurrent committer " +
            "(stale crash? remove LOCK after verifying no writer is alive)")
    }
    try body finally Files.deleteIfExists(lockPath)
  }

  /** The bucket count is a PROPERTY OF THE STATE, not of the session: an
    * id's bucket decides which directories a batch reads and rewrites, so
    * reopening an existing state with a different count would silently
    * read the wrong buckets (missed docs, phantom duplicates). The count
    * is pinned in a BUCKETS file on first use; later opens use the pinned
    * value regardless of what the caller passes. Re-bucketing is a full
    * rewrite by design — exactly like changing a table's bucketing. */
  val buckets: Int = {
    val f = Paths.get(indexDir, "BUCKETS")
    if (Files.exists(f)) Files.readString(f).trim.toInt
    else {
      require(requestedBuckets > 0, s"buckets must be positive: $requestedBuckets")
      Files.writeString(f, requestedBuckets.toString)
      requestedBuckets
    }
  }

  def currentVersion: Option[String] =
    if (Files.exists(ptr)) Some(Files.readString(ptr).trim) else None

  /** CURRENT and the manifest it names, each read once: `bucket\tdir`
    * lines (dir relative to indexDir — self-describing, readers never
    * need the writer's bucket count) and `#meta\tkey\tvalue` lines, the
    * committed metadata carried forward across commits and updated
    * atomically with the data by the same CURRENT flip. */
  private def manifest(): Manifest = currentVersion match {
    case None => Manifest(None, Map.empty, Map.empty)
    case Some(m) =>
      val (comments, lines) = Files.readAllLines(Paths.get(indexDir, m)).asScala.toSeq
        .filter(_.nonEmpty).partition(_.startsWith("#"))
      Manifest(Some(m),
        lines.map { line => val Array(b, dir) = line.split("\t", 2); b.toInt -> dir }.toMap,
        comments.filter(_.startsWith("#meta\t"))
          .map { line => val Array(_, k, v) = line.split("\t", 3); k -> v }.toMap)
  }

  def liveBuckets: Set[Int] = currentManifest.keySet

  /** bucket → directory (relative to indexDir), from the live manifest. */
  def currentManifest: Map[Int, String] = manifest().buckets

  def stateMeta(key: String): Option[String] = manifest().meta.get(key)

  /** The full index state (union of all live buckets). */
  def read(): Option[DataFrame] = {
    val m = manifest()
    IndexState.readAssigned(spark, indexDir, m.buckets.toSeq.map { case (k, d) => (d, k) }, m.meta)
  }

  /** Only the named buckets' state (absent buckets are empty); each
    * commit dir contributes only the buckets the manifest currently
    * assigns to it ([[IndexState.readAssigned]]). */
  def readBuckets(ks: Seq[Int]): Option[DataFrame] = {
    val m = manifest()
    IndexState.readAssigned(spark, indexDir, ks.flatMap(k => m.buckets.get(k).map(d => (d, k))), m.meta)
  }

  /** [[IndexState.vacuumStale]] over the commit dirs and manifests no
    * longer reachable from CURRENT. The LOCK is held for the scan+delete
    * so no commit can flip CURRENT mid-vacuum. */
  def vacuum(graceMs: Long): Seq[String] = withLock {
    val m = manifest()
    val keep = Set("CURRENT", "BUCKETS", "LOCK") ++ m.version ++
      m.buckets.values.map(_.split("/", 2)(0))
    IndexState.vacuumStale(indexDir, graceMs)(p => keep(p.getFileName.toString))
  }

  def commit(updated: DataFrame, version: String, touched: Seq[Int]): Unit =
    commitWithMeta(updated, version, touched, Map.empty)

  def commitAppendWithMeta(fresh: DataFrame, version: String, touched: Seq[Int],
                           kv: Map[String, String]): Unit = {
    // fresh is the receiver: a batch-derived frame keeps the commit plan
    // under the drain's TriggerScope'd (cloned) session, where the
    // store-read side is bound to the store's own session
    val updated = readBuckets(touched) match {
      case Some(seen) => fresh.unionByName(seen)
      case None       => fresh
    }
    commitWithMeta(updated, version, touched, kv)
  }

  /** Commit: `updated` holds the NEW contents of exactly the `touched`
    * buckets; untouched buckets keep their current directories.
    * [[IndexState.writeCommit]] writes the rows; the manifest then points
    * every touched bucket that holds rows at the commit dir and drops a
    * touched bucket that ends empty. The CURRENT flip is the commit
    * point, and re-applying a DocOp batch is idempotent by algebra. */
  def commitWithMeta(updated: DataFrame, version: String, touched: Seq[Int],
                     kv: Map[String, String]): Unit = {
    val (dir, written, schema) = IndexState.writeCommit(indexDir, updated, version, buckets, touched, kv)
    // manifest + pointer flip under the LOCK, fenced on CURRENT: if another
    // writer advanced CURRENT since this writer last committed (or opened
    // the state), merging the live buckets minus `touched` would resurrect
    // buckets that writer replaced — throw instead of corrupting.
    withLock {
      val cur = manifest()
      if (cur.version != fenceToken)
        throw new java.util.ConcurrentModificationException(
          s"index state $indexDir advanced from $fenceToken to ${cur.version} under this writer — " +
            "two drivers are committing to one state dir; this writer is fenced off")
      val bucketDirs = (cur.buckets -- touched) ++ written.map(k => k -> dir)
      val meta = cur.meta ++ kv ++ Option.when(written.nonEmpty)(IndexState.SchemaKey -> schema)
      val mName = s"MANIFEST-$dir"
      // the manifest file is never read until CURRENT names it, so its own
      // write need not be atomic; the POINTER flip must be — an in-place
      // truncate+write would let a racing reader observe an empty pointer
      Files.writeString(Paths.get(indexDir, mName),
        (bucketDirs.toSeq.sorted.map { case (k, d) => s"$k\t$d" } ++
          meta.toSeq.sorted.map { case (k, v) => s"#meta\t$k\t$v" }).mkString("\n"))
      IndexState.atomicWriteString(ptr, mName)
      fenceToken = Some(mName)
    }
  }
}

/** The data path both [[DocStateStore]]s share — the commit write, the
  * bucket-assigned read and the vacuum walk — so that each store keeps
  * only its pointer protocol: [[IndexState]] its manifest and CURRENT
  * flip under LOCK, [[TxnLogState]] its put-if-absent txn entry. */
object IndexState {
  /** Bucket-id data column stored in every commit dir's files. */
  val BucketCol = "_bucket"

  /** One parsed manifest: the CURRENT value naming it, bucket → commit
    * dir, and the committed metadata. */
  private final case class Manifest(version: Option[String], buckets: Map[Int, String],
                                    meta: Map[String, String])

  /** `name`, or when `taken` a fresh `name-r<nanos>`: a retried commit
    * writes beside the dir or generation it would otherwise overwrite,
    * since the plan being written may read it. */
  def retryName(name: String, taken: Boolean): String =
    if (taken) s"$name-r${System.nanoTime()}" else name

  /** The reserved meta key under which both stores record the read
    * schema of their commit dirs (JSON, `_bucket` included). */
  val SchemaKey = "_schema"

  /** `schema` as a parquet read of files written with it gives it back:
    * every field, element and map value nullable. Each engine-written
    * store records this form in the pointer that names its data. */
  def readSchema(schema: StructType): StructType = nullable(schema).asInstanceOf[StructType]

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** `paths` read through the schema (JSON) their pointer records, so
    * resolving the frame runs no footer-inference job. */
  def readParquet(spark: SparkSession, schema: String, paths: String*): DataFrame =
    spark.read.schema(DataType.fromJson(schema).asInstanceOf[StructType]).parquet(paths: _*)

  /** Write the data half of a commit under `root`: `data` (with an `id`
    * column) becomes ONE plain parquet dir named after `version`, the
    * bucket id (`md5_shard(id, buckets)`) a DATA column. A retry of a
    * version whose dir exists writes a fresh `-r<nanos>` suffixed dir
    * (never read-while-overwrite). Returns that dir (relative to `root`),
    * the `touched` buckets the write's census saw rows of, and the dir's
    * [[readSchema]] as JSON; the caller then names the buckets live, and
    * records the schema as [[SchemaKey]], under its own pointer protocol.
    *
    * The dynamic-partition writer (extra sort, per-partition writer
    * churn, per-dir commit renames) measured ~0.5 s/commit CONSTANT on
    * trigger-sized data — the streaming bucketed-commit floor — hence one
    * plain dir. The repartition co-locates each bucket in one task, yet a
    * file still mixes buckets (see the class doc). At cluster scale widen
    * with a salt column (bucket, hash(id) % filesPerBucket) to bound
    * per-file size. The observe() census of
    * nonempty buckets replaces per-bucket-dir existence probes with zero
    * extra jobs. Write-command executions DO fulfill Observations in this
    * Spark — both this direct shape (observe → repartition → write) and
    * StreamUniqueTokens's through-a-cache shape; both are pinned by name
    * in ObservationWriteSpec, so an upgrade that stops fulfilling either
    * fails there, not as a hung commit.
    *
    * `kv` is the metadata the caller commits with the data: keys and
    * values must be tab/newline-free (both stores keep them in
    * line-oriented files), and [[SchemaKey]] is reserved. */
  def writeCommit(root: String, data: DataFrame, version: String, buckets: Int,
                  touched: Seq[Int], kv: Map[String, String]): (String, Seq[Int], String) = {
    kv.foreach { case (k, v) =>
      require(!k.exists(c => c == '\t' || c == '\n') && !v.exists(c => c == '\t' || c == '\n'),
        s"state meta keys/values must be tab/newline-free: '$k' -> '$v'")
    }
    require(!kv.contains(SchemaKey), s"state meta key $SchemaKey is reserved for the store's schema")
    val dir = retryName(version, taken = Files.exists(Paths.get(root, version)))
    val obs = org.apache.spark.sql.Observation()
    val bucketed = data
      .withColumn(BucketCol, graft.expr.hfunctions.md5_shard(col("id"), buckets))
    bucketed
      .observe(obs, collect_set(col(BucketCol)).as("bs"))
      // one file per shuffle partition: bounds the files a live-state union reads
      .repartition(col(BucketCol))
      .write.parquet(s"$root/$dir")
    // a runtime-empty frame can reach the write through an adaptive plan
    // that ELIMINATED the metrics node (the zero-field-row carve-out
    // pinned in ObservationWriteSpec) — an absent census key means zero
    // buckets were written, which is exactly what it signifies
    val present = obs.get.get("bs")
      .map(_.asInstanceOf[Seq[Int]].toSet).getOrElse(Set.empty[Int])
    // unpartitioned write: the file schema IS this frame's schema
    (dir, touched.filter(present), readSchema(bucketed.schema).json)
  }

  /** Read `(dir, bucket)` assignments: each commit dir contributes ONLY
    * the buckets currently assigned to it — a dir whose buckets were
    * partially remapped by a later commit still holds the superseded
    * rows, so a plain union (or a global bucket filter) would resurrect
    * them. Dirs sharing an identical bucket-set collapse into one scan
    * (the common case: every append delta carries the full touched set),
    * and the pushed-down `_bucket IN (...)` keeps only the assigned
    * buckets' rows (files mix buckets, so footer stats rarely skip one).
    * `meta` is the committed metadata of the pointer that `assign` came
    * from; its [[SchemaKey]] entry is the read schema. */
  def readAssigned(spark: SparkSession, root: String, assign: Seq[(String, Int)],
                   meta: Map[String, String]): Option[DataFrame] = {
    if (assign.isEmpty) return None
    val schema = meta(SchemaKey)
    val byBucketSet = assign.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      .toSeq.groupBy(_._2).view.mapValues(_.map(_._1).sorted).toSeq
      .sortBy(_._2.head)
    val parts = byBucketSet.map { case (ks, dirs) =>
      readParquet(spark, schema, dirs.map(d => s"$root/$d"): _*)
        .filter(col(BucketCol).isin(ks.toSeq.sorted: _*))
    }
    Some(parts.reduce(_.unionByName(_)).drop(BucketCol))
  }

  /** The vacuum step of any copy-on-write layout (Delta/Iceberg VACUUM):
    * delete each entry directly under `root` that `keep` rejects and that
    * was modified more than `graceMs` ago. The grace window is the
    * retention for readers: one that resolved the previous pointer — or
    * holds a lazily-evaluated frame from an earlier read — may still be
    * scanning recently superseded dirs; Delta's VACUUM retention makes the
    * same trade. graceMs = 0 reclaims everything stale immediately — only
    * safe when the caller knows no reader is live. Returns the deleted
    * names, sorted. */
  def vacuumStale(root: String, graceMs: Long)(keep: Path => Boolean): Seq[String] = {
    val cutoff = System.currentTimeMillis() - graceMs
    val fs = Files.list(Paths.get(root))
    val doomed =
      try fs.iterator().asScala
        .filter(p => !keep(p) && Files.getLastModifiedTime(p).toMillis <= cutoff).toList
      finally fs.close()
    doomed.foreach(deleteTree)
    doomed.map(_.getFileName.toString).sorted
  }

  /** Delete `p` and everything under it; a missing `p` is a no-op. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }

  /** Write `content` to a temp sibling and rename over `target`
    * (ATOMIC_MOVE): readers see the old value or the new value, never a
    * truncated in-between — the property every CURRENT-pointer flip in
    * this engine relies on. */
  def atomicWriteString(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(
      s".${target.getFileName}.tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, content)
    Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Per-source consumed/pending file counts — the reference's
  * per-regionserver lag breakdown (ReplicationStatus.java:31-95 reports
  * lag per peer AND per server; here a "source" is a subdirectory of the
  * mutation log, `(root)` for files at the top level). A skewed or stuck
  * source is visible as one entry's backlog growing while the others
  * drain. */
case class SourceLag(processed: Long, backlog: Long)

/** T6 monitoring: one indexer's drain/progress report — the engine's
  * answer to the reference's replication-lag surface
  * (hbase-sep-tools ReplicationStatus.java:81-95: ageOfLastShippedOp +
  * queue sizes per peer). Sourced from StreamingQueryProgress (batch
  * durations, input rates), the `graft.ingress` observe() counters (A7),
  * the checkpoint's source log (processed files) vs the log directory
  * (backlog = the reference's queue size), and the state's CURRENT
  * pointer (last committed version). */
case class IndexerProgress(
    batches: Long,
    inputRows: Long,
    events: Long,
    applicable: Long,
    avgEventsPerSec: Double,
    lastBatchDurationMs: Long,
    processedFiles: Long,
    backlogFiles: Long,
    lastCommittedVersion: Option[String],
    bySource: Map[String, SourceLag] = Map.empty)

/** Accumulates streaming progress via a listener instead of
  * `query.recentProgress`, which Spark caps at
  * `spark.sql.streaming.numRecentProgressUpdates` (default 100): a drain
  * with more micro-batches (maxFilesPerTrigger=1 over a long log) would
  * silently under-report batches/rows/rates from the capped buffer.
  * Keyed by runId, so each start() of the same checkpoint reports its own
  * run. Register once per session; `close()` detaches. */
class ProgressAccumulator(spark: SparkSession)
    extends org.apache.spark.sql.streaming.StreamingQueryListener with AutoCloseable {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  import ProgressAccumulator.Totals

  private val totals = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Totals]()
  // insertion order of runIds, for eviction: a long-lived supervisor
  // drains indefinitely and one Totals per run would otherwise accumulate
  // forever — keep the most recent `MaxRuns` runs (reports are read right
  // after each drain; ancient runs have no reader)
  private val runOrder = new java.util.concurrent.ConcurrentLinkedQueue[java.util.UUID]()
  private val MaxRuns = 64
  // notified on every delivered progress event; `settled` waits on it
  private val settledLock = new Object
  spark.streams.addListener(this)

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val obs = Option(p.observedMetrics.get("graft.ingress"))
    val dur = p.durationMs.getOrDefault("triggerExecution", 0L).longValue()
    totals.compute(p.runId, (_, old0) => {
      val old = if (old0 == null) { runOrder.add(p.runId); Totals.zero } else old0
      Totals(old.batches + 1, old.inputRows + p.numInputRows,
        old.events + obs.map(_.getLong(0)).getOrElse(0L),
        old.applicable + obs.map(_.getLong(1)).getOrElse(0L),
        old.totalMs + dur, dur, math.max(old.lastBatchId, p.batchId))
    })
    while (runOrder.size > MaxRuns) Option(runOrder.poll()).foreach(totals.remove)
    settledLock.synchronized(settledLock.notifyAll())
  }

  def of(runId: java.util.UUID): Option[Totals] = Option(totals.get(runId))

  /** Listener delivery is async — after `awaitTermination` the tail of the
    * event bus may still be draining. Wait until the listener has seen the
    * run's last executed batch (`lastBatchId`, read from the query's own
    * `recentProgress`), bounded by `maxWaitMs`. A run that executed no
    * batch (`None`: an empty drain, which posts only an idle event) has
    * nothing to wait for. */
  def settled(runId: java.util.UUID, lastBatchId: Option[Long],
              maxWaitMs: Long = 2000L): Option[Totals] = lastBatchId match {
    case None => Some(Totals.zero)
    case Some(last) =>
      val deadline = System.currentTimeMillis() + maxWaitMs
      settledLock.synchronized {
        var cur = of(runId)
        var left = maxWaitMs
        while (!cur.exists(_.lastBatchId >= last) && left > 0) {
          settledLock.wait(left)
          cur = of(runId)
          left = deadline - System.currentTimeMillis()
        }
        cur
      }
  }

  override def close(): Unit = spark.streams.removeListener(this)
}

object ProgressAccumulator {
  case class Totals(batches: Long, inputRows: Long, events: Long,
                    applicable: Long, totalMs: Long, lastMs: Long, lastBatchId: Long)

  object Totals {
    val zero: Totals = Totals(0, 0, 0, 0, 0, 0, -1L)
  }
}

object MutationStream {

  /** Open the file-backed mutation log as a stream. */
  def source(spark: SparkSession, logDir: String, maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(Schemas.mutationEvent)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(logDir)

  /** Document fields the sink needs for deleteByQuery — the reference
    * injects row/family fields into each doc for exactly this reason
    * (SURVEY §7.4 hard-part 2). */
  private[graft] def opsWithSinkMeta(ops: DataFrame): DataFrame =
    ops.select(
      col("kind"), col("id"), col("doc"),
      col("rowKey").as("rowValue"),
      lit(null).cast("string").as("familyValue"),
      lit(null).cast("string").as("queryRow"),
      lit(null).cast("string").as("queryFamily"))

  /** Start the indexer stream: mutation log → IndexerCore row path →
    * idempotent upsert into the parquet index state. Returns the running
    * query; stop via `.stop()` (pause = keep checkpoint, rewind = delete
    * checkpoint — reference T5). */
  def start(
      spark: SparkSession,
      conf: IndexerConf,
      logDir: String,
      indexDir: String,
      checkpointDir: String,
      subscriptionTs: Long = 0L,
      snapshot: Option[DataFrame] = None,
      stateFactory: (String, SparkSession) => DocStateStore =
        new IndexState(_, _),
      maxFilesPerTrigger: Int = 1): StreamingQuery = {

    val state = stateFactory(indexDir, spark)

    val events = source(spark, logDir, maxFilesPerTrigger)
      // A7: engine-native meters (reference IndexingEventListener.java:62-67)
      // — per-batch ingress counts surface in StreamingQueryProgress
      // .observedMetrics under "graft.ingress"
      .observe("graft.ingress", count(lit(1)).as("events"),
        count(when(col("writeTime") >= lit(subscriptionTs), 1)).as("applicable"))
      .transform(IndexerCore.subscriptionFilter(subscriptionTs))
    Drain.start(events, checkpointDir) { (batch, batchId) =>
      applyBatch(state, opsWithSinkMeta(IndexerCore.rowPath(conf, snapshot)(batch)), batchId)
    }
  }

  /** One micro-batch upsert against the bucketed state, in as few Spark
    * jobs as the batch allows: a census of the ops' touched buckets (one
    * ≤`buckets`-row driver collect, which also counts deleteByQuery ops),
    * then the commit write, which reads ONLY the touched buckets'
    * previous state and applies [[IndexerCore.upsert]] — one id
    * anti-join, none when those buckets are empty. deleteByQuery ops
    * address docs by row value, not id, so they cannot be
    * bucket-localized: only a batch that holds one (the row path never
    * emits them) widens to a full rewrite and adds the query anti-join.
    * Returns the touched bucket set. */
  def applyBatch(state: DocStateStore, ops: DataFrame, batchId: Long): Seq[Int] = {
    val cached = ops.persist()
    try {
      val stats = cached
        .groupBy(graft.expr.hfunctions.md5_shard(col("id"), state.buckets).as("b"))
        .agg(count(when(col("kind") === "deleteByQuery", 1)).as("qdel"))
        .collect()
      val idBuckets = stats.collect { case r if !r.isNullAt(0) => r.getInt(0) }.toSeq
      val hasQueryDelete = stats.exists(_.getLong(1) > 0)
      val touched =
        if (hasQueryDelete) (idBuckets ++ state.liveBuckets).distinct
        else idBuckets
      val upserted = IndexerCore.upsert(state.readBuckets(touched), cached)
      val next = if (hasQueryDelete) IndexerCore.deleteByQuery(upserted, cached) else upserted
      // batchId in the version makes the commit idempotent under retry
      state.commit(next, f"v$batchId%09d", touched)
      // post-commit maintenance on the store's own cadence (TxnLogState
      // checkpoints + reclaims its log; IndexState no-ops)
      state.maintain()
      touched
    } finally { cached.unpersist(); () }
  }

  private val pathRe = """"path":"([^"]+)"""".r

  /** Distinct source files the checkpoint has committed (the stream's
    * consumed-queue position). */
  private def processedFiles(ckptDir: String): Set[String] = {
    val srcLog = Paths.get(ckptDir, "sources", "0")
    if (!Files.exists(srcLog)) Set.empty
    else {
      val fs = Files.list(srcLog)
      try fs.iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .flatMap(f => pathRe.findAllMatchIn(Files.readString(f)).map(_.group(1)))
        .toSet
      finally fs.close()
    }
  }

  /** Log files as (sourceKey, fileName): sourceKey is the file's
    * directory relative to the log root, `(root)` for top-level files —
    * the per-server analogue of the reference's replication breakdown. */
  private def logFilesBySource(logDir: String): Seq[(String, String)] = {
    val root = Paths.get(logDir)
    if (!Files.exists(root)) Seq.empty
    else {
      val fs = Files.walk(root)
      try fs.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet") &&
          !f.getFileName.toString.startsWith("_") && !f.getFileName.toString.startsWith("."))
        .map { f =>
          val rel = root.relativize(f)
          val src = Option(rel.getParent).map(_.toString).getOrElse("(root)")
          src -> f.getFileName.toString
        }.toSeq
      finally fs.close()
    }
  }

  /** Per-source consumed/pending census of the mutation log vs the
    * checkpoint — callable at any time, no query needed (the reference's
    * ReplicationStatus is likewise a side-channel census of the queues). */
  def sourceLag(logDir: String, ckptDir: String): Map[String, SourceLag] = {
    val processedNames = processedFiles(ckptDir).map(p => p.substring(p.lastIndexOf('/') + 1))
    logFilesBySource(logDir).groupBy(_._1).map { case (src, files) =>
      val done = files.count(f => processedNames.contains(f._2))
      src -> SourceLag(processed = done.toLong, backlog = (files.size - done).toLong)
    }
  }

  /** Assemble the T6 report for a (possibly drained) query. With an
    * accumulator the counters cover EVERY batch of the query's current
    * run; without one they fall back to `recentProgress`, which is capped
    * at spark.sql.streaming.numRecentProgressUpdates (default 100)
    * batches. */
  def progressOf(q: StreamingQuery, state: DocStateStore, logDir: String,
                 ckptDir: String, acc: Option[ProgressAccumulator] = None): IndexerProgress = {
    // executed batches only: an idle trigger (nothing new in the log)
    // also leaves a progress entry, without an addBatch phase
    val ps = q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
    def observed(i: Int): Long = ps.flatMap { p =>
      Option(p.observedMetrics.get("graft.ingress")).map(_.getLong(i))
    }.sum
    val durs = ps.map(p => p.durationMs.getOrDefault("triggerExecution", 0L).longValue())
    val totals = acc.flatMap(_.settled(q.runId, ps.lastOption.map(_.batchId))).getOrElse(
      ProgressAccumulator.Totals(
        batches = ps.size.toLong, inputRows = ps.map(_.numInputRows).sum,
        events = observed(0), applicable = observed(1),
        totalMs = durs.sum, lastMs = durs.lastOption.getOrElse(0L),
        lastBatchId = ps.lastOption.map(_.batchId).getOrElse(-1L)))
    val processed = processedFiles(ckptDir)
    val lag = sourceLag(logDir, ckptDir)
    IndexerProgress(
      batches = totals.batches,
      inputRows = totals.inputRows,
      events = totals.events,
      applicable = totals.applicable,
      avgEventsPerSec =
        if (totals.totalMs > 0) totals.inputRows * 1000.0 / totals.totalMs else 0.0,
      lastBatchDurationMs = totals.lastMs,
      processedFiles = processed.size.toLong,
      backlogFiles = lag.values.map(_.backlog).sum,
      lastCommittedVersion = state.currentVersion,
      bySource = lag)
  }

  /** Drain the log and return the final index state (wait-until-drained —
    * reference ReplicationWaitCli semantics, T6). */
  def runToCompletion(
      spark: SparkSession,
      conf: IndexerConf,
      logDir: String,
      workDir: String,
      subscriptionTs: Long = 0L,
      snapshot: Option[DataFrame] = None,
      stateFactory: (String, SparkSession) => DocStateStore =
        new IndexState(_, _),
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val q = start(spark, conf, logDir, s"$workDir/index", s"$workDir/ckpt",
      subscriptionTs, snapshot, stateFactory, maxFilesPerTrigger)
    q.awaitTermination()
    stateFactory(s"$workDir/index", spark).read().getOrElse(
      spark.emptyDataFrame)
  }
}
