package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The surface [[MutationStream.applyBatch]] needs from a document state
  * sink: bucketed reads, a copy-on-write commit of the touched buckets
  * (plus an O(fresh) append-only commit for states that never update a
  * row — the streaming keep-first seen-sets), and retention-windowed
  * garbage collection. Two implementations ship:
  *
  *  - [[IndexState]] — manifest file + CURRENT pointer (the engine's own
  *    layout, HBase-indexer go-live semantics);
  *  - [[TxnLogState]] — a Delta-protocol-shaped append-only transaction
  *    log of add/remove file actions.
  *
  * The DocOp algebra, bucket routing (md5_shard), and data layout (one
  * plain parquet dir per commit, the bucket id a `_bucket` data column)
  * are IDENTICAL across implementations, and so are the code paths that
  * write, read and vacuum that data ([[IndexState.writeCommit]],
  * [[IndexState.readAssigned]], [[IndexState.vacuumStale]]) — swapping
  * the store is a metadata-protocol change only, which is exactly the claim SCALE.md
  * makes about deploying the sink on a real table format (Delta/Iceberg
  * MERGE) at cluster scale.
  *
  * Each store records the read schema of its commit dirs in its own
  * pointer, as the reserved [[IndexState.SchemaKey]] meta entry: the
  * manifest's `#meta` line ([[IndexState]]) or an `mkv` action
  * ([[TxnLogState]]). A read takes it from the pointer it has already
  * parsed, so resolving a frame runs no footer-inference job, whichever
  * process wrote the store.
  */
trait DocStateStore extends Serializable {
  /** Bucket count pinned to the state (never the session). */
  def buckets: Int

  /** Opaque identifier of the live committed version, None when empty. */
  def currentVersion: Option[String]

  /** Bucket ids that currently hold any documents. */
  def liveBuckets: Set[Int]

  /** The full index state (union of all live buckets). */
  def read(): Option[DataFrame]

  /** Only the named buckets' state (absent buckets are empty). */
  def readBuckets(ks: Seq[Int]): Option[DataFrame]

  /** Commit: `updated` holds the NEW contents of exactly the `touched`
    * buckets; untouched buckets keep their current files. Must be atomic
    * (readers see the old or the new version, never a mix) and must fail
    * loudly when a concurrent writer advanced the state in between. */
  def commit(updated: DataFrame, version: String, touched: Seq[Int]): Unit

  /** Append-only commit: `fresh` rows JOIN the touched buckets' current
    * contents instead of replacing them, so the write volume is O(fresh),
    * not O(state ∩ touched). Sound only when the caller guarantees the
    * state is append-only (rows are never updated or deleted — the
    * keep-first seen-sets) AND `fresh` is disjoint from the current
    * contents (the gates anti-join before committing). [[IndexState]]
    * folds it to a copy-on-write commit of the touched buckets;
    * [[TxnLogState]] makes it a true delta write — per-bucket delta
    * files, readers fold base + deltas, [[maintain]] compacts. */
  def commitAppend(fresh: DataFrame, version: String, touched: Seq[Int]): Unit =
    commitAppendWithMeta(fresh, version, touched, Map.empty)

  /** Key→value metadata carried ATOMICALLY with a commit — Delta's `txn`
    * action, re-expressed: the dual-state streaming monitors keep a
    * constant-size rollup generation (and its redelivery high-water mark)
    * NEXT TO the bucketed per-key state, and committing those pointers in
    * the SAME transaction as the data is the only way a crash can never
    * leave the two halves disagreeing about which batches have been
    * folded. Last write wins per key; values must be tab/newline-free
    * (they ride the store's line-oriented metadata). Reads reflect the
    * live committed version. */
  def stateMeta(key: String): Option[String]

  /** [[commit]] + [[stateMeta]] updates as ONE atomic commit point. */
  def commitWithMeta(updated: DataFrame, version: String, touched: Seq[Int],
                     kv: Map[String, String]): Unit

  /** [[commitAppend]] + [[stateMeta]] updates as ONE atomic commit point.
    * Unlike the plain append, a nonempty `kv` claims a commit even when
    * `fresh` materializes no rows — a batch whose delta folds to ∅ still
    * advances its rollup pointers. */
  def commitAppendWithMeta(fresh: DataFrame, version: String, touched: Seq[Int],
                           kv: Map[String, String]): Unit

  /** Reclaim data unreachable from the current version and older than
    * `graceMs` (readers may still scan recently superseded files).
    * Returns the deleted entry names. */
  def vacuum(graceMs: Long = 10 * 60 * 1000L): Seq[String]

  /** Post-commit maintenance hook, called by the sink after every
    * applied batch ([[MutationStream.applyBatch]]). Implementations with
    * growing commit metadata compact it here on their own cadence; the
    * default is a no-op ([[IndexState]]'s manifest is O(buckets) and
    * never grows with commit count). Must be safe to call concurrently
    * with readers and other writers. */
  def maintain(): Unit = {}
}

/** Delta-protocol-shaped state store: the commit metadata is an
  * append-only transaction log under `_txnlog/`, one numbered entry per
  * commit holding `add`/`remove` file actions (TSV lines — structurally
  * Delta's JSON actions, kept dependency-free). The live snapshot is the
  * left fold of the log; a commit is the atomic put-if-absent creation of
  * entry N+1 (hard-link trick), so two racing writers cannot both win —
  * the loser observes the occupied slot and aborts, which is Delta's
  * optimistic-concurrency conflict, surfaced here as
  * `ConcurrentModificationException` (this subsumes [[IndexState]]'s
  * fence token; no LOCK file is needed).
  *
  * Data files are the same one plain parquet dir per commit that
  * [[IndexState]] writes, through the same [[IndexState.writeCommit]];
  * only the pointer protocol differs. Like Delta, a txn entry outlives
  * its commit until a checkpoint covers it ([[compact]], [[vacuumLog]]),
  * and `vacuum` deletes only data directories unreferenced by the
  * CURRENT snapshot and older than the grace window — `graceMs = 0` is
  * safe only with no live readers or in-flight commits, same contract
  * as [[IndexState.vacuum]].
  *
  * The read schema is an `mkv` action under [[IndexState.SchemaKey]],
  * logged only by a commit that changes it and kept by [[compact]]'s
  * checkpoint like any other meta entry.
  */
class TxnLogState(val stateDir: String, spark: SparkSession,
                  requestedBuckets: Int = 16,
                  autoCompactEvery: Int = 16,
                  maintenanceGraceMs: Long = 10 * 60 * 1000L,
                  maxDeltasPerBucket: Int = 8) extends DocStateStore {

  private val logDir: Path = Paths.get(stateDir, "_txnlog")
  Files.createDirectories(logDir)

  private def entryId(p: Path): Long =
    p.getFileName.toString.takeWhile(_ != '.').toLong

  private def listLog(suffix: String): Seq[Path] = {
    val fs = Files.list(logDir)
    try fs.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(suffix))
      .toSeq.sortBy(entryId)
    finally fs.close()
  }

  /** A bucket maps to the ORDERED list of its live data dirs: one dir
    * after a copy-on-write [[commit]], base + deltas after
    * [[commitAppend]]s. Readers fold (union) the list; `remove` drops
    * one named dir (idempotent: a re-applied retry entry removing an
    * already-gone dir is a no-op); `add` is contains-guarded so a
    * commit's own view update racing [[refresh]] applying the same
    * entry cannot double-list a dir. */
  private def addDir(m: Map[Int, Vector[String]], b: Int,
                     d: String): Map[Int, Vector[String]] = {
    val cur = m.getOrElse(b, Vector.empty)
    if (cur.contains(d)) m else m.updated(b, cur :+ d)
  }

  private def applyLines(e: Path, live0: Map[Int, Vector[String]],
                         pinned0: Option[Int], meta0: Map[String, String])
      : (Map[Int, Vector[String]], Option[Int], Map[String, String]) = {
    var live = live0
    var pinned = pinned0
    var meta = meta0
    Files.readAllLines(e).asScala.filter(_.nonEmpty).foreach { line =>
      line.split("\t", -1) match {
        case Array("add", b, d)            => live = addDir(live, b.toInt, d)
        case Array("remove", b, d)         =>
          val left = live.getOrElse(b.toInt, Vector.empty).filterNot(_ == d)
          live = if (left.isEmpty) live - b.toInt else live.updated(b.toInt, left)
        case Array("meta", "buckets", n)   => pinned = Some(n.toInt)
        case Array("mkv", k, v)            => meta = meta.updated(k, v) // last wins
        case other => throw new IllegalStateException(
          s"unparseable txn action in $e: '${other.mkString("\t")}'")
      }
    }
    (live, pinned, meta)
  }

  /** Left fold of the log: (last entry id or -1, bucket → data dir,
    * pinned bucket count). Replay starts from the newest CHECKPOINT (a
    * compacted snapshot of the fold at some entry id) and applies only
    * the txn entries past it — Delta's checkpoint read path; without
    * one, from the log head. A `remove` only clears a bucket when it
    * names the dir currently mapped — a re-applied retry entry removing
    * an already-superseded dir is a no-op, same as Delta's
    * remove-by-path. */
  private def fold(): (Long, Map[Int, Vector[String]], Option[Int], Map[String, String]) = {
    val (startId, live0, pinned0, meta0) = listLog(".ckpt").lastOption match {
      case Some(cp) =>
        val (l, p, m) = applyLines(cp, Map.empty, None, Map.empty)
        (entryId(cp), l, p, m)
      case None => (-1L, Map.empty[Int, Vector[String]], Option.empty[Int],
        Map.empty[String, String])
    }
    val entries = listLog(".txn").filter(entryId(_) > startId)
    var live = live0
    var pinned = pinned0
    var meta = meta0
    entries.foreach { e =>
      val (l, p, m) = applyLines(e, live, pinned, meta)
      live = l; pinned = p; meta = m
    }
    (entries.lastOption.map(entryId).getOrElse(startId), live, pinned, meta)
  }

  // The cached fold: commits target slot lastSeen+1 and rebuild removes
  // from `view`. Reads advance both incrementally ([[refresh]]), so a
  // writer that re-reads before committing builds on the latest state;
  // only a commit racing inside its own read→commit window finds its
  // slot occupied and aborts — the optimistic-concurrency window is the
  // batch, not the process lifetime.
  @volatile private var lastSeen: Long = -1L
  @volatile private var view: Map[Int, Vector[String]] = Map.empty
  @volatile private var metaView: Map[String, String] = Map.empty

  val buckets: Int = {
    val (last, live, pinned, meta) = fold()
    lastSeen = last; view = live; metaView = meta
    pinned.getOrElse {
      require(requestedBuckets > 0, s"buckets must be positive: $requestedBuckets")
      requestedBuckets
    }
  }

  /** Bring the cached view up to date by applying only the txn entries
    * PAST `lastSeen` — O(new entries) per call, not O(log). The full
    * [[fold]] runs once at construction (and from checkpoints); every
    * read since is incremental. Correct for concurrent writers too: a
    * foreign commit appears as a newer entry and is simply applied (the
    * next local commit then loses its slot race and is fenced — the
    * optimistic-concurrency contract is unchanged).
    *
    * Incremental apply is only sound when the suffix is CONTIGUOUS with
    * the cache: slot ids are claimed put-if-absent at lastSeen+1, so a
    * first-new-entry id ≠ lastSeen+1 — or a checkpoint newer than
    * lastSeen — means a foreign compact()+vacuumLog reclaimed entries
    * this cache never saw. Applying only the surviving suffix onto the
    * stale base would silently drop the vacuumed commits; instead the
    * cache reseeds with a full [[fold]] (checkpoint + suffix). */
  private def refresh(): Unit = synchronized {
    val entries = listLog(".txn").filter(entryId(_) > lastSeen)
    val gapped = entries.headOption.exists(entryId(_) != lastSeen + 1) ||
      listLog(".ckpt").lastOption.exists(entryId(_) > lastSeen)
    if (gapped) {
      val (last, live, _, meta) = fold()
      view = live
      metaView = meta
      lastSeen = last
    } else entries.foreach { e =>
      val (l, _, m) = applyLines(e, view, None, metaView)
      view = l
      metaView = m
      lastSeen = entryId(e)
    }
  }

  def currentVersion: Option[String] = {
    refresh()
    if (lastSeen < 0) None else Some(f"$lastSeen%020d")
  }

  def liveBuckets: Set[Int] = { refresh(); view.keySet }

  /** The refreshed bucket view and meta, taken as one consistent pair. */
  private def snapshot(): (Map[Int, Vector[String]], Map[String, String]) =
    synchronized { refresh(); (view, metaView) }

  def read(): Option[DataFrame] = {
    val (v, meta) = snapshot()
    IndexState.readAssigned(spark, stateDir,
      v.toSeq.flatMap { case (k, dirs) => dirs.map(d => (d, k)) }, meta)
  }

  /** Bucket-pruned read: each dir contributes only the buckets the log
    * currently assigns to it ([[IndexState.readAssigned]]). */
  def readBuckets(ks: Seq[Int]): Option[DataFrame] = {
    val (v, meta) = snapshot()
    IndexState.readAssigned(spark, stateDir,
      ks.flatMap(k => v.getOrElse(k, Vector.empty).map(d => (d, k))), meta)
  }

  /** Atomic put-if-absent of `content` at `target`: write a temp sibling,
    * hard-link it into place (link creation is atomic and fails on an
    * existing target — the POSIX reservation primitive), drop the temp. */
  private def putIfAbsent(target: Path, content: String): Boolean = {
    val tmp = target.resolveSibling(
      s".${target.getFileName}.tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, content)
    try { Files.createLink(target, tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  def commit(updated: DataFrame, version: String, touched: Seq[Int]): Unit =
    doCommit(updated, version, touched, append = false, Map.empty)

  def stateMeta(key: String): Option[String] = { refresh(); metaView.get(key) }

  def commitWithMeta(updated: DataFrame, version: String, touched: Seq[Int],
                     kv: Map[String, String]): Unit =
    doCommit(updated, version, touched, append = false, kv)

  /** The O(fresh) delta path: log only `add` actions for the new delta
    * dirs — the touched buckets' existing dirs stay live and readers
    * fold base + deltas. Untouched semantics otherwise: same slot race,
    * same idempotent retry behavior. [[maintain]] bounds the per-bucket
    * delta chain by merging heavy buckets through the copy-on-write
    * path on its own cadence (the LSM compaction shape), so per-trigger
    * write volume is ∝ fresh keys, amortized-O(state/maxDeltas) for
    * compaction instead of O(state) every trigger. */
  def commitAppendWithMeta(fresh: DataFrame, version: String, touched: Seq[Int],
                           kv: Map[String, String]): Unit =
    doCommit(fresh, version, touched, append = true, kv)

  private def doCommit(data: DataFrame, version: String, touched: Seq[Int],
                       append: Boolean, kv: Map[String, String]): Unit = {
    val (dir, written, schema) = IndexState.writeCommit(stateDir, data, version, buckets, touched, kv)
    // an append that materialized no rows (e.g. a redelivered batch whose
    // fresh set folded to ∅) has nothing to log: skip the slot claim —
    // the orphaned empty dir is vacuum-reclaimable. A nonempty kv still
    // commits: the rollup pointers must advance even on an ∅ delta.
    if (append && written.isEmpty && kv.isEmpty) return

    // snapshot the cache under the refresh() lock: the claimed slot and the
    // remove actions must come from ONE consistent (lastSeen, view) pair
    val (slotId, baseView, baseMeta) = synchronized { (lastSeen + 1, view, metaView) }
    // the schema rides the commit only when it changes what the log holds
    val logged = kv ++ Option.when(written.nonEmpty && !baseMeta.get(IndexState.SchemaKey).contains(schema))(
      IndexState.SchemaKey -> schema)
    val removes =
      if (append) Seq.empty
      else touched.sorted.flatMap(k =>
        baseView.getOrElse(k, Vector.empty).map(d => s"remove\t$k\t$d"))
    val actions =
      (if (slotId == 0) Seq(s"meta\tbuckets\t$buckets") else Seq.empty) ++
        removes ++
        written.sorted.map(k => s"add\t$k\t$dir") ++
        logged.toSeq.sorted.map { case (k, v) => s"mkv\t$k\t$v" }
    val slot = logDir.resolve(f"$slotId%020d.txn")
    if (!putIfAbsent(slot, actions.mkString("\n")))
      throw new java.util.ConcurrentModificationException(
        s"txn slot ${slot.getFileName} already committed by another writer — " +
          s"state $stateDir advanced under this writer; it is fenced off")
    // under the same lock, and set-to-claimed-slot rather than increment: a
    // concurrent refresh() may already have applied the entry this commit
    // just won (bumping lastSeen to slotId); both updates are idempotent,
    // while an unlocked `lastSeen += 1` would claim a slot never written
    synchronized {
      val cleared = if (append) view else view -- touched
      view = written.foldLeft(cleared)((v, k) => addDir(v, k, dir))
      metaView = metaView ++ logged
      if (slotId > lastSeen) lastSeen = slotId
    }
  }

  /** Merge every bucket whose delta chain exceeds `maxDeltas` dirs back
    * into one dir via the copy-on-write path (read the bucket's base +
    * deltas, rewrite as a single dir). The read-fan-in bound for
    * [[commitAppend]]-heavy states; superseded delta dirs become
    * [[vacuum]]-reclaimable. Returns the merged bucket ids. */
  def compactBuckets(maxDeltas: Int = maxDeltasPerBucket): Seq[Int] = {
    refresh()
    val heavy = synchronized {
      view.collect { case (k, dirs) if dirs.size > maxDeltas => k }.toSeq.sorted
    }
    if (heavy.nonEmpty)
      readBuckets(heavy).foreach { merged =>
        doCommit(merged, f"c$lastSeen%015d", heavy, append = false, Map.empty)
      }
    heavy
  }

  /** Compact the log: write the CURRENT fold as a checkpoint entry at
    * the last committed id (atomic temp+rename — readers see the old or
    * the new checkpoint, never a torn one). Readers thereafter replay
    * checkpoint + suffix instead of the whole log; txn entries the
    * checkpoint covers become dead weight reclaimable by
    * [[vacuumLog]]. Safe concurrently with writers: the checkpoint only
    * summarizes entries ≤ its id, and commit slots are claimed by
    * put-if-absent on `.txn` names the checkpoint never touches.
    * Returns the checkpointed entry id, or None on an empty log. */
  def compact(): Option[Long] = {
    val (last, live, pinned, meta) = fold()
    if (last < 0) None
    else {
      val lines =
        Seq(s"meta\tbuckets\t${pinned.getOrElse(buckets)}") ++
          live.toSeq.sortBy(_._1).flatMap { case (k, dirs) =>
            dirs.map(d => s"add\t$k\t$d") } ++ // vector order preserved: replay appends in delta order
          meta.toSeq.sorted.map { case (k, v) => s"mkv\t$k\t$v" }
      IndexState.atomicWriteString(
        logDir.resolve(f"$last%020d.ckpt"), lines.mkString("\n"))
      Some(last)
    }
  }

  /** Auto-compaction cadence: once `autoCompactEvery` txn entries have
    * accumulated past the newest checkpoint, write a fresh checkpoint and
    * reclaim the covered entries — without this a long-running stream
    * folds an ever-growing log on every first read. Readers are safe
    * across the reclaim by construction: a cached reader whose suffix no
    * longer starts at lastSeen+1 (or that observes a newer checkpoint)
    * reseeds with a full fold ([[refresh]]'s gap detection), and the
    * checkpoint is atomic-rename-visible. `autoCompactEvery <= 0`
    * disables the cadence (manual [[compact]]/[[vacuumLog]] only). */
  override def maintain(): Unit = {
    // delta-chain compaction first: its merge commit is itself a txn
    // entry the log compaction below then covers, and its superseded
    // delta dirs age into the data vacuum below
    val merged = if (maxDeltasPerBucket > 0) compactBuckets() else Seq.empty
    if (merged.nonEmpty) { vacuum(maintenanceGraceMs); () }
    if (autoCompactEvery <= 0) return
    refresh()
    val cover = listLog(".ckpt").lastOption.map(entryId).getOrElse(-1L)
    if (lastSeen - cover >= autoCompactEvery) {
      compact()
      vacuumLog(maintenanceGraceMs)
      ()
    }
  }

  /** Drop txn entries a checkpoint already covers (and superseded older
    * checkpoints), subject to the same grace window as data vacuum —
    * a reader mid-fold may still be consuming a just-covered entry.
    * Returns the deleted file names. */
  def vacuumLog(graceMs: Long = 10 * 60 * 1000L): Seq[String] = {
    val cps = listLog(".ckpt")
    cps.lastOption match {
      case None => Seq.empty
      case Some(latest) =>
        val cover = entryId(latest)
        val cutoff = System.currentTimeMillis() - graceMs
        val doomed =
          (listLog(".txn").filter(entryId(_) <= cover) ++ cps.init)
            .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
        doomed.foreach(Files.deleteIfExists(_))
        doomed.map(_.getFileName.toString).sorted
    }
  }

  /** [[IndexState.vacuumStale]] over the data dirs the log no longer
    * references; the log itself and loose files are never touched. */
  def vacuum(graceMs: Long): Seq[String] = {
    val keep = fold()._2.values.flatten.map(_.split("/", 2)(0)).toSet + "_txnlog"
    IndexState.vacuumStale(stateDir, graceMs)(p =>
      keep(p.getFileName.toString) || !Files.isDirectory(p))
  }
}
