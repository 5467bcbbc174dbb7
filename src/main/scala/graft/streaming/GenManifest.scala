package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic generation-pointer + high-water-mark manifest for the
  * single-state streaming monitors ([[StreamAspect]], [[StreamBurst]],
  * [[StreamCalibration]], [[StreamDecodeHealth]], [[StreamKmv]],
  * [[StreamGramCoverage]], [[StreamPsi]], [[StreamQuota]]): each keeps
  * one constant-size state frame as immutable `g<batchId>` generation
  * directories. [[advance]] is their one commit and [[live]] their one
  * reader. The dual-state monitors keep the pointer in their store's
  * metadata instead ([[GenMeta]]).
  *
  * One `_current` file holds `gen\tlo\thi` and, on a second line, the
  * generation's read schema (JSON), so [[live]] resolves its frame with
  * no footer-inference job. It is written via temp + ATOMIC_MOVE, so the
  * state advance and the redelivery detector are a SINGLE commit point:
  * a crash anywhere before the move replays the
  * batch against the OLD generation (correct: the fold is deterministic
  * and the new generation directory is simply rewritten), and a crash
  * after the move is detected as a bit-exact redelivery by its (lo, hi)
  * range and skipped. The idempotent folds ([[StreamKmv]], [[StreamGramCoverage]]) commit the
  * `Long.MinValue` sentinel range and do not skip a replay; they fold it
  * again into a fresh generation (see [[advance]]).
  */
object GenManifest {

  /** (generation, hwm lo, hwm hi, read schema) of the live commit, None
    * when empty. */
  private def pointer(dir: String): Option[(String, Long, Long, String)] = {
    val cur = Paths.get(dir, "_current")
    if (!Files.exists(cur)) None
    else {
      val raw = Files.readString(cur).trim
      raw.split("\n", 2).map(_.split("\t")) match {
        case Array(Array(g, lo, hi), Array(schema)) => Some((g, lo.toLong, hi.toLong, schema))
        case _ => throw new IllegalStateException(s"unparseable generation manifest in $dir: '$raw'")
      }
    }
  }

  /** (generation, hwm lo, hwm hi) of the live commit, None when empty. */
  def read(dir: String): Option[(String, Long, Long)] =
    pointer(dir).map { case (g, lo, hi, _) => (g, lo, hi) }

  /** The live generation name (directory under `dir`), None when empty. */
  def currentGen(dir: String): Option[String] = read(dir).map(_._1)

  /** The ascending-arrival contract check. Returns TRUE when the batch
    * is a bit-exact redelivery of the newest committed one (same lo/hi —
    * already folded, the caller must skip it); throws on any other
    * overlap with the high-water mark; returns false for a fresh batch. */
  def isRedelivery(dir: String, lo: Long, hi: Long, contract: String): Boolean =
    read(dir) match {
      case Some((_, pl, ph)) if lo == pl && hi == ph => true
      case Some((_, _, ph)) if lo <= ph =>
        throw new IllegalStateException(
          s"out-of-order arrival: batch range [$lo, $hi] overlaps the " +
            s"high-water mark $ph — $contract")
      case _ => false
    }

  /** THE commit point: generation pointer, hwm and the generation's read
    * schema land in one atomic move. */
  def commit(dir: String, gen: String, lo: Long, hi: Long, schema: String): Unit =
    IndexState.atomicWriteString(Paths.get(dir, "_current"), s"$gen\t$lo\t$hi\n$schema")

  /** Write `next` as generation `gen` under `dir`; returns its read
    * schema (JSON) for the pointer that will name it. */
  private[streaming] def writeGen(dir: String, gen: String, next: DataFrame): String = {
    next.write.mode("overwrite").parquet(s"$dir/$gen")
    IndexState.readSchema(next.schema).json
  }

  /** The live generation as a frame, None before the first commit. */
  def live(spark: SparkSession, dir: String): Option[DataFrame] =
    pointer(dir).map { case (g, _, _, schema) => IndexState.readParquet(spark, schema, s"$dir/$g") }

  /** Commit `next` as the state after batch `batchId` with hwm (lo, hi):
    * write it as a new generation, [[commit]] the pointer, then
    * [[GenMeta.sweep]] the generations it replaced. The sweep's grace
    * window keeps a replaced generation on disk for a reader that
    * resolved [[live]] before the commit and has not yet collected.
    *
    * The live generation is never overwritten. `next` is derived from it,
    * and a batch id can run twice: Structured Streaming reruns a batch
    * whose `perBatch` committed here but whose own commit log entry was
    * never written. Overwriting `g<batchId>` from a plan that reads
    * `g<batchId>` deletes the input before the scan, so the write fails
    * and leaves the pointer on an empty directory. A rerun of the live
    * batch therefore writes `g<batchId>-r<nanos>` ([[IndexState.retryName]],
    * the rule the document stores' commit dirs follow too). */
  def advance(dir: String, batchId: Long, next: DataFrame, lo: Long, hi: Long): Unit = {
    val gen = IndexState.retryName(s"g$batchId", taken = currentGen(dir).contains(s"g$batchId"))
    commit(dir, gen, lo, hi, writeGen(dir, gen, next))
    GenMeta.sweep(dir, keep = gen)
  }
}

/** The DUAL-STATE variant of [[GenManifest]]: monitors that keep a
  * bucketed per-key state in a [[DocStateStore]] NEXT TO a constant-size
  * rollup generation ([[StreamTransitions]], [[StreamAttribution]],
  * [[StreamUniqueTokens]], [[StreamVocab]]) cannot use a filesystem
  * manifest as the commit point — a crash between the store commit and
  * the manifest flip leaves the two halves disagreeing about which
  * batches folded (the per-key state says yes, the redelivery detector
  * says no → the additive rollup double-counts on replay, or computes
  * boundary terms against post-batch state). Instead the generation
  * pointer AND the high-water mark ride the store commit itself as
  * [[DocStateStore.stateMeta]] keys (Delta's `txn` action, re-expressed):
  * ONE put-if-absent txn entry (or CURRENT flip) advances the per-key
  * delta, the rollup pointer, and the redelivery range together — no
  * ordering of filesystem writes can tear them apart. The rollup's read
  * schema rides beside them as `<ns>.schema`. */
object GenMeta {

  /** The live rollup generation for namespace `ns`, None when empty. */
  def currentGen(store: DocStateStore, ns: String): Option[String] =
    store.stateMeta(s"$ns.gen")

  /** The live rollup generation of namespace `ns` (kept under `dir`) as a
    * frame, None before the first commit — [[GenManifest.live]] for a
    * pointer that rides the store's metadata. */
  def live(spark: SparkSession, store: DocStateStore, ns: String,
           dir: String): Option[DataFrame] =
    currentGen(store, ns).map(g =>
      IndexState.readParquet(spark, store.stateMeta(s"$ns.schema").get, s"$dir/$g"))

  /** Write `next` as the rollup generation of batch `batchId` under `dir`
    * and return its name and read schema, which become live when the
    * caller's store commit carries [[kv]] of them. Unlike
    * [[GenManifest.advance]] it never needs a retry name: a batch whose
    * generation is already live is a redelivery, which [[isRedelivery]]
    * skips before the fold. */
  def write(dir: String, batchId: Long, next: DataFrame): (String, String) = {
    val gen = s"g$batchId"
    (gen, GenManifest.writeGen(dir, gen, next))
  }

  /** Ascending-arrival check against the store-resident hwm: true = the
    * batch is a bit-exact redelivery of the newest committed one (skip
    * it); throws on any other overlap; false = fresh batch. */
  def isRedelivery(store: DocStateStore, ns: String,
                   lo: Long, hi: Long, contract: String): Boolean = {
    val hwm = store.stateMeta(s"$ns.hwm")
      .map { h => val Array(pl, ph) = h.split(",").map(_.toLong); (pl, ph) }
    hwm match {
      case Some((pl, ph)) =>
        if (lo == pl && hi == ph) true
        else if (lo <= ph) throw new IllegalStateException(
          s"out-of-order arrival: batch range [$lo, $hi] overlaps the " +
            s"high-water mark $ph — $contract")
        else false
      case None => false
    }
  }

  /** The meta entries a monitor attaches to its store commit. */
  def kv(ns: String, gen: String, schema: String, lo: Long, hi: Long): Map[String, String] =
    Map(s"$ns.gen" -> gen, s"$ns.schema" -> schema, s"$ns.hwm" -> s"$lo,$hi")

  /** Reclaim superseded `g*` generation directories under `aggDir` —
    * called AFTER the commit, so a crash before it merely leaks a dir
    * that the next batch's sweep reclaims (self-healing, never load-
    * bearing). Deletion is TWO-PHASE with a grace window: the first
    * sweep that sees a superseded dir stamps a `_doomed` marker (an
    * underscore file, invisible to parquet readers) recording the
    * supersession time; only a later sweep deletes dirs whose stamp is
    * older than `graceMs`. A concurrent [[GenManifest.live]] or [[live]] reader
    * that resolved the old pointer but has not yet materialized its
    * lazy parquet scan therefore never hits FileNotFoundException
    * mid-read — the same discipline as the store vacuum paths.
    *
    * Retention is bounded by COUNT as well as age: only the
    * `graceKeep` most-recently-superseded generations get the FULL
    * grace window; older ones are reclaimable once `graceFloorMs` has
    * passed since their supersession stamp. Commit COUNT alone must
    * never delete — at seconds-level trigger cadence a gen can be
    * `graceKeep` commits deep within seconds of being superseded while
    * a reader that resolved it as CURRENT is still materializing its
    * lazy scan; the floor is the hard resolution→materialization bound
    * every reader gets. The backlog is then capped at
    * max(graceKeep, commits within graceFloorMs) directories per
    * monitor instead of one per trigger across the whole window. */
  def sweep(aggDir: String, keep: String, graceMs: Long = 10L * 60 * 1000,
            graceKeep: Int = 4, graceFloorMs: Long = 60L * 1000): Unit =
    // self-healing and never load-bearing: a failed sweep leaks dirs
    // the NEXT sweep reclaims — it must not fail the batch post-commit.
    // But a PERSISTENTLY failing sweep (permissions, IO) leaks superseded
    // generations forever, so the swallow is rate-limited-logged: one
    // line per (aggDir, exception class) per process, diagnosable
    // without turning the post-commit hook into a log storm.
    try sweepOrThrow(aggDir, keep, graceMs, graceKeep, graceFloorMs)
    catch {
      case scala.util.control.NonFatal(e) =>
        val key = s"$aggDir#${e.getClass.getName}"
        if (loggedSweepFailures.add(key))
          System.err.println(
            s"[graft] GenMeta.sweep failed for $aggDir (superseded generations " +
              s"will accumulate until a sweep succeeds): $e")
    }

  /** (aggDir, exception class) pairs already logged — bounds sweep-failure
    * logging to one line per distinct failure mode per process. */
  private val loggedSweepFailures =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[streaming] def sweepOrThrow(aggDir: String, keep: String, graceMs: Long,
                                      graceKeep: Int, graceFloorMs: Long): Unit = {
    val root = Paths.get(aggDir)
    if (!Files.exists(root)) return
    val fs = Files.list(root)
    val superseded =
      try {
        val it = fs.iterator()
        var acc = List.empty[java.nio.file.Path]
        while (it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          if (n.startsWith("g") && n != keep && Files.isDirectory(p)) acc ::= p
        }
        acc
      } finally fs.close()
    // a re-committed (replayed) generation is live again: clear any
    // stale stamp so a later supersession gets a full grace window
    Files.deleteIfExists(root.resolve(keep).resolve("_doomed"))
    val now = System.currentTimeMillis()
    // newest-first by batch id (gens are g<batchId>, monotonic);
    // non-numeric strays sort LAST (oldest) — note -(Long.MinValue)
    // would overflow back to MinValue and rank them newest
    val byRecency = superseded.sortBy { p =>
      val n = p.getFileName.toString.drop(1).takeWhile(_.isDigit) // g<batchId>[-r<nanos>]
      if (n.nonEmpty && n.forall(_.isDigit)) -n.toLong else Long.MaxValue
    }
    byRecency.zipWithIndex.foreach { case (p, rank) =>
      val stamp = p.resolve("_doomed")
      val doomedAt =
        if (Files.exists(stamp)) {
          // a crash mid-write leaves a partial stamp; treat it as
          // stamped now (sweep is self-healing, never load-bearing)
          val raw = Files.readString(stamp).trim
          if (raw.nonEmpty && raw.forall(_.isDigit)) raw.toLong
          else { IndexState.atomicWriteString(stamp, now.toString); now }
        } else { IndexState.atomicWriteString(stamp, now.toString); now }
      val age = now - doomedAt
      if (age >= graceMs || (rank >= graceKeep && age >= graceFloorMs))
        IndexState.deleteTree(p)
    }
  }
}
