package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import java.nio.file.{Files, Paths}

/** Shared per-micro-batch k-gram state machinery for the streaming
  * keep-first operators ([[StreamNovelty]], [[StreamSpanDedup]]): ONE
  * typed kernel job summarizing the batch (positional k-gram hashes,
  * within-batch (doc_id, pos) winners, per-doc window counts —
  * [[summarize]]), one map-only probe of the bucket-pruned cross-batch
  * seen set against the broadcast trigger keys ([[probeSeen]]), and the
  * O(fresh) append of the batch's first occurrences into the
  * [[DocStateStore]] ([[DocStateStore.commitAppend]] — the seen-set is
  * append-only by construction, keep-first never updates an entry).
  * The summary is trigger-sized and flows through the driver under the
  * SAME memory contract the earlier relational formulation used when it
  * broadcast the winner keys into the state probe; what the kernel
  * removes is the per-trigger explode, two shuffles, four persisted
  * frames, and ~half the Spark jobs — the drain family's wall was
  * job-count-bound, not data-bound (measured: the commit floor and the
  * per-job scheduling constant dominated trigger wall at sf0.1).
  * With batches arriving in ascending doc_id order the incremental rule
  * equals the batch operators' global keep-first exactly — each
  * streaming op's oracle is its batch twin's SQL. That precondition is
  * ENFORCED, not assumed: [[checkAscending]] validates every batch
  * against a persisted doc_id high-water mark and fails the batch
  * loudly on out-of-order arrival (an exact redelivery of the most
  * recent batch is tolerated — at-least-once replays are expected). */
private[streaming] object KgramStreamCore {

  /** The (doc_id, text) document log every k-gram drain reads. */
  val docLog: StructType = StructType.fromDDL("doc_id long, text string")

  /** Validate the ascending-arrival contract: the batch's min doc_id
    * must exceed the stored high-water mark (the previous batch's max).
    * Returns Some((lo, hi)) to pass to [[advanceHwm]] after the commit,
    * None for an empty batch. Throws on any out-of-order batch EXCEPT a
    * bit-exact replay of the most recent one (same lo/hi), which a
    * crashed-and-restarted at-least-once stream legitimately redelivers
    * (its fresh set then folds to ∅ against the already-committed
    * state).
    *
    * The range comes from the per-batch stats aggregate (one job shared
    * with the touched-bucket computation, no extra source scan), and it
    * covers exactly the rows whose order matters: a sub-k doc holds no
    * k-gram state and its per-doc output is order-independent, so the
    * occ domain (which omits it) is the precise validation scope for
    * novelty/span-dedup; s13 validates over every fingerprint. */
  def checkAscending(outPath: String,
                     range: Option[(Long, Long)]): Option[(Long, Long)] = {
    range.foreach { case (lo, hi) =>
      val hwmFile = Paths.get(outPath, "_hwm") // '_' prefix: invisible to parquet readers
      if (Files.exists(hwmFile)) {
        val Array(prevLo, prevHi) = Files.readString(hwmFile).trim.split("\t").map(_.toLong)
        if (lo <= prevHi && !(lo == prevLo && hi == prevHi))
          throw new IllegalStateException(
            s"out-of-order arrival: batch doc_id range [$lo, $hi] overlaps the " +
              s"high-water mark $prevHi — the streaming keep-first gates equal " +
              "their batch twins only under ascending doc_id arrival (an ordered " +
              "ingestion log); re-order the input or use the batch operator")
      }
    }
    range
  }

  /** One action returning (doc_id range, touched buckets) over a cached
    * per-batch frame: min/max for the ascending-arrival check and the
    * collect_set of bucket ids for the pruned state read share a single
    * aggregate (partial-agg reduces it to ≤ buckets values per task), so
    * the cache-fill scan is paid once, not once per question. */
  def batchStats(ids: DataFrame, idCol: String, keyCol: Column,
                 buckets: Int): (Option[(Long, Long)], Seq[Int]) = {
    val r = ids.agg(
      min(col(idCol)).cast("long"),
      max(col(idCol)).cast("long"),
      collect_set(graft.expr.hfunctions.md5_shard(keyCol, buckets))).first()
    if (r.isNullAt(0)) (None, Seq.empty)
    else (Some((r.getLong(0), r.getLong(1))),
      r.getSeq[Int](2).sorted)
  }

  /** Persist the validated batch's doc_id range as the new high-water
    * mark — called AFTER the state commit so a crash between the two
    * replays the batch (tolerated above) rather than skipping it. */
  def advanceHwm(outPath: String, range: Option[(Long, Long)]): Unit =
    range.foreach { case (lo, hi) =>
      IndexState.atomicWriteString(Paths.get(outPath, "_hwm"), s"$lo\t$hi")
    }

  /** Driver-merged per-trigger k-gram summary: the batch's distinct
    * k-gram hashes (SORTED — the probe side binary-searches them), the
    * within-batch winner (doc_id, pos) per hash, and the per-doc window
    * counts. Trigger-sized BY THE SAME CONTRACT that let the retired
    * relational plan `broadcast(winners)` — a broadcast already staged
    * the whole winner set through the driver; the kernel just makes that
    * explicit and drops the explode + two shuffles + three persisted
    * frames that produced it (per-trigger wall was job-count-bound, not
    * data-bound). */
  final case class KgramSummary(
      hs: Array[Long], winDoc: Array[Long], winPos: Array[Long],
      docIds: Array[Long], docWindows: Array[Long],
      touched: Seq[Int], range: Option[(Long, Long)])

  /** Ceiling on the DISTINCT k-grams a single trigger may stage through
    * the driver summary — the [[DocStateStore]] family's
    * `DefaultMaxIndexRows` pattern applied to the drain path: the
    * summary costs ~24 B/gram on the driver (hash + winner doc + winner
    * pos longs) plus the same again as a probe/commit broadcast, so the
    * default of 2^27 ≈ 134M grams bounds the summary at ~3.2 GB — sized
    * for the 16 GB driver the bounded-collect family assumes, with
    * headroom for the batch's own frames. A char-granular trigger emits
    * ~one gram per character, so this default admits triggers up to
    * ~134 MB of normalized text; a misconfigured corpus-sized trigger
    * fails BY NAME here instead of OOMing the driver mid-collect. Raise
    * it explicitly if the driver has the memory; shrink the trigger
    * (maxFilesPerTrigger) if it doesn't. */
  val DefaultMaxSummaryGrams: Int = 1 << 27

  /** The batch as (doc_id, text, positional k-gram hashes) — the ONE
    * evaluation of the k-gram kernel per trigger. [[summarize]] consumes
    * it directly; a drain that needs a second pass over the same hashes
    * (the s12 rebuild) persists this frame so the kernel runs once, not
    * once per pass (the r17 shape re-hashed the whole batch in the
    * rebuild — measured at ~a third of s12's per-trigger wall). */
  def hashedDocs(batch: DataFrame, idCol: String, textCol: String,
                 k: Int): org.apache.spark.sql.Dataset[(Long, String, Array[Long])] = {
    val spark = batch.sparkSession
    import spark.implicits._
    // NOT widened (kernelParallel): measured on the one-file sf0.1
    // triggers, the widening exchange + 32-task scheduling cost MORE than
    // the single-core token-kgram kernel it parallelizes (interleaved A/B
    // per-query-min: s12 1.10x, s11 a wash) — the token kernel is ~6x
    // lighter per byte than the char kernel, which IS widened
    // (StreamCharSpanDedup); at cluster trigger sizes the scan has many
    // splits and there is nothing to widen anyway
    batch.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (d, t) =>
        (d, t, if (t == null) null else graft.expr.TextHash.kgramHashes60(t, k))
      }
  }

  /** ONE job over the batch: per-partition winner maps and per-doc
    * window counts, merged on the driver (a doc's row lives in exactly
    * one partition, so doc counts concatenate; winners merge by
    * lexicographic (doc_id, pos) min — order-independent). */
  def summarize(batch: DataFrame, idCol: String, textCol: String, k: Int,
                buckets: Int,
                maxSummaryGrams: Int = DefaultMaxSummaryGrams): KgramSummary =
    summarizeHashed(hashedDocs(batch, idCol, textCol, k), buckets, maxSummaryGrams)

  /** [[summarize]] over a pre-hashed frame ([[hashedDocs]]) — collecting
    * through it materializes the frame's cache when the caller persisted
    * it for a second pass. */
  def summarizeHashed(docsHs: org.apache.spark.sql.Dataset[(Long, String, Array[Long])],
                      buckets: Int,
                      maxSummaryGrams: Int = DefaultMaxSummaryGrams): KgramSummary = {
    require(maxSummaryGrams > 0, s"maxSummaryGrams must be positive: $maxSummaryGrams")
    val spark = docsHs.sparkSession
    import spark.implicits._
    def tooBig(n: Int): Nothing =
      throw new IllegalArgumentException(
        s"trigger k-gram summary exceeds maxSummaryGrams=$maxSummaryGrams distinct " +
          s"grams (reached $n) — the summary stages ~24 B/gram through the driver " +
          "and back out as a broadcast, so it must stay trigger-sized; shrink the " +
          "trigger (maxFilesPerTrigger) or raise maxSummaryGrams " +
          "(KgramStreamCore.DefaultMaxSummaryGrams) if the driver has the memory")
    val parts = docsHs
      .mapPartitions { it =>
        val win = new java.util.HashMap[Long, Array[Long]]()
        val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        it.foreach { case (docId, _, hs) =>
          if (hs != null && hs.length > 0) {
            docs += ((docId, hs.length.toLong))
            var i = 0
            while (i < hs.length) {
              val h = hs(i)
              val pos = (i + 1).toLong
              val cur = win.get(h)
              if (cur == null || docId < cur(0) || (docId == cur(0) && pos < cur(1))) {
                win.put(h, Array(docId, pos))
                // executor-side early trip: one partition over the bound
                // already dooms the merged summary — fail before the
                // driver collect materializes anything
                if (win.size() > maxSummaryGrams) tooBig(win.size())
              }
              i += 1
            }
          }
        }
        val n = win.size()
        val hsA = new Array[Long](n); val dA = new Array[Long](n); val pA = new Array[Long](n)
        var j = 0
        val e = win.entrySet().iterator()
        while (e.hasNext) {
          val kv = e.next()
          hsA(j) = kv.getKey; dA(j) = kv.getValue()(0); pA(j) = kv.getValue()(1)
          j += 1
        }
        Iterator.single((hsA, dA, pA, docs.map(_._1).toArray, docs.map(_._2).toArray))
      }
      .collect()
    val win = new java.util.HashMap[Long, Array[Long]]()
    var docCount = 0
    parts.foreach { case (hsA, dA, pA, dIds, _) =>
      docCount += dIds.length
      var i = 0
      while (i < hsA.length) {
        val cur = win.get(hsA(i))
        if (cur == null || dA(i) < cur(0) || (dA(i) == cur(0) && pA(i) < cur(1)))
          win.put(hsA(i), Array(dA(i), pA(i)))
        i += 1
      }
    }
    // merged-total trip: partitions individually under the bound can
    // still merge over it
    if (win.size() > maxSummaryGrams) tooBig(win.size())
    val hs = new Array[Long](win.size())
    var j = 0
    val ks = win.keySet().iterator()
    while (ks.hasNext) { hs(j) = ks.next(); j += 1 }
    java.util.Arrays.sort(hs)
    val winDoc = new Array[Long](hs.length)
    val winPos = new Array[Long](hs.length)
    j = 0
    while (j < hs.length) {
      val w = win.get(hs(j)); winDoc(j) = w(0); winPos(j) = w(1); j += 1
    }
    val docIds = new Array[Long](docCount)
    val docWindows = new Array[Long](docCount)
    j = 0
    parts.foreach { case (_, _, _, dIds, dWins) =>
      System.arraycopy(dIds, 0, docIds, j, dIds.length)
      System.arraycopy(dWins, 0, docWindows, j, dIds.length)
      j += dIds.length
    }
    // touched buckets and the ascending-contract range, from the merged
    // summary (same domains as the retired batchStats over the explode:
    // distinct h = winner keys; doc range = docs with ≥1 window). Only
    // the bucket SET matters, so the scan stops the moment all `buckets`
    // ids have appeared — a char-granular trigger carries millions of
    // grams and the full driver-side md5 loop was measurable (s39), while
    // a dense trigger saturates a 16-bucket set within ~hundreds of grams
    val bseen = new java.util.HashSet[Integer]()
    var bi = 0
    while (bi < hs.length && bseen.size < buckets) {
      bseen.add(graft.sink.Sharding.md5Shard(hs(bi).toString, buckets)); bi += 1
    }
    val touched = {
      import scala.jdk.CollectionConverters._
      bseen.asScala.toSeq.map(_.intValue).sorted
    }
    val range = if (docIds.isEmpty) None else Some((docIds.min, docIds.max))
    KgramSummary(hs, winDoc, winPos, docIds, docWindows, touched, range)
  }

  /** The ALREADY-SEEN subset of the summary's k-grams, SORTED: one
    * map-only pass over the touched buckets' state files probing the
    * broadcast trigger-key array — the seen-set never shuffles (the same
    * read-side discipline as the retired broadcast-join probe, minus the
    * join machinery). */
  def probeSeen(state: DocStateStore, sum: KgramSummary,
                spark: SparkSession): Array[Long] =
    Drain.timed("probeSeen")(state.readBuckets(sum.touched) match {
      case None => Array.emptyLongArray
      case Some(df) =>
        import spark.implicits._
        val bc = spark.sparkContext.broadcast(sum.hs)
        // a char-granular trigger broadcasts millions of longs; destroy
        // eagerly once the probe action completes — GC-driven
        // ContextCleaner cleanup is too lazy for a long drain's cadence
        val hits =
          try df.select(col("id")).as[String]
            .mapPartitions { it =>
              val keys = bc.value
              it.flatMap { s =>
                val h = java.lang.Long.parseLong(s)
                if (java.util.Arrays.binarySearch(keys, h) >= 0) Iterator.single(h)
                else Iterator.empty
              }
            }
            .collect()
          finally bc.destroy()
        java.util.Arrays.sort(hits)
        hits
    })

  /** Append the batch's first-occurrence k-grams (summary hashes not in
    * `seenSorted`) into the store as a delta: write volume is O(fresh),
    * never O(seen) — the seen-set is append-only, so
    * [[DocStateStore.commitAppend]] applies ([[TxnLogState]] bounds the
    * delta chains by merging heavy buckets on its `maintain()` cadence).
    * No distinct needed: seen is unique by induction (disjoint fresh
    * sets appended) and the summary's hashes are distinct. */
  def commitFresh(state: DocStateStore, sum: KgramSummary,
                  seenSorted: Array[Long], batchId: Long,
                  spark: SparkSession): Unit = {
    import spark.implicits._
    // the fresh set stays a PRIMITIVE long array on the driver; the
    // String keys and their row encoding happen on executors over a
    // broadcast of the packed longs — createDataset(Seq[String]) encoded
    // every row single-threaded on the driver, which dominated the
    // char-granular drain's commit (millions of fresh grams per trigger)
    val fresh = sum.hs.filter(h => java.util.Arrays.binarySearch(seenSorted, h) < 0)
    val slices = math.max(1, math.min(32, fresh.length / 65536 + 1))
    val bc = spark.sparkContext.broadcast(fresh)
    try {
      val freshDf = spark.sparkContext
        .parallelize(0 until slices, slices)
        .mapPartitions { it =>
          val a = bc.value
          it.flatMap { s =>
            val lo = (s.toLong * a.length / slices).toInt
            val hi = ((s + 1).toLong * a.length / slices).toInt
            (lo until hi).iterator.map(i => a(i).toString)
          }
        }
        .toDF("id")
      Drain.timed("commitAppend")(state.commitAppend(freshDf, f"n$batchId%09d", sum.touched))
      // destroy once the commit action has consumed it: millions of
      // packed longs per char-granular trigger must not wait on the
      // GC-driven ContextCleaner across a long drain
    } finally bc.destroy()
    Drain.timed("maintain")(state.maintain())
  }
}

/** Streaming k-gram NOVELTY gate — [[graft.ops.Dedup.noveltyScores]]'
  * keep-first rule as an incremental per-micro-batch stage with
  * cross-batch state: a k-gram window is novel iff its k-gram has never
  * been seen in any PRIOR batch and this window is the within-batch
  * (doc_id, pos)-first occurrence. With batches arriving in ascending
  * doc_id order (an ordered ingestion log) this computes EXACTLY the
  * batch operator's global keep-first — the s11 oracle is t13's SQL.
  *
  * The seen-k-gram set lives in a [[DocStateStore]] keyed by the hash
  * string (`id`), reusing the sink's md5_shard bucketing: each batch
  * reads ONLY the buckets its own k-grams hash into (a ≤buckets-row
  * driver collect decides which), unions its first-occurrence hashes in,
  * and commits just those buckets copy-on-write — the same
  * touched-bucket contract as [[MutationStream.applyBatch]], so
  * [[TxnLogState]] brings idempotent versioned commits, optimistic
  * concurrency, and the auto-compaction cadence for free.
  *
  * Scale shape: one [[KgramStreamCore.summarize]] kernel job over the
  * batch, one map-only [[KgramStreamCore.probeSeen]] pass over only the
  * touched buckets' seen hashes, two small writes — zero shuffles per
  * trigger. State grows with DISTINCT k-grams, not corpus size, and is
  * bucket-pruned on read — no full-state scan per batch, no
  * flatMapGroupsWithState timer state.
  */
object StreamNovelty {

  /** Process one micro-batch: append (doc_id, n_windows, n_novel,
    * novelty) rows to `outPath` and fold the batch's first-occurrence
    * k-grams into `state`. Returns the touched bucket ids. */
  def applyBatch(state: DocStateStore, batch: DataFrame, idCol: String,
                 textCol: String, k: Int, outPath: String,
                 batchId: Long): Seq[Int] = {
    val spark = batch.sparkSession
    import spark.implicits._
    val sum = Drain.timed("summarize")(
      KgramStreamCore.summarize(batch, idCol, textCol, k, state.buckets))
    KgramStreamCore.checkAscending(outPath, sum.range)
    val seen = KgramStreamCore.probeSeen(state, sum, spark)
    Drain.timed("output") {
      // novel per doc = its fresh winner count, folded driver-side from
      // the summary (the retired relational tag-union aggregation moved
      // trigger-sized frames through a shuffle to compute the same sums)
      val novel = new java.util.HashMap[java.lang.Long, Long]()
      var i = 0
      while (i < sum.hs.length) {
        if (java.util.Arrays.binarySearch(seen, sum.hs(i)) < 0) {
          val d = java.lang.Long.valueOf(sum.winDoc(i))
          novel.put(d, novel.getOrDefault(d, 0L) + 1L)
        }
        i += 1
      }
      val rows = sum.docIds.indices.map { j =>
        val d = sum.docIds(j)
        val w = sum.docWindows(j)
        val n = novel.getOrDefault(java.lang.Long.valueOf(d), 0L)
        (d, w, n, n.toDouble / w)
      }
      spark.createDataset(rows)
        .toDF("doc_id", "n_windows", "n_novel", "novelty")
        .coalesce(1).write.mode("append").parquet(outPath)
    }
    KgramStreamCore.commitFresh(state, sum, seen, batchId, spark)
    KgramStreamCore.advanceHwm(outPath, sum.range)
    sum.touched
  }

  /** Convenience drain for an ordered document log: stream `inPath`
    * (doc_id long, text string) file-by-file, gate every batch through
    * [[applyBatch]], return the accumulated per-doc novelty scores. */
  def drain(spark: SparkSession, state: DocStateStore, inPath: String,
            outPath: String, ckptPath: String, k: Int = 8): DataFrame = {
    Drain.run(spark, inPath, KgramStreamCore.docLog, ckptPath) { (b, id) =>
      applyBatch(state, b, "doc_id", "text", k, outPath, id)
    }
    spark.read.schema("doc_id long, n_windows long, n_novel long, novelty double")
      .parquet(outPath)
  }
}

/** Streaming DOC-LEVEL exact dedup — [[graft.ops.Dedup.exactGroups]]'
  * keep-first rule as an unbounded ingestion gate: a document is kept
  * iff its canonical fingerprint (lowercased, whitespace-collapsed md5 —
  * [[graft.ops.TextAnalysis.fingerprint]]) was never seen in any prior
  * batch and it is the smallest doc_id carrying that fingerprint within
  * its own batch. Completes the streaming keep-first family with
  * [[StreamNovelty]] (window-level) and [[StreamSpanDedup]]
  * (token-level): same bucketed [[DocStateStore]] state, same ordered-
  * arrival ≡ batch-operator contract, but the state is one fingerprint
  * per DISTINCT document — far smaller than the k-gram stores — and
  * unbounded by design, unlike [[StreamDedup.dedupWithinHorizon]]'s
  * watermarked event-id horizon. Output: (doc_id, kept). */
object StreamExactDedup {

  /** Process one micro-batch: append (doc_id, kept) rows to `outPath`
    * and fold the batch's first-seen fingerprints into `state`. Returns
    * the touched bucket ids. */
  def applyBatch(state: DocStateStore, batch: DataFrame, idCol: String,
                 textCol: String, outPath: String, batchId: Long): Seq[Int] = {
    val spark = batch.sparkSession
    // NOT widened: the whole-text md5 is far too cheap per trigger for
    // the widening exchange to pay (A/B per-query-min: 1.20x slower
    // widened — the hashedDocs rationale, stronger)
    val fps = batch.select(col(idCol).as("doc_id"),
        graft.ops.TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .persist()
    try {
      // one stats action: fills the fps cache, yields range + touched
      val (range, touched) = KgramStreamCore.batchStats(
        fps, "doc_id", col("fp"), state.buckets)
      KgramStreamCore.checkAscending(outPath, range)
      val winners = fps.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("w_id")).persist()
      try {
        val seen = state.readBuckets(touched)
          .map(_.select(col("id")))
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row],
            StructType(Seq(StructField("id", StringType)))))
        // same read-side shape as KgramStreamCore.prepare: broadcast the
        // trigger-sized fingerprint set, stream the state map-side — the
        // seen-set never shuffles
        val seenHit = seen.select(col("id").as("fp"))
          .join(broadcast(winners.select(col("fp"))), Seq("fp"))
          .persist()
        fps.join(winners, Seq("fp"))
          .join(broadcast(seenHit.withColumn("_seen", lit(true))), Seq("fp"), "left")
          .select(col("doc_id"),
            (col("doc_id") === col("w_id") &&
              !coalesce(col("_seen"), lit(false))).as("kept"))
          .write.mode("append").parquet(outPath)
        val fresh = winners
          .join(broadcast(seenHit), Seq("fp"), "left_anti")
        state.commitAppend(fresh.select(col("fp").as("id")),
          f"n$batchId%09d", touched)
        seenHit.unpersist()
        state.maintain()
        KgramStreamCore.advanceHwm(outPath, range)
        touched
      } finally { winners.unpersist(); () }
    } finally { fps.unpersist(); () }
  }

  /** Convenience drain: stream an ordered document log through
    * [[applyBatch]], return the accumulated keep decisions. */
  def drain(spark: SparkSession, state: DocStateStore, inPath: String,
            outPath: String, ckptPath: String): DataFrame = {
    Drain.run(spark, inPath, KgramStreamCore.docLog, ckptPath) { (b, id) =>
      applyBatch(state, b, "doc_id", "text", outPath, id)
    }
    spark.read.schema("doc_id long, kept boolean").parquet(outPath)
  }
}

/** Streaming EXACT-SUBSTRING span dedup — [[graft.ops.Dedup.dedupSpans]]
  * as an incremental stage over the same cross-batch seen-k-gram state
  * as [[StreamNovelty]]: a k-token window is cut iff its k-gram was
  * claimed by a PRIOR batch (the whole window is a restatement) or it is
  * a non-first occurrence within its own batch. Under ascending doc_id
  * arrival the cut set equals the batch operator's global keep-first
  * cover mask exactly — the s12 oracle is d15's SQL. Same scale shape as
  * s11 plus one more map-only pass over the batch: each document decides
  * its cut windows against the broadcast summary and rebuilds inline
  * with the same `removeTokenSpans` kernel the expression wraps. */
object StreamSpanDedup {

  /** Process one micro-batch: append (doc_id, n_tokens, n_removed,
    * clean_text) rows to `outPath` and fold the batch's first-occurrence
    * k-grams into `state`. Returns the touched bucket ids. */
  def applyBatch(state: DocStateStore, batch: DataFrame, idCol: String,
                 textCol: String, k: Int, outPath: String,
                 batchId: Long): Seq[Int] = {
    val spark = batch.sparkSession
    import spark.implicits._
    // the k-gram kernel runs ONCE per trigger: the persisted hashed frame
    // feeds the summary collect (which fills the cache) AND the rebuild
    // pass below — the r17 shape re-hashed the whole batch in the rebuild,
    // ~a third of this drain's per-trigger wall for pure recomputation
    val hashed = KgramStreamCore.hashedDocs(batch, idCol, textCol, k).persist()
    try {
      val sum = Drain.timed("summarize")(
        KgramStreamCore.summarizeHashed(hashed, state.buckets))
      KgramStreamCore.checkAscending(outPath, sum.range)
      val seen = KgramStreamCore.probeSeen(state, sum, spark)
      Drain.timed("output") {
        // duplicate starts: every occurrence of a previously-seen k-gram,
        // plus every non-winner occurrence within the batch — decided per
        // occurrence in one map-only pass over the cached hashes against
        // the broadcast summary (the retired relational path re-joined the
        // occ explode to winners and the seen marks, then collected starts
        // per doc through another shuffle). The rebuild runs inline with
        // the same removeTokenSpans kernel the expression wraps.
        val bcHs = spark.sparkContext.broadcast(sum.hs)
        val bcDoc = spark.sparkContext.broadcast(sum.winDoc)
        val bcPos = spark.sparkContext.broadcast(sum.winPos)
        val bcSeen = spark.sparkContext.broadcast(seen)
        try hashed
          .mapPartitions { it =>
            val hsK = bcHs.value; val wd = bcDoc.value; val wp = bcPos.value
            val sn = bcSeen.value
            it.map { case (docId, text, hs) =>
              if (text == null)
                (docId, None: Option[Long], None: Option[Long], null: String)
              else {
                val starts = scala.collection.mutable.ArrayBuffer.empty[Long]
                var i = 0
                while (i < hs.length) {
                  val h = hs(i)
                  val pos = (i + 1).toLong
                  val gi = java.util.Arrays.binarySearch(hsK, h) // always ≥ 0
                  if (java.util.Arrays.binarySearch(sn, h) >= 0 ||
                      !(wd(gi) == docId && wp(gi) == pos)) starts += pos
                  i += 1
                }
                val nTok = graft.expr.TextHash.tokenCount(text)
                val clean = graft.expr.TextHash.removeTokenSpans(text, starts.toArray, k)
                (docId, Some(nTok), Some(nTok - graft.expr.TextHash.tokenCount(clean)),
                  clean)
              }
            }
          }
          .toDF("doc_id", "n_tokens", "n_removed", "clean_text")
          .write.mode("append").parquet(outPath)
        // the write above is the only consumer: destroy the trigger's
        // summary broadcasts eagerly instead of leaving millions of longs
        // to the GC-driven ContextCleaner across a long drain
        finally Seq(bcHs, bcDoc, bcPos, bcSeen).foreach(_.destroy())
      }
      KgramStreamCore.commitFresh(state, sum, seen, batchId, spark)
      KgramStreamCore.advanceHwm(outPath, sum.range)
      sum.touched
    } finally { hashed.unpersist(blocking = false); () }
  }

  /** Convenience drain: stream an ordered document log through
    * [[applyBatch]], return the accumulated cleaned documents. */
  def drain(spark: SparkSession, state: DocStateStore, inPath: String,
            outPath: String, ckptPath: String, k: Int = 8): DataFrame = {
    Drain.run(spark, inPath, KgramStreamCore.docLog, ckptPath) { (b, id) =>
      applyBatch(state, b, "doc_id", "text", k, outPath, id)
    }
    spark.read.schema("doc_id long, n_tokens long, n_removed long, clean_text string")
      .parquet(outPath)
  }
}

/** Streaming CHAR-granular exact-substring span dedup —
  * [[graft.ops.Dedup.dedupCharSpans]] as an incremental stage:
  * [[StreamSpanDedup]] one granularity down, sharing the whole
  * [[KgramStreamCore]] machinery (summary, seen-state probe, hwm,
  * commit) with only the two kernels swapped — positional CHAR k-gram
  * hashes over the ws-normalized text in, char cover-mask rebuild out.
  * Under ascending doc_id arrival the cut equals the batch operator's
  * global keep-first cover mask exactly, so its oracle is d30's SQL. */
object StreamCharSpanDedup {

  /** Process one micro-batch: append (doc_id, n_chars, n_removed,
    * clean_text) rows to `outPath` and fold the batch's first-occurrence
    * char k-grams into `state`. Returns the touched bucket ids. */
  def applyBatch(state: DocStateStore, batch: DataFrame, idCol: String,
                 textCol: String, k: Int, outPath: String,
                 batchId: Long): Seq[Int] = {
    val spark = batch.sparkSession
    import spark.implicits._
    // ONE char-kgram kernel evaluation per trigger (the s12 discipline):
    // the persisted hashed frame feeds both the summary collect and the
    // rebuild pass. kernelParallel: the one-file trigger otherwise runs
    // the per-char md5 kernel AND the rebuild pass on a single core
    // (hashedDocs rationale; both consumers read the widened cache)
    val hashed = graft.ops.Dedup.kernelParallel(
        batch.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .map { case (d, t) =>
        (d, t, if (t == null) null else graft.expr.TextHash.charKgramHashes60(t, k))
      }.persist()
    try {
      val sum = Drain.timed("summarize")(
        KgramStreamCore.summarizeHashed(hashed, state.buckets))
      KgramStreamCore.checkAscending(outPath, sum.range)
      val seen = KgramStreamCore.probeSeen(state, sum, spark)
      Drain.timed("output") {
        val bcHs = spark.sparkContext.broadcast(sum.hs)
        val bcDoc = spark.sparkContext.broadcast(sum.winDoc)
        val bcPos = spark.sparkContext.broadcast(sum.winPos)
        val bcSeen = spark.sparkContext.broadcast(seen)
        try hashed
          .mapPartitions { it =>
            val hsK = bcHs.value; val wd = bcDoc.value; val wp = bcPos.value
            val sn = bcSeen.value
            it.map { case (docId, text, hs) =>
              if (text == null)
                (docId, None: Option[Long], None: Option[Long], null: String)
              else {
                val starts = scala.collection.mutable.ArrayBuffer.empty[Long]
                var i = 0
                while (i < hs.length) {
                  val h = hs(i)
                  val pos = (i + 1).toLong
                  val gi = java.util.Arrays.binarySearch(hsK, h) // always ≥ 0
                  if (java.util.Arrays.binarySearch(sn, h) >= 0 ||
                      !(wd(gi) == docId && wp(gi) == pos)) starts += pos
                  i += 1
                }
                // code points, not UTF-16 units — the same frame as the
                // kernels, Spark length(), and the DuckDB oracle
                val nChars = graft.expr.TextHash.normalizedCodePointCount(text)
                val clean = graft.expr.TextHash.removeCharSpans(text, starts.toArray, k)
                (docId, Some(nChars),
                  Some(nChars - clean.codePointCount(0, clean.length)), clean)
              }
            }
          }
          .toDF("doc_id", "n_chars", "n_removed", "clean_text")
          .write.mode("append").parquet(outPath)
        // char-granular triggers carry the largest summaries of the
        // family — destroy eagerly once the write has consumed them
        finally Seq(bcHs, bcDoc, bcPos, bcSeen).foreach(_.destroy())
      }
      KgramStreamCore.commitFresh(state, sum, seen, batchId, spark)
      KgramStreamCore.advanceHwm(outPath, sum.range)
      sum.touched
    } finally { hashed.unpersist(blocking = false); () }
  }

  /** Convenience drain: stream an ordered document log through
    * [[applyBatch]], return the accumulated cleaned documents. */
  def drain(spark: SparkSession, state: DocStateStore, inPath: String,
            outPath: String, ckptPath: String, k: Int = 25): DataFrame = {
    Drain.run(spark, inPath, KgramStreamCore.docLog, ckptPath) { (b, id) =>
      applyBatch(state, b, "doc_id", "text", k, outPath, id)
    }
    spark.read.schema("doc_id long, n_chars long, n_removed long, clean_text string")
      .parquet(outPath)
  }
}

/** Streaming CHAR-granular benchmark DECONTAMINATION —
  * [[graft.ops.Dedup.charContamination]] as an ingestion admission gate:
  * the benchmark's distinct char k-grams are frozen into ONE sorted
  * broadcast at drain start ([[graft.ops.Dedup.charBenchGrams]] — the
  * s27 frozen-index discipline, bounded by name), and every trigger runs
  * the same map-only binary-search probe the batch operator runs. The
  * verdict depends only on the STATIC benchmark set — no cross-batch
  * state, no ascending-arrival contract, no hwm — so any arrival order
  * equals the batch operator exactly and the oracle is d31's SQL
  * verbatim. Per-trigger cost: one kernel pass over the trigger, zero
  * shuffles, zero state reads. */
object StreamCharDecontamination {

  /** Process one micro-batch: append (doc_id, n_windows, n_hits,
    * contaminated) rows to `outPath`. */
  def applyBatch(benchGrams: org.apache.spark.broadcast.Broadcast[Array[Long]],
                 batch: DataFrame, idCol: String, textCol: String, k: Int,
                 outPath: String): Unit =
    graft.ops.Dedup.charContaminationPrepared(batch, benchGrams, idCol, textCol, k)
      .write.mode("append").parquet(outPath)

  /** Convenience drain: freeze the benchmark side once, gate the whole
    * document log through [[applyBatch]], return the accumulated
    * verdicts. The broadcast lives for the drain and is destroyed when
    * the stream completes. */
  def drain(spark: SparkSession, benchmark: DataFrame, inPath: String,
            outPath: String, ckptPath: String, k: Int = 25,
            maxBenchGrams: Int = graft.ops.Dedup.DefaultMaxBenchGrams): DataFrame = {
    val bg = graft.ops.Dedup.charBenchGrams(benchmark, "text", k, maxBenchGrams)
    try Drain.run(spark, inPath, KgramStreamCore.docLog, ckptPath) { (b, _) =>
      applyBatch(bg, b, "doc_id", "text", k, outPath)
    }
    finally bg.destroy()
    spark.read.schema("doc_id long, n_windows long, n_hits long, contaminated boolean")
      .parquet(outPath)
  }
}

/** Streaming admission-time twin of the per-benchmark-item
  * contamination census ([[graft.ops.Dedup.charContaminationCensus]]):
  * the benchmark side freezes into the provenance-keeping CSR broadcast
  * ([[graft.ops.Dedup.charBenchGramIndex]], bounded by name) at drain
  * start; every trigger runs the same map-only probe and APPENDS its
  * leak-sized (doc, item, shared_windows) pairs — the pair log IS the
  * incremental state, and the census the eval owner reads is a
  * benchmark-sized view over it. Pairs are per-doc facts against a
  * static reference set (no cross-batch state), so ANY arrival order
  * equals the batch census and d32's SQL is the oracle verbatim. The
  * view re-aggregates per (item, doc) with max() before the census, so
  * an at-least-once replay of a trigger (identical rows appended twice)
  * cannot double-count a doc. */
object StreamContaminationCensus {

  /** Process one micro-batch: append this trigger's contamination pairs
    * to `outPath`. Leak-sized — clean docs emit nothing. */
  def applyBatch(index: org.apache.spark.broadcast.Broadcast[graft.ops.Dedup.CharBenchGramIndex],
                 batch: DataFrame, idCol: String, textCol: String, k: Int,
                 outPath: String): Unit =
    graft.ops.Dedup.charContaminationPairs(batch, index, idCol, textCol, k)
      .write.mode("append").parquet(outPath)

  /** Convenience drain: freeze the benchmark index once, run the whole
    * document log through [[applyBatch]], return the census view over
    * the accumulated pair log. The broadcast is destroyed when the
    * stream completes. */
  def drain(spark: SparkSession, benchmark: DataFrame, inPath: String,
            outPath: String, ckptPath: String, k: Int = 25,
            maxPairs: Int = graft.ops.Dedup.DefaultMaxBenchGrams): DataFrame = {
    val idx = graft.ops.Dedup.charBenchGramIndex(benchmark, "bench_id", "text", k, maxPairs)
    try Drain.run(spark, inPath, KgramStreamCore.docLog, ckptPath) { (b, _) =>
      applyBatch(idx, b, "doc_id", "text", k, outPath)
    }
    finally idx.destroy()
    val pairs = spark.read.schema("doc_id long, bench_id long, shared_windows long")
      .parquet(outPath)
    graft.ops.Dedup.charCensusOf(
      pairs.groupBy(col("bench_id"), col("doc_id"))
        .agg(max(col("shared_windows")).as("shared_windows")),
      benchmark, "bench_id")
  }
}

/** Streaming twin of SURGICAL char-granular decontamination
  * ([[graft.ops.Dedup.charDecontaminateSpans]]): the benchmark gram set
  * freezes into one sorted broadcast at drain start and every trigger
  * runs the same map-only cut-and-rebuild kernel. The cut condition is
  * membership in the STATIC benchmark set — no cross-batch state, no
  * arrival-order contract — so any chunking equals the batch operator
  * exactly and d33's SQL is the oracle verbatim. Per-trigger cost: one
  * kernel pass, zero shuffles, zero state reads. */
object StreamCharSpanDecontamination {

  /** Process one micro-batch: append (doc_id, n_chars, n_removed,
    * clean_text) rows to `outPath`. */
  def applyBatch(benchGrams: org.apache.spark.broadcast.Broadcast[Array[Long]],
                 batch: DataFrame, idCol: String, textCol: String, k: Int,
                 outPath: String): Unit =
    graft.ops.Dedup.charDecontaminateSpansPrepared(batch, benchGrams, idCol, textCol, k)
      .write.mode("append").parquet(outPath)

  /** Convenience drain: freeze the benchmark side once, rebuild the
    * whole document log through [[applyBatch]], return the accumulated
    * cleaned docs. The broadcast is destroyed when the stream
    * completes. */
  def drain(spark: SparkSession, benchmark: DataFrame, inPath: String,
            outPath: String, ckptPath: String, k: Int = 25,
            maxBenchGrams: Int = graft.ops.Dedup.DefaultMaxBenchGrams): DataFrame = {
    val bg = graft.ops.Dedup.charBenchGrams(benchmark, "text", k, maxBenchGrams)
    try Drain.run(spark, inPath, KgramStreamCore.docLog, ckptPath) { (b, _) =>
      applyBatch(bg, b, "doc_id", "text", k, outPath)
    }
    finally bg.destroy()
    spark.read.schema("doc_id long, n_chars long, n_removed long, clean_text string")
      .parquet(outPath)
  }
}
