package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash-aggregate shuffle keyed on the fingerprint;
  *  - the Jaccard path shuffles on the 60-bit *shingle hash* (not the
  *    shingle string — 8 bytes per key instead of ~20+) — ubiquitous
  *    shingles are the skew hazard, so [[shingleExplode]] can cap shingle
  *    document-frequency (drop shingles appearing in more than `maxDf`
  *    docs: they only create candidate pairs that exact verification
  *    would reject anyway);
  *  - MinHash is ONE md5 per shingle; the k permutations are integer
  *    affine maps `(a_i * (h mod 2^30) + b_i) mod (2^31-1)` — exact in
  *    64-bit (no overflow, ANSI-safe), identical in any engine, and ~100×
  *    cheaper than k independent string hashes. The shingle-hash array is
  *    projected in its own stage so the optimizer cannot inline (and
  *    re-execute) the md5 work once per permutation — that inlining is
  *    precisely what makes the naive nested-lambda formulation quadratic.
  *  - LSH candidate pairs come from a band-bucket self-join; verification
  *    joins the candidate PAIRS back to the per-doc shingle-hash sets and
  *    computes `array_intersect` per pair — no second shingle-explode
  *    shuffle. Cost: O(candidates × avg-set-size), the textbook
  *    verify-after-LSH shape.
  *  - all hashes are md5-derived (portable + stable across engines and
  *    runs), not JVM hashCode.
  */
object Dedup {

  /** 60-bit stable hash: first 15 hex chars of md5. Stays in codegen. */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Parallelize valve for typed-kernel scans: a small fixture/increment
    * arrives as ONE parquet split, which would pin a mapPartitions
    * kernel to a single core; a 100 TB corpus arrives in hundreds of
    * thousands of splits. Repartition ONLY when the input has fewer
    * partitions than the session's parallelism — a no-op (and zero
    * shuffle) at scale, a tiny-input shuffle exactly when the kernel
    * would otherwise run single-threaded. */
  /** Widen `df` to `p` partitions with a DETERMINISTIC hash-keyed
    * repartition (guide §2.5: `pmod(xxhash64(...), 100·p)` — 100× more
    * distinct key values than partitions spreads evenly). Round-robin
    * `repartition(p)` is NOT used deliberately, for two measured reasons:
    *  - AQE stage reuse never fires on round-robin exchanges (OPTIMIZATION_r20 §7:
    *    an identical repartition(n) feeder consumed twice materializes
    *    twice, 6 jobs; the same feeder hash-keyed materializes once,
    *    5 jobs + ReusedQueryStage) — and the span-dedup family consumes
    *    its widened feeder twice (winners aggregate + join-back probe);
    *  - round-robin pays a per-row local sort of ALL columns below the
    *    exchange (sortBeforeRepartition) to be retry-deterministic; a
    *    content hash is retry-deterministic for free.
    * Map-typed columns can't hash (Spark forbids it); rows hash over the
    * hashable columns only, falling back to round-robin in the (absent
    * in this codebase) all-map case. */
  private def widen(df: DataFrame, p: Int): DataFrame = {
    val hashable = df.schema.fields.filterNot(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
    if (hashable.isEmpty) df.repartition(p)
    else df.repartition(p, pmod(
      xxhash64(hashable.map(f => col(f.name)): _*), lit(100L * p)))
  }

  private[graft] def kernelParallel(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val p = sess.sparkContext.defaultParallelism
    // Decide STATICALLY — `df.rdd.getNumPartitions` under AQE calls
    // getFinalPhysicalPlan(), which EXECUTES every upstream exchange just
    // to count partitions (measured: join-derived inputs ran their whole
    // upstream twice — d16/t13 1.6-1.7× walls). Three static cases:
    //  - plan already shuffles → reduce width = spark.sql.shuffle
    //    .partitions, nothing to widen;
    //  - narrow pipeline over file scans (incl. broadcast joins: stream-
    //    side width = scan splits) → estimate splits from leaf bytes /
    //    maxPartitionBytes; repartition only when under the session
    //    parallelism — a no-op at 100 TB by construction;
    //  - no shuffle and no file scan (local/test fixtures) → tiny by
    //    construction and AQE never wraps an exchange-free plan, so the
    //    legacy rdd-partition count is safe and preserves test plans.
    val plan = df.queryExecution.sparkPlan
    val hasShuffle = plan.collectFirst {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.isDefined
    if (hasShuffle) df
    else {
      val scans = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      if (scans.nonEmpty) {
        val maxSplit = math.max(1L,
          sess.sessionState.conf.filesMaxPartitionBytes)
        val splits = scans.map(s =>
          math.max(1L, s.relation.location.sizeInBytes / maxSplit)).sum
        if (splits >= p) df else widen(df, p)
      } else if (df.rdd.getNumPartitions >= p) df
      else widen(df, p)
    }
  }

  /** The admission-index paths key on a bigint doc id; a silent
    * `cast("long")` of a string id yields nulls that join to nothing
    * (every dup looks novel). Fail loudly instead — callers with string
    * ids hash them first (e.g. `xxhash64(id)`). */
  private def requireIntegralId(df: DataFrame, idCol: String, where: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    val dt = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"$where requires an integral id column; '$idCol' is ${dt.simpleString} — " +
        "hash non-numeric ids to long (e.g. xxhash64) before indexing")
  }

  // MinHash permutation constants (defined once in TextHash, shared by the
  // compiled expressions and the oracle-SQL generators) --------------------

  /** Modulus of the affine permutations: 2^31-1 (prime). */
  val PermP: Long = graft.expr.TextHash.PermP
  /** The base hash is folded to [0, 2^30) so a_i*h + b_i stays < 2^63. */
  val PermM: Long = graft.expr.TextHash.PermM
  val permA: IndexedSeq[Long] = graft.expr.TextHash.permA.toIndexedSeq
  val permB: IndexedSeq[Long] = graft.expr.TextHash.permB.toIndexedSeq

  /** The i-th permutation applied to a 60-bit hash column (SQL-composable
    * reference form of TextHash.minhashSig's inner loop). */
  def perm(i: Int, h: Column): Column =
    (lit(permA(i)) * (h % PermM) + lit(permB(i))) % PermP

  // Shingling ---------------------------------------------------------------

  /** Distinct word n-gram shingles of a text column. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(trim(text), "\\s+")
    val grams = when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
    array_distinct(grams)
  }

  /** (doc_id, hs): the distinct 60-bit shingle-hash SET per document —
    * the unit all MinHash/Jaccard work runs on. One compiled pass per doc
    * ([[graft.expr.ShingleHashes60]]); docs with fewer than n tokens (no
    * shingles) are dropped by the cheap token-count gate, which the
    * optimizer evaluates at the scan. */
  def shingleHashSets(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame =
    // kernelParallel: the md5-per-shingle pass is the family's CPU wall,
    // and a fixture/increment-sized input arrives as 1-2 parquet splits —
    // the whole hash pass then runs on 1-2 cores while the session has 32
    // (measured: d12's scan stage 4.5 s of task time on 2 tasks). The
    // valve is a no-op (zero shuffle) whenever the input already has
    // ≥ defaultParallelism splits — the 100 TB case by construction.
    kernelParallel(docs.filter(size(split(trim(col(textCol)), "\\s+")) >= n))
      .select(col(idCol).as("doc_id"),
        graft.expr.hfunctions.shingle_hashes60(col(textCol), n).as("hs"))

  /** (docId, n_sh, shingle-hash) rows — the set size rides along with
    * every exploded row so downstream pair aggregation never has to join
    * back for it (at pair-row volume that join is a whole extra shuffle).
    * Optionally drop shingles with document frequency above `maxDf` (skew
    * guard for the self-join); `n_sh` stays the FULL set size either way
    * (the true Jaccard denominator).
    *
    * The capped path is a single scan: one groupBy(h) with the bounded
    * [[graft.expr.CollectCapped]] collector (exact df count, ≤ cap+1
    * stored members), then re-explode of the surviving groups — NOT a
    * df-table semi-join, which would evaluate the shingle explode twice
    * (the round-4 d09 regression). Requires a bigint id column (all
    * pipeline ids are); non-long ids fall back to the semi-join shape. */
  def shingleExplode(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, maxDf: Option[Int] = None): DataFrame = {
    val sh = shingleHashSets(docs, idCol, textCol, n)
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"),
        explode(col("hs")).as("h"))
    maxDf match {
      case None => sh
      case Some(cap) if idIsLong(docs, idCol) =>
        cappedGroups(sh, cap)
          .select(col("h"), explode(col("ds")).as("d"))
          .select(col("d.id").as("doc_id"), col("d.n").as("n_sh"), col("h"))
      case Some(cap) =>
        val freq = sh.groupBy("h").agg(count(lit(1)).as("df")).filter(col("df") <= cap)
        sh.join(freq.select("h"), Seq("h"), "left_semi")
    }
  }

  private def idIsLong(docs: DataFrame, idCol: String): Boolean =
    docs.schema(idCol).dataType == org.apache.spark.sql.types.LongType

  /** groupBy(h) with the bounded collector, keeping only groups at or
    * under the df cap: (h, ds: array<struct<id, n>> sorted by id). One
    * shuffle, memory bounded at cap+1 members per key no matter how
    * boilerplate-hot the shingle is. */
  private def cappedGroups(sh: DataFrame, cap: Int): DataFrame =
    sh.groupBy(col("h"))
      .agg(graft.expr.hfunctions.collect_capped(col("doc_id"), col("n_sh"), cap + 1).as("g"))
      .filter(col("g.df") <= cap)
      .select(col("h"), col("g.docs").as("ds"))

  /** Pair intersection counts (a_id, b_id, a_n, b_n, inter) over the
    * df-capped shingles, in ONE documents scan: group shingle rows by
    * hash, drop over-cap groups, emit every ordered in-group pair as a
    * pure projection (the `ds` array is id-sorted, so nested
    * slice-transforms yield a_id < b_id directly), then one pair
    * aggregation. Two shuffles total (h-group + pair agg) — the
    * self-join formulation re-executes the scan per side AND per df
    * probe, 4 scans for the same answer. */
  private def cappedPairCounts(docs: DataFrame, idCol: String, textCol: String,
                               n: Int, cap: Int): DataFrame = {
    val sh = shingleHashSets(docs, idCol, textCol, n)
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"),
        explode(col("hs")).as("h"))
    cappedGroups(sh, cap)
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds"))), y =>
          struct(x.getField("id").as("a_id"), x.getField("n").as("a_n"),
            y.getField("id").as("b_id"), y.getField("n").as("b_n")))))).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
        col("p.a_n").as("a_n"), col("p.b_n").as("b_n"))
      .groupBy("a_id", "b_id", "a_n", "b_n").agg(count(lit(1)).as("inter"))
  }

  /** Shared pair-count source: single-scan capped path when a df cap is
    * set (and the id is bigint), classic shingle-hash self-join otherwise
    * — the exact all-pairs baseline. */
  private def pairCounts(docs: DataFrame, idCol: String, textCol: String,
                         n: Int, maxDf: Option[Int]): DataFrame = maxDf match {
    case Some(cap) if idIsLong(docs, idCol) =>
      cappedPairCounts(docs, idCol, textCol, n, cap)
    case _ =>
      val sh = shingleExplode(docs, idCol, textCol, n, maxDf)
      val a = sh.select(col("doc_id").as("a_id"), col("n_sh").as("a_n"), col("h"))
      val b = sh.select(col("doc_id").as("b_id"), col("n_sh").as("b_n"), col("h"))
      a.join(b, Seq("h"))
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id", "a_n", "b_n").agg(count(lit(1)).as("inter"))
  }

  /** Exact dedup groups: fingerprint → (keeper = min id, group size). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("group_size"))

  /** Corpus-version diff on canonical fingerprints — the re-crawl
    * bookkeeping step: which documents a new snapshot ADDED, DELETED,
    * CHANGED, or left UNCHANGED vs the standing corpus. Comparison is by
    * [[TextAnalysis.fingerprint]] (lowercase, whitespace-collapsed md5),
    * so formatting-only churn — the bulk of re-crawl noise — reads as
    * unchanged and never triggers downstream re-processing. One
    * co-partitionable full-outer join on the id (bucket both versions by
    * id at rest and the exchange disappears); each side carries only
    * (id, 16-byte fp), never the text. */
  def snapshotDiff(v1: DataFrame, v2: DataFrame, idCol: String, textCol: String): DataFrame = {
    val a = v1.select(col(idCol).as("doc_id"), TextAnalysis.fingerprint(col(textCol)).as("fp_a"))
    val b = v2.select(col(idCol).as("doc_id"), TextAnalysis.fingerprint(col(textCol)).as("fp_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp_a").isNull, lit("added"))
          .when(col("fp_b").isNull, lit("deleted"))
          .when(col("fp_a") =!= col("fp_b"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** [[snapshotDiff]] + edit-severity TRIAGE: the CHANGED class splits
    * into `minor_edit` (old/new shingle Jaccard ≥ threshold — a tweak,
    * downstream features can patch) vs `rewrite` (re-process from
    * scratch). The re-crawl delta-triage step: most real edits are
    * touch-ups, and re-running the whole pipeline on them is the bulk of
    * re-crawl cost.
    *
    * Same scale discipline as d19 — ONE co-partitionable full-outer join
    * on the id; each side carries (id, fp, shingle-hash set), and the
    * per-id intersection is a compiled array op INSIDE the joined row, so
    * shingles never shuffle and no cross-document pair exists anywhere.
    * A changed doc where either side is too short to shingle triages
    * conservatively as `rewrite`. */
  def snapshotFuzzyDiff(v1: DataFrame, v2: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5): DataFrame = {
    def side(df: DataFrame, suf: String) = df.select(
      col(idCol).as("doc_id"),
      TextAnalysis.fingerprint(col(textCol)).as(s"fp_$suf"),
      when(size(split(trim(col(textCol)), "\\s+")) >= n,
        graft.expr.hfunctions.shingle_hashes60(col(textCol), n)).as(s"hs_$suf"))
    val joined = side(v1, "a").join(side(v2, "b"), Seq("doc_id"), "full_outer")
    val inter = size(array_intersect(col("hs_a"), col("hs_b"))).cast("double")
    val uni = (size(col("hs_a")) + size(col("hs_b"))).cast("double") - inter
    joined.select(col("doc_id"),
      when(col("fp_a").isNull, lit("added"))
        .when(col("fp_b").isNull, lit("deleted"))
        .when(col("fp_a") === col("fp_b"), lit("unchanged"))
        .when(col("hs_a").isNotNull && col("hs_b").isNotNull &&
          inter / uni >= threshold, lit("minor_edit"))
        .otherwise(lit("rewrite")).as("status"))
  }

  /** All-pairs n-gram Jaccard ≥ threshold (exact). Shuffles on the shingle
    * hash, then aggregates pair intersections — the textbook distributed
    * similarity join. Set sizes ride through the explode, so the whole
    * operator is exactly two shuffles (the self-join and the pair
    * aggregation) — no join-back for denominators. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.5,
                   maxDf: Option[Int] = None): DataFrame = {
    pairCounts(docs, idCol, textCol, n, maxDf)
      .withColumn("uni", col("a_n") + col("b_n") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "inter", "uni", "jaccard")
      // exchange-isolate the pair aggregate from a downstream global sort
      // (see containmentPairs): the survivors are a tiny fraction of the
      // candidate pairs, so this shuffle is near-free and the sort's
      // sampling pass re-reads it instead of re-running the aggregate
      .repartition(col("a_id"), col("b_id"))
  }

  /** MinHash signature from a shingle-hash array column: element i is
    * `min over h of perm_i(h)` — one compiled pass ([[graft.expr.MinHashSig]]). */
  def minhashFromHashes(hs: Column, k: Int): Column =
    graft.expr.hfunctions.minhash_sig(hs, k)

  /** docs → (doc_id, hs, sig): shingle hashes and the k-long minhash
    * signature, with the hash array computed in its own projection so the
    * md5 work runs once per document, not once per permutation. Documents
    * with no shingles (fewer than n tokens) are dropped — they have no
    * signature. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, n: Int = 3): DataFrame =
    shingleHashSets(docs, idCol, textCol, n)
      .withColumn("sig", minhashFromHashes(col("hs"), k))

  /** Derive a MinHash-LSH (bands, rowsPerBand) config from the
    * verification threshold — the Jaccard twin of
    * [[Similarity.srpConfigFor]]. A pair at Jaccard s agrees on one
    * minhash w.p. s, on a band of r hashes w.p. s^r, and is missed only
    * if all b bands miss: miss = (1 − s^r)^b. For each r this solves the
    * smallest b meeting `targetMissProb` at the threshold, keeps configs
    * within the signature budget (b·r ≤ maxHashes), and picks the one
    * minimizing expected background band collisions b·s0^r at
    * `backgroundSim` (the typical similarity of NON-duplicate pairs —
    * what actually drives candidate volume on a real corpus); ties break
    * toward the smaller signature. Sharper thresholds buy more rows per
    * band: 0.5 → (14, 1), 0.8 → (13, 3), 0.9 → (11, 5). */
  def minhashConfigFor(threshold: Double, targetMissProb: Double = 1e-4,
                       maxHashes: Int = 64, backgroundSim: Double = 0.2): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0, s"threshold in (0,1), got $threshold")
    require(backgroundSim > 0.0 && backgroundSim < threshold,
      s"backgroundSim must sit below the threshold, got $backgroundSim vs $threshold")
    val feasible = (1 to maxHashes).flatMap { r =>
      val pr = math.pow(threshold, r)
      val b = math.max(1, math.ceil(math.log(targetMissProb) / math.log1p(-pr)).toInt)
      if (b.toLong * r <= maxHashes) Some((b, r)) else None
    }
    require(feasible.nonEmpty,
      s"no (bands, rows) config within $maxHashes hashes meets miss<$targetMissProb at threshold $threshold")
    feasible.minBy { case (b, r) => (b * math.pow(backgroundSim, r), b * r) }
  }

  /** LSH candidate pairs from banded minhash signatures, exact-verified by
    * true Jaccard ≥ threshold (intersection of the full shingle-hash
    * sets, computed per candidate pair). bands×rowsPerBand = signature
    * length; pass (0, 0) — the default — to derive the band layout from
    * the threshold via [[minhashConfigFor]]. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      bands: Int = 0, rowsPerBand: Int = 0, n: Int = 3,
                      threshold: Double = 0.5): DataFrame = {
    require((bands > 0) == (rowsPerBand > 0),
      "pass both bands and rowsPerBand, or neither (auto-derive from threshold)")
    val (nBands, nRows) =
      if (bands > 0) (bands, rowsPerBand) else minhashConfigFor(threshold)
    val k = nBands * nRows
    val sigs = minhashSignatures(docs, idCol, textCol, k, n)
    val banded = bandKeys(sigs, nBands, nRows)

    val l = banded.select(col("doc_id").as("a_id"), col("band_key"))
    val r = banded.select(col("doc_id").as("b_id"), col("band_key"))
    val candidates = l.join(r, Seq("band_key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()

    // exact verification per candidate pair: join the pair to both docs'
    // shingle-hash sets, intersect in place — no second explode shuffle
    val sets = sigs.select(col("doc_id"), col("hs"))
    candidates
      .join(sets.select(col("doc_id").as("a_id"), col("hs").as("a_hs")), Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("hs").as("b_hs")), Seq("b_id"))
      .withColumn("inter", size(array_intersect(col("a_hs"), col("b_hs"))).cast("long"))
      .withColumn("uni", (size(col("a_hs")) + size(col("b_hs"))).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "inter", "uni", "jaccard")
      // exchange-isolate the verify join from a downstream global sort
      // (see containmentPairs): survivors ≪ candidates, near-free shuffle
      .repartition(col("a_id"), col("b_id"))
  }

  /** Edit-distance VERIFIED near-dup pairs: MinHash-LSH band collisions
    * propose candidates (recall governed by `candidateThreshold` via
    * [[minhashConfigFor]]), then each candidate pair is verified by TRUE
    * character-level edit similarity
    * `1 − levenshtein(a, b) / max(|a|, |b|) ≥ editSim` — the check
    * n-gram Jaccard cannot express: shingle sets ignore within-token
    * character edits (OCR noise, diacritic stripping, templated serial
    * numbers), and two docs can be shingle-similar yet many scattered
    * edits apart. The standard two-tier shape for char-level dedup of
    * short-to-medium texts (titles, QA pairs, code snippets).
    *
    * Scale: Levenshtein is O(|a|·|b|) PER PAIR — viable only because it
    * runs strictly on LSH candidates, never all pairs. `maxDist`
    * additionally bounds the accepted distance using Spark's bounded DP
    * (cost ≈ O(maxDist·min len) per pair with early exit, vs quadratic)
    * — at corpus scale always set it: a pair further than maxDist edits
    * is not a near-dup of interest, and the bound keeps one pathological
    * long-pair from stalling its task. Full texts ride the wire only for
    * candidates (two id-keyed hash joins, candidate-sized on one side).
    * Output: (a_id, b_id, dist, max_len, edit_sim). */
  def editSimilarityPairs(docs: DataFrame, idCol: String, textCol: String,
                          bands: Int = 0, rowsPerBand: Int = 0, n: Int = 3,
                          candidateThreshold: Double = 0.5,
                          editSim: Double = 0.8, maxDist: Int = 1000): DataFrame = {
    require((bands > 0) == (rowsPerBand > 0),
      "pass both bands and rowsPerBand, or neither (auto-derive from candidateThreshold)")
    requireIntegralId(docs, idCol, "editSimilarityPairs")
    val (nBands, nRows) =
      if (bands > 0) (bands, rowsPerBand) else minhashConfigFor(candidateThreshold)
    val sigs = minhashSignatures(docs, idCol, textCol, nBands * nRows, n)
    val banded = bandKeys(sigs, nBands, nRows)
    val candidates = banded.select(col("doc_id").as("a_id"), col("band_key"))
      .join(banded.select(col("doc_id").as("b_id"), col("band_key")), Seq("band_key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val texts = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"))
    val spark = docs.sparkSession
    import spark.implicits._
    // the verify step runs through a TYPED map on purpose: as a Column
    // expression the banded DP gets planned into the filter AND both
    // downstream projections (predicate pushdown substitutes the alias —
    // measured 3 plan occurrences, 3× the query's whole cost); the
    // object boundary pins exactly ONE evaluation per candidate pair
    candidates
      .join(texts.select(col("doc_id").as("a_id"), col("text").as("a_text")), Seq("a_id"))
      .join(texts.select(col("doc_id").as("b_id"), col("text").as("b_text")), Seq("b_id"))
      .select(col("a_id").cast("long"), col("b_id").cast("long"),
        col("a_text"), col("b_text"))
      .as[(Long, Long, String, String)]
      .map { case (aId, bId, at, bt) =>
        val dist = graft.expr.TextHash.boundedLevenshtein(
          org.apache.spark.unsafe.types.UTF8String.fromString(at),
          org.apache.spark.unsafe.types.UTF8String.fromString(bt), maxDist)
        val maxLen = math.max(at.codePointCount(0, at.length),
          bt.codePointCount(0, bt.length)).toLong
        val sim = if (maxLen == 0) 1.0 else 1.0 - dist.toDouble / maxLen
        (aId, bId, dist, maxLen, sim)
      }
      .toDF("a_id", "b_id", "dist", "max_len", "edit_sim")
      .filter(col("dist") >= 0 && // bounded DP reports -1 beyond maxDist
        (col("max_len") === 0 || col("edit_sim") >= editSim))
      // exchange-isolate the per-pair Levenshtein DP from a downstream
      // global sort (see containmentPairs): without this the sort's
      // sampling pass re-runs the DP over every candidate pair
      .repartition(col("a_id"), col("b_id"))
  }

  /** Band keys of one minhash signature as an ARRAY column: band index +
    * the band's signature slice, as one string — no extra hashing; the
    * key is small and engine-portable. The projection form map-only
    * (streaming) callers compose with `arrays_overlap` against a
    * broadcast benchmark key set; batch pair search explodes it
    * ([[bandKeys]]). The signature must be non-empty with length ≥
    * nBands·nRows ([[minhashSignatures]] guarantees both). */
  def bandKeyArray(sig: Column, nBands: Int, nRows: Int): Column =
    array((0 until nBands).map { bnd =>
      concat_ws("_",
        (lit(bnd.toString) +:
          (1 to nRows).map(r => element_at(sig, bnd * nRows + r))): _*)
    }: _*)

  /** (doc_id, band_key) rows of a signature frame, one per band. */
  private def bandKeys(sigs: DataFrame, nBands: Int, nRows: Int): DataFrame =
    sigs.select(col("doc_id"),
      explode(bandKeyArray(col("sig"), nBands, nRows)).as("band_key"))

  /** FUZZY benchmark decontamination: every (corpus doc, benchmark doc)
    * pair whose n-gram Jaccard reaches `threshold` — the near-duplicate
    * contamination gate. A lightly rewritten test item defeats the exact
    * shingle-count probe ([[contaminationHits]] needs `minHits` shared
    * n-grams verbatim); it does not defeat set Jaccard at 0.5. Output:
    * (doc_id, bench_id, inter, uni, jaccard), one row per flagged pair.
    *
    * ONE corpus scan, ZERO corpus shuffles. The benchmark side (tiny
    * next to a 100 TB corpus — the [[contaminationHits]] contract)
    * collapses to a single broadcast row: its distinct band-key set plus
    * its per-doc shingle-hash sets. Each corpus doc computes its own
    * banded signature in the scan projection; `arrays_overlap` against
    * the broadcast key set gates candidacy (the minhash-LSH candidate
    * test, recall governed by [[minhashConfigFor]]), and ONLY candidates
    * fan out to the per-benchmark-doc exact verify — a map-side explode
    * over the broadcast sets. Non-candidates never intersect anything.
    * The per-candidate verify cost is |benchmark| set intersections
    * (not just band-colliding ones) — the price of the no-shuffle shape,
    * negligible under the tiny-benchmark contract. */
  def fuzzyContamination(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val (nBands, nRows) = minhashConfigFor(threshold)
    val k = nBands * nRows
    val cs = minhashSignatures(corpus, idCol, textCol, k, n)
      .select(col("doc_id"), col("hs"),
        bandKeyArray(col("sig"), nBands, nRows).as("bks"))
    val benchSide = broadcast(
      minhashSignatures(benchmark, idCol, textCol, k, n)
        .select(col("doc_id"), col("hs"),
          bandKeyArray(col("sig"), nBands, nRows).as("bks"))
        .agg(array_distinct(flatten(collect_list(col("bks")))).as("bench_bks"),
          collect_list(struct(col("doc_id").as("bench_id"), col("hs").as("b_hs")))
            .as("bench_sets")))
    cs.crossJoin(benchSide)
      .filter(arrays_overlap(col("bks"), col("bench_bks")))
      .select(col("doc_id"), col("hs"), explode(col("bench_sets")).as("b"))
      .withColumn("inter", size(array_intersect(col("hs"), col("b.b_hs"))).cast("long"))
      .withColumn("uni", (size(col("hs")) + size(col("b.b_hs"))).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("b.bench_id").as("bench_id"),
        col("inter"), col("uni"), col("jaccard"))
      // exchange-isolate the broadcast probe from a downstream global
      // sort (see containmentPairs): the probe is a full corpus pass and
      // its contaminated survivors are benchmark-leak-sized
      .repartition(col("doc_id"), col("bench_id"))
  }

  /** EDIT-verified benchmark decontamination — [[fuzzyContamination]]'s
    * character-level twin: catches the contaminated item whose rewrite
    * happens WITHIN tokens (leetspeak, diacritic strips, OCR noise,
    * templated serial numbers), where word-shingle Jaccard collapses —
    * every word containing the edited character changes, so the fuzzy
    * probe cannot even generate the candidate.
    *
    * Candidacy is an EXACT shared-char-gram overlap threshold, not
    * minhash banding: measured background char-4-gram Jaccard between
    * unrelated same-language docs is ~0.29 (0.12 at k=6, 0.04 at k=8) —
    * there is no signature budget at which banding separates an edited
    * rewrite from that background, and the first banding formulation
    * degenerated to all-pairs × all-bench verification (458 s at
    * sf0.1). Instead: a pair is a candidate iff
    * `|shared k-grams| ≥ minOverlap · min(|A|, |B|)` — deterministic
    * (recall 1.0 above the bar, no probabilistic miss), length-adaptive,
    * and computed by probing the BROADCAST benchmark inverted gram index
    * ([[EditGramIndex]]) in one map-only corpus pass.
    * A char edit destroys only the k grams covering it, so a rewrite at
    * edit density d keeps ≈ (1−d)^k of its grams — at k=8, d=10% that
    * is 0.43, comfortably above a 0.25 bar the background (~0.04–0.13
    * containment) cannot reach.
    *
    * Verification is true edit similarity `1 − levenshtein/max-len ≥
    * editSim` via the bounded-DP kernel, INLINE in the same probe pass.
    * Corpus-side cost: one (id, text)-column scan, one binary search per
    * gram, one DP per candidate pair — zero shuffles, zero explode
    * (measured: the retired explode→join→count candidacy owned ~97% of
    * d22's wall; the DP itself was 130 µs/pair × ~1k pairs at sf0.1).
    * Output: (doc_id, bench_id, hits, dist, max_len, edit_sim). */
  def editContamination(corpus: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String,
                        k: Int = 8, minOverlap: Double = 0.25,
                        editSim: Double = 0.8, maxDist: Int = 1000): DataFrame =
    editContaminationPrepared(corpus,
      editBenchPrep(benchmark, idCol, textCol, k),
      idCol, textCol, k, minOverlap, editSim, maxDist)

  /** The FROZEN-side half of [[editContamination]]: benchmark texts with
    * their char-k-gram hash sets and counts, computed once. A streaming
    * percolator (s27) re-probes the SAME benchmark every trigger —
    * shingling it per trigger re-pays a benchmark-sized scan + kernel
    * pass each time; persist this frame (the
    * [[graft.queries.ExtendedQueries.freeze]] discipline) and hand it to
    * [[editContaminationPrepared]] instead. */
  def editBenchPrep(benchmark: DataFrame, idCol: String, textCol: String,
                    k: Int = 8): DataFrame =
    editGrams(benchmark, idCol, textCol, k, "bench_id")

  /** Shared shingle-prep of both [[editContaminationPrepared]] sides —
    * one definition so corpus and benchmark can never silently diverge. */
  private def editGrams(df: DataFrame, idCol: String, textCol: String,
                        k: Int, as: String): DataFrame =
    df.select(col(idCol).cast("long").as(as),
        col(textCol).as(s"${as}_text"),
        graft.expr.hfunctions.char_shingles60(col(textCol), k).as("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn(s"${as}_n", size(col("hs")).cast("long"))

  /** [[editContamination]] against a prepared ([[editBenchPrep]]) — and
    * typically persisted — benchmark side: builds the broadcast
    * [[EditGramIndex]] once (an action, the freeze-discipline memory
    * class the relational plan already paid via `broadcast()`), then
    * runs the one-pass [[editContaminationIndexed]] kernel. Streaming
    * percolators (s27) should build the index themselves ONCE via
    * [[editBenchIndex]] and call the indexed variant per trigger. */
  def editContaminationPrepared(corpus: DataFrame, benchPrepared: DataFrame,
                                idCol: String, textCol: String,
                                k: Int = 8, minOverlap: Double = 0.25,
                                editSim: Double = 0.8, maxDist: Int = 1000): DataFrame =
    editContaminationIndexed(corpus, editBenchIndex(benchPrepared),
      idCol, textCol, k, minOverlap, editSim, maxDist)

  /** Collect a prepared ([[editBenchPrep]]) benchmark side and broadcast
    * it as the packed inverted [[EditGramIndex]]. ACTION at call time;
    * build once and share across triggers / queries probing the same
    * benchmark.
    *
    * DRIVER/BROADCAST BOUND: the index stages the ENTIRE reference side
    * through the driver and onto every executor — its memory is
    * O(rows × grams-per-row) longs plus the reference texts. That is the
    * contract of the whole broadcast-index family ([[editBenchIndex]],
    * [[editAdmission]], and the streaming gates composing them — d22,
    * d24, s27, p24): the REFERENCE/INCREMENT side must be
    * benchmark-sized or trigger-sized, never corpus-sized. `maxRows`
    * enforces it — the collect materializes at most `maxRows + 1` rows
    * (CollectLimit protects the driver even against a corpus-sized
    * mistake) and fails BY NAME when the bound is hit, instead of
    * OOMing the driver three stages later. */
  def editBenchIndex(benchPrepared: DataFrame,
                     maxRows: Int = DefaultMaxIndexRows): org.apache.spark.broadcast.Broadcast[EditGramIndex] = {
    val spark = benchPrepared.sparkSession
    import spark.implicits._
    val refs = collectBounded(
      benchPrepared.select(col("bench_id"), col("bench_id_text"), col("hs"))
        .as[(Long, String, Array[Long])],
      maxRows, "editBenchIndex reference side")
    spark.sparkContext.broadcast(EditGramIndex.build(refs))
  }

  /** Default row bound for the broadcast-index family's driver collects
    * ([[editBenchIndex]], [[editAdmission]]). At the family's defaults
    * (k=8 char shingles, ~10⁴ distinct grams per reference doc) 100k rows
    * is ~8 GB of packed gram longs — the practical ceiling of a 16 GB
    * driver; real benchmark/increment sides are orders of magnitude
    * smaller. Raise it explicitly if the driver and executors have the
    * headroom; split the increment if they don't. */
  val DefaultMaxIndexRows: Int = 100000

  /** Driver-bounded collect for the broadcast-index family: materializes
    * at most `maxRows + 1` rows (a CollectLimit — the driver survives
    * even a corpus-sized input) and fails by name when the bound is hit.
    * CollectLimit normally ramps partitions 1 → 4 → 16 … (several
    * sequential driver round-trips — scheduling-floor tax on a
    * per-trigger CDC path); scoping `initialNumPartitions` to the input's
    * own partition count makes the in-bound case ONE parallel job, same
    * shape as the plain collect this replaces.
    *
    * The conf set/restore is serialized per session (the lock below):
    * two overlapping bounded collects on a shared session would
    * otherwise race the restore and leave a stale value behind. A
    * concurrent UNRELATED query that happens to plan a limit inside the
    * window sees a different ramp start — a perf-only knob, never a
    * correctness one, so the per-session lock (not a full session clone)
    * is the right weight here. */
  // weak keys: TriggerScope clones a session per streaming query, so a
  // strong-keyed map would pin every dead clone (and its session state)
  // for the JVM lifetime; synchronizedMap makes computeIfAbsent atomic
  private val boundedCollectLocks =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, Object]())
  private def collectBounded[T](ds: org.apache.spark.sql.Dataset[T], maxRows: Int,
                                what: String): Array[T] = {
    require(maxRows > 0, s"maxRows must be positive: $maxRows")
    val cap = (math.min(maxRows.toLong, Int.MaxValue.toLong - 1) + 1).toInt
    val sess = ds.sparkSession
    val key = "spark.sql.limit.initialNumPartitions"
    val lock = boundedCollectLocks.computeIfAbsent(sess, _ => new Object)
    val refs = lock.synchronized {
      val prev = sess.conf.getOption(key)
      sess.conf.set(key, math.max(1, ds.rdd.getNumPartitions).toString)
      try ds.limit(cap).collect()
      finally prev match {
        case Some(v) => sess.conf.set(key, v)
        case None    => sess.conf.unset(key)
      }
    }
    if (refs.length >= cap)
      throw new IllegalArgumentException(
        s"$what exceeds the broadcast-index bound of $maxRows rows — the index " +
          "stages rows x grams through the driver and onto every executor, so " +
          "it must stay benchmark/trigger-sized; split the increment into " +
          "smaller batches or raise maxRows if the cluster has the memory")
    refs
  }

  /** The [[editContamination]] kernel: ONE map-only corpus pass that
    * shingles each document, probes the broadcast benchmark gram index
    * (shared-distinct-gram counts — identical to the relational
    * explode→join→count by construction), applies the
    * `hits ≥ minOverlap·min(|A|,|B|)` bar, and runs the bounded-DP
    * verify inline. Zero shuffles, zero explode; the corpus is read
    * exactly once with only (id, text) columns. Value-identical to the
    * retired relational plan (pinned by DedupSpec's kernel≡relational
    * case against [[editContaminationRelational]]). */
  def editContaminationIndexed(corpus: DataFrame,
                               idx: org.apache.spark.broadcast.Broadcast[EditGramIndex],
                               idCol: String, textCol: String,
                               k: Int = 8, minOverlap: Double = 0.25,
                               editSim: Double = 0.8, maxDist: Int = 1000): DataFrame = {
    requireIntegralId(corpus, idCol, "editContamination")
    require(minOverlap > 0.0 && minOverlap <= 1.0, s"minOverlap in (0,1]: $minOverlap")
    val spark = corpus.sparkSession
    import spark.implicits._
    kernelParallel(corpus.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions { it =>
        val index = idx.value
        val hitCounts = new Array[Int](index.nRefs)
        val touched = new Array[Int](index.nRefs)
        it.flatMap { case (docId, text) =>
          if (text == null) Iterator.empty
          else {
            val grams = graft.expr.TextHash.charShingles60(text, k, 1)
            if (grams.length == 0) Iterator.empty
            else {
              val t = index.probe(grams, hitCounts, touched)
              val docN = grams.length.toDouble
              val out = scala.collection.mutable.ArrayBuffer
                .empty[(Long, Long, Long, Long, Long, Double)]
              var i = 0
              while (i < t) {
                val r = touched(i)
                val hits = hitCounts(r)
                hitCounts(r) = 0
                if (hits.toDouble >=
                    math.min(docN, index.gramCounts(r).toDouble) * minOverlap) {
                  val bt = index.texts(r)
                  val dist = graft.expr.TextHash.boundedLevenshtein(text, bt, maxDist)
                  if (dist >= 0) {
                    val maxLen = math.max(text.codePointCount(0, text.length),
                      bt.codePointCount(0, bt.length)).toLong
                    val sim = if (maxLen == 0) 1.0 else 1.0 - dist.toDouble / maxLen
                    if (sim >= editSim)
                      out += ((docId, index.ids(r), hits.toLong, dist, maxLen, sim))
                  }
                }
                i += 1
              }
              out.iterator
            }
          }
        }
      }
      .toDF("doc_id", "bench_id", "hits", "dist", "max_len", "edit_sim")
  }

  /** The RETIRED relational candidacy plan (explode → broadcast join →
    * (doc, bench)-keyed count → typed-map verify), kept as the
    * independent reference implementation the kernel is pinned against
    * in DedupSpec. Not on any query path. */
  private[graft] def editContaminationRelational(
      corpus: DataFrame, benchPrepared: DataFrame,
      idCol: String, textCol: String,
      k: Int = 8, minOverlap: Double = 0.25,
      editSim: Double = 0.8, maxDist: Int = 1000): DataFrame = {
    requireIntegralId(corpus, idCol, "editContamination")
    require(minOverlap > 0.0 && minOverlap <= 1.0, s"minOverlap in (0,1]: $minOverlap")
    val cs = editGrams(corpus, idCol, textCol, k, "doc_id")
    val bs = benchPrepared
    val cg = cs.select(col("doc_id"), col("doc_id_n"), explode(col("hs")).as("h"))
    val bg = bs.select(col("bench_id"), col("bench_id_n"), explode(col("hs")).as("h"))
    val cand = cg.join(broadcast(bg), Seq("h"))
      .groupBy(col("doc_id"), col("bench_id"), col("doc_id_n"), col("bench_id_n"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits").cast("double") >=
        least(col("doc_id_n"), col("bench_id_n")).cast("double") * minOverlap)
      .select("doc_id", "bench_id", "hits")
    val spark = corpus.sparkSession
    import spark.implicits._
    cs.select(col("doc_id"), col("doc_id_text"))
      .join(broadcast(cand), Seq("doc_id"))
      .join(broadcast(bs.select(col("bench_id"), col("bench_id_text"))), Seq("bench_id"))
      .select(col("doc_id"), col("bench_id"), col("hits"),
        col("doc_id_text"), col("bench_id_text"))
      .as[(Long, Long, Long, String, String)]
      .map { case (docId, benchId, hits, ct, bt) =>
        val dist = graft.expr.TextHash.boundedLevenshtein(ct, bt, maxDist)
        val maxLen = math.max(ct.codePointCount(0, ct.length),
          bt.codePointCount(0, bt.length)).toLong
        val sim = if (maxLen == 0) 1.0 else 1.0 - dist.toDouble / maxLen
        (docId, benchId, hits, dist, maxLen, sim)
      }
      .toDF("doc_id", "bench_id", "hits", "dist", "max_len", "edit_sim")
      .filter(col("dist") >= 0 && col("edit_sim") >= editSim)
  }

  /** INCREMENTAL EDIT-level admission (d24) — d17's char-edit sibling:
    * a batch (crawl-increment) document is REJECTED when any CORPUS
    * document, or any EARLIER-id batch document, sits within edit
    * similarity ≥ `editSim` — fate-independent (a rejected batch doc
    * still blocks its own later near-dups), the admission convention.
    * This is the gate that keeps leetspeak/OCR-noise re-submissions out
    * of a standing corpus where d17's word-Jaccard admission can't even
    * candidate them.
    *
    * Candidacy is d22's exact shared-char-gram overlap bar
    * (deterministic recall — no banding; see d22's measured-background
    * rationale). Scale discipline is d17's, kernel edition: the
    * INCREMENT's grams broadcast as the packed [[EditGramIndex]] and the
    * corpus streams map-side through ONE text-only scan that probes the
    * index, applies the bar, and verifies inline — nothing corpus-sized
    * ever shuffles (the retired relational plan still shuffled gram-HIT
    * rows into a (corpus, batch)-keyed count); the increment's internal
    * earlier-id pairs probe the same index increment-sized. Corpus ×
    * corpus pairs are never generated — an increment costs
    * increment-bounded work, never a corpus re-check. Verification is
    * the bounded-DP kernel inline in the probe pass. Output: one row
    * per batch doc, (doc_id, admitted).
    *
    * gramSampleMod is the probe VOLUME lever: mod-p sampling (a pure
    * function of content, identical in both engines) divides gram volume
    * by ~p while the overlap FRACTION statistics — what the bar tests —
    * hold in expectation.
    *
    * INCREMENT-SIZE CONTRACT: the increment stages through the driver
    * and broadcasts as the packed index — O(rows × grams) memory on the
    * driver and every executor. That is bounded by trigger size at CDC
    * cadence and enforced by `maxIncrementRows` (fails by name, never
    * OOMs — see [[editBenchIndex]]); the CORPUS side streams and is
    * unbounded. */
  def editAdmission(corpus: DataFrame, batch: DataFrame,
                    idCol: String, textCol: String,
                    k: Int = 8, minOverlap: Double = 0.25,
                    editSim: Double = 0.8, maxDist: Int = 1000,
                    gramSampleMod: Int = 1,
                    maxIncrementRows: Int = DefaultMaxIndexRows): DataFrame = {
    requireIntegralId(corpus, idCol, "editAdmission")
    requireIntegralId(batch, idCol, "editAdmission")
    val spark = corpus.sparkSession
    import spark.implicits._
    val bs = batch
      .select(col(idCol).cast("long").as("b_id"), col(textCol).as("b_text"),
        graft.expr.hfunctions.char_shingles60(col(textCol), k, gramSampleMod).as("hs"))
      .filter(size(col("hs")) > 0)
    // ONE evaluation of the increment's shingles: the collected refs feed
    // the index build, the self pass (grams reused verbatim), and the
    // verify texts — the increment derivation is never re-scanned.
    // DRIVER/BROADCAST BOUND: this stages the INCREMENT (rows x grams)
    // through the driver — bounded by trigger size at CDC cadence, and
    // enforced by maxIncrementRows so a corpus-sized increment fails by
    // name instead of OOMing the driver (see [[editBenchIndex]]).
    val refs = collectBounded(bs.as[(Long, String, Array[Long])],
      maxIncrementRows, "editAdmission increment")
    val idx = spark.sparkContext.broadcast(EditGramIndex.build(refs))
    // batch × corpus: ONE map-only text-column corpus scan; each corpus
    // doc probes the increment index and emits the batch ids it blocks
    val rejectedByCorpus = kernelParallel(corpus.select(col(textCol))).as[String]
      .mapPartitions { it =>
        val index = idx.value
        val hitCounts = new Array[Int](index.nRefs)
        val touched = new Array[Int](index.nRefs)
        it.flatMap { text =>
          if (text == null) Iterator.empty
          else blockedBy(index, text,
            graft.expr.TextHash.charShingles60(text, k, gramSampleMod),
            null, minOverlap, editSim, maxDist, hitCounts, touched)
        }
      }
    // batch × earlier-id batch: each batch doc probes the same index with
    // its ALREADY-COMPUTED grams, counting only strictly-smaller ids as
    // blockers (fate-independent)
    val rejectedBySelf = spark.createDataset(refs.toIndexedSeq)
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val index = idx.value
        val hitCounts = new Array[Int](index.nRefs)
        val touched = new Array[Int](index.nRefs)
        it.flatMap { case (bId, text, grams) =>
          blockedBy(index, text, grams, java.lang.Long.valueOf(bId),
            minOverlap, editSim, maxDist, hitCounts, touched)
        }
      }
    val rejected = rejectedByCorpus.union(rejectedBySelf).distinct()
      .toDF("doc_id").withColumn("rej", lit(true))
    batch.select(col(idCol).cast("long").as("doc_id"))
      .join(broadcast(rejected), Seq("doc_id"), "left")
      .select(col("doc_id"), (!coalesce(col("rej"), lit(false))).as("admitted"))
  }

  /** Shared probe-verify step of [[editAdmission]]'s two passes: the ids
    * of index references that `text` (with precomputed distinct `grams`)
    * blocks (bar + bounded-DP verified). `aboveId == null` probes as a
    * CORPUS doc, emitting the BLOCKED batch ids (all references
    * eligible); otherwise as a BATCH doc, emitting its OWN id once per
    * strictly-smaller-id blocker. */
  private def blockedBy(index: EditGramIndex, text: String, grams: Array[Long],
                        aboveId: java.lang.Long,
                        minOverlap: Double, editSim: Double, maxDist: Int,
                        hitCounts: Array[Int], touched: Array[Int]): Iterator[Long] = {
    if (grams.length == 0) return Iterator.empty
    val t = index.probe(grams, hitCounts, touched)
    val docN = grams.length.toDouble
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    while (i < t) {
      val r = touched(i)
      val hits = hitCounts(r)
      hitCounts(r) = 0
      val eligible = aboveId == null || index.ids(r) < aboveId.longValue()
      if (eligible && hits.toDouble >=
          math.min(docN, index.gramCounts(r).toDouble) * minOverlap) {
        val rt = index.texts(r)
        val dist = graft.expr.TextHash.boundedLevenshtein(text, rt, maxDist)
        if (dist >= 0) {
          val maxLen = math.max(text.codePointCount(0, text.length),
            rt.codePointCount(0, rt.length)).toLong
          val sim = if (maxLen == 0) 1.0 else 1.0 - dist.toDouble / maxLen
          if (sim >= editSim) out += (if (aboveId == null) index.ids(r) else aboveId.longValue())
        }
      }
      i += 1
    }
    out.iterator
  }

  /** Directed n-gram containment pairs: `(a_id, b_id)` means a_id's
    * shingle set is (nearly) contained in b_id's —
    * `containment = |A ∩ B| / |A| ≥ threshold`. The asymmetric twin of
    * [[jaccardPairs]]: Jaccard misses a short document quoted inside a
    * long one (the union is dominated by the long side), containment is
    * exactly that quote/boilerplate-inclusion detector.
    *
    * Same two-shuffle plan as [[jaccardPairs]] (shingle-hash pair counts,
    * set sizes riding through the explode); each
    * unordered pair then fans out to its two directed candidates in a
    * pure projection — no third shuffle — and only directions meeting the
    * threshold survive. Both directions pass only for near-equal sets.
    * Output: (a_id, b_id, inter, n_a, containment) with n_a = |A|.
    *
    * Recall bias under `maxDf`: by default `inter` counts only shingles
    * at or under the df cap, while `n_a` stays the FULL set size — so a
    * document whose shingles are mostly corpus-wide boilerplate
    * (df > cap) can never reach the threshold, even though boilerplate
    * inclusion is one of this operator's use cases. That is a deliberate
    * trade: the cap is what keeps the pair volume from going Θ(n²) on
    * exactly those shingles. To FIND shared boilerplate rather than
    * guard against it, pass `capAdjusted = true`: `n_a` then counts only
    * the POST-cap (surviving) shingles, so the ratio is consistent with
    * what `inter` can see and boilerplate-heavy documents pair on their
    * distinctive remainder — still without the Θ(n²) hazard. (Raising
    * `maxDf` or running uncapped on a pre-filtered slice remain the
    * exact-recall options.)
    *
    * Plan cost of `capAdjusted`: the post-cap sizes are a second
    * aggregation over the SAME capped-group shuffle — Catalyst's
    * ReuseExchange serves both branches from one scan + one shuffle
    * write — plus one join of the (small) directed-pair set against the
    * per-doc size table. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       maxDf: Option[Int] = None,
                       capAdjusted: Boolean = false): DataFrame = {
    require(!capAdjusted || maxDf.isDefined,
      "capAdjusted rescales the denominator to post-cap shingles; it needs maxDf")
    val pairs = pairCounts(docs, idCol, textCol, n, maxDf)
    val directed = pairs.select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst"),
          col("inter"), col("a_n").as("n_src")),
        struct(col("b_id").as("src"), col("a_id").as("dst"),
          col("inter"), col("b_n").as("n_src")))).as("d"))
      .select(col("d.src").as("a_id"), col("d.dst").as("b_id"),
        col("d.inter").as("inter"), col("d.n_src").as("n_a"))
    val sized =
      if (!capAdjusted) directed
      else {
        val nPost = shingleExplode(docs, idCol, textCol, n, maxDf)
          .groupBy(col("doc_id").as("a_id"))
          .agg(count(lit(1)).as("n_post"))
        directed.drop("n_a").join(nPost, Seq("a_id"))
          .withColumnRenamed("n_post", "n_a")
      }
    sized
      .withColumn("containment", col("inter").cast("double") / col("n_a"))
      .filter(col("containment") >= threshold)
      .select("a_id", "b_id", "inter", "n_a", "containment")
      // Exchange-isolate the pair aggregate from the caller's final
      // ORDER BY: a global sort's RangePartitioner samples its child by
      // EXECUTING it, then executes it again for the shuffle write — so
      // everything above the last exchange runs twice. The pair
      // aggregate is the operator's dominant stage (measured at sf0.1:
      // two full executions, 35 s + 23 s of task time on 81 MB of pair
      // rows); this shuffle carries only the thresholded survivors
      // (orders of magnitude fewer rows), so the sampling pass re-reads
      // a tiny exchange instead of re-aggregating every candidate pair.
      .repartition(col("a_id"), col("b_id"))
  }

  /** Benchmark decontamination: count, per corpus document, the distinct
    * n-gram shingle hashes it shares with ANY benchmark document — the
    * standard test-set-contamination gate for training corpora (drop a
    * doc when `hits ≥ minHits`). Output: (doc_id, n_sh, hits,
    * contaminated).
    *
    * Scale shape: the benchmark side collapses to its DISTINCT shingle-
    * hash set (benchmarks are tiny next to a 100 TB corpus), so the probe
    * is a semi-join of corpus shingles against a set AQE will broadcast;
    * the corpus is scanned once and the only aggregation is the per-doc
    * hit count. Docs with fewer than n tokens have no shingles and are
    * trivially clean (hits = 0). */
  def contaminationHits(corpus: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String,
                        n: Int = 3, minHits: Int = 5): DataFrame = {
    val corpusSets = shingleHashSets(corpus, idCol, textCol, n)
    val benchSh = shingleHashSets(benchmark, idCol, textCol, n)
      .select(explode(col("hs")).as("h")).distinct()
    val hits = corpusSets
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .join(benchSh, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("hits"))
    corpus.select(col(idCol).as("doc_id"))
      .join(corpusSets.select(col("doc_id"), size(col("hs")).cast("long").as("n_sh")),
        Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("contaminated", (col("hits") >= minHits).cast("boolean"))
  }

  /** [[contaminationHits]] behind a FIXED-SIZE Bloom prefilter — the
    * same gate with a bounded broadcast. The benchmark's distinct
    * shingle hashes fold into ONE Bloom blob of `numBits` bits (Spark's
    * own runtime-filter aggregate), the corpus probe is a map-side
    * `might_contain` prefilter, and only the surviving candidate
    * (doc, shingle) rows verify exactly against the true benchmark set —
    * Bloom false positives die in the verify join, so the OUTPUT is
    * byte-identical to [[contaminationHits]] (same oracle).
    *
    * Why it matters at 100 TB: the exact path broadcasts the benchmark's
    * distinct shingle set against every corpus task — fine for one
    * benchmark, multi-GB once you decontaminate against dozens of
    * eval suites at once. Here the per-task payload is numBits/8 bytes
    * REGARDLESS of benchmark size, and the exact set is only joined
    * against the prefiltered candidates (true hits + FP-rate × corpus
    * shingles — AQE picks a cheap join for that residue). Size numBits
    * ≈ 10× the distinct benchmark shingles for ~1% FP. */
  def contaminationHitsBloom(corpus: DataFrame, benchmark: DataFrame,
                             idCol: String, textCol: String,
                             n: Int = 3, minHits: Int = 5,
                             estBenchShingles: Long = 1L << 20,
                             numBits: Long = 1L << 23): DataFrame = {
    require(estBenchShingles > 0 && numBits > 0,
      s"positive bloom sizing required, got ($estBenchShingles, $numBits)")
    val corpusSets = shingleHashSets(corpus, idCol, textCol, n)
    val benchSh = shingleHashSets(benchmark, idCol, textCol, n)
      .select(explode(col("hs")).as("h")).distinct()
    // The blob is a BOUNDED driver collect — numBits/8 bytes by
    // construction, regardless of benchmark cardinality (that bound is
    // this operator's whole point) — and enters the probe as a binary
    // LITERAL: `might_contain` requires a constant filter, and a literal
    // ships with the task closure exactly once per executor. Empty
    // benchmark → NULL blob → every doc is trivially clean.
    val blobRow = benchSh.agg(graft.expr.hfunctions
      .bloom_filter_agg(col("h"), estBenchShingles, numBits).as("bf")).first()
    val hits =
      if (blobRow.isNullAt(0))
        corpusSets.select(col("doc_id"), lit(0L).as("hits")).limit(0)
      else {
        val candidates = corpusSets
          .select(col("doc_id"), explode(col("hs")).as("h"))
          .filter(graft.expr.hfunctions.might_contain(
            lit(blobRow.getAs[Array[Byte]](0)), col("h")))
        candidates.join(benchSh, Seq("h"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("hits"))
      }
    corpus.select(col(idCol).as("doc_id"))
      .join(corpusSets.select(col("doc_id"), size(col("hs")).cast("long").as("n_sh")),
        Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("contaminated", (col("hits") >= minHits).cast("boolean"))
  }

  /** SURGICAL span decontamination: cut every k-token window of a corpus
    * document whose k-gram appears ANYWHERE in the benchmark, and
    * rebuild the document from the survivors — the span-level
    * alternative to [[contaminationHits]]' drop-the-whole-doc gate
    * (dropping a 10k-token doc for one quoted test item wastes the other
    * 99% of it; cutting the quoted span keeps it). Overlapping
    * contaminated windows merge through the same per-token cover mask as
    * [[dedupSpans]], so a verbatim benchmark run of m ≥ k tokens is
    * excised in full. Output: (doc_id, n_tokens, n_removed, clean_text)
    * for every corpus document.
    *
    * Scale shape: the benchmark collapses to its distinct positional
    * k-gram hash set (tiny vs the corpus) and meets the corpus windows
    * in a semi-join AQE broadcasts; the corpus is scanned once, the
    * rebuild is the compiled cover-mask kernel, and there is no
    * corpus-sized shuffle except the per-doc starts regroup — exactly
    * [[dedupSpans]]' plan with the winner aggregate replaced by the
    * benchmark probe. */
  def decontaminateSpans(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         k: Int = 8): DataFrame = {
    require(k >= 2, s"k must be at least 2, got $k")
    // kernelParallel: md5-per-position map wall (see duplicateWindowStarts)
    val occ = kernelParallel(corpus).select(col(idCol).as("doc_id"),
        posexplode(graft.expr.hfunctions.kgram_hashes60(col(textCol), k))
          .as(Seq("i0", "h")))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("pos"), col("h"))
    val benchKg = benchmark
      .select(explode(graft.expr.hfunctions.kgram_hashes60(col(textCol), k)).as("h"))
      .distinct()
    val hitStarts = occ.join(benchKg, Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("starts"))
    corpus.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .join(hitStarts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        graft.expr.hfunctions.remove_token_spans(col("text"),
          coalesce(col("starts"), lit(Array.empty[Long])), k).as("clean_text"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - TextAnalysis.tokenCount(col("clean_text"))).as("n_removed"),
        col("clean_text"))
  }

  /** Benchmark n-gram coverage audit: per benchmark doc, the fraction of
    * its distinct word n-grams that occur ANYWHERE in the corpus — the
    * contamination-rate summary run before a release (d22's edit-level
    * cousin reports pairs; this reports the one number per probe that a
    * decontamination policy thresholds on).
    *
    * Scale shape (the d17 admission discipline): the benchmark is
    * increment-sized, so its distinct gram set broadcasts and prunes the
    * corpus gram stream MAP-SIDE (left-semi against the broadcast); only
    * the survivor set — ≤ the benchmark's gram count, tiny — is
    * deduplicated and broadcast back for the per-doc hit count. The
    * corpus is scanned once and never shuffled by gram.
    *
    * Output: (doc_id, n_grams, n_hit, cov_q) with cov_q on the 1e-6
    * grid; benchmark docs shorter than n tokens carry no grams and are
    * absent (nothing to audit). */
  def gramCoverage(corpus: DataFrame, benchmark: DataFrame,
                   idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val cg = shingleHashSets(corpus, idCol, textCol, n)
      .select(explode(col("hs")).as("g"))
    val benchGramSet = benchGrams(benchmark, idCol, textCol, n).select("g").distinct()
    val survivors = cg.join(broadcast(benchGramSet), Seq("g"), "left_semi")
      .distinct()
    coverageFromSeen(benchmark, idCol, textCol, n, survivors)
  }

  /** The benchmark side of the coverage audit: one row per (probe doc,
    * distinct gram hash) — probe-bounded. Shared by the batch operator
    * and the streaming twin's frozen probe frame. */
  private[graft] def benchGrams(benchmark: DataFrame, idCol: String,
                                textCol: String, n: Int): DataFrame =
    shingleHashSets(benchmark, idCol, textCol, n)
      .select(col("doc_id"), explode(col("hs")).as("g"))

  /** Coverage report given the set of benchmark grams the corpus was
    * seen to contain (`seen`: one `g` column, ≤ the benchmark's gram
    * count). This is the drain-end step of the streaming audit and the
    * final step of [[gramCoverage]] — sharing it is what makes
    * "stream ≡ batch" an identity, not a claim. */
  private[graft] def coverageFromSeen(benchmark: DataFrame, idCol: String,
                                      textCol: String, n: Int,
                                      seen: DataFrame): DataFrame =
    benchGrams(benchmark, idCol, textCol, n)
      .join(broadcast(seen.withColumn("_gc_hit", lit(1L))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("_gc_hit"), lit(0L))).as("n_hit"))
      .withColumn("cov_q",
        round(col("n_hit") * 1e6 / col("n_grams")).cast("long"))

  /** Cross-source duplicate overlap matrix — which sources copy from
    * which: for every source pair (a < b), how many canonical
    * fingerprints (d01's exact-dup notion) occur in BOTH. The
    * provenance census behind mixture decisions ("src3 is 40% mirrors
    * of src0 — don't count it as independent data").
    *
    * Scale: one scan to (source, fp) distinct, one fp-keyed self-join —
    * the d01 shuffle shape; per-fp fan-out is bounded by the source
    * count (≤ sources² pairs per fingerprint, after the per-source
    * distinct), and the output is ≤ sources² rows. */
  def sourceOverlap(docs: DataFrame, sourceCol: String,
                    textCol: String): DataFrame = {
    val sfp = docs.select(col(sourceCol).as("src"),
        TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .distinct()
    val a = sfp.select(col("src").as("src_a"), col("fp"))
    val b = sfp.select(col("src").as("src_b"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** PER-SOURCE duplication census — the per-source rows of a corpus
    * datasheet: how much of each source is internal copies, and how much
    * of its distinct content also appears elsewhere. [[sourceOverlap]]
    * answers "which source PAIRS share" (quadratic in sources);
    * this answers "how clean is EACH source" (linear) — the number that
    * decides a source's mixture weight before any pairwise drill-down.
    *
    * Per source: n_docs, n_distinct_texts (canonical fingerprints),
    * n_dup_within (= docs − distinct: internal extra copies),
    * n_cross_shared (distinct texts also present in ≥1 other source),
    * dup_ppm (internal dup rate on the 1e-6 grid, truncating div).
    *
    * Scale shape: one scan → ONE (source, fp)-keyed aggregate (map-side
    * partials collapse copies before the shuffle), one fp-keyed count
    * over the already-distinct pairs, one fp-keyed join back — every
    * frame after the first aggregate is DISTINCT-CONTENT-sized, never
    * corpus-sized; no window, no pairwise expansion. */
  def sourceDupCensus(docs: DataFrame, sourceCol: String,
                      textCol: String): DataFrame = {
    val sfc = docs.select(col(sourceCol).as("source"),
        TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("source"), col("fp")).agg(count(lit(1)).as("n"))
    val nsrc = sfc.groupBy(col("fp")).agg(count(lit(1)).as("n_src"))
    sfc.join(nsrc, Seq("fp"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_distinct_texts"),
        sum(col("n") - lit(1L)).as("n_dup_within"),
        sum(when(col("n_src") > 1, lit(1L)).otherwise(lit(0L))).as("n_cross_shared"))
      .withColumn("dup_ppm",
        expr("((n_docs - n_distinct_texts) * 1000000L) div n_docs"))
  }

  /** DEDUP-SAVINGS census — what exact dedup BUYS, by cluster size: for
    * each observed duplicate-cluster size k, how many clusters, how many
    * redundant documents ((k−1) per cluster), and how many tokens
    * keeping one representative saves. The cost-benefit report a
    * pipeline publishes next to its d01 pass (a corpus whose savings
    * concentrate at k=2 has organic mirrors; a heavy tail of huge
    * clusters means template spam the near-dup passes should chase).
    *
    * Copies of one canonical fingerprint tokenize identically (the
    * fingerprint collapses exactly the whitespace the tokenizer does),
    * so savings = (k−1)·tokens_per_copy without inspecting keepers.
    * One (fp)-keyed aggregate with map-side partials, then a
    * sizes-bounded census. Output: (cluster_size, n_clusters,
    * n_dup_docs, tokens_saved). */
  def dedupSavings(docs: DataFrame, textCol: String): DataFrame =
    docs.select(TextAnalysis.fingerprint(col(textCol)).as("fp"),
        TextAnalysis.tokenCount(col(textCol)).as("tok"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("k"), max(col("tok")).as("tok"))
      .groupBy(col("k").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("k") - lit(1L)).as("n_dup_docs"),
        sum((col("k") - lit(1L)) * col("tok")).as("tokens_saved"))

  /** Structural SKELETON of a document: letter runs collapse to `w`,
    * digit runs to `9`, whitespace normalizes — what survives is the
    * punctuation/layout template. Documents GENERATED from one template
    * (product pages, error pages, invoices, log lines) share a skeleton
    * while differing textually — the class exact dedup can't see (every
    * instance is unique) and near-dup dedup misprices (instances can
    * share almost no n-grams). */
  def skeleton(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(lower(trim(text)),
      "[a-z]+", "w"), "[0-9]+", "9"), "\\s+", " ")

  /** Template-cluster census: groups of ≥ `minSize` documents sharing a
    * skeleton with ≥ 2 DISTINCT exact texts (all-identical groups are
    * d01's exact dups, not templates). Output per cluster:
    * (skel_fp, n_docs, n_texts, rep_id = smallest doc id).
    *
    * Scale shape: one scan computing both fingerprints in the
    * projection, then ONE aggregate keyed on the skeleton hash —
    * map-side partials collapse template instances before the shuffle
    * (a template stamped 10⁹ times crosses the wire once per task), and
    * the distinct-text count rides Spark's standard two-phase
    * distinct-agg expansion under the same key. No join, no window. */
  def templateClusters(docs: DataFrame, idCol: String, textCol: String,
                       minSize: Long = 2L): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        hash60(skeleton(col(textCol))).as("skel_fp"),
        TextAnalysis.fingerprint(col(textCol)).as("_tx_fp"))
      .groupBy(col("skel_fp"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("_tx_fp")).as("n_texts"),
        min(col("doc_id")).as("rep_id"))
      .filter(col("n_docs") >= minSize && col("n_texts") >= 2L)

  /** Paragraph-level exact dedup ACROSS the corpus (the C4 line-dedup
    * step): split every document on `sep`, fingerprint each non-blank
    * paragraph (lowercased, whitespace-collapsed md5 — formatting noise
    * doesn't defeat the match), keep only the globally FIRST occurrence
    * of each paragraph (smallest (doc_id, position)), and rebuild every
    * document from its surviving paragraphs in original order. Output:
    * (doc_id, n_paras, n_kept, clean_text) for every input document —
    * n_kept = 0 and clean_text = '' when every paragraph was a repeat.
    *
    * Scale shape: the winner per fingerprint is a min-struct hash
    * aggregate (map-side partials collapse repeats BEFORE the shuffle,
    * so a boilerplate paragraph repeated 10⁹ times crosses the wire
    * once per task, and the winning (doc_id, idx, para) rides the
    * aggregate — no join back to recover text); the rebuild is a second
    * hash aggregate keyed on doc_id; the final left join restores
    * all-duplicate docs and is doc_id-keyed (uniform — AQE-friendly).
    * No window, no sort except the per-doc in-memory `array_sort` over
    * that doc's own surviving paragraphs. */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
                      sep: String = "\n"): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val paras = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), sepRe)).as(Seq("idx", "para")))
      .filter(length(trim(col("para"))) > 0)
    val winners = paras
      .groupBy(TextAnalysis.fingerprint(col("para")).as("fp"))
      .agg(min(struct(col("doc_id"), col("idx"), col("para"))).as("w"))
    val rebuilt = winners.groupBy(col("w.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("w.idx").as("idx"), col("w.para").as("para")))),
          x => x.getField("para"))).as("clean_text"))
    docs.select(col(idCol).as("doc_id"),
        size(filter(split(col(textCol), sepRe),
          p => length(trim(p)) > 0)).cast("long").as("n_paras"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** WITHIN-document repeated-paragraph removal — the intra-document half
    * of [[dedupParagraphs]] (C4 drops a doc's own repeated lines before
    * any cross-corpus work): drop a paragraph iff an EARLIER paragraph of
    * the SAME document has the same canonical fingerprint, rebuild the
    * doc from the survivors in order. Output: (doc_id, n_paras, n_kept,
    * clean_text).
    *
    * Scale shape: pure projection — zero shuffles; all work is per-doc
    * local array lambdas (keep-first = `array_position` of each
    * paragraph's fingerprint against the doc's own fingerprint list).
    * The per-doc cost is O(paragraphs²) fingerprint comparisons — fine
    * at realistic paragraph counts and embarrassingly parallel; the
    * CROSS-corpus variant is where the shuffles (and the min-struct
    * aggregate machinery) live. */
  def dedupParagraphsWithinDoc(docs: DataFrame, idCol: String, textCol: String,
                               sep: String = "\n"): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val parts = filter(split(col(textCol), sepRe), p => length(trim(p)) > 0)
    val out = docs
      .withColumn("_parts", parts)
      .withColumn("_fps", transform(col("_parts"), p => TextAnalysis.fingerprint(p)))
      .withColumn("_kept", filter(col("_parts"), (_, i) =>
        array_position(col("_fps"), element_at(col("_fps"), i + 1)) === (i + 1).cast("long")))
    out.select(col(idCol).as("doc_id"),
      size(col("_parts")).cast("long").as("n_paras"),
      size(col("_kept")).cast("long").as("n_kept"),
      concat_ws(sep, col("_kept")).as("clean_text"))
  }

  /** EXACT-SUBSTRING span dedup (the "Deduplicating Training Data Makes
    * Language Models Better" ExactSubstr step, token-window form): a
    * k-token window whose k-gram already occurred at a lexicographically
    * smaller (doc_id, position) is a duplicate span; every token covered
    * by any duplicate window is cut and the document rebuilt from the
    * survivors (whitespace-normalized). Output: (doc_id, n_tokens,
    * n_removed, clean_text) — n_tokens the original count.
    *
    * The reference method keeps the FIRST global occurrence of each
    * duplicated substring and cuts the rest; at k-gram granularity
    * overlapping duplicate windows merge through the per-token cover
    * mask, so a shared run of m ≥ k tokens survives exactly once
    * corpus-wide and loses all m tokens everywhere else (intra-document
    * repeats included).
    *
    * Scale shape: positional k-gram hashes are one compiled pass per doc
    * (`kgram_hashes60`); the global keep-first is ONE groupBy(h)
    * min-struct aggregate (map-side partials collapse a boilerplate
    * k-gram's 10⁹ repeats to once per task before the shuffle);
    * duplicate marks join back on h and regroup per doc (collect_list
    * bounded by the doc's own window count); the cover-mask rebuild is a
    * compiled kernel (`remove_token_spans`). No windows, no sorts — the
    * same min-struct machinery as [[dedupParagraphs]], one level down.
    * A true suffix-array construction finds variable-length duplicates
    * exactly; the fixed-k window form is the bucketable approximation
    * that needs only hash shuffles, with k the minimum duplicated run
    * length detected. */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 8): DataFrame = {
    val dupStarts = duplicateWindowStarts(docs, idCol, textCol, k)
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .join(dupStarts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        graft.expr.hfunctions.remove_token_spans(col("text"),
          coalesce(col("starts"), lit(Array.empty[Long])), k).as("clean_text"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - TextAnalysis.tokenCount(col("clean_text"))).as("n_removed"),
        col("clean_text"))
  }

  /** CHARACTER-granular exact-substring span dedup — [[dedupSpans]] with
    * char k-gram windows over the whitespace-normalized text instead of
    * token windows (the Lee et al. ExactSubstr step at its native
    * granularity: OCR corpora, source code, and CJK text duplicate at
    * byte/char runs that never line up with `\s+` tokens). A k-char
    * window whose k-gram already occurred at a lexicographically smaller
    * (doc_id, position) is a duplicate span; every CHARACTER covered by
    * any duplicate window is cut and the survivors concatenate directly
    * (a cut can fuse its neighbors — that IS the semantics; there is no
    * token boundary to respect). Output: (doc_id, n_chars, n_removed,
    * clean_text), n_chars the NORMALIZED original length.
    *
    * Scale shape: identical to [[dedupSpans]] — one compiled positional-
    * hash pass per doc ([[graft.expr.CharKgramHashes60]]), ONE global
    * groupBy(h) min-struct keep-first (map-side partials collapse
    * boilerplate before the shuffle), join back on h, per-doc regroup,
    * compiled cover-mask rebuild ([[graft.expr.RemoveCharSpans]]). The
    * hash pass is k× the byte volume of the token pass (one md5 per
    * char position) but stays map-only; `rollingHash = true` swaps in
    * the O(len) rolling-polynomial kernel
    * ([[graft.expr.CharKgramHashesRolling]]) without touching the plan —
    * cut decisions depend only on gram EQUALITY classes, so the swap is
    * behavior-preserving (pinned md5≡rolling in DedupSpec); the md5
    * default stays because the driver oracle replays it in SQL. */
  def dedupCharSpans(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 25, rollingHash: Boolean = false): DataFrame = {
    require(k >= 2, s"k must be at least 2, got $k")
    val hashes =
      if (rollingHash) graft.expr.hfunctions.char_kgram_hashes_rolling(col(textCol), k)
      else graft.expr.hfunctions.char_kgram_hashes60(col(textCol), k)
    // kernelParallel: one md5 per CHAR position — the steepest map-side
    // CPU wall in the family; spread a 1-2-split input across the
    // session's cores (zero shuffle at scale). The explicit isNotNull
    // keeps the filter below the exchange (a null-id doc never matched
    // the join-back anyway). The single .repartition(h) is the
    // one-exchange self-join shape — see duplicateWindowStarts: the
    // positional kernel runs once (was once per branch), the winners
    // aggregate and the join-back probe read the SAME h-keyed exchange
    // (AQE ReusedQueryStage), and no driver-built broadcast relation
    // remains (the profile showed a consistent ~1.5 s driver gap
    // building it at sf0.1).
    val occ = kernelParallel(docs.filter(col(idCol).isNotNull))
      .select(col(idCol).as("doc_id"),
        posexplode(hashes).as(Seq("i0", "h")))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("pos"), col("h"))
      .repartition(col("h"))
    // carry the occurrence count in the SAME aggregate (zero extra
    // shuffle) and keep only multi-occurrence grams: a unique gram's sole
    // occurrence IS its winner, so it can never produce a cut — on a
    // mostly-novel corpus (the 100 TB case) this shrinks the join-back
    // side from one row per DISTINCT gram to one per DUPLICATE-CLASS
    // gram (measured at 10x scale on a ~10%-duplication corpus: A/B vs
    // the unfiltered plan 20.6 s -> 15.5 s at sf1). The occ exchange
    // (~24 B/char positional grams) is the irreducible Lee et al. cost
    // and the ONLY corpus-sized shuffle in the operator; the streaming
    // form (StreamCharSpanDedup) stays the declared 100 TB path because
    // it amortizes that volume per trigger against bucket-pruned state.
    // SHUFFLE_HASH: the post-filter winners side is small per partition
    // and hash-uniform (keys ARE hashes — no skew by construction), so
    // the in-stage hash build beats both a sort of the probe stream
    // (SMJ) and a driver-built broadcast. Duplication regime + escape
    // hatch (boilerplate-heavy corpora): see winnersHinted, which both
    // join-backs route through; the one-exchange savings accounting is
    // at duplicateWindowStarts.
    val winners = occ.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2).select(col("h"), col("w"))
    val dupStarts = occ.join(winnersHinted(winners), Seq("h"))
      .filter(!(col("doc_id") === col("w.doc_id") && col("pos") === col("w.pos")))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("starts"))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .join(dupStarts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        length(concat_ws(" ", split(trim(col("text")), "\\s+"))).cast("long").as("n_chars"),
        graft.expr.hfunctions.remove_char_spans(col("text"),
          coalesce(col("starts"), lit(Array.empty[Long])), k).as("clean_text"))
      .select(col("doc_id"), col("n_chars"),
        (col("n_chars") - length(col("clean_text")).cast("long")).as("n_removed"),
        col("clean_text"))
  }

  /** Ceiling on the DISTINCT char k-grams a benchmark side may stage
    * through the driver for [[charContamination]] — the
    * [[DefaultMaxIndexRows]] pattern at gram granularity (a benchmark
    * DOC yields ~one gram per character, so rows are the wrong unit
    * here). 2^25 grams ≈ 256 MB of packed longs on the driver and again
    * on every executor as the broadcast probe array — benchmark suites
    * are megabytes of text (≈10^6–10^7 grams), far inside the bound;
    * a corpus-sized mistake fails BY NAME at the collect. */
  val DefaultMaxBenchGrams: Int = 1 << 25

  /** Collect and broadcast a benchmark side's DISTINCT char k-gram
    * hashes, SORTED (the probe binary-searches) — the frozen reference
    * set [[charContamination]] and its streaming admission twin probe
    * against; build ONCE and share across queries/triggers hitting the
    * same benchmark (the [[editBenchIndex]] freeze discipline). ACTION
    * at call time; bounded by name via `maxGrams`. */
  def charBenchGrams(benchmark: DataFrame, textCol: String, k: Int,
                     maxGrams: Int = DefaultMaxBenchGrams)
      : org.apache.spark.broadcast.Broadcast[Array[Long]] = {
    require(k >= 2, s"k must be at least 2, got $k")
    val spark = benchmark.sparkSession
    import spark.implicits._
    val grams = collectBounded(
      benchmark
        .select(explode(graft.expr.hfunctions.char_kgram_hashes60(col(textCol), k)).as("h"))
        .distinct().as[Long],
      maxGrams, "charBenchGrams benchmark gram set")
    java.util.Arrays.sort(grams)
    spark.sparkContext.broadcast(grams)
  }

  /** CHAR-granular benchmark DECONTAMINATION — the Lee et al. /GPT-3-
    * report ExactSubstr rule applied train-vs-eval: a training document
    * is contaminated iff it shares at least one k-CHAR run (one char
    * k-gram window over the ws-normalized text) with any benchmark
    * document. Complements the existing decontamination family at the
    * granularity the others can't see: d22 is edit-distance at document
    * scope, p03/p14 are token-n-gram/MinHash — none catch sub-token char
    * overlap (OCR'd benchmarks, code, CJK). Output per corpus doc:
    * (doc_id, n_windows, n_hits, contaminated), n_hits the count of its
    * windows whose gram occurs in the benchmark set, contaminated =
    * n_hits ≥ 1.
    *
    * Scale shape: the benchmark side is frozen into one sorted broadcast
    * gram array ([[charBenchGrams]] — bounded BY NAME at
    * [[DefaultMaxBenchGrams]]), then ONE map-only corpus pass runs the
    * compiled positional kernel and binary-searches each window. Zero
    * shuffles, zero explode on the 100 TB side; the corpus is read once
    * with only (id, text) columns. The contract mirrors the whole
    * broadcast-index family (d22/d24/s27): the REFERENCE side must be
    * benchmark-sized, never corpus-sized. */
  def charContamination(corpus: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String, k: Int = 25,
                        maxBenchGrams: Int = DefaultMaxBenchGrams): DataFrame = {
    requireIntegralId(corpus, idCol, "charContamination")
    val bg = charBenchGrams(benchmark, textCol, k, maxBenchGrams)
    charContaminationPrepared(corpus, bg, idCol, textCol, k)
  }

  /** [[charContamination]] against an already-broadcast benchmark gram
    * set — the per-trigger entry point for the streaming admission twin
    * (build the broadcast once with [[charBenchGrams]], probe every
    * trigger against it). */
  def charContaminationPrepared(corpus: DataFrame,
                                benchGrams: org.apache.spark.broadcast.Broadcast[Array[Long]],
                                idCol: String, textCol: String,
                                k: Int = 25): DataFrame = {
    require(k >= 2, s"k must be at least 2, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    kernelParallel(corpus.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions { it =>
        val grams = benchGrams.value
        it.map { case (docId, text) =>
          if (text == null) (docId, 0L, 0L, false)
          else {
            val hs = graft.expr.TextHash.charKgramHashes60(text, k)
            var hits = 0L
            var i = 0
            while (i < hs.length) {
              if (java.util.Arrays.binarySearch(grams, hs(i)) >= 0) hits += 1
              i += 1
            }
            (docId, hs.length.toLong, hits, hits > 0)
          }
        }
      }
      .toDF("doc_id", "n_windows", "n_hits", "contaminated")
  }

  /** Sorted CSR map from a benchmark side's char k-gram hash to the
    * benchmark doc ids containing it — [[charBenchGrams]] with the
    * PROVENANCE kept, so a probe can answer not just "is this window a
    * benchmark substring" but "of WHICH benchmark items". `keys` is the
    * sorted distinct gram array (binary-searchable, same probe cost as
    * the plain set), `offs(i)..offs(i+1)` slices `ids` to the bench
    * docs carrying `keys(i)`. Built once on the driver, broadcast as
    * three primitive arrays — ~28 B per distinct (gram, bench doc)
    * pair, bounded by name the same way the plain set is. */
  final case class CharBenchGramIndex(keys: Array[Long], offs: Array[Int],
                                      ids: Array[Long]) extends Serializable

  /** Collect and broadcast a benchmark side's distinct
    * (char k-gram hash, bench doc id) pairs as a [[CharBenchGramIndex]]
    * — the provenance-keeping sibling of [[charBenchGrams]]. ACTION at
    * call time; bounded by name via `maxPairs` (pairs, not grams: a
    * gram shared by m benchmark items costs m slots). */
  def charBenchGramIndex(benchmark: DataFrame, benchIdCol: String,
                         textCol: String, k: Int,
                         maxPairs: Int = DefaultMaxBenchGrams)
      : org.apache.spark.broadcast.Broadcast[CharBenchGramIndex] = {
    require(k >= 2, s"k must be at least 2, got $k")
    requireIntegralId(benchmark, benchIdCol, "charBenchGramIndex")
    val spark = benchmark.sparkSession
    import spark.implicits._
    val pairs = collectBounded(
      benchmark
        .select(explode(graft.expr.hfunctions.char_kgram_hashes60(col(textCol), k)).as("h"),
          col(benchIdCol).cast("long").as("bid"))
        .distinct().as[(Long, Long)],
      maxPairs, "charBenchGramIndex benchmark (gram, id) pair set")
    java.util.Arrays.sort(pairs, Ordering[(Long, Long)])
    var distinct = 0
    var i = 0
    while (i < pairs.length) {
      if (i == 0 || pairs(i)._1 != pairs(i - 1)._1) distinct += 1
      i += 1
    }
    val keys = new Array[Long](distinct)
    val offs = new Array[Int](distinct + 1)
    val ids = new Array[Long](pairs.length)
    var ki = -1
    i = 0
    while (i < pairs.length) {
      if (i == 0 || pairs(i)._1 != pairs(i - 1)._1) {
        ki += 1; keys(ki) = pairs(i)._1; offs(ki) = i
      }
      ids(i) = pairs(i)._2
      i += 1
    }
    offs(distinct) = pairs.length
    spark.sparkContext.broadcast(CharBenchGramIndex(keys, offs, ids))
  }

  /** Per-(corpus doc, benchmark item) char-overlap pairs — the joint
    * detail [[charContaminationCensus]] aggregates: one row per corpus
    * doc × benchmark item sharing at least one k-char run, with
    * `shared_windows` = how many of the corpus doc's windows hash into
    * that item's gram set (repeated positions each count — the same
    * per-window frame as [[charContamination]]'s n_hits). Map-only over
    * the corpus against the broadcast [[CharBenchGramIndex]]; output is
    * CONTAMINATION-sized (clean docs emit nothing), so everything
    * downstream of the 100 TB scan is leak-volume work. */
  def charContaminationPairs(corpus: DataFrame,
                             index: org.apache.spark.broadcast.Broadcast[CharBenchGramIndex],
                             idCol: String, textCol: String,
                             k: Int = 25): DataFrame = {
    require(k >= 2, s"k must be at least 2, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    kernelParallel(corpus.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions { it =>
        val idx = index.value
        it.flatMap { case (docId, text) =>
          if (text == null) Iterator.empty
          else {
            val hs = graft.expr.TextHash.charKgramHashes60(text, k)
            val acc = new scala.collection.mutable.LongMap[Long]()
            var i = 0
            while (i < hs.length) {
              val p = java.util.Arrays.binarySearch(idx.keys, hs(i))
              if (p >= 0) {
                var j = idx.offs(p)
                val e = idx.offs(p + 1)
                while (j < e) {
                  acc.update(idx.ids(j), acc.getOrElse(idx.ids(j), 0L) + 1L)
                  j += 1
                }
              }
              i += 1
            }
            acc.toArray.iterator.map { case (b, c) => (docId, b, c) }
          }
        }
      }
      .toDF("doc_id", "bench_id", "shared_windows")
  }

  /** Per-BENCHMARK-ITEM contamination census — the inverse report of
    * [[charContamination]], and the artifact an eval owner actually
    * acts on: d31 tells the TRAINING side which docs to drop; this
    * tells the EVAL side which benchmark items are compromised and how
    * badly, so leaked items can be retired or reweighted (the GPT-3
    * report's per-benchmark "dirty" accounting, at Lee et al.'s char
    * granularity). Output one row per benchmark item, zeros included:
    * (bench_id, n_contaminated_docs = corpus docs sharing ≥1 k-char
    * run, shared_windows = their total overlapping windows,
    * max_shared_windows = the single worst doc's count — distinguishes
    * "one verbatim mirror" from "thousands of docs each quoting one
    * line"). The fragment's own source doc counts like any other
    * corpus doc (it IS contamination if it remains in training data).
    *
    * Scale shape: the benchmark side freezes into one sorted CSR
    * broadcast ([[charBenchGramIndex]], bounded BY NAME); the corpus
    * pays ONE map-only pass ([[charContaminationPairs]]) emitting
    * leak-sized pairs; the census aggregate and the zero-fill join
    * against the benchmark ids are both benchmark-sized. Zero corpus
    * shuffles — same 100 TB contract as d31. */
  def charContaminationCensus(corpus: DataFrame, benchmark: DataFrame,
                              idCol: String, benchIdCol: String,
                              textCol: String, k: Int = 25,
                              maxPairs: Int = DefaultMaxBenchGrams): DataFrame = {
    requireIntegralId(corpus, idCol, "charContaminationCensus")
    val idx = charBenchGramIndex(benchmark, benchIdCol, textCol, k, maxPairs)
    charCensusOf(charContaminationPairs(corpus, idx, idCol, textCol, k),
      benchmark, benchIdCol)
  }

  /** SURGICAL char-granular decontamination — [[decontaminateSpans]]'
    * keep-the-document philosophy at [[charContamination]]'s
    * granularity: instead of DROPPING a training doc that shares one
    * k-char run with a benchmark item (d31 — which forfeits the 99 % of
    * a long doc a single quoted test item poisons), cut ONLY the
    * k-char windows whose gram appears in the benchmark set and rebuild
    * the text, cuts fusing survivors exactly like the ExactSubstr dedup
    * rebuild. Output is [[dedupCharSpans]]' shape — (doc_id, n_chars,
    * n_removed, clean_text), positions and accounting in CODE POINTS of
    * the ws-normalized text.
    *
    * Scale shape: STRICTLY CHEAPER than d30's self-dedup — there is no
    * winners aggregate and no join-back at all, because the cut
    * condition is membership in a STATIC benchmark-sized set, not a
    * corpus-global keep-first. The benchmark freezes into one sorted
    * broadcast ([[charBenchGrams]], bounded BY NAME) and the corpus
    * pays ONE map-only pass doing hash + binary-search + in-kernel
    * rebuild. Zero shuffles at any corpus size. */
  def charDecontaminateSpans(corpus: DataFrame, benchmark: DataFrame,
                             idCol: String, textCol: String, k: Int = 25,
                             maxGrams: Int = DefaultMaxBenchGrams): DataFrame = {
    requireIntegralId(corpus, idCol, "charDecontaminateSpans")
    val bg = charBenchGrams(benchmark, textCol, k, maxGrams)
    charDecontaminateSpansPrepared(corpus, bg, idCol, textCol, k)
  }

  /** [[charDecontaminateSpans]] against an already-broadcast benchmark
    * gram set — the per-trigger entry point for the streaming twin. */
  def charDecontaminateSpansPrepared(corpus: DataFrame,
                                     benchGrams: org.apache.spark.broadcast.Broadcast[Array[Long]],
                                     idCol: String, textCol: String,
                                     k: Int = 25): DataFrame = {
    require(k >= 2, s"k must be at least 2, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    kernelParallel(corpus.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions { it =>
        val grams = benchGrams.value
        it.map { case (docId, text) =>
          if (text == null) (docId, 0L, 0L, "")
          else {
            val hs = graft.expr.TextHash.charKgramHashes60(text, k)
            val starts = scala.collection.mutable.ArrayBuilder.make[Long]
            var i = 0
            while (i < hs.length) {
              if (java.util.Arrays.binarySearch(grams, hs(i)) >= 0)
                starts += (i + 1).toLong
              i += 1
            }
            val nChars = graft.expr.TextHash.normalizedCodePointCount(text)
            val clean = graft.expr.TextHash.removeCharSpans(text, starts.result(), k)
            (docId, nChars,
              nChars - clean.codePointCount(0, clean.length), clean)
          }
        }
      }
      .toDF("doc_id", "n_chars", "n_removed", "clean_text")
  }

  /** The census aggregate over [[charContaminationPairs]] rows plus the
    * zero-fill join against the benchmark ids — shared by the batch
    * census and the streaming drain's view over its accumulated pair
    * log. Both inputs are benchmark/leak-sized; the corpus never
    * appears here. */
  def charCensusOf(pairs: DataFrame, benchmark: DataFrame,
                   benchIdCol: String): DataFrame = {
    val census = pairs.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_contaminated_docs"),
        sum(col("shared_windows")).as("shared_windows"),
        max(col("shared_windows")).as("max_shared_windows"))
    benchmark.select(col(benchIdCol).cast("long").as("bench_id")).distinct()
      .join(census, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_contaminated_docs"), lit(0L)).as("n_contaminated_docs"),
        coalesce(col("shared_windows"), lit(0L)).as("shared_windows"),
        coalesce(col("max_shared_windows"), lit(0L)).as("max_shared_windows"))
  }

  /** Join-back strategy for the span-dedup self-joins: SHUFFLE_HASH by
    * default — the post-filter winners side holds only DUPLICATE-CLASS
    * grams (n_occ >= 2), which on a mostly-novel corpus (the declared
    * 100 TB regime: distinct grams ≈ positions) is a small per-partition
    * build side, hash-uniform by construction (keys ARE hashes). The
    * hint's hash build does NOT spill: on a boilerplate-heavy corpus
    * (duplicate-class grams ≈ all grams) a partition's build side can
    * exceed executor memory where the AQE-chosen SMJ would have degraded
    * gracefully. GRAFT_SPAN_JOIN_NO_SHUFFLE_HASH=1 is the escape hatch
    * for that regime: it drops the hint and lets the planner/AQE choose
    * (sort-merge or broadcast), trading the in-stage build for a sort of
    * the probe stream. The A/B that picked SHUFFLE_HASH was measured at
    * ~10 % duplication (OPTIMIZATION_r20 §9). */
  private def winnersHinted(winners: DataFrame): DataFrame =
    if (sys.env.get("GRAFT_SPAN_JOIN_NO_SHUFFLE_HASH").contains("1")) winners
    else winners.hint("SHUFFLE_HASH")

  /** Per-doc 1-based start positions of every k-token window that is a
    * NON-first global occurrence of its k-gram — [[dedupSpans]]' cut
    * set, shared with [[duplicateRuns]]. ONE h-keyed exchange of the
    * positional gram stream serves both the winners aggregate and the
    * join-back probe (guide §2.4 "two operations keyed the same way
    * share one exchange"); the join is a same-stage shuffled-hash
    * self-join ([[winnersHinted]] documents the duplication-regime
    * assumption and the escape hatch). Output:
    * (doc_id, starts: array<bigint>).
    *
    * Duplication-regime note for the one-exchange shape (vs the retired
    * two-branch plan): the probe side must ship every position in ANY
    * shape, so the single full-volume exchange is never worse than the
    * old probe shuffle alone; what the regimes change is the SAVINGS.
    * Mostly-novel corpora (the 100 TB case) save a second full-volume
    * shuffle (the winners branch's partial agg collapsed nothing);
    * boilerplate-heavy corpora converge to ~1× (the old winners branch
    * shipped only ~distinct grams), still strictly ≤ the old total and
    * with the kernel running once instead of twice either way. */
  private def duplicateWindowStarts(docs: DataFrame, idCol: String,
                                    textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be at least 2, got $k")
    // kernelParallel: the positional-hash explode is the map-side CPU
    // wall (one md5 per token position) — spread a 1-2-split input
    // across the session's cores; zero shuffle at scale (Dedup
    // shingleHashSets rationale). The explicit isNotNull keeps the
    // filter below the exchange (a null-id doc never matched the
    // join-back anyway).
    //
    // The single .repartition(h) replaces the previous two-branch shape
    // (winners partial-agg shuffle + a separate full-volume probe
    // shuffle that AQE materialized even when it then broadcast the
    // winners). Both consumers need h-clustering, the probe side must
    // ship EVERY position regardless, and hashpartitioning(h) satisfies
    // the aggregate's and the join's distribution — so one exchange,
    // written once and read twice (AQE ReusedQueryStage; the exchange
    // is h-keyed, hence deterministic under retry), carries the whole
    // operator: the positional kernel runs ONCE (was twice — once per
    // branch), the winners-side map sort of the full gram stream is
    // gone, and no driver-built broadcast relation remains (d30's
    // profile showed a consistent ~1.5 s driver gap building it).
    val occ = kernelParallel(docs.filter(col(idCol).isNotNull))
      .select(col(idCol).as("doc_id"),
        posexplode(graft.expr.hfunctions.kgram_hashes60(col(textCol), k))
          .as(Seq("i0", "h")))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("pos"), col("h"))
      .repartition(col("h"))
    // keep only multi-occurrence grams on the join-back side (count
    // carried in the same aggregate — zero extra shuffle): unique grams
    // cannot cut. Post-filter the per-partition winners side is small
    // (duplicate-class grams only) and hash-uniform by construction
    // (keys ARE hashes), so the SHUFFLE_HASH hint builds the in-stage
    // hash table from it without sorting the probe stream — and without
    // the 8 GB broadcast cap a static broadcast would reimpose at scale.
    val winners = occ.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2).select(col("h"), col("w"))
    occ.join(winnersHinted(winners), Seq("h"))
      .filter(!(col("doc_id") === col("w.doc_id") && col("pos") === col("w.pos")))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("starts"))
  }

  /** Variable-length exact-substring duplicate RUNS (extends
    * [[dedupSpans]] from detection to measurement): seed-and-extend —
    * overlapping/adjacent fixed-k duplicate windows fuse into maximal
    * runs (the contiguous segments of the cover mask dedupSpans cuts
    * by), so reported extents are TRUE duplicated-span lengths ≥ k
    * rather than k-gram window counts. A shared m-token run (m ≥ k)
    * yields m−k+1 duplicate windows that merge back into one
    * (start, start+m−1) row. Output: (doc_id, run_start, run_end,
    * run_len), inclusive 1-based token positions, one row per maximal
    * run; docs without duplicated spans emit nothing.
    *
    * Scale shape: identical to [[dedupSpans]] through the winner
    * aggregate and join-back; the merge is one compiled pass per doc
    * over its collected starts ([[graft.expr.MergeWindowRuns]]) — no
    * window functions, no additional shuffle. */
  def duplicateRuns(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 8): DataFrame =
    duplicateWindowStarts(docs, idCol, textCol, k)
      .select(col("doc_id"),
        explode(graft.expr.hfunctions.merge_window_runs(col("starts"), k)).as("run"))
      .select(col("doc_id"),
        col("run.start").as("run_start"),
        col("run.end").as("run_end"),
        (col("run.end") - col("run.start") + 1).as("run_len"))

  /** Document NOVELTY score: the fraction of a document's k-token
    * windows that are GLOBALLY-FIRST occurrences of their k-gram
    * (lexicographic (doc_id, pos) order — [[dedupSpans]]' keep-first
    * rule, read as a per-doc metric instead of a cut). ~1.0 = original
    * content; ~0.0 = the document restates earlier corpus text. The
    * doc-level duplication signal quality filters threshold on. Output:
    * (doc_id, n_windows, n_novel, novelty); docs with fewer than k
    * tokens have no windows and no row.
    *
    * Cheaper than [[dedupSpans]]: per-doc novel counts come straight
    * off the winner aggregate (winners carry their (doc, pos)), so the
    * plan is the one groupBy(h) min-struct aggregate plus two uniform
    * doc_id aggregations — NO join back on h at all. The gram stream
    * has exactly ONE consumer: per-doc window totals are tokenization
    * arithmetic (windows = max(tokens - k + 1, 0); TextHash.tokens ≡
    * split(trim(text), "\s+") by construction), so they come off a
    * plain column pass over docs instead of a second kernel+posexplode
    * pass over the positional stream (the old fork ran the
    * md5-per-position kernel once per consumer). */
  def noveltyScores(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 8): DataFrame = {
    require(k >= 2, s"k must be at least 2, got $k")
    // kernelParallel: md5-per-position map wall (see duplicateWindowStarts)
    val occ = kernelParallel(docs).select(col(idCol).as("doc_id"),
        posexplode(graft.expr.hfunctions.kgram_hashes60(col(textCol), k))
          .as(Seq("i0", "h")))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("pos"), col("h"))
    val novel = occ.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
      .groupBy(col("w.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    // the kernel's window count, replayed without the kernel. The when()
    // guard covers only empty/SPACE-only text (trim strips spaces, not
    // tabs): there split would report 1 token where the kernel sees 0.
    // Non-space whitespace (e.g. "\t") passes the guard and tokenizes to
    // EMPTY tokens on both paths (nTok = 2 here AND in TextHash.tokens),
    // which is the invariant that keeps this arithmetic equal to the
    // kernel's window count — do not "fix" the guard to catch it. Short
    // docs clamp to 0 windows and are dropped exactly like their empty
    // gram arrays; duplicate ids sum, matching the per-id position count
    val nTok = when(length(trim(col(textCol))) === 0, lit(0))
      .otherwise(size(split(trim(col(textCol)), "\\s+")))
    docs.select(col(idCol).as("doc_id"),
        greatest(nTok - lit(k - 1), lit(0)).cast("long").as("wc"))
      .filter(col("wc") > 0)
      .groupBy(col("doc_id")).agg(sum(col("wc")).as("n_windows"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty", col("n_novel").cast("double") / col("n_windows"))
  }

  /** Near-duplicate PRUNING — the end-to-end "drop the duplicates, keep
    * the best" curation step, composing the engine's own primitives:
    * LSH-verified Jaccard pairs ([[minhashLshPairs]]) → connected
    * components ([[Relational.connectedComponents]], pointer-jumping
    * min-label propagation) → ONE representative per near-dup cluster.
    * The representative is the cluster's longest document (ties break
    * toward the smaller id — deterministic on any engine); documents in
    * no cluster keep themselves. Output: the KEPT documents as
    * (doc_id, grp, cluster_size), grp = the cluster label (the
    * component's smallest member id) or the doc's own id for singletons.
    *
    * Scale shape: the corpus is scanned once for pairs (the LSH path's
    * banded self-join is the only corpus-sized shuffle); components run
    * over the PAIR set (duplicates only — a small fraction of a real
    * corpus); the label join back to the corpus is a broadcast-sized
    * right side, and representative selection is a per-cluster `max_by`
    * hash aggregate, never a window sort. */
  def nearDupPrune(docs: DataFrame, idCol: String, textCol: String,
                   bands: Int = 0, rowsPerBand: Int = 0, n: Int = 3,
                   threshold: Double = 0.5): DataFrame = {
    val pairs = minhashLshPairs(docs, idCol, textCol, bands, rowsPerBand, n, threshold)
    val clusters = Relational.connectedComponents(pairs.select("a_id", "b_id"))
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      length(col(textCol)).cast("long").as("_len"))
    val labeled = base.join(
      clusters.select(col("node").as("doc_id"), col("cluster"), col("cluster_size")),
      Seq("doc_id"), "left")
    val reps = labeled.filter(col("cluster").isNotNull)
      .groupBy(col("cluster").as("grp"))
      .agg(max_by(struct(col("doc_id"), col("cluster_size")),
        struct(col("_len"), -col("doc_id"))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("grp"),
        col("r.cluster_size").as("cluster_size"))
    val singles = labeled.filter(col("cluster").isNull)
      .select(col("doc_id"), col("doc_id").as("grp"), lit(1L).as("cluster_size"))
    singles.unionByName(reps)
  }

  /** INCREMENTAL near-dup admission — the "new crawl increment against
    * an already-deduplicated corpus" gate, the batch twin of the
    * streaming keep-first family: a batch document is rejected if any
    * CORPUS document, or any EARLIER-id BATCH document, is an
    * LSH-verified near-duplicate (n-gram Jaccard ≥ threshold). The
    * earlier-id rule is fate-independent (a batch doc rejected for a
    * corpus dup still blocks its own later near-dups), matching the
    * seen-set convention of the streaming gates — admission is
    * decidable per pair, never sequential. Output, one row per batch
    * doc: (doc_id, n_corpus_dups, n_batch_dups, best_jaccard, kept).
    *
    * Scale shape — the whole point vs re-running [[nearDupPrune]] on
    * corpus ∪ batch: NOTHING corpus-sized is ever paired with itself.
    * Corpus docs contribute signatures and band keys once (in
    * production both persist with the corpus, bucketed by band key /
    * doc id, so an increment shuffles only batch-sized data into the
    * candidate join and the set-verify join is co-located); candidates
    * are batch×corpus band collisions plus the batch's internal
    * band-key self-join (increment-sized). Corpus×corpus pairs — the
    * quadratic term that already paid its cost when the corpus was
    * built — are never generated. */
  def incrementalNearDup(corpus: DataFrame, batch: DataFrame,
                         idCol: String, textCol: String,
                         bands: Int = 0, rowsPerBand: Int = 0, n: Int = 3,
                         threshold: Double = 0.5,
                         maxBandDf: Option[Int] = None): DataFrame = {
    require((bands > 0) == (rowsPerBand > 0),
      "pass both bands and rowsPerBand, or neither (auto-derive from threshold)")
    val (nBands, nRows) =
      if (bands > 0) (bands, rowsPerBand) else minhashConfigFor(threshold)
    val k = nBands * nRows
    val cSigs = minhashSignatures(corpus, idCol, textCol, k, n)
    // maxBandDf: the hot-band valve (the [[jaccardPairs]] maxDf /
    // simhash maxBucket analog) — a band key shared by more than `cap`
    // CORPUS docs (boilerplate-identical clusters) would fan every
    // colliding batch doc out to the whole cluster; dropping it bounds
    // per-key candidate volume at cap × batch collisions. Recall on a
    // capped pair survives through its other bands, exactly the
    // df-cap recall argument; a cluster identical in EVERY band is
    // deliberately waved through — document, don't melt. In production
    // the band-frequency table persists beside the band table itself
    // ([[buildNearDupIndex]] does exactly that).
    val cBandAll = bandKeys(cSigs, nBands, nRows)
    val bandDf = cBandAll.groupBy("band_key").agg(count(lit(1)).as("df"))
    admissionCore(cSigs, cBandAll, bandDf, batch, idCol, textCol,
      nBands, nRows, n, threshold, maxBandDf)
  }

  /** The shared admission join of [[incrementalNearDup]] and
    * [[admitWithIndex]]: corpus signatures + band keys + band-frequency
    * table in, per-batch-doc admission verdicts out. The corpus side
    * arrives AS RELATIONS (live-computed or index-read) — nothing here
    * ever pairs the corpus with itself.
    *
    * Corpus sides are BROADCAST-PRUNED (the [[fuzzyContamination]]
    * benchmark-broadcast shape, increment-side this time): the
    * increment's distinct band-key set gates the corpus band table, and
    * the candidate `o_id` set gates the corpus signature table — both
    * sets are increment-bounded, so on an unbucketed layout the corpus
    * relations stream through map-side semi-joins instead of shuffling
    * corpus-sized data per increment. Contract (same as
    * fuzzyContamination's benchmark side): the increment is small next
    * to the corpus — its band-key set must fit in a broadcast. At
    * warehouse scale the persisted layout additionally buckets `bands`
    * by band_key and `sigs` by doc_id so the residual joins co-locate. */
  private def admissionCore(cSigs: DataFrame, cBandAll: DataFrame,
                            bandDf: DataFrame, batch: DataFrame,
                            idCol: String, textCol: String,
                            nBands: Int, nRows: Int, n: Int,
                            threshold: Double,
                            maxBandDf: Option[Int]): DataFrame = {
    requireIntegralId(batch, idCol, "admission")
    val k = nBands * nRows
    val bSigs = minhashSignatures(batch, idCol, textCol, k, n)
    val cBand = maxBandDf match {
      case None => cBandAll
      case Some(cap) =>
        require(cap > 0, s"maxBandDf must be positive, got $cap")
        cBandAll.join(
          bandDf.groupBy("band_key").agg(sum(col("df")).as("_df"))
            .filter(col("_df") > cap).select("band_key"),
          Seq("band_key"), "left_anti")
    }
    val bBand = bandKeys(bSigs, nBands, nRows)

    // increment-bounded broadcast filter #1: only corpus bands whose key
    // appears in the increment can produce a candidate
    val cBandPruned = cBand.join(
      broadcast(bBand.select("band_key").distinct()), Seq("band_key"), "left_semi")

    val vsCorpus = bBand.select(col("doc_id").as("b_id"), col("band_key"))
      .join(cBandPruned.select(col("doc_id").as("o_id"), col("band_key")), Seq("band_key"))
      .select("b_id", "o_id").distinct()
    val vsBatch = bBand.select(col("doc_id").as("b_id"), col("band_key"))
      .join(bBand.select(col("doc_id").as("o_id"), col("band_key")), Seq("band_key"))
      .filter(col("o_id") < col("b_id"))
      .select("b_id", "o_id").distinct()

    // exact verification per candidate: intersect the full shingle-hash
    // sets in place (the minhashLshPairs shape — no second explode)
    def verified(cand: DataFrame, otherSets: DataFrame): DataFrame =
      cand
        .join(bSigs.select(col("doc_id").as("b_id"), col("hs").as("b_hs")), Seq("b_id"))
        .join(otherSets, Seq("o_id"))
        .withColumn("inter", size(array_intersect(col("b_hs"), col("o_hs"))).cast("long"))
        .withColumn("uni", (size(col("b_hs")) + size(col("o_hs"))).cast("long") - col("inter"))
        .withColumn("jaccard", col("inter").cast("double") / col("uni"))
        .filter(col("jaccard") >= threshold)
        .select("b_id", "o_id", "jaccard")

    // increment-bounded broadcast filter #2: only corpus docs that are
    // candidates need their shingle sets read for the exact verify
    val corpusSets = cSigs.select(col("doc_id").as("o_id"), col("hs").as("o_hs"))
      .join(broadcast(vsCorpus.select("o_id").distinct()), Seq("o_id"), "left_semi")
    val corpusHits = verified(vsCorpus, corpusSets)
      .withColumn("vs_corpus", lit(true))
    val batchHits = verified(vsBatch,
      bSigs.select(col("doc_id").as("o_id"), col("hs").as("o_hs")))
      .withColumn("vs_corpus", lit(false))

    val agg = corpusHits.unionByName(batchHits)
      .groupBy(col("b_id"))
      .agg(
        sum(when(col("vs_corpus"), lit(1L)).otherwise(lit(0L))).as("n_corpus_dups"),
        sum(when(col("vs_corpus"), lit(0L)).otherwise(lit(1L))).as("n_batch_dups"),
        max(col("jaccard")).as("best_jaccard"))

    batch.select(col(idCol).cast("long").as("doc_id"))
      .join(agg.withColumnRenamed("b_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_corpus_dups"), lit(0L)).as("n_corpus_dups"),
        coalesce(col("n_batch_dups"), lit(0L)).as("n_batch_dups"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"))
      .withColumn("kept",
        when(col("n_corpus_dups") === 0L && col("n_batch_dups") === 0L, lit(1L))
          .otherwise(lit(0L)))
  }

  /** Build a PERSISTED near-dup admission index for `corpus` — the
    * production form of [[incrementalNearDup]]'s corpus side, the
    * Jaccard twin of [[Similarity.buildIvfIndex]]. Layout under `dir`:
    *   - `sigs/`   (doc_id, hs, sig): shingle-hash sets + minhash
    *     signatures — the exact-verify side;
    *   - `bands/`  (doc_id, band_key): the LSH candidate side;
    *   - `banddf/` (band_key, df): band-frequency deltas — the
    *     [[incrementalNearDup]] maxBandDf valve's source, so capping
    *     never rescans the corpus;
    *   - `MANIFEST` (atomic write): the (bands, rowsPerBand, n,
    *     threshold) the index was built with — admissions always use
    *     the built config; a mismatched re-derivation would silently
    *     compare incompatible signatures — then one `table\tschema` line
    *     per table, its read schema (JSON), so every read of the index
    *     resolves with no footer-inference job.
    * Each crawl increment then shuffles only increment-sized data
    * ([[admitWithIndex]]), and admitted docs append without a rebuild
    * ([[appendToNearDupIndex]]). At warehouse scale `sigs` buckets by
    * doc_id and `bands` by band_key so the admission joins co-locate;
    * here the layout is plain parquet with the same join keys. */
  def buildNearDupIndex(corpus: DataFrame, dir: String,
                        idCol: String, textCol: String,
                        bands: Int = 0, rowsPerBand: Int = 0, n: Int = 3,
                        threshold: Double = 0.5): Unit = {
    require((bands > 0) == (rowsPerBand > 0),
      "pass both bands and rowsPerBand, or neither (auto-derive from threshold)")
    requireIntegralId(corpus, idCol, "buildNearDupIndex")
    val (nBands, nRows) =
      if (bands > 0) (bands, rowsPerBand) else minhashConfigFor(threshold)
    // persisted layouts are uniformly BIGINT: an int-id build followed by
    // a long-id append (or vice versa) must not mix parquet schemas
    val sigs = minhashSignatures(
      corpus.withColumn(idCol, col(idCol).cast("long")), idCol, textCol, nBands * nRows, n)
    // each table is read back through the schema it was written with:
    // sigs/ is the materialization boundary — the band explode and df
    // aggregate must not re-run the shingle scan
    val spark = corpus.sparkSession
    def persist(name: String, df: DataFrame): (DataFrame, String) = {
      df.write.mode("overwrite").parquet(s"$dir/$name")
      val schema = graft.streaming.IndexState.readSchema(df.schema).json
      (graft.streaming.IndexState.readParquet(spark, schema, s"$dir/$name"), s"$name\t$schema")
    }
    val (persisted, sigsLine) = persist("sigs", sigs)
    val (bandTable, bandsLine) = persist("bands", bandKeys(persisted, nBands, nRows))
    val (_, banddfLine) = persist("banddf", bandTable.groupBy("band_key").agg(count(lit(1)).as("df")))
    graft.streaming.IndexState.atomicWriteString(
      java.nio.file.Paths.get(dir, "MANIFEST"),
      Seq(s"$nBands\t$nRows\t$n\t$threshold", sigsLine, bandsLine, banddfLine).mkString("\n"))
  }

  /** The MANIFEST's build config and its table → read schema lines. */
  private def readNearDupManifest(dir: String): ((Int, Int, Int, Double), Map[String, String]) = {
    val conf +: tables = java.nio.file.Files
      .readString(java.nio.file.Paths.get(dir, "MANIFEST")).trim.split("\n").toSeq
    val Array(b, r, n, t) = conf.split("\t")
    ((b.toInt, r.toInt, n.toInt, t.toDouble),
      tables.map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap)
  }

  /** The index's `sigs`, `bands` and `banddf` tables, read through the
    * schemas its MANIFEST records, and its build config. */
  private[graft] def openNearDupIndex(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (Seq[DataFrame], (Int, Int, Int, Double)) = {
    val (conf, schemas) = readNearDupManifest(dir)
    (Seq("sigs", "bands", "banddf").map(t =>
      graft.streaming.IndexState.readParquet(spark, schemas(t), s"$dir/$t")), conf)
  }

  /** Admit a crawl increment against a [[buildNearDupIndex]] index:
    * same verdicts as [[incrementalNearDup]] over the indexed corpus
    * (one row per batch doc — n_corpus_dups, n_batch_dups,
    * best_jaccard, kept), but the corpus side is READ, not recomputed:
    * the increment's signatures shuffle against the persisted band and
    * signature tables, so admission cost scales with the increment,
    * never the corpus. Config comes from the index MANIFEST. */
  def admitWithIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                     batch: DataFrame, idCol: String, textCol: String,
                     maxBandDf: Option[Int] = None): DataFrame = {
    val (Seq(sigs, bands, banddf), (nBands, nRows, n, threshold)) = openNearDupIndex(spark, dir)
    admissionCore(sigs, bands, banddf,
      batch, idCol, textCol, nBands, nRows, n, threshold, maxBandDf)
  }

  /** Append documents (the ADMITTED slice of an increment — the caller
    * filters on `kept`) to a persisted near-dup index: signatures, band
    * keys, and band-frequency DELTAS all append; no existing file is
    * rewritten, so append cost ∝ the admitted slice ([[admitWithIndex]]
    * folds the df deltas by summing per band key). The next increment
    * then sees corpus ∪ admitted — the seen-set convention of the
    * streaming keep-first gates, batch-shaped. Same single-maintainer
    * contract as [[Similarity.appendToIvfIndex]]. */
  def appendToNearDupIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                           docs: DataFrame, idCol: String, textCol: String): Unit = {
    requireIntegralId(docs, idCol, "appendToNearDupIndex")
    val ((nBands, nRows, n, _), _) = readNearDupManifest(dir)
    // same BIGINT normalization as buildNearDupIndex — appended files must
    // match the built files' schema exactly
    val docsL = docs.withColumn(idCol, col(idCol).cast("long"))
    // compute the slice's signatures ONCE: cache the increment-sized
    // frame so the sigs write, the band explode, and the df aggregate
    // all reuse one shingle scan — never a re-read of the whole sigs/
    // table (that semi-join re-derivation was a full-index scan per
    // append) and never a second scan of the raw docs
    val sigs = minhashSignatures(docsL, idCol, textCol, nBands * nRows, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      sigs.write.mode("append").parquet(s"$dir/sigs")
      val newBands = bandKeys(sigs, nBands, nRows)
      newBands.write.mode("append").parquet(s"$dir/bands")
      newBands.groupBy("band_key").agg(count(lit(1)).as("df"))
        .write.mode("append").parquet(s"$dir/banddf")
    } finally sigs.unpersist()
  }

  /** SimHash fingerprint (bits-wide, default 60 — the full width of the
    * md5-derived token hash): per token (with multiplicity), hash to
    * `bits` bits; fingerprint bit j is 1 iff the sum of ±1 votes over
    * tokens is positive. One compiled pass per doc
    * ([[graft.expr.SimHash]]) — no shuffle. Widths above 60 waste bits:
    * [[graft.expr.TextHash.hash60]] only populates the low 60, so bits
    * 60..63 would vote uniformly negative and band slices over them
    * would be degenerate all-zero keys. */
  def simhash(text: Column, bits: Int = 60): Column = {
    require(bits >= 1 && bits <= 60, s"simhash width must be in [1, 60], got $bits")
    graft.expr.hfunctions.simhash_c(text, bits)
  }

  /** Derive a scale-safe (bits, bands) pair for [[simhashPairs]] from the
    * Hamming radius. Pigeonhole recall needs bands > maxHamming; every
    * EXTRA band only widens the candidate filter (expected candidate
    * pairs ≈ bands·n²/2^(bits/bands) on near-uniform fingerprints), so
    * the minimum bands = maxHamming + 1 is optimal. Bits is the largest
    * multiple of bands ≤ 60 (the token-hash width), maximizing the slice
    * width w = bits/bands — each extra bit of w halves candidate volume.
    * maxHamming 3 → (60, 4): 15-bit keys, n²/2^15 expected candidates
    * per band, vs n²/2^8 under the old 32-bit default. */
  def simhashConfigFor(maxHamming: Int): (Int, Int) = {
    require(maxHamming >= 0 && maxHamming < 60, s"maxHamming in [0, 60), got $maxHamming")
    val bands = maxHamming + 1
    val bits = (60 / bands) * bands
    (bits, bands)
  }

  /** SimHash near-duplicate pairs: candidates share one of `bands` bit
    * slices of the fingerprint; verification is the exact Hamming
    * distance. With `maxHamming < bands` the PIGEONHOLE principle makes
    * recall exactly 1.0 — a pair within the Hamming ball cannot differ in
    * every band — so unlike the MinHash/SRP paths this one has no recall
    * probability at all; the bands are purely a candidate filter.
    * Each surviving pair is kept only in its FIRST matching band (a flat
    * when-chain over the XOR's band slices — no distinct), and the only
    * shuffle is the (band, key) self-join on 8-byte keys. Output:
    * (a_id, b_id, hamming).
    *
    * Scale note: candidate volume is ≈ bands·n²/2^w for slice width
    * w = bits/bands on near-uniform fingerprints, so w IS the primary
    * scale knob. Pass (0, 0) — the default — to derive the band layout
    * from `maxHamming` via [[simhashConfigFor]] (the
    * [[minhashLshPairs]] convention): maxHamming 3 → (60, 4), 15-bit
    * keys, n²/32768 expected candidates per band. A 32-bit/4-band
    * config (8-bit keys, n²/256) goes quadratic at corpus scale and must
    * never be a default. On a CORRELATED corpus (templated/boilerplate
    * text) fingerprints cluster and heavy band buckets can still go
    * quadratic regardless of w; `maxBucket` is the safety valve for that
    * case — (band, key) buckets holding more than `maxBucket` fingerprints
    * are dropped from candidate generation entirely (deterministic,
    * df-cap-style semantics, like `jaccardPairs(maxDf)`). A pair is lost
    * only if EVERY band it agrees on is over the cap, so the pigeonhole
    * guarantee degrades gracefully rather than exactly; leave it None
    * (the default) when exact recall matters more than bounded work. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   bits: Int = 0, bands: Int = 0, maxHamming: Int = 3,
                   maxBucket: Option[Int] = None): DataFrame = {
    require((bits > 0) == (bands > 0),
      "pass both bits and bands, or neither (auto-derive from maxHamming)")
    val (nBits, nBands) =
      if (bits > 0) (bits, bands) else simhashConfigFor(maxHamming)
    simhashPairsWith(docs, idCol, textCol, nBits, nBands, maxHamming, maxBucket)
  }

  private def simhashPairsWith(docs: DataFrame, idCol: String, textCol: String,
                               bits: Int, bands: Int, maxHamming: Int,
                               maxBucket: Option[Int]): DataFrame = {
    val fp = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"), simhash(col(textCol), bits).as("sh"))
    hammingPairs(fp, "doc_id", "sh", bits, bands, maxHamming, maxBucket)
  }

  /** Pigeonhole Hamming pair search over ANY fingerprint column — the
    * banding core of [[simhashPairs]], public so other fingerprint
    * families (perceptual image aHash, audio contour prints) reuse it:
    * with `bands > maxHamming` band slices, any pair within the Hamming
    * ball shares at least one intact band (recall 1.0 by construction,
    * not probability). Works on the full 64-bit width — the arithmetic
    * shift's sign extension dies under the slice mask. */
  def hammingPairs(fps: DataFrame, idCol: String, fpCol: String,
                   bits: Int, bands: Int, maxHamming: Int,
                   maxBucket: Option[Int] = None): DataFrame = {
    require(bits % bands == 0, s"bands ($bands) must divide bits ($bits)")
    require(maxHamming < bands,
      s"pigeonhole recall guarantee needs maxHamming ($maxHamming) < bands ($bands)")
    require(maxBucket.forall(_ >= 2), s"maxBucket must be >= 2, got $maxBucket")
    val w = bits / bands
    val mask = if (w == 64) lit(-1L) else lit((1L << w) - 1)
    def slice(c: Column, b: Int): Column = shiftright(c, b * w).bitwiseAND(mask)

    val fp = fps.select(col(idCol).as("doc_id"), col(fpCol).as("sh"))
    val banded = fp.select(col("doc_id"), col("sh"), explode(array(
        (0 until bands).map(b =>
          struct(lit(b).as("band"), slice(col("sh"), b).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("sh"), col("bk.band").as("band"), col("bk.key").as("key"))

    val candidates = maxBucket match {
      case None =>
        // exact mode: dedup each pair to its FIRST matching band with a
        // flat when-chain over the XOR's slices — no distinct needed
        val l = banded.select(col("band"), col("key"), col("doc_id").as("a_id"), col("sh").as("a_sh"))
        val r = banded.select(col("band"), col("key"), col("doc_id").as("b_id"), col("sh").as("b_sh"))
        val x = col("a_sh").bitwiseXOR(col("b_sh"))
        val firstEqBand = (0 until bands).foldRight(lit(-1).cast("int")) { (b, rest) =>
          when(slice(x, b) === 0, lit(b)).otherwise(rest)
        }
        l.join(r, Seq("band", "key"))
          .filter(col("a_id") < col("b_id"))
          .filter(col("band") === firstEqBand)
      case Some(cap) =>
        // capped mode: drop over-cap buckets before the self-join (the
        // count agg and the join shuffle on the same (band, key), so the
        // exchange is reused). First-eq-band dedup is unsound here — the
        // first matching band may be a dropped bucket — so dedup by
        // (a_id, b_id) instead; hamming is deterministic per pair.
        val kept = banded.join(
          banded.groupBy(col("band"), col("key")).count()
            .filter(col("count") <= cap).drop("count"),
          Seq("band", "key"))
        val l = kept.select(col("band"), col("key"), col("doc_id").as("a_id"), col("sh").as("a_sh"))
        val r = kept.select(col("band"), col("key"), col("doc_id").as("b_id"), col("sh").as("b_sh"))
        l.join(r, Seq("band", "key"))
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"), col("a_sh"), col("b_sh")).distinct()
    }
    candidates
      .withColumn("hamming", expr("bit_count(a_sh ^ b_sh)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
      // exchange-isolate the band self-join from a downstream global sort
      // (see containmentPairs): survivors ≪ candidates, near-free shuffle
      .repartition(col("a_id"), col("b_id"))
  }
}
