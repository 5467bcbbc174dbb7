package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.streaming.IndexState

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and a sign-random-
  * projection (SRP) LSH variant as the scale path.
  *
  * Embeddings are quantized to integers (`round(x*1000)`) before any
  * arithmetic:
  *  - at scale this is what you do anyway (int8/int16 quantization cuts
  *    memory bandwidth 4-8×, the usual ANN bottleneck);
  *  - integer dot products are EXACT, so scores are deterministic and
  *    bit-identical across engines (float accumulation order stops
  *    mattering).
  *
  * The SRP hyperplanes are derived from md5 (not RNG state), so bucketing
  * is reproducible across runs, engines, and cluster sizes.
  *
  * Scale notes: brute-force is a broadcast of the (small) query set
  * against the (huge) corpus — one scan, no shuffle of the corpus. The
  * SRP path buckets the corpus once (narrow), then joins query buckets to
  * corpus buckets — the candidate join is the only shuffle and it is keyed
  * on the 8-bit bucket, so AQE can handle bucket skew.
  */
object Similarity {

  /** array<float> → array<long>, x → round(x*1000) (exact in both engines:
    * float→double is exact, ×1000 exact, round is half-away-from-zero). */
  def quantize(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1000).cast("long"))

  /** exact integer dot product of two quantized vectors — a custom
    * codegen'd Catalyst expression (single loop, no intermediate array;
    * see [[graft.expr.LongDotProduct]]) */
  def dotq(a: Column, b: Column): Column = graft.expr.hfunctions.long_dot(a, b)

  def normq(a: Column): Column = dotq(a, a)

  /** cosine similarity from exact integer dot/norms — one double division,
    * deterministic */
  def cosineq(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na === 0 || nb === 0, 0.0)
      .otherwise(dotq(a, b).cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double"))))

  /** Corpus prepared once: quantized vector + its norm. */
  def prep(embeddings: DataFrame, idCol: String, vecCol: String): DataFrame =
    embeddings.select(col(idCol).as("vec_id"), quantize(col(vecCol)).as("q"))
      .withColumn("nq", normq(col("q")))

  /** Brute-force cosine top-k for each query vector. `queries` and corpus
    * in prep() shape. Query side is broadcast — the corpus is scanned
    * once, never shuffled — and the per-query top-k is a bounded-heap
    * PARTIAL aggregate ([[graft.expr.TopKByScore]]): each task keeps ≤ k
    * candidates per query, so the exchange carries ≤ queries×k×tasks rows
    * instead of the full |corpus|×|queries| scored set that a
    * `row_number over (partition by q_id)` window would shuffle. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), col("q").as("q_vec"), col("nq").as("q_nq"))
    val scored = corpus.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", cosineq(col("q"), col("q_vec"), col("nq"), col("q_nq")))
    topK(scored, k)
  }

  /** MIPS — maximum-inner-product top-k: the retrieval mode for
    * UNNORMALIZED embeddings (matrix-factorization recommenders,
    * popularity-scaled encoders), where cosine's normalization would
    * erase the magnitude signal the model put there. Same broadcast-
    * query / bounded-heap shape as [[bruteForceTopK]]; the score is the
    * EXACT integer dot (≤ dim·(1000·|x|max)² — far under 2⁵³ for
    * unit-scale embeddings, so its double image is exact and engine-
    * portable). Output: (q_id, n_id, sim = dot, rk). */
  def mipsTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), col("q").as("q_vec"))
    val scored = corpus.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", dotq(col("q"), col("q_vec")).cast("double"))
    topK(scored, k)
  }

  /** Deterministic integer hyperplane coefficient for (plane, dim):
    * md5-derived value in [-1000, 1000]. */
  def planeCoef(plane: Column, dim: Column): Column =
    pmod(Dedup.hash60(concat(plane.cast("string"), lit("_"), dim.cast("string"))), lit(2001L)) - 1000L

  /** SRP bucket id: `planes` sign bits of integer dot products with the
    * deterministic hyperplanes. Exact integer math → portable. The
    * higher-order-function formulation (kept as the `dim`-agnostic
    * fallback) evaluates one md5 per (plane, dim) PER ROW; when `dim` is
    * known, [[srpBucketFast]] folds the coefficients into literal arrays
    * at plan time — one compiled `long_dot` per plane. */
  def srpBucket(q: Column, planes: Int = 8): Column = {
    val bits = (0 until planes).map { p =>
      val dot = aggregate(
        zip_with(q, sequence(lit(0), size(q) - 1), (x, d) => x * planeCoef(lit(p), d)),
        lit(0L), (acc, v) => acc + v)
      when(dot > 0, lit(1L << p)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Value-identical to [[srpBucket]] with driver-side coefficients: one
    * band of `planes` sign bits through the compiled [[graft.expr.SrpCodes]]
    * kernel (one pass; the child — quantize — evaluates once). */
  def srpBucketFast(q: Column, planes: Int, dim: Int): Column =
    element_at(graft.expr.hfunctions.srp_codes(q,
      Array.tabulate(planes)(p => planeCoefs(p, dim).toArray), planes), 1)

  /** Shared re-rank: exact top-k per query via the bounded-heap partial
    * aggregate ([[graft.expr.TopKByScore]]) — map-side partials, no
    * window exchange of the full scored set. Ordering: sim desc, id asc. */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("q_id"))
      .agg(graft.expr.hfunctions.topk_by(col("sim"), col("vec_id"), k).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.n_id").as("n_id"), col("t.sim").as("sim"), col("t.rk").as("rk"))

  /** ANN via SRP-LSH: candidates share the query's bucket; exact re-rank
    * inside the bucket; top-k per query (may return fewer than k — the
    * recall/cost tradeoff is the point of the operator). `dim` sizes the
    * compiled hyperplane arrays at plan time. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int = 8,
              dim: Int = 64): DataFrame = {
    val bc = corpus.withColumn("bucket", srpBucketFast(col("q"), planes, dim))
    val bq = queries.withColumn("bucket", srpBucketFast(col("q"), planes, dim))
      .select(col("vec_id").as("q_id"), col("q").as("q_vec"), col("nq").as("q_nq"), col("bucket"))
    val scored = bc.join(broadcast(bq), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", cosineq(col("q"), col("q_vec"), col("nq"), col("q_nq")))
    topK(scored, k)
  }

  /** k-NN GRAPH build — every vector's top-k cosine neighbors within the
    * corpus itself: the substrate of SemDeDup-style cluster pruning,
    * graph-based diversity sampling, and label propagation over
    * embeddings. Brute force is O(n²) and dies first at scale; this is
    * the standard IVF-bounded build: train the coarse codebook once,
    * assign every vector MAP-ONLY (codebook inlined as plan literals,
    * [[centroidBest]]), and confine pairwise work to same-cell pairs via
    * ONE c_id-keyed self-join — expected pair count n²/nCentroids, so
    * nCentroids ~ √n (caller-chosen) bounds each cell's quadratic term
    * to O(n). Exact integer-quantized cosine re-rank inside the cell;
    * top-k per node through the bounded-heap aggregate (no window over
    * the scored set). Same-cell confinement is the recall/cost tradeoff
    * (boundary neighbors in adjacent cells are missed — the a03 nProbe
    * story applied to graph building). Output: (q_id, n_id, sim, rk). */
  def knnGraph(corpus: DataFrame, k: Int, nCentroids: Int = 8,
               iters: Int = 2): DataFrame = {
    val cents = trainCentroids(corpus, nCentroids, iters)
    val assigned = corpus.withColumn("c_id",
      centroidBest(cents, col("q"), col("nq")))
    val b = assigned.select(col("vec_id").as("q_id"), col("q").as("q_vec"),
      col("nq").as("q_nq"), col("c_id"))
    val scored = assigned.join(b, Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", cosineq(col("q"), col("q_vec"), col("nq"), col("q_nq")))
    topK(scored, k)
  }

  /** A trained codebook small enough to live in the plan: centroid id,
    * quantized vector, integer norm. */
  case class Centroid(cId: Long, vec: Seq[Long], nq: Long)

  /** Nearest-centroid assignment as a SHUFFLE-FREE projection: the
    * codebook is driver-small by definition (k × dim longs), so each
    * centroid's dot product compiles against a LITERAL coefficient array
    * (the [[planeCoefs]] pattern) and the per-row argmax is one
    * `array_sort` over k structs — no cross join, no window exchange of
    * n×k rows, ties toward the smaller centroid id. The corpus scan is
    * the whole cost, which is what survives 100 TB. */
  /** Centroids ranked by exact-integer cosine against (qCol, nqCol) as a
    * pure EXPRESSION — best-first array of (sim, -c_id, c_id) structs, so
    * assignment/probing is a map-only projection with the codebook
    * inlined as literals (no join, no shuffle). Ties break toward the
    * smaller centroid id via the -c_id struct field. */
  private def centroidEntries(cents: Seq[Centroid], qCol: Column, nqCol: Column): Seq[Column] =
    cents.map { c =>
      val sim =
        if (c.nq == 0L) lit(0.0)
        else when(nqCol === 0, 0.0).otherwise(
          graft.expr.hfunctions.long_dot(qCol, typedLit(c.vec)).cast("double") /
            (sqrt(nqCol.cast("double")) * math.sqrt(c.nq.toDouble)))
      // struct order (sim, -c_id): max = best sim, then smallest id
      struct(sim.as("s"), lit(-c.cId).as("nc"), lit(c.cId).as("c_id"))
    }

  private def centroidRank(cents: Seq[Centroid], qCol: Column, nqCol: Column): Column =
    reverse(array_sort(array(centroidEntries(cents, qCol, nqCol): _*)))

  /** argmax-only variant of [[centroidRank]]: one compiled
    * [[graft.expr.BestCentroid]] call — identical winner and tie-break to
    * `greatest` over the (sim, -c_id) structs (itself value-identical to
    * rank 1 of the sorted ranking), but the generated code is one helper
    * call instead of a k-way inlined struct comparison: the struct
    * formulation's janino compile time dominated every ANN query at
    * tiny SF, and ArraySort before it was interpreted per row. */
  private[graft] def centroidBest(cents: Seq[Centroid], qCol: Column, nqCol: Column): Column = {
    val sorted = cents.sortBy(_.cId)
    graft.expr.hfunctions.best_centroid(qCol, nqCol,
      sorted.map(_.cId).toArray,
      sorted.map(_.vec.toArray).toArray,
      sorted.map(_.nq).toArray)
  }

  private def nearestCentroids(side: DataFrame, cents: Seq[Centroid], keep: Int): DataFrame =
    if (keep == 1) // corpus-sized path: argmax projection, no per-row sort
      side.withColumn("c_id", centroidBest(cents, col("q"), col("nq")))
    else {
      val ranked = centroidRank(cents, col("q"), col("nq"))
      side.withColumn("c_id", explode(slice(ranked, 1, keep).getField("c_id")))
    }

  private def collectCentroids(df: DataFrame): Seq[Centroid] =
    df.select(col("c_id"), col("c_vec"), col("c_nq")).collect().toSeq
      .map(r => Centroid(r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .sortBy(_.cId)

  /** Deterministic k-means codebook (Lloyd with fixed `iters`, md5-seeded
    * init) over a corpus in [[prep]] shape → (c_id, c_vec, c_nq).
    *
    * Every step is exact integer arithmetic, so the codebook is
    * bit-identical across engines, partitionings and cluster sizes — the
    * property the DuckDB oracle needs and float k-means (order-dependent
    * accumulation) cannot give:
    *  - seeds: the k vectors with the smallest (md5-hash(vec_id), vec_id)
    *    — a deterministic pseudo-random sample; centroid ids 0..k-1 follow
    *    seed order;
    *  - assignment: exact integer cosine, ties toward the smaller c_id;
    *  - update: elementwise floor-mean (long sums are exact and
    *    order-free; floor-division via pmod matches across engines); a
    *    centroid that loses all members keeps its previous vector.
    *
    * Scale: each iteration is one broadcast-assign scan + one (c_id, dim)
    * aggregation — no quadratic term; at 100 TB you train on a sample
    * (training cost is O(|sample|·k·iters)) and run only the single
    * assignment sweep over the full corpus. */
  def trainCentroids(corpus: DataFrame, k: Int, iters: Int = 2): Seq[Centroid] = {
    import org.apache.spark.sql.expressions.Window
    val seedW = Window.orderBy(col("_h"), col("vec_id"))
    val init = collectCentroids(corpus
      .withColumn("_h", Dedup.hash60(col("vec_id").cast("string")))
      .orderBy(col("_h"), col("vec_id")).limit(k)
      .select((row_number().over(seedW) - 1).cast("long").as("c_id"), col("q").as("c_vec"))
      .withColumn("c_nq", normq(col("c_vec"))))
    (1 to iters).foldLeft(init) { (cents, _) =>
      val members = nearestCentroids(corpus, cents, keep = 1)
      val updated = members
        .select(col("c_id"), posexplode(col("q")).as(Seq("d", "v")))
        .groupBy(col("c_id"), col("d"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))
        // exact floor(s / cnt): subtract the positive remainder, then the
        // division is exact — identical in Spark and the SQL oracle
        .withColumn("m", ((col("s") - pmod(col("s"), col("cnt"))) / col("cnt")).cast("long"))
        .groupBy(col("c_id"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
          x => x("m")).as("c_vec"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      cents.map { c =>
        val vec = updated.getOrElse(c.cId, c.vec) // an emptied centroid keeps its vector
        Centroid(c.cId, vec, vec.map(v => v * v).sum)
      }
    }
  }

  /** IVF (inverted-file) ANN: a coarse quantizer assigns every corpus
    * vector to its nearest centroid; a query probes only the `nProbe`
    * nearest centroid lists and re-ranks exactly inside them. The classic
    * memory-bandwidth win at scale: the corpus is scanned once to build
    * the (persistable) assignment, and each query touches ~nProbe/nCentroids
    * of the data.
    *
    * Centroids come from [[trainCentroids]] — a real (deterministic)
    * k-means codebook. Ties in centroid distance break toward the smaller
    * centroid id. Queries whose probed lists lack k neighbors return
    * fewer than k — the recall/cost tradeoff is the point of the
    * operator. Measured on the sf0.001 fixture (near-uniform synthetic
    * embeddings, a hard case for coarse quantization): 8 centroids × 2
    * probes retains ~0.49 of the brute-force top-5; recall rises
    * monotonically with nProbe (SimilaritySpec pins both), at a scan cost
    * of ~nProbe/nCentroids of the corpus per query.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 8, nProbe: Int = 2,
              trainIters: Int = 2): DataFrame = {
    val cents = trainCentroids(corpus, nCentroids, trainIters)

    val corpusAssigned = nearestCentroids(corpus, cents, keep = 1)
    val queryProbes = nearestCentroids(queries, cents, keep = nProbe)
      .select(col("vec_id").as("q_id"), col("q").as("q_vec"), col("nq").as("q_nq"), col("c_id"))

    // each corpus vector lives in exactly one list and a query probes
    // distinct lists, so every (corpus, query) pair scores at most once
    val scored = corpusAssigned.join(broadcast(queryProbes), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", cosineq(col("q"), col("q_vec"), col("nq"), col("q_nq")))
    topK(scored, k)
  }

  /** Build a PERSISTENT IVF index: the codebook as a tiny text artifact
    * plus the corpus assignment as parquet PARTITIONED BY centroid id —
    * the embedding-side twin of the sharded index build (S10). Serving
    * then reads only the probed centroids' directories via partition
    * pruning: a query touches ~nProbe/nCentroids of the files on disk,
    * which is the point of IVF at 100 TB (the index is built once,
    * queried many times). */
  def buildIvfIndex(corpus: DataFrame, dir: String, nCentroids: Int = 8,
                    trainIters: Int = 2,
                    codebook: Option[Seq[Centroid]] = None): Seq[Centroid] = {
    val cents = codebook.getOrElse(trainCentroids(corpus, nCentroids, trainIters))
    // a rebuild writes a FRESH generation, never in place: readers keep
    // scanning the old generation until the manifest flip, and the
    // superseded directory stays for in-flight scans until vacuum
    val gen = s"assignment-b${System.nanoTime()}"
    val assigned = nearestCentroids(corpus, cents, keep = 1)
    // one task per centroid partition: a dynamic-partition write from P
    // tasks × C centroids opens P×C files (see IndexState.commit)
    assigned.repartition(col("c_id")).write.partitionBy("c_id").parquet(s"$dir/$gen")
    writeManifest(dir, cents, gen, generationSchema(assigned, cents))
    cents
  }

  /** The read schema (JSON) of an assignment generation written
    * `partitionBy("c_id")` from `df`: its data columns as a parquet read
    * gives them, then `c_id` as partition discovery types it — int while
    * every centroid id fits one. [[graft.batch.BatchPipeline.goLive]]
    * records its `shard` column the same way. */
  private def generationSchema(df: DataFrame, cents: Seq[Centroid]): String =
    StructType(IndexState.readSchema(StructType(df.schema.filterNot(_.name == "c_id"))).fields :+
      StructField("c_id", if (cents.forall(_.cId.isValidInt)) IntegerType else LongType)).json

  /** Publish (codebook, assignment generation) as ONE file flipped by ONE
    * atomic rename: the `CODEBOOK` manifest's first line names the live
    * assignment directory and its read schema, the rest is the codebook.
    * A reader that parses the manifest once ([[resolveIndex]]) can never
    * pair a new codebook with an old generation's assignment (incompatible
    * c_id coordinate systems) — the failure mode of flipping two pointers
    * separately. */
  private def writeManifest(dir: String, cents: Seq[Centroid], gen: String,
                            schema: String): Unit = {
    val lines = s"meta\tdir\t$gen\t$schema" +:
      cents.map(c => s"${c.cId}\t${c.nq}\t${c.vec.mkString(",")}")
    IndexState.atomicWriteString(
      java.nio.file.Paths.get(dir, "CODEBOOK"), lines.mkString("\n"))
  }

  /** Parse the manifest ONCE → (codebook, live assignment dir, its read
    * schema). This is the only consistent read path: callers that need
    * more than one MUST take them from a single call, not from
    * [[openIvfCodebook]] + [[assignmentDir]] separately (two reads can
    * straddle a rebuild's flip). */
  private[graft] def resolveIndex(dir: String): (Seq[Centroid], String, String) = {
    val meta +: centLines = java.nio.file.Files
      .readString(java.nio.file.Paths.get(dir, "CODEBOOK"))
      .split("\n").toSeq.filter(_.nonEmpty)
    val fields = meta.split("\t", 4)
    require(fields.length == 4 && fields(0) == "meta" && fields(1) == "dir",
      s"bad CODEBOOK manifest in $dir")
    val cents = centLines.map { line =>
      val Array(id, nq, vec) = line.split("\t", 3)
      Centroid(id.toLong, vec.split(",").toSeq.map(_.toLong), nq.toLong)
    }.sortBy(_.cId)
    (cents, s"$dir/${fields(2)}", fields(3))
  }

  /** The live assignment directory (manifest-resolved). For consistency
    * with the codebook use [[resolveIndex]] — see its scaladoc. */
  private[graft] def assignmentDir(dir: String): String = resolveIndex(dir)._2

  /** Incrementally add vectors to a persisted index: assign them with
    * the EXISTING codebook — never retrain, or old and new entries would
    * live in incompatible coordinate systems — and append to the same
    * centroid partitions. This is how a served ANN index tracks a growing
    * corpus without a rebuild; the codebook drifts from the data over
    * time, so periodic rebuilds (fresh training) remain the model-quality
    * maintenance, while [[compactIvfIndex]] is the small-files
    * maintenance. */
  def appendToIvfIndex(newVectors: DataFrame, dir: String): Unit = {
    val (cents, liveDir, _) = resolveIndex(dir) // one read: codebook + its generation
    nearestCentroids(newVectors, cents, keep = 1)
      .repartition(col("c_id"))
      .write.mode("append").partitionBy("c_id").parquet(liveDir)
  }

  /** Compact the assignment: rewrite the live generation with ONE file
    * per centroid partition (streamed appends leave a file per append
    * per touched centroid — at serving scale the scan cost becomes
    * file-open bound) into a fresh generation directory, then rewrite
    * the `CODEBOOK` manifest to name it, atomically. Readers resolve the
    * manifest per query, so a query in flight finishes on the old
    * generation and the next one reads the compacted data — identical
    * rows either way. The
    * superseded generation stays on disk for in-flight readers until
    * [[vacuumIvfIndex]] reclaims it past a grace window. Returns the new
    * generation's name.
    *
    * WRITER CONTRACT — one maintainer at a time: compaction and
    * [[appendToIvfIndex]] must be serialized by the index's (single)
    * owner. An append racing a compaction can resolve the pointer to the
    * old generation after compaction already scanned it — its rows would
    * exist only in the superseded directory and vanish at vacuum. This
    * is the same single-owner assumption as the reference's GoLive; a
    * multi-writer deployment should route both operations through one
    * maintenance process (or put the assignment behind [[DocStateStore]]
    * -style put-if-absent commits). Readers need no coordination. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    val (cents, liveDir, schema) = resolveIndex(dir)
    val target = s"assignment-${System.currentTimeMillis()}"
    // tombstones apply PHYSICALLY here: the fresh generation is written
    // without the doomed rows and starts with an empty tombstone set
    val live = IndexState.readParquet(spark, schema, liveDir)
    maskTombstones(spark, liveDir, live)
      .repartition(col("c_id"))
      .write.partitionBy("c_id").parquet(s"$dir/$target")
    // same codebook and columns, new generation — one atomic manifest flip
    writeManifest(dir, cents, target, generationSchema(live, cents))
    target
  }

  /** Reclaim assignment generations the pointer no longer names, older
    * than `graceMs` (in-flight readers may still scan a just-superseded
    * generation — the engine's universal vacuum contract). */
  def vacuumIvfIndex(dir: String, graceMs: Long = 10 * 60 * 1000L): Seq[String] = {
    val live = java.nio.file.Paths.get(assignmentDir(dir)).getFileName.toString
    IndexState.vacuumStale(dir, graceMs) { p =>
      val n = p.getFileName.toString
      !n.startsWith("assignment") || n == live || !java.nio.file.Files.isDirectory(p)
    }
  }

  /** Tombstone-DELETE vectors from a persisted index — the lifecycle
    * piece between append and rebuild. Deleting costs delete-sized work:
    * the ids append as parquet under `<liveGen>/_tombstones`
    * (underscore-prefixed, so data scans never list it — the `_SUCCESS`
    * convention), serving masks them with a broadcast anti-join
    * ([[maskTombstones]]; the tombstone set is bounded by
    * deletes-since-last-compaction, small next to the corpus — the
    * delta-delete contract every production ANN/lakehouse store uses),
    * and [[compactIvfIndex]] applies them PHYSICALLY: the fresh
    * generation is written without the doomed rows and starts with an
    * empty tombstone set. Tombstones live INSIDE the generation
    * directory on purpose — a rebuild/compaction manifest flip atomically
    * retires them together with the data they mask, and vacuum reclaims
    * both as one directory.
    *
    * CONTRACT — a delete is terminal for an id within a generation:
    * re-inserting a deleted id via [[appendToIvfIndex]] stays masked
    * until a compaction clears the tombstone (upsert = delete, compact,
    * re-append). Same single-owner writer contract as append/compact;
    * readers need no coordination — a serve in flight may miss a
    * tombstone written after it resolved the generation, the usual
    * read-committed-at-resolve semantics. */
  /** HOT-CELL SPLIT — IVF index REBALANCING, the maintenance step between
    * [[appendToIvfIndex]] (which lets cells grow) and a full rebuild:
    * cells that outgrew the cap are split in place into two sub-cells by
    * a per-cell 2-means, so probe cost stays bounded without retraining
    * the whole codebook (split-only changes never move a vector OUT of
    * its parent's region — serving stays consistent; periodic rebuilds
    * remain the model-quality maintenance).
    *
    * Cap defaults to ⌈total/cells⌉ — cells above the average split.
    * All math follows the [[trainCentroids]] exact-integer discipline
    * (md5-seeded 2 seeds per cell, integer-cosine assignment with ties
    * to the smaller sub, floor-mean updates, emptied sub keeps its
    * vector), so the split is bit-identical across engines. New cell ids
    * are deterministic: maxId+1 + 2·(rank of parent among hot cells) +
    * sub.
    *
    * Scale shape: the grouped 2-means trains EVERY hot cell in the same
    * jobs (one cell-keyed join + one (cell, sub, dim) aggregate per
    * Lloyd step — never a per-cell driver loop); sub-centroid frames are
    * ≤ 2·cells rows (the bounded-collect contract). The fresh assignment
    * generation rewrites cold cells untouched and flips the manifest
    * atomically — readers never see a half-split index; tombstones apply
    * physically (the [[compactIvfIndex]] contract). Returns
    * (new_id, parent_id) pairs, empty if nothing was hot. */
  def splitHotCells(spark: org.apache.spark.sql.SparkSession, dir: String,
                    capOverride: Option[Long] = None,
                    iters: Int = 2): Seq[(Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val (cents, liveDir, schema) = resolveIndex(dir)
    // c_id is a partition column: path-inferred as INT on read — cast back
    val assigned = maskTombstones(spark, liveDir, IndexState.readParquet(spark, schema, liveDir))
      .select(col("vec_id"), col("q"), col("nq"), col("c_id").cast("long").as("c_id"))
    val census = assigned.groupBy(col("c_id")).agg(count(lit(1)).as("n"))
    val tot = census.agg(sum(col("n")).as("t"), count(lit(1)).as("k")).first()
    val cap = capOverride.getOrElse(
      (tot.getLong(0) + tot.getLong(1) - 1) / tot.getLong(1))
    val hot = census.filter(col("n") > cap) // ≤ codebook-sized collect
      .select(col("c_id")).collect().map(_.getLong(0)).sorted.toSeq
    if (hot.isEmpty) return Seq.empty
    val base = cents.map(_.cId).max + 1

    val hv = assigned.filter(col("c_id").isin(hot: _*)).cache()
    try {
      // grouped 2-means: every hot cell trains in the SAME jobs
      val seedW = Window.partitionBy(col("c_id"))
        .orderBy(Dedup.hash60(col("vec_id").cast("string")), col("vec_id"))
      val init: Map[(Long, Long), Seq[Long]] = hv
        .withColumn("rn", row_number().over(seedW)).filter(col("rn") <= 2)
        .select(col("c_id"), (col("rn") - 1).cast("long").as("sub"), col("q"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap

      def subsDF(m: Map[(Long, Long), Seq[Long]]): DataFrame =
        m.toSeq.map { case ((c, s), v) => (c, s, v, v.map(x => x * x).sum) }
          .toDF("c_id", "sub", "c_vec", "c_nq")
      def assign(m: Map[(Long, Long), Seq[Long]]): DataFrame =
        hv.join(broadcast(subsDF(m)), Seq("c_id"))
          .withColumn("sim", cosineq(col("q"), col("c_vec"), col("nq"), col("c_nq")))
          .groupBy(col("c_id"), col("vec_id"), col("q"), col("nq"))
          .agg(max(struct(col("sim"), (-col("sub")).as("ns"), col("sub")))
            .getField("sub").as("sub"))

      val finalSubs = (1 to iters).foldLeft(init) { (m, _) =>
        val upd = assign(m)
          .select(col("c_id"), col("sub"), posexplode(col("q")).as(Seq("d", "v")))
          .groupBy(col("c_id"), col("sub"), col("d"))
          .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))
          .withColumn("m",
            ((col("s") - pmod(col("s"), col("cnt"))) / col("cnt")).cast("long"))
          .groupBy(col("c_id"), col("sub"))
          .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
            x => x("m")).as("c_vec"))
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
        m.map { case (key, v) => key -> upd.getOrElse(key, v) } // emptied sub keeps vector
      }

      val newIdOf = hot.zipWithIndex.flatMap { case (p, i) =>
        Seq((p, 0L) -> (base + 2L * i), (p, 1L) -> (base + 2L * i + 1)) }.toMap
      val idMap = newIdOf.toSeq.map { case ((p, s), nid) => (p, s, nid) }
        .toDF("c_id", "sub", "new_id")
      val reassigned = assign(finalSubs)
        .join(broadcast(idMap), Seq("c_id", "sub"))
        .select(col("vec_id"), col("q"), col("nq"), col("new_id").as("c_id"))
      val fresh = assigned.filter(!col("c_id").isin(hot: _*))
        .unionByName(reassigned)
      val gen = s"assignment-s${System.nanoTime()}"
      fresh.repartition(col("c_id")).write.partitionBy("c_id").parquet(s"$dir/$gen")
      val newCents = cents.filterNot(c => hot.contains(c.cId)) ++
        finalSubs.toSeq.map { case ((p, s), v) =>
          Centroid(newIdOf((p, s)), v, v.map(x => x * x).sum) }
      writeManifest(dir, newCents.sortBy(_.cId), gen, generationSchema(fresh, newCents))
      hot.zipWithIndex.flatMap { case (p, i) =>
        Seq((base + 2L * i) -> p, (base + 2L * i + 1) -> p) }
    } finally { hv.unpersist(blocking = false); () }
  }

  def deleteFromIvfIndex(ids: DataFrame, dir: String): Unit =
    writeTombstones(ids, assignmentDir(dir))

  /** [[deleteFromIvfIndex]] for the PQ-coded index — same layout, same
    * masking, same compaction semantics ([[compactIvfPqIndex]]). */
  def deleteFromIvfPqIndex(ids: DataFrame, dir: String): Unit = {
    val (_, _, gen, _, _, _) = resolveIvfPqIndex(dir)
    writeTombstones(ids, s"$dir/$gen")
  }

  private def writeTombstones(ids: DataFrame, liveDir: String): Unit =
    ids.select(col(ids.columns.head).cast("long").as("vec_id"))
      .distinct()
      .coalesce(1) // delete-sized by contract: one file per delete call
      .write.mode("append").parquet(s"$liveDir/_tombstones")

  /** The live generation's tombstone set — None when nothing was ever
    * deleted (the common case: serving then skips the anti-join
    * entirely, zero overhead on the no-delete path). `_tombstones` is a
    * name Spark's file index treats as hidden, so its data files are
    * listed on the driver, as go-live lists a shard's, and read as
    * explicit paths through the fixed schema [[writeTombstones]]
    * writes. */
  private def readTombstones(spark: org.apache.spark.sql.SparkSession,
                             liveDir: String): Option[DataFrame] = {
    val p = java.nio.file.Paths.get(liveDir, "_tombstones")
    val files = if (java.nio.file.Files.isDirectory(p)) graft.batch.BatchPipeline.dataFiles(p) else Nil
    Option.when(files.nonEmpty)(spark.read.schema(StructType(Seq(StructField("vec_id", LongType))))
      .parquet(files.map(_.toString): _*))
  }

  /** Mask a generation's tombstones out of an assignment scan: broadcast
    * LEFT ANTI on vec_id — map-side against the (delete-sized) set, so
    * the corpus never shuffles for its own deletions. */
  private def maskTombstones(spark: org.apache.spark.sql.SparkSession,
                             liveDir: String, assigned: DataFrame): DataFrame =
    readTombstones(spark, liveDir).fold(assigned)(t =>
      assigned.join(broadcast(t), Seq("vec_id"), "left_anti"))

  /** Read a persisted codebook (driver-small by construction). */
  def openIvfCodebook(dir: String): Seq[Centroid] = resolveIndex(dir)._1

  /** Serve ANN top-k from a persisted index: probe assignment via the
    * codebook, scan ONLY the probed centroids' partitions (the distinct
    * probe set is ≤ nCentroids ids — a bounded driver collect that turns
    * into a partition-pruning IN filter on the parquet scan), exact
    * re-rank inside them. Results are identical to [[ivfTopK]] with the
    * same build parameters — the index is just the precomputed half. */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                   queries: DataFrame, k: Int, nProbe: Int = 2,
                   attrFilter: Option[Column] = None): DataFrame = {
    val (cents, liveDir, schema) = resolveIndex(dir) // one read: codebook + its generation
    val queryProbes = nearestCentroids(queries, cents, keep = nProbe)
      .select(col("vec_id").as("q_id"), col("q").as("q_vec"), col("nq").as("q_nq"), col("c_id"))
    val probedIds = queryProbes.select(col("c_id")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    // FILTERED ANN: attribute columns persist with the assignment
    // (nearestCentroids preserves whatever the build's corpus carried),
    // so a metadata predicate composes with partition pruning — it
    // pushes into the probed partitions' parquet scan, and ONE index
    // serves every filter instead of one index per filter value
    val assigned = maskTombstones(spark, liveDir,
      attrFilter.foldLeft(
        IndexState.readParquet(spark, schema, liveDir).filter(col("c_id").isin(probedIds: _*)))(_ filter _)
      .select(col("vec_id"), col("q"), col("nq"), col("c_id").cast("long").as("c_id")))
    val scored = assigned.join(broadcast(queryProbes), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", cosineq(col("q"), col("q_vec"), col("nq"), col("q_nq")))
    topK(scored, k)
  }

  /** Per-subspace product-quantization codebooks: the quantized vector is
    * cut into `m` contiguous subvectors of dim/m dims and each subspace
    * trains its own deterministic k-means codebook ([[trainCentroids]] on
    * the sliced frame — md5-seeded init, exact integer arithmetic, so the
    * codebooks are engine-portable like the IVF coarse codebook). Seeds
    * hash only vec_id, so every subspace seeds from the SAME corpus rows
    * — one convention the oracle replays once, not m times. */
  def trainPqCodebooks(corpus: DataFrame, m: Int, dim: Int, ksub: Int = 8,
                       trainIters: Int = 2): Seq[Seq[Centroid]] = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    trainSpacesJoint(corpus,
      (0 until m).map(j => Space(j * sub, sub, ksub)), trainIters)
  }

  /** Reference per-subspace formulation of [[trainPqCodebooks]] — m
    * independent [[trainCentroids]] runs. Kept (test-visible) as the
    * equivalence witness for the joint trainer; identical output by
    * construction is pinned in SimilaritySpec. */
  private[graft] def trainPqCodebooksSequential(corpus: DataFrame, m: Int, dim: Int,
                                                ksub: Int = 8,
                                                trainIters: Int = 2): Seq[Seq[Centroid]] = {
    val sub = dim / m
    (0 until m).map { j =>
      val sj = corpus.select(col("vec_id"),
          slice(col("q"), j * sub + 1, sub).as("q"))
        .withColumn("nq", normq(col("q")))
      trainCentroids(sj, ksub, trainIters)
    }
  }

  /** One k-means training space: a contiguous `len`-dim slice of the
    * quantized vector starting at 0-based `off`, trained to `k` centroids. */
  case class Space(off: Int, len: Int, k: Int)

  /** Train SEVERAL deterministic k-means codebooks over slices of the
    * same corpus in ONE job per Lloyd iteration (plus one shared seed
    * job), bit-identical to running [[trainCentroids]] per slice:
    *
    *  - seeds: every space seeds from the SAME corpus rows (the md5 seed
    *    hash keys only vec_id), so one ordered `limit(max k)` collect
    *    serves all spaces — each takes its first k rows, sliced
    *    driver-side (exact: seed vectors are literally the corpus rows);
    *  - assignment: per space an argmax PROJECTION with the codebook
    *    inlined ([[centroidBest]] on the slice) — all spaces evaluated in
    *    the same corpus scan;
    *  - update: one explode over spaces + posexplode over dims →
    *    groupBy (space, c_id, d) exact long sums → the same pmod
    *    floor-mean as [[trainCentroids]]; reduce side is Σ len·k rows,
    *    never corpus-sized. An emptied centroid keeps its vector.
    *
    * This collapses PQ training from m×(1+iters) job chains to 1+iters —
    * at any scale the training cost is the corpus scans, and this runs
    * the minimum number of them (IVF-PQ composes the coarse book in too:
    * [[trainIvfPq]]). */
  def trainSpacesJoint(corpus: DataFrame, spaces: Seq[Space],
                       iters: Int = 2): Seq[Seq[Centroid]] = {
    require(spaces.nonEmpty)
    val maxK = spaces.map(_.k).max
    // shared seed collect: first maxK rows by (md5(vec_id), vec_id) —
    // exactly trainCentroids' seed order, once for every space
    val seedRows = corpus
      .withColumn("_h", Dedup.hash60(col("vec_id").cast("string")))
      .orderBy(col("_h"), col("vec_id")).limit(maxK)
      .select(col("q")).collect().map(_.getSeq[Long](0))
    val init: Seq[Seq[Centroid]] = spaces.map { sp =>
      seedRows.take(sp.k).toSeq.zipWithIndex.map { case (full, i) =>
        val vec = full.slice(sp.off, sp.off + sp.len)
        Centroid(i.toLong, vec, vec.map(v => v * v).sum)
      }
    }
    (1 to iters).foldLeft(init) { (books, _) =>
      val perSpace = spaces.zipWithIndex.map { case (sp, i) =>
        val sq = slice(col("q"), sp.off + 1, sp.len)
        struct(lit(i).as("sp"),
          centroidBest(books(i), sq, normq(sq)).as("c_id"), sq.as("v"))
      }
      val updated = corpus.select(explode(array(perSpace: _*)).as("e"))
        .select(col("e.sp").as("sp"), col("e.c_id").as("c_id"),
          posexplode(col("e.v")).as(Seq("d", "v")))
        .groupBy(col("sp"), col("c_id"), col("d"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))
        // exact floor(s / cnt) — the trainCentroids update, verbatim
        .withColumn("m", ((col("s") - pmod(col("s"), col("cnt"))) / col("cnt")).cast("long"))
        .groupBy(col("sp"), col("c_id"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
          x => x("m")).as("c_vec"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
      books.zipWithIndex.map { case (b, i) =>
        b.map { c =>
          val vec = updated.getOrElse((i, c.cId), c.vec)
          Centroid(c.cId, vec, vec.map(v => v * v).sum)
        }
      }
    }
  }

  /** IVF-PQ training in one pass: the coarse codebook is just one more
    * space (the full vector) trained jointly with the m PQ subspaces —
    * 1 seed job + `iters` jobs for the whole quantizer stack, output
    * bit-identical to separate [[trainCentroids]] + [[trainPqCodebooks]]. */
  def trainIvfPq(corpus: DataFrame, nCentroids: Int, m: Int, dim: Int,
                 ksub: Int = 8, trainIters: Int = 2)
      : (Seq[Centroid], Seq[Seq[Centroid]]) = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    val all = trainSpacesJoint(corpus,
      Space(0, dim, nCentroids) +: (0 until m).map(j => Space(j * sub, sub, ksub)),
      trainIters)
    (all.head, all.tail)
  }

  /** Product-quantization ANN with asymmetric-distance (ADC) scoring —
    * the compression axis of large-scale vector search (IVF-PQ's PQ
    * half): each corpus vector is ENCODED as m small centroid codes (m
    * bytes at ksub ≤ 256) plus its exact norm, and queries score against
    * the codes, never the raw vectors.
    *
    *  - encode: one MAP-ONLY projection — per subspace the codebook is
    *    inlined as literals ([[centroidRank]] on the slice), so the
    *    corpus is scanned once with no join and no shuffle; assignment
    *    is exact integer sub-cosine, ties toward the smaller code.
    *  - score: each query precomputes its m×ksub lookup table of exact
    *    integer subvector·centroid dot products (the classic ADC LUT),
    *    rides broadcast against the encoded corpus, and the approximate
    *    dot is an m-term LUT sum unrolled into a codegen'd projection:
    *    `adc(y, x) = Σ_j y_j · c_{j, code_j(x)}`. Cosine denominator
    *    uses the STORED exact corpus norm (ADC with exact norms), so
    *    sim degrades only through the dot approximation.
    *  - top-k: the bounded-heap partial aggregate ([[topK]]) — ≤ k
    *    candidates per query per task cross the wire.
    *
    * At 100 TB the point is memory traffic: the scan reads m codes + one
    * norm per vector (vs dim floats), the LUT sum is m adds per
    * candidate, and recall is tunable via m/ksub. Compose with the IVF
    * index (a04) to prune the scan to probed partitions first — this
    * operator is the within-list scorer of a full IVF-PQ. All
    * arithmetic (codebooks, codes, LUT entries, the ≤2^53 integer-exact
    * double sums) is engine-portable, so the DuckDB oracle replays
    * train+encode+score bit-for-bit. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 4, dim: Int = 64, ksub: Int = 8,
             trainIters: Int = 2): DataFrame = {
    val sub = dim / m
    val books = trainPqCodebooks(corpus, m, dim, ksub, trainIters)
    def subQ(j: Int) = slice(col("q"), j * sub + 1, sub)
    // encode: map-only, codebooks inlined — code_j = best sub-cosine centroid
    val codes = corpus.select(col("vec_id"), col("nq"),
      array((0 until m).map { j =>
        centroidBest(books(j), subQ(j), normq(subQ(j)))
      }: _*).as("codes"))
    // per-query ADC lookup tables: luts[j][c] = y_j · centroid_{j,c}
    val qWide = queries.select(col("vec_id").as("q_id"), col("nq").as("q_nq"),
      array((0 until m).map { j =>
        array(books(j).map(c => dotq(subQ(j), typedLit(c.vec))): _*)
      }: _*).as("luts"))
    val adc = (0 until m).map { j =>
      element_at(element_at(col("luts"), j + 1),
        (element_at(col("codes"), j + 1) + 1).cast("int"))
    }.reduce(_ + _)
    val scored = codes.crossJoin(broadcast(qWide))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        when(col("nq") === 0 || col("q_nq") === 0, 0.0)
          .otherwise(adc.cast("double") /
            (sqrt(col("nq").cast("double")) * sqrt(col("q_nq").cast("double")))))
    topK(scored, k)
  }

  /** The centroid VECTOR for a c_id column, as a when-chain over the
    * (driver-small) codebook — keeps per-row centroid lookups join-free. */
  private def centroidVecOf(cents: Seq[Centroid], cId: Column): Column =
    cents.sortBy(_.cId).map(c => (c.cId, typedLit(c.vec)))
      .foldRight(lit(null).cast("array<bigint>")) { case ((id, v), rest) =>
        when(cId === id, v).otherwise(rest)
      }

  /** RESIDUAL IVF-PQ (a21) — the canonical FAISS-style IVFPQ encoding:
    * the PQ codebooks train on and the codes approximate the RESIDUAL
    * `x − c(x)` (each vector minus its coarse centroid), not the raw
    * subvectors that [[ivfPqTopK]] encodes. The residual is what remains
    * AFTER the coarse quantizer explains the vector, so the same m×ksub
    * code budget spends on a smaller-variance signal — the approximation
    * tightens at zero extra serving cost (pinned: mean |ADC − exact|
    * strictly below raw-subvector PQ's on the same data).
    *
    * Scoring stays ADC-shaped:
    * `dot(q, x) ≈ dot(q, c_x) + Σ_j dot(q_j, book_j[code_j])` — the
    * coarse term is per-(query, probed centroid) (≤ queries×nProbe,
    * riding the broadcast probe frame), the LUT term is the same
    * per-query m×ksub table as a06 built from FULL-query slices against
    * the residual-trained codewords, and the denominator uses the stored
    * exact norm. Everything integer-exact — the oracle replays coarse
    * training, residual construction, per-subspace Lloyd, encode, and
    * the composed score bit-for-bit. */
  def ivfRpqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 nCentroids: Int = 8, nProbe: Int = 2, m: Int = 4,
                 dim: Int = 64, ksub: Int = 8, trainIters: Int = 2): DataFrame = {
    val (coarse, books) = trainIvfRpq(corpus, nCentroids, m, dim, ksub, trainIters)
    ivfRpqServe(ivfRpqEncode(corpus, coarse, books, m, dim),
      queries, coarse, books, k, nProbe, m, dim)
  }

  /** The residual frame: each vector minus its coarse centroid, in
    * [[prep]] shape (vec_id, q = residual, nq = residual norm). */
  private def residualFrame(corpus: DataFrame, coarse: Seq[Centroid]): DataFrame =
    corpus
      .withColumn("c_id", centroidBest(coarse, col("q"), col("nq")))
      .withColumn("r", zip_with(col("q"),
        centroidVecOf(coarse, col("c_id")), (a, b) => a - b))
      .select(col("vec_id"), col("r").as("q"))
      .withColumn("nq", normq(col("q")))

  /** Residual-IVF-PQ training: the coarse book first, then the PQ books
    * over the residual frame (inherently two phases — residuals need the
    * coarse book to exist). */
  def trainIvfRpq(corpus: DataFrame, nCentroids: Int, m: Int, dim: Int,
                  ksub: Int = 8, trainIters: Int = 2)
      : (Seq[Centroid], Seq[Seq[Centroid]]) = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val coarse = trainCentroids(corpus, nCentroids, trainIters)
    (coarse, trainPqCodebooks(residualFrame(corpus, coarse), m, dim, ksub, trainIters))
  }

  /** Residual encode: coarse assignment + PQ codes of the residual
    * slices + the ORIGINAL exact norm — pure per-row under frozen books
    * (so append ≡ rebuild, the same invariant as [[ivfPqEncode]]). */
  private def ivfRpqEncode(corpus: DataFrame, coarse: Seq[Centroid],
                           books: Seq[Seq[Centroid]], m: Int, dim: Int): DataFrame = {
    val sub = dim / m
    def subR(j: Int) = slice(col("r"), j * sub + 1, sub)
    corpus
      .withColumn("c_id", centroidBest(coarse, col("q"), col("nq")))
      .withColumn("r", zip_with(col("q"),
        centroidVecOf(coarse, col("c_id")), (a, b) => a - b))
      .select(col("vec_id"), col("nq"), col("c_id"),
        array((0 until m).map { j =>
          centroidBest(books(j), subR(j), normq(subR(j)))
        }: _*).as("codes"))
  }

  /** Residual ADC serving over an encoded frame: the per-(query, probed
    * centroid) coarse dot rides the broadcast probe frame next to the
    * per-query LUTs. */
  private def ivfRpqServe(encoded: DataFrame, queries: DataFrame,
                          coarse: Seq[Centroid], books: Seq[Seq[Centroid]],
                          k: Int, nProbe: Int, m: Int, dim: Int): DataFrame = {
    val sub = dim / m
    def subQ(j: Int) = slice(col("q"), j * sub + 1, sub)
    val probes = nearestCentroids(queries, coarse, keep = nProbe)
      .withColumn("qc_dot", graft.expr.hfunctions.long_dot(col("q"),
        centroidVecOf(coarse, col("c_id"))))
      .select(col("vec_id").as("q_id"), col("nq").as("q_nq"), col("c_id"),
        col("qc_dot"),
        array((0 until m).map { j =>
          array(books(j).map(c => dotq(subQ(j), typedLit(c.vec))): _*)
        }: _*).as("luts"))
    val adc = (0 until m).map { j =>
      element_at(element_at(col("luts"), j + 1),
        (element_at(col("codes"), j + 1) + 1).cast("int"))
    }.reduce(_ + _)
    val scored = encoded.join(broadcast(probes), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        when(col("nq") === 0 || col("q_nq") === 0, 0.0)
          .otherwise((col("qc_dot") + adc).cast("double") /
            (sqrt(col("nq").cast("double")) * sqrt(col("q_nq").cast("double")))))
    topK(scored, k)
  }

  /** Per-dimension (min, span) of the quantized corpus — the SQ8 range
    * "codebook": 2×dim longs, collected to the driver (bounded by dim,
    * the [[trainCentroids]] bounded-collect convention). One posexplode +
    * per-dimension min/max aggregation — dim-keyed, so the reduce side is
    * dim rows no matter the corpus size. */
  def trainSq8Range(corpus: DataFrame, dim: Int): (Seq[Long], Seq[Long]) = {
    val mm = corpus
      .select(posexplode(col("q")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(mm.length == dim, s"expected $dim dims, got ${mm.length}")
    (mm.map(_._2).toIndexedSeq, mm.map(t => t._3 - t._2).toIndexedSeq)
  }

  /** Scalar-quantization (SQ8) ANN — the third compression axis next to
    * PQ (a06) and IVF (a03): each corpus vector is ENCODED as dim 8-bit
    * codes via a per-dimension affine map onto the corpus [min, max]
    * range, cutting scan bandwidth 8× vs the quantized longs (4× vs
    * float32) while keeping per-dimension resolution — the cheap-and-
    * cheerful quantizer serving stacks reach for before PQ's codebooks.
    *
    *  - train: the range codebook is 2×dim longs ([[trainSq8Range]]),
    *    driver-bounded like the k-means codebooks;
    *  - encode: MAP-ONLY — mins/spans inline as literal arrays, so
    *    `code_d = round((x_d − min_d)·255 / span_d)` is a projection
    *    over the corpus scan (no join, no shuffle); constant dimensions
    *    (span 0) code to 0;
    *  - score: asymmetric — the query stays exact and the corpus side
    *    dequantizes IN SCALED-INTEGER SPACE: `y_d·255 = min_d·255 +
    *    code_d·span_d` is exact 64-bit arithmetic (no float
    *    reconstruction error beyond the quantization itself), the
    *    approximate dot is one compiled [[graft.expr.LongDotProduct]]
    *    pass, and the ×255 scale cancels between the dot and the stored
    *    dequantized norm — so scores are engine-portable bit-for-bit
    *    and the DuckDB oracle replays train+encode+score exactly;
    *  - top-k: the bounded-heap partial aggregate ([[topK]]).
    *
    * At 100 TB you persist (codes, ny) — dim bytes + one long per row —
    * and rebuild `y` on scan; compose with the IVF index (a04) to prune
    * the scan to probed lists first, exactly as PQ composes into a07. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
              dim: Int = 64): DataFrame = {
    val (mins, spans) = trainSq8Range(corpus, dim)
    // encode+dequant as ONE single-level zip_with against a literal
    // (min, span) struct array: zip_with's children evaluate once per row
    // and the lambda touches only its two element arguments. The earlier
    // formulation — element_at(transform(codes…), i) inside a transform
    // lambda — re-ran the full inner encode (and the quantize under it)
    // for EVERY outer element: O(dim²) interpreted evals per row, a 230 s
    // scan at sf0.1 for what is a 1 s projection.
    val msL = typedLit(mins.zip(spans))
    val yCol = zip_with(col("q"), msL, (x, m) => {
      val mn = m.getField("_1"); val sp = m.getField("_2")
      mn * 255 + when(sp === 0, 0L)
        .otherwise(round(((x - mn) * 255).cast("double") / sp).cast("long")) * sp
    })
    val encoded = corpus.select(col("vec_id"), yCol.as("y"))
      .withColumn("ny", normq(col("y")))
    val q = queries.select(col("vec_id").as("q_id"), col("q").as("q_vec"),
      col("nq").as("q_nq"))
    val scored = encoded.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        when(col("ny") === 0 || col("q_nq") === 0, 0.0)
          .otherwise(dotq(col("y"), col("q_vec")).cast("double") /
            (sqrt(col("ny").cast("double")) * sqrt(col("q_nq").cast("double")))))
    topK(scored, k)
  }

  /** Two-stage REFINEMENT serving — the pattern every production ANN
    * stack ends with: a compressed first pass (SQ8 codes, 8× less scan
    * bandwidth) keeps the top `m ≥ k` candidates per query, then ONLY
    * those m are re-scored EXACTLY against the raw vectors and re-ranked
    * to the final k. Approximation error is confined to the m/k safety
    * margin: any true top-k neighbor the compressed scan ranks within m
    * comes back in exact order.
    *
    * Scale shape: stage 1 is a08's map-only compressed scan + bounded-heap
    * top-m; stage 2 BROADCASTS the (queries×m) candidate list against the
    * corpus — a broadcast hash join on vec_id, so the raw vectors are
    * touched once, map-side, for candidates only, and nothing corpus-sized
    * shuffles in either stage. Both stages are exact-integer/portable, so
    * the oracle replays the full two-stage trace. */
  def sq8RefineTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int,
                    dim: Int = 64): DataFrame = {
    require(m >= k, s"refinement margin m=$m must be ≥ k=$k")
    exactRerank(corpus, queries,
      sq8TopK(corpus, queries, m, dim).select(col("q_id"), col("n_id").as("vec_id")), k)
  }

  /** Shared refinement stage 2: exact cosine over the raw vectors for a
    * broadcast-sized (q_id, vec_id) candidate list, bounded-heap top-k.
    * The corpus is touched once, map-side, for candidates only. */
  private def exactRerank(corpus: DataFrame, queries: DataFrame,
                          cand: DataFrame, k: Int): DataFrame = {
    val qs = queries.select(col("vec_id").as("q_id"), col("q").as("q_vec"),
      col("nq").as("q_nq"))
    val scored = corpus.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(qs), Seq("q_id"))
      .withColumn("sim", cosineq(col("q"), col("q_vec"), col("nq"), col("q_nq")))
    topK(scored, k)
  }

  /** BINARY (1-bit) quantization ANN — the extreme compression point:
    * each vector collapses to its sign bits (dim=64 → ONE long word, a
    * 512× cut vs float32), candidates rank by XOR-popcount Hamming
    * distance (one ALU op per comparison), and the top `m` per query
    * re-score exactly ([[exactRerank]]). The modern binary-embedding
    * serving recipe: Hamming distance on sign bits is a monotone proxy
    * for angular distance (SRP with axis-aligned planes), and the
    * refinement margin absorbs the 1-bit quantization error.
    *
    * The sign-bit packing reuses the compiled [[graft.expr.SrpCodes]]
    * kernel with a ONE-HOT hyperplane matrix — plane d = e_d, so bit d
    * is sign(q[d]) — one pass, child evaluated once. Stage 1 is a
    * map-only projection + the bounded-heap top-m (score = −hamming, so
    * the heap's sim-desc/id-asc order is hamming-asc/id-asc); nothing
    * corpus-sized shuffles in either stage. All-integer → the oracle
    * replays packing, Hamming, and the re-rank bit-for-bit. */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int,
                 dim: Int = 64): DataFrame = {
    require(dim <= 64, s"binary codes pack into one long word: dim $dim > 64")
    require(m >= k, s"refinement margin m=$m must be ≥ k=$k")
    val oneHot = Array.tabulate(dim)(d =>
      Array.tabulate(dim)(j => if (j == d) 1L else 0L))
    def code(side: DataFrame) = side.withColumn("code",
      element_at(graft.expr.hfunctions.srp_codes(col("q"), oneHot, dim), 1))
    val qSide = code(queries)
      .select(col("vec_id").as("q_id"), col("code").as("q_code"))
    val scored = code(corpus).crossJoin(broadcast(qSide))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        -bit_count(col("code").bitwiseXOR(col("q_code"))).cast("double"))
    val cand = topK(scored, m).select(col("q_id"), col("n_id").as("vec_id"))
    exactRerank(corpus, queries, cand, k)
  }

  /** IVF-PQR — the terminal production serving shape: IVF prunes to the
    * probed lists, PQ-ADC ranks the compressed candidates, and ONLY the
    * top `refineM` per query re-score exactly against the raw vectors
    * ([[exactRerank]]). Compression error is confined to the refineM/k
    * margin exactly as in [[sq8RefineTopK]], but here stage 1 also never
    * scans outside the probed lists — the full bandwidth × pruning ×
    * exactness stack in one operator. */
  def ivfPqRefineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                      refineM: Int, nCentroids: Int = 8, nProbe: Int = 2,
                      m: Int = 4, dim: Int = 64, ksub: Int = 8,
                      trainIters: Int = 2): DataFrame = {
    require(refineM >= k, s"refinement margin refineM=$refineM must be ≥ k=$k")
    val cand = ivfPqTopK(corpus, queries, refineM, nCentroids, nProbe, m, dim,
        ksub, trainIters)
      .select(col("q_id"), col("n_id").as("vec_id"))
    exactRerank(corpus, queries, cand, k)
  }

  /** Full IVF-PQ serving — the canonical 100 TB vector-search
    * architecture, composed from the two halves this library already
    * verifies separately: the IVF coarse quantizer (a03/a04) prunes the
    * candidate set to the query's `nProbe` nearest lists, and PQ-ADC
    * (a06) scores inside them from m-code compression instead of raw
    * vectors.
    *
    * One map-only encode pass emits (c_id, codes[m], norm) per corpus
    * vector — both quantizers inlined as literal expressions, no join,
    * no shuffle; at scale this is the index build you persist
    * partitioned by c_id (the a04 layout with codes instead of raw
    * vectors, dim floats → m codes + 1 long per row). Queries broadcast
    * (probe list ids + ADC LUTs); the probe join keys on c_id so a
    * query pays ~nProbe/nCentroids of the corpus, each candidate an
    * m-term LUT sum. Recall compounds coarse-pruning loss with ADC
    * approximation — tunable by nProbe and m/ksub independently. */
  /** Map-only IVF-PQ encode: (vec_id, nq, coarse list id, m PQ codes) —
    * both quantizers inlined as literal expressions. This is the row the
    * persisted index stores and the live path scores. */
  private def ivfPqEncode(corpus: DataFrame, coarse: Seq[Centroid],
                          books: Seq[Seq[Centroid]], m: Int, dim: Int): DataFrame = {
    val sub = dim / m
    def subQ(j: Int) = slice(col("q"), j * sub + 1, sub)
    corpus.select(col("vec_id"), col("nq"),
      centroidBest(coarse, col("q"), col("nq")).as("c_id"),
      array((0 until m).map { j =>
        centroidBest(books(j), subQ(j), normq(subQ(j)))
      }: _*).as("codes"))
  }

  /** ADC scoring of an encoded frame against probe queries: per-query
    * m×ksub LUTs broadcast, the approximate dot an m-term LUT sum, exact
    * stored norms in the denominator, bounded-heap top-k. Shared verbatim
    * by the live ([[ivfPqTopK]]) and persisted ([[ivfPqIndexTopK]]) paths
    * so their equality is structural, not coincidental. */
  private def ivfPqServe(encoded: DataFrame, queries: DataFrame,
                         coarse: Seq[Centroid], books: Seq[Seq[Centroid]],
                         k: Int, nProbe: Int, m: Int, dim: Int): DataFrame = {
    val sub = dim / m
    def subQ(j: Int) = slice(col("q"), j * sub + 1, sub)
    val qProbes = nearestCentroids(queries, coarse, keep = nProbe)
      .select(col("vec_id").as("q_id"), col("nq").as("q_nq"), col("c_id"),
        array((0 until m).map { j =>
          array(books(j).map(c => dotq(subQ(j), typedLit(c.vec))): _*)
        }: _*).as("luts"))
    val adc = (0 until m).map { j =>
      element_at(element_at(col("luts"), j + 1),
        (element_at(col("codes"), j + 1) + 1).cast("int"))
    }.reduce(_ + _)
    // one list per corpus vector + distinct probed lists per query ⇒
    // every (corpus, query) pair scores at most once
    val scored = encoded.join(broadcast(qProbes), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        when(col("nq") === 0 || col("q_nq") === 0, 0.0)
          .otherwise(adc.cast("double") /
            (sqrt(col("nq").cast("double")) * sqrt(col("q_nq").cast("double")))))
    topK(scored, k)
  }

  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nCentroids: Int = 8, nProbe: Int = 2,
                m: Int = 4, dim: Int = 64, ksub: Int = 8,
                trainIters: Int = 2): DataFrame = {
    val (coarse, books) = trainIvfPq(corpus, nCentroids, m, dim, ksub, trainIters)
    ivfPqServe(ivfPqEncode(corpus, coarse, books, m, dim), queries,
      coarse, books, k, nProbe, m, dim)
  }

  // Persisted IVF-PQ index (a13): the a04 partitioned-assignment layout
  // with PQ codes instead of raw vectors — dim quantized longs per row
  // shrink to m codes + one norm, so the probed-partition scan is
  // bandwidth-proportional to the compressed size. ONE manifest file
  // (`IVFPQ`) carries the generation pointer, the coarse codebook, AND
  // all m subspace codebooks — a single atomic flip, because pairing a
  // new coarse book with old codes (or vice versa) mixes incompatible
  // coordinate systems (the writeManifest rationale, doubled). Its meta
  // line also records the encoding mode and the generation's read schema
  // (generationSchema), as the CODEBOOK's does.

  private def writeIvfPqManifest(dir: String, coarse: Seq[Centroid],
                                 books: Seq[Seq[Centroid]], gen: String,
                                 m: Int, dim: Int, residual: Boolean,
                                 schema: String): Unit = {
    val lines = s"meta\tdir\t$gen\t$m\t$dim\t${if (residual) "res" else "raw"}\t$schema" +:
      (coarse.map(c => s"C\t${c.cId}\t${c.nq}\t${c.vec.mkString(",")}") ++
        books.zipWithIndex.flatMap { case (b, j) =>
          b.map(c => s"B\t$j\t${c.cId}\t${c.nq}\t${c.vec.mkString(",")}")
        })
    IndexState.atomicWriteString(
      java.nio.file.Paths.get(dir, "IVFPQ"), lines.mkString("\n"))
  }

  /** Parse the manifest ONCE → (coarse codebook, PQ books, live
    * generation, m, dim, the generation's read schema). */
  private[graft] def resolveIvfPqIndex(dir: String)
      : (Seq[Centroid], Seq[Seq[Centroid]], String, Int, Int, String) = {
    val lines = java.nio.file.Files
      .readString(java.nio.file.Paths.get(dir, "IVFPQ"))
      .split("\n").toSeq.filter(_.nonEmpty)
    val meta = lines.head.split("\t")
    require(meta.length == 7 && meta(0) == "meta", s"bad IVFPQ manifest in $dir")
    val (gen, m) = (meta(2), meta(3).toInt)
    def cent(parts: Array[String], off: Int) = Centroid(
      parts(off).toLong, parts(off + 2).split(",").map(_.toLong).toSeq, parts(off + 1).toLong)
    val coarse = lines.tail.filter(_.startsWith("C\t"))
      .map(l => cent(l.split("\t"), 1))
    val books = lines.tail.filter(_.startsWith("B\t")).map(_.split("\t"))
      .groupBy(_(1).toInt).toSeq.sortBy(_._1)
      .map(_._2.map(cent(_, 2)).toSeq)
    (coarse, books, gen, m, meta(4).toInt, meta(6))
  }

  /** Whether the persisted index's codes approximate RESIDUALS (the a21
    * encoding) — recorded in the manifest so append and serve always use
    * the encoding the codes were written under; mixing would compose
    * incompatible coordinate systems silently. */
  private[graft] def ivfPqIndexResidual(dir: String): Boolean = {
    java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "IVFPQ"))
      .split("\n").head.split("\t")(5) == "res"
  }

  /** Build (or rebuild) a persisted IVF-PQ index: train both quantizers
    * (or freeze passed-in ones), encode map-only, write partitioned by
    * coarse list, flip the single manifest. */
  def buildIvfPqIndex(corpus: DataFrame, dir: String,
                      nCentroids: Int = 8, m: Int = 4, dim: Int = 64,
                      ksub: Int = 8, trainIters: Int = 2,
                      coarse: Option[Seq[Centroid]] = None,
                      books: Option[Seq[Seq[Centroid]]] = None): Unit = {
    val (co, bo) = (coarse, books) match {
      case (Some(c), Some(b)) => (c, b)
      case (cOpt, bOpt) => // train whatever is missing jointly (one pass)
        val (tc, tb) = trainIvfPq(corpus, nCentroids, m, dim, ksub, trainIters)
        (cOpt.getOrElse(tc), bOpt.getOrElse(tb))
    }
    val gen = s"assignment-b${System.nanoTime()}"
    val encoded = ivfPqEncode(corpus, co, bo, m, dim)
    encoded.repartition(col("c_id")).write.partitionBy("c_id").parquet(s"$dir/$gen")
    writeIvfPqManifest(dir, co, bo, gen, m, dim, residual = false, generationSchema(encoded, co))
  }

  /** [[buildIvfPqIndex]] with the RESIDUAL encoding (a21): same layout,
    * same manifest flip, but codes approximate x − c(x) and the manifest
    * records the mode so append/serve can never mix encodings. */
  def buildIvfRpqIndex(corpus: DataFrame, dir: String,
                       nCentroids: Int = 8, m: Int = 4, dim: Int = 64,
                       ksub: Int = 8, trainIters: Int = 2,
                       coarse: Option[Seq[Centroid]] = None,
                       books: Option[Seq[Seq[Centroid]]] = None): Unit = {
    val (co, bo) = (coarse, books) match {
      case (Some(c), Some(b)) => (c, b)
      case _ =>
        val (tc, tb) = trainIvfRpq(corpus, nCentroids, m, dim, ksub, trainIters)
        (coarse.getOrElse(tc), books.getOrElse(tb))
    }
    val gen = s"assignment-b${System.nanoTime()}"
    val encoded = ivfRpqEncode(corpus, co, bo, m, dim)
    encoded.repartition(col("c_id")).write.partitionBy("c_id").parquet(s"$dir/$gen")
    writeIvfPqManifest(dir, co, bo, gen, m, dim, residual = true, generationSchema(encoded, co))
  }

  /** Append new vectors under the FROZEN codebooks — append ≡ rebuild
    * because encode is a pure per-row function of (vector, codebooks).
    * The manifest's encoding mode decides raw vs residual codes. Same
    * single-owner writer contract as [[appendToIvfIndex]]. */
  def appendToIvfPqIndex(newVectors: DataFrame, dir: String): Unit = {
    val (co, bo, gen, m, dim, _) = resolveIvfPqIndex(dir)
    val enc =
      if (ivfPqIndexResidual(dir)) ivfRpqEncode(newVectors, co, bo, m, dim)
      else ivfPqEncode(newVectors, co, bo, m, dim)
    enc.repartition(col("c_id"))
      .write.mode("append").partitionBy("c_id").parquet(s"$dir/$gen")
  }

  /** Serve from the persisted index: probe with the manifest's coarse
    * book, scan ONLY the probed partitions (bounded probe-id collect →
    * partition-pruning IN filter), ADC-score with the manifest's PQ
    * books. Identical results to [[ivfPqTopK]] with the same build. */
  def ivfPqIndexTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                     queries: DataFrame, k: Int, nProbe: Int = 2): DataFrame = {
    val (co, bo, gen, m, dim, schema) = resolveIvfPqIndex(dir)
    val probes = nearestCentroids(queries, co, keep = nProbe)
      .select(col("c_id")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted // bounded: ≤ nCentroids
    val encoded = maskTombstones(spark, s"$dir/$gen",
      IndexState.readParquet(spark, schema, s"$dir/$gen")
        .filter(col("c_id").isin(probes: _*))
        .select(col("vec_id"), col("nq"), col("c_id").cast("long").as("c_id"), col("codes")))
    if (ivfPqIndexResidual(dir))
      ivfRpqServe(encoded, queries, co, bo, k, nProbe, m, dim)
    else ivfPqServe(encoded, queries, co, bo, k, nProbe, m, dim)
  }

  /** [[compactIvfIndex]] for the PQ-coded index: rewrite the live
    * generation minus its tombstones (codes are copied, never re-encoded
    * — the books are frozen, so compaction is pure I/O), flip the single
    * manifest. Same single-owner writer contract. */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    val (co, bo, gen, m, dim, schema) = resolveIvfPqIndex(dir)
    val target = s"assignment-${System.currentTimeMillis()}"
    val residual = ivfPqIndexResidual(dir) // the mode survives compaction
    val live = IndexState.readParquet(spark, schema, s"$dir/$gen")
    maskTombstones(spark, s"$dir/$gen", live)
      .repartition(col("c_id"))
      .write.partitionBy("c_id").parquet(s"$dir/$target")
    writeIvfPqManifest(dir, co, bo, target, m, dim, residual, generationSchema(live, co))
    target
  }

  /** QUANTIZER-DRIFT monitor — the when-to-rebuild signal every
    * frozen-codebook index needs: a04/a13/s08/s18 freeze their books at
    * build time and appends encode under them forever; when the data
    * distribution moves, vectors quantize badly and recall decays
    * SILENTLY (nothing errors — results are just worse). This measures
    * the decay: per labeled segment, the per-vector best-centroid cosine
    * (micro-quantized, the engine's 10⁻⁶ convention) aggregated to
    * `(segment, n_vecs, mean_fit, p_low)` with p_low = the fraction of
    * vectors whose fit falls under `lowFit`. A segment (say, this week's
    * crawl increment) whose mean_fit drops against the build segment —
    * or whose p_low climbs — is the retrain alarm.
    *
    * Scale: ONE map-only scan per segment — the codebook rides as plan
    * literals inside a codegen'd `greatest` (no join, no shuffle), the
    * aggregate is map-side-partial, and the output is segments-sized.
    * Mean = order-free exact integer micro-unit sum ÷ n, so the report
    * is engine-portable. */
  /** Per-vector best-centroid fit, micro-quantized — the codebook rides
    * as plan literals inside a codegen'd `greatest` (no join). */
  private[graft] def bestFitQ(cents: Seq[Centroid]): Column = {
    val sims = cents.map { c =>
      if (c.nq == 0L) lit(0.0)
      else when(col("nq") === 0, 0.0).otherwise(
        graft.expr.hfunctions.long_dot(col("q"), typedLit(c.vec)).cast("double") /
          (sqrt(col("nq").cast("double")) * math.sqrt(c.nq.toDouble)))
    }
    val best = if (sims.size == 1) sims.head else greatest(sims: _*)
    round(best * 1e6).cast("long")
  }

  def quantizerDrift(segments: Seq[(String, DataFrame)], cents: Seq[Centroid],
                     lowFit: Double = 0.5): DataFrame = {
    require(cents.nonEmpty, "quantizerDrift needs a trained codebook")
    require(segments.nonEmpty, "quantizerDrift needs at least one segment")
    val lowQ = math.round(lowFit * 1e6)
    segments.map { case (label, df) =>
      df.select(bestFitQ(cents).as("fit_q"))
        .agg(count(lit(1)).as("n_vecs"),
          (sum(col("fit_q")).cast("double") /
            (count(lit(1)) * lit(1e6))).as("mean_fit"),
          (sum(when(col("fit_q") < lowQ, 1L).otherwise(0L)).cast("double") /
            count(lit(1))).as("p_low"))
        .withColumn("segment", lit(label))
        .select("segment", "n_vecs", "mean_fit", "p_low")
    }.reduce(_ unionByName _)
  }

  /** SemDeDup-style cluster-scoped embedding dedup: k-means the corpus
    * with the deterministic codebook ([[trainCentroids]]), then WITHIN
    * each cluster drop every vector that has a near-duplicate (cosine ≥
    * threshold) with a smaller id; survivors keep their cluster id.
    * Output: the kept vectors as (vec_id, c_id).
    *
    * This is the semantic-dedup shape from the SemDeDup line of work:
    * pairwise comparison is confined to clusters, so the quadratic term
    * is Σ|cluster|² — at scale you size `nCentroids` ∝ n / (target
    * cluster size) and the per-cluster work stays bounded while the
    * corpus is scanned once for assignment (a shuffle keyed on c_id
    * that AQE can split on skewed clusters). The drop rule ("a smaller
    * id exists within cosine ≥ τ") is deterministic and engine-portable
    * — no float accumulation order, no RNG. */
  def semDedup(corpus: DataFrame, threshold: Double, nCentroids: Int = 8,
               trainIters: Int = 2,
               codebook: Option[Seq[Centroid]] = None): DataFrame = {
    // a caller-frozen codebook lets dedup run over a SUBSET (e.g. the
    // admitted docs of a curation gate) in the coordinate system of the
    // full corpus — assignment is per-row, so subset c_ids equal the
    // full-corpus assignment restricted to the subset
    val cents = codebook.getOrElse(trainCentroids(corpus, nCentroids, trainIters))
    val assigned = nearestCentroids(corpus, cents, keep = 1)
      .select(col("vec_id"), col("q"), col("nq"), col("c_id"))
    val a = assigned.select(col("c_id"), col("vec_id").as("a_id"),
      col("q").as("a_q"), col("nq").as("a_nq"))
    val b = assigned.select(col("c_id"), col("vec_id").as("b_id"),
      col("q").as("b_q"), col("nq").as("b_nq"))
    val drops = a.join(b, Seq("c_id"))
      .filter(col("a_id") < col("b_id"))
      .filter(cosineq(col("a_q"), col("b_q"), col("a_nq"), col("b_nq")) >= threshold)
      .select(col("b_id").as("vec_id")).distinct()
    assigned.join(drops, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("c_id"))
  }

  /** Cluster MEDOID selection — exemplar extraction for dataset
    * distillation / prototype-based pruning: per k-means cluster, the
    * member with the highest total micro-quantized cosine to its
    * co-members — the discrete analog of the centroid that is an ACTUAL
    * data point, usable as the cluster's face in labeling UIs, as a
    * coreset element, or as the survivor in aggressive semantic pruning
    * (where [[semDedup]] keeps the smallest id, this keeps the most
    * central). Ties break to the smaller id; singletons are their own
    * medoid (score 0).
    *
    * Scale: the pairwise term is confined to clusters — Σ|cluster|², the
    * [[semDedup]] contract (size nCentroids ∝ n / target-cluster-size);
    * scores are exact integer micro-unit sums, so the per-cluster argmax
    * is ONE max_by hash aggregate, engine-portable, no window. Output:
    * (c_id, medoid_id, cluster_size, sum_sim_q). */
  def clusterMedoids(corpus: DataFrame, nCentroids: Int = 8,
                     trainIters: Int = 2,
                     codebook: Option[Seq[Centroid]] = None): DataFrame = {
    val cents = codebook.getOrElse(trainCentroids(corpus, nCentroids, trainIters))
    val assigned = nearestCentroids(corpus, cents, keep = 1)
      .select(col("vec_id"), col("q"), col("nq"), col("c_id"))
    val a = assigned.select(col("c_id"), col("vec_id").as("a_id"),
      col("q").as("a_q"), col("nq").as("a_nq"))
    val b = assigned.select(col("c_id"), col("vec_id").as("b_id"),
      col("q").as("b_q"), col("nq").as("b_nq"))
    val scores = a.join(b, Seq("c_id"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("s", round(cosineq(col("a_q"), col("b_q"),
        col("a_nq"), col("b_nq")) * 1e6).cast("long"))
      .groupBy(col("c_id"), col("a_id")).agg(sum(col("s")).as("sum_sim_q"))
    val sizes = assigned.groupBy("c_id").agg(count(lit(1)).as("cluster_size"))
    assigned.select(col("c_id"), col("vec_id"))
      .join(scores.select(col("c_id"), col("a_id").as("vec_id"), col("sum_sim_q")),
        Seq("c_id", "vec_id"), "left")
      .withColumn("sum_sim_q", coalesce(col("sum_sim_q"), lit(0L)))
      .groupBy(col("c_id"))
      .agg(max(struct(col("sum_sim_q"), (-col("vec_id")).as("nv"))).as("b"))
      .select(col("c_id"), (-col("b.nv")).as("medoid_id"),
        col("b.sum_sim_q").as("sum_sim_q"))
      .join(sizes, Seq("c_id"))
      .select("c_id", "medoid_id", "cluster_size", "sum_sim_q")
  }

  /** Embedding near-duplicate pairs, brute force: all pairs with cosine ≥
    * threshold via an explicit cross join. O(n²) — kept ONLY as the
    * small-n oracle reference; the operator users reach for is the
    * SRP-bucketed [[cosineNearDupPairs]]. */
  def cosineNearDupPairsExact(corpus: DataFrame, threshold: Double): DataFrame = {
    val a = corpus.select(col("vec_id").as("a_id"), col("q").as("a_q"), col("nq").as("a_nq"))
    val b = corpus.select(col("vec_id").as("b_id"), col("q").as("b_q"), col("nq").as("b_nq"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("sim", cosineq(col("a_q"), col("b_q"), col("a_nq"), col("b_nq")))
      .filter(col("sim") >= threshold)
      .select("a_id", "b_id", "sim")
      // exchange-isolate the O(n²) scoring pass from a downstream global
      // sort: a sort's RangePartitioner executes its child twice (sample
      // + write), and here the child is the full cross join — the
      // survivors this shuffle carries are a tiny fraction of n²
      .repartition(col("a_id"), col("b_id"))
  }

  /** Integer hyperplane coefficients for plane `p` over dims 0..dim-1,
    * computed driver-side — value-identical to [[planeCoef]] (md5-derived,
    * in [-1000, 1000]) but materialized as a literal array so the per-row
    * work is ONE compiled `long_dot` instead of `dim` md5 calls. */
  private[graft] def planeCoefs(p: Int, dim: Int): Seq[Long] =
    (0 until dim).map(d => graft.expr.TextHash.hash60(s"${p}_${d}") % 2001L - 1000L)

  /** Rademacher (±1) random-projection coefficients for output dim `p` —
    * md5-derived like the SRP hyperplanes (salt `rp_`), so the projection
    * matrix is reproducible across runs, engines, and cluster sizes. */
  private[graft] def rpCoefs(p: Int, dim: Int): Seq[Long] =
    (0 until dim).map(d => graft.expr.TextHash.hash60(s"rp_${p}_${d}") % 2L * 2L - 1L)

  /** Johnson–Lindenstrauss dimensionality reduction: project the
    * quantized vector onto `rDim` deterministic ±1 (Rademacher) rows —
    * the database-style JL transform (Achlioptas: ±1 entries preserve
    * pairwise distances as well as Gaussians, and stay EXACT-INTEGER).
    * One MAP-ONLY projection: each output dim is a compiled
    * [[graft.expr.LongDotProduct]] against a literal coefficient array
    * (no join, no shuffle, rDim passes over a row). Output is prep()
    * shape, so every downstream ANN operator composes unchanged.
    *
    * At 100 TB this is the bandwidth lever AHEAD of the index: dim→rDim
    * cuts every later scan, shuffle, and index byte by dim/rDim while
    * keeping cosine geometry to JL distortion — and because the matrix
    * is hash-derived there is no codebook to train, ship, or version. */
  def rpReduce(side: DataFrame, rDim: Int, dim: Int): DataFrame = {
    // ONE compiled pass emits all rDim dots + the reduced norm
    // ([[graft.expr.RpProject]]); the per-output-dim long_dot formulation
    // re-inlined the interpreted quantize lambda into every dot and the
    // norm after projection collapse (~34 evals/row) and blocked codegen.
    // `r` is referenced twice below, and rp_project is not cheap, so
    // CollapseProject keeps the two Projects separate — one eval per row.
    val coefMatrix = Array.tabulate(rDim)(p => rpCoefs(p, dim).toArray)
    side.select(col("vec_id"),
        graft.expr.hfunctions.rp_project(col("q"), coefMatrix).as("r"))
      .select(col("vec_id"), slice(col("r"), 1, rDim).as("q"),
        element_at(col("r"), rDim + 1).as("nq"))
  }

  /** ANN in the reduced space: JL-project both sides, brute top-k there
    * (the exact scorer is [[bruteForceTopK]] — reduction composes with
    * any of the index paths the same way). Scores are exact-integer over
    * the projected vectors, so the DuckDB oracle replays them bit for
    * bit; recall vs full-dim brute force is the JL-distortion price,
    * pinned (as a collapse floor) in SimilaritySpec. */
  def rpTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             rDim: Int = 16, dim: Int = 64): DataFrame =
    bruteForceTopK(rpReduce(corpus, rDim, dim), rpReduce(queries, rDim, dim), k)

  /** SRP band codes: an array of `bands` bucket ids, band `b` built from
    * the sign bits of `planesPerBand` hyperplane dot products (global
    * plane index = b*planesPerBand + j). ONE compiled pass over the
    * vector ([[graft.expr.SrpCodes]]) — the per-plane `when(long_dot…)`
    * formulation re-inlines the quantize lambda into every plane after
    * projection collapse (bands×planes interpreted transforms per row). */
  def srpBandCodes(q: Column, bands: Int, planesPerBand: Int, dim: Int): Column =
    graft.expr.hfunctions.srp_codes(q,
      Array.tabulate(bands * planesPerBand)(p => planeCoefs(p, dim).toArray), planesPerBand)

  /** Derive an SRP (bands, planesPerBand) config from the verification
    * threshold. A pair at similarity s agrees with one hyperplane w.p.
    * p = 1 − arccos(s)/π, collides on a band of r planes w.p. p^r, and is
    * missed only if all b bands miss: miss = (1 − p^r)^b. For each r this
    * solves the smallest b meeting `targetMissProb` at s = threshold, keeps
    * the configs that fit the packed-word budget (b·r ≤ maxBits), and picks
    * the one minimizing the candidate-volume constant b/2^r (random pairs
    * collide on a band w.p. ≈ 2^-r, so near-uniform buckets yield
    * ≈ b/2^r · n² candidates) — ties break toward more planes per band.
    * Higher thresholds buy sharper bands: 0.4 → (19, 2) (c ≈ 4.75, the
    * best the bit budget allows at so permissive a threshold), 0.8 →
    * (14, 3) (c ≈ 1.75), 0.9 → more planes still. This is the guard rail
    * that keeps a defaults-at-scale user off the quadratic cliff the old
    * fixed 32×2 default (c = 8) baked in. */
  def srpConfigFor(threshold: Double, targetMissProb: Double = 1e-4,
                   maxBits: Int = 64): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0, s"threshold in (0,1), got $threshold")
    require(targetMissProb > 0.0 && targetMissProb < 1.0, s"targetMissProb in (0,1)")
    val p = 1.0 - math.acos(threshold) / math.Pi
    val feasible = (1 to maxBits).flatMap { r =>
      val pr = math.pow(p, r)
      val b = math.max(1, math.ceil(math.log(targetMissProb) / math.log1p(-pr)).toInt)
      if (b.toLong * r <= maxBits) Some((b, r)) else None
    }
    require(feasible.nonEmpty,
      s"no (bands, planes) config within $maxBits bits meets miss<$targetMissProb at threshold $threshold")
    feasible.minBy { case (b, r) => (b / math.pow(2.0, r), -r) }
  }

  /** Embedding near-duplicate pairs: all pairs with cosine ≥ threshold,
    * found via multi-band SRP-LSH candidates + exact verification — the
    * same candidates→verify shape as [[Dedup.minhashLshPairs]], and the
    * scale path that replaces the all-pairs cross join.
    *
    * Mechanics: every vector gets `bands` bucket codes (each from
    * `planesPerBand` deterministic hyperplane sign bits); candidates are
    * pairs sharing a (band, bucket); each candidate is verified with the
    * exact integer cosine BEFORE the final distinct, so the only large
    * shuffle is the band-bucket self-join (n×bands rows, vector payload
    * carried once per side) — never a quadratic pair set.
    *
    * The band config defaults to [[srpConfigFor]] — derived from the
    * threshold so recall at the threshold boundary meets the 1e-4 miss
    * target with the smallest candidate-volume constant the 64-bit packed
    * word allows. Passing explicit (bands, planesPerBand) overrides the
    * derivation (the recall/cost dial); a config whose candidate constant
    * is worse than the derived one gets a loud stderr warning, because at
    * 100 TB that constant multiplies an n² term.
    *
    * `dim` is the (fixed, known) embedding dimension — it sizes the
    * literal hyperplane arrays at plan time. */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double, dim: Int,
                         bands: Int = 0, planesPerBand: Int = 0): DataFrame = {
    require((bands > 0) == (planesPerBand > 0),
      "pass both bands and planesPerBand, or neither (auto-derive from threshold)")
    val (derivedB, derivedR) = srpConfigFor(threshold)
    val (nBands, nPlanes) = if (bands > 0) (bands, planesPerBand) else (derivedB, derivedR)
    require(nBands * nPlanes <= 64,
      s"bands*planesPerBand must fit one packed word, got ${nBands * nPlanes} bits")
    val cFactor = nBands / math.pow(2.0, nPlanes)
    val derivedC = derivedB / math.pow(2.0, derivedR)
    if (cFactor > derivedC * 1.5)
      System.err.println(
        f"[graft] WARN cosineNearDupPairs: explicit SRP config ${nBands}x$nPlanes implies ~$cFactor%.2f*n^2 " +
          f"candidate pairs on near-uniform buckets; the threshold-derived config " +
          f"${derivedB}x$derivedR achieves the same recall target at ~$derivedC%.2f*n^2 — " +
          "prefer srpConfigFor (fewer bands of more planes) at scale")
    // The band self-join is the volume hazard (≈ bands/2^planesPerBand ×
    // n² rows for near-uniform buckets), so its rows stay SLIM: id plus
    // the full band-code vector PACKED into one 64-bit word (default 32
    // bands × 2 planes = exactly 64 bits). Carrying the raw code arrays
    // (~270 B/side) or the vectors themselves through that join measurably
    // doubled the operator's cost; vectors join back only for surviving
    // candidates — the same candidates→verify shape as minhashLshPairs.
    val withCodes = corpus.select(col("vec_id"), col("q"), col("nq"),
        srpBandCodes(col("q"), nBands, nPlanes, dim).as("codes"))
      .withColumn("packed", graft.expr.hfunctions.pack_codes(col("codes"), nPlanes))
    val coded = withCodes.select(col("vec_id"), col("packed"),
      posexplode(col("codes")).as(Seq("band", "bucket")))
    val l = coded.select(col("band"), col("bucket"),
      col("vec_id").as("a_id"), col("packed").as("a_p"))
    val r = coded.select(col("band"), col("bucket"),
      col("vec_id").as("b_id"), col("packed").as("b_p"))
    val candidates = l.join(r, Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      // keep a pair ONLY in its first colliding band (a few ALU ops on
      // the packed words): each unique pair survives exactly once — no
      // distinct, no duplicate verification for pairs sharing many bands
      .filter(graft.expr.hfunctions.packed_first_eq(col("a_p"), col("b_p"), nPlanes) === col("band"))
      .select("a_id", "b_id")
    val vecs = withCodes.select(col("vec_id"), col("q"), col("nq"))
    candidates
      .join(vecs.select(col("vec_id").as("a_id"), col("q").as("a_q"), col("nq").as("a_nq")), Seq("a_id"))
      .join(vecs.select(col("vec_id").as("b_id"), col("q").as("b_q"), col("nq").as("b_nq")), Seq("b_id"))
      .withColumn("sim", cosineq(col("a_q"), col("b_q"), col("a_nq"), col("b_nq")))
      .filter(col("sim") >= threshold)
      .select("a_id", "b_id", "sim")
      // exchange-isolate the verify join from a downstream global sort
      // (see cosineNearDupPairsExact): survivors ≪ candidates
      .repartition(col("a_id"), col("b_id"))
  }

  /** Recall@k of an approximate retriever against the exact ranking —
    * the "measure, don't guess" harness for the ANN family (IVF/PQ/SQ
    * trade recall for scan cost; this makes the trade a number). Inputs
    * are two top-k frames in the (q_id, n_id, …) serving shape, i.e.
    * queries×k rows each — everything here is broadcast-sized, so the
    * eval costs nothing beyond the retrievals it measures. Output:
    * (q_id, n_exact, n_hit, recall) with recall one exact small-integer
    * division. */
  /** The recall-vs-nProbe tuning curve: ONE codebook (trained once) and
    * one brute-force truth set serve every probe level, so the sweep
    * costs one training + |probes| broadcast-probe scoring passes — the
    * "how many lists must I probe for 95% recall" number an operator
    * reads before fixing nProbe in production. Output: one row per
    * probe level (n_probe, n_queries, n_exact, n_hit, recall). */
  def recallSweep(corpus: DataFrame, queries: DataFrame, k: Int,
                  nCentroids: Int, probes: Seq[Int],
                  trainIters: Int = 2): DataFrame = {
    require(probes.nonEmpty, "need at least one probe level")
    val cents = trainCentroids(corpus, nCentroids, trainIters)
    val brute = bruteForceTopK(corpus, queries, k)
    val corpusAssigned = nearestCentroids(corpus, cents, keep = 1)
    probes.map { p =>
      val queryProbes = nearestCentroids(queries, cents, keep = p)
        .select(col("vec_id").as("q_id"), col("q").as("q_vec"),
          col("nq").as("q_nq"), col("c_id"))
      val scored = corpusAssigned.join(broadcast(queryProbes), Seq("c_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("sim", cosineq(col("q"), col("q_vec"), col("nq"), col("q_nq")))
      recallAtK(brute, topK(scored, k))
        .agg(count(lit(1)).as("n_queries"), sum(col("n_exact")).as("n_exact"),
          sum(col("n_hit")).as("n_hit"))
        .select(lit(p.toLong).as("n_probe"), col("n_queries"),
          col("n_exact"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_exact")).as("recall"))
    }.reduce(_ unionByName _)
  }

  /** Recall-TARGETED serving: run the [[recallSweep]] tuning curve,
    * pick the CHEAPEST probe level whose measured recall meets
    * `targetRecall` (the largest offered level if none does), and serve
    * top-k at that level — the auto-tuning loop an operator otherwise
    * runs by hand before fixing nProbe in production, closed inside the
    * engine so the SLO, not a guess, picks the scan fraction.
    *
    * The sweep frame is |probes|-sized — the bounded collect every
    * tuner does; training is deterministic, so the sweep's codebook and
    * the serving codebook are the same object in effect. Output: a03's
    * (q_id, n_id, sim, rk) plus the chosen `n_probe`. */
  def autoTuneTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                   nCentroids: Int, probes: Seq[Int],
                   targetRecall: Double): DataFrame = {
    val sweep = recallSweep(corpus, queries, k, nCentroids, probes)
      .select(col("n_probe"), col("recall")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1)
    val chosen = sweep.find(_._2 >= targetRecall).map(_._1)
      .getOrElse(sweep.last._1)
    ivfTopK(corpus, queries, k, nCentroids, chosen.toInt)
      .withColumn("n_probe", lit(chosen))
  }

  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("q_id"), col("n_id"))
      .join(approx.select(col("q_id"), col("n_id"), lit(1L).as("hit")),
        Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
      .select(col("q_id"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact")).as("recall"))
}
