package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The SRP-bucketed near-dup operator must be a drop-in for the exact
  * cross join on the fixture: every pair ≥ threshold recovered (recall
  * 1.0 — precision is structural, candidates are exact-verified), with no
  * cartesian product anywhere in the plan. */
class SimilaritySpec extends SparkSpec {

  private lazy val corpus =
    Similarity.prep(spark.read.parquet(s"$sf0001/embeddings.parquet"), "vec_id", "embedding")

  test("bucketed near-dup pairs == exact cross-join pairs at threshold 0.4") {
    val exact = Similarity.cosineNearDupPairsExact(corpus, 0.4)
      .orderBy("a_id", "b_id").collect().toSeq
    val bucketed = Similarity.cosineNearDupPairs(corpus, 0.4, dim = 64)
      .orderBy("a_id", "b_id").collect().toSeq
    assert(exact.nonEmpty, "fixture must contain near-dup pairs")
    assert(bucketed == exact)
  }

  test("bucketed near-dup plan has no cartesian product") {
    val plan = Similarity.cosineNearDupPairs(corpus, 0.4, dim = 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("srpConfigFor: threshold-derived configs meet the miss target and shrink candidates") {
    def c(br: (Int, Int)) = br._1 / math.pow(2.0, br._2)
    def miss(t: Double, br: (Int, Int)) = {
      val p = 1 - math.acos(t) / math.Pi
      math.pow(1 - math.pow(p, br._2), br._1)
    }
    val at04 = Similarity.srpConfigFor(0.4)
    val at08 = Similarity.srpConfigFor(0.8)
    val at09 = Similarity.srpConfigFor(0.9)
    for ((t, br) <- Seq(0.4 -> at04, 0.8 -> at08, 0.9 -> at09)) {
      assert(br._1 * br._2 <= 64, s"$br must fit the packed word")
      assert(miss(t, br) <= 1e-4, s"recall target violated at $t by $br")
    }
    // the old fixed default (32x2) put EVERY threshold at c = 8; derived
    // configs spend the bit budget on more planes as the threshold rises
    assert(c(at04) < 8.0, s"derived 0.4 config $at04 must beat the fixed 32x2")
    assert(at08._2 >= 3 && c(at08) <= 2.0,
      s"a 0.8-threshold corpus should get fewer bands of more planes, got $at08")
    assert(at09._2 > at08._2 && c(at09) < c(at08),
      s"sharper threshold must buy sharper bands: $at09 vs $at08")
  }

  test("auto-derived config keeps recall 1.0 vs exact at a realistic threshold (0.8)") {
    val exact = Similarity.cosineNearDupPairsExact(corpus, 0.8)
      .orderBy("a_id", "b_id").collect().toSeq
    val bucketed = Similarity.cosineNearDupPairs(corpus, 0.8, dim = 64)
      .orderBy("a_id", "b_id").collect().toSeq
    assert(bucketed == exact)
  }

  test("bruteForceTopK: bounded-heap aggregate == window row_number, no Window in plan") {
    import org.apache.spark.sql.expressions.Window
    val queries = corpus.filter(col("vec_id") < 7)
    val got = Similarity.bruteForceTopK(corpus, queries, 5)
      .orderBy("q_id", "rk").collect().toSeq

    val q = queries.select(col("vec_id").as("q_id"), col("q").as("q_vec"), col("nq").as("q_nq"))
    val scored = corpus.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", Similarity.cosineq(col("q"), col("q_vec"), col("nq"), col("q_nq")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id").asc)
    val expected = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id").as("n_id"), col("sim"), col("rk").cast("long").as("rk"))
      .orderBy("q_id", "rk").collect().toSeq
    assert(got == expected)

    val plan = Similarity.bruteForceTopK(corpus, queries, 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "top-k must not shuffle all scored pairs into a window")
    assert(plan.contains("partial_topk_by"), "map-side partial aggregation expected:\n" + plan.take(900))
  }

  test("deterministic k-means: codebook is stable and IVF recall vs brute force is useful") {
    val cents = Similarity.trainCentroids(corpus, 8)
    val again = Similarity.trainCentroids(corpus, 8)
    assert(cents == again, "training must be bit-deterministic across runs")
    assert(cents.length == 8)

    val queries = corpus.filter(col("vec_id") < 7)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(corpus, queries, 5))
    def recallAt(nProbe: Int) = {
      val ivf = pairs(Similarity.ivfTopK(corpus, queries, 5, nProbe = nProbe))
      (brute & ivf).size.toDouble / brute.size
    }
    val r2 = recallAt(2)
    val r4 = recallAt(4)
    info(f"IVF(8 centroids) recall vs brute-force top-5: $r2%.3f @2 probes, $r4%.3f @4 probes")
    // measured on this fixture: ~0.49 @2, higher @4 — the probe count is
    // the recall/scan-cost dial; the floor guards against a collapsed
    // codebook (e.g. all vectors in one list), not a tuned target
    assert(r2 >= 0.3, f"recall $r2%.3f collapsed — codebook or probe logic broke")
    assert(r4 >= r2, f"more probes must not lose recall: $r4%.3f < $r2%.3f")
  }

  test("SQ8 refinement: exact sims on candidates, recall >= plain SQ8, candidates confined to stage-1 top-m") {
    val queries = corpus.filter(col("vec_id") < 7)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(corpus, queries, 5))
    val sq8 = pairs(Similarity.sq8TopK(corpus, queries, 5, dim = 64))
    val refined = Similarity.sq8RefineTopK(corpus, queries, k = 5, m = 20, dim = 64)
    val refinedPairs = pairs(refined)
    def recall(s: Set[(Long, Long)]) = (brute & s).size.toDouble / brute.size
    info(f"recall vs brute: sq8 ${recall(sq8)}%.3f, refined(m=20) ${recall(refinedPairs)}%.3f")
    assert(recall(refinedPairs) >= recall(sq8),
      "widening to m=20 then re-ranking exactly must not lose recall")
    // refined sims are EXACT cosines — each (q, n) pair's sim must equal
    // the brute-force score for that pair
    val bruteSims = Similarity.bruteForceTopK(corpus, queries, 20)
      .select("q_id", "n_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    refined.select("q_id", "n_id", "sim").collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bruteSims.get(key).foreach(exact =>
        assert(r.getDouble(2) == exact, s"refined sim for $key not exact"))
    }
    // candidates are confined to stage 1's top-20
    val stage1 = pairs(Similarity.sq8TopK(corpus, queries, 20, dim = 64))
    assert(refinedPairs.subsetOf(stage1), "stage 2 must only re-rank stage-1 candidates")
  }

  test("binary ANN: sign-bit Hamming pre-rank + exact re-rank; widening m never loses recall") {
    val queries = corpus.filter(col("vec_id") < 7)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(corpus, queries, 5))
    val at20 = pairs(Similarity.binaryTopK(corpus, queries, k = 5, m = 20))
    val at60 = pairs(Similarity.binaryTopK(corpus, queries, k = 5, m = 60))
    def recall(s: Set[(Long, Long)]) = (brute & s).size.toDouble / brute.size
    info(f"binary+refine recall vs brute: ${recall(at20)}%.3f @m=20, ${recall(at60)}%.3f @m=60")
    assert(recall(at60) >= recall(at20),
      "a wider refinement margin must not lose recall")
    assert(recall(at20) >= 0.2, f"recall ${recall(at20)}%.3f collapsed — sign codes broke")
    // re-ranked sims are exact cosines (shared exactRerank contract)
    val bruteSims = Similarity.bruteForceTopK(corpus, queries, 60)
      .select("q_id", "n_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Similarity.binaryTopK(corpus, queries, k = 5, m = 20)
      .select("q_id", "n_id", "sim").collect().foreach { r =>
        bruteSims.get((r.getLong(0), r.getLong(1))).foreach(exact =>
          assert(r.getDouble(2) == exact))
      }
  }

  test("IVF-PQR: refined recall >= plain IVF-PQ, exact sims, candidates from the probed lists") {
    val queries = corpus.filter(col("vec_id") < 7)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(corpus, queries, 5))
    val plain = pairs(Similarity.ivfPqTopK(corpus, queries, 5))
    val refined = Similarity.ivfPqRefineTopK(corpus, queries, k = 5, refineM = 20)
    val refinedPairs = pairs(refined)
    def recall(s: Set[(Long, Long)]) = (brute & s).size.toDouble / brute.size
    info(f"recall vs brute: ivfpq ${recall(plain)}%.3f, +refine(m=20) ${recall(refinedPairs)}%.3f")
    assert(recall(refinedPairs) >= recall(plain),
      "exact re-rank over a 4x candidate margin must not lose recall")
    // refined sims are exact cosines
    val bruteSims = Similarity.bruteForceTopK(corpus, queries, 50)
      .select("q_id", "n_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    refined.select("q_id", "n_id", "sim").collect().foreach { r =>
      bruteSims.get((r.getLong(0), r.getLong(1))).foreach(exact =>
        assert(r.getDouble(2) == exact, s"refined sim not exact at ${(r.getLong(0), r.getLong(1))}"))
    }
    // stage 2 only re-ranks stage 1's candidates
    val stage1 = pairs(Similarity.ivfPqTopK(corpus, queries, 20))
    assert(refinedPairs.subsetOf(stage1))
  }

  test("JL random projection: deterministic, map-only, preserves near-dup separation") {
    // the JL guarantee that matters for dedup/prefiltering: genuinely
    // similar pairs stay separated from the bulk after reduction (top-k
    // RANK preservation is hopeless on near-uniform synthetic vectors —
    // there is no low-dimensional structure to keep — and is not what
    // the operator is for)
    import org.apache.spark.sql.DataFrame
    def pairSims(reduced: Boolean): Map[(Long, Long), Double] = {
      val side = if (reduced) Similarity.rpReduce(corpus, 16, 64) else corpus
      val ex = Similarity.cosineNearDupPairsExact(side, threshold = -1.0)
      ex.select("a_id", "b_id", "sim").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    }
    val full = pairSims(reduced = false)
    val red = pairSims(reduced = true)
    val dupKeys = full.filter(_._2 >= 0.4).keySet
    assert(dupKeys.nonEmpty, "fixture must contain near-dup pairs")
    val dupRed = dupKeys.toSeq.map(red)
    val bulkRed = (full.keySet -- dupKeys).toSeq.map(red)
    val dupMean = dupRed.sum / dupRed.size
    val bulkMean = bulkRed.sum / bulkRed.size
    info(f"reduced-space cosine: near-dups mean $dupMean%.3f min ${dupRed.min}%.3f; bulk mean $bulkMean%.3f")
    // separation floors, not tuned targets: planted dups must stay far
    // above the (near-zero-mean) bulk IN THE MEAN after 64→16 reduction
    // (the per-pair estimator's σ ≈ 1/√16 — an individual threshold-edge
    // pair can land anywhere; measured: dup mean 0.47, bulk mean 0.00)
    assert(dupMean > bulkMean + 0.3,
      f"JL collapsed the dup margin: dup mean $dupMean%.3f vs bulk mean $bulkMean%.3f")
    assert(dupMean > 0.3, f"near-dup pairs lost their similarity: $dupMean%.3f")
    // determinism: the md5-derived matrix is run-stable
    assert(Similarity.rpCoefs(3, 64) == Similarity.rpCoefs(3, 64))
    assert(Similarity.rpCoefs(3, 64).forall(c => c == 1L || c == -1L))
    // map-only: no exchange anywhere before the top-k partial aggregate
    val plan = Similarity.rpReduce(corpus, 16, 64).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "JL reduction must be a pure projection:\n" + plan.take(600))
  }

  test("joint space training == per-subspace trainCentroids, bit for bit") {
    // the joint trainer (one seed job + one job per Lloyd iteration for
    // ALL spaces) must reproduce the sequential per-subspace formulation
    // exactly — the oracles replay the sequential convention in SQL
    val joint = Similarity.trainPqCodebooks(corpus, m = 4, dim = 64)
    val seq = Similarity.trainPqCodebooksSequential(corpus, m = 4, dim = 64)
    assert(joint == seq)
    // and the composed IVF-PQ trainer matches separate coarse + books
    val (co, bo) = Similarity.trainIvfPq(corpus, 8, m = 4, dim = 64)
    assert(co == Similarity.trainCentroids(corpus, 8, 2))
    assert(bo == seq)
  }

  test("PQ-ADC: deterministic codebooks, self-consistent codes, useful recall vs brute force") {
    // codebooks are bit-deterministic (the IVF property per subspace)
    val books = Similarity.trainPqCodebooks(corpus, m = 4, dim = 64)
    assert(books == Similarity.trainPqCodebooks(corpus, m = 4, dim = 64))
    assert(books.length == 4 && books.forall(_.length == 8))
    // every subspace codebook vector has the subspace dimensionality
    assert(books.flatten.forall(_.vec.length == 16))

    val queries = corpus.filter(col("vec_id") < 7)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(corpus, queries, 5))
    val pq = pairs(Similarity.pqTopK(corpus, queries, 5, m = 4, dim = 64))
    val recall = (brute & pq).size.toDouble / brute.size
    info(f"PQ(4x16, 8 codes) recall vs brute-force top-5: $recall%.3f")
    // near-uniform random embeddings are the WORST case for product
    // quantization (subspace residuals are isotropic noise, measured
    // ~0.09 here); the floor is ~4x the random-guess baseline of
    // k/|corpus| ≈ 0.008 at this fixture size — it catches a collapsed
    // quantizer (every vector in one cell scores constant → recall ≈
    // random), not a tuned accuracy target. Real corpora cluster, which
    // is the regime PQ (and its a04 IVF composition) is built for.
    assert(recall >= 0.03, f"recall $recall%.3f ≈ random — encode or ADC broke")

    // ADC exactness contract: when the scored "corpus" contains exactly
    // the per-subspace centroid concatenations, every vector encodes to
    // itself and the ADC dot IS the exact dot — PQ top-1 must equal
    // brute-force top-1 on that reconstruction corpus
    import spark.implicits._
    val recon = (0 until 8).map { c =>
      (c.toLong + 1000L, books.flatMap(b => b(c).vec))
    }.toDF("vec_id", "q").withColumn("nq", graft.expr.hfunctions.long_dot(col("q"), col("q")))
    val bruteR = Similarity.bruteForceTopK(recon, recon.filter(col("vec_id") === 1000L), 1)
      .select("n_id").collect().map(_.getLong(0)).toSet
    val pqR = Similarity.pqTopK(recon, recon.filter(col("vec_id") === 1000L), 1,
        m = 4, dim = 64)
      .select("n_id").collect().map(_.getLong(0)).toSet
    assert(pqR == bruteR, s"ADC must be exact on centroid reconstructions: $pqR vs $bruteR")
  }

  test("IVF-PQ: probing ALL lists == flat PQ; pruning only narrows the candidate set") {
    val queries = corpus.filter(col("vec_id") < 7)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id", "sim", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    // with every list probed the coarse quantizer prunes nothing, so
    // IVF-PQ must reproduce flat PQ-ADC bit-for-bit (sims included)
    val flat = rows(Similarity.pqTopK(corpus, queries, 5, m = 4, dim = 64))
    val allProbes = rows(Similarity.ivfPqTopK(corpus, queries, 5,
      nCentroids = 8, nProbe = 8, m = 4, dim = 64))
    assert(allProbes == flat, "nProbe = nCentroids must equal flat PQ")
    // with real pruning the result is a subset of per-query candidates:
    // every returned neighbor must also be an ADC-scored candidate of
    // the flat path's ranking universe (same sim for the same pair)
    val pruned = Similarity.ivfPqTopK(corpus, queries, 5,
      nCentroids = 8, nProbe = 2, m = 4, dim = 64)
      .select("q_id", "n_id", "sim").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pruned.nonEmpty)
    val flatAllSims = Similarity.pqTopK(corpus, queries, 600, m = 4, dim = 64)
      .select("q_id", "n_id", "sim").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    pruned.foreach { case (pair, sim) =>
      assert(flatAllSims.get(pair).contains(sim),
        s"pruned pair $pair sim $sim must match the flat ADC sim ${flatAllSims.get(pair)}")
    }
  }

  test("SQ8: deterministic range codebook, bounded sim error, endpoint corpora score EXACTLY") {
    val queries = corpus.filter(col("vec_id") < 7)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(corpus, queries, 5))
    val sq8 = Similarity.sq8TopK(corpus, queries, 5, dim = 64)
    val recall = (brute & pairs(sq8)).size.toDouble / brute.size
    info(f"SQ8 recall vs brute-force top-5: $recall%.3f")
    // 8 bits PER DIMENSION is near-exact (contrast PQ's ~0.09 here): a
    // big recall drop means the affine encode or the scaled-integer
    // dequantization broke
    assert(recall >= 0.6, f"recall $recall%.3f — 8-bit/dim should be near-exact")

    // per-pair sim error bounded by the quantization step
    val exactSims = Similarity.bruteForceTopK(corpus, queries, 600)
      .select("q_id", "n_id", "sim").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val maxErr = sq8.select("q_id", "n_id", "sim").collect()
      .map(r => math.abs(r.getDouble(2) - exactSims((r.getLong(0), r.getLong(1))))).max
    info(f"SQ8 max |sim - exact sim|: $maxErr%.5f")
    assert(maxErr <= 0.02, f"quantization error $maxErr%.5f out of bounds")

    // the range codebook is bit-deterministic
    val (m1, s1) = Similarity.trainSq8Range(corpus, 64)
    assert((m1, s1) == Similarity.trainSq8Range(corpus, 64))
    assert(m1.length == 64 && s1.forall(_ >= 0))

    // endpoint corpus: every component is a per-dim range endpoint, so
    // codes are exactly 0/255 and dequantization loses NOTHING — ranks
    // must match brute force exactly and sims to the last-ulp tolerance
    // of the ×255 scale cancelling numerically (sqrt(255²·n) vs
    // 255·sqrt(n) can differ by one ulp)
    import spark.implicits._
    val endpoint = (0 until 10).map { v =>
      (v.toLong,
        (0 until 64).map(d => if ((v + d) % 2 == 0) -(d + 1).toLong else (d + 13).toLong))
    }.toDF("vec_id", "q")
      .withColumn("nq", graft.expr.hfunctions.long_dot(col("q"), col("q")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id", "sim", "rk").collect()
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(3)), r.getDouble(2))).toMap
    val eb = rows(Similarity.bruteForceTopK(endpoint, endpoint.filter(col("vec_id") < 3), 4))
    val es = rows(Similarity.sq8TopK(endpoint, endpoint.filter(col("vec_id") < 3), 4, dim = 64))
    assert(es.keySet == eb.keySet, s"endpoint ranks must match exactly: $es vs $eb")
    es.foreach { case (key, sim) =>
      assert(math.abs(sim - eb(key)) < 1e-12, s"endpoint sim at $key: $sim vs ${eb(key)}")
    }
  }

  test("compiled srpBucketFast == higher-order-function srpBucket (a02's oracle contract)") {
    val rows = corpus.limit(50)
      .select(Similarity.srpBucket(col("q"), 8).as("hof"),
        Similarity.srpBucketFast(col("q"), 8, 64).as("fast"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("persisted IVF index: identical results to the live path, partition-pruned scans") {
    val work = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    val cents = Similarity.buildIvfIndex(corpus, work)
    assert(Similarity.openIvfCodebook(work) == cents, "codebook must round-trip")

    val queries = corpus.filter(col("vec_id") < 7)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rk").collect().toSeq
    val live = rows(Similarity.ivfTopK(corpus, queries, 5))
    val served = rows(Similarity.ivfIndexTopK(spark, work, queries, 5))
    assert(served == live, "index must be just the precomputed half of the live path")

    // the probed-centroid filter must reach the scan as PARTITION pruning
    // — serving reads ~nProbe/nCentroids of the files, the point of IVF
    val plan = Similarity.ivfIndexTopK(spark, work, queries, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("c_id"),
      "probed centroids must prune partitions:\n" + plan.take(1200))
  }

  test("IVF append: incremental adds ≡ a from-scratch build with the same codebook") {
    val half1 = corpus.filter(col("vec_id") % 2 === 0)
    val half2 = corpus.filter(col("vec_id") % 2 === 1)
    val queries = corpus.filter(col("vec_id") < 7)

    val incDir = java.nio.file.Files.createTempDirectory("graft_ivf_inc").toString
    val cents = Similarity.buildIvfIndex(half1, incDir)
    Similarity.appendToIvfIndex(half2, incDir)

    val fullDir = java.nio.file.Files.createTempDirectory("graft_ivf_full").toString
    Similarity.buildIvfIndex(corpus, fullDir, codebook = Some(cents))

    def rows(dir: String) = Similarity.ivfIndexTopK(spark, dir, queries, 5)
      .orderBy("q_id", "rk").collect().toSeq
    assert(rows(incDir) == rows(fullDir),
      "append must be indistinguishable from rebuilding with the same codebook")
  }

  test("persisted IVF-PQ: manifest round-trips, build+append ≡ live path, partitions prune") {
    val work = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    val co = Similarity.trainCentroids(corpus, 8, 2)
    val bo = Similarity.trainPqCodebooks(corpus, m = 4, dim = 64)
    Similarity.buildIvfPqIndex(corpus.filter(col("vec_id") % 2 === 0), work,
      coarse = Some(co), books = Some(bo))
    Similarity.appendToIvfPqIndex(corpus.filter(col("vec_id") % 2 === 1), work)

    val (co2, bo2, _, m2, dim2, _) = Similarity.resolveIvfPqIndex(work)
    assert(co2 == co && bo2 == bo && m2 == 4 && dim2 == 64,
      "both codebooks must round-trip through the single manifest")

    val queries = corpus.filter(col("vec_id") < 7)
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("q_id", "rk").collect().toSeq
    // ivfPqTopK trains on the full corpus — deterministic, so same books
    val live = rows(Similarity.ivfPqTopK(corpus, queries, 5))
    val served = rows(Similarity.ivfPqIndexTopK(spark, work, queries, 5))
    assert(served == live, "persisted build+append must equal the live path")

    val plan = Similarity.ivfPqIndexTopK(spark, work, queries, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("c_id"),
      "probed lists must prune partitions:\n" + plan.take(1200))
  }

  test("filtered ANN: metadata predicate pushes into the probed-partition scan") {
    val work = java.nio.file.Files.createTempDirectory("graft_ivf_attr").toString
    val attributed = corpus.withColumn("grp",
      when(col("vec_id") % 2 === 0, "even").otherwise("odd"))
    Similarity.buildIvfIndex(attributed, work)
    val queries = corpus.filter(col("vec_id") < 7)
    val served = Similarity.ivfIndexTopK(spark, work, queries, 5,
      attrFilter = Some(col("grp") === "even"))
    val got = served.collect().map(_.getAs[Long]("n_id"))
    assert(got.nonEmpty && got.forall(_ % 2 == 0),
      s"only even-attr vectors may surface: ${got.toSeq}")
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("c_id"),
      "probed lists must still prune partitions:\n" + plan.take(1200))
    assert(plan.contains("PushedFilters") && plan.contains("grp"),
      "the attribute predicate must reach the parquet scan:\n" + plan.take(1200))
  }

  test("a dim mismatch between vectors and hyperplanes fails loudly, never silently buckets") {
    val e = intercept[Exception] {
      corpus.limit(3).select(Similarity.srpBucketFast(col("q"), 8, 32)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("hyperplanes were built for 32")),
      s"expected the srp_codes dim guard, got: $e")
  }

  test("IVF compaction: pointer flip preserves results, collapses append files, vacuums old gen") {
    import scala.jdk.CollectionConverters._
    def parquetFiles(d: String): Int = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      try walk.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally walk.close()
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_cmp").toString
    val queries = corpus.filter(col("vec_id") < 7)
    Similarity.buildIvfIndex(corpus.filter(col("vec_id") % 3 === 0), dir)
    Similarity.appendToIvfIndex(corpus.filter(col("vec_id") % 3 === 1), dir)
    Similarity.appendToIvfIndex(corpus.filter(col("vec_id") % 3 === 2), dir)

    def rows() = Similarity.ivfIndexTopK(spark, dir, queries, 5)
      .orderBy("q_id", "rk").collect().toSeq
    val before = rows()
    val genBefore = java.nio.file.Paths.get(Similarity.assignmentDir(dir))
      .getFileName.toString
    val filesBefore = parquetFiles(Similarity.assignmentDir(dir))

    val gen = Similarity.compactIvfIndex(spark, dir)
    assert(Similarity.assignmentDir(dir).endsWith(gen))
    assert(rows() == before, "compaction must not change serving results")
    assert(parquetFiles(Similarity.assignmentDir(dir)) < filesBefore,
      s"appends left $filesBefore files; compaction must collapse them")

    // appends after compaction land in the live generation (a NEW vector
    // id — identical payload to vec 0 — must now show up in serving)
    Similarity.appendToIvfIndex(
      corpus.filter(col("vec_id") === 0).withColumn("vec_id", lit(100000L)), dir)
    val afterAppend = rows()
    assert(afterAppend != before && afterAppend.exists(_.getLong(1) == 100000L),
      "a post-compaction append must be served")

    // the superseded original survives the grace window, then vacuums
    assert(Similarity.vacuumIvfIndex(dir).isEmpty)
    val dropped = Similarity.vacuumIvfIndex(dir, graceMs = 0L)
    assert(dropped == Seq(genBefore), dropped.toString)
    assert(rows() == afterAppend, "serving unaffected by vacuum")
  }

  test("IVF deletions: tombstone mask ≡ survivors-only rebuild ≡ physical compaction") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_del").toString
    val queries = corpus.filter(col("vec_id") < 7)
    def rows() = Similarity.ivfIndexTopK(spark, dir, queries, 5)
      .orderBy("q_id", "rk").collect().toSeq
    Similarity.buildIvfIndex(corpus, dir)
    val before = rows()
    // the no-delete path must not pay for the mask at all
    val cleanPlan = Similarity.ivfIndexTopK(spark, dir, queries, 5)
      .queryExecution.executedPlan.toString
    assert(!cleanPlan.contains("LeftAnti"),
      "no tombstones ⇒ no anti-join in the plan:\n" + cleanPlan.take(800))

    Similarity.deleteFromIvfIndex(
      corpus.filter(col("vec_id") % 7 === 3).select("vec_id"), dir)
    val masked = rows()
    assert(masked != before && masked.forall(_.getLong(1) % 7 != 3),
      "deleted ids must never surface in serving")
    val maskedPlan = Similarity.ivfIndexTopK(spark, dir, queries, 5)
      .queryExecution.executedPlan.toString
    assert(maskedPlan.contains("LeftAnti") && maskedPlan.contains("PartitionFilters"),
      "mask = broadcast anti-join, composed with partition pruning:\n" + maskedPlan.take(1200))

    // ground truth: a survivors-only rebuild under the SAME codebook
    val truthDir = java.nio.file.Files.createTempDirectory("graft_ivf_del_t").toString
    Similarity.buildIvfIndex(corpus.filter(col("vec_id") % 7 =!= 3), truthDir,
      codebook = Some(Similarity.openIvfCodebook(dir)))
    assert(masked == Similarity.ivfIndexTopK(spark, truthDir, queries, 5)
      .orderBy("q_id", "rk").collect().toSeq,
      "tombstone-masked serving must equal an index never containing the rows")

    // compaction applies tombstones physically and resets the mask
    val genDoomed = java.nio.file.Paths.get(Similarity.assignmentDir(dir))
      .getFileName.toString
    Similarity.compactIvfIndex(spark, dir)
    val live = Similarity.assignmentDir(dir)
    assert(!java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(live, "_tombstones")),
      "a fresh generation starts with an empty tombstone set")
    assert(spark.read.parquet(live).filter(col("vec_id") % 7 === 3).count() == 0,
      "compaction must drop the doomed rows physically")
    assert(rows() == masked, "compaction must not change serving results")
    assert(Similarity.vacuumIvfIndex(dir, graceMs = 0L) == Seq(genDoomed))
    assert(rows() == masked, "vacuum reclaims the masked generation, serving unaffected")

    // post-compaction the id is re-insertable (upsert = delete, compact,
    // append): the row lands in the live generation with no tombstone
    // masking it, so serving includes it whenever its list is probed
    Similarity.appendToIvfIndex(corpus.filter(col("vec_id") === 3), dir)
    val live2 = Similarity.assignmentDir(dir)
    assert(spark.read.parquet(live2).filter(col("vec_id") === 3).count() == 1,
      "a re-appended id must be back in the live generation")
    assert(!java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(live2, "_tombstones")),
      "nothing masks the re-appended id")
  }

  test("IVF-PQ deletions: masked serving ≡ survivors-only build under the same books") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_del").toString
    val queries = corpus.filter(col("vec_id") < 7)
    val co = Similarity.trainCentroids(corpus, 8, 2)
    val bo = Similarity.trainPqCodebooks(corpus, m = 4, dim = 64)
    Similarity.buildIvfPqIndex(corpus, dir, coarse = Some(co), books = Some(bo))
    Similarity.deleteFromIvfPqIndex(
      corpus.filter(col("vec_id") % 7 === 3).select("vec_id"), dir)
    def rows() = Similarity.ivfPqIndexTopK(spark, dir, queries, 5)
      .orderBy("q_id", "rk").collect().toSeq
    val masked = rows()
    assert(masked.nonEmpty && masked.forall(_.getLong(1) % 7 != 3))

    val truthDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_del_t").toString
    Similarity.buildIvfPqIndex(corpus.filter(col("vec_id") % 7 =!= 3), truthDir,
      coarse = Some(co), books = Some(bo))
    assert(masked == Similarity.ivfPqIndexTopK(spark, truthDir, queries, 5)
      .orderBy("q_id", "rk").collect().toSeq)

    // PQ compaction copies codes (frozen books) minus tombstones
    Similarity.compactIvfPqIndex(spark, dir)
    val (_, _, gen2, _, _, _) = Similarity.resolveIvfPqIndex(dir)
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$dir/$gen2", "_tombstones")))
    assert(rows() == masked, "PQ compaction must not change serving results")
  }

  test("IVF rebuild: fresh generation behind ONE manifest flip; superseded gen vacuums") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_rb").toString
    val queries = corpus.filter(col("vec_id") < 7)
    def served() = Similarity.ivfIndexTopK(spark, dir, queries, 5)
      .orderBy("q_id", "rk").collect().toSeq
    Similarity.buildIvfIndex(corpus.filter(col("vec_id") % 2 === 0), dir)
    val gen1 = java.nio.file.Paths.get(Similarity.assignmentDir(dir))
      .getFileName.toString
    val halfServed = served()
    // rebuild over the FULL corpus: a new codebook (different training
    // set) paired with a new assignment generation by a single atomic
    // manifest write — resolveIndex can never see the new codebook with
    // the old generation's (incompatible) c_id space
    Similarity.buildIvfIndex(corpus, dir)
    val (cents2, live2, _) = Similarity.resolveIndex(dir)
    assert(!live2.endsWith(gen1), "a rebuild must land in a fresh generation")
    assert(cents2 == Similarity.openIvfCodebook(dir))
    val fullServed = served()
    assert(fullServed != halfServed,
      "serving must reflect the rebuilt (full-corpus) index")
    // the superseded generation survives the grace window for in-flight
    // readers, then vacuums without disturbing serving
    assert(Similarity.vacuumIvfIndex(dir).isEmpty)
    assert(Similarity.vacuumIvfIndex(dir, graceMs = 0L) == Seq(gen1))
    assert(served() == fullServed)
  }

  test("semDedup: dropped ⇔ a smaller-id near-dup shares the cluster; kept ∪ dropped = corpus") {
    val total = corpus.count()
    val kept = Similarity.semDedup(corpus, threshold = 0.4, nCentroids = 8)
    val keptIds = kept.collect().map(_.getLong(0)).toSet
    assert(keptIds.nonEmpty && keptIds.size < total,
      s"fixture has near-dup pairs, some must drop (kept ${keptIds.size}/$total)")

    // reference: exact pairs ≥ τ restricted to same-cluster membership.
    // τ>1 semDedup drops nothing, so its output IS the cluster assignment
    val allIds = corpus.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val clusterOf = Similarity.semDedup(corpus, threshold = 1.1, nCentroids = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusterOf.keySet == allIds, "τ>1 semDedup must keep everything")
    val exactPairs = Similarity.cosineNearDupPairsExact(corpus, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectedDrops = exactPairs.collect {
      case (a, b) if clusterOf(a) == clusterOf(b) => b
    }
    assert(allIds -- keptIds == expectedDrops,
      s"drop set mismatch: ${(allIds -- keptIds) -- expectedDrops} vs ${expectedDrops -- (allIds -- keptIds)}")
  }

  test("quantizerDrift: reversed-vector segment alarms, in-distribution increment holds") {
    val cents = Similarity.trainCentroids(corpus, 8, 2)
    val drifted = corpus.withColumn("q", reverse(col("q"))) // norm unchanged
    val rep = Similarity.quantizerDrift(Seq(
        "build" -> corpus,
        "increment" -> corpus.filter(col("vec_id") % 2 === 1),
        "drift" -> drifted), cents)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val (nb, fb, pb) = rep("build")
    val (ni, fi, _) = rep("increment")
    val (nd, fd, pd) = rep("drift")
    assert(nd == nb && ni < nb)
    assert(fd < fb, s"reversed vectors must fit worse than the training corpus: $fd vs $fb")
    assert(pd >= pb, s"low-fit fraction must not improve under drift: $pd vs $pb")
    assert(math.abs(fi - fb) < 0.2, s"an in-distribution increment holds fit: $fi vs $fb")
    // codebook rides as plan literals — a drift report must never join
    val plan = Similarity.quantizerDrift(Seq("build" -> corpus), cents)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "no join in the drift scan:\n" + plan.take(800))
  }

  test("clusterMedoids == brute-force per-cluster centrality argmax; singleton = self") {
    val cents = Similarity.trainCentroids(corpus, 8, 2)
    val got = Similarity.clusterMedoids(corpus, codebook = Some(cents))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    // brute force from collected vectors + the τ>1 semDedup assignment
    val clusterOf = Similarity.semDedup(corpus, threshold = 1.1, nCentroids = 8,
        codebook = Some(cents))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = corpus.collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Long](1).toArray, r.getLong(2)))).toMap
    def simQ(x: Long, y: Long): Long = {
      val ((a, na), (b, nb)) = (vecs(x), vecs(y))
      if (na == 0 || nb == 0) 0L
      else {
        val dot = a.zip(b).map { case (u, v) => u * v }.sum
        val v = dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)) * 1e6
        if (v >= 0) math.floor(v + 0.5).toLong else -math.floor(-v + 0.5).toLong
      }
    }
    val byCluster = clusterOf.toSeq.groupBy(_._2).map { case (c, ms) => c -> ms.map(_._1).sorted }
    val expected = byCluster.map { case (c, members) =>
      val scored = members.map(m => m -> members.filter(_ != m).map(simQ(m, _)).sum)
      val (mid, s) = scored.minBy { case (m, sq) => (-sq, m) }
      c -> ((mid, members.size.toLong, s))
    }
    assert(got == expected,
      s"diff=${expected.toSet.diff(got.toSet)} extra=${got.toSet.diff(expected.toSet)}")
  }

  test("persisted residual index: mode in the manifest, build+append ≡ one-shot, mode survives compaction") {
    val queries = corpus.filter(col("vec_id") < 7)
    val (co, bo) = Similarity.trainIvfRpq(corpus, 8, m = 4, dim = 64)
    val inc = java.nio.file.Files.createTempDirectory("graft_rpq_inc").toString
    Similarity.buildIvfRpqIndex(corpus.filter(col("vec_id") % 2 === 0), inc,
      coarse = Some(co), books = Some(bo))
    assert(Similarity.ivfPqIndexResidual(inc), "the manifest must record the encoding mode")
    Similarity.appendToIvfPqIndex(corpus.filter(col("vec_id") % 2 === 1), inc)

    val full = java.nio.file.Files.createTempDirectory("graft_rpq_full").toString
    Similarity.buildIvfRpqIndex(corpus, full, coarse = Some(co), books = Some(bo))
    def rows(dir: String) = Similarity.ivfPqIndexTopK(spark, dir, queries, 5)
      .orderBy("q_id", "rk").collect().toSeq
    assert(rows(inc) == rows(full),
      "append must encode under the SAME residual mode as the build")

    // deletions + compaction keep both the verdicts and the mode
    Similarity.deleteFromIvfPqIndex(
      corpus.filter(col("vec_id") % 7 === 3).select("vec_id"), inc)
    val masked = rows(inc)
    assert(masked.forall(_.getLong(1) % 7 != 3))
    Similarity.compactIvfPqIndex(spark, inc)
    assert(Similarity.ivfPqIndexResidual(inc), "compaction must not drop the mode")
    assert(rows(inc) == masked)

    // a raw index still reads as raw (flag back-compat)
    val raw = java.nio.file.Files.createTempDirectory("graft_rpq_raw").toString
    Similarity.buildIvfPqIndex(corpus, raw, coarse = Some(co), books = Some(bo))
    assert(!Similarity.ivfPqIndexResidual(raw))
  }

  test("residual IVF-PQ: tighter approximation than raw-subvector PQ; deterministic") {
    val queries = corpus.filter(col("vec_id") < 7)
    def simsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // probe EVERY list so both approximations rank the same full universe
    val exact = simsOf(Similarity.bruteForceTopK(corpus, queries, 200))
    val raw = simsOf(Similarity.ivfPqTopK(corpus, queries, 200,
      nCentroids = 8, nProbe = 8, m = 4, dim = 64))
    val res = simsOf(Similarity.ivfRpqTopK(corpus, queries, 200,
      nCentroids = 8, nProbe = 8, m = 4, dim = 64))
    val common = raw.keySet intersect res.keySet intersect exact.keySet
    assert(common.nonEmpty)
    def err(m: Map[(Long, Long), Double]) =
      common.toSeq.map(k => math.abs(m(k) - exact(k))).sum / common.size
    val (eRaw, eRes) = (err(raw), err(res))
    assert(eRes < eRaw,
      s"residual codes must approximate tighter: $eRes vs raw $eRaw")
    // deterministic: a second run is bit-identical
    assert(simsOf(Similarity.ivfRpqTopK(corpus, queries, 200,
      nCentroids = 8, nProbe = 8, m = 4, dim = 64)) == res)
  }

  test("StreamDrift: additive trigger reports fold to the batch a20 row exactly") {
    val cents = Similarity.trainCentroids(corpus, 8, 2)
    val work = java.nio.file.Files.createTempDirectory("graft_sdrift").toString
    graft.streaming.StreamDrift.applyBatch(s"$work/reports", cents,
      corpus.filter(col("vec_id") % 2 === 0), 0L)
    graft.streaming.StreamDrift.applyBatch(s"$work/reports", cents,
      corpus.filter(col("vec_id") % 2 === 1), 1L)
    val got = graft.streaming.StreamDrift.summary(spark, s"$work/reports")
      .collect().head
    val batch = Similarity.quantizerDrift(Seq("build" -> corpus), cents)
      .collect().head
    assert(got.getLong(0) == batch.getLong(1), "n_vecs")
    assert(got.getDouble(1) == batch.getDouble(2), "mean_fit must be bit-equal (exact sums)")
    assert(got.getDouble(2) == batch.getDouble(3), "p_low must be bit-equal")
  }

  test("plane coefficients match the md5-derived planeCoef expression") {
    val viaExpr = spark.range(1).select(
      (0 until 4).flatMap(p => (0 until 3).map(d =>
        Similarity.planeCoef(lit(p), lit(d)).as(s"c_${p}_$d"))): _*).collect().head
    val viaScala = for (p <- 0 until 4; d <- 0 until 3) yield Similarity.planeCoefs(p, 3)(d)
    assert(viaScala == (0 until 12).map(i => viaExpr.getLong(i)))
  }

  test("autoTuneTopK: serves at the cheapest level meeting the target; unreachable target = max level") {
    val qs = corpus.filter(col("vec_id") < 5)
    val sweep = Similarity.recallSweep(corpus, qs, 5, 8, Seq(1, 2, 4))
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).sortBy(_._1)
    val target = 0.5
    val expectLvl = sweep.find(_._2 >= target).map(_._1).getOrElse(sweep.last._1)
    val tuned = Similarity.autoTuneTopK(corpus, qs, 5, 8, Seq(1, 2, 4), target)
    val lvls = tuned.select("n_probe").distinct().collect().map(_.getLong(0)).toSeq
    assert(lvls == Seq(expectLvl), s"chosen $lvls, sweep ${sweep.mkString(",")}")
    val direct = Similarity.ivfTopK(corpus, qs, 5, 8, expectLvl.toInt)
      .orderBy(col("q_id"), col("rk")).collect().toSeq
    assert(tuned.drop("n_probe").orderBy(col("q_id"), col("rk")).collect().toSeq == direct,
      "auto-tuned serving must equal direct serving at the chosen level")
    val maxed = Similarity.autoTuneTopK(corpus, qs, 5, 8, Seq(1, 2, 4), 1.1)
      .select("n_probe").distinct().collect().map(_.getLong(0)).toSeq
    assert(maxed == Seq(4L), "unreachable target falls back to the largest level")
  }

  test("splitHotCells: membership preserved per parent, manifest flips atomically, serving still works") {
    val work = java.nio.file.Files.createTempDirectory("graft_split").toString
    Similarity.buildIvfIndex(corpus, work, nCentroids = 8)
    val before = spark.read.parquet(Similarity.assignmentDir(work))
      .select(col("vec_id"), col("c_id").cast("long").as("c_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val parents = Similarity.splitHotCells(spark, work)
    assert(parents.nonEmpty, "the fixture must have at least one above-average cell")
    val parentOf = parents.toMap
    val after = spark.read.parquet(Similarity.assignmentDir(work))
      .select(col("vec_id"), col("c_id").cast("long").as("c_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.keySet == before.keySet, "no vector gained or lost")
    // a split-cell vector moved to a CHILD of its old cell; others stayed
    after.foreach { case (v, c) =>
      val old = before(v)
      if (parents.map(_._2).contains(old))
        assert(parentOf(c) == old, s"vec $v: new cell $c must descend from $old")
      else assert(c == old, s"vec $v: cold cell must not move")
    }
    // the manifest's codebook has no parent ids and serving still answers
    val cents = Similarity.openIvfCodebook(work).map(_.cId).toSet
    assert(parents.map(_._2).toSet.intersect(cents).isEmpty, "parents retired")
    assert(parents.map(_._1).forall(cents.contains), "children published")
    val served = Similarity.ivfIndexTopK(spark, work,
      corpus.filter(col("vec_id") < 3), k = 3, nProbe = 2)
    assert(served.count() > 0)
    // idempotence guard: a second split with the same default cap only
    // ever splits cells still above it — and never invents vectors
    Similarity.splitHotCells(spark, work)
    assert(spark.read.parquet(Similarity.assignmentDir(work)).count() == before.size)
  }

  test("knnGraph: per-node top-k equals ivfTopK at nProbe=1 with the corpus as queries") {
    // the kNN graph IS the nProbe=1 IVF search of every vector against
    // the corpus — the self-join build must agree with the probe path
    val g = Similarity.knnGraph(corpus, k = 3, nCentroids = 8)
      .orderBy(col("q_id"), col("rk")).collect().toSeq
    val probe = Similarity.ivfTopK(corpus, corpus, k = 3, nCentroids = 8, nProbe = 1)
      .orderBy(col("q_id"), col("rk")).collect().toSeq
    assert(g.nonEmpty && g == probe, s"graph ${g.take(3)} vs probe ${probe.take(3)}")
    // no self-edges, rk dense from 1 per node
    assert(g.forall(r => r.getLong(0) != r.getLong(1)), "self-edges excluded")
  }
}
