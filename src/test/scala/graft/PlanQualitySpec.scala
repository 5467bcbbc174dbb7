package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions._

/** Plan-shape regression guards: the properties that keep these operators
  * viable at 100 TB are structural (shuffle count, broadcast choice,
  * agg-before-join order) — assert them on the optimized/physical plans
  * so a refactor can't silently reintroduce an exchange. */
class PlanQualitySpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf0001)

  test("d02 jaccard: exactly one join, no denominator join-backs") {
    val joins = q("d02_jaccard_pairs").queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.length == 1, s"expected 1 join, got ${joins.length}")
  }

  test("q03: dimension joins are broadcast, never sort-merge") {
    val plan = q("q03_join_agg").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
  }

  test("q13 saltedJoin: a broadcast-sized right side short-circuits to a plain broadcast join — no ×salts replication") {
    // the guard path: orders at sf0.001 sits far under the broadcast
    // threshold, so the plan must be a BroadcastHashJoin with NO salt
    // explode (salting exists for the sort-merge case only)
    val guarded = q("q13_salted_join").queryExecution.executedPlan.toString
    assert(guarded.contains("BroadcastHashJoin"), guarded.take(800))
    assert(!guarded.toLowerCase.contains("explode") && !guarded.contains("_salt"),
      "broadcast-sized right side must not be replicated ×salts: " + guarded.take(800))
    // the salting path still engages (and still matches the plain join)
    // once broadcast is off
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import spark.implicits._
      val left = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v")
      val right = Seq((1L, "x"), (2L, "y")).toDF("k", "w")
      val salted = graft.ops.Relational.saltedJoin(
        left, left("k"), right, right("k"),
        org.apache.spark.sql.functions.length(col("v")), salts = 4)
      assert(salted.queryExecution.executedPlan.toString.contains("_salt") ||
        salted.queryExecution.optimizedPlan.toString.contains("_salt"),
        "with broadcast disabled the salting path must engage")
      assert(salted.select(left("k"), col("v"), col("w")).collect().toSet ==
        left.join(right, "k").select("k", "v", "w").collect().toSet,
        "salted result must equal the plain equi-join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q01: filter is pushed to the parquet scan and columns are pruned") {
    val plan = q("q01_pricing_summary").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"))
    assert(!plan.contains("l_orderkey"), "unused columns must not be read")
  }

  test("x08 lookup join: dedup aggregate runs BELOW the snapshot join (reference dedup-before-re-read)") {
    val root = q("x08_lookup_join").queryExecution.optimizedPlan
    val join = root.collect { case j: Join => j }.head
    // the deduping Aggregate must sit inside the join's left subtree —
    // at most one snapshot lookup per doc id per batch
    val aggBelowJoin = join.left.collect { case a: Aggregate => a }
    assert(aggBelowJoin.nonEmpty, "dedup aggregate must be below the lookup join")
  }

  test("CDC commit plan: no join on a fresh state; one LeftAnti join on a live state without query deletes") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import spark.implicits._
    var plans = Vector.empty[LogicalPlan]
    val st = new graft.streaming.IndexState(
        java.nio.file.Files.createTempDirectory("graft_plan_state").toString, spark, 8) {
      override def commit(updated: DataFrame, version: String, touched: Seq[Int]): Unit = {
        plans :+= updated.queryExecution.optimizedPlan
        super.commit(updated, version, touched)
      }
    }
    def ops(rows: (String, String)*) = graft.streaming.MutationStream.opsWithSinkMeta(
      rows.toDF("kind", "id").withColumn("rowKey", col("id"))
        .withColumn("doc", when(col("kind") === "add", map(lit("v"), array(col("id"))))))
    graft.streaming.MutationStream.applyBatch(st, ops(("add", "a"), ("deleteById", "b")), 0L)
    graft.streaming.MutationStream.applyBatch(st, ops(("add", "a"), ("deleteById", "c")), 1L)
    val Seq(fresh, live) = plans.map(_.collect { case j: Join => j })
    assert(fresh.isEmpty, plans(0).toString.take(1200))
    assert(live.map(_.joinType) == Seq(LeftAnti), plans(1).toString.take(1200))
  }

  test("the mapping runs no interpreted lambdas: rowPath and BatchPipeline.run plans hold no LambdaFunction") {
    import graft.conf.{FieldDef, IndexerConf, RowReadMode, ValueSource}
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    def lambdas(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect { case l: LambdaFunction => l }))
    // every built-in mapping feature: exact/prefix specs, value and
    // qualifier sources, a dynamic name, a typed field
    val conf = IndexerConf(table = "customer", fields = Seq(
      FieldDef("name_s", "info:name", ValueSource.Value, "string"),
      FieldDef("bal_d", "info:acctbal", ValueSource.Value, "double"),
      FieldDef("cols_ss", "info:*", ValueSource.Qualifier, "string"),
      FieldDef("dyn_*", "info:n*", ValueSource.Value, "string")))
    val events = graft.core.Fixtures.customerCells(spark, sf0001)
    val snapshot = graft.core.Fixtures.customerSnapshot(spark, sf0001)
    val exact = conf.copy(fields = conf.fields.take(2)) // complete-able: the lookup branch
    val plans = Map(
      "rowPath never" -> graft.core.IndexerCore.rowPath(conf.copy(rowReadMode = RowReadMode.Never))(events),
      "rowPath dynamic" -> graft.core.IndexerCore.rowPath(exact, Some(snapshot))(events),
      "BatchPipeline.run" -> graft.batch.BatchPipeline.run(conf, events))
    plans.foreach { case (name, df) =>
      assert(lambdas(df).isEmpty, s"$name: interpreted lambda in the mapping plan: ${lambdas(df)}")
    }
    // the walker does see a lambda where there is one
    assert(lambdas(events.select(filter(col("cells"), _ => lit(true)))).nonEmpty)
  }

  test("a01 brute-force ANN: query side broadcast, corpus never shuffled before scoring") {
    val plan = q("a01_ann_brute").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(800))
  }

  test("map-only text analysis has zero exchanges before the final sort") {
    val plan = q("t02_quality").queryExecution.optimizedPlan
    val joins = plan.collect { case j: Join => j }
    val aggs = plan.collect { case a: Aggregate => a }
    assert(joins.isEmpty && aggs.isEmpty, "per-document features must not shuffle")
  }

  test("p03 decontamination: benchmark probe is broadcast, corpus never broadcast") {
    val plan = q("p03_decontaminate").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"))
  }

  test("p04/p05 splits and sampling are pure projection+filter — no joins or aggregates") {
    for (name <- Seq("p04_hash_split", "p05_stratified_sample")) {
      val plan = q(name).queryExecution.optimizedPlan
      assert(plan.collect { case j: Join => j }.isEmpty, s"$name must not join")
      assert(plan.collect { case a: Aggregate => a }.isEmpty, s"$name must not aggregate")
    }
  }

  test("p06 full pipeline composes without a cartesian product") {
    val plan = q("p06_full_pipeline").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("a01/a02/a03 top-k re-rank: partial aggregation, never a window over scored pairs") {
    for (name <- Seq("a01_ann_brute", "a02_ann_lsh")) {
      val plan = SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString
      assert(plan.contains("partial_topk_by"), s"$name: map-side partial top-k expected")
      assert(!plan.contains("Window"), s"$name: no window over the scored set")
    }
  }

  test("a03 IVF: centroid assignment is a literal-codebook projection — no window, no cross join") {
    val plan = q("a03_ann_ivf").queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "assignment must not shuffle n×k scored rows into a window")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(800))
  }

  test("t08 PII redaction is a pure projection — no shuffle at all") {
    val plan = q("t08_pii_redact").queryExecution.optimizedPlan
    assert(plan.collect { case j: Join => j }.isEmpty)
    assert(plan.collect { case a: Aggregate => a }.isEmpty)
  }

  test("d10 URL dedup: canonicalization in the map side, exactly one aggregate, no join") {
    val plan = q("d10_url_dedup").queryExecution.optimizedPlan
    assert(plan.collect { case j: Join => j }.isEmpty, "dedup by key needs no join")
    assert(plan.collect { case a: Aggregate => a }.nonEmpty)
  }

  test("d12 containment: df-capped pairs are join-free, directed fan-out is projection-only") {
    val root = q("d12_containment").queryExecution.optimizedPlan
    // the capped path is group-pairs: ONE h-group aggregate (bounded
    // collector) + in-group pair generation + the pair aggregate — no
    // self-join, no df semi-joins, and exactly one scan of the corpus
    val joins = root.collect { case j: Join => j }
    assert(joins.isEmpty, s"capped pair counting must be join-free, got ${joins.length} joins")
    val generates = root.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
    assert(generates.nonEmpty, "pair + directed fan-out must be Generates")
    val physical = q("d12_containment").queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"), physical.take(800))
    // the query INPUT is a 2-branch union (docs ∪ extended copies), so 2
    // scans; the round-4 shape re-ran the whole union per join side (4+)
    assert(scanCount(physical) == 2, s"one scan per union branch expected:\n${physical.take(800)}")
  }

  test("d09 jaccard maxDf: single corpus scan, no joins (round-4 double-scan regression pin)") {
    val root = q("d09_jaccard_maxdf").queryExecution.optimizedPlan
    assert(root.collect { case j: Join => j }.isEmpty, "df cap must not add joins")
    val aggs = root.collect { case a: Aggregate => a }
    assert(aggs.length == 2, s"h-group + pair aggregate only, got ${aggs.length}")
    val physical = q("d09_jaccard_maxdf").queryExecution.executedPlan.toString
    assert(scanCount(physical) == 1, s"one corpus scan expected:\n${physical.take(800)}")
  }

  private def scanCount(physicalPlan: String): Int =
    "Scan parquet".r.findAllIn(physicalPlan).length

  test("t10 LM scoring: probe joins run over pre-aggregated bigrams, never token occurrences") {
    val root = q("t10_lm_score").queryExecution.optimizedPlan
    val joins = root.collect { case j: Join => j }
    assert(joins.length == 2, s"bigram + prefix probe joins only, got ${joins.length}")
    // every join input must sit above the per-(doc,bigram) aggregate —
    // i.e. each join subtree contains an Aggregate (the model tables and
    // the probe side are all post-collapse)
    joins.foreach { j =>
      assert(j.left.collect { case a: Aggregate => a }.nonEmpty &&
        j.right.collect { case a: Aggregate => a }.nonEmpty,
        "join inputs must be aggregated bigram counts, not raw token rows")
    }
  }

  test("t11 tf-idf: corpus size rides as a broadcast, top-k is a partial aggregate, no window") {
    val physical = q("t11_tfidf_terms").queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastNestedLoopJoin") || physical.contains("BroadcastHashJoin"),
      "the 1-row corpus count must broadcast")
    // round-6 pin: the per-doc ranking is the string-keyed bounded-heap
    // aggregate (map-side partials, shuffle ≤ docs×k), NEVER a row_number
    // window (shuffle+sort of the full (doc, term) score table)
    assert(physical.contains("partial_topk_by_str"), "map-side partial top-k expected")
    assert(!physical.contains("Window"), "no window over the scored set")
    val root = q("t11_tfidf_terms").queryExecution.optimizedPlan
    // tf is referenced twice (probe side + df aggregation), so its explode
    // appears twice — but both collapse to per-(doc,term) counts before
    // anything shuffles; the third Generate is the top-k array explode
    // (≤ docs×k rows), never a token-level one
    val generates = root.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
    assert(generates.length <= 3, s"tf + df + heap-drain explodes only; got ${generates.length}")
  }

  test("p07 quota sampling: rank window is tier-partitioned, quota/boundary ride as broadcasts") {
    // round-6 pin: the corpus-side row_number window partitions by
    // (stratum, tier) — a giant stratum can never become one sort task;
    // the only stratum-partitioned window runs over the per-(stratum,
    // tier) histogram (≤ strata×tiers rows). Quotas and the per-stratum
    // boundary join in as broadcasts, never a when()-chain or sort-merge.
    val root = q("p07_quota_sample").queryExecution.optimizedPlan
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    val rankWs = windows.filter(_.windowExpressions.exists(_.toString.contains("row_number")))
    assert(rankWs.nonEmpty && rankWs.forall(_.partitionSpec.length == 2),
      s"corpus rank window must partition by (stratum, tier): ${rankWs.map(_.partitionSpec)}")
    val physical = q("p07_quota_sample").queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"), "quota + boundary joins must broadcast")
    assert(!physical.contains("SortMergeJoin"), physical.take(800))
  }

  test("p10 paragraph dedup: winner + rebuild are hash aggregates, no window, no cartesian") {
    val root = q("p10_paragraph_dedup").queryExecution.optimizedPlan
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.isEmpty,
      "keep-first must be the min-struct aggregate, never a row_number window")
    val physical = q("p10_paragraph_dedup").queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"), physical.take(800))
  }

  test("p11 sequence packing: the tape cumsum window is bucket-partitioned, never global") {
    val root = q("p11_sequence_pack").queryExecution.optimizedPlan
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"a global (unpartitioned) window would serialize the corpus through one task: " +
        windows.map(_.partitionSpec))
  }

  test("a05 semdedup: pairwise search is cluster-keyed — no cartesian, assignment is a projection") {
    // the only join over vectors is the c_id-keyed self-join (plus the
    // anti-join dropping near-dups); centroid assignment must stay the
    // literal-codebook projection (no cross join against a centroid table)
    val physical = q("a05_semdedup").queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"), physical.take(800))
    assert(!physical.contains("BroadcastNestedLoopJoin"), physical.take(800))
  }

  test("d14 near-dup prune: representative choice is a max_by aggregate, never a window") {
    val root = q("d14_neardup_prune").queryExecution.optimizedPlan
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.isEmpty,
      "per-cluster representative must be a hash aggregate, never a window sort")
    val physical = q("d14_neardup_prune").queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"), physical.take(800))
  }

  test("d15 span dedup: keep-first is a min-struct aggregate — no window, no cartesian") {
    val root = q("d15_span_dedup").queryExecution.optimizedPlan
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.isEmpty,
      "global first occurrence must be a hash aggregate, never a row_number window")
    val physical = q("d15_span_dedup").queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"), physical.take(800))
    assert(physical.contains("kgram_hashes60") && physical.contains("remove_token_spans"),
      "the compiled kernels must be in the plan, not an interpreted HOF chain")
  }

  test("d30 char span dedup: d15's plan shape at char granularity — no window, compiled kernels") {
    val root = q("d30_char_span_dedup").queryExecution.optimizedPlan
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.isEmpty,
      "global first occurrence must be a hash aggregate, never a row_number window")
    val physical = q("d30_char_span_dedup").queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"), physical.take(800))
    assert(physical.contains("char_kgram_hashes60") && physical.contains("remove_char_spans"),
      "the compiled char kernels must be in the plan, not an interpreted HOF chain")
  }

  test("span-dedup occ exchange: the two h-keyed copies canonicalize equal (AQE stage-reuse precondition)") {
    // the positional occ stream (scan → isnotnull → widen → kernel →
    // posexplode → repartition(h)) is consumed by BOTH the winners
    // aggregate and the join-back probe; the pre-AQE plan inlines the
    // fork twice, and AQE materializes the h-keyed exchange ONCE only if
    // the two copies canonicalize equal — that single exchange carries
    // the whole feeder, positional kernel included. Two things broke the
    // equality historically: round-robin widening (its exchanges never
    // canonicalize equal — OPTIMIZATION_r20 §7) and the optimizer's inferred
    // isnotnull(doc_id) pushing below only the probe-side copy (fixed by
    // filtering explicitly before the fork).
    for (name <- Seq("d15_span_dedup", "d30_char_span_dedup")) {
      val hexch = q(name).queryExecution.sparkPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if (e.outputPartitioning match {
              case hp: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
                hp.expressions match {
                  case Seq(att: org.apache.spark.sql.catalyst.expressions.Attribute) =>
                    att.name == "h"
                  case _ => false
                }
              case _ => false
            }) => e
      }
      assert(hexch.size == 2,
        s"$name: expected the h-keyed occ exchange twice (pre-AQE fork), got ${hexch.size}")
      assert(hexch.map(_.canonicalized).distinct.size == 1,
        s"$name: h-exchange copies must canonicalize equal or the feeder (kernel included) materializes twice")
    }
  }

  test("LM gram feeders: the shared gram-aggregate EXCHANGE copies canonicalize equal") {
    // t21's five marginals + probe each fork the docTrigrams subtree (t10,
    // p39 the same shape; p26's dsirTf forks into top-k vs join-back):
    // the consumer joins infer isnotnull on their own keys and push them
    // below only their own copy, so without the explicit pre-fork null
    // guards the copies are canonical-distinct and the
    // tokenize+explode+aggregate stage rematerializes once PER consumer
    // (the t21 profile showed it 6x before the guard). The precondition
    // AQE runtime stage reuse actually needs is PHYSICAL: every copy of
    // the gram-keyed shuffle exchange (partial agg below, keyed on the
    // grouping columns) must canonicalize equal. The final aggregates
    // ABOVE the exchange are allowed to differ — column pruning legally
    // drops doc_id from a marginal branch's output list while the probe
    // branch keeps it, which is why this pin groups exchanges, not
    // logical Aggregates.
    // expectedGroups: p26's dsirTf runs over THREE genuinely different
    // inputs (full corpus, in-domain subset, held-out subset) — three
    // canonical groups is correct there; the others share one feeder.
    val feeders = Seq(
      ("t10_lm_score", Set("doc_id", "w1", "w2"), 1),
      ("t21_trigram_lm", Set("doc_id", "w1", "w2", "w3"), 1),
      ("p39_excess_loss_weights", Set("doc_id", "w1", "w2"), 1), // source rename is a Project above
      ("p26_dsir_select", Set("doc_id", "b"), 3))
    for ((name, keys, expectedGroups) <- feeders) {
      // sparkPlan predates EnsureRequirements — the aggregate's
      // ENSURE_REQUIREMENTS exchange only exists after preparation, so
      // apply the rule (deterministic, no execution) before collecting
      val prepared = org.apache.spark.sql.execution.exchange
        .EnsureRequirements().apply(q(name).queryExecution.sparkPlan)
      val exchanges = prepared.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.outputPartitioning match {
            case hp: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
                if hp.expressions.size == keys.size &&
                   hp.expressions.forall {
                     case att: org.apache.spark.sql.catalyst.expressions.Attribute =>
                       keys.contains(att.name)
                     case _ => false
                   } => Some(e)
            case _ => None
          }
      }.flatten
      assert(exchanges.size >= 2 * expectedGroups,
        s"$name: expected each of $expectedGroups ${keys.mkString(",")}-keyed gram feeders in ≥2 consumer branches, got ${exchanges.size} exchanges")
      val groups = exchanges.groupBy(_.canonicalized).values.toSeq
      assert(groups.size == expectedGroups,
        s"$name: expected $expectedGroups canonical feeder group(s) among ${exchanges.size} " +
          s"${keys.mkString(",")}-keyed exchanges, got ${groups.size} — an extra group means " +
          "a consumer branch rematerializes its feeder (asymmetric pushdown)")
      assert(groups.forall(_.size >= 2),
        s"$name: every feeder group must be shared by ≥2 consumers, got sizes ${groups.map(_.size).sorted.mkString(",")}")
    }
  }

  test("t13 novelty: the positional kernel runs ONCE — window totals are tokenization arithmetic") {
    // noveltyScores' second consumer (per-doc n_windows) is
    // max(tokens-k+1, 0) — pure arithmetic over a plain column pass —
    // so only the winner aggregate may carry the md5-per-position
    // kernel; a second kgram_hashes60 instance means the fork crept
    // back and the kernel pays twice
    val kernels = q("t13_novelty").queryExecution.optimizedPlan.collect {
      case p if p.expressions.exists(_.exists {
        case _: graft.expr.KgramHashes60 => true
        case _ => false
      }) => p
    }
    assert(kernels.size == 1,
      s"t13_novelty: expected exactly one plan node carrying kgram_hashes60, got ${kernels.size}")
  }

  test("d16 duplicate runs: d15's plan + a compiled merge kernel — no window, no extra join") {
    val root = q("d16_duplicate_runs").queryExecution.optimizedPlan
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.isEmpty,
      "interval merge must be the per-doc kernel, never a gaps-and-islands window")
    // ONE operator join (the winner join-back) — measurement adds NO join
    // over detection. The fixture's successor self-join is inlined once
    // under each side of the join-back, so the raw count is 3
    val joins = root.collect { case j: Join => j }
    assert(joins.length == 3,
      s"expected winner join-back + 2 inlined fixture joins, got ${joins.length}")
    val physical = q("d16_duplicate_runs").queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"), physical.take(800))
    assert(physical.contains("kgram_hashes60") && physical.contains("merge_window_runs"),
      "the compiled kernels must be in the plan, not an interpreted HOF chain")
  }

  test("p18 bloom decontamination: literal-blob probe filters BELOW the verify join") {
    val root = q("p18_bloom_decontaminate").queryExecution.optimizedPlan
    // the exact benchmark set must only ever meet PREFILTERED candidates:
    // every join that touches a might_contain-filtered subtree has the
    // filter strictly below it, and at least one such join exists
    val joinsOverProbe = root.collect {
      case j: Join if j.left.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("might_contain") => f }.nonEmpty => j
    }
    assert(joinsOverProbe.nonEmpty,
      "the verify join must sit ABOVE the Bloom prefilter, never before it")
    val physical = q("p18_bloom_decontaminate").queryExecution.executedPlan.toString
    assert(physical.contains("might_contain"),
      "the prefilter must be the Bloom probe in the scan-side filter")
    assert(!physical.contains("CartesianProduct"), physical.take(800))
  }

  test("p14 fuzzy decontamination: one-row broadcast benchmark, zero corpus shuffles") {
    val physical = q("p14_fuzzy_decontaminate").queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastNestedLoopJoin"),
      "the benchmark collapses to a 1-row broadcast the corpus cross-probes")
    assert(!physical.contains("SortMergeJoin"), physical.take(800))
    assert(!physical.contains("CartesianProduct"), physical.take(800))
    // the only DATA-DEPENDENT exchanges: the tiny bench-side aggregation
    // and the final sort — the corpus path itself is scan → probe →
    // verify, map-only. The kernelParallel width valve (spelled
    // hashpartitioning(pmod(xxhash64(...))) since it went hash-keyed for
    // AQE stage reuse) is content-blind widening, not a shuffle of keyed
    // data, and is excluded from the count.
    val exchanges = physical.linesIterator
      .filterNot(_.contains("pmod(xxhash64("))
      .count("Exchange (hash|range|single)partitioning".r.findFirstIn(_).isDefined)
    assert(exchanges <= 2, s"corpus path must not shuffle:\n${physical.take(1200)}")
  }

  test("p13 temperature mixture: inherits the tier-bucketed quota plan — no global window") {
    // same structural bar as p07: the corpus rank window may only
    // partition by (stratum, tier), never by stratum alone (the
    // giant-stratum sort); the lone stratum-partitioned window is the
    // prefix sum over the tiny per-(stratum, tier) histogram
    val root = q("p13_temperature_mix").queryExecution.optimizedPlan
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    val rankWs = windows.filter(_.windowExpressions.exists(_.toString.contains("row_number")))
    assert(rankWs.nonEmpty && rankWs.forall(_.partitionSpec.length == 2),
      s"corpus rank window must partition by (stratum, tier): ${rankWs.map(_.partitionSpec)}")
  }

  test("p20 curriculum rank: the rank window is tier-partitioned, never a global row_number") {
    val root = q("p20_curriculum_order").queryExecution.optimizedPlan
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"an empty partitionSpec is the single-task global sort: ${windows.map(_.partitionSpec)}")
  }

  test("d11 simhash: default band keys are 15 bits wide — candidate volume near-linear, not n²/256") {
    import graft.ops.Dedup
    // the default config must come from the formula, not a hard-coded
    // narrow slice: bands = maxHamming+1 = 4, bits = 60 → w = 15
    assert(Dedup.simhashConfigFor(3) == ((60, 4)))
    // behavioral bound: collisions among DISTINCT fingerprints are the
    // filter's waste (identical-fingerprint clusters are the output,
    // irreducible). Fixture fingerprints are CORRELATED (templated
    // text), so the uniform bands·m²/2^w estimate undershoots both
    // configs; compare them EMPIRICALLY on the same input (measured
    // round 8: 2742 collisions at w=15 vs 24558 at w=8, m=496) and pin
    // the default ≥5× under the old 8-bit-key volume and a small
    // fraction of the m²/2 cross-product.
    val d = spark.read.parquet(s"$sf0001/documents.parquet").select(col("doc_id"), col("text"))
    val noisy = d.select((col("doc_id") + 200000).as("doc_id"),
      concat(lit("  "), col("text"), lit("   ")).as("text"))
    val all = d.unionByName(noisy).filter(length(trim(col("text"))) > 0)
    def collisions(bits: Int): (Long, Long) = {
      val w = bits / 4
      val mask = (1L << w) - 1
      val fps = all.select(Dedup.simhash(col("text"), bits).as("sh")).distinct()
      val c = fps.select(explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sh"), b * w).bitwiseAND(lit(mask)).as("key"))): _*)).as("bk"))
        .groupBy(col("bk")).count()
        .agg(sum((col("count") * (col("count") - 1) / 2).cast("long")))
        .first().getLong(0)
      (c, fps.count())
    }
    val (newWaste, m) = collisions(60)
    val (oldWaste, _) = collisions(32)
    assert(m >= 100, s"fixture too small for a volume bound to mean anything: $m")
    assert(newWaste * 5 <= oldWaste,
      s"15-bit keys must beat 8-bit keys >=5x on collision volume: $newWaste vs $oldWaste")
    assert(newWaste * 40 <= m * (m - 1) / 2,
      s"collision volume must stay a small fraction of the cross-product: $newWaste for m=$m")
  }

  test("t14 c4GopherClean: pure projection — no join, no aggregate, no window") {
    import spark.implicits._
    val df = Seq((1L, "a decent line ends here.\nclick here")).toDF("doc_id", "text")
    val plan = graft.ops.TextAnalysis.c4GopherClean(df, "doc_id", "text")
      .queryExecution.optimizedPlan
    assert(plan.collect { case j: Join => j }.isEmpty, "the gate must not join")
    assert(plan.collect { case a: Aggregate => a }.isEmpty, "the gate must not shuffle")
    assert(plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty, "the gate must not window")
  }

  test("d17 incremental admission: fixed join shape, no corpus self-join, no cartesian") {
    // the scale contract is structural: candidates come from batch×corpus
    // and batch×batch band joins (2), each verified against the two set
    // frames (4), plus the final verdict left join (1), plus the two
    // increment-bounded BROADCAST semi-prunes of the corpus sides (band
    // keys into the corpus band table, candidate o_ids into the corpus
    // sigs) = 9 joins; the optimized logical tree embeds the
    // candidate-o_id subtree once per consumer (the prune's broadcast
    // build duplicates its 2 joins → 11 raw Join nodes, with exchange
    // reuse collapsing them at execution). The exact total is an
    // artifact of that duplication, so pin the invariants instead: the
    // count must not exceed the duplicated shape (a corpus×corpus
    // candidate join — the quadratic term this operator exists to
    // avoid — would push it past 11), and both corpus prunes must stay
    // semi-joins.
    import spark.implicits._
    import graft.ops.Dedup
    val corpus = Seq(1L -> "alpha beta gamma delta epsilon zeta").toDF("doc_id", "text")
    val batch = Seq(10L -> "alpha beta gamma delta epsilon eta").toDF("doc_id", "text")
    val qe = Dedup.incrementalNearDup(corpus, batch, "doc_id", "text",
      bands = 4, rowsPerBand = 2).queryExecution
    val joins = qe.optimizedPlan.collect { case j: Join => j }
    assert(joins.length >= 9 && joins.length <= 11,
      s"expected the 9-join admission shape (≤11 with duplicated prune " +
        s"subtrees), got ${joins.length}")
    val distinctJoins = joins.map(_.canonicalized).distinct
    val semis = distinctJoins.collect {
      case j: Join if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semis.length == 2, s"expected 2 corpus-prune semi-joins, got ${semis.length}")
    assert(!qe.executedPlan.toString.contains("CartesianProduct"))
  }

  test("d18 admitWithIndex: corpus sides broadcast-pruned — no corpus-sized exchange") {
    // on the persisted index the same contract must hold physically: the
    // two corpus-side prunes execute as BroadcastHashJoin LeftSemi (the
    // corpus band and sig scans stream map-side); a ShuffleExchange on a
    // corpus-sized relation per increment would defeat the index.
    import spark.implicits._
    import graft.ops.Dedup
    val dir = java.nio.file.Files.createTempDirectory("ndidx").toString
    val corpus = Seq(1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "one two three four five six").toDF("doc_id", "text")
    Dedup.buildNearDupIndex(corpus, dir, "doc_id", "text", bands = 4, rowsPerBand = 2)
    val batch = Seq(10L -> "alpha beta gamma delta epsilon eta").toDF("doc_id", "text")
    val exec = Dedup.admitWithIndex(spark, dir, batch, "doc_id", "text")
      .queryExecution.executedPlan.toString
    val semiBroadcastLines = exec.linesIterator
      .count(l => l.contains("BroadcastHashJoin") && l.contains("LeftSemi"))
    assert(semiBroadcastLines >= 2,
      s"both corpus prunes must be broadcast semi-joins, saw $semiBroadcastLines:\n${exec.take(1500)}")
  }

  test("p24 incremental ingest: composes without a cartesian product") {
    val plan = q("p24_incremental_ingest").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("a09 BM25: one map-only corpus scan — terms ride as plan literals, zero joins, heap top-k") {
    // a term-table join would shuffle corpus×terms rows; the compiled
    // Bm25Scores kernel keeps scoring inside the scan projection and the
    // per-query top-k is the map-side bounded heap, never a window
    val qe = q("a09_bm25_topk").queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      "scoring must not join — queries/df/corpus stats are plan literals")
    val phys = qe.executedPlan.toString
    assert(phys.contains("partial_topk_by"), "map-side partial top-k expected")
    assert(!phys.contains("Window"), phys.take(600))
  }

  test("a10/p27 retrieval fusion: candidate joins stay candidate-sized, corpus pays only the scans") {
    // both fuse corpus-scale retrieval output (queries×K′ rows) with
    // per-candidate voting/labeling — every join past the scans is
    // candidate-sized. a10's ONLY join is rrfFuse's full-outer vote
    // merge (full-outer can't broadcast, but both its inputs are the
    // bounded top-K′ aggregates); p27's labeling joins are explicit
    // broadcasts. Neither may sort-merge an inner join or go cartesian.
    val a10 = q("a10_hybrid_rrf").queryExecution
    assert(!a10.executedPlan.toString.contains("CartesianProduct"))
    val smjs = a10.executedPlan.toString.linesIterator
      .filter(_.contains("SortMergeJoin")).toSeq
    assert(smjs.forall(_.contains("FullOuter")),
      s"only the K′-sized full-outer fusion may sort-merge: ${smjs.mkString("; ")}")
    val p27 = q("p27_hard_negatives").queryExecution.executedPlan.toString
    assert(!p27.contains("CartesianProduct"), p27.take(800))
    assert(p27.contains("BroadcastHashJoin"),
      "p27 candidate labeling joins must broadcast: " + p27.take(800))
    assert(!p27.contains("SortMergeJoin"), p27.take(800))
  }

  test("a12 MMR re-rank: BM25 candidates broadcast into the embedding scan, greedy runs per-group") {
    val phys = q("a12_mmr_rerank").queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      "the queries×10 candidate list must broadcast against the embedding scan: " + phys.take(800))
    assert(!phys.contains("SortMergeJoin"), phys.take(800))
    assert(!phys.contains("Window"), "selection is a flatMapGroups trace, not a window")
  }

  test("a14 filtered ANN: serving scan prunes to probed centroid partitions, attr filter pushes down") {
    val phys = q("a14_ann_filtered").queryExecution.executedPlan.toString
    val pf = phys.linesIterator.find(_.contains("PartitionFilters: ["))
    assert(pf.exists(l => l.contains("c_id") && !l.contains("PartitionFilters: []")),
      s"probed-centroid IN filter must prune partitions: ${pf.getOrElse(phys.take(800))}")
    assert(phys.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]") ||
      phys.contains("EqualTo(lang,en)"),
      "the metadata predicate must reach the parquet scan")
  }

  test("q20 funnel: two hash aggregates, no join, no window — per-user firsts then one global fold") {
    val qe = q("q20_funnel").queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      "funnel stages must not self-join the events table")
    assert(qe.optimizedPlan.collect { case a: Aggregate => a }.length == 2,
      "per-user min-event aggregate + global conversion fold")
    assert(!qe.executedPlan.toString.contains("Window"))
  }

  test("t18 frequency spectrum: two aggregates, no join — tf then spectrum, both key-partitioned") {
    val qe = q("t18_freq_spectrum").queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty)
    assert(qe.optimizedPlan.collect { case a: Aggregate => a }.length == 2,
      "term-frequency aggregate + frequency-of-frequencies aggregate")
  }

  test("q21 retention: no join-back — the per-user day set rides in the cohort aggregate") {
    val qe = q("q21_retention").queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      "cohort + day set must come from ONE user-keyed aggregate, not an events×firsts join")
    assert(!qe.executedPlan.toString.contains("Window"))
  }

  test("q22/m09 lag windows are key-partitioned — never a single-partition global window") {
    for (name <- Seq("q22_transitions", "m09_scene_cuts")) {
      val ws = q(name).queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
        s"$name: lag must run inside a user/media-keyed window")
    }
  }

  test("t19 zipf fit: regression folds the spectrum, never ranks the vocabulary") {
    val qe = q("t19_zipf_fit").queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty)
    assert(!qe.executedPlan.toString.contains("Window"),
      "slope must come from the distinct-frequency spectrum, not a global rank window")
  }

  test("a16 refinement: both stages broadcast, no sort-merge join, no cartesian, heap top-k") {
    val plan = q("a16_ann_refine").queryExecution.executedPlan.toString
    // stage-1 candidates and stage-2 query vectors both ride broadcast
    // against map-only corpus scans — nothing corpus-sized shuffles
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(800))
    assert(plan.contains("partial_topk_by"), "bounded-heap top-k expected in both stages")
    assert(!plan.contains("Window"), "no window rank over the scored set")
  }

  test("a15 JL reduction feeds brute top-k without extra exchanges") {
    val plan = q("a15_rp_reduce").queryExecution.executedPlan.toString
    // the reduction itself is a projection; the only exchange is the
    // top-k partial aggregate's (queries-keyed, candidate-bounded)
    assert(plan.contains("rp_project"), "compiled kernel expected in the scan projection")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan.take(800))
    assert(plan.contains("partial_topk_by"), plan.take(800))
  }

  test("t20 BPE pair-count round: one aggregate pass over the dict, no join, no window") {
    // one round of the trainer's pair-count (the per-round job): explode →
    // count — a single aggregation pair, nothing joins and nothing ranks
    val dict = graft.ops.BpeTrainer.wordDict(
      graft.core.Fixtures.table(spark, sf0001, "documents"), "text")
    import org.apache.spark.sql.functions._
    val toks = split(trim(col("e"), "_"), "__")
    val enc = dict.select(regexp_replace(col("w"), "(.)", "_$1_").as("e"), col("cnt"))
    val pairs = enc.select(explode(when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => struct(element_at(toks, i).as("x"), element_at(toks, i + 1).as("y"))))
      .otherwise(array().cast("array<struct<x:string,y:string>>"))).as("p"), col("cnt"))
      .groupBy(col("p.x"), col("p.y")).agg(sum(col("cnt")))
    val qe = pairs.queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty)
    assert(!qe.executedPlan.toString.contains("Window"))
  }

  test("m10 resample: one typed map pass — samples never shuffle") {
    val plan = q("m10_audio_resample").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") || plan.indexOf("Exchange") > plan.indexOf("Sort"),
      "resample+window must run inside the decode pass; only the final ORDER BY may exchange:\n" +
        plan.take(800))
  }

  test("d22 edit decontamination: one map-only corpus probe of the broadcast gram index — no joins at all") {
    val physical = q("d22_edit_decontamination").queryExecution.executedPlan.toString
    // candidacy + verify run inline in the index-probe kernel: the plan
    // must contain NO join of any kind and no gram explode; the only
    // exchange allowed is the final ORDER BY's range partitioning
    assert(!physical.contains("Join") && !physical.contains("CartesianProduct"),
      "the gram-index kernel replaces every join:\n" + physical.take(800))
    assert(!physical.contains("Generate"),
      "no gram explode may survive:\n" + physical.take(800))
    // allowed exchanges: the kernelParallel width valve (a no-op at
    // scale — only fires when the fixture scan has fewer splits than
    // cores; hash-keyed on pmod(xxhash64(row)) so AQE can reuse it) and
    // the final ORDER BY's range partitioning; any OTHER hash
    // partitioning would mean a join/aggregate crept back in
    assert(physical.linesIterator.filterNot(_.contains("pmod(xxhash64("))
        .forall(!_.contains("hashpartitioning")),
      "no keyed hash exchange — candidacy must stay inside the kernel:\n" + physical.take(800))
  }

  test("m12 clip match: clip prints broadcast; the track corpus never sort-merge joins") {
    val physical = q("m12_audio_clip_match").queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"), physical.take(800))
    assert(!physical.contains("SortMergeJoin") && !physical.contains("CartesianProduct"),
      physical.take(800))
  }

  test("a21 residual IVF-PQ: probes broadcast into the encoded scan, no cartesian, no window over pairs") {
    val physical = q("a21_ann_ivf_rpq").queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"), physical.take(800))
    assert(!physical.contains("CartesianProduct"), physical.take(800))
    // top-k is the bounded-heap partial aggregate, never a ranking window
    assert(!physical.contains("RunningWindowFunction") &&
      !"Window\\b".r.findFirstIn(physical).isDefined, physical.take(800))
  }

  test("q26 item rank: ten iterations leave a FLAT plan — lineage truncated per round") {
    // the iterative-graph failure mode is a plan that deepens per
    // iteration (analysis cost grows superlinearly, shuffles re-derive);
    // pageRank localCheckpoints every round, so the delivered frame must
    // sit on a materialized boundary: no joins, no file scans in its plan
    val root = q("q26_item_rank").queryExecution.optimizedPlan
    val joins = root.collect { case j: Join => j }
    assert(joins.isEmpty, s"expected checkpoint-flat plan, got ${joins.length} joins")
    val scans = root.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r }
    assert(scans.isEmpty, s"expected no re-read of events, got ${scans.length} scans")
  }

  test("q29 salsa: alternating iterations leave a FLAT plan — lineage truncated per round") {
    // same contract as q26: the delivered frame sits on a materialized
    // checkpoint boundary — no joins, no re-scan of events in its plan
    val root = q("q29_salsa").queryExecution.optimizedPlan
    val joins = root.collect { case j: Join => j }
    assert(joins.isEmpty, s"expected checkpoint-flat plan, got ${joins.length} joins")
    val scans = root.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r }
    assert(scans.isEmpty, s"expected no re-read of events, got ${scans.length} scans")
  }

  test("d27 source dup census: joins sit above the (source,fp) aggregate — no window, no corpus-keyed join") {
    val root = q("d27_source_dup_census").queryExecution.optimizedPlan
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.isEmpty, "the census is aggregate-only — no window anywhere")
    // every join input must already be aggregated (distinct-content-sized)
    val joins = root.collect { case j: Join => j }
    assert(joins.nonEmpty && joins.forall(_.children.forall(_.find {
      case _: Aggregate => true; case _ => false }.isDefined)),
      "joins must run on distinct-content frames, never the raw corpus")
  }

  test("t31 calibration: banding is one map-side expression — no window, no sort below the aggregate") {
    val root = q("t31_gate_calibration").queryExecution.optimizedPlan
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.isEmpty, "fixed-width bands need no window/rank")
  }

  test("q31 co-visitation: pairs generate map-side — NO join anywhere in the plan") {
    val root = q("q31_covisitation").queryExecution.optimizedPlan
    val joins = root.collect { case j: Join => j }
    assert(joins.isEmpty,
      s"pair explosion must come from the session arrays, got ${joins.length} joins")
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "sessionization windows must partition by user")
  }

  test("q33 bot census: user-partitioned window, join-free aggregates") {
    val root = q("q33_bot_census").queryExecution.optimizedPlan
    assert(root.collect { case j: Join => j }.isEmpty, "census is aggregate-only")
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "gap windows must partition by user")
  }

  test("p41 quality frontier: the suffix windows sit ABOVE the band aggregate") {
    val root = q("p41_quality_frontier").queryExecution.optimizedPlan
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty, "the frontier is a windowed suffix cumsum")
    assert(windows.forall(_.find {
      case _: Aggregate => true; case _ => false }.isDefined),
      "every window must run on the bands census, never the corpus")
  }

  test("d29 source jaccard: size frames ride broadcasts — the pair join never sort-merges on sizes") {
    val physical = q("d29_source_jaccard").queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"),
      "per-source sizes must broadcast back:\n" + physical.take(600))
  }

  test("p44 mixture select: quota windows sit above the sources census; quotas broadcast") {
    val root = q("p44_mixture_select").queryExecution.optimizedPlan
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    // the only corpus-sized window is the per-source rank (partitioned);
    // every UNpartitioned window must run on the sources census
    assert(windows.nonEmpty, "selection needs the rank window")
    assert(windows.filter(_.partitionSpec.isEmpty).forall(_.find {
      case _: Aggregate => true; case _ => false }.isDefined),
      "global quota windows must sit above the weights aggregate")
  }

  test("t35 boilerplate density: probe join runs on the per-doc gram census, not raw tokens") {
    val root = q("t35_boilerplate_density").queryExecution.optimizedPlan
    val joins = root.collect { case j: Join => j }
    assert(joins.nonEmpty && joins.forall(_.children.forall(_.find {
      case _: Aggregate => true; case _ => false }.isDefined)),
      "both probe-join inputs must be aggregates (distinct-grams granularity)")
  }

  test("q24 last-touch: the only window is user-partitioned — never a global sort") {
    val root = q("q24_last_touch").queryExecution.optimizedPlan
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"attribution window must partition by user: ${windows.map(_.partitionSpec)}")
  }

  test("q27 session paths: every window user-partitioned; the top-k sort sees only the types³ census") {
    val root = q("q27_session_paths").queryExecution.optimizedPlan
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"path windows must partition by user/session: ${windows.map(_.partitionSpec)}")
    // the global sort (top-10) must sit ABOVE the aggregate, never on events
    val sorts = root.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global => s }
    assert(sorts.forall(_.find {
      case _: Aggregate => true; case _ => false }.isDefined),
      "global top-k sort must run on the path census, not the event stream")
  }

  test("t28 vocab coverage: top-V is a TakeOrdered, vocabulary broadcasts back — no global sort, no sort-merge") {
    val physical = q("t28_vocab_coverage").queryExecution.executedPlan.toString
    assert(physical.contains("TakeOrderedAndProject"),
      "top-V must be per-partition top-V + V-sized merge:\n" + physical.take(800))
    assert(physical.contains("BroadcastHashJoin"), physical.take(800))
    assert(!physical.contains("SortMergeJoin"), physical.take(800))
  }

  test("t23 grouped z-scores: stats ride back as a broadcast — no window anywhere") {
    val physical = q("t23_grouped_zscore").queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"),
      "group stats must broadcast back over the scan:\n" + physical.take(800))
    assert(!physical.contains("Window"), physical.take(800))
  }

  test("p31 k-anon: the ladder census runs ONCE — one corpus scan, level lookups broadcast") {
    val root = q("p31_kanon_census").queryExecution.optimizedPlan
    // the rollup census is checkpointed: the query plan must show the
    // corpus parquet scan exactly once (the doc side) and NO Expand —
    // without the stage boundary Catalyst re-executed the whole rollup
    // once per ladder level (4 corpus scans, the regression this pins)
    val expands = root.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e }
    assert(expands.isEmpty, s"census re-planned into the query: ${expands.length} Expands")
    val scans = root.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r }
    assert(scans.length == 1, s"expected 1 corpus scan, got ${scans.length}")
    val physical = q("p31_kanon_census").queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"), physical.take(800))
    assert(!physical.contains("SortMergeJoin"), physical.take(800))
  }

  test("p36 cluster quota: codebook is plan literals, quotas broadcast — corpus never sort-merge joins") {
    // assignment must be a map-only projection (centroidBest over literal
    // centroid arrays), and the only joins in selection are the broadcast
    // quota/boundary frames; every window partitions by the cluster
    val qe = q("p36_cluster_quota").queryExecution
    val physical = qe.executedPlan.toString
    assert(!physical.contains("SortMergeJoin") && !physical.contains("CartesianProduct"),
      physical.take(800))
    val windows = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"selection windows must partition by cluster: ${windows.map(_.partitionSpec)}")
  }

  test("p33 water-fill: corpus reduces to the census FIRST — every window sits above an aggregate") {
    val root = q("p33_budget_waterfill").queryExecution.optimizedPlan
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.collect { case a: Aggregate => a }.nonEmpty,
        "window over raw corpus rows (the census must aggregate first):\n" + w.treeString.take(500))
    }
    assert(!q("p33_budget_waterfill").queryExecution.executedPlan.toString
      .contains("SortMergeJoin"))
  }

  test("t25 PSI: totals ride a broadcast, no window; joins sit above the bin aggregates") {
    val physical = q("t25_psi_drift").queryExecution.executedPlan.toString
    assert(!physical.contains("Window"), physical.take(800))
    assert(physical.contains("BroadcastNestedLoopJoin") ||
      physical.contains("BroadcastHashJoin"), physical.take(800))
    // the bins full-outer join may legitimately sort-merge (FullOuter
    // can't broadcast) — but ONLY over the bins-sized aggregates, never
    // the corpus: every join input must contain an Aggregate
    val root = q("t25_psi_drift").queryExecution.optimizedPlan
    root.collect { case j: Join => j }.foreach { j =>
      Seq(j.left, j.right).foreach { side =>
        assert(side.collect { case a: Aggregate => a }.nonEmpty,
          "join over raw corpus rows:\n" + side.treeString.take(400))
      }
    }
  }

  test("t26 fertility: one scan, one aggregate, no joins") {
    val root = q("t26_tokenizer_fertility").queryExecution.optimizedPlan
    assert(root.collect { case j: Join => j }.isEmpty, "census must be join-free")
    assert(root.collect { case a: Aggregate => a }.length == 1)
  }

  test("p32 conversation assembly: the truncation window is user-partitioned, never global") {
    val root = q("p32_conversation_assembly").queryExecution.optimizedPlan
    val windows = root.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"suffix-sum window must partition by user: ${windows.map(_.partitionSpec)}")
    assert(!q("p32_conversation_assembly").queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
  }

  test("t27 gram coverage: corpus grams pruned behind broadcasts — no gram-keyed sort-merge") {
    val physical = q("t27_gram_coverage").queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"), physical.take(800))
    assert(!physical.contains("SortMergeJoin"),
      "the corpus gram stream must never shuffle by gram:\n" + physical.take(800))
  }

  test("t39 host gate: host-keyed agg keeps map-side partials; the verdict join broadcasts") {
    val physical = q("t39_host_quality_gate").queryExecution.executedPlan.toString
    // the hosts census must collapse hot hosts BEFORE the shuffle
    // (partial_count/partial_sum on the host key), and the hosts-sized
    // verdict frame must broadcast back over the corpus — the corpus
    // never shuffles by host for the gate
    assert(physical.contains("partial_count") || physical.contains("partial_sum"),
      "host census must aggregate map-side first:\n" + physical.take(800))
    assert(physical.contains("BroadcastHashJoin"), physical.take(800))
    assert(!physical.contains("SortMergeJoin"),
      "the gate join must broadcast the hosts-sized verdicts:\n" + physical.take(800))
  }

  test("freeze: a frozen stream side is a bare scan — the derivation never re-executes per trigger") {
    // a foreachBatch closure (or stream-static join side) re-executes a
    // captured DataFrame's FULL plan on every trigger; freeze must
    // collapse the derivation (filter + translate here) into one parquet
    // write so each trigger pays a small scan instead (s23/s27 shape)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_freeze").toString
    val derived = (1L to 100L).toDF("doc_id")
      .filter(col("doc_id") % 17 === 0)
      .withColumn("text", translate(concat(lit("e"), col("doc_id")), "e", "3"))
    val frozen = graft.queries.ExtendedQueries.freeze(derived, s"$dir/bench")
    val plan = frozen.queryExecution.optimizedPlan
    assert(plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }.isEmpty &&
      plan.collect { case p: org.apache.spark.sql.catalyst.plans.logical.Project => p }.isEmpty,
      s"frozen side must be a bare relation scan, got:\n$plan")
    assert(plan.isInstanceOf[
      org.apache.spark.sql.execution.datasources.LogicalRelation],
      s"expected a parquet LogicalRelation leaf, got ${plan.getClass}")
    assert(frozen.count() == derived.count())
  }

  test("freeze audit: every streaming drain with a derived static side routes it through freeze()") {
    // The full audit of the streaming family's static sides. A DataFrame
    // captured by a foreachBatch closure (or the static side of a
    // stream-static join) re-executes its WHOLE derivation on every
    // trigger, so each derived side must be materialized via
    // ExtendedQueries.freeze (bare-scan contract pinned above). This pins
    // the CALL SITES: each listed query's source body must invoke
    // freeze() at least `expected` times (one per derived side). Queries
    // audited and exempt, for the record: s10/s25 (no derived static
    // side — the stream feeds a typed kernel / bucketed state only),
    // s16 (standing queries + df map are driver-side plan literals),
    // s11/s12/s13/s22/s26/s32... (cross-batch state lives in the
    // DocStateStore, re-read per trigger BY DESIGN — bucket-pruned reads
    // of committed parquet, not a derivation).
    val expected = Map(
      // query -> (source file, freeze calls: one per derived side)
      "s09_stream_fuzzy_gate" ->
        ("src/main/scala/graft/queries/ExtendedQueries.scala", 1), // bench minhash agg
      "s14_stream_nb_gate" ->
        ("src/main/scala/graft/queries/PipelineQueries.scala", 2), // NB model + consts
      "s15_stream_dsir_gate" ->
        ("src/main/scala/graft/queries/PipelineQueries.scala", 2), // DSIR model + consts
      "s23_stream_clip_percolate" ->
        ("src/main/scala/graft/queries/PipelineQueries.scala", 1), // clip prints
      "s27_stream_edit_decontaminate" ->
        ("src/main/scala/graft/queries/PipelineQueries.scala", 1), // edit benchmark
      "s33_stream_calibration" ->
        ("src/main/scala/graft/queries/PipelineQueries.scala", 2)) // NB model + consts
    expected.foreach { case (name, (file, n)) =>
      val src = java.nio.file.Files.readString(java.nio.file.Path.of(file))
      val start = src.indexOf(s""""$name" ->""")
      assert(start >= 0, s"$name not found in $file")
      // the query body ends at the map-level closer `}),` at 4-space indent
      val end = src.indexOf("\n    }),", start)
      assert(end > start, s"could not delimit $name's body in $file")
      val body = src.substring(start, end)
      val calls = "freeze\\(".r.findAllIn(body).size
      assert(calls >= n,
        s"$name must freeze its $n derived static side(s) via " +
          s"ExtendedQueries.freeze — found $calls call(s); a captured " +
          "derivation re-executes per trigger")
    }
  }

  test("trigger census: a user-keyed aggregate over a user-window reuses the window's exchange") {
    // the r17 trigger fusion (StreamTransitions/StreamAttribution) derives
    // the per-user endpoints from the SAME window-shuffled frame and
    // claims Catalyst reuses the partitioning — pin that: the full
    // window→cache→groupBy(user_id) plan must contain exactly ONE
    // data exchange (the window's); a second would mean the endpoint
    // aggregate re-shuffles the batch every trigger
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val b = Seq((1L, 10L, "view"), (1L, 11L, "click"), (2L, 12L, "view"))
      .toDF("user_id", "event_id", "event_type")
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val lagged = b.withColumn("prev_type", lag(col("event_type"), 1).over(w)).cache()
    try {
      val ends = lagged.groupBy(col("user_id"))
        .agg(max_by(col("event_type"), col("event_id")).as("last_type"),
          max(col("event_id")).as("last_eid"))
      ends.collect() // materialize through the cache, as a trigger does
      val phys = ends.queryExecution.executedPlan.toString
      // judge only the aggregate's own plan — everything ABOVE the cached
      // window relation (the toString also embeds the cache-build plan
      // and AQE's pre-adaptive "Initial Plan" section, whose exchanges
      // are the window's own, not a violation)
      val outer = phys.substring(0, math.max(phys.indexOf("InMemoryRelation"), 0))
      assert(outer.contains("InMemoryTableScan"), s"cache missing from plan:\n${phys.take(800)}")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(outer).size
      assert(exchanges == 0,
        s"endpoint aggregate must ride the window's partitioning — found $exchanges hash exchanges above the cache:\n${outer.take(1200)}")
    } finally { lagged.unpersist(blocking = false); () }

    // the attribution variant: a frame-spec window plus a FILTER between
    // the window and the endpoint aggregate (filters keep partitioning)
    val wp = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wf = b.withColumn("touch_in",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(wp)).cache()
    try {
      val ends = wf.filter(col("event_type") =!= "purchase")
        .groupBy(col("user_id"))
        .agg(max_by(col("event_type"), col("event_id")).as("touch"),
          max(col("event_id")).as("last_eid"))
      ends.collect()
      val phys = ends.queryExecution.executedPlan.toString
      val outer = phys.substring(0, math.max(phys.indexOf("InMemoryRelation"), 0))
      // guard against a vacuous pass: if the cache never appears in the
      // plan string, `outer` is empty and zero-exchange holds trivially
      assert(outer.contains("InMemoryTableScan"), s"cache missing from plan:\n${phys.take(800)}")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(outer).size
      assert(exchanges == 0,
        s"filtered endpoint aggregate must also ride the window's partitioning:\n${outer.take(1200)}")
    } finally { wf.unpersist(blocking = false); () }
  }

  test("span dedup join-back: winners filtered to multi-occurrence grams; same-stage shuffled-hash self-join, no probe sort") {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    for ((out, tag) <- Seq(
        graft.ops.Dedup.dedupCharSpans(d, "doc_id", "text", k = 25) -> "char",
        graft.ops.Dedup.dedupSpans(d, "doc_id", "text", k = 8) -> "token")) {
      // only grams with >= 2 occurrences can cut — the winners aggregate
      // must carry that filter so the join-back side is duplicate-class
      // sized, not distinct-gram sized
      val plan = out.queryExecution.optimizedPlan
      val countFilters = plan.collect {
        case f: Filter if f.condition.toString.contains("n_occ") => f }
      assert(countFilters.nonEmpty,
        s"$tag: winners side must filter n_occ >= 2:\n${plan.toString.take(1200)}")
      // and the join-back is a same-stage shuffled-hash self-join over
      // the ONE h-keyed occ exchange (winners side is duplicate-class
      // sized and hash-uniform — keys ARE hashes): no sort of the probe
      // stream, no driver-built broadcast relation of the winners, and
      // no second shuffle of the positional occ frame
      out.collect()
      val exec = out.queryExecution.executedPlan.toString
      assert(exec.contains("ShuffledHashJoin"), s"$tag:\n${exec.take(1200)}")
      assert(!exec.contains("SortMergeJoin"), s"$tag:\n${exec.take(1200)}")
    }
  }
}
