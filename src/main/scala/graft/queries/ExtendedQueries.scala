package graft.queries

import graft.expr.hfunctions._
import graft.ops.{Dedup, Multimodal, Relational, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Round-2 surface extensions, each oracle-checked:
  *  - relational: cube, as-of join, skew-salted join;
  *  - streaming: windowed aggregation with watermark, stream-static join;
  *  - indexer: bigdecimal codec, table-aware unique keys;
  *  - pipeline ops: dedup connected components, IVF ANN, media frame
  *    chunking, winnowing fingerprints.
  */
object ExtendedQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.core.Fixtures.table(s, dir, name) // normalizes events.ts → nanos LONG

  /** Ephemeral per-query scratch (drain state dirs, checkpoints, staged
    * outputs) — placed on RAM-backed storage when the host offers it
    * (/dev/shm; override with GRAFT_SCRATCH). A trigger's state dir is
    * the moral equivalent of a production deployment's local-SSD state
    * volume: leaving it on the shared root disk made every streaming
    * drain's wall hostage to unrelated tenants' IO (the ±40 % drain
    * swings across the BENCHNOTES_r18 §7 captures while map-only
    * controls stayed flat), measuring the disk, not the engine. The
    * tmpfs is only chosen when it reports at least [[ScratchMinFreeBytes]]
    * free — tmpfs is typically capped at 50 % of RAM and an ENOSPC
    * mid-drain (or squeezing executor/page-cache memory) would distort
    * the very benchmarks this placement stabilizes. Falls back to
    * java.io.tmpdir when the tmpfs is absent or tight; the chosen base
    * is logged once per distinct base so bench captures record it.
    * Sizing contract + production rule: SCALE.md §"Scratch placement". */
  private[graft] val ScratchMinFreeBytes: Long = 8L << 30 // 8 GiB floor
  private val loggedScratchBases =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def scratchDir(prefix: String): String = {
    val base = sys.env.get("GRAFT_SCRATCH")
      .map(java.nio.file.Path.of(_))
      .orElse {
        val shm = java.nio.file.Path.of("/dev/shm")
        if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm) &&
          shm.toFile.getUsableSpace >= ScratchMinFreeBytes) Some(shm) else None
      }
    val p = base match {
      case Some(b) => java.nio.file.Files.createTempDirectory(b, prefix)
      case None    => java.nio.file.Files.createTempDirectory(prefix)
    }
    val baseStr = p.getParent.toString
    if (loggedScratchBases.add(baseStr))
      System.err.println(s"[graft] scratch base: $baseStr " +
        s"(free ${p.getParent.toFile.getUsableSpace >> 30} GiB)")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(p.toFile)
    }))
    p.toString
  }
  /** Build-once memo for deterministic streaming INPUT logs: the bench
    * reruns each streaming drain (warmup + median-of-3), and the ordered
    * input log is a pure function of the sf dir — rebuilding it per rep
    * bills fixture construction, not the operator under test. State /
    * output / checkpoint dirs stay per-rep (they ARE the operator). */
  private val builtLogs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def onceLog(key: String, sfDir: String)(build: String => Unit): String =
    builtLogs.computeIfAbsent(s"$key@$sfDir", _ => {
      val in = s"${scratchDir(s"graft_${key}_log")}/in"
      build(in)
      in
    })

  /** Write a streaming input log at `path`: `df` filtered by each of
    * `chunks` in turn, one parquet file per chunk. The file source takes
    * a log oldest-first by modification time, so each chunk's files get
    * an explicit mtime one second after the previous chunk's, starting
    * now (so `maxFileAge` drops none): arrival order does not depend on
    * the filesystem's mtime granularity. */
  private[graft] def writeLog(df: DataFrame, path: String, chunks: Column*): Unit = {
    val dir = java.nio.file.Paths.get(path)
    def files(): Set[java.nio.file.Path] =
      if (!java.nio.file.Files.isDirectory(dir)) Set.empty
      else {
        val ls = java.nio.file.Files.list(dir)
        try { import scala.jdk.CollectionConverters._; ls.iterator().asScala.toSet }
        finally ls.close()
      }
    val t0 = System.currentTimeMillis()
    chunks.zipWithIndex.foreach { case (p, i) =>
      val before = files()
      df.filter(p).coalesce(1).write.mode("append").parquet(path)
      val mtime = java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L)
      (files() -- before).foreach(java.nio.file.Files.setLastModifiedTime(_, mtime))
    }
  }

  /** Three ascending ranges of the long column `c` that split its span
    * in thirds: chunks for a log whose operator enforces ascending
    * arrival. */
  private[graft] def thirds(df: DataFrame, c: String): Seq[Column] = {
    val b = df.agg(min(col(c)), max(col(c))).first()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val c1 = lo + (hi - lo) / 3
    val c2 = lo + 2 * (hi - lo) / 3
    Seq(col(c) <= c1, col(c) > c1 && col(c) <= c2, col(c) > c2)
  }

  /** FREEZE a derived frame before handing it to a streaming drain: a
    * DataFrame captured in a `foreachBatch` closure (or the static side
    * of a stream-static join) is RE-EXECUTED from its source on every
    * trigger — a frozen benchmark/model side must be materialized once
    * and read back, so each trigger pays one small parquet scan instead
    * of the whole derivation (the s14/s15/s33 model-freeze discipline,
    * generalized). [[graft.PlanQualitySpec]] pins that the result plan
    * is a bare scan. */
  private[graft] def freeze(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  private def dec(c: Column): Column = c.cast("decimal(18,6)")
  private def dbl(c: Column): Column = c.cast("double")

  /** events → (user_id, event_id, event_type, value, ts_s): `ts` arrives
    * as raw INT64 nanos (nanosAsLong); seconds = nanos div 1e9 — the only
    * granularity at which Spark (full nanos) and the DuckDB oracle
    * (micros-truncated nanos) agree. */
  private def eventsSec(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("user_id").cast("long").as("user_id"),
      col("event_id").cast("long").as("event_id"),
      col("event_type"), col("value"),
      expr("ts div 1000000000").as("ts_s"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- relational surface ----

    "q11_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dbl(sum(dec(col("l_quantity")))).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // as-of join: for each purchase event, the latest prior (≤ same
    // second) non-purchase event of the same user — union+window, one
    // shuffle, no range-join blowup
    "q12_asof_join" -> ((s, dir) => {
      val ev = eventsSec(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event_id"), col("ts_s"))
      val others = ev.filter(col("event_type") =!= "purchase")
      Relational.asofJoin(
          purchases, "user_id", "ts_s",
          others, "user_id", "ts_s", "event_id", Seq("event_type", "event_id"))
        .select(col("p_event_id"), col("user_id"),
          col("event_type").as("asof_etype"), col("event_id").as("asof_event_id"))
        .orderBy(col("p_event_id"))
    }),

    // as-of join keyed on a STRING entity id — exercises the native-key
    // path (the old implementation cast keys to long, silently nulling
    // string keys); same semantics as q12, key = 'u' || user_id
    "q15_asof_string" -> ((s, dir) => {
      val ev = eventsSec(s, dir)
        .withColumn("ukey", concat(lit("u"), col("user_id")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("ukey"), col("event_id").as("p_event_id"), col("ts_s"))
      val others = ev.filter(col("event_type") =!= "purchase")
        .select(col("ukey"), col("event_id"), col("event_type"), col("ts_s"))
      Relational.asofJoin(
          purchases, "ukey", "ts_s",
          others, "ukey", "ts_s", "event_id", Seq("event_type", "event_id"))
        .select(col("p_event_id"), col("ukey"),
          col("event_type").as("asof_etype"), col("event_id").as("asof_event_id"))
        .orderBy(col("p_event_id"))
    }),

    // skew-salted join: salt lineitem on l_linenumber, replicate orders
    // 8× — result identical to the plain equi-join (the oracle)
    "q13_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      Relational.saltedJoin(li, col("l_orderkey"), o, col("o_orderkey"),
          col("l_linenumber"), salts = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          dbl(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // interval join via time-bucket decomposition: follow-up events
    // (click/view) within 1h after each signup — an ordinary hash join on
    // (user, hour-bucket) + residual range filter, never a nested loop
    "q14_range_join" -> ((s, dir) => {
      val ev = eventsSec(s, dir)
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("s_id"), col("ts_s"))
      val follows = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("ts_s"))
      val joined = Relational.bucketedRangeJoin(
        signups, "user_id", "ts_s", follows, "user_id", "ts_s",
        loExcl = 0L, hiIncl = 3600L, bucket = 3600L)
      val counts = joined.groupBy(col("s_id")).agg(count(lit(1)).as("n_follow"))
      signups.join(counts, Seq("s_id"), "left")
        .select(col("s_id"), col("user_id"),
          coalesce(col("n_follow"), lit(0L)).as("n_follow"))
        .orderBy(col("s_id"))
    }),

    // RANGE window frame (event-time sliding sum): per user, revenue in
    // the trailing hour of each event — the frame is defined by the VALUE
    // distance on ts_s, not a row count, so ties (same-second events) are
    // peers and share the frame
    "q19_range_frame" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
        .rangeBetween(-3600L, 0L)
      eventsSec(s, dir)
        .withColumn("w_sum", dbl(sum(dec(col("value"))).over(w)))
        .select(col("user_id"), col("event_id"), col("ts_s"), col("w_sum"))
        .orderBy(col("user_id"), col("ts_s"), col("event_id"))
    }),

    // ordered FUNNEL analysis (view → click → purchase by first
    // occurrence): the product-analytics staple. One conditional-min
    // groupBy(user) — map-side partials collapse each user's events to
    // three longs — then a single tiny stage-count agg; nothing beyond
    // the per-user triple ever shuffles, no window, no self-join (the
    // naive per-stage-join formulation shuffles the event table once
    // per funnel stage)
    "q20_funnel" -> ((s, dir) => {
      val firsts = eventsSec(s, dir).groupBy(col("user_id")).agg(
        min(when(col("event_type") === "view", col("event_id"))).as("f_view"),
        min(when(col("event_type") === "click", col("event_id"))).as("f_click"),
        min(when(col("event_type") === "purchase", col("event_id"))).as("f_buy"))
      firsts.agg(
          count(col("f_view")).as("n_view"),
          count(when(col("f_view") < col("f_click"), 1)).as("n_view_click"),
          count(when(col("f_view") < col("f_click") && col("f_click") < col("f_buy"), 1))
            .as("n_full_funnel"))
        .orderBy(col("n_view"))
    }),

    // ROLLING 7-day active users (DAU/WAU): events compress to the
    // distinct (user, day) activity frame, each activity day COVERS the
    // 7 windows it contributes to via a bounded explode, and WAU is one
    // distinct-count per covered day — no RANGE window over the event
    // stream, no day×day self-join; reported for observed days only
    "q25_rolling_active" -> ((s, dir) => {
      val ud = eventsSec(s, dir)
        .select(col("user_id"), expr("ts_s div 86400").as("day")).distinct()
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("w_day"))
        .groupBy(col("w_day")).agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, dau("day") === wau("w_day"))
        .select(col("day"), col("dau"), col("wau"))
        .orderBy(col("day"))
    }),

    // SESSION PATH mining: the top event-type trigram paths users walk
    // WITHIN a session (s04's 1h-gap sessions — paths never bridge a
    // session boundary, which is what separates this from q22's global
    // transition edges). One user-keyed shuffle carries every window
    // (session assignment + both lags); the path census is bounded by
    // |event types|³, so the top-k runs on a tiny frame at any scale
    "q27_session_paths" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = eventsSec(s, dir)
        .withColumn("prev", lag(col("ts_s"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull || col("ts_s") - col("prev") > 3600, 1L).otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(run))
      val ws = Window.partitionBy(col("user_id"), col("sess_id"))
        .orderBy(col("ts_s"), col("event_id"))
      sess
        .withColumn("e1", lag(col("event_type"), 2).over(ws))
        .withColumn("e2", lag(col("event_type"), 1).over(ws))
        .filter(col("e1").isNotNull)
        .groupBy(col("e1"), col("e2"), col("event_type").as("e3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
        .limit(10)
    }),

    // RETENTION HALF-LIFE: per cohort, the first day offset where active
    // users drop below half of day 0 (−1 = never within observation) —
    // the single decay number a dashboard quotes from q21's matrix;
    // cohorts-sized frames throughout after the q21 aggregate
    "q38_retention_halflife" -> ((s, dir) => {
      val ev = eventsSec(s, dir)
        .select(col("user_id"), expr("ts_s div 86400").as("day"))
      val firsts = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      val j = ev.join(firsts, Seq("user_id"))
        .select(col("user_id"), col("cohort"), (col("day") - col("cohort")).as("offset_d"))
        .distinct()
      val matrix = j.groupBy(col("cohort"), col("offset_d"))
        .agg(count(lit(1)).as("n_users"))
      val day0 = matrix.filter(col("offset_d") === 0)
        .select(col("cohort"), col("n_users").as("n_day0"))
      matrix.join(day0, Seq("cohort"))
        .groupBy(col("cohort"))
        .agg(first(col("n_day0")).as("n_day0"),
          coalesce(min(when(col("offset_d") > 0 && col("n_users") * 2 < col("n_day0"),
            col("offset_d"))), lit(-1L)).as("half_life_d"))
        .orderBy(col("cohort"))
    }),

    // DEGREE spectrum of the item graph: how many nodes have exactly d
    // neighbors — the graph-health histogram next to q36's cohesion
    // number (a heavy high-degree tail = hub/spam structure); t18's
    // count-of-counts shape on the degree census
    "q37_degree_spectrum" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      val sq = ev.select(col("item").as("x"), lag(col("item"), 1).over(w).as("y"))
        .filter(col("y").isNotNull && col("x") =!= col("y"))
      val edges = sq.select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b")).distinct()
      edges.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("degree"))
    }),

    // TRIANGLE census: triangle count + global clustering coefficient
    // of the undirected item graph — the cohesion number distinguishing
    // community-structured graphs from star-shaped (spam-hub) ones. The
    // a<b<c ordering discipline makes the two-join plan count each
    // triangle exactly once with no candidate explosion beyond wedges;
    // wedges come from the degree census (Σ d·(d−1)/2), all exact
    "q36_triangles" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      val sq = ev.select(col("item").as("x"), lag(col("item"), 1).over(w).as("y"))
        .filter(col("y").isNotNull && col("x") =!= col("y"))
      val edges = sq.select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b")).distinct()
      val wedgesRow = edges.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
        .agg(sum(expr("d * (d - 1) div 2")).as("wedges"),
          count(lit(1)).as("n_nodes"))
      val e2 = edges.select(col("a").as("b"), col("b").as("c"))
      val e3 = edges.select(col("a").as("a3"), col("b").as("c3"))
      val triangles = edges.join(e2, Seq("b"))
        .join(e3, col("a") === col("a3") && col("c") === col("c3"))
        .agg(count(lit(1)).as("n_triangles"))
      triangles.crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges"))))
        .crossJoin(broadcast(wedgesRow))
        .select(col("n_triangles"), col("n_edges"), col("n_nodes"),
          expr("CASE WHEN wedges = 0 THEN 0L " +
            "ELSE (3L * n_triangles * 1000000L) div wedges END").as("gcc_ppm"))
    }),

    // BEHAVIORAL-data release pipeline (capstone composition): inject
    // the q33 synthetic bots, then flag bot users (q33) AND burst
    // buckets (q30), re-derive q22's transition matrix on the CLEANED
    // stream, and report raw-vs-clean per edge — "what did the curation
    // gates change in the downstream statistics", the before/after
    // report a release ships. Pure composition of existing operators.
    "p43_behavior_release" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = eventsSec(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts_s"))
      val bots = base.filter(col("user_id") % 17 === 0)
        .select((col("user_id") + 1000000L).as("user_id"),
          col("event_id"), col("event_type"), lit(0L).as("ts_s"))
      val all = base.unionByName(bots)
      val botUsers = graft.ops.Relational.botCensus(all,
        "user_id", "event_id", "ts_s").select(col("user_id"))
      val burstBuckets = graft.ops.Relational.burstCensus(
          all.select(col("event_type"), col("ts_s")), "event_type", "ts_s")
        .select(col("event_type"), col("bucket"))
      val clean = all
        .join(botUsers, Seq("user_id"), "left_anti")
        .withColumn("bucket", expr("ts_s div 3600L"))
        .join(burstBuckets, Seq("event_type", "bucket"), "left_anti")
      def matrix(df: org.apache.spark.sql.DataFrame) = {
        val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        df.select(col("user_id"), col("event_id"), col("event_type").as("to_type"))
          .withColumn("from_type", lag(col("to_type"), 1).over(w))
          .filter(col("from_type").isNotNull)
          .groupBy(col("from_type"), col("to_type")).agg(count(lit(1)).as("n"))
      }
      matrix(all).withColumnRenamed("n", "n_raw")
        .join(matrix(clean).withColumnRenamed("n", "n_clean"),
          Seq("from_type", "to_type"), "full_outer")
        .select(col("from_type"), col("to_type"),
          coalesce(col("n_raw"), lit(0L)).as("n_raw"),
          coalesce(col("n_clean"), lit(0L)).as("n_clean"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // EVENT-CONCENTRATION census: what share of all events the top 1%
    // (and 10%) of users generate — the skew number that decides whether
    // behavioral statistics reflect the population or a handful of
    // power users/crawlers (q33's aggregate-level companion). Users-
    // sized census windows above one events-sized aggregate; ceil-counts
    // and ppm shares all exact integers, ties broken by user_id
    "q35_concentration" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val perUser = eventsSec(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      val w = Window.orderBy(col("n").desc, col("user_id"))
      val all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val ranked = perUser
        .withColumn("rk", row_number().over(w))
        .withColumn("n_users", count(lit(1)).over(all))
        .withColumn("total", sum(col("n")).over(all))
      ranked
        .select(
          when(col("rk") <= expr("(n_users + 99) div 100"), lit("top1"))
            .when(col("rk") <= expr("(n_users + 9) div 10"), lit("top10"))
            .otherwise(lit("rest")).as("tier"),
          col("n"), col("total"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"),
          expr("(sum(n) * 1000000L) div first(total)").as("share_ppm"))
        .orderBy(col("tier"))
    }),

    // SESSION LIFT: P(a,b)/(P(a)·P(b)) over 1h-gap sessions — which
    // event types co-occur beyond chance (the association rule next to
    // q22's directed transitions); sessions collapse to sorted distinct
    // type arrays, pairs generate map-side (the q31 discipline), and
    // every frame after the session aggregate is types²-bounded
    "q34_session_lift" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = eventsSec(s, dir)
        .withColumn("prev", lag(col("ts_s"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull || col("ts_s") - col("prev") > 3600, 1L).otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(run))
      val sets = sess.groupBy(col("user_id"), col("sess_id"))
        .agg(array_sort(collect_set(col("event_type"))).as("types"))
      val totals = sets.agg(count(lit(1)).as("n_sess"))
      val singles = sets.select(explode(col("types")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("n_t"))
      val pairs = sets.filter(size(col("types")) >= 2)
        .select(explode(flatten(transform(
            sequence(lit(1), size(col("types")) - 1),
            i => transform(sequence(i + 1, size(col("types"))),
              j => struct(element_at(col("types"), i).as("a"),
                element_at(col("types"), j).as("b")))))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b")).agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(singles.select(col("t").as("a"), col("n_t").as("n_a"))), Seq("a"))
        .join(broadcast(singles.select(col("t").as("b"), col("n_t").as("n_b"))), Seq("b"))
        .crossJoin(broadcast(totals))
        .select(col("a"), col("b"), col("n_ab"),
          round(col("n_ab") * col("n_sess") * lit(1.0) / (col("n_a") * col("n_b")), 6)
            .as("lift"))
        .orderBy(col("a"), col("b"))
    }),

    // BOT census: users whose inter-arrival gaps are dominated by one
    // value (scripted timers) — the behavioral-data analog of the
    // boilerplate filter; synthetic bots injected so the flag has
    // positives at every SF (user_id+1e6, events every exactly 60s)
    "q33_bot_census" -> ((s, dir) => {
      val base = eventsSec(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_s"))
      val bots = base.filter(col("user_id") % 17 === 0)
        .select((col("user_id") + 1000000L).as("user_id"),
          col("event_id"), lit(0L).as("ts_s")) // a perfect timer: all gaps 0
      graft.ops.Relational.botCensus(base.unionByName(bots),
          "user_id", "event_id", "ts_s")
        .orderBy(col("user_id"))
    }),

    // MARKOV removal-effect attribution: the data-driven multi-touch
    // model next to q24's last-touch heuristic — journeys truncate at
    // first purchase in one user-keyed pass, the (types+2)²-bounded
    // transition matrix collects, and the absorbing-chain fixed point
    // runs in exact driver integers per removal arm
    "q32_markov_attribution" -> ((s, dir) => {
      graft.ops.Relational.markovAttribution(
        t(s, dir, "events").select(col("user_id"), col("event_id"), col("event_type")),
        "user_id", "event_id", "event_type")
    }),

    // CO-VISITATION neighbors: top-5 items sharing q27's 1h-gap sessions
    // with each item — the collaborative-filtering build; session item
    // sets capped at 20 (bot sessions are co-visitation's hub shingles),
    // pairs generated map-side from sorted arrays, never a self-join
    "q31_covisitation" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ev = t(s, dir, "events").select(
        col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        expr("ts div 1000000000").as("ts_s"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      val sess = ev.withColumn("prev", lag(col("ts_s"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull || col("ts_s") - col("prev") > 3600, 1L).otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(run))
      graft.ops.Relational.coVisitation(sess, "user_id", "sess_id", "item",
          k = 5, maxSessionItems = 20)
        .orderBy(col("item"), col("rk"))
    }),

    // TRUST RANK: personalized PageRank over the same item graph with
    // teleport restricted to a curated SEED set (items < 10) — the
    // spam-demotion / source-trust prior: rank measures proximity-
    // weighted reachability FROM the seeds, and items only spam links
    // reach keep ~zero rank. Same integer grids and loop shape as q26
    "q28_trust_rank" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      val ev = t(s, dir, "events").select(
        col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      val sq = ev.select(col("item").as("dst"),
        lag(col("item"), 1).over(w).as("src"))
      val edges = sq.filter(col("src").isNotNull)
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      val nodes = ev.select(col("item"))
      graft.ops.Relational.personalizedPageRank(edges, nodes,
          nodes.filter(col("item") < 10), 10)
    }),

    // BURST census: hourly buckets where an event type runs ≥2× its own
    // floor-mean rate — the scrape-storm / trending-anomaly flag over
    // ingest logs; one events shuffle, census-sized everything after
    "q30_burst_census" -> ((s, dir) => {
      graft.ops.Relational.burstCensus(
          eventsSec(s, dir).select(col("event_type"), col("ts_s")),
          "event_type", "ts_s")
        .orderBy(col("event_type"), col("bucket"))
    }),

    // SALSA hub/authority: the stochastic-HITS score over the same
    // behavioral transition graph — probability-normalized walks make the
    // iteration integer-exact (no L2 normalization), so five alternating
    // backward/forward steps hash-match the oracle's unrolled CTEs
    "q29_salsa" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      val ev = t(s, dir, "events").select(
        col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      val sq = ev.select(col("item").as("dst"),
        lag(col("item"), 1).over(w).as("src"))
      val edges = sq.filter(col("src").isNotNull)
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      graft.ops.Relational.salsa(edges, 5)
    }),

    // ITEM RANK: fixed-point PageRank over the behavioral item graph
    // (q22's transition edges, item-granular) — the link-authority score
    // a web-corpus curation pipeline computes over the domain graph as a
    // quality prior. Integer math end-to-end (1e-12 rank grid, 1e-6
    // probability grid) so ten distributed iterations are bit-identical
    // to the oracle's ten unrolled CTEs; per-iteration cost is ONE
    // edges⋈ranks join + one dst-keyed aggregate, plan kept flat by
    // localCheckpoint (the iterative-graph discipline of d07's
    // connected components)
    "q26_item_rank" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      val ev = t(s, dir, "events").select(
        col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      val sq = ev.select(col("item").as("dst"),
        lag(col("item"), 1).over(w).as("src"))
      val edges = sq.filter(col("src").isNotNull)
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      graft.ops.Relational.pageRank(edges, ev.select(col("item")), 10)
    }),

    // LAST-TOUCH attribution: each purchase attributed to the same
    // user's latest preceding non-purchase event — one user-keyed
    // window ordered by event_id carrying a running "last touch"
    // (per-user ordering only, never a global sort), then revenue
    // rolls up per touch type; the marketing-attribution primitive
    "q24_last_touch" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      eventsSec(s, dir)
        .withColumn("touch", last(
          when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase" && col("touch").isNotNull)
        .groupBy(col("touch"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("revenue"))
        .orderBy(col("touch"))
    }),

    // TIME-BOUNDED conversion funnel: view → click within 1h of the
    // first view → purchase within 1h of that click. Each stage is a
    // type-filtered slice joined to the previous stage's users-sized
    // firsts frame (pruned BEFORE the join), keyed on user_id
    // throughout — three co-keyed aggregates, no window, no self-join
    // of the full event table; the per-stage firsts frames are
    // users-sized and broadcastable when small
    "q23_funnel_windowed" -> ((s, dir) => {
      val dt = 3600L
      val ev = eventsSec(s, dir).select(col("user_id"), col("ts_s"), col("event_type"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_s")).as("t_v"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts_s") >= col("t_v") && col("ts_s") <= col("t_v") + dt)
        .groupBy(col("user_id")).agg(min(col("ts_s")).as("t_c"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts_s") >= col("t_c") && col("ts_s") <= col("t_c") + dt)
        .groupBy(col("user_id")).agg(min(col("ts_s")).as("t_p"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_click_within")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchase_within")))
    }),

    // cohort retention: users bucketed by first-activity day, then for
    // each (cohort, day-offset) the count of users active that day — the
    // classic retention triangle. No join-back to a firsts table: the
    // per-user day SET rides in the same aggregate as the cohort min
    // (bounded by distinct calendar days, not events), so the whole
    // query is two key-partitioned aggregates and an explode between
    "q21_retention" -> ((s, dir) => {
      val ev = eventsSec(s, dir)
        .select(col("user_id"), expr("ts_s div 86400").as("day"))
      ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort"), collect_set(col("day")).as("days"))
        .select(col("cohort"), explode(col("days")).as("day"))
        .groupBy(col("cohort"), (col("day") - col("cohort")).as("offset_d"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort"), col("offset_d"))
    }),

    // behavioral transition matrix (first-order Markov edges): for each
    // user the event sequence in event_id order, lag-paired inside a
    // user-keyed window (one shuffle on user_id, never a global sort),
    // then edge counts — the path-analysis primitive behind funnel
    // discovery and next-event prediction features
    "q22_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      eventsSec(s, dir)
        .select(col("user_id"), col("event_type").as("to_type"),
          lag(col("event_type"), 1).over(w).as("from_type"))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // ---- streaming (T3/T4/T7: windowed agg with watermark) ----

    // q21's stream twin: retention cohorts maintained incrementally —
    // per-user (min-day, day-set) state folded per micro-batch through
    // the bucketed TxnLogState (only TOUCHED buckets are read/rewritten
    // per trigger). The fold is min + set-union: commutative and
    // idempotent, so NO arrival-order contract (chunks split by user_id,
    // not time) and redelivery is harmless — the KMV-style state family,
    // per-user-keyed. Final matrix == the batch q21, its oracle
    "s19_stream_retention" -> ((s, dir) => {
      val work = scratchDir("graft_s19")
      val in = onceLog("s19", dir) { path =>
        val ev = eventsSec(s, dir)
          .select(col("user_id"), expr("ts_s div 86400").as("day"))
        writeLog(ev, path,
            col("user_id") % 3 === 0, col("user_id") % 3 === 1,
            col("user_id") % 3 === 2)
      }
      val state = new graft.streaming.TxnLogState(s"$work/state", s, 16)
      graft.streaming.StreamRetention.drain(s, state, in, s"$work/ckpt")
        .orderBy(col("cohort"), col("offset_d"))
    }),

    // q20's stream twin: per-user stage firsts folded per micro-batch —
    // per-field min is idempotent and order-free (chunks split by
    // user_id), the final funnel is a state-sized fold; q20's oracle
    "s21_stream_funnel" -> ((s, dir) => {
      val work = scratchDir("graft_s21")
      val in = onceLog("s21", dir) { path =>
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"))
        writeLog(ev, path,
            col("user_id") % 3 === 0, col("user_id") % 3 === 1,
            col("user_id") % 3 === 2)
      }
      val state = new graft.streaming.TxnLogState(s"$work/state", s, 16)
      graft.streaming.StreamFunnel.drain(s, state, in, s"$work/ckpt")
        .orderBy(col("n_view"))
    }),

    // q22's stream twin: the transition matrix maintained incrementally —
    // per-user last-event state (bucketed TxnLogState) + a types²-sized
    // additive count generation; within-batch edges from a user-keyed lag
    // window, boundary edges join the stored lasts, and the ascending-
    // event_id contract is ENFORCED against a high-water mark (exact
    // redelivery detected and skipped — additive counts must never
    // double-fold). Final matrix == batch q22, its oracle
    "s20_stream_transitions" -> ((s, dir) => {
      val work = scratchDir("graft_s20")
      val in = onceLog("s20", dir) { path =>
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"))
        // ascending event_id chunks — the ordering contract the operator enforces
        writeLog(ev, path, thirds(ev, "event_id"): _*)
      }
      val lasts = new graft.streaming.TxnLogState(s"$work/lasts", s, 16)
      graft.streaming.StreamTransitions
        .drain(s, lasts, s"$work/counts", in, s"$work/ckpt")
        .orderBy(col("from_type"), col("to_type"))
    }),

    // STREAMING unique-token accounting: the first fold composing BOTH
    // state classes — an append-only fp seen-set (delta commits) and
    // sources-sized additive raw/unique counters; first-copy credit =
    // min doc_id under the enforced ascending arrival. The d25 mirror
    // fixture (shifted ids, next-source copies) makes stale_ppm real
    "s38_stream_unique_tokens" -> ((s, dir) => {
      val work = scratchDir("graft_s38")
      val in = onceLog("s38", dir) { path =>
        val d = t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
        val mirrored = d.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 800000L).as("doc_id"),
            concat(lit("src"),
              ((regexp_replace(col("source"), "src", "").cast("long") + 1) % 20))
              .as("source"),
            concat(lit(" "), col("text"), lit("  ")).as("text"))
        val all = d.unionByName(mirrored)
        writeLog(all, path, thirds(all, "doc_id"): _*)
      }
      val seen = new graft.streaming.TxnLogState(s"$work/seen", s, 16)
      graft.streaming.StreamUniqueTokens.drain(s, seen, s"$work/agg", in, s"$work/ckpt")
        .orderBy(col("source"))
    }),

    // t32's stream twin: exact per-(source, term) counts behind the
    // bucketed TxnLogState — vocabulary-sized additive-update state,
    // term-keyed bucket routing so a trigger touches only its own
    // buckets; the missing-mass report derives at drain time (singleton-
    // ness is not trigger-local). Final report == batch t32, its oracle
    "s35_stream_vocab" -> ((s, dir) => {
      val work = scratchDir("graft_s35")
      val in = onceLog("s35", dir) { path =>
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("source").as("grp"), col("text"))
        writeLog(d, path, thirds(d, "doc_id"): _*)
      }
      val state = new graft.streaming.TxnLogState(s"$work/vocab", s, 16)
      graft.streaming.StreamVocab.drain(s, state, in, s"$work/ckpt")
        .orderBy(col("grp"))
    }),

    // q30's stream twin: the burst census folded per trigger (additive
    // (type, bucket) counters under the HWM contract), the spike formula
    // run ONCE on the drained totals — the live scrape-storm alarm;
    // final report == batch q30, its oracle
    "s34_stream_burst" -> ((s, dir) => {
      val work = scratchDir("graft_s34")
      val in = onceLog("s34", dir) { path =>
        val ev = eventsSec(s, dir).select(col("event_id"), col("event_type"), col("ts_s"))
        writeLog(ev, path, thirds(ev, "event_id"): _*)
      }
      graft.streaming.StreamBurst.drain(s, s"$work/agg", in, s"$work/ckpt")
        .orderBy(col("event_type"), col("bucket"))
    }),

    // q24's stream twin: last-touch attribution maintained incrementally —
    // per-user last non-purchase touch (bucketed TxnLogState) + a
    // touch-types-sized additive rollup generation; purchases attribute
    // within-batch via the lag frame, across triggers via the stored
    // touch, revenue folds in decimal. Ascending event_id enforced
    // against a high-water mark (additive counts must never double-fold).
    // Final rollup == batch q24, its oracle
    "s32_stream_attribution" -> ((s, dir) => {
      val work = scratchDir("graft_s32")
      val in = onceLog("s32", dir) { path =>
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        // ascending event_id chunks — the ordering contract the operator enforces
        writeLog(ev, path, thirds(ev, "event_id"): _*)
      }
      val touches = new graft.streaming.TxnLogState(s"$work/touches", s, 16)
      graft.streaming.StreamAttribution
        .drain(s, touches, s"$work/agg", in, s"$work/ckpt")
        .orderBy(col("touch"))
    }),

    // d20's stream twin: the re-crawl arrives as a stream against a
    // FROZEN bucketed baseline — each trigger's verdicts are a pure
    // per-doc function of (text, baseline row), so arrival order is free
    // (chunks split by id); the verdict log appends as per-bucket deltas
    // (I/O ∝ trigger), the deleted class materializes at drain end as one
    // state-sized anti-join. Final diff == batch d20, its oracle
    "s22_stream_snapshot_diff" -> ((s, dir) => {
      val work = scratchDir("graft_s22")
      val v1 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val in = onceLog("s22", dir) { path =>
        val recrawl = v1.filter(col("doc_id") % 7 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" updated")))
              .when(col("doc_id") % 3 === 0, concat(lit("  "), col("text"), lit("   ")))
              .when(col("doc_id") % 13 === 0,
                concat_ws(" ", reverse(split(trim(col("text")), "\\s+"))))
              .otherwise(col("text")))
        val v2 = recrawl.unionByName(
          v1.filter(col("doc_id") % 11 === 0)
            .select((col("doc_id") + 10000000000L).as("doc_id"), col("text")))
        writeLog(v2, path,
            col("doc_id") % 3 === 0, col("doc_id") % 3 === 1,
            col("doc_id") % 3 === 2)
      }
      val baseline = new graft.streaming.TxnLogState(s"$work/base", s, 16)
      val verdicts = new graft.streaming.TxnLogState(s"$work/verd", s, 16)
      graft.streaming.StreamSnapshotDiff.initBaseline(baseline, v1, "doc_id", "text")
      graft.streaming.StreamSnapshotDiff.drain(s, baseline, verdicts, in, s"$work/ckpt")
        .orderBy(col("doc_id"))
    }),

    // a20 on the ingest stream: every arriving micro-batch scores its
    // quantization fit against the FROZEN codebook and appends one
    // batch-keyed report row — counts and micro-unit sums are additive
    // over disjoint triggers, so the drained summary equals the batch
    // a20 aggregate exactly; the per-batch rows are the drift time
    // series an operator dashboards
    "s24_stream_drift" -> ((s, dir) => {
      val work = scratchDir("graft_s24")
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      val cents = Similarity.trainCentroids(corpus, 8, 2)
      val in = onceLog("s24", dir) { path =>
        writeLog(corpus, path,
            col("vec_id") % 3 === 0, col("vec_id") % 3 === 1,
            col("vec_id") % 3 === 2)
      }
      graft.streaming.StreamDrift.drain(s, cents, in, s"$work/reports", s"$work/ckpt")
    }),

    "s02_stream_window" -> ((s, dir) => {
      val work = scratchDir("graft_s02")
      t(s, dir, "events").coalesce(4).write.mode("overwrite").parquet(s"$work/log")
      graft.streaming.StatefulScope.withStatePartitions(s, 4) {
        val src = s.readStream
          .schema(t(s, dir, "events").schema)
          .parquet(s"$work/log")
        val q = src
          .withColumn("tsc", timestamp_micros(expr("ts div 1000")))
          .withWatermark("tsc", "1 hour")
          .groupBy(window(col("tsc"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), dbl(sum(dec(col("value")))).as("sum_v"))
          .writeStream
          .format("memory").queryName("s02_win")
          .outputMode("complete")
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$work/ckpt")
          .start()
        q.awaitTermination()
      }
      s.table("s02_win")
        .select(unix_timestamp(col("window.start")).as("hour_start"),
          col("event_type"), col("n"), col("sum_v"))
        .orderBy(col("hour_start"), col("event_type"))
    }),

    // stream-static join: streaming events against the static customer
    // dim (broadcast — the stream never shuffles), then a batch rollup
    "s03_stream_static_join" -> ((s, dir) => {
      val work = scratchDir("graft_s03")
      t(s, dir, "events").coalesce(4).write.mode("overwrite").parquet(s"$work/log")
      val dim = broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")))
      val q = s.readStream
        .schema(t(s, dir, "events").schema)
        .parquet(s"$work/log")
        .join(dim, col("user_id") === col("c_custkey"))
        .select(col("c_mktsegment"), col("value"))
        .writeStream
        .format("memory").queryName("s03_join")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ckpt")
        .start()
      q.awaitTermination()
      s.table("s03_join")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dbl(sum(dec(col("value")))).as("sum_v"))
        .orderBy(col("c_mktsegment"))
    }),

    // exactly-once ingestion dedup over at-least-once delivery: the whole
    // log is delivered TWICE; dropDuplicatesWithinWatermark keys state on
    // event_id and evicts it past the horizon, so state is O(horizon),
    // not O(history) — the aggregate must equal the single-delivery one
    "s06_stream_dedup" -> ((s, dir) => {
      val work = scratchDir("graft_s06")
      val ev = t(s, dir, "events")
      ev.coalesce(4).write.mode("overwrite").parquet(s"$work/log")
      ev.coalesce(4).write.mode("append").parquet(s"$work/log")
      graft.streaming.StatefulScope.withStatePartitions(s, 4) {
        val src = s.readStream
          .schema(ev.schema)
          .parquet(s"$work/log")
          .withColumn("tsc", timestamp_micros(expr("ts div 1000")))
        val q = graft.streaming.StreamDedup
          .dedupWithinHorizon(src, Seq("event_id"), "tsc", "365 days")
          .select(col("event_type"), col("value"))
          .writeStream
          .format("parquet").option("path", s"$work/out")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$work/ckpt")
          .start()
        q.awaitTermination()
      }
      s.read.schema("event_type string, value double").parquet(s"$work/out")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dbl(sum(dec(col("value")))).as("sum_v"))
        .orderBy(col("event_type"))
    }),

    // streaming curation gate: the SAME library operators (quality score,
    // lang-ID, benchmark decontamination) applied per micro-batch on an
    // ingestion stream. Entirely map-side: the benchmark collapses to a
    // 1-row shingle-hash array broadcast against the stream, so the gate
    // never shuffles and never holds state — curation at ingestion speed
    "s07_stream_curation" -> ((s, dir) => {
      import graft.ops.TextAnalysis
      val work = scratchDir("graft_s07")
      val d = t(s, dir, "documents")
      d.filter(col("doc_id") >= 50).coalesce(4)
        .write.mode("overwrite").parquet(s"$work/log")
      val benchSet = broadcast(
        Dedup.shingleHashSets(d.filter(col("doc_id") < 50), "doc_id", "text", n = 3)
          .agg(array_distinct(flatten(collect_list(col("hs")))).as("bench_hs")))
      val q = s.readStream.schema(d.schema).parquet(s"$work/log")
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("q"),
          TextAnalysis.langId(col("text")).as("lang"),
          shingle_hashes60(col("text"), 3).as("hs"))
        .crossJoin(benchSet)
        .withColumn("hits",
          when(col("hs").isNull, lit(0L))
            .otherwise(size(array_intersect(col("hs"), col("bench_hs"))).cast("long")))
        .filter(col("q") >= 0.2 && col("hits") < 5)
        .select("doc_id", "lang", "q", "hits")
        .writeStream
        .format("memory").queryName("s07_gate")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ckpt")
        .start()
      q.awaitTermination()
      s.table("s07_gate").orderBy(col("doc_id"))
    }),

    // the SQL surface end-to-end under the oracle gate: a pure-SQL query
    // over the REGISTERED kernels (md5_shard routing + key formatting) —
    // what a SQL-only user of the library runs
    "x25_sql_surface" -> ((s, dir) => {
      graft.expr.GraftExtensions.register(s)
      t(s, dir, "customer").createOrReplaceTempView("x25_customer")
      s.sql(
        """SELECT CAST(md5_shard(CAST(c_custkey AS STRING), 8) AS BIGINT) AS shard,
          |       count(*) AS n,
          |       min(format_key('t', CAST(c_custkey AS STRING))) AS min_key
          |FROM x25_customer GROUP BY 1 ORDER BY shard""".stripMargin)
    }),

    // ---- indexer surface ----

    // P5 completion: the scale-prefixed bigdecimal codec round-trip
    "x17_bigdecimal_codec" -> ((s, dir) => {
      t(s, dir, "supplier").select(
          col("s_suppkey"),
          hbase_to_bigdecimal(hbase_from_bigdecimal(
              col("s_acctbal").cast("decimal(12,2)").cast("decimal(38,18)")))
            .cast("decimal(12,2)").cast("string").as("rt_dec"))
        .orderBy(col("s_suppkey"))
    }),

    // P15: table-aware unique keys (table embedded in the id, hyphens in
    // every component escaped) + unformat recovering the components
    "x18_table_key" -> ((s, dir) => {
      val df = t(s, dir, "part")
        .select(col("p_partkey"), concat(lit("k-"), col("p_partkey")).as("rowk"))
      val id = format_key(lit("my-table"), col("rowk"), lit("fam"), lit("qual-x"))
      df.select(
          col("p_partkey"),
          id.as("cell_id"),
          element_at(unformat_key(id), 1).as("rt_table"),
          element_at(unformat_key(id), 2).as("rt_row"))
        .orderBy(col("p_partkey"))
    }),

    // ---- pipeline ops ----

    // near-dup clusters: connected components over the verified LSH pairs
    // (iterative min-label propagation, lineage-checkpointed)
    "d07_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashLshPairs(
        t(s, dir, "documents"), "doc_id", "text", 4, 2, 3, 0.5)
      Relational.connectedComponents(pairs.select("a_id", "b_id"))
        .orderBy(col("node"))
    }),

    // near-dup PRUNING: pairs → components → one representative per
    // cluster (longest doc, ties to the smaller id) + all singletons —
    // the "drop the duplicates, keep the best" step, end-to-end
    "d14_neardup_prune" -> ((s, dir) => {
      Dedup.nearDupPrune(t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", 4, 2, 3, 0.5)
        .orderBy(col("doc_id"))
    }),

    // SemDeDup: k-means the embedding corpus (deterministic codebook),
    // then within-cluster cosine near-dup drop — the quadratic term is
    // confined to clusters, never n²
    "a05_semdedup" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      Similarity.semDedup(corpus, threshold = 0.4, nCentroids = 8)
        .orderBy(col("vec_id"))
    }),

    // cluster MEDOIDS: per k-means cluster the most central actual
    // member (highest exact micro-unit cosine sum to co-members, ties
    // to the smaller id) — exemplar extraction for distillation and
    // prototype-keeping pruning; pairwise work cluster-confined, argmax
    // one max_by aggregate
    "d23_cluster_medoids" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      Similarity.clusterMedoids(corpus, nCentroids = 8)
        .orderBy(col("c_id"))
    }),

    // MIPS top-k: exact inner-product retrieval for unnormalized
    // embeddings — cosine would erase the magnitude signal; integer dot
    // is exact in double, broadcast-query + bounded-heap shape
    "a27_mips_topk" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      Similarity.mipsTopK(corpus, corpus.filter(col("vec_id") < 5), k = 5)
        .orderBy(col("q_id"), col("rk"))
    }),

    // HOT-CELL SPLIT: IVF rebalancing — cells above ⌈total/cells⌉ split
    // into two by a grouped per-cell 2-means (every hot cell trains in
    // the same jobs), fresh generation + atomic manifest flip; output =
    // the post-split census with parent lineage
    "a26_cell_split" -> ((s, dir) => {
      import s.implicits._
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      val work = scratchDir("graft_a26")
      Similarity.buildIvfIndex(corpus, work, nCentroids = 8)
      val parents = Similarity.splitHotCells(s, work)
      val (_, live, schema) = Similarity.resolveIndex(work)
      val census = graft.streaming.IndexState.readParquet(s, schema, live)
        .groupBy(col("c_id").cast("long").as("c_id")).agg(count(lit(1)).as("n"))
      val parentDF = parents.toDF("c_id", "parent_id")
      census.join(broadcast(parentDF), Seq("c_id"), "left")
        .select(col("c_id"),
          coalesce(col("parent_id"), col("c_id")).as("parent_id"), col("n"))
        .orderBy(col("c_id"))
    }),

    // k-NN GRAPH: every vector's top-3 same-cell cosine neighbors — the
    // IVF-bounded corpus self-join (n²/cells pairs, map-only assignment,
    // bounded-heap top-k), the substrate of cluster pruning and
    // graph-propagation ops
    "a25_knn_graph" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      Similarity.knnGraph(corpus, k = 3, nCentroids = 8)
        .orderBy(col("q_id"), col("rk"))
    }),

    // IVF ANN: coarse-quantizer assignment + nProbe-list exact re-rank
    "a03_ann_ivf" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      Similarity.ivfTopK(corpus, corpus.filter(col("vec_id") < 5),
          k = 5, nCentroids = 8, nProbe = 2)
        .orderBy(col("q_id"), col("rk"))
    }),

    // IVF as a PERSISTED index: build (codebook + assignment partitioned
    // by centroid) into a work dir, then serve top-k reading only the
    // probed centroids' partitions — results identical to a03's live path,
    // so it shares a03's oracle
    "a04_ann_ivf_index" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      val work = scratchDir("graft_a04")
      Similarity.buildIvfIndex(corpus, work, nCentroids = 8)
      Similarity.ivfIndexTopK(s, work, corpus.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .orderBy(col("q_id"), col("rk"))
    }),

    // product-quantization ANN (the PQ half of IVF-PQ): per-subspace
    // deterministic codebooks, map-only encode (m codes + the exact norm
    // per vector), queries score via broadcast ADC lookup tables — the
    // corpus is scanned once as codes, never as raw vectors
    "a06_ann_pq" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      Similarity.pqTopK(corpus, corpus.filter(col("vec_id") < 5),
          k = 5, m = 4, dim = 64, ksub = 8)
        .orderBy(col("q_id"), col("rk"))
    }),

    // full IVF-PQ: coarse probe-list pruning (a03) + PQ-ADC scoring
    // inside the probed lists (a06) — the two halves composed into the
    // canonical compressed-index serving path
    "a07_ann_ivfpq" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      Similarity.ivfPqTopK(corpus, corpus.filter(col("vec_id") < 5),
          k = 5, nCentroids = 8, nProbe = 2, m = 4, dim = 64, ksub = 8)
        .orderBy(col("q_id"), col("rk"))
    }),

    // the PERSISTED residual index: a13's partitioned layout with the
    // manifest recording the encoding mode (append/serve/compact can
    // never mix raw and residual coordinate systems); books freeze from
    // the full corpus, half builds, half appends, serving ≡ live a21
    "a22_ann_ivf_rpq_index" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      val work = scratchDir("graft_a22")
      val (co, bo) = Similarity.trainIvfRpq(corpus, 8, m = 4, dim = 64, ksub = 8)
      Similarity.buildIvfRpqIndex(corpus.filter(col("vec_id") % 2 === 0), work,
        coarse = Some(co), books = Some(bo))
      Similarity.appendToIvfPqIndex(corpus.filter(col("vec_id") % 2 === 1), work)
      Similarity.ivfPqIndexTopK(s, work, corpus.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .orderBy(col("q_id"), col("rk"))
    }),

    // RESIDUAL IVF-PQ: the canonical FAISS encoding — PQ codebooks
    // train on x − c(x), so the code budget spends on the smaller
    // post-coarse signal; scoring = the coarse dot (per query×probe)
    // plus the same ADC LUT sum, exact norms in the denominator
    "a21_ann_ivf_rpq" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      Similarity.ivfRpqTopK(corpus, corpus.filter(col("vec_id") < 5),
          k = 5, nCentroids = 8, nProbe = 2, m = 4, dim = 64, ksub = 8)
        .orderBy(col("q_id"), col("rk"))
    }),

    // BINARY (1-bit) ANN: vectors collapse to sign bits — one 64-bit
    // word each, 512× less than float32 — candidates rank by
    // XOR-popcount Hamming (one ALU op per comparison), top-20 re-score
    // exactly; the extreme compression end of the a06/a08 axis
    "a18_ann_binary" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      Similarity.binaryTopK(corpus, corpus.filter(col("vec_id") < 5),
          k = 5, m = 20, dim = 64)
        .orderBy(col("q_id"), col("rk"))
    }),

    // IVF-PQR: the full production serving stack in one operator — IVF
    // prunes the scan to probed lists, PQ-ADC ranks compressed
    // candidates, and only the top-20 per query re-score exactly against
    // raw vectors (a16's stage 2). Compression error confined to the
    // 20/5 margin; nothing outside the probed lists is ever read
    "a17_ann_ivfpq_refine" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      Similarity.ivfPqRefineTopK(corpus, corpus.filter(col("vec_id") < 5),
          k = 5, refineM = 20, nCentroids = 8, nProbe = 2, m = 4, dim = 64, ksub = 8)
        .orderBy(col("q_id"), col("rk"))
    }),

    // FILTERED ANN: "nearest neighbors in language X" from ONE shared
    // index — the attribute column persists with the assignment at build
    // time, so serving composes partition pruning (probed lists) with a
    // predicate pushed into those partitions' parquet scan; no
    // per-filter-value index, no post-filter recall cliff bookkeeping
    // (the oracle defines exactly the filtered candidate universe)
    "a14_ann_filtered" -> ((s, dir) => {
      val attrs = t(s, dir, "documents").select(col("doc_id").as("vec_id"), col("lang"))
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
        .join(attrs, Seq("vec_id"))
      val work = scratchDir("graft_a14")
      Similarity.buildIvfIndex(corpus, work)
      Similarity.ivfIndexTopK(s, work, corpus.filter(col("vec_id") < 5),
          k = 5, nProbe = 2, attrFilter = Some(col("lang") === "en"))
        .orderBy(col("q_id"), col("rk"))
    }),

    // the persisted IVF-PQ index: a04's partitioned layout with PQ codes
    // instead of raw vectors (m codes + 1 norm per row vs dim longs).
    // Codebooks freeze from the full corpus; HALF the vectors build the
    // index, the other half APPEND under the frozen books (append ≡
    // rebuild — encode is a pure per-row function), and serving prunes
    // to the probed partitions. Results ≡ the live a07 path — its oracle
    "a13_ann_ivfpq_index" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      val work = scratchDir("graft_a13")
      val (co, bo) = Similarity.trainIvfPq(corpus, 8, m = 4, dim = 64, ksub = 8, trainIters = 2)
      Similarity.buildIvfPqIndex(corpus.filter(col("vec_id") % 2 === 0), work,
        coarse = Some(co), books = Some(bo))
      Similarity.appendToIvfPqIndex(corpus.filter(col("vec_id") % 2 === 1), work)
      Similarity.ivfPqIndexTopK(s, work, corpus.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .orderBy(col("q_id"), col("rk"))
    }),

    // ANN index DELETIONS: the lifecycle piece between append and
    // rebuild. A delete costs delete-sized work — ids append as
    // tombstones inside the live generation, serving masks them with a
    // broadcast anti-join, and compaction applies them physically
    // (fresh generation without the doomed rows, empty tombstone set).
    // Phase 1 serves with tombstones live, phase 2 after
    // compact+vacuum rewrote the index — identical results prove
    // masked ≡ physically-deleted, so the oracle replays the surviving
    // candidate universe once and expects it twice
    "a19_ann_ivf_delete" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      val work = scratchDir("graft_a19")
      Similarity.buildIvfIndex(corpus, work, nCentroids = 8)
      Similarity.deleteFromIvfIndex(
        corpus.filter(col("vec_id") % 7 === 3).select("vec_id"), work)
      // served1's plan reads the pre-compaction generation LAZILY — the
      // superseded directory staying on disk until vacuum's grace window
      // is exactly the in-flight-reader contract (vacuum itself is
      // exercised in SimilaritySpec, where materialization is forced)
      val served1 = Similarity.ivfIndexTopK(
        s, work, corpus.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .withColumn("phase", lit(1L))
      Similarity.compactIvfIndex(s, work)
      val served2 = Similarity.ivfIndexTopK(
        s, work, corpus.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .withColumn("phase", lit(2L))
      served1.unionByName(served2)
        .orderBy(col("phase"), col("q_id"), col("rk"))
    }),

    // QUANTIZER-DRIFT monitor: the when-to-rebuild signal for every
    // frozen-codebook index — per-segment mean best-centroid cosine
    // (micro-quantized) + low-fit fraction from ONE map-only scan per
    // segment (codebook as plan literals inside a codegen'd greatest).
    // 'build' = the training corpus, 'increment' = an in-distribution
    // half (fit holds), 'drift' = reversed vectors (distribution moved,
    // fit drops — the retrain alarm the oracle certifies)
    "a20_ann_drift" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      val drifted = Similarity.prep(
        t(s, dir, "embeddings").withColumn("embedding", reverse(col("embedding"))),
        "vec_id", "embedding")
      val cents = Similarity.trainCentroids(corpus, 8, 2)
      Similarity.quantizerDrift(Seq(
          "build" -> corpus,
          "increment" -> corpus.filter(col("vec_id") % 2 === 1),
          "drift" -> drifted),
        cents, lowFit = 0.5)
        .orderBy(col("segment"))
    }),

    // scalar-quantization (SQ8) ANN: per-dimension affine 8-bit codes on
    // the corpus [min,max] range, asymmetric scoring via scaled-integer
    // dequantization (exact 64-bit arithmetic, the ×255 scale cancels) —
    // the third compression axis next to PQ (a06) and IVF (a03)
    "a08_ann_sq8" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      Similarity.sq8TopK(corpus, corpus.filter(col("vec_id") < 5),
          k = 5, dim = 64)
        .orderBy(col("q_id"), col("rk"))
    }),

    // two-stage refinement: the SQ8 compressed scan keeps top-20
    // candidates per query (8× less bandwidth than raw vectors), then
    // ONLY those 20 are re-scored exactly and re-ranked to 5 — the
    // pattern every production ANN stack ends with; approximation error
    // is confined to the 20/5 safety margin, and both stages broadcast
    // query-sized frames against map-only corpus scans
    "a16_ann_refine" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      Similarity.sq8RefineTopK(corpus, corpus.filter(col("vec_id") < 5),
          k = 5, m = 20, dim = 64)
        .orderBy(col("q_id"), col("rk"))
    }),

    // BM25 full-text retrieval: the serving half the reference delegates
    // to Solr, Spark-native. Probe queries derive deterministically from
    // the corpus vocabulary (mid-frequency terms — ranks 11..22 by df,
    // skipping the stopword-ish head), then scoring is ONE map-only
    // corpus scan: terms + their df ride as plan literals, per-doc BM25
    // is a compiled token-array expression, and the per-query top-k is
    // the bounded-heap partial aggregate — nothing corpus-sized shuffles
    "a09_bm25_topk" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val (n, tt) = graft.ops.Search.corpusTokenStats(d, "text")
      val (qs, dfm) = graft.ops.Search.deriveTermQueries(
        d, "doc_id", "text", nQueries = 4, width = 3, skip = 10)
      graft.ops.Search.bm25TopK(d, "doc_id", "text", qs, dfm, n, tt, k = 5)
        .orderBy(col("q_id"), col("rk"))
    }),

    // hybrid retrieval: query-by-document, lexical BM25 (first-8-distinct-
    // token profile of each probe doc) fused with dense cosine (a01's
    // brute top-k) by reciprocal-rank fusion — exact integer micro-unit
    // votes round(1e6/(60+rank)), re-ranked by fused score. Both inputs
    // are already top-K′ lists, so fusion cost is queries×K′, corpus-free
    "a10_hybrid_rrf" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val emb = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      val (n, tt) = graft.ops.Search.corpusTokenStats(d, "text")
      val profiles = graft.ops.Search.docTermProfiles(
        d.filter(col("doc_id") < 5), "doc_id", "text", width = 8)
      val dfm = graft.ops.Search.termDf(d, "text", profiles.flatMap(_._2).distinct)
      val lex = graft.ops.Search.bm25TopK(d, "doc_id", "text", profiles, dfm, n, tt,
        k = 10, excludeSelf = true)
      val vec = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
        .select(col("q_id"), col("n_id").as("doc_id"), col("rk"))
      graft.ops.Search.rrfFuse(lex, vec, k = 5)
        .orderBy(col("q_id"), col("rk"))
    }),

    // MMR diversified re-ranking (λ=0.5, ×2-scaled into exact integers):
    // BM25's top-10 per probe query re-ordered so each pick maximizes
    // normalized relevance minus max cosine to the already-picked — the
    // serving step that stops a result page from being five copies of
    // one document. Every selection is an integer argmax over micro-
    // quantized values, so the greedy trace is engine-portable and the
    // oracle replays it as five unrolled SQL stages. The groupBy carries
    // queries×10 rows; the sim table is in-memory per group
    "a12_mmr_rerank" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val emb = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      val (n, tt) = graft.ops.Search.corpusTokenStats(d, "text")
      val (qs, dfm) = graft.ops.Search.deriveTermQueries(
        d, "doc_id", "text", nQueries = 4, width = 3, skip = 10)
      val lex = graft.ops.Search.bm25TopK(d, "doc_id", "text", qs, dfm, n, tt, k = 10)
      val cand = emb.join(broadcast(lex), emb("vec_id") === lex("doc_id"))
        .select(lex("q_id"), lex("doc_id"), lex("score_q"), emb("q"), emb("nq"))
      graft.ops.Search.mmrRerank(cand, k = 5)
        .orderBy(col("q_id"), col("rk"))
    }),

    // hard-negative mining for retriever training: BM25 surfaces the
    // lexically-confusable candidates for each probe doc (a10's
    // query-by-document path), then the embedding space separates true
    // positives (cosine ≥ 0.4, the d06 near-dup bar) from HARD negatives
    // — high lexical overlap, low semantic similarity, the pairs a
    // contrastive retriever learns most from. The corpus-sized work is
    // the two retrieval scans; candidate labeling joins are all
    // broadcast-sized (queries×k rows against the embedding scan)
    "p27_hard_negatives" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val emb = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      val (n, tt) = graft.ops.Search.corpusTokenStats(d, "text")
      val profiles = graft.ops.Search.docTermProfiles(
        d.filter(col("doc_id") < 5), "doc_id", "text", width = 8)
      val dfm = graft.ops.Search.termDf(d, "text", profiles.flatMap(_._2).distinct)
      val lex = graft.ops.Search.bm25TopK(d, "doc_id", "text", profiles, dfm, n, tt,
          k = 10, excludeSelf = true)
        .select(col("q_id"), col("doc_id"), col("rk").as("bm25_rk"))
      val qv = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("q").as("q_vec"), col("nq").as("q_nq"))
      emb.join(broadcast(lex), emb("vec_id") === lex("doc_id"))
        .join(broadcast(qv), Seq("q_id"))
        .withColumn("sim", Similarity.cosineq(col("q"), col("q_vec"), col("nq"), col("q_nq")))
        .select(col("q_id"), col("doc_id"), col("bm25_rk"), col("sim"),
          when(col("sim") >= 0.4, lit("pos")).otherwise(lit("hardneg")).as("label"))
        .orderBy(col("q_id"), col("bm25_rk"))
    }),

    // ANN recall eval: recall@5 of the IVF retriever (a03's exact
    // parameters) against the brute-force ranking (a01) — the eval
    // harness that turns the ANN family's recall/cost trade into a
    // number. Both inputs are queries×k frames, so the eval itself is
    // broadcast-sized; the oracle replays retrieval AND measurement
    // recall-vs-nProbe tuning curve: one codebook + one brute truth set
    // serve every probe level — the "how many lists for 95% recall"
    // number read before fixing nProbe in production
    "a23_recall_sweep" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      val qs = corpus.filter(col("vec_id") < 5)
      Similarity.recallSweep(corpus, qs, k = 5, nCentroids = 8,
          probes = Seq(1, 2, 4))
        .orderBy(col("n_probe"))
    }),

    // recall-TARGETED auto-tuned serving: the sweep measures, the SLO
    // (recall ≥ 0.5) picks the cheapest probe level, the IVF serves at
    // it — closing the tune-then-fix loop inside the engine; the sweep
    // frame is |probes|-sized (bounded collect)
    "a24_ann_autotune" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      val qs = corpus.filter(col("vec_id") < 5)
      Similarity.autoTuneTopK(corpus, qs, k = 5, nCentroids = 8,
          probes = Seq(1, 2, 4), targetRecall = 0.5)
        .orderBy(col("q_id"), col("rk"))
    }),

    "a11_ann_recall" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      val qs = corpus.filter(col("vec_id") < 5)
      Similarity.recallAtK(
          Similarity.bruteForceTopK(corpus, qs, k = 5),
          Similarity.ivfTopK(corpus, qs, k = 5, nCentroids = 8, nProbe = 2))
        .orderBy(col("q_id"))
    }),

    // streaming BM25 PERCOLATION (a09 inverted — standing queries,
    // arriving docs): the query set, its df map, and the corpus length
    // stats freeze from the standing index, then each micro-batch is one
    // map-only scoring pass routing every positive (query, doc) pair —
    // the saved-search / alerting shape. Stateless like s14/s15: frozen
    // stats keep scores comparable across triggers and verdicts
    // idempotent under redelivery. Oracle = a09's score CTEs un-ranked.
    "s16_stream_bm25_route" -> ((s, dir) => {
      val work = scratchDir("graft_s16")
      val in = onceLog("s16", dir) { path =>
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        writeLog(d, path, thirds(d, "doc_id"): _*)
      }
      val d = t(s, dir, "documents")
      val (n, tt) = graft.ops.Search.corpusTokenStats(d, "text")
      val (qs, dfm) = graft.ops.Search.deriveTermQueries(
        d, "doc_id", "text", nQueries = 4, width = 3, skip = 10)
      graft.streaming.StreamBm25Route.drain(s, qs, dfm, n, tt,
          in, s"$work/out", s"$work/ckpt")
        .orderBy(col("q_id"), col("doc_id"))
    }),

    // round-11 curation chain: model-based quality gate (t15's NB
    // classifier admits score > 0) → SEMANTIC dedup of the admitted set
    // in the FULL-corpus cluster space (frozen codebook, so subset
    // assignments equal the corpus assignment) → token-budget selection
    // ranked on mean per-token log-odds. Every stage a library operator;
    // the chain replays as ONE oracle statement
    "p25_model_curation" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val seed = d.filter(col("source") === "src0" || col("doc_id") % 3 === 0)
        .select(col("doc_id"), (col("source") === "src0").as("lab"))
      val admitted = graft.ops.CorpusStats.nbQualityScore(d, "doc_id", "text", seed)
        .filter(col("pred"))
      val emb = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      val cents = Similarity.trainCentroids(emb, 8, 2)
      val admEmb = emb.join(admitted.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi")
      val kept = Similarity.semDedup(admEmb, 0.4, codebook = Some(cents))
      val sel = admitted
        .join(kept.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
        .withColumn("q", col("score_q").cast("double") / (col("n_tokens") * lit(1e6)))
      graft.ops.Sampling.tokenBudget(sel, "doc_id", "q", "n_tokens", budget = 600L)
        .orderBy(col("doc_id"))
    }),

    // streaming ANN ingest: the persisted IVF index tracks a GROWING
    // corpus — seed with half the vectors, stream the rest in file-backed
    // micro-batches through Drain.run → appendToIvfIndex (the frozen
    // codebook keeps old and new entries in one coordinate system), then
    // serve. Because append-with-frozen-codebook ≡ rebuild (pinned in
    // SimilaritySpec) and the codebook is trained on the full corpus,
    // serving results are identical to a03's live path — same oracle.
    "s08_stream_ivf_ingest" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      val work = scratchDir("graft_s08")
      val cents = Similarity.trainCentroids(corpus, 8, 2)
      Similarity.buildIvfIndex(corpus.filter(col("vec_id") % 2 === 0), work,
        codebook = Some(cents))
      corpus.filter(col("vec_id") % 2 === 1)
        .coalesce(2).write.mode("overwrite").parquet(s"$work/incoming")
      // one micro-batch per incoming file: several genuine appends
      graft.streaming.Drain.run(s, s"$work/incoming", corpus.schema, s"$work/ckpt") {
        (batch, _) => Similarity.appendToIvfIndex(batch, work)
      }
      Similarity.ivfIndexTopK(s, work, corpus.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .orderBy(col("q_id"), col("rk"))
    }),

    // streaming COMPRESSED-index ingest: s08 for the IVF-PQ index —
    // micro-batched appends encode map-only under the FROZEN coarse+PQ
    // codebooks (pure per-row function, so append ≡ rebuild holds per
    // trigger) and serving after the drain equals the live a07 path.
    // The stream writes m codes + a norm per vector, never raw vectors
    "s18_stream_ivfpq_ingest" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      val work = scratchDir("graft_s18")
      val (co, bo) = Similarity.trainIvfPq(corpus, 8, m = 4, dim = 64, ksub = 8, trainIters = 2)
      Similarity.buildIvfPqIndex(corpus.filter(col("vec_id") % 2 === 0), work,
        coarse = Some(co), books = Some(bo))
      corpus.filter(col("vec_id") % 2 === 1)
        .coalesce(2).write.mode("overwrite").parquet(s"$work/incoming")
      graft.streaming.Drain.run(s, s"$work/incoming", corpus.schema, s"$work/ckpt") {
        (batch, _) => Similarity.appendToIvfPqIndex(batch, work)
      }
      Similarity.ivfPqIndexTopK(s, work, corpus.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .orderBy(col("q_id"), col("rk"))
    }),

    // s18 on the RESIDUAL index: the mode-aware append reads the
    // manifest and encodes each micro-batch as residual codes under the
    // frozen books — per-row-pure, so drain order is irrelevant and
    // serving after the drain ≡ the live a21 path, its oracle; one
    // streaming ingest path serves both encodings
    "s26_stream_rpq_ingest" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      val work = scratchDir("graft_s26")
      val (co, bo) = Similarity.trainIvfRpq(corpus, 8, m = 4, dim = 64, ksub = 8)
      Similarity.buildIvfRpqIndex(corpus.filter(col("vec_id") % 2 === 0), work,
        coarse = Some(co), books = Some(bo))
      corpus.filter(col("vec_id") % 2 === 1)
        .coalesce(2).write.mode("overwrite").parquet(s"$work/incoming")
      graft.streaming.Drain.run(s, s"$work/incoming", corpus.schema, s"$work/ckpt") {
        (batch, _) => Similarity.appendToIvfPqIndex(batch, work)
      }
      Similarity.ivfPqIndexTopK(s, work, corpus.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .orderBy(col("q_id"), col("rk"))
    }),

    // streaming FUZZY contamination gate (p14's stream twin): per-doc
    // minhash band keys are a map-only projection; a doc is a candidate
    // iff its keys overlap the broadcast benchmark key set, and ONLY
    // candidates pay the exact verify against the broadcast benchmark
    // hash sets (a when()-gated lambda — clean docs never intersect
    // anything). Stateless end to end: no watermark, no state store,
    // the streaming shape that survives unbounded ingest.
    // streaming novelty gate: t13's global keep-first computed
    // incrementally over an ORDERED ingestion log — cross-batch
    // seen-k-gram state in the bucketed DocStateStore (TxnLogState with
    // an aggressive auto-compact cadence, so the stream also crosses a
    // live checkpoint+vacuum mid-drain); batch result == the t13 oracle
    // because batches arrive in ascending doc_id order
    "s11_stream_novelty" -> ((s, dir) => {
      val work = scratchDir("graft_s11")
      val in = onceLog("s11", dir) { path =>
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val succ = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("next_text"))
        val synth = d.join(succ, Seq("doc_id"))
          .select(col("doc_id"), concat_ws(" ", col("text"), col("next_text")).as("text"))
        writeLog(synth, path, thirds(synth, "doc_id"): _*)
      }
      val state = new graft.streaming.TxnLogState(s"$work/seen", s, 16,
        autoCompactEvery = 2, maintenanceGraceMs = 0L)
      graft.streaming.StreamNovelty
        .drain(s, state, in, s"$work/out", s"$work/ckpt", k = 8)
        .orderBy(col("doc_id"))
    }),

    "s09_stream_fuzzy_gate" -> ((s, dir) => {
      val work = scratchDir("graft_s09")
      val d = t(s, dir, "documents")
      val bench = d.filter(col("doc_id") < 50).select(col("doc_id"), col("text"))
      d.filter(col("doc_id") >= 50).select(col("doc_id"), col("text"))
        .unionByName(bench.select((col("doc_id") + 600000).as("doc_id"),
          concat(col("text"), lit(" uu vv ww")).as("text")))
        .coalesce(4).write.mode("overwrite").parquet(s"$work/log")
      val (nBands, nRows) = Dedup.minhashConfigFor(0.5)
      val k = nBands * nRows
      // freeze the derived benchmark side: a static side of a stream
      // crossJoin re-executes its WHOLE derivation (minhash + agg) on
      // every trigger — materialized once, each trigger pays a 1-row scan
      val benchSide = broadcast(freeze(
        Dedup.minhashSignatures(bench, "doc_id", "text", k, 3)
          .select(col("hs"), Dedup.bandKeyArray(col("sig"), nBands, nRows).as("bks"))
          .agg(array_distinct(flatten(collect_list(col("bks")))).as("bench_bks"),
            collect_list(col("hs")).as("bench_sets")),
        s"$work/bench"))
      val logSchema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string")
      val q = s.readStream.schema(logSchema).parquet(s"$work/log")
        .select(col("doc_id"), shingle_hashes60(col("text"), 3).as("hs"))
        .filter(size(col("hs")) > 0)
        .select(col("doc_id"), col("hs"),
          Dedup.bandKeyArray(minhash_sig(col("hs"), k), nBands, nRows).as("bks"))
        .crossJoin(benchSide)
        .withColumn("contaminated",
          when(arrays_overlap(col("bks"), col("bench_bks")),
            exists(col("bench_sets"), b => {
              val inter = size(array_intersect(col("hs"), b))
              val uni = size(col("hs")) + size(b) - inter
              inter.cast("double") / uni >= 0.5
            })).otherwise(lit(false)))
        .select(col("doc_id"), col("contaminated"))
        .writeStream
        .format("memory").queryName("s09_gate")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ckpt")
        .start()
      q.awaitTermination()
      s.table("s09_gate").orderBy(col("doc_id"))
    }),

    // frame chunking: typed flatMap (one row in → N frame rows out)
    "m02_media_chunks" -> ((s, dir) => {
      Multimodal.chunkFrames(Multimodal.toMedia(t(s, dir, "documents")), 32)
        .toDF()
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // sequence-level media near-dup: clipped copies (first frame cut,
    // re-ingested under new ids) must pair with their originals by
    // frame-signature Jaccard even though content-md5 splits them; viral
    // signatures are df-capped before the join (the d09 convention)
    "m11_video_neardup" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(length(col("text")) >= 160)
      val base = Multimodal.toMedia(d)
      val clipped = Multimodal.toMedia(
        d.select((col("doc_id") + 100000).as("doc_id"),
          expr("substring(text, 33)").as("text")))
      Multimodal.videoNearDupPairs(base.unionByName(clipped),
          frameBytes = 32, threshold = 0.5, maxDf = Some(50))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // keyframe-style sampling: every 4th frame, skipped frames never
    // generated
    "m03_frame_sample" -> ((s, dir) => {
      Multimodal.sampleFrames(Multimodal.toMedia(t(s, dir, "documents")), 32, stride = 4)
        .toDF()
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // scene-cut detection over the frame stream: lag-diff of per-frame
    // energy INSIDE each media id — the window is media-keyed (never
    // global), so cut detection shuffles once on doc_id and scales with
    // media count; a real pipeline swaps frame_sum for a decoded-frame
    // histogram distance, the plan shape is identical
    "m09_scene_cuts" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      Multimodal.chunkFrames(Multimodal.toMedia(t(s, dir, "documents")), 32)
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("frame_sum"),
          lag(col("frame_sum"), 1).over(w).as("prev_sum"))
        .filter(col("prev_sum").isNotNull &&
          abs(col("frame_sum") - col("prev_sum")) > 200)
        .select(col("doc_id"), col("frame_idx"),
          (col("frame_sum") - col("prev_sum")).as("delta"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // flagship curation pipeline: language gate → quality gate → exact
    // dedup keepers → greedy near-dup drop (LSH-verified pairs) →
    // deterministic hash sample. Every stage is one of the engine's
    // operators; the whole thing is 4 shuffles end-to-end.
    "p01_curation" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val base = d.select(col("doc_id"), col("text"),
          graft.ops.TextAnalysis.langId(col("text")).as("lang"),
          graft.ops.TextAnalysis.qualityScore(col("text")).as("q"))
        .filter(col("lang") === "en" && col("q") >= 0.4)
        // stage boundary: the gated frame feeds the dedup agg, its
        // semi-join, the LSH pair search, and the anti-join — without
        // this the compiled langId/quality kernels re-run per consumer
        .localCheckpoint()
      // exact dedup: keep the lowest doc_id per canonical fingerprint
      val keepers = Dedup.exactGroups(base, "doc_id", "text")
        .select(col("keeper").as("doc_id"))
      val s1 = base.join(keepers, Seq("doc_id"), "left_semi").localCheckpoint()
      // greedy near-dup drop: b goes when a verified pair (a,b), a<b exists
      val dropB = Dedup.minhashLshPairs(s1, "doc_id", "text", 4, 2, 3, 0.5)
        .select(col("b_id").as("doc_id")).distinct()
      val s2 = s1.join(dropB, Seq("doc_id"), "left_anti")
      // deterministic 50% sample on the stable 60-bit hash
      s2.filter(Dedup.hash60(col("doc_id").cast("string")) % 100 < 50)
        .select(col("doc_id"), col("lang"), col("q"))
        .orderBy(col("doc_id"))
    }),

    // token-budget selection: the greedy best-quality prefix that fits a
    // token budget — computed WITHOUT a global sort (tier histogram +
    // boundary-tier-only ordering); the oracle states the semantics as
    // the plain global-window prefix
    "p02_token_budget" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(
        col("doc_id"),
        graft.ops.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        graft.ops.TextAnalysis.qualityScore(col("text")).as("q"))
      graft.ops.Sampling.tokenBudget(d, "doc_id", "q", "n_tokens", budget = 12000L)
        .orderBy(col("doc_id"))
    }),

    // the SAME budget operator re-denominated through the tokenizer seam:
    // BPE-style pre-token counts (letter/digit/punct runs + contractions)
    // replace whitespace counts; quality score unchanged. Proves the
    // operators are tokenizer-agnostic — only the counting column swaps
    "p16_token_budget_bpe" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(
        col("doc_id"),
        graft.ops.RegexBpeTokenizer.count(col("text")).as("n_tokens"),
        graft.ops.TextAnalysis.qualityScore(col("text")).as("q"))
      graft.ops.Sampling.tokenBudget(d, "doc_id", "q", "n_tokens", budget = 12000L)
        .orderBy(col("doc_id"))
    }),

    // the budget denominated in TRUE subword tokens: a merges-table BPE
    // (compiled GPT-2 merge loop, fixture vocab) counts synthesized
    // segment+key text whose encoding the oracle can state as literals —
    // the five segment counts are pinned against an independent
    // reference implementation in TokenizerSpec, digits carry no merges
    "p22_token_budget_subword" -> ((s, dir) => {
      val bpe = graft.ops.MergesBpeTokenizer.fixture
      val d = s.read.parquet(s"$dir/customer.parquet").select(
        col("c_custkey").cast("long").as("doc_id"),
        bpe.count(concat(col("c_mktsegment"), lit(" "),
          col("c_custkey").cast("string"))).as("n_tokens"),
        ((col("c_custkey") % 97).cast("double") / lit(97.0)).as("q"))
      graft.ops.Sampling.tokenBudget(d, "doc_id", "q", "n_tokens", budget = 8000L)
        .orderBy(col("doc_id"))
    }),

    // exact global curriculum rank WITHOUT a global window: the oracle
    // states the semantics as the plain row_number the Spark side must
    // equal while never putting the corpus through one task
    "p20_curriculum_order" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(
        col("doc_id"),
        graft.ops.TextAnalysis.qualityScore(col("text")).as("q"))
      graft.ops.Sampling.curriculumRank(scored, "doc_id", "q")
        .orderBy(col("doc_id"))
    }),

    // train-ready corpus ASSEMBLY — the final mile from raw corpus to a
    // training data order, every stage an existing operator: quality
    // gate (t02's score) → leakage-safe split (near-dups can't straddle
    // train/test) → the train partition's 2-epoch deterministic
    // schedule. The composition point: the split runs AFTER the gate
    // (clusters computed on what survives) and the schedule runs on the
    // train split only — order matters, and the whole chain is one
    // oracle statement
    "p30_train_assembly" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val gated = d.filter(graft.ops.TextAnalysis.qualityScore(col("text")) >= 0.5)
      val split = graft.ops.Sampling.leakageSafeSplit(gated, "doc_id", "text",
        bands = 4, rowsPerBand = 2)
      val train = split.filter(col("split") === "train").select("doc_id")
      graft.ops.Sampling.epochSchedule(train, "doc_id", epochs = 2)
        .orderBy(col("step"))
    }),

    // leakage-safe split: hashSplit's silent failure is a test doc's
    // near-copy landing in train — here the split key is the near-dup
    // CLUSTER label (LSH pairs → components), so near-dups share a
    // split by construction and singletons degrade to exactly hashSplit
    "p29_leakage_safe_split" -> ((s, dir) => {
      graft.ops.Sampling.leakageSafeSplit(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", bands = 4, rowsPerBand = 2)
        .orderBy(col("doc_id"))
    }),

    // epoch-shuffled training order: every epoch a fresh DETERMINISTIC
    // permutation (md5(epoch ‖ id), never rand()), ranked through the
    // same tier machinery as p20 — no global sort; steps consecutive
    // across epochs
    "p28_epoch_schedule" -> ((s, dir) => {
      graft.ops.Sampling.epochSchedule(
          t(s, dir, "documents").select(col("doc_id")), "doc_id", epochs = 2)
        .orderBy(col("step"))
    }),

    // k-anonymity generalization census: every doc gets the FINEST
    // (lang, source, length-bucket) generalization whose full-corpus
    // group has ≥ 5 members — one rollup shuffle computes all ladder
    // levels, each level lookup broadcasts (privacy gate before
    // exporting user-adjacent corpora as training data)
    "p31_kanon_census" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("len_b", floor(col("n_chars") / 200).cast("long").cast("string"))
      graft.ops.Sampling.kAnonymize(d, "doc_id",
          Seq("lang", "source", "len_b"), k = 5L)
        .orderBy(col("doc_id"))
    }),

    // water-filling token budget across sources: spend 90% of the
    // corpus's whitespace tokens as evenly as the data allows — small
    // sources keep everything, large ones are capped at the common
    // water level, the integer remainder is handed out deterministically
    "p33_budget_waterfill" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"),
        graft.ops.TextAnalysis.tokenCount(col("text")).as("n_tok"))
      // ONE-row bounded collect: the 90% budget is data-relative so the
      // saturation mix survives any corpus scale
      val total = d.agg(sum(col("n_tok"))).first().getLong(0)
      graft.ops.Sampling.waterFillBudget(d, "source", "n_tok",
          budget = total * 9L / 10L)
        .orderBy(col("source"))
    }),

    // CLUSTER-BALANCED sampling: spend a 200-doc budget as evenly as the
    // embedding-space structure allows — k-means clusters stand in for
    // the strata no label column gives you; dense clusters are capped at
    // the integer water level, sparse ones keep everything, selection is
    // id-hash rank. Integer end-to-end (codebook, allocator, ranks), so
    // the kept set is engine-bit-identical
    "p36_cluster_quota" -> ((s, dir) => {
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      graft.ops.Sampling.clusterQuotaSample(corpus, "vec_id",
          budget = 200L, nCentroids = 8)
        .orderBy(col("c_id"), col("vec_id"))
    }),

    // PSI drift between corpus snapshots: current = the odd-id half with
    // text doubled (a real length-profile shift), reference = the even-id
    // half; per-bin smoothed shares, ln on the 1e-6 grid — the retrain
    // alarm (Σ psi ≥ 0.2) for corpus refreshes
    "t25_psi_drift" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      def binned(df: org.apache.spark.sql.DataFrame) = df.withColumn("bin",
        least(floor(length(col("text")) / 100), lit(7L)).cast("long"))
      val ref = binned(d.filter(col("doc_id") % 2 === 0))
      val cur = binned(d.filter(col("doc_id") % 2 === 1)
        .withColumn("text", concat_ws(" ", col("text"), col("text"))))
      graft.ops.CorpusStats.psiDrift(ref, cur, "bin")
        .orderBy(col("bin"))
    }),

    // tokenizer fertility census per language: pre-tokens per word and
    // chars per pre-token (1e-6 grid) from exact integer sums — the
    // unit-economics check before denominating a multilingual budget
    "t26_tokenizer_fertility" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.CorpusStats.tokenizerFertility(d, "lang", "text",
          graft.ops.RegexBpeTokenizer.count(col("text")))
        .orderBy(col("grp"))
    }),

    // multi-turn conversation assembly: per-user turns in event order,
    // context-window truncation to the latest 64 pre-tokens, example
    // stats + a deterministic kept-sequence fingerprint — the
    // interaction-log → chat-training-example step
    // ASSISTANT-span loss-mask index: the [tok_s, tok_e) token ranges a
    // trainer masks the loss to under the alternating-roles convention
    // — one user-keyed shuffle (turn numbering + exclusive prefix sum),
    // flattened to one row per span so masks join like any frame
    "p38_assistant_spans" -> ((s, dir) => {
      val turns = t(s, dir, "events").select(col("user_id"), col("event_id"),
        concat_ws(" ", col("event_type"), col("props")).as("txt"))
      graft.ops.Sampling.assistantSpans(turns, "user_id", "event_id", "txt")
        .orderBy(col("user_id"), col("turn_idx"))
    }),

    "p32_conversation_assembly" -> ((s, dir) => {
      val turns = t(s, dir, "events").select(col("user_id"), col("event_id"),
        concat_ws(" ", col("event_type"), col("props")).as("txt"))
      graft.ops.Sampling.assembleConversations(turns, "user_id", "event_id",
          "txt", budget = 64L)
        .orderBy(col("user_id"))
    }),

    // benchmark n-gram coverage audit: probes = the %17 docs, half
    // verbatim (contaminated → coverage 1), half leetspeak-mutated
    // (→ near 0); corpus grams pruned map-side behind the broadcast
    // probe gram set — the one-number-per-probe contamination rate
    "t27_gram_coverage" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") % 17 === 0)
        .withColumn("text", when(col("doc_id") % 34 === 0, col("text"))
          .otherwise(translate(col("text"), "e", "3")))
      graft.ops.Dedup.gramCoverage(d, bench, "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    }),

    // p36's stream twin: cluster-balanced ADMISSION — arriving vectors
    // assign map-only against the frozen codebook and gate through the
    // s28 quota machinery under the frozen water-fill allocations; the
    // composition is the operator, so every s28 contract (constant
    // state, HWM, replay-skip) carries verbatim
    "s31_stream_cluster_quota" -> ((s, dir) => {
      val work = scratchDir("graft_s31")
      val corpus = Similarity.prep(t(s, dir, "embeddings"), "vec_id", "embedding")
      val cents = Similarity.trainCentroids(corpus, 8)
      val assigned = corpus.withColumn("c_id",
        Similarity.centroidBest(cents, col("q"), col("nq")))
      val alloc = graft.ops.Sampling.waterFillBudget(
        assigned.withColumn("_one", lit(1L)), "c_id", "_one", 200L)
      // ≤ k rows — the bounded-census collect behind every quota map
      val quotas = alloc.select(col("c_id"), col("alloc")).collect()
        .map(r => r.getLong(0).toString -> r.getLong(1)).toMap
      val in = onceLog("s31", dir) { path =>
        val d = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        writeLog(d, path, thirds(d, "vec_id"): _*)
      }
      graft.streaming.StreamClusterQuota.drain(s, in, cents, quotas,
          s"$work/state", s"$work/out", s"$work/ckpt")
        .orderBy(col("doc_id"))
    }),

    // t25's stream twin: the current snapshot's histogram accumulates
    // per micro-batch (per-bin additive counters behind an atomic
    // generation flip, HWM-enforced like s20/s28), PSI computed ONCE on
    // the drained counts against the frozen reference — t25's oracle
    // verbatim
    "s29_stream_psi" -> ((s, dir) => {
      val work = scratchDir("graft_s29")
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      def binned(df: org.apache.spark.sql.DataFrame) = df.withColumn("bin",
        least(floor(length(col("text")) / 100), lit(7L)).cast("long"))
      val ref = binned(d.filter(col("doc_id") % 2 === 0)).select("bin")
      val in = onceLog("s29", dir) { path =>
        val cur = binned(d.filter(col("doc_id") % 2 === 1)
            .withColumn("text", concat_ws(" ", col("text"), col("text"))))
          .select(col("doc_id"), col("bin"))
        writeLog(cur, path, thirds(cur, "doc_id"): _*)
      }
      graft.streaming.StreamPsi.drain(s, s"$work/state", ref, in, s"$work/ckpt")
        .orderBy(col("bin"))
    }),

    // t27's stream twin: the contamination audit on the ingest path —
    // the seen-probe-gram state folds by SET UNION (idempotent + order-
    // free, the s17/s19 contract class: no HWM, chunks split by doc_id
    // residue, not arrival time), each trigger prunes map-side against
    // the broadcast frozen probe grams; drain-end report shares the
    // batch coverage step, so t27's oracle applies verbatim
    "s30_stream_gram_coverage" -> ((s, dir) => {
      val work = scratchDir("graft_s30")
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") % 17 === 0)
        .withColumn("text", when(col("doc_id") % 34 === 0, col("text"))
          .otherwise(translate(col("text"), "e", "3")))
      val in = onceLog("s30", dir) { path =>
        writeLog(d, path,
            col("doc_id") % 3 === 0, col("doc_id") % 3 === 1,
            col("doc_id") % 3 === 2)
      }
      graft.streaming.StreamGramCoverage.drain(s, in, s"$work/state",
          s"$work/ckpt", bench, "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    }),

    // per-source corpus datasheet: volume, dup rate (a third of the docs
    // get a whitespace-noised copy so the rate is non-trivial), English
    // share, mean quality — the release report, every number from the
    // engine's own operators
    "p34_datasheet" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"), col("lang"))
      val noisy = d.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("source"),
          concat(lit("  "), col("text"), lit("   ")).as("text"), col("lang"))
      graft.ops.CorpusStats.datasheet(d.unionByName(noisy),
          "doc_id", "source", "text", "lang")
        .orderBy(col("source"))
    }),

    // cross-source duplicate overlap matrix: a third of the docs get a
    // whitespace-noised mirror in the NEXT source (srcN → srcN+1 mod 20),
    // so the matrix shows a real copying ring — the provenance census
    // behind treating sources as independent
    "d25_source_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      val mirrored = d.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          concat(lit("src"),
            ((regexp_replace(col("source"), "src", "").cast("long") + 1) % 20))
            .as("source"),
          concat(lit(" "), col("text"), lit("  ")).as("text"))
      graft.ops.Dedup.sourceOverlap(d.unionByName(mirrored), "source", "text")
        .orderBy(col("src_a"), col("src_b"))
    }),

    // CODE-vs-PROSE census: per source, how many docs look like code
    // (symbol density ≥ 40‰ of chars) — the routing census a mixed
    // corpus needs before prose-tuned quality gates misfire on code;
    // one scan, symbol counting via regexp extraction, exact permille
    "t37_code_census" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("text"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .filter(col("n_chars") > 0)
        .withColumn("n_sym",
          (length(col("text")) -
            length(regexp_replace(col("text"), "[{}\\[\\]();=<>]", ""))).cast("long"))
        .withColumn("code_like", col("n_sym") * 1000L >= col("n_chars") * 40L)
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("code_like"), 1L).otherwise(0L)).as("n_code_like"))
        .withColumn("code_ppm", expr("(n_code_like * 1000000L) div n_docs"))
        .orderBy(col("source"))
    }),

    // Gopher REPETITION gate (Rae et al. 2021 Table A1): duplicate-line
    // fractions + top-2-gram char coverage + duplicate-5-gram char
    // coverage (overlaps counted once via per-doc interval union), each
    // thresholded at the published cut. Every third doc gets a planted
    // duplicated line (its own opening 8 words, twice) so line dups,
    // 2-gram spikes, and repeated 5-grams all genuinely occur
    "t38_repetition_gate" -> ((s, dir) => {
      graft.ops.TextAnalysis
        .repetitionGate(repetitionPages(t(s, dir, "documents")), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // t38's stream twin: the repetition gate as ingestion admission —
    // per-doc pure (own lines, own n-grams), so the drained union of
    // per-batch outputs IS the batch operator; stateless, no watermark,
    // no ordering contract (the s14/s15 frozen-gate family, except
    // nothing even needs freezing — the thresholds are the model)
    "s40_stream_repetition_gate" -> ((s, dir) => {
      val work = scratchDir("graft_s40")
      val in = onceLog("s40", dir) { path =>
        val pages = repetitionPages(t(s, dir, "documents"))
        writeLog(pages, path, thirds(pages, "doc_id"): _*)
      }
      graft.streaming.StreamRepetitionGate
        .drain(s, in, s"$work/out", s"$work/ckpt")
        .orderBy(col("doc_id"))
    }),

    // CRAWL-SATURATION curve: per corpus decile (by doc_id order), the
    // share of its distinct trigrams never seen in earlier deciles —
    // the marginal-value-of-more-data curve a crawl budget is read off
    // of (a flat tail means the source is mined out). First-seen decile
    // is a min-aggregate per gram; every frame after the (gram, decile)
    // census is gram- or decile-bounded
    "t36_novelty_curve" -> ((s, dir) => {
      // the >=3-token filter stays (it defines which docs enter the
      // decile bounds); gram generation moves to the compiled
      // token_ngrams kernel + codegen'd concat_ws
      val d = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .filter(size(split(trim(col("text")), "\\s+")) >= 3)
        .select(col("doc_id"), col("text"))
      val bounds = d.agg(min(col("doc_id")).as("lo"),
        (max(col("doc_id")) - min(col("doc_id")) + 1).as("span"))
      val grams = d.crossJoin(broadcast(bounds))
        .select(expr("least(9L, ((doc_id - lo) * 10L) div span)").as("dec"),
          explode(graft.expr.hfunctions.token_ngrams(col("text"), 3)).as("g"))
        .select(col("dec"),
          concat_ws(" ", col("g.w1"), col("g.w2"), col("g.w3")).as("tg"))
        .distinct()
      val firstSeen = grams.groupBy(col("tg")).agg(min(col("dec")).as("first_dec"))
      val perDec = grams.groupBy(col("dec")).agg(count(lit(1)).as("n_grams"))
      val newPerDec = firstSeen.groupBy(col("first_dec").as("dec"))
        .agg(count(lit(1)).as("n_new"))
      perDec.join(newPerDec, Seq("dec"), "left")
        .select(col("dec"), col("n_grams"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          expr("(coalesce(n_new, 0L) * 1000000L) div n_grams").as("new_ppm"))
        .orderBy(col("dec"))
    }),

    // BOILERPLATE DENSITY: the share of a doc's trigrams that are
    // corpus-COMMON (appear in ≥ 3 documents) — cross-document
    // formulaicity, the complement of t14's within-doc repetition:
    // navigation chrome, legal footers, and template prose score high.
    // One trigram census + one df-keyed probe join, multiplicities ride
    // the per-(doc, trigram) aggregate so probe traffic is distinct-
    // trigrams-per-doc, never tokens
    "t35_boilerplate_density" -> ((s, dir) => {
      // compiled token_ngrams kernel (empty below 3 tokens — no size
      // guard needed); the join to the gram string happens post-explode
      // in codegen'd concat_ws
      val dt = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          explode(graft.expr.hfunctions.token_ngrams(col("text"), 3)).as("g"))
        .select(col("doc_id"),
          concat_ws(" ", col("g.w1"), col("g.w2"), col("g.w3")).as("tg"))
        .groupBy(col("doc_id"), col("tg")).agg(count(lit(1)).as("m"))
      val df = dt.groupBy(col("tg")).agg(count(lit(1)).as("df"))
      dt.join(df, Seq("tg"))
        .groupBy(col("doc_id"))
        .agg(sum(col("m")).as("n_trigrams"),
          sum(when(col("df") >= 3, col("m")).otherwise(0L)).as("n_common"))
        .withColumn("boiler_ppm", expr("(n_common * 1000000L) div n_trigrams"))
        .orderBy(col("doc_id"))
    }),

    // TERM BURSTINESS (Church–Gale cf/df): terms whose occurrences pile
    // into few documents are topical/templated; stopwords spread thin.
    // Next to frequency (t09), TF-IDF (t11), and TextRank (t30) this is
    // the fourth term-importance lens — and the cheapest: two aggregates
    // (doc-term, then term) + a TakeOrdered top-20, everything exact
    // integers on the ppm grid
    "t34_term_burstiness" -> ((s, dir) => {
      val dt = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      dt.groupBy(col("term"))
        .agg(sum(col("tf")).as("cf"), count(lit(1)).as("df"))
        .filter(col("df") >= 3)
        .withColumn("burst_ppm", expr("(cf * 1000000L) div df"))
        .orderBy(col("burst_ppm").desc, col("term"))
        .limit(20)
    }),

    // PER-SOURCE Zipf fit: t19's log-log regression grouped by source —
    // a source whose slope departs from the corpus norm is synthetic,
    // templated, or boilerplate-heavy; the census-sized regression sits
    // above a (source, freq) spectrum aggregate
    "t33_zipf_by_source" -> ((s, dir) => {
      val tf = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("freq"))
      tf.groupBy(col("source"), col("freq")).agg(count(lit(1)).as("n_types"))
        .groupBy(col("source")).agg(
          round(expr("regr_slope(ln(n_types), ln(freq))"), 6).as("zipf_slope"),
          round(expr("regr_intercept(ln(n_types), ln(freq))"), 6).as("zipf_icept"),
          count(lit(1)).as("n_pts"))
        .orderBy(col("source"))
    }),

    // QUALITY-vs-QUANTITY frontier: per observed quality band, the docs/
    // tokens surviving a "keep ≥ band" gate — the operating curve a
    // filtering threshold is read off of; bands-sized suffix cumsum
    // above one corpus aggregate
    "p41_quality_frontier" -> ((s, dir) => {
      graft.ops.CorpusStats.qualityFrontier(
          t(s, dir, "documents").select(col("text")), "text")
        .orderBy(col("threshold_q"))
    }),

    // GOOD-TURING missing mass per source: singleton share ≈ the chance
    // the next token is a never-seen type — the under-sampling alarm a
    // census runs before trusting per-source statistics
    "t32_missing_mass" -> ((s, dir) => {
      graft.ops.CorpusStats.missingMass(
          t(s, dir, "documents").select(col("source"), col("text")),
          "source", "text")
        .orderBy(col("grp"))
    }),

    // DATA-CONSTRAINED epoch plan: token budget water-filled over
    // per-source unique-content capacities (≤4 epochs each, duplicates
    // count once) — budget = 2× total unique tokens so the big sources
    // cap at the water level while small ones saturate their 4 passes
    "p40_epoch_plan" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("text"))
      val uniq = d.select(col("source"),
          graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("tok"))
        .groupBy(col("source"), col("fp")).agg(max(col("tok")).as("tok"))
        .agg(sum(col("tok"))).first().getLong(0) // one-row bounded collect
      graft.ops.Sampling.epochPlan(d, "source", "text",
          budget = uniq * 2L, maxEpochs = 4L)
        .orderBy(col("source"))
    }),

    // DATASET CARD: the one-row global release summary next to p34's
    // per-source datasheet — volume, exact-dup rate, English share,
    // mean quality, singleton (missing-mass) share, code-likeness: every
    // number from the engine's own census formulas, one row a model card
    // quotes verbatim
    "p45_dataset_card" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"), col("lang"))
      val enriched = d.select(
        col("doc_id"),
        graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"),
        graft.ops.TextAnalysis.tokenCount(col("text")).as("nt"),
        round(graft.ops.TextAnalysis.qualityScore(col("text")) * 1e6)
          .cast("long").as("q_q"),
        (col("lang") === "en").as("is_en"),
        (((length(col("text")) -
          length(regexp_replace(col("text"), "[{}\\[\\]();=<>]", ""))) * 1000L) >=
          (length(col("text")) * 40L) && length(col("text")) > 0).as("code_like"))
      val base = enriched.agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        countDistinct(col("fp")).as("n_distinct"),
        sum(when(col("is_en"), 1L).otherwise(0L)).as("n_en"),
        sum(when(col("code_like"), 1L).otherwise(0L)).as("n_code"),
        round(sum(col("q_q")) * lit(1.0) / count(lit(1))).cast("long")
          .as("mean_quality_q"))
      base.select(col("n_docs"), col("n_tokens"),
        expr("((n_docs - n_distinct) * 1000000L) div n_docs").as("dup_ppm"),
        expr("(n_en * 1000000L) div n_docs").as("en_ppm"),
        expr("(n_code * 1000000L) div n_docs").as("code_ppm"),
        col("mean_quality_q"))
    }),

    // MIXTURE SELECTION (capstone): p39's excess-loss weights converted
    // to exact per-source quotas (floor + largest remainder → Σ = 200
    // docs exactly) and materialized as the hash-rank prefix selection —
    // the weights→dataset step a mixture plan ends with
    "p44_mixture_select" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      val wts = graft.ops.CorpusStats.excessLossWeights(d, "source", "text")
        .select(col("source"), col("weight_ppm"))
      val budget = 200L
      val quotas = wts
        .withColumn("q0", expr(s"(weight_ppm * ${budget}L) div 1000000L"))
        .withColumn("rem", expr(s"(weight_ppm * ${budget}L) % 1000000L"))
        .withColumn("_r", lit(budget) - sum(col("q0")).over(
          Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("_rk", row_number().over(
          Window.orderBy(col("rem").desc, col("source"))))
        .select(col("source"),
          (col("q0") + when(col("_rk") <= col("_r"), 1L).otherwise(0L)).as("quota"))
      val ranked = d.select(col("source"), col("doc_id"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(graft.ops.Dedup.hash60(col("doc_id").cast("string")), col("doc_id"))))
      ranked.join(broadcast(quotas), Seq("source"))
        .filter(col("rk") <= col("quota"))
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id"))
    }),

    // EXCESS-LOSS mixture weights: per-source bigram-LM loss vs global,
    // weight ∝ positive excess normalized to exactly 1e6 ppm via
    // largest-remainder — the DoReMi-style domain reweighting prior
    // computed from the engine's own t10 signal
    "p39_excess_loss_weights" -> ((s, dir) => {
      graft.ops.CorpusStats.excessLossWeights(
          t(s, dir, "documents").select(col("source"), col("text")),
          "source", "text")
        .orderBy(col("source"))
    }),

    // SOFT-DEDUP sampling: keep with probability 1/(2·cluster_size) —
    // duplicated content represented once in expectation, exact integer
    // Bernoulli on the md5 grid; the mirror fixture provides k=2 clusters
    "p42_soft_dedup_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val mirrored = d.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 700000L).as("doc_id"),
          concat(lit(" "), col("text"), lit("  ")).as("text"))
      graft.ops.Sampling.softDedupSample(d.unionByName(mirrored), "doc_id", "text")
        .orderBy(col("id"))
    }),

    // SOURCE-overlap JACCARD: d25's raw shared counts normalized by the
    // pair's union of distinct texts — the rate that makes the matrix
    // comparable across differently-sized sources (a 500-doc mirror of a
    // 500-doc source is total; of a 50k source it's noise)
    "d29_source_jaccard" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      val mirrored = d.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          concat(lit("src"),
            ((regexp_replace(col("source"), "src", "").cast("long") + 1) % 20))
            .as("source"),
          concat(lit(" "), col("text"), lit("  ")).as("text"))
      val all = d.unionByName(mirrored)
      val pairs = graft.ops.Dedup.sourceOverlap(all, "source", "text")
      val sizes = all.select(col("source"),
          graft.ops.TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
        .groupBy(col("source")).agg(count(lit(1)).as("n_fp"))
      pairs
        .join(broadcast(sizes.select(col("source").as("src_a"), col("n_fp").as("na"))),
          Seq("src_a"))
        .join(broadcast(sizes.select(col("source").as("src_b"), col("n_fp").as("nb"))),
          Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("n_shared"),
          expr("(n_shared * 1000000L) div (na + nb - n_shared)").as("jaccard_ppm"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // DEDUP-SAVINGS census: the d25 mirror fixture gives real k=2
    // clusters — per cluster size: clusters, redundant docs, tokens
    // saved by keeping one representative
    "d28_dedup_savings" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      val mirrored = d.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("source"),
          concat(lit(" "), col("text"), lit("  ")).as("text"))
      graft.ops.Dedup.dedupSavings(d.unionByName(mirrored), "text")
        .orderBy(col("cluster_size"))
    }),

    // PER-SOURCE duplication census: the d25 mirror fixture again —
    // mirrored sources show up with high n_cross_shared, sources with
    // internal copies show dup_ppm > 0 — the per-source datasheet row
    // that decides a mixture weight before any pairwise drill-down
    "d27_source_dup_census" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      val mirrored = d.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          concat(lit("src"),
            ((regexp_replace(col("source"), "src", "").cast("long") + 1) % 20))
            .as("source"),
          concat(lit(" "), col("text"), lit("  ")).as("text"))
      graft.ops.Dedup.sourceDupCensus(d.unionByName(mirrored), "source", "text")
        .orderBy(col("source"))
    }),

    // TEXTRANK keywords: PageRank over the word co-occurrence graph —
    // the graph-centrality term ranking next to frequency (t09) and
    // TF-IDF (t11), built on the engine's own q26 primitive; adjacency
    // is a pure array projection (pairs never leave the row before the
    // edge aggregate), the graph is vocabulary-bounded
    "t30_textrank_terms" -> ((s, dir) => {
      graft.ops.CorpusStats.textRankTerms(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", minCount = 3L, k = 20)
    }),

    // VOCABULARY-coverage census: what share of each language's token
    // occurrences the global top-100 vocabulary covers — the pre-commit
    // check on a vocab size for a multilingual mix; selection tiebreaks
    // on the t09 hash convention so the boundary is engine-deterministic
    "t28_vocab_coverage" -> ((s, dir) => {
      graft.ops.CorpusStats.vocabCoverage(
          t(s, dir, "documents").select(col("lang"), col("text")),
          "lang", "text", v = 100)
        .orderBy(col("grp"))
    }),

    // EFFECTIVE-token accounting: the d25 mirror fixture again, so the
    // copying ring shows up as eff ≪ raw for the mirrored sources — the
    // "count duplicates once" correction a mixture should be fed
    "p37_effective_tokens" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      val mirrored = d.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          concat(lit("src"),
            ((regexp_replace(col("source"), "src", "").cast("long") + 1) % 20))
            .as("source"),
          concat(lit(" "), col("text"), lit("  ")).as("text"))
      graft.ops.CorpusStats.effectiveTokens(
          d.unionByName(mirrored), "source", "text")
        .orderBy(col("source"))
    }),

    // TEMPLATE-skeleton clusters: two synthetic template families stamp
    // instances over the corpus (order/ref layouts with varying numbers)
    // — all instances of a family share a SKELETON (letters→w, digits→9,
    // punctuation kept) while every text is unique: the generated-
    // boilerplate class exact dedup can't see and n-gram near-dup
    // misprices; base docs contribute their natural shape classes
    "d26_template_skeleton" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val tA = d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(lit("order #"), (col("doc_id") * 7).cast("string"),
            lit(": total $"), (col("doc_id") % 97).cast("string"),
            lit(" (qty "), (col("doc_id") % 7).cast("string"), lit(")")).as("text"))
      val tB = d.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 300000L).as("doc_id"),
          concat(lit("ref ["), (col("doc_id") * 3).cast("string"),
            lit("] status ok")).as("text"))
      graft.ops.Dedup.templateClusters(
          d.unionByName(tA).unionByName(tB), "doc_id", "text", minSize = 3L)
        .orderBy(col("skel_fp"))
    }),

    // two-phase anneal schedule (the Llama-3-style data curriculum):
    // phase 1 = the √-temperature mixture over the full corpus in a
    // deterministic permutation; phase 2 = the high-quality slice of
    // that mixture re-permuted for the anneal steps — stage order IS
    // the semantics, steps globally consecutive
    "p35_anneal_schedule" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val mixed = graft.ops.Sampling.temperatureMixture(
        d.select(col("doc_id"), col("lang")), "doc_id", "lang")
      val p1 = graft.ops.Sampling.epochSchedule(
          mixed.select("doc_id"), "doc_id", epochs = 1)
        .select(col("doc_id"), col("step"), lit(1L).as("phase"))
      val n1 = mixed.count() // bounded: one scalar, the phase boundary
      val anneal = mixed.join(d.select(col("doc_id"), col("text")), Seq("doc_id"))
        .filter(graft.ops.TextAnalysis.qualityScore(col("text")) >= 0.5)
        .select("doc_id")
      val p2 = graft.ops.Sampling.epochSchedule(anneal, "doc_id", epochs = 1)
        .select(col("doc_id"), (col("step") + n1).as("step"), lit(2L).as("phase"))
      p1.unionByName(p2).orderBy(col("step"))
    }),

    // winnowing fingerprints (window-min k-gram hashes, compiled pass)
    "t05_winnowing" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(winnow_hashes(col("text"), 5, 4)).as("fp"))
        .orderBy(col("doc_id"), col("fp"))
    }),

    // sessionization: gap-based sessions via lag + running sum — the
    // stream-stream interval inner join: purchases attributed to a click
    // by the same user within the preceding hour, through watermarked
    // two-sided streaming state
    "s05_stream_stream_join" -> ((s, dir) => {
      val work = scratchDir("graft_ssj")
      val ev = eventsSec(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("l_event"), col("ts_s").as("l_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("r_event"), col("ts_s").as("r_ts"))
      graft.streaming.StreamStreamJoin
        // 2 state partitions at fixture scale: the symmetric join pays
        // ~0.5s of store open/commit PER PARTITION per batch, which
        // dwarfs 40k rows of actual state (measured 32→23s, 2→6s)
        .intervalJoinToCompletion(s, clicks, purchases, work, windowSec = 3600L,
          statePartitions = 2)
        .orderBy(col("user_id"), col("l_event"), col("r_event"))
    }),

    // batch form of the stateful-streaming session operator (one window
    // shuffle on the user key)
    "s04_sessionization" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      eventsSec(s, dir)
        .withColumn("prev", lag(col("ts_s"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull || col("ts_s") - col("prev") > 3600, 1L).otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(run))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_s")).as("start_s"), max(col("ts_s")).as("end_s"))
        .withColumn("dur_s", col("end_s") - col("start_s"))
        .orderBy(col("user_id"), col("sess_id"))
    }),

    // S10/S11: sharded index build — one shuffle on the md5 route, a
    // partitioned write, and a read-back (go-live = repointing the
    // serving layer); verified via the per-shard histogram
    "x19_shard_build" -> ((s, dir) => {
      val conf = graft.conf.IndexerConf(
        table = "customer", rowReadMode = graft.conf.RowReadMode.Never,
        fields = Seq(graft.conf.FieldDef("name_s", "info:name",
          graft.conf.ValueSource.Value, "string")))
      val ops = graft.core.IndexerCore.rowPath(conf)(
        graft.core.Fixtures.customerCells(s, dir))
      val out = scratchDir("graft_x19") + "/shards"
      graft.batch.BatchPipeline.buildShards(ops.select("kind", "id", "doc"), 8, out)
      graft.batch.BatchPipeline.readShards(s, out)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"))
        .orderBy(col("shard"))
    }),

    // SolrCloud-compatible offline shard build (reference
    // HBaseMapReduceIndexerTool.java:397-417): every third key is a
    // compositeId routed under its market segment; the murmur3 range
    // router puts each doc on the shard the live NRT API would pick.
    // The oracle replicates murmur3_x86_32 + compositeId + range split
    // in SQL, so the route itself is oracle-checked bit-for-bit
    "x41_solrcloud_shards" -> ((s, dir) => {
      val ids = t(s, dir, "customer").select(
        when(col("c_custkey") % 3 === 0,
          concat(col("c_mktsegment"), lit("!"), col("c_custkey").cast("string")))
          .otherwise(col("c_custkey").cast("string")).as("id"))
      val ops = ids.select(lit("add").as("kind"), col("id"),
        map(lit("k"), col("id")).as("doc"))
      val out = scratchDir("graft_x41") + "/shards"
      graft.batch.BatchPipeline.buildShards(ops, 8, out, router = "solrcloud")
      graft.batch.BatchPipeline.readShards(s, out)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"))
        .orderBy(col("shard"))
    }),

    // P10/P11: morphline-equivalent command chain — extractHBaseCells in
    // all three output modes + sanitizeUnknownSolrFields + logDebug,
    // compiled to one document expression
    "x21_morphline" -> ((s, dir) => {
      val chain =
        """{"commands": [
          |  {"extractHBaseCells": {"mappings": [
          |    {"inputColumn": "info:name", "outputField": "name_s"},
          |    {"inputColumn": "info:*", "outputField": "dyn_*"},
          |    {"inputColumn": "info:*", "outputFields": ["p_acctbal", "", "p_name"]}
          |  ]}},
          |  {"sanitizeUnknownSolrFields":
          |    {"knownFields": ["name_s", "dyn_mktsegment", "p_acctbal", "p_name"]}},
          |  {"logDebug": {"format": "output record: {}"}}
          |]}""".stripMargin
      val doc = graft.morphline.Morphline(chain)(col("cells"))
      graft.core.Fixtures.customerCells(s, dir)
        .select(col("rowKey").as("id"), doc.as("doc"))
        .select(col("id"),
          element_at(col("doc")("name_s"), 1).as("name_s"),
          element_at(col("doc")("dyn_mktsegment"), 1).as("dyn_mktsegment"),
          element_at(col("doc")("p_acctbal"), 1).as("p_acctbal"),
          element_at(col("doc")("p_name"), 1).as("p_name"))
        .orderBy(col("id"))
    }),

    // morphline JSON family (kite-morphlines-json extractJsonPaths): a
    // JSON cell built from base customer columns rides extractHBaseCells
    // into a field, then slash paths pull nested scalars and a flattened
    // array back out — the oracle reconstructs every value from the base
    // columns directly, so the whole JSON round-trip is ground-truthed
    "x30_morphline_json" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val payload = to_json(struct(
        col("c_name").as("name"),
        struct(col("c_mktsegment").as("segment")).as("meta"),
        array(col("c_name"), col("c_mktsegment")).as("tags")))
      val cells = cust.select(
        col("c_custkey").cast("long").as("id"),
        array(struct(
          lit("info").as("family"), lit("js").as("qualifier"),
          lit(0L).as("ts"), lit("put").as("cellType"),
          payload.as("value"))).as("cells"))
      val chain =
        """{"commands": [
          |  {"extractHBaseCells": {"mappings": [
          |    {"inputColumn": "info:js", "outputField": "js"}]}},
          |  {"extractJsonPaths": {"inputField": "js", "flatten": true,
          |    "paths": {"name_s": "/name", "seg_s": "/meta/segment",
          |              "tag_ss": "/tags"}}},
          |  {"sanitizeUnknownSolrFields":
          |    {"knownFields": ["name_s", "seg_s", "tag_ss"]}}
          |]}""".stripMargin
      val doc = graft.morphline.Morphline(chain)(col("cells"))
      cells.select(col("id"), doc.as("doc"))
        .select(col("id"),
          element_at(col("doc")("name_s"), 1).as("name_s"),
          element_at(col("doc")("seg_s"), 1).as("seg_s"),
          element_at(col("doc")("tag_ss"), 1).as("tag1"),
          element_at(col("doc")("tag_ss"), 2).as("tag2"),
          size(col("doc")("tag_ss")).cast("long").as("n_tags"))
        .orderBy(col("id"))
    }),

    // morphline URI family: URLs synthesized from base columns ride a
    // cell into extractURIComponents + toLowerCase; the oracle
    // reconstructs every component from the same base arithmetic, so the
    // regex parse is ground-truthed (absent fragment ⇒ no field ⇒ null)
    "x31_morphline_uri" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val url = concat(lit("https://Shop"), (col("c_custkey") % 7).cast("string"),
        lit(".Example.com:"), (lit(8000) + col("c_custkey") % 3).cast("string"),
        lit("/seg/"), col("c_mktsegment"),
        lit("?cust="), col("c_custkey").cast("string"))
      val cells = cust.select(
        col("c_custkey").cast("long").as("id"),
        array(struct(
          lit("info").as("family"), lit("url").as("qualifier"),
          lit(0L).as("ts"), lit("put").as("cellType"),
          url.as("value"))).as("cells"))
      val chain =
        """{"commands": [
          |  {"extractHBaseCells": {"mappings": [
          |    {"inputColumn": "info:url", "outputField": "u"}]}},
          |  {"extractURIComponents": {"inputField": "u", "outputFieldPrefix": "uri_"}},
          |  {"toLowerCase": {"field": "uri_host"}}
          |]}""".stripMargin
      val doc = graft.morphline.Morphline(chain)(col("cells"))
      cells.select(col("id"), doc.as("doc"))
        .select(col("id"),
          element_at(col("doc")("uri_scheme"), 1).as("scheme"),
          element_at(col("doc")("uri_authority"), 1).as("authority"),
          element_at(col("doc")("uri_host"), 1).as("host"),
          element_at(col("doc")("uri_port"), 1).as("port"),
          element_at(col("doc")("uri_path"), 1).as("path"),
          element_at(col("doc")("uri_query"), 1).as("query"),
          try_element_at(try_element_at(col("doc"), lit("uri_fragment")), lit(1)).as("fragment"))
        .orderBy(col("id"))
    }),

    // morphline extractURIQueryParameters: a repeated parameter emits one
    // value per occurrence in order; every value is synthesized from base
    // columns so the oracle reconstructs them with pure arithmetic
    "x33_morphline_uriquery" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
      // ';' is a pair separator like '&' (URLEncodedUtils); `enc` carries
      // a %20 and a '+' that must form-URL-decode to spaces; bare `flag`
      // (no '=') is a present-but-empty parameter
      val url = concat(lit("https://example.com/s?cust="),
        col("c_custkey").cast("string"),
        lit("&seg="), col("c_mktsegment"),
        lit(";cust="), (col("c_custkey") * 2).cast("string"),
        lit("&enc="), col("c_mktsegment"), lit("%20plus+"),
        col("c_custkey").cast("string"),
        lit("&flag#frag?x=9"))
      val cells = cust.select(
        col("c_custkey").cast("long").as("id"),
        array(struct(
          lit("info").as("family"), lit("url").as("qualifier"),
          lit(0L).as("ts"), lit("put").as("cellType"),
          url.as("value"))).as("cells"))
      val chain =
        """{"commands": [
          |  {"extractHBaseCells": {"mappings": [
          |    {"inputColumn": "info:url", "outputField": "u"}]}},
          |  {"extractURIQueryParameters":
          |    {"parameter": "cust", "inputField": "u", "outputField": "cust_ss"}},
          |  {"extractURIQueryParameters":
          |    {"parameter": "seg", "inputField": "u", "outputField": "seg_ss"}},
          |  {"extractURIQueryParameters":
          |    {"parameter": "enc", "inputField": "u", "outputField": "enc_ss"}},
          |  {"extractURIQueryParameters":
          |    {"parameter": "flag", "inputField": "u", "outputField": "flag_ss"}},
          |  {"extractURIQueryParameters":
          |    {"parameter": "x", "inputField": "u", "outputField": "x_ss"}}
          |]}""".stripMargin
      val doc = graft.morphline.Morphline(chain)(col("cells"))
      cells.select(col("id"), doc.as("doc"))
        .select(col("id"),
          element_at(col("doc")("cust_ss"), 1).as("cust1"),
          element_at(col("doc")("cust_ss"), 2).as("cust2"),
          size(col("doc")("cust_ss")).cast("long").as("n_cust"),
          element_at(col("doc")("seg_ss"), 1).as("seg"),
          element_at(col("doc")("enc_ss"), 1).as("enc"),
          element_at(col("doc")("flag_ss"), 1).as("flag_empty"),
          // 'x' only appears inside the fragment — never a query param
          try_element_at(try_element_at(col("doc"), lit("x_ss")), lit(1)).as("x_none"))
        .orderBy(col("id"))
    }),

    // morphline if/contains routing: records route by whether a field
    // holds one of the given values; the else side must see the record
    // unchanged (rollback) — the oracle is a CASE expression on base
    // columns
    "x32_morphline_if" -> ((s, dir) => {
      val chain =
        """{"commands": [
          |  {"extractHBaseCells": {"mappings": [
          |    {"inputColumn": "info:mktsegment", "outputField": "seg"}]}},
          |  {"if": {
          |    "conditions": [{"contains": {"seg": ["BUILDING", "MACHINERY"]}}],
          |    "then": [{"setValues": {"route": "industrial"}},
          |             {"toLowerCase": {"field": "seg"}}],
          |    "else": [{"setValues": {"route": "consumer"}}]
          |  }}
          |]}""".stripMargin
      val doc = graft.morphline.Morphline(chain)(col("cells"))
      graft.core.Fixtures.customerCells(s, dir)
        .select(col("rowKey").cast("long").as("id"), doc.as("doc"))
        .select(col("id"),
          element_at(col("doc")("seg"), 1).as("seg"),
          element_at(col("doc")("route"), 1).as("route"))
        .orderBy(col("id"))
    }),

    // morphline breadth past the reference's own test corpus: grok
    // (regex group extraction), split (multi-valued fan-out) and
    // convertTimestamp (format re-render via a forced field), chained
    // after extractHBaseCells in one compiled document expression
    "x24_morphline_grok" -> ((s, dir) => {
      val chain =
        """{"commands": [
          |  {"extractHBaseCells": {"mappings": [
          |    {"inputColumn": "info:name", "outputField": "name_s"}]}},
          |  {"grok": {"inputField": "name_s", "pattern": "^([A-Za-z]+)#(\\d+)$",
          |            "outputFields": ["word", "num"]}},
          |  {"split": {"inputField": "name_s", "outputField": "parts", "separator": "#"}},
          |  {"convertTimestamp": {"field": "when_s",
          |     "inputFormats": ["yyyy-MM-dd HH:mm:ss"], "outputFormat": "unixTimeInMillis"}}
          |]}""".stripMargin
      val doc = graft.morphline.Morphline.withParams(chain,
        Map("morphlineField.when_s" -> "2024-03-01 10:15:00"))(col("cells"))
      graft.core.Fixtures.customerCells(s, dir)
        .select(col("rowKey").as("id"), doc.as("doc"))
        .select(col("id"),
          element_at(col("doc")("word"), 1).as("grok_word"),
          element_at(col("doc")("num"), 1).as("grok_num"),
          element_at(col("doc")("parts"), 1).as("p1"),
          element_at(col("doc")("parts"), 2).as("p2"),
          element_at(col("doc")("when_s"), 1).as("when_ms"))
        .orderBy(col("id"))
    }),

    // morphline translate: dictionary mapping with fallback, and the
    // fallback-less form gating a tryRules rule (a dictionary miss
    // rejects the record to the catch-all) — Kite's exact contract
    "x34_morphline_translate" -> ((s, dir) => {
      val chain =
        """{"commands": [
          |  {"extractHBaseCells": {"mappings": [
          |    {"inputColumn": "info:mktsegment", "outputField": "seg"},
          |    {"inputColumn": "info:mktsegment", "outputField": "route"}]}},
          |  {"translate": {"field": "seg",
          |     "dictionary": {"BUILDING": "bld", "AUTOMOBILE": "auto",
          |                    "MACHINERY": "mach"},
          |     "fallback": "other"}},
          |  {"tryRules": {"rules": [
          |    {"commands": [
          |      {"translate": {"field": "route",
          |         "dictionary": {"BUILDING": "industrial", "MACHINERY": "industrial"}}}]},
          |    {"commands": [
          |      {"setValues": {"route": "consumer"}}]}
          |  ]}}
          |]}""".stripMargin
      val doc = graft.morphline.Morphline(chain)(col("cells"))
      graft.core.Fixtures.customerCells(s, dir)
        .select(col("rowKey").cast("long").as("id"), doc.as("doc"))
        .select(col("id"),
          element_at(col("doc")("seg"), 1).as("seg_code"),
          element_at(col("doc")("route"), 1).as("route"))
        .orderBy(col("id"))
    }),

    // multi-value iteration through grok/split/convertTimestamp: a
    // wildcard extract yields a MULTI-VALUED field ([c_name,
    // c_nationkey], qualifier-sorted); grok captures only from matching
    // values, split fans out every value, convertTimestamp re-renders
    // each value and drops unparseable ones — Kite's per-value contract
    "x35_morphline_multivalue" -> ((s, dir) => {
      val chain =
        """{"commands": [
          |  {"extractHBaseCells": {"mappings": [
          |    {"inputColumn": "info:n*", "outputField": "nv"}]}},
          |  {"grok": {"inputField": "nv", "pattern": "^([A-Za-z]+)#(\\d+)$",
          |            "outputFields": ["word", "num"]}},
          |  {"split": {"inputField": "nv", "outputField": "parts", "separator": "#"}},
          |  {"setValues": {"times": ["2024-03-01 10:15:00", "oops",
          |                           "2025-06-02 01:02:03"]}},
          |  {"convertTimestamp": {"field": "times",
          |     "inputFormats": ["yyyy-MM-dd HH:mm:ss"],
          |     "outputFormat": "unixTimeInMillis"}}
          |]}""".stripMargin
      val doc = graft.morphline.Morphline(chain)(col("cells"))
      graft.core.Fixtures.customerCells(s, dir)
        .select(col("rowKey").cast("long").as("id"), doc.as("doc"))
        .select(col("id"),
          // only c_name matches the grok pattern — exactly one capture
          size(col("doc")("word")).cast("long").as("n_word"),
          element_at(col("doc")("word"), 1).as("word"),
          element_at(col("doc")("num"), 1).as("num"),
          // split fans out both values: name#key → 2 parts, nationkey → 1
          size(col("doc")("parts")).cast("long").as("n_parts"),
          element_at(col("doc")("parts"), 1).as("p1"),
          element_at(col("doc")("parts"), 2).as("p2"),
          element_at(col("doc")("parts"), 3).as("p3"),
          // 'oops' drops at value granularity; both real times render
          size(col("doc")("times")).cast("long").as("n_times"),
          element_at(col("doc")("times"), 1).as("t1"),
          element_at(col("doc")("times"), 2).as("t2"))
        .orderBy(col("id"))
    }),

    // splitKeyValue: data-driven field names (first-separator split,
    // trim, multimap accumulation for a repeated key, separator-less
    // values skipped) — one dynamic-keyed fold per input value
    "x36_morphline_kv" -> ((s, dir) => {
      val chain =
        """{"commands": [
          |  {"extractHBaseCells": {"mappings": [
          |    {"inputColumn": "info:name", "outputField": "nv"}]}},
          |  {"findReplace": {"field": "nv",
          |     "pattern": "Customer#", "replacement": "name="}},
          |  {"splitKeyValue": {"inputField": "nv", "outputFieldPrefix": "c_"}},
          |  {"setValues": {"kv": ["color = red", "color= blue", "size =XL",
          |                        "flagonly"]}},
          |  {"splitKeyValue": {"inputField": "kv", "outputFieldPrefix": "attr_"}}
          |]}""".stripMargin
      val doc = graft.morphline.Morphline(chain)(col("cells"))
      graft.core.Fixtures.customerCells(s, dir)
        .select(col("rowKey").cast("long").as("id"), doc.as("doc"))
        .select(col("id"),
          element_at(col("doc")("c_name"), 1).as("cust_num"),
          size(col("doc")("attr_color")).cast("long").as("n_color"),
          element_at(col("doc")("attr_color"), 1).as("color1"),
          element_at(col("doc")("attr_color"), 2).as("color2"),
          element_at(col("doc")("attr_size"), 1).as("size_v"),
          size(map_keys(col("doc"))).cast("long").as("n_fields"))
        .orderBy(col("id"))
    }),

    // addValuesIfAbsent (put-if-absent, repeated literal adds once) and
    // removeValues (every occurrence; an emptied field disappears, a
    // missing one stays missing) — the value-level record surgery
    // commands between setValues/addValues and removeFields
    "x37_morphline_values_ops" -> ((s, dir) => {
      val chain =
        """{"commands": [
          |  {"extractHBaseCells": {"mappings": [
          |    {"inputColumn": "info:mktsegment", "outputField": "tags"}]}},
          |  {"addValuesIfAbsent": {"tags": ["BUILDING", "curated", "curated"]}},
          |  {"removeValues": {"tags": ["AUTOMOBILE"], "gone": ["x"]}},
          |  {"setValues": {"tmp": ["a", "b", "a"]}},
          |  {"removeValues": {"tmp": ["a", "b"]}}
          |]}""".stripMargin
      val doc = graft.morphline.Morphline(chain)(col("cells"))
      graft.core.Fixtures.customerCells(s, dir)
        .select(col("rowKey").cast("long").as("id"), doc.as("doc"))
        .select(col("id"),
          size(col("doc")("tags")).cast("long").as("n_tags"),
          element_at(col("doc")("tags"), 1).as("t1"),
          element_at(col("doc")("tags"), 2).as("t2"),
          try_element_at(col("doc")("tags"), lit(3)).as("t3"),
          when(array_contains(map_keys(col("doc")), "tmp"), lit(1L))
            .otherwise(lit(0L)).as("has_tmp"),
          when(array_contains(map_keys(col("doc")), "gone"), lit(1L))
            .otherwise(lit(0L)).as("has_gone"))
        .orderBy(col("id"))
    }),

    // decodeBase64: per-value decode with value-granular failure — the
    // wire cell carries base64(c_name) built by the fixture, so decode
    // must give back the base column; a literal list mixes one good and
    // one corrupt value (the corrupt one drops, like convertTimestamp)
    "x38_morphline_base64" -> ((s, dir) => {
      val cellsDf = t(s, dir, "customer").select(
        col("c_custkey").cast("long").as("id"),
        array(struct(
          lit("info").as("family"), lit("b64").as("qualifier"),
          lit(0L).as("ts"), lit("put").as("cellType"),
          base64(col("c_name").cast("binary")).as("value"))).as("cells"))
      val chain =
        """{"commands": [
          |  {"extractHBaseCells": {"mappings": [
          |    {"inputColumn": "info:b64", "outputField": "payload"}]}},
          |  {"decodeBase64": {"field": "payload"}},
          |  {"setValues": {"mixed": ["aGk=", "%%%not-base64%%%"]}},
          |  {"decodeBase64": {"field": "mixed"}}
          |]}""".stripMargin
      val doc = graft.morphline.Morphline(chain)(col("cells"))
      cellsDf.select(col("id"), doc.as("doc"))
        .select(col("id"),
          element_at(col("doc")("payload"), 1).as("name_rt"),
          size(col("doc")("mixed")).cast("long").as("n_mixed"),
          element_at(col("doc")("mixed"), 1).as("m1"))
        .orderBy(col("id"))
    }),

    // equals (exact value-list match) and not (condition inversion)
    // gating tryRules: BUILDING routes by equals; non-(AUTOMOBILE|
    // HOUSEHOLD) routes by not/contains; the catch-all takes the rest
    "x39_morphline_routing" -> ((s, dir) => {
      val chain =
        """{"commands": [
          |  {"extractHBaseCells": {"mappings": [
          |    {"inputColumn": "info:mktsegment", "outputField": "seg"}]}},
          |  {"tryRules": {"rules": [
          |    {"commands": [
          |      {"equals": {"seg": ["BUILDING"]}},
          |      {"setValues": {"route": "by-equals"}}]},
          |    {"commands": [
          |      {"not": {"contains": {"seg": ["AUTOMOBILE", "HOUSEHOLD"]}}},
          |      {"setValues": {"route": "by-not"}}]},
          |    {"commands": [
          |      {"setValues": {"route": "catch-all"}}]}
          |  ]}},
          |  {"if": {
          |    "conditions": [{"equals": {"route": ["catch-all"]}}],
          |    "then": [{"setValues": {"flagged": "1"}}],
          |    "else": [{"setValues": {"flagged": "0"}}]}}
          |]}""".stripMargin
      val doc = graft.morphline.Morphline(chain)(col("cells"))
      graft.core.Fixtures.customerCells(s, dir)
        .select(col("rowKey").cast("long").as("id"), doc.as("doc"))
        .select(col("id"),
          element_at(col("doc")("route"), 1).as("route"),
          element_at(col("doc")("flagged"), 1).as("flagged"))
        .orderBy(col("id"))
    }),

    // morphline breadth: findReplace (literal + regex, every value of a
    // multi-valued field) and removeFields (blacklist — sanitize's
    // complement), chained after extract in one compiled expression
    "x27_morphline_replace" -> ((s, dir) => {
      val chain =
        """{"commands": [
          |  {"extractHBaseCells": {"mappings": [
          |    {"inputColumn": "info:name", "outputField": "name_s"},
          |    {"inputColumn": "info:mktsegment", "outputField": "seg_s"}]}},
          |  {"findReplace": {"field": "name_s",
          |     "pattern": "Customer#", "replacement": "cust-"}},
          |  {"findReplace": {"field": "name_s", "isRegex": true,
          |     "pattern": "^cust-0+", "replacement": "cust-"}},
          |  {"removeFields": {"blacklist": ["seg_s"]}}
          |]}""".stripMargin
      val doc = graft.morphline.Morphline(chain)(col("cells"))
      graft.core.Fixtures.customerCells(s, dir)
        .select(col("rowKey").as("id"), doc.as("doc"))
        .select(col("id"),
          element_at(col("doc")("name_s"), 1).as("name_s"),
          // removed field: must be null on EVERY row (pins removeFields)
          try_element_at(try_element_at(col("doc"), lit("seg_s")), lit(1)).as("seg_gone"))
        .orderBy(col("id"))
    }),

    // morphline breadth: tryRules — first-match-wins conditional dispatch
    // (Kite's rule construct). Rule 1 accepts AUTOMOBILE rows (grok) and
    // ALSO rewrites their name (pins that a rule's extra commands run
    // only on accepted records); rule 2 accepts BUILDING; the grok-free
    // rule 3 is the catch-all. Accepted records must skip later rules.
    "x28_morphline_tryrules" -> ((s, dir) => {
      val chain =
        """{"commands": [
          |  {"extractHBaseCells": {"mappings": [
          |    {"inputColumn": "info:name", "outputField": "name_s"},
          |    {"inputColumn": "info:mktsegment", "outputField": "seg_s"}]}},
          |  {"tryRules": {"rules": [
          |    {"commands": [
          |      {"grok": {"inputField": "seg_s", "pattern": "^(AUTO)MOBILE$",
          |                "outputFields": ["cls"]}},
          |      {"findReplace": {"field": "name_s",
          |         "pattern": "Customer#", "replacement": "car-"}}]},
          |    {"commands": [
          |      {"grok": {"inputField": "seg_s", "pattern": "^(BUILDING)$",
          |                "outputFields": ["cls"]}}]},
          |    {"commands": [
          |      {"split": {"inputField": "seg_s", "outputField": "cls",
          |                 "separator": "#"}}]}
          |  ]}}
          |]}""".stripMargin
      val doc = graft.morphline.Morphline(chain)(col("cells"))
      graft.core.Fixtures.customerCells(s, dir)
        .select(col("rowKey").as("id"), doc.as("doc"))
        .select(col("id"),
          element_at(col("doc")("cls"), 1).as("cls"),
          element_at(col("doc")("name_s"), 1).as("name_s"))
        .orderBy(col("id"))
    }),

    // morphline breadth: setValues (replace) + addValues (append
    // alongside) — standalone and as a tryRules routing action (Kite's
    // record-routing idiom: the accepted rule stamps the route field)
    "x29_morphline_values" -> ((s, dir) => {
      val chain =
        """{"commands": [
          |  {"extractHBaseCells": {"mappings": [
          |    {"inputColumn": "info:name", "outputField": "name_s"},
          |    {"inputColumn": "info:mktsegment", "outputField": "seg_s"}]}},
          |  {"setValues": {"src_s": ["hbase", "graft"]}},
          |  {"addValues": {"name_s": "suffix"}},
          |  {"tryRules": {"rules": [
          |    {"commands": [
          |      {"grok": {"inputField": "seg_s", "pattern": "^(AUTO)MOBILE$",
          |                "outputFields": ["cls"]}},
          |      {"setValues": {"route_s": "cars"}}]},
          |    {"commands": [
          |      {"setValues": {"route_s": "rest"}}]}
          |  ]}}
          |]}""".stripMargin
      val doc = graft.morphline.Morphline(chain)(col("cells"))
      graft.core.Fixtures.customerCells(s, dir)
        .select(col("rowKey").as("id"), doc.as("doc"))
        .select(col("id"),
          element_at(col("doc")("src_s"), 1).as("src1"),
          element_at(col("doc")("src_s"), 2).as("src2"),
          element_at(col("doc")("name_s"), 1).as("name_s"),
          element_at(col("doc")("name_s"), 2).as("name_tag"),
          element_at(col("doc")("route_s"), 1).as("route_s"))
        .orderBy(col("id"))
    }),

    // P17: custom-mapper plug-in (reflective load + configure + typed
    // flatMap), replacing the declarative mapping stage
    "x20_custom_mapper" -> ((s, dir) => {
      val conf = graft.conf.IndexerConf(
        table = "customer", rowReadMode = graft.conf.RowReadMode.Never,
        mapperClass = Some("graft.core.UppercaseMapper"),
        params = Map("suffix" -> "_u"))
      graft.core.CustomMapper.run(conf)(graft.core.Fixtures.customerCells(s, dir))
        .toDF()
        .select(col("id"),
          element_at(col("doc")("name_u"), 1).as("name_u"),
          element_at(col("doc")("mktsegment_u"), 1).as("mkt_u"))
        .orderBy(col("id"))
    }),

    // P11: morphlineVariable.* substitution into the chain config +
    // morphlineField.* forced fields on every record (reference
    // LocalMorphlineResultToSolrMapper.java:96-160; fixture
    // extractHBaseCellsWithVariables.conf)
    "x22_morphline_vars" -> ((s, dir) => {
      val chain =
        """{"commands": [
          |  {"extractHBaseCells": {"mappings": [
          |    {"inputColumn": "${cf}:name", "outputField": "name_s", "type": "string"}]}},
          |  {"sanitizeUnknownSolrFields": {"knownFields": ["name_s", "source_s"]}}
          |]}""".stripMargin
      val doc = graft.morphline.Morphline.withParams(chain, Map(
        "morphlineVariable.cf" -> "info",
        "morphlineField.source_s" -> "hbase"))(col("cells"))
      graft.core.Fixtures.customerCells(s, dir)
        .select(col("rowKey").as("id"), doc.as("doc"))
        .select(col("id"),
          element_at(col("doc")("name_s"), 1).as("name_s"),
          element_at(col("doc")("source_s"), 1).as("source_s"))
        .orderBy(col("id"))
    }),

    // P5: custom VALUE-mapper plug-in as a field type (reflective load —
    // reference ByteArrayValueMappers.java:128-142): multi-valued emit
    // ('Customer#000000042' → two values) and malformed-drops-value
    // (mktsegment has no '#' → field absent → null column)
    "x23_value_mapper" -> ((s, dir) => {
      val conf = graft.conf.IndexerConf(
        table = "customer", rowReadMode = graft.conf.RowReadMode.Never,
        fields = Seq(
          graft.conf.FieldDef("parts", "info:name",
            graft.conf.ValueSource.Value, "graft.mapping.SplitHashMapper"),
          graft.conf.FieldDef("seg_p", "info:mktsegment",
            graft.conf.ValueSource.Value, "graft.mapping.SplitHashMapper")))
      graft.core.Fixtures.customerCells(s, dir)
        .select(col("rowKey").as("id"),
          graft.mapping.Mapping.docMap(conf)(col("cells")).as("doc"))
        .select(col("id"),
          element_at(col("doc")("parts"), 1).as("p1"),
          element_at(col("doc")("parts"), 2).as("p2"),
          element_at(col("doc")("seg_p"), 1).as("seg_p"))
        .orderBy(col("id"))
    })
  )

  // the k-means training loop is unrolled into CTEs: every step is the
  // same exact integer arithmetic the Spark operator uses (md5-seeded
  // init, integer-cosine assignment, floor-mean update), so the codebook
  // — and therefore the probe lists — match bit-for-bit; a04 (persisted
  // index, identical parameters) shares this oracle
  /** Shared DuckDB replica of the deterministic k-means codebook + the
    * crk-ranked centroid assignment (`assign`, with `corpus_a` = the
    * crk=1 hard assignment) — the common prefix of every oracle that
    * consumes [[graft.ops.Similarity.trainCentroids]] output (a03/a04
    * IVF, a05 SemDeDup). */
  private val kmeansAssignCtes: String = {
        def lloydIter(i: Int) =
          s"""a$i AS (
             |  SELECT vec_id, q, c_id FROM (
             |    SELECT n.vec_id, n.q, c.c_id,
             |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
             |        CASE WHEN n.nn = 0 OR c.c_nn = 0 THEN 0.0
             |             ELSE list_dot_product(n.q::DOUBLE[], c.c_q::DOUBLE[]) / (sqrt(n.nn) * sqrt(c.c_nn)) END DESC,
             |        c.c_id ASC) AS crk
             |    FROM n CROSS JOIN cent${i - 1} c)
             |  WHERE crk = 1),
             |s$i AS (
             |  SELECT c_id, d, sum(v) AS s, count(*) AS cnt FROM (
             |    SELECT c_id, unnest(q) AS v, unnest(range(len(q))) AS d FROM a$i)
             |  GROUP BY 1, 2),
             |v$i AS (SELECT c_id,
             |          list(CAST((s - ((s % cnt) + cnt) % cnt) / cnt AS BIGINT) ORDER BY d) AS c_q
             |        FROM s$i GROUP BY c_id),
             |cent$i AS (
             |  SELECT p.c_id, coalesce(v.c_q, p.c_q) AS c_q,
             |    list_dot_product(coalesce(v.c_q, p.c_q)::DOUBLE[], coalesce(v.c_q, p.c_q)::DOUBLE[]) AS c_nn
             |  FROM cent${i - 1} p LEFT JOIN v$i v USING (c_id))""".stripMargin
        s"""WITH ${PipelineQueries.quantCte},
           |seeds AS (
           |  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS c_id, q
           |  FROM (SELECT vec_id, q, ${PipelineQueries.h60sql("CAST(vec_id AS VARCHAR)")} AS h FROM n)
           |  ORDER BY h, vec_id LIMIT 8),
           |cent0 AS (SELECT c_id, q AS c_q, list_dot_product(q::DOUBLE[], q::DOUBLE[]) AS c_nn FROM seeds),
           |${lloydIter(1)},
           |${lloydIter(2)},
           |c AS (SELECT c_id, c_q, c_nn FROM cent2),
           |assign AS (
           |  SELECT vec_id, q, nn, c_id,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS crk
           |  FROM (
           |    SELECT n.vec_id, n.q, n.nn, c.c_id,
           |      CASE WHEN n.nn = 0 OR c.c_nn = 0 THEN 0.0
           |           ELSE list_dot_product(n.q::DOUBLE[], c.c_q::DOUBLE[]) / (sqrt(n.nn) * sqrt(c.c_nn)) END AS sim
           |    FROM n CROSS JOIN c)),
           |corpus_a AS (SELECT vec_id, q, nn, c_id FROM assign WHERE crk = 1)""".stripMargin
  }

  /** a23's sweep CTEs (shared with a24's auto-tuner): the k-means
    * assignment, the brute truth set, one arm per probe level, ending
    * in `sw23` = (n_probe, n_queries, n_exact, n_hit, recall). */
  private val a23SweepCtes: String = {
    def arm(p: Int) =
      s"""probes23_$p AS (SELECT vec_id AS q_id, q AS q_q, nn AS q_nn, c_id
         |               FROM assign WHERE crk <= $p AND vec_id < 5),
         |scored23_$p AS (
         |  SELECT pr.q_id, a.vec_id AS n_id,
         |    CASE WHEN a.nn = 0 OR pr.q_nn = 0 THEN 0.0
         |         ELSE list_dot_product(a.q::DOUBLE[], pr.q_q::DOUBLE[]) / (sqrt(a.nn) * sqrt(pr.q_nn)) END AS sim
         |  FROM corpus_a a JOIN probes23_$p pr ON a.c_id = pr.c_id AND a.vec_id <> pr.q_id),
         |ivf23_$p AS (SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
         |    FROM scored23_$p)
         |  WHERE rk <= 5),
         |sum23_$p AS (
         |  SELECT CAST($p AS BIGINT) AS n_probe,
         |    CAST(count(DISTINCT b.q_id) AS BIGINT) AS n_queries,
         |    CAST(count(*) AS BIGINT) AS n_exact,
         |    CAST(count(i.n_id) AS BIGINT) AS n_hit,
         |    CAST(count(i.n_id) AS DOUBLE) / count(*) AS recall
         |  FROM brute23 b LEFT JOIN ivf23_$p i ON b.q_id = i.q_id AND b.n_id = i.n_id)""".stripMargin
    s"""$kmeansAssignCtes,
       |brute23 AS (SELECT q_id, n_id FROM (
       |    SELECT qr.vec_id AS q_id, c.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY qr.vec_id
       |        ORDER BY CASE WHEN c.nn = 0 OR qr.nn = 0 THEN 0.0
       |          ELSE list_dot_product(c.q::DOUBLE[], qr.q::DOUBLE[]) / (sqrt(c.nn) * sqrt(qr.nn)) END DESC,
       |          c.vec_id ASC) AS rk
       |    FROM n c CROSS JOIN (SELECT * FROM n WHERE vec_id < 5) qr
       |    WHERE c.vec_id <> qr.vec_id)
       |  WHERE rk <= 5),
       |${arm(1)},
       |${arm(2)},
       |${arm(4)},
       |sw23 AS (
       |  SELECT * FROM sum23_1 UNION ALL SELECT * FROM sum23_2
       |  UNION ALL SELECT * FROM sum23_4)""".stripMargin
  }

  /** The fixed-point PageRank iteration CTEs (q26's oracle core, shared
    * with t30's TextRank): expects upstream CTEs `<edges>`(src, dst, w)
    * and `nodes`(item); produces outd/pe/r0..r10. Every rI is consumed
    * twice (in-sums + dangling), so any oracle using this belongs on
    * the MATERIALIZED allowlist. */
  private def pageRankCtes(edges: String): String = {
    val iter = (1 to 10).map { i =>
      s"""r$i AS (
         |  SELECT nodes.item,
         |    3000000000000 // (20 * (SELECT count(*) FROM nodes))
         |    + (17 * (COALESCE(s.in_sum, 0)
         |       + (SELECT COALESCE(sum(p.r), 0) FROM r${i - 1} p
         |          LEFT JOIN outd ON p.item = outd.src WHERE outd.src IS NULL)
         |         // (SELECT count(*) FROM nodes))) // 20 AS r
         |  FROM nodes LEFT JOIN (
         |    SELECT pe.dst AS item2, sum((p.r * pe.p) // 1000000) AS in_sum
         |    FROM r${i - 1} p JOIN pe ON p.item = pe.src GROUP BY 1) s
         |  ON nodes.item = s.item2)""".stripMargin
    }.mkString(",\n")
    s"""outd AS (SELECT src, sum(w) AS outdeg FROM $edges GROUP BY 1),
       |pe AS (SELECT e.src, e.dst, (e.w * 1000000) // outd.outdeg AS p
       |       FROM $edges e JOIN outd ON e.src = outd.src),
       |r0 AS (SELECT item, 1000000000000 // (SELECT count(*) FROM nodes) AS r FROM nodes),
       |$iter""".stripMargin
  }

  /** One fixed-point arm of q32's absorbing chain: `iters` unrolled
    * rounds of p(s) = Σ p(t)·pr(s→t) over the types-sized transition
    * frame; `removed` forces every read of that channel's value to zero
    * (the removal-effect semantics). Mirrors the engine's exact driver
    * integers: values 1e-12 grid, probabilities 1e-6, per-edge
    * truncating division before the sum. */
  private def markovArm(tag: String, removed: Option[String], iters: Int): String = {
    val rm = removed.map(c => s"WHEN e.dst = '$c' THEN 0 ").getOrElse("")
    val iterCtes = (1 to iters).map { i =>
      s"""${tag}_$i AS (
         |  SELECT e.src AS s,
         |    sum((CASE WHEN e.dst = 'purchase' THEN 1000000000000
         |      WHEN e.dst = 'NULL' THEN 0 ${rm}ELSE COALESCE(p.p, 0) END * e.pr) // 1000000) AS p
         |  FROM pe32 e LEFT JOIN ${tag}_${i - 1} p ON e.dst = p.s GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""${tag}_0 AS (SELECT src AS s, CAST(0 AS BIGINT) AS p FROM outc32),
       |$iterCtes""".stripMargin
  }

  /** p39's weight chain (shared with p44's selection): t10's model CTEs
    * at source granularity, magnitude-floor means, largest-remainder
    * inputs — ends in `fin39` carrying (source, ..., w0, rem, r_, rk). */
  private val p39Ctes: String =
    """tok39 AS (
      |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS tk
      |  FROM documents WHERE length(trim(text)) > 0),
      |bg39 AS (
      |  SELECT source, unnest(list_transform(generate_series(1, len(tk) - 1),
      |    i -> tk[i] || ' ' || tk[i+1])) AS b
      |  FROM tok39 WHERE len(tk) >= 2),
      |db39 AS (SELECT source, b, split_part(b, ' ', 1) AS w1, count(*) AS m
      |         FROM bg39 GROUP BY 1, 2, 3),
      |bgc39 AS (SELECT b, sum(m) AS c_bg FROM db39 GROUP BY b),
      |ugc39 AS (SELECT w1, sum(m) AS c_ug FROM db39 GROUP BY w1),
      |ps39 AS (
      |  SELECT source, sum(m) AS n_bigrams,
      |    sum(m * CAST(round(ln(CAST(c_bg AS DOUBLE) / c_ug) * 1000000) AS BIGINT)) AS s_q
      |  FROM db39 JOIN bgc39 USING (b) JOIN ugc39 USING (w1) GROUP BY source),
      |pm39 AS (SELECT source, n_bigrams, s_q,
      |           -((0 - s_q) // n_bigrams) AS mean_logp_q FROM ps39),
      |g39 AS (SELECT -((0 - sum(s_q)) // sum(n_bigrams)) AS g_q FROM pm39),
      |ex39 AS (SELECT source, n_bigrams, mean_logp_q,
      |           greatest(g_q - mean_logp_q, 0) AS excess_q
      |         FROM pm39 CROSS JOIN g39),
      |tt39 AS (SELECT sum(excess_q) AS t_ex, count(*) AS n_src FROM ex39),
      |ws39 AS (
      |  SELECT source, n_bigrams, mean_logp_q, excess_q,
      |    (CASE WHEN t_ex = 0 THEN 1 ELSE excess_q END * 1000000)
      |      // (CASE WHEN t_ex = 0 THEN n_src ELSE t_ex END) AS w0,
      |    (CASE WHEN t_ex = 0 THEN 1 ELSE excess_q END * 1000000)
      |      % (CASE WHEN t_ex = 0 THEN n_src ELSE t_ex END) AS rem
      |  FROM ex39 CROSS JOIN tt39),
      |fin39 AS (
      |  SELECT *, 1000000 - sum(w0) OVER () AS r_,
      |    row_number() OVER (ORDER BY rem DESC, source) AS rk
      |  FROM ws39)""".stripMargin

  /** Shared by t32 (batch) and s35 (streaming fold of the same counts):
    * one (source, term) count, per-source singleton rollup. */
  /** The t38/s40 fixture: every third doc gains a duplicated LINE (its
    * opening 8 words, twice) and every fourth a duplicated PARAGRAPH
    * (the same opener as two blank-line-separated blocks) — line dups,
    * paragraph dups, 2-gram spikes, and repeated 5-grams all genuinely
    * occur, with the %12 docs exercising every signal at once. */
  private def repetitionPages(docs: DataFrame): DataFrame = {
    val opener = concat_ws(" ", slice(split(col("text"), "\\s+"), 1, 8))
    // coalesce text to '' up front: concat_ws SKIPS nulls (a NULL text on a
    // doc_id%3==0 row would plant an opener-only page) while the DuckDB
    // oracle's `text || ...` propagates NULL — normalizing here makes both
    // sides identical by construction, not by fixture luck
    docs.select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .select(col("doc_id"), col("text"), opener.as("_op"))
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat_ws("\n", col("text"), col("_op"), col("_op")))
          .otherwise(col("text")).as("text"),
        col("_op"))
      .select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat_ws("\n\n", col("text"), col("_op"), col("_op")))
          .otherwise(col("text")).as("text"))
  }

  private val t38OracleSql: String =
    """WITH docs37 AS (
        |  SELECT doc_id, coalesce(text, '') AS text FROM documents),
        |pages37a AS (
        |  SELECT doc_id,
        |    array_to_string(regexp_split_to_array(text, '\s+')[1:8], ' ') AS op,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      text || chr(10) ||
        |      array_to_string(regexp_split_to_array(text, '\s+')[1:8], ' ') || chr(10) ||
        |      array_to_string(regexp_split_to_array(text, '\s+')[1:8], ' ')
        |    ELSE text END AS text
        |  FROM docs37),
        |pages37 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN
        |      text || chr(10) || chr(10) || op || chr(10) || chr(10) || op
        |    ELSE text END AS text
        |  FROM pages37a),
        |ln37 AS (
        |  SELECT doc_id, line FROM (
        |    SELECT doc_id, trim(unnest(string_split(text, chr(10)))) AS line
        |    FROM pages37)
        |  WHERE length(line) > 0),
        |lc37 AS (SELECT doc_id, line, count(*) AS cnt FROM ln37 GROUP BY 1, 2),
        |lrep37 AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
        |    CAST((sum(cnt - 1) * 1000000) // sum(cnt) AS BIGINT) AS dup_line_ppm,
        |    CAST(CASE WHEN sum(cnt * length(line)) > 0
        |      THEN (sum((cnt - 1) * length(line)) * 1000000) // sum(cnt * length(line))
        |      ELSE 0 END AS BIGINT) AS dup_line_char_ppm
        |  FROM lc37 GROUP BY doc_id),
        |pp37 AS (
        |  SELECT doc_id, para FROM (
        |    SELECT doc_id, trim(unnest(string_split_regex(text, '\n\s*\n'))) AS para
        |    FROM pages37)
        |  WHERE length(para) > 0),
        |pc37 AS (SELECT doc_id, para, count(*) AS cnt FROM pp37 GROUP BY 1, 2),
        |prep37 AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_paras,
        |    CAST((sum(cnt - 1) * 1000000) // sum(cnt) AS BIGINT) AS dup_para_ppm,
        |    CAST(CASE WHEN sum(cnt * length(para)) > 0
        |      THEN (sum((cnt - 1) * length(para)) * 1000000) // sum(cnt * length(para))
        |      ELSE 0 END AS BIGINT) AS dup_para_char_ppm
        |  FROM pc37 GROUP BY doc_id),
        |tok37 AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l
        |  FROM pages37 WHERE length(trim(text)) > 0),
        |tpi37 AS (
        |  SELECT doc_id, l, unnest(generate_series(1, len(l))) AS p FROM tok37),
        |tp37 AS (
        |  SELECT doc_id, p, l[p] AS tok,
        |    sum(length(l[p]) + 1) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS UNBOUNDED PRECEDING) - length(l[p]) - 1 AS cs
        |  FROM tpi37),
        |lens37 AS (
        |  SELECT doc_id, CAST(sum(length(tok)) + count(*) - 1 AS BIGINT) AS n_chars
        |  FROM tp37 GROUP BY doc_id),
        |g2v37 AS (
        |  SELECT * FROM (
        |    SELECT doc_id,
        |      tok || ' ' || lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY p) AS g,
        |      cs AS s,
        |      lead(cs + length(tok), 1) OVER (PARTITION BY doc_id ORDER BY p) AS e
        |    FROM tp37)
        |  WHERE e IS NOT NULL),
        |t2a37 AS (SELECT doc_id, g, count(*) AS cnt, min(e - s) AS glen
        |  FROM g2v37 GROUP BY 1, 2),
        |t2b37 AS (SELECT doc_id, max(cnt) AS maxc FROM t2a37 GROUP BY 1),
        |t2c37 AS (
        |  SELECT a.doc_id, max(a.cnt * a.glen) AS cov
        |  FROM t2a37 a JOIN t2b37 b ON a.doc_id = b.doc_id AND a.cnt = b.maxc
        |  GROUP BY a.doc_id),
        |g5v37 AS (
        |  SELECT * FROM (
        |    SELECT doc_id,
        |      tok || ' ' || lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY p)
        |        || ' ' || lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY p)
        |        || ' ' || lead(tok, 3) OVER (PARTITION BY doc_id ORDER BY p)
        |        || ' ' || lead(tok, 4) OVER (PARTITION BY doc_id ORDER BY p) AS g,
        |      cs AS s,
        |      lead(cs + length(tok), 4) OVER (PARTITION BY doc_id ORDER BY p) AS e
        |    FROM tp37)
        |  WHERE e IS NOT NULL),
        |d5v37 AS (
        |  SELECT doc_id, s, e FROM (
        |    SELECT doc_id, s, e, count(*) OVER (PARTITION BY doc_id, g) AS cnt
        |    FROM g5v37)
        |  WHERE cnt > 1),
        |mrg37 AS (
        |  SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM d5v37),
        |grp37 AS (
        |  SELECT doc_id, s, e,
        |    sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM mrg37),
        |cov537 AS (
        |  SELECT doc_id, sum(len) AS cov FROM (
        |    SELECT doc_id, grp, max(e) - min(s) AS len FROM grp37 GROUP BY 1, 2)
        |  GROUP BY doc_id),
        |rep37 AS (
        |  SELECT d.doc_id,
        |    COALESCE(l.n_lines, 0) AS n_lines,
        |    COALESCE(l.dup_line_ppm, 0) AS dup_line_ppm,
        |    COALESCE(l.dup_line_char_ppm, 0) AS dup_line_char_ppm,
        |    COALESCE(pr.n_paras, 0) AS n_paras,
        |    COALESCE(pr.dup_para_ppm, 0) AS dup_para_ppm,
        |    COALESCE(pr.dup_para_char_ppm, 0) AS dup_para_char_ppm,
        |    CAST(COALESCE(CASE WHEN le.n_chars > 0
        |      THEN (t2.cov * 1000000) // le.n_chars END, 0) AS BIGINT) AS top2_char_ppm,
        |    COALESCE(le.n_chars, 0) AS n_chars,
        |    CAST(COALESCE(CASE WHEN le.n_chars > 0
        |      THEN (c5.cov * 1000000) // le.n_chars END, 0) AS BIGINT) AS dup5_char_ppm
        |  FROM documents d
        |  LEFT JOIN lrep37 l ON d.doc_id = l.doc_id
        |  LEFT JOIN prep37 pr ON d.doc_id = pr.doc_id
        |  LEFT JOIN lens37 le ON d.doc_id = le.doc_id
        |  LEFT JOIN t2c37 t2 ON d.doc_id = t2.doc_id
        |  LEFT JOIN cov537 c5 ON d.doc_id = c5.doc_id)
        |SELECT doc_id, n_lines, dup_line_ppm, dup_line_char_ppm,
        |  n_paras, dup_para_ppm, dup_para_char_ppm,
        |  top2_char_ppm, n_chars, dup5_char_ppm,
        |  CAST(CASE WHEN dup_line_ppm <= 300000 AND dup_line_char_ppm <= 200000
        |    AND dup_para_ppm <= 300000 AND dup_para_char_ppm <= 200000
        |    AND top2_char_ppm <= 200000 AND dup5_char_ppm <= 150000
        |    THEN 1 ELSE 0 END AS BIGINT) AS rep_pass
        |FROM rep37 ORDER BY doc_id""".stripMargin

  private val t32OracleSql: String =
    """WITH tok32 AS (
      |  SELECT source AS grp, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |  FROM documents WHERE length(trim(text)) > 0),
      |tf32 AS (SELECT grp, w, count(*) AS m FROM tok32 GROUP BY 1, 2)
      |SELECT grp, CAST(sum(m) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
      |  CAST((sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) * 1000000) // sum(m) AS BIGINT) AS p0_ppm
      |FROM tf32 GROUP BY grp ORDER BY grp""".stripMargin

  /** Shared by q30 (batch) and s34 (streaming fold of the same census):
    * the (type, hour) census, floor-mean per type, spike filter. */
  private val q30OracleSql: String =
    """WITH ev30 AS (
      |  SELECT event_type, (epoch_ns(ts) // 1000000000) // 3600 AS bucket FROM events),
      |c30 AS (SELECT event_type, bucket, count(*) AS n FROM ev30 GROUP BY 1, 2),
      |t30_ AS (SELECT event_type, sum(n) AS total_n, count(*) AS buckets_active
      |         FROM c30 GROUP BY 1),
      |j30 AS (
      |  SELECT c30.event_type, bucket, n,
      |    greatest(total_n // buckets_active, 1) AS mean_f
      |  FROM c30 JOIN t30_ USING (event_type))
      |SELECT event_type, CAST(bucket AS BIGINT) AS bucket, CAST(n AS BIGINT) AS n,
      |  CAST((n * 1000000) // mean_f AS BIGINT) AS ratio_q
      |FROM j30 WHERE n >= 2 * mean_f
      |ORDER BY event_type, bucket""".stripMargin

  /** SALSA's alternating backward/forward walk unrolled (q29): five
    * h/a CTE pairs over probability frames normalized by in- and
    * out-degree — same 1e-12/1e-6 grids and floor-division order as the
    * Spark op, so the fixed point is bit-identical. */
  private def salsaCtes(edges: String): String = {
    val iter = (1 to 5).map { i =>
      s"""h$i AS (
         |  SELECT pin.src AS item, sum((p.r * pin.p) // 1000000) AS r
         |  FROM a${i - 1} p JOIN pin ON p.item = pin.dst GROUP BY 1),
         |a$i AS (
         |  SELECT pout.dst AS item, sum((p.r * pout.p) // 1000000) AS r
         |  FROM h$i p JOIN pout ON p.item = pout.src GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""outd AS (SELECT src, sum(w) AS outdeg FROM $edges GROUP BY 1),
       |ind AS (SELECT dst, sum(w) AS indeg FROM $edges GROUP BY 1),
       |pout AS (SELECT e.src, e.dst, (e.w * 1000000) // outd.outdeg AS p
       |         FROM $edges e JOIN outd ON e.src = outd.src),
       |pin AS (SELECT e.src, e.dst, (e.w * 1000000) // ind.indeg AS p
       |        FROM $edges e JOIN ind ON e.dst = ind.dst),
       |auths AS (SELECT DISTINCT dst AS item FROM $edges),
       |a0 AS (SELECT item,
       |  1000000000000 // (SELECT count(*) FROM auths) AS r FROM auths),
       |$iter""".stripMargin
  }

  /** The PERSONALIZED variant (q28's TrustRank): teleport and dangling
    * mass return only to an upstream `seeds`(item) CTE; non-seeds start
    * at 0 and earn rank through in-links alone. */
  private def personalizedPageRankCtes(edges: String): String = {
    val iter = (1 to 10).map { i =>
      s"""r$i AS (
         |  SELECT nodes.item,
         |    CASE WHEN nodes.item IN (SELECT item FROM seeds)
         |      THEN 3000000000000 // (20 * (SELECT count(*) FROM seeds))
         |        + (17 * (COALESCE(s.in_sum, 0)
         |           + (SELECT COALESCE(sum(p.r), 0) FROM r${i - 1} p
         |              LEFT JOIN outd ON p.item = outd.src WHERE outd.src IS NULL)
         |             // (SELECT count(*) FROM seeds))) // 20
         |      ELSE (17 * COALESCE(s.in_sum, 0)) // 20 END AS r
         |  FROM nodes LEFT JOIN (
         |    SELECT pe.dst AS item2, sum((p.r * pe.p) // 1000000) AS in_sum
         |    FROM r${i - 1} p JOIN pe ON p.item = pe.src GROUP BY 1) s
         |  ON nodes.item = s.item2)""".stripMargin
    }.mkString(",\n")
    s"""outd AS (SELECT src, sum(w) AS outdeg FROM $edges GROUP BY 1),
       |pe AS (SELECT e.src, e.dst, (e.w * 1000000) // outd.outdeg AS p
       |       FROM $edges e JOIN outd ON e.src = outd.src),
       |r0 AS (
       |  SELECT item,
       |    CASE WHEN item IN (SELECT item FROM seeds)
       |      THEN 1000000000000 // (SELECT count(*) FROM seeds) ELSE 0 END AS r
       |  FROM nodes),
       |$iter""".stripMargin
  }

  /** Shared by p36 (batch hash-rank selection) and s31 (first-come
    * stream admission): the k-means assignment + the unit-weight
    * water-fill over the cluster census, ending in `alc` =
    * (c_id, alloc). */
  private val clusterAllocCtes: String =
    s"""$kmeansAssignCtes,
       |census AS (SELECT c_id, count(*) AS nt FROM corpus_a GROUP BY 1),
       |rr0 AS (
       |  SELECT c_id, nt, row_number() OVER (ORDER BY nt, c_id) AS i,
       |    coalesce(sum(nt) OVER (ORDER BY nt, c_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx,
       |    coalesce(lag(nt) OVER (ORDER BY nt, c_id), 0) AS prev,
       |    count(*) OVER () AS sct
       |  FROM census),
       |lv AS (SELECT rr0.*, greatest(200 - pfx, 0) // (sct - i + 1) AS cand FROM rr0),
       |cp AS (
       |  SELECT coalesce(max(CASE WHEN prev <= cand AND cand < nt THEN cand END),
       |    max(nt)) AS cap
       |  FROM lv),
       |a0 AS (
       |  SELECT lv.c_id, lv.nt, least(lv.nt, cp.cap) AS alloc0,
       |    lv.nt > cp.cap AS unsat
       |  FROM lv CROSS JOIN cp),
       |rem AS (SELECT least(200, sum(nt)) - sum(alloc0) AS rrem FROM a0),
       |alc AS (
       |  SELECT c_id,
       |    alloc0 + CASE WHEN unsat AND urk <= rrem THEN 1 ELSE 0 END AS alloc
       |  FROM (SELECT a0.*,
       |          row_number() OVER (PARTITION BY unsat ORDER BY c_id) AS urk
       |        FROM a0) CROSS JOIN rem)""".stripMargin

  /** a26's grouped per-cell 2-means, one Lloyd step: cell-partitioned
    * best-of-2 assignment (ties to the smaller sub) + floor-mean update;
    * an emptied sub keeps its previous vector — the engine's
    * [[graft.ops.Similarity.splitHotCells]] conventions verbatim. */
  private def splitIterCtes(i: Int): String =
    s"""as26_$i AS (
       |  SELECT c_id, vec_id, q, sub FROM (
       |    SELECT v.c_id, v.vec_id, v.q, s.sub,
       |      row_number() OVER (PARTITION BY v.c_id, v.vec_id ORDER BY
       |        CASE WHEN v.nn = 0 OR s.c_nn = 0 THEN 0.0
       |             ELSE list_dot_product(v.q::DOUBLE[], s.c_q::DOUBLE[]) / (sqrt(v.nn) * sqrt(s.c_nn)) END DESC,
       |        s.sub ASC) AS srk
       |    FROM hv26 v JOIN sc26_${i - 1} s USING (c_id))
       |  WHERE srk = 1),
       |su26_$i AS (
       |  SELECT c_id, sub, d, sum(v) AS s, count(*) AS cnt FROM (
       |    SELECT c_id, sub, unnest(q) AS v, unnest(range(len(q))) AS d FROM as26_$i)
       |  GROUP BY 1, 2, 3),
       |nv26_$i AS (SELECT c_id, sub,
       |    list(CAST((s - ((s % cnt) + cnt) % cnt) / cnt AS BIGINT) ORDER BY d) AS c_q
       |  FROM su26_$i GROUP BY 1, 2),
       |sc26_$i AS (
       |  SELECT p.c_id, p.sub, coalesce(v.c_q, p.c_q) AS c_q,
       |    list_dot_product(coalesce(v.c_q, p.c_q)::DOUBLE[], coalesce(v.c_q, p.c_q)::DOUBLE[]) AS c_nn
       |  FROM sc26_${i - 1} p LEFT JOIN nv26_$i v USING (c_id, sub))""".stripMargin

  private val a03Oracle: String =
    s"""$kmeansAssignCtes,
       |probes AS (SELECT vec_id AS q_id, q AS q_q, nn AS q_nn, c_id
       |           FROM assign WHERE crk <= 2 AND vec_id < 5),
       |scored AS (
       |  SELECT p.q_id, a.vec_id AS n_id,
       |    CASE WHEN a.nn = 0 OR p.q_nn = 0 THEN 0.0
       |         ELSE list_dot_product(a.q::DOUBLE[], p.q_q::DOUBLE[]) / (sqrt(a.nn) * sqrt(p.q_nn)) END AS sim
       |  FROM corpus_a a JOIN probes p ON a.c_id = p.c_id AND a.vec_id <> p.q_id)
       |SELECT q_id, n_id, sim, rk FROM (
       |  SELECT q_id, n_id, sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
       |  FROM scored)
       |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** a19: a03's serving universe minus the tombstoned rows
    * (vec_id % 7 = 3), expected TWICE — phase 1 masked by tombstones,
    * phase 2 physically compacted. The identical phases ARE the
    * operator's correctness claim (masked ≡ physically-deleted). */
  private val a19Oracle: String =
    s"""$kmeansAssignCtes,
       |probes AS (SELECT vec_id AS q_id, q AS q_q, nn AS q_nn, c_id
       |           FROM assign WHERE crk <= 2 AND vec_id < 5),
       |scored AS (
       |  SELECT p.q_id, a.vec_id AS n_id,
       |    CASE WHEN a.nn = 0 OR p.q_nn = 0 THEN 0.0
       |         ELSE list_dot_product(a.q::DOUBLE[], p.q_q::DOUBLE[]) / (sqrt(a.nn) * sqrt(p.q_nn)) END AS sim
       |  FROM corpus_a a JOIN probes p ON a.c_id = p.c_id AND a.vec_id <> p.q_id
       |  WHERE a.vec_id % 7 <> 3),
       |one AS (
       |  SELECT q_id, n_id, sim, rk FROM (
       |    SELECT q_id, n_id, sim,
       |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
       |    FROM scored)
       |  WHERE rk <= 5)
       |SELECT q_id, n_id, sim, rk, phase FROM (
       |  SELECT *, CAST(1 AS BIGINT) AS phase FROM one
       |  UNION ALL SELECT *, CAST(2 AS BIGINT) AS phase FROM one)
       |ORDER BY phase, q_id, rk""".stripMargin

  /** a20: best-centroid fit per segment off the shared k-means CTEs —
    * `assign` crk=1 rows carry the build corpus's best sim; the drift
    * segment re-scores reversed vectors (norms unchanged) against the
    * same codebook with a plain max. Micro-quantized sums are exact. */
  private val a20Oracle: String =
    s"""$kmeansAssignCtes,
       |bs AS (SELECT n.vec_id,
       |         max(CASE WHEN n.nn = 0 OR c.c_nn = 0 THEN 0.0
       |             ELSE list_dot_product(n.q::DOUBLE[], c.c_q::DOUBLE[]) / (sqrt(n.nn) * sqrt(c.c_nn)) END) AS sim
       |       FROM n CROSS JOIN c GROUP BY n.vec_id),
       |nr AS (SELECT vec_id, list_reverse(q) AS q, nn FROM n),
       |bd AS (SELECT nr.vec_id,
       |         max(CASE WHEN nr.nn = 0 OR c.c_nn = 0 THEN 0.0
       |             ELSE list_dot_product(nr.q::DOUBLE[], c.c_q::DOUBLE[]) / (sqrt(nr.nn) * sqrt(c.c_nn)) END) AS sim
       |       FROM nr CROSS JOIN c GROUP BY nr.vec_id),
       |seg AS (
       |  SELECT 'build' AS segment, CAST(round(sim * 1000000) AS BIGINT) AS fit_q FROM bs
       |  UNION ALL
       |  SELECT 'increment', CAST(round(sim * 1000000) AS BIGINT) FROM bs WHERE vec_id % 2 = 1
       |  UNION ALL
       |  SELECT 'drift', CAST(round(sim * 1000000) AS BIGINT) FROM bd)
       |SELECT segment, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(fit_q) AS DOUBLE) / (count(*) * 1000000.0) AS mean_fit,
       |  CAST(count(CASE WHEN fit_q < 500000 THEN 1 END) AS DOUBLE) / count(*) AS p_low
       |FROM seg GROUP BY segment ORDER BY segment""".stripMargin

  /** d23: per-cluster in-cluster pair sims (micro-quantized), summed per
    * member, argmax with the (score desc, id asc) tie-break. */
  private val d23Oracle: String =
    s"""$kmeansAssignCtes,
       |pr AS (
       |  SELECT a.c_id, a.vec_id AS a_id,
       |    CAST(round((CASE WHEN a.nn = 0 OR b.nn = 0 THEN 0.0
       |      ELSE list_dot_product(a.q::DOUBLE[], b.q::DOUBLE[]) / (sqrt(a.nn) * sqrt(b.nn)) END)
       |      * 1000000) AS BIGINT) AS s
       |  FROM corpus_a a JOIN corpus_a b
       |    ON a.c_id = b.c_id AND a.vec_id <> b.vec_id),
       |sc AS (SELECT c_id, a_id, CAST(sum(s) AS BIGINT) AS sum_sim_q FROM pr GROUP BY 1, 2),
       |fl AS (SELECT ca.c_id, ca.vec_id,
       |         coalesce(sc.sum_sim_q, CAST(0 AS BIGINT)) AS sum_sim_q
       |       FROM corpus_a ca LEFT JOIN sc ON sc.c_id = ca.c_id AND sc.a_id = ca.vec_id),
       |sz AS (SELECT c_id, CAST(count(*) AS BIGINT) AS cluster_size FROM corpus_a GROUP BY c_id),
       |r AS (SELECT c_id, vec_id, sum_sim_q,
       |        row_number() OVER (PARTITION BY c_id
       |          ORDER BY sum_sim_q DESC, vec_id ASC) AS rk FROM fl)
       |SELECT r.c_id, r.vec_id AS medoid_id, sz.cluster_size, r.sum_sim_q
       |FROM r JOIN sz USING (c_id) WHERE rk = 1 ORDER BY r.c_id""".stripMargin

  private val a05Oracle: String =
    s"""$kmeansAssignCtes,
       |drops AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM corpus_a a JOIN corpus_a b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
       |  WHERE CASE WHEN a.nn = 0 OR b.nn = 0 THEN 0.0
       |        ELSE list_dot_product(a.q::DOUBLE[], b.q::DOUBLE[]) / (sqrt(a.nn) * sqrt(b.nn)) END >= 0.4)
       |SELECT vec_id, c_id FROM corpus_a
       |WHERE vec_id NOT IN (SELECT vec_id FROM drops)
       |ORDER BY vec_id""".stripMargin

  /** DuckDB replica of PQ-ADC: per-subspace the SAME unrolled Lloyd the
    * IVF oracle uses, but over the sliced vector; encode = final
    * assignment, score = the 4-term LUT sum over exact integer subvector
    * dot products (integer-exact in doubles), norms from the stored full
    * vectors — matching [[graft.ops.Similarity.pqTopK]] bit-for-bit. */
  /** One PQ subspace's oracle CTEs (prefix `p$j`): the sliced frame, the
    * unrolled deterministic Lloyd, the final encode assignment, and the
    * per-query ADC lookup table — shared by a06 (flat PQ) and a07
    * (IVF-PQ). */
  private def pqSubCtes(j: Int): String = {
      val sub = 16; val ksub = 8
      val lo = j * sub + 1; val hi = (j + 1) * sub
      val p = s"p$j"
      def lloydIter(i: Int) =
        s"""${p}a$i AS (
           |  SELECT vec_id, q, c_id FROM (
           |    SELECT sb.vec_id, sb.q, c.c_id,
           |      row_number() OVER (PARTITION BY sb.vec_id ORDER BY
           |        CASE WHEN sb.nn = 0 OR c.c_nn = 0 THEN 0.0
           |             ELSE list_dot_product(sb.q::DOUBLE[], c.c_q::DOUBLE[]) / (sqrt(sb.nn) * sqrt(c.c_nn)) END DESC,
           |        c.c_id ASC) AS crk
           |    FROM ${p}n sb CROSS JOIN ${p}cent${i - 1} c)
           |  WHERE crk = 1),
           |${p}s$i AS (
           |  SELECT c_id, d, sum(v) AS s, count(*) AS cnt FROM (
           |    SELECT c_id, unnest(q) AS v, unnest(range(len(q))) AS d FROM ${p}a$i)
           |  GROUP BY 1, 2),
           |${p}v$i AS (SELECT c_id,
           |          list(CAST((s - ((s % cnt) + cnt) % cnt) / cnt AS BIGINT) ORDER BY d) AS c_q
           |        FROM ${p}s$i GROUP BY c_id),
           |${p}cent$i AS (
           |  SELECT pp.c_id, coalesce(v.c_q, pp.c_q) AS c_q,
           |    list_dot_product(coalesce(v.c_q, pp.c_q)::DOUBLE[], coalesce(v.c_q, pp.c_q)::DOUBLE[]) AS c_nn
           |  FROM ${p}cent${i - 1} pp LEFT JOIN ${p}v$i v USING (c_id))""".stripMargin
      s"""${p}n AS (SELECT vec_id, q[$lo:$hi] AS q,
         |          list_dot_product(q[$lo:$hi]::DOUBLE[], q[$lo:$hi]::DOUBLE[]) AS nn FROM n),
         |${p}seeds AS (
         |  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS c_id, q
         |  FROM (SELECT vec_id, q, ${PipelineQueries.h60sql("CAST(vec_id AS VARCHAR)")} AS h FROM ${p}n)
         |  ORDER BY h, vec_id LIMIT $ksub),
         |${p}cent0 AS (SELECT c_id, q AS c_q, list_dot_product(q::DOUBLE[], q::DOUBLE[]) AS c_nn FROM ${p}seeds),
         |${lloydIter(1)},
         |${lloydIter(2)},
         |${p}enc AS (
         |  SELECT vec_id, c_id FROM (
         |    SELECT sb.vec_id, c.c_id,
         |      row_number() OVER (PARTITION BY sb.vec_id ORDER BY
         |        CASE WHEN sb.nn = 0 OR c.c_nn = 0 THEN 0.0
         |             ELSE list_dot_product(sb.q::DOUBLE[], c.c_q::DOUBLE[]) / (sqrt(sb.nn) * sqrt(c.c_nn)) END DESC,
         |        c.c_id ASC) AS crk
         |    FROM ${p}n sb CROSS JOIN ${p}cent2 c)
         |  WHERE crk = 1),
         |${p}lut AS (
         |  SELECT qr.vec_id AS q_id, c.c_id,
         |    list_dot_product(qr.q::DOUBLE[], c.c_q::DOUBLE[]) AS pdot
         |  FROM ${p}n qr CROSS JOIN ${p}cent2 c WHERE qr.vec_id < 5)""".stripMargin
  }

  private val a06Oracle: String = {
    val m = 4; val k = 5
    s"""WITH ${PipelineQueries.quantCte},
       |${(0 until m).map(pqSubCtes).mkString(",\n")},
       |scored AS (
       |  SELECT l0.q_id, e0.vec_id AS n_id,
       |    CASE WHEN cn.nn = 0 OR qn.nn = 0 THEN 0.0
       |         ELSE (l0.pdot + l1.pdot + l2.pdot + l3.pdot) / (sqrt(cn.nn) * sqrt(qn.nn)) END AS sim
       |  FROM p0enc e0
       |    JOIN p1enc e1 USING (vec_id) JOIN p2enc e2 USING (vec_id) JOIN p3enc e3 USING (vec_id)
       |    JOIN n cn ON cn.vec_id = e0.vec_id
       |    JOIN p0lut l0 ON l0.c_id = e0.c_id
       |    JOIN p1lut l1 ON l1.c_id = e1.c_id AND l1.q_id = l0.q_id
       |    JOIN p2lut l2 ON l2.c_id = e2.c_id AND l2.q_id = l0.q_id
       |    JOIN p3lut l3 ON l3.c_id = e3.c_id AND l3.q_id = l0.q_id
       |    JOIN n qn ON qn.vec_id = l0.q_id
       |  WHERE e0.vec_id <> l0.q_id)
       |SELECT q_id, n_id, sim, rk FROM (
       |  SELECT q_id, n_id, sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
       |  FROM scored)
       |WHERE rk <= $k ORDER BY q_id, rk""".stripMargin
  }

  /** Full IVF-PQ: the coarse quantizer's probe lists (a03's CTEs) confine
    * the candidate set; the PQ subspace CTEs (a06's) supply codes and ADC
    * lookup tables for scoring inside them. */
  /** Shared IVF-PQ scoring CTE block, ending in `ascored` = the raw
    * ADC-approximate (q_id, n_id, sim) rows inside the probed lists —
    * a07/a13 rank it at k; a17 takes its top-m as refinement candidates. */
  private val ivfPqScoredCtes: String = {
    val m = 4
    s"""$kmeansAssignCtes,
       |${(0 until m).map(pqSubCtes).mkString(",\n")},
       |probes AS (SELECT vec_id AS q_id, c_id FROM assign
       |           WHERE crk <= 2 AND vec_id < 5),
       |ascored AS (
       |  SELECT p.q_id, ca.vec_id AS n_id,
       |    CASE WHEN cn.nn = 0 OR qn.nn = 0 THEN 0.0
       |         ELSE (l0.pdot + l1.pdot + l2.pdot + l3.pdot) / (sqrt(cn.nn) * sqrt(qn.nn)) END AS sim
       |  FROM corpus_a ca
       |    JOIN probes p ON ca.c_id = p.c_id AND ca.vec_id <> p.q_id
       |    JOIN p0enc e0 ON e0.vec_id = ca.vec_id
       |    JOIN p1enc e1 ON e1.vec_id = ca.vec_id
       |    JOIN p2enc e2 ON e2.vec_id = ca.vec_id
       |    JOIN p3enc e3 ON e3.vec_id = ca.vec_id
       |    JOIN n cn ON cn.vec_id = ca.vec_id
       |    JOIN n qn ON qn.vec_id = p.q_id
       |    JOIN p0lut l0 ON l0.c_id = e0.c_id AND l0.q_id = p.q_id
       |    JOIN p1lut l1 ON l1.c_id = e1.c_id AND l1.q_id = p.q_id
       |    JOIN p2lut l2 ON l2.c_id = e2.c_id AND l2.q_id = p.q_id
       |    JOIN p3lut l3 ON l3.c_id = e3.c_id AND l3.q_id = p.q_id)"""
      .stripMargin
  }

  /** One RESIDUAL-PQ subspace's oracle CTEs (prefix `r$j`): the sliced
    * RESIDUAL frame trains and encodes; the LUT slices the FULL query
    * vectors against the residual-trained codewords. Same unrolled
    * deterministic Lloyd as [[pqSubCtes]]. */
  private def residSubCtes(j: Int): String = {
    val sub = 16; val ksub = 8
    val lo = j * sub + 1; val hi = (j + 1) * sub
    val p = s"r$j"
    def lloydIter(i: Int) =
      s"""${p}a$i AS (
         |  SELECT vec_id, q, c_id FROM (
         |    SELECT sb.vec_id, sb.q, c.c_id,
         |      row_number() OVER (PARTITION BY sb.vec_id ORDER BY
         |        CASE WHEN sb.nn = 0 OR c.c_nn = 0 THEN 0.0
         |             ELSE list_dot_product(sb.q::DOUBLE[], c.c_q::DOUBLE[]) / (sqrt(sb.nn) * sqrt(c.c_nn)) END DESC,
         |        c.c_id ASC) AS crk
         |    FROM ${p}n sb CROSS JOIN ${p}cent${i - 1} c)
         |  WHERE crk = 1),
         |${p}s$i AS (
         |  SELECT c_id, d, sum(v) AS s, count(*) AS cnt FROM (
         |    SELECT c_id, unnest(q) AS v, unnest(range(len(q))) AS d FROM ${p}a$i)
         |  GROUP BY 1, 2),
         |${p}v$i AS (SELECT c_id,
         |          list(CAST((s - ((s % cnt) + cnt) % cnt) / cnt AS BIGINT) ORDER BY d) AS c_q
         |        FROM ${p}s$i GROUP BY c_id),
         |${p}cent$i AS (
         |  SELECT pp.c_id, coalesce(v.c_q, pp.c_q) AS c_q,
         |    list_dot_product(coalesce(v.c_q, pp.c_q)::DOUBLE[], coalesce(v.c_q, pp.c_q)::DOUBLE[]) AS c_nn
         |  FROM ${p}cent${i - 1} pp LEFT JOIN ${p}v$i v USING (c_id))""".stripMargin
    s"""${p}n AS (SELECT vec_id, q[$lo:$hi] AS q,
       |          list_dot_product(q[$lo:$hi]::DOUBLE[], q[$lo:$hi]::DOUBLE[]) AS nn FROM rn),
       |${p}seeds AS (
       |  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS c_id, q
       |  FROM (SELECT vec_id, q, ${PipelineQueries.h60sql("CAST(vec_id AS VARCHAR)")} AS h FROM ${p}n)
       |  ORDER BY h, vec_id LIMIT $ksub),
       |${p}cent0 AS (SELECT c_id, q AS c_q, list_dot_product(q::DOUBLE[], q::DOUBLE[]) AS c_nn FROM ${p}seeds),
       |${lloydIter(1)},
       |${lloydIter(2)},
       |${p}enc AS (
       |  SELECT vec_id, c_id FROM (
       |    SELECT sb.vec_id, c.c_id,
       |      row_number() OVER (PARTITION BY sb.vec_id ORDER BY
       |        CASE WHEN sb.nn = 0 OR c.c_nn = 0 THEN 0.0
       |             ELSE list_dot_product(sb.q::DOUBLE[], c.c_q::DOUBLE[]) / (sqrt(sb.nn) * sqrt(c.c_nn)) END DESC,
       |        c.c_id ASC) AS crk
       |    FROM ${p}n sb CROSS JOIN ${p}cent2 c)
       |  WHERE crk = 1),
       |${p}lut AS (
       |  SELECT qr.vec_id AS q_id, c.c_id,
       |    list_dot_product(qr.q[$lo:$hi]::DOUBLE[], c.c_q::DOUBLE[]) AS pdot
       |  FROM n qr CROSS JOIN ${p}cent2 c WHERE qr.vec_id < 5)""".stripMargin
  }

  /** a21: coarse CTEs (codebook + hard assignment) → residual frame →
    * per-subspace residual Lloyd/encode/LUT → composed ADC score with
    * the per-(query, centroid) coarse dot. */
  private val a21Oracle: String = {
    val m = 4; val k = 5
    s"""$kmeansAssignCtes,
       |rn AS (
       |  SELECT a.vec_id,
       |    list_transform(generate_series(1, 64), i -> a.q[i] - c.c_q[i]) AS q,
       |    a.nn AS onn, a.c_id
       |  FROM corpus_a a JOIN c USING (c_id)),
       |${(0 until m).map(residSubCtes).mkString(",\n")},
       |probes AS (SELECT vec_id AS q_id, q AS q_q, nn AS q_nn, c_id
       |           FROM assign WHERE crk <= 2 AND vec_id < 5),
       |qc AS (SELECT p.q_id, p.c_id,
       |         list_dot_product(p.q_q::DOUBLE[], c.c_q::DOUBLE[]) AS qc_dot
       |       FROM probes p JOIN c USING (c_id)),
       |ascored AS (
       |  SELECT p.q_id, ca.vec_id AS n_id,
       |    CASE WHEN ca.nn = 0 OR qn.nn = 0 THEN 0.0
       |         ELSE (qc.qc_dot + l0.pdot + l1.pdot + l2.pdot + l3.pdot) / (sqrt(ca.nn) * sqrt(qn.nn)) END AS sim
       |  FROM corpus_a ca
       |    JOIN probes p ON ca.c_id = p.c_id AND ca.vec_id <> p.q_id
       |    JOIN qc ON qc.q_id = p.q_id AND qc.c_id = p.c_id
       |    JOIN r0enc e0 ON e0.vec_id = ca.vec_id
       |    JOIN r1enc e1 ON e1.vec_id = ca.vec_id
       |    JOIN r2enc e2 ON e2.vec_id = ca.vec_id
       |    JOIN r3enc e3 ON e3.vec_id = ca.vec_id
       |    JOIN n qn ON qn.vec_id = p.q_id
       |    JOIN r0lut l0 ON l0.c_id = e0.c_id AND l0.q_id = p.q_id
       |    JOIN r1lut l1 ON l1.c_id = e1.c_id AND l1.q_id = p.q_id
       |    JOIN r2lut l2 ON l2.c_id = e2.c_id AND l2.q_id = p.q_id
       |    JOIN r3lut l3 ON l3.c_id = e3.c_id AND l3.q_id = p.q_id)
       |SELECT q_id, n_id, sim, rk FROM (
       |  SELECT q_id, n_id, sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
       |  FROM ascored)
       |WHERE rk <= $k ORDER BY q_id, rk""".stripMargin
  }

  /** t25's smoothed-share PSI over the even/odd length-profile split —
    * ln on the 1e-6 grid (the t10 quantization convention). Shared with
    * s29: additive per-bin counts make the drained histogram equal the
    * batch histogram, and the formula runs once on the totals. */
  /** t27 ≡ s30: probe grams vs the corpus gram universe, both as md5-60
    * hash sets (the shingle convention), hit share on the 1e-6 grid. */
  private val t27OracleSql: String = {
    val gram = (0 until 5).map(j => if (j == 0) "tk[i]" else s"tk[i+$j]")
      .mkString(" || ' ' || ")
    val h = PipelineQueries.h60sql("g")
    s"""WITH bench AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 34 = 0 THEN text ELSE translate(text, 'e', '3') END AS text
       |  FROM documents WHERE doc_id % 17 = 0),
       |bt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
       |       FROM bench WHERE length(trim(text)) > 0),
       |bg AS (
       |  SELECT DISTINCT doc_id, $h AS gh FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      generate_series(1, len(tk) - 4), i -> $gram)) AS g
       |    FROM bt WHERE len(tk) >= 5)),
       |ct AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
       |       FROM documents WHERE length(trim(text)) > 0),
       |cg AS (
       |  SELECT DISTINCT $h AS gh FROM (
       |    SELECT unnest(list_transform(
       |      generate_series(1, len(tk) - 4), i -> $gram)) AS g
       |    FROM ct WHERE len(tk) >= 5))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(count(cg.gh) AS BIGINT) AS n_hit,
       |  CAST(round(count(cg.gh) * 1000000.0 / count(*)) AS BIGINT) AS cov_q
       |FROM bg LEFT JOIN cg USING (gh)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private val t25OracleSql: String =
    """WITH d AS (SELECT doc_id, text FROM documents),
      |refs AS (SELECT least(length(text) // 100, 7) AS bin FROM d WHERE doc_id % 2 = 0),
      |curs AS (SELECT least(length(concat(text, ' ', text)) // 100, 7) AS bin
      |         FROM d WHERE doc_id % 2 = 1),
      |rc AS (SELECT bin, count(*) AS n_ref FROM refs GROUP BY bin),
      |cc AS (SELECT bin, count(*) AS n_cur FROM curs GROUP BY bin),
      |j AS (
      |  SELECT coalesce(rc.bin, cc.bin) AS bin,
      |    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
      |  FROM rc FULL JOIN cc ON rc.bin = cc.bin),
      |t AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur, count(*) AS b FROM j)
      |SELECT CAST(bin AS BIGINT) AS bin, CAST(n_ref AS BIGINT) AS n_ref,
      |  CAST(n_cur AS BIGINT) AS n_cur,
      |  CAST(round((((n_cur + 1) / CAST(t_cur + b AS DOUBLE)) - ((n_ref + 1) / CAST(t_ref + b AS DOUBLE)))
      |    * ln(((n_cur + 1) / CAST(t_cur + b AS DOUBLE)) / ((n_ref + 1) / CAST(t_ref + b AS DOUBLE)))
      |    * 1000000) AS BIGINT) AS psi_q
      |FROM j CROSS JOIN t ORDER BY bin""".stripMargin

  private val a07Oracle: String = {
    val k = 5
    s"""$ivfPqScoredCtes
       |SELECT q_id, n_id, sim, rk FROM (
       |  SELECT q_id, n_id, sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
       |  FROM ascored)
       |WHERE rk <= $k ORDER BY q_id, rk""".stripMargin
  }

  /** a17: IVF-PQR — ascored's top-m as candidates, exact cosine re-rank
    * over the raw quantized vectors to k (the a16 stage-2 shape). */
  private val a17Oracle: String = {
    val (k, mm) = (5, 20)
    s"""$ivfPqScoredCtes,
       |cand AS (SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
       |    FROM ascored) WHERE rk <= $mm)
       |SELECT q_id, n_id, sim, rk FROM (
       |  SELECT cand.q_id, cand.n_id,
       |    CASE WHEN c.nn = 0 OR qr.nn = 0 THEN 0.0
       |         ELSE list_dot_product(c.q::DOUBLE[], qr.q::DOUBLE[]) / (sqrt(c.nn) * sqrt(qr.nn)) END AS sim,
       |    row_number() OVER (PARTITION BY cand.q_id
       |      ORDER BY CASE WHEN c.nn = 0 OR qr.nn = 0 THEN 0.0
       |        ELSE list_dot_product(c.q::DOUBLE[], qr.q::DOUBLE[]) / (sqrt(c.nn) * sqrt(qr.nn)) END DESC,
       |        cand.n_id ASC) AS rk
       |  FROM cand
       |  JOIN n c ON c.vec_id = cand.n_id
       |  JOIN n qr ON qr.vec_id = cand.q_id)
       |WHERE rk <= $k ORDER BY q_id, rk""".stripMargin
  }

  /** SQ8: per-dimension [min, max] range over the quantized corpus, 8-bit
    * affine encode, scaled-integer dequantization (y·255 = mn·255 +
    * code·span — exact), asymmetric cosine with the ×255 scale cancelling
    * between the dot and the stored dequantized norm. The shared CTE
    * block ends in `sq8r` = the full approximate ranking — a08 cuts it at
    * its k, a16 uses the top-m slice as stage-1 candidates. */
  private val sq8RankedCtes: String =
    s"""WITH ${PipelineQueries.quantCte},
       |mm AS (
       |  SELECT d, min(x) AS mn, max(x) AS mx FROM (
       |    SELECT unnest(q) AS x, unnest(generate_series(1, len(q))) AS d FROM n)
       |  GROUP BY d),
       |mml AS (SELECT list(mn ORDER BY d) AS mns,
       |               list(mx - mn ORDER BY d) AS sps FROM mm),
       |enc AS (
       |  SELECT vec_id,
       |    list_transform(generate_series(1, len(q)),
       |      i -> CASE WHEN sps[i] = 0 THEN mns[i] * 255
       |           ELSE mns[i] * 255 +
       |             CAST(round(((q[i] - mns[i]) * 255)::DOUBLE / sps[i]) AS BIGINT) * sps[i]
       |           END) AS y
       |  FROM n CROSS JOIN mml),
       |ey AS (SELECT vec_id, y, list_dot_product(y::DOUBLE[], y::DOUBLE[]) AS ny FROM enc),
       |sq8r AS (
       |  SELECT qr.vec_id AS q_id, c.vec_id AS n_id,
       |    CASE WHEN c.ny = 0 OR qr.nn = 0 THEN 0.0
       |         ELSE list_dot_product(c.y::DOUBLE[], qr.q::DOUBLE[]) / (sqrt(c.ny) * sqrt(qr.nn)) END AS sim,
       |    row_number() OVER (PARTITION BY qr.vec_id
       |      ORDER BY CASE WHEN c.ny = 0 OR qr.nn = 0 THEN 0.0
       |        ELSE list_dot_product(c.y::DOUBLE[], qr.q::DOUBLE[]) / (sqrt(c.ny) * sqrt(qr.nn)) END DESC,
       |        c.vec_id ASC) AS rk
       |  FROM ey c CROSS JOIN (SELECT * FROM n WHERE vec_id < 5) qr
       |  WHERE c.vec_id <> qr.vec_id)""".stripMargin

  private val a08Oracle: String =
    s"""$sq8RankedCtes
       |SELECT q_id, n_id, sim, rk FROM sq8r
       |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** a16: stage 1 = sq8r's top-m as candidates, stage 2 = exact cosine
    * over the raw quantized vectors, re-ranked to k. */
  private val a16Oracle: String = {
    val (k, m) = (5, 20)
    s"""$sq8RankedCtes,
       |cand AS (SELECT q_id, n_id FROM sq8r WHERE rk <= $m)
       |SELECT q_id, n_id, sim, rk FROM (
       |  SELECT cand.q_id, cand.n_id,
       |    CASE WHEN c.nn = 0 OR qr.nn = 0 THEN 0.0
       |         ELSE list_dot_product(c.q::DOUBLE[], qr.q::DOUBLE[]) / (sqrt(c.nn) * sqrt(qr.nn)) END AS sim,
       |    row_number() OVER (PARTITION BY cand.q_id
       |      ORDER BY CASE WHEN c.nn = 0 OR qr.nn = 0 THEN 0.0
       |        ELSE list_dot_product(c.q::DOUBLE[], qr.q::DOUBLE[]) / (sqrt(c.nn) * sqrt(qr.nn)) END DESC,
       |        cand.n_id ASC) AS rk
       |  FROM cand
       |  JOIN n c ON c.vec_id = cand.n_id
       |  JOIN n qr ON qr.vec_id = cand.q_id)
       |WHERE rk <= $k ORDER BY q_id, rk""".stripMargin
  }

  /** Shared BM25 building blocks: tokenized docs (empty-text guard —
    * split of "" would mint a [''] phantom term), per-doc length, corpus
    * stats, and the quantized scoring expression. The double arithmetic
    * mirrors [[graft.ops.Search]] token-for-token (same association, same
    * int→double promotions) so both engines compute identical IEEE trees. */
  private val bm25BaseCtes: String =
    """bmd AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM documents),
      |bmdl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM bmd),
      |bmstats AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |                   CAST(sum(dl) AS BIGINT) AS t FROM bmdl)""".stripMargin

  /** score_q per (doc, query-term) given columns tf/dl/df and the stats
    * CTE columns n/t: round(idf_micro * tf_normalization). */
  private def bm25ContribSql(tf: String, dl: String, df: String): String =
    s"""CAST(round(
       |      round(ln(1.0 + (CAST(bmstats.n AS DOUBLE) - CAST($df AS DOUBLE) + 0.5)
       |                     / (CAST($df AS DOUBLE) + 0.5)) * 1e6)
       |      * (CAST($tf AS DOUBLE) * 2.2
       |         / (CAST($tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
       |            (CAST($dl AS DOUBLE) * CAST(bmstats.n AS DOUBLE) / CAST(bmstats.t AS DOUBLE)))))
       |    ) AS BIGINT)""".stripMargin

  /** a09's scoring pipeline through the per-(query, doc) score — shared
    * verbatim by s16, whose output is the un-ranked positive pair set. */
  private val a09ScoreCtes: String =
    s"""$bm25BaseCtes,
       |vocab AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM (
       |    SELECT DISTINCT doc_id, term FROM (
       |      SELECT doc_id, unnest(toks) AS term FROM bmd))
       |  GROUP BY term),
       |ranked AS (SELECT term, df,
       |    row_number() OVER (ORDER BY df DESC, term) AS r FROM vocab),
       |qt AS (SELECT CAST((r - 11) // 3 AS BIGINT) AS q_id, term, df
       |       FROM ranked WHERE r BETWEEN 11 AND 22),
       |tf AS (
       |  SELECT x.doc_id, q.q_id, q.df, x.dl,
       |    CAST(len(list_filter(x.toks, tok -> tok = q.term)) AS BIGINT) AS tf
       |  FROM bmdl x CROSS JOIN qt q),
       |contrib AS (
       |  SELECT doc_id, q_id,
       |    ${bm25ContribSql("tf.tf", "tf.dl", "tf.df")} AS c
       |  FROM tf, bmstats WHERE tf.tf > 0),
       |score AS (SELECT q_id, doc_id, CAST(sum(c) AS BIGINT) AS score_q
       |          FROM contrib GROUP BY q_id, doc_id HAVING sum(c) > 0)""".stripMargin

  private val a09Oracle: String =
    s"""WITH $a09ScoreCtes
       |SELECT q_id, doc_id, score_q, rk FROM (
       |  SELECT q_id, doc_id, score_q,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY score_q DESC, doc_id) AS rk
       |  FROM score)
       |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** Query-by-document lexical retrieval CTEs (through the `lex` top-10
    * rank list) + the quantized-embedding CTEs — shared by a10 (RRF
    * fusion) and p27 (hard-negative mining). */
  private val queryByDocLexCtes: String =
    s"""$bm25BaseCtes,
       |${PipelineQueries.quantCte},
       |qprof AS (
       |  SELECT doc_id AS q_id, u.term AS term, min(u.pos) AS mp FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
       |      i -> {'pos': i, 'term': toks[i]})) AS u
       |    FROM bmdl WHERE doc_id < 5)
       |  GROUP BY doc_id, u.term),
       |qterm AS (SELECT q_id, term FROM (
       |    SELECT q_id, term, row_number() OVER (PARTITION BY q_id ORDER BY mp) AS pr
       |    FROM qprof)
       |  WHERE pr <= 8),
       |qdf AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM (
       |    SELECT DISTINCT doc_id, term FROM (
       |      SELECT doc_id, unnest(toks) AS term FROM bmd))
       |  WHERE term IN (SELECT DISTINCT term FROM qterm)
       |  GROUP BY term),
       |tf AS (
       |  SELECT x.doc_id, q.q_id, d.df, x.dl,
       |    CAST(len(list_filter(x.toks, tok -> tok = q.term)) AS BIGINT) AS tf
       |  FROM bmdl x CROSS JOIN qterm q JOIN qdf d ON d.term = q.term
       |  WHERE x.doc_id <> q.q_id),
       |contrib AS (
       |  SELECT doc_id, q_id,
       |    ${bm25ContribSql("tf.tf", "tf.dl", "tf.df")} AS c
       |  FROM tf, bmstats WHERE tf.tf > 0),
       |lex AS (SELECT q_id, doc_id, rk FROM (
       |    SELECT q_id, doc_id,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY sum(c) DESC, doc_id) AS rk
       |    FROM contrib GROUP BY q_id, doc_id HAVING sum(c) > 0)
       |  WHERE rk <= 10)""".stripMargin

  private val a10Oracle: String =
    s"""WITH $queryByDocLexCtes,
       |vec AS (SELECT q_id, doc_id, rk FROM (
       |    SELECT qr.vec_id AS q_id, c.vec_id AS doc_id,
       |      row_number() OVER (PARTITION BY qr.vec_id
       |        ORDER BY CASE WHEN c.nn = 0 OR qr.nn = 0 THEN 0.0
       |          ELSE list_dot_product(c.q::DOUBLE[], qr.q::DOUBLE[]) / (sqrt(c.nn) * sqrt(qr.nn)) END DESC,
       |          c.vec_id ASC) AS rk
       |    FROM n c CROSS JOIN (SELECT * FROM n WHERE vec_id < 5) qr
       |    WHERE c.vec_id <> qr.vec_id)
       |  WHERE rk <= 10),
       |fused AS (
       |  SELECT coalesce(l.q_id, v.q_id) AS q_id,
       |         coalesce(l.doc_id, v.doc_id) AS doc_id,
       |    coalesce(CAST(round(1e6 / (60.0 + CAST(l.rk AS DOUBLE))) AS BIGINT), 0)
       |      + coalesce(CAST(round(1e6 / (60.0 + CAST(v.rk AS DOUBLE))) AS BIGINT), 0) AS rrf_q
       |  FROM lex l FULL OUTER JOIN vec v
       |    ON l.q_id = v.q_id AND l.doc_id = v.doc_id)
       |SELECT q_id, doc_id, rrf_q, rk FROM (
       |  SELECT q_id, doc_id, rrf_q,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY rrf_q DESC, doc_id) AS rk
       |  FROM fused)
       |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  def oracles: Map[String, String] = Map(

    "a08_ann_sq8" -> a08Oracle,
    "a16_ann_refine" -> a16Oracle,
    // binary ANN: Hamming = count of dims whose sign bits differ (the
    // packed XOR-popcount, unpacked — dodges the 1<<63 BIGINT edge), then
    // the a16 exact re-rank tail
    "a18_ann_binary" -> {
      val (k, m) = (5, 20)
      s"""WITH ${PipelineQueries.quantCte},
         |s1 AS (
         |  SELECT qr.vec_id AS q_id, c.vec_id AS n_id,
         |    len(list_filter(generate_series(1, len(c.q)),
         |      d -> (c.q[d] > 0) <> (qr.q[d] > 0))) AS ham
         |  FROM n c CROSS JOIN (SELECT * FROM n WHERE vec_id < 5) qr
         |  WHERE c.vec_id <> qr.vec_id),
         |cand AS (SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY ham ASC, n_id ASC) AS rk
         |    FROM s1) WHERE rk <= $m)
         |SELECT q_id, n_id, sim, rk FROM (
         |  SELECT cand.q_id, cand.n_id,
         |    CASE WHEN c.nn = 0 OR qr.nn = 0 THEN 0.0
         |         ELSE list_dot_product(c.q::DOUBLE[], qr.q::DOUBLE[]) / (sqrt(c.nn) * sqrt(qr.nn)) END AS sim,
         |    row_number() OVER (PARTITION BY cand.q_id
         |      ORDER BY CASE WHEN c.nn = 0 OR qr.nn = 0 THEN 0.0
         |        ELSE list_dot_product(c.q::DOUBLE[], qr.q::DOUBLE[]) / (sqrt(c.nn) * sqrt(qr.nn)) END DESC,
         |        cand.n_id ASC) AS rk
         |  FROM cand
         |  JOIN n c ON c.vec_id = cand.n_id
         |  JOIN n qr ON qr.vec_id = cand.q_id)
         |WHERE rk <= $k ORDER BY q_id, rk""".stripMargin
    },

    "a09_bm25_topk" -> a09Oracle,

    "a10_hybrid_rrf" -> a10Oracle,

    // a12: the greedy MMR trace unrolled — sel1 = top normalized
    // relevance; each later stage re-argmaxes relN − max(sim to chosen)
    // over the not-yet-chosen (integer micro-units, ties → smaller doc)
    "a12_mmr_rerank" -> {
      def selU(i: Int) =
        (1 until i).map(j => s"SELECT q_id, doc_id FROM sel$j").mkString(" UNION ALL ")
      val stages = (2 to 5).map { i =>
        s"""selu${i - 1} AS (${selU(i)}),
           |sel$i AS (SELECT q_id, doc_id, reln, mmr, CAST($i AS BIGINT) AS rk FROM (
           |    SELECT p.q_id, p.doc_id, p.reln, p.mmr,
           |      row_number() OVER (PARTITION BY p.q_id ORDER BY p.mmr DESC, p.doc_id) AS r
           |    FROM (
           |      SELECT c.q_id, c.doc_id, c.reln, c.reln - max(s.sq) AS mmr
           |      FROM rel12 c
           |      JOIN sim12 s ON s.q_id = c.q_id AND s.a_id = c.doc_id
           |      JOIN selu${i - 1} u ON u.q_id = c.q_id AND u.doc_id = s.b_id
           |      WHERE NOT EXISTS (SELECT 1 FROM selu${i - 1} v
           |                        WHERE v.q_id = c.q_id AND v.doc_id = c.doc_id)
           |      GROUP BY c.q_id, c.doc_id, c.reln) p) WHERE r = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $a09ScoreCtes,
         |${PipelineQueries.quantCte},
         |lex12 AS (SELECT q_id, doc_id, score_q FROM (
         |    SELECT q_id, doc_id, score_q,
         |      row_number() OVER (PARTITION BY q_id ORDER BY score_q DESC, doc_id) AS rk
         |    FROM score) WHERE rk <= 10),
         |cand12 AS (SELECT l.q_id, l.doc_id, l.score_q, e.q, e.nn
         |           FROM lex12 l JOIN n e ON e.vec_id = l.doc_id),
         |mx12 AS (SELECT q_id, max(score_q) AS maxs FROM cand12 GROUP BY q_id),
         |rel12 AS (SELECT c.q_id, c.doc_id,
         |    CAST(round(CAST(c.score_q AS DOUBLE) * 1e6 / CAST(m.maxs AS DOUBLE)) AS BIGINT) AS reln,
         |    c.q, c.nn
         |  FROM cand12 c JOIN mx12 m ON m.q_id = c.q_id),
         |sim12 AS (SELECT a.q_id, a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(CASE WHEN a.nn = 0 OR b.nn = 0 THEN 0
         |         ELSE round(list_dot_product(a.q::DOUBLE[], b.q::DOUBLE[])
         |                    / (sqrt(a.nn) * sqrt(b.nn)) * 1e6) END AS BIGINT) AS sq
         |  FROM rel12 a JOIN rel12 b ON a.q_id = b.q_id AND a.doc_id <> b.doc_id),
         |sel1 AS (SELECT q_id, doc_id, reln, reln AS mmr, CAST(1 AS BIGINT) AS rk FROM (
         |    SELECT q_id, doc_id, reln,
         |      row_number() OVER (PARTITION BY q_id ORDER BY reln DESC, doc_id) AS r
         |    FROM rel12) WHERE r = 1),
         |$stages
         |SELECT q_id, doc_id, reln AS reln_q, mmr AS mmr_q, rk FROM (
         |  ${(1 to 5).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")})
         |ORDER BY q_id, rk""".stripMargin
    },

    // p27: a10's lex list labeled by embedding cosine vs the probe
    "p27_hard_negatives" ->
      s"""WITH $queryByDocLexCtes,
         |cand27 AS (
         |  SELECT l.q_id, l.doc_id, CAST(l.rk AS BIGINT) AS bm25_rk,
         |    CASE WHEN c.nn = 0 OR qv.nn = 0 THEN 0.0
         |         ELSE list_dot_product(c.q::DOUBLE[], qv.q::DOUBLE[]) / (sqrt(c.nn) * sqrt(qv.nn)) END AS sim
         |  FROM lex l JOIN n c ON c.vec_id = l.doc_id JOIN n qv ON qv.vec_id = l.q_id)
         |SELECT q_id, doc_id, bm25_rk, sim,
         |  CASE WHEN sim >= 0.4 THEN 'pos' ELSE 'hardneg' END AS label
         |FROM cand27 ORDER BY q_id, bm25_rk""".stripMargin,

    // a11: IVF top-5 (a03's CTEs) left-joined onto brute top-5 (a01's),
    // recall = one small-integer division
    // a23: a11's recall computation once per probe level off the SHARED
    // k-means CTEs, summarized to the tuning curve
    "a23_recall_sweep" ->
      s"""$a23SweepCtes
         |SELECT * FROM sw23 ORDER BY n_probe""".stripMargin,

    // a24: the sweep picks the cheapest level meeting the target, then
    // the a03 serving CTEs run with that level as a scalar bound — the
    // auto-tuner closed inside one statement
    "a24_ann_autotune" ->
      s"""$a23SweepCtes,
         |chosen AS (
         |  SELECT coalesce(min(CASE WHEN recall >= 0.5 THEN n_probe END),
         |    max(n_probe)) AS lvl
         |  FROM sw23),
         |probes24 AS (SELECT vec_id AS q_id, q AS q_q, nn AS q_nn, c_id
         |             FROM assign
         |             WHERE crk <= (SELECT lvl FROM chosen) AND vec_id < 5),
         |scored24 AS (
         |  SELECT pr.q_id, a.vec_id AS n_id,
         |    CASE WHEN a.nn = 0 OR pr.q_nn = 0 THEN 0.0
         |         ELSE list_dot_product(a.q::DOUBLE[], pr.q_q::DOUBLE[]) / (sqrt(a.nn) * sqrt(pr.q_nn)) END AS sim
         |  FROM corpus_a a JOIN probes24 pr ON a.c_id = pr.c_id AND a.vec_id <> pr.q_id)
         |SELECT q_id, n_id, sim, rk, (SELECT CAST(lvl AS BIGINT) FROM chosen) AS n_probe
         |FROM (
         |  SELECT q_id, n_id, sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
         |  FROM scored24)
         |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    "a11_ann_recall" ->
      s"""$kmeansAssignCtes,
         |probes11 AS (SELECT vec_id AS q_id, q AS q_q, nn AS q_nn, c_id
         |             FROM assign WHERE crk <= 2 AND vec_id < 5),
         |scored11 AS (
         |  SELECT p.q_id, a.vec_id AS n_id,
         |    CASE WHEN a.nn = 0 OR p.q_nn = 0 THEN 0.0
         |         ELSE list_dot_product(a.q::DOUBLE[], p.q_q::DOUBLE[]) / (sqrt(a.nn) * sqrt(p.q_nn)) END AS sim
         |  FROM corpus_a a JOIN probes11 p ON a.c_id = p.c_id AND a.vec_id <> p.q_id),
         |ivf11 AS (SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
         |    FROM scored11)
         |  WHERE rk <= 5),
         |brute11 AS (SELECT q_id, n_id FROM (
         |    SELECT qr.vec_id AS q_id, c.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY qr.vec_id
         |        ORDER BY CASE WHEN c.nn = 0 OR qr.nn = 0 THEN 0.0
         |          ELSE list_dot_product(c.q::DOUBLE[], qr.q::DOUBLE[]) / (sqrt(c.nn) * sqrt(qr.nn)) END DESC,
         |          c.vec_id ASC) AS rk
         |    FROM n c CROSS JOIN (SELECT * FROM n WHERE vec_id < 5) qr
         |    WHERE c.vec_id <> qr.vec_id)
         |  WHERE rk <= 5)
         |SELECT b.q_id AS q_id,
         |  CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(count(i.n_id) AS BIGINT) AS n_hit,
         |  CAST(count(i.n_id) AS DOUBLE) / count(*) AS recall
         |FROM brute11 b LEFT JOIN ivf11 i ON b.q_id = i.q_id AND b.n_id = i.n_id
         |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin,

    // s16 = a09's scoring un-ranked: the routed pair set is exactly the
    // positive-score pairs (stateless stream ≡ batch, frozen stats)
    "s16_stream_bm25_route" ->
      s"""WITH $a09ScoreCtes
         |SELECT q_id, doc_id, score_q FROM score ORDER BY q_id, doc_id""".stripMargin,

    "q11_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q12_asof_join" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000000000 AS ts_s FROM events),
        |p AS (SELECT user_id, event_id AS p_event_id, ts_s AS p_ts
        |      FROM ev WHERE event_type = 'purchase'),
        |o AS (SELECT user_id, event_id, event_type, ts_s
        |      FROM ev WHERE event_type <> 'purchase'),
        |m AS (SELECT p.p_event_id, max(o.ts_s * 100000000 + o.event_id) AS mk
        |      FROM p JOIN o ON p.user_id = o.user_id AND o.ts_s <= p.p_ts
        |      GROUP BY 1)
        |SELECT p.p_event_id, p.user_id,
        |  o.event_type AS asof_etype, o.event_id AS asof_event_id
        |FROM p LEFT JOIN m ON p.p_event_id = m.p_event_id
        |  LEFT JOIN o ON m.mk = o.ts_s * 100000000 + o.event_id
        |    AND o.user_id = p.user_id
        |ORDER BY 1""".stripMargin,

    "q15_asof_string" ->
      """WITH ev AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS ukey, event_id, event_type,
        |    epoch_ns(ts) // 1000000000 AS ts_s FROM events),
        |p AS (SELECT ukey, event_id AS p_event_id, ts_s AS p_ts
        |      FROM ev WHERE event_type = 'purchase'),
        |o AS (SELECT ukey, event_id, event_type, ts_s
        |      FROM ev WHERE event_type <> 'purchase'),
        |m AS (SELECT p.p_event_id, max(o.ts_s * 100000000 + o.event_id) AS mk
        |      FROM p JOIN o ON p.ukey = o.ukey AND o.ts_s <= p.p_ts
        |      GROUP BY 1)
        |SELECT p.p_event_id, p.ukey,
        |  o.event_type AS asof_etype, o.event_id AS asof_event_id
        |FROM p LEFT JOIN m ON p.p_event_id = m.p_event_id
        |  LEFT JOIN o ON m.mk = o.ts_s * 100000000 + o.event_id
        |    AND o.ukey = p.ukey
        |ORDER BY 1""".stripMargin,

    "q13_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q14_range_join" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000000000 AS ts_s FROM events),
        |s AS (SELECT user_id, event_id AS s_id, ts_s FROM ev WHERE event_type = 'signup'),
        |fo AS (SELECT user_id, ts_s AS f_ts FROM ev WHERE event_type IN ('click', 'view')),
        |c AS (SELECT s_id, count(*) AS n_follow
        |      FROM s JOIN fo ON s.user_id = fo.user_id
        |        AND fo.f_ts > s.ts_s AND fo.f_ts <= s.ts_s + 3600
        |      GROUP BY 1)
        |SELECT s.s_id, s.user_id, coalesce(c.n_follow, 0) AS n_follow
        |FROM s LEFT JOIN c USING (s_id) ORDER BY s_id""".stripMargin,

    "q19_range_frame" ->
      """WITH ev AS (SELECT user_id, event_id, value,
        |    epoch_ns(ts) // 1000000000 AS ts_s FROM events)
        |SELECT user_id, event_id, ts_s,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
        |    PARTITION BY user_id ORDER BY ts_s
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE) AS w_sum
        |FROM ev ORDER BY user_id, ts_s, event_id""".stripMargin,

    // s21 = q20 incrementally: the per-user stage-first fold is
    // idempotent min, so the drained funnel equals the batch — one oracle
    "s21_stream_funnel" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN event_id END) AS f_view,
        |    min(CASE WHEN event_type = 'click' THEN event_id END) AS f_click,
        |    min(CASE WHEN event_type = 'purchase' THEN event_id END) AS f_buy
        |  FROM events GROUP BY user_id)
        |SELECT count(f_view) AS n_view,
        |  count(CASE WHEN f_view < f_click THEN 1 END) AS n_view_click,
        |  count(CASE WHEN f_view < f_click AND f_click < f_buy THEN 1 END) AS n_full_funnel
        |FROM f ORDER BY n_view""".stripMargin,

    "q20_funnel" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN event_id END) AS f_view,
        |    min(CASE WHEN event_type = 'click' THEN event_id END) AS f_click,
        |    min(CASE WHEN event_type = 'purchase' THEN event_id END) AS f_buy
        |  FROM events GROUP BY user_id)
        |SELECT count(f_view) AS n_view,
        |  count(CASE WHEN f_view < f_click THEN 1 END) AS n_view_click,
        |  count(CASE WHEN f_view < f_click AND f_click < f_buy THEN 1 END) AS n_full_funnel
        |FROM f ORDER BY n_view""".stripMargin,

    // s19 = q21 incrementally: the per-user (min-day, day-set) state fold
    // is order-free and idempotent, so the drained matrix equals the
    // batch computation exactly — one oracle, stated once
    "s19_stream_retention" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY user_id),
        |j AS (SELECT DISTINCT e.user_id, f.cohort, e.day - f.cohort AS offset_d
        |      FROM ev e JOIN f USING (user_id))
        |SELECT cohort, offset_d, count(*) AS n_users
        |FROM j GROUP BY 1, 2 ORDER BY cohort, offset_d""".stripMargin,

    // q25: the covers-explode formulation — each activity day counts
    // toward its 7 covering windows, distinct users per covered day
    "q25_rolling_active" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |cov AS (
        |  SELECT user_id, day + o AS w_day
        |  FROM ud, (SELECT unnest(generate_series(0, 6)) AS o)),
        |w AS (SELECT w_day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |      FROM cov GROUP BY w_day),
        |d AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day)
        |SELECT d.day, d.dau, w.wau
        |FROM d JOIN w ON w.w_day = d.day ORDER BY d.day""".stripMargin,

    // q27: s04's session assignment, then both lags inside the
    // (user, session) frame — the census is types³-bounded, top-10 with
    // a full deterministic tiebreak
    "q27_session_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000000000 AS ts_s FROM events),
        |x AS (SELECT *, lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev
        |      FROM e),
        |y AS (SELECT user_id, event_id, event_type, ts_s,
        |        CASE WHEN prev IS NULL OR ts_s - prev > 3600 THEN 1 ELSE 0 END AS new_sess
        |      FROM x),
        |z AS (SELECT user_id, event_id, event_type, ts_s,
        |        sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |      FROM y),
        |p AS (SELECT
        |        lag(event_type, 2) OVER (PARTITION BY user_id, sess_id ORDER BY ts_s, event_id) AS e1,
        |        lag(event_type, 1) OVER (PARTITION BY user_id, sess_id ORDER BY ts_s, event_id) AS e2,
        |        event_type AS e3
        |      FROM z)
        |SELECT e1, e2, e3, count(*) AS n FROM p WHERE e1 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY n DESC, e1, e2, e3 LIMIT 10""".stripMargin,

    // q38: q21's matrix + the first-below-half offset per cohort;
    // m38 consumed twice → materialized via the allowlist
    "q38_retention_halflife" ->
      """WITH ev38 AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |f38_ AS (SELECT user_id, min(day) AS cohort FROM ev38 GROUP BY user_id),
        |j38 AS (SELECT DISTINCT e.user_id, f.cohort, e.day - f.cohort AS offset_d
        |        FROM ev38 e JOIN f38_ f USING (user_id)),
        |m38 AS (SELECT cohort, offset_d, count(*) AS n_users
        |        FROM j38 GROUP BY 1, 2),
        |d038 AS (SELECT cohort, n_users AS n_day0 FROM m38 WHERE offset_d = 0)
        |SELECT m38.cohort AS cohort, CAST(max(n_day0) AS BIGINT) AS n_day0,
        |  CAST(COALESCE(min(CASE WHEN offset_d > 0 AND n_users * 2 < n_day0
        |    THEN offset_d END), -1) AS BIGINT) AS half_life_d
        |FROM m38 JOIN d038 USING (cohort)
        |GROUP BY m38.cohort ORDER BY cohort""".stripMargin,

    // q37: the degree census re-aggregated count-of-counts style
    "q37_degree_spectrum" ->
      """WITH ev37 AS (
        |  SELECT user_id, event_id,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item FROM events),
        |sq37 AS (
        |  SELECT item AS x,
        |    lag(item) OVER (PARTITION BY user_id ORDER BY event_id) AS y
        |  FROM ev37),
        |ed37 AS (
        |  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
        |  FROM sq37 WHERE y IS NOT NULL AND x <> y),
        |dg37 AS (SELECT v, count(*) AS degree FROM (
        |           SELECT a AS v FROM ed37 UNION ALL SELECT b FROM ed37)
        |         GROUP BY 1)
        |SELECT CAST(degree AS BIGINT) AS degree, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM dg37 GROUP BY degree ORDER BY degree""".stripMargin,

    // q36: the symmetrized deduped edge set joined twice under a<b<c;
    // ed36 consumed 4× → materialized via the allowlist
    "q36_triangles" ->
      """WITH ev36 AS (
        |  SELECT user_id, event_id,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item FROM events),
        |sq36 AS (
        |  SELECT item AS x,
        |    lag(item) OVER (PARTITION BY user_id ORDER BY event_id) AS y
        |  FROM ev36),
        |ed36 AS (
        |  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
        |  FROM sq36 WHERE y IS NOT NULL AND x <> y),
        |dg36 AS (SELECT v, count(*) AS d FROM (
        |           SELECT a AS v FROM ed36 UNION ALL SELECT b FROM ed36)
        |         GROUP BY 1),
        |wd36 AS (SELECT sum(d * (d - 1) // 2) AS wedges, count(*) AS n_nodes FROM dg36),
        |tr36 AS (
        |  SELECT count(*) AS n_triangles
        |  FROM ed36 e1
        |  JOIN ed36 e2 ON e1.b = e2.a
        |  JOIN ed36 e3 ON e1.a = e3.a AND e2.b = e3.b),
        |ne36 AS (SELECT count(*) AS n_edges FROM ed36)
        |SELECT CAST(n_triangles AS BIGINT) AS n_triangles,
        |  CAST(n_edges AS BIGINT) AS n_edges,
        |  CAST(n_nodes AS BIGINT) AS n_nodes,
        |  CAST(CASE WHEN wedges = 0 THEN 0
        |    ELSE (3 * n_triangles * 1000000) // wedges END AS BIGINT) AS gcc_ppm
        |FROM tr36 CROSS JOIN ne36 CROSS JOIN wd36""".stripMargin,

    // p43: q33's flag CTEs + q30's burst CTEs over the bot-injected
    // union, anti-joined, both matrices re-derived; chain consumed
    // widely → materialized via the allowlist
    "p43_behavior_release" ->
      """WITH base43 AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000000000 AS ts_s FROM events),
        |all43 AS (
        |  SELECT user_id, event_id, event_type, ts_s FROM base43
        |  UNION ALL
        |  SELECT user_id + 1000000, event_id, event_type, 0 AS ts_s
        |  FROM base43 WHERE user_id % 17 = 0),
        |g43 AS (
        |  SELECT user_id,
        |    ts_s - lag(ts_s) OVER (PARTITION BY user_id ORDER BY event_id) AS gap
        |  FROM all43),
        |c43 AS (SELECT user_id, gap, count(*) AS c FROM g43
        |        WHERE gap IS NOT NULL GROUP BY 1, 2),
        |bots43 AS (
        |  SELECT user_id FROM (
        |    SELECT user_id, sum(c) AS n_gaps, max(c) AS top_c
        |    FROM c43 GROUP BY 1)
        |  WHERE n_gaps >= 5 AND (top_c * 1000000) // n_gaps >= 800000),
        |bc43 AS (
        |  SELECT event_type, ts_s // 3600 AS bucket, count(*) AS n
        |  FROM all43 GROUP BY 1, 2),
        |bt43 AS (SELECT event_type, sum(n) AS total_n, count(*) AS buckets_active
        |         FROM bc43 GROUP BY 1),
        |bursts43 AS (
        |  SELECT bc43.event_type, bucket FROM bc43 JOIN bt43 USING (event_type)
        |  WHERE n >= 2 * greatest(total_n // buckets_active, 1)),
        |clean43 AS (
        |  SELECT a.user_id, a.event_id, a.event_type FROM all43 a
        |  WHERE a.user_id NOT IN (SELECT user_id FROM bots43)
        |    AND NOT EXISTS (SELECT 1 FROM bursts43 b
        |      WHERE b.event_type = a.event_type AND b.bucket = a.ts_s // 3600)),
        |mraw43 AS (
        |  SELECT from_type, to_type, count(*) AS n FROM (
        |    SELECT event_type AS to_type,
        |      lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS from_type
        |    FROM all43)
        |  WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |mclean43 AS (
        |  SELECT from_type, to_type, count(*) AS n FROM (
        |    SELECT event_type AS to_type,
        |      lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS from_type
        |    FROM clean43)
        |  WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT COALESCE(r.from_type, c.from_type) AS from_type,
        |  COALESCE(r.to_type, c.to_type) AS to_type,
        |  CAST(COALESCE(r.n, 0) AS BIGINT) AS n_raw,
        |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_clean
        |FROM mraw43 r
        |FULL OUTER JOIN mclean43 c
        |  ON r.from_type = c.from_type AND r.to_type = c.to_type
        |ORDER BY from_type, to_type""".stripMargin,

    // q35: rank users by event count (ties by user_id), ceil-percentile
    // tiers, exact ppm shares; pu35 consumed by the window chain →
    // materialized via the allowlist
    "q35_concentration" ->
      """WITH pu35 AS (
        |  SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |r35 AS (
        |  SELECT n,
        |    row_number() OVER (ORDER BY n DESC, user_id) AS rk,
        |    count(*) OVER () AS n_users,
        |    sum(n) OVER () AS total
        |  FROM pu35),
        |t35_ AS (
        |  SELECT CASE WHEN rk <= (n_users + 99) // 100 THEN 'top1'
        |              WHEN rk <= (n_users + 9) // 10 THEN 'top10'
        |              ELSE 'rest' END AS tier, n, total
        |  FROM r35)
        |SELECT tier, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST((sum(n) * 1000000) // max(total) AS BIGINT) AS share_ppm
        |FROM t35_ GROUP BY tier ORDER BY tier""".stripMargin,

    // q34: q27's sessionization, per-session sorted distinct types,
    // a<b pair unnest, lift vs independence; chain consumed by singles
    // AND pairs → materialized via the allowlist
    "q34_session_lift" ->
      """WITH e34 AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000000000 AS ts_s FROM events),
        |x34 AS (SELECT *, lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev
        |        FROM e34),
        |y34 AS (SELECT user_id, event_id, event_type, ts_s,
        |          CASE WHEN prev IS NULL OR ts_s - prev > 3600 THEN 1 ELSE 0 END AS new_sess
        |        FROM x34),
        |z34 AS (SELECT user_id, event_type,
        |          sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |        FROM y34),
        |s34_ AS (SELECT user_id, sess_id,
        |           list_sort(list_distinct(list(event_type))) AS types
        |         FROM z34 GROUP BY 1, 2),
        |tot34 AS (SELECT count(*) AS n_sess FROM s34_),
        |sg34 AS (SELECT t, count(*) AS n_t FROM (
        |           SELECT unnest(types) AS t FROM s34_) GROUP BY 1),
        |pr34 AS (
        |  SELECT u.a AS a, u.b AS b, count(*) AS n_ab FROM (
        |    SELECT unnest(flatten(list_transform(generate_series(1, len(types) - 1),
        |      i -> list_transform(generate_series(i + 1, len(types)),
        |        j -> {'a': types[i], 'b': types[j]})))) AS u
        |    FROM s34_ WHERE len(types) >= 2)
        |  GROUP BY 1, 2)
        |SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab,
        |  round(n_ab * n_sess * 1.0 / (sa.n_t * sb.n_t), 6) AS lift
        |FROM pr34
        |JOIN sg34 sa ON pr34.a = sa.t
        |JOIN sg34 sb ON pr34.b = sb.t
        |CROSS JOIN tot34
        |ORDER BY a, b""".stripMargin,

    // q33: the same gap distribution + modal-share formula over the
    // bot-injected union
    "q33_bot_census" ->
      """WITH base33 AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_s FROM events),
        |u33 AS (
        |  SELECT user_id, event_id, ts_s FROM base33
        |  UNION ALL
        |  SELECT user_id + 1000000, event_id, 0 AS ts_s
        |  FROM base33 WHERE user_id % 17 = 0),
        |g33 AS (
        |  SELECT user_id,
        |    ts_s - lag(ts_s) OVER (PARTITION BY user_id ORDER BY event_id) AS gap
        |  FROM u33),
        |c33 AS (SELECT user_id, gap, count(*) AS c FROM g33
        |        WHERE gap IS NOT NULL GROUP BY 1, 2),
        |a33 AS (
        |  SELECT user_id, sum(c) AS n_gaps, count(*) AS n_distinct_gaps,
        |    max(c) AS top_c
        |  FROM c33 GROUP BY 1)
        |SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
        |  CAST(n_distinct_gaps AS BIGINT) AS n_distinct_gaps,
        |  CAST((top_c * 1000000) // n_gaps AS BIGINT) AS top_share_ppm
        |FROM a33
        |WHERE n_gaps >= 5 AND (top_c * 1000000) // n_gaps >= 800000
        |ORDER BY user_id""".stripMargin,

    // q32: the journey-truncated transition matrix + one unrolled
    // fixed-point arm per channel (types hardcoded — the fixture's
    // event vocabulary is stable across SFs); pe32 consumed by every
    // arm's every round → materialized via the allowlist
    "q32_markov_attribution" -> {
      val channels = Seq("click", "error", "signup", "view")
      val arms = (markovArm("f32", None, 12) +: channels.zipWithIndex.map {
        case (c, i) => markovArm(s"r32_$i", Some(c), 12) }).mkString(",\n")
      val selects = channels.zipWithIndex.map { case (c, i) =>
        s"""SELECT '$c' AS channel,
           |  (SELECT p FROM f32_12 WHERE s = 'START') AS p_full_q,
           |  (SELECT p FROM r32_${i}_12 WHERE s = 'START') AS p_removed_q""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ev32 AS (SELECT user_id AS u, event_id AS o, event_type AS t FROM events),
         |cut32 AS (SELECT u, o, t,
         |    min(CASE WHEN t = 'purchase' THEN o END) OVER (PARTITION BY u) AS cut
         |  FROM ev32),
         |kept32 AS (SELECT u, o, t FROM cut32 WHERE cut IS NULL OR o <= cut),
         |lg32 AS (SELECT u, o, t,
         |    lag(t) OVER (PARTITION BY u ORDER BY o) AS prev,
         |    row_number() OVER (PARTITION BY u ORDER BY o) AS rn,
         |    max(o) OVER (PARTITION BY u) AS mo
         |  FROM kept32),
         |eg32 AS (
         |  SELECT src, dst, count(*) AS n FROM (
         |    SELECT CASE WHEN rn = 1 THEN 'START' ELSE prev END AS src, t AS dst FROM lg32
         |    UNION ALL
         |    SELECT t AS src, 'NULL' AS dst FROM lg32 WHERE o = mo AND t <> 'purchase')
         |  GROUP BY 1, 2),
         |outc32 AS (SELECT src, sum(n) AS ob FROM eg32 GROUP BY 1),
         |pe32 AS (SELECT e.src, e.dst, (e.n * 1000000) // o.ob AS pr
         |         FROM eg32 e JOIN outc32 o ON e.src = o.src),
         |$arms
         |SELECT channel, CAST(p_full_q AS BIGINT) AS p_full_q,
         |  CAST(p_removed_q AS BIGINT) AS p_removed_q,
         |  CAST(CASE WHEN p_full_q = 0 THEN 0
         |    ELSE ((p_full_q - p_removed_q) * 1000000) // p_full_q END AS BIGINT) AS removal_q
         |FROM ($selects)
         |ORDER BY channel""".stripMargin
    },

    // q31: q27's sessionization + per-session sorted distinct items,
    // a<b pair unnest, symmetric counts, rank-5 per item; z31 consumed
    // once per layer but the chain is deep → materialized via allowlist
    "q31_covisitation" ->
      """WITH e31 AS (SELECT user_id, event_id,
        |    epoch_ns(ts) // 1000000000 AS ts_s,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item FROM events),
        |x31 AS (SELECT *, lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev
        |        FROM e31),
        |y31 AS (SELECT user_id, event_id, item, ts_s,
        |          CASE WHEN prev IS NULL OR ts_s - prev > 3600 THEN 1 ELSE 0 END AS new_sess
        |        FROM x31),
        |z31 AS (SELECT user_id, item,
        |          sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |        FROM y31),
        |s31_ AS (SELECT user_id, sess_id,
        |           list_sort(list_distinct(list(item))) AS items
        |         FROM z31 WHERE item IS NOT NULL GROUP BY 1, 2),
        |f31 AS (SELECT items FROM s31_ WHERE len(items) BETWEEN 2 AND 20),
        |p31_ AS (
        |  SELECT u.a AS a, u.b AS b FROM (
        |    SELECT unnest(flatten(list_transform(generate_series(1, len(items) - 1),
        |      i -> list_transform(generate_series(i + 1, len(items)),
        |        j -> {'a': items[i], 'b': items[j]})))) AS u
        |    FROM f31)),
        |c31 AS (SELECT a, b, count(*) AS n FROM p31_ GROUP BY 1, 2),
        |sym31 AS (SELECT a AS item, b AS nb, n FROM c31
        |          UNION ALL SELECT b, a, n FROM c31),
        |r31 AS (SELECT item, nb, n,
        |          row_number() OVER (PARTITION BY item ORDER BY n DESC, nb ASC) AS rk
        |        FROM sym31)
        |SELECT item, nb, CAST(n AS BIGINT) AS co_n, rk
        |FROM r31 WHERE rk <= 5 ORDER BY item, rk""".stripMargin,

    // q26: ten unrolled fixed-point iterations — every CTE is consumed
    // twice (in-sum join + dangling scalar), so this oracle is on the
    // matOracles MATERIALIZED allowlist (inlining would re-execute the
    // whole chain 2^10 times); all-integer arithmetic mirrors the engine
    // `div`-for-`//` exactly, so the hash match is exact
    "q26_item_rank" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item FROM events),
         |sq AS (
         |  SELECT item AS dst,
         |    lag(item) OVER (PARTITION BY user_id ORDER BY event_id) AS src FROM ev),
         |eg AS (
         |  SELECT src, dst, count(*) AS w FROM sq WHERE src IS NOT NULL GROUP BY 1, 2),
         |nodes AS (SELECT DISTINCT item FROM ev),
         |${pageRankCtes("eg")}
         |SELECT item, CAST(r AS BIGINT) AS pr_q FROM r10 ORDER BY pr_q DESC, item""".stripMargin,

    // q28: the q26 graph CTEs + a seeds CTE feeding the personalized
    // iteration builder
    "q28_trust_rank" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item FROM events),
         |sq AS (
         |  SELECT item AS dst,
         |    lag(item) OVER (PARTITION BY user_id ORDER BY event_id) AS src FROM ev),
         |eg AS (
         |  SELECT src, dst, count(*) AS w FROM sq WHERE src IS NOT NULL GROUP BY 1, 2),
         |nodes AS (SELECT DISTINCT item FROM ev),
         |seeds AS (SELECT item FROM nodes WHERE item < 10),
         |${personalizedPageRankCtes("eg")}
         |SELECT item, CAST(r AS BIGINT) AS pr_q FROM r10 ORDER BY pr_q DESC, item""".stripMargin,

    // q30: the (type, hour) census, floor-mean per type, spike filter —
    // census CTE consumed twice → materialized via the allowlist
    "q30_burst_census" -> q30OracleSql,

    // s34 = q30 incrementally: the census fold is additive over disjoint
    // triggers and the formula runs once on the drained totals — q30's
    // oracle, stated once
    "s34_stream_burst" -> q30OracleSql,

    // q29: the q26 graph CTEs + the alternating SALSA iteration; the
    // final full join surfaces pure hubs (auth 0) and pure authorities
    "q29_salsa" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item FROM events),
         |sq AS (
         |  SELECT item AS dst,
         |    lag(item) OVER (PARTITION BY user_id ORDER BY event_id) AS src FROM ev),
         |eg AS (
         |  SELECT src, dst, count(*) AS w FROM sq WHERE src IS NOT NULL GROUP BY 1, 2),
         |${salsaCtes("eg")}
         |SELECT COALESCE(a.item, h.item) AS item,
         |  CAST(COALESCE(a.r, 0) AS BIGINT) AS auth_q,
         |  CAST(COALESCE(h.r, 0) AS BIGINT) AS hub_q
         |FROM a5 a FULL OUTER JOIN h5 h ON a.item = h.item
         |ORDER BY auth_q DESC, item""".stripMargin,

    // t30: the same fixed-point iteration CTEs over the word
    // co-occurrence graph, joined back to terms for the top-20
    "t30_textrank_terms" -> {
      val h = PipelineQueries.h60sql _
      s"""WITH tok AS (
         |  SELECT regexp_split_to_array(trim(text), '\\s+') AS tk
         |  FROM documents WHERE length(trim(text)) > 0),
         |wc AS (
         |  SELECT w, count(*) AS n FROM (SELECT unnest(tk) AS w FROM tok) GROUP BY 1),
         |kept AS (SELECT w FROM wc WHERE n >= 3),
         |pairs0 AS (
         |  SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
         |    i -> {'a': tk[i], 'b': tk[i + 1]})) AS u
         |  FROM tok WHERE len(tk) >= 2),
         |pairs AS (
         |  SELECT u.a AS a, u.b AS b FROM pairs0
         |  WHERE u.a <> u.b AND u.a IN (SELECT w FROM kept)
         |    AND u.b IN (SELECT w FROM kept)),
         |eg0 AS (
         |  SELECT sw, dw, count(*) AS w FROM (
         |    SELECT a AS sw, b AS dw FROM pairs
         |    UNION ALL SELECT b AS sw, a AS dw FROM pairs)
         |  GROUP BY 1, 2),
         |egh AS (SELECT ${h("sw")} AS src, ${h("dw")} AS dst, w FROM eg0),
         |nodes AS (SELECT ${h("w")} AS item FROM kept),
         |${pageRankCtes("egh")}
         |SELECT kk.w AS term, CAST(r AS BIGINT) AS pr_q
         |FROM r10 JOIN (SELECT w, ${h("w")} AS item FROM kept) kk USING (item)
         |ORDER BY pr_q DESC, term LIMIT 20""".stripMargin
    },

    // q24: the running last non-purchase touch via the same frame spec
    "q24_last_touch" ->
      """WITH t AS (
        |  SELECT user_id, event_id, event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events)
        |SELECT touch, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM t WHERE event_type = 'purchase' AND touch IS NOT NULL
        |GROUP BY touch ORDER BY touch""".stripMargin,

    // q23: the same three chained stage-firsts, each bounded by the
    // previous stage's timestamp + window
    "q23_funnel_windowed" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_s, event_type FROM events),
        |v AS (SELECT user_id, min(ts_s) AS t_v FROM ev
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts_s) AS t_c
        |      FROM ev e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click'
        |        AND e.ts_s >= v.t_v AND e.ts_s <= v.t_v + 3600
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts_s) AS t_p
        |      FROM ev e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase'
        |        AND e.ts_s >= c.t_c AND e.ts_s <= c.t_c + 3600
        |      GROUP BY e.user_id)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
        |       (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click_within,
        |       (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase_within""".stripMargin,

    "q21_retention" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY user_id),
        |j AS (SELECT DISTINCT e.user_id, f.cohort, e.day - f.cohort AS offset_d
        |      FROM ev e JOIN f USING (user_id))
        |SELECT cohort, offset_d, count(*) AS n_users
        |FROM j GROUP BY 1, 2 ORDER BY cohort, offset_d""".stripMargin,

    // s20 = q22 incrementally: per-user chains count identically however
    // the stream chunks them (boundary edges from the lasts state), so
    // the drained matrix equals the batch computation — one oracle
    "s20_stream_transitions" ->
      """WITH s AS (
        |  SELECT user_id, event_type AS to_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS from_type
        |  FROM events)
        |SELECT from_type, to_type, count(*) AS n
        |FROM s WHERE from_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,

    // s32 = q24 incrementally: per-chain attribution is invariant to how
    // the stream chunks a user's events (stored touch bridges triggers)
    // and the rollup fold is additive over disjoint purchases — q24's
    // oracle, stated once
    "s32_stream_attribution" -> (
      """WITH t AS (
        |  SELECT user_id, event_id, event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events)
        |SELECT touch, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM t WHERE event_type = 'purchase' AND touch IS NOT NULL
        |GROUP BY touch ORDER BY touch""".stripMargin),

    // s22 = d20 incrementally: verdicts are pure per-doc functions of the
    // frozen baseline and the fold is append-only, so the drained diff
    // equals the batch triage exactly — d20's oracle, stated once
    "s22_stream_snapshot_diff" ->
      graft.queries.PipelineQueries.oracles("d20_snapshot_fuzzy_diff"),

    "q22_transitions" ->
      """WITH s AS (
        |  SELECT user_id, event_type AS to_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS from_type
        |  FROM events)
        |SELECT from_type, to_type, count(*) AS n
        |FROM s WHERE from_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,

    "s02_stream_window" ->
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS hour_start, event_type,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,

    "s03_stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    // double delivery deduplicated exactly ⇒ the plain single-copy rollup
    "s06_stream_dedup" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    // the stream gate is a deterministic per-doc map (quality + lang-ID +
    // broadcast decontamination probe), so its batch equivalent composes
    // the t02 quality formula, the t03 lang argmax, and the p03
    // contamination-hit count over the doc_id >= 50 slice
    "s07_stream_curation" -> {
      val en = graft.ops.TextAnalysis.defaultProfiles.head._2
        .map(w => s"'$w'").mkString(", ")
      s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 50),
         |bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
         |f AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      w -> w IN ($en))) AS BIGINT) AS n_stop
         |  FROM corpus),
         |qual AS (
         |  SELECT doc_id, least(1.0, greatest(0.0,
         |    0.4 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
         |    + 0.3 * (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END)
         |    + 0.3 * (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END))) AS q
         |  FROM f),
         |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM corpus),
         |sc AS (
         |  SELECT doc_id,
         |    ${PipelineQueries.langHitsSql}
         |  FROM t),
         |lang AS (SELECT doc_id, ${PipelineQueries.langPredSql} AS lang FROM sc),
         |csh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
         |  FROM t WHERE len(tk) >= 3),
         |btok AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS tk FROM bench),
         |bsh AS (
         |  SELECT DISTINCT unnest(list_distinct(list_transform(
         |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
         |  FROM btok WHERE len(tk) >= 3),
         |h AS (
         |  SELECT doc_id, count(*) AS hits FROM csh
         |  WHERE s IN (SELECT s FROM bsh) GROUP BY doc_id)
         |SELECT c.doc_id, lang.lang, qual.q, coalesce(h.hits, 0) AS hits
         |FROM corpus c
         |JOIN qual ON c.doc_id = qual.doc_id
         |JOIN lang ON c.doc_id = lang.doc_id
         |LEFT JOIN h ON c.doc_id = h.doc_id
         |WHERE qual.q >= 0.2 AND coalesce(h.hits, 0) < 5
         |ORDER BY c.doc_id""".stripMargin
    },

    // exact per-doc contamination flag: LSH candidates are recall-1.0 at
    // the derived layout and verified exactly, so the stream gate's flag
    // equals the exact bipartite-Jaccard flag (docs with no shingles are
    // outside the gate on both sides)
    "s09_stream_fuzzy_gate" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |bench AS (SELECT doc_id, text FROM d WHERE doc_id < 50),
        |corpus AS (
        |  SELECT doc_id, text FROM d WHERE doc_id >= 50
        |  UNION ALL
        |  SELECT doc_id + 600000, text || ' uu vv ww' FROM bench),
        |ctok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM corpus),
        |csh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
        |  FROM ctok WHERE len(tk) >= 3),
        |cn AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY doc_id),
        |btok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM bench),
        |bsh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
        |  FROM btok WHERE len(tk) >= 3),
        |bn AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY doc_id),
        |p AS (
        |  SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS inter
        |  FROM csh c JOIN bsh b ON c.s = b.s GROUP BY 1, 2),
        |j AS (
        |  SELECT p.doc_id,
        |    CAST(p.inter AS DOUBLE) / (cn.n + bn.n - p.inter) AS jac
        |  FROM p JOIN cn ON p.doc_id = cn.doc_id JOIN bn ON p.bench_id = bn.doc_id)
        |SELECT c.doc_id, coalesce(bool_or(j.jac >= 0.5), false) AS contaminated
        |FROM (SELECT doc_id FROM ctok WHERE len(tk) >= 3) c
        |LEFT JOIN j ON c.doc_id = j.doc_id
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    "x25_sql_surface" ->
      """WITH k AS (SELECT CAST(c_custkey AS VARCHAR) AS id FROM customer)
        |SELECT CAST(CAST('0x' || substr(md5(id), 1, 4) AS INT) % 8 AS BIGINT) AS shard,
        |  count(*) AS n,
        |  min('t-' || id) AS min_key
        |FROM k GROUP BY 1 ORDER BY shard""".stripMargin,

    "x17_bigdecimal_codec" ->
      """SELECT s_suppkey,
        |  CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS rt_dec
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    "x18_table_key" ->
      """SELECT p_partkey,
        |  'my\-table-' || replace(rowk, '-', '\-') || '-fam-' || 'qual\-x' AS cell_id,
        |  'my-table' AS rt_table,
        |  rowk AS rt_row
        |FROM (SELECT p_partkey, 'k-' || CAST(p_partkey AS VARCHAR) AS rowk FROM part)
        |ORDER BY p_partkey""".stripMargin,

    "d07_dedup_clusters" -> {
      val bandKeys = (0 until 4).map { b =>
        s"'${b}_' || CAST(m${2 * b} AS VARCHAR) || '_' || CAST(m${2 * b + 1} AS VARCHAR)"
      }.mkString(", ")
      s"""WITH RECURSIVE ${PipelineQueries.shingleCte},
         |sig AS (SELECT doc_id, ${PipelineQueries.minhashCols} FROM sh GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, unnest([$bandKeys]) AS band_key FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |p AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT p.a_id, p.b_id
         |  FROM p JOIN cand ON p.a_id = cand.a_id AND p.b_id = cand.b_id
         |    JOIN cnt ca ON p.a_id = ca.doc_id JOIN cnt cb ON p.b_id = cb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (ca.c + cb.c - inter) >= 0.5),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |          UNION SELECT b_id, a_id FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |lbl AS (SELECT src AS node, least(src, min(dst)) AS cluster
         |        FROM reach GROUP BY src)
         |SELECT node, cluster,
         |  CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
         |FROM lbl ORDER BY node""".stripMargin
    },

    // p30: the t02 quality formula gates the corpus, d07's recursive
    // components label the gated docs, the hash-bucket split keeps the
    // train partition, and the p28 epoch ranking orders it — one chain
    "p30_train_assembly" -> {
      val en = graft.ops.TextAnalysis.defaultProfiles.head._2.map(w => s"'$w'").mkString(", ")
      val bandKeys = (0 until 4).map { b =>
        s"'${b}_' || CAST(m${2 * b} AS VARCHAR) || '_' || CAST(m${2 * b + 1} AS VARCHAR)"
      }.mkString(", ")
      val hb = "CAST('0x' || substr(md5(CAST(grp AS VARCHAR)), 1, 15) AS BIGINT) % 100"
      val h = PipelineQueries.h60sql(
        "CAST(e.epoch AS VARCHAR) || '_' || CAST(t.doc_id AS VARCHAR)")
      s"""WITH RECURSIVE fq AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      w -> w IN ($en))) AS BIGINT) AS n_stop
         |  FROM documents),
         |dq AS (
         |  SELECT doc_id,
         |    least(1.0, greatest(0.0,
         |      0.4 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END))) AS q
         |  FROM fq),
         |gated AS (
         |  SELECT d.doc_id, d.text FROM documents d
         |  JOIN dq ON dq.doc_id = d.doc_id WHERE dq.q >= 0.5),
         |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM gated),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
         |  FROM tok WHERE len(tk) >= 3),
         |sig AS (SELECT doc_id, ${PipelineQueries.minhashCols} FROM sh GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, unnest([$bandKeys]) AS band_key FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |p AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT p.a_id, p.b_id
         |  FROM p JOIN cand ON p.a_id = cand.a_id AND p.b_id = cand.b_id
         |    JOIN cnt ca ON p.a_id = ca.doc_id JOIN cnt cb ON p.b_id = cb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (ca.c + cb.c - inter) >= 0.5),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |          UNION SELECT b_id, a_id FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |lbl AS (SELECT src AS node, least(src, min(dst)) AS cluster
         |        FROM reach GROUP BY src),
         |base AS (
         |  SELECT g.doc_id, coalesce(l.cluster, g.doc_id) AS grp
         |  FROM gated g LEFT JOIN lbl l ON l.node = g.doc_id),
         |train AS (SELECT doc_id FROM base WHERE $hb < 90),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS total FROM train),
         |e AS (SELECT unnest(generate_series(1, 2)) AS epoch),
         |sc AS (SELECT CAST(e.epoch AS BIGINT) AS epoch, t.doc_id,
         |        CAST($h AS DOUBLE) / 1152921504606846976.0 AS score
         |      FROM e CROSS JOIN train t),
         |r AS (SELECT epoch, doc_id, score,
         |        row_number() OVER (PARTITION BY epoch
         |          ORDER BY score DESC, doc_id ASC) AS rk
         |      FROM sc)
         |SELECT epoch, doc_id, CAST(rk + (epoch - 1) * nn.total AS BIGINT) AS step
         |FROM r CROSS JOIN nn ORDER BY step""".stripMargin
    },

    // p32: identical suffix cumsum + the kept-sequence md5-60; string_agg
    // skips NULLs (un-kept turns) like Spark's collect_list
    // p38: the same turn text and pre-token denominator as p32, spans
    // from the exclusive prefix sum
    "p38_assistant_spans" -> {
      val np = graft.ops.RegexBpeTokenizer.countSql("event_type || ' ' || props")
      s"""WITH t AS (
         |  SELECT user_id, event_id, $np AS nt FROM events),
         |r AS (
         |  SELECT user_id, nt,
         |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS turn_idx,
         |    COALESCE(sum(nt) OVER (PARTITION BY user_id ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_s
         |  FROM t)
         |SELECT user_id, CAST(turn_idx AS BIGINT) AS turn_idx,
         |  CAST(tok_s AS BIGINT) AS tok_s, CAST(tok_s + nt AS BIGINT) AS tok_e
         |FROM r WHERE turn_idx % 2 = 1 ORDER BY user_id, turn_idx""".stripMargin
    },

    "p32_conversation_assembly" -> {
      val np = graft.ops.RegexBpeTokenizer.countSql("txt")
      val fp = PipelineQueries.h60sql(
        "coalesce(string_agg(CASE WHEN keep THEN txt END, chr(1) ORDER BY event_id), '')")
      s"""WITH turns AS (
         |  SELECT user_id, event_id, event_type || ' ' || props AS txt
         |  FROM events),
         |tn AS (SELECT user_id, event_id, txt, $np AS nt FROM turns),
         |c AS (
         |  SELECT *, sum(nt) OVER (PARTITION BY user_id ORDER BY event_id DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM tn),
         |m AS (SELECT *, cum <= 64 AS keep FROM c)
         |SELECT user_id,
         |  CAST(count(*) AS BIGINT) AS n_turns,
         |  CAST(count(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_kept,
         |  CAST(coalesce(sum(CASE WHEN keep THEN nt END), 0) AS BIGINT) AS n_tokens,
         |  min(CASE WHEN keep THEN event_id END) AS first_kept,
         |  max(CASE WHEN keep THEN event_id END) AS last_kept,
         |  $fp AS fp
         |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin
    },

    // t27: probe grams vs the corpus gram universe, both as md5-60 hash
    // sets (the shingle convention), hit share on the 1e-6 grid
    "t27_gram_coverage" -> t27OracleSql,

    // s30 ≡ t27: the seen-gram state folds by set union (idempotent,
    // order-free), and the drain-end report IS the batch coverage step
    "s30_stream_gram_coverage" -> t27OracleSql,

    // p34: the quality formula is p08's, the fingerprint d01's; quality
    // quantizes per doc before the order-free integer mean
    "p34_datasheet" -> {
      val en = graft.ops.TextAnalysis.defaultProfiles.head._2
        .map(w => s"'$w'").mkString(", ")
      s"""WITH all_docs AS (
         |  SELECT doc_id, source, text, lang FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, source, '  ' || text || '   ', lang
         |  FROM documents WHERE doc_id % 3 = 0),
         |f AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      w -> w IN ($en))) AS BIGINT) AS n_stop
         |  FROM all_docs),
         |q AS (
         |  SELECT doc_id, CAST(round(least(1.0, greatest(0.0,
         |      0.4 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END)))
         |    * 1000000) AS BIGINT) AS q_q, n_tokens
         |  FROM f),
         |fps AS (
         |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM all_docs),
         |k AS (SELECT fp, min(doc_id) AS keeper FROM fps GROUP BY fp),
         |e AS (
         |  SELECT d.doc_id, d.source, d.lang, q.n_tokens AS nt, q.q_q, k.keeper
         |  FROM all_docs d
         |  JOIN q ON q.doc_id = d.doc_id
         |  JOIN fps ON fps.doc_id = d.doc_id
         |  JOIN k ON k.fp = fps.fp)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  CAST(count(CASE WHEN doc_id <> keeper THEN 1 END) AS BIGINT) AS n_dups,
         |  CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS n_en,
         |  CAST(round(sum(q_q) * 1.0 / count(*)) AS BIGINT) AS mean_quality_q
         |FROM e GROUP BY source ORDER BY source""".stripMargin
    },

    // d25: same canonical fingerprint, per-source distinct, ordered pair
    // counts
    "d25_source_overlap" ->
      """WITH all_docs AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'src' || CAST((CAST(replace(source, 'src', '') AS BIGINT) + 1) % 20 AS VARCHAR),
        |    ' ' || text || '  '
        |  FROM documents WHERE doc_id % 3 = 0),
        |sfp AS (
        |  SELECT DISTINCT source AS src,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM all_docs)
        |SELECT a.src AS src_a, b.src AS src_b, CAST(count(*) AS BIGINT) AS n_shared
        |FROM sfp a JOIN sfp b ON a.fp = b.fp AND a.src < b.src
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,

    // t37: symbol counting by delete-and-diff, the same permille gate
    "t37_code_census" ->
      """WITH d37 AS (
        |  SELECT source, CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[{}\[\]();=<>]', '', 'g'))
        |      AS BIGINT) AS n_sym
        |  FROM documents WHERE length(text) > 0)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN n_sym * 1000 >= n_chars * 40 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_code_like,
        |  CAST((sum(CASE WHEN n_sym * 1000 >= n_chars * 40 THEN 1 ELSE 0 END) * 1000000)
        |    // count(*) AS BIGINT) AS code_ppm
        |FROM d37 GROUP BY source ORDER BY source""".stripMargin,

    // t37: Gopher repetition — line-dup fractions over per-doc line
    // counts; token char offsets via a per-doc cumsum window; top-2-gram
    // coverage = max(cnt*glen) among max-cnt grams; dup-5-gram coverage
    // = per-doc interval union (running-max window then group-sum).
    // tp38 consumed 3x downstream → materialized via the allowlist
    "t38_repetition_gate" -> t38OracleSql,

    // per-doc pure ⇒ drained union == batch operator, its oracle verbatim
    "s40_stream_repetition_gate" -> t38OracleSql,

    // t36: distinct (decile, gram) pairs, min-decile first-seen, decile
    // census; gr36 consumed twice → materialized via the allowlist
    "t36_novelty_curve" ->
      """WITH tok36 AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |el36 AS (SELECT doc_id, tk FROM tok36 WHERE len(tk) >= 3),
        |bd36 AS (SELECT min(doc_id) AS lo,
        |           max(doc_id) - min(doc_id) + 1 AS span FROM el36),
        |gr36 AS (
        |  SELECT DISTINCT least(9, ((doc_id - lo) * 10) // span) AS dec,
        |    unnest(list_transform(generate_series(1, len(tk) - 2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tg
        |  FROM el36 CROSS JOIN bd36),
        |fs36 AS (SELECT tg, min(dec) AS first_dec FROM gr36 GROUP BY 1),
        |pd36 AS (SELECT dec, count(*) AS n_grams FROM gr36 GROUP BY 1),
        |np36 AS (SELECT first_dec AS dec, count(*) AS n_new FROM fs36 GROUP BY 1)
        |SELECT pd36.dec AS dec, CAST(n_grams AS BIGINT) AS n_grams,
        |  CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
        |  CAST((COALESCE(n_new, 0) * 1000000) // n_grams AS BIGINT) AS new_ppm
        |FROM pd36 LEFT JOIN np36 ON pd36.dec = np36.dec
        |ORDER BY dec""".stripMargin,

    // t35: the per-(doc, trigram) census probed against its own df;
    // dt35 consumed twice → materialized via the allowlist
    "t35_boilerplate_density" ->
      """WITH tok35 AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |tg35 AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tg
        |  FROM tok35 WHERE len(tk) >= 3),
        |dt35 AS (SELECT doc_id, tg, count(*) AS m FROM tg35 GROUP BY 1, 2),
        |df35 AS (SELECT tg, count(*) AS df FROM dt35 GROUP BY 1)
        |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_trigrams,
        |  CAST(sum(CASE WHEN df >= 3 THEN m ELSE 0 END) AS BIGINT) AS n_common,
        |  CAST((sum(CASE WHEN df >= 3 THEN m ELSE 0 END) * 1000000)
        |    // sum(m) AS BIGINT) AS boiler_ppm
        |FROM dt35 JOIN df35 USING (tg)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // t34: the same two aggregates + rank-20 by (burst desc, term)
    "t34_term_burstiness" ->
      """WITH dt34 AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |tf34 AS (SELECT doc_id, term, count(*) AS tf FROM dt34 GROUP BY 1, 2),
        |ag34 AS (
        |  SELECT term, CAST(sum(tf) AS BIGINT) AS cf, CAST(count(*) AS BIGINT) AS df
        |  FROM tf34 GROUP BY term)
        |SELECT term, cf, df, CAST((cf * 1000000) // df AS BIGINT) AS burst_ppm
        |FROM ag34 WHERE df >= 3
        |ORDER BY burst_ppm DESC, term LIMIT 20""".stripMargin,

    // t33: t19's regression per source over the grouped spectrum
    "t33_zipf_by_source" ->
      """WITH toks33 AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |tf33 AS (SELECT source, term, count(*) AS freq FROM toks33 GROUP BY 1, 2),
        |spec33 AS (SELECT source, freq, count(*) AS n_types FROM tf33 GROUP BY 1, 2)
        |SELECT source, round(regr_slope(ln(n_types), ln(freq)), 6) AS zipf_slope,
        |  round(regr_intercept(ln(n_types), ln(freq)), 6) AS zipf_icept,
        |  CAST(count(*) AS BIGINT) AS n_pts
        |FROM spec33 GROUP BY source ORDER BY source""".stripMargin,

    // p41: p34's per-doc quality quantization, banded census, suffix
    // cumsum; bands CTE consumed twice → materialized via the allowlist
    "p41_quality_frontier" -> {
      val en = graft.ops.TextAnalysis.defaultProfiles.head._2
        .map(w => s"'$w'").mkString(", ")
      s"""WITH f41 AS (
         |  SELECT CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      w -> w IN ($en))) AS BIGINT) AS n_stop
         |  FROM documents),
         |q41 AS (
         |  SELECT CAST(round(least(1.0, greatest(0.0,
         |      0.4 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END)))
         |    * 1000000) AS BIGINT) // 100000 AS band, n_tokens AS tok
         |  FROM f41),
         |b41 AS (SELECT band, count(*) AS n, sum(tok) AS toks FROM q41 GROUP BY 1),
         |t41 AS (SELECT sum(toks) AS tot FROM b41),
         |c41 AS (
         |  SELECT band, sum(n) OVER (ORDER BY band DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_kept,
         |    sum(toks) OVER (ORDER BY band DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tokens_kept
         |  FROM b41)
         |SELECT CAST(band * 100000 AS BIGINT) AS threshold_q,
         |  CAST(n_kept AS BIGINT) AS n_kept,
         |  CAST(tokens_kept AS BIGINT) AS tokens_kept,
         |  CAST(CASE WHEN tot = 0 THEN 0
         |    ELSE (tokens_kept * 1000000) // tot END AS BIGINT) AS share_ppm
         |FROM c41 CROSS JOIN t41 ORDER BY threshold_q""".stripMargin
    },

    // t32: one (source, term) count, per-source singleton rollup
    "t32_missing_mass" -> t32OracleSql,

    // s35 = t32 incrementally: the vocabulary state holds true counts
    // (singleton-ness is not trigger-local) and the report derives at
    // drain time — t32's oracle, stated once
    "s35_stream_vocab" -> t32OracleSql,

    // p40: unique-content capacities (duplicates floor at max tok per
    // fp), p33's water-fill CTE shape over capacity with a 2×-unique
    // budget; u40 consumed twice → materialized via the allowlist
    "p40_epoch_plan" ->
      """WITH f40 AS (
        |  SELECT source, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS tok
        |  FROM documents),
        |g40 AS (SELECT source, fp, max(tok) AS tok FROM f40 GROUP BY 1, 2),
        |u40 AS (SELECT source, sum(tok) AS unique_tokens FROM g40 GROUP BY 1),
        |census40 AS (SELECT source, unique_tokens, unique_tokens * 4 AS total_tokens FROM u40),
        |bud40 AS (SELECT sum(unique_tokens) * 2 AS budget FROM u40),
        |r40 AS (
        |  SELECT source, unique_tokens, total_tokens,
        |    row_number() OVER (ORDER BY total_tokens, source) AS i,
        |    coalesce(sum(total_tokens) OVER (ORDER BY total_tokens, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx,
        |    coalesce(lag(total_tokens) OVER (ORDER BY total_tokens, source), 0) AS prev,
        |    count(*) OVER () AS s
        |  FROM census40),
        |lv40 AS (
        |  SELECT r40.*, budget, greatest(budget - pfx, 0) // (s - i + 1) AS cand
        |  FROM r40 CROSS JOIN bud40),
        |cp40 AS (
        |  SELECT coalesce(
        |    max(CASE WHEN prev <= cand AND cand < total_tokens THEN cand END),
        |    max(total_tokens)) AS cap
        |  FROM lv40),
        |a40 AS (
        |  SELECT lv40.*, cp40.cap, least(total_tokens, cp40.cap) AS alloc0,
        |    total_tokens > cp40.cap AS unsat
        |  FROM lv40 CROSS JOIN cp40),
        |rem40 AS (
        |  SELECT least(max(budget), sum(total_tokens)) - sum(alloc0) AS rr FROM a40),
        |fin40 AS (
        |  SELECT a40.*, row_number() OVER (PARTITION BY unsat ORDER BY source) AS urk
        |  FROM a40),
        |al40 AS (
        |  SELECT source, unique_tokens, total_tokens,
        |    alloc0 + CASE WHEN unsat AND urk <= rr THEN 1 ELSE 0 END AS alloc
        |  FROM fin40 CROSS JOIN rem40)
        |SELECT source, CAST(unique_tokens AS BIGINT) AS unique_tokens,
        |  CAST(total_tokens AS BIGINT) AS capacity, CAST(alloc AS BIGINT) AS alloc,
        |  CAST(CASE WHEN unique_tokens = 0 THEN 0
        |    ELSE (alloc * 1000000) // unique_tokens END AS BIGINT) AS epochs_ppm
        |FROM al40 ORDER BY source""".stripMargin,

    // p39: t10's model CTEs at source granularity; magnitude-floor means
    // (-((0-S)//M): nonneg operand, floor ≡ trunc), largest-remainder
    // ppm weights; db consumed 3× → materialized via the allowlist
    "p39_excess_loss_weights" ->
      s"""WITH $p39Ctes
         |SELECT source, CAST(n_bigrams AS BIGINT) AS n_bigrams,
         |  CAST(mean_logp_q AS BIGINT) AS mean_logp_q,
         |  CAST(excess_q AS BIGINT) AS excess_q,
         |  CAST(w0 + CASE WHEN rk <= r_ THEN 1 ELSE 0 END AS BIGINT) AS weight_ppm
         |FROM fin39 ORDER BY source""".stripMargin,

    // p44: p39's weight chain + exact 200-doc quotas (floor + largest
    // remainder) + the per-source hash-rank prefix; shares the p39
    // materialization story
    "p44_mixture_select" -> {
      val h = PipelineQueries.h60sql("CAST(doc_id AS VARCHAR)")
      s"""WITH $p39Ctes,
         |wts44 AS (
         |  SELECT source,
         |    w0 + CASE WHEN rk <= r_ THEN 1 ELSE 0 END AS weight_ppm
         |  FROM fin39),
         |q44 AS (
         |  SELECT source, (weight_ppm * 200) // 1000000 AS q0,
         |    (weight_ppm * 200) % 1000000 AS rem
         |  FROM wts44),
         |f44 AS (
         |  SELECT source, q0 + CASE WHEN
         |      row_number() OVER (ORDER BY rem DESC, source) <= 200 - sum(q0) OVER ()
         |    THEN 1 ELSE 0 END AS quota
         |  FROM q44),
         |rk44 AS (
         |  SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source ORDER BY $h, doc_id) AS rk
         |  FROM documents)
         |SELECT rk44.source AS source, doc_id
         |FROM rk44 JOIN f44 ON rk44.source = f44.source
         |WHERE rk <= quota ORDER BY source, doc_id""".stripMargin
    },

    // p42: the fp-cluster sizes + the md5-grid Bernoulli trial; f42
    // consumed twice → materialized via the allowlist
    "p42_soft_dedup_sample" -> {
      val h = PipelineQueries.h60sql("CAST(doc_id AS VARCHAR)")
      s"""WITH u42 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 700000, ' ' || text || '  '
         |  FROM documents WHERE doc_id % 3 = 0),
         |f42 AS (
         |  SELECT doc_id,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM u42),
         |s42 AS (SELECT fp, count(*) AS cluster_size FROM f42 GROUP BY 1)
         |SELECT doc_id AS id, CAST(cluster_size AS BIGINT) AS cluster_size
         |FROM f42 JOIN s42 USING (fp)
         |WHERE $h % (cluster_size * 2) < 1
         |ORDER BY id""".stripMargin
    },

    // p45: p34's per-doc formulas globally aggregated to one row
    "p45_dataset_card" -> {
      val en = graft.ops.TextAnalysis.defaultProfiles.head._2
        .map(w => s"'$w'").mkString(", ")
      s"""WITH f45 AS (
         |  SELECT doc_id,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      w -> w IN ($en))) AS BIGINT) AS n_stop,
         |    CAST(length(text) - length(regexp_replace(text, '[{}\\[\\]();=<>]', '', 'g'))
         |      AS BIGINT) AS n_sym,
         |    (lang = 'en') AS is_en
         |  FROM documents),
         |q45 AS (
         |  SELECT doc_id, fp, n_tokens, is_en,
         |    (n_sym * 1000 >= n_chars * 40 AND n_chars > 0) AS code_like,
         |    CAST(round(least(1.0, greatest(0.0,
         |      0.4 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END)))
         |    * 1000000) AS BIGINT) AS q_q
         |  FROM f45),
         |a45 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
         |    CAST(sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
         |    CAST(sum(CASE WHEN code_like THEN 1 ELSE 0 END) AS BIGINT) AS n_code,
         |    CAST(round(sum(q_q) * 1.0 / count(*)) AS BIGINT) AS mean_quality_q
         |  FROM q45)
         |SELECT n_docs, n_tokens,
         |  CAST(((n_docs - n_distinct) * 1000000) // n_docs AS BIGINT) AS dup_ppm,
         |  CAST((n_en * 1000000) // n_docs AS BIGINT) AS en_ppm,
         |  CAST((n_code * 1000000) // n_docs AS BIGINT) AS code_ppm,
         |  mean_quality_q
         |FROM a45""".stripMargin
    },

    // d29: d25's pair counts + per-source distinct-fp sizes, union-
    // normalized; sfp29 consumed 3× → materialized via the allowlist
    "d29_source_jaccard" ->
      """WITH all29 AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'src' || CAST((CAST(replace(source, 'src', '') AS BIGINT) + 1) % 20 AS VARCHAR),
        |    ' ' || text || '  '
        |  FROM documents WHERE doc_id % 3 = 0),
        |sfp29 AS (
        |  SELECT DISTINCT source AS src,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM all29),
        |sz29 AS (SELECT src, count(*) AS n_fp FROM sfp29 GROUP BY 1),
        |pr29 AS (
        |  SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
        |  FROM sfp29 a JOIN sfp29 b ON a.fp = b.fp AND a.src < b.src
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
        |  CAST((n_shared * 1000000) // (sa.n_fp + sb.n_fp - n_shared) AS BIGINT)
        |    AS jaccard_ppm
        |FROM pr29
        |JOIN sz29 sa ON pr29.src_a = sa.src
        |JOIN sz29 sb ON pr29.src_b = sb.src
        |ORDER BY src_a, src_b""".stripMargin,

    // s38: raw per source vs first-copy (min doc_id per fp) credit over
    // the shifted-mirror union; f38 consumed 3× → materialized
    "s38_stream_unique_tokens" ->
      """WITH u38 AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 800000,
        |    'src' || CAST((CAST(replace(source, 'src', '') AS BIGINT) + 1) % 20 AS VARCHAR),
        |    ' ' || text || '  '
        |  FROM documents WHERE doc_id % 3 = 0),
        |f38 AS (
        |  SELECT doc_id, source,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS tok
        |  FROM u38),
        |fc38 AS (SELECT fp, min(doc_id) AS first_id FROM f38 GROUP BY 1),
        |raw38 AS (SELECT source, sum(tok) AS raw_tokens FROM f38 GROUP BY 1),
        |un38 AS (
        |  SELECT f.source, sum(f.tok) AS unique_tokens
        |  FROM f38 f JOIN fc38 c ON f.fp = c.fp AND f.doc_id = c.first_id
        |  GROUP BY 1)
        |SELECT raw38.source AS source, CAST(raw_tokens AS BIGINT) AS raw_tokens,
        |  CAST(COALESCE(unique_tokens, 0) AS BIGINT) AS unique_tokens,
        |  CAST(CASE WHEN raw_tokens = 0 THEN 0
        |    ELSE ((raw_tokens - COALESCE(unique_tokens, 0)) * 1000000) // raw_tokens
        |  END AS BIGINT) AS stale_ppm
        |FROM raw38 LEFT JOIN un38 ON raw38.source = un38.source
        |ORDER BY source""".stripMargin,

    // d28: fingerprint clusters (copies tokenize identically — max(tok)
    // is THE per-copy count), sizes census; g28 consumed once per layer
    "d28_dedup_savings" ->
      """WITH u28 AS (
        |  SELECT text FROM documents
        |  UNION ALL
        |  SELECT ' ' || text || '  ' FROM documents WHERE doc_id % 3 = 0),
        |f28 AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS tok
        |  FROM u28),
        |g28 AS (SELECT fp, count(*) AS k, max(tok) AS tok FROM f28 GROUP BY 1)
        |SELECT CAST(k AS BIGINT) AS cluster_size,
        |  CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(k - 1) AS BIGINT) AS n_dup_docs,
        |  CAST(sum((k - 1) * tok) AS BIGINT) AS tokens_saved
        |FROM g28 GROUP BY k ORDER BY cluster_size""".stripMargin,

    // d27: the d25 fixture + fingerprint; g is consumed twice (census +
    // per-fp source count) → materialized via the allowlist
    "d27_source_dup_census" ->
      """WITH u AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'src' || CAST((CAST(replace(source, 'src', '') AS BIGINT) + 1) % 20 AS VARCHAR),
        |    ' ' || text || '  '
        |  FROM documents WHERE doc_id % 3 = 0),
        |g AS (
        |  SELECT source, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |    count(*) AS n
        |  FROM u GROUP BY 1, 2),
        |ns AS (SELECT fp, count(*) AS n_src FROM g GROUP BY 1)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_distinct_texts,
        |  CAST(sum(n - 1) AS BIGINT) AS n_dup_within,
        |  CAST(sum(CASE WHEN n_src > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_shared,
        |  CAST(((sum(n) - count(*)) * 1000000) // sum(n) AS BIGINT) AS dup_ppm
        |FROM g JOIN ns USING (fp)
        |GROUP BY source ORDER BY source""".stripMargin,

    // t28: t09's split + hash-tiebreak conventions; tok is consumed
    // twice (vocabulary + coverage) → materialized
    "t28_vocab_coverage" ->
      s"""WITH tok AS (
         |  SELECT lang AS grp, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |  FROM documents WHERE length(trim(text)) > 0),
         |c AS (SELECT w, count(*) AS n FROM tok GROUP BY 1),
         |vocab AS (SELECT w FROM c ORDER BY n DESC, ${PipelineQueries.h60sql("w")} ASC LIMIT 100)
         |SELECT grp, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(count(vocab.w) AS BIGINT) AS n_covered,
         |  CAST(round(count(vocab.w) * 1000000.0 / count(*)) AS BIGINT) AS cov_q
         |FROM tok LEFT JOIN vocab USING (w)
         |GROUP BY grp ORDER BY grp""".stripMargin,

    // p37: whitespace-collapsed md5 fingerprint (d01), whitespace token
    // count (p33's formula), floors at (fp, source) granularity exactly
    // as the engine takes them; g1 is consumed twice → materialized
    "p37_effective_tokens" ->
      """WITH u AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'src' || CAST((CAST(replace(source, 'src', '') AS BIGINT) + 1) % 20 AS VARCHAR),
        |    ' ' || text || '  '
        |  FROM documents WHERE doc_id % 3 = 0),
        |f AS (
        |  SELECT source, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS tok
        |  FROM u),
        |g1 AS (SELECT fp, source, count(*) AS n, sum(tok) AS tok_sum FROM f GROUP BY 1, 2),
        |sz AS (SELECT fp, sum(n) AS cl_size FROM g1 GROUP BY 1)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(sum(tok_sum) AS BIGINT) AS raw_tokens,
        |  CAST(sum((tok_sum * 1000000) // cl_size) AS BIGINT) AS eff_tokens_q
        |FROM g1 JOIN sz USING (fp) GROUP BY source ORDER BY source""".stripMargin,

    // d26: identical skeleton regexes (the 'g' flag is DuckDB's
    // replace-all; Spark replaces all by default), md5 text fingerprint
    // per d01's convention, one grouped census with HAVING = the filter
    "d26_template_skeleton" -> {
      val skel = "regexp_replace(regexp_replace(regexp_replace(lower(trim(text)), " +
        "'[a-z]+', 'w', 'g'), '[0-9]+', '9', 'g'), '\\s+', ' ', 'g')"
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 200000,
         |    'order #' || CAST(doc_id * 7 AS VARCHAR) || ': total $$' ||
         |    CAST(doc_id % 97 AS VARCHAR) || ' (qty ' || CAST(doc_id % 7 AS VARCHAR) || ')'
         |  FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 300000,
         |    'ref [' || CAST(doc_id * 3 AS VARCHAR) || '] status ok'
         |  FROM documents WHERE doc_id % 5 = 1),
         |f AS (
         |  SELECT doc_id, ${PipelineQueries.h60sql(skel)} AS skel_fp,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS tx_fp
         |  FROM u)
         |SELECT skel_fp, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT tx_fp) AS BIGINT) AS n_texts,
         |  min(doc_id) AS rep_id
         |FROM f GROUP BY skel_fp
         |HAVING count(*) >= 3 AND count(DISTINCT tx_fp) >= 2
         |ORDER BY skel_fp""".stripMargin
    },

    // p35: p13's mixture + p28's permutation (epoch key "1_") per phase
    // + p08's quality formula at a fixed 0.5 bar; phase-2 steps offset
    // by the phase-1 count
    "p35_anneal_schedule" -> {
      val en = graft.ops.TextAnalysis.defaultProfiles.head._2
        .map(w => s"'$w'").mkString(", ")
      val perm = PipelineQueries.h60sql("'1_' || CAST(doc_id AS VARCHAR)")
      s"""WITH sz AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |w AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS wt FROM sz),
         |ww AS (SELECT sum(wt) AS wsum FROM w),
         |t AS (SELECT min(w.n * ww.wsum // w.wt) AS tt FROM w CROSS JOIN ww),
         |qq AS (SELECT w.lang, w.wt * t.tt // ww.wsum AS quota
         |       FROM w CROSS JOIN t CROSS JOIN ww),
         |r AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${PipelineQueries.h60sql("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS rk
         |  FROM documents),
         |mixed AS (SELECT doc_id FROM r JOIN qq USING (lang) WHERE rk <= quota),
         |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM mixed),
         |p1 AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY CAST($perm AS DOUBLE) / 1152921504606846976.0 DESC, doc_id ASC) AS step
         |  FROM mixed),
         |f AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      w -> w IN ($en))) AS BIGINT) AS n_stop
         |  FROM documents),
         |qsc AS (
         |  SELECT doc_id, least(1.0, greatest(0.0,
         |      0.4 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END))) AS q
         |  FROM f),
         |anneal AS (SELECT m.doc_id FROM mixed m JOIN qsc USING (doc_id) WHERE q >= 0.5),
         |p2 AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY CAST($perm AS DOUBLE) / 1152921504606846976.0 DESC, doc_id ASC) AS rk2
         |  FROM anneal)
         |SELECT doc_id, CAST(step AS BIGINT) AS step, CAST(1 AS BIGINT) AS phase FROM p1
         |UNION ALL
         |SELECT doc_id, CAST(rk2 + n1.n AS BIGINT), CAST(2 AS BIGINT)
         |FROM p2 CROSS JOIN n1
         |ORDER BY step""".stripMargin
    },

    // p31: the generalization ladder as four plain GROUP BYs (rollup's
    // levels spelled out), finest adequate level per doc
    "p31_kanon_census" ->
      """WITH base AS (
        |  SELECT doc_id, lang, source, CAST(n_chars // 200 AS VARCHAR) AS len_b
        |  FROM documents),
        |l0 AS (SELECT lang, source, len_b, count(*) AS n FROM base GROUP BY 1, 2, 3),
        |l1 AS (SELECT lang, source, count(*) AS n FROM base GROUP BY 1, 2),
        |l2 AS (SELECT lang, count(*) AS n FROM base GROUP BY 1),
        |l3 AS (SELECT count(*) AS n FROM base),
        |j AS (
        |  SELECT b.doc_id, b.lang, b.source, b.len_b,
        |    l0.n AS n0, l1.n AS n1, l2.n AS n2, l3.n AS n3,
        |    CASE WHEN l0.n >= 5 THEN 0 WHEN l1.n >= 5 THEN 1
        |         WHEN l2.n >= 5 THEN 2 ELSE 3 END AS lvl
        |  FROM base b
        |  JOIN l0 ON b.lang = l0.lang AND b.source = l0.source AND b.len_b = l0.len_b
        |  JOIN l1 ON b.lang = l1.lang AND b.source = l1.source
        |  JOIN l2 ON b.lang = l2.lang
        |  CROSS JOIN l3)
        |SELECT doc_id,
        |  CASE WHEN lvl > 2 THEN '*' ELSE lang END AS lang_g,
        |  CASE WHEN lvl > 1 THEN '*' ELSE source END AS source_g,
        |  CASE WHEN lvl > 0 THEN '*' ELSE len_b END AS len_b_g,
        |  CAST(lvl AS BIGINT) AS anon_level,
        |  CAST(CASE lvl WHEN 0 THEN n0 WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END AS BIGINT) AS grp_n,
        |  (CASE lvl WHEN 0 THEN n0 WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END) >= 5 AS kept
        |FROM j ORDER BY doc_id""".stripMargin,

    // p33: the water level as the unique census row whose remaining-
    // budget spread lands in [prev stratum total, own total)
    "p33_budget_waterfill" ->
      """WITH d AS (
        |  SELECT source,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
        |  FROM documents),
        |census AS (
        |  SELECT source, count(*) AS n_docs, sum(n_tok) AS total_tokens
        |  FROM d GROUP BY source),
        |bud AS (SELECT (sum(total_tokens) * 9) // 10 AS budget FROM census),
        |r AS (
        |  SELECT source, n_docs, total_tokens,
        |    row_number() OVER (ORDER BY total_tokens, source) AS i,
        |    coalesce(sum(total_tokens) OVER (ORDER BY total_tokens, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx,
        |    coalesce(lag(total_tokens) OVER (ORDER BY total_tokens, source), 0) AS prev,
        |    count(*) OVER () AS s
        |  FROM census),
        |lv AS (
        |  SELECT r.*, budget, greatest(budget - pfx, 0) // (s - i + 1) AS cand
        |  FROM r CROSS JOIN bud),
        |cp AS (
        |  SELECT coalesce(
        |    max(CASE WHEN prev <= cand AND cand < total_tokens THEN cand END),
        |    max(total_tokens)) AS cap
        |  FROM lv),
        |a0 AS (
        |  SELECT lv.*, cp.cap, least(total_tokens, cp.cap) AS alloc0,
        |    total_tokens > cp.cap AS unsat
        |  FROM lv CROSS JOIN cp),
        |rem AS (
        |  SELECT least(max(budget), sum(total_tokens)) - sum(alloc0) AS rr FROM a0),
        |fin AS (
        |  SELECT a0.*, row_number() OVER (PARTITION BY unsat ORDER BY source) AS urk
        |  FROM a0)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(total_tokens AS BIGINT) AS total_tokens, CAST(cap AS BIGINT) AS cap,
        |  CAST(alloc0 + CASE WHEN unsat AND urk <= rr THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM fin CROSS JOIN rem ORDER BY source""".stripMargin,

    // p36: the shared k-means + water-fill CTEs, then per-cluster
    // HASH-rank selection — corpus_a is consumed twice and the Lloyd
    // chain is deep, so this is on the MATERIALIZED allowlist
    "p36_cluster_quota" ->
      s"""$clusterAllocCtes,
         |sel AS (
         |  SELECT a.c_id, a.vec_id,
         |    row_number() OVER (PARTITION BY a.c_id
         |      ORDER BY ${PipelineQueries.h60sql("CAST(a.vec_id AS VARCHAR)")} ASC,
         |        a.vec_id ASC) AS rk
         |  FROM corpus_a a)
         |SELECT sel.c_id, sel.vec_id FROM sel JOIN alc ON sel.c_id = alc.c_id
         |WHERE sel.rk <= alc.alloc ORDER BY sel.c_id, sel.vec_id""".stripMargin,

    // s31 ≡ p36's allocations admitted first-come: under ascending
    // vec_id arrival the admitted set is the per-cluster ID-rank prefix
    // (hash rank is the batch sampler's tiebreak; arrival order is the
    // stream's)
    "s31_stream_cluster_quota" ->
      s"""$clusterAllocCtes,
         |sel AS (
         |  SELECT a.c_id, a.vec_id,
         |    row_number() OVER (PARTITION BY a.c_id ORDER BY a.vec_id) AS adm_rk
         |  FROM corpus_a a)
         |SELECT sel.vec_id AS doc_id, CAST(sel.c_id AS VARCHAR) AS cls,
         |  CAST(adm_rk AS BIGINT) AS adm_rk
         |FROM sel JOIN alc ON sel.c_id = alc.c_id
         |WHERE adm_rk <= alc.alloc ORDER BY doc_id""".stripMargin,

    // t25: identical smoothed-share formula, ln on the 1e-6 grid (the
    // t10 quantization convention)
    "t25_psi_drift" -> t25OracleSql,

    // s29 ≡ t25: per-bin counts are additive over disjoint triggers and
    // the PSI formula runs once, on the drained totals
    "s29_stream_psi" -> t25OracleSql,

    // t26: exact integer sums; the ratios repeat the Spark operand order
    // (np·1e6)/nw so the one double rounding agrees bit-for-bit
    "t26_tokenizer_fertility" -> {
      val np = graft.ops.RegexBpeTokenizer.countSql("text")
      s"""WITH f AS (
         |  SELECT lang AS grp, CAST(length(text) AS BIGINT) AS nc,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS nw,
         |    $np AS np
         |  FROM documents)
         |SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nc) AS BIGINT) AS n_chars, CAST(sum(nw) AS BIGINT) AS n_words,
         |  CAST(sum(np) AS BIGINT) AS n_pretokens,
         |  CASE WHEN sum(nw) > 0
         |    THEN CAST(round(CAST(sum(np) AS DOUBLE) * 1000000.0 / sum(nw)) AS BIGINT) END AS fertility_q,
         |  CASE WHEN sum(np) > 0
         |    THEN CAST(round(CAST(sum(nc) AS DOUBLE) * 1000000.0 / sum(np)) AS BIGINT) END AS chars_per_tok_q
         |FROM f GROUP BY grp ORDER BY grp""".stripMargin
    },

    // p29: d07's component labels + the hashSplit bucket formula applied
    // to the coalesced cluster label
    "p29_leakage_safe_split" -> {
      val bandKeys = (0 until 4).map { b =>
        s"'${b}_' || CAST(m${2 * b} AS VARCHAR) || '_' || CAST(m${2 * b + 1} AS VARCHAR)"
      }.mkString(", ")
      val hb = "CAST('0x' || substr(md5(CAST(grp AS VARCHAR)), 1, 15) AS BIGINT) % 100"
      s"""WITH RECURSIVE ${PipelineQueries.shingleCte},
         |sig AS (SELECT doc_id, ${PipelineQueries.minhashCols} FROM sh GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, unnest([$bandKeys]) AS band_key FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |p AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT p.a_id, p.b_id
         |  FROM p JOIN cand ON p.a_id = cand.a_id AND p.b_id = cand.b_id
         |    JOIN cnt ca ON p.a_id = ca.doc_id JOIN cnt cb ON p.b_id = cb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (ca.c + cb.c - inter) >= 0.5),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |          UNION SELECT b_id, a_id FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |lbl AS (SELECT src AS node, least(src, min(dst)) AS cluster
         |        FROM reach GROUP BY src),
         |base AS (
         |  SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS grp
         |  FROM documents d LEFT JOIN lbl l ON l.node = d.doc_id)
         |SELECT doc_id, grp,
         |  CASE WHEN $hb < 90 THEN 'train'
         |       WHEN $hb < 95 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM base ORDER BY doc_id""".stripMargin
    },

    // d14 = d07's components + representative selection (longest text,
    // ties to the smaller id) + all singleton docs keeping themselves
    "d14_neardup_prune" -> {
      val bandKeys = (0 until 4).map { b =>
        s"'${b}_' || CAST(m${2 * b} AS VARCHAR) || '_' || CAST(m${2 * b + 1} AS VARCHAR)"
      }.mkString(", ")
      s"""WITH RECURSIVE ${PipelineQueries.shingleCte},
         |sig AS (SELECT doc_id, ${PipelineQueries.minhashCols} FROM sh GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, unnest([$bandKeys]) AS band_key FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |p AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT p.a_id, p.b_id
         |  FROM p JOIN cand ON p.a_id = cand.a_id AND p.b_id = cand.b_id
         |    JOIN cnt ca ON p.a_id = ca.doc_id JOIN cnt cb ON p.b_id = cb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (ca.c + cb.c - inter) >= 0.5),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |          UNION SELECT b_id, a_id FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |lbl AS (SELECT src AS node, least(src, min(dst)) AS cluster
         |        FROM reach GROUP BY src),
         |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM lbl GROUP BY cluster),
         |labeled AS (
         |  SELECT d.doc_id, l.cluster, s.cluster_size,
         |    CAST(length(d.text) AS BIGINT) AS len
         |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.node
         |    LEFT JOIN sz s ON l.cluster = s.cluster),
         |reps AS (
         |  SELECT doc_id, cluster AS grp, cluster_size FROM (
         |    SELECT doc_id, cluster, cluster_size,
         |      row_number() OVER (PARTITION BY cluster ORDER BY len DESC, doc_id ASC) AS rk
         |    FROM labeled WHERE cluster IS NOT NULL)
         |  WHERE rk = 1),
         |singles AS (SELECT doc_id, doc_id AS grp, CAST(1 AS BIGINT) AS cluster_size
         |            FROM labeled WHERE cluster IS NULL)
         |SELECT doc_id, grp, cluster_size
         |FROM (SELECT * FROM singles UNION ALL SELECT * FROM reps)
         |ORDER BY doc_id""".stripMargin
    },

    // a04 serves from the persisted index built with the same parameters —
    // its results (and therefore its oracle) are exactly a03's
    "a04_ann_ivf_index" -> a03Oracle,
    // a19: deletions — the surviving universe, served twice
    "a19_ann_ivf_delete" -> a19Oracle,
    // a20: drift — per-segment quantizer fit off the shared k-means CTEs
    "a20_ann_drift" -> a20Oracle,
    // a21: residual IVF-PQ — coarse + residual-trained subspaces composed
    "a21_ann_ivf_rpq" -> a21Oracle,
    // a22 ≡ a21: frozen full-corpus books + pure-per-row encode make
    // build+append indistinguishable from the live path
    "a22_ann_ivf_rpq_index" -> a21Oracle,
    // s24 = a20's build segment incrementally: integer sums are additive
    // over disjoint triggers, so the drained summary is the batch row
    "s24_stream_drift" ->
      s"""$kmeansAssignCtes,
         |bs AS (SELECT n.vec_id,
         |         max(CASE WHEN n.nn = 0 OR c.c_nn = 0 THEN 0.0
         |             ELSE list_dot_product(n.q::DOUBLE[], c.c_q::DOUBLE[]) / (sqrt(n.nn) * sqrt(c.c_nn)) END) AS sim
         |       FROM n CROSS JOIN c GROUP BY n.vec_id),
         |f AS (SELECT CAST(round(sim * 1000000) AS BIGINT) AS fit_q FROM bs)
         |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(fit_q) AS DOUBLE) / (count(*) * 1000000.0) AS mean_fit,
         |  CAST(count(CASE WHEN fit_q < 500000 THEN 1 END) AS DOUBLE) / count(*) AS p_low
         |FROM f""".stripMargin,

    "a03_ann_ivf" -> a03Oracle,

    // a27: the quantized corpus joined against the query slice, ranked
    // by raw dot; n consumed twice → materialized via the allowlist
    "a27_mips_topk" ->
      s"""WITH ${PipelineQueries.quantCte},
         |sc27 AS (
         |  SELECT p.vec_id AS q_id, a.vec_id AS n_id,
         |    CAST(list_dot_product(a.q::DOUBLE[], p.q::DOUBLE[]) AS DOUBLE) AS sim
         |  FROM n a JOIN (SELECT vec_id, q FROM n WHERE vec_id < 5) p
         |    ON a.vec_id <> p.vec_id)
         |SELECT q_id, n_id, sim, rk FROM (
         |  SELECT q_id, n_id, sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
         |  FROM sc27)
         |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    // a26: the shared assignment CTEs + the grouped 2-means iterations;
    // deep chain with corpus_a consumed throughout → materialized
    "a26_cell_split" ->
      s"""$kmeansAssignCtes,
         |cen26 AS (SELECT c_id, count(*) AS n FROM corpus_a GROUP BY 1),
         |cap26 AS (SELECT (sum(n) + count(*) - 1) // count(*) AS cap FROM cen26),
         |hot26 AS (SELECT c_id, row_number() OVER (ORDER BY c_id) - 1 AS hrk
         |          FROM cen26 CROSS JOIN cap26 WHERE n > cap),
         |hv26 AS (SELECT a.vec_id, a.q, a.nn, a.c_id
         |         FROM corpus_a a JOIN hot26 USING (c_id)),
         |sd26 AS (SELECT c_id, vec_id, q,
         |           row_number() OVER (PARTITION BY c_id
         |             ORDER BY ${PipelineQueries.h60sql("CAST(vec_id AS VARCHAR)")}, vec_id) AS rn
         |         FROM hv26),
         |sc26_0 AS (SELECT c_id, CAST(rn - 1 AS BIGINT) AS sub, q AS c_q,
         |             list_dot_product(q::DOUBLE[], q::DOUBLE[]) AS c_nn
         |           FROM sd26 WHERE rn <= 2),
         |${splitIterCtes(1)},
         |${splitIterCtes(2)},
         |fin26 AS (
         |  SELECT c_id, vec_id, sub FROM (
         |    SELECT v.c_id, v.vec_id, s.sub,
         |      row_number() OVER (PARTITION BY v.c_id, v.vec_id ORDER BY
         |        CASE WHEN v.nn = 0 OR s.c_nn = 0 THEN 0.0
         |             ELSE list_dot_product(v.q::DOUBLE[], s.c_q::DOUBLE[]) / (sqrt(v.nn) * sqrt(s.c_nn)) END DESC,
         |        s.sub ASC) AS srk
         |    FROM hv26 v JOIN sc26_2 s USING (c_id)) WHERE srk = 1),
         |base26 AS (SELECT max(c_id) + 1 AS b FROM c),
         |splitcen AS (
         |  SELECT b + 2 * hrk + sub AS c_id, h.c_id AS parent_id, count(*) AS n
         |  FROM fin26 f JOIN hot26 h ON f.c_id = h.c_id CROSS JOIN base26
         |  GROUP BY 1, 2),
         |coldcen AS (
         |  SELECT c_id, c_id AS parent_id, n FROM cen26
         |  WHERE c_id NOT IN (SELECT c_id FROM hot26))
         |SELECT CAST(c_id AS BIGINT) AS c_id, CAST(parent_id AS BIGINT) AS parent_id,
         |  CAST(n AS BIGINT) AS n
         |FROM (SELECT * FROM splitcen UNION ALL SELECT * FROM coldcen)
         |ORDER BY c_id""".stripMargin,

    // a25: the shared assignment CTEs + a same-cell self-join, top-3 per
    // node — corpus_a consumed twice → materialized via the allowlist
    "a25_knn_graph" ->
      s"""$kmeansAssignCtes,
         |sc25 AS (
         |  SELECT b.vec_id AS q_id, a.vec_id AS n_id,
         |    CASE WHEN a.nn = 0 OR b.nn = 0 THEN 0.0
         |         ELSE list_dot_product(a.q::DOUBLE[], b.q::DOUBLE[]) / (sqrt(a.nn) * sqrt(b.nn)) END AS sim
         |  FROM corpus_a a JOIN corpus_a b ON a.c_id = b.c_id AND a.vec_id <> b.vec_id)
         |SELECT q_id, n_id, sim, rk FROM (
         |  SELECT q_id, n_id, sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
         |  FROM sc25)
         |WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin,

    "a06_ann_pq" -> a06Oracle,

    "a07_ann_ivfpq" -> a07Oracle,

    // a13 ≡ a07: frozen full-corpus codebooks + append ≡ rebuild make
    // the persisted index serve the live path's exact results
    "a13_ann_ivfpq_index" -> a07Oracle,
    "a17_ann_ivfpq_refine" -> a17Oracle,

    // s18 ≡ a07: micro-batched appends under frozen codebooks are
    // per-row pure — drain order cannot matter
    "s18_stream_ivfpq_ingest" -> a07Oracle,
    // s26 ≡ a21: residual encode is per-row-pure under frozen books
    "s26_stream_rpq_ingest" -> a21Oracle,

    // a14: a03's serving restricted to the lang='en' candidate universe
    // (queries themselves stay unfiltered); codebook trains on the full
    // corpus — the fixture's embeddings↔documents ids align 1:1, so the
    // build-side join drops nothing
    "a14_ann_filtered" ->
      s"""$kmeansAssignCtes,
         |probes14 AS (SELECT vec_id AS q_id, q AS q_q, nn AS q_nn, c_id
         |             FROM assign WHERE crk <= 2 AND vec_id < 5),
         |scored14 AS (
         |  SELECT p.q_id, a.vec_id AS n_id,
         |    CASE WHEN a.nn = 0 OR p.q_nn = 0 THEN 0.0
         |         ELSE list_dot_product(a.q::DOUBLE[], p.q_q::DOUBLE[]) / (sqrt(a.nn) * sqrt(p.q_nn)) END AS sim
         |  FROM corpus_a a
         |    JOIN documents dd ON dd.doc_id = a.vec_id AND dd.lang = 'en'
         |    JOIN probes14 p ON a.c_id = p.c_id AND a.vec_id <> p.q_id)
         |SELECT q_id, n_id, sim, rk FROM (
         |  SELECT q_id, n_id, sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
         |  FROM scored14)
         |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    // the round-11 chain end-to-end: NB gate (nbQualityCtes) + SemDeDup
    // over the admitted subset in the full-corpus cluster space
    // (kmeansAssignCtes' corpus_a restricted to admitted ids) + the p02
    // token-budget window on mean per-token log-odds
    "p25_model_curation" ->
      s"""$kmeansAssignCtes,
         |${PipelineQueries.nbQualityCtes},
         |adm AS (SELECT doc_id, n_tokens, score_q FROM nb WHERE score_q > 0),
         |ca AS (SELECT c.vec_id, c.q, c.nn, c.c_id
         |       FROM corpus_a c JOIN adm ON c.vec_id = adm.doc_id),
         |drops AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM ca a JOIN ca b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
         |  WHERE CASE WHEN a.nn = 0 OR b.nn = 0 THEN 0.0
         |        ELSE list_dot_product(a.q::DOUBLE[], b.q::DOUBLE[]) / (sqrt(a.nn) * sqrt(b.nn)) END >= 0.4),
         |kept AS (SELECT vec_id FROM ca
         |         WHERE vec_id NOT IN (SELECT vec_id FROM drops)),
         |sel AS (
         |  SELECT adm.doc_id, adm.n_tokens,
         |    adm.score_q::DOUBLE / (adm.n_tokens * 1000000.0) AS q
         |  FROM adm JOIN kept ON kept.vec_id = adm.doc_id),
         |o AS (SELECT doc_id, n_tokens, q,
         |  sum(n_tokens) OVER (ORDER BY q DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM sel)
         |SELECT doc_id, n_tokens, q FROM o WHERE cum <= 600
         |ORDER BY doc_id""".stripMargin,

    "a05_semdedup" -> a05Oracle,
    // d23: cluster medoids — in-cluster micro-unit score sums, argmax
    "d23_cluster_medoids" -> d23Oracle,

    // the streamed appends land in the same frozen-codebook coordinate
    // system as a from-scratch build, so serving ≡ a03's live path
    "s08_stream_ivf_ingest" -> a03Oracle,

    // the stream twin of t13: identical SQL — ordered-arrival incremental
    // keep-first must equal the batch global keep-first exactly
    "s11_stream_novelty" -> {
      val k = 8
      val gram = (0 until k).map(j => if (j == 0) "tk[i]" else s"tk[i+$j]")
        .mkString(" || ' ' || ")
      s"""WITH base AS (
         |  SELECT a.doc_id, a.text || ' ' || b.text AS text
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
         |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM base),
         |kgs AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - ${k - 1}),
         |          i -> {'pos': i, 'h': ${PipelineQueries.h60sql(gram)}})) AS u
         |        FROM tok WHERE len(tk) >= $k),
         |kg AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM kgs),
         |rk AS (SELECT doc_id, pos,
         |         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS r FROM kg),
         |win AS (SELECT doc_id, count(*) AS n_novel FROM rk WHERE r = 1 GROUP BY doc_id),
         |tot AS (SELECT doc_id, count(*) AS n_windows FROM kg GROUP BY doc_id)
         |SELECT t.doc_id, t.n_windows,
         |  coalesce(w.n_novel, 0) AS n_novel,
         |  CAST(coalesce(w.n_novel, 0) AS DOUBLE) / t.n_windows AS novelty
         |FROM tot t LEFT JOIN win w ON t.doc_id = w.doc_id
         |ORDER BY t.doc_id""".stripMargin
    },

    "m02_media_chunks" ->
      """WITH g AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1, CAST(ceil(length(text) / 32.0) AS BIGINT))) AS frame_idx
        |  FROM documents WHERE length(text) > 0),
        |f AS (SELECT doc_id, frame_idx,
        |        substr(text, CAST((frame_idx - 1) * 32 + 1 AS BIGINT), 32) AS frame
        |      FROM g)
        |SELECT doc_id, frame_idx,
        |  CAST(length(frame) AS BIGINT) AS frame_len,
        |  CAST(list_sum(list_transform(generate_series(1, length(frame)),
        |    i -> ascii(substr(frame, i, 1)))) AS BIGINT) AS frame_sum,
        |  lower(hex(CAST(substr(frame, 1, 8) AS BLOB))) AS head_hex
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    // frame-signature Jaccard over the base ∪ clipped corpus; same frame
    // reconstruction as m02, df cap replayed before the pair join
    "m11_video_neardup" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 160),
        |un AS (SELECT doc_id, text FROM d
        |       UNION ALL SELECT doc_id + 100000, substr(text, 33) FROM d),
        |g AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1, CAST(ceil(length(text) / 32.0) AS BIGINT))) AS fi
        |  FROM un WHERE length(text) > 0),
        |fr AS (SELECT doc_id, substr(text, CAST((fi - 1) * 32 + 1 AS BIGINT), 32) AS frame FROM g),
        |sg AS (SELECT DISTINCT doc_id,
        |         CAST(length(frame) AS VARCHAR) || '_' ||
        |         CAST(CAST(list_sum(list_transform(generate_series(1, length(frame)),
        |           i -> ascii(substr(frame, i, 1)))) AS BIGINT) AS VARCHAR) || '_' ||
        |         lower(hex(CAST(substr(frame, 1, 8) AS BLOB))) AS sig
        |       FROM fr),
        |ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sig FROM sg GROUP BY doc_id),
        |hot AS (SELECT sig FROM sg GROUP BY sig HAVING count(*) > 50),
        |cp AS (SELECT doc_id, sig FROM sg WHERE sig NOT IN (SELECT sig FROM hot))
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(count(*) AS BIGINT) AS inter,
        |  na.n_sig + nb.n_sig - count(*) AS uni,
        |  CAST(count(*) AS DOUBLE) / (na.n_sig + nb.n_sig - count(*)) AS jaccard
        |FROM cp a JOIN cp b ON a.sig = b.sig AND a.doc_id < b.doc_id
        |JOIN ns na ON na.doc_id = a.doc_id
        |JOIN ns nb ON nb.doc_id = b.doc_id
        |GROUP BY a.doc_id, b.doc_id, na.n_sig, nb.n_sig
        |HAVING CAST(count(*) AS DOUBLE) / (na.n_sig + nb.n_sig - count(*)) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,

    "m03_frame_sample" ->
      """WITH g AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1, CAST(ceil(length(text) / 32.0) AS BIGINT))) AS frame_idx
        |  FROM documents WHERE length(text) > 0),
        |f AS (SELECT doc_id, frame_idx,
        |        substr(text, CAST((frame_idx - 1) * 32 + 1 AS BIGINT), 32) AS frame
        |      FROM g WHERE (frame_idx - 1) % 4 = 0)
        |SELECT doc_id, frame_idx,
        |  CAST(length(frame) AS BIGINT) AS frame_len,
        |  CAST(list_sum(list_transform(generate_series(1, length(frame)),
        |    i -> ascii(substr(frame, i, 1)))) AS BIGINT) AS frame_sum,
        |  lower(hex(CAST(substr(frame, 1, 8) AS BLOB))) AS head_hex
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "m09_scene_cuts" ->
      """WITH g AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1, CAST(ceil(length(text) / 32.0) AS BIGINT))) AS frame_idx
        |  FROM documents WHERE length(text) > 0),
        |f AS (SELECT doc_id, frame_idx,
        |        substr(text, CAST((frame_idx - 1) * 32 + 1 AS BIGINT), 32) AS frame
        |      FROM g),
        |s AS (SELECT doc_id, frame_idx,
        |        CAST(list_sum(list_transform(generate_series(1, length(frame)),
        |          i -> ascii(substr(frame, i, 1)))) AS BIGINT) AS frame_sum
        |      FROM f),
        |d AS (SELECT doc_id, frame_idx, frame_sum,
        |        lag(frame_sum) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev_sum
        |      FROM s)
        |SELECT doc_id, frame_idx, frame_sum - prev_sum AS delta
        |FROM d WHERE prev_sum IS NOT NULL AND abs(frame_sum - prev_sum) > 200
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "t05_winnowing" -> {
      val h60 = (arg: String) => s"CAST('0x' || substr(md5($arg), 1, 15) AS BIGINT)"
      s"""WITH h AS (
         |  SELECT doc_id, list_transform(generate_series(1, length(text) - 4),
         |    i -> ${h60("substr(text, i, 5)")}) AS hl
         |  FROM documents WHERE length(text) >= 5),
         |w AS (SELECT doc_id, CASE WHEN len(hl) >= 4
         |        THEN list_transform(generate_series(1, len(hl) - 3), j -> list_min(hl[j:j+3]))
         |        ELSE [list_min(hl)] END AS mins FROM h)
         |SELECT doc_id, unnest(list_distinct(mins)) AS fp
         |FROM w ORDER BY doc_id, fp""".stripMargin
    },

    "p01_curation" -> {
      val profiles = graft.ops.TextAnalysis.defaultProfiles
      val hits = profiles.map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString(", ")
        s"CAST(len(list_filter(tk, w -> w IN ($lst))) AS BIGINT) AS s_$lang"
      }.mkString(",\n    ")
      val langsSorted = profiles.map(_._1).sorted
      val m = "greatest(" + profiles.map(p => s"s_${p._1}").mkString(", ") + ")"
      val pred = "CASE " + langsSorted.map(l => s"WHEN s_$l = $m THEN '$l'").mkString(" ") + " END"
      val en = profiles.head._2.map(w => s"'$w'").mkString(", ")
      val h60 = (a: String) => s"CAST('0x' || substr(md5($a), 1, 15) AS BIGINT)"
      val bandKeys = (0 until 4).map { b =>
        s"'${b}_' || CAST(m${2 * b} AS VARCHAR) || '_' || CAST(m${2 * b + 1} AS VARCHAR)"
      }.mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS tk
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, text, tk,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(tk) END AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(tk, w -> w IN ($en))) AS BIGINT) AS n_stop,
         |    $hits
         |  FROM t),
         |scored AS (
         |  SELECT doc_id, text, tk, $pred AS lang,
         |    least(1.0, greatest(0.0,
         |      0.4 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END))) AS q
         |  FROM f),
         |base AS (SELECT * FROM scored WHERE lang = 'en' AND q >= 0.4),
         |fp AS (
         |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fpv
         |  FROM base),
         |keep1 AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fpv),
         |s1 AS (SELECT base.* FROM base JOIN keep1 USING (doc_id)),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
         |  FROM s1 WHERE len(tk) >= 3),
         |sig AS (SELECT doc_id, ${PipelineQueries.minhashCols} FROM sh GROUP BY doc_id),
         |banded AS (SELECT doc_id, unnest([$bandKeys]) AS band_key FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         |p AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |dropb AS (
         |  SELECT DISTINCT p.b_id AS doc_id
         |  FROM p JOIN cand ON p.a_id = cand.a_id AND p.b_id = cand.b_id
         |    JOIN cnt ca ON p.a_id = ca.doc_id JOIN cnt cb ON p.b_id = cb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (ca.c + cb.c - inter) >= 0.5)
         |SELECT doc_id, lang, q
         |FROM s1 ANTI JOIN dropb USING (doc_id)
         |WHERE ${h60("CAST(doc_id AS VARCHAR)")} % 100 < 50
         |ORDER BY doc_id""".stripMargin
    },

    "p02_token_budget" -> {
      val en = graft.ops.TextAnalysis.defaultProfiles.head._2.map(w => s"'$w'").mkString(", ")
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      w -> w IN ($en))) AS BIGINT) AS n_stop
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, n_tokens,
         |    least(1.0, greatest(0.0,
         |      0.4 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END))) AS q
         |  FROM f),
         |o AS (
         |  SELECT doc_id, n_tokens, q,
         |    sum(n_tokens) OVER (ORDER BY q DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM d)
         |SELECT doc_id, n_tokens, q FROM o WHERE cum <= 12000 ORDER BY doc_id""".stripMargin
    },

    // p02's oracle with the output/budget token column re-denominated to
    // BPE pre-tokens; the quality score still rides the whitespace count
    "p16_token_budget_bpe" -> {
      val en = graft.ops.TextAnalysis.defaultProfiles.head._2.map(w => s"'$w'").mkString(", ")
      val bpe = graft.ops.RegexBpeTokenizer.countSql("text")
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_ws,
         |    $bpe AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      w -> w IN ($en))) AS BIGINT) AS n_stop
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, n_tokens,
         |    least(1.0, greatest(0.0,
         |      0.4 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_ws > 0 THEN CAST(n_stop AS DOUBLE) / n_ws ELSE 0.0 END))) AS q
         |  FROM f),
         |o AS (
         |  SELECT doc_id, n_tokens, q,
         |    sum(n_tokens) OVER (ORDER BY q DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM d)
         |SELECT doc_id, n_tokens, q FROM o WHERE cum <= 12000 ORDER BY doc_id""".stripMargin
    },

    // the subword-count ground truth: fixture-vocab segment encodings as
    // literals (independently pinned in TokenizerSpec) + digit counts,
    // then p02's budget-prefix window
    "p22_token_budget_subword" -> {
      val seg = graft.ops.MergesBpeTokenizer.segmentCountSql("c_mktsegment")
      s"""WITH d AS (
         |  SELECT CAST(c_custkey AS BIGINT) AS doc_id,
         |    $seg + CAST(length(CAST(c_custkey AS VARCHAR)) AS BIGINT) AS n_tokens,
         |    CAST(c_custkey % 97 AS DOUBLE) / 97.0 AS q
         |  FROM customer),
         |o AS (
         |  SELECT doc_id, n_tokens, q,
         |    sum(n_tokens) OVER (ORDER BY q DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM d)
         |SELECT doc_id, n_tokens, q FROM o WHERE cum <= 8000 ORDER BY doc_id""".stripMargin
    },

    // p02's quality formula + the plain global row_number the
    // tier-bucketed plan must reproduce exactly
    "p20_curriculum_order" -> {
      val en = graft.ops.TextAnalysis.defaultProfiles.head._2.map(w => s"'$w'").mkString(", ")
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      w -> w IN ($en))) AS BIGINT) AS n_stop
         |  FROM documents),
         |d AS (
         |  SELECT doc_id,
         |    least(1.0, greatest(0.0,
         |      0.4 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END)
         |      + 0.3 * (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END))) AS q
         |  FROM f)
         |SELECT doc_id, q, row_number() OVER (ORDER BY q DESC, doc_id) AS rank
         |FROM d ORDER BY doc_id""".stripMargin
    },

    // p28: per-epoch permutation = the SAME scaled double both engines
    // derive from the md5 hash (division by 2^60 is order-preserving up
    // to double rounding — so the oracle orders by the scaled value,
    // not the raw hash), ranked per epoch, steps offset by epoch
    "p28_epoch_schedule" -> {
      val h = PipelineQueries.h60sql(
        "CAST(e.epoch AS VARCHAR) || '_' || CAST(d.doc_id AS VARCHAR)")
      s"""WITH e AS (SELECT unnest(generate_series(1, 2)) AS epoch),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
         |s AS (SELECT CAST(e.epoch AS BIGINT) AS epoch, d.doc_id,
         |        CAST($h AS DOUBLE) / 1152921504606846976.0 AS score
         |      FROM e CROSS JOIN documents d),
         |r AS (SELECT epoch, doc_id, score,
         |        row_number() OVER (PARTITION BY epoch
         |          ORDER BY score DESC, doc_id ASC) AS rk
         |      FROM s)
         |SELECT epoch, doc_id, CAST(rk + (epoch - 1) * n.total AS BIGINT) AS step
         |FROM r CROSS JOIN n ORDER BY step""".stripMargin
    },

    "s05_stream_stream_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000000000 AS ts_s FROM events),
        |c AS (SELECT user_id, event_id AS l_event, ts_s AS l_ts FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS r_event, ts_s AS r_ts FROM e WHERE event_type = 'purchase')
        |SELECT c.user_id, l_event, l_ts, r_event, r_ts
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND r_ts >= l_ts AND r_ts <= l_ts + 3600
        |ORDER BY c.user_id, l_event, r_event""".stripMargin,

    "s04_sessionization" ->
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_ns(ts) // 1000000000 AS ts_s FROM events),
        |x AS (SELECT user_id, event_id, ts_s,
        |        lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev
        |      FROM e),
        |y AS (SELECT user_id, event_id, ts_s,
        |        CASE WHEN prev IS NULL OR ts_s - prev > 3600 THEN 1 ELSE 0 END AS new_sess
        |      FROM x),
        |z AS (SELECT user_id, ts_s,
        |        CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        |      FROM y)
        |SELECT user_id, sess_id, count(*) AS n_events,
        |  min(ts_s) AS start_s, max(ts_s) AS end_s, max(ts_s) - min(ts_s) AS dur_s
        |FROM z GROUP BY 1, 2 ORDER BY user_id, sess_id""".stripMargin,

    "x19_shard_build" ->
      """WITH ids AS (SELECT CAST(c_custkey AS VARCHAR) AS id FROM customer),
        |sh AS (SELECT id,
        |  CAST(CAST('0x' || substr(md5(id), 1, 4) AS INT) % 8 AS BIGINT) AS shard FROM ids)
        |SELECT shard, count(*) AS n, min(id) AS min_id
        |FROM sh GROUP BY shard ORDER BY shard""".stripMargin,

    // murmur3_x86_32(seed 0) re-derived in SQL: 32-bit modular multiply
    // via 16-bit limbs ((a%2^16)*c + (((a//2^16)*c)%2^16)*2^16) % 2^32,
    // rotl r as (x*2^r)%2^32 + x//2^(32-r), sequential block fold via
    // list_reduce, nested single-element list_transform as let-binding.
    // ORACLE SCOPE (fixture-pinned, NOT fully general): (a) `ord()` code
    // points + `len()` char counts equal SolrRouteHash's UTF-8 bytes only
    // for ASCII ids — the c_mktsegment!c_custkey fixture is ASCII by
    // construction (non-ASCII parity is pinned on the Scala side by
    // SolrRouteSpec's published murmur3 vectors instead); (b)
    // string_split(id,'!')[2] takes the second segment, equal to the
    // Scala side's everything-after-the-first-'!' only for single-'!'
    // ids, which the fixture guarantees (compositeId's own convention
    // is at most one shard-key '!' separator anyway).
    "x41_solrcloud_shards" ->
      """WITH ids AS (
        |  SELECT CASE WHEN c_custkey % 3 = 0
        |    THEN c_mktsegment || '!' || CAST(c_custkey AS VARCHAR)
        |    ELSE CAST(c_custkey AS VARCHAR) END AS id
        |  FROM customer),
        |parts AS (
        |  SELECT id, 0 AS part_no,
        |    CASE WHEN contains(id, '!') THEN string_split(id, '!')[1] ELSE id END AS s
        |  FROM ids
        |  UNION ALL
        |  SELECT id, 1 AS part_no, string_split(id, '!')[2] AS s
        |  FROM ids WHERE contains(id, '!')),
        |mm0 AS (
        |  SELECT id, part_no, CAST(len(s) AS BIGINT) AS n,
        |    list_transform(generate_series(1, len(s)),
        |      i -> CAST(ord(substr(s, i, 1)) AS BIGINT)) AS bs
        |  FROM parts),
        |mm1 AS (
        |  SELECT id, part_no, n, bs,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(0, CAST(n // 4 AS INT) - 1), j ->
        |        bs[4*j+1] + bs[4*j+2]*256 + bs[4*j+3]*65536 + bs[4*j+4]*16777216)),
        |      (acc, kin) ->
        |        list_transform([((kin % 65536) * 3432918353 +
        |            (((kin // 65536) * 3432918353) % 65536) * 65536) % 4294967296], t1 ->
        |        list_transform([((t1 * 32768) % 4294967296) + (t1 // 131072)], t2 ->
        |        list_transform([((t2 % 65536) * 461845907 +
        |            (((t2 // 65536) * 461845907) % 65536) * 65536) % 4294967296], t3 ->
        |        list_transform([xor(acc, t3)], t4 ->
        |        list_transform([((t4 * 8192) % 4294967296) + (t4 // 524288)], t5 ->
        |          (t5 * 5 + 3864292196) % 4294967296
        |        )[1])[1])[1])[1])[1]) AS hbody
        |  FROM mm0),
        |mm2 AS (
        |  SELECT id, part_no, n,
        |    CASE WHEN n % 4 = 0 THEN hbody
        |    ELSE xor(hbody,
        |      list_transform([((kt % 65536) * 3432918353 +
        |          (((kt // 65536) * 3432918353) % 65536) * 65536) % 4294967296], t1 ->
        |      list_transform([((t1 * 32768) % 4294967296) + (t1 // 131072)], t2 ->
        |        ((t2 % 65536) * 461845907 +
        |          (((t2 // 65536) * 461845907) % 65536) * 65536) % 4294967296
        |      )[1])[1]) END AS hmix
        |  FROM (SELECT id, part_no, n, hbody,
        |    CASE WHEN n % 4 >= 1 THEN
        |      bs[CAST((n // 4) * 4 + 1 AS INT)]
        |      + CASE WHEN n % 4 >= 2 THEN bs[CAST((n // 4) * 4 + 2 AS INT)] * 256 ELSE 0 END
        |      + CASE WHEN n % 4 >= 3 THEN bs[CAST((n // 4) * 4 + 3 AS INT)] * 65536 ELSE 0 END
        |    ELSE 0 END AS kt FROM mm1)),
        |mm3 AS (SELECT id, part_no, xor(hmix, n) AS h FROM mm2),
        |mm4 AS (SELECT id, part_no, xor(h, h // 65536) AS h FROM mm3),
        |mm5 AS (SELECT id, part_no, ((h % 65536) * 2246822507 +
        |  (((h // 65536) * 2246822507) % 65536) * 65536) % 4294967296 AS h FROM mm4),
        |mm6 AS (SELECT id, part_no, xor(h, h // 8192) AS h FROM mm5),
        |mm7 AS (SELECT id, part_no, ((h % 65536) * 3266489909 +
        |  (((h // 65536) * 3266489909) % 65536) * 65536) % 4294967296 AS h FROM mm6),
        |mm8 AS (SELECT id, part_no, xor(h, h // 65536) AS h FROM mm7),
        |hh AS (
        |  SELECT id,
        |    CASE WHEN count(*) = 2
        |      THEN (max(CASE WHEN part_no = 0 THEN h END) // 65536) * 65536
        |         + max(CASE WHEN part_no = 1 THEN h END) % 65536
        |      ELSE max(h) END AS h
        |  FROM mm8 GROUP BY id),
        |sh AS (SELECT id, CAST(least(7, ((h + 2147483648) % 4294967296) // 536870912) AS BIGINT) AS shard
        |  FROM hh)
        |SELECT shard, count(*) AS n, min(id) AS min_id
        |FROM sh GROUP BY shard ORDER BY shard""".stripMargin,

    "x20_custom_mapper" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
        |  upper(c_name) AS name_u, upper(c_mktsegment) AS mkt_u
        |FROM customer ORDER BY id""".stripMargin,

    "x22_morphline_vars" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
        |  c_name AS name_s, 'hbase' AS source_s
        |FROM customer ORDER BY id""".stripMargin,

    "x23_value_mapper" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
        |  string_split(c_name, '#')[1] AS p1,
        |  string_split(c_name, '#')[2] AS p2,
        |  CAST(NULL AS VARCHAR) AS seg_p
        |FROM customer ORDER BY id""".stripMargin,

    "x27_morphline_replace" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
        |  regexp_replace(replace(c_name, 'Customer#', 'cust-'),
        |    '^cust-0+', 'cust-') AS name_s,
        |  CAST(NULL AS VARCHAR) AS seg_gone
        |FROM customer ORDER BY id""".stripMargin,

    "x29_morphline_values" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
        |  'hbase' AS src1, 'graft' AS src2,
        |  c_name AS name_s, 'suffix' AS name_tag,
        |  CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'cars' ELSE 'rest' END AS route_s
        |FROM customer ORDER BY id""".stripMargin,

    // first-match-wins: AUTOMOBILE → rule 1 (cls=AUTO + name rewrite),
    // BUILDING → rule 2 (cls only), everything else → catch-all split
    "x28_morphline_tryrules" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
        |  CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'AUTO'
        |       WHEN c_mktsegment = 'BUILDING' THEN 'BUILDING'
        |       ELSE c_mktsegment END AS cls,
        |  CASE WHEN c_mktsegment = 'AUTOMOBILE'
        |       THEN replace(c_name, 'Customer#', 'car-')
        |       ELSE c_name END AS name_s
        |FROM customer ORDER BY id""".stripMargin,

    "x24_morphline_grok" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
        |  regexp_extract(c_name, '^([A-Za-z]+)#(\d+)$', 1) AS grok_word,
        |  regexp_extract(c_name, '^([A-Za-z]+)#(\d+)$', 2) AS grok_num,
        |  string_split(c_name, '#')[1] AS p1,
        |  string_split(c_name, '#')[2] AS p2,
        |  '1709288100000' AS when_ms
        |FROM customer ORDER BY id""".stripMargin,

    // translate-with-fallback is a CASE with ELSE; the fallback-less
    // rule translate routes exactly the dictionary's domain
    "x34_morphline_translate" ->
      """SELECT c_custkey AS id,
        |  CASE c_mktsegment WHEN 'BUILDING' THEN 'bld'
        |    WHEN 'AUTOMOBILE' THEN 'auto' WHEN 'MACHINERY' THEN 'mach'
        |    ELSE 'other' END AS seg_code,
        |  CASE WHEN c_mktsegment IN ('BUILDING', 'MACHINERY')
        |       THEN 'industrial' ELSE 'consumer' END AS route
        |FROM customer ORDER BY id""".stripMargin,

    // per-value iteration ground truth: c_name is the only grok match,
    // split fans out name (2 parts) + nationkey (1), the literal times
    // render to pinned epoch millis with the bad value dropped
    "x35_morphline_multivalue" ->
      """SELECT c_custkey AS id,
        |  CAST(1 AS BIGINT) AS n_word,
        |  string_split(c_name, '#')[1] AS word,
        |  string_split(c_name, '#')[2] AS num,
        |  CAST(3 AS BIGINT) AS n_parts,
        |  string_split(c_name, '#')[1] AS p1,
        |  string_split(c_name, '#')[2] AS p2,
        |  CAST(c_nationkey AS VARCHAR) AS p3,
        |  CAST(2 AS BIGINT) AS n_times,
        |  '1709288100000' AS t1,
        |  '1748826123000' AS t2
        |FROM customer ORDER BY id""".stripMargin,

    // put-if-absent and literal removal as segment CASEs: BUILDING is
    // already present for BUILDING rows, AUTOMOBILE rows lose their seg
    // tag, everyone gains 'curated' exactly once; tmp empties away and
    // the never-present 'gone' field stays absent
    "x37_morphline_values_ops" ->
      """SELECT c_custkey AS id,
        |  CAST(CASE WHEN c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
        |    THEN 2 ELSE 3 END AS BIGINT) AS n_tags,
        |  CASE WHEN c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
        |    THEN 'BUILDING' ELSE c_mktsegment END AS t1,
        |  CASE WHEN c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
        |    THEN 'curated' ELSE 'BUILDING' END AS t2,
        |  CASE WHEN c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
        |    THEN CAST(NULL AS VARCHAR) ELSE 'curated' END AS t3,
        |  CAST(0 AS BIGINT) AS has_tmp,
        |  CAST(0 AS BIGINT) AS has_gone
        |FROM customer ORDER BY id""".stripMargin,

    // decode(base64(c_name)) is the identity on the base column; of the
    // literal pair only 'aGk=' ('hi') survives the per-value decode
    "x38_morphline_base64" ->
      """SELECT c_custkey AS id,
        |  c_name AS name_rt,
        |  CAST(1 AS BIGINT) AS n_mixed,
        |  'hi' AS m1
        |FROM customer ORDER BY id""".stripMargin,

    // equals/not routing ground truth: BUILDING matches the exact-list
    // equals rule; AUTOMOBILE/HOUSEHOLD fail the not(contains) rule and
    // fall to the catch-all; everything else routes by-not
    "x39_morphline_routing" ->
      """SELECT c_custkey AS id,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN 'by-equals'
        |    WHEN c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD') THEN 'catch-all'
        |    ELSE 'by-not' END AS route,
        |  CASE WHEN c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')
        |    THEN '1' ELSE '0' END AS flagged
        |FROM customer ORDER BY id""".stripMargin,

    // splitKeyValue ground truth from the name column's own arithmetic:
    // the rewritten name yields c_name = customer number; the literal
    // kv pairs trim and accumulate (color twice, size once, the bare
    // token skipped); fields = nv, c_name, kv, attr_color, attr_size
    "x36_morphline_kv" ->
      """SELECT c_custkey AS id,
        |  string_split(c_name, '#')[2] AS cust_num,
        |  CAST(2 AS BIGINT) AS n_color,
        |  'red' AS color1,
        |  'blue' AS color2,
        |  'XL' AS size_v,
        |  CAST(5 AS BIGINT) AS n_fields
        |FROM customer ORDER BY id""".stripMargin,

    // if/contains routing as a CASE on the base column; the then-branch
    // lowercases seg, the else-branch leaves it untouched
    "x32_morphline_if" ->
      """SELECT c_custkey AS id,
        |  CASE WHEN c_mktsegment IN ('BUILDING', 'MACHINERY')
        |       THEN lower(c_mktsegment) ELSE c_mktsegment END AS seg,
        |  CASE WHEN c_mktsegment IN ('BUILDING', 'MACHINERY')
        |       THEN 'industrial' ELSE 'consumer' END AS route
        |FROM customer ORDER BY id""".stripMargin,

    // repeated 'cust' yields both values in order (the second behind a
    // ';' separator); 'enc' form-URL-decodes %20 and '+' to spaces; bare
    // 'flag' is present with an empty value; 'x' lives only in the
    // fragment and must never be read as a query parameter
    "x33_morphline_uriquery" ->
      """SELECT c_custkey AS id,
        |  CAST(c_custkey AS VARCHAR) AS cust1,
        |  CAST(c_custkey * 2 AS VARCHAR) AS cust2,
        |  CAST(2 AS BIGINT) AS n_cust,
        |  c_mktsegment AS seg,
        |  c_mktsegment || ' plus ' || CAST(c_custkey AS VARCHAR) AS enc,
        |  '' AS flag_empty,
        |  CAST(NULL AS VARCHAR) AS x_none
        |FROM customer ORDER BY id""".stripMargin,

    // URI components reconstructed from the same base arithmetic; host
    // lowercased by the chain, fragment absent -> NULL
    "x31_morphline_uri" ->
      """SELECT c_custkey AS id,
        |  'https' AS scheme,
        |  'Shop' || CAST(c_custkey % 7 AS VARCHAR) || '.Example.com:'
        |    || CAST(8000 + c_custkey % 3 AS VARCHAR) AS authority,
        |  'shop' || CAST(c_custkey % 7 AS VARCHAR) || '.example.com' AS host,
        |  CAST(8000 + c_custkey % 3 AS VARCHAR) AS port,
        |  '/seg/' || c_mktsegment AS path,
        |  'cust=' || CAST(c_custkey AS VARCHAR) AS query,
        |  CAST(NULL AS VARCHAR) AS fragment
        |FROM customer ORDER BY id""".stripMargin,

    // the JSON round-trip ground truth: every extracted value must equal
    // the base column it was serialized from
    "x30_morphline_json" ->
      """SELECT c_custkey AS id,
        |  c_name AS name_s,
        |  c_mktsegment AS seg_s,
        |  c_name AS tag1,
        |  c_mktsegment AS tag2,
        |  CAST(2 AS BIGINT) AS n_tags
        |FROM customer ORDER BY id""".stripMargin,

    // qualifier sort order of the info family is
    // acctbal < mktsegment < name < nationkey
    "x21_morphline" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
        |  c_name AS name_s,
        |  c_mktsegment AS dyn_mktsegment,
        |  CAST(c_acctbal AS VARCHAR) AS p_acctbal,
        |  c_name AS p_name
        |FROM customer ORDER BY id""".stripMargin
  )
}
