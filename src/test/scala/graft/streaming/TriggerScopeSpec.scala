package graft.streaming

import graft.SparkSpec

/** [[Drain]] and the [[TriggerScope]] conf seam every drain runs under.
  * A scope leak (conf not restored) would silently re-plan the whole
  * SESSION at trigger width / AQE-off after the first drain. Pins:
  * restore on success AND on an exception, the scoped values inside,
  * the session-width cap for wide inputs; one trigger per input file,
  * checkpoint resume, at-least-once rerun of a failed batch; and that
  * no other code in `src/main` calls `foreachBatch`. */
class TriggerScopeSpec extends SparkSpec {

  private val docLog = org.apache.spark.sql.types.StructType.fromDDL("doc_id long, text string")

  /** Append one parquet file holding `ids` to the log under `dir`. */
  private def addFile(dir: String, ids: Long*): Unit = {
    import spark.implicits._
    ids.map(i => (i, s"t$i")).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(dir)
  }

  /** Drain `work/log` over `work/ckpt`, returning (batch id, sorted doc
    * ids) per micro-batch in order. */
  private def drainIds(work: String): Seq[(Long, Seq[Long])] = {
    val seen = java.util.Collections.synchronizedList(new java.util.ArrayList[(Long, Seq[Long])]())
    Drain.run(spark, s"$work/log", docLog, s"$work/ckpt") { (b, id) =>
      seen.add((id, b.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted))
    }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  private def confPair = (
    spark.conf.get("spark.sql.shuffle.partitions"),
    spark.conf.get("spark.sql.adaptive.enabled"))

  test("scoped body sees trigger width + AQE off; session conf restored after") {
    import spark.implicits._
    val before = confPair
    val b = Seq(1, 2, 3).toDF("x").coalesce(1)
    val inside = TriggerScope.scoped(b)(confPair)
    assert(inside._1.toInt === 4, "1-split trigger floors at 4 shuffle partitions")
    assert(inside._2 === "false", "AQE must be off inside the scope")
    assert(confPair === before, "session conf must restore on success")
  }

  test("conf restores when the body throws") {
    import spark.implicits._
    val before = confPair
    val b = Seq(1).toDF("x")
    intercept[IllegalStateException] {
      TriggerScope.scoped(b)(throw new IllegalStateException("boom"))
    }
    assert(confPair === before, "session conf must restore on failure")
  }

  test("a wide trigger keeps the session width (cluster no-op by construction)") {
    import spark.implicits._
    val sess = spark.sessionState.conf.numShufflePartitions
    val wide = Seq.tabulate(32)(i => i).toDF("x").repartition(32)
    val inside = TriggerScope.scoped(wide)(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(inside === sess, s"32 input splits x4 caps at the session width $sess")
  }

  test("concurrent scopes on distinct sessions are isolated; the parent session is never mutated") {
    // production shape: Supervisor runs several streaming queries on one
    // runtime, each with its OWN cloned session — two overlapping
    // triggers must each see their own scoped conf, and the user session
    // that started them must never observe a mutation (the r17 bug:
    // scoped() wrote the OUTER session's conf from the stream thread)
    val parentBefore = confPair
    val s1 = spark.newSession(); val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "16")
    val b1 = s1.range(3).toDF("x").coalesce(1)   // 1 split  -> width 4
    val b2 = s2.range(32).toDF("x").repartition(2) // 2 splits -> width 8
    TriggerScope.scoped(b1) {
      TriggerScope.scoped(b2) {
        assert(s1.conf.get("spark.sql.shuffle.partitions") === "4")
        assert(s2.conf.get("spark.sql.shuffle.partitions") === "8")
        assert(confPair === parentBefore,
          "the parent session's conf must never be touched by a drain scope")
      }
      assert(s2.conf.get("spark.sql.shuffle.partitions") === "16",
        "inner scope must restore its own session on exit")
      assert(s1.conf.get("spark.sql.shuffle.partitions") === "4",
        "outer scope must still be active on its own session")
    }
    assert(confPair === parentBefore)
  }

  test("the scope reaches a real streaming drain's batch-derived shuffles") {
    // ADVICE r17: foreachBatch frames are bound to the stream's CLONED
    // session (sparkSessionForStream), so scoping the outer session never
    // reached the batch plans. Pin the fix end-to-end: widen the parent
    // session, run a real drain, and assert a genuine shuffle INSIDE the
    // scope plans at trigger width — while the parent session stays wide
    // and unmutated throughout.
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_tscope").toString
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$work/log")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      @volatile var scopedWidth = -1
      @volatile var shufflePartitions = -1
      @volatile var parentDuring: String = null
      Drain.run(spark, s"$work/log", docLog, s"$work/ckpt") { (b, _) =>
        scopedWidth = b.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
        // a real exchange planned inside the scope (AQE is off there,
        // so the shuffle's partition count IS the scoped conf)
        shufflePartitions =
          b.groupBy(org.apache.spark.sql.functions.col("text")).count()
            .rdd.getNumPartitions
        parentDuring = spark.conf.get("spark.sql.shuffle.partitions")
      }
      assert(scopedWidth === 4, "a 1-split trigger must plan at the floor width 4")
      assert(shufflePartitions === 4,
        "the batch-derived groupBy must shuffle at trigger width, not session width")
      assert(parentDuring === "16",
        "the parent session must keep its own width while a drain is scoped")
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "16")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("Drain.run: each input file is one trigger") {
    val work = java.nio.file.Files.createTempDirectory("graft_drain1").toString
    Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L, 6L)).foreach(ids => addFile(s"$work/log", ids: _*))
    val got = drainIds(work)
    assert(got.map(_._1) === Seq(0L, 1L, 2L))
    assert(got.map(_._2).toSet === Set(Seq(1L, 2L), Seq(3L), Seq(4L, 5L, 6L)))
  }

  test("Drain.run: a rerun over the same checkpoint processes only the added file") {
    val work = java.nio.file.Files.createTempDirectory("graft_drain2").toString
    addFile(s"$work/log", 1L, 2L)
    addFile(s"$work/log", 3L)
    assert(drainIds(work).map(_._1) === Seq(0L, 1L))
    addFile(s"$work/log", 7L, 8L)
    assert(drainIds(work) === Seq((2L, Seq(7L, 8L))))
    assert(drainIds(work) === Seq.empty, "nothing new: no batch runs")
  }

  test("Drain.run: a failure in perBatch surfaces, and a rerun processes that batch again") {
    val work = java.nio.file.Files.createTempDirectory("graft_drain3").toString
    Seq(1L, 2L, 3L).foreach(i => addFile(s"$work/log", i))
    val ran = java.util.Collections.synchronizedList(new java.util.ArrayList[(Long, Seq[Long])]())
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Drain.run(spark, s"$work/log", docLog, s"$work/ckpt") { (b, id) =>
        ran.add((id, b.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted))
        if (id == 1L) throw new IllegalStateException("boom in batch 1")
      }
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("boom in batch 1")), causes)
    assert(ran.size === 2, "the drain stops at the failed batch")
    // the failed batch was never committed: the rerun starts with it
    val rerun = drainIds(work)
    assert(rerun.map(_._1) === Seq(1L, 2L))
    assert(rerun.head === ran.get(1), "the rerun sees the failed batch's file again")
  }

  test("no code in src/main calls foreachBatch outside the drain module") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repository root: $root")
    val walk = java.nio.file.Files.walk(root)
    val offenders =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Drain.scala")
          .filter(p => """\.foreachBatch\b""".r.findFirstIn(java.nio.file.Files.readString(p)).isDefined)
          .map(_.toString).toList
      } finally walk.close()
    assert(offenders.isEmpty, s"foreachBatch outside Drain.scala (use Drain.run or Drain.start): $offenders")
  }
}
