package graft.streaming

import graft.SparkSpec
import graft.core.IndexerCore
import graft.sink.Sharding
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The bucketed index state must (a) rewrite ONLY the buckets a batch's
  * ops hash into, (b) keep untouched buckets on their old directories via
  * the manifest, and (c) produce exactly the state the unbucketed DocOp
  * algebra would. */
class IndexStateSpec extends SparkSpec {

  private val B = 8

  private def ops(rows: (String, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("kind", "id")
      .withColumn("doc", when(col("kind") === "add",
        map(lit("v"), array(col("id")))))
      .withColumn("rowValue", col("id"))
      .withColumn("familyValue", lit(null).cast("string"))
      .withColumn("queryRow", lit(null).cast("string"))
      .withColumn("queryFamily", lit(null).cast("string"))
  }

  /** One deleteByQuery op for the docs whose rowValue is `row`. */
  private def qdel(row: String): DataFrame =
    ops(("deleteByQuery", null)).withColumn("queryRow", lit(row))

  private def stateIds(st: DocStateStore): Set[String] =
    st.read().map(_.select("id").collect().map(_.getString(0)).toSet).getOrElse(Set.empty)

  /** The commit dir's rows must cover exactly the touched buckets — the
    * copy-on-write contract. Layout: one plain parquet dir per commit
    * with the bucket id as a data column. */
  private def commitDirBuckets(dir: String, version: String): Seq[Int] =
    spark.read.parquet(Paths.get(dir, version).toString)
      .select(IndexState.BucketCol).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted

  test("a batch touching k buckets rewrites exactly those buckets' rows") {
    val dir = Files.createTempDirectory("graft_state").toString
    val st = new IndexState(dir, spark, B)

    // batch 0: ids spread over several buckets
    val ids0 = Seq("a", "b", "c", "d", "e", "f", "g", "h")
    val touched0 = MutationStream.applyBatch(st, ops(ids0.map(("add", _)): _*), 0L)
    assert(touched0.toSet == ids0.map(Sharding.md5Shard(_, B)).toSet)
    val manifest0 = st.currentManifest

    // batch 1: one id → exactly one bucket rewritten
    val touched1 = MutationStream.applyBatch(st, ops(("add", "a")), 1L)
    assert(touched1 == Seq(Sharding.md5Shard("a", B)))
    assert(commitDirBuckets(dir, "v000000001") == Seq(Sharding.md5Shard("a", B)),
      "the commit dir must hold only the touched bucket's rows")

    // untouched buckets still point at their batch-0 directories
    val manifest1 = st.currentManifest
    (manifest0 - Sharding.md5Shard("a", B)).foreach { case (k, d) =>
      assert(manifest1(k) == d, s"bucket $k must keep its old dir")
    }
    assert(manifest1(Sharding.md5Shard("a", B)).startsWith("v000000001"))
    assert(stateIds(st) == ids0.toSet)
  }

  test("a dir whose buckets were partially remapped serves only its still-assigned buckets") {
    // v0 holds BOTH a's and b's buckets in one commit dir; updating only
    // "a" remaps a's bucket to v1 while b's keeps v0. Reads must take a
    // ONLY from v1 (the superseded copy still sits in v0's files) — a
    // plain dir union or a global bucket filter would return it twice.
    val dir = Files.createTempDirectory("graft_state").toString
    val st = new IndexState(dir, spark, B)
    val idB = Iterator.from(0).map("b" + _)
      .find(i => Sharding.md5Shard(i, B) != Sharding.md5Shard("a", B)).get
    MutationStream.applyBatch(st, ops(("add", "a"), ("add", idB)), 0L)
    MutationStream.applyBatch(st, ops(("add", "a")), 1L)
    val full = st.read().get.select("id").collect().map(_.getString(0)).toSeq
    assert(full.sorted == Seq("a", idB).sorted, s"stale or duplicate rows: $full")
    val both = Seq("a", idB).map(Sharding.md5Shard(_, B))
    val pruned = st.readBuckets(both).get.select("id").collect().map(_.getString(0)).toSeq
    assert(pruned.sorted == Seq("a", idB).sorted, s"stale or duplicate rows: $pruned")
    // same through the txn-log store
    val tdir = Files.createTempDirectory("graft_txn").toString
    val ts = new TxnLogState(tdir, spark, B)
    MutationStream.applyBatch(ts, ops(("add", "a"), ("add", idB)), 0L)
    MutationStream.applyBatch(ts, ops(("add", "a")), 1L)
    val tfull = ts.read().get.select("id").collect().map(_.getString(0)).toSeq
    assert(tfull.sorted == Seq("a", idB).sorted, s"stale or duplicate rows: $tfull")
  }

  test("re-applying a batch (at-least-once retry) leaves the state unchanged") {
    val dir = Files.createTempDirectory("graft_state").toString
    val st = new IndexState(dir, spark, B)
    MutationStream.applyBatch(st, ops(("add", "a"), ("add", "b")), 0L)
    val b1 = ops(("add", "c"), ("deleteById", "a"))
    MutationStream.applyBatch(st, b1, 1L)
    val afterFirst = stateIds(st)
    // redelivery of the same batch id: DocOp algebra is idempotent and the
    // retry must not read-while-overwriting its own version dirs
    MutationStream.applyBatch(st, b1, 1L)
    assert(stateIds(st) == afterFirst && afterFirst == Set("b", "c"))
    MutationStream.applyBatch(st, b1, 1L)
    assert(stateIds(st) == Set("b", "c"))
  }

  test("vacuum removes only unreachable versions; the live state is untouched") {
    val dir = Files.createTempDirectory("graft_state").toString
    val st = new IndexState(dir, spark, B)
    // two ids in DIFFERENT buckets, so b's bucket stays in v0 throughout
    val idB = Iterator.from(0).map("b" + _)
      .find(i => Sharding.md5Shard(i, B) != Sharding.md5Shard("a", B)).get
    MutationStream.applyBatch(st, ops(("add", "a"), ("add", idB)), 0L)
    MutationStream.applyBatch(st, ops(("add", "a")), 1L) // a's bucket moves to v1
    MutationStream.applyBatch(st, ops(("add", "a")), 2L) // ...and then to v2
    val before = stateIds(st)

    // within the retention window nothing is reclaimed: a reader that
    // resolved the previous manifest may still be scanning those dirs
    assert(st.vacuum().isEmpty, "default grace must keep recently superseded dirs")
    assert(Files.exists(Paths.get(dir, "v000000001")))

    val deleted = st.vacuum(graceMs = 0)
    // v1 is fully unreachable (only a's bucket lived there, superseded by
    // v2); v0 still holds b's bucket and must survive, as must MANIFEST-v2
    assert(deleted.contains("v000000001"), s"deleted=$deleted")
    assert(!deleted.contains("v000000000") && !deleted.exists(_.startsWith("MANIFEST-v000000002")))
    assert(Files.exists(Paths.get(dir, "v000000000")))
    assert(!Files.exists(Paths.get(dir, "v000000001")))
    assert(stateIds(st) == before && before == Set("a", idB))
    assert(st.vacuum(graceMs = 0).isEmpty, "second vacuum finds nothing")
  }

  test("a second writer advancing CURRENT fences the first writer off") {
    val dir = Files.createTempDirectory("graft_state").toString
    val w1 = new IndexState(dir, spark, B)
    MutationStream.applyBatch(w1, ops(("add", "a")), 0L)
    // a second driver opens the same state dir and commits — legal so far
    val w2 = new IndexState(dir, spark, B)
    MutationStream.applyBatch(w2, ops(("add", "b")), 1L)
    // w1's view of CURRENT is now stale: committing would silently drop
    // w2's buckets, so the commit must throw instead
    intercept[java.util.ConcurrentModificationException] {
      MutationStream.applyBatch(w1, ops(("add", "c")), 2L)
    }
    assert(stateIds(w2) == Set("a", "b"), "the fenced commit must change nothing")
  }

  test("a held LOCK file makes a committer fail loudly, and release unblocks it") {
    val dir = Files.createTempDirectory("graft_state").toString
    val st = new IndexState(dir, spark, B)
    MutationStream.applyBatch(st, ops(("add", "a")), 0L)
    Files.createFile(Paths.get(dir, "LOCK"))
    intercept[java.util.ConcurrentModificationException] {
      MutationStream.applyBatch(st, ops(("add", "b")), 1L)
    }
    Files.delete(Paths.get(dir, "LOCK"))
    MutationStream.applyBatch(st, ops(("add", "b")), 2L)
    assert(stateIds(st) == Set("a", "b"))
  }

  test("deleteByQuery widens to every live bucket (row-value addressing cannot be bucket-localized)") {
    val dir = Files.createTempDirectory("graft_state").toString
    val st = new IndexState(dir, spark, B)
    val ids = Seq("a", "b", "c", "d", "e", "f")
    MutationStream.applyBatch(st, ops(ids.map(("add", _)): _*), 0L)
    val liveBuckets = st.currentManifest.keySet

    // query-delete by rowValue: kills "c" wherever its bucket is
    val touched = MutationStream.applyBatch(st, qdel("c"), 1L)
    assert(liveBuckets.subsetOf(touched.toSet),
      s"query-delete must touch every live bucket: live=$liveBuckets touched=$touched")
    assert(stateIds(st) == ids.toSet - "c")
  }

  test("the bucket count is pinned to the state, not the session") {
    val dir = Files.createTempDirectory("graft_state").toString
    val st = new IndexState(dir, spark, B)
    MutationStream.applyBatch(st, ops(("add", "a"), ("add", "b")), 0L)
    // a later open with a DIFFERENT requested count must use the pinned
    // one — otherwise reads resolve to the wrong bucket directories
    val reopened = new IndexState(dir, spark, B * 4)
    assert(reopened.buckets == B)
    MutationStream.applyBatch(reopened, ops(("deleteById", "a")), 1L)
    assert(stateIds(reopened) == Set("b"))
    reopened.vacuum(graceMs = 0)
    assert(new IndexState(dir, spark).buckets == B, "BUCKETS survives vacuum")
  }

  test("bucketed state == unbucketed applyOps, and emptied buckets leave the manifest") {
    val dir = Files.createTempDirectory("graft_state").toString
    val st = new IndexState(dir, spark, B)
    val b0 = ops(("add", "a"), ("add", "b"), ("add", "c"))
    val b1 = ops(("deleteById", "a"), ("add", "d"), ("add", "b"))
    MutationStream.applyBatch(st, b0, 0L)
    MutationStream.applyBatch(st, b1, 1L)

    val expected = IndexerCore.applyOps(
      IndexerCore.applyOps(
        b0.filter(lit(false)).select("id", "doc", "rowValue", "familyValue"), b0),
      b1).select("id").collect().map(_.getString(0)).toSet
    assert(stateIds(st) == expected && expected == Set("b", "c", "d"))

    // delete the last doc of a bucket: the bucket must drop out entirely
    val onlyC = Sharding.md5Shard("c", B)
    assert(st.currentManifest.contains(onlyC))
    MutationStream.applyBatch(st, ops(("deleteById", "c")), 2L)
    if (Set("b", "d").map(Sharding.md5Shard(_, B)).contains(onlyC))
      assert(st.currentManifest.contains(onlyC)) // shared bucket survives
    else
      assert(!st.currentManifest.contains(onlyC))
    assert(stateIds(st) == Set("b", "d"))
  }

  // ---- the same DocOp algebra through the Delta-protocol-shaped adapter:
  // applyBatch is written against DocStateStore, so swapping the metadata
  // protocol (manifest+CURRENT → append-only txn log) must change nothing
  // about the computed state — the SCALE.md claim, pinned here.

  test("TxnLogState: identical final state to IndexState for the same batches") {
    val d1 = Files.createTempDirectory("graft_txn").toString
    val d2 = Files.createTempDirectory("graft_state").toString
    val a = new TxnLogState(d1, spark, B)
    val b = new IndexState(d2, spark, B)
    val batches = Seq(
      ops(("add", "a"), ("add", "b"), ("add", "c")),
      ops(("deleteById", "a"), ("add", "d"), ("add", "b")),
      ops(("add", "e"), ("deleteById", "c")))
    batches.zipWithIndex.foreach { case (ba, i) =>
      val ta = MutationStream.applyBatch(a, ba, i.toLong)
      val tb = MutationStream.applyBatch(b, ba, i.toLong)
      assert(ta.toSet == tb.toSet, s"batch $i must touch the same buckets")
    }
    assert(stateIds(a) == stateIds(b) && stateIds(a) == Set("b", "d", "e"))
    assert(a.liveBuckets == b.liveBuckets)
  }

  test("TxnLogState: a one-id batch writes exactly one bucket's rows; untouched buckets keep their files") {
    val dir = Files.createTempDirectory("graft_txn").toString
    val st = new TxnLogState(dir, spark, B)
    val ids0 = Seq("a", "b", "c", "d", "e", "f", "g", "h")
    MutationStream.applyBatch(st, ops(ids0.map(("add", _)): _*), 0L)
    val live0 = st.liveBuckets
    MutationStream.applyBatch(st, ops(("add", "a")), 1L)
    assert(commitDirBuckets(dir, "v000000001") == Seq(Sharding.md5Shard("a", B)),
      "the commit dir must hold only the touched bucket's rows")
    assert(st.liveBuckets == live0)
    assert(stateIds(st) == ids0.toSet)
  }

  test("TxnLogState: redelivery is idempotent and never reads-while-overwriting") {
    val dir = Files.createTempDirectory("graft_txn").toString
    val st = new TxnLogState(dir, spark, B)
    MutationStream.applyBatch(st, ops(("add", "a"), ("add", "b")), 0L)
    val b1 = ops(("add", "c"), ("deleteById", "a"))
    MutationStream.applyBatch(st, b1, 1L)
    val afterFirst = stateIds(st)
    MutationStream.applyBatch(st, b1, 1L)
    assert(stateIds(st) == afterFirst && afterFirst == Set("b", "c"))
  }

  test("TxnLogState: a racing writer loses the slot race and is fenced off (optimistic concurrency)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_txn").toString
    val w1 = new TxnLogState(dir, spark, B)
    MutationStream.applyBatch(w1, ops(("add", "a")), 0L)
    val w2 = new TxnLogState(dir, spark, B)
    MutationStream.applyBatch(w2, ops(("add", "b")), 1L)
    // a writer that RE-READS before committing is not stale: w1's next
    // batch refreshes onto w2's commit and lands on the following slot
    // with the MERGED state — optimistic concurrency only aborts a
    // commit raced inside its own read→commit window
    MutationStream.applyBatch(w1, ops(("add", "c")), 2L)
    assert(stateIds(new TxnLogState(dir, spark, B)) == Set("a", "b", "c"))
    // the true race: w3's last read predates w2's next commit and w3
    // commits WITHOUT re-reading — its slot is occupied, it is fenced,
    // and the state is untouched by the aborted commit
    val w3 = new TxnLogState(dir, spark, B)
    MutationStream.applyBatch(w2, ops(("add", "d")), 3L)
    intercept[java.util.ConcurrentModificationException] {
      w3.commit(Seq("zz").toDF("id"), "vZZ", Seq(Sharding.md5Shard("zz", B)))
    }
    assert(stateIds(new TxnLogState(dir, spark, B)) == Set("a", "b", "c", "d"))
  }

  test("TxnLogState: deleteByQuery widens to every live bucket through the trait") {
    val dir = Files.createTempDirectory("graft_txn").toString
    val st = new TxnLogState(dir, spark, B)
    val ids = Seq("a", "b", "c", "d", "e", "f")
    MutationStream.applyBatch(st, ops(ids.map(("add", _)): _*), 0L)
    val live = st.liveBuckets
    val touched = MutationStream.applyBatch(st, qdel("c"), 1L)
    assert(live.subsetOf(touched.toSet))
    assert(stateIds(st) == ids.toSet - "c")
  }

  test("TxnLogState: vacuum reclaims only unreachable version dirs; the log itself survives") {
    val dir = Files.createTempDirectory("graft_txn").toString
    val st = new TxnLogState(dir, spark, B)
    val idB = Iterator.from(0).map("b" + _)
      .find(i => Sharding.md5Shard(i, B) != Sharding.md5Shard("a", B)).get
    MutationStream.applyBatch(st, ops(("add", "a"), ("add", idB)), 0L)
    MutationStream.applyBatch(st, ops(("add", "a")), 1L)
    MutationStream.applyBatch(st, ops(("add", "a")), 2L)
    val before = stateIds(st)
    assert(st.vacuum().isEmpty, "default grace keeps recently superseded dirs")
    val deleted = st.vacuum(graceMs = 0)
    assert(deleted.contains("v000000001") && !deleted.contains("v000000000"), s"deleted=$deleted")
    assert(Files.exists(Paths.get(dir, "_txnlog")))
    assert(stateIds(st) == before && before == Set("a", idB))
    assert(st.vacuum(graceMs = 0).isEmpty)
  }

  test("TxnLogState: checkpoint compaction preserves the fold and survives log vacuum") {
    val dir = Files.createTempDirectory("graft_txn").toString
    val st = new TxnLogState(dir, spark, B)
    MutationStream.applyBatch(st, ops(("add", "a"), ("add", "b"), ("add", "c")), 0L)
    MutationStream.applyBatch(st, ops(("deleteById", "a"), ("add", "d")), 1L)
    assert(st.compact().contains(1L))
    // post-checkpoint commits continue the same slot sequence
    MutationStream.applyBatch(st, ops(("add", "e")), 2L)
    // default grace keeps the covered entries; grace 0 reclaims them
    assert(st.vacuumLog().isEmpty)
    val dropped = st.vacuumLog(graceMs = 0L)
    assert(dropped.count(_.endsWith(".txn")) == 2, dropped.toString)
    // a FRESH reader rebuilds the identical state from checkpoint + suffix
    val fresh = new TxnLogState(dir, spark, B)
    assert(stateIds(fresh) == Set("b", "c", "d", "e"))
    assert(fresh.currentVersion == st.currentVersion)
    assert(fresh.buckets == B, "bucket pin must ride the checkpoint's meta action")
    // a second writer opened before `fresh`'s next commit re-reads and
    // lands on the following slot across the compacted boundary (the
    // true mid-batch race is pinned in the racing-writer test)
    val second = new TxnLogState(dir, spark, B)
    MutationStream.applyBatch(fresh, ops(("add", "f")), 3L)
    MutationStream.applyBatch(second, ops(("add", "g")), 4L)
    assert(stateIds(new TxnLogState(dir, spark, B)) ==
      Set("b", "c", "d", "e", "f", "g"))
  }

  test("TxnLogState: auto-compaction cadence — applyBatch checkpoints every N commits; a mid-stream reader sees identical state across it") {
    def logNames(dir: String, suffix: String): Seq[String] = {
      val fs = Files.list(Paths.get(dir, "_txnlog"))
      try {
        import scala.jdk.CollectionConverters._
        fs.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(suffix)).toSeq.sorted
      } finally fs.close()
    }
    val dir = Files.createTempDirectory("graft_txn").toString
    val writer = new TxnLogState(dir, spark, B,
      autoCompactEvery = 3, maintenanceGraceMs = 0L)
    MutationStream.applyBatch(writer, ops(("add", "a")), 0L)
    MutationStream.applyBatch(writer, ops(("add", "b")), 1L)
    // two commits: under the cadence, nothing compacted yet
    assert(logNames(dir, ".ckpt").isEmpty)
    // a cached mid-stream reader holds the fold at entry 1
    val reader = new TxnLogState(dir, spark, B)
    assert(stateIds(reader) == Set("a", "b"))
    // the third applyBatch crosses the cadence: maintain() checkpoints at
    // entry 2 and reclaims the covered txn entries (grace 0)
    MutationStream.applyBatch(writer,
      ops(("deleteById", "a"), ("add", "c")), 2L)
    assert(logNames(dir, ".ckpt") == Seq(f"${2L}%020d.ckpt"),
      "applyBatch must have auto-compacted at the cadence boundary")
    assert(logNames(dir, ".txn").isEmpty,
      "covered txn entries must be reclaimed by the auto-vacuum")
    // the reader's cached suffix is gone from disk — identical state via
    // the gap-detecting reseed, no stale 'a', no lost 'c'
    assert(stateIds(reader) == Set("b", "c"))
    assert(reader.currentVersion == writer.currentVersion)
    // the NEXT cadence window triggers again three commits later
    MutationStream.applyBatch(writer, ops(("add", "d")), 3L)
    MutationStream.applyBatch(writer, ops(("add", "e")), 4L)
    assert(logNames(dir, ".ckpt") == Seq(f"${2L}%020d.ckpt"),
      "no re-compaction before the next N commits accumulate")
    MutationStream.applyBatch(writer, ops(("add", "f")), 5L)
    assert(logNames(dir, ".ckpt") == Seq(f"${5L}%020d.ckpt"),
      "superseded checkpoint reclaimed, fresh one at the new boundary")
    assert(stateIds(new TxnLogState(dir, spark, B)) ==
      Set("b", "c", "d", "e", "f"))
    assert(stateIds(reader) == Set("b", "c", "d", "e", "f"),
      "the cached reader tracks state across a second auto-compact cycle")
  }

  test("TxnLogState: a stale cached reader reseeds across a foreign compact+vacuum (never folds a gapped suffix)") {
    val dir = Files.createTempDirectory("graft_txn").toString
    val writer = new TxnLogState(dir, spark, B)
    MutationStream.applyBatch(writer, ops(("add", "a")), 0L)
    // reader caches the fold at entry 0 and goes idle
    val reader = new TxnLogState(dir, spark, B)
    assert(stateIds(reader) == Set("a"))
    // a foreign writer advances twice, checkpoints, and vacuums the
    // covered entries — the reader's cached suffix is gone from disk
    MutationStream.applyBatch(writer, ops(("add", "b")), 1L)
    MutationStream.applyBatch(writer, ops(("deleteById", "a"), ("add", "c")), 2L)
    assert(writer.compact().contains(2L))
    assert(writer.vacuumLog(graceMs = 0L).count(_.endsWith(".txn")) == 3)
    // nothing on disk past the reader's lastSeen: only the
    // newer-checkpoint check makes it reseed instead of serving stale "a"
    assert(stateIds(reader) == Set("b", "c"))
    // after the reseed the reader is at entry 2; a further commit is
    // contiguous again and applies incrementally
    MutationStream.applyBatch(writer, ops(("add", "d")), 3L)
    assert(stateIds(reader) == Set("b", "c", "d"))
    assert(reader.currentVersion == writer.currentVersion)
    // a reader opened cold after the vacuum folds checkpoint + suffix
    assert(stateIds(new TxnLogState(dir, spark, B)) == Set("b", "c", "d"))
  }

  test("TxnLogState: a hammering reader thread never desynchronizes the commit slot sequence") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_txn").toString
    val st = new TxnLogState(dir, spark, B)
    @volatile var stop = false
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // refresh() runs between every commit's slot claim and cache publish;
    // commit must set lastSeen to ITS slot (not increment) or the next
    // commit would claim a slot past the end and leave a hole
    val refresher = new Thread(() => {
      while (!stop) {
        try { st.currentVersion; st.liveBuckets }
        catch { case e: Throwable => errs.add(e); stop = true }
      }
    })
    refresher.start()
    try {
      for (i <- 0 until 10)
        MutationStream.applyBatch(st, ops(("add", s"k$i")), i.toLong)
    } finally { stop = true; refresher.join() }
    assert(errs.isEmpty, s"reader thread failed: ${errs.asScala.map(_.toString)}")
    val slotIds = {
      val fs = Files.list(Paths.get(dir, "_txnlog"))
      try fs.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".txn")).map(_.takeWhile(_ != '.').toLong).toSeq.sorted
      finally fs.close()
    }
    assert(slotIds == (0L until 10L), s"slots must be contiguous: $slotIds")
    val expected = (0 until 10).map("k" + _).toSet
    assert(stateIds(st) == expected)
    assert(stateIds(new TxnLogState(dir, spark, B)) == expected,
      "a fresh fold must agree with the writer's cached view")
  }

  test("TxnLogState: the bucket count is pinned in the log's meta action, not the session") {
    val dir = Files.createTempDirectory("graft_txn").toString
    val st = new TxnLogState(dir, spark, B)
    MutationStream.applyBatch(st, ops(("add", "a"), ("add", "b")), 0L)
    val reopened = new TxnLogState(dir, spark, B * 4)
    assert(reopened.buckets == B)
    MutationStream.applyBatch(reopened, ops(("deleteById", "a")), 1L)
    assert(stateIds(reopened) == Set("b"))
  }

  test("the full streaming drain runs unchanged through the TxnLogState factory") {
    import spark.implicits._
    import graft.conf.{FieldDef, IndexerConf, ValueSource}
    val work = Files.createTempDirectory("graft_txn_stream").toString
    val logDir = s"$work/log"
    Seq(("k1", 1L), ("k2", 2L), ("k1", 3L))
      .toDF("rowKey", "seq")
      .select(lit("events").as("table"), col("rowKey"), col("seq"),
        col("seq").as("writeTime"),
        lit(null).cast("string").as("payload"))
      .withColumn("cells", when(col("seq") === 3L,
          array(struct(lit("evt").as("family"), lit("").as("qualifier"),
            lit(0L).as("ts"), lit("delete-row").as("cellType"),
            lit(null).cast("string").as("value"))))
        .otherwise(array(struct(lit("evt").as("family"), lit("v").as("qualifier"),
          lit(0L).as("ts"), lit("put").as("cellType"),
          concat(lit("val-"), col("rowKey")).as("value")))))
      .select("table", "rowKey", "seq", "writeTime", "cells", "payload")
      // one log file ⇒ one micro-batch: the in-batch max_by(seq) decides
      // k1's fate (cross-batch ordering is the log's append order, which a
      // 3-way toDF split would scramble)
      .coalesce(1)
      .write.parquet(logDir)
    val conf = IndexerConf(table = "events",
      fields = Seq(FieldDef("v", "evt:v", ValueSource.Value, "string")))
    val out = MutationStream.runToCompletion(spark, conf, logDir, work,
      stateFactory = new TxnLogState(_, _))
    assert(out.select("id").collect().map(_.getString(0)).toSet == Set("k2"))
    // and the state on disk really is the txn-log layout, not a manifest
    assert(Files.exists(Paths.get(s"$work/index", "_txnlog")))
    assert(!Files.exists(Paths.get(s"$work/index", "CURRENT")))
  }

  // ---- append-mode commits: the keep-first seen-sets never update a row,
  // so a batch's state write must be O(fresh keys), NOT O(state ∩ touched)
  // — the round-8 scale flaw (per-trigger copy-on-write full rewrite).

  private def txnEntries(dir: String): Seq[Seq[String]] = {
    val log = Paths.get(dir, "_txnlog").toFile.listFiles()
      .filter(_.getName.endsWith(".txn")).sortBy(_.getName).toSeq
    log.map(f => Files.readAllLines(f.toPath).toArray(Array.empty[String]).toSeq)
  }

  test("TxnLogState: commitAppend write volume ∝ fresh keys — delta dirs, zero remove actions, base untouched") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_txn").toString
    // one bucket: every commit touches it, so a COW design would rewrite
    // the WHOLE state each time — the exact pathology being pinned away
    val st = new TxnLogState(dir, spark, requestedBuckets = 1,
      autoCompactEvery = 0, maxDeltasPerBucket = 0)
    val base = (0 until 1000).map(i => f"base$i%04d")
    st.commit(base.toDF("id"), "v0", Seq(0))
    (1 to 3).foreach { i =>
      val fresh = (0 until 10).map(j => s"fresh$i-$j")
      st.commitAppend(fresh.toDF("id"), s"v$i", Seq(0))
      // the delta dir holds ONLY this batch's fresh keys (10 rows), never
      // the 1000-row base — write volume is O(fresh)
      assert(spark.read.parquet(s"$dir/v$i").count() == 10L,
        s"append commit $i must write only its fresh keys")
    }
    // append entries carry add actions only: nothing is superseded
    val appends = txnEntries(dir).drop(1)
    assert(appends.size == 3 &&
      appends.forall(e => e.nonEmpty && e.forall(_.startsWith("add\t"))),
      s"append entries must be pure adds: $appends")
    // readers fold base + deltas; a cold store folds the same state
    val expected = base.toSet ++
      (1 to 3).flatMap(i => (0 until 10).map(j => s"fresh$i-$j"))
    assert(stateIds(st) == expected)
    assert(stateIds(new TxnLogState(dir, spark, 1)) == expected)
  }

  test("TxnLogState: maintain() merges delta chains past maxDeltasPerBucket; state and cold reads survive") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_txn").toString
    val st = new TxnLogState(dir, spark, requestedBuckets = 1,
      autoCompactEvery = 0, maintenanceGraceMs = 0L, maxDeltasPerBucket = 2)
    st.commit(Seq("a", "b").toDF("id"), "v0", Seq(0))
    (1 to 3).foreach { i =>
      st.commitAppend(Seq(s"k$i").toDF("id"), s"v$i", Seq(0))
      st.maintain()
    }
    // chain never exceeds maxDeltas+1 dirs: 3 appends over a 2-delta cap
    // must have forced at least one merge commit
    val merges = txnEntries(dir).filter(_.exists(_.startsWith("remove\t")))
    assert(merges.nonEmpty, "a merge (COW) commit must have fired")
    assert(stateIds(st) == Set("a", "b", "k1", "k2", "k3"))
    // superseded delta dirs are vacuum-reclaimable; the fold is unchanged
    st.vacuum(graceMs = 0L)
    assert(stateIds(new TxnLogState(dir, spark, 1)) == Set("a", "b", "k1", "k2", "k3"))
  }

  test("randomized model check: 30 mixed commits/appends/compactions/vacuums against an in-memory reference") {
    // The shared-dir layout's read path (readAssigned: per-dir bucket
    // assignment, grouped scans, pushed-down bucket filter) is the
    // subtlest code in the stores — drive both implementations through a
    // seeded random op sequence and compare every read against a plain
    // in-memory model of the bucket semantics. COW commit(updated, v, ks)
    // replaces each k∈ks with updated's k-rows; commitAppend(fresh, v,
    // ks) unions fresh's k-rows in (callers guarantee fresh ⊆ ks and
    // disjoint — mirrored here); compaction/vacuum must never change the
    // observable state.
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val B = 8
    def shard(id: String): Int = Sharding.md5Shard(id, B)
    for (txn <- Seq(true, false)) {
      val dir = Files.createTempDirectory(s"graft_model_$txn").toString
      val st: DocStateStore =
        if (txn) new TxnLogState(dir, spark, B, autoCompactEvery = 4,
          maintenanceGraceMs = 0L, maxDeltasPerBucket = 3)
        else new IndexState(dir, spark, B)
      val model = scala.collection.mutable.Map.empty[Int, Set[String]]
        .withDefaultValue(Set.empty)
      var nextId = 0
      def freshIds(n: Int): Seq[String] = (1 to n).map { _ =>
        nextId += 1; s"id$nextId"
      }
      for (step <- 1 to 30) {
        rnd.nextInt(10) match {
          case r if r <= 3 => // append-only delta: fresh ids, never updates
            val ids = freshIds(1 + rnd.nextInt(5))
            val touched = ids.map(shard).distinct
            st.commitAppend(ids.toDF("id"), f"a$step%03d", touched)
            ids.foreach(i => model(shard(i)) += i)
          case r if r <= 6 => // COW: replace 1-3 buckets with survivors + fresh
            val ks = rnd.shuffle((0 until B).toList).take(1 + rnd.nextInt(3))
            val survivors = ks.flatMap(k =>
              model(k).toSeq.sorted.filter(_ => rnd.nextBoolean()))
            val added = freshIds(rnd.nextInt(3)).filter(i => ks.contains(shard(i)))
            val rows = survivors ++ added
            st.commit(
              if (rows.isEmpty) spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                new org.apache.spark.sql.types.StructType().add("id", "string"))
              else rows.toDF("id"),
              f"c$step%03d", ks)
            ks.foreach(k => model(k) = rows.filter(shard(_) == k).toSet)
          case 7 => st.maintain() // delta-chain merge + log compaction cadence
          case 8 =>
            st match { case t: TxnLogState => t.compact(); t.vacuumLog(0L); case _ => () }
          case _ => st.vacuum(graceMs = 0L); ()
        }
        // full read and a random bucket-subset read both match the model
        val expectAll = model.values.flatten.toSet
        val gotAll = st.read()
          .map(_.select("id").collect().map(_.getString(0)).toSeq).getOrElse(Seq.empty)
        assert(gotAll.size == gotAll.distinct.size,
          s"[$txn step $step] duplicate rows served: ${gotAll.diff(gotAll.distinct)}")
        assert(gotAll.toSet == expectAll, s"[$txn step $step] full read diverged")
        val ks = rnd.shuffle((0 until B).toList).take(1 + rnd.nextInt(B))
        val expectKs = ks.flatMap(model(_)).toSet
        val gotKs = st.readBuckets(ks)
          .map(_.select("id").collect().map(_.getString(0)).toSeq).getOrElse(Seq.empty)
        assert(gotKs.size == gotKs.distinct.size,
          s"[$txn step $step] duplicate rows in bucket read")
        assert(gotKs.toSet == expectKs, s"[$txn step $step] bucket read diverged")
      }
      // a cold reader folds the identical final state
      val cold: DocStateStore =
        if (txn) new TxnLogState(dir, spark, B) else new IndexState(dir, spark, B)
      val coldIds = cold.read()
        .map(_.select("id").collect().map(_.getString(0)).toSet).getOrElse(Set.empty)
      assert(coldIds == model.values.flatten.toSet, s"[$txn] cold fold diverged")
    }
  }

  test("DocStateStore: the default commitAppend folds to copy-on-write for manifest states (IndexState)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_state").toString
    val st = new IndexState(dir, spark, B)
    st.commit(Seq("a", "b").toDF("id").withColumn("v", lit(1)), "v0", (0 until B))
    val freshBuckets = Seq("c", "d").map(Sharding.md5Shard(_, B)).distinct
    st.commitAppend(Seq("c", "d").toDF("id").withColumn("v", lit(2)),
      "v1", freshBuckets)
    assert(stateIds(st) == Set("a", "b", "c", "d"),
      "append through the COW fallback must still union fresh into touched buckets")
  }

  test("a store rebuilt at one path with a new schema reads through the new schema") {
    import spark.implicits._
    def check(open: String => DocStateStore): Unit = {
      val dir = Files.createTempDirectory("graft_state_rebuilt").toString
      open(dir).commit(Seq(("a", 1L)).toDF("id", "old"), "r0000000000", Seq(0, 1, 2, 3))
      IndexState.deleteTree(Paths.get(dir))
      open(dir).commit(Seq(("b", "y")).toDF("id", "neu"), "r0000000000", Seq(0, 1, 2, 3))
      // a new instance reads the schema the rebuild recorded
      val got = open(dir).read().get
      assert(got.columns.contains("neu") && !got.columns.contains("old"), got.columns.mkString(","))
      assert(got.select("id", "neu").collect().map(r => (r.getString(0), r.getString(1))).toSeq
        == Seq(("b", "y")))
    }
    check(new TxnLogState(_, spark, 4))
    check(new IndexState(_, spark, 4))
  }

  // ---- the cut paths of applyBatch: no id join against an absent state,
  // no query-delete join unless the batch holds a deleteByQuery

  test("applyBatch runs 2 Spark jobs on a fresh state and 3 on a live one, scoped as a drain runs it") {
    val st = new IndexState(Files.createTempDirectory("graft_state").toString, spark, B)
    def jobs(batch: DataFrame, id: Long): Int =
      TriggerScope.scoped(batch)(jobsDuring(MutationStream.applyBatch(st, batch, id)))._2
    // census + commit write
    assert(jobs(ops(("add", "a"), ("add", "b"), ("deleteById", "c")), 0L) == 2)
    // census + the one id anti-join's broadcast + commit write
    assert(jobs(ops(("add", "a"), ("deleteById", "b"), ("add", "d")), 1L) == 3)
    assert(stateIds(st) == Set("a", "d"))
  }

  for ((name, make) <- Seq[(String, String => DocStateStore)](
      "IndexState" -> (new IndexState(_, spark, B)),
      "TxnLogState" -> (new TxnLogState(_, spark, B)))) {
    def fresh(): DocStateStore = make(Files.createTempDirectory("graft_state").toString)

    test(s"$name: on a fresh state, an add beats a same-batch deleteById of its id") {
      val st = fresh()
      MutationStream.applyBatch(st, ops(("deleteById", "a"), ("add", "a"), ("deleteById", "b")), 0L)
      assert(stateIds(st) == Set("a"))
    }

    test(s"$name: a deletes-only batch on a fresh state commits no bucket and reads back empty") {
      val st = fresh()
      val touched = MutationStream.applyBatch(st, ops(("deleteById", "a"), ("deleteById", "b")), 0L)
      assert(touched.nonEmpty)
      assert(st.liveBuckets.isEmpty && st.read().isEmpty)
    }

    test(s"$name: a deleteByQuery removes a same-batch add with its rowValue, on a fresh and on a live state") {
      val st = fresh()
      MutationStream.applyBatch(st, ops(("add", "a"), ("add", "b")).unionByName(qdel("a")), 0L)
      assert(stateIds(st) == Set("b"))
      MutationStream.applyBatch(st, ops(("add", "a"), ("add", "c")).unionByName(qdel("c")), 1L)
      assert(stateIds(st) == Set("a", "b"))
    }
  }
}
