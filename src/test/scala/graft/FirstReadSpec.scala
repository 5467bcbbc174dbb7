package graft

import graft.ops.{Dedup, Similarity}
import graft.streaming.{DocStateStore, GenManifest, GenMeta, IndexState, TxnLogState}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Every engine-written store records its read schema in the pointer that
  * names its data, so the FIRST read after a write resolves its frame
  * with no footer-inference job, through an instance that never saw the
  * write. Each case resolves that first read, counts its Spark jobs, and
  * compares its schema (names, types, nullability) with a bare
  * `spark.read.parquet` of the same directories. The frames written here
  * carry non-null columns and nested types. Spark makes any read schema
  * nullable itself, so the compare catches a recorded schema with a
  * missing, extra, reordered or retyped column — a partition column
  * typed long where discovery types it int, say — not one that skips
  * the nullable normalization.
  *
  * Families: the document stores ([[IndexState]], [[TxnLogState]]) through
  * `read` and `readBuckets`, the single-state monitors' generations
  * ([[GenManifest.live]]), the dual-state rollups ([[GenMeta.live]]), the
  * near-dup admission index ([[Dedup.admitWithIndex]]), and the IVF and
  * IVF-PQ indexes served right after their build. */
class FirstReadSpec extends SparkSpec {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** A keyed frame of non-null scalars, an array, a map and a struct. */
  private def nested(n: Int): DataFrame =
    spark.range(0, n).select(
      col("id").cast("string").as("id"), col("id").as("n"),
      array(col("id"), col("id") + 1).as("arr"),
      map(col("id").cast("string"), col("id")).as("m"),
      struct(col("id").as("x"), array(col("id")).as("xs")).as("st"))

  /** `resolve` runs no Spark job and yields `bare`'s schema. */
  private def assertFirstRead(what: String, resolve: => DataFrame, bare: => DataFrame): Unit = {
    val (df, jobs) = jobsDuring(resolve)
    assert(jobs == 0, s"$what: resolving the first read ran $jobs Spark jobs")
    assert(df.schema == bare.schema,
      s"$what: resolved ${df.schema.treeString} but a bare read gives ${bare.schema.treeString}")
  }

  /** A bare read of the store's live commit dirs, as the store returns it. */
  private def bareState(root: String, dirs: Iterable[String]): DataFrame =
    spark.read.parquet(dirs.toSeq.distinct.map(d => s"$root/$d"): _*).drop(IndexState.BucketCol)

  test("IndexState: read and readBuckets resolve through a new instance with 0 jobs") {
    val dir = tmp("graft_fr_is")
    new IndexState(dir, spark, 8).commit(nested(40), "v000000000", 0 until 8)
    val dirs = new IndexState(dir, spark).currentManifest.values
    assertFirstRead("IndexState.read", new IndexState(dir, spark).read().get, bareState(dir, dirs))
    assertFirstRead("IndexState.readBuckets",
      new IndexState(dir, spark).readBuckets(Seq(0, 1, 2)).get, bareState(dir, dirs))
  }

  test("TxnLogState: read and readBuckets resolve through a new instance with 0 jobs") {
    val dir = tmp("graft_fr_txn")
    val writer = new TxnLogState(dir, spark, 8)
    writer.commit(nested(40), "r0000000000", 0 until 8)
    // a second commit of the same shape logs no second schema action
    writer.commit(nested(10), "r0000000001", 0 until 8)
    val logged = new java.io.File(dir, "_txnlog").listFiles().toSeq
      .map(f => Files.readString(f.toPath).split("\n").count(_.startsWith(s"mkv\t${IndexState.SchemaKey}\t")))
      .sum
    assert(logged == 1, s"an unchanged schema must be logged once, saw $logged actions")
    // the second commit replaced every bucket
    val dirs = new java.io.File(dir).list().toSeq.filter(_.startsWith("r0000000001"))
    assertFirstRead("TxnLogState.read", new TxnLogState(dir, spark).read().get, bareState(dir, dirs))
    assertFirstRead("TxnLogState.readBuckets",
      new TxnLogState(dir, spark).readBuckets(Seq(0, 1, 2)).get, bareState(dir, dirs))
  }

  test("GenManifest.live resolves the generation it names with 0 jobs") {
    val dir = tmp("graft_fr_gm")
    GenManifest.advance(dir, 0L, nested(5), 0L, 0L)
    val gen = GenManifest.currentGen(dir).get
    assertFirstRead("GenManifest.live", GenManifest.live(spark, dir).get,
      spark.read.parquet(s"$dir/$gen"))
  }

  test("GenMeta.live resolves the rollup its store commit names with 0 jobs") {
    val work = tmp("graft_fr_gmeta")
    val (gen, schema) = GenMeta.write(s"$work/agg", 0L, nested(5))
    new IndexState(s"$work/st", spark, 4).commitWithMeta(nested(3), "v000000000", 0 until 4,
      GenMeta.kv("ns", gen, schema, 0L, 0L))
    def store: DocStateStore = new IndexState(s"$work/st", spark)
    assertFirstRead("GenMeta.live", GenMeta.live(spark, store, "ns", s"$work/agg").get,
      spark.read.parquet(s"$work/agg/$gen"))
  }

  test("admitWithIndex resolves the near-dup index with 0 jobs, through its recorded schemas") {
    import spark.implicits._
    val dir = tmp("graft_fr_nd")
    val corpus = Seq(1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "one two three four five six").toDF("doc_id", "text")
    Dedup.buildNearDupIndex(corpus, dir, "doc_id", "text", bands = 4, rowsPerBand = 2)
    val batch = Seq(10L -> "alpha beta gamma delta epsilon zeta extra").toDF("doc_id", "text")
    val (_, jobs) = jobsDuring(Dedup.admitWithIndex(spark, dir, batch, "doc_id", "text"))
    assert(jobs == 0, s"admitWithIndex ran $jobs Spark jobs before any action")
    val (tables, _) = Dedup.openNearDupIndex(spark, dir)
    Seq("sigs", "bands", "banddf").zip(tables).foreach { case (t, df) =>
      assertFirstRead(s"near-dup $t", df, spark.read.parquet(s"$dir/$t"))
    }
  }

  private lazy val corpus =
    Similarity.prep(spark.read.parquet(s"$sf0001/embeddings.parquet"), "vec_id", "embedding")

  /** A serve right after a build runs the jobs of a repeat serve, no
    * more: the fresh generation's schema comes from the manifest. */
  private def assertServe(what: String, serve: => DataFrame): Unit = {
    val (_, first) = jobsDuring(serve)
    val (_, again) = jobsDuring(serve)
    assert(first == again, s"$what: the first serve ran $first jobs, a repeat serve $again")
  }

  test("IVF: the serve right after a build resolves the new generation with 0 jobs") {
    val dir = tmp("graft_fr_ivf")
    Similarity.buildIvfIndex(corpus, dir)
    val (_, live, schema) = Similarity.resolveIndex(dir)
    assertServe("ivfIndexTopK", Similarity.ivfIndexTopK(spark, dir, corpus.filter(col("vec_id") < 5), 5))
    assertFirstRead("IVF generation", IndexState.readParquet(spark, schema, live),
      spark.read.parquet(live))
  }

  test("IVF-PQ: the serve right after a build resolves the new generation with 0 jobs") {
    val dir = tmp("graft_fr_ivfpq")
    Similarity.buildIvfPqIndex(corpus, dir)
    val (_, _, gen, _, _, schema) = Similarity.resolveIvfPqIndex(dir)
    assertServe("ivfPqIndexTopK", Similarity.ivfPqIndexTopK(spark, dir, corpus.filter(col("vec_id") < 5), 5))
    assertFirstRead("IVF-PQ generation", IndexState.readParquet(spark, schema, s"$dir/$gen"),
      spark.read.parquet(s"$dir/$gen"))
  }
}
