package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins for the per-process parquet schema memo: the point of
  * [[ParquetOnce]] is that only the FIRST read of a schema-stable
  * location pays the footer-inference Spark job — every later resolve of
  * the same key (per-trigger state/generation reads, per-admission index
  * reads, fixture tables) constructs its DataFrame with ZERO jobs — and
  * that the memoized reads return exactly what bare inference returns. */
class ParquetOnceSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("second read of a key resolves with zero jobs and identical rows") {
    val dir = tmp("pqonce_a")
    val key = s"test:$dir/t"
    spark.range(0, 100).selectExpr("id", "cast(id % 7 as string) as s")
      .write.parquet(s"$dir/t")
    val (df1, _) = jobsDuring(ParquetOnce.read(spark, key, s"$dir/t"))
    val (df2, n2) = jobsDuring(ParquetOnce.read(spark, key, s"$dir/t"))
    assert(n2 == 0, s"memoized resolve must launch no footer-inference job, saw $n2")
    assert(df2.schema.fieldNames.sorted.sameElements(df1.schema.fieldNames.sorted))
    val a = df1.orderBy("id").collect().toSeq
    val b = df2.orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("writer-side seed makes even the first read job-free and row-identical") {
    val dir = tmp("pqonce_b")
    val key = s"test:$dir/seeded"
    // non-null columns on the write side: the seed must nullable-normalize
    val df = spark.range(0, 50).selectExpr("id", "id * 2 as v")
    ParquetOnce.seed(key, df.schema)
    df.write.parquet(s"$dir/seeded")
    val (got, n) = jobsDuring(ParquetOnce.read(spark, key, s"$dir/seeded"))
    assert(n == 0, s"seeded resolve must launch no job, saw $n")
    val bare = spark.read.parquet(s"$dir/seeded").orderBy("id").collect().toSeq
    assert(got.orderBy("id").collect().toSeq == bare)
    assert(got.schema.forall(_.nullable), "cached schema must be nullable-normalized")
  }

  test("distinct keys do not share schemas") {
    val dir = tmp("pqonce_c")
    spark.range(0, 10).selectExpr("id as x").write.parquet(s"$dir/p1")
    spark.range(0, 10).selectExpr("id as y", "id as z").write.parquet(s"$dir/p2")
    val d1 = ParquetOnce.read(spark, s"test:$dir/p1", s"$dir/p1")
    val d2 = ParquetOnce.read(spark, s"test:$dir/p2", s"$dir/p2")
    assert(d1.columns.toSeq == Seq("x"))
    assert(d2.columns.toSeq.sorted == Seq("y", "z"))
  }

  private def deleteTree(p: String): Unit = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .iterator().forEachRemaining(f => { java.nio.file.Files.delete(f); () })
    finally walk.close()
  }

  test("a store rebuilt at one path with a new schema reads through the new schema") {
    import spark.implicits._
    val dir = tmp("pqonce_d")
    // a GenManifest.advance directory: first written as (k, v) ...
    val gen = s"$dir/gen"
    graft.streaming.GenManifest.advance(gen, 0L, Seq((1L, 10L)).toDF("k", "v"), 0L, 0L)
    assert(graft.streaming.GenManifest.live(spark, gen).get.columns.toSeq == Seq("k", "v"))
    // ... then deleted and rebuilt as (k, w)
    deleteTree(gen)
    graft.streaming.GenManifest.advance(gen, 0L, Seq((2L, "x")).toDF("k", "w"), 0L, 0L)
    val g = graft.streaming.GenManifest.live(spark, gen).get
    assert(g.columns.toSeq == Seq("k", "w"))
    assert(g.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "x")))

    // a TxnLogState: the same through its commit and read
    val st = s"$dir/state"
    new graft.streaming.TxnLogState(st, spark, 4)
      .commit(Seq(("a", 1L)).toDF("id", "old"), "r0000000000", Seq(0, 1, 2, 3))
    deleteTree(st)
    val fresh = new graft.streaming.TxnLogState(st, spark, 4)
    fresh.commit(Seq(("b", "y")).toDF("id", "neu"), "r0000000000", Seq(0, 1, 2, 3))
    val got = fresh.read().get
    assert(got.columns.contains("neu") && !got.columns.contains("old"), got.columns.mkString(","))
    assert(got.select("id", "neu").collect().map(r => (r.getString(0), r.getString(1))).toSeq
      == Seq(("b", "y")))
  }
}
