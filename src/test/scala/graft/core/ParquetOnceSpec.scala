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
}
