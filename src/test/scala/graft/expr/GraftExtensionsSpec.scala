package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The SQL registration must expose the SAME expressions the Scala API
  * builds — SQL and DataFrame callers get byte-identical results. */
class GraftExtensionsSpec extends SparkSpec {

  test("registered kernels are callable from SQL and match the Scala API") {
    GraftExtensions.register(spark)
    import spark.implicits._
    // every kernel reads a column of an RDD-backed view, so each call runs
    // compiled (literal-only calls would be constant-folded, interpreted)
    val df = spark.sparkContext.parallelize(Seq(
      ("the quick brown fox jumps over the lazy dog", Seq(1L, 2L, 3L), Seq(4L, 5L, 6L),
        "abc", "my-table", "row-1", 42L, "kitten", "sitting")), 1)
      .toDF("t", "a", "b", "k", "tbl", "row", "n", "s1", "s2")
    df.createOrReplaceTempView("gx_t")
    codegenOnly {
      assert(spark.sql("SELECT long_dot(a, b) AS d FROM gx_t").head.getLong(0) == 32L)

      assert(spark.sql("SELECT md5_shard(k, 8) AS s FROM gx_t").head.getInt(0) ==
        graft.sink.Sharding.md5Shard("abc", 8))

      val viaSql = spark.sql(
        """SELECT simhash(t, 32) AS sh, winnow_hashes(t, 3, 4) AS wh,
          |       minhash_sig(shingle_hashes60(t, 3), 4) AS mh FROM gx_t""".stripMargin).head
      val viaScala = df.select(
        hfunctions.simhash_c(col("t"), 32).as("sh"),
        hfunctions.winnow_hashes(col("t"), 3, 4).as("wh"),
        hfunctions.minhash_sig(hfunctions.shingle_hashes60(col("t"), 3), 4).as("mh")).head
      assert(viaSql == viaScala)

      val spans = spark.sql(
        """SELECT kgram_hashes60(t, 3) AS kh,
          |       remove_token_spans(t, array(2L), 3) AS rs FROM gx_t""".stripMargin).head
      val spansScala = df.select(
        hfunctions.kgram_hashes60(col("t"), 3).as("kh"),
        hfunctions.remove_token_spans(col("t"), array(lit(2L)), 3).as("rs")).head
      assert(spans == spansScala)
      assert(spans.getString(1) == "the jumps over the lazy dog",
        "window at 2 covers tokens 2-4 (quick brown fox)")

      val rt = spark.sql("SELECT unformat_key(format_key(tbl, row)) AS ks FROM gx_t")
        .head.getSeq[String](0)
      assert(rt == Seq("my-table", "row-1"))

      val codec = spark.sql("SELECT hbase_decode(hbase_encode(n, 'long'), 'long') AS v FROM gx_t")
        .head.getLong(0)
      assert(codec == 42L)

      // the r12 kernels: banded edit distance + char shingles
      val lev = spark.sql(
        "SELECT bounded_levenshtein(s1, s2, 10) AS d," +
          " bounded_levenshtein(s1, s2, 2) AS capped FROM gx_t").head
      assert(lev.getLong(0) == 3L && lev.getLong(1) == -1L)
      val cs = spark.sql("SELECT char_shingles60(t, 4) AS cs FROM gx_t").head
      val csScala = df.select(hfunctions.char_shingles60(col("t"), 4).as("cs")).head
      assert(cs == csScala)
    }
  }

  test("topk_by works as a SQL aggregate with map-side partials") {
    GraftExtensions.register(spark)
    val top = spark.sql(
      "SELECT topk_by(CAST(id % 5 AS DOUBLE), id, 2) AS t FROM range(10)")
    val rows = top.select(explode(col("t")).as("x")).select("x.n_id", "x.sim", "x.rk").collect()
    // scores are id % 5 → best is (4.0, id 4), then (4.0, id 9)
    assert(rows.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq ==
      Seq((4L, 4.0, 1L), (9L, 4.0, 2L)))
    assert(top.queryExecution.executedPlan.toString.contains("partial_topk_by"))
  }

  test("kmv_sketch works as a SQL aggregate: sorted-distinct k minima with partials") {
    GraftExtensions.register(spark)
    val sk = spark.sql(
      "SELECT kmv_sketch(CAST(id % 7 AS BIGINT), 4) AS mins FROM range(100)")
    assert(sk.select(explode(col("mins"))).as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSeq == Seq(0L, 1L, 2L, 3L))
    assert(sk.queryExecution.executedPlan.toString.contains("partial_kmv_sketch"))
  }

  test("remove_token_spans validates SQL-supplied starts: Long-space bounds, loud nulls") {
    GraftExtensions.register(spark)
    // a start like 2^32+1 must NOT truncate via .toInt to 0 and cover the
    // doc; out-of-range starts (0, negative, > #tokens, huge) are skipped
    val kept = spark.sql(
      s"""SELECT remove_token_spans('a b c d e',
         |  array(${(1L << 32) + 1L}L, 0L, -7L, 99L), 3) AS rs""".stripMargin)
      .head.getString(0)
    assert(kept == "a b c d e",
      s"every start is out of [1, 5] — nothing may be covered, got '$kept'")
    // in-range starts still work through the same path
    assert(spark.sql("SELECT remove_token_spans('a b c d e', array(2L), 3) AS rs")
      .head.getString(0) == "a e")
    // NULL array elements are caller bugs — rejected loudly, not read as 0
    val ex = intercept[Exception] {
      spark.sql("SELECT remove_token_spans('a b c', array(CAST(NULL AS BIGINT)), 2)").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(ex).exists(_.contains("NULL")), ex.toString)
  }

  test("shape parameters must be literals — a column argument fails loudly") {
    GraftExtensions.register(spark)
    val ex = intercept[Exception] {
      spark.sql("SELECT simhash(CAST(id AS STRING), CAST(id AS INT)) FROM range(3)").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(ex).exists(_.contains("literal integer")), ex.toString)
  }
}
