package graft.expr

import graft.SparkSpec
import graft.expr.hfunctions._
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

/** The `graft.expr` kernels that no other spec runs from generated code,
  * each evaluated over an RDD-backed frame compiled only (no interpreted
  * factory, no fallback) and compared with the same rows evaluated
  * interpreted. A local relation would not do: the optimizer folds a
  * projection over local rows itself, interpreted, so a kernel whose
  * generated Java does not compile would pass. */
class CompiledKernelsSpec extends SparkSpec {

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog the quick brown fox",
    "  Hello,   World! Ünïcödé  tëxt — 中文字符 mixed\ttabs\nnewline ",
    "repeat repeat repeat repeat repeat repeat",
    "a",
    "",
    null)

  /** Rows of (id, text, q, nq, codes, a, b, starts): every input column
    * a kernel here reads, nulls and empty arrays included (`q` is a null
    * or an 8-dim vector: the projections reject other widths). */
  private def frame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = texts.zipWithIndex.map { case (t, i) =>
      val q = Seq.fill(8)(rnd.nextInt(17).toLong - 8)
      val starts = Seq(Seq(1L, 2L, 3L, 7L, 20L), Seq(1L, 3L), Seq(5L), Seq.empty[Long], Seq(2L), null)(i)
      (i, t, if (i == 3) null else q, q.map(x => x * x).sum, Seq.fill(6)(rnd.nextInt(4).toLong),
        rnd.nextLong(), if (i % 2 == 0) rnd.nextLong() else 0x5555L, starts)
    }
    spark.sparkContext.parallelize(rows, 2).toDF("id", "text", "q", "nq", "codes", "a", "b", "starts")
  }

  private val coefs = Array.tabulate(8, 8)((r, c) => ((r * 7 + c * 3) % 5 - 2).toLong)
  private val centroidVecs = Array(Array.fill(8)(1L), Array.fill(8)(0L), Array.tabulate(8)(i => (i - 4).toLong))

  private val kernels: Seq[(String, Column)] = Seq(
    "SrpCodes" -> srp_codes(col("q"), coefs, 2),
    "BestCentroid" -> best_centroid(col("q"), col("nq"), Array(1L, 5L, 9L), centroidVecs,
      centroidVecs.map(_.map(x => x * x).sum)),
    "RpProject" -> rp_project(col("q"), coefs.take(4)),
    "LongArrayPack" -> pack_codes(col("codes"), 2),
    "PackedFirstEq" -> packed_first_eq(col("a"), col("b"), 2),
    "TokenNgrams" -> token_ngrams(col("text"), 2),
    "CharKgramHashes60" -> char_kgram_hashes60(col("text"), 5),
    "CharKgramHashesRolling" -> char_kgram_hashes_rolling(col("text"), 5),
    "RemoveCharSpans" -> remove_char_spans(col("text"), col("starts"), 5),
    "MergeWindowRuns" -> merge_window_runs(col("starts"), 3),
    "Bm25Scores" -> bm25_scores(col("text"), Bm25Scorer(
      Seq(1L -> Seq("quick", "fox"), 2L -> Seq("repeat"), 3L -> Seq("absent")),
      Map("quick" -> 2L, "fox" -> 1L, "repeat" -> 1L), nDocs = 6L, totalTokens = 40L)),
    "TextStats" -> text_stats(col("text"), Seq(Seq("the", "fox"), Seq("repeat"))))

  private def eval(c: Column): Seq[Row] =
    frame.select(col("id"), c.as("out")).collect().toSeq.sortBy(_.getInt(0))

  kernels.foreach { case (name, c) =>
    test(s"$name: compiled ≡ interpreted over an RDD-backed frame") {
      var compiled: Seq[Row] = Nil
      codegenOnly { compiled = eval(c) }
      var interpreted: Seq[Row] = Nil
      withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false") {
        interpreted = eval(c)
      }
      assert(compiled.size == texts.size)
      assert(compiled.exists(!_.isNullAt(1)), s"$name produced only nulls")
      assert(compiled == interpreted)
    }
  }
}
