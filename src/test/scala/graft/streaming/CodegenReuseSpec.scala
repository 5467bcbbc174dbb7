package graft.streaming

import graft.SparkSpec
import graft.conf.{FieldDef, IndexerConf, RowReadMode, ValueSource}
import graft.model.{Cell, MutationEvent}
import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics

/** Every streaming query runs on a clone of its session, and a clone
  * with per-session artifact isolation runs its tasks under a classloader
  * of its own, which `CodeGenerator`'s cache (keyed on that loader)
  * misses. Drains start through [[graft.GraftSession.install]], so a
  * second drain of the same plan finds every class it generates already
  * compiled. */
class CodegenReuseSpec extends SparkSpec {

  private val isolationKey = "spark.sql.artifact.isolation.enabled"

  private val conf = IndexerConf(
    table = "events", rowReadMode = RowReadMode.Never,
    fields = Seq(FieldDef("val_s", "evt:*", ValueSource.Value, "string")))

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** A one-file mutation log; every call writes the same rows. */
  private def oneFileLog(): String = {
    import spark.implicits._
    val log = tmp("graft_cgr_log")
    spark.createDataset(Seq(
      MutationEvent("events", "r1", 1L, 1001L, Seq(Cell("evt", "q", 1L, "put", "a")), None),
      MutationEvent("events", "r2", 2L, 1002L, Seq(Cell("evt", "q", 2L, "put", "b")), None)))
      .toDF().coalesce(1).write.mode("append").parquet(log)
    log
  }

  /** The classes `CodeGenerator` compiled (cache misses) while one drain
    * of a fresh one-file log into a fresh state ran. */
  private def compilesInDrain(): Long = {
    val log = oneFileLog()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val q = MutationStream.start(spark, conf, log, tmp("graft_cgr_idx"), tmp("graft_cgr_ckpt"))
    q.awaitTermination()
    assert(q.lastProgress.batchId == 0L, "one trigger")
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def secondDrainCompiles(): Unit = {
    val first = compilesInDrain()
    val second = compilesInDrain()
    info(s"compiles: first drain $first, second drain $second")
    assert(second == 0L, s"the second drain recompiled $second classes (first drain: $first)")
  }

  test("a second drain of the same plan compiles no class") {
    secondDrainCompiles()
  }

  test("a second drain compiles no class on a session whose caller turned isolation on") {
    withConf(isolationKey -> "true") {
      secondDrainCompiles()
    }
  }
}
