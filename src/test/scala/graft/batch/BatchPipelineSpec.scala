package graft.batch

import graft.SparkSpec
import graft.conf.{FieldDef, IndexerConf, RowReadMode, ValueSource}
import graft.core.Fixtures
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Batch path: scan predicates must PUSH DOWN to the parquet source (the
  * Spark equivalent of Scan.setStartRow/setTimeRange reaching HBase), and
  * the pipeline must produce the same docs as an unpushed filter. Go-live
  * refuses every bad shard set without moving the pointer, and validates
  * and serves without a metadata job. */
class BatchPipelineSpec extends SparkSpec {

  private val conf = IndexerConf(
    table = "customer", rowReadMode = RowReadMode.Never,
    fields = Seq(FieldDef("name_s", "info:name", ValueSource.Value, "string")))

  test("row-range and time-range predicates reach the parquet scan (PushedFilters)") {
    val work = java.nio.file.Files.createTempDirectory("graft_batch").toString
    Fixtures.customerCells(spark, sf0001).write.mode("overwrite").parquet(s"$work/snap")
    val snap = spark.read.parquet(s"$work/snap")
    val scanned = BatchPipeline.scan(snap,
      ScanOptions(startRow = Some("2"), stopRow = Some("5"), startTime = Some(0L)))
    val plan = scanned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan.take(500))
    assert(plan.contains("GreaterThanOrEqual(rowKey,2"), "start-row filter must be pushed:\n" + plan.take(800))
    assert(plan.contains("LessThan(rowKey,5"), "stop-row filter must be pushed:\n" + plan.take(800))
  }

  test("scan options bound the run; dry-run returns docs without a sink") {
    val events = Fixtures.customerCells(spark, sf0001)
    val all = BatchPipeline.run(conf, events).count()
    val bounded = BatchPipeline.run(conf, events,
      ScanOptions(startRow = Some("10"), stopRow = Some("2"))).count() // lexicographic range
    assert(bounded < all && bounded > 0)
    val dry = BatchPipeline.dryRun(conf, events, n = 5)
    assert(dry.size == 5)
  }

  test("shard build writes numShards partitions and round-trips") {
    val work = java.nio.file.Files.createTempDirectory("graft_batch2").toString
    val ops = BatchPipeline.run(conf, Fixtures.customerCells(spark, sf0001))
    BatchPipeline.buildShards(ops.select("kind", "id", "doc"), 4, s"$work/shards")
    val back = BatchPipeline.readShards(spark, s"$work/shards")
    assert(back.select("shard").distinct().count() == 4)
    assert(back.count() == ops.filter(col("kind") === "add").count())
    // routing matches the md5 sharder expression
    val mismatch = back.withColumn("expect",
        graft.expr.hfunctions.md5_shard(col("id"), 4))
      .filter(col("shard") =!= col("expect")).count()
    assert(mismatch == 0)
  }

  test("go-live validates before the pointer flip; failure leaves the old pointer") {
    import java.nio.file.{Files, Paths}
    val work = java.nio.file.Files.createTempDirectory("graft_golive").toString
    val ops = BatchPipeline.run(conf, Fixtures.customerCells(spark, sf0001))
    val nAdds = ops.filter(col("kind") === "add").count()
    BatchPipeline.buildShards(ops.select("kind", "id", "doc"), 4, s"$work/v1")
    val serve = s"$work/serve"

    // happy path: validation passes, CURRENT points at v1
    assert(BatchPipeline.goLive(spark, s"$work/v1", serve, 4, Some(nAdds)) == nAdds)
    assert(BatchPipeline.currentServing(spark, serve).get.count() == nAdds)
    val livePtr = Files.readString(Paths.get(serve, "CURRENT"))

    // row-count mismatch → throws, pointer untouched
    BatchPipeline.buildShards(ops.select("kind", "id", "doc").limit(3), 4, s"$work/v2")
    intercept[IllegalArgumentException] {
      BatchPipeline.goLive(spark, s"$work/v2", serve, 4, Some(nAdds))
    }
    assert(Files.readString(Paths.get(serve, "CURRENT")) == livePtr)

    // incomplete build (no _SUCCESS) → throws, pointer untouched
    Files.delete(Paths.get(s"$work/v2", "_SUCCESS"))
    intercept[IllegalArgumentException] {
      BatchPipeline.goLive(spark, s"$work/v2", serve, 4)
    }
    assert(Files.readString(Paths.get(serve, "CURRENT")) == livePtr)
    assert(BatchPipeline.currentServing(spark, serve).get.count() == nAdds,
      "old index still serves after failed go-lives")
  }

  private lazy val ops = BatchPipeline.run(conf, Fixtures.customerCells(spark, sf0001))
    .select("kind", "id", "doc")
  private lazy val nAdds = ops.filter(col("kind") === "add").count()

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.forEach(p => Files.copy(p, Paths.get(to).resolve(src.relativize(p).toString)))
    finally s.close()
  }

  test("the served set resolves with no job, to an inferring read's schema and rows") {
    val work = Files.createTempDirectory("graft_serve").toString
    BatchPipeline.buildShards(ops, 4, s"$work/v1")
    BatchPipeline.goLive(spark, s"$work/v1", s"$work/serve", 4, Some(nAdds))
    val (served, jobs) = jobsDuring(BatchPipeline.currentServing(spark, s"$work/serve").get)
    assert(jobs == 0, s"resolving the served set ran $jobs jobs")
    val inferred = spark.read.parquet(s"$work/v1")
    assert(served.schema == inferred.schema)
    assert(served.orderBy("id").collect().toSeq == inferred.orderBy("id").collect().toSeq)
  }

  test("go-live runs no job; a served read runs one job fewer than an inferring read") {
    val work = Files.createTempDirectory("graft_jobs").toString
    BatchPipeline.buildShards(ops, 4, s"$work/v1")
    val (rows, goLiveJobs) = jobsDuring(
      BatchPipeline.goLive(spark, s"$work/v1", s"$work/serve", 4, Some(nAdds)))
    assert(rows == nAdds && goLiveJobs == 0, s"go-live ran $goLiveJobs jobs")
    val (servedRows, servedJobs) = jobsDuring(BatchPipeline.currentServing(spark, s"$work/serve").get.count())
    val (inferredRows, inferredJobs) = jobsDuring(spark.read.parquet(s"$work/v1").count())
    assert(servedRows == nAdds && inferredRows == nAdds)
    assert(servedJobs == inferredJobs - 1, s"served read ran $servedJobs jobs, inferring read $inferredJobs")
  }

  /** A fresh work dir with `v1` live, and a check that go-live of another
    * build there is refused and leaves `v1` served. */
  private def withLive(prefix: String)(body: (String, String => IllegalArgumentException) => Unit): Unit = {
    val work = Files.createTempDirectory(prefix).toString
    val serve = s"$work/serve"
    BatchPipeline.buildShards(ops, 4, s"$work/v1")
    BatchPipeline.goLive(spark, s"$work/v1", serve, 4, Some(nAdds))
    val livePtr = Files.readString(Paths.get(serve, "CURRENT"))
    body(work, dir => {
      val e = intercept[IllegalArgumentException](BatchPipeline.goLive(spark, dir, serve, 4, Some(nAdds)))
      assert(Files.readString(Paths.get(serve, "CURRENT")) == livePtr)
      assert(BatchPipeline.currentServing(spark, serve).get.count() == nAdds)
      e
    })
  }

  test("go-live refuses shard files whose schemas differ") {
    withLive("graft_mixed") { (work, refused) =>
      // one shard's file rewritten with an extra column: same rows, other schema
      copyTree(s"$work/v1", s"$work/mixed")
      spark.read.parquet(s"$work/v1/shard=0").withColumn("extra", lit(1))
        .write.mode("overwrite").parquet(s"$work/mixed/shard=0")
      assert(refused(s"$work/mixed").getMessage.contains("disagree on their schema"))
    }
  }

  test("go-live refuses a truncated parquet file") {
    withLive("graft_truncated") { (work, refused) =>
      copyTree(s"$work/v1", s"$work/truncated")
      val dataFile = Files.list(Paths.get(s"$work/truncated/shard=1")).iterator()
        .asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      val bytes = Files.readAllBytes(dataFile)
      Files.write(dataFile, bytes.take(bytes.length / 2)) // the footer is gone
      assert(refused(s"$work/truncated").getMessage.contains(dataFile.toString))
    }
  }

  test("go-live names a malformed shard directory (a null id)") {
    withLive("graft_nullid") { (work, refused) =>
      // a null id routes to shard=__HIVE_DEFAULT_PARTITION__
      val nullId = ops.filter(col("kind") === "add").limit(1)
        .select(col("kind"), lit(null).cast("string").as("id"), col("doc"))
      BatchPipeline.buildShards(ops.union(nullId), 4, s"$work/nullid")
      val e = refused(s"$work/nullid")
      assert(e.getClass == classOf[IllegalArgumentException])
      assert(e.getMessage.contains(s"$work/nullid/shard=__HIVE_DEFAULT_PARTITION__"), e.getMessage)
    }
  }
}
