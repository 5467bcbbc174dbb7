package graft.batch

import graft.conf.IndexerConf
import graft.core.IndexerCore
import java.nio.file.{Files, Path, Paths}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The batch path (reference hbase-indexer-mr, SURVEY §3.2): a pushed-down
  * snapshot scan through the same IndexerCore mapping calculus, then an
  * optional sharded index build.
  *
  * Scan options mirror the reference CLI (HBaseIndexingOptions.java:194-266):
  * row range (`--hbase-start-row/--hbase-end-row` → Scan.setStartRow/
  * setStopRow), time range (`--hbase-start-time/--hbase-end-time` →
  * Scan.setTimeRange). In Spark they are plain filters — Catalyst pushes
  * them into the parquet scan (`PushedFilters` in the physical plan; the
  * BatchPipelineSpec asserts this), and column projection prunes the read
  * schema the way the reference's familyMap trims the HBase scan.
  *
  * Row-read mode is forced to NEVER on this path, exactly as the reference
  * forces it in mappers (HBaseIndexerMapper.java:216-220): a scanned
  * snapshot row is already complete.
  */
case class ScanOptions(
    startRow: Option[String] = None, // inclusive
    stopRow: Option[String] = None, // exclusive (HBase Scan semantics)
    startTime: Option[Long] = None, // inclusive, cell/WAL time
    endTime: Option[Long] = None) // exclusive

object BatchPipeline {

  /** Apply the scan predicates — these reach the source as pushed filters. */
  def scan(snapshot: DataFrame, opts: ScanOptions): DataFrame = {
    val preds: Seq[Column] =
      opts.startRow.map(col("rowKey") >= _).toSeq ++
        opts.stopRow.map(col("rowKey") < _).toSeq ++
        opts.startTime.map(col("writeTime") >= _).toSeq ++
        opts.endTime.map(col("writeTime") < _).toSeq
    preds.foldLeft(snapshot)(_ filter _)
  }

  /** Scan → mapping core → doc ops. `snapshot` rows follow the engine's
    * mutation shape. Multi-table (regex) confs just see a unioned
    * snapshot — the table filter inside the core selects per conf. */
  def run(conf: IndexerConf, snapshot: DataFrame,
          opts: ScanOptions = ScanOptions()): DataFrame =
    IndexerCore.rowPath(conf.copy(rowReadMode = graft.conf.RowReadMode.Never))(
      scan(snapshot, opts))

  /** Dry run (reference IndexerDryRun): same plan, first `n` docs to the
    * driver instead of a sink. */
  def dryRun(conf: IndexerConf, snapshot: DataFrame,
             opts: ScanOptions = ScanOptions(), n: Int = 20): Seq[String] =
    run(conf, snapshot, opts).limit(n).collect().map(_.toString).toSeq

  /** S9/S10/S11 collapsed to their Spark shape: one shuffle on the shard
    * route (the reference's MR shuffle + SolrCloudPartitioner), then a
    * partitioned write — each `shard=N/` directory is an index segment
    * set. The reference's merge-tree (log_F(R/S) extra MR passes,
    * HBaseMapReduceIndexerTool.java:462-520) is unnecessary: every shard
    * lands whole in one write task, so each `shard=N/` holds one file.
    *
    * The shuffle has `numShards` partitions, but they are not one per
    * shard: `repartition(numShards, shard)` places shard `k` at
    * `pmod(murmur3(k, 42), numShards)`. With 8 shards, ids 0..7 go to
    * partitions 7, 3, 6, 3, 6, 2, 1, 3, so shards 1, 3 and 7 share one
    * write task, 2 and 4 share another, and 3 of the 8 tasks are empty.
    * AQE does not resize a `REPARTITION_BY_NUM` exchange. A
    * one-partition-per-shard layout did not move the build wall at 40k
    * rows on 4 cores, so the layout stays as it is.
    *
    * `router` picks the route function, mirroring the reference's two
    * modes (HBaseMapReduceIndexerTool.java:397-417):
    *   - `"md5"` — the engine-native HashSharder route (default, the
    *     reference's non-SolrCloud path);
    *   - `"solrcloud"` — Solr NRT-compatible compositeId/murmur3 range
    *     routing ([[graft.expr.SolrRouteHash]]), so an offline build
    *     dropped into a live SolrCloud collection puts every doc on the
    *     shard the NRT API would have picked — batch and live updates
    *     mix on identical unique keys.
    *
    * The write goes through [[graft.io.LocalFs]], whoever built the
    * session. */
  def buildShards(ops: DataFrame, numShards: Int, outDir: String,
                  router: String = "md5"): Unit = {
    val route = router match {
      case "md5" => graft.expr.hfunctions.md5_shard(col("id"), numShards)
      case "solrcloud" => graft.expr.hfunctions.solr_shard(col("id"), numShards)
      case other => throw new IllegalArgumentException(
        s"unknown router '$other' (expected md5 or solrcloud)")
    }
    graft.io.LocalFs.install(ops.sparkSession)
    ops.filter(col("kind") === "add")
      .withColumn("shard", route)
      .repartition(numShards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
  }

  /** Read a built shard set back (go-live's MergeIndexes becomes "point
    * the serving layer at the new directory"). */
  def readShards(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** S12 go-live with validation: atomically repoint the serving layer at
    * a freshly built shard set, mirroring the reference's all-or-nothing
    * contract (GoLive.java:52-140 fails the WHOLE go-live if any shard
    * merge fails — a half-deployed index never serves). Pre-flip checks:
    * the build completed (`_SUCCESS`), at least one shard directory
    * exists, every shard directory names an integer shard id below
    * `numShards` (a null id routes to `shard=__HIVE_DEFAULT_PARTITION__`),
    * every shard directory holds a data file, every data file's parquet
    * footer reads and carries the same Spark schema, and the footer row
    * counts sum to `expectedRows` when given (the reference's analogue is
    * the per-shard merge RPC succeeding).
    *
    * Validation reads the footers in this JVM and runs no Spark job.
    * Only after every check passes is `serveDir/CURRENT` rewritten — the
    * same pointer-flip commit as the streaming IndexState. The pointer
    * holds the shard set's path and, on its second line, the schema it
    * serves (the footer schema, nullable as a parquet read gives it, plus
    * `shard int`), written in one rename so the two never disagree. A
    * failed validation throws and leaves the old pointer (and thus the
    * old live index) untouched. Returns the total row count gone live. */
  def goLive(spark: SparkSession, shardsDir: String, serveDir: String,
             numShards: Int, expectedRows: Option[Long] = None): Long = {
    val root = Paths.get(shardsDir)
    require(Files.isDirectory(root), s"go-live: no shard build at $shardsDir")
    require(Files.exists(root.resolve("_SUCCESS")),
      s"go-live: build at $shardsDir is incomplete (no _SUCCESS marker)")
    val shardDirs = list(root).filter(p => p.getFileName.toString.startsWith("shard="))
    require(shardDirs.nonEmpty, s"go-live: no shard directories under $shardsDir")
    val ids = shardDirs.map { d =>
      d.getFileName.toString.stripPrefix("shard=").toIntOption.getOrElse(
        throw new IllegalArgumentException(s"go-live: malformed shard directory $d (not an integer shard id)"))
    }
    require(ids.forall(k => k >= 0 && k < numShards),
      s"go-live: unexpected shard ids ${ids.filterNot(k => k >= 0 && k < numShards)} (numShards=$numShards)")
    val footers = shardDirs.flatMap { d =>
      // the files a parquet read of the directory scans: hidden names
      // (`_SUCCESS`, `.crc` checksums) are skipped
      val files = list(d).filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
      }
      require(files.nonEmpty, s"go-live: shard directory $d has no data files")
      files.map(footer)
    }
    val schemas = footers.groupBy(_._3)
    require(schemas.size == 1, "go-live: shard files disagree on their schema: " +
      schemas.map { case (s, fs) => s"${s.simpleString} in ${fs.head._1}" }.mkString("; "))
    val rows = footers.map(_._2).sum
    expectedRows.foreach(e => require(rows == e,
      s"go-live: shard build holds $rows rows, expected $e"))
    val served = StructType(graft.streaming.IndexState.readSchema(schemas.head._1).fields :+
      StructField("shard", IntegerType))
    Files.createDirectories(Paths.get(serveDir))
    // temp-file + rename, not truncate-in-place: a reader resolving the
    // pointer mid-flip must see the old index or the new one, never an
    // empty path
    graft.streaming.IndexState.atomicWriteString(
      Paths.get(serveDir, "CURRENT"), s"${root.toAbsolutePath}\n${served.json}")
    rows
  }

  /** The currently served index (whatever go-live last validated), read
    * with the schema its pointer records, so resolving it runs no job. */
  def currentServing(spark: SparkSession, serveDir: String): Option[DataFrame] = {
    val ptr = Paths.get(serveDir, "CURRENT")
    Option.when(Files.exists(ptr)) {
      val Array(dir, schema) = Files.readString(ptr).split("\n", 2)
      graft.streaming.IndexState.readParquet(spark, schema, dir)
    }
  }

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.sorted finally s.close()
  }

  /** A data file, its footer's row count and the Spark schema its writer
    * recorded there. */
  private def footer(f: Path): (Path, Long, StructType) = {
    val key = ParquetReadSupport.SPARK_METADATA_KEY
    val (rows, schema) = try {
      // a plain configuration: the default options build a Hadoop
      // Configuration per file, which parses its XML resources each time
      // (8 footers: about 100 ms against 2 ms, in-process on 4 cores)
      val r = ParquetFileReader.open(new LocalInputFile(f),
        ParquetReadOptions.builder(new PlainParquetConfiguration()).build())
      try (r.getRecordCount, Option(r.getFooter.getFileMetaData.getKeyValueMetaData.get(key))
        .map(DataType.fromJson(_).asInstanceOf[StructType]))
      finally r.close()
    } catch {
      case NonFatal(e) => throw new IllegalArgumentException(
        s"go-live: unreadable parquet footer in $f (${e.getMessage})", e)
    }
    require(schema.nonEmpty, s"go-live: $f carries no Spark schema ($key)")
    (f, rows, schema.get)
  }
}
