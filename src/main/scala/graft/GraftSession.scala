package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: the Bench, Verify and ScaleProbe mains
  * and the unit specs all run on the confs set here, so a capture, an
  * oracle compare and a test see the same engine. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else the cores this JVM may use. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A local session on `cores` cores, with one shuffle partition per
    * core. */
  def apply(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // older fixture generations carry INT64 TIMESTAMP(NANOS): surface as
      // raw longs; TIMESTAMP(MICROS) fixtures are normalized by
      // Fixtures.normalizeEventTs instead (this flag ignores MICROS)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      // AQE coalesces post-shuffle partitions down to minPartitionSize
      // (default 1m): at fixture scale a 4-5 MB exchange collapses to 4
      // tasks even when the stage above it explodes 4.7 MB -> 81 MB of
      // pair rows (d12). The lower floor restores reduce-side parallelism
      // for small-input/big-output stages; at cluster scale partitions sit
      // far above either floor (plans/r21/minpartition_floor_receipt.txt)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      // file: I/O through java.nio instead of forked chmod/readlink
      .config(graft.io.LocalFs.hadoopConfs.map { case (k, v) => s"spark.hadoop.$k" -> v })
      .getOrCreate()
    graft.io.LocalFs.install(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
