package graft

import java.net.URI
import org.apache.hadoop.fs.{FileSystem, GraftFsCache}
import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: the Bench, Verify and ScaleProbe mains
  * and the unit specs all run on the confs set here, so a capture, an
  * oracle compare and a test see the same engine. */
object GraftSession {

  /** Per-session artifact isolation, off. With it on (Spark's default)
    * every streaming query's cloned session gets a `JobArtifactState`
    * under its own UUID, so its tasks run under a classloader of their
    * own, and `CodeGenerator`'s cache, keyed on the context classloader,
    * misses for every class the query generates: each drain recompiled
    * its trigger's 33 classes. Off, every session shares the executor's
    * loader and one codegen cache. Isolation only scopes artifacts a
    * session adds, and the engine adds none (no `addArtifact`, `addJar`
    * or `SparkContext.addFile`). */
  private val sharedArtifacts = "spark.sql.artifact.isolation.enabled" -> "false"

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
      .config(sharedArtifacts._1, sharedArtifacts._2)
      // file: I/O through java.nio instead of forked chmod/readlink
      .config(graft.io.LocalFs.hadoopConfs.map { case (k, v) => s"spark.hadoop.$k" -> v })
      .getOrCreate()
    install(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val localUri = URI.create("file:///")

  /** Apply the engine's session settings to `spark`, whoever built it:
    * `file:` through [[graft.io.LocalFs]], and no artifact isolation
    * (see `sharedArtifacts`). Idempotent.
    *
    * `FileSystem.get` caches one instance per scheme and user whatever
    * the conf, so a default `LocalFileSystem` that an earlier caller put
    * in the cache is evicted here; callers that still hold it keep a
    * working filesystem.
    *
    * Call it on the session that starts a streaming query, before
    * `start()`: the query runs on a clone that copies this session's
    * conf, and a session fixes its artifact state at its first
    * execution, so setting the key on the clone inside a micro-batch
    * comes too late. */
  def install(spark: SparkSession): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    graft.io.LocalFs.hadoopConfs.foreach { case (k, v) => if (hconf.get(k) != v) hconf.set(k, v) }
    val cached = FileSystem.get(localUri, hconf)
    if (!cached.isInstanceOf[graft.io.NioLocalFileSystem]) {
      GraftFsCache.evict(localUri, hconf, cached)
      FileSystem.get(localUri, hconf)
    }
    val (k, v) = sharedArtifacts
    if (!spark.conf.getOption(k).contains(v)) spark.conf.set(k, v)
  }
}
