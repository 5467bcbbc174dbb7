package indexbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Entry point: `Main --workload <trickle|catchup|rebuild> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --out <dir>
  * [--perturb-reference]`
  *
  * Prints one JSON line: {"correct", "attempted", "failed", "metrics",
  * "info"}; `run.py` trims it to the contract's keys. Untraced runs report
  * the end-to-end metrics, traced runs the per-layer ones and write their
  * spans to `<out>/trace-<workload>.json`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList, Map.empty)
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    Files.createDirectories(work)
    Files.createDirectories(out)
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("indexbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val c = new Ctx(spark, work, seed, seconds, new Tracer(traced), opts.contains("perturb-reference"))
    c.mark("session")
    c.info("nproc") = cores
    c.info("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576
    c.info("sentinel_ms_start") = Sentinel.ms()

    val result =
      try workload match {
        case "trickle" => Trickle.run(c)
        case "catchup" => Catchup.run(c)
        case "rebuild" => Rebuild.run(c)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          Result(correct = false, attempted = 1, failed = 1, Map.empty, Map.empty, c.info.toMap,
            c.problems.toSeq :+ s"workload aborted: $t")
      }
    val info = result.info ++ Map("sentinel_ms_end" -> Sentinel.ms(), "problems" -> result.problems,
      "e2e" -> result.e2e)
    if (traced) Json.write(out.resolve(s"trace-$workload.json"), Map(
      "workload" -> workload, "seed" -> seed, "info" -> info,
      "metrics" -> result.layer,
      "spans" -> Layers.nest(c.tracer.all).map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)),
      "self_ms" -> Layers.selfTimes(Layers.nest(c.tracer.all)),
      "triggers" -> c.triggers.all.map(t => Map("batch" -> t.batchId, "start_ms" -> t.start,
        "rows" -> t.inputRows, "durationMs" -> t.phases))))
    result.problems.foreach(p => System.err.println(s"indexbench: $p"))
    val metrics = if (traced) result.layer else result.e2e
    println(Json.render(Map(
      "correct" -> (result.correct && result.problems.isEmpty),
      "attempted" -> result.attempted,
      "failed" -> result.failed,
      "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> Common.unit(k)) },
      "info" -> info)))
    System.out.flush()
    c.mark("stopping")
    spark.stop()
    c.mark("stopped")
    System.exit(0)
  }

  private def parse(a: List[String], acc: Map[String, String]): Map[String, String] = a match {
    case Nil => acc
    case "--perturb-reference" :: rest => parse(rest, acc + ("perturb-reference" -> "1"))
    case k :: v :: rest if k.startsWith("--") => parse(rest, acc + (k.drop(2) -> v))
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }
}

object Common {
  val E2eUnits: Map[String, String] = Map(
    "setup_s" -> "s", "freshness_ms_p50" -> "ms", "freshness_ms_tail" -> "ms",
    "read_ms_p50" -> "ms", "events_per_s" -> "events/s", "rebuild_rows_per_s" -> "rows/s")

  def unit(metric: String): String =
    E2eUnits.getOrElse(metric, Layers.Units.toMap.getOrElse(metric, "count"))

  /** Assemble a workload's result. `setupEnd` is the wall time of the first
    * timed operation; set-up is counted from JVM start. The layer metrics
    * are computed only in a traced run. */
  def finish(c: Ctx, setupEnd: Double, attempted: Long, failed: Long, e2e: Map[String, Double],
             servedShards: Option[Path], layer: => Map[String, Double]): Result = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val setup = (setupEnd - jvmStart) / 1000.0
    val layers =
      if (!c.tracer.enabled) Map.empty[String, Double]
      else {
        val streaming = layer
        val (files, skew) = servedShards.map(shardStats(c, _)).getOrElse((0L, 0.0))
        val all = streaming ++ Layers.common(c, c.walls.toSeq, files, skew, Layers.gcMs() - c.gcAtSetupEnd)
        Layers.Units.map { case (k, _) => k -> all.getOrElse(k, 0.0) }.toMap
      }
    c.info("setup_s") = setup
    Result(c.problems.isEmpty, attempted, failed, e2e + ("setup_s" -> setup), layers, c.info.toMap, c.problems.toSeq)
  }

  /** Data files of a served shard set and its max/mean rows per shard. */
  private def shardStats(c: Ctx, shards: Path): (Long, Double) = {
    import scala.jdk.CollectionConverters._
    val files = Files.walk(shards)
    val n = try files.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")) finally files.close()
    val rows = c.spark.read.parquet(shards.toString).groupBy("shard").count().collect().map(_.getLong(1))
    (n.toLong, if (rows.isEmpty) 0.0 else rows.max / (rows.sum.toDouble / rows.length))
  }
}

/** A fixed CPU-bound loop, timed: a reading of how loaded the host is,
  * recorded beside every wall time (run info, not a metric). */
object Sentinel {
  def ms(): Double = {
    val t0 = System.nanoTime()
    var h = 0L
    var i = 0
    while (i < 20000000) { h = h * 6364136223846793005L + i; h ^= h >>> 29; i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (h == 42) println("")
    ms
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => render(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => render(other.toString)
  }
  def write(p: Path, v: Any): Unit = Files.writeString(p, render(v))
}
