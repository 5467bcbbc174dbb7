package indexbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** File-system side of the benchmark: writing generated log files,
  * releasing them into an indexer's log, and reading back which trigger
  * consumed a file and when that trigger flipped CURRENT. */
object Io {

  /** Write events [0, files * perFile) of `spec` as `files` parquet files
    * `name-%05d.parquet` under `outDir`, event i going to file i / perFile.
    * One Spark job writes them all. */
  def writeFiles(spark: SparkSession, spec: Gen.Spec, files: Int, perFile: Long,
                 outDir: Path, name: String): Seq[Path] = {
    import spark.implicits._
    val tmp = outDir.resolve(s".tmp-$name")
    val n = files * perFile
    spark.range(0, n, 1, math.max(1, math.min(files, spark.sparkContext.defaultParallelism * 2)))
      .as[Long]
      .map(i => (i / perFile, spec.event(i).toMutation))
      .select(col("_1").as("_f"), col("_2.*"))
      .repartition(col("_f"))
      .write.partitionBy("_f").parquet(tmp.toString)
    Files.createDirectories(outDir)
    val out = (0 until files).map { f =>
      val part = list(tmp.resolve(s"_f=$f")).filter(_.getFileName.toString.endsWith(".parquet"))
      require(part.size == 1, s"file $f of $name: expected one part file, got ${part.size}")
      val dst = outDir.resolve(f"$name-$f%05d.parquet")
      Files.move(part.head, dst)
      dst
    }
    deleteRecursively(tmp)
    out
  }

  /** Release a staged file into a log directory: stamp its modification
    * time (the file source orders and ages files by it), then rename it in
    * atomically so the stream never lists a half-written file. */
  def release(staged: Path, logDir: Path): Path = {
    val dst = logDir.resolve(staged.getFileName)
    Files.setLastModifiedTime(staged, FileTime.fromMillis(System.currentTimeMillis()))
    Files.move(staged, dst, StandardCopyOption.ATOMIC_MOVE)
    dst
  }

  /** Hard-link `src` into `logDir`; the link shares the source's
    * modification time, so a linked backlog keeps its file order. */
  def link(src: Path, logDir: Path): Path = {
    val dst = logDir.resolve(src.getFileName)
    Files.createLink(dst, src)
    dst
  }

  private val PathRe = """"path":"([^"]+)"""".r
  private val BatchRe = """"batchId":(\d+)""".r

  /** Log file name -> batch id of the trigger that consumed it, from the
    * file source's log in the checkpoint (plain and compacted entries). */
  def consumedBy(ckptDir: Path): Map[String, Long] = {
    val src = ckptDir.resolve("sources").resolve("0")
    if (!Files.exists(src)) Map.empty
    else list(src).filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala.flatMap { line =>
        for (p <- PathRe.findFirstMatchIn(line); b <- BatchRe.findFirstMatchIn(line))
          yield p.group(1).substring(p.group(1).lastIndexOf('/') + 1) -> b.group(1).toLong
      }).toMap
  }

  /** Batch id -> wall time (ms) its commit flipped CURRENT: the modification
    * time of the manifest the flip names, written just before the pointer. */
  def flipTimes(indexDir: Path): Map[Long, Double] =
    list(indexDir).flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("MANIFEST-v")) {
        val id = n.stripPrefix("MANIFEST-v").takeWhile(_.isDigit)
        val t = Files.getLastModifiedTime(p)
        Some(id.toLong -> t.to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0)
      } else None
    }.toMap

  /** Data files and bytes reachable from an index state's live manifest. */
  def liveFiles(indexDir: Path, manifest: Iterable[String]): (Long, Long) = {
    val dirs = manifest.map(_.split("/", 2)(0)).toSet
    val files = dirs.toSeq.flatMap(d => list(indexDir.resolve(d)))
      .filter(_.getFileName.toString.endsWith(".parquet"))
    (files.size.toLong, files.map(Files.size).sum)
  }

  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else { val s = Files.list(dir); try s.iterator().asScala.toSeq.sortBy(_.toString) finally s.close() }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
}
