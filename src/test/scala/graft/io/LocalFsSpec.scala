package graft.io

import graft.SparkSpec
import graft.batch.BatchPipeline
import graft.conf.{FieldDef, IndexerConf, RowReadMode, ValueSource}
import graft.model.{Cell, MutationEvent}
import graft.streaming.{DocStateStore, IndexState, MutationStream, TxnLogState}
import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.PosixFilePermissions
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, GraftFsCache, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The engine's `file:` I/O forks no process. Each write path of the
  * indexer runs under an in-process JFR recording of `jdk.ProcessStart`:
  * a two-trigger drain into `IndexState`, the same drain into
  * `TxnLogState`, and a shard build with its go-live. None may launch
  * `chmod`, `readlink`, `ls` or `stat`, which Hadoop's local filesystem
  * runs without libhadoop.
  *
  * Each case starts from the state a caller-built session sees: a
  * default `LocalFileSystem` already in the JVM's `FileSystem` cache and
  * no filesystem keys in the session's Hadoop conf. So a write path that
  * does not install [[LocalFs]] itself, or an install that depends on
  * cache order, fails here. The parity cases pin what must not change:
  * mode bits and symlink statuses. */
class LocalFsSpec extends SparkSpec {

  private val localUri = URI.create("file:///")
  private val forked = Set("chmod", "readlink", "ls", "stat")

  private val conf = IndexerConf(
    table = "events", rowReadMode = RowReadMode.Never,
    fields = Seq(FieldDef("val_s", "evt:*", ValueSource.Value, "string")))

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Put the JVM's default `file:` filesystem in the cache and clear the
    * session's filesystem keys. */
  private def asCallerBuiltSession(): Unit = {
    val c = new Configuration()
    val cached = FileSystem.get(localUri, c)
    if (cached.isInstanceOf[NioLocalFileSystem]) GraftFsCache.evict(localUri, c, cached)
    assert(!FileSystem.get(localUri, c).isInstanceOf[NioLocalFileSystem])
    LocalFs.hadoopConfs.keys.foreach(spark.sparkContext.hadoopConfiguration.unset)
  }

  /** The executable names of the processes the JVM launched in `body`. */
  private def launches(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("launches", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => Paths.get(e.getString("command").trim.split("\\s+")(0)).getFileName.toString)
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  private def assertNoForks(what: String, names: Seq[String]): Unit = {
    def counts(ns: Seq[String]) = ns.groupBy(identity).view.mapValues(_.size).toMap
    info(s"$what: ${names.size} launches ${counts(names)}")
    val hit = counts(names.filter(forked))
    assert(hit.isEmpty, s"$what forked")
  }

  private def ev(row: String, seq: Long, v: String) =
    MutationEvent("events", row, seq, 1000L + seq, Seq(Cell("evt", "q", seq, "put", v)), None)

  /** A mutation log of two files, one per trigger. */
  private def twoFileLog(): String = {
    import spark.implicits._
    val log = tmp("graft_lfs_log")
    Seq(Seq(ev("r1", 1, "a"), ev("r2", 2, "b")), Seq(ev("r1", 3, "c"), ev("r3", 4, "d")))
      .foreach(evs => spark.createDataset(evs).toDF().coalesce(1).write.mode("append").parquet(log))
    log
  }

  /** Drain a two-file log into `store`; the index dir and the launches. */
  private def drain(store: (String, org.apache.spark.sql.SparkSession) => DocStateStore)
      : (String, Seq[String]) = {
    val log = twoFileLog()
    val (idx, ckpt) = (tmp("graft_lfs_idx"), tmp("graft_lfs_ckpt"))
    asCallerBuiltSession()
    val names = launches {
      val q = MutationStream.start(spark, conf, log, idx, ckpt, stateFactory = store)
      q.awaitTermination()
      assert(q.lastProgress.batchId == 1L, "two triggers, one per log file")
    }
    (idx, names)
  }

  private def ids(st: DocStateStore): Set[String] =
    st.read().map(_.select("id").collect().map(_.getString(0)).toSet).getOrElse(Set.empty)

  test("a two-trigger drain into IndexState launches no chmod, readlink, ls or stat") {
    val (idx, names) = drain(new IndexState(_, _))
    assert(ids(new IndexState(idx, spark)) == Set("r1", "r2", "r3"))
    assertNoForks("IndexState drain", names)
  }

  test("a two-trigger drain into TxnLogState launches no chmod, readlink, ls or stat") {
    val (idx, names) = drain(new TxnLogState(_, _, 8))
    assert(ids(new TxnLogState(idx, spark, 8)) == Set("r1", "r2", "r3"))
    assertNoForks("TxnLogState drain", names)
  }

  test("buildShards and goLive launch no chmod, readlink, ls or stat") {
    import spark.implicits._
    val work = tmp("graft_lfs_shards")
    val ops = spark.sparkContext.parallelize(1 to 200).toDF("n")
      .select(lit("add").as("kind"), concat(lit("id"), col("n")).as("id"),
        map(lit("v"), array(col("n").cast("string"))).as("doc"))
    asCallerBuiltSession()
    val names = launches {
      BatchPipeline.buildShards(ops, 4, s"$work/v1")
      assert(BatchPipeline.goLive(spark, s"$work/v1", s"$work/serve", 4, Some(200L)) == 200L)
    }
    assertNoForks("buildShards + goLive", names)
  }

  private def mode(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def masked(perm: FsPermission, c: Configuration): String =
    perm.applyUMask(FsPermission.getUMask(c)).toString

  test("a committed file and directory get the mode bits Hadoop's defaults and umask give") {
    val (idx, _) = drain(new IndexState(_, _))
    val commit = Files.list(Paths.get(idx)).iterator().asScala
      .find(p => Files.isDirectory(p) && Files.exists(p.resolve("_SUCCESS"))).get
    val data = Files.list(commit).iterator().asScala.find(_.toString.endsWith(".parquet")).get
    val c = spark.sparkContext.hadoopConfiguration
    assert(mode(commit) == masked(FsPermission.getDirDefault, c))
    assert(mode(data) == masked(FsPermission.getFileDefault, c))

    // a umask other than the process's shows the bits are set, not inherited
    val strict = new Configuration(c)
    strict.set("fs.permissions.umask-mode", "027")
    val fs = new NioLocalFileSystem
    fs.initialize(localUri, strict)
    val dir = Paths.get(tmp("graft_lfs_mode"), "d")
    fs.mkdirs(new Path(dir.toString))
    val file = dir.resolve("f")
    fs.create(new Path(file.toString)).close()
    assert(mode(dir) == "rwxr-x---" && mode(dir) == masked(FsPermission.getDirDefault, strict))
    assert(mode(file) == "rw-r-----" && mode(file) == masked(FsPermission.getFileDefault, strict))

    // a sticky bit keeps Hadoop's own path
    fs.setPermission(new Path(dir.toString), new FsPermission(Integer.parseInt("1750", 8).toShort))
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & Integer.parseInt("1777", 8)) ==
      Integer.parseInt("1750", 8))
  }

  test("getFileLinkStatus: a symlink still reports isSymlink; a plain path is its file status") {
    graft.GraftSession.install(spark)
    val raw = FileSystem.get(localUri, spark.sparkContext.hadoopConfiguration)
      .asInstanceOf[LocalFileSystem].getRaw
    assert(raw.isInstanceOf[NioRawLocalFileSystem], raw.getClass)
    val dir = Paths.get(tmp("graft_lfs_link"))
    val target = Files.writeString(dir.resolve("t"), "x")
    val link = Files.createSymbolicLink(dir.resolve("l"), target)
    val st = raw.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink)
    assert(st.getSymlink.toUri.getPath == target.toString)
    val plain = raw.getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 1L)
    assert(raw.getFileLinkStatus(new Path(dir.toString)).isDirectory)
    intercept[java.io.FileNotFoundException](raw.getFileLinkStatus(new Path(dir.resolve("none").toString)))
  }
}
