package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every main and spec takes its session from [[GraftSession]], so the
  * confs a capture, an oracle compare and a test run on cannot drift
  * apart again. */
class GraftSessionSpec extends AnyFunSuite {

  test("no code in src/main builds a SparkSession outside GraftSession") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repository root: $root")
    val walk = java.nio.file.Files.walk(root)
    val offenders =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
          .filter(p => """SparkSession\s*\.\s*builder\b""".r.findFirstIn(java.nio.file.Files.readString(p)).isDefined)
          .map(_.toString).toList
      } finally walk.close()
    assert(offenders.isEmpty, s"SparkSession.builder outside GraftSession.scala (use GraftSession()): $offenders")
  }
}
