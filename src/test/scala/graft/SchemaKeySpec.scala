package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `core.ParquetOnce` schema keys of the two store families are
  * spelled once each: `state:<root>` in `IndexState.schemaKey`, which the
  * document stores' shared data path (`IndexState.writeCommit` and
  * `readAssigned`, in MutationStream.scala) seeds and reads through, and
  * `gen:<dir>` in `GenManifest.schemaKey`, behind the generation writer
  * and reader. A second spelling elsewhere would be a second
  * write or read path that can drift from the first (a seed under one
  * key, a read under another, and the read runs the inference job again
  * or goes through a stale schema). */
class SchemaKeySpec extends AnyFunSuite {

  /** One entry per occurrence of the key literal, naming its file. */
  private def filesSpelling(key: String): List[String] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repository root: $root")
    val literal = java.util.regex.Pattern.quote("\"" + key).r
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .flatMap(p => literal.findAllIn(java.nio.file.Files.readString(p)).map(_ => p.getFileName.toString))
        .toList
    } finally walk.close()
  }

  test("a state: schema key is spelled once, by the shared store data path") {
    val files = filesSpelling("state:")
    assert(files == List("MutationStream.scala"),
      s"a state: key outside IndexState's shared write/read (use IndexState.writeCommit/readAssigned): $files")
  }

  test("a gen: schema key is spelled once, in GenManifest.scala") {
    val files = filesSpelling("gen:")
    assert(files == List("GenManifest.scala"),
      s"a gen: key outside GenManifest.scala (use GenManifest.live/advance or GenMeta.live/write): $files")
  }
}
