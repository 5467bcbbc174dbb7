package graft.mapping

import graft.SparkSpec
import graft.conf.{FieldDef, IndexerConf, ValueSource}
import graft.core.IndexerCore
import graft.model.CellType
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import scala.collection.mutable

/** The compiled mapping kernels (doc map, event and cell relevance,
  * completeness, raw extraction, the put-cell sort) against a plain-Scala model of the
  * reference extraction, over random cell arrays and random confs. Sizes
  * are bounded and the seed fixed, so a failure replays exactly. */
class MappingKernelSpec extends SparkSpec {
  import MappingKernelSpec._

  private val families = Seq("f", "g")
  private val qualifiers = Seq("", "a", "ab", "abc", "b", "ba", "é", "éa")

  private val cellGen: Gen[C] = for {
    family <- Gen.oneOf(families)
    qualifier <- Gen.oneOf(qualifiers)
    cellType <- Gen.frequency(6 -> CellType.Put, 1 -> CellType.DeleteRow,
      1 -> CellType.DeleteFamily, 1 -> CellType.DeleteColumn)
    value <- Gen.frequency(1 -> Gen.const(null), 5 -> Gen.oneOf("x", "7", "a#b", "#", "", "v1"))
  } yield C(family, qualifier, cellType, value)

  // mostly short rows; a few wide ones give the sorts long runs
  private val cellsGen: Gen[Seq[C]] =
    Gen.frequency(9 -> Gen.choose(0, 8), 1 -> Gen.choose(33, 48)).flatMap(Gen.listOfN(_, cellGen))

  private def fieldGen(i: Int): Gen[FieldDef] = for {
    family <- Gen.frequency(6 -> Gen.oneOf(families), 1 -> Gen.const("h"))
    prefix <- Gen.oneOf(true, false)
    qualifier <- if (prefix) Gen.oneOf("", "a", "é") else Gen.oneOf(qualifiers)
    fromQualifier <- if (prefix) Gen.oneOf(true, false) else Gen.const(false)
    dynamic <- Gen.frequency(1 -> true, 3 -> false)
    // a repeated static name exercises the map's key dedup
    name <- if (dynamic) Gen.const(s"d$i*") else Gen.frequency(8 -> s"s$i", 1 -> "s0")
    typeName <- Gen.oneOf("string", "int", "graft.mapping.SplitHashMapper")
  } yield FieldDef(name, s"$family:$qualifier${if (prefix) "*" else ""}",
    if (fromQualifier) ValueSource.Qualifier else ValueSource.Value, typeName)

  private val confGen: Gen[IndexerConf] = for {
    n <- Gen.choose(0, 5)
    fields <- Gen.sequence[Seq[FieldDef], FieldDef]((0 until n).map(fieldGen))
  } yield IndexerConf(table = "t", fields = fields)

  private val cases: Seq[(IndexerConf, Seq[Seq[C]])] = {
    val caseGen = for {
      conf <- confGen
      rows <- Gen.listOfN(40, cellsGen)
    } yield (conf, rows)
    Gen.listOfN(16, caseGen).pureApply(Gen.Parameters.default, Seed(20261018L))
  }

  private val cellsType = ArrayType(StructType(Seq(
    StructField("family", StringType), StructField("qualifier", StringType),
    StructField("ts", LongType), StructField("cellType", StringType),
    StructField("value", StringType))))

  private def check(conf: IndexerConf, rows: Seq[Seq[C]]): Unit = {
    // an RDD, not a local relation: the optimizer would evaluate a
    // projection over local rows itself, never reaching generated code
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.zipWithIndex.map { case (cs, i) =>
        Row(i, cs.map(c => Row(c.family, c.qualifier, 0L, c.cellType, c.value)))
      }, 2),
      StructType(Seq(StructField("i", IntegerType), StructField("cells", cellsType))))
    val doc = Mapping.docMap(conf)(col("cells"))
    val raws =
      if (conf.fields.isEmpty) array().cast("array<array<string>>")
      else array(conf.fields.map(f => Mapping.extractRaw(col("cells"), f)): _*)
    val out = df.select(col("i"), map_keys(doc), map_values(doc),
        Mapping.isRelevantEvent(conf)(col("cells")),
        Mapping.containsRequiredData(conf)(col("cells")),
        IndexerCore.sortedPutCells(col("cells")), raws)
      .collect().sortBy(_.getInt(0))
    assert(out.length == rows.length)
    out.zip(rows).foreach { case (r, cells) =>
      val ctx = s"conf=${conf.fields} cells=$cells"
      val keys = r.getSeq[String](1)
      val vals = r.getSeq[scala.collection.Seq[String]](2).map(_.toSeq)
      assert(keys.zip(vals) == Model.docMap(conf, cells), ctx)
      assert(r.getBoolean(3) == Model.relevant(conf, cells), ctx)
      assert(r.getBoolean(4) == Model.complete(conf, cells), ctx)
      val sorted = r.getSeq[Row](5).map(c => C(c.getString(0), c.getString(1), c.getString(3), c.getString(4)))
      assert(sorted == Model.sortedPuts(cells), ctx)
      assert(r.getSeq[scala.collection.Seq[String]](6).map(_.toSeq) ==
        conf.fields.map(Model.raw(_, cells)), ctx)
    }
    // the column path's per-cell relevance
    val perCell = df.select(col("i"), posexplode(col("cells")))
      .select(col("i"), col("pos"), Mapping.isRelevantCell(conf)(col("col")))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getBoolean(2)).toMap
    assert(perCell.size == rows.map(_.length).sum)
    for ((cells, i) <- rows.zipWithIndex; (c, pos) <- cells.zipWithIndex)
      assert(perCell((i, pos)) == conf.fields.exists(Model.matches(_, c)), s"conf=${conf.fields} cell=$c")
  }

  test("compiled kernels ≡ the reference model over random cells and confs") {
    codegenOnly {
      cases.foreach { case (conf, rows) => check(conf, rows) }
    }
  }

  test("interpreted evaluation ≡ the reference model") {
    withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false") {
      cases.take(4).foreach { case (conf, rows) => check(conf, rows) }
    }
  }

  test("the generator covers every case the model distinguishes") {
    val fields = cases.flatMap(_._1.fields)
    assert(fields.exists(_.prefixMatch) && fields.exists(!_.prefixMatch))
    assert(fields.exists(_.source == ValueSource.Qualifier))
    assert(fields.exists(_.dynamicName) && fields.exists(f => !Mapping.isBuiltinType(f.typeName)))
    assert(cases.exists { case (c, _) => c.fields.nonEmpty && !c.fields.exists(_.prefixMatch) })
    val cells = cases.flatMap(_._2).flatten
    assert(CellType.all.forall(t => cells.exists(_.cellType == t)) && cells.exists(_.value == null))
    assert(cases.flatMap(_._2).exists(_.length > 32))
  }
}

object MappingKernelSpec {
  final case class C(family: String, qualifier: String, cellType: String, value: String)

  /** The reference extraction, one event at a time (DefaultResultToSolrMapper
    * .java:68-156; prefix extractors iterate a byte-ordered family map). */
  object Model {
    private val byteOrder: Ordering[String] =
      (a, b) => java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

    def matches(f: FieldDef, c: C): Boolean =
      c.family == f.family &&
        (if (f.prefixMatch) c.qualifier.startsWith(f.qualifier) else c.qualifier == f.qualifier)

    private def puts(f: FieldDef, cells: Seq[C]): Seq[C] = {
      val m = cells.filter(c => c.cellType == CellType.Put && matches(f, c))
      if (f.prefixMatch) m.sortBy(_.qualifier)(byteOrder) else m // stable
    }

    def raw(f: FieldDef, cells: Seq[C]): Seq[String] =
      puts(f, cells).map(c => if (f.source == ValueSource.Qualifier) c.qualifier else c.value)

    private def docValues(f: FieldDef, cells: Seq[C]): Seq[String] =
      if (Mapping.isBuiltinType(f.typeName)) raw(f, cells)
      else {
        val m = ValueMapper.load(f.typeName)
        raw(f, cells).flatMap(ValueMapper.safeMap(m, _))
      }

    /** Static fields keyed (a repeated name keeps its first position and
      * its last values), emptied ones dropped, then the dynamic entries. */
    def docMap(conf: IndexerConf, cells: Seq[C]): Seq[(String, Seq[String])] = {
      val statics = mutable.LinkedHashMap.empty[String, Seq[String]]
      conf.fields.filterNot(_.dynamicName).foreach(f => statics(f.name) = docValues(f, cells))
      val doc = mutable.LinkedHashMap.empty[String, Seq[String]]
      statics.foreach { case (k, v) => if (v.nonEmpty) doc(k) = v }
      conf.fields.filter(_.dynamicName).foreach { f =>
        puts(f, cells).foreach { c =>
          doc(f.name.dropRight(1) + c.qualifier.substring(f.qualifier.length)) = Seq(c.value)
        }
      }
      doc.toSeq
    }

    def relevant(conf: IndexerConf, cells: Seq[C]): Boolean =
      cells.exists(c => c.cellType != CellType.Put || conf.fields.exists(matches(_, c)))

    def complete(conf: IndexerConf, cells: Seq[C]): Boolean =
      conf.fields.nonEmpty && !conf.fields.exists(_.prefixMatch) &&
        conf.fields.forall(f => cells.exists(c => c.cellType == CellType.Put && matches(f, c)))

    def sortedPuts(cells: Seq[C]): Seq[C] =
      cells.filter(_.cellType == CellType.Put)
        .sortBy(c => (c.family, c.qualifier))(Ordering.Tuple2(byteOrder, byteOrder))
  }
}
