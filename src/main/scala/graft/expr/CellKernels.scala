package graft.expr

import graft.model.CellType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapBuilder, ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One field of a compiled cell-mapping table: the column spec of an
  * indexer `<field>` reduced to what a per-cell loop needs.
  *
  *  - `name`: the output field; for a dynamic field (`dynamic`), the key
  *    prefix the qualifier tail is appended to ('*' already dropped);
  *  - `family`/`qualifier`: the column spec, `qualifier` being a prefix
  *    when `prefix` is set;
  *  - `emitQualifier`: source=qualifier (the matched qualifier instead of
  *    the value);
  *  - `mapper`: a custom value mapper's total (never-throwing) per-value
  *    function, applied to the raw values of a static field.
  */
final case class CellField(
    name: String,
    family: String,
    qualifier: String,
    prefix: Boolean,
    emitQualifier: Boolean,
    dynamic: Boolean,
    mapper: Option[String => Seq[String]] = None) {
  override def toString: String =
    s"$name${if (dynamic) "*" else ""}=$family:$qualifier${if (prefix) "*" else ""}" +
      (if (emitQualifier) "[qualifier]" else "") + (if (mapper.isDefined) "[mapped]" else "")
}

/** Field ordinals of a cell struct, resolved by name from the input's type
  * (a cells array or a single cell; callers build cells in the engine's
  * order, but need not). */
final case class CellLayout(width: Int, family: Int, qualifier: Int, cellType: Int, value: Int)

object CellLayout {
  def of(cellsType: DataType): CellLayout = cellsType match {
    case ArrayType(st: StructType, _) => of(st)
    case st: StructType =>
      def ord(name: String): Int = st.fieldNames.indexOf(name) match {
        case i if i >= 0 && st(i).dataType == StringType => i
        case _ => throw new IllegalArgumentException(
          s"cells must carry a string field '$name', got ${st.simpleString}")
      }
      CellLayout(st.length, ord("family"), ord("qualifier"), ord("cellType"), ord("value"))
    case other => throw new IllegalArgumentException(
      s"cells must be (an array of) struct<family,qualifier,cellType,value,...>, got ${other.simpleString}")
  }
}

/** The per-row loops behind the mapping expressions, over a field table
  * built once from an indexer config: one pass over the `cells` array
  * instead of one interpreted lambda call per (cell, field). Generated
  * code reaches them through one method call per row
  * ([[CellKernelExpression.evalCells]]), inside whole-stage codegen.
  *
  * Semantics are the reference extraction's (DefaultResultToSolrMapper
  * .java:68-156): a cell matches a field on its family and its exact or
  * prefix qualifier; extraction reads put-cells only; prefix matches
  * iterate in qualifier order (AbstractPrefixMatchingExtractor.java:57-71),
  * stably, so repeated qualifiers keep their array order. Null cells,
  * and cells with a null family, qualifier or type, match nothing.
  * Strings compare byte-wise, as Catalyst's `<` on strings does. */
final class CellKernel(fields: IndexedSeq[CellField], layout: CellLayout) extends Serializable {
  private val nf = fields.length
  @transient private lazy val fam = fields.map(f => UTF8String.fromString(f.family)).toArray
  @transient private lazy val qual = fields.map(f => UTF8String.fromString(f.qualifier)).toArray
  @transient private lazy val keys = fields.map(f => UTF8String.fromString(f.name)).toArray
  @transient private lazy val put = UTF8String.fromString(CellType.Put)
  private val isPrefix = fields.map(_.prefix).toArray
  private val staticIdx = fields.indices.filterNot(fields(_).dynamic).toArray
  private val dynIdx = fields.indices.filter(fields(_).dynamic).toArray
  private val emptyArray = new GenericArrayData(Array.empty[Any])

  private def matches(f: Int, family: UTF8String, qualifier: UTF8String): Boolean =
    family == fam(f) && (if (isPrefix(f)) qualifier.startsWith(qual(f)) else qualifier == qual(f))

  private def str(row: InternalRow, ord: Int): UTF8String =
    if (row.isNullAt(ord)) null else row.getUTF8String(ord)

  /** Reference isRelevantKV (DefaultResultToSolrMapper.java:119-126): the
    * cell, of any type, matches some configured field. */
  def matchesAny(cell: InternalRow): Boolean = {
    val family = str(cell, layout.family)
    val qualifier = str(cell, layout.qualifier)
    if (family == null || qualifier == null) return false
    var f = 0
    while (f < nf) { if (matches(f, family, qualifier)) return true; f += 1 }
    false
  }

  /** Row-path relevance (reference Indexer.java:300-311): some cell is a
    * delete, or some cell matches a configured field. */
  def relevant(cells: ArrayData): Boolean = {
    var i = 0
    val n = cells.numElements()
    while (i < n) {
      if (!cells.isNullAt(i)) {
        val row = cells.getStruct(i, layout.width)
        val typ = str(row, layout.cellType)
        if ((typ != null && typ != put) || matchesAny(row)) return true
      }
      i += 1
    }
    false
  }

  /** Reference containsRequiredData (DefaultResultToSolrMapper.java:109-116)
    * for a table of exact fields: every field matches some put-cell. */
  def complete(cells: ArrayData): Boolean = {
    val found = new Array[Boolean](nf)
    var missing = nf
    var i = 0
    val n = cells.numElements()
    while (i < n && missing > 0) {
      if (!cells.isNullAt(i)) {
        val row = cells.getStruct(i, layout.width)
        val family = str(row, layout.family)
        val qualifier = str(row, layout.qualifier)
        if (put == str(row, layout.cellType) && family != null && qualifier != null) {
          var f = 0
          while (f < nf) {
            if (!found(f) && matches(f, family, qualifier)) { found(f) = true; missing -= 1 }
            f += 1
          }
        }
      }
      i += 1
    }
    missing == 0
  }

  /** The put-cells matching each field, in extraction order: one pass
    * over `cells` decodes each put-cell's strings once and files the cell
    * under every field it matches; prefix fields are then put in
    * qualifier order. */
  private final class Hits(cells: ArrayData) {
    private val n = cells.numElements()
    private val qualifiers = new Array[UTF8String](n)
    private val values = new Array[UTF8String](n)
    // idx(f * n + k) is field f's k-th matching cell
    private val idx = new Array[Int](nf * n)
    val count = new Array[Int](nf)

    locally {
      var i = 0
      while (i < n) {
        if (!cells.isNullAt(i)) {
          val row = cells.getStruct(i, layout.width)
          val family = str(row, layout.family)
          val qualifier = str(row, layout.qualifier)
          if (put == str(row, layout.cellType) && family != null && qualifier != null) {
            qualifiers(i) = qualifier
            values(i) = str(row, layout.value)
            var f = 0
            while (f < nf) {
              if (matches(f, family, qualifier)) { idx(f * n + count(f)) = i; count(f) += 1 }
              f += 1
            }
          }
        }
        i += 1
      }
      var f = 0
      while (f < nf) {
        if (isPrefix(f) && count(f) > 1)
          CellKernel.stableSort(idx, f * n, f * n + count(f),
            (a, b) => qualifiers(a).compareTo(qualifiers(b)))
        f += 1
      }
    }

    def cell(f: Int, k: Int): Int = idx(f * n + k)
    def qualifier(c: Int): UTF8String = qualifiers(c)
    def value(c: Int): UTF8String = values(c)

    /** Field f's doc values: values or qualifiers, then the mapper. */
    def docValues(f: Int): ArrayData = {
      val fd = fields(f)
      val raw = new Array[Any](count(f))
      var k = 0
      while (k < raw.length) {
        val c = cell(f, k)
        raw(k) = if (fd.emitQualifier) qualifiers(c) else values(c)
        k += 1
      }
      fd.mapper match {
        case None => new GenericArrayData(raw)
        case Some(m) => new GenericArrayData(raw.flatMap { v =>
          m(if (v == null) null else v.toString).map(UTF8String.fromString)
        }.toArray[Any])
      }
    }
  }

  /** The values of the table's first field ([[CellFieldValues]]). */
  def fieldValues(cells: ArrayData): ArrayData = new Hits(cells).docValues(0)

  /** The document map: static fields in table order, each with its values
    * (or matched qualifiers) and absent when empty; then each dynamic
    * field's (name prefix + qualifier tail -> [value]) entries. Repeated
    * keys follow the session's `mapKeyDedupPolicy`, as the map functions
    * do. A null `cells` gives the empty doc, or null when the table has a
    * dynamic field. */
  def docMap(cells: ArrayData): MapData = {
    if (cells == null) return if (dynIdx.isEmpty) emptyDoc else null
    val hits = new Hits(cells)
    // the static map is keyed first, then filtered: under LAST_WIN a
    // repeated static name keeps its LAST field's values, even if empty
    val statics = new ArrayBasedMapBuilder(StringType, CellKernel.valuesType)
    staticIdx.foreach(f => statics.put(keys(f), if (hits.count(f) > 0) hits.docValues(f) else emptyArray))
    val staticDoc = statics.build()
    val doc = new ArrayBasedMapBuilder(StringType, CellKernel.valuesType)
    var s = 0
    val staticKeys = staticDoc.keyArray
    val staticValues = staticDoc.valueArray
    while (s < staticDoc.numElements()) {
      val v = staticValues.getArray(s)
      if (v.numElements() > 0) doc.put(staticKeys.getUTF8String(s), v)
      s += 1
    }
    dynIdx.foreach { f =>
      val tailFrom = fields(f).qualifier.length + 1
      var k = 0
      while (k < hits.count(f)) {
        val c = hits.cell(f, k)
        doc.put(UTF8String.concat(keys(f), hits.qualifier(c).substringSQL(tailFrom, Int.MaxValue)),
          new GenericArrayData(Array[Any](hits.value(c))))
        k += 1
      }
    }
    doc.build()
  }

  private def emptyDoc: MapData = new ArrayBasedMapData(emptyArray, emptyArray)

  /** The put-cells of `cells`, stably sorted by (family, qualifier) — the
    * reference's `toResult()` row order (SepEventRowData.java:37-56). A
    * null array sorts to the empty array: a missing row is an empty row. */
  def sortedPuts(cells: ArrayData): ArrayData = {
    if (cells == null) return emptyArray
    val n = cells.numElements()
    val rows = new Array[InternalRow](n)
    val cFam = new Array[UTF8String](n)
    val cQual = new Array[UTF8String](n)
    val idx = new Array[Int](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!cells.isNullAt(i)) {
        val row = cells.getStruct(i, layout.width)
        if (put == str(row, layout.cellType)) {
          rows(i) = row
          cFam(i) = str(row, layout.family)
          cQual(i) = str(row, layout.qualifier)
          idx(m) = i
          m += 1
        }
      }
      i += 1
    }
    CellKernel.stableSort(idx, 0, m, (a, b) => {
      val byFam = CellKernel.compareNullsFirst(cFam(a), cFam(b))
      if (byFam != 0) byFam else CellKernel.compareNullsFirst(cQual(a), cQual(b))
    })
    val out = new Array[Any](m)
    var k = 0
    while (k < m) { out(k) = rows(idx(k)); k += 1 }
    new GenericArrayData(out)
  }
}

object CellKernel {
  val valuesType: DataType = ArrayType(StringType, containsNull = true)
  val docType: DataType = MapType(StringType, valuesType, valueContainsNull = true)

  private[expr] def compareNullsFirst(a: UTF8String, b: UTF8String): Int =
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else a.compareTo(b)

  /** Stable in-place sort of `idx[from, to)` (TimSort). */
  private[expr] def stableSort(idx: Array[Int], from: Int, to: Int, cmp: (Int, Int) => Int): Unit = {
    val boxed = (from until to).map(k => Integer.valueOf(idx(k))).toArray
    java.util.Arrays.sort(boxed, (a: Integer, b: Integer) => cmp(a.intValue, b.intValue))
    var k = 0
    while (k < boxed.length) { idx(from + k) = boxed(k).intValue; k += 1 }
  }
}

/** Shared shape of the cell kernels: a `cells` child (or a single cell),
  * a field table, and one kernel call per row. Generated code calls
  * [[evalCells]] on this expression, held as a reference object. */
sealed abstract class CellKernelExpression extends UnaryExpression {
  def fields: Seq[CellField]
  @transient protected lazy val kernel: CellKernel =
    new CellKernel(fields.toIndexedSeq, CellLayout.of(child.dataType))

  /** The result for one (possibly null) child value, boxed; null for a
    * null result. */
  def evalCells(cells: Any): Any

  override def eval(input: InternalRow): Any = evalCells(child.eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val self = ctx.addReferenceObj("cellKernel", this, classOf[CellKernelExpression].getName)
    val c = child.genCode(ctx)
    val out = ctx.freshName("kernelOut")
    val boxed = CodeGenerator.boxedType(dataType)
    val unboxed = if (dataType == BooleanType) s"(($boxed) $out).booleanValue()" else s"($boxed) $out"
    ev.copy(code = code"""
      ${c.code}
      Object $out = $self.evalCells(${c.isNull} ? null : ${c.value});
      boolean ${ev.isNull} = $out == null;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${ev.isNull} ? ${CodeGenerator.defaultValue(dataType)} : $unboxed;
    """)
  }
}

/** The document map of a cells array ([[CellKernel.docMap]]). */
case class CellDocMap(child: Expression, fields: Seq[CellField]) extends CellKernelExpression {
  override def dataType: DataType = CellKernel.docType
  override def nullable: Boolean = child.nullable && fields.exists(_.dynamic)
  override def evalCells(cells: Any): Any = kernel.docMap(cells.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): CellDocMap = copy(child = newChild)
  override def prettyName: String = "cell_doc_map"
}

/** One field's values, in extraction order: the doc map's entry for a
  * single static field, as an array (empty when nothing matched). */
case class CellFieldValues(child: Expression, field: CellField) extends CellKernelExpression {
  override def fields: Seq[CellField] = Seq(field.copy(dynamic = false))
  override def dataType: DataType = CellKernel.valuesType
  override def evalCells(cells: Any): Any =
    if (cells == null) null else kernel.fieldValues(cells.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): CellFieldValues = copy(child = newChild)
  override def prettyName: String = "cell_field_values"
}

/** Row-path event relevance ([[CellKernel.relevant]]); null for null cells. */
case class CellsRelevant(child: Expression, fields: Seq[CellField]) extends CellKernelExpression {
  override def dataType: DataType = BooleanType
  override def evalCells(cells: Any): Any =
    if (cells == null) null else kernel.relevant(cells.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): CellsRelevant = copy(child = newChild)
  override def prettyName: String = "cells_relevant"
}

/** Column-path cell relevance of a single cell ([[CellKernel.matchesAny]]);
  * null for a null cell. */
case class CellMatches(child: Expression, fields: Seq[CellField]) extends CellKernelExpression {
  override def dataType: DataType = BooleanType
  override def evalCells(cell: Any): Any =
    if (cell == null) null else kernel.matchesAny(cell.asInstanceOf[InternalRow])
  override protected def withNewChildInternal(newChild: Expression): CellMatches = copy(child = newChild)
  override def prettyName: String = "cell_matches"
}

/** Completeness of a cells array against exact fields
  * ([[CellKernel.complete]]); null for null cells. */
case class CellsComplete(child: Expression, fields: Seq[CellField]) extends CellKernelExpression {
  require(fields.nonEmpty && !fields.exists(_.prefix),
    "completeness is only decidable for a non-empty table of exact fields")
  override def dataType: DataType = BooleanType
  override def evalCells(cells: Any): Any =
    if (cells == null) null else kernel.complete(cells.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): CellsComplete = copy(child = newChild)
  override def prettyName: String = "cells_complete"
}

/** Put-cells stably sorted by (family, qualifier)
  * ([[CellKernel.sortedPuts]]); a null array gives the empty array. The
  * type, nullability included, is the input's, so a row path's output
  * schema does not depend on how its cells were sorted. */
case class SortedPutCells(child: Expression) extends CellKernelExpression {
  override def fields: Seq[CellField] = Nil
  override def dataType: DataType = child.dataType
  override def evalCells(cells: Any): Any = kernel.sortedPuts(cells.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): SortedPutCells = copy(child = newChild)
  override def prettyName: String = "sorted_put_cells"
}
