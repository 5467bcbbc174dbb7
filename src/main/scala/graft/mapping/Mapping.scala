package graft.mapping

import graft.conf._
import graft.expr.CellField
import graft.expr.hfunctions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Compiles an [[graft.conf.IndexerConf]] into `Column` expressions
  * over the engine's conventional mutation shape:
  *
  * {{{
  *   table: string, rowKey: string, seq: long, writeTime: long,
  *   cells: array<struct<family,qualifier,ts,cellType,value>>, payload: string
  * }}}
  *
  * The reference compiles an indexer's config once and runs one
  * extraction per event (reference hbase-indexer-engine
  * .../parse/DefaultResultToSolrMapper.java:68-156). Here the config is
  * compiled once into a field table ([[graft.expr.CellField]]), and each
  * per-event step — relevance, completeness, the document map — is one
  * kernel call that loops over the event's cells ([[graft.expr.CellKernel]]),
  * called from whole-stage generated code. Spark's higher-order functions
  * (`filter`/`transform`/`exists` with lambdas) would instead run
  * interpreted, one lambda call per cell per field.
  */
object Mapping {

  /** The conf's fields as the kernels' field table. A custom value
    * mapper loads here, at plan-compile time, so an unknown class name
    * fails fast; executors deserialize the loaded instance. */
  private def fieldTable(conf: IndexerConf): Seq[CellField] = conf.fields.map(cellField(_, withMapper = true))

  /** The conf's column specs alone, for the kernels that only match cells:
    * no value mapper is loaded or shipped. */
  private def matchTable(conf: IndexerConf): Seq[CellField] = conf.fields.map(cellField(_, withMapper = false))

  private def cellField(f: FieldDef, withMapper: Boolean): CellField = CellField(
    name = if (f.dynamicName) f.name.dropRight(1) else f.name,
    family = f.family,
    qualifier = f.qualifier,
    prefix = f.prefixMatch,
    emitQualifier = f.source == ValueSource.Qualifier,
    dynamic = f.dynamicName,
    // built-in types keep the raw stored string in the doc; a custom
    // ValueMapper type's doc values are the MAPPER's outputs (the
    // reference stringifies mapper outputs into the Solr doc); dynamic
    // fields always carry the raw value
    mapper =
      if (!withMapper || f.dynamicName || isBuiltinType(f.typeName)) None
      else {
        val m = ValueMapper.load(f.typeName)
        Some((v: String) => ValueMapper.safeMap(m, v))
      })

  // ---- cell-level predicates ----

  /** Reference isRelevantKV (DefaultResultToSolrMapper.java:119-126):
    * ≥1 configured extractor applies to the cell — it matches a field's
    * column spec (SingleCellExtractor.isApplicable /
    * AbstractPrefixMatchingExtractor.isApplicable). */
  def isRelevantCell(conf: IndexerConf)(cell: Column): Column =
    cell_matches(cell, matchTable(conf))

  /** Row-path event relevance (reference Indexer.java:300-311): any cell
    * relevant or any cell a delete. */
  def isRelevantEvent(conf: IndexerConf)(cells: Column): Column =
    cells_relevant(cells, matchTable(conf))

  /** Reference containsRequiredData (DefaultResultToSolrMapper.java:109-116):
    * true iff the event's own put-cells already cover every configured
    * column. Any prefix field ⇒ false (can never prove completeness —
    * AbstractPrefixMatchingExtractor.containsTarget:88-91). */
  def containsRequiredData(conf: IndexerConf)(cells: Column): Column =
    if (conf.fields.isEmpty || conf.fields.exists(_.prefixMatch)) lit(false)
    else cells_complete(cells, matchTable(conf))

  // ---- extraction (the SELECT list) ----

  /** Raw (string) multi-valued extraction for one field: the matching
    * put-cells' values, or their qualifiers when source=qualifier
    * (reference PrefixMatchingQualifierExtractor returns the full
    * qualifier), in qualifier order for prefix matches (the reference
    * iterates a sorted family map — AbstractPrefixMatchingExtractor
    * .java:57-71). */
  def extractRaw(cells: Column, f: FieldDef): Column =
    // raw values: the field's type is not applied (nor its class loaded)
    cell_field_values(cells, cellField(f, withMapper = false))

  /** Built-in type names → Spark cast target (§1.2 of SURVEY.md). `None`
    * = string identity. `byte[]` is the morphline pass-through type
    * (ExtractHBaseCellsBuilder.java:148-154): the raw bytes untouched. */
  private val builtinCasts: Map[String, Option[String]] = Map(
    "string"     -> None,
    "int"        -> Some("int"),
    "long"       -> Some("long"),
    "short"      -> Some("short"),
    "float"      -> Some("float"),
    "double"     -> Some("double"),
    "boolean"    -> Some("boolean"),
    "bigdecimal" -> Some("decimal(38,18)"),
    "byte[]"     -> Some("binary"))

  def isBuiltinType(typeName: String): Boolean = builtinCasts.contains(typeName)

  /** Spark type for a built-in reference type name. */
  def sparkCast(typeName: String): Option[String] =
    builtinCasts.getOrElse(typeName,
      throw new IllegalArgumentException(s"unknown built-in type: $typeName"))

  /** Custom-mapped multi-valued extraction (P5): one UDF call per row
    * applies the plug-in to every raw value; malformed values yield
    * nothing (ValueMapper.safeMap). The class loads at plan-compile time
    * so an unknown name fails fast. */
  private def extractMapped(raw: Column, className: String): Column = {
    val mapper = ValueMapper.load(className)
    val fn = udf((vs: Seq[String]) =>
      if (vs == null) Seq.empty[String] else vs.flatMap(ValueMapper.safeMap(mapper, _)))
    fn(raw)
  }

  /** Typed multi-valued extraction (array of the field's Spark type).
    * Malformed values become NULLs inside the array, then are dropped —
    * the reference's decode-failure-drops-value semantics
    * (ByteArrayValueMappers.java:154-164). A non-built-in type name is a
    * [[ValueMapper]] class (P5), reflectively loaded like the reference's
    * ByteArrayValueMappers.java:128-142. */
  def extractTyped(cells: Column, f: FieldDef): Column = {
    val raw = extractRaw(cells, f)
    if (isBuiltinType(f.typeName))
      sparkCast(f.typeName) match {
        case None      => raw
        // try_cast, NOT cast: under ANSI mode (Spark 4 default) a plain
        // cast THROWS on malformed input, which would fail the row — the
        // reference's contract is drop-the-value, keep-the-row
        case Some(typ) => filter(transform(raw, _.try_cast(typ)), _.isNotNull)
      }
    else extractMapped(raw, f.typeName)
  }

  /** The whole document as a map<string, array<string>> — fields with no
    * extracted values are absent (the reference adds no field then —
    * HBaseSolrDocumentExtractor.java:47-53). Dynamic-name fields (name
    * ending '*') contribute (prefix+qualifier-tail) entries (reference
    * ExtractHBaseCellsBuilder.java:223-240). */
  def docMap(conf: IndexerConf)(cells: Column): Column =
    cell_doc_map(cells, fieldTable(conf))

  // ---- unique-key formatting per conf (P12-P15) ----

  /** Custom-formatter row id as a UDF (same plug-in trade-off as
    * [[extractMapped]]: user classes can't run inside a compiled
    * expression). The class loads at plan-compile time — an unknown
    * name fails fast, and executors deserialize the loaded instance. */
  private def customRowKey(className: String)(rowKey: Column): Column = {
    val fmt = KeyFormatter.load(className)
    val fn = udf((r: Array[Byte]) => fmt.formatRow(r))
    fn(rowKey.cast("binary"))
  }

  private def customCellKey(className: String)(rowKey: Column, family: Column, qualifier: Column): Column = {
    val fmt = KeyFormatter.load(className)
    val fn = udf((r: Array[Byte], f: Array[Byte], q: Array[Byte]) =>
      fmt.formatKeyValue(r, f, q))
    fn(rowKey.cast("binary"), family.cast("binary"), qualifier.cast("binary"))
  }

  /** Row-path document id. A single component is NOT escaped (reference
    * BaseUniqueKeyFormatter.formatRow just encodes); only multi-component
    * ids escape hyphens before joining. Multi-table (regex) indexers
    * prepend the table (reference UniqueTableKeyFormatter.java:24-61; for
    * non-string formatters the table name joins the formatted key with
    * '-', the hex treatment). */
  def formatRowKey(conf: IndexerConf)(rowKey: Column, table: Column): Column = {
    val base = conf.keyFormat match {
      case KeyFormat.StringFormat      => rowKey
      case KeyFormat.HexFormat         => format_key_hex(rowKey.cast("binary"))
      case KeyFormat.CustomFormat(cls) => customRowKey(cls)(rowKey)
    }
    if (!conf.tableIsRegex) base
    else conf.keyFormat match {
      case KeyFormat.StringFormat => format_key(table, rowKey)
      case _                      => concat_ws("-", table, base)
    }
  }

  /** Column-path id: row-family-qualifier (reference
    * BaseUniqueKeyFormatter.formatKeyValue); a custom formatter owns the
    * whole cell id (its formatKeyValue), built-ins compose per part. */
  def formatCellKey(conf: IndexerConf)(rowKey: Column, family: Column, qualifier: Column, table: Column): Column = {
    val comps = conf.keyFormat match {
      case KeyFormat.StringFormat => Seq(rowKey, family, qualifier)
      case KeyFormat.HexFormat =>
        Seq(format_key_hex(rowKey.cast("binary")), format_key_hex(family.cast("binary")),
          format_key_hex(qualifier.cast("binary")))
      case KeyFormat.CustomFormat(cls) =>
        Seq(customCellKey(cls)(rowKey, family, qualifier))
    }
    val parts = if (conf.tableIsRegex) table +: comps else comps
    conf.keyFormat match {
      case KeyFormat.StringFormat => format_key(parts: _*)
      case _                      => concat_ws("-", parts: _*)
    }
  }
}
