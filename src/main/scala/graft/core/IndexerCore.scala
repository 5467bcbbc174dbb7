package graft.core

import graft.conf._
import graft.mapping.Mapping
import graft.model.CellType
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's indexing algorithm (Indexer.java RowBasedIndexer /
  * ColumnBasedIndexer) re-expressed as declarative DataFrame transforms.
  *
  * Scale notes (100 TB design):
  *  - the last-wins dedup is a `groupBy(docId).agg(max_by(...))` — a single
  *    shuffle with map-side partial aggregation; the reference's per-batch
  *    HashMap (Indexer.java:297-321) becomes a distributed hash aggregate.
  *  - the dedup runs BEFORE the snapshot lookup join, mirroring the
  *    reference's dedup-before-re-read optimization (Indexer.java:254-264):
  *    at most one lookup per doc id per batch. Catalyst will not hoist an
  *    aggregate above a join for you — the plan encodes the order.
  *  - the lookup join gates on completeness (containsRequiredData): only
  *    incomplete events join; complete events take the no-shuffle branch.
  *    At scale the snapshot side is the big one, so the join keys are the
  *    deduped event rows — AQE can pick a broadcast of the (small) event
  *    batch against the (huge) snapshot.
  */
object IndexerCore {

  /** Expected input shape — see graft.model.Schemas.mutationEvent. */
  val eventCols = Seq("table", "rowKey", "seq", "writeTime", "cells", "payload")

  /** F1: table-name predicate — literal or regex per the conf
    * (reference IndexingEventListener.java:60-87). */
  def tableFilter(conf: IndexerConf)(df: DataFrame): DataFrame =
    // full-match semantics (the reference uses Pattern.matches); rlike is
    // unanchored, so anchor explicitly
    if (conf.tableIsRegex) df.filter(col("table").rlike(s"^(?:${conf.table})$$"))
    else df.filter(col("table") === lit(conf.table))

  /** T4: subscription-timestamp filter — drop events from before the
    * subscription started (reference SepConsumer.java:227-240). */
  def subscriptionFilter(subscriptionTs: Long)(df: DataFrame): DataFrame =
    df.filter(col("writeTime") >= lit(subscriptionTs))

  /** `toResult()`: the put-cells sorted by (family, qualifier)
    * (SepEventRowData.java:37-56), one compiled pass; a null array — a
    * snapshot row that does not exist — is the empty row. */
  def sortedPutCells(cells: Column): Column = graft.expr.hfunctions.sorted_put_cells(cells)

  /** Row path (reference RowBasedIndexer.calculateIndexUpdates,
    * Indexer.java:252-321):
    *
    *  1. relevance filter (F2),
    *  2. last-wins dedup per formatted row id (A1),
    *  3. `toResult()` = put-cells sorted (SepEventRowData.java:37-56),
    *  4. dynamic mode: incomplete events re-read the row from `snapshot`
    *     (J1) — a left join keyed on (table, rowKey),
    *  5. empty result ⇒ deleteById, else a document (F5).
    *
    * Returns columns: kind, id, table, rowKey, resultCells, doc.
    * `snapshot` must have columns (table, rowKey, cells).
    */
  def rowPath(conf: IndexerConf, snapshot: Option[DataFrame] = None)(events: DataFrame): DataFrame = {
    val relevant = tableFilter(conf)(events)
      .filter(Mapping.isRelevantEvent(conf)(col("cells")))
      .withColumn("id", Mapping.formatRowKey(conf)(col("rowKey"), col("table")))

    // A1: one (latest) event per document id — single shuffle, partial agg
    val deduped = relevant
      .groupBy(col("id"))
      .agg(max_by(struct(eventCols.map(col): _*), col("seq")).as("e"))
      .select(col("id"), col("e.*"))

    val withOwn = deduped.withColumn("ownCells", sortedPutCells(col("cells")))

    val resolved = (conf.rowReadMode, snapshot) match {
      case (RowReadMode.Dynamic, Some(snap)) =>
        // J1: only incomplete events need the lookup; completeness is a
        // plain predicate so both branches stay in one plan (no union split
        // needed — the join is left-outer and the result picks per row).
        val complete = Mapping.containsRequiredData(conf)(col("cells"))
        val snapCells = snap.select(
          col("table").as("s_table"), col("rowKey").as("s_rowKey"), col("cells").as("s_cells"))
        withOwn
          .withColumn("complete", complete)
          .join(snapCells,
            col("table") === col("s_table") && col("rowKey") === col("s_rowKey"),
            "left")
          .withColumn("resultCells",
            when(col("complete"), col("ownCells"))
              // missing snapshot row ⇒ empty result ⇒ deleteById below
              .otherwise(sortedPutCells(col("s_cells"))))
          .drop("s_table", "s_rowKey", "s_cells", "complete")
      case _ =>
        // batch forces NEVER (reference HBaseIndexerMapper.java:216-220)
        withOwn.withColumn("resultCells", col("ownCells"))
    }

    resolved
      .withColumn("kind",
        when(size(col("resultCells")) === 0, lit("deleteById")).otherwise(lit("add")))
      .withColumn("doc",
        when(col("kind") === "add", Mapping.docMap(conf)(col("resultCells"))))
      .select("kind", "id", "table", "rowKey", "resultCells", "doc")
  }

  /** Column path (reference ColumnBasedIndexer, Indexer.java:333-450):
    * explode to cells, per-cell-key last-wins dedup (A2), then the delete
    * dispatch (F4): DeleteColumn ⇒ deleteById; DeleteFamily ⇒ deleteByQuery
    * (row AND family) when both row-field and column-family-field are
    * configured, else warn-skip; Delete(row) ⇒ deleteByQuery(row) when
    * row-field is configured, else warn-skip. Puts become per-cell docs
    * with row/family/id fields injected (P7/P8).
    *
    * Returns: kind, id, table, rowKey, doc, queryRow, queryFamily.
    */
  def columnPath(conf: IndexerConf)(events: DataFrame): DataFrame = {
    val cells = tableFilter(conf)(events)
      .select(col("table"), col("rowKey"), col("seq"), explode(col("cells")).as("cell"))
      // reference column path keys only cells that pass isRelevantKV
      // (Indexer.java:435-447) — deletes included iff they match a spec
      .filter(Mapping.isRelevantCell(conf)(col("cell")))
      .withColumn("id", Mapping.formatCellKey(conf)(
        col("rowKey"), col("cell.family"), col("cell.qualifier"), col("table")))

    // A2: latest cell per formatted cell key
    val deduped = cells
      .groupBy(col("id"))
      .agg(max_by(struct(col("table"), col("rowKey"), col("cell")), col("seq")).as("e"))
      .select(col("id"), col("e.table").as("table"), col("e.rowKey").as("rowKey"), col("e.cell").as("cell"))

    val rowFmt = Mapping.formatRowKey(conf)(col("rowKey"), col("table"))
    val famFmt = col("cell.family")

    val kind =
      when(col("cell.cellType") === CellType.Put, "add")
        .when(col("cell.cellType") === CellType.DeleteColumn, "deleteById")
        .when(col("cell.cellType") === CellType.DeleteFamily,
          if (conf.rowField.isDefined && conf.columnFamilyField.isDefined) lit("deleteByQuery") else lit("skip"))
        .when(col("cell.cellType") === CellType.DeleteRow,
          if (conf.rowField.isDefined) lit("deleteByQuery") else lit("skip"))
        .otherwise("skip")

    // per-cell document: extracted fields from just this cell, plus the
    // injected row/family fields (RowAndFamilyAddingSolrUpdateWriter.java:43-66)
    val injected: Seq[(String, Column)] =
      conf.rowField.map(rf => rf -> array(rowFmt)).toSeq ++
      conf.columnFamilyField.map(cf => cf -> array(famFmt)).toSeq ++
      conf.tableNameField.map(tf => tf -> array(col("table"))).toSeq
    val injectedMap =
      if (injected.isEmpty) map_from_arrays(array(), array()).cast("map<string,array<string>>")
      else map_from_arrays(array(injected.map(kv => lit(kv._1)): _*), array(injected.map(_._2): _*))

    val doc = map_concat(Mapping.docMap(conf)(array(col("cell"))), injectedMap)

    deduped
      .withColumn("kind", kind)
      .filter(col("kind") =!= "skip")
      .withColumn("doc", when(col("kind") === "add", doc))
      .withColumn("queryRow", when(col("kind") === "deleteByQuery", rowFmt))
      .withColumn("queryFamily",
        when(col("kind") === "deleteByQuery" && col("cell.cellType") === CellType.DeleteFamily, famFmt))
      .select("kind", "id", "table", "rowKey", "doc", "queryRow", "queryFamily")
  }

  /** Apply a batch of DocOps to an index state (id-keyed documents),
    * producing the new state — the Spark-native equivalent of the Solr
    * upsert/delete algebra (reference DirectSolrInputDocumentWriter +
    * SolrUpdateCollector): [[upsert]], then [[deleteByQuery]]. Ops carry
    * (kind, id, doc, rowValue, familyValue, queryRow, queryFamily); the
    * state carries (id, doc, rowValue, familyValue), where
    * rowValue/familyValue mirror the reference's injected
    * row-field/column-family-field (the metadata its deleteByQuery relies
    * on — Indexer.java:389-427). `None` is an absent state.
    */
  def applyOps(prev: Option[DataFrame], ops: DataFrame): DataFrame =
    deleteByQuery(upsert(prev, ops), ops)

  /** [[applyOps]] over a present state. */
  def applyOps(state: DataFrame, ops: DataFrame): DataFrame = applyOps(Some(state), ops)

  /** The id-keyed half of the algebra. An add and a deleteById both
    * remove the previous doc of their id, so the new state is
    * `prev ⋉̸ ids(add, deleteById) ∪ adds` — one anti-join, and an add
    * beats a same-batch deleteById of its id. Without a previous state
    * the adds are the result, with no join at all.
    *
    * adds is the union receiver: the batch-derived side keeps the merged
    * plan (and the commit write above it) under the streaming sink's
    * TriggerScope'd session; the two sides are id-disjoint. */
  def upsert(prev: Option[DataFrame], ops: DataFrame): DataFrame = {
    val adds = ops.filter(col("kind") === "add")
      .select(col("id"), col("doc"), col("rowValue"), col("familyValue"))
    prev.fold(adds) { p =>
      val replaced = ops.filter(col("kind").isin("add", "deleteById")).select(col("id"))
      adds.unionByName(p.join(replaced, Seq("id"), "left_anti"))
    }
  }

  /** deleteByQuery: drop every doc matching a query's row, or row AND
    * family — same-batch adds included. */
  def deleteByQuery(docs: DataFrame, ops: DataFrame): DataFrame = {
    val queries = ops.filter(col("kind") === "deleteByQuery")
      .select(col("queryRow"), col("queryFamily")).distinct()
    docs.join(queries,
      docs("rowValue") === queries("queryRow") &&
        (queries("queryFamily").isNull || docs("familyValue") === queries("queryFamily")),
      "left_anti")
  }
}
