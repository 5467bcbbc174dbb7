package graft.queries

import graft.conf._
import graft.core.{Fixtures, IndexerCore}
import graft.mapping.Mapping
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries covering the indexer operator surface of
  * SURVEY.md §2 beyond the first five (x01-x05 live in SparkEntry):
  * delete calculus, column path, lookup join, subscription filter,
  * regex tables, payload extraction, dynamic fields, hex keys,
  * one-row reindex, completeness gating, positional fields.
  */
object IndexerQueries {

  private def eventConf = IndexerConf(
    table = "events",
    rowReadMode = RowReadMode.Never,
    fields = Seq(
      FieldDef("val_s", "evt:*", ValueSource.Value, "string"),
      FieldDef("etype_s", "evt:*", ValueSource.Qualifier, "string")))

  private def eventColConf = eventConf.copy(
    mappingType = MappingType.Column,
    rowField = Some("row_s"),
    columnFamilyField = Some("cf_s"))

  private def customerConf = IndexerConf(
    table = "customer",
    rowReadMode = RowReadMode.Never,
    fields = Seq(
      FieldDef("name_s", "info:name", ValueSource.Value, "string"),
      FieldDef("nationkey_i", "info:nationkey", ValueSource.Value, "int"),
      FieldDef("acctbal_d", "info:acctbal", ValueSource.Value, "double"),
      FieldDef("mktsegment_s", "info:mktsegment", ValueSource.Value, "string")))

  private def docField(name: String) = element_at(col("doc")(name), 1)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S6/S8-equivalent sink algebra across two op batches (upsert +
    // deleteById application order)
    "x06_apply_ops" -> ((s, dir) => {
      val events = Fixtures.eventMutations(s, dir)
      val cut = 5000L
      def ops(events: DataFrame) =
        graft.streaming.MutationStream.opsWithSinkMeta(IndexerCore.rowPath(eventConf)(events))
      val state1 = IndexerCore.applyOps(None, ops(events.filter(col("seq") < cut)))
      val state2 = IndexerCore.applyOps(state1, ops(events.filter(col("seq") >= cut)))
      state2.select(
          col("id"),
          docField("etype_s").as("etype_s"),
          docField("val_s").cast("double").as("val_d"))
        .orderBy(col("id"))
    }),

    // A2/F4: column path with per-cell dedup + delete dispatch
    "x07_column_path" -> ((s, dir) => {
      IndexerCore.columnPath(eventColConf)(Fixtures.eventMutations(s, dir))
        .select(
          col("id"), col("kind"), col("queryRow"),
          docField("etype_s").as("etype_s"),
          docField("val_s").cast("double").as("val_d"))
        .orderBy(col("id"))
    }),

    // J1: dynamic row re-read via the snapshot lookup join; missing
    // snapshot rows become deleteById
    "x08_lookup_join" -> ((s, dir) => {
      val conf = customerConf.copy(rowReadMode = RowReadMode.Dynamic)
      val touches = Fixtures.table(s, dir, "orders").select(
        lit("customer").as("table"),
        when(col("o_orderkey") % 10 === 0, col("o_custkey") + 1000000)
          .otherwise(col("o_custkey")).cast("string").as("rowKey"),
        col("o_orderkey").cast("long").as("seq"),
        lit(0L).as("writeTime"),
        array(struct(
          lit("info").as("family"), lit("acctbal").as("qualifier"),
          lit(0L).as("ts"), lit("put").as("cellType"),
          col("o_totalprice").cast("string").as("value"))).as("cells"),
        lit(null).cast("string").as("payload"))
      IndexerCore.rowPath(conf, Some(Fixtures.customerSnapshot(s, dir)))(touches)
        .select(col("id"), col("kind"),
          docField("name_s").as("name_s"),
          docField("nationkey_i").cast("int").as("nationkey_i"),
          docField("mktsegment_s").as("mktsegment_s"))
        .orderBy(col("id"))
    }),

    // T4: subscription-timestamp ingress filter. The cutoff sits
    // mid-stream so the filter actually bites; outputs are in seconds —
    // the only granularity where Spark (full nanos) and DuckDB
    // (micros-truncated nanos) agree.
    "x09_subscription_filter" -> ((s, dir) => {
      val subscriptionNs = 1705276800000000000L // 2024-01-15T00:00:00Z
      IndexerCore.subscriptionFilter(subscriptionNs)(Fixtures.eventMutations(s, dir))
        .select(explode(col("cells")).as("cell"), col("writeTime"))
        .groupBy(col("cell.qualifier").as("etype"))
        .agg(count(lit(1)).as("n"), min(expr("writeTime div 1000000000")).as("min_s"))
        .orderBy(col("etype"))
    }),

    // F1 + P15: regex multi-table stream with table-aware ids
    "x10_table_regex" -> ((s, dir) => {
      val conf = customerConf.copy(table = "c.*", tableIsRegex = true)
      val mutations = Fixtures.customerCells(s, dir)
        .unionByName(Fixtures.eventMutations(s, dir))
      IndexerCore.rowPath(conf)(mutations)
        .select(col("id"), docField("name_s").as("name_s"))
        .orderBy(col("id"))
    }),

    // P16: payload extraction (event-level blob → JSON field)
    "x11_payload" -> ((s, dir) => {
      Fixtures.eventMutations(s, dir)
        .groupBy(col("rowKey").as("id"))
        .agg(max_by(col("payload"), col("seq")).as("payload"))
        .select(col("id"),
          get_json_object(col("payload"), "$.k").cast("int").as("k_i"))
        .orderBy(col("id"))
    }),

    // P16's pluggable half: the payload rides as an ordinary sys:payload
    // CELL and a reflectively-loaded extractor class (the reference
    // PayloadExtractor seam, SepConsumer.java:246-253 first-wins) derives
    // the event payload from the cells at the ingress
    "x42_payload_extractor" -> ((s, dir) => {
      val withCell = Fixtures.eventMutations(s, dir)
        .withColumn("cells", concat(col("cells"), array(struct(
          lit("sys").as("family"), lit("payload").as("qualifier"),
          col("seq").as("ts"), lit("put").as("cellType"),
          col("payload").as("value")))))
        .withColumn("payload", lit(null).cast("string"))
      val ex = graft.model.PayloadExtractor.load("graft.model.SysPayloadExtractor")
      graft.model.PayloadExtractor.attach(withCell, ex)
        .groupBy(col("rowKey").as("id"))
        .agg(max_by(col("payload"), col("seq")).as("payload"))
        .select(col("id"),
          get_json_object(col("payload"), "$.k").cast("int").as("k_i"))
        .orderBy(col("id"))
    }),

    // P10 dynamic output fields: field name = prefix + qualifier tail
    "x12_dynamic_fields" -> ((s, dir) => {
      val conf = IndexerConf(table = "customer", rowReadMode = RowReadMode.Never,
        fields = Seq(FieldDef("f_*", "info:*", ValueSource.Value, "string")))
      IndexerCore.rowPath(conf)(Fixtures.customerCells(s, dir))
        .select(col("id"), explode(col("doc")).as(Seq("field", "vals")))
        .select(col("id"), col("field"), element_at(col("vals"), 1).as("value"))
        .orderBy(col("id"), col("field"))
    }),

    // P13: hex unique-key formatter
    "x13_hex_formatter" -> ((s, dir) => {
      val conf = customerConf.copy(keyFormat = KeyFormat.HexFormat)
      IndexerCore.rowPath(conf)(Fixtures.customerCells(s, dir))
        .select(col("id"), docField("name_s").as("name_s"))
        .orderBy(col("id"))
    }),

    // S5: one-row reindex (point lookup through the same mapping)
    "x14_one_row_reindex" -> ((s, dir) => {
      val snap = Fixtures.customerSnapshot(s, dir).filter(col("rowKey") === "42")
      snap.select(
          col("rowKey").as("id"),
          Mapping.docMap(customerConf)(col("cells")).as("doc"))
        .select(col("id"), docField("name_s").as("name_s"),
          docField("acctbal_d").cast("double").as("acctbal_d"))
    }),

    // F3: completeness gate — complete events skip the lookup join and
    // keep their own (suffixed) values; incomplete ones read the snapshot
    "x15_completeness" -> ((s, dir) => {
      val conf = IndexerConf(table = "customer", rowReadMode = RowReadMode.Dynamic,
        fields = Seq(
          FieldDef("name_s", "info:name", ValueSource.Value, "string"),
          FieldDef("acctbal_s", "info:acctbal", ValueSource.Value, "string")))
      val c = Fixtures.table(s, dir, "customer")
      val even = col("c_custkey") % 2 === 0
      def cell(q: String, v: org.apache.spark.sql.Column) = struct(
        lit("info").as("family"), lit(q).as("qualifier"), lit(0L).as("ts"),
        lit("put").as("cellType"), v.cast("string").as("value"))
      val events = c.select(
        lit("customer").as("table"),
        col("c_custkey").cast("string").as("rowKey"),
        col("c_custkey").cast("long").as("seq"),
        lit(0L).as("writeTime"),
        when(even, array(
          cell("name", concat(col("c_name"), lit("@e"))),
          cell("acctbal", concat(col("c_acctbal").cast("string"), lit("@e")))))
          .otherwise(array(cell("acctbal", concat(col("c_acctbal").cast("string"), lit("@x")))))
          .as("cells"),
        lit(null).cast("string").as("payload"))
      IndexerCore.rowPath(conf, Some(Fixtures.customerSnapshot(s, dir)))(events)
        .select(col("id"), docField("name_s").as("name_s"),
          docField("acctbal_s").as("acctbal_s"))
        .orderBy(col("id"))
    }),

    // P12 plug-in: custom unique-key-formatter loaded by class name
    // (reference IndexerIT.java:605 testCustomKeyFormatter) — ids come
    // from the user class, the rest of the mapping is untouched
    "x26_custom_formatter" -> ((s, dir) => {
      val conf = customerConf.copy(
        keyFormat = KeyFormat.parse("graft.mapping.PrefixedHexKeyFormatter"))
      IndexerCore.rowPath(conf)(Fixtures.customerCells(s, dir))
        .select(col("id"), docField("name_s").as("name_s"))
        .orderBy(col("id"))
    }),

    // P10 positional outputFields: prefix match in qualifier order,
    // positions become separate fields
    "x16_positional" -> ((s, dir) => {
      val f = FieldDef("pos_*", "info:*", ValueSource.Value, "string")
      Fixtures.customerCells(s, dir)
        .select(col("rowKey").as("id"), Mapping.extractRaw(col("cells"), f).as("vals"))
        .select(col("id"),
          element_at(col("vals"), 1).as("pos1_acctbal"),
          element_at(col("vals"), 2).as("pos2_mktsegment"),
          element_at(col("vals"), 3).as("pos3_name"),
          element_at(col("vals"), 4).as("pos4_nationkey"))
        .orderBy(col("id"))
    })
  )

  def oracles: Map[String, String] = Map(

    "x06_apply_ops" ->
      """WITH latest AS (
        |  SELECT CAST(user_id AS VARCHAR) AS id,
        |    arg_max(event_type, event_id) AS et, arg_max(value, event_id) AS v
        |  FROM events GROUP BY user_id)
        |SELECT id, et AS etype_s, v AS val_d FROM latest
        |WHERE et <> 'error' ORDER BY id""".stripMargin,

    "x07_column_path" ->
      """WITH cells AS (
        |  SELECT CAST(user_id AS VARCHAR) AS u,
        |    CASE WHEN event_type = 'error' THEN '' ELSE event_type END AS q,
        |    CASE WHEN event_type = 'error' THEN 'delete-row' ELSE 'put' END AS ct,
        |    event_id, value
        |  FROM events),
        |latest AS (
        |  SELECT u, q, arg_max(ct, event_id) AS ct, arg_max(value, event_id) AS v
        |  FROM cells GROUP BY u, q)
        |SELECT u || '-evt-' || q AS id,
        |  CASE WHEN ct = 'put' THEN 'add' ELSE 'deleteByQuery' END AS kind,
        |  CASE WHEN ct = 'put' THEN NULL ELSE u END AS queryRow,
        |  CASE WHEN ct = 'put' THEN q ELSE NULL END AS etype_s,
        |  CASE WHEN ct = 'put' THEN v ELSE NULL END AS val_d
        |FROM latest ORDER BY id""".stripMargin,

    "x08_lookup_join" ->
      """WITH ev AS (
        |  SELECT CASE WHEN o_orderkey % 10 = 0 THEN o_custkey + 1000000
        |              ELSE o_custkey END AS ck
        |  FROM orders),
        |ids AS (SELECT DISTINCT ck FROM ev)
        |SELECT CAST(ck AS VARCHAR) AS id,
        |  CASE WHEN c_custkey IS NULL THEN 'deleteById' ELSE 'add' END AS kind,
        |  c_name AS name_s, c_nationkey AS nationkey_i, c_mktsegment AS mktsegment_s
        |FROM ids LEFT JOIN customer ON ck = c_custkey
        |ORDER BY id""".stripMargin,

    "x09_subscription_filter" ->
      """SELECT CASE WHEN event_type = 'error' THEN '' ELSE event_type END AS etype,
        |  count(*) AS n, min(epoch_ns(ts) // 1000000000) AS min_s
        |FROM events WHERE epoch_ns(ts) >= 1705276800000000000
        |GROUP BY 1 ORDER BY etype""".stripMargin,

    "x10_table_regex" ->
      """SELECT 'customer-' || CAST(c_custkey AS VARCHAR) AS id, c_name AS name_s
        |FROM customer ORDER BY id""".stripMargin,

    "x11_payload" ->
      """SELECT CAST(user_id AS VARCHAR) AS id,
        |  CAST(json_extract_string(arg_max(props, event_id), '$.k') AS INT) AS k_i
        |FROM events GROUP BY user_id ORDER BY id""".stripMargin,

    // the extractor routes the sys:payload cell back into the event
    // payload, so the drained result is x11's — same oracle text
    "x42_payload_extractor" ->
      """SELECT CAST(user_id AS VARCHAR) AS id,
        |  CAST(json_extract_string(arg_max(props, event_id), '$.k') AS INT) AS k_i
        |FROM events GROUP BY user_id ORDER BY id""".stripMargin,

    "x12_dynamic_fields" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS id, f AS field, v AS value FROM (
        |  SELECT c_custkey, 'f_name' AS f, c_name AS v FROM customer
        |  UNION ALL SELECT c_custkey, 'f_nationkey', CAST(c_nationkey AS VARCHAR) FROM customer
        |  UNION ALL SELECT c_custkey, 'f_acctbal', CAST(c_acctbal AS VARCHAR) FROM customer
        |  UNION ALL SELECT c_custkey, 'f_mktsegment', c_mktsegment FROM customer)
        |ORDER BY id, field""".stripMargin,

    "x13_hex_formatter" ->
      """SELECT lower(hex(CAST(CAST(c_custkey AS VARCHAR) AS BLOB))) AS id, c_name AS name_s
        |FROM customer ORDER BY id""".stripMargin,

    "x26_custom_formatter" ->
      """SELECT 'k' || upper(hex(CAST(CAST(c_custkey AS VARCHAR) AS BLOB))) AS id,
        |  c_name AS name_s
        |FROM customer ORDER BY id""".stripMargin,

    "x14_one_row_reindex" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS id, c_name AS name_s, c_acctbal AS acctbal_d
        |FROM customer WHERE c_custkey = 42""".stripMargin,

    "x15_completeness" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
        |  CASE WHEN c_custkey % 2 = 0 THEN c_name || '@e' ELSE c_name END AS name_s,
        |  CASE WHEN c_custkey % 2 = 0 THEN CAST(c_acctbal AS VARCHAR) || '@e'
        |       ELSE CAST(c_acctbal AS VARCHAR) END AS acctbal_s
        |FROM customer ORDER BY id""".stripMargin,

    "x16_positional" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
        |  CAST(c_acctbal AS VARCHAR) AS pos1_acctbal, c_mktsegment AS pos2_mktsegment,
        |  c_name AS pos3_name, CAST(c_nationkey AS VARCHAR) AS pos4_nationkey
        |FROM customer ORDER BY id""".stripMargin
  )
}
