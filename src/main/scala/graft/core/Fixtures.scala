package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Helpers that derive the engine's cell/mutation shapes from the plain
  * relational test tables, deterministically — so the same derivation can
  * be written in the DuckDB oracle SQL and the whole indexer pipeline is
  * hash-checkable end-to-end.
  *
  * Derivations:
  *  - `customerCells`: each customer row → one mutation with one `put`
  *    cell per column under family "info" (the demo-user fixture shape —
  *    reference hbase-indexer-demo .../DemoSchema.java:47-63).
  *  - `eventMutations`: the `events` table becomes a mutation log:
  *    rowKey = user_id, seq = event_id, one cell per event under family
  *    "evt" with qualifier = event_type; event_type='error' is interpreted
  *    as a whole-row delete (a deterministic stand-in for HBase delete
  *    markers in the WAL).
  */
object Fixtures {

  /** Fixture file → its inferred schema. The files are read-only inputs
    * that no engine pointer names, so only the FIRST read of a table pays
    * the footer-inference job: a bench pass re-resolves each fixture
    * hundreds of times (288 queries × warmup + reps), each a 1-task
    * driver-scheduled job otherwise. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val df = spark.read.schema(schemas.computeIfAbsent(path, spark.read.parquet(_).schema)).parquet(path)
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Fixture generations disagree on the physical type of `events.ts`:
    * INT64 TIMESTAMP(NANOS) (surfaced as a raw nanos LongType via
    * spark.sql.legacy.parquet.nanosAsLong) vs TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (surfaced as TIMESTAMP_NTZ, which the legacy
    * flag does NOT touch). Normalize at read so the whole engine sees one
    * shape — epoch nanos as LONG, the same value DuckDB's `epoch_ns(ts)`
    * yields on either generation. Sessions run with UTC timeZone, so the
    * NTZ→TZ cast below is micros-identity. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    if (!df.columns.contains("ts")) df
    else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          (unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * 1000L)
            .as("ts"))
      case _ => df
    }

  private def cell(family: String, qualifier: String, ts: org.apache.spark.sql.Column,
                   cellType: String, value: org.apache.spark.sql.Column) =
    struct(
      lit(family).as("family"), lit(qualifier).as("qualifier"),
      ts.cast("long").as("ts"), lit(cellType).as("cellType"),
      value.cast("string").as("value"))

  /** customer table → mutation events (all puts, family "info"). */
  def customerCells(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "customer").select(
      lit("customer").as("table"),
      col("c_custkey").cast("string").as("rowKey"),
      col("c_custkey").cast("long").as("seq"),
      lit(0L).as("writeTime"),
      array(
        cell("info", "name", lit(0L), "put", col("c_name")),
        cell("info", "nationkey", lit(0L), "put", col("c_nationkey")),
        cell("info", "acctbal", lit(0L), "put", col("c_acctbal")),
        cell("info", "mktsegment", lit(0L), "put", col("c_mktsegment"))
      ).as("cells"),
      lit(null).cast("string").as("payload"))

  /** events table → a mutation log with puts and row-deletes: rowKey =
    * user_id, seq = event_id, qualifier = event_type;
    * event_type='error' ⇒ whole-row delete marker.
    *
    * `ts` arrives as raw INT64 nanos (spark.sql.legacy.parquet.nanosAsLong)
    * — writeTime is those nanos verbatim, matching DuckDB's epoch_ns(ts). */
  def eventMutations(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events").select(
      lit("events").as("table"),
      col("user_id").cast("string").as("rowKey"),
      col("event_id").cast("long").as("seq"),
      col("ts").cast("long").as("writeTime"),
      when(col("event_type") === "error",
        array(struct(
          lit("evt").as("family"), lit("").as("qualifier"),
          col("event_id").cast("long").as("ts"), lit("delete-row").as("cellType"),
          lit(null).cast("string").as("value"))))
        .otherwise(array(struct(
          lit("evt").as("family"), col("event_type").as("qualifier"),
          col("event_id").cast("long").as("ts"), lit("put").as("cellType"),
          col("value").cast("string").as("value"))))
        .as("cells"),
      col("props").as("payload"))

  /** Current "table state" snapshot for the lookup join (J1): customer
    * rows as (table, rowKey, cells). */
  def customerSnapshot(spark: SparkSession, sfDir: String): DataFrame =
    customerCells(spark, sfDir).select(col("table"), col("rowKey"), col("cells"))
}
