package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema-memoized parquet reads for paths whose schema is a FIXED
  * property of their producer (guide §1.2/§5 — driver work off the hot
  * path): a bare `spark.read.parquet(...)` runs a footer-inference Spark
  * job on every call, and the engine's iterative/streaming paths re-read
  * schema-stable locations on every trigger or iteration — the streaming
  * drains paid 1-2 such jobs PER TRIGGER (state-store read + rollup
  * generation read: two 1-task jobs plus their scheduling gaps, measured
  * ~0.2-0.3 s of a ~2.3 s trigger on s20), the persisted-index admission
  * and ANN maintenance loops one per iteration, and every query one per
  * fixture table.
  *
  * `read(spark, key, paths*)` infers once per `key` per process and
  * replays the cached schema thereafter (`spark.read.schema(s)` skips
  * the inference job entirely). `seed(key, schema)` lets a WRITER
  * pre-populate the cache from the frame it just wrote, making even the
  * first read job-free — only sound for UNPARTITIONED writes (a
  * partitioned write moves the partition column out of the files; the
  * read-side schema re-adds it via directory discovery, so partitioned
  * locations must infer on first read instead).
  *
  * Keys must be chosen so every path read under one key carries the
  * producer's one schema: a state-store root (commits share the store's
  * schema), a rollup-generation parent (every `g<batch>` dir is written
  * by the same fold), an index dir (generations/compactions preserve
  * columns), or an immutable fixture file. Schemas are cached
  * `asNullable` — parquet reads are nullable-normalized anyway, and a
  * writer-side non-null claim must never tighten a reader.
  *
  * This caches SCHEMAS (input metadata), never data or results: every
  * read still scans the files on disk. */
object ParquetOnce {
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Deep nullable-normalization (StructType.asNullable is private[sql]):
    * a writer-side non-null claim must never tighten a reader. */
  private def nullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = nullable(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = nullable(m.keyType),
        valueType = nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
  private def asNullable(s: StructType): StructType =
    nullable(s).asInstanceOf[StructType]

  /** Read `paths` with the schema cached under `key`, inferring and
    * caching on first use. */
  def read(spark: SparkSession, key: String, paths: String*): DataFrame = {
    val known = schemas.get(key)
    if (known != null) spark.read.schema(known).parquet(paths: _*)
    else {
      val df = spark.read.parquet(paths: _*)
      schemas.putIfAbsent(key, asNullable(df.schema))
      df
    }
  }

  /** Writer-side pre-seed (unpartitioned writes only — see class doc).
    * The writer has just written the files, so its schema replaces any
    * cached one: a location deleted and rebuilt with a different schema
    * must not be read through the old one. */
  def seed(key: String, schema: StructType): Unit = {
    schemas.put(key, asNullable(schema))
    ()
  }
}
