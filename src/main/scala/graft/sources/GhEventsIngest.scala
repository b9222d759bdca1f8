package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, col}
import graft.catalog.{Append, Catalog, TableDef}
import graft.schema.{ChType, GhEventsSchema}

/** Ingest for `git.github_events` (/root/reference/create_db.py:67-128).
  *
  * The reference populates this table from GH Archive deliveries — JSON
  * lines, one event per line — outside clickhub itself (the DDL is declared
  * in create_db.py; README.md:256 consumes it). Our ingest is the same
  * contract: a JSONL file read against the declared 54-column schema, every
  * Enum8 validated (insert-time reject, like ClickHouse), DateTimes
  * truncated to second precision, Array(LowCardinality(String)) columns
  * landed as array<string>, then a clustered append under the MergeTree
  * sort key (event_type, repo_name, created_at) so Parquet row-group stats
  * skip on the same prefix ClickHouse's sparse index would.
  */
object GhEventsIngest {

  val TableName = "github_events"

  def table(root: String): TableDef =
    TableDef(TableName, s"$root/$TableName",
      ChType.structType(GhEventsSchema.columns), GhEventsSchema.sortKey, Append)

  /** JSONL → validated, typed, clustered append. Returns rows ingested.
    * FAILFAST: a malformed line rejects the batch, as a ClickHouse INSERT
    * would, rather than silently nulling columns. The JSON file's length
    * (held by the scan's own listing) is the block's measured size, so a
    * batch under `graft.append.partBytes` is written — and fanned out to
    * the attached views — as one single-partition stage.
    */
  def ingest(spark: SparkSession, cat: Catalog, jsonPath: String): Long = {
    val raw = spark.read
      .schema(ChType.structType(GhEventsSchema.columns))
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .option("mode", "FAILFAST")
      .json(jsonPath)
    // GH Archive payloads are sparse: fields absent for an event kind arrive
    // as null and take the declared type's zero value, exactly as a
    // ClickHouse INSERT defaults omitted non-Nullable columns — so the Enum8
    // guard validates real values, not gaps.
    val validated = raw.select(
      GhEventsSchema.columns.map(c =>
        TsvIngest.normalizeNamed(
          coalesce(col(c.name), TsvIngest.chDefault(c)), c)): _*)
    val jsonBytes = raw.queryExecution.analyzed.stats.sizeInBytes.toLong
    cat.append(TableName, validated, blockBytes = jsonBytes)
  }
}
