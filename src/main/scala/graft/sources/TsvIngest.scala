package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}
import graft.catalog.{Catalog, ReplacingDedup, TableDef}
import graft.schema.ChType
import graft.schema.ChType.{ChDateTime, ChEnum8, ChLowCardinality, Col}

/** The reference's ingest pipeline (SURVEY.md §3.1 steps 6a-6d) as one
  * short chain of Spark jobs: the watermark read, then one Catalyst plan
  * whose dedup feeds the clustered write. A TSV under
  * `graft.append.partBytes` runs that plan as one single-partition stage
  * (dedup and sort without an exchange); a larger one range-partitions.
  *
  * In the reference this is three processes and two pipes: clickhouse-local
  * applies `SELECT c1::String AS hash, … WHERE time > '{hwm}'` over the TSV
  * and streams Native blocks into clickhouse-client's INSERT
  * (/root/reference/repo/importer.py:93-110). Here the same dataflow is one
  * lazy plan — scan → typed projection → watermark filter → dedup → clustered
  * append — and Catalyst pushes the watermark predicate into the CSV scan
  * (PushDownPredicates), so only new rows are ever parsed into rows, the
  * same pruning the reference gets from clickhouse-local (importer.py:106-108).
  *
  * Covers: S1 (file() TSV scan), P1/F1 (typed positional projection),
  * P2 (repo_name literal injection), F2 (MATERIALIZED now()), A3+P5+T1
  * (per-(table, repo) high-water mark), T2+A8 (ingest-time dedup), O3
  * (clustered write via Catalog.append), S7 (TSV cleanup).
  */
object TsvIngest {

  /** S1: headerless TSV under a declared positional all-string schema
    * `_c0…_c{nCols-1}` — the `file('x.tsv')` → `c1…cN` contract
    * (types.json:6). The first line is not special: no schema-inference
    * job reads it, an empty file is zero rows, and a short row reads its
    * missing trailing fields as null.
    */
  def readTsv(spark: SparkSession, path: String, nCols: Int): DataFrame =
    spark.read
      .schema(StructType((0 until nCols).map(i => StructField(s"_c$i", StringType))))
      .option("sep", "\t")
      .option("header", "false")
      .option("quote", "")   // git-import TSV is raw: tabs/newlines escaped, no quoting
      .csv(path)

  /** P1+F1: positional typed projection `_c{i}` → declared name+type.
    *
    * - DateTime columns arrive as epoch seconds or 'yyyy-MM-dd HH:mm:ss'
    *   strings; both cast, then truncate to second precision (ClickHouse
    *   DateTime is second-granular, SURVEY.md §7.5.4).
    * - Enum8 columns are validated against the declared name set —
    *   ClickHouse would reject an unknown enum literal at INSERT; we fail
    *   the job with `raise_error` (the plain-expression check of §7.4).
    */
  def typedProjection(cols: Seq[Col]): Seq[Column] =
    cols.zipWithIndex.map { case (c, i) => castCol(col(s"_c$i"), c) }

  private def castCol(src: Column, c: Col): Column = {
    def cast(ch: ChType, in: Column): Column = ch match {
      case ChDateTime =>
        // epoch-seconds or formatted string; both → second-truncated UTC
        date_trunc("second",
          when(in.rlike("^[0-9]+$"), timestamp_seconds(in.cast("long")))
            .otherwise(in.cast("timestamp")))
      case e: ChEnum8 => enumGuard(in, e, c.name)
      case ChLowCardinality(inner) => cast(inner, in)
      case other => in.cast(other.sparkType)
    }
    cast(c.ch, src).as(c.name)
  }

  /** The Enum8 INSERT check (F1): ClickHouse rejects an unknown enum literal
    * at insert; we fail the job with `raise_error` (SURVEY.md §7.4's
    * plain-expression check — no planner hook needed).
    */
  def enumGuard(in: Column, e: ChEnum8, colName: String): Column =
    when(in.isin(e.values.map(_._1): _*), in)
      .otherwise(raise_error(concat(
        lit(s"invalid Enum8 value for $colName: "), coalesce(in, lit("NULL")))))

  /** The declared type's zero value — what ClickHouse stores for an omitted
    * field of a non-Nullable column ('' / 0 / epoch / [] / first enum name).
    */
  def chDefault(c: Col): Column = c.ch match {
    case e: ChEnum8 => lit(e.values.head._1)
    case ChDateTime => timestamp_seconds(lit(0))
    case ChLowCardinality(inner) => chDefault(Col(c.name, inner))
    case _: ChType.ChArray => typedLit(Seq.empty[String])
    case ChType.ChString => lit("")
    case other => lit(0).cast(other.sparkType)
  }

  /** Validation/normalization for an already-NAMED (and possibly already
    * typed) column — the JSON ingest path ([[GhEventsIngest]]) and schema
    * adapter views, where columns arrive by name rather than TSV position:
    * second-truncate DateTimes, enum-check Enum8s, cast the rest (including
    * Array columns) to the declared Spark type.
    */
  def normalizeNamed(in: Column, c: Col): Column = {
    def norm(ch: ChType, in: Column): Column = ch match {
      case ChDateTime => date_trunc("second", in.cast("timestamp"))
      case e: ChEnum8 => enumGuard(in.cast("string"), e, c.name)
      case ChLowCardinality(inner) => norm(inner, in)
      case other => in.cast(other.sparkType)
    }
    norm(c.ch, in).as(c.name)
  }

  /** A3+P5: per-(table, repo) ingest high-water mark — `SELECT max(time)
    * FROM t WHERE repo_name = r` (importer.py:95). None when the table is
    * empty or the repo unseen (first import ingests everything). The git
    * tables are merge engines, so [[Catalog.readRaw]] scans a table whose
    * logged files fit one append part as one partition: the aggregate
    * runs as one job, where partial and final stages would cost two.
    */
  def highWaterMark(cat: Catalog, table: String, repoName: String): Option[java.sql.Timestamp] =
    if (!cat.exists(table)) None
    else Option(cat.readRaw(table).filter(col("repo_name") === repoName)
      .agg(max(col("time"))).head().getTimestamp(0))

  /** The full §3.1 incremental load for one (tsv, table, repo):
    * read → project → inject → watermark-filter → append (dedup + clustered
    * inside [[Catalog.append]]). Returns rows ingested.
    */
  def ingest(
      spark: SparkSession,
      cat: Catalog,
      table: TableDef,
      tsvPath: String,
      schemaCols: Seq[Col],
      repoName: String,
      deleteTsvAfter: Boolean = false): Long = {
    val hwm = highWaterMark(cat, table.name, repoName)
    val tsv = readTsv(spark, tsvPath, schemaCols.size)
    val projected = tsv.select(typedProjection(schemaCols): _*)
      .withColumn("repo_name", lit(repoName))                          // P2
      .withColumn("updated_at", date_trunc("second", current_timestamp())) // F2
    // T1: strict '>' — same-second re-reads drop here; equal-key residue
    // within the batch collapses in Catalog.append (ReplacingDedup), T2.
    val incremental = hwm.fold(projected)(m => projected.filter(col("time") > lit(m)))
    // row accounting comes from the appended batch itself (Catalog.append
    // observes the post-dedup count on its write) — O(batch), not the O(table)
    // before/after full scans this used to do, which at 40k-repo scale made
    // every import scan the entire fact table twice.
    // The TSV's length (the scan's file listing holds it, so no extra
    // filesystem call) is the block's measured size: a TSV under
    // graft.append.partBytes is written as one sorted file in one stage
    // (no dedup shuffle, no range sample job, no range shuffle), a larger
    // one fans out to partBytes-sized ranges.
    val tsvBytes = tsv.queryExecution.analyzed.stats.sizeInBytes.toLong
    val ingested = cat.append(table.name, incremental, blockBytes = tsvBytes)
    if (deleteTsvAfter) { // S7
      val f = new java.io.File(tsvPath)
      if (f.isFile) f.delete() else ()
    }
    ingested
  }

  /** Standard TableDef for a git fact table: ReplacingMergeTree on the
    * declared sort key, latest-wins on updated_at (types.json:7,13,19).
    */
  def gitTable(name: String, root: String, cols: Seq[Col], sortKey: Seq[String]): TableDef = {
    val full = ChType.structType(cols)
      .add("repo_name", StringType)
      .add("updated_at", TimestampType)
    TableDef(name, s"$root/$name", full, sortKey, ReplacingDedup(sortKey, "updated_at"))
  }
}
