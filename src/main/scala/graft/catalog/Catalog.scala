package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
import scala.collection.immutable.ListMap

/** Table registry — our analog of the reference's DDL catalog
  * (/root/reference/create_db.py:30-128 + /root/reference/types.json).
  *
  * Each table is a Parquet directory plus declared engine semantics. The
  * ClickHouse MergeTree family defers its per-engine behavior to background
  * merges; on immutable Parquet we split that into an eager write path
  * ([[Catalog.append]]) and a read-time view ([[Catalog.read]]) so readers
  * always see fully-merged semantics (SURVEY.md §4 "merge-time dedup"):
  *
  *   - [[Append]]          ≈ MergeTree: plain columnar append.
  *   - [[ReplacingDedup]]  ≈ ReplacingMergeTree(types.json:7): equal-sort-key
  *     rows collapse to the latest `versionCol`. Write path dedups within the
  *     batch; read path window-dedups across batches, so replayed imports are
  *     invisible (the reference's idempotent re-import invariant).
  *   - [[Summing]]         ≈ SummingMergeTree(README.md:251): equal-key rows
  *     re-sum `sumCols`. Partial aggregates are summable, so appends of
  *     per-batch partials + read-time re-sum ≡ a total aggregate —
  *     exactly the MV contract (README.md:247-266).
  *   - [[Collapsing]]      ≈ VersionedCollapsingMergeTree: upsert/delete by
  *     paired ±1 sign rows; opposing pairs cancel in the fold (doc there).
  *
  * Scale note: the read-time window/agg shuffles only when a batch boundary
  * actually split a key; [[compact]] folds history back to one row per key so
  * steady-state reads stay shuffle-free after AQE sees the tiny post-compact
  * tables.
  */
sealed trait EngineSemantics
case object Append extends EngineSemantics
/** `isDeletedCol` (ReplacingMergeTree's `is_deleted` parameter): when set,
  * a row whose LATEST version carries is_deleted = 1 is a tombstone — the
  * merged read hides the key entirely (the tombstone shadows every older
  * version, so an upsert-then-delete stream needs no rewrite), and
  * [[Catalog.compact]] materializes the view, physically dropping
  * tombstones — the `OPTIMIZE … FINAL CLEANUP` analog. A later append at
  * a HIGHER version resurrects the key, exactly as in the reference
  * engine.
  */
final case class ReplacingDedup(keys: Seq[String], versionCol: String,
                                isDeletedCol: Option[String] = None) extends EngineSemantics
final case class Summing(keys: Seq[String], sumCols: Seq[String]) extends EngineSemantics

/** ≈ VersionedCollapsingMergeTree: row-level upsert/delete by PAIRED
  * writes. A live row carries `signCol` = +1; updating or deleting it
  * means appending an exact copy with sign −1 (the cancel) — plus, for an
  * update, the new state at a higher `versionCol`. The fold groups by
  * EVERY column except the sign (the contract requires a cancel to be a
  * byte-copy of its state row, so group-by-all ≡ group-by-(key, version)
  * under the contract, and a malformed cancel simply fails to cancel
  * instead of corrupting an unrelated row), sums the signs, drops net-zero
  * groups, and re-emits |net| rows of sign(net) — preserving uncancelled
  * duplicates exactly like the reference engine's pair-at-a-time merge,
  * and keeping the fold ASSOCIATIVE so batch pre-fold, read-time fold, and
  * compact materialization compose in any order. A dangling cancel (state
  * not yet arrived) therefore stays visible as a −1 row, exactly as in a
  * ClickHouse `FINAL` read; consumers take the documented patterns —
  * `filter(sign > 0)` for current state, `sum(x * sign)` for aggregates
  * that never need the fold at all (the raw-storage trick that makes this
  * engine the 100 TB-friendly upsert: aggregation reads unmerged parts and
  * the cancels subtract themselves).
  */
final case class Collapsing(keys: Seq[String], signCol: String,
                            versionCol: String) extends EngineSemantics

/** ≈ AggregatingMergeTree (the uniqState-in-MV family, reference
  * README.md:247-266): each `stateCols` column stores MERGEABLE aggregate
  * state keyed by `keys`. Appends carry per-batch partial states; the
  * read view merges states per key, and [[Catalog.compact]] materializes
  * that merge into storage (ClickHouse's background merge of
  * AggregateFunction parts). Schema contract: declared fields are exactly
  * `keys ++ stateCols` (validated at CREATE) — an un-aggregated payload
  * column has no merge rule here.
  *
  * `stateKinds` generalizes beyond the original HLL-only engine to the
  * full ClickHouse `-State`/`-Merge` column families (SummingMergeTree is
  * the degenerate sum case — [[Summing]]); per state column:
  *  - `"hll"` (the default): Datasketches HLL bytes (`hll_sketch_agg`),
  *    merged with `hll_union_agg`, estimated with `hll_sketch_estimate` —
  *    ClickHouse `uniqState`/`uniqMerge`.
  *  - `"kll"`: Datasketches KLL quantile-sketch bytes
  *    ([[graft.functions.QuantileSketch]]), merged by sketch union —
  *    ClickHouse `quantileState`/`quantileMerge`, the incrementally
  *    maintained percentile rollup.
  *  - `"avg"`: exact `(sum: double, cnt: bigint)` struct state, merged by
  *    field-wise sums — ClickHouse `avgState`/`avgMerge` (exact, so the
  *    read is hash-matchable, unlike the sketch kinds).
  *  - `"sum"` / `"min"` / `"max"`: exact scalar states merged by the
  *    eponymous fold — `sumState`/`minState`/`maxState` (sum requires
  *    BIGINT or DOUBLE so the merged type equals the declared type).
  *  - `"argmax"`: a `STRUCT<…>` whose FIRST field is the ordering value,
  *    merged by struct max (Spark's lexicographic struct ordering) —
  *    ClickHouse `argMaxState`: the remaining fields ride along with the
  *    winning row, ties broken by the later fields deterministically.
  *  - `"topk:CAPACITY"`: a SpaceSaving counter table as
  *    `MAP<STRING, BIGINT>` ([[graft.functions.TopKSketch]]), merged by
  *    union + re-evict to CAPACITY — ClickHouse `topKState`/`topKMerge`;
  *    counts are exact while distinct values stay under CAPACITY.
  */
final case class Aggregating(keys: Seq[String], stateCols: Seq[String],
                             stateKinds: Map[String, String] = Map.empty)
    extends EngineSemantics {
  /** Kind of one state column; unlisted columns keep the original HLL
    * behavior so every pre-existing definition reads unchanged.
    */
  def kindOf(c: String): String = stateKinds.getOrElse(c, "hll")

  /** Kind with its parameter stripped (`topk:1024` → `topk`). */
  def baseKindOf(c: String): String = kindOf(c).split(':')(0)

  /** The numeric parameter of a parameterized kind, if declared. */
  def kindParamOf(c: String): Option[Int] =
    kindOf(c).split(':') match {
      case Array(_, p) if p.forall(_.isDigit) && p.nonEmpty => Some(p.toInt)
      case _ => None
    }
}

/** ≈ ENGINE = Null: inserts are type-checked, counted, and DISCARDED;
  * reads are always empty. Useless alone — the point is the ClickHouse
  * ingestion idiom it enables: attach materialized views
  * ([[Catalog.createMaterializedView]]) to a Null table and INSERT the
  * raw feed into it. Every attached MV sees each inserted block and
  * writes its transform into its target table, so one insert fans out to
  * N differently-shaped aggregates while the raw rows are never stored —
  * at 100 TB/day of feed this is the difference between paying for one
  * durable copy of the firehose and paying for none.
  */
case object NullEngine extends EngineSemantics

/** ≈ ENGINE = Join(ANY, LEFT, keys): the table IS a pre-built lookup map —
  * one surviving row per key — kept small enough to broadcast, and probed
  * with [[Catalog.joinGet]] (ClickHouse's `joinGet('t', 'col', key)`
  * point-lookup expression) instead of spelling a join. ClickHouse's ANY
  * strictness keeps an arbitrary row when a key is inserted twice (which
  * row survives depends on merge order); here the fold is made
  * DETERMINISTIC — the lexicographically least non-key tuple wins — so
  * reads, compaction, and the oracle agree byte-for-byte. The fold is
  * associative (min over structs), so within-batch pre-fold, read-time
  * fold, and compact materialization compose in any order, same as
  * [[Summing]]. Non-key columns must be orderable scalar types (the min
  * needs an ordering); at 100 TB the map side stays O(keys) while the
  * probe side never shuffles — joinGet broadcasts the folded map.
  */
final case class JoinAny(keys: Seq[String]) extends EngineSemantics

final case class TableDef(
    name: String,
    path: String,
    schema: StructType,
    sortKeys: Seq[String],
    semantics: EngineSemantics,
    partitionKeys: Seq[String] = Nil,
    indexCols: Seq[String] = Nil,
    minmaxCols: Seq[String] = Nil,
    codec: String = "snappy",
    // CH `CONSTRAINT name CHECK expr`: name -> boolean SQL over the schema,
    // enforced on every INSERT block (SQL semantics: NULL passes); checked
    // at insert only, like ClickHouse (mutations/merges don't re-check)
    constraints: Seq[(String, String)] = Nil,
    // CH `col T MATERIALIZED expr`: column -> SQL expr over the BASE
    // (non-materialized) columns, computed at insert and stored physically;
    // insert blocks must not supply the column
    materializedCols: Seq[(String, String)] = Nil,
    // CH `INDEX … TYPE tokenbf_v1`: full-text TOKEN bloom sidecars for
    // string columns — every word-token of every row goes into the
    // per-file bloom, so a hasToken-shaped predicate can drop whole files
    // (the log-search workhorse: equality blooms only skip on the WHOLE
    // value, useless for "find the request id inside the message")
    tokenIndexCols: Seq[String] = Nil,
    // CH per-column `CODEC(Delta…)` / `LowCardinality(T)`: column ->
    // storage ENCODING kind, carried to parquet's per-column writer
    // knobs (declaration-ordered pairs, like constraints). See
    // [[Catalog.columnCodecKinds]] for the supported kinds and the
    // parquet mechanism each maps to; `codec` above stays the
    // COMPRESSION axis (parquet compresses file-wide).
    columnCodecs: Seq[(String, String)] = Nil,
    // CH `INDEX … TYPE set(N)`: per-file EXACT distinct-value sidecars —
    // column -> max stored distincts. The low-cardinality complement of
    // the bloom index: an IN/equality probe consults the exact set (no
    // false positives), and a file whose distinct count exceeded N is
    // marked overflowed and always kept (fail open, like CH's unbounded
    // set marker).
    setIndexCols: Seq[(String, Int)] = Nil,
    // CH `INDEX … TYPE full_text(N)` (the inverted index): per-file
    // POSTING-LIST sidecars for text columns — token -> the row ordinals
    // carrying it — column -> max distinct tokens per file. Answers the
    // multi-token AND / phrase probes the token BLOOM refuses: the probe
    // intersects the tokens' row sets, so a file whose tokens never
    // co-occur in one row drops entirely. Two overflow reliefs keep the
    // sidecar bounded (both fail OPEN): a file over the token bound
    // stores an overflow marker; a token in more rows than
    // [[Catalog.FullTextRowCap]] stores a dense marker (present, rows
    // unknown = universal for intersection).
    fullTextCols: Seq[(String, Int)] = Nil,
    // CH `INDEX … TYPE vector_similarity`: a declared ANN index on ONE
    // embedding column — appends maintain an IVF-PQ companion (coarse
    // cell + M-byte code per row, keyed by the first sort key) through
    // [[AnnIndex]], and [[Catalog.readAnnTopK]] probes it codes-only.
    annIndex: Option[AnnIndexDef] = None,
    // CH `PROJECTION p (SELECT …)`: declared per-table projections —
    // every commit that writes data writes each projection's companion
    // files into its own commit directory and lists them in the same log
    // entry (key `projections`), so a block and its companion publish
    // together; queries are AUTO-rewritten onto the companion by the
    // optimizer rules ([[graft.plans.RollupRewrite]] /
    // [[graft.plans.SortedProjectionRewrite]]), which find it on the live
    // scan's file index; queries never opt in. Plain Append +
    // unpartitioned tables only (merging engines fold at read time, so an
    // aggregate over their scan is never a plain rollup of stored rows).
    projections: Seq[ProjectionSpec] = Nil,
    // CH `TTL col + INTERVAL n unit [GROUP BY … SET …]` declared in the
    // table definition (recorded in the table log); the sweep itself runs on
    // demand — [[Catalog.materializeTtl]], CH's `ALTER TABLE …
    // MATERIALIZE TTL` — never as a hidden read-path rewrite.
    ttl: Option[TtlSpec] = None,
    // Pending ALTER state of the STORED files. Column ALTERs are
    // metadata-only, so files written before one keep their old shape
    // until the next compact/mutation rewrites every file in the declared
    // shape and clears all three (recorded in the table log):
    //   - ADD COLUMN: columns older files lack — reads fill their nulls
    //     with the column's DEFAULT until the rewrite materializes it
    //     (afterwards a stored NULL reads back as NULL);
    backfillCols: Set[String] = Set.empty,
    //   - RENAME COLUMN: declared name -> the PHYSICAL name in files
    //     written before the rename (a chain collapses to the first);
    renames: Map[String, String] = Map.empty,
    //   - DROP COLUMN: physical names old files may still carry — no new
    //     column may take one, or the old stored values would bleed in.
    droppedCols: Set[String] = Set.empty) {

  /** Each declared column DEFAULT as SQL cast to the column's current
    * type. The field's `chDefault` metadata is the one place a default is
    * stored; the insert fill, the read backfill and `system.columns` all
    * derive from it here.
    */
  def defaults: ListMap[String, String] = ListMap(schema.fields.toSeq.collect {
    case f if f.metadata.contains("chDefault") =>
      f.name -> s"CAST((${f.metadata.getString("chDefault")}) AS ${f.dataType.sql})"
  }: _*)
}

/** A declared TTL: rows whose `col` (Date/DateTime/epoch-seconds) is
  * older than `maxAgeSec` at sweep time are DELETED, or — when
  * `groupKeys` is non-empty — ROLLED UP per key with each `set` column
  * replaced by its aggregate (SQL text, e.g. `"n" -> "sum(n)"`) and
  * every other non-key column by max (the [[Catalog.applyTtlRollup]]
  * contract).
  */
final case class TtlSpec(col: String, maxAgeSec: Long,
                         groupKeys: Seq[String] = Nil,
                         set: Seq[(String, String)] = Nil,
                         // calendar TTL (`INTERVAL n MONTH/QUARTER/YEAR`,
                         // folded to months): variable-length units the
                         // fixed-second axis can't hold — the sweep adds
                         // months to the clock column (clamped
                         // end-of-month arithmetic, both engines') and
                         // compares against the explicit `now`, so it
                         // stays deterministic. Exactly one of
                         // maxAgeSec / calMonths is active.
                         calMonths: Option[Long] = None)

/** The declared shape of a `vector_similarity` index: IVF-PQ with
  * `nCells` coarse cells, `m` PQ subspaces of `k` sub-centroids each.
  * The indexed row's identity is the table's FIRST SORT KEY (an integral
  * column — the id the exact-rerank point-read joins back on), which is
  * also the CH discipline: a vector index without a primary key to
  * return has nothing to point at.
  */
final case class AnnIndexDef(column: String, nCells: Int = 16,
                             m: Int = 8, k: Int = 16)

/** One declared table projection (doc on [[TableDef.projections]]). */
sealed trait ProjectionSpec {
  def name: String
  /** The directory of its companion files inside a commit directory. */
  def dirName: String = s"_proj_$name"
}

/** The aggregate form — CH `PROJECTION p (SELECT dims…, count(), sum(m)…
  * GROUP BY dims…)`. The companion holds one partial row per (dims) per
  * INSERT BLOCK (`__cnt` + `__sum_<m>` columns — the SummingMergeTree
  * partial-state shape this engine already merges at read); a count/sum
  * aggregate over the base re-aggregates those partials, so per-block
  * appends never need to rewrite the companion.
  */
final case class AggProjection(name: String, dims: Seq[String],
                               sumCols: Seq[String] = Nil) extends ProjectionSpec {
  /** The companion's row-count column and measure `m`'s partial sum. */
  def cntCol: String = "__cnt"
  def sumCol(m: String): String = s"__sum_$m"
}

/** The alternate-sort form — CH `PROJECTION p (SELECT * ORDER BY key)`.
  * Each appended block is range-clustered on `sortKey` in the companion,
  * so a selective predicate on it prunes to ~1/files-per-block within
  * every block (a compact re-clusters globally — the CH merge analog).
  */
final case class SortProjection(name: String, sortKey: String) extends ProjectionSpec

final class Catalog(spark: SparkSession) {

  private val tables = scala.collection.concurrent.TrieMap.empty[String, TableDef]

  /** The Distributed-facade registry bound to THIS catalog — the target
    * of `CREATE TABLE … ENGINE = Distributed(…)` DDL text (round 13);
    * API users may equally construct their own [[DistributedCatalog]].
    */
  lazy val distributed = new DistributedCatalog(spark, this)

  /** The query governor bound to THIS catalog — the target of the
    * governance text doors (`SHOW PROCESSLIST`, `KILL QUERY`,
    * `CREATE QUOTA`, round 13); API users may equally construct their
    * own [[QueryGovernor]].
    */
  lazy val governor = new QueryGovernor(spark)

  /** Session query parameters (round 14): `SET param_<name> = v` binds
    * here; `{name:Type}` placeholders in statements through ChDdl
    * substitute from it (ClickHouse's query-parameter contract — the
    * Grafana/CLI/dashboard staple). Keyed by the bare name, value held
    * as its raw text; the substitution site applies the declared type.
    */
  val sessionParams =
    scala.collection.concurrent.TrieMap.empty[String, String]

  // Per-table write lock: Spark's file commit protocol stages every job of
  // one output path under the same `_temporary/0` dir, so two concurrent
  // appends to one table would clobber each other's staging (the first
  // commit deletes the second's files). ClickHouse serializes per-table
  // INSERT commits the same way; concurrent workers (start_workers) contend
  // here only when they land on the same table, and only for the write —
  // claim/scan/read stay fully concurrent. The monitor is JVM-GLOBAL and
  // keyed by the table PATH (Catalog.lockFor), not per-Catalog-instance:
  // two Catalog (or CentroidStore) instances over one warehouse in one
  // process must share the same lock, or their read-modify-write commits
  // (e.g. CentroidStore.save's max/append/delete) interleave.
  private def writeLock(name: String): Object = Catalog.lockFor(get(name).path)

  /** Run `body` holding the table's write lock — for callers whose commit
    * is a multi-step read-modify-write (read a watermark, append, reclaim)
    * that must serialize as a unit against other writers in this process.
    * Reentrant with the lock `append`/`mutate` take internally. Cross-JVM
    * writers are NOT excluded by this — they serialize through the table
    * log's publish step only ([[TableLog.commit]]).
    */
  def withWriteLock[T](name: String)(body: => T): T =
    writeLock(name).synchronized(body)

  // A commit directory nothing has been written into for this long is a
  // crashed writer's leftover: the next rewrite's sweep collects it (a
  // live writer's newest file is its heartbeat). Commits are minutes, not
  // half-hours.
  private val staleLockMs: Long = 30L * 60 * 1000

  /** Parquet codecs Spark writes without extra jars — the CREATE TABLE
    * `CODEC(...)` axis (ClickHouse defaults LZ4 and offers ZSTD for cold
    * data; the parquet equivalents are snappy and zstd). Per-TABLE, not
    * per-column: parquet sets compression file-wide.
    */
  private val codecs = Set("snappy", "zstd", "gzip", "lz4", "uncompressed")

  /** D1/D2: register ≈ CREATE TABLE (create_db.py:32-33). Idempotent: a
    * registered name keeps its registration. Otherwise the table's log is
    * opened ([[TableLog.recover]]: a directory an older build wrote is
    * adopted and a crashed commit's partition moves are settled before
    * anything is written there), and when its head lacks this definition
    * or holds a different one, an entry with the same files publishes it.
    */
  def createTable(t: TableDef): TableDef = {
    validate(t)
    if (tables.putIfAbsent(t.name, t).isEmpty) Catalog.lockFor(t.path).synchronized {
      val h = TableLog.recover(fs(t.path), t.path, Some(t))
      if (!h.table.contains(t)) log(t).commit(t.name, Some(h))(cur =>
        Some(cur.copy(table = Some(t), projections = companionsUnder(cur, cur.table, t))))
    }
    tables(t.name)
  }

  /** The checks a definition passes before it is registered or published
    * ([[createTable]], [[alter]]); returns it.
    */
  private def validate(t: TableDef): TableDef = {
    require(codecs.contains(t.codec),
      s"${t.name}: unknown codec ${t.codec} (one of ${codecs.mkString(", ")})")
    // skip-index columns must be DATA-FILE columns: a partition key lives
    // in directory names, so its sidecar could never be built — the file
    // would re-enter the "missing" set on every append, silently turning
    // O(batch) appends into full-table scans (and partition keys already
    // prune at the directory level, the stronger skip)
    SkipIndex.all.flatMap(_.columns(t)).foreach { c =>
      require(t.schema.fieldNames.contains(c),
        s"${t.name}: skip-index column $c is not in the schema")
      require(!t.partitionKeys.contains(c),
        s"${t.name}: skip-index column $c is a partition key " +
          s"(directory pruning already covers it)")
    }
    SkipIndex.all.foreach(_.validate(t))
    // vector_similarity: one float/double array column, anchored to an
    // integral first sort key (the id the exact rerank points back at)
    t.annIndex.foreach { a =>
      import org.apache.spark.sql.types._
      require(t.schema.fieldNames.contains(a.column),
        s"${t.name}: ANN index column ${a.column} is not in the schema")
      val ok = t.schema(a.column).dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
        case _ => false
      }
      require(ok, s"${t.name}: ANN index column ${a.column} is " +
        s"${t.schema(a.column).dataType.simpleString}; vector_similarity " +
        "indexes float/double array columns")
      require(t.sortKeys.nonEmpty && t.sortKeys.head != a.column,
        s"${t.name}: an ANN index needs a non-vector first sort key " +
          "(the row id the exact rerank joins back on)")
      val idT = t.schema(t.sortKeys.head).dataType
      require(Seq[DataType](ByteType, ShortType, IntegerType, LongType)
          .contains(idT),
        s"${t.name}: ANN index id (first sort key ${t.sortKeys.head}) is " +
          s"${idT.simpleString}; an integral id column is required")
      require(a.nCells > 0 && a.m > 0 && a.k > 0 && a.k <= 256,
        s"${t.name}: ANN index needs nCells > 0, m > 0, 0 < k <= 256 " +
          s"(got ${a.nCells}/${a.m}/${a.k})")
      require(t.semantics == Append,
        s"${t.name}: ANN indexes require Append semantics (a merge view " +
          "would re-key rows under the index)")
    }
    // projections: plain-Append unpartitioned tables only (the
    // TableDef doc), at most one sorted one (the sorted rule swaps in one
    // alternate order per scan), every referenced column a schema column
    if (t.projections.nonEmpty) {
      require(t.semantics == Append,
        s"${t.name}: projections need plain MergeTree semantics — a " +
          "merging engine's stored rows are partial states, and a rollup " +
          "of partials is not a rollup of the merged view")
      require(t.partitionKeys.isEmpty,
        s"${t.name}: projections are maintained for unpartitioned tables only")
      require(t.projections.map(_.name).distinct.length == t.projections.length,
        s"${t.name}: duplicate projection name")
      require(t.projections.count(_.isInstanceOf[SortProjection]) <= 1,
        s"${t.name}: at most one SORTED projection per table (the sorted " +
          "registry keys one alternate order per base path; aggregate " +
          "projections may be declared in any number — the rollup rule " +
          "picks the narrowest eligible one per query)")
      t.projections.foreach {
        case AggProjection(nm, dims, sums) =>
          require(dims.nonEmpty, s"${t.name}.$nm: GROUP BY dims required")
          (dims ++ sums).foreach(c => require(t.schema.fieldNames.contains(c),
            s"${t.name}.$nm: projection column $c is not in the schema"))
          sums.foreach(c => require(
            t.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
            s"${t.name}.$nm: sum measure $c is not numeric"))
        case SortProjection(nm, key) =>
          require(t.schema.fieldNames.contains(key),
            s"${t.name}.$nm: sort key $key is not in the schema")
      }
    }
    // declared TTL: validated at CREATE, same stance as every other axis
    t.ttl.foreach(validateTtl(t, _))
    // per-column codec axis: each declared kind must exist, apply to a
    // schema column exactly once, and match the column's physical type —
    // checked HERE so a codec/type mismatch fails at CREATE, not as a
    // silently-ignored writer option on the first append
    require(t.columnCodecs.map(_._1).distinct.length == t.columnCodecs.length,
      s"${t.name}: a column appears twice in columnCodecs")
    t.columnCodecs.foreach { case (c, kind) =>
      import org.apache.spark.sql.types._
      require(t.schema.fieldNames.contains(c),
        s"${t.name}: columnCodecs names $c, which is not in the schema")
      require(!t.partitionKeys.contains(c),
        s"${t.name}: columnCodecs names partition key $c, which lives in " +
          "directory names, not data pages")
      require(Catalog.columnCodecKinds.contains(kind),
        s"${t.name}: unknown column codec $kind for $c " +
          s"(one of ${Catalog.columnCodecKinds.mkString(", ")})")
      if (kind == "delta" || kind == "doubledelta") {
        val ok = t.schema(c).dataType match {
          case ByteType | ShortType | IntegerType | LongType | DateType |
               TimestampType | TimestampNTZType | StringType | BinaryType => true
          case _ => false
        }
        // parquet has no delta encoding for FP (that would be
        // BYTE_STREAM_SPLIT, not hadoop-config-reachable in 1.16) —
        // refuse rather than write a codec that silently isn't there
        require(ok, s"${t.name}: $kind codec on $c requires an integral/" +
          s"time/string/binary column (got ${t.schema(c).dataType.simpleString})")
      }
    }
    t.semantics match {
      case agg @ Aggregating(keys, stateCols, kinds) =>
        // the merged read view is groupBy(keys).agg(union(states)) — a
        // column outside both lists would be silently dropped there, and
        // the declared order is what read() re-emits
        require(t.schema.fieldNames.toSeq == keys ++ stateCols,
          s"${t.name}: Aggregating schema must be exactly keys ++ stateCols " +
            s"(got ${t.schema.fieldNames.toSeq}, want ${keys ++ stateCols})")
        // per-kind physical-type contract, checked at CREATE so a
        // mis-typed state column fails loudly here, not as an opaque
        // merge error mid-append
        import org.apache.spark.sql.types._
        kinds.keys.foreach(c => require(stateCols.contains(c),
          s"${t.name}: stateKinds names $c, which is not a state column"))
        stateCols.foreach { c =>
          val dt = t.schema(c).dataType
          agg.baseKindOf(c) match {
            case "hll" | "kll" =>
              require(dt == BinaryType,
                s"${t.name}: ${agg.kindOf(c)} state column $c must be " +
                  s"BINARY (got ${dt.simpleString})")
            case "avg" =>
              val ok = dt match {
                case StructType(Array(StructField("sum", DoubleType, _, _),
                                      StructField("cnt", LongType, _, _))) => true
                case _ => false
              }
              require(ok, s"${t.name}: avg state column $c must be " +
                s"STRUCT<sum: DOUBLE, cnt: BIGINT> " +
                s"(got ${dt.simpleString})")
            case "sum" =>
              // BIGINT/DOUBLE only: Spark's sum() of those returns the
              // same type, so the merged column keeps the declared type
              // (sum of INT would silently widen the schema to BIGINT)
              require(dt == LongType || dt == DoubleType,
                s"${t.name}: sum state column $c must be BIGINT or " +
                  s"DOUBLE (got ${dt.simpleString})")
            case "min" | "max" =>
              val ok = dt match {
                case _: NumericType | StringType | DateType |
                     TimestampType | TimestampNTZType => true
                case _ => false
              }
              require(ok, s"${t.name}: ${agg.kindOf(c)} state column $c " +
                s"must be an orderable scalar (got ${dt.simpleString})")
            case "argmax" =>
              val ok = dt match {
                case s: StructType if s.fields.nonEmpty =>
                  s.fields.head.dataType match {
                    case _: NumericType | StringType | DateType |
                         TimestampType | TimestampNTZType => true
                    case _ => false
                  }
                case _ => false
              }
              require(ok, s"${t.name}: argmax state column $c must be a " +
                "STRUCT whose first field is the orderable value " +
                s"(got ${dt.simpleString})")
            case "topk" =>
              require(agg.kindParamOf(c).exists(_ > 0),
                s"${t.name}: topk state kind needs a capacity " +
                  s"(declare topk:N), got ${agg.kindOf(c)}")
              val ok = dt match {
                case MapType(StringType, LongType, _) => true
                case _ => false
              }
              require(ok, s"${t.name}: topk state column $c must be " +
                s"MAP<STRING, BIGINT> (got ${dt.simpleString})")
            case other => throw new IllegalArgumentException(
              s"${t.name}: unknown state kind $other for column $c " +
                "(supported: hll, kll, avg, sum, min, max, argmax, topk:N)")
          }
        }
      case ReplacingDedup(_, _, Some(isDel)) =>
        import org.apache.spark.sql.types._
        require(t.schema.fieldNames.contains(isDel),
          s"${t.name}: is_deleted column $isDel is not in the schema")
        require(Seq[DataType](ByteType, ShortType, IntegerType, LongType)
            .contains(t.schema(isDel).dataType),
          s"${t.name}: is_deleted column $isDel must be integral " +
            s"(got ${t.schema(isDel).dataType.simpleString})")
      case Collapsing(keys, sign, version) =>
        import org.apache.spark.sql.types._
        (keys :+ sign :+ version).foreach(c =>
          require(t.schema.fieldNames.contains(c),
            s"${t.name}: Collapsing column $c is not in the schema"))
        require(Seq[DataType](ByteType, ShortType, IntegerType, LongType)
            .contains(t.schema(sign).dataType),
          s"${t.name}: Collapsing sign column $sign must be integral " +
            s"(got ${t.schema(sign).dataType.simpleString})")
      case JoinAny(keys) =>
        keys.foreach(c => require(t.schema.fieldNames.contains(c),
          s"${t.name}: Join key column $c is not in the schema"))
        val vals = t.schema.fieldNames.filterNot(keys.contains)
        require(vals.nonEmpty,
          s"${t.name}: Join table needs at least one non-key column " +
            "(joinGet must have something to return)")
        // the ANY fold is min-of-struct over the value tuple — every
        // value column needs an ordering, and declaring an unorderable
        // one (map, unsortable udt) must fail HERE, not executor-side
        // after data is durably written (the bloom indexCols lesson)
        vals.foreach { c =>
          val dt = t.schema(c).dataType
          require(org.apache.spark.sql.catalyst.expressions.RowOrdering
              .isOrderable(dt),
            s"${t.name}: Join value column $c is ${dt.simpleString}, " +
              "which has no ordering — the deterministic ANY fold " +
              "requires orderable value columns")
        }
      case _ => ()
    }
    // constraints + materialized columns must RESOLVE at declaration —
    // an unparseable/non-boolean constraint or a materialized expression
    // referencing a missing column would otherwise fail executor-side on
    // the first insert, after staging work is already done.
    // Resolution is checked against an empty frame of the schema: plan
    // analysis only, no job runs.
    if (t.constraints.nonEmpty || t.materializedCols.nonEmpty) {
      import org.apache.spark.sql.types._
      t.materializedCols.foreach { case (c, _) =>
        require(t.schema.fieldNames.contains(c),
          s"${t.name}: MATERIALIZED column $c is not in the schema")
      }
      val matSet = t.materializedCols.map(_._1).toSet
      val baseSchema = StructType(t.schema.fields.filterNot(f =>
        matSet.contains(f.name)))
      val base = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], baseSchema)
      t.materializedCols.foreach { case (c, e) =>
        // resolves over the BASE columns only: materialized-referencing-
        // materialized would make insert evaluation order-dependent
        val dt = try base.select(expr(e)).schema.head.dataType
          catch { case scala.util.control.NonFatal(ex) =>
            throw new IllegalArgumentException(
              s"${t.name}: MATERIALIZED $c expression '$e' does not " +
                s"resolve over the base columns: ${ex.getMessage}") }
        require(org.apache.spark.sql.catalyst.expressions.Cast
            .canCast(dt, t.schema(c).dataType),
          s"${t.name}: MATERIALIZED $c expression '$e' has type " +
            s"${dt.simpleString}, not castable to declared " +
            s"${t.schema(c).dataType.simpleString}")
      }
      val full = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], t.schema)
      t.constraints.foreach { case (cn, ce) =>
        val dt = try full.select(expr(ce)).schema.head.dataType
          catch { case scala.util.control.NonFatal(ex) =>
            throw new IllegalArgumentException(
              s"${t.name}: CONSTRAINT $cn expression '$ce' does not " +
                s"resolve: ${ex.getMessage}") }
        require(dt == BooleanType,
          s"${t.name}: CONSTRAINT $cn expression '$ce' is " +
            s"${dt.simpleString}, not boolean")
      }
    }
    // `DEFAULT expr` columns (the expression rides in field metadata, key
    // "chDefault"): validated like MATERIALIZED (see [[checkDefault]])
    t.schema.fields.filter(_.metadata.contains("chDefault")).foreach(f =>
      checkDefault(t, f.name, f.metadata.getString("chDefault"), t.name))
    t
  }

  /** A column DEFAULT must resolve over the PLAIN columns — neither
    * defaulted nor MATERIALIZED, nor the column itself: a default
    * referencing another DEFAULT column would make the insert fill
    * order-dependent, and one referencing a MATERIALIZED column would
    * fail at insert, where defaults fill BEFORE materialization — and
    * cast to the declared type. Plan analysis over an empty frame, no job.
    */
  private def checkDefault(t: TableDef, c: String, e: String,
                           who: String): Unit = {
    val excluded = t.defaults.keySet ++ t.materializedCols.map(_._1) + c
    val base = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(t.schema.fields.filterNot(f => excluded(f.name))))
    val dt = try base.select(expr(e)).schema.head.dataType
      catch { case scala.util.control.NonFatal(ex) =>
        throw new IllegalArgumentException(
          s"$who: DEFAULT $c expression '$e' does not resolve over the " +
            "plain columns (defaults referencing other DEFAULT or " +
            "MATERIALIZED columns are refused — the fill would be " +
            s"evaluation-order-dependent): ${ex.getMessage}") }
    require(org.apache.spark.sql.catalyst.expressions.Cast
        .canCast(dt, t.schema(c).dataType),
      s"$who: DEFAULT $c expression '$e' has type ${dt.simpleString}, " +
        s"not castable to declared ${t.schema(c).dataType.simpleString}")
  }

  // ---- the definition in the log (ATTACH TABLE analog) -----------------
  //
  // ClickHouse stores each table's definition beside its data and ATTACH
  // re-registers it from disk. Here every log entry holds the definition
  // ([[TableDefJson]]): a definition change is a commit like any other,
  // so a read or an append in another process takes it from the head it
  // opens anyway, and [[attach]] reconstructs the TableDef from the path.

  /** `t` with the definition entry `e` holds (if any) under `t`'s
    * registered name.
    */
  private def defOf(t: TableDef, e: LogEntry): TableDef = e.table.fold(t)(_.copy(name = t.name))

  /** `name`'s log, its head and the definition the head holds, which
    * replaces a registration another process's ALTER made stale.
    */
  private def current(name: String): (TableDef, TableLog, LogEntry) = {
    val reg = get(name)
    val l = log(reg)
    val h = l.head()
    val t = defOf(reg, h)
    if (t != reg) tables.replace(name, reg, t)
    // a table with projections needs the two rules in the session, once
    if (t.projections.nonEmpty) graft.plans.ProjectionRules.install(spark)
    (t, l, h)
  }

  /** The one definition change: under the table's write lock, `change`
    * maps the head's definition to the new one, which is validated as
    * [[createTable]] validates, published in an entry with the same files
    * and then registered under its name. `change` runs again when a
    * concurrent commit takes the log position.
    */
  private def alter(name: String)(change: TableDef => TableDef): TableDef =
    writeLock(name).synchronized {
      val t = get(name)
      var out = t
      log(t).commit(name) { h =>
        out = validate(change(defOf(t, h)))
        if (h.table.contains(out)) None
        else Some(h.copy(table = Some(out), projections = companionsUnder(h, h.table, out)))
      }
      tables.put(out.name, out)
      out
    }

  /** Re-register a table from the definition its log head holds — the
    * ATTACH TABLE analog (a table an older build wrote is adopted first,
    * [[TableLog.recover]]). Refuses a name collision with a table
    * registered at a DIFFERENT path — silently returning the other
    * table's def would leave every read pointed at the wrong storage.
    */
  def attach(path: String): TableDef = {
    val d = TableLog.recover(fs(path), path, None).table.getOrElse(
      throw new IllegalArgumentException(s"attach: no table definition under $path"))
    tables.get(d.name).foreach(existing => require(existing.path == path,
      s"attach: table ${d.name} is already registered at ${existing.path}; " +
        s"refusing to shadow it with $path (detach first)"))
    createTable(d)
  }

  /** Forget a table's registration, keeping its storage — DETACH TABLE.
    * [[attach]] (or a fresh createTable with the same def) re-registers.
    */
  def detach(name: String): Unit = tables.remove(name)

  /** `DROP TABLE [IF EXISTS]` — deregister AND delete storage (the
    * difference from [[detach]], exactly CH's DETACH-vs-DROP split): the
    * table directory and its detached partitions. Access-control registries (row
    * policies / column grants / column masks) are removed too — detach
    * keeps them (re-attach of the SAME table must keep its policies),
    * but after a drop they would silently govern an unrelated future
    * table created under the same name. Returns whether a table was
    * dropped (false only under `ifExists`).
    */
  def dropTable(name: String, ifExists: Boolean = false): Boolean =
    tables.get(name) match {
      case None =>
        if (!ifExists) throw new NoSuchElementException(s"table $name")
        false
      case Some(t) =>
        writeLock(name).synchronized {
          detach(name)
          rowPolicies.remove(name)
          columnGrants.remove(name)
          columnMasks.remove(name)
          fs(t).delete(new org.apache.hadoop.fs.Path(t.path), true)
          fs(t).delete(detachedRoot(t), true)
        }
        true
    }

  /** `RENAME TABLE from TO to` — re-registration under the new name;
    * storage stays at its path (the log records the new name, so a later
    * ATTACH of that path resolves to it — CH renames the metadata object
    * the same way).
    * Refused while the table participates in an attached MV cascade or a
    * refreshable view (those registries key on the OLD name — a silent
    * rename would silently stop maintaining them).
    */
  def renameTable(from: String, to: String): Unit =
    writeLock(from).synchronized {
      val t = get(from)
      require(!tables.contains(to),
        s"renameTable: $to is already registered")
      requireNameFree(from, "renameTable")
      def move[V](m: scala.collection.concurrent.TrieMap[String, V]): Unit =
        m.remove(from).foreach(v => m.put(to, v))
      // access control FOLLOWS the table: a rename that silently dropped
      // row policies / column grants would un-filter readAs under the
      // new name — the one registry class that must never detach quietly
      move(rowPolicies); move(columnGrants); move(columnMasks)
      tables.remove(from)
      tables.put(to, t.copy(name = to))
      alter(to)(_.copy(name = to))
    }

  // a name-keyed registration (MV cascade, refreshable view) would keep
  // pointing at the OLD name after a rename/exchange — silent
  // maintenance loss; refuse loudly instead
  private def requireNameFree(name: String, verb: String): Unit = {
    val inMv = attachedMvs.contains(name) ||
      attachedMvs.values.exists(_.exists(_.target == name))
    require(!inMv, s"$verb: $name participates in a materialized view " +
      "cascade — drop the MV first (its registration keys on the name)")
    require(!refreshableViews.values.exists(_._1.target == name),
      s"$verb: $name is a refreshable view target — drop the view first")
  }

  /** `EXCHANGE TABLES a AND b` — atomically swap two registrations (CH's
    * zero-downtime swap idiom: stage a rebuilt table beside the live one,
    * exchange, drop the old). Locks taken in name order so concurrent
    * exchanges can never deadlock; both logs record the new names so
    * ATTACH resolves them.
    */
  def exchangeTables(a: String, b: String): Unit = {
    require(a != b, s"exchangeTables: $a AND $b are the same table")
    val Seq(l1, l2) = Seq(a, b).sorted.map(writeLock)
    l1.synchronized { l2.synchronized {
      val ta = get(a)
      val tb = get(b)
      requireNameFree(a, "exchangeTables")
      requireNameFree(b, "exchangeTables")
      def swap[V](m: scala.collection.concurrent.TrieMap[String, V]): Unit = {
        val va = m.remove(a); val vb = m.remove(b)
        va.foreach(m.put(b, _)); vb.foreach(m.put(a, _))
      }
      // access control follows the names (the renameTable doc)
      swap(rowPolicies); swap(columnGrants); swap(columnMasks)
      tables.put(a, tb.copy(name = a))
      tables.put(b, ta.copy(name = b))
      alter(a)(_.copy(name = a))
      alter(b)(_.copy(name = b))
    }}
  }

  /** `ALTER TABLE name ADD COLUMN field DEFAULT default` — widens the
    * declared schema in place. Old parquet files simply lack the column;
    * the declared read schema surfaces it as null and the stored default
    * fills it, so readers see a fully-populated column immediately while
    * storage is rewritten lazily (exactly ClickHouse's ADD COLUMN: a
    * metadata-only change, old parts materialize the default on merge).
    * New appends materialize at insert time: an OMITTED column fills with
    * the default (ClickHouse INSERT semantics), and until the first
    * compact materializes old parts, NULLs in a carried column fill too
    * (see [[fillOmittedDefaults]] — the read-time coalesce cannot tell
    * old parts from new, so pre-materialization the column cannot hold
    * NULL; afterwards it is a plain nullable column). The value becomes
    * the column's declared DEFAULT (a null one reads `DEFAULT NULL`), so
    * a later MODIFY … DEFAULT also changes what old parts read, as in
    * ClickHouse.
    *
    * The default is validated against the declared type up front — a
    * default the type can't hold would otherwise silently retype the
    * read-side column and the next compact would write that wrong type
    * into storage, corrupting the table against its own schema.
    */
  def addColumn(name: String, field: StructField, default: Any): Unit =
    alter(name) { t =>
      require(!t.schema.fieldNames.contains(field.name),
        s"addColumn($name): column ${field.name} already exists")
      // a name that is still a PHYSICAL stored name — the pre-rename name
      // of a renamed column, or a dropped column not yet compacted away —
      // would read old files' stored values into the new column
      require(!stored(t).contains(field.name),
        s"addColumn($name): ${field.name} is still a stored column name " +
          s"in un-rewritten files (compact first)")
      // the create-time engine invariants must hold across ALTER too: a
      // JoinAny value column joins the min-of-struct fold, so an
      // unorderable type added here would brick every subsequent
      // read/append/compact executor-side — the exact failure mode the
      // CREATE check exists to prevent
      if (t.semantics.isInstanceOf[JoinAny])
        require(org.apache.spark.sql.catalyst.expressions.RowOrdering
            .isOrderable(field.dataType),
          s"addColumn($name): ${field.dataType.simpleString} has no " +
            "ordering — Join value columns must stay orderable")
      // driver-side eval of the raw Cast(Literal) pair: an uncastable
      // default fails NOW, not as a silent null (or worse, a coerced
      // column type) at read
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
      val inLit = Literal(default)
      val evaluated = Cast(inLit, field.dataType, Some("UTC")).eval(null)
      require(default == null || evaluated != null,
        s"addColumn($name): default $default does not fit ${field.dataType}")
      // ...and a TRUNCATING numeric default fails too: the non-ANSI Cast
      // happily stores 3 for a 3.9 default into an int column — round-trip
      // the stored value back to the caller's literal type and require
      // equality, so what is stored is exactly what the caller wrote
      if (default != null && inLit.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]) {
        val back = Cast(Literal(evaluated, field.dataType), inLit.dataType,
          Some("UTC")).eval(null)
        require(back == inLit.value,
          s"addColumn($name): default $default would be stored as $evaluated " +
            s"(lossy cast to ${field.dataType})")
      }
      // the literal as DDL spells it (`7`, not Spark's `7L`): SHOW CREATE
      // renders it and a re-parse keeps it
      val text = default match {
        case n: java.lang.Number if !n.doubleValue.isNaN &&
          !n.doubleValue.isInfinite => n.toString
        case _ => inLit.sql
      }
      t.copy(
        schema = StructType(t.schema.fields :+ withDefault(field, Some(text))),
        backfillCols = t.backfillCols + field.name)
    }

  /** `ALTER TABLE … MODIFY COLUMN c DEFAULT expr` / `… REMOVE DEFAULT` —
    * declare, replace, or retire a column's INSERT default in place.
    * Metadata-only: stored rows are untouched; the new declaration
    * applies to future inserts (including the text doors' per-row absent
    * fields) and to old parts an ADD COLUMN left backfilled.
    * REMOVE DEFAULT also retires the column's pending READ default, so
    * old parts' missing values read back as NULL from that point — the
    * declaration is gone, nothing should keep filling.
    */
  def modifyColumnDefault(name: String, column: String,
                          defaultExprSql: Option[String]): Unit =
    alter(name) { t =>
      require(t.schema.fieldNames.contains(column),
        s"modifyColumnDefault($name): no such column $column")
      require(!t.materializedCols.exists(_._1 == column),
        s"modifyColumnDefault($name): $column is MATERIALIZED — it has " +
          "no insert default to modify")
      defaultExprSql.foreach(e =>
        checkDefault(t, column, e, s"modifyColumnDefault($name)"))
      t.copy(
        schema = StructType(t.schema.fields.map(f =>
          if (f.name == column) withDefault(f, defaultExprSql) else f)),
        backfillCols =
          if (defaultExprSql.isEmpty) t.backfillCols - column
          else t.backfillCols)
    }

  // a field with its DEFAULT declaration set or removed
  private def withDefault(f: StructField, e: Option[String]): StructField =
    f.copy(metadata = e.fold(metadataWithout(f.metadata, "chDefault"))(s =>
      new MetadataBuilder().withMetadata(f.metadata)
        .putString("chDefault", s).build()))

  // MetadataBuilder cannot remove a key — round-trip through its JSON
  private def metadataWithout(m: org.apache.spark.sql.types.Metadata,
                              key: String): org.apache.spark.sql.types.Metadata = {
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(m.json).removeField { case (n, _) => n == key }
    org.apache.spark.sql.types.Metadata.fromJson(
      JsonMethods.compact(JsonMethods.render(j)))
  }

  /** Key/engine columns — every column a merge view, layout, or skip
    * index is keyed by. Renaming or dropping one is refused, matching
    * ClickHouse's "cannot rename/drop key column".
    */
  private def keyCols(t: TableDef): Set[String] =
    (t.sortKeys ++ t.partitionKeys ++ t.indexCols ++ t.minmaxCols ++
      t.tokenIndexCols ++ t.setIndexCols.map(_._1) ++
      t.fullTextCols.map(_._1) ++ t.annIndex.map(_.column).toSeq ++
      (t.semantics match {
        case ReplacingDedup(keys, v, isDel) => (keys :+ v) ++ isDel
        case Summing(keys, cols) => keys ++ cols
        case Aggregating(keys, cols, _) => keys ++ cols
        case Collapsing(keys, sign, version) => keys :+ sign :+ version
        case JoinAny(keys) => keys
        case Append | NullEngine => Nil
      })).toSet

  /** Physical column names that old, un-rewritten files may still carry
    * beyond the declared schema: pre-rename stored names plus
    * dropped-pending names. No NEW column may take one of these names
    * until a compact rewrites storage — the read path could not tell the
    * new column's data from the old files' stored values.
    */
  private def stored(t: TableDef): Set[String] =
    t.renames.values.toSet ++ t.droppedCols

  /** `ALTER TABLE name RENAME COLUMN from TO to` — metadata-only, like
    * ClickHouse: the declared schema renames in place, old parquet files
    * keep the old physical name, and the read path maps them under the new
    * name (see [[TableDef.renames]]) until the next compact/mutation rewrites
    * storage with the new name and retires the mapping. Key columns (sort/
    * partition/semantics/index keys) are refused, matching ClickHouse's
    * "cannot rename key column" — every downstream merge view and layout
    * decision is keyed by name.
    */
  def renameColumn(name: String, from: String, to: String): Unit =
    alter(name) { t =>
      require(t.schema.fieldNames.contains(from),
        s"renameColumn($name): no such column $from")
      require(!t.schema.fieldNames.contains(to),
        s"renameColumn($name): column $to already exists")
      require(!stored(t).contains(to),
        s"renameColumn($name): $to is still a stored column name in " +
          s"un-rewritten files (compact first)")
      require(!keyCols(t).contains(from),
        s"renameColumn($name): $from is a key/engine column")
      // a column can be renamed AGAIN before materialization: collapse the
      // chain so the mapping always points at the PHYSICAL stored name
      val physical = t.renames.getOrElse(from, from)
      t.copy(
        schema = StructType(t.schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f)),
        renames = t.renames - from + (to -> physical),
        // a pending backfill keeps filling under the new name
        backfillCols =
          if (t.backfillCols(from)) t.backfillCols - from + to
          else t.backfillCols,
        // the declared codec follows the column (CH: codecs are part of
        // the column declaration, renaming keeps them)
        columnCodecs = t.columnCodecs.map {
          case (`from`, k) => (to, k); case p => p
        })
    }

  /** `ALTER TABLE name DROP COLUMN column` — metadata-only: the declared
    * schema narrows, readers stop projecting the column immediately
    * (Spark's parquet reader ignores file columns absent from the read
    * schema), and the next compact rewrites storage without it. Key
    * columns are refused for the same reason as [[renameColumn]].
    */
  def dropColumn(name: String, column: String): Unit =
    alter(name) { t =>
      require(t.schema.fieldNames.contains(column),
        s"dropColumn($name): no such column $column")
      require(t.schema.fields.length > 1,
        s"dropColumn($name): cannot drop the only column")
      require(!keyCols(t).contains(column),
        s"dropColumn($name): $column is a key/engine column")
      // JoinAny lists only its KEYS in keyCols (values are legitimately
      // droppable one by one) — but dropping the LAST value column would
      // violate the CREATE-time "joinGet must have something to return"
      // invariant and leave the fold grouping on nothing
      t.semantics match {
        case JoinAny(keys) =>
          require(t.schema.fieldNames.exists(c =>
              !keys.contains(c) && c != column),
            s"dropColumn($name): $column is the Join table's only value " +
              "column (joinGet must have something to return)")
        case _ => ()
      }
      // storage may carry the declared name (post-rename appends, or no
      // rename) AND the pre-rename physical name — record both, so
      // neither can be re-introduced before a compact clears the files
      t.copy(
        schema = StructType(t.schema.fields.filterNot(_.name == column)),
        columnCodecs = t.columnCodecs.filterNot(_._1 == column),
        droppedCols = t.droppedCols + column + t.renames.getOrElse(column, column),
        renames = t.renames - column,
        backfillCols = t.backfillCols - column)
    }

  /** Lossless type widenings Spark's parquet reader performs natively
    * (probed on 4.1: int32→int64, integral→double, float→double, decimal
    * precision/scale growth, date→timestamp_ntz — long→double and
    * anything→string are refused by the reader, so they are refused
    * here). This is what makes [[modifyColumnType]] metadata-only: old
    * files keep their narrow physical type and the scan widens in place.
    */
  private def widens(from: org.apache.spark.sql.types.DataType,
                     to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def rank(t: DataType): Int = t match {
      case ByteType => 1; case ShortType => 2
      case IntegerType => 3; case LongType => 4; case _ => -1
    }
    def intDigits(t: DataType): Int = t match {
      case ByteType => 3; case ShortType => 5
      case IntegerType => 10; case LongType => 19; case _ => Int.MaxValue
    }
    (from, to) match {
      case (f, t) if rank(f) > 0 && rank(t) > 0 => rank(f) <= rank(t)
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (FloatType, DoubleType) => true
      case (f, d: DecimalType) if rank(f) > 0 && rank(f) < 4 =>
        d.precision - d.scale >= intDigits(f) // integral digits all fit
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale >= d1.scale &&
          d2.precision - d2.scale >= d1.precision - d1.scale
      case (DateType, TimestampNTZType) => true
      case _ => false
    }
  }

  /** `ALTER TABLE name MODIFY COLUMN column newType` — metadata-only for
    * the LOSSLESS widenings in [[widens]]: the declared schema widens in
    * place, old parquet files keep the narrow physical type (the scan
    * promotes natively), new appends write the wide type, and the next
    * compact materializes storage — nothing to track or retire.
    * Narrowing or lossy changes are refused loudly: ClickHouse runs those
    * as a full rewrite mutation; here the caller does the same thing
    * explicitly with [[mutate]] + a new table. Key/engine columns are
    * refused — layout and merge views are keyed by (name, type).
    */
  def modifyColumnType(name: String, column: String,
                       newType: org.apache.spark.sql.types.DataType): Unit =
    alter(name) { t =>
      require(t.schema.fieldNames.contains(column),
        s"modifyColumnType($name): no such column $column")
      val old = t.schema(column).dataType
      if (old == newType) t else {
        require(widens(old, newType),
          s"modifyColumnType($name): $old -> $newType is not a lossless " +
            s"widening (rewrite the table explicitly for narrowing casts)")
        require(!keyCols(t).contains(column),
          s"modifyColumnType($name): $column is a key/engine column")
        // a widening can invalidate a declared per-column codec (int→double
        // under delta: parquet has no FP delta) — refuse rather than carry
        // a codec the writer would silently drop
        t.columnCodecs.collectFirst {
          case (`column`, k @ ("delta" | "doubledelta")) => k
        }.foreach { k =>
          import org.apache.spark.sql.types._
          val ok = newType match {
            case ByteType | ShortType | IntegerType | LongType | DateType |
                 TimestampType | TimestampNTZType | StringType | BinaryType => true
            case _ => false
          }
          require(ok, s"modifyColumnType($name): $column declares codec $k, " +
            s"which does not apply to ${newType.simpleString}")
        }
        t.copy(schema = StructType(t.schema.fields.map(f =>
          if (f.name == column) f.copy(dataType = newType) else f)))
      }
    }

  /** `OPTIMIZE TABLE name FINAL DEDUPLICATE [BY by…]` — drops fully
    * duplicate rows (all columns) or rows duplicated on `by`, keeping one
    * arbitrary survivor per group, through the same crash-safe rewrite as
    * [[compact]]. ClickHouse semantics exactly: DEDUPLICATE is a merge-
    * time rewrite, not a declared engine — for declared dedup use
    * [[ReplacingDedup]].
    */
  def optimizeDeduplicate(name: String, by: Seq[String] = Nil): Unit = {
    by.foreach(c => require(get(name).schema.fieldNames.contains(c),
      s"optimizeDeduplicate($name): no such column $c"))
    mutate(name, df => if (by.isEmpty) df.dropDuplicates()
                       else df.dropDuplicates(by),
      if (by.isEmpty) "OPTIMIZE TABLE FINAL DEDUPLICATE"
      else s"OPTIMIZE TABLE FINAL DEDUPLICATE BY ${by.mkString(", ")}")
  }

  /** Fill backfilled columns' nulls with their declared defaults (old
    * parts only — see [[TableDef.backfillCols]] retirement).
    */
  private def applyDefaults(t: TableDef, df: DataFrame): DataFrame =
    t.defaults.filter { case (c, _) => t.backfillCols(c) }.foldLeft(df) {
      case (d, (c, e)) => d.withColumn(c, coalesce(col(c), expr(e)))
    }

  /** Insert-time default materialization: an OMITTED column is added, and
    * nulls in a CARRIED column also fill. The null-fill is load-bearing
    * for consistency, not convenience: the read path coalesces the whole
    * table while a column is backfilled (it cannot tell pre-ALTER parts
    * from new ones), so if an explicit NULL were stored verbatim it would
    * READ as the default and then be permanently materialized into the
    * default by the next compact — a silent rewrite of inserted data.
    * Filling at insert makes storage and reads agree at every point:
    * until the default is materialized the column simply cannot hold
    * NULL; after materialization (backfill retired) it behaves like
    * any nullable column, explicit NULLs included.
    */
  private def fillOmittedDefaults(t: TableDef, batch: DataFrame): DataFrame =
    t.defaults.foldLeft(batch) {
      case (d, (c, e)) if !d.columns.contains(c) => d.withColumn(c, expr(e))
      case (d, (c, e)) if t.backfillCols(c) =>
        d.withColumn(c, coalesce(col(c), expr(e)))
      case (d, _) => d
    }

  def get(name: String): TableDef =
    tables.getOrElse(name, throw new NoSuchElementException(s"table $name"))

  /** Whether `name` holds committed data: its log head lists a data
    * file. A table created, or only altered, but never written holds
    * none; read-before-write paths skip planning a scan of it.
    */
  def exists(name: String): Boolean =
    tables.contains(name) && log(get(name)).head().files.nonEmpty

  private def fs(path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def fs(t: TableDef): org.apache.hadoop.fs.FileSystem = fs(t.path)

  /** The table's commit log — the one record of its live files. */
  private def log(t: TableDef): TableLog = new TableLog(fs(t), t.path, t.partitionKeys)

  // ---- materialized views as insert triggers ---------------------------
  //
  // ClickHouse's CREATE MATERIALIZED VIEW … TO target is an INSERT
  // trigger: each inserted block is run through the view's SELECT and the
  // result is inserted into the target table — the MV never reads the
  // source's history (`POPULATE` is the separate backfill). Same contract
  // here: the transform sees exactly the inserted batch (defaults
  // applied, pre-merge — the block as inserted, not as stored), its
  // output is appended to the target through the target's own engine
  // semantics, and targets' own MVs trigger transitively (the cascade).
  // Combined with [[NullEngine]] this is the fan-out ingestion idiom;
  // on a storing table it is the rollup-maintenance idiom (a7's Summing
  // partials maintained by the engine instead of the caller).
  //
  // Failure contract — ClickHouse parity, documented not hidden: the base
  // insert commits first, then MVs run sequentially; a failing MV aborts
  // the remaining fan-out but never rolls back what already committed
  // (at-least-once per target under retries, exactly like the reference
  // engine). The registry is session-scoped (transforms are closures);
  // re-create MVs after attach(), as ClickHouse re-parses view DDL at
  // server start.

  private final case class MvDef(name: String, target: String,
                                 transform: DataFrame => DataFrame)

  private val attachedMvs =
    scala.collection.concurrent.TrieMap.empty[String, Vector[MvDef]]

  /** Attach materialized view `mvName` on `src`: every future append's
    * batch flows through `transform` into `target`. Cycles are refused at
    * creation (a cycle would make one insert recurse forever).
    */
  def createMaterializedView(src: String, mvName: String, target: String,
                             transform: DataFrame => DataFrame): Unit = {
    get(src); get(target)
    require(!attachedMvs.getOrElse(src, Vector.empty).exists(_.name == mvName),
      s"$src: materialized view $mvName already exists")
    def reaches(from: String, to: String, seen: Set[String]): Boolean =
      from == to || (!seen(from) &&
        attachedMvs.getOrElse(from, Vector.empty)
          .exists(m => reaches(m.target, to, seen + from)))
    require(!reaches(target, src, Set.empty),
      s"$src: materialized view $mvName would create an insert cycle " +
        s"($target reaches $src)")
    attachedMvs.updateWith(src) {
      case Some(v) => Some(v :+ MvDef(mvName, target, transform))
      case None => Some(Vector(MvDef(mvName, target, transform)))
    }
  }

  /** Detach materialized view `mvName` from `src`; false if absent. */
  def dropMaterializedView(src: String, mvName: String): Boolean = {
    val had = attachedMvs.getOrElse(src, Vector.empty).exists(_.name == mvName)
    attachedMvs.updateWith(src)(_.map(_.filterNot(_.name == mvName))
      .filter(_.nonEmpty))
    had
  }

  /** `system.tables`-style MV listing: (source, view, target). */
  def systemMaterializedViews(): DataFrame = {
    import spark.implicits._
    attachedMvs.toSeq.sortBy(_._1)
      .flatMap { case (src, mvs) => mvs.map(m => (src, m.name, m.target)) }
      .toDF("source", "view", "target")
  }

  // ---- refreshable materialized views ----------------------------------
  //
  // ClickHouse `CREATE MATERIALIZED VIEW … REFRESH EVERY n SECONDS`:
  // scheduled FULL recompute with an atomic swap — the reporting-rollup
  // workhorse for queries incremental maintenance can't express (joins,
  // window funnels). The commit rides the SAME crash-safe rewrite commit
  // as mutations ([[mutate]]), so a crashed refresh leaves the PRIOR contents fully
  // readable and never a half-written target; readers between refreshes
  // serve the last committed version atomically (CH's
  // APPEND-less refresh semantics). Time is an EXPLICIT argument
  // everywhere ([[QueryGovernor]]'s injectable-clock discipline) — the
  // caller's poll loop decides "now", so interval rollover is
  // deterministic for tests and replays. Registry is JVM-local server
  // state, like [[createMaterializedView]]'s.

  private final case class RefreshableDef(name: String, target: String,
      query: SparkSession => DataFrame, intervalMs: Long)
  private final class RefreshState {
    @volatile var lastRefreshMs: Long = -1L
    @volatile var refreshes: Long = 0L
    @volatile var lastError: String = ""
  }
  private val refreshableViews = scala.collection.concurrent.TrieMap
    .empty[String, (RefreshableDef, RefreshState)]

  /** Register refreshable view `viewName` materializing `query` into
    * `target` every `intervalMs` (logical) milliseconds. The query must
    * resolve NOW and match the target's declared shape (the
    * CHECK-constraint discipline: schema drift fails at CREATE, loudly,
    * not at the 3 a.m. refresh). Nothing materializes until the first
    * [[refreshView]] / [[refreshDueViews]]. The target belongs to the
    * view: appends to it are replaced by the next refresh, exactly like writing into a CH refreshable MV's target.
    */
  def createRefreshableView(viewName: String, target: String,
                            intervalMs: Long,
                            query: SparkSession => DataFrame): Unit = {
    val t = get(target)
    require(intervalMs > 0, s"$viewName: refresh interval must be positive")
    require(!refreshableViews.contains(viewName),
      s"refreshable view $viewName already exists")
    require(t.semantics != NullEngine,
      s"$viewName: ENGINE=Null discards data — nothing to refresh into")
    val shape = (sch: org.apache.spark.sql.types.StructType) =>
      sch.map(f => (f.name, f.dataType))
    val got = shape(query(spark).schema)
    val want = shape(t.schema)
    require(got == want,
      s"$viewName: query shape $got does not match target $target's $want")
    refreshableViews.put(viewName,
      (RefreshableDef(viewName, target, query, intervalMs), new RefreshState))
  }

  /** Drop refreshable view `viewName` (target table and its last
    * refreshed contents stay); false if absent.
    */
  def dropRefreshableView(viewName: String): Boolean =
    refreshableViews.remove(viewName).isDefined

  /** `SYSTEM REFRESH VIEW` — recompute NOW and swap atomically. `nowMs`
    * stamps the ledger (explicit clock). A failed recompute records the
    * error in `system.view_refreshes` and rethrows; the target keeps its
    * prior contents.
    */
  def refreshView(viewName: String,
                  nowMs: Long = System.currentTimeMillis()): Unit = {
    val (d, st) = refreshableViews.getOrElse(viewName,
      throw new IllegalArgumentException(s"no refreshable view $viewName"))
    try {
      val result = d.query(spark)
      // a target that has never materialized data takes the append path
      // (mutate on a data-less table validates but writes nothing);
      // every later refresh is a full copy-on-write rewrite
      if (read(d.target).isEmpty) append(d.target, result)
      else mutate(d.target, _ => result, s"REFRESH VIEW $viewName")
      st.lastRefreshMs = nowMs
      st.refreshes += 1
      st.lastError = ""
    } catch {
      case e: Throwable =>
        st.lastError = Option(e.getMessage).getOrElse(e.getClass.getName)
        throw e
    }
  }

  /** Interval semantics: refresh every registered view whose interval
    * has elapsed at `nowMs` (or that never refreshed). Returns the
    * refreshed view names — the caller's scheduler loop drives this with
    * its own clock. One failing view does not starve the others.
    */
  def refreshDueViews(nowMs: Long = System.currentTimeMillis()): Seq[String] =
    refreshableViews.toSeq.sortBy(_._1).flatMap { case (n, (d, st)) =>
      val due = st.lastRefreshMs < 0 || nowMs - st.lastRefreshMs >= d.intervalMs
      if (!due) None
      else try { refreshView(n, nowMs); Some(n) }
      catch { case scala.util.control.NonFatal(_) => None } // recorded in lastError
    }

  /** `system.view_refreshes` analog: one row per refreshable view with
    * its schedule state at `nowMs` — staleness is data, not a log line.
    */
  def systemViewRefreshes(nowMs: Long = System.currentTimeMillis()): DataFrame = {
    import spark.implicits._
    refreshableViews.toSeq.sortBy(_._1).map { case (n, (d, st)) =>
      val next = if (st.lastRefreshMs < 0) nowMs
                 else st.lastRefreshMs + d.intervalMs
      (n, d.target, d.intervalMs, st.lastRefreshMs, next, st.refreshes,
        st.lastError,
        st.lastRefreshMs < 0 || nowMs - st.lastRefreshMs >= d.intervalMs)
    }.toDF("view", "target", "interval_ms", "last_refresh_ms",
      "next_due_ms", "refreshes", "last_error", "is_stale")
  }

  // ---- row policies ----------------------------------------------------
  //
  // CH `CREATE ROW POLICY name ON table FOR SELECT USING pred TO users`:
  // permissive policies, OR-combined per user; the moment ANY policy
  // exists on a table, users named by none of its policies read ZERO rows
  // (the restrictive-default CH documents). JVM-local like the MV
  // registry — policies are server state, not table state, so they do not
  // travel in the table log.

  private final case class RowPolicyDef(name: String, users: Set[String],
                                        predicate: String)
  private val rowPolicies =
    scala.collection.concurrent.TrieMap.empty[String, Vector[RowPolicyDef]]

  /** Register policy `policyName` on `table`: `users` may read rows
    * matching `predicate` (boolean SQL over the table schema, validated
    * HERE — the constraints lesson: never executor-side at read time).
    */
  def createRowPolicy(table: String, policyName: String,
                      users: Seq[String], predicate: String): Unit = {
    val t = get(table)
    require(users.nonEmpty, s"$table: row policy $policyName names no users")
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], t.schema)
    val dt = try probe.select(expr(predicate)).schema.head.dataType
      catch { case scala.util.control.NonFatal(ex) =>
        throw new IllegalArgumentException(
          s"$table: row policy $policyName predicate '$predicate' does " +
            s"not resolve: ${ex.getMessage}") }
    require(dt == org.apache.spark.sql.types.BooleanType,
      s"$table: row policy $policyName predicate '$predicate' is " +
        s"${dt.simpleString}, not boolean")
    // the duplicate-name check and the append must be one atomic step
    // (two racing creates would otherwise both pass the check and leave
    // two same-name policies that dropRowPolicy removes together) —
    // policy DDL is rare, a monitor is the obviously-correct shape
    rowPolicies.synchronized {
      require(!rowPolicies.getOrElse(table, Vector.empty)
          .exists(_.name == policyName),
        s"$table: row policy $policyName already exists")
      rowPolicies.updateWith(table) {
        case Some(v) => Some(v :+ RowPolicyDef(policyName, users.toSet, predicate))
        case None => Some(Vector(RowPolicyDef(policyName, users.toSet, predicate)))
      }
    }
  }

  /** Drop a row policy; false if absent. */
  def dropRowPolicy(table: String, policyName: String): Boolean = {
    val had = rowPolicies.getOrElse(table, Vector.empty)
      .exists(_.name == policyName)
    rowPolicies.updateWith(table)(_.map(_.filterNot(_.name == policyName))
      .filter(_.nonEmpty))
    had
  }

  /** Read `table` as `user`: the engine-merged view filtered by the OR of
    * the user's policies — a plain Catalyst predicate on top of read(),
    * so it pushes into the scan like any filter (policy enforcement costs
    * nothing extra at 100 TB; it PRUNES). A policied table with no policy
    * for this user reads empty; a policy-free table reads fully.
    */
  def readAs(table: String, user: String): DataFrame = {
    val base = read(table)
    // a policy may address a ROLE: the user's principal set is the user
    // name plus every role granted to them (round 13 — CREATE ROLE /
    // GRANT role TO user as text)
    val prin = principalsOf(user)
    val rowFiltered = rowPolicies.get(table) match {
      case None => base
      case Some(pols) =>
        val mine = pols.filter(_.users.exists(prin))
        if (mine.isEmpty) base.filter(lit(false))
        else base.filter(mine.map(p => expr(p.predicate)).reduce(_ || _))
    }
    // rows first (policy predicates see real values), then the
    // column-grant/mask rewrite (doc at applyColumnPolicies)
    applyColumnPolicies(table, user, rowFiltered)
  }

  // ---- users & roles (round 13) ----------------------------------------
  //
  // CH `CREATE USER` / `CREATE ROLE` / `GRANT role TO user`: a
  // single-process engine has no authentication layer (every caller IS
  // the server), so a user here is a NAME the policy registries address
  // and a role is a named user SET — policies and grants naming a role
  // cover every user granted it, expanded at read time through
  // [[principalsOf]]. IDENTIFIED clauses parse and are noted as no-ops
  // (there is no login to authenticate). JVM-local server state, like
  // the MV/policy registries.

  private val userRegistry =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val roleRegistry =
    scala.collection.concurrent.TrieMap.empty[String, Set[String]]

  def createUser(name: String, auth: String = "no_password",
                 ifNotExists: Boolean = false): Unit = {
    val had = userRegistry.putIfAbsent(name, auth).isDefined
    require(!had || ifNotExists, s"user $name already exists")
  }

  def dropUser(name: String, ifExists: Boolean = false): Unit = {
    val had = userRegistry.remove(name).isDefined
    roleRegistry.keys.foreach(r =>
      roleRegistry.updateWith(r)(_.map(_ - name)))
    require(had || ifExists, s"DROP USER $name: no such user")
  }

  def createRole(name: String, ifNotExists: Boolean = false): Unit = {
    val had = roleRegistry.putIfAbsent(name, Set.empty).isDefined
    require(!had || ifNotExists, s"role $name already exists")
  }

  def dropRole(name: String, ifExists: Boolean = false): Unit =
    require(roleRegistry.remove(name).isDefined || ifExists,
      s"DROP ROLE $name: no such role")

  /** `GRANT role[, role…] TO user[, user…]`. */
  def grantRoles(rs: Seq[String], us: Seq[String]): Unit = rs.foreach { r =>
    require(roleRegistry.contains(r),
      s"GRANT $r: no such role — CREATE ROLE $r first")
    roleRegistry.updateWith(r)(_.map(_ ++ us))
  }

  def revokeRoles(rs: Seq[String], us: Seq[String]): Unit = rs.foreach { r =>
    require(roleRegistry.contains(r),
      s"REVOKE $r: no such role")
    roleRegistry.updateWith(r)(_.map(_ -- us))
  }

  /** The names a policy/grant may address that cover `user`: the user
    * itself plus every role granted to them.
    */
  private def principalsOf(user: String): Set[String] =
    roleRegistry.collect {
      case (r, members) if members.contains(user) => r
    }.toSet + user

  /** `system.users` / `system.roles`: the registries. */
  def systemUsers(): DataFrame = {
    import spark.implicits._
    userRegistry.toSeq.sorted.toDF("name", "auth_type")
  }

  def systemRoles(): DataFrame = {
    import spark.implicits._
    roleRegistry.toSeq.sortBy(_._1)
      .map { case (r, ms) => (r, ms.toSeq.sorted.mkString(",")) }
      .toDF("role", "granted_to")
  }

  /** `system.row_policies`: (table, policy, users, predicate). */
  def systemRowPolicies(): DataFrame = {
    import spark.implicits._
    rowPolicies.toSeq.sortBy(_._1)
      .flatMap { case (t, ps) => ps.map(p =>
        (t, p.name, p.users.toSeq.sorted.mkString(","), p.predicate)) }
      .toDF("table", "policy", "users", "predicate")
  }

  // ---- column-level access control -------------------------------------
  //
  // CH `GRANT SELECT(c1, c2) ON t TO user` + column masks: per-user
  // column visibility composed into [[readAs]] BESIDE row policies (rows
  // filter first — policy predicates see real values — then columns
  // rewrite). An ungranted column rewrites to a typed NULL literal and a
  // masked column to its mask expression cast to the declared type, so
  // the projection is schema-stable for every user AND pruning still
  // pushes: a query touching only granted columns never reads the
  // ungranted ones from storage (the rewrite is a plain select list —
  // Catalyst prunes literal-valued columns out of the scan). Restrictive
  // default, like row policies: the moment ANY grant exists on a table,
  // a user named by no grant reads every column masked. JVM-local server
  // state, like the MV/policy registries.

  private val columnGrants = scala.collection.concurrent.TrieMap
    .empty[String, Map[String, Set[String]]] // table -> user -> allowed cols
  private val columnMasks = scala.collection.concurrent.TrieMap
    .empty[String, Map[(String, String), String]] // table -> (user, col) -> expr

  /** `GRANT SELECT(cols…) ON table TO user` — replaces the user's grant
    * set (re-grant to widen/narrow). Column names are validated against
    * the declared schema.
    */
  def grantColumns(table: String, user: String, cols: Seq[String]): Unit = {
    val t = get(table)
    val unknown = cols.filterNot(t.schema.fieldNames.contains)
    require(unknown.isEmpty,
      s"$table: GRANT names unknown column(s) ${unknown.mkString(", ")}")
    columnGrants.updateWith(table) {
      case Some(m) => Some(m + (user -> cols.toSet))
      case None => Some(Map(user -> cols.toSet))
    }
  }

  /** Revoke `user`'s column grants on `table`; false if none existed.
    * (With other grants still present on the table, the revoked user
    * falls to the restrictive default — all columns masked.)
    */
  def revokeColumnGrants(table: String, user: String): Boolean = {
    val had = columnGrants.getOrElse(table, Map.empty).contains(user)
    columnGrants.updateWith(table)(_.map(_ - user).filter(_.nonEmpty))
    had
  }

  /** Register a column MASK for (table, user, column): reads rewrite the
    * column to `maskExpr` cast to the declared type (e.g. a hash, a
    * prefix + '***', a bucketed value). Validated HERE — the constraints
    * discipline: the expression must resolve over the table schema and
    * cast to the column's type, so drift fails at CREATE. A mask implies
    * visibility of its OUTPUT (the mask may read the real column; the
    * user sees only the masked value).
    */
  def createColumnMask(table: String, user: String, column: String,
                       maskExpr: String): Unit = {
    val t = get(table)
    require(t.schema.fieldNames.contains(column),
      s"$table: no column $column to mask")
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], t.schema)
    val dt = try probe.select(expr(maskExpr)).schema.head.dataType
      catch { case scala.util.control.NonFatal(ex) =>
        throw new IllegalArgumentException(
          s"$table: mask '$maskExpr' for $user.$column does not resolve: " +
            ex.getMessage) }
    require(org.apache.spark.sql.catalyst.expressions.Cast
        .canCast(dt, t.schema(column).dataType),
      s"$table: mask '$maskExpr' for $user.$column yields " +
        s"${dt.simpleString}, not castable to " +
        t.schema(column).dataType.simpleString)
    columnMasks.updateWith(table) {
      case Some(m) => Some(m + ((user, column) -> maskExpr))
      case None => Some(Map((user, column) -> maskExpr))
    }
  }

  /** Drop a column mask; false if absent. */
  def dropColumnMask(table: String, user: String, column: String): Boolean = {
    val had = columnMasks.getOrElse(table, Map.empty).contains((user, column))
    columnMasks.updateWith(table)(_.map(_ - ((user, column))).filter(_.nonEmpty))
    had
  }

  /** `system.grants`-style listing: (table, user, granted, masked). */
  def systemColumnPolicies(): DataFrame = {
    import spark.implicits._
    val users = (columnGrants.toSeq.flatMap { case (t, m) =>
      m.keys.map(t -> _) } ++ columnMasks.toSeq.flatMap { case (t, m) =>
      m.keys.map { case (u, _) => t -> u } }).distinct.sorted
    users.map { case (t, u) =>
      (t, u,
        columnGrants.getOrElse(t, Map.empty).getOrElse(u, Set.empty)
          .toSeq.sorted.mkString(","),
        columnMasks.getOrElse(t, Map.empty).keys
          .collect { case (`u`, c) => c }.toSeq.sorted.mkString(","))
    }.toDF("table", "user", "granted", "masked")
  }

  /** Column rewrite for `user` on an already row-filtered frame: masks
    * first, then the grant gate, else pass-through. No grants and no
    * masks on the table → identity (zero plan overhead).
    */
  private def applyColumnPolicies(table: String, user: String,
                                  df: DataFrame): DataFrame = {
    val grants = columnGrants.getOrElse(table, Map.empty)
    val masks = columnMasks.getOrElse(table, Map.empty)
    if (grants.isEmpty && masks.isEmpty) return df
    // grants/masks may address a role the user holds (round 13): a
    // user's allowance is the UNION over their principal set, and the
    // first principal-addressed mask wins (user-specific masks sort
    // first — the user name itself is always in the set)
    val prin = principalsOf(user)
    val allowed: Option[Set[String]] =
      if (grants.isEmpty) None
      else Some(prin.flatMap(p => grants.getOrElse(p, Set.empty)))
    def maskOf(c: String): Option[String] =
      masks.get((user, c)).orElse(
        prin.toSeq.sorted.flatMap(p => masks.get((p, c))).headOption)
    df.select(df.schema.fields.map { f =>
      maskOf(f.name) match {
        case Some(m) => expr(m).cast(f.dataType).as(f.name)
        case None if allowed.exists(a => !a.contains(f.name)) =>
          lit(null).cast(f.dataType).as(f.name)
        case None => col(f.name)
      }
    }.toSeq: _*)
  }

  /** Compute MATERIALIZED columns and arm CHECK constraints on one insert
    * block — both INLINE in the block's plan, zero extra passes:
    * constraints guard the first column with a conditional `raise_error`
    * (the Collapsing sign pattern), so a violation fails the write JOB,
    * and the commit never publishes, so the failed insert is invisible
    * (its staged files are collected). SQL CHECK
    * semantics: a NULL-valued constraint passes.
    */
  private def materializeAndCheck(t: TableDef, batch0: DataFrame): DataFrame = {
    // CH JSON-column ingest semantics: a VariantType-declared column
    // accepts JSON TEXT — string batches parse at insert (parse_json
    // raises on malformed input, CH's strict JSON ingestion); variant
    // batches pass through untouched
    val batch = t.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.VariantType)
      .foldLeft(batch0) { (df, f) =>
        if (df.columns.contains(f.name) &&
            df.schema(f.name).dataType == org.apache.spark.sql.types.StringType)
          df.withColumn(f.name, parse_json(col(f.name)))
        else df
      }
    t.materializedCols.foreach { case (c, e) =>
      require(!batch.columns.contains(c),
        s"${t.name}: column $c is MATERIALIZED ($e) and cannot be inserted")
    }
    val withMat = t.materializedCols.foldLeft(batch) { case (df, (c, e)) =>
      df.withColumn(c, expr(e).cast(t.schema(c).dataType))
    }
    t.constraints.foldLeft(withMat) { case (df, (cn, ce)) =>
      val guard = df.columns.head
      df.withColumn(guard,
        when(coalesce(expr(ce), lit(true)), col(guard))
          .otherwise(raise_error(lit(
            s"${t.name}: CONSTRAINT $cn violated ($ce)"))
            .cast(df.schema(guard).dataType)))
    }
  }

  /** S4: columnar append, clustered by the declared sort key on the way in
    * (O3) — `repartitionByRange` gives cross-file range layout, then
    * `sortWithinPartitions` gives Parquet row groups whose min/max stats
    * replicate the sparse-primary-index skipping of `ORDER BY` tables
    * (types.json:7). ReplacingDedup batches are pre-collapsed so a single
    * batch can never introduce duplicates on its own.
    *
    * Returns the number of rows appended, observed on the write plan
    * itself (see [[writeData]]): the block executes once and callers
    * (ingest row accounting, importer.py:111's "Inserted N rows") get the
    * batch size in O(batch), never via a full-table scan.
    */
  def append(name: String, batch: DataFrame): Long =
    append(name, batch, blockBytes = -1L)

  /** Append with a caller-MEASURED block size (bytes). A caller that has
    * already materialized the batch (the Distributed facade's routed
    * insert caches + counts the whole batch before slicing) knows the
    * block's true footprint for free; so does a caller whose batch is one
    * input file (a git import's TSV): the file's length is a measurement,
    * the same source bytes blockParts would sum from the scan's leaf
    * stats. Either way the clustering exchange can be sized to the BLOCK
    * instead of the session-parallelism floor (partitioning derived from
    * input size, never a constant tuned for one deployment). A small
    * block collapses to a single narrow coalesce+sort (no exchange, no
    * RangePartitioner sample job); a 100 TB block resolves to the same
    * partBytes-bounded fan-out blockParts would pick, minus its floor.
    * A measured block that fits one part ([[fitsOnePart]]) is coalesced
    * to one partition BEFORE the engine's pre-merge, so the latest-wins
    * window, the Summing/Aggregating group-by and the Collapsing/Join
    * folds see a single partition and plan no exchange: scan → typed
    * projection → pre-merge → sort → write run as one stage, and the
    * attached views read that same single-partition block.
    * Callers that have NOT measured their block pass -1 and keep the
    * floor (the multi-file range layout the skip-index granularity
    * fixtures build on is only ever relaxed on measured evidence).
    */
  def append(name: String, batch: DataFrame, blockBytes: Long): Long = {
    def filled(t: TableDef): DataFrame = {
      val checked = materializeAndCheck(t, fillOmittedDefaults(t, batch))
      if (fitsOnePart(blockBytes)) checked.coalesce(1) else checked
    }
    // ENGINE = Null: type-check + count, discard, fan out to MVs. The
    // batch is cached around the count so attached transforms don't
    // recompute an arbitrary upstream lineage once per view.
    if (get(name).semantics == NullEngine) {
      val t = current(name)._1
      val aligned = filled(t).select(t.schema.fieldNames.toSeq.map(n => col(s"`$n`")): _*)
      aligned.cache()
      try {
        val n = aligned.count()
        fanOutMvs(name, aligned, blockBytes)
        return n
      } finally aligned.unpersist()
    }
    // the head is read, and the block prepared against its definition,
    // under the write lock: no commit of this process derives from a head
    // another thread has moved past
    val (n, block) = writeLock(name).synchronized {
      val (t, _, h) = current(name)
      val f = filled(t)
      // one execution of the clustered block (the write itself); the
      // returned count is OBSERVED on the write plan (see writeData)
      val (rows, _) = commitWrite(t, h,
        clusteredFor(t, preMergedBlock(t, f), blockBytes = blockBytes))((cur, files, comps) =>
        Some(cur.copy(files = cur.files ++ files, projections = appended(cur, comps)))).get
      (rows, f)
    }
    // MV fan-out AFTER the base commit and OUTSIDE its lock (a target's
    // append takes its own lock; holding the source's across both invites
    // lock-order deadlock). MVs see the block AS INSERTED (pre-merge).
    fanOutMvs(name, block, blockBytes)
    n
  }

  /** Run `name`'s attached materialized views over one inserted block —
    * sequential, base-committed-first (failure contract on the registry
    * doc). One view reads the block once, so nothing is cached; two or
    * more share one cache of the block instead of each recomputing the
    * upstream lineage. A view whose plan reads nothing but the block's
    * own leaves hands the block's measured size to its target's append;
    * one that also reads another table (a join) passes -1, because the
    * block does not measure that output.
    */
  private def fanOutMvs(name: String, batch: DataFrame, blockBytes: Long): Unit = {
    val mvs = attachedMvs.getOrElse(name, Vector.empty)
    if (mvs.isEmpty) return
    val shared = mvs.size > 1
    if (shared) batch.cache()
    try mvs.foreach { m =>
      val out = m.transform(batch)
      append(m.target, out,
        blockBytes = if (blockBytes >= 0 && readsOnly(out, batch)) blockBytes else -1L)
    } finally if (shared) batch.unpersist()
  }

  /** True when every leaf of `derived`'s plan is a leaf of `block`'s —
    * `derived` reads nothing but the block (leaves compared canonically,
    * so re-instanced attribute ids still match).
    */
  private def readsOnly(derived: DataFrame, block: DataFrame): Boolean = {
    val own = block.queryExecution.analyzed.collectLeaves().map(_.canonicalized).toSet
    derived.queryExecution.analyzed.collectLeaves().forall(l => own(l.canonicalized))
  }

  /** The per-engine INSERT-BLOCK pre-merge (ClickHouse merges each insert
    * block before it reaches storage) — shared by [[append]] and
    * [[appendIdempotent]] so a block lands identically through either
    * door.
    */
  private def preMergedBlock(t: TableDef, filled: DataFrame): DataFrame =
    t.semantics match {
      case ReplacingDedup(keys, version, _) =>
        // within-batch collapse keeps tombstones: they must reach storage
        // to shadow earlier appends' versions at read time
        latestWins(filled, keys, version)
      // pre-merge within the batch: storage then holds one state row per
      // key per APPEND, not per upstream partial — the read-time union
      // still folds across appends
      case agg @ Aggregating(keys, _, _) =>
        val merged = stateMergeExprs(agg)
        filled.groupBy(keys.map(col): _*).agg(merged.head, merged.tail: _*)
      case Collapsing(_, sign, _) =>
        // reject out-of-range signs at insert (the Enum8 raise_error
        // pattern), then pre-fold within the batch: a same-batch
        // state+cancel pair never reaches storage. Sound across batches
        // because the fold is associative (doc on [[Collapsing]]).
        val signTyp = t.schema(sign).dataType
        val guarded = filled.withColumn(sign,
          when(col(sign).isin(-1, 1), col(sign))
            .otherwise(raise_error(concat(
              lit(s"${t.name}: Collapsing sign $sign must be +1 or -1, got "),
              col(sign).cast("string"))).cast(signTyp)))
        collapseFold(t, guarded, sign)
      // pre-fold within the batch (associative min-of-struct): storage
      // holds one candidate row per key per APPEND; the read-time fold
      // still resolves ANY across appends
      case JoinAny(keys) => joinAnyFold(t, filled, keys)
      case _ => filled
    }

  /** ClickHouse `insert_deduplication_token`: an append that commits AT
    * MOST ONCE per `token`. The table log's head records the tokens it
    * committed, and the commit publishes only while the head does not hold
    * the token, so a replayed block (client retry, crashed ingestion loop,
    * [[graft.streaming.DirTail]]'s roll-forward) is DROPPED, not
    * double-inserted — also when another process commits the same token
    * first. Returns Some(rowCount) when this call committed the block,
    * None when the token had already landed (the block is untouched and
    * the caller may treat the insert as done — CH returns OK for deduped
    * inserts).
    *
    * Dedup window caveat, exactly ClickHouse's: a rewrite (compact,
    * mutation) folds the token's files and keeps refusing the token until
    * the next rewrite, after which it can land again — like
    * `insert_deduplication_window` bounding CH's block-hash log. Callers
    * needing unbounded replay protection must track delivery themselves
    * (DirTail's offsets commit does) and use this as the crash-window
    * guard, not the ledger.
    */
  def appendIdempotent(name: String, batch: DataFrame,
                       token: String): Option[Long] = {
    require(get(name).semantics != NullEngine,
      s"$name: ENGINE=Null discards data — a dedup token has nothing " +
        "to deduplicate against")
    require(token.nonEmpty, s"$name: empty dedup token")
    val committed = writeLock(name).synchronized {
      val (t, _, h0) = current(name)
      if (h0.holds(token)) None
      else {
        val filled = materializeAndCheck(t, fillOmittedDefaults(t, batch))
        commitWrite(t, h0, clusteredFor(t, preMergedBlock(t, filled)))((h, files, comps) =>
          if (h.holds(token)) None
          else Some(h.copy(files = h.files ++ files, tokens = h.tokens + token,
            projections = appended(h, comps))))
          .map { case (cnt, _) => (cnt, filled) }
      }
    }
    // MV fan-out exactly once — only the committing call triggers, after
    // the base commit and outside its lock (same discipline as append)
    committed.map { case (cnt, filled) => fanOutMvs(name, filled, blockBytes = -1L); cnt }
  }

  /** Write `df` into a fresh directory of `t`, then publish the entry
    * `next` derives from the head, the written files and the companions
    * written beside them (the one commit path: append, token append,
    * rewrite). `h` is the head the caller read before the write (the
    * first attempt derives from it), and `t` the definition it holds: a
    * head that holds another one (an ALTER committed since) is refused,
    * naming the table, because the block was prepared against `t`. An
    * append writes the companions `h` lists (`rewrite` false), a rewrite
    * every declared one. When nothing is published the directory goes
    * again. Returns the rows written and the published entry.
    */
  private def commitWrite(t: TableDef, h: LogEntry, df: DataFrame, rewrite: Boolean = false)(
      next: (LogEntry, Seq[LogFile], Map[String, Seq[LogFile]]) => Option[LogEntry])
      : Option[(Long, LogEntry)] = {
    val l = log(t)
    val dir = l.stage("c")
    val specs = t.projections.filter(p => rewrite || h.projections.contains(p.name))
    val published =
      try {
        val (rows, files, comps) = writeData(t, df, dir, specs)
        l.commit(t.name, Some(h)) { cur =>
          if (!cur.table.forall(_.copy(name = t.name) == t))
            throw new IllegalStateException(s"${t.name}: log entry ${cur.n} holds a " +
              "definition this write was not prepared against (a concurrent ALTER) — retry")
          next(cur, files, comps)
        }.map((rows, _))
      }
      catch { case scala.util.control.NonFatal(e) => l.f.delete(dir, true); throw e }
    if (published.isEmpty) l.f.delete(dir, true)
    published
  }

  /** The companion lists of `cur` after an append whose block wrote
    * `comps`: each gains the block's partial. One the block has no
    * partial for (materialized after the block was prepared) no longer
    * covers every data file and goes.
    */
  private def appended(cur: LogEntry, comps: Map[String, Seq[LogFile]]): Map[String, Seq[LogFile]] =
    cur.projections.flatMap { case (n, fs) => comps.get(n).map(c => n -> (fs ++ c)) }

  /** The companion lists of `cur` once `rebuilt` replaces those of `read`,
    * the head it was built from: the others stay, and when a concurrent
    * append added data files since `read`, a rebuilt companion keeps that
    * append's partials — or, where it cannot (the companion was missing
    * from either head, or replaced in between), goes.
    */
  private def rebuiltOver(read: LogEntry, cur: LogEntry,
                          rebuilt: Map[String, Seq[LogFile]]): Map[String, Seq[LogFile]] = {
    val added = cur.files.exists(f => !read.files.contains(f))
    cur.projections -- rebuilt.keys ++ rebuilt.flatMap { case (n, fs) =>
      if (!added) Some(n -> fs)
      else read.projections.get(n).zip(cur.projections.get(n)).collect {
        case (was, now) if was.forall(now.contains) => n -> (fs ++ now.filterNot(was.contains))
      }
    }
  }

  /** The companion lists of entry `e` under definition `d`, which
    * replaces `was`: a list stays while `d` declares the same projection
    * over the same companion schema; a projection `d` declares anew starts
    * empty while `e` lists no data file, else is built by the next
    * rewrite or `MATERIALIZE PROJECTION`.
    */
  private def companionsUnder(e: LogEntry, was: Option[TableDef],
                              d: TableDef): Map[String, Seq[LogFile]] =
    d.projections.flatMap { p =>
      val same = was.exists(w => w.projections.contains(p) &&
        companionSchema(w, p) == companionSchema(d, p))
      (if (same) e.projections.get(p.name) else Option.when(e.files.isEmpty)(Nil)).map(p.name -> _)
    }.toMap

  /** True when `df` is built ENTIRELY from driver-local rows (VALUES
    * inserts, centroid saves, metadata frames) and is small — known at
    * PLAN time from the LocalRelation leaves, no job. Such a block gains
    * nothing from a cross-file range layout (it lands as roughly one
    * file either way at its size) but would still pay the
    * RangePartitioner's sampling pass plus a full-width shuffle; the
    * append path writes it as a single sorted file instead (round-14,
    * guide §2.4 — remove shuffles outright). Scale-safe by construction:
    * corpus-sized blocks come from file sources, never LocalRelation.
    * The row bound is deliberately tight (a micro-block: VALUES lists,
    * quantizer batches) — moderate local frames keep the fan-out, which
    * the skip-index granularity specs build their fixtures on.
    */
  private def isSmallLocalBlock(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical
    var rows = 0L
    var localOnly = true
    df.queryExecution.analyzed.foreach {
      case l: logical.LocalRelation => rows += l.data.length
      case _: logical.OneRowRelation => rows += 1
      case _: logical.LeafNode => localOnly = false
      // row-multiplying operators over small local leaves (explode, a
      // join of two tiny VALUES lists, set ops) can materialize far more
      // than the leaf count — bail out so the bound stays honest
      // (round-14 advice)
      case _: logical.Generate | _: logical.Join => localOnly = false
      case _: logical.Union | _: logical.Intersect | _: logical.Except =>
        localOnly = false
      case _ => ()
    }
    localOnly && rows <= 1024
  }

  /** The on-write clustering for a table — MergeTree's two storage axes:
    *
    *   - `partitionKeys` (PARTITION BY, create_db.py's MergeTree family):
    *     hash-repartition on the partition columns so each task holds few
    *     partition values (few files per directory), then sort rows by
    *     (partition, sortKeys) — ClickHouse likewise orders WITHIN each
    *     partition, and readers get directory-level partition pruning on
    *     top of row-group min/max skipping;
    *   - `sortKeys` alone (ORDER BY): global range layout via
    *     `repartitionByRange` + per-file sort, the O3 clustering.
    */
  private def clusteredFor(t: TableDef, df: DataFrame,
                           forCompact: Boolean = false,
                           blockBytes: Long = -1L): DataFrame = {
    // EXPLICIT partition count on the APPEND path: the append no longer
    // materializes the block through a cache before writing (round-14),
    // so this exchange feeds the write directly — and an implicit count
    // would let AQE coalesce the whole block into one file on small
    // inputs, destroying the multi-file range layout the skip-index
    // sidecars prune by. The count is the session parallelism scaled UP
    // by the block's source size (see blockParts): a fixed 32 made every
    // range-sorted write of an N-row block pay N/32-row PER-TASK sorts —
    // at 150M rows that is 32 concurrent multi-GB external sorts feeding
    // 32 open parquet writers, which saturates the execution pool with
    // 64 MB sorter pages and OOMed the sf100 suite run (the pre-round-14
    // shape survived only because its cache materialized the sort in a
    // separate job from the write). Small blocks resolve to exactly the
    // old count, so the small-SF layout is byte-identical.
    // COMPACT/merge callers pass forCompact = true and keep the implicit
    // form: there AQE's size-based coalescing is the point — compacting
    // a small table should produce FEW large files, not parallelism-many
    // slivers (round-14 advice; guide §6 output file sizing).
    // Caller-measured block (see append(name, batch, blockBytes)): size
    // the exchange to the block itself — partBytes-bounded like
    // blockParts, but with NO session-parallelism floor, because the
    // caller measured the real footprint (the floor exists to protect
    // callers whose only signal is a leaf-stat guess). A one-partition
    // resolution drops the exchange entirely: coalesce(1)+sort is narrow
    // and produces the identical single sorted file a 1-partition range
    // shuffle would.
    val measured: Option[Int] =
      if (forCompact || blockBytes < 0) None else Some(appendParts(blockBytes))
    val n = spark.sessionState.conf.numShufflePartitions
    if (t.partitionKeys.nonEmpty) {
      val rep = if (forCompact) df.repartition(t.partitionKeys.map(col): _*)
                else measured match {
                  case Some(1) => df.coalesce(1)
                  case Some(p) => df.repartition(p, t.partitionKeys.map(col): _*)
                  case None => df.repartition(n, t.partitionKeys.map(col): _*)
                }
      rep.sortWithinPartitions((t.partitionKeys ++ t.sortKeys).map(col): _*)
    } else if (t.sortKeys.nonEmpty) {
      if (!forCompact && (isSmallLocalBlock(df) || measured.contains(1)))
        df.coalesce(1).sortWithinPartitions(t.sortKeys.map(col): _*)
      else if (forCompact)
        df.repartitionByRange(t.sortKeys.map(col): _*)
          .sortWithinPartitions(t.sortKeys.map(col): _*)
      else
        df.repartitionByRange(measured.getOrElse(blockParts(df, n)),
            t.sortKeys.map(col): _*)
          .sortWithinPartitions(t.sortKeys.map(col): _*)
    } else df
  }

  /** Range-partition count for an append block: the session parallelism
    * as a floor (a block the floor already covers keeps today's layout
    * and file count exactly), scaled up so no single task range-sorts
    * more than `graft.append.partBytes` of SOURCE bytes (leaf-scan sum —
    * file sources report real file sizes; join/aggregate SELECTIVITY is
    * deliberately ignored because a root estimate can explode to the
    * cross-product upper bound and a too-HIGH count is slivers while a
    * too-LOW one is an OOM). 16 MB of compressed source ≈ 100 MB of
    * unsafe-row sort footprint per task, so a full 32-task wave sorts
    * ~3 GB — far under the execution pool at any heap, where the fixed
    * count put the entire block in flight at once. `graft.append.maxParts`
    * caps the fan-out (object stores dislike million-file batches; a
    * capped write still sorts correctly, each task just spills honestly).
    */
  private def blockParts(df: DataFrame, floor: Int): Int =
    math.max(floor, appendParts(sourceBytes(df)))

  /** The source bytes under `df`: the sum of its plan's leaf sizes (file
    * sources report their listed files' lengths), never a root estimate
    * of a join or aggregate above them.
    */
  private def sourceBytes(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes)
      .filter(_.isValidLong).map(_.toLong).sum

  /** True when `bytes` of measured source resolve to one append part
    * (under `graft.append.partBytes`); false for an unmeasured -1. The
    * one rule behind every "this is one file / one partition" decision:
    * [[append]]'s pre-merge coalesce of a measured block, [[clusteredFor]]'s
    * exchange-free sort, and [[readStorage]]'s one-partition scan of a
    * merge engine's state (sized from the log's file lengths).
    */
  private def fitsOnePart(bytes: Long): Boolean = bytes >= 0 && appendParts(bytes) == 1

  /** Parts for `bytes` of append source: one per `graft.append.partBytes`,
    * capped by `graft.append.maxParts`. The only reader of either key.
    */
  private def appendParts(bytes: Long): Int = {
    val partBytes = spark.conf.get("graft.append.partBytes",
      (16L * 1024 * 1024).toString).toLong
    val maxParts = spark.conf.get("graft.append.maxParts", "10000").toInt
    math.min(maxParts.toLong, bytes / math.max(partBytes, 1L) + 1).toInt
  }

  /** Per-column codec kinds → parquet writer options for one write.
    * The mechanism (all public parquet-mr 1.16 hadoop config, reached
    * through Spark's write options → hadoop conf plumbing):
    *
    *  - `delta`/`doubledelta` (CH Delta, DoubleDelta): writer version v2
    *    + dictionary OFF for the column, so parquet's type-dispatched
    *    delta family takes over — DELTA_BINARY_PACKED for int/long/
    *    date/time physical types, DELTA_BYTE_ARRAY (front-coding) for
    *    string/binary. v2 is file-wide, but OTHER columns keep their
    *    dictionary, so their pages stay RLE_DICTIONARY — the per-column
    *    contract holds at the encoding level the spec asserts.
    *  - `lowcardinality` (CH LowCardinality(T)): dictionary FORCED on for
    *    the column (`parquet.enable.dictionary#col` — parquet's
    *    ColumnConfigParser `#` syntax), parquet's exact analog of CH's
    *    dictionary-encoded storage.
    *  - `plain` (CH CODEC(NONE) on the encoding axis): dictionary OFF —
    *    values stored verbatim; the high-entropy-column escape hatch
    *    where a dictionary would grow to the data size and then spill
    *    every page to PLAIN anyway, paying the dictionary build for
    *    nothing.
    */
  private def codecWriteOptions(t: TableDef): Map[String, String] = {
    if (t.columnCodecs.isEmpty) return Map.empty
    val perCol = t.columnCodecs.map { case (c, kind) =>
      val dict = kind match {
        case "lowcardinality" => "true"
        case _ => "false" // delta, doubledelta, plain
      }
      s"parquet.enable.dictionary#$c" -> dict
    }.toMap
    val v2 = t.columnCodecs.collectFirst {
      case (_, "delta") | (_, "doubledelta") => "parquet.writer.version" -> "v2"
    }
    perCol ++ v2
  }

  /** Parquet write of one commit's files into the fresh directory `dir`,
    * honoring the table's partition layout, plus every declared index's
    * sidecars for those files and the companion files of `specs` — all
    * written before the commit publishes, so no published file lacks its
    * sidecars and no published block its companions. Returns (row count,
    * written files, each companion's files).
    *
    * The row count is OBSERVED on the write plan itself
    * (`Dataset.observe` + [[org.apache.spark.sql.Observation]] — write
    * stats, not a second pass): the block executes exactly once and the
    * count is exactly the rows the writer committed.
    *
    * Projection companions are derived from the files this call WROTE,
    * never by re-executing the caller's `df` plan: a second execution
    * would see another head (a self-referencing `INSERT INTO t SELECT …
    * FROM t` would see its own output) and any non-deterministic input
    * (sampling, rand ids) evaluates differently — the companion partials
    * would diverge from the stored base and auto-rewritten aggregates
    * would be silently wrong.
    */
  private def writeData(t: TableDef, df: DataFrame, dir: org.apache.hadoop.fs.Path,
                        specs: Seq[ProjectionSpec])
      : (Long, Seq[LogFile], Map[String, Seq[LogFile]]) = {
    val obs = org.apache.spark.sql.Observation()
    val counted = df.observe(obs, count(lit(1)).as("rows"))
    // no `_SUCCESS` marker: the log entry is the commit record, and the
    // marker would cost one more filesystem call per write
    val w = counted.write.mode("overwrite").option("compression", t.codec)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .options(codecWriteOptions(t))
    (if (t.partitionKeys.nonEmpty) w.partitionBy(t.partitionKeys: _*) else w)
      .parquet(dir.toString)
    // the metrics ride the SQLExecutionEnd event: posted before the write
    // call returns, drained by the listener bus within ms — bounded wait,
    // then fail LOUDLY (never a silent wrong count)
    val rows: Long = {
      val row =
        try scala.concurrent.Await.result(obs.future,
          scala.concurrent.duration.Duration(30, "s"))
        catch { case _: java.util.concurrent.TimeoutException =>
          throw new IllegalStateException(
            s"writeData(${t.name}): the files under $dir are written but not " +
              "committed, and the row count did not arrive within 30 s")
        }
      row.getAs[Long]("rows")
    }
    val l = log(t)
    val (written, files) = l.written(dir)
    SkipIndex.maintain(spark, fs(t), t, written)
    if (t.annIndex.nonEmpty) AnnIndex.maintain(spark, t, written)
    // projections need an unpartitioned table, so the written files are
    // the block: read back under the declared schema, no listing
    (rows, files, writeCompanions(t, TableLog.frame(spark, l.root, written.files, t.schema), dir, specs))
  }

  /** Write the companion rows of each of `specs` over `base` into
    * its [[ProjectionSpec.dirName]] under `dir`; returns each
    * companion's files.
    */
  private def writeCompanions(t: TableDef, base: => DataFrame, dir: org.apache.hadoop.fs.Path,
                              specs: Seq[ProjectionSpec]): Map[String, Seq[LogFile]] =
    specs.map { p =>
      val d = new org.apache.hadoop.fs.Path(dir, p.dirName)
      projectionRows(p, base).write.mode("overwrite").option("compression", t.codec)
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false").parquet(d.toString)
      p.name -> log(t).written(d)._2
    }.toMap

  /** The schema of projection `p`'s companion files under definition `t`:
    * that of the rows [[projectionRows]] writes, resolved over an empty
    * frame of the declared column types (plan analysis only, no job).
    */
  private def companionSchema(t: TableDef, p: ProjectionSpec): StructType =
    projectionRows(p, spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
      StructType(t.schema.map(f => StructField(f.name, f.dataType))))).schema

  /** The companions a scan of the whole entry `e` may be answered from:
    * every declared projection the entry lists, unless deletion vectors
    * mask rows the companions still count.
    */
  private def companions(t: TableDef, l: TableLog, e: LogEntry): Seq[Companion] =
    t.projections.filter(_ => e.dvs.isEmpty).flatMap(p => e.projections.get(p.name).map(fs =>
      Companion(p, companionSchema(t, p), l.root, fs.map(l.status))))

  /** A projection's companion rows over `base`. */
  private def projectionRows(p: ProjectionSpec, base: DataFrame): DataFrame = p match {
    case a @ AggProjection(_, dims, sums) =>
      val aggs = count(lit(1)).as(a.cntCol) +: sums.map(c => sum(col(c)).as(a.sumCol(c)))
      base.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
    case SortProjection(_, key) =>
      // range-cluster: per-file min/max on the sort key narrows to ~1/N
      // of the files; sizing by the session's shuffle parallelism keeps
      // files near block/N
      base.repartitionByRange(col(key)).sortWithinPartitions(col(key))
  }

  /** Rebuild one declared projection's companion from the CURRENT base
    * data — `ALTER TABLE … MATERIALIZE PROJECTION`, also the backfill step
    * of [[addProjection]]: one commit whose entry replaces the
    * companion's file list. The base read is not a live scan, so no projection rule can
    * answer it from the companion being replaced. A concurrent commit the
    * rebuild cannot cover ([[rebuiltOver]]) fails it, naming the table.
    */
  def materializeProjection(name: String, proj: String): Unit =
    writeLock(name).synchronized {
      // readVia applies pending renames/defaults — the companion must
      // hold DECLARED-schema rows, like the base rewrite paths do
      val (t, l, h) = current(name)
      val p = t.projections.find(_.name == proj).getOrElse(
        throw new IllegalArgumentException(s"$name: no projection named $proj declared"))
      val dir = l.stage("c")
      try {
        val comps = writeCompanions(t, readVia(t, h), dir, Seq(p))
        l.commit(name, Some(h)) { cur =>
          val out = rebuiltOver(h, cur, comps)
          if (!out.contains(proj))
            throw new IllegalStateException(s"$name: a concurrent commit (log entry " +
              s"${cur.n}) changed the files projection $proj was built from — retry")
          Some(cur.copy(projections = out))
        }
      } catch { case scala.util.control.NonFatal(e) => l.f.delete(dir, true); throw e }
    }

  /** Declare a projection on an EXISTING table — `ALTER TABLE … ADD
    * PROJECTION`, plus an immediate backfill (CH leaves old parts
    * unindexed until MATERIALIZE; a path-keyed rewrite can't scope to
    * new-blocks-only, so this engine materializes synchronously and the
    * rule is correct from the first query).
    */
  def addProjection(name: String, spec: ProjectionSpec): Unit = {
    alter(name) { t =>
      require(!t.projections.exists(_.name == spec.name),
        s"$name: projection ${spec.name} already declared")
      t.copy(projections = t.projections :+ spec)
    }
    materializeProjection(name, spec.name)
  }

  /** `ALTER TABLE … DROP PROJECTION` — one [[alter]] that removes the
    * declaration and the companion's file list; collection deletes the
    * files.
    */
  def dropProjection(name: String, proj: String): Unit =
    alter(name) { d =>
      require(d.projections.exists(_.name == proj), s"$name: no projection named $proj declared")
      d.copy(projections = d.projections.filterNot(_.name == proj))
    }

  // ---- ALTER TABLE … ADD/DROP/MATERIALIZE/CLEAR INDEX ------------------
  //
  // ClickHouse's skip-index runbook verbs over the SAME declarations
  // CREATE TABLE takes, resolved through the one [[IndexKind]] registry.
  // Index NAMES are canonical — `<prefix>_<column>`, the spelling SHOW
  // CREATE TABLE emits — so parse∘render∘parse round-trips and
  // DROP/MATERIALIZE resolve without a separate name registry. ADD INDEX
  // declares only: existing files stay unindexed (reads fail open) until
  // MATERIALIZE INDEX or the next append indexes every file still missing
  // its sidecar.

  /** Resolve a canonical index name to its declared (kind, column);
    * refuses unknown spellings loudly with the naming contract.
    */
  private def resolveIndexName(t: TableDef, idxName: String): (IndexKind, String) = {
    val (k, c) = IndexKind.forName(idxName).getOrElse(
      throw new IllegalArgumentException(
        s"${t.name}: unknown index $idxName — this engine names skip " +
          s"indexes canonically (${IndexKind.all.map(_.prefix + "_").mkString("/")} " +
          "+ column, the SHOW CREATE TABLE spellings)"))
    require(k.columns(t).contains(c), s"${t.name}: no index $idxName declared")
    (k, c)
  }

  /** `ALTER TABLE … ADD INDEX` — declare an index on a live table.
    * Validation is createTable's own (via [[alter]]), so a bad
    * column/type refuses loudly and the prior definition survives.
    */
  def addIndex(name: String, kind: String, column: String,
               args: Seq[Int] = Nil): Unit = {
    val k = IndexKind.forType(kind).getOrElse(throw new IllegalArgumentException(
      s"$name: unsupported skip-index type ${kind.toLowerCase}"))
    alter(name) { t =>
      require(!k.columns(t).contains(column),
        s"$name: index TYPE $kind on $column already declared")
      k.add(t, column, args)
    }
  }

  /** `ALTER TABLE … MATERIALIZE INDEX` — backfill the named index over
    * existing files. Only files missing a sidecar participate, so
    * re-running is cheap and a crash mid-build just leaves fewer files
    * indexed (fail-open reads, re-run to finish).
    */
  def materializeIndex(name: String, idxName: String): Unit = {
    val t = get(name)
    val (k, c) = resolveIndexName(t, idxName)
    writeLock(name).synchronized {
      k match {
        case s: SkipIndex => SkipIndex.maintain(spark, fs(t), t, listing(t), Some(s -> c))
        case VectorSimilarity => AnnIndex.maintain(spark, t, listing(t))
      }
    }
  }

  /** `ALTER TABLE … DROP INDEX` — retire the declaration AND its built
    * sidecars. Returns whether an index was dropped (false only under
    * `ifExists`).
    */
  def dropIndex(name: String, idxName: String,
                ifExists: Boolean = false): Boolean = {
    val t = get(name)
    val resolved =
      try resolveIndexName(t, idxName)
      catch {
        case e: Exception =>
          if (ifExists) return false
          throw e
      }
    val (k, c) = resolved
    writeLock(name).synchronized {
      alter(name)(k.remove(_, c))
      deleteIndexSidecars(t, k, c)
    }
    true
  }

  /** `ALTER TABLE … CLEAR INDEX` — drop the BUILT sidecars, keep the
    * declaration (CH's clear-granules verb): the next append or
    * MATERIALIZE INDEX rebuilds from scratch.
    */
  def clearIndex(name: String, idxName: String): Unit = {
    val t = get(name)
    val (k, c) = resolveIndexName(t, idxName)
    writeLock(name).synchronized { deleteIndexSidecars(t, k, c) }
  }

  /** Remove one (kind, column)'s sidecar files beside the live files.
    * Sidecars are content-addressed per immutable parquet file, so this
    * is storage hygiene, not a correctness need — consults only happen
    * for DECLARED indexes — but a stale sidecar would silently revive
    * if the same index were re-ADDed after a MODIFY COLUMN changed the
    * column's type.
    */
  private def deleteIndexSidecars(t: TableDef, k: IndexKind,
                                  column: String): Unit = {
    val f = fs(t)
    listing(t).sidecars.filter(_.getName.endsWith(s".$column${k.suffix}"))
      .foreach(f.delete(_, false))
    // the IVF-PQ codes companion lives beside the markers (the
    // AnnIndex.companionRoot layout)
    if (k == VectorSimilarity)
      f.delete(new org.apache.hadoop.fs.Path(s"${t.path}/_idx/ann"), true)
  }

  /** Codes-only ANN probe through a declared `vector_similarity` index:
    * top-`k` cosine neighbors per query row, candidate generation reading
    * ONLY the maintained IVF-PQ companion (never the vector column), then
    * an exact rerank point-reading just the candidate ids' vectors from
    * this table. `queries` needs (q_id, q_emb) columns and is collected —
    * probes are few by definition (it rides the broadcast side).
    */
  def readAnnTopK(name: String, queries: DataFrame, k: Int,
                  nProbe: Int = 4): DataFrame = {
    val t = get(name)
    require(t.annIndex.nonEmpty,
      s"$name: no vector_similarity index declared")
    AnnIndex.search(this, spark, t, queries, k, nProbe)
  }

  // ---- skip-index pruned reads (contract on [[SkipIndex]]) --------------

  /** The head's data files and the `_idx/` sidecars beside them: one
    * listing per directory holding live files (index upkeep only — the
    * pruned reads open sidecars without listing).
    */
  private def listing(t: TableDef): Listing = {
    val l = log(t)
    val files = l.head().files.map(l.status)
    Listing(files, files.map(_.getPath.getParent).distinct.flatMap { d =>
      try l.f.listStatus(new org.apache.hadoop.fs.Path(d, "_idx")).toSeq.filter(_.isFile).map(_.getPath)
      catch { case _: java.io.FileNotFoundException => Nil }
    })
  }

  /** `name`'s def, after refusing a probe through an undeclared index. */
  private def indexed(name: String, k: SkipIndex, column: String): TableDef = {
    val t = get(name)
    require(k.columns(t).contains(column), s"$name: no ${k.label} declared on $column")
    t
  }

  /** The logged files whose `column` sidecar cannot rule out `probe`; a
    * file without a sidecar is kept. Each sidecar is opened once and
    * none is listed or probed for first. Shared by the pruned reads and
    * [[explainEstimate]], so the estimate prices exactly the scan the read
    * would run.
    */
  private def survivors(l: TableLog, files: Seq[LogFile], k: SkipIndex, column: String)(
      probe: k.Probe): Seq[LogFile] =
    files.filter { x =>
      try {
        val in = l.f.open(SkipIndex.sidecar(l.resolve(x.path), column, k.suffix))
        k.survives(try in.readAllBytes() finally in.close(), probe)
      } catch { case _: java.io.FileNotFoundException => true }
    }

  /** The one pruned read: scan only the files [[survivors]] keeps, through
    * the full read semantics (renames, added-column defaults, deletion
    * vectors). Returns (frame, files scanned, files total).
    */
  private def prunedRead(t: TableDef, k: SkipIndex, column: String)(
      probe: k.Probe): (DataFrame, Int, Int) = {
    val kind = k.label.takeWhile(_ != ' ')
    // partitioned layouts already skip at the directory level, the
    // stronger prune
    require(t.partitionKeys.isEmpty,
      s"${t.name}: $kind-pruned reads target unpartitioned layouts")
    // a merge view needs every file of a key group: dropping a file can
    // resurrect a superseded row or return a partial sum/state, so pruning
    // composes only with a raw scan — exactly like ClickHouse applies
    // secondary indexes to raw parts, before FINAL merging
    require(t.semantics == Append,
      s"${t.name}: $kind-pruned reads require Append semantics " +
        s"(merge views need every file of a key group)")
    val (cur, l, h) = current(t.name)
    val kept = survivors(l, h.files, k, column)(probe)
    (readVia(cur, h.copy(files = kept)), kept.size, h.files.size)
  }

  /** Equality probe through the bloom index: scan only the files whose
    * filter might contain `value`. Callers still apply the predicate —
    * false positives pass the file test, never the filter.
    */
  def readPruned(name: String, column: String,
                 value: Any): (DataFrame, Int, Int) = {
    val t = indexed(name, Bloom, column)
    // only integral index columns hold numbers (createTable validates), so
    // a fractional probe can match no row — refuse it rather than silently
    // truncate it through longValue
    value match {
      case n: Number => require(n.doubleValue() == n.longValue().toDouble,
        s"bloom probe value $n is fractional; column $column is integral")
      case _ => ()
    }
    prunedRead(t, Bloom, column)(value)
  }

  /** hasToken probe through the token index: scan only the files whose
    * token filter might contain `token`. Callers still apply
    * [[Catalog.hasToken]] on top.
    */
  def readTokenPruned(name: String, column: String,
                      token: String): (DataFrame, Int, Int) = {
    val t = indexed(name, Token, column)
    // a "token" containing separator characters can never equal any
    // indexed token — the caller's predicate is malformed, say so loudly
    require(token.nonEmpty && !Catalog.TokenSeparatorsRe.matcher(token).find(),
      s"$name: probe '$token' is not a single token " +
        s"(tokens are maximal [A-Za-z0-9_] runs)")
    prunedRead(t, Token, column)(token)
  }

  /** IN/equality probe through the set index: scan only the files whose
    * exact value set meets `values` (overflowed files are kept). Callers
    * still apply the predicate: a kept file holds non-matching rows too.
    */
  def readSetPruned(name: String, column: String,
                    values: Seq[Any]): (DataFrame, Int, Int) = {
    val t = indexed(name, SetIndex, column)
    require(values.nonEmpty, s"$name: empty IN-list probe")
    prunedRead(t, SetIndex, column)(values.map(v => String.valueOf(v)).toSet)
  }

  /** Multi-token AND probe through the full-text index: scan only the
    * files where every token is present AND the tokens' row sets
    * intersect — the probe shape [[readTokenPruned]] refuses. Callers
    * still apply the row predicate.
    */
  def readFullTextAnd(name: String, column: String,
                      tokens: Seq[String]): (DataFrame, Int, Int) = {
    val t = indexed(name, FullText, column)
    require(tokens.nonEmpty, s"$name: empty token probe")
    tokens.foreach(tok => require(
      tok.nonEmpty && !Catalog.TokenSeparatorsRe.matcher(tok).find(),
      s"$name: probe '$tok' is not a single token " +
        s"(tokens are maximal [A-Za-z0-9_] runs); phrase probes go " +
        "through readFullTextPhrase"))
    prunedRead(t, FullText, column)(tokens)
  }

  /** Phrase probe: tokenize `phrase` with the index's own tokenizer and
    * prune by row-set intersection — a file survives only if some row
    * carries ALL the phrase's tokens. Token adjacency is not stored
    * (matching ClickHouse's full_text index), so callers verify the
    * actual phrase on the returned rows (e.g. `contains`) — which the
    * pruning has already reduced to the candidate files.
    */
  def readFullTextPhrase(name: String, column: String,
                         phrase: String): (DataFrame, Int, Int) = {
    val toks = phrase.split(Catalog.TokenSeparators).filter(_.nonEmpty).toSeq
    require(toks.nonEmpty,
      s"$name: phrase '$phrase' contains no indexable tokens")
    readFullTextAnd(name, column, toks.distinct)
  }

  /** Range probe through the minmax index: scan only the files whose
    * `[min, max]` meets `[lo, hi]` (null bound = open side; all-null files
    * dropped — no non-null value satisfies a range).
    */
  def readRangePruned(name: String, column: String, lo: Any,
                      hi: Any): (DataFrame, Int, Int) = {
    val t = indexed(name, MinMax, column)
    prunedRead(t, MinMax, column)(MinMax.range(lo, hi))
  }

  /** CH `SELECT … SAMPLE frac [OFFSET offset]` over a table declared
    * through [[Catalog.withSampleBy]] — see the companion's SAMPLE BY doc
    * for the semantics contract. Same result as filtering the full read
    * on the stored bucket window (the exact row filter always applies);
    * on an unpartitioned Append table the minmax sidecars additionally
    * drop the files whose bucket range misses the window first.
    */
  def readSampled(name: String, frac: Double, offset: Double = 0.0): DataFrame =
    readSampledWithStats(name, frac, offset)._1

  /** [[readSampled]] plus (filesKept, filesTotal) when the file-prune
    * path applies, (-1, -1) when only the row filter ran (partitioned or
    * merge-semantics tables) — the spec surface for "a 25% sample read a
    * quarter of the files".
    */
  def readSampledWithStats(name: String, frac: Double,
                           offset: Double = 0.0): (DataFrame, Int, Int) = {
    val t = get(name)
    require(t.schema.fieldNames.contains(Catalog.SampleCol),
      s"$name: no SAMPLE BY declared (build the def through Catalog.withSampleBy)")
    val (lo, hi) = Catalog.sampleWindow(frac, offset)
    val rowFilter = col(Catalog.SampleCol) >= lit(lo) && col(Catalog.SampleCol) < lit(hi)
    val prunable = t.minmaxCols.contains(Catalog.SampleCol) &&
      t.partitionKeys.isEmpty && t.semantics == Append
    if (prunable) {
      val (df, kept, total) = readRangePruned(name, Catalog.SampleCol, lo, hi - 1)
      (df.filter(rowFilter), kept, total)
    } else (read(name).filter(rowFilter), -1, -1)
  }

  /** Read with full engine semantics applied (merged view). */
  def read(name: String): DataFrame = {
    val (t, _, h) = current(name)
    readVia(t, h, live = true)
  }

  /** Scan `files` under `schema` through one file index built from the
    * log ([[TableLog.frame]]) — no listing; `comps` are the companions the
    * scan may be answered from. `withId` adds the row
    * identity for the deletion-vector anti-join: the scanned file's path
    * and the row's ordinal inside it, from the file source's hidden
    * `_metadata` struct (constant-per-file, no read amplification).
    */
  private def scan(t: TableDef, l: TableLog, files: Seq[LogFile], schema: StructType,
                   comps: Seq[Companion], withId: Boolean): DataFrame = {
    val df = TableLog.frame(spark, l, files,
      StructType(schema.filterNot(f => t.partitionKeys.contains(f.name))),
      StructType(t.partitionKeys.map(schema(_))), comps)
    if (!withId) df
    else df.withColumn("__dv_file", col("_metadata.file_path"))
      .withColumn("__dv_pos", col("_metadata.row_index"))
  }

  /** Storage scan of one log state surfacing the DECLARED schema over
    * mixed physical layouts, with the state's deletion vectors applied:
    * files written before a pending RENAME carry the old column name,
    * files written after carry the new one. The read schema is widened
    * with each pending physical name (absent fields read as null in
    * parquet), the two columns coalesce into the declared one, and the
    * final select restores the declared shape. The coalesce is sound
    * because no file can carry BOTH names: the new name did not exist as
    * a column before the rename ([[renameColumn]] refuses an existing
    * `to`), and [[stored]] keeps the old name un-reintroducible until a
    * compact retires the mapping. `keepId` keeps the
    * `__dv_file`/`__dv_pos` row identity ([[deleteLightweight]] records
    * matched rows by it); `live` marks a scan of the whole live head.
    *
    * A merge engine's state whose logged file lengths fit one part
    * ([[fitsOnePart]]) is scanned as one partition: the engine's fold and
    * the query's own GROUP BY, ORDER BY and LIMIT above it then need no
    * exchange, so a small table's merged read runs as one stage. Append
    * and Null tables keep the file-split scan: their engine adds no
    * exchange, and the projection rewrites match a bare scan.
    */
  private def readStorage(t: TableDef, e: LogEntry, keepId: Boolean = false,
                          live: Boolean = false): DataFrame = {
    val l = log(t)
    val renames = t.renames
      .filter { case (to, _) => t.schema.fieldNames.contains(to) }
    val withId = e.dvs.nonEmpty || keepId
    // the mask is tiny next to the data (pairs, not rows): no broadcast
    // hint — AQE broadcasts the anti-join side when its runtime size
    // allows and degrades to shuffle when a mass-delete outgrows it
    def mask(df: DataFrame): DataFrame =
      if (e.dvs.isEmpty) df
      else {
        val dv = TableLog.frame(spark, l, e.dvs, dvPairSchema, new StructType, Nil)
        df.join(dv, df("__dv_file") === dv("file") &&
          df("__dv_pos") === dv("pos"), "left_anti")
      }
    val outCols = t.schema.fieldNames.toSeq ++
      (if (keepId) Seq("__dv_file", "__dv_pos") else Nil)
    val widened = StructType(t.schema.fields ++ renames.map {
      case (to, phys) => StructField(phys, t.schema(to).dataType)
    })
    val scanned = scan(t, l, e.files, widened, if (live) companions(t, l, e) else Nil, withId)
    val merges = t.semantics != Append && t.semantics != NullEngine
    val raw = mask(
      if (merges && fitsOnePart(e.files.map(_.len).sum)) scanned.coalesce(1) else scanned)
    renames.foldLeft(raw) { case (d, (to, phys)) =>
      d.withColumn(to, coalesce(col(to), col(phys)))
    }.select(outCols.map(n => col(s"`$n`")): _*)
  }

  /** Merged-view read of one log state — compaction folds exactly the
    * state it read, never whatever the head is when its job runs.
    */
  private def readVia(t: TableDef, e: LogEntry, live: Boolean = false): DataFrame = {
    val raw = applyDefaults(t, readStorage(t, e, live = live))
    t.semantics match {
      case Append => raw
      // nothing is ever stored, but limit(0) also guards against stray
      // files dropped into the dir by hand
      case NullEngine => raw.limit(0)
      case ReplacingDedup(keys, version, isDel) =>
        val merged = latestWins(raw, keys, version)
        // a key whose WINNING version is a tombstone disappears; compact
        // materializes this view = OPTIMIZE FINAL CLEANUP
        isDel.fold(merged)(c => merged.filter(coalesce(col(c), lit(0)) =!= 1))
      case Summing(keys, sumCols) =>
        raw.groupBy(keys.map(col): _*)
          .agg(sumCols.head -> "sum", sumCols.tail.map(_ -> "sum"): _*)
          .toDF(keys ++ sumCols: _*)
      case agg @ Aggregating(keys, _, _) =>
        val merged = stateMergeExprs(agg)
        raw.groupBy(keys.map(col): _*)
          .agg(merged.head, merged.tail: _*)
      case Collapsing(_, sign, _) => collapseFold(t, raw, sign)
      case JoinAny(keys) => joinAnyFold(t, raw, keys)
    }
  }

  /** Per-kind state merge expressions for an [[Aggregating]] fold — the
    * ONE definition both the append-time pre-merge and the read/compact
    * view use, so an insert block and a cross-append read can never merge
    * a state column differently. hll/kll union sketch bytes; avg sums its
    * exact (sum, cnt) struct field-wise (all three are associative and
    * commutative, which is what lets pre-merge, read-fold, and compact
    * materialization compose in any order).
    */
  private def stateMergeExprs(sem: Aggregating): Seq[Column] =
    sem.stateCols.map { c =>
      (sem.baseKindOf(c) match {
        case "kll" => graft.functions.QuantileSketch.quantile_merge_state(col(c))
        case "avg" => struct(sum(col(c)("sum")).as("sum"),
                             sum(col(c)("cnt")).as("cnt"))
        case "sum" => sum(col(c))
        case "min" => min(col(c))
        case "max" => max(col(c))
        // struct max = lexicographic: first field decides, later fields
        // break ties AND carry the winning row's payload — argMax exactly
        case "argmax" => max(col(c))
        case "topk" => graft.functions.TopKSketch
          .topk_merge_state(col(c), sem.kindParamOf(c).get)
        case _ => hll_union_agg(col(c))
      }).as(c)
    }

  /** The [[JoinAny]] fold: one surviving row per key — the
    * lexicographically least non-key tuple (min over a struct, so the
    * fold is associative and deterministic). A hash aggregate with
    * map-side partials; after [[compact]] materializes it the table is
    * physically one row per key and the fold prunes to nothing.
    */
  private def joinAnyFold(t: TableDef, df: DataFrame,
                          keys: Seq[String]): DataFrame = {
    val vals = t.schema.fieldNames.filterNot(keys.contains).toSeq
    df.groupBy(keys.map(col): _*)
      .agg(min(struct(vals.map(col): _*)).as("__any"))
      .select(keys.map(col) ++ vals.map(v => col(s"__any.$v").as(v)): _*)
      .select(t.schema.fieldNames.toSeq.map(n => col(s"`$n`")): _*)
  }

  /** ClickHouse `joinGet('name', valueCol, keys…)` — probe a [[JoinAny]]
    * table as a scalar lookup: returns `df` plus a `valueCol` column
    * holding the matched value, the type's default when the key is
    * absent (`joinGet` contract: '' / 0 — set `orNull = true` for the
    * `joinGetOrNull` variant). The folded map is BROADCAST — a Join
    * table is by contract the small side (ClickHouse pins it in RAM) —
    * so the probe side never shuffles, whatever its size.
    */
  def joinGet(name: String, df: DataFrame, keyExprs: Seq[Column],
              valueCol: String, orNull: Boolean = false): DataFrame = {
    val t = get(name)
    val keys = t.semantics match {
      case JoinAny(k) => k
      case other => throw new IllegalArgumentException(
        s"$name: joinGet requires ENGINE=Join semantics (got $other)")
    }
    require(keyExprs.size == keys.size,
      s"$name: joinGet needs ${keys.size} key expression(s) " +
        s"(${keys.mkString(", ")}), got ${keyExprs.size}")
    require(t.schema.fieldNames.contains(valueCol) && !keys.contains(valueCol),
      s"$name: joinGet value column $valueCol must be a non-key column")
    require(!df.columns.contains(valueCol),
      s"joinGet: probe side already has a column named $valueCol")
    val jt = broadcast(read(name)
      .select((keys :+ valueCol).map(c => col(c).as(s"__jg_$c")): _*))
    val cond = keys.zip(keyExprs)
      .map { case (k, e) => e <=> col(s"__jg_$k") }.reduce(_ && _)
    val matched = col(s"__jg_$valueCol")
    val out =
      if (orNull) matched
      else {
        import org.apache.spark.sql.types._
        // the documented type-default-on-miss contract ('' / 0 / false /
        // epoch / empty array, as in the reference engine). A type with
        // no natural default is REFUSED, not silently null'd — a silent
        // null here would be joinGetOrNull behavior under the joinGet
        // name, and downstream null-propagation would drop rows with no
        // warning
        val dflt = t.schema(valueCol).dataType match {
          case StringType => lit("")
          case BooleanType => lit(false)
          case dt: NumericType => lit(0).cast(dt)
          case dt @ DateType => lit("1970-01-01").cast(dt)
          case dt @ TimestampType => lit("1970-01-01 00:00:00").cast(dt)
          case dt: ArrayType => array().cast(dt)
          case dt => throw new IllegalArgumentException(
            s"$name: joinGet has no natural default for " +
              s"${dt.simpleString} column $valueCol — use orNull = true")
        }
        coalesce(matched, dflt)
      }
    df.join(jt, cond, "left")
      .withColumn(valueCol, out)
      .drop((keys :+ valueCol).map(c => s"__jg_$c"): _*)
  }

  /** The [[Collapsing]] fold (doc on the case class): group by every
    * column but the sign, cancel opposing pairs, re-emit |net| copies at
    * sign(net). A hash aggregate with map-side partials — cheaper at
    * scale than a window, and the shuffle key prunes to nothing once
    * [[compact]] has materialized the fold.
    */
  private def collapseFold(t: TableDef, df: DataFrame, sign: String): DataFrame = {
    val others = t.schema.fieldNames.filterNot(_ == sign).toSeq
    val signTyp = t.schema(sign).dataType
    df.groupBy(others.map(col): _*)
      .agg(sum(col(sign).cast("long")).as("__net"))
      .filter(col("__net") =!= 0L)
      .select(others.map(col) :+
        explode(array_repeat(signum(col("__net")).cast(signTyp),
          abs(col("__net")).cast("int"))).as(sign): _*)
      .select(t.schema.fieldNames.toSeq.map(n => col(s"`$n`")): _*)
  }

  /** Raw storage view — duplicates/partials visible (what a ClickHouse
    * `SELECT … FINAL`-less read over unmerged parts would see).
    */
  def readRaw(name: String): DataFrame = {
    val (t, _, h) = current(name)
    readStorage(t, h, live = true) // raw in MERGE terms; renames still map
  }

  // ---- lightweight DELETE (deletion-vector analog) ---------------------
  //
  // ClickHouse's `DELETE FROM t WHERE p` (lightweight delete) marks rows
  // in a hidden `_row_exists` mask inside the part and filters them at
  // every read; the expensive rewrite happens later, when merges
  // materialize the mask. Same contract here, shaped for immutable
  // parquet: a part file cannot grow a column, so the mask lives beside
  // the data as (file, pos) pairs in a commit directory of their own and
  // the table log lists it — the deletion-vector layout. DELETE writes
  // O(matched rows) of pairs and never touches a data file; every read
  // anti-joins the mask on (_metadata.file_path, _metadata.row_index);
  // a rewrite materializes it for free (it reads THROUGH the mask, so the
  // new files simply don't contain the rows) and its entry lists no mask.
  // A FREEZE names a log position, whose entry keeps its mask. At 100 TB
  // the mask is KBs-to-MBs against TB scans; a maskless table pays
  // nothing in-plan.

  private val dvPairSchema = StructType(Seq(
    StructField("file", org.apache.spark.sql.types.StringType, nullable = false),
    StructField("pos", org.apache.spark.sql.types.LongType, nullable = false)))

  /** Deletion-vector dirs not yet materialized (one per lightweight
    * DELETE) — 0 means every past one has been folded into storage by a
    * rewrite.
    */
  def pendingDeleteFiles(name: String): Int = {
    val l = log(get(name))
    l.head().dvs.map(x => l.resolve(x.path).getParent).distinct.size
  }

  /** `DELETE FROM name WHERE predicate` — ClickHouse lightweight delete.
    * Marks matching rows deleted WITHOUT rewriting any data file (the
    * heavy path, [[delete]], stays available as the ALTER DELETE
    * analog). NULL-predicate rows are kept, like [[delete]]. Returns the
    * number of rows newly masked (already-masked rows never re-match:
    * the matching scan reads through the existing mask).
    *
    * Append semantics only, the [[readPruned]] contract: merge-view
    * engines fold key groups across files, so masking one physical row
    * would CHANGE fold results (e.g. resurrect the row it superseded)
    * rather than delete a logical row.
    *
    * Fails loudly when a concurrent commit rewrote the files it read:
    * pairs recorded against the old paths would mask nothing.
    */
  def deleteLightweight(name: String,
                        predicate: org.apache.spark.sql.Column): Long =
    writeLock(name).synchronized {
      val (t, l, h) = current(name)
      require(t.semantics == Append,
        s"$name: lightweight DELETE requires Append semantics (merge " +
          "views fold key groups across files; use ALTER DELETE's " +
          "rewrite on merge-view engines)")
      val matched = applyDefaults(t, readStorage(t, h, keepId = true))
        .filter(coalesce(predicate, lit(false)))
        .select(col("__dv_file").as("file"), col("__dv_pos").as("pos"))
      val n = matched.count()
      val dir = l.stage("d")
      if (n > 0L) matched.write.mode("overwrite").parquet(dir.toString)
      val dvs = if (n > 0L) l.written(dir)._2 else Nil
      val rec = record(s"DELETE WHERE $predicate (lightweight, $n rows)")
      try l.commit(name, Some(h)) { cur =>
        if (dvs.nonEmpty) requireUnchanged(name, h, cur)
        Some(cur.copy(dvs = cur.dvs ++ dvs, mutations = cur.mutations :+ rec))
      }
      catch { case scala.util.control.NonFatal(e) => l.f.delete(dir, true); throw e }
      n
    }

  /** Refuse to publish over a head `cur` that no longer holds every file
    * `read` listed, or that gained deletion vectors since: a concurrent
    * rewrite or delete changed what this commit read.
    */
  private def requireUnchanged(name: String, read: LogEntry, cur: LogEntry): Unit = {
    val live = cur.files.map(_.path).toSet
    if (!read.files.forall(x => live(x.path)) || !cur.dvs.forall(read.dvs.contains))
      throw new IllegalStateException(s"$name: a concurrent commit (log entry " +
        s"${cur.n}) changed the files this one read — retry")
  }

  // ---- introspection (system.tables / system.parts analog) --------------
  //
  // ClickHouse exposes storage state through the `system` database
  // (system.tables, system.parts) and every ops runbook leans on it —
  // part counts before/after merges, bytes per table, min/max block
  // bounds. Same surface here, as DataFrames: registry + filesystem
  // METADATA for tables (no data scan), one distributed pass for
  // per-part row counts and sort-key bounds.

  /** ClickHouse `merge('db', 'regex')` table-function analog: the union
    * of every registered table whose name fully matches the regex, each
    * through its own engine-merged read view, plus the virtual `_table`
    * discriminator column. Schemas must agree column-for-column
    * (unionByName without missing-column fill — a silent null-fill would
    * mask a mismatched member). Catalyst pushes predicates and pruning
    * into each branch independently, so a filtered merge read scans only
    * what each member's layout admits.
    */
  def readMerge(pattern: String): DataFrame = {
    val re = pattern.r
    val names =
      tables.keys.toSeq.filter(n => re.pattern.matcher(n).matches()).sorted
    require(names.nonEmpty, s"merge('$pattern') matched no registered table")
    names.map(n => read(n).withColumn("_table", lit(n)))
      .reduce(_.unionByName(_))
  }

  /** `system.tables` analog: one row per registered table — its log head
    * position, engine semantics, declared keys, and storage totals (part
    * count + bytes from the head entry; pure metadata, no data scan).
    */
  def systemTables(): DataFrame = {
    import spark.implicits._
    tables.values.toSeq.sortBy(_.name).map { reg =>
      val h = log(reg).head()
      val t = defOf(reg, h)
      val files = h.files
      (t.name, t.path, h.n,
        t.semantics.getClass.getSimpleName.stripSuffix("$"),
        t.sortKeys, t.partitionKeys, t.indexCols,
        files.size.toLong, files.map(_.len).sum, t.codec)
    }.toDF("table", "path", "log_head", "engine", "sort_keys",
      "partition_keys", "index_cols", "n_parts", "bytes", "codec")
  }

  /** Registered table names, sorted — the iteration order of the
    * catalog-wide system frames below.
    */
  def tableNames: Seq[String] = tables.keys.toSeq.sorted

  // catalog-wide system.parts/mutations/detached_parts analogs: the
  // per-table frames unioned under the owning table name — what the
  // `SELECT … FROM system.parts` ops idiom reads through ChDdl.query.
  // An empty catalog yields an empty frame of the declared schema (not
  // an error — CH returns an empty set too).
  /** The branch tables the last system.*All call unioned — observability
    * for the literal-pin prune below (IntrospectionSpec asserts the
    * one-table scan set).
    */
  @volatile private[graft] var lastSystemAllBranches: Seq[String] = Nil

  private def unionWide(mk: String => DataFrame,
                        empty: org.apache.spark.sql.types.StructType,
                        only: Option[String] = None)
      : DataFrame = {
    // `only` pre-filters the BRANCH LIST, not just the rows: building a
    // branch costs a storage listing per table, so a statement that pins
    // `table = 'x'` to a literal must walk one table, not the catalog
    val branches =
      only.map(t => tableNames.filter(_ == t)).getOrElse(tableNames)
    lastSystemAllBranches = branches
    branches.map(mk).reduceOption(_.unionByName(_)).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty))
  }

  /** NOTE on cost: `systemParts` derives per-part rows/min/max from the
    * storage itself (one scan per table — CH carries these as merge-time
    * metadata; here the listing IS the truth), so the catalog-wide frame
    * costs one pass per registered table. Filter by `table` BEFORE
    * aggregating where that matters; Catalyst prunes the union branches
    * a literal `table = 't'` predicate excludes.
    */
  def systemPartsAll(only: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.types._
    unionWide(
      n => systemParts(n).select(lit(n).as("table"), col("part"),
        col("rows"), col("bytes"), col("min_key"), col("max_key")),
      StructType(Seq(StructField("table", StringType),
        StructField("part", StringType), StructField("rows", LongType),
        StructField("bytes", LongType), StructField("min_key", StringType),
        StructField("max_key", StringType))), only)
  }

  def systemMutationsAll(only: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.types._
    unionWide(n => systemMutations(n),
      StructType(Seq(StructField("table", StringType),
        StructField("seq", LongType), StructField("ts_ms", LongType),
        StructField("command", StringType),
        StructField("is_done", BooleanType))), only)
  }

  def systemDetachedPartsAll(only: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.types._
    unionWide(
      n => systemDetachedParts(n).select(lit(n).as("table"), col("bucket"),
        col("partition"), col("files"), col("bytes")),
      StructType(Seq(StructField("table", StringType),
        StructField("bucket", StringType),
        StructField("partition", StringType),
        StructField("files", LongType), StructField("bytes", LongType))), only)
  }

  /** `system.projections` analog: one row per declared projection of
    * every registered table — kind, spec columns, and the companion's
    * current storage footprint: the sum of the lengths its head lists.
    */
  def systemProjections(): DataFrame = {
    import spark.implicits._
    tables.filter(_._2.projections.nonEmpty).keys.toSeq.sorted.flatMap { name =>
      val (t, _, h) = current(name)
      t.projections.map { p =>
        val bytes = h.projections.getOrElse(p.name, Nil).map(_.len).sum
        p match {
          case AggProjection(nm, dims, sums) =>
            (t.name, nm, "aggregate", dims.mkString(","),
              sums.mkString(","), bytes)
          case SortProjection(nm, key) =>
            (t.name, nm, "sorted", key, "", bytes)
        }
      }
    }.toDF("table", "projection", "kind", "columns", "sum_cols", "bytes")
  }

  /** `system.columns` analog: one row per declared column of every
    * registered table — position, type, and which storage/engine roles
    * the column plays (sort key, partition key, bloom/minmax index,
    * ALTER-added default). Pure registry metadata, no data scan.
    */
  def systemColumns(): DataFrame = {
    import spark.implicits._
    tables.values.toSeq.sortBy(_.name).flatMap { t =>
      val codecOf = t.columnCodecs.toMap
      t.schema.fields.zipWithIndex.map { case (f, i) =>
        (t.name, f.name, i, f.dataType.simpleString, f.nullable,
          t.sortKeys.contains(f.name), t.partitionKeys.contains(f.name),
          t.indexCols.contains(f.name), t.minmaxCols.contains(f.name),
          f.metadata.contains("chDefault"), codecOf.getOrElse(f.name, ""))
      }
    }.toDF("table", "column", "position", "type", "nullable",
      "is_sort_key", "is_partition_key", "in_bloom_index",
      "in_minmax_index", "has_default", "codec")
  }

  /** `system.parts` analog: one row per data file of `name` — rows and
    * leading-sort-key min/max from ONE distributed pass over the table
    * (input_file_name groupBy; the bounds this reports are exactly what
    * clustered writes give the scan's row-group skipping), bytes joined
    * from the log head by file name (Spark part names embed the write's
    * UUID, so they are unique across commits).
    */
  def systemParts(name: String): DataFrame = {
    import spark.implicits._
    val (t, l, h) = current(name)
    val sizes = h.files
      .map(x => (l.resolve(x.path).getName, x.len)).toDF("part", "bytes")
    val sortKey = t.sortKeys.headOption
    val perFile = scan(t, l, h.files, t.schema, Nil, withId = false)
      .withColumn("part", element_at(split(input_file_name(), "/"), -1))
    val stats = sortKey match {
      case Some(k) => perFile.groupBy(col("part")).agg(
        count(lit(1)).as("rows"),
        min(col(k)).cast("string").as("min_key"),
        max(col(k)).cast("string").as("max_key"))
      case None => perFile.groupBy(col("part")).agg(
        count(lit(1)).as("rows"),
        lit(null).cast("string").as("min_key"),
        lit(null).cast("string").as("max_key"))
    }
    stats.join(broadcast(sizes), Seq("part"), "left_outer")
      .select(col("part"), col("rows"), col("bytes"),
        col("min_key"), col("max_key"))
      .orderBy(col("min_key"), col("part"))
  }

  /** `system.detached_parts`: every `key=value` partition dir sitting in
    * the `.detached/` area with its bucket, file count, and bytes —
    * metadata listing only, no data read (the operator's question is
    * "what could ATTACH PARTITION re-adopt", answered before deciding to).
    */
  def systemDetachedParts(name: String): DataFrame = {
    import spark.implicits._
    val t = get(name)
    val f = fs(t)
    val root = detachedRoot(t)
    val rows =
      if (!f.exists(root)) Seq.empty[(String, String, Long, Long)]
      else f.listStatus(root).toSeq.filter(_.isDirectory).flatMap { b =>
        f.listStatus(b.getPath).toSeq.filter(_.isDirectory).map { leaf =>
          val files = f.listStatus(leaf.getPath).toSeq.filter(_.isFile)
            .filterNot(_.getPath.getName.startsWith("_"))
          (b.getPath.getName, leaf.getPath.getName,
            files.size.toLong, files.map(_.getLen).sum)
        }
      }
    rows.toDF("bucket", "partition", "files", "bytes")
      .orderBy(col("partition"), col("bucket"))
  }

  /** Cheap content-version token for a table: the log head's name and
    * mtime — every result-changing event (append, compact, mutation
    * rewrite, lightweight delete, TTL sweep, refresh, partition verb, and
    * every definition change: a RENAME's read view, a widened type, a
    * changed DEFAULT an old part backfills) publishes a new head, so
    * equal tokens ⇒ equal read results. One `_log/` listing whatever the
    * table holds, no data read — the [[graft.sql.QueryCache]] validity
    * probe, priced to run on every cache hit.
    */
  def tableVersion(name: String): String = log(get(name)).headStamp()

  /** ClickHouse `EXPLAIN ESTIMATE` analog: how much would a scan read —
    * files (≈ parts), rows, bytes — from METADATA only, no data scan.
    * Files and bytes come from the log head; rows from parquet
    * FOOTERS (a few-KB metadata read per file — the analog of
    * ClickHouse's in-RAM part counts; at 100 TB the footer loop runs
    * over the files that SURVIVE pruning, not the table). With a range
    * on a declared minmax column the estimate consults the skip-index
    * sidecars first — via the same [[survivors]] the read path uses —
    * so it prices exactly the scan [[readRangePruned]] would run.
    * One row: (table, files_total, files_selected, rows, bytes).
    */
  def explainEstimate(name: String,
                      range: Option[(String, Any, Any)] = None): DataFrame = {
    import spark.implicits._
    val t = get(name)
    val l = log(t)
    val all = l.head().files
    val kept = range match {
      case None => all
      case Some((column, lo, hi)) =>
        indexed(name, MinMax, column)
        survivors(l, all, MinMax, column)(MinMax.range(lo, hi))
    }
    val conf = spark.sessionState.newHadoopConf()
    val rows = kept.map { x =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(l.resolve(x.path), conf))
      try r.getRecordCount finally r.close()
    }.sum
    Seq((t.name, all.size.toLong, kept.size.toLong, rows, kept.map(_.len).sum))
      .toDF("table", "files_total", "files_selected", "rows", "bytes")
  }

  /** The deferred "background merge": rewrite storage to its merged form.
    * ClickHouse does this continuously and asynchronously; here it is the
    * one rewrite commit ([[mutate]]): the merged view of the head is
    * written into a fresh directory and one log entry replaces the files
    * it read — the source files are never overwritten, so executor loss
    * or a crash mid-write leaves the table exactly as it was. The entry is
    * published with [[TableLog.publish]], which needs no directory rename
    * and no overwrite, so the same commit works on a local disk, HDFS and
    * any store with an exclusive create.
    */
  def compact(name: String): Unit =
    mutate(name, identity, "OPTIMIZE TABLE FINAL")

  /** `TRUNCATE TABLE name` — removes every row through the same
    * crash-safe rewrite as [[compact]] (ClickHouse semantics: the table
    * definition, indexes, and defaults survive; only data goes).
    */
  def truncate(name: String): Unit =
    mutate(name, _.limit(0), "TRUNCATE TABLE")

  // ---- system.mutations analog ------------------------------------------
  //
  // ClickHouse records every ALTER mutation in system.mutations and ops
  // runbooks poll it (`is_done`) before depending on the rewrite. Here a
  // mutation IS done when mutate() returns (the rewrite is synchronous),
  // so the history is pure record: the entry a mutation publishes holds
  // its record, and every later entry carries the newest
  // [[TableLog.KeptMutations]] forward.

  private def record(command: String) = LogMutation(System.currentTimeMillis(), command)

  /** The mutation history of `name` as a DataFrame — (table, seq, ts_ms,
    * command, is_done), oldest first, from the log head. Every row is
    * done by construction (mutations here are synchronous rewrites); the
    * column exists so the runbook shape matches ClickHouse's.
    */
  def systemMutations(name: String): DataFrame = {
    import spark.implicits._
    log(get(name)).head().mutations.zipWithIndex.map { case (m, i) =>
      (name, i.toLong, m.tsMs, m.command, true)
    }.toDF("table", "seq", "ts_ms", "command", "is_done")
  }

  /** ClickHouse lightweight-mutation analog (`ALTER TABLE … DELETE/UPDATE
    * … WHERE`, SURVEY.md §2.9): a copy-on-write rewrite of the merged view
    * — the one rewrite commit, shared by [[compact]], TTL, TRUNCATE and
    * view refresh. The rewritten files go into a fresh directory and one
    * log entry replaces every file the rewrite read (files a concurrent
    * append added stay), so a crashed mutation is invisible, never a
    * half-mutated table; a concurrent commit that removed or masked a
    * file it read fails it loudly. Mutations see merge semantics first
    * (ReplacingDedup/Summing views), matching ClickHouse where mutations
    * rewrite fully-merged parts. The one entry it publishes also retires
    * the pending ALTER storage state and holds the mutation's record (on
    * a table without files it holds the record alone). After the commit
    * the GC collects what no longer reaches the head, and sweeps crashed
    * commits' directories ([[TableLog.sweep]]).
    *
    * `transform` must preserve the table's column names and types (it may
    * drop/alter rows, not shape) — enforced loudly, since an accidental
    * schema drift would poison every later append.
    */
  def mutate(name: String, transform: DataFrame => DataFrame,
             command: String = "mutation"): Unit =
    writeLock(name).synchronized {
      val (t, l, h) = current(name)
      val input = readVia(t, h)
      val merged = transform(input)
      val shape = (d: DataFrame) => d.schema.map(f => (f.name, f.dataType))
      require(shape(merged) == shape(input),
        s"mutate($name): transform changed the table shape " +
          s"(${shape(input)} -> ${shape(merged)})")
      val rec = record(command)
      // nothing committed (no files, no masks): a DATA no-op — but the
      // transform above still ran against an empty frame of the declared
      // schema, so update()'s unknown-column require and the shape check
      // fail as loudly on a fresh table as on a populated one
      if (h.files.isEmpty && h.dvs.isEmpty)
        l.commit(name, Some(h))(cur => Some(cur.copy(mutations = cur.mutations :+ rec)))
      else {
        // the rewrite reads through the declared view — every stored file
        // then carries the declared names, types and defaults and nothing
        // else, so the pending storage state retires: from here on an
        // explicitly stored NULL reads back as NULL, and dropped or
        // pre-rename names are free again. The DEFAULT declarations stay.
        val retired = t.copy(backfillCols = Set.empty, renames = Map.empty, droppedCols = Set.empty)
        val (_, e) = commitWrite(t, h, clusteredFor(t, merged, forCompact = true), rewrite = true) {
          (cur, files, comps) =>
            requireUnchanged(name, h, cur)
            Some(LogEntry(-1L, files ++ cur.files.filterNot(h.files.toSet), Nil,
              cur.tokens -- h.tokens, h.tokens, table = Some(retired),
              mutations = cur.mutations :+ rec, projections = rebuiltOver(h, cur, comps)))
        }.get
        tables.replace(name, t, retired)
        l.sweep(e, staleLockMs)
      }
    }

  /** `ALTER TABLE name DELETE WHERE predicate` — drops rows where the
    * predicate is TRUE. NULL-predicate rows are kept (SQL DELETE
    * three-valued semantics: only definite matches are removed).
    */
  def delete(name: String, predicate: org.apache.spark.sql.Column): Unit =
    mutate(name, _.filter(!coalesce(predicate, lit(false))),
      s"ALTER DELETE WHERE $predicate")

  /** `ALTER TABLE name UPDATE set… WHERE where` — rewrites matching rows'
    * columns; non-matching rows and unlisted columns are untouched. Each
    * assignment is cast back to the column's declared type so an update
    * can never widen the schema.
    *
    * All assignments and the WHERE evaluate against the ORIGINAL row (SQL
    * UPDATE semantics): one simultaneous select, NOT chained withColumn —
    * sequential rewriting would let an earlier assignment change what the
    * predicate and later assignments see, with Map order deciding which.
    */
  def update(name: String, where: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column]): Unit =
    mutate(name, command = s"ALTER UPDATE ${set.keys.toSeq.sorted.mkString(", ")} WHERE $where",
      transform = { df =>
      val types = df.schema.map(f => f.name -> f.dataType).toMap
      set.keys.foreach(c =>
        require(types.contains(c), s"update($name): no such column $c"))
      df.select(df.columns.map { c =>
        set.get(c) match {
          case Some(e) => when(where, e.cast(types(c))).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*)
    })

  /** MergeTree `TTL` analog: expire rows whose `ttlCol` (epoch seconds)
    * is older than `maxAgeSec` relative to `nowEpochSec`. The reference
    * clock is an explicit argument — deterministic for tests/replays, and
    * at scale the caller runs this on the maintenance cadence where "now"
    * should be the batch boundary, not per-executor wall clocks.
    */
  def applyTtl(name: String, ttlCol: String, maxAgeSec: Long,
               nowEpochSec: Long): Unit =
    mutate(name,
      _.filter(!coalesce(col(ttlCol) < lit(nowEpochSec - maxAgeSec), lit(false))),
      s"TTL $ttlCol + INTERVAL $maxAgeSec SECOND (now=$nowEpochSec)")

  /** ClickHouse `TTL … GROUP BY k SET c = agg(c)` analog: expired rows
    * are not deleted but ROLLED UP — grouped by `groupKeys`, each column
    * in `set` replaced by its aggregate over the group, every other
    * non-key column by `max` (deterministic where ClickHouse keeps "any
    * value of the group"; max is documented, replayable, and
    * oracle-checkable). Fresh rows pass through untouched. The retention
    * idiom for metrics tables: raw 5-minute points age into one row per
    * key, so the table converges to O(keys) instead of O(history) while
    * additive aggregates stay exact — re-running the rollup later
    * re-aggregates already-rolled rows together with newly expired ones,
    * which composes because the `set` aggregates are additive by
    * contract.
    *
    * Aggregate results are cast back to the column's declared type
    * (sum widens long→bigint decimal→wider; the table shape is part of
    * the mutate() contract).
    */
  def applyTtlRollup(name: String, ttlCol: String, maxAgeSec: Long,
                     nowEpochSec: Long, groupKeys: Seq[String],
                     set: Map[String, Column]): Unit = {
    val t = get(name)
    val fields = t.schema.fieldNames.toSet
    require(groupKeys.nonEmpty, s"$name: TTL GROUP BY needs group keys")
    (groupKeys ++ set.keys).foreach(c =>
      require(fields(c), s"$name: TTL GROUP BY references no such column $c"))
    require(groupKeys.toSet.intersect(set.keySet).isEmpty,
      s"$name: TTL GROUP BY SET columns overlap the group keys")
    val horizon = nowEpochSec - maxAgeSec
    mutate(name,
      command = s"TTL $ttlCol GROUP BY ${groupKeys.mkString(", ")} " +
        s"SET ${set.keys.toSeq.sorted.mkString(", ")} (now=$nowEpochSec)",
      transform = ttlRollupTransform(
        df => coalesce(col(ttlCol) < lit(horizon), lit(false)),
        groupKeys, set))
  }

  /** The TTL GROUP BY rewrite over one table frame (shared by the
    * epoch-column [[applyTtlRollup]] and the declared-spec
    * [[materializeTtl]], which normalizes a Date/DateTime clock first).
    */
  private def ttlRollupTransform(expired: DataFrame => Column,
                                 groupKeys: Seq[String],
                                 set: Map[String, Column])
                                (df: DataFrame): DataFrame = {
    val expiredPred = expired(df)
    val types = df.schema.map(f => f.name -> f.dataType).toMap
    val aggCols = df.columns.filterNot(groupKeys.contains).map { c =>
      set.get(c).map(_.cast(types(c)).as(c))
        .getOrElse(max(col(c)).cast(types(c)).as(c))
    }.toSeq
    val rolled = df.filter(expiredPred)
      .groupBy(groupKeys.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .select(df.columns.map(col).toSeq: _*)
    df.filter(!expiredPred).unionByName(rolled)
  }

  /** Shared CREATE/MODIFY validation of a declared [[TtlSpec]]: the clock
    * column must exist and be time- or epoch-typed, the rollup columns
    * must exist, and the SET aggregates must resolve as grouped
    * aggregates over the schema (analysis only — no job).
    */
  private def validateTtl(t: TableDef, spec: TtlSpec): Unit = {
    import org.apache.spark.sql.types._
    require(t.schema.fieldNames.contains(spec.col),
      s"${t.name}: TTL column ${spec.col} is not in the schema")
    val dt = t.schema(spec.col).dataType
    require(dt == DateType || dt == TimestampType ||
        dt.isInstanceOf[NumericType],
      s"${t.name}: TTL column ${spec.col} is ${dt.simpleString}; " +
        "Date, DateTime, or an epoch-seconds numeric column required")
    require(spec.maxAgeSec >= 0,
      s"${t.name}: TTL interval must be non-negative (got ${spec.maxAgeSec})")
    require(spec.calMonths.forall(_ > 0),
      s"${t.name}: calendar TTL needs a positive month count " +
        s"(got ${spec.calMonths})")
    require(spec.set.isEmpty || spec.groupKeys.nonEmpty,
      s"${t.name}: TTL SET needs a GROUP BY")
    (spec.groupKeys ++ spec.set.map(_._1)).foreach(c =>
      require(t.schema.fieldNames.contains(c),
        s"${t.name}: TTL GROUP BY/SET references no such column $c"))
    require(spec.groupKeys.toSet.intersect(spec.set.map(_._1).toSet).isEmpty,
      s"${t.name}: TTL SET columns overlap the group keys")
    if (spec.set.nonEmpty) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], t.schema)
      spec.set.foreach { case (c, agg) =>
        try empty.groupBy(spec.groupKeys.map(col): _*)
          .agg(expr(agg).as(c)).queryExecution.analyzed
        catch { case scala.util.control.NonFatal(ex) =>
          throw new IllegalArgumentException(
            s"${t.name}: TTL SET $c = $agg does not resolve: ${ex.getMessage}") }
      }
    }
  }

  /** `ALTER TABLE … MODIFY TTL` — declare or replace the table's TTL
    * spec. Metadata only (a definition commit, validated like CREATE):
    * stored rows are untouched until a [[materializeTtl]] sweep, the CH
    * contract.
    */
  def modifyTtl(name: String, spec: TtlSpec): Unit = alter(name)(_.copy(ttl = Some(spec)))

  /** `ALTER TABLE … REMOVE TTL`. */
  def removeTtl(name: String): Unit = alter(name)(_.copy(ttl = None))

  /** `ALTER TABLE … MATERIALIZE TTL` — run the DECLARED TTL sweep now
    * against an explicit clock (deterministic for tests/replays; the DDL
    * text door passes wall clock, matching CH's merge-time application).
    * A Date/DateTime clock column is normalized to epoch seconds; the
    * delete and GROUP BY legs reuse the [[applyTtl]]/[[applyTtlRollup]]
    * machinery.
    */
  def materializeTtl(name: String, nowEpochSec: Long): Unit = {
    import org.apache.spark.sql.types._
    val t = get(name)
    val spec = t.ttl.getOrElse(throw new IllegalArgumentException(
      s"$name: no TTL declared (ALTER TABLE $name MODIFY TTL … first)"))
    def clock(df: DataFrame): Column = t.schema(spec.col).dataType match {
      case TimestampType => unix_timestamp(col(spec.col))
      case DateType => unix_timestamp(col(spec.col).cast(TimestampType))
      case _ => col(spec.col).cast(LongType)
    }
    // calendar TTL: expiry = clock + n months (clamped month arithmetic
    // via timestamp_add — sub-day precision preserved, unlike
    // add_months' DATE result), compared in floor seconds against the
    // caller's explicit now — deterministic either way
    def expiryTs(df: DataFrame): Column = t.schema(spec.col).dataType match {
      case TimestampType => col(spec.col)
      case DateType => col(spec.col).cast(TimestampType)
      case _ => timestamp_seconds(col(spec.col).cast(LongType))
    }
    def expired(df: DataFrame): Column = spec.calMonths match {
      case Some(m) => coalesce(unix_timestamp(timestamp_add("MONTH",
        lit(m), expiryTs(df))) < lit(nowEpochSec), lit(false))
      case None =>
        coalesce(clock(df) < lit(nowEpochSec - spec.maxAgeSec), lit(false))
    }
    def intervalText = spec.calMonths match {
      case Some(m) => s"INTERVAL $m MONTH"
      case None => s"INTERVAL ${spec.maxAgeSec} SECOND"
    }
    if (spec.groupKeys.isEmpty)
      mutate(name, df => df.filter(!expired(df)),
        s"TTL ${spec.col} + $intervalText " +
          s"(MATERIALIZE, now=$nowEpochSec)")
    else
      mutate(name,
        command = s"TTL ${spec.col} GROUP BY ${spec.groupKeys.mkString(", ")} " +
          s"SET ${spec.set.map(_._1).mkString(", ")} " +
          s"(MATERIALIZE, now=$nowEpochSec)",
        transform = ttlRollupTransform(expired, spec.groupKeys,
          spec.set.map { case (c, a) => c -> expr(a) }.toMap))
  }

  // ---- partition-level DDL (DROP / DETACH / ATTACH PARTITION) ----------
  //
  // ClickHouse's constant-time data-management verbs (README.md:232-266's
  // retention runbook depends on them): `ALTER TABLE … DROP PARTITION`
  // deletes a partition's parts outright, DETACH moves them to
  // `detached/` for manual handling, ATTACH re-adopts detached parts.
  // Here a "partition" is the Hive-layout `key=value` directory a
  // commit's `partitionBy` write produced, so all three are one log entry
  // plus directory renames — O(partition-dir count), never a row
  // rewrite; at a 100 TB table dropping a day of data touches a handful
  // of directory entries while `delete(…)` would rewrite the table.
  // Mutation-logged like every ALTER. A dropped partition's files go at
  // the commit after the drop (one commit of read grace); a file a FREEZE
  // still reaches is copied out, never moved, so a frozen view never
  // changes.
  //
  // Merge semantics note (same contract as ClickHouse): parts in
  // different partitions never merge, so under Replacing/Summing
  // semantics a key whose rows SPAN partitions loses only the dropped
  // partition's contribution — dropping a partition can un-shadow an
  // older version of a key that also lives elsewhere, exactly as it does
  // in ClickHouse. DETACH, ATTACH and MOVE publish an entry that records
  // where the partition's directories go (DETACH and MOVE also take the
  // partition out), then move them, then publish the moves done, listing
  // the files an ATTACH brought in (a MOVE has the destination's log list
  // them first). A crash anywhere in between is finished by the next
  // commit of the table, or where a process registers it
  // ([[TableLog.recover]]), so the partition always ends in the table or
  // in its destination.

  /** Detached partitions live in a SIBLING dir, one uniquely-named bucket per source directory so detaching a value
    * present in N commit directories never collides; the bucket's
    * `key=value` child names the partition, so ATTACH finds its buckets
    * by inspection.
    */
  private def detachedRoot(t: TableDef) =
    new org.apache.hadoop.fs.Path(t.path + ".detached")

  /** The `key=value` leaf dir name for `value`, escaped exactly as
    * Spark's `partitionBy` writer escapes it (same utility). The caller
    * passes the value as Spark renders it into the path: strings
    * verbatim, numbers via toString, dates as yyyy-MM-dd.
    */
  private def partitionLeaf(t: TableDef, value: Any): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    require(t.partitionKeys.nonEmpty,
      s"${t.name}: not a partitioned table (no PARTITION BY)")
    require(value != null, s"${t.name}: partition value must be non-null")
    // multi-key layouts nest key2=… under key1=…; the op moves the whole
    // first-level subtree, which is the ClickHouse partition granularity
    escapePathName(t.partitionKeys.head) + "=" + escapePathName(value.toString)
  }

  /** Publish `t`'s head without the files of first-key partition `value`,
    * with the mutation record `command`. With `move`, the entry also
    * records where each of the partition's directories
    * (`<commit>/key=value`, numbered) goes, and a second commit settles
    * the moves ([[TableLog.settle]]). Returns the number of directories.
    */
  private def unlinkPartition(t: TableDef, l: TableLog, value: Any, command: String)(
      move: Option[(org.apache.hadoop.fs.Path, Int) => LogMove]): Int = {
    val leaf = partitionLeaf(t, value)
    var dirs = 0
    l.commit(t.name) { h =>
      // masks address file paths and would not travel with moved files
      require(h.dvs.isEmpty, s"${t.name}: a concurrent lightweight DELETE " +
        "landed mid-operation — retry")
      val (out, in) = h.files.partition(_.part.headOption.flatten.contains(value.toString))
      val srcs = out.map { x =>
        val file = l.resolve(x.path)
        Iterator.iterate(file.getParent)(_.getParent).takeWhile(_ != null)
          .find(_.getName == leaf).getOrElse(file.getParent)
      }.distinct
      dirs = srcs.size
      Some(h.copy(files = in, mutations = h.mutations :+ record(command),
        moves = move.fold(Seq.empty[LogMove])(m => srcs.zipWithIndex.map(m.tupled))))
    }
    if (dirs > 0 && move.nonEmpty) l.commit(t.name)(Some(_))
    dirs
  }

  // ---- FREEZE / snapshots ----------------------------------------------
  //
  // ClickHouse `ALTER TABLE … FREEZE` snapshots a table by hardlinking its
  // parts into `shadow/` — constant-time, no data copy, and later merges/
  // drops don't disturb the frozen view. Here a snapshot is a tag naming a
  // log position: the entry there lists the frozen files and masks, and
  // the GC never collects what a tagged entry reaches. Taking a snapshot
  // of a 100 TB table is one small file; dropping it is one delete.

  /** `ALTER TABLE name FREEZE WITH NAME tag`: tag the head's log position
    * as snapshot `tag`. O(1) — one small file, no data copied, published
    * with the log's own exclusive step, so a duplicate tag is refused.
    */
  def freeze(name: String, tag: String): Unit =
    writeLock(name).synchronized {
      val t = get(name)
      require(tag.matches("[A-Za-z0-9_.-]+"),
        s"$name: snapshot tag must be [A-Za-z0-9_.-]+ (got '$tag')")
      val l = log(t)
      require(l.addTag(LogTag(tag, l.head().n, System.currentTimeMillis())),
        s"$name: snapshot '$tag' already exists")
    }

  /** Read the table AS OF snapshot `tag` — the frozen files and masks
    * through the full read semantics (merge view, defaults, renames) of
    * the definition the frozen entry holds.
    */
  def readSnapshot(name: String, tag: String): DataFrame = {
    val t = get(name)
    val l = log(t)
    val g = l.tag(tag).getOrElse(throw new NoSuchElementException(s"$name: no snapshot '$tag'"))
    val e = l.entry(g.position)
    readVia(defOf(t, e), e)
  }

  /** Drop snapshot `tag` — one file delete; the next rewrite collects the
    * files it pinned (unless another snapshot still reaches them).
    * Returns false when no such snapshot existed.
    */
  def dropSnapshot(name: String, tag: String): Boolean =
    writeLock(name).synchronized(log(get(name)).dropTag(tag))

  /** `system.snapshots`-style listing: (tag, position, files, ts_ms). */
  def systemSnapshots(name: String): DataFrame = {
    import spark.implicits._
    val l = log(get(name))
    l.tags().map(g => (g.tag, g.position, l.entry(g.position).files.size.toLong, g.tsMs))
      .toDF("tag", "position", "files", "ts_ms")
  }

  /** `ALTER TABLE name DROP PARTITION value` — publishes the head without
    * the partition's files. Returns the number of directories dropped
    * (0 = no such partition: a no-op, like dropping an empty partition).
    */
  def dropPartition(name: String, value: Any): Int =
    writeLock(name).synchronized {
      val t = get(name)
      unlinkPartition(t, log(t), value, s"ALTER DROP PARTITION ${partitionLeaf(t, value)}")(None)
    }

  /** `ALTER TABLE name DETACH PARTITION value` — publishes the head without
    * the partition's files, then moves each of its directories (data
    * files plus their `_idx` sidecars, which live inside) into
    * `<path>.detached/<bucket>/key=value` (the moves doc above the
    * partition verbs). Returns directories detached.
    */
  def detachPartition(name: String, value: Any): Int =
    writeLock(name).synchronized {
      val t = get(name)
      val leaf = partitionLeaf(t, value)
      val l = log(t)
      // deletion-vector pairs address file PATHS; a detached dir comes
      // back under a different path, so pending masks would silently
      // un-delete on re-attach — materialize them first
      if (l.head().dvs.nonEmpty) compact(name)
      val bucket = s"d-${TableLog.processTag}-${java.util.UUID.randomUUID().toString.take(8)}"
      unlinkPartition(t, l, value, s"ALTER DETACH PARTITION $leaf")(Some((d, i) => LogMove(d.toString,
        l.f.makeQualified(new org.apache.hadoop.fs.Path(detachedRoot(t), s"$bucket-$i/$leaf")).toString,
        None)))
    }

  /** `ALTER TABLE name ATTACH PARTITION value` — re-adopts every detached
    * bucket holding this value (the moves doc above the partition verbs).
    * Returns buckets attached.
    */
  def attachPartition(name: String, value: Any): Int =
    writeLock(name).synchronized {
      import org.apache.hadoop.fs.Path
      val t = get(name)
      val leaf = partitionLeaf(t, value)
      val l = log(t)
      val f = l.f
      // the buckets are listed after the head's pending moves settled (a
      // crashed DETACH's bucket appears there), and move into one `m-`
      // directory of the table whose files the settling commit lists
      val dir = l.stage("m")
      var buckets = Seq.empty[Path]
      l.commit(t.name) { h =>
        buckets =
          try f.listStatus(detachedRoot(t)).toSeq.filter(_.isDirectory).map(_.getPath)
            .filter(b => f.exists(new Path(b, leaf)))
          catch { case _: java.io.FileNotFoundException => Nil }
        Some(h.copy(mutations = h.mutations :+ record(s"ALTER ATTACH PARTITION $leaf"),
          moves = buckets.zipWithIndex.map { case (b, i) =>
            LogMove(new Path(b, leaf).toString, new Path(new Path(dir, s"p$i"), leaf).toString,
              Some(l.root.toString))
          }))
      }
      if (buckets.nonEmpty) l.commit(t.name)(Some(_))
      buckets.foreach(f.delete(_, true)) // now-empty buckets
      buckets.size
    }

  /** `ALTER TABLE src MOVE PARTITION value TO TABLE dst` — transfers the
    * partition's directories from one table to another by rename (the
    * moves doc above the partition verbs):
    * O(partition dirs), no data copy, the ClickHouse cross-table
    * partition move. Requires identical column shape and partition keys
    * (same contract as ClickHouse: structurally equal tables). Both
    * tables' write locks are taken in path order (one global order → no
    * deadlock against a concurrent reverse move). A file a source FREEZE
    * reaches is copied, not moved. Returns the number of directories
    * moved.
    */
  def movePartition(srcName: String, dstName: String, value: Any): Int = {
    val (first, second) =
      if (get(srcName).path <= get(dstName).path) (srcName, dstName)
      else (dstName, srcName)
    writeLock(first).synchronized {
      writeLock(second).synchronized {
        val s = get(srcName)
        val d = get(dstName)
        require(srcName != dstName, s"MOVE PARTITION: src = dst ($srcName)")
        val shape = (t: TableDef) => t.schema.map(f => (f.name, f.dataType))
        require(shape(s) == shape(d),
          s"MOVE PARTITION $srcName -> $dstName: column shapes differ " +
            s"(${shape(s)} vs ${shape(d)})")
        require(s.partitionKeys == d.partitionKeys,
          s"MOVE PARTITION $srcName -> $dstName: partition keys differ " +
            s"(${s.partitionKeys} vs ${d.partitionKeys})")
        val leaf = partitionLeaf(s, value)
        val l = log(s)
        // masks are path-addressed and do not travel with moved dirs —
        // materialize the source's pending deletes first (see detach)
        if (l.head().dvs.nonEmpty) compact(srcName)
        // the directories go under one `m-` directory of the destination,
        // which its own sweep leaves alone while the move is in flight
        val into = log(d)
        val dir = into.stage("m")
        // the destination's record rides in the entry that lists the
        // moved files ([[TableLog.settle]]), or alone when nothing moved
        val n = unlinkPartition(s, l, value, s"ALTER MOVE PARTITION $leaf TO TABLE $dstName")(
          Some((src, i) => LogMove(src.toString,
            new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(dir, s"p$i"), leaf).toString,
            Some(into.root.toString))))
        if (n == 0) into.commit(dstName)(h => Some(h.copy(mutations =
          h.mutations :+ record(s"ALTER ATTACH PARTITION $leaf (moved from $srcName)"))))
        n
      }
    }
  }

  /** A8/T2: ReplacingMergeTree latest-wins collapse (types.json:7). */
  private def latestWins(df: DataFrame, keys: Seq[String], version: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(version).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}

object Catalog {
  // JVM-global per-table-path monitors (doc on writeLock). Keyed by the
  // table's path STRING: every constructor in this repo derives it the same
  // way (s"$warehouseRoot/$tableName"), so equal storage ⇒ equal key; a
  // scheme-qualified URI key would be stricter but would force a filesystem
  // round-trip on every lock acquisition.
  private val pathLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private def lockFor(path: String): Object =
    pathLocks.getOrElseUpdate(path, new Object)

  /** Per-column codec kinds [[TableDef.columnCodecs]] accepts — the CH
    * per-column CODEC / LowCardinality axis; mechanism doc at
    * `codecWriteOptions`. `doubledelta` is accepted as an alias of
    * `delta` (parquet's DELTA_BINARY_PACKED already encodes
    * second-order-compressible sequences well; CH distinguishes them,
    * parquet has one integer-delta encoding).
    */
  val columnCodecKinds: Set[String] =
    Set("delta", "doubledelta", "lowcardinality", "plain")

  /** Token separator regex (as a split pattern): tokens are maximal runs
    * of [A-Za-z0-9_] — the ClickHouse tokenbf_v1 definition. ONE constant
    * shared by the index build, the probe validation, and [[hasToken]],
    * so the three can never disagree on tokenization.
    */
  val TokenSeparators = "[^A-Za-z0-9_]+"

  /** Max row ordinals stored per token in a full-text posting list — a
    * token in more rows degrades to a dense marker (present, rows
    * unknown): high-frequency words prune nothing (honestly), while the
    * selective tokens the probe shape depends on keep exact lists. Keeps
    * every sidecar O(tokens × min(rows, cap)).
    */
  val FullTextRowCap = 4096
  private[catalog] val TokenSeparatorsRe =
    java.util.regex.Pattern.compile(TokenSeparators)

  /** ClickHouse `hasToken(col, token)` as a Column predicate — the exact
    * row-level filter callers apply ON TOP of [[Catalog.readTokenPruned]]'s
    * file pruning (same tokenization as the index by construction).
    */
  def hasToken(c: org.apache.spark.sql.Column, token: String): org.apache.spark.sql.Column =
    array_contains(split(c, TokenSeparators), token)

  // ---- SAMPLE BY (deterministic, key-consistent sampling) ---------------
  //
  // ClickHouse `SAMPLE BY expr` (DDL) + `SELECT … SAMPLE k [OFFSET m]`
  // (reference README.md query surface): every row's sampling key hashes
  // to a bucket in [0, 65536); `SAMPLE k` reads the rows whose bucket
  // falls in [⌊m·65536⌋, ⌊(m+k)·65536⌋). Properties the design keeps:
  //
  //   - DETERMINISTIC: a key is in or out of a given window forever,
  //     across queries, appends, and compactions — re-running an
  //     experiment on "the same 10%" reads the same rows;
  //   - KEY-CONSISTENT: all rows of one key share one bucket, so
  //     sampling BOTH sides of a join on the sampling key with the same
  //     window loses no pairs (CH's cross-table sampling contract);
  //   - DISJOINT WINDOWS PARTITION: OFFSET windows that tile [0,1) split
  //     the table exactly — the parallel-experiment / train-holdout cut;
  //   - ENGINE-PORTABLE: the bucket is the first 4 hex digits of
  //     md5(CAST(key AS STRING)) — the DuckDB oracle replays it
  //     bit-for-bit as a lexicographic hex-string compare.
  //
  // The bucket is a MATERIALIZED column (computed at insert, stored) and
  // is declared under minmaxCols; [[withSampleBy]] also puts it FIRST in
  // the sort keys, so the clustered write gives each data file a narrow
  // bucket range and a sampled read drops ~(1-k) of FILES through the
  // existing minmax sidecars before any row is scanned — the analog of
  // CH's "sampling key in the primary key" granule skip. At 100 TB that
  // is the difference between "SAMPLE 0.01 reads 1 TB" and "SAMPLE 0.01
  // reads 100 TB and throws away 99% of it".
  val SampleCol = "_gsample"
  val SampleBuckets = 65536

  /** The stored-bucket expression — md5 is the deliberate choice over
    * xxhash64: both engines of the correctness gate compute identical
    * md5 bytes, so the oracle checks the SAMPLE SEMANTICS, not a
    * reimplementation of the hash. Rows with a NULL key hash to a NULL
    * bucket and never enter any window (document-level nulls are a data
    * bug a sample should not resurrect).
    */
  def sampleExprSql(key: String): String =
    s"CAST(conv(substr(md5(CAST(CAST($key AS STRING) AS BINARY)), 1, 4), 16, 10) AS INT)"

  /** Bucket window for `SAMPLE frac OFFSET offset` — the ONE place the
    * float→bucket rounding happens, shared by the Spark filter, the
    * file-prune range, and the oracle-side predicate renderer, so all
    * three always agree on the exact window.
    */
  def sampleWindow(frac: Double, offset: Double = 0.0): (Int, Int) = {
    require(frac > 0.0 && frac <= 1.0,
      s"SAMPLE fraction must be in (0, 1], got $frac (the row-count form " +
        "SAMPLE n needs table statistics — pass n/count as a fraction)")
    require(offset >= 0.0 && offset < 1.0, s"SAMPLE OFFSET must be in [0, 1), got $offset")
    val lo = math.floor(offset * SampleBuckets).toInt
    val hi = math.min(SampleBuckets.toLong,
      math.floor((offset + frac) * SampleBuckets).toLong).toInt
    require(hi > lo, s"SAMPLE window [$offset, ${offset + frac}) rounds to zero buckets")
    (lo, hi)
  }

  /** Declare `SAMPLE BY key` on a table definition: returns the def with
    * the stored bucket column, its minmax sidecar declaration, and the
    * bucket leading the sort keys (the file-prune clustering — callers
    * who need a different physical order can reorder sortKeys afterwards
    * and keep row-level sampling only). Pure transformation over the
    * existing machinery: nothing new to persist — ATTACH rebuilds the
    * sampled table from its logged definition like any other.
    */
  def withSampleBy(t: TableDef, key: String): TableDef = {
    require(t.schema.fieldNames.contains(key),
      s"${t.name}: SAMPLE BY column $key is not in the schema")
    require(!t.schema.fieldNames.contains(SampleCol),
      s"${t.name}: $SampleCol already declared — SAMPLE BY can be applied once")
    require(!t.partitionKeys.contains(key),
      s"${t.name}: SAMPLE BY on partition key $key — sample windows would " +
        "degenerate to whole-partition in/out; sample by a finer key")
    t.copy(
      schema = t.schema.add(SampleCol, org.apache.spark.sql.types.IntegerType),
      sortKeys = SampleCol +: t.sortKeys,
      minmaxCols = t.minmaxCols :+ SampleCol,
      materializedCols = t.materializedCols :+ (SampleCol -> sampleExprSql(key)))
  }
}
