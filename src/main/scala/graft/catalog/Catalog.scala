package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

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
    * behavior so every pre-existing table and `_TABLE` sidecar reads
    * unchanged.
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

/** Physical layout of a table directory — how compact() commits its swap.
  *
  *   - [[FlatDir]]: one flat Parquet dir; compact rewrites to a sibling and
  *     swaps via two atomic DIRECTORY renames. Right for HDFS/POSIX where
  *     directory rename is an atomic metadata op; has a two-rename crash
  *     window that [[Catalog]] recovers on every entry point.
  *   - [[Versioned]]: versioned subdirs (`v0`, `v1`, …) under the table path
  *     plus a `_CURRENT` manifest file naming the live one. Compact writes
  *     the merged output to the NEXT version and commits by flipping the
  *     one-line manifest — a single small-object write, the only commit
  *     primitive object stores (no atomic dir rename) offer. There is no
  *     window where the table is unreadable: a crash before the flip leaves
  *     readers on the old version and the orphan next-version dir is
  *     garbage-collected by the next compact; a crash during the flip
  *     (manifest momentarily absent) falls back to the highest complete
  *     version — which is correct because the manifest is only ever removed
  *     after its successor's data is fully written.
  */
sealed trait TableLayout
case object FlatDir extends TableLayout
case object Versioned extends TableLayout

final case class TableDef(
    name: String,
    path: String,
    schema: StructType,
    sortKeys: Seq[String],
    semantics: EngineSemantics,
    layout: TableLayout = FlatDir,
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
    // every append/compact maintains a companion dataset under
    // `_proj_<name>/` inside the data dir (underscore prefix = invisible
    // to base scans), and queries are AUTO-rewritten onto it by the
    // registered optimizer rules ([[graft.plans.RollupRewrite]] /
    // [[graft.plans.SortedProjectionRewrite]]); queries never opt in.
    // Plain Append + FlatDir + unpartitioned tables only (merging
    // engines fold at read time, so an aggregate over their scan is
    // never a plain rollup of stored rows; the rules also require a
    // single-root scan). See [[Catalog.materializeProjection]] for the
    // crash-recovery contract.
    projections: Seq[ProjectionSpec] = Nil,
    // CH `TTL col + INTERVAL n unit [GROUP BY … SET …]` declared in the
    // table definition (persisted in `_TABLE`); the sweep itself runs on
    // demand — [[Catalog.materializeTtl]], CH's `ALTER TABLE …
    // MATERIALIZE TTL` — never as a hidden read-path rewrite.
    ttl: Option[TtlSpec] = None)

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
sealed trait ProjectionSpec { def name: String }

/** The aggregate form — CH `PROJECTION p (SELECT dims…, count(), sum(m)…
  * GROUP BY dims…)`. The companion holds one partial row per (dims) per
  * INSERT BLOCK (`__cnt` + `__sum_<m>` columns — the SummingMergeTree
  * partial-state shape this engine already merges at read); a count/sum
  * aggregate over the base re-aggregates those partials, so per-block
  * appends never need to rewrite the companion.
  */
final case class AggProjection(name: String, dims: Seq[String],
                               sumCols: Seq[String] = Nil) extends ProjectionSpec

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
    * writers are NOT excluded by this — they serialize through the
    * storage-level artifacts (compact lock, manifest CAS) only.
    */
  def withWriteLock[T](name: String)(body: => T): T =
    writeLock(name).synchronized(body)

  // Identifies this process in cross-process artifacts (manifest tmp names,
  // compaction lock contents) so two JVMs sharing a warehouse can never
  // stage into the same file — the cross-process analog of writeLock.
  private val processTag: String =
    s"${ProcessHandle.current().pid}-${java.util.UUID.randomUUID().toString.take(8)}"

  // A compaction lock this much older than now is a crashed holder's
  // leftover: stealable. Compacts are minutes, not half-hours.
  private val staleLockMs: Long = 30L * 60 * 1000

  /** Cross-process compaction mutex: an O_EXCL-created lock file beside the
    * table (create-fails-if-exists is atomic on POSIX/NFS/HDFS — the same
    * primitive as WorkQueue's claim CAS). Within a process the per-table
    * writeLock already serializes; this extends the exclusion to a fleet of
    * containers sharing one warehouse (deploy/README.md). A lock whose
    * mtime is older than [[staleLockMs]] is a crashed holder's leftover and
    * is stolen; a live conflict fails loudly rather than interleaving two
    * compacts' GC/flip sequences.
    */
  private def withCompactLock[T](t: TableDef)(body: => T): T = {
    import org.apache.hadoop.fs.Path
    val f = fs(t)
    val lock = new Path(t.path + ".compact.lock")
    def tryAcquire(): Boolean =
      try {
        val out = f.create(lock, false) // no-overwrite create = atomic test-and-set
        try out.write(processTag.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    val acquired = tryAcquire() || {
      val stale =
        try System.currentTimeMillis() - f.getFileStatus(lock).getModificationTime > staleLockMs
        catch { case _: java.io.FileNotFoundException => true } // holder just released
      // ATOMIC steal: rename the stale lock onto a process-unique tombstone
      // — exactly one competitor's rename succeeds, so two stealers can
      // never both "delete and re-create" and end up compacting
      // concurrently. (A compact genuinely running past staleLockMs would
      // be stolen from — compacts are minutes; raise staleLockMs before
      // deploying hour-long ones.)
      val tombstone = new Path(t.path + s".compact.lock.stale.$processTag")
      val stole = stale &&
        (try f.rename(lock, tombstone) catch { case _: java.io.IOException => false })
      if (stole) f.delete(tombstone, false)
      stole && tryAcquire()
    }
    if (!acquired) throw new IllegalStateException(
      s"${t.name}: compaction lock $lock held by another live process")
    try body finally f.delete(lock, false)
  }

  /** Parquet codecs Spark writes without extra jars — the CREATE TABLE
    * `CODEC(...)` axis (ClickHouse defaults LZ4 and offers ZSTD for cold
    * data; the parquet equivalents are snappy and zstd). Per-TABLE, not
    * per-column: parquet sets compression file-wide.
    */
  private val codecs = Set("snappy", "zstd", "gzip", "lz4", "uncompressed")

  /** D1/D2: register ≈ CREATE TABLE (create_db.py:32-33). Idempotent. */
  def createTable(t: TableDef): TableDef = {
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
    // projections: plain-Append FlatDir unpartitioned tables only (the
    // TableDef doc), one per rewrite rule (each rule's registry is keyed
    // by the base path), every referenced column a schema column
    if (t.projections.nonEmpty) {
      require(t.semantics == Append,
        s"${t.name}: projections need plain MergeTree semantics — a " +
          "merging engine's stored rows are partial states, and a rollup " +
          "of partials is not a rollup of the merged view")
      require(t.layout == FlatDir && t.partitionKeys.isEmpty,
        s"${t.name}: projections are maintained per data directory — " +
          "FlatDir unpartitioned tables only")
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
    // the first insert (for FlatDir, after staging work is already done).
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
    // CREATE-time `DEFAULT expr` columns (ChDdl carries the rewritten
    // expression in field metadata, key "chDefault"): validated like
    // MATERIALIZED — the expression must resolve over the non-defaulted,
    // non-materialized columns (a default referencing another DEFAULT
    // column would make the insert fill order-dependent; one referencing
    // a MATERIALIZED column would fail at insert, where defaults fill
    // BEFORE materialization) and cast to the declared type. Installed
    // into the SAME insert-default machinery ALTER ADD COLUMN DEFAULT
    // uses, so `_TABLE` persistence, attach(), and the text-insert fill
    // apply unchanged. No READ default: a CREATE-time default has no
    // pre-existing files to back-fill.
    val createDefaults: Seq[(String, String)] = t.schema.fields.toSeq
      .filter(_.metadata.contains("chDefault"))
      .map(f => f.name -> f.metadata.getString("chDefault"))
    if (createDefaults.nonEmpty) {
      val excluded = createDefaults.map(_._1).toSet ++
        t.materializedCols.map(_._1)
      val baseSchema = StructType(t.schema.fields.filterNot(f =>
        excluded.contains(f.name)))
      val base = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], baseSchema)
      createDefaults.foreach { case (c, e) =>
        val dt = try base.select(expr(e)).schema.head.dataType
          catch { case scala.util.control.NonFatal(ex) =>
            throw new IllegalArgumentException(
              s"${t.name}: DEFAULT $c expression '$e' does not resolve " +
                "over the plain columns (defaults referencing other " +
                "DEFAULT or MATERIALIZED columns are refused — the fill " +
                s"would be evaluation-order-dependent): ${ex.getMessage}") }
        require(org.apache.spark.sql.catalyst.expressions.Cast
            .canCast(dt, t.schema(c).dataType),
          s"${t.name}: DEFAULT $c expression '$e' has type " +
            s"${dt.simpleString}, not castable to declared " +
            s"${t.schema(c).dataType.simpleString}")
      }
    }
    val prior = tables.putIfAbsent(t.name, t)
    // install the defaults only for the WINNING registration (a lost
    // putIfAbsent must not overwrite the live table's default state) and
    // BEFORE persistTableDef, which snapshots defaultSql into the sidecar
    if (prior.isEmpty && createDefaults.nonEmpty) {
      val casts = createDefaults.map { case (c, e) =>
        c -> s"CAST(($e) AS ${t.schema(c).dataType.sql})" }
      defaultSql.put(t.name,
        defaultSql.getOrElse(t.name, Map.empty) ++ casts)
      insertDefaults.put(t.name,
        insertDefaults.getOrElse(t.name, Map.empty) ++
          casts.map { case (c, s) => c -> expr(s) })
    }
    // persist the WINNING definition: when putIfAbsent lost to an existing
    // registration, writing the argument def would leave a _TABLE sidecar
    // describing semantics that were never in effect — attach() after a
    // restart would then apply the wrong merge view
    persistTableDef(tables(t.name))
    registerProjections(tables(t.name))
    tables(t.name)
  }

  /** Install the winning def's projections into the optimizer rewrite
    * rules (idempotent; covers createTable AND attach, which routes
    * here). Registration keys on the DATA path, which is what a base
    * scan's root prints.
    */
  private def registerProjections(t: TableDef): Unit =
    t.projections.foreach { p =>
      val pp = projPath(t, p.name)
      p match {
        case AggProjection(_, dims, sums) =>
          graft.plans.RollupRewrite.register(spark,
            graft.plans.ProjectionDef(dataPath(t), pp, dims, "__cnt",
              sums.map(c => c -> s"__sum_$c").toMap))
        case SortProjection(_, key) =>
          graft.plans.SortedProjectionRewrite.register(spark,
            graft.plans.SortedProjectionDef(dataPath(t), pp, key))
      }
    }

  private def projPath(t: TableDef, proj: String): String =
    new org.apache.hadoop.fs.Path(dataPath(t), s"_proj_$proj").toString

  // ---- persisted table metadata (ATTACH TABLE analog) -------------------
  //
  // ClickHouse stores each table's definition beside its data and ATTACH
  // re-registers it from disk; without this, every process in a fleet
  // must re-declare the identical TableDef after a restart (the deploy
  // runbook's re-declare step). createTable writes a `_TABLE` JSON
  // sidecar (idempotent — same definition, same bytes), and [[attach]]
  // reconstructs the TableDef from the path alone.

  private def tableDefPath(t: TableDef) =
    new org.apache.hadoop.fs.Path(t.path, "_TABLE")

  /** The `_TABLE` JSON for a def — json4s (ships with Spark), not string
    * splicing: column names may legally contain braces/commas/quotes, and
    * a hand-rolled brace counter or comma-joined key list silently
    * mis-parses them.
    */
  private def tableDefJson(t: TableDef): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val sem: org.json4s.JObject = t.semantics match {
      case Append => ("kind" -> "append"): org.json4s.JObject
      case NullEngine => ("kind" -> "null"): org.json4s.JObject
      case ReplacingDedup(keys, v, isDel) =>
        ("kind" -> "replacing") ~ ("keys" -> keys) ~ ("version" -> v) ~
          ("is_deleted" -> isDel)
      case Summing(keys, cols) =>
        ("kind" -> "summing") ~ ("keys" -> keys) ~ ("cols" -> cols)
      case Aggregating(keys, cols, kinds) =>
        ("kind" -> "aggregating") ~ ("keys" -> keys) ~ ("cols" -> cols) ~
          ("state_kinds" -> kinds)
      case Collapsing(keys, sign, version) =>
        ("kind" -> "collapsing") ~ ("keys" -> keys) ~ ("sign" -> sign) ~
          ("version" -> version)
      case JoinAny(keys) =>
        ("kind" -> "join_any") ~ ("keys" -> keys)
    }
    val obj =
      ("name" -> t.name) ~
      ("schema" -> JsonMethods.parse(t.schema.json)) ~
      ("sort_keys" -> t.sortKeys) ~
      ("layout" -> t.layout.toString) ~
      ("partition_keys" -> t.partitionKeys) ~
      ("index_cols" -> t.indexCols) ~
      ("minmax_cols" -> t.minmaxCols) ~
      ("token_index_cols" -> t.tokenIndexCols) ~
      ("codec" -> t.codec) ~
      // pending (un-materialized) column renames must survive a restart:
      // without them attach() would read pre-rename files' old column
      // names as all-null under the renamed schema
      ("renames" -> renamePending.getOrElse(t.name, Map.empty[String, String])) ~
      // ...and pending drops: the physical names may still exist in old
      // files, so re-adding one before a compact must stay refused after
      // a restart (the old stored values would bleed into the new column)
      ("dropped_cols" -> droppedPending.getOrElse(t.name, Set.empty[String]).toSeq.sorted) ~
      // ALTER-added defaults as re-parseable SQL: without these an
      // attach()ed table reads old parts' added columns as bare null
      // (insert defaults are permanent; read defaults only until a
      // compact materializes them — hence the separate retired-state list)
      ("defaults" -> defaultSql.getOrElse(t.name, Map.empty[String, String])) ~
      ("read_default_cols" ->
        readDefaults.getOrElse(t.name, Map.empty[String, Column]).keys.toSeq.sorted) ~
      // declaration-ordered [name, expr] pairs (a JSON object would lose
      // order; constraints report in declared order, like system.tables)
      ("constraints" -> t.constraints.map { case (n, e) => Seq(n, e) }) ~
      ("materialized_cols" ->
        t.materializedCols.map { case (c, e) => Seq(c, e) }) ~
      ("column_codecs" -> t.columnCodecs.map { case (c, k) => Seq(c, k) }) ~
      ("set_index_cols" ->
        t.setIndexCols.map { case (c, n) => Seq(c, n.toString) }) ~
      ("fulltext_cols" ->
        t.fullTextCols.map { case (c, n) => Seq(c, n.toString) }) ~
      ("ann_index" -> t.annIndex.map(a =>
        Seq(a.column, a.nCells.toString, a.m.toString, a.k.toString))) ~
      // [kind, name, cols, sums] rows; cols/sums comma-joined (projection
      // columns are schema identifiers — no commas by construction)
      ("projections" -> t.projections.map {
        case AggProjection(n, dims, sums) =>
          Seq("agg", n, dims.mkString(","), sums.mkString(","))
        case SortProjection(n, k) => Seq("sort", n, k, "")
      }) ~
      ("ttl" -> t.ttl.map(sp =>
        ("col" -> sp.col) ~ ("max_age_sec" -> sp.maxAgeSec) ~
          ("cal_months" -> sp.calMonths) ~
          ("group_keys" -> sp.groupKeys) ~
          ("set" -> sp.set.map { case (c, a) => Seq(c, a) }))) ~
      ("semantics" -> sem)
    JsonMethods.compact(JsonMethods.render(obj))
  }

  /** Write the sidecar into `dir` (normally the table root; compactFlat
    * passes its swap staging dir so the sidecar travels atomically with
    * the directory rename). Best-effort ONLY at registration time —
    * inside a swap the caller lets failures abort the swap instead.
    */
  private def writeTableDef(t: TableDef, dir: String): Unit = {
    val f = fs(t)
    f.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val out = f.create(new org.apache.hadoop.fs.Path(dir, "_TABLE"), true)
    try out.write(tableDefJson(t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def persistTableDef(t: TableDef): Unit =
    try writeTableDef(t, t.path)
    catch { case scala.util.control.NonFatal(_) => () } // metadata best-effort

  /** Re-register a table from its persisted `_TABLE` definition — the
    * ATTACH TABLE analog. Returns the reconstructed def, registered in
    * this catalog under its stored name. Refuses a name collision with an
    * already-registered table at a DIFFERENT path — silently returning
    * the other table's def would leave every read pointed at the wrong
    * storage.
    */
  def attach(path: String): TableDef = {
    import org.apache.hadoop.fs.Path
    import org.json4s.jackson.JsonMethods
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path, "_TABLE")
    val f = p.getFileSystem(conf)
    require(f.exists(p), s"attach: no _TABLE metadata under $path")
    val in = f.open(p)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val j = JsonMethods.parse(json)
    def str(k: String): String = (j \ k) match {
      case org.json4s.JString(s) => s
      case other => throw new IllegalArgumentException(
        s"attach: _TABLE field $k malformed under $path ($other)")
    }
    def list(node: org.json4s.JValue): Seq[String] = node match {
      case org.json4s.JArray(xs) => xs.collect { case org.json4s.JString(s) => s }
      case _ => Seq.empty
    }
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(JsonMethods.compact(JsonMethods.render(j \ "schema")))
      .asInstanceOf[StructType]
    val semNode = j \ "semantics"
    val sem = (semNode \ "kind") match {
      case org.json4s.JString("append") => Append
      case org.json4s.JString("null") => NullEngine
      case org.json4s.JString("replacing") =>
        ReplacingDedup(list(semNode \ "keys"),
          (semNode \ "version").asInstanceOf[org.json4s.JString].s,
          (semNode \ "is_deleted") match {
            case org.json4s.JString(c) => Some(c)
            case _ => None
          })
      case org.json4s.JString("summing") =>
        Summing(list(semNode \ "keys"), list(semNode \ "cols"))
      case org.json4s.JString("aggregating") =>
        // state_kinds is absent in pre-generalization sidecars → all-HLL
        val kinds = (semNode \ "state_kinds") match {
          case org.json4s.JObject(fs) => fs.collect {
            case (k, org.json4s.JString(v)) => k -> v
          }.toMap
          case _ => Map.empty[String, String]
        }
        Aggregating(list(semNode \ "keys"), list(semNode \ "cols"), kinds)
      case org.json4s.JString("collapsing") =>
        Collapsing(list(semNode \ "keys"),
          (semNode \ "sign").asInstanceOf[org.json4s.JString].s,
          (semNode \ "version").asInstanceOf[org.json4s.JString].s)
      case org.json4s.JString("join_any") =>
        JoinAny(list(semNode \ "keys"))
      case other => throw new IllegalArgumentException(
        s"attach: unknown semantics under $path ($other)")
    }
    val layout = str("layout") match {
      case "Versioned" => Versioned
      case _ => FlatDir
    }
    val name = str("name")
    val already = tables.get(name)
    already.foreach { existing =>
      require(existing.path == path,
        s"attach: table $name is already registered at ${existing.path}; " +
          s"refusing to shadow it with $path (detach first)")
    }
    // already registered at THIS path: the live in-memory ALTER state is
    // authoritative (persistTableDef is best-effort, so the sidecar can
    // lag it) — re-attaching must not overwrite it with stale contents
    if (already.isDefined) return already.get
    // capture the pre-attach state so a failed registration restores it
    // exactly instead of merely clearing (the name is unregistered here,
    // so these are normally absent — but restore-what-was beats guess)
    def snap[V](m: scala.collection.concurrent.TrieMap[String, V]) = {
      val prior = m.get(name)
      () => prior match { case Some(v) => m.put(name, v); case None => m.remove(name) }
    }
    val restorePrior: Seq[() => Any] = Seq(snap(renamePending),
      snap(droppedPending), snap(readDefaults), snap(insertDefaults),
      snap(defaultSql))
    // restore ALTER state BEFORE registration: a reader racing the attach
    // must never see the renamed/widened schema without its storage
    // mapping or default fill
    def strMap(node: org.json4s.JValue): Map[String, String] = node match {
      case org.json4s.JObject(fields) => fields.collect {
        case (k, org.json4s.JString(v)) => k -> v
      }.toMap
      case _ => Map.empty
    }
    val ren = strMap(j \ "renames")
    if (ren.nonEmpty) renamePending.put(name, ren)
    val dropped = list(j \ "dropped_cols")
    if (dropped.nonEmpty) droppedPending.put(name, dropped.toSet)
    val defs = strMap(j \ "defaults")
    if (defs.nonEmpty) {
      defaultSql.put(name, defs)
      insertDefaults.put(name, defs.map { case (c, s) => c -> expr(s) })
      val readCols = list(j \ "read_default_cols").toSet
      val rd = defs.filter { case (c, _) => readCols.contains(c) }
      if (rd.nonEmpty)
        readDefaults.put(name, rd.map { case (c, s) => c -> expr(s) })
    }
    // codec defaulted when absent: sidecars written before the axis
    // existed keep attaching (and parquet self-describes per file anyway)
    val codec = (j \ "codec") match {
      case org.json4s.JString(c) => c
      case _ => "snappy"
    }
    // registration can still fail (corrupt codec, malformed semantics
    // lists) — the pending ALTER state restored above must not outlive a
    // failed attach, or a LATER table created under the same name would
    // inherit another table's defaults and stored-name refusals
    def pairList(node: org.json4s.JValue): Seq[(String, String)] =
      node match {
        case org.json4s.JArray(xs) => xs.collect {
          case org.json4s.JArray(List(org.json4s.JString(a),
            org.json4s.JString(b))) => a -> b
        }
        case _ => Nil
      }
    try createTable(TableDef(name, path, schema, list(j \ "sort_keys"), sem,
      layout, list(j \ "partition_keys"), list(j \ "index_cols"),
      list(j \ "minmax_cols"), codec, pairList(j \ "constraints"),
      pairList(j \ "materialized_cols"),
      // absent in pre-token-index / pre-column-codec sidecars → none
      list(j \ "token_index_cols"),
      pairList(j \ "column_codecs"),
      pairList(j \ "set_index_cols").map { case (c, n) => c -> n.toInt },
      pairList(j \ "fulltext_cols").map { case (c, n) => c -> n.toInt },
      (j \ "ann_index") match {
        case org.json4s.JArray(List(org.json4s.JString(c),
            org.json4s.JString(nc), org.json4s.JString(m),
            org.json4s.JString(k))) =>
          Some(AnnIndexDef(c, nc.toInt, m.toInt, k.toInt))
        case _ => None // absent in pre-ANN sidecars
      },
      (j \ "projections") match {
        case org.json4s.JArray(xs) => xs.collect {
          case org.json4s.JArray(List(org.json4s.JString("agg"),
              org.json4s.JString(n), org.json4s.JString(d),
              org.json4s.JString(s))) =>
            AggProjection(n, d.split(',').filter(_.nonEmpty).toSeq,
              s.split(',').filter(_.nonEmpty).toSeq)
          case org.json4s.JArray(List(org.json4s.JString("sort"),
              org.json4s.JString(n), org.json4s.JString(k),
              org.json4s.JString(_))) => SortProjection(n, k)
        }
        case _ => Nil // absent in pre-projection sidecars
      },
      (j \ "ttl") match {
        case o: org.json4s.JObject =>
          val ttlCol = (o \ "col").asInstanceOf[org.json4s.JString].s
          val age = (o \ "max_age_sec") match {
            case org.json4s.JInt(n) => n.toLong
            case org.json4s.JLong(n) => n
            case other => throw new IllegalArgumentException(
              s"attach: TTL max_age_sec malformed under $path ($other)")
          }
          val calMonths = (o \ "cal_months") match {
            case org.json4s.JInt(n) => Some(n.toLong)
            case org.json4s.JLong(n) => Some(n)
            case _ => None // absent: fixed-seconds TTL / older sidecar
          }
          Some(TtlSpec(ttlCol, age, list(o \ "group_keys"),
            pairList(o \ "set"), calMonths))
        case _ => None // absent in pre-TTL sidecars
      }))
    catch {
      case e: Throwable =>
        if (!tables.contains(name)) restorePrior.foreach(_.apply())
        throw e
    }
  }

  /** Forget a table's registration, keeping its storage — DETACH TABLE.
    * [[attach]] (or a fresh createTable with the same def) re-registers.
    * Per-table ALTER state is dropped with the registration — it is all
    * persisted in the `_TABLE` sidecar, and leaving it would poison a
    * DIFFERENT table later attached under the same name.
    */
  def detach(name: String): Unit = {
    tables.remove(name)
    renamePending.remove(name)
    droppedPending.remove(name)
    readDefaults.remove(name)
    insertDefaults.remove(name)
    defaultSql.remove(name)
  }

  /** `DROP TABLE [IF EXISTS]` — deregister AND delete storage (the
    * difference from [[detach]], exactly CH's DETACH-vs-DROP split).
    * Projection rewrite registrations are retired first so the optimizer
    * rules never point at deleted paths. Access-control registries (row
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
          t.projections.foreach {
            case _: AggProjection =>
              graft.plans.RollupRewrite.unregister(dataPath(t))
            case _: SortProjection =>
              graft.plans.SortedProjectionRewrite.unregister(dataPath(t))
          }
          detach(name)
          rowPolicies.remove(name)
          columnGrants.remove(name)
          columnMasks.remove(name)
          fs(t).delete(new org.apache.hadoop.fs.Path(t.path), true)
        }
        true
    }

  /** `RENAME TABLE from TO to` — re-registration under the new name;
    * storage stays at its path (the `_TABLE` sidecar records the new
    * name, so a later ATTACH of that path resolves to it — CH renames the
    * metadata object the same way). Pending ALTER state follows the name.
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
      move(renamePending); move(droppedPending)
      move(readDefaults); move(insertDefaults); move(defaultSql)
      // access control FOLLOWS the table: a rename that silently dropped
      // row policies / column grants would un-filter readAs under the
      // new name — the one registry class that must never detach quietly
      move(rowPolicies); move(columnGrants); move(columnMasks)
      tables.remove(from)
      tables.put(to, t.copy(name = to))
      persistTableDef(tables(to))
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
    * exchanges can never deadlock; pending ALTER state swaps with the
    * names; both sidecars re-persist so ATTACH resolves the new names.
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
      swap(renamePending); swap(droppedPending)
      swap(readDefaults); swap(insertDefaults); swap(defaultSql)
      // access control follows the names (the renameTable doc)
      swap(rowPolicies); swap(columnGrants); swap(columnMasks)
      tables.put(a, tb.copy(name = a))
      tables.put(b, ta.copy(name = b))
      persistTableDef(tables(a))
      persistTableDef(tables(b))
    }}
  }

  // ALTER ADD COLUMN defaults, two lifetimes (values pre-cast to the
  // declared type):
  //   - readDefaults: coalesce applied at READ time for parts written
  //     before the column existed. Retired per table once a
  //     compact/mutation materializes the default into every stored row —
  //     afterwards an explicitly stored NULL reads back as NULL, never as
  //     the default.
  //   - insertDefaults: permanent table metadata (ClickHouse DEFAULT):
  //     a batch that OMITS the column fills at insert time, forever.
  private val readDefaults =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, Column]]
  private val insertDefaults =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, Column]]
  // the same defaults as storable SQL (`CAST(<literal> AS <type>)`) — the
  // Column maps are runtime objects; the `_TABLE` sidecar needs a form
  // attach() can re-parse after a restart (Spark 4's Column no longer
  // exposes its expression, so the SQL is captured at addColumn time)
  private val defaultSql =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, String]]

  // ALTER DROP COLUMN, pending materialization: the PHYSICAL column names
  // that may still exist inside old data files for each dropped column
  // (the declared name, plus its pre-rename stored name if a rename was
  // pending). Readers ignore them for free (absent from the read schema),
  // but re-introducing one before a compact rewrites storage must be
  // refused — the old files' stored values would bleed into the new
  // column. Persisted in the `_TABLE` sidecar; retired on compact.
  private val droppedPending =
    scala.collection.concurrent.TrieMap.empty[String, Set[String]]

  // ALTER RENAME COLUMN, pending materialization: newName -> oldName per
  // table. Files written before the rename carry the old name; the read
  // path surfaces them under the new name until a compact/mutation
  // rewrites storage (then the mapping retires, like readDefaults).
  // Persisted in the _TABLE sidecar so attach() after a restart keeps
  // reading pre-rename files correctly.
  private val renamePending =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, String]]

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
    * NULL; afterwards it is a plain nullable column).
    *
    * The default is validated against the declared type up front — a
    * default the type can't hold would otherwise silently retype the
    * read-side column and the next compact would write that wrong type
    * into storage, corrupting the table against its own schema.
    */
  def addColumn(name: String, field: StructField, default: Any): Unit =
    writeLock(name).synchronized {
      val t = get(name)
      require(!t.schema.fieldNames.contains(field.name),
        s"addColumn($name): column ${field.name} already exists")
      // a name that is still a PHYSICAL stored name — the pre-rename name
      // of a renamed column, or a dropped column not yet compacted away —
      // would read old files' stored values into the new column
      require(!stored(name).contains(field.name),
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
      val cast = lit(default).cast(field.dataType)
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
      // defaults BEFORE the schema swap: read() takes no lock, so a
      // reader racing this block must either see the old schema (column
      // invisible) or the new schema WITH its default — never the widened
      // schema with bare nulls. applyDefaults skips columns a frame
      // doesn't carry, so the defaults-first window is harmless.
      readDefaults.put(name,
        readDefaults.getOrElse(name, Map.empty) + (field.name -> cast))
      insertDefaults.put(name,
        insertDefaults.getOrElse(name, Map.empty) + (field.name -> cast))
      defaultSql.put(name, defaultSql.getOrElse(name, Map.empty) +
        (field.name -> s"CAST(${inLit.sql} AS ${field.dataType.sql})"))
      tables.put(name, t.copy(schema = StructType(t.schema.fields :+ field)))
      // the persisted definition must track the ALTER, or attach() after
      // a restart reconstructs the pre-ALTER schema and hides the column
      persistTableDef(tables(name))
    }

  /** `ALTER TABLE … MODIFY COLUMN c DEFAULT expr` / `… REMOVE DEFAULT` —
    * declare, replace, or retire a column's INSERT default in place.
    * Metadata-only: stored rows are untouched; the new declaration
    * applies to future inserts (including the text doors' per-row absent
    * fields). The field's `chDefault` metadata tracks the live
    * declaration so SHOW CREATE renders it and attach() re-installs it.
    * REMOVE DEFAULT also retires the column's pending READ default, so
    * old parts' missing values read back as NULL from that point — the
    * declaration is gone, nothing should keep filling.
    */
  def modifyColumnDefault(name: String, column: String,
                          defaultExprSql: Option[String]): Unit =
    writeLock(name).synchronized {
      val t = get(name)
      require(t.schema.fieldNames.contains(column),
        s"modifyColumnDefault($name): no such column $column")
      require(!t.materializedCols.exists(_._1 == column),
        s"modifyColumnDefault($name): $column is MATERIALIZED — it has " +
          "no insert default to modify")
      defaultExprSql match {
        case Some(e) =>
          // validate like CREATE: resolve over the PLAIN columns only
          // (not self, not other defaulted, not materialized) and cast
          val excluded = t.schema.fields
            .filter(f => f.name == column ||
              f.metadata.contains("chDefault")).map(_.name).toSet ++
            t.materializedCols.map(_._1) ++
            insertDefaults.getOrElse(name, Map.empty).keySet
          val base = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(t.schema.fields.filterNot(f => excluded(f.name))))
          val dt = try base.select(expr(e)).schema.head.dataType
            catch { case scala.util.control.NonFatal(ex) =>
              throw new IllegalArgumentException(
                s"modifyColumnDefault($name): DEFAULT '$e' does not " +
                  s"resolve over the plain columns: ${ex.getMessage}") }
          require(org.apache.spark.sql.catalyst.expressions.Cast
              .canCast(dt, t.schema(column).dataType),
            s"modifyColumnDefault($name): DEFAULT '$e' has type " +
              s"${dt.simpleString}, not castable to declared " +
              s"${t.schema(column).dataType.simpleString}")
          val cast = s"CAST(($e) AS ${t.schema(column).dataType.sql})"
          defaultSql.put(name,
            defaultSql.getOrElse(name, Map.empty) + (column -> cast))
          insertDefaults.put(name,
            insertDefaults.getOrElse(name, Map.empty) + (column -> expr(cast)))
        case None =>
          defaultSql.put(name,
            defaultSql.getOrElse(name, Map.empty) - column)
          insertDefaults.put(name,
            insertDefaults.getOrElse(name, Map.empty) - column)
          readDefaults.put(name,
            readDefaults.getOrElse(name, Map.empty) - column)
      }
      val fields = t.schema.fields.map { f =>
        if (f.name != column) f
        else defaultExprSql match {
          case Some(e) => f.copy(metadata = new org.apache.spark.sql.types
            .MetadataBuilder().withMetadata(f.metadata)
            .putString("chDefault", e).build())
          case None => f.copy(metadata = metadataWithout(f.metadata, "chDefault"))
        }
      }
      tables.put(name, t.copy(schema = StructType(fields)))
      persistTableDef(tables(name))
    }

  // MetadataBuilder cannot remove a key — round-trip through its JSON
  private def metadataWithout(m: org.apache.spark.sql.types.Metadata,
                              key: String): org.apache.spark.sql.types.Metadata = {
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(m.json).removeField { case (n, _) => n == key }
    org.apache.spark.sql.types.Metadata.fromJson(
      JsonMethods.compact(JsonMethods.render(j)))
  }

  /** `ALTER TABLE name RENAME COLUMN from TO to` — metadata-only, like
    * ClickHouse: the declared schema renames in place, old parquet files
    * keep the old physical name, and the read path maps them under the new
    * name (see [[renamePending]]) until the next compact/mutation rewrites
    * storage with the new name and retires the mapping. Key columns (sort/
    * partition/semantics/index keys) are refused, matching ClickHouse's
    * "cannot rename key column" — every downstream merge view and layout
    * decision is keyed by name.
    */
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
  private def stored(name: String): Set[String] =
    renamePending.getOrElse(name, Map.empty).values.toSet ++
      droppedPending.getOrElse(name, Set.empty)

  def renameColumn(name: String, from: String, to: String): Unit =
    writeLock(name).synchronized {
      val t = get(name)
      require(t.schema.fieldNames.contains(from),
        s"renameColumn($name): no such column $from")
      require(!t.schema.fieldNames.contains(to),
        s"renameColumn($name): column $to already exists")
      require(!stored(name).contains(to),
        s"renameColumn($name): $to is still a stored column name in " +
          s"un-rewritten files (compact first)")
      require(!keyCols(t).contains(from),
        s"renameColumn($name): $from is a key/engine column")
      // a column can be renamed AGAIN before materialization: collapse the
      // chain so the mapping always points at the PHYSICAL stored name
      val prior = renamePending.getOrElse(name, Map.empty)
      val physical = prior.getOrElse(from, from)
      renamePending.put(name, (prior - from) + (to -> physical))
      // ALTER-added-column state follows the rename (its default keeps
      // filling under the new name)
      readDefaults.get(name).filter(_.contains(from)).foreach(m =>
        readDefaults.put(name, (m - from) + (to -> m(from))))
      insertDefaults.get(name).filter(_.contains(from)).foreach(m =>
        insertDefaults.put(name, (m - from) + (to -> m(from))))
      defaultSql.get(name).filter(_.contains(from)).foreach(m =>
        defaultSql.put(name, (m - from) + (to -> m(from))))
      tables.put(name, t.copy(
        schema = StructType(t.schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f)),
        // the declared codec follows the column (CH: codecs are part of
        // the column declaration, renaming keeps them)
        columnCodecs = t.columnCodecs.map {
          case (`from`, k) => (to, k); case p => p
        }))
      persistTableDef(tables(name))
    }

  /** `ALTER TABLE name DROP COLUMN column` — metadata-only: the declared
    * schema narrows, readers stop projecting the column immediately
    * (Spark's parquet reader ignores file columns absent from the read
    * schema), and the next compact rewrites storage without it. Key
    * columns are refused for the same reason as [[renameColumn]].
    */
  def dropColumn(name: String, column: String): Unit =
    writeLock(name).synchronized {
      val t = get(name)
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
      val physical = renamePending.getOrElse(name, Map.empty)
        .getOrElse(column, column)
      droppedPending.put(name,
        droppedPending.getOrElse(name, Set.empty) + column + physical)
      renamePending.get(name).foreach(m =>
        renamePending.put(name, m - column))
      readDefaults.get(name).foreach(m => readDefaults.put(name, m - column))
      insertDefaults.get(name).foreach(m => insertDefaults.put(name, m - column))
      defaultSql.get(name).foreach(m => defaultSql.put(name, m - column))
      tables.put(name, t.copy(
        schema = StructType(t.schema.fields.filterNot(_.name == column)),
        columnCodecs = t.columnCodecs.filterNot(_._1 == column)))
      persistTableDef(tables(name))
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
    writeLock(name).synchronized {
      val t = get(name)
      require(t.schema.fieldNames.contains(column),
        s"modifyColumnType($name): no such column $column")
      val old = t.schema(column).dataType
      if (old == newType) return
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
      // ALTER-added defaults re-cast to the wide type, so read coalesce
      // and insert fill produce the declared type (not a coerced hybrid)
      readDefaults.get(name).filter(_.contains(column)).foreach(m =>
        readDefaults.put(name, m + (column -> m(column).cast(newType))))
      insertDefaults.get(name).filter(_.contains(column)).foreach(m =>
        insertDefaults.put(name, m + (column -> m(column).cast(newType))))
      defaultSql.get(name).filter(_.contains(column)).foreach(m =>
        defaultSql.put(name,
          m + (column -> s"CAST((${m(column)}) AS ${newType.sql})")))
      tables.put(name, t.copy(schema = StructType(t.schema.fields.map(f =>
        if (f.name == column) f.copy(dataType = newType) else f))))
      persistTableDef(tables(name))
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

  /** Fill ALTER-added columns' nulls with their declared defaults (old
    * parts only — see [[readDefaults]] retirement).
    */
  private def applyDefaults(name: String, df: DataFrame): DataFrame =
    readDefaults.getOrElse(name, Map.empty).foldLeft(df) {
      case (d, (c, v)) if d.columns.contains(c) =>
        d.withColumn(c, coalesce(col(c), v))
      case (d, _) => d // pre-swap reader: column not in its schema yet
    }

  /** Insert-time default materialization: an OMITTED column is added, and
    * nulls in a CARRIED column also fill. The null-fill is load-bearing
    * for consistency, not convenience: the read path coalesces the whole
    * table while readDefaults is live (it cannot tell pre-ALTER parts
    * from new ones), so if an explicit NULL were stored verbatim it would
    * READ as the default and then be permanently materialized into the
    * default by the next compact — a silent rewrite of inserted data.
    * Filling at insert makes storage and reads agree at every point:
    * until the default is materialized the column simply cannot hold
    * NULL; after materialization (readDefaults retired) it behaves like
    * any nullable column, explicit NULLs included.
    */
  /** Columns with a registered ALTER-declared insert DEFAULT — the text
    * insert door (ChDdl InsertValues) leaves these out of its type-default
    * fill so [[fillOmittedDefaults]] applies the declared value instead.
    */
  def insertDefaultColumns(name: String): Set[String] =
    insertDefaults.getOrElse(name, Map.empty).keySet

  /** The declared insert DEFAULT of one column, Column form — the text
    * insert doors coalesce per-row ABSENT fields with it (CH's
    * JSONEachRow semantics: a missing field takes the declared default,
    * else the type default).
    */
  def insertDefault(name: String, column: String): Option[Column] =
    insertDefaults.getOrElse(name, Map.empty).get(column)

  private def fillOmittedDefaults(name: String, batch: DataFrame): DataFrame =
    insertDefaults.getOrElse(name, Map.empty).foldLeft(batch) {
      case (d, (c, v)) if !d.columns.contains(c) => d.withColumn(c, v)
      case (d, (c, v)) if readDefaults.get(name).exists(_.contains(c)) =>
        d.withColumn(c, coalesce(col(c), v))
      case (d, _) => d
    }

  def get(name: String): TableDef =
    tables.getOrElse(name, throw new NoSuchElementException(s"table $name"))

  // through the path's own Hadoop FileSystem, like compact(): a
  // java.io.File probe would answer false for every non-local warehouse
  def exists(name: String): Boolean = tables.contains(name) && {
    val t = get(name)
    val f = fs(t)
    dataPaths(t).exists(p => f.exists(new org.apache.hadoop.fs.Path(p)))
  }

  private def fs(t: TableDef): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(t.path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def manifestPath(t: TableDef) =
    new org.apache.hadoop.fs.Path(t.path, "_CURRENT")

  /** Live version dir name for a [[Versioned]] table. Resolution order:
    * the `_CURRENT` manifest; else the highest-numbered complete version
    * (the manifest is only ever absent mid-flip, i.e. AFTER its successor's
    * data is fully written); else `v0` for a not-yet-written table.
    */
  private def currentVersion(t: TableDef): String = {
    val f = fs(t)
    val m = manifestPath(t)
    if (f.exists(m)) {
      val in = f.open(m)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    } else listVersions(t).sortBy(versionNum).lastOption.getOrElse("v0")
  }

  private def versionNum(v: String): Long = v.drop(1).toLong

  private def listVersions(t: TableDef): Seq[String] = {
    val f = fs(t)
    val base = new org.apache.hadoop.fs.Path(t.path)
    if (!f.exists(base)) Seq.empty
    else f.listStatus(base).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.matches("v\\d+"))
  }

  /** Physical Parquet directory all reads/appends target. */
  private def dataPath(t: TableDef): String = t.layout match {
    case FlatDir => t.path
    case Versioned =>
      new org.apache.hadoop.fs.Path(t.path, currentVersion(t)).toString
  }

  // ---- multi-writer append segments (Versioned layout) -----------------
  //
  // Concurrent APPENDS from different processes to one Versioned table
  // never share an output directory: each append stages its batch into a
  // process-unique `seg-<tag>` dir beside the version dirs, then commits
  // it with ONE atomic operation — an O_EXCL create of a marker file under
  // `_segs/` (the same create-fails-if-exists primitive as the compaction
  // lock and the queue claim CAS; on an object store, a conditional PUT).
  // Add-only markers mean two writers cannot lose each other's update and
  // nothing ever aborts; a crash before the marker leaves an invisible
  // stage dir that compaction age-GCs. Readers see version dir + committed
  // segments; compact folds the segments it SNAPSHOTTED into the next
  // version and unmarks exactly those, so a segment committed mid-compact
  // stays visible throughout. This promotes the deploy/README.md
  // "manifest-flip race" contract from docs to a real commit protocol.

  private def segMarkerDir(t: TableDef) =
    new org.apache.hadoop.fs.Path(t.path, "_segs")

  /** Committed segment dirs, by marker listing. `.folded` tombstones (a
    * previous compact's grace-window bookkeeping) are not live segments.
    */
  private def committedSegments(t: TableDef): Seq[String] = {
    val f = fs(t)
    val md = segMarkerDir(t)
    if (!f.exists(md)) Seq.empty
    else f.listStatus(md).toSeq.filter(_.isFile).map(_.getPath.getName)
      .filter(!_.endsWith(".folded"))
      .filter(s => f.exists(new org.apache.hadoop.fs.Path(t.path, s)))
      .sorted
  }

  /** Segment names a version dir absorbed when compaction wrote it — its
    * `_FOLDED` sidecar, written BEFORE the manifest flips to the version.
    * Readers subtract this set from the committed-segment list, which
    * makes the fold exclusion ATOMIC with version resolution: whichever
    * version a reader lands on (manifest or highest-complete fallback),
    * the segments that version already contains are never ALSO scanned.
    * Without it, the window between manifest flip and segment unmark —
    * and permanently, a crash inside that window — double-counted folded
    * rows on Append tables (no merge view to collapse them) and re-folded
    * them into the next compact's output.
    */
  private def foldedOf(t: TableDef, version: String): Set[String] = {
    import org.apache.hadoop.fs.Path
    val f = fs(t)
    val p = new Path(new Path(t.path, version), "_FOLDED")
    if (!f.exists(p)) Set.empty
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().map(_.trim).filter(_.nonEmpty).toSet
      finally in.close()
    }
  }

  /** Every directory a read must scan: live version dir + committed
    * segments it has not absorbed (Versioned), or the flat dir.
    *
    * Resolution order is deliberate — segments FIRST, manifest second.
    * Compaction commits in the opposite order (flip manifest, then unmark
    * the folded segments), so a reader that straddles the flip resolves
    * either the old consistent view or the new version plus a just-folded
    * segment — which [[foldedOf]] then excludes, for EVERY semantics
    * including Append. The reverse order would instead transiently DROP
    * the folded rows (old version, markers already gone), which nothing
    * can repair.
    */
  private def dataPaths(t: TableDef): Seq[String] = t.layout match {
    case FlatDir => Seq(t.path)
    case Versioned =>
      // segment listing must happen BEFORE the manifest read (see the doc
      // comment above): a reader that straddles a concurrent compact then
      // resolves either old-consistent or new-version-plus-excluded-segment
      val segNames = committedSegments(t)
      val curV = currentVersion(t)
      val segs = segNames
        .filterNot(foldedOf(t, curV))
        .map(s => new org.apache.hadoop.fs.Path(t.path, s).toString)
      val cur = new org.apache.hadoop.fs.Path(t.path, curV).toString
      // a fresh table whose only data is appended segments has no version
      // dir yet — passing the nonexistent dir to the scan would fail it
      if (segs.nonEmpty && !fs(t).exists(new org.apache.hadoop.fs.Path(cur))) segs
      else cur +: segs
  }

  /** S4: columnar append, clustered by the declared sort key on the way in
    * (O3) — `repartitionByRange` gives cross-file range layout, then
    * `sortWithinPartitions` gives Parquet row groups whose min/max stats
    * replicate the sparse-primary-index skipping of `ORDER BY` tables
    * (types.json:7). ReplacingDedup batches are pre-collapsed so a single
    * batch can never introduce duplicates on its own.
    *
    * Returns the number of rows appended. The batch is cached around the
    * count+write pair so the source is scanned once — callers (ingest row
    * accounting, importer.py:111's "Inserted N rows") get the batch size in
    * O(batch), never via a full-table scan.
    */
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
  // window funnels). The commit rides the SAME crash-safe machinery as
  // mutations (FlatDir two-rename / Versioned manifest flip via
  // [[mutate]]), so a crashed refresh leaves the PRIOR contents fully
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
    * view: concurrent appends to it would be swapped away by the next
    * refresh, exactly like writing into a CH refreshable MV's target.
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
      // every later refresh is a full copy-on-write swap
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
      catch { case _: Throwable => None } // recorded in lastError
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
  // travel in the _TABLE sidecar.

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
    * and Spark's commit protocol (FlatDir) / the segment marker
    * (Versioned) makes the failed insert atomically invisible. SQL CHECK
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

  def append(name: String, batch: DataFrame): Long =
    append(name, batch, blockBytes = -1L)

  /** Append with a caller-MEASURED block size (bytes). A caller that has
    * already materialized the batch (the Distributed facade's routed
    * insert caches + counts the whole batch before slicing) knows the
    * block's true footprint for free, so the clustering exchange can be
    * sized to the BLOCK instead of the session-parallelism floor
    * (guide §2.2 — derive partitioning from input size, never a constant
    * tuned for one deployment). A shard-sized slice of a small insert
    * collapses to a single narrow coalesce+sort (no exchange, no
    * RangePartitioner sample job); a 100 TB slice resolves to the same
    * partBytes-bounded fan-out blockParts would pick. Callers that have
    * NOT measured their block pass -1 and keep the floor (the multi-file
    * range layout the skip-index granularity fixtures build on is only
    * ever relaxed on measured evidence).
    */
  def append(name: String, batch: DataFrame, blockBytes: Long): Long = {
    val t = get(name)
    val filled = materializeAndCheck(t, fillOmittedDefaults(name, batch))
    // ENGINE = Null: type-check + count, discard, fan out to MVs. The
    // batch is cached around the count so attached transforms don't
    // recompute an arbitrary upstream lineage once per view.
    if (t.semantics == NullEngine) {
      val aligned = filled.select(t.schema.fieldNames.toSeq.map(n => col(s"`$n`")): _*)
      aligned.cache()
      try {
        val n = aligned.count()
        fanOutMvs(name, aligned)
        return n
      } finally aligned.unpersist()
    }
    val sorted = clusteredFor(t, preMergedBlock(t, filled),
      blockBytes = blockBytes)
    val n = writeLock(name).synchronized {
      // an append into a mid-swap table would recreate it with just this
      // batch, and the next compact's "stale leftovers" delete would then
      // discard the original data for good — finish the swap first
      recoverInterruptedSwap(t)
      // Versioned: pin the manifest at first write so "manifest absent"
      // always implies "a fully-written successor exists" (the fallback's
      // soundness condition — see compactVersioned)
      if (t.layout == Versioned && !fs(t).exists(manifestPath(t)))
        writeManifest(t, currentVersion(t))
      // one execution of the clustered block (the write itself); the
      // returned count is OBSERVED on the write plan (see writeData) —
      // the old cache+count pre-pass paid a second materialization per
      // append, and the round-14 footer read-back paid one driver
      // round-trip per written file
      if (t.layout == Versioned) commitSegment(t, sorted)
      else writeData(t, sorted, dataPath(t), mode = "append")._1
    }
    // MV fan-out AFTER the base commit and OUTSIDE its lock (a target's
    // append takes its own lock; holding the source's across both invites
    // lock-order deadlock). MVs see the block AS INSERTED (pre-merge).
    fanOutMvs(name, filled)
    n
  }

  /** Run `name`'s attached materialized views over one inserted block —
    * sequential, base-committed-first (failure contract on the registry
    * doc). The batch is cached around the fan-out so N views don't
    * recompute the upstream lineage N times.
    */
  private def fanOutMvs(name: String, batch: DataFrame): Unit = {
    val mvs = attachedMvs.getOrElse(name, Vector.empty)
    if (mvs.isEmpty) return
    batch.cache()
    try mvs.foreach(m => append(m.target, m.transform(batch)))
    finally batch.unpersist()
  }

  /** Multi-writer Versioned append (doc at [[segMarkerDir]]): stage to a
    * process-unique segment dir, then commit with one atomic marker
    * create. The stage write is a fresh-directory overwrite, so two
    * processes can never interleave inside one Spark `_temporary` staging
    * tree the way concurrent same-directory appends would.
    */
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
    * MOST ONCE per `token`. Rides the Versioned segment-marker commit —
    * the segment dir name is derived from the token, so the marker's
    * O_EXCL create IS the dedup test-and-set: a replayed block (client
    * retry, crashed ingestion loop, [[graft.streaming.DirTail]]'s
    * roll-forward) sees the marker and is DROPPED, not double-inserted.
    * Returns Some(rowCount) when this call committed the block, None when
    * the token had already landed (the block is untouched and the caller
    * may treat the insert as done — CH returns OK for deduped inserts).
    *
    * Dedup window caveat, exactly ClickHouse's: a compact FOLDS the
    * segment into the next version and retires its marker, after which
    * the token can land again — like `insert_deduplication_window`
    * bounding CH's block-hash log. Callers needing unbounded replay
    * protection must track delivery themselves (DirTail's offsets commit
    * does) and use this as the crash-window guard, not the ledger.
    *
    * Single writer per TOKEN assumed (concurrent same-token writers may
    * both stage into the deterministic dir; the marker CAS still admits
    * only one, but the loser can corrupt the winner's staged files on an
    * overlapped write — DirTail's one-consumer-per-source discipline).
    */
  def appendIdempotent(name: String, batch: DataFrame,
                       token: String): Option[Long] = {
    import org.apache.hadoop.fs.Path
    val t = get(name)
    require(t.layout == Versioned,
      s"$name: appendIdempotent rides the segment-marker commit " +
        "(Versioned layout only)")
    require(t.semantics != NullEngine,
      s"$name: ENGINE=Null discards data — a dedup token has nothing " +
        "to deduplicate against")
    val san = token.replaceAll("[^A-Za-z0-9._-]", "_")
    require(san.nonEmpty && san.length <= 180,
      s"$name: dedup token must be 1-180 chars after sanitization")
    // the sanitized stem is for operator legibility only; the sha1 prefix
    // of the RAW token makes the segment name collision-free — without it
    // distinct tokens like "a b" and "a_b" collapse to one segment and the
    // second block is silently swallowed as a replay
    val rawHash = java.security.MessageDigest.getInstance("SHA-1")
      .digest(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(5).map("%02x".format(_)).mkString
    val seg = s"seg-tok-$san-$rawHash"
    val committed = writeLock(name).synchronized {
      recoverInterruptedSwap(t)
      val f = fs(t)
      val marker = new Path(segMarkerDir(t), seg)
      // marker OR folded tombstone present → the block already landed
      // (and possibly was already compacted into a version)
      if (f.exists(marker) || f.exists(new Path(segMarkerDir(t), seg + ".folded")))
        None
      else {
        if (!f.exists(manifestPath(t))) writeManifest(t, currentVersion(t))
        val segPath = new Path(t.path, seg)
        // a crashed prior attempt's partial stage is invisible (no
        // marker) — clear and restage
        if (f.exists(segPath)) f.delete(segPath, true)
        val filled = materializeAndCheck(t, fillOmittedDefaults(name, batch))
        val sorted = clusteredFor(t, preMergedBlock(t, filled))
        val cnt = writeData(t, sorted, segPath.toString)._1
        f.mkdirs(segMarkerDir(t))
        val won =
          try {
            val out = f.create(marker, false) // atomic commit + dedup CAS
            try out.write(processTag.getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
            finally out.close()
            true
          } catch {
            // ONLY an already-exists outcome is "lost the race": a
            // transient IOException must propagate so the caller
            // retries — swallowing it as a loss deletes the staged
            // segment and returns None, and a caller like DirTail then
            // advances committed offsets past bytes never ingested
            case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
            case _: java.nio.file.FileAlreadyExistsException => false
            case e: java.io.IOException =>
              if (f.exists(marker)) false else throw e
          }
        if (won) {
          f.delete(new Path(segMarkerDir(t), seg + ".orphan"), false)
          Some((cnt, filled))
        } else {
          // a cross-process racer committed the token first: this copy
          // of the block is surplus
          f.delete(segPath, true)
          None
        }
      }
    }
    // MV fan-out exactly once — only the committing call triggers, after
    // the base commit and outside its lock (same discipline as append)
    committed.map { case (cnt, filled) => fanOutMvs(name, filled); cnt }
  }

  private def commitSegment(t: TableDef, batch: DataFrame): Long = {
    import org.apache.hadoop.fs.Path
    val f = fs(t)
    val seg = s"seg-$processTag-${java.util.UUID.randomUUID().toString.take(8)}"
    val (rows, _) = writeData(t, batch, new Path(t.path, seg).toString)
    f.mkdirs(segMarkerDir(t))
    val out = f.create(new Path(segMarkerDir(t), seg), false) // atomic commit
    try out.write(processTag.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // void a GC nomination a concurrent compact may have written while
    // this (long) data write looked abandoned — the marker above already
    // makes the segment live, so the tombstone must not outlive it
    f.delete(new Path(segMarkerDir(t), seg + ".orphan"), false)
    rows
  }

  /** Finish a compact swap a crash interrupted (doc on [[compact]]): table
    * path absent with `.compact.tmp`/`.compact.old` present means the only
    * surviving copies are the swap artifacts — every entry point that
    * touches storage (append / read / readRaw / compact) runs this first,
    * so no caller can ever observe, recreate, or delete a mid-swap table.
    * One `exists` probe when the table is healthy.
    */
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
      if (forCompact || blockBytes < 0) None
      else {
        val partBytes = spark.conf.get("graft.append.partBytes",
          (16L * 1024 * 1024).toString).toLong
        val maxParts = spark.conf.get("graft.append.maxParts", "10000").toInt
        Some(math.min(maxParts.toLong,
          blockBytes / math.max(partBytes, 1L) + 1).toInt)
      }
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
  private def blockParts(df: DataFrame, floor: Int): Int = {
    val partBytes = spark.conf.get("graft.append.partBytes",
      (16L * 1024 * 1024).toString).toLong
    val maxParts = spark.conf.get("graft.append.maxParts", "10000").toInt
    val leafBytes = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes)
      .filter(_.isValidLong).map(_.toLong).sum
    val scaled = leafBytes / math.max(partBytes, 1L) + 1
    math.max(floor, math.min(maxParts.toLong, scaled).toInt)
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

  /** The visible data files under `path`, as path strings — used to diff
    * the file set across an append so projection companions derive from
    * the WRITTEN block (see [[writeData]]).
    */
  private def listDataFiles(t: TableDef, path: String): Set[String] =
    Listing.of(fs(t), Seq(path)).files.map(_.getPath.toString).toSet

  /** Parquet write honoring the table's partition layout. Returns
    * (row count, written file set).
    *
    * The row count is OBSERVED on the write plan itself
    * (`Dataset.observe` + [[org.apache.spark.sql.Observation]] — write
    * stats, not a second pass): the block executes exactly once and the
    * count is exactly the rows the writer committed. This replaces the
    * round-14 footer read-back (one driver round-trip per written file —
    * O(batch files) remote opens on a wide partitioned append) AND the
    * full-table before/after listing diff that every non-versioned append
    * paid even with no projections attached (round-14 judge + advice:
    * O(total table files) driver metadata work per append, and a
    * concurrent cross-process writer's files could be silently attributed
    * to this append's count).
    *
    * Projection companions are derived from the files this call WROTE,
    * never by re-executing the caller's `df` plan: a second execution
    * after the base commit re-lists the data dir (a self-referencing
    * `INSERT INTO t SELECT … FROM t` would see its own output) and any
    * non-deterministic input (sampling, rand ids) evaluates differently —
    * the companion partials would diverge from the stored base and
    * auto-rewritten aggregates would be silently wrong. The other
    * maintainers (skip/ANN indexes) already rebuild from the written
    * path; this makes projections match. On overwrite the written path IS
    * the block (fresh dir — the listing is O(batch)); on append the block
    * is the before/after file-set diff, read with `basePath` so
    * partition-dir columns are recovered — paid ONLY by tables that
    * declare projections, the one consumer that needs the file names.
    */
  private def writeData(t: TableDef, df: DataFrame, path: String,
                        mode: String = "overwrite"): (Long, Seq[String]) = {
    val obs = org.apache.spark.sql.Observation()
    val counted = df.observe(obs, count(lit(1)).as("rows"))
    val before: Set[String] =
      if (mode == "append" && t.projections.nonEmpty) listDataFiles(t, path)
      else Set.empty
    val w = counted.write.mode(mode).option("compression", t.codec)
      .options(codecWriteOptions(t))
    (if (t.partitionKeys.nonEmpty) w.partitionBy(t.partitionKeys: _*) else w)
      .parquet(path)
    // the metrics ride the SQLExecutionEnd event: posted before the write
    // call returns, drained by the listener bus within ms — bounded wait,
    // then fail LOUDLY (never a silent wrong count)
    val rows: Long = {
      val row =
        try scala.concurrent.Await.result(obs.future,
          scala.concurrent.duration.Duration(30, "s"))
        catch { case _: java.util.concurrent.TimeoutException =>
          throw new IllegalStateException(
            s"writeData(${t.name}): observed write metrics never arrived")
        }
      row.getAs[Long]("rows")
    }
    val written: Seq[String] =
      if (mode != "append") listDataFiles(t, path).toSeq.sorted
      else if (t.projections.nonEmpty) (listDataFiles(t, path) -- before).toSeq.sorted
      else Nil
    // re-project the read-back block to the input's declared schema:
    // partition-dir columns come back LAST and type-INFERRED from the dir
    // strings (a string key "01" would read as int 1) — the cast pins both
    // order and types to what the caller handed in
    def asWritten(raw: DataFrame): DataFrame =
      raw.select(df.schema.map(f => col(f.name).cast(f.dataType)): _*)
    val block: Option[DataFrame] =
      if (t.projections.isEmpty) None
      else if (mode == "append") {
        if (written.isEmpty) None
        else Some(asWritten(
          spark.read.option("basePath", path).parquet(written: _*)))
      } else Some(asWritten(spark.read.parquet(path)))
    maintainSkipIndexes(t, path)
    if (t.annIndex.nonEmpty) AnnIndex.maintain(spark, t, path)
    block.foreach(b => maintainProjections(t, b, path, mode))
    (rows, written)
  }

  /** Maintain the declared projections for one [[writeData]] call: on an
    * APPEND `df` is the insert block and each companion gains one partial
    * block; on an OVERWRITE (compactFlat staging, mutations, TRUNCATE)
    * `df` is the full rewritten table and the companions are rebuilt
    * beside it — inside the staging dir, so they travel atomically with
    * the swap. Crash contract: the companion write follows the base
    * write, so a crash between the two leaves the companion one block
    * BEHIND; [[materializeProjection]] (CH's `ALTER TABLE … MATERIALIZE
    * PROJECTION`) rebuilds it — run it after recovering an interrupted
    * ingest, the same way CH re-materializes after `ALTER` drift.
    */
  private def maintainProjections(t: TableDef, block: DataFrame,
                                  path: String, mode: String): Unit =
    t.projections.foreach { p =>
      val dir = new org.apache.hadoop.fs.Path(path, s"_proj_${p.name}").toString
      val out = p match {
        case AggProjection(_, dims, sums) =>
          val aggs = count(lit(1)).as("__cnt") +:
            sums.map(c => sum(col(c)).as(s"__sum_$c"))
          block.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
        case SortProjection(_, key) =>
          // range-cluster WITHIN the block: per-file min/max on the sort
          // key narrows to ~1/N of each block's files; sizing by the
          // session's shuffle parallelism keeps files near block/N
          block.repartitionByRange(col(key)).sortWithinPartitions(col(key))
      }
      out.write.mode(mode).option("compression", t.codec).parquet(dir)
      graft.plans.SortedProjectionRewrite.invalidate(dataPath(t))
    }

  /** Rebuild one declared projection's companion from the CURRENT base
    * data — `ALTER TABLE … MATERIALIZE PROJECTION`: the recovery verb for
    * the append crash window (doc on [[maintainProjections]]) and the
    * backfill step of [[addProjection]]. The rebuild is staged beside the
    * live companion and moved into place, so readers racing it see old
    * complete data or new complete data, never a half-written dir.
    */
  def materializeProjection(name: String, proj: String): Unit = {
    import org.apache.hadoop.fs.Path
    val t = get(name)
    val p = t.projections.find(_.name == proj).getOrElse(
      throw new IllegalArgumentException(
        s"$name: no projection named $proj declared"))
    writeLock(name).synchronized {
      recoverInterruptedSwap(t)
      val live = new Path(projPath(t, proj))
      val stage = new Path(dataPath(t), s"_proj_$proj.rebuild")
      val f = fs(t)
      f.delete(stage, true)
      // An AGG rebuild's own query (count/sum over the base grouped by the
      // projection dims) is RollupRewrite-eligible for the very projection
      // being rebuilt: with the registration live, a STALE-but-present
      // companion (the append crash window this verb exists to repair)
      // would silently ANSWER the rebuild and re-persist its own stale
      // partials. Deregister this companion for the duration so the
      // rebuild always scans the base, then restore the registration
      // after the swap (try/finally — a failed rebuild must not leave the
      // still-live old companion unregistered).
      p match {
        case _: AggProjection =>
          graft.plans.RollupRewrite.unregister(dataPath(t),
            Some(projPath(t, proj)))
        case _ => ()
      }
      try {
        // readVia applies pending renames/defaults — the companion must
        // hold DECLARED-schema rows, like the base rewrite paths do
        val base = readVia(t, dataPaths(t))
        val out = p match {
          case AggProjection(_, dims, sums) =>
            val aggs = count(lit(1)).as("__cnt") +:
              sums.map(c => sum(col(c)).as(s"__sum_$c"))
            base.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
          case SortProjection(_, key) =>
            base.repartitionByRange(col(key)).sortWithinPartitions(col(key))
        }
        out.write.mode("overwrite").option("compression", t.codec)
          .parquet(stage.toString)
        f.delete(live, true)
        require(f.rename(stage, live),
          s"$name: could not move rebuilt projection into place ($stage)")
      } finally {
        registerProjections(t)
      }
      graft.plans.SortedProjectionRewrite.invalidate(dataPath(t))
    }
  }

  /** Declare a projection on an EXISTING table — `ALTER TABLE … ADD
    * PROJECTION`, plus an immediate backfill (CH leaves old parts
    * unindexed until MATERIALIZE; a path-keyed rewrite can't scope to
    * new-blocks-only, so this engine materializes synchronously and the
    * rule is correct from the first query).
    */
  def addProjection(name: String, spec: ProjectionSpec): Unit = {
    val t = get(name)
    require(!t.projections.exists(_.name == spec.name),
      s"$name: projection ${spec.name} already declared")
    createTableUpdate(t.copy(projections = t.projections :+ spec))
    materializeProjection(name, spec.name)
  }

  /** `ALTER TABLE … DROP PROJECTION` — removes the declaration, its
    * companion storage, and its rewrite registration.
    */
  def dropProjection(name: String, proj: String): Unit = {
    val t = get(name)
    val p = t.projections.find(_.name == proj).getOrElse(
      throw new IllegalArgumentException(
        s"$name: no projection named $proj declared"))
    writeLock(name).synchronized {
      p match {
        case _: AggProjection =>
          graft.plans.RollupRewrite.unregister(dataPath(t),
            Some(projPath(t, proj)))
        case _: SortProjection =>
          graft.plans.SortedProjectionRewrite.unregister(dataPath(t))
      }
      createTableUpdate(t.copy(projections = t.projections.filterNot(_.name == proj)))
      fs(t).delete(new org.apache.hadoop.fs.Path(projPath(t, proj)), true)
    }
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
    * Validation is createTable's own (via [[createTableUpdate]]), so a bad
    * column/type refuses loudly and the prior registration survives.
    */
  def addIndex(name: String, kind: String, column: String,
               args: Seq[Int] = Nil): Unit = {
    val t = get(name)
    val k = IndexKind.forType(kind).getOrElse(throw new IllegalArgumentException(
      s"$name: unsupported skip-index type ${kind.toLowerCase}"))
    require(!k.columns(t).contains(column),
      s"$name: index TYPE $kind on $column already declared")
    writeLock(name).synchronized { createTableUpdate(k.add(t, column, args)) }
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
      recoverInterruptedSwap(t)
      dataPaths(t).foreach { p =>
        k match {
          case s: SkipIndex => maintainSkipIndexes(t, p, Some(s -> c))
          case VectorSimilarity => AnnIndex.maintain(spark, t, p)
        }
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
      createTableUpdate(k.remove(t, c))
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

  /** Remove one (kind, column)'s sidecar files under every data root.
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

  /** Re-validate + swap in an updated definition (projection add/drop):
    * the same checks createTable runs, then a registry replace + sidecar
    * persist. A FAILED validation restores the prior registration — the
    * table must not vanish because an ALTER was refused. (The
    * remove→create window is a microsecond registry gap; projection
    * ALTERs are rare ops and racing reads of a mid-ALTER table have no
    * consistency claim to lose.)
    */
  private def createTableUpdate(nt: TableDef): TableDef = {
    val prior = tables.get(nt.name)
    tables.remove(nt.name)
    try createTable(nt)
    catch {
      case e: Throwable =>
        prior.foreach(p => tables.putIfAbsent(nt.name, p))
        throw e
    }
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
    recoverInterruptedSwap(t)
    AnnIndex.search(this, spark, t, queries, k, nProbe)
  }

  // ---- skip-index pruned reads (contract on [[SkipIndex]]) --------------

  /** The data files and `_idx/` sidecars of `t`'s live data roots. */
  private def listing(t: TableDef): Listing = Listing.of(fs(t), dataPaths(t))

  /** Index the files under `dir` still missing a sidecar — every declared
    * skip index, or only the one a MATERIALIZE INDEX names.
    */
  private def maintainSkipIndexes(t: TableDef, dir: String,
                                  only: Option[(SkipIndex, String)] = None): Unit =
    SkipIndex.maintain(spark, fs(t), t, dir, only)

  /** `name`'s def, after refusing a probe through an undeclared index. */
  private def indexed(name: String, k: SkipIndex, column: String): TableDef = {
    val t = get(name)
    require(k.columns(t).contains(column), s"$name: no ${k.label} declared on $column")
    t
  }

  /** The listed files whose `column` sidecar cannot rule out `probe`;
    * a file without a sidecar is kept. Shared by the pruned reads and
    * [[explainEstimate]], so the estimate prices exactly the scan the read
    * would run.
    */
  private def survivors(t: TableDef, l: Listing, k: SkipIndex, column: String)(
      probe: k.Probe): Seq[org.apache.hadoop.fs.FileStatus] = {
    val f = fs(t)
    l.files.filter { s =>
      val sc = SkipIndex.sidecar(s.getPath, column, k.suffix)
      !l.has(sc) || {
        val in = f.open(sc)
        k.survives(try in.readAllBytes() finally in.close(), probe)
      }
    }
  }

  /** The one pruned read: scan only the files [[survivors]] keeps, through
    * the full read semantics (renames, added-column defaults, deletion
    * vectors). Returns (frame, files scanned, files total).
    */
  private def prunedRead(t: TableDef, k: SkipIndex, column: String)(
      probe: k.Probe): (DataFrame, Int, Int) = {
    val kind = k.label.takeWhile(_ != ' ')
    // partitioned layouts read partition values from directory names — a
    // bare-file read would blank them; they already skip at the directory
    // level, which is the stronger prune
    require(t.partitionKeys.isEmpty,
      s"${t.name}: $kind-pruned reads target unpartitioned layouts")
    // a merge view needs every file of a key group: dropping a file can
    // resurrect a superseded row or return a partial sum/state, so pruning
    // composes only with a raw scan — exactly like ClickHouse applies
    // secondary indexes to raw parts, before FINAL merging
    require(t.semantics == Append,
      s"${t.name}: $kind-pruned reads require Append semantics " +
        s"(merge views need every file of a key group)")
    recoverInterruptedSwap(t)
    val all = listing(t)
    val kept = survivors(t, all, k, column)(probe)
    val df =
      if (kept.isEmpty) readVia(t, dataPaths(t)).limit(0)
      else readVia(t, kept.map(_.getPath.toString))
    (df, kept.size, all.files.size)
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

  /** Zero-row frame with the table's declared schema — lets mutation
    * transforms validate (column existence, shape preservation) before a
    * table holds any data.
    */
  private def emptyFrame(t: TableDef): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), t.schema)

  private def recoverInterruptedSwap(t: TableDef): Unit = {
    import org.apache.hadoop.fs.Path
    if (t.layout != FlatDir) return // Versioned has no unreadable window
    val path = new Path(t.path)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    // Cheap lock-free probe first (every read runs this); the recovery
    // itself must serialize against a LIVE compact's two-rename window and
    // against other recovering readers — a lock-free rename here would make
    // the in-flight compact's own checked rename fail — so it re-checks
    // under the table's write lock before touching anything.
    if (!fs.exists(path)) writeLock(t.name).synchronized {
      if (!fs.exists(path)) {
        val tmp = new Path(t.path + ".compact.tmp")
        val old = new Path(t.path + ".compact.old")
        if (fs.exists(tmp) && fs.exists(old)) // finish the interrupted swap
          require(fs.rename(tmp, path), s"${t.name}: recovery rename $tmp -> $path failed")
        else if (fs.exists(old))              // restore the original
          require(fs.rename(old, path), s"${t.name}: recovery rename $old -> $path failed")
      }
    }
  }

  /** Read with full engine semantics applied (merged view). */
  def read(name: String): DataFrame = {
    val t = get(name)
    recoverInterruptedSwap(t)
    readVia(t, dataPaths(t))
  }

  /** Merged-view read over an EXPLICIT path snapshot — compaction folds
    * exactly the segments it listed, never whatever a re-listing at job
    * time would see (a segment committed mid-compact must stay a segment,
    * or it would land in the new version AND stay visible = duplicated).
    */
  /** Storage scan surfacing the DECLARED schema over mixed physical
    * layouts: files written before a pending RENAME carry the old column
    * name, files written after carry the new one. The read schema is
    * widened with each pending physical name (absent fields read as null
    * in parquet), the two columns coalesce into the declared one, and the
    * final select restores the declared shape. No pending renames → the
    * plain declared-schema scan, zero overhead. The coalesce is sound
    * because no file can carry BOTH names: the new name did not exist as
    * a column before the rename ([[renameColumn]] refuses an existing
    * `to`), and [[stored]] keeps the old name un-reintroducible until a
    * compact retires the mapping.
    */
  /** Scan `paths` under `schema`. A PARTITIONED table's live paths
    * (version dir + append segments) are distinct partition-discovery
    * roots — one multi-path read makes Spark infer partition columns
    * across conflicting base directories and refuse the scan
    * (CONFLICTING_DIRECTORY_STRUCTURES), so each root is read on its own
    * and unioned. Filters, column pruning, and directory-level partition
    * pruning all push into every branch of the union, so the plan cost is
    * identical to the single-root read.
    */
  private def scanRoots(t: TableDef, schema: StructType,
                        paths: Seq[String],
                        withId: Boolean = false): DataFrame = {
    // row identity for the deletion-vector anti-join: the scanned file's
    // path + the row's ordinal inside it, from the file source's hidden
    // _metadata struct (constant-per-file, no read amplification)
    def id(df: DataFrame): DataFrame =
      if (!withId) df
      else df.withColumn("__dv_file", col("_metadata.file_path"))
        .withColumn("__dv_pos", col("_metadata.row_index"))
    if (t.partitionKeys.isEmpty || paths.size <= 1)
      id(spark.read.schema(schema).parquet(paths: _*))
    else paths.map(p => id(spark.read.schema(schema).parquet(p))
        // per-root partition discovery appends partition cols last —
        // restore declared order so the branches union positionally
        .select((schema.fieldNames.toSeq ++
          (if (withId) Seq("__dv_file", "__dv_pos") else Nil))
          .map(n => col(s"`$n`")): _*))
      .reduce(_.union(_))
  }

  private def readStorage(t: TableDef, paths: Seq[String]): DataFrame =
    readStorageDv(t, paths, currentDvDirs(t))

  /** [[readStorage]] with an EXPLICIT deletion-vector set (the live read
    * passes the current one; [[readSnapshot]] replays its frozen one) and
    * optionally keeping the `__dv_file`/`__dv_pos` row-identity columns
    * ([[deleteLightweight]] records matched rows by them).
    */
  private def readStorageDv(t: TableDef, paths: Seq[String],
                            dvs: Seq[String],
                            keepId: Boolean = false): DataFrame = {
    // a never-appended table's data roots may not exist yet (Versioned:
    // no v0 until the first write) — an empty table reads as empty, it
    // doesn't throw PATH_NOT_FOUND
    val f0 = fs(t)
    val live = paths.filter(p => f0.exists(new org.apache.hadoop.fs.Path(p)))
    if (live.isEmpty) {
      val base = emptyFrame(t)
      return if (!keepId) base
        else base
          .withColumn("__dv_file", lit(null).cast("string"))
          .withColumn("__dv_pos", lit(null).cast("long"))
    }
    val renames = renamePending.getOrElse(t.name, Map.empty)
      .filter { case (to, _) => t.schema.fieldNames.contains(to) }
    val withId = dvs.nonEmpty || keepId
    // the mask is tiny next to the data (pairs, not rows): no broadcast
    // hint — AQE broadcasts the anti-join side when its runtime size
    // allows and degrades to shuffle when a mass-delete outgrows it
    def mask(df: DataFrame): DataFrame =
      if (dvs.isEmpty) df
      else {
        val dv = spark.read.schema(dvPairSchema).parquet(dvs: _*)
        df.join(dv, df("__dv_file") === dv("file") &&
          df("__dv_pos") === dv("pos"), "left_anti")
      }
    val outCols = t.schema.fieldNames.toSeq ++
      (if (keepId) Seq("__dv_file", "__dv_pos") else Nil)
    if (renames.isEmpty)
      mask(scanRoots(t, t.schema, live, withId))
        .select(outCols.map(n => col(s"`$n`")): _*)
    else {
      val widened = StructType(t.schema.fields ++ renames.map {
        case (to, phys) => StructField(phys, t.schema(to).dataType)
      })
      val raw = mask(scanRoots(t, widened, live, withId))
      renames.foldLeft(raw) { case (d, (to, phys)) =>
        d.withColumn(to, coalesce(col(to), col(phys)))
      }.select(outCols.map(n => col(s"`$n`")): _*)
    }
  }

  private def readVia(t: TableDef, paths: Seq[String]): DataFrame =
    readViaDv(t, paths, currentDvDirs(t))

  private def readViaDv(t: TableDef, paths: Seq[String],
                        dvs: Seq[String]): DataFrame = {
    val raw = applyDefaults(t.name, readStorageDv(t, paths, dvs))
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

  /** The [[JoinAny]] fold: one surviving row per key — the
    * lexicographically least non-key tuple (min over a struct, so the
    * fold is associative and deterministic). A hash aggregate with
    * map-side partials; after [[compact]] materializes it the table is
    * physically one row per key and the fold prunes to nothing.
    */
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
    val t = get(name)
    recoverInterruptedSwap(t)
    readStorage(t, dataPaths(t)) // raw in MERGE terms; renames still map
  }

  // ---- lightweight DELETE (deletion-vector analog) ---------------------
  //
  // ClickHouse's `DELETE FROM t WHERE p` (lightweight delete) marks rows
  // in a hidden `_row_exists` mask inside the part and filters them at
  // every read; the expensive rewrite happens later, when merges
  // materialize the mask. Same contract here, shaped for immutable
  // parquet: a part file cannot grow a column, so the mask lives BESIDE
  // the table ( `<path>.dv/dv-*` ) as (file, pos) pairs — the
  // deletion-vector layout. DELETE writes O(matched rows) of pairs and
  // never touches a data file; every read anti-joins the mask on
  // (_metadata.file_path, _metadata.row_index); compaction materializes
  // it for free (its rewrite reads THROUGH the mask, so the new files
  // simply don't contain the rows) and then collects the applied dv
  // dirs. A FREEZE taken between a delete and its materialization lists
  // the dv dirs it froze, [[readSnapshot]] replays exactly those, and
  // compaction retains pinned dv dirs until their snapshots drop — a
  // retained dv masks nothing in the live table (its pairs address
  // pre-rewrite file paths, and paths are unique per write). At 100 TB
  // the mask is KBs-to-MBs against TB scans; a maskless table pays one
  // directory listing and nothing in-plan.

  private val dvPairSchema = StructType(Seq(
    StructField("file", org.apache.spark.sql.types.StringType, nullable = false),
    StructField("pos", org.apache.spark.sql.types.LongType, nullable = false)))

  private def dvRoot(t: TableDef) =
    new org.apache.hadoop.fs.Path(t.path + ".dv")

  /** Committed deletion-vector dirs (one per DELETE), oldest first. */
  private def currentDvDirs(t: TableDef): Seq[String] = {
    val f = fs(t)
    val root = dvRoot(t)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("dv-"))
      .map(_.getPath.toString).sorted
  }

  /** Deletion-vector dirs not yet materialized — 0 means every past
    * lightweight DELETE has been folded into storage by a compact.
    */
  def pendingDeleteFiles(name: String): Int =
    currentDvDirs(get(name)).size

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
    * Takes the compact lock: a concurrent compact swaps storage to new
    * file paths, and pairs recorded against the old paths would be
    * silently lost in the swap.
    */
  def deleteLightweight(name: String,
                        predicate: org.apache.spark.sql.Column): Long =
    writeLock(name).synchronized {
      val t = get(name)
      require(t.semantics == Append,
        s"$name: lightweight DELETE requires Append semantics (merge " +
          "views fold key groups across files; use ALTER DELETE's " +
          "rewrite on merge-view engines)")
      recoverInterruptedSwap(t)
      withCompactLock(t) {
        import org.apache.hadoop.fs.Path
        val f = fs(t)
        // any .stage-* here is a crashed predecessor: committed writers
        // renamed theirs away, and no live writer exists under this lock
        if (f.exists(dvRoot(t)))
          f.listStatus(dvRoot(t)).toSeq
            .filter(s => s.isDirectory && s.getPath.getName.startsWith(".stage-"))
            .foreach(s => f.delete(s.getPath, true))
        val masked = applyDefaults(t.name,
          readStorageDv(t, dataPaths(t), currentDvDirs(t), keepId = true))
        val matched = masked.filter(coalesce(predicate, lit(false)))
          .select(col("__dv_file").as("file"), col("__dv_pos").as("pos"))
        val n = matched.count()
        if (n > 0L) {
          f.mkdirs(dvRoot(t))
          val tag = s"dv-$processTag-${java.util.UUID.randomUUID().toString.take(8)}"
          val stage = new Path(dvRoot(t), s".stage-$tag")
          matched.write.mode("overwrite").parquet(stage.toString)
          if (!f.rename(stage, new Path(dvRoot(t), tag))) {
            f.delete(stage, true)
            throw new java.io.IOException(
              s"$name: deletion-vector commit rename failed")
          }
        }
        recordMutation(t, s"DELETE WHERE $predicate (lightweight, $n rows)")
        n
      }
    }

  /** Collect deletion-vector dirs a just-finished rewrite materialized.
    * Caller holds the write + compact locks and has already swapped in
    * the rewritten storage. Snapshot-pinned dv dirs survive until their
    * snapshots drop — their pairs address pre-rewrite paths, so they
    * mask nothing in the live table and exist purely for frozen views.
    */
  private def clearAppliedDvs(t: TableDef): Unit = {
    val f = fs(t)
    val root = dvRoot(t)
    if (!f.exists(root)) return
    val pinned = listSnapshotRefs(t).flatMap(_.dvs).toSet
    f.listStatus(root).toSeq.filter(_.isDirectory).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith(".stage-") || (n.startsWith("dv-") && !pinned(n)))
        f.delete(s.getPath, true)
    }
  }

  // ---- introspection (system.tables / system.parts analog) --------------
  //
  // ClickHouse exposes storage state through the `system` database
  // (system.tables, system.parts) and every ops runbook leans on it —
  // part counts before/after merges, bytes per table, min/max block
  // bounds. Same surface here, as DataFrames: registry + filesystem
  // METADATA for tables (no data scan), one distributed pass for
  // per-part row counts and sort-key bounds.

  /** Cheap driver-side probe: does `name` hold ANY committed data file?
    * A metadata listing, never a Spark job — read-before-write paths use
    * it to skip planning a scan of a table that is registered but still
    * empty (the fresh-fixture fast path, round-14).
    */
  private[catalog] def hasDataFiles(name: String): Boolean = {
    val t = get(name)
    recoverInterruptedSwap(t)
    listing(t).files.nonEmpty
  }

  /** `system.tables` analog: one row per registered table — layout,
    * engine semantics, declared keys, and storage totals (part count +
    * bytes from the listing; pure metadata, no data scan).
    */
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

  def systemTables(): DataFrame = {
    import spark.implicits._
    tables.values.toSeq.sortBy(_.name).map { t =>
      val files = if (exists(t.name)) listing(t).files else Nil
      (t.name, t.path, t.layout.toString,
        t.semantics.getClass.getSimpleName.stripSuffix("$"),
        t.sortKeys, t.partitionKeys, t.indexCols,
        files.size.toLong, files.map(_.getLen).sum, t.codec)
    }.toDF("table", "path", "layout", "engine", "sort_keys",
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
    * current storage footprint. Registry metadata plus one dir listing.
    */
  def systemProjections(): DataFrame = {
    import spark.implicits._
    tables.values.toSeq.sortBy(_.name).flatMap { t =>
      t.projections.map { p =>
        val dir = new org.apache.hadoop.fs.Path(projPath(t, p.name))
        val f = fs(t)
        val bytes =
          if (f.exists(dir))
            f.listStatus(dir).filter(_.isFile).map(_.getLen).sum
          else 0L
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
      val defaults = insertDefaults.getOrElse(t.name, Map.empty)
      val codecOf = t.columnCodecs.toMap
      t.schema.fields.zipWithIndex.map { case (f, i) =>
        (t.name, f.name, i, f.dataType.simpleString, f.nullable,
          t.sortKeys.contains(f.name), t.partitionKeys.contains(f.name),
          t.indexCols.contains(f.name), t.minmaxCols.contains(f.name),
          defaults.contains(f.name), codecOf.getOrElse(f.name, ""))
      }
    }.toDF("table", "column", "position", "type", "nullable",
      "is_sort_key", "is_partition_key", "in_bloom_index",
      "in_minmax_index", "has_default", "codec")
  }

  /** `system.parts` analog: one row per data file of `name` — rows and
    * leading-sort-key min/max from ONE distributed pass over the table
    * (input_file_name groupBy; the bounds this reports are exactly what
    * clustered writes give the scan's row-group skipping), bytes joined
    * from the driver listing by file name (Spark part names embed the
    * write's UUID, so they are unique across segments).
    */
  def systemParts(name: String): DataFrame = {
    import spark.implicits._
    val t = get(name)
    recoverInterruptedSwap(t)
    val sizes = listing(t).files
      .map(s => (s.getPath.getName, s.getLen)).toDF("part", "bytes")
    val sortKey = t.sortKeys.headOption
    val perFile = scanRoots(t, t.schema, dataPaths(t))
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

  /** Cheap content-version token for a table: a digest over the data-file
    * listing (path, length, mtime) plus the live deletion-vector
    * directories — every result-changing storage event (append, compact,
    * mutation rewrite, lightweight delete, TTL sweep, refresh swap) moves
    * at least one of those, so equal tokens ⇒ equal read results. One
    * directory listing, no data read — the [[graft.sql.QueryCache]]
    * validity probe, priced to run on every cache hit. (In-process
    * metadata-only changes — a pending RENAME's read view — also bump it:
    * the declared schema participates in the digest.)
    */
  def tableVersion(name: String): String = {
    val t = get(name)
    recoverInterruptedSwap(t)
    val md = java.security.MessageDigest.getInstance("MD5")
    def add(s: String): Unit =
      md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    add(t.schema.fieldNames.mkString(","))
    add(renamePending.getOrElse(name, Map.empty).toSeq.sorted.mkString(","))
    add(readDefaults.getOrElse(name, Map.empty).keys.toSeq.sorted.mkString(","))
    listing(t).files.sortBy(_.getPath.toString).foreach { s =>
      add(s.getPath.toString); add(s.getLen.toString)
      add(s.getModificationTime.toString)
    }
    currentDvDirs(t).sorted.foreach(add)
    md.digest().map("%02x".format(_)).mkString
  }

  /** ClickHouse `EXPLAIN ESTIMATE` analog: how much would a scan read —
    * files (≈ parts), rows, bytes — from METADATA only, no data scan.
    * Files and bytes come from the directory listing; rows from parquet
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
    recoverInterruptedSwap(t)
    val all = listing(t)
    val kept = range match {
      case None => all.files
      case Some((column, lo, hi)) =>
        indexed(name, MinMax, column)
        survivors(t, all, MinMax, column)(MinMax.range(lo, hi))
    }
    val conf = spark.sessionState.newHadoopConf()
    val rows = kept.map { s =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(s.getPath, conf))
      try r.getRecordCount finally r.close()
    }.sum
    Seq((t.name, all.files.size.toLong, kept.size.toLong, rows,
        kept.map(_.getLen).sum))
      .toDF("table", "files_total", "files_selected", "rows", "bytes")
  }

  /** The deferred "background merge": rewrite storage to its merged form.
    * ClickHouse does this continuously and asynchronously; on Parquet it is
    * a write to a sibling temp directory followed by a directory swap — the
    * source is never read and clobbered in the same job, so executor loss or
    * a crash mid-write leaves the original table intact (the failure mode of
    * the old cache-and-overwrite pattern: any evicted block forced a
    * recomputation that read the path being overwritten).
    *
    * Crash recovery, checked BEFORE any cleanup: a crash between the two
    * swap renames leaves the table path absent with `<path>.compact.old` =
    * original and `<path>.compact.tmp` = fully-written merged output — the
    * next compact (or any caller) must finish the interrupted swap, never
    * delete the only surviving copies. All directory ops go through the
    * Hadoop FileSystem of the table's path, so the swap works wherever the
    * warehouse lives (local, HDFS — where rename is an atomic metadata op;
    * object stores without atomic rename need a manifest-based commit
    * instead, out of scope here).
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
  // so the log is pure history: one JSONL line per completed mutation in
  // a SIBLING file (`<path>.mutations` — outside the table dir, because
  // FlatDir compaction swaps the whole directory and would orphan any
  // history stored inside it). Written under the table's write lock;
  // best-effort (losing ops history on a crash mid-write never corrupts
  // data).

  private def mutationsPath(t: TableDef) =
    new org.apache.hadoop.fs.Path(t.path + ".mutations")

  private def recordMutation(t: TableDef, command: String): Unit =
    try {
      import org.apache.hadoop.fs.Path
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods
      val f = fs(t)
      val p = mutationsPath(t)
      // legacy (pre-round-7) tables hold the history as ONE file at this
      // path — the marker create below would need it as a DIRECTORY, and
      // the mkdirs failure would be swallowed by the best-effort catch,
      // silently dropping every new entry. Migrate in place: each line
      // becomes a zero-ts marker (sorts before any real timestamp, order
      // preserved by the index). Runs under the table's write lock.
      if (f.exists(p) && f.getFileStatus(p).isFile) {
        val in = f.open(p)
        val legacy = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().filter(_.nonEmpty).toList finally in.close()
        val aside = new Path(t.path + ".mutations.legacy")
        if (f.rename(p, aside)) {
          f.mkdirs(p)
          legacy.zipWithIndex.foreach { case (line, i) =>
            val o = f.create(new Path(p, f"m_0000000000000_$i%06d.json"), true)
            try o.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally o.close()
          }
          f.delete(aside, false)
        }
      }
      // one uniquely-named file per mutation (the _segs markers pattern):
      // a whole-history read-modify-write would lose lines when two
      // PROCESSES mutate the same table — the JVM write lock only covers
      // in-process writers. Zero-padded ts prefix makes the lexical file
      // order the history order; the per-process monotonic seq keeps
      // same-millisecond mutations in issue order (a random tiebreak
      // would shuffle back-to-back directory-rename ops ~half the time);
      // the uuid suffix de-collides across processes.
      val ts = System.currentTimeMillis()
      val seq = Catalog.mutationSeq.incrementAndGet()
      val fn = f"m_$ts%013d_$seq%06d_" +
        s"${java.util.UUID.randomUUID().toString.take(8)}.json"
      val marker = new Path(p, fn)
      val json = JsonMethods.compact(JsonMethods.render(
        ("ts_ms" -> ts) ~ ("command" -> command)))
      val out = f.create(marker, true)
      try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The mutation history of `name` as a DataFrame — (table, seq, ts_ms,
    * command, is_done), oldest first. Every row is done by construction
    * (mutations here are synchronous rewrites); the column exists so the
    * runbook shape matches ClickHouse's.
    */
  def systemMutations(name: String): DataFrame = {
    import spark.implicits._
    import org.json4s.jackson.JsonMethods
    val t = get(name)
    val f = fs(t)
    val p = mutationsPath(t)
    def readAll(path: org.apache.hadoop.fs.Path): String = {
      val in = f.open(path)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val lines =
      if (!f.exists(p)) Seq.empty[String]
      else if (f.getFileStatus(p).isDirectory)
        // marker-file layout: one json file per mutation, named so the
        // lexical order IS the history order
        f.listStatus(p).map(_.getPath).filter(_.getName.startsWith("m_"))
          .sortBy(_.getName).map(readAll).toSeq
      else // legacy single-file layout (pre-round-7 tables)
        readAll(p).linesIterator.filter(_.nonEmpty).toList
    lines.zipWithIndex.map { case (l, i) =>
      val j = JsonMethods.parse(l)
      val ts = (j \ "ts_ms") match {
        case org.json4s.JInt(v) => v.toLong
        case org.json4s.JLong(v) => v
        case _ => -1L
      }
      val cmd = (j \ "command") match {
        case org.json4s.JString(c) => c
        case _ => ""
      }
      (name, i.toLong, ts, cmd, true)
    }.toDF("table", "seq", "ts_ms", "command", "is_done")
  }

  /** ClickHouse lightweight-mutation analog (`ALTER TABLE … DELETE/UPDATE
    * … WHERE`, SURVEY.md §2.9): a copy-on-write rewrite of the merged view
    * committed through the SAME crash-safe machinery as [[compact]] — the
    * FlatDir two-rename swap or the Versioned manifest flip — so a crashed
    * mutation is recovered or invisible, never a half-mutated table.
    * Mutations see merge semantics first (ReplacingDedup/Summing views),
    * matching ClickHouse where mutations rewrite fully-merged parts.
    *
    * `transform` must preserve the table's column names and types (it may
    * drop/alter rows, not shape) — enforced loudly, since an accidental
    * schema drift would poison every later append.
    */
  def mutate(name: String, transform: DataFrame => DataFrame,
             command: String = "mutation"): Unit =
    writeLock(name).synchronized {
      val t = get(name)
      val checked: DataFrame => DataFrame = { df =>
        val out = transform(df)
        val shape = (d: DataFrame) => d.schema.map(f => (f.name, f.dataType))
        require(shape(out) == shape(df),
          s"mutate($name): transform changed the table shape " +
            s"(${shape(df)} -> ${shape(out)})")
        out
      }
      // compactFlat writes the _TABLE sidecar into its staging dir, so
      // the definition travels atomically with the FlatDir swap;
      // Versioned swaps version SUBDIRS, so its root-level _TABLE survives
      if (t.layout == Versioned) withCompactLock(t)(compactVersioned(t, checked))
      else withCompactLock(t)(compactFlat(t, checked))
      // if data was rewritten, it read through applyDefaults — every
      // stored row now carries its ALTER-added defaults, so retire the
      // READ-side coalesce: from here on an explicitly stored NULL reads
      // back as NULL. Insert-time fill stays (permanent table metadata).
      // An empty table materialized nothing — keep its read defaults.
      // Pending renames/drops retire the same way: the rewrite read
      // through readStorage, so every stored file now carries the
      // declared names and nothing else. Re-persist so the sidecar
      // written during the swap (which still listed them) is corrected —
      // a stale mapping would spuriously refuse re-adding those names
      // after an attach.
      if (exists(name)) {
        val hadPending = readDefaults.contains(name) ||
          renamePending.contains(name) || droppedPending.contains(name)
        readDefaults.remove(name)
        renamePending.remove(name)
        droppedPending.remove(name)
        if (hadPending) persistTableDef(tables(name))
      }
      recordMutation(t, command)
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
    * spec. Metadata only (persisted in `_TABLE`): stored rows are
    * untouched until a [[materializeTtl]] sweep, the CH contract.
    */
  def modifyTtl(name: String, spec: TtlSpec): Unit =
    writeLock(name).synchronized {
      val t = get(name)
      validateTtl(t, spec)
      tables.put(name, t.copy(ttl = Some(spec)))
      persistTableDef(tables(name))
    }

  /** `ALTER TABLE … REMOVE TTL`. */
  def removeTtl(name: String): Unit =
    writeLock(name).synchronized {
      tables.put(name, get(name).copy(ttl = None))
      persistTableDef(tables(name))
    }

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
  // Here a "partition" is the Hive-layout `key=value` directory the
  // table's `partitionBy` write produced, so all three are DIRECTORY
  // renames/deletes — O(partition-dir count), never a row rewrite; at a
  // 100 TB table dropping a day of data touches a handful of directory
  // entries while `delete(…)` would rewrite the table. Mutation-logged
  // like every ALTER.
  //
  // Merge semantics note (same contract as ClickHouse): parts in
  // different partitions never merge, so under Replacing/Summing
  // semantics a key whose rows SPAN partitions loses only the dropped
  // partition's contribution — dropping a partition can un-shadow an
  // older version of a key that also lives elsewhere, exactly as it does
  // in ClickHouse. Partition ops are not atomic across the table's live
  // data paths (version dir + segments): a crash mid-op leaves some
  // directories moved and some not — rerunning the op completes it
  // (all three verbs are idempotent for a given value).

  /** Detached partitions live in a SIBLING dir (like `.mutations`):
    * FlatDir compaction swaps the whole table directory and would drop
    * anything stored inside it. One uniquely-named bucket per source
    * directory so detaching a value present in the version dir AND in
    * N append segments never collides; the bucket's `key=value` child
    * names the partition, so ATTACH finds its buckets by inspection.
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

  // ---- FREEZE / snapshots (Versioned layout) ---------------------------
  //
  // ClickHouse `ALTER TABLE … FREEZE` snapshots a table by hardlinking its
  // parts into `shadow/` — constant-time, no data copy, and later merges/
  // drops don't disturb the frozen view. The portable analog on the
  // Versioned layout: a snapshot is a JSON manifest (sibling
  // `<path>.snapshots/<tag>.json`) recording the live read set — current
  // version dir + unfolded committed segments — taken under the compact
  // lock so it is a CONSISTENT view. Instead of hardlinks (no such
  // primitive on HDFS/object stores), compaction's GC pins every
  // directory a snapshot references: compacts keep rewriting forward and
  // collecting unpinned garbage, while pinned versions/segments stay
  // readable until their snapshot is dropped (then the next compact
  // collects them). Dropping a snapshot of a 100 TB table is one file
  // delete; taking one is one file write.
  //
  // Partition DDL is copy-on-write against snapshots: DROP/DETACH
  // PARTITION mutate directories IN PLACE, so when any live directory is
  // pinned they first roll a compact (new version, pinned dirs retired
  // from the live set) and then operate on the fresh copy — a frozen
  // view never changes underneath its snapshot. Mutations/compacts are
  // snapshot-safe by construction (they always write a NEW version).

  private def snapshotsDir(t: TableDef) =
    new org.apache.hadoop.fs.Path(t.path + ".snapshots")

  private def snapshotJson(t: TableDef, tag: String) =
    new org.apache.hadoop.fs.Path(snapshotsDir(t), s"$tag.json")

  private case class SnapshotRef(tag: String, version: Option[String],
                                 segments: Seq[String], dvs: Seq[String],
                                 tsMs: Long)

  private def readSnapshotRef(t: TableDef, p: org.apache.hadoop.fs.Path): SnapshotRef = {
    import org.json4s.jackson.JsonMethods
    val f = fs(t)
    val in = f.open(p)
    val j = try JsonMethods.parse(
      scala.io.Source.fromInputStream(in, "UTF-8").mkString) finally in.close()
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    SnapshotRef(
      (j \ "tag").extract[String],
      (j \ "version").extractOpt[String],
      (j \ "segments").extract[Seq[String]],
      // absent in pre-deletion-vector manifests: those froze no masks
      (j \ "dv").extractOpt[Seq[String]].getOrElse(Nil),
      (j \ "ts_ms").extract[Long])
  }

  private def listSnapshotRefs(t: TableDef): Seq[SnapshotRef] = {
    val f = fs(t)
    val d = snapshotsDir(t)
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq.filter(s => s.isFile && s.getPath.getName.endsWith(".json"))
      .map(s => readSnapshotRef(t, s.getPath)).sortBy(_.tag)
  }

  /** Every version/segment directory NAME some snapshot still references
    * — the set compaction GC must not collect.
    */
  private def snapshotPins(t: TableDef): Set[String] =
    listSnapshotRefs(t).flatMap(r => r.version.toSeq ++ r.segments).toSet

  /** `ALTER TABLE name FREEZE WITH NAME tag`: record the live read set as
    * snapshot `tag`. O(1) — one JSON write, no data copied. Refuses a
    * duplicate tag (O_EXCL create, the marker primitive). Versioned
    * layout only: FlatDir compaction swaps the whole table directory, so
    * nothing survives to pin.
    */
  def freeze(name: String, tag: String): Unit =
    writeLock(name).synchronized {
      val t = get(name)
      require(t.layout == Versioned,
        s"$name: FREEZE requires the Versioned layout (FlatDir swaps " +
          "the whole directory out from under any snapshot)")
      require(tag.matches("[A-Za-z0-9_.-]+"),
        s"$name: snapshot tag must be [A-Za-z0-9_.-]+ (got '$tag')")
      recoverInterruptedSwap(t)
      withCompactLock(t) {
        import org.apache.hadoop.fs.Path
        val f = fs(t)
        val segNames = committedSegments(t)
        val curV = currentVersion(t)
        val segs = segNames.filterNot(foldedOf(t, curV))
        val ver = if (f.exists(new Path(t.path, curV))) Some(curV) else None
        // pending deletion vectors are part of the frozen read set:
        // readSnapshot replays exactly these, and compaction's dv GC
        // retains them while this snapshot pins them
        val dvNames = currentDvDirs(t).map(p => new Path(p).getName)
        import org.json4s.JsonDSL._
        import org.json4s.jackson.JsonMethods
        val json = JsonMethods.compact(JsonMethods.render(
          ("tag" -> tag) ~ ("version" -> ver) ~ ("segments" -> segs.sorted) ~
            ("dv" -> dvNames.sorted) ~
            ("ts_ms" -> System.currentTimeMillis())))
        f.mkdirs(snapshotsDir(t))
        val dst = snapshotJson(t, tag)
        // stage-then-rename (the writeManifest pattern): a crash mid-write
        // must never leave a truncated <tag>.json — snapshotPins parses
        // every entry, so one corrupt file would wedge compaction and all
        // partition DDL for the table until hand-deleted. The stage name
        // doesn't end in .json, so listSnapshotRefs never reads it.
        require(!f.exists(dst), s"$name: snapshot '$tag' already exists")
        val tmp = new Path(snapshotsDir(t), s"$tag.tmp.$processTag")
        val out = f.create(tmp, true)
        try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        if (!f.rename(tmp, dst)) {
          f.delete(tmp, false)
          throw new java.io.IOException(
            s"$name: snapshot '$tag' lost a race to a concurrent freeze")
        }
      }
    }

  /** Read the table AS OF snapshot `tag` — the frozen version + segments
    * through the table's full read semantics (merge view, defaults,
    * renames). The referenced directories exist as long as the snapshot
    * does (GC pins them).
    */
  def readSnapshot(name: String, tag: String): DataFrame = {
    val t = get(name)
    val f = fs(t)
    val p = snapshotJson(t, tag)
    if (!f.exists(p))
      throw new NoSuchElementException(s"$name: no snapshot '$tag'")
    val r = readSnapshotRef(t, p)
    val paths = (r.version.toSeq ++ r.segments)
      .map(n => new org.apache.hadoop.fs.Path(t.path, n).toString)
    // the mask AS OF the freeze — not the live one: deletes issued after
    // the freeze must not edit the frozen view, and the frozen dv dirs
    // are GC-pinned while this manifest exists
    val dvPaths = r.dvs
      .map(n => new org.apache.hadoop.fs.Path(dvRoot(t), n).toString)
    if (paths.isEmpty) readVia(t, Seq(dataPath(t))).limit(0)
    else readViaDv(t, paths, dvPaths)
  }

  /** Drop snapshot `tag` — one file delete; the next compact collects the
    * directories it pinned (unless another snapshot still pins them).
    * Returns false when no such snapshot existed.
    */
  def dropSnapshot(name: String, tag: String): Boolean =
    writeLock(name).synchronized {
      fs(get(name)).delete(snapshotJson(get(name), tag), false)
    }

  /** `system.snapshots`-style listing: (tag, version, n_segments, ts_ms). */
  def systemSnapshots(name: String): DataFrame = {
    import spark.implicits._
    listSnapshotRefs(get(name))
      .map(r => (r.tag, r.version.getOrElse(""), r.segments.size.toLong, r.tsMs))
      .toDF("tag", "version", "n_segments", "ts_ms")
  }

  /** COW guard for in-place partition DDL: run `body` holding the
    * table's compact lock with a GUARANTEE that no live data directory
    * is snapshot-pinned. The pin check runs INSIDE the lock — freeze()
    * also takes it, so a cross-process freeze cannot slip between the
    * check and the mutation (checking before acquiring would let a
    * snapshot taken in that window get its frozen view edited in
    * place). When pins are found, the lock is released, a compact rolls
    * the live set onto fresh directories, and the acquire + check
    * retries. Caller holds the write lock but NOT the compact lock.
    */
  private def withCowCompactLock[T](name: String)(body: => T): T = {
    var attempt = 0
    while (attempt < 6) {
      val t = get(name)
      val res = withCompactLock(t) {
        if (t.layout != Versioned) Some(body)
        else {
          val live = dataPaths(t)
            .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
          if (snapshotPins(t).intersect(live).isEmpty) Some(body) else None
        }
      }
      res match {
        case Some(v) => return v
        case None => attempt += 1; compact(name)
      }
    }
    throw new IllegalStateException(
      s"$name: live directories remain snapshot-pinned after $attempt COW compacts")
  }

  /** `ALTER TABLE name DROP PARTITION value` — removes the partition's
    * directories from every live data path. Returns the number of
    * directories removed (0 = no such partition anywhere: a no-op, like
    * dropping an empty partition). Takes the write lock THEN the compact
    * lock (mutate's order): a concurrent compact folds a snapshot of the
    * old paths into the next version, which would resurrect the partition
    * it raced with.
    */
  def dropPartition(name: String, value: Any): Int =
    writeLock(name).synchronized {
      val t = get(name)
      val leaf = partitionLeaf(t, value)
      recoverInterruptedSwap(t)
      withCowCompactLock(name) { // pin check runs inside the lock
        val f = fs(t)
        val targets = dataPaths(t)
          .map(new org.apache.hadoop.fs.Path(_, leaf)).filter(f.exists)
        targets.foreach(p => f.delete(p, true))
        recordMutation(t, s"ALTER DROP PARTITION $leaf")
        targets.size
      }
    }

  /** `ALTER TABLE name DETACH PARTITION value` — moves the partition's
    * directories (data files plus their `_idx` sidecars, which live
    * inside) into `<path>.detached/<bucket>/key=value` with one atomic
    * rename per source directory. Returns directories detached.
    */
  def detachPartition(name: String, value: Any): Int =
    writeLock(name).synchronized {
      val t = get(name)
      val leaf = partitionLeaf(t, value)
      recoverInterruptedSwap(t)
      // deletion-vector pairs address file PATHS; a detached dir comes
      // back under a different path, so pending masks would silently
      // un-delete on re-attach — materialize them first (the COW-compact
      // pattern; rare maintenance verb, correctness over constant time)
      if (currentDvDirs(t).nonEmpty) compact(name)
      withCowCompactLock(name) { // pin check runs inside the lock
        import org.apache.hadoop.fs.Path
        val f = fs(t)
        require(currentDvDirs(get(name)).isEmpty,
          s"$name: a concurrent lightweight DELETE landed mid-detach — retry")
        val srcs = dataPaths(t).map(new Path(_, leaf)).filter(f.exists)
        srcs.foreach { src =>
          val bucket = new Path(detachedRoot(t),
            s"d-$processTag-${java.util.UUID.randomUUID().toString.take(8)}")
          f.mkdirs(bucket)
          if (!f.rename(src, new Path(bucket, leaf)))
            throw new java.io.IOException(
              s"$name: detach failed to move $src into $bucket")
        }
        recordMutation(t, s"ALTER DETACH PARTITION $leaf")
        srcs.size
      }
    }

  /** `ALTER TABLE name ATTACH PARTITION value` — re-adopts every detached
    * bucket holding this value. Versioned tables commit each bucket
    * through the SAME atomic segment-marker protocol as multi-writer
    * appends (stage dir → O_EXCL marker), so a reader never sees a
    * half-attached partition and a crash before the marker leaves the
    * stage invisible (age-GC'd like any abandoned append stage). FlatDir
    * tables rename the partition dir back, merging file-by-file if the
    * partition was re-created by later appends. Returns buckets attached.
    */
  def attachPartition(name: String, value: Any): Int =
    writeLock(name).synchronized {
      val t = get(name)
      val leaf = partitionLeaf(t, value)
      recoverInterruptedSwap(t)
      withCompactLock(t) {
        import org.apache.hadoop.fs.Path
        val f = fs(t)
        val root = detachedRoot(t)
        val buckets =
          if (!f.exists(root)) Seq.empty[Path]
          else f.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
            .filter(b => f.exists(new Path(b, leaf)))
        buckets.foreach { b =>
          adoptPartitionDir(t, leaf, new Path(b, leaf))
          f.delete(b, true) // now-empty bucket
        }
        recordMutation(t, s"ALTER ATTACH PARTITION $leaf")
        buckets.size
      }
    }

  /** Adopt one `key=value` directory (data files + `_idx` sidecars) into
    * `t` — the shared commit path of ATTACH and MOVE PARTITION. Caller
    * holds t's write + compact locks. Versioned: stage as a fresh segment
    * dir, then the O_EXCL marker create commits it atomically (the
    * multi-writer append protocol — readers never see a half-adopted
    * partition). FlatDir: rename the dir in, merging file-by-file if
    * later appends re-created the partition.
    */
  private def adoptPartitionDir(t: TableDef, leaf: String,
                                src: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    val f = fs(t)
    t.layout match {
      case Versioned =>
        // fallback-soundness pin, same as append(): manifest present
        // from the first write on
        if (!f.exists(manifestPath(t)))
          writeManifest(t, currentVersion(t))
        val seg = s"seg-$processTag-" +
          java.util.UUID.randomUUID().toString.take(8)
        val segDir = new Path(t.path, seg)
        f.mkdirs(segDir)
        if (!f.rename(src, new Path(segDir, leaf)))
          throw new java.io.IOException(
            s"${t.name}: failed to stage $src as segment $seg")
        f.mkdirs(segMarkerDir(t))
        val out = f.create(new Path(segMarkerDir(t), seg), false)
        try out.write(
          processTag.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        // same GC-nomination void as append(): the marker made the
        // segment live, so no orphan tombstone may outlive it
        f.delete(new Path(segMarkerDir(t), seg + ".orphan"), false)
      case FlatDir =>
        val dst = new Path(t.path, leaf)
        if (!f.exists(dst)) {
          f.mkdirs(new Path(t.path))
          if (!f.rename(src, dst))
            throw new java.io.IOException(
              s"${t.name}: failed to move $src into the table")
        } else {
          // the partition already exists here: merge children by name
          // (Spark part files carry a per-job UUID, so collisions don't
          // arise from distinct writes; a stale same-name leftover gets
          // a uniquifying prefix). `_idx` exists on BOTH sides whenever
          // both had sidecars — its CONTENTS merge (sidecar names embed
          // their data file's unique name); renaming the dir itself
          // would surface a non-underscore copy to the scan.
          def merge(srcDir: Path, dstDir: Path): Unit =
            f.listStatus(srcDir).foreach { st =>
              val tgt0 = new Path(dstDir, st.getPath.getName)
              if (st.isDirectory && f.exists(tgt0)) merge(st.getPath, tgt0)
              else {
                val tgt =
                  if (!f.exists(tgt0)) tgt0
                  else new Path(dstDir,
                    s"att-${java.util.UUID.randomUUID().toString.take(8)}-" +
                      st.getPath.getName)
                if (!f.rename(st.getPath, tgt))
                  throw new java.io.IOException(
                    s"${t.name}: failed to merge ${st.getPath}")
              }
            }
          merge(src, dst)
          f.delete(src, true)
        }
    }
  }

  /** `ALTER TABLE src MOVE PARTITION value TO TABLE dst` — transfers the
    * partition's directories from one table to another by rename:
    * O(partition dirs), no data copy, the ClickHouse cross-table
    * partition move. Requires identical column shape and partition keys
    * (same contract as ClickHouse: structurally equal tables). Both
    * tables' write + compact locks are taken in path order (one global
    * order → no deadlock against a concurrent reverse move); COW against
    * source snapshots like every in-place partition verb. Returns the
    * number of directories moved.
    */
  def movePartition(srcName: String, dstName: String, value: Any): Int = {
    import org.apache.hadoop.fs.Path
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
        recoverInterruptedSwap(s)
        recoverInterruptedSwap(d)
        // masks are path-addressed and do not travel with moved dirs —
        // materialize the source's pending deletes first (see detach)
        if (currentDvDirs(s).nonEmpty) compact(srcName)
        withCowCompactLock(srcName) { // source pin check inside its lock
          withCompactLock(d) {
            val f = fs(s)
            require(currentDvDirs(get(srcName)).isEmpty,
              s"$srcName: a concurrent lightweight DELETE landed mid-move — retry")
            val srcs = dataPaths(s).map(new Path(_, leaf)).filter(f.exists)
            srcs.foreach(adoptPartitionDir(d, leaf, _))
            recordMutation(s, s"ALTER MOVE PARTITION $leaf TO TABLE $dstName")
            recordMutation(d, s"ALTER ATTACH PARTITION $leaf (moved from $srcName)")
            srcs.size
          }
        }
      }
    }
  }

  private def compactFlat(t: TableDef,
                          transform: DataFrame => DataFrame = identity): Unit = {
    import org.apache.hadoop.fs.Path
    val name = t.name
    val path = new Path(t.path)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(t.path + ".compact.tmp")
    val old = new Path(t.path + ".compact.old")
    recoverInterruptedSwap(t)
    // nothing written yet (no data AND no swap artifacts to recover):
    // compacting or mutating an empty table is a DATA no-op — but the
    // transform still runs once against an empty frame of the declared
    // schema, so update()'s unknown-column require and mutate()'s shape
    // check fail as loudly on a fresh table as on a populated one
    if (!fs.exists(path)) { transform(emptyFrame(t)); return }
    // only stale leftovers remain now that the table path exists
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)
    val merged = transform(read(name))
    writeData(t, clusteredFor(t, merged, forCompact = true), tmp.toString)
    // the _TABLE definition sidecar rides the swap ATOMICALLY: written
    // into the staging dir before the rename, so no crash point leaves a
    // healthy data dir without its persisted definition. NOT best-effort
    // here — a failure aborts the swap with the table intact.
    writeTableDef(tables.getOrElse(name, t), tmp.toString)
    // Hadoop rename reports failure by returning false, not throwing —
    // check each step so a failed swap is loud, never a silent no-op
    require(fs.rename(path, old), s"compact($name): rename $path -> $old failed")
    require(fs.rename(tmp, path), s"compact($name): rename $tmp -> $path failed")
    fs.delete(old, true)
    // the rewrite read through the deletion-vector mask, so the swapped-in
    // files already exclude the masked rows — the applied dvs are done
    clearAppliedDvs(t)
  }

  /** Manifest-commit compact for [[Versioned]] tables (the object-store
    * path): GC orphan versions from any crashed predecessor, write the
    * merged output to the NEXT version dir, then commit by flipping the
    * one-line `_CURRENT` manifest. The flip is tmp-file + delete + rename —
    * single small FILE operations (on a store without rename, a
    * conditional/overwrite PUT of `_CURRENT` is the drop-in analog); the
    * brief manifest-absent window is covered by [[currentVersion]]'s
    * highest-complete-version fallback. Readers never see a missing or
    * half-written table at any point.
    */
  private def compactVersioned(t: TableDef,
                               transform: DataFrame => DataFrame = identity): Unit = {
    import org.apache.hadoop.fs.Path
    val f = fs(t)
    val cur = currentVersion(t)
    // Pin the manifest BEFORE any new version dir exists: the
    // highest-complete-version fallback is only sound while "manifest
    // absent" implies "successor fully written" — without this, a crash
    // midway through the very first compact's v1 write (no manifest ever
    // created) would make readers fall back onto the half-written v1.
    if (!f.exists(manifestPath(t))) writeManifest(t, cur)
    // orphans = every version dir except the live one: a fully written
    // successor whose flip crashed (made live by the fallback, so not
    // matched here), a half-written compact output, or the version the
    // PREVIOUS compact displaced — retained until now as a read grace
    // window (Spark reads are lazy: a scan that resolved its path just
    // before that flip may still be running; deleting eagerly would fail
    // it mid-job with FileNotFoundException). Snapshot-pinned versions
    // are NOT garbage: they stay until their snapshot drops (FREEZE).
    val pinned = snapshotPins(t)
    listVersions(t).filter(_ != cur).filterNot(pinned)
      .foreach(v => f.delete(new Path(t.path, v), true))
    // crashed writers' abandoned manifest staging files. Age-gated: a
    // peer process's append() may be pinning the manifest RIGHT NOW
    // (writeManifest stages for milliseconds, guarded only by its own
    // JVM's writeLock, not this compact lock) — only tmp files old enough
    // to be certainly dead are collected
    f.listStatus(new Path(t.path)).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("_CURRENT.tmp") &&
        System.currentTimeMillis() - s.getModificationTime > staleLockMs)
      .foreach(s => f.delete(s.getPath, false))
    // segments the PREVIOUS compact folded (`.folded` tombstones): their
    // dirs were retained one cycle as the reader grace window — collect
    // them now, the same retention versions get. A snapshot-pinned
    // segment keeps BOTH its dir and its tombstone (so a later compact
    // retries once the pin is gone).
    val segMd = segMarkerDir(t)
    if (f.exists(segMd)) f.listStatus(segMd).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".folded"))
      .filterNot(s => pinned(s.getPath.getName.stripSuffix(".folded")))
      .foreach { s =>
        f.delete(new Path(t.path, s.getPath.getName.stripSuffix(".folded")), true)
        f.delete(s.getPath, false)
      }
    // finish a crashed unmark: segments the CURRENT version already
    // absorbed (its _FOLDED list) but whose markers survived a crash
    // between the manifest flip and the unmark loop — readers already
    // exclude them via foldedOf, but the markers must go before this
    // compact snapshots, or the rows would fold twice
    foldedOf(t, cur).foreach { s =>
      val m = new Path(segMd, s)
      if (f.exists(m)) {
        f.delete(m, false)
        f.create(new Path(segMd, s + ".folded"), true).close()
      }
    }
    // crashed appends: a stage dir with NO commit marker (and no
    // tombstone) is invisible to readers. TWO-phase, not a one-shot age
    // gate: a peer's data write can legitimately run longer than any
    // fixed age (the staging dir's mtime is set at creation, not
    // refreshed), so this compact only NOMINATES an old unmarked dir
    // (`.orphan` tombstone); a LATER compact deletes it only if it is
    // still unmarked, the nomination itself has aged past staleLockMs,
    // and nothing inside the dir has been written for staleLockMs (the
    // newest-file mtime is the writer's heartbeat). A writer that
    // eventually commits voids its nomination in commitSegment.
    val committed = committedSegments(t).toSet
    f.listStatus(new Path(t.path)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("seg-") &&
        !committed(s.getPath.getName) &&
        !f.exists(new Path(segMd, s.getPath.getName + ".folded")) &&
        System.currentTimeMillis() - s.getModificationTime > staleLockMs)
      .foreach { s =>
        val seg = s.getPath.getName
        val orphan = new Path(segMd, seg + ".orphan")
        if (!f.exists(orphan)) {
          f.mkdirs(segMd)
          f.create(orphan, true).close()
        } else if (System.currentTimeMillis() -
                     f.getFileStatus(orphan).getModificationTime > staleLockMs) {
          val newest = {
            val it = f.listFiles(s.getPath, true)
            var m = s.getModificationTime
            while (it.hasNext) m = math.max(m, it.next().getModificationTime)
            m
          }
          if (System.currentTimeMillis() - newest > staleLockMs) {
            f.delete(s.getPath, true)
            f.delete(orphan, false)
          }
        }
      }
    // nothing written yet (no version data AND no committed segments):
    // data no-op, but validate the transform (see the compactFlat twin of
    // this guard)
    val curExists = f.exists(new Path(t.path, cur))
    if (!curExists && committed.isEmpty) {
      transform(emptyFrame(t)); return
    }
    // fold the SNAPSHOTTED segments only: a segment committed by a
    // concurrent append after the snapshot keeps its marker — still
    // visible to every reader now, folded by the next compact; folding a
    // re-listed superset instead would both fold it AND leave it marked
    // (duplicated rows)
    val snapPaths = (if (curExists) Seq(new Path(t.path, cur).toString) else Nil) ++
      committed.toSeq.sorted.map(s => new Path(t.path, s).toString)
    val merged = transform(readVia(t, snapPaths))
    val next = s"v${versionNum(cur) + 1}"
    writeData(t, clusteredFor(t, merged, forCompact = true), new Path(t.path, next).toString)
    // record what this version absorbed BEFORE it can become current:
    // readers subtract the _FOLDED set from the committed-segment list
    // (see foldedOf), so the flip below hides the folded segments in the
    // SAME atomic step that exposes their rows in the new version — no
    // double-count window, for Append semantics too, and a crash before
    // the unmark loop below is fully recoverable
    if (committed.nonEmpty) {
      val out = f.create(new Path(new Path(t.path, next), "_FOLDED"), true)
      try out.write(committed.toSeq.sorted.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    writeManifest(t, next)
    // unmark the folded segments (hidden from new readers) and tombstone
    // them for the next compact's GC; their dirs — like the displaced
    // version dir — are NOT deleted here, staying readable until then so
    // in-flight readers that resolved their paths pre-flip finish cleanly
    committed.foreach { s =>
      // marker first, tombstone second: a crash in between leaves an
      // unmarked dir for the age-gated GC — tombstone-first would let the
      // next compact delete a dir whose live marker still names it
      f.delete(new Path(segMarkerDir(t), s), false)
      f.create(new Path(segMarkerDir(t), s + ".folded"), true).close()
    }
    // every dv existing at this compact's start addressed segments/versions
    // the fold just absorbed (deleteLightweight serializes on the compact
    // lock, so none arrived mid-fold) — materialized, collect them
    clearAppliedDvs(t)
  }

  /** Atomically (re)point `_CURRENT` at a version: tmp file + delete +
    * rename — single small FILE operations (on a store without rename, a
    * conditional/overwrite PUT of `_CURRENT` is the drop-in analog). The
    * brief manifest-absent window between delete and rename is covered by
    * [[currentVersion]]'s highest-complete-version fallback.
    *
    * Cross-process safety: the staging name is process-unique, so two
    * JVMs pinning the same fresh table can't clobber each other's tmp. If
    * the final rename loses a race (HDFS rename onto an existing
    * destination returns false), the flip re-reads the manifest: the same
    * version there means the peer committed the identical pin — success;
    * a different version is a genuine conflicting commit and fails loudly.
    */
  private def writeManifest(t: TableDef, version: String): Unit = {
    import org.apache.hadoop.fs.Path
    val f = fs(t)
    val m = manifestPath(t)
    val tmp = new Path(t.path, s"_CURRENT.tmp.$processTag")
    val out = f.create(tmp, true)
    try out.write(version.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    f.delete(m, false)
    if (!f.rename(tmp, m)) {
      f.delete(tmp, false)
      require(f.exists(m) && currentVersion(t) == version,
        s"${t.name}: manifest flip to $version lost a race to a conflicting commit")
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

  // per-process monotonic mutation counter: same-millisecond mutation
  // markers sort in issue order (doc on recordMutation)
  private val mutationSeq = new java.util.concurrent.atomic.AtomicLong(0)

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
    * sampled table from the `_TABLE` sidecar like any other.
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
