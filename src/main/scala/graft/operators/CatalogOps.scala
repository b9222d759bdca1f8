package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.catalog.{Append, BufferedTable, Catalog, Collapsing, JoinAny, NullEngine, ReplacingDedup, Summing, TableDef}
import graft.plans.{ProjectionDef, RollupRewrite, SortedProjectionDef, SortedProjectionRewrite}

/** The Catalog's clustered write path exercised FROM the query suite —
  * queries elsewhere read the raw testdata Parquet, so the row-group-
  * skipping claim of the O3 clustering sort (Catalog.append:
  * repartitionByRange + sortWithinPartitions ≈ MergeTree `ORDER BY`,
  * reference types.json:7) would otherwise only ever be exercised by
  * CatalogSpec fixtures.
  *
  * `cat_clustered_scan` routes a sort-key range predicate through a
  * Catalog-written clustered copy of `orders`: the predicate reaches the
  * Parquet scan as a pushed filter and, because the copy is range-
  * clustered on the key, almost every row group's min/max excludes the
  * range — CatalogOpsSpec counts the surviving row groups from the
  * Parquet footers directly. The oracle runs the same aggregate on the
  * ORIGINAL table: identical results prove the clustered copy is
  * content-preserving while the layout does the skipping.
  */
object CatalogOps extends QueryModule {

  private val KeyLo = 100L
  private val KeyHi = 200L

  /** Catalog-written copy of `orders`, clustered by o_orderkey, plus its
    * storage path (the spec inspects the footers there). Fresh temp dir
    * per call: append-once, so replays can't double the table; the dir is
    * removed at JVM exit so repeated Bench/Verify cycles don't accumulate
    * full table copies under /tmp. The measured query time deliberately
    * INCLUDES the clustered write — the O3 write path is the operator
    * under test, not just the skipping scan.
    */
  def clusteredOrdersWithPath(s: SparkSession, d: String): (DataFrame, String) =
    catalogCopy(s, "orders_by_key", Tables.orders(s, d),
      sortKeys = Seq("o_orderkey"))

  // one JVM-wide cleanup hook over all copies made by the layout queries
  // (fresh temp dir per invocation; each invocation's copy IS the write
  // path under test, so re-copying is deliberate — but hooks must not
  // accumulate per call)
  private val copyDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  // dirs that must SURVIVE between queries: process-wide memoized
  // fixtures (the PQ index, ChAggs' maintained sketch tables) registered
  // through registerForCleanup — reapEphemeral never touches these
  private val pinnedDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  private def deleteTree(tmp: java.nio.file.Path): Unit =
    // per-dir try: one failed walk (a path Spark's own tmp GC already
    // removed, a transient IO error) must not orphan every LATER dir —
    // the round-12 sf100 finding: a single early exception left 43 GB
    // of fixture copies behind a clean exit
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator.asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    } catch { case scala.util.control.NonFatal(_) => () }

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      (copyDirs.iterator.asScala ++ pinnedDirs.iterator.asScala)
        .foreach(deleteTree)
    }))
  }

  /** Delete every NON-pinned scratch dir registered so far. Big-SF bench
    * runs call this between queries (SPARK_GRAFT_REAP=1): per-invocation
    * fixture copies are dead once the query's action completes, and at
    * sf100 letting ~50 of them accumulate to process exit filled the box
    * twice (round-10 and round-12 ENOSPC findings). Memoized fixtures
    * survive — they registered through [[registerForCleanup]].
    */
  private[graft] def reapEphemeral(): Unit = {
    var tmp = copyDirs.poll()
    while (tmp != null) { deleteTree(tmp); tmp = copyDirs.poll() }
  }

  /** Register a temp warehouse dir for the shutdown-hook GC — shared with
    * other modules that stage catalog copies (e.g. ChAggs' sketch MV).
    */
  private[graft] def registerForCleanup(dir: java.nio.file.Path): Unit = {
    // promote OUT of the ephemeral queue: callers pair this with
    // scratchDir() (which already enqueued the dir), and what they stage
    // is the long-lived kind a between-queries reap must not delete
    copyDirs.remove(dir)
    pinnedDirs.add(dir)
  }

  /** Fixture scratch: where the catalog-gate queries stage their temp
    * warehouses. `SPARK_GRAFT_SCRATCH` (env) overrides java.io.tmpdir —
    * point it at a roomy volume for big-SF bench runs, where fixture
    * copies of the dataset plus a worst-case SMJ spill have flirted with
    * ENOSPC on the default /tmp. Every dir is registered for the
    * shutdown-hook GC (eager enough for one-process Bench/Verify cycles;
    * long-lived sessions reclaim at exit).
    */
  private[graft] def scratchRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_SCRATCH", sys.props("java.io.tmpdir"))

  private[graft] def scratchDir(prefix: String): java.nio.file.Path = {
    val tmp = sys.env.get("SPARK_GRAFT_SCRATCH") match {
      case Some(r) =>
        val root = java.nio.file.Paths.get(r)
        java.nio.file.Files.createDirectories(root)
        java.nio.file.Files.createTempDirectory(root, prefix)
      case None => java.nio.file.Files.createTempDirectory(prefix)
    }
    copyDirs.add(tmp)
    tmp
  }

  private def catalogCopy(s: SparkSession, table: String, src: DataFrame,
                          sortKeys: Seq[String],
                          partitionKeys: Seq[String] = Nil): (DataFrame, String) =
    catalogCopyCat(s, table, src, sortKeys, partitionKeys) match {
      case (cat, path) => (cat.read(table), path)
    }

  private def catalogCopyCat(s: SparkSession, table: String, src: DataFrame,
                             sortKeys: Seq[String],
                             partitionKeys: Seq[String] = Nil,
                             indexCols: Seq[String] = Nil,
                             minmaxCols: Seq[String] = Nil,
                             tokenIndexCols: Seq[String] = Nil): (Catalog, String) = {
    val cat = new Catalog(s)
    val tmp = scratchDir(s"graft-cat-$table")
    val path = tmp.resolve(table).toString
    cat.createTable(TableDef(table, path, src.schema,
      sortKeys = sortKeys, semantics = Append, partitionKeys = partitionKeys,
      indexCols = indexCols, minmaxCols = minmaxCols,
      tokenIndexCols = tokenIndexCols))
    cat.append(table, src)
    (cat, path)
  }

  /** The minmax-skip-index gate table: a Catalog copy of `orders`
    * clustered by o_orderkey with a minmax sidecar on the same key — the
    * MergeTree part-level minmax index shape: the range predicate drops
    * whole FILES before the scan starts (no footer fetch at all), on top
    * of the row-group min/max skipping the clustering already gives
    * inside kept files. Returns the pruned frame plus (files kept, files
    * total) so CatalogOpsSpec can observe the skipping.
    */
  def minmaxScanWithStats(s: SparkSession, d: String): (DataFrame, Int, Int) = {
    val (cat, _) = catalogCopyCat(s, "orders_mm", Tables.orders(s, d),
      sortKeys = Seq("o_orderkey"), minmaxCols = Seq("o_orderkey"))
    val (df, kept, total) =
      cat.readRangePruned("orders_mm", "o_orderkey", KeyLo, KeyHi)
    (df.filter(col("o_orderkey").between(KeyLo, KeyHi)), kept, total)
  }

  /** The DDL-entry gate table: `orders` re-declared through ClickHouse
    * CREATE TABLE TEXT (ChDdl — Enum8 value validation, LowCardinality →
    * parquet dictionary, a set(8) skip index, a MATERIALIZED ingest
    * timestamp, MergeTree ORDER BY clustering), loaded, and read back
    * through the set index. The reference's own DDL dialect driving the
    * engine end to end.
    */
  def ddlScanWithStats(s: SparkSession, d: String): (DataFrame, Int, Int) = {
    val cat = new Catalog(s)
    val tmp = scratchDir("graft-cat-orders_ddl")
    graft.sql.ChDdl.createTable(cat,
      """CREATE TABLE orders_ddl (
        |  `o_orderkey` UInt64,
        |  `o_custkey` UInt64,
        |  `o_orderstatus` Enum8('F' = 1, 'O' = 2, 'P' = 3),
        |  `o_totalprice` Float64,
        |  `o_orderdate` Date,
        |  `o_orderpriority` LowCardinality(String),
        |  `loaded_at` DateTime MATERIALIZED now(),
        |  INDEX pri_set o_orderpriority TYPE set(8) GRANULARITY 1
        |) ENGINE = MergeTree
        |ORDER BY (o_orderpriority, o_orderkey)
        |SETTINGS index_granularity = 8192""".stripMargin,
      tmp.resolve("orders_ddl").toString)
    cat.append("orders_ddl", Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")))
    val probe = Seq("2-HIGH", "5-LOW")
    val (df, kept, total) =
      cat.readSetPruned("orders_ddl", "o_orderpriority", probe)
    (df.filter(col("o_orderpriority").isin(probe: _*)), kept, total)
  }

  /** The set-skip-index gate table: a Catalog copy of `orders` clustered
    * by (o_orderpriority, o_orderkey) with an exact set(8) sidecar on
    * the priority column — the CH `INDEX … TYPE set(N)` shape for
    * enum-ish columns: clustering gives each file 1-2 of the 5 priority
    * values, the sidecar stores them EXACTLY (no false positives, unlike
    * the bloom), and an IN-probe drops every file whose set misses all
    * probe values. Returns the pruned frame + (files kept, files total).
    */
  def setScanWithStats(s: SparkSession, d: String): (DataFrame, Int, Int) = {
    val src = Tables.orders(s, d)
    val cat = new Catalog(s)
    val tmp = scratchDir("graft-cat-orders_set")
    cat.createTable(TableDef("orders_set",
      tmp.resolve("orders_set").toString, src.schema,
      sortKeys = Seq("o_orderpriority", "o_orderkey"), semantics = Append,
      setIndexCols = Seq("o_orderpriority" -> 8)))
    cat.append("orders_set", src)
    val probe = Seq("1-URGENT", "3-MEDIUM")
    val (df, kept, total) = cat.readSetPruned("orders_set",
      "o_orderpriority", probe)
    (df.filter(col("o_orderpriority").isin(probe: _*)), kept, total)
  }

  /** The full-text (inverted) index gate table: a Catalog copy of
    * `orders` carrying a derived log-line column
    * `note = "clerk_<custkey%1000> pri_<priority>"` with a posting-list
    * sidecar on it (the CH `INDEX … TYPE full_text` shape) — clustered
    * by o_orderkey so both probe tokens are scattered across every file.
    * The probe is the multi-token AND the token BLOOM refuses: each
    * token alone lives in most files, but the pair CO-OCCURS IN ONE ROW
    * only where that clerk filed at that priority — the row-set
    * intersection drops every file without such a row, a prune no
    * per-token structure can make. Probe tokens come from the
    * minimum-orderkey row (two scalars to the driver, the
    * [[bloomScanWithStats]] rule), so the probe is deterministic at
    * every SF and matches at least that row. Returns the filtered frame
    * plus (files kept, files total).
    */
  def fullTextScanWithStats(s: SparkSession, d: String): (DataFrame, Int, Int) = {
    val src = Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderpriority"),
      concat(lit("clerk_"), col("o_custkey") % 1000, lit(" pri_"),
        translate(col("o_orderpriority"), "-", "_")).as("note"))
    val cat = new Catalog(s)
    val tmp = scratchDir("graft-cat-orders_ft")
    cat.createTable(TableDef("orders_ft",
      tmp.resolve("orders_ft").toString, src.schema,
      sortKeys = Seq("o_orderkey"), semantics = Append,
      fullTextCols = Seq("note" -> 4096)))
    cat.append("orders_ft", src)
    val head = src.orderBy(col("o_orderkey"))
      .select(col("o_custkey") % 1000, col("o_orderpriority")).head()
    val (clerk, pri) = (head.getLong(0), head.getString(1))
    val (df, kept, total) = cat.readFullTextAnd("orders_ft", "note",
      Seq(s"clerk_$clerk", s"pri_${pri.replace('-', '_')}"))
    // the real row predicate on top of the file prune (a kept file still
    // holds rows where the tokens DON'T share a row)
    (df.filter(col("o_custkey") % 1000 === clerk &&
      col("o_orderpriority") === pri), kept, total)
  }

  /** The SAMPLE BY gate table: a Catalog copy of `orders` declared
    * `SAMPLE BY o_custkey` (Catalog.withSampleBy — stored md5-prefix
    * bucket column, bucket-led sort keys, bucket minmax sidecars), plus
    * the `SAMPLE 0.25` read and its (files kept, files total): with data
    * files clustered on the bucket, a quarter-window read drops ~¾ of
    * the FILES before any row is scanned — the CH "sampling key in the
    * primary key" granule skip. Sampling by CUSTOMER on an ORDERS table
    * is the key-consistency shape: the same window over a customer table
    * keeps exactly the sampled customers' orders.
    */
  def sampledScanWithStats(s: SparkSession, d: String): (DataFrame, Int, Int) = {
    val src = Tables.orders(s, d)
    val cat = new Catalog(s)
    val tmp = scratchDir("graft-cat-orders_smp")
    cat.createTable(Catalog.withSampleBy(
      TableDef("orders_smp", tmp.resolve("orders_smp").toString, src.schema,
        sortKeys = Seq("o_orderkey"), semantics = Append), "o_custkey"))
    cat.append("orders_smp", src)
    cat.readSampledWithStats("orders_smp", 0.25)
  }

  /** The bloom-skip-index gate table: a Catalog copy of `orders` clustered
    * by o_orderkey with a bloom sidecar on o_custkey — a NON-sort-key
    * column, so row-group min/max can't skip for it — plus the pruned read
    * for the probe key and its (files scanned, files total) observation.
    * Probe = the custkey of the minimum-orderkey row: deterministic at
    * every SF without baking a data value into the query text.
    */
  def bloomScanWithStats(s: SparkSession, d: String): (DataFrame, Int, Int) = {
    val src = Tables.orders(s, d)
    val (cat, _) = catalogCopyCat(s, "orders_bloom", src,
      sortKeys = Seq("o_orderkey"), indexCols = Seq("o_custkey"))
    val probe = src.orderBy(col("o_orderkey")).select(col("o_custkey"))
      .head().getLong(0) // one scalar to the driver: the lookup key itself
    val (df, kept, total) = cat.readPruned("orders_bloom", "o_custkey", probe)
    (df.filter(col("o_custkey") === probe), kept, total)
  }

  /** The token-skip-index gate table: a Catalog copy of `customer`
    * clustered by c_custkey with a TOKEN bloom on c_name (tokenbf_v1
    * analog — the log-search shape: find the id token INSIDE a text
    * column, where the whole-value equality bloom is useless). Probe =
    * the numeric name-token of the median-custkey customer: with names
    * unique and the table range-clustered on the key, that token lives
    * in exactly one file, so the pruned read skips the rest. Returns the
    * filtered frame plus (files kept, files total).
    */
  def tokenScanWithStats(s: SparkSession, d: String): (DataFrame, Int, Int) = {
    val src = Tables.customer(s, d)
    val (cat, _) = catalogCopyCat(s, "customer_tok", src,
      sortKeys = Seq("c_custkey"), tokenIndexCols = Seq("c_name"))
    val probeKey = src.count() / 2 // one scalar: the probe row's key
    val name = src.filter(col("c_custkey") === probeKey)
      .select(col("c_name")).head().getString(0)
    val token = name.split(Catalog.TokenSeparators).filter(_.nonEmpty).last
    val (df, kept, total) = cat.readTokenPruned("customer_tok", "c_name", token)
    (df.filter(Catalog.hasToken(col("c_name"), token)), kept, total)
  }

  override def queries: Map[String, Q] = Map(
    // Full-text token skip index through the correctness gate: a
    // hasToken probe on a text column reads only the files whose TOKEN
    // bloom might contain the probe (CatalogOpsSpec counts the skipped
    // files). The oracle selects the same row by key on the original
    // table — equality proves token pruning never drops a matching row.
    "cat_token_scan" -> ((s, d) =>
      CatalogOps.tokenScanWithStats(s, d)._1
        .agg(count(lit(1)).as("n_rows"),
          min(col("c_custkey")).as("probe_key"),
          round(sum(col("c_acctbal")), 2).as("bal"))),

    "cat_clustered_scan" -> ((s, d) =>
      clusteredOrdersWithPath(s, d)._1
        .filter(col("o_orderkey").between(KeyLo, KeyHi))
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"),
          count(col("o_custkey")).as("n_cust"))),

    // Bloom skip-index exercised through the correctness gate: a point
    // lookup on a NON-sort-key column reads only the files whose bloom
    // sidecar might contain the probe (CatalogOpsSpec counts the skipped
    // files; the pruning observation lives there). The oracle runs the
    // same aggregate over the ORIGINAL table — equality proves pruning
    // never drops a matching row (bloom has no false negatives).
    "cat_bloom_scan" -> ((s, d) =>
      CatalogOps.bloomScanWithStats(s, d)._1
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_orderkey")).as("min_key"),
          round(sum(col("o_totalprice")), 2).as("total"))),

    // PARTITION BY exercised through the correctness gate (the clustered
    // twin of cat_clustered_scan): a Catalog copy of `events` partitioned
    // by event_type + sorted by ts, scanned with a partition predicate.
    // The filter prunes at the DIRECTORY level (PartitionFilters — only
    // the one partition's files are even listed), the oracle runs the
    // same aggregate on the original table, and equality proves the
    // partitioned rewrite is content-preserving while the layout does the
    // skipping. The measured time deliberately includes the partitioned
    // write — the layout path is the operator under test.
    "cat_partitioned_scan" -> ((s, d) => {
      val src = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      catalogCopy(s, "events_by_type", src,
        sortKeys = Seq("ts"), partitionKeys = Seq("event_type"))._1
        .filter(col("event_type") === "purchase")
        .agg(count(lit(1)).as("n"),
          count_distinct(col("user_id")).as("n_users"),
          round(sum(col("value")), 2).as("sum_value"))
    }),

    // FREEZE through the correctness gate: snapshot a catalog copy of
    // orders, then DELETE a third of the live table, then aggregate the
    // SNAPSHOT — the oracle aggregates the original table, so equality
    // proves the frozen view is untouched by mutations that happened
    // after it (the O(1)-pin time-travel contract, not a data copy).
    "cat_snapshot_read" -> ((s, d) => {
      val (cat, _) = catalogCopyCat(s, "orders_frz", Tables.orders(s, d),
        sortKeys = Seq("o_orderkey"))
      cat.freeze("orders_frz", "pre")
      cat.delete("orders_frz", col("o_totalprice") > 150000)
      cat.readSnapshot("orders_frz", "pre")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus"))
    }),

    // Partition-level DDL through the correctness gate: DROP one
    // partition outright, DETACH a second and ATTACH it back, then
    // aggregate the survivors. The oracle filters the dropped value from
    // the original table — equality proves drop removed exactly one
    // partition's rows and the detach/attach round-trip lost none. All
    // three verbs are directory renames/deletes (O(partition), no row
    // rewrite) — the 100 TB retention path; the spec asserts untouched
    // partitions' files are bit-identical after the ops.
    "cat_partition_ops" -> ((s, d) => {
      val src = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val (cat, _) = catalogCopyCat(s, "events_part_ops", src,
        sortKeys = Seq("ts"), partitionKeys = Seq("event_type"))
      cat.dropPartition("events_part_ops", "click")
      cat.detachPartition("events_part_ops", "view")
      cat.attachPartition("events_part_ops", "view")
      cat.read("events_part_ops")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // the summable-measure variant: the rollup carries count AND
    // sum(l_quantity) partials per (returnflag, linestatus), and the
    // q1-shaped query — dim filter, dim grouping, count + sum — is
    // answered entirely from it (sum of per-group partials ≡ the total;
    // l_quantity is integral-valued so the re-association is exact).
    // Oracled on the BASE lineitem table, independently checking the
    // measure rewrite every round.
    "proj_rollup_sum" -> ((s: SparkSession, d: String) => {
      val base = s"$d/lineitem.parquet"
      val rollup = java.nio.file.Paths.get(
        scratchRoot,
        "graft-proj-" + Integer.toHexString(d.hashCode),
        "lineitem_rollup").toString
      if (!RollupRewrite.isRegistered(base)) {
        s.read.parquet(base)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
          .write.mode("overwrite").parquet(rollup)
        RollupRewrite.register(s, ProjectionDef(base, rollup,
          Seq("l_returnflag", "l_linestatus"), "cnt",
          sumCols = Map("l_quantity" -> "sum_qty")))
      }
      s.read.parquet(base)
        .filter(col("l_linestatus") === "O")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 2).as("qty"))
        .orderBy(col("l_returnflag"))
    }),

    // PROJECTION-analog end to end through the correctness gate: build the
    // rollup (the MV-backfill shape), register it, then run a plain count
    // aggregate against the BASE table. RollupRewrite answers it from the
    // rollup — sum(cnt) over ~|dims| rows instead of a base scan — while
    // the DuckDB oracle computes the same SQL on the base parquet, so the
    // rewrite's soundness is checked by an independent engine every round.
    // The measured time deliberately includes the rollup build (projection
    // maintenance is part of the operator); at 100 TB the build is
    // amortized across every query the rule accelerates afterwards.
    "proj_rollup_count" -> ((s, d) => {
      val base = s"$d/orders.parquet"
      // deterministic per-sfDir location + overwrite: re-invocations (spec
      // sweeps, Verify, Bench warm runs) refresh one rollup instead of
      // accumulating temp copies
      val rollup = java.nio.file.Paths.get(
        scratchRoot,
        "graft-proj-" + Integer.toHexString(d.hashCode),
        "orders_rollup").toString
      // build-then-register ONCE per session: the rebuild query is itself
      // rewrite-eligible, so rebuilding after registration would be
      // answered from the rollup file being overwritten; the base
      // testdata is immutable, so
      // re-invocations (spec sweeps, Bench repeats) just reuse the rollup
      if (!RollupRewrite.isRegistered(base)) {
        s.read.parquet(base)
          .groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("cnt"))
          .write.mode("overwrite").parquet(rollup)
        RollupRewrite.register(s, ProjectionDef(base, rollup,
          Seq("o_orderstatus", "o_orderpriority"), "cnt"))
      }
      s.read.parquet(base)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus"))
    }),

    // The OTHER half of ClickHouse projections: an alternate-ORDER-BY
    // copy (`PROJECTION p (SELECT * ORDER BY o_custkey)`). The base is
    // clustered on o_orderkey, so a customer point-lookup scans every
    // row group; the registered sorted projection answers it instead —
    // SortedProjectionRewrite swaps the relation under the filter
    // (exprIds pinned), the predicate pushes into a scan whose min/max
    // stats match it, and the oracle runs on the BASE so the swap is
    // independently result-checked every round. Probe = the custkey of
    // the minimum-orderkey row (deterministic at every SF).
    "proj_sorted_lookup" -> ((s, d) => {
      val base = s"$d/orders.parquet"
      val proj = java.nio.file.Paths.get(
        scratchRoot,
        "graft-proj-" + Integer.toHexString(d.hashCode),
        "orders_bycust").toString
      if (!SortedProjectionRewrite.isRegistered(base)) {
        s.read.parquet(base)
          .repartitionByRange(col("o_custkey"))
          .sortWithinPartitions(col("o_custkey"))
          .write.mode("overwrite").parquet(proj)
        SortedProjectionRewrite.register(s,
          SortedProjectionDef(base, proj, "o_custkey"))
      }
      val probe = s.read.parquet(base).orderBy(col("o_orderkey"))
        .select(col("o_custkey")).head().getLong(0)
      s.read.parquet(base)
        .filter(col("o_custkey") === probe)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Minmax skip-index through the correctness gate: the range scan
    // reads only the files whose sidecar interval intersects the
    // predicate (CatalogOpsSpec counts the skipped files). The oracle
    // runs the same aggregate over the ORIGINAL table — equality proves
    // file-level pruning never drops a matching row.
    "cat_minmax_scan" -> ((s, d) =>
      minmaxScanWithStats(s, d)._1
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"),
          round(sum(col("o_totalprice")), 2).as("total"))),

    // The CH DDL TEXT entry point through the correctness gate: CREATE
    // TABLE text (enum validation, LowCardinality, set index,
    // MATERIALIZED column) declares the table, the load and the pruned
    // read run through it, and the oracle recomputes over the ORIGINAL
    // parquet — the reference's own dialect driving the engine.
    "cat_ddl_create" -> ((s, d) =>
      ddlScanWithStats(s, d)._1
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus"))),

    // The ALTER/ops DDL TEXT entry point through the gate: after the
    // load, the table is deduplicated, evolved, mutated, and partition-
    // pruned ENTIRELY by a pasted ClickHouse runbook — OPTIMIZE FINAL
    // DEDUPLICATE, ADD COLUMN DEFAULT, UPDATE … WHERE, DELETE WHERE,
    // DROP PARTITION, DROP/MODIFY/RENAME COLUMN — each verb dispatching
    // to the existing crash-safe Catalog machinery (ChDdl.runScript).
    // The final read must equal the oracle's independent recomputation
    // of the whole chain from the ORIGINAL parquet.
    "cat_ddl_alter" -> ((s, d) => {
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-orders_alter")
      graft.sql.ChDdl.runScript(cat, s,
        """CREATE TABLE orders_alter (
          |  `o_orderkey` UInt64,
          |  `o_custkey` UInt64,
          |  `o_orderstatus` LowCardinality(String),
          |  `o_totalprice` Float64,
          |  `o_orderpriority` String,
          |  `o_year` Int32,
          |  `o_clerk` String
          |) ENGINE = MergeTree
          |ORDER BY o_orderkey
          |PARTITION BY o_orderstatus""".stripMargin, tmp.toString)
      val src = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"),
        year(col("o_orderdate")).cast("int").as("o_year"),
        concat(lit("clerk#"), col("o_custkey") % 1000).as("o_clerk"))
      cat.append("orders_alter", src)
      cat.append("orders_alter", src) // deliberate full-duplicate batch
      graft.sql.ChDdl.runScript(cat, s,
        """OPTIMIZE TABLE orders_alter FINAL DEDUPLICATE;
          |ALTER TABLE orders_alter ADD COLUMN band String DEFAULT 'std';
          |ALTER TABLE orders_alter UPDATE band = 'big' WHERE o_totalprice > 200000;
          |ALTER TABLE orders_alter DELETE WHERE o_orderpriority = '1-URGENT';
          |ALTER TABLE orders_alter DROP PARTITION 'P';
          |ALTER TABLE orders_alter DROP COLUMN o_clerk;
          |ALTER TABLE orders_alter MODIFY COLUMN o_year Int64;
          |ALTER TABLE orders_alter RENAME COLUMN o_orderpriority TO priority
          |""".stripMargin, tmp.toString)
      cat.read("orders_alter")
        .groupBy(col("o_orderstatus"), col("band"))
        .agg(count(lit(1)).as("n"), sum(col("o_year")).as("year_sum"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus"), col("band"))
    }),

    // CREATE-time `DEFAULT expr` columns through the gate: the table is
    // declared entirely as DDL text with three DEFAULT flavors — a
    // literal, a column-referencing expression (fee derives from
    // o_totalprice per row), and a function call — then loaded by an
    // append that OMITS all three and by an INSERT VALUES that omits
    // them too (the text door must take the DECLARED default, not the
    // type default). The oracle recomputes every fill independently
    // from the ORIGINAL parquet.
    "cat_ddl_default" -> ((s, d) => {
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-orders_def")
      graft.sql.ChDdl.runScript(cat, s,
        """CREATE TABLE orders_def (
          |  `o_orderkey` UInt64,
          |  `o_orderstatus` LowCardinality(String),
          |  `o_totalprice` Float64,
          |  `band` String DEFAULT 'std',
          |  `fee` Float64 DEFAULT o_totalprice * 0.01,
          |  `src` LowCardinality(String) DEFAULT upper('batch')
          |) ENGINE = MergeTree
          |ORDER BY o_orderkey""".stripMargin, tmp.toString)
      cat.append("orders_def", Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")))
      graft.sql.ChDdl.execute(cat, s,
        "INSERT INTO orders_def (o_orderkey, o_orderstatus, o_totalprice) " +
          "VALUES (9000000001, 'X', 100.0)")
      cat.read("orders_def")
        .groupBy(col("o_orderstatus"), col("band"), col("src"))
        .agg(count(lit(1)).as("n"), round(sum(col("fee")), 2).as("fee_sum"))
        .orderBy(col("o_orderstatus"))
    }),

    // CTAS through the gate: `CREATE TABLE … ENGINE … ORDER BY … AS
    // SELECT` derives the schema from the SELECT, validates the engine
    // keys against it, creates, and loads — then a second INSERT SELECT
    // appends an identical partial block and the SummingMergeTree read
    // view must merge the two (counts and totals double). The oracle
    // recomputes the doubled rollup from the ORIGINAL parquet.
    "cat_ddl_ctas" -> ((s, d) => {
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-ctas")
      graft.sql.ChDdl.runScript(cat, s,
        """CREATE TABLE orders_base (
          |  `o_orderkey` UInt64,
          |  `o_orderstatus` LowCardinality(String),
          |  `o_totalprice` Float64,
          |  `o_year` Int32
          |) ENGINE = MergeTree
          |ORDER BY o_orderkey""".stripMargin, tmp.toString)
      cat.append("orders_base", Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        year(col("o_orderdate")).cast("int").as("o_year")))
      graft.sql.ChDdl.runScript(cat, s,
        """CREATE TABLE orders_yearly ENGINE = SummingMergeTree((n, total))
          |ORDER BY (o_orderstatus, o_year) AS
          |SELECT o_orderstatus, o_year, count() AS n,
          |  sum(o_totalprice) AS total
          |FROM orders_base GROUP BY o_orderstatus, o_year;
          |INSERT INTO orders_yearly
          |SELECT o_orderstatus, o_year, count() AS n,
          |  sum(o_totalprice) AS total
          |FROM orders_base GROUP BY o_orderstatus, o_year
          |""".stripMargin, tmp.toString)
      cat.read("orders_yearly")
        .select(col("o_orderstatus"), col("o_year"), col("n"),
          round(col("total"), 2).as("total"))
        .orderBy(col("o_orderstatus"), col("o_year"))
    }),

    // TTL from DDL text through the gate: the table DECLARES its TTL in
    // CREATE TABLE (45 days), a MATERIALIZE sweep applies it against the
    // data's own max-ts clock (deterministic), then `ALTER TABLE …
    // MODIFY TTL` tightens it to 30 days as text and a re-sweep applies
    // the new spec. The oracle recomputes the surviving window from the
    // ORIGINAL events with the same floor-seconds clock.
    "cat_ddl_ttl" -> ((s, d) => {
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-ttlddl")
      graft.sql.ChDdl.runScript(cat, s,
        """CREATE TABLE ev_ttl (
          |  `event_id` UInt64,
          |  `etype` LowCardinality(String),
          |  `ts` DateTime,
          |  `value` Float64
          |) ENGINE = MergeTree
          |ORDER BY event_id
          |TTL ts + INTERVAL 45 DAY""".stripMargin, tmp.toString)
      cat.append("ev_ttl", Tables.events(s, d).select(col("event_id"),
        col("event_type").as("etype"), col("ts"), col("value")))
      // one scalar probe: the data-derived clock keeps the query
      // deterministic and SF-independent
      val maxTs = cat.read("ev_ttl")
        .agg(max(unix_timestamp(col("ts")))).head().getLong(0)
      cat.materializeTtl("ev_ttl", maxTs)
      graft.sql.ChDdl.runScript(cat, s,
        "ALTER TABLE ev_ttl MODIFY TTL ts + INTERVAL 30 DAY", tmp.toString)
      cat.materializeTtl("ev_ttl", maxTs)
      cat.read("ev_ttl").groupBy(col("etype"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val_sum"))
        .orderBy(col("etype"))
    }),

    // The system-relation text door through the gate: two tables are
    // declared as DDL text, then a plain CH ops query — `SELECT … FROM
    // system.columns JOIN system.tables …` — reads the catalog's
    // introspection frames through ChDdl.query. Metadata only, so the
    // oracle restates the expected rows as literals: every cell is fully
    // determined by the DDL text (declaration order, engine mapping,
    // CH→Spark type lowering, sort-key flags).
    "sql_system_scan" -> ((s, d) => {
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-sysscan")
      graft.sql.ChDdl.runScript(cat, s,
        """CREATE TABLE sys_a (
          |  `k` UInt64, `name` String, `v` Float64
          |) ENGINE = MergeTree ORDER BY k;
          |CREATE TABLE sys_b (
          |  `id` UInt64, `ts` DateTime, `flag` UInt8
          |) ENGINE = ReplacingMergeTree(flag) ORDER BY (id, ts)"""
          .stripMargin, tmp.toString)
      graft.sql.ChDdl.query(cat, s,
        """SELECT t.table AS tbl, t.engine AS engine, c.column AS col,
          |  c.position AS pos, c.type AS typ,
          |  CAST(c.is_sort_key AS INT) AS sk
          |FROM system.columns c JOIN system.tables t ON c.table = t.table
          |ORDER BY tbl, pos""".stripMargin)
    }),

    // Catalog-wide system.parts/mutations/detached_parts through the
    // text door (round 12, X130): a loaded table plus one ALTER DELETE
    // mutation, then the ops statement reads per-part row counts and key
    // ranges FROM system.parts as written. parts metadata is
    // storage-DERIVED (file layout varies with write parallelism), so
    // the projection aggregates to layout-independent facts — total
    // rows, global key range, mutation count — and the oracle recomputes
    // the post-delete survival set from the source rows.
    "sql_system_parts" -> ((s, d) => {
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-sysparts")
      graft.sql.ChDdl.runScript(cat, s,
        """CREATE TABLE parts_t (
          |  `k` UInt64, `v` Float64
          |) ENGINE = MergeTree ORDER BY k""".stripMargin, tmp.toString)
      cat.append("parts_t", Tables.orders(s, d)
        .orderBy(col("o_orderkey")).limit(100)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v")))
      graft.sql.ChDdl.runScript(cat, s,
        "ALTER TABLE parts_t DELETE WHERE k % 10 = 0", tmp.toString)
      graft.sql.ChDdl.query(cat, s,
        """SELECT p.table AS tbl, CAST(sum(p.rows) AS BIGINT) AS n_rows,
          |  min(CAST(p.min_key AS BIGINT)) AS lo,
          |  max(CAST(p.max_key AS BIGINT)) AS hi,
          |  (SELECT count(*) FROM system.mutations) AS n_mut,
          |  (SELECT count(*) FROM system.detached_parts) AS n_det
          |FROM system.parts p GROUP BY p.table ORDER BY tbl""".stripMargin)
    }),

    // Users & roles as text (round 13): a ROLE-addressed row policy +
    // column grant cover every user GRANTed the role — the whole chain
    // (user, role, grant, policy, masked read) runs as statements, and
    // the oracle restates the role-expanded read from the source table:
    // the policy's row filter survives, the ungranted balance column
    // reads as typed NULLs (bal_visible counts 0).
    "sql_access_roles" -> ((s, d) => {
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-roles")
      val src = Tables.supplier(s, d).select(
        col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      cat.createTable(graft.catalog.TableDef("sup_acl",
        tmp.resolve("sup_acl").toString, src.schema,
        Seq("s_suppkey"), Append))
      cat.append("sup_acl", src)
      graft.sql.ChDdl.runScript(cat, s,
        """CREATE USER analyst2;
          |CREATE ROLE eu_readers;
          |GRANT eu_readers TO analyst2;
          |CREATE ROW POLICY eu ON sup_acl FOR SELECT
          |  USING s_nationkey < 10 TO eu_readers;
          |GRANT SELECT(s_suppkey, s_nationkey) ON sup_acl TO eu_readers"""
          .stripMargin, tmp.toString)
      cat.readAs("sup_acl", "analyst2")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          count(col("s_acctbal")).as("bal_visible"))
        .orderBy(col("s_nationkey"))
    }),

    // Query parameters (round 14): the dashboard staple — `SET
    // param_<name> = …` binds on the catalog session, `{name:Type}`
    // placeholders substitute typed through the CAST-wrapper machinery,
    // and the whole flow runs as statements. The oracle restates the
    // query with the literals inlined.
    "sql_query_params" -> ((s, d) => {
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-params")
      val src = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        col("o_totalprice"), col("o_orderdate"))
      cat.createTable(graft.catalog.TableDef("ord_prm",
        tmp.resolve("ord_prm").toString, src.schema,
        Seq("o_orderkey"), Append))
      cat.append("ord_prm", src)
      graft.sql.ChDdl.runScript(cat, s,
        """SET param_status = 'O';
          |SET param_cutoff = 3000;
          |SET param_since = '1995-06-01'""".stripMargin, tmp.toString)
      graft.sql.ChDdl.query(cat, s,
        """SELECT o_orderpriority AS pri, count() AS n,
          |  round(sum(o_totalprice), 2) AS total
          |FROM ord_prm
          |WHERE o_orderstatus = {status:String}
          |  AND o_orderkey < {cutoff:UInt64}
          |  AND o_orderdate >= {since:Date}
          |GROUP BY pri ORDER BY pri""".stripMargin)
    }),

    // Governance doors (round 13): CREATE QUOTA / SHOW PROCESSLIST /
    // KILL QUERY / system.quotas entirely as TEXT, routed to the
    // catalog's QueryGovernor. A real governed scan runs under a
    // query_id; killing it after completion returns CH's empty set and
    // the process list is empty again — deterministic facts the oracle
    // restates. (Live-kill and quota-refusal behavior is IntrospectionSpec
    // territory — wall-time-dependent, not oracle-able.)
    "sql_processes" -> ((s, d) => {
      val cat = new Catalog(s)
      graft.sql.ChDdl.execute(cat, s,
        "CREATE QUOTA q_analyst FOR INTERVAL 1 HOUR " +
          "MAX queries = 100, errors = 5 TO analyst, bob")
      graft.sql.ChDdl.execute(cat, s,
        "CREATE QUOTA q_etl FOR INTERVAL 30 MINUTE " +
          "MAX execution_time = 600, result_rows = 1000000 TO etl")
      val rows = cat.governor.run("gate-probe") {
        Tables.orders(s, d).count() }
      val killedAfter = graft.sql.ChDdl.query(cat, s,
        "KILL QUERY WHERE query_id = 'gate-probe'").count()
      val liveNow = graft.sql.ChDdl.query(cat, s,
        "SHOW PROCESSLIST").count()
      graft.sql.ChDdl.query(cat, s,
        """SELECT quota, users, interval_ms, max_queries, max_errors,
          |  max_result_rows, max_exec_ms
          |FROM system.quotas ORDER BY quota""".stripMargin)
        .withColumn("orders_scanned", lit(rows))
        .withColumn("kill_after_done", lit(killedAfter))
        .withColumn("live_after", lit(liveNow))
    }),

    // system.query_log FROM-able (round 13): three storage-touching
    // actions run, the QueryLog flushes them into its catalog table, and
    // the ops statement reads them back as TEXT. Wall time and shuffle
    // bytes are run-dependent, so the projection folds them to
    // deterministic facts (logged count, measured >= 0, result rows
    // bounded by the table) the oracle restates as literals.
    "sql_query_log" -> ((s, d) => {
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-sql-qlog")
      val src = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
      cat.createTable(TableDef("ql_orders",
        tmp.resolve("ql_orders").toString, src.schema,
        Seq("o_orderkey"), Append))
      cat.append("ql_orders", src)
      val ql = new graft.catalog.QueryLog(s, cat,
        tmp.resolve("query_log").toString).attach()
      try {
        val n1 = cat.read("ql_orders").count()
        cat.read("ql_orders")
          .filter(col("o_totalprice") > 150000.0).count()
        cat.read("ql_orders").groupBy(col("o_orderpriority"))
          .count().collect()
        // listener delivery is asynchronous — poll to a deadline
        val deadline = System.currentTimeMillis() + 30000
        while (ql.pending < 3 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        ql.flush()
        graft.sql.ChDdl.query(cat, s,
          s"""SELECT status, count(*) AS n_logged,
             |  min(duration_ms) >= 0 AS timed,
             |  min(shuffle_read_bytes) >= 0 AS rd_measured,
             |  max(result_rows) <= $n1 AS rows_bounded
             |FROM system.query_log
             |GROUP BY status ORDER BY status""".stripMargin)
      } finally ql.detach()
    }),

    // INSERT … FROM INFILE through the gate (round 12, X131 — the CLI
    // ingest counterpart of INTO OUTFILE): two fixture files derived
    // from the corpus' own top-30 orders — a headerless CSV and a
    // gzipped TSV whose format is INFERRED from the extension — load
    // through the shared FORMAT-payload machinery; the omitted `tag`
    // column takes its declared DEFAULT. The oracle recomputes straight
    // from the parquet, so file write, gunzip, schema'd parse, and
    // default fill must compose losslessly.
    "cat_insert_infile" -> ((s, d) => {
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-infile")
      val rows = Tables.orders(s, d).orderBy(col("o_orderkey")).limit(30)
        .select(col("o_orderkey"), col("o_totalprice")).collect()
      val csv = tmp.resolve("o20.csv")
      java.nio.file.Files.write(csv, rows.take(20)
        .map(r => s"${r.get(0)},${r.get(1)}").mkString("\n")
        .getBytes("UTF-8"))
      val gz = tmp.resolve("o10.tsv.gz")
      val out = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(gz))
      out.write(rows.drop(20).map(r => s"${r.get(0)}\t${r.get(1)}")
        .mkString("\n").getBytes("UTF-8"))
      out.close()
      graft.sql.ChDdl.runScript(cat, s,
        s"""CREATE TABLE inf_t (
           |  `k` UInt64,
           |  `tag` String DEFAULT 'zz',
           |  `v` Float64
           |) ENGINE = MergeTree ORDER BY k;
           |INSERT INTO inf_t (k, v) FROM INFILE '$csv' FORMAT CSV;
           |INSERT INTO inf_t (k, v) FROM INFILE '$gz' COMPRESSION 'gzip'
           |""".stripMargin, tmp.toString)
      cat.read("inf_t").orderBy(col("k"))
        .select(col("k"), col("tag"), round(col("v"), 2).as("v"))
    }),

    // Calendar-unit TTL through the gate: the commonest CH retention
    // spelling (`TTL ts + INTERVAL 2 MONTH`) declared in CREATE TABLE as
    // text, swept against the data's own max-ts clock (deterministic,
    // SF-independent). Month arithmetic is CLAMPED end-of-month on both
    // engines (Jan 31 + 1 month = Feb 28/29), so the oracle's
    // `ts + INTERVAL 2 MONTH` recomputes the identical survival set.
    "cat_ttl_calendar" -> ((s, d) => {
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-ttlcal")
      graft.sql.ChDdl.runScript(cat, s,
        """CREATE TABLE ev_ttlcal (
          |  `event_id` UInt64,
          |  `etype` LowCardinality(String),
          |  `ts` DateTime,
          |  `value` Float64
          |) ENGINE = MergeTree
          |ORDER BY event_id
          |TTL ts + INTERVAL 2 MONTH""".stripMargin, tmp.toString)
      cat.append("ev_ttlcal", Tables.events(s, d).select(col("event_id"),
        col("event_type").as("etype"), col("ts"), col("value")))
      val maxTs = cat.read("ev_ttlcal")
        .agg(max(unix_timestamp(col("ts")))).head().getLong(0)
      cat.materializeTtl("ev_ttlcal", maxTs)
      cat.read("ev_ttlcal").groupBy(col("etype"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val_sum"))
        .orderBy(col("etype"))
    }),

    // The CH-CLI data doors through the gate: inline `INSERT … FORMAT
    // JSONEachRow` (a sparse row takes the declared DEFAULT / type
    // default per field) and `INSERT … FORMAT CSV` (partial column list,
    // quoted separator, empty trailing field), then `SELECT … INTO
    // OUTFILE … FORMAT JSONEachRow` exports ONE file that is re-read as
    // the result — the oracle recomputes all four rows from literals, so
    // insert-parse, fills, export, and re-read must compose losslessly.
    "cat_insert_format" -> ((s, d) => {
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-insfmt")
      graft.sql.ChDdl.runScript(cat, s,
        """CREATE TABLE fmt_t (
          |  `k` UInt64,
          |  `name` String,
          |  `v` Float64,
          |  `tag` String DEFAULT upper('z')
          |) ENGINE = MergeTree
          |ORDER BY k""".stripMargin, tmp.toString)
      graft.sql.ChDdl.execute(cat, s,
        "INSERT INTO fmt_t FORMAT JSONEachRow\n" +
          "{\"k\": 1, \"name\": \"a\", \"v\": 1.5, \"tag\": \"m\"}\n" +
          "{\"k\": 2, \"name\": \"b\"}", tmp.toString)
      graft.sql.ChDdl.execute(cat, s,
        "INSERT INTO fmt_t (k, name, v) FORMAT CSV\n3,c,2.5\n4,\"d,d\",",
        tmp.toString)
      cat.read("fmt_t").createOrReplaceTempView("fmt_t")
      val out = tmp.resolve("export.jsonl").toString
      graft.sql.GraftSql.chSql(s, d,
        s"SELECT k, name, v, tag FROM fmt_t INTO OUTFILE '$out' " +
          "FORMAT JSONEachRow")
      s.read.schema(cat.get("fmt_t").schema).json(out).orderBy(col("k"))
    }),

    // `ALTER TABLE … ADD INDEX` + `MATERIALIZE INDEX` through the gate:
    // the table is created and LOADED with no index declared, then the
    // bloom skip index is added and backfilled entirely as DDL text and
    // the probe aggregate runs over the PRUNED read. The oracle
    // recomputes from the ORIGINAL parquet, so equality proves the
    // text-driven add+materialize lifecycle never drops a matching row
    // (ChDdlSpec separately pins that a miss-probe keeps 0 files).
    "cat_ddl_index" -> ((s, d) => {
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-idxddl")
      graft.sql.ChDdl.runScript(cat, s,
        """CREATE TABLE orders_idx (
          |  `o_orderkey` UInt64,
          |  `o_orderpriority` String,
          |  `o_orderstatus` LowCardinality(String),
          |  `o_totalprice` Float64
          |) ENGINE = MergeTree
          |ORDER BY o_orderkey""".stripMargin, tmp.toString)
      cat.append("orders_idx", Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
        col("o_totalprice")))
      graft.sql.ChDdl.runScript(cat, s,
        """ALTER TABLE orders_idx ADD INDEX bf_o_orderpriority
          | o_orderpriority TYPE bloom_filter GRANULARITY 1;
          |ALTER TABLE orders_idx MATERIALIZE INDEX bf_o_orderpriority
          |""".stripMargin, tmp.toString)
      val (df, _, _) =
        cat.readPruned("orders_idx", "o_orderpriority", "1-URGENT")
      df.filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus"))
    }),

    // Exact set(N) skip index through the correctness gate: the IN-probe
    // scan reads only the files whose stored value set intersects the
    // probe (CatalogOpsSpec counts the skipped files); the oracle runs
    // the same aggregate over the ORIGINAL table — equality proves the
    // exact-set pruning never drops a matching row.
    "cat_set_scan" -> ((s, d) =>
      setScanWithStats(s, d)._1
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderpriority"))),

    // The JSON/Variant column TYPE through the correctness gate: a
    // Catalog table declared `props JSON` (CH's semi-structured type →
    // Spark VariantType) from DDL TEXT, loaded from the raw JSON-string
    // column (parse_json fires at insert — the CH JSON-ingest
    // semantics), then read back with typed variant_get extraction
    // through the dialect's JSONExtract* mapping. The oracle re-extracts
    // from the ORIGINAL string column with DuckDB's native JSON
    // functions — equality proves the variant round-trip (parse →
    // parquet variant group → typed path read) loses nothing.
    "fn_json_variant" -> ((s, d) => {
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-ev_json")
      graft.sql.ChDdl.createTable(cat,
        """CREATE TABLE ev_json (
          |  `event_id` UInt64,
          |  `etype` LowCardinality(String),
          |  `props` JSON
          |) ENGINE = MergeTree
          |ORDER BY event_id""".stripMargin,
        tmp.resolve("ev_json").toString)
      cat.append("ev_json", Tables.events(s, d).select(col("event_id"),
        col("event_type").as("etype"), col("props")))
      cat.read("ev_json").createOrReplaceTempView("ev_json")
      graft.sql.GraftSql.chSql(s, d,
        """SELECT etype, count(*) AS n,
          | CAST(sum(JSONExtractInt(props, 'k')) AS BIGINT) AS k_sum,
          | CAST(max(JSONExtractInt(props, 'k')) AS BIGINT) AS k_max
          |FROM ev_json GROUP BY etype ORDER BY etype""".stripMargin)
    }),

    // The declared vector_similarity index through the correctness gate:
    // a Catalog table over `embeddings` declares the ANN axis, the append
    // trains + encodes the IVF-PQ companion (the insert-trigger
    // maintenance), and readAnnTopK answers codes-only + exact rerank.
    // Same accuracy-contract oracle pattern as ann_ivfpq_topk: the
    // probe-pruned rows are engine-specific, the documented recall floor
    // (recall@5 >= 0.5 vs brute force) is not. AnnIndexSpec pins the raw
    // rows, markers, and the detach/attach round-trip.
    "cat_ann_index" -> ((s, d) => {
      val src = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-emb_ann")
      cat.createTable(TableDef("emb_ann", tmp.resolve("emb_ann").toString,
        src.schema, sortKeys = Seq("vec_id"), semantics = Append,
        annIndex = Some(graft.catalog.AnnIndexDef("embedding"))))
      cat.append("emb_ann", src)
      val q = cat.read("emb_ann").filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val ann = cat.readAnnTopK("emb_ann", q, 5)
        .select(col("q_id"), col("n_id"))
      val bf = Similarity.queries("ann_cosine_topk")(s, d)
        .select(col("q_id"), col("n_id"))
      val hits = bf.join(ann, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("nhits"))
      bf.agg(count(lit(1)).as("n_exact")).crossJoin(hits)
        .select(col("n_exact"),
          (col("nhits") >= col("n_exact") * 0.5).as("recall_at5_ok"))
    }),

    // The DECLARED projection axis through the correctness gate (CH
    // `PROJECTION p (SELECT … GROUP BY …)`): a table created from DDL
    // TEXT with an aggregate projection, loaded in TWO insert blocks
    // (the companion must merge per-block partials), then queried with a
    // plain dim-filtered count+sum against the BASE read — RollupRewrite
    // auto-answers it from the companion the log lists beside each block
    // (plan pinned in ProjectionAxisSpec), while the oracle recomputes the
    // same aggregate from the ORIGINAL parquet. The measured time
    // deliberately includes the table + companion build (catalog-gate
    // convention). l_quantity is integral-valued, so the partial-sum
    // re-association is exact.
    "cat_projection_scan" -> ((s, d) => {
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-liproj")
      graft.sql.ChDdl.createTable(cat,
        """CREATE TABLE li_proj (
          |  `okey` UInt64,
          |  `lnum` Int32,
          |  `rflag` LowCardinality(String),
          |  `lstatus` LowCardinality(String),
          |  `qty` Float64,
          |  PROJECTION by_flag (
          |    SELECT rflag, lstatus, count(), sum(qty) GROUP BY rflag, lstatus)
          |) ENGINE = MergeTree
          |ORDER BY okey""".stripMargin,
        tmp.resolve("li_proj").toString)
      val li = s.read.parquet(s"$d/lineitem.parquet").select(
        col("l_orderkey").as("okey"), col("l_linenumber").as("lnum"),
        col("l_returnflag").as("rflag"), col("l_linestatus").as("lstatus"),
        col("l_quantity").as("qty"))
      cat.append("li_proj", li.filter(col("okey") % 2 === 0))
      cat.append("li_proj", li.filter(col("okey") % 2 =!= 0))
      cat.read("li_proj")
        .filter(col("lstatus") === "O")
        .groupBy(col("rflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("qty")), 2).as("qty_sum"))
        .orderBy(col("rflag"))
    }),

    // AggregatingMergeTree from DDL TEXT (closing the parser's last
    // documented engine refusal): the state kinds ARE declared in CH DDL
    // as `AggregateFunction(fn, T…)` column TYPES — parsed into the
    // typed Aggregating semantics, loaded as TWO pre-aggregated partial
    // blocks (the CH -State insert idiom), merged by the read-time fold.
    // The uniq estimate carries the 5% accuracy contract (agg_hll_merge
    // pattern); avg/sum finals carry a 1e-9 relative contract against
    // the raw-events exact recompute (double re-association across
    // partials is not bit-stable — the contract IS the semantics).
    "cat_ddl_aggstate" -> ((s, d) => {
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-aggddl")
      graft.sql.ChDdl.createTable(cat,
        """CREATE TABLE ev_states (
          |  `etype` LowCardinality(String),
          |  `users` AggregateFunction(uniq, String),
          |  `val_avg` AggregateFunction(avg, Float64),
          |  `val_sum` AggregateFunction(sum, Float64)
          |) ENGINE = AggregatingMergeTree
          |ORDER BY etype""".stripMargin,
        tmp.resolve("ev_states").toString)
      val ev = Tables.events(s, d).select(col("event_type").as("etype"),
        col("event_id"), col("user_id").cast("string").as("uid"),
        col("value").cast("double").as("v"))
      Seq(0, 1).foreach { parity =>
        cat.append("ev_states", ev
          .filter(pmod(col("event_id"), lit(2)) === parity)
          .groupBy(col("etype"))
          .agg(hll_sketch_agg(col("uid")).as("users"),
            struct(sum(col("v")).as("sum"), count(lit(1)).as("cnt"))
              .as("val_avg"),
            sum(col("v")).as("val_sum")))
      }
      val finals = cat.read("ev_states").select(col("etype"),
        hll_sketch_estimate(col("users")).as("est"),
        (col("val_avg.sum") / col("val_avg.cnt")).as("avg_est"),
        col("val_sum").as("sum_est"))
      ev.groupBy(col("etype"))
        .agg(count_distinct(col("uid")).as("n_users"),
          avg(col("v")).as("avg_exact"), sum(col("v")).as("sum_exact"))
        .join(finals, Seq("etype"))
        .select(col("etype"), col("n_users"),
          (abs(col("est") - col("n_users")) <= col("n_users") * 0.05)
            .as("uniq_ok"),
          (abs(col("avg_est") - col("avg_exact")) <=
            abs(col("avg_exact")) * 1e-9 + 1e-9).as("avg_ok"),
          (abs(col("sum_est") - col("sum_exact")) <=
            abs(col("sum_exact")) * 1e-9 + 1e-9).as("sum_ok"))
        .orderBy(col("etype"))
    }),

    // The inverted full-text index through the correctness gate: the
    // multi-token AND probe (the shape the token bloom refuses) scans
    // only files where the probe tokens co-occur in some row
    // (CatalogOpsSpec counts the skipped files); the oracle recomputes
    // the same aggregate over the ORIGINAL table from the probe's
    // defining predicate — equality proves the posting-list intersection
    // never drops a qualifying row.
    "cat_fulltext_scan" -> ((s, d) =>
      fullTextScanWithStats(s, d)._1
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus"))),

    // SAMPLE BY through the correctness gate: the stored-bucket window
    // read (file-pruned via the bucket minmax sidecars — CatalogOpsSpec
    // counts the skipped files) must select EXACTLY the rows the oracle's
    // independent md5-prefix replay selects on the original table. The
    // measured time deliberately includes the sampled table's build (the
    // catalog-gate convention: the bucketed layout write IS the operator).
    "cat_sample_scan" -> ((s, d) =>
      sampledScanWithStats(s, d)._1
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus"))),

    // ALTER RENAME COLUMN end to end through the gate, over MIXED
    // storage: half of `customer` is appended BEFORE the rename (files
    // physically carry c_acctbal), half after (files carry balance), and
    // the merged read must surface one `balance` column over both. The
    // oracle aggregates the ORIGINAL table with a SQL alias — equality
    // proves the metadata-only rename loses nothing on either side of
    // the rename point.
    "cat_renamed_scan" -> ((s, d) => {
      val src = Tables.customer(s, d)
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-customer_ren")
      cat.createTable(TableDef("customer_ren",
        tmp.resolve("customer_ren").toString, src.schema,
        sortKeys = Seq("c_custkey"), semantics = Append))
      cat.append("customer_ren", src.filter(col("c_custkey") % 2 === 0))
      cat.renameColumn("customer_ren", "c_acctbal", "balance")
      cat.append("customer_ren", src.filter(col("c_custkey") % 2 === 1)
        .withColumnRenamed("c_acctbal", "balance"))
      cat.read("customer_ren")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("balance")), 2).as("bal_sum"))
        .orderBy(col("c_mktsegment"))
    }),

    // ALTER MODIFY COLUMN end to end through the gate, over MIXED
    // storage: half of `part` appended while p_size is declared INT
    // (files physically int32), the column widened to BIGINT, half
    // appended wide — the scan promotes the narrow generation natively
    // and the aggregate must match the oracle over the original table.
    "cat_modified_scan" -> ((s, d) => {
      val src = Tables.part(s, d).select(col("p_partkey"), col("p_brand"),
        col("p_size").cast("int").as("p_size"))
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-part_mod")
      cat.createTable(TableDef("part_mod", tmp.resolve("part_mod").toString,
        src.schema, sortKeys = Seq("p_partkey"), semantics = Append))
      cat.append("part_mod", src.filter(col("p_partkey") % 2 === 0))
      cat.modifyColumnType("part_mod", "p_size",
        org.apache.spark.sql.types.LongType)
      cat.append("part_mod", src.filter(col("p_partkey") % 2 === 1)
        .withColumn("p_size", col("p_size").cast("long")))
      cat.read("part_mod")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("p_size")).as("size_sum"))
        .orderBy(col("p_brand"))
    }),

    // OPTIMIZE … FINAL DEDUPLICATE through the gate: `supplier` appended
    // TWICE (every row a full duplicate), deduplicated by the crash-safe
    // mutation rewrite, then aggregated. The oracle aggregates the
    // original single copy — equality proves the rewrite kept exactly
    // one survivor per row.
    "cat_dedup_optimize" -> ((s, d) => {
      val src = Tables.supplier(s, d)
      val (cat, _) = catalogCopyCat(s, "supplier_dup", src,
        sortKeys = Seq("s_suppkey"))
      cat.append("supplier_dup", src) // deliberate full-duplicate batch
      cat.optimizeDeduplicate("supplier_dup")
      cat.read("supplier_dup")
        .agg(count(lit(1)).as("n"),
          count_distinct(col("s_suppkey")).as("n_keys"),
          round(sum(col("s_acctbal")), 2).as("bal_sum"))
    }),

    // Buffer engine through the gate: suppliers inserted in FOUR small
    // batches through a row-thresholded buffer — the first three flush as
    // ONE coalesced part, the fourth is still RAM-resident at read time —
    // and the buffer∪target read must equal the plain table restated by
    // the oracle: nothing invisible, nothing double-counted, regardless
    // of what has flushed.
    "cat_buffer_read" -> ((s, d) => {
      val src = Tables.supplier(s, d).select(
        col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-buf")
      cat.createTable(TableDef("sup_buf", tmp.resolve("sup_buf").toString,
        src.schema, sortKeys = Seq("s_suppkey"), semantics = Append))
      val total = src.count()
      // threshold = 3/4 of the rows: batches 1-3 trip it, batch 4 buffers
      val buf = new BufferedTable(cat, "sup_buf",
        maxRows = math.max(1L, total * 3 / 4), maxAgeMs = Long.MaxValue / 2)
      (0 until 4).foreach(i =>
        buf.insert(src.filter(col("s_suppkey") % 4 === i), nowMs = 0L))
      buf.read()
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("s_acctbal")), 2).as("bal_sum"))
        .orderBy(col("s_nationkey"))
    }),

    // ENGINE=Join through the gate: a nation→label lookup map loaded in
    // two appends (the second REUSES keys for region-0 nations, so the
    // deterministic ANY fold — least value tuple — must resolve them),
    // then probed per supplier row with joinGet. Region-4 nations are
    // never loaded, so their suppliers take joinGet's type default ''.
    // The oracle restates both appends and the min-fold in SQL: equality
    // proves the fold, the broadcast probe, and the default path.
    "cat_join_engine" -> ((s, d) => {
      val nation = Tables.nation(s, d)
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-join")
      val load1 = nation.filter(col("n_regionkey") < 4)
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_name").as("label"))
      cat.createTable(TableDef("nation_jt", tmp.resolve("nation_jt").toString,
        load1.schema, sortKeys = Seq("k"),
        semantics = JoinAny(Seq("k"))))
      cat.append("nation_jt", load1)
      cat.append("nation_jt", nation.filter(col("n_regionkey") === 0)
        .select(col("n_nationkey").cast("long").as("k"),
          lit("AFRICA-OVERRIDE").as("label")))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      cat.joinGet("nation_jt", sup,
          Seq(col("s_nationkey").cast("long")), "label")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("s_acctbal")), 2).as("bal_sum"))
        .orderBy(col("label"))
    }),

    // ReplacingMergeTree(version, is_deleted) through the gate: customers
    // loaded at version 1, then a second batch UPSERTS every 5th key
    // (acctbal +100 at version 2) and TOMBSTONES every (7k+3)th
    // (is_deleted = 1 at version 2 — shadows the live row, no rewrite).
    // The merged read hides tombstoned keys and serves the upserted
    // state; compact() is the OPTIMIZE FINAL CLEANUP analog (spec'd in
    // CatalogSpec). The oracle restates the surviving state from the
    // original table.
    "cat_replacing_delete" -> ((s, d) => {
      val src = Tables.customer(s, d).select(
        col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-repdel")
      val v1 = src.withColumn("ver", lit(1L)).withColumn("del", lit(0))
      cat.createTable(TableDef("cust_rd", tmp.resolve("cust_rd").toString,
        v1.schema, sortKeys = Seq("c_custkey"),
        semantics = ReplacingDedup(Seq("c_custkey"), "ver", Some("del"))))
      cat.append("cust_rd", v1)
      val upd = col("c_custkey") % 5 === 0
      val dead = col("c_custkey") % 7 === 3 && !upd
      cat.append("cust_rd",
        src.filter(upd)
          .withColumn("c_acctbal", col("c_acctbal") + 100.0)
          .withColumn("ver", lit(2L)).withColumn("del", lit(0))
          .unionByName(src.filter(dead)
            .withColumn("ver", lit(2L)).withColumn("del", lit(1))))
      cat.read("cust_rd")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal")), 2).as("bal_sum"))
        .orderBy(col("c_mktsegment"))
    }),

    // ClickHouse `TTL … GROUP BY … SET` through the gate: a metrics table
    // of per-(event_type, 5-min bucket) counts ages everything older than
    // min+15 days into ONE row per event_type (n summed, bkt = max of the
    // rolled buckets), fresh buckets untouched. The horizon is derived
    // from the data (min bucket + 15 d) so the query is SF-independent;
    // the oracle restates both legs from the original events table.
    "cat_ttl_rollup" -> ((s, d) => {
      val b = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("(unix_timestamp(ts) div 300) * 300").as("bkt"))
        .agg(count(lit(1)).as("n"))
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-ttlgb")
      cat.createTable(TableDef("ev_metrics", tmp.resolve("ev_metrics").toString,
        b.schema, sortKeys = Seq("event_type", "bkt"), semantics = Append))
      cat.append("ev_metrics", b)
      // one scalar probe to the driver: the data-derived horizon
      val horizon = b.agg(min(col("bkt"))).head().getLong(0) + 15L * 86400L
      cat.applyTtlRollup("ev_metrics", "bkt", maxAgeSec = 0L,
        nowEpochSec = horizon, groupKeys = Seq("event_type"),
        set = Map("n" -> sum(col("n"))))
      cat.read("ev_metrics").orderBy(col("event_type"), col("bkt"))
    }),

    // ClickHouse's Null-table + MV fan-out ingestion idiom through the
    // gate: the raw events feed is INSERTed into an ENGINE=Null table in
    // two batches; the attached materialized view maintains a Summing
    // rollup per event type from each inserted block. The feed itself is
    // never stored (CatalogSpec pins the empty Null read); the oracle
    // restates the rollup from the original events table, proving
    // per-block MV partials + engine re-sum ≡ the direct aggregate.
    "cat_null_mv" -> ((s, d) => {
      val src = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-nullmv")
      val rollup = (b: DataFrame) => b.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("val_sum"))
      cat.createTable(TableDef("ev_feed", tmp.resolve("ev_feed").toString,
        src.schema, sortKeys = Nil, semantics = NullEngine))
      cat.createTable(TableDef("ev_rollup", tmp.resolve("ev_rollup").toString,
        rollup(src.limit(0)).schema, sortKeys = Seq("event_type"),
        semantics = Summing(Seq("event_type"), Seq("n", "val_sum"))))
      cat.createMaterializedView("ev_feed", "mv_rollup", "ev_rollup", rollup)
      cat.append("ev_feed", src.filter(col("event_id") % 2 === 0))
      cat.append("ev_feed", src.filter(col("event_id") % 2 =!= 0))
      cat.read("ev_rollup")
        .select(col("event_type"), col("n"),
          round(col("val_sum"), 2).as("val_sum"))
        .orderBy(col("event_type"))
    }),

    // REFRESHABLE MATERIALIZED VIEW through the gate (round-9 verdict
    // item 3): a join + group rollup — the shape incremental MV
    // maintenance can't express — registered over a growing base table.
    // First refresh materializes half the orders; the base then doubles;
    // an early poll (interval not elapsed) must NOT refresh — the
    // target keeps serving the prior version atomically — and the due
    // poll swaps in the full recompute through the crash-safe mutate
    // machinery. The oracle restates the final rollup from the original
    // tables: equality proves the swap serves exactly the view query.
    "cat_refreshable_mv" -> ((s, d) => {
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-refresh")
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))
      val rollup = (o: DataFrame) =>
        o.join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice")), 2).as("revenue"))
      cat.createTable(TableDef("rv_orders",
        tmp.resolve("rv_orders").toString, orders.schema,
        Seq("o_orderkey"), Append))
      cat.createTable(TableDef("rv_rollup",
        tmp.resolve("rv_rollup").toString, rollup(orders.limit(0)).schema,
        Seq("c_nationkey"), Append))
      cat.append("rv_orders", orders.filter(col("o_orderkey") % 2 === 0))
      cat.createRefreshableView("rv_view", "rv_rollup", 60000L,
        _ => rollup(cat.read("rv_orders")))
      val t0 = 1000000L
      cat.refreshView("rv_view", t0)
      cat.append("rv_orders", orders.filter(col("o_orderkey") % 2 =!= 0))
      cat.refreshDueViews(t0 + 30000L) // not due: prior version serves
      cat.refreshDueViews(t0 + 60000L) // due: full recompute, atomic swap
      cat.read("rv_rollup").orderBy(col("c_nationkey"))
    }),

    // Column-level access control through the gate (round-9 verdict item
    // 6): the analyst's read composes a row policy (c_nationkey < 10),
    // a column grant (custkey/nationkey/mktsegment), and a
    // pseudonymizing mask on c_name — ungranted c_acctbal reads as typed
    // NULL (count() = 0 proves it), the mask's bucketed pseudonyms
    // aggregate normally, and the whole rewrite is a plain select list so
    // pruning still pushes (CatalogSpec pins the ReadSchema). The oracle
    // restates the same policy arithmetic over the original table.
    "cat_column_policy" -> ((s, d) => {
      val src = Tables.customer(s, d)
      val (cat, _) = catalogCopyCat(s, "customer_colpol", src,
        sortKeys = Seq("c_custkey"))
      cat.createRowPolicy("customer_colpol", "low_nations", Seq("analyst"),
        "c_nationkey < 10")
      cat.grantColumns("customer_colpol", "analyst",
        Seq("c_custkey", "c_nationkey", "c_mktsegment"))
      cat.createColumnMask("customer_colpol", "analyst", "c_name",
        "concat('cust-', cast(c_custkey % 100 as string))")
      cat.readAs("customer_colpol", "analyst")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("c_name")).as("n_pseudo"),
          count(col("c_acctbal")).as("n_bal"))
        .orderBy(col("c_nationkey"))
    }),

    // ClickHouse lightweight DELETE (`DELETE FROM … WHERE …`) through the
    // gate: two deletes mask overlapping row sets WITHOUT rewriting any
    // data file (deletion-vector pairs beside the table; CatalogSpec
    // asserts the files are untouched), and the masked read aggregates
    // what survives. The oracle restates the survivors from the original
    // table — equality proves the mask composes and excludes exactly the
    // matched rows.
    "cat_lightweight_delete" -> ((s, d) => {
      val src = Tables.customer(s, d)
      val (cat, _) = catalogCopyCat(s, "customer_lwd", src,
        sortKeys = Seq("c_custkey"))
      cat.deleteLightweight("customer_lwd", col("c_mktsegment") === "BUILDING")
      cat.deleteLightweight("customer_lwd", col("c_acctbal") < 0)
      cat.read("customer_lwd")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal")), 2).as("bal_sum"))
        .orderBy(col("c_nationkey"))
    }),

    // VersionedCollapsingMergeTree analog end to end through the gate:
    // `orders` loaded as +1 states, then a second batch UPDATES every
    // 7th key (cancel copy + new state at ver 2, price +100) and DELETES
    // every (11k+3)th (cancel only). The read-time fold cancels the
    // pairs; the oracle restates the surviving rows directly from the
    // original table — equality proves pair cancellation, not just row
    // counting.
    "cat_collapsing_scan" -> ((s, d) => {
      val src = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-collapse")
      val schema = src
        .withColumn("ver", lit(1L)).withColumn("sign", lit(1)).schema
      cat.createTable(TableDef("orders_cl", tmp.resolve("orders_cl").toString,
        schema, sortKeys = Seq("o_orderkey"),
        semantics = Collapsing(Seq("o_orderkey"), "sign", "ver")))
      cat.append("orders_cl",
        src.withColumn("ver", lit(1L)).withColumn("sign", lit(1)))
      val upd = col("o_orderkey") % 7 === 0
      val del = col("o_orderkey") % 11 === 3 && !upd
      val cancels = src.filter(upd || del)
        .withColumn("ver", lit(1L)).withColumn("sign", lit(-1))
      val restated = src.filter(upd)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .withColumn("ver", lit(2L)).withColumn("sign", lit(1))
      cat.append("orders_cl", cancels.unionByName(restated))
      cat.read("orders_cl").filter(col("sign") > 0)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus"))
    }),

    // Distributed engine analog through the gate: `customer` inserted
    // through a 4-shard facade (hash-routed on c_custkey), then read back
    // through the union view. The oracle aggregates the ORIGINAL table —
    // equality proves routing is total and disjoint (a dropped or
    // double-routed row would shift a count or balance). The shard-prune
    // path is plan-asserted in DistributedSpec.
    // ENGINE = Distributed as DDL TEXT (round 13): member tables and the
    // facade both declared as statements — members first (the CH model),
    // then the facade resolves them by the (db, table) base name and the
    // routed insert + union read run through the same DistributedCatalog
    // machinery cat_distributed_scan oracles. Same aggregate, same
    // oracle shape: the declaration door must be data-invisible.
    "cat_ddl_distributed" -> ((s, d) => {
      val src = Tables.customer(s, d).select(
        col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-ddl-dist")
      val cols =
        "(`c_custkey` Int64, `c_mktsegment` String, `c_acctbal` Float64)"
      graft.sql.ChDdl.runScript(cat, s,
        (0 until 4).map(i =>
          s"CREATE TABLE cust_local_shard$i $cols " +
            "ENGINE = MergeTree ORDER BY c_custkey").mkString(";\n") +
          s";\nCREATE TABLE cust_all $cols ENGINE = " +
          "Distributed('main', 'default', 'cust_local', c_custkey)",
        tmp.toString)
      cat.distributed.append("cust_all", src)
      cat.distributed.read("cust_all")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal")), 2).as("bal_sum"))
        .orderBy(col("c_mktsegment"))
    }),

    "cat_distributed_scan" -> ((s, d) => {
      val src = Tables.customer(s, d).select(
        col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val cat = new Catalog(s)
      val dc = new graft.catalog.DistributedCatalog(s, cat)
      val tmp = scratchDir("graft-cat-dist")
      dc.create("cust_dist", tmp.resolve("cust_dist").toString, src.schema,
        Seq("c_custkey"), Append, "c_custkey", 4)
      dc.append("cust_dist", src)
      dc.read("cust_dist")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal")), 2).as("bal_sum"))
        .orderBy(col("c_mktsegment"))
    }),

    // merge('regex') table function through the gate: `supplier` split
    // across three member tables (by s_nationkey mod 3), then read back
    // as ONE relation via the regex union with its virtual `_table`
    // column. The oracle restates the member a row belongs to from the
    // original table — equality proves the union is lossless and the
    // discriminator truthful.
    // JSONEachRow format analog: the documents table serialized to
    // JSON-lines and read BACK under the declared schema (never inferred
    // — schema inference is a full extra pass at scale), then aggregated.
    // count + chars + distinct text digests per language must equal the
    // oracle's read of the ORIGINAL parquet: every row and every text
    // byte survived the JSON encode/decode, escapes included.
    "src_jsonl" -> ((s, d) => {
      val tmp = scratchDir("graft-src-jsonl")
      val out = tmp.resolve("docs_jsonl").toString
      val docs = Tables.documents(s, d)
      docs.write.mode("overwrite").json(out)
      s.read.schema(docs.schema).json(out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("chars"),
          countDistinct(md5(col("text"))).as("uniq_texts"))
        .orderBy(col("lang"))
    }),

    // ORC format analog (the other columnar interchange format the
    // reference server reads/writes beside Parquet): a lineitem slice
    // round-tripped through ORC — types (long/double/timestamp) and
    // values must survive exactly, proven by aggregating the read-back
    // against the oracle's parquet original.
    "src_orc" -> ((s, d) => {
      val tmp = scratchDir("graft-src-orc")
      val out = tmp.resolve("li_orc").toString
      Tables.lineitem(s, d).filter(col("l_orderkey") < 5000)
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("qty"),
          round(sum(col("l_extendedprice")), 2).as("price"),
          max(col("l_shipdate")).as("last_ship"))
        .orderBy(col("l_returnflag"))
    }),

    "src_merge" -> ((s, d) => {
      val src = Tables.supplier(s, d).select(
        col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-merge")
      (0 until 3).foreach { i =>
        cat.createTable(TableDef(s"sup_m$i", tmp.resolve(s"sup_m$i").toString,
          src.schema, sortKeys = Seq("s_suppkey"), semantics = Append))
        cat.append(s"sup_m$i", src.filter(col("s_nationkey") % 3 === i))
      }
      cat.readMerge("sup_m.*")
        .groupBy(col("_table"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("s_acctbal")), 2).as("bal_sum"))
        .orderBy(col("_table"))
    }),

    // CONSTRAINT … CHECK through the gate: the insert into the
    // constrained table succeeds because every supplier row satisfies
    // both checks (TPC-H acctbal ∈ [-999.99, 9999.99], nations 0..24) —
    // the read-back equals the oracle's direct aggregate, proving the
    // inline raise_error guards are transparent on a passing block.
    // Rejection + atomicity are CatalogSpec territory (a failing block
    // needs an expected exception, which the oracle harness can't state).
    "cat_constraint" -> ((s, d) => {
      val src = Tables.supplier(s, d).select(
        col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-ck")
      cat.createTable(TableDef("sup_ck", tmp.resolve("sup_ck").toString,
        src.schema, sortKeys = Seq("s_suppkey"), semantics = Append,
        constraints = Seq(
          "acctbal_floor" -> "s_acctbal >= -1000.0",
          "valid_nation" -> "s_nationkey BETWEEN 0 AND 24")))
      cat.append("sup_ck", src)
      cat.read("sup_ck")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("s_acctbal")), 2).as("bal_sum"))
        .orderBy(col("s_nationkey"))
    }),

    // GLOBAL JOIN on a Distributed table: customers sharded 4 ways by
    // c_custkey, joined to the bounded nation dim with an explicit
    // broadcast — the CH `GLOBAL JOIN` shape, where the right side ships
    // once to every shard and each shard joins locally. In the Spark
    // plan the broadcast sits above the member-scan union: one
    // BroadcastExchange, four independent member scans, NO shuffle of
    // the fact side before the final aggregate (DistributedSpec asserts
    // the shape).
    "cat_distributed_join" -> ((s, d) => {
      val src = Tables.customer(s, d).select(
        col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val cat = new Catalog(s)
      val dc = new graft.catalog.DistributedCatalog(s, cat)
      val tmp = scratchDir("graft-cat-dj")
      dc.create("cust_dj", tmp.resolve("cust_dj").toString, src.schema,
        Seq("c_custkey"), Append, "c_custkey", 4)
      dc.append("cust_dj", src)
      dc.read("cust_dj")
        .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal")), 2).as("bal_sum"))
        .orderBy(col("n_name"))
    }),

    // Row policies through the gate: two permissive policies for the same
    // user OR-combine (CH semantics), and the policy filter is a plain
    // Catalyst predicate on the merged read — it pushes into the scan, so
    // enforcement PRUNES instead of costing. The restrictive default
    // (uncovered user reads zero rows) is CatalogSpec territory.
    "cat_row_policy" -> ((s, d) => {
      val src = Tables.supplier(s, d).select(
        col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-rp")
      cat.createTable(TableDef("sup_rp", tmp.resolve("sup_rp").toString,
        src.schema, sortKeys = Seq("s_suppkey"), semantics = Append))
      cat.append("sup_rp", src)
      cat.createRowPolicy("sup_rp", "low_nations", Seq("analyst"),
        "s_nationkey < 10")
      cat.createRowPolicy("sup_rp", "nation_20", Seq("analyst"),
        "s_nationkey = 20")
      cat.readAs("sup_rp", "analyst")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("s_acctbal")), 2).as("bal_sum"))
        .orderBy(col("s_nationkey"))
    }),

    // MATERIALIZED column through the gate: `size_band` is declared
    // MATERIALIZED floor(p_size/10) — the insert block does NOT carry it,
    // the Catalog computes and stores it, and the grouped read-back must
    // equal the oracle computing the same expression directly from
    // `part`: the stored column IS the expression, for every row.
    "cat_materialized_col" -> ((s, d) => {
      val src = Tables.part(s, d).select(col("p_partkey"), col("p_size"))
      val cat = new Catalog(s)
      val tmp = scratchDir("graft-cat-matcol")
      val schema = src.schema
        .add("size_band", org.apache.spark.sql.types.IntegerType)
      cat.createTable(TableDef("part_mat", tmp.resolve("part_mat").toString,
        schema, sortKeys = Seq("p_partkey"), semantics = Append,
        materializedCols = Seq(
          "size_band" -> "CAST(floor(p_size / 10) AS INT)")))
      cat.append("part_mat", src)
      cat.read("part_mat")
        .groupBy(col("size_band"))
        .agg(count(lit(1)).as("n"),
          sum(col("p_size")).cast("long").as("size_sum"))
        .orderBy(col("size_band"))
    }),
  )

  override def oracleSql: Map[String, String] = Map(
    // the oracle reads the ORIGINAL parquet — equality proves the
    // Catalog's clustered rewrite preserved content exactly
    "cat_clustered_scan" ->
      s"""SELECT count(*) AS n, min(o_orderkey) AS min_key,
         | max(o_orderkey) AS max_key, count(o_custkey) AS n_cust
         |FROM orders WHERE o_orderkey BETWEEN $KeyLo AND $KeyHi""".stripMargin,

    "cat_partitioned_scan" ->
      """SELECT count(*) AS n, count(DISTINCT user_id) AS n_users,
        | round(sum(value), 2) AS sum_value
        |FROM events WHERE event_type = 'purchase'""".stripMargin,

    // the snapshot predates the delete: the oracle is the ORIGINAL table
    "cat_snapshot_read" ->
      """SELECT o_orderstatus, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the dropped partition is gone; the detached-then-attached one is
    // intact — the oracle states both by filtering only the drop
    "cat_partition_ops" ->
      """SELECT event_type, count(*) AS n,
        | round(sum(value), 2) AS sum_value
        |FROM events WHERE event_type <> 'click'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // selects the probe row BY KEY (names map 1:1 to keys): token
    // pruning + hasToken on the Spark side must find exactly this row
    "cat_token_scan" ->
      """SELECT count(*) AS n_rows, min(c_custkey) AS probe_key,
        | round(sum(c_acctbal), 2) AS bal
        |FROM customer WHERE c_custkey = (
        |  SELECT CAST(count(*) / 2 AS BIGINT) FROM customer)""".stripMargin,

    "cat_bloom_scan" ->
      """SELECT count(*) AS n_orders, min(o_orderkey) AS min_key,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_custkey = (
        |  SELECT o_custkey FROM orders WHERE o_orderkey = (
        |    SELECT min(o_orderkey) FROM orders))""".stripMargin,

    // computed on the BASE table: proves the sum-measure rewrite is sound
    // (l_quantity is integral-valued, so partial-sum re-association is
    // exact and the round is cosmetic on both sides)
    "proj_rollup_sum" ->
      """SELECT l_returnflag, count(*) AS n_items,
        | round(sum(l_quantity), 2) AS qty
        |FROM lineitem WHERE l_linestatus = 'O'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // computed on the BASE table: proves the rollup rewrite is sound
    "proj_rollup_count" ->
      """SELECT o_orderstatus, count(*) AS n_orders
        |FROM orders WHERE o_orderpriority <> '1-URGENT'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // on the BASE table: proves the sorted-projection swap is sound
    "proj_sorted_lookup" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey = (SELECT o_custkey FROM orders
        |                   ORDER BY o_orderkey LIMIT 1)
        |ORDER BY o_orderkey""".stripMargin,

    "cat_minmax_scan" ->
      s"""SELECT count(*) AS n, min(o_orderkey) AS min_key,
         | max(o_orderkey) AS max_key, round(sum(o_totalprice), 2) AS total
         |FROM orders WHERE o_orderkey BETWEEN $KeyLo AND $KeyHi""".stripMargin,

    // on the ORIGINAL table: the DDL-declared load must be lossless
    "cat_ddl_create" ->
      """SELECT o_orderstatus, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderpriority IN ('2-HIGH', '5-LOW')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the whole runbook chain recomputed independently on the ORIGINAL
    // table: dedup of the double append, the band UPDATE, the priority
    // DELETE, the 'P' partition drop — column verbs are shape-only
    "cat_ddl_alter" ->
      """SELECT o_orderstatus,
        | CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'std' END AS band,
        | count(*) AS n, sum(year(o_orderdate))::BIGINT AS year_sum,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderpriority <> '1-URGENT' AND o_orderstatus <> 'P'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // every DEFAULT fill recomputed independently from the ORIGINAL
    // table (plus the one VALUES row): literal band, per-row fee
    // expression, function-call src
    "cat_ddl_default" ->
      """SELECT o_orderstatus, 'std' AS band, 'BATCH' AS src,
        | count(*) AS n, round(sum(o_totalprice * 0.01), 2) AS fee_sum
        |FROM (SELECT o_orderstatus, o_totalprice FROM orders
        |      UNION ALL SELECT 'X', 100.0::DOUBLE)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the CTAS rollup plus its duplicate INSERT SELECT block, merged by
    // the Summing engine — recomputed as the doubled aggregate over the
    // ORIGINAL table
    "cat_ddl_ctas" ->
      """SELECT o_orderstatus, year(o_orderdate) AS o_year,
        | (2 * count(*))::BIGINT AS n,
        | round(2 * sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the bloom-pruned probe aggregate restated from the ORIGINAL
    // orders — pruning must never change results
    "cat_ddl_index" ->
      """SELECT o_orderstatus, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the tightened (30-day) TTL window restated from the ORIGINAL
    // events with the same floor-seconds clock the engine sweeps with
    "cat_ddl_ttl" ->
      """SELECT event_type AS etype, count(*) AS n,
        | round(sum(value), 2) AS val_sum
        |FROM events
        |WHERE CAST(floor(epoch(ts)) AS BIGINT) >=
        |  (SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 30 * 86400
        |   FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // pure declarations — the oracle IS the expected metadata, row by
    // row (engine mapping, CH→Spark type lowering, sort flags)
    "sql_system_scan" ->
      """SELECT * FROM (VALUES
        |  ('sys_a', 'Append', 'k', 0, 'bigint', 1),
        |  ('sys_a', 'Append', 'name', 1, 'string', 0),
        |  ('sys_a', 'Append', 'v', 2, 'double', 0),
        |  ('sys_b', 'ReplacingDedup', 'id', 0, 'bigint', 1),
        |  ('sys_b', 'ReplacingDedup', 'ts', 1, 'timestamp', 1),
        |  ('sys_b', 'ReplacingDedup', 'flag', 2, 'smallint', 0)
        |) AS v(tbl, engine, col, pos, typ, sk)
        |ORDER BY tbl, pos""".stripMargin,

    // layout-independent facts recomputed from the source rows: the
    // top-100 keys minus the deleted residue class, one recorded
    // mutation, nothing detached
    "sql_system_parts" ->
      """WITH top100 AS (SELECT o_orderkey AS k FROM orders
        |                ORDER BY o_orderkey LIMIT 100),
        |kept AS (SELECT k FROM top100 WHERE k % 10 <> 0)
        |SELECT 'parts_t' AS tbl, count(*)::BIGINT AS n_rows,
        |  min(k)::BIGINT AS lo, max(k)::BIGINT AS hi,
        |  1::BIGINT AS n_mut, 0::BIGINT AS n_det
        |FROM kept""".stripMargin,

    // the role-expanded read restated: the policy's row filter from the
    // source table, the ungranted column counting 0 visible values
    "sql_access_roles" ->
      """SELECT s_nationkey, count(*) AS n, 0 AS bal_visible
        |FROM supplier WHERE s_nationkey < 10
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    // the parameterized dashboard query with its literals inlined
    "sql_query_params" ->
      """SELECT o_orderpriority AS pri, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderstatus = 'O' AND o_orderkey < 3000
        |  AND o_orderdate >= DATE '1995-06-01'
        |GROUP BY pri ORDER BY pri""".stripMargin,

    // the quota declarations restated as literals; counts from the
    // governed scan and the post-completion kill/process-list reads
    "sql_processes" ->
      """SELECT q.quota, q.users, q.interval_ms, q.max_queries,
        | q.max_errors, q.max_result_rows, q.max_exec_ms,
        | (SELECT count(*) FROM orders) AS orders_scanned,
        | 0 AS kill_after_done, 0 AS live_after
        |FROM (VALUES
        |  ('q_analyst', 'analyst,bob', 3600000, 100, 5, 0, 0),
        |  ('q_etl', 'etl', 1800000, 0, 0, 1000000, 600000))
        | q(quota, users, interval_ms, max_queries, max_errors,
        |   max_result_rows, max_exec_ms)
        |ORDER BY q.quota""".stripMargin,

    // three logged QueryFinish actions with sane measurements
    "sql_query_log" ->
      """SELECT 'QueryFinish' AS status, 3 AS n_logged,
        | true AS timed, true AS rd_measured, true AS rows_bounded"""
        .stripMargin,

    // the INFILE loads recomputed straight from the source rows: the
    // top-30 keys with the declared 'zz' default on the omitted column
    "cat_insert_infile" ->
      """WITH top30 AS (SELECT o_orderkey AS k, o_totalprice AS p
        |               FROM orders ORDER BY o_orderkey LIMIT 30)
        |SELECT k, 'zz' AS tag, round(p, 2) AS v
        |FROM top30 ORDER BY k""".stripMargin,

    // the 2-calendar-month survival window restated with DuckDB's own
    // clamped month arithmetic and the same floor-seconds clock
    "cat_ttl_calendar" ->
      """SELECT event_type AS etype, count(*) AS n,
        | round(sum(value), 2) AS val_sum
        |FROM events
        |WHERE CAST(floor(epoch(ts + INTERVAL 2 MONTH)) AS BIGINT) >=
        |  (SELECT CAST(floor(epoch(max(ts))) AS BIGINT) FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // every inline row restated as literals, fills included (row 2: v
    // absent → 0.0 type default, tag absent → declared DEFAULT 'Z';
    // row 4: quoted comma survives CSV, empty field → 0.0)
    "cat_insert_format" ->
      """SELECT * FROM (VALUES
        |  (1::BIGINT, 'a', 1.5::DOUBLE, 'm'),
        |  (2, 'b', 0.0, 'Z'),
        |  (3, 'c', 2.5, 'Z'),
        |  (4, 'd,d', 0.0, 'Z')) t(k, name, v, tag)
        |ORDER BY k""".stripMargin,

    // on the ORIGINAL table: exact-set pruning must be invisible
    "cat_set_scan" ->
      """SELECT o_orderpriority, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the oracle re-extracts from the ORIGINAL JSON-string column with
    // DuckDB's native JSON functions: the variant round-trip must be
    // invisible to every typed extraction
    "fn_json_variant" ->
      """SELECT event_type AS etype, count(*) AS n,
        | sum(CAST(json_extract_string(props, '$.k') AS INTEGER))::BIGINT AS k_sum,
        | CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_max
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // exact counts from the raw events; the estimate/rounding contracts
    // are asserted as literals (the agg_hll_merge pattern)
    "cat_ddl_aggstate" ->
      """SELECT event_type AS etype, count(DISTINCT user_id) AS n_users,
        | TRUE AS uniq_ok, TRUE AS avg_ok, TRUE AS sum_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the oracle recomputes the projection-answered aggregate from the
    // original parquet — equality proves the per-block partial merge and
    // the dim-filter replay on the companion lose nothing
    "cat_projection_scan" ->
      """SELECT l_returnflag AS rflag, count(*) AS n,
        | round(sum(l_quantity), 2) AS qty_sum
        |FROM lineitem WHERE l_linestatus = 'O'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the raw ANN rows are engine-specific; the oracle recomputes the
    // brute-force top-5 count and asserts the documented recall floor as
    // a literal (the ann_ivfpq_topk accuracy-contract pattern)
    "cat_ann_index" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
        |           FROM embeddings WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.q_id, e.vec_id AS n_id,
        |    round(list_cosine_similarity(q.q_emb::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cos
        |  FROM q JOIN embeddings e ON e.vec_id <> q.q_id),
        |bf AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM scored)
        |  WHERE rnk <= 5)
        |SELECT count(*) AS n_exact, TRUE AS recall_at5_ok FROM bf""".stripMargin,

    // on the ORIGINAL table, from the probe's defining predicate (the
    // min-orderkey row's clerk bucket + priority): posting-list pruning
    // must be invisible to the result
    "cat_fulltext_scan" ->
      """SELECT o_orderstatus, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_custkey % 1000 =
        |  (SELECT o_custkey % 1000 FROM orders ORDER BY o_orderkey LIMIT 1)
        | AND o_orderpriority =
        |  (SELECT o_orderpriority FROM orders ORDER BY o_orderkey LIMIT 1)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the oracle replays the bucket window through the shared formatter
    // (Sampling.duckPredicate) on the ORIGINAL table — an independent
    // engine agreeing on the exact sampled row set every round
    "cat_sample_scan" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         | round(sum(o_totalprice), 2) AS total
         |FROM orders WHERE ${Sampling.duckPredicate("o_custkey", 0.25)}
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the oracle's alias IS the rename: same data, same new name
    "cat_renamed_scan" ->
      """SELECT c_mktsegment, count(*) AS n,
        | round(sum(c_acctbal), 2) AS bal_sum
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // on the ORIGINAL table: the int->bigint widened copy must agree
    "cat_modified_scan" ->
      """SELECT p_brand, count(*) AS n, sum(p_size)::BIGINT AS size_sum
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // the plain table restated: buffered + flushed legs must re-assemble
    // the whole table exactly
    "cat_buffer_read" ->
      """SELECT s_nationkey, count(*) AS n,
        | round(sum(s_acctbal), 2) AS bal_sum
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    // both appends + the ANY min-fold + the missing-key default
    // restated from the ORIGINAL nation/supplier tables
    "cat_join_engine" ->
      """WITH u AS (
        |  SELECT n_nationkey AS k, n_name AS label
        |  FROM nation WHERE n_regionkey < 4
        |  UNION ALL
        |  SELECT n_nationkey AS k, 'AFRICA-OVERRIDE' AS label
        |  FROM nation WHERE n_regionkey = 0),
        |j AS (SELECT k, min(label) AS label FROM u GROUP BY k)
        |SELECT coalesce(j.label, '') AS label, count(*) AS n,
        |  round(sum(s_acctbal), 2) AS bal_sum
        |FROM supplier LEFT JOIN j ON s_nationkey = j.k
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // surviving state restated from the ORIGINAL table: tombstoned keys
    // gone, upserted keys at +100, everything else at version 1
    "cat_replacing_delete" ->
      """SELECT c_mktsegment, count(*) AS n,
        | round(sum(CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100
        |                ELSE c_acctbal END), 2) AS bal_sum
        |FROM customer
        |WHERE NOT (c_custkey % 7 = 3 AND c_custkey % 5 <> 0)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // both TTL legs restated from the ORIGINAL events: buckets at or
    // after the horizon intact, older ones rolled to one row per type
    // with n summed and bkt = max over the rolled buckets
    "cat_ttl_rollup" ->
      """WITH b AS (
        |  SELECT event_type,
        |         (floor(epoch(ts))::BIGINT // 300) * 300 AS bkt,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |h AS (SELECT min(bkt) + 1296000 AS horizon FROM b),
        |old AS (SELECT event_type, max(bkt) AS bkt, sum(n)::BIGINT AS n
        |        FROM b, h WHERE bkt < horizon GROUP BY event_type),
        |keep AS (SELECT event_type, bkt, n FROM b, h WHERE bkt >= horizon)
        |SELECT event_type, bkt, n
        |FROM (SELECT * FROM old UNION ALL SELECT * FROM keep) u
        |ORDER BY event_type, bkt""".stripMargin,

    // the rollup restated from the ORIGINAL table: per-block MV partials
    // re-summed by the engine must equal the one-pass aggregate
    "cat_null_mv" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS val_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the final refresh restated from the ORIGINAL tables: the swapped-in
    // target must equal the view query over the full base
    "cat_refreshable_mv" ->
      """SELECT c_nationkey, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // the policy arithmetic restated from the ORIGINAL table: rows
    // filtered, the mask's pseudonym buckets, zero non-null balances
    "cat_column_policy" ->
      """SELECT c_nationkey, count(*) AS n,
        | count(DISTINCT 'cust-' || CAST(c_custkey % 100 AS VARCHAR)) AS n_pseudo,
        | count(CAST(NULL AS DOUBLE)) AS n_bal
        |FROM customer WHERE c_nationkey < 10
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // the survivors restated from the ORIGINAL table: masked rows gone,
    // everything else intact — the deletion-vector read is lossless
    "cat_lightweight_delete" ->
      """SELECT c_nationkey, count(*) AS n,
        | round(sum(c_acctbal), 2) AS bal_sum
        |FROM customer
        |WHERE NOT (c_mktsegment = 'BUILDING') AND NOT (c_acctbal < 0)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // the original single copy: dedup of two full copies must equal it
    "cat_dedup_optimize" ->
      """SELECT count(*) AS n, count(DISTINCT s_suppkey) AS n_keys,
        | round(sum(s_acctbal), 2) AS bal_sum
        |FROM supplier""".stripMargin,

    // the surviving state restated from the ORIGINAL table: updates add
    // 100 to every 7th key's price, deletes remove every (11k+3)th key
    "cat_collapsing_scan" ->
      """SELECT o_orderstatus, count(*) AS n,
        | round(sum(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100
        |                ELSE o_totalprice END), 2) AS total
        |FROM orders
        |WHERE NOT (o_orderkey % 11 = 3 AND o_orderkey % 7 <> 0)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the oracle reads the ORIGINAL table: the sharded union must
    // preserve content exactly (routing total + disjoint)
    "cat_distributed_scan" ->
      """SELECT c_mktsegment, count(*) AS n,
        | round(sum(c_acctbal), 2) AS bal_sum
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // the DDL-declared facade must be data-invisible: the routed insert
    // + union read hold exactly the source table
    "cat_ddl_distributed" ->
      """SELECT c_mktsegment, count(*) AS n,
        | round(sum(c_acctbal), 2) AS bal_sum
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // the ORIGINAL parquet restated: the JSON round-trip must preserve
    // every row and every text byte (distinct digests prove it)
    "src_jsonl" ->
      """SELECT lang, count(*) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS chars,
        | CAST(count(DISTINCT md5(text)) AS BIGINT) AS uniq_texts
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // the ORIGINAL parquet restated: the ORC round-trip must preserve
    // longs, doubles, and timestamps exactly
    "src_orc" ->
      """SELECT l_returnflag, count(*) AS n,
        | round(sum(l_quantity), 2) AS qty,
        | round(sum(l_extendedprice), 2) AS price,
        | max(l_shipdate) AS last_ship
        |FROM lineitem WHERE l_orderkey < 5000
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the member each row belongs to, restated from the original table
    "src_merge" ->
      """SELECT 'sup_m' || (s_nationkey % 3) AS _table, count(*) AS n,
        | round(sum(s_acctbal), 2) AS bal_sum
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin,

    // every supplier row satisfies both declared checks, so the
    // constrained table holds exactly `supplier`
    "cat_constraint" ->
      """SELECT s_nationkey, count(*) AS n,
        | round(sum(s_acctbal), 2) AS bal_sum
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    // the sharded join restated as a plain join on the original table
    "cat_distributed_join" ->
      """SELECT n_name, count(*) AS n,
        | round(sum(c_acctbal), 2) AS bal_sum
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // the OR of the user's two policy predicates, restated as a WHERE
    "cat_row_policy" ->
      """SELECT s_nationkey, count(*) AS n,
        | round(sum(s_acctbal), 2) AS bal_sum
        |FROM supplier WHERE s_nationkey < 10 OR s_nationkey = 20
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    // the MATERIALIZED expression recomputed directly from the source:
    // the stored column must equal it row for row
    "cat_materialized_col" ->
      """SELECT CAST(floor(p_size / 10) AS INT) AS size_band, count(*) AS n,
        | CAST(sum(p_size) AS BIGINT) AS size_sum
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
