package graft

import org.apache.spark.sql.functions._
import graft.catalog.{AggProjection, Catalog, SortProjection}
import graft.plans.{RollupRewrite, SortedProjectionRewrite}

/** The DECLARED projection axis (CH `PROJECTION p (SELECT …)` in CREATE
  * TABLE + `ALTER TABLE … ADD/DROP/MATERIALIZE PROJECTION`): the Catalog
  * maintains a companion dataset on every append/mutation and the
  * optimizer rules answer eligible queries from it automatically. The
  * manual registration halves are spec'd in RollupRewriteSpec /
  * SortedProjectionSpec; this spec pins the END-TO-END lifecycle —
  * declare → ingest → auto-rewrite → mutate → recover.
  */
class ProjectionAxisSpec extends SparkSpecBase {

  private def mkCat(): (Catalog, String) =
    (new Catalog(spark), tmpDir("proj-axis"))

  private def sales(cat: Catalog, dir: String,
                    ddlExtra: String = "") : String = {
    graft.sql.ChDdl.createTable(cat,
      s"""CREATE TABLE sales (
         |  `id` UInt64,
         |  `status` LowCardinality(String),
         |  `qty` Int64$ddlExtra
         |) ENGINE = MergeTree
         |ORDER BY id""".stripMargin, s"$dir/sales")
    "sales"
  }

  private val block1 = Seq((1L, "A", 10L), (2L, "B", 20L), (3L, "A", 30L))
  private val block2 = Seq((4L, "B", 40L), (5L, "A", 50L), (6L, "C", 60L))

  private def append(cat: Catalog, rows: Seq[(Long, String, Long)]): Unit = {
    import spark.implicits._
    cat.append("sales", rows.toDF("id", "status", "qty"))
  }

  test("declared aggregate projection: maintained per block, auto-answers, survives mutation") {
    val (cat, dir) = mkCat()
    try {
      sales(cat, dir,
        ",\n  PROJECTION by_status (SELECT status, count(), sum(qty) GROUP BY status)")
      append(cat, block1)
      append(cat, block2)
      // the companion holds per-block PARTIALS: 2 blocks × their groups
      val comp = spark.read.parquet(s"$dir/sales/_proj_by_status")
      comp.columns.sorted shouldBe Array("__cnt", "__sum_qty", "status")
      comp.count() should be > 3L // more rows than groups = unmerged partials
      // a plain aggregate over the BASE read is answered from the companion
      val q = cat.read("sales").groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("s"))
        .orderBy(col("status"))
      q.queryExecution.executedPlan.toString should include("_proj_by_status")
      q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))) shouldBe
        Array(("A", 3L, 90L), ("B", 2L, 60L), ("C", 1L, 60L))
      // a mutation rewrites the companion with the swap: still answered,
      // and the answer reflects the delete
      cat.delete("sales", col("status") === "C")
      val q2 = cat.read("sales").groupBy(col("status"))
        .agg(count(lit(1)).as("n")).orderBy(col("status"))
      q2.queryExecution.executedPlan.toString should include("_proj_by_status")
      q2.collect().map(r => (r.getString(0), r.getLong(1))) shouldBe
        Array(("A", 3L), ("B", 2L))
    } finally { RollupRewrite.clear(); SortedProjectionRewrite.clear() }
  }

  test("companion loss degrades to the base scan; MATERIALIZE rebuilds it") {
    val (cat, dir) = mkCat()
    try {
      sales(cat, dir,
        ",\n  PROJECTION by_status (SELECT status, count() GROUP BY status)")
      append(cat, block1)
      // simulate the append crash window: companion gone, base intact
      def q() = cat.read("sales").groupBy(col("status"))
        .agg(count(lit(1)).as("n")).orderBy(col("status"))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$dir/sales/_proj_by_status"))
      q().queryExecution.executedPlan.toString should not include "_proj_by_status"
      q().collect().map(_.getLong(1)).sum shouldBe 3L
      // the CH recovery verb, as DDL text
      graft.sql.ChDdl.execute(cat, spark,
        "ALTER TABLE sales MATERIALIZE PROJECTION by_status")
      q().queryExecution.executedPlan.toString should include("_proj_by_status")
      q().collect().map(r => (r.getString(0), r.getLong(1))) shouldBe
        Array(("A", 2L), ("B", 1L))
    } finally { RollupRewrite.clear(); SortedProjectionRewrite.clear() }
  }

  test("ALTER ADD PROJECTION backfills existing data; DROP retires it") {
    val (cat, dir) = mkCat()
    try {
      sales(cat, dir)
      append(cat, block1)
      graft.sql.ChDdl.execute(cat, spark,
        "ALTER TABLE sales ADD PROJECTION by_status " +
          "(SELECT status, count(), sum(qty) GROUP BY status)")
      def q() = cat.read("sales").groupBy(col("status"))
        .agg(sum(col("qty")).as("s")).orderBy(col("status"))
      // pre-ADD rows are in the companion (synchronous backfill)
      q().queryExecution.executedPlan.toString should include("_proj_by_status")
      q().collect().map(r => (r.getString(0), r.getLong(1))) shouldBe
        Array(("A", 40L), ("B", 20L))
      // post-ADD appends keep maintaining it
      append(cat, block2)
      q().collect().map(r => (r.getString(0), r.getLong(1))) shouldBe
        Array(("A", 90L), ("B", 60L), ("C", 60L))
      graft.sql.ChDdl.execute(cat, spark,
        "ALTER TABLE sales DROP PROJECTION by_status")
      q().queryExecution.executedPlan.toString should not include "_proj_by_status"
      new java.io.File(s"$dir/sales/_proj_by_status").exists() shouldBe false
      q().collect().map(r => (r.getString(0), r.getLong(1))) shouldBe
        Array(("A", 90L), ("B", 60L), ("C", 60L))
    } finally { RollupRewrite.clear(); SortedProjectionRewrite.clear() }
  }

  test("multiple aggregate projections: the narrowest eligible one answers") {
    val (cat, dir) = mkCat()
    try {
      sales(cat, dir,
        ",\n  PROJECTION by_status (SELECT status, count(), sum(qty) GROUP BY status)" +
          ",\n  PROJECTION by_status_id (SELECT status, id, count() GROUP BY status, id)")
      append(cat, block1)
      append(cat, block2)
      // groupBy(status): BOTH are eligible — the narrower by_status wins
      val narrow = cat.read("sales").groupBy(col("status"))
        .agg(sum(col("qty")).as("s")).orderBy(col("status"))
      narrow.queryExecution.executedPlan.toString should include("_proj_by_status")
      narrow.queryExecution.executedPlan.toString should not include "_proj_by_status_id"
      narrow.collect().map(r => (r.getString(0), r.getLong(1))) shouldBe
        Array(("A", 90L), ("B", 60L), ("C", 60L))
      // groupBy(status, id): only the wider one can answer
      val wide = cat.read("sales").groupBy(col("status"), col("id"))
        .agg(count(lit(1)).as("n"))
      wide.queryExecution.executedPlan.toString should include("_proj_by_status_id")
      wide.collect().map(_.getLong(2)).sum shouldBe 6L
      // dropping the wide one leaves the narrow registered and serving
      graft.sql.ChDdl.execute(cat, spark,
        "ALTER TABLE sales DROP PROJECTION by_status_id")
      val after = cat.read("sales").groupBy(col("status"))
        .agg(count(lit(1)).as("n"))
      after.queryExecution.executedPlan.toString should include("_proj_by_status")
      cat.read("sales").groupBy(col("status"), col("id"))
        .agg(count(lit(1)).as("n"))
        .queryExecution.executedPlan.toString should not include "_proj_by_status_id"
    } finally { RollupRewrite.clear(); SortedProjectionRewrite.clear() }
  }

  test("declared sorted projection: point lookups swap to the clustered copy") {
    val (cat, dir) = mkCat()
    try {
      sales(cat, dir, ",\n  PROJECTION by_qty (SELECT * ORDER BY qty)")
      append(cat, block1)
      append(cat, block2)
      val q = cat.read("sales").filter(col("qty") === 40L)
      q.queryExecution.executedPlan.toString should include("_proj_by_qty")
      q.collect().map(_.getLong(0)) shouldBe Array(4L)
      // the swap must track appends (the relation cache is mtime-validated)
      append(cat, Seq((7L, "D", 40L)))
      val q2 = cat.read("sales").filter(col("qty") === 40L)
      q2.queryExecution.executedPlan.toString should include("_proj_by_qty")
      q2.collect().map(_.getLong(0)).sorted shouldBe Array(4L, 7L)
    } finally { RollupRewrite.clear(); SortedProjectionRewrite.clear() }
  }

  test("_TABLE sidecar carries projections: attach re-registers them") {
    val (cat, dir) = mkCat()
    try {
      sales(cat, dir,
        ",\n  PROJECTION by_status (SELECT status, count() GROUP BY status)")
      append(cat, block1)
      cat.detach("sales")
      val cat2 = new Catalog(spark)
      RollupRewrite.clear() // attach must re-register, not inherit
      val t = cat2.attach(s"$dir/sales")
      t.projections shouldBe Seq(AggProjection("by_status", Seq("status")))
      val q = cat2.read("sales").groupBy(col("status"))
        .agg(count(lit(1)).as("n"))
      q.queryExecution.executedPlan.toString should include("_proj_by_status")
    } finally { RollupRewrite.clear(); SortedProjectionRewrite.clear() }
  }

  test("SHOW CREATE round-trips projection declarations") {
    val (cat, dir) = mkCat()
    try {
      sales(cat, dir,
        ",\n  PROJECTION by_status (SELECT status, count(), sum(qty) GROUP BY status)" +
          ",\n  PROJECTION by_qty (SELECT * ORDER BY qty)")
      val t = cat.get("sales")
      val rendered = graft.sql.ChDdlRender.render(t)
      rendered should include("PROJECTION by_status")
      rendered should include("PROJECTION by_qty (SELECT * ORDER BY qty)")
      graft.sql.ChDdl.parse(rendered, t.path) match {
        case graft.sql.ChDdl.CreateTable(t2, _) =>
          t2.projections shouldBe Seq(
            AggProjection("by_status", Seq("status"), Seq("qty")),
            SortProjection("by_qty", "qty"))
        case other => fail(s"unexpected statement $other")
      }
    } finally { RollupRewrite.clear(); SortedProjectionRewrite.clear() }
  }

  test("MATERIALIZE of a STALE companion rebuilds from the base, not itself") {
    // the append crash window leaves the companion present but one block
    // behind; the rebuild query is itself rewrite-eligible, so without
    // deregistering first it would be silently ANSWERED from the stale
    // companion and re-persist the stale counts
    val (cat, dir) = mkCat()
    try {
      sales(cat, dir,
        ",\n  PROJECTION by_status (SELECT status, count(), sum(qty) GROUP BY status)")
      append(cat, block1)
      // simulate the crash: a commit of a block whose companion append
      // never ran
      import spark.implicits._
      val log = new graft.catalog.TableLog(
        new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf()),
        s"$dir/sales", Nil)
      val stage = log.stage("c")
      block2.toDF("id", "status", "qty").write.parquet(stage.toString)
      val files = log.written(stage)._2
      log.commit("sales")(h => Some(h.copy(files = h.files ++ files)))
      graft.sql.ChDdl.execute(cat, spark,
        "ALTER TABLE sales MATERIALIZE PROJECTION by_status")
      val q = cat.read("sales").groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("s"))
        .orderBy(col("status"))
      q.queryExecution.executedPlan.toString should include("_proj_by_status")
      q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))) shouldBe
        Array(("A", 3L, 90L), ("B", 2L, 60L), ("C", 1L, 60L))
    } finally { RollupRewrite.clear(); SortedProjectionRewrite.clear() }
  }

  test("companion partials derive from the WRITTEN block, not the input plan") {
    // a self-referencing insert (INSERT INTO t SELECT … FROM t) and any
    // non-deterministic input would diverge if the maintainer re-executed
    // the caller's plan after the base commit; the companion must agree
    // with the stored base exactly
    val (cat, dir) = mkCat()
    try {
      sales(cat, dir,
        ",\n  PROJECTION by_status (SELECT status, count(), sum(qty) GROUP BY status)")
      append(cat, block1)
      cat.append("sales", cat.read("sales")) // self-referencing insert
      // non-deterministic block: re-execution would produce different qty
      cat.append("sales", spark.range(7L, 17L).select(col("id"),
        lit("D").as("status"),
        (rand(seed = 0) * 100).cast("long").as("qty")))
      val comp = spark.read.parquet(s"$dir/sales/_proj_by_status")
        .agg(sum(col("__cnt")), sum(col("__sum_qty"))).head()
      RollupRewrite.clear() // the base totals must come from the base files
      val base = cat.readRaw("sales").agg(count(lit(1)), sum(col("qty"))).head()
      comp.getLong(0) shouldBe base.getLong(0)
      comp.getLong(1) shouldBe base.getLong(1)
    } finally { RollupRewrite.clear(); SortedProjectionRewrite.clear() }
  }

  test("system.projections lists declared projections with storage bytes") {
    val (cat, dir) = mkCat()
    try {
      sales(cat, dir,
        ",\n  PROJECTION by_status (SELECT status, count(), sum(qty) GROUP BY status)" +
          ",\n  PROJECTION by_qty (SELECT * ORDER BY qty)")
      append(cat, block1)
      val rows = cat.systemProjections()
        .filter(col("table") === "sales")
        .orderBy(col("projection")).collect()
      rows.map(r => (r.getString(1), r.getString(2), r.getString(3))) shouldBe
        Array(("by_qty", "sorted", "qty"),
          ("by_status", "aggregate", "status"))
      rows.foreach(_.getLong(5) should be > 0L) // maintained companions
    } finally { RollupRewrite.clear(); SortedProjectionRewrite.clear() }
  }

  test("ineligible declarations fail loudly at CREATE") {
    val (cat, dir) = mkCat()
    intercept[IllegalArgumentException] { // merging engine
      graft.sql.ChDdl.createTable(cat,
        """CREATE TABLE bad1 (
          |  `id` UInt64, `v` Int64, `updated_at` DateTime,
          |  PROJECTION p (SELECT id, count() GROUP BY id)
          |) ENGINE = ReplacingMergeTree(updated_at) ORDER BY id""".stripMargin,
        s"$dir/bad1")
    }
    intercept[IllegalArgumentException] { // non-schema column
      graft.sql.ChDdl.createTable(cat,
        """CREATE TABLE bad2 (
          |  `id` UInt64,
          |  PROJECTION p (SELECT nope, count() GROUP BY nope)
          |) ENGINE = MergeTree ORDER BY id""".stripMargin, s"$dir/bad2")
    }
    intercept[IllegalArgumentException] { // select item the rules can't answer
      graft.sql.ChDdl.createTable(cat,
        """CREATE TABLE bad3 (
          |  `id` UInt64, `v` Int64,
          |  PROJECTION p (SELECT id, max(v) GROUP BY id)
          |) ENGINE = MergeTree ORDER BY id""".stripMargin, s"$dir/bad3")
    }
  }

  test("a refused ALTER ADD PROJECTION leaves the table registered") {
    val (cat, dir) = mkCat()
    try {
      sales(cat, dir)
      append(cat, block1)
      intercept[IllegalArgumentException] {
        cat.addProjection("sales", AggProjection("bad", Seq("nope_col")))
      }
      // the prior registration survived the failed re-validation
      cat.get("sales").projections shouldBe Nil
      cat.read("sales").count() shouldBe 3
    } finally { RollupRewrite.clear(); SortedProjectionRewrite.clear() }
  }
}
