package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import graft.catalog.{AggProjection, Catalog, LogFileIndex, SortProjection, TableLog}
import graft.plans.{RollupRewrite, SortedProjectionRewrite}

/** The DECLARED projection axis (CH `PROJECTION p (SELECT …)` in CREATE
  * TABLE + `ALTER TABLE … ADD/DROP/MATERIALIZE PROJECTION`): every commit
  * lists each projection's companion files in its log entry and the
  * optimizer rules answer eligible queries from them automatically. The
  * raw-path registration halves are spec'd in RollupRewriteSpec /
  * SortedProjectionSpec; this spec pins the END-TO-END lifecycle —
  * declare → ingest → auto-rewrite → mutate → recover.
  */
class ProjectionAxisSpec extends SparkSpecBase {

  private def mkCat(): (Catalog, String) =
    (new Catalog(spark), tmpDir("proj-axis"))

  private def salesLog(dir: String): TableLog = new TableLog(
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf()), s"$dir/sales", Nil)

  /** The files projection `p`'s companion lists in the sales head (empty
    * when the head lists none).
    */
  private def logged(dir: String, p: String): Set[String] = {
    val l = salesLog(dir)
    l.head().projections.getOrElse(p, Nil).map(x => l.resolve(x.path).toUri.getPath).toSet
  }

  /** The companions the live sales scan carries: name → files. */
  private def carried(cat: Catalog): Map[String, Set[String]] =
    cat.read("sales").queryExecution.analyzed.collect {
      case r: LogicalRelation => r.relation
    }.collect { case h: HadoopFsRelation => h.location }.collect { case l: LogFileIndex => l.companions }.flatten
      .map(c => c.spec.name -> c.files.map(_.getPath.toUri.getPath).toSet).toMap

  /** The files each file scan of `q`'s optimized plan reads. */
  private def scans(q: DataFrame): Seq[Set[String]] =
    q.queryExecution.optimizedPlan.collect { case r: LogicalRelation => r.relation }
      .collect { case h: HadoopFsRelation => h.location.inputFiles.map(new Path(_).toUri.getPath).toSet }

  /** True when `q` scans exactly projection `p`'s logged files, which the
    * live scan carries.
    */
  private def answeredFrom(cat: Catalog, dir: String, q: DataFrame, p: String): Boolean = {
    val files = logged(dir, p)
    files.nonEmpty && carried(cat).get(p).contains(files) && scans(q).contains(files)
  }

  /** The companion rows projection `p` lists. */
  private def companion(dir: String, p: String): DataFrame =
    spark.read.parquet(logged(dir, p).toSeq: _*)

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
      val comp = companion(dir, "by_status")
      comp.columns.sorted shouldBe Array("__cnt", "__sum_qty", "status")
      comp.count() should be > 3L // more rows than groups = unmerged partials
      // a plain aggregate over the BASE read is answered from the companion
      val q = cat.read("sales").groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("s"))
        .orderBy(col("status"))
      answeredFrom(cat, dir, q, "by_status") shouldBe true
      q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))) shouldBe
        Array(("A", 3L, 90L), ("B", 2L, 60L), ("C", 1L, 60L))
      // a mutation rebuilds the companion in the entry of its rewrite:
      // still answered, and the answer reflects the delete
      cat.delete("sales", col("status") === "C")
      val q2 = cat.read("sales").groupBy(col("status"))
        .agg(count(lit(1)).as("n")).orderBy(col("status"))
      answeredFrom(cat, dir, q2, "by_status") shouldBe true
      q2.collect().map(r => (r.getString(0), r.getLong(1))) shouldBe
        Array(("A", 3L), ("B", 2L))
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
      answeredFrom(cat, dir, q(), "by_status") shouldBe true
      q().collect().map(r => (r.getString(0), r.getLong(1))) shouldBe
        Array(("A", 40L), ("B", 20L))
      // post-ADD appends keep maintaining it
      append(cat, block2)
      q().collect().map(r => (r.getString(0), r.getLong(1))) shouldBe
        Array(("A", 90L), ("B", 60L), ("C", 60L))
      val files = logged(dir, "by_status")
      graft.sql.ChDdl.execute(cat, spark,
        "ALTER TABLE sales DROP PROJECTION by_status")
      carried(cat) shouldBe empty
      logged(dir, "by_status") shouldBe empty
      scans(q()).flatten.toSet.intersect(files) shouldBe empty
      q().collect().map(r => (r.getString(0), r.getLong(1))) shouldBe
        Array(("A", 90L), ("B", 60L), ("C", 60L))
      // collection deletes the dropped companion's files after one commit
      // of grace for readers of the entry before
      append(cat, Seq((7L, "D", 70L)))
      append(cat, Seq((8L, "D", 80L)))
      files.filter(new java.io.File(_).exists()) shouldBe empty
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
      answeredFrom(cat, dir, narrow, "by_status") shouldBe true
      answeredFrom(cat, dir, narrow, "by_status_id") shouldBe false
      narrow.collect().map(r => (r.getString(0), r.getLong(1))) shouldBe
        Array(("A", 90L), ("B", 60L), ("C", 60L))
      // groupBy(status, id): only the wider one can answer
      val wide = cat.read("sales").groupBy(col("status"), col("id"))
        .agg(count(lit(1)).as("n"))
      answeredFrom(cat, dir, wide, "by_status_id") shouldBe true
      wide.collect().map(_.getLong(2)).sum shouldBe 6L
      // dropping the wide one leaves the narrow declared and serving
      val wideFiles = logged(dir, "by_status_id")
      graft.sql.ChDdl.execute(cat, spark,
        "ALTER TABLE sales DROP PROJECTION by_status_id")
      val after = cat.read("sales").groupBy(col("status"))
        .agg(count(lit(1)).as("n"))
      answeredFrom(cat, dir, after, "by_status") shouldBe true
      carried(cat).keySet shouldBe Set("by_status")
      scans(cat.read("sales").groupBy(col("status"), col("id"))
        .agg(count(lit(1)).as("n"))).flatten.toSet.intersect(wideFiles) shouldBe empty
    } finally { RollupRewrite.clear(); SortedProjectionRewrite.clear() }
  }

  test("declared sorted projection: point lookups swap to the clustered copy") {
    val (cat, dir) = mkCat()
    try {
      sales(cat, dir, ",\n  PROJECTION by_qty (SELECT * ORDER BY qty)")
      append(cat, block1)
      append(cat, block2)
      val q = cat.read("sales").filter(col("qty") === 40L)
      answeredFrom(cat, dir, q, "by_qty") shouldBe true
      q.collect().map(_.getLong(0)) shouldBe Array(4L)
      // the swap tracks appends: the next read's scan carries the new head
      append(cat, Seq((7L, "D", 40L)))
      val q2 = cat.read("sales").filter(col("qty") === 40L)
      answeredFrom(cat, dir, q2, "by_qty") shouldBe true
      q2.collect().map(_.getLong(0)).sorted shouldBe Array(4L, 7L)
    } finally { RollupRewrite.clear(); SortedProjectionRewrite.clear() }
  }

  test("a fresh attach, registries cleared, answers from the companion") {
    val (cat, dir) = mkCat()
    try {
      sales(cat, dir,
        ",\n  PROJECTION by_status (SELECT status, count() GROUP BY status)")
      append(cat, block1)
      cat.detach("sales")
      val cat2 = new Catalog(spark)
      RollupRewrite.clear() // the log carries the projection, no registry
      SortedProjectionRewrite.clear()
      val t = cat2.attach(s"$dir/sales")
      t.projections shouldBe Seq(AggProjection("by_status", Seq("status")))
      val q = cat2.read("sales").groupBy(col("status"))
        .agg(count(lit(1)).as("n"))
      answeredFrom(cat2, dir, q, "by_status") shouldBe true
      q.collect().map(r => (r.getString(0), r.getLong(1))).sorted shouldBe
        Array(("A", 2L), ("B", 1L))
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
    // a commit that did not write the companion (a raw log commit, as an
    // older writer makes) leaves it present but one block behind; the
    // rebuild query is itself rewrite-eligible, so unless its base read
    // carries no companion it would be silently ANSWERED from the stale
    // one and re-persist the stale counts
    val (cat, dir) = mkCat()
    try {
      sales(cat, dir,
        ",\n  PROJECTION by_status (SELECT status, count(), sum(qty) GROUP BY status)")
      append(cat, block1)
      // a commit of a block without its companion partial
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
      answeredFrom(cat, dir, q, "by_status") shouldBe true
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
      // non-deterministic blocks: re-execution would produce different qty
      cat.append("sales", spark.range(7L, 17L).select(col("id"),
        lit("D").as("status"),
        (rand(seed = 0) * 100).cast("long").as("qty")))
      // each execution takes the clock anew
      cat.append("sales", spark.range(17L, 22L).select(col("id"),
        lit("E").as("status"), expr("unix_micros(current_timestamp())").as("qty")))
      val comp = companion(dir, "by_status")
        .agg(sum(col("__cnt")), sum(col("__sum_qty"))).head()
      // the base totals come from the head's data files, read directly: a
      // catalog scan would carry the companion and be answered from it
      val l = salesLog(dir)
      val base = spark.read.parquet(l.head().files.map(x => l.resolve(x.path).toString): _*)
        .agg(count(lit(1)), sum(col("qty")))
      scans(base).flatten.toSet.intersect(logged(dir, "by_status")) shouldBe empty
      val totals = base.head()
      totals.getLong(0) shouldBe 3 + 3 + 10 + 5
      comp.getLong(0) shouldBe totals.getLong(0)
      comp.getLong(1) shouldBe totals.getLong(1)
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

  test("two catalogs on one path: an append reaches the other's answers; a DROP PROJECTION stops them") {
    val (cat, dir) = mkCat()
    try {
      sales(cat, dir,
        ",\n  PROJECTION by_status (SELECT status, count(), sum(qty) GROUP BY status)")
      append(cat, block1)
      val other = new Catalog(spark)
      other.attach(s"$dir/sales")
      def q(c: Catalog) = c.read("sales").groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("s")).orderBy(col("status"))
      def answer(c: Catalog) = q(c).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      answer(other) shouldBe Array(("A", 2L, 40L), ("B", 1L, 20L))
      append(cat, block2)
      answeredFrom(other, dir, q(other), "by_status") shouldBe true
      answer(other) shouldBe Array(("A", 3L, 90L), ("B", 2L, 60L), ("C", 1L, 60L))
      val files = logged(dir, "by_status")
      graft.sql.ChDdl.execute(cat, spark, "ALTER TABLE sales DROP PROJECTION by_status")
      carried(other) shouldBe empty
      scans(q(other)).flatten.toSet.intersect(files) shouldBe empty
      other.get("sales").projections shouldBe Nil
      answer(other) shouldBe Array(("A", 3L, 90L), ("B", 2L, 60L), ("C", 1L, 60L))
    } finally { RollupRewrite.clear(); SortedProjectionRewrite.clear() }
  }

  test("an older build's _proj_<name> directory is adopted once into the log") {
    val (cat, dir) = mkCat()
    try {
      sales(cat, dir)
      append(cat, block1)
      append(cat, block2)
      // the layout an older build left: the definition declares the
      // projection, no entry lists a companion, and the companion's
      // per-block partials sit in <path>/_proj_by_status/
      val spec = AggProjection("by_status", Seq("status"), Seq("qty"))
      import spark.implicits._
      Seq(block1, block2).foreach(b => b.toDF("id", "status", "qty").groupBy(col("status"))
        .agg(count(lit(1)).as("__cnt"), sum(col("qty")).as("__sum_qty"))
        .write.mode("append").parquet(s"$dir/sales/_proj_by_status"))
      salesLog(dir).commit("sales")(h =>
        Some(h.copy(table = h.table.map(t => t.copy(projections = Seq(spec))))))
      logged(dir, "by_status") shouldBe empty
      val fresh = new Catalog(spark)
      fresh.attach(s"$dir/sales").projections shouldBe Seq(spec)
      val adopted = logged(dir, "by_status")
      adopted.size should be >= 2
      adopted.foreach(_ should include("/sales/_proj_by_status/"))
      val q = fresh.read("sales").groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("s")).orderBy(col("status"))
      answeredFrom(fresh, dir, q, "by_status") shouldBe true
      q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))) shouldBe
        Array(("A", 3L, 90L), ("B", 2L, 60L), ("C", 1L, 60L))
      // adopted once: a second attach publishes nothing more
      val head = salesLog(dir).head().n
      new Catalog(spark).attach(s"$dir/sales")
      salesLog(dir).head().n shouldBe head
      // the next append adds its partial beside the adopted ones
      append(fresh, Seq((7L, "A", 70L)))
      fresh.read("sales").groupBy(col("status")).agg(sum(col("qty")).as("s"))
        .orderBy(col("status")).collect().map(_.getLong(1)) shouldBe Array(160L, 60L, 60L)
    } finally { RollupRewrite.clear(); SortedProjectionRewrite.clear() }
  }
}
