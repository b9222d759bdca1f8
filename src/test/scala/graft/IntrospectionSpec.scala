package graft

import org.apache.spark.sql.functions._
import graft.catalog._

/** system.tables / system.parts analog: the observability surface an ops
  * runbook drives (part counts before/after compaction, bytes per table,
  * per-part sort-key bounds). Engine STATE, not table data, so it is
  * spec-pinned rather than DuckDB-oracled.
  */
class IntrospectionSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshCat(name: String): (Catalog, String) = {
    val cat = new Catalog(spark)
    (cat, tmpDir(name))
  }

  test("systemTables reports layout, engine, keys, and storage totals") {
    // column 2 is the log head position: createTable publishes entry 0,
    // the definition
    val (cat, dir) = freshCat("sys-tables")
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "v")
    cat.createTable(TableDef("t1", s"$dir/t1", df.schema,
      sortKeys = Seq("k"), semantics = Append, indexCols = Seq("v")))
    cat.createTable(TableDef("t2", s"$dir/t2", df.schema,
      sortKeys = Seq("k"), semantics = ReplacingDedup(Seq("k"), "v")))
    cat.append("t1", df)
    val rows = cat.systemTables().collect()
      .map(r => r.getString(0) -> r).toMap
    rows.keySet shouldBe Set("t1", "t2")
    val t1 = rows("t1")
    t1.getLong(2) shouldBe 1L                   // log_head: one commit
    t1.getString(3) shouldBe "Append"
    t1.getSeq[String](4) shouldBe Seq("k")      // sort_keys
    t1.getSeq[String](6) shouldBe Seq("v")      // index_cols
    t1.getLong(7) should be >= 1L               // n_parts
    t1.getLong(8) should be > 0L                // bytes
    val t2 = rows("t2")
    t2.getLong(2) shouldBe 0L
    t2.getString(3) shouldBe "ReplacingDedup"
    t2.getLong(7) shouldBe 0L                   // no data yet
  }

  test("systemParts rows sum to the table count and bounds nest in order") {
    val (cat, dir) = freshCat("sys-parts")
    val df = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") % 7).cast("string").as("v")).repartition(4)
    cat.createTable(TableDef("t", s"$dir/t", df.schema,
      sortKeys = Seq("k"), semantics = Append))
    cat.append("t", df)
    val parts = cat.systemParts("t").collect()
    parts.map(_.getLong(1)).sum shouldBe 1000L
    all(parts.map(_.getLong(2))) should be > 0L // bytes joined for every part
    // clustered append range-partitions by k: each part's [min,max] span
    // must not overlap the next part's (the skipping the layout exists for)
    val bounds = parts.map(r => (r.getString(3).toLong, r.getString(4).toLong))
    bounds.sortBy(_._1).sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => hi should be <= lo2
      case _ => ()
    }
  }

  test("systemDetachedParts lists what ATTACH PARTITION could re-adopt") {
    val (cat, dir) = freshCat("sys-det")
    val df = spark.range(0, 100).select(col("id").as("k"),
      (col("id") % 3).cast("long").as("p"))
    cat.createTable(TableDef("t", s"$dir/t", df.schema,
      sortKeys = Seq("k"), semantics = Append, partitionKeys = Seq("p")))
    cat.append("t", df)
    cat.systemDetachedParts("t").count() shouldBe 0
    cat.detachPartition("t", 1L) should be > 0
    val det = cat.systemDetachedParts("t").collect()
    det.map(_.getString(1)).distinct shouldBe Array("p=1")
    all(det.map(_.getLong(2))) should be > 0L // files
    all(det.map(_.getLong(3))) should be > 0L // bytes
    cat.attachPartition("t", 1L)
    cat.systemDetachedParts("t").count() shouldBe 0
    cat.read("t").count() shouldBe 100L
  }

  test("attach re-registers a table from the definition its log holds") {
    // the ATTACH TABLE analog: a fresh process (here: a fresh Catalog)
    // recovers the full definition — schema, keys, semantics, indexes —
    // from storage alone, instead of re-declaring the TableDef
    val dir = tmpDir("attach")
    val writer = new Catalog(spark)
    val df = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 10L))
      .toDF("k", "v", "updated_at")
    writer.createTable(TableDef("att", s"$dir/att", df.schema,
      sortKeys = Seq("k"), semantics = ReplacingDedup(Seq("k"), "updated_at"),
      indexCols = Seq("v")))
    writer.append("att", df)

    val reader = new Catalog(spark)
    val t = reader.attach(s"$dir/att")
    t.name shouldBe "att"
    t.sortKeys shouldBe Seq("k")
    t.semantics shouldBe ReplacingDedup(Seq("k"), "updated_at")
    t.indexCols shouldBe Seq("v")
    // the merge view works through the attached definition
    reader.read("att").orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1))) shouldBe Array(("a", 2L), ("b", 3L))
  }

  test("the logged definition survives a compact; detach forgets") {
    val dir = tmpDir("attach2")
    val writer = new Catalog(spark)
    val df = Seq(("a", 1L, 10L)).toDF("k", "v", "updated_at")
    writer.createTable(TableDef("att2", s"$dir/att2", df.schema,
      sortKeys = Seq("k"), semantics = Append))
    writer.append("att2", df)
    writer.compact("att2") // the rewrite's entry carries the definition forward
    writer.detach("att2")
    intercept[NoSuchElementException](writer.read("att2"))
    val t = writer.attach(s"$dir/att2")
    t.semantics shouldBe Append
    writer.read("att2").count() shouldBe 1
  }

  test("attach reconstructs the POST-ALTER schema and refuses name shadowing") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("attach3")
    val writer = new Catalog(spark)
    val df = Seq(("a", 1L)).toDF("k", "v")
    writer.createTable(TableDef("att3", s"$dir/att3", df.schema,
      sortKeys = Seq("k"), semantics = Append))
    writer.append("att3", df)
    writer.addColumn("att3", StructField("w", LongType), 7L)
    // a fresh catalog attaches the ALTERED definition, default included
    val reader = new Catalog(spark)
    val t = reader.attach(s"$dir/att3")
    t.schema.fieldNames.toSeq shouldBe Seq("k", "v", "w")
    // pre-ALTER parts read through the attached def (nulls, not a crash)
    reader.read("att3").columns.toSeq shouldBe Seq("k", "v", "w")
    // a same-name table at a DIFFERENT path refuses to shadow
    val other = tmpDir("attach3b")
    writer.createTable(TableDef("att3x", s"$other/att3x", df.schema,
      sortKeys = Seq("k"), semantics = Append))
    writer.append("att3x", df)
    // forge a colliding logged name by attaching into a catalog that
    // already holds att3 at the original path
    val ex = intercept[IllegalArgumentException] {
      val forged = new Catalog(spark)
      forged.createTable(TableDef("att3", s"$other/elsewhere", df.schema,
        sortKeys = Seq("k"), semantics = Append))
      forged.attach(s"$dir/att3")
    }
    ex.getMessage should include("already registered")
  }

  test("systemParts tracks compaction merging appends down") {
    val (cat, dir) = freshCat("sys-compact")
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    cat.createTable(TableDef("t", s"$dir/t", df.schema,
      sortKeys = Seq("k"), semantics = Append))
    cat.append("t", df)
    cat.append("t", df)
    val before = cat.systemParts("t").count()
    cat.compact("t")
    val after = cat.systemParts("t").count()
    after should be <= before
    cat.systemParts("t").agg(sum(col("rows"))).head().getLong(0) shouldBe 4L
  }

  test("CODEC axis: declared compression reaches the parquet files; zstd round-trips") {
    val (cat, dir) = freshCat("sys-codec")
    val df = Seq((1L, "aaaa"), (2L, "bbbb"), (3L, "cccc")).toDF("k", "v")
    cat.createTable(TableDef("cz", s"$dir/cz", df.schema,
      sortKeys = Seq("k"), semantics = Append, codec = "zstd"))
    cat.append("cz", df)
    // Spark stamps the codec into the part-file name — observe it there
    def parquet(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/cz")).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq
    }
    val files = parquet()
    files should not be empty
    all(files) should include(".zstd.")
    cat.read("cz").orderBy("k").collect().map(_.getLong(0)) shouldBe
      Array(1L, 2L, 3L)
    // the codec survives compact (the rewrite writes through writeData)
    cat.compact("cz")
    all(parquet()) should include(".zstd.")
    // ...and survives detach/attach via the sidecar
    cat.detach("cz")
    cat.attach(s"$dir/cz").codec shouldBe "zstd"
    cat.systemTables().filter(col("table") === "cz")
      .head().getAs[String]("codec") shouldBe "zstd"
    // unknown codec refused at declaration, not at first write
    an[IllegalArgumentException] should be thrownBy
      cat.createTable(TableDef("bad", s"$dir/bad", df.schema,
        sortKeys = Seq("k"), semantics = Append, codec = "brotli9000"))
  }

  test("systemColumns reports every declared column with its storage roles") {
    val (cat, dir) = freshCat("sys-cols")
    val df = Seq((1L, "a", 2L)).toDF("k", "v", "ts")
    cat.createTable(TableDef("sc", s"$dir/sc", df.schema,
      sortKeys = Seq("k"), semantics = Append, indexCols = Seq("v"),
      minmaxCols = Seq("ts")))
    cat.addColumn("sc", org.apache.spark.sql.types.StructField("score",
      org.apache.spark.sql.types.LongType), 5L)
    val rows = cat.systemColumns().filter(col("table") === "sc").collect()
      .map(r => r.getString(1) -> r).toMap
    rows.keySet shouldBe Set("k", "v", "ts", "score")
    rows("k").getAs[Boolean]("is_sort_key") shouldBe true
    rows("v").getAs[Boolean]("in_bloom_index") shouldBe true
    rows("ts").getAs[Boolean]("in_minmax_index") shouldBe true
    rows("score").getAs[Boolean]("has_default") shouldBe true
    rows("score").getAs[Int]("position") shouldBe 3
    rows("k").getAs[String]("type") shouldBe "bigint"
  }

  test("systemMutations records every completed rewrite, in order, across compactions") {
    val (cat, dir) = freshCat("sys-mut")
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    cat.createTable(TableDef("mt", s"$dir/mt", df.schema,
      sortKeys = Seq("k"), semantics = Append))
    cat.append("mt", df)
    cat.delete("mt", col("k") === 2L)
    cat.update("mt", col("k") === 1L, Map("v" -> lit("z")))
    cat.compact("mt")
    val rows = cat.systemMutations("mt").orderBy("seq").collect()
    rows.length shouldBe 3
    rows(0).getAs[String]("command") should include("ALTER DELETE")
    rows(1).getAs[String]("command") should include("ALTER UPDATE v")
    rows(2).getAs[String]("command") shouldBe "OPTIMIZE TABLE FINAL"
    all(rows.map(_.getAs[Boolean]("is_done"))) shouldBe true
    // the data agrees with the recorded history
    cat.read("mt").collect().map(r => (r.getLong(0), r.getString(1))) shouldBe
      Array((1L, "z"))
  }

  test("query_log records storage-touching actions; flush lands them in a catalog table") {
    val (cat, dir) = freshCat("sys-qlog")
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "v")
    cat.createTable(TableDef("qt", s"$dir/qt", df.schema,
      sortKeys = Seq("k"), semantics = Append))
    cat.append("qt", df)
    val qlog = new QueryLog(spark, cat, s"$dir/query_log").attach()
    // listener delivery is asynchronous — poll the buffer to a deadline
    def awaitPending(n: Int): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (qlog.pending < n && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    }
    try {
      // three storage-touching actions — including a DIRECT collect on
      // the reader Dataset, whose raw logical plan is an unresolved data
      // source under Spark 4's lazy reader (the analyzed plan is what
      // carries the LogicalRelation the listener keys on)
      cat.read("qt").count() shouldBe 3L
      cat.read("qt").filter(col("v") === "a").collect().length shouldBe 2
      cat.read("qt").collect().length shouldBe 3
      awaitPending(3)
      qlog.flush() should be >= 3L
      // the flush's own internal appends (driver-local batches) are NOT
      // logged: a second flush with no new user queries lands nothing.
      // This must be checked BEFORE reading the log — reading query_log
      // is itself a storage-touching query and gets logged, exactly like
      // ClickHouse logs queries against query_log
      Thread.sleep(1000) // negative assertion: give the bus time to (not) deliver
      qlog.flush() shouldBe 0L
      val rows = qlog.log().collect()
      rows.length should be >= 3
      all(rows.map(_.getAs[Long]("duration_ms"))) should be >= 0L
      all(rows.map(_.getAs[String]("status"))) shouldBe "QueryFinish"
      all(rows.map(_.getAs[String]("statement"))) should not be empty
      // the log is an ordinary catalog table: queryable, compactable
      // (these reads are themselves storage-touching and get logged —
      // ClickHouse likewise logs queries against query_log)
      qlog.log().filter(col("result_rows") >= -1L).count() should be >= 2L
      cat.compact("query_log")
      // detach stops recording: land everything recorded so far, then a
      // fresh storage read must not appear
      qlog.detach()
      Thread.sleep(1000) // let in-flight deliveries land, then snapshot
      qlog.flush()
      val n0 = qlog.log().count()
      cat.read("qt").count()
      Thread.sleep(1000) // negative assertion: nothing may arrive
      qlog.flush() shouldBe 0L
      qlog.log().count() shouldBe n0
    } finally qlog.detach()
  }

  test("explainEstimate prices a scan from metadata; a minmax range prices the pruned scan") {
    val (cat, dir) = freshCat("sys-estimate")
    val df = spark.range(0, 4000)
      .select(col("id").as("k"), (col("id") % 7).cast("string").as("v"))
    cat.createTable(TableDef("est", s"$dir/est", df.schema,
      sortKeys = Seq("k"), semantics = Append, minmaxCols = Seq("k")))
    // four appends = four clustered parts with disjoint k ranges
    (0 until 4).foreach(i =>
      cat.append("est", df.filter(col("k") >= i * 1000 && col("k") < (i + 1) * 1000)))
    val full = cat.explainEstimate("est").head()
    full.getAs[Long]("files_total") shouldBe full.getAs[Long]("files_selected")
    full.getAs[Long]("rows") shouldBe 4000L // footer counts, no data scan
    full.getAs[Long]("bytes") should be > 0L
    // a narrow range survives only its own part's sidecar
    val pruned = cat.explainEstimate("est", Some(("k", 1100, 1200))).head()
    pruned.getAs[Long]("files_selected") should be <
      pruned.getAs[Long]("files_total")
    pruned.getAs[Long]("rows") should be < 4000L
    // the estimate prices EXACTLY the scan the read path runs
    val (prDf, kept, total) = cat.readRangePruned("est", "k", 1100, 1200)
    pruned.getAs[Long]("files_selected") shouldBe kept.toLong
    pruned.getAs[Long]("files_total") shouldBe total.toLong
    prDf.filter(col("k").between(1100, 1200)).count() shouldBe 101L
    // a range on an undeclared column is refused, like the read path
    an[IllegalArgumentException] should be thrownBy
      cat.explainEstimate("est", Some(("v", "a", "b")))
  }

  test("query_log attributes shuffle bytes per query (system.query_log read_bytes analog)") {
    val (cat, dir) = freshCat("sys-qlog-metrics")
    val df = spark.range(20000)
      .select(col("id").as("k"), (col("id") % 97).cast("string").as("v"))
    cat.createTable(TableDef("qm", s"$dir/qm", df.schema,
      sortKeys = Seq("k"), semantics = Append))
    cat.append("qm", df)
    val qlog = new QueryLog(spark, cat, s"$dir/query_log").attach()
    try {
      // one shuffling action (groupBy forces an exchange) and one narrow
      // scan — the metric columns must tell them apart
      cat.read("qm").groupBy(col("v")).count().collect().length shouldBe 97
      cat.read("qm").filter(col("k") === 7L).collect().length shouldBe 1
      val deadline = System.currentTimeMillis() + 30000
      while (qlog.pending < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      qlog.flush() should be >= 2L
      val rows = qlog.log().collect()
      // the groupBy run wrote AND read shuffle data
      val shuffled = rows.filter(_.getAs[Long]("shuffle_write_bytes") > 0L)
      shuffled.length should be >= 1
      all(shuffled.map(_.getAs[Long]("shuffle_read_bytes"))) should be > 0L
      // the narrow scan logged zero shuffle traffic
      rows.exists(r => r.getAs[Long]("shuffle_write_bytes") == 0L &&
        r.getAs[Long]("shuffle_read_bytes") == 0L) shouldBe true
      // spill is a valid (non-negative) byte count, zero on this tiny run
      all(rows.map(_.getAs[Long]("spill_bytes"))) should be >= 0L
    } finally qlog.detach()
  }

  test("quotas: per-user interval windows refuse at the limit and roll over") {
    var now = 1000L
    val gov = new QueryGovernor(spark, () => now)
    gov.createQuota("analysts", Seq("alice", "bob"), intervalMs = 60000L,
      maxQueries = 2, maxResultRows = 100)
    // two queries fit, the third is refused BEFORE running
    gov.runAs("alice", "a1")(1 + 1) shouldBe 2
    gov.runAs("alice", "a2")(2 + 2) shouldBe 4
    val ex = intercept[IllegalStateException] {
      gov.runAs("alice", "a3")(fail("quota must refuse before the action"))
    }
    ex.getMessage should include("QUOTA_EXCEEDED")
    ex.getMessage should include("queries 2/2")
    // bob has his own window; carol is uncovered -> unlimited
    gov.runAs("bob", "b1")(0) shouldBe 0
    (1 to 5).foreach(i => gov.runAs("carol", s"c$i")(i))
    // result-rows accounting: the query that EXCEEDS completes, the next
    // one is refused (CH's check-at-start semantics)
    gov.accountRows("bob", 150L)
    intercept[IllegalStateException] {
      gov.runAs("bob", "b2")(0)
    }.getMessage should include("result_rows")
    // window rollover resets every counter
    now += 60001L
    gov.runAs("alice", "a4")(9) shouldBe 9
    gov.runAs("bob", "b3")(9) shouldBe 9
    // declarations + live usage are introspectable
    gov.systemQuotas().collect().map(_.getString(0)) shouldBe Array("analysts")
    val u = gov.systemQuotaUsage().collect()
      .map(r => (r.getString(1), r.getLong(3))).toMap
    u("alice") shouldBe 1L
    // errors count toward their own limit
    gov.createQuota("fragile", Seq("dave"), intervalMs = 60000L,
      maxErrors = 1)
    intercept[RuntimeException] {
      gov.runAs("dave", "d1")(throw new RuntimeException("boom"))
    }
    intercept[IllegalStateException] {
      gov.runAs("dave", "d2")(0)
    }.getMessage should include("errors")
    gov.dropQuota("fragile") shouldBe true
    gov.runAs("dave", "d3")(7) shouldBe 7
  }

  test("quotas: maxQueries bounds CONCURRENT starts (check-and-increment is atomic)") {
    val gov = new QueryGovernor(spark)
    gov.createQuota("solo", Seq("erin"), intervalMs = 600000L, maxQueries = 1)
    // N threads race into runAs while the admitted one blocks inside the
    // action: with check-at-start + count-at-start exactly ONE may pass
    val gate = new java.util.concurrent.CountDownLatch(1)
    val admitted = new java.util.concurrent.atomic.AtomicInteger(0)
    val refused = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 4).map { i =>
      new Thread(() =>
        try {
          gov.runAs("erin", s"e$i") { admitted.incrementAndGet(); gate.await() }
        } catch {
          case e: IllegalStateException if e.getMessage.contains("QUOTA_EXCEEDED") =>
            refused.incrementAndGet()
        })
    }
    threads.foreach(_.start())
    // wait until every thread has either been admitted or refused
    val deadline = System.currentTimeMillis() + 10000L
    while (admitted.get() + refused.get() < 4 &&
           System.currentTimeMillis() < deadline) Thread.sleep(10L)
    gate.countDown()
    threads.foreach(_.join(10000L))
    admitted.get() shouldBe 1
    refused.get() shouldBe 3
  }

  test("QueryGovernor: max_execution_time kills a runaway; KILL QUERY works cross-thread") {
    val gov = new QueryGovernor(spark)
    // a scan that would take minutes: the watchdog must kill it in ~1 s
    // and the failure must surface to the caller, not return empty
    val t0 = System.currentTimeMillis()
    val killed = intercept[Exception] {
      gov.run("runaway", maxExecutionMs = 1000L) {
        spark.range(0L, Long.MaxValue / 1000L).selectExpr("sum(id % 7)")
          .collect()
      }
    }
    (System.currentTimeMillis() - t0) should be < 60000L
    killed.getMessage.toLowerCase should include("cancel")
    // the slot is released: the id is reusable and processes is empty
    gov.systemProcesses().count() shouldBe 0L
    // cross-thread KILL QUERY: observe the query in system.processes
    // from the killing thread, then cancel it mid-flight
    val errRef = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val worker = new Thread(() =>
      try gov.run("victim") {
        spark.range(0L, Long.MaxValue / 1000L).selectExpr("sum(id % 5)")
          .collect()
      } catch { case e: Throwable => errRef.set(e) })
    worker.start()
    val deadline = System.currentTimeMillis() + 30000L
    while (!gov.systemProcesses().collect().map(_.getString(0))
        .contains("victim") && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    gov.systemProcesses().collect().map(_.getString(0)) should contain("victim")
    gov.kill("victim") shouldBe true
    worker.join(60000L)
    worker.isAlive shouldBe false
    errRef.get should not be null
    errRef.get.getMessage.toLowerCase should include("cancel")
    // killing a finished/unknown id reports false, it doesn't throw
    gov.kill("victim") shouldBe false
    // duplicate live ids are refused (the registry is the kill target)
    gov.run("dup") {
      intercept[IllegalArgumentException](gov.run("dup")(0))
    }
    // ids Spark's job tags would reject (comma, spaces) are sanitized
    // into the tag, run fine, and never leak a registry slot
    gov.run("report,daily run") { 1 + 1 } shouldBe 2
    gov.run("report,daily run") { 2 + 2 } shouldBe 4
    gov.systemProcesses().count() shouldBe 0L
  }

  test("system.parts literal-table pin prunes the union to one branch") {
    import graft.sql.ChDdl
    val (cat, dir) = freshCat("sys-pin")
    Seq("pa", "pb", "pc").foreach { t =>
      cat.createTable(TableDef(t, s"$dir/$t",
        Seq((1L, "x")).toDF("k", "v").schema,
        sortKeys = Seq("k"), semantics = Append))
      cat.append(t, Seq((1L, t)).toDF("k", "v"))
    }
    // a literal pin walks ONE table's storage, not the catalog's
    ChDdl.query(cat, spark,
      "SELECT count(*) AS n FROM system.parts WHERE table = 'pb'")
      .head().getLong(0) should be >= 1L
    cat.lastSystemAllBranches shouldBe Seq("pb")
    // qualified spelling pins too
    ChDdl.query(cat, spark,
      "SELECT p.table AS t, CAST(sum(p.rows) AS BIGINT) AS r " +
        "FROM system.parts p WHERE p.table = 'pa' GROUP BY p.table")
      .head().getString(0) shouldBe "pa"
    cat.lastSystemAllBranches shouldBe Seq("pa")
    // no pin → full walk; a disjunctive pin is conservative (full walk)
    ChDdl.query(cat, spark,
      "SELECT count(*) AS n FROM system.parts").head()
    cat.lastSystemAllBranches should contain allOf ("pa", "pb", "pc")
    ChDdl.query(cat, spark,
      "SELECT count(*) AS n FROM system.parts " +
        "WHERE table = 'pa' OR table = 'pb'").head().getLong(0) should be >= 2L
    cat.lastSystemAllBranches should contain allOf ("pa", "pb", "pc")
    // a pin on an unknown table is an empty branch list, empty result
    ChDdl.query(cat, spark,
      "SELECT count(*) AS n FROM system.parts WHERE table = 'zz'")
      .head().getLong(0) shouldBe 0L
    cat.lastSystemAllBranches shouldBe Nil
    // a NEGATED pin must NOT prune — `NOT table = 'pa'` needs the other
    // branches to answer (the textual pin can't see negation scope)
    ChDdl.query(cat, spark,
      "SELECT count(*) AS n FROM system.parts WHERE NOT table = 'pa'")
      .head().getLong(0) should be >= 2L
    cat.lastSystemAllBranches should contain allOf ("pa", "pb", "pc")
  }

  test("users & roles as text: role-addressed policies expand to granted users") {
    import graft.sql.ChDdl
    val (cat, dir) = freshCat("sys-roles")
    cat.createTable(TableDef("rt", s"$dir/rt",
      Seq((1L, 5L)).toDF("k", "v").schema,
      sortKeys = Seq("k"), semantics = Append))
    cat.append("rt", Seq((1L, 5L), (2L, 6L), (3L, 7L)).toDF("k", "v"))
    ChDdl.runScript(cat, spark,
      """CREATE USER alice IDENTIFIED WITH no_password;
        |CREATE USER IF NOT EXISTS alice;
        |CREATE USER bob;
        |CREATE ROLE readers;
        |GRANT readers TO alice""".stripMargin, dir)
    ChDdl.query(cat, spark, "SHOW USERS").collect()
      .map(_.getString(0)).sorted shouldBe Array("alice", "bob")
    ChDdl.query(cat, spark, "SHOW ROLES").head().getString(1) shouldBe "alice"
    // a row policy addressed to the ROLE covers alice, not bob
    ChDdl.execute(cat, spark,
      "CREATE ROW POLICY p1 ON rt FOR SELECT USING k < 3 TO readers", dir)
    cat.readAs("rt", "alice").count() shouldBe 2L
    cat.readAs("rt", "bob").count() shouldBe 0L
    // column grants addressed to the role expand too
    ChDdl.execute(cat, spark, "GRANT SELECT(k) ON rt TO readers", dir)
    val aliceRow = cat.readAs("rt", "alice").orderBy(col("k")).head()
    aliceRow.getLong(0) shouldBe 1L
    aliceRow.isNullAt(1) shouldBe true // v ungranted -> typed NULL
    // REVOKE closes the role door
    ChDdl.execute(cat, spark, "REVOKE readers FROM alice", dir)
    cat.readAs("rt", "alice").count() shouldBe 0L
    // registry hygiene
    intercept[Exception] {
      ChDdl.execute(cat, spark, "GRANT absent_role TO bob", dir)
    }.getMessage should include("CREATE ROLE")
    ChDdl.execute(cat, spark, "DROP USER bob", dir)
    intercept[Exception] {
      ChDdl.execute(cat, spark, "DROP USER bob", dir)
    }.getMessage should include("no such user")
    ChDdl.execute(cat, spark, "DROP USER IF EXISTS bob", dir)
  }

  test("ops doors: SHOW CREATE QUOTA round-trips; KILL MUTATION, CHECK TABLE, " +
       "DROP IF EMPTY, setting/comment no-ops, system.* additions") {
    import graft.sql.ChDdl
    val (cat, dir) = freshCat("sys-ops13")
    cat.createTable(TableDef("ot", s"$dir/ot",
      Seq((1L, "a")).toDF("k", "v").schema,
      sortKeys = Seq("k"), semantics = Append))
    cat.append("ot", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // SHOW CREATE QUOTA renders the declaration; re-executing it on a
    // fresh governor rebuilds the same quota (parse∘render identity)
    ChDdl.execute(cat, spark,
      "CREATE QUOTA ops13 FOR INTERVAL 2 HOUR " +
        "MAX queries = 50, execution_time = 90 TO carol, dan", dir)
    val rendered = ChDdl.query(cat, spark, "SHOW CREATE QUOTA ops13")
      .head().getString(0)
    rendered shouldBe ("CREATE QUOTA ops13 FOR INTERVAL 2 HOUR " +
      "MAX queries = 50, execution_time = 90 TO carol,dan")
    val cat2 = new Catalog(spark)
    ChDdl.execute(cat2, spark, rendered, dir)
    ChDdl.query(cat2, spark,
      "SELECT max_queries, max_exec_ms FROM system.quotas").head()
      .toSeq shouldBe Seq(50L, 90000L)
    // KILL MUTATION: mutations are synchronous — the empty set, loudly
    ChDdl.query(cat, spark,
      "KILL MUTATION WHERE table = 'ot'").count() shouldBe 0L
    // CHECK TABLE scans storage end-to-end
    ChDdl.query(cat, spark, "CHECK TABLE ot").head().getInt(0) shouldBe 1
    // DROP TABLE IF EMPTY refuses on rows, drops after truncate
    intercept[Exception] {
      ChDdl.execute(cat, spark, "DROP TABLE IF EMPTY ot", dir)
    }.getMessage should include("2 row(s)")
    ChDdl.execute(cat, spark, "TRUNCATE TABLE ot", dir)
    ChDdl.execute(cat, spark, "DROP TABLE IF EMPTY ot", dir)
    an[Exception] should be thrownBy cat.read("ot")
    // setting/comment ALTERs acknowledge as no-ops; DETACH PERMANENTLY
    cat.createTable(TableDef("ot2", s"$dir/ot2",
      Seq((1L, "a")).toDF("k", "v").schema,
      sortKeys = Seq("k"), semantics = Append))
    ChDdl.runScript(cat, spark,
      """ALTER TABLE ot2 MODIFY SETTING index_granularity = 8192;
        |ALTER TABLE ot2 RESET SETTING index_granularity;
        |ALTER TABLE ot2 MODIFY COMMENT 'hello';
        |DETACH TABLE ot2 PERMANENTLY""".stripMargin, dir)
    an[Exception] should be thrownBy cat.read("ot2")
    // the new system.* relations are FROM-able
    ChDdl.query(cat, spark,
      "SELECT count(*) AS n FROM system.databases").head()
      .getLong(0) shouldBe 2L
    ChDdl.query(cat, spark,
      "SELECT count(*) AS n FROM system.functions").head()
      .getLong(0) should be > 100L
    ChDdl.query(cat, spark,
      "SELECT count(*) AS n FROM system.settings").head()
      .getLong(0) should be > 0L
    ChDdl.query(cat, spark,
      "SELECT count(*) AS n FROM system.dictionaries").head()
      .getLong(0) should be >= 0L
  }

  test("governance text doors: quota'd, governed, killed — entirely as statements") {
    import graft.sql.ChDdl
    val cat = new Catalog(spark)
    // CREATE QUOTA as text → the governor's registry; units and the
    // seconds→ms execution_time mapping land as declared
    ChDdl.execute(cat, spark,
      "CREATE QUOTA ops_q KEYED BY user_name FOR INTERVAL 1 HOUR " +
        "MAX queries = 2, execution_time = 30 TO carol")
    val q = ChDdl.query(cat, spark,
      "SELECT quota, users, interval_ms, max_queries, max_exec_ms " +
        "FROM system.quotas ORDER BY quota").head()
    (q.getString(0), q.getString(1), q.getLong(2), q.getLong(3),
      q.getLong(4)) shouldBe ("ops_q", "carol", 3600000L, 2L, 30000L)
    // the quota governs: the third query in the window refuses
    cat.governor.runAs("carol", "c1")(1) shouldBe 1
    cat.governor.runAs("carol", "c2")(2) shouldBe 2
    intercept[IllegalStateException] {
      cat.governor.runAs("carol", "c3")(3)
    }.getMessage should include("QUOTA_EXCEEDED")
    // usage is FROM-able as text
    val u = ChDdl.query(cat, spark,
      "SELECT quota, user, queries FROM system.quota_usage").head()
    (u.getString(0), u.getString(1), u.getLong(2)) shouldBe
      ("ops_q", "carol", 2L)
    // a live query shows in SHOW PROCESSLIST and dies to KILL QUERY text
    val errRef = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val worker = new Thread(() =>
      try cat.governor.run("victim-txt") {
        spark.range(0L, Long.MaxValue / 1000L).selectExpr("sum(id % 5)")
          .collect()
      } catch { case e: Throwable => errRef.set(e) })
    worker.start()
    val deadline = System.currentTimeMillis() + 30000L
    while (ChDdl.query(cat, spark, "SHOW PROCESSLIST").collect()
        .map(_.getString(0)).isEmpty &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    ChDdl.query(cat, spark, "SHOW PROCESSLIST").collect()
      .map(_.getString(0)) should contain("victim-txt")
    val killed = ChDdl.query(cat, spark,
      "KILL QUERY WHERE query_id = 'victim-txt' ASYNC").collect()
    killed.map(r => (r.getString(0), r.getString(1))) shouldBe
      Array(("victim-txt", "waiting"))
    worker.join(60000L)
    worker.isAlive shouldBe false
    errRef.get.getMessage.toLowerCase should include("cancel")
    // a kill with no matching live query returns CH's empty set
    ChDdl.query(cat, spark,
      "KILL QUERY WHERE query_id = 'victim-txt'").count() shouldBe 0L
    // DROP QUOTA as text; IF EXISTS tolerates absence
    ChDdl.execute(cat, spark, "DROP QUOTA ops_q")
    ChDdl.query(cat, spark,
      "SELECT count(*) AS n FROM system.quotas").head().getLong(0) shouldBe 0L
    intercept[Exception] {
      ChDdl.execute(cat, spark, "DROP QUOTA ops_q")
    }.getMessage should include("no such quota")
    ChDdl.execute(cat, spark, "DROP QUOTA IF EXISTS ops_q")
  }
}
