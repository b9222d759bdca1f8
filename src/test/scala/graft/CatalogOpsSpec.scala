package graft

import org.apache.spark.sql.functions._
import graft.operators.CatalogOps
import scala.jdk.CollectionConverters._

/** Evidence for the O3 clustering claim (Catalog.append's
  * repartitionByRange + sortWithinPartitions ≈ MergeTree ORDER BY): the
  * sort-key predicate must reach the Parquet scan as a pushed filter, and
  * the clustered layout must make most row groups' min/max stats exclude
  * it — measured from the footers themselves, not inferred.
  */
class CatalogOpsSpec extends SparkSpecBase {

  test("clustered copy: sort-key predicate is pushed to the scan") {
    val (df, _) = CatalogOps.clusteredOrdersWithPath(spark, sf0001)
    val plan = df.filter(col("o_orderkey").between(100, 200))
      .queryExecution.executedPlan.toString
    plan should include("PushedFilters")
    plan should include("GreaterThanOrEqual(o_orderkey,100)")
    plan should include("LessThanOrEqual(o_orderkey,200)")
  }

  test("clustered copy: range layout leaves most row groups skippable by min/max stats") {
    // repartitionByRange fans out to spark.sql.shuffle.partitions files;
    // raise it locally so the skipping claim has real granularity
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    val (_, path) =
      try CatalogOps.clusteredOrdersWithPath(spark, sf0001)
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf)
    val files = fs.listFiles(dir, true)
    val blocks = Iterator.continually(files).takeWhile(_.hasNext).map(_.next()).toSeq
      .filter(_.getPath.getName.startsWith("part-"))
      .flatMap { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, conf))
        try r.getFooter.getBlocks.asScala.toSeq.map { b =>
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == "o_orderkey")
            .getOrElse(fail("o_orderkey column chunk missing"))
          val s = c.getStatistics
          (s.genericGetMin.asInstanceOf[java.lang.Long].longValue,
            s.genericGetMax.asInstanceOf[java.lang.Long].longValue)
        } finally r.close()
      }
    // enough granularity that "most are skippable" is a real claim
    blocks.size should be >= 8
    val matching = blocks.count { case (mn, mx) => mx >= 100L && mn <= 200L }
    // range clustering ⇒ the probed key range lives in very few row groups
    matching should be <= math.max(2, blocks.size / 4)
    // and the layout partitions the keyspace: group ranges don't all overlap
    val sorted = blocks.sortBy(_._1)
    sorted.sliding(2).count {
      case Seq((_, aMax), (bMin, _)) => bMin > aMax
      case _ => false
    } should be >= blocks.size / 2
  }

  test("bloom skip-index: non-sort-key equality probe reads fewer files, same answer") {
    import spark.implicits._
    import graft.catalog.{Append, Catalog, TableDef}
    // controlled fixture: sorted by k, indexed on tag; each tag value
    // lives in exactly one rowid neighborhood → exactly one file, while
    // min/max on k can never help a tag predicate
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val cat = new Catalog(spark)
      val path = tmpDir("bloomidx") + "/tagged"
      val src = (0L until 16000L).map(i => (i, s"tag${i / 1000}", i % 97))
        .toDF("k", "tag", "v")
      cat.createTable(TableDef("tagged", path, src.schema,
        sortKeys = Seq("k"), semantics = Append, indexCols = Seq("tag")))
      cat.append("tagged", src)

      val (df, kept, total) = cat.readPruned("tagged", "tag", "tag7")
      total should be >= 8
      kept should be < total  // files actually skipped
      kept should be <= 3     // ~one neighborhood + bloom false positives
      val got = df.filter(col("tag") === "tag7")
      got.count() shouldBe 1000L   // no false negatives: every row found
      got.agg(sum(col("k"))).head().getLong(0) shouldBe (7000L until 8000L).sum

      // a probe for an absent value prunes everything and returns empty
      val (none, keptNone, _) = cat.readPruned("tagged", "tag", "no-such-tag")
      keptNone shouldBe 0
      none.filter(col("tag") === "no-such-tag").count() shouldBe 0L

      // appends keep the index current: new files get sidecars too
      cat.append("tagged", Seq((99999L, "fresh", 1L)).toDF("k", "tag", "v"))
      val (fresh, keptF, totalF) = cat.readPruned("tagged", "tag", "fresh")
      keptF should be < totalF
      fresh.filter(col("tag") === "fresh").count() shouldBe 1L

      // undeclared column fails loudly, not with a silent full scan
      an[IllegalArgumentException] should be thrownBy
        cat.readPruned("tagged", "v", 1L)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("cat_bloom_scan gate query: pruned result equals the unpruned aggregate") {
    val (df, kept, total) = CatalogOps.bloomScanWithStats(spark, sf0001)
    kept should be <= total
    val pruned = df.agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("s")).head()
    val probe = Tables.orders(spark, sf0001)
      .orderBy(col("o_orderkey")).select(col("o_custkey")).head().getLong(0)
    val full = Tables.orders(spark, sf0001)
      .filter(col("o_custkey") === probe)
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("s")).head()
    pruned.getLong(0) shouldBe full.getLong(0)
    pruned.getDouble(1) shouldBe full.getDouble(1) +- 1e-6
  }

  test("cat_set_scan gate query: exact-set pruning skips files; overflow fails open") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    val (df, kept, total) =
      try CatalogOps.setScanWithStats(spark, sf0001)
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    total should be > 4
    kept should be < total // 2-of-5 priorities, priority-clustered files
    kept should be >= 1
    // pruning invisible: pruned+filtered equals the source filtered
    val want = Tables.orders(spark, sf0001)
      .filter(col("o_orderpriority").isin("1-URGENT", "3-MEDIUM")).count()
    df.count() shouldBe want
    // overflow fails open, never lies: a set(2) bound on the high-
    // cardinality key column overflows in every file (customer sf0.001:
    // ~tens of distinct keys per file) — all files kept, every probe row
    // still found
    import graft.catalog.{Append, Catalog, TableDef}
    val cat = new Catalog(spark)
    val src = Tables.customer(spark, sf0001)
    cat.createTable(TableDef("cust_set", tmpDir("setidx") + "/cust_set",
      src.schema, sortKeys = Seq("c_mktsegment", "c_custkey"),
      semantics = Append,
      setIndexCols = Seq("c_custkey" -> 2, "c_mktsegment" -> 10)))
    cat.append("cust_set", src)
    val (ov, keptO, totalO) = cat.readSetPruned("cust_set", "c_custkey", Seq(1L))
    keptO shouldBe totalO // every sidecar is the overflow marker
    ov.filter(col("c_custkey") === 1L).count() shouldBe 1L
    // …while the low-cardinality column on the SAME (segment-clustered)
    // table still prunes correctly through its own exact sets
    val (nf, keptS, totalS) =
      cat.readSetPruned("cust_set", "c_mktsegment", Seq("BUILDING"))
    keptS should be < totalS
    nf.filter(col("c_mktsegment") === "BUILDING").count() shouldBe
      src.filter(col("c_mktsegment") === "BUILDING").count()
    // declaration refusals: unknown column, non-positive bound, bad type
    an[IllegalArgumentException] should be thrownBy
      cat.createTable(TableDef("bad1", "/tmp/bad1", src.schema,
        sortKeys = Seq("c_custkey"), semantics = Append,
        setIndexCols = Seq("nope" -> 4)))
    an[IllegalArgumentException] should be thrownBy
      cat.createTable(TableDef("bad2", "/tmp/bad2", src.schema,
        sortKeys = Seq("c_custkey"), semantics = Append,
        setIndexCols = Seq("c_custkey" -> 0)))
    an[IllegalArgumentException] should be thrownBy
      cat.createTable(TableDef("bad3", "/tmp/bad3", src.schema,
        sortKeys = Seq("c_custkey"), semantics = Append,
        setIndexCols = Seq("c_acctbal" -> 4)))
  }

  test("cat_fulltext_scan gate query: AND-probe prunes by row co-occurrence") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    val (df, kept, total) =
      try CatalogOps.fullTextScanWithStats(spark, sf0001)
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    total should be > 4
    kept should be < total // the token pair co-occurs in few rows
    kept should be >= 1 // …but at least the probe's defining row
    // pruning invisible: pruned+filtered equals the source filtered
    val head = Tables.orders(spark, sf0001).orderBy(col("o_orderkey"))
      .select(col("o_custkey") % 1000, col("o_orderpriority")).head()
    val want = Tables.orders(spark, sf0001)
      .filter(col("o_custkey") % 1000 === head.getLong(0) &&
        col("o_orderpriority") === head.getString(1)).count()
    want should be >= 1L
    df.count() shouldBe want
  }

  test("full-text index: co-occurrence prune, phrase probe, probe refusals") {
    import graft.catalog.{Append, Catalog, TableDef}
    val cat = new Catalog(spark)
    val path = tmpDir("ftidx") + "/notes"
    val rows = Seq((1L, "alpha ember"), (2L, "beta stone"))
    val src = spark.createDataFrame(rows).toDF("id", "body")
    cat.createTable(TableDef("notes", path, src.schema,
      sortKeys = Seq("id"), semantics = Append,
      fullTextCols = Seq("body" -> 1000)))
    cat.append("notes", src) // both tokens present, never in one row
    cat.append("notes", spark.createDataFrame(
      Seq((3L, "gamma alpha beta"), (4L, "delta"))).toDF("id", "body"))
    val (df, kept, total) = cat.readFullTextAnd("notes", "body",
      Seq("alpha", "beta"))
    total should be >= 2
    kept should be < total // batch-1 files: tokens never share a row
    df.collect().map(_.getLong(0)) should contain(3L)
    df.filter(col("body").contains("alpha") &&
      col("body").contains("beta")).count() shouldBe 1L
    // a token absent from the corpus prunes every file — even alongside
    // a present one
    val (none, kept0, _) = cat.readFullTextAnd("notes", "body",
      Seq("alpha", "zzz"))
    kept0 shouldBe 0
    none.count() shouldBe 0L
    // phrase probe tokenizes with the index's own tokenizer and prunes
    // the same way; the caller's contains() verifies adjacency on the
    // candidates
    val (ph, keptP, _) = cat.readFullTextPhrase("notes", "body", "alpha beta")
    keptP shouldBe kept
    ph.filter(col("body").contains("alpha beta")).count() shouldBe 1L
    // refusals: multi-word AND probe tokens, empty probes
    an[IllegalArgumentException] should be thrownBy
      cat.readFullTextAnd("notes", "body", Seq("two words"))
    an[IllegalArgumentException] should be thrownBy
      cat.readFullTextAnd("notes", "body", Nil)
    an[IllegalArgumentException] should be thrownBy
      cat.readFullTextPhrase("notes", "body", " .. ")
    // declaration refusals: unknown column, non-positive bound, non-text
    an[IllegalArgumentException] should be thrownBy
      cat.createTable(TableDef("badf1", "/tmp/badf1", src.schema,
        sortKeys = Seq("id"), semantics = Append,
        fullTextCols = Seq("nope" -> 4)))
    an[IllegalArgumentException] should be thrownBy
      cat.createTable(TableDef("badf2", "/tmp/badf2", src.schema,
        sortKeys = Seq("id"), semantics = Append,
        fullTextCols = Seq("body" -> 0)))
    an[IllegalArgumentException] should be thrownBy
      cat.createTable(TableDef("badf3", "/tmp/badf3", src.schema,
        sortKeys = Seq("id"), semantics = Append,
        fullTextCols = Seq("id" -> 4)))
  }

  test("full-text index: dense tokens degrade to universal markers; overflow fails open") {
    import graft.catalog.{Append, Catalog, TableDef}
    val cat = new Catalog(spark)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // one file, so the over-cap token is dense WITHIN it
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val n = graft.catalog.Catalog.FullTextRowCap + 1000
    try {
      val src = spark.range(1, n + 1).select(col("id"),
        when(col("id") === 42L, lit("common rare"))
          .otherwise(lit("common")).as("body"))
      val path = tmpDir("ftdense") + "/dense"
      cat.createTable(TableDef("dense_ft", path, src.schema,
        sortKeys = Seq("id"), semantics = Append,
        fullTextCols = Seq("body" -> 100)))
      cat.append("dense_ft", src)
      // the sidecar itself records the dense degradation — no row list
      // for the over-cap token, a name-only marker instead
      val idx = java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
        .map(_.toFile).filter(_.getName.endsWith(".body.postings")).toArray
      idx should have length 1
      val json = new String(java.nio.file.Files.readAllBytes(idx.head.toPath))
      json should include(""""dense":["common"]""")
      json.contains(""""common":[""") shouldBe false
      // dense = universal for intersection: (common AND rare) keeps the
      // file and finds the one co-occurring row
      val (df, kept, total) = cat.readFullTextAnd("dense_ft", "body",
        Seq("common", "rare"))
      kept shouldBe total
      df.filter(col("body") === "common rare").count() shouldBe 1L
      // …but an absent token still prunes despite the dense companion
      val (_, kept0, _) = cat.readFullTextAnd("dense_ft", "body",
        Seq("common", "zzz"))
      kept0 shouldBe 0
      // overflow fails open: a bound below the file's vocabulary marks
      // the sidecar overflowed and every probe keeps the file
      val src2 = spark.range(0, 50).select(col("id"),
        concat(lit("tok_"), col("id")).as("body"))
      cat.createTable(TableDef("ovf_ft", tmpDir("ftovf") + "/ovf",
        src2.schema, sortKeys = Seq("id"), semantics = Append,
        fullTextCols = Seq("body" -> 4)))
      cat.append("ovf_ft", src2)
      val (ov, keptO, totalO) = cat.readFullTextAnd("ovf_ft", "body",
        Seq("tok_7", "tok_8"))
      keptO shouldBe totalO // overflow marker: fail open, never lie
      ov.filter(col("body") === "tok_7").count() shouldBe 1L
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("full-text declaration survives the _TABLE sidecar round-trip") {
    import graft.catalog.{Append, Catalog, TableDef}
    val cat = new Catalog(spark)
    val path = tmpDir("ftattach") + "/reg_ft"
    val src = spark.createDataFrame(Seq(
      (1L, "asia pacific"), (2L, "north america"))).toDF("id", "body")
    cat.createTable(TableDef("reg_ft", path, src.schema,
      sortKeys = Seq("id"), semantics = Append,
      fullTextCols = Seq("body" -> 64)))
    cat.append("reg_ft", src)
    val cat2 = new Catalog(spark)
    val re = cat2.attach(path)
    re.fullTextCols shouldBe Seq("body" -> 64)
    val (df, kept, total) = cat2.readFullTextAnd("reg_ft", "body",
      Seq("asia", "pacific"))
    kept should be <= total
    df.filter(col("body") === "asia pacific").count() shouldBe 1L
  }

  test("set index declaration survives the _TABLE sidecar round-trip") {
    import graft.catalog.{Append, Catalog, TableDef}
    val cat = new Catalog(spark)
    val src = Tables.region(spark, sf0001)
    val path = tmpDir("setattach") + "/reg_set"
    cat.createTable(TableDef("reg_set", path, src.schema,
      sortKeys = Seq("r_regionkey"), semantics = Append,
      setIndexCols = Seq("r_name" -> 8)))
    cat.append("reg_set", src)
    val cat2 = new Catalog(spark)
    val re = cat2.attach(path)
    re.setIndexCols shouldBe Seq("r_name" -> 8)
    val (df, kept, total) = cat2.readSetPruned("reg_set", "r_name",
      Seq("ASIA"))
    kept should be <= total
    df.filter(col("r_name") === "ASIA").count() shouldBe 1L
  }

  test("cat_token_scan gate query: token pruning skips files, finds the row") {
    val (df, kept, total) = CatalogOps.tokenScanWithStats(spark, sf0001)
    total should be > 1
    kept should be < total // the id-shaped token lives in ~one file
    kept should be >= 1
    // no false negatives: the probe row (the median-custkey customer) is
    // found, with its balance intact
    val src = Tables.customer(spark, sf0001)
    val probeKey = src.count() / 2
    val row = df.collect()
    row.length shouldBe 1
    row.head.getAs[Long]("c_custkey") shouldBe probeKey
    // negative control: a token present in EVERY name ("Customer") keeps
    // every file — token pruning can only skip, never lie
    import graft.catalog.Catalog
    val cat = new Catalog(spark)
    // rebuild a small controlled fixture to probe both directions
    import spark.implicits._
    import graft.catalog.{Append, TableDef}
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val path = tmpDir("tokidx") + "/msgs"
      val msgs = (0L until 8000L)
        .map(i => (i, s"request id_${i / 1000} served from node common"))
        .toDF("k", "msg")
      cat.createTable(TableDef("msgs", path, msgs.schema,
        sortKeys = Seq("k"), semantics = Append,
        tokenIndexCols = Seq("msg")))
      cat.append("msgs", msgs)
      val (hit, keptH, totalH) = cat.readTokenPruned("msgs", "msg", "id_3")
      totalH should be >= 4
      keptH should be < totalH
      hit.filter(Catalog.hasToken(col("msg"), "id_3")).count() shouldBe 1000L
      // the everywhere-token keeps all files, the absent token none
      val (_, keptAll, _) = cat.readTokenPruned("msgs", "msg", "common")
      keptAll shouldBe totalH
      val (miss, keptM, _) = cat.readTokenPruned("msgs", "msg", "absent_tok")
      keptM should be <= 1 // at most bloom false positives
      miss.filter(Catalog.hasToken(col("msg"), "absent_tok")).count() shouldBe 0L
      // a probe with separators is a malformed hasToken, refused loudly
      an[IllegalArgumentException] should be thrownBy
        cat.readTokenPruned("msgs", "msg", "two tokens")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("cat_minmax_scan gate query: files skipped, result equals the unpruned aggregate") {
    val (df, kept, total) = CatalogOps.minmaxScanWithStats(spark, sf0001)
    total should be > 1
    kept should be < total // the range-clustered layout makes most files disjoint
    val pruned = df.agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("s")).head()
    val full = Tables.orders(spark, sf0001)
      .filter(col("o_orderkey").between(100, 200))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("s")).head()
    pruned.getLong(0) shouldBe full.getLong(0)
    pruned.getDouble(1) shouldBe full.getDouble(1) +- 1e-6
  }
}
