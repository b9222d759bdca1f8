package graft

import org.apache.spark.sql.functions._
import graft.catalog.{Append, Catalog, TableDef}
import graft.sql.QueryCache

/** Query-result-cache contract: hits serve stored rows without
  * recomputing, TTL expires entries (injected clock, no sleeps), a
  * changed validity token invalidates immediately (the
  * Catalog.tableVersion integration: append / lightweight delete both
  * move the token), oversized results pass through uncached, and
  * capacity evicts least-recently-used.
  */
class QueryCacheSpec extends SparkSpecBase {

  private def fixedClock(t0: Long): (() => Long, Long => Unit) = {
    val now = new java.util.concurrent.atomic.AtomicLong(t0)
    (() => now.get(), (t: Long) => { now.set(t); () })
  }

  test("hit serves stored rows; recompute only on miss") {
    val (clock, _) = fixedClock(1000L)
    val cache = new QueryCache(clock = clock)
    var computes = 0
    def run = {
      computes += 1
      Tables.nation(spark, sf0001).groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n")).orderBy(col("n_regionkey"))
    }
    val a = cache.cached(spark, "q1", Seq("v1"))(run).collect()
    val b = cache.cached(spark, "q1  ", Seq("v1"))(run).collect() // normalized key
    computes shouldBe 1
    b.map(_.toSeq) shouldBe a.map(_.toSeq)
    cache.stats shouldBe ((1L, 1L))
  }

  test("TTL expiry and validity-token change both invalidate") {
    val (clock, setTime) = fixedClock(0L)
    val cache = new QueryCache(ttlMs = 100L, clock = clock)
    var computes = 0
    def run = { computes += 1; Tables.region(spark, sf0001).select(col("r_name")) }
    cache.cached(spark, "q", Seq("v1"))(run)
    setTime(50L)
    cache.cached(spark, "q", Seq("v1"))(run)
    computes shouldBe 1
    setTime(200L) // past TTL
    cache.cached(spark, "q", Seq("v1"))(run)
    computes shouldBe 2
    cache.cached(spark, "q", Seq("v2"))(run) // table moved on
    computes shouldBe 3
  }

  test("oversized results pass through uncached") {
    val (clock, _) = fixedClock(0L)
    val cache = new QueryCache(maxRowsPerEntry = 3, clock = clock)
    var computes = 0
    def run = { computes += 1; Tables.nation(spark, sf0001) } // 25 rows
    cache.cached(spark, "big", Seq("v"))(run).count() shouldBe 25L
    cache.cached(spark, "big", Seq("v"))(run).count() shouldBe 25L
    computes shouldBe 2 // never cached
  }

  test("capacity evicts least-recently-used") {
    val (clock, _) = fixedClock(0L)
    val cache = new QueryCache(maxEntries = 2, clock = clock)
    val computed = scala.collection.mutable.ArrayBuffer.empty[String]
    def run(tag: String) = {
      computed += tag
      Tables.region(spark, sf0001).select(col("r_regionkey"))
    }
    cache.cached(spark, "a", Seq("v"))(run("a"))
    cache.cached(spark, "b", Seq("v"))(run("b"))
    cache.cached(spark, "a", Seq("v"))(run("a")) // touch a: b is now LRU
    cache.cached(spark, "c", Seq("v"))(run("c")) // evicts b
    cache.cached(spark, "a", Seq("v"))(run("a")) // still cached
    cache.cached(spark, "b", Seq("v"))(run("b")) // recomputes
    computed.toSeq shouldBe Seq("a", "b", "c", "b")
  }

  test("byte budget: oversized entries pass through; total evicts LRU") {
    val (clock, _) = fixedClock(0L)
    // 25 nation-name strings estimate ~2 KB — far past the 200-byte
    // per-entry cap — while small projections still cache
    val small = new QueryCache(maxBytesPerEntry = 200L,
      maxTotalBytes = 200L, clock = clock)
    var computes = 0
    def wide = { computes += 1
      Tables.nation(spark, sf0001).select(col("n_name")) }
    small.cached(spark, "wide", Seq("v"))(wide).count() shouldBe 25L
    small.cached(spark, "wide", Seq("v"))(wide).count() shouldBe 25L
    computes shouldBe 2 // never cached: over the per-entry byte cap
    small.bytes shouldBe 0L
    // total budget: each slim entry fits alone, the second evicts the
    // first even though maxEntries would allow both
    // one entry = 5 rows * (24 + 16 boxed long) = 200 estimated bytes:
    // each fits the 250 per-entry cap alone, two together breach 300
    val slim = new QueryCache(maxBytesPerEntry = 250L,
      maxTotalBytes = 300L, clock = clock)
    val computed = scala.collection.mutable.ArrayBuffer.empty[String]
    def run(tag: String) = { computed += tag
      Tables.region(spark, sf0001).select(col("r_regionkey")) }
    slim.cached(spark, "a", Seq("v"))(run("a"))
    slim.bytes should be > 0L
    val afterA = slim.bytes
    slim.cached(spark, "b", Seq("v"))(run("b")) // evicts a (byte budget)
    slim.bytes shouldBe afterA
    slim.cached(spark, "a", Seq("v"))(run("a")) // recomputes
    computed.toSeq shouldBe Seq("a", "b", "a")
    slim.clear()
    slim.bytes shouldBe 0L
  }

  test("system.query_cache listing: rows, hits, age, staleness") {
    val (clock, setTime) = fixedClock(0L)
    val cache = new QueryCache(ttlMs = 100L, clock = clock)
    def run = Tables.region(spark, sf0001).select(col("r_regionkey"))
    cache.cached(spark, "q1", Seq("v"))(run)
    cache.cached(spark, "q1", Seq("v"))(run) // one hit
    setTime(150L) // q1 now past TTL
    cache.cached(spark, "q2", Seq("v"))(run)
    val rows = cache.listing(spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(4)))
    rows.length shouldBe 2
    rows.find(_._1 == "q1").get shouldBe (("q1", 5L, 1L, true)) // stale
    rows.find(_._1 == "q2").get shouldBe (("q2", 5L, 0L, false))
  }

  test("tableVersion moves on append and lightweight delete, not on read") {
    val src = Tables.region(spark, sf0001)
    val cat = new Catalog(spark)
    val tmp = tmpDir("graft-qc-ver")
    cat.createTable(TableDef("reg_v", s"$tmp/reg_v", src.schema,
      sortKeys = Seq("r_regionkey"), semantics = Append))
    cat.append("reg_v", src.filter(col("r_regionkey") < 3))
    val v1 = cat.tableVersion("reg_v")
    cat.read("reg_v").count()
    cat.tableVersion("reg_v") shouldBe v1 // reads don't move it
    cat.append("reg_v", src.filter(col("r_regionkey") >= 3))
    val v2 = cat.tableVersion("reg_v")
    v2 should not be v1
    cat.deleteLightweight("reg_v", col("r_regionkey") === 0)
    cat.tableVersion("reg_v") should not be v2
  }

  test("tableVersion makes as many metadata calls on a table of 30 appends as of 1") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import spark.implicits._
    val cat = new Catalog(spark)
    val tmp = tmpDir("graft-qc-flat")
    def table(name: String, appends: Int): Unit = {
      cat.createTable(TableDef(name, s"$tmp/$name", StructType(Seq(
        StructField("k", LongType), StructField("v", LongType))),
        sortKeys = Seq("k"), semantics = Append))
      (1 to appends).foreach(i => cat.append(name, Seq((i.toLong, i.toLong)).toDF("k", "v")))
    }
    table("one", 1)
    table("thirty", 30)
    def calls(name: String): Long = CountingFs.during(spark) {
      cat.tableVersion(name)
      CountingFs.meta
    }
    val (one, thirty) = (calls("one"), calls("thirty"))
    info(s"tableVersion metadata calls: $one after 1 append, $thirty after 30")
    thirty shouldBe one
  }

  test("tableVersion moves on metadata-only ALTERs that change reads, not on re-attach") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    import spark.implicits._
    val cat = new Catalog(spark)
    val path = tmpDir("graft-qc-alter") + "/alt_v"
    cat.createTable(TableDef("alt_v", path, StructType(Seq(
      StructField("k", LongType), StructField("v", IntegerType))),
      sortKeys = Seq("k"), semantics = Append))
    cat.append("alt_v", Seq((1L, 1)).toDF("k", "v"))
    cat.addColumn("alt_v", StructField("s", LongType), 7L)
    // a widened type changes the read schema
    val v1 = cat.tableVersion("alt_v")
    cat.modifyColumnType("alt_v", "v", LongType)
    val v2 = cat.tableVersion("alt_v")
    v2 should not be v1
    // a new DEFAULT changes what the still-backfilled old part reads
    cat.modifyColumnDefault("alt_v", "s", Some("9"))
    cat.read("alt_v").head().getAs[Long]("s") shouldBe 9L
    val v3 = cat.tableVersion("alt_v")
    v3 should not be v2
    // the same definition re-attached from its sidecar keeps the token
    cat.detach("alt_v")
    cat.attach(path)
    cat.tableVersion("alt_v") shouldBe v3
  }

  test("cache + catalog end to end: hit until the table changes") {
    val src = Tables.supplier(spark, sf0001)
    val cat = new Catalog(spark)
    val tmp = tmpDir("graft-qc-e2e")
    cat.createTable(TableDef("sup_qc", s"$tmp/sup_qc", src.schema,
      sortKeys = Seq("s_suppkey"), semantics = Append))
    cat.append("sup_qc", src.filter(col("s_suppkey") % 2 === 0))
    val (clock, _) = fixedClock(0L)
    val cache = new QueryCache(clock = clock)
    var computes = 0
    def run = {
      computes += 1
      cat.read("sup_qc").agg(count(lit(1)).as("n"))
    }
    def q = cache.cached(spark, "sup count",
      Seq(cat.tableVersion("sup_qc")))(run)
    val before = q.collect().head.getLong(0)
    q.collect().head.getLong(0) shouldBe before
    computes shouldBe 1
    cat.append("sup_qc", src.filter(col("s_suppkey") % 2 === 1))
    val after = q.collect().head.getLong(0)
    computes shouldBe 2
    after shouldBe src.count()
  }
}
