package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{Append, Catalog, DistributedCatalog, ReplacingDedup, TableDef}
import graft.functions.PolyHash

class DistributedSpec extends SparkSpecBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  test("Distributed: inserts route by key hash, reads union every shard") {
    val cat = new Catalog(spark)
    val dc = new DistributedCatalog(spark, cat)
    val root = tmpDir("dist") + "/d1"
    dc.create("d1", root, schema, Seq("k"), Append, "k", 3)
    val rows = (1L to 100L).map(k => (k, s"row$k")).toDF("k", "v")
    dc.append("d1", rows) shouldBe 100L
    dc.read("d1").count() shouldBe 100L
    // every member holds EXACTLY the rows whose key hashes to its shard —
    // routing is total and disjoint
    (0 until 3).foreach { i =>
      val member = cat.read(s"d1_shard$i").select("k").collect().map(_.getLong(0))
      member.foreach(k => dc.shardOf("d1", k) shouldBe i)
    }
    (0 until 3).map(i => cat.read(s"d1_shard$i").count()).sum shouldBe 100L
  }

  test("Distributed: concurrent member appends carry the caller's job tag on every job") {
    val cat = new Catalog(spark)
    val dc = new DistributedCatalog(spark, cat)
    dc.create("dt", tmpDir("dist") + "/dt", schema, Seq("k"), Append, "k", 3)
    val sc = spark.sparkContext
    // twice, with different tags: a reused pool thread holding the first
    // call's copy of the local properties cannot pass the second
    Seq("graft-dist-a", "graft-dist-b").foreach { tag =>
      sc.addJobTag(tag)
      val tags =
        try org.apache.spark.JobTagsOf(sc) {
          dc.append("dt", (1L to 30L).map(k => (k, s"$tag$k")).toDF("k", "v")) shouldBe 30L
        } finally sc.removeJobTag(tag)
      withClue(s"$tag: ") {
        tags.size should be > 1
        all(tags) should contain(tag)
      }
    }
    dc.read("dt").count() shouldBe 60L
  }

  test("Distributed: a member append's failure names the facade and the member") {
    import graft.sql.ChDdl
    val cat = new Catalog(spark)
    val root = tmpDir("dist-fail")
    ChDdl.runScript(cat, spark,
      (0 until 2).map(i =>
        s"CREATE TABLE chk_local_shard$i (`k` Int64, `v` String, " +
          "CONSTRAINT v_ok CHECK v != 'bad') ENGINE = MergeTree ORDER BY k")
        .mkString(";\n"), root)
    ChDdl.execute(cat, spark, "CREATE TABLE chk_all (`k` Int64, `v` String) ENGINE = " +
      "Distributed('main', 'default', 'chk_local', k)", root)
    val shard = cat.distributed.shardOf("chk_all", 7L)
    val e = intercept[Exception] {
      cat.distributed.append("chk_all", Seq((7L, "bad")).toDF("k", "v"))
    }
    e.getMessage should include(s"chk_all: append to member chk_local_shard$shard failed")
    e.getMessage should include("v_ok")
  }

  test("Distributed: a shard-pinned probe plans only one member's files") {
    val cat = new Catalog(spark)
    val dc = new DistributedCatalog(spark, cat)
    val root = tmpDir("dist") + "/d2"
    dc.create("d2", root, schema, Seq("k"), Append, "k", 4)
    dc.append("d2", (1L to 50L).map(k => (k, s"r$k")).toDF("k", "v"))
    val probe = 17L
    val hit = dc.readShardOf("d2", probe).filter(col("k") === probe)
    hit.collect().map(_.getString(1)) shouldBe Array("r17")
    // the N-1 other shards never enter the plan: every scanned file lives
    // under the probed shard's directory (the skip_unused_shards prune)
    val shard = dc.shardOf("d2", probe)
    val files = dc.readShardOf("d2", probe)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    files should not be empty
    files.foreach(_ should include(s"shard$shard"))
  }

  test("Distributed: member engine semantics apply per shard; attach restores the topology") {
    val cat = new Catalog(spark)
    val dc = new DistributedCatalog(spark, cat)
    val root = tmpDir("dist") + "/d3"
    val rsch = StructType(schema.fields :+ StructField("ver", LongType))
    dc.create("d3", root, rsch, Seq("k"),
      ReplacingDedup(Seq("k"), "ver"), "k", 3)
    dc.append("d3", Seq((7L, "old", 1L), (8L, "keep", 1L)).toDF("k", "v", "ver"))
    // the upsert lands in the SAME shard (same key, same hash) and the
    // member's latest-wins view collapses it
    dc.append("d3", Seq((7L, "new", 2L)).toDF("k", "v", "ver"))
    dc.read("d3").orderBy("k").collect().map(_.getString(1)) shouldBe
      Array("new", "keep")
    // a fresh catalog rebuilds facade + members from the sidecars alone
    val cat2 = new Catalog(spark)
    val dc2 = new DistributedCatalog(spark, cat2)
    val restored = dc2.attachDistributed(root)
    restored.shardKey shouldBe "k"
    restored.members should have size 3
    dc2.read("d3").count() shouldBe 2L
    // driver-side and executor-side hashes agree (the routing soundness
    // the whole design rests on)
    val sparkSide = spark.range(1).select(
      PolyHash(lit("12345")).as("h")).head.getLong(0)
    sparkSide shouldBe PolyHash.fold("12345")
  }

  test("ENGINE = Distributed as DDL text: declare over registered members, " +
       "SHOW CREATE renders back, sidecar round-trips, DROP keeps members") {
    import graft.sql.{ChDdl, ChDdlRender}
    val cat = new Catalog(spark)
    val root = tmpDir("dist-ddl")
    val cols = "(`k` Int64, `v` String)"
    // CH's model: local member tables exist BEFORE the facade
    ChDdl.runScript(cat, spark,
      (0 until 3).map(i =>
        s"CREATE TABLE ev_local_shard$i $cols ENGINE = MergeTree ORDER BY k")
        .mkString(";\n"), root)
    // declaring before members exist refuses with the model named
    val miss = intercept[Exception] {
      ChDdl.execute(cat, spark,
        s"CREATE TABLE nope $cols ENGINE = " +
          "Distributed('main', 'default', 'absent', k)", root)
    }.getMessage
    miss should include("create the members first")
    // 3-arg form (rand() routing) refuses; expression keys refuse
    intercept[Exception] {
      ChDdl.execute(cat, spark,
        s"CREATE TABLE nope $cols ENGINE = " +
          "Distributed('main', 'default', 'ev_local')", root)
    }.getMessage should include("sharding")
    intercept[Exception] {
      ChDdl.execute(cat, spark,
        s"CREATE TABLE nope $cols ENGINE = " +
          "Distributed('main', 'default', 'ev_local', cityHash64(k))", root)
    }.getMessage should include("plain member COLUMN")
    ChDdl.execute(cat, spark,
      s"CREATE TABLE ev_all $cols ENGINE = " +
        "Distributed('main', 'default', 'ev_local', k)", root)
    val d = cat.distributed.get("ev_all")
    d.members shouldBe (0 until 3).map(i => s"ev_local_shard$i")
    // routed insert + union read through the declared facade
    val rows = (1L to 60L).map(k => (k, s"r$k")).toDF("k", "v")
    cat.distributed.append("ev_all", rows) shouldBe 60L
    cat.distributed.read("ev_all").count() shouldBe 60L
    (0 until 3).map(i => cat.read(s"ev_local_shard$i").count())
      .foreach(_ should be > 0L)
    // SHOW CREATE renders the declaration; re-executing it on a fresh
    // catalog (members re-attached) rebuilds the same topology
    val rendered = ChDdl.query(cat, spark, "SHOW CREATE TABLE ev_all")
      .head().getString(0)
    rendered should include(
      "ENGINE = Distributed('main', 'default', 'ev_local', k)")
    val cat2 = new Catalog(spark)
    (0 until 3).foreach(i => cat2.attach(s"$root/ev_local_shard$i"))
    ChDdl.execute(cat2, spark, rendered, root)
    cat2.distributed.get("ev_all").members shouldBe d.members
    cat2.distributed.read("ev_all").count() shouldBe 60L
    // _DIST sidecar round-trip on a third catalog
    val cat3 = new Catalog(spark)
    (0 until 3).foreach(i => cat3.attach(s"$root/ev_local_shard$i"))
    val restored = cat3.distributed.attachDistributed(s"$root/ev_all")
    restored.shardKey shouldBe "k"
    restored.declared shouldBe true
    cat3.distributed.read("ev_all").count() shouldBe 60L
    // text INSERT doors route through the facade's hashed append: the
    // VALUES tuples and the INSERT SELECT both land sharded
    ChDdl.execute(cat, spark,
      "INSERT INTO ev_all (k, v) VALUES (1001, 'x'), (1002, 'y')", root)
    ChDdl.execute(cat, spark,
      "INSERT INTO ev_all SELECT k + 2000 AS k, v FROM ev_local_shard0",
      root)
    val total = cat.distributed.read("ev_all").count()
    total should be > 62L
    (0 until 3).map(i => cat.read(s"ev_local_shard$i").count())
      .sum shouldBe total
    // the routed rows sit on the shard their key hashes to
    cat.read(s"ev_local_shard${cat.distributed.shardOf("ev_all", 1001L)}")
      .filter(col("k") === 1001L).count() shouldBe 1L
    // DROP drops the facade only — member data stays (CH semantics)
    ChDdl.execute(cat, spark, "DROP TABLE ev_all")
    an[Exception] should be thrownBy cat.distributed.get("ev_all")
    cat.read("ev_local_shard0").count() should be > 0L
  }

  test("GLOBAL JOIN shape: one broadcast over the member union, no " +
       "fact-side shuffle before the aggregate") {
    val df = graft.operators.CatalogOps.queries("cat_distributed_join")(
      spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    // the only Exchange below the join must be the broadcast itself —
    // the fact union feeds the join directly from the member scans
    val joinDown = plan.linesIterator
      .dropWhile(!_.contains("BroadcastHashJoin")).mkString("\n")
    joinDown.linesIterator
      .count(l => l.contains("Exchange") &&
        !l.contains("BroadcastExchange")) shouldBe 0
  }
}
