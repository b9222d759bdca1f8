package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.schema.{ChType, GhEventsSchema}
import graft.sources.{GhEventsIngest, GitImporter}
import graft.sql.ChDdl
import graft.streaming.StarsMv

/** End-to-end github_events (create_db.py:67-128): JSONL fixture → declared
  * 54-column schema → Enum8 validation → clustered append → the literal
  * github_stars MV (README.md:256-266) → Array-column queries → compact.
  */
class GhEventsSpec extends SparkSpecBase {

  /** One GH event as a JSON line; unspecified columns omitted (JSON reader
    * nulls them — the real GH Archive payloads are sparse the same way).
    */
  private def eventJson(eventType: String, repo: String, createdAt: String,
                        labels: Seq[String] = Seq.empty,
                        action: String = "none"): String = {
    val labelsJson = labels.map(l => s""""$l"""").mkString("[", ",", "]")
    s"""{"file_time":"$createdAt","event_type":"$eventType","actor_login":"alice",""" +
      s""""repo_name":"$repo","created_at":"$createdAt","updated_at":"$createdAt",""" +
      s""""action":"$action","labels":$labelsJson,"number":7,"locked":0}"""
  }

  private def writeFixture(lines: Seq[String]): String = {
    val p = Paths.get(tmpDir("ghev"), "events.jsonl")
    Files.writeString(p, lines.mkString("", "\n", "\n"))
    p.toString
  }

  test("JSONL ingest lands the full declared schema, arrays and enums intact") {
    val imp = new GitImporter(spark, tmpDir("wh"))
    val fixture = writeFixture(Seq(
      eventJson("WatchEvent", "acme/a", "2024-03-01 10:00:00", action = "started"),
      eventJson("WatchEvent", "acme/a", "2024-03-01 11:00:00", action = "started"),
      eventJson("WatchEvent", "acme/b", "2024-03-01 12:00:00", action = "started"),
      eventJson("PullRequestEvent", "acme/a", "2024-03-01 13:00:00",
        labels = Seq("bug", "urgent"), action = "opened"),
      eventJson("PushEvent", "acme/b", "2024-03-01 14:00:00")))
    GhEventsIngest.ingest(spark, imp.catalog, fixture) shouldBe 5
    val t = imp.catalog.read("github_events")
    // the landed schema is exactly the declared 54-column DDL
    t.schema.fields.map(f => (f.name, f.dataType)) shouldBe
      ChType.structType(GhEventsSchema.columns).fields.map(f => (f.name, f.dataType))
    t.count() shouldBe 5
    // Array(LowCardinality(String)) round-trips
    val pr = t.filter(col("event_type") === "PullRequestEvent").head()
    pr.getAs[Seq[String]]("labels") shouldBe Seq("bug", "urgent")
    // second-truncated DateTime
    t.agg(max(col("created_at"))).head().getTimestamp(0).toString shouldBe
      "2024-03-01 14:00:00.0"
  }

  test("unknown Enum8 literal rejects the batch at insert, like ClickHouse") {
    val imp = new GitImporter(spark, tmpDir("wh"))
    val fixture = writeFixture(Seq(
      eventJson("NotARealEvent", "acme/a", "2024-03-01 10:00:00")))
    val ex = intercept[Exception] {
      GhEventsIngest.ingest(spark, imp.catalog, fixture)
    }
    ex.getMessage should include regex "invalid Enum8 value for event_type"
  }

  test("github_stars MV: streaming over github_events converges to the backfill INSERT") {
    val imp = new GitImporter(spark, tmpDir("wh"))
    val fixture = writeFixture(Seq(
      eventJson("WatchEvent", "acme/a", "2024-03-01 10:00:00", action = "started"),
      eventJson("WatchEvent", "acme/a", "2024-03-01 11:00:00", action = "started"),
      eventJson("WatchEvent", "acme/b", "2024-03-01 12:00:00", action = "started"),
      eventJson("IssuesEvent", "acme/a", "2024-03-01 13:00:00")))
    GhEventsIngest.ingest(spark, imp.catalog, fixture)
    val gh = imp.catalog.read("github_events")
    // batch MV definition (README.md:256-262 literally: WatchEvent/repo_name)
    val stars = StarsMv.githubStars(gh).orderBy("repo_name").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    stars shouldBe Array(("acme/a", 2L), ("acme/b", 1L))
    // backfill (README.md:263-266) produces the identical table
    val backfill = StarsMv.githubStarsBackfill(gh).orderBy("repo_name").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    backfill shouldBe stars
    // and the streaming MV over the same storage converges to it
    val mvOut = StarsMv.githubStars(
      // each commit's files sit in a directory of their own under the table
      spark.readStream.schema(gh.schema).option("recursiveFileLookup", "true")
        .parquet(imp.catalog.get("github_events").path))
    val q = StarsMv.writer(mvOut, tmpDir("ck"))
      .format("memory").queryName("gh_stars_mv").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("gh_stars_mv")
      .groupBy("repo_name").agg(max("stars").as("stars")) // update-mode: latest row wins
      .orderBy("repo_name").collect().map(r => (r.getString(0), r.getLong(1)))
    streamed shouldBe stars
  }

  test("adapter view ≡ ingested table: the same rows through JSONL ingest are identical") {
    // The three gh_* CORRECTNESS queries run over the deterministic adapter
    // view (GhEventsOps.fromEvents) because the DuckDB oracle can only see
    // the testdata Parquet; this closes the remaining gap by pushing the
    // view's own rows through the real JSONL ingest path and asserting both
    // representations agree — row-for-row and on the gh_stars_rollup shape.
    val imp = new GitImporter(spark, tmpDir("wh"))
    val view = graft.operators.GhEventsOps.fromEvents(spark, sf0001)
    val jsonDir = tmpDir("ghjson") + "/events"
    view.coalesce(1).write
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .json(jsonDir)
    GhEventsIngest.ingest(spark, imp.catalog, jsonDir) shouldBe view.count()
    val ingested = imp.catalog.read("github_events")
    // full 54-column row-set equality, both directions
    view.exceptAll(ingested).count() shouldBe 0
    ingested.exceptAll(view).count() shouldBe 0
    // and the MV rollup the driver oracles is identical over either source
    val viaView = StarsMv.githubStars(view).orderBy("repo_name").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val viaTable = StarsMv.githubStars(ingested).orderBy("repo_name").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    viaTable shouldBe viaView
  }

  test("x100-scale JSONL ingest: 50k-row archive lands, aggregates, and compacts correctly") {
    // the 54-column MergeTree analog beyond smoke scale: a deterministic
    // 50k-line gharchive-shaped fixture (100 repos x 5 event types x 10
    // days) through the full enum-validating ingest, then the heavy
    // daily-top query shape and a clustered compact over the result
    val imp = new GitImporter(spark, tmpDir("wh"))
    val n = 50000
    val lines = (0 until n).map { i =>
      val day = f"2024-03-${i % 10 + 1}%02d"
      val et = Seq("WatchEvent", "PushEvent", "PullRequestEvent",
        "IssuesEvent", "ForkEvent")(i % 5)
      val labels =
        if (et == "PullRequestEvent") Seq(s"l${i % 7}", s"l${i % 3}") else Seq.empty
      val action = if (et == "WatchEvent") "started"
        else if (et == "PullRequestEvent") "opened" else "none"
      eventJson(et, s"org${i % 10}/repo${i % 100}",
        f"$day 10:${i / 60 % 60}%02d:${i % 60}%02d", labels, action)
    }
    val fixture = writeFixture(lines)
    GhEventsIngest.ingest(spark, imp.catalog, fixture) shouldBe n
    val t = imp.catalog.read("github_events")
    t.count() shouldBe n

    // stars rollup: i % 5 == 0 rows are WatchEvents; their repo class
    // i % 100 covers the 20 multiples of 5, each hit n/100 = 500 times
    val stars = StarsMv.githubStars(t).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    stars.length shouldBe 20
    stars.foreach { case (_, c) => c shouldBe (n / 100).toLong }

    // label co-occurrence over the PR stream: pairs cycle with period
    // lcm(5,7,3)=105, distinct (i%7, i%3) pairs among i%5==2 → 21 pairs
    val pairs = t.filter(col("event_type") === "PullRequestEvent")
      .select(concat(col("labels")(0), lit(":"), col("labels")(1)).as("p"))
      .distinct().count()
    pairs shouldBe 21

    // clustered compact preserves everything at weight
    imp.catalog.compact("github_events")
    imp.catalog.read("github_events").count() shouldBe n
    StarsMv.githubStars(imp.catalog.read("github_events")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted shouldBe stars.sorted
  }

  private val starsDdl =
    """CREATE TABLE github_stars (
      |    `repo_name` LowCardinality(String),
      |    `stars`     UInt64
      |) ENGINE = SummingMergeTree
      |ORDER BY repo_name""".stripMargin

  private val starsMvDdl =
    """CREATE MATERIALIZED VIEW github_stars_mv TO github_stars AS
      |SELECT repo_name, count() AS stars
      |FROM github_events
      |WHERE event_type = 'WatchEvent'
      |GROUP BY repo_name""".stripMargin

  /** `n` events over 17 repositories, every third a WatchEvent, from `start` seconds. */
  private def batch(n: Int, start: Int): Seq[(String, String)] =
    (start until start + n).map { i =>
      val tpe = if (i % 3 == 0) "WatchEvent" else "PushEvent"
      tpe -> s"acme/r${i % 17}"
    }

  private def batchJson(evs: Seq[(String, String)], start: Int): Seq[String] =
    evs.zipWithIndex.map { case ((tpe, repo), j) =>
      val s = start + j
      eventJson(tpe, repo, f"2024-03-01 ${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d",
        action = if (tpe == "WatchEvent") "started" else "none")
    }

  private def starsOf(evs: Seq[(String, String)]): Map[String, Long] =
    evs.filter(_._1 == "WatchEvent").groupBy(_._2).map { case (r, es) => r -> es.size.toLong }

  private def table(cat: graft.catalog.Catalog, name: String): Map[String, Long] =
    cat.read(name).collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("a measured events insert writes its block in one job and its view in one more") {
    val sc = spark.sparkContext
    val imp = new GitImporter(spark, tmpDir("wh"))
    val cat = imp.catalog
    ChDdl.createTable(cat, starsDdl, tmpDir("stars") + "/github_stars")
    val first = batch(300, 0)
    val alone = org.apache.spark.JobTagsOf(sc) {
      GhEventsIngest.ingest(spark, cat, writeFixture(batchJson(first, 0))) shouldBe 300
    }
    ChDdl.createMaterializedView(cat, spark, starsMvDdl)
    val second = batch(300, 300)
    val withView = org.apache.spark.JobTagsOf(sc) {
      GhEventsIngest.ingest(spark, cat, writeFixture(batchJson(second, 300))) shouldBe 300
    }
    alone should have size 1
    withView should have size 2
    cat.read("github_events").count() shouldBe 600
    // the view saw only the insert after its creation (no POPULATE)
    table(cat, "github_stars") shouldBe starsOf(second)
  }

  test("two attached views over a measured insert both see the whole block") {
    val imp = new GitImporter(spark, tmpDir("wh"))
    val cat = imp.catalog
    val root = tmpDir("views")
    ChDdl.createTable(cat, starsDdl, s"$root/github_stars")
    ChDdl.createTable(cat, starsDdl.replace("github_stars", "github_pushes")
      .replace("stars", "pushes"), s"$root/github_pushes")
    ChDdl.createMaterializedView(cat, spark, starsMvDdl)
    ChDdl.createMaterializedView(cat, spark, starsMvDdl
      .replace("github_stars", "github_pushes").replace("stars", "pushes")
      .replace("WatchEvent", "PushEvent"))
    val evs = batch(400, 0) ++ batch(200, 400)
    GhEventsIngest.ingest(spark, cat, writeFixture(batchJson(evs.take(400), 0))) shouldBe 400
    GhEventsIngest.ingest(spark, cat, writeFixture(batchJson(evs.drop(400), 400))) shouldBe 200
    table(cat, "github_stars") shouldBe starsOf(evs)
    table(cat, "github_pushes") shouldBe
      starsOf(evs.collect { case ("PushEvent", r) => ("WatchEvent", r) })
    // each target took the block's measured size: one sorted file per insert
    cat.readRaw("github_stars").inputFiles should have size 2
    cat.readRaw("github_pushes").inputFiles should have size 2
  }

  test("a view that joins another table is not sized by the inserted block") {
    val imp = new GitImporter(spark, tmpDir("wh"))
    val cat = imp.catalog
    val root = tmpDir("views")
    ChDdl.createTable(cat,
      """CREATE TABLE owners (`repo_name` String, `owner` String)
        |ENGINE = MergeTree ORDER BY repo_name""".stripMargin, s"$root/owners")
    import spark.implicits._
    cat.append("owners", (0 until 17).map(i => (s"acme/r$i", s"o${i % 5}")).toDF("repo_name", "owner"))
    ChDdl.createTable(cat, starsDdl, s"$root/github_stars")
    ChDdl.createTable(cat, starsDdl.replace("github_stars", "owner_stars")
      .replace("repo_name", "owner"), s"$root/owner_stars")
    ChDdl.createMaterializedView(cat, spark, starsMvDdl)
    ChDdl.createMaterializedView(cat, spark,
      """CREATE MATERIALIZED VIEW owner_stars_mv TO owner_stars AS
        |SELECT o.owner AS owner, count() AS stars
        |FROM github_events JOIN owners o ON github_events.repo_name = o.repo_name
        |WHERE event_type = 'WatchEvent'
        |GROUP BY o.owner""".stripMargin)
    val evs = batch(300, 0)
    GhEventsIngest.ingest(spark, cat, writeFixture(batchJson(evs, 0))) shouldBe 300
    val byOwner = starsOf(evs).toSeq
      .groupBy { case (r, _) => s"o${r.stripPrefix("acme/r").toInt % 5}" }
      .map { case (o, rs) => o -> rs.map(_._2).sum }
    table(cat, "owner_stars") shouldBe byOwner
    table(cat, "github_stars") shouldBe starsOf(evs)
    // the block-only view's target is one sorted file; the join's output
    // keeps the unmeasured range layout
    cat.readRaw("github_stars").inputFiles should have size 1
    cat.readRaw("owner_stars").inputFiles.length should be > 1
  }

  test("compact() preserves github_events under Append semantics") {
    val imp = new GitImporter(spark, tmpDir("wh"))
    val f1 = writeFixture(Seq(
      eventJson("WatchEvent", "acme/a", "2024-03-01 10:00:00", action = "started")))
    val f2 = writeFixture(Seq(
      eventJson("ForkEvent", "acme/b", "2024-03-01 11:00:00")))
    GhEventsIngest.ingest(spark, imp.catalog, f1)
    GhEventsIngest.ingest(spark, imp.catalog, f2)
    val before = imp.catalog.read("github_events")
      .orderBy("event_type", "repo_name", "created_at").collect()
    imp.catalog.compact("github_events")
    imp.catalog.read("github_events")
      .orderBy("event_type", "repo_name", "created_at").collect() shouldBe before
  }
}
