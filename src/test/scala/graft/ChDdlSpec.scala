package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog.{Append, Catalog, ReplacingDedup, Summing, TableDef}
import graft.schema.{ChType, GhEventsSchema, GitSchemas}
import graft.sql.{ChDdl, ChDdlRender, GraftSql}

/** The DDL entry point proved against the reference's OWN statements:
  * every `CREATE TABLE` the reference runs (types.json `schema` strings,
  * create_db.py github_events + KeeperMap queues) must parse to exactly
  * the hand-built schema/semantics this repo has carried since round 1 —
  * so the parser and the transcribed schemas can never drift apart.
  */
class ChDdlSpec extends SparkSpecBase {

  private lazy val typesJson: Map[String, String] = {
    import org.json4s.jackson.JsonMethods
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/types.json")), "UTF-8")
    (JsonMethods.parse(txt) \ "types") match {
      case org.json4s.JArray(xs) => xs.map { t =>
        val org.json4s.JString(n) = t \ "name"
        val org.json4s.JString(s) = t \ "schema"
        n -> s
      }.toMap
      case other => fail(s"types.json malformed: $other")
    }
  }

  private lazy val ghEventsDdl: String = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/create_db.py")), "UTF-8")
    val start = txt.indexOf("CREATE TABLE git.github_events")
    start should be >= 0
    txt.substring(start, txt.indexOf("\"\"\"", start))
  }

  test("the reference's git.commits DDL parses to the hand-built schema") {
    val ChDdl.CreateTable(t, _) =
      ChDdl.parse(typesJson("commits"), "/tmp/x")
    t.name shouldBe "commits"
    // 13 TSV columns + repo_name + the materialized updated_at
    val expected = ChType.structType(GitSchemas.commits).fields.toSeq
      .map(f => (f.name, f.dataType))
    t.schema.fields.take(13).toSeq.map(f => (f.name, f.dataType)) shouldBe expected
    t.schema.fieldNames.drop(13).toSeq shouldBe Seq("repo_name", "updated_at")
    t.sortKeys shouldBe GitSchemas.commitsSortKey
    // no version argument in the DDL: resolves to the reference's own
    // `updated_at MATERIALIZED now()` idiom
    t.semantics shouldBe ReplacingDedup(GitSchemas.commitsSortKey, "updated_at", None)
    t.materializedCols shouldBe Seq("updated_at" -> "current_timestamp()")
    // LowCardinality columns surface as parquet dictionary declarations
    t.columnCodecs should contain ("author" -> "lowcardinality")
    t.columnCodecs should contain ("repo_name" -> "lowcardinality")
  }

  test("the reference's git.file_changes DDL parses: enum constraint + 24 columns") {
    val ChDdl.CreateTable(t, _) =
      ChDdl.parse(typesJson("file_changes"), "/tmp/x")
    t.schema.fields.length shouldBe 24 // 22 TSV + repo_name + updated_at
    t.schema("change_type").dataType shouldBe StringType
    // the Enum8 declaration became an insert-time CHECK constraint
    val enumCon = t.constraints.find(_._1 == "change_type_enum")
    enumCon.isDefined shouldBe true
    enumCon.get._2 should include ("'Add'")
    enumCon.get._2 should include ("'Type'")
    t.semantics match {
      case ReplacingDedup(keys, ver, None) =>
        keys shouldBe Seq("repo_name", "time", "commit_hash", "path")
        ver shouldBe "updated_at"
      case other => fail(s"unexpected semantics $other")
    }
  }

  test("the reference's 54-column github_events DDL parses to GhEventsSchema") {
    val ChDdl.CreateTable(t, warnings) = ChDdl.parse(ghEventsDdl, "/tmp/x")
    val expected = ChType.structType(GhEventsSchema.columns).fields.toSeq
      .map(f => (f.name, f.dataType))
    t.schema.fields.toSeq.map(f => (f.name, f.dataType)) shouldBe expected
    t.sortKeys shouldBe GhEventsSchema.sortKey
    t.semantics shouldBe Append
    // 7 Enum8 columns → 7 automatic enum CHECK constraints
    t.constraints.count(_._1.endsWith("_enum")) shouldBe 7
    // SETTINGS index_granularity parsed and ignored, loudly
    warnings.exists(_.startsWith("SETTINGS")) shouldBe true
  }

  test("KeeperMap DDL parses to a queue declaration, refused by the catalog") {
    val ddl =
      """CREATE TABLE git_queue.tasks (
        |  `repo_name` String,
        |  `scheduled` DateTime,
        |  `priority` Int32,
        |  `worker_id` String,
        |  `started_time` DateTime,
        |) ENGINE = KeeperMap('git_queue') PRIMARY KEY repo_name""".stripMargin
    ChDdl.parse(ddl, "/tmp/x") shouldBe
      ChDdl.CreateQueue("tasks", "repo_name", "git_queue")
    an[IllegalArgumentException] should be thrownBy
      ChDdl.createTable(new Catalog(spark), ddl, "/tmp/x")
  }

  test("clause mapping: PARTITION BY toYYYYMM, SAMPLE BY, skip indexes, Summing") {
    val ChDdl.CreateTable(t, _) = ChDdl.parse(
      """CREATE TABLE m (
        |  `k` UInt64,
        |  `d` Date,
        |  `seg` LowCardinality(String),
        |  `v` Float64,
        |  INDEX bl k TYPE bloom_filter GRANULARITY 4,
        |  INDEX mm v TYPE minmax,
        |  INDEX st seg TYPE set(8),
        |  INDEX tk seg TYPE tokenbf_v1(1024, 3, 0)
        |) ENGINE = SummingMergeTree
        |PARTITION BY toYYYYMM(d)
        |ORDER BY (seg, k)
        |SAMPLE BY k""".stripMargin, "/tmp/x")
    t.partitionKeys shouldBe Seq("p_yyyymm_d")
    t.materializedCols.map(_._1) should contain ("p_yyyymm_d")
    t.schema.fieldNames should contain (Catalog.SampleCol) // SAMPLE BY applied
    t.indexCols shouldBe Seq("k")
    t.minmaxCols shouldBe Seq("v", Catalog.SampleCol)
    t.setIndexCols shouldBe Seq("seg" -> 8)
    t.tokenIndexCols shouldBe Seq("seg")
    t.semantics match {
      case Summing(keys, cols) =>
        keys shouldBe Seq("seg", "k")
        // CH default: every numeric non-key column sums (the materialized
        // partition ordinal and sample bucket are derived, not measures —
        // they land in the sum set under the plain numeric rule, which is
        // why real Summing DDL names its columns; here v is among them)
        cols should contain ("v")
      case other => fail(s"unexpected semantics $other")
    }
  }

  test("refusals: unsupported engines and types fail loudly") {
    def ddl(engine: String) =
      s"CREATE TABLE t (`k` UInt64, `s` Int8, `v` UInt64) ENGINE = $engine ORDER BY k"
    an[IllegalArgumentException] should be thrownBy
      ChDdl.parse(ddl("AggregatingMergeTree"), "/tmp/x")
    an[IllegalArgumentException] should be thrownBy
      ChDdl.parse(ddl("CollapsingMergeTree(s)"), "/tmp/x")
    an[IllegalArgumentException] should be thrownBy
      ChDdl.parse(ddl("GraphiteMergeTree"), "/tmp/x")
    an[IllegalArgumentException] should be thrownBy
      ChDdl.parse("CREATE TABLE t (`x` Map(String, String)) ENGINE = MergeTree ORDER BY tuple()", "/tmp/x")
    an[IllegalArgumentException] should be thrownBy // no version, no updated_at
      ChDdl.parse("CREATE TABLE t (`k` UInt64) ENGINE = ReplacingMergeTree ORDER BY k", "/tmp/x")
    an[IllegalArgumentException] should be thrownBy // pk not a sort prefix
      ChDdl.parse("CREATE TABLE t (`a` UInt64, `b` UInt64) ENGINE = MergeTree ORDER BY a PRIMARY KEY b", "/tmp/x")
  }

  test("the reference's full MV pipeline runs from DDL text alone") {
    // Every statement here is the reference's own dialect: the 54-column
    // github_events CREATE TABLE (create_db.py:69-128), the github_stars
    // SummingMergeTree table and the github_stars_mv statement
    // (README.md:247-262), and the backfill INSERT (README.md:263-266).
    import org.apache.spark.sql.Row
    val cat = new Catalog(spark)
    val dir = tmpDir("chddl-mv")
    val ev = ChDdl.createTable(cat, ghEventsDdl, s"$dir/github_events")
    ChDdl.createTable(cat,
      """CREATE TABLE github_stars (
        |    `repo_name` LowCardinality(String),
        |    `stars`     UInt64
        |) ENGINE = SummingMergeTree
        |ORDER BY repo_name""".stripMargin, s"$dir/github_stars")
    ChDdl.createMaterializedView(cat, spark,
      """CREATE MATERIALIZED VIEW github_stars_mv TO github_stars AS
        |SELECT repo_name,
        |       count() AS stars
        |FROM github_events
        |WHERE event_type = 'WatchEvent'
        |GROUP BY repo_name""".stripMargin)
    // a 54-column batch: NULL everywhere except the columns under test
    // (the Enum8 CHECK constraints pass NULL — SQL semantics)
    def event(tpe: String, repo: String): Row =
      Row.fromSeq(ev.schema.fields.toSeq.map { f =>
        f.name match {
          case "event_type" => tpe
          case "repo_name" => repo
          case _ => null
        }
      })
    def append(rows: Row*): Unit =
      cat.append("github_events", spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), ev.schema))
    append(event("WatchEvent", "a"), event("WatchEvent", "a"),
      event("WatchEvent", "b"), event("PushEvent", "a"))
    append(event("WatchEvent", "a"), event("PushEvent", "c"))
    // the insert-trigger MV folded each batch through the select; the
    // Summing target merged the partials: a = 2 + 1, b = 1
    val stars = cat.read("github_stars").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    stars shouldBe Map("a" -> 3L, "b" -> 1L)
    // backfill shape: one pass over current contents into a fresh target
    ChDdl.createTable(cat,
      """CREATE TABLE github_stars_bf (
        |    `repo_name` LowCardinality(String),
        |    `stars`     UInt64
        |) ENGINE = SummingMergeTree ORDER BY repo_name""".stripMargin,
      s"$dir/github_stars_bf")
    ChDdl.insertSelect(cat, spark,
      """INSERT INTO github_stars_bf
        |SELECT repo_name, countIf(event_type = 'WatchEvent') AS stars
        |FROM github_events GROUP BY repo_name""".stripMargin)
    val bf = cat.read("github_stars_bf").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bf shouldBe Map("a" -> 3L, "b" -> 1L, "c" -> 0L)
  }

  test("ALTER/OPTIMIZE/TRUNCATE statement classes parse to their commands") {
    ChDdl.parse("ALTER TABLE t ADD COLUMN IF NOT EXISTS band String DEFAULT 'std'", "") shouldBe
      ChDdl.AlterTable("t", Seq(ChDdl.AddColumnCmd(
        StructField("band", StringType, nullable = true), Some("'std'"))))
    ChDdl.parse("ALTER TABLE db.t DROP COLUMN `c`", "") shouldBe
      ChDdl.AlterTable("t", Seq(ChDdl.DropColumnCmd("c")))
    ChDdl.parse("ALTER TABLE t RENAME COLUMN a TO b", "") shouldBe
      ChDdl.AlterTable("t", Seq(ChDdl.RenameColumnCmd("a", "b")))
    ChDdl.parse("ALTER TABLE t MODIFY COLUMN n Int64", "") shouldBe
      ChDdl.AlterTable("t", Seq(ChDdl.ModifyColumnCmd("n", LongType)))
    ChDdl.parse("ALTER TABLE t DELETE WHERE x = 'gone'", "") shouldBe
      ChDdl.AlterTable("t", Seq(ChDdl.DeleteCmd("x = 'gone'")))
    // UPDATE keeps its assignment-list commas; the WHERE splits top-level
    ChDdl.parse("ALTER TABLE t UPDATE a = a + 1, b = 'x,y' WHERE k IN (1, 2)", "") shouldBe
      ChDdl.AlterTable("t", Seq(ChDdl.UpdateCmd(
        Seq("a" -> "a + 1", "b" -> "'x,y'"), "k IN (1, 2)")))
    ChDdl.parse("ALTER TABLE t DROP PARTITION 'P'", "") shouldBe
      ChDdl.AlterTable("t", Seq(ChDdl.DropPartitionCmd("P")))
    ChDdl.parse("ALTER TABLE t DETACH PARTITION 202405", "") shouldBe
      ChDdl.AlterTable("t", Seq(ChDdl.DetachPartitionCmd("202405")))
    ChDdl.parse("ALTER TABLE t ATTACH PARTITION 202405", "") shouldBe
      ChDdl.AlterTable("t", Seq(ChDdl.AttachPartitionCmd("202405")))
    ChDdl.parse("ALTER TABLE t FREEZE WITH NAME 'snap1'", "") shouldBe
      ChDdl.AlterTable("t", Seq(ChDdl.FreezeCmd("snap1")))
    // the CH comma-joined command list splits ONLY at command keywords
    ChDdl.parse("ALTER TABLE t ADD COLUMN x String, DROP COLUMN y, RENAME COLUMN a TO b", "") shouldBe
      ChDdl.AlterTable("t", Seq(
        ChDdl.AddColumnCmd(StructField("x", StringType, nullable = true), None),
        ChDdl.DropColumnCmd("y"), ChDdl.RenameColumnCmd("a", "b")))
    ChDdl.parse("OPTIMIZE TABLE t FINAL", "") shouldBe
      ChDdl.OptimizeTable("t", dedup = false, Nil)
    ChDdl.parse("OPTIMIZE TABLE t FINAL DEDUPLICATE BY k, v", "") shouldBe
      ChDdl.OptimizeTable("t", dedup = true, Seq("k", "v"))
    ChDdl.parse("TRUNCATE TABLE IF EXISTS t", "") shouldBe
      ChDdl.TruncateTable("t")
    // the INDEX verbs parse to their commands (X121)
    ChDdl.parse("ALTER TABLE t ADD INDEX i c TYPE minmax", "") shouldBe
      ChDdl.AlterTable("t", Seq(ChDdl.AddIndexCmd("i", "c", "minmax", Nil)))
    ChDdl.parse("ALTER TABLE t DROP INDEX IF EXISTS mm_c", "") shouldBe
      ChDdl.AlterTable("t", Seq(ChDdl.DropIndexCmd("mm_c", ifExists = true)))
    ChDdl.parse("ALTER TABLE t MATERIALIZE INDEX mm_c", "") shouldBe
      ChDdl.AlterTable("t", Seq(ChDdl.MaterializeIndexCmd("mm_c")))
    // unsupported verbs refuse loudly, never silently no-op
    an[IllegalArgumentException] should be thrownBy
      ChDdl.parse("ALTER TABLE t COMMENT COLUMN c 'hi'", "")
    an[IllegalArgumentException] should be thrownBy
      ChDdl.parse("ALTER TABLE t UPDATE a = 1", "") // mutations need WHERE
    an[IllegalArgumentException] should be thrownBy
      ChDdl.parse("ALTER TABLE t ADD COLUMN c DateTime MATERIALIZED now()", "")
  }

  test("runScript drives DETACH/ATTACH PARTITION and TRUNCATE as text") {
    val cat = new Catalog(spark)
    val dir = tmpDir("chddl-ops")
    import spark.implicits._
    ChDdl.runScript(cat, spark,
      """CREATE TABLE pt (
        |  `k` UInt64, `seg` String, `v` UInt64
        |) ENGINE = MergeTree ORDER BY k PARTITION BY seg""".stripMargin, dir)
    cat.append("pt", Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L))
      .toDF("k", "seg", "v"))
    ChDdl.execute(cat, spark, "ALTER TABLE pt DETACH PARTITION 'a'")
    cat.read("pt").count() shouldBe 1
    ChDdl.execute(cat, spark, "ALTER TABLE pt ATTACH PARTITION 'a'")
    cat.read("pt").count() shouldBe 3
    ChDdl.execute(cat, spark, "TRUNCATE TABLE pt")
    cat.read("pt").count() shouldBe 0
    // the definition survived the truncate (CH semantics)
    cat.append("pt", Seq((9L, "c", 90L)).toDF("k", "seg", "v"))
    cat.read("pt").count() shouldBe 1
  }

  test("INSERT INTO … VALUES runs as text: typed tuples, partial columns, refusals") {
    val cat = new Catalog(spark)
    val dir = tmpDir("chddl-insval")
    ChDdl.runScript(cat, spark,
      """CREATE TABLE iv (
        |  `k` UInt64,
        |  `name` String,
        |  `v` Float64,
        |  `tag` String,
        |  `k2` UInt64 MATERIALIZED k * 2
        |) ENGINE = MergeTree ORDER BY k;
        |INSERT INTO iv (k, name, v) VALUES
        |  (1, 'a', 1.5), (2, 'it''s', 2.5);
        |INSERT INTO iv (k, name, v, tag) VALUES (3, 'c', 3.5, 'x')"""
        .stripMargin, dir)
    val rows = cat.read("iv").orderBy("k").collect()
    rows.map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 3L)
    rows.map(_.getString(1)).toSeq shouldBe Seq("a", "it's", "c")
    // omitted column took the CH TYPE default (''); materialized computed
    rows.map(_.getAs[String]("tag")).toSeq shouldBe Seq("", "", "x")
    rows.map(_.getAs[Long]("k2")).toSeq shouldBe Seq(2L, 4L, 6L)
    // supplying a MATERIALIZED column is refused, same as every insert door
    intercept[IllegalArgumentException] {
      ChDdl.execute(cat, spark, "INSERT INTO iv (k, name, v, k2) VALUES (9, 'z', 0.0, 99)")
    }
    // unknown column is refused
    intercept[IllegalArgumentException] {
      ChDdl.execute(cat, spark, "INSERT INTO iv (nope) VALUES (1)")
    }
  }

  test("AggregatingMergeTree parses from AggregateFunction column types") {
    import graft.catalog.Aggregating
    val ChDdl.CreateTable(t, _) = ChDdl.parse(
      """CREATE TABLE ag (
        |  `k` String,
        |  `u` AggregateFunction(uniq, String),
        |  `q` AggregateFunction(quantile(0.5), Float64),
        |  `a` AggregateFunction(avg, UInt64),
        |  `tk` AggregateFunction(topK(16), String),
        |  `am` AggregateFunction(argMax, String, Float64),
        |  `mx` AggregateFunction(max, DateTime)
        |) ENGINE = AggregatingMergeTree ORDER BY k""".stripMargin, "/tmp/ag")
    t.semantics shouldBe Aggregating(Seq("k"),
      Seq("u", "q", "a", "tk", "am", "mx"),
      Map("u" -> "hll", "q" -> "kll", "a" -> "avg", "tk" -> "topk:16",
        "am" -> "argmax", "mx" -> "max"))
    // storage shapes are the engine's merge representations
    import org.apache.spark.sql.types._
    t.schema("u").dataType shouldBe BinaryType
    t.schema("tk").dataType shouldBe MapType(StringType, LongType)
    t.schema("a").dataType shouldBe StructType(Seq(
      StructField("sum", LongType), StructField("cnt", LongType)))
    t.schema("am").dataType shouldBe StructType(Seq(
      StructField("value", DoubleType), StructField("arg", StringType)))
    // SHOW CREATE renders the declared spelling back and re-parses equal
    val rendered = graft.sql.ChDdlRender.render(t)
    rendered should include("AggregateFunction(topK(16), String)")
    val ChDdl.CreateTable(t2, _) = ChDdl.parse(rendered, "/tmp/ag")
    t2 shouldBe t
    // a plain non-key column would be LOST in the merge — refused
    val e = the[IllegalArgumentException] thrownBy ChDdl.parse(
      """CREATE TABLE bad (
        |  `k` String, `plain` UInt64,
        |  `u` AggregateFunction(uniq, String)
        |) ENGINE = AggregatingMergeTree ORDER BY k""".stripMargin, "/tmp/bad")
    e.getMessage should include("plain")
    // wrapper types on the topK argument are common CH spellings for
    // low-cardinality keys — accepted by unwrapping to the stored String
    ChDdl.parseType("AggregateFunction(topK(10), LowCardinality(String))")
      .asInstanceOf[graft.schema.ChType.ChAggState].kind shouldBe "topk:10"
    ChDdl.parseType("AggregateFunction(topK, Nullable(String))")
      .asInstanceOf[graft.schema.ChType.ChAggState].kind shouldBe "topk:10"
    // unsupported state kinds fail loudly
    intercept[IllegalArgumentException] {
      ChDdl.parseType("AggregateFunction(corr, Float64, Float64)")
    }
  }

  test("DELETE FROM (lightweight) runs as text, distinct from ALTER DELETE") {
    val cat = new Catalog(spark)
    val dir = tmpDir("chddl-lwdel")
    import spark.implicits._
    ChDdl.runScript(cat, spark,
      """CREATE TABLE lw (
        |  `k` UInt64, `v` UInt64
        |) ENGINE = MergeTree ORDER BY k""".stripMargin, dir)
    cat.append("lw", (1L to 10L).map(i => (i, i * 10)).toDF("k", "v"))
    ChDdl.execute(cat, spark, "DELETE FROM lw WHERE modulo(k, 2) = 0")
    cat.read("lw").count() shouldBe 5
    // the data files are untouched (deletion vectors, not a rewrite):
    // a compact folds the mask into storage
    cat.read("lw").agg(org.apache.spark.sql.functions.sum("v"))
      .head().getLong(0) shouldBe (1L + 3 + 5 + 7 + 9) * 10
  }

  test("GRANT SELECT(cols) and CREATE ROW POLICY run as text") {
    import org.apache.spark.sql.functions.col
    val cat = new Catalog(spark)
    val dir = tmpDir("chddl-acl")
    import spark.implicits._
    ChDdl.runScript(cat, spark,
      """CREATE TABLE acl (
        |  `k` UInt64, `region` String, `sal` Float64
        |) ENGINE = MergeTree ORDER BY k""".stripMargin, dir)
    cat.append("acl", Seq((1L, "eu", 10.0), (2L, "us", 20.0), (3L, "eu", 30.0))
      .toDF("k", "region", "sal"))
    ChDdl.execute(cat, spark,
      "CREATE ROW POLICY eu_only ON acl FOR SELECT USING region = 'eu' TO bob")
    ChDdl.execute(cat, spark, "GRANT SELECT(k, region) ON acl TO bob")
    val bob = cat.readAs("acl", "bob")
    bob.count() shouldBe 2 // row policy filtered
    // ungranted column masked (column policy)
    bob.select(col("sal")).collect().foreach(r => r.isNullAt(0) shouldBe true)
    bob.select(col("k")).collect().map(_.getLong(0)).sorted shouldBe Array(1L, 3L)
    // malformed predicate refused at CREATE, not at read
    intercept[IllegalArgumentException] {
      ChDdl.execute(cat, spark,
        "CREATE ROW POLICY bad ON acl USING nope_col = 1 TO alice")
    }
  }

  test("ADVICE regressions: '_' identifiers, backticked ttl, Decimal widths") {
    // identifiers with embedded keyword prefixes must not mis-split into
    // bogus SETTINGS/TTL/COMMENT/DEFAULT clauses ('_' is a word char)
    val ChDdl.CreateTable(t, warnings) = ChDdl.parse(
      """CREATE TABLE w (
        |  `settings_hash` UInt64,
        |  `ttl_days` UInt32,
        |  `comment_type` String,
        |  `my_default` UInt64 MATERIALIZED settings_hash + my_default_base,
        |  `my_default_base` UInt64
        |) ENGINE = MergeTree
        |ORDER BY (settings_hash, ttl_days, comment_type)""".stripMargin, "/tmp/x")
    t.sortKeys shouldBe Seq("settings_hash", "ttl_days", "comment_type")
    t.materializedCols.map(_._1) shouldBe Seq("my_default")
    warnings shouldBe empty
    // a backtick-quoted column named after a clause keyword stays a column
    val ChDdl.CreateTable(t2, w2) = ChDdl.parse(
      "CREATE TABLE w2 (`k` UInt64, `ttl` UInt32) ENGINE = MergeTree ORDER BY (k, `ttl`)",
      "/tmp/x")
    t2.sortKeys shouldBe Seq("k", "ttl")
    w2 shouldBe empty
    // fixed-precision Decimal widths (CH table: 9/18/38 digits)
    ChDdl.parseType("Decimal32(2)") shouldBe ChType.ChDecimal(9, 2)
    ChDdl.parseType("Decimal64(4)") shouldBe ChType.ChDecimal(18, 4)
    ChDdl.parseType("Decimal128(6)") shouldBe ChType.ChDecimal(38, 6)
    val e = the[IllegalArgumentException] thrownBy ChDdl.parseType("Decimal(10)")
    e.getMessage should include ("Decimal32/64/128")
  }

  test("property: parse∘render∘parse == parse across the DDL algebra") {
    // randomized CREATE TABLE statements over the whole representable
    // algebra (fixed seed — deterministic): every def the parser can
    // produce must survive the SHOW CREATE round trip unchanged. This is
    // the cheapest regression net over the parser AND renderer at once:
    // a drift in either side breaks the identity.
    import graft.sql.ChDdlRender
    val rnd = new scala.util.Random(7)
    val scalarTypes = Seq("String", "FixedString(16)", "UInt8", "UInt16",
      "UInt32", "UInt64", "Int8", "Int16", "Int32", "Int64", "Float32",
      "Float64", "Bool", "Date", "DateTime", "Decimal(12, 3)",
      "Decimal64(4)", "Enum8('a' = 1, 'b' = 2)", "LowCardinality(String)",
      "Nullable(Int32)", "Array(UInt32)", "LowCardinality(FixedString(8))",
      "Enum16('lo' = 1, 'hi' = 400)", "JSON")
    (1 to 80).foreach { i =>
      val extraCols = (0 until rnd.nextInt(4)).map(j =>
        s"  `c_${j}_ttl_x` ${scalarTypes(rnd.nextInt(scalarTypes.length))}")
      val mergeFamily = rnd.nextInt(5) // 0-4 merge-tree family, 5-6 other
      val engine = rnd.nextInt(7) match {
        case 0 | 1 => "MergeTree"
        case 2 => "ReplacingMergeTree(ver_ts)"
        case 3 => "ReplacingMergeTree(ver_ts, sign_c)"
        case 4 => "SummingMergeTree((x_sum))"
        case 5 => "VersionedCollapsingMergeTree(sign_c, ver_ts)"
        case _ => if (rnd.nextBoolean()) "Null" else "Join(ANY, LEFT, k_id)"
      }
      val isMergeTree = !engine.startsWith("Null") && !engine.startsWith("Join")
      val orderBy =
        if (!isMergeTree) Nil
        else Seq("ORDER BY " +
          (if (rnd.nextBoolean()) "k_id" else "(seg, k_id)"))
      val partition = if (isMergeTree) rnd.nextInt(3) match {
        case 0 => Seq("PARTITION BY toYYYYMM(d_day)")
        case 1 => Seq("PARTITION BY seg")
        case _ => Nil
      } else Nil
      val sample =
        if (isMergeTree && rnd.nextBoolean() && partition != Seq("PARTITION BY seg"))
          Seq("SAMPLE BY k_id")
        else Nil
      // declared TTL (both legs) must survive the round trip
      val ttlClause =
        if (isMergeTree && rnd.nextBoolean())
          Seq(if (rnd.nextBoolean()) "TTL ver_ts + INTERVAL 30 DAY"
          else "TTL ver_ts + INTERVAL 7 DAY GROUP BY seg SET x_sum = sum(x_sum)")
        else Nil
      val decorations = Seq(
        "  CONSTRAINT x_pos CHECK x_sum >= 0",
        "  INDEX bf_seg seg TYPE bloom_filter GRANULARITY 1",
        "  INDEX mm_x x_sum TYPE minmax GRANULARITY 1",
        "  INDEX set_seg seg TYPE set(8) GRANULARITY 1",
        "  INDEX tok_seg seg TYPE tokenbf_v1 GRANULARITY 1",
        "  INDEX ft_seg seg TYPE full_text(512) GRANULARITY 1",
        "  INDEX ann_v_emb v_emb TYPE vector_similarity(16, 8, 16) GRANULARITY 1"
      ).filter(_ => rnd.nextBoolean()) ++
        // PROJECTION declarations parse only where the catalog accepts
        // them (plain MergeTree) — the round-trip must carry both forms
        (if (engine == "MergeTree" && rnd.nextBoolean())
          Seq("  PROJECTION p_agg (SELECT seg, count(), sum(x_sum) GROUP BY seg)",
            "  PROJECTION p_ord (SELECT * ORDER BY x_sum)")
        else Nil)
      val matCol =
        if (rnd.nextBoolean()) Seq("  `m_sum` UInt64 MATERIALIZED x_sum + 1")
        else Nil
      // CREATE-time DEFAULT columns ride field metadata — the round trip
      // must carry both the literal and the column-referencing flavor
      val defCol =
        if (rnd.nextBoolean()) Seq("  `d_band` String DEFAULT 'std'",
          "  `d_fee` Float64 DEFAULT x_sum * 0.5")
        else Nil
      val codec = if (rnd.nextBoolean()) " CODEC(Delta)" else ""
      val body = (Seq(
        "  `k_id` UInt64",
        "  `seg` LowCardinality(String)",
        "  `d_day` Date",
        "  `ver_ts` DateTime",
        "  `sign_c` Int8",
        "  `v_emb` Array(Float32)",
        s"  `x_sum` UInt32$codec") ++ extraCols ++ matCol ++ defCol ++
        decorations).mkString(",\n")
      val ddl = (Seq(s"CREATE TABLE rt_$i (\n$body\n)", s"ENGINE = $engine") ++
        orderBy ++ partition ++ sample ++ ttlClause).mkString("\n")
      withClue(s"ddl #$i:\n$ddl\n") {
        val ChDdl.CreateTable(d1, _) = ChDdl.parse(ddl, "/tmp/rt")
        val rendered = ChDdlRender.render(d1)
        withClue(s"rendered:\n$rendered\n") {
          val ChDdl.CreateTable(d2, w2) = ChDdl.parse(rendered, "/tmp/rt")
          d2 shouldBe d1
          w2 shouldBe empty
          // and the renderer is a fixpoint: render(parse(render)) == render
          ChDdlRender.render(d2) shouldBe rendered
        }
      }
      val _ = mergeFamily
    }
  }

  test("CREATE-time DEFAULT columns: insert fill, supplied wins, attach, refusals") {
    import spark.implicits._
    val cat = new Catalog(spark)
    val dir = tmpDir("chdefault")
    val t = ChDdl.createTable(cat,
      """CREATE TABLE dt (
        |  `k` UInt64,
        |  `v` Float64,
        |  `band` String DEFAULT 'std',
        |  `fee` Float64 DEFAULT v * 2
        |) ENGINE = MergeTree ORDER BY k""".stripMargin, s"$dir/dt")
    // an append omitting the defaulted columns fills them (literal +
    // per-row column-referencing expression)
    cat.append("dt", Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
    // the text-insert door: declared default beats the type default, and
    // a SUPPLIED value beats the default
    ChDdl.execute(cat, spark,
      "INSERT INTO dt (k, v, band) VALUES (3, 30.0, 'vip')")
    val rows = cat.read("dt").orderBy(col("k")).collect()
    rows.map(_.getAs[String]("band")).toSeq shouldBe Seq("std", "std", "vip")
    rows.map(_.getAs[Double]("fee")).toSeq shouldBe Seq(20.0, 40.0, 60.0)
    // SHOW CREATE renders the DEFAULT clauses back; re-parse is identical
    val rendered = ChDdlRender.render(t)
    rendered should include("`band` String DEFAULT 'std'")
    rendered should include("`fee` Float64 DEFAULT v * 2")
    val ChDdl.CreateTable(t2, _) = ChDdl.parse(rendered, s"$dir/dt")
    t2 shouldBe t
    // DESCRIBE lists the default kind + expression
    ChDdlRender.describe(t).find(_._1 == "band").get shouldBe
      (("band", "String", "DEFAULT", "'std'"))
    // the `_TABLE` sidecar carries the defaults: a fresh catalog attaches
    // and keeps filling
    val cat2 = new Catalog(spark)
    cat2.attach(s"$dir/dt")
    cat2.append("dt", Seq((9L, 90.0)).toDF("k", "v"))
    cat2.read("dt").filter(col("k") === 9L).head()
      .getAs[Double]("fee") shouldBe 180.0
    // MODIFY COLUMN … DEFAULT replaces the live declaration in place;
    // SHOW CREATE tracks it; REMOVE DEFAULT retires it (the next omitted
    // text insert takes the TYPE default)
    ChDdl.execute(cat, spark,
      "ALTER TABLE dt MODIFY COLUMN band DEFAULT 'eco'", dir)
    ChDdl.execute(cat, spark, "INSERT INTO dt (k, v) VALUES (4, 40.0)", dir)
    cat.read("dt").filter(col("k") === 4L).head()
      .getAs[String]("band") shouldBe "eco"
    ChDdlRender.render(cat.get("dt")) should include("`band` String DEFAULT 'eco'")
    ChDdl.execute(cat, spark,
      "ALTER TABLE dt MODIFY COLUMN band REMOVE DEFAULT", dir)
    ChDdl.execute(cat, spark, "INSERT INTO dt (k, v) VALUES (5, 50.0)", dir)
    cat.read("dt").filter(col("k") === 5L).head()
      .getAs[String]("band") shouldBe ""
    ChDdlRender.render(cat.get("dt")) should not include "band` String DEFAULT"
    // one mutation per command: type + default together is refused
    intercept[IllegalArgumentException] {
      ChDdl.execute(cat, spark,
        "ALTER TABLE dt MODIFY COLUMN band String DEFAULT 'x'", dir)
    }
    // refusals: DEFAULT+MATERIALIZED on one column; a default referencing
    // another DEFAULT column (order-dependent fill); non-resolving expr
    intercept[IllegalArgumentException] {
      ChDdl.parse("CREATE TABLE b1 (`k` UInt64, `x` String DEFAULT 'a' " +
        "MATERIALIZED upper(k)) ENGINE = MergeTree ORDER BY k", "/tmp/b1")
    }
    intercept[IllegalArgumentException] {
      ChDdl.createTable(cat, """CREATE TABLE b2 (
        |  `k` UInt64,
        |  `a` String DEFAULT 'x',
        |  `b` String DEFAULT concat(a, 'y')
        |) ENGINE = MergeTree ORDER BY k""".stripMargin, s"$dir/b2")
    }
    intercept[IllegalArgumentException] {
      ChDdl.createTable(cat, "CREATE TABLE b3 (`k` UInt64, " +
        "`x` Float64 DEFAULT no_such_col + 1) ENGINE = MergeTree ORDER BY k",
        s"$dir/b3")
    }
  }

  test("ALTER ADD COLUMN's DEFAULT is the column's declaration: shown, round-tripped, followed by old parts") {
    val cat = new Catalog(spark)
    val dir = tmpDir("chadddefault")
    ChDdl.createTable(cat,
      "CREATE TABLE p (`k` String, `v` Int32) ENGINE = MergeTree ORDER BY k",
      s"$dir/p")
    ChDdl.execute(cat, spark, "INSERT INTO p VALUES ('a', 1)", dir)
    ChDdl.execute(cat, spark, "ALTER TABLE p ADD COLUMN score Int64 DEFAULT 7", dir)
    ChDdl.execute(cat, spark, "ALTER TABLE p ADD COLUMN lvl Int32 DEFAULT 3", dir)
    ChDdl.execute(cat, spark, "ALTER TABLE p ADD COLUMN note String", dir)
    // DESCRIBE and SHOW CREATE show the ADD's default; none is DEFAULT NULL
    val described = ChDdlRender.describe(cat.get("p")).map(d => d._1 -> d).toMap
    described("score") shouldBe (("score", "Int64", "DEFAULT", "7"))
    described("note") shouldBe (("note", "String", "DEFAULT", "NULL"))
    val shown = ChDdl.query(cat, spark, "SHOW CREATE TABLE p").head().getString(0)
    shown should include("`score` Int64 DEFAULT 7")
    // a table re-created from SHOW CREATE keeps filling 7
    val cat2 = new Catalog(spark)
    ChDdl.createTable(cat2, shown, s"$dir/p2")
    ChDdl.execute(cat2, spark, "INSERT INTO p (k, v) VALUES ('z', 0)", dir)
    cat2.read("p").head().getAs[Long]("score") shouldBe 7L
    // rows written before the ADD read the CURRENT default (ClickHouse:
    // changing a default changes old data not stored on disk); rows an
    // insert filled keep the value stored then
    ChDdl.execute(cat, spark, "INSERT INTO p (k, v) VALUES ('b', 2)", dir)
    ChDdl.execute(cat, spark, "ALTER TABLE p MODIFY COLUMN score DEFAULT 9", dir)
    ChDdl.execute(cat, spark, "INSERT INTO p (k, v) VALUES ('c', 3)", dir)
    cat.read("p").orderBy("k").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("score")).toSeq shouldBe
      Seq("a" -> 9L, "b" -> 7L, "c" -> 9L)
    // a widening MODIFY casts the default once, to the new type
    ChDdl.execute(cat, spark, "ALTER TABLE p MODIFY COLUMN lvl Int64", dir)
    cat.get("p").defaults("lvl") shouldBe "CAST((3) AS BIGINT)"
    cat.read("p").filter(col("k") === "a").head().getAs[Long]("lvl") shouldBe 3L
  }

  test("CTAS: schema derives from the SELECT, engine keys validate, refusals") {
    import spark.implicits._
    val cat = new Catalog(spark)
    val dir = tmpDir("chctas")
    ChDdl.createTable(cat,
      """CREATE TABLE src (
        |  `k` UInt64, `seg` LowCardinality(String), `v` Float64
        |) ENGINE = MergeTree ORDER BY k""".stripMargin, s"$dir/src")
    cat.append("src",
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 5.0)).toDF("k", "seg", "v"))
    // CTAS: derived schema (seg String, n Int64, total Float64), engine
    // keys validated against it, table created AND loaded in one statement
    ChDdl.execute(cat, spark,
      """CREATE TABLE seg_sum ENGINE = SummingMergeTree((n, total))
        |ORDER BY seg AS
        |SELECT seg, count() AS n, sum(v) AS total
        |FROM src GROUP BY seg""".stripMargin, dir)
    val t = cat.get("seg_sum")
    t.schema.fieldNames.toSeq shouldBe Seq("seg", "n", "total")
    t.sortKeys shouldBe Seq("seg")
    val r1 = cat.read("seg_sum").orderBy(col("seg")).collect()
    r1.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq shouldBe
      Seq(("a", 2L, 30.0), ("b", 1L, 5.0))
    // a second partial block merges through the CTAS-declared engine
    ChDdl.execute(cat, spark,
      "INSERT INTO seg_sum SELECT seg, count() AS n, sum(v) AS total " +
        "FROM src GROUP BY seg", dir)
    val r2 = cat.read("seg_sum").orderBy(col("seg")).collect()
    r2.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq shouldBe
      Seq(("a", 4L, 60.0), ("b", 2L, 10.0))
    // a CTAS whose SELECT JOINs a SECOND catalog table: every referenced
    // table binds, not just the first FROM source
    ChDdl.createTable(cat,
      """CREATE TABLE seg_names (
        |  `seg` String, `label` String
        |) ENGINE = MergeTree ORDER BY seg""".stripMargin, s"$dir/seg_names")
    cat.append("seg_names",
      Seq(("a", "alpha"), ("b", "beta")).toDF("seg", "label"))
    ChDdl.execute(cat, spark,
      """CREATE TABLE seg_labeled ENGINE = MergeTree ORDER BY seg AS
        |SELECT src.seg AS seg, label, count() AS n
        |FROM src JOIN seg_names ON src.seg = seg_names.seg
        |GROUP BY src.seg, label""".stripMargin, dir)
    cat.read("seg_labeled").orderBy(col("seg")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq shouldBe
      Seq(("a", "alpha", 2L), ("b", "beta", 1L))
    // ...and the INSERT SELECT door joins the same way — here with an
    // explicit USER alias on the source (the substitution must not
    // stack a second alias on it)
    ChDdl.insertSelect(cat, spark,
      "INSERT INTO seg_labeled SELECT x.seg AS seg, label, count() AS n " +
        "FROM src x JOIN seg_names ON x.seg = seg_names.seg " +
        "GROUP BY x.seg, label")
    cat.read("seg_labeled").count() shouldBe 4L
    // ...and a BACKTICKED user alias is an alias too — the probe must
    // not re-alias the substituted view to the source name over it
    ChDdl.insertSelect(cat, spark,
      "INSERT INTO seg_labeled SELECT `x`.seg AS seg, label, count() AS n " +
        "FROM src `x` JOIN seg_names ON `x`.seg = seg_names.seg " +
        "GROUP BY `x`.seg, label")
    cat.read("seg_labeled").count() shouldBe 6L
    // refusal: an engine key that is not an output column of the SELECT —
    // and the failed CTAS registers nothing
    intercept[IllegalArgumentException] {
      ChDdl.execute(cat, spark,
        "CREATE TABLE bad1 ENGINE = MergeTree ORDER BY nope AS " +
          "SELECT seg FROM src", dir)
    }
    intercept[NoSuchElementException] { cat.get("bad1") }
    // refusal: explicit column list + AS SELECT
    intercept[IllegalArgumentException] {
      ChDdl.parse("CREATE TABLE bad2 (`a` UInt64) ENGINE = MergeTree " +
        "ORDER BY a AS SELECT 1 AS a FROM src", "/tmp/bad2")
    }
    // refusal: the parse-only entry point cannot run a CTAS
    intercept[IllegalArgumentException] {
      ChDdl.createTable(cat, "CREATE TABLE bad3 ENGINE = MergeTree " +
        "ORDER BY seg AS SELECT seg FROM src", s"$dir/bad3")
    }
  }

  test("TTL from DDL: declared, swept, modified, rolled up, round-tripped") {
    import spark.implicits._
    val cat = new Catalog(spark)
    val dir = tmpDir("chttl")
    val t = ChDdl.createTable(cat,
      """CREATE TABLE tt (
        |  `k` String,
        |  `bkt` Int64,
        |  `n` Int64
        |) ENGINE = MergeTree ORDER BY (k, bkt)
        |TTL bkt + INTERVAL 100 SECOND GROUP BY k SET n = sum(n)""".stripMargin,
      s"$dir/tt")
    t.ttl shouldBe Some(graft.catalog.TtlSpec("bkt", 100L, Seq("k"),
      Seq("n" -> "sum(n)")))
    cat.append("tt", Seq(("a", 10L, 1L), ("a", 20L, 2L), ("a", 500L, 4L),
      ("b", 30L, 8L)).toDF("k", "bkt", "n"))
    // sweep at now=400 → horizon 300: a's two old buckets roll to one row
    // (n summed, bkt = max of the rolled), the fresh bucket unscathed
    cat.materializeTtl("tt", 400L)
    val r = cat.read("tt").orderBy(col("k"), col("bkt")).collect()
    r.map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSeq shouldBe
      Seq(("a", 20L, 3L), ("a", 500L, 4L), ("b", 30L, 8L))
    // SHOW CREATE round-trips the spec (normalized SECONDs)
    val rendered = ChDdlRender.render(cat.get("tt"))
    rendered should include(
      "TTL bkt + INTERVAL 100 SECOND GROUP BY k SET n = sum(n)")
    val ChDdl.CreateTable(t2, _) = ChDdl.parse(rendered, s"$dir/tt")
    t2 shouldBe cat.get("tt")
    // the _TABLE sidecar carries the spec: a fresh catalog attaches it
    val cat2 = new Catalog(spark)
    cat2.attach(s"$dir/tt").ttl shouldBe Some(
      graft.catalog.TtlSpec("bkt", 100L, Seq("k"), Seq("n" -> "sum(n)")))
    // MODIFY TTL as text flips to a delete TTL; MATERIALIZE TTL (wall
    // clock — these epoch-seconds buckets are decades expired) deletes all
    ChDdl.runScript(cat, spark,
      """ALTER TABLE tt MODIFY TTL bkt + INTERVAL 1 SECOND;
        |ALTER TABLE tt MATERIALIZE TTL""".stripMargin, dir)
    cat.read("tt").count() shouldBe 0L
    ChDdl.runScript(cat, spark, "ALTER TABLE tt REMOVE TTL", dir)
    cat.get("tt").ttl shouldBe None
    intercept[IllegalArgumentException] {
      cat.materializeTtl("tt", 400L) // no TTL declared anymore
    }
    // calendar units fold to MONTHS (clamped arithmetic at sweep time —
    // the dedicated calendar-TTL test); unknown clock columns refuse
    ChDdl.parseTtlSpec("bkt + INTERVAL 1 MONTH") shouldBe
      graft.catalog.TtlSpec("bkt", 0L, Nil, Nil, Some(1L))
    ChDdl.parseTtlSpec("bkt + INTERVAL 2 QUARTER").calMonths shouldBe Some(6L)
    ChDdl.parseTtlSpec("bkt + INTERVAL 1 YEAR").calMonths shouldBe Some(12L)
    intercept[IllegalArgumentException] {
      ChDdl.parseTtlSpec("bkt + INTERVAL 1 FORTNIGHT")
    }
    intercept[IllegalArgumentException] {
      ChDdl.createTable(cat, "CREATE TABLE bd (`k` String, `v` Int64) " +
        "ENGINE = MergeTree ORDER BY k TTL nope + INTERVAL 1 DAY", s"$dir/bd")
    }
  }

  test("calendar TTL: MONTH declaration sweeps with clamped month arithmetic") {
    import spark.implicits._
    val cat = new Catalog(spark)
    val dir = tmpDir("chttlcal")
    ChDdl.createTable(cat,
      """CREATE TABLE tc (
        |  `k` String,
        |  `ts` DateTime
        |) ENGINE = MergeTree ORDER BY k
        |TTL ts + INTERVAL 1 MONTH""".stripMargin, s"$dir/tc")
    cat.append("tc", Seq(
      ("jan31", "2024-01-31 12:00:00"),
      ("feb29", "2024-02-29 11:59:59"),
      ("mar01", "2024-03-01 00:00:00"))
      .toDF("k", "s").select(col("k"), col("s").cast("timestamp").as("ts")))
    // now = 2024-03-29 12:00:00 UTC: jan31 + 1 month clamps to
    // feb29 12:00 (expired); feb29 + 1 month = mar29 11:59:59 (expired
    // by one second); mar01 + 1 month = apr01 (fresh)
    val now = java.time.Instant.parse("2024-03-29T12:00:00Z").getEpochSecond
    cat.materializeTtl("tc", now)
    cat.read("tc").collect().map(_.getString(0)) shouldBe Array("mar01")
    // SHOW CREATE keeps the CALENDAR spelling (never normalized to
    // seconds) and parse∘render∘parse is the identity; the sidecar
    // round-trips the month count
    val rendered = ChDdlRender.render(cat.get("tc"))
    rendered should include("TTL ts + INTERVAL 1 MONTH")
    val ChDdl.CreateTable(tc2, _) = ChDdl.parse(rendered, s"$dir/tc")
    tc2 shouldBe cat.get("tc")
    new Catalog(spark).attach(s"$dir/tc").ttl.flatMap(_.calMonths) shouldBe
      Some(1L)
    // MODIFY TTL to a YEAR spelling as text
    ChDdl.runScript(cat, spark,
      "ALTER TABLE tc MODIFY TTL ts + INTERVAL 1 YEAR", dir)
    cat.get("tc").ttl.flatMap(_.calMonths) shouldBe Some(12L)
    cat.materializeTtl("tc", now)
    cat.read("tc").count() shouldBe 1L
  }

  test("table-level DDL text: DROP/DETACH/ATTACH/RENAME TABLE") {
    import spark.implicits._
    val cat = new Catalog(spark)
    val dir = tmpDir("chtbl")
    ChDdl.runScript(cat, spark,
      "CREATE TABLE t1 (`k` UInt64, `v` Float64) ENGINE = MergeTree ORDER BY k",
      dir)
    cat.append("t1", Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    // DETACH keeps storage; ATTACH re-registers from the warehouse sidecar
    ChDdl.execute(cat, spark, "DETACH TABLE t1", dir)
    intercept[NoSuchElementException] { cat.get("t1") }
    ChDdl.execute(cat, spark, "ATTACH TABLE t1", dir)
    cat.read("t1").count() shouldBe 2L
    // RENAME re-registers under the new name; storage stays put and the
    // sidecar records the new name for later ATTACHes of the path —
    // and ACCESS CONTROL follows the name (a silently-dropped policy
    // would un-filter readAs under the new name)
    cat.createRowPolicy("t1", "only_small", Seq("alice"), "k <= 1")
    ChDdl.execute(cat, spark, "RENAME TABLE t1 TO t2", dir)
    intercept[NoSuchElementException] { cat.get("t1") }
    cat.read("t2").count() shouldBe 2L
    cat.readAs("t2", "alice").count() shouldBe 1L
    val cat2 = new Catalog(spark)
    cat2.attach(s"$dir/t1").name shouldBe "t2"
    // DROP deletes registration AND storage; IF EXISTS absorbs absence
    ChDdl.execute(cat, spark, "DROP TABLE t2", dir)
    new java.io.File(s"$dir/t1").exists() shouldBe false
    intercept[NoSuchElementException] {
      ChDdl.execute(cat, spark, "DROP TABLE t2", dir)
    }
    ChDdl.execute(cat, spark, "DROP TABLE IF EXISTS t2", dir)
  }

  test("EXCHANGE TABLES swaps registrations; CREATE/DROP VIEW bind session views") {
    import spark.implicits._
    val cat = new Catalog(spark)
    val dir = tmpDir("chxchg")
    ChDdl.runScript(cat, spark,
      """CREATE TABLE live (`k` UInt64, `v` Float64) ENGINE = MergeTree ORDER BY k;
        |CREATE TABLE staged (`k` UInt64, `v` Float64) ENGINE = MergeTree ORDER BY k
        |""".stripMargin, dir)
    cat.append("live", Seq((1L, 1.0)).toDF("k", "v"))
    cat.append("staged", Seq((2L, 2.0), (3L, 3.0)).toDF("k", "v"))
    // the zero-downtime swap idiom: rebuilt table in, old table out
    ChDdl.execute(cat, spark, "EXCHANGE TABLES live AND staged", dir)
    cat.read("live").count() shouldBe 2L
    cat.read("staged").count() shouldBe 1L
    // both sidecars re-persisted under the swapped names
    val cat2 = new Catalog(spark)
    cat2.attach(s"$dir/staged").name shouldBe "live"
    // a view over a catalog table: bound at CREATE, queryable in SQL
    ChDdl.execute(cat, spark,
      "CREATE VIEW big_rows AS SELECT k, v FROM live PREWHERE v >= 2",
      dir)
    spark.sql("SELECT count(*) FROM big_rows").head().getLong(0) shouldBe 2L
    ChDdl.execute(cat, spark, "DROP VIEW big_rows", dir)
    intercept[Exception] { spark.sql("SELECT * FROM big_rows").collect() }
    // dropping a missing view is an ERROR without IF EXISTS (CH
    // semantics — a runbook typo must not pass as a silent no-op)
    intercept[IllegalArgumentException] {
      ChDdl.execute(cat, spark, "DROP VIEW big_rows", dir)
    }.getMessage should include("no such view")
    ChDdl.execute(cat, spark, "DROP VIEW IF EXISTS big_rows", dir)
    intercept[IllegalArgumentException] {
      ChDdl.execute(cat, spark, "EXCHANGE TABLES live AND live", dir)
    }
  }

  test("INSERT FORMAT inline payloads and INTO OUTFILE exports") {
    val cat = new Catalog(spark)
    val dir = tmpDir("chfmt")
    ChDdl.createTable(cat,
      """CREATE TABLE ft (
        |  `k` UInt64, `name` String, `v` Float64
        |) ENGINE = MergeTree ORDER BY k""".stripMargin, s"$dir/ft")
    // TSVWithNames: header consumed, tab separation, typed parse
    ChDdl.execute(cat, spark,
      "INSERT INTO ft FORMAT TSVWithNames\nk\tname\tv\n7\tx y\t1.25", dir)
    val r = cat.read("ft").head()
    (r.getLong(0), r.getString(1), r.getDouble(2)) shouldBe ((7L, "x y", 1.25))
    // refusals: unknown format, empty payload
    intercept[IllegalArgumentException] {
      ChDdl.execute(cat, spark, "INSERT INTO ft FORMAT Native\nxx", dir)
    }
    intercept[IllegalArgumentException] {
      ChDdl.execute(cat, spark, "INSERT INTO ft FORMAT CSV\n  ", dir)
    }
    // OUTFILE: single file lands at the path; an existing path refuses
    cat.read("ft").createOrReplaceTempView("ft")
    val out = s"$dir/ft_export.csv"
    val summary = GraftSql.chSql(spark, sf0001,
      s"SELECT k, name, v FROM ft INTO OUTFILE '$out' FORMAT CSVWithNames")
      .head()
    summary.getLong(2) shouldBe 1L
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(out))
    lines.size shouldBe 2
    lines.get(0) shouldBe "k,name,v"
    lines.get(1) shouldBe "7,x y,1.25"
    intercept[IllegalArgumentException] {
      GraftSql.chSql(spark, sf0001,
        s"SELECT k FROM ft INTO OUTFILE '$out' FORMAT CSV")
    }
    // *WithNames binds by HEADER NAME: a reordered header still assigns
    // each value to its named column (CH semantics — not positional)
    ChDdl.execute(cat, spark,
      "INSERT INTO ft FORMAT CSVWithNames\nname,v,k\nzz,2.5,8", dir)
    val r8 = cat.read("ft").filter("k = 8").head()
    (r8.getLong(0), r8.getString(1), r8.getDouble(2)) shouldBe
      ((8L, "zz", 2.5))
    // a header naming a column the table lacks refuses loudly
    intercept[IllegalArgumentException] {
      ChDdl.execute(cat, spark,
        "INSERT INTO ft FORMAT TSVWithNames\nk\tbad\tv\n1\tx\t2", dir)
    }.getMessage should include("does not match")
    // a malformed payload row FAILS the insert (FAILFAST) instead of
    // becoming an all-null row the default fill fabricates values for
    intercept[Exception] {
      ChDdl.execute(cat, spark,
        "INSERT INTO ft FORMAT JSONEachRow\n{\"k\":9,\"name\":", dir)
    }
    cat.read("ft").filter("k = 0").count() shouldBe 0L
  }

  test("SYSTEM statements and the SHOW/DESCRIBE query entry") {
    val cat = new Catalog(spark)
    val dir = tmpDir("chsys")
    // a pasted ops runbook with SYSTEM lines must run through; DROP
    // QUERY CACHE is real, the rest acknowledge loudly as no-ops
    ChDdl.runScript(cat, spark,
      """CREATE TABLE st (
        |  `k` UInt64, `v` Float64 DEFAULT 1.5
        |) ENGINE = MergeTree ORDER BY k;
        |SYSTEM STOP MERGES;
        |SYSTEM FLUSH LOGS;
        |SYSTEM DROP QUERY CACHE;
        |USE default;
        |SET max_threads = 8;
        |SET use_query_cache = 1
        |""".stripMargin, dir)
    // USE of a namespace that doesn't exist refuses (flat namespace)
    intercept[IllegalArgumentException] {
      ChDdl.execute(cat, spark, "USE analytics", dir)
    }.getMessage should include("flat")
    ChDdl.query(cat, spark, "SHOW TABLES")
      .filter(col("table") === "st").count() shouldBe 1L
    ChDdl.query(cat, spark, "SHOW CREATE TABLE st")
      .head().getString(0) should include("DEFAULT 1.5")
    val d = ChDdl.query(cat, spark, "DESCRIBE st").collect()
    d.map(_.getString(0)).toSeq shouldBe Seq("k", "v")
    d.find(_.getString(0) == "v").get.getString(2) shouldBe "DEFAULT"
    // SHOW DATABASES (the flat-namespace fixtures) + EXISTS TABLE 0/1
    ChDdl.query(cat, spark, "SHOW DATABASES").collect()
      .map(_.getString(0)).toSeq shouldBe Seq("default", "system")
    ChDdl.query(cat, spark, "EXISTS TABLE st").head().getInt(0) shouldBe 1
    ChDdl.query(cat, spark, "EXISTS nope").head().getInt(0) shouldBe 0
    // full SELECTs over the catalog-wide system relations run as written
    val sysRows = ChDdl.query(cat, spark,
      "SELECT c.column, c.type, CAST(c.is_sort_key AS INT) AS sk " +
        "FROM system.columns c JOIN system.tables t ON c.table = t.table " +
        "WHERE t.engine = 'Append' ORDER BY c.position").collect()
    sysRows.map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq shouldBe
      Seq(("k", "bigint", 1), ("v", "double", 0))
    // SHOW GRANTS / SHOW POLICIES answer the access-control registries
    ChDdl.runScript(cat, spark,
      "GRANT SELECT(k) ON st TO bob", dir)
    ChDdl.query(cat, spark, "SHOW GRANTS").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq shouldBe Seq(("st", "bob", "k"))
    ChDdl.query(cat, spark, "SHOW ROW POLICIES").count() shouldBe 0L
    ChDdl.query(cat, spark,
      "SELECT count(*) AS n FROM system.grants").head().getLong(0) shouldBe 1L
    // per-table snapshots stays an API call; unknown relations refuse
    intercept[IllegalArgumentException] {
      ChDdl.query(cat, spark, "SELECT * FROM system.snapshots")
    }.getMessage should include("table argument")
    // plain SELECT is the X149 dashboard read path (catalog tables bind
    // as views, the dialect lowering runs) — no longer a refusal
    ChDdl.query(cat, spark, "SELECT 1 AS one").head().getInt(0) shouldBe 1
  }

  test("INSERT FROM INFILE: extension inference, gzip, WithNames, refusals") {
    val cat = new Catalog(spark)
    val dir = tmpDir("chinfile")
    ChDdl.runScript(cat, spark,
      """CREATE TABLE inff (
        |  `k` UInt64, `tag` String DEFAULT 'zz', `v` Float64
        |) ENGINE = MergeTree ORDER BY k""".stripMargin, dir)
    val base = java.nio.file.Paths.get(dir)
    // WithNames binds by HEADER NAME even reordered (the X128 contract,
    // now from a file): v before k in the file, values land correctly
    val wn = base.resolve("wn.csv")
    java.nio.file.Files.write(wn, "v,k\n1.5,1\n2.5,2".getBytes("UTF-8"))
    ChDdl.execute(cat, spark,
      s"INSERT INTO inff (k, v) FROM INFILE '$wn' FORMAT CSVWithNames")
    // gzip + extension inference (.tsv.gz → TSV)
    val gz = base.resolve("more.tsv.gz")
    val o = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(gz))
    o.write("3\t3.5".getBytes("UTF-8")); o.close()
    ChDdl.execute(cat, spark,
      s"INSERT INTO inff (k, v) FROM INFILE '$gz' COMPRESSION 'gzip'")
    cat.read("inff").orderBy(col("k"))
      .select(col("k"), col("tag"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq shouldBe Seq((1L, "zz", 1.5), (2L, "zz", 2.5), (3L, "zz", 3.5))
    // refusals: relative path with no files dir, non-gzip compression,
    // parquet-as-payload, uninferrable extension
    intercept[IllegalArgumentException] {
      ChDdl.execute(cat, spark,
        "INSERT INTO inff FROM INFILE 'rel.csv' FORMAT CSV")
    }.getMessage should include("user_files")
    intercept[IllegalArgumentException] {
      ChDdl.execute(cat, spark,
        s"INSERT INTO inff FROM INFILE '$wn' COMPRESSION 'zstd'")
    }.getMessage should include("gzip")
    intercept[IllegalArgumentException] {
      ChDdl.execute(cat, spark,
        s"INSERT INTO inff FROM INFILE '${base.resolve("x.parquet")}'")
    }.getMessage should include("file(path, 'Parquet')")
    intercept[IllegalArgumentException] {
      ChDdl.execute(cat, spark,
        s"INSERT INTO inff FROM INFILE '${base.resolve("x.dat")}'")
    }.getMessage should include("cannot infer")
    // a malformed line FAILFASTs the whole insert (the X128 stance)
    val bad = base.resolve("bad.csv")
    java.nio.file.Files.write(bad, "9,notanumber".getBytes("UTF-8"))
    intercept[Exception] {
      ChDdl.execute(cat, spark,
        s"INSERT INTO inff (k, v) FROM INFILE '$bad' FORMAT CSV")
    }
    cat.read("inff").count() shouldBe 3L
    cat.dropTable("inff")
  }

  test("system.parts/mutations/detached_parts read catalog-wide as text") {
    val cat = new Catalog(spark)
    val dir = tmpDir("chsysparts")
    ChDdl.runScript(cat, spark,
      """CREATE TABLE spa (
        |  `k` UInt64, `v` Float64
        |) ENGINE = MergeTree ORDER BY k;
        |CREATE TABLE spb (
        |  `k` UInt64, `v` Float64
        |) ENGINE = MergeTree ORDER BY k;
        |INSERT INTO spa VALUES (1, 1.0), (2, 2.0), (10, 3.0);
        |INSERT INTO spb VALUES (7, 7.0);
        |ALTER TABLE spa DELETE WHERE k = 10
        |""".stripMargin, dir)
    // parts: storage-derived rows + key ranges, one union branch per table
    val parts = ChDdl.query(cat, spark,
      """SELECT p.table AS t, CAST(sum(p.rows) AS BIGINT) AS n,
        |  min(CAST(p.min_key AS BIGINT)) AS lo,
        |  max(CAST(p.max_key AS BIGINT)) AS hi
        |FROM system.parts p GROUP BY p.table ORDER BY t""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    parts shouldBe Seq(("spa", 2L, 1L, 2L), ("spb", 1L, 7L, 7L))
    // mutations: the ALTER DELETE is the only recorded mutation
    val muts = ChDdl.query(cat, spark,
      """SELECT m.table AS t, m.command AS c FROM system.mutations m
        |ORDER BY t, m.seq""".stripMargin).collect()
    muts.length shouldBe 1
    muts.head.getString(0) shouldBe "spa"
    muts.head.getString(1).toUpperCase should include("DELETE")
    // detached_parts: nothing detached — empty frame, declared schema
    ChDdl.query(cat, spark,
      "SELECT count(*) AS n FROM system.detached_parts")
      .head().getLong(0) shouldBe 0L
    Seq("spa", "spb").foreach(n => cat.dropTable(n))
  }

  test("JSON column type: variant storage, string ingest, typed extraction") {
    import org.apache.spark.sql.functions._
    val cat = new Catalog(spark)
    val path = tmpDir("chjson") + "/jv"
    val t = ChDdl.createTable(cat,
      """CREATE TABLE jv (
        |  `id` UInt64,
        |  `doc` JSON
        |) ENGINE = MergeTree
        |ORDER BY id""".stripMargin, path)
    t.schema("doc").dataType shouldBe org.apache.spark.sql.types.VariantType
    // string batches parse at insert (the CH JSON-ingest semantics)
    cat.append("jv", spark.createDataFrame(Seq(
      (1L, """{"a": 7, "b": {"c": "x"}}"""),
      (2L, """{"a": 9}"""))).toDF("id", "doc"))
    val got = cat.read("jv")
      .select(col("id"),
        expr("variant_get(doc, '$.a', 'bigint')").as("a"),
        expr("variant_get(doc, '$.b.c', 'string')").as("c"))
      .orderBy(col("id")).collect()
    got.map(_.getLong(1)).toSeq shouldBe Seq(7L, 9L)
    got.map(r => Option(r.getString(2))).toSeq shouldBe Seq(Some("x"), None)
    // the dialect's JSONExtract* maps to the same typed paths
    cat.read("jv").createOrReplaceTempView("jv")
    val viaDialect = GraftSql.chSql(spark, sf0001,
      "SELECT id, JSONExtractString(doc, 'b', 'c') AS c FROM jv ORDER BY id")
    viaDialect.collect().map(r => Option(r.getString(1))).toSeq shouldBe
      Seq(Some("x"), None)
    // malformed input fails the insert loudly, CH-strict
    an[Exception] should be thrownBy
      cat.append("jv", spark.createDataFrame(Seq((3L, "{nope")))
        .toDF("id", "doc"))
    // and the type renders back as JSON (SHOW CREATE round-trip)
    ChDdlRender.render(cat.get("jv")) should include("`doc` JSON")
  }

  test("full_text and vector_similarity indexes parse into the catalog axes") {
    val ChDdl.CreateTable(t, _) = ChDdl.parse(
      """CREATE TABLE vs (
        |  `id` UInt64,
        |  `body` String,
        |  `emb` Array(Float32),
        |  INDEX ft body TYPE full_text(1024) GRANULARITY 1,
        |  INDEX ann emb TYPE vector_similarity('ivfpq', 'cosine', 32, 8, 64) GRANULARITY 1
        |) ENGINE = MergeTree
        |ORDER BY id""".stripMargin, "/tmp/x")
    t.fullTextCols shouldBe Seq("body" -> 1024)
    t.annIndex shouldBe Some(graft.catalog.AnnIndexDef("emb", 32, 8, 64))
    // CH's own two-arg form maps to the defaults
    val ChDdl.CreateTable(t2, _) = ChDdl.parse(
      """CREATE TABLE vs2 (
        |  `id` UInt64,
        |  `emb` Array(Float32),
        |  INDEX ann emb TYPE vector_similarity('hnsw', 'cosineDistance') GRANULARITY 1
        |) ENGINE = MergeTree
        |ORDER BY id""".stripMargin, "/tmp/x")
    t2.annIndex shouldBe Some(graft.catalog.AnnIndexDef("emb", 16, 8, 16))
    an[IllegalArgumentException] should be thrownBy ChDdl.parse(
      """CREATE TABLE vs3 (
        |  `id` UInt64,
        |  `e1` Array(Float32),
        |  `e2` Array(Float32),
        |  INDEX a1 e1 TYPE vector_similarity GRANULARITY 1,
        |  INDEX a2 e2 TYPE vector_similarity GRANULARITY 1
        |) ENGINE = MergeTree
        |ORDER BY id""".stripMargin, "/tmp/x")
  }

  test("ALTER ADD/MATERIALIZE/DROP/CLEAR INDEX drive the skip-index lifecycle as text") {
    import org.apache.spark.sql.functions.col
    val cat = new Catalog(spark)
    val dir = tmpDir("chidx")
    ChDdl.runScript(cat, spark,
      """CREATE TABLE idx_t (
        |  `k` UInt64, `category` String, `msg` String
        |) ENGINE = MergeTree ORDER BY k""".stripMargin, dir)
    import spark.implicits._
    cat.append("idx_t", (1L to 400L)
      .map(i => (i, s"c${i % 7}", s"req tok$i end"))
      .toDF("k", "category", "msg"))
    // ADD INDEX declares only: existing files stay unindexed and the
    // pruned read fails open (the CH ADD INDEX contract)
    ChDdl.runScript(cat, spark,
      "ALTER TABLE idx_t ADD INDEX cati category TYPE bloom_filter " +
        "GRANULARITY 1", dir)
    cat.get("idx_t").indexCols shouldBe Seq("category")
    val (_, kept0, total0) = cat.readPruned("idx_t", "category", "zzz")
    kept0 shouldBe total0
    // MATERIALIZE INDEX backfills existing files: an absent probe value
    // now prunes EVERY file, a present one returns the exact rows
    ChDdl.runScript(cat, spark,
      "ALTER TABLE idx_t MATERIALIZE INDEX bf_category", dir)
    val (_, keptMiss, totalM) = cat.readPruned("idx_t", "category", "zzz")
    keptMiss shouldBe 0
    totalM should be > 0
    val (hit, _, _) = cat.readPruned("idx_t", "category", "c3")
    hit.filter(col("category") === "c3").count() shouldBe
      cat.read("idx_t").filter(col("category") === "c3").count()
    // SHOW CREATE renders the canonical INDEX line, and the declaration
    // survives the _TABLE sidecar round-trip
    ChDdlRender.render(cat.get("idx_t")) should include(
      "INDEX bf_category category TYPE bloom_filter")
    new Catalog(spark).attach(s"$dir/idx_t").indexCols shouldBe
      Seq("category")
    // a second family through the same verbs: tokenbf over msg
    ChDdl.runScript(cat, spark,
      "ALTER TABLE idx_t ADD INDEX toki msg TYPE tokenbf_v1 GRANULARITY 2;" +
        "\nALTER TABLE idx_t MATERIALIZE INDEX tok_msg", dir)
    val (_, tKept, _) = cat.readTokenPruned("idx_t", "msg", "nosuchtoken")
    tKept shouldBe 0
    // CLEAR INDEX drops built sidecars, keeps the declaration (reads
    // fail open again); MATERIALIZE rebuilds
    ChDdl.runScript(cat, spark,
      "ALTER TABLE idx_t CLEAR INDEX bf_category", dir)
    cat.get("idx_t").indexCols shouldBe Seq("category")
    val (_, keptC, totalC) = cat.readPruned("idx_t", "category", "zzz")
    keptC shouldBe totalC
    // DROP INDEX retires declaration + sidecars; re-DROP refuses bare
    // and tolerates IF EXISTS
    ChDdl.runScript(cat, spark,
      "ALTER TABLE idx_t DROP INDEX tok_msg", dir)
    cat.get("idx_t").tokenIndexCols shouldBe empty
    locally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/idx_t")).iterator().asScala
        .count(_.getFileName.toString.endsWith(".msg.tokenbloom")) shouldBe 0
    }
    intercept[IllegalArgumentException] {
      ChDdl.runScript(cat, spark,
        "ALTER TABLE idx_t DROP INDEX tok_msg", dir)
    }
    ChDdl.runScript(cat, spark,
      "ALTER TABLE idx_t DROP INDEX IF EXISTS tok_msg", dir)
    // unknown-name spelling refuses with the canonical-name contract
    intercept[IllegalArgumentException] {
      ChDdl.runScript(cat, spark,
        "ALTER TABLE idx_t MATERIALIZE INDEX whatever", dir)
    }.getMessage should include("canonically")
  }

  test("CREATE DICTIONARY + dictGet/dictGetOrDefault/dictHas as text") {
    import graft.sql.ChDialect
    import spark.implicits._
    val cat = new Catalog(spark)
    val dir = tmpDir("chdict")
    ChDdl.runScript(cat, spark,
      """CREATE TABLE dim_t (
        |  `id` UInt64, `label` String, `score` Float64
        |) ENGINE = MergeTree ORDER BY id""".stripMargin, dir)
    cat.append("dim_t",
      Seq((1L, "one", 1.5), (2L, "two", 2.5)).toDF("id", "label", "score"))
    ChDdl.runScript(cat, spark,
      """CREATE DICTIONARY labels (
        |  `id` UInt64,
        |  `label` String DEFAULT 'unknown',
        |  `score` Float64
        |) PRIMARY KEY id
        |SOURCE(CLICKHOUSE(TABLE 'dim_t'))
        |LAYOUT(HASHED())
        |LIFETIME(MIN 0 MAX 300)""".stripMargin, dir)
    // a miss takes the DECLARED default (label), the TYPE default
    // (score via bare dictGet), or the CALL default (getOrDefault)
    val out = spark.sql(ChDialect.rewrite(
      "SELECT k, dictGet('labels', 'label', k) AS lbl, " +
        "dictGet('labels', 'score', k) AS sc0, " +
        "dictGetOrDefault('labels', 'score', k, -1.0) AS sc, " +
        "CAST(dictHas('labels', k) AS INT) AS h " +
        "FROM (SELECT explode(sequence(1, 3)) AS k) ORDER BY k"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getInt(4)))
    out shouldBe Array(
      (1, "one", 1.5, 1.5, 1), (2, "two", 2.5, 2.5, 1),
      (3, "unknown", 0.0, -1.0, 0))
    // SNAPSHOT semantics (the CreateView discipline, and CH's own reload
    // model): a later insert is invisible until the dictionary is
    // re-CREATEd — the explicit LIFETIME-reload analog
    cat.append("dim_t", Seq((3L, "three", 3.5)).toDF("id", "label", "score"))
    spark.sql(ChDialect.rewrite(
      "SELECT dictGet('labels', 'label', 3) AS l")).head().getString(0) shouldBe
      "unknown"
    ChDdl.runScript(cat, spark,
      """CREATE DICTIONARY labels (
        |  `id` UInt64,
        |  `label` String DEFAULT 'unknown',
        |  `score` Float64
        |) PRIMARY KEY id
        |SOURCE(CLICKHOUSE(TABLE 'dim_t'))
        |LAYOUT(HASHED())
        |LIFETIME(MIN 0 MAX 300)""".stripMargin, dir)
    spark.sql(ChDialect.rewrite(
      "SELECT dictGet('labels', 'label', 3) AS l")).head().getString(0) shouldBe
      "three"
    // refusals: unknown dictionary, unknown attribute, computed name,
    // wrong key arity, non-CH source kinds, unsupported layouts
    intercept[IllegalArgumentException] {
      ChDialect.rewrite("SELECT dictGet('nope', 'label', 1)")
    }.getMessage should include("no dictionary")
    intercept[IllegalArgumentException] {
      ChDialect.rewrite("SELECT dictGet('labels', 'zzz', 1)")
    }.getMessage should include("not a declared attribute")
    intercept[IllegalArgumentException] {
      ChDialect.rewrite("SELECT dictGet(d, 'label', 1)")
    }.getMessage should include("string literals")
    intercept[IllegalArgumentException] {
      ChDialect.rewrite("SELECT dictGet('labels', 'label', tuple(1, 2))")
    }.getMessage should include("PRIMARY KEY")
    intercept[IllegalArgumentException] {
      ChDdl.parse("CREATE DICTIONARY f (k UInt64, v String) PRIMARY KEY k " +
        "SOURCE(FILE(PATH '/x.csv')) LAYOUT(FLAT())", "/tmp/x")
    }.getMessage should include("SOURCE(FILE")
    intercept[IllegalArgumentException] {
      ChDdl.parse("CREATE DICTIONARY f (k UInt64, v String) PRIMARY KEY k " +
        "SOURCE(CLICKHOUSE(TABLE 'dim_t')) LAYOUT(RANGE_HASHED())", "/tmp/x")
    }.getMessage should include("RANGE_HASHED")
    // DROP DICTIONARY: bare refuses on missing, IF EXISTS tolerates
    ChDdl.runScript(cat, spark, "DROP DICTIONARY labels", dir)
    intercept[IllegalArgumentException] {
      ChDdl.runScript(cat, spark, "DROP DICTIONARY labels", dir)
    }
    ChDdl.runScript(cat, spark, "DROP DICTIONARY IF EXISTS labels", dir)
    intercept[IllegalArgumentException] {
      ChDialect.rewrite("SELECT dictGet('labels', 'label', 1)")
    }
  }

  test("DESCRIBE TABLE lists physical columns with materialized expressions") {
    import graft.sql.ChDdlRender
    val ChDdl.CreateTable(t, _) = ChDdl.parse(
      """CREATE TABLE dsc (
        |  `k` UInt64,
        |  `loaded_at` DateTime MATERIALIZED now()
        |) ENGINE = MergeTree ORDER BY k""".stripMargin, "/tmp/x")
    ChDdlRender.describe(t) shouldBe Seq(
      ("k", "UInt64", "", ""),
      ("loaded_at", "DateTime", "MATERIALIZED", "current_timestamp()"))
  }

  test("end to end: reference-idiom Replacing DDL registers, validates enums, dedups") {
    val cat = new Catalog(spark)
    val path = tmpDir("chddl") + "/ev"
    val t = ChDdl.createTable(cat,
      """CREATE TABLE ev (
        |  `k` UInt64,
        |  `state` Enum8('open' = 1, 'closed' = 2),
        |  `n` UInt32,
        |  `updated_at` DateTime MATERIALIZED now()
        |) ENGINE = ReplacingMergeTree ORDER BY k""".stripMargin, path)
    t.path shouldBe path
    import spark.implicits._
    cat.append("ev", Seq((1L, "open", 10L), (2L, "open", 20L))
      .toDF("k", "state", "n"))
    // the Enum8 CHECK constraint rejects an undeclared value, atomically
    an[Exception] should be thrownBy
      cat.append("ev", Seq((3L, "banana", 1L)).toDF("k", "state", "n"))
    // last-wins on the materialized arrival ordinal
    cat.append("ev", Seq((1L, "closed", 11L)).toDF("k", "state", "n"))
    val rows = cat.read("ev").select("k", "state", "n")
      .orderBy(col("k")).collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    rows.toSeq shouldBe Seq((1L, "closed", 11L), (2L, "open", 20L))
  }

  test("CREATE MATERIALIZED VIEW … POPULATE backfills pre-existing rows at create") {
    val cat = new Catalog(spark)
    val dir = tmpDir("chddl-mvpop")
    import spark.implicits._
    ChDdl.runScript(cat, spark,
      """CREATE TABLE src_t (`k` UInt64, `v` UInt32)
        |ENGINE = MergeTree ORDER BY k;
        |CREATE TABLE tgt_t (`k` UInt64, `sv` UInt64)
        |ENGINE = SummingMergeTree ORDER BY k""".stripMargin, dir)
    cat.append("src_t",
      Seq((1L, 10L), (2L, 20L), (1L, 5L)).toDF("k", "v"))
    def sums(t: String): Map[Long, Long] =
      cat.read(t).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // TO + POPULATE: rows inserted BEFORE the view exists appear in the
    // target at create (the documented permissive divergence: CH
    // refuses POPULATE with TO; here every MV has an explicit target)
    ChDdl.execute(cat, spark,
      "CREATE MATERIALIZED VIEW mv_pop TO tgt_t POPULATE AS " +
        "SELECT k, sum(v) AS sv FROM src_t GROUP BY k", dir)
    sums("tgt_t") shouldBe Map(1L -> 15L, 2L -> 20L)
    // the insert trigger is live on top of the backfill
    ChDdl.execute(cat, spark, "INSERT INTO src_t (k, v) VALUES (2, 7)")
    sums("tgt_t") shouldBe Map(1L -> 15L, 2L -> 27L)
    // the CH-native TO-less ENGINE form: the implicit `<mv>_inner`
    // table is created + backfilled through the CTAS door, trigger on top
    ChDdl.execute(cat, spark,
      "CREATE MATERIALIZED VIEW mv2 ENGINE = SummingMergeTree ORDER BY k " +
        "POPULATE AS SELECT k, sum(v) AS sv FROM src_t GROUP BY k", dir)
    sums("mv2_inner") shouldBe Map(1L -> 15L, 2L -> 27L)
    ChDdl.execute(cat, spark, "INSERT INTO src_t (k, v) VALUES (9, 1)")
    sums("mv2_inner").get(9L) shouldBe Some(1L)
    sums("tgt_t").get(9L) shouldBe Some(1L)
    // a plain (non-POPULATE) create still starts empty
    ChDdl.runScript(cat, spark,
      """CREATE TABLE tgt2 (`k` UInt64, `sv` UInt64)
        |ENGINE = SummingMergeTree ORDER BY k""".stripMargin, dir)
    ChDdl.execute(cat, spark,
      "CREATE MATERIALIZED VIEW mv3 TO tgt2 AS " +
        "SELECT k, sum(v) AS sv FROM src_t GROUP BY k", dir)
    cat.read("tgt2").count() shouldBe 0L
  }

  test("ON CLUSTER strips as a loud single-process no-op on every DDL form") {
    // a prod runbook verbatim: every statement stamped ON CLUSTER
    val cat = new Catalog(spark)
    val dir = tmpDir("chddl-oncluster")
    import spark.implicits._
    ChDdl.runScript(cat, spark,
      """CREATE TABLE oc ON CLUSTER 'main' (
        |  `k` UInt64,
        |  `v` UInt32
        |) ENGINE = MergeTree ORDER BY k;
        |ALTER TABLE oc ON CLUSTER 'main' ADD COLUMN `tag` String;
        |INSERT INTO oc (k, v, tag) VALUES (1, 10, 'a'), (2, 20, 'b');
        |ALTER TABLE oc ON CLUSTER 'main' DELETE WHERE k = 2;
        |RENAME TABLE oc TO oc2 ON CLUSTER main""".stripMargin, dir)
    cat.read("oc2").select("k", "v", "tag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq shouldBe Seq((1L, 10L, "a"))
    ChDdl.execute(cat, spark, "TRUNCATE TABLE oc2 ON CLUSTER `main`")
    cat.read("oc2").count() shouldBe 0L
    ChDdl.execute(cat, spark, "DROP TABLE oc2 ON CLUSTER main")
    an[Exception] should be thrownBy cat.read("oc2")
    // SELECT bodies are never touched: `ON cluster.id` is a join
    // predicate, not the clause (no whitespace after `cluster`)
    ChDdl.stripOnCluster(
      "CREATE VIEW v AS SELECT * FROM a JOIN b ON cluster.id = a.id"
    ) should include("ON cluster.id")
    // string literals are data, not clauses: an inserted value that
    // happens to read "… ON CLUSTER …" must survive verbatim
    ChDdl.stripOnCluster(
      "INSERT INTO t (msg) VALUES ('retry ON CLUSTER main later')"
    ) shouldBe "INSERT INTO t (msg) VALUES ('retry ON CLUSTER main later')"
    // …including doubled '' escapes before the phrase
    ChDdl.stripOnCluster(
      "INSERT INTO t VALUES ('it''s ON CLUSTER x')"
    ) shouldBe "INSERT INTO t VALUES ('it''s ON CLUSTER x')"
    // every grammatical occurrence strips (a pasted multi-statement
    // line), while the literal occurrence in the same text survives
    ChDdl.stripOnCluster(
      "DROP TABLE a ON CLUSTER main; DROP TABLE b ON CLUSTER main; " +
        "INSERT INTO log VALUES ('ran ON CLUSTER main')"
    ) shouldBe ("DROP TABLE a; DROP TABLE b; " +
      "INSERT INTO log VALUES ('ran ON CLUSTER main')")
    // a quoted operand is still a real clause
    ChDdl.stripOnCluster("DROP TABLE t ON CLUSTER 'main'") shouldBe
      "DROP TABLE t"
  }

  test("Nested(a T, b U) expands to parallel arrays; SHOW CREATE folds back") {
    val cat = new Catalog(spark)
    val dir = tmpDir("chddl-nested")
    import spark.implicits._
    // the GH-events payload shape the reference corpus uses
    ChDdl.runScript(cat, spark,
      """CREATE TABLE gh_ev (
        |  `id` UInt64,
        |  `payload` Nested(`action` String, `n` UInt32),
        |  `ts` Date
        |) ENGINE = MergeTree ORDER BY id""".stripMargin, dir)
    val t = cat.get("gh_ev")
    // flattened as CH itself stores it (flatten_nested = 1): one
    // parallel-array column per sub-field, named with the group prefix
    t.schema.fieldNames.toSeq shouldBe
      Seq("id", "payload.action", "payload.n", "ts")
    // ingest parallel arrays, read through the `n.a` access convention
    cat.append("gh_ev", Seq(
      (1L, Seq("opened", "closed"), Seq(5L, 7L),
        java.sql.Date.valueOf("2024-01-01")),
      (2L, Seq("merged"), Seq(9L), java.sql.Date.valueOf("2024-01-02")))
      .toDF("id", "payload.action", "payload.n", "ts"))
    ChDdl.query(cat, spark,
      "SELECT arrayJoin(`payload.action`) AS act FROM gh_ev ORDER BY act")
      .collect().map(_.getString(0)).toSeq shouldBe
      Seq("closed", "merged", "opened")
    // parse ∘ render ∘ parse identity: the rendered DDL spells Nested
    val rendered = graft.sql.ChDdlRender.render(t)
    rendered should include("Nested(`action` String, `n` UInt32)")
    graft.sql.ChDdl.parse(rendered, t.path) match {
      case graft.sql.ChDdl.CreateTable(t2, _) =>
        t2.schema.fieldNames.toSeq shouldBe t.schema.fieldNames.toSeq
        t2.schema.fields.map(_.dataType).toSeq shouldBe
          t.schema.fields.map(_.dataType).toSeq
      case other => fail(s"re-parse gave $other")
    }
  }

  test("EXPLAIN ESTIMATE prices the pruned scan from metadata") {
    val cat = new Catalog(spark)
    val dir = tmpDir("chddl-estimate")
    import spark.implicits._
    ChDdl.runScript(cat, spark,
      """CREATE TABLE est_t (
        |  `k` UInt64, `v` Float64,
        |  INDEX mm_k k TYPE minmax GRANULARITY 1
        |) ENGINE = MergeTree ORDER BY k""".stripMargin, dir)
    // two appends with disjoint key ranges → two prunable segments
    cat.append("est_t", (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v"))
    cat.append("est_t",
      (1000L to 1100L).map(i => (i, i * 1.0)).toDF("k", "v"))
    val full = ChDdl.query(cat, spark,
      "EXPLAIN ESTIMATE SELECT * FROM est_t").head()
    full.schema.fieldNames.toSeq shouldBe
      Seq("table", "files_total", "files_selected", "rows", "bytes")
    full.getAs[Long]("rows") shouldBe 201L
    full.getAs[Long]("files_selected") shouldBe full.getAs[Long]("files_total")
    // a range on the declared minmax column prunes the estimate to the
    // segments the read path would actually touch
    val pruned = ChDdl.query(cat, spark,
      "EXPLAIN ESTIMATE SELECT v FROM est_t WHERE k <= 100").head()
    pruned.getAs[Long]("files_selected") should
      be < pruned.getAs[Long]("files_total")
    pruned.getAs[Long]("rows") shouldBe 100L
  }

  test("query parameters: SET param_* binds, {name:Type} substitutes typed") {
    val cat = new Catalog(spark)
    val dir = tmpDir("chddl-params")
    import spark.implicits._
    ChDdl.runScript(cat, spark,
      """CREATE TABLE prm (`k` UInt64, `s` String) ENGINE = MergeTree
        |  ORDER BY k;
        |INSERT INTO prm (k, s) VALUES (1, 'a'), (2, 'b'), (3, 'a');
        |SET param_lim = 2;
        |SET param_tag = 'a';
        |SET param_tbl = prm""".stripMargin, dir)
    // typed scalar parameters in a read
    ChDdl.query(cat, spark,
      "SELECT CAST(count() AS Int64) AS n FROM prm " +
        "WHERE k <= {lim:UInt64} AND s = {tag:String}")
      .head().getLong(0) shouldBe 1L
    // Identifier substitutes raw (the FROM slot)
    ChDdl.query(cat, spark,
      "SELECT CAST(count() AS Int64) AS n FROM {tbl:Identifier}")
      .head().getLong(0) shouldBe 3L
    // a parameter-shaped brace INSIDE a string literal is data
    ChDdl.query(cat, spark,
      "SELECT '{lim:UInt64}' AS raw FROM prm WHERE k = 1")
      .head().getString(0) shouldBe "{lim:UInt64}"
    // parameters reach DDL/INSERT statements through execute() too
    ChDdl.execute(cat, spark,
      "INSERT INTO prm SELECT CAST(9 AS UInt64) AS k, {tag:String} AS s " +
        "FROM prm LIMIT 1")
    ChDdl.query(cat, spark,
      "SELECT CAST(count() AS Int64) AS n FROM prm WHERE s = 'a'")
      .head().getLong(0) shouldBe 3L
    // unbound parameter refuses naming the SET form
    intercept[IllegalArgumentException] {
      ChDdl.query(cat, spark, "SELECT 1 AS x FROM prm WHERE s = {nope:String}")
    }.getMessage should include("SET param_nope")
    // quoted SET values unquote; '' escapes collapse
    ChDdl.execute(cat, spark, "SET param_q = 'it''s'")
    ChDdl.query(cat, spark,
      "SELECT {q:String} AS v FROM prm WHERE k = 1")
      .head().getString(0) shouldBe "it's"
    // composite parameter types refuse with the inline alternative
    ChDdl.execute(cat, spark, "SET param_ids = '1,2'")
    intercept[IllegalArgumentException] {
      ChDdl.query(cat, spark,
        "SELECT 1 AS x FROM prm WHERE k IN {ids:Array(UInt64)}")
    }.getMessage should include("inline")
  }

  test("lowered ClickHouse aggregates run in a session no chSql has touched") {
    // a new session gets a fresh function registry: the text doors must
    // register the engine kernels themselves, not rely on an earlier chSql
    val fresh = spark.newSession()
    val cat = new Catalog(fresh)
    ChDdl.runScript(cat, fresh,
      """CREATE TABLE tk (`k` UInt64, `s` String) ENGINE = MergeTree
        |  ORDER BY k;
        |INSERT INTO tk (k, s) VALUES (1, 'a'), (2, 'b'), (3, 'a')""".stripMargin,
      tmpDir("chddl-fresh"))
    ChDdl.query(cat, fresh, "SELECT topK(1)(s) AS t FROM tk")
      .head().getSeq[String](0) shouldBe Seq("a")
    ChDdl.query(cat, fresh, "SELECT sumMap(map(s, k)) AS m FROM tk")
      .head().getMap[String, Any](0).toMap
      .map { case (s, k) => s -> k.toString.toDouble } shouldBe
      Map("a" -> 4.0, "b" -> 2.0)
  }
}
