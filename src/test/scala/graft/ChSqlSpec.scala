package graft

import org.apache.spark.sql.DataFrame
import graft.sql.{ChDialect, GraftSql}

/** ClickHouse-dialect shim: CH-shaped SQL text (the reference's own
  * surface — README.md:232-266 `count()`/`countIf`/`::Type` casts, plus
  * the everyday query-side idioms) must answer identically to the
  * equivalent Spark SQL through the same session.
  */
class ChSqlSpec extends SparkSpecBase {

  private def rows(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))

  private def chEqualsSpark(ch: String, sparkSqlText: String): Unit = {
    val got = rows(GraftSql.chSql(spark, sf0001, ch))
    val want = rows(GraftSql.sql(spark, sf0001, sparkSqlText))
    got shouldBe want
  }

  test("count()/countIf/uniq/uniqExact/quantile combinator rewrite and agree") {
    chEqualsSpark(
      """SELECT o_orderstatus, count() AS n,
        |  countIf(o_orderkey % 2 = 0) AS even,
        |  uniq(o_custkey) AS u, uniqExact(o_orderpriority) AS ux,
        |  quantile(0.5)(o_totalprice) AS med
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
      """SELECT o_orderstatus, count(*) AS n,
        |  count_if(o_orderkey % 2 = 0) AS even,
        |  approx_count_distinct(o_custkey) AS u,
        |  count(DISTINCT o_orderpriority) AS ux,
        |  percentile(o_totalprice, 0.5) AS med
        |FROM orders GROUP BY o_orderstatus""".stripMargin)
  }

  test("sumIf/avgIf with literal-bearing predicates rewrite and agree") {
    chEqualsSpark(
      """SELECT o_orderstatus,
        |  sumIf(o_totalprice, o_orderpriority = '1-URGENT') AS s,
        |  avgIf(o_totalprice, o_orderpriority = '2-HIGH') AS a
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
      """SELECT o_orderstatus,
        |  sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END) AS s,
        |  avg(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END) AS a
        |FROM orders GROUP BY o_orderstatus""".stripMargin)
  }

  test("::Type casts, FINAL, and PREWHERE run as written in the reference") {
    chEqualsSpark(
      """SELECT o_orderkey::String AS s, o_custkey::UInt32 AS c,
        |  o_orderdate::Date AS d
        |FROM orders FINAL PREWHERE o_orderkey < 10""".stripMargin,
      """SELECT CAST(o_orderkey AS STRING) AS s,
        |  CAST(o_custkey AS BIGINT) AS c, CAST(o_orderdate AS DATE) AS d
        |FROM orders WHERE o_orderkey < 10""".stripMargin)
  }

  test("date family + arrayJoin + empty/notEmpty rewrite and agree") {
    chEqualsSpark(
      """SELECT toStartOfMonth(o_orderdate) AS m, toYYYYMM(o_orderdate) AS ym,
        |  toYear(o_orderdate) AS y, count() AS n
        |FROM orders WHERE notEmpty(o_orderstatus)
        |GROUP BY 1, 2, 3""".stripMargin,
      """SELECT date_trunc('MONTH', o_orderdate) AS m,
        |  CAST(date_format(o_orderdate, 'yyyyMM') AS INT) AS ym,
        |  year(o_orderdate) AS y, count(*) AS n
        |FROM orders WHERE o_orderstatus <> ''
        |GROUP BY 1, 2, 3""".stripMargin)
    // Spark can't GROUP BY a generator alias directly (either dialect),
    // so the explode sits in a subquery — the CH text mirrors that shape
    chEqualsSpark(
      "SELECT w, count() AS n FROM (SELECT arrayJoin(split(p_name, ' ')) AS w FROM part) GROUP BY w",
      "SELECT w, count(*) AS n FROM (SELECT explode(split(p_name, ' ')) AS w FROM part) GROUP BY w")
  }

  test("sumIf rewrite with a literal-bearing predicate produces exact Spark text") {
    ChDialect.rewrite("SELECT sumIf(x, y = 'A') FROM t") shouldBe
      "SELECT sum(CASE WHEN y = 'A' THEN x ELSE 0 END) FROM t"
    ChDialect.rewrite(
      "SELECT arrayJoin(split(p, ' ')) AS w FROM t GROUP BY w") shouldBe
      "SELECT explode(split(p, ' ')) AS w FROM t GROUP BY w"
  }

  test("hasToken rewrites to the token-index tokenizer and agrees") {
    chEqualsSpark(
      """SELECT count() AS n FROM customer
        |WHERE hasToken(c_mktsegment, 'BUILDING')""".stripMargin,
      """SELECT count(*) AS n FROM customer
        |WHERE array_contains(split(c_mktsegment, '[^A-Za-z0-9_]+'),
        |  'BUILDING')""".stripMargin)
    // the token argument is a LITERAL segment: a CH-ism inside it must
    // survive byte-for-byte, and a non-token match stays false
    chEqualsSpark(
      "SELECT count() AS n FROM customer WHERE hasToken(c_name, 'BUILD')",
      "SELECT count(*) AS n FROM customer WHERE " +
        "array_contains(split(c_name, '[^A-Za-z0-9_]+'), 'BUILD')")
  }

  test("string literals pass through byte-for-byte — CH-isms inside are never rewritten") {
    ChDialect.rewrite(
      "SELECT 'countIf(FINAL)::UInt32 count()' AS s, count() FROM t") shouldBe
      "SELECT 'countIf(FINAL)::UInt32 count()' AS s, count(*) FROM t"
    // '' escape inside a literal survives
    ChDialect.rewrite("SELECT 'it''s FINAL' AS s FROM t FINAL") shouldBe
      "SELECT 'it''s FINAL' AS s FROM t "
  }

  test("the reference README star-count query runs as written") {
    // README.md:263-266 shape (the MV backfill), over orders as the
    // stand-in fact table: CH text in, correct rollup out
    val ch =
      """SELECT o_orderstatus AS repo_name,
        |       countIf(o_orderpriority = '1-URGENT') AS stars
        |FROM orders GROUP BY o_orderstatus""".stripMargin
    val got = rows(GraftSql.chSql(spark, sf0001, ch))
    val want = rows(GraftSql.sql(spark, sf0001,
      """SELECT o_orderstatus AS repo_name,
        |  count_if(o_orderpriority = '1-URGENT') AS stars
        |FROM orders GROUP BY o_orderstatus""".stripMargin))
    got shouldBe want
  }

  test("SAMPLE / WITH TOTALS / EXPLAIN run end to end through the dialect") {
    // SAMPLE k OFFSET m == the explicit bucket-window filter
    chEqualsSpark(
      "SELECT count() AS n FROM orders SAMPLE 0.25 OFFSET 0.5",
      """SELECT count(*) AS n FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS STRING)), 1, 4) >= '8000'
        |  AND substr(md5(CAST(o_orderkey AS STRING)), 1, 4) < 'c000'""".stripMargin)
    // WITH TOTALS: the all-NULL-keys totals row joins the result set
    chEqualsSpark(
      """SELECT o_orderstatus, count() AS n
        |FROM orders GROUP BY o_orderstatus WITH TOTALS""".stripMargin,
      """SELECT o_orderstatus, count(*) AS n
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), ())""".stripMargin)
    // EXPLAIN PIPELINE returns the formatted physical plan as rows, and
    // the plan it shows for a sampled read carries the bucket filter
    val plan = GraftSql.chSql(spark, sf0001,
      "EXPLAIN PIPELINE SELECT count() FROM orders SAMPLE 0.5")
      .collect().map(_.getString(0)).mkString("\n")
    plan should include("md5")
    plan should (include("Physical Plan") or include("WholeStageCodegen"))
  }

  test("scalar/aggregate breadth: argMax, groupArray, multiIf, function casts agree") {
    chEqualsSpark(
      """SELECT o_orderstatus,
        |  argMax(o_orderkey, o_totalprice) AS top_order,
        |  argMin(o_orderkey, o_totalprice) AS bottom_order,
        |  maxIf(o_totalprice, o_orderpriority = '1-URGENT') AS max_urgent,
        |  minIf(o_totalprice, o_orderpriority = '1-URGENT') AS min_urgent,
        |  toString(count()) AS n_str,
        |  toUInt32(max(o_orderkey)) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      """SELECT o_orderstatus,
        |  max_by(o_orderkey, o_totalprice) AS top_order,
        |  min_by(o_orderkey, o_totalprice) AS bottom_order,
        |  max(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END) AS max_urgent,
        |  min(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END) AS min_urgent,
        |  CAST(count(*) AS STRING) AS n_str,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    chEqualsSpark(
      """SELECT r_regionkey,
        |  multiIf(r_regionkey < 2, 'low', r_regionkey < 4, 'mid', 'high') AS bucket,
        |  position(r_name, 'A') AS a_pos,
        |  groupArray(r_name) AS names
        |FROM region GROUP BY r_regionkey, r_name ORDER BY r_regionkey""".stripMargin,
      """SELECT r_regionkey,
        |  CASE WHEN r_regionkey < 2 THEN 'low'
        |       WHEN r_regionkey < 4 THEN 'mid' ELSE 'high' END AS bucket,
        |  locate('A', r_name) AS a_pos,
        |  collect_list(r_name) AS names
        |FROM region GROUP BY r_regionkey, r_name ORDER BY r_regionkey""".stripMargin)
    // array ops: has / indexOf / arrayStringConcat over a built array
    chEqualsSpark(
      "SELECT has(array(1, 2, 3), 2) AS h, indexOf(array(5, 6), 6) AS i, " +
        "arrayStringConcat(array('a', 'b'), '-') AS j",
      "SELECT array_contains(array(1, 2, 3), 2) AS h, " +
        "array_position(array(5, 6), 6) AS i, " +
        "array_join(array('a', 'b'), '-') AS j")
  }

  test("LIMIT n BY rewrites to a per-group row_number window and agrees") {
    chEqualsSpark(
      """SELECT o_orderstatus, o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 2 BY o_orderstatus""".stripMargin,
      """SELECT o_orderstatus, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 2
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin)
    // the trailing-LIMIT form caps the total row count
    GraftSql.chSql(spark, sf0001,
      """SELECT o_orderstatus, o_orderkey FROM orders
        |ORDER BY o_orderkey LIMIT 2 BY o_orderstatus LIMIT 3""".stripMargin)
      .count() shouldBe 3L
  }

  test("ADVICE regressions: inner GROUP BY vs WITH ROLLUP, ANSI position") {
    // the group-modifier rewrite must anchor at the OUTER GROUP BY, not
    // swallow from an inner subquery's GROUP BY to the WITH keyword
    ChDialect.rewrite(
      "SELECT k, count(*) FROM (SELECT r_regionkey AS k FROM region " +
        "GROUP BY r_regionkey) q GROUP BY k WITH ROLLUP") shouldBe
      ("SELECT k, count(*) FROM (SELECT r_regionkey AS k FROM region " +
        "GROUP BY r_regionkey) q GROUP BY ROLLUP(k)")
    // ANSI position(needle IN haystack) — also legal CH — passes through
    // (both engines parse it natively); the 2-arg CH form still swaps
    ChDialect.rewrite("SELECT position('B' IN r_name) AS p FROM region") shouldBe
      "SELECT position('B' IN r_name) AS p FROM region"
    chEqualsSpark(
      "SELECT r_name, position('E' IN r_name) AS p, position(r_name, 'E') AS q " +
        "FROM region ORDER BY r_name",
      "SELECT r_name, position('E' IN r_name) AS p, locate('E', r_name) AS q " +
        "FROM region ORDER BY r_name")
  }

  test("a call nested inside a call of the same name lowers too") {
    val r = GraftSql.chSql(spark, sf0001,
      """SELECT multiIf(x = 1, 'one', x = 2,
        |    multiIf(y = 1, 'two-a', 'two-b'), 'other') AS m,
        |  intDiv(intDiv(100, 7), 2) AS d,
        |  arrayMap(x -> arrayMap(y -> y * 2, x), arr) AS a,
        |  addDays(addDays(b, 1), 2) = timestampadd(DAY, 3, b) AS plus3
        |FROM (SELECT 2 AS x, 1 AS y, array(array(1, 2)) AS arr,
        |  DATE'2024-01-01' AS b)""".stripMargin).head()
    r.getString(0) shouldBe "two-a"
    r.getLong(1) shouldBe 7L
    r.getSeq[Seq[Int]](2) shouldBe Seq(Seq(2, 4))
    r.getBoolean(3) shouldBe true
  }

  test("ARRAY JOIN clause rewrites to LATERAL VIEW and agrees") {
    // the clause form (exact text: positional LATERAL VIEW swap)
    ChDialect.rewrite(
      "SELECT doc_id, tok FROM documents ARRAY JOIN split(text, ' ') AS tok " +
        "WHERE doc_id < 3") shouldBe
      ("SELECT doc_id, tok FROM documents LATERAL VIEW " +
        "explode(split(text, ' ')) __aj0 AS tok WHERE doc_id < 3")
    // LEFT keeps empty-array rows (NULL element — doc'd divergence from
    // CH's type-default); behavior check against the explicit Spark form
    chEqualsSpark(
      """SELECT n_name, e FROM nation
        |LEFT ARRAY JOIN filter(split(n_name, 'A'), x -> x != '') AS e
        |WHERE n_regionkey = 1 ORDER BY n_name, e""".stripMargin,
      """SELECT n_name, e FROM nation
        |LATERAL VIEW OUTER explode(filter(split(n_name, 'A'), x -> x != ''))
        |  __x AS e
        |WHERE n_regionkey = 1 ORDER BY n_name, e""".stripMargin)
    // chained clauses get distinct generator aliases
    val chained = ChDialect.rewrite(
      "SELECT a, b FROM t ARRAY JOIN xs AS a ARRAY JOIN ys AS b WHERE a > 0")
    chained should include("__aj0 AS a")
    chained should include("__aj1 AS b")
    // inside a subquery, the clause ends at the subquery's ')'
    ChDialect.rewrite(
      "SELECT * FROM (SELECT tok FROM docs ARRAY JOIN xs AS tok) q LIMIT 1") shouldBe
      ("SELECT * FROM (SELECT tok FROM docs LATERAL VIEW explode(xs) " +
        "__aj0 AS tok ) q LIMIT 1")
    // splitByChar swaps arguments and \Q-quotes the separator: a regex
    // metachar separator splits literally
    chEqualsSpark(
      "SELECT splitByChar('.', '1.2.3') AS parts",
      "SELECT split('1.2.3', '\\\\.') AS parts")
  }

  test("expression-WITH, toStartOfInterval, dateTrunc, countDistinct agree") {
    // CH's scalar-alias WITH: a scalar subquery and a constant, both
    // substituted through the body (Spark's WITH takes only CTEs)
    chEqualsSpark(
      """WITH 3 AS lim, (SELECT max(n_regionkey) FROM nation) AS mx
        |SELECT n_name FROM nation WHERE n_regionkey = mx - lim + 1
        |ORDER BY n_name""".stripMargin,
      "SELECT n_name FROM nation WHERE n_regionkey = 2 ORDER BY n_name")
    // a standard CTE and a scalar alias MIX: the CTE stays a CTE
    chEqualsSpark(
      """WITH r AS (SELECT n_regionkey AS k FROM nation), 2 AS probe
        |SELECT count() AS n FROM r WHERE k = probe""".stripMargin,
      "SELECT count(*) AS n FROM nation WHERE n_regionkey = 2")
    chEqualsSpark(
      "SELECT countDistinct(o_orderstatus) AS u FROM orders",
      "SELECT count(DISTINCT o_orderstatus) AS u FROM orders")
    // arbitrary-width epoch-grid floor + the fixed-bucket family
    chEqualsSpark(
      "SELECT toUnixTimestamp(toStartOfInterval(" +
        "fromUnixTimestamp(1234567), INTERVAL 5 MINUTE)) AS b, " +
        "toUnixTimestamp(toStartOfFiveMinutes(" +
        "fromUnixTimestamp(1234567))) AS b2",
      "SELECT 1234500L AS b, 1234500L AS b2")
    chEqualsSpark(
      "SELECT dateTrunc('hour', fromUnixTimestamp(1234567)) AS h, " +
        "toStartOfMinute(fromUnixTimestamp(1234567)) AS m",
      "SELECT date_trunc('hour', from_unixtime(1234567)) AS h, " +
        "date_trunc('MINUTE', from_unixtime(1234567)) AS m")
    // calendar units have no fixed width — refused, not approximated
    intercept[IllegalArgumentException] {
      ChDialect.rewrite("SELECT toStartOfInterval(ts, INTERVAL 1 MONTH) FROM t")
    }
  }

  test("higher-order array family: lambda-first order swaps to Spark builtins") {
    chEqualsSpark(
      """SELECT n_name,
        |  arrayMap(x -> x * 2, arrayFilter(x -> x % 2 = 0,
        |    arrayEnumerate(splitByChar(' ', n_name)))) AS evens2,
        |  arrayCount(x -> x != '', splitByChar('A', n_name)) AS chunks,
        |  arrayMap((x, y) -> x + y, array(1, 2), array(10, 20)) AS zipped
        |FROM nation WHERE n_regionkey = 0 ORDER BY n_name""".stripMargin,
      """SELECT n_name,
        |  transform(filter(sequence(1, size(split(n_name, '\\Q \\E'))),
        |    x -> x % 2 = 0), x -> x * 2) AS evens2,
        |  size(filter(split(n_name, '\\QA\\E'), x -> x != '')) AS chunks,
        |  zip_with(array(1, 2), array(10, 20), (x, y) -> x + y) AS zipped
        |FROM nation WHERE n_regionkey = 0 ORDER BY n_name""".stripMargin)
    chEqualsSpark(
      "SELECT arrayFirst(x -> x > 2, array(1, 5, 3)) AS f, " +
        "arrayFirstIndex(x -> x > 2, array(1, 5, 3)) AS fi, " +
        "arrayFirstIndex(x -> x > 9, array(1, 5, 3)) AS none, " +
        "arrayUniq(array(1, 2, 2, 3)) AS u, " +
        "arraySlice(array(1, 2, 3, 4), 2) AS tail_s, " +
        "arrayElement(array(7, 8), -1) AS last_e",
      "SELECT 5 AS f, 2L AS fi, 0L AS none, 3 AS u, " +
        "array(2, 3, 4) AS tail_s, 8 AS last_e")
  }

  test("everyday string/map renames: replace, regex, affixes, pads, trims") {
    chEqualsSpark(
      """SELECT n_name,
        |  replaceAll(n_name, 'A', '_') AS r1,
        |  replaceRegexpAll(n_name, '[AEIOU]', '.') AS r2,
        |  CAST(match(n_name, '^.R') AS INT) AS m,
        |  CAST(startsWith(n_name, 'A') AS INT) AS sw,
        |  CAST(endsWith(n_name, 'A') AS INT) AS ew,
        |  leftPad(n_name, 12, '*') AS lp,
        |  rightPad(n_name, 12, '*') AS rp,
        |  trimBoth(concatWithSeparator('-', ' x', n_name, 'y ')) AS tb,
        |  trimLeft('  a ') AS tl, trimRight('  a ') AS tr
        |FROM nation WHERE n_regionkey = 1 ORDER BY n_name""".stripMargin,
      """SELECT n_name,
        |  replace(n_name, 'A', '_') AS r1,
        |  regexp_replace(n_name, '[AEIOU]', '.') AS r2,
        |  CAST(regexp_like(n_name, '^.R') AS INT) AS m,
        |  CAST(startswith(n_name, 'A') AS INT) AS sw,
        |  CAST(endswith(n_name, 'A') AS INT) AS ew,
        |  lpad(n_name, 12, '*') AS lp,
        |  rpad(n_name, 12, '*') AS rp,
        |  trim(concat_ws('-', ' x', n_name, 'y ')) AS tb,
        |  ltrim('  a ') AS tl, rtrim('  a ') AS tr
        |FROM nation WHERE n_regionkey = 1 ORDER BY n_name""".stripMargin)
    chEqualsSpark(
      "SELECT mapKeys(map('a', 1, 'b', 2)) AS ks, " +
        "mapValues(map('a', 1)) AS vs, " +
        "CAST(mapContains(map('a', 1), 'a') AS INT) AS c",
      "SELECT map_keys(map('a', 1, 'b', 2)) AS ks, " +
        "map_values(map('a', 1)) AS vs, " +
        "CAST(map_contains_key(map('a', 1), 'a') AS INT) AS c")
  }

  test("regex stance: RE2-and-Java overlap runs, Java-only constructs refuse, backrefs translate") {
    // the shared subset runs; CH's \1 replacement backref spelling
    // translates to Java's $1 in the literal slot
    chEqualsSpark(
      "SELECT n_name, CAST(match(n_name, '^[A-Z]+$') AS INT) AS m, " +
        "replaceRegexpAll(n_name, '^(.)(.)', '\\\\2\\\\1') AS sw FROM nation",
      "SELECT n_name, CAST(n_name RLIKE '^[A-Z]+$' AS INT) AS m, " +
        "regexp_replace(n_name, '^(.)(.)', '$2$1') AS sw FROM nation")
    // Java-only constructs (RE2 errors in CH) refuse loudly instead of
    // silently diverging
    intercept[IllegalArgumentException] {
      ChDialect.rewrite("SELECT match(x, 'a(?=b)') FROM t")
    }.getMessage should include("lookahead")
    intercept[IllegalArgumentException] {
      ChDialect.rewrite("SELECT match(x, '(a)\\1') FROM t")
    }.getMessage should include("backreference")
    intercept[IllegalArgumentException] {
      ChDialect.rewrite(
        "SELECT replaceRegexpAll(x, '(?<=a)b', '') FROM t")
    }.getMessage should include("lookbehind")
    // computed patterns pass unchecked (nothing to inspect)
    ChDialect.rewrite("SELECT match(x, concat(a, b)) FROM t") shouldBe
      "SELECT regexp_like(x, concat(a, b)) FROM t"
  }

  test("file() runs the reference's own commits ingest statement VERBATIM") {
    import org.apache.spark.sql.functions.col
    // the reference's ingest SQL, loaded from its own repo at test time
    // (the ChDdlSpec typesJson discipline — zero reference bytes stored)
    val stmt = {
      import org.json4s.jackson.JsonMethods
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/root/reference/types.json")), "UTF-8")
      (JsonMethods.parse(txt) \ "types") match {
        case org.json4s.JArray(xs) => xs.collectFirst {
          case t if (t \ "name") == org.json4s.JString("commits") =>
            val org.json4s.JString(s) = t \ "statement"; s
        }.get
        case other => fail(s"types.json malformed: $other")
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-fileref")
    java.nio.file.Files.write(dir.resolve("commits.tsv"),
      ("h1\talice\t2021-04-02 10:00:00\tfirst commit\t1\t0\t0\t2\t10\t3\t1\t0\t1\n" +
        "h2\tbob\t2021-04-03 11:30:00\tsecond\t0\t1\t0\t1\t5\t2\t0\t1\t0")
        .getBytes("UTF-8"))
    val prev = sys.props.get("graft.files.dir")
    sys.props("graft.files.dir") = dir.toString
    try {
      // the reference formats {repo_name} before running — same here
      val out = GraftSql.chSql(spark, sf0001,
        stmt.replace("{repo_name}", "acme/widget")).orderBy(col("time"))
      out.columns.toSeq shouldBe Seq("hash", "author", "time", "message",
        "files_added", "files_deleted", "files_renamed", "files_modified",
        "lines_added", "lines_deleted", "hunks_added", "hunks_removed",
        "hunks_changed", "repo_name")
      out.count() shouldBe 2L
      val r = out.head()
      r.getString(0) shouldBe "h1"
      r.getString(1) shouldBe "alice"
      out.select(org.apache.spark.sql.functions.date_format(col("time"),
        "yyyy-MM-dd HH:mm:ss")).head().getString(0) shouldBe
        "2021-04-02 10:00:00"
      r.getLong(8) shouldBe 10L
      r.getString(13) shouldBe "acme/widget"
    } finally prev match {
      case Some(p) => sys.props("graft.files.dir") = p
      case None => sys.props.remove("graft.files.dir"); ()
    }
    // a relative path with no user_files root refuses loudly
    if (prev.isEmpty)
      intercept[IllegalArgumentException] {
        GraftSql.chSql(spark, sf0001, "SELECT c1 FROM file('nope.tsv')")
      }.getMessage should include("user_files")
  }

  test("parameterized aggregates: quantiles/topK/windowFunnel/sequenceMatch/retention/histogram") {
    // quantiles(…)(x): ONE percentile-array pass, elements projected
    chEqualsSpark(
      """SELECT l_returnflag,
        |  round(element_at(quantiles(0.25, 0.75)(l_extendedprice), 1), 4) AS q25,
        |  round(element_at(quantiles(0.25, 0.75)(l_extendedprice), 2), 4) AS q75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
      """SELECT l_returnflag,
        |  round(element_at(percentile(l_extendedprice, array(0.25, 0.75)), 1), 4) AS q25,
        |  round(element_at(percentile(l_extendedprice, array(0.25, 0.75)), 2), 4) AS q75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    // topK(N)(x) vs the exact (count desc, value asc) top-3 — exact
    // because capacity 4N exceeds the column's cardinality
    chEqualsSpark(
      "SELECT topK(3)(o_orderpriority) AS top3 FROM orders",
      """SELECT transform(slice(array_sort(collect_list(struct(-c AS nc, v AS v))),
        |  1, 3), e -> e.v) AS top3
        |FROM (SELECT o_orderpriority AS v, count(*) AS c FROM orders
        |      GROUP BY 1)""".stripMargin)
    // windowFunnel/sequenceMatch/retention on a hand-built event log:
    // u1 completes a→b→c inside the window, u2's b falls outside it,
    // u3 reaches a→b (the leading stray b must not anchor), u4 never a
    val evSrc = "(SELECT u, timestamp_seconds(t) AS ts, e FROM VALUES " +
      "(1, 10, 'a'), (1, 20, 'b'), (1, 30, 'c'), " +
      "(2, 10, 'a'), (2, 200, 'b'), " +
      "(3, 10, 'b'), (3, 20, 'a'), (3, 30, 'b'), " +
      "(4, 10, 'b') AS v(u, t, e))"
    val funnel = GraftSql.chSql(spark, sf0001,
      s"SELECT u, windowFunnel(100)(ts, e = 'a', e = 'b', e = 'c') AS lvl " +
        s"FROM $evSrc GROUP BY u ORDER BY u")
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    funnel shouldBe Array((1, 3), (2, 1), (3, 2), (4, 0))
    val seqm = GraftSql.chSql(spark, sf0001,
      s"SELECT u, sequenceMatch('(?1).*(?2)')(ts, e = 'a', e = 'b') AS m " +
        s"FROM $evSrc GROUP BY u ORDER BY u")
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    seqm shouldBe Array((1, 1), (2, 1), (3, 1), (4, 0))
    val ret = GraftSql.chSql(spark, sf0001,
      s"SELECT u, retention(e = 'a', e = 'b', e = 'x') AS r " +
        s"FROM $evSrc GROUP BY u ORDER BY u")
      .collect().map(r => (r.getInt(0), r.getSeq[Int](1)))
    ret shouldBe Array((1, Seq(1, 1, 0)), (2, Seq(1, 1, 0)),
      (3, Seq(1, 1, 0)), (4, Seq(0, 0, 0)))
    // time-bound / strict-order sequenceMatch patterns refuse loudly
    intercept[IllegalArgumentException] {
      ChDialect.rewrite(
        "SELECT sequenceMatch('(?1)(?t<=3600)(?2)')(ts, a, b) FROM t")
    }.getMessage should include("ordered-existence")
    // histogram(N)(x): deterministic equal-width bins (documented
    // divergence from CH's adaptive edges)
    chEqualsSpark(
      "SELECT histogram(2)(x) AS hist FROM " +
        "(SELECT CAST(v AS DOUBLE) AS x FROM VALUES 0, 1, 2, 4 AS t(v))",
      "SELECT array(struct(0.0D AS lo, 2.0D AS hi, 2.0D AS height), " +
        "struct(2.0D AS lo, 4.0D AS hi, 2.0D AS height)) AS hist")
    intercept[IllegalArgumentException] {
      ChDialect.rewrite(
        "SELECT histogram(5)(x) FROM t GROUP BY g")
    }
  }

  test("formatDateTime translates %-patterns; toDateTime casts") {
    // specifiers translate, literal runs are quoted so pattern letters
    // can't leak, %% stays a percent
    chEqualsSpark(
      "SELECT formatDateTime(toDateTime(1234567), '%Y-%m-%d %H:%i:%S') AS a, " +
        "formatDateTime(toDateTime(1234567), '%FT%T') AS b, " +
        "formatDateTime(toDateTime(1234567), 'day %e at %H%%') AS c",
      "SELECT date_format(CAST(1234567 AS TIMESTAMP), 'yyyy-MM-dd HH:mm:ss') AS a, " +
        "date_format(CAST(1234567 AS TIMESTAMP), \"yyyy-MM-dd'T'HH:mm:ss\") AS b, " +
        "date_format(CAST(1234567 AS TIMESTAMP), \"'day 'd' at 'HH'%'\") AS c")
    // WITH-alias substitution duplicates the expression TEXT, so both
    // occurrences share ONE literal slot — the translation must apply
    // exactly once (a second pass would see no '%' left and quote the
    // whole translated pattern as a literal)
    chEqualsSpark(
      "WITH formatDateTime(toDateTime(1234567), '%Y/%m') AS ym " +
        "SELECT ym AS a, ym AS b",
      "SELECT date_format(CAST(1234567 AS TIMESTAMP), 'yyyy/MM') AS a, " +
        "date_format(CAST(1234567 AS TIMESTAMP), 'yyyy/MM') AS b")
    // %M is ambiguous across CH versions (minute vs month name) — refused
    intercept[IllegalArgumentException] {
      ChDialect.rewrite("SELECT formatDateTime(ts, '%H:%M') FROM t")
    }
    // a computed format has no literal slot to translate — refused
    intercept[IllegalArgumentException] {
      ChDialect.rewrite("SELECT formatDateTime(ts, concat(a, b)) FROM t")
    }
  }

  test("ORDER BY WITH FILL injects missing grid rows and keeps real ones") {
    // explicit bounds: FROM inclusive, TO exclusive, STEP honored —
    // regionkeys are 0..4, so the grid 0..8 step 2 injects 6 and 8 while
    // every real row (odd keys included, OFF the grid) is kept
    val filled = GraftSql.chSql(spark, sf0001,
      """SELECT n_regionkey AS rk, count() AS n FROM nation GROUP BY n_regionkey
        |ORDER BY rk WITH FILL FROM 0 TO 10 STEP 2""".stripMargin).collect()
    filled.map(_.get(0).toString.toInt).toSeq shouldBe Seq(0, 1, 2, 3, 4, 6, 8)
    filled.filter(_.isNullAt(1)).map(_.get(0).toString.toInt).toSeq shouldBe Seq(6, 8)
    // unbounded form: the axis spans the body's own min..max inclusive
    val auto = GraftSql.chSql(spark, sf0001,
      """SELECT rk, count() AS n
        |FROM (SELECT n_regionkey * 2 AS rk FROM nation) t GROUP BY rk
        |ORDER BY rk WITH FILL""".stripMargin).collect()
    auto.map(_.get(0).toString.toInt).toSeq shouldBe (0 to 8)
    auto.filter(_.isNullAt(1)).map(_.get(0).toString.toInt).toSeq shouldBe
      Seq(1, 3, 5, 7)
  }

  test("WITH FILL preserves the SELECT's declared column order") {
    // CH keeps the fill key wherever the SELECT put it; the chSql path
    // (schema-aware) must not move it first
    val df = GraftSql.chSql(spark, sf0001,
      """SELECT count() AS n, n_regionkey AS rk FROM nation
        |GROUP BY n_regionkey ORDER BY rk WITH FILL FROM 0 TO 7""".stripMargin)
    df.columns.toSeq shouldBe Seq("n", "rk")
    val rows = df.collect()
    rows.map(_.get(1).toString.toInt).toSeq shouldBe (0 to 6)
    rows.filter(_.isNullAt(0)).map(_.get(1).toString.toInt).toSeq shouldBe Seq(5, 6)
  }

  test("descending WITH FILL: bounds flip, default step is -1") {
    // FROM 8 (inclusive, the start) TO -1 (exclusive) STEP -2 → grid
    // {8,6,4,2,0}; real keys 0..4 are kept off-grid, output sorted DESC
    val d = GraftSql.chSql(spark, sf0001,
      """SELECT n_regionkey AS rk, count() AS n FROM nation
        |GROUP BY n_regionkey
        |ORDER BY rk DESC WITH FILL FROM 8 TO -1 STEP -2""".stripMargin).collect()
    d.map(_.get(0).toString.toInt).toSeq shouldBe Seq(8, 6, 4, 3, 2, 1, 0)
    d.filter(_.isNullAt(1)).map(_.get(0).toString.toInt).toSeq shouldBe Seq(8, 6)
    // unbounded descending: the axis spans max..min with the -1 default
    val auto = GraftSql.chSql(spark, sf0001,
      """SELECT rk, count() AS n
        |FROM (SELECT n_regionkey * 2 AS rk FROM nation) t GROUP BY rk
        |ORDER BY rk DESC WITH FILL""".stripMargin).collect()
    auto.map(_.get(0).toString.toInt).toSeq shouldBe (8 to 0 by -1)
    auto.filter(_.isNullAt(1)).map(_.get(0).toString.toInt).toSeq shouldBe
      Seq(7, 5, 3, 1)
  }

  test("WITH FILL INTERPOLATE carries the last actual row into filled rows") {
    // each region holds 5 nations at this SF → base rows (rk=0,2,4,6,8)
    // all carry n=5; bare INTERPOLATE(n) forwards it into the odd gaps
    val it = GraftSql.chSql(spark, sf0001,
      """SELECT rk, count() AS n
        |FROM (SELECT n_regionkey * 2 AS rk FROM nation) t GROUP BY rk
        |ORDER BY rk WITH FILL INTERPOLATE (n)""".stripMargin).collect()
    it.map(_.get(0).toString.toInt).toSeq shouldBe (0 to 8)
    it.map(_.get(1).toString.toLong).toSeq shouldBe Seq.fill(9)(5L)
    // AS expr evaluates over the last actual row's values
    val ex = GraftSql.chSql(spark, sf0001,
      """SELECT rk, count() AS n
        |FROM (SELECT n_regionkey * 2 AS rk FROM nation) t GROUP BY rk
        |ORDER BY rk WITH FILL INTERPOLATE (n AS n + 100)""".stripMargin).collect()
    ex.filter(_.get(0).toString.toInt % 2 == 0)
      .map(_.get(1).toString.toLong).toSeq shouldBe Seq.fill(5)(5L)
    ex.filter(_.get(0).toString.toInt % 2 == 1)
      .map(_.get(1).toString.toLong).toSeq shouldBe Seq.fill(4)(105L)
    // the self-referential form warns LOUDLY about the multi-row-gap
    // divergence (last-actual base here vs CH's row-over-row re-eval)
    val buf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try GraftSql.chSql(spark, sf0001,
      """SELECT rk, count() AS n
        |FROM (SELECT n_regionkey * 2 AS rk FROM nation) t GROUP BY rk
        |ORDER BY rk WITH FILL INTERPOLATE (n AS n + 100)""".stripMargin)
      .collect()
    finally System.setErr(oldErr)
    buf.toString should include("references its own target")
  }

  test("zipped multi-array ARRAY JOIN explodes in lockstep") {
    // exact text: one inline(arrays_zip(…)) view with positional aliases
    ChDialect.rewrite(
      "SELECT a, b FROM t ARRAY JOIN xs AS a, ys AS b WHERE a > 0") shouldBe
      ("SELECT a, b FROM t LATERAL VIEW inline(arrays_zip(xs, ys)) " +
        "__aj0 AS a, b WHERE a > 0")
    // behavior: lockstep pairing, not a cross product
    chEqualsSpark(
      """SELECT n_name, x, y FROM nation
        |ARRAY JOIN array(1, 2) AS x, array(n_nationkey, n_regionkey) AS y
        |WHERE n_nationkey < 3 ORDER BY n_name, x""".stripMargin,
      """SELECT n_name, x, y FROM nation
        |LATERAL VIEW inline(arrays_zip(array(1, 2),
        |  array(n_nationkey, n_regionkey))) __z AS x, y
        |WHERE n_nationkey < 3 ORDER BY n_name, x""".stripMargin)
  }

  test("WITH FILL on a DATE axis with an INTERVAL step") {
    // bounds/step pass through verbatim, so sequence() handles dates and
    // intervals natively; TO stays exclusive
    val out = GraftSql.chSql(spark, sf0001,
      """SELECT d, count() AS n
        |FROM (SELECT to_date(o_orderdate) AS d FROM orders) t
        |GROUP BY d
        |ORDER BY d WITH FILL FROM DATE'1995-01-01' TO DATE'1995-01-08'
        |STEP INTERVAL 1 DAY""".stripMargin).collect()
    val dates = out.map(_.getDate(0).toString)
    // every day of the half-open week is present exactly once
    (1 to 7).map(i => f"1995-01-0$i").foreach(d => dates.count(_ == d) shouldBe 1)
    // INJECTED points (null count) honor FROM-inclusive/TO-exclusive;
    // real rows outside the grid are kept (1995-01-08 has an order at
    // this SF and must survive — CH keeps off-grid rows too)
    val injected = out.filter(_.isNullAt(1)).map(_.getDate(0).toString)
    injected should not be empty
    injected.foreach { d =>
      d should be >= "1995-01-01"
      d should be < "1995-01-08"
    }
  }

  test("numbers() table function and FORMAT tail") {
    chEqualsSpark(
      "SELECT count() AS n, CAST(sum(number) AS BIGINT) AS s FROM numbers(10)",
      "SELECT count(*) AS n, CAST(sum(number) AS BIGINT) AS s " +
        "FROM (SELECT explode(sequence(0, 9)) AS number)")
    chEqualsSpark(
      "SELECT min(number) AS lo, max(number) AS hi FROM numbers(5, 3)",
      "SELECT 5L AS lo, 7L AS hi")
    // numbers(0) is legal CH — the empty set, not an error
    GraftSql.chSql(spark, sf0001,
      "SELECT count() AS n FROM numbers(0)").head().getLong(0) shouldBe 0L
    // a trailing FORMAT picks a serialization in CH, never a result set —
    // stripped; 'FORMAT' inside a literal is untouched
    ChDialect.rewrite("SELECT r_name FROM region FORMAT JSONEachRow") shouldBe
      "SELECT r_name FROM region"
    ChDialect.rewrite("SELECT 'x FORMAT CSV' AS s FROM t") shouldBe
      "SELECT 'x FORMAT CSV' AS s FROM t"
    // ...and so does a trailing SETTINGS tail (per-query engine knobs,
    // no result-set meaning), in either order around FORMAT
    ChDialect.rewrite("SELECT r_name FROM region " +
      "SETTINGS max_threads = 8, use_query_cache = 1") shouldBe
      "SELECT r_name FROM region"
    ChDialect.rewrite("SELECT r_name FROM region " +
      "SETTINGS join_algorithm = 'hash' FORMAT CSV") shouldBe
      "SELECT r_name FROM region"
  }

  test("LIMIT offset,n / intDiv / modulo / unix timestamp family") {
    chEqualsSpark(
      "SELECT number FROM numbers(10) ORDER BY number LIMIT 3, 2",
      "SELECT number FROM (SELECT explode(sequence(0, 9)) AS number) " +
        "ORDER BY number LIMIT 2 OFFSET 3")
    chEqualsSpark(
      "SELECT intDiv(n_nationkey, 7) AS d, modulo(n_nationkey, 7) AS m " +
        "FROM nation ORDER BY n_nationkey",
      "SELECT (n_nationkey DIV 7) AS d, (n_nationkey % 7) AS m " +
        "FROM nation ORDER BY n_nationkey")
    chEqualsSpark(
      "SELECT fromUnixTimestamp(0) AS t, toUnixTimestamp(now()) > 0 AS ok",
      "SELECT from_unixtime(0) AS t, unix_timestamp(current_timestamp()) > 0 AS ok")
  }

  test("unsupported shapes fail loudly, not silently") {
    intercept[IllegalArgumentException] {
      // bare ARRAY JOIN col shadows the array column in CH — refused
      ChDialect.rewrite("SELECT x FROM t ARRAY JOIN xs WHERE x > 0")
    }
    intercept[IllegalArgumentException] {
      // WITH FILL INTERPOLATE needs the body's schema — the schema-blind
      // rewrite entry refuses (GraftSql.chSql supplies the analyzer)
      ChDialect.rewrite("SELECT a, b FROM t ORDER BY a WITH FILL INTERPOLATE (b)")
    }
    intercept[IllegalArgumentException] {
      // one-sided bounds — refused
      ChDialect.rewrite("SELECT a FROM t ORDER BY a WITH FILL FROM 0")
    }
    intercept[IllegalArgumentException] {
      // multi-key fill — refused (regex can't anchor), the guard turns
      // the parser error into a clear refusal
      ChDialect.rewrite("SELECT a, b FROM t ORDER BY a, b WITH FILL")
    }
    intercept[IllegalArgumentException] {
      // a bare item inside the zipped multi-array form — same AS rule
      ChDialect.rewrite("SELECT a, b FROM t ARRAY JOIN xs, ys AS b")
    }
    intercept[IllegalArgumentException] {
      ChDialect.rewrite("SELECT sumIf(x) FROM t")
    }
    intercept[IllegalArgumentException] {
      // LIMIT n BY without an ORDER BY is nondeterministic in CH — refused
      ChDialect.rewrite("SELECT o_orderstatus FROM orders LIMIT 2 BY o_orderstatus")
    }
  }

  test("parameterized views bind typed placeholders; bad bindings refused") {
    GraftSql.createParamView("pv_test",
      """SELECT count(*) AS n FROM nation
        |WHERE n_regionkey = {rk:UInt32} AND n_name != {skip:String}"""
        .stripMargin)
    val n = GraftSql.paramView(spark, sf0001, "pv_test",
      Map("rk" -> 1, "skip" -> "CANADA")).head().getLong(0)
    n should be >= 1L
    // a string value with a quote binds as DATA, not as SQL (the
    // injection barrier): syntactically survives and matches nothing
    GraftSql.paramView(spark, sf0001, "pv_test",
      Map("rk" -> 1, "skip" -> "x' OR '1'='1")).head().getLong(0) shouldBe
      (GraftSql.paramView(spark, sf0001, "pv_test",
        Map("rk" -> 1, "skip" -> "NO_SUCH_NATION")).head().getLong(0))
    // an integer placeholder refuses strings, fractions, and negatives
    intercept[Exception] {
      GraftSql.paramView(spark, sf0001, "pv_test",
        Map("rk" -> "1; DROP TABLE nation", "skip" -> ""))
    }.getMessage should include("non-numeric")
    intercept[Exception] {
      GraftSql.paramView(spark, sf0001, "pv_test",
        Map("rk" -> 1.5, "skip" -> ""))
    }.getMessage should include("non-integer")
    intercept[Exception] {
      GraftSql.paramView(spark, sf0001, "pv_test",
        Map("rk" -> -1, "skip" -> ""))
    }.getMessage should include("negative")
    // unbound and unknown parameters are refused
    intercept[Exception] {
      GraftSql.paramView(spark, sf0001, "pv_test", Map("rk" -> 1))
    }.getMessage should include("unbound")
    intercept[Exception] {
      GraftSql.paramView(spark, sf0001, "pv_test",
        Map("rk" -> 1, "skip" -> "", "oops" -> 2))
    }.getMessage should include("unknown parameters")
    // a placeholder-free view is refused at creation
    intercept[Exception] {
      GraftSql.createParamView("pv_plain", "SELECT 1")
    }
    // Decimal(10,2) placeholders (comma in the type) match and bind
    GraftSql.createParamView("pv_dec",
      "SELECT count(*) AS n FROM nation WHERE n_regionkey < {lim:Decimal(10,2)}")
    GraftSql.paramView(spark, sf0001, "pv_dec",
      Map("lim" -> 2.5)).head().getLong(0) should be >= 1L
    // non-finite floats are refused, never rendered as bare NaN/Infinity
    intercept[Exception] {
      GraftSql.paramView(spark, sf0001, "pv_dec", Map("lim" -> Double.NaN))
    }.getMessage should include("non-finite")
    intercept[Exception] {
      GraftSql.paramView(spark, sf0001, "pv_dec",
        Map("lim" -> Double.PositiveInfinity))
    }.getMessage should include("non-finite")
  }

  test("CREATE FUNCTION: macros expand, nest, validate at CREATE, and can't escape quotes") {
    // expansion ≡ hand-inlined SQL
    GraftSql.createFunction(spark, "udf_one_minus", Seq("x"), "1 - x")
    GraftSql.createFunction(spark, "udf_disc", Seq("p", "d"),
      "p * udf_one_minus(d)") // macro calling a macro
    val got = GraftSql.sql(spark, sf0001,
      "SELECT round(sum(udf_disc(l_extendedprice, l_discount)), 2) AS r FROM lineitem")
      .head().getDouble(0)
    val want = GraftSql.sql(spark, sf0001,
      "SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS r FROM lineitem")
      .head().getDouble(0)
    got shouldBe want

    // a body that is a STATEMENT (or smuggles one) fails the expression
    // parser at CREATE — the injection barrier
    intercept[Exception] {
      GraftSql.createFunction(spark, "udf_evil", Seq("x"),
        "1; DROP TABLE lineitem")
    }
    // an unresolvable body (typo'd parameter) fails at CREATE, loudly
    intercept[IllegalArgumentException] {
      GraftSql.createFunction(spark, "udf_typo", Seq("x"), "y + 1")
    }.getMessage should include("does not resolve")
    GraftSql.systemFunctions(spark).collect()
      .map(_.getString(0)) should not contain "udf_typo"

    // the macro name inside a string literal is NEVER rewritten, and a
    // macro argument containing quotes/parens stays one argument
    GraftSql.sql(spark, sf0001,
      "SELECT 'udf_disc(1, 2)' AS s").head().getString(0) shouldBe
      "udf_disc(1, 2)"
    GraftSql.createFunction(spark, "udf_len", Seq("s"), "length(s)")
    GraftSql.sql(spark, sf0001,
      "SELECT udf_len(concat('a)b', '(', ',')) AS n").head().getInt(0) shouldBe 5

    // wrong arity is refused; dotted names are not macro calls
    intercept[Exception] {
      GraftSql.sql(spark, sf0001, "SELECT udf_len(1, 2) FROM lineitem")
    }.getMessage should include("expects 1 argument")

    // a redefinition cycle (legal per-create) is caught by the depth cap
    GraftSql.createFunction(spark, "udf_a", Seq("x"), "x + 1")
    GraftSql.createFunction(spark, "udf_b", Seq("x"), "udf_a(x)")
    intercept[Exception] { // OR REPLACE udf_a in terms of udf_b -> cycle
      GraftSql.createFunction(spark, "udf_a", Seq("x"), "udf_b(x)")
    }
    GraftSql.dropFunction("udf_b") shouldBe true
    GraftSql.dropFunction("udf_b") shouldBe false
    Seq("udf_one_minus", "udf_disc", "udf_len", "udf_a")
      .foreach(GraftSql.dropFunction)
  }

  test("dateDiff counts boundary crossings; age counts complete units") {
    // Dec 31 23:59 → Jan 1 00:01: one YEAR/MONTH/DAY boundary crossed
    // in 2 minutes — the CH contract timestampdiff can't express
    val r = GraftSql.chSql(spark, sf0001,
      """SELECT
        |  dateDiff('year',   toDateTime('2023-12-31 23:59:00'), toDateTime('2024-01-01 00:01:00')) AS dy,
        |  dateDiff('month',  toDateTime('2023-12-31 23:59:00'), toDateTime('2024-01-01 00:01:00')) AS dm,
        |  dateDiff('day',    toDateTime('2023-12-31 23:59:00'), toDateTime('2024-01-01 00:01:00')) AS dd,
        |  dateDiff('hour',   toDateTime('2024-01-01 00:59:00'), toDateTime('2024-01-01 01:01:00')) AS dh,
        |  dateDiff('minute', toDateTime('2024-01-01 00:00:59'), toDateTime('2024-01-01 00:01:01')) AS dmin,
        |  dateDiff('second', toDateTime('2024-01-01 00:00:00'), toDateTime('2024-01-01 00:00:05')) AS ds,
        |  dateDiff('quarter', toDateTime('2024-03-31 12:00:00'), toDateTime('2024-04-01 12:00:00')) AS dq,
        |  dateDiff('week',   toDateTime('2024-01-07 12:00:00'), toDateTime('2024-01-08 12:00:00')) AS dw,
        |  age('year',  toDateTime('2023-12-31 23:59:00'), toDateTime('2024-01-01 00:01:00')) AS ay,
        |  age('day',   toDateTime('2024-01-01 00:00:00'), toDateTime('2024-01-03 23:59:00')) AS ad
        |""".stripMargin).head()
    // 2024-01-07 is a Sunday, 01-08 the following Monday — ISO week flips
    r.toSeq shouldBe Seq(1, 1, 1, 1, 1, 5, 1, 1, 0, 2)
    // unsupported / computed units refuse loudly
    intercept[IllegalArgumentException] {
      ChDialect.rewrite("SELECT dateDiff('fortnight', a, b) FROM t")
    }.getMessage should include("unsupported unit")
    intercept[IllegalArgumentException] {
      ChDialect.rewrite("SELECT dateDiff(u, a, b) FROM t")
    }.getMessage should include("string literal")
  }

  test("add/subtract datetime family and toDayOfWeek/median agree with Spark") {
    chEqualsSpark(
      """SELECT o_orderkey,
        |  addDays(o_orderdate, 3) AS d3, subtractMonths(o_orderdate, 2) AS m2,
        |  addHours(o_orderdate, 5) AS h5, toDayOfWeek(o_orderdate) AS dow
        |FROM orders WHERE o_orderkey < 20""".stripMargin,
      """SELECT o_orderkey,
        |  timestampadd(DAY, 3, o_orderdate) AS d3,
        |  timestampadd(MONTH, -(2), o_orderdate) AS m2,
        |  timestampadd(HOUR, 5, o_orderdate) AS h5,
        |  (((dayofweek(o_orderdate) + 5) % 7) + 1) AS dow
        |FROM orders WHERE o_orderkey < 20""".stripMargin)
    chEqualsSpark(
      "SELECT median(o_totalprice) AS m FROM orders",
      "SELECT percentile(o_totalprice, 0.5) AS m FROM orders")
    // parseDateTimeBestEffort: ISO spellings parse; OrNull is null-safe
    val p = GraftSql.chSql(spark, sf0001,
      """SELECT parseDateTimeBestEffort('2024-03-05 12:30:00') AS a,
        |  parseDateTimeBestEffortOrNull('not a date') AS b""".stripMargin).head()
    String.valueOf(p.get(0)) should startWith("2024-03-05 12:30")
    p.isNullAt(1) shouldBe true
  }

  test("arithmetic array family and range lower to aggregate/transform") {
    val r = GraftSql.chSql(spark, sf0001,
      """SELECT
        |  arraySum(range(5)) AS s,
        |  arraySum(x -> x * 2, range(5)) AS s2,
        |  arrayAvg(range(5)) AS av,
        |  arrayMin(range(5)) AS mn, arrayMax(range(5)) AS mx,
        |  arrayMax(x -> -x, range(5)) AS mxl,
        |  arrayCumSum(range(5)) AS cs,
        |  arrayDifference(array(1, 4, 9, 16)) AS df,
        |  range(0) AS r0, range(2, 6) AS r2, range(0, 10, 3) AS r3,
        |  arrayAvg(range(0)) AS avEmpty
        |""".stripMargin).head()
    r.getDouble(0) shouldBe 10.0
    r.getDouble(1) shouldBe 20.0
    r.getDouble(2) shouldBe 2.0
    r.getLong(3) shouldBe 0L
    r.getLong(4) shouldBe 4L
    r.getLong(5) shouldBe 0L
    r.getSeq[Double](6) shouldBe Seq(0.0, 1.0, 3.0, 6.0, 10.0)
    r.getSeq[Double](7) shouldBe Seq(0.0, 3.0, 5.0, 7.0)
    r.getSeq[Long](8) shouldBe Seq.empty
    r.getSeq[Long](9) shouldBe Seq(2L, 3L, 4L, 5L)
    r.getSeq[Long](10) shouldBe Seq(0L, 3L, 6L, 9L)
    r.isNullAt(11) shouldBe true
  }

  test("URL, IPv4, and geo families lower to parse_url/bit-ops/haversine") {
    val r = GraftSql.chSql(spark, sf0001,
      """SELECT
        |  protocol('https://www.example.com/a/b?k=1&t=x#f') AS proto,
        |  domain('https://www.example.com/a/b?k=1') AS host,
        |  domainWithoutWWW('https://www.example.com/a/b') AS host2,
        |  topLevelDomain('https://www.example.com/a/b') AS tld,
        |  path('https://www.example.com/a/b?k=1') AS pth,
        |  queryString('https://www.example.com/a/b?k=1&t=x') AS qs,
        |  extractURLParameter('https://www.example.com/a/b?k=1&t=x', 't') AS t,
        |  cutQueryString('https://e.com/a?k=1#frag') AS cut,
        |  IPv4NumToString(3232235777) AS ip,
        |  IPv4StringToNum('192.168.1.1') AS ipn,
        |  CAST(floor(greatCircleDistance(2.3522, 48.8566, 2.3522, 49.8566) / 100) AS BIGINT) AS dm
        |""".stripMargin).head()
    r.getString(0) shouldBe "https"
    r.getString(1) shouldBe "www.example.com"
    r.getString(2) shouldBe "example.com"
    r.getString(3) shouldBe "com"
    r.getString(4) shouldBe "/a/b"
    r.getString(5) shouldBe "k=1&t=x"
    r.getString(6) shouldBe "x"
    r.getString(7) shouldBe "https://e.com/a#frag"
    r.getString(8) shouldBe "192.168.1.1"
    r.getLong(9) shouldBe 3232235777L
    // one degree of latitude ≈ 111.19 km on the mean-radius sphere
    r.getLong(10) shouldBe 1111L
  }

  test("* EXCEPT col normalizes; GROUP BY ALL and toMinute family pass") {
    chEqualsSpark(
      "SELECT * EXCEPT o_orderstatus FROM orders WHERE o_orderkey < 5",
      "SELECT * EXCEPT (o_orderstatus) FROM orders WHERE o_orderkey < 5")
    chEqualsSpark(
      """SELECT o_orderstatus, toQuarter(o_orderdate) AS q, count() AS n
        |FROM orders GROUP BY ALL""".stripMargin,
      """SELECT o_orderstatus, quarter(o_orderdate) AS q, count(*) AS n
        |FROM orders GROUP BY o_orderstatus, quarter(o_orderdate)""".stripMargin)
    // set-operation EXCEPT is untouched by the normalizer
    ChDialect.rewrite(
      "SELECT a FROM t EXCEPT SELECT a FROM u") shouldBe
      "SELECT a FROM t EXCEPT SELECT a FROM u"
  }

  test("QUALIFY nests the body and hoists direct window expressions") {
    // alias form: the predicate references a selected window column
    chEqualsSpark(
      """SELECT o_custkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |FROM orders QUALIFY rn <= 2 ORDER BY o_custkey, rn LIMIT 40""".stripMargin,
      """SELECT * FROM (
        |  SELECT o_custkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn LIMIT 40""".stripMargin)
    // direct form: the window expression sits IN the predicate (WHERE
    // can't hold it — it must hoist) and the OVER's own ORDER BY must
    // not be mistaken for the statement tail
    chEqualsSpark(
      """SELECT o_custkey, o_orderkey FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey) = 1
        |ORDER BY o_custkey LIMIT 30""".stripMargin,
      """SELECT o_custkey, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey LIMIT 30""".stripMargin)
    // named windows refuse loudly
    intercept[IllegalArgumentException] {
      ChDialect.rewrite(
        "SELECT a FROM t QUALIFY row_number() OVER w = 1")
    }.getMessage should include("named windows")
  }

  test("uniqIf/uniqExactIf/anyIf/groupArrayIf lower to CASE aggregates") {
    chEqualsSpark(
      """SELECT o_orderstatus,
        |  uniqExactIf(o_custkey, o_orderpriority = '1-URGENT') AS ue,
        |  CAST(uniqIf(o_custkey, o_orderpriority = '1-URGENT') AS BIGINT) AS u,
        |  size(groupArrayIf(o_orderkey, o_orderkey < 5)) AS ga
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
      """SELECT o_orderstatus,
        |  count(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN o_custkey END) AS ue,
        |  CAST(approx_count_distinct(CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN o_custkey END) AS BIGINT) AS u,
        |  size(collect_list(CASE WHEN o_orderkey < 5
        |    THEN o_orderkey END)) AS ga
        |FROM orders GROUP BY o_orderstatus""".stripMargin)
    // anyIf: only the predicate-true value is eligible — a group whose
    // predicate never fires yields NULL, like CH's default-value stance
    // modulo the documented NULL-vs-default divergence
    val r = GraftSql.chSql(spark, sf0001,
      """SELECT anyIf(o_orderpriority, o_orderkey = 1) AS a,
        |  anyIf(o_orderpriority, o_orderkey < 0) AS b
        |FROM orders""".stripMargin).head()
    r.getString(0) should not be null
    r.isNullAt(1) shouldBe true
  }

  test("array bracket literals become array(); subscripts stay subscripts") {
    val r = GraftSql.chSql(spark, sf0001,
      """SELECT [1, 2, 3] AS a, ['x', 'y'] AS b,
        |  [[1, 2], [3]] AS nested,
        |  map('k', [7, 8])['k'] AS sub,
        |  [1, 2][2] AS litsub,
        |  has([10, 20, 30], 20) AS h
        |""".stripMargin).head()
    r.getSeq[Int](0) shouldBe Seq(1, 2, 3)
    r.getSeq[String](1) shouldBe Seq("x", "y")
    r.getSeq[Seq[Int]](2) shouldBe Seq(Seq(1, 2), Seq(3))
    r.getSeq[Int](3) shouldBe Seq(7, 8)
    r.getInt(4) shouldBe 2
    r.getBoolean(5) shouldBe true
  }

  test("toTimeZone/toISOWeek/toISOYear/formatReadable* lower as documented") {
    val r = GraftSql.chSql(spark, sf0001,
      """SELECT
        |  date_format(toTimeZone(toDateTime('2024-06-15 12:00:00'),
        |    'Asia/Tokyo'), 'yyyy-MM-dd HH:mm:ss') AS tokyo,
        |  toISOWeek(toDate('2024-01-01')) AS w1,
        |  toISOYear(toDate('2024-12-30')) AS y1,
        |  toISOYear(toDate('2021-01-01')) AS y2,
        |  formatReadableSize(1300000) AS sz,
        |  formatReadableSize(512) AS szb,
        |  formatReadableQuantity(1024) AS q1,
        |  formatReadableQuantity(1234567890) AS q2
        |""".stripMargin).head()
    r.getString(0) shouldBe "2024-06-15 21:00:00" // UTC+9
    r.getInt(1) shouldBe 1      // 2024-01-01 is a Monday, ISO week 1
    r.getInt(2) shouldBe 2025   // 2024-12-30 belongs to ISO year 2025
    r.getInt(3) shouldBe 2020   // 2021-01-01 belongs to ISO year 2020
    r.getString(4) shouldBe "1.24 MiB"
    r.getString(5) shouldBe "512.00 B"
    r.getString(6) shouldBe "1.02 thousand"
    r.getString(7) shouldBe "1.23 billion"
  }

  // ——— everyday tier 4 (round 12, second pass) ———

  test("tier-4 string family rewrites and agrees") {
    chEqualsSpark(
      """SELECT extract(o_orderpriority, '([A-Z]+)') AS g,
        |  extract(o_orderpriority, '[A-Z]+') AS w,
        |  extractAll(o_orderpriority, '[A-Z]+') AS aw,
        |  countSubstrings(o_orderpriority, 'E') AS cs,
        |  base64Decode(base64Encode(o_orderstatus)) AS b64,
        |  splitByWhitespace(concat(' ', o_orderstatus, '  x ')) AS sw,
        |  format('{}#{}', o_orderstatus, o_orderpriority) AS f1,
        |  format('{1}~{0}', o_orderstatus, o_orderpriority) AS f2,
        |  positionCaseInsensitive(o_orderpriority, 'urgent') AS pci,
        |  multiSearchAny(o_orderpriority, ['URG', 'ZZZ']) AS ms
        |FROM orders WHERE o_orderkey < 50""".stripMargin,
      """SELECT regexp_extract(o_orderpriority, '([A-Z]+)', 1) AS g,
        |  regexp_extract(o_orderpriority, '[A-Z]+', 0) AS w,
        |  regexp_extract_all(o_orderpriority, '[A-Z]+', 0) AS aw,
        |  ((length(o_orderpriority) -
        |    length(replace(o_orderpriority, 'E'))) DIV length('E')) AS cs,
        |  CAST(unbase64(base64(CAST(o_orderstatus AS BINARY))) AS STRING) AS b64,
        |  filter(split(concat(' ', o_orderstatus, '  x '), '\\s+'),
        |         __t -> __t <> '') AS sw,
        |  format_string('%s#%s', o_orderstatus, o_orderpriority) AS f1,
        |  format_string('%2$s~%1$s', o_orderstatus, o_orderpriority) AS f2,
        |  locate(lower('urgent'), lower(o_orderpriority)) AS pci,
        |  exists(array('URG', 'ZZZ'),
        |         __n -> locate(__n, o_orderpriority) > 0) AS ms
        |FROM orders WHERE o_orderkey < 50""".stripMargin)
  }

  test("tier-4 string-JSON door: simpleJSON/visitParam/JSONHas/JSONLength/JSON_VALUE") {
    val r = GraftSql.chSql(spark, sf0001,
      """SELECT simpleJSONExtractString('{"k":"v"}', 'k') AS a,
        |  simpleJSONExtractString('{}', 'k') AS miss,
        |  visitParamExtractInt('{"n": 42}', 'n') AS n,
        |  simpleJSONExtractFloat('{"f": 1.5}', 'f') AS f,
        |  visitParamExtractBool('{"b": true}', 'b') AS b,
        |  JSONHas('{"a":1}', 'a') AS h1, JSONHas('{"a":1}', 'z') AS h0,
        |  JSONLength('[1,2,3]') AS la, JSONLength('{"x":1,"y":2}') AS lo,
        |  JSON_VALUE('{"p":{"q":"deep"}}', '$.p.q') AS jv
        |""".stripMargin).head()
    r.getString(0) shouldBe "v"
    r.getString(1) shouldBe "" // CH returns the type default on a miss
    r.getLong(2) shouldBe 42L
    r.getDouble(3) shouldBe 1.5
    r.getBoolean(4) shouldBe true
    r.getBoolean(5) shouldBe true
    r.getBoolean(6) shouldBe false
    r.getInt(7) shouldBe 3
    r.getInt(8) shouldBe 2
    r.getString(9) shouldBe "deep"
  }

  test("tier-4 date family rewrites and agrees") {
    chEqualsSpark(
      """SELECT toMonday(o_orderdate) AS mon,
        |  toRelativeDayNum(o_orderdate) AS rd,
        |  toRelativeHourNum(o_orderdate) AS rh,
        |  toYYYYMMDD(o_orderdate) AS ymd,
        |  toYYYYMMDDhhmmss(o_orderdate) AS ymdhms,
        |  dateName('month', o_orderdate) AS mn,
        |  dateName('weekday', o_orderdate) AS wd,
        |  toTime(o_orderdate) AS tt,
        |  timeSlot(o_orderdate) AS slot,
        |  toUnixTimestamp64Milli(o_orderdate) AS ms,
        |  fromUnixTimestamp64Milli(toUnixTimestamp64Milli(o_orderdate)) AS rt,
        |  toLastDayOfMonth(o_orderdate) AS eom,
        |  makeDate(2024, 2, 29) AS md
        |FROM orders WHERE o_orderkey < 20""".stripMargin,
      """SELECT CAST(date_trunc('WEEK', o_orderdate) AS DATE) AS mon,
        |  datediff(to_date(o_orderdate), DATE'1970-01-01') AS rd,
        |  (unix_timestamp(o_orderdate) DIV 3600) AS rh,
        |  CAST(date_format(o_orderdate, 'yyyyMMdd') AS INT) AS ymd,
        |  CAST(date_format(o_orderdate, 'yyyyMMddHHmmss') AS BIGINT) AS ymdhms,
        |  date_format(o_orderdate, 'MMMM') AS mn,
        |  date_format(o_orderdate, 'EEEE') AS wd,
        |  timestamp_seconds(86400 + (unix_timestamp(o_orderdate) % 86400)) AS tt,
        |  timestamp_seconds((unix_timestamp(o_orderdate) DIV 1800) * 1800) AS slot,
        |  (unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 1000) AS ms,
        |  timestamp_millis(unix_micros(CAST(o_orderdate AS TIMESTAMP))
        |                   DIV 1000) AS rt,
        |  last_day(o_orderdate) AS eom,
        |  make_date(2024, 2, 29) AS md
        |FROM orders WHERE o_orderkey < 20""".stripMargin)
  }

  test("tier-4 type conversions: decimals, OrZero/OrNull, accurateCast, toUUID") {
    val r = GraftSql.chSql(spark, sf0001,
      """SELECT toDecimal64(1.239, 2) AS d,
        |  toInt64OrZero('12x') AS z, toInt64OrZero('12') AS tw,
        |  toInt64OrNull('nope') AS nn, toFloat64OrNull('1.5') AS f,
        |  toDateOrNull('2024-01-02') AS dt, toDateOrNull('junk') AS dj,
        |  accurateCast(65, 'String') AS acs,
        |  accurateCastOrNull('x', 'Int64') AS acn,
        |  toUUID('61f0c404-5cb3-11e7-907b-a6006ad3dba0') AS u
        |""".stripMargin).head()
    r.getDecimal(0).toPlainString shouldBe "1.24"
    r.getLong(1) shouldBe 0L
    r.getLong(2) shouldBe 12L
    r.isNullAt(3) shouldBe true
    r.getDouble(4) shouldBe 1.5
    String.valueOf(r.getDate(5)) shouldBe "2024-01-02"
    r.isNullAt(6) shouldBe true
    r.getString(7) shouldBe "65"
    r.isNullAt(8) shouldBe true
    r.getString(9) shouldBe "61f0c404-5cb3-11e7-907b-a6006ad3dba0"
    intercept[IllegalArgumentException] {
      GraftSql.chSql(spark, sf0001, "SELECT accurateCast(1, 'IPv6') AS x")
    }.getMessage should include("unsupported type")
  }

  test("tier-4 array family values match ClickHouse semantics") {
    val r = GraftSql.chSql(spark, sf0001,
      """SELECT hasAll([1,2,3], [2,3]) AS ha, hasAll([1,2], [2,5]) AS hn,
        |  hasAny([1,2], [5,2]) AS ay,
        |  arrayIntersect([1,2,3], [2,3,4]) AS ai,
        |  arrayResize([1,2,3], 2) AS shrink, arrayResize([1,2], 4, 9) AS grow,
        |  arrayReverseSort([3,1,2]) AS rs,
        |  arrayCompact([1,1,2,2,1,3,3]) AS cp,
        |  arrayPopBack([1,2,3]) AS pb, arrayPopFront([1,2,3]) AS pf,
        |  arrayReduce('sum', [1,2,3]) AS red,
        |  arrayReduce('uniqExact', [1,1,2]) AS ru,
        |  arrayRotateLeft([1,2,3,4], 1) AS rl,
        |  arrayRotateRight([1,2,3,4], 1) AS rr,
        |  arrayLast(x -> x < 3, [1,2,3]) AS al,
        |  arrayLastIndex(x -> x < 3, [1,2,3]) AS ali,
        |  arrayLastIndex(x -> x > 9, [1,2]) AS alz,
        |  emptyArrayInt64() AS ea,
        |  arrayWithConstant(3, 'x') AS wc,
        |  arrayShingles([1,2,3,4], 2) AS sh,
        |  arrayShingles([1], 3) AS she
        |""".stripMargin).head()
    r.getBoolean(0) shouldBe true
    r.getBoolean(1) shouldBe false
    r.getBoolean(2) shouldBe true
    r.getSeq[Int](3).sorted shouldBe Seq(2, 3)
    r.getSeq[Int](4) shouldBe Seq(1, 2)
    r.getSeq[Int](5) shouldBe Seq(1, 2, 9, 9)
    r.getSeq[Int](6) shouldBe Seq(3, 2, 1)
    r.getSeq[Int](7) shouldBe Seq(1, 2, 1, 3)
    r.getSeq[Int](8) shouldBe Seq(1, 2)
    r.getSeq[Int](9) shouldBe Seq(2, 3)
    r.getDouble(10) shouldBe 6.0
    r.getInt(11) shouldBe 2
    r.getSeq[Int](12) shouldBe Seq(2, 3, 4, 1)
    r.getSeq[Int](13) shouldBe Seq(4, 1, 2, 3)
    r.getInt(14) shouldBe 2
    r.getLong(15) shouldBe 2L
    r.getLong(16) shouldBe 0L
    r.getSeq[Long](17) shouldBe Seq.empty
    r.getSeq[String](18) shouldBe Seq("x", "x", "x")
    r.getSeq[Seq[Int]](19) shouldBe Seq(Seq(1, 2), Seq(2, 3), Seq(3, 4))
    r.getSeq[Seq[Int]](20) shouldBe Seq.empty
  }

  test("tier-4 tuple/map: tuple/tupleElement/mapFromArrays/mapAdd/mapSubtract") {
    val r = GraftSql.chSql(spark, sf0001,
      """SELECT tupleElement(tuple(7, 'a'), 1) AS t1,
        |  tupleElement(tuple(7, 'a'), 2) AS t2,
        |  mapFromArrays(['a','b'], [1,2]) AS mf,
        |  mapAdd(map('a', 1, 'b', 2), map('b', 10, 'c', 3)) AS ma,
        |  mapSubtract(map('a', 5), map('a', 2, 'z', 1)) AS msu
        |""".stripMargin).head()
    r.getInt(0) shouldBe 7
    r.getString(1) shouldBe "a"
    r.getMap[String, Int](2) shouldBe Map("a" -> 1, "b" -> 2)
    r.getMap[String, Int](3) shouldBe Map("a" -> 1, "b" -> 12, "c" -> 3)
    r.getMap[String, Int](4) shouldBe Map("a" -> 3, "z" -> -1)
  }

  test("tier-4 bit/math/encoding values match ClickHouse semantics") {
    val r = GraftSql.chSql(spark, sf0001,
      """SELECT bitAnd(12, 10) AS ba, bitOr(12, 10) AS bo,
        |  bitXor(12, 10) AS bx, bitNot(0) AS bn,
        |  bitShiftLeft(1, 4) AS sl, bitShiftRight(16, 2) AS sr,
        |  bitCount(255) AS bc, bitTest(5, 0) AS t0, bitTest(5, 1) AS t1,
        |  roundBankers(2.5) AS rb1, roundBankers(3.5) AS rb2,
        |  intDivOrZero(10, 0) AS dz, moduloOrZero(10, 0) AS mz,
        |  plus(1, 2) AS pl, divide(10, 4) AS dv, negate(5) AS ng,
        |  roundToExp2(100) AS e2, roundDuration(45) AS rd,
        |  roundAge(32) AS ra, bin(5) AS b5, bin(300) AS b300,
        |  char(72, 105) AS ch,
        |  transform(2, [1, 2], ['a', 'b'], '?') AS tr,
        |  transform(9, [1, 2], ['a', 'b'], '?') AS td,
        |  isFinite(1.5) AS fin, isInfinite(exp(1000)) AS inf,
        |  SHA256('abc') AS sha
        |""".stripMargin).head()
    def n(i: Int): Long = r.getAs[Number](i).longValue
    n(0) shouldBe 8L
    n(1) shouldBe 14L
    n(2) shouldBe 6L
    n(3) shouldBe -1L
    n(4) shouldBe 16L
    n(5) shouldBe 4L
    n(6) shouldBe 8L
    n(7) shouldBe 1L
    n(8) shouldBe 0L
    r.getAs[Number](9).doubleValue shouldBe 2.0
    r.getAs[Number](10).doubleValue shouldBe 4.0
    n(11) shouldBe 0L
    n(12) shouldBe 0L
    n(13) shouldBe 3L
    r.getAs[Number](14).doubleValue shouldBe 2.5
    n(15) shouldBe -5L
    n(16) shouldBe 64L
    n(17) shouldBe 30L
    n(18) shouldBe 25L
    r.getString(19) shouldBe "00000101"
    r.getString(20) shouldBe "0000000100101100"
    r.getString(21) shouldBe "Hi"
    r.getString(22) shouldBe "b"
    r.getString(23) shouldBe "?"
    r.getBoolean(24) shouldBe true
    r.getBoolean(25) shouldBe true
    r.getString(26) shouldBe
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"
  }

  test("tier-4 aggregate renames and shapes agree") {
    chEqualsSpark(
      """SELECT o_orderstatus, stddevPop(o_totalprice) AS sp,
        |  varSamp(o_totalprice) AS vs,
        |  covarPop(o_totalprice, CAST(o_custkey AS Float64)) AS cv,
        |  skewPop(o_totalprice) AS sk,
        |  groupBitAnd(o_orderkey) AS gba, groupBitOr(o_orderkey) AS gbo,
        |  groupBitXor(o_orderkey) AS gbx,
        |  avgWeighted(o_totalprice, (o_orderkey % 7) + 1) AS aw,
        |  uniqCombined(o_custkey) AS uc,
        |  quantileTDigest(0.5)(o_totalprice) AS qtd
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
      """SELECT o_orderstatus, stddev_pop(o_totalprice) AS sp,
        |  var_samp(o_totalprice) AS vs,
        |  covar_pop(o_totalprice, CAST(o_custkey AS DOUBLE)) AS cv,
        |  skewness(o_totalprice) AS sk,
        |  bit_and(o_orderkey) AS gba, bit_or(o_orderkey) AS gbo,
        |  bit_xor(o_orderkey) AS gbx,
        |  (sum(o_totalprice * ((o_orderkey % 7) + 1)) /
        |   sum((o_orderkey % 7) + 1)) AS aw,
        |  approx_count_distinct(o_custkey) AS uc,
        |  approx_percentile(o_totalprice, 0.5) AS qtd
        |FROM orders GROUP BY o_orderstatus""".stripMargin)
  }

  test("tier-4 kurtPop is non-excess, sumCount nests, groupConcat joins") {
    val r = GraftSql.chSql(spark, sf0001,
      """SELECT round(kurtPop(x), 6) AS kp,
        |  sumCount(x).sum AS s, sumCount(x).count AS c,
        |  groupConcat(',')(CAST(x AS String)) AS gc,
        |  groupConcat(CAST(x AS String)) AS gp
        |FROM (SELECT toFloat64(1.0) AS x UNION ALL SELECT toFloat64(2.0)
        |      UNION ALL SELECT toFloat64(3.0) UNION ALL SELECT toFloat64(4.0))""".stripMargin).head()
    // m4/m2^2 over {1,2,3,4}: m2 = 1.25, m4 = 2.5625 -> 1.64 exactly
    r.getDouble(0) shouldBe 1.64
    r.getDouble(1) shouldBe 10.0
    r.getLong(2) shouldBe 4L
    r.getString(3).split(",").map(_.toDouble).sorted shouldBe
      Array(1.0, 2.0, 3.0, 4.0)
    r.getString(4).length shouldBe 12 // '1.0'..'4.0' concatenated, any order
  }

  test("tier-4 sumMap/minMap/maxMap merge key-wise with sorted keys") {
    val r = GraftSql.chSql(spark, sf0001,
      """SELECT sumMap(m) AS sm, minMap(m) AS mn, maxMap(m) AS mx,
        |  sumMap(ks, vs) AS s2
        |FROM (SELECT map('b', 2.0, 'a', 1.0) AS m,
        |             ['x', 'y'] AS ks, [1.0, 2.0] AS vs
        |      UNION ALL
        |      SELECT map('b', 3.0, 'c', 4.0) AS m,
        |             ['y', 'z'] AS ks, [10.0, 20.0] AS vs)""".stripMargin)
      .head()
    r.getMap[String, Double](0) shouldBe
      Map("a" -> 1.0, "b" -> 5.0, "c" -> 4.0)
    r.getMap[String, Double](1) shouldBe
      Map("a" -> 1.0, "b" -> 2.0, "c" -> 4.0)
    r.getMap[String, Double](2) shouldBe
      Map("a" -> 1.0, "b" -> 3.0, "c" -> 4.0)
    r.getMap[String, Double](3) shouldBe
      Map("x" -> 1.0, "y" -> 12.0, "z" -> 20.0)
    // CH returns keys SORTED — pin the order, not just the content
    GraftSql.chSql(spark, sf0001,
      """SELECT arrayStringConcat(mapKeys(sumMap(m)), ',') AS ks
        |FROM (SELECT map('z', 1.0, 'a', 2.0) AS m)""".stripMargin)
      .head().getString(0) shouldBe "a,z"
  }

  test("DISTINCT ON lowers to LIMIT 1 BY; refuses without ORDER BY") {
    chEqualsSpark(
      """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
        |FROM orders ORDER BY o_custkey, o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_custkey, o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin)
    intercept[IllegalArgumentException] {
      GraftSql.chSql(spark, sf0001,
        "SELECT DISTINCT ON (o_custkey) o_custkey FROM orders")
    }.getMessage should include("ORDER BY is required")
  }

  test("LIMIT n WITH TIES keeps every row tying with the n-th") {
    // keys <= 20: priorities group as 1:3, 2:3, 3:5, 4:4, 5:6 rows —
    // LIMIT 4 WITH TIES over the priority prefix must extend to 6 rows
    // (the 4th row ties into the '2' group)
    val got = GraftSql.chSql(spark, sf0001,
      """SELECT substring(o_orderpriority, 1, 1) AS p FROM orders
        |WHERE o_orderkey <= 20
        |ORDER BY p
        |LIMIT 4 WITH TIES""".stripMargin).collect().map(_.getString(0))
    got.length shouldBe 6
    got.toSet shouldBe Set("1", "2")
  }

  test("OFFSET/FETCH forms lower to LIMIT/OFFSET") {
    val got = GraftSql.chSql(spark, sf0001,
      """SELECT o_orderkey FROM orders ORDER BY o_orderkey
        |OFFSET 2 ROWS FETCH FIRST 3 ROWS ONLY""".stripMargin)
      .collect().map(_.getLong(0))
    got shouldBe Array(2L, 3L, 4L)
    val bare = GraftSql.chSql(spark, sf0001,
      """SELECT o_orderkey FROM orders ORDER BY o_orderkey
        |FETCH NEXT 2 ROWS ONLY""".stripMargin).collect().map(_.getLong(0))
    bare shouldBe Array(0L, 1L)
    intercept[IllegalArgumentException] {
      GraftSql.chSql(spark, sf0001,
        """SELECT o_orderkey FROM orders ORDER BY o_orderkey
          |OFFSET 2 ROWS FETCH FIRST 3 ROWS WITH TIES""".stripMargin)
    }.getMessage should include("no deterministic lowering")
  }

  test("* REPLACE expands through the analyzer keeping column positions") {
    val df = GraftSql.chSql(spark, sf0001,
      """SELECT * REPLACE (n_nationkey * 100 AS n_nationkey) FROM nation
        |ORDER BY n_nationkey LIMIT 2""".stripMargin)
    df.columns.toSeq shouldBe Seq("n_nationkey", "n_name", "n_regionkey")
    df.collect().map(_.getAs[Number](0).longValue) shouldBe Array(0L, 100L)
    intercept[IllegalArgumentException] {
      GraftSql.chSql(spark, sf0001,
        "SELECT * REPLACE (1 AS nope) FROM nation")
    }.getMessage should include("unknown column")
  }

  test("system.one, GLOBAL IN, COLLATE, and the no-twin refusals") {
    GraftSql.chSql(spark, sf0001, "SELECT 1 AS x FROM system.one")
      .head().getInt(0) shouldBe 1
    GraftSql.chSql(spark, sf0001, "SELECT dummy FROM system.one")
      .head().getByte(0) shouldBe 0.toByte
    GraftSql.chSql(spark, sf0001,
      """SELECT count() AS n FROM orders
        |WHERE o_custkey GLOBAL IN (SELECT c_custkey FROM customer)
        |  AND o_orderkey GLOBAL NOT IN (SELECT o_orderkey FROM orders
        |                                WHERE o_orderkey > 10)""".stripMargin)
      .head().getLong(0) should be > 0L
    GraftSql.chSql(spark, sf0001,
      """SELECT o_orderstatus FROM orders
        |ORDER BY o_orderstatus COLLATE 'en' LIMIT 1""".stripMargin)
      .head().getString(0) shouldBe "F"
    Seq(
      "SELECT 1 FROM (SELECT 1 AS a) t1 PASTE JOIN (SELECT 2 AS b) t2" -> "PASTE JOIN",
      "SELECT 1 FROM events e ALL LEFT JOIN orders o ON e.user_id = o.o_custkey" -> "ALL JOIN",
      "SELECT 1 FROM orders WHERE COLUMNS('o_.*') > 0" -> "select list",
      "SELECT deltaSum(value) FROM events" -> "deltaSum",
      "SELECT topKWeighted(3)(event_type, 2) FROM events" -> "topKWeighted",
      "SELECT groupArrayMovingSum(value) FROM events" -> "groupArrayMovingSum",
      "SELECT kurtSamp(value) FROM events" -> "kurtSamp"
    ).foreach { case (q, needle) =>
      val msg = intercept[Exception] {
        GraftSql.chSql(spark, sf0001, q).collect()
      }.getMessage
      msg should include(needle)
    }
  }

  test("ASOF [LEFT] JOIN as text lowers onto the row_number nest") {
    // parity: the dialect door vs the same semantics restated natively
    // (purchase event_ids are unique, so the restatement can partition
    // by them directly where the door uses its per-left-row helper id)
    def restated(dir: String, op: String): Array[org.apache.spark.sql.Row] =
      GraftSql.sql(spark, sf0001,
        s"""SELECT e, lc FROM (
           |  SELECT b.event_id AS e, c.ts AS lc,
           |    row_number() OVER (PARTITION BY b.event_id
           |      ORDER BY c.ts $dir) AS rn
           |  FROM (SELECT * FROM events WHERE event_type = 'purchase') b
           |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           |    ON b.user_id = c.user_id AND b.ts $op c.ts
           |) WHERE rn = 1 ORDER BY e""".stripMargin).collect()
    def door(op: String): Array[org.apache.spark.sql.Row] =
      GraftSql.chSql(spark, sf0001,
        s"""SELECT b.event_id AS e, c.ts AS lc
           |FROM (SELECT * FROM events WHERE event_type = 'purchase') b
           |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           |  ON b.user_id = c.user_id AND b.ts $op c.ts
           |ORDER BY e""".stripMargin).collect()
    door(">=") shouldBe restated("DESC", ">=")   // latest at-or-before
    door("<=") shouldBe restated("ASC", "<=")    // earliest at-or-after
    door(">") shouldBe restated("DESC", ">")     // strictly before
    // inner ASOF drops unmatched left rows
    val inner = GraftSql.chSql(spark, sf0001,
      """SELECT b.event_id AS e, c.ts AS lc
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') b
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON b.user_id = c.user_id AND b.ts >= c.ts
        |ORDER BY e""".stripMargin).collect()
    inner shouldBe restated("DESC", ">=").filter(!_.isNullAt(1))
    inner.length should be < restated("DESC", ">=").length
    // flipped operand orientation resolves to the same DESC pick
    GraftSql.chSql(spark, sf0001,
      """SELECT b.event_id AS e, c.ts AS lc
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') b
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.ts <= b.ts AND b.user_id = c.user_id
        |ORDER BY e""".stripMargin).collect() shouldBe restated("DESC", ">=")
    // USING spelling: last column is the >=-keyed asof column
    GraftSql.chSql(spark, sf0001,
      """SELECT b.event_id AS e, c.ts AS lc
        |FROM (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'purchase') b
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events
        |      WHERE event_type = 'click') c USING (user_id, ts)
        |ORDER BY e""".stripMargin).collect() shouldBe restated("DESC", ">=")
    // SELECT * excludes the lowering's helper id; WHERE on left-side
    // columns commutes with the asof match
    GraftSql.chSql(spark, sf0001,
      """SELECT * FROM
        |  (SELECT event_id AS pe, user_id AS pu, ts AS pt FROM events
        |   WHERE event_type = 'purchase') b
        |ASOF LEFT JOIN
        |  (SELECT user_id AS cu, ts AS ct FROM events
        |   WHERE event_type = 'click') c
        |  ON b.pu = c.cu AND b.pt >= c.ct
        |ORDER BY pe""".stripMargin)
      .columns shouldBe Array("pe", "pu", "pt", "cu", "ct")
    GraftSql.chSql(spark, sf0001,
      """SELECT b.event_id AS e, c.ts AS lc
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') b
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON b.user_id = c.user_id AND b.ts >= c.ts
        |WHERE b.event_id < 200
        |ORDER BY e""".stripMargin).collect() shouldBe
      restated("DESC", ">=").filter(_.getLong(0) < 200)
  }

  test("ASOF JOIN resolves equal (key, time) candidates deterministically") {
    // two right rows tie exactly on the asof pick; the nest's serialized-
    // row tiebreaker must elect the same winner every run regardless of
    // partition order (CH's own ASOF is arbitrary here — the repo's
    // groupConcat stance: deterministic beats bug-compatible)
    import spark.implicits._
    Seq((1, 10L)).toDF("k", "ts").createOrReplaceTempView("asof_tie_l")
    Seq((1, 5L, "zz"), (1, 5L, "aa"), (1, 3L, "mm"))
      .toDF("k", "ts", "v").repartition(7)
      .createOrReplaceTempView("asof_tie_r")
    val q = """SELECT l.k AS k, r.v AS v FROM asof_tie_l l
              |ASOF JOIN asof_tie_r r ON l.k = r.k AND l.ts >= r.ts"""
      .stripMargin
    val winners = (1 to 4)
      .map(_ => GraftSql.chSql(spark, sf0001, q).head().getString(1))
      .toSet
    // ties order by to_json(struct(r.*)): {"k":1,"ts":5,"v":"aa"} < "zz"
    winners shouldBe Set("aa")
  }

  test("COLUMNS('regex') [APPLY fn] expands through the analyzer") {
    def rows(q: String) = GraftSql.chSql(spark, sf0001, q)
    // bare selector: matched columns in source order
    rows("SELECT COLUMNS('^o_order(key|status)$') FROM orders " +
      "ORDER BY o_orderkey LIMIT 2").columns shouldBe
      Array("o_orderkey", "o_orderstatus")
    // APPLY wraps every matched column, CH's fn(col) naming
    val agg = rows("SELECT COLUMNS('^o_(orderkey|custkey)$') APPLY max " +
      "FROM orders")
    agg.columns shouldBe Array("max(o_orderkey)", "max(o_custkey)")
    agg.head().getLong(0) should be > 0L
    // APPLY chains nest in call order; parenthesized spelling accepted
    rows("SELECT COLUMNS('^o_totalprice$') APPLY (sum) APPLY round " +
      "FROM orders").columns shouldBe Array("round(sum(o_totalprice))")
    // grouped APPLY: the selector coexists with explicit columns
    val g = rows("SELECT o_orderstatus AS st, " +
      "COLUMNS('^o_orderpriority$') APPLY count FROM orders " +
      "GROUP BY st ORDER BY st")
    g.columns shouldBe Array("st", "count(o_orderpriority)")
    g.count() shouldBe 3L
    // a pattern matching nothing refuses loudly (CH errors too)
    intercept[Exception] {
      rows("SELECT COLUMNS('^nope$') FROM orders").collect()
    }.getMessage should include("no columns match")
  }

  test("* [EXCEPT …] APPLY expands like the COLUMNS selector") {
    def rows(q: String) = GraftSql.chSql(spark, sf0001, q)
    // bare star: every source column wrapped, CH's fn(col) naming
    val all = rows("SELECT * APPLY max FROM " +
      "(SELECT o_orderkey, o_custkey FROM orders)")
    all.columns shouldBe Array("max(o_orderkey)", "max(o_custkey)")
    all.head().getLong(0) should be > 0L
    // EXCEPT list drops named columns before the wrap
    rows("SELECT * EXCEPT (o_orderstatus, o_orderdate, o_orderpriority) " +
      "APPLY max FROM orders").columns shouldBe
      Array("max(o_orderkey)", "max(o_custkey)", "max(o_totalprice)")
    // single bare-name EXCEPT spelling + an APPLY chain
    rows("SELECT * EXCEPT o_orderkey APPLY (count) FROM " +
      "(SELECT o_orderkey, o_custkey FROM orders)")
      .columns shouldBe Array("count(o_custkey)")
    // an unknown EXCEPT name refuses loudly (CH errors too)
    intercept[Exception] {
      rows("SELECT * EXCEPT (nope) APPLY max FROM orders").collect()
    }.getMessage should include("no such column")
    // the schema-blind entry point refuses with the pointed door;
    // qualified stars are not expanded and fall to the same refusal
    intercept[Exception] {
      ChDialect.rewrite("SELECT * APPLY max FROM t")
    }.getMessage should include("schema expansion")
    intercept[Exception] {
      rows("SELECT o.* APPLY max FROM orders o").collect()
    }.getMessage should include("spell the columns")
  }

  test("ANY JOIN as text: first-match semantics on the shared nest") {
    import spark.implicits._
    Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "lv")
      .createOrReplaceTempView("any_l")
    Seq((1, "bb"), (1, "aa"), (2, "cc")).toDF("k", "rv").repartition(5)
      .createOrReplaceTempView("any_r")
    def run(q: String): Seq[(Int, String)] =
      GraftSql.chSql(spark, sf0001, q).collect().toSeq
        .map(r => (r.getInt(0), Option(r.getString(1)).orNull))
    // LEFT ANY keeps every left row, one deterministic match (JSON-least)
    run("SELECT l.k AS k, r.rv AS rv FROM any_l l " +
      "LEFT ANY JOIN any_r r ON l.k = r.k ORDER BY k") shouldBe
      Seq((1, "aa"), (2, "cc"), (3, null))
    // INNER ANY (bare / keyword-order / GLOBAL spellings) drops
    // unmatched left rows
    Seq("ANY JOIN", "INNER ANY JOIN", "ANY INNER JOIN",
      "GLOBAL ANY JOIN").foreach { j =>
      run(s"SELECT l.k AS k, r.rv AS rv FROM any_l l " +
        s"$j any_r r ON l.k = r.k ORDER BY k") shouldBe
        Seq((1, "aa"), (2, "cc"))
    }
    // old-style keyword order for LEFT
    run("SELECT l.k AS k, r.rv AS rv FROM any_l l " +
      "ANY LEFT JOIN any_r r ON l.k = r.k ORDER BY k") shouldBe
      Seq((1, "aa"), (2, "cc"), (3, null))
    // USING spelling: every column is an equality key
    run("SELECT l.k AS k, r.rv AS rv FROM any_l l " +
      "LEFT ANY JOIN any_r r USING (k) ORDER BY k") shouldBe
      Seq((1, "aa"), (2, "cc"), (3, null))
    // the pick is stable across repeated runs (partition-order-free)
    (1 to 3).map(_ => run("SELECT l.k AS k, r.rv AS rv FROM any_l l " +
      "ANY JOIN any_r r ON l.k = r.k WHERE l.k = 1")).toSet.size shouldBe 1
    // refusals: RIGHT/FULL ANY, every ALL form, no-equality ON
    intercept[Exception] {
      GraftSql.chSql(spark, sf0001, "SELECT 1 FROM any_l l " +
        "RIGHT ANY JOIN any_r r ON l.k = r.k").collect()
    }.getMessage should include("LEFT ANY JOIN")
    intercept[Exception] {
      GraftSql.chSql(spark, sf0001, "SELECT 1 FROM any_l l " +
        "FULL ANY JOIN any_r r ON l.k = r.k").collect()
    }.getMessage should include("union")
    intercept[Exception] {
      GraftSql.chSql(spark, sf0001, "SELECT 1 FROM any_l l " +
        "LEFT ALL JOIN any_r r ON l.k = r.k").collect()
    }.getMessage should include("plain JOIN")
    intercept[Exception] {
      GraftSql.chSql(spark, sf0001, "SELECT 1 FROM any_l l " +
        "ANY JOIN any_r r ON l.k > r.k").collect()
    }.getMessage should include("equality")
  }

  test("WITH RECURSIVE rides Spark's native recursive-CTE execution") {
    // sequence recursion with a dialect rewrite (count()) inside the
    // outer select — the recursive reference survives masking untouched
    val seqr = GraftSql.chSql(spark, sf0001,
      "WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL SELECT n + 1 FROM r " +
        "WHERE n < 5) SELECT count() AS c, CAST(sum(n) AS Int64) AS s " +
        "FROM r").head()
    seqr.getLong(0) shouldBe 5L
    seqr.getLong(1) shouldBe 15L
    // graph reachability — the everyday transitive-closure walk (a/b/c/d/e
    // chain with a branch; 5 reachable nodes, longest path 3 hops)
    val walk = GraftSql.chSql(spark, sf0001,
      """WITH RECURSIVE reach AS (
        |  SELECT 'a' AS node, 0 AS depth
        |  UNION ALL
        |  SELECT e.dst AS node, r.depth + 1 AS depth
        |  FROM reach r JOIN (
        |    SELECT 'a' AS src, 'b' AS dst UNION ALL SELECT 'b', 'c'
        |    UNION ALL SELECT 'c', 'd' UNION ALL SELECT 'b', 'e') e
        |  ON e.src = r.node)
        |SELECT count() AS n, max(depth) AS d FROM reach""".stripMargin).head()
    walk.getLong(0) shouldBe 5L
    walk.getInt(1) shouldBe 3
    // recursion joined to a catalog table through a dialect scalar
    // (toMonth) — the sql_recursive_cte gate shape: exactly the 12-month
    // spine regardless of the data
    val g = GraftSql.chSql(spark, sf0001,
      """WITH RECURSIVE mons AS (
        |  SELECT 1 AS mon
        |  UNION ALL SELECT mon + 1 FROM mons WHERE mon < 12)
        |SELECT mon, count(o.o_orderkey) AS n_orders
        |FROM mons LEFT JOIN orders o ON toMonth(o.o_orderdate) = mon
        |GROUP BY mon ORDER BY mon""".stripMargin).collect()
    g.map(_.getInt(0)).toSeq shouldBe (1 to 12)
    g.map(_.getLong(1)).sum shouldBe GraftSql.sql(spark, sf0001,
      "SELECT count(*) FROM orders").head().getLong(0)
    // a runaway recursion fails LOUDLY at the level limit (Spark's
    // cteRecursionLevelLimit, default 100 — CH bounds at 1000 via
    // max_recursive_cte_evaluation_depth; both error, neither truncates)
    val limitKey = "spark.sql.cteRecursionLevelLimit"
    val old = spark.conf.get(limitKey)
    spark.conf.set(limitKey, "8")
    try {
      val e = intercept[Exception] {
        GraftSql.chSql(spark, sf0001,
          "WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL SELECT n + 1 " +
            "FROM r WHERE n < 50) SELECT max(n) AS m FROM r").collect()
      }
      e.getMessage.toLowerCase should include("recursion")
    } finally spark.conf.set(limitKey, old)
  }

  test("ASOF JOIN refuses the unsound shapes loudly") {
    Seq(
      // nested / multiple
      """SELECT * FROM (SELECT b.event_id AS e FROM events b
        |ASOF JOIN events c ON b.user_id = c.user_id AND b.ts >= c.ts) t"""
        .stripMargin -> "derived table",
      // aggregation over candidates
      """SELECT b.user_id AS u, count(*) AS n FROM events b
        |ASOF JOIN events c ON b.user_id = c.user_id AND b.ts >= c.ts
        |GROUP BY u""".stripMargin -> "GROUP BY over an ASOF",
      // right-side WHERE reference
      """SELECT b.event_id AS e FROM events b
        |ASOF JOIN events c ON b.user_id = c.user_id AND b.ts >= c.ts
        |WHERE c.event_id < 100""".stripMargin -> "left-side",
      // unqualified WHERE reference (ambiguous binding)
      """SELECT b.event_id AS e FROM events b
        |ASOF JOIN events c ON b.user_id = c.user_id AND b.ts >= c.ts
        |WHERE event_id < 100""".stripMargin -> "unqualified",
      // two inequalities / no equality
      """SELECT b.event_id AS e FROM events b
        |ASOF JOIN events c ON b.user_id = c.user_id
        |  AND b.ts >= c.ts AND b.ts < c.ts""".stripMargin
        -> "exactly one inequality",
      """SELECT b.event_id AS e FROM events b
        |ASOF JOIN events c ON b.ts >= c.ts""".stripMargin
        -> "equality conjunct",
      // window over candidate rows
      """SELECT b.event_id AS e, row_number() OVER (ORDER BY b.ts) AS rn
        |FROM events b
        |ASOF JOIN events c ON b.user_id = c.user_id AND b.ts >= c.ts"""
        .stripMargin -> "window functions in the select list",
      // mixed star would leak the helper column
      """SELECT b.*, c.ts AS lc FROM events b
        |ASOF JOIN events c ON b.user_id = c.user_id AND b.ts >= c.ts"""
        .stripMargin -> "stars"
    ).foreach { case (q, needle) =>
      val msg = intercept[Exception] {
        GraftSql.chSql(spark, sf0001, q).collect()
      }.getMessage
      msg should include(needle)
    }
  }

  test("tier-5 spellings: raw-JSON door, map HOFs, array folds, saturating uniq") {
    def one(q: String) = GraftSql.chSql(spark, sf0001, s"SELECT $q AS v").head()
    // raw-text JSON extraction slices the SOURCE text (string door); the
    // CAST front also accepts Variant inputs
    one("JSONExtractRaw('{\"a\":{\"b\":1},\"c\":2}', 'a')")
      .getString(0) shouldBe "{\"b\":1}"
    one("arrayStringConcat(JSONExtractKeys('{\"x\":1,\"y\":2}'), ',')")
      .getString(0) shouldBe "x,y"
    // string elements render unquoted (documented divergence —
    // get_json_object's scalar contract; CH keeps the quotes)
    one("arrayStringConcat(JSONExtractArrayRaw('{\"a\":[1,\"s\",[2]]}', 'a'), '|')")
      .getString(0) shouldBe "1|s|[2]"
    // missing / empty arrays short-circuit to the empty array, never a
    // descending sequence()
    one("size(JSONExtractArrayRaw('{\"a\":[]}', 'a'))").getInt(0) shouldBe 0
    one("size(JSONExtractArrayRaw('{}', 'nope'))").getInt(0) shouldBe 0
    // map HOFs: CH lambda-first arg order; mapUpdate right-bias
    one("arrayStringConcat(arrayMap(x -> toString(x), mapValues(" +
      "mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2)))), ',')")
      .getString(0) shouldBe "2"
    one("arrayStringConcat(arrayMap(x -> toString(x), mapValues(" +
      "mapUpdate(map('a', 1, 'b', 2), map('b', 9)))), ',')")
      .getString(0) shouldBe "1,9"
    // array folds
    one("arrayProduct([2.0, 3.0, 4.0])").getDouble(0) shouldBe 24.0
    one("CAST(arrayFold((acc, x) -> acc + x, [1, 2, 3], " +
      "CAST(10 AS Int64)) AS Int64)").getLong(0) shouldBe 16L
    one("dotProduct([1.0, 2.0], [3.0, 4.0])").getDouble(0) shouldBe 11.0
    one("L2Norm([3.0, 4.0])").getDouble(0) shouldBe 5.0
    one("L1Norm([-3.0, 4.0])").getDouble(0) shouldBe 7.0
    one("round(cosineDistance([1.0, 0.0], [0.0, 1.0]), 6)")
      .getDouble(0) shouldBe 1.0
    // multi-needle search
    one("multiMatchAny('abc', ['z.', 'b.'])").getBoolean(0) shouldBe true
    one("multiSearchFirstIndex('abcdef', ['zz', 'cd'])")
      .getInt(0) shouldBe 2
    one("multiSearchFirstIndex('abcdef', ['zz'])").getInt(0) shouldBe 0
    // CH returns the needle whose occurrence is LEFTMOST in the
    // haystack, not the first needle matching anywhere: 'ab' sits at
    // position 1, ahead of 'ef' at 5, so its index (2) wins
    one("multiSearchFirstIndex('abcdef', ['ef', 'ab'])")
      .getInt(0) shouldBe 2
    one("multiSearchFirstIndex('abcdef', ['cd', 'cdef', 'ab'])")
      .getInt(0) shouldBe 3
    // position ties resolve to the lower needle index
    one("multiSearchFirstIndex('abcdef', ['cd', 'cdef'])")
      .getInt(0) shouldBe 1
    one("countMatches('aXbXXc', 'X+')").getInt(0) shouldBe 2
    // renames + date forms
    one("substringIndex('a.b.c', '.', 2)").getString(0) shouldBe "a.b"
    one("formatDateTime(addDate(toDate('2024-01-05'), INTERVAL 3 DAY), " +
      "'%Y-%m-%d')").getString(0) shouldBe "2024-01-08"
    one("formatDateTime(subDate(toDate('2024-01-05'), INTERVAL 2 DAY), " +
      "'%Y-%m-%d')").getString(0) shouldBe "2024-01-03"
    one("exp2(10)").getDouble(0) shouldBe 1024.0
    // uniqUpTo saturates at N + 1 (CH's return contract)
    GraftSql.chSql(spark, sf0001,
      "SELECT CAST(uniqUpTo(2)(o_orderpriority) AS Int64) AS v FROM orders")
      .head().getLong(0) shouldBe 3L
    GraftSql.chSql(spark, sf0001,
      "SELECT CAST(uniqUpTo(99)(o_orderstatus) AS Int64) AS v FROM orders")
      .head().getLong(0) shouldBe 3L
    // order-dependent scan functions refuse with the window alternative
    Seq("runningDifference(value)" -> "lag",
      "runningAccumulate(value)" -> "OVER",
      "neighbor(value, 1)" -> "lag/lead").foreach { case (call, needle) =>
      intercept[Exception] {
        GraftSql.chSql(spark, sf0001, s"SELECT $call FROM events").collect()
      }.getMessage should include(needle)
    }
    intercept[Exception] {
      GraftSql.chSql(spark, sf0001,
        "SELECT mapApply((k, v) -> (k, v), map('a', 1)) AS v").collect()
    }.getMessage should include("transform_keys")
  }

  test("PREWHERE composes with WHERE; tier-6b spellings") {
    def one(q: String) = GraftSql.chSql(spark, sf0001, q).head()
    // PREWHERE p WHERE w merges into one conjunction (the blind
    // replacement would emit two WHERE clauses)
    one("SELECT count(*) AS n FROM orders PREWHERE o_orderkey < 100 " +
      "WHERE o_orderstatus = 'O'").getLong(0) shouldBe
      one("SELECT count(*) AS n FROM orders " +
        "WHERE o_orderkey < 100 AND o_orderstatus = 'O'").getLong(0)
    // a top-level OR in the WHERE must stay inside the conjunction
    // (`p AND (a OR b)`, never `(p AND a) OR b`) — and the merged
    // predicate must survive a trailing clause and a trailing literal
    one("SELECT count(*) AS n FROM orders PREWHERE o_orderkey < 100 " +
      "WHERE o_orderstatus = 'F' OR o_orderstatus = 'O' ORDER BY n")
      .getLong(0) shouldBe
      one("SELECT count(*) AS n FROM orders WHERE o_orderkey < 100 " +
        "AND (o_orderstatus = 'F' OR o_orderstatus = 'O')").getLong(0)
    one("SELECT count(*) AS n FROM orders " +
      "PREWHERE o_orderstatus = 'O' WHERE o_orderpriority = '2-HIGH'")
      .getLong(0) shouldBe
      one("SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'O' " +
        "AND o_orderpriority = '2-HIGH'").getLong(0)
    one("SELECT arrayStringConcat(['a', 'b']) AS v").getString(0) shouldBe "ab"
    one("SELECT count(*) AS n FROM orders WHERE indexHint(o_orderkey < 5)")
      .getLong(0) shouldBe 5L
    one("SELECT toStartOfISOYear(toDate('2024-06-01')) AS v")
      .getDate(0).toString shouldBe "2024-01-01"
    // 2021 ISO year starts 2021-01-04; 2021-01-02 belongs to ISO 2020
    one("SELECT toStartOfISOYear(toDate('2021-01-02')) AS v")
      .getDate(0).toString shouldBe "2019-12-30"
    one("SELECT CAST(date_sub(DAY, 3, toDate('2024-01-10')) AS Date) AS v")
      .getDate(0).toString shouldBe "2024-01-07"
    one("SELECT CAST(positiveModulo(-3, 5) AS INT) AS v").getInt(0) shouldBe 2
    one("SELECT CAST(intExp2(4) AS Int64) AS a").getLong(0) shouldBe 16L
    one("SELECT CAST(intExp10(3) AS Int64) AS a").getLong(0) shouldBe 1000L
    one("SELECT size(emptyArrayToSingle(emptyArrayInt64())) AS v")
      .getInt(0) shouldBe 1
    one("SELECT startsWithUTF8('héllo', 'hé') AS v").getBoolean(0) shouldBe true
  }

  test("parameterized type wrappers inside CAST; StateIf; GROUP_CONCAT alias") {
    def one(q: String) = GraftSql.chSql(spark, sf0001, s"SELECT $q AS v").head()
    // Nullable collapses (every Spark type is nullable), LowCardinality
    // is storage-only, Array recurses, FixedString widths are declared-
    // column properties
    one("CAST(5 AS Nullable(Int64))").getLong(0) shouldBe 5L
    one("CAST('x' AS LowCardinality(String))").getString(0) shouldBe "x"
    one("arrayStringConcat(CAST([1, 2] AS Array(String)), ',')")
      .getString(0) shouldBe "1,2"
    one("CAST('ab' AS FixedString(4))").getString(0) shouldBe "ab"
    one("CAST(5 AS Nullable(LowCardinality(Int32)))").getInt(0) shouldBe 5
    // -StateIf composes the filter into the partial state
    GraftSql.chSql(spark, sf0001,
      """SELECT round(sumMerge(sv), 2) AS sv,
        | CAST(countMerge(c) AS Int64) AS n,
        | round(avgMerge(av), 4) AS av
        |FROM (SELECT sumStateIf(value, value > 0.5) AS sv,
        |             countStateIf(value, value > 0.5) AS c,
        |             avgStateIf(value, value > 0.5) AS av
        |      FROM events GROUP BY event_type)""".stripMargin)
      .head().toSeq shouldBe GraftSql.sql(spark, sf0001,
        """SELECT round(sum(CASE WHEN value > 0.5 THEN value END), 2) AS sv,
          | count(CASE WHEN value > 0.5 THEN value END) AS n,
          | round(avg(CASE WHEN value > 0.5 THEN value END), 4) AS av
          |FROM events""".stripMargin).head().toSeq
    // GROUP_CONCAT is the MySQL spelling of groupConcat
    GraftSql.chSql(spark, sf0001,
      "SELECT GROUP_CONCAT(o_orderstatus) AS v FROM " +
        "(SELECT o_orderstatus FROM orders ORDER BY o_orderkey LIMIT 3)")
      .head().getString(0).length shouldBe 3
  }

  test("aggregate combinators: If/Distinct/OrNull/Array families compose") {
    def one(q: String) = GraftSql.chSql(spark, sf0001, q).head()
    one("SELECT CAST(countDistinctIf(o_orderpriority, o_orderkey < 10) " +
      "AS Int64) AS v FROM orders").getLong(0) should be > 0L
    // argMinIf/argMaxIf: the CASE filter composes through min_by/max_by
    one("SELECT argMinIf(o_orderpriority, o_totalprice, " +
      "o_orderkey < 100) AS v FROM orders").getString(0) should not be null
    // medianIf/quantileIf agree
    val m1 = one("SELECT medianIf(o_totalprice, o_orderkey < 500) AS v " +
      "FROM orders").getDouble(0)
    one("SELECT quantileIf(0.5)(o_totalprice, o_orderkey < 500) AS v " +
      "FROM orders").getDouble(0) shouldBe m1
    // sumDistinct vs manual distinct sum
    one("SELECT CAST(sumDistinct(CAST(o_orderkey % 5 AS Int64)) AS Int64) " +
      "AS v FROM orders").getLong(0) shouldBe 10L
    // -OrNull returns NULL on the empty set (Spark's own contract)
    one("SELECT sumOrNull(o_totalprice) AS v FROM orders WHERE 1 = 0")
      .isNullAt(0) shouldBe true
    // -Array aggregates over every element
    one("SELECT CAST(sumArray(a) AS Int64) AS v FROM " +
      "(SELECT [1, 2] AS a UNION ALL SELECT [3, 4] AS a)")
      .getLong(0) shouldBe 10L
    one("SELECT CAST(countArray(a) AS Int64) AS c, " +
      "CAST(maxArray(a) AS Int64) AS mx, CAST(minArray(a) AS Int64) AS mn " +
      "FROM (SELECT [1, 2] AS a UNION ALL SELECT [3, 4] AS a)")
      .toSeq shouldBe Seq(4L, 4L, 1L)
  }

  test("remote()/cluster() lower to the local table; egress functions refuse") {
    // the cluster IS this process — every spelling reads the local table
    Seq(
      "SELECT count(*) AS n FROM remote('127.0.0.1:9000', default, orders)",
      "SELECT count(*) AS n FROM remote('h1,h2', 'default.orders')",
      "SELECT count(*) AS n FROM cluster('main', default, orders)",
      "SELECT count(*) AS n FROM clusterAllReplicas('main', default.orders)"
    ).foreach { q =>
      GraftSql.chSql(spark, sf0001, q).head().getLong(0) should be > 0L
    }
    Seq(
      "SELECT * FROM url('http://x/y.csv', 'CSV', 'a String')" -> "file(",
      "SELECT * FROM s3('s3://b/k', 'CSV')" -> "file(",
      "SELECT * FROM mysql('h:3306', 'db', 't', 'u', 'p')" -> "file(",
      "SELECT * FROM generateRandom('a UInt64')" -> "numbers(")
      .foreach { case (q, needle) =>
        intercept[Exception] {
          GraftSql.chSql(spark, sf0001, q).collect()
        }.getMessage should include(needle)
      }
  }

  test("tier-6 spellings: session scalars, bitmask, ISO week modes, sorted groupArray") {
    def one(q: String) = GraftSql.chSql(spark, sf0001, s"SELECT $q AS v").head()
    one("timeZone()").getString(0) shouldBe "UTC"
    one("toTypeName(CAST(1 AS Int64))").getString(0) shouldBe "bigint"
    one("bitmaskToList(50)").getString(0) shouldBe "2,16,32"
    one("bitmaskToList(0)").getString(0) shouldBe ""
    one("position('hello world hello', 'hello', 2)").getInt(0) shouldBe 13
    one("CAST(toWeek(toDate('2024-01-04'), 3) AS INT)").getInt(0) shouldBe 1
    one("CAST(toYearWeek(toDate('2024-01-04'), 3) AS INT)")
      .getInt(0) shouldBe 202401
    // ISO year attribution at the boundary: 2024-12-30 is ISO week 1
    // of 2025
    one("CAST(toYearWeek(toDate('2024-12-30'), 3) AS INT)")
      .getInt(0) shouldBe 202501
    one("arrayStringConcat(arrayMap(x -> toString(x), " +
      "arrayEnumerateUniq([10, 20, 10, 10])), ',')")
      .getString(0) shouldBe "1,1,2,3"
    one("arrayCount([1, 0, 2, 0])").getInt(0) shouldBe 2
    one("isZeroOrNull(0)").getBoolean(0) shouldBe true
    one("isZeroOrNull(5)").getBoolean(0) shouldBe false
    one("concatAssumeInjective('a', 'b')").getString(0) shouldBe "ab"
    // rendered-in-timezone forms share the toTimeZone wall-clock stance
    GraftSql.chSql(spark, sf0001,
      "SELECT toString(toDateTime('2024-01-01 12:00:00'), " +
        "'Asia/Tokyo') AS v").head().getString(0) shouldBe
      "2024-01-01 21:00:00"
    // groupArraySorted: the N smallest, in order — deterministic
    GraftSql.chSql(spark, sf0001,
      "SELECT arrayStringConcat(arrayMap(x -> toString(x), " +
        "groupArraySorted(3)(o_orderkey)), ',') AS v FROM orders")
      .head().getString(0) shouldBe "0,1,2"
    // the non-ISO week modes refuse with the ISO pointer
    intercept[Exception] {
      GraftSql.chSql(spark, sf0001,
        "SELECT toWeek(toDate('2024-01-04')) AS v").collect()
    }.getMessage should include("ISO")
  }

  test("windowFunnel refuses loudly when one group buffers past the cap") {
    val q =
      """SELECT user_id,
        |  windowFunnel(86400)(ts, event_type = 'click',
        |                      event_type = 'purchase') AS steps
        |FROM events GROUP BY user_id ORDER BY user_id LIMIT 5""".stripMargin
    // sane cap: the fold runs (the sql_param_aggs surface)
    GraftSql.chSql(spark, sf0001, q).collect().length shouldBe 5
    // a synthetic hot user: drop the cap below the busiest user's
    // event count — the fold must refuse with the documented message,
    // not OOM or silently truncate
    System.setProperty("graft.funnel.groupCap", "10")
    try {
      val msg = intercept[Exception] {
        GraftSql.chSql(spark, sf0001, q).collect()
      }.getMessage
      msg should include("funnel fold refused")
    } finally System.clearProperty("graft.funnel.groupCap")
    // sequenceMatch shares the guarded fold
    System.setProperty("graft.funnel.groupCap", "10")
    try {
      intercept[Exception] {
        GraftSql.chSql(spark, sf0001,
          """SELECT user_id,
            |  sequenceMatch('(?1).*(?2)')(ts, event_type = 'click',
            |                              event_type = 'purchase') AS m
            |FROM events GROUP BY user_id""".stripMargin).collect()
      }.getMessage should include("funnel fold refused")
    } finally System.clearProperty("graft.funnel.groupCap")
  }

  test("system.numbers bounds to the statement's LIMIT; WHERE refuses") {
    GraftSql.chSql(spark, sf0001,
      "SELECT sum(number) AS s FROM (SELECT number FROM system.numbers LIMIT 10)")
      .head().getAs[Number](0).longValue shouldBe 45L
    GraftSql.chSql(spark, sf0001,
      "SELECT number FROM system.numbers LIMIT 3 OFFSET 2")
      .collect().map(_.getAs[Number](0).longValue) shouldBe Array(2L, 3L, 4L)
    intercept[IllegalArgumentException] {
      GraftSql.chSql(spark, sf0001,
        "SELECT number FROM system.numbers WHERE number % 2 = 0 LIMIT 3")
    }.getMessage should include("numbers(N)")
    intercept[IllegalArgumentException] {
      GraftSql.chSql(spark, sf0001, "SELECT count() FROM system.numbers")
    }.getMessage should include("unbounded")
    // round-13 ADVICE fix: a SMALLER limit in an EARLIER derived table
    // must not bound the stream — the bound comes from the numbers
    // block's OWN LIMIT
    GraftSql.chSql(spark, sf0001,
      """SELECT o_orderkey, number FROM
        |  (SELECT o_orderkey FROM orders LIMIT 5) d
        |CROSS JOIN system.numbers LIMIT 100""".stripMargin)
      .count() shouldBe 100L
    // an inner numbers block keeps ITS limit, not the outer one
    GraftSql.chSql(spark, sf0001,
      "SELECT sum(number) AS s FROM " +
        "(SELECT number FROM system.numbers LIMIT 3) t LIMIT 10")
      .head().getAs[Number](0).longValue shouldBe 3L
    // numbers in a subquery with no block LIMIT refuses even when an
    // outer LIMIT exists (the outer limit does not bound generation)
    intercept[IllegalArgumentException] {
      GraftSql.chSql(spark, sf0001,
        "SELECT count(*) AS n FROM (SELECT number FROM system.numbers) t LIMIT 5")
    }.getMessage should include("unbounded")
    // a WHERE outside the numbers block no longer refuses
    GraftSql.chSql(spark, sf0001,
      """SELECT count(*) AS n
        |FROM (SELECT number FROM system.numbers LIMIT 10) t
        |WHERE number < 4""".stripMargin).head().getLong(0) shouldBe 4L
  }

  test("extract group sniff skips escaped parens and character classes") {
    def one(q: String): String =
      GraftSql.chSql(spark, sf0001, q).head().getString(0)
    // escaped paren: 0 capture groups — whole match, no runtime throw
    one("SELECT extract('xa(b', 'a\\\\(b') AS e") shouldBe "a(b"
    // paren inside a character class is not a group either
    one("SELECT extract('x(1y', '[(]1') AS e") shouldBe "(1"
    // a real capture group still selects group 1
    one("SELECT extract('ab12', 'b(\\\\d)') AS e") shouldBe "1"
    // groupConcat renders sorted (deterministic-order divergence, the
    // uniq stance) in both call shapes
    GraftSql.chSql(spark, sf0001,
      "SELECT groupConcat(',')(o_orderstatus) AS g FROM " +
        "(SELECT o_orderstatus FROM orders ORDER BY o_orderkey LIMIT 4)")
      .head().getString(0).split(',').toSeq shouldBe
      GraftSql.sql(spark, sf0001,
        "SELECT o_orderstatus FROM orders ORDER BY o_orderkey LIMIT 4")
        .collect().map(_.getString(0)).sorted.toSeq
  }

  test("EXPLAIN SYNTAX returns the dialect's lowering as a result frame") {
    def syntax(ch: String): String =
      GraftSql.chSql(spark, sf0001, s"EXPLAIN SYNTAX $ch")
        .collect().map(_.getString(0)).mkString("\n")
    // the rewrite is returned, never executed — `t` needn't exist
    syntax("SELECT sumIf(x, y = 'A') FROM t") shouldBe
      "SELECT sum(CASE WHEN y = 'A' THEN x ELSE 0 END) FROM t"
    syntax("SELECT count() FROM orders FINAL PREWHERE o_orderkey < 3") shouldBe
      "SELECT count(*) FROM orders  WHERE o_orderkey < 3"
    // the Spark-side EXPLAIN forms still run as plans, not as rewrites
    GraftSql.chSql(spark, sf0001,
      "EXPLAIN PIPELINE SELECT count() FROM orders")
      .collect().map(_.getString(0)).mkString("\n") should
      include("Physical Plan")
  }

  // ——— everyday tier 7 (round 14) ———

  test("tier-7 date/time spellings rewrite and agree") {
    def one(q: String) = GraftSql.chSql(spark, sf0001, s"SELECT $q AS v").head()
    // sub-second truncation family (sessions run microsecond timestamps)
    one("toString(toStartOfSecond(toDateTime64('2024-03-05 10:11:12.789', 3)))")
      .getString(0) shouldBe "2024-03-05 10:11:12"
    one("date_format(toStartOfMillisecond(toDateTime64(" +
      "'2024-03-05 10:11:12.789654', 6)), 'HH:mm:ss.SSSSSS')")
      .getString(0) shouldBe "10:11:12.789000"
    // formatDateTime round-14 slots: %b abbreviated month, %k/%l hours
    // (unpadded — documented), %z numeric offset (session UTC)
    one("formatDateTime(toDateTime('2024-03-05 09:05:00'), '%b %k %l %z')")
      .getString(0) shouldBe "Mar 9 9 +0000"
    // Joda-syntax formatter = Spark's own pattern dialect
    one("formatDateTimeInJodaSyntax(toDateTime('2024-03-05 09:05:00'), " +
      "'yyyy-MM-dd HH:mm')").getString(0) shouldBe "2024-03-05 09:05"
    // timeSlots: the half-hour grid covering [start, start+duration]
    one("arrayStringConcat(arrayMap(x -> date_format(x, 'HH:mm'), " +
      "timeSlots(toDateTime('2024-01-01 10:10:00'), 1800)), ',')")
      .getString(0) shouldBe "10:00,10:30"
    one("size(timeSlots(toDateTime('2024-01-01 10:00:00'), 3600, 900))")
      .getInt(0) shouldBe 5
    // dateAdd/dateSub/timestampAdd/timestampSub — both CH call shapes
    one("toString(dateAdd(day, 3, toDateTime('2024-01-05 00:00:00')))")
      .getString(0) shouldBe "2024-01-08 00:00:00"
    one("toString(dateSub(WEEK, 1, toDateTime('2024-01-15 00:00:00')))")
      .getString(0) shouldBe "2024-01-08 00:00:00"
    one("toString(timestampAdd(toDateTime('2024-01-05 00:00:00'), " +
      "INTERVAL 2 HOUR))").getString(0) shouldBe "2024-01-05 02:00:00"
    one("toString(timestampSub(minute, 5, toDateTime('2024-01-05 00:10:00')))")
      .getString(0) shouldBe "2024-01-05 00:05:00"
    one("toString(dateAdd('month', 2, toDate('2024-01-31')))")
      .getString(0) shouldBe "2024-03-31 00:00:00"
    // toIntervalX constructors compose with +
    one("toString(toDateTime('2024-01-05 00:00:00') + toIntervalDay(3))")
      .getString(0) shouldBe "2024-01-08 00:00:00"
    one("toString(toDate('2024-01-31') + toIntervalMonth(1))")
      .getString(0) shouldBe "2024-02-29"
    one("toString(toDateTime('2024-01-05 00:00:00') + toIntervalWeek(2))")
      .getString(0) shouldBe "2024-01-19 00:00:00"
    // misc date scalars
    one("monthName(toDate('2024-03-05'))").getString(0) shouldBe "March"
    one("timeDiff(toDateTime('2024-01-01 00:00:00'), " +
      "toDateTime('2024-01-01 00:02:05'))").getLong(0) shouldBe 125L
    one("toRelativeMonthNum(toDate('2024-03-05')) - " +
      "toRelativeMonthNum(toDate('2023-12-31'))").getInt(0) shouldBe 3
    one("toRelativeQuarterNum(toDate('2024-04-01')) - " +
      "toRelativeQuarterNum(toDate('2023-12-31'))").getInt(0) shouldBe 2
    one("toRelativeYearNum(toDate('2024-03-05'))").getInt(0) shouldBe 2024
    // week numbers are Monday-aligned: Sun Jan 7 2024 and Mon Jan 8
    // 2024 land in different weeks
    one("toRelativeWeekNum(toDate('2024-01-08')) - " +
      "toRelativeWeekNum(toDate('2024-01-07'))").getLong(0) shouldBe 1L
    one("toString(fromUnixTimestamp64Nano(1704067200000000000))")
      .getString(0) shouldBe "2024-01-01 00:00:00"
    // snowflake ids carry ms since the Twitter epoch in their top bits
    one("toString(snowflakeToDateTime(CAST(1756377600000 - 1288834974657 " +
      "AS Int64) * 4194304))").getString(0) shouldBe "2025-08-28 10:40:00"
    one("toModifiedJulianDay(toDate('1858-11-18'))").getInt(0) shouldBe 1
    one("toString(fromModifiedJulianDay(60000))")
      .getString(0) shouldBe "2023-02-25"
  }

  test("tier-7 scalar spellings rewrite and agree") {
    def one(q: String) = GraftSql.chSql(spark, sf0001, s"SELECT $q AS v").head()
    // conversions
    one("toString(toDate32('2024-03-05'))").getString(0) should
      startWith("2024-03-05")
    one("toBool(1)").getBoolean(0) shouldBe true
    one("CAST(toInt128(42) AS STRING)").getString(0) shouldBe "42"
    // math
    one("exp10(3)").getDouble(0) shouldBe 1000.0
    one("max2(3, 7)").getInt(0) shouldBe 7
    one("min2(3, 7)").getInt(0) shouldBe 3
    one("clamp(15, 0, 10)").getInt(0) shouldBe 10
    one("clamp(-2, 0, 10)").getInt(0) shouldBe 0
    one("widthBucket(5.5, 0, 10, 10)").getLong(0) shouldBe 6L
    // strings
    one("levenshteinDistance('kitten', 'sitting')").getInt(0) shouldBe 3
    one("editDistance('flaw', 'lawn')").getInt(0) shouldBe 2
    one("appendTrailingCharIfAbsent('dir', '/')").getString(0) shouldBe "dir/"
    one("appendTrailingCharIfAbsent('dir/', '/')").getString(0) shouldBe "dir/"
    one("appendTrailingCharIfAbsent('', '/')").getString(0) shouldBe ""
    one("arrayStringConcat(tokens('a-b c,,d'), '|')")
      .getString(0) shouldBe "a|b|c|d"
    one("arrayStringConcat(ngrams('abcd', 3), ',')")
      .getString(0) shouldBe "abc,bcd"
    one("size(ngrams('ab', 3))").getInt(0) shouldBe 0
    one("arrayStringConcat(splitByRegexp('[0-9]+', 'a12b3c'), '|')")
      .getString(0) shouldBe "a|b|c"
    one("leftUTF8('grafted', 5)").getString(0) shouldBe "graft"
    one("rightUTF8('engine', 3)").getString(0) shouldBe "ine"
    // rand contracts: UInt32-range integer (rand), full-range int64
    // (rand64), [min, max) uniform (randUniform)
    val r = one("rand()").getLong(0)
    r should be >= 0L
    r should be < 4294967296L
    val ru = one("randUniform(5, 6)").getDouble(0)
    ru should be >= 5.0
    ru should be < 6.0
    // URL completion
    one("fragment('https://h/p?q=1#sec')").getString(0) shouldBe "sec"
    one("cutFragment('https://h/p?q=1#sec')")
      .getString(0) shouldBe "https://h/p?q=1"
    one("queryStringAndFragment('https://h/p?q=1#sec')")
      .getString(0) shouldBe "q=1#sec"
    one("netloc('https://u@h:8080/p')").getString(0) shouldBe "u@h:8080"
    one("port('https://h:8123/p')").getInt(0) shouldBe 8123
    one("port('https://h/p')").getInt(0) shouldBe 0
    one("encodeURLComponent('a b&c')").getString(0) shouldBe "a%20b%26c"
    one("decodeURLComponent('a%20b+c')").getString(0) shouldBe "a b+c"
    // network
    one("isIPAddressInRange('10.3.4.5', '10.0.0.0/8')")
      .getBoolean(0) shouldBe true
    one("isIPAddressInRange('11.3.4.5', '10.0.0.0/8')")
      .getBoolean(0) shouldBe false
    one("isIPAddressInRange('192.168.1.7', '192.168.1.0/30')")
      .getBoolean(0) shouldBe false
    one("isIPAddressInRange('192.168.1.2', '192.168.1.0/30')")
      .getBoolean(0) shouldBe true
    // JSON
    one("JSON_EXISTS('{\"a\":1}', '$.a')").getBoolean(0) shouldBe true
    one("JSON_EXISTS('{\"a\":1}', '$.b')").getBoolean(0) shouldBe false
  }

  test("tier-7 array/map/vector spellings rewrite and agree") {
    def one(q: String) = GraftSql.chSql(spark, sf0001, s"SELECT $q AS v").head()
    one("countEqual([1, 2, 2, 3, 2], 2)").getInt(0) shouldBe 3
    one("hasSubstr([1, 2, 3, 4], [2, 3])").getBoolean(0) shouldBe true
    one("hasSubstr([1, 2, 3, 4], [2, 4])").getBoolean(0) shouldBe false
    one("hasSubstr([1, 2], [])").getBoolean(0) shouldBe true
    one("round(arrayJaccardIndex([1, 2, 3], [2, 3, 4]), 6)")
      .getDouble(0) shouldBe 0.5
    one("arrayStringConcat(arrayMap(x -> toString(x), " +
      "arrayPartialSort(2, [5, 1, 4])), ',')").getString(0) shouldBe "1,4,5"
    // vectors
    one("L1Distance([1.0, 2.0], [4.0, 0.0])").getDouble(0) shouldBe 5.0
    one("L2Distance([0.0, 0.0], [3.0, 4.0])").getDouble(0) shouldBe 5.0
    one("L2SquaredDistance([0.0, 0.0], [3.0, 4.0])").getDouble(0) shouldBe 25.0
    one("LinfDistance([1.0, 9.0], [4.0, 7.0])").getDouble(0) shouldBe 3.0
    one("LinfNorm([-7.0, 4.0])").getDouble(0) shouldBe 7.0
    one("L2SquaredNorm([3.0, 4.0])").getDouble(0) shouldBe 25.0
    // multi-needle positions
    one("arrayStringConcat(arrayMap(x -> toString(x), " +
      "multiSearchAllPositions('abcdef', ['cd', 'zz', 'a'])), ',')")
      .getString(0) shouldBe "3,0,1"
    one("multiSearchFirstPosition('abcdef', ['ef', 'cd'])")
      .getInt(0) shouldBe 3
    one("multiSearchFirstPosition('abcdef', ['zz'])").getInt(0) shouldBe 0
    // maps: lambda-first forms
    one("mapExists((k, v) -> v > 1, map('a', 1, 'b', 2))")
      .getBoolean(0) shouldBe true
    one("mapAll((k, v) -> v > 0, map('a', 1, 'b', 2))")
      .getBoolean(0) shouldBe true
    one("mapAll((k, v) -> v > 1, map('a', 1, 'b', 2))")
      .getBoolean(0) shouldBe false
    one("arrayStringConcat(mapKeys(mapSort(map('b', 2, 'a', 1))), ',')")
      .getString(0) shouldBe "a,b"
    one("arrayStringConcat(mapKeys(mapReverseSort(map('a', 1, 'b', 2))), ',')")
      .getString(0) shouldBe "b,a"
  }

  test("tier-7 aggregates, console formatters, refusals") {
    def one(q: String) = GraftSql.chSql(spark, sf0001, s"SELECT $q AS v").head()
    // exact weighted quantile: weight 3 on value 1 pulls the median down
    GraftSql.chSql(spark, sf0001,
      "SELECT quantileExactWeighted(0.5)(v, w) AS q FROM " +
        "(SELECT 1 AS v, 3 AS w UNION ALL SELECT 10 AS v, 1 AS w)")
      .head().getDouble(0) shouldBe 1.0
    // parameterized uniq sketches drop the precision argument
    GraftSql.chSql(spark, sf0001,
      "SELECT CAST(uniqCombined(12)(o_orderstatus) AS Int64) AS v " +
        "FROM orders").head().getLong(0) shouldBe 3L
    GraftSql.chSql(spark, sf0001,
      "SELECT CAST(uniqHLL12(o_orderstatus) AS Int64) AS v FROM orders")
      .head().getLong(0) shouldBe 3L
    // console formatters
    one("formatReadableTimeDelta(90125)")
      .getString(0) shouldBe "1 day, 1 hour, 2 minutes, 5 seconds"
    one("formatReadableTimeDelta(61)").getString(0) shouldBe "1 minute, 1 second"
    one("formatReadableTimeDelta(0)").getString(0) shouldBe "0 seconds"
    one("bar(5, 0, 10, 4)").getString(0) shouldBe "██"
    one("bar(10, 0, 10, 4)").getString(0) shouldBe "████"
    one("bar(0, 0, 10, 4)").getString(0) shouldBe ""
    // the eighth-block partial: 2.25 cells = two full blocks + 2/8
    one("bar(4.5, 0, 8, 4)").getString(0) shouldBe "██▎"
    // pointed refusals name the alternative
    Seq(
      "entropy(o_orderstatus)" -> "two-level",
      "JSON_QUERY('{}', '$.a')" -> "JSONExtractRaw",
      "arrayShuffle([1, 2])" -> "array_sort",
      "groupArrayLast(3)(o_orderkey)" -> "groupArraySorted",
      "detectLanguage('hello')" -> "text_langid",
      "sleepEachRow(0.1)" -> "declarative",
      "rowNumberInAllBlocks()" -> "row_number",
      "queryID()" -> "query_log",
      "firstSignificantSubdomain('https://a.b.co.uk/')" -> "domainWithoutWWW",
      "geohashEncode(1.0, 2.0, 8)" -> "greatCircleDistance",
      "toInt256(1)" -> "DECIMAL",
      "isIPAddressInRange(ip, '::1/128')" -> "IPv4")
      .foreach { case (call, needle) =>
        intercept[Exception] {
          GraftSql.chSql(spark, sf0001,
            s"SELECT $call FROM orders LIMIT 1").collect()
        }.getMessage should include(needle)
      }
  }

  // ---- the view binder: a statement binds the tables it names ----------

  private def dropTestdataViews(): Unit =
    Tables.names.foreach(spark.catalog.dropTempView)

  test("a one-table statement lists only the table it reads") {
    // warm the memoized schemas so both counts see plain scan listings
    Tables.names.foreach(n => GraftSql.bindTables(spark, sf0001, Seq(n)))
    val bare = CountingFs.during(spark) {
      Tables(spark, sf0001, "orders"); CountingFs.lists.get
    }
    val one = CountingFs.during(spark) {
      SparkEntry.queries("sql_qualify")(spark, sf0001); CountingFs.lists.get
    }
    bare should be > 0L
    one should be <= bare + 2
  }

  test("every clause that names a table binds it") {
    Seq(
      "comma join" ->
        "SELECT count() FROM nation, region WHERE n_regionkey = r_regionkey",
      "scalar subquery" ->
        "SELECT (SELECT count() FROM region) AS r, count() AS n FROM nation",
      "IN subquery" -> ("SELECT count() FROM nation WHERE n_regionkey IN " +
        "(SELECT r_regionkey FROM region WHERE r_name = 'ASIA')"),
      "CTE body" ->
        "WITH r AS (SELECT r_regionkey FROM region) SELECT count() FROM r",
      "upper-case name" -> "SELECT count() FROM NATION",
      // named only in a literal until the rewrite lowers it
      "remote() table" -> "SELECT count() FROM remote('h1,h2', 'default.nation')",
      "backticked name" -> ("SELECT count() FROM `nation` JOIN `region` " +
        "ON n_regionkey = r_regionkey"))
      .foreach { case (shape, q) =>
        withClue(s"$shape: ") {
          dropTestdataViews()
          GraftSql.chSql(spark, sf0001, q).collect() should not be empty
        }
      }
  }

  test("a table named only inside a string literal or comment is not bound") {
    dropTestdataViews()
    GraftSql.chSql(spark, sf0001,
      """SELECT 'lineitem' AS t -- part
        |FROM nation /* supplier */ LIMIT 1""".stripMargin)
      .head().getString(0) shouldBe "lineitem"
    spark.catalog.tableExists("nation") shouldBe true
    Seq("lineitem", "part", "supplier")
      .foreach(spark.catalog.tableExists(_) shouldBe false)
  }

  test("ensureSession twice leaves the function registry unchanged") {
    GraftSql.ensureSession(spark)
    val reg = spark.sessionState.functionRegistry
    def builders = reg.listFunction().map(f => f -> reg.lookupFunctionBuilder(f))
      .toMap
    val before = builders
    GraftSql.ensureSession(spark)
    val after = builders
    after.keySet shouldBe before.keySet
    // the same builder objects: nothing was re-registered
    after.foreach { case (f, b) => b.get shouldBe theSameInstanceAs(before(f).get) }
  }

  test("every SQL-text query builds with no testdata view left from before") {
    // the oracle runs queries in one session, where a view an earlier
    // query bound could hide one the binder missed: here each query
    // must bind everything it reads itself
    val textQueries = Seq(
      "cat_insert_format", "fn_array_lambda", "fn_json_variant",
      "sql_agg_dialect", "sql_agg_state", "sql_any_join", "sql_array_join",
      "sql_asof", "sql_columns_apply", "sql_dialect2", "sql_dialect3",
      "sql_dialect4", "sql_dialect5", "sql_dict_get", "sql_file_scan",
      "sql_limit_by", "sql_numbers", "sql_param_aggs", "sql_param_view",
      "sql_qualify", "sql_query_cache", "sql_recursive_cte", "sql_sample",
      "sql_select_modifiers", "sql_star_ties", "sql_totals", "sql_udf_call",
      "sql_with_fill", "sql_with_fill_interp")
    textQueries.foreach { name =>
      withClue(s"$name: ") {
        dropTestdataViews()
        SparkEntry.queries(name)(spark, sf0001).queryExecution.assertAnalyzed()
      }
    }
  }
}
