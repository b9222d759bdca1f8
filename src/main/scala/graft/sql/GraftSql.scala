package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, IntegerLiteral}
import graft.Tables
import graft.functions.{CosineSimilarity, GramDigests, PolyHash}

/** SQL-text entry point: the reference's entire query surface is SQL
  * strings over named tables (create_db.py:67-128, README.md:232-266) —
  * every query the engine answers through the DataFrame API is equally
  * answerable as `SELECT …` text through the session's own parser,
  * optimizer (including the installed [[graft.plans.RollupRewrite]]
  * batch), and executor.
  *
  * Each statement binds only the relations it names ([[bindNamed]], the
  * one binder of the text doors, shared with [[ChDdl]]'s catalog tables):
  * the testdata tables it mentions register as temp views named as in
  * TESTDATA.md. Views are metadata only — each still reads through
  * [[graft.Tables]]'s scan options (e.g. the events NANOS handling), so
  * SQL and DataFrame plans bottom out in the identical parquet scans with
  * the identical pushdowns. SqlParitySpec holds the two surfaces equal
  * query by query. The engine kernels register once per session
  * ([[ensureSession]]).
  */
object GraftSql {

  // one token per match, left to right: a '…' literal or a comment
  // (no group), or a backticked, double-quoted (both are ClickHouse
  // identifier quoting) or bare word
  private val tokenRe =
    """(?s)'(?:[^'\\]++|\\.)*+'|--[^\n]*|/\*.*?\*/|`([^`]*)`|"([^"]*)"|(\w+)""".r

  /** The one view binder of the SQL text doors: binds each relation among
    * `known` that `text` names, except `skip`, as a temp view under its
    * own name (`read` builds it), and returns the names `text` mentions.
    * A name is an identifier token matched case-insensitively, outside
    * string literals and comments, in any clause — so comma joins,
    * scalar and IN subqueries and CTE bodies all count. Binding a view
    * the statement never reads costs a listing; missing one fails it.
    */
  private[graft] def bindNamed(text: String, known: Iterable[String],
                               skip: Set[String] = Set.empty)(
      read: String => DataFrame): Set[String] = {
    val byLower = known.groupBy(_.toLowerCase)
    val named = tokenRe.findAllMatchIn(text).flatMap(_.subgroups.find(_ != null))
      .flatMap(w => byLower.getOrElse(w.toLowerCase, Nil)).toSet
    (named -- skip).foreach(n => read(n).createOrReplaceTempView(n))
    named
  }

  /** Bind the testdata tables `names` lists as temp views named as in
    * TESTDATA.md.
    */
  def bindTables(s: SparkSession, sfDir: String,
                 names: Iterable[String]): Unit =
    names.foreach(n => testdata(s, sfDir)(n).createOrReplaceTempView(n))

  private def testdata(s: SparkSession, sfDir: String)(n: String): DataFrame =
    if (n == "events") Tables.events(s, sfDir) else Tables(s, sfDir, n)

  /** The one per-session setup of the text doors, idempotent: registers
    * each engine kernel the session's function registry lacks, so a
    * second call changes nothing. [[chSql]], [[sql]], [[createFunction]]
    * and every [[ChDdl]] door that parses lowered text call it before
    * parsing.
    *
    * The kernels are the engine's codegen'd Catalyst expressions as SQL
    * functions, so the operators built on them (fingerprinting,
    * similarity scoring, substring-span digests) are reachable from SQL
    * text too — the same expression objects the DataFrame surface plans,
    * not UDF wrappers.
    */
  def ensureSession(s: SparkSession): Unit = {
    val registry = s.sessionState.functionRegistry
    def reg(name: String, arity: Int)(b: Seq[Expression] => Expression): Unit =
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(
          name,
          { args =>
            require(args.length == arity, s"$name expects $arity arguments")
            b(args)
          },
          "internal")
    reg("polyhash", 1)(a => PolyHash(a.head))
    reg("cosine_similarity", 2)(a => CosineSimilarity(a(0), a(1)))
    reg("gram_digests", 2) {
      case Seq(toks, IntegerLiteral(k)) => GramDigests(toks, k)
      case _ => throw new IllegalArgumentException(
        "gram_digests(toks, k): k must be an integer literal")
    }
    // CH topK(N)(x) via the dialect rewrite: the SpaceSaving sketch
    // (graft.functions.TopKSketch — the sanctioned typed-Aggregator
    // exception) as a SQL aggregate; ch_topk(x, k) -> "v1:c1,…" count
    // desc, which the rewrite projects back to CH's value array
    reg("ch_topk", 2) {
      case Seq(e, IntegerLiteral(k)) =>
        graft.functions.TopKSketch.topKExpression(e, k)
      case _ => throw new IllegalArgumentException(
        "ch_topk(x, k): k must be an integer literal")
    }
    // CH sumMap/minMap/maxMap via the dialect's map-normalizing rewrite
    // (graft.functions.MapCombine — the same typed-Aggregator exception)
    Seq("sum", "min", "max").foreach { kind =>
      reg(s"ch_${kind}map", 1)(a =>
        graft.functions.MapCombine.combineExpression(a.head, kind))
    }
  }

  /** One-call text query: set the session up, expand user-defined
    * SQL-function macros, bind the testdata tables the text names, parse.
    */
  def sql(s: SparkSession, sfDir: String, query: String): DataFrame = {
    ensureSession(s)
    val text = expandFunctions(query)
    bindNamed(text, Tables.names)(testdata(s, sfDir))
    s.sql(text)
  }

  // ---- file() table function (the reference's own ingest FROM) ---------

  private val fileRefRe =
    ("(?i)\\b(FROM|JOIN)\\s+file\\(\\s*'([^']+)'\\s*" +
      "(?:,\\s*'(\\w+)'\\s*)?\\)").r
  private val fileViewN = new java.util.concurrent.atomic.AtomicInteger(0)

  /** CH's `file('path'[, 'format'])` table function — the FROM clause of
    * the reference's OWN ingest statements (types.json `statement`
    * strings: `SELECT c1::String as hash, … FROM file('commits.tsv')`).
    * Each reference is read here (schema-on-read: positional `c1…cN`
    * STRING columns for the header-less text formats, exactly what
    * clickhouse-local hands those statements), registered as a temp
    * view, and the text substituted with the view name — the statement's
    * own `::Type` casts stay in charge of typing, like CH. Relative
    * paths resolve against -Dgraft.files.dir / $SPARK_GRAFT_FILES_DIR
    * (the CH user_files directory analog); absolute and URI paths pass
    * through. Applied by [[chSql]] and ChDdl's INSERT INTO … SELECT door.
    */
  def bindFileRefs(s: SparkSession, query: String): String =
    fileRefRe.replaceAllIn(query, m => {
      val raw = m.group(2)
      val fmt = Option(m.group(3)).map(_.toLowerCase).getOrElse("tsv")
      val base = sys.props.get("graft.files.dir")
        .orElse(sys.env.get("SPARK_GRAFT_FILES_DIR"))
      val path =
        if (raw.startsWith("/") || raw.contains("://")) raw
        else base.map(b => s"$b/$raw").getOrElse(
          throw new IllegalArgumentException(
            s"file('$raw'): relative paths resolve against " +
              "-Dgraft.files.dir or $SPARK_GRAFT_FILES_DIR (the CH " +
              "user_files analog) — neither is set"))
      def text(sep: String, header: Boolean) = {
        val df = s.read.option("sep", sep)
          .option("header", header.toString).csv(path)
        if (header) df
        else df.toDF(df.columns.indices.map(i => s"c${i + 1}"): _*)
      }
      val df = fmt match {
        case "tsv" | "tabseparated" => text("\t", header = false)
        case "tsvwithnames" | "tabseparatedwithnames" =>
          text("\t", header = true)
        case "csv" => text(",", header = false)
        case "csvwithnames" => text(",", header = true)
        case "parquet" => s.read.parquet(path)
        case "jsoneachrow" | "ndjson" | "jsonlines" => s.read.json(path)
        case other => throw new IllegalArgumentException(
          s"file('$raw', '$other'): supported formats are " +
            "TSV/CSV[WithNames], Parquet, JSONEachRow")
      }
      val view = s"__file_${fileViewN.getAndIncrement()}"
      df.createOrReplaceTempView(view)
      scala.util.matching.Regex.quoteReplacement(s"${m.group(1)} $view")
    })

  /** The process-global result cache — the CH server-wide query cache
    * analog ([[QueryCache]] doc carries the semantics). Callers opt in
    * per query (CH `use_query_cache = 1` is per-query too) and supply
    * the validity tokens of the tables the query reads.
    */
  val queryCache = new QueryCache()

  // ---- user-defined SQL functions (CREATE FUNCTION analog) -------------
  //
  // CH `CREATE FUNCTION f AS (a, b) -> expr`: a named expression macro —
  // calls expand TEXTUALLY before parsing, so no UDF enters any plan and
  // the expanded expression optimizes/codegens exactly like hand-written
  // SQL (the §2.12 zero-scalar-UDF discipline extends to user functions).
  // Registration is the safety gate (the CHECK-constraint discipline):
  // the body must parse as ONE expression (a statement or `; DROP …`
  // smuggle fails the expression parser) and must RESOLVE over a probe
  // frame exposing exactly the declared parameters — typos and unknown
  // columns fail at CREATE, loudly, not at the 3 a.m. query. Expansion is
  // quote-aware on both the call site and the body, so string literals
  // can never be rewritten or escape their quoting; recursive macros
  // expand to a fixpoint with a depth cap (a definition cycle is caught
  // at CREATE by the probe, and again at call time by the cap).

  private final case class SqlFnDef(params: Seq[String], body: String)
  private val sqlFunctions =
    scala.collection.concurrent.TrieMap.empty[String, SqlFnDef]

  /** `CREATE OR REPLACE FUNCTION name AS (params…) -> body`. */
  def createFunction(s: SparkSession, name: String, params: Seq[String],
                     body: String): Unit = {
    val ident = "[A-Za-z_][A-Za-z0-9_]*"
    require(name.matches(ident), s"invalid function name '$name'")
    params.foreach(p => require(p.matches(ident),
      s"CREATE FUNCTION $name: invalid parameter name '$p'"))
    require(params.distinct.length == params.length,
      s"CREATE FUNCTION $name: duplicate parameter names")
    // must be ONE expression — the parser is the injection barrier
    s.sessionState.sqlParser.parseExpression(body)
    val probe =
      if (params.isEmpty) s"SELECT $body"
      else s"SELECT $body FROM (SELECT ${
        params.map(p => s"CAST(NULL AS STRING) AS $p").mkString(", ")})"
    ensureSession(s)
    val old = sqlFunctions.put(name, SqlFnDef(params, body))
    try s.sql(expandFunctions(probe)).queryExecution.analyzed
    catch {
      case scala.util.control.NonFatal(e) =>
        old match {
          case Some(o) => sqlFunctions.put(name, o)
          case None => sqlFunctions.remove(name)
        }
        throw new IllegalArgumentException(
          s"CREATE FUNCTION $name: body does not resolve over " +
            s"(${params.mkString(", ")}): ${e.getMessage}")
    }
    ()
  }

  /** `DROP FUNCTION name`; false if absent. */
  def dropFunction(name: String): Boolean =
    sqlFunctions.remove(name).isDefined

  /** `system.functions` analog: (name, params, body). */
  def systemFunctions(s: SparkSession): DataFrame = {
    import s.implicits._
    sqlFunctions.toSeq.sortBy(_._1)
      .map { case (n, d) => (n, d.params.mkString(","), d.body) }
      .toDF("name", "params", "body")
  }

  /** Expand registered function calls to a fixpoint (macros may call
    * macros); the depth cap backstops a definition cycle that slipped
    * past the CREATE probe (e.g. via OR REPLACE redefinition).
    */
  private[sql] def expandFunctions(query: String): String = {
    if (sqlFunctions.isEmpty) return query
    var q = query
    var depth = 0
    while (depth < 10) {
      val next = expandOnce(q)
      if (next == q) return q
      q = next
      depth += 1
    }
    throw new IllegalStateException(
      "SQL function expansion did not terminate — definition cycle?")
  }

  /** Index just past the '…', "…" or `…` span opening at `i` (\-escapes
    * skipped): the span is copied verbatim, never rewritten.
    */
  private def quotedEnd(q: String, i: Int): Int = {
    var j = i + 1
    while (j < q.length && q.charAt(j) != q.charAt(i))
      j += (if (q.charAt(j) == '\\') 2 else 1)
    math.min(j + 1, q.length)
  }

  private def expandOnce(q: String): String = {
    val sb = new StringBuilder
    val n = q.length
    var i = 0
    while (i < n) {
      val c = q.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        val end = quotedEnd(q, i)
        sb.append(q.substring(i, end)); i = end
      } else if (Character.isJavaIdentifierStart(c)) {
        val start = i
        while (i < n && Character.isJavaIdentifierPart(q.charAt(i))) i += 1
        val word = q.substring(start, i)
        // a dotted reference (db.f / alias.col) is never a macro call
        val qualified = sb.reverseIterator.find(!_.isWhitespace).contains('.')
        var j = i
        while (j < n && q.charAt(j).isWhitespace) j += 1
        sqlFunctions.get(word) match {
          case Some(fn) if !qualified && j < n && q.charAt(j) == '(' =>
            val (args, end) = parseCallArgs(q, j, word)
            require(args.length == fn.params.length,
              s"$word expects ${fn.params.length} argument(s), got ${args.length}")
            sb.append(substituteBody(fn, args))
            i = end
          case _ => sb.append(word)
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Parse a balanced, quote-aware argument list starting at the `(` at
    * `open`; returns (top-level comma-split args, index after `)`).
    */
  private def parseCallArgs(q: String, open: Int,
                            name: String): (Seq[String], Int) = {
    val n = q.length
    var i = open + 1
    var depth = 1
    val args = Seq.newBuilder[String]
    val cur = new StringBuilder
    while (i < n && depth > 0) {
      val c = q.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        val end = quotedEnd(q, i)
        cur.append(q.substring(i, end)); i = end
      } else {
        if (c == '(') depth += 1
        else if (c == ')') depth -= 1
        if (depth == 0) { i += 1 }
        else if (c == ',' && depth == 1) { args += cur.toString; cur.clear(); i += 1 }
        else { cur.append(c); i += 1 }
      }
    }
    require(depth == 0, s"$name: unbalanced parentheses in call")
    val last = cur.toString
    val all = args.result() ++ (if (last.trim.nonEmpty) Seq(last) else Nil)
    require(all.forall(_.trim.nonEmpty),
      s"$name: empty argument in call")
    (all, i)
  }

  /** Body with each parameter occurrence replaced by its parenthesized
    * argument — quote-aware over the body, so a parameter name inside a
    * body string literal stays literal text.
    */
  private def substituteBody(fn: SqlFnDef, args: Seq[String]): String = {
    val bind = fn.params.zip(args.map(a => "(" + a.trim + ")")).toMap
    val b = fn.body
    val n = b.length
    val sb = new StringBuilder("(")
    var i = 0
    while (i < n) {
      val c = b.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        val end = quotedEnd(b, i)
        sb.append(b.substring(i, end)); i = end
      } else if (Character.isJavaIdentifierStart(c)) {
        val start = i
        while (i < n && Character.isJavaIdentifierPart(b.charAt(i))) i += 1
        val word = b.substring(start, i)
        val qualified = sb.reverseIterator.find(!_.isWhitespace).contains('.')
        if (!qualified) sb.append(bind.getOrElse(word, word))
        else sb.append(word)
      } else { sb.append(c); i += 1 }
    }
    sb.append(")")
    sb.toString
  }

  // ---- parameterized views --------------------------------------------
  //
  // CH `CREATE VIEW v AS SELECT … WHERE x = {p:Type}` + `SELECT * FROM
  // v(p = val)`: the view text carries typed placeholders; invocation
  // binds values. Substitution is TYPED literal rendering — numbers are
  // validated numeric (an integer placeholder refuses '1; DROP …'),
  // strings are escaped — so a parameter can never smuggle SQL.

  // the type class admits ',' so Decimal(10,2)-shaped placeholders match
  private val paramRe = """\{(\w+)\s*:\s*([A-Za-z0-9(),]+)\}""".r
  private val paramViews =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Register (or replace) a parameterized view. */
  def createParamView(name: String, text: String): Unit = {
    require(paramRe.findFirstIn(text).isDefined,
      s"parameterized view $name declares no {param:Type} placeholders " +
        "(use a plain temp view instead)")
    paramViews.put(name, text)
  }

  /** Invoke a parameterized view with bound values — `SELECT * FROM
    * name(p = v, …)`. Every declared placeholder must be bound and no
    * extras are accepted.
    */
  def paramView(s: SparkSession, sfDir: String, name: String,
                params: Map[String, Any]): DataFrame = {
    val text = paramViews.getOrElse(name,
      throw new NoSuchElementException(s"unknown parameterized view $name"))
    val decls = paramRe.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).toMap
    val missing = decls.keySet.diff(params.keySet)
    require(missing.isEmpty, s"$name: unbound parameters $missing")
    val extra = params.keySet.diff(decls.keySet)
    require(extra.isEmpty, s"$name: unknown parameters $extra")
    val bound = paramRe.replaceAllIn(text, m =>
      java.util.regex.Matcher.quoteReplacement(
        renderLiteral(name, m.group(1), m.group(2), params(m.group(1)))))
    // belt-and-braces: any '{name:' remnant means a placeholder the
    // regex could not parse (malformed type text) — refuse rather than
    // hand Spark a literal brace token
    require(!"""\{\w+\s*:""".r.findFirstIn(bound).isDefined,
      s"$name: unsubstituted placeholder remains in view text")
    sql(s, sfDir, bound)
  }

  /** Render one bound value as a Spark SQL literal of the declared CH
    * placeholder type — validation IS the injection barrier.
    */
  private def renderLiteral(view: String, p: String, chType: String,
                            v: Any): String = {
    val t = chType.toLowerCase
    def num: String = v match {
      case n: java.lang.Number => n.toString
      case other => throw new IllegalArgumentException(
        s"$view: parameter $p declared $chType but bound to " +
          s"non-numeric ${other.getClass.getSimpleName}")
    }
    if (t.startsWith("uint") || t.startsWith("int")) {
      val s = num
      require(!s.contains('.') && !s.toLowerCase.contains("e"),
        s"$view: parameter $p declared $chType but bound to non-integer $s")
      require(!(t.startsWith("uint") && s.startsWith("-")),
        s"$view: parameter $p declared $chType but bound to negative $s")
      s
    } else if (t.startsWith("float") || t.startsWith("decimal")) {
      val s = num
      // NaN/Infinity would render as bare identifiers ('NaN' is a
      // column reference to Spark's parser) — refuse non-finite binds
      v match {
        case d: java.lang.Double if d.isNaN || d.isInfinite =>
          throw new IllegalArgumentException(
            s"$view: parameter $p declared $chType but bound to non-finite $d")
        case f: java.lang.Float if f.isNaN || f.isInfinite =>
          throw new IllegalArgumentException(
            s"$view: parameter $p declared $chType but bound to non-finite $f")
        case _ =>
      }
      s
    }
    else if (t == "string" || t == "date" || t.startsWith("datetime") ||
             t.startsWith("fixedstring"))
      // Spark's default lexer processes backslash escapes in literals
      "'" + v.toString.replace("\\", "\\\\").replace("'", "\\'") + "'"
    else throw new IllegalArgumentException(
      s"$view: parameter $p has unsupported placeholder type $chType")
  }

  private val outfileRe =
    "(?is)^(.*\\S)\\s+INTO\\s+OUTFILE\\s+'([^']+)'(?:\\s+FORMAT\\s+(\\w+))?\\s*$".r

  /** CH CLI `SELECT … INTO OUTFILE 'path' [FORMAT fmt]`: runs the inner
    * query and writes ONE file at `path` (the CH shape — a single file,
    * single-writer; Spark stages a directory and the lone part moves into
    * place). Default format TabSeparated, like the CLI. Returns a one-row
    * (path, format, rows) summary frame. Refuses an existing path (CH
    * errors too — an export must never silently clobber).
    */
  private def exportOutfile(s: SparkSession, sfDir: String, inner: String,
                            path: String, fmt: Option[String]): DataFrame = {
    val target = java.nio.file.Paths.get(path)
    require(!java.nio.file.Files.exists(target),
      s"INTO OUTFILE $path: file exists (ClickHouse refuses to overwrite)")
    val df = chSql(s, sfDir, inner)
    val format = fmt.map(_.toLowerCase).getOrElse("tabseparated")
    val stage = java.nio.file.Files.createTempDirectory("graft-outfile")
    val stageDir = stage.resolve("out").toString
    val one = df.coalesce(1)
    format match {
      case "csv" => one.write.option("header", "false").csv(stageDir)
      case "csvwithnames" => one.write.option("header", "true").csv(stageDir)
      case "tsv" | "tabseparated" =>
        one.write.option("sep", "\t").option("header", "false").csv(stageDir)
      case "tsvwithnames" | "tabseparatedwithnames" =>
        one.write.option("sep", "\t").option("header", "true").csv(stageDir)
      case "jsoneachrow" | "ndjson" | "jsonlines" => one.write.json(stageDir)
      case "parquet" => one.write.parquet(stageDir)
      case other => throw new IllegalArgumentException(
        s"INTO OUTFILE FORMAT $other: supported exports are CSV[WithNames], " +
          "TSV/TabSeparated[WithNames], JSONEachRow, Parquet")
    }
    val found = {
      import scala.jdk.CollectionConverters._
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get(stageDir))
      try listing.iterator().asScala
        .find(_.getFileName.toString.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(
          s"INTO OUTFILE $path: no part file written"))
      finally listing.close()
    }
    Option(target.getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.move(found, target)
    // the row count comes from the WRITTEN file, never a second query
    // execution (a non-deterministic inner query could otherwise report
    // a different count than it exported): parquet reads footers only,
    // JSONEachRow counts lines (JSON escapes newlines, one row per
    // line), CSV/TSV re-parse multiLine-aware (quoted embedded newlines)
    val header = (format.endsWith("withnames")).toString
    val rows = format match {
      case "parquet" => s.read.parquet(path).count()
      case f if f.startsWith("csv") =>
        s.read.option("header", header).option("multiLine", "true")
          .csv(path).count()
      case f if f.startsWith("tsv") || f.startsWith("tabseparated") =>
        s.read.option("header", header).option("multiLine", "true")
          .option("sep", "\t").csv(path).count()
      case _ =>
        val lineStream = java.nio.file.Files.lines(target)
        try lineStream.count() finally lineStream.close()
    }
    import s.implicits._
    Seq((path, format, rows)).toDF("path", "format", "rows")
  }

  /** ClickHouse-dialect entry point: the [[ChDialect]] shim rewrites the
    * CH-isms the reference's own SQL surface uses (`count()`, `countIf`,
    * `::UInt32` casts, `FINAL`, `PREWHERE`, `quantile(q)(x)`, …) into
    * Spark SQL for the session's parser — so a user can paste the
    * reference's queries as written.
    */
  def chSql(s: SparkSession, sfDir: String, query: String): DataFrame = {
    // CH `EXPLAIN SYNTAX <stmt>`: the rewritten statement as a result
    // frame (CH returns its optimizer's re-spelled query; here the
    // analog is the dialect's lowering — exactly what this engine will
    // hand Spark's parser). One row per line, CH's column name.
    val syntax = "(?is)^\\s*EXPLAIN\\s+SYNTAX\\b(.*)$".r
      .findFirstMatchIn(query).map(_.group(1).trim)
    if (syntax.isEmpty) outfileRe.findFirstMatchIn(query).foreach { m =>
      return exportOutfile(s, sfDir, m.group(1), m.group(2),
        Option(m.group(3)))
    }
    // the session is set up and the tables the statement names are
    // bound BEFORE the rewrite: its analyzer hook gives schema-needing
    // rewrites (WITH FILL column order, INTERPOLATE) the body's output
    // columns — an analysis-only probe (DataFrame creation never
    // executes) of a slice of this text, a bare parse+analyze that
    // recurses through ITSELF so a nested CH body resolves identically.
    // Tables only the lowered text names (`remote('h', 'db', 'orders')`
    // names its table in a literal) bind after the rewrite.
    ensureSession(s)
    val bound = bindFileRefs(s, syntax.getOrElse(query))
    val named = bindNamed(bound, Tables.names)(testdata(s, sfDir))
    lazy val probe: String => Seq[String] = b =>
      s.sql(expandFunctions(ChDialect.rewrite(b, Some(probe)))).columns.toSeq
    val lowered = expandFunctions(ChDialect.rewrite(bound, Some(probe)))
    import s.implicits._
    if (syntax.isDefined)
      lowered.linesIterator.map(_.stripTrailing()).toSeq.toDF("explain")
    else {
      bindNamed(lowered, Tables.names, named)(testdata(s, sfDir))
      s.sql(lowered)
    }
  }

  /** `EXPLAIN [PIPELINE]` analog: the formatted physical plan for a SQL
    * text — the surface an engine user reads to check pushdown
    * (`PushedFilters`), codegen spans (`WholeStageCodegen`), and join
    * strategies, without leaving the SQL entry point.
    */
  def explain(s: SparkSession, sfDir: String, query: String): String =
    sql(s, sfDir, query).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
}
