package graft.sql

import org.apache.spark.sql.types._
import graft.catalog.{Aggregating, Append, Catalog, Collapsing, JoinAny,
  NullEngine, ReplacingDedup, Summing, TableDef}

/** `SHOW CREATE TABLE` / `DESCRIBE TABLE` — the renderer from a registered
  * [[TableDef]] back to ClickHouse DDL text, the inverse of [[ChDdl.parse]]
  * (the statement class the reference's users run daily to inspect a
  * table, ClickHouse docs' SHOW CREATE TABLE).
  *
  * The contract, property-tested in ChDdlSpec across the whole algebra:
  * for any `d` produced by `ChDdl.parse`, `ChDdl.parse(render(d)) == d` —
  * so the renderer doubles as a regression net over the parser's type
  * algebra, engine mapping, index families, and derived-column clauses.
  *
  * Derived columns are folded back into their declaring clause, exactly
  * inverting what parse materialized:
  *   - `PARTITION BY toYYYYMM(c)`'s stored month ordinal (`p_yyyymm_c`)
  *     renders as the original expression, not as a column;
  *   - SAMPLE BY's stored bucket column ([[Catalog.SampleCol]]) renders
  *     as `SAMPLE BY key` (the key recovered by matching the stored
  *     expression against [[Catalog.sampleExprSql]]);
  *   - Enum CHECK constraints regenerate from the column type, so the
  *     auto-added `<col>_enum` constraints are not rendered.
  */
object ChDdlRender {

  private def flag(m: Metadata, k: String): Boolean =
    m.contains(k) && m.getBoolean(k)

  /** Spark field → ClickHouse type text (inverse of ChDdl.parseType over
    * the representable algebra; Nullable and Enum8-vs-16 widths collapse
    * to their canonical carrier, as parse's own mapping does).
    */
  def chTypeText(f: StructField): String = typeText(f.dataType, f.metadata)

  private def typeText(dt: DataType, m: Metadata): String = {
    // a state column renders from its declared spelling, whatever the
    // storage representation (binary sketch, struct, map)
    if (m.contains("aggFn"))
      return s"AggregateFunction(${m.getString("aggFn")}, " +
        s"${m.getStringArray("aggArgs").mkString(", ")})"
    val base = dt match {
      case StringType if m.contains("enumNames") =>
        val names = m.getStringArray("enumNames")
        val codes = m.getLongArray("enumCodes")
        val kind =
          if (codes.forall(c => c >= -128 && c <= 127)) "Enum8" else "Enum16"
        names.zip(codes).map { case (n, c) =>
          "'" + n.replace("\\", "\\\\").replace("'", "\\'") + "' = " + c
        }.mkString(s"$kind(", ", ", ")")
      case StringType if m.contains("fixedLength") =>
        s"FixedString(${m.getLong("fixedLength")})"
      case StringType => "String"
      case ByteType => "Int8"
      case ShortType => if (flag(m, "unsigned")) "UInt8" else "Int16"
      case IntegerType => if (flag(m, "unsigned")) "UInt16" else "Int32"
      case LongType =>
        if (flag(m, "rangeLossAccepted")) "UInt64"
        else if (flag(m, "unsigned")) "UInt32" else "Int64"
      case FloatType => "Float32"
      case DoubleType => "Float64"
      case BooleanType => "Bool"
      case DateType => "Date"
      case TimestampType => "DateTime"
      case d: DecimalType => s"Decimal(${d.precision}, ${d.scale})"
      case VariantType => "JSON"
      // the element's lossy-mapping flags (unsigned/…) ride the FIELD
      // metadata (ChArray.metadata delegates to its inner type)
      case ArrayType(inner, _) => s"Array(${typeText(inner, m)})"
      case other => throw new IllegalArgumentException(
        s"no ClickHouse rendering for Spark type ${other.simpleString}")
    }
    if (flag(m, "lowCardinality")) s"LowCardinality($base)" else base
  }

  private val monthColRe = "^p_yyyymm_(.+)$".r

  /** The auto Enum CHECK constraint parse generates — regenerated here so
    * the renderer can recognize (and omit) it.
    */
  private def enumConstraint(f: StructField): Option[(String, String)] =
    if (!f.metadata.contains("enumNames")) None
    else {
      val lits = f.metadata.getStringArray("enumNames").map(v =>
        "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'").mkString(", ")
      Some(s"${f.name}_enum" -> s"${f.name} IS NULL OR ${f.name} IN ($lits)")
    }

  private def keyClause(keys: Seq[String]): String =
    if (keys.isEmpty) "tuple()"
    else if (keys.length == 1) keys.head
    else keys.mkString("(", ", ", ")")

  /** SHOW CREATE TABLE: the full CH DDL statement for a registered def. */
  def render(t: TableDef): String = {
    // --- invert SAMPLE BY's derived state -------------------------------
    val sampleKey: Option[String] =
      if (!t.schema.fieldNames.contains(Catalog.SampleCol)) None
      else {
        val sql = t.materializedCols.collectFirst {
          case (Catalog.SampleCol, e) => e
        }.getOrElse(throw new IllegalArgumentException(
          s"${t.name}: ${Catalog.SampleCol} column without its " +
            "materialized bucket expression — not a SAMPLE BY table"))
        Some(t.schema.fieldNames.find(k => Catalog.sampleExprSql(k) == sql)
          .getOrElse(throw new IllegalArgumentException(
            s"${t.name}: cannot recover the SAMPLE BY key from '$sql'")))
      }
    val t0 =
      if (sampleKey.isEmpty) t
      else t.copy(
        schema = StructType(
          t.schema.fields.filterNot(_.name == Catalog.SampleCol)),
        sortKeys = t.sortKeys.filterNot(_ == Catalog.SampleCol),
        minmaxCols = t.minmaxCols.filterNot(_ == Catalog.SampleCol),
        materializedCols =
          t.materializedCols.filterNot(_._1 == Catalog.SampleCol))

    // --- invert PARTITION BY toYYYYMM's stored month ordinal ------------
    val (partitionClause, hiddenPartCol) = t0.partitionKeys match {
      case Seq(pc @ monthColRe(c))
        if t0.materializedCols.contains(
          pc -> s"CAST(date_format($c, 'yyyyMM') AS INT)") =>
        (Some(s"toYYYYMM($c)"), Some(pc))
      case Nil => (None, None)
      case keys => (Some(keyClause(keys)), None)
    }

    val materialized = t0.materializedCols.filterNot { case (c, _) =>
      hiddenPartCol.contains(c)
    }.toMap
    val deltaCodecs = t0.columnCodecs.collect {
      case (c, "delta") => c
    }.toSet

    def lineOf(f: StructField): String = {
      val mat = materialized.get(f.name).map(e => s" MATERIALIZED $e")
        .getOrElse("")
      // a DEFAULT rides in field metadata (ChDdl.parse, ADD COLUMN); the
      // emitted expression is the REWRITTEN (Spark-safe) text, on which
      // a re-parse's ChDialect pass is a no-op — the round-trip contract
      val dflt = if (f.metadata.contains("chDefault"))
        s" DEFAULT ${f.metadata.getString("chDefault")}" else ""
      val codec =
        if (deltaCodecs.contains(f.name)) " CODEC(Delta)" else ""
      s"  `${f.name}` ${chTypeText(f)}$dflt$mat$codec"
    }
    // consecutive fields tagged with one Nested group fold back into
    // the `g Nested(a T, b U)` spelling (parse∘render∘parse identity);
    // each field's type is Array(T) — the inner spelling strips the
    // wrapper the Nested expansion added
    val colLines = {
      val fs = t0.schema.fields.toSeq
        .filterNot(f => hiddenPartCol.contains(f.name))
      val out = Seq.newBuilder[String]
      var i = 0
      while (i < fs.length) {
        val f = fs(i)
        if (f.metadata.contains("chNested")) {
          val g = f.metadata.getString("chNested")
          val run = fs.drop(i).takeWhile(x =>
            x.metadata.contains("chNested") &&
              x.metadata.getString("chNested") == g)
          val subs = run.map { x =>
            val arr = chTypeText(x)
            require(arr.startsWith("Array(") && arr.endsWith(")"),
              s"${t.name}: Nested field ${x.name} is not an Array")
            val elem = arr.substring("Array(".length, arr.length - 1)
            s"`${x.name.stripPrefix(g + ".")}` $elem"
          }
          out += s"  `$g` Nested(${subs.mkString(", ")})"
          i += run.length
        } else { out += lineOf(f); i += 1 }
      }
      out.result()
    }

    // constraints minus the Enum auto-checks (regenerated at parse)
    val autoCons = t0.schema.fields.flatMap(enumConstraint).toSet
    val conLines = t0.constraints.filterNot(autoCons.contains).map {
      case (n, e) => s"  CONSTRAINT $n CHECK $e"
    }
    val idxLines =
      graft.catalog.IndexKind.all.flatMap(_.render(t0)) ++
      t0.projections.map {
        case graft.catalog.AggProjection(n, dims, sums) =>
          val items = dims ++ Seq("count()") ++ sums.map(c => s"sum($c)")
          s"  PROJECTION $n (SELECT ${items.mkString(", ")} " +
            s"GROUP BY ${dims.mkString(", ")})"
        case graft.catalog.SortProjection(n, key) =>
          s"  PROJECTION $n (SELECT * ORDER BY $key)"
      }

    val engine = t0.semantics match {
      case Append => "MergeTree"
      case ReplacingDedup(keys, ver, isDeleted) =>
        require(keys == t0.sortKeys, s"${t.name}: ReplacingMergeTree keys " +
          s"(${keys.mkString(", ")}) must equal ORDER BY to be DDL-expressible")
        s"ReplacingMergeTree(${(ver +: isDeleted.toSeq).mkString(", ")})"
      case Summing(keys, cols) =>
        require(keys == t0.sortKeys, s"${t.name}: SummingMergeTree keys " +
          s"(${keys.mkString(", ")}) must equal ORDER BY to be DDL-expressible")
        if (cols.isEmpty) "SummingMergeTree"
        else s"SummingMergeTree((${cols.mkString(", ")}))"
      case Collapsing(keys, sign, version) =>
        require(keys == t0.sortKeys, s"${t.name}: VersionedCollapsing keys " +
          s"(${keys.mkString(", ")}) must equal ORDER BY to be DDL-expressible")
        s"VersionedCollapsingMergeTree($sign, $version)"
      case NullEngine => "Null"
      case JoinAny(keys) => s"Join(ANY, LEFT, ${keys.mkString(", ")})"
      case Aggregating(keys, stateCols, _)
          if keys == t0.sortKeys &&
            stateCols.forall(c => t0.schema(c).metadata.contains("aggFn")) =>
        "AggregatingMergeTree"
      case _: Aggregating => throw new IllegalArgumentException(
        s"${t.name}: AggregatingMergeTree state kinds are a typed " +
          "declaration with no DDL text form (symmetric with ChDdl.parse)")
    }

    val body = (colLines ++ conLines ++ idxLines).mkString(",\n")
    // fixed TTLs render in normalized SECONDs (parse folds every fixed
    // unit to seconds, so parse∘render∘parse is the identity even if the
    // declared unit was DAY); calendar TTLs keep the MONTH spelling —
    // months never normalize to seconds
    val ttlClause = t0.ttl.map { sp =>
      val rollup =
        if (sp.groupKeys.isEmpty) ""
        else s" GROUP BY ${sp.groupKeys.mkString(", ")} SET " +
          sp.set.map { case (c, a) => s"$c = $a" }.mkString(", ")
      val interval = sp.calMonths match {
        case Some(m) => s"INTERVAL $m MONTH"
        case None => s"INTERVAL ${sp.maxAgeSec} SECOND"
      }
      s"TTL ${sp.col} + $interval$rollup"
    }
    val clauses = Seq(
      Some(s"ENGINE = $engine"),
      Some(s"ORDER BY ${keyClause(t0.sortKeys)}"),
      partitionClause.map(p => s"PARTITION BY $p"),
      sampleKey.map(k => s"SAMPLE BY $k"),
      ttlClause).flatten
    s"CREATE TABLE ${t.name} (\n$body\n)\n${clauses.mkString("\n")}"
  }

  /** SHOW CREATE TABLE for a Distributed facade (round 13): the
    * declaration renders back from the member schema — the facade
    * declares no storage of its own, so the member's PLAIN columns are
    * the declared list (derived columns — the SAMPLE bucket, the
    * toYYYYMM month ordinal — belong to the member's own SHOW CREATE,
    * not the facade's).
    */
  def renderDistributed(d: graft.catalog.DistributedDef,
                        memberSchema: StructType): String = {
    val colLines = memberSchema.fields.toSeq
      .filterNot(f => f.name == Catalog.SampleCol ||
        monthColRe.findFirstIn(f.name).isDefined)
      .map(f => s"  `${f.name}` ${chTypeText(f)}")
    s"CREATE TABLE ${d.name} (\n${colLines.mkString(",\n")}\n)\n" +
      s"ENGINE = Distributed('${d.cluster}', '${d.db}', " +
      s"'${d.memberBase}', ${d.shardKey})"
  }

  /** `DESCRIBE TABLE` rows: (name, type, default_type, default_expression)
    * — every PHYSICAL column, including derived ones (CH shows stored
    * columns; a materialized column lists its expression).
    */
  def describe(t: TableDef): Seq[(String, String, String, String)] = {
    val materialized = t.materializedCols.toMap
    t.schema.fields.toSeq.map { f =>
      materialized.get(f.name) match {
        case Some(e) => (f.name, chTypeText(f), "MATERIALIZED", e)
        case None if f.metadata.contains("chDefault") =>
          (f.name, chTypeText(f), "DEFAULT", f.metadata.getString("chDefault"))
        case None => (f.name, chTypeText(f), "", "")
      }
    }
  }
}
