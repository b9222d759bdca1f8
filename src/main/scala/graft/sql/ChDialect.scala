package graft.sql

/** Mechanical ClickHouse-dialect → Spark-SQL shim for the SQL entry
  * point: the subset of CH-isms the reference's own SQL surface uses
  * (README.md:232-266, create_db.py typed projections) plus the everyday
  * query-side idioms, rewritten token-by-token so `GraftSql.chSql` can
  * run CH-shaped text through the session's parser unchanged otherwise.
  *
  * Supported rewrites:
  *   - `count()` → `count(*)`; `countIf(p)` → `count_if(p)`;
  *     `sumIf(x, p)` → `sum(CASE WHEN p THEN x ELSE 0 END)`;
  *     `avgIf(x, p)` → `avg(CASE WHEN p THEN x END)`
  *   - CH's expression-WITH (`WITH 10 AS k` / `WITH (SELECT …) AS m`) →
  *     textual alias substitution, CTE items untouched (doc on
  *     [[rewriteWithAliases]]); `countDistinct(x…)` →
  *     `count(DISTINCT x…)`; `dateTrunc`/`toStartOfMinute` →
  *     `date_trunc`; `toStartOfInterval(ts, INTERVAL n unit)` and the
  *     `toStartOfFiveMinutes` family → epoch-grid floors (calendar
  *     units refuse loudly — no fixed second width)
  *   - `uniq(x)` → `approx_count_distinct(x)`;
  *     `uniqExact(x…)` → `count(DISTINCT x…)`
  *   - combinator calls `quantile(q)(x)` / `quantileExact(q)(x)` →
  *     `percentile(x, q)`
  *   - `::UInt8/UInt16/UInt32/UInt64/Int8…/Float32/Float64/String/
  *     Date/DateTime[('tz')]` type names → Spark type names (Spark
  *     itself parses the `::` cast syntax); unsigned widths map UP
  *     (UInt32 → BIGINT) so no legal value overflows
  *   - `toStartOfDay/Hour/Week/Month/Quarter/Year` → `date_trunc`;
  *     `toYYYYMM(x)` → `CAST(date_format(x,'yyyyMM') AS INT)`;
  *     `toDate` → `to_date`; `toYear/toMonth/toDayOfMonth/toHour` →
  *     `year/month/dayofmonth/hour`; `now()`/`today()` →
  *     `current_timestamp()`/`current_date()`
  *   - `arrayJoin(x)` → `explode(x)`; `any(x)`/`anyLast(x)` →
  *     `any_value(x)`; `empty(x)`/`notEmpty(x)` → `(x = '')`/`(x <> '')`
  *   - everyday scalar/aggregate breadth: `argMax/argMin` →
  *     `max_by/min_by`; `groupArray/groupUniqArray` →
  *     `collect_list/collect_set`; `maxIf/minIf` → filtered CASE
  *     aggregates; `has/indexOf/arrayStringConcat/lengthUTF8` → their
  *     Spark names; `position(h, n)` → `locate(n, h)` (argument swap);
  *     `multiIf(…)` → the CASE chain; function-form casts (`toString`,
  *     the `toIntN`/`toUIntN`/`toFloatN` families) → `CAST(… AS T)`
  *     with the same widen-unsigned mapping as the `::` table
  *   - the higher-order array family (lambda-FIRST → array-first:
  *     `arrayMap/Filter/Exists/All/Count/First/FirstIndex` →
  *     `transform/filter/exists/forall/…`, 2-array map → `zip_with`),
  *     the array rename tier (`arraySort/Reverse/Flatten/Concat/
  *     Distinct/Element/PushBack/PushFront/Zip/Uniq/Slice/Enumerate`),
  *     the string tier (`replaceAll/replaceRegexpAll/match/startsWith/
  *     endsWith/leftPad/rightPad/trimLeft/trimRight/trimBoth`, the UTF8
  *     spellings, `concatWithSeparator`), and the map accessors
  *     (`mapKeys/mapValues/mapContains`)
  *   - `cityHash64`/`sipHash64` → `xxhash64` (same bucketing role;
  *     hash VALUES differ — do not compare digests across engines)
  *   - table modifiers: `FINAL` stripped (catalog reads ARE the merged
  *     view — FINAL semantics are the default here), `PREWHERE` →
  *     `WHERE` (Catalyst pushes the predicate into the scan, which is
  *     what PREWHERE asks for); `t SAMPLE k [OFFSET m]` → a derived
  *     table filtered on the deterministic bucket window of `t`'s
  *     declared sampling key ([[SampleKeys]]; window math shared with
  *     the storage path through `Catalog.sampleWindow` — see the
  *     SAMPLE BY doc there). Fraction form only: the row-count form
  *     `SAMPLE n` needs table statistics and fails loudly.
  *   - `GROUP BY … WITH ROLLUP/CUBE` → ANSI `GROUP BY ROLLUP(…)`/
  *     `CUBE(…)` (Catalyst's Expand operator — one scan, no re-read per
  *     grouping set); `WITH TOTALS` → `GROUPING SETS ((…), ())`, the
  *     totals row surfacing as the all-NULL-keys row of the same result
  *     set (CH ships it as a separate block; a single relation has no
  *     side channel, and the NULL-keys row is the standard SQL shape)
  *   - `WITH RECURSIVE name AS (anchor UNION ALL step)` passes through
  *     UNTRANSLATED to Spark 4.1's native recursive-CTE execution; the
  *     per-segment rewrites (count(), toMonth, …) still apply inside
  *     both the anchor and the recursive term. Depth bounds loudly on
  *     both engines (Spark cteRecursionLevelLimit = 100 +
  *     cteRecursionRowLimit = 1e6; CH
  *     max_recursive_cte_evaluation_depth = 1000) — never a silent
  *     truncation (ChSqlSpec pins the gate shapes + the loud limit)
  *   - `ORDER BY … LIMIT n BY cols [LIMIT m]` → a row_number window
  *     partitioned by the BY list over the query's own ORDER BY
  *     (top-level statements only; an ORDER BY is required — see
  *     [[rewriteLimitBy]])
  *   - `ORDER BY x [ASC|DESC] WITH FILL [FROM a TO b] [STEP s]
  *     [INTERPOLATE (c [AS expr], …)]` (CH's gap-filling sort) → a FULL
  *     OUTER join of the body against the generated step axis
  *     (`sequence()`), so existing rows — on- or off-grid — are all kept
  *     and missing grid points appear with NULL non-interpolated columns
  *     (SQL convention; ClickHouse emits type defaults — documented
  *     divergence, same stance as LEFT ARRAY JOIN). FROM is inclusive,
  *     TO exclusive, STEP defaults to 1 (−1 descending); with no bounds
  *     the axis spans the body's own min..max through a `WITH
  *     __fill_body` CTE (one body evaluation for bounds + join). Through
  *     the schema-aware entry point (GraftSql.chSql) the SELECT's
  *     declared column order is preserved and INTERPOLATE carries the
  *     last actual row's values into filled rows (`AS expr` evaluates
  *     over the last ACTUAL row — see [[rewriteWithFill]] for the
  *     multi-row-gap divergence). Single plain-identifier fill key,
  *     top-level statements.
  *   - `FROM t [LEFT] ARRAY JOIN expr AS x` (the clause form of CH's
  *     array unnest; the function form `arrayJoin(x)` maps to `explode`
  *     above) → `LATERAL VIEW [OUTER] explode(expr) __ajN AS x`. LEFT
  *     keeps empty-array rows with a NULL element (SQL convention;
  *     ClickHouse emits the type's default value — documented
  *     divergence). The alias is REQUIRED: the bare `ARRAY JOIN col`
  *     makes the element SHADOW the array column, which no LATERAL
  *     VIEW rewrite can express without ambiguity — it fails loudly.
  *     The zipped multi-array form (`ARRAY JOIN a AS x, b AS y`)
  *     explodes in lockstep via `inline(arrays_zip(…))`; unequal array
  *     lengths NULL-pad (ClickHouse throws — documented divergence).
  *   - `splitByChar(sep, s)`/`splitByString(sep, s)` → `split(s, sep)`
  *     with the separator regex-quoted via `\\Q…\\E` (argument swap;
  *     any separator byte stays literal)
  *   - `LIMIT offset, n` (the CH/MySQL comma form) → `LIMIT n OFFSET
  *     offset`; `intDiv(a, b)` → `(a DIV b)`; `modulo(a, b)` → `(a % b)`
  *     (both engines keep the dividend's sign); `toUnixTimestamp(x)` →
  *     `unix_timestamp(x)`; `fromUnixTimestamp(x)` → `from_unixtime(x)`
  *   - `FROM numbers(N)` / `numbers(offset, N)` (CH's integer-generator
  *     table function) → a derived `explode(sequence(…))` table aliased
  *     `numbers` with CH's column name `number`
  *   - everyday tier 3 (round 12): `dateDiff('unit', a, b)` → the
  *     truncate-then-subtract form of each unit (CH counts BOUNDARY
  *     CROSSINGS — `dateDiff('year', Dec 31, Jan 1) = 1` — which is NOT
  *     Spark's `timestampdiff`); `age('unit', a, b)` (complete units) →
  *     `timestampdiff`; `addDays/addHours/…/subtractYears(x, n)` →
  *     `timestampadd(UNIT, ±n, x)` (a Date input widens to TIMESTAMP —
  *     CH keeps Date; cast back where it matters);
  *     `parseDateTimeBestEffort[OrNull]` → `[try_]to_timestamp` (ISO /
  *     Spark-default spellings only — CH's fuzzy multi-format guessing
  *     is NOT replicated; a non-ISO spelling errors rather than guesses);
  *     `toDayOfWeek` → ISO Monday=1 shift of `dayofweek`; `median(x)` →
  *     `percentile(x, 0.5)` (exact — the quantile-combinator stance)
  *   - arithmetic array family: `arraySum/arrayAvg/arrayMin/arrayMax
  *     ([f,] x)` → `aggregate`/`array_min`/`array_max` (+`transform` for
  *     the lambda forms); `arrayCumSum(x)` → per-index prefix
  *     `aggregate(slice(…))` (O(n²) in array length — arrays are
  *     row-local); `arrayDifference(x)` → indexed `transform`.
  *     Accumulation is DOUBLE — CH returns the widened ELEMENT type;
  *     integer sums past 2^53 lose exactness here (documented trade).
  *     The array argument is INLINED more than once in cumSum/difference
  *     — pass a column, not an expensive expression; `range(n)` /
  *     `range(lo, hi[, step])` → `slice(sequence(…))` (CH's half-open
  *     contract, empty at n=0)
  *   - URL family → `parse_url` probes: `protocol/domain/
  *     domainWithoutWWW/topLevelDomain/path/queryString(u)`,
  *     `extractURLParameter(u, k)`, `cutQueryString(u)` (full URLs —
  *     scheme-less strings parse host-less here, CH's raw-text rules
  *     differ on those); `IPv4NumToString/IPv4StringToNum` → octet bit
  *     arithmetic (argument inlined per octet);
  *     `greatCircleDistance/geoDistance(lon1, lat1, lon2, lat2)` →
  *     haversine METERS on the 6371008.8 m mean-radius sphere (CH's
  *     geoDistance applies an ellipsoid correction — metre-scale
  *     divergence on long paths, documented);
  *     `SELECT * EXCEPT col` (CH's paren-less single-column form) →
  *     `* EXCEPT (col)`; `GROUP BY ALL` passes through (both engines)
  *   - `QUALIFY <pred>` (filter on window results — Spark's grammar
  *     lacks it): the body nests as a derived table, the predicate moves
  *     to an outer WHERE, and direct `fn(…) OVER (…)` spans in the
  *     predicate hoist into computed columns first; named windows
  *     (`OVER w`) refuse. The -If combinator family rounds out with
  *     `uniqIf/uniqExactIf/anyIf/groupArrayIf` → null-skipping CASE
  *     aggregates
  *   - CH array literals `[1, 2]` → `array(1, 2)` (a `[` after a value
  *     is a SUBSCRIPT and passes through — `m['k']` works in both
  *     engines); `toTimeZone(ts, tz)` → `convert_timezone('UTC', tz,
  *     ts)` (UTC sessions: same wall-clock result, TZ-less kind —
  *     documented); `toISOWeek`/`toISOYear` → `weekofyear` / the
  *     Thursday-year; `formatReadableSize/Quantity` → fixed two-decimal
  *     `format_string` CASE ladders (KiB/MiB/… and thousand/million/…)
  *   - everyday tier 4 (round 12, second pass): `extract`/`extractAll`
  *     (whole-match vs first-capture-group chosen from the literal
  *     pattern, the regex-dialect guard applies), `countSubstrings`,
  *     `multiSearchAny`, `base64Encode/Decode`, `splitByWhitespace`,
  *     `format('{}…')` → format_string (in-slot `{}`/`{N}` → `%s`/
  *     `%N$s`), `positionCaseInsensitive[UTF8]`; the STRING-JSON door
  *     `simpleJSON* / visitParam*` → strict get_json_object probes with
  *     CH's type-default-on-miss (the Variant door stays JSONExtract*),
  *     `JSONHas/JSONLength/JSON_VALUE`; no-op wrappers (`assumeNotNull`,
  *     `toNullable`, `identity`, `materialize`, `ignore`); moment
  *     aggregates (`stddevPop/varSamp/covarPop/skewPop` renames,
  *     `kurtPop` → kurtosis+3 — CH is NON-excess; `kurtSamp/skewSamp`
  *     refuse), `groupBitAnd/Or/Xor` → bit_and/or/xor, the uniq sketch
  *     spellings (`uniqCombined[64]/uniqHLL12/uniqTheta`) and the
  *     approximate quantiles (`quantileTDigest/Timing/BFloat16/
  *     Deterministic`) onto Spark's sketches (estimates differ across
  *     engines — the uniq stance), `anyHeavy` → exact mode,
  *     `avgWeighted`, `sumCount` → named struct, `sumMap/minMap/maxMap`
  *     → the MapCombine aggregates (key-wise merge, SORTED keys; input
  *     normalized to MAP<STRING, DOUBLE>), `groupConcat[(sep)]`;
  *     order-dependent `deltaSum`/`groupArrayMovingSum` and weighted
  *     `topKWeighted` REFUSE with the deterministic alternative named;
  *     date tier (`toMonday`, `toRelative*Num`, `toYYYYMMDD[hhmmss]`,
  *     `now64/toDateTime64` at Spark's microsecond kind, the
  *     `to/fromUnixTimestamp64*` family, `dateName`, `toTime`,
  *     `timeSlot`, `makeDate[Time]`, `toLastDayOfMonth`); conversions
  *     (`toDecimal32/64/128`, `to*OrZero/OrNull` try-casts with CH's
  *     type defaults, `accurateCast[OrNull]`, CH type names inside
  *     `CAST(x AS Float64)` / 2-arg `CAST(x, 'T')`, `toUUID` → the
  *     canonical string); array tier (`hasAll/hasAny/arrayIntersect`,
  *     `arrayResize` — 2-arg pads NULL where CH pads the type default,
  *     `arrayReverseSort` plain form, `arrayCompact`, `arrayPop*`,
  *     `arrayReduce('agg', …)` literal names, `arrayRotate*`,
  *     `arrayLast[Index]`, `emptyArray*` typed empties,
  *     `arrayWithConstant`, `arrayShingles`); `tuple` → struct with
  *     `tupleElement` positional `.colN` / literal-name access,
  *     `mapFromArrays`, `mapAdd/mapSubtract` → map_zip_with; bit call
  *     forms (`bitAnd/Or/Xor/Not/Test`, `bitShift*`, `bitCount`); math
  *     (`roundBankers` → rint, `intDivOrZero/moduloOrZero`,
  *     `plus/minus/multiply/divide/negate`, `roundToExp2`, the
  *     `roundDuration/roundAge` ladders); `bin` byte-padded, variadic
  *     `char`, CH's 3/4-arg `transform` value-mapping,
  *     `isFinite/isInfinite`, `SHA224…512` → sha2 (HEX spelling — CH
  *     returns raw bytes, documented), `farmHash64/halfMD5` → xxhash64
  *     (hash stance), `currentDatabase()` → 'default', `hostName()` →
  *     'localhost', `randConstant()` → a scalar subquery (constant per
  *     query, exactly CH's contract)
  *   - everyday tier 7 (round 14, fourth audit — doc on
  *     [[rewriteTier7]]): sub-second `toStartOfSecond/Milli/Microsecond`,
  *     `nthValue`, `formatDateTime` %b/%k/%l/%z slots,
  *     `formatDateTimeInJodaSyntax`, `timeSlots`, the
  *     `dateAdd/dateSub/timestampAdd/timestampSub` call shapes,
  *     `toIntervalX`, Modified-Julian days, snowflake ids, the
  *     calendar `toRelative*Num` half, `rand()/rand64()` INTEGER
  *     contracts (Spark's rand() is randCanonical), `levenshtein`,
  *     `tokens/ngrams/splitByRegexp`, URL-family completion
  *     (`fragment/netloc/port/encodeURLComponent`), vector distances
  *     (`L1/L2/Linf Distance` — per-row folds, the X144 note),
  *     `mapExists/mapAll/mapSort`, `quantileExactWeighted`,
  *     `formatReadableTimeDelta`, `bar()` (nearest-eighth blocks),
  *     `isIPAddressInRange` (literal IPv4 CIDR), and ~35 pointed
  *     refusals naming alternatives (entropy, geohash, NLP dictionary
  *     functions, nondeterministic array ops, …)
  *   - statement forms (round 12, second pass): `GLOBAL [NOT] IN` drops
  *     the keyword (Spark owns the broadcast decision); `SELECT DISTINCT
  *     ON (cols)` → `LIMIT 1 BY` (ORDER BY required — the LIMIT BY
  *     stance); `ORDER BY k LIMIT n WITH TIES` → a rank() nest keeping
  *     every row tying with the n-th (order keys must be output
  *     columns); ANSI `OFFSET n ROWS [FETCH FIRST m ROWS ONLY]` →
  *     LIMIT/OFFSET (`FETCH … WITH TIES` routes to the ties nest; with
  *     a row offset it refuses); `SELECT * REPLACE (expr AS col)`
  *     expands through the analyzer probe keeping column POSITIONS;
  *     `FROM system.one` binds the one-row dummy; `c COLLATE 'loc'` →
  *     `collate(c, 'UNICODE')` (every locale maps to the root collation
  *     — documented divergence); ASOF/PASTE/ANY/ALL JOIN and
  *     `COLUMNS(…) APPLY` refuse loudly with the operator or spelling
  *     that covers the semantics
  *   - a trailing `FORMAT <name>` is STRIPPED: it selects a wire
  *     serialization in CH, never a different result set (format
  *     round-trips live in the catalog's JSONEachRow/ORC paths)
  *
  * Single-quoted string literals (with `''` escapes) pass through
  * byte-for-byte — a literal containing `countIf(` or `FINAL` is never
  * rewritten. NOT a full parser by design: `Enum8(...)` casts (ingest
  * validates enums — TsvIngest), sub-query-level `LIMIT n BY`, and
  * combinator suffixes beyond the list above are left untouched and
  * fail loudly in the parser rather than silently changing meaning.
  */
object ChDialect {

  def rewrite(query: String): String = rewrite(query, None)

  /** Session-aware variant: `analyze` maps a CH-dialect statement to its
    * output column names (GraftSql.chSql passes an analysis-only probe —
    * no execution). It unlocks the rewrites that need the body's schema:
    * WITH FILL preserving the SELECT's declared column order (ClickHouse
    * keeps it; the schema-blind fallback moves the fill key first) and
    * INTERPOLATE. The plain [[rewrite]] keeps working without it.
    */
  def rewrite(query: String,
              analyze: Option[String => Seq[String]]): String = {
    val (masked, lits0) = maskLiterals(query)
    // MUTABLE literal store: a rewrite that must transform a literal's
    // CONTENT (formatDateTime's %-pattern → the Spark datetime pattern)
    // edits its slot here — the only place literal bytes are ever touched,
    // and only for that documented call shape
    val literals = lits0.toArray
    // the analyzer sees RESTORED text: the body fragment handed to it
    // still carries literal-mask sentinels, which no parser accepts
    val unmasked = analyze.map(f =>
      (b: String) => f(restoreLiterals(b, literals.toVector)))
    val rewritten = rewriteSegment(masked, unmasked, literals)
    restoreLiterals(rewritten, literals.toVector)
  }

  // literals are MASKED (swapped for <idx> tokens) before any
  // rewrite and restored verbatim after: a call's argument list may
  // legally contain string literals (`sumIf(x, s = 'FINAL')`), so
  // rewrites must see the whole call shape while never touching literal
  // bytes — a segment-by-segment approach would split such a call in two
  // escape processing differs between plain and interpolated string
  // literals across Scala versions — a char literal is unambiguous
  private val Sentinel: Char = 1.toChar

  // compiled-pattern memo: rewriteSegment runs ~200 per-function passes
  // per STATEMENT, and Pattern.compile per pass dominated fixture-heavy
  // gates once tier 4 landed (round-12 isolation finding) — compile each
  // call-shape regex once per process instead
  private val reCache =
    new java.util.concurrent.ConcurrentHashMap[String, scala.util.matching.Regex]()
  private def cachedRe(pattern: String): scala.util.matching.Regex = {
    val hit = reCache.get(pattern)
    if (hit != null) hit
    else { val r = pattern.r; reCache.putIfAbsent(pattern, r); r }
  }

  private def maskLiterals(s: String): (String, Vector[String]) = {
    val out = new StringBuilder
    val lits = Vector.newBuilder[String]
    var n = 0
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\'') {
        var j = i + 1
        var done = false
        while (j < s.length && !done) {
          if (s.charAt(j) == '\'') {
            if (j + 1 < s.length && s.charAt(j + 1) == '\'') j += 2
            else { done = true; j += 1 }
          } else j += 1
        }
        lits += s.substring(i, j)
        out ++= s"$Sentinel$n$Sentinel"
        n += 1
        i = j
      } else {
        out += s.charAt(i)
        i += 1
      }
    }
    (out.toString, lits.result())
  }

  private def restoreLiterals(s: String, lits: Vector[String]): String =
    (Sentinel + "(\\d+)" + Sentinel).r.replaceAllIn(s, m =>
      scala.util.matching.Regex.quoteReplacement(lits(m.group(1).toInt)))

  private val simpleReplacements: Seq[(scala.util.matching.Regex, String)] = Seq(
    // CH EXPLAIN variants → Spark's native EXPLAIN statement (plan rows
    // come back as the result set, like CH): PLAN is the default logical/
    // physical dump, PIPELINE (CH's executor-graph view) maps to
    // FORMATTED — the operator-tree-with-details form, the closest
    // answer Spark has to "what will actually execute"
    ("(?i)\\bEXPLAIN\\s+PLAN\\b".r, "EXPLAIN"),
    ("(?i)\\bEXPLAIN\\s+PIPELINE\\b".r, "EXPLAIN FORMATTED"),
    ("(?i)\\bcount\\(\\s*\\)".r, "count(*)"),
    ("(?i)\\bcountIf\\(".r, "count_if("),
    ("(?i)\\barrayJoin\\(".r, "explode("),
    ("(?i)\\banyLast\\(".r, "any_value("),
    ("(?i)\\bany\\(".r, "any_value("),
    // everyday scalar/aggregate renames with identical argument shapes
    ("(?i)\\bdateTrunc\\(".r, "date_trunc("),
    ("(?i)\\bargMax\\(".r, "max_by("),
    ("(?i)\\bargMin\\(".r, "min_by("),
    ("(?i)\\bgroupArray\\(".r, "collect_list("),
    ("(?i)\\bgroupUniqArray\\(".r, "collect_set("),
    ("(?i)\\bhas\\(".r, "array_contains("),
    ("(?i)\\bindexOf\\(".r, "array_position("),
    ("(?i)\\barrayReverse\\(".r, "reverse("),
    ("(?i)\\barraySort\\(".r, "array_sort("),
    ("(?i)\\barrayFlatten\\(".r, "flatten("),
    ("(?i)\\barrayConcat\\(".r, "concat("),
    ("(?i)\\barrayDistinct\\(".r, "array_distinct("),
    // try_: CH's out-of-bounds arrayElement yields the type default —
    // NULL here (the documented stance); ANSI element_at would throw
    ("(?i)\\barrayElement\\(".r, "try_element_at("),
    ("(?i)\\barrayPushBack\\(".r, "array_append("),
    ("(?i)\\barrayPushFront\\(".r, "array_prepend("),
    ("(?i)\\barrayZip\\(".r, "arrays_zip("),
    // everyday string tier: literal replace, regex replace/match, affix
    // probes, padding, one-sided trims — plain renames (same arg order)
    ("(?i)\\breplaceAll\\(".r, "replace("),
    // (replaceRegexpAll / match rewrite in rewriteSegment — their
    // PATTERN literals are inspected for Java-vs-RE2 divergence first)
    ("(?i)\\bstartsWith\\(".r, "startswith("),
    ("(?i)\\bendsWith\\(".r, "endswith("),
    ("(?i)\\bleftPad\\(".r, "lpad("),
    ("(?i)\\brightPad\\(".r, "rpad("),
    ("(?i)\\btrimLeft\\(".r, "ltrim("),
    ("(?i)\\btrimRight\\(".r, "rtrim("),
    ("(?i)\\btrimBoth\\(".r, "trim("),
    ("(?i)\\bsubstringUTF8\\(".r, "substring("),
    ("(?i)\\blowerUTF8\\(".r, "lower("),
    ("(?i)\\bupperUTF8\\(".r, "upper("),
    ("(?i)\\bconcatWithSeparator\\(".r, "concat_ws("),
    // map accessors over MAP columns
    ("(?i)\\bmapKeys\\(".r, "map_keys("),
    ("(?i)\\bmapValues\\(".r, "map_values("),
    ("(?i)\\bmapContains\\(".r, "map_contains_key("),
    ("(?i)\\blengthUTF8\\(".r, "char_length("),
    ("(?i)\\buniq\\(".r, "approx_count_distinct("),
    ("(?i)\\bcityHash64\\(".r, "xxhash64("),
    ("(?i)\\bsipHash64\\(".r, "xxhash64("),
    ("(?i)\\btoUnixTimestamp\\(".r, "unix_timestamp("),
    ("(?i)\\bfromUnixTimestamp\\(".r, "from_unixtime("),
    ("(?i)\\btoDate\\(".r, "to_date("),
    ("(?i)\\btoYear\\(".r, "year("),
    ("(?i)\\btoMonth\\(".r, "month("),
    ("(?i)\\btoDayOfMonth\\(".r, "dayofmonth("),
    ("(?i)\\btoHour\\(".r, "hour("),
    ("(?i)\\btoMinute\\(".r, "minute("),
    ("(?i)\\btoSecond\\(".r, "second("),
    ("(?i)\\btoQuarter\\(".r, "quarter("),
    ("(?i)\\btoDayOfYear\\(".r, "dayofyear("),
    ("(?i)\\bnow\\(\\s*\\)".r, "current_timestamp()"),
    ("(?i)\\btoday\\(\\s*\\)".r, "current_date()"),
    ("(?i)\\byesterday\\(\\s*\\)".r, "date_sub(current_date(), 1)"),
    ("(?i)\\bgenerateUUIDv4\\(\\s*\\)".r, "uuid()"),
    ("(?i)\\bPREWHERE\\b".r, "WHERE"),
    ("(?i)\\bFINAL\\b".r, ""),
    // GLOBAL IN — like GLOBAL JOIN, a CH distributed-execution hint
    // (broadcast the subquery to every shard); Spark's optimizer makes
    // that call itself, so the keyword simply drops
    ("(?i)\\bGLOBAL\\s+NOT\\s+IN\\b".r, "NOT IN"),
    ("(?i)\\bGLOBAL\\s+IN\\b".r, "IN"),
    // ——— everyday tier 4 (round 12, second pass) ———
    // moment-aggregate renames (same formulas both engines; kurtPop is
    // the call-shape exception below — CH is non-excess kurtosis)
    ("(?i)\\bstddevPop\\(".r, "stddev_pop("),
    ("(?i)\\bstddevSamp\\(".r, "stddev_samp("),
    ("(?i)\\bvarPop\\(".r, "var_pop("),
    ("(?i)\\bvarSamp\\(".r, "var_samp("),
    ("(?i)\\bcovarPop\\(".r, "covar_pop("),
    ("(?i)\\bcovarSamp\\(".r, "covar_samp("),
    ("(?i)\\bskewPop\\(".r, "skewness("),
    ("(?i)\\bgroupBitAnd\\(".r, "bit_and("),
    ("(?i)\\bgroupBitOr\\(".r, "bit_or("),
    ("(?i)\\bgroupBitXor\\(".r, "bit_xor("),
    // the uniq sketch family all map onto Spark's HLL++ (the uniq →
    // approx_count_distinct stance: same role, different sketch — do
    // not compare estimates across engines)
    ("(?i)\\buniqCombined64\\(".r, "approx_count_distinct("),
    ("(?i)\\buniqCombined\\(".r, "approx_count_distinct("),
    ("(?i)\\buniqHLL12\\(".r, "approx_count_distinct("),
    ("(?i)\\buniqTheta\\(".r, "approx_count_distinct("),
    // exact mode where CH's is an approximate heavy-hitter — the value
    // CH "usually" returns is the one this always returns
    ("(?i)\\banyHeavy\\(".r, "mode("),
    // scalar renames (same argument shapes)
    ("(?i)\\bmapFromArrays\\(".r, "map_from_arrays("),
    ("(?i)\\barrayIntersect\\(".r, "array_intersect("),
    ("(?i)\\bhasAny\\(".r, "arrays_overlap("),
    ("(?i)\\bbitShiftLeft\\(".r, "shiftleft("),
    ("(?i)\\bbitShiftRight\\(".r, "shiftright("),
    ("(?i)\\bbitCount\\(".r, "bit_count("),
    ("(?i)\\bmakeDate\\(".r, "make_date("),
    ("(?i)\\bmakeDateTime\\(".r, "make_timestamp("),
    ("(?i)\\btoLastDayOfMonth\\(".r, "last_day("),
    ("(?i)\\btoValidUTF8\\(".r, "make_valid_utf8("),
    // JSON_VALUE's '$.k' path IS get_json_object's path grammar
    ("(?i)\\bJSON_VALUE\\(".r, "get_json_object("),
    // 64-bit hash stance (the cityHash64 note): same bucketing role,
    // hash VALUES differ — do not compare digests across engines
    ("(?i)\\bfarmHash64\\(".r, "xxhash64("),
    ("(?i)\\bfarmFingerprint64\\(".r, "xxhash64("),
    ("(?i)\\bhalfMD5\\(".r, "xxhash64("),
    ("(?i)\\bcurrentUser\\(".r, "current_user("),
    // ——— everyday tier 7 renames (round 14) ———
    // window-function dialect spelling; Spark's nth_value is the same
    ("(?i)\\bnthValue\\(".r, "nth_value("),
    // Levenshtein: identical metric both engines (editDistance is CH's
    // alias; the UTF8 spellings coincide — Spark strings are UTF-8)
    ("(?i)\\blevenshteinDistance\\(".r, "levenshtein("),
    ("(?i)\\beditDistanceUTF8\\(".r, "levenshtein("),
    ("(?i)\\beditDistance\\(".r, "levenshtein("),
    ("(?i)\\bwidthBucket\\(".r, "width_bucket("),
    ("(?i)\\bleftUTF8\\(".r, "left("),
    ("(?i)\\brightUTF8\\(".r, "right("),
    // RFC variants share the lowering with their plain spellings (both
    // ride parse_url probes downstream; RFC-3986 edge inputs may parse
    // host-less here — the scheme-less stance of the URL family)
    ("(?i)\\bdomainRFC\\(".r, "domain("),
    ("(?i)\\bdomainWithoutWWWRFC\\(".r, "domainWithoutWWW("),
    ("(?i)\\btopLevelDomainRFC\\(".r, "topLevelDomain("),
    // the Form spellings ARE application/x-www-form-urlencoded — exactly
    // Spark's url_encode/url_decode contract
    ("(?i)\\bencodeURLFormComponent\\(".r, "url_encode("),
    ("(?i)\\bdecodeURLFormComponent\\(".r, "url_decode("),
    ("(?i)\\bUTCTimestamp\\(\\s*\\)".r, "current_timestamp()"),
    // no block granularity in a declarative plan: per-query now() IS
    // the per-block now() (documented collapse)
    ("(?i)\\bnowInBlock\\(\\s*\\)".r, "current_timestamp()"),
    // flat namespace (SHOW DATABASES lists default+system): the session
    // database is the constant 'default'; hostName is the single-JVM
    // analog's stand-in (no cluster hostnames to report)
    ("(?i)\\bcurrentDatabase\\(\\s*\\)".r, "'default'"),
    ("(?i)\\bhostName\\(\\s*\\)".r, "'localhost'"),
    // constant-per-query random: exactly a scalar subquery's contract
    ("(?i)\\brandConstant\\(\\s*\\)".r, "(SELECT rand())"),
    ("(?i)\\btuple\\(".r, "struct("),
    // :: type names — Spark parses the cast syntax itself; unsigned
    // widths map UP so every legal CH value fits
    ("::\\s*(?i:UInt8)\\b".r, "::SMALLINT"),
    ("::\\s*(?i:UInt16)\\b".r, "::INT"),
    ("::\\s*(?i:UInt32)\\b".r, "::BIGINT"),
    ("::\\s*(?i:UInt64)\\b".r, "::BIGINT"),
    ("::\\s*(?i:Int8)\\b".r, "::TINYINT"),
    ("::\\s*(?i:Int16)\\b".r, "::SMALLINT"),
    ("::\\s*(?i:Int32)\\b".r, "::INT"),
    ("::\\s*(?i:Int64)\\b".r, "::BIGINT"),
    ("::\\s*(?i:Float32)\\b".r, "::FLOAT"),
    ("::\\s*(?i:Float64)\\b".r, "::DOUBLE"),
    ("::\\s*(?i:String)\\b".r, "::STRING"),
    ("::\\s*(?i:DateTime)\\s*\\([^)]*\\)".r, "::TIMESTAMP"),
    ("::\\s*(?i:DateTime)\\b".r, "::TIMESTAMP"),
    // the ingest-statement Enum8 cast (types.json file_changes): the
    // value-set VALIDATION lives at the table door (Catalog enum
    // constraints) — the in-query cast itself is the string identity
    ("::\\s*(?i:Enum8)\\s*\\([^)]*\\)".r, "::STRING"),
    ("::\\s*(?i:Date)\\b".r, "::DATE"))

  /** The `SAMPLE BY` declarations for the TESTDATA tables — the DDL side
    * of CH sampling, which lives in CREATE TABLE there and in this map
    * here (the temp views [[GraftSql.registerViews]] registers carry no
    * DDL). Primary keys throughout: key-consistent with the tables'
    * natural join columns, so `orders SAMPLE 0.1` joined to
    * `lineitem SAMPLE 0.1` keeps every pair of the sampled keys.
    */
  val SampleKeys: Map[String, String] = Map(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  private val sampleRe =
    ("(?i)\\b(FROM|JOIN)\\s+([A-Za-z_][A-Za-z0-9_]*)(?:\\s+FINAL)?\\s+SAMPLE\\s+" +
      "([0-9]+(?:\\.[0-9]+)?)(?:\\s+OFFSET\\s+([0-9]+(?:\\.[0-9]+)?))?").r

  /** `FROM t SAMPLE k [OFFSET m]` → `FROM (SELECT * FROM t WHERE
    * bucket-window) t` — aliased back to the table name so the rest of
    * the query resolves unchanged. The predicate is the same
    * md5-prefix-bucket expression the stored [[graft.catalog.Catalog.SampleCol]]
    * column materializes, so dialect-sampled and catalog-sampled reads of
    * one table select the same rows.
    */
  private def rewriteSample(s: String): String =
    sampleRe.replaceAllIn(s, { m =>
      val (kw, tbl) = (m.group(1), m.group(2))
      val frac = m.group(3).toDouble
      require(frac <= 1.0,
        s"SAMPLE ${m.group(3)}: only the fraction form is supported " +
          "(the row-count form needs table statistics)")
      val offset = Option(m.group(4)).map(_.toDouble).getOrElse(0.0)
      val key = SampleKeys.getOrElse(tbl.toLowerCase,
        throw new IllegalArgumentException(
          s"table $tbl declares no SAMPLE BY key"))
      val (lo, hi) = graft.catalog.Catalog.sampleWindow(frac, offset)
      val b = graft.catalog.Catalog.sampleExprSql(key)
      scala.util.matching.Regex.quoteReplacement(
        s"$kw (SELECT * FROM $tbl WHERE $b >= $lo AND $b < $hi) $tbl")
    })

  /** CH join/select forms with NO sound textual lowering — refused
    * loudly up front (a parse error downstream would bury the reason).
    */
  private def refuseUnsupported(s: String): Unit = Seq(
    ("(?i)\\bPASTE\\s+JOIN\\b",
      "PASTE JOIN (positional zip): join on row_number() OVER () keys " +
        "instead — positional alignment is not a relational operation"),
    // [LEFT|INNER] ANY JOIN lowers onto the X138 nest (rewriteAnyJoin,
    // which runs BEFORE this check and consumes the keyword); the forms
    // with no sound lowering still refuse here
    ("(?i)\\b(?:LEFT|RIGHT|INNER|FULL)\\s+ALL\\s+JOIN\\b",
      "ALL JOIN: CH's ALL is the default multiplicity — drop the " +
        "keyword and use a plain JOIN"),
    ("(?i)\\bALL\\s+(?:LEFT|RIGHT|INNER|FULL)?\\s*JOIN\\b",
      "ALL JOIN: CH's ALL is the default multiplicity — drop the " +
        "keyword and use a plain JOIN"),
    // COLUMNS(…) is consumed by rewriteColumnsSelector upstream when the
    // schema probe is available; reaching here means the schema-blind
    // entry point was used
    ("(?i)\\bCOLUMNS\\s*\\(",
      "COLUMNS(…) [APPLY]: the dynamic column selector needs schema " +
        "expansion — use the schema-aware entry point (GraftSql.chSql / " +
        "ChDdl.query), or spell the columns"),
    // `* APPLY` is consumed by rewriteStarApply upstream (same probe);
    // a leftover APPLY keyword is a shape that rewrite doesn't cover
    // (schema-blind entry, qualified star `t.*`, or `* REPLACE … APPLY`).
    // The negative lookahead keeps a column ALIASED `apply` (followed by
    // a separator or clause keyword) out of the match.
    ("(?i)\\bAPPLY\\b\\s*(?:\\(\\s*)?" +
      "(?!FROM\\b|WHERE\\b|GROUP\\b|HAVING\\b|QUALIFY\\b|ORDER\\b|" +
      "LIMIT\\b|UNION\\b|INTERSECT\\b|EXCEPT\\b|SETTINGS\\b|INTO\\b|" +
      "FORMAT\\b|AS\\b|AND\\b|OR\\b)[A-Za-z_]",
      "* [EXCEPT …] APPLY fn / COLUMNS(…) APPLY: the dynamic selector " +
        "needs schema expansion — use the schema-aware entry point " +
        "(GraftSql.chSql / ChDdl.query) with a bare `*` (qualified " +
        "stars and `* REPLACE … APPLY` are not expanded), or spell " +
        "the columns"))
    .foreach { case (re, msg) =>
      require(re.r.findFirstIn(s).isEmpty, msg)
    }

  /** CH `COLUMNS('regex') [APPLY fn]…` in the select list — the dynamic
    * wide-table selector. Expands through the analyzer probe (the
    * * REPLACE precedent): the FROM part (cut before GROUP BY/ORDER
    * BY/…) probes as `SELECT * FROM …`, the pattern filters the column
    * names (RE2-style partial match, source order kept), and each APPLY
    * wraps every matched column in call order with ClickHouse's own
    * result naming (`fn(col)`, backquoted). Refused: COLUMNS outside
    * the select list, a pattern matching nothing (CH errors too), and
    * schema-blind entry points.
    */
  private def rewriteColumnsSelector(s: String,
      analyze: Option[String => Seq[String]],
      literals: Array[String]): String = {
    val m = cachedRe("(?i)\\bCOLUMNS\\s*\\(").findFirstMatchIn(s)
      .getOrElse(return s)
    val probe = analyze.getOrElse(return s) // schema-blind: refusal downstream
    val selM = topMatch(s, "(?i)\\bSELECT\\b".r).getOrElse(return s)
    val fromM = topMatch(s, "(?i)\\bFROM\\b".r, selM.end)
      .getOrElse(throw new IllegalArgumentException(
        "COLUMNS(…): no top-level FROM to expand against"))
    require(m.start > selM.start && m.end <= fromM.start &&
      depthAt(s, m.start) == 0,
      "COLUMNS(…): supported at the top level of the select list only — " +
        "spell the columns elsewhere")
    val (args, afterParen) = balancedArgs(s, s.indexOf('(', m.start))
    require(args.size == 1, "COLUMNS('regex'): exactly one pattern")
    // no String.trim: the literal-mask sentinel is \x01, which trim
    // strips — maskedLiteral wtrims whitespace itself
    val pat = maskedLiteral(args.head, literals).getOrElse(
      throw new IllegalArgumentException(
        "COLUMNS(…): the pattern must be a string literal"))
    // trailing APPLY chain: APPLY fn | APPLY (fn), innermost first
    val (chain0, cursor) = parseApplyChain(s, afterParen)
    // source columns: probe the FROM part with tail clauses cut (a
    // GROUP BY's keys need the select list the probe replaces)
    val tailCut = topMatch(s, ("(?i)\\b(GROUP\\s+BY|HAVING|QUALIFY|" +
      "WINDOW|ORDER\\s+BY|LIMIT|UNION|INTERSECT|EXCEPT)\\b").r,
      fromM.end).map(_.start).getOrElse(s.length)
    val cols = probe("SELECT * " + s.substring(fromM.start, tailCut))
    val re = pat.r
    val matched = cols.filter(c => re.findFirstIn(c).isDefined)
    require(matched.nonEmpty,
      s"COLUMNS('$pat'): no columns match (source columns: " +
        s"${cols.mkString(", ")})")
    val expansion = applyExpansion(matched, chain0)
    // recurse: a second COLUMNS in the same list expands next
    rewriteColumnsSelector(
      s.substring(0, m.start) + expansion + s.substring(cursor),
      analyze, literals)
  }

  /** Parse a trailing `APPLY fn | APPLY (fn)` chain at `from`; returns
    * (fns innermost-first, cursor past the chain). */
  private def parseApplyChain(s: String, from: Int): (List[String], Int) = {
    var cursor = from
    val fns = List.newBuilder[String]
    val applyRe =
      "(?is)^\\s*APPLY\\s*(?:\\(\\s*([A-Za-z_]\\w*)\\s*\\)|([A-Za-z_]\\w*))".r
    var keep = true
    while (keep) applyRe.findFirstMatchIn(s.substring(cursor)) match {
      case Some(am) =>
        fns += Option(am.group(1)).getOrElse(am.group(2))
        cursor += am.end
      case None => keep = false
    }
    (fns.result(), cursor)
  }

  /** Wrap each selected column in the APPLY chain with CH's own
    * `fn(col)` result naming (backquoted — the name contains parens). */
  private def applyExpansion(cols: Seq[String], chain: List[String]): String =
    cols.map { c =>
      val e = chain.foldLeft(c)((acc, f) => s"$f($acc)")
      if (chain.isEmpty) e else s"$e AS `$e`"
    }.mkString(", ")

  /** CH `* [EXCEPT (a, b) | EXCEPT a] APPLY fn [APPLY g]…` — the star
    * form of the X150 dynamic selector (COLUMNS covers the regex form;
    * a bare `* EXCEPT (…)` with no APPLY is Spark-native and passes
    * through untouched). The star expands through the same analyzer
    * probe, EXCEPT names drop (both CH spellings: parenthesized list or
    * one bare name; every name must exist — CH errors on unknown names
    * too), and the APPLY chain wraps with CH's `fn(col)` result naming.
    * Qualified stars (`t.* APPLY`) and `* REPLACE … APPLY` are not
    * expanded — they fall to the pointed APPLY refusal.
    */
  private def rewriteStarApply(s: String,
      analyze: Option[String => Seq[String]],
      literals: Array[String]): String = {
    val m = cachedRe("(?is)(?<![.\\w])\\*\\s*" +
      "(?:EXCEPT\\s*(?:\\(([^)]*)\\)|([A-Za-z_]\\w*))\\s*)?" +
      "(?=APPLY\\b)").findFirstMatchIn(s).getOrElse(return s)
    val probe = analyze.getOrElse(return s) // schema-blind: refusal downstream
    val selM = topMatch(s, "(?i)\\bSELECT\\b".r).getOrElse(return s)
    val fromM = topMatch(s, "(?i)\\bFROM\\b".r, selM.end)
      .getOrElse(throw new IllegalArgumentException(
        "* APPLY: no top-level FROM to expand against"))
    require(m.start > selM.start && m.end <= fromM.start &&
      depthAt(s, m.start) == 0,
      "* APPLY: supported at the top level of the select list only — " +
        "spell the columns elsewhere")
    val (chain, cursor) = parseApplyChain(s, m.end)
    val tailCut = topMatch(s, ("(?i)\\b(GROUP\\s+BY|HAVING|QUALIFY|" +
      "WINDOW|ORDER\\s+BY|LIMIT|UNION|INTERSECT|EXCEPT)\\b").r,
      fromM.end).map(_.start).getOrElse(s.length)
    val cols = probe("SELECT * " + s.substring(fromM.start, tailCut))
    val except = (Option(m.group(1)).map(_.split(',').toSeq)
      .getOrElse(Option(m.group(2)).toSeq))
      .map(_.replace("`", "").trim).filter(_.nonEmpty)
    val unknown = except.filterNot(cols.contains)
    require(unknown.isEmpty,
      s"* EXCEPT: no such column(s) ${unknown.mkString(", ")} (source " +
        s"columns: ${cols.mkString(", ")})")
    val kept = cols.filterNot(except.contains)
    require(kept.nonEmpty, "* EXCEPT … APPLY: every column was excepted")
    rewriteStarApply(
      s.substring(0, m.start) + applyExpansion(kept, chain) +
        s.substring(cursor),
      analyze, literals)
  }

  // ---- ASOF [LEFT] JOIN as SQL text (round 13) -----------------------

  private def depthAt(text: String, i: Int): Int = {
    var d = 0; var j = 0
    while (j < i) {
      val c = text.charAt(j)
      if (c == '(') d += 1 else if (c == ')') d -= 1
      j += 1
    }
    d
  }

  /** First depth-0 match of `re` in `text` at or after `from`. */
  private def topMatch(text: String, re: scala.util.matching.Regex,
                       from: Int = 0): Option[scala.util.matching.Regex.Match] =
    re.findAllMatchIn(text).filter(_.start >= from)
      .find(m => depthAt(text, m.start) == 0)

  /** Split a FROM-clause table expression into (inner-expr, alias).
    * `events` → (events, events); `db.t` → (db.t, t); `events e` /
    * `events AS e` → (events, e); `(SELECT …) e` → ((SELECT …), e).
    * An unaliased derived table refuses — the lowering must qualify
    * columns by a name.
    */
  private def splitTableAlias(expr0: String, side: String): (String, String) = {
    val e = expr0.trim
    require(e.nonEmpty, s"ASOF/ANY JOIN: empty $side table expression")
    val bare = "^[A-Za-z_][A-Za-z0-9_.]*$".r
    if (bare.findFirstIn(e).contains(e)) (e, e.split('.').last)
    else {
      val m = "(?is)^(.+?)\\s+(?:AS\\s+)?([A-Za-z_][A-Za-z0-9_]*)$".r
        .findFirstMatchIn(e).getOrElse(throw new IllegalArgumentException(
          s"ASOF/ANY JOIN: cannot parse the $side table expression '$e' — " +
            "alias derived tables ((SELECT …) t)"))
      val inner = m.group(1).trim
      require(!inner.endsWith(","),
        s"ASOF/ANY JOIN: cannot parse the $side table expression '$e'")
      (inner, m.group(2))
    }
  }

  /** Split `cond` on depth-0 AND keywords. */
  private def splitTopAnd(cond: String): List[String] = {
    val cuts = "(?i)\\bAND\\b".r.findAllMatchIn(cond)
      .filter(m => depthAt(cond, m.start) == 0).map(m => (m.start, m.end))
      .toList
    val bounds = (0, 0) :: cuts ::: List((cond.length, cond.length))
    bounds.sliding(2).map { case List((_, a), (b, _)) =>
      cond.substring(a, b).trim }.toList.filter(_.nonEmpty)
  }

  private val asofJoinRe =
    "(?i)\\bASOF\\s+(LEFT\\s+)?(?:INNER\\s+)?JOIN\\b".r
  // [LEFT|INNER] ANY JOIN in either keyword order; RIGHT/FULL ANY match
  // here too and refuse inside the rewrite with the pointed alternative
  private val anyJoinRe =
    ("(?i)\\b(?:(LEFT|INNER|RIGHT|FULL)\\s+)?ANY\\s+" +
      "(?:(LEFT|INNER|RIGHT|FULL)\\s+)?JOIN\\b").r

  /** CH `a ASOF [LEFT] JOIN b ON a.k = b.k AND a.t >= b.t` (and the
    * `USING (k…, t)` spelling) as SQL text — the most common CH
    * time-series idiom. Lowered onto the same semantics the green
    * `join_asof` operator oracles (TemporalJoins.scala): the left side
    * gains a per-row id (`monotonically_increasing_id()` — unique per
    * row, the only property used), the join runs as a plain equality
    * (LEFT) join carrying the inequality as a join-side filter, and a
    * `QUALIFY row_number() OVER (PARTITION BY <left>.__asof_lid ORDER BY
    * <right time> DESC|ASC) = 1` — consumed by the X132 hoist machinery
    * downstream — keeps, per left row, the closest matching right row
    * (DESC for `>=`/`>`: latest at-or-before; ASC for `<=`/`<`). A LEFT
    * asof keeps unmatched left rows: their single all-NULL candidate is
    * its own row_number() = 1.
    *
    * `[LEFT|INNER] ANY JOIN b ON k` (either keyword order) rides the
    * SAME nest minus the inequality — CH's everyday first-match /
    * dedup-build-side idiom. CH's ANY keeps an ARBITRARY matching right
    * row; this lowering keeps the JSON-least serialized right row — a
    * DOCUMENTED deterministic divergence (the groupConcat stance:
    * deterministic beats bug-compatible). RIGHT/FULL ANY and every ALL
    * form still refuse with the sound alternative. Equal (key, time)
    * ASOF candidates resolve by the same serialized-row tiebreaker.
    *
    * SCALE NOTE: this text lowering shuffles the join on the equality
    * keys (the same movement an equi-join makes) and then the window on
    * the left-row id; candidate fan-out is the per-key match count. The
    * union-and-carry-forward form (TemporalJoins.join_asof) does it in
    * ONE shuffle and is the preferred operator at scale — this door is
    * for dialect fidelity.
    *
    * Refused (loudly, with the sound alternative): ASOF inside a
    * derived table / CTE (the QUALIFY consumer is top-level-only),
    * more than one ASOF, extra joins in the same block, GROUP BY /
    * HAVING over the asof result (the filter would see candidates, not
    * matches — aggregate in an outer query over a plain asof SELECT),
    * WHERE or select-list windows referencing anything but left-side
    * columns (same reason), inequality directions other than
    * `>= > <= <`, and a condition with no equality key (CH itself
    * requires one).
    */
  private def rewriteAsofJoin(s: String): String = {
    val asofs = asofJoinRe.findAllMatchIn(s).toList
    val anys = anyJoinRe.findAllMatchIn(s).toList
    if (asofs.isEmpty && anys.isEmpty) return s
    require(asofs.size + anys.size == 1,
      "ASOF/ANY JOIN: one per statement — nest additional ones as " +
        "separate statements or use graft.operators.TemporalJoins")
    val isAsof = asofs.nonEmpty
    val m = (asofs ++ anys).head
    val kwName = if (isAsof) "ASOF JOIN" else "ANY JOIN"
    require(depthAt(s, m.start) == 0,
      s"$kwName inside a derived table / CTE is not supported — apply " +
        "it at the top level (or use graft.operators.TemporalJoins)")
    val isLeft =
      if (isAsof) m.group(1) != null
      else {
        val kind = Option(m.group(1)).orElse(Option(m.group(2)))
          .map(_.toUpperCase).getOrElse("INNER")
        require(kind != "RIGHT",
          "RIGHT ANY JOIN: flip the sides and use LEFT ANY JOIN (the " +
            "lowering keeps one match per PROBE row)")
        require(kind != "FULL",
          "FULL ANY JOIN: no sound lowering — CH's own FULL ANY is " +
            "asymmetric; run a LEFT ANY JOIN and union the unmatched " +
            "right rows")
        kind == "LEFT"
      }
    Seq("GROUP\\s+BY" -> (s"GROUP BY over an $kwName result: the " +
        "lowering filters matches with a window, which SQL evaluates " +
        "before grouping could see it — aggregate in an outer query " +
        "over a plain matched SELECT"),
      "HAVING" -> s"HAVING over an $kwName: see the GROUP BY refusal",
      "QUALIFY" -> (s"QUALIFY combined with $kwName: the lowering " +
        "owns the statement's QUALIFY slot — filter in an outer query"),
      "LIMIT\\s+\\d+\\s+BY" -> (s"LIMIT n BY combined with $kwName: " +
        "the lowering owns the statement's window nest — apply the " +
        "per-group limit in an outer query"),
      "WITH\\s+TIES" -> (s"WITH TIES combined with $kwName: the " +
        "lowering owns the statement's window nest — apply ties in an " +
        "outer query"),
      "DISTINCT\\s+ON" -> (s"DISTINCT ON combined with $kwName: the " +
        "lowering owns the statement's window nest — apply it in an " +
        "outer query"))
      .foreach { case (kw, msg) =>
        require(topMatch(s, cachedRe(s"(?i)\\b$kw\\b")).isEmpty, msg) }

    // FROM clause bounds: the top-level FROM before the ASOF keyword
    val fromM = "(?i)\\bFROM\\b".r.findAllMatchIn(s)
      .filter(m2 => m2.end <= m.start && depthAt(s, m2.start) == 0)
      .toList.lastOption.getOrElse(throw new IllegalArgumentException(
        s"$kwName: no top-level FROM found before the join"))
    val leftRegion = s.substring(fromM.end, m.start)
    require(topMatch(leftRegion, "(?i)\\bJOIN\\b".r).isEmpty &&
      topMatch(leftRegion, ",".r).isEmpty,
      s"$kwName: additional joins / comma tables before it are " +
        "not supported — nest them as an aliased derived table")
    val (leftInner, la) = splitTableAlias(leftRegion, "left")

    // right side runs to the top-level ON / USING
    val onM = topMatch(s, "(?i)\\b(ON|USING)\\b".r, m.end)
      .getOrElse(throw new IllegalArgumentException(
        s"$kwName: missing ON / USING clause"))
    val (rightExpr, ra) =
      splitTableAlias(s.substring(m.end, onM.start), "right")

    // condition region: to the next top-level clause keyword (or end)
    val clauseRe =
      "(?i)\\b(WHERE|ORDER\\s+BY|LIMIT|UNION|INTERSECT|EXCEPT|JOIN)\\b".r
    val condEnd = topMatch(s, clauseRe, onM.end).map(_.start)
      .getOrElse(s.length)
    topMatch(s, clauseRe, onM.end).foreach { c =>
      require(!c.group(1).equalsIgnoreCase("JOIN"),
        s"$kwName: additional joins in the same query block are not " +
          "supported — nest the matched result as a derived table " +
          "input to the other join") }
    val condText = s.substring(onM.end, condEnd).trim
    val tail = s.substring(condEnd)

    // resolve the asof inequality: exactly one, on the right alias.
    // timeOrder is the asof pick's window ordering — None for ANY,
    // whose pick is the deterministic tiebreaker alone
    val (joinCond, timeOrder: Option[String]) =
      if (onM.group(1).equalsIgnoreCase("USING")) {
        val cols =
          if (condText.startsWith("(")) balancedArgs(s, onM.end +
            s.substring(onM.end).indexOf('('))._1.map(_.trim)
          else condText.split(',').map(_.trim).toList
        if (!isAsof) {
          // ANY JOIN USING: every column is an equality key
          require(cols.nonEmpty,
            "ANY JOIN USING: needs at least one column")
          (cols.map(c => s"$la.$c = $ra.$c").mkString(" AND "), None)
        } else {
        require(cols.size >= 2,
          "ASOF JOIN USING: needs at least one equality column and the " +
            "trailing asof column")
        val eqs = cols.init.map(c => s"$la.$c = $ra.$c")
        val t = cols.last
        ((eqs :+ s"$la.$t >= $ra.$t").mkString(" AND "),
          Some(s"$ra.$t DESC"))
        }
      } else if (!isAsof) {
        // ANY JOIN ON: the whole condition rides as the join predicate
        // (extra non-equality conjuncts are join filters, as in CH);
        // at least one bare equality keeps the join hash-joinable
        require("(?<![<>!=])=(?!=)".r.findAllMatchIn(condText)
          .exists(em => depthAt(condText, em.start) == 0),
          "ANY JOIN: at least one equality conjunct is required in the " +
            "ON clause (ClickHouse requires one too)")
        (condText, None)
      } else {
        val parts = splitTopAnd(condText)
        val cmpRe = "(>=|<=|<>|!=|>|<|=)".r
        var ineq: Option[(String, String)] = None // (rightOperand, dir)
        var nEq = 0
        parts.foreach { p =>
          val ops = cmpRe.findAllMatchIn(p)
            .filter(mm => depthAt(p, mm.start) == 0).toList
          require(ops.size == 1,
            s"ASOF JOIN: cannot parse conjunct '$p' — exactly one " +
              "comparison per AND-conjunct")
          val op = ops.head
          val (lhs, rhs) =
            (p.substring(0, op.start).trim, p.substring(op.end).trim)
          op.group(1) match {
            case "=" => nEq += 1
            case ">" | ">=" | "<" | "<=" =>
              require(ineq.isEmpty,
                "ASOF JOIN: exactly one inequality conjunct (the asof " +
                  "key) is supported")
              val raDot = s"(?i)^$ra\\.".r
              val laDot = s"(?i)^$la\\.".r
              // orient so the LEFT time is on the left of the operator
              val (rop, effOp) =
                if (raDot.findFirstIn(rhs).isDefined &&
                    laDot.findFirstIn(lhs).isDefined) (rhs, op.group(1))
                else if (raDot.findFirstIn(lhs).isDefined &&
                    laDot.findFirstIn(rhs).isDefined)
                  (lhs, op.group(1) match {
                    case ">" => "<"; case ">=" => "<="
                    case "<" => ">"; case "<=" => ">=" })
                else throw new IllegalArgumentException(
                  s"ASOF JOIN: the inequality '$p' must compare a " +
                    s"$la.-qualified column with a $ra.-qualified one")
              // left >= right → latest right at-or-before → DESC
              ineq = Some((rop,
                if (effOp == ">" || effOp == ">=") "DESC" else "ASC"))
            case other => throw new IllegalArgumentException(
              s"ASOF JOIN: unsupported comparator '$other' in '$p'")
          }
        }
        require(nEq >= 1,
          "ASOF JOIN: at least one equality conjunct is required " +
            "(ClickHouse requires one too)")
        val (rt, d) = ineq.getOrElse(throw new IllegalArgumentException(
          "ASOF JOIN: no inequality conjunct found — the asof key " +
            "must appear as a >=/>/<=/< comparison in the ON clause"))
        (condText, Some(s"$rt $d"))
      }

    // a top-level WHERE / select-list window must not see candidate
    // rows that the asof match would have removed — allow only when
    // every dotted qualifier is the left alias and no bare column
    // references exist (bare refs are unresolvable without a schema)
    def leftOnly(frag: String, what: String): Unit = {
      val idRe = "[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)?".r
      val kw = Set("and", "or", "not", "in", "is", "null", "true",
        "false", "between", "like", "case", "when", "then", "else",
        "end", "interval", "where", "as", "asc", "desc", "second",
        "seconds", "minute", "minutes", "hour", "hours", "day", "days",
        // type names (CAST targets) are not column references
        "bigint", "int", "integer", "smallint", "tinyint", "double",
        "float", "string", "varchar", "date", "timestamp", "boolean",
        "decimal", "binary")
      idRe.findAllMatchIn(frag).foreach { im =>
        val tok = im.matched
        val isCall = im.end < frag.length &&
          frag.substring(im.end).dropWhile(_.isWhitespace).startsWith("(")
        if (!isCall && !kw.contains(tok.toLowerCase) &&
            !tok.contains(Sentinel)) {
          if (tok.contains('.')) {
            require(tok.toLowerCase.startsWith(la.toLowerCase + "."),
              s"$kwName: $what references '$tok' — only left-side " +
                s"($la.) columns are sound there (the asof match is " +
                "computed after it); filter the right side in its own " +
                "derived table, or wrap the asof SELECT in an outer query")
          } else throw new IllegalArgumentException(
            s"$kwName: $what references unqualified column '$tok' — " +
              s"qualify left-side columns as $la.$tok (right-side " +
              "references there are unsound; see the WHERE stance)")
        }
      }
    }
    topMatch(tail, "(?i)\\bWHERE\\b".r).foreach { wm =>
      val wEnd = topMatch(tail,
        "(?i)\\b(ORDER\\s+BY|LIMIT)\\b".r, wm.end).map(_.start)
        .getOrElse(tail.length)
      leftOnly(tail.substring(wm.end, wEnd), "the WHERE clause")
    }
    val selSpan = s.substring(
      topMatch(s, "(?i)\\bSELECT\\b".r).map(_.end).getOrElse(0),
      fromM.start)
    require(topMatch(selSpan, "(?i)\\bOVER\\b".r).isEmpty,
      s"$kwName: window functions in the select list would evaluate " +
        "over candidate rows, not asof matches — wrap the asof SELECT " +
        "in an outer query and window there")
    // a `*` is star-EXPANSION (not multiplication) when its previous
    // non-space char is a comma, a dot, or the span start
    val mixedStar = selSpan.trim != "*" &&
      selSpan.zipWithIndex.exists { case (c, i) =>
        c == '*' && depthAt(selSpan, i) == 0 && {
          val prev = selSpan.take(i).reverse.dropWhile(_.isWhitespace)
            .headOption
          prev.isEmpty || prev.contains(',') || prev.contains('.')
        }
      }
    require(!mixedStar,
      s"$kwName: qualified / mixed stars in the select list would " +
        "leak the lowering's helper column — spell the columns (a " +
        "bare SELECT * is supported)")

    // `SELECT *` would leak the helper id — exclude it explicitly
    val s1 =
      if (selSpan.trim == "*")
        s.substring(0, fromM.start).replaceFirst("\\*\\s*$",
          "* EXCEPT (__asof_lid) ") + s.substring(fromM.start)
      else s

    val fromM1 = topMatch(s1, "(?i)\\bFROM\\b".r).get
    val joinKw = if (isLeft) "LEFT JOIN" else "JOIN"
    val newFrom =
      s" (SELECT *, monotonically_increasing_id() AS __asof_lid " +
        s"FROM $leftInner) $la $joinKw $rightExpr $ra ON $joinCond"
    // deterministic tiebreaker: two right rows with equal (key, time)
    // would otherwise leave the surviving match partition-order-
    // dependent — the serialized right row breaks the tie identically
    // run-to-run (identical rows still tie, indistinguishably). The
    // repo's groupConcat stance: deterministic beats bug-compatible
    // (CH's ASOF and ANY both pick an arbitrary one). For ANY JOIN the
    // tiebreaker IS the whole pick order: the JSON-least matching right
    // row wins, documented and stable.
    val qualify =
      s" QUALIFY row_number() OVER (PARTITION BY $la.__asof_lid " +
        s"ORDER BY ${timeOrder.map(_ + ", ").getOrElse("")}" +
        s"to_json(struct($ra.*))) = 1"
    // QUALIFY slots after WHERE, before ORDER BY / LIMIT
    val shift = s1.length - s.length
    val tail1 = s1.substring(condEnd + shift)
    val qAt = topMatch(tail1, "(?i)\\b(ORDER\\s+BY|LIMIT)\\b".r)
      .map(_.start).getOrElse(tail1.length)
    s1.substring(0, fromM1.end) + newFrom + " " +
      tail1.substring(0, qAt) + qualify + " " + tail1.substring(qAt)
  }

  /** CH `SELECT DISTINCT ON (cols) …` ≡ `… LIMIT 1 BY cols` — rewritten
    * to exactly that and handed to [[rewriteLimitBy]] (which is why this
    * must run first). An ORDER BY is required, the LIMIT BY stance:
    * without one ClickHouse returns an arbitrary row per group, which a
    * deterministic engine refuses rather than emulates.
    */
  private def rewriteDistinctOn(s: String): String = {
    val m = "(?is)^(\\s*SELECT\\s+)DISTINCT\\s+ON\\s*\\(".r
      .findFirstMatchIn(s).getOrElse(return s)
    val (cols, after) = balancedArgs(s, m.end - 1)
    val rest = s.substring(after)
    require("(?i)\\bORDER\\s+BY\\b".r.findFirstIn(rest).isDefined,
      "DISTINCT ON: an ORDER BY is required (ClickHouse returns an " +
        "arbitrary row per group without one — the LIMIT BY stance)")
    val byList = cols.mkString(", ")
    val tailLimit = "(?is)^(.*\\S)\\s+LIMIT\\s+(\\d+)\\s*$".r
    rest match {
      case tailLimit(pre, lim) =>
        s"${m.group(1)}$pre LIMIT 1 BY $byList LIMIT $lim"
      case _ => s"${m.group(1)}$rest LIMIT 1 BY $byList"
    }
  }

  private val limitTiesRe =
    "(?is)^(.*\\S)\\s+ORDER\\s+BY\\s+(.+?)\\s+LIMIT\\s+(\\d+)\\s+WITH\\s+TIES\\s*$".r

  /** `… ORDER BY k LIMIT n WITH TIES` (keep every row tying with the
    * n-th) → the body nests as a derived table and a rank() window over
    * the same keys filters it — rank, not row_number, IS the ties
    * contract. Top-level statements; the order keys must be OUTPUT
    * columns of the select (they rank the body's own result — the LIMIT
    * BY constraint).
    */
  private def rewriteLimitTies(s: String): String = s match {
    case limitTiesRe(body, keys, n) =>
      require("(?i)\\bWITH\\s+FILL\\b".r.findFirstIn(keys).isEmpty,
        "LIMIT WITH TIES does not combine with WITH FILL")
      s"SELECT * EXCEPT (__ties) FROM (SELECT __tb.*, " +
        s"rank() OVER (ORDER BY $keys) AS __ties FROM ($body) __tb) " +
        s"WHERE __ties <= $n ORDER BY $keys"
    case _ => s
  }

  /** CH `SELECT * REPLACE (expr AS col, …) FROM …` — absent from Spark's
    * grammar: `*` expands through the analyzer probe (the WITH FILL
    * hook) into the explicit column list with each replaced column
    * swapped IN PLACE (ClickHouse keeps positions — `* EXCEPT` + append
    * could not). Schema-blind entry points refuse; GraftSql.chSql always
    * passes the probe.
    */
  private def rewriteSelectReplace(s: String,
      analyze: Option[String => Seq[String]]): String = {
    val m = "(?is)^(\\s*SELECT\\s+)\\*\\s+REPLACE\\s*\\(".r
      .findFirstMatchIn(s).getOrElse(return s)
    val (items, after) = balancedArgs(s, m.end - 1)
    val rest = s.substring(after)
    val probe = analyze.getOrElse(throw new IllegalArgumentException(
      "* REPLACE needs the schema-aware entry point (GraftSql.chSql) — " +
        "the star expands through the analyzer"))
    val cols = probe(s"SELECT * $rest")
    val asRe = "(?is)^(.+)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
    val repl = items.map {
      case asRe(e, c) => c.toLowerCase -> e
      case other => throw new IllegalArgumentException(
        s"* REPLACE: expected 'expr AS col', got '$other'")
    }.toMap
    val unknown = repl.keySet -- cols.map(_.toLowerCase).toSet
    require(unknown.isEmpty,
      s"* REPLACE: unknown column(s) ${unknown.mkString(", ")}")
    val list = cols.map(c => repl.get(c.toLowerCase)
      .map(e => s"$e AS `$c`").getOrElse(s"`$c`")).mkString(", ")
    m.group(1) + list + rest
  }

  // ANSI OFFSET/FETCH (CH accepts both row-count spellings) → LIMIT/
  // OFFSET; FETCH … WITH TIES routes through the LIMIT WITH TIES path
  private val offsetFetchRe =
    ("(?i)\\bOFFSET\\s+(\\d+)\\s+ROWS?" +
      "\\s+FETCH\\s+(?:FIRST|NEXT)\\s+(\\d+)\\s+ROWS?\\s+ONLY").r
  private val bareOffsetRowsRe = "(?i)\\bOFFSET\\s+(\\d+)\\s+ROWS?\\b".r
  private val fetchOnlyRe =
    "(?i)\\bFETCH\\s+(?:FIRST|NEXT)\\s+(\\d+)\\s+ROWS?\\s+ONLY".r
  private val fetchTiesRe =
    "(?i)\\bFETCH\\s+(?:FIRST|NEXT)\\s+(\\d+)\\s+ROWS?\\s+WITH\\s+TIES".r

  // `… ORDER BY ord LIMIT n BY cols [LIMIT m]` (CH's per-group top-n) →
  // a row_number window partitioned by the BY list, ordered by the
  // query's own ORDER BY (CH takes the first n rows of each group IN
  // THE QUERY'S ORDER — an ORDER BY is therefore REQUIRED here: without
  // one CH returns an arbitrary n per group, which a deterministic
  // engine refuses rather than emulates). Top-level statements only;
  // order keys must be output columns of the select (they become
  // subquery columns the window can see — a non-output order key fails
  // loudly at the parser, the shim's documented failure mode).
  private val limitByRe =
    "(?is)^(.*\\S)\\s+LIMIT\\s+(\\d+)\\s+BY\\s+(.+?)(?:\\s+LIMIT\\s+(\\d+))?\\s*$".r
  private val orderTailRe = "(?is)^(.*\\S)\\s+ORDER\\s+BY\\s+(.+)$".r

  /** CH `QUALIFY <pred>` — filter on window results (the top-1-per-group
    * idiom) — which Spark's grammar lacks: the body nests as a derived
    * table and the predicate moves to an outer WHERE. Direct window
    * expressions in the predicate (`QUALIFY row_number() OVER (…) = 1`)
    * are HOISTED into computed `__qual_i` columns first (WHERE cannot
    * hold a window function); alias references pass through untouched.
    * Named windows (`OVER w`) refuse loudly — resolving them needs the
    * body's WINDOW clause, which this shim doesn't parse.
    */
  private def rewriteQualify(s: String): String = {
    def depth0(text: String, i: Int): Boolean = {
      var d = 0; var j = 0
      while (j < i) {
        val c = text.charAt(j)
        if (c == '(') d += 1 else if (c == ')') d -= 1
        j += 1
      }
      d == 0
    }
    "(?i)\\bQUALIFY\\b".r.findAllMatchIn(s)
      .find(m => depth0(s, m.start)) match {
      case None => s
      case Some(m) =>
        val body = s.substring(0, m.start).trim
        val rest = s.substring(m.end)
        def topIdx(re: scala.util.matching.Regex): Int =
          re.findAllMatchIn(rest).map(_.start)
            .find(i => depth0(rest, i)).getOrElse(-1)
        val cut = Seq(topIdx("(?i)\\bORDER\\s+BY\\b".r),
          topIdx("(?i)\\bLIMIT\\b".r)).filter(_ >= 0)
          .sorted.headOption.getOrElse(rest.length)
        val pred0 = rest.substring(0, cut).trim
        val tail = rest.substring(cut) match {
          case t if t.isEmpty => ""
          case t => " " + t.trim
        }
        require(pred0.nonEmpty, "QUALIFY: empty predicate")
        require("(?i)\\bOVER\\s+[A-Za-z_`]".r.findFirstIn(pred0).isEmpty,
          "QUALIFY: named windows (OVER w) are not supported here — " +
            "inline the window or alias the expression in the SELECT")
        // hoist `fn(args) OVER (…)` spans out of the predicate
        val spans = Vector.newBuilder[(Int, Int)]
        "(?i)\\bOVER\\s*\\(".r.findAllMatchIn(pred0).foreach { om =>
          var d = 0; var e = om.end - 1 // the OVER-clause '('
          while (e < pred0.length && (e == om.end - 1 || d != 0)) {
            val c = pred0.charAt(e)
            if (c == '(') d += 1 else if (c == ')') d -= 1
            e += 1
          }
          require(d == 0, "QUALIFY: unbalanced OVER clause")
          var b = om.start - 1
          while (b >= 0 && pred0.charAt(b).isWhitespace) b -= 1
          require(b >= 0 && pred0.charAt(b) == ')',
            "QUALIFY: named windows (OVER w) are not supported here — " +
              "inline the window or alias the expression in the SELECT")
          var d2 = 0
          while (b >= 0 && { val c = pred0.charAt(b)
            if (c == ')') d2 += 1 else if (c == '(') d2 -= 1; d2 != 0 })
            b -= 1
          b -= 1 // now walk back over the function name
          while (b >= 0 && (pred0.charAt(b).isLetterOrDigit ||
            pred0.charAt(b) == '_')) b -= 1
          spans += ((b + 1, e))
        }
        val sp = spans.result()
        if (sp.isEmpty)
          s"SELECT * FROM ( $body ) __qual WHERE $pred0$tail"
        else {
          val cols = sp.zipWithIndex.map { case ((a, e), i) =>
            s"${pred0.substring(a, e)} AS __qual_$i" }
          val newPred = sp.zipWithIndex.reverse.foldLeft(pred0) {
            case (p, ((a, e), i)) =>
              p.substring(0, a) + s"__qual_$i" + p.substring(e)
          }
          val names = sp.indices.map(i => s"__qual_$i").mkString(", ")
          // the hoisted windows must see the body's SOURCE columns (CH
          // evaluates QUALIFY in the select scope, not over the
          // projected output), so they inject into the body's own
          // select list — split at the top-level FROM
          val fromIdx = "(?i)\\bFROM\\b".r.findAllMatchIn(body)
            .map(_.start).find(i => depth0(body, i)).getOrElse(
              throw new IllegalArgumentException(
                "QUALIFY: no top-level FROM in the body to hoist the " +
                  "window expression into"))
          val injected = body.substring(0, fromIdx).trim + ", " +
            cols.mkString(", ") + " " + body.substring(fromIdx)
          s"""SELECT * EXCEPT ($names) FROM (
             |  $injected
             |) WHERE $newPred$tail""".stripMargin
        }
    }
  }

  /** CH array literals `[1, 2, 3]` → `array(1, 2, 3)`, and CH
    * SUBSCRIPTS `x[e]` → `try_element_at(x, e)`. A `[` is a subscript
    * when the previous non-space token ends a value (identifier, `)`,
    * closing backtick, masked string literal — keywords like SELECT/
    * WHEN/IN are NOT values); anything else opens an array literal.
    * try_element_at is the correct lowering for BOTH container kinds:
    * CH array subscripts are 1-BASED (Spark's native `[i]` is 0-based —
    * a silent off-by-one), and out-of-range/missing-key yields NULL
    * where CH yields the type default (the documented NULL-vs-default
    * stance; Spark's native subscript under ANSI would THROW). The scan
    * pairs brackets with a stack so nested literals, literals inside
    * subscripts, and chained subscripts all land correctly.
    */
  private def rewriteArrayLiterals(s: String): String = {
    val out = new StringBuilder
    val stack = scala.collection.mutable.Stack.empty[Boolean] // literal?
    var i = 0
    // a keyword is not a value — `SELECT [1]`, `WHEN [1]`, `IN [..]`
    // open literals even though the keyword ends in a letter
    val kw = Set("SELECT", "DISTINCT", "ALL", "WHERE", "AND", "OR",
      "NOT", "IN", "WHEN", "THEN", "ELSE", "CASE", "BY", "ON", "AS",
      "LIKE", "ILIKE", "RLIKE", "BETWEEN", "HAVING", "SET", "VALUES",
      "LIMIT", "OFFSET", "JOIN", "FROM", "UNION", "EXCEPT", "INTERSECT",
      "IF", "USING", "QUALIFY", "INTERPOLATE", "FILL", "TO", "STEP",
      "RETURN", "PREWHERE", "TOTALS", "WITH", "IS")
    def prevValueEnd: Boolean = {
      var j = out.length - 1
      while (j >= 0 && (out.charAt(j) == ' ' || out.charAt(j) == '\t' ||
        out.charAt(j) == '\n' || out.charAt(j) == '\r')) j -= 1
      j >= 0 && {
        val c = out.charAt(j)
        if (c == ')' || c == ']' || c == '`' || c == Sentinel) true
        else if (c.isLetterOrDigit || c == '_') {
          var b = j
          while (b >= 0 && (out.charAt(b).isLetterOrDigit ||
            out.charAt(b) == '_')) b -= 1
          !kw.contains(out.substring(b + 1, j + 1).toUpperCase)
        } else false
      }
    }
    // start index (in `out`) of the value a subscript applies to:
    // identifier (incl. qualified a.b), backticked name, masked literal,
    // or a parenthesized/call tail — walked back balanced
    def valueStart: Int = {
      var j = out.length - 1
      while (j >= 0 && out.charAt(j).isWhitespace) j -= 1
      out.charAt(j) match {
        case ')' =>
          var d = 0
          while (j >= 0 && { val c = out.charAt(j)
            if (c == ')') d += 1 else if (c == '(') d -= 1; d != 0 }) j -= 1
          j -= 1 // a preceding function name joins the value
          while (j >= 0 && (out.charAt(j).isLetterOrDigit ||
            out.charAt(j) == '_' || out.charAt(j) == '.')) j -= 1
          j + 1
        case '`' =>
          j -= 1
          while (j >= 0 && out.charAt(j) != '`') j -= 1
          j
        case Sentinel =>
          j -= 1
          while (j >= 0 && out.charAt(j) != Sentinel) j -= 1
          j
        case _ =>
          while (j >= 0 && (out.charAt(j).isLetterOrDigit ||
            out.charAt(j) == '_' || out.charAt(j) == '.')) j -= 1
          j + 1
      }
    }
    while (i < s.length) {
      s.charAt(i) match {
        case '[' =>
          if (prevValueEnd) {
            val vs = valueStart
            val v = out.substring(vs)
            out.setLength(vs)
            out ++= s"try_element_at($v, "
            stack.push(false)
          } else {
            stack.push(true)
            out ++= "array("
          }
        case ']' if stack.nonEmpty =>
          stack.pop()
          out += ')'
        case c => out += c
      }
      i += 1
    }
    out.toString
  }

  private def rewriteLimitBy(s: String): String = s match {
    case limitByRe(inner, n, byList, outerLimit) =>
      val (body, ord) = inner match {
        case orderTailRe(b, o) => (b, o)
        case _ => throw new IllegalArgumentException(
          "LIMIT n BY requires an ORDER BY (ClickHouse returns an " +
            "arbitrary n rows per group without one; this engine refuses " +
            "nondeterminism rather than emulating it)")
      }
      val lim = Option(outerLimit).map(m => s" LIMIT $m").getOrElse("")
      s"""SELECT * EXCEPT (__rn) FROM (
         |  SELECT __q.*, row_number() OVER (
         |    PARTITION BY $byList ORDER BY $ord) AS __rn
         |  FROM ( $body ) __q
         |) WHERE __rn <= $n ORDER BY $ord$lim""".stripMargin
    case _ => s
  }

  // `GROUP BY list WITH TOTALS/ROLLUP/CUBE` — the list span is "up to
  // the WITH keyword", which is unambiguous because a GROUP BY list
  // cannot itself contain a WITH clause at top level (a scalar subquery
  // using WITH inside a grouping expression is outside this shim's
  // documented scope, like the other not-a-full-parser limits above)
  // the captured list must not itself contain a GROUP BY — otherwise the
  // non-greedy scan can anchor at an INNER subquery's GROUP BY and
  // swallow everything up to an outer WITH ROLLUP, emitting malformed SQL
  private val groupModRe =
    ("(?is)\\bGROUP\\s+BY\\s+((?:(?!\\bGROUP\\s+BY\\b).)*?)" +
      "\\s+WITH\\s+(TOTALS|ROLLUP|CUBE)\\b").r

  private def rewriteGroupMods(s: String): String =
    groupModRe.replaceAllIn(s, { m =>
      val list = m.group(1)
      val rewritten = m.group(2).toUpperCase match {
        case "ROLLUP" => s"GROUP BY ROLLUP($list)"
        case "CUBE"   => s"GROUP BY CUBE($list)"
        case _        => s"GROUP BY GROUPING SETS (($list), ())"
      }
      scala.util.matching.Regex.quoteReplacement(rewritten)
    })

  private val truncUnits = Seq(
    "toStartOfDay" -> "DAY", "toStartOfHour" -> "HOUR",
    "toStartOfMinute" -> "MINUTE",
    // sub-second family: sessions run MICROSECOND timestamps, so
    // toStartOfMicrosecond is the identity-precision floor (Spark's
    // date_trunc supports all three sub-second units natively)
    "toStartOfSecond" -> "SECOND",
    "toStartOfMillisecond" -> "MILLISECOND",
    "toStartOfMicrosecond" -> "MICROSECOND",
    "toStartOfWeek" -> "WEEK", "toStartOfMonth" -> "MONTH",
    "toStartOfQuarter" -> "QUARTER", "toStartOfYear" -> "YEAR")

  // the fixed-width bucket family: no date_trunc unit exists for these, so
  // they floor on the epoch-seconds grid (same math as toStartOfInterval)
  private val fixedBuckets = Seq(
    "toStartOfFiveMinutes" -> 300L, "toStartOfTenMinutes" -> 600L,
    "toStartOfFifteenMinutes" -> 900L,
    // timeSlot = CH's fixed half-hour bucket (same grid floor)
    "timeSlot" -> 1800L)

  private val intervalArgRe = "(?is)^INTERVAL\\s+(\\d+)\\s+(\\w+)$".r

  private def intervalSeconds(arg: String, where: String): Long = {
    val (n, unit) = arg.trim match {
      case intervalArgRe(v, u) => (v.toLong, u.toUpperCase.stripSuffix("S"))
      case other => throw new IllegalArgumentException(
        s"$where: expected INTERVAL n unit, got '$other'")
    }
    val secs = unit match {
      case "SECOND" => 1L
      case "MINUTE" => 60L
      case "HOUR" => 3600L
      case "DAY" => 86400L
      case "WEEK" => 604800L
      case other => throw new IllegalArgumentException(
        s"$where: INTERVAL $other has no fixed second length — use a " +
          "fixed-width unit (SECOND…WEEK) or date_trunc for calendar units")
    }
    n * secs
  }

  /** CH's expression-WITH: `WITH expr AS ident[, …] SELECT …` binds
    * scalar ALIASES — constants (`WITH 10 AS k`) or scalar subqueries
    * (`WITH (SELECT max(x) FROM t) AS m`) — usable anywhere in the query.
    * Spark's WITH accepts only CTEs, so alias items substitute textually
    * (`(expr)` replaces every word-boundary `ident` in the remainder —
    * CH's own semantics is substitution, shadowing hazards included).
    * Standard CTE items (`ident AS (SELECT …)`) stay in a WITH clause;
    * the two forms may mix. Top-level statements only.
    */
  private def rewriteWithAliases(s: String): String = {
    val m = "(?is)^\\s*WITH\\b".r.findFirstMatchIn(s).getOrElse(return s)
    val tail = s.substring(m.end)
    // the top-level SELECT ends the WITH list (depth-0 scan: a scalar
    // subquery's SELECT sits inside parens)
    var depth = 0
    var selAt = -1
    var i = 0
    val upper = tail.toUpperCase
    while (i < tail.length && selAt < 0) {
      tail.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && upper.startsWith("SELECT", i) &&
              (i == 0 || !isIdentChar(upper.charAt(i - 1))) &&
              (i + 6 >= tail.length || !isIdentChar(upper.charAt(i + 6))))
            selAt = i
      }
      i += 1
    }
    if (selAt < 0) return s
    val items = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var d = 0
      var start = 0
      val list = tail.substring(0, selAt)
      list.zipWithIndex.foreach { case (c, j) =>
        if (c == '(') d += 1 else if (c == ')') d -= 1
        else if (c == ',' && d == 0) { out += list.substring(start, j); start = j + 1 }
      }
      out += list.substring(start)
      out.toList.map(wtrim)
    }
    val rest = tail.substring(selAt)
    val ctes = scala.collection.mutable.ListBuffer.empty[String]
    val aliases = scala.collection.mutable.ListBuffer.empty[(String, String)]
    items.foreach { item =>
      val asAt = ajAsSplit.findAllMatchIn(item).toList.filter { am =>
        item.substring(0, am.start).foldLeft(0)((a, c) =>
          if (c == '(') a + 1 else if (c == ')') a - 1 else a) == 0
      }.lastOption.getOrElse(throw new IllegalArgumentException(
        s"WITH: expected `expr AS alias` or `name AS (SELECT …)`, got " +
          s"'${item.take(60)}'"))
      val lhs = wtrim(item.substring(0, asAt.start))
      val rhs = wtrim(item.substring(asAt.end))
      if (rhs.startsWith("(")) ctes += item // standard CTE, untouched
      else {
        require(identRe.pattern.matcher(rhs).matches(),
          s"WITH $lhs AS $rhs: the alias must be a plain identifier")
        aliases += lhs -> rhs
      }
    }
    if (aliases.isEmpty) return s
    var out = rest
    aliases.foreach { case (e, ident) =>
      out = ("\\b" + java.util.regex.Pattern.quote(ident) + "\\b").r
        .replaceAllIn(out, scala.util.matching.Regex.quoteReplacement(s"($e)"))
    }
    if (ctes.isEmpty) out else s"WITH ${ctes.mkString(", ")} " + out
  }

  private def isIdentChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_'

  /** CH `formatDateTime` %-specifiers → Spark datetime-pattern text.
    * Non-specifier runs are single-quoted so a literal pattern letter
    * ('T', 'Z') can never be misread as a Spark pattern char. `%M` is
    * REFUSED: ClickHouse flipped its meaning (minute → month name) across
    * versions — `%i` (minute) is unambiguous. Unknown specifiers refuse
    * loudly rather than silently formatting something else.
    */
  private val chFmtSpec: Map[Char, String] = Map(
    'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'c' -> "MM", 'd' -> "dd",
    'e' -> "d", 'H' -> "HH", 'h' -> "hh", 'i' -> "mm", 'S' -> "ss",
    's' -> "ss", 'p' -> "a", 'j' -> "DDD", 'a' -> "EEE", 'W' -> "EEEE",
    'F' -> "yyyy-MM-dd", 'D' -> "MM/dd/yy", 'T' -> "HH:mm:ss",
    'R' -> "HH:mm", 'Q' -> "Q", 'n' -> "\n", 't' -> "\t",
    // round-14 slots: %b abbreviated month; %k/%l are CH's SPACE-padded
    // 24h/12h hours — Spark has no space-pad flag, so they render
    // unpadded (documented divergence: "9" where CH prints " 9");
    // %z is the +0000 numeric offset (always +0000 — session UTC)
    'b' -> "MMM", 'k' -> "H", 'l' -> "h", 'z' -> "Z")

  private[graft] def chDateTimeFormat(fmt: String): String = {
    val out = new StringBuilder
    val lit = new StringBuilder
    def flushLit(): Unit = if (lit.nonEmpty) {
      out ++= "'" + lit.toString.replace("'", "''") + "'"
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%' && i + 1 < fmt.length) {
        val c = fmt.charAt(i + 1)
        if (c == '%') lit += '%'
        else if (c == 'M') throw new IllegalArgumentException(
          "formatDateTime %M: ClickHouse changed its meaning across " +
            "versions (minute vs month name) — use %i for minutes")
        else chFmtSpec.get(c) match {
          case Some(p) => flushLit(); out ++= p
          case None => throw new IllegalArgumentException(
            s"formatDateTime %$c: unsupported specifier")
        }
        i += 2
      } else { lit += fmt.charAt(i); i += 1 }
    }
    flushLit()
    out.toString
  }

  private def rewriteSegment(seg0: String,
                             analyze: Option[String => Seq[String]] = None,
                             literals: Array[String] = Array.empty): String = {
    var s = seg0
    // formatDateTime translates its %-mask literal IN ITS SLOT; when
    // WITH-alias substitution duplicates an expression, both occurrences
    // share ONE slot index — translate it exactly once (a second pass
    // would see no '%' left and literal-quote the whole pattern)
    val translatedSlots = scala.collection.mutable.Set.empty[Int]
    // statement-level LIMIT BY first (it re-nests the whole text), then
    // SAMPLE: its replacement emits a derived table whose text must
    // not be re-scanned by the token passes below (it contains none of
    // their tokens by construction, but ordering makes that a non-issue)
    // FORMAT first: it is statement-trailing text the other statement-
    // level rewrites (LIMIT BY, WITH FILL) must not see as their tail
    s = formatTailRe.replaceAllIn(s, "")
    s = settingsTailRe.replaceAllIn(s, "")
    // FORMAT may follow SETTINGS was already stripped; a SETTINGS tail
    // may also have preceded the FORMAT tail — strip again either way
    s = formatTailRe.replaceAllIn(s, "")
    s = settingsTailRe.replaceAllIn(s, "")
    s = rewriteWithAliases(s)
    s = rewriteArrayLiterals(s)
    // `GLOBAL <kind> JOIN` — CH's ship-the-build-side distributed hint;
    // single-process execution IS global (the GLOBAL IN stance at
    // simpleReplacements). Dropped BEFORE the join rewrites so the
    // keyword never parses as a table alias.
    s = ("(?i)\\bGLOBAL\\s+(?=(?:(?:LEFT|RIGHT|INNER|FULL|CROSS|ANY|" +
      "ALL|ASOF|SEMI|ANTI)\\s+)*JOIN\\b)").r.replaceAllIn(s, "")
    // ASOF/ANY before the refusal sweep: it consumes every supported
    // shape (emitting the QUALIFY rewriteQualify consumes below) and
    // refuses unsupported ones itself with the precise reason
    s = rewriteAsofJoin(s)
    s = rewriteColumnsSelector(s, analyze, literals)
    s = rewriteStarApply(s, analyze, literals)
    refuseUnsupported(s)
    s = rewriteSelectReplace(s, analyze)
    // OFFSET/FETCH first: its TIES form becomes LIMIT … WITH TIES, which
    // rewriteLimitTies then turns into QUALIFY, which rewriteQualify
    // consumes; DISTINCT ON becomes LIMIT 1 BY for rewriteLimitBy
    require(
      ("(?i)\\bOFFSET\\s+\\d+\\s+ROWS?\\s+" +
        "FETCH\\s+(?:FIRST|NEXT)\\s+\\d+\\s+ROWS?\\s+WITH\\s+TIES").r
        .findFirstIn(s).isEmpty,
      "OFFSET … FETCH … WITH TIES: ties combined with a row offset has " +
        "no deterministic lowering here — use LIMIT n WITH TIES")
    s = offsetFetchRe.replaceAllIn(s,
      m => s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}")
    s = fetchTiesRe.replaceAllIn(s, m => s"LIMIT ${m.group(1)} WITH TIES")
    s = fetchOnlyRe.replaceAllIn(s, m => s"LIMIT ${m.group(1)}")
    s = bareOffsetRowsRe.replaceAllIn(s, m => s"OFFSET ${m.group(1)}")
    s = rewriteDistinctOn(s)
    s = rewriteLimitTies(s)
    // `FROM system.one` — CH's one-row dummy relation, as a derived table
    s = "(?i)\\b(FROM|JOIN)\\s+system\\.one\\b".r.replaceAllIn(s,
      m => s"${m.group(1)} (SELECT CAST(0 AS TINYINT) AS dummy) one")
    // `c COLLATE 'loc'` → collate(c, 'UNICODE'): every ICU locale maps
    // to the root UNICODE collation (no per-locale tailoring —
    // documented divergence; the locale literal's slot drops)
    s = ("(?i)([A-Za-z_][A-Za-z0-9_.]*)\\s+COLLATE\\s+" +
      Sentinel + "\\d+" + Sentinel).r.replaceAllIn(s,
      m => s"collate(${m.group(1)}, 'UNICODE')")
    s = rewriteQualify(s)
    s = rewriteLimitBy(s)
    s = rewriteHistogram(s)
    s = rewriteWithFill(s, analyze)
    s = rewriteSample(s)
    // the CH/MySQL comma form — after rewriteLimitBy (which owns the
    // `LIMIT n BY cols` shape; a comma can't follow its count)
    s = limitCommaRe.replaceAllIn(s, m =>
      s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}")
    // `FROM system.numbers[_mt] … LIMIT n [OFFSET m]` — CH's unbounded
    // integer stream, bounded into the numbers() table function by the
    // LIMIT of ITS OWN query block (round-13 ADVICE fix: the first LIMIT
    // anywhere in the statement could belong to an earlier derived table
    // and silently under-bound the stream). The block scan runs from the
    // reference to the paren that closes its subquery, at the same
    // depth; a WHERE in that span refuses (CH generates until n rows
    // PASS the filter — a finite prefix would silently return fewer).
    while ("(?i)\\bsystem\\.numbers(_mt)?\\b".r.findFirstMatchIn(s).isDefined) {
      val m = "(?i)\\bsystem\\.numbers(_mt)?\\b".r.findFirstMatchIn(s).get
      // the span from the reference to the end of its query block:
      // depth-relative scan, stops where the block's paren closes
      var i = m.end
      var d = 0
      var blockEnd = s.length
      while (i < s.length && blockEnd == s.length) {
        val c = s.charAt(i)
        if (c == '(') d += 1
        else if (c == ')') { d -= 1; if (d < 0) blockEnd = i }
        i += 1
      }
      val block0 = s.substring(m.end, blockEnd)
      // a set-operation keyword at block depth starts a SIBLING query
      // block — its LIMIT is not ours
      val block = "(?i)\\b(UNION|INTERSECT|EXCEPT)\\b".r
        .findAllMatchIn(block0).find(mm => depthAt(block0, mm.start) == 0)
        .map(mm => block0.substring(0, mm.start)).getOrElse(block0)
      def atDepth0(mm: scala.util.matching.Regex.Match): Boolean =
        depthAt(block, mm.start) == 0
      require("(?i)\\bWHERE\\b".r.findAllMatchIn(block).forall(!atDepth0(_)),
        "system.numbers with WHERE: ClickHouse generates until LIMIT " +
          "rows pass the filter — use numbers(N) with an explicit bound")
      val lim = "(?i)\\bLIMIT\\s+(\\d+)(?:\\s+OFFSET\\s+(\\d+))?".r
        .findAllMatchIn(block).find(atDepth0)
        .getOrElse(throw new IllegalArgumentException(
          "system.numbers is unbounded — add LIMIT n in its own query " +
            "block or use numbers(N)"))
      val bound = lim.group(1).toLong +
        Option(lim.group(2)).map(_.toLong).getOrElse(0L)
      s = s.substring(0, m.start) + s"numbers($bound)" + s.substring(m.end)
    }
    // remote()/cluster() table functions (round 13): in a
    // single-process engine the cluster IS this process, so the
    // reference lowers to the LOCAL table with a loud note — the ON
    // CLUSTER stance applied to the read side. The egress family (url/
    // s3/hdfs/…) refuses toward file(): zero external connectivity.
    Seq("remoteSecure", "remote", "clusterAllReplicas", "cluster")
      .foreach { fn =>
        s = rewriteCall(s, fn, { args =>
          require(args.length >= 2,
            s"$fn(addresses|cluster, db[, table]): needs a target table")
          def nameOf(tok: String): String =
            maskedLiteral(tok, literals)
              .getOrElse(tok.trim.replace("`", "")).split('.').last
          // 2-arg form carries db.table in the second slot
          val tbl = nameOf(if (args.length >= 3) args(2) else args(1))
          System.err.println(s"[chsql] $fn(…): single-process engine — " +
            s"the cluster is this process; reading local table $tbl " +
            "(the ON CLUSTER stance)")
          tbl
        })
      }
    Seq("url", "s3", "s3Cluster", "hdfs", "azureBlobStorage", "gcs",
      "mysql", "postgresql", "mongodb", "redis").foreach { fn =>
      s = rewriteCall(s, fn, _ => throw new IllegalArgumentException(
        s"$fn(…): no external connectivity in this environment — stage " +
          "the data locally and read it with file(path[, format])"))
    }
    s = rewriteCall(s, "generateRandom",
      _ => throw new IllegalArgumentException(
        "generateRandom(…): nondeterministic generation — synthesize " +
          "deterministic rows from numbers(N) + hash functions instead"))
    s = numbersRe.replaceAllIn(s, { m =>
      val (a, b) = (m.group(2), Option(m.group(3)))
      val (lo, cnt) = b match {
        case Some(n) => (a.toLong, n.toLong)
        case None => (0L, a.toLong)
      }
      // numbers(0) is legal CH (empty set); sequence() refuses start>stop
      val table =
        if (cnt == 0) "(SELECT 0L AS number WHERE false)"
        else s"(SELECT explode(sequence($lo, ${lo + cnt - 1})) AS number)"
      scala.util.matching.Regex.quoteReplacement(
        s"${m.group(1)} $table numbers")
    })
    // PREWHERE p ... WHERE w in ONE block: merge into a single WHERE
    // (the blind PREWHERE->WHERE replacement below would emit two) —
    // Catalyst pushes the conjunction into the scan, which is what
    // PREWHERE asks for
    locally {
      val pw = topMatch(s, "(?i)\\bPREWHERE\\b".r)
      val w = pw.flatMap(m => topMatch(s, "(?i)\\bWHERE\\b".r, m.end))
      (pw, w) match {
        case (Some(m), Some(wm)) =>
          // NOT String.trim here: the literal-mask sentinel is \x01,
          // which trim (≤ 0x20) would strip off a predicate ending in a
          // masked literal — strip real whitespace only
          def ws(t: String) =
            t.dropWhile(c => c == ' ' || c == '\t' || c == '\n' || c == '\r')
              .reverse
              .dropWhile(c => c == ' ' || c == '\t' || c == '\n' || c == '\r')
              .reverse
          val pred = ws(s.substring(m.end, wm.start))
          // the WHERE predicate must be parenthesized too: an OR at its
          // top level would otherwise rebind the conjunction
          // (`p AND a OR b` ≠ CH's `p AND (a OR b)`)
          val wEnd = topMatch(s, ("(?i)\\b(GROUP\\s+BY|HAVING|QUALIFY|" +
            "WINDOW|ORDER\\s+BY|LIMIT|SETTINGS|UNION|INTERSECT|" +
            "EXCEPT)\\b").r, wm.end).map(_.start).getOrElse(s.length)
          val wPred = ws(s.substring(wm.end, wEnd))
          s = s.substring(0, m.start) + s"WHERE ($pred) AND ($wPred) " +
            s.substring(wEnd)
        case _ =>
      }
    }
    s = rewriteGroupMods(s)
    s = rewriteArrayJoin(s, 0)
    simpleReplacements.foreach { case (re, to) =>
      s = re.replaceAllIn(s, _ => scala.util.matching.Regex
        .quoteReplacement(to))
    }
    truncUnits.foreach { case (fn, unit) =>
      s = cachedRe(s"(?i)\\b$fn\\(").replaceAllIn(s, _ => s"date_trunc('$unit', ")
    }
    // NOTE: the literal-splitting above means the date_trunc unit quote
    // is inserted INTO a code segment — safe, because segments are
    // joined verbatim and later passes in this method do not re-split
    s = rewriteCall(s, "toYYYYMM",
      args => s"CAST(date_format(${args.mkString(", ")}, 'yyyyMM') AS INT)")
    s = rewriteCall(s, "sumIf", {
      case List(x, p) => s"sum(CASE WHEN $p THEN $x ELSE 0 END)"
      case args => throw new IllegalArgumentException(
        s"sumIf expects 2 arguments, got ${args.length}")
    })
    s = rewriteCall(s, "avgIf", {
      case List(x, p) => s"avg(CASE WHEN $p THEN $x END)"
      case args => throw new IllegalArgumentException(
        s"avgIf expects 2 arguments, got ${args.length}")
    })
    s = rewriteCall(s, "uniqExact",
      args => s"count(DISTINCT ${args.mkString(", ")})")
    // the rest of the everyday -If combinator family (sumIf/avgIf/
    // maxIf/minIf/countIf are above/below): nulls from the CASE are
    // what each Spark aggregate already skips
    s = rewriteCall(s, "uniqIf", {
      case List(x, p) => s"approx_count_distinct(CASE WHEN $p THEN $x END)"
      case args => throw new IllegalArgumentException(
        s"uniqIf expects 2 arguments, got ${args.length}")
    })
    s = rewriteCall(s, "uniqExactIf", {
      case List(x, p) => s"count(DISTINCT CASE WHEN $p THEN $x END)"
      case args => throw new IllegalArgumentException(
        s"uniqExactIf expects 2 arguments, got ${args.length}")
    })
    s = rewriteCall(s, "anyIf", {
      case List(x, p) => s"any_value(CASE WHEN $p THEN $x END, true)"
      case args => throw new IllegalArgumentException(
        s"anyIf expects 2 arguments, got ${args.length}")
    })
    s = rewriteCall(s, "groupArrayIf", {
      case List(x, p) => s"collect_list(CASE WHEN $p THEN $x END)"
      case args => throw new IllegalArgumentException(
        s"groupArrayIf expects 2 arguments, got ${args.length}")
    })
    s = rewriteCall(s, "countDistinct",
      args => s"count(DISTINCT ${args.mkString(", ")})")
    // the CH higher-order array family: lambda-FIRST argument order swaps
    // to Spark's array-first builtins (identical `x -> expr` lambda
    // syntax both sides, so the lambda text passes through verbatim).
    // All codegen-adjacent builtins — no UDFs.
    s = rewriteCall(s, "arrayMap", {
      case List(f, a) => s"transform($a, $f)"
      case List(f, a, b) => s"zip_with($a, $b, $f)" // the 2-array lockstep
      case args => throw new IllegalArgumentException(
        s"arrayMap expects (lambda, arr[, arr2]), got ${args.length}")
    })
    s = rewriteCall(s, "arrayFilter", {
      case List(f, a) => s"filter($a, $f)"
      case args => throw new IllegalArgumentException(
        s"arrayFilter expects (lambda, arr), got ${args.length}")
    })
    s = rewriteCall(s, "arrayExists", {
      case List(f, a) => s"exists($a, $f)"
      case args => throw new IllegalArgumentException(
        s"arrayExists expects (lambda, arr), got ${args.length}")
    })
    s = rewriteCall(s, "arrayAll", {
      case List(f, a) => s"forall($a, $f)"
      case args => throw new IllegalArgumentException(
        s"arrayAll expects (lambda, arr), got ${args.length}")
    })
    s = rewriteCall(s, "arrayCount", {
      case List(f, a) => s"size(filter($a, $f))"
      // the lambdaless form counts non-zero elements (CH's contract)
      case List(a) => s"size(filter($a, __x -> __x != 0))"
      case args => throw new IllegalArgumentException(
        s"arrayCount expects (lambda, arr) or (arr), got ${args.length}")
    })
    // first match / its 1-based position; NO match: Spark NULL / 0 where
    // CH yields the type default / 0 (the NULL-vs-default stance — wrap
    // in coalesce where the default matters)
    s = rewriteCall(s, "arrayFirst", {
      case List(f, a) => s"try_element_at(filter($a, $f), 1)"
      case args => throw new IllegalArgumentException(
        s"arrayFirst expects (lambda, arr), got ${args.length}")
    })
    s = rewriteCall(s, "arrayFirstIndex", {
      case List(f, a) => s"array_position(transform($a, $f), true)"
      case args => throw new IllegalArgumentException(
        s"arrayFirstIndex expects (lambda, arr), got ${args.length}")
    })
    s = rewriteCall(s, "arrayUniq", {
      case List(a) => s"size(array_distinct($a))"
      case args => throw new IllegalArgumentException(
        s"arrayUniq expects 1 array, got ${args.length}")
    })
    s = rewriteCall(s, "arraySlice", {
      case List(a, off) => s"slice($a, $off, size($a))"
      case List(a, off, len) => s"slice($a, $off, $len)"
      case args => throw new IllegalArgumentException(
        s"arraySlice expects (arr, offset[, length]), got ${args.length}")
    })
    s = rewriteCall(s, "arrayEnumerate", {
      case List(a) => s"sequence(1, size($a))"
      case args => throw new IllegalArgumentException(
        s"arrayEnumerate expects 1 array, got ${args.length}")
    })
    // toStartOfInterval(ts, INTERVAL n unit) → epoch-grid floor (the
    // arbitrary-width bucket date_trunc can't express); calendar units
    // refuse loudly in intervalSeconds
    s = rewriteCall(s, "toStartOfInterval", {
      case List(x, iv) =>
        val secs = intervalSeconds(iv, "toStartOfInterval")
        s"timestamp_seconds((unix_timestamp($x) DIV $secs) * $secs)"
      case args => throw new IllegalArgumentException(
        s"toStartOfInterval expects (ts, INTERVAL n unit), got ${args.length}")
    })
    fixedBuckets.foreach { case (fn, secs) =>
      s = rewriteCall(s, fn, {
        case List(x) =>
          s"timestamp_seconds((unix_timestamp($x) DIV $secs) * $secs)"
        case args => throw new IllegalArgumentException(
          s"$fn expects 1 argument, got ${args.length}")
      })
    }
    // formatDateTime(ts, '%…') → date_format(ts, <translated pattern>):
    // the %-pattern literal is TRANSLATED IN ITS MASK SLOT (the only
    // rewrite that edits literal bytes — doc on chDateTimeFormat); a
    // computed format refuses loudly, CH dashboards always use a literal
    s = rewriteCall(s, "formatDateTime", {
      case List(x, f) =>
        val tok = wtrim(f)
        val sentRe = (Sentinel + "(\\d+)" + Sentinel).r
        val idx = sentRe.findFirstMatchIn(tok) match {
          case Some(sm) if sm.matched == tok => sm.group(1).toInt
          case _ => throw new IllegalArgumentException(
            "formatDateTime: the format argument must be a string literal")
        }
        if (translatedSlots.add(idx)) {
          val raw = literals(idx)
          val content = raw.substring(1, raw.length - 1).replace("''", "'")
          literals(idx) =
            "'" + chDateTimeFormat(content).replace("'", "''") + "'"
        }
        s"date_format($x, $tok)"
      case args => throw new IllegalArgumentException(
        s"formatDateTime expects (ts, 'format'), got ${args.length} " +
          "argument(s) — the timezone form is not supported (session UTC)")
    })
    s = rewriteCall(s, "maxIf", {
      case List(x, p) => s"max(CASE WHEN $p THEN $x END)"
      case args => throw new IllegalArgumentException(
        s"maxIf expects 2 arguments, got ${args.length}")
    })
    s = rewriteCall(s, "minIf", {
      case List(x, p) => s"min(CASE WHEN $p THEN $x END)"
      case args => throw new IllegalArgumentException(
        s"minIf expects 2 arguments, got ${args.length}")
    })
    // CH position(haystack, needle) swaps arguments vs Spark's locate;
    // the ANSI form position(needle IN haystack) — which CH also accepts
    // — arrives as ONE argument and both engines parse it natively, so
    // it passes through unchanged
    s = rewriteCall(s, "position", {
      case List(h, n) => s"locate($n, $h)"
      case List(h, n, start) => s"locate($n, $h, $start)"
      case List(single) if "(?i)\\s+IN\\s+".r.findFirstIn(single).isDefined =>
        s"position($single)"
      case args => throw new IllegalArgumentException(
        s"position expects 2-3 arguments, got ${args.length}")
    })
    // multiIf(c1, v1, c2, v2, …, else) → the CASE chain it abbreviates
    s = rewriteCall(s, "multiIf", { args =>
      require(args.length >= 3 && args.length % 2 == 1,
        s"multiIf expects an odd argument count >= 3, got ${args.length}")
      val whens = args.dropRight(1).grouped(2)
        .map { case List(c, v) => s"WHEN $c THEN $v" }.mkString(" ")
      s"(CASE $whens ELSE ${args.last} END)"
    })
    // function-form casts (the :: mapping's call-shaped siblings; unsigned
    // widths map UP so every legal CH value fits, same as the :: table)
    // toString(ts, 'tz') — CH's render-in-timezone form (the 1-arg cast
    // stays in the family loop below, which then finds nothing left)
    s = rewriteCall(s, "toString", {
      case List(x, tz) => s"date_format(convert_timezone('UTC', $tz, " +
        s"$x), 'yyyy-MM-dd HH:mm:ss')"
      case List(x) => s"CAST($x AS STRING)"
      case args => throw new IllegalArgumentException(
        s"toString expects 1-2 arguments, got ${args.length}")
    })
    Seq("toString" -> "STRING", "toInt8" -> "TINYINT",
      "toInt16" -> "SMALLINT", "toInt32" -> "INT", "toInt64" -> "BIGINT",
      "toUInt8" -> "SMALLINT", "toUInt16" -> "INT", "toUInt32" -> "BIGINT",
      "toUInt64" -> "BIGINT", "toFloat32" -> "FLOAT",
      "toFloat64" -> "DOUBLE", "toDateTime" -> "TIMESTAMP")
      .foreach { case (fn, ty) =>
      s = rewriteCall(s, fn, {
        case List(x) => s"CAST($x AS $ty)"
        case args => throw new IllegalArgumentException(
          s"$fn expects 1 argument, got ${args.length}")
      })
    }
    s = rewriteCall(s, "empty", {
      case List(x) => s"($x = '')"
      case args => throw new IllegalArgumentException(
        s"empty expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "notEmpty", {
      case List(x) => s"($x <> '')"
      case args => throw new IllegalArgumentException(
        s"notEmpty expects 1 argument, got ${args.length}")
    })
    // hasToken(col, 'tok') → token-membership under the ONE tokenizer
    // constant the token skip index shares (Catalog.TokenSeparators), so
    // the SQL predicate and the storage-side bloom can never disagree on
    // what a token is (the quoted pattern lands in a code segment —
    // safe, same reasoning as the date_trunc note above)
    // splitByChar/splitByString(sep, s) → split(s, sep) — argument swap,
    // separator regex-quoted through \Q…\E so a metachar separator ('.',
    // '|') splits literally; the quoting concat lands in a code segment
    // (safe — the date_trunc note above)
    Seq("splitByChar", "splitByString").foreach { fn =>
      s = rewriteCall(s, fn, {
        case List(sep, str) => s"split($str, concat('\\\\Q', $sep, '\\\\E'))"
        case args => throw new IllegalArgumentException(
          s"$fn expects 2 arguments, got ${args.length}")
      })
    }
    s = rewriteCall(s, "intDiv", {
      case List(a, b) => s"($a DIV $b)"
      case args => throw new IllegalArgumentException(
        s"intDiv expects 2 arguments, got ${args.length}")
    })
    s = rewriteCall(s, "modulo", {
      case List(a, b) => s"($a % $b)"
      case args => throw new IllegalArgumentException(
        s"modulo expects 2 arguments, got ${args.length}")
    })
    // ——— everyday tier 3 (round 12) — see the header doc table ———
    // unit literals name grammar keywords, not values: extract the slot
    // content (the formatDateTime discipline, read-only here)
    val sentinelSlot = (Sentinel + "(\\d+)" + Sentinel).r
    def litArg(tok0: String, where: String): String = {
      val tok = wtrim(tok0)
      sentinelSlot.findFirstMatchIn(tok) match {
        case Some(sm) if sm.matched == tok =>
          val raw = literals(sm.group(1).toInt)
          raw.substring(1, raw.length - 1).replace("''", "'")
        case _ => throw new IllegalArgumentException(
          s"$where: the unit argument must be a string literal")
      }
    }
    // dateDiff counts UNIT-BOUNDARY CROSSINGS (dateDiff('year', Dec 31,
    // Jan 1) = 1) — each unit lowers to truncate-then-subtract, which is
    // CH-exact; Spark's timestampdiff (complete units) would be wrong
    s = rewriteCall(s, "dateDiff", {
      case List(u, a, b) => litArg(u, "dateDiff").toLowerCase match {
        case "second" => s"(unix_timestamp($b) - unix_timestamp($a))"
        case "minute" =>
          s"(unix_timestamp($b) DIV 60 - unix_timestamp($a) DIV 60)"
        case "hour" =>
          s"(unix_timestamp($b) DIV 3600 - unix_timestamp($a) DIV 3600)"
        case "day" => s"datediff(to_date($b), to_date($a))"
        case "week" =>
          s"(datediff(date_trunc('week', $b), date_trunc('week', $a)) DIV 7)"
        case "month" =>
          s"((year($b) * 12 + month($b)) - (year($a) * 12 + month($a)))"
        case "quarter" =>
          s"((year($b) * 4 + quarter($b)) - (year($a) * 4 + quarter($a)))"
        case "year" => s"(year($b) - year($a))"
        case other => throw new IllegalArgumentException(
          s"dateDiff: unsupported unit '$other'")
      }
      case args => throw new IllegalArgumentException(
        s"dateDiff expects ('unit', start, end), got ${args.length} " +
          "argument(s) — the timezone form is not supported (session UTC)")
    })
    // age = COMPLETE units between — exactly Spark's timestampdiff
    val chIntervalUnits = Map(
      "second" -> "SECOND", "minute" -> "MINUTE", "hour" -> "HOUR",
      "day" -> "DAY", "week" -> "WEEK", "month" -> "MONTH",
      "quarter" -> "QUARTER", "year" -> "YEAR")
    s = rewriteCall(s, "age", {
      case List(u, a, b) =>
        val lit = litArg(u, "age").toLowerCase
        val unit = chIntervalUnits.getOrElse(lit,
          throw new IllegalArgumentException(s"age: unsupported unit '$lit'"))
        s"timestampdiff($unit, $a, $b)"
      case args => throw new IllegalArgumentException(
        s"age expects ('unit', start, end), got ${args.length} argument(s)")
    })
    // addX/subtractX(x, n) → timestampadd(UNIT, ±n, x); a Date input
    // widens to TIMESTAMP (CH keeps Date — cast back where it matters)
    Seq("addYears" -> "YEAR", "addQuarters" -> "QUARTER",
      "addMonths" -> "MONTH", "addWeeks" -> "WEEK", "addDays" -> "DAY",
      "addHours" -> "HOUR", "addMinutes" -> "MINUTE",
      "addSeconds" -> "SECOND").foreach { case (fn, unit) =>
      s = rewriteCall(s, fn, {
        case List(x, n) => s"timestampadd($unit, $n, $x)"
        case args => throw new IllegalArgumentException(
          s"$fn expects (ts, n), got ${args.length} argument(s)")
      })
      val sub = "subtract" + fn.stripPrefix("add")
      s = rewriteCall(s, sub, {
        case List(x, n) => s"timestampadd($unit, -($n), $x)"
        case args => throw new IllegalArgumentException(
          s"$sub expects (ts, n), got ${args.length} argument(s)")
      })
    }
    // ISO / Spark-default spellings only — CH's fuzzy multi-format
    // guessing is NOT replicated (a non-ISO spelling errors, never
    // guesses); OrNull keeps CH's null-on-unparseable contract
    s = rewriteCall(s, "parseDateTimeBestEffortOrNull", {
      case List(x) => s"try_to_timestamp($x)"
      case args => throw new IllegalArgumentException(
        s"parseDateTimeBestEffortOrNull expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "parseDateTimeBestEffort", {
      case List(x) => s"to_timestamp($x)"
      case args => throw new IllegalArgumentException(
        s"parseDateTimeBestEffort expects 1 argument, got ${args.length}")
    })
    // ISO weekday (Monday=1 … Sunday=7) from Spark's Sunday=1 dayofweek
    s = rewriteCall(s, "toDayOfWeek", {
      case List(x) => s"(((dayofweek($x) + 5) % 7) + 1)"
      case args => throw new IllegalArgumentException(
        s"toDayOfWeek expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "median", {
      case List(x) => s"percentile($x, 0.5)"
      case args => throw new IllegalArgumentException(
        s"median expects 1 argument, got ${args.length}")
    })
    // toTimeZone(ts, tz): sessions here run UTC, so the instant's
    // wall-clock in tz IS convert_timezone('UTC', tz, ts). The result is
    // a TZ-less timestamp (CH instead keeps the instant and re-renders —
    // downstream date functions see the same wall-clock either way,
    // which is what the call is for; documented divergence in kind)
    s = rewriteCall(s, "toTimeZone", {
      case List(x, tz) => s"convert_timezone('UTC', $tz, $x)"
      case args => throw new IllegalArgumentException(
        s"toTimeZone expects (ts, 'tz'), got ${args.length}")
    })
    s = rewriteCall(s, "toISOWeek", {
      case List(x) => s"weekofyear($x)"
      case args => throw new IllegalArgumentException(
        s"toISOWeek expects 1 argument, got ${args.length}")
    })
    // ISO week-numbering year = the year of that week's Thursday
    s = rewriteCall(s, "toISOYear", {
      case List(x) => s"year(date_add(date_trunc('week', $x), 3))"
      case args => throw new IllegalArgumentException(
        s"toISOYear expects 1 argument, got ${args.length}")
    })
    // ops-readability renders: CH's fixed two-decimal spellings via
    // format_string (argument inlined once per threshold — pass a
    // column, not an expensive expression)
    s = rewriteCall(s, "formatReadableSize", {
      case List(b) =>
        val d = s"CAST($b AS DOUBLE)"
        s"(CASE WHEN abs($d) < 1024 THEN format_string('%.2f B', $d) " +
          s"WHEN abs($d) < 1048576 THEN format_string('%.2f KiB', $d / 1024) " +
          s"WHEN abs($d) < 1073741824 THEN format_string('%.2f MiB', $d / 1048576) " +
          s"WHEN abs($d) < 1099511627776 THEN format_string('%.2f GiB', $d / 1073741824) " +
          s"WHEN abs($d) < 1125899906842624 THEN format_string('%.2f TiB', $d / 1099511627776) " +
          s"ELSE format_string('%.2f PiB', $d / 1125899906842624) END)"
      case args => throw new IllegalArgumentException(
        s"formatReadableSize expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "formatReadableQuantity", {
      case List(n) =>
        val d = s"CAST($n AS DOUBLE)"
        s"(CASE WHEN abs($d) < 1000 THEN format_string('%.2f', $d) " +
          s"WHEN abs($d) < 1000000 THEN format_string('%.2f thousand', $d / 1000) " +
          s"WHEN abs($d) < 1000000000 THEN format_string('%.2f million', $d / 1000000) " +
          s"WHEN abs($d) < 1000000000000 THEN format_string('%.2f billion', $d / 1000000000) " +
          s"ELSE format_string('%.2f trillion', $d / 1000000000000) END)"
      case args => throw new IllegalArgumentException(
        s"formatReadableQuantity expects 1 argument, got ${args.length}")
    })
    // arithmetic array family: DOUBLE accumulation (CH widens the
    // ELEMENT type; integer sums past 2^53 lose exactness here —
    // documented trade); lambda forms map through transform first
    def arrAggSum(a: String) =
      s"aggregate($a, CAST(0 AS DOUBLE), (__acc, __v) -> __acc + __v)"
    s = rewriteCall(s, "arraySum", {
      case List(a) => arrAggSum(a)
      case List(f, a) => arrAggSum(s"transform($a, $f)")
      case args => throw new IllegalArgumentException(
        s"arraySum expects ([lambda,] arr), got ${args.length} argument(s)")
    })
    s = rewriteCall(s, "arrayAvg", {
      case List(a) =>
        s"(CASE WHEN size($a) = 0 THEN CAST(NULL AS DOUBLE) " +
          s"ELSE ${arrAggSum(a)} / size($a) END)"
      case List(f, a) =>
        s"(CASE WHEN size($a) = 0 THEN CAST(NULL AS DOUBLE) " +
          s"ELSE ${arrAggSum(s"transform($a, $f)")} / size($a) END)"
      case args => throw new IllegalArgumentException(
        s"arrayAvg expects ([lambda,] arr), got ${args.length} argument(s)")
    })
    Seq("arrayMin" -> "array_min", "arrayMax" -> "array_max").foreach {
      case (fn, to) =>
        s = rewriteCall(s, fn, {
          case List(a) => s"$to($a)"
          case List(f, a) => s"$to(transform($a, $f))"
          case args => throw new IllegalArgumentException(
            s"$fn expects ([lambda,] arr), got ${args.length} argument(s)")
        })
    }
    // prefix sums via per-index aggregate(slice) — O(n²) in array
    // length; arrays are row-local so this never rides a shuffle. The
    // array argument is INLINED per element: pass a column, not an
    // expensive expression
    s = rewriteCall(s, "arrayCumSum", {
      case List(a) =>
        s"transform($a, (__e, __i) -> aggregate(slice($a, 1, __i + 1), " +
          "CAST(0 AS DOUBLE), (__acc, __v) -> __acc + __v))"
      case args => throw new IllegalArgumentException(
        s"arrayCumSum expects 1 array, got ${args.length} argument(s)")
    })
    s = rewriteCall(s, "arrayDifference", {
      case List(a) =>
        s"transform($a, (__e, __i) -> CASE WHEN __i = 0 THEN " +
          s"CAST(0 AS DOUBLE) ELSE CAST(__e AS DOUBLE) - " +
          s"element_at($a, __i) END)"
      case args => throw new IllegalArgumentException(
        s"arrayDifference expects 1 array, got ${args.length} argument(s)")
    })
    // CH range is HALF-OPEN and empty-safe at n=0; sequence() is
    // inclusive and DESCENDS when start > stop — slice to the exact
    // half-open length so neither divergence leaks (a negative length
    // errors loudly, matching CH's refusal of negative extents)
    s = rewriteCall(s, "range", {
      case List(n) =>
        s"slice(sequence(0L, CAST($n AS BIGINT)), 1, CAST($n AS INT))"
      case List(a, b) =>
        s"slice(sequence(CAST($a AS BIGINT), CAST($b AS BIGINT)), 1, " +
          s"greatest(CAST(($b) - ($a) AS INT), 0))"
      case List(a, b, st) =>
        s"slice(sequence(CAST($a AS BIGINT), CAST($b AS BIGINT), $st), 1, " +
          s"greatest(CAST(ceil((CAST($b AS DOUBLE) - ($a)) / ($st)) AS INT), 0))"
      case args => throw new IllegalArgumentException(
        s"range expects (n) / (lo, hi[, step]), got ${args.length} argument(s)")
    })
    // URL family → parse_url probes (full URLs; scheme-less strings
    // parse host-less here — CH's raw-text rules differ on those)
    s = rewriteCall(s, "protocol", {
      case List(u) => s"parse_url($u, 'PROTOCOL')"
      case args => throw new IllegalArgumentException(
        s"protocol expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "domainWithoutWWW", {
      case List(u) =>
        s"regexp_replace(parse_url($u, 'HOST'), '^www\\\\.', '')"
      case args => throw new IllegalArgumentException(
        s"domainWithoutWWW expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "domain", {
      case List(u) => s"parse_url($u, 'HOST')"
      case args => throw new IllegalArgumentException(
        s"domain expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "topLevelDomain", {
      case List(u) =>
        s"regexp_extract(parse_url($u, 'HOST'), '\\\\.([^.]+)$$', 1)"
      case args => throw new IllegalArgumentException(
        s"topLevelDomain expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "pathFull", {
      case List(u) => s"parse_url($u, 'FILE')"
      case args => throw new IllegalArgumentException(
        s"pathFull expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "path", {
      case List(u) => s"parse_url($u, 'PATH')"
      case args => throw new IllegalArgumentException(
        s"path expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "queryString", {
      case List(u) => s"parse_url($u, 'QUERY')"
      case args => throw new IllegalArgumentException(
        s"queryString expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "extractURLParameter", {
      case List(u, k) => s"parse_url($u, 'QUERY', $k)"
      case args => throw new IllegalArgumentException(
        s"extractURLParameter expects (url, key), got ${args.length}")
    })
    // removes '?' through the query string, keeping any #fragment (CH)
    s = rewriteCall(s, "cutQueryString", {
      case List(u) => s"regexp_replace($u, '\\\\?[^#]*', '')"
      case args => throw new IllegalArgumentException(
        s"cutQueryString expects 1 argument, got ${args.length}")
    })
    // IPv4 render/parse: pure octet bit arithmetic — the argument is
    // INLINED once per octet (pass a column, not an expensive expression)
    s = rewriteCall(s, "IPv4NumToString", {
      case List(n) =>
        s"concat_ws('.', CAST(($n) DIV 16777216 % 256 AS STRING), " +
          s"CAST(($n) DIV 65536 % 256 AS STRING), " +
          s"CAST(($n) DIV 256 % 256 AS STRING), " +
          s"CAST(($n) % 256 AS STRING))"
      case args => throw new IllegalArgumentException(
        s"IPv4NumToString expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "IPv4StringToNum", {
      case List(x) =>
        s"(CAST(element_at(split($x, '\\\\.'), 1) AS BIGINT) * 16777216 + " +
          s"CAST(element_at(split($x, '\\\\.'), 2) AS BIGINT) * 65536 + " +
          s"CAST(element_at(split($x, '\\\\.'), 3) AS BIGINT) * 256 + " +
          s"CAST(element_at(split($x, '\\\\.'), 4) AS BIGINT))"
      case args => throw new IllegalArgumentException(
        s"IPv4StringToNum expects 1 argument, got ${args.length}")
    })
    // haversine METERS on the 6371008.8 m mean-radius sphere; CH's
    // geoDistance applies an ellipsoid correction — metre-scale
    // divergence on long paths (documented, same lowering)
    Seq("greatCircleDistance", "geoDistance").foreach { fn =>
      s = rewriteCall(s, fn, {
        case List(lon1, lat1, lon2, lat2) =>
          s"(asin(sqrt(pow(sin(radians(($lat2) - ($lat1)) / 2), 2) + " +
            s"cos(radians($lat1)) * cos(radians($lat2)) * " +
            s"pow(sin(radians(($lon2) - ($lon1)) / 2), 2))) * 2 * 6371008.8)"
        case args => throw new IllegalArgumentException(
          s"$fn expects (lon1, lat1, lon2, lat2), got ${args.length}")
      })
    }
    // CH allows `SELECT * EXCEPT col` (paren-less single column); Spark's
    // * EXCEPT requires the parenthesized list — normalize. Set-operation
    // EXCEPT can't directly follow `*` in either grammar, but the
    // lookahead still refuses keyword captures defensively
    s = ("(?i)\\*\\s+EXCEPT\\s+" +
      "(?!\\(|SELECT\\b|ALL\\b|DISTINCT\\b)([A-Za-z_][A-Za-z0-9_]*)").r
      .replaceAllIn(s, m => s"* EXCEPT (${m.group(1)})")
    s = rewriteCall(s, "hasToken", {
      case List(c, tok) =>
        s"array_contains(split($c, '${graft.catalog.Catalog.TokenSeparators}'), $tok)"
      case args => throw new IllegalArgumentException(
        s"hasToken expects 2 arguments, got ${args.length}")
    })
    // JSONExtract* over the JSON/Variant column type → typed variant_get
    // paths. CH's key arguments become the '$.a.b' path through a
    // concat of literals (key literals are MASKED here — sentinel
    // tokens — so the path is assembled relationally; concat-of-
    // literals stays foldable, which variant_get's path requires, and a
    // genuinely computed key still fails loudly there). The quoted '$.'
    // and '.' separators land in a code segment — safe, the date_trunc
    // note above.
    Seq("JSONExtractString" -> "string", "JSONExtractInt" -> "bigint",
      "JSONExtractUInt" -> "bigint", "JSONExtractFloat" -> "double",
      "JSONExtractBool" -> "boolean").foreach { case (fn, ty) =>
      s = rewriteCall(s, fn, {
        case json :: keys if keys.nonEmpty =>
          // strip(), not trim(): the masked-literal sentinel is a control
          // char and trim() would eat it, orphaning the key literals
          val path = keys.map(_.strip()).mkString(", '.', ")
          s"variant_get($json, concat('$$.', $path), '$ty')"
        case args => throw new IllegalArgumentException(
          s"$fn expects (json, key…), got ${args.length} argument(s)")
      })
    }
    // regex family: CH evaluates RE2, Spark evaluates Java regex — these
    // rewrites are valid on the RE2∩Java overlap. A literal pattern
    // using a construct the engines DISAGREE on (Java-only
    // backreferences / lookaround / atomic groups: valid here, an RE2
    // error in CH) refuses loudly instead of silently diverging — the
    // formatDateTime %M precedent. Computed patterns pass unchecked
    // (nothing to inspect), same stance as the cityHash64→xxhash64 note.
    def guardRegex(fn: String, tok: String): Unit =
      maskedLiteral(tok, literals).foreach { pat =>
        Seq("\\\\[1-9]" -> "a backreference",
            "\\(\\?=" -> "lookahead", "\\(\\?!" -> "negative lookahead",
            "\\(\\?<=" -> "lookbehind", "\\(\\?<!" -> "negative lookbehind",
            "\\(\\?>" -> "an atomic group")
          .collectFirst { case (re, what)
              if re.r.findFirstIn(pat).isDefined => what }
          .foreach(what => throw new IllegalArgumentException(
            s"$fn pattern '$pat' uses $what — Java-only regex that " +
              "ClickHouse's RE2 rejects, so the engines would disagree; " +
              "rewrite the pattern in the shared RE2/Java subset"))
      }
    s = rewriteCall(s, "match", {
      case List(h, p) =>
        guardRegex("match", p)
        s"regexp_like($h, $p)"
      case args => throw new IllegalArgumentException(
        s"match expects (haystack, pattern), got ${args.length}")
    })
    // CH replacement backrefs spell \1 (source text `\\1` or `\1`);
    // Java's spell $1 — translate IN THE SLOT (the formatDateTime
    // discipline, shared once-only set), re-escaping literal `$` so it
    // survives both Spark's string unescape and Java's replacement
    // parser. Computed replacements pass through untranslated.
    def translateReplacement(tok: String): Unit = {
      val t = wtrim(tok)
      (Sentinel + "(\\d+)" + Sentinel).r.findFirstMatchIn(t) match {
        case Some(sm) if sm.matched == t =>
          val idx = sm.group(1).toInt
          if (translatedSlots.add(idx)) {
            val raw = literals(idx)
            val content = raw.substring(1, raw.length - 1)
            val sb = new StringBuilder
            var i = 0
            while (i < content.length) {
              val c = content.charAt(i)
              if (c == '\\' && i + 2 < content.length &&
                  content.charAt(i + 1) == '\\' &&
                  content.charAt(i + 2).isDigit) {
                sb.append('$').append(content.charAt(i + 2)); i += 3
              } else if (c == '\\' && i + 1 < content.length &&
                  content.charAt(i + 1).isDigit) {
                sb.append('$').append(content.charAt(i + 1)); i += 2
              } else if (c == '$') { sb.append("\\\\$"); i += 1 }
              else { sb.append(c); i += 1 }
            }
            literals(idx) = "'" + sb.toString + "'"
          }
        case _ => ()
      }
    }
    s = rewriteCall(s, "replaceRegexpAll", {
      case List(h, p, r) =>
        guardRegex("replaceRegexpAll", p)
        translateReplacement(r)
        s"regexp_replace($h, $p, $r)"
      case args => throw new IllegalArgumentException(
        s"replaceRegexpAll expects (haystack, pattern, replacement), " +
          s"got ${args.length}")
    })
    // ——— everyday tier 4 call shapes (round 12, second pass) ———
    // extract/extractAll: CH takes the FIRST CAPTURE GROUP when the
    // pattern declares one, the whole match otherwise — the group
    // choice needs the literal pattern bytes (computed patterns refuse;
    // the regex-dialect guard applies, same stance as match)
    // does the literal pattern declare a CAPTURE group? A character-wise
    // scan, not a regex sniff (round-13 ADVICE fix): backslash-escaped
    // parens and parens inside character classes are NOT groups — the
    // old '\\((?!\\?)' sniff counted them and made regexp_extract throw
    // at runtime on group index 1 of a 0-group pattern
    def hasCaptureGroup(pat: String): Boolean = {
      var i = 0
      var inClass = false
      while (i < pat.length) {
        pat.charAt(i) match {
          case '\\' => i += 1 // skip the escaped char
          case '[' if !inClass => inClass = true
          case ']' if inClass => inClass = false
          case '(' if !inClass =>
            if (i + 1 >= pat.length || pat.charAt(i + 1) != '?') return true
          case _ =>
        }
        i += 1
      }
      false
    }
    // the masked literal is SQL-SOURCE text; the regex engine sees the
    // parser-unescaped VALUE ('a\\(b' source → a\(b value), so the scan
    // must unescape first — Spark's rule: known controls map, any other
    // backslash-pair drops the backslash
    def sqlUnescape(raw: String): String = {
      val b = new StringBuilder
      var i = 0
      while (i < raw.length) {
        val c = raw.charAt(i)
        if (c == '\\' && i + 1 < raw.length) {
          b += (raw.charAt(i + 1) match {
            case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
            case 'b' => '\b'
            case other => other
          })
          i += 2
        } else { b += c; i += 1 }
      }
      b.toString
    }
    def regexGroupIdx(fn: String, tok: String): Int =
      maskedLiteral(tok, literals) match {
        case Some(pat) =>
          guardRegex(fn, tok)
          if (hasCaptureGroup(sqlUnescape(pat))) 1 else 0
        case None => throw new IllegalArgumentException(
          s"$fn: the pattern must be a string literal (the whole-match-" +
            "vs-first-group choice inspects it)")
      }
    s = rewriteCall(s, "extractAll", {
      case List(h, p) =>
        s"regexp_extract_all($h, $p, ${regexGroupIdx("extractAll", p)})"
      case args => throw new IllegalArgumentException(
        s"extractAll expects (haystack, 'pattern'), got ${args.length}")
    })
    s = rewriteCall(s, "extract", {
      // the ANSI datetime-field form (extract(YEAR FROM ts)) — native
      // to both engines, passes through
      case List(single)
          if "(?i)\\s+FROM\\s+".r.findFirstIn(single).isDefined =>
        s"extract($single)"
      case List(h, p) =>
        s"regexp_extract($h, $p, ${regexGroupIdx("extract", p)})"
      case args => throw new IllegalArgumentException(
        s"extract expects (haystack, 'pattern') or (field FROM ts), " +
          s"got ${args.length}")
    })
    s = rewriteCall(s, "multiSearchAny", {
      case List(h, arr) => s"exists($arr, __n -> locate(__n, $h) > 0)"
      case args => throw new IllegalArgumentException(
        s"multiSearchAny expects (haystack, [needles…]), got ${args.length}")
    })
    // occurrence count via remove-and-measure (h inlined twice, n three
    // times — pass columns, not expensive expressions)
    s = rewriteCall(s, "countSubstrings", {
      case List(h, n) =>
        s"((length($h) - length(replace($h, $n))) DIV length($n))"
      case args => throw new IllegalArgumentException(
        s"countSubstrings expects (haystack, needle), got ${args.length}")
    })
    s = rewriteCall(s, "base64Encode", {
      case List(x) => s"base64(CAST($x AS BINARY))"
      case args => throw new IllegalArgumentException(
        s"base64Encode expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "base64Decode", {
      case List(x) => s"CAST(unbase64($x) AS STRING)"
      case args => throw new IllegalArgumentException(
        s"base64Decode expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "splitByWhitespace", {
      case List(x) => s"filter(split($x, '\\\\s+'), __t -> __t <> '')"
      case args => throw new IllegalArgumentException(
        s"splitByWhitespace expects 1 argument, got ${args.length}")
    })
    // format('{} and {}', …) → format_string: the {}-mask literal
    // translates IN ITS SLOT ({} → %s, {N} → %(N+1)$s, % → %% — the
    // formatDateTime discipline, once per slot)
    s = rewriteCall(s, "format", {
      case f :: rest if rest.nonEmpty =>
        val tok = wtrim(f)
        val sentRe = (Sentinel + "(\\d+)" + Sentinel).r
        val idx = sentRe.findFirstMatchIn(tok) match {
          case Some(sm) if sm.matched == tok => sm.group(1).toInt
          case _ => throw new IllegalArgumentException(
            "format: the pattern argument must be a string literal")
        }
        if (translatedSlots.add(idx)) {
          val raw = literals(idx)
          val content = raw.substring(1, raw.length - 1).replace("''", "'")
          val sb = new StringBuilder
          var i = 0
          while (i < content.length) {
            val c = content.charAt(i)
            if (c == '{') {
              val close = content.indexOf('}', i)
              require(close > i, s"format: unbalanced '{' in '$content'")
              val inner = content.substring(i + 1, close)
              if (inner.isEmpty) sb.append("%s")
              else {
                require(inner.forall(_.isDigit),
                  s"format: unsupported placeholder '{$inner}'")
                sb.append('%').append(inner.toInt + 1).append("$s")
              }
              i = close + 1
            } else if (c == '%') { sb.append("%%"); i += 1 }
            else { sb.append(c); i += 1 }
          }
          literals(idx) = "'" + sb.toString.replace("'", "''") + "'"
        }
        s"format_string($tok, ${rest.mkString(", ")})"
      case args => throw new IllegalArgumentException(
        s"format expects ('pattern', arg…), got ${args.length} argument(s)")
    })
    Seq("positionCaseInsensitiveUTF8", "positionCaseInsensitive")
      .foreach { fn =>
        s = rewriteCall(s, fn, {
          case List(h, n) => s"locate(lower($n), lower($h))"
          case args => throw new IllegalArgumentException(
            s"$fn expects (haystack, needle), got ${args.length}")
        })
      }
    s = rewriteCall(s, "positionUTF8", {
      case List(h, n) => s"locate($n, $h)"
      case args => throw new IllegalArgumentException(
        s"positionUTF8 expects (haystack, needle), got ${args.length}")
    })
    // STRING-JSON door (the Variant door is JSONExtract* above):
    // simpleJSON*/visitParam* are CH's fast non-strict scanners — here
    // they parse strictly via get_json_object (a document the scanner
    // would mis-slice parses correctly instead; divergence is one-way).
    // CH returns the TYPE DEFAULT on a miss — hence the coalesce.
    Seq(("simpleJSONExtractString", "string", "''"),
      ("visitParamExtractString", "string", "''"),
      ("simpleJSONExtractInt", "bigint", "0"),
      ("visitParamExtractInt", "bigint", "0"),
      ("simpleJSONExtractUInt", "bigint", "0"),
      ("visitParamExtractUInt", "bigint", "0"),
      ("simpleJSONExtractFloat", "double", "0.0"),
      ("visitParamExtractFloat", "double", "0.0"),
      ("simpleJSONExtractBool", "boolean", "false"),
      ("visitParamExtractBool", "boolean", "false")).foreach {
      case (fn, ty, dflt) =>
        s = rewriteCall(s, fn, {
          case List(j, k) =>
            s"coalesce(CAST(get_json_object($j, concat('$$.', " +
              s"${k.strip()})) AS $ty), $dflt)"
          case args => throw new IllegalArgumentException(
            s"$fn expects (json, key), got ${args.length}")
        })
    }
    s = rewriteCall(s, "JSONHas", {
      case json :: keys if keys.nonEmpty =>
        val path = keys.map(_.strip()).mkString(", '.', ")
        s"(get_json_object($json, concat('$$.', $path)) IS NOT NULL)"
      case args => throw new IllegalArgumentException(
        s"JSONHas expects (json, key…), got ${args.length} argument(s)")
    })
    s = rewriteCall(s, "JSONLength", {
      case json :: keys =>
        val e =
          if (keys.isEmpty) json
          else s"get_json_object($json, concat('$$.', " +
            s"${keys.map(_.strip()).mkString(", '.', ")}))"
        s"coalesce(json_array_length($e), size(json_object_keys($e)), 0)"
      case args => throw new IllegalArgumentException(
        s"JSONLength expects (json[, key…]), got ${args.length} argument(s)")
    })
    // ---- aggregate-combinator tier (round 13) ---------------------------
    // State/Merge as TEXT — the ClickHouse MV idiom (partial states in a
    // SELECT, merges over stored states), mapped to this engine's own
    // partial forms: uniq's state is the HLL sketch binary (the
    // agg_hll_merge machinery); sum/min/max states ARE their values
    // (merging = re-aggregating); count's merge is a SUM of partials;
    // avg's state is the (sum, count) pair.
    s = rewriteCall(s, "uniqState",
      args => s"hll_sketch_agg(${args.mkString(", ")})")
    s = rewriteCall(s, "uniqMerge", {
      case List(st) => s"hll_sketch_estimate(hll_union_agg($st))"
      case args => throw new IllegalArgumentException(
        s"uniqMerge expects 1 state column, got ${args.length}")
    })
    Seq("sumState" -> "sum", "sumMerge" -> "sum",
      "minState" -> "min", "minMerge" -> "min",
      "maxState" -> "max", "maxMerge" -> "max",
      "countState" -> "count", "countMerge" -> "sum").foreach {
      case (fn, base) =>
        s = rewriteCall(s, fn, args => s"$base(${args.mkString(", ")})")
    }
    s = rewriteCall(s, "avgState", {
      case List(x) => s"named_struct('s', sum($x), 'c', count($x))"
      case args => throw new IllegalArgumentException(
        s"avgState expects 1 argument, got ${args.length}")
    })
    // -StateIf: the combinators compose — state over the CASE filter
    Seq("sumStateIf" -> "sum", "minStateIf" -> "min",
      "maxStateIf" -> "max", "countStateIf" -> "count").foreach {
      case (fn, base) =>
        s = rewriteCall(s, fn, {
          case List(x, cond) => s"$base(CASE WHEN $cond THEN $x END)"
          case args => throw new IllegalArgumentException(
            s"$fn expects (x, cond), got ${args.length}")
        })
    }
    s = rewriteCall(s, "uniqStateIf", {
      case List(x, cond) => s"hll_sketch_agg(CASE WHEN $cond THEN $x END)"
      case args => throw new IllegalArgumentException(
        s"uniqStateIf expects (x, cond), got ${args.length}")
    })
    s = rewriteCall(s, "avgStateIf", {
      case List(x, cond) =>
        s"named_struct('s', sum(CASE WHEN $cond THEN $x END), " +
          s"'c', count(CASE WHEN $cond THEN $x END))"
      case args => throw new IllegalArgumentException(
        s"avgStateIf expects (x, cond), got ${args.length}")
    })
    // MySQL-spelling alias CH accepts: same sorted-join lowering as
    // groupConcat (the determinism stance)
    s = rewriteCall(s, "GROUP_CONCAT", {
      case List(x) =>
        s"array_join(sort_array(collect_list(CAST($x AS STRING))), '')"
      case args => throw new IllegalArgumentException(
        s"GROUP_CONCAT expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "avgMerge", {
      case List(st) => s"(sum(($st).s) / sum(($st).c))"
      case args => throw new IllegalArgumentException(
        s"avgMerge expects 1 state column, got ${args.length}")
    })
    // the remaining everyday -If spellings (the CASE-filter family)
    s = rewriteCall(s, "countDistinctIf", {
      case args if args.length >= 2 =>
        val cond = args.last
        s"count(DISTINCT ${args.init.map(a =>
          s"CASE WHEN $cond THEN $a END").mkString(", ")})"
      case args => throw new IllegalArgumentException(
        s"countDistinctIf expects (x…, cond), got ${args.length}")
    })
    Seq("argMinIf" -> "min_by", "argMaxIf" -> "max_by").foreach {
      case (fn, base) =>
        s = rewriteCall(s, fn, {
          case List(x, y, cond) =>
            // null ordering values are skipped by min_by/max_by, so the
            // CASE filter composes exactly like the scalar -If family
            s"$base(CASE WHEN $cond THEN $x END, " +
              s"CASE WHEN $cond THEN $y END)"
          case args => throw new IllegalArgumentException(
            s"$fn expects (x, ord, cond), got ${args.length}")
        })
    }
    s = rewriteCall(s, "medianIf", {
      case List(x, cond) => s"percentile(CASE WHEN $cond THEN $x END, 0.5)"
      case args => throw new IllegalArgumentException(
        s"medianIf expects (x, cond), got ${args.length}")
    })
    s = rewriteParamAgg(s, "quantileIf") { (ps, args) =>
      require(ps.length == 1 && args.length == 2,
        "quantileIf(q)(x, cond)")
      s"percentile(CASE WHEN ${args(1)} THEN ${args.head} END, ${ps.head})"
    }
    // -Distinct / -OrNull: DISTINCT is native inside Spark aggregates;
    // Spark's sum/min/max/avg/any_value already return NULL on the
    // empty set, which IS the -OrNull contract
    s = rewriteCall(s, "sumDistinct",
      args => s"sum(DISTINCT ${args.mkString(", ")})")
    s = rewriteCall(s, "avgDistinct",
      args => s"avg(DISTINCT ${args.mkString(", ")})")
    Seq("sumOrNull" -> "sum", "minOrNull" -> "min", "maxOrNull" -> "max",
      "avgOrNull" -> "avg", "anyOrNull" -> "any_value",
      "anyLastOrNull" -> "any_value").foreach { case (fn, base) =>
      s = rewriteCall(s, fn, args => s"$base(${args.mkString(", ")})")
    }
    s = rewriteCall(s, "medianOrNull",
      args => s"percentile(${args.mkString(", ")}, 0.5)")
    // -Array: the aggregate over every ELEMENT of the rows' arrays
    s = rewriteCall(s, "sumArray", {
      case List(a) => s"sum(${arrAggSum(a)})"
      case args => throw new IllegalArgumentException(
        s"sumArray expects 1 array column, got ${args.length}")
    })
    s = rewriteCall(s, "minArray", {
      case List(a) => s"min(array_min($a))"
      case args => throw new IllegalArgumentException(
        s"minArray expects 1 array column, got ${args.length}")
    })
    s = rewriteCall(s, "maxArray", {
      case List(a) => s"max(array_max($a))"
      case args => throw new IllegalArgumentException(
        s"maxArray expects 1 array column, got ${args.length}")
    })
    s = rewriteCall(s, "countArray", {
      case List(a) => s"sum(size($a))"
      case args => throw new IllegalArgumentException(
        s"countArray expects 1 array column, got ${args.length}")
    })
    s = rewriteCall(s, "avgArray", {
      case List(a) => s"(sum(${arrAggSum(a)}) / sum(size($a)))"
      case args => throw new IllegalArgumentException(
        s"avgArray expects 1 array column, got ${args.length}")
    })

    // ---- everyday tier 5 (round-13 audit sweep) -------------------------
    // JSONExtractRaw/Keys/ArrayRaw: raw-TEXT extraction is string-shaped,
    // so these ride the string door — the CAST(x AS STRING) front makes
    // them accept BOTH String and JSON/Variant inputs (a variant renders
    // its canonical JSON text; a string is a no-op cast). The typed
    // JSONExtract* family stays on the Variant door above.
    s = rewriteCall(s, "JSONExtractRaw", {
      case json :: keys if keys.nonEmpty =>
        val path = keys.map(_.strip()).mkString(", '.', ")
        s"get_json_object(CAST($json AS STRING), concat('$$.', $path))"
      case args => throw new IllegalArgumentException(
        s"JSONExtractRaw expects (json, key…), got ${args.length}")
    })
    s = rewriteCall(s, "JSONExtractKeys", {
      case json :: keys =>
        val e =
          if (keys.isEmpty) s"CAST($json AS STRING)"
          else s"get_json_object(CAST($json AS STRING), concat('$$.', " +
            s"${keys.map(_.strip()).mkString(", '.', ")}))"
        s"json_object_keys($e)"
      case Nil => throw new IllegalArgumentException(
        "JSONExtractKeys expects (json[, key…])")
    })
    s = rewriteCall(s, "JSONExtractArrayRaw", {
      case json :: keys =>
        val e =
          if (keys.isEmpty) s"CAST($json AS STRING)"
          else s"get_json_object(CAST($json AS STRING), concat('$$.', " +
            s"${keys.map(_.strip()).mkString(", '.', ")}))"
        // sequence(0, -1) DESCENDS in Spark — the empty/missing case
        // must short-circuit to array() before the index walk.
        // DIVERGENCE: scalar STRING elements render unquoted (s, not
        // "s") — get_json_object's scalar contract; objects/arrays/
        // numbers come back as raw text like CH's
        s"(CASE WHEN coalesce(json_array_length($e), 0) > 0 THEN " +
          s"transform(sequence(0, json_array_length($e) - 1), " +
          s"__i -> get_json_object($e, concat('$$[', CAST(__i AS STRING), " +
          s"']'))) ELSE array() END)"
      case Nil => throw new IllegalArgumentException(
        "JSONExtractArrayRaw expects (json[, key…])")
    })
    // addDate/subDate: the interval spellings of the add/subtract family
    s = rewriteCall(s, "addDate", {
      case List(d0, iv) => s"($d0 + $iv)"
      case args => throw new IllegalArgumentException(
        s"addDate expects (date, INTERVAL…), got ${args.length}")
    })
    s = rewriteCall(s, "subDate", {
      case List(d0, iv) => s"($d0 - $iv)"
      case args => throw new IllegalArgumentException(
        s"subDate expects (date, INTERVAL…), got ${args.length}")
    })
    s = rewriteCall(s, "toMillisecond",
      args => s"CAST(date_format(${args.mkString(", ")}, 'SSS') AS INT)")
    // order-dependent scan functions: the deltaSum stance — refuse
    // loudly, name the window form with its explicit ordering
    Seq(
      "runningDifference" -> ("use value - lag(value) OVER (ORDER BY …) " +
        "— the window form makes the ordering explicit"),
      "runningAccumulate" -> ("use sum(…) OVER (ORDER BY … ROWS " +
        "UNBOUNDED PRECEDING) — the window form makes the ordering " +
        "explicit"),
      "neighbor" -> "use lag/lead(value, n) OVER (ORDER BY …)")
      .foreach { case (fn, alt) =>
        s = rewriteCall(s, fn, _ => throw new IllegalArgumentException(
          s"$fn: block-order dependent in ClickHouse with no " +
            s"deterministic SQL twin — $alt"))
      }
    // map HOFs: CH is lambda-first, Spark map-first; mapUpdate's
    // right-bias spells out as drop-overridden-then-concat
    s = rewriteCall(s, "mapFilter", {
      case List(lam, m) => s"map_filter($m, $lam)"
      case args => throw new IllegalArgumentException(
        s"mapFilter expects ((k, v) -> pred, map), got ${args.length}")
    })
    s = rewriteCall(s, "mapUpdate", {
      case List(m1, m2) =>
        s"map_concat(map_filter($m1, (__k, __v) -> " +
          s"NOT array_contains(map_keys($m2), __k)), $m2)"
      case args => throw new IllegalArgumentException(
        s"mapUpdate expects (map, map), got ${args.length}")
    })
    s = rewriteCall(s, "mapApply", _ => throw new IllegalArgumentException(
      "mapApply: the tuple-returning lambda has no textual split here — " +
        "use transform_keys / transform_values (Spark's native map HOFs)"))
    // array math tier: folds over the Spark HOFs (interpreted — fine for
    // per-row small arrays; hot vector paths use the posexplode
    // operators in graft.operators.Similarity)
    s = rewriteCall(s, "arrayProduct", {
      case List(a) => s"aggregate($a, CAST(1.0 AS DOUBLE), " +
        s"(__s, __e) -> __s * CAST(__e AS DOUBLE))"
      case args => throw new IllegalArgumentException(
        s"arrayProduct expects 1 array, got ${args.length}")
    })
    s = rewriteCall(s, "arrayFold", {
      case List(lam, arr, init) => s"aggregate($arr, $init, $lam)"
      case args => throw new IllegalArgumentException(
        s"arrayFold expects ((acc, x) -> …, array, init), got ${args.length}")
    })
    s = rewriteCall(s, "dotProduct", {
      case List(a, b) =>
        s"aggregate(zip_with($a, $b, (__x, __y) -> " +
          s"CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE)), " +
          s"CAST(0.0 AS DOUBLE), (__s, __e) -> __s + __e)"
      case args => throw new IllegalArgumentException(
        s"dotProduct expects 2 arrays, got ${args.length}")
    })
    s = rewriteCall(s, "L1Norm", {
      case List(a) => s"aggregate($a, CAST(0.0 AS DOUBLE), " +
        s"(__s, __e) -> __s + abs(CAST(__e AS DOUBLE)))"
      case args => throw new IllegalArgumentException(
        s"L1Norm expects 1 array, got ${args.length}")
    })
    s = rewriteCall(s, "L2Norm", {
      case List(a) => s"sqrt(aggregate($a, CAST(0.0 AS DOUBLE), " +
        s"(__s, __e) -> __s + CAST(__e AS DOUBLE) * CAST(__e AS DOUBLE)))"
      case args => throw new IllegalArgumentException(
        s"L2Norm expects 1 array, got ${args.length}")
    })
    s = rewriteCall(s, "cosineDistance", {
      case List(a, b) =>
        def dot(x: String, y: String) =
          s"aggregate(zip_with($x, $y, (__x, __y) -> " +
            s"CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE)), " +
            s"CAST(0.0 AS DOUBLE), (__s, __e) -> __s + __e)"
        s"(1.0 - ${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
      case args => throw new IllegalArgumentException(
        s"cosineDistance expects 2 arrays, got ${args.length}")
    })
    // multi-needle search
    s = rewriteCall(s, "multiMatchAny", {
      case List(h, pats) => s"exists($pats, __p -> $h RLIKE __p)"
      case args => throw new IllegalArgumentException(
        s"multiMatchAny expects (haystack, [patterns]), got ${args.length}")
    })
    s = rewriteCall(s, "multiSearchFirstIndex", {
      case List(h, needles) =>
        // CH returns the index of the needle whose occurrence is
        // LEFTMOST in the haystack (not the first needle that matches
        // anywhere); ties on position resolve to the lower index —
        // array_position finds the first element equal to the min
        def positions = s"transform($needles, __n -> locate(__n, $h))"
        s"CAST(coalesce(array_position($positions, " +
          s"array_min(filter($positions, __p -> __p > 0))), 0) AS INT)"
      case args => throw new IllegalArgumentException(
        s"multiSearchFirstIndex expects (haystack, [needles]), got ${args.length}")
    })
    s = rewriteCall(s, "countMatches", {
      case List(h, p) =>
        guardRegex("countMatches", p)
        s"size(regexp_extract_all($h, $p, 0))"
      case args => throw new IllegalArgumentException(
        s"countMatches expects (haystack, 'pattern'), got ${args.length}")
    })
    // renames
    s = rewriteCall(s, "substringIndex",
      args => s"substring_index(${args.mkString(", ")})")
    s = rewriteCall(s, "initcapUTF8",
      args => s"initcap(${args.mkString(", ")})")
    s = rewriteCall(s, "lagInFrame",
      args => s"lag(${args.mkString(", ")})")
    s = rewriteCall(s, "leadInFrame",
      args => s"lead(${args.mkString(", ")})")
    s = rewriteCall(s, "exp2",
      args => s"power(CAST(2.0 AS DOUBLE), ${args.mkString(", ")})")
    // uniqUpTo(N)(x): exact distinct count saturating at N+1 — CH's own
    // return contract (the memory bound is CH-internal; count(DISTINCT)
    // is this engine's exact path)
    s = rewriteParamAgg(s, "uniqUpTo") { (ps, args) =>
      require(ps.length == 1 && ps.head.trim.matches("\\d+"),
        "uniqUpTo(N)(x): N must be an integer literal")
      require(args.nonEmpty, "uniqUpTo(N)(x…): needs an expression")
      s"least(count(DISTINCT ${args.mkString(", ")}), ${ps.head.trim} + 1)"
    }
    // ---- everyday tier 6b (round-13 third audit) ------------------------
    // arrayStringConcat: the 1-arg form joins with the empty separator
    s = rewriteCall(s, "arrayStringConcat", {
      case List(a) => s"array_join($a, '')"
      case List(a, sep) => s"array_join($a, $sep)"
      case args => throw new IllegalArgumentException(
        s"arrayStringConcat expects (arr[, sep]), got ${args.length}")
    })
    // indexHint evaluates its predicate here (CH skips granules and
    // returns a SUPERSET; an exact filter is the deterministic choice —
    // documented divergence: never MORE rows than CH, never fewer than
    // the predicate names)
    s = rewriteCall(s, "indexHint",
      args => s"(${args.mkString(", ")})")
    // Monday of ISO week 1 = the week containing Jan 4 of the ISO year
    s = rewriteCall(s, "toStartOfISOYear", {
      case List(x) =>
        s"CAST(date_trunc('week', make_date(year(date_add(" +
          s"date_trunc('week', $x), 3)), 1, 4)) AS DATE)"
      case args => throw new IllegalArgumentException(
        s"toStartOfISOYear expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "startsWithUTF8",
      args => s"startswith(${args.mkString(", ")})")
    s = rewriteCall(s, "endsWithUTF8",
      args => s"endswith(${args.mkString(", ")})")
    // the unit form of date_sub (the 2-arg day form is native Spark and
    // passes through; a Date input widens to TIMESTAMP — the X129 stance)
    s = rewriteCall(s, "date_sub", {
      case List(u, n, d0)
          if "(?i)^(YEAR|QUARTER|MONTH|WEEK|DAY|HOUR|MINUTE|SECOND)$".r
            .findFirstIn(u.trim).isDefined =>
        s"timestampadd(${u.trim}, -($n), $d0)"
      case args => s"date_sub(${args.mkString(", ")})"
    })
    // NULL-vs-default stance: CH's single element is the TYPE DEFAULT;
    // a lineage-typed NULL is this engine's documented analog
    s = rewriteCall(s, "emptyArrayToSingle", {
      case List(a) =>
        s"(CASE WHEN size($a) = 0 THEN array(try_element_at($a, 1)) " +
          s"ELSE $a END)"
      case args => throw new IllegalArgumentException(
        s"emptyArrayToSingle expects 1 array, got ${args.length}")
    })
    s = rewriteCall(s, "positiveModulo",
      args => s"pmod(${args.mkString(", ")})")
    s = rewriteCall(s, "intExp2", {
      case List(n) => s"shiftleft(CAST(1 AS BIGINT), $n)"
      case args => throw new IllegalArgumentException(
        s"intExp2 expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "intExp10", {
      case List(n) => s"CAST(round(power(10.0, $n)) AS BIGINT)"
      case args => throw new IllegalArgumentException(
        s"intExp10 expects 1 argument, got ${args.length}")
    })

    // ---- everyday tier 6 (round-13 second audit) ------------------------
    // session introspection scalars: UTC sessions, no login identity
    s = cachedRe("(?i)\\btimeZone\\(\\s*\\)").replaceAllIn(s, _ => "'UTC'")
    // bare rand()/rand64(): CH's contracts are uniform UInt32 / UInt64
    // INTEGERS — Spark's rand() is the [0,1) double (that is CH's
    // randCanonical, mapped below). Passing rand() through unchanged
    // would silently swap a 0..2^32 integer for a 0..1 double, so the
    // integer contracts lower explicitly. rand64 carries the 53 bits of
    // one double draw spread over the signed-64 range (CH's value is
    // fully random in 64 bits — documented entropy divergence; the
    // BUCKETING role, `ORDER BY rand()` sampling, is unaffected).
    // MUST run before the randCanonical lowering below emits `rand()`.
    s = cachedRe("(?i)\\brand\\(\\s*\\)").replaceAllIn(s,
      _ => "CAST(floor(rand() * 4294967296.0D) AS BIGINT)")
    s = cachedRe("(?i)\\brand64\\(\\s*\\)").replaceAllIn(s,
      _ => "CAST(floor((rand() - 0.5D) * 1.8446744073709552E19) AS BIGINT)")
    s = rewriteCall(s, "randUniform", {
      case List(lo, hi) => s"(($lo) + rand() * (($hi) - ($lo)))"
      case args => throw new IllegalArgumentException(
        s"randUniform expects (min, max), got ${args.length}")
    })
    s = cachedRe("(?i)\\brandCanonical\\(\\s*\\)")
      .replaceAllIn(s, _ => "rand()")
    // toTypeName renders SPARK type names (int/bigint/string…), not CH
    // names — documented divergence (the value is runtime-computed, so
    // no textual reverse map can apply)
    s = rewriteCall(s, "toTypeName",
      args => s"typeof(${args.mkString(", ")})")
    s = rewriteCall(s, "isZeroOrNull", {
      case List(x) => s"(($x) = 0 OR ($x) IS NULL)"
      case args => throw new IllegalArgumentException(
        s"isZeroOrNull expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "concatAssumeInjective",
      args => s"concat(${args.mkString(", ")})")
    // now('tz'): the same instant rendered in tz (UTC sessions — the
    // toTimeZone wall-clock stance)
    s = rewriteCall(s, "now", {
      case Nil | List("") => "current_timestamp()"
      case List(tz) =>
        s"convert_timezone('UTC', $tz, current_timestamp())"
      case args => throw new IllegalArgumentException(
        s"now expects 0-1 arguments, got ${args.length}")
    })
    // bitmaskToList(n): the ascending powers of two in n, CH's
    // comma-joined string
    s = rewriteCall(s, "bitmaskToList", {
      case List(n) =>
        s"array_join(filter(transform(sequence(0, 62), __i -> " +
          s"CASE WHEN (($n) & shiftleft(CAST(1 AS BIGINT), __i)) != 0 " +
          s"THEN CAST(shiftleft(CAST(1 AS BIGINT), __i) AS STRING) END), " +
          s"__x -> __x IS NOT NULL), ',')"
      case args => throw new IllegalArgumentException(
        s"bitmaskToList expects 1 argument, got ${args.length}")
    })
    // toWeek/toYearWeek: ISO mode (3) only — the default mode 0
    // (Sunday-first, week 0..53) has no Spark twin and silently
    // diverging week numbers are worse than a refusal
    s = rewriteCall(s, "toWeek", {
      case List(d0, mode) if mode.trim == "3" => s"weekofyear($d0)"
      case _ => throw new IllegalArgumentException(
        "toWeek: only the ISO mode lowers (toWeek(d, 3) or " +
          "toISOWeek(d)) — mode 0's Sunday-first week 0..53 numbering " +
          "has no Spark twin")
    })
    s = rewriteCall(s, "toYearWeek", {
      case List(d0, mode) if mode.trim == "3" =>
        s"(year(date_add(date_trunc('week', $d0), 3)) * 100 + " +
          s"weekofyear($d0))"
      case _ => throw new IllegalArgumentException(
        "toYearWeek: only the ISO mode lowers (toYearWeek(d, 3)) — " +
          "mode 0 has no Spark twin")
    })
    // arrayEnumerateUniq: 1-based occurrence ordinal of each element
    // among its equals so far (O(n²) per row — per-row small arrays)
    s = rewriteCall(s, "arrayEnumerateUniq", {
      case List(a) =>
        s"transform(sequence(1, size($a)), __i -> " +
          s"size(filter(slice($a, 1, __i), " +
          s"__x -> __x = element_at($a, __i))))"
      case args => throw new IllegalArgumentException(
        s"arrayEnumerateUniq expects 1 array, got ${args.length}")
    })
    // groupArraySorted(N)(x): the N smallest values in order —
    // deterministic by construction (sorted), unlike groupArray
    s = rewriteParamAgg(s, "groupArraySorted") { (ps, args) =>
      require(ps.length == 1 && ps.head.trim.matches("\\d+"),
        "groupArraySorted(N)(x): N must be an integer literal")
      require(args.length == 1, "groupArraySorted(N)(x): one expression")
      s"slice(sort_array(collect_list(${args.head})), 1, ${ps.head.trim})"
    }
    // no-op wrappers: type-level nullability doesn't exist in Spark SQL
    // text (assumeNotNull on an actual NULL is undefined in CH too);
    // identity/materialize are optimizer hints with nothing to hint
    Seq("assumeNotNull", "toNullable", "identity", "materialize")
      .foreach { fn =>
        s = rewriteCall(s, fn, {
          case List(x) => s"($x)"
          case args => throw new IllegalArgumentException(
            s"$fn expects 1 argument, got ${args.length}")
        })
      }
    s = rewriteCall(s, "ignore", _ => "0")
    // aggregate shapes
    s = rewriteCall(s, "avgWeighted", {
      case List(x, w) => s"(sum(($x) * ($w)) / sum($w))"
      case args => throw new IllegalArgumentException(
        s"avgWeighted expects (x, weight), got ${args.length}")
    })
    s = rewriteCall(s, "sumCount", {
      case List(x) => s"named_struct('sum', sum($x), 'count', count($x))"
      case args => throw new IllegalArgumentException(
        s"sumCount expects 1 argument, got ${args.length}")
    })
    // sumMap/minMap/maxMap → the MapCombine aggregates (key-wise merge,
    // sorted keys — CH's contract). Input normalizes to MAP<STRING,
    // DOUBLE>; the result is a MAP where CH's two-array form returns a
    // tuple of arrays — probe with map_keys/map_values for those
    Seq("sumMap" -> "ch_summap", "minMap" -> "ch_minmap",
      "maxMap" -> "ch_maxmap").foreach { case (fn, to) =>
      s = rewriteCall(s, fn, {
        case List(m) => s"$to(CAST($m AS MAP<STRING, DOUBLE>))"
        case List(k, v) =>
          s"$to(CAST(map_from_arrays($k, $v) AS MAP<STRING, DOUBLE>))"
        case args => throw new IllegalArgumentException(
          s"$fn expects (map) or (keys, values), got ${args.length}")
      })
    }
    // CH kurtPop is NON-EXCESS kurtosis (m4/m2²); Spark's kurtosis is
    // excess — shift back. kurtSamp/skewSamp have no Spark twin (the
    // bias-corrected forms need n-aware algebra) and refuse loudly.
    s = rewriteCall(s, "kurtPop", {
      case List(x) => s"(kurtosis($x) + 3.0D)"
      case args => throw new IllegalArgumentException(
        s"kurtPop expects 1 argument, got ${args.length}")
    })
    Seq("kurtSamp", "skewSamp").foreach { fn =>
      s = rewriteCall(s, fn, { _ =>
        throw new IllegalArgumentException(
          s"$fn: Spark has only the population moments — use " +
            (if (fn == "kurtSamp") "kurtPop" else "skewPop") +
            " or compute the bias correction explicitly")
      })
    }
    s = rewriteCall(s, "deltaSum", { _ =>
      throw new IllegalArgumentException(
        "deltaSum: block-order dependent in ClickHouse with no " +
          "deterministic SQL twin — use the agg_delta_sum operator shape " +
          "(explicit ordering) from graft.operators instead")
    })
    // date tier
    s = rewriteCall(s, "toMonday", {
      case List(x) => s"CAST(date_trunc('WEEK', $x) AS DATE)"
      case args => throw new IllegalArgumentException(
        s"toMonday expects 1 argument, got ${args.length}")
    })
    Seq("toRelativeDayNum" -> 86400L, "toRelativeHourNum" -> 3600L,
      "toRelativeMinuteNum" -> 60L, "toRelativeSecondNum" -> 1L)
      .foreach { case (fn, secs) =>
        s = rewriteCall(s, fn, {
          case List(x) =>
            if (secs == 1L) s"unix_timestamp($x)"
            else s"(unix_timestamp($x) DIV $secs)"
          case args => throw new IllegalArgumentException(
            s"$fn expects 1 argument, got ${args.length}")
        })
      }
    s = rewriteCall(s, "toYYYYMMDD", {
      case List(x) => s"CAST(date_format($x, 'yyyyMMdd') AS INT)"
      case args => throw new IllegalArgumentException(
        s"toYYYYMMDD expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "toYYYYMMDDhhmmss", {
      case List(x) => s"CAST(date_format($x, 'yyyyMMddHHmmss') AS BIGINT)"
      case args => throw new IllegalArgumentException(
        s"toYYYYMMDDhhmmss expects 1 argument, got ${args.length}")
    })
    // sub-second family: sessions run MICROSECOND timestamps (Spark's
    // native precision) — now64's precision argument is accepted and
    // ignored (micros is what you get), nanos multiply out
    s = rewriteCall(s, "now64", {
      case Nil | List(_) => "current_timestamp()"
      case args => throw new IllegalArgumentException(
        s"now64 expects 0-1 arguments, got ${args.length} " +
          "(the timezone form is not supported — session UTC)")
    })
    s = rewriteCall(s, "toDateTime64", {
      case List(x) => s"CAST($x AS TIMESTAMP)"
      case List(x, _) => s"CAST($x AS TIMESTAMP)"
      case args => throw new IllegalArgumentException(
        s"toDateTime64 expects (x[, precision]), got ${args.length} " +
          "(the timezone form is not supported — session UTC)")
    })
    s = rewriteCall(s, "toUnixTimestamp64Milli", {
      case List(x) => s"(unix_micros(CAST($x AS TIMESTAMP)) DIV 1000)"
      case args => throw new IllegalArgumentException(
        s"toUnixTimestamp64Milli expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "toUnixTimestamp64Micro", {
      case List(x) => s"unix_micros(CAST($x AS TIMESTAMP))"
      case args => throw new IllegalArgumentException(
        s"toUnixTimestamp64Micro expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "toUnixTimestamp64Nano", {
      case List(x) => s"(unix_micros(CAST($x AS TIMESTAMP)) * 1000)"
      case args => throw new IllegalArgumentException(
        s"toUnixTimestamp64Nano expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "fromUnixTimestamp64Milli", {
      case List(x) => s"timestamp_millis($x)"
      case args => throw new IllegalArgumentException(
        s"fromUnixTimestamp64Milli expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "fromUnixTimestamp64Micro", {
      case List(x) => s"timestamp_micros($x)"
      case args => throw new IllegalArgumentException(
        s"fromUnixTimestamp64Micro expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "dateName", {
      case List(u, x) => litArg(u, "dateName").toLowerCase match {
        case "year" => s"CAST(year($x) AS STRING)"
        case "quarter" => s"CAST(quarter($x) AS STRING)"
        case "month" => s"date_format($x, 'MMMM')"
        case "week" => s"CAST(weekofyear($x) AS STRING)"
        case "dayofyear" => s"CAST(dayofyear($x) AS STRING)"
        case "day" => s"CAST(dayofmonth($x) AS STRING)"
        case "weekday" => s"date_format($x, 'EEEE')"
        case "hour" => s"CAST(hour($x) AS STRING)"
        case "minute" => s"CAST(minute($x) AS STRING)"
        case "second" => s"CAST(second($x) AS STRING)"
        case other => throw new IllegalArgumentException(
          s"dateName: unsupported part '$other'")
      }
      case args => throw new IllegalArgumentException(
        s"dateName expects ('part', ts), got ${args.length}")
    })
    // CH toTime: the time-of-day re-based onto 1970-01-02
    s = rewriteCall(s, "toTime", {
      case List(x) => s"timestamp_seconds(86400 + (unix_timestamp($x) % 86400))"
      case args => throw new IllegalArgumentException(
        s"toTime expects 1 argument, got ${args.length}")
    })
    // type-conversion tier: Decimal widths by CH name, OrZero/OrNull
    // try_cast forms (OrZero's zero is CH's type default)
    Seq("toDecimal32" -> 9, "toDecimal64" -> 18, "toDecimal128" -> 38)
      .foreach { case (fn, p) =>
        s = rewriteCall(s, fn, {
          case List(x, sc) =>
            val scale = wtrim(sc)
            require(scale.matches("\\d+"),
              s"$fn(x, scale): the scale must be an integer literal")
            s"CAST($x AS DECIMAL($p, $scale))"
          case args => throw new IllegalArgumentException(
            s"$fn expects (x, scale), got ${args.length}")
        })
      }
    // UUIDs live as their canonical STRING spelling here (no UUID type)
    s = rewriteCall(s, "toUUID", {
      case List(x) => s"CAST($x AS STRING)"
      case args => throw new IllegalArgumentException(
        s"toUUID expects 1 argument, got ${args.length}")
    })
    Seq(("toInt8", "TINYINT", "CAST(0 AS TINYINT)"),
      ("toInt16", "SMALLINT", "CAST(0 AS SMALLINT)"),
      ("toInt32", "INT", "0"), ("toInt64", "BIGINT", "0L"),
      ("toUInt8", "SMALLINT", "CAST(0 AS SMALLINT)"),
      ("toUInt16", "INT", "0"), ("toUInt32", "BIGINT", "0L"),
      ("toUInt64", "BIGINT", "0L"),
      ("toFloat32", "FLOAT", "CAST(0 AS FLOAT)"),
      ("toFloat64", "DOUBLE", "0.0D"),
      ("toDate", "DATE", "DATE'1970-01-01'"),
      ("toDateTime", "TIMESTAMP", "TIMESTAMP'1970-01-01 00:00:00'"))
      .foreach { case (base, ty, zero) =>
        s = rewriteCall(s, base + "OrNull", {
          case List(x) => s"try_cast($x AS $ty)"
          case args => throw new IllegalArgumentException(
            s"${base}OrNull expects 1 argument, got ${args.length}")
        })
        s = rewriteCall(s, base + "OrZero", {
          case List(x) => s"coalesce(try_cast($x AS $ty), $zero)"
          case args => throw new IllegalArgumentException(
            s"${base}OrZero expects 1 argument, got ${args.length}")
        })
      }
    val chTypeMap = Map(
      "uint8" -> "SMALLINT", "uint16" -> "INT", "uint32" -> "BIGINT",
      "uint64" -> "BIGINT", "int8" -> "TINYINT", "int16" -> "SMALLINT",
      "int32" -> "INT", "int64" -> "BIGINT", "float32" -> "FLOAT",
      "float64" -> "DOUBLE", "string" -> "STRING", "date" -> "DATE",
      "datetime" -> "TIMESTAMP")
    def chTypeOf(fn: String, tok: String): String = {
      val t = maskedLiteral(tok, literals).getOrElse(
        throw new IllegalArgumentException(
          s"$fn: the type must be a string literal"))
      chTypeMap.getOrElse(t.toLowerCase, throw new IllegalArgumentException(
        s"$fn: unsupported type '$t' (supported: " +
          chTypeMap.keys.toSeq.sorted.mkString(", ") + ")"))
    }
    s = rewriteCall(s, "accurateCastOrNull", {
      case List(x, t) => s"try_cast($x AS ${chTypeOf("accurateCastOrNull", t)})"
      case args => throw new IllegalArgumentException(
        s"accurateCastOrNull expects (x, 'Type'), got ${args.length}")
    })
    s = rewriteCall(s, "accurateCast", {
      case List(x, t) => s"CAST($x AS ${chTypeOf("accurateCast", t)})"
      case args => throw new IllegalArgumentException(
        s"accurateCast expects (x, 'Type'), got ${args.length}")
    })
    // `CAST(x AS Float64)` / `CAST(x, 'Float64')` — CH type names inside
    // the CAST grammar itself (the `::` table's call-shaped sibling).
    // Only the type token after the LAST top-level ` AS ` translates;
    // Spark type names pass through untouched. Iterated to a fixpoint so
    // nested CASTs translate too (a pure rename converges immediately).
    // the type's parens may NEST (Nullable(LowCardinality(Int32))) —
    // two levels suffice for the wrapper algebra this dialect accepts
    val castAsRe = ("(?is)^(.+\\s+AS\\s+)([A-Za-z0-9_]+" +
      "(?:\\((?:[^()]|\\([^()]*\\))*\\))?)\\s*$").r
    def chCastType(tok: String): String = {
      val t = tok.trim
      val base = t.takeWhile(_ != '(').trim.toLowerCase
      def inner = {
        val o = t.indexOf('(')
        t.substring(o + 1, t.lastIndexOf(')')).trim
      }
      base match {
        case "enum8" | "enum16" => "STRING"
        case "datetime" | "datetime64" => "TIMESTAMP"
        // the parameterized wrappers (round 13): Nullable collapses —
        // every Spark type is nullable; LowCardinality is a storage
        // encoding, not a type; Array recurses; FixedString's width is
        // a storage property (the padded compare belongs to columns
        // DECLARED FixedString, not casts)
        case "nullable" | "lowcardinality" if t.contains('(') =>
          chCastType(inner)
        case "array" if t.contains('(') => s"ARRAY<${chCastType(inner)}>"
        case "fixedstring" => "STRING"
        case _ => chTypeMap.getOrElse(base, tok) // Spark names pass through
      }
    }
    def translateCasts(text: String): String = {
      val re = "(?i)\\bCAST\\s*\\(".r
      re.findFirstMatchIn(text) match {
        case None => text
        case Some(m) =>
          val (args0, end) = balancedArgs(text,
            text.indexOf('(', m.start))
          val args = args0.map(translateCasts) // nested CASTs translate too
          val repl = args match {
            case List(single) => single match {
              case castAsRe(head, ty) => s"CAST($head${chCastType(ty)})"
              case other => s"CAST($other)"
            }
            // CH's 2-argument CAST(x, 'Type') form — a non-literal second
            // piece is a comma inside an angle-bracket type (MAP<K, V>),
            // which balancedArgs can't see: reassemble untouched
            case List(x, t) if maskedLiteral(t, literals).isDefined =>
              s"CAST($x AS ${chTypeOf("CAST", t)})"
            case parts => s"CAST(${parts.mkString(", ")})"
          }
          text.substring(0, m.start) + repl + translateCasts(text.substring(end))
      }
    }
    s = translateCasts(s)
    // array tier (the argument is INLINED where noted — pass a column,
    // not an expensive expression)
    s = rewriteCall(s, "hasAll", {
      case List(a, b) => s"forall($b, __x -> array_contains($a, __x))"
      case args => throw new IllegalArgumentException(
        s"hasAll expects (set, subset), got ${args.length}")
    })
    // 2-arg pads with NULL (the NULL-vs-default stance: CH pads the
    // type default); the padded NULL is typed via an always-out-of-
    // bounds try_element_at
    s = rewriteCall(s, "arrayResize", {
      case List(a, n) =>
        s"(CASE WHEN size($a) >= ($n) THEN slice($a, 1, $n) " +
          s"ELSE concat($a, transform(sequence(1, ($n) - size($a)), " +
          s"__i -> try_element_at($a, size($a) + 1))) END)"
      case List(a, n, fill) =>
        s"(CASE WHEN size($a) >= ($n) THEN slice($a, 1, $n) " +
          s"ELSE concat($a, array_repeat($fill, CAST(($n) - size($a) AS INT))) END)"
      case args => throw new IllegalArgumentException(
        s"arrayResize expects (arr, n[, fill]), got ${args.length}")
    })
    s = rewriteCall(s, "arrayReverseSort", {
      case List(a) => s"reverse(array_sort($a))"
      case args => throw new IllegalArgumentException(
        s"arrayReverseSort: only the plain 1-array form lowers here " +
          s"(got ${args.length} args) — the sort-by-key lambda form has " +
          "no textual twin; sort by the key column instead")
    })
    // consecutive-duplicate removal: keep index 0 and every element
    // differing from its predecessor (null-safe <=>)
    s = rewriteCall(s, "arrayCompact", {
      case List(a) =>
        s"filter($a, (__x, __i) -> __i = 0 OR " +
          s"NOT (__x <=> element_at($a, __i)))"
      case args => throw new IllegalArgumentException(
        s"arrayCompact expects 1 array, got ${args.length}")
    })
    s = rewriteCall(s, "arrayPopBack", {
      case List(a) => s"slice($a, 1, greatest(size($a) - 1, 0))"
      case args => throw new IllegalArgumentException(
        s"arrayPopBack expects 1 array, got ${args.length}")
    })
    s = rewriteCall(s, "arrayPopFront", {
      case List(a) => s"(CASE WHEN size($a) <= 1 THEN slice($a, 1, 0) " +
        s"ELSE slice($a, 2, size($a) - 1) END)"
      case args => throw new IllegalArgumentException(
        s"arrayPopFront expects 1 array, got ${args.length}")
    })
    s = rewriteCall(s, "arrayReduce", {
      case List(aggTok, a) =>
        maskedLiteral(aggTok, literals).map(_.toLowerCase) match {
          case Some("sum") => arrAggSum(a)
          case Some("min") => s"array_min($a)"
          case Some("max") => s"array_max($a)"
          case Some("avg") =>
            s"(CASE WHEN size($a) = 0 THEN CAST(NULL AS DOUBLE) " +
              s"ELSE ${arrAggSum(a)} / size($a) END)"
          case Some("count") => s"size($a)"
          case Some("uniq") | Some("uniqexact") =>
            s"size(array_distinct($a))"
          case Some("any") => s"try_element_at($a, 1)"
          case Some(other) => throw new IllegalArgumentException(
            s"arrayReduce: unsupported aggregate '$other' (supported: " +
              "sum, min, max, avg, count, uniq, uniqExact, any)")
          case None => throw new IllegalArgumentException(
            "arrayReduce: the aggregate name must be a string literal")
        }
      case args => throw new IllegalArgumentException(
        s"arrayReduce expects ('agg', arr), got ${args.length}")
    })
    s = rewriteCall(s, "arrayRotateLeft", {
      case List(a, n) =>
        s"(CASE WHEN size($a) = 0 THEN $a ELSE " +
          s"concat(slice($a, CAST(pmod($n, size($a)) AS INT) + 1, size($a)), " +
          s"slice($a, 1, CAST(pmod($n, size($a)) AS INT))) END)"
      case args => throw new IllegalArgumentException(
        s"arrayRotateLeft expects (arr, n), got ${args.length}")
    })
    s = rewriteCall(s, "arrayRotateRight", {
      case List(a, n) =>
        s"(CASE WHEN size($a) = 0 THEN $a ELSE " +
          s"concat(slice($a, CAST(pmod(-($n), size($a)) AS INT) + 1, size($a)), " +
          s"slice($a, 1, CAST(pmod(-($n), size($a)) AS INT))) END)"
      case args => throw new IllegalArgumentException(
        s"arrayRotateRight expects (arr, n), got ${args.length}")
    })
    // last match / its 1-based position (NULL / 0 when none — the
    // NULL-vs-default stance, same as arrayFirst)
    s = rewriteCall(s, "arrayLastIndex", {
      case List(f, a) =>
        s"(CASE WHEN array_position(reverse(transform($a, $f)), true) = 0 " +
          s"THEN 0 ELSE size($a) + 1 - " +
          s"array_position(reverse(transform($a, $f)), true) END)"
      case args => throw new IllegalArgumentException(
        s"arrayLastIndex expects (lambda, arr), got ${args.length}")
    })
    s = rewriteCall(s, "arrayLast", {
      case List(f, a) => s"try_element_at(filter($a, $f), -1)"
      case args => throw new IllegalArgumentException(
        s"arrayLast expects (lambda, arr), got ${args.length}")
    })
    Seq("emptyArrayString" -> "STRING", "emptyArrayInt8" -> "TINYINT",
      "emptyArrayInt16" -> "SMALLINT", "emptyArrayInt32" -> "INT",
      "emptyArrayInt64" -> "BIGINT", "emptyArrayUInt8" -> "SMALLINT",
      "emptyArrayUInt16" -> "INT", "emptyArrayUInt32" -> "BIGINT",
      "emptyArrayUInt64" -> "BIGINT", "emptyArrayFloat32" -> "FLOAT",
      "emptyArrayFloat64" -> "DOUBLE", "emptyArrayDate" -> "DATE",
      "emptyArrayDateTime" -> "TIMESTAMP").foreach { case (fn, ty) =>
      s = cachedRe(s"(?i)\\b$fn\\(\\s*\\)").replaceAllIn(s,
        _ => s"CAST(array() AS ARRAY<$ty>)")
    }
    s = rewriteCall(s, "arrayWithConstant", {
      case List(n, x) => s"array_repeat($x, CAST($n AS INT))"
      case args => throw new IllegalArgumentException(
        s"arrayWithConstant expects (n, value), got ${args.length}")
    })
    s = rewriteCall(s, "arrayShingles", {
      case List(a, l) =>
        s"(CASE WHEN size($a) < ($l) THEN slice(transform($a, __x -> $a), 1, 0) " +
          s"ELSE transform(sequence(1, size($a) - ($l) + 1), " +
          s"__i -> slice($a, __i, $l)) END)"
      case args => throw new IllegalArgumentException(
        s"arrayShingles expects (arr, length), got ${args.length}")
    })
    // tuple/map tier: tuple() → struct() (fields col1…colN — CH's
    // positional contract); tupleElement resolves positions to those
    // names, string names to the field
    s = rewriteCall(s, "tupleElement", {
      case List(t, i) =>
        val tok = wtrim(i)
        if (tok.matches("\\d+")) s"($t).col$tok"
        else maskedLiteral(tok, literals) match {
          case Some(nm) => s"($t).$nm"
          case None => throw new IllegalArgumentException(
            "tupleElement: the index must be an integer or string literal")
        }
      case args => throw new IllegalArgumentException(
        s"tupleElement expects (tuple, index), got ${args.length}")
    })
    // key-union merge — exactly map_zip_with's contract
    s = rewriteCall(s, "mapAdd", {
      case List(m1, m2) =>
        s"map_zip_with($m1, $m2, (__k, __a, __b) -> " +
          "coalesce(__a, 0) + coalesce(__b, 0))"
      case args => throw new IllegalArgumentException(
        s"mapAdd expects exactly 2 maps here, got ${args.length}")
    })
    s = rewriteCall(s, "mapSubtract", {
      case List(m1, m2) =>
        s"map_zip_with($m1, $m2, (__k, __a, __b) -> " +
          "coalesce(__a, 0) - coalesce(__b, 0))"
      case args => throw new IllegalArgumentException(
        s"mapSubtract expects exactly 2 maps here, got ${args.length}")
    })
    // bit-operator call forms
    s = rewriteCall(s, "bitAnd", {
      case List(a, b) => s"(($a) & ($b))"
      case args => throw new IllegalArgumentException(
        s"bitAnd expects 2 arguments, got ${args.length}")
    })
    s = rewriteCall(s, "bitOr", {
      case List(a, b) => s"(($a) | ($b))"
      case args => throw new IllegalArgumentException(
        s"bitOr expects 2 arguments, got ${args.length}")
    })
    s = rewriteCall(s, "bitXor", {
      case List(a, b) => s"(($a) ^ ($b))"
      case args => throw new IllegalArgumentException(
        s"bitXor expects 2 arguments, got ${args.length}")
    })
    s = rewriteCall(s, "bitNot", {
      case List(x) => s"(~($x))"
      case args => throw new IllegalArgumentException(
        s"bitNot expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "bitTest", {
      case List(x, n) => s"(shiftright($x, CAST($n AS INT)) & 1)"
      case args => throw new IllegalArgumentException(
        s"bitTest expects (x, bit), got ${args.length}")
    })
    // math tier
    s = rewriteCall(s, "roundBankers", {
      case List(x) => s"rint($x)"
      case List(x, n) => s"(rint(($x) * power(10, $n)) / power(10, $n))"
      case args => throw new IllegalArgumentException(
        s"roundBankers expects (x[, places]), got ${args.length}")
    })
    s = rewriteCall(s, "intDivOrZero", {
      case List(a, b) => s"(CASE WHEN ($b) = 0 THEN 0 ELSE ($a) DIV ($b) END)"
      case args => throw new IllegalArgumentException(
        s"intDivOrZero expects 2 arguments, got ${args.length}")
    })
    s = rewriteCall(s, "moduloOrZero", {
      case List(a, b) => s"(CASE WHEN ($b) = 0 THEN 0 ELSE ($a) % ($b) END)"
      case args => throw new IllegalArgumentException(
        s"moduloOrZero expects 2 arguments, got ${args.length}")
    })
    Seq("plus" -> "+", "minus" -> "-", "multiply" -> "*", "divide" -> "/")
      .foreach { case (fn, op) =>
        s = rewriteCall(s, fn, {
          case List(a, b) => s"(($a) $op ($b))"
          case args => throw new IllegalArgumentException(
            s"$fn expects 2 arguments, got ${args.length}")
        })
      }
    s = rewriteCall(s, "negate", {
      case List(x) => s"(-($x))"
      case args => throw new IllegalArgumentException(
        s"negate expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "roundToExp2", {
      case List(x) =>
        s"(CASE WHEN ($x) < 1 THEN 0 " +
          s"ELSE CAST(pow(2, floor(log2($x))) AS BIGINT) END)"
      case args => throw new IllegalArgumentException(
        s"roundToExp2 expects 1 argument, got ${args.length}")
    })
    // CH's fixed rounding ladders (ops histogram buckets)
    s = rewriteCall(s, "roundDuration", {
      case List(x) =>
        val steps = Seq(36000L, 18000L, 7200L, 3600L, 1800L, 1200L, 600L,
          300L, 240L, 180L, 120L, 60L, 30L, 10L, 1L)
        s"(CASE ${steps.map(t => s"WHEN ($x) >= $t THEN $t").mkString(" ")} ELSE 0 END)"
      case args => throw new IllegalArgumentException(
        s"roundDuration expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "roundAge", {
      case List(x) =>
        s"(CASE WHEN ($x) >= 55 THEN 55 WHEN ($x) >= 45 THEN 45 " +
          s"WHEN ($x) >= 35 THEN 35 WHEN ($x) >= 25 THEN 25 " +
          s"WHEN ($x) >= 18 THEN 18 WHEN ($x) >= 1 THEN 17 ELSE 0 END)"
      case args => throw new IllegalArgumentException(
        s"roundAge expects 1 argument, got ${args.length}")
    })
    // encoding tier: CH bin() pads to whole bytes (Spark's trims);
    // char() is variadic in CH
    s = rewriteCall(s, "bin", {
      case List(x) =>
        s"lpad(bin($x), CAST(ceil(length(bin($x)) / 8.0) * 8 AS INT), '0')"
      case args => throw new IllegalArgumentException(
        s"bin expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "char", {
      case List(x) => s"char($x)"
      case args if args.length >= 2 =>
        s"concat(${args.map(a => s"char($a)").mkString(", ")})"
      case args => throw new IllegalArgumentException(
        s"char expects 1+ arguments, got ${args.length}")
    })
    // CH 3/4-arg transform (value mapping with [default]); the 2-arg
    // call IS Spark's lambda transform and passes through
    s = rewriteCall(s, "transform", {
      case List(a, f) => s"transform($a, $f)"
      case List(x, from, to) =>
        s"coalesce(try_element_at(map_from_arrays($from, $to), $x), $x)"
      case List(x, from, to, d) =>
        s"coalesce(try_element_at(map_from_arrays($from, $to), $x), $d)"
      case args => throw new IllegalArgumentException(
        s"transform expects 2-4 arguments, got ${args.length}")
    })
    s = rewriteCall(s, "isFinite", {
      case List(x) =>
        s"(NOT isnan(CAST($x AS DOUBLE)) AND " +
          s"abs(CAST($x AS DOUBLE)) <> CAST('Infinity' AS DOUBLE))"
      case args => throw new IllegalArgumentException(
        s"isFinite expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "isInfinite", {
      case List(x) => s"(abs(CAST($x AS DOUBLE)) = CAST('Infinity' AS DOUBLE))"
      case args => throw new IllegalArgumentException(
        s"isInfinite expects 1 argument, got ${args.length}")
    })
    // SHA2 family: Spark spells the digest as lowercase HEX where CH
    // returns raw FixedString bytes — compare via hex(…) on the CH side
    // (documented divergence in spelling, same digest)
    Seq("SHA224" -> 224, "SHA256" -> 256, "SHA384" -> 384, "SHA512" -> 512)
      .foreach { case (fn, bits) =>
        s = rewriteCall(s, fn, {
          case List(x) => s"sha2($x, $bits)"
          case args => throw new IllegalArgumentException(
            s"$fn expects 1 argument, got ${args.length}")
        })
      }
    s = rewriteCombinator(s, "quantileExact")
    s = rewriteCombinator(s, "quantile")
    // parameterized-aggregate batch (the CH analytics idioms) — after
    // the scalar passes so their ts/condition arguments are already
    // rewritten, before the dict pass (conditions may probe dictGet)
    Seq("quantilesExact", "quantiles").foreach { fn =>
      s = rewriteParamAgg(s, fn) { (ps, args) =>
        require(args.length == 1,
          s"$fn(q1, q2, …)(x) expects exactly one aggregated expression")
        require(ps.nonEmpty, s"$fn needs at least one quantile level")
        s"percentile(${args.head}, array(${ps.mkString(", ")}))"
      }
    }
    // the approximate-quantile sketch spellings all lower onto Spark's
    // approx_percentile (different sketch, same role — the uniq stance:
    // do not compare estimates across engines); quantileDeterministic's
    // determinator argument has nothing to determine here and drops
    Seq("quantileTDigestWeighted", "quantileTDigest", "quantileTiming",
      "quantileBFloat16", "quantileDeterministic").foreach { fn =>
      s = rewriteParamAgg(s, fn) { (ps, args) =>
        require(ps.length == 1, s"$fn(q)(x…): one quantile parameter")
        require(args.nonEmpty, s"$fn(q)(x…): an aggregated expression")
        s"approx_percentile(${args.head}, ${ps.head})"
      }
    }
    // groupConcat: both CH call shapes (plain / parameterized separator).
    // Elements SORT before joining (round-13 ADVICE fix): bare
    // collect_list order is partition-dependent, so the same query could
    // render a different string run to run — inconsistent with this
    // repo's determinism stance. ClickHouse concatenates in block order,
    // itself nondeterministic across merges — the sorted rendering is
    // the documented divergence (the uniq stance: deterministic beats
    // bug-compatible)
    s = rewriteMaybeParam(s, "groupConcat")(
      plain = {
        case List(x) =>
          s"array_join(sort_array(collect_list(CAST($x AS STRING))), '')"
        case args => throw new IllegalArgumentException(
          s"groupConcat expects (x) or (sep)(x), got ${args.length}")
      },
      param = { (ps, args) =>
        require(ps.length == 1 && args.length == 1,
          "groupConcat('sep')(x): one separator, one expression")
        s"array_join(sort_array(collect_list(CAST(${args.head} AS " +
          s"STRING))), ${ps.head})"
      })
    // order-dependent / weighted aggregates with no deterministic twin
    s = rewriteParamAgg(s, "topKWeighted") { (_, _) =>
      throw new IllegalArgumentException(
        "topKWeighted: no weighted SpaceSaving here — for exact weighted " +
          "top-N use GROUP BY + sum(weight) + ORDER BY + LIMIT, or " +
          "topK(N)(x) for the unweighted sketch")
    }
    s = rewriteMaybeParam(s, "groupArrayMovingSum")(
      plain = { _ =>
        throw new IllegalArgumentException(
          "groupArrayMovingSum: block-order dependent in ClickHouse with " +
            "no deterministic SQL twin — use sum() OVER (ORDER BY …) " +
            "window frames (explicit ordering) instead")
      },
      param = { (_, _) =>
        throw new IllegalArgumentException(
          "groupArrayMovingSum: block-order dependent in ClickHouse with " +
            "no deterministic SQL twin — use sum() OVER (ORDER BY … ROWS " +
            "n PRECEDING) window frames (explicit ordering) instead")
      })
    // CH topK(N)(x): the SpaceSaving sketch (graft.functions.TopKSketch)
    // registered as the ch_topk SQL aggregate; CH returns the value
    // ARRAY, so the "v:c" pairs are projected back to values. Counts are
    // SpaceSaving overestimates beyond capacity 4N — CH documents the
    // same bound for its own topK
    s = rewriteParamAgg(s, "topK") { (ps, args) =>
      require(ps.length == 1 && ps.head.trim.matches("\\d+"),
        "topK(N)(x): N must be an integer literal")
      require(args.length == 1, "topK(N)(x) expects one expression")
      s"transform(split(ch_topk(CAST(${args.head} AS STRING), " +
        s"${ps.head.trim}), ','), __s -> split_part(__s, ':', 1))"
    }
    // windowFunnel(w)(ts, c1, …, cK): CH buffers the group's events and
    // scans for the longest chain — this lowering does the same with a
    // sorted per-group fold (collect_list + aggregate), anchored at the
    // EARLIEST c1 event with the window measured from it (the engine's
    // agg_funnel min-chain; CH's DP re-anchors on later c1 events, so a
    // chain completable only from a later anchor can score higher there
    // — documented divergence, the min-chain is the DuckDB-provable one)
    s = rewriteParamAgg(s, "windowFunnel") { (ps, args) =>
      require(ps.length == 1,
        "windowFunnel(window_seconds)(ts, cond…): one window parameter")
      require(args.length >= 2,
        "windowFunnel(w)(ts, cond1, …) needs a timestamp and 1+ conditions")
      funnelFold(args.head, args.tail, Some(ps.head))
    }
    // sequenceMatch('(?1).*(?2)…')(ts, c1, …, cK): the ordered-existence
    // pattern class only (each step once, in order, any gaps — the
    // windowless funnel); time-bound forms like (?t<=3600) refuse loudly
    s = rewriteParamAgg(s, "sequenceMatch") { (ps, args) =>
      require(ps.length == 1,
        "sequenceMatch('pattern')(ts, cond…): one pattern parameter")
      require(args.length >= 2,
        "sequenceMatch(p)(ts, cond1, …) needs a timestamp and 1+ conditions")
      val k = args.length - 1
      val pat = maskedLiteral(ps.head, literals).getOrElse(
        throw new IllegalArgumentException(
          "sequenceMatch: the pattern must be a string literal"))
      val expected = (1 to k).map(i => s"(?$i)").mkString(".*")
      require(pat == expected,
        s"sequenceMatch('$pat'): only the ordered-existence form " +
          s"'$expected' lowers here (strict-order / time-bound patterns " +
          "have no exact Spark twin — use graft.operators shapes)")
      s"IF(${funnelFold(args.head, args.tail, None)} = $k, 1, 0)"
    }
    // retention(c1, c2, …): r1 = any c1, r_i = any c1 AND any c_i — the
    // per-group flag products (the agg_retention shape)
    s = rewriteCall(s, "retention", { args =>
      require(args.length >= 2,
        s"retention(cond1, cond2, …) needs 2+ conditions, got ${args.length}")
      def mx(c: String) = s"max(CASE WHEN ($c) THEN 1 ELSE 0 END)"
      val head = mx(args.head)
      s"array(${(head +: args.tail.map(c => s"$head * ${mx(c)}")).mkString(", ")})"
    })
    s = rewriteTier7(s, literals)
    // LAST: the emitted probes contain SELECT/FROM/WHERE text no earlier
    // statement-level pass may see, and their key/default args were
    // already CH-rewritten above (nested dict calls recurse internally)
    s = rewriteDictCalls(s, literals)
    s
  }

  /** Everyday tier 7 (round 14): the fourth audit sweep. Same method as
    * tiers 3–6 — ~110 candidate spellings probed through [[rewrite]],
    * every PASSTHRU triaged into a lowering (when a sound Spark twin
    * exists) or a loud refusal naming the alternative. Notable stances:
    * the Joda formatter ≈ Spark's own pattern dialect, distances are
    * per-row HOF folds (hot vector paths stay on the posexplode
    * operators — the X144 note), and `bar()` renders to the nearest
    * eighth-block like CH's own CLI bars.
    */
  private def rewriteTier7(s0: String, literals: Array[String]): String = {
    var s = s0
    // ---- date/time -----------------------------------------------------
    // Joda-syntax formatter: Joda patterns are the ancestor of Spark's
    // own datetime pattern dialect — yyyy/MM/dd/HH/mm/ss/EEE/MMM all
    // coincide, so the literal passes straight through (divergent
    // exotic slots fail loudly in Spark's formatter, not silently)
    s = rewriteCall(s, "formatDateTimeInJodaSyntax", {
      case List(x, f) => s"date_format($x, $f)"
      case args => throw new IllegalArgumentException(
        s"formatDateTimeInJodaSyntax expects (ts, 'format'), got " +
          s"${args.length} (the timezone form is not supported — session UTC)")
    })
    // timeSlots(start, duration[, size]): the size-second grid stamps
    // covering [start, start+duration] — CH's session-window helper.
    // start is inlined twice: pass a column, not an expensive expression
    // (the arrayCumSum stance)
    s = rewriteCall(s, "timeSlots", { args =>
      require(args.length == 2 || args.length == 3,
        s"timeSlots expects (start, duration[, size]), got ${args.length}")
      val st = args(0); val dur = args(1)
      val sz = if (args.length == 3) s"(${args(2)})" else "1800"
      s"transform(sequence((unix_timestamp($st) DIV $sz) * $sz, " +
        s"((unix_timestamp($st) + ($dur)) DIV $sz) * $sz, $sz), " +
        "__t -> timestamp_seconds(__t))"
    })
    // dateAdd/dateSub/timestampAdd/timestampSub: both CH call shapes —
    // (unit, n, ts) with the unit bare or quoted, and (ts, INTERVAL n u)
    def unitOf(tok: String, where: String): String = {
      val t = wtrim(tok)
      val raw = maskedLiteral(t, literals).getOrElse(t)
      val u = raw.trim.toUpperCase.stripSuffix("S")
      require(Set("SECOND", "MINUTE", "HOUR", "DAY", "WEEK", "MONTH",
        "QUARTER", "YEAR")(u), s"$where: unsupported unit '${raw.trim}'")
      u
    }
    val unitish = "(?i)^(second|minute|hour|day|week|month|quarter|year)s?$"
    Seq(("dateAdd", false), ("timestampAdd", false),
      ("dateSub", true), ("timestampSub", true)).foreach { case (fn, neg) =>
      s = rewriteCall(s, fn, {
        case List(u, n, d0) if maskedLiteral(wtrim(u), literals)
          .getOrElse(wtrim(u)).trim.matches(unitish) =>
          val nn = if (neg) s"-($n)" else n
          s"timestampadd(${unitOf(u, fn)}, $nn, $d0)"
        case List(d0, iv) if wtrim(iv).toUpperCase.startsWith("INTERVAL") =>
          s"($d0 ${if (neg) "-" else "+"} $iv)"
        case args => throw new IllegalArgumentException(
          s"$fn expects (unit, n, ts) or (ts, INTERVAL n unit), " +
            s"got ${args.length} argument(s)")
      })
    }
    // toIntervalX(n) → Spark's interval constructors (day-time vs
    // year-month split follows Spark's own two interval kinds)
    Seq("toIntervalSecond" -> "0, 0, 0, %s", "toIntervalMinute" -> "0, 0, %s, 0",
      "toIntervalHour" -> "0, %s, 0, 0", "toIntervalDay" -> "%s, 0, 0, 0",
      "toIntervalWeek" -> "(%s) * 7, 0, 0, 0").foreach { case (fn, slot) =>
      s = rewriteCall(s, fn, {
        case List(n) => s"make_dt_interval(${slot.format(n)})"
        case args => throw new IllegalArgumentException(
          s"$fn expects 1 argument, got ${args.length}")
      })
    }
    Seq("toIntervalMonth" -> "0, %s", "toIntervalQuarter" -> "0, (%s) * 3",
      "toIntervalYear" -> "%s").foreach { case (fn, slot) =>
      s = rewriteCall(s, fn, {
        case List(n) => s"make_interval(${slot.format(n)})"
        case args => throw new IllegalArgumentException(
          s"$fn expects 1 argument, got ${args.length}")
      })
    }
    s = rewriteCall(s, "monthName", {
      case List(x) => s"date_format($x, 'MMMM')"
      case args => throw new IllegalArgumentException(
        s"monthName expects 1 argument, got ${args.length}")
    })
    // timeDiff(older, newer) = whole seconds between them
    s = rewriteCall(s, "timeDiff", {
      case List(a, b) => s"(unix_timestamp($b) - unix_timestamp($a))"
      case args => throw new IllegalArgumentException(
        s"timeDiff expects 2 arguments, got ${args.length}")
    })
    // the calendar half of the toRelative*Num family (fixed-width units
    // live in tier 4): month/quarter/year count calendar boundaries,
    // week counts Monday-aligned weeks from the epoch's first Monday
    s = rewriteCall(s, "toRelativeMonthNum", {
      case List(x) => s"(year($x) * 12 + month($x))"
      case args => throw new IllegalArgumentException(
        s"toRelativeMonthNum expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "toRelativeQuarterNum", {
      case List(x) => s"(year($x) * 4 + quarter($x))"
      case args => throw new IllegalArgumentException(
        s"toRelativeQuarterNum expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "toRelativeYearNum", {
      case List(x) => s"year($x)"
      case args => throw new IllegalArgumentException(
        s"toRelativeYearNum expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "toRelativeWeekNum", {
      case List(x) =>
        s"((datediff(CAST($x AS DATE), DATE'1970-01-05') + 7) DIV 7)"
      case args => throw new IllegalArgumentException(
        s"toRelativeWeekNum expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "fromUnixTimestamp64Nano", {
      case List(x) => s"timestamp_micros(CAST(($x) DIV 1000 AS BIGINT))"
      case args => throw new IllegalArgumentException(
        s"fromUnixTimestamp64Nano expects 1 argument, got ${args.length}")
    })
    // Twitter-epoch snowflake ids (CH's own constant 1288834974657)
    Seq("snowflakeToDateTime", "snowflakeIDToDateTime").foreach { fn =>
      s = rewriteCall(s, fn, {
        case List(id) =>
          s"timestamp_millis((CAST($id AS BIGINT) >> 22) + 1288834974657)"
        case args => throw new IllegalArgumentException(
          s"$fn expects 1 argument, got ${args.length}")
      })
    }
    s = rewriteCall(s, "toModifiedJulianDay", {
      case List(x) => s"datediff(CAST($x AS DATE), DATE'1858-11-17')"
      case args => throw new IllegalArgumentException(
        s"toModifiedJulianDay expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "fromModifiedJulianDay", {
      case List(n) => s"date_add(DATE'1858-11-17', CAST($n AS INT))"
      case args => throw new IllegalArgumentException(
        s"fromModifiedJulianDay expects 1 argument, got ${args.length}")
    })
    // ---- conversions ----------------------------------------------------
    s = rewriteCall(s, "toDate32", {
      case List(x) => s"to_date($x)"
      case args => throw new IllegalArgumentException(
        s"toDate32 expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "toDateTime32", {
      case List(x) => s"CAST($x AS TIMESTAMP)"
      case args => throw new IllegalArgumentException(
        s"toDateTime32 expects 1 argument, got ${args.length} " +
          "(the timezone form is not supported — session UTC)")
    })
    s = rewriteCall(s, "toBool", {
      case List(x) => s"CAST($x AS BOOLEAN)"
      case args => throw new IllegalArgumentException(
        s"toBool expects 1 argument, got ${args.length}")
    })
    // 128-bit integers land on DECIMAL(38,0): 38 decimal digits covers
    // ±1.7e38 of the ±1.7e38 UInt128/Int128 range EXCEPT the top sliver
    // (documented cap — values past 10^38 overflow loudly, not wrap)
    Seq("toUInt128", "toInt128").foreach { fn =>
      s = rewriteCall(s, fn, {
        case List(x) => s"CAST($x AS DECIMAL(38, 0))"
        case args => throw new IllegalArgumentException(
          s"$fn expects 1 argument, got ${args.length}")
      })
    }
    // ---- math -----------------------------------------------------------
    s = rewriteCall(s, "exp10", {
      case List(x) => s"power(10.0D, $x)"
      case args => throw new IllegalArgumentException(
        s"exp10 expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "max2",
      args => { require(args.length == 2, "max2 expects 2 arguments")
        s"greatest(${args.mkString(", ")})" })
    s = rewriteCall(s, "min2",
      args => { require(args.length == 2, "min2 expects 2 arguments")
        s"least(${args.mkString(", ")})" })
    s = rewriteCall(s, "clamp", {
      case List(x, lo, hi) => s"least(greatest($x, $lo), $hi)"
      case args => throw new IllegalArgumentException(
        s"clamp expects (x, min, max), got ${args.length}")
    })
    // ---- strings ----------------------------------------------------
    s = rewriteCall(s, "appendTrailingCharIfAbsent", {
      case List(x, c) =>
        s"(CASE WHEN ($x) = '' OR endswith($x, $c) THEN $x " +
          s"ELSE concat($x, $c) END)"
      case args => throw new IllegalArgumentException(
        s"appendTrailingCharIfAbsent expects (s, char), got ${args.length}")
    })
    // tokens(): CH splits on non-alphanumeric ASCII; this splits on
    // non-alphanumeric, period — non-ASCII letters also separate here
    // (documented divergence on non-ASCII corpora; the text operators
    // in graft.operators.TextAnalysis are the serious tokenizers)
    s = rewriteCall(s, "tokens", {
      case List(x) =>
        s"filter(split($x, '[^a-zA-Z0-9]+'), __t -> __t != '')"
      case args => throw new IllegalArgumentException(
        s"tokens expects 1 argument, got ${args.length}")
    })
    // character n-grams (CH counts bytes; Spark strings index by
    // codepoint — identical on ASCII, documented divergence past it)
    s = rewriteCall(s, "ngrams", {
      case List(x, n) =>
        s"(CASE WHEN length($x) < ($n) THEN array() " +
          s"ELSE transform(sequence(1, length($x) - ($n) + 1), " +
          s"__i -> substring($x, __i, $n)) END)"
      case args => throw new IllegalArgumentException(
        s"ngrams expects (s, n), got ${args.length}")
    })
    // splitByRegexp keeps the separator a REGEX (splitByChar \Q-quotes)
    s = rewriteCall(s, "splitByRegexp", {
      case List(re, x) => s"split($x, $re)"
      case args => throw new IllegalArgumentException(
        s"splitByRegexp expects (pattern, s), got ${args.length}")
    })
    // ---- arrays -----------------------------------------------------
    s = rewriteCall(s, "countEqual", {
      case List(a, v) => s"size(filter($a, __x -> __x <=> ($v)))"
      case args => throw new IllegalArgumentException(
        s"countEqual expects (arr, value), got ${args.length}")
    })
    s = rewriteCall(s, "hasSubstr", {
      case List(a, b) =>
        s"(CASE WHEN size($b) = 0 THEN true " +
          s"WHEN size($b) > size($a) THEN false " +
          s"ELSE exists(sequence(1, size($a) - size($b) + 1), " +
          s"__i -> slice($a, __i, size($b)) = $b) END)"
      case args => throw new IllegalArgumentException(
        s"hasSubstr expects (haystack, needle) arrays, got ${args.length}")
    })
    s = rewriteCall(s, "arrayJaccardIndex", {
      case List(a, b) =>
        s"(CAST(size(array_intersect($a, $b)) AS DOUBLE) / " +
          s"CAST(size(array_union($a, $b)) AS DOUBLE))"
      case args => throw new IllegalArgumentException(
        s"arrayJaccardIndex expects 2 arrays, got ${args.length}")
    })
    // CH only promises the first n positions sorted and leaves the rest
    // unspecified — the fully-sorted array is a legal (and the only
    // deterministic) refinement
    s = rewriteCall(s, "arrayPartialSort", {
      case List(_, a) => s"array_sort($a)"
      case args => throw new IllegalArgumentException(
        s"arrayPartialSort expects (limit, arr), got ${args.length}")
    })
    s = rewriteCall(s, "arrayPartialReverseSort", {
      case List(_, a) => s"reverse(array_sort($a))"
      case args => throw new IllegalArgumentException(
        s"arrayPartialReverseSort expects (limit, arr), got ${args.length}")
    })
    // ---- vector norms/distances (per-row HOF folds — the X144 note:
    // hot vector paths use the posexplode operators in Similarity) ----
    def fold2(a: String, b: String, term: String) =
      s"aggregate(zip_with($a, $b, (__x, __y) -> $term), " +
        s"CAST(0.0 AS DOUBLE), (__s, __e) -> __s + __e)"
    val diffSq = "(CAST(__x AS DOUBLE) - CAST(__y AS DOUBLE)) * " +
      "(CAST(__x AS DOUBLE) - CAST(__y AS DOUBLE))"
    s = rewriteCall(s, "L1Distance", {
      case List(a, b) =>
        fold2(a, b, "abs(CAST(__x AS DOUBLE) - CAST(__y AS DOUBLE))")
      case args => throw new IllegalArgumentException(
        s"L1Distance expects 2 arrays, got ${args.length}")
    })
    s = rewriteCall(s, "L2SquaredDistance", {
      case List(a, b) => fold2(a, b, diffSq)
      case args => throw new IllegalArgumentException(
        s"L2SquaredDistance expects 2 arrays, got ${args.length}")
    })
    s = rewriteCall(s, "L2Distance", {
      case List(a, b) => s"sqrt(${fold2(a, b, diffSq)})"
      case args => throw new IllegalArgumentException(
        s"L2Distance expects 2 arrays, got ${args.length}")
    })
    s = rewriteCall(s, "LinfDistance", {
      case List(a, b) => s"array_max(zip_with($a, $b, (__x, __y) -> " +
        s"abs(CAST(__x AS DOUBLE) - CAST(__y AS DOUBLE))))"
      case args => throw new IllegalArgumentException(
        s"LinfDistance expects 2 arrays, got ${args.length}")
    })
    s = rewriteCall(s, "LinfNorm", {
      case List(a) =>
        s"array_max(transform($a, __x -> abs(CAST(__x AS DOUBLE))))"
      case args => throw new IllegalArgumentException(
        s"LinfNorm expects 1 array, got ${args.length}")
    })
    s = rewriteCall(s, "L2SquaredNorm", {
      case List(a) => s"aggregate($a, CAST(0.0 AS DOUBLE), " +
        s"(__s, __e) -> __s + CAST(__e AS DOUBLE) * CAST(__e AS DOUBLE))"
      case args => throw new IllegalArgumentException(
        s"L2SquaredNorm expects 1 array, got ${args.length}")
    })
    // ---- multi-needle search (completes the X144 family) -------------
    s = rewriteCall(s, "multiSearchAllPositions", {
      case List(h, ns) => s"transform($ns, __n -> locate(__n, $h))"
      case args => throw new IllegalArgumentException(
        s"multiSearchAllPositions expects (haystack, [needles]), " +
          s"got ${args.length}")
    })
    // leftmost occurrence position of ANY needle, 0 when none — the
    // multiSearchFirstIndex contract transposed to positions
    s = rewriteCall(s, "multiSearchFirstPosition", {
      case List(h, ns) =>
        s"coalesce(array_min(filter(transform($ns, __n -> " +
          s"locate(__n, $h)), __p -> __p > 0)), 0)"
      case args => throw new IllegalArgumentException(
        s"multiSearchFirstPosition expects (haystack, [needles]), " +
          s"got ${args.length}")
    })
    // ---- maps (lambda-first → map-first, the mapFilter stance) -------
    s = rewriteCall(s, "mapExists", {
      case List(lam, m) => s"(cardinality(map_filter($m, $lam)) > 0)"
      case args => throw new IllegalArgumentException(
        s"mapExists expects ((k, v) -> pred, map), got ${args.length}")
    })
    s = rewriteCall(s, "mapAll", {
      case List(lam, m) =>
        s"(cardinality(map_filter($m, $lam)) = cardinality($m))"
      case args => throw new IllegalArgumentException(
        s"mapAll expects ((k, v) -> pred, map), got ${args.length}")
    })
    s = rewriteCall(s, "mapSort", {
      case List(m) => s"map_from_entries(array_sort(map_entries($m)))"
      case args => throw new IllegalArgumentException(
        s"mapSort expects 1 map (the lambda form has no textual twin " +
          s"— sort map_entries(…) directly), got ${args.length}")
    })
    s = rewriteCall(s, "mapReverseSort", {
      case List(m) =>
        s"map_from_entries(reverse(array_sort(map_entries($m))))"
      case args => throw new IllegalArgumentException(
        s"mapReverseSort expects 1 map, got ${args.length}")
    })
    // ---- URL family completion ---------------------------------------
    s = rewriteCall(s, "fragment", {
      case List(u) => s"coalesce(parse_url($u, 'REF'), '')"
      case args => throw new IllegalArgumentException(
        s"fragment expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "cutFragment", {
      case List(u) => s"split_part($u, '#', 1)"
      case args => throw new IllegalArgumentException(
        s"cutFragment expects 1 argument, got ${args.length}")
    })
    // query-onwards text: '?' to end (fragment included — CH's shape);
    // a fragment-only URL returns '' here where CH keeps '#f' (edge
    // divergence, documented)
    s = rewriteCall(s, "queryStringAndFragment", {
      case List(u) => s"regexp_extract($u, '\\\\?(.*)', 1)"
      case args => throw new IllegalArgumentException(
        s"queryStringAndFragment expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "netloc", {
      case List(u) => s"coalesce(parse_url($u, 'AUTHORITY'), '')"
      case args => throw new IllegalArgumentException(
        s"netloc expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "port", {
      case List(u) =>
        s"CAST(coalesce(nullif(regexp_extract(parse_url($u, " +
          s"'AUTHORITY'), ':(\\\\d+)$$', 1), ''), '0') AS INT)"
      case args => throw new IllegalArgumentException(
        s"port expects 1 argument here (the default_port form: wrap " +
          s"in CASE WHEN port(u) = 0), got ${args.length}")
    })
    // percent-encoding (the non-Form spellings): CH encodes space as
    // %20 and decodes '+' literally — adjust around Spark's
    // form-encoding url_encode/url_decode
    s = rewriteCall(s, "encodeURLComponent", {
      case List(u) => s"replace(url_encode($u), '+', '%20')"
      case args => throw new IllegalArgumentException(
        s"encodeURLComponent expects 1 argument, got ${args.length}")
    })
    s = rewriteCall(s, "decodeURLComponent", {
      case List(u) => s"url_decode(replace($u, '+', '%2B'))"
      case args => throw new IllegalArgumentException(
        s"decodeURLComponent expects 1 argument, got ${args.length}")
    })
    // ---- aggregates ---------------------------------------------------
    // exact weighted quantile: Spark's percentile takes an integral
    // frequency column — exactly quantileExactWeighted's weight
    s = rewriteParamAgg(s, "quantileExactWeighted") { (ps, args) =>
      require(ps.length == 1, "quantileExactWeighted(q)(x, w): one level")
      require(args.length == 2,
        "quantileExactWeighted(q)(x, w) expects (value, weight)")
      s"percentile(${args.head}, ${ps.head}, " +
        s"CAST(${args(1)} AS BIGINT))"
    }
    // uniqCombined(precision)(x) et al arrive here with the name already
    // renamed by simpleReplacements — drop the precision parameter list
    // (Spark's HLL++ has its own accuracy knob; the uniq stance)
    s = rewriteMaybeParam(s, "approx_count_distinct")(
      plain => s"approx_count_distinct(${plain.mkString(", ")})",
      (_, args) => s"approx_count_distinct(${args.mkString(", ")})")
    // ---- console formatters -------------------------------------------
    // formatReadableTimeDelta: days…seconds, zero components skipped,
    // singular/plural like CH. CH's default largest unit is YEARS
    // (365.25-day years) — this renders days as the cap (documented
    // divergence; day counts stay exact where fractional years round).
    // The input is inlined per component: pass a column.
    s = rewriteCall(s, "formatReadableTimeDelta", {
      case List(x) =>
        def comp(n: String, u: String) =
          s"CASE WHEN $n > 0 THEN concat($n, ' $u', " +
            s"CASE WHEN $n = 1 THEN '' ELSE 's' END) END"
        val t = s"CAST($x AS BIGINT)"
        s"coalesce(nullif(concat_ws(', ', " +
          comp(s"($t DIV 86400)", "day") + ", " +
          comp(s"(($t % 86400) DIV 3600)", "hour") + ", " +
          comp(s"(($t % 3600) DIV 60)", "minute") + ", " +
          comp(s"($t % 60)", "second") + "), ''), '0 seconds')"
      case args => throw new IllegalArgumentException(
        s"formatReadableTimeDelta expects 1 argument (the maximum_unit " +
          s"form is not supported), got ${args.length}")
    })
    // bar(x, min, max[, width]): CH's CLI bar — full blocks plus a
    // nearest-eighth partial block, clamped to [0, width]. The scaled
    // value is inlined per piece: pass a column.
    s = rewriteCall(s, "bar", { args =>
      require(args.length == 3 || args.length == 4,
        s"bar expects (x, min, max[, width]), got ${args.length}")
      val List(x, mn, mx) = args.take(3)
      val w = if (args.length == 4) args(3) else "80"
      val units = s"greatest(CAST(0.0 AS DOUBLE), least(CAST($w AS " +
        s"DOUBLE), (CAST($x AS DOUBLE) - CAST($mn AS DOUBLE)) * " +
        s"CAST($w AS DOUBLE) / (CAST($mx AS DOUBLE) - CAST($mn AS DOUBLE))))"
      val e8 = s"CAST(round($units * 8.0D) AS BIGINT)"
      s"concat(repeat('█', CAST($e8 DIV 8 AS INT)), " +
        s"CASE WHEN ($e8 % 8) = 0 THEN '' " +
        s"ELSE substring('▏▎▍▌▋▊▉', CAST($e8 % 8 AS INT), 1) END)"
    })
    // ---- network --------------------------------------------------------
    // isIPAddressInRange with a LITERAL IPv4 CIDR: the prefix mask folds
    // to a constant and the address side reuses the IPv4StringToNum
    // octet arithmetic (IPv6 has no 128-bit integer here — refuses)
    s = rewriteCall(s, "isIPAddressInRange", {
      case List(ip, cidr) =>
        val lit = maskedLiteral(wtrim(cidr), literals).getOrElse(
          throw new IllegalArgumentException(
            "isIPAddressInRange: the CIDR must be a string literal"))
        val m = "^(\\d+)\\.(\\d+)\\.(\\d+)\\.(\\d+)/(\\d+)$".r
          .findFirstMatchIn(lit.trim).getOrElse(
            throw new IllegalArgumentException(
              s"isIPAddressInRange: '$lit' is not an IPv4 CIDR " +
                "(IPv6 ranges are not supported here)"))
        val Seq(o1, o2, o3, o4, bits) = (1 to 5).map(i => m.group(i).toLong)
        require(bits <= 32 && Seq(o1, o2, o3, o4).forall(_ <= 255),
          s"isIPAddressInRange: malformed CIDR '$lit'")
        val net = (o1 << 24) | (o2 << 16) | (o3 << 8) | o4
        val shift = 32 - bits.toInt
        val masked = if (shift >= 32) 0L else (net >> shift) << shift
        val ipNum = s"(CAST(element_at(split($ip, '\\\\.'), 1) AS BIGINT) " +
          s"* 16777216 + CAST(element_at(split($ip, '\\\\.'), 2) AS " +
          s"BIGINT) * 65536 + CAST(element_at(split($ip, '\\\\.'), 3) " +
          s"AS BIGINT) * 256 + CAST(element_at(split($ip, '\\\\.'), 4) " +
          s"AS BIGINT))"
        if (shift >= 32) "true"
        else s"((($ipNum >> $shift) << $shift) = ${masked}L)"
      case args => throw new IllegalArgumentException(
        s"isIPAddressInRange expects (addr, 'cidr'), got ${args.length}")
    })
    // ---- JSON -----------------------------------------------------------
    s = rewriteCall(s, "JSON_EXISTS", {
      case List(j, p) => s"(get_json_object($j, $p) IS NOT NULL)"
      case args => throw new IllegalArgumentException(
        s"JSON_EXISTS expects (json, path), got ${args.length}")
    })
    // ---- pointed refusals (the deltaSum stance: name the alternative) --
    Seq(
      "entropy" -> ("Shannon entropy needs a two-level aggregation — " +
        "GROUP BY the value first, then -sum(p * log2(p)) over the " +
        "per-value counts"),
      "JSON_QUERY" -> ("CH wraps matches in a JSON array — use " +
        "JSONExtractRaw (raw extraction) or JSON_VALUE (scalar) " +
        "whose contracts are exact here"),
      "gcd" -> "no Spark twin (iterative) — precompute or use pmod chains",
      "lcm" -> "no Spark twin (iterative) — precompute or use pmod chains",
      "arrayShuffle" -> ("nondeterministic by contract — use " +
        "array_sort for a canonical order or shuffle outside the query"),
      "arrayRandomSample" -> ("nondeterministic by contract — slice " +
        "after array_sort, or sample rows with TABLESAMPLE"),
      "sparkbar" -> ("per-group inline histogram — use bar(x, min, " +
        "max, width) per bucket row instead"),
      "groupArrayLast" -> ("block-order dependent — groupArraySorted(N)" +
        "(x) is the deterministic top-N, or collect_list over an " +
        "explicit window ORDER BY"),
      "stem" -> ("dictionary-backed NLP is out of scope — the text " +
        "operators in graft.operators.TextAnalysis cover tokenization " +
        "and quality scoring"),
      "lemmatize" -> "dictionary-backed NLP is out of scope (see stem)",
      "synonyms" -> "dictionary-backed NLP is out of scope (see stem)",
      "detectLanguage" -> ("use the engine's n-gram language-id " +
        "operator (text_langid in graft.operators.TextAnalysis)"),
      "detectCharset" -> "charset sniffing is out of scope (UTF-8 corpus)",
      "sleep" -> ("no effect in a declarative plan — removed in CH too " +
        "under optimization; drop it"),
      "sleepEachRow" -> "no effect in a declarative plan — drop it",
      "blockNumber" -> ("blocks do not exist here — row_number() OVER " +
        "(ORDER BY …) for a stable numbering"),
      "blockSize" -> "blocks do not exist here — count() per group",
      "rowNumberInAllBlocks" -> ("row_number() OVER (ORDER BY …) — an " +
        "explicit order is the only deterministic numbering"),
      "queryID" -> ("query ids live in system.query_log here (X140) — " +
        "FROM system.query_log"),
      "initialQueryID" -> "see queryID — FROM system.query_log",
      "uptime" -> "no server process to introspect — not supported",
      "serverUUID" -> "no server process to introspect — not supported",
      "firstSignificantSubdomain" -> ("needs the public-suffix list — " +
        "domainWithoutWWW covers the common case"),
      "cutToFirstSignificantSubdomain" -> ("needs the public-suffix " +
        "list — domainWithoutWWW covers the common case"),
      "geohashEncode" -> ("geo indexing is out of scope — " +
        "greatCircleDistance covers metric queries"),
      "geohashDecode" -> "geo indexing is out of scope (see geohashEncode)",
      "pointInPolygon" -> ("polygon geometry is out of scope — bounding-" +
        "box predicates compose from plain comparisons"),
      "normalizeQuery" -> ("CH's literal folding is engine-specific — " +
        "regexp_replace the literal classes explicitly"),
      "mapPopulateSeries" -> ("build the dense axis with sequence() and " +
        "map_from_arrays, then map_zip_with the sparse map onto it"),
      "toInt256" -> "no 256-bit arithmetic — DECIMAL(38, 0) is the widest",
      "toUInt256" -> "no 256-bit arithmetic — DECIMAL(38, 0) is the widest",
      "arrayFill" -> ("order-dependent fill — express as an explicit " +
        "aggregate() fold over the array"),
      "arrayReverseFill" -> "see arrayFill",
      "arraySplit" -> ("use aggregate() to fold split points, or explode " +
        "and re-group"))
      .foreach { case (fn, alt) =>
        s = rewriteCall(s, fn, _ => throw new IllegalArgumentException(
          s"$fn: $alt"))
      }
    s
  }

  /** A masked string literal's VALUE, when `tok` is exactly one
    * [[Sentinel]] slot (the formatDateTime discipline — shared by the
    * dict-name and sequenceMatch-pattern probes).
    */
  private def maskedLiteral(tok: String,
                            literals: Array[String]): Option[String] = {
    val t = wtrim(tok)
    (Sentinel + "(\\d+)" + Sentinel).r.findFirstMatchIn(t) match {
      case Some(sm) if sm.matched == t =>
        val raw = literals(sm.group(1).toInt)
        Some(raw.substring(1, raw.length - 1).replace("''", "'"))
      case _ => None
    }
  }

  /** The shared windowFunnel/sequenceMatch per-group fold: events sorted
    * by time, K level-anchor slots filled left to right — level 1 takes
    * the EARLIEST matching event, level i+1 the earliest strictly-later
    * match (within `windowSecs` of the anchor when bounded). The filled
    * prefix length IS the level reached. Per-group buffering is exactly
    * what CH's own windowFunnel does; groups are users, not tables, so
    * the arrays stay row-group sized at any corpus scale.
    */
  /** Per-group event cap for the windowFunnel/sequenceMatch folds. The
    * lowering buffers each group's events via collect_list — CH's OWN
    * windowFunnel memory model — but unlike CH, Spark's collect_list
    * has no spill path inside one group, so one pathological user
    * (bot traffic) OOMs a task where CH degrades. The fold therefore
    * REFUSES LOUDLY past this many events in a single group instead of
    * dying opaquely; override with -Dgraft.funnel.groupCap=N.
    */
  private[sql] def funnelGroupCap: Long =
    java.lang.Long.getLong("graft.funnel.groupCap", 1000000L)

  private def funnelFold(tsExpr: String, conds: List[String],
                         windowSecs: Option[String]): String = {
    val k = conds.length
    val flags = conds.map(c => s"($c)").mkString(", ")
    // MICROSECOND comparisons: unix_timestamp would floor to seconds and
    // silently weaken the strict-order test for sub-second event pairs
    val winTest = windowSecs.map(w =>
      s" AND e.t <= element_at(acc, 1) + (($w) * 1000000L)").getOrElse("")
    // the buffered list appears twice textually; identical aggregate
    // expressions dedupe in PhysicalAggregation, so collect_list runs
    // once. The guard message stays free of ( ) , ' so no later dialect
    // pass can mistake it for a call shape.
    val lst = s"array_sort(collect_list(struct(unix_micros($tsExpr) AS t, " +
      s"array($flags) AS f)))"
    val guarded = s"CASE WHEN assert_true(size($lst) <= $funnelGroupCap, " +
      s"'funnel fold refused: one group buffered more than " +
      s"$funnelGroupCap events - the per-group buffer is CH windowFunnel " +
      s"memory model but has no spill path here; pre-filter the hot key " +
      s"or raise -Dgraft.funnel.groupCap') IS NULL THEN $lst END"
    s"size(filter(aggregate(" +
      guarded + ", " +
      s"transform(sequence(1, $k), __z -> CAST(NULL AS BIGINT)), " +
      s"(acc, e) -> transform(acc, (x, i) -> CASE " +
      s"WHEN x IS NOT NULL THEN x " +
      s"WHEN i = 0 THEN (CASE WHEN element_at(e.f, 1) THEN e.t END) " +
      s"WHEN element_at(acc, i) IS NOT NULL AND element_at(e.f, i + 1) " +
      s"AND e.t > element_at(acc, i)$winTest THEN e.t END)), " +
      s"__v -> __v IS NOT NULL))"
  }

  /** `fn(params)(args)` — the CH parameterized-aggregate call shape,
    * handed to `f(params, args)` (the generalized [[rewriteCombinator]]).
    */
  private def rewriteParamAgg(s: String, fn: String)(
      f: (List[String], List[String]) => String): String = {
    val re = cachedRe(s"(?i)\\b$fn\\(")
    re.findFirstMatchIn(s) match {
      case None => s
      case Some(m) =>
        val (params, afterParams) = balancedArgs(s, m.end - 1)
        val rest = s.substring(afterParams)
        require(rest.startsWith("("),
          s"$fn(…)(…): expected the argument list right after the " +
            "parameter list")
        val (args, end) = balancedArgs(rest, 0)
        s.substring(0, m.start) + f(params.map(wtrim), args.map(wtrim)) +
          rewriteParamAgg(s.substring(afterParams + end), fn)(f)
    }
  }

  /** An aggregate callable BOTH ways — plain `fn(x)` and parameterized
    * `fn(p)(x)` (groupConcat's shape): dispatch on whether a second
    * argument list follows the first.
    */
  private def rewriteMaybeParam(s: String, fn: String)(
      plain: List[String] => String,
      param: (List[String], List[String]) => String): String = {
    val re = cachedRe(s"(?i)\\b$fn\\(")
    re.findFirstMatchIn(s) match {
      case None => s
      case Some(m) =>
        val (first, after) = balancedArgs(s, m.end - 1)
        val rest = s.substring(after)
        if (rest.startsWith("(")) {
          val (args, end) = balancedArgs(rest, 0)
          s.substring(0, m.start) + param(first.map(wtrim), args.map(wtrim)) +
            rewriteMaybeParam(s.substring(after + end), fn)(plain, param)
        } else
          s.substring(0, m.start) + plain(first.map(wtrim)) +
            rewriteMaybeParam(rest, fn)(plain, param)
    }
  }

  /** `SELECT histogram(N)(x) [AS alias] FROM tail` → the deterministic
    * equal-width N-bin histogram as Array(Struct(lo, hi, height)):
    * one bounds pass (min/max), one binning pass, a ≤N-row collect.
    * CH's histogram() is ADAPTIVE and explicitly non-deterministic —
    * this lowering trades its variable bin edges for exact equal-width
    * ones (documented divergence; the per-bin recipe with caller-chosen
    * edges is agg_histogram). Restricted to the single-item ungrouped
    * statement — anything else refuses loudly (a grouped histogram
    * cannot re-nest textually without per-group bounds joins).
    */
  private def rewriteHistogram(s: String): String = {
    val m = "(?i)\\bhistogram\\(".r.findFirstMatchIn(s).getOrElse(return s)
    val restricted =
      "(?is)^\\s*SELECT\\s+histogram\\(".r.findFirstIn(s).isDefined
    require(restricted,
      "histogram(N)(x): only the single-item form " +
        "'SELECT histogram(N)(x) [AS a] FROM …' lowers here (per-group " +
        "histograms need per-group bounds — use the agg_histogram " +
        "fixed-bin recipe)")
    val (params, afterParams) = balancedArgs(s, m.end - 1)
    require(params.length == 1 && wtrim(params.head).matches("\\d+"),
      "histogram(N)(x): N must be an integer literal")
    val n = wtrim(params.head)
    val rest = s.substring(afterParams)
    require(rest.startsWith("("),
      "histogram(N)(x): expected the argument list right after N")
    val (args, end) = balancedArgs(rest, 0)
    require(args.length == 1, "histogram(N)(x) expects one expression")
    val x = wtrim(args.head)
    val tail = s.substring(afterParams + end)
    val tm = "(?is)^\\s*(?:AS\\s+(\\w+)\\s*)?FROM\\s+(.+)$".r
      .findFirstMatchIn(tail).getOrElse(throw new IllegalArgumentException(
        "histogram(N)(x): only 'SELECT histogram(N)(x) [AS a] FROM …' " +
          "lowers here"))
    val alias = Option(tm.group(1)).getOrElse("hist")
    val from = tm.group(2).trim
    require("(?i)\\bGROUP\\s+BY\\b".r.findFirstIn(from).isEmpty,
      "histogram(N)(x): grouped statements are not supported by this " +
        "lowering (doc above)")
    val xd = s"CAST(($x) AS DOUBLE)"
    s"SELECT sort_array(collect_list(struct(" +
      s"__lo + __bin * __w AS lo, " +
      s"__lo + (__bin + 1) * __w AS hi, " +
      s"CAST(__n AS DOUBLE) AS height))) AS $alias FROM (" +
      s"SELECT __bin, __lo, __w, count(*) AS __n FROM (" +
      s"SELECT least($n - 1, greatest(0, " +
      s"CAST(floor((__x - __lo) / __w) AS INT))) AS __bin, __lo, __w " +
      s"FROM (SELECT $xd AS __x FROM $from) " +
      s"CROSS JOIN (SELECT min($xd) AS __lo, " +
      s"greatest((max($xd) - min($xd)) / $n, 1e-12) AS __w FROM $from) " +
      s"WHERE __x IS NOT NULL) " +
      s"GROUP BY __bin, __lo, __w)"
  }

  /** `dictGet('d','attr',k)` / `dictGetOrDefault('d','attr',k,def)` /
    * `dictHas('d',k)` → a correlated scalar-subquery probe of the
    * [[DictRegistry]] view bound by `CREATE DICTIONARY`:
    *
    *   coalesce((SELECT any_value(attr) FROM __dict_d WHERE k = …), def)
    *
    * Catalyst's RewriteCorrelatedScalarSubquery turns each probe into a
    * left outer join against the (tiny, aggregated-by-key) dictionary —
    * broadcast at execution, the same resident-probe plan the
    * [[graft.operators.Dictionaries]] engine builds by hand, and exactly
    * CH's miss semantics (type/declared default, never null — dictHas is
    * a count() > 0 probe). Dictionary and attribute names must be string
    * LITERALS (the formatDateTime discipline); COMPLEX_KEY_HASHED keys
    * arrive as `tuple(k1, k2, …)` or a bare single expression.
    */
  private def rewriteDictCalls(seg: String,
                               literals: Array[String]): String = {
    if ("(?i)\\bdict(Get|GetOrDefault|Has)\\(".r
        .findFirstIn(seg).isEmpty) return seg
    val sentRe = (Sentinel + "(\\d+)" + Sentinel).r
    def litVal(tok: String, fn: String): String = {
      val t = wtrim(tok)
      sentRe.findFirstMatchIn(t) match {
        case Some(sm) if sm.matched == t =>
          val raw = literals(sm.group(1).toInt)
          raw.substring(1, raw.length - 1).replace("''", "'")
        case _ => throw new IllegalArgumentException(
          s"$fn: dictionary and attribute names must be string literals")
      }
    }
    def dict(dn: String, fn: String): DictRegistry.DictDef =
      DictRegistry.get(dn).getOrElse(throw new IllegalArgumentException(
        s"$fn: no dictionary '$dn' registered — CREATE DICTIONARY first " +
          s"(registered: ${DictRegistry.list.map(_.name).mkString(", ")})"))
    def keyConds(d: DictRegistry.DictDef, keyArg: String, fn: String,
                 rec: String => String): String = {
      val t = wtrim(keyArg)
      // composite keys arrive as struct(…) — the tier-4 tuple() rename
      // runs before this pass
      val parts =
        if ((t.toLowerCase.startsWith("tuple(") ||
             t.toLowerCase.startsWith("struct(")) && t.endsWith(")"))
          balancedArgs(t, t.indexOf('('))._1
        else List(t)
      require(parts.length == d.keys.length,
        s"$fn('${d.name}', …): ${parts.length} key expression(s) for a " +
          s"${d.keys.length}-column PRIMARY KEY (${d.keys.mkString(", ")})")
      d.keys.zip(parts).map { case (k, e) =>
        s"$k = (${rec(e)})" }.mkString(" AND ")
    }
    lazy val rec: String => String = x0 => {
      var x = x0
      x = rewriteCall(x, "dictGetOrDefault", {
        case List(dn0, an0, k, dflt) =>
          val dn = litVal(dn0, "dictGetOrDefault")
          val an = litVal(an0, "dictGetOrDefault")
          val d = dict(dn, "dictGetOrDefault")
          require(d.defaultOf(an).isDefined,
            s"dictGetOrDefault('$dn', '$an', …): not a declared attribute " +
              s"(declared: ${d.attrs.map(_._1).mkString(", ")})")
          s"coalesce((SELECT any_value($an) FROM ${d.view} WHERE " +
            s"${keyConds(d, k, "dictGetOrDefault", rec)}), ${rec(dflt)})"
        case args => throw new IllegalArgumentException(
          s"dictGetOrDefault expects ('dict', 'attr', key, default), " +
            s"got ${args.length} argument(s)")
      })
      x = rewriteCall(x, "dictGet", {
        case List(dn0, an0, k) =>
          val dn = litVal(dn0, "dictGet")
          val an = litVal(an0, "dictGet")
          val d = dict(dn, "dictGet")
          val dflt = d.defaultOf(an).getOrElse(
            throw new IllegalArgumentException(
              s"dictGet('$dn', '$an', …): not a declared attribute " +
                s"(declared: ${d.attrs.map(_._1).mkString(", ")})"))
          s"coalesce((SELECT any_value($an) FROM ${d.view} WHERE " +
            s"${keyConds(d, k, "dictGet", rec)}), $dflt)"
        case args => throw new IllegalArgumentException(
          s"dictGet expects ('dict', 'attr', key), got ${args.length} " +
            "argument(s) — dictGetHierarchy has no SQL lowering here " +
            "(use graft.operators.Dictionaries.hierarchy)")
      })
      x = rewriteCall(x, "dictHas", {
        case List(dn0, k) =>
          val dn = litVal(dn0, "dictHas")
          val d = dict(dn, "dictHas")
          s"((SELECT count(1) FROM ${d.view} WHERE " +
            s"${keyConds(d, k, "dictHas", rec)}) > 0)"
        case args => throw new IllegalArgumentException(
          s"dictHas expects ('dict', key), got ${args.length} argument(s)")
      })
      x
    }
    rec(seg)
  }

  // numbers(N) / numbers(offset, N) after FROM/JOIN only — a scalar call
  // named numbers() elsewhere stays untouched
  private val numbersRe =
    ("(?i)\\b(FROM|JOIN)\\s+numbers\\(\\s*(\\d+)\\s*" +
      "(?:,\\s*(\\d+)\\s*)?\\)").r
  private val formatTailRe = "(?is)\\s+FORMAT\\s+\\w+\\s*$".r
  // a statement-trailing `SETTINGS k = v[, …]` — per-query engine knobs
  // (max_threads, use_query_cache, …) that select no different result
  // set; stripped like FORMAT so pasted dashboard queries run (values
  // may be masked literals — the sentinel is matched by [^,;]+)
  private val settingsTailRe =
    ("(?is)\\s+SETTINGS\\s+\\w+\\s*=\\s*[^,;\\s]+" +
      "(?:\\s*,\\s*\\w+\\s*=\\s*[^,;\\s]+)*\\s*$").r
  private val limitCommaRe = "(?i)\\bLIMIT\\s+(\\d+)\\s*,\\s*(\\d+)\\b".r

  // `… ORDER BY col [ASC|DESC] WITH FILL [FROM a TO b] [STEP s]
  // [INTERPOLATE (c [AS e], …)] [LIMIT n]` — the greedy body prefix
  // anchors at the LAST ORDER BY (subquery sorts stay in the body), like
  // rewriteLimitBy above
  private val withFillRe =
    ("(?is)^(.*\\S)\\s+ORDER\\s+BY\\s+([A-Za-z_][A-Za-z0-9_]*)" +
      "(?:\\s+(ASC|DESC))?\\s+WITH\\s+FILL\\b(.*)$").r
  private val fillTailRe =
    "(?is)^(?:\\s+FROM\\s+(.+?))?(?:\\s+TO\\s+(.+?))?(?:\\s+STEP\\s+(.+?))?\\s*$".r
  private val fillLimitRe = "(?is)^(.*?)\\s+LIMIT\\s+(\\d+)\\s*$".r
  private val interpOpenRe = "(?i)\\bINTERPOLATE\\s*\\(".r

  /** Doc in the class header. The generated text contains no CH-isms of
    * its own; `body` and the bound/step expressions stay in the segment
    * and keep flowing through the later rewrite passes.
    *
    * With an `analyze` hook (the GraftSql.chSql path) the outer select
    * list is generated explicitly in the body's own column order —
    * ClickHouse preserves the SELECT's declared order; the schema-blind
    * fallback (`coalesce(…) AS col, __q.* EXCEPT (col)`) moves the fill
    * key first. The unbounded form computes BOTH bounds in one aggregate
    * subquery over the `__fill_body` CTE, so the body evaluates exactly
    * twice (bounds + join source) instead of three times — Catalyst
    * INLINES the CTE (observed in the optimized plan of a WITH FILL
    * query: the body appears once per reference), so the
    * single-aggregate shape, not the CTE, is what bounds the work.
    *
    * INTERPOLATE (analyze hook required): `(c)` carries the last actual
    * (non-filled) row's value forward into filled rows — CH's default
    * recurrence collapses to exactly this for the bare form. `(c AS expr)`
    * evaluates `expr` once per filled row over the LAST ACTUAL row's
    * column values; for a self-referential expr over a multi-row gap CH
    * re-evaluates row over row (`c AS c+1` counts up) while this rewrite
    * holds the last-actual base (documented divergence — same stance as
    * LEFT ARRAY JOIN's NULL-vs-default). The carry windows order by the
    * fill axis globally — WITH FILL is a totally-ordered stream operation
    * (its final ORDER BY already is one), so INTERPOLATE adds no new
    * scale ceiling beyond the sort the clause itself demands.
    */
  private def rewriteWithFill(s: String,
                              analyze: Option[String => Seq[String]]): String = s match {
    case withFillRe(body, col, dir, tail0) =>
      val desc = dir != null && dir.equalsIgnoreCase("DESC")
      val (tail1, limit) = tail0 match {
        case fillLimitRe(t, n) => (t, s" LIMIT $n")
        case t                 => (t, "")
      }
      // INTERPOLATE sits after the FROM/TO/STEP modifiers (CH grammar);
      // peel it off the tail before the bound parse
      val (tail, interpItems): (String, List[String]) =
        interpOpenRe.findFirstMatchIn(tail1) match {
          case None => (tail1, Nil)
          case Some(im) =>
            val (items, end) = balancedArgs(tail1, im.end - 1)
            require(wtrim(tail1.substring(end)).isEmpty,
              "WITH FILL: INTERPOLATE (…) must be the last ORDER BY " +
                "modifier (before any LIMIT)")
            (tail1.substring(0, im.start), items)
        }
      val (from, to, step) = tail match {
        case fillTailRe(f, t, st) =>
          (Option(f).map(wtrim), Option(t).map(wtrim),
            Option(st).map(wtrim).getOrElse(if (desc) "-1" else "1"))
        case _ => throw new IllegalArgumentException(
          s"WITH FILL: cannot parse '$tail' — expected [FROM a TO b] [STEP s]")
      }
      val ordDir = if (desc) " DESC" else ""
      val (cte, fromBody) = (from, to) match {
        case (None, None) => (s"WITH __fill_body AS ( $body )\n", "__fill_body")
        case _ => ("", s"( $body )")
      }
      val axis = (from, to) match {
        case (Some(a), Some(b)) =>
          // CH: FROM inclusive, TO exclusive; sequence() is inclusive of
          // its upper bound, so over-generate to b and filter back (the
          // strictness flips with the fill direction)
          val keep = if (desc) s"__v > $b" else s"__v < $b"
          s"""(SELECT __v AS __fill_x FROM (
             |   SELECT explode(sequence($a, $b, $step)) AS __v) __sq
             | WHERE $keep)""".stripMargin
        case (None, None) =>
          // BOTH bounds from one aggregate pass (two scalar subqueries
          // would re-evaluate the body per bound — Spark inlines the CTE,
          // so the single-aggregate shape is what actually bounds the
          // body evaluations: one for the bounds + one as the join source)
          val (lo, hi) = if (desc) ("max", "min") else ("min", "max")
          s"""(SELECT explode(sequence(__fb.__lo, __fb.__hi, $step)) AS __fill_x
             | FROM (SELECT $lo($col) AS __lo, $hi($col) AS __hi
             |       FROM __fill_body) __fb)""".stripMargin
        case _ => throw new IllegalArgumentException(
          "WITH FILL: FROM and TO must be given together (or both omitted " +
            "for the body's own min..max)")
      }
      val selectList = analyze match {
        case Some(f) =>
          val cols = f(body)
          val axisOut = s"coalesce(__q.`$col`, __fx.__fill_x)"
          val prevWin = s"OVER (ORDER BY $axisOut$ordDir " +
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
          def carried(c: String) = s"last(__q.`$c`) IGNORE NULLS $prevWin"
          val interp: Map[String, String] = interpItems.map { item =>
            ajAsSplit.findFirstMatchIn(item) match {
              case None =>
                val c = wtrim(item)
                require(identRe.pattern.matcher(c).matches() && cols.contains(c),
                  s"INTERPOLATE ($c): not a plain output column of the body")
                c -> carried(c)
              case Some(am) =>
                val c = wtrim(item.substring(0, am.start))
                require(identRe.pattern.matcher(c).matches() && cols.contains(c),
                  s"INTERPOLATE ($c AS …): target must be a plain output " +
                    "column of the body")
                // rebind every body-column reference inside the expr to
                // its carried (last-actual-row) value; longest names
                // first so a column that prefixes another never clips it
                var e = item.substring(am.end)
                // self-reference across a MULTI-ROW gap diverges from CH:
                // `c AS c + 1` here holds the last-ACTUAL base for every
                // injected row of the gap, where CH re-evaluates
                // row-over-row (1, 2, 3, …). Documented divergence — but
                // it is the one WITH FILL behavior a CH user could
                // silently mis-trust, so say it out loud at rewrite time
                if (("\\b" + java.util.regex.Pattern.quote(c) + "\\b").r
                    .findFirstIn(e).isDefined)
                  System.err.println(
                    s"[chsql] INTERPOLATE ($c AS …) references its own " +
                      "target: across a multi-row gap every injected row " +
                      "evaluates from the last ACTUAL value (ClickHouse " +
                      "re-evaluates row-over-row) — results diverge when " +
                      "gaps span more than one injected row")
                cols.sortBy(-_.length).foreach { n =>
                  e = ("\\b" + java.util.regex.Pattern.quote(n) + "\\b").r
                    .replaceAllIn(e, scala.util.matching.Regex
                      .quoteReplacement(carried(n)))
                }
                c -> s"($e)"
            }
          }.toMap
          cols.map { n =>
            if (n == col) s"$axisOut AS `$n`"
            else interp.get(n) match {
              case Some(e) =>
                s"CASE WHEN __q.`$col` IS NULL THEN $e ELSE __q.`$n` END AS `$n`"
              case None => s"__q.`$n`"
            }
          }.mkString(",\n  ")
        case None =>
          require(interpItems.isEmpty,
            "WITH FILL INTERPOLATE needs the schema-aware SQL entry point " +
              "(GraftSql.chSql) — the rewrite must know the body's columns")
          s"""coalesce(__q.$col, __fx.__fill_x) AS $col,
             |  __q.* EXCEPT ($col)""".stripMargin
      }
      s"""${cte}SELECT $selectList
         |FROM $fromBody __q
         |FULL OUTER JOIN $axis __fx ON __q.$col = __fx.__fill_x
         |ORDER BY $col$ordDir$limit""".stripMargin
    case _ =>
      require("(?i)\\bWITH\\s+FILL\\b".r.findFirstIn(s).isEmpty,
        "WITH FILL: only `ORDER BY col [ASC|DESC] WITH FILL [FROM a TO b] " +
          "[STEP s] [INTERPOLATE (…)]` over a single plain-identifier key " +
          "is supported")
      s
  }

  // the ARRAY JOIN clause sits between the FROM refs and the first
  // boundary keyword (or the `)` closing the subquery it lives in) —
  // the same place Spark puts LATERAL VIEW, so the rewrite is positional
  private val arrayJoinRe = "(?i)\\b(LEFT\\s+)?ARRAY\\s+JOIN\\b".r
  private val ajBoundaryPat = java.util.regex.Pattern.compile(
    "(?i)\\b(WHERE|GROUP\\s+BY|HAVING|ORDER\\s+BY|LIMIT|SETTINGS|" +
      "UNION|WINDOW|LATERAL|ARRAY\\s+JOIN|LEFT\\s+ARRAY\\s+JOIN)\\b")
  private val ajAsSplit = "(?i)\\s+AS\\s+".r
  private val identRe = "[A-Za-z_][A-Za-z0-9_]*".r

  /** `[LEFT] ARRAY JOIN expr AS alias` → `LATERAL VIEW [OUTER]
    * explode(expr) __ajN AS alias` (doc in the class header). `n`
    * numbers the generator table aliases so chained ARRAY JOINs in one
    * statement never collide.
    */
  private def rewriteArrayJoin(s: String, n: Int): String =
    arrayJoinRe.findFirstMatchIn(s) match {
      case None => s
      case Some(m) =>
        val left = m.group(1) != null
        val tail = s.substring(m.end)
        // clause end = the earliest of: a boundary keyword at paren
        // depth 0, an unmatched ')' (the clause sits in a subquery), or
        // end-of-text
        var end = tail.length
        val bm = ajBoundaryPat.matcher(tail)
        var from = 0
        var done = false
        while (!done && bm.find(from)) {
          val d = tail.substring(0, bm.start).foldLeft(0)((a, c) =>
            if (c == '(') a + 1 else if (c == ')') a - 1 else a)
          if (d == 0) { end = bm.start; done = true } else from = bm.end
        }
        var depth = 0
        var i = 0
        while (i < end) {
          tail.charAt(i) match {
            case '(' => depth += 1
            case ')' => if (depth == 0) { end = i } else depth -= 1
            case _ => ()
          }
          i += 1
        }
        val body = wtrim(tail.substring(0, end))
        // top-level commas split CH's zipped multi-array form
        // (`ARRAY JOIN a AS x, b AS y` explodes the arrays in LOCKSTEP —
        // one output row per index, not a cross product)
        val items = {
          val out = scala.collection.mutable.ListBuffer.empty[String]
          var d2 = 0
          var start = 0
          body.zipWithIndex.foreach { case (c, i) =>
            if (c == '(') d2 += 1 else if (c == ')') d2 -= 1
            else if (c == ',' && d2 == 0) { out += body.substring(start, i); start = i + 1 }
          }
          out += body.substring(start)
          out.toList.map(wtrim)
        }
        // each item: the LAST top-level AS splits expr from alias (an AS
        // inside a parenthesized expr never sits at depth 0)
        val pairs = items.map { item =>
          val asAt = ajAsSplit.findAllMatchIn(item).toList.filter { am =>
            item.substring(0, am.start).foldLeft(0)((a, c) =>
              if (c == '(') a + 1 else if (c == ')') a - 1 else a) == 0
          }.lastOption.getOrElse(throw new IllegalArgumentException(
            "ARRAY JOIN without AS: ClickHouse makes the element shadow " +
              "the array column, which a LATERAL VIEW rewrite cannot " +
              "express unambiguously — write ARRAY JOIN expr AS alias"))
          val expr = wtrim(item.substring(0, asAt.start))
          val alias = wtrim(item.substring(asAt.end))
          require(identRe.pattern.matcher(alias).matches(),
            s"ARRAY JOIN … AS $alias: the alias must be a plain identifier")
          (expr, alias)
        }
        val outer = if (left) "OUTER " else ""
        val view = pairs match {
          case (expr, alias) :: Nil =>
            s"LATERAL VIEW ${outer}explode($expr) __aj$n AS $alias "
          case many =>
            // zipped form → inline(arrays_zip(…)): one generated row per
            // index, struct fields aliased positionally. Length mismatch:
            // arrays_zip NULL-pads the shorter arrays (ClickHouse throws
            // on unequal sizes — documented divergence, the NULL-vs-
            // default stance of the single-array form)
            s"LATERAL VIEW ${outer}inline(arrays_zip(" +
              s"${many.map(_._1).mkString(", ")})) __aj$n AS " +
              s"${many.map(_._2).mkString(", ")} "
        }
        s.substring(0, m.start) + view +
          rewriteArrayJoin(tail.substring(end), n + 1)
    }

  /** Rewrite every `fn(args…)` call in `s` (case-insensitive, balanced
    * parens, top-level comma split) via `f`. Args are NOT re-entered —
    * the surrounding simple passes already ran on the whole segment.
    */
  private def rewriteCall(s: String, fn: String,
                          f: List[String] => String): String = {
    val re = cachedRe(s"(?i)\\b$fn\\(")
    re.findFirstMatchIn(s) match {
      case None => s
      case Some(m) =>
        val (args, end) = balancedArgs(s, m.end - 1)
        s.substring(0, m.start) + f(args) + rewriteCall(s.substring(end), fn, f)
    }
  }

  /** `fn(a)(x)` → `percentile(x, a)` — the CH parameterized-aggregate
    * (combinator) call shape.
    */
  private def rewriteCombinator(s: String, fn: String): String = {
    val re = cachedRe(s"(?i)\\b$fn\\(")
    re.findFirstMatchIn(s) match {
      case None => s
      case Some(m) =>
        val (params, afterParams) = balancedArgs(s, m.end - 1)
        val rest = s.substring(afterParams)
        require(rest.startsWith("("),
          s"$fn(q)(x): expected the argument list right after the parameter list")
        val (args, end) = balancedArgs(rest, 0)
        s.substring(0, m.start) +
          s"percentile(${args.mkString(", ")}, ${params.mkString(", ")})" +
          rewriteCombinator(s.substring(afterParams + end), fn)
    }
  }

  /** Whitespace-only trim: `String.trim` strips every char ≤ 0x20,
    * which would eat a literal-mask [[Sentinel]] sitting at an argument
    * edge and orphan its placeholder past restoration.
    */
  private def wtrim(s: String): String = {
    def ws(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r'
    val a = s.indexWhere(!ws(_))
    if (a < 0) "" else s.substring(a, s.lastIndexWhere(!ws(_)) + 1)
  }

  /** From the `(` at `open`, return the top-level comma-split argument
    * strings and the index just past the matching `)`.
    */
  private def balancedArgs(s: String, open: Int): (List[String], Int) = {
    require(open < s.length && s.charAt(open) == '(', "expected (")
    var depth = 0
    var i = open
    val args = scala.collection.mutable.ListBuffer.empty[String]
    var argStart = open + 1
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) {
            val a = wtrim(s.substring(argStart, i))
            if (a.nonEmpty || args.nonEmpty) args += a
            return (args.toList, i + 1)
          }
        case ',' if depth == 1 =>
          args += wtrim(s.substring(argStart, i))
          argStart = i + 1
        case _ => ()
      }
      i += 1
    }
    throw new IllegalArgumentException(
      s"unbalanced parentheses after position $open in: $s")
  }
}
