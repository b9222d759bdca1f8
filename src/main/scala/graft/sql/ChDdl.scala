package graft.sql

import org.apache.spark.sql.types._
import graft.catalog.{Aggregating, Append, Catalog, Collapsing, JoinAny,
  NullEngine, ReplacingDedup, Summing, TableDef}
import graft.schema.ChType
import graft.schema.ChType._

/** ClickHouse `CREATE TABLE` text → a registered [[TableDef]] — the DDL
  * entry point the reference's own surface is written in
  * (create_db.py:30-128, types.json `schema` strings): a user pastes the
  * DDL they run today and gets the engine's analog of every clause.
  *
  * Clause mapping (each verified against the reference's own DDL by
  * ChDdlSpec):
  *
  *   - column types through the [[graft.schema.ChType]] algebra (unsigned
  *     widens, Enum8/16 → validated String + an automatic CHECK
  *     constraint from the declared value set, `LowCardinality(T)` → the
  *     inner type PLUS a `lowcardinality` per-column codec — parquet
  *     dictionary encoding, the storage analog);
  *   - `MATERIALIZED expr` → [[TableDef.materializedCols]], the
  *     expression rewritten through [[ChDialect]] (so `now()` etc. work
  *     as written); `CONSTRAINT n CHECK e` → constraints, same rewrite;
  *   - `INDEX n col TYPE bloom_filter/minmax/set(N)/tokenbf_v1` → the
  *     four skip-index families;
  *   - `ENGINE =` MergeTree → Append; ReplacingMergeTree(ver) →
  *     ReplacingDedup (no-argument form resolves its version to the
  *     reference's own `updated_at MATERIALIZED now()` idiom when that
  *     column exists — an arrival ordinal is REQUIRED for deterministic
  *     last-wins, so absent both it fails loudly); SummingMergeTree
  *     ([cols]; default = non-key numerics, the CH rule);
  *     VersionedCollapsingMergeTree(sign, ver) → Collapsing; Null; Join
  *     (ANY, LEFT, keys) → JoinAny; KeeperMap('path') → [[CreateQueue]]
  *     (the reference's queue tables — our analog is the CAS
  *     [[graft.queue.WorkQueue]], not a Catalog table);
  *   - `ORDER BY` → sortKeys (`tuple()` → none); `PRIMARY KEY` must be a
  *     sortKeys prefix (the CH rule; for KeeperMap it is the queue key);
  *   - `PARTITION BY col` → partitionKeys; `PARTITION BY toYYYYMM(col)`
  *     — the commonest CH partition expression — materializes the month
  *     ordinal as a stored column and partitions by it;
  *   - `SAMPLE BY col` → [[Catalog.withSampleBy]] (stored bucket column,
  *     minmax pruning — the X85 machinery);
  *   - `SETTINGS`/`TTL`/`COMMENT` parse and surface as warnings (engine
  *     tuning knobs with no Spark-side meaning never silently change a
  *     table's shape).
  *
  * Unsupported engines (AggregatingMergeTree — state kinds are a typed
  * declaration, not inferable from DDL; sign-only CollapsingMergeTree —
  * this engine implements the versioned variant) fail loudly.
  */
object ChDdl {

  sealed trait Statement
  /** A parsed table: register with `cat.createTable(t.tableDef)`. */
  final case class CreateTable(tableDef: TableDef, warnings: Seq[String])
    extends Statement
  /** A KeeperMap queue table — the WorkQueue shape, not a Catalog table. */
  final case class CreateQueue(name: String, primaryKey: String,
                               keeperPath: String) extends Statement
  /** `CREATE MATERIALIZED VIEW name TO target AS select` — the reference's
    * insert-trigger rollup (README.md:256-262). `source` is the single
    * FROM table; registering wires the select as the per-batch transform
    * of the catalog's MV cascade.
    */
  final case class CreateMaterializedView(name: String, target: String,
                                          source: String, selectSql: String,
                                          populate: Boolean = false)
    extends Statement

  /** The TO-less spelling `CREATE MATERIALIZED VIEW mv ENGINE = …
    * POPULATE AS SELECT …` (round 13) — ClickHouse's implicit-inner-
    * table form. The inner target lands as `<mv>_inner` (flat namespace
    * analog of CH's `.inner.<mv>`), created + backfilled through the
    * CTAS machinery, then the insert trigger registers on top.
    */
  final case class CreateMaterializedViewInner(name: String,
      clauses: String, source: String, selectSql: String) extends Statement
  /** `INSERT INTO target select` — the reference's MV backfill
    * (README.md:263-266): run once over the source table's CURRENT
    * contents, append to the target.
    */
  /** `INSERT INTO t [(cols…)] VALUES (…), (…)` — the literal-tuple insert
    * (ClickHouse's most everyday statement). Omitted columns take the
    * table's insert defaults through the normal append fill; tuples are
    * typed against the declared schema (cast at insert, reject on
    * non-castable). MATERIALIZED columns must not be supplied, the same
    * rule as every other insert door.
    */
  final case class InsertValues(target: String, columns: Seq[String],
                                valuesSql: String) extends Statement
  /** `INSERT INTO t [(cols…)] FORMAT JSONEachRow|CSV|TSV… <payload>` —
    * the CH-CLI inline-data insert. Payload lines parse against the
    * declared sub-schema; per-row ABSENT fields take the column's
    * declared DEFAULT when one exists, else the CH type default (the
    * JSONEachRow semantics); omitted columns fill like InsertValues.
    * Feed FORMAT payloads through execute(), not runScript — the script
    * splitter would cut a payload containing `;`.
    */
  final case class InsertFormat(target: String, columns: Seq[String],
                                format: String, payload: String)
    extends Statement
  /** `INSERT INTO t [(cols)] FROM INFILE 'path' [COMPRESSION 'gzip']
    * [FORMAT fmt]` — the CLI ingest counterpart of INTO OUTFILE (X117):
    * the file's text IS the FORMAT payload, parsed and default-filled by
    * the same [[InsertFormat]] machinery (FAILFAST, WithNames header
    * binding). Format infers from the extension when omitted
    * (.csv/.tsv/.jsonl/.ndjson, through a .gz wrapper); gzip is the one
    * supported compression (JDK built-in — the catalog codec stance).
    * Parquet INFILE refuses toward `INSERT … SELECT … FROM file(p,
    * 'Parquet')`: a columnar file is a scan, not a text payload.
    * Relative paths resolve like file(): -Dgraft.files.dir /
    * $SPARK_GRAFT_FILES_DIR, loud refusal when unset.
    */
  final case class InsertInfile(target: String, columns: Seq[String],
                                path: String, compression: Option[String],
                                format: Option[String]) extends Statement
  final case class InsertSelect(target: String, source: String,
                                selectSql: String) extends Statement
  /** `CREATE TABLE t ENGINE … ORDER BY … AS SELECT …` — CTAS, the
    * migration/runbook workhorse: CreateTable + InsertSelect composed,
    * the schema DERIVED from the SELECT (no column list). `clauses` is
    * the raw ENGINE/ORDER BY/… text between the name and `AS`; execute()
    * analyzes the select, renders its output schema back to CH column
    * declarations, and re-enters the normal CREATE TABLE parse — so every
    * engine/key validation applies to the derived schema unchanged.
    */
  final case class CreateTableAs(name: String, path: String, clauses: String,
                                 source: String, selectSql: String)
    extends Statement

  /** `CREATE QUOTA q FOR INTERVAL n unit MAX dim = v, … TO users`
    * (round 13) — routed to [[graft.catalog.QueryGovernor.createQuota]].
    * Limits are per-interval; execution_time is declared in SECONDS
    * (CH's unit) and carried here in ms.
    */
  final case class CreateQuota(name: String, users: Seq[String],
                               intervalMs: Long, maxQueries: Long,
                               maxErrors: Long, maxResultRows: Long,
                               maxExecMs: Long) extends Statement
  final case class DropQuota(name: String, ifExists: Boolean)
    extends Statement

  /** Users & roles as text (round 13): names the policy registries
    * address — see the Catalog registry doc (no authentication layer in
    * a single process; IDENTIFIED clauses parse and are noted no-ops).
    */
  final case class CreateUser(name: String, auth: String,
                              ifNotExists: Boolean) extends Statement
  final case class DropUser(name: String, ifExists: Boolean)
    extends Statement
  final case class CreateRole(name: String, ifNotExists: Boolean)
    extends Statement
  final case class DropRole(name: String, ifExists: Boolean)
    extends Statement
  final case class GrantRoles(roles: Seq[String], users: Seq[String])
    extends Statement
  final case class RevokeRoles(roles: Seq[String], users: Seq[String])
    extends Statement
  /** `DROP TABLE IF EMPTY t` — drops only when the table holds no rows. */
  final case class DropTableIfEmpty(table: String) extends Statement

  /** `CREATE TABLE d (cols…) ENGINE = Distributed(cluster, db, t, key)`
    * (round 13) — a facade declaration over already-registered member
    * tables; execution routes to [[graft.catalog.DistributedCatalog
    * .declare]] (member resolution, schema validation, `_DIST` sidecar).
    */
  final case class CreateDistributed(name: String, path: String,
                                     cluster: String, db: String,
                                     memberBase: String, shardKey: String,
                                     schema: StructType)
    extends Statement

  /** One command of an `ALTER TABLE` statement. ClickHouse joins several
    * with commas; each maps 1:1 onto a [[Catalog]] verb (all already
    * crash-safe), so the text entry point is dispatch, not new machinery.
    */
  sealed trait AlterCmd
  final case class AddColumnCmd(field: StructField,
                                defaultSql: Option[String]) extends AlterCmd
  final case class DropColumnCmd(column: String) extends AlterCmd
  /** Parsed-and-ignored ALTER commands (MODIFY/RESET SETTING, MODIFY
    * COMMENT): storage knobs with no Spark-side meaning — acknowledged
    * loudly, the statement-level SETTINGS/COMMENT warning precedent.
    */
  final case class NoopAlterCmd(text: String, note: String) extends AlterCmd
  final case class RenameColumnCmd(from: String, to: String) extends AlterCmd
  final case class ModifyColumnCmd(column: String,
                                   newType: DataType) extends AlterCmd
  /** `MODIFY COLUMN c DEFAULT expr` (Some) / `… c REMOVE DEFAULT` (None). */
  final case class ModifyDefaultCmd(column: String,
                                    defaultSql: Option[String]) extends AlterCmd
  final case class DeleteCmd(whereSql: String) extends AlterCmd
  final case class UpdateCmd(set: Seq[(String, String)],
                             whereSql: String) extends AlterCmd
  final case class DropPartitionCmd(value: String) extends AlterCmd
  final case class DetachPartitionCmd(value: String) extends AlterCmd
  final case class AttachPartitionCmd(value: String) extends AlterCmd
  final case class FreezeCmd(tag: String) extends AlterCmd
  final case class AddProjectionCmd(spec: graft.catalog.ProjectionSpec)
    extends AlterCmd
  final case class DropProjectionCmd(name: String) extends AlterCmd
  final case class MaterializeProjectionCmd(name: String) extends AlterCmd
  final case class ModifyTtlCmd(spec: graft.catalog.TtlSpec) extends AlterCmd
  case object RemoveTtlCmd extends AlterCmd
  /** `ALTER TABLE … MATERIALIZE TTL` — run the declared sweep now, wall
    * clock (CH applies TTL on merges; this is the explicit trigger). */
  case object MaterializeTtlCmd extends AlterCmd
  /** `ADD INDEX name col TYPE kind(args)` — declared NAME is advisory;
    * the engine's canonical spelling (bf_/mm_/… + column) is what SHOW
    * CREATE emits and what DROP/MATERIALIZE resolve. */
  final case class AddIndexCmd(idxName: String, column: String,
                               kind: String, args: Seq[Int]) extends AlterCmd
  final case class DropIndexCmd(idxName: String,
                                ifExists: Boolean) extends AlterCmd
  final case class MaterializeIndexCmd(idxName: String) extends AlterCmd
  final case class ClearIndexCmd(idxName: String) extends AlterCmd

  /** `ALTER TABLE name cmd[, cmd…]` — the runbook mutation surface. */
  final case class AlterTable(table: String, cmds: Seq[AlterCmd])
    extends Statement
  /** `OPTIMIZE TABLE name [FINAL] [DEDUPLICATE [BY cols]]`. */
  final case class OptimizeTable(table: String, dedup: Boolean,
                                 by: Seq[String]) extends Statement
  /** `TRUNCATE TABLE [IF EXISTS] name`. */
  final case class TruncateTable(table: String) extends Statement
  /** `DROP TABLE [IF EXISTS] name` — deregister + delete storage. */
  final case class DropTable(table: String, ifExists: Boolean)
    extends Statement
  /** `DETACH TABLE name` — deregister, keep storage ([[Catalog.detach]]). */
  final case class DetachTable(table: String) extends Statement
  /** `ATTACH TABLE name` — re-register from the warehouse path's `_TABLE`
    * sidecar ([[Catalog.attach]]); needs the warehouse arg of execute().
    */
  final case class AttachTable(table: String) extends Statement
  /** `RENAME TABLE a TO b[, c TO d …]`. */
  final case class RenameTable(pairs: Seq[(String, String)]) extends Statement
  /** `EXCHANGE TABLES a AND b` — the zero-downtime swap. */
  final case class ExchangeTables(a: String, b: String) extends Statement
  /** `CREATE [OR REPLACE] VIEW v AS SELECT …` — a SESSION temp view over
    * the rewritten select. Catalog sources referenced by the select are
    * bound as temp views at CREATE, so the view captures a SNAPSHOT of
    * their file listing (ClickHouse views are live — documented
    * divergence; the durable live shapes here are the MV cascade and
    * refreshable views).
    */
  final case class CreateView(name: String, selectSql: String,
                              orReplace: Boolean) extends Statement
  /** `DROP VIEW [IF EXISTS] v` (session temp views). Without
    * `IF EXISTS`, dropping a missing view is an ERROR (CH semantics) —
    * a runbook typo must not pass as a silent no-op. */
  final case class DropView(name: String, ifExists: Boolean = false)
    extends Statement
  /** `CREATE DICTIONARY d (cols) PRIMARY KEY k SOURCE(CLICKHOUSE(TABLE
    * 't')) LAYOUT(FLAT|HASHED|COMPLEX_KEY_HASHED) [LIFETIME(…)]` — the
    * declaration layer over the [[graft.operators.Dictionaries]] engine:
    * execute() binds the probe view and registers the [[DictRegistry]]
    * entry `dictGet` rewrites resolve against. `attrs` carries every
    * non-key declared column with its miss-default SQL literal.
    */
  final case class CreateDictionary(name: String, source: String,
                                    keys: Seq[String],
                                    cols: Seq[(String, DataType, Option[String])],
                                    layout: String) extends Statement
  final case class DropDictionary(name: String, ifExists: Boolean)
    extends Statement
  /** `SYSTEM <command>` — the ops-runbook statement class. `DROP QUERY
    * CACHE` clears the process query cache (real); everything else
    * acknowledges as a LOUD no-op: merges/TTL run on demand here
    * (OPTIMIZE / MATERIALIZE TTL), dictionaries evaluate per query, and
    * caches are process-local — a pasted runbook's SYSTEM lines must
    * neither crash the script nor silently pretend.
    */
  final case class SystemCmd(command: String) extends Statement
  /** `USE db` — the namespace here is FLAT (SHOW DATABASES lists
    * default + system): `USE default` is the no-op it already is;
    * anything else refuses loudly rather than silently switching to a
    * namespace that doesn't exist.
    */
  final case class UseDb(db: String) extends Statement
  /** Standalone `SET name = value` — CH session settings. The SystemCmd
    * stance: execution engines differ too much for a silent mapping, so
    * the statement acknowledges as a LOUD no-op (per-query `SETTINGS`
    * tails are already accepted and stripped; engine knobs live in
    * SparkSession confs). A pasted runbook's SET lines must neither
    * crash the script nor silently pretend to take effect.
    */
  final case class SetSetting(name: String, value: String) extends Statement
  /** `DELETE FROM t WHERE p` — ClickHouse's standalone LIGHTWEIGHT delete
    * (deletion vectors, O(matches)), vs `ALTER TABLE … DELETE WHERE`'s
    * full mutation rewrite. Dispatched to
    * [[graft.catalog.Catalog.deleteLightweight]].
    */
  final case class LightweightDelete(table: String,
                                     whereSql: String) extends Statement
  /** `GRANT SELECT(cols…) ON t TO users…` — column-level access, dispatched
    * to [[graft.catalog.Catalog.grantColumns]] (X82's engine). */
  final case class Grant(table: String, users: Seq[String],
                         columns: Seq[String]) extends Statement
  /** `CREATE ROW POLICY name ON t [FOR SELECT] USING pred TO users…`. */
  final case class CreateRowPolicy(name: String, table: String,
                                   users: Seq[String],
                                   predicateSql: String) extends Statement

  // POPULATE (backfill-at-create) is accepted on BOTH spellings: with
  // TO (a documented permissive divergence — CH refuses POPULATE+TO,
  // but every MV here has an explicit target) and the CH-native TO-less
  // ENGINE form (implicit inner table)
  private val mvRe =
    ("(?is)^\\s*CREATE\\s+MATERIALIZED\\s+VIEW\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?" +
      "([`\\w.]+)\\s+TO\\s+([`\\w.]+)\\s+(POPULATE\\s+)?AS\\s+(SELECT\\b.*)$").r
  private val mvEngineRe =
    ("(?is)^\\s*CREATE\\s+MATERIALIZED\\s+VIEW\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?" +
      "([`\\w.]+)\\s+(ENGINE\\s*=.+?)\\s+POPULATE\\s+AS\\s+(SELECT\\b.*)$").r
  private val insRe =
    "(?is)^\\s*INSERT\\s+INTO\\s+([`\\w.]+)\\s+(SELECT\\b.*)$".r
  private val insValRe =
    ("(?is)^\\s*INSERT\\s+INTO\\s+([`\\w.]+)\\s*(?:\\(([^)]*)\\)\\s*)?" +
      "VALUES\\s+(.+)$").r
  private val insFmtRe =
    ("(?is)^\\s*INSERT\\s+INTO\\s+([`\\w.]+)\\s*(?:\\(([^)]*)\\)\\s*)?" +
      "FORMAT\\s+(\\w+)[ \\t]*\\r?\\n(.+)$").r
  private val insInfileRe =
    ("(?is)^\\s*INSERT\\s+INTO\\s+([`\\w.]+)\\s*(?:\\(([^)]*)\\)\\s*)?" +
      "FROM\\s+INFILE\\s+'([^']+)'" +
      "(?:\\s+COMPRESSION\\s+'(\\w+)')?" +
      "(?:\\s+FORMAT\\s+(\\w+))?\\s*$").r
  private val fromRe = "(?is)\\bFROM\\s+([`\\w.]+)".r

  private def bare(n: String): String = n.replace("`", "").split('.').last

  private def sourceOf(select: String, what: String): String =
    fromRe.findFirstMatchIn(select).map(m => bare(m.group(1)))
      .getOrElse(throw new IllegalArgumentException(
        s"$what: SELECT has no FROM table"))

  private val delFromRe =
    "(?is)^\\s*DELETE\\s+FROM\\s+([`\\w.]+)\\s+WHERE\\s+(.+)$".r
  private val grantRe =
    "(?is)^\\s*GRANT\\s+SELECT\\s*\\(([^)]*)\\)\\s+ON\\s+([`\\w.]+)\\s+TO\\s+(.+?)\\s*$".r
  private val rowPolicyRe =
    ("(?is)^\\s*CREATE\\s+ROW\\s+POLICY\\s+(\\w+)\\s+ON\\s+([`\\w.]+)\\s+" +
      "(?:FOR\\s+SELECT\\s+)?USING\\s+(.+?)\\s+TO\\s+(.+?)\\s*$").r

  private val alterRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+([`\\w.]+)\\s+(.+)$".r
  private val optimizeRe =
    ("(?is)^\\s*OPTIMIZE\\s+TABLE\\s+([`\\w.]+)(\\s+FINAL)?" +
      "(?:\\s+DEDUPLICATE(?:\\s+BY\\s+(.+?))?)?\\s*$").r
  private val truncateRe =
    "(?is)^\\s*TRUNCATE\\s+TABLE\\s+(?:IF\\s+EXISTS\\s+)?([`\\w.]+)\\s*$".r
  private val dropTableRe =
    "(?is)^\\s*DROP\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?([`\\w.]+)\\s*$".r
  // PERMANENTLY parses and strips: single-process detach IS permanent
  // (nothing auto-reattaches; ATTACH TABLE is the explicit undo)
  private val detachTableRe =
    "(?is)^\\s*DETACH\\s+TABLE\\s+([`\\w.]+)(?:\\s+PERMANENTLY)?\\s*$".r
  private val attachTableRe =
    "(?is)^\\s*ATTACH\\s+TABLE\\s+([`\\w.]+)\\s*$".r
  private val renameTableRe =
    "(?is)^\\s*RENAME\\s+TABLE\\s+(.+)$".r
  private val exchangeRe =
    "(?is)^\\s*EXCHANGE\\s+TABLES\\s+([`\\w.]+)\\s+AND\\s+([`\\w.]+)\\s*$".r
  private val viewRe =
    ("(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?VIEW\\s+" +
      "(?:IF\\s+NOT\\s+EXISTS\\s+)?([`\\w.]+)\\s+AS\\s+(SELECT\\b.*)$").r
  private val dropViewRe =
    "(?is)^\\s*DROP\\s+VIEW\\s+(IF\\s+EXISTS\\s+)?([`\\w.]+)\\s*$".r
  // CH's dictionary DDL: the column block ends at `) PRIMARY KEY` (no
  // declared type ever emits that token sequence), clauses follow in
  // CH's own order; LIFETIME is accepted and ignored — the dictionary
  // serves a SNAPSHOT of the source taken at CREATE (CH's loaded-copy
  // model), refreshed by re-running CREATE DICTIONARY
  private val dictRe =
    ("(?is)^\\s*CREATE\\s+DICTIONARY\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?" +
      "([`\\w.]+)\\s*\\((.*?)\\)\\s*PRIMARY\\s+KEY\\s+(.+?)\\s*" +
      "SOURCE\\s*\\(\\s*(\\w+)\\s*\\((.*?)\\)\\s*\\)\\s*" +
      "LAYOUT\\s*\\(\\s*(\\w+)\\s*(?:\\(\\s*\\))?\\s*\\)" +
      "(?:\\s*LIFETIME\\s*\\([^)]*\\))?\\s*$").r
  private val dropDictRe =
    "(?is)^\\s*DROP\\s+DICTIONARY\\s+(IF\\s+EXISTS\\s+)?([`\\w.]+)\\s*$".r
  // CH quota DDL: `KEYED BY user_name` is the only keying this per-user
  // governor implements — it parses and strips; other keyings refuse at
  // the regex (loud parse error names the expected shape)
  private val createQuotaRe =
    ("(?is)^\\s*CREATE\\s+QUOTA\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?([`\\w]+)\\s+" +
      "(?:KEYED\\s+BY\\s+user_name\\s+)?FOR\\s+INTERVAL\\s+(\\d+)\\s+(\\w+)\\s+" +
      "MAX\\s+(.+?)\\s+TO\\s+(.+?)\\s*$").r
  private val dropQuotaRe =
    "(?is)^\\s*DROP\\s+QUOTA\\s+(IF\\s+EXISTS\\s+)?([`\\w]+)\\s*$".r
  private val createUserRe =
    ("(?is)^\\s*CREATE\\s+USER\\s+(IF\\s+NOT\\s+EXISTS\\s+)?([`\\w]+)" +
      "(?:\\s+IDENTIFIED\\s+(?:WITH\\s+(\\w+)|BY\\s+'[^']*'))?\\s*$").r
  private val dropUserRe =
    "(?is)^\\s*DROP\\s+USER\\s+(IF\\s+EXISTS\\s+)?([`\\w]+)\\s*$".r
  private val createRoleRe =
    "(?is)^\\s*CREATE\\s+ROLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?([`\\w]+)\\s*$".r
  private val dropRoleRe =
    "(?is)^\\s*DROP\\s+ROLE\\s+(IF\\s+EXISTS\\s+)?([`\\w]+)\\s*$".r
  // the ROLE grant form has no `ON t` (the column-grant form does) and
  // no call parens — checked AFTER grantRe so SELECT(cols) ON wins
  private val grantRoleRe =
    ("(?is)^\\s*GRANT\\s+([`\\w]+(?:\\s*,\\s*[`\\w]+)*)\\s+TO\\s+" +
      "([`\\w]+(?:\\s*,\\s*[`\\w]+)*)\\s*$").r
  private val revokeRoleRe =
    ("(?is)^\\s*REVOKE\\s+([`\\w]+(?:\\s*,\\s*[`\\w]+)*)\\s+FROM\\s+" +
      "([`\\w]+(?:\\s*,\\s*[`\\w]+)*)\\s*$").r
  private val dropIfEmptyRe =
    "(?is)^\\s*DROP\\s+TABLE\\s+IF\\s+EMPTY\\s+([`\\w.]+)\\s*$".r
  private val systemRe = "(?is)^\\s*SYSTEM\\s+(.+?)\\s*$".r
  private val useRe = "(?is)^\\s*USE\\s+([`\\w]+)\\s*$".r
  // value = a number, literal (with '' escapes), or bare word (CH
  // accepts all three)
  private val setRe =
    "(?is)^\\s*SET\\s+(\\w+)\\s*=\\s*('(?:[^']|'')*'|[\\w.]+)\\s*$".r

  /** `ON CLUSTER 'x'` — every prod CH runbook stamps it on DDL; a
    * single-process engine has no cluster to fan out to. The clause
    * strips with a loud note (the SYSTEM/SET acknowledgement precedent)
    * and the statement executes locally. Matches inside quoted string /
    * backtick literals are NEVER touched (an inserted value reading
    * "retry ON CLUSTER main" is data, not a clause), and every
    * grammatical occurrence strips — a doubled clause or a pasted
    * multi-statement line gets the same treatment per occurrence
    * instead of leaving the second to fail a downstream parse.
    */
  private val onClusterRe =
    "(?i)\\s+ON\\s+CLUSTER\\s+('[^']+'|`[^`]+`|[\\w.]+)".r
  /** Quoted spans of `t`: '…' with '' escaping, and `…` identifiers —
    * a rewrite whose match starts inside one is touching literal text,
    * not grammar (stripOnCluster, query-parameter substitution).
    */
  private def quotedSpans(t: String): Seq[(Int, Int)] = {
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (c == '\'' || c == '`') {
        val start = i; i += 1
        var closed = false
        while (i < t.length && !closed) {
          if (t.charAt(i) == c) {
            if (c == '\'' && i + 1 < t.length && t.charAt(i + 1) == '\'')
              i += 2 // doubled-quote escape
            else { closed = true; i += 1 }
          } else i += 1
        }
        spans += ((start, i))
      } else i += 1
    }
    spans.toSeq
  }

  private[graft] def stripOnCluster(ddl: String): String = {
    var out = ddl
    var found = true
    while (found) {
      val spans = quotedSpans(out)
      def inLiteral(pos: Int) = spans.exists(sp => pos >= sp._1 && pos < sp._2)
      // test the KEYWORD position (m.start), not the operand: a real
      // clause's operand may itself be a quoted literal (`ON CLUSTER
      // 'main'`) and must still strip
      onClusterRe.findAllMatchIn(out)
        .find(m => !inLiteral(m.start)) match {
        case None => found = false
        case Some(m) =>
          System.err.println(s"[chddl] ON CLUSTER ${m.group(1).trim}: " +
            "single-process engine — no cluster to fan out to; the clause " +
            "strips and the statement executes locally")
          out = out.substring(0, m.start) + out.substring(m.end)
      }
    }
    out
  }

  // ---- query parameters (round 14) ---------------------------------------

  private val paramRe = "\\{\\s*([A-Za-z_]\\w*)\\s*:\\s*([^{}']+?)\\s*\\}".r

  /** CH parameter type → Spark SQL cast target — the X147 CAST-wrapper
    * algebra (Nullable/LowCardinality collapse; FixedString is STRING)
    * without the dialect's literal-mask plumbing. Array parameters
    * refuse: a string cast cannot build an array — inline the list.
    */
  private def paramSparkType(t0: String): String = {
    val t = t0.trim
    val base = t.takeWhile(_ != '(').trim.toLowerCase
    def inner = t.substring(t.indexOf('(') + 1, t.lastIndexOf(')')).trim
    base match {
      case "nullable" | "lowcardinality" if t.contains('(') =>
        paramSparkType(inner)
      case "array" | "map" | "tuple" => throw new IllegalArgumentException(
        s"{…:$t0}: composite parameter types have no string-cast " +
          "lowering — inline the literal list in the query")
      case "uint8" | "uint16" | "int32" => "INT"
      case "int8" => "TINYINT"
      case "int16" => "SMALLINT"
      case "uint32" | "uint64" | "int64" => "BIGINT"
      case "float32" => "FLOAT"
      case "float64" => "DOUBLE"
      case "string" | "fixedstring" | "uuid" => "STRING"
      case "date" | "date32" => "DATE"
      case "datetime" | "datetime64" => "TIMESTAMP"
      case "bool" | "boolean" => "BOOLEAN"
      case "decimal" if t.contains('(') => s"DECIMAL($inner)"
      case other => throw new IllegalArgumentException(
        s"{…:$t0}: unsupported parameter type '$other'")
    }
  }

  /** `{name:Type}` query-parameter substitution (the Grafana/CLI
    * staple): each placeholder outside a quoted literal substitutes the
    * value bound by `SET param_<name> = …` on this catalog, typed
    * through a CAST with the declared CH type; `Identifier` substitutes
    * raw (validated). An unbound parameter refuses loudly naming the
    * SET form.
    */
  private[graft] def substituteParams(cat: Catalog, text: String): String = {
    if (text.indexOf('{') < 0) return text
    val spans = quotedSpans(text)
    def inLiteral(pos: Int) = spans.exists(sp => pos >= sp._1 && pos < sp._2)
    val sb = new StringBuilder
    var last = 0
    paramRe.findAllMatchIn(text).foreach { m =>
      if (!inLiteral(m.start)) {
        val (name, ty) = (m.group(1), m.group(2).trim)
        val v = cat.sessionParams.getOrElse(name,
          throw new IllegalArgumentException(
            s"query parameter {$name:$ty}: not bound — run " +
              s"`SET param_$name = <value>` first"))
        val repl =
          if (ty.equalsIgnoreCase("Identifier")) {
            require(v.matches("[A-Za-z_][A-Za-z0-9_.]*"),
              s"{$name:Identifier}: bound value '$v' is not an identifier")
            v
          } else s"CAST('${v.replace("'", "''")}' AS ${paramSparkType(ty)})"
        sb.append(text.substring(last, m.start)).append(repl)
        last = m.end
      }
    }
    if (last == 0) text else { sb.append(text.substring(last)); sb.toString }
  }

  /** Parse `ddl`; a CreateTable is rooted at `path`. */
  def parse(ddl0: String, path: String): Statement = {
    val ddl = stripOnCluster(ddl0)
    alterRe.findFirstMatchIn(ddl).foreach { m =>
      return AlterTable(bare(m.group(1)), parseAlterCmds(m.group(2).trim))
    }
    optimizeRe.findFirstMatchIn(ddl).foreach { m =>
      val hasDedup = "(?i)\\bDEDUPLICATE\\b".r.findFirstIn(ddl).isDefined
      val by = Option(m.group(3)).map(b =>
        splitTopLevel(b).map(_.trim.replace("`", ""))).getOrElse(Nil)
      return OptimizeTable(bare(m.group(1)), hasDedup, by)
    }
    truncateRe.findFirstMatchIn(ddl).foreach { m =>
      return TruncateTable(bare(m.group(1)))
    }
    dropTableRe.findFirstMatchIn(ddl).foreach { m =>
      return DropTable(bare(m.group(2)), m.group(1) != null)
    }
    detachTableRe.findFirstMatchIn(ddl).foreach { m =>
      return DetachTable(bare(m.group(1)))
    }
    attachTableRe.findFirstMatchIn(ddl).foreach { m =>
      return AttachTable(bare(m.group(1)))
    }
    renameTableRe.findFirstMatchIn(ddl).foreach { m =>
      val pairs = splitTopLevel(m.group(1)).map(_.trim).map { p =>
        val toRe = "(?is)^([`\\w.]+)\\s+TO\\s+([`\\w.]+)$".r
        p match {
          case toRe(a, b) => bare(a) -> bare(b)
          case other => throw new IllegalArgumentException(
            s"RENAME TABLE: expected `a TO b`, got '$other'")
        }
      }
      return RenameTable(pairs)
    }
    exchangeRe.findFirstMatchIn(ddl).foreach { m =>
      return ExchangeTables(bare(m.group(1)), bare(m.group(2)))
    }
    viewRe.findFirstMatchIn(ddl).foreach { m =>
      return CreateView(bare(m.group(2)), m.group(3).trim, m.group(1) != null)
    }
    dropViewRe.findFirstMatchIn(ddl).foreach { m =>
      return DropView(bare(m.group(2)), ifExists = m.group(1) != null)
    }
    dictRe.findFirstMatchIn(ddl).foreach { m =>
      val name = bare(m.group(1))
      val sourceKind = m.group(4).toUpperCase
      require(sourceKind == "CLICKHOUSE",
        s"CREATE DICTIONARY $name: SOURCE($sourceKind…) is not available " +
          "here — only SOURCE(CLICKHOUSE(TABLE 't')) over a catalog table " +
          "or registered view (FILE/HTTP/MYSQL sources need external " +
          "connectivity this engine does not ship)")
      val srcTable = "(?i)TABLE\\s+'([^']+)'".r.findFirstMatchIn(m.group(5))
        .map(_.group(1)).getOrElse(throw new IllegalArgumentException(
          s"CREATE DICTIONARY $name: SOURCE(CLICKHOUSE(…)) needs " +
            "TABLE 'name'"))
      val layout = m.group(6).toUpperCase
      require(Seq("FLAT", "HASHED", "COMPLEX_KEY_HASHED").contains(layout),
        s"CREATE DICTIONARY $name: LAYOUT($layout) is not supported — " +
          "FLAT, HASHED, COMPLEX_KEY_HASHED here (RANGE_HASHED probes " +
          "need the (key, point) call shape: use " +
          "graft.operators.Dictionaries.RangeDict)")
      val keys = splitTopLevel(m.group(3).trim
        .stripPrefix("(").stripSuffix(")")).map(_.trim.replace("`", ""))
      require(keys.nonEmpty, s"CREATE DICTIONARY $name: empty PRIMARY KEY")
      require(layout == "COMPLEX_KEY_HASHED" || keys.length == 1,
        s"CREATE DICTIONARY $name: LAYOUT($layout) takes exactly one key " +
          "column — use COMPLEX_KEY_HASHED for composite keys")
      val cols = splitTopLevel(m.group(2)).map(_.trim).filter(_.nonEmpty)
        .map { item =>
          val (cName, rest) = splitColName(item)
          val mods = splitModifiers(rest)
          require(mods.materialized.isEmpty,
            s"CREATE DICTIONARY $name: column $cName — dictionaries " +
              "take plain attribute columns with optional DEFAULTs")
          val dt = ChType.structType(
            Seq(Col(cName, parseType(mods.typeText.trim)))).fields.head.dataType
          (cName, dt, mods.default.map(d =>
            GraftSql.expandFunctions(ChDialect.rewrite(d))))
        }
      keys.foreach(k => require(cols.exists(_._1 == k),
        s"CREATE DICTIONARY $name: PRIMARY KEY column $k is not declared"))
      return CreateDictionary(name, srcTable, keys, cols, layout)
    }
    dropDictRe.findFirstMatchIn(ddl).foreach { m =>
      return DropDictionary(bare(m.group(2)), ifExists = m.group(1) != null)
    }
    createQuotaRe.findFirstMatchIn(ddl).foreach { m =>
      val name = bare(m.group(1))
      val unitMs: Long = m.group(3).toLowerCase.stripSuffix("s") match {
        case "second" => 1000L
        case "minute" => 60000L
        case "hour" => 3600000L
        case "day" => 86400000L
        case "week" => 604800000L
        case other => throw new IllegalArgumentException(
          s"CREATE QUOTA $name: FOR INTERVAL unit '$other' — " +
            "SECOND/MINUTE/HOUR/DAY/WEEK")
      }
      val dimRe = "(?is)^(\\w+)\\s*=?\\s*(\\d+)$".r
      var (mq, me, mr, mx) = (0L, 0L, 0L, 0L)
      splitTopLevel(m.group(4)).map(_.trim).filter(_.nonEmpty).foreach {
        case dimRe(dim, v) => dim.toLowerCase match {
          case "queries" => mq = v.toLong
          case "errors" => me = v.toLong
          case "result_rows" => mr = v.toLong
          // CH declares execution_time in seconds
          case "execution_time" => mx = v.toLong * 1000L
          case other => throw new IllegalArgumentException(
            s"CREATE QUOTA $name: MAX dimension '$other' — queries/" +
              "errors/result_rows/execution_time")
        }
        case other => throw new IllegalArgumentException(
          s"CREATE QUOTA $name: expected 'dim = n', got '$other'")
      }
      val users = m.group(5).split(',').map(_.trim.replace("`", ""))
        .filter(_.nonEmpty).toSeq
      return CreateQuota(name, users, m.group(2).toLong * unitMs,
        mq, me, mr, mx)
    }
    dropQuotaRe.findFirstMatchIn(ddl).foreach { m =>
      return DropQuota(bare(m.group(2)), ifExists = m.group(1) != null)
    }
    createUserRe.findFirstMatchIn(ddl).foreach { m =>
      val auth = Option(m.group(3)).getOrElse(
        if ("(?i)IDENTIFIED\\s+BY".r.findFirstIn(ddl).isDefined)
          "password" else "no_password")
      if (auth != "no_password")
        System.err.println(s"[chddl] CREATE USER ${bare(m.group(2))} " +
          s"IDENTIFIED ($auth): no authentication layer in a " +
          "single-process engine — the clause is parsed and ignored")
      return CreateUser(bare(m.group(2)), auth,
        ifNotExists = m.group(1) != null)
    }
    dropUserRe.findFirstMatchIn(ddl).foreach { m =>
      return DropUser(bare(m.group(2)), ifExists = m.group(1) != null)
    }
    createRoleRe.findFirstMatchIn(ddl).foreach { m =>
      return CreateRole(bare(m.group(2)), ifNotExists = m.group(1) != null)
    }
    dropRoleRe.findFirstMatchIn(ddl).foreach { m =>
      return DropRole(bare(m.group(2)), ifExists = m.group(1) != null)
    }
    dropIfEmptyRe.findFirstMatchIn(ddl).foreach { m =>
      return DropTableIfEmpty(bare(m.group(1)))
    }
    systemRe.findFirstMatchIn(ddl).foreach { m =>
      return SystemCmd(m.group(1))
    }
    useRe.findFirstMatchIn(ddl).foreach { m =>
      return UseDb(bare(m.group(1)))
    }
    setRe.findFirstMatchIn(ddl).foreach { m =>
      return SetSetting(m.group(1), m.group(2).trim)
    }
    delFromRe.findFirstMatchIn(ddl).foreach { m =>
      return LightweightDelete(bare(m.group(1)),
        GraftSql.expandFunctions(ChDialect.rewrite(m.group(2).trim)))
    }
    grantRe.findFirstMatchIn(ddl).foreach { m =>
      val cols = splitTopLevel(m.group(1)).map(_.trim.replace("`", ""))
        .filter(_.nonEmpty)
      val users = m.group(3).split(',').map(_.trim.replace("`", ""))
        .filter(_.nonEmpty).toSeq
      require(cols.nonEmpty && users.nonEmpty,
        "GRANT SELECT(cols) ON t TO users: needs columns and users")
      return Grant(bare(m.group(2)), users, cols)
    }
    // role grant/revoke AFTER the column-grant form (that one has ON t)
    grantRoleRe.findFirstMatchIn(ddl).foreach { m =>
      def names(g: String) =
        g.split(',').map(_.trim.replace("`", "")).filter(_.nonEmpty).toSeq
      return GrantRoles(names(m.group(1)), names(m.group(2)))
    }
    revokeRoleRe.findFirstMatchIn(ddl).foreach { m =>
      def names(g: String) =
        g.split(',').map(_.trim.replace("`", "")).filter(_.nonEmpty).toSeq
      return RevokeRoles(names(m.group(1)), names(m.group(2)))
    }
    rowPolicyRe.findFirstMatchIn(ddl).foreach { m =>
      val users = m.group(4).split(',').map(_.trim.replace("`", ""))
        .filter(_.nonEmpty).toSeq
      return CreateRowPolicy(m.group(1), bare(m.group(2)), users,
        GraftSql.expandFunctions(ChDialect.rewrite(m.group(3).trim)))
    }
    mvRe.findFirstMatchIn(ddl).foreach { m =>
      val sel = m.group(4).trim
      return CreateMaterializedView(bare(m.group(1)), bare(m.group(2)),
        sourceOf(sel, "CREATE MATERIALIZED VIEW"), sel,
        populate = m.group(3) != null)
    }
    mvEngineRe.findFirstMatchIn(ddl).foreach { m =>
      val sel = m.group(3).trim
      return CreateMaterializedViewInner(bare(m.group(1)),
        m.group(2).trim, sourceOf(sel, "CREATE MATERIALIZED VIEW"), sel)
    }
    insInfileRe.findFirstMatchIn(ddl).foreach { m =>
      val cols = Option(m.group(2)).toSeq.flatMap(c =>
        splitTopLevel(c).map(_.trim.replace("`", "")).filter(_.nonEmpty))
      return InsertInfile(bare(m.group(1)), cols, m.group(3),
        Option(m.group(4)), Option(m.group(5)))
    }
    insFmtRe.findFirstMatchIn(ddl).foreach { m =>
      val cols = Option(m.group(2)).toSeq.flatMap(c =>
        splitTopLevel(c).map(_.trim.replace("`", "")).filter(_.nonEmpty))
      return InsertFormat(bare(m.group(1)), cols, m.group(3), m.group(4))
    }
    insValRe.findFirstMatchIn(ddl).foreach { m =>
      val cols = Option(m.group(2)).toSeq.flatMap(c =>
        splitTopLevel(c).map(_.trim.replace("`", "")).filter(_.nonEmpty))
      return InsertValues(bare(m.group(1)), cols, m.group(3).trim)
    }
    insRe.findFirstMatchIn(ddl).foreach { m =>
      val sel = m.group(2).trim
      return InsertSelect(bare(m.group(1)),
        sourceOf(sel, "INSERT INTO … SELECT"), sel)
    }
    // CTAS: no column list, clauses run from ENGINE to the AS SELECT
    val ctasRe =
      ("(?is)^\\s*CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?([`\\w.]+)\\s+" +
        "(ENGINE\\s*=.+?)\\s+AS\\s+(SELECT\\b.*)$").r
    ctasRe.findFirstMatchIn(ddl).foreach { m =>
      val sel = m.group(3).trim
      return CreateTableAs(bare(m.group(1)), path, m.group(2).trim,
        sourceOf(sel, "CREATE TABLE … AS SELECT"), sel)
    }
    val headRe =
      "(?is)^\\s*CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?([`\\w.]+)\\s*\\(".r
    val m = headRe.findFirstMatchIn(ddl).getOrElse(
      throw new IllegalArgumentException(
        "expected CREATE TABLE / CREATE MATERIALIZED VIEW / INSERT INTO " +
          "SELECT — other statements are not DDL"))
    val name = m.group(1).replace("`", "").split('.').last
    val (body, afterBody) = balancedSection(ddl, m.end - 1)
    // the explicit-column-list CTAS flavor is refused (the derived-schema
    // form above is the migration idiom; a declared list + AS SELECT
    // needs positional reconciliation this parser doesn't do)
    locally {
      val tail = ddl.substring(afterBody)
      val asAt = topLevelKeyword(tail, "AS")
      require(asAt < 0 ||
          !tail.substring(asAt + 2).trim.toUpperCase.startsWith("SELECT"),
        s"${m.group(1)}: CREATE TABLE (cols…) … AS SELECT is not " +
          "supported — omit the column list (the schema derives from " +
          "the SELECT)")
    }
    val clauses = parseClauses(ddl.substring(afterBody))
    val warnings = scala.collection.mutable.ArrayBuffer.empty[String]
    Seq("SETTINGS", "COMMENT").foreach(k =>
      clauses.get(k).foreach(v => warnings += s"$k $v: parsed and ignored " +
        "(no Spark-side meaning)"))

    val (engine, engineArgs) = clauses.get("ENGINE") match {
      case Some(e) =>
        val t = e.trim.stripPrefix("=").trim
        val p = t.indexOf('(')
        if (p < 0) (t, Nil)
        else (t.substring(0, p).trim,
          splitTopLevel(t.substring(p + 1, t.lastIndexOf(')'))).map(_.trim))
      case None => throw new IllegalArgumentException(
        s"$name: CREATE TABLE requires an ENGINE clause")
    }

    def keyList(clause: String): Seq[String] = {
      val t = clause.trim
      if (t.equalsIgnoreCase("tuple()")) Nil
      else if (t.startsWith("("))
        splitTopLevel(t.stripPrefix("(").stripSuffix(")")).map(_.trim.replace("`", ""))
      else Seq(t.replace("`", ""))
    }

    if (engine.equalsIgnoreCase("KeeperMap")) {
      val pk = clauses.getOrElse("PRIMARY KEY", throw new IllegalArgumentException(
        s"$name: KeeperMap requires PRIMARY KEY"))
      val kp = engineArgs.headOption.map(_.trim.stripPrefix("'").stripSuffix("'"))
        .getOrElse("")
      return CreateQueue(name, keyList(pk).head, kp)
    }

    // ---- column block ---------------------------------------------------
    val cols = Seq.newBuilder[Col]
    val constraints = Seq.newBuilder[(String, String)]
    val materialized = Seq.newBuilder[(String, String)]
    val defaulted = Seq.newBuilder[(String, String)]
    val nestedGroups = Seq.newBuilder[(String, String)]
    var indexes = Seq.empty[(graft.catalog.IndexKind, String, Seq[Int])]
    var codecs = Seq.empty[(String, String)]
    var projections = Seq.empty[graft.catalog.ProjectionSpec]

    val conRe = "(?is)^CONSTRAINT\\s+(\\w+)\\s+CHECK\\s+(.+)$".r
    val projRe = "(?is)^PROJECTION\\s+(\\w+)\\s*\\((.+)\\)\\s*$".r
    val idxRe = ("(?is)^INDEX\\s+(\\w+)\\s+([`\\w]+)\\s+TYPE\\s+(\\w+)" +
      "(?:\\((.*?)\\))?(?:\\s+GRANULARITY\\s+\\d+)?\\s*$").r
    splitTopLevel(body).map(_.trim).filter(_.nonEmpty).foreach {
      case conRe(cn, ce) => constraints += cn -> ChDialect.rewrite(ce.trim)
      case projRe(pn, sel) => projections :+= parseProjection(pn, sel)
      case idxRe(_, colName, kind, arg) =>
        val k = graft.catalog.IndexKind.forType(kind).getOrElse(
          throw new IllegalArgumentException(
            s"$name: unsupported skip-index type ${kind.toLowerCase}"))
        indexes :+= ((k, colName.replace("`", ""), indexArgs(arg)))
      case item if "(?is)^[`\\w]+\\s+Nested\\s*\\(".r
          .findFirstIn(item).isDefined =>
        // `n Nested(a T, b U)` — CH's arrays-of-structs idiom. Stored as
        // CH itself stores it (flatten_nested = 1, the default): one
        // parallel-array column per sub-field, named `n.a Array(T)`, so
        // the reference's own access convention (`n.a`, arrayJoin over
        // it) works verbatim (backtick the dotted name in Spark SQL).
        // The length-equality contract — all arrays of one Nested group
        // agree per row — is the WRITER's obligation, as in CH (which
        // checks at insert; a mismatched insert here surfaces at the
        // first arrays_zip-style read). SHOW CREATE renders the Nested
        // spelling back (parse∘render∘parse identity, the TTL
        // precedent) via the group tag each field carries in metadata.
        val (cName, rest) = splitColName(item)
        val mods = splitModifiers(rest)
        val tt = mods.typeText.trim
        require(mods.default.isEmpty && mods.materialized.isEmpty,
          s"$name: Nested column $cName takes no DEFAULT/MATERIALIZED")
        val (inner, after) = balancedSection(tt, tt.indexOf('('))
        require(tt.substring(after).trim.isEmpty,
          s"$name: trailing text after Nested(…): '$tt'")
        splitTopLevel(inner).foreach { sub =>
          val (sn, st) = splitColName(sub.trim)
          cols += Col(s"$cName.$sn", ChArray(parseType(st.trim)))
          nestedGroups += s"$cName.$sn" -> cName
        }
      case item =>
        val (cName, rest) = splitColName(item)
        val mods = splitModifiers(rest)
        val ch = parseType(mods.typeText.trim)
        cols += Col(cName, ch)
        mods.materialized.foreach(e =>
          materialized += cName -> ChDialect.rewrite(e))
        // CREATE-time `DEFAULT expr` — the commonest CH column modifier:
        // the rewritten expression rides in field METADATA (the aggKind
        // precedent) so pure parse∘render round-trips carry it, and
        // Catalog.createTable routes it into the SAME insert-default
        // machinery ALTER ADD COLUMN DEFAULT uses (X24e persistence,
        // fillOmittedDefaults, the text-insert fill)
        require(mods.materialized.isEmpty || mods.default.isEmpty,
          s"$name: column $cName declares both DEFAULT and MATERIALIZED — " +
            "ClickHouse allows exactly one default-kind modifier")
        mods.default.foreach(e => defaulted += cName -> ChDialect.rewrite(e))
        mods.codec.foreach { c =>
          val k = c.trim.takeWhile(ch => ch.isLetterOrDigit).toLowerCase
          k match {
            case "delta" | "doubledelta" => codecs :+= cName -> "delta"
            case "zstd" | "lz4" | "none" =>
              warnings += s"column $cName: CODEC($c) is a compression " +
                "codec; parquet compresses file-wide (TableDef.codec)"
            case other =>
              warnings += s"column $cName: CODEC($other) has no parquet " +
                "mapping; ignored"
          }
        }
        // LowCardinality is an encoding declaration — carry it to the
        // parquet dictionary knob (the storage analog), top level only
        if (isLowCardinality(ch)) codecs :+= cName -> "lowcardinality"
        // Enum declarations validate at insert: the declared value set
        // becomes a CHECK constraint (SQL semantics — NULL passes)
        enumValues(ch).foreach { vs =>
          val lits = vs.map(v => "'" + v.replace("\\", "\\\\")
            .replace("'", "\\'") + "'").mkString(", ")
          constraints += s"${cName}_enum" -> s"$cName IS NULL OR $cName IN ($lits)"
        }
    }

    var schema = ChType.structType(cols.result())
    // Nested group tags ride in field metadata so SHOW CREATE can fold
    // the parallel-array fields back into the Nested(…) spelling
    val nestedMap = nestedGroups.result().toMap
    if (nestedMap.nonEmpty)
      schema = StructType(schema.fields.map(f => nestedMap.get(f.name) match {
        case Some(g) => f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata).putString("chNested", g).build())
        case None => f
      }))
    val defaultedMap = defaulted.result().toMap
    if (defaultedMap.nonEmpty)
      schema = StructType(schema.fields.map(f => defaultedMap.get(f.name) match {
        case Some(e) => f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata).putString("chDefault", e).build())
        case None => f
      }))
    var sortKeys = clauses.get("ORDER BY").map(keyList).getOrElse(Nil)
    clauses.get("PRIMARY KEY").foreach { pk =>
      val p = keyList(pk)
      require(sortKeys.startsWith(p),
        s"$name: PRIMARY KEY (${p.mkString(", ")}) must be a prefix of " +
          s"ORDER BY (${sortKeys.mkString(", ")}) — the ClickHouse rule")
    }

    var partitionKeys = Seq.empty[String]
    clauses.get("PARTITION BY").foreach { p =>
      val t = p.trim
      val monthRe = "(?i)^toYYYYMM\\(\\s*([`\\w]+)\\s*\\)$".r
      t match {
        case monthRe(c0) =>
          val c = c0.replace("`", "")
          val pc = s"p_yyyymm_$c"
          schema = schema.add(pc, IntegerType)
          materialized += pc -> s"CAST(date_format($c, 'yyyyMM') AS INT)"
          partitionKeys = Seq(pc)
        case _ if !t.contains("(") => partitionKeys = keyList(t)
        case other => throw new IllegalArgumentException(
          s"$name: PARTITION BY $other — supported forms are a column " +
            "list or toYYYYMM(col)")
      }
    }

    // ENGINE = Distributed(cluster, db, table[, sharding_key]) — a
    // facade declaration over registered member tables (the X33
    // DistributedCatalog); member resolution happens at execute()
    if (engine.equalsIgnoreCase("Distributed")) {
      def unq(x: String) =
        x.trim.replace("`", "").stripPrefix("'").stripSuffix("'")
      require(engineArgs.size == 4,
        s"$name: ENGINE = Distributed(cluster, db, table, sharding_key) " +
          "— the 3-arg form routes inserts by rand(), which a " +
          "deterministic engine refuses; name the sharding column")
      val key = unq(engineArgs(3))
      require("^[A-Za-z_][A-Za-z0-9_]*$".r.findFirstIn(key).contains(key),
        s"$name: sharding key '$key' must be a plain member COLUMN " +
          "(hash expressions like cityHash64(c) route identically " +
          "through the facade's own cross-engine hash of the column)")
      require(sortKeys.isEmpty && partitionKeys.isEmpty,
        s"$name: a Distributed facade holds no data of its own — " +
          "ORDER BY / PARTITION BY belong on the member tables")
      require(schema.fieldNames.contains(key),
        s"$name: sharding key $key is not in the declared column list")
      return CreateDistributed(name, path, unq(engineArgs(0)),
        unq(engineArgs(1)), unq(engineArgs(2)), key, schema)
    }

    val numericNonKey = schema.fields.filter(f =>
      !sortKeys.contains(f.name) && !partitionKeys.contains(f.name) &&
        f.dataType.isInstanceOf[NumericType]).map(_.name).toSeq
    val semantics = engine match {
      case e if e.equalsIgnoreCase("MergeTree") => Append
      case e if e.equalsIgnoreCase("ReplacingMergeTree") =>
        val ver = engineArgs.headOption.orElse(
          Option.when(schema.fieldNames.contains("updated_at"))("updated_at"))
          .getOrElse(throw new IllegalArgumentException(
            s"$name: ReplacingMergeTree needs a version column for " +
              "deterministic last-wins — pass ReplacingMergeTree(ver) or " +
              "declare `updated_at DateTime MATERIALIZED now()` (the " +
              "reference's own idiom, types.json:7)"))
        ReplacingDedup(sortKeys, ver.replace("`", ""),
          engineArgs.drop(1).headOption.map(_.replace("`", "")))
      case e if e.equalsIgnoreCase("SummingMergeTree") =>
        val sumCols =
          if (engineArgs.isEmpty) numericNonKey
          else engineArgs.flatMap(a => keyList(a.trim))
        Summing(sortKeys, sumCols)
      case e if e.equalsIgnoreCase("VersionedCollapsingMergeTree") =>
        require(engineArgs.length == 2,
          s"$name: VersionedCollapsingMergeTree(sign, version)")
        Collapsing(sortKeys, engineArgs(0).replace("`", ""),
          engineArgs(1).replace("`", ""))
      case e if e.equalsIgnoreCase("CollapsingMergeTree") =>
        throw new IllegalArgumentException(
          s"$name: sign-only CollapsingMergeTree is not supported — this " +
            "engine implements the versioned variant " +
            "(VersionedCollapsingMergeTree(sign, version))")
      case e if e.equalsIgnoreCase("AggregatingMergeTree") =>
        // the state kinds ARE in the DDL: CH declares them as
        // `AggregateFunction(fn, T…)` column TYPES (parseType carries
        // each kind in field metadata)
        val states = schema.fields.filter(_.metadata.contains("aggKind"))
        require(states.nonEmpty,
          s"$name: AggregatingMergeTree needs at least one " +
            "AggregateFunction(fn, T…) column")
        val plain = schema.fields.map(_.name).filterNot(c =>
          sortKeys.contains(c) || partitionKeys.contains(c) ||
            states.exists(_.name == c))
        require(plain.isEmpty,
          s"$name: AggregatingMergeTree folds keys + state columns — " +
            s"plain column(s) ${plain.mkString(", ")} would be lost in " +
            "the merge; declare them AggregateFunction(…) or move them " +
            "to ORDER BY")
        Aggregating(sortKeys, states.map(_.name).toSeq,
          states.map(f => f.name -> f.metadata.getString("aggKind")).toMap)
      case e if e.equalsIgnoreCase("Null") => NullEngine
      case e if e.equalsIgnoreCase("Join") =>
        require(engineArgs.length >= 3 &&
            engineArgs.head.equalsIgnoreCase("ANY") &&
            engineArgs(1).equalsIgnoreCase("LEFT"),
          s"$name: supported Join engine form is Join(ANY, LEFT, keys…)")
        JoinAny(engineArgs.drop(2).map(_.replace("`", "")))
      case other => throw new IllegalArgumentException(
        s"$name: unsupported engine $other")
    }

    // partition keys must not carry per-column codecs (createTable rule)
    codecs = codecs.filterNot { case (c, _) => partitionKeys.contains(c) }

    var t = indexes.foldLeft(TableDef(name, path, schema, sortKeys, semantics,
      partitionKeys = partitionKeys, constraints = constraints.result(),
      materializedCols = materialized.result(), columnCodecs = codecs,
      projections = projections)) { case (d, (k, c, args)) => k.add(d, c, args) }
    clauses.get("SAMPLE BY").foreach { sb =>
      t = Catalog.withSampleBy(t, keyList(sb).head)
    }
    // `TTL col + INTERVAL n unit [GROUP BY … SET …]` → the stored TTL
    // spec (persisted in `_TABLE`; swept by MATERIALIZE TTL)
    clauses.get("TTL").foreach(txt => t = t.copy(ttl = Some(parseTtlSpec(txt))))
    CreateTable(t, warnings.toSeq)
  }

  /** `col + INTERVAL n unit [GROUP BY keys SET col = agg, …]` — the DDL
    * TTL grammar (CREATE TABLE's TTL clause and ALTER MODIFY TTL). Units
    * normalize to seconds; calendar units (MONTH/QUARTER/YEAR) have no
    * fixed second length and are refused — declare those TTLs in DAYs.
    */
  private[graft] def parseTtlSpec(text: String): graft.catalog.TtlSpec = {
    val ttlSpecRe =
      ("(?is)^([`\\w]+)\\s*\\+\\s*INTERVAL\\s+(\\d+)\\s+(\\w+)" +
        "(?:\\s+GROUP\\s+BY\\s+(.+?)\\s+SET\\s+(.+))?\\s*$").r
    text.trim match {
      case ttlSpecRe(c, n, unit, gb, set) =>
        // fixed-length units fold to seconds; calendar units fold to
        // MONTHS (TtlSpec.calMonths — clamped month arithmetic at sweep
        // time, the only correct reading of `+ INTERVAL 3 MONTH`)
        val parsed: Either[Long, Long] = unit.toUpperCase.stripSuffix("S") match {
          case "SECOND" => Left(1L)
          case "MINUTE" => Left(60L)
          case "HOUR" => Left(3600L)
          case "DAY" => Left(86400L)
          case "WEEK" => Left(604800L)
          case "MONTH" => Right(1L)
          case "QUARTER" => Right(3L)
          case "YEAR" => Right(12L)
          case other => throw new IllegalArgumentException(
            s"TTL INTERVAL $other: unknown unit (SECOND…WEEK, " +
              "MONTH/QUARTER/YEAR)")
        }
        val keys = Option(gb).toSeq.flatMap(g =>
          splitTopLevel(g).map(_.trim.replace("`", "")))
        val sets = Option(set).toSeq.flatMap(splitTopLevel(_)).map { a =>
          val eq = a.indexOf('=')
          require(eq > 0, s"TTL SET expects col = agg, got '$a'")
          (a.substring(0, eq).trim.replace("`", ""),
            ChDialect.rewrite(a.substring(eq + 1).trim))
        }
        parsed match {
          case Left(secs) => graft.catalog.TtlSpec(
            c.replace("`", ""), n.toLong * secs, keys, sets)
          case Right(mult) => graft.catalog.TtlSpec(
            c.replace("`", ""), 0L, keys, sets,
            calMonths = Some(n.toLong * mult))
        }
      case other => throw new IllegalArgumentException(
        s"TTL: supported form is `col + INTERVAL n unit " +
          s"[GROUP BY keys SET col = agg, …]` — got '$other'")
    }
  }

  private val showCreateRe =
    "(?is)^\\s*SHOW\\s+CREATE\\s+TABLE\\s+([`\\w.]+)\\s*$".r
  private val showTablesRe = "(?is)^\\s*SHOW\\s+TABLES\\s*$".r
  private val showDbRe = "(?is)^\\s*SHOW\\s+DATABASES\\s*$".r
  private val existsTableRe =
    "(?is)^\\s*EXISTS\\s+(?:TABLE\\s+)?([`\\w.]+)\\s*$".r
  private val descTableRe =
    "(?is)^\\s*DESC(?:RIBE)?\\s+(?:TABLE\\s+)?([`\\w.]+)\\s*$".r

  /** The introspection statement class — `SHOW TABLES`, `SHOW CREATE
    * TABLE t`, `DESC[RIBE] [TABLE] t` return RESULT SETS, so they live on
    * a query entry point beside [[execute]] (which returns no frame).
    */
  def query(cat: Catalog, s: org.apache.spark.sql.SparkSession,
            text0: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val text = substituteParams(cat, text0)
    showCreateRe.findFirstMatchIn(text).foreach { m =>
      val n = bare(m.group(1))
      scala.util.Try(cat.get(n)) match {
        case scala.util.Success(t) =>
          return Seq(ChDdlRender.render(t)).toDF("statement")
        case _ =>
          // a Distributed facade renders its declaration back (columns
          // from the member schema — the facade declares no storage)
          val dd = cat.distributed.get(n)
          return Seq(ChDdlRender.renderDistributed(dd,
            cat.get(dd.members.head).schema)).toDF("statement")
      }
    }
    showTablesRe.findFirstMatchIn(text).foreach(_ => return cat.systemTables())
    // this engine's namespace is flat (a `db.` prefix strips at parse) —
    // the CH fixtures `default` + `system` answer the runbook probe
    showDbRe.findFirstMatchIn(text).foreach(_ =>
      return Seq("default", "system").toDF("name"))
    // `EXISTS [TABLE] t` — registered-or-not as CH's 0/1 `result` column
    existsTableRe.findFirstMatchIn(text).foreach { m =>
      val ok = scala.util.Try(cat.get(bare(m.group(1)))).isSuccess
      return Seq(if (ok) 1 else 0).toDF("result")
    }
    descTableRe.findFirstMatchIn(text).foreach { m =>
      return ChDdlRender.describe(cat.get(bare(m.group(1))))
        .toDF("name", "type", "default_type", "default_expression")
    }
    // governance doors (round 13): the ops statements a CH operator
    // types daily, routed to the catalog's QueryGovernor
    if ("(?is)^\\s*SHOW\\s+PROCESSLIST\\s*$".r.findFirstIn(text).isDefined)
      return cat.governor.systemProcesses()
    if ("(?is)^\\s*SHOW\\s+QUOTAS\\s*$".r.findFirstIn(text).isDefined)
      return cat.governor.systemQuotas()
    // SHOW CREATE QUOTA: the declaration rendered back from the
    // registry, interval normalized to the largest clean unit
    "(?is)^\\s*SHOW\\s+CREATE\\s+QUOTA\\s+([`\\w]+)\\s*$".r
      .findFirstMatchIn(text).foreach { m =>
        val qn = bare(m.group(1))
        val row = cat.governor.systemQuotas()
          .filter(org.apache.spark.sql.functions.col("quota") === qn)
          .collect().headOption.getOrElse(
            throw new IllegalArgumentException(
              s"SHOW CREATE QUOTA $qn: no such quota"))
        val ms = row.getAs[Long]("interval_ms")
        val (n, unit) =
          if (ms % 3600000L == 0) (ms / 3600000L, "HOUR")
          else if (ms % 60000L == 0) (ms / 60000L, "MINUTE")
          else (ms / 1000L, "SECOND")
        val dims = Seq(
          "queries" -> row.getAs[Long]("max_queries"),
          "errors" -> row.getAs[Long]("max_errors"),
          "result_rows" -> row.getAs[Long]("max_result_rows"),
          "execution_time" -> row.getAs[Long]("max_exec_ms") / 1000L)
          .filter(_._2 > 0).map { case (d, v) => s"$d = $v" }
        return Seq(s"CREATE QUOTA $qn FOR INTERVAL $n $unit " +
          s"MAX ${dims.mkString(", ")} TO ${row.getAs[String]("users")}")
          .toDF("statement")
      }
    if ("(?is)^\\s*SHOW\\s+USERS\\s*$".r.findFirstIn(text).isDefined)
      return cat.systemUsers()
    if ("(?is)^\\s*SHOW\\s+ROLES\\s*$".r.findFirstIn(text).isDefined)
      return cat.systemRoles()
    // mutations apply SYNCHRONOUSLY here (ALTER DELETE/UPDATE rewrite
    // and commit before the statement returns), so there is never a
    // live mutation to kill — CH's no-match contract: the empty set
    "(?is)^\\s*KILL\\s+MUTATION\\s+WHERE\\b.*$".r
      .findFirstMatchIn(text).foreach { _ =>
        System.err.println("[chddl] KILL MUTATION: mutations apply " +
          "synchronously in this engine — nothing is ever mid-flight " +
          "to kill; returning the empty set (CH's no-match contract)")
        return Seq.empty[(String, String, String)]
          .toDF("table", "mutation_id", "kill_status")
      }
    // CHECK TABLE t: verify the storage is readable end-to-end (a full
    // scan count — the strongest single-process integrity probe; a
    // corrupt part THROWS, it never reports 0 silently)
    "(?is)^\\s*CHECK\\s+TABLE\\s+([`\\w.]+)\\s*$".r
      .findFirstMatchIn(text).foreach { m =>
        cat.read(bare(m.group(1))).count()
        return Seq(1).toDF("result")
      }
    "(?is)^\\s*KILL\\s+QUERY\\s+WHERE\\s+query_id\\s*=\\s*'([^']+)'\\s*(?:SYNC|ASYNC)?\\s*$".r
      .findFirstMatchIn(text).foreach { m =>
        val id = m.group(1)
        // CH returns the matched queries with their kill_status; a
        // no-match WHERE returns the empty set (not an error)
        val rows = if (cat.governor.kill(id)) Seq((id, "waiting"))
          else Seq.empty[(String, String)]
        return rows.toDF("query_id", "kill_status")
      }
    // the access-control listings a runbook checks after GRANT / CREATE
    // ROW POLICY — the registries' own frames
    if ("(?is)^\\s*SHOW\\s+GRANTS\\s*$".r.findFirstIn(text).isDefined)
      return cat.systemColumnPolicies()
    if ("(?is)^\\s*SHOW\\s+(?:ROW\\s+)?POLICIES\\s*$".r
        .findFirstIn(text).isDefined)
      return cat.systemRowPolicies()
    // full SELECTs over the catalog-wide system relations: each
    // `system.<rel>` reference binds its introspection frame as a temp
    // view and the text substitutes to it — the CH ops idiom
    // (`SELECT … FROM system.tables WHERE …`) runs as written. Column
    // names are this engine's documented analogs (systemTables &c.),
    // not CH's. parts/mutations/detached_parts bind the catalog-wide
    // unions (round 12); snapshots stays an API call — per-table only.
    if ("(?is)^\\s*SELECT\\b".r.findFirstIn(text).isDefined &&
        "(?i)\\bsystem\\.\\w+".r.findFirstIn(text).isDefined) {
      // literal-table prune (round 13): building a storage-derived
      // branch (parts/mutations/detached) costs a listing per table, so
      // a statement pinning `table = 'x'` to ONE literal pre-filters the
      // union's branch list at bind. Conservative: any OR in the
      // statement (the pin might be disjunctive) falls back to the full
      // walk; Catalyst still prunes literal branches from the plan.
      val tablePins = "(?i)\\b(?:\\w+\\.)?table\\s*=\\s*'([^']+)'".r
        .findAllMatchIn(text).map(_.group(1)).toSet
      // any OR / NOT / JOIN in the statement falls back to the full
      // walk — the textual pin can't see negation (`NOT table = 'x'`),
      // disjunction scope, or which relation a joined predicate binds
      // to, and a wrong prune is silently-wrong rows
      val pinned: Option[String] =
        if (tablePins.size == 1 &&
            "(?i)\\b(?:OR|NOT|JOIN)\\b".r.findFirstIn(text).isEmpty)
          Some(tablePins.head)
        else None
      val binds: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
        "tables" -> (() => cat.systemTables()),
        "columns" -> (() => cat.systemColumns()),
        "projections" -> (() => cat.systemProjections()),
        "row_policies" -> (() => cat.systemRowPolicies()),
        "grants" -> (() => cat.systemColumnPolicies()),
        "materialized_views" -> (() => cat.systemMaterializedViews()),
        // catalog-wide unions of the per-table frames (round 12);
        // system.parts derives rows/min-max from storage — one scan per
        // registered table (doc on Catalog.systemPartsAll)
        "parts" -> (() => cat.systemPartsAll(pinned)),
        "mutations" -> (() => cat.systemMutationsAll(pinned)),
        "detached_parts" -> (() => cat.systemDetachedPartsAll(pinned)),
        // governance relations (round 13): the governor's live frames
        "processes" -> (() => cat.governor.systemProcesses()),
        "quotas" -> (() => cat.governor.systemQuotas()),
        "quota_usage" -> (() => cat.governor.systemQuotaUsage()),
        "users" -> (() => cat.systemUsers()),
        "roles" -> (() => cat.systemRoles()),
        // the flat namespace's two fixture databases (SHOW DATABASES)
        "databases" -> (() => Seq("default", "system").toDF("name")),
        // the engine's settings ARE the Spark session confs
        "settings" -> (() => s.conf.getAll.toSeq.sorted
          .toDF("name", "value")),
        // every function the session resolves (built-ins + the
        // engine's registered kernels)
        "functions" -> (() => s.catalog.listFunctions()
          .select(org.apache.spark.sql.functions.col("name"))),
        "dictionaries" -> (() => DictRegistry.list
          .map(dd => (dd.name, dd.view, dd.keys.mkString(",")))
          .toDF("name", "source", "key")),
        // the most-queried system table in real CH ops: the QueryLog's
        // own catalog table (register a QueryLog over this catalog and
        // flush() — the binding reads what landed)
        "query_log" -> (() => scala.util.Try(cat.read("query_log"))
          .getOrElse(throw new IllegalArgumentException(
            "system.query_log: no query_log table in this catalog — " +
              "attach a graft.catalog.QueryLog(spark, cat, path) and " +
              "flush() to land events"))),
        // CH's one-row dummy relation (`SELECT 1 FROM system.one`)
        "one" -> (() => s.sql("SELECT CAST(0 AS TINYINT) AS dummy")))
      "(?i)\\bsystem\\.(\\w+)".r.findAllMatchIn(text)
        .map(_.group(1).toLowerCase).toSet[String].foreach { rel =>
          val mk = binds.getOrElse(rel, throw new IllegalArgumentException(
            s"system.$rel: queryable system relations here are " +
              binds.keys.toSeq.sorted.map("system." + _).mkString(", ") +
              " (snapshots takes a table argument — use the Catalog API)"))
          mk().createOrReplaceTempView(s"__system_$rel")
        }
      val sub = "(?i)\\bsystem\\.(\\w+)".r.replaceAllIn(text,
        m2 => s"__system_${m2.group(1).toLowerCase}")
      return s.sql(GraftSql.expandFunctions(ChDialect.rewrite(sub)))
    }
    // `EXPLAIN ESTIMATE SELECT … FROM t [WHERE …]` (round 14): how much
    // the scan would read, from METADATA only — the Catalog's estimate
    // analog (files ≈ parts, rows from parquet footers, bytes from the
    // listing), completing the EXPLAIN family (PLAN/PIPELINE/SYNTAX map
    // in the dialect). A simple one-column range conjunction on a
    // declared minmax column prices the pruned scan exactly as the read
    // path would run it; other predicates estimate the full scan (CH's
    // ESTIMATE likewise only consults the index). Strict bounds price
    // as inclusive — an estimate is an upper bound.
    "(?is)^\\s*EXPLAIN\\s+ESTIMATE\\s+(.+)$".r.findFirstMatchIn(text)
      .foreach { m =>
        val body = m.group(1).trim
        val tm = "(?is)\\bFROM\\s+([`\\w.]+)".r.findFirstMatchIn(body)
          .getOrElse(throw new IllegalArgumentException(
            "EXPLAIN ESTIMATE: no FROM table in the statement"))
        val t = cat.get(bare(tm.group(1)))
        var lo: Option[Any] = None
        var hi: Option[Any] = None
        var rangeCol: Option[String] = None
        val cmpRe =
          "(?i)([`\\w.]+)\\s*(>=|<=|=|<|>)\\s*('[^']*'|[-\\d.]+)".r
        def lit(s0: String): Any =
          if (s0.startsWith("'")) s0.substring(1, s0.length - 1)
          else if (s0.contains('.')) s0.toDouble else s0.toLong
        cmpRe.findAllMatchIn(body).foreach { c =>
          val cn = bare(c.group(1))
          if (t.minmaxCols.contains(cn) &&
              (rangeCol.isEmpty || rangeCol.contains(cn))) {
            rangeCol = Some(cn)
            val v = lit(c.group(3))
            c.group(2) match {
              case ">=" | ">" => lo = Some(v)
              case "<=" | "<" => hi = Some(v)
              case "=" => lo = Some(v); hi = Some(v)
            }
          }
        }
        return cat.explainEstimate(t.name,
          rangeCol.map(c => (c, lo.orNull, hi.orNull)))
      }
    // plain SELECT over catalog tables (round 14): every referenced
    // catalog table binds as a temp view and the dialect lowering runs
    // — the query-parameter door's read path, and the general "SELECT
    // over what I just CREATEd" statement shape
    if ("(?is)^\\s*(?:SELECT|WITH)\\b".r.findFirstIn(text).isDefined) {
      bindCatalogRefs(cat, s, text, Set.empty)
      return s.sql(GraftSql.expandFunctions(ChDialect.rewrite(text)))
    }
    throw new IllegalArgumentException(
      "expected SHOW TABLES / SHOW DATABASES / SHOW CREATE TABLE t / " +
        "SHOW GRANTS / SHOW [ROW] POLICIES / EXISTS TABLE t / " +
        "DESCRIBE [TABLE] t / SELECT … [FROM system.*] — " +
        "DDL/INSERT statements go through execute()/runScript; " +
        "sf-dir-relative queries through GraftSql.chSql")
  }

  /** Parse + register in one step; queues are refused here (use WorkQueue). */
  def createTable(cat: Catalog, ddl: String, path: String): TableDef =
    parse(ddl, path) match {
      case CreateTable(t, _) => cat.createTable(t)
      case q: CreateQueue => throw new IllegalArgumentException(
        s"${q.name}: KeeperMap is the queue engine — declare it through " +
          "graft.queue.WorkQueue, not the table catalog")
      case cta: CreateTableAs => throw new IllegalArgumentException(
        s"${cta.name}: CREATE TABLE … AS SELECT derives its schema by " +
          "analyzing the SELECT — run it through ChDdl.execute/runScript")
      case other => throw new IllegalArgumentException(
        s"expected CREATE TABLE, got ${other.getClass.getSimpleName}")
    }

  /** Bind every catalog table `select` references (FROM/JOIN positions)
    * as a session temp view under its own name, except `skip` — so a
    * SELECT that JOINs catalog tables resolves beyond its first source
    * (the CreateView/CTAS/InsertSelect statement class).
    */
  private def bindCatalogRefs(cat: Catalog,
                              s: org.apache.spark.sql.SparkSession,
                              select: String, skip: Set[String]): Unit =
    "(?is)\\b(?:FROM|JOIN)\\s+([`\\w.]+)".r.findAllMatchIn(select)
      .map(fm => bare(fm.group(1))).toSet[String].diff(skip).foreach { t =>
        scala.util.Try(cat.get(t)).toOption
          .foreach(_ => cat.read(t).createOrReplaceTempView(t))
      }

  /** Run `selectSql` (CH dialect) with `frame` standing in for `source`:
    * the frame registers under a per-statement view name, the FROM/JOIN
    * references rewrite to it ALIASED BACK to the source name (so
    * `source.col` qualifications keep resolving), and OTHER catalog
    * tables the select joins bind under their own names
    * ([[bindCatalogRefs]]).
    */
  private def selectOver(s: org.apache.spark.sql.SparkSession, source: String,
                         selectSql: String,
                         frame: org.apache.spark.sql.DataFrame,
                         viewTag: String,
                         cat: Option[Catalog] = None): org.apache.spark.sql.DataFrame = {
    val view = s"__chddl_${viewTag}_$source"
    frame.createOrReplaceTempView(view)
    cat.foreach(bindCatalogRefs(_, s, selectSql, Set(source)))
    // tokens that can follow a table reference WITHOUT being its alias —
    // if the next word is none of these, the user wrote `FROM src s` and
    // their alias must stand alone (a second alias would not parse)
    val boundary = Set("JOIN", "WHERE", "GROUP", "ORDER", "ON", "USING",
      "LEFT", "RIGHT", "INNER", "FULL", "CROSS", "LIMIT", "HAVING",
      "SETTINGS", "UNION", "LATERAL", "ARRAY", "SELECT", "PREWHERE",
      "SAMPLE", "FINAL", "GLOBAL", "ANY", "ASOF", "SEMI", "ANTI",
      "WINDOW", "FORMAT", "INTO")
    // bare or BACKTICKED user aliases both count (`FROM src \`s\``) — a
    // backticked token is always an alias, never a clause keyword
    val aliasProbe =
      "^\\s+(?:(?i:AS)\\s+)?(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)".r
    // optional database prefix only (`db.`): a bare `[\w.]*` would let a
    // table named <x><source> match on its suffix
    val sub = ("(?is)\\b(FROM|JOIN)\\s+(?:[`\\w]+\\.)?`?" +
      java.util.regex.Pattern.quote(source) + "`?\\b").r
      .replaceAllIn(selectSql, m => {
        val hasUserAlias = aliasProbe
          .findFirstMatchIn(selectSql.substring(m.end))
          .exists(am => am.group(1).startsWith("`") ||
            !boundary(am.group(1).toUpperCase))
        scala.util.matching.Regex.quoteReplacement(
          if (hasUserAlias) s"${m.group(1)} $view"
          else s"${m.group(1)} $view $source")
      })
    s.sql(GraftSql.expandFunctions(ChDialect.rewrite(sub)))
  }

  /** `CREATE MATERIALIZED VIEW … TO target AS SELECT …` (the reference's
    * README.md:256-262 statement, as written): wires the select as the
    * per-batch transform of the catalog's insert-trigger MV cascade —
    * every future append to the source folds its batch through the
    * select into the target (whose own engine — Summing for the stars
    * rollup — merges the partials).
    */
  def createMaterializedView(cat: Catalog,
                             s: org.apache.spark.sql.SparkSession,
                             ddl: String): Unit =
    parse(ddl, "") match {
      case mv: CreateMaterializedView =>
        // POPULATE: backfill BEFORE registering the trigger — a source
        // insert racing the backfill is then at worst LOST from the
        // view (ClickHouse's own documented POPULATE caveat), never
        // double-counted; CH's recommendation applies here too: quiesce
        // source inserts while creating with POPULATE
        if (mv.populate)
          cat.append(mv.target, selectOver(s, mv.source, mv.selectSql,
            cat.read(mv.source), s"populate_${mv.name}", Some(cat)))
        cat.createMaterializedView(mv.source, mv.name, mv.target,
          batch => selectOver(s, mv.source, mv.selectSql, batch, mv.name,
            Some(cat)))
      case other => throw new IllegalArgumentException(
        s"expected CREATE MATERIALIZED VIEW, got ${other.getClass.getSimpleName}")
    }

  /** `INSERT INTO target SELECT … FROM source` (the reference's MV
    * backfill, README.md:263-266): one pass over the source's CURRENT
    * merged contents, appended to the target.
    */
  def insertSelect(cat: Catalog, s: org.apache.spark.sql.SparkSession,
                   ddl: String): Unit =
    // file('…') FROM sources bind first (the reference's own ingest
    // statement shape: INSERT INTO t SELECT c1::… FROM file('x.tsv')) —
    // the bound view then reads through s.table, not the catalog
    parse(GraftSql.bindFileRefs(s, ddl), "") match {
      case i: InsertSelect =>
        val frame =
          if (i.source.startsWith("__file_")) s.table(i.source)
          else cat.read(i.source)
        appendRouted(cat, i.target, selectOver(s, i.source, i.selectSql,
          frame, s"backfill_${i.target}", Some(cat)))
        ()
      case other => throw new IllegalArgumentException(
        s"expected INSERT INTO … SELECT, got ${other.getClass.getSimpleName}")
    }

  // ---- ALTER / ops statement surface ------------------------------------

  private val cmdHeads = Seq("ADD COLUMN", "DROP COLUMN", "RENAME COLUMN",
    "MODIFY COLUMN", "COMMENT COLUMN", "DELETE", "UPDATE", "DROP PARTITION",
    "DETACH PARTITION", "ATTACH PARTITION", "FREEZE", "ADD PROJECTION",
    "DROP PROJECTION", "MATERIALIZE PROJECTION", "MODIFY TTL", "REMOVE TTL",
    "MATERIALIZE TTL", "ADD INDEX", "DROP INDEX", "MATERIALIZE INDEX",
    "CLEAR INDEX", "MODIFY SETTING", "RESET SETTING", "MODIFY COMMENT")

  /** Split the ALTER tail into commands: a top-level comma separates
    * commands only when a command keyword follows — commas inside an
    * UPDATE assignment list or a type's arguments stay put.
    */
  private def splitAlterCmds(tail: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val upper = tail.toUpperCase
    var depth = 0; var inQ = false; var inB = false; var i = 0; var start = 0
    while (i < tail.length) {
      val c = tail.charAt(i)
      if (inQ) { if (c == '\'') inQ = false }
      else if (inB) { if (c == '`') inB = false }
      else c match {
        case '\'' => inQ = true
        case '`' => inB = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          var j = i + 1
          while (j < tail.length && tail.charAt(j).isWhitespace) j += 1
          if (cmdHeads.exists(h => upper.startsWith(h, j) &&
              (j + h.length >= tail.length ||
                !isWordChar(upper.charAt(j + h.length))))) {
            out += tail.substring(start, i).trim
            start = i + 1
          }
        case _ =>
      }
      i += 1
    }
    if (tail.substring(start).trim.nonEmpty) out += tail.substring(start).trim
    out.result()
  }

  /** First position of keyword `kw` at top level (outside quotes/backticks/
    * parens) with word boundaries, or -1.
    */
  /** `PROJECTION p (SELECT …)` body → a [[graft.catalog.ProjectionSpec]].
    * Two CH forms: `SELECT dims…, count()[, sum(m)…] GROUP BY dims…`
    * (aggregate) and `SELECT * ORDER BY key` (alternate sort). Select
    * items must be bare dims, `count()`, or `sum(col)` — anything else
    * fails loudly (a projection the rewrite rules can't answer from
    * would be declared-but-dead weight).
    */
  private[graft] def parseProjection(name: String,
      select0: String): graft.catalog.ProjectionSpec = {
    val select = select0.trim
    require(select.toUpperCase.startsWith("SELECT"),
      s"projection $name: expected SELECT …, got '${select.take(40)}'")
    val gb = topLevelKeyword(select, "GROUP BY")
    val ob = topLevelKeyword(select, "ORDER BY")
    if (gb >= 0) {
      val dims = splitTopLevel(select.substring(gb + "GROUP BY".length))
        .map(_.trim.replace("`", ""))
      val sumRe = "(?is)^sum\\(\\s*([`\\w]+)\\s*\\)(?:\\s+AS\\s+\\w+)?$".r
      val cntRe = "(?is)^count\\(\\s*\\*?\\s*\\)(?:\\s+AS\\s+\\w+)?$".r
      val sums = Seq.newBuilder[String]
      splitTopLevel(select.substring("SELECT".length, gb))
        .map(_.trim).filter(_.nonEmpty).foreach {
          case sumRe(c) => sums += c.replace("`", "")
          case cntRe() => () // __cnt is always stored
          case d if dims.contains(d.replace("`", "")) => ()
          case other => throw new IllegalArgumentException(
            s"projection $name: select item '$other' is not a GROUP BY " +
              "dim, count(), or sum(col) — the rewrite rules answer " +
              "exactly those shapes")
        }
      graft.catalog.AggProjection(name, dims, sums.result())
    } else if (ob >= 0) {
      require(select.substring("SELECT".length, ob).trim == "*",
        s"projection $name: the sorted form is SELECT * ORDER BY key")
      val key = select.substring(ob + "ORDER BY".length).trim.replace("`", "")
      require(key.matches("\\w+"),
        s"projection $name: ORDER BY key must be a single column, got '$key'")
      graft.catalog.SortProjection(name, key)
    } else throw new IllegalArgumentException(
      s"projection $name: expected GROUP BY (aggregate projection) or " +
        "ORDER BY (sorted projection)")
  }

  private def topLevelKeyword(s: String, kw: String): Int = {
    val upper = s.toUpperCase
    var depth = 0; var inQ = false; var inB = false; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) { if (c == '\'') inQ = false }
      else if (inB) { if (c == '`') inB = false }
      else c match {
        case '\'' => inQ = true
        case '`' => inB = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && upper.startsWith(kw, i) &&
              (i == 0 || !isWordChar(upper.charAt(i - 1))) &&
              (i + kw.length >= s.length ||
                !isWordChar(upper.charAt(i + kw.length)))) return i
      }
      i += 1
    }
    -1
  }

  private def stripQuotes(v: String): String = {
    val t = v.trim
    if (t.startsWith("'") && t.endsWith("'") && t.length >= 2)
      t.substring(1, t.length - 1)
    else t.replace("`", "")
  }

  private def parseAlterCmds(tail: String): Seq[AlterCmd] =
    splitAlterCmds(tail).map(parseAlterCmd)

  private val addColRe =
    "(?is)^ADD\\s+COLUMN\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?(.+)$".r
  private val dropColRe =
    "(?is)^DROP\\s+COLUMN\\s+(?:IF\\s+EXISTS\\s+)?([`\\w]+)\\s*$".r
  private val renameColRe =
    "(?is)^RENAME\\s+COLUMN\\s+(?:IF\\s+EXISTS\\s+)?([`\\w]+)\\s+TO\\s+([`\\w]+)\\s*$".r
  private val modifyColRe =
    "(?is)^MODIFY\\s+COLUMN\\s+(?:IF\\s+EXISTS\\s+)?(.+)$".r
  private val removeDefaultRe =
    ("(?is)^MODIFY\\s+COLUMN\\s+(?:IF\\s+EXISTS\\s+)?([`\\w]+)\\s+" +
      "REMOVE\\s+DEFAULT\\s*$").r
  private val deleteRe = "(?is)^DELETE\\s+WHERE\\s+(.+)$".r
  private val updateRe = "(?is)^UPDATE\\s+(.+)$".r
  private val partRe =
    "(?is)^(DROP|DETACH|ATTACH)\\s+PARTITION\\s+(.+?)\\s*$".r
  private val freezeRe =
    "(?is)^FREEZE\\s+WITH\\s+NAME\\s+'([^']+)'\\s*$".r
  private val addProjRe =
    "(?is)^ADD\\s+PROJECTION\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?(\\w+)\\s*\\((.+)\\)\\s*$".r
  private val dropProjRe =
    "(?is)^DROP\\s+PROJECTION\\s+(?:IF\\s+EXISTS\\s+)?(\\w+)\\s*$".r
  private val matProjRe =
    "(?is)^MATERIALIZE\\s+PROJECTION\\s+(\\w+)\\s*$".r
  private val modifyTtlRe = "(?is)^MODIFY\\s+TTL\\s+(.+)$".r
  private val removeTtlRe = "(?is)^REMOVE\\s+TTL\\s*$".r
  private val matTtlRe = "(?is)^MATERIALIZE\\s+TTL\\s*$".r
  // CH's `ADD INDEX name expr TYPE kind(args) [GRANULARITY g]` — same
  // spec shape the CREATE-time column block takes (idxRe); single-column
  // exprs only, like the CREATE path
  private val addIdxRe =
    ("(?is)^ADD\\s+INDEX\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?(\\w+)\\s+" +
      "([`\\w]+)\\s+TYPE\\s+(\\w+)(?:\\((.*?)\\))?" +
      "(?:\\s+GRANULARITY\\s+\\d+)?\\s*$").r
  /** An INDEX TYPE's numeric arguments (set(N), full_text(N), the IVF-PQ
    * triple); vector_similarity's quoted method/metric args are accepted
    * and ignored.
    */
  private def indexArgs(arg: String): Seq[Int] =
    Option(arg).toSeq.flatMap(_.split(","))
      .map(_.trim.replaceAll("^'|'$", ""))
      .filter(_.matches("\\d+")).map(_.toInt)

  private val dropIdxRe =
    "(?is)^DROP\\s+INDEX\\s+(IF\\s+EXISTS\\s+)?(\\w+)\\s*$".r
  private val matIdxRe = "(?is)^MATERIALIZE\\s+INDEX\\s+(\\w+)\\s*$".r
  private val clearIdxRe = "(?is)^CLEAR\\s+INDEX\\s+(\\w+)\\s*$".r

  private def parseAlterCmd(cmd: String): AlterCmd = cmd.trim match {
    case addColRe(decl) =>
      val (cName, rest) = splitColName(decl.trim)
      val mods = splitModifiers(rest)
      require(mods.materialized.isEmpty,
        s"ADD COLUMN $cName: MATERIALIZED expressions are a CREATE-time " +
          "declaration (TableDef.materializedCols) — ALTER adds plain " +
          "columns with optional constant DEFAULTs")
      val field = ChType.structType(
        Seq(Col(cName, parseType(mods.typeText.trim)))).fields.head
      AddColumnCmd(field, mods.default.map(d =>
        GraftSql.expandFunctions(ChDialect.rewrite(d))))
    case dropColRe(c) => DropColumnCmd(c.replace("`", ""))
    case renameColRe(from, to) =>
      RenameColumnCmd(from.replace("`", ""), to.replace("`", ""))
    case removeDefaultRe(c) => ModifyDefaultCmd(c.replace("`", ""), None)
    case modifyColRe(decl) =>
      val (cName, rest) = splitColName(decl.trim)
      val mods = splitModifiers(rest)
      require(mods.materialized.isEmpty,
        s"MODIFY COLUMN $cName: MATERIALIZED is a CREATE-time declaration")
      // the type-less `MODIFY COLUMN c DEFAULT expr` form changes ONLY
      // the default; combining it with a type change is refused (one
      // mutation per command keeps each verb's crash story simple)
      if (mods.typeText.trim.isEmpty && mods.default.isDefined)
        ModifyDefaultCmd(cName, mods.default.map(d =>
          GraftSql.expandFunctions(ChDialect.rewrite(d))))
      else {
        require(mods.default.isEmpty,
          s"MODIFY COLUMN $cName: change the type OR the default, not both")
        ModifyColumnCmd(cName, ChType.structType(
          Seq(Col(cName, parseType(mods.typeText.trim)))).fields.head.dataType)
      }
    case deleteRe(where) =>
      DeleteCmd(GraftSql.expandFunctions(ChDialect.rewrite(where.trim)))
    case updateRe(body) =>
      val w = topLevelKeyword(body, "WHERE")
      require(w >= 0, "ALTER UPDATE requires a WHERE clause (ClickHouse " +
        "mutations are always predicated — use WHERE 1 to rewrite all rows)")
      val set = splitTopLevel(body.substring(0, w)).map { a =>
        val eq = a.indexOf('=')
        require(eq > 0, s"ALTER UPDATE: expected col = expr, got '$a'")
        a.substring(0, eq).trim.replace("`", "") ->
          GraftSql.expandFunctions(ChDialect.rewrite(a.substring(eq + 1).trim))
      }
      UpdateCmd(set, GraftSql.expandFunctions(
        ChDialect.rewrite(body.substring(w + 5).trim)))
    case partRe(verb, value) =>
      val v = stripQuotes(value)
      verb.toUpperCase match {
        case "DROP" => DropPartitionCmd(v)
        case "DETACH" => DetachPartitionCmd(v)
        case _ => AttachPartitionCmd(v)
      }
    case freezeRe(tag) => FreezeCmd(tag)
    case addProjRe(pn, sel) => AddProjectionCmd(parseProjection(pn, sel))
    case dropProjRe(pn) => DropProjectionCmd(pn)
    case matProjRe(pn) => MaterializeProjectionCmd(pn)
    case modifyTtlRe(spec) => ModifyTtlCmd(parseTtlSpec(spec))
    case removeTtlRe() => RemoveTtlCmd
    case matTtlRe() => MaterializeTtlCmd
    case addIdxRe(idxName, colName, kind, arg) =>
      AddIndexCmd(idxName, colName.replace("`", ""), kind.toLowerCase, indexArgs(arg))
    case dropIdxRe(ifEx, idxName) => DropIndexCmd(idxName, ifEx != null)
    case matIdxRe(idxName) => MaterializeIndexCmd(idxName)
    case clearIdxRe(idxName) => ClearIndexCmd(idxName)
    case t if "(?is)^(MODIFY|RESET)\\s+SETTING\\b.*".r.matches(t.trim) =>
      NoopAlterCmd(t.trim, "table settings are ClickHouse storage " +
        "knobs with no Spark-side meaning — parsed and ignored")
    case t if "(?is)^MODIFY\\s+COMMENT\\b.*".r.matches(t.trim) =>
      NoopAlterCmd(t.trim, "table comments carry no engine meaning " +
        "here — parsed and ignored (the CREATE-time COMMENT precedent)")
    case other => throw new IllegalArgumentException(
      s"unsupported ALTER command '${other.take(60)}' — supported: " +
        "ADD/DROP/RENAME/MODIFY COLUMN, DELETE WHERE, UPDATE … WHERE, " +
        "DROP/DETACH/ATTACH PARTITION, FREEZE WITH NAME, " +
        "ADD/DROP/MATERIALIZE PROJECTION, MODIFY/REMOVE/MATERIALIZE TTL, " +
        "ADD/DROP/MATERIALIZE/CLEAR INDEX")
  }

  /** Execute ONE parsed statement against the catalog. `warehouse` roots
    * a CREATE TABLE's storage at `<warehouse>/<table>`. Returns the
    * statement, so callers can inspect warnings.
    */
  /** Resolve, read, and (if needed) gunzip an INFILE payload into the
    * equivalent [[InsertFormat]] — doc on [[InsertInfile]].
    */
  private def infilePayload(i: InsertInfile): InsertFormat = {
    val p =
      if (i.path.startsWith("/") || i.path.contains("://")) i.path
      else sys.props.get("graft.files.dir")
        .orElse(sys.env.get("SPARK_GRAFT_FILES_DIR"))
        .map(b => s"$b/${i.path}").getOrElse(
          throw new IllegalArgumentException(
            s"FROM INFILE '${i.path}': relative paths resolve against " +
              "-Dgraft.files.dir or $SPARK_GRAFT_FILES_DIR (the CH " +
              "user_files analog) — neither is set"))
    i.compression.map(_.toLowerCase).foreach { c =>
      require(c == "gzip" || c == "gz",
        s"FROM INFILE COMPRESSION '$c': gzip is the one supported " +
          "compression (JDK built-in — the catalog codec stance)")
    }
    val gz = i.compression.isDefined || p.toLowerCase.endsWith(".gz")
    val stem =
      (if (p.toLowerCase.endsWith(".gz")) p.dropRight(3) else p).toLowerCase
    def parquetRefusal = throw new IllegalArgumentException(
      s"FROM INFILE '${i.path}': Parquet is a columnar scan, not a text " +
        "payload — use INSERT INTO … SELECT … FROM file(path, 'Parquet')")
    val fmt = i.format match {
      case Some(f) if f.equalsIgnoreCase("parquet") => parquetRefusal
      case Some(f) => f
      case None => stem.substring(stem.lastIndexOf('.') + 1) match {
        case "csv" => "CSV"
        case "tsv" | "tab" => "TSV"
        case "jsonl" | "ndjson" | "json" => "JSONEachRow"
        case "parquet" => parquetRefusal
        case other => throw new IllegalArgumentException(
          s"FROM INFILE '${i.path}': cannot infer a format from " +
            s".$other — say FORMAT CSV/TSV[WithNames]/JSONEachRow")
      }
    }
    val raw = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(p))
    val in = if (gz) new java.util.zip.GZIPInputStream(raw) else raw
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    InsertFormat(i.target, i.columns, fmt, text)
  }

  /** INSERTs addressed to a Distributed facade route through its hashed
    * append (round 13 — the X139 write side); plain tables go straight
    * to the catalog. Typed fills resolve against the facade's first
    * member def (all shards share a schema, validated at declare).
    */
  private def appendRouted(cat: Catalog, target: String,
                           frame: org.apache.spark.sql.DataFrame): Long =
    if (scala.util.Try(cat.distributed.get(target)).isSuccess)
      cat.distributed.append(target, frame)
    else cat.append(target, frame)

  private def defOf(cat: Catalog, target: String): TableDef =
    scala.util.Try(cat.get(target)).getOrElse(
      cat.get(cat.distributed.get(target).members.head))

  def execute(cat: Catalog, s: org.apache.spark.sql.SparkSession,
              ddl0: String, warehouse: String = ""): Statement = {
    import org.apache.spark.sql.functions.expr
    // strip HERE too: createMaterializedView / insertSelect below
    // re-parse the raw text, not the parsed statement
    val ddl = stripOnCluster(substituteParams(cat, ddl0))
    val stmt = parse(ddl,
      if (warehouse.isEmpty) "" else s"$warehouse/${nameOf(ddl)}") match {
      // FROM INFILE is the inline-FORMAT door with its payload on disk:
      // resolve + read HERE (parse() does no IO), so the one
      // InsertFormat path below parses, header-binds, FAILFASTs, and
      // default-fills both doors identically
      case i: InsertInfile => infilePayload(i)
      case other => other
    }
    stmt match {
      case CreateTable(t, _) => cat.createTable(t)
      case cd: CreateDistributed =>
        cat.distributed.declare(cd.name, cd.path, cd.cluster, cd.db,
          cd.memberBase, cd.shardKey, cd.schema)
      case q: CreateQueue => throw new IllegalArgumentException(
        s"${q.name}: KeeperMap is the queue engine — declare it through " +
          "graft.queue.WorkQueue, not the table catalog")
      case _: CreateMaterializedView => createMaterializedView(cat, s, ddl)
      case mvI: CreateMaterializedViewInner =>
        // the TO-less POPULATE form: the implicit inner table lands via
        // the CTAS door (create + backfill in one crash-safe pass), then
        // the trigger registers on top — inserts landing between those
        // two steps are NOT in the view (CH's own POPULATE caveat,
        // documented: quiesce source inserts during creation)
        val inner = s"${mvI.name}_inner"
        execute(cat, s,
          s"CREATE TABLE $inner ${mvI.clauses} AS ${mvI.selectSql}",
          warehouse)
        cat.createMaterializedView(mvI.source, mvI.name, inner,
          batch => selectOver(s, mvI.source, mvI.selectSql, batch,
            mvI.name, Some(cat)))
      case _: InsertSelect => insertSelect(cat, s, ddl)
      case cta: CreateTableAs =>
        // analyze the SELECT once (over the source's merged read), render
        // its output schema back to CH column text, and re-enter the
        // normal CREATE TABLE parse — the derived schema then passes
        // through every engine/key/codec validation like a declared one;
        // a type with no CH rendering (map, struct) refuses loudly there
        val frame = selectOver(s, cta.source, cta.selectSql,
          cat.read(cta.source), s"ctas_${cta.name}", Some(cat))
        val colLines = frame.schema.fields.map(f =>
          s"  `${f.name}` ${ChDdlRender.chTypeText(f)}")
        val synthesized = parse(
          s"CREATE TABLE ${cta.name} (\n${colLines.mkString(",\n")}\n) " +
            cta.clauses, cta.path) match {
          case CreateTable(td, _) => td
          case other => throw new IllegalArgumentException(
            s"${cta.name}: CTAS clauses re-parsed as " +
              s"${other.getClass.getSimpleName} — ENGINE/ORDER BY " +
              "clauses only between the name and AS SELECT")
        }
        // engine keys must come from the DERIVED schema — validated
        // before registration, so a bad CTAS leaves no table behind
        (synthesized.sortKeys ++ synthesized.partitionKeys ++
          keysOf(synthesized.semantics)).foreach(k =>
          require(synthesized.schema.fieldNames.contains(k),
            s"${cta.name}: key $k is not an output column of the SELECT — " +
              "CTAS keys must come from the derived schema"))
        cat.createTable(synthesized)
        cat.append(cta.name, frame)
      case InsertValues(target, cols, valuesSql) =>
        val t = defOf(cat, target)
        val matSet = t.materializedCols.map(_._1).toSet
        val insertable = t.schema.fields.filterNot(f => matSet(f.name))
        val names = if (cols.nonEmpty) cols else insertable.map(_.name).toSeq
        names.foreach { n =>
          require(!matSet(n),
            s"INSERT INTO $target: $n is MATERIALIZED — computed at " +
              "insert, never supplied")
          require(t.schema.fieldNames.contains(n),
            s"INSERT INTO $target: unknown column $n")
        }
        // Spark's own VALUES parser types the tuples; literals ride the
        // dialect rewrite so CH-isms (now(), toDate('…')) work inside
        val rewritten = GraftSql.expandFunctions(ChDialect.rewrite(valuesSql))
        val df0 = s.sql(
          s"SELECT * FROM VALUES $rewritten AS __v(${names.mkString(", ")})")
        val byName = t.schema.fields.map(f => f.name -> f.dataType).toMap
        val typed = df0.select(names.map(n =>
          org.apache.spark.sql.functions.col(n).cast(byName(n)).as(n)): _*)
        // CH semantics for omitted columns: the declared DEFAULT if one
        // exists (left absent here — the append fill applies it), else
        // the TYPE default (0 / '' / false / epoch; containers NULL)
        val altered = cat.insertDefaultColumns(target)
        val omitted = insertable.filterNot(f =>
          names.contains(f.name) || altered(f.name))
        // the container divergence is SILENT semantic drift without this:
        // CH fills an omitted Array with [] — this engine has no natural
        // scalar default for containers and stores NULL (doc on
        // chTypeDefault), so say so loudly at the door
        omitted.filter(f => f.dataType.isInstanceOf[
            org.apache.spark.sql.types.ArrayType] ||
            f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
          .foreach(f => System.err.println(
            s"[chddl] INSERT INTO $target: omitted container column " +
              s"${f.name} fills with NULL (ClickHouse fills []) — supply " +
              "the column or declare a DEFAULT to avoid the divergence"))
        val filled = omitted.foldLeft(typed)((d, f) =>
          d.withColumn(f.name, chTypeDefault(f.dataType)))
        appendRouted(cat, target, filled)
      case InsertFormat(target, cols, format, payload) =>
        val t = defOf(cat, target)
        val matSet = t.materializedCols.map(_._1).toSet
        val insertable = t.schema.fields.filterNot(f => matSet(f.name))
        val names = if (cols.nonEmpty) cols else insertable.map(_.name).toSeq
        names.foreach { n =>
          require(!matSet(n),
            s"INSERT INTO $target: $n is MATERIALIZED — computed at " +
              "insert, never supplied")
          require(t.schema.fieldNames.contains(n),
            s"INSERT INTO $target: unknown column $n")
        }
        val lines = payload.linesIterator.filter(_.trim.nonEmpty).toSeq
        require(lines.nonEmpty,
          s"INSERT INTO $target FORMAT $format: empty payload")
        // *WithNames formats bind by HEADER NAME, not position (CH
        // semantics): validate the header against the expected columns
        // and re-order the parse schema to the header's order — Spark's
        // csv reader with an explicit schema skips the header without
        // matching it (enforceSchema), which would silently mis-assign
        // values under a reordered header
        def headerNames(sep: String): Seq[String] = {
          val toks = lines.head.split(sep, -1)
            .map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
          val expected = names.toSet
          val unknown = toks.filterNot(expected)
          val missing = names.filterNot(toks.toSet)
          require(unknown.isEmpty && missing.isEmpty,
            s"INSERT INTO $target FORMAT $format: header (${toks.mkString(",")}) " +
              s"does not match expected columns (${names.mkString(",")})" +
              (if (unknown.nonEmpty) s"; unknown: ${unknown.mkString(",")}" else "") +
              (if (missing.nonEmpty) s"; missing: ${missing.mkString(",")}" else ""))
          toks
        }
        // a malformed payload line must FAIL the insert, never turn into
        // an all-null row that the default fill fabricates values for
        // (CH rejects malformed rows) — hence FAILFAST, not PERMISSIVE
        def subSchema(ns: Seq[String]) = StructType(ns.map(n =>
          t.schema(t.schema.fieldIndex(n)).copy(nullable = true)))
        import s.implicits._
        val ds = s.createDataset(lines)
        def csv(sep: String, header: Boolean) = {
          val ns = if (header) headerNames(sep) else names
          s.read.schema(subSchema(ns)).option("sep", sep)
            .option("header", header.toString)
            .option("mode", "FAILFAST").csv(ds)
        }
        val parsed = format.toLowerCase match {
          case "jsoneachrow" | "ndjson" | "jsonlines" =>
            s.read.schema(subSchema(names))
              .option("mode", "FAILFAST").json(ds)
          case "csv" => csv(",", header = false)
          case "csvwithnames" => csv(",", header = true)
          case "tsv" | "tabseparated" => csv("\t", header = false)
          case "tsvwithnames" | "tabseparatedwithnames" => csv("\t", header = true)
          case other => throw new IllegalArgumentException(
            s"INSERT INTO $target FORMAT $other: supported inline formats " +
              "are JSONEachRow, CSV[WithNames], TSV/TabSeparated[WithNames]")
        }
        // per-row ABSENT fields (null after the schema'd parse): the
        // declared DEFAULT when one exists, else the CH type default —
        // exactly the JSONEachRow fill semantics
        val byName = t.schema.fields.map(f => f.name -> f.dataType).toMap
        val typed = names.foldLeft(parsed)((d, n) =>
          d.withColumn(n, org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.col(n).cast(byName(n)),
            cat.insertDefault(target, n)
              .getOrElse(chTypeDefault(byName(n))))))
        val altered = cat.insertDefaultColumns(target)
        val filled = insertable.filterNot(f =>
            names.contains(f.name) || altered(f.name))
          .foldLeft(typed)((d, f) =>
            d.withColumn(f.name, chTypeDefault(f.dataType)))
        appendRouted(cat, target, filled)
      case AlterTable(table, cmds) => cmds.foreach {
        case AddColumnCmd(field, defaultSql) =>
          // the DEFAULT is a constant expression: evaluate it ONCE on the
          // driver (CH stores the expression; our addColumn machinery
          // stores the value — same read/insert fill semantics for the
          // constant class, and non-constants fail loudly right here)
          val v = defaultSql.map(d => s.sql(s"SELECT ($d)").head().get(0))
            .orNull
          cat.addColumn(table, field, v)
        case DropColumnCmd(c) => cat.dropColumn(table, c)
        case RenameColumnCmd(from, to) => cat.renameColumn(table, from, to)
        case ModifyColumnCmd(c, dt) => cat.modifyColumnType(table, c, dt)
        case ModifyDefaultCmd(c, d) => cat.modifyColumnDefault(table, c, d)
        case DeleteCmd(where) => cat.delete(table, expr(where))
        case UpdateCmd(set, where) =>
          cat.update(table, expr(where),
            set.map { case (c, e) => c -> expr(e) }.toMap)
        case DropPartitionCmd(v) => cat.dropPartition(table, v)
        case DetachPartitionCmd(v) => cat.detachPartition(table, v)
        case AttachPartitionCmd(v) => cat.attachPartition(table, v)
        case FreezeCmd(tag) => cat.freeze(table, tag)
        case AddProjectionCmd(spec) => cat.addProjection(table, spec)
        case DropProjectionCmd(pn) => cat.dropProjection(table, pn)
        case MaterializeProjectionCmd(pn) => cat.materializeProjection(table, pn)
        case ModifyTtlCmd(spec) => cat.modifyTtl(table, spec)
        case RemoveTtlCmd => cat.removeTtl(table)
        // wall clock, like CH's merge-time application; the deterministic
        // entry point is cat.materializeTtl(name, nowEpochSec)
        case MaterializeTtlCmd =>
          cat.materializeTtl(table, System.currentTimeMillis() / 1000L)
        case AddIndexCmd(idxName, column, kind, args) =>
          // the user's name is advisory: the engine resolves DROP/
          // MATERIALIZE by the canonical spelling SHOW CREATE emits —
          // say so loudly when they differ, then proceed
          val canonical = graft.catalog.IndexKind.forType(kind)
            .fold(idxName)(_.name(column))
          if (idxName != canonical) System.err.println(
            s"[chddl] ADD INDEX $idxName: this engine names indexes " +
              s"canonically — registered as $canonical (use that name " +
              "for DROP/MATERIALIZE/CLEAR INDEX)")
          cat.addIndex(table, kind, column, args)
        case DropIndexCmd(idxName, ifExists) =>
          cat.dropIndex(table, idxName, ifExists)
        case MaterializeIndexCmd(idxName) =>
          cat.materializeIndex(table, idxName)
        case ClearIndexCmd(idxName) => cat.clearIndex(table, idxName)
        case NoopAlterCmd(text, note) =>
          System.err.println(s"[chddl] ALTER TABLE $table $text: $note")
      }
      case DropTable(table, ifExists) =>
        // a Distributed facade drops ITSELF only (CH semantics: the
        // member tables keep their data)
        if (scala.util.Try(cat.distributed.get(table)).isSuccess)
          cat.distributed.drop(table)
        else cat.dropTable(table, ifExists)
      case q: CreateQuota =>
        cat.governor.createQuota(q.name, q.users, q.intervalMs,
          q.maxQueries, q.maxErrors, q.maxResultRows, q.maxExecMs)
      case DropQuota(n, ifExists) =>
        require(cat.governor.dropQuota(n) || ifExists,
          s"DROP QUOTA $n: no such quota")
      case u: CreateUser => cat.createUser(u.name, u.auth, u.ifNotExists)
      case DropUser(n, ifExists) => cat.dropUser(n, ifExists)
      case r: CreateRole => cat.createRole(r.name, r.ifNotExists)
      case DropRole(n, ifExists) => cat.dropRole(n, ifExists)
      case GrantRoles(rs, us) => cat.grantRoles(rs, us)
      case RevokeRoles(rs, us) => cat.revokeRoles(rs, us)
      case DropTableIfEmpty(t) =>
        val n = cat.read(t).count()
        require(n == 0L,
          s"DROP TABLE IF EMPTY $t: table holds $n row(s)")
        cat.dropTable(t, ifExists = false)
      case DetachTable(table) => cat.detach(table)
      case AttachTable(table) =>
        require(warehouse.nonEmpty,
          s"ATTACH TABLE $table: needs the warehouse root (execute/" +
            "runScript's warehouse argument) to locate the _TABLE sidecar")
        cat.attach(s"$warehouse/$table")
      case RenameTable(pairs) =>
        pairs.foreach { case (a, b) => cat.renameTable(a, b) }
      case ExchangeTables(a, b) => cat.exchangeTables(a, b)
      case CreateView(name, select, orReplace) =>
        // bind every catalog source the select references as a temp view
        // first, so a view over Catalog tables resolves (snapshot
        // semantics — doc on the Statement)
        bindCatalogRefs(cat, s, select, Set.empty)
        val or = if (orReplace) "OR REPLACE " else ""
        s.sql(s"CREATE ${or}TEMPORARY VIEW $name AS " +
          GraftSql.expandFunctions(ChDialect.rewrite(select)))
      case DropView(name, ifExists) =>
        val dropped = s.catalog.dropTempView(name)
        require(dropped || ifExists,
          s"DROP VIEW $name: no such view (use IF EXISTS to tolerate)")
      case CreateDictionary(name, source, keys, cols, layout) =>
        // source resolution: a catalog table first (the CH-native path),
        // else an already-registered view (the testdata surface); any
        // other source refuses loudly at parse
        val src =
          if (cat.exists(source)) cat.read(source)
          else if (s.catalog.tableExists(source)) s.table(source)
          else throw new IllegalArgumentException(
            s"CREATE DICTIONARY $name: SOURCE table '$source' is neither " +
              "a catalog table nor a registered view")
        cols.foreach { case (c, _, _) =>
          require(src.columns.contains(c),
            s"CREATE DICTIONARY $name: declared column $c is not in " +
              s"source '$source' (${src.columns.mkString(", ")})")
        }
        // the probe view holds the declared columns AT DECLARED TYPES.
        // SNAPSHOT semantics (the CreateView discipline): the view's
        // file listing is pinned at CREATE — CH dictionaries likewise
        // serve a loaded snapshot until a LIFETIME reload; the explicit
        // reload here is re-running CREATE DICTIONARY (idempotent
        // overwrite)
        src.select(cols.map { case (c, dt, _) =>
          org.apache.spark.sql.functions.col(c).cast(dt).as(c) }: _*)
          .createOrReplaceTempView(s"__dict_$name")
        DictRegistry.put(DictRegistry.DictDef(name, s"__dict_$name", keys,
          cols.filterNot(c => keys.contains(c._1)).map { case (c, dt, d) =>
            c -> d.getOrElse(chTypeDefaultSql(dt)) }, layout))
      case DropDictionary(name, ifExists) =>
        s.catalog.dropTempView(s"__dict_$name")
        require(DictRegistry.remove(name) || ifExists,
          s"DROP DICTIONARY $name: no such dictionary (use IF EXISTS " +
            "to tolerate)")
      case SystemCmd(c) if c.trim.equalsIgnoreCase("DROP QUERY CACHE") =>
        GraftSql.queryCache.clear()
      case SystemCmd(c) =>
        System.err.println(s"[chddl] SYSTEM $c: acknowledged as a no-op " +
          "(merges/TTL run on demand via OPTIMIZE / MATERIALIZE TTL; " +
          "dictionaries evaluate per query; caches are process-local)")
      case UseDb(db) =>
        require(db.equalsIgnoreCase("default"),
          s"USE $db: the namespace here is flat (databases: default, " +
            "system) — system relations are read as FROM system.<rel>, " +
            "never entered")
      case SetSetting(n, v) =>
        if (n.toLowerCase.startsWith("param_") && n.length > 6) {
          // `SET param_<name> = v` binds a query parameter for this
          // catalog session — the {name:Type} substitution's source
          val raw =
            if (v.length >= 2 && v.startsWith("'") && v.endsWith("'"))
              v.substring(1, v.length - 1).replace("''", "'")
            else v
          cat.sessionParams.put(n.substring(6), raw)
          System.err.println(s"[chddl] SET $n: query parameter " +
            s"{${n.substring(6)}:…} bound for this catalog session")
        } else
        System.err.println(s"[chddl] SET $n = $v: acknowledged as a " +
          "no-op (session settings have no engine twin here — per-query " +
          "SETTINGS tails are accepted and stripped; engine knobs are " +
          "SparkSession confs)")
      case OptimizeTable(table, dedup, by) =>
        if (dedup) cat.optimizeDeduplicate(table, by) else cat.compact(table)
      case TruncateTable(table) => cat.truncate(table)
      case LightweightDelete(table, where) =>
        cat.deleteLightweight(table, expr(where))
      case Grant(table, users, cols) =>
        users.foreach(u => cat.grantColumns(table, u, cols))
      case CreateRowPolicy(pn, table, users, pred) =>
        cat.createRowPolicy(table, pn, users, pred)
    }
    stmt
  }

  /** ClickHouse's per-type implicit default (columns omitted from an
    * INSERT without a declared DEFAULT): numeric 0, String '', Bool
    * false, Date/DateTime epoch; container/variant types have no natural
    * scalar default and take NULL (documented divergence — CH uses []).
    */
  private def chTypeDefault(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types._
    dt match {
      case StringType => lit("")
      case BooleanType => lit(false)
      case _: NumericType => lit(0).cast(dt)
      case DateType | TimestampType => lit(0L).cast(TimestampType).cast(dt)
      case other => lit(null).cast(other)
    }
  }

  /** [[chTypeDefault]] as SQL literal text — the dictGet miss-default
    * the dialect rewrite splices when no DEFAULT was declared (CH
    * dictGet returns the type default on a miss, never null).
    */
  private[sql] def chTypeDefaultSql(
      dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => "''"
      case BooleanType => "false"
      case _: NumericType => s"CAST(0 AS ${dt.sql})"
      case DateType => "DATE '1970-01-01'"
      case TimestampType | TimestampNTZType =>
        "TIMESTAMP '1970-01-01 00:00:00'"
      case other => s"CAST(NULL AS ${other.sql})"
    }
  }

  /** Every column an engine's merge view is keyed by — the CTAS
    * derived-schema validation set (Aggregating validates its own shape
    * at createTable).
    */
  private def keysOf(sem: graft.catalog.EngineSemantics): Seq[String] =
    sem match {
      case ReplacingDedup(keys, ver, isDel) => keys ++ Seq(ver) ++ isDel.toSeq
      case Summing(keys, cols) => keys ++ cols
      case Collapsing(keys, sign, version) => keys ++ Seq(sign, version)
      case JoinAny(keys) => keys
      case _ => Nil
    }

  private def nameOf(ddl: String): String =
    "(?is)CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?([`\\w.]+)".r
      .findFirstMatchIn(ddl).map(m => bare(m.group(1))).getOrElse("t")

  /** Run a whole runbook: statements split on top-level `;`, executed in
    * order. The "paste your ClickHouse script and it runs" entry point.
    */
  def runScript(cat: Catalog, s: org.apache.spark.sql.SparkSession,
                script: String, warehouse: String): Seq[Statement] =
    splitStatements(script).map(stmt => execute(cat, s, stmt, warehouse))

  /** Quote-aware `;` split; drops empty fragments and `--` comment lines. */
  private[sql] def splitStatements(script: String): Seq[String] = {
    val noComments = script.linesIterator
      .filterNot(_.trim.startsWith("--")).mkString("\n")
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false; var inB = false
    noComments.foreach { c =>
      if (inQ) { cur += c; if (c == '\'') inQ = false }
      else if (inB) { cur += c; if (c == '`') inB = false }
      else c match {
        case '\'' => inQ = true; cur += c
        case '`' => inB = true; cur += c
        case ';' => out += cur.toString; cur.clear()
        case _ => cur += c
      }
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  // ---- lexical helpers ---------------------------------------------------

  /** (content between the `(` at `open` and its match, index past `)`). */
  private def balancedSection(s: String, open: Int): (String, Int) = {
    require(open < s.length && s.charAt(open) == '(', "expected (")
    var depth = 0; var i = open; var inQ = false; var inB = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) { if (c == '\'') inQ = false }
      else if (inB) { if (c == '`') inB = false }
      else c match {
        case '\'' => inQ = true
        case '`' => inB = true
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return (s.substring(open + 1, i), i + 1)
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced parentheses in DDL")
  }

  /** Top-level comma split, quote/backtick/paren aware; tolerates the
    * trailing comma the reference's own DDL carries (create_db.py:40).
    */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0; var inQ = false; var inB = false
    s.foreach { c =>
      if (inQ) { cur += c; if (c == '\'') inQ = false }
      else if (inB) { cur += c; if (c == '`') inB = false }
      else c match {
        case '\'' => inQ = true; cur += c
        case '`' => inB = true; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case _ => cur += c
      }
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString
    out.result()
  }

  /** Identifier-character test for keyword boundaries: CH identifiers are
    * `[A-Za-z0-9_]` — '_' MUST count as a word character or legal names
    * like `settings_hash` / `ttl_days` mis-split into bogus clauses.
    */
  private def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** Split the DDL tail into clauses keyed by their keyword. */
  private def parseClauses(tail: String): Map[String, String] = {
    val kws = Seq("ENGINE", "ORDER BY", "PRIMARY KEY", "PARTITION BY",
      "SAMPLE BY", "SETTINGS", "TTL", "COMMENT")
    // find keyword positions outside quotes/backticks/parens
    val hits = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    var depth = 0; var inQ = false; var inB = false; var i = 0
    val upper = tail.toUpperCase
    while (i < tail.length) {
      val c = tail.charAt(i)
      if (inQ) { if (c == '\'') inQ = false; i += 1 }
      else if (inB) { if (c == '`') inB = false; i += 1 }
      else c match {
        case '\'' => inQ = true; i += 1
        case '`' => inB = true; i += 1
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ =>
          if (depth == 0) {
            kws.find(k => upper.startsWith(k, i) &&
                (i == 0 || !isWordChar(upper.charAt(i - 1))) &&
                (i + k.length >= tail.length ||
                  !isWordChar(upper.charAt(i + k.length)))) match {
              case Some(k) => hits += i -> k; i += k.length
              case None => i += 1
            }
          } else i += 1
      }
    }
    hits.zipAll(hits.drop(1).map(h => Some(h)), (0, ""), None).collect {
      case ((pos, k), next) if k.nonEmpty =>
        val end = next.map(_._1).getOrElse(tail.length)
        k -> tail.substring(pos + k.length, end).trim
    }.toMap
  }

  private def splitColName(item: String): (String, String) = {
    val t = item.trim
    if (t.startsWith("`")) {
      val e = t.indexOf('`', 1)
      (t.substring(1, e), t.substring(e + 1))
    } else {
      val e = t.indexWhere(c => !c.isLetterOrDigit && c != '_')
      if (e < 0) (t, "") else (t.substring(0, e), t.substring(e))
    }
  }

  private final case class Mods(typeText: String,
                                materialized: Option[String],
                                default: Option[String],
                                codec: Option[String])

  /** Split a column tail into type text + MATERIALIZED/DEFAULT/CODEC. */
  private def splitModifiers(rest: String): Mods = {
    val kws = Seq("MATERIALIZED", "DEFAULT", "ALIAS", "CODEC", "COMMENT")
    val upper = rest.toUpperCase
    var depth = 0; var inQ = false; var inB = false; var i = 0
    val hits = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    while (i < rest.length) {
      val c = rest.charAt(i)
      if (inQ) { if (c == '\'') inQ = false; i += 1 }
      else if (inB) { if (c == '`') inB = false; i += 1 }
      else c match {
        case '\'' => inQ = true; i += 1
        case '`' => inB = true; i += 1
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ =>
          if (depth == 0) {
            kws.find(k => upper.startsWith(k, i) &&
                (i == 0 || !isWordChar(upper.charAt(i - 1))) &&
                (i + k.length >= rest.length ||
                  !isWordChar(upper.charAt(i + k.length)))) match {
              case Some(k) => hits += i -> k; i += k.length
              case None => i += 1
            }
          } else i += 1
      }
    }
    val typeEnd = hits.headOption.map(_._1).getOrElse(rest.length)
    def section(k: String): Option[String] =
      hits.zipWithIndex.collectFirst { case ((pos, `k`), idx) =>
        val end = hits.lift(idx + 1).map(_._1).getOrElse(rest.length)
        rest.substring(pos + k.length, end).trim
      }
    val codec = section("CODEC").map { c =>
      val t = c.trim
      if (t.startsWith("(")) t.stripPrefix("(").stripSuffix(")") else t
    }
    Mods(rest.substring(0, typeEnd), section("MATERIALIZED"),
      section("DEFAULT"), codec)
  }

  // ---- type parsing ------------------------------------------------------

  private[graft] def parseType(s: String): ChType = {
    val t = s.trim
    val p = t.indexOf('(')
    val (ident, args) =
      if (p < 0) (t, None)
      else {
        val (inner, after) = balancedSection(t, p)
        require(t.substring(after).trim.isEmpty,
          s"trailing text after type: '$t'")
        (t.substring(0, p).trim, Some(inner))
      }
    def one = args.getOrElse(throw new IllegalArgumentException(
      s"type $ident needs a parameter"))
    ident.toLowerCase match {
      case "string" => ChString
      case "fixedstring" => ChFixedString(one.trim.toInt)
      case "uint8" => ChUInt8
      case "uint16" => ChUInt16
      case "uint32" => ChUInt32
      case "uint64" => ChUInt64
      case "int8" => ChInt8
      case "int16" => ChInt16
      case "int32" => ChInt32
      case "int64" => ChInt64
      case "float32" => ChFloat32
      case "float64" => ChFloat64
      case "bool" | "boolean" => ChBool
      case "uuid" => ChString // textual identity; no dedicated Spark type
      // the semi-structured column TYPE (args — CH's max_dynamic_paths
      // etc. — are storage tuning, accepted and ignored); legacy
      // Object('json') spells the same type
      case "json" | "dynamic" | "object" => ChJson
      case "date" | "date32" => ChDate
      case "datetime" => ChDateTime // tz arg, if any, is display metadata
      case "datetime64" => ChDateTime // micro precision is Spark's native
      case "decimal" =>
        splitTopLevel(one).map(_.trim.toInt) match {
          case Seq(pr, sc) => ChDecimal(pr, sc)
          case other => throw new IllegalArgumentException(
            s"Decimal expects (precision, scale), got ${other.length} " +
              s"argument(s) in '$t' — the single-scale forms are " +
              "Decimal32/64/128(S)")
        }
      // fixed-precision shorthands: Decimal32(S)=9 digits, 64(S)=18,
      // 128(S)=38 (the ClickHouse width table)
      case "decimal32" => ChDecimal(9, one.trim.toInt)
      case "decimal64" => ChDecimal(18, one.trim.toInt)
      case "decimal128" => ChDecimal(38, one.trim.toInt)
      case "lowcardinality" => ChLowCardinality(parseType(one))
      case "nullable" => ChNullable(parseType(one))
      case "array" => ChArray(parseType(one))
      // `AggregateFunction(fn, T…)` — the AggregatingMergeTree state
      // column type; fn may be parameterized (topK(10), quantile(0.5) —
      // a quantile's probe point is a READ-time argument, the stored
      // sketch is point-free)
      case "aggregatefunction" =>
        val parts = splitTopLevel(one).map(_.trim)
        require(parts.length >= 2,
          s"AggregateFunction(fn, T…): needs a function and at least " +
            s"one argument type in '$t'")
        val fnText = parts.head
        val argTexts = parts.tail
        val inners = argTexts.map(parseType)
        val fp = fnText.indexOf('(')
        val (fn, fparam) =
          if (fp < 0) (fnText, None)
          else (fnText.substring(0, fp).trim,
            Some(fnText.substring(fp + 1, fnText.lastIndexOf(')')).trim))
        def numeric(what: String): Unit = {
          import org.apache.spark.sql.types.NumericType
          require(inners.head.sparkType.isInstanceOf[NumericType],
            s"AggregateFunction($what, …): argument must be numeric, " +
              s"got ${argTexts.head}")
        }
        val kind = fn.toLowerCase match {
          case "uniq" | "uniqcombined" | "uniqhll12" => "hll"
          case "quantile" | "quantiles" | "median" => "kll"
          case "avg" => numeric("avg"); "avg"
          case "sum" => numeric("sum"); "sum"
          case "min" => "min"
          case "max" => "max"
          case "argmax" =>
            require(inners.length == 2,
              "AggregateFunction(argMax, Targ, Tval): needs two types")
            "argmax"
          case "topk" =>
            // unwrap storage-attribute wrappers: LowCardinality(String) /
            // Nullable(String) are common CH spellings for key columns and
            // store the same string values the state tracks
            def unwrapped(t: ChType): ChType = t match {
              case ChLowCardinality(inner) => unwrapped(inner)
              case ChNullable(inner) => unwrapped(inner)
              case other => other
            }
            require(unwrapped(inners.head) == ChString,
              "AggregateFunction(topK, T): the maintained top-k state " +
                "stores STRING values — declare topK over String " +
                "(LowCardinality/Nullable wrappers accepted)")
            s"topk:${fparam.filter(_.nonEmpty).map(_.toInt).getOrElse(10)}"
          case other => throw new IllegalArgumentException(
            s"AggregateFunction($other, …): unsupported state kind — " +
              "supported: uniq, quantile, avg, sum, min, max, argMax, topK(N)")
        }
        ChType.ChAggState(kind, inners, fnText, argTexts)
      case "enum8" | "enum16" =>
        val pairs = splitTopLevel(one).map { pair =>
          val eq = lastTopLevelEq(pair)
          val nm = pair.substring(0, eq).trim.stripPrefix("'").stripSuffix("'")
          (nm, pair.substring(eq + 1).trim.toInt)
        }
        ChEnum8(pairs)
      case other => throw new IllegalArgumentException(
        s"unsupported ClickHouse type $other")
    }
  }

  // the '=' separating name from code, never one inside the quoted name
  private def lastTopLevelEq(pair: String): Int = {
    var inQ = false
    var last = -1
    pair.zipWithIndex.foreach { case (c, i) =>
      if (c == '\'') inQ = !inQ
      else if (c == '=' && !inQ) last = i
    }
    require(last >= 0, s"Enum entry '$pair' has no = code")
    last
  }

  private def isLowCardinality(t: ChType): Boolean = t match {
    case ChLowCardinality(_) => true
    case ChNullable(inner) => isLowCardinality(inner)
    case _ => false
  }

  private def enumValues(t: ChType): Option[Seq[String]] = t match {
    case ChEnum8(vs) => Some(vs.map(_._1))
    case ChLowCardinality(inner) => enumValues(inner)
    case ChNullable(inner) => enumValues(inner)
    case _ => None
  }
}
