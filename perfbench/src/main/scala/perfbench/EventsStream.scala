package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.catalog.Catalog
import graft.sources.GhEventsIngest
import graft.sql.ChDdl

/** The events part of `ingest`: GH-archive style event batches stream
  * into `github_events` (built with `GhEventsIngest.table`, with a
  * `bloom_filter` index on `actor_login` and a `tokenbf_v1` index on
  * `body`), which feeds the `github_stars` SummingMergeTree through
  * `github_stars_mv`. Each round inserts a batch, runs pruned lookups
  * (`Catalog.readPruned`, `readTokenPruned`) and one
  * `ALTER TABLE … DELETE|UPDATE WHERE actor_login = …`.
  */
object EventsStream {
  val BatchRows = 2000
  val Actors = 3000
  val Repos = 400

  final case class Ev(eventType: String, actor: String, repo: String, createdAt: Long,
                      action: String, body: String, number: Long, var comments: Long)

  private val types = Vector(
    "WatchEvent" -> 25, "PushEvent" -> 30, "IssueCommentEvent" -> 15, "IssuesEvent" -> 10,
    "PullRequestEvent" -> 10, "ForkEvent" -> 5, "CreateEvent" -> 5)
  private val typeTable = types.flatMap { case (t, w) => Vector.fill(w)(t) }
  private val words = ("merge fix bug panic slow fast index query parser crash docs " +
    "release build flaky test review approve revert cache memory leak thread lock " +
    "timeout retry driver engine spark storage schema column table part").split(' ')

  /** Rare tokens: each appears in a few events only, so a token probe can
    * skip most files.
    */
  def rareToken(i: Int): String = f"ref$i%05d"

  def event(rnd: Random, t: Long, rareBase: Int): Ev = {
    val tpe = typeTable(rnd.nextInt(typeTable.size))
    val action = tpe match {
      case "WatchEvent" => "started"
      case "IssuesEvent" | "PullRequestEvent" => if (rnd.nextBoolean()) "opened" else "closed"
      case "IssueCommentEvent" => "created"
      case _ => "none"
    }
    val body =
      if (Set("IssueCommentEvent", "IssuesEvent", "PullRequestEvent")(tpe)) {
        val ws = Seq.fill(4 + rnd.nextInt(9))(words(rnd.nextInt(words.length)))
        (if (rnd.nextInt(4) == 0) ws :+ rareToken(rareBase + rnd.nextInt(200)) else ws).mkString(" ")
      } else ""
    Ev(tpe, s"u${GitGen.zipf(rnd, Actors)}", s"org${GitGen.zipf(rnd, Repos)}/proj",
      t, action, body, 1 + rnd.nextInt(5000), rnd.nextInt(20))
  }

  def json(e: Ev): String = {
    val ts = GitGen.ts(e.createdAt)
    val fields = Seq(
      "file_time" -> Json.quote(GitGen.ts(e.createdAt / 3600 * 3600)),
      "event_type" -> Json.quote(e.eventType), "actor_login" -> Json.quote(e.actor),
      "repo_name" -> Json.quote(e.repo), "created_at" -> Json.quote(ts),
      "updated_at" -> Json.quote(ts), "action" -> Json.quote(e.action),
      "body" -> Json.quote(e.body), "number" -> e.number.toString,
      "comments" -> e.comments.toString,
      "labels" -> (if (e.eventType == "IssuesEvent") "[\"bug\",\"triage\"]" else "[]"))
    fields.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
  }
}

final class EventsStream(env: Env) extends Part {
  import EventsStream._
  private val spark = env.spark
  private val rnd = new Random(env.seed)
  private val tmp = Paths.get(env.tmp, "events")
  private val wh = s"$tmp/warehouse"
  private val cat = new Catalog(spark)
  cat.createTable(GhEventsIngest.table(wh).copy(
    indexCols = Seq("actor_login"), tokenIndexCols = Seq("body")))
  ChDdl.createTable(cat,
    """CREATE TABLE github_stars (
      |    `repo_name` LowCardinality(String),
      |    `stars`     UInt64
      |) ENGINE = SummingMergeTree
      |ORDER BY repo_name""".stripMargin, s"$wh/github_stars")
  ChDdl.createMaterializedView(cat, spark,
    """CREATE MATERIALIZED VIEW github_stars_mv TO github_stars AS
      |SELECT repo_name, count() AS stars
      |FROM github_events
      |WHERE event_type = 'WatchEvent'
      |GROUP BY repo_name""".stripMargin)

  // the answer model: live events, and stars counted at insert time
  // (ClickHouse materialized views see inserts, never mutations)
  private val live = mutable.ArrayBuffer.empty[Ev]
  private val stars = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var clock = 1704067200L + rnd.nextInt(1000000)
  private var batches, inputBytes = 0L
  private var rareBase = 0

  private def doInsert(): OpRecord = {
    val (evs, path) = env.generating {
      val evs = Vector.fill(BatchRows) { clock += 1 + rnd.nextInt(3); event(rnd, clock, rareBase) }
      rareBase += 100
      val p = tmp.resolve(s"inputs/batch$batches.jsonl"); batches += 1
      Files.createDirectories(p.getParent)
      Files.writeString(p, evs.map(json).mkString("", "\n", "\n"))
      inputBytes += Files.size(p)
      (evs, p.toString)
    }
    var n = 0L
    val rec = env.tracer.op("insert", "ingest") { _ =>
      n = GhEventsIngest.ingest(spark, cat, path)
    }
    live ++= evs
    evs.filter(_.eventType == "WatchEvent").foreach(e => stars(e.repo) += 1)
    if (rec.ok && n != BatchRows) rec.copy(ok = false, error = s"ingested $n of $BatchRows rows")
    else rec
  }

  private def popularActor(): String = live(rnd.nextInt(live.size)).actor
  private def doLookup(bloom: Boolean): OpRecord =
    if (bloom) {
      val actor = popularActor()
      var got = (0L, 0L)
      val rec = env.tracer.op("lookup", "bloom") { ctx =>
        val (df, kept, total) = cat.readPruned("github_events", "actor_login", actor)
        val q = df.filter(col("actor_login") === actor).agg(count(lit(1)), sum(col("comments")))
        ctx.phase("plan") { q.queryExecution.executedPlan }
        val r = ctx.phase("execute") { q.head() }
        got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        ctx.count("lookup_kept", kept); ctx.count("lookup_total", total)
      }
      val mine = live.filter(_.actor == actor)
      val want = (mine.size.toLong, mine.map(_.comments).sum)
      if (rec.ok && got != want) rec.copy(ok = false, error = s"actor $actor: got $got want $want")
      else rec
    } else {
      // a rare token from a recent batch, or one never written
      val tok = rareToken(math.max(0, rareBase - 300) + rnd.nextInt(400))
      var got = 0L
      val rec = env.tracer.op("lookup", "token") { ctx =>
        val (df, kept, total) = cat.readTokenPruned("github_events", "body", tok)
        val q = df.filter(Catalog.hasToken(col("body"), tok)).agg(count(lit(1)))
        ctx.phase("plan") { q.queryExecution.executedPlan }
        got = ctx.phase("execute") { q.head().getLong(0) }
        ctx.count("lookup_kept", kept); ctx.count("lookup_total", total)
      }
      val want = live.count(_.body.split(' ').contains(tok)).toLong
      if (rec.ok && got != want) rec.copy(ok = false, error = s"token $tok: got $got want $want")
      else rec
    }

  private var mutations = 0
  private def doMutation(): OpRecord = {
    val actor = popularActor()
    val delete = mutations % 2 == 0
    mutations += 1
    val text =
      if (delete) s"ALTER TABLE github_events DELETE WHERE actor_login = '$actor'"
      else s"ALTER TABLE github_events UPDATE comments = comments + 1 WHERE actor_login = '$actor'"
    val rec = env.tracer.op("mutation", if (delete) "delete" else "update") { _ =>
      ChDdl.execute(cat, spark, text)
    }
    if (delete) live.filterInPlace(_.actor != actor)
    else live.foreach(e => if (e.actor == actor) e.comments += 1)
    rec
  }

  /** A round: an insert, a bloom and a token lookup, and a mutation. */
  val round: Seq[String] = Vector("insert", "bloom", "token", "mutation")

  def run(kind: String, i: Int): OpRecord = kind match {
    case "insert" => doInsert()
    case "bloom" => doLookup(bloom = true)
    case "token" => doLookup(bloom = false)
    case _ => doMutation()
  }

  /** `github_stars` against the stars counted at insert time, and the
    * live row count against the answer model.
    */
  def finish(): Checked = {
    val got = cat.read("github_stars").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = stars.toMap
    val differ = (got.keySet ++ want.keySet).count(r => got.get(r) != want.get(r))
    val rows = cat.read("github_events").count()
    Checked(Map.empty, Seq(
      ("github_stars per repository", differ == 0, s"${got.size} repositories; $differ differ"),
      ("github_events live rows", rows == live.size, s"$rows rows; ${live.size} expected")),
      Map("batch_rows" -> BatchRows.toDouble, "events_input_bytes" -> inputBytes.toDouble,
        "events_stored_bytes" -> Disk.bytes(Paths.get(wh)).toDouble,
        "events_data_files" -> Disk.dataFiles(Paths.get(wh, "github_events")).toDouble))
  }
}
