package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.queue.{Job, JobQueue, WorkQueue}
import graft.sources.GitImporter
import GitGen.Commit

/** The queue layer timed through its trait: claim and complete are the
  * two calls `GitImporter.workOnce` makes on it.
  */
final class TimedQueue(q: JobQueue) extends JobQueue {
  var claimMs, completeMs = 0.0
  private def timed[T](set: Double => Unit)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally set((System.nanoTime() - t0) / 1e6)
  }
  def schedule(repoName: String, priority: Int, now: Long): Either[String, Job] =
    q.schedule(repoName, priority, now)
  def claim(workerId: String, retries: Int, now: Long): Option[Job] =
    timed(claimMs = _)(q.claim(workerId, retries, now))
  def complete(repoName: String): Unit = timed(completeMs = _)(q.complete(repoName))
  def length: Int = q.length
  def contains(repoName: String): Boolean = q.contains(repoName)
  def snapshot(): Seq[Job] = q.snapshot()
}

/** The git part of `ingest`: the reference's ETL pipeline. Repositories
  * with Zipf-skewed sizes are scheduled on a `WorkQueue` and drained with
  * `GitImporter.workOnce`; an imported repository is refreshed (new
  * commits, re-sent old rows and in-batch duplicates, re-imported through
  * the queue); README-style ClickHouse SELECTs run through `ChDdl.query`
  * over the three ReplacingMergeTree tables.
  */
object GitImport {
  /** Commits per repository: Zipf ranks 1 to 4 (240/k), repeated in this
    * order, so every seed imports the same sizes in the same order.
    */
  val Sizes: Vector[Int] = Vector(60, 240, 120, 80)
  val Authors = 12
  val RefreshCommits = 20
  val Tables: Seq[String] = Seq("commits", "file_changes", "line_changes")

  /** The analyst queries, one per table: (name, SQL for a repository,
    * answer from the generator's rows of that repository).
    */
  val Queries: Vector[(String, String => String, Vector[Commit] => Seq[String])] = Vector(
    ("top_authors",
      r => s"SELECT author, count() AS c FROM commits WHERE repo_name = '$r' " +
        "GROUP BY author ORDER BY c DESC, author LIMIT 5",
      cs => cs.groupBy(_.author).map { case (a, g) => (a, g.size) }.toSeq
        .sortBy { case (a, c) => (-c, a) }.take(5).map { case (a, c) => s"$a|$c" }),
    ("top_paths",
      r => s"SELECT path, sum(lines_added) AS a, sum(lines_deleted) AS d FROM file_changes " +
        s"WHERE repo_name = '$r' GROUP BY path ORDER BY a DESC, path LIMIT 5",
      cs => cs.flatMap(_.files).groupBy(_.path).map { case (p, fs) =>
        (p, fs.map(_.added).sum, fs.map(_.deleted).sum) }.toSeq
        .sortBy { case (p, a, _) => (-a, p) }.take(5).map { case (p, a, d) => s"$p|$a|$d" }),
    ("line_types",
      r => s"SELECT line_type, count() AS c, sum(sign) AS s FROM line_changes " +
        s"WHERE repo_name = '$r' GROUP BY line_type ORDER BY line_type",
      cs => cs.flatMap(_.files).flatMap(_.lines).groupBy(_.lineType).map { case (t, ls) =>
        (t, ls.size, ls.map(_.sign).sum) }.toSeq.sorted.map { case (t, c, s) => s"$t|$c|$s" }))

  /** Rows the three tables hold for `cs`. */
  def rowCount(cs: Seq[Commit]): Long =
    cs.size + cs.map(_.files.size.toLong).sum + cs.map(_.files.map(_.lines.size.toLong).sum).sum
}

final class GitImport(env: Env) extends Part {
  import GitImport._
  private val spark = env.spark
  private val rnd = new Random(env.seed)
  private val tmp = Paths.get(env.tmp, "git")
  private val importer = new GitImporter(spark, s"$tmp/warehouse")
  private val queue = new TimedQueue(new WorkQueue(tmp.resolve("queue")))
  private val model = mutable.LinkedHashMap.empty[String, Vector[Commit]]
  private val tsvDir = mutable.Map.empty[String, Path]
  private val tsvBytes = mutable.Map.empty[Path, Long]
  private val opsOf = mutable.Map.empty[String, mutable.ArrayBuffer[Int]]
  private var inputBytes = 0L // of the TSVs imported so far
  private var batches = 0
  private val t0 = 1500000000L + rnd.nextInt(100000000)

  // all repositories are generated and scheduled before the first timed
  // operation: enough for the warm-up and rounds of down to a second
  private val nRepos = 1 + math.max(1, env.seconds.toInt)
  private val pending = mutable.Map.empty[String, Vector[Commit]]
  env.generating {
    (0 until nRepos).foreach { i =>
      val repo = s"gh$i/repo$i"
      val cs = GitGen.commits(rnd, Sizes(i % Sizes.size), t0, Authors)
      val (c, f, l) = GitGen.rows(cs)
      val dir = tmp.resolve(s"inputs/b$batches"); batches += 1
      tsvBytes(dir) = GitGen.writeTsvs(dir, c, f, l)
      tsvDir(repo) = dir
      model(repo) = Vector.empty
      pending(repo) = cs
      // scheduled in generation order: the claim takes the oldest first
      queue.schedule(repo, 0, i + 1L)
    }
  }

  /** A round: a first import, a refresh, and every analyst query twice. */
  val round: Seq[String] = Vector("import", "refresh") ++ (Queries ++ Queries).map(_ => "gitq")
  override val warmup: Seq[String] = Vector("import", "refresh") ++ Queries.map(_ => "gitq")

  def run(kind: String, i: Int): OpRecord = kind match {
    case "import" => importNext(i, "import", r => pending.remove(r).get)
    case "refresh" => refresh(i)
    case _ => query(i)
  }

  /** One worker poll; the repository it imported and the new commits it
    * carried are recorded in the answer model.
    */
  private def importNext(i: Int, kind: String, added: String => Vector[Commit]): OpRecord = {
    var done = Option.empty[String]
    val rec = env.tracer.op(kind, "workOnce") { ctx =>
      done = importer.workOnce(queue, "w1", r => tsvDir(r).toString)
      require(done.isDefined, "queue was empty")
      ctx.count("queue_claim_ms", queue.claimMs)
      ctx.count("queue_complete_ms", queue.completeMs)
    }
    done.fold(rec) { repo =>
      opsOf.getOrElseUpdate(repo, mutable.ArrayBuffer.empty) += i
      inputBytes += tsvBytes(tsvDir(repo))
      val add = added(repo)
      model(repo) = model(repo) ++ add
      rec.copy(layers = rec.layers + ("rows" -> rowCount(add).toDouble))
    }
  }

  private def imported: Vector[String] = model.keys.filter(r => model(r).nonEmpty).toVector

  // a refresh: new commits after the last one, 20% of the old commits
  // re-sent (below the high-water mark) and 10% of the new ones twice
  private def refresh(i: Int): OpRecord = {
    val repo = imported(rnd.nextInt(imported.size))
    val old = model(repo)
    val added = env.generating {
      val add = GitGen.commits(rnd, RefreshCommits, old.last.time, Authors)
      val resent = old.filter(_ => rnd.nextInt(5) == 0)
      val dup = add.filter(_ => rnd.nextInt(10) == 0)
      val (c, f, l) = GitGen.rows(rnd.shuffle(resent ++ add ++ dup))
      val dir = tmp.resolve(s"inputs/b$batches"); batches += 1
      tsvBytes(dir) = GitGen.writeTsvs(dir, c, f, l)
      tsvDir(repo) = dir
      add
    }
    // a refresh outranks the pending first imports
    queue.schedule(repo, 1, 0L)
    importNext(i, "refresh", _ => added)
  }

  // every query in turn, in a fresh seeded order each round
  private val templates = Iterator.continually(rnd.shuffle(Queries)).flatten

  private def query(i: Int): OpRecord = {
    val repo = imported(rnd.nextInt(imported.size))
    val (name, sql, answer) = templates.next()
    val text = sql(repo)
    var got = Seq.empty[String]
    val rec = env.tracer.op("gitq", name) { ctx =>
      val df = ctx.phase("build") { graft.sql.ChDdl.query(importer.catalog, spark, text) }
      ctx.phase("plan") { df.queryExecution.executedPlan }
      got = ctx.phase("execute") { df.collect() }.map(_.toSeq.mkString("|")).toSeq
      if (env.tracer.enabled) {
        val t1 = System.nanoTime()
        graft.sql.ChDialect.rewrite(text)
        ctx.count("sql_rewrite_ms", (System.nanoTime() - t1) / 1e6)
      }
    }
    val want = answer(model(repo))
    if (rec.ok && got != want)
      rec.copy(ok = false, error = s"wrong answer for $name on $repo: got ${got.take(3)} want ${want.take(3)}")
    else rec
  }

  /** Per-repository counts and sums after dedup, against the generator's
    * rows; a repository that differs fails every timed import of it.
    */
  def finish(): Checked = {
    val cat = importer.catalog
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val bad = mutable.Set.empty[String]
    def tally(t: String, v: String, want: Vector[Commit] => (Long, Long)): Unit = {
      val got = cat.read(t).groupBy("repo_name").agg(count(lit(1)), sum(col(v)))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val differ = model.keys.filter { repo =>
        val cs = model(repo)
        got.get(repo) != (if (cs.isEmpty) None else Some(want(cs)))
      }
      bad ++= differ
      checks += ((s"$t per-repository count and sum", differ.isEmpty,
        s"${got.size} repositories; differing: ${differ.take(5).mkString(" ")}"))
    }
    tally("commits", "lines_added", cs => (cs.size.toLong, cs.map(_.linesAdded.toLong).sum))
    tally("file_changes", "lines_added", cs =>
      (cs.map(_.files.size.toLong).sum, cs.map(_.linesAdded.toLong).sum))
    tally("line_changes", "sign", cs =>
      (rowCount(cs) - cs.size - cs.map(_.files.size.toLong).sum,
        cs.flatMap(_.files).flatMap(_.lines).map(_.sign.toLong).sum))
    val wh = tmp.resolve("warehouse")
    Checked(
      bad.flatMap(r => opsOf.getOrElse(r, Nil)).filter(_ >= 0)
        .map(_ -> "table contents differ from the imported input").toMap,
      checks.toSeq,
      Map("git_input_bytes" -> inputBytes.toDouble,
        "git_stored_bytes" -> Tables.map(t => Disk.bytes(wh.resolve(t))).sum.toDouble,
        "git_data_files" -> Tables.map(t => Disk.dataFiles(wh.resolve(t))).sum.toDouble))
  }
}
