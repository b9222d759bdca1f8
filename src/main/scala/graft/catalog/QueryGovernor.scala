package graft.catalog

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `KILL QUERY` + `max_execution_time` + `system.processes` analog.
  *
  * In ClickHouse every running query registers in system.processes under
  * its query_id; `KILL QUERY WHERE query_id = …` flips a cancellation
  * flag the workers poll, and `max_execution_time` enforces the same
  * kill from a watchdog (the reference's operational surface — runaway
  * analytics must be killable without restarting the server). A lazy
  * engine has nothing to kill until an action materializes, so the
  * governor wraps the ACTION — the same place [[QueryLog]] measures.
  *
  * The cancellation primitive is JOB TAGS + `cancelJobsWithTag`, chosen
  * by measurement over the two alternatives (killing a running AQE
  * query each way and timing its exit): job-group cancellation with
  * future-job poisoning deadlocks an AQE query (the stage-event loop
  * waits forever on a job that was refused at submission), and a
  * one-shot cancel of either kind is a silent no-op when it lands while
  * the query is still PLANNING — the "killed"
  * query then runs to completion. So [[kill]] re-issues the cancel on a
  * short period until the query actually exits: every job the action
  * (or AQE's stage-submission threads, which inherit the tag) submits
  * after the kill is swept by the next tick. Tags are unique per RUN,
  * so a reused query_id never inherits a stale cancellation.
  *
  * Scale note: cancellation is a control-plane message per executor,
  * not a data-plane operation — killing a 1000-executor scan costs the
  * same as killing a laptop-local one, and the periodic re-cancel is a
  * driver-local timer tick, not a cluster round-trip.
  */
private[catalog] final case class GovernedQuery(queryId: String, tag: String,
                                                startedMs: Long, maxMs: Long)

/** One quota declaration: limits are per `intervalMs` window, 0 = that
  * dimension unlimited (the CH `CREATE QUOTA … FOR INTERVAL` shape).
  */
private[catalog] final case class QuotaDef(name: String, users: Set[String],
    intervalMs: Long, maxQueries: Long, maxErrors: Long,
    maxResultRows: Long, maxExecMs: Long)

private[catalog] final class QuotaWindow(var windowStart: Long) {
  var queries = 0L
  var errors = 0L
  var resultRows = 0L
  var execMs = 0L
}

/** `clock` is injectable so quota-window rollover is testable without
  * sleeping; production uses wall time.
  */
final class QueryGovernor(spark: SparkSession,
                          clock: () => Long = () => System.currentTimeMillis()) {

  private val running = TrieMap.empty[String, GovernedQuery]
  // daemon timer: an abandoned governor must not pin the JVM
  private val timer = new java.util.Timer("graft-query-governor", true)

  /** Run `action` under `queryId`, visible in [[systemProcesses]] and
    * killable via [[kill]]; `maxExecutionMs > 0` arms the watchdog. A
    * killed action surfaces as the SparkException of the cancelled job
    * (SPARK_JOB_CANCELLED) — the caller sees the same failure a
    * ClickHouse client sees (QUERY_WAS_CANCELLED), never a silent empty
    * result.
    */
  def run[T](queryId: String, maxExecutionMs: Long = 0L)(action: => T): T = {
    // queryId is sanitized out of the tag (Spark refuses commas in job
    // tags; uniqueness comes from the UUID suffix anyway), so no id can
    // make addJobTag throw after the registry slot is taken
    val tag = s"graft-q-${queryId.replaceAll("[,\\s]", "_")}-" +
      java.util.UUID.randomUUID().toString.take(8)
    val entry = GovernedQuery(queryId, tag, System.currentTimeMillis(),
      maxExecutionMs)
    require(running.putIfAbsent(queryId, entry).isEmpty,
      s"query_id $queryId is already running (ids must be unique while live)")
    val sc = spark.sparkContext
    try sc.addJobTag(tag)
    catch { case e: Throwable => running.remove(queryId); throw e }
    val watchdog =
      if (maxExecutionMs <= 0) None
      else {
        val t = new java.util.TimerTask {
          // kill BY TAG, not by id: watchdog.cancel() cannot stop a task
          // already executing on the timer thread, and an id-addressed
          // kill firing after this run's finally could cancel an
          // innocent NEW run that reused the id — the tag pins the kill
          // to exactly the run that armed it
          override def run(): Unit = killTagged(queryId, tag)
        }
        timer.schedule(t, maxExecutionMs)
        Some(t)
      }
    try action
    finally {
      watchdog.foreach(_.cancel())
      running.remove(queryId)
      sc.removeJobTag(tag)
    }
  }

  /** `KILL QUERY WHERE query_id = id` — callable from ANY thread (the
    * point: the killing session is never the stuck one). Returns whether
    * the query was live when the kill was issued. The cancel repeats
    * every 250 ms until the query exits (doc above: a one-shot cancel
    * can land during planning and miss), then the ticker retires itself.
    */
  def kill(queryId: String): Boolean =
    running.get(queryId).exists(r => killTagged(queryId, r.tag))

  /** The kill addressed to ONE specific run (its per-run tag): no-op if
    * that run has already exited, even when a new run reuses the id.
    */
  private def killTagged(queryId: String, tag: String): Boolean =
    running.get(queryId).exists(_.tag == tag) && {
      def fire(): Unit =
        spark.sparkContext.cancelJobsWithTag(tag, s"KILL QUERY $queryId")
      fire()
      val ticker = new java.util.TimerTask {
        override def run(): Unit =
          if (running.get(queryId).exists(_.tag == tag)) fire()
          else cancel()
      }
      timer.schedule(ticker, 250L, 250L)
      true
    }

  // ---- quotas ---------------------------------------------------------
  //
  // CH `CREATE QUOTA q FOR INTERVAL i MAX queries n, errors e, result_rows
  // r, execution_time t TO users`: usage accumulates per user per rolling
  // interval window; the CHECK happens when a query STARTS (a query that
  // pushes usage over its limit completes — the NEXT one is refused with
  // QUOTA_EXCEEDED), and counters reset when the window elapses. Result
  // rows are reported by the caller ([[accountRows]]) because a generic
  // governed action has no inspectable row count.

  private val quotas = TrieMap.empty[String, QuotaDef]
  // usage keyed (quota, user): each covered user gets its own window
  private val usage = TrieMap.empty[(String, String), QuotaWindow]

  def createQuota(name: String, users: Seq[String], intervalMs: Long,
                  maxQueries: Long = 0L, maxErrors: Long = 0L,
                  maxResultRows: Long = 0L, maxExecMs: Long = 0L): Unit = {
    require(users.nonEmpty, s"quota $name names no users")
    require(intervalMs > 0, s"quota $name: interval must be positive")
    require(quotas.putIfAbsent(name, QuotaDef(name, users.toSet, intervalMs,
        maxQueries, maxErrors, maxResultRows, maxExecMs)).isEmpty,
      s"quota $name already exists")
  }

  def dropQuota(name: String): Boolean = {
    usage.keys.filter(_._1 == name).foreach(usage.remove)
    quotas.remove(name).isDefined
  }

  /** The user's live windows, one per quota covering them, rolled to the
    * current interval.
    */
  private def windowsOf(user: String): Seq[(QuotaDef, QuotaWindow)] =
    quotas.values.filter(_.users.contains(user)).toSeq.sortBy(_.name).map {
      q =>
        val w = usage.getOrElseUpdate((q.name, user),
          new QuotaWindow(clock()))
        w.synchronized {
          if (clock() - w.windowStart >= q.intervalMs) {
            w.windowStart = clock()
            w.queries = 0; w.errors = 0; w.resultRows = 0; w.execMs = 0
          }
        }
        (q, w)
    }

  // serializes the check-and-increment phase of runAs: a user covered by
  // several quotas must see all windows checked BEFORE any is bumped, and
  // two concurrent starts must not both pass a maxQueries=1 check
  private val admission = new Object

  /** Run `action` as `user`: every quota covering the user is checked
    * FIRST and, like ClickHouse, the `queries` counter is incremented AT
    * START in the same atomic step — N concurrent queries cannot all
    * slip past maxQueries=N-1 because each admitted start is immediately
    * counted against the next. Errors and execution time (only knowable
    * at completion) are accounted when the run finishes.
    */
  def runAs[T](user: String, queryId: String, maxExecutionMs: Long = 0L)
              (action: => T): T = {
    admission.synchronized {
      val ws = windowsOf(user)
      ws.foreach { case (q, w) => w.synchronized {
        def over(limit: Long, used: Long, dim: String): Unit =
          if (limit > 0 && used >= limit)
            throw new IllegalStateException(
              s"QUOTA_EXCEEDED: quota ${q.name} for $user: $dim " +
                s"$used/$limit in the current interval")
        over(q.maxQueries, w.queries, "queries")
        over(q.maxErrors, w.errors, "errors")
        over(q.maxResultRows, w.resultRows, "result_rows")
        over(q.maxExecMs, w.execMs, "execution_ms")
      } }
      // all checks passed: admit — count the start before releasing
      ws.foreach { case (_, w) => w.synchronized(w.queries += 1) }
    }
    val t0 = clock()
    var failed = false
    try run(queryId, maxExecutionMs)(action)
    catch { case e: Throwable => failed = true; throw e }
    finally {
      val dt = clock() - t0
      windowsOf(user).foreach { case (_, w) => w.synchronized {
        if (failed) w.errors += 1
        w.execMs += dt
      } }
    }
  }

  /** Report a query's result size against the user's quotas (CH counts
    * result_rows server-side; here the caller that materialized the
    * result reports it). Checked at the NEXT query start.
    */
  def accountRows(user: String, rows: Long): Unit =
    windowsOf(user).foreach { case (_, w) =>
      w.synchronized(w.resultRows += rows) }

  /** `system.quotas`: the declarations. */
  def systemQuotas(): DataFrame = {
    import spark.implicits._
    quotas.values.toSeq.sortBy(_.name)
      .map(q => (q.name, q.users.toSeq.sorted.mkString(","), q.intervalMs,
        q.maxQueries, q.maxErrors, q.maxResultRows, q.maxExecMs))
      .toDF("quota", "users", "interval_ms", "max_queries", "max_errors",
        "max_result_rows", "max_exec_ms")
  }

  /** `system.quota_usage`: live counters in each (quota, user) window. */
  def systemQuotaUsage(): DataFrame = {
    import spark.implicits._
    usage.toSeq.sortBy(_._1)
      .map { case ((q, u), w) => w.synchronized(
        (q, u, w.windowStart, w.queries, w.errors, w.resultRows, w.execMs)) }
      .toDF("quota", "user", "window_start", "queries", "errors",
        "result_rows", "exec_ms")
  }

  /** `system.processes`: the queries live RIGHT NOW, with elapsed wall
    * time and their configured limit (0 = unlimited).
    */
  def systemProcesses(): DataFrame = {
    import spark.implicits._
    val now = System.currentTimeMillis()
    running.values.toSeq.sortBy(_.startedMs)
      .map(r => (r.queryId, r.startedMs, now - r.startedMs, r.maxMs))
      .toDF("query_id", "started_ms", "elapsed_ms", "max_execution_ms")
  }
}
