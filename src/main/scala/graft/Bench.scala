package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: touch every table once so file-listing, footer reads, and JVM/
    // codegen warmup don't land on whichever query happens to run first
    Tables.names.foreach { t =>
      try {
        val df = if (t == "events") Tables.events(spark, sfDir)
                 else Tables(spark, sfDir, t)
        df.count()
      } catch { case NonFatal(_) => () }
    }
    // SPARK_GRAFT_ONLY=q1,q2 → time just those queries (the isolation
    // re-measurement BASELINE.md's anomaly log prescribes before reading
    // any single-query delta as a regression)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // unknown names fail loudly: a typo would otherwise time ZERO queries
    // and print a success-looking {"value":0.0}
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"SPARK_GRAFT_ONLY: unknown queries $unknown")
    }
    val selected = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    // SPARK_GRAFT_REPEAT=k → time each query k times, report the MIN.
    // The isolation protocol's fix for fixture attribution: a single-query
    // child JVM pays its family's memoized fixture build (catalog copies,
    // sketch tables) inside the ONE timing, which in-suite lands on the
    // family's first query — repeat 1 measures fixture+query, repeat 2+
    // measures the steady state in-suite minima approximate. Caches are
    // still cleared between repeats, so data reads stay cold-cache honest.
    val repeat = sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt).getOrElse(1)
    // queries that THREW (ENOSPC under a big-SF spill, an OOM): their
    // elapsed time still records (it is real wall time the suite paid),
    // but the name is listed in "failed" so a composed min can never
    // silently launder a fail-fast exception into a speedup — the
    // round-12 sf100 postmortem on the round-10 record
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val results = selected.map { case (name, fn) =>
      // per-repeat (elapsed, succeeded): the min composes over
      // SUCCESSFUL repeats only (round-13 ADVICE fix — a fail-fast
      // repeat's near-zero wall time must never become the recorded
      // min), falling back to the failures' min when every repeat failed
      val runs = (1 to math.max(repeat, 1)).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case NonFatal(_) => failed += name; false }
        val t = (System.nanoTime() - t0) / 1e9
        // storage hygiene between queries: drop whatever blocks the query
        // left pinned (localCheckpoints from fixpoint loops, caches) so a
        // heavy family can't squeeze later queries' memory — the measured
        // single-JVM interference signature (BASELINE.md anomaly log)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        // DataFrame-level caches too (persist() registers in the cache
        // manager, not only as RDD blocks) — a survivor cache left by one
        // query must not donate warm blocks to the next one's timing
        spark.catalog.clearCache()
        // SPARK_GRAFT_REAP=1 (big-SF runs): delete the query's ephemeral
        // fixture copies NOW instead of at exit — ~50 accumulated sf100
        // copies filled the box (rounds 10 and 12); memoized fixtures are
        // pinned and survive. Outside the timed window by construction.
        if (sys.env.contains("SPARK_GRAFT_REAP"))
          graft.operators.CatalogOps.reapEphemeral()
        (t, ok)
      }
      val good = runs.filter(_._2).map(_._1)
      name -> (if (good.nonEmpty) good.min else runs.map(_._1).min)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // "value" deliberately AFTER "queries": the driver head-truncates long
    // lines from the front, so the headline total must sit at the tail to
    // survive capture (round-2 artifact lost it)
    val failedJson =
      if (failed.isEmpty) ""
      else failed.mkString("\"failed\":[\"", "\",\"", "\"],")
    println(s"""{"metric":"total","unit":"sec","sf":"$sfDir","queries":$qs,$failedJson"value":$total}""")
    // COMPACT record, printed LAST (round-15): the driver keeps only a
    // ~2000-char tail of stdout, and the full per-query line (~7 kB at 239
    // queries) overflows it from the front — BENCH_r12/r13/r14 all came
    // back `parsed: null`. A short self-contained total line at the very
    // end guarantees the tail always holds one complete parseable record;
    // the full per-query line above stays for repo tooling
    // (tools/bench_min.py / bench_compare.py read the line with "queries").
    val failedArr = failed.mkString("[\"", "\",\"", "\"]")
    println(s"""{"metric":"total","unit":"sec","sf":"$sfDir","n":${results.size},"failed":${if (failed.isEmpty) "[]" else failedArr},"value":$total}""")
    spark.stop()
  }
}
