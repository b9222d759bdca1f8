// Scratch: runMain graft.tools.JobCountProbe [sfDir] [q1,q2,...]
// Deterministic per-query cost shape: Spark JOB / STAGE / TASK counts via
// a listener. Wall-clock on this box swings ±50% run to run; job and
// stage counts are exact and reproducible, so the round-14 optimization
// evidence leans on them (guide §1: measure the right thing).
package graft.tools

import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

object JobCountProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.lift(1).map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    })
    graft.Tables.names.foreach { t =>
      try {
        (if (t == "events") graft.Tables.events(spark, d)
         else graft.Tables(spark, d, t)).count()
      } catch { case NonFatal(_) => () }
    }
    val selected = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .toSeq.sortBy(_._1)
    // listener bus is async and its API private: settle = counts stable
    // for 200 ms (local mode drains far faster than that)
    def settle(): Unit = {
      var last = (-1L, -1L, -1L)
      var cur = (jobs.get, stages.get, tasks.get)
      while (cur != last) {
        Thread.sleep(200)
        last = cur; cur = (jobs.get, stages.get, tasks.get)
      }
    }
    selected.foreach { case (name, fn) =>
      settle()
      val (j0, s0, t0) = (jobs.get, stages.get, tasks.get)
      val wall0 = System.nanoTime()
      val ok = try { fn(spark, d).count(); true }
               catch { case NonFatal(e) =>
                 System.err.println(s"[jobcount] $name FAILED: ${e.getMessage}"); false }
      val wall = (System.nanoTime() - wall0) / 1e9
      settle()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      println(f"[jobcount] $name%-28s jobs=${jobs.get - j0}%-4d stages=${stages.get - s0}%-4d tasks=${tasks.get - t0}%-6d wall=$wall%.2f ok=$ok")
    }
    spark.stop()
  }
}
