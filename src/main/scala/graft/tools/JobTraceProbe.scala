// Scratch: runMain graft.tools.JobTraceProbe <query> [sfDir] — per-job
// call-site trace for ONE query: where do all those jobs come from?
package graft.tools

import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

object JobTraceProbe {
  def main(args: Array[String]): Unit = {
    val q = args(0)
    val d = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.names.foreach { t =>
      try {
        (if (t == "events") graft.Tables.events(spark, d)
         else graft.Tables(spark, d, t)).count()
      } catch { case NonFatal(_) => () }
    }
    @volatile var trace = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = if (trace) {
        val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
        println(s"[jobtrace] job=${j.jobId} stages=${j.stageInfos.size} " +
          s"tasks=${j.stageInfos.map(_.numTasks).sum} site=$site")
      }
    })
    trace = true
    SparkEntry.queries(q)(spark, d).count()
    trace = false
    Thread.sleep(500)
    spark.stop()
  }
}
