package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a part of a workload checked once the run was over. */
final case class Checked(ops: Map[Int, String], checks: Seq[(String, Boolean, String)],
                         figures: Map[String, Double], extra: Map[String, Any] = Map.empty)

/** One part of a workload: a closed loop of operation kinds repeated in
  * rounds, and the answer checks it makes when the run is over.
  */
trait Part {
  /** Operation kinds of one timed round, in order. */
  def round: Seq[String]
  /** Operation kinds of the warm-up: each kind and each query at least
    * once, so JIT, codegen and memoized fixtures are paid before timing.
    */
  def warmup: Seq[String] = round
  /** Run one operation of `kind`; `i` is its index among the timed
    * operations, or -1 during warm-up.
    */
  def run(kind: String, i: Int): OpRecord
  /** Check the answers: errors for timed operations whose answer was
    * wrong, by index; named checks; and figures (sizes, byte counts).
    */
  def finish(): Checked
}

/** Everything a workload part needs from the runner. */
final class Env(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val seconds: Double, val tmp: String, val data: String, val out: String) {
  private var genSeconds = 0.0

  /** Input generation done during set-up is the benchmark's own cost, not
    * the engine's: it is kept out of `setup_s`.
    */
  def generating[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally genSeconds += (System.nanoTime() - t0) / 1e9
  }

  /** Seconds since the JVM started, less input generation. */
  def sinceStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - genSeconds

  /** Run the parts' warm-ups, then their rounds, merged, until `seconds`
    * have passed at the end of a round. Every run thus times whole rounds:
    * the same mix of operation kinds for every seed.
    * Returns (warm-up ops, set-up seconds, timed ops).
    */
  def rounds(parts: Seq[Part]): (Seq[OpRecord], Double, Seq[OpRecord]) = {
    val warmup = interleave(parts.map(p => p.warmup.map(k => (p, k))))
      .map { case (p, k) => p.run(k, -1) }
    val steps = interleave(parts.map(p => p.round.map(k => (p, k))))
    val setup = sinceStart
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (ops.size % steps.size != 0 || ops.isEmpty || System.nanoTime() < deadline) {
      val (p, k) = steps(ops.size % steps.size)
      ops += p.run(k, ops.size)
    }
    (warmup, setup, ops.toSeq)
  }

  private def interleave[T](xs: Seq[Seq[T]]): Seq[T] =
    (0 until xs.map(_.size).max).flatMap(i => xs.flatMap(_.lift(i)))
}

/** Sizes of what a table directory holds on disk. */
object Disk {
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def dataFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(_.getFileName.toString.endsWith(".parquet")).count() finally s.close()
    }
}

/** The benchmark's JVM side: one workload, one closed-loop client, in one
  * process with `local[<cores>]`. Writes the timed operations, the answer
  * checks and (traced) the spans as JSON for the runner.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val trace = opts("trace") == "1"
    val tmp = opts("tmp")
    val cores = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/spark-warehouse")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val env = new Env(spark, new Tracer(spark, trace), opts("seed").toLong,
      opts("seconds").toDouble, tmp, opts.getOrElse("data", ""), opts("out"))
    val sparkReady = env.sinceStart
    val parts: Seq[Part] = workload match {
      case "ingest" => Seq(new GitImport(env), new EventsStream(env))
      case "query_mix" => Seq(new QueryMix(env))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val (warmup, setup, timed) = env.rounds(parts)
    val checked = parts.map(_.finish())
    val wrong = checked.flatMap(_.ops).toMap
    val ops = timed.zipWithIndex.map { case (o, i) =>
      wrong.get(i).filter(_ => o.ok).fold(o)(e => o.copy(ok = false, error = e))
    }
    def opJson(o: OpRecord) = Map("kind" -> o.kind, "name" -> o.name, "s" -> o.seconds,
      "ok" -> o.ok, "error" -> o.error, "layers" -> o.layers)
    val json = Map(
      "workload" -> workload,
      "cores" -> cores,
      "spark_ready_s" -> sparkReady,
      "setup_s" -> setup,
      "round_size" -> parts.map(_.round.size).sum,
      "warmup" -> warmup.map(opJson),
      "ops" -> ops.map(opJson),
      "checks" -> checked.flatMap(_.checks).map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "figures" -> checked.flatMap(_.figures).toMap) ++ checked.flatMap(_.extra)
    Files.writeString(Paths.get(opts("out"), "result.json"), Json(json))
    if (trace) Files.writeString(Paths.get(opts("out"), "spans.json"),
      Json(env.tracer.allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
    spark.stop()
  }
}
