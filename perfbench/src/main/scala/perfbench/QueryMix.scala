package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** `query_mix`: a seeded stream over a pool drawn from the driver-contract
  * query inventory (`SparkEntry.queries`), on a generated sf0.1 star
  * schema. The `cat_*` family is left out: its timings include staging
  * catalog copies. Answers are written as parquet for the runner's DuckDB
  * oracle check.
  */
object QueryMix {
  /** The pool: about a third `sql_*` queries (the SQL text front end), the
    * rest one or two queries of each operator family the workload exercises
    * (dedup, text, sketches, ANN, windows, joins). Each runs in about a
    * second or less at sf0.1.
    */
  val Pool: Seq[String] = Seq(
    "sql_dialect2", "sql_qualify", "sql_with_fill",
    "dedup_exact", "text_tokens", "agg_hll_merge", "ann_cosine_topk",
    "win_rank", "join_shuffle", "join_broadcast")
}

final class QueryMix(env: Env) extends Part {
  import QueryMix._
  private val spark = env.spark
  private val inventory = graft.SparkEntry.queries
  require(Pool.forall(inventory.contains), "the pool names a query the inventory lacks")
  private val rnd = new scala.util.Random(env.seed)
  // every pool query in turn, in a fresh seeded order each round
  private val stream = Iterator.continually(rnd.shuffle(Pool)).flatten
  private val answers = mutable.ArrayBuffer.empty[(Int, String, StructType, Array[Row])]

  /** A round runs the pool once, in a fresh seeded order. */
  val round: Seq[String] = Pool.map(_ => "query")

  def run(kind: String, i: Int): OpRecord = {
    val name = stream.next()
    env.tracer.op("query", name) { ctx =>
      val df = ctx.phase("build") { inventory(name)(spark, env.data) }
      ctx.phase("plan") { df.queryExecution.executedPlan }
      val rows = ctx.phase("execute") { df.collect() }
      if (i >= 0) answers += ((i, name, df.schema, rows))
    }
  }

  /** Writes each timed answer as parquet, with the query's oracle twin
    * (`SparkEntry.oracleSql`), for the runner to compare in DuckDB.
    */
  def finish(): Checked = {
    val oracle = graft.SparkEntry.oracleSql
    answers.foreach { case (i, _, schema, rows) =>
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.parquet(s"${env.out}/results/$i")
    }
    Checked(Map.empty, Nil, Map("pool" -> Pool.size.toDouble),
      Map("answers" -> answers.map { case (i, name, _, _) =>
        Map("i" -> i, "name" -> name, "sql" -> oracle.getOrElse(name, "")) }))
  }
}
