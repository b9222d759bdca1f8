package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.catalog.{Append, Catalog, TableDef}

/** One writer PROCESS of the multi-writer append contract: a
  * fresh JVM, a fresh SparkSession, one Catalog append of `[lo, hi)` rows
  * to the shared table, exit 0 on success. CatalogSpec launches two of
  * these concurrently against one warehouse and asserts both batches
  * landed — the cross-process proof the in-JVM write lock can't give
  * (deploy/README.md's fleet contract, promoted to code).
  */
object CatalogAppendWorker {

  /** The shared table definition (spec and workers must agree). */
  def tableDef(warehouse: String): TableDef = TableDef(
    "mw", s"$warehouse/mw",
    StructType(Seq(
      StructField("k", StringType, nullable = true),
      StructField("v", LongType, nullable = true))),
    sortKeys = Seq("k"),
    semantics = Append)

  def main(args: Array[String]): Unit = {
    val Array(warehouse, lo, hi) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      import spark.implicits._
      val cat = new Catalog(spark)
      val t = cat.createTable(tableDef(warehouse))
      val n = cat.append(t.name,
        (lo.toLong until hi.toLong).map(i => (s"k$i", i)).toDF("k", "v"))
      require(n == hi.toLong - lo.toLong, s"appended $n, expected ${hi.toLong - lo.toLong}")
    } finally spark.stop()
  }
}
