package graft.catalog

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Persistent registry of trained IVF coarse quantizers
  * ([[graft.operators.Similarity]]'s `ann_ivf_topk` / `dedup_embed_cosine`
  * front end).
  *
  * At 100 TB the Lloyd training pass — even over its sample — is the
  * expensive step, and it is identical for every query against the same
  * corpus version, so it is trained once and committed through the Catalog
  * like any other engine table rather than recomputed per query or per
  * session. Rows are keyed by (corpus_version, variant, cell) with
  * latest-wins on `trained_at` (ReplacingDedup), so retraining a corpus
  * version is an append — concurrent readers keep the previous quantizer
  * until the new rows are fully committed, the same commit discipline as
  * every other table.
  *
  * `corpus_version` is whatever identifies the training corpus snapshot
  * (a directory, a Catalog table version); `variant` distinguishes
  * quantizer recipes (e.g. the float32 spherical k-means vs the
  * decimal-rounded oracle-replayable one).
  */
final class CentroidStore(spark: SparkSession, catalog: Catalog,
                          warehouseRoot: String,
                          tableName: String = "ivf_centroids") {

  def this(spark: SparkSession, warehouseRoot: String) =
    this(spark, new Catalog(spark), warehouseRoot)

  private val schema = StructType(Seq(
    StructField("corpus_version", StringType, nullable = false),
    StructField("variant", StringType, nullable = false),
    StructField("cell", IntegerType, nullable = false),
    StructField("centroid", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("trained_at", LongType, nullable = false)))

  val table: TableDef = catalog.createTable(TableDef(
    tableName, s"$warehouseRoot/$tableName", schema,
    sortKeys = Seq("corpus_version", "variant", "cell"),
    semantics = ReplacingDedup(Seq("corpus_version", "variant", "cell"), "trained_at")))

  /** Commit a trained quantizer. K×dim doubles — one tiny file.
    *
    * `trained_at` is forced strictly above the previous batch's (two
    * same-millisecond trainings would otherwise TIE and [[load]]'s
    * newest-batch filter would return both batches mixed — the exact
    * stale/fresh skew the filter exists to prevent); the read-max/append/
    * reclaim sequence runs under the Catalog's per-table-PATH write lock
    * (JVM-global), so concurrent saves from ANY two store/catalog
    * instances in this process serialize as a unit. Cross-JVM saves are
    * NOT mutually excluded — training commits are assumed single-writer
    * per (version, variant) across a fleet (one scheduled trainer job),
    * the same assumption deploy/README.md documents for compaction
    * ownership. After the append, batches this one supersedes are
    * reclaimed through the mutation surface — without it a
    * shrink-retrain's dead tail cells would live in storage forever
    * (per-cell latest-wins can never collapse a cell that simply stopped
    * existing).
    */
  def save(version: String, variant: String,
           cents: Seq[Array[Double]]): Unit = catalog.withWriteLock(tableName) {
    val prevMax =
      // fileless-table fast path (the fresh-fixture common case): the
      // previous-batch probe is answered by a directory listing, not a
      // planned scan of an empty relation (round-14)
      if (!catalog.exists(tableName)) 0L
      else catalog.read(tableName)
        .filter(col("corpus_version") === version && col("variant") === variant)
        .agg(org.apache.spark.sql.functions.max(col("trained_at")))
        .collect()(0) match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
    val now = math.max(System.currentTimeMillis(), prevMax + 1)
    val rows = cents.zipWithIndex.map { case (c, i) =>
      Row(version, variant, i, c.toSeq, now)
    }
    // LocalRelation (not parallelize): the append path recognizes a small
    // driver-local block and writes it as one sorted file without the
    // RangePartitioner sample + full-width shuffle
    catalog.append(tableName, spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema))
    if (prevMax > 0)
      catalog.delete(tableName,
        col("corpus_version") === version && col("variant") === variant &&
          col("trained_at") < now)
  }

  /** Latest committed quantizer for (version, variant), cells in order.
    *
    * Only the newest TRAINING BATCH is returned (all of a training's
    * cells share one `trained_at`): per-cell latest-wins alone cannot
    * forget the tail of an earlier, larger training — retraining 16
    * cells down to 8 would otherwise return 8 fresh + 8 stale centroids
    * and silently skew every IVF assignment.
    */
  def load(version: String, variant: String): Option[Seq[Array[Double]]] = {
    if (!catalog.exists(tableName))
      return None
    val rows = catalog.read(tableName)
      .filter(col("corpus_version") === version && col("variant") === variant)
      .select(col("cell"), col("centroid"), col("trained_at"))
      .collect()
    if (rows.isEmpty) None
    else {
      val newest = rows.map(_.getLong(2)).max
      Some(rows.filter(_.getLong(2) == newest)
        .sortBy(_.getInt(0)).toSeq.map(_.getSeq[Double](1).toArray))
    }
  }

  /** Latest committed quantizer as a (cell, centroid) DATAFRAME — the
    * broadcast side of [[graft.operators.Similarity]]'s cell assignment.
    * Unlike [[load]] this never collects to the driver: the newest-batch
    * filter is replayed relationally (scan → max(trained_at) → semi
    * filter), so at ncells = 10³–10⁴ the quantizer flows parquet scan →
    * BroadcastExchange → executors without ever riding in the plan.
    */
  def frame(version: String, variant: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, max}
    val t = catalog.read(tableName)
      .filter(col("corpus_version") === version && col("variant") === variant)
    val newest = t.agg(max(col("trained_at")).as("__newest"))
    t.join(broadcast(newest), t("trained_at") === newest("__newest"))
      .select(col("cell"), col("centroid"))
  }

  /** Load-or-train-and-commit: the amortization entry point. */
  def getOrTrain(version: String, variant: String)
                (train: => Seq[Array[Double]]): Seq[Array[Double]] =
    load(version, variant).getOrElse {
      val cents = train
      save(version, variant, cents)
      cents
    }
}
