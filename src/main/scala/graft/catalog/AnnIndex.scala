package graft.catalog

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{CosineSimilarity, NearestCentroid, PqAdcScore, PqEncode}

/** Maintenance + probe for a declared `vector_similarity` index
  * ([[TableDef.annIndex]]) — the CH `INDEX … TYPE vector_similarity`
  * analog, IVF-PQ flavored like the standalone `ann_ivfpq_topk` operator
  * (reference capability; see graft.operators.Similarity for the design
  * rationale of each stage).
  *
  * Everything lives UNDER THE TABLE PATH in `_idx/ann/` (invisible to the
  * table's own scans — Spark's file index skips `_`-prefixed dirs), so
  * DETACH/ATTACH of the base table carries the whole index:
  *
  *   - `_idx/ann/quantizers` — a [[CentroidStore]] table holding the IVF
  *     coarse centroids (variant `ivf`) and the flattened PQ codebooks
  *     (variant `pq`, cell = m·k + j), committed once per table through
  *     the store's latest-batch discipline. Training is driver-local
  *     Lloyd over a CAPPED sample ([[AnnIndex.TrainSample]] rows — the
  *     faiss/CH discipline: quantizers train on samples, not corpora).
  *   - `_idx/ann/codes` — the codes table: (id, cell, code, encoded_at),
  *     id = the base table's first sort key, CLUSTERED on the coarse
  *     cell so probed reads prune files. ReplacingDedup on id: a crash
  *     between the codes append and the per-file marker, or a compaction
  *     rewriting base files, re-encodes rows and latest-wins absorbs the
  *     duplicates. A base-row delete leaves a ghost code row — harmless:
  *     its candidate joins nothing at the exact rerank.
  *
  * Appends maintain incrementally: per-file `.annenc` markers (the skip-
  * index lifecycle) mean each maintain() encodes only NEW files with the
  * ALREADY-COMMITTED quantizer — the standard IVF maintenance contract
  * (assignment drift from a stale quantizer degrades recall gracefully;
  * retraining is an explicit drop-and-rebuild).
  */
private[graft] object AnnIndex {

  /** Driver-side training sample cap: K×dim-bounded work regardless of
    * table size. 4096 rows train 16 cells × (8×16) sub-centroids with
    * ~256 samples per learned centroid — the k-means rule of thumb.
    */
  val TrainSample = 4096
  /** Max query rows per [[search]] call: the probe stage builds one
    * (m×k)-double LUT per (query, probed cell) ON THE DRIVER, so the
    * query side must be a batch, never a table (the guard in
    * `candidates` trips loudly past this).
    */
  val MaxQueryBatch = 4096
  private val LloydIters = 5
  private val RerankPerQuery = 64

  private def companionRoot(t: TableDef) = s"${t.path}/_idx/ann"

  private def marker(file: org.apache.hadoop.fs.Path, column: String) =
    SkipIndex.sidecar(file, column, VectorSimilarity.suffix)

  /** The codes companion, attach-or-create through a PRIVATE catalog
    * instance (names are instance-scoped; write locks are path-scoped
    * and JVM-global, so base-table and companion appends serialize
    * correctly across instances).
    */
  private def codesTable(cc: Catalog, t: TableDef): TableDef = {
    val a = t.annIndex.get
    cc.createTable(TableDef(s"${t.name}__anncodes",
      s"${companionRoot(t)}/codes",
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("cell", IntegerType, nullable = false),
        StructField("code", BinaryType, nullable = false),
        StructField("encoded_at", LongType, nullable = false))),
      sortKeys = Seq("cell"),
      semantics = ReplacingDedup(Seq("id"), "encoded_at")))
    cc.get(s"${t.name}__anncodes")
  }

  private def store(spark: SparkSession, cc: Catalog, t: TableDef) =
    new CentroidStore(spark, cc, companionRoot(t), "quantizers")

  // ---- driver-local Lloyd over the capped sample ------------------------

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    val na = math.sqrt(dot(a, a)); val nb = math.sqrt(dot(b, b))
    if (na == 0.0 || nb == 0.0) 0.0 else dot(a, b) / (na * nb)
  }

  private def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.max(a.length, b.length)
    while (i < n) {
      val d = (if (i < a.length) a(i) else 0.0) -
        (if (i < b.length) b(i) else 0.0)
      s += d * d; i += 1
    }
    s
  }

  /** Deterministic Lloyd: evenly-strided init over the sample, `iters`
    * rounds, empty cluster keeps its previous centroid. `byCosine` picks
    * the assignment metric — cosine for the coarse quantizer (matching
    * the NearestCentroid probe kernel), L2² for PQ sub-centroids
    * (matching PqEncode). Returns min(k, n) centroids; [[padTo]] cycles
    * them up when a stage needs an exact count.
    */
  private def kmeans(xs: Array[Array[Double]], k: Int, byCosine: Boolean,
                     iters: Int = LloydIters): Array[Array[Double]] = {
    require(xs.nonEmpty, "kmeans over an empty sample")
    val kk = math.min(k, xs.length)
    val dim = xs.map(_.length).max
    var cents = Array.tabulate(kk)(i => xs((i.toLong * xs.length / kk).toInt)
      .padTo(dim, 0.0))
    for (_ <- 0 until iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val cnts = new Array[Int](kk)
      xs.foreach { x =>
        var best = 0
        var bestScore = if (byCosine) cosine(x, cents(0)) else -l2sq(x, cents(0))
        var c = 1
        while (c < kk) {
          val s = if (byCosine) cosine(x, cents(c)) else -l2sq(x, cents(c))
          if (s > bestScore) { bestScore = s; best = c }
          c += 1
        }
        cnts(best) += 1
        val s = sums(best)
        var i = 0
        while (i < x.length) { s(i) += x(i); i += 1 }
      }
      cents = Array.tabulate(kk) { c =>
        if (cnts(c) == 0) cents(c)
        else sums(c).map(_ / cnts(c))
      }
    }
    cents
  }

  private def padTo(cents: Array[Array[Double]], k: Int): Array[Array[Double]] =
    if (cents.length >= k) cents
    else Array.tabulate(k)(i => cents(i % cents.length)) // dup ties → lower index wins

  private def trainAll(sample: Array[Array[Double]], a: AnnIndexDef)
      : (Seq[Array[Double]], Array[Array[Array[Double]]]) = {
    val cents = kmeans(sample, a.nCells, byCosine = true)
    val dim = sample.map(_.length).max
    val subDim = (dim + a.m - 1) / a.m
    val books = Array.tabulate(a.m) { m =>
      val subs = sample.map(x =>
        x.slice(m * subDim, (m + 1) * subDim).padTo(subDim, 0.0))
      padTo(kmeans(subs, a.k, byCosine = false), a.k)
    }
    (cents.toSeq, books)
  }

  /** Flatten/unflatten the PQ codebooks through the CentroidStore row
    * shape (cell = m·k + j — k is padded exact, so the stride is regular).
    */
  private def loadBooks(flat: Seq[Array[Double]], a: AnnIndexDef)
      : Array[Array[Array[Double]]] =
    Array.tabulate(a.m)(m => Array.tabulate(a.k)(j => flat(m * a.k + j)))

  private def quantizer(spark: SparkSession, cc: Catalog, t: TableDef,
                        train: => Array[Array[Double]])
      : (Seq[Array[Double]], Array[Array[Array[Double]]]) = {
    val a = t.annIndex.get
    val st = store(spark, cc, t)
    // one sample feeds both trainings; the lazy arg only materializes on
    // the first maintain (afterwards both variants load from storage)
    lazy val sample = train
    var trained: Option[(Seq[Array[Double]], Array[Array[Array[Double]]])] = None
    def both() = trained.getOrElse { val r = trainAll(sample, a); trained = Some(r); r }
    val cents = st.getOrTrain(t.name, s"ivf${a.nCells}")(both()._1)
    val flat = st.getOrTrain(t.name, s"pq${a.m}x${a.k}")(
      both()._2.flatten.toSeq)
    (cents, loadBooks(flat, a))
  }

  // ---- maintenance (the insert trigger) ---------------------------------

  /** Encode every data file lacking an `.annenc` marker into the codes
    * companion. Called from the Catalog's post-write index hook — the
    * same missing-sidecar discovery as the [[SkipIndex]] kinds.
    */
  def maintain(spark: SparkSession, t: TableDef, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val a = t.annIndex.get
    val f = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val listing = Listing.of(f, Seq(dir))
    val missing = listing.files.map(_.getPath)
      .filter(p => !listing.has(marker(p, a.column)))
      .sortBy(_.toString) // deterministic training-sample order
    if (missing.isEmpty) return
    val idCol = t.sortKeys.head
    val batch = spark.read
      .schema(StructType(Seq(t.schema(idCol), t.schema(a.column))))
      .parquet(missing.map(_.toString).toSeq: _*)
    val cc = new Catalog(spark)
    val (cents, books) = quantizer(spark, cc, t, {
      batch.select(col(a.column)).filter(col(a.column).isNotNull)
        .limit(TrainSample).collect()
        .map(_.getSeq[Any](0).map {
          case fl: Float => fl.toDouble
          case db: Double => db
        }.toArray)
    })
    val codes = codesTable(cc, t)
    val now = System.currentTimeMillis()
    cc.append(codes.name, batch.filter(col(a.column).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        NearestCentroid(col(a.column), cents, rounded = false).as("cell"),
        PqEncode(col(a.column), books.toSeq).as("code"),
        lit(now).as("encoded_at")))
    // markers AFTER the commit: a crash in between re-encodes the file
    // and ReplacingDedup(id) absorbs the duplicate rows
    missing.foreach { p =>
      val m = marker(p, a.column)
      val out = f.create(m, true)
      out.close()
    }
  }

  // ---- probe ------------------------------------------------------------

  /** The codes-only candidate stage, exposed separately so PlanSpec can
    * pin its plan: no scan in it may read the vector column. Returns
    * (q_id, n_id) — each query's [[RerankPerQuery]] best ADC candidates
    * over the `nProbe` max-cosine cells.
    */
  private[graft] def candidates(cat: Catalog, spark: SparkSession,
                                t: TableDef, queries: DataFrame,
                                nProbe: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    val a = t.annIndex.get
    val cc = new Catalog(spark)
    val st = store(spark, cc, t)
    val cents = st.load(t.name, s"ivf${a.nCells}").getOrElse(
      throw new IllegalStateException(
        s"${t.name}: ANN index has no trained quantizer (append first)"))
    val books = loadBooks(st.load(t.name, s"pq${a.m}x${a.k}").get, a)
    val codes = codesTable(cc, t)
    val dim = cents.map(_.length).max
    val subDim = (dim + a.m - 1) / a.m
    // The query frame materializes on the DRIVER (one (M×K)-double LUT
    // row per (query, probed cell) is synthesized here) — correct and
    // bounded for query BATCHES, the CH shape, but a large query TABLE
    // would silently become a driver bottleneck. The limit+1 fetch bounds
    // driver memory by construction and trips loudly past the cap; for a
    // corpus-sized query side, use the brute/IVF operators
    // (Similarity.queries) whose LUT-free scoring stays distributed.
    val qRowsRaw = queries.select(col("q_id").cast("long"), col("q_emb"))
      .limit(MaxQueryBatch + 1).collect()
    require(qRowsRaw.length <= MaxQueryBatch,
      s"${t.name}: ANN search got a query frame past $MaxQueryBatch rows " +
        "— the IVF-PQ probe builds per-query LUTs on the driver; split " +
        "the batch, or use the distributed brute/IVF operators for a " +
        "table-sized query side")
    val qRows = qRowsRaw
      .map(r => r.getLong(0) -> r.getSeq[Any](1).map {
        case fl: Float => fl.toDouble
        case db: Double => db
      }.toArray)
    val probeRows: Seq[Row] = qRows.toSeq.flatMap { case (qid, q) =>
      val probed = cents.zipWithIndex
        .map { case (c, i) => (cosine(q, c), i) }
        .sortBy { case (sc, i) => (-sc, i) }
        .take(nProbe)
      val dotLut: Seq[Double] = (0 until a.m).flatMap { m =>
        (0 until a.k).map(j => dot(
          q.slice(m * subDim, (m + 1) * subDim).padTo(subDim, 0.0),
          books(m)(j)))
      }
      probed.map { case (_, cell) => Row(qid, cell, dotLut) }
    }
    val probes = spark.createDataFrame(probeRows.asJava, StructType(Seq(
      StructField("q_id", LongType, nullable = false),
      StructField("cell", IntegerType, nullable = false),
      StructField("dot_lut", ArrayType(DoubleType, containsNull = false),
        nullable = false))))
    val normLut: Array[Double] = books.flatMap(_.map(c => dot(c, c)))
    val scored = cc.read(codes.name).join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("q_id")) // self-match excluded
      .select(col("q_id"), col("id").as("n_id"),
        PqAdcScore(col("code"), col("dot_lut"), normLut, a.k).as("score"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("n_id"))
    scored.withColumn("arnk", row_number().over(w))
      .filter(col("arnk") <= RerankPerQuery)
      .select(col("q_id"), col("n_id"))
  }

  /** ADC prune → exact rerank (the IVF-PQ search shape): candidates from
    * the codes companion only, then just those ids point-read their full
    * vectors from the BASE table, broadcast-pruned — never a corpus scan.
    */
  def search(cat: Catalog, spark: SparkSession, t: TableDef,
             queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val a = t.annIndex.get
    val idCol = t.sortKeys.head
    val cands = candidates(cat, spark, t, queries, nProbe)
    val rer = cat.read(t.name)
      .select(col(idCol).cast("long").as("n_id"), col(a.column))
      .join(broadcast(cands), Seq("n_id"))
      .join(broadcast(queries.select(col("q_id").cast("long").as("q_id"),
        col("q_emb"))), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        round(CosineSimilarity(col("q_emb"), col(a.column)), 6).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    rer.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }
}
