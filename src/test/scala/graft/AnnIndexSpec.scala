package graft

import org.apache.spark.sql.functions._
import graft.catalog.{AnnIndexDef, Append, Catalog, ReplacingDedup, TableDef}

/** The declared `vector_similarity` index axis (TableDef.annIndex): the
  * append-time IVF-PQ maintenance, the codes-only probe, the incremental
  * marker lifecycle, and the detach/attach round-trip — the evidence for
  * VERDICT item 3 ("ANN as a declared index, not just operators").
  */
class AnnIndexSpec extends SparkSpecBase {

  private def embSrc = Tables.embeddings(spark, sf0001)
    .select(col("vec_id"), col("embedding"))

  private def brute(k: Int) = {
    val q = embSrc.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = embSrc.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(graft.functions.CosineSimilarity(col("q_emb"), col("embedding")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k).select(col("q_id"), col("n_id"))
  }

  /** A companion table of the index, read through its own table log. */
  private def companion(dir: String): org.apache.spark.sql.DataFrame = {
    val c = new Catalog(spark)
    c.readRaw(c.attach(dir).name)
  }

  test("append maintains the IVF-PQ companion; probe meets the recall floor") {
    val cat = new Catalog(spark)
    val path = tmpDir("annidx") + "/emb_ann"
    cat.createTable(TableDef("emb_ann_s", path, embSrc.schema,
      sortKeys = Seq("vec_id"), semantics = Append,
      annIndex = Some(AnnIndexDef("embedding"))))
    cat.append("emb_ann_s", embSrc)
    // the companion exists under the table path and codes every row
    val codes = companion(path + "/_idx/ann/codes")
    codes.count() shouldBe embSrc.count()
    codes.columns.toSet shouldBe Set("id", "cell", "code", "encoded_at")
    // …without polluting the base table's own scan
    cat.read("emb_ann_s").count() shouldBe embSrc.count()
    cat.read("emb_ann_s").columns.toSeq shouldBe Seq("vec_id", "embedding")
    // every data file carries its .annenc marker (the incremental unit)
    val dataFiles = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
        .map(_.toFile).filter(f => f.getName.endsWith(".parquet") &&
          !f.getPath.stripPrefix(path + "/").startsWith("_")).toSeq
    }
    dataFiles.length should be > 0
    dataFiles.foreach { f =>
      new java.io.File(f.getParent + s"/_idx/${f.getName}.embedding.annenc")
        .exists() shouldBe true
    }
    // probe: k rows per query, and recall@5 over the documented floor
    val q2 = embSrc.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val ann = cat.readAnnTopK("emb_ann_s", q2, 5)
    ann.groupBy(col("q_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") =!= 5).count() shouldBe 0L
    val bf = brute(5)
    val hits = bf.join(ann.select(col("q_id"), col("n_id")),
      Seq("q_id", "n_id"), "left_semi").count()
    hits.toDouble / bf.count() should be >= 0.5
  }

  test("second append encodes only new files with the committed quantizer") {
    val cat = new Catalog(spark)
    val path = tmpDir("annincr") + "/emb_incr"
    cat.createTable(TableDef("emb_incr", path, embSrc.schema,
      sortKeys = Seq("vec_id"), semantics = Append,
      annIndex = Some(AnnIndexDef("embedding"))))
    cat.append("emb_incr", embSrc.filter(col("vec_id") % 2 === 0))
    val qdir = path + "/_idx/ann/quantizers"
    val t1 = companion(qdir).agg(max(col("trained_at"))).head().getLong(0)
    val c1 = companion(path + "/_idx/ann/codes").count()
    cat.append("emb_incr", embSrc.filter(col("vec_id") % 2 === 1))
    // quantizer NOT retrained (the stale-quantizer IVF contract)…
    companion(qdir).agg(max(col("trained_at"))).head()
      .getLong(0) shouldBe t1
    // …and only the new batch was encoded (codes grow by exactly it)
    companion(path + "/_idx/ann/codes").count() shouldBe
      embSrc.count()
    c1 should be < embSrc.count()
    // the probe sees both generations
    val q = embSrc.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    cat.readAnnTopK("emb_incr", q, 3).count() shouldBe 12L
  }

  test("a table-sized query frame trips the driver-LUT guard") {
    // the IVF-PQ probe synthesizes one (m×k)-double LUT per (query,
    // probed cell) on the DRIVER — a corpus-sized query side must refuse
    // loudly instead of silently materializing there
    val cat = new Catalog(spark)
    val path = tmpDir("annguard") + "/emb_grd"
    cat.createTable(TableDef("emb_grd", path, embSrc.schema,
      sortKeys = Seq("vec_id"), semantics = Append,
      annIndex = Some(AnnIndexDef("embedding"))))
    cat.append("emb_grd", embSrc)
    val one = embSrc.limit(1).select(col("embedding").as("q_emb"))
    val big = spark.range(graft.catalog.AnnIndex.MaxQueryBatch + 1)
      .select(col("id").as("q_id")).crossJoin(one)
    val e = intercept[IllegalArgumentException] {
      cat.readAnnTopK("emb_grd", big, 5).collect()
    }
    e.getMessage should include("query frame")
  }

  test("detach/attach round-trips the declaration and the trained index") {
    val cat = new Catalog(spark)
    val path = tmpDir("annattach") + "/emb_att"
    cat.createTable(TableDef("emb_att", path, embSrc.schema,
      sortKeys = Seq("vec_id"), semantics = Append,
      annIndex = Some(AnnIndexDef("embedding", nCells = 8, m = 4, k = 16))))
    cat.append("emb_att", embSrc)
    val cat2 = new Catalog(spark)
    val re = cat2.attach(path)
    re.annIndex shouldBe Some(AnnIndexDef("embedding", nCells = 8, m = 4, k = 16))
    val q = embSrc.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val ann = cat2.readAnnTopK("emb_att", q, 5)
    ann.count() shouldBe 15L
    // attached appends keep maintaining through the same quantizer
    val extra = embSrc.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    cat2.append("emb_att", extra)
    companion(path + "/_idx/ann/codes")
      .select(col("id")).distinct().count() shouldBe embSrc.count() + 10
  }

  test("declaration refusals: bad column, bad id, bad knobs, bad engine") {
    val cat = new Catalog(spark)
    val schema = embSrc.schema
    an[IllegalArgumentException] should be thrownBy
      cat.createTable(TableDef("banna1", "/tmp/banna1", schema,
        sortKeys = Seq("vec_id"), semantics = Append,
        annIndex = Some(AnnIndexDef("nope"))))
    an[IllegalArgumentException] should be thrownBy // vector as first key
      cat.createTable(TableDef("banna2", "/tmp/banna2", schema,
        sortKeys = Seq("embedding"), semantics = Append,
        annIndex = Some(AnnIndexDef("embedding"))))
    an[IllegalArgumentException] should be thrownBy // no sort key at all
      cat.createTable(TableDef("banna3", "/tmp/banna3", schema,
        sortKeys = Nil, semantics = Append,
        annIndex = Some(AnnIndexDef("embedding"))))
    an[IllegalArgumentException] should be thrownBy // k over the code byte
      cat.createTable(TableDef("banna4", "/tmp/banna4", schema,
        sortKeys = Seq("vec_id"), semantics = Append,
        annIndex = Some(AnnIndexDef("embedding", k = 300))))
    an[IllegalArgumentException] should be thrownBy // merge-view engine
      cat.createTable(TableDef("banna5", "/tmp/banna5", schema,
        sortKeys = Seq("vec_id"),
        semantics = ReplacingDedup(Seq("vec_id"), "vec_id"),
        annIndex = Some(AnnIndexDef("embedding"))))
    // id column must be integral
    val strId = embSrc.select(col("vec_id").cast("string").as("vec_id"),
      col("embedding"))
    an[IllegalArgumentException] should be thrownBy
      cat.createTable(TableDef("banna6", "/tmp/banna6", strId.schema,
        sortKeys = Seq("vec_id"), semantics = Append,
        annIndex = Some(AnnIndexDef("embedding"))))
  }
}
