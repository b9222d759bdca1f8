package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.catalog._

/** Metadata cost of skip-index upkeep and probes, counted through
  * [[CountingFs]]: index maintenance finds new files as the ones missing a
  * sidecar in ONE listing, so the calls an append or a pruned read makes
  * do not grow with the table.
  */
class SkipIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private def batch(i: Int) = (0 until 50).map(j =>
    (i * 50L + j, s"actor${(i * 50 + j) % 7}", s"event tok${i}_$j body"))
    .toDF("k", "actor", "body")

  private def delta[T](body: => T): (T, Long, Long) = {
    val (m0, e0) = (CountingFs.meta, CountingFs.existsCalls.get)
    val r = body
    (r, CountingFs.meta - m0, CountingFs.existsCalls.get - e0)
  }

  test("bloom+token upkeep and pruned reads make as many metadata calls at append 24 as at 4") {
    val cat = new Catalog(spark)
    val path = tmpDir("skipmeta") + "/ev"
    cat.createTable(TableDef("ev", path, batch(0).schema, sortKeys = Seq("k"),
      semantics = Append, indexCols = Seq("actor"), tokenIndexCols = Seq("body")))
    val (appendCalls, probeExists) = CountingFs.during(spark) {
      (1 to 24).map { i =>
        val (_, appendMeta, _) = delta(cat.append("ev", batch(i)))
        // an absent value prunes every file: each sidecar is opened once,
        // and none is probed for existence first — the listing says which
        // ones are there
        val ((_, kept, total), _, exists) =
          delta(cat.readPruned("ev", "actor", "nobody"))
        kept shouldBe 0
        total should be >= i
        (appendMeta, exists)
      }.unzip
    }
    info(s"per-append metadata calls ${appendCalls.mkString(",")}")
    withClue(s"per-append metadata calls ${appendCalls.mkString(",")}: ") {
      appendCalls(23) shouldBe appendCalls(3)
    }
    withClue(s"per-probe exists calls ${probeExists.mkString(",")}: ") {
      probeExists(23) shouldBe probeExists(3)
    }
    // the pruned reads still answer exactly
    val (hit, kept, total) = cat.readTokenPruned("ev", "body", "tok7_3")
    kept should be < total
    hit.filter(Catalog.hasToken(col("body"), "tok7_3")).count() shouldBe 1L
    val (eq, _, _) = cat.readPruned("ev", "actor", "actor3")
    eq.filter(col("actor") === "actor3").count() shouldBe
      cat.read("ev").filter(col("actor") === "actor3").count()
  }

  test("full-text sidecars are written through the session's Hadoop settings") {
    val cat = new Catalog(spark)
    val path = tmpDir("skipft") + "/ft"
    cat.createTable(TableDef("ft", path, batch(0).schema, sortKeys = Seq("k"),
      semantics = Append, fullTextCols = Seq("body" -> 4096)))
    CountingFs.during(spark) {
      cat.append("ft", batch(1))
      cat.append("ft", batch(2))
    }
    val postings = CountingFs.created.asScala.count(_.endsWith(".body.postings"))
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    files should be > 0
    postings shouldBe files
    val (df, kept, total) = cat.readFullTextAnd("ft", "body", Seq("tok2_5", "body"))
    kept should be < total
    df.filter(col("body").contains("tok2_5 ")).count() shouldBe 1L
  }
}
