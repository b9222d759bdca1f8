package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog._
import graft.streaming.DirTail

/** Offset-tracked directory-tail source (the Kafka-engine ingestion
  * shape): exactly-once into a Catalog table across polls, file growth,
  * new partitions, and crashes at every commit-protocol step.
  */
class DirTailSpec extends SparkSpecBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  private def writeLines(f: java.io.File, lines: Seq[String],
                         append: Boolean = true): Unit = {
    val w = new java.io.FileWriter(f, append)
    try lines.foreach(l => w.write(l + "\n")) finally w.close()
  }

  private def rec(k: Long) = s"""{"k":$k,"v":"v$k"}"""

  private def mkTable(cat: Catalog, name: String): String = {
    val path = tmpDir("tail") + s"/$name"
    cat.createTable(TableDef(name, path, schema, Seq("k"), Append))
    path
  }

  test("poll ingests new bytes only: growth, new partitions, no-op polls") {
    val cat = new Catalog(spark)
    mkTable(cat, "tl1")
    val topic = new java.io.File(tmpDir("tail"), "topic1")
    topic.mkdirs()
    val p0 = new java.io.File(topic, "part-0.jsonl")
    val p1 = new java.io.File(topic, "part-1.jsonl")
    writeLines(p0, (0L until 100L).map(rec))
    writeLines(p1, (100L until 150L).map(rec))

    val tail = new DirTail(spark, cat, "tl1", topic.toString, "src1", schema)
    tail.poll() shouldBe 150L
    cat.read("tl1").count() shouldBe 150L
    tail.poll() shouldBe 0L // nothing new: no batch, no segment
    cat.read("tl1").count() shouldBe 150L

    // partitions grow + a brand-new partition appears
    writeLines(p0, (150L until 180L).map(rec))
    val p2 = new java.io.File(topic, "part-2.jsonl")
    writeLines(p2, (180L until 200L).map(rec))
    tail.poll() shouldBe 50L
    val got = cat.read("tl1").select(col("k")).collect().map(_.getLong(0)).sorted
    got shouldBe (0L until 200L).toArray // no dupes, no gaps

    // offsets listing: per partition, cumulative bytes == file length
    val offs = tail.offsetsListing().collect()
      .map(r => r.getAs[String]("partition") ->
        (r.getAs[Long]("committed_bytes"), r.getAs[Long]("committed_records")))
      .toMap
    offs.size shouldBe 3
    val byName = offs.map { case (k, v) => k.split('/').last -> v }
    byName("part-0.jsonl") shouldBe ((p0.length(), 130L))
    byName("part-1.jsonl") shouldBe ((p1.length(), 50L))
    byName("part-2.jsonl") shouldBe ((p2.length(), 20L))
  }

  test("a partial (newline-less) last line stays out until terminated") {
    val cat = new Catalog(spark)
    mkTable(cat, "tl2")
    val topic = new java.io.File(tmpDir("tail"), "topic2")
    topic.mkdirs()
    val p0 = new java.io.File(topic, "part-0.jsonl")
    writeLines(p0, (0L until 10L).map(rec))
    // producer caught mid-line: no trailing newline
    val w = new java.io.FileWriter(p0, true)
    try w.write("""{"k":10,""") finally w.close()

    val tail = new DirTail(spark, cat, "tl2", topic.toString, "src1", schema)
    tail.poll() shouldBe 10L // the partial line is NOT consumed
    // producer finishes the line
    val w2 = new java.io.FileWriter(p0, true)
    try w2.write("\"v\":\"v10\"}\n") finally w2.close()
    tail.poll() shouldBe 1L
    cat.read("tl2").select(col("k")).collect().map(_.getLong(0)).sorted shouldBe
      (0L to 10L).toArray
  }

  test("broken records are counted and skipped, never block the partition") {
    val cat = new Catalog(spark)
    mkTable(cat, "tl3")
    val topic = new java.io.File(tmpDir("tail"), "topic3")
    topic.mkdirs()
    val p0 = new java.io.File(topic, "part-0.jsonl")
    writeLines(p0, Seq(rec(1), "not json at all", rec(2), "{\"k\":\"bad\"", rec(3)))
    val tail = new DirTail(spark, cat, "tl3", topic.toString, "src1", schema)
    tail.poll() shouldBe 3L
    cat.read("tl3").count() shouldBe 3L
    val row = tail.offsetsListing().head()
    row.getAs[Long]("committed_records") shouldBe 3L
    row.getAs[Long]("broken_records") shouldBe 2L
    row.getAs[Long]("committed_bytes") shouldBe p0.length()
  }

  test("crash after intent: restart rolls forward, frozen plan excludes post-crash growth") {
    val cat = new Catalog(spark)
    mkTable(cat, "tl4")
    val topic = new java.io.File(tmpDir("tail"), "topic4")
    topic.mkdirs()
    val p0 = new java.io.File(topic, "part-0.jsonl")
    writeLines(p0, (0L until 20L).map(rec))
    val tail = new DirTail(spark, cat, "tl4", topic.toString, "src1", schema)
    an[IllegalStateException] should be thrownBy tail.pollOnce(true, false)
    cat.read("tl4").count() shouldBe 0L // crashed before any data commit
    // the topic grows while "down" — those bytes belong to the NEXT batch
    writeLines(p0, (20L until 25L).map(rec))
    val restarted = new DirTail(spark, cat, "tl4", topic.toString, "src1", schema)
    restarted.poll() shouldBe 20L // batch 1 = the frozen plan, exactly
    restarted.poll() shouldBe 5L  // batch 2 = the growth
    cat.read("tl4").select(col("k")).collect().map(_.getLong(0)).sorted shouldBe
      (0L until 25L).toArray
  }

  test("crash after append: restart neither duplicates nor drops (token dedup)") {
    val cat = new Catalog(spark)
    mkTable(cat, "tl5")
    val topic = new java.io.File(tmpDir("tail"), "topic5")
    topic.mkdirs()
    val p0 = new java.io.File(topic, "part-0.jsonl")
    writeLines(p0, (0L until 30L).map(rec))
    val tail = new DirTail(spark, cat, "tl5", topic.toString, "src1", schema)
    an[IllegalStateException] should be thrownBy tail.pollOnce(false, true)
    cat.read("tl5").count() shouldBe 30L // data DID land before the crash
    // restart: the replayed block is dropped by the dedup token, the
    // offsets commit completes, and the next poll starts clean
    val restarted = new DirTail(spark, cat, "tl5", topic.toString, "src1", schema)
    restarted.poll()
    cat.read("tl5").count() shouldBe 30L // exactly once
    writeLines(p0, (30L until 40L).map(rec))
    restarted.poll() shouldBe 10L
    cat.read("tl5").select(col("k")).collect().map(_.getLong(0)).sorted shouldBe
      (0L until 40L).toArray
    restarted.offsetsListing().head()
      .getAs[Long]("committed_records") shouldBe 40L
  }

  test("appendIdempotent: same token lands once, MV fan-out fires once, compact bounds the window") {
    val cat = new Catalog(spark)
    val path = tmpDir("tail") + "/idem"
    cat.createTable(TableDef("idem", path, schema, Seq("k"), Append))
    // an attached MV: fan-out must fire exactly once per COMMITTED token
    cat.createTable(TableDef("idem_counts", tmpDir("tail") + "/idem_counts",
      StructType(Seq(StructField("v", StringType),
        StructField("n", LongType))), Seq("v"), Append))
    cat.createMaterializedView("idem", "idem_mv", "idem_counts",
      df => df.groupBy(col("v")).agg(count(lit(1)).as("n")))
    val batch = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    cat.appendIdempotent("idem", batch, "tok-1") shouldBe Some(2L)
    cat.appendIdempotent("idem", batch, "tok-1") shouldBe None // deduped
    cat.appendIdempotent("idem", batch, "tok-2") shouldBe Some(2L)
    cat.read("idem").count() shouldBe 4L
    // two committed blocks → two MV blocks; the deduped replay fired none
    cat.read("idem_counts").groupBy(col("v"))
      .agg(sum(col("n")).as("n")).orderBy(col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1))) shouldBe
      Array(("a", 2L), ("b", 2L))
    // the dedup window survives one compact (the folded tokens still
    // veto) and closes at the next
    cat.compact("idem")
    cat.appendIdempotent("idem", batch, "tok-1") shouldBe None
    cat.read("idem").count() shouldBe 4L
    cat.compact("idem")
    cat.appendIdempotent("idem", batch, "tok-1") shouldBe Some(2L)
    cat.read("idem").count() shouldBe 6L
    // ENGINE=Null has nothing to deduplicate against
    cat.createTable(TableDef("idemnull", tmpDir("tail") + "/idemnull",
      schema, Seq("k"), NullEngine))
    an[IllegalArgumentException] should be thrownBy
      cat.appendIdempotent("idemnull", batch, "tok-1")
  }

  test("distinct tokens that sanitize to the same stem both commit") {
    // round-9 advice: 'a b' and 'a_b' both sanitize to 'a_b'; without the
    // raw-token hash in the segment name the second block was silently
    // swallowed as a replay — data loss through a public API
    val cat = new Catalog(spark)
    cat.createTable(TableDef("idemtok", tmpDir("tail") + "/idemtok", schema,
      Seq("k"), Append))
    val batch = Seq((1L, "a")).toDF("k", "v")
    cat.appendIdempotent("idemtok", batch, "a b") shouldBe Some(1L)
    cat.appendIdempotent("idemtok", batch, "a_b") shouldBe Some(1L)
    cat.appendIdempotent("idemtok", batch, "a.b") shouldBe Some(1L)
    cat.read("idemtok").count() shouldBe 3L
    // and each still dedups against ITSELF
    cat.appendIdempotent("idemtok", batch, "a b") shouldBe None
    cat.appendIdempotent("idemtok", batch, "a_b") shouldBe None
    cat.read("idemtok").count() shouldBe 3L
  }

  test("big backlog splits into newline-aligned sub-ranges, still exactly once") {
    // round-9 advice: a first poll against a large pre-existing file used
    // to plan ONE range (Int-overflow + whole-suffix-in-one-heap at GB
    // scale). With the cap forced tiny, this poll must plan many
    // sub-ranges — and still ingest every record exactly once, commit
    // per-FILE offsets once (not once per sub-range), and roll forward
    // a crashed multi-range intent without dupes.
    val cat = new Catalog(spark)
    mkTable(cat, "tlsplit")
    val topic = new java.io.File(tmpDir("tail"), "topicsplit")
    topic.mkdirs()
    val p0 = new java.io.File(topic, "part-0.jsonl")
    writeLines(p0, (0L until 300L).map(rec))
    val tail = new DirTail(spark, cat, "tlsplit", topic.toString, "srcsplit", schema)
    tail.maxRangeBytes = 256 // ~18-byte records → ~14 records per range
    tail.poll() shouldBe 300L
    cat.read("tlsplit").select(col("k")).collect()
      .map(_.getLong(0)).sorted shouldBe (0L until 300L).toArray
    val off = tail.offsetsListing().collect()
    off.length shouldBe 1 // one row per FILE, not per sub-range
    off.head.getAs[Long]("committed_bytes") shouldBe p0.length()
    off.head.getAs[Long]("committed_records") shouldBe 300L
    tail.poll() shouldBe 0L

    // crash after a multi-range intent froze → roll-forward replays it
    // byte-identically, then the next poll picks up post-crash growth
    writeLines(p0, (300L until 400L).map(rec))
    an[IllegalStateException] should be thrownBy tail.pollOnce(true, false)
    writeLines(p0, (400L until 450L).map(rec))
    tail.poll() shouldBe 100L // the frozen intent: rows 300-399 only
    tail.poll() shouldBe 50L
    cat.read("tlsplit").select(col("k")).collect()
      .map(_.getLong(0)).sorted shouldBe (0L until 450L).toArray
  }

  test("the tail directory keeps one commit and no intent across polls; offsets unchanged") {
    val cat = new Catalog(spark)
    val path = mkTable(cat, "tlbounded")
    val topic = new java.io.File(tmpDir("tail"), "topicb")
    topic.mkdirs()
    val p0 = new java.io.File(topic, "part-0.jsonl")
    val p1 = new java.io.File(topic, "part-1.jsonl")
    val tail = new DirTail(spark, cat, "tlbounded", topic.toString, "srcb", schema)
    (0 until 12).foreach { i =>
      writeLines(p0, (i * 10L until i * 10L + 6L).map(rec))
      writeLines(p1, (i * 10L + 6L until i * 10L + 10L).map(rec))
      tail.poll() shouldBe 10L
    }
    new java.io.File(s"$path/_tail/srcb").list().sorted shouldBe Array("commit-12.json")
    val offs = tail.offsetsListing().collect()
      .map(r => r.getAs[String]("partition").split('/').last ->
        (r.getAs[Long]("last_batch"), r.getAs[Long]("committed_bytes"),
          r.getAs[Long]("committed_records"), r.getAs[Long]("broken_records")))
      .toMap
    offs shouldBe Map("part-0.jsonl" -> ((12L, p0.length(), 72L, 0L)),
      "part-1.jsonl" -> ((12L, p1.length(), 48L, 0L)))
    cat.read("tlbounded").count() shouldBe 120L
  }
}
