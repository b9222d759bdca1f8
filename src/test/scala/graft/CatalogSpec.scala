package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog._

/** MergeTree-family engine semantics on immutable Parquet (SURVEY.md §1.1):
  * ReplacingDedup latest-wins across batches, Summing re-aggregation, and
  * compact() as the explicit "background merge".
  */
class CatalogSpec extends SparkSpecBase {
  import spark.implicits._

  private val replacingSchema = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType),
    StructField("updated_at", LongType)))

  test("ReplacingDedup: read collapses equal keys to latest version across batches") {
    val cat = new Catalog(spark)
    val t = cat.createTable(TableDef("r", tmpDir("cat") + "/r", replacingSchema,
      Seq("k"), ReplacingDedup(Seq("k"), "updated_at")))
    cat.append("r", Seq(("a", 1L, 10L), ("b", 2L, 10L)).toDF("k", "v", "updated_at"))
    cat.append("r", Seq(("a", 99L, 20L)).toDF("k", "v", "updated_at")) // re-import of a
    cat.readRaw("r").count() shouldBe 3  // storage keeps both versions of a
    val merged = cat.read("r").orderBy("k").collect()
    merged.map(r => (r.getString(0), r.getLong(1))) shouldBe Array(("a", 99L), ("b", 2L))
  }

  test("ReplacingDedup: within-batch duplicates collapse at append time") {
    val cat = new Catalog(spark)
    cat.createTable(TableDef("r2", tmpDir("cat") + "/r2", replacingSchema,
      Seq("k"), ReplacingDedup(Seq("k"), "updated_at")))
    cat.append("r2", Seq(("a", 1L, 10L), ("a", 2L, 30L), ("a", 3L, 20L))
      .toDF("k", "v", "updated_at"))
    cat.readRaw("r2").count() shouldBe 1
    cat.read("r2").head().getLong(1) shouldBe 2L
  }

  test("ReplacingDedup is_deleted: tombstones hide keys, resurrect on higher version, drop at CLEANUP") {
    val cat = new Catalog(spark)
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("updated_at", LongType), StructField("del", IntegerType)))
    val path = tmpDir("cat") + "/rdel"
    cat.createTable(TableDef("rdel", path, schema, Seq("k"),
      ReplacingDedup(Seq("k"), "updated_at", Some("del"))))
    cat.append("rdel", Seq(("a", 1L, 10L, 0), ("b", 2L, 10L, 0))
      .toDF("k", "v", "updated_at", "del"))
    // the tombstone shadows a's EARLIER version across batches
    cat.append("rdel", Seq(("a", 0L, 20L, 1)).toDF("k", "v", "updated_at", "del"))
    cat.read("rdel").collect().map(_.getString(0)) shouldBe Array("b")
    // a STALE tombstone loses to a newer live version (resurrection)
    cat.append("rdel", Seq(("a", 9L, 30L, 0)).toDF("k", "v", "updated_at", "del"))
    cat.read("rdel").orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1))) shouldBe
      Array(("a", 9L), ("b", 2L))
    // tombstone again, then compact = OPTIMIZE FINAL CLEANUP: the key's
    // rows (all versions AND the tombstone) leave storage physically
    cat.append("rdel", Seq(("a", 0L, 40L, 1)).toDF("k", "v", "updated_at", "del"))
    cat.read("rdel").collect().map(_.getString(0)) shouldBe Array("b")
    cat.compact("rdel")
    cat.readRaw("rdel").collect().map(_.getString(0)) shouldBe Array("b")
    // the engine (with its is_deleted column) round-trips attach()
    cat.detach("rdel")
    cat.attach(path).semantics shouldBe
      ReplacingDedup(Seq("k"), "updated_at", Some("del"))
    cat.read("rdel").collect().map(_.getString(0)) shouldBe Array("b")
    // validation: missing / non-integral is_deleted refused at CREATE
    an[IllegalArgumentException] should be thrownBy
      cat.createTable(TableDef("rdbad", tmpDir("cat") + "/rdbad", schema,
        Seq("k"), ReplacingDedup(Seq("k"), "updated_at", Some("nope"))))
    an[IllegalArgumentException] should be thrownBy
      cat.createTable(TableDef("rdbad2", tmpDir("cat") + "/rdbad2", schema,
        Seq("k"), ReplacingDedup(Seq("k"), "updated_at", Some("k"))))
  }

  test("multi-writer commit: segment appends from two PROCESSES both land; compact folds them") {
    // the deploy/README fleet contract promoted to code: two separate JVMs
    // (own SparkSessions, own Catalog instances — no shared in-process
    // lock) append concurrently to ONE Versioned table. Per-writer staged
    // segment dirs + an atomic O_EXCL marker create as the commit point
    // mean both batches must land: no lost update, no spurious abort.
    val wh = tmpDir("mwwh")
    import graft.tools.CatalogAppendWorker
    val cp = System.getProperty("java.class.path")
    val addOpens = Seq(
      "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    def launch(lo: Long, hi: Long): Process = {
      val cmd = (Seq("java") ++ addOpens ++ Seq("-Xmx2g", "-cp", cp,
        "graft.tools.CatalogAppendWorker", wh, lo.toString, hi.toString))
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      pb.redirectOutput(java.io.File.createTempFile("mwworker", ".log"))
      pb.start()
    }
    val p1 = launch(0L, 500L)
    val p2 = launch(500L, 1000L)
    p1.waitFor() shouldBe 0
    p2.waitFor() shouldBe 0

    val cat = new Catalog(spark)
    val t = cat.createTable(CatalogAppendWorker.tableDef(wh))
    cat.read(t.name).count() shouldBe 1000L
    cat.read(t.name).select("k").distinct().count() shouldBe 1000L

    // a third append from THIS process lands beside the workers'
    cat.append(t.name, Seq(("extra", 9999L)).toDF("k", "v"))
    cat.read(t.name).count() shouldBe 1001L

    // compact folds the committed segments into the next version; nothing
    // lost, and the folded segments are unmarked (no double counting)
    cat.compact(t.name)
    cat.read(t.name).count() shouldBe 1001L
    cat.read(t.name).agg(sum(col("v"))).head().getLong(0) shouldBe
      (0L until 1000L).sum + 9999L
  }

  test("Aggregating: stored HLL states merge across appends; compact materializes the merge") {
    // ≈ AggregatingMergeTree (uniqState in an MV): two backfill batches
    // write per-key partial sketches over OVERLAPPING id ranges; the read
    // view must union them (overlap not double-counted), and compact must
    // fold storage to one state row per key without changing any estimate
    val cat = new Catalog(spark)
    val t = cat.createTable(TableDef("agx", tmpDir("cat") + "/agx",
      StructType(Seq(
        StructField("k", StringType),
        StructField("state", BinaryType))),
      Seq("k"), Aggregating(Seq("k"), Seq("state"))))

    def sketchBatch(ids: Range): org.apache.spark.sql.DataFrame =
      ids.map(i => (if (i % 2 == 0) "even" else "odd", i.toLong)).toDF("k", "id")
        .groupBy(col("k")).agg(hll_sketch_agg(col("id")).as("state"))

    cat.append("agx", sketchBatch(0 until 100))
    cat.append("agx", sketchBatch(50 until 150)) // 50..99 overlap batch 1
    cat.readRaw("agx").count() shouldBe 4        // 2 keys × 2 appends
    def estimates(): Map[String, Double] =
      cat.read("agx")
        .select(col("k"), hll_sketch_estimate(col("state")).as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    val est = estimates()
    est("even") shouldBe 75.0 +- 4.0 // 150 ids / 2, 5% HLL tolerance
    est("odd") shouldBe 75.0 +- 4.0
    // within-batch pre-merge: an append with several partials per key
    // still stores one state row per key
    cat.append("agx", sketchBatch(150 until 160)
      .union(sketchBatch(160 until 170)))
    cat.readRaw("agx").count() shouldBe 6

    cat.compact("agx")
    cat.readRaw("agx").count() shouldBe 2 // one materialized state per key
    val after = estimates()
    after("even") shouldBe 85.0 +- 5.0
    after("odd") shouldBe 85.0 +- 5.0

    // schema contract: a non-key non-state column has no merge rule
    an[IllegalArgumentException] should be thrownBy
      cat.createTable(TableDef("agbad", tmpDir("cat") + "/agbad",
        StructType(Seq(StructField("k", StringType),
          StructField("extra", LongType), StructField("state", BinaryType))),
        Seq("k"), Aggregating(Seq("k"), Seq("state"))))
  }

  test("Aggregating: generalized state kinds (kll quantile + exact avg) merge, compact, re-attach") {
    import graft.functions.QuantileSketch
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/agq"
    val schema = StructType(Seq(
      StructField("k", StringType),
      StructField("qstate", BinaryType),
      StructField("astate", StructType(Seq(
        StructField("sum", DoubleType), StructField("cnt", LongType))))))
    val t = cat.createTable(TableDef("agq", path, schema, Seq("k"),
      Aggregating(Seq("k"), Seq("qstate", "astate"),
        Map("qstate" -> "kll", "astate" -> "avg"))))

    // two appends over disjoint halves of 0..999 per key: the merged
    // median must see the WHOLE range, not either half's
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => ("a", i.toDouble)).toDF("k", "v")
        .groupBy(col("k"))
        .agg(QuantileSketch.quantile_state(col("v")).as("qstate"),
          struct(sum(col("v")).as("sum"), count(lit(1)).as("cnt")).as("astate"))
    cat.append("agq", batch(0, 500))
    cat.append("agq", batch(500, 1000))
    cat.readRaw("agq").count() shouldBe 2 // one state row per append

    def checks(df: org.apache.spark.sql.DataFrame): Unit = {
      val row = df.groupBy(col("k"))
        .agg(QuantileSketch.quantile_merge(col("qstate"), 0.5).as("p50"),
          (sum(col("astate")("sum")) / sum(col("astate")("cnt"))).as("avg"))
        .head()
      // KLL k=200 rank error ≈1.65%: median of 0..999 lands within ±5% rank
      row.getDouble(1) shouldBe 499.5 +- 50.0
      // avg state is EXACT: (sum of halves) / 1000
      row.getDouble(2) shouldBe 499.5
    }
    checks(cat.read("agq"))

    cat.compact("agq")
    cat.readRaw("agq").count() shouldBe 1 // materialized merge
    checks(cat.read("agq"))

    // the _TABLE sidecar round-trips the state kinds: a FRESH catalog
    // attaching from disk must merge each column by its declared kind
    cat.detach("agq")
    val cat2 = new Catalog(spark)
    val t2 = cat2.attach(path)
    t2.semantics shouldBe Aggregating(Seq("k"), Seq("qstate", "astate"),
      Map("qstate" -> "kll", "astate" -> "avg"))
    cat2.append("agq", batch(1000, 1200)) // maintenance continues post-attach
    val row2 = cat2.read("agq").groupBy(col("k"))
      .agg(QuantileSketch.quantile_merge(col("qstate"), 0.5).as("p50"),
        (sum(col("astate")("sum")) / sum(col("astate")("cnt"))).as("avg"))
      .head()
    row2.getDouble(1) shouldBe 599.5 +- 60.0
    row2.getDouble(2) shouldBe 599.5

    // kind/type contracts fail at CREATE, not mid-append
    an[IllegalArgumentException] should be thrownBy
      cat2.createTable(TableDef("agqbad", tmpDir("cat") + "/agqbad",
        StructType(Seq(StructField("k", StringType),
          StructField("qstate", LongType))), // kll state must be BINARY
        Seq("k"), Aggregating(Seq("k"), Seq("qstate"),
          Map("qstate" -> "kll"))))
    an[IllegalArgumentException] should be thrownBy
      cat2.createTable(TableDef("agqbad2", tmpDir("cat") + "/agqbad2",
        StructType(Seq(StructField("k", StringType),
          StructField("qstate", BinaryType))),
        Seq("k"), Aggregating(Seq("k"), Seq("qstate"),
          Map("qstate" -> "tdigest")))) // unknown kind
    an[IllegalArgumentException] should be thrownBy
      cat2.createTable(TableDef("agqbad3", tmpDir("cat") + "/agqbad3",
        StructType(Seq(StructField("k", StringType),
          StructField("astate", BinaryType))), // avg state must be struct
        Seq("k"), Aggregating(Seq("k"), Seq("astate"),
          Map("astate" -> "avg"))))
    // the scalar/map kind family's type contracts, same CREATE-time gate
    def badKind(name: String, dt: DataType, kind: String) =
      an[IllegalArgumentException] should be thrownBy
        cat2.createTable(TableDef(name, tmpDir("cat") + s"/$name",
          StructType(Seq(StructField("k", StringType),
            StructField("st", dt))),
          Seq("k"), Aggregating(Seq("k"), Seq("st"), Map("st" -> kind))))
    badKind("agqbad4", IntegerType, "sum") // sum(INT) would widen to BIGINT
    badKind("agqbad5", BinaryType, "min")  // binary is not orderable
    badKind("agqbad6", StructType(Seq(    // first field must order
      StructField("v", BinaryType), StructField("a", LongType))), "argmax")
    badKind("agqbad7", MapType(StringType, LongType), "topk") // no capacity
    badKind("agqbad8", MapType(LongType, LongType), "topk:64") // key type
  }

  test("per-column codecs reach parquet encodings and survive compact + attach") {
    import scala.jdk.CollectionConverters._
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/codecs"
    // four columns, three declared codecs, one default: k monotonic
    // (delta), tag 4-distinct (lowcardinality), payload high-entropy
    // (plain: a dictionary would grow to data size), v left alone
    val df = (0L until 20000L).map(i =>
        (i, s"t${i % 4}", f"payload-${i * 2654435761L}%x", i * 0.5))
      .toDF("k", "tag", "payload", "v")
    cat.createTable(TableDef("codecs", path, df.schema, Seq("k"), Append,
      columnCodecs = Seq("k" -> "delta", "tag" -> "lowcardinality",
        "payload" -> "plain")))
    cat.append("codecs", df)

    // footer-level observation: per column, the union of page encodings
    // across every data file — the writer option either reached parquet
    // or it didn't, no proxy
    def encodings(): Map[String, Set[String]] = {
      val conf = spark.sessionState.newHadoopConf()
      val dir = new java.io.File(path)
      val files = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      files.flatMap { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(c =>
          c.getPath.toDotString -> c.getEncodings.asScala.map(_.name).toSet)).toSeq
        finally r.close()
      }.groupBy(_._1).map { case (c, xs) => c -> xs.flatMap(_._2).toSet }
    }
    def assertEncodings(): Unit = {
      val e = encodings()
      e("k") should contain("DELTA_BINARY_PACKED")
      e("payload") should contain("DELTA_BYTE_ARRAY") // v2, dictionary off
      assert(e("tag").exists(_.contains("DICTIONARY")),
        s"tag should be dictionary-encoded, got ${e("tag")}")
      assert(!e("payload").exists(_.contains("DICTIONARY")),
        s"payload should not be dictionary-encoded, got ${e("payload")}")
      assert(!e("k").exists(_.contains("DICTIONARY")),
        s"k should be delta-encoded, not dictionary, got ${e("k")}")
    }
    assertEncodings()
    cat.read("codecs").count() shouldBe 20000L // encodings never change data

    cat.compact("codecs") // the rewrite re-applies the declared codecs
    assertEncodings()

    // _TABLE sidecar round-trip: a fresh catalog attaching from disk
    // keeps the axis, and post-attach appends still encode
    cat.detach("codecs")
    val cat2 = new Catalog(spark)
    val t2 = cat2.attach(path)
    t2.columnCodecs shouldBe Seq("k" -> "delta", "tag" -> "lowcardinality",
      "payload" -> "plain")
    cat2.append("codecs", Seq((20000L, "t0", "payload-x", 1.0))
      .toDF("k", "tag", "payload", "v"))
    assertEncodings()
    cat2.read("codecs").count() shouldBe 20001L

    // the codec follows a rename and dies with a drop
    cat2.renameColumn("codecs", "payload", "body")
    cat2.get("codecs").columnCodecs should contain("body" -> "plain")
    cat2.dropColumn("codecs", "body")
    cat2.get("codecs").columnCodecs shouldBe
      Seq("k" -> "delta", "tag" -> "lowcardinality")

    // contract failures at CREATE: unknown kind, missing column, delta
    // on floating point (parquet has no FP delta encoding)
    def bad(cc: Seq[(String, String)]) =
      an[IllegalArgumentException] should be thrownBy
        cat2.createTable(TableDef("codecsbad", tmpDir("cat") + "/codecsbad",
          df.schema, Seq("k"), Append, columnCodecs = cc))
    bad(Seq("k" -> "gorilla"))
    bad(Seq("nope" -> "delta"))
    bad(Seq("v" -> "delta"))
  }

  test("Summing: read re-sums equal-key partials; appends of partial aggregates compose") {
    val cat = new Catalog(spark)
    val schema = StructType(Seq(StructField("repo", StringType), StructField("stars", LongType)))
    cat.createTable(TableDef("s", tmpDir("cat") + "/s", schema, Seq("repo"),
      Summing(Seq("repo"), Seq("stars"))))
    cat.append("s", Seq(("x", 5L), ("y", 1L)).toDF("repo", "stars")) // block 1 partials
    cat.append("s", Seq(("x", 3L)).toDF("repo", "stars"))            // block 2 partials
    val out = cat.read("s").orderBy("repo").collect().map(r => (r.getString(0), r.getLong(1)))
    out shouldBe Array(("x", 8L), ("y", 1L))
  }

  test("compact() folds storage to the merged view and read stays identical") {
    val cat = new Catalog(spark)
    val schema = StructType(Seq(StructField("repo", StringType), StructField("stars", LongType)))
    cat.createTable(TableDef("c", tmpDir("cat") + "/c", schema, Seq("repo"),
      Summing(Seq("repo"), Seq("stars"))))
    cat.append("c", Seq(("x", 5L), ("x", 2L), ("y", 1L)).toDF("repo", "stars"))
    cat.append("c", Seq(("x", 3L)).toDF("repo", "stars"))
    val before = cat.read("c").orderBy("repo").collect()
    cat.compact("c")
    cat.readRaw("c").count() shouldBe 2 // one row per key after merge
    cat.read("c").orderBy("repo").collect() shouldBe before
  }

  test("compact() never overwrites its own source: temp-dir swap, stale leftovers cleared") {
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/cs"
    cat.createTable(TableDef("cs", path, replacingSchema,
      Seq("k"), ReplacingDedup(Seq("k"), "updated_at")))
    cat.append("cs", Seq(("a", 1L, 10L), ("b", 2L, 10L)).toDF("k", "v", "updated_at"))
    cat.append("cs", Seq(("a", 9L, 20L)).toDF("k", "v", "updated_at"))
    // simulate a crashed previous compact leaving stale swap dirs behind
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path + ".compact.tmp"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path + ".compact.tmp", "junk"), "junk")
    val before = cat.read("cs").orderBy("k").collect()
    cat.compact("cs")
    cat.read("cs").orderBy("k").collect() shouldBe before
    cat.readRaw("cs").count() shouldBe 2 // merged: one row per key
    // swap completed: no temp/old directories remain next to the table
    java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".compact.tmp")) shouldBe false
    java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".compact.old")) shouldBe false
  }

  test("append() into a mid-swap table finishes the swap first — never recreates the table") {
    // the ADVICE hazard: crash between the swap renames leaves .compact.old
    // as the only copy; a subsequent append must NOT create a fresh table
    // with just its batch (the next compact would then delete .compact.old
    // as 'stale leftovers', losing the original rows for good)
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/ar"
    cat.createTable(TableDef("ar", path, replacingSchema,
      Seq("k"), ReplacingDedup(Seq("k"), "updated_at")))
    cat.append("ar", Seq(("a", 1L, 10L), ("b", 2L, 10L)).toDF("k", "v", "updated_at"))
    java.nio.file.Files.move(
      java.nio.file.Paths.get(path), java.nio.file.Paths.get(path + ".compact.old"))
    cat.append("ar", Seq(("c", 3L, 10L)).toDF("k", "v", "updated_at"))
    cat.read("ar").count() shouldBe 3 // original a,b recovered + new c
    java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".compact.old")) shouldBe false
    // readRaw on the other crash shape (tmp fully written, both renames
    // pending the second) adopts the merged output
    val p2 = tmpDir("cat") + "/rr"
    cat.createTable(TableDef("rr", p2, replacingSchema,
      Seq("k"), ReplacingDedup(Seq("k"), "updated_at")))
    cat.append("rr", Seq(("a", 1L, 10L)).toDF("k", "v", "updated_at"))
    java.nio.file.Files.move(
      java.nio.file.Paths.get(p2), java.nio.file.Paths.get(p2 + ".compact.tmp"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p2 + ".compact.old"))
    cat.readRaw("rr").count() shouldBe 1
  }

  test("Versioned layout: appends, semantics, and manifest-commit compact") {
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/vm"
    cat.createTable(TableDef("vm", path, replacingSchema,
      Seq("k"), ReplacingDedup(Seq("k"), "updated_at"), layout = Versioned))
    cat.append("vm", Seq(("a", 1L, 10L), ("b", 2L, 10L)).toDF("k", "v", "updated_at"))
    cat.append("vm", Seq(("a", 9L, 20L)).toDF("k", "v", "updated_at"))
    cat.readRaw("vm").count() shouldBe 3 // both versions of a, across segments
    // each append is a committed SEGMENT (multi-writer protocol): two
    // marker files, two stage dirs, no version dir written yet
    def liveMarkers(): Seq[String] = {
      val md = java.nio.file.Paths.get(path, "_segs")
      if (!java.nio.file.Files.exists(md)) Seq.empty
      else scala.jdk.CollectionConverters.IteratorHasAsScala(
        java.nio.file.Files.list(md).iterator).asScala
        .map(_.getFileName.toString)
        .filter(n => !n.endsWith(".folded") && !n.startsWith(".")) // skip crc
        .toSeq
    }
    liveMarkers().size shouldBe 2
    val segDirs = liveMarkers()
    val before = cat.read("vm").orderBy("k").collect()
    before.map(r => (r.getString(0), r.getLong(1))) shouldBe Array(("a", 9L), ("b", 2L))
    cat.compact("vm")
    // committed: manifest points at v1 holding the merged rows; the folded
    // segments are unmarked but their dirs are RETAINED one compact cycle
    // so in-flight readers that resolved their paths pre-flip don't scan a
    // deleted directory
    java.nio.file.Files.readString(java.nio.file.Paths.get(path, "_CURRENT")) shouldBe "v1"
    liveMarkers() shouldBe empty
    segDirs.foreach(s =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(path, s)) shouldBe true)
    cat.readRaw("vm").count() shouldBe 2
    cat.read("vm").orderBy("k").collect() shouldBe before
    // appends keep landing as committed segments beside the live version
    cat.append("vm", Seq(("c", 3L, 10L)).toDF("k", "v", "updated_at"))
    liveMarkers().size shouldBe 1
    cat.read("vm").count() shouldBe 3
    // the next compact's orphan-GC collects the grace-window segment dirs
    cat.compact("vm")
    segDirs.foreach(s =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(path, s)) shouldBe false)
    cat.read("vm").count() shouldBe 3
  }

  test("Versioned layout: half-written compact output never becomes visible") {
    // the first-compact crash window: the manifest must exist BEFORE any
    // successor version dir does, or a crash midway through writing v1
    // would make the highest-version fallback adopt the partial output
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/vh"
    cat.createTable(TableDef("vh", path, replacingSchema,
      Seq("k"), ReplacingDedup(Seq("k"), "updated_at"), layout = Versioned))
    cat.append("vh", Seq(("a", 1L, 10L), ("b", 2L, 10L)).toDF("k", "v", "updated_at"))
    // append pins the manifest at first write
    java.nio.file.Files.readString(java.nio.file.Paths.get(path, "_CURRENT")) shouldBe "v0"
    // simulate a compact that crashed mid-write: v1 exists but is garbage
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path, "v1"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path, "v1", "part-junk"), "junk")
    cat.read("vh").count() shouldBe 2 // manifest still rules: v0 served
    cat.compact("vh") // GCs the orphan, commits a fresh merge
    cat.read("vh").count() shouldBe 2
    java.nio.file.Files.readString(java.nio.file.Paths.get(path, "_CURRENT")) shouldBe "v1"
  }

  test("Versioned layout: crashed flip falls back to the complete successor; next compact GCs") {
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/vc"
    cat.createTable(TableDef("vc", path, replacingSchema,
      Seq("k"), ReplacingDedup(Seq("k"), "updated_at"), layout = Versioned))
    cat.append("vc", Seq(("a", 1L, 10L), ("a", 2L, 20L)).toDF("k", "v", "updated_at"))
    cat.compact("vc") // live = v1, merged single row
    // simulate the mid-flip crash: successor v2 fully written, manifest deleted
    import java.nio.file.{Files => JF, Paths => JP}
    import scala.jdk.CollectionConverters._
    val live = JP.get(path, "v1")
    val v2 = JP.get(path, "v2")
    JF.walk(live).iterator.asScala.toSeq.foreach { p =>
      val dst = v2.resolve(live.relativize(p))
      if (JF.isDirectory(p)) JF.createDirectories(dst) else JF.copy(p, dst)
    }
    JF.delete(JP.get(path, "_CURRENT"))
    // readers fall back to the highest complete version (v2) — table stays up
    cat.read("vc").count() shouldBe 1
    // and the next compact re-establishes a manifest and GCs stale versions
    // (v1); the version it displaces itself (v2) is retained one cycle
    cat.compact("vc")
    java.nio.file.Files.readString(java.nio.file.Paths.get(path, "_CURRENT")) shouldBe "v3"
    cat.read("vc").count() shouldBe 1
    java.nio.file.Files.exists(java.nio.file.Paths.get(path, "v1")) shouldBe false
    java.nio.file.Files.exists(java.nio.file.Paths.get(path, "v2")) shouldBe true
    cat.compact("vc")
    java.nio.file.Files.exists(java.nio.file.Paths.get(path, "v2")) shouldBe false
  }

  test("cross-process compaction lock: live lock fails loudly, stale lock is stolen") {
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/lk"
    cat.createTable(TableDef("lk", path, replacingSchema,
      Seq("k"), ReplacingDedup(Seq("k"), "updated_at"), layout = Versioned))
    cat.append("lk", Seq(("a", 1L, 10L), ("a", 2L, 20L)).toDF("k", "v", "updated_at"))
    // another process holds the lock (fresh mtime) → this one must not
    // interleave its GC/flip with the holder's
    val lock = java.nio.file.Paths.get(path + ".compact.lock")
    java.nio.file.Files.writeString(lock, "peer-process")
    an[IllegalStateException] should be thrownBy cat.compact("lk")
    // a crashed holder's leftover (stale mtime) is stolen and compaction runs
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 31L * 60 * 1000))
    cat.compact("lk")
    cat.read("lk").count() shouldBe 1
    java.nio.file.Files.exists(lock) shouldBe false // released
  }

  test("compact() recovers a table left path-less by a crash between the swap renames") {
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/cr"
    cat.createTable(TableDef("cr", path, replacingSchema,
      Seq("k"), ReplacingDedup(Seq("k"), "updated_at")))
    cat.append("cr", Seq(("a", 1L, 10L), ("b", 2L, 10L)).toDF("k", "v", "updated_at"))
    val before = cat.read("cr").orderBy("k").collect()
    // simulate the crash window: table path renamed away, merged tmp absent
    java.nio.file.Files.move(
      java.nio.file.Paths.get(path), java.nio.file.Paths.get(path + ".compact.old"))
    cat.exists("cr") shouldBe false
    cat.compact("cr") // must restore the original, then compact it — not delete it
    cat.read("cr").orderBy("k").collect() shouldBe before
    java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".compact.old")) shouldBe false
  }

  test("lightweight DELETE drops only definite matches, through both layouts") {
    for (layout <- Seq(FlatDir, Versioned)) {
      val cat = new Catalog(spark)
      val name = s"del-$layout"
      cat.createTable(TableDef(name, tmpDir("cat") + s"/$name", replacingSchema,
        Seq("k"), Append, layout = layout))
      cat.append(name, Seq(("a", 1L, 10L), ("b", 2L, 20L), ("c", 3L, 30L))
        .toDF("k", "v", "updated_at"))
      cat.delete(name, col("v") >= 2 && col("k") =!= "c")
      withClue(s"$layout: ") {
        cat.read(name).orderBy("k").collect()
          .map(r => (r.getString(0), r.getLong(1))) shouldBe
          Array(("a", 1L), ("c", 3L))
      }
      // NULL predicate keeps the row: v > NULL is NULL, not TRUE
      cat.delete(name, col("v") > lit(null).cast("long"))
      withClue(s"$layout null-pred: ") {
        cat.read(name).count() shouldBe 2
      }
    }
  }

  test("lightweight UPDATE rewrites matching rows, preserves shape, rejects drift") {
    val cat = new Catalog(spark)
    cat.createTable(TableDef("upd", tmpDir("cat") + "/upd", replacingSchema,
      Seq("k"), Append))
    cat.append("upd", Seq(("a", 1L, 10L), ("b", 2L, 20L)).toDF("k", "v", "updated_at"))
    cat.update("upd", col("k") === "a",
      Map("v" -> lit(100), "updated_at" -> (col("updated_at") + 1)))
    cat.read("upd").orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))) shouldBe
      Array(("a", 100L, 11L), ("b", 2L, 20L)) // lit(100) cast back to long
    // simultaneous old-row semantics: a WHERE on a column being assigned
    // must see the PRE-update value for every assignment, regardless of
    // Map order — both v and updated_at change for the v=100 row
    cat.update("upd", col("v") === 100,
      Map("v" -> lit(7), "updated_at" -> lit(99)))
    cat.read("upd").orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))) shouldBe
      Array(("a", 7L, 99L), ("b", 2L, 20L))
    an[IllegalArgumentException] should be thrownBy
      cat.update("upd", col("k") === "a", Map("nope" -> lit(1)))
    an[IllegalArgumentException] should be thrownBy
      cat.mutate("upd", _.withColumn("extra", lit(1)))
    // validation is as loud on a never-written table: the transform runs
    // against an empty frame of the declared schema
    cat.createTable(TableDef("updEmpty", tmpDir("cat") + "/updEmpty",
      replacingSchema, Seq("k"), Append))
    an[IllegalArgumentException] should be thrownBy
      cat.update("updEmpty", col("k") === "a", Map("nope" -> lit(1)))
    an[IllegalArgumentException] should be thrownBy
      cat.mutate("updEmpty", _.withColumn("extra", lit(1)))
  }

  test("mutation on a ReplacingDedup table sees the merged view first") {
    val cat = new Catalog(spark)
    cat.createTable(TableDef("mrd", tmpDir("cat") + "/mrd", replacingSchema,
      Seq("k"), ReplacingDedup(Seq("k"), "updated_at")))
    cat.append("mrd", Seq(("a", 1L, 10L), ("b", 2L, 10L)).toDF("k", "v", "updated_at"))
    cat.append("mrd", Seq(("a", 99L, 20L)).toDF("k", "v", "updated_at"))
    // deleting v >= 99 must remove key a entirely — the mutation operates
    // on the merged (latest-wins) view, not on the stale v=1 storage row
    cat.delete("mrd", col("v") >= 99)
    cat.read("mrd").collect().map(_.getString(0)) shouldBe Array("b")
    cat.readRaw("mrd").count() shouldBe 1 // storage rewritten, stale row gone
  }

  test("randomized mutation sequences agree with a driver-side reference model") {
    // the mutation surface vs a plain in-memory model: interleaved
    // append/delete/update/compact in random order must leave the table
    // exactly where the model says, through both layouts
    for (layout <- Seq(FlatDir, Versioned)) {
      val cat = new Catalog(spark)
      val name = s"fuzz-$layout"
      cat.createTable(TableDef(name, tmpDir("cat") + s"/$name", replacingSchema,
        Seq("k"), Append, layout = layout))
      val rnd = new scala.util.Random(1234)
      var model = Vector.empty[(String, Long, Long)] // (k, v, updated_at)
      var nextKey = 0
      for (step <- 1 to 12) rnd.nextInt(4) match {
        case 0 => // append a small batch of fresh keys
          val batch = (1 to rnd.nextInt(3) + 1).map { _ =>
            nextKey += 1
            (s"k$nextKey", rnd.nextInt(100).toLong, step.toLong)
          }
          cat.append(name, batch.toDF("k", "v", "updated_at"))
          model = model ++ batch
        case 1 => // delete where v < threshold
          val th = rnd.nextInt(100).toLong
          cat.delete(name, col("v") < th)
          model = model.filterNot(_._2 < th)
        case 2 => // update: bump v by 1000 where v >= threshold
          val th = rnd.nextInt(100).toLong
          cat.update(name, col("v") >= th, Map("v" -> (col("v") + 1000)))
          model = model.map { case r @ (k, v, u) =>
            if (v >= th) (k, v + 1000, u) else r
          }
        case 3 =>
          cat.compact(name)
      }
      withClue(s"$layout after 12 random steps: ") {
        cat.read(name).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sorted.toVector shouldBe model.sorted
      }
    }
  }

  test("ALTER ADD COLUMN: metadata-only widen, read-time default, materialized on compact") {
    val cat = new Catalog(spark)
    cat.createTable(TableDef("ac", tmpDir("cat") + "/ac", replacingSchema,
      Seq("k"), Append))
    cat.append("ac", Seq(("a", 1L, 10L), ("b", 2L, 20L)).toDF("k", "v", "updated_at"))
    cat.addColumn("ac", StructField("score", LongType), 7L)
    // old parts lack the column entirely — readers see the default NOW
    cat.read("ac").orderBy("k").collect()
      .map(r => (r.getString(0), r.getAs[Long]("score"))) shouldBe
      Array(("a", 7L), ("b", 7L))
    // new appends may carry the column; omitted values also fill.
    // Pre-materialization the column cannot hold NULL: an explicit null
    // in a carried column fills at insert (the read-side coalesce cannot
    // tell old parts from new, so storing the null verbatim would read as
    // the default now and be silently materialized INTO the default by
    // the next compact — the insert-time fill makes storage and reads
    // agree at every point)
    cat.append("ac",
      Seq[(String, Long, Long, java.lang.Long)](
        ("c", 3L, 30L, 99L), ("d", 4L, 40L, null))
      .toDF("k", "v", "updated_at", "score"))
    cat.read("ac").orderBy("k").collect()
      .map(r => (r.getString(0), r.getAs[Long]("score"))) shouldBe
      Array(("a", 7L), ("b", 7L), ("c", 99L), ("d", 7L))
    // compact materializes the default into storage permanently
    cat.compact("ac")
    cat.readRaw("ac").orderBy("k").collect()
      .map(r => (r.getString(0), r.getAs[Long]("score"))) shouldBe
      Array(("a", 7L), ("b", 7L), ("c", 99L), ("d", 7L))
    // duplicate add rejected; type-violating default rejected UP FRONT
    // (a lossy default would silently retype the column at read time and
    // the next compact would corrupt storage against the declared schema)
    an[IllegalArgumentException] should be thrownBy
      cat.addColumn("ac", StructField("score", LongType), 0L)
    an[IllegalArgumentException] should be thrownBy
      cat.addColumn("ac", StructField("score2", LongType), "not-a-number")
    // a TRUNCATING numeric default is rejected too — the non-ANSI cast
    // would silently store 3 for 3.9, so what's stored would differ from
    // what the caller wrote
    an[IllegalArgumentException] should be thrownBy
      cat.addColumn("ac", StructField("score3", LongType), 3.9)
    // while an exactly-representable cross-type default is fine
    cat.addColumn("ac", StructField("score4", LongType), 4.0)
    cat.read("ac").filter(col("k") === "a").collect()(0)
      .getAs[Long]("score4") shouldBe 4L
    // and the new column is immediately mutable
    cat.update("ac", col("k") === "a", Map("score" -> lit(1)))
    cat.read("ac").filter(col("k") === "a").collect()(0)
      .getAs[Long]("score") shouldBe 1L
    // the compact retired the READ default: an explicitly stored NULL now
    // reads back as NULL, not as 7
    cat.update("ac", col("k") === "b", Map("score" -> lit(null)))
    cat.read("ac").filter(col("k") === "b").collect()(0)
      .isNullAt(3) shouldBe true
    // but insert-time fill is permanent table metadata: a batch that
    // still OMITS the column gets the default materialized at append
    cat.append("ac", Seq(("e", 5L, 50L)).toDF("k", "v", "updated_at"))
    cat.read("ac").filter(col("k") === "e").collect()(0)
      .getAs[Long]("score") shouldBe 7L
  }

  test("PARTITION BY layout: directory partitioning, pruning, and full-cycle semantics") {
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/pt"
    cat.createTable(TableDef("pt", path, StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("lang", StringType))),
      sortKeys = Seq("k"), semantics = Append, partitionKeys = Seq("lang")))
    cat.append("pt", Seq(("a", 1L, "en"), ("b", 2L, "de"), ("c", 3L, "en"))
      .toDF("k", "v", "lang"))
    // directory-encoded partitions on disk
    new java.io.File(path).list().count(_.startsWith("lang=")) shouldBe 2
    // a partition predicate prunes at the DIRECTORY level, before any read
    val pruned = cat.read("pt").filter(col("lang") === "en")
    pruned.queryExecution.executedPlan.toString should
      include("PartitionFilters: [isnotnull(lang")
    pruned.orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))) shouldBe
      Array(("a", 1L), ("c", 3L))
    // append + mutate + compact keep the layout and the declared schema
    cat.append("pt", Seq(("d", 4L, "fr")).toDF("k", "v", "lang"))
    cat.delete("pt", col("lang") === "de")
    cat.compact("pt")
    new java.io.File(path).list().count(_.startsWith("lang=")) shouldBe 2 // en, fr
    cat.read("pt").orderBy("k").collect()
      .map(r => (r.getString(0), r.getString(2))) shouldBe
      Array(("a", "en"), ("c", "en"), ("d", "fr"))
  }

  test("DROP PARTITION: one partition's dirs removed, other partitions' files untouched") {
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/pdrop"
    cat.createTable(TableDef("pdrop", path, StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("lang", StringType))),
      sortKeys = Seq("k"), semantics = Append, partitionKeys = Seq("lang")))
    cat.append("pdrop", Seq(("a", 1L, "en"), ("b", 2L, "de")).toDF("k", "v", "lang"))
    cat.append("pdrop", Seq(("c", 3L, "en"), ("d", 4L, "fr")).toDF("k", "v", "lang"))
    def files(leaf: String): Seq[(String, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val d = java.nio.file.Paths.get(path, leaf)
      java.nio.file.Files.walk(d).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).toSeq
        .map(p => (p.toString, java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).sortBy(_._1)
    }
    val enBefore = files("lang=en")
    val frBefore = files("lang=fr")
    enBefore.size should be >= 2 // two appends → at least one file each
    // drop is O(partition): directory delete, no rewrite anywhere else
    cat.dropPartition("pdrop", "de") shouldBe 1
    new java.io.File(path).list() should not contain "lang=de"
    files("lang=en") shouldBe enBefore // byte-identical survivors
    files("lang=fr") shouldBe frBefore
    cat.read("pdrop").orderBy("k").collect().map(_.getString(0)) shouldBe
      Array("a", "c", "d")
    cat.dropPartition("pdrop", "de") shouldBe 0 // idempotent no-op
    // an unpartitioned table refuses partition verbs
    cat.createTable(TableDef("flat0", tmpDir("cat") + "/flat0",
      replacingSchema, Seq("k"), Append))
    an[IllegalArgumentException] should be thrownBy
      cat.dropPartition("flat0", "x")
    // the op is mutation-logged like any ALTER
    cat.systemMutations("pdrop").collect().map(_.getString(3)) should
      contain("ALTER DROP PARTITION lang=de")
  }

  test("DETACH/ATTACH PARTITION round-trips content through both layouts") {
    for (layout <- Seq(FlatDir, Versioned)) {
      val cat = new Catalog(spark)
      val name = s"pda_$layout"
      val path = tmpDir("cat") + s"/$name"
      cat.createTable(TableDef(name, path, StructType(Seq(
        StructField("k", StringType), StructField("v", LongType),
        StructField("lang", StringType))),
        sortKeys = Seq("k"), semantics = Append, layout = layout,
        partitionKeys = Seq("lang")))
      cat.append(name, Seq(("a", 1L, "en"), ("b", 2L, "de")).toDF("k", "v", "lang"))
      if (layout == Versioned) cat.compact(name) // value now in the version dir…
      cat.append(name, Seq(("c", 3L, "en"), ("d", 4L, "fr")).toDF("k", "v", "lang"))
      val before = cat.read(name).orderBy("k").collect().map(_.toSeq)
      // …and in an append segment: detach must move BOTH directories
      val expectDirs = if (layout == Versioned) 2 else 1
      cat.detachPartition(name, "en") shouldBe expectDirs
      cat.read(name).orderBy("k").collect().map(_.getString(0)) shouldBe
        Array("b", "d")
      // detached data sits beside the table, outside any compaction swap
      new java.io.File(path + ".detached").exists() shouldBe true
      // attach re-adopts every bucket; content round-trips exactly
      cat.attachPartition(name, "en") shouldBe expectDirs
      cat.read(name).orderBy("k").collect().map(_.toSeq) shouldBe before
      cat.attachPartition(name, "en") shouldBe 0 // nothing left detached
      // the table stays fully operational through later ops
      cat.compact(name)
      cat.read(name).orderBy("k").collect().map(_.toSeq) shouldBe before
    }
  }

  test("MOVE PARTITION TO TABLE: directories transfer across tables and layouts by rename") {
    val langSchema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("lang", StringType)))
    val cat = new Catalog(spark)
    // FlatDir source → Versioned destination
    cat.createTable(TableDef("mv_src", tmpDir("cat") + "/mv_src", langSchema,
      Seq("k"), Append, partitionKeys = Seq("lang")))
    cat.createTable(TableDef("mv_dst", tmpDir("cat") + "/mv_dst", langSchema,
      Seq("k"), Append, layout = Versioned, partitionKeys = Seq("lang")))
    cat.append("mv_src", Seq(("a", 1L, "en"), ("b", 2L, "de")).toDF("k", "v", "lang"))
    cat.append("mv_dst", Seq(("z", 9L, "fr")).toDF("k", "v", "lang"))
    cat.movePartition("mv_src", "mv_dst", "en") shouldBe 1
    cat.read("mv_src").collect().map(_.getString(0)) shouldBe Array("b")
    cat.read("mv_dst").orderBy("k").collect().map(_.getString(0)) shouldBe
      Array("a", "z")
    // and back: Versioned source → FlatDir destination, landing in a
    // partition that already exists (file-level merge)
    cat.append("mv_src", Seq(("c", 3L, "en")).toDF("k", "v", "lang"))
    cat.movePartition("mv_dst", "mv_src", "en") shouldBe 1
    cat.read("mv_src").orderBy("k").collect().map(_.getString(0)) shouldBe
      Array("a", "b", "c")
    cat.read("mv_dst").collect().map(_.getString(0)) shouldBe Array("z")
    // both sides carry the op in their mutation history
    cat.systemMutations("mv_src").collect().map(_.getString(3)) should
      contain("ALTER MOVE PARTITION lang=en TO TABLE mv_dst")
    cat.systemMutations("mv_dst").collect().map(_.getString(3)) should
      contain("ALTER ATTACH PARTITION lang=en (moved from mv_src)")
    // structurally different tables refuse the move
    cat.createTable(TableDef("mv_other", tmpDir("cat") + "/mv_other",
      replacingSchema, Seq("k"), Append, partitionKeys = Seq("k")))
    an[IllegalArgumentException] should be thrownBy
      cat.movePartition("mv_src", "mv_other", "en")
  }

  test("FREEZE: snapshot pins its read set through compacts and mutations; drop re-enables GC") {
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/frz"
    cat.createTable(TableDef("frz", path, replacingSchema,
      Seq("k"), Append, layout = Versioned))
    cat.append("frz", Seq(("a", 1L, 10L), ("b", 2L, 10L)).toDF("k", "v", "updated_at"))
    cat.freeze("frz", "s1")
    val frozen = cat.readSnapshot("frz", "s1").orderBy("k").collect().map(_.toSeq)
    frozen.map(_.head) shouldBe Array("a", "b")
    // live table moves on; the frozen view does not
    cat.append("frz", Seq(("c", 3L, 11L)).toDF("k", "v", "updated_at"))
    cat.compact("frz") // folds the pinned segment; pin keeps its dir
    cat.delete("frz", col("k") === "a") // mutation writes a NEW version
    cat.compact("frz") // and another GC cycle on top
    cat.read("frz").orderBy("k").collect().map(_.getString(0)) shouldBe
      Array("b", "c")
    cat.readSnapshot("frz", "s1").orderBy("k").collect().map(_.toSeq) shouldBe frozen
    cat.systemSnapshots("frz").collect().map(_.getString(0)) shouldBe Array("s1")
    // a second freeze under the same tag refuses (O_EXCL)
    an[Exception] should be thrownBy cat.freeze("frz", "s1")
    // drop the pin: the next compact collects what the snapshot held
    cat.dropSnapshot("frz", "s1") shouldBe true
    cat.dropSnapshot("frz", "s1") shouldBe false
    cat.compact("frz")
    // the once-pinned segment dir is collected (the displaced version
    // dir legitimately survives ONE more cycle as the reader grace
    // window — that retention is compact's, not the snapshot's)
    new java.io.File(path).list().count(_.startsWith("seg-")) shouldBe 0
    new java.io.File(path).list().count(_.matches("v\\d+")) should be <= 2
    a[NoSuchElementException] should be thrownBy cat.readSnapshot("frz", "s1")
    // FlatDir tables cannot freeze (whole-dir swap would strand the pin)
    cat.createTable(TableDef("frzflat", tmpDir("cat") + "/frzflat",
      replacingSchema, Seq("k"), Append))
    an[IllegalArgumentException] should be thrownBy cat.freeze("frzflat", "x")
  }

  test("partition DDL is copy-on-write against snapshots: frozen views keep dropped partitions") {
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/frzp"
    cat.createTable(TableDef("frzp", path, StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("lang", StringType))),
      sortKeys = Seq("k"), semantics = Append, layout = Versioned,
      partitionKeys = Seq("lang")))
    cat.append("frzp", Seq(("a", 1L, "en"), ("b", 2L, "de")).toDF("k", "v", "lang"))
    cat.freeze("frzp", "pin")
    // in-place DDL must not mutate the pinned dirs: a compact rolls first
    cat.dropPartition("frzp", "de") shouldBe 1
    cat.read("frzp").collect().map(_.getString(0)) shouldBe Array("a")
    cat.readSnapshot("frzp", "pin").orderBy("k").collect().map(_.getString(0)) shouldBe
      Array("a", "b")
  }

  test("Buffer engine: thresholds coalesce inserts into one part; reads never lose rows") {
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/buf"
    // Versioned: one append = one committed segment dir, so the
    // one-commit-per-flush coalescing claim is directly observable
    cat.createTable(TableDef("buft", path, replacingSchema, Seq("k"), Append,
      layout = Versioned))
    def segs: Int =
      new java.io.File(path).list() match {
        case null => 0
        case l => l.count(_.startsWith("seg-"))
      }
    val buf = new BufferedTable(cat, "buft", maxRows = 4L, maxAgeMs = 1000L)
    buf.insert(Seq(("a", 1L, 10L), ("b", 2L, 10L)).toDF("k", "v", "updated_at"),
      nowMs = 0L) shouldBe 2L
    buf.buffered shouldBe 2L
    cat.read("buft").count() shouldBe 0 // below both thresholds: RAM only
    buf.read().count() shouldBe 2       // ...but the buffer read sees them
    // row threshold trips: ONE coalesced append reaches the target
    buf.insert(Seq(("c", 3L, 10L), ("d", 4L, 10L)).toDF("k", "v", "updated_at"),
      nowMs = 10L)
    buf.buffered shouldBe 0L
    cat.read("buft").count() shouldBe 4
    segs shouldBe 1 // TWO inserts coalesced into ONE append commit
    // age threshold: an old buffered batch flushes on the next insert
    buf.insert(Seq(("e", 5L, 11L)).toDF("k", "v", "updated_at"), nowMs = 100L)
    buf.buffered shouldBe 1L
    buf.insert(Seq(("f", 6L, 11L)).toDF("k", "v", "updated_at"), nowMs = 1200L)
    buf.buffered shouldBe 0L // 1200 - 100 >= maxAgeMs
    cat.read("buft").count() shouldBe 6
    // explicit flush of an empty buffer is a no-op
    buf.flush() shouldBe 0L
    // flush-time MV: the target's views fire with the COALESCED block
    val rollSchema = StructType(Seq(
      StructField("all", StringType), StructField("n", LongType)))
    cat.createTable(TableDef("bufroll", tmpDir("cat") + "/bufroll",
      rollSchema, Nil, Summing(Seq("all"), Seq("n"))))
    cat.createMaterializedView("buft", "mv_bufroll", "bufroll",
      _.groupBy(lit("all").as("all")).agg(count(lit(1)).as("n")))
    buf.insert(Seq(("g", 7L, 12L), ("h", 8L, 12L)).toDF("k", "v", "updated_at"),
      nowMs = 2000L)
    cat.read("bufroll").count() shouldBe 0 // buffered: MV has NOT fired
    buf.flush() shouldBe 2L
    cat.read("bufroll").head().getLong(1) shouldBe 2L // fired once, at flush
  }

  test("ENGINE=Null + materialized views: inserts discard, fan out, and cascade") {
    val cat = new Catalog(spark)
    val base = tmpDir("cat") + "/nullmv"
    val feedSchema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    cat.createTable(TableDef("feed", s"$base/feed", feedSchema,
      Nil, NullEngine))
    val rollupSchema = StructType(Seq(
      StructField("k", StringType), StructField("n", LongType)))
    cat.createTable(TableDef("roll", s"$base/roll", rollupSchema,
      Seq("k"), Summing(Seq("k"), Seq("n"))))
    val totalSchema = StructType(Seq(
      StructField("all", StringType), StructField("n", LongType)))
    cat.createTable(TableDef("total", s"$base/total", totalSchema,
      Nil, Summing(Seq("all"), Seq("n"))))
    cat.createMaterializedView("feed", "mv_roll", "roll",
      _.groupBy("k").agg(count(lit(1)).as("n")))
    // cascade: the rollup's own MV maintains a grand total
    cat.createMaterializedView("roll", "mv_total", "total",
      _.groupBy(lit("all").as("all")).agg(sum("n").as("n")))
    // a cycle is refused at creation, before any insert could recurse
    an[IllegalArgumentException] should be thrownBy
      cat.createMaterializedView("total", "mv_cycle", "feed", identity)
    // a duplicate view name on the same source is refused
    an[IllegalArgumentException] should be thrownBy
      cat.createMaterializedView("feed", "mv_roll", "total", identity)
    cat.append("feed", Seq(("a", 1L), ("a", 2L), ("b", 3L))
      .toDF("k", "v")) shouldBe 3L // the COUNT commits even though nothing stores
    cat.append("feed", Seq(("a", 4L)).toDF("k", "v")) shouldBe 1L
    cat.read("feed").count() shouldBe 0 // Null reads are always empty
    new java.io.File(s"$base/feed").listFiles() match {
      case null => ()
      case fs => fs.count(_.getName.endsWith(".parquet")) shouldBe 0
    }
    cat.read("roll").orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1))) shouldBe
      Array(("a", 3L), ("b", 1L))
    cat.read("total").head().getLong(1) shouldBe 4L // cascaded twice
    cat.systemMaterializedViews().collect().map(_.getString(1)).sorted shouldBe
      Array("mv_roll", "mv_total")
    // MVs on a STORING table trigger too (rollup maintenance idiom)
    cat.createTable(TableDef("stored", s"$base/stored", feedSchema,
      Seq("k"), Append))
    cat.createMaterializedView("stored", "mv_roll2", "roll",
      _.groupBy("k").agg(count(lit(1)).as("n")))
    cat.append("stored", Seq(("c", 9L)).toDF("k", "v"))
    cat.read("stored").count() shouldBe 1 // base stores
    cat.read("roll").filter(col("k") === "c").head().getLong(1) shouldBe 1L
    cat.read("total").head().getLong(1) shouldBe 5L // cascade reached it
    // drop stops the fan-out
    cat.dropMaterializedView("feed", "mv_roll") shouldBe true
    cat.dropMaterializedView("feed", "mv_roll") shouldBe false
    cat.append("feed", Seq(("z", 1L)).toDF("k", "v"))
    cat.read("roll").filter(col("k") === "z").count() shouldBe 0
  }

  test("deletion vectors: lightweight DELETE masks rows without touching data files") {
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/dvt"
    cat.createTable(TableDef("dvt", path, replacingSchema, Seq("k"), Append))
    cat.append("dvt", Seq(("a", 1L, 10L), ("b", 2L, 10L), ("c", 3L, 10L))
      .toDF("k", "v", "updated_at"))
    cat.append("dvt", Seq(("d", 4L, 20L), ("e", 5L, 20L))
      .toDF("k", "v", "updated_at"))
    def dataFiles: Seq[(String, Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path)).filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.length(), f.lastModified())).sortBy(_._1)
    }
    val before = dataFiles
    cat.deleteLightweight("dvt", col("v") % 2 === 0) shouldBe 2L // b, d
    dataFiles shouldBe before // the delete wrote NO data file
    cat.pendingDeleteFiles("dvt") shouldBe 1
    cat.read("dvt").orderBy("k").collect().map(_.getString(0)) shouldBe
      Array("a", "c", "e")
    // incremental: the matching scan reads through the existing mask, so
    // re-running the same predicate records nothing new
    cat.deleteLightweight("dvt", col("v") % 2 === 0) shouldBe 0L
    cat.pendingDeleteFiles("dvt") shouldBe 1
    // masks compose across deletes
    cat.deleteLightweight("dvt", col("k") === "e") shouldBe 1L
    cat.pendingDeleteFiles("dvt") shouldBe 2
    cat.read("dvt").orderBy("k").collect().map(_.getString(0)) shouldBe
      Array("a", "c")
    // the raw view excludes them too: deleted is deleted, merge or no merge
    cat.readRaw("dvt").count() shouldBe 2
    // NULL-predicate rows are kept (three-valued DELETE semantics)
    cat.deleteLightweight("dvt",
      when(col("k") === "zzz", lit(true))) shouldBe 0L
    // compact materializes the mask and collects the applied dv dirs
    cat.compact("dvt")
    cat.pendingDeleteFiles("dvt") shouldBe 0
    cat.read("dvt").orderBy("k").collect().map(_.getString(0)) shouldBe
      Array("a", "c")
    // merge-view engines refuse: masking one physical row would CHANGE
    // the fold (resurrect a superseded row), not delete a logical one
    cat.createTable(TableDef("dvr", tmpDir("cat") + "/dvr", replacingSchema,
      Seq("k"), ReplacingDedup(Seq("k"), "updated_at")))
    cat.append("dvr", Seq(("a", 1L, 10L)).toDF("k", "v", "updated_at"))
    an[IllegalArgumentException] should be thrownBy
      cat.deleteLightweight("dvr", col("k") === "a")
    // the lightweight delete is mutation-logged like every ALTER
    cat.systemMutations("dvt").collect().map(_.getString(3))
      .count(_.contains("lightweight")) should be >= 3
  }

  test("deletion vectors: frozen views replay exactly their frozen mask") {
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/dvf"
    cat.createTable(TableDef("dvf", path, replacingSchema,
      Seq("k"), Append, layout = Versioned))
    cat.append("dvf", Seq(("a", 1L, 10L), ("b", 2L, 10L), ("c", 3L, 10L))
      .toDF("k", "v", "updated_at"))
    cat.freeze("dvf", "s0") // no mask frozen
    cat.deleteLightweight("dvf", col("k") === "b") shouldBe 1L
    cat.freeze("dvf", "s1") // mask {b} frozen
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").collect().map(_.getString(0))
    keys(cat.read("dvf")) shouldBe Array("a", "c")
    keys(cat.readSnapshot("dvf", "s0")) shouldBe Array("a", "b", "c")
    keys(cat.readSnapshot("dvf", "s1")) shouldBe Array("a", "c")
    // a delete AFTER the freeze must not edit either frozen view
    cat.deleteLightweight("dvf", col("k") === "c") shouldBe 1L
    keys(cat.read("dvf")) shouldBe Array("a")
    keys(cat.readSnapshot("dvf", "s0")) shouldBe Array("a", "b", "c")
    keys(cat.readSnapshot("dvf", "s1")) shouldBe Array("a", "c")
    // compact materializes the live mask; s1's pinned dv dir survives it
    cat.compact("dvf")
    keys(cat.read("dvf")) shouldBe Array("a")
    keys(cat.readSnapshot("dvf", "s0")) shouldBe Array("a", "b", "c")
    keys(cat.readSnapshot("dvf", "s1")) shouldBe Array("a", "c")
    // drop the pins: the next compact collects every retained dv dir
    cat.dropSnapshot("dvf", "s0") shouldBe true
    cat.dropSnapshot("dvf", "s1") shouldBe true
    cat.compact("dvf")
    val dvDir = new java.io.File(path + ".dv")
    (!dvDir.exists() || dvDir.list().isEmpty) shouldBe true
    keys(cat.read("dvf")) shouldBe Array("a")
  }

  test("deletion vectors: DETACH materializes pending masks, so round-trips keep deletes") {
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/dvp"
    cat.createTable(TableDef("dvp", path, StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("lang", StringType))),
      sortKeys = Seq("k"), semantics = Append, partitionKeys = Seq("lang")))
    cat.append("dvp", Seq(("a", 1L, "en"), ("b", 2L, "en"), ("c", 3L, "de"))
      .toDF("k", "v", "lang"))
    cat.deleteLightweight("dvp", col("k") === "b") shouldBe 1L
    cat.pendingDeleteFiles("dvp") shouldBe 1
    // masks are path-addressed; a detached dir re-attaches under a new
    // path, so DETACH folds the mask into storage first
    cat.detachPartition("dvp", "en") shouldBe 1
    cat.pendingDeleteFiles("dvp") shouldBe 0
    cat.read("dvp").collect().map(_.getString(0)) shouldBe Array("c")
    cat.attachPartition("dvp", "en") shouldBe 1
    cat.read("dvp").orderBy("k").collect().map(_.getString(0)) shouldBe
      Array("a", "c") // b stays deleted through the round-trip
  }

  test("TTL expiry deletes rows older than the horizon, deterministically") {
    val cat = new Catalog(spark)
    cat.createTable(TableDef("ttl", tmpDir("cat") + "/ttl", replacingSchema,
      Seq("k"), Append))
    cat.append("ttl", Seq(("old", 1L, 1000L), ("mid", 2L, 5000L), ("new", 3L, 9000L))
      .toDF("k", "v", "updated_at"))
    cat.applyTtl("ttl", "updated_at", maxAgeSec = 4000L, nowEpochSec = 9000L)
    // horizon = 5000: strictly-older rows expire, boundary row survives
    cat.read("ttl").orderBy("k").collect().map(_.getString(0)) shouldBe
      Array("mid", "new")
  }

  test("TTL GROUP BY rolls expired rows into aggregates; fresh rows pass through") {
    val cat = new Catalog(spark)
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("bkt", LongType),
      StructField("n", LongType), StructField("note", StringType)))
    cat.createTable(TableDef("ttlgb", tmpDir("cat") + "/ttlgb", schema,
      Seq("k", "bkt"), Append))
    cat.append("ttlgb", Seq(
      ("a", 100L, 1L, "x"), ("a", 200L, 2L, "y"), ("a", 900L, 4L, "z"),
      ("b", 150L, 8L, "p")).toDF("k", "bkt", "n", "note"))
    // horizon 500: a@100+a@200 and b@150 expire; a@900 stays raw
    cat.applyTtlRollup("ttlgb", "bkt", maxAgeSec = 0L, nowEpochSec = 500L,
      groupKeys = Seq("k"), set = Map("n" -> sum(col("n"))))
    val rows = cat.read("ttlgb").orderBy("k", "bkt").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    rows shouldBe Array(
      ("a", 200L, 3L, "y"), // rolled: n summed, bkt/note = max (documented)
      ("a", 900L, 4L, "z"), // fresh, untouched
      ("b", 150L, 8L, "p")) // whole group expired -> one rolled row
    // re-running with a later horizon re-aggregates rolled + newly expired
    cat.applyTtlRollup("ttlgb", "bkt", maxAgeSec = 0L, nowEpochSec = 1000L,
      groupKeys = Seq("k"), set = Map("n" -> sum(col("n"))))
    cat.read("ttlgb").orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(2))) shouldBe
      Array(("a", 7L), ("b", 8L))
    // validation: unknown column, key/SET overlap, empty keys
    an[IllegalArgumentException] should be thrownBy
      cat.applyTtlRollup("ttlgb", "bkt", 0L, 0L, Seq("nope"), Map.empty)
    an[IllegalArgumentException] should be thrownBy
      cat.applyTtlRollup("ttlgb", "bkt", 0L, 0L, Seq("k"), Map("k" -> sum(col("n"))))
    an[IllegalArgumentException] should be thrownBy
      cat.applyTtlRollup("ttlgb", "bkt", 0L, 0L, Nil, Map.empty)
  }

  test("a crash between manifest flip and segment unmark never double-counts") {
    // the window the _FOLDED sidecar closes: compact writes v1 (absorbing
    // the segments), flips _CURRENT, and CRASHES before deleting the
    // segment markers. On an APPEND-semantics table there is no merge
    // view to hide duplicates — the fold exclusion must come from the
    // version itself. Simulated by resurrecting the post-compact state's
    // markers (marker present + dir present + rows already in v1).
    import java.nio.file.{Files, Paths}
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/crashwin"
    cat.createTable(TableDef("cw", path, replacingSchema,
      Seq("k"), Append, layout = Versioned))
    cat.append("cw", Seq(("a", 1L, 1L), ("b", 2L, 1L)).toDF("k", "v", "updated_at"))
    cat.append("cw", Seq(("c", 3L, 1L), ("d", 4L, 1L)).toDF("k", "v", "updated_at"))
    val segDirs = new java.io.File(path).list().filter(_.startsWith("seg-")).toSeq
    segDirs.size shouldBe 2
    cat.compact("cw")
    cat.read("cw").count() shouldBe 4
    // resurrect the crash state: markers back, tombstones gone
    segDirs.foreach { s =>
      Files.deleteIfExists(Paths.get(path, "_segs", s + ".folded"))
      Files.write(Paths.get(path, "_segs", s), "crashed".getBytes)
    }
    // v1's _FOLDED list excludes the re-marked segments from every read
    cat.read("cw").count() shouldBe 4
    cat.readRaw("cw").count() shouldBe 4
    // and the next compact finishes the unmark instead of re-folding
    cat.compact("cw")
    cat.read("cw").count() shouldBe 4
    new java.io.File(path + "/_segs").list()
      .filter(n => segDirs.contains(n)) shouldBe empty
  }

  test("bloom-pruned reads refuse merge-view semantics") {
    // pruning composes with a raw scan only: under ReplacingDedup a
    // pruned file can hold the SUPERSEDER of a row the kept files still
    // contain — dropping it would resurrect the superseded row
    val cat = new Catalog(spark)
    cat.createTable(TableDef("bp", tmpDir("cat") + "/bp", replacingSchema,
      Seq("k"), ReplacingDedup(Seq("k"), "updated_at"), indexCols = Seq("v")))
    cat.append("bp", Seq(("a", 1L, 10L)).toDF("k", "v", "updated_at"))
    val ex = intercept[IllegalArgumentException] {
      cat.readPruned("bp", "v", 1L)
    }
    ex.getMessage should include("Append semantics")
  }

  test("skip-index reads see a table whose root path has an _idx component") {
    // the data-file rule is judged relative to the table root: a table may
    // itself live under some `_idx/` directory (the ANN companions do)
    val cat = new Catalog(spark)
    val src = (0L until 1000L).map(i => (i, i % 13)).toDF("k", "v")
    cat.createTable(TableDef("under_idx", tmpDir("cat") + "/x/_idx/t", src.schema,
      sortKeys = Seq("k"), semantics = Append,
      indexCols = Seq("k"), minmaxCols = Seq("k")))
    cat.append("under_idx", src)
    cat.read("under_idx").count() shouldBe 1000L
    val (eq, kept, total) = cat.readPruned("under_idx", "k", 42L)
    total should be > 0
    kept should be > 0
    eq.filter(col("k") === 42L).count() shouldBe 1L
    val (range, _, _) = cat.readRangePruned("under_idx", "k", 10L, 19L)
    range.filter(col("k").between(10L, 19L)).count() shouldBe 10L
    cat.systemTables().filter(col("table") === "under_idx")
      .head().getAs[Long]("n_parts") shouldBe total.toLong
    cat.explainEstimate("under_idx").head()
      .getAs[Long]("files_total") shouldBe total.toLong
  }

  test("ALTER RENAME COLUMN: mixed storage reads one column; retires on compact; survives attach") {
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/rn"
    cat.createTable(TableDef("rn", path, replacingSchema, Seq("k"), Append))
    cat.append("rn", Seq(("a", 1L, 10L), ("b", 2L, 20L)).toDF("k", "v", "updated_at"))
    cat.renameColumn("rn", "v", "score")
    cat.get("rn").schema.fieldNames.toSeq shouldBe Seq("k", "score", "updated_at")
    // pre-rename files surface under the new name immediately
    cat.read("rn").orderBy("k").collect()
      .map(r => (r.getString(0), r.getAs[Long]("score"))) shouldBe
      Array(("a", 1L), ("b", 2L))
    // post-rename appends carry the new physical name; the merged read
    // spans BOTH storage generations as one column
    cat.append("rn", Seq(("c", 3L, 30L)).toDF("k", "score", "updated_at"))
    cat.read("rn").orderBy("k").collect()
      .map(_.getAs[Long]("score")) shouldBe Array(1L, 2L, 3L)
    // the mapping survives a restart: detach forgets, attach restores it
    // from the _TABLE sidecar — pre-rename files still read correctly
    cat.detach("rn")
    cat.attach(path)
    cat.read("rn").orderBy("k").collect()
      .map(_.getAs[Long]("score")) shouldBe Array(1L, 2L, 3L)
    // the old name is still a stored column name in un-rewritten files —
    // re-introducing it (by add or by rename) is refused until a compact
    an[IllegalArgumentException] should be thrownBy
      cat.addColumn("rn", StructField("v", LongType), 0L)
    an[IllegalArgumentException] should be thrownBy
      cat.renameColumn("rn", "updated_at", "v")
    // key/engine columns are not renameable
    an[IllegalArgumentException] should be thrownBy
      cat.renameColumn("rn", "k", "key2")
    // compact rewrites storage under the new name and retires the mapping
    cat.compact("rn")
    cat.readRaw("rn").schema.fieldNames should contain("score")
    cat.read("rn").orderBy("k").collect()
      .map(_.getAs[Long]("score")) shouldBe Array(1L, 2L, 3L)
    cat.addColumn("rn", StructField("v", LongType), 0L) // name free again
    cat.read("rn").filter(col("k") === "a").head()
      .getAs[Long]("v") shouldBe 0L
  }

  test("ALTER RENAME COLUMN: chained renames collapse to the physical stored name") {
    val cat = new Catalog(spark)
    cat.createTable(TableDef("rn2", tmpDir("cat") + "/rn2", replacingSchema,
      Seq("k"), Append))
    cat.append("rn2", Seq(("a", 1L, 10L)).toDF("k", "v", "updated_at"))
    cat.renameColumn("rn2", "v", "s1")
    cat.renameColumn("rn2", "s1", "s2")
    cat.read("rn2").head().getAs[Long]("s2") shouldBe 1L
  }

  test("ALTER DROP COLUMN: metadata-only narrow; name re-usable only after compact") {
    val cat = new Catalog(spark)
    cat.createTable(TableDef("dc", tmpDir("cat") + "/dc", replacingSchema,
      Seq("k"), Append))
    cat.append("dc", Seq(("a", 1L, 10L), ("b", 2L, 20L)).toDF("k", "v", "updated_at"))
    cat.dropColumn("dc", "v")
    cat.get("dc").schema.fieldNames.toSeq shouldBe Seq("k", "updated_at")
    cat.read("dc").columns should not contain "v"
    // appends in the narrowed shape work immediately
    cat.append("dc", Seq(("c", 30L)).toDF("k", "updated_at"))
    cat.read("dc").count() shouldBe 3
    // old files still carry v physically — re-adding it now would read
    // their stale stored values into the "new" column
    an[IllegalArgumentException] should be thrownBy
      cat.addColumn("dc", StructField("v", LongType), 0L)
    cat.compact("dc")
    cat.addColumn("dc", StructField("v", LongType), 5L)
    // the default fills — the dropped generation's data is never resurrected
    cat.read("dc").orderBy("k").collect()
      .map(_.getAs[Long]("v")) shouldBe Array(5L, 5L, 5L)
    an[IllegalArgumentException] should be thrownBy cat.dropColumn("dc", "k")
  }

  test("OPTIMIZE DEDUPLICATE: full-row and BY-subset dedup through the crash-safe rewrite") {
    val cat = new Catalog(spark)
    cat.createTable(TableDef("od", tmpDir("cat") + "/od", replacingSchema,
      Seq("k"), Append))
    val batch = Seq(("a", 1L, 10L), ("b", 2L, 20L)).toDF("k", "v", "updated_at")
    cat.append("od", batch)
    cat.append("od", batch) // full duplicate of every row
    cat.read("od").count() shouldBe 4
    cat.optimizeDeduplicate("od")
    cat.read("od").count() shouldBe 2
    cat.readRaw("od").count() shouldBe 2 // a storage rewrite, not a read view
    // BY-subset: one arbitrary survivor per key group
    cat.append("od", Seq(("a", 99L, 11L)).toDF("k", "v", "updated_at"))
    cat.optimizeDeduplicate("od", Seq("k"))
    cat.read("od").count() shouldBe 2
    an[IllegalArgumentException] should be thrownBy
      cat.optimizeDeduplicate("od", Seq("nope"))
  }

  test("minmax skip-index: range reads skip non-overlapping files, same answer") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val cat = new Catalog(spark)
      // sorted by k; minmax declared on ts — correlated with k but NOT
      // the sort key, so only the sidecar interval can prune files for a
      // ts range (the ClickHouse `INDEX … TYPE minmax` use case)
      val src = (0L until 16000L).map(i => (i, i * 10L, i % 97))
        .toDF("k", "ts", "v")
      cat.createTable(TableDef("mmx", tmpDir("cat") + "/mmx", src.schema,
        sortKeys = Seq("k"), semantics = Append, minmaxCols = Seq("ts")))
      cat.append("mmx", src)
      val (df, kept, total) = cat.readRangePruned("mmx", "ts", 50000L, 60000L)
      total should be >= 8
      kept should be < total // files actually skipped
      val got = df.filter(col("ts").between(50000L, 60000L))
      got.count() shouldBe 1001L // no false negatives
      val b = got.agg(min(col("k")), max(col("k"))).head()
      (b.getLong(0), b.getLong(1)) shouldBe ((5000L, 6000L))
      // open-ended bound: null = that side unbounded
      val (hi, keptHi, totalHi) = cat.readRangePruned("mmx", "ts", 159000L, null)
      keptHi should be < totalHi
      hi.filter(col("ts") >= 159000L).count() shouldBe 100L
      // a disjoint range prunes every file and returns empty
      val (none, keptNone, _) = cat.readRangePruned("mmx", "ts", 1000000L, 2000000L)
      keptNone shouldBe 0
      none.count() shouldBe 0L
      // appends keep the index current: new files get sidecars too
      cat.append("mmx", Seq((99999L, 999990L, 1L)).toDF("k", "ts", "v"))
      val (fresh, keptF, totalF) = cat.readRangePruned("mmx", "ts", 999990L, 999990L)
      keptF should be < totalF
      fresh.filter(col("ts") === 999990L).count() shouldBe 1L
      // undeclared column fails loudly, not with a silent full scan
      an[IllegalArgumentException] should be thrownBy
        cat.readRangePruned("mmx", "k", 0L, 1L)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("ALTER MODIFY COLUMN: lossless widening is metadata-only; lossy changes refused") {
    val cat = new Catalog(spark)
    val sch = StructType(Seq(
      StructField("k", StringType), StructField("v", IntegerType),
      StructField("f", FloatType)))
    cat.createTable(TableDef("mc", tmpDir("cat") + "/mc", sch, Seq("k"), Append))
    cat.append("mc", Seq(("a", 1, 1.5f), ("b", 2, 2.5f)).toDF("k", "v", "f"))
    cat.modifyColumnType("mc", "v", LongType)
    cat.modifyColumnType("mc", "f", DoubleType)
    // old narrow files widen inside the scan — no rewrite happened
    cat.read("mc").orderBy("k").collect()
      .map(r => (r.getLong(1), r.getDouble(2))) shouldBe
      Array((1L, 1.5), (2L, 2.5))
    // new appends carry the wide type; both generations read together
    cat.append("mc", Seq(("c", 3L, 3.5)).toDF("k", "v", "f"))
    cat.read("mc").agg(sum(col("v"))).head().getLong(0) shouldBe 6L
    // compact materializes storage at the wide PHYSICAL type
    cat.compact("mc")
    spark.read.parquet(cat.get("mc").path)
      .schema("v").dataType shouldBe LongType
    cat.read("mc").count() shouldBe 3
    // narrowing and lossy changes refused (long->double loses precision)
    an[IllegalArgumentException] should be thrownBy
      cat.modifyColumnType("mc", "v", IntegerType)
    an[IllegalArgumentException] should be thrownBy
      cat.modifyColumnType("mc", "v", DoubleType)
    an[IllegalArgumentException] should be thrownBy
      cat.modifyColumnType("mc", "k", LongType) // key column
  }

  test("minmax skip-index survives hostile values: NaN bounds and non-BMP strings fail open") {
    val cat = new Catalog(spark)
    val src = Seq((1L, 1.0, "a"), (2L, Double.NaN, "😀"))
      .toDF("k", "d", "s")
    cat.createTable(TableDef("mmh", tmpDir("cat") + "/mmh", src.schema,
      sortKeys = Seq("k"), semantics = Append, minmaxCols = Seq("d", "s")))
    cat.append("mmh", src) // must not throw despite the NaN max
    // the NaN-bounded file is marked unprunable ("none" sidecar), never
    // silently dropped — and never re-enters the unindexed set
    val (dfd, keptD, totalD) = cat.readRangePruned("mmh", "d", 0.5, 2.0)
    keptD shouldBe totalD
    dfd.filter(col("d").between(0.5, 2.0)).count() shouldBe 1L
    // string pruning orders by UTF-8 bytes like Spark itself, not UTF-16
    // code units: a probe above the surrogate range must NOT prune the
    // file whose max is a supplementary-plane string
    val (dfs, keptS, _) = cat.readRangePruned("mmh", "s", "�", null)
    keptS should be >= 1
    dfs.filter(col("s") >= "�").count() shouldBe 1L
    // a skip index on a partition key could never be built (the column
    // lives in directory names) — refused at declaration
    an[IllegalArgumentException] should be thrownBy
      cat.createTable(TableDef("mmp", tmpDir("cat") + "/mmp", src.schema,
        sortKeys = Seq("k"), semantics = Append, partitionKeys = Seq("s"),
        minmaxCols = Seq("s")))
  }

  test("attach restores ALTER defaults: added columns keep filling after a restart") {
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/ad"
    cat.createTable(TableDef("ad", path, replacingSchema, Seq("k"), Append))
    cat.append("ad", Seq(("a", 1L, 10L)).toDF("k", "v", "updated_at"))
    cat.addColumn("ad", StructField("score", LongType), 7L)
    val cat2 = new Catalog(spark) // fresh-process analog
    cat2.attach(path)
    // read-time default restored: the old part's absent column reads 7
    cat2.read("ad").head().getAs[Long]("score") shouldBe 7L
    // insert-time fill restored: an omitting batch still materializes it
    cat2.append("ad", Seq(("b", 2L, 20L)).toDF("k", "v", "updated_at"))
    cat2.read("ad").orderBy("k").collect()
      .map(_.getAs[Long]("score")) shouldBe Array(7L, 7L)
    // compact retires the READ default and persists the retirement: after
    // ANOTHER restart an explicitly stored NULL stays NULL
    cat2.compact("ad")
    val cat3 = new Catalog(spark)
    cat3.attach(path)
    cat3.update("ad", col("k") === "a", Map("score" -> lit(null)))
    cat3.read("ad").filter(col("k") === "a").head()
      .isNullAt(3) shouldBe true
  }

  test("re-attach at the same path is a no-op: live ALTER state survives") {
    import java.nio.file.Files
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/ra"
    cat.createTable(TableDef("ra", path, replacingSchema, Seq("k"), Append))
    cat.append("ra", Seq(("a", 1L, 10L)).toDF("k", "v", "updated_at"))
    cat.attach(path) // registers the sidecar-persisted def
    // live state advances past the last persisted sidecar: simulate a
    // lagging sidecar by adding a column AFTER deleting the sidecar, so a
    // re-attach that re-read it would resurrect the pre-ALTER state
    cat.addColumn("ra", StructField("score", LongType), 7L)
    val sidecar = new java.io.File(path, "_TABLE")
    val stale = Files.readAllBytes(sidecar.toPath)
    cat.detach("ra"); cat.attach(path) // persisted state round-trips
    Files.write(sidecar.toPath, stale) // now make the sidecar stale
    val again = cat.attach(path) // same name, same path: short-circuits
    again.schema.fieldNames should contain("score")
    // the read-time default was NOT overwritten by the stale sidecar
    cat.read("ra").head().getAs[Long]("score") shouldBe 7L
  }

  test("bloom skip-index declarations reject non-integral key types") {
    val cat = new Catalog(spark)
    val sch = StructType(Seq(StructField("k", StringType),
      StructField("score", DoubleType)))
    val ex = intercept[IllegalArgumentException] {
      cat.createTable(TableDef("bt", tmpDir("cat") + "/bt", sch,
        Seq("k"), Append, indexCols = Seq("score")))
    }
    ex.getMessage should include("minmaxCols")
    // the probe side refuses fractional values instead of truncating
    cat.createTable(TableDef("bt2", tmpDir("cat") + "/bt2", replacingSchema,
      Seq("k"), Append, indexCols = Seq("v")))
    cat.append("bt2", Seq(("a", 1L, 10L)).toDF("k", "v", "updated_at"))
    val pex = intercept[IllegalArgumentException] {
      cat.readPruned("bt2", "v", java.lang.Double.valueOf(1.5))
    }
    pex.getMessage should include("fractional")
  }

  test("mutation history: one marker file per mutation, listed in order") {
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/mh"
    cat.createTable(TableDef("mh", path, replacingSchema, Seq("k"), Append))
    cat.append("mh", Seq(("a", 1L, 10L), ("b", 2L, 20L)).toDF("k", "v", "updated_at"))
    cat.delete("mh", col("k") === "a")
    cat.update("mh", col("k") === "b", Map("v" -> lit(9L)))
    val hist = cat.systemMutations("mh").orderBy("seq").collect()
    hist.length shouldBe 2
    hist.map(_.getAs[String]("command")).head should include("DELETE")
    // marker-file layout: concurrent writers in other processes append
    // their own file instead of read-modify-writing a shared one
    new java.io.File(path + ".mutations").listFiles()
      .count(_.getName.startsWith("m_")) shouldBe 2
    // rapid-fire mutations land in ISSUE order even inside one
    // millisecond (the per-process seq in the marker name — a random
    // tiebreak would shuffle back-to-back ops about half the time)
    (0 until 6).foreach(i => cat.delete("mh", col("k") === s"none_$i"))
    val cmds = cat.systemMutations("mh").orderBy("seq").collect()
      .map(_.getAs[String]("command")).toSeq
    cmds.filter(_.contains("none_")) shouldBe
      (0 until 6).map(i => s"ALTER DELETE WHERE =(k, 'none_$i')")
  }

  test("mutation history: a legacy single-file layout migrates in place on the next mutation") {
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/mhl"
    cat.createTable(TableDef("mhl", path, replacingSchema, Seq("k"), Append))
    cat.append("mhl", Seq(("a", 1L, 10L)).toDF("k", "v", "updated_at"))
    // fabricate the pre-round-7 layout: ONE file holding the history
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path + ".mutations"),
      """{"ts_ms":1,"command":"legacy ALTER DELETE"}
        |{"ts_ms":2,"command":"legacy TTL"}
        |""".stripMargin)
    // a new mutation must MIGRATE the file to markers, not silently drop
    cat.delete("mhl", col("k") === "zzz")
    val hist = cat.systemMutations("mhl").orderBy("seq").collect()
      .map(_.getAs[String]("command")).toSeq
    hist shouldBe Seq("legacy ALTER DELETE", "legacy TTL",
      "ALTER DELETE WHERE =(k, 'zzz')")
    new java.io.File(path + ".mutations").isDirectory shouldBe true
  }

  test("readMerge: regex union with a truthful _table column; misuse is loud") {
    val cat = new Catalog(spark)
    val base = tmpDir("cat")
    Seq("mA", "mB").foreach { n =>
      cat.createTable(TableDef(n, s"$base/$n", replacingSchema, Seq("k"), Append))
    }
    cat.append("mA", Seq(("a", 1L, 1L)).toDF("k", "v", "updated_at"))
    cat.append("mB", Seq(("b", 2L, 1L)).toDF("k", "v", "updated_at"))
    val merged = cat.readMerge("m[AB]").orderBy("k").collect()
    merged.map(r => (r.getString(0), r.getAs[String]("_table"))) shouldBe
      Array(("a", "mA"), ("b", "mB"))
    // full-match semantics: the pattern must cover the whole name
    intercept[IllegalArgumentException](cat.readMerge("zzz.*"))
    // a mismatched member schema fails loudly, never null-fills
    cat.createTable(TableDef("mC", s"$base/mC",
      StructType(Seq(StructField("other", StringType))), Nil, Append))
    cat.append("mC", Seq(Tuple1("x")).toDF("other"))
    intercept[Exception](cat.readMerge("m[ABC]").collect())
  }

  private val collapsingSchema = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType),
    StructField("ver", LongType), StructField("sign", IntegerType)))

  test("Collapsing: paired cancel+state rows upsert and delete across batches") {
    val cat = new Catalog(spark)
    val t = TableDef("cl", tmpDir("cat") + "/cl", collapsingSchema,
      Seq("k"), Collapsing(Seq("k"), "sign", "ver"))
    cat.createTable(t)
    // initial states
    cat.append("cl", Seq(("a", 10L, 1L, 1), ("b", 20L, 1L, 1), ("c", 30L, 1L, 1))
      .toDF("k", "v", "ver", "sign"))
    // update a: cancel (exact copy, sign -1) + new state at ver 2;
    // delete c: cancel only
    cat.append("cl", Seq(("a", 10L, 1L, -1), ("a", 11L, 2L, 1), ("c", 30L, 1L, -1))
      .toDF("k", "v", "ver", "sign"))
    val live = cat.read("cl").filter(col("sign") > 0)
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    live shouldBe Array(("a", 11L), ("b", 20L))
    // the raw-storage aggregate trick: sum(v * sign) needs NO fold
    cat.readRaw("cl").agg(sum(col("v") * col("sign"))).head.getLong(0) shouldBe 31L
    // compact materializes the fold: storage drops to the two live rows
    cat.compact("cl")
    cat.readRaw("cl").count() shouldBe 2
    // fold is associative: same answer compact-then-cancel as cancel-then-read
    cat.append("cl", Seq(("b", 20L, 1L, -1)).toDF("k", "v", "ver", "sign"))
    cat.read("cl").filter(col("sign") > 0).collect()
      .map(_.getString(0)) shouldBe Array("a")
  }

  test("Collapsing: dangling cancels stay visible; bad signs and defs are refused") {
    val cat = new Catalog(spark)
    val t = TableDef("cl2", tmpDir("cat") + "/cl2", collapsingSchema,
      Seq("k"), Collapsing(Seq("k"), "sign", "ver"))
    cat.createTable(t)
    // cancel arrives BEFORE its state (reordered ingest): visible as -1
    cat.append("cl2", Seq(("x", 5L, 1L, -1)).toDF("k", "v", "ver", "sign"))
    cat.read("cl2").collect().map(_.getInt(3)) shouldBe Array(-1)
    // the late state lands and the pair cancels — even through a compact
    cat.compact("cl2")
    cat.append("cl2", Seq(("x", 5L, 1L, 1)).toDF("k", "v", "ver", "sign"))
    cat.read("cl2").count() shouldBe 0
    // sign outside ±1 fails the append loudly
    val err = intercept[Exception] {
      cat.append("cl2", Seq(("y", 1L, 1L, 3)).toDF("k", "v", "ver", "sign"))
    }
    err.getMessage should include("sign")
    // a def whose sign column is non-integral is refused at CREATE
    intercept[IllegalArgumentException] {
      cat.createTable(TableDef("clbad", tmpDir("cat") + "/clbad",
        StructType(Seq(StructField("k", StringType),
          StructField("sign", StringType), StructField("ver", LongType))),
        Seq("k"), Collapsing(Seq("k"), "sign", "ver")))
    }
    // the sidecar round-trips the engine: attach restores Collapsing
    val cat2 = new Catalog(spark)
    val restored = cat2.attach(t.path)
    restored.semantics shouldBe Collapsing(Seq("k"), "sign", "ver")
  }

  test("Join engine: deterministic ANY fold, joinGet defaults, compact, attach") {
    val cat = new Catalog(spark)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("label", StringType)))
    val t = TableDef("jt", tmpDir("cat") + "/jt", schema, Seq("k"),
      JoinAny(Seq("k")))
    cat.createTable(t)
    cat.append("jt", Seq((1L, "bravo"), (2L, "delta")).toDF("k", "label"))
    // duplicate key across appends AND within a batch: least value wins
    cat.append("jt", Seq((1L, "alpha"), (1L, "zulu"), (3L, "echo"))
      .toDF("k", "label"))
    cat.read("jt").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))) shouldBe
      Array((1L, "alpha"), (2L, "delta"), (3L, "echo"))
    // joinGet: hit → value, miss → type default '', orNull → null
    val probe = Seq(1L, 4L).toDF("id")
    val got = cat.joinGet("jt", probe, Seq(col("id")), "label")
      .orderBy("id").collect().map(_.getString(1))
    got shouldBe Array("alpha", "")
    val gotNull = cat.joinGet("jt", probe, Seq(col("id")), "label",
      orNull = true).orderBy("id").collect()
    gotNull.map(r => Option(r.getString(1))) shouldBe
      Array(Some("alpha"), None)
    // compact materializes the fold: storage drops to one row per key
    cat.compact("jt")
    cat.readRaw("jt").count() shouldBe 3
    // post-compact append still folds associatively (aaron < alpha)
    cat.append("jt", Seq((1L, "aaron")).toDF("k", "label"))
    cat.read("jt").filter(col("k") === 1L).head.getString(1) shouldBe "aaron"
    // sidecar round-trips the engine; joinGet on non-Join tables refused
    val restored = new Catalog(spark).attach(t.path)
    restored.semantics shouldBe JoinAny(Seq("k"))
    // value columns must be orderable — map type refused at CREATE
    intercept[IllegalArgumentException] {
      cat.createTable(TableDef("jtbad", tmpDir("cat") + "/jtbad",
        StructType(Seq(StructField("k", LongType),
          StructField("m", org.apache.spark.sql.types.MapType(
            StringType, LongType)))),
        Seq("k"), JoinAny(Seq("k"))))
    }
    // a Join table with no value column is useless — refused at CREATE
    intercept[IllegalArgumentException] {
      cat.createTable(TableDef("jtempty", tmpDir("cat") + "/jtempty",
        StructType(Seq(StructField("k", LongType))), Seq("k"),
        JoinAny(Seq("k"))))
    }
    // ...and the CREATE invariants hold across ALTER: an unorderable
    // added column and dropping the last value column are both refused
    // (either would brick the fold / the joinGet contract)
    intercept[IllegalArgumentException] {
      cat.addColumn("jt", StructField("m",
        org.apache.spark.sql.types.MapType(StringType, LongType)), null)
    }
    intercept[IllegalArgumentException] { cat.dropColumn("jt", "label") }
    // a second value column makes the first droppable again
    cat.addColumn("jt", StructField("w", LongType), 5L)
    cat.dropColumn("jt", "label")
    cat.joinGet("jt", probe, Seq(col("id")), "w")
      .orderBy("id").collect().map(_.getLong(1)) shouldBe Array(5L, 0L)
  }

  test("a staged snapshot tmp file never wedges listing, compaction, or DDL") {
    val cat = new Catalog(spark)
    val path = tmpDir("cat") + "/frzt"
    cat.createTable(TableDef("frzt", path, replacingSchema,
      Seq("k"), Append, layout = Versioned))
    cat.append("frzt", Seq(("a", 1L, 10L)).toDF("k", "v", "updated_at"))
    cat.freeze("frzt", "good")
    // simulate a freeze that crashed mid-write: stage file, not .json
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path + ".snapshots"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path + ".snapshots/bad.tmp.123"), "{trunc")
    cat.systemSnapshots("frzt").collect().map(_.getString(0)) shouldBe Array("good")
    cat.compact("frzt") // snapshotPins must not parse the stage file
    cat.read("frzt").collect().length shouldBe 1
  }

  test("CHECK constraints: a violating block is rejected whole; NULL passes") {
    val cat = new Catalog(spark)
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    cat.createTable(TableDef("ck", tmpDir("cat") + "/ck", schema,
      Seq("k"), Append,
      constraints = Seq("v_pos" -> "v > 0")))
    cat.append("ck", Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
    // one bad row fails the WHOLE block atomically: nothing lands
    val ex = intercept[Exception] {
      cat.append("ck", Seq(("c", 3L), ("d", -1L)).toDF("k", "v"))
    }
    ex.getMessage should include("v_pos")
    cat.read("ck").count() shouldBe 2
    // SQL CHECK semantics: a NULL-valued constraint passes
    cat.append("ck", Seq(("e", None: Option[Long])).toDF("k", "v"))
    cat.read("ck").count() shouldBe 3
  }

  test("CHECK constraints: unresolvable or non-boolean exprs refused at CREATE") {
    val cat = new Catalog(spark)
    val schema = StructType(Seq(StructField("k", StringType)))
    intercept[Exception] {
      cat.createTable(TableDef("ckbad", tmpDir("cat") + "/ckbad", schema,
        Seq("k"), Append, constraints = Seq("c" -> "no_such_col > 0")))
    }.getMessage should include("does not resolve")
    intercept[Exception] {
      cat.createTable(TableDef("ckbad2", tmpDir("cat") + "/ckbad2", schema,
        Seq("k"), Append, constraints = Seq("c" -> "length(k)")))
    }.getMessage should include("not boolean")
  }

  test("MATERIALIZED columns: computed at insert, stored, not insertable; " +
       "def survives attach") {
    val cat = new Catalog(spark)
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("v2", LongType)))
    val path = tmpDir("cat") + "/mat"
    cat.createTable(TableDef("mat", path, schema, Seq("k"), Append,
      constraints = Seq("v_pos" -> "v >= 0"),
      materializedCols = Seq("v2" -> "v * 2")))
    cat.append("mat", Seq(("a", 3L), ("b", 5L)).toDF("k", "v"))
    cat.read("mat").orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(2))) shouldBe
      Array(("a", 6L), ("b", 10L))
    // supplying the materialized column is refused (CH INSERT contract)
    intercept[Exception] {
      cat.append("mat", Seq(("c", 1L, 99L)).toDF("k", "v", "v2"))
    }.getMessage should include("MATERIALIZED")
    // the declaration round-trips through the _TABLE sidecar: a fresh
    // catalog's attach() keeps computing AND keeps checking
    val cat2 = new Catalog(spark)
    val t2 = cat2.attach(path)
    t2.materializedCols shouldBe Seq("v2" -> "v * 2")
    t2.constraints shouldBe Seq("v_pos" -> "v >= 0")
    cat2.append("mat", Seq(("c", 7L)).toDF("k", "v"))
    cat2.read("mat").orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(2))) shouldBe
      Array(("a", 6L), ("b", 10L), ("c", 14L))
    intercept[Exception] {
      cat2.append("mat", Seq(("d", -1L)).toDF("k", "v"))
    }
    cat2.read("mat").count() shouldBe 3
  }

  test("row policies: OR-combined per user, restrictive default, droppable") {
    val cat = new Catalog(spark)
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    cat.createTable(TableDef("rp", tmpDir("cat") + "/rp", schema,
      Seq("k"), Append))
    cat.append("rp", Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"))
    // no policies: everyone reads everything
    cat.readAs("rp", "alice").count() shouldBe 3
    cat.createRowPolicy("rp", "low", Seq("alice"), "v <= 1")
    cat.createRowPolicy("rp", "high", Seq("alice", "bob"), "v >= 3")
    // alice: OR of her two policies; bob: his one; carol: covered by
    // none on a policied table -> zero rows (CH restrictive default)
    cat.readAs("rp", "alice").collect().map(_.getString(0)).sorted shouldBe
      Array("a", "c")
    cat.readAs("rp", "bob").collect().map(_.getString(0)) shouldBe Array("c")
    cat.readAs("rp", "carol").count() shouldBe 0
    cat.systemRowPolicies().collect().map(r =>
      (r.getString(1), r.getString(2))) shouldBe
      Array(("low", "alice"), ("high", "alice,bob"))
    // duplicates and unresolvable/non-boolean predicates are refused
    intercept[Exception] {
      cat.createRowPolicy("rp", "low", Seq("dave"), "v > 0")
    }
    intercept[Exception] {
      cat.createRowPolicy("rp", "badcol", Seq("dave"), "nope > 0")
    }.getMessage should include("does not resolve")
    intercept[Exception] {
      cat.createRowPolicy("rp", "badtype", Seq("dave"), "v + 1")
    }.getMessage should include("not boolean")
    // dropping the last policy restores open reads
    cat.dropRowPolicy("rp", "low") shouldBe true
    cat.readAs("rp", "alice").collect().map(_.getString(0)) shouldBe Array("c")
    cat.dropRowPolicy("rp", "high") shouldBe true
    cat.dropRowPolicy("rp", "high") shouldBe false
    cat.readAs("rp", "carol").count() shouldBe 3
    // DROP TABLE forgets access-control state too: an unrelated NEW
    // table created under the same name starts open (detach keeps it —
    // re-attach of the SAME table must keep its policies)
    cat.createRowPolicy("rp", "low", Seq("alice"), "v <= 1")
    cat.readAs("rp", "carol").count() shouldBe 0
    cat.dropTable("rp")
    cat.createTable(TableDef("rp", tmpDir("cat") + "/rp2", schema,
      Seq("k"), Append))
    cat.append("rp", Seq(("z", 9L)).toDF("k", "v"))
    cat.readAs("rp", "carol").count() shouldBe 1
    cat.createRowPolicy("rp", "low", Seq("alice"), "v <= 1")
  }

  test("column grants/masks: per-user rewrite, restrictive default, pruning intact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cat = new Catalog(spark)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("secret", DoubleType)))
    cat.createTable(TableDef("cp", tmpDir("cat") + "/cp", schema,
      Seq("id"), Append))
    cat.append("cp", Seq((1L, "alice", 10.5), (2L, "bob", 20.5))
      .toDF("id", "name", "secret"))

    // mask validation at CREATE: unresolvable and uncastable both refused
    intercept[IllegalArgumentException] {
      cat.createColumnMask("cp", "u1", "name", "nosuchcol + 1")
    }.getMessage should include("does not resolve")
    intercept[IllegalArgumentException] {
      cat.createColumnMask("cp", "u1", "secret", "array(1, 2)")
    }.getMessage should include("not castable")
    intercept[IllegalArgumentException] {
      cat.grantColumns("cp", "u1", Seq("id", "nope"))
    }.getMessage should include("unknown column")

    cat.grantColumns("cp", "u1", Seq("id", "name"))
    cat.createColumnMask("cp", "u1", "name", "concat('u-', cast(id as string))")
    val r1 = cat.readAs("cp", "u1").orderBy(col("id")).collect()
    r1.map(_.getString(1)) shouldBe Array("u-1", "u-2") // masked
    all(r1.map(r => r.isNullAt(2))) shouldBe true       // ungranted -> NULL
    // schema stays the declared one for every user
    cat.readAs("cp", "u1").schema shouldBe cat.read("cp").schema

    // restrictive default: a user named by NO grant reads all-masked
    val r2 = cat.readAs("cp", "stranger").collect()
    r2.length shouldBe 2
    all(r2.map(r => r.isNullAt(1) && r.isNullAt(2))) shouldBe true

    // masking must not defeat scan pruning: a granted-columns-only query
    // reads neither the masked-out nor the ungranted column from storage
    val plan = cat.readAs("cp", "u1").select(col("id"))
      .queryExecution.executedPlan.toString
    plan should include("ReadSchema")
    plan.contains("secret") shouldBe false

    // revoke drops to the restrictive default (another user's grant keeps
    // the table grant-bearing); drop-mask restores the raw column
    cat.grantColumns("cp", "u2", Seq("id"))
    cat.revokeColumnGrants("cp", "u1") shouldBe true
    cat.readAs("cp", "u1").collect().forall(_.isNullAt(0)) shouldBe true
    cat.grantColumns("cp", "u1", Seq("id", "name"))
    cat.dropColumnMask("cp", "u1", "name") shouldBe true
    cat.readAs("cp", "u1").orderBy(col("id")).head().getString(1) shouldBe "alice"
    cat.systemColumnPolicies().collect().map(_.getString(1)) should contain("u1")
  }

  test("refreshable MV: interval schedule, atomic stale serving, error ledger") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cat = new Catalog(spark)
    val base = tmpDir("cat")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType)))
    cat.createTable(TableDef("rv_base", base + "/rv_base", schema,
      Seq("k"), Append, layout = Versioned))
    cat.createTable(TableDef("rv_sum", base + "/rv_sum",
      StructType(Seq(StructField("total", LongType))), Nil, Append,
      layout = Versioned))
    cat.append("rv_base", Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))

    // shape drift fails at CREATE, not at refresh
    intercept[IllegalArgumentException] {
      cat.createRefreshableView("rv_bad", "rv_sum", 1000L,
        _ => cat.read("rv_base")) // wrong shape
    }.getMessage should include("does not match")

    cat.createRefreshableView("rv_view", "rv_sum", 60000L,
      _ => cat.read("rv_base").agg(sum(col("v")).as("total")))
    // registered but never refreshed: stale, nothing materialized
    cat.systemViewRefreshes(0L).head().getAs[Boolean]("is_stale") shouldBe true
    cat.read("rv_sum").isEmpty shouldBe true

    val t0 = 5000000L
    cat.refreshView("rv_view", t0)
    cat.read("rv_sum").head().getLong(0) shouldBe 30L
    // base grows; an early poll refreshes NOTHING and readers keep the
    // prior version (the atomic-stale-serving contract)
    cat.append("rv_base", Seq((3L, 70L)).toDF("k", "v"))
    cat.refreshDueViews(t0 + 59999L) shouldBe empty
    cat.read("rv_sum").head().getLong(0) shouldBe 30L
    val row = cat.systemViewRefreshes(t0 + 59999L).head()
    row.getAs[Boolean]("is_stale") shouldBe false
    row.getAs[Long]("next_due_ms") shouldBe t0 + 60000L
    row.getAs[Long]("refreshes") shouldBe 1L
    // the due poll swaps in the full recompute
    cat.refreshDueViews(t0 + 60000L) shouldBe Seq("rv_view")
    cat.read("rv_sum").head().getLong(0) shouldBe 100L

    // a failing recompute records the error and leaves the target intact
    cat.createRefreshableView("rv_boom", "rv_sum", 60000L,
      _ => cat.read("rv_base")
        .select(raise_error(lit("refresh exploded")).cast("long").as("total")))
    intercept[Exception] { cat.refreshView("rv_boom", t0 + 61000L) }
    cat.read("rv_sum").head().getLong(0) shouldBe 100L
    val boom = cat.systemViewRefreshes(t0 + 61000L).collect()
      .find(_.getAs[String]("view") == "rv_boom").get
    boom.getAs[String]("last_error") should include("refresh exploded")
    boom.getAs[Long]("refreshes") shouldBe 0L
    // ...and a failing due view does not starve healthy ones
    cat.refreshDueViews(t0 + 130000L) shouldBe Seq("rv_view")

    cat.dropRefreshableView("rv_boom") shouldBe true
    cat.dropRefreshableView("rv_boom") shouldBe false
  }

  test("MATERIALIZED exprs must resolve over base columns and cast to the " +
       "declared type") {
    val cat = new Catalog(spark)
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("m", LongType)))
    intercept[Exception] {
      cat.createTable(TableDef("matbad", tmpDir("cat") + "/matbad", schema,
        Seq("k"), Append, materializedCols = Seq("m" -> "m + 1")))
    }.getMessage should include("does not resolve") // self-reference: m is
    // excluded from the base frame, so this fails like any missing column
    intercept[Exception] {
      cat.createTable(TableDef("matbad2", tmpDir("cat") + "/matbad2", schema,
        Seq("k"), Append, materializedCols = Seq("m" -> "array(1, 2)")))
    }.getMessage should include("not castable")
  }
}
