package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.sources.{GitImporter, TsvIngest}
import graft.schema.GitSchemas

/** The reference ingest contract (SURVEY.md §3.1): typed TSV projection,
  * watermark incremental append, replay idempotence (the ReplacingMergeTree
  * invariant), Enum8 validation.
  */
class IngestSpec extends SparkSpecBase {

  private def commitRow(hash: String, time: String, author: String = "alice"): String =
    (Seq(hash, author, time, s"msg $hash") ++ Seq.fill(9)("1")).mkString("\t")

  private def fileChangeRow(change: String, path: String, hash: String, time: String): String =
    (Seq(change, path, "", "scala") ++ Seq.fill(5)("3") ++
      Seq(hash, "bob", time, "m") ++ Seq.fill(9)("4")).mkString("\t")

  private def lineChangeRow(n: Int, hash: String, time: String): String =
    (Seq("1", "10", n.toString, "1", "5", "6", "2", "1", "ctx", s"line $n", "2", "Code",
      "prevh", "carol", "2024-02-01 01:01:01", "Modify", "src/a.scala", "", "scala") ++
      Seq.fill(5)("7") ++ Seq(hash, "bob", time, "m") ++ Seq.fill(9)("8")).mkString("\t")

  private def writeTsv(dir: String, name: String, rows: Seq[String]): String = {
    val p = Paths.get(dir, name)
    Files.writeString(p, rows.mkString("", "\n", "\n"))
    p.toString
  }

  /** A table's data files: the `.parquet` files outside hidden (`_`/`.`) entries. */
  private def dataFiles(imp: GitImporter, table: String): Seq[String] = {
    val root = Paths.get(imp.catalog.get(table).path)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.map(root.relativize(_)).filter { rel =>
        rel.toString.endsWith(".parquet") &&
          rel.iterator().asScala.forall(c => !c.toString.startsWith("_") && !c.toString.startsWith("."))
      }.map(root.resolve(_).toString).toList
      finally s.close()
    }
  }

  /** A table's rows as sorted text, without the ingest-time `updated_at`. */
  private def contents(imp: GitImporter, table: String): Seq[String] =
    imp.catalog.read(table).drop("updated_at").collect().map(_.mkString("|")).toSeq.sorted

  test("typed projection yields declared names and types") {
    val dir = tmpDir("ingest")
    writeTsv(dir, "commits.tsv", Seq(
      commitRow("aaa", "2024-01-01 10:00:00"),
      commitRow("bbb", "1704103200"))) // epoch-seconds form of 2024-01-01 10:00
    val imp = new GitImporter(spark, tmpDir("wh"))
    imp.importRepo("acme/repo", dir)
    val df = imp.catalog.read("commits")
    df.schema.fieldNames.take(4) shouldBe Array("hash", "author", "time", "message")
    df.schema("time").dataType.typeName shouldBe "timestamp"
    df.schema("lines_added").dataType.typeName shouldBe "long"
    val times = df.select("time").collect().map(_.getTimestamp(0).toString).sorted
    times shouldBe Array("2024-01-01 10:00:00.0", "2024-01-01 10:00:00.0")
    df.filter(col("repo_name") === "acme/repo").count() shouldBe 2
  }

  test("replay of the same TSV is a no-op (idempotent re-import, T1/T2)") {
    val dir = tmpDir("ingest")
    writeTsv(dir, "commits.tsv", Seq(
      commitRow("aaa", "2024-01-01 10:00:00"),
      commitRow("bbb", "2024-01-02 10:00:00")))
    val imp = new GitImporter(spark, tmpDir("wh"))
    val first = imp.importRepo("acme/repo", dir)
    first("commits") shouldBe 2
    val second = imp.importRepo("acme/repo", dir) // strict '>' watermark drops all
    second("commits") shouldBe 0
    imp.catalog.read("commits").count() shouldBe 2
  }

  test("incremental import ingests only rows past the high-water mark (T1)") {
    val dir = tmpDir("ingest")
    writeTsv(dir, "commits.tsv", Seq(commitRow("aaa", "2024-01-01 10:00:00")))
    val imp = new GitImporter(spark, tmpDir("wh"))
    imp.importRepo("acme/repo", dir)
    // extended history: old row re-emitted + one new commit
    writeTsv(dir, "commits.tsv", Seq(
      commitRow("aaa", "2024-01-01 10:00:00"),
      commitRow("ccc", "2024-03-01 10:00:00")))
    val n = imp.importRepo("acme/repo", dir)
    n("commits") shouldBe 1
    imp.catalog.read("commits").select("hash").collect().map(_.getString(0)).sorted shouldBe
      Array("aaa", "ccc")
  }

  test("watermarks are per-repo: one repo's history does not gate another's") {
    val dir1 = tmpDir("r1"); val dir2 = tmpDir("r2")
    writeTsv(dir1, "commits.tsv", Seq(commitRow("aaa", "2024-06-01 10:00:00")))
    writeTsv(dir2, "commits.tsv", Seq(commitRow("bbb", "2024-01-01 10:00:00")))
    val imp = new GitImporter(spark, tmpDir("wh"))
    imp.importRepo("acme/one", dir1)
    val n = imp.importRepo("acme/two", dir2) // earlier time, different repo
    n("commits") shouldBe 1
  }

  test("property: incremental re-import of a growing history converges to one-shot import") {
    // the reference's real pattern: git-import re-emits the FULL history
    // TSV on every run; the watermark must make any prefix-then-full replay
    // sequence equivalent to importing the final history once. Random
    // histories via scalacheck Gen, fixed seeds.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val histGen = Gen.listOfN(30, for {
      h <- Gen.listOfN(8, Gen.alphaNumChar).map(_.mkString)
      day <- Gen.chooseNum(1, 28)
      hour <- Gen.chooseNum(0, 23)
    } yield commitRow(h, f"2024-03-$day%02d $hour%02d:00:00"))
    (1 to 3).foreach { seed =>
      val rows = histGen.apply(Gen.Parameters.default, Seed(seed.toLong)).get.distinct
      val sortedByTime = rows.sortBy(_.split("\t")(2))
      // cut strictly between timestamps: rows sharing the boundary second
      // would otherwise be dropped by the strict '>' watermark — the same
      // same-second re-read semantics the reference has (importer.py:107)
      val cutoff = sortedByTime(rows.size / 2).split("\t")(2)
      val prefix = sortedByTime.filter(_.split("\t")(2) < cutoff)

      val dirA = tmpDir("prop-a"); val impA = new GitImporter(spark, tmpDir("wh-a"))
      writeTsv(dirA, "commits.tsv", prefix)
      impA.importRepo("p/r", dirA)
      writeTsv(dirA, "commits.tsv", sortedByTime) // full history re-emitted
      impA.importRepo("p/r", dirA)
      impA.importRepo("p/r", dirA)                // pure replay: no-op

      val dirB = tmpDir("prop-b"); val impB = new GitImporter(spark, tmpDir("wh-b"))
      writeTsv(dirB, "commits.tsv", sortedByTime)
      impB.importRepo("p/r", dirB)

      def snap(imp: GitImporter) = imp.catalog.read("commits")
        .select("hash", "time").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString)).toSet
      withClue(s"seed $seed: ") {
        snap(impA) shouldBe snap(impB)
      }
    }
  }

  test("Enum8 validation rejects undeclared values (F1 check constraint)") {
    val dir = tmpDir("ingest")
    val goodTail = (Seq("a.txt", "", "txt") ++ Seq.fill(5)("1") ++
      Seq("hash1", "alice", "2024-01-01 10:00:00", "msg") ++ Seq.fill(9)("2")).mkString("\t")
    writeTsv(dir, "file_changes.tsv", Seq(s"Add\t$goodTail", s"Banana\t$goodTail"))
    val imp = new GitImporter(spark, tmpDir("wh"))
    val e = intercept[Exception] { imp.importRepo("acme/repo", dir) }
    e.getMessage should include("invalid Enum8 value")
  }

  test("file_changes and line_changes ingest through their full-width schemas") {
    val dir = tmpDir("ingest")
    val fc = (Seq("Modify", "src/a.scala", "", "scala") ++ Seq.fill(5)("3") ++
      Seq("h1", "bob", "2024-02-02 02:02:02", "m") ++ Seq.fill(9)("4")).mkString("\t")
    writeTsv(dir, "file_changes.tsv", Seq(fc))
    val lc = (Seq("1", "10", "11", "1", "5", "6", "2", "1", "ctx", "val x = 1", "2", "Code",
      "prevh", "carol", "2024-02-01 01:01:01", "Modify", "src/a.scala", "", "scala") ++
      Seq.fill(5)("7") ++ Seq("h1", "bob", "2024-02-02 02:02:02", "m") ++
      Seq.fill(9)("8")).mkString("\t")
    writeTsv(dir, "line_changes.tsv", Seq(lc))
    val imp = new GitImporter(spark, tmpDir("wh"))
    val n = imp.importRepo("acme/repo", dir)
    n("file_changes") shouldBe 1
    n("line_changes") shouldBe 1
    val row = imp.catalog.read("line_changes").head()
    row.getAs[Byte]("sign") shouldBe 1
    row.getAs[String]("line_type") shouldBe "Code"
    row.getAs[Long]("line_number_new") shouldBe 11L
  }

  test("an empty TSV is zero rows for its table, not a failed import") {
    val dir = tmpDir("ingest")
    writeTsv(dir, "commits.tsv", Seq(commitRow("aaa", "2024-01-01 10:00:00")))
    Files.writeString(Paths.get(dir, "file_changes.tsv"), "")
    val imp = new GitImporter(spark, tmpDir("wh"))
    val n = imp.importRepo("acme/repo", dir)
    n("file_changes") shouldBe 0
    n("commits") shouldBe 1
    imp.catalog.read("commits").select("hash").collect().map(_.getString(0)) shouldBe Array("aaa")
    imp.catalog.read("file_changes").count() shouldBe 0
  }

  test("a failed table load fails the import only after its sibling loads end; " +
       "re-importing the fixed TSVs converges to a one-shot import") {
    val dir = tmpDir("ingest")
    val commitRows = (1 to 3).map(i => commitRow(s"h$i", s"2024-02-0$i 02:02:02"))
    val goodChanges = (1 to 3).map(i => fileChangeRow("Modify", "src/a.scala", s"h$i", s"2024-02-0$i 02:02:02"))
    val lineRows = (1 to 40).map(i => lineChangeRow(i, "h1", "2024-02-01 02:02:02"))
    writeTsv(dir, "commits.tsv", commitRows)
    writeTsv(dir, "file_changes.tsv",
      goodChanges :+ fileChangeRow("Banana", "src/b.scala", "h3", "2024-02-03 02:02:02"))
    writeTsv(dir, "line_changes.tsv", lineRows)
    val imp = new GitImporter(spark, tmpDir("wh"))
    val e = intercept[Exception] { imp.importRepo("acme/repo", dir) }
    e.getMessage should include("invalid Enum8 value")
    // the failure arrives only once line_changes (listed after the failing
    // table) has ended: it already holds every row
    imp.catalog.read("line_changes").count() shouldBe lineRows.size
    imp.catalog.read("file_changes").count() shouldBe 0

    writeTsv(dir, "file_changes.tsv", goodChanges)
    imp.importRepo("acme/repo", dir)
    val oneShot = new GitImporter(spark, tmpDir("wh-one"))
    oneShot.importRepo("acme/repo", dir)
    Seq("commits", "file_changes", "line_changes").foreach { t =>
      withClue(s"$t: ") { contents(imp, t) shouldBe contents(oneShot, t) }
    }
    contents(imp, "file_changes") should have size goodChanges.size
  }

  test("a small import writes one sorted data file per table") {
    val dir = tmpDir("ingest")
    writeTsv(dir, "commits.tsv", (1 to 50).map(i => commitRow(f"c$i%03d", f"2024-01-01 10:$i%02d:00")))
    writeTsv(dir, "file_changes.tsv",
      (1 to 50).map(i => fileChangeRow("Add", s"f$i.scala", f"c$i%03d", f"2024-01-01 10:$i%02d:00")))
    writeTsv(dir, "line_changes.tsv", (1 to 50).map(i => lineChangeRow(i, "c001", "2024-01-01 10:01:00")))
    val imp = new GitImporter(spark, tmpDir("wh"))
    val tables = Seq("commits", "file_changes", "line_changes")
    imp.importRepo("acme/repo", dir) shouldBe tables.map(_ -> 50L).toMap
    tables.foreach(t => withClue(s"$t: ") { dataFiles(imp, t) should have size 1 })
    // a refresh adds exactly one more file per table
    writeTsv(dir, "commits.tsv", Seq(commitRow("d001", "2024-01-02 10:00:00")))
    writeTsv(dir, "file_changes.tsv", Seq(fileChangeRow("Add", "g.scala", "d001", "2024-01-02 10:00:00")))
    writeTsv(dir, "line_changes.tsv", Seq(lineChangeRow(1, "d001", "2024-01-02 10:00:00")))
    imp.importRepo("acme/repo", dir) shouldBe tables.map(_ -> 1L).toMap
    tables.foreach(t => withClue(s"$t: ") { dataFiles(imp, t) should have size 2 })
  }

  test("a small import runs one job per table for its mark and one for its write; so does its refresh") {
    val sc = spark.sparkContext
    val dir = tmpDir("ingest")
    def load(hash: String => String, times: Seq[String]): Unit = {
      val hs = times.indices.map(i => hash(f"$i%03d"))
      writeTsv(dir, "commits.tsv", hs.zip(times).map { case (h, t) => commitRow(h, t) })
      writeTsv(dir, "file_changes.tsv",
        hs.zip(times).map { case (h, t) => fileChangeRow("Add", s"$h.scala", h, t) })
      writeTsv(dir, "line_changes.tsv",
        hs.zip(times).zipWithIndex.map { case ((h, t), i) => lineChangeRow(i, h, t) })
    }
    val imp = new GitImporter(spark, tmpDir("wh"))
    // another repository first: every table holds data files when the
    // measured import reads its high-water marks
    load(h => s"o$h", Seq("2024-01-01 09:00:00"))
    imp.importRepo("acme/other", dir)
    load(h => s"c$h", (1 to 40).map(i => f"2024-01-01 10:$i%02d:00"))
    val importJobs = org.apache.spark.JobTagsOf(sc) { imp.importRepo("acme/repo", dir) }
    // the refresh re-sends half the old rows (dropped by the mark) and adds new ones
    load(h => s"d$h", (21 to 40).map(i => f"2024-01-01 10:$i%02d:00") ++
      (1 to 20).map(i => f"2024-01-02 10:$i%02d:00"))
    val refreshJobs = org.apache.spark.JobTagsOf(sc) { imp.importRepo("acme/repo", dir) }
    importJobs should have size 6
    refreshJobs should have size 6
    Seq("commits", "file_changes", "line_changes").foreach { t =>
      withClue(s"$t: ") {
        imp.catalog.read(t).filter(col("repo_name") === "acme/repo").count() shouldBe 60
      }
    }
  }

  test("a TSV several times graft.append.partBytes still writes several range-sorted files") {
    val dir = tmpDir("ingest")
    val rows = (1 to 200).map(i => commitRow(f"c$i%04d", f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"))
    // every fifth key sent again at the end of the file: the exchange path
    // collapses duplicates that land in different scan ranges
    val resent = rows.zipWithIndex.collect { case (r, i) if i % 5 == 0 => r }
    val tsvBytes = Files.size(Paths.get(writeTsv(dir, "commits.tsv", rows ++ resent)))
    val partBytes = tsvBytes / 6
    val imp = new GitImporter(spark, tmpDir("wh"))
    spark.conf.set("graft.append.partBytes", partBytes.toString)
    try imp.importRepo("acme/repo", dir)("commits") shouldBe 200L
    finally spark.conf.unset("graft.append.partBytes")
    val files = dataFiles(imp, "commits")
    files.size should be >= 3
    // each file is sorted on the sort key and the files' key ranges are disjoint
    val keysPerFile = files.map { f =>
      spark.read.parquet(f).select("time", "hash").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1))).toSeq
    }.filter(_.nonEmpty).sortBy(_.head)
    keysPerFile.foreach(ks => ks shouldBe ks.sorted)
    keysPerFile.sliding(2).foreach {
      case Seq(a, b) => Ordering[(Long, String)].lt(a.last, b.head) shouldBe true
      case _ => ()
    }
    keysPerFile.map(_.size).sum shouldBe 200
    keysPerFile.flatten.distinct should have size 200
  }

  test("a one-part TSV whose duplicate keys sit far apart dedups like the exchange path") {
    val dir = tmpDir("ingest")
    val rows = (1 to 300).map(i => commitRow(f"c$i%04d", f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"))
    // the first and last rows of the file repeat keys from the other end
    writeTsv(dir, "commits.tsv", rows.takeRight(3) ++ rows ++ rows.take(3))
    val onePart = new GitImporter(spark, tmpDir("wh"))
    onePart.importRepo("acme/repo", dir)("commits") shouldBe 300L
    val ranged = new GitImporter(spark, tmpDir("wh"))
    spark.conf.set("graft.append.partBytes", "4096")
    try ranged.importRepo("acme/repo", dir)("commits") shouldBe 300L
    finally spark.conf.unset("graft.append.partBytes")
    dataFiles(onePart, "commits") should have size 1
    dataFiles(ranged, "commits").size should be > 1
    contents(onePart, "commits") shouldBe contents(ranged, "commits")
    contents(onePart, "commits").distinct should have size 300
  }

  test("the high-water mark over files larger than graft.append.partBytes equals the one-partition mark") {
    val imp = new GitImporter(spark, tmpDir("wh"))
    Seq("acme/one" -> 1, "acme/two" -> 2, "acme/one" -> 3).foreach { case (repo, day) =>
      val dir = tmpDir("ingest")
      writeTsv(dir, "commits.tsv", (1 to 50).map(i =>
        commitRow(f"$day-$i%03d", f"2024-01-0$day 10:$i%02d:00")))
      imp.importRepo(repo, dir)
    }
    val onePart = Seq("acme/one", "acme/two", "acme/none")
      .map(r => TsvIngest.highWaterMark(imp.catalog, "commits", r))
    val tableBytes = dataFiles(imp, "commits").map(f => Files.size(Paths.get(f))).sum
    spark.conf.set("graft.append.partBytes", (tableBytes / 4).toString)
    val ranged =
      try Seq("acme/one", "acme/two", "acme/none")
        .map(r => TsvIngest.highWaterMark(imp.catalog, "commits", r))
      finally spark.conf.unset("graft.append.partBytes")
    ranged shouldBe onePart
    onePart.map(_.map(_.toString)) shouldBe
      Seq(Some("2024-01-03 10:50:00.0"), Some("2024-01-02 10:50:00.0"), None)
  }

  test("importRepo's concurrent loads carry the caller's job tag on every job") {
    val sc = spark.sparkContext
    val imp = new GitImporter(spark, tmpDir("wh"))
    // twice, with different tags: a reused thread holding the first call's
    // copy of the local properties cannot pass the second
    Seq("graft-import-a", "graft-import-b").zipWithIndex.foreach { case (tag, i) =>
      val dir = tmpDir("ingest")
      val time = s"2024-03-0${i + 1} 10:00:00"
      writeTsv(dir, "commits.tsv", Seq(commitRow(s"t$i", time)))
      writeTsv(dir, "file_changes.tsv", Seq(fileChangeRow("Add", "a.scala", s"t$i", time)))
      writeTsv(dir, "line_changes.tsv", Seq(lineChangeRow(1, s"t$i", time)))
      sc.addJobTag(tag)
      val tags =
        try org.apache.spark.JobTagsOf(sc) { imp.importRepo("acme/repo", dir) }
        finally sc.removeJobTag(tag)
      withClue(s"$tag: ") {
        tags should not be empty
        all(tags) should contain(tag)
      }
    }
  }
}
