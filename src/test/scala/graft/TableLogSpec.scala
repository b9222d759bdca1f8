package graft

import java.io.IOException
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog._

/** The table log's one commit step and what a crash at any point of a
  * commit leaves behind.
  */
class TableLogSpec extends SparkSpecBase {
  import spark.implicits._

  /** 4 threads race `rounds` rounds to publish one fresh name each; the
    * rounds without exactly one winner whose body the file holds intact.
    */
  private def racedRounds(f: FileSystem, dir: String, rounds: Int)(
      publish: (Path, Array[Byte]) => Boolean): Int = {
    val threads = 4
    val pool = Executors.newFixedThreadPool(threads)
    try (0 until rounds).count { r =>
      val dst = new Path(s"$dir/r$r.json")
      val barrier = new CyclicBarrier(threads)
      val bodies = (0 until threads).map(i => Array.fill[Byte](64 * 1024)(('a' + i).toByte))
      val wins = (0 until threads).map { i =>
        pool.submit(() => { barrier.await(); publish(dst, bodies(i)) })
      }.map(_.get(60, TimeUnit.SECONDS))
      // a torn body can also fail its checksum: that is a lost round too
      val held =
        try { val in = f.open(dst); try in.readAllBytes() finally in.close() }
        catch { case _: IOException => Array.emptyByteArray }
      !(wins.count(identity) == 1 && java.util.Arrays.equals(held, bodies(wins.indexOf(true))))
    } finally pool.shutdownNow()
  }

  test("publish: of 4 racing writers exactly one wins each of 500 rounds, its body intact") {
    val dir = tmpDir("publish")
    val f = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    racedRounds(f, dir, 500)((p, b) => TableLog.publish(f, p, b)) shouldBe 0
    // the same race catches Hadoop's create(p, false), an existence check
    // followed by a truncating open: it lets more than one writer win
    val naive = tmpDir("publish-create")
    racedRounds(f, naive, 500) { (p, b) =>
      try {
        val out = f.create(p, false)
        try out.write(b) finally out.close()
        true
      } catch { case _: IOException => false }
    } should be > 0
  }

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType),
    StructField("updated_at", LongType)))

  private def copyTree(from: String, to: String): Unit = {
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get(from)
    java.nio.file.Files.walk(src).iterator().asScala.toSeq.foreach { p =>
      val d = java.nio.file.Paths.get(to).resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(d)
      else java.nio.file.Files.copy(p, d)
    }
  }

  /** Table `crash` and table `dst` (for MOVE PARTITION) under `root`. */
  private def register(root: String, sem: EngineSemantics, parts: Seq[String],
                       projections: Seq[ProjectionSpec] = Nil): Catalog = {
    val cat = new Catalog(spark)
    Seq("crash", "dst").foreach(n => cat.createTable(TableDef(n, s"$root/$n", schema, Seq("k"),
      sem, partitionKeys = parts, projections = if (n == "crash") projections else Nil)))
    cat
  }

  /** An aggregate projection over `k` summing `v` and a sorted one on `v`. */
  private val twoProjections =
    Seq(AggProjection("by_k", Seq("k"), Seq("v")), SortProjection("by_v", "v"))

  /** A fresh process's catalog of the two tables, each registered from
    * the definition its log holds.
    */
  private def open(root: String): Catalog = {
    val cat = new Catalog(spark)
    Seq("crash", "dst").foreach(n => cat.attach(s"$root/$n"))
    cat
  }

  /** What a fresh process sees: `crash`'s definition, merged rows, raw
    * rows and snapshot tags, `dst`'s rows and the rows `crash` has
    * detached — and, for a table with [[twoProjections]], the companions
    * its live scan carries, a per-`k` count and sum and a lookup on `v`,
    * each checked against the same answer computed from the base rows.
    */
  private def observe(root: String): Seq[Seq[String]] = {
    val cat = open(root)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.mkString(":")).toSeq.sorted
    val detached = s"$root/crash.detached"
    val base = cat.read("crash").collect().toSeq
    val answered =
      if (cat.get("crash").projections.isEmpty) Nil
      else {
        val byK = rows(cat.read("crash").groupBy(col("k")).agg(count(lit(1)), sum(col("v"))))
        val lookup = rows(cat.read("crash").filter(col("v") === 2L))
        withClue("projection-answered vs base-scan answers: ") {
          byK shouldBe base.groupBy(_.getString(0)).toSeq
            .map { case (k, rs) => s"$k:${rs.size}:${rs.map(_.getLong(1)).sum}" }.sorted
          lookup shouldBe base.filter(_.getLong(1) == 2L).map(_.mkString(":")).sorted
        }
        val carried = cat.read("crash").queryExecution.analyzed
          .collect { case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r.relation }
          .collect { case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation => h.location }
          .collect { case l: LogFileIndex => l.companions.map(_.spec.name) }.flatten.sorted
        Seq(carried, byK, lookup)
      }
    Seq(Seq(org.json4s.jackson.JsonMethods.compact(TableDefJson.render(cat.get("crash")))),
      rows(cat.read("crash")), rows(cat.readRaw("crash")),
      cat.systemSnapshots("crash").collect().map(_.getString(0)).toSeq, rows(cat.read("dst")),
      if (!new java.io.File(detached).exists()) Nil
      else rows(spark.read.schema("k STRING, v BIGINT").option("recursiveFileLookup", "true")
        .parquet(detached))) ++ answered
  }

  /** For every N, run `op` on a copy of the tables `setup` built, with the
    * N-th and every later mutating filesystem call failing (a crash at that
    * point); a fresh Catalog must then see the tables exactly as before or
    * exactly as after `op`, and a second one the same again.
    */
  private def crashPrefixes(name: String, sem: EngineSemantics, parts: Seq[String] = Nil,
                            projections: Seq[ProjectionSpec] = Nil)(
      setup: Catalog => Unit)(op: Catalog => Unit): Unit = {
    val base = tmpDir(s"crash-$name")
    val template = s"$base/template"
    setup(register(template, sem, parts, projections))
    val before = observe(template)
    def run(path: String, failAt: Long): Boolean = {
      copyTree(template, path)
      val cat = open(path)
      CrashingFs.arm(failAt)
      spark.conf.set("fs.file.impl", classOf[CrashingFs].getName)
      spark.conf.set("fs.file.impl.disable.cache", "true")
      try { op(cat); true }
      catch { case scala.util.control.NonFatal(_) => false }
      finally {
        spark.conf.unset("fs.file.impl")
        spark.conf.unset("fs.file.impl.disable.cache")
        CrashingFs.failAt = Long.MaxValue
      }
    }
    run(s"$base/full", Long.MaxValue) shouldBe true
    val calls = CrashingFs.calls.get
    val after = observe(s"$base/full")
    after should not be before
    info(s"$name: $calls mutating calls")
    (1L to calls).foreach { n =>
      val path = s"$base/n$n"
      run(path, n)
      val seen = observe(path)
      withClue(s"$name, crash at mutating call $n of $calls: ") {
        Seq(before, after) should contain(seen)
        observe(path) shouldBe seen
      }
    }
  }

  private def batch(rows: (String, Long, Long)*) = rows.toDF("k", "v", "updated_at")

  test("a crash at any filesystem call of an append leaves the table before or after it") {
    crashPrefixes("append", Append)(_.append("crash", batch(("a", 1L, 1L))))(
      _.append("crash", batch(("b", 2L, 1L))))
  }

  test("a crash at any filesystem call of an append to a table with projections leaves the table and its companions before or after it") {
    crashPrefixes("append-projections", Append, projections = twoProjections)(
      _.append("crash", batch(("a", 1L, 1L), ("b", 2L, 1L))))(
      _.append("crash", batch(("b", 2L, 2L), ("c", 3L, 1L))))
  }

  test("a crash at any filesystem call of a mutation of a table with projections leaves the table and its companions before or after it") {
    crashPrefixes("mutate-projections", Append, projections = twoProjections) { c =>
      c.append("crash", batch(("a", 1L, 1L), ("b", 2L, 1L)))
      c.append("crash", batch(("b", 2L, 2L), ("c", 3L, 1L)))
    }(_.delete("crash", col("k") === "a"))
  }

  test("a commit derived from a head three commits old fails naming the table; no row of it is read") {
    val root = tmpDir("behind")
    val cat = register(root, Append, Nil)
    cat.append("crash", batch(("a", 1L, 1L)))
    val f = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val stale = new TableLog(f, s"$root/crash", Nil)
    val read = stale.head()
    val other = open(root)
    (2 to 4).foreach(i => other.append("crash", batch((s"k$i", i.toLong, 1L))))
    val dir = stale.stage("c")
    batch(("z", 9L, 1L)).write.parquet(dir.toString)
    val files = stale.written(dir)._2
    val e = intercept[IllegalStateException] {
      stale.commit("crash", Some(read))(h => Some(h.copy(files = h.files ++ files)))
    }
    e.getMessage should include("crash")
    open(root).read("crash").collect().map(_.getString(0)).sorted shouldBe
      Array("a", "k2", "k3", "k4")
    // an entry that adds no file (an ALTER, a mutation record) is caught too
    val alter = intercept[IllegalStateException] {
      stale.commit("crash", Some(read))(h =>
        Some(h.copy(mutations = h.mutations :+ LogMutation(0L, "stale"))))
    }
    alter.getMessage should include("crash")
    stale.head().mutations.map(_.command) should not contain "stale"
  }

  test("a commit that three other commits follow before it lists the log stands; its rows are read") {
    val root = tmpDir("followed")
    val cat = register(root, Append, Nil)
    cat.append("crash", batch(("a", 1L, 1L)))
    val other = open(root)
    // the three land between the publish of the append's entry and the
    // listing that checks it: its entry and the next are collected by then
    LogListHookFs.afterPublish.set(() =>
      (2 to 4).foreach(i => other.append("crash", batch((s"k$i", i.toLong, 1L)))))
    spark.conf.set("fs.file.impl", classOf[LogListHookFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try cat.append("crash", batch(("z", 9L, 1L)))
    finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
    LogListHookFs.afterPublish.get shouldBe null // the three did land in between
    new java.io.File(s"$root/crash/_log").list().filter(_.matches("\\d+\\.json")).sorted shouldBe
      Array("4.json", "5.json")
    open(root).read("crash").collect().map(_.getString(0)).sorted shouldBe
      Array("a", "k2", "k3", "k4", "z")
  }

  test("a crash at any filesystem call of a compact leaves the table before or after it") {
    crashPrefixes("compact", ReplacingDedup(Seq("k"), "updated_at")) { c =>
      c.append("crash", batch(("a", 1L, 1L), ("b", 2L, 1L)))
      c.append("crash", batch(("a", 3L, 2L)))
    }(_.compact("crash"))
  }

  test("a crash at any filesystem call of a lightweight delete leaves the table before or after it") {
    crashPrefixes("delete", Append)(_.append("crash",
      batch(("a", 1L, 1L), ("b", 2L, 1L), ("c", 3L, 1L))))(
      _.deleteLightweight("crash", col("k") === "b"))
  }

  test("a crash at any filesystem call of a FREEZE leaves the table before or after it") {
    crashPrefixes("freeze", Append)(_.append("crash", batch(("a", 1L, 1L))))(
      _.freeze("crash", "s1"))
  }

  test("a crash at any filesystem call of an ALTER ADD COLUMN leaves the table before or after it") {
    crashPrefixes("add-column", Append)(_.append("crash", batch(("a", 1L, 1L))))(
      _.addColumn("crash", StructField("w", LongType), 7L))
  }

  test("a crash at any filesystem call of the compact after a RENAME COLUMN leaves the table before or after it") {
    // the one entry of the rewrite also retires the pending rename
    crashPrefixes("rename-compact", ReplacingDedup(Seq("k"), "updated_at")) { c =>
      c.append("crash", batch(("a", 1L, 1L), ("b", 2L, 1L)))
      c.append("crash", batch(("a", 3L, 2L)))
      c.renameColumn("crash", "v", "w")
      c.append("crash", Seq(("c", 4L, 1L)).toDF("k", "w", "updated_at"))
    }(_.compact("crash"))
  }

  test("a crash at any filesystem call of an ALTER MODIFY COLUMN leaves the table before or after it") {
    crashPrefixes("modify-column", Append) { c =>
      c.append("crash", batch(("a", 1L, 1L)))
      c.addColumn("crash", StructField("w", IntegerType), 5)
    }(_.modifyColumnType("crash", "w", LongType))
  }

  private val byDay = Seq("updated_at")
  private def twoDays(c: Catalog): Unit =
    c.append("crash", batch(("a", 1L, 1L), ("b", 2L, 2L), ("c", 3L, 1L)))

  test("a crash at any filesystem call of a DETACH PARTITION leaves it in the table or detached") {
    crashPrefixes("detach", Append, byDay)(twoDays)(_.detachPartition("crash", 1L))
  }

  test("a crash at any filesystem call of a DETACH of a frozen partition leaves it in the table or detached") {
    crashPrefixes("detach-frozen", Append, byDay) { c =>
      twoDays(c)
      c.freeze("crash", "s1")
    }(_.detachPartition("crash", 1L))
  }

  test("a crash at any filesystem call of an ATTACH PARTITION leaves it detached or in the table") {
    crashPrefixes("attach", Append, byDay) { c =>
      twoDays(c)
      c.detachPartition("crash", 1L)
    }(_.attachPartition("crash", 1L))
  }

  test("a crash at any filesystem call of a MOVE PARTITION leaves it in the source or the destination") {
    crashPrefixes("move", Append, byDay)(twoDays)(_.movePartition("crash", "dst", 1L))
  }

  test("an append-only table keeps a bounded log; a dropped partition's files go one commit later") {
    val root = tmpDir("bounded")
    val cat = register(root, Append, byDay)
    def entries = new java.io.File(s"$root/crash/_log").list().count(_.matches("\\d+\\.json"))
    (1 to 12).foreach(i => cat.append("crash", batch((s"k$i", i.toLong, (i % 2).toLong))))
    entries shouldBe 2 // the head and the one before it
    def files(day: Long) = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/crash")).iterator().asScala
        .count(p => p.toString.contains(s"updated_at=$day/") && p.toString.endsWith(".parquet"))
    }
    files(0L) shouldBe 6
    cat.dropPartition("crash", 0L) should be > 0
    cat.read("crash").count() shouldBe 6
    files(0L) shouldBe 6 // one commit of grace for readers of the entry before
    cat.append("crash", batch(("z", 0L, 1L)))
    files(0L) shouldBe 0
    cat.read("crash").count() shouldBe 7
    entries shouldBe 2
  }

  test("an append collects the entry before its predecessor without opening it") {
    import scala.jdk.CollectionConverters._
    val root = tmpDir("extends")
    val cat = register(root, Append, Nil)
    (1 to 3).foreach(i => cat.append("crash", batch((s"k$i", i.toLong, 1L))))
    // entry 0 is the definition createTable published
    def entries = new java.io.File(s"$root/crash/_log").list().filter(_.matches("\\d+\\.json")).sorted
    entries shouldBe Array("2.json", "3.json")
    val opened = CountingFs.during(spark) {
      cat.append("crash", batch(("k4", 4L, 1L)))
      CountingFs.opened.asScala.toSeq
    }
    opened should contain("3.json") // the head the append derives from
    opened should not contain "2.json"
    entries shouldBe Array("3.json", "4.json")
    cat.read("crash").count() shouldBe 4
  }

  test("the first append after a compact collects the compacted files without opening their entry") {
    import scala.jdk.CollectionConverters._
    val root = tmpDir("drops")
    val cat = register(root, Append, Nil)
    (1 to 2).foreach(i => cat.append("crash", batch((s"k$i", i.toLong, 1L))))
    def parquet() = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/crash")).iterator()
      .asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
    val appended = parquet()
    cat.compact("crash")
    def entries = new java.io.File(s"$root/crash/_log").list().filter(_.matches("\\d+\\.json")).sorted
    entries shouldBe Array("2.json", "3.json")
    parquet().intersect(appended) shouldBe appended // one commit of grace
    val opened = CountingFs.during(spark) {
      cat.append("crash", batch(("k3", 3L, 1L)))
      CountingFs.opened.asScala.toSeq
    }
    opened should contain("3.json") // the compact's entry: the head
    opened should not contain "2.json" // the compact's entry lists what it dropped
    entries shouldBe Array("3.json", "4.json")
    parquet().intersect(appended) shouldBe empty
    cat.read("crash").count() shouldBe 3
  }

  test("publish refuses a filesystem without a step that refuses an existing name") {
    val dir = tmpDir("objstore")
    val f = new ObjectStoreFs
    f.initialize(java.net.URI.create("objstore:///"), spark.sessionState.newHadoopConf())
    val e = intercept[UnsupportedOperationException] {
      TableLog.publish(f, new Path(s"objstore://$dir/0.json"), Array[Byte](1))
    }
    e.getMessage should include("objstore:")
    new java.io.File(dir).list() shouldBe empty
  }
}

/** The local filesystem running [[LogListHookFs.afterPublish]], once, at
  * the first listing of a `_log` directory after a log entry's staging
  * file was created there: what lands between a publish and the listing
  * that checks it.
  */
class LogListHookFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    if (f.getParent.getName == "_log" && f.getName.matches("""\.\d+\.json\..*\.tmp"""))
      LogListHookFs.published = true
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    if (f.getName == "_log" && LogListHookFs.published) {
      LogListHookFs.published = false
      Option(LogListHookFs.afterPublish.getAndSet(null)).foreach(_.apply())
    }
    super.listStatus(f)
  }
}

object LogListHookFs {
  val afterPublish = new java.util.concurrent.atomic.AtomicReference[() => Unit]
  @volatile var published = false
}

/** The local filesystem under another scheme: one whose rename a publish
  * cannot trust.
  */
class ObjectStoreFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("objstore:///")
}

/** The local filesystem failing its `failAt`-th and every later mutating
  * call (create, mkdirs, rename, delete) — a process that dies there. The
  * link a local publish makes is no filesystem call: failing the calls on
  * either side of it covers both of its prefixes.
  */
class CrashingFs extends CountingFs {
  private def step(): Unit =
    if (CrashingFs.calls.incrementAndGet() >= CrashingFs.failAt)
      throw new IOException("simulated crash")

  override def mkdirs(f: Path, permission: FsPermission): Boolean = { step(); super.mkdirs(f, permission) }
  override def rename(src: Path, dst: Path): Boolean = { step(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { step(); super.delete(f, recursive) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    step()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CrashingFs {
  val calls = new AtomicLong
  @volatile var failAt: Long = Long.MaxValue

  def arm(at: Long): Unit = { calls.set(0); failAt = at }
}
