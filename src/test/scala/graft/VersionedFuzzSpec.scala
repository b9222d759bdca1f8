package graft

import org.apache.spark.sql.functions._
import graft.catalog._

/** Randomized interleaving fuzz for the multi-writer table log:
  * concurrent appenders (each through its OWN Catalog instance — the
  * fleet shape) race a compactor loop, and the final merged read must
  * hold EXACTLY the union of appended rows — no lost update, no
  * double-count. This drives the publish-if-absent commit, the rewrite's
  * carry-over of concurrently appended files and the GC under real
  * interleavings rather than the single staged crash the specs pin.
  */
class VersionedFuzzSpec extends SparkSpecBase {
  import spark.implicits._

  test("concurrent appends + compacts lose nothing and duplicate nothing") {
    val path = tmpDir("vfuzz") + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("writer",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType)))
    def define(cat: Catalog): Unit =
      cat.createTable(TableDef("t", path, schema, Seq("seq"), Append))
    val setup = new Catalog(spark)
    define(setup)

    val Writers = 3
    val AppendsPerWriter = 5
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appenders = (0 until Writers).map { w =>
      new Thread(() => {
        try {
          val cat = new Catalog(spark) // own instance: the fleet shape
          define(cat)
          (0 until AppendsPerWriter).foreach { i =>
            cat.append("t", Seq((w.toLong, (w * AppendsPerWriter + i).toLong))
              .toDF("writer", "seq"))
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val compactor = new Thread(() => {
      try {
        val cat = new Catalog(spark)
        define(cat)
        while (!stop.get()) {
          cat.compact("t")
          Thread.sleep(50)
        }
      } catch { case t: Throwable => errors.add(t) }
    })
    compactor.start()
    appenders.foreach(_.start())
    appenders.foreach(_.join(120000))
    stop.set(true)
    compactor.join(120000)
    errors.forEach(t => fail(s"worker threw: $t", t))

    // exact union: every (writer, seq) exactly once, before AND after a
    // final quiescent compact
    val expect = (0 until Writers * AppendsPerWriter).map(_.toLong).sorted
    def seqs(): Seq[Long] =
      setup.read("t").select(col("seq")).collect().map(_.getLong(0)).sorted.toSeq
    seqs() shouldBe expect
    setup.compact("t")
    seqs() shouldBe expect
  }
}
