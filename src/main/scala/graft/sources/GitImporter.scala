package graft.sources

import org.apache.spark.sql.SparkSession
import graft.catalog.{Catalog, ConcurrentWrites, TableDef}
import graft.queue.JobQueue
import graft.schema.GitSchemas

/** The reference's import orchestration (SURVEY.md §3.1-3.2) over our
  * engine: one repo's three git-history TSVs → the three ReplacingDedup
  * fact tables, plus the queue-driven worker protocol.
  *
  * The upstream steps — `git clone`/`git pull` and `clickhouse git-import`
  * (/root/reference/repo/importer.py:18-40,86-90) — are out-of-engine
  * subprocesses in the reference too; our engine consumes their TSV output
  * contract (FIXTURES.md §A). Everything from the TSV onward is one short
  * chain per table ([[TsvIngest.ingest]]: watermark read, then dedup and
  * write in one plan), and the three tables' chains run concurrently.
  */
final class GitImporter(spark: SparkSession, warehouseRoot: String) {

  val catalog = new Catalog(spark)

  /** D1/D2: the `git` database's three fact tables (create_db.py:30-33). */
  val commits: TableDef = catalog.createTable(
    TsvIngest.gitTable("commits", warehouseRoot, GitSchemas.commits, GitSchemas.commitsSortKey))
  val fileChanges: TableDef = catalog.createTable(
    TsvIngest.gitTable("file_changes", warehouseRoot, GitSchemas.fileChanges, GitSchemas.fileChangesSortKey))
  val lineChanges: TableDef = catalog.createTable(
    TsvIngest.gitTable("line_changes", warehouseRoot, GitSchemas.lineChanges, GitSchemas.lineChangesSortKey))

  /** github_events is declared alongside the git tables (create_db.py:67-128)
    * even though its rows arrive from GH Archive JSON, not git-import — see
    * [[GhEventsIngest]].
    */
  val githubEvents: TableDef = catalog.createTable(GhEventsIngest.table(warehouseRoot))

  /** §3.1 step 6: per-data-type incremental load. `tsvDir` holds
    * commits.tsv / file_changes.tsv / line_changes.tsv as emitted by
    * git-import (importer.py:129-133). Returns rows ingested per table.
    *
    * The three loads are independent (importer.py:86-110 runs them as
    * separate per-type loads), so they run at the same time through
    * [[ConcurrentWrites]]: each keeps its own high-water mark and write
    * lock; the call ends only after all three have, and rethrows the
    * first failure in table order (commits, file_changes, line_changes)
    * unchanged, later ones attached as suppressed.
    */
  def importRepo(repoName: String, tsvDir: String,
                 keepFiles: Boolean = true): Map[String, Long] = {
    val loads = Seq(
      (commits, GitSchemas.commits, "commits.tsv"),
      (fileChanges, GitSchemas.fileChanges, "file_changes.tsv"),
      (lineChanges, GitSchemas.lineChanges, "line_changes.tsv"))
    val rows = ConcurrentWrites(loads.map { case (t, cols, tsv) =>
      t.name -> { () =>
        val path = s"$tsvDir/$tsv"
        if (new java.io.File(path).exists())
          TsvIngest.ingest(spark, catalog, t, path, cols, repoName, deleteTsvAfter = !keepFiles)
        else 0L
      }
    })
    loads.map(_._1.name).zip(rows).toMap
  }

  /** §3.2: one worker poll — claim → import → release (always, even on
    * failure: importer.py:172-177). Returns the repo processed, if any.
    */
  def workOnce(queue: JobQueue, workerId: String,
               tsvDirFor: String => String): Option[String] = {
    queue.claim(workerId).map { job =>
      try importRepo(job.repoName, tsvDirFor(job.repoName))
      finally queue.complete(job.repoName)
      job.repoName
    }
  }
}
