package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.util.Random

/** Seeded `clickhouse git-import` output: commits.tsv, file_changes.tsv
  * and line_changes.tsv for synthetic repositories, in the column order of
  * `graft.schema.GitSchemas`. The generator is also the answer model:
  * every check of the git part of `ingest` is computed from the rows it
  * produced, never by the engine.
  */
object GitGen {
  final case class Line(sign: Int, oldNo: Int, newNo: Int, hunk: Int, text: String,
                        indent: Int, lineType: String)
  final case class FileCh(changeType: String, path: String, ext: String, lines: Vector[Line]) {
    def added: Int = lines.count(_.sign > 0)
    def deleted: Int = lines.count(_.sign < 0)
    private def hunkKinds = lines.groupBy(_.hunk).values.map(ls => ls.map(_.sign).distinct)
    def hunksAdded: Int = hunkKinds.count(_ == Seq(1))
    def hunksRemoved: Int = hunkKinds.count(_ == Seq(-1))
    def hunksChanged: Int = hunkKinds.count(_.size > 1)
  }
  final case class Commit(hash: String, author: String, time: Long,
                          message: String, files: Vector[FileCh]) {
    def count(t: String): Int = files.count(_.changeType == t)
    def linesAdded: Int = files.map(_.added).sum
    def linesDeleted: Int = files.map(_.deleted).sum
    def counters: Seq[Int] = Seq(count("Add"), count("Delete"), count("Rename"), count("Modify"),
      linesAdded, linesDeleted, files.map(_.hunksAdded).sum,
      files.map(_.hunksRemoved).sum, files.map(_.hunksChanged).sum)
  }

  private val words = ("init fix add remove update refactor merge parser engine table " +
    "index query cache reader writer test docs build config schema row column " +
    "storage merge_tree part mark granule codec").split(' ')
  private val exts = Vector("scala", "py", "cpp", "h", "md", "sql", "json")
  private val changeTypes = Vector("Modify", "Modify", "Modify", "Add", "Delete", "Rename")
  private val lineTypes = Vector("Code", "Code", "Code", "Comment", "Punct", "Empty")
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  def ts(epochS: Long): String = fmt.format(Instant.ofEpochSecond(epochS))

  /** Zipf(1) draw over ranks 1..n: rank k with weight 1/k. */
  def zipf(rnd: Random, n: Int): Int = {
    val h = (1 to n).map(1.0 / _).sum
    var u = rnd.nextDouble() * h
    var k = 1
    while (k < n && u > 1.0 / k) { u -= 1.0 / k; k += 1 }
    k
  }

  /** `n` commits starting after `after` (epoch seconds), one to three
    * hours apart. Paths come from a set of 40 files per repository, so
    * commits revisit files as real histories do.
    */
  def commits(rnd: Random, n: Int, after: Long, authors: Int): Vector[Commit] = {
    var t = after
    Vector.tabulate(n) { _ =>
      t += 3600 + rnd.nextInt(7200)
      val nFiles = 1 + rnd.nextInt(4)
      val paths = rnd.shuffle((0 until 40).toVector).take(nFiles)
      val files = paths.map { p =>
        val ext = exts(p % exts.size)
        var oldNo, newNo = 0
        val nLines = 4 + rnd.nextInt(13)
        val hunkSize = 2 + rnd.nextInt(4)
        val lines = Vector.tabulate(nLines) { i =>
          val sign = if (rnd.nextInt(3) == 0) -1 else 1
          if (sign > 0) newNo += 1 else oldNo += 1
          Line(sign, if (sign < 0) oldNo else 0, if (sign > 0) newNo else 0, i / hunkSize,
            Seq.fill(1 + rnd.nextInt(6))(words(rnd.nextInt(words.length))).mkString(" "),
            rnd.nextInt(3) * 4, lineTypes(rnd.nextInt(lineTypes.size)))
        }
        FileCh(changeTypes(rnd.nextInt(changeTypes.size)), s"src/m${p % 7}/f$p.$ext", ext, lines)
      }
      Commit(f"${rnd.nextLong()}%016x${rnd.nextLong()}%016x${rnd.nextInt()}%08x",
        s"dev${zipf(rnd, authors)}",
        t, Seq.fill(3 + rnd.nextInt(5))(words(rnd.nextInt(words.length))).mkString(" "), files)
    }
  }

  def commitRow(c: Commit): Seq[Any] =
    Seq(c.hash, c.author, ts(c.time), c.message) ++ c.counters

  def fileRow(c: Commit, f: FileCh): Seq[Any] =
    Seq(f.changeType, f.path, "", f.ext, f.added, f.deleted, f.hunksAdded, f.hunksRemoved,
      f.hunksChanged, c.hash, c.author, ts(c.time), c.message) ++ c.counters

  def lineRow(c: Commit, f: FileCh, l: Line): Seq[Any] =
    Seq(l.sign, l.oldNo, l.newNo, l.hunk, 0, 0, 0, 0, "", l.text, l.indent, l.lineType,
      "", "", ts(0), f.changeType, f.path, "", f.ext, f.added, f.deleted, f.hunksAdded,
      f.hunksRemoved, f.hunksChanged, c.hash, c.author, ts(c.time), c.message) ++ c.counters

  /** The three TSVs' rows for `cs`. */
  def rows(cs: Seq[Commit]): (Seq[Seq[Any]], Seq[Seq[Any]], Seq[Seq[Any]]) =
    (cs.map(commitRow),
      cs.flatMap(c => c.files.map(fileRow(c, _))),
      cs.flatMap(c => c.files.flatMap(f => f.lines.map(lineRow(c, f, _)))))

  /** Write the three TSVs into `dir`; returns the bytes written. */
  def writeTsvs(dir: java.nio.file.Path, commits: Seq[Seq[Any]], files: Seq[Seq[Any]],
                lines: Seq[Seq[Any]]): Long = {
    java.nio.file.Files.createDirectories(dir)
    Seq("commits.tsv" -> commits, "file_changes.tsv" -> files, "line_changes.tsv" -> lines)
      .map { case (name, rs) =>
        val p = dir.resolve(name)
        java.nio.file.Files.writeString(p, rs.map(_.mkString("\t")).mkString("", "\n", "\n"))
        java.nio.file.Files.size(p)
      }.sum
  }
}
