package graft.catalog

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The one reader of the storage layouts older builds wrote. A table
  * directory without a `_log/` entry is adopted once: [[TableLog]]
  * publishes the live set found here as its first entry. A head without
  * a definition is adopted once too: its entry then holds the `_TABLE`
  * sidecar's definition and the `<path>.mutations` history
  * ([[TableLog.recover]]), and a declared projection's companion
  * directory is listed in place. The live set follows the older build's
  * own rules:
  *   - FlatDir: the data files of the table directory itself (root files
  *     and `key=value` partition directories). A compact swap that crashed
  *     between its two renames is finished first — a complete
  *     `.compact.tmp` becomes the table, else `.compact.old` is restored —
  *     and the leftovers of one that crashed before or after them go;
  *   - Versioned: the version dir `_CURRENT` names (the highest `v<n>`
  *     when the manifest is missing mid-flip), plus the segments committed
  *     under `_segs/` that the version's `_FOLDED` list has not absorbed;
  *   - the pending deletion vectors under `<path>.dv/dv-*`;
  *   - each `<path>.snapshots/<tag>.json` read set, as a frozen entry
  *     with its tag.
  */
private[catalog] object LegacyLayout {

  final case class Found(files: Seq[LogFile], dvs: Seq[LogFile],
                         snapshots: Seq[(String, Seq[LogFile], Seq[LogFile], Long)])

  private def text(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), UTF_8).trim finally in.close()
  }

  /** The definition an older build kept in the `_TABLE` sidecar. */
  def definition(f: FileSystem, path: String): Option[TableDef] = {
    val p = new Path(path, "_TABLE")
    if (!f.exists(p)) None else Some(TableDefJson.parse(JsonMethods.parse(text(f, p)), path))
  }

  private def mutationsPath(path: String) = new Path(path + ".mutations")

  /** The history an older build kept beside the table, oldest first: a
    * `<path>.mutations` directory of `m_<ts>_<seq>_<id>.json` markers
    * (named in history order), or one file of JSON lines (the layout
    * before the markers).
    */
  def mutations(f: FileSystem, path: String): Seq[LogMutation] = {
    val p = mutationsPath(path)
    val lines =
      if (!f.exists(p)) Nil
      else if (f.getFileStatus(p).isDirectory)
        f.listStatus(p).map(_.getPath).filter(_.getName.startsWith("m_")).sortBy(_.getName)
          .map(text(f, _)).toSeq
      else text(f, p).linesIterator.filter(_.trim.nonEmpty).toSeq
    implicit val fmts: Formats = DefaultFormats
    lines.map { l =>
      val j = JsonMethods.parse(l)
      LogMutation((j \ "ts_ms").extractOpt[Long].getOrElse(-1L),
        (j \ "command").extractOpt[String].getOrElse(""))
    }
  }

  /** The companion files an older build kept for projection `p` in
    * `<path>/_proj_<name>/`, if that directory exists: a log entry then
    * lists them in place.
    */
  def companion(log: TableLog, p: ProjectionSpec): Option[Seq[LogFile]] =
    Some(new Path(log.root, p.dirName)).filter(log.f.exists).map(log.written(_)._2)

  /** Delete the history sibling once a log entry holds it. */
  def forgetMutations(f: FileSystem, path: String): Unit = f.delete(mutationsPath(path), true)

  def read(log: TableLog): Option[Found] = {
    val f = log.f
    val root = log.root
    def sibling(suffix: String) = new Path(root.toString + suffix)
    val (tmp, old) = (sibling(".compact.tmp"), sibling(".compact.old"))
    def list(p: Path): Array[FileStatus] =
      try f.listStatus(p) catch { case _: FileNotFoundException => Array.empty }
    def text(p: Path): String = LegacyLayout.text(f, p)
    val top = try f.listStatus(root) catch {
      case _: FileNotFoundException =>
        if (!f.exists(old)) return None
        require(f.rename(if (f.exists(tmp)) tmp else old, root),
          s"$root: could not finish an interrupted compact swap")
        f.listStatus(root)
    }
    val names = top.map(_.getPath.getName).toSet
    val versions = names.filter(_.matches("v\\d+")).toSeq.sortBy(_.drop(1).toLong)
    val versioned = names("_CURRENT") || names("_segs") || versions.nonEmpty
    def under(dirs: Seq[Path]): Seq[LogFile] =
      dirs.flatMap(d => Listing.of(f, Seq(d.toString)).files.map(log.fileOf(_, d)))
    val files =
      if (!versioned)
        top.toSeq.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(log.fileOf(_, root)) ++
          Listing.of(f, top.toSeq.filter(s => s.isDirectory && s.getPath.getName.contains("="))
            .map(_.getPath.toString)).files.map(log.fileOf(_, root))
      else {
        val cur =
          if (names("_CURRENT")) Some(text(new Path(root, "_CURRENT"))) else versions.lastOption
        val folded = cur.map(v => new Path(new Path(root, v), "_FOLDED")).filter(f.exists)
          .map(p => text(p).linesIterator.map(_.trim).filter(_.nonEmpty).toSet)
          .getOrElse(Set.empty[String])
        val segs = list(new Path(root, "_segs")).toSeq.map(_.getPath.getName)
          .filter(s => !s.endsWith(".folded") && !s.endsWith(".orphan") && !folded(s) && names(s))
          .sorted
        under((cur.filter(names).toSeq ++ segs).map(new Path(root, _)))
      }
    if (files.nonEmpty && !versioned) Seq(tmp, old).filter(f.exists).foreach(f.delete(_, true))
    val dvRoot = sibling(".dv")
    def dvs(names: Seq[String]): Seq[LogFile] =
      Listing.of(f, names.map(n => new Path(dvRoot, n).toString)).files
        .map(s => LogFile(f.makeQualified(s.getPath).toString, s.getLen, s.getModificationTime))
    val live = if (files.isEmpty) Nil
      else dvs(list(dvRoot).toSeq.map(_.getPath.getName).filter(_.startsWith("dv-")).sorted)
    val snapshots = if (!versioned) Nil else {
      implicit val fmts: Formats = DefaultFormats
      list(sibling(".snapshots")).toSeq.map(_.getPath).filter(_.getName.endsWith(".json"))
        .sortBy(_.getName).map { p =>
          val j = JsonMethods.parse(text(p))
          ((j \ "tag").extract[String],
            under(((j \ "version").extractOpt[String].toSeq ++
              (j \ "segments").extract[Seq[String]]).map(new Path(root, _))),
            dvs((j \ "dv").extractOpt[Seq[String]].getOrElse(Nil)),
            (j \ "ts_ms").extract[Long])
        }
    }
    if (files.isEmpty && snapshots.isEmpty) None else Some(Found(files, live, snapshots))
  }
}
