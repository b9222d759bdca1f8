package graft.catalog

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One file a log entry lists: its path (relative to the table root, or
  * a qualified URI for a file an adopted layout kept outside it), length,
  * modification time and partition values in partition-key order (None is
  * the null partition).
  */
final case class LogFile(path: String, len: Long, mtime: Long,
                         part: Seq[Option[String]] = Nil)

/** A partition directory on the move: `src` goes to `dst` (both
  * qualified paths); `into` is the root of the table whose log then lists
  * the files under `dst` — this table's own for an ATTACH, another's for a
  * MOVE PARTITION, None for a DETACH.
  */
final case class LogMove(src: String, dst: String, into: Option[String])

/** One completed mutation of `system.mutations`: when and what. */
final case class LogMutation(tsMs: Long, command: String)

/** A table state: the whole live set at log position `n` (-1 before the
  * first commit) — the data files, the deletion-vector files, the dedup
  * tokens committed since the last rewrite, and the tokens that rewrite
  * folded (they still refuse a replay until the next rewrite). `moves`
  * are the partition directories still to reach their destination
  * ([[TableLog.settle]]). `table` is the table's definition and
  * `mutations` its last [[TableLog.KeptMutations]] completed mutations,
  * oldest first; each entry carries both forward.
  * `frozen` marks an entry the adopter wrote for an old snapshot: never a
  * head. `drops` lists the data and deletion-vector paths of the entry
  * before it that this one no longer lists ([[TableLog.commit]] records
  * it; None in an entry an older build or the adopter wrote): collecting
  * that older entry needs no read of it. `projections` holds the
  * companion files of each declared projection that covers every data
  * file (key `projections`): a projection missing there is not answered
  * from until a rewrite or `MATERIALIZE PROJECTION` builds it. `id` names
  * the entry and `parent` the entry it derives from ([[TableLog.commit]]
  * sets both; "" in an entry an older build or the adopter wrote).
  */
final case class LogEntry(n: Long, files: Seq[LogFile], dvs: Seq[LogFile],
                          tokens: Set[String] = Set.empty,
                          folded: Set[String] = Set.empty,
                          moves: Seq[LogMove] = Nil,
                          frozen: Boolean = false,
                          drops: Option[Seq[String]] = None,
                          table: Option[TableDef] = None,
                          mutations: Seq[LogMutation] = Nil,
                          projections: Map[String, Seq[LogFile]] = Map.empty,
                          id: String = "", parent: String = "") {
  def holds(token: String): Boolean = tokens(token) || folded(token)

  /** Every file the entry lists: data, deletion vectors and companions. */
  def logged: Seq[LogFile] = files ++ dvs ++ projections.values.flatten
}

object LogEntry {
  val empty: LogEntry = LogEntry(-1L, Nil, Nil)
}

/** A FREEZE: `tag` names log position `position`. */
final case class LogTag(tag: String, position: Long, tsMs: Long)

/** The commit log of one table: the table's state is its newest
  * `_log/<n>.json` entry, which lists the whole live set. Every commit
  * writes its files into a fresh directory under the table root, then
  * publishes entry n+1 with [[TableLog.publish]] — one step that never
  * overwrites, so of two writers that read the same head exactly one gets
  * the number; the other re-reads the head and tries the next one. A
  * reader lists `_log/` once and opens one entry; it never lists a data
  * directory. Every commit collects the entries and files the head no
  * longer reaches ([[collect]]); a rewrite also sweeps crashed commits'
  * directories ([[sweep]]).
  */
private[graft] final class TableLog(val f: FileSystem, tablePath: String,
                                    partitionKeys: Seq[String]) {
  import TableLog._

  val root: Path = f.makeQualified(new Path(tablePath))
  private val dir = new Path(root, "_log")

  /** The absolute path of a logged file. */
  def resolve(p: String): Path = if (absolute(p)) new Path(p) else new Path(root, p)

  private def absolute(p: String) = p.matches("[A-Za-z][A-Za-z0-9+.-]*:/.*")

  private def relativize(p: Path): String = {
    val base = root.toUri.getPath.stripSuffix("/") + "/"
    val s = p.toUri.getPath
    if (s.startsWith(base)) s.drop(base.length) else f.makeQualified(p).toString
  }

  /** The log record of a listed data file written under `under`; its
    * partition values come from the `key=value` directories between them.
    */
  def fileOf(s: FileStatus, under: Path): LogFile = {
    val rel = s.getPath.toUri.getPath.stripPrefix(under.toUri.getPath.stripSuffix("/") + "/")
    val part =
      if (partitionKeys.isEmpty) Nil
      else rel.split('/').dropRight(1).takeRight(partitionKeys.size).toSeq.map { seg =>
        val v = ExternalCatalogUtils.unescapePathName(seg.substring(seg.indexOf('=') + 1))
        if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None else Some(v)
      }
    LogFile(relativize(s.getPath), s.getLen, s.getModificationTime, part)
  }

  /** A file status for a logged file, as a listing would report it. */
  def status(x: LogFile): FileStatus =
    new FileStatus(x.len, false, 1, math.max(x.len, 1L), x.mtime, resolve(x.path))

  /** The data files written under `d`. */
  def written(d: Path): (Listing, Seq[LogFile]) = {
    val l = Listing.of(f, Seq(d.toString))
    (l, l.files.map(fileOf(_, d)))
  }

  /** A fresh directory name under the root for one commit's files. */
  def stage(prefix: String): Path =
    new Path(root, s"$prefix-$processTag-${java.util.UUID.randomUUID().toString.take(8)}")

  private def entryPath(n: Long) = new Path(dir, s"$n.json")
  private def tagPath(tag: String) = new Path(dir, s"tag-$tag.json")

  private def listed(): Array[FileStatus] =
    try f.listStatus(dir) catch { case _: FileNotFoundException => Array.empty }

  private def entries(ls: Array[FileStatus]): Seq[(Long, FileStatus)] =
    ls.toSeq.flatMap(s => s.getPath.getName match {
      case EntryName(n) => Some(n.toLong -> s)
      case _ => None
    })

  private def positions(ls: Array[FileStatus]): Seq[Long] = entries(ls).map(_._1)

  private def readJson(p: Path): JValue = {
    val in = f.open(p)
    try JsonMethods.parse(new String(in.readAllBytes(), UTF_8)) finally in.close()
  }

  /** The entry at position `n`. */
  def entry(n: Long): LogEntry =
    if (n < 0) LogEntry.empty else parse(n, readJson(entryPath(n)))

  /** The newest entry; an entry collected between the listing and the
    * open is re-listed.
    */
  def head(): LogEntry = {
    var attempt = 0
    while (attempt < 8) {
      positions(listed()).maxOption match {
        case None => return LogEntry.empty
        case Some(n) => try return entry(n) catch { case _: FileNotFoundException => () }
      }
      attempt += 1
    }
    throw new IllegalStateException(s"$root: no stable log head after $attempt reads")
  }

  /** The head entry's name and modification time, from the listing alone;
    * "" before the first commit. It names one table state, also across a
    * drop and re-create at the same path.
    */
  def headStamp(): String =
    entries(listed()).maxByOption(_._1)
      .fold("")(s => s"${s._2.getPath.getName}@${s._2.getModificationTime}")

  /** The newest entry unless it is a frozen snapshot (an adoption a
    * crash interrupted).
    */
  private def live(): Option[LogEntry] =
    positions(listed()).maxOption.map(entry).filterNot(_.frozen)

  /** Publish the entry `next` derives from the head at the next position;
    * a lost position re-reads the head and asks `next` again. None from
    * `next` ends without publishing. `read` is a head the caller already
    * read (the first attempt derives from it). The head's pending moves
    * are settled first, and `next` sees the head without them, listing
    * the files they brought into this table: an entry only ever records
    * moves still to make. The entry records the head's files it dropped
    * and keeps the newest [[KeptMutations]] records. After a publish, the
    * entries and files the new head no longer reaches are collected. A
    * publish that landed behind the head ([[refuseBehind]]) is taken back
    * and refused, naming the table: its changes would never be read.
    */
  def commit(table: String, read: Option[LogEntry] = None)(
      next: LogEntry => Option[LogEntry]): Option[LogEntry] = {
    var attempt = 0
    while (attempt < 100) {
      val h = if (attempt == 0) read.getOrElse(head()) else head()
      val moved = settle(h, table)
      next(h.copy(files = h.files ++ moved, moves = Nil)) match {
        case None => return None
        case Some(e) =>
          val at = e.copy(n = h.n + 1, drops = Some((paths(h) -- paths(e)).toSeq.sorted),
            mutations = e.mutations.takeRight(KeptMutations),
            id = java.util.UUID.randomUUID().toString, parent = h.id)
          if (publish(f, entryPath(at.n), json(at))) {
            collect(at, h, refuseBehind(table, at, h)); return Some(at)
          }
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"$table: lost $attempt log positions in a row to concurrent commits")
  }

  /** The listing of `_log/` just after `e` was published over `h`. When
    * it shows a newer entry, `e` may have taken a position collection had
    * already freed (`h` was read three or more commits ago). The entry
    * after `e` follows it when it names `e` as its parent. Otherwise `e`
    * is behind while it still exists untagged (collection deletes older
    * entries first, so `e` outlives no follower), or, once collected
    * itself, when the first file it added is gone too (a follower keeps
    * it). A behind `e` is deleted and the commit refused without a retry:
    * another writer's collection may have deleted what it derives from.
    */
  private def refuseBehind(table: String, e: LogEntry, h: LogEntry): Array[FileStatus] = {
    val ls = listed()
    def behind = !gone(entry(e.n + 1)).exists(_.parent == e.id) && (
      if (f.exists(entryPath(e.n))) !tags(ls).exists(_.position == e.n)
      else (paths(e) -- paths(h)).headOption.exists(p => !f.exists(resolve(p))))
    if (positions(ls).exists(_ > e.n) && behind) {
      f.delete(entryPath(e.n), false)
      throw new IllegalStateException(s"$table: log position ${e.n} was freed by newer " +
        s"commits before this one published it (its head, entry ${h.n}, was read too long " +
        "ago); nothing was committed — retry")
    }
    ls
  }

  def tags(ls: Array[FileStatus] = listed()): Seq[LogTag] =
    ls.toSeq.map(_.getPath).filter(p => p.getName.startsWith("tag-") &&
      p.getName.endsWith(".json")).flatMap(p => gone(parseTag(readJson(p)))).sortBy(_.tag)

  /** `read`, or None when a concurrent writer deleted what it reads. */
  private def gone[T](read: => T): Option[T] =
    try Some(read) catch { case _: FileNotFoundException => None }

  def tag(tag: String): Option[LogTag] = gone(parseTag(readJson(tagPath(tag))))

  /** Publish a FREEZE tag; false when the tag exists. */
  def addTag(t: LogTag): Boolean = publish(f, tagPath(t.tag), render(
    JObject("tag" -> JString(t.tag), "position" -> JLong(t.position),
      "ts_ms" -> JLong(t.tsMs))))

  def dropTag(tag: String): Boolean = f.delete(tagPath(tag), false)

  /** The paths the tags' positions reach: a partition verb copies these
    * instead of moving them.
    */
  private def pinned(): Set[String] =
    tags().flatMap(g => entry(g.position).files.map(_.path)).toSet

  /** What the entries readers and snapshots may still resolve reach: `h`,
    * the entry before it (a reader that resolved it just before `h` was
    * published gets one commit of grace; `prev` when the caller holds it)
    * and the `tagged` positions. Returns the relative paths of their files
    * and of the directories they are still moving out.
    */
  private def reach(h: LogEntry, ls: Array[FileStatus], tagged: Set[Long],
                    prev: Option[LogEntry] = None): (Set[String], Seq[String]) = {
    val held = (prev.toSeq :+ h).map(e => e.n -> e).toMap
    // another process's collection may delete what this one lists: skip it
    val kept = held.values.toSeq ++ (tagged + (h.n - 1)).filterNot(held.contains)
      .filter(positions(ls).toSet).toSeq.flatMap(n => gone(entry(n)))
    (kept.flatMap(_.logged).map(_.path).toSet,
      kept.flatMap(_.moves).map(m => relativize(new Path(m.src))))
  }

  /** Collect after `h` was published over `prev`: delete the entries
    * older than `prev` that no tag names, and the files only they reach (a
    * directory at once when no kept file lies in it). A directory a kept
    * entry is still moving out stays whole. The entry just before `prev`
    * is deleted unopened: `prev.drops` names the files of it `prev` no
    * longer lists. After an append it costs one listing of `_log/` and
    * one delete; after a rewrite, the deletes of what it dropped.
    */
  private def collect(h: LogEntry, prev: LogEntry, ls: Array[FileStatus]): Unit = {
    val tagged = tags(ls).map(_.position).toSet
    val dead = positions(ls).filter(n => n < h.n - 1 && !tagged(n)).sorted
    if (dead.isEmpty) return
    val (keep, moving) = reach(h, ls, tagged, Some(prev))
    val keptTops = (keep ++ moving).flatMap(top)
    val removed = scala.collection.mutable.Set.empty[String]
    val known = prev.drops.filter(_ => dead.contains(prev.n - 1))
    (dead.filterNot(n => known.isDefined && n == prev.n - 1).flatMap(n => gone(entry(n)))
      .flatMap(_.logged.map(_.path)) ++ known.getOrElse(Nil))
      .filterNot(p => keep(p) || moving.exists(d => p.startsWith(d + "/"))).foreach { p =>
        top(p) match {
          case Some(d) if !keptTops(d) => if (removed.add(d)) f.delete(new Path(root, d), true)
          case _ => f.delete(resolve(p), false)
        }
      }
    dead.foreach(n => f.delete(entryPath(n), false))
  }

  /** After a rewrite published `h`: delete the directories under the root
    * that no kept entry reaches once nothing in them has been written for
    * `staleMs` (a crashed commit's files, or an adopted layout's
    * leftovers), and stale staging names in `_log/`. An `m-` directory is
    * a partition move in flight: the log of the table it comes from (or,
    * for an ATTACH, this table's) lists it until it is settled, so it is
    * never swept.
    */
  def sweep(h: LogEntry, staleMs: Long): Unit = {
    val now = System.currentTimeMillis()
    val ls = listed()
    val (keep, moving) = reach(h, ls, tags(ls).map(_.position).toSet)
    val keptTops = (keep ++ moving).flatMap(top)
    def newest(s: FileStatus): Long = gone {
      val it = f.listFiles(s.getPath, true)
      var m = s.getModificationTime
      while (it.hasNext) m = math.max(m, it.next().getModificationTime)
      m
    }.getOrElse(now)
    f.listStatus(root).filter { s =>
      val n = s.getPath.getName
      s.isDirectory && !n.startsWith("_") && !n.startsWith(".") && !n.startsWith("m-") &&
        !keptTops(n) && now - newest(s) > staleMs
    }.foreach(s => f.delete(s.getPath, true))
    ls.filter(s => s.getPath.getName.startsWith(".") && now - s.getModificationTime > staleMs)
      .foreach(s => f.delete(s.getPath, false))
  }

  /** Finish the partition moves `h` records: move (or copy) each directory
    * still at its source, then publish the files moved into another table
    * into that table's log, with its record of the move, unless it already
    * holds the move's token. Every step is a no-op once done, so a settle
    * a crash interrupted runs again from the start. Returns the files
    * moved into this table, for the entry that clears the moves to list.
    */
  private def settle(h: LogEntry, table: String): Seq[LogFile] = if (h.moves.isEmpty) Nil else {
    val pins = pinned()
    h.moves.foreach(m => relocate(pins, new Path(m.src), new Path(m.dst)))
    h.moves.groupBy(_.into).toSeq.flatMap {
      case (Some(into), ms) =>
        val to = if (into == root.toString) this else new TableLog(f, into, partitionKeys)
        val files = ms.flatMap(m => to.written(new Path(m.dst).getParent)._2)
        if (to eq this) files
        else {
          val toks = ms.map(m => s"move:${m.dst}").toSet
          val recs = ms.map(m => new Path(m.dst).getName).distinct.map(leaf => LogMutation(
            System.currentTimeMillis(), s"ALTER ATTACH PARTITION $leaf (moved from $table)"))
          to.commit(into)(cur => if (toks.exists(cur.holds)) None
            else Some(cur.copy(files = cur.files ++ files, tokens = cur.tokens ++ toks,
              mutations = cur.mutations ++ recs)))
          Nil
        }
      case _ => Nil
    }
  }

  /** Move directory `src` to `dst`, or copy it when one of its files is in
    * `pinned` (a FREEZE reaches it; the copy is written under a staging
    * name and renamed into place, so `dst` appears whole). Nothing to do
    * once `src` is gone or `dst` exists.
    */
  private def relocate(pinned: Set[String], src: Path, dst: Path): Unit =
    if (f.exists(src) && !f.exists(dst)) {
      f.mkdirs(dst.getParent)
      val ok =
        if (Listing.of(f, Seq(src.toString)).files.exists(s => pinned(fileOf(s, root).path))) {
          val tmp = new Path(dst.getParent,
            s".${dst.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
          org.apache.hadoop.fs.FileUtil.copy(f, src, f, tmp, false, f.getConf) && f.rename(tmp, dst)
        } else f.rename(src, dst)
      if (!ok) throw new java.io.IOException(s"could not move $src to $dst")
    }

  /** Publish the first head of a directory without one: the live set an
    * older build left there (doc on [[LegacyLayout]]; each of its
    * snapshots first, as a frozen entry and a tag), with definition `d`
    * and the mutation history `history`. Nothing without files or `d`.
    */
  private def adopt(d: Option[TableDef], history: Seq[LogMutation]): Unit = {
    val old = LegacyLayout.read(this)
    if (old.isEmpty && d.isEmpty) return
    val snapshots = old.fold(Seq.empty[(String, Seq[LogFile], Seq[LogFile], Long)])(_.snapshots)
    snapshots.zipWithIndex.foreach { case ((tag, files, dvs, ts), i) =>
      publish(f, entryPath(i), json(LogEntry(i, files, dvs, frozen = true)))
      addTag(LogTag(tag, i, ts))
    }
    val n = snapshots.size.toLong
    val e = LogEntry(n, old.fold(Seq.empty[LogFile])(_.files), old.fold(Seq.empty[LogFile])(_.dvs),
      table = d, mutations = history)
    publish(f, entryPath(n), json(e.copy(projections = adoptable(d, e))))
  }

  /** The companions of the projections `d` declares that `e` lacks and
    * that can be adopted: an older build's companion directory
    * ([[LegacyLayout.companion]]), or an empty one while `e` lists no
    * data file.
    */
  private def adoptable(d: Option[TableDef], e: LogEntry): Map[String, Seq[LogFile]] =
    d.toSeq.flatMap(_.projections).filterNot(p => e.projections.contains(p.name))
      .flatMap(p => LegacyLayout.companion(this, p).orElse(Option.when(e.files.isEmpty)(Nil))
        .map(p.name -> _)).toMap

  /** The directory directly under the root that holds `p`, if any. */
  private def top(p: String): Option[String] =
    if (!absolute(p) && p.contains('/')) Some(p.takeWhile(_ != '/')) else None

  private def parse(n: Long, j: JValue): LogEntry = {
    def files(v: JValue): Seq[LogFile] = v match {
      case JArray(xs) => xs.collect {
        case JArray(JString(p) :: len :: mt :: JArray(vs) :: Nil) =>
          LogFile(p, num(len), num(mt), vs.map {
            case JString(v) => Some(v)
            case _ => None
          })
      }
      case _ => Nil
    }
    def str(k: String) = (j \ k) match { case JString(s) => s; case _ => "" }
    def strs(k: String): Set[String] = (j \ k) match {
      case JArray(xs) => xs.collect { case JString(s) => s }.toSet
      case _ => Set.empty
    }
    val moves = (j \ "moves") match {
      case JArray(xs) => xs.collect { case JArray(JString(s) :: JString(d) :: into :: Nil) =>
        LogMove(s, d, into match { case JString(r) => Some(r); case _ => None })
      }
      case _ => Nil
    }
    val drops = (j \ "drops") match {
      case JArray(xs) => Some(xs.collect { case JString(p) => p })
      case _ => None
    }
    val table = (j \ "table") match {
      case o: JObject => Some(TableDefJson.parse(o, tablePath))
      case _ => None
    }
    val mutations = (j \ "mutations").children.collect {
      case JArray(ts :: JString(c) :: Nil) => LogMutation(num(ts), c)
    }
    val projections = (j \ "projections") match {
      case JObject(ps) => ps.map { case (name, v) => name -> files(v) }.toMap
      case _ => Map.empty[String, Seq[LogFile]]
    }
    LogEntry(n, files(j \ "files"), files(j \ "dvs"), strs("tokens"), strs("folded"), moves,
      (j \ "frozen") == JBool(true), drops, table, mutations, projections,
      str("id"), str("parent"))
  }

  private def parseTag(j: JValue): LogTag = {
    val JString(tag) = j \ "tag": @unchecked
    LogTag(tag, num(j \ "position"), num(j \ "ts_ms"))
  }
}

object TableLog {
  /** How many mutation records an entry keeps (ClickHouse's
    * `finished_mutations_to_keep` default).
    */
  val KeptMutations = 100

  /** Open the log of the table at `path` where a table is registered,
    * and finish what a crash or an older build left there, once. A head
    * without a definition is a table an older build wrote: the entry that
    * adopts it holds the definition of its `_TABLE` sidecar (else
    * `declared`) and the history of its `<path>.mutations` sibling
    * ([[LegacyLayout]] reads both; the sibling goes once adopted), and a
    * directory without a log has its live set adopted in the same entry.
    * A declared projection the head lacks gets the companion directory
    * an older build kept under the table root, once. The partition moves
    * of a crashed commit are settled. Returns the head; it holds a
    * definition unless neither the directory nor `declared` has one.
    */
  def recover(f: FileSystem, path: String, declared: Option[TableDef]): LogEntry = {
    val live = new TableLog(f, path, Nil).live()
    val logged = live.flatMap(_.table)
    val sidecar = if (logged.isEmpty) LegacyLayout.definition(f, path) else None
    val d = logged.orElse(sidecar).orElse(declared)
    val l = new TableLog(f, path, d.fold(Seq.empty[String])(_.partitionKeys))
    val history =
      if (sidecar.isEmpty) Nil else LegacyLayout.mutations(f, path).takeRight(KeptMutations)
    val h = live.getOrElse { l.adopt(d, history); l.head() }
    val companions = l.adoptable(d, h)
    val out =
      if (h.moves.isEmpty && companions.isEmpty && (h.table.nonEmpty || d.isEmpty)) h
      else l.commit(path, Some(h))(cur => Some(cur.copy(table = cur.table.orElse(d),
        mutations = if (cur.table.isEmpty) history else cur.mutations,
        projections = cur.projections ++ companions))).get
    if (sidecar.nonEmpty) LegacyLayout.forgetMutations(f, path)
    out
  }

  /** Identifies this process in directory and staging names, so two JVMs
    * sharing a warehouse never write into the same name.
    */
  val processTag: String =
    s"${ProcessHandle.current().pid}-${java.util.UUID.randomUUID().toString.take(8)}"

  private val EntryName = """(\d+)\.json""".r

  private def num(v: JValue): Long = v match {
    case JInt(x) => x.toLong
    case JLong(x) => x
    case _ => 0L
  }

  private def render(v: JValue): Array[Byte] =
    JsonMethods.compact(JsonMethods.render(v)).getBytes(UTF_8)

  private def fileJson(x: LogFile): JValue = JArray(List(JString(x.path),
    JLong(x.len), JLong(x.mtime),
    JArray(x.part.toList.map(_.fold[JValue](JNull)(JString(_))))))

  private def json(e: LogEntry): Array[Byte] = render(JObject(
    "files" -> JArray(e.files.toList.map(fileJson)),
    "dvs" -> JArray(e.dvs.toList.map(fileJson)),
    "tokens" -> JArray(e.tokens.toList.sorted.map(JString(_))),
    "folded" -> JArray(e.folded.toList.sorted.map(JString(_))),
    "moves" -> JArray(e.moves.toList.map(m =>
      JArray(List(JString(m.src), JString(m.dst), m.into.fold[JValue](JNull)(JString(_)))))),
    "frozen" -> JBool(e.frozen),
    "drops" -> e.drops.fold[JValue](JNothing)(ds => JArray(ds.toList.map(JString(_)))),
    "table" -> e.table.fold[JValue](JNothing)(TableDefJson.render),
    "mutations" -> JArray(e.mutations.toList.map(m =>
      JArray(List(JLong(m.tsMs), JString(m.command))))),
    "projections" -> JObject(e.projections.toList.sortBy(_._1).map { case (name, fs) =>
      name -> JArray(fs.toList.map(fileJson)) }),
    "id" -> JString(e.id), "parent" -> JString(e.parent)))

  private def paths(e: LogEntry): Set[String] = e.logged.map(_.path).toSet

  /** Publish `body` as `dst` unless a file of that name exists, in one
    * step that never overwrites: the body is written in full to a staging
    * name beside `dst`, then linked into place on a local filesystem
    * (link(2) refuses an existing name) or renamed into place on HDFS
    * (`hdfs:`/`viewfs:`; the namenode refuses a rename onto an existing
    * name). A reader therefore sees the whole body or no file. Returns
    * false when `dst` exists. Any other filesystem is refused: an object
    * store's rename is an existence check followed by a copy, so two
    * writers could both take one name and the later copy would erase the
    * earlier commit. Hadoop's `create(p, false)` is no substitute either:
    * on the local filesystem it is an existence check followed by a
    * truncating open, so two racing writers can both "win".
    */
  def publish(f: FileSystem, dst: Path, body: Array[Byte]): Boolean = {
    val scheme = f.getUri.getScheme
    if (!Set("file", "hdfs", "viewfs")(scheme))
      throw new UnsupportedOperationException(s"$dst: a $scheme: filesystem has no " +
        "publish step that refuses an existing name; table logs and stream " +
        "commits need file:, hdfs: or viewfs:")
    val stage = new Path(dst.getParent,
      s".${dst.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = f.create(stage, true)
    try out.write(body) finally out.close()
    if (scheme == "file") {
      def local(p: Path) = new java.io.File(f.makeQualified(p).toUri.getPath).toPath
      try { java.nio.file.Files.createLink(local(dst), local(stage)); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally f.delete(stage, false)
    } else if (f.rename(stage, dst)) true
    else {
      f.delete(stage, false)
      if (f.exists(dst)) false
      else throw new java.io.IOException(s"could not publish $dst")
    }
  }

  /** A scan of `files` under `root` through one file index built from
    * the log: no listing, no partition inference, no parallel-listing job.
    * `companions` are the projections a scan of the whole live head may
    * be answered from; every other scan carries none.
    */
  def frame(spark: SparkSession, log: TableLog, files: Seq[LogFile],
            dataSchema: StructType, partSchema: StructType,
            companions: Seq[Companion]): DataFrame = {
    val statuses = files.map(log.status)
    frame(spark, log.root, statuses, dataSchema, PartitionSpec(partSchema,
      if (partSchema.isEmpty) Nil
      else {
        val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
        files.zip(statuses).groupBy(_._2.getPath.getParent).toSeq.map { case (d, fs) =>
          PartitionPath(InternalRow.fromSeq(partSchema.fields.toSeq.zip(fs.head._1.part)
            .map { case (fl, v) => v.map(s => Cast(Literal(s), fl.dataType, tz).eval()).orNull }), d)
        }
      }), companions)
  }

  /** A scan of files whose statuses the caller holds (files it just
    * wrote, or a companion's) the same way: nothing is listed.
    */
  def frame(spark: SparkSession, root: Path, files: Seq[FileStatus], dataSchema: StructType,
            spec: PartitionSpec = PartitionSpec(new StructType, Nil),
            companions: Seq[Companion] = Nil): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(new LogFileIndex(spark, root, files, spec,
      companions), spec.partitionColumns, dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
}

/** A projection a live scan may be answered from: its declaration, the
  * schema of its companion files and their statuses under the table root.
  */
final case class Companion(spec: ProjectionSpec, schema: StructType, root: Path,
                           files: Seq[FileStatus]) {
  /** The companion's rows, read without a listing. */
  def frame(spark: SparkSession): DataFrame = TableLog.frame(spark, root, files, schema)
}

/** The file index of one log state: Spark's in-memory index with its
  * status cache filled from the log entry and the partitions taken from
  * the logged values, so building it lists nothing. Two indexes over one
  * table are equal only when they scan the same files and carry the same
  * companions (a snapshot read and a live read of one table must never
  * share a reused exchange). `companions` are the projections the
  * optimizer rules may answer the scan from (a live head's only).
  */
final class LogFileIndex private[catalog] (spark: SparkSession, root: Path,
                                           val statuses: Seq[FileStatus],
                                           spec: PartitionSpec,
                                           val companions: Seq[Companion])
    extends InMemoryFileIndex(spark, Seq(root),
      if (spec.partitionColumns.isEmpty) Map("recursiveFileLookup" -> "true") else Map.empty,
      None, new LogFileIndex.Filled(root, statuses), Some(spec)) {

  private lazy val key = statuses.map(_.getPath.toString).sorted

  override def equals(o: Any): Boolean = o match {
    case l: LogFileIndex => rootPaths == l.rootPaths && companions == l.companions && key == l.key
    case _ => false
  }
  override def hashCode(): Int = (rootPaths, statuses.size).hashCode()
}

private object LogFileIndex {
  final class Filled(root: Path, statuses: Seq[FileStatus]) extends FileStatusCache {
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      if (path == root) Some(statuses.toArray) else None
    override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }
}
