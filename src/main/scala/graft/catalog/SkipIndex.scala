package graft.catalog

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileNotFoundException}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** A declarable index kind: the ClickHouse `INDEX … TYPE` name, the
  * [[TableDef]] field the declaration lives in, its canonical name and its
  * sidecar suffix. The five per-file [[SkipIndex]] kinds and the
  * `vector_similarity` companion ([[AnnIndex]]) share this one registry,
  * so CREATE parsing, ALTER ADD INDEX, SHOW CREATE and DROP/MATERIALIZE/
  * CLEAR INDEX all resolve the same TYPE → declaration mapping.
  */
sealed trait IndexKind extends Serializable {
  /** ClickHouse `TYPE` name; [[aliases]] parse to the same kind. */
  def typeName: String
  def aliases: Seq[String] = Nil
  /** Canonical name prefix: SHOW CREATE emits `<prefix>_<column>`, and
    * DROP/MATERIALIZE/CLEAR INDEX resolve that spelling.
    */
  def prefix: String
  /** Per-data-file sidecar suffix: `_idx/<file>.<column><suffix>`. */
  def suffix: String
  /** Declared columns, in declaration order. */
  def columns(t: TableDef): Seq[String]
  /** `t` with this index declared on `column`; `args` are the TYPE's
    * numeric arguments.
    */
  def add(t: TableDef, column: String, args: Seq[Int]): TableDef
  def remove(t: TableDef, column: String): TableDef
  /** The TYPE's argument list as SHOW CREATE prints it. */
  protected def typeArgs(t: TableDef, column: String): String = ""

  def name(column: String): String = s"${prefix}_$column"

  /** SHOW CREATE TABLE `INDEX` lines. */
  def render(t: TableDef): Seq[String] = columns(t).map(c =>
    s"  INDEX ${name(c)} $c TYPE $typeName${typeArgs(t, c)} GRANULARITY 1")
}

object IndexKind {
  /** Every kind, in SHOW CREATE order. */
  val all: Seq[IndexKind] = SkipIndex.all :+ VectorSimilarity

  def forType(kind: String): Option[IndexKind] = {
    val k = kind.toLowerCase
    all.find(i => i.typeName == k || i.aliases.contains(k))
  }

  /** (kind, column) for a canonical `<prefix>_<column>` index name. */
  def forName(idxName: String): Option[(IndexKind, String)] =
    idxName.split("_", 2) match {
      case Array(p, c) => all.find(_.prefix == p).map(_ -> c)
      case _ => None
    }
}

/** ClickHouse data-skipping indexes for columns the sort key does not
  * cover: `bloom_filter`, `tokenbf_v1`, `set(N)`, `minmax` and `full_text`.
  * One object per kind; the kinds differ only in what is written here.
  *
  * The shared contract:
  *   - '''Sidecars.''' Each kind keeps one sidecar per data file per
  *     declared column at `<dir>/_idx/<file>.<column><suffix>`, beside the
  *     file it describes. The `_` prefix hides it from listings, and it
  *     travels with its directory through partition moves and GC.
  *   - '''Fail open.''' A pruned read drops a file only when its sidecar
  *     says no row can match ([[survives]] is false). A file without a
  *     sidecar, an overflow marker, or an unprunable value is kept, and the
  *     caller's predicate still applies on top, so pruning never changes a
  *     result.
  *   - '''Append and unpartitioned only.''' A merge view (Replacing,
  *     Summing, Aggregating, Collapsing) needs every file of a key group,
  *     and a partitioned table already prunes by directory and reads its
  *     partition values from directory names, so pruned reads refuse both.
  *   - '''Discovery is the missing sidecar.''' Every commit indexes the
  *     files it wrote before it publishes them, and `MATERIALIZE INDEX`
  *     indexes exactly the live files one [[Listing]] shows without their
  *     sidecar — the backfill after `ADD INDEX`. Every indexed file gets a
  *     sidecar, also when it holds no value to index, so no file is
  *     scanned twice.
  */
sealed trait SkipIndex extends IndexKind {
  /** The index as refusals name it: "no <label> declared on <column>";
    * its first word names the pruned read ("<word>-pruned reads …").
    */
  def label: String
  /** CREATE-time checks beyond the column rules every kind shares. */
  def validate(t: TableDef): Unit = ()
  /** The sidecar of a file with no row to index. */
  def empty: Array[Byte]

  type Probe
  /** Can a file whose sidecar holds `sidecar` contain a row `probe` matches? */
  def survives(sidecar: Array[Byte], probe: Probe): Boolean
}

object SkipIndex {
  val all: Seq[SkipIndex] = Seq(Bloom, MinMax, SetIndex, Token, FullText)

  def sidecar(file: Path, column: String, suffix: String): Path =
    new Path(file.getParent, s"_idx/${file.getName}.$column$suffix")

  private[catalog] def put(f: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = f.create(p, true)
    try out.write(bytes) finally out.close()
  }

  private[catalog] def json(v: org.json4s.JValue): Array[Byte] =
    JsonMethods.compact(JsonMethods.render(v)).getBytes(UTF_8)

  /** Each row's `__col` bound, from (column, bound) pairs. */
  private[catalog] def bound(cols: Seq[(String, Int)]): Column =
    cols.map { case (c, n) => when(col("__col") === lit(c), lit(n)) }
      .reduce((a, b) => a.otherwise(b))

  /** Declared index columns projected from the DECLARED schema, never a
    * sampled file's physical one: after an ALTER MODIFY COLUMN the files
    * can mix narrow and wide physical types, the declared read schema
    * promotes both, and the sidecars key values by the type every probe
    * value arrives in. The files are scanned through the statuses the
    * caller holds ([[TableLog.frame]]): nothing is listed or stat-ed.
    */
  private[catalog] def scan(spark: SparkSession, t: TableDef, files: Seq[FileStatus],
                            cols: Seq[String]): DataFrame =
    TableLog.frame(spark, new Path(t.path), files, StructType(cols.distinct.map(c => t.schema(c))))

  /** Write every sidecar `listing` shows missing (optionally only the
    * one `(kind, column)` a MATERIALIZE INDEX names), in a fixed number of
    * jobs whatever the file count:
    *   - one per-file aggregate over the files missing a bloom, token or
    *     minmax sidecar: row and token counts size the blooms, and the
    *     minmax sidecars are written from it in the same job;
    *   - one bloom job for `bloom_filter` and `tokenbf_v1` together;
    *   - the bounded set(N) and full-text builds.
    * All of them write on the executors through the session's Hadoop
    * settings; only the empty sidecars of files with no row to index are
    * written here.
    */
  private[catalog] def maintain(spark: SparkSession, f: FileSystem, t: TableDef,
                                listing: Listing,
                                only: Option[(SkipIndex, String)] = None): Unit = {
    val slots = for {
      k <- all
      c <- k.columns(t) if t.schema.fieldNames.contains(c) && only.forall(_ == (k -> c))
    } yield (k, c)
    if (slots.isEmpty) return
    def missing(kinds: Set[SkipIndex]): Seq[FileStatus] =
      listing.files.filter(s => slots.exists { case (k, c) =>
        kinds(k) && !listing.has(sidecar(s.getPath, c, k.suffix))
      })
    lazy val w = SidecarWriter(spark)
    // per build (keyed by one of its kinds), the files missing any sidecar
    // of its slots; each such file is rebuilt for all of them
    val built = Map[SkipIndex, Seq[FileStatus]](
      MinMax -> missing(Set(Bloom, Token, MinMax)),
      Bloom -> missing(Set(Bloom, Token)),
      SetIndex -> missing(Set(SetIndex)),
      FullText -> missing(Set(FullText)))
    val written = scala.collection.mutable.Set.empty[String]
    val stat = slots.filter(s => s._1 == Bloom || s._1 == Token || s._1 == MinMax)
    if (stat.nonEmpty && built(MinMax).nonEmpty) {
      val (sizes, mmKeys) = fileStats(spark, t, built(MinMax), stat, w)
      written ++= mmKeys
      val blooms = stat.filter(_._1 != MinMax)
      if (blooms.nonEmpty && built(Bloom).nonEmpty)
        written ++= bloomBuild(spark, t, built(Bloom), blooms, sizes, w)
    }
    val sets = slots.collect { case (SetIndex, c) => c -> t.setIndexCols.toMap.apply(c) }
    if (sets.nonEmpty && built(SetIndex).nonEmpty)
      written ++= SetIndex.build(spark, t, built(SetIndex), sets, w)
    val fts = slots.collect { case (FullText, c) => c -> t.fullTextCols.toMap.apply(c) }
    if (fts.nonEmpty && built(FullText).nonEmpty)
      written ++= FullText.build(spark, t, built(FullText), fts, w)
    slots.foreach { case (k, c) =>
      built(if (k == Token) Bloom else k).foreach { s =>
        val sc = sidecar(s.getPath, c, k.suffix)
        if (!written(Listing.key(sc))) put(f, sc, k.empty)
      }
    }
  }

  /** The per-file aggregate: (file → (rows, tokens)) for bloom sizing, and
    * the keys of the minmax sidecars it wrote.
    */
  private def fileStats(spark: SparkSession, t: TableDef, files: Seq[FileStatus],
                        slots: Seq[(SkipIndex, String)], w: SidecarWriter)
      : (Map[String, (Long, Long)], Seq[String]) = {
    val mm = slots.collect { case (MinMax, c) => c }
    // token blooms are sized by the file's token count over EVERY declared
    // token column, whichever of them is being built
    val tokCols =
      if (slots.exists(_._1 == Token)) Token.columns(t).filter(t.schema.fieldNames.contains)
      else Nil
    val tokens =
      if (tokCols.isEmpty) lit(0L)
      else sum(tokCols.map(c => coalesce(size(Token.load(c)), lit(0))).reduce(_ + _))
    val aggs = Seq(count(lit(1)), tokens) ++ mm.flatMap(c => Seq(min(col(c)), max(col(c))))
    val out = scan(spark, t, files, slots.map(_._2) ++ tokCols)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .rdd.mapPartitions(_.map { r =>
        val file = r.getString(0)
        val keys = mm.zipWithIndex.map { case (c, i) =>
          w.write(file, c, MinMax.suffix, MinMax.encode(r.get(3 + 2 * i), r.get(4 + 2 * i)))
        }
        (file, (r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2)), keys)
      }).collect()
    (out.map(o => o._1 -> o._2).toMap, out.toSeq.flatMap(_._3))
  }

  /** One streamed pass for every bloom and token slot: rows go into
    * per-(file, slot) partial blooms per scan partition, partials merge by
    * key, and each finished filter is written where it was merged. Task
    * memory is a handful of fixed-size filters, never a file's values.
    * Partials built from the same (n, fpp) merge bit for bit, so the
    * result does not depend on how the scan was split.
    */
  private def bloomBuild(spark: SparkSession, t: TableDef, files: Seq[FileStatus],
                         slots: Seq[(SkipIndex, String)],
                         sizes: Map[String, (Long, Long)],
                         w: SidecarWriter): Seq[String] = {
    val kinds = slots.map(_._1.asInstanceOf[BloomKind]).toArray
    val cols = slots.map(_._2).toArray
    val bcSizes = spark.sparkContext.broadcast(sizes)
    scan(spark, t, files, cols.toSeq)
      .select(input_file_name() +: slots.zipWithIndex.map { case ((k, c), i) =>
        k.asInstanceOf[BloomKind].load(c).as(s"__s$i")
      }: _*)
      .rdd.mapPartitions { rows =>
        val acc = scala.collection.mutable.HashMap.empty[(String, Int), BloomFilter]
        rows.foreach { r =>
          val file = r.getString(0)
          val (n, toks) = bcSizes.value.getOrElse(file, (1L, 1L))
          var i = 0
          while (i < kinds.length) {
            val bf = acc.getOrElseUpdate((file, i), BloomFilter.create(
              math.max(if (kinds(i) == Token) toks else n, 1L), BloomKind.Fpp))
            if (!r.isNullAt(i + 1)) kinds(i).feed(bf, r.get(i + 1))
            i += 1
          }
        }
        acc.iterator.map { case (k, bf) => (k, BloomKind.bytes(bf)) }
      }
      .reduceByKey((a, b) => BloomKind.bytes(BloomKind.read(a).mergeInPlace(BloomKind.read(b))))
      .mapPartitions(_.map { case ((file, i), bytes) =>
        w.write(file, cols(i), kinds(i).suffix, bytes)
      })
      .collect().toSeq
  }
}

/** One storage listing of data roots: the data files a Spark scan of the
  * roots reads, and the `_idx/` sidecars already written beside them.
  * Hidden entries (a name starting with `_` or `.`) are never data, judged
  * relative to the root, so a table may itself live under another table's
  * `_idx/` (the ANN companion tables do). The one hidden directory listed
  * is each level's `_idx/`. One `listStatus` per directory, never a
  * per-file probe: "which files lack a sidecar" is a set difference.
  */
final case class Listing(files: Seq[FileStatus], sidecars: Seq[Path]) {
  private lazy val present = sidecars.map(Listing.key).toSet
  def has(sidecar: Path): Boolean = present(Listing.key(sidecar))
}

object Listing {
  /** Identity of a path across its renderings (`file:/a` from a listing,
    * `file:///a` from `input_file_name`): the decoded absolute path.
    */
  def key(p: Path): String = p.toUri.getPath

  def of(f: FileSystem, roots: Seq[String]): Listing = {
    val files = Seq.newBuilder[FileStatus]
    val sidecars = Seq.newBuilder[Path]
    def visit(entries: Array[FileStatus]): Unit = entries.foreach { s =>
      val n = s.getPath.getName
      if (n == "_idx") {
        if (s.isDirectory) sidecars ++= f.listStatus(s.getPath).filter(_.isFile).map(_.getPath)
      } else if (n.startsWith("_") || n.startsWith(".")) ()
      else if (s.isDirectory) visit(f.listStatus(s.getPath))
      else if (n.endsWith(".parquet")) files += s
    }
    roots.foreach { r =>
      // a never-written root is empty
      visit(try f.listStatus(new Path(r)) catch { case _: FileNotFoundException => Array.empty })
    }
    Listing(files.result(), sidecars.result())
  }
}

/** Writes sidecars on the executors through the session's Hadoop settings
  * (credentials, `fs.<scheme>.impl`), shipped as plain entries: a bare
  * `new Configuration` there would silently drop them, and Spark's
  * SerializableConfiguration is private[spark].
  */
private[catalog] final class SidecarWriter(entries: Broadcast[Array[(String, String)]])
    extends Serializable {
  @transient private lazy val conf = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    entries.value.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Write `bytes` as the `column` sidecar of the data file at `fileUri`;
    * returns its [[Listing.key]].
    */
  def write(fileUri: String, column: String, suffix: String, bytes: Array[Byte]): String = {
    val sc = SkipIndex.sidecar(new Path(new java.net.URI(fileUri)), column, suffix)
    SkipIndex.put(sc.getFileSystem(conf), sc, bytes)
    Listing.key(sc)
  }
}

private[catalog] object SidecarWriter {
  def apply(spark: SparkSession): SidecarWriter = {
    import scala.jdk.CollectionConverters._
    val entries = spark.sessionState.newHadoopConf().iterator().asScala
      .map(e => e.getKey -> e.getValue).toArray
    new SidecarWriter(spark.sparkContext.broadcast(entries))
  }
}

/** The two bloom kinds: one filter per file per column at 1% fpp, sized by
  * the file's row count (`bloom_filter`) or token count (`tokenbf_v1`).
  */
sealed abstract class BloomKind extends SkipIndex {
  /** The column as the filter takes it. */
  def load(c: String): Column
  def feed(bf: BloomFilter, v: Any): Unit
  def empty: Array[Byte] = BloomKind.bytes(BloomFilter.create(1L, BloomKind.Fpp))
}

object BloomKind {
  val Fpp = 0.01
  def bytes(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
  def read(b: Array[Byte]): BloomFilter = BloomFilter.readFrom(new ByteArrayInputStream(b))
}

/** `INDEX … TYPE bloom_filter`: equality probes on the whole value. The
  * sketch filter takes only string, binary and integral keys.
  */
object Bloom extends BloomKind {
  val typeName = "bloom_filter"
  val prefix = "bf"
  val suffix = ".bloom"
  val label = "bloom skip-index"
  def columns(t: TableDef): Seq[String] = t.indexCols
  def add(t: TableDef, c: String, args: Seq[Int]): TableDef = t.copy(indexCols = t.indexCols :+ c)
  def remove(t: TableDef, c: String): TableDef = t.copy(indexCols = t.indexCols.filterNot(_ == c))

  // a double/decimal/date column would pass CREATE and then throw
  // executor-side on every append, after the data is durably written
  override def validate(t: TableDef): Unit = t.indexCols.foreach { c =>
    val dt = t.schema(c).dataType
    require(dt == StringType || dt == BinaryType ||
        Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"${t.name}: bloom skip-index column $c is ${dt.simpleString}; the " +
        "sketch BloomFilter supports only string, binary, and integral " +
        "columns — declare it under minmaxCols for range skipping instead")
  }

  def load(c: String): Column = col(c)
  def feed(bf: BloomFilter, v: Any): Unit = bf.put(v)

  type Probe = Any
  def survives(sidecar: Array[Byte], value: Any): Boolean = {
    val bf = BloomKind.read(sidecar)
    value match {
      case s: String => bf.mightContainString(s)
      case b: Array[Byte] => bf.mightContainBinary(b)
      case n: Number => bf.mightContainLong(n.longValue())
      case other => bf.mightContain(other)
    }
  }
}

/** `INDEX … TYPE tokenbf_v1` (the log-search workhorse): every word token
  * of every row goes into the file's filter, so a `hasToken` probe drops
  * files an equality bloom cannot. Tokens are [[Catalog.TokenSeparators]]
  * runs, shared with the probe side and [[Catalog.hasToken]].
  */
object Token extends BloomKind {
  val typeName = "tokenbf_v1"
  override val aliases = Seq("ngrambf_v1")
  val prefix = "tok"
  val suffix = ".tokenbloom"
  val label = "token skip-index"
  def columns(t: TableDef): Seq[String] = t.tokenIndexCols
  def add(t: TableDef, c: String, args: Seq[Int]): TableDef =
    t.copy(tokenIndexCols = t.tokenIndexCols :+ c)
  def remove(t: TableDef, c: String): TableDef =
    t.copy(tokenIndexCols = t.tokenIndexCols.filterNot(_ == c))

  override def validate(t: TableDef): Unit = t.tokenIndexCols.foreach { c =>
    require(t.schema(c).dataType == StringType,
      s"${t.name}: token skip-index column $c is " +
        s"${t.schema(c).dataType.simpleString}; tokenbf-style indexes " +
        "apply to string columns only")
  }

  def load(c: String): Column = split(col(c), Catalog.TokenSeparators)
  def feed(bf: BloomFilter, v: Any): Unit =
    v.asInstanceOf[scala.collection.Seq[String]].foreach(tok => if (tok.nonEmpty) bf.putString(tok))

  type Probe = String
  def survives(sidecar: Array[Byte], token: String): Boolean =
    BloomKind.read(sidecar).mightContainString(token)
}

/** `INDEX … TYPE minmax`: one `[min, max]` record per file, for range
  * probes that skip a file without fetching its footer. Values compare
  * within a kind, "num" (BigDecimal; dates as epoch days, timestamps as
  * epoch micros) or "str" (UTF-8 byte order, Spark's string order).
  */
object MinMax extends SkipIndex {
  val typeName = "minmax"
  val prefix = "mm"
  val suffix = ".minmax"
  val label = "minmax skip-index"
  def columns(t: TableDef): Seq[String] = t.minmaxCols
  def add(t: TableDef, c: String, args: Seq[Int]): TableDef = t.copy(minmaxCols = t.minmaxCols :+ c)
  def remove(t: TableDef, c: String): TableDef = t.copy(minmaxCols = t.minmaxCols.filterNot(_ == c))
  def empty: Array[Byte] = encode(null, null)

  /** Orderable form of a driver-side value. Throws for values with no
    * total order BigDecimal can hold (NaN/Infinity) and unsupported types:
    * [[encode]] turns that into an unprunable sidecar, while a probe-side
    * throw is a caller error and stays loud.
    */
  private def key(v: Any): (String, Any) = v match {
    case s: String => ("str", s)
    case d: java.math.BigDecimal => ("num", BigDecimal(d))
    case d: java.sql.Date => ("num", BigDecimal(d.toLocalDate.toEpochDay))
    case d: java.time.LocalDate => ("num", BigDecimal(d.toEpochDay))
    case t: java.sql.Timestamp => ("num", micros(t.toInstant))
    case i: java.time.Instant => ("num", micros(i))
    case l: java.time.LocalDateTime => // TIMESTAMP_NTZ driver-side value
      ("num", micros(l.toInstant(java.time.ZoneOffset.UTC)))
    case b: java.lang.Boolean => ("num", BigDecimal(if (b) 1 else 0))
    case n: java.lang.Number => ("num", BigDecimal(n.toString)) // throws on NaN/Inf
    case other => throw new IllegalArgumentException(
      s"minmax index: unsupported value type ${other.getClass.getName}")
  }

  private def micros(i: java.time.Instant): BigDecimal =
    BigDecimal(i.getEpochSecond) * BigDecimal(1000000L) + BigDecimal(i.getNano / 1000L)

  /** Spark orders strings by UTF-8 bytes; JVM `String` order (UTF-16 code
    * units) disagrees beyond the BMP and would prune files holding matches.
    */
  private def utf8Leq(a: String, b: String): Boolean = {
    val x = a.getBytes(UTF_8)
    val y = b.getBytes(UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length <= y.length
  }

  private def leq(a: (String, Any), b: (String, Any)): Boolean = (a, b) match {
    case (("num", x: BigDecimal), ("num", y: BigDecimal)) => x <= y
    case (("str", x: String), ("str", y: String)) => utf8Leq(x, y)
    case _ => true // mixed kinds: no defined order — fail open
  }

  /** A file's sidecar from its min and max. Bounds that cannot be encoded
    * (NaN/Infinity extremes, exotic types) give an explicit "none" sidecar:
    * the file is kept by every probe and never re-enters the missing set.
    */
  def encode(mn: Any, mx: Any): Array[Byte] = {
    def enc(v: Any): org.json4s.JValue =
      if (v == null) org.json4s.JNull
      else key(v) match {
        case (_, bd: BigDecimal) => org.json4s.JString(bd.toString)
        case (_, s: String) => org.json4s.JString(s)
        case _ => org.json4s.JNull
      }
    try {
      val kind =
        if (mn == null && mx == null) "num" // all-null file: kind moot
        else key(if (mn != null) mn else mx)._1
      SkipIndex.json(("k" -> kind) ~ ("min" -> enc(mn)) ~ ("max" -> enc(mx)))
    } catch { case scala.util.control.NonFatal(_) => """{"k":"none"}""".getBytes(UTF_8) }
  }

  /** Inclusive `[lo, hi]` in [[key]] form; `None` is an open side. */
  type Probe = (Option[(String, Any)], Option[(String, Any)])
  def range(lo: Any, hi: Any): Probe = (Option(lo).map(key), Option(hi).map(key))
  def survives(sidecar: Array[Byte], range: Probe): Boolean = {
    val j = JsonMethods.parse(new String(sidecar, UTF_8))
    def bound(k: String): Option[(String, Any)] = (j \ k) match {
      case org.json4s.JString(s) => (j \ "k") match {
        case org.json4s.JString("num") => Some(("num", BigDecimal(s)))
        case _ => Some(("str", s))
      }
      case _ => None
    }
    (j \ "k") match {
      case org.json4s.JString("none") => true // marked unprunable
      case _ => (bound("min"), bound("max")) match {
        case (Some(mn), Some(mx)) =>
          range._1.forall(l => leq(l, mx)) && range._2.forall(h => leq(mn, h))
        case _ => false // all-null file: no value satisfies a range
      }
    }
  }
}

/** `INDEX … TYPE set(N)`: each file's EXACT distinct values, if there are
  * at most N; a file over the bound stores an overflow marker and is always
  * kept. Values render with `toString` (string, integral and boolean
  * columns only), so equality on the rendering is value equality. NULLs are
  * not stored: equality and IN never select them.
  */
object SetIndex extends SkipIndex {
  val typeName = "set"
  val prefix = "set"
  val suffix = ".set"
  val label = "set skip-index"
  def columns(t: TableDef): Seq[String] = t.setIndexCols.map(_._1)
  def add(t: TableDef, c: String, args: Seq[Int]): TableDef = {
    val n = args.headOption.getOrElse(throw new IllegalArgumentException(
      s"${t.name}: INDEX TYPE set needs a max-distinct bound set(N)"))
    t.copy(setIndexCols = t.setIndexCols :+ (c -> n))
  }
  def remove(t: TableDef, c: String): TableDef =
    t.copy(setIndexCols = t.setIndexCols.filterNot(_._1 == c))
  override protected def typeArgs(t: TableDef, c: String): String =
    s"(${t.setIndexCols.toMap.apply(c)})"
  def empty: Array[Byte] = SkipIndex.json(("kind" -> "set") ~ ("vals" -> Seq.empty[String]))

  override def validate(t: TableDef): Unit = {
    t.setIndexCols.foreach { case (c, n) =>
      require(n > 0, s"${t.name}: set skip-index on $c needs a positive " +
        s"max-distinct bound (got $n)")
      val dt = t.schema(c).dataType
      require(dt == StringType ||
          Seq[DataType](ByteType, ShortType, IntegerType, LongType, BooleanType).contains(dt),
        s"${t.name}: set skip-index column $c is ${dt.simpleString}; " +
          "exact value sets support string, integral, and boolean columns")
    }
    require(t.setIndexCols.map(_._1).distinct.length == t.setIndexCols.length,
      s"${t.name}: a column appears twice in setIndexCols")
  }

  /** One action over the distinct (file, column, value) triples: the
    * distinct count decides overflow, and values are collected only for
    * groups within their bound, so no executor holds more than N values
    * of a group.
    */
  private[catalog] def build(spark: SparkSession, t: TableDef, files: Seq[FileStatus],
                             cols: Seq[(String, Int)], w: SidecarWriter): Seq[String] = {
    val base = SkipIndex.scan(spark, t, files, cols.map(_._1))
    val triples = cols.map { case (c, _) =>
      base.select(input_file_name().as("__file"), lit(c).as("__col"),
        col(c).cast("string").as("__v"))
        .filter(col("__v").isNotNull)
    }.reduce(_.union(_)).distinct()
    val key = Seq("__file", "__col")
    val counts = triples.groupBy(key.map(col): _*).agg(count(lit(1)).as("__n"))
    val small = triples.join(counts, key).filter(col("__n") <= SkipIndex.bound(cols))
      .groupBy(key.map(col): _*).agg(sort_array(collect_list(col("__v"))).as("__vals"))
    val bounds = cols.toMap
    counts.join(small, key, "left_outer")
      .select(col("__file"), col("__col"), col("__n"), col("__vals"))
      .rdd.mapPartitions(_.map { r =>
        val c = r.getString(1)
        val sidecar =
          if (r.getLong(2) > bounds(c)) SkipIndex.json("kind" -> "overflow")
          else SkipIndex.json(("kind" -> "set") ~
            ("vals" -> Option(r.getSeq[String](3)).fold(List.empty[String])(_.toList)))
        w.write(r.getString(0), c, suffix, sidecar)
      }).collect().toSeq
  }

  /** Probe: the rendered IN-list. */
  type Probe = Set[String]
  def survives(sidecar: Array[Byte], values: Set[String]): Boolean = {
    val j = JsonMethods.parse(new String(sidecar, UTF_8))
    (j \ "kind") match {
      case org.json4s.JString("set") => (j \ "vals") match {
        case org.json4s.JArray(xs) =>
          xs.exists { case org.json4s.JString(s) => values.contains(s); case _ => false }
        case _ => true // malformed → fail open
      }
      case _ => true // overflow (or unknown kind) → kept
    }
  }
}

/** `INDEX … TYPE full_text(N)` (the inverted index; `inverted` and `gin`
  * are aliases): per file, token → the row ordinals carrying it, so a
  * multi-token AND or phrase probe drops a file whose tokens never
  * co-occur in one row — a prune no bloom can make. N bounds the distinct
  * tokens per file (over it: an overflow marker, kept); a token in more
  * rows than [[Catalog.FullTextRowCap]] keeps a dense marker instead of its
  * list (present, rows unknown = universal for intersection). Row ordinals
  * are the parquet reader's `_metadata.row_index`.
  */
object FullText extends SkipIndex {
  val typeName = "full_text"
  override val aliases = Seq("inverted", "gin")
  val prefix = "ft"
  val suffix = ".postings"
  val label = "full-text index"
  def columns(t: TableDef): Seq[String] = t.fullTextCols.map(_._1)
  // the numeric arg is this engine's bound (max distinct tokens per file),
  // not ClickHouse's ngram size; absent → a generous default
  def add(t: TableDef, c: String, args: Seq[Int]): TableDef =
    t.copy(fullTextCols = t.fullTextCols :+ (c -> args.headOption.getOrElse(65536)))
  def remove(t: TableDef, c: String): TableDef =
    t.copy(fullTextCols = t.fullTextCols.filterNot(_._1 == c))
  override protected def typeArgs(t: TableDef, c: String): String =
    s"(${t.fullTextCols.toMap.apply(c)})"
  def empty: Array[Byte] = SkipIndex.json(("kind" -> "postings") ~
    ("dense" -> Seq.empty[String]) ~ ("toks" -> org.json4s.JObject(Nil)))

  override def validate(t: TableDef): Unit = {
    t.fullTextCols.foreach { case (c, n) =>
      require(n > 0, s"${t.name}: full-text index on $c needs a positive " +
        s"max-distinct-token bound (got $n)")
      require(t.schema(c).dataType == StringType,
        s"${t.name}: full-text index column $c is " +
          s"${t.schema(c).dataType.simpleString}; posting lists index text")
    }
    require(t.fullTextCols.map(_._1).distinct.length == t.fullTextCols.length,
      s"${t.name}: a column appears twice in fullTextCols")
  }

  /** One action, bounded like [[SetIndex.build]]:
    *   - per-token ordinal lists are cut at rowCap+1 by a `row_number()`
    *     filter (a WindowGroupLimit, applied map-side under the window
    *     exchange) before any collection, so no buffer holds more than
    *     rowCap+1 ordinals; a token that reaches rowCap+1 is dense;
    *   - the overflow verdict joins back as a broadcast of one row per
    *     (file, column), so an over-bound file's vocabulary is dropped
    *     before the per-(file, column) fold.
    */
  private[catalog] def build(spark: SparkSession, t: TableDef, files: Seq[FileStatus],
                             cols: Seq[(String, Int)], w: SidecarWriter): Seq[String] = {
    val rowCap = Catalog.FullTextRowCap
    val base = SkipIndex.scan(spark, t, files, cols.map(_._1))
    val quads = cols.map { case (c, _) =>
      base.select(input_file_name().as("__file"), lit(c).as("__col"),
        explode(split(coalesce(col(c), lit("")), Catalog.TokenSeparators)).as("__tok"),
        col("_metadata.row_index").as("__row"))
        .filter(col("__tok") =!= "")
    }.reduce(_.union(_)).distinct()
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__file"), col("__col"), col("__tok"))
      .orderBy(col("__row"))
    val perTok = quads
      .withColumn("__rn", row_number().over(win))
      .filter(col("__rn") <= lit(rowCap + 1))
      .groupBy(col("__file"), col("__col"), col("__tok"))
      .agg(count(lit(1)).as("__n"), sort_array(collect_list(col("__row"))).as("__rows"))
    val vocab = perTok.groupBy(col("__file"), col("__col"))
      .agg(count(lit(1)).as("__vocab"))
      .withColumn("__overflow", col("__vocab") > SkipIndex.bound(cols))
    val admitted = broadcast(
      vocab.filter(!col("__overflow")).select(col("__file"), col("__col")))
    // to_json omits null struct fields: a group with no dense (or no
    // sparse) token lacks that key, which the probe reads as empty
    def nullIfEmpty(c: Column): Column = when(size(c) > 0, c)
    val folded = perTok.join(admitted, Seq("__file", "__col"))
      .groupBy(col("__file"), col("__col"))
      .agg(
        nullIfEmpty(sort_array(collect_list(
          when(col("__n") > rowCap, col("__tok"))))).as("dense"),
        nullIfEmpty(map_from_entries(collect_list(
          when(col("__n") <= rowCap, struct(col("__tok"), col("__rows")))))).as("toks"))
      .select(col("__file"), col("__col"),
        to_json(struct(lit("postings").as("kind"), col("dense"), col("toks"))).as("__json"))
    folded.unionByName(
      vocab.filter(col("__overflow")).select(col("__file"), col("__col"),
        to_json(struct(lit("overflow").as("kind"))).as("__json")))
      .rdd.mapPartitions(_.map { r: Row =>
        w.write(r.getString(0), r.getString(1), suffix, r.getString(2).getBytes(UTF_8))
      }).collect().toSeq
  }

  /** Probe: single tokens that must co-occur in one row. */
  type Probe = Seq[String]
  def survives(sidecar: Array[Byte], tokens: Seq[String]): Boolean = {
    val j = JsonMethods.parse(new String(sidecar, UTF_8))
    (j \ "kind") match {
      case org.json4s.JString("postings") =>
        val dense: Set[String] = (j \ "dense") match {
          case org.json4s.JArray(xs) => xs.collect { case org.json4s.JString(s) => s }.toSet
          case _ => Set.empty
        }
        def rowsOf(tok: String): Option[Set[Long]] = (j \ "toks" \ tok) match {
          case org.json4s.JArray(xs) => Some(xs.collect {
            case org.json4s.JLong(v) => v
            case org.json4s.JInt(v) => v.toLong
          }.toSet)
          case _ => None
        }
        // every token present, and the sparse tokens' row sets intersect
        val lists = tokens.filterNot(dense.contains).map(rowsOf)
        if (lists.exists(_.isEmpty)) false // a probe token is absent
        else lists.flatten match {
          case Nil => true // all probe tokens dense
          case xs => xs.reduce(_ intersect _).nonEmpty
        }
      case _ => true // overflow (or unknown kind) → kept
    }
  }
}

/** `INDEX … TYPE vector_similarity`: declared here with the other kinds;
  * built and probed by [[AnnIndex]] as a companion table, not per file.
  * Numeric args map to the IVF-PQ (nCells, m, k); ClickHouse's quoted
  * method/metric args are accepted and ignored.
  */
object VectorSimilarity extends IndexKind {
  val typeName = "vector_similarity"
  val prefix = "ann"
  val suffix = ".annenc"
  def columns(t: TableDef): Seq[String] = t.annIndex.map(_.column).toSeq
  def add(t: TableDef, c: String, args: Seq[Int]): TableDef = {
    require(t.annIndex.isEmpty, s"${t.name}: at most one vector_similarity index per table")
    t.copy(annIndex = Some(AnnIndexDef(c, nCells = args.lift(0).getOrElse(16),
      m = args.lift(1).getOrElse(8), k = args.lift(2).getOrElse(16))))
  }
  def remove(t: TableDef, c: String): TableDef = t.copy(annIndex = None)
  override protected def typeArgs(t: TableDef, c: String): String =
    t.annIndex.map(a => s"(${a.nCells}, ${a.m}, ${a.k})").getOrElse("")
}
