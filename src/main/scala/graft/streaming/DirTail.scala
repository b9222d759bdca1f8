package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.catalog.Catalog

/** Offset-tracked streaming source: a TAIL over a directory of
  * append-only JSONEachRow partition files, committing EXACTLY-ONCE into
  * a Catalog table — the ClickHouse Kafka-engine ingestion shape
  * (`ENGINE = Kafka` + MV into MergeTree; the reference's continuous
  * import loop, app.py:42-61, is the polling variant of the same
  * pattern) with a directory standing in for the broker: each FILE is a
  * partition, its BYTE LENGTH is the log-end offset, and this consumer
  * persists committed offsets per partition, so restarts resume where
  * the last commit left off — no duplicates, no gaps.
  *
  * ## Commit protocol (crash-safe roll-forward, three artifacts)
  *
  * Per poll that finds new bytes, batch N (= last commit + 1):
  *
  *  1. `_tail/<source>/intent-N.json` — the FROZEN read plan: per file,
  *     the byte range `[from, to)` where `to` is the last newline
  *     boundary at or below the file's current length. Published if absent; a
  *     crashed run's intent is REUSED verbatim on restart (the file may
  *     have grown since — those bytes belong to batch N+1), which is
  *     what makes the replayed batch byte-identical.
  *  2. [[Catalog.appendIdempotent]] with token `<source>-N` — the data
  *     commit. A replay after a crash between 2 and 3 is DROPPED by the
  *     token the table log's head holds, never double-inserted.
  *  3. `_tail/<source>/commit-N.json` — the offsets after N (cumulative
  *     bytes/records/broken per partition). Published if absent; deterministic from
  *     the intent, so a replayed write is byte-equivalent. Once it is
  *     published, intent-N and commit-(N-1) are deleted: the directory
  *     stays one commit (plus one intent mid-batch) however long it runs.
  *
  * Crash anywhere → the next poll reads only the highest commit K, sees
  * intent-(K+1) if present, and rolls FORWARD: re-read the frozen
  * ranges, re-offer the block (deduped), write the commit. The
  * exactly-once ledger is the commit chain; the dedup token guards the
  * one window (between 2 and 3) the ledger cannot see.
  *
  * ## Scale shape
  *
  * One task per partition file per poll (Kafka's consumer parallelism),
  * each task seeking straight to its committed offset and reading only
  * the new suffix — O(new data), not O(log). Offsets, intents, and
  * per-file record counts are partition-COUNT-sized (driver-safe, like
  * a consumer group's metadata); rows never touch the driver. Records
  * parse with `from_json` against the DECLARED schema (JSONEachRow
  * discipline: never inferred); unparseable lines are counted per
  * partition (`broken`) and dropped, CH's `kafka_skip_broken_messages`.
  *
  * One consumer per `sourceId` (a Kafka consumer group of size one):
  * concurrent polls of the same source would race the intent publish —
  * the loser fails loudly rather than splitting a batch.
  */
final class DirTail(spark: SparkSession, cat: Catalog, table: String,
                    srcDir: String, sourceId: String, schema: StructType) {

  require(sourceId.matches("[A-Za-z0-9._-]{1,64}"),
    s"sourceId must be [A-Za-z0-9._-]{1,64}, got '$sourceId'")

  private def conf = spark.sessionState.newHadoopConf()
  private def fs(p: Path): FileSystem = p.getFileSystem(conf)

  /** Per-poll sub-range cap: bounds a read task's heap to ~this many
    * bytes regardless of backlog size (overridable only for specs —
    * production polls never need it changed).
    */
  private[graft] var maxRangeBytes: Long = 128L * 1024 * 1024

  private def tailDir: Path =
    new Path(new Path(cat.get(table).path, "_tail"), sourceId)

  private case class Range(file: String, from: Long, to: Long)
  private case class PartState(bytes: Long, records: Long, broken: Long)

  // ---- offset/intent persistence (json4s, like the table log) ----

  // publish-if-absent: false when `p` already exists (a racing writer won)
  private def writeExcl(p: Path, body: String): Boolean =
    graft.catalog.TableLog.publish(fs(p), p,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def readJson(p: Path): org.json4s.JValue = {
    val in = fs(p).open(p)
    try org.json4s.jackson.JsonMethods.parse(
      scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  /** Highest committed batch number (0 = nothing committed) and its
    * offsets. Batch N+1 only starts after commit-N exists, so max() is
    * the frontier (a crash between a publish and its deletes can leave
    * the commit before it).
    */
  private def committedState(): (Long, Map[String, PartState]) = {
    val d = tailDir
    val f = fs(d)
    if (!f.exists(d)) return (0L, Map.empty)
    val ns = f.listStatus(d).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("commit-") && n.endsWith(".json") =>
        n.stripPrefix("commit-").stripSuffix(".json").toLong }
    if (ns.isEmpty) return (0L, Map.empty)
    val n = ns.max
    val j = readJson(new Path(d, s"commit-$n.json"))
    import org.json4s._
    val offs = (j \ "offsets") match {
      case JObject(fields) => fields.map { case (file, v) =>
        def l(k: String) = (v \ k) match {
          case JInt(x) => x.toLong; case JLong(x) => x; case _ => 0L
        }
        file -> PartState(l("bytes"), l("records"), l("broken"))
      }.toMap
      case _ => Map.empty[String, PartState]
    }
    (n, offs)
  }

  /** Last newline boundary at or below `len` in `file`, scanning the
    * tail BACKWARD in bounded chunks from `len` down to `from` — a
    * producer caught mid-line keeps its partial last line out of this
    * batch (it commits with the batch that sees its terminating '\n').
    */
  private def lastLineEnd(p: Path, from: Long, len: Long): Long = {
    if (len <= from) return from
    val f = fs(p)
    val in = f.open(p)
    try {
      val chunk = 64 * 1024
      var hi = len
      while (hi > from) {
        val lo = math.max(from, hi - chunk)
        val buf = new Array[Byte]((hi - lo).toInt)
        in.seek(lo)
        in.readFully(buf)
        var i = buf.length - 1
        while (i >= 0) {
          if (buf(i) == '\n') return lo + i + 1
          i -= 1
        }
        hi = lo
      }
      from
    } finally in.close()
  }

  /** Byte position just AFTER the first '\n' at or beyond `cand`
    * (capped at `hardEnd`) — the forward twin of [[lastLineEnd]], used
    * to snap sub-range cuts onto record boundaries.
    */
  private def nextLineStart(p: Path, cand: Long, hardEnd: Long): Long = {
    if (cand >= hardEnd) return hardEnd
    val in = fs(p).open(p)
    try {
      val chunk = 64 * 1024
      var lo = cand
      in.seek(lo)
      while (lo < hardEnd) {
        val n = math.min(chunk.toLong, hardEnd - lo).toInt
        val buf = new Array[Byte](n)
        in.readFully(buf, 0, n)
        var i = 0
        while (i < n) {
          if (buf(i) == '\n') return lo + i + 1
          i += 1
        }
        lo += n
      }
      hardEnd
    } finally in.close()
  }

  /** Split one file's new suffix `[from, to)` into newline-aligned
    * sub-ranges of at most ~[[maxRangeBytes]] each (a single over-long
    * line keeps its range oversized rather than splitting mid-record).
    * Bounds task heap — a first poll against a pre-existing multi-GB
    * file would otherwise plan ONE range whose `(to-from).toInt`
    * overflows negative and, the intent being frozen, replay the same
    * crash on every poll — and adds read parallelism on big backlogs.
    */
  private def subRanges(p: Path, from: Long, to: Long): Seq[Range] = {
    val out = Seq.newBuilder[Range]
    var start = from
    while (to - start > maxRangeBytes) {
      val cut = nextLineStart(p, start + maxRangeBytes, to)
      out += Range(p.toString, start, cut)
      start = cut
    }
    if (start < to) out += Range(p.toString, start, to)
    out.result()
  }

  /** Current partition files of the topic dir (regular files, sorted —
    * dotfiles and subdirs ignored).
    */
  private def partitions(): Seq[(String, Long)] = {
    val d = new Path(srcDir)
    val f = fs(d)
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq.filter(_.isFile)
      .filterNot(s => s.getPath.getName.startsWith(".") ||
        s.getPath.getName.startsWith("_"))
      .map(s => (s.getPath.toString, s.getLen))
      .sortBy(_._1)
  }

  /** One poll: ingest everything new since the last commit, exactly
    * once. Returns rows appended (0 when nothing new). `crashAfterIntent`
    * / `crashAfterAppend` are SPEC-ONLY failpoints simulating a process
    * death between commit-protocol steps.
    */
  def poll(): Long = pollOnce(false, false)

  private[graft] def pollOnce(crashAfterIntent: Boolean,
                              crashAfterAppend: Boolean): Long = {
    val (k, offsets) = committedState()
    val n = k + 1
    val d = tailDir
    fs(d).mkdirs(d)
    val intentPath = new Path(d, s"intent-$n.json")

    // roll-forward or plan: a surviving intent IS batch n's plan; else
    // freeze one from the current dir state
    val ranges: Seq[Range] =
      if (fs(intentPath).exists(intentPath)) {
        import org.json4s._
        (readJson(intentPath) \ "ranges") match {
          case JArray(xs) => xs.map { r =>
            def l(key: String) = (r \ key) match {
              case JInt(x) => x.toLong; case JLong(x) => x; case _ => 0L
            }
            Range((r \ "file") match {
              case JString(s) => s; case _ => ""
            }, l("from"), l("to"))
          }
          case _ => Nil
        }
      } else {
        val fresh = partitions().flatMap { case (file, len) =>
          val p = new Path(file)
          val from = offsets.get(file).map(_.bytes).getOrElse(0L)
          val to = lastLineEnd(p, from, len)
          if (to > from) subRanges(p, from, to) else Nil
        }
        if (fresh.isEmpty) return 0L // nothing new: no batch consumed
        val body = org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render {
            import org.json4s.JsonDSL._
            ("batch" -> n) ~ ("ranges" -> fresh.map(r =>
              ("file" -> r.file) ~ ("from" -> r.from) ~ ("to" -> r.to)))
          })
        require(writeExcl(intentPath, body),
          s"$sourceId: intent-$n already exists — concurrent consumer " +
            "on one sourceId (run exactly one)")
        fresh
      }
    if (ranges.isEmpty) { // degenerate surviving intent
      commitBatch(n, offsets)
      return 0L
    }
    if (crashAfterIntent) throw new IllegalStateException("failpoint: after intent")

    // read the frozen byte ranges — one task per partition file, seek to
    // offset, new suffix only (records never visit the driver). The
    // session hadoop conf ships to executors as plain entries (a bare
    // `new Configuration` would drop credentials/endpoints for
    // object-store topic dirs; Spark's SerializableConfiguration is
    // private[spark], so the entries ride a broadcast instead)
    val confEntries = {
      import scala.jdk.CollectionConverters._
      conf.iterator().asScala.map(e => e.getKey -> e.getValue).toArray
    }
    val bcConf = spark.sparkContext.broadcast(confEntries)
    val lines = spark.sparkContext
      .parallelize(ranges.map(r => (r.file, r.from, r.to)), ranges.size)
      .flatMap { case (file, from, to) =>
        val p = new Path(file)
        val hc = new org.apache.hadoop.conf.Configuration(false)
        bcConf.value.foreach { case (k, v) => hc.set(k, v) }
        val in = p.getFileSystem(hc).open(p)
        // stream the range in bounded chunks (never one (to-from) array:
        // a multi-GB backlog range would overflow Int / blow task heap).
        // Lines split on the raw '\n' byte — safe in UTF-8 — and decode
        // per LINE, so a multi-byte char straddling a chunk cut is fine.
        // The iterator is lazy; the task-completion listener closes the
        // stream even if the task dies mid-consumption.
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit] { _ =>
            try in.close() catch { case _: java.io.IOException => () }
          })
        in.seek(from)
        // bound under fresh names: inside the anonymous Iterator, `to`
        // would resolve to IterableOnceOps.to(factory)
        val rangeEnd = to
        val lineIt = new Iterator[String] {
          private val chunkCap = 8 * 1024 * 1024
          private var pos = from
          private var buf: Array[Byte] = Array.emptyByteArray
          private var bi = 0
          private val cur = new java.io.ByteArrayOutputStream(256)
          private var pendingLine: String = null
          private var exhausted = false
          private def refill(): Boolean = {
            if (pos >= rangeEnd) false
            else {
              val n = math.min(chunkCap.toLong, rangeEnd - pos).toInt
              buf = new Array[Byte](n)
              in.readFully(buf, 0, n)
              pos += n; bi = 0; true
            }
          }
          private def advance(): Unit =
            while (pendingLine == null && !exhausted) {
              if (bi >= buf.length) {
                if (!refill()) {
                  exhausted = true
                  // `to` is a lastLineEnd/nextLineStart boundary, so this
                  // flush only fires on a torn final record — keep it
                  // rather than silently dropping bytes
                  if (cur.size() > 0) {
                    pendingLine = new String(cur.toByteArray,
                      java.nio.charset.StandardCharsets.UTF_8)
                    cur.reset()
                  }
                }
              } else {
                while (bi < buf.length && pendingLine == null) {
                  val b = buf(bi); bi += 1
                  if (b == '\n') {
                    if (cur.size() > 0) {
                      pendingLine = new String(cur.toByteArray,
                        java.nio.charset.StandardCharsets.UTF_8)
                      cur.reset()
                    }
                  } else cur.write(b.toInt)
                }
              }
            }
          override def hasNext: Boolean = {
            if (pendingLine == null) advance()
            pendingLine != null
          }
          override def next(): String = {
            if (!hasNext) throw new NoSuchElementException
            val r = pendingLine; pendingLine = null; r
          }
        }
        lineIt.map(line => (file, line))
      }
    val raw = spark.createDataFrame(lines.map(t => org.apache.spark.sql.Row(t._1, t._2)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("_file",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_line",
          org.apache.spark.sql.types.StringType))))
      .withColumn("_parsed", from_json(col("_line"),
        // PERMISSIVE parse keeps a struct of nulls for malformed input;
        // the corrupt-record column is the reliable broken-line signal
        schema.add("_corrupt", org.apache.spark.sql.types.StringType),
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt")))
      .withColumn("_broken",
        col("_parsed").isNull || col("_parsed._corrupt").isNotNull)

    // per-partition delivery stats (partition-count-sized collect)
    val stats = raw.groupBy(col("_file"))
      .agg(count(lit(1)).as("total"),
        count(when(col("_broken"), 1)).as("broken"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    val block = raw.filter(!col("_broken"))
      .select(schema.fieldNames.map(f => col(s"_parsed.$f").as(f)).toSeq: _*)
    // data commit: at most once per token, replays dropped
    val appended = cat.appendIdempotent(table, block, s"$sourceId-$n")
    if (crashAfterAppend) throw new IllegalStateException("failpoint: after append")

    // offsets advance per FILE (a file may carry several sub-ranges this
    // batch; stats are per-file, so fold them in exactly once, and the
    // committed byte offset is the file's furthest range end)
    val newOffsets = ranges.groupBy(_.file).foldLeft(offsets) {
      case (m, (file, rs)) =>
        val prev = m.getOrElse(file, PartState(0, 0, 0))
        val (tot, broken) = stats.getOrElse(file, (0L, 0L))
        m + (file -> PartState(rs.map(_.to).max,
          prev.records + (tot - broken), prev.broken + broken))
    }
    commitBatch(n, newOffsets)
    appended.getOrElse(0L)
  }

  private def commitBatch(n: Long, offsets: Map[String, PartState]): Unit = {
    val body = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render {
        import org.json4s.JsonDSL._
        ("batch" -> n) ~ ("offsets" -> offsets.toSeq.sortBy(_._1).map {
          case (file, s) => file -> (("bytes" -> s.bytes) ~
            ("records" -> s.records) ~ ("broken" -> s.broken))
        }.toMap)
      })
    // publish-if-absent: a roll-forward replay finds it already written (same
    // deterministic content) — losing the race is success
    val d = tailDir
    writeExcl(new Path(d, s"commit-$n.json"), body)
    // the newest commit is the ledger: its intent and its predecessor are
    // spent, so the directory holds one commit between polls
    Seq(s"intent-$n.json", s"commit-${n - 1}.json").foreach(x => fs(d).delete(new Path(d, x), false))
  }

  /** `system.kafka`-like listing: one row per partition file with its
    * committed offsets — the consumer-group introspection surface.
    */
  def offsetsListing(): DataFrame = {
    import spark.implicits._
    val (n, offs) = committedState()
    offs.toSeq.sortBy(_._1)
      .map { case (f, s) => (sourceId, f, n, s.bytes, s.records, s.broken) }
      .toDF("source_id", "partition", "last_batch",
        "committed_bytes", "committed_records", "broken_records")
  }
}
