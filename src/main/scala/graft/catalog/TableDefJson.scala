package graft.catalog

import org.apache.spark.sql.types.{DataType, MetadataBuilder, StructType}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** The one JSON form of a [[TableDef]]: the `table` a log entry holds,
  * with the keys of the `_TABLE` sidecar older builds wrote, so [[parse]]
  * reads both (with a fallback for each key an older sidecar lacks).
  * json4s, not string splicing: column names may hold braces, commas and
  * quotes. Pairs are `[a, b]` arrays, so declaration order survives. The
  * path is not stored: a table is wherever its log is.
  */
private[graft] object TableDefJson {

  def render(t: TableDef): JValue = {
    def pairs[A](xs: Seq[(String, A)]): JValue =
      JArray(xs.toList.map { case (a, b) => JArray(List(JString(a), JString(b.toString))) })
    val sem: JObject = t.semantics match {
      case Append => "kind" -> "append"
      case NullEngine => "kind" -> "null"
      case ReplacingDedup(keys, v, isDel) =>
        ("kind" -> "replacing") ~ ("keys" -> keys) ~ ("version" -> v) ~ ("is_deleted" -> isDel)
      case Summing(keys, cols) => ("kind" -> "summing") ~ ("keys" -> keys) ~ ("cols" -> cols)
      case Aggregating(keys, cols, kinds) =>
        ("kind" -> "aggregating") ~ ("keys" -> keys) ~ ("cols" -> cols) ~ ("state_kinds" -> kinds)
      case Collapsing(keys, sign, version) =>
        ("kind" -> "collapsing") ~ ("keys" -> keys) ~ ("sign" -> sign) ~ ("version" -> version)
      case JoinAny(keys) => ("kind" -> "join_any") ~ ("keys" -> keys)
    }
    ("name" -> t.name) ~
      ("schema" -> JsonMethods.parse(t.schema.json)) ~
      ("sort_keys" -> t.sortKeys) ~
      ("partition_keys" -> t.partitionKeys) ~
      ("index_cols" -> t.indexCols) ~
      ("minmax_cols" -> t.minmaxCols) ~
      ("token_index_cols" -> t.tokenIndexCols) ~
      ("codec" -> t.codec) ~
      ("renames" -> t.renames) ~
      ("dropped_cols" -> t.droppedCols.toSeq.sorted) ~
      ("read_default_cols" -> t.backfillCols.toSeq.sorted) ~
      ("constraints" -> pairs(t.constraints)) ~
      ("materialized_cols" -> pairs(t.materializedCols)) ~
      ("column_codecs" -> pairs(t.columnCodecs)) ~
      ("set_index_cols" -> pairs(t.setIndexCols)) ~
      ("fulltext_cols" -> pairs(t.fullTextCols)) ~
      ("ann_index" -> t.annIndex.map(a =>
        Seq(a.column, a.nCells.toString, a.m.toString, a.k.toString))) ~
      // [kind, name, cols, sums]; cols and sums comma-joined (projection
      // columns are schema identifiers, never holding a comma)
      ("projections" -> t.projections.map {
        case AggProjection(n, dims, sums) => Seq("agg", n, dims.mkString(","), sums.mkString(","))
        case SortProjection(n, k) => Seq("sort", n, k, "")
      }) ~
      ("ttl" -> t.ttl.map(sp =>
        ("col" -> sp.col) ~ ("max_age_sec" -> sp.maxAgeSec) ~ ("cal_months" -> sp.calMonths) ~
          ("group_keys" -> sp.groupKeys) ~ ("set" -> pairs(sp.set)))) ~
      ("semantics" -> sem)
  }

  /** The definition `j` renders, for the table at `path`. */
  def parse(j: JValue, path: String): TableDef = {
    def str(v: JValue): String = v match {
      case JString(s) => s
      case other => throw new IllegalArgumentException(
        s"$path: malformed table definition field ($other)")
    }
    def opt(v: JValue): Option[String] = v match {
      case JString(x) => Some(x)
      case _ => None
    }
    def strs(v: JValue): Seq[String] = v match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Nil
    }
    def strMap(v: JValue): Map[String, String] = v match {
      case JObject(fs) => fs.collect { case (k, JString(s)) => k -> s }.toMap
      case _ => Map.empty
    }
    def pairs(v: JValue): Seq[(String, String)] = v match {
      case JArray(xs) => xs.collect { case JArray(List(JString(a), JString(b))) => a -> b }
      case _ => Nil
    }
    def num(v: JValue): Option[Long] = v match {
      case JInt(n) => Some(n.toLong)
      case JLong(n) => Some(n)
      case _ => None
    }
    val s = j \ "semantics"
    val keys = strs(s \ "keys")
    val sem = str(s \ "kind") match {
      case "append" => Append
      case "null" => NullEngine
      case "replacing" => ReplacingDedup(keys, str(s \ "version"), opt(s \ "is_deleted"))
      case "summing" => Summing(keys, strs(s \ "cols"))
      // state_kinds is absent from sidecars older than the kinds: all HLL
      case "aggregating" => Aggregating(keys, strs(s \ "cols"), strMap(s \ "state_kinds"))
      case "collapsing" => Collapsing(keys, str(s \ "sign"), str(s \ "version"))
      case "join_any" => JoinAny(keys)
      case other => throw new IllegalArgumentException(s"$path: unknown semantics $other")
    }
    // older sidecars stored an ADD COLUMN default only under `defaults`:
    // it becomes that field's declaration
    val defaults = strMap(j \ "defaults")
    val schema = DataType.fromJson(JsonMethods.compact(JsonMethods.render(j \ "schema")))
      .asInstanceOf[StructType]
    val declared = StructType(schema.fields.map(f =>
      defaults.get(f.name).filterNot(_ => f.metadata.contains("chDefault")).fold(f)(e =>
        f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putString("chDefault", e).build()))))
    val ttl = j \ "ttl" match {
      case o: JObject => Some(TtlSpec(str(o \ "col"), num(o \ "max_age_sec").getOrElse(
        throw new IllegalArgumentException(s"$path: malformed TTL max_age_sec")),
        strs(o \ "group_keys"), pairs(o \ "set"), num(o \ "cal_months")))
      case _ => None
    }
    TableDef(str(j \ "name"), path, declared, strs(j \ "sort_keys"), sem,
      strs(j \ "partition_keys"), strs(j \ "index_cols"), strs(j \ "minmax_cols"),
      // absent keys: a sidecar older than the axis
      opt(j \ "codec").getOrElse("snappy"),
      pairs(j \ "constraints"), pairs(j \ "materialized_cols"), strs(j \ "token_index_cols"),
      pairs(j \ "column_codecs"),
      pairs(j \ "set_index_cols").map { case (c, n) => c -> n.toInt },
      pairs(j \ "fulltext_cols").map { case (c, n) => c -> n.toInt },
      strs(j \ "ann_index") match {
        case Seq(c, n, m, k) => Some(AnnIndexDef(c, n.toInt, m.toInt, k.toInt))
        case _ => None
      },
      (j \ "projections").children.map(p => strs(p)).collect {
        case Seq("agg", n, d, s) =>
          AggProjection(n, d.split(',').filter(_.nonEmpty).toSeq, s.split(',').filter(_.nonEmpty).toSeq)
        case Seq("sort", n, k, _) => SortProjection(n, k)
      },
      ttl, strs(j \ "read_default_cols").toSet, strMap(j \ "renames"),
      strs(j \ "dropped_cols").toSet)
  }
}
