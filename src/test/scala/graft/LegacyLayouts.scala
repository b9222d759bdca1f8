package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Writers of the on-disk layouts older builds left in a table directory
  * (no `_log/`): FlatDir data files, Versioned version dirs with their
  * `_CURRENT` manifest, `_segs/` segment markers and `_FOLDED` lists,
  * `<path>.dv/` deletion vectors, `<path>.snapshots/` pins and the
  * `_TABLE` definition sidecar. The attach cases stage these and check
  * that the table log adopts them.
  */
object LegacyLayouts {

  /** FlatDir: parquet files straight in the table directory. */
  def flat(df: DataFrame, path: String, partitionKeys: Seq[String] = Nil): Unit = {
    val w = df.write.mode("append")
    (if (partitionKeys.nonEmpty) w.partitionBy(partitionKeys: _*) else w).parquet(path)
  }

  /** A Versioned version directory `v<n>`. */
  def version(df: DataFrame, path: String, n: Int): String = {
    df.write.mode("overwrite").parquet(s"$path/v$n")
    s"v$n"
  }

  def manifest(path: String, version: String): Unit =
    Files.writeString(Paths.get(path, "_CURRENT"), version)

  /** A committed append segment: its directory and its `_segs/` marker. */
  def segment(df: DataFrame, path: String, name: String): String = {
    df.write.mode("overwrite").parquet(s"$path/$name")
    Files.createDirectories(Paths.get(path, "_segs"))
    Files.writeString(Paths.get(path, "_segs", name), "writer")
    name
  }

  /** The segments version `v` absorbed when a compact wrote it. */
  def folded(path: String, v: String, segs: Seq[String]): Unit =
    Files.writeString(Paths.get(path, v, "_FOLDED"), segs.mkString("\n"))

  /** A pending lightweight delete of the rows `pred` matches in `dirs`:
    * (file, pos) pairs under `<path>.dv/<name>`.
    */
  def dv(spark: SparkSession, path: String, name: String, dirs: Seq[String],
         pred: Column): String = {
    spark.read.parquet(dirs.map(d => s"$path/$d"): _*).filter(pred)
      .select(col("_metadata.file_path").as("file"), col("_metadata.row_index").as("pos"))
      .write.mode("overwrite").parquet(s"$path.dv/$name")
    name
  }

  /** The `_TABLE` sidecar an older build kept its definition in. */
  def sidecar(t: graft.catalog.TableDef): Unit = {
    Files.createDirectories(Paths.get(t.path))
    Files.writeString(Paths.get(t.path, "_TABLE"),
      org.json4s.jackson.JsonMethods.compact(graft.catalog.TableDefJson.render(t)))
  }

  /** A FREEZE pin of a read set. */
  def snapshot(path: String, tag: String, version: Option[String],
               segments: Seq[String], dvs: Seq[String]): Unit = {
    def arr(xs: Seq[String]) = xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")
    Files.createDirectories(Paths.get(path + ".snapshots"))
    Files.writeString(Paths.get(path + ".snapshots", s"$tag.json"),
      s"""{"tag":"$tag","version":${version.fold("null")(v => "\"" + v + "\"")},""" +
        s""""segments":${arr(segments)},"dv":${arr(dvs)},"ts_ms":1}""")
  }
}
