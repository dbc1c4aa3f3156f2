package graft.storage

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.graftbridge.ParquetSchemaBridge
import org.apache.spark.sql.types.StructType

import scala.util.control.NonFatal

/** Parquet schema resolution on the driver, without a Spark job.
  *
  * A schemaless `spark.read.parquet(paths)` infers its schema by
  * launching one Spark job that reads one footer: the first data file
  * of the listing in path order (`_`/`.` names skipped). For the
  * sub-second reads that make up most of the query inventory that job
  * costs more than the data. [[resolve]] opens that same file on the
  * driver and converts its footer with Spark's own
  * `readSchemaFromFooter`, so the schema handed to `.schema(...)` is
  * the one inference would have produced: names, types, nullability
  * and field metadata. Hive partition columns are not in the footer and
  * keep being inferred from the paths.
  *
  * Where inference would not read exactly that one footer, or the read
  * cannot be mirrored exactly, [[resolve]] returns None and the caller
  * reads schemaless — Spark's own path, its job and its errors
  * unchanged: no data file (missing or empty paths), glob patterns,
  * `_metadata`/`_common_metadata` summary files, schema merging on,
  * files below a directory that is not a `k=v` partition, a footer
  * column named like a partition directory, or a footer that fails to
  * read or convert. Nothing is cached across reads.
  */
object FooterSchema {

  /** The schema Spark's parquet inference would give `paths`, or None
    * where the read must infer it itself (see the object doc). */
  def resolve(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    if (paths.isEmpty || paths.exists(hasGlob) ||
        ParquetSchemaBridge.mergeSchema(spark)) None
    else try {
      val conf = ParquetSchemaBridge.hadoopConf(spark)
      val logged =
        if (paths.size == 1) ParquetSchemaBridge.sinkLogFiles(spark, paths.head, conf)
        else None
      val leaves = logged.map(_.map(f => (f, Seq.empty[String])))
        .getOrElse(paths.flatMap(p => listLeaves(new Path(p), conf)))
      val summaries = leaves.exists { case (f, _) =>
        val n = f.getPath.getName
        n.startsWith("_metadata") || n.startsWith("_common_metadata")
      }
      if (summaries || leaves.isEmpty) None
      else {
        val (first, dirs) = leaves.minBy(_._1.getPath.toString)
        if (!dirs.forall(_.contains('='))) None
        else {
          val schema = ParquetSchemaBridge.footerSchema(spark, first, conf)
          val partKeys = partitionKeys(first.getPath)
          Option.unless(schema.fieldNames.exists(n =>
            partKeys.exists(_.equalsIgnoreCase(n))))(schema)
        }
      }
    } catch { case NonFatal(_) => None }

  /** `spark.read`, carrying the resolved schema when there is one. */
  def reader(spark: SparkSession, paths: Seq[String]): DataFrameReader =
    resolve(spark, paths).fold(spark.read)(spark.read.schema)

  /** `spark.read.parquet(paths)` without the inference job. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    reader(spark, paths).parquet(paths: _*)

  private def hasGlob(p: String): Boolean = p.exists("{}[]*?\\".contains(_))

  /** Every visible file under `root` (or `root` itself), each with the
    * directory names between `root` and it. A missing root throws, so
    * the read falls through to Spark's own error. */
  private def listLeaves(root: Path, conf: org.apache.hadoop.conf.Configuration):
      Seq[(FileStatus, Seq[String])] = {
    val fs = root.getFileSystem(conf)
    def walk(st: FileStatus, dirs: Seq[String]): Seq[(FileStatus, Seq[String])] =
      if (!st.isDirectory) Seq((st, dirs))
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => ParquetSchemaBridge.hiddenName(c.getPath.getName))
        .flatMap(c => walk(c, if (c.isDirectory) dirs :+ c.getPath.getName else dirs))
    val st = fs.getFileStatus(fs.makeQualified(root))
    if (!st.isDirectory && ParquetSchemaBridge.hiddenName(st.getPath.getName)) Nil
    else walk(st, Nil)
  }

  /** The `k` of every `k=v` directory above `file`. */
  private def partitionKeys(file: Path): Seq[String] =
    Iterator.iterate(file.getParent)(_.getParent).takeWhile(_ != null)
      .map(_.getName).filter(_.contains('='))
      .map(n => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(n.takeWhile(_ != '=')))
      .toSeq
}
