package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Spark internals for the graft library's
  * custom Catalyst expressions (the supported extension idiom for
  * libraries shipping native expressions: live inside the sql package
  * namespace, as Delta/Sedona/etc. do).
  */
object SqlBridge {
  /** Wrap a raw Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Unwrap a Column to its analyzed Catalyst expression. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function builder on an ALREADY-RUNNING session (session
    * extensions only apply at build time). Same builders as
    * [[graft.spark.GraftExtensions]]. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Run an assembled logical plan as a DataFrame — the hook a SQL text
    * surface needs after substituting its own relations into a parsed
    * plan (`Dataset.ofRows` is `private[sql]`; same bridge idiom as
    * above). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Block until every posted listener event has been delivered
    * (`SparkContext.listenerBus` is `private[spark]`) — query-execution
    * listeners run on that bus, after the action returns. */
  def drainListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}

/** Bridge to the driver-side pieces of Spark's parquet schema inference
  * (`sessionState` and the file-listing and streaming-sink helpers are
  * `private[sql]`/`private[spark]`), for [[graft.storage.FooterSchema]]. */
object ParquetSchemaBridge {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.parquet.format.converter.ParquetMetadataConverter
  import org.apache.parquet.hadoop.Footer
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
  import org.apache.spark.sql.types.StructType

  def hadoopConf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  /** `spark.sql.parquet.mergeSchema`: inference then reads every footer. */
  def mergeSchema(spark: SparkSession): Boolean =
    spark.sessionState.conf.isParquetSchemaMergingEnabled

  /** The names the file index drops while listing (`_`/`.` files and
    * dirs, except `k=v` dirs and the `_metadata` summaries). */
  def hiddenName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** The files a streaming file sink's log commits under `path`, when
    * `path` is such a sink's output: Spark reads those, not a listing. */
  def sinkLogFiles(spark: SparkSession, path: String,
      conf: Configuration): Option[Seq[FileStatus]] = {
    import org.apache.spark.sql.execution.streaming.runtime.MetadataLogFileIndex
    import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
    if (!FileStreamSink.hasMetadata(Seq(path), conf, spark.sessionState.conf))
      None
    else Some(new MetadataLogFileIndex(spark, new Path(path), Map.empty, None)
      .allFiles())
  }

  /** The schema of one parquet file, exactly as `ParquetFileFormat`'s
    * inference derives it: the footer read without row groups, the
    * converter built from the same confs (case sensitivity, field-id
    * reads and the variant annotation at their defaults, as there), and
    * Spark's own `readSchemaFromFooter`, which prefers the Spark schema
    * a Spark writer stored in the footer. */
  def footerSchema(spark: SparkSession, file: FileStatus,
      conf: Configuration): StructType = {
    val sql = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sql.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
      nanosAsLong = sql.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      converter)
  }
}

/** The parquet readers' generated row-index column name
  * (`private[sql]` in Spark): a `readDataSchema` field with this name
  * is FILLED by both the vectorized and the record reader with each
  * row's index within its FILE — computed from row-group metadata, so
  * it stays correct under row-group/page skipping and splits. This is
  * the mechanism behind `_metadata.row_index`, and what lets the
  * deletion-vector scan keep data-filter pushdown. */
object RowIndexBridge {
  val TemporaryColumnName: String =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .ROW_INDEX_TEMPORARY_COLUMN_NAME
}

/** Bridge trait exposing Spark's `private[sql]`
  * [[org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters]]
  * to [[graft.spark.GraftScanBuilder]]: it must receive catalyst
  * filters to capture index conjuncts and, on vectored tables, to
  * forward only the deterministic ones while reporting every filter as
  * residual. */
trait CatalystFilterPushdownBridge
  extends org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters

/** Companion helper: forward catalyst filters into an inner builder
  * whose pushdown trait is `private[sql]` and so cannot be NAMED from
  * graft packages. */
object CatalystFilterPushdownBridge {
  def push(b: org.apache.spark.sql.connector.read.ScanBuilder,
      filters: Seq[Expression]): Unit = b match {
    case p: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
      p.pushFilters(filters); ()
    case _ => ()
  }

  /** Full delegation: forward and return the inner
    * builder's own residual, so wrapped pushdown is byte-identical to
    * unwrapped. */
  def pushAll(b: org.apache.spark.sql.connector.read.ScanBuilder,
      filters: Seq[Expression]): Seq[Expression] = b match {
    case p: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
      p.pushFilters(filters)
    case _ => filters
  }

  /** The inner builder's reported pushed filters, for pass-through. */
  def pushed(b: org.apache.spark.sql.connector.read.ScanBuilder):
      Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    b match {
      case p: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        p.pushedFilters
      case _ => Array.empty
    }
}
