package graft.spark

import graft.storage.ParquetCatalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util.Collections
import scala.jdk.CollectionConverters._

/** The engine as a REAL Spark catalog (DSv2 `TableCatalog`): register
  * once —
  *
  * {{{
  * spark.sql.catalog.graft       = graft.spark.GraftCatalog
  * spark.sql.catalog.graft.root  = /data/tables
  * }}}
  *
  * — and every catalog table is reachable from PLAIN `spark.sql` with
  * no engine API in sight:
  *
  *   - `SELECT ... FROM graft.t` — Spark's own `ParquetTable` DSv2
  *     implementation over the manifest's exact file list (vectorized
  *     reads, partition pruning, filter pushdown, column pruning all
  *     inherited — the scan is byte-identical to the engine's
  *     `read`);
  *   - `SELECT ... FROM graft.t VERSION AS OF 3` / `TIMESTAMP AS OF
  *     ts` — Spark routes the AS OF clause to the
  *     `loadTable(ident, version|timestamp)` overloads; timestamps
  *     resolve through the engine's monotonic-stamp binary search;
  *   - `INSERT INTO graft.t ...` / `INSERT OVERWRITE graft.t ...` —
  *     the V1 write bridge (`V1Write`, the same fallback Spark's JDBC
  *     catalog uses) lands the rows as ONE versioned commit
  *     (`appendVersioned` / `overwriteVersioned`): history, txn
  *     carry-forward, CHECK constraints, and the manifest CAS all
  *     apply, because the write IS the engine verb;
  *   - `CREATE TABLE graft.t (...) PARTITIONED BY (p)` — an empty
  *     versioned table with the schema recorded in its manifest;
  *   - `ALTER TABLE graft.t ADD|DROP COLUMN` — the metadata-only
  *     evolution commits; `DROP TABLE graft.t`; `SHOW TABLES IN
  *     graft`.
  *
  * Time-traveled tables are READ-ONLY (no write capability — Spark
  * refuses an INSERT into an AS OF relation at analysis). The catalog
  * object itself is stateless metadata (root path + name); every
  * operation re-reads the manifests, so concurrent engine-API writers
  * and SQL writers see each other through the same CAS. */
class GraftCatalog extends TableCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  /** The V2 function namespace: exactly [[GraftBucketFunction]] — what
    * resolves the `bucket(n, col)` transforms bucketed tables report
    * (storage-partitioned joins need the catalog to supply the
    * function so both sides' transforms compare equal and are
    * evaluable — Iceberg's SparkFunctions pattern). */
  override def listFunctions(namespace: Array[String]):
      Array[Identifier] = {
    requireNs(namespace)
    Array(Identifier.of(Array.empty[String], "bucket"))
  }

  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty && ident.name == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  private var catalogName: String = _
  private var root: String = _

  private def spark = SparkSession.active
  private def cat = new ParquetCatalog(spark, root)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' needs option 'root' " +
          s"(spark.sql.catalog.$name.root = <table root dir>)"))
  }

  override def name(): String = catalogName

  private def requireNs(namespace: Array[String]): Unit =
    if (namespace.nonEmpty)
      throw new NoSuchNamespaceException(namespace)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireNs(namespace)
    cat.tableNames.map(Identifier.of(Array.empty[String], _)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.isEmpty && cat.exists(ident.name)

  override def loadTable(ident: Identifier): Table = tableFor(ident, None)

  /** `VERSION AS OF n` — Spark hands the version string verbatim. */
  override def loadTable(ident: Identifier, version: String): Table =
    tableFor(ident, Some(version.toLong))

  /** `TIMESTAMP AS OF ts` — Spark hands epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    requireNs(ident.namespace)
    if (!cat.exists(ident.name)) throw new NoSuchTableException(ident)
    tableFor(ident, Some(cat.versionAsOf(ident.name, timestamp / 1000L)))
  }

  private def tableFor(ident: Identifier, version: Option[Long]): Table = {
    requireNs(ident.namespace)
    if (!cat.exists(ident.name)) throw new NoSuchTableException(ident)
    new GraftTable(cat, root, s"$catalogName.${ident.name}", ident.name,
      version)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    requireNs(ident.namespace)
    require(!cat.exists(ident.name),
      s"table ${ident.name} already exists in catalog $catalogName")
    // identity transforms become the layout prefix; ONE trailing
    // `bucket(n, col)` becomes the graft.bucketBy declaration (the
    // idiomatic Iceberg-style DDL spelling) — the first data batch
    // lays out `<prefix>/_gbucket=<id>` dirs and every later write
    // re-derives the id (hidden partitioning, see
    // [[ParquetCatalog.overwriteBucketedVersioned]])
    val (idTs, bucketT) = partitions.toSeq.span(_.name == "identity") match {
      case (ids, Seq()) => (ids, None)
      case (ids, Seq(b)) if b.name == "bucket" => (ids, Some(b))
      case _ => throw new UnsupportedOperationException(
        "only identity partitioning, optionally with ONE trailing " +
          s"bucket(n, col), is supported, got ${partitions.mkString(", ")}")
    }
    val pb = idTs.map(t => t.references.head.fieldNames.mkString("."))
    val bucketSpec = bucketT.map { b =>
      val n = b.arguments.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.value.isInstanceOf[Integer] => l.value.asInstanceOf[Integer]
      }.getOrElse(throw new UnsupportedOperationException(
        s"bucket transform needs an integer bucket count, got $b"))
      (b.references.head.fieldNames.mkString("."), n.intValue)
    }
    val empty = spark.createDataFrame(
      Collections.emptyList[org.apache.spark.sql.Row](), schema)
    cat.overwriteVersioned(ident.name, empty, pb)
    bucketSpec.foreach { case (c, n) =>
      cat.setTableProperty(ident.name, ParquetCatalog.BucketByProp, s"$c,$n")
    }
    // `CREATE TABLE ... TBLPROPERTIES (...)` must not silently drop
    // the declared properties — 'graft.deletionVectors' is semantically
    // load-bearing. Spark-managed entries (provider, location, owner,
    // the option. namespace) are the planner's, not the table's.
    import scala.jdk.CollectionConverters._
    properties.asScala.foreach { case (k, v) =>
      val reserved = Set("provider", "location", "owner", "comment",
        "external", "is_managed_location")
      if (!reserved.contains(k.toLowerCase(java.util.Locale.ROOT)) &&
          !k.startsWith("option."))
        cat.setTableProperty(ident.name, k, v)
    }
    loadTable(ident)
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    requireNs(ident.namespace)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "nested ADD COLUMN is not supported")
        cat.addColumn(ident.name, add.fieldNames.head, add.dataType)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "nested DROP COLUMN is not supported")
        cat.dropColumn(ident.name, del.fieldNames.head)
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          "nested RENAME COLUMN is not supported")
        cat.renameColumn(ident.name, rn.fieldNames.head, rn.newName)
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames.length == 1,
          "nested ALTER COLUMN TYPE is not supported")
        cat.alterColumnType(ident.name, ut.fieldNames.head, ut.newDataType)
      case sp: TableChange.SetProperty =>
        cat.setTableProperty(ident.name, sp.property, sp.value)
      case rp: TableChange.RemoveProperty =>
        cat.unsetTableProperty(ident.name, rp.property, ifExists = true)
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change: $other")
    }
    loadTable(ident)
  }

  /** NOT safe against concurrent writers: the recursive delete removes
    * a live writer's in-flight staging along with the table (same
    * contract as Delta's DROP — an explicit destructive verb; quiesce
    * writers first). The name guard is the catalog-root boundary: a
    * backtick-quoted identifier like `` `..` `` or one containing a
    * path separator must never reach the recursive delete, or DROP
    * TABLE becomes arbitrary directory deletion. */
  override def dropTable(ident: Identifier): Boolean = {
    requireNs(ident.namespace)
    import java.nio.file.{Files, Paths}
    if (!graft.storage.ParquetCatalog.isValidName(ident.name)) return false
    if (!cat.exists(ident.name)) return false
    def rm(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
    rm(Paths.get(root, ident.name))
    rm(Paths.get(root, ".versions", ident.name))
    true
  }

  /** `ALTER TABLE <cat>.t RENAME TO u` — a metadata-only directory
    * move on the manifest tier ([[ParquetCatalog.renameTable]]): zero
    * bytes rewritten, history and time travel preserved under the new
    * name. Like DROP, not safe against concurrent writers — quiesce
    * first. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    requireNs(oldIdent.namespace)
    requireNs(newIdent.namespace)
    graft.storage.ParquetCatalog.requireValidName(newIdent.name)
    if (!cat.exists(oldIdent.name)) throw new NoSuchTableException(oldIdent)
    cat.renameTable(oldIdent.name, newIdent.name)
  }
}

object GraftCatalog {
  /** Register catalog `name` over the tables under `root` in `spark`'s
    * session (the two confs above); returns `name`. Spark caches a
    * catalog instance per name, so re-pointing a name at a different
    * root would leave SQL reading and writing the old one: that throws
    * `IllegalArgumentException`. Registering the same name and root
    * again is a no-op. */
  def register(spark: SparkSession, name: String, root: String): String = {
    spark.conf.getOption(s"spark.sql.catalog.$name.root").filter(_ != root)
      .foreach(old => throw new IllegalArgumentException(
        s"catalog $name is registered over $old, not $root"))
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    name
  }
}

/** One resolved (possibly time-traveled) catalog table. Reads delegate
  * to Spark's own `ParquetTable` over the exact file list the engine's
  * `readVersion` would scan (same recorded schema, same `basePath`
  * partition resolution); writes go through the V1 bridge so an
  * `INSERT` is a real engine commit. */
private[spark] class GraftTable(cat: ParquetCatalog, root: String,
    qualifiedName: String, tableName: String, version: Option[Long])
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete {

  private def spark = SparkSession.active

  /** The version EVERY lazy member reads — resolved once, so the file
    * list and the deletion-vector sidecars can never come from two
    * different commits (a vector commit racing query planning would
    * otherwise anti-filter version N's files through version N+1's
    * vectors and silently drop the updated rows). */
  private lazy val resolvedVersion: Option[Long] =
    if (cat.isVersioned(tableName))
      Some(version.getOrElse(cat.currentVersion(tableName)))
    else None

  private lazy val delegate: ParquetTable = {
    val (paths, opts, declared) =
      if (cat.isVersioned(tableName)) {
        val v = resolvedVersion.get
        val frame = cat.readVersion(tableName, v)
        val files = cat.manifestFiles(tableName, v).map(f =>
          java.nio.file.Paths.get(root, ".versions", tableName)
            .resolve(f).toString)
        // the TRAVELED version's recorded layout, not the current one:
        // after a layout-changing overwrite, reading an old partitioned
        // version under the new (empty) layout would drop the basePath
        // and silently null every partition-column value
        val layout = cat.manifest(tableName, v).partitionBy
        // by-field-id resolution per relation (column mapping) — the
        // same flag the engine's own readers set, never session-wide
        val fid = Map(
          "spark.sql.parquet.fieldId.read.enabled" -> "true")
        val o =
          if (layout.nonEmpty && files.nonEmpty)
            fid + ("basePath" -> java.nio.file.Paths
              .get(root, ".versions", tableName, "data").toString)
          else fid
        (files, o, Some(frame.schema))
      } else {
        require(version.isEmpty,
          s"$tableName is not versioned; AS OF is unavailable")
        val dir = java.nio.file.Paths.get(root, tableName).toString
        (Seq(dir), Map.empty[String, String],
          graft.storage.FooterSchema.resolve(spark, Seq(dir)))
      }
    ParquetTable(qualifiedName, spark,
      new CaseInsensitiveStringMap(opts.asJava), paths, declared,
      classOf[ParquetFileFormat])
  }

  /** The read version's deletion-vector sidecars — nonempty makes the
    * scan vectored (the stock file scan would resurrect vectored-out
    * rows). */
  private lazy val dvSidecars: Seq[String] =
    resolvedVersion.fold(Seq.empty[String])(v =>
      cat.dvSidecarsAbs(tableName, v))

  override def name(): String = version.fold(qualifiedName)(v =>
    s"$qualifiedName@v$v")

  /** The engine's TBLPROPERTIES surface through Spark's own
    * `SHOW TBLPROPERTIES` / `DESCRIBE TABLE EXTENDED` (which read
    * `Table.properties()` — the default empty map would hide
    * semantically load-bearing entries like `graft.deletionVectors`). */
  override def properties(): java.util.Map[String, String] =
    cat.tableProperties(tableName).asJava

  override def schema(): StructType = delegate.schema

  override def partitioning(): Array[Transform] = delegate.partitioning()

  /** STATIC overwrite only, by design: `INSERT OVERWRITE` truncates.
    * Spark's analyzer plans `partitionOverwriteMode=dynamic` as
    * `OverwritePartitionsDynamicExec`, which has NO V1 fallback — it
    * requires a full DSv2 `BatchWrite` (executor-side `DataWriter`
    * protocol), i.e. hand-reimplementing the parquet writer this
    * catalog deliberately delegates to the engine's V1 bridge (same
    * rationale as the read path riding Spark's own `ParquetTable`).
    * Dynamic-overwrite SEMANTICS are available as the engine verb
    * [[ParquetCatalog.overwritePartitionsVersioned]]; under dynamic
    * mode the SQL door refuses loudly at analysis instead of silently
    * truncating. */
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability]()
    caps.add(TableCapability.BATCH_READ)
    if (version.isEmpty) { // time-traveled relations are read-only
      caps.add(TableCapability.V1_BATCH_WRITE)
      caps.add(TableCapability.TRUNCATE)
    }
    caps
  }

  /** Every versioned read goes through ONE [[GraftScanBuilder]], whose
    * capabilities are resolved here once: the version's deletion-vector
    * sidecars, the key layout to report for storage-partitioned joins
    * (only under Spark's own opt-in, `spark.sql.sources.v2.bucketing
    * .enabled`; bucket layouts report `bucket(n, col)` after any
    * identity prefix, so date pruning and shuffle-free key joins
    * compose), the skipping index, and whether the layout is
    * partitioned. The builder picks the scan: vectors outrank join
    * layout, which outranks file skipping, which outranks the stock
    * parquet scan. Unversioned tables read the stock scan. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val inner = delegate.newScanBuilder(options)
    resolvedVersion.fold[ScanBuilder](inner) { v =>
      val layout = cat.manifest(tableName, v).partitionBy
      val spjOn = spark.conf
        .get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
      val bucketed =
        if (layout.lastOption.contains(ParquetCatalog.BucketPartCol))
          cat.bucketSpecAt(tableName, v)
        else None
      val keyLayout = Option.when(spjOn && layout.nonEmpty)(bucketed.fold(
        GraftKeyLayout(layout, None))(b =>
        GraftKeyLayout(layout.dropRight(1), Some(b))))
      val statsP = cat.statsPath(tableName)
      new GraftScanBuilder(inner, GraftScanCaps(dvSidecars, keyLayout,
        Some(statsP).filter(graft.storage.SkippingIndex.existsAt),
        layout.nonEmpty), cat, tableName, v, delegate.schema)
    }
  }

  /** `DELETE FROM <cat>.t WHERE ...` / `TRUNCATE TABLE <cat>.t` as ONE
    * versioned `delete` commit — history retained, partition-scoped
    * rewrite, CAS-retried. Spark pushes the WHERE down as source
    * Filters; anything this table cannot translate makes
    * [[canDeleteWhere]] return false and Spark raises its standard
    * "cannot delete" analysis error instead of deleting the wrong
    * rows. */
  private def filterColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.sources._
    def top(attr: String): Option[String] =
      if (attr.contains('.')) None else Some(attr) // nested: untranslatable
    f match {
      case EqualTo(a, v) => top(a).map(col(_) === lit(v))
      case EqualNullSafe(a, v) => top(a).map(col(_) <=> lit(v))
      case GreaterThan(a, v) => top(a).map(col(_) > lit(v))
      case GreaterThanOrEqual(a, v) => top(a).map(col(_) >= lit(v))
      case LessThan(a, v) => top(a).map(col(_) < lit(v))
      case LessThanOrEqual(a, v) => top(a).map(col(_) <= lit(v))
      case In(a, vs) => top(a).map(col(_).isin(vs.toSeq: _*))
      case IsNull(a) => top(a).map(col(_).isNull)
      case IsNotNull(a) => top(a).map(col(_).isNotNull)
      case StringStartsWith(a, v) => top(a).map(col(_).startsWith(v))
      case StringEndsWith(a, v) => top(a).map(col(_).endsWith(v))
      case StringContains(a, v) => top(a).map(col(_).contains(v))
      case And(l, r) =>
        for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc || rc
      case Not(c) => filterColumn(c).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    version.isEmpty && filters.forall(filterColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(version.isEmpty, s"$qualifiedName@v$version is read-only")
    val cond = filters.flatMap(filterColumn).foldLeft(lit(true))(_ && _)
    cat.withRetry()(
      cat.deleteVersioned(tableName, cond, cat.layout(tableName)))
    ()
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                legacyOverwrite: Boolean): Unit = {
              val pb = cat.layout(tableName)
              if (overwrite || legacyOverwrite)
                cat.overwriteVersioned(tableName, data, pb)
              else cat.withRetry()(
                cat.appendVersioned(tableName, data, pb))
              ()
            }
          }
      }
    }
}
