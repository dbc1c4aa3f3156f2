package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
import org.apache.spark.sql.graftbridge.SqlBridge

/** SQL TEXT surface for the catalog's Delta-parity verbs — the
  * reference's workflows are literal SQL strings run through
  * `spark.sql(...)` (`bronze_to_silver_transformation.py:870-920` is
  * the MERGE pattern), so the storage tier's time travel, history, and
  * restore must be reachable from statement TEXT, not just the Scala
  * API:
  *
  *   - `SELECT ... FROM t VERSION AS OF 3 ...` and
  *     `... TIMESTAMP AS OF '2024-06-01 12:00:00'` — Spark's OWN parser
  *     already produces [[RelationTimeTravel]] nodes for the AS OF
  *     syntax (it is reserved grammar for DSv2 catalogs); this surface
  *     substitutes each node with the catalog's
  *     [[ParquetCatalog.readVersion]] plan (wall-clock resolved via
  *     [[ParquetCatalog.versionAsOf]]) and hands the assembled plan
  *     back to Catalyst. Arbitrary SELECT shapes around the relation —
  *     joins, CTEs, aggregates, aliases — come for free because the
  *     real parser did the parsing; no regex surgery on the statement.
  *   - plain relations naming catalog tables resolve to their CURRENT
  *     version (`cat.read`); names the catalog does not know stay
  *     unresolved for the session catalog (temp views), preserving the
  *     staging discipline `mergeInto` established.
  *   - `DESCRIBE HISTORY t` → [[ParquetCatalog.history]].
  *   - `RESTORE TABLE t [TO] VERSION AS OF n` (or `TIMESTAMP AS OF ts`)
  *     → [[ParquetCatalog.restore]]/[[ParquetCatalog.restoreAsOf]]; the
  *     result row reports the restored-from and newly-committed
  *     versions.
  *   - `VACUUM t [RETAIN n HOURS | KEEP k]` →
  *     [[ParquetCatalog.vacuumRetain]]/[[ParquetCatalog.vacuum]]
  *     (bare form keeps only the current version, like the API
  *     default).
  *   - `OPTIMIZE t [ROWS n] [ZORDER BY (c, ...)]` →
  *     [[ParquetCatalog.compact]] preserving the recorded layout;
  *     `OPTIMIZE t [ROWS n] WHERE p = v [AND ...]` →
  *     [[ParquetCatalog.compactPartition]] (partition-prefix scoped).
  *     (These are Delta EXTENSION grammar, not Spark grammar, so they
  *     are dispatched on statement shape before parsing.)
  *   - `REORG TABLE t APPLY (PURGE)` → [[ParquetCatalog.reorgPurge]]
  *     (deletion-vector maintenance: coalesce sidecars, rewrite only
  *     above-threshold files).
  *   - `UPDATE t SET c = expr [, ...] [WHERE cond]` →
  *     [[ParquetCatalog.updateWhere]] (partition-scoped versioned
  *     `update` commit; Delta's row-level UPDATE); `DELETE FROM t
  *     [WHERE cond]` → [[ParquetCatalog.deleteVersioned]].
  *   - `MERGE INTO ...` routes to [[ParquetCatalog.mergeInto]]
  *     unchanged (K4/k20's transactional write-back).
  *
  * Everything here is metadata-plus-plan work on the driver; the data
  * path of a substituted SELECT is exactly the catalog read it wraps —
  * same pruned scans, same recorded-schema resolution, no extra
  * shuffle. */
object CatalogSql {

  private val historyRe =
    "(?is)^\\s*DESCRIBE\\s+HISTORY\\s+([\\w.]+)\\s*;?\\s*$".r
  private val restoreRe =
    ("(?is)^\\s*RESTORE\\s+TABLE\\s+([\\w.]+)\\s+(?:TO\\s+)?" +
      "(VERSION|TIMESTAMP)\\s+AS\\s+OF\\s+(.+?)\\s*;?\\s*$").r
  private val vacuumRe =
    ("(?is)^\\s*VACUUM\\s+([\\w.]+)" +
      "(?:\\s+RETAIN\\s+(\\d+)\\s+HOURS)?(?:\\s+KEEP\\s+(\\d+))?\\s*;?\\s*$").r
  private val optimizeRe =
    ("(?is)^\\s*OPTIMIZE\\s+([\\w.]+)(?:\\s+ROWS\\s+(\\d+))?" +
      "(?:\\s+ZORDER\\s+BY\\s*\\(([^)]+)\\))?\\s*;?\\s*$").r
  private val optimizeWhereRe =
    ("(?is)^\\s*OPTIMIZE\\s+([\\w.]+)(?:\\s+ROWS\\s+(\\d+))?" +
      "\\s+WHERE\\s+(.+?)\\s*;?\\s*$").r
  private val reorgRe =
    ("(?is)^\\s*REORG\\s+TABLE\\s+([\\w.]+)\\s+APPLY\\s*" +
      "\\(\\s*PURGE\\s*\\)\\s*;?\\s*$").r
  private val whereEqRe = "^\\s*(\\w+)\\s*=\\s*(?:'([^']*)'|(\\S+))\\s*$".r
  private val updateHeadRe =
    "(?is)^\\s*UPDATE\\s+([\\w.]+)\\s+SET\\s+(.+?)\\s*;?\\s*$".r
  private val deleteRe =
    "(?is)^\\s*DELETE\\s+FROM\\s+([\\w.]+)(?:\\s+WHERE\\s+(.+?))?\\s*;?\\s*$".r
  private val renameTableRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+([\\w.]+)\\s+RENAME\\s+TO\\s+([\\w.]+)\\s*;?\\s*$".r
  private val renameColRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w.]+)\\s+RENAME\\s+COLUMN\\s+" +
      "(\\w+)\\s+TO\\s+(\\w+)\\s*;?\\s*$").r
  private val alterTypeRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w.]+)\\s+(?:ALTER|CHANGE)\\s+COLUMN\\s+" +
      "(\\w+)\\s+(?:SET\\s+DATA\\s+)?TYPE\\s+(.+?)\\s*;?\\s*$").r
  private val setPropsRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w.]+)\\s+SET\\s+TBLPROPERTIES\\s*" +
      "\\((.+?)\\)\\s*;?\\s*$").r
  private val unsetPropsRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w.]+)\\s+UNSET\\s+TBLPROPERTIES\\s*" +
      "\\((.+?)\\)\\s*;?\\s*$").r
  private val propPairRe =
    "^\\s*'([^']+)'\\s*=\\s*'([^']*)'\\s*$".r
  private val addColRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+([\\w.]+)\\s+ADD\\s+COLUMNS?\\s+(.+?)\\s*;?\\s*$".r
  private val dropColRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w.]+)\\s+DROP\\s+COLUMNS?\\s+" +
      "\\(?\\s*([\\w\\s,]+?)\\s*\\)?\\s*;?\\s*$").r

  /** `OPTIMIZE t` without `ROWS`: target rows per compacted file. */
  private val DefaultOptimizeRows = 1L << 20

  /** Split a column-spec list on commas outside BOTH parens and angle
    * brackets — DDL types nest with `<>` (`MAP<STRING, INT>`,
    * `ARRAY<STRUCT<a INT, b INT>>`), which the MERGE parser's
    * paren-only splitter would cut through. */
  private def splitColumnSpecs(s: String): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case c @ ('(' | '<') => depth += 1; cur += c; ()
      case c @ (')' | '>') => depth -= 1; cur += c; ()
      case ',' if depth == 0 => parts += cur.toString; cur.clear(); ()
      case c => cur += c; ()
    }
    parts += cur.toString
    parts.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Spark SQL identifiers are case-insensitive; the catalog's on-disk
    * names are not. A statement naming `Orders` must reach the table
    * stored as `orders` (every verb and the SELECT substitution route
    * through this), exact spelling winning over a case-folded match,
    * and a genuinely ambiguous fold (two tables differing only in
    * case) refusing loudly rather than picking one. Unknown names pass
    * through unchanged so downstream errors quote the user's
    * spelling. */
  private def resolveTable(cat: ParquetCatalog, name: String): String =
    if (cat.exists(name)) name
    else cat.tableNames.filter(_.equalsIgnoreCase(name)) match {
      case Seq(one) => one
      case Seq() => name
      case many => throw new IllegalArgumentException(
        s"'$name' is ambiguous under case-insensitive resolution: " +
          many.mkString(", "))
    }

  def run(spark: SparkSession, cat: ParquetCatalog,
      statement: String): DataFrame = runResolved(spark, cat, statement)

  private def runResolved(spark: SparkSession, cat: ParquetCatalog,
      statement: String): DataFrame = statement match {
    case historyRe(t0) =>
      val t = resolveTable(cat, t0)
      cat.history(t)
    case vacuumRe(t0, retainH, keep) =>
      val t = resolveTable(cat, t0)
      // a silently-ignored retention bound on a destructive verb is
      // worse than a parse error
      require(retainH == null || keep == null,
        "VACUUM accepts RETAIN n HOURS or KEEP k, not both")
      val removed =
        if (retainH != null) cat.vacuumRetain(t, retainH.toLong * 3600 * 1000)
        else cat.vacuum(t, if (keep != null) keep.toInt else 1)
      import spark.implicits._
      Seq((t, removed.toLong)).toDF("table_name", "entries_removed")
    case reorgRe(t0) =>
      // Delta's `REORG TABLE ... APPLY (PURGE)`: deletion-vector
      // maintenance — coalesce sidecars, rewrite only files whose
      // deleted fraction crosses the threshold
      val t = resolveTable(cat, t0)
      val (v, rewritten) = cat.reorgPurge(t)
      import spark.implicits._
      Seq((t, v, rewritten.toLong))
        .toDF("table_name", "version", "files_rewritten")
    case optimizeWhereRe(t0, rows, conds) =>
      val t = resolveTable(cat, t0)
      // Delta's partition-scoped OPTIMIZE: equality conjunctions on a
      // layout PREFIX route to compactPartition — the other partitions'
      // files are re-referenced verbatim, zero bytes moved outside the
      // slice (compactPartition enforces the prefix rule loudly)
      val spec = conds.split("(?i)\\s+AND\\s+").toSeq.map { c =>
        val m = whereEqRe.findFirstMatchIn(c).getOrElse(
          throw new IllegalArgumentException(
            "OPTIMIZE WHERE supports only `col = value [AND ...]` " +
              s"partition-prefix specs, got: $c"))
        m.group(1) -> (Option(m.group(2)).getOrElse(m.group(3)): Any)
      }
      cat.compactPartition(t,
        Option(rows).map(_.toLong).getOrElse(DefaultOptimizeRows), spec)
      import spark.implicits._
      Seq((t, cat.fileCount(t))).toDF("table_name", "num_files")
    case optimizeRe(t0, rows, zcols) =>
      val t = resolveTable(cat, t0)
      val zorder = Option(zcols).toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      cat.compact(t,
        Option(rows).map(_.toLong).getOrElse(DefaultOptimizeRows),
        partitionBy = cat.layout(t), zorderBy = zorder)
      import spark.implicits._
      Seq((t, cat.fileCount(t))).toDF("table_name", "num_files")
    case restoreRe(t0, kind, arg) =>
      val t = resolveTable(cat, t0)
      val from =
        if (kind.equalsIgnoreCase("VERSION")) arg.trim.toLong
        else cat.versionAsOf(t, evalTsMillis(spark,
          spark.sessionState.sqlParser.parseExpression(arg.trim)))
      val committed = cat.restore(t, from)
      import spark.implicits._
      Seq((t, from, committed))
        .toDF("table_name", "restored_from_version", "new_version")
    case updateHeadRe(t0, rest) =>
      val t = resolveTable(cat, t0)
      // Delta `UPDATE t SET ... [WHERE ...]`: one partition-scoped
      // versioned commit ([[ParquetCatalog.updateWhere]]). The
      // SET/WHERE boundary comes from the MERGE parser's quote- and
      // paren-aware splitter — a ' WHERE ' inside a string literal or
      // a subquery's parens is NOT a boundary — and assignments /
      // condition are Catalyst expressions (CASE..END, function calls)
      val parts = graft.operators.SqlMerge.splitTopLevel(rest, "(?i)\\sWHERE\\s")
      require(parts.size <= 2,
        s"UPDATE has multiple top-level WHERE clauses: $rest")
      val raw = graft.operators.SqlMerge.splitAssignments(parts.head)
        .map { a =>
          val eq = graft.operators.SqlMerge.topLevelIndexOf(a, '=')
          require(eq > 0, s"malformed assignment: $a")
          a.take(eq).trim -> a.drop(eq + 1).trim
        }
      // ANSI/Delta reject duplicate SET targets; toMap would last-win
      val dups = raw.groupBy(_._1.toLowerCase)
        .collect { case (k, vs) if vs.size > 1 => k }
      require(dups.isEmpty,
        s"UPDATE assigns the same column twice: ${dups.mkString(",")}")
      val assignments = raw.map { case (k, v) =>
        k -> org.apache.spark.sql.functions.expr(v)
      }.toMap
      val where = parts.lift(1)
        .map(c => org.apache.spark.sql.functions.expr(c.trim))
        .getOrElse(org.apache.spark.sql.functions.lit(true))
      // same concurrency contract as the registered catalog's
      // UPDATE/DELETE: a lost commit race re-reads and re-applies
      // instead of surfacing ConcurrentWriteException to SQL callers
      val (v, n) = cat.withRetry()(cat.updateWhere(t, where, assignments))
      import spark.implicits._
      Seq((t, v, n)).toDF("table_name", "new_version", "rows_updated")
    case deleteRe(t0, cond) =>
      val t = resolveTable(cat, t0)
      // `DELETE FROM t [WHERE cond]` → one partition-scoped versioned
      // delete commit (WHERE-less = all rows, history retained)
      val where = Option(cond)
        .map(org.apache.spark.sql.functions.expr)
        .getOrElse(org.apache.spark.sql.functions.lit(true))
      val (v, n) = cat.withRetry()(cat.deleteVersioned(t, where))
      import spark.implicits._
      Seq((t, v, n)).toDF("table_name", "new_version", "rows_deleted")
    case renameColRe(t0, from, to) =>
      // metadata-only column-mapping rename: one commit, bytes untouched
      val t = resolveTable(cat, t0)
      val v = cat.renameColumn(t, from, to)
      import spark.implicits._
      Seq((t, from, to, v)).toDF("table_name", "from_col", "to_col", "new_version")
    case alterTypeRe(t0, c, typ) =>
      // metadata-only lossless widening; lossy retypes refuse loudly
      val t = resolveTable(cat, t0)
      val v = cat.alterColumnType(t, c,
        org.apache.spark.sql.types.DataType.fromDDL(typ.trim))
      import spark.implicits._
      Seq((t, c, typ.trim, v)).toDF("table_name", "column_name", "new_type", "new_version")
    case setPropsRe(t0, pairs) =>
      // `ALTER TABLE t SET TBLPROPERTIES ('k'='v' [, ...])` — Delta's
      // surface; 'graft.deletionVectors'='true' routes row-level
      // DELETE/UPDATE merge-on-read through the vector tier
      val t = resolveTable(cat, t0)
      val kvs = graft.operators.SqlMerge.splitTopLevel(pairs, ",").map { p =>
        propPairRe.findFirstMatchIn(p.trim).map(m => m.group(1) -> m.group(2))
          .getOrElse(throw new IllegalArgumentException(
            s"TBLPROPERTIES entries are 'key'='value' pairs, got: ${p.trim}"))
      }
      require(kvs.nonEmpty, "SET TBLPROPERTIES needs at least one pair")
      val v = kvs.map { case (k, value) => cat.setTableProperty(t, k, value) }.last
      import spark.implicits._
      kvs.map { case (k, value) => (t, k, value, v) }
        .toDF("table_name", "key", "value", "new_version")
    case unsetPropsRe(t0, keys) =>
      val t = resolveTable(cat, t0)
      val ks = graft.operators.SqlMerge.splitTopLevel(keys, ",")
        .map(_.trim.stripPrefix("'").stripSuffix("'"))
        .filter(_.nonEmpty)
      require(ks.nonEmpty, "UNSET TBLPROPERTIES needs at least one key")
      val v = ks.map(k => cat.unsetTableProperty(t, k)).last
      import spark.implicits._
      ks.map(k => (t, k, v)).toDF("table_name", "key", "new_version")
    case addColRe(t0, spec0) =>
      // `ALTER TABLE t ADD COLUMN[S] [(]name type[, name type ...][)]`
      // → one metadata-only [[ParquetCatalog.addColumn]] commit per
      // column (Spark's grammar, engine semantics: zero bytes moved,
      // re-added dropped names ride the resurrection guard). The whole
      // list parses and validates BEFORE any commit — a bad entry must
      // not leave a partial DDL applied.
      val t = resolveTable(cat, t0)
      val spec = spec0.trim
      val body =
        if (spec.startsWith("(") && spec.endsWith(")")) spec.tail.init.trim
        else spec
      val cols = splitColumnSpecs(body).map { one =>
        val sp = one.indexWhere(_.isWhitespace)
        require(sp > 0, s"malformed ADD COLUMN entry (need `name type`): $one")
        one.take(sp) -> org.apache.spark.sql.types.DataType
          .fromDDL(one.drop(sp + 1).trim)
      }
      require(cols.map(_._1.toLowerCase).distinct.size == cols.size,
        s"ADD COLUMNS names a column twice: ${cols.map(_._1).mkString(", ")}")
      val existing = cat.read(t).columns
      cols.foreach { case (c, _) =>
        require(!existing.exists(_.equalsIgnoreCase(c)),
          s"$t already has a column '$c'")
      }
      val v = cols.map { case (c, typ) => cat.addColumn(t, c, typ) }.last
      import spark.implicits._
      cols.map { case (c, typ) => (t, c, typ.simpleString, v) }
        .toDF("table_name", "column_name", "new_type", "new_version")
    case dropColRe(t0, spec) =>
      // `ALTER TABLE t DROP COLUMN[S] [(]name[, name ...][)]` → one
      // metadata-only commit per column; bytes stay until compaction.
      // Names validate up front so a typo cannot half-apply the list.
      val t = resolveTable(cat, t0)
      val cols = spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      require(cols.nonEmpty, "DROP COLUMN needs at least one column name")
      require(cols.map(_.toLowerCase).distinct.size == cols.size,
        s"DROP COLUMNS names a column twice: ${cols.mkString(", ")}")
      val existing = cat.read(t).columns
      cols.foreach(c => require(existing.contains(c),
        s"$t has no column '$c'"))
      val v = cols.map(c => cat.dropColumn(t, c)).last
      import spark.implicits._
      cols.map(c => (t, c, v)).toDF("table_name", "column_name", "new_version")
    case renameTableRe(t0, to) =>
      // metadata-only directory move: zero bytes rewritten, history and
      // time travel carry over under the new name
      val t = resolveTable(cat, t0)
      cat.renameTable(t, to)
      import spark.implicits._
      Seq((t, to)).toDF("from_name", "to_name")
    case m if m.trim.take(10).equalsIgnoreCase("MERGE INTO") =>
      import spark.implicits._
      Seq(cat.mergeInto(m)).toDF("version")
    case query =>
      select(spark, cat, query)
  }

  /** Parse with Spark's parser, substitute catalog relations (current
    * or time-travel), run the assembled plan. */
  private def select(spark: SparkSession, cat: ParquetCatalog,
      sql: String): DataFrame = {
    val plan = spark.sessionState.sqlParser.parsePlan(sql)
    // CTE precedence: substitution happens BEFORE analysis, so a WITH
    // alias that collides with a catalog table name must stay a CTE
    // reference (the analyzer's CTESubstitution binds it) — collect
    // every declared alias and leave those names alone
    val cteNames = plan.collectWithSubqueries {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.map(_._1.toLowerCase)
    }.flatten.toSet
    // Spark identifiers are case-insensitive: `FROM Orders` must reach
    // a table stored as `orders` (resolveTable), not silently fall
    // through to the session catalog; the CTE-shadowing check folds the
    // same way
    def catalogName(r: UnresolvedRelation): Option[String] =
      r.multipartIdentifier match {
        case Seq(one) if !cteNames(one.toLowerCase) =>
          Some(resolveTable(cat, one)).filter(cat.exists)
        case _ => None
      }
    val substituted = plan.transformUpWithSubqueries {
      case RelationTimeTravel(r: UnresolvedRelation, ts, v) =>
        val asWritten = r.multipartIdentifier match {
          case Seq(one) => one
          case parts => throw new IllegalArgumentException(
            s"AS OF needs a bare catalog table name, got ${parts.mkString(".")}")
        }
        val name = resolveTable(cat, asWritten)
        require(cat.exists(name),
          s"VERSION/TIMESTAMP AS OF needs a versioned catalog table; " +
            s"'$asWritten' is not one")
        val version = v.map(_.toLong).getOrElse(
          cat.versionAsOf(name, evalTsMillis(spark, ts.getOrElse(
            throw new IllegalArgumentException("AS OF needs a version or timestamp")))))
        // keep the statement's OWN spelling as the qualifier so `t.col`
        // references in the surrounding statement still resolve
        SubqueryAlias(asWritten,
          cat.readVersion(name, version).queryExecution.analyzed)
      case r: UnresolvedRelation if catalogName(r).isDefined =>
        val name = catalogName(r).get
        SubqueryAlias(r.multipartIdentifier.head,
          cat.read(name).queryExecution.analyzed)
    }
    SqlBridge.ofRows(spark, substituted)
  }

  /** Evaluate an AS OF timestamp expression to epoch millis with
    * Spark's own semantics (string literals parse in the session time
    * zone, `current_timestamp()`/arithmetic work) — one 1-row local
    * projection, no data read. */
  private def evalTsMillis(spark: SparkSession, e: Expression): Long = {
    val row = spark.range(1)
      .select(SqlBridge.column(e).cast("timestamp").as("ts")).head()
    require(!row.isNullAt(0), s"cannot read '$e' as a timestamp")
    row.getTimestamp(0).getTime
  }
}
