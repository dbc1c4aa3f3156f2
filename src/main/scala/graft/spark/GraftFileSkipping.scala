package graft.spark

import graft.storage.SkippingIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute,
  AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In,
  LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.connector.expressions.{Literal => VLiteral,
  NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.types.StructType

/** Index conjuncts that prune files: numeric/raw-unit ranges (with the
  * exact stats types each may prune beyond plain numerics), typed
  * bloom points, and string ranges — what
  * [[GraftFileSkipping.conjuncts]] extracts from one predicate. */
final case class GraftConjuncts(
    preds: Seq[(String, Double, Double, Set[String])] = Nil,
    points: Seq[(String, Seq[Any])] = Nil,
    strs: Seq[(String, Option[String], Option[String])] = Nil) {
  def isEmpty: Boolean = preds.isEmpty && points.isEmpty && strs.isEmpty
}

/** The one Catalyst-predicate → index translation and candidate pass,
  * shared by [[GraftScan]] (planned and runtime filters) and the
  * catalog's UPDATE/DELETE probe. */
object GraftFileSkipping {

  /** The stock estimate, TIGHTENED by the index when planned range /
    * string conjuncts prune files: rows = Σ index rows and bytes =
    * Σ split lengths over the SURVIVING candidate files only (no bloom
    * pass — estimation must never launch a job). The stock parquet
    * estimate is post-partition-pruning byte size, blind to stats
    * pruning; the index-backed figure is what lets AQE/broadcast
    * planning see that a filtered slice of a 100 TB clustered table is
    * broadcast-small. Still an upper bound (pushed data filters prune
    * further inside kept files) — the same estimate class as stock,
    * strictly tighter. Falls back to the inner estimate whenever any
    * planned file lacks an index entry — in every [[GraftScan]] mode,
    * so a filtered BUCKETED fact slice does not look full-table-sized
    * to the broadcast planner. */
  def tightenedStatistics(inner: ParquetScan,
      statsPath: Option[java.nio.file.Path], c: GraftConjuncts):
      org.apache.spark.sql.connector.read.Statistics = {
    val innerStats = inner.estimateStatistics()
    val tightened: Option[(Long, Long)] = statsPath.flatMap { sp =>
      if (c.preds.isEmpty && c.strs.isEmpty) None
      else {
        val parts = inner.toBatch.planInputPartitions().toSeq
        if (!parts.forall(_.isInstanceOf[FilePartition])) None
        else {
          val splits = parts.flatMap {
            case fp: FilePartition => fp.files
          }
          val byFile = splits
            .groupBy(f => plainPath(f.filePath.toString))
            .view.mapValues(_.map(_.length).sum).toMap
          // per-file cached lookups off one resolved generation view —
          // never an O(index) map rebuild per estimate call
          val view = SkippingIndex.viewAtCached(sp)
          val rows = byFile.keys.toSeq.sorted.flatMap(f =>
            view.rowCount(f).map(f -> _))
          if (rows.size != byFile.size) None
          else {
            val rowsMap = rows.toMap
            val cand = SkippingIndex.candidateFilesTyped(sp,
              byFile.keys.toSeq.sorted, c.preds, strPreds = c.strs).toSet
            val keptFiles = byFile.keys.filter(cand.contains).toSeq
            Some((keptFiles.map(rowsMap).sum, keptFiles.map(byFile).sum))
          }
        }
      }
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        tightened.fold(innerStats.sizeInBytes())(t =>
          java.util.OptionalLong.of(math.max(1L, t._2)))
      override def numRows(): java.util.OptionalLong =
        tightened.fold(innerStats.numRows())(t =>
          java.util.OptionalLong.of(t._1))
    }
  }

  /** The one candidate pass: the `files` (plain paths) the index
    * cannot rule out under `c`, sorted. Min/max ranges first (one
    * driver-side stats-file load, when `statsPath` is given), then,
    * for each bloom point conjunct, a distributed bloom pass over what
    * survived. Min/max cannot prune a point probe on a high-cardinality
    * column under a random layout (every file's range spans the key
    * space); the blooms are what make a point lookup open ~1 file
    * instead of the table. */
  def candidates(spark: SparkSession, statsPath: Option[java.nio.file.Path],
      files: Seq[String], c: GraftConjuncts): Seq[String] = {
    var cand = statsPath match {
      case Some(sp) if c.preds.nonEmpty || c.strs.nonEmpty =>
        SkippingIndex.candidateFilesTyped(sp, files, c.preds, strPreds = c.strs)
      case _ => files.sorted
    }
    for ((col, vs) <- c.points if cand.size > 1) {
      // probe up to three files for a bloom before launching the
      // distributed pass: ONE bloom-less file (say, appended by a
      // writer configured without blooms) must not silently disable
      // pruning for the rest — and a genuinely bloom-less table still
      // never pays a job (the pass itself keeps bloom-less files, so
      // proceeding on any hit is conservative either way)
      if (cand.take(3).exists(f => SkippingIndex.hasBloomFilter(spark, f, col)))
        cand = SkippingIndex.bloomCandidatesAny(spark, cand, col, vs)
    }
    cand
  }

  /** DSv2 RUNTIME filters (dynamic partition pruning) → a driver-side
    * split filter over partition VALUES. Spark injects these for
    * equi-joins against a filtered build side
    * (`PartitionPruning` → `BatchScanExec.filter`), as `IN`/`=`
    * predicates of one [[NamedReference]] plus literal values — the
    * stock DSv2 `ParquetScan` implements no runtime filtering at all,
    * so this is what makes a `dim-filter → fact` join on the SQL door
    * open only the fact partitions the dim rows name. Soundness: the
    * filter only ever DROPS splits whose partition value is absent
    * from the literal set, which for the equi-join predicates Spark
    * injects cannot contribute rows; anything unrecognized — multi-part
    * field paths, non-literal children, a dataType differing from the
    * partition column's — keeps every split. */
  def runtimeKeep(predicates: Array[Predicate], pSchema: StructType):
      org.apache.spark.sql.execution.datasources.PartitionedFile => Boolean = {
    import org.apache.spark.sql.types._
    // atomic types whose catalyst-internal values compare reliably by
    // equals (UTF8String, boxed primitives, Decimal) — partition
    // columns are always one of these
    def atomic(dt: DataType): Boolean = dt match {
      case StringType | BooleanType | ByteType | ShortType | IntegerType |
          LongType | FloatType | DoubleType | DateType | TimestampType |
          TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
    // SQL equality treats -0.0 = 0.0 AND NaN = NaN as true, while the
    // scala set membership below unboxes to primitive == (NaN never
    // matches) and boxed equals distinguishes ±0.0 — either way a
    // float/double partition dir could be wrongly pruned. Normalize
    // both the literal set and the partition value to canonical BITS:
    // `+ 0.0` collapses -0.0 to 0.0, and to(Long|Int)Bits collapses
    // every NaN payload to the canonical one, then compares exactly.
    def normZero(v: Any): Any = v match {
      case d: java.lang.Double => java.lang.Long.valueOf(
        java.lang.Double.doubleToLongBits(d.doubleValue() + 0.0d))
      case f: java.lang.Float => java.lang.Integer.valueOf(
        java.lang.Float.floatToIntBits(f.floatValue() + 0.0f))
      case other => other
    }
    val rules: Seq[(Int, DataType, Set[Any])] =
      predicates.toSeq.flatMap { p =>
        val kids = p.children().toSeq
        val ok = (p.name() == "IN" || p.name() == "=") && kids.nonEmpty
        kids match {
          case Seq(ref: NamedReference, lits @ _*) if ok &&
              ref.fieldNames.length == 1 &&
              lits.forall(_.isInstanceOf[VLiteral[_]]) =>
            val ord = pSchema.fieldNames.indexWhere(
              _.equalsIgnoreCase(ref.fieldNames.head))
            if (ord < 0) None
            else {
              val dt = pSchema(ord).dataType
              val vs = lits.map(_.asInstanceOf[VLiteral[_]])
              // a literal typed differently from the partition column
              // would compare boxed-unequal and wrongly prune — refuse.
              // Values normalize to catalyst-internal form (identity
              // for already-internal ones, String→UTF8String etc. for
              // external), matching `partitionValues`' representation.
              if (atomic(dt) && vs.forall(l => l.dataType == dt && l.value != null))
                Some((ord, dt, vs.map(l => normZero(
                  org.apache.spark.sql.catalyst.CatalystTypeConverters
                    .convertToCatalyst(l.value))).toSet))
              else None
            }
          case _ => None
        }
      }
    if (rules.isEmpty) (_ => true)
    else
      f => rules.forall { case (ord, dt, allowed) =>
        val v = if (f.partitionValues.isNullAt(ord)) null
          else normZero(f.partitionValues.get(ord, dt))
        // a NULL partition value can never satisfy the equi-join these
        // predicates guard — dropping it mirrors Spark's own DPP
        v != null && allowed.contains(v)
      }
  }

  /** URI → plain filesystem path (the index stores plain absolute
    * paths; split paths arrive as file: URIs). */
  def plainPath(p: String): String =
    try {
      val u = new java.net.URI(p)
      if (u.getScheme != null && u.getPath != null) u.getPath else p
    } catch { case _: Exception => p }

  /** How many IN-list values a bloom pass hashes per file: a large
    * planned IN would spend more on hashing than the saved reads, and
    * runtime (DPP) value lists can be large. Above the limit only the
    * (always-cheap) min/max envelope prunes. */
  val PlannedBloomValues = 16
  val RuntimeBloomValues = 64

  /** The one predicate → index translation. Top-level `And`s split
    * into conjuncts; a conjunct comparing an attribute with literals —
    * `=`, `<`, `<=`, `>`, `>=` in either operand order, or an
    * all-literal `IN` — contributes a range (numeric or raw-unit
    * temporal/decimal literals, [[ranged]]), a string range (UTF-8
    * byte order) and, for `=`/`IN` of at most `maxBloomValues` values,
    * typed bloom points. Only shapes a NULL attribute value cannot
    * satisfy extract (never null-safe equality or IS NULL), so pruning
    * on non-null stats is sound; strict bounds stay inclusive, raw-unit
    * bounds widen ±2 (double rounding of micros past 2^53 stays
    * over-reading); anything unrecognized contributes nothing. */
  def conjuncts(filters: Seq[Expression],
      maxBloomValues: Int = PlannedBloomValues): GraftConjuncts = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    // (attribute, literals, bounded below, bounded above): the literal
    // envelope's min bounds from below, its max from above; equality
    // shapes bound both sides
    val shapes: Seq[(Attribute, Seq[Literal], Boolean, Boolean)] =
      filters.flatMap(split).flatMap {
        case EqualTo(a: Attribute, l: Literal) => Some((a, Seq(l), true, true))
        case EqualTo(l: Literal, a: Attribute) => Some((a, Seq(l), true, true))
        case In(a: Attribute, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
          Some((a, vs.map(_.asInstanceOf[Literal]), true, true))
        case GreaterThan(a: Attribute, l: Literal) => Some((a, Seq(l), true, false))
        case GreaterThanOrEqual(a: Attribute, l: Literal) => Some((a, Seq(l), true, false))
        case LessThan(l: Literal, a: Attribute) => Some((a, Seq(l), true, false))
        case LessThanOrEqual(l: Literal, a: Attribute) => Some((a, Seq(l), true, false))
        case LessThan(a: Attribute, l: Literal) => Some((a, Seq(l), false, true))
        case LessThanOrEqual(a: Attribute, l: Literal) => Some((a, Seq(l), false, true))
        case GreaterThan(l: Literal, a: Attribute) => Some((a, Seq(l), false, true))
        case GreaterThanOrEqual(l: Literal, a: Attribute) => Some((a, Seq(l), false, true))
        case _ => None
      }
    /** Every literal's value under `f`, or None when any has none. */
    def all[T](ls: Seq[Literal])(f: Literal => Option[T]): Option[Seq[T]] = {
      val vs = ls.map(f)
      if (vs.contains(None)) None else Some(vs.flatten)
    }
    val utf8: Ordering[String] = (x: String, y: String) => compareUtf8(x, y)
    GraftConjuncts(
      preds = shapes.flatMap { case (a, ls, lo, hi) =>
        all(ls)(ranged).map { rs =>
          val tags = rs.flatMap(_._2).toSet
          val pad = if (tags.isEmpty) 0.0 else 2.0
          (a.name, if (lo) rs.map(_._1).min - pad else Double.NegativeInfinity,
            if (hi) rs.map(_._1).max + pad else Double.PositiveInfinity, tags)
        }
      },
      points = shapes.flatMap { case (a, ls, lo, hi) =>
        if (lo && hi && ls.size <= maxBloomValues) all(ls)(typed).map(a.name -> _)
        else None
      },
      strs = shapes.flatMap { case (a, ls, lo, hi) =>
        all(ls)(str).map(ss =>
          (a.name, Option.when(lo)(ss.min(utf8)), Option.when(hi)(ss.max(utf8))))
      })
  }

  /** DSv2 RUNTIME `IN`/`=` predicates over DATA columns → Catalyst
    * `In`/`EqualTo` over typed literals, for [[conjuncts]] with
    * [[RuntimeBloomValues]] (dynamic FILE pruning through the
    * index/bloom pass). A predicate converts only when it names one
    * column of `dataSchema` (case-insensitively) and every value is
    * non-null (IN/= never match null) and typed EXACTLY as the column;
    * anything else is refused and prunes nothing. */
  def runtimeFilters(predicates: Array[Predicate],
      dataSchema: StructType): Seq[Expression] =
    predicates.toSeq.flatMap { p =>
      p.children().toSeq match {
        case Seq(ref: NamedReference, vs @ _*) if (p.name() == "IN" ||
            p.name() == "=") && ref.fieldNames.length == 1 && vs.nonEmpty =>
          dataSchema.fields.find(_.name.equalsIgnoreCase(ref.fieldNames.head))
            .flatMap { f =>
              val ls = vs.collect { case l: VLiteral[_]
                if l.dataType == f.dataType && l.value != null => l }
              // a value that is not the type's internal form fails the
              // literal's own validation: refuse
              val lits = scala.util.Try(ls.map(l => Literal(l.value, l.dataType)))
              if (ls.size != vs.size || lits.isFailure) None
              else {
                val a = AttributeReference(f.name, f.dataType)()
                Some(if (p.name() == "IN") In(a, lits.get) else EqualTo(a, lits.get.head))
              }
            }
        case _ => None
      }
    }

  /** Literal → (raw double, stats types the raw value may prune beyond
    * plain numerics). Catalyst DATE/TIMESTAMP literals are ALREADY in
    * the column's raw physical units — epoch days (`INT32:DATE`) and
    * epoch micros — so they may prune those annotated stats, which
    * user-unit engine predicates never can. The timestamp match is
    * VARIANT-EXACT against the index's full annotation: a
    * `TimestampType` literal is an instant in epoch MICROS, comparable
    * only to `TIMESTAMP(MICROS,true)` stats (instant semantics, any
    * session timezone); a `TimestampNTZType` literal is wall-clock
    * micros, comparable only to `TIMESTAMP(MICROS,false)`. MILLIS/
    * NANOS-stored files (e.g. written under a non-default
    * `spark.sql.parquet.outputTimestampType`, or absorbed external
    * parquet) record a different annotation and stay conservatively
    * unprunable — a 1000× unit mismatch must over-read, never prune. */
  private def ranged(l: Literal): Option[(Double, Set[String])] =
    (l.value, l.dataType) match {
      case (n: java.lang.Number, org.apache.spark.sql.types.DateType) =>
        Some(n.doubleValue() -> Set("INT32:DATE"))
      case (n: java.lang.Number, org.apache.spark.sql.types.TimestampType) =>
        Some(n.doubleValue() -> Set("INT64:TIMESTAMP(MICROS,true)"))
      case (n: java.lang.Number, org.apache.spark.sql.types.TimestampNTZType) =>
        Some(n.doubleValue() -> Set("INT64:TIMESTAMP(MICROS,false)"))
      case (n: java.lang.Number, _) => Some(n.doubleValue() -> Set.empty[String])
      case (d: org.apache.spark.sql.types.Decimal,
          dt: org.apache.spark.sql.types.DecimalType) =>
        // int-backed DECIMAL stats are exact UNSCALED integers
        // annotated `DECIMAL(p,s)` (r19): convert the literal to the
        // same unscaled units and tag BOTH physical widths variant-
        // exactly — a precision/scale-mismatched file (schema
        // evolution, absorbed parquet) or a binary-backed wide decimal
        // carries a different tag and conservatively keeps; the ±2
        // raw-tag pad keeps double rounding of wide unscaled values
        // strictly over-reading
        Some(d.toJavaBigDecimal.movePointRight(dt.scale).doubleValue() ->
          Set(s"INT32:DECIMAL(${dt.precision},${dt.scale})",
            s"INT64:DECIMAL(${dt.precision},${dt.scale})"))
      case (d: org.apache.spark.sql.types.Decimal, _) =>
        Some(d.toDouble -> Set.empty[String])
      case _ => None
    }

  /** A literal as the JVM value the bloom layer hashes — the exact
    * value matters there (blooms hash the column's physical type, so
    * the double-erased range form cannot drive them). Compact decimals
    * hash as their UNSCALED long — exactly the INT32/INT64 physical
    * value the column's bloom was built over — carried WITH the (p,s)
    * they were scaled under, so the bloom layer can refuse a chunk
    * whose DECIMAL annotation differs (absorbed parquet at another
    * scale stores different unscaled values for the same number); wide
    * (binary-backed) decimals stay unextracted (r19). Values the bloom
    * layer cannot hash keep their files there anyway. */
  private def typed(l: Literal): Option[Any] = (l.value, l.dataType) match {
    case (n: java.lang.Number, _) => Some(n)
    case (s: org.apache.spark.unsafe.types.UTF8String, _) => Some(s.toString)
    case (d: org.apache.spark.sql.types.Decimal,
        dt: org.apache.spark.sql.types.DecimalType)
        if dt.precision <= org.apache.spark.sql.types.Decimal.MAX_LONG_DIGITS =>
      Some(SkippingIndex.DecimalPoint(d.toUnscaledLong, dt.precision, dt.scale))
    case _ => None
  }

  /** A STRING literal for the r19 string-skipping channel. Spark
    * compares strings as UNSIGNED UTF-8 bytes, which is exactly
    * parquet's declared sort order for STRING-annotated BINARY stats;
    * the index side additionally gates on the exact `BINARY:STRING`
    * annotation, so raw binary/decimal stats never wrongly prune. */
  private def str(l: Literal): Option[String] = l.value match {
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
    case _ => None
  }

  /** Unsigned UTF-8 byte comparison — the order Spark's UTF8String and
    * parquet's STRING stats both use. */
  def compareUtf8(x: String, y: String): Int =
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
