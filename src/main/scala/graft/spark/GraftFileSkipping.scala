package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo,
  Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual,
  Literal}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.types.StructType

/** Catalyst-filter → index-predicate translation and the
  * split-filtering pass behind [[GraftScan]]. */
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
      statsPath: Option[java.nio.file.Path],
      preds: Seq[(String, Double, Double, Set[String])],
      strPreds: Seq[(String, Option[String], Option[String])]):
      org.apache.spark.sql.connector.read.Statistics = {
    val innerStats = inner.estimateStatistics()
    val tightened: Option[(Long, Long)] = statsPath.flatMap { sp =>
      if (preds.isEmpty && strPreds.isEmpty) None
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
          val view = graft.storage.SkippingIndex.viewAtCached(sp)
          val rows = byFile.keys.toSeq.sorted.flatMap(f =>
            view.rowCount(f).map(f -> _))
          if (rows.size != byFile.size) None
          else {
            val rowsMap = rows.toMap
            val cand = graft.storage.SkippingIndex
              .candidateFilesTyped(sp, byFile.keys.toSeq.sorted, preds,
                strPreds = strPreds).toSet
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

  /** Planned splits filtered to index candidates: min/max ranges first
    * (one driver-side stats-file load), then — for equality conjuncts
    * on columns whose files carry parquet bloom filters (one footer
    * probe decides before any job launches) — a distributed bloom pass
    * over what survived. Min/max cannot prune a point probe on a
    * high-cardinality column under a random layout (every file's range
    * spans the key space); the blooms are what make a SQL-door point
    * lookup open ~1 file instead of the table. Returns (kept splits,
    * kept file count, total file count). */
  def filterSplits(statsPath: java.nio.file.Path,
      preds: Seq[(String, Double, Double, Set[String])], points: Seq[(String, Seq[Any])],
      splits: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
      strPreds: Seq[(String, Option[String], Option[String])] = Nil):
      (Array[org.apache.spark.sql.execution.datasources.PartitionedFile], Int, Int) = {
    val paths = splits.map(f => plainPath(f.filePath.toString)).distinct.toSeq
    var cand =
      if (preds.isEmpty && strPreds.isEmpty) paths.toSet
      else graft.storage.SkippingIndex
        .candidateFilesTyped(statsPath, paths, preds, strPreds = strPreds).toSet
    for ((col, vs) <- points if cand.size > 1) {
      val ordered = cand.toSeq.sorted
      // probe up to three files for a bloom before launching the
      // distributed pass: ONE bloom-less file (say, appended by a
      // writer configured without blooms) must not silently disable
      // pruning for the rest — and a genuinely bloom-less table still
      // never pays a job (the pass itself keeps bloom-less files, so
      // proceeding on any hit is conservative either way)
      if (ordered.take(3).exists(f =>
          graft.storage.SkippingIndex.hasBloomFilter(SparkSession.active, f, col)))
        cand = graft.storage.SkippingIndex
          .bloomCandidatesAny(SparkSession.active, ordered, col, vs).toSet
    }
    val kept = splits.filter(f => cand.contains(plainPath(f.filePath.toString)))
    (kept, cand.size, paths.size)
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
  def runtimeKeep(predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate],
      pSchema: StructType):
      org.apache.spark.sql.execution.datasources.PartitionedFile => Boolean = {
    import org.apache.spark.sql.connector.expressions.{Literal => VLiteral,
      NamedReference}
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

  /** How many runtime IN-list values a bloom pass will hash per file —
    * DPP value lists can be large; above this, only the (always-cheap)
    * min/max envelope prunes. */
  private val MaxRuntimeBloomValues = 64

  /** Runtime IN/= predicates over DATA columns → the same (envelope,
    * points) conjuncts planned-time filters produce, for dynamic FILE
    * pruning through the index/bloom pass. Sound like the planner-side
    * extraction: values typed EXACTLY as the read schema's column
    * (else refuse), null literals dropped (IN/= never match null),
    * envelopes widened ±2 for raw-unit temporal tags, unsupported
    * shapes contribute nothing. */
  def runtimeIndexConjuncts(predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate],
      dataSchema: StructType):
      (Seq[(String, Double, Double, Set[String])], Seq[(String, Seq[Any])],
        Seq[(String, Option[String], Option[String])]) = {
    import org.apache.spark.sql.connector.expressions.{Literal => VLiteral,
      NamedReference}
    import org.apache.spark.sql.types._
    val preds = Seq.newBuilder[(String, Double, Double, Set[String])]
    val points = Seq.newBuilder[(String, Seq[Any])]
    val strs = Seq.newBuilder[(String, Option[String], Option[String])]
    predicates.foreach { p =>
      val kids = p.children().toSeq
      kids match {
        case Seq(ref: NamedReference, lits @ _*)
            if (p.name() == "IN" || p.name() == "=") &&
              ref.fieldNames.length == 1 && lits.nonEmpty &&
              lits.forall(_.isInstanceOf[VLiteral[_]]) =>
          dataSchema.fields.find(_.name.equalsIgnoreCase(ref.fieldNames.head))
            .foreach { f =>
              val vs = lits.map(_.asInstanceOf[VLiteral[_]])
                .filter(l => l.dataType == f.dataType && l.value != null)
              if (vs.nonEmpty && vs.size == lits.size) {
                val col = f.name
                // envelope over the raw numeric view of the values
                def env(pad: Double, tags: Set[String]): Unit = {
                  val ds = vs.map(_.value.asInstanceOf[Number].doubleValue())
                  preds += ((col, ds.min - pad, ds.max + pad, tags))
                }
                f.dataType match {
                  case ByteType | ShortType | IntegerType | LongType |
                      FloatType | DoubleType => env(0.0, Set.empty)
                  case DateType => env(2.0, Set("INT32:DATE"))
                  case TimestampType =>
                    env(2.0, Set("INT64:TIMESTAMP(MICROS,true)"))
                  case TimestampNTZType =>
                    env(2.0, Set("INT64:TIMESTAMP(MICROS,false)"))
                  case StringType =>
                    // STRING envelope over the UTF-8 byte order (r19):
                    // a string-keyed dim's runtime IN prunes the fact
                    // by [min,max] even without declared blooms
                    val ss = vs.map(_.value
                      .asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
                      .toString)
                    implicit val ord: Ordering[String] =
                      (x: String, y: String) => compareUtf8(x, y)
                    strs += ((col, Some(ss.min(ord)), Some(ss.max(ord))))
                  case dt: DecimalType =>
                    // unscaled-unit envelope, tag-gated exactly like
                    // the planned-time decimal conjuncts
                    val ds = vs.map(_.value
                      .asInstanceOf[org.apache.spark.sql.types.Decimal]
                      .toJavaBigDecimal.movePointRight(dt.scale).doubleValue())
                    preds += ((col, ds.min - 2.0, ds.max + 2.0,
                      Set(s"INT32:DECIMAL(${dt.precision},${dt.scale})",
                        s"INT64:DECIMAL(${dt.precision},${dt.scale})")))
                  case _ => ()
                }
                // bloom points: JVM-typed values (the footer hash layer
                // keeps files for anything it cannot hash); compact
                // decimals as their unscaled long, like planned points
                if (vs.size <= MaxRuntimeBloomValues) {
                  val typed = vs.flatMap(l => (l.value, f.dataType) match {
                    case (n: Number, _) => Some(n)
                    case (s: org.apache.spark.unsafe.types.UTF8String, _) =>
                      Some(s.toString)
                    case (d: org.apache.spark.sql.types.Decimal,
                        dt: DecimalType)
                        if dt.precision <=
                          org.apache.spark.sql.types.Decimal.MAX_LONG_DIGITS =>
                      // typed carrier: the bloom layer probes only
                      // chunks whose DECIMAL(p,s) annotation matches
                      Some(graft.storage.SkippingIndex.DecimalPoint(
                        d.toUnscaledLong, dt.precision, dt.scale))
                    case _ => None
                  })
                  if (typed.size == vs.size) points += ((col, typed))
                }
              }
            }
        case _ => ()
      }
    }
    (preds.result(), points.result(), strs.result())
  }

  /** URI → plain filesystem path (the index stores plain absolute
    * paths; split paths arrive as file: URIs). */
  def plainPath(p: String): String =
    try {
      val u = new java.net.URI(p)
      if (u.getScheme != null && u.getPath != null) u.getPath else p
    } catch { case _: Exception => p }

  private val All = (Double.NegativeInfinity, Double.PositiveInfinity)

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

  /** Numeric (and raw-unit temporal) range conjuncts from pushed
    * filters. Only shapes where a NULL attribute value cannot satisfy
    * the predicate are extracted (plain comparisons and IN — never
    * null-safe equality or IS NULL), so pruning on non-null min/max
    * stats is sound. Strict bounds stay inclusive, and raw temporal
    * bounds widen ±2 units (micros past 2^53 round in double — the
    * widening keeps that rounding strictly over-reading): the index
    * may only over-read. */
  def rangeConjuncts(filters: Seq[Expression]):
      Seq[(String, Double, Double, Set[String])] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def mk(a: Attribute, lo: Option[(Double, Set[String])],
        hi: Option[(Double, Set[String])]):
        Option[(String, Double, Double, Set[String])] = {
      val raw = (lo.toSeq ++ hi.toSeq).flatMap(_._2).toSet
      val pad = if (raw.isEmpty) 0.0 else 2.0
      Some((a.name, lo.map(_._1 - pad).getOrElse(All._1),
        hi.map(_._1 + pad).getOrElse(All._2), raw))
    }
    filters.flatMap(conjuncts).flatMap {
      case EqualTo(a: Attribute, l: Literal) =>
        ranged(l).flatMap(v => mk(a, Some(v), Some(v)))
      case EqualTo(l: Literal, a: Attribute) =>
        ranged(l).flatMap(v => mk(a, Some(v), Some(v)))
      case GreaterThan(a: Attribute, l: Literal) =>
        ranged(l).flatMap(v => mk(a, Some(v), None))
      case GreaterThanOrEqual(a: Attribute, l: Literal) =>
        ranged(l).flatMap(v => mk(a, Some(v), None))
      case LessThan(a: Attribute, l: Literal) =>
        ranged(l).flatMap(v => mk(a, None, Some(v)))
      case LessThanOrEqual(a: Attribute, l: Literal) =>
        ranged(l).flatMap(v => mk(a, None, Some(v)))
      case GreaterThan(l: Literal, a: Attribute) => // v > a  ==  a < v
        ranged(l).flatMap(v => mk(a, None, Some(v)))
      case GreaterThanOrEqual(l: Literal, a: Attribute) =>
        ranged(l).flatMap(v => mk(a, None, Some(v)))
      case LessThan(l: Literal, a: Attribute) => // v < a  ==  a > v
        ranged(l).flatMap(v => mk(a, Some(v), None))
      case LessThanOrEqual(l: Literal, a: Attribute) =>
        ranged(l).flatMap(v => mk(a, Some(v), None))
      case In(a: Attribute, vs) if vs.nonEmpty && vs.forall {
          case l: Literal => ranged(l).isDefined
          case _ => false
        } =>
        val ds = vs.collect { case l: Literal => ranged(l).get }
        mk(a, Some((ds.map(_._1).min, ds.flatMap(_._2).toSet)),
          Some((ds.map(_._1).max, ds.flatMap(_._2).toSet)))
      case _ => None
    }
  }

  /** STRING range conjuncts ([lo, hi] inclusive, None = unbounded
    * side) from pushed filters — the r19 string-skipping channel.
    * Spark compares strings as UNSIGNED UTF-8 bytes (UTF8String binary
    * order), which is exactly parquet's declared sort order for
    * STRING-annotated BINARY stats, so a byte-wise intersect against
    * the recorded min/max can prune string-clustered layouts the same
    * way numerics do. Only null-rejecting attribute-vs-literal shapes
    * extract (the same discipline as [[rangeConjuncts]]); the index
    * side additionally gates on the exact `BINARY:STRING` stats
    * annotation, so raw binary/decimal stats never wrongly prune. */
  def stringRangeConjuncts(filters: Seq[Expression]):
      Seq[(String, Option[String], Option[String])] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def str(l: Literal): Option[String] = l.value match {
      case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
      case _ => None
    }
    filters.flatMap(conjuncts).flatMap {
      case EqualTo(a: Attribute, l: Literal) =>
        str(l).map(v => (a.name, Some(v), Some(v)))
      case EqualTo(l: Literal, a: Attribute) =>
        str(l).map(v => (a.name, Some(v), Some(v)))
      case GreaterThan(a: Attribute, l: Literal) =>
        str(l).map(v => (a.name, Some(v), None))
      case GreaterThanOrEqual(a: Attribute, l: Literal) =>
        str(l).map(v => (a.name, Some(v), None))
      case LessThan(a: Attribute, l: Literal) =>
        str(l).map(v => (a.name, None, Some(v)))
      case LessThanOrEqual(a: Attribute, l: Literal) =>
        str(l).map(v => (a.name, None, Some(v)))
      case GreaterThan(l: Literal, a: Attribute) => // v > a  ==  a < v
        str(l).map(v => (a.name, None, Some(v)))
      case GreaterThanOrEqual(l: Literal, a: Attribute) =>
        str(l).map(v => (a.name, None, Some(v)))
      case LessThan(l: Literal, a: Attribute) => // v < a  ==  a > v
        str(l).map(v => (a.name, Some(v), None))
      case LessThanOrEqual(l: Literal, a: Attribute) =>
        str(l).map(v => (a.name, Some(v), None))
      case In(a: Attribute, vs) if vs.nonEmpty && vs.forall {
          case l: Literal => str(l).isDefined
          case _ => false
        } =>
        // envelope over the UTF-8 byte order (min/max of the values)
        val bs = vs.collect { case l: Literal => str(l).get }
        implicit val ord: Ordering[String] =
          (x: String, y: String) => GraftFileSkipping.compareUtf8(x, y)
        Some((a.name, Some(bs.min(ord)), Some(bs.max(ord))))
      case _ => None
    }
  }

  /** Unsigned UTF-8 byte comparison — the order Spark's UTF8String and
    * parquet's STRING stats both use. */
  def compareUtf8(x: String, y: String): Int =
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** How many IN-list literals a bloom pass will hash per file before
    * giving up on pruning — a 10k-element IN would spend more on
    * hashing than the saved reads. */
  private val MaxBloomInValues = 16

  /** Typed equality/IN conjuncts, for parquet-bloom pruning — the
    * exact value matters there (blooms hash the column's physical
    * type, so the double-erased range form cannot drive them). An
    * IN-list entry keeps a file when ANY value might be contained.
    * Only plain non-null-matching shapes; unsupported value types are
    * simply never extracted
    * ([[graft.storage.SkippingIndex.bloomMightContain]] keeps files it
    * cannot hash for anyway). */
  def pointConjuncts(filters: Seq[Expression]): Seq[(String, Seq[Any])] = {
    def typed(l: Literal): Option[Any] = (l.value, l.dataType) match {
      case (n: java.lang.Number, _) => Some(n)
      case (s: org.apache.spark.unsafe.types.UTF8String, _) => Some(s.toString)
      // compact decimals hash as their UNSCALED long — exactly the
      // INT32/INT64 physical value the column's bloom was built over —
      // carried WITH the (p,s) they were scaled under, so the bloom
      // layer can refuse a chunk whose DECIMAL annotation differs
      // (absorbed parquet at another scale stores different unscaled
      // values for the same number); wide (binary-backed) decimals
      // stay unextracted (r19)
      case (d: org.apache.spark.sql.types.Decimal,
          dt: org.apache.spark.sql.types.DecimalType)
          if dt.precision <= org.apache.spark.sql.types.Decimal.MAX_LONG_DIGITS =>
        Some(graft.storage.SkippingIndex.DecimalPoint(
          d.toUnscaledLong, dt.precision, dt.scale))
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    filters.flatMap(conjuncts).flatMap {
      case EqualTo(a: Attribute, l: Literal) =>
        typed(l).map(v => a.name -> Seq(v))
      case EqualTo(l: Literal, a: Attribute) =>
        typed(l).map(v => a.name -> Seq(v))
      case In(a: Attribute, vs) if vs.nonEmpty &&
          vs.size <= MaxBloomInValues =>
        val ts = vs.map { case l: Literal => typed(l); case _ => None }
        if (ts.forall(_.isDefined)) Some(a.name -> ts.map(_.get)) else None
      case _ => None
    }
  }
}
