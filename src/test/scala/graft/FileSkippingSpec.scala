package graft

import graft.spark.{GraftConjuncts, GraftFileSkipping}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{DateType, DoubleType, LongType, StringType,
  TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Soundness rules of the one catalyst-filter → index-predicate
  * translation ([[GraftFileSkipping.conjuncts]]) behind
  * [[graft.spark.GraftScan]] and the catalog's UPDATE/DELETE probe —
  * each test reads one of its channels: only shapes a
  * NULL row can never satisfy, strict bounds widened to inclusive,
  * raw-unit temporal literals carry the exact stats type they may
  * prune, everything unrecognized contributes NO pruning. */
class FileSkippingSpec extends AnyFunSuite {

  private val id = AttributeReference("id", LongType)()
  private val m = AttributeReference("m", DoubleType)()
  private val s = AttributeReference("s", StringType)()
  private val d = AttributeReference("d", DateType)()
  private val ts = AttributeReference("ts", TimestampType)()
  private val inf = Double.PositiveInfinity
  private def x(es: Expression*) = GraftFileSkipping.conjuncts(es).preds

  test("comparisons extract in both operand orders, strict kept inclusive") {
    assert(x(EqualTo(id, Literal(5L))) === Seq(("id", 5.0, 5.0, Set.empty)))
    assert(x(EqualTo(Literal(5L), id)) === Seq(("id", 5.0, 5.0, Set.empty)))
    assert(x(GreaterThan(id, Literal(3L))) === Seq(("id", 3.0, inf, Set.empty)))
    assert(x(GreaterThanOrEqual(id, Literal(3L))) ===
      Seq(("id", 3.0, inf, Set.empty)))
    assert(x(LessThan(id, Literal(7L))) === Seq(("id", -inf, 7.0, Set.empty)))
    // 7 < id  ==  id > 7 ; 7 > id  ==  id < 7
    assert(x(LessThan(Literal(7L), id)) === Seq(("id", 7.0, inf, Set.empty)))
    assert(x(GreaterThan(Literal(7L), id)) === Seq(("id", -inf, 7.0, Set.empty)))
  }

  test("And splits into conjuncts; IN takes the value envelope") {
    assert(x(And(GreaterThanOrEqual(id, Literal(2L)),
      LessThanOrEqual(m, Literal(9.5)))).toSet ===
      Set(("id", 2.0, inf, Set.empty), ("m", -inf, 9.5, Set.empty)))
    assert(x(In(id, Seq(Literal(9L), Literal(1L), Literal(4L)))) ===
      Seq(("id", 1.0, 9.0, Set.empty)))
  }

  test("DATE/TIMESTAMP literals prune their raw-unit stats types, padded") {
    // catalyst date literals are epoch DAYS (Int), timestamps epoch
    // MICROS (Long) — exactly the raw values INT32:DATE /
    // INT64:TIMESTAMP(MICROS,…) stats record; ±2 padding keeps double
    // rounding of far-future micros strictly over-reading. The
    // timestamp stats match is VARIANT-EXACT: instant (TimestampType)
    // literals prune only adjusted-to-UTC MICROS stats, NTZ literals
    // only non-adjusted MICROS — MILLIS/NANOS variants never match.
    assert(x(GreaterThanOrEqual(d, Literal(19723, DateType))) ===
      Seq(("d", 19721.0, inf, Set("INT32:DATE"))))
    assert(x(EqualTo(ts, Literal(1700000000000000L, TimestampType))) ===
      Seq(("ts", 1700000000000000.0 - 2, 1700000000000000.0 + 2,
        Set("INT64:TIMESTAMP(MICROS,true)"))))
    assert(x(LessThan(Literal(1700000000000000L, TimestampNTZType), ts)) ===
      Seq(("ts", 1700000000000000.0 - 2, inf,
        Set("INT64:TIMESTAMP(MICROS,false)"))))
    assert(x(LessThan(Literal(19000, DateType), d)) ===
      Seq(("d", 18998.0, inf, Set("INT32:DATE"))))
  }

  test("null-matching, disjunctive, and non-literal shapes extract nothing") {
    assert(x(EqualNullSafe(id, Literal(5L))).isEmpty,
      "null-safe equality can match NULL rows a stats range excludes")
    assert(x(IsNull(id)).isEmpty)
    assert(x(Or(EqualTo(id, Literal(1L)), EqualTo(id, Literal(2L)))).isEmpty,
      "disjunctions are not conjunctive ranges")
    assert(x(EqualTo(id, id)).isEmpty)
    assert(x(EqualTo(s, Literal("x"))).isEmpty, "non-numeric literals skip")
    assert(x(EqualTo(Cast(id, DoubleType), Literal(5.0))).isEmpty,
      "cast-wrapped attributes are not raw column ranges")
    assert(x(In(id, Seq(Literal(1L), id))).isEmpty,
      "IN with a non-literal element extracts nothing")
  }

  test("runtime (DPP) predicates drop splits by partition value; anything unsound keeps") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.execution.datasources.PartitionedFile
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val pSchema = StructType(Seq(StructField("p", IntegerType)))
    def split(p: java.lang.Integer) = PartitionedFile(
      new GenericInternalRow(Array[Any](p)),
      org.apache.spark.paths.SparkPath.fromPathString(s"/tmp/f$p.parquet"),
      0L, 10L, Array.empty)
    def in(col: String, vs: Any*) = new Predicate("IN",
      (Expressions.column(col) +: vs.map(Expressions.literal))
        .toArray[org.apache.spark.sql.connector.expressions.Expression])
    val keep = GraftFileSkipping.runtimeKeep(Array(in("p", 1, 3)), pSchema)
    assert(keep(split(1)) && keep(split(3)) && !keep(split(2)))
    assert(!keep(split(null)),
      "a NULL partition value cannot satisfy the guarded equi-join")
    // column name resolution is case-insensitive, like Spark's
    assert(!GraftFileSkipping.runtimeKeep(Array(in("P", 9)), pSchema)(split(1)))
    // unsound shapes contribute NO pruning: unknown column, literal
    // dataType differing from the partition column's, non-IN names
    assert(GraftFileSkipping.runtimeKeep(Array(in("q", 9)), pSchema)(split(1)))
    assert(GraftFileSkipping.runtimeKeep(Array(in("p", 9L)), pSchema)(split(1)),
      "a LONG literal against an INT partition column must refuse, not prune")
    assert(GraftFileSkipping.runtimeKeep(
      Array(new Predicate("IS_NULL",
        Array[org.apache.spark.sql.connector.expressions.Expression](
          Expressions.column("p")))), pSchema)(split(1)))
    assert(GraftFileSkipping.runtimeKeep(Array.empty, pSchema)(split(1)))
  }

  test("DECIMAL literals prune their unscaled-int stats, tag-gated (r19)") {
    import org.apache.spark.sql.types.{Decimal, DecimalType}
    val amt = AttributeReference("amt", DecimalType(12, 2))()
    val lit = Literal(Decimal(BigDecimal("12.34"), 12, 2), DecimalType(12, 2))
    val tags = Set("INT32:DECIMAL(12,2)", "INT64:DECIMAL(12,2)")
    assert(x(GreaterThanOrEqual(amt, lit)) ===
      Seq(("amt", 1234.0 - 2, inf, tags)),
      "the literal converts to UNSCALED units and tags both widths")
    assert(x(EqualTo(amt, lit)) ===
      Seq(("amt", 1234.0 - 2, 1234.0 + 2, tags)))
    // a wide literal (binary-backed column) tags annotations no
    // INT32/INT64 file records — the conjunct exists but matches
    // nothing, i.e. keeps everything
    val wide = AttributeReference("w", DecimalType(38, 6))()
    val wlit = Literal(Decimal(BigDecimal("1.000001"), 38, 6), DecimalType(38, 6))
    assert(x(EqualTo(wide, wlit)).head._4 ===
      Set("INT32:DECIMAL(38,6)", "INT64:DECIMAL(38,6)"))
  }

  test("string range conjuncts extract with UTF-8 byte-order envelopes (r19)") {
    def sx(es: Expression*) = GraftFileSkipping.conjuncts(es).strs
    assert(sx(EqualTo(s, Literal("m"))) === Seq(("s", Some("m"), Some("m"))))
    assert(sx(EqualTo(Literal("m"), s)) === Seq(("s", Some("m"), Some("m"))))
    assert(sx(GreaterThan(s, Literal("b"))) === Seq(("s", Some("b"), None)))
    assert(sx(LessThan(s, Literal("q"))) === Seq(("s", None, Some("q"))))
    assert(sx(LessThanOrEqual(Literal("q"), s)) === Seq(("s", Some("q"), None)),
      "reversed operands flip the bound")
    assert(sx(And(GreaterThanOrEqual(s, Literal("c")),
      LessThanOrEqual(s, Literal("f")))).toSet ===
      Set(("s", Some("c"), None), ("s", None, Some("f"))))
    // IN envelope uses UNSIGNED UTF-8 order: 'Z' (0x5A) < 'a' (0x61)
    assert(sx(In(s, Seq(Literal("b"), Literal("Z"), Literal("a")))) ===
      Seq(("s", Some("Z"), Some("b"))))
    // non-string literals, non-attribute shapes: nothing extracts
    assert(sx(EqualTo(id, Literal(5L))).isEmpty)
    assert(sx(EqualNullSafe(s, Literal("x"))).isEmpty,
      "null-safe equality can match NULL — never prune on it")
    assert(sx(In(s, Seq(Literal("a"), s))).isEmpty)
    // the comparator itself: unsigned bytes, multi-byte code points
    assert(GraftFileSkipping.compareUtf8("Z", "a") < 0)
    assert(GraftFileSkipping.compareUtf8("é", "z") > 0,
      "multi-byte UTF-8 sorts after ASCII — byte order, not char order")
  }

  test("±0.0 double partition values follow SQL equality, never wrongly prune") {
    // SQL (and Spark's own DPP evaluation) treats -0.0 = 0.0 as TRUE;
    // boxed equals does not — a -0.0-valued partition dir must keep
    // when the build side supplies 0.0, and vice versa. NaN keeps
    // matching itself (boxed equals == SQL there).
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.execution.datasources.PartitionedFile
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val pSchema = StructType(Seq(StructField("p", DoubleType)))
    def split(p: Double) = PartitionedFile(
      new GenericInternalRow(Array[Any](java.lang.Double.valueOf(p))),
      org.apache.spark.paths.SparkPath.fromPathString(s"/tmp/fd.parquet"),
      0L, 10L, Array.empty)
    def in(vs: Double*) = new Predicate("IN",
      (Expressions.column("p") +: vs.map(v => Expressions.literal(v)))
        .toArray[org.apache.spark.sql.connector.expressions.Expression])
    val keepZero = GraftFileSkipping.runtimeKeep(Array(in(0.0)), pSchema)
    assert(keepZero(split(-0.0)), "-0.0 dir must survive a 0.0 build side")
    assert(keepZero(split(0.0)) && !keepZero(split(1.0)))
    val keepNeg = GraftFileSkipping.runtimeKeep(Array(in(-0.0)), pSchema)
    assert(keepNeg(split(0.0)), "0.0 dir must survive a -0.0 build side")
    val keepNaN = GraftFileSkipping.runtimeKeep(Array(in(Double.NaN)), pSchema)
    assert(keepNaN(split(Double.NaN)) && !keepNaN(split(0.0)))
  }

  test("runtime data-column predicates translate to envelope + bloom conjuncts") {
    import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Expressions}
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.types.{LongType => LT, StringType => ST,
      StructField, StructType}
    val schema = StructType(Seq(StructField("id", LT), StructField("s", ST)))
    def in(col: String, vs: Any*) = new Predicate("IN",
      (Expressions.column(col) +: vs.map(Expressions.literal)).toArray[VExpr])
    // runtime predicates convert to catalyst IN/= and take the one walker
    // with the runtime bloom limit
    def rt(p: Predicate) = GraftFileSkipping.conjuncts(
      GraftFileSkipping.runtimeFilters(Array(p), schema),
      GraftFileSkipping.RuntimeBloomValues)
    val GraftConjuncts(preds, points, _) = rt(in("id", 2100L, 2300L, 2200L))
    assert(preds === Seq(("id", 2100.0, 2300.0, Set.empty)),
      "the envelope spans the runtime values")
    assert(points === Seq("id" -> Seq(2100L, 2300L, 2200L)))
    // strings: UTF-8 byte-order envelope (r19) PLUS blooms
    val GraftConjuncts(p2, pt2, st2) = rt(in("s",
      org.apache.spark.unsafe.types.UTF8String.fromString("x"),
      org.apache.spark.unsafe.types.UTF8String.fromString("Z")))
    assert(p2.isEmpty && pt2 === Seq("s" -> Seq("x", "Z")))
    assert(st2 === Seq(("s", Some("Z"), Some("x"))),
      "runtime string IN contributes a byte-order envelope")
    // type mismatch (int literal vs long column) refuses everything
    val GraftConjuncts(p3, pt3, st3) = rt(in("id", 5))
    assert(p3.isEmpty && pt3.isEmpty && st3.isEmpty)
    // oversized IN keeps the cheap envelope, skips the bloom hashing
    val big = in("id", (1L to 65L): _*)
    val GraftConjuncts(p4, pt4, _) = rt(big)
    assert(p4 === Seq(("id", 1.0, 65.0, Set.empty)) && pt4.isEmpty)
  }

  test("point conjuncts keep TYPED values; IN keeps its list, bounded") {
    def px(es: Expression*) = GraftFileSkipping.conjuncts(es).points
    assert(px(EqualTo(id, Literal(5L))) === Seq("id" -> Seq(5L)))
    assert(px(EqualTo(Literal("x"), s)) ===
      Seq("s" -> Seq("x")), "string equality drives blooms (not ranges)")
    assert(px(In(id, Seq(Literal(3L), Literal(9L)))) === Seq("id" -> Seq(3L, 9L)))
    val big = In(id, (1 to 17).map(i => Literal(i.toLong)))
    assert(px(big).isEmpty,
      "oversized IN lists cost more to hash than they save")
    assert(px(In(id, Seq(Literal(1L), id))).isEmpty)
    assert(px(EqualNullSafe(id, Literal(5L))).isEmpty)
  }

  test("one walk fills every channel; the bloom limit is its only parameter") {
    // string equality: a byte-order range AND a bloom point, no numeric range
    assert(GraftFileSkipping.conjuncts(Seq(EqualTo(s, Literal("m")))) ===
      GraftConjuncts(Nil, Seq("s" -> Seq("m")), Seq(("s", Some("m"), Some("m")))))
    // a 17-value IN: the envelope always, the points only under a limit ≥ 17
    val in17 = In(id, (1 to 17).map(i => Literal(i.toLong)))
    assert(GraftFileSkipping.conjuncts(Seq(in17)).points.isEmpty)
    assert(GraftFileSkipping.conjuncts(Seq(in17),
      GraftFileSkipping.RuntimeBloomValues).points ===
      Seq("id" -> (1 to 17).map(_.toLong)))
    assert(GraftFileSkipping.conjuncts(Seq(in17)).preds ===
      Seq(("id", 1.0, 17.0, Set.empty)))
  }

  test("runtime IN/= convert to catalyst In/EqualTo over the schema's column") {
    import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Expressions}
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.types.{StructField, StructType}
    val schema = StructType(Seq(StructField("id", LongType)))
    def pred(name: String, col: String, vs: Any*) = new Predicate(name,
      (Expressions.column(col) +: vs.map(Expressions.literal)).toArray[VExpr])
    GraftFileSkipping.runtimeFilters(Array(pred("=", "ID", 5L)), schema) match {
      case Seq(EqualTo(a: AttributeReference, Literal(5L, LongType))) =>
        assert(a.name === "id" && a.dataType === LongType)
      case other => fail(s"expected id = 5, got $other")
    }
    GraftFileSkipping.runtimeFilters(Array(pred("IN", "id", 1L, 2L)), schema) match {
      case Seq(In(_: AttributeReference, Seq(Literal(1L, _), Literal(2L, _)))) => ()
      case other => fail(s"expected id IN (1, 2), got $other")
    }
    // refused: a NULL value, an unknown column, a non-IN/= predicate
    val nullLong = new org.apache.spark.sql.connector.expressions.Literal[Any] {
      override def value(): Any = null
      override def dataType(): org.apache.spark.sql.types.DataType = LongType
    }
    assert(GraftFileSkipping.runtimeFilters(Array(new Predicate("IN",
      Array[VExpr](Expressions.column("id"), Expressions.literal(1L), nullLong))),
      schema).isEmpty)
    assert(GraftFileSkipping.runtimeFilters(Array(pred("IN", "q", 1L)), schema).isEmpty)
    assert(GraftFileSkipping.runtimeFilters(Array(pred(">", "id", 1L)), schema).isEmpty)
  }
}
