package graft.queries

import graft.Tables
import graft.storage.{ParquetCatalog, Scratch}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Time-series / governance pack — the resample, interpolation, smoothing
  * and interval-sweep operations a metrics pipeline layers over an event
  * stream (the batch side of the reference's activity-trend tier,
  * `notebooks/silver_to_gold_analytics.py:200-240`), plus the
  * schema-drift union and k-anonymity audit a long-lived lakehouse needs.
  *
  * Scale notes (100 TB):
  *   - every window below is PARTITIONED BY user (or a grouping key) —
  *     per-key sequential scans parallelize across executors; nothing
  *     orders the whole stream globally;
  *   - the gap-fill spine is generated per user from that user's own
  *     [min,max] day bounds (sequence + explode — a narrow flatMap after
  *     one hash-agg), never a driver-side calendar crossJoin;
  *   - the interval sweep is the classic +1/−1 boundary walk: 2 rows per
  *     interval, one partitioned running sum — O(n log n) per key in the
  *     sort, no pairwise overlap join;
  *   - all value arithmetic is exact (DECIMAL sums, integer microseconds,
  *     power-of-two EWMA weights) until a final cast, so results
  *     hash-match a single-threaded engine at any parallelism.
  */
object TimeSeriesQueries {
  private val dec = DecimalType(28, 6)

  /** Per-user daily totals (exact DECIMAL), the base series for ts1/ts2. */
  private def dailySeries(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(sum(col("value").cast(dec)).cast("double").as("day_value"))

  private val dailyCtes = """
        daily AS (
          SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                 CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS day_value
          FROM events GROUP BY 1, 2),
        bounds AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
        spine AS (
          SELECT user_id, CAST(u.day AS DATE) AS day
          FROM bounds, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS u(day)),
        joined AS (
          SELECT s.user_id, s.day, d.day_value FROM spine s
          LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day)"""

  val all: Seq[Q] = Seq(
    // ----------------------------------------------------------------
    // Resample to a complete daily grid + last-observation-carried-
    // forward. The spine is per-user sequence(min_day, max_day) — a
    // narrow explode after one hash-agg, so a sparse user costs only its
    // own span. LOCF is last(ignoreNulls) over a cumulative frame:
    // per-user sequential, engine-independent (it selects a stored
    // value, no arithmetic).
    Q(
      "ts1_gap_fill",
      (s, d) => {
        val daily = dailySeries(s, d)
        val bounds = daily.groupBy("user_id")
          .agg(min("day").as("d0"), max("day").as("d1"))
        val spine = bounds.select(col("user_id"),
          explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
        val w = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(daily, Seq("user_id", "day"), "left")
          .select(
            col("user_id"),
            date_format(col("day"), "yyyy-MM-dd").as("day"),
            when(col("day_value").isNull, 1).otherwise(0).as("filled"),
            last(col("day_value"), ignoreNulls = true).over(w).as("value_locf"))
          .orderBy("user_id", "day")
      },
      Some(s"""
        WITH $dailyCtes
        SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
               CASE WHEN day_value IS NULL THEN 1 ELSE 0 END AS filled,
               last_value(day_value IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
        FROM joined ORDER BY user_id, day""")),

    // ----------------------------------------------------------------
    // Linear interpolation across the same grid: for a missing day,
    // prev/next observed (value, day) come from cumulative/reverse-
    // cumulative ignoreNulls frames, then one fixed-shape double
    // expression — identical operation order on both engines, so the
    // IEEE result is bit-identical. Spine endpoints are observed days,
    // so prev/next always exist for a gap.
    Q(
      "ts2_linear_interp",
      (s, d) => {
        val daily = dailySeries(s, d)
        val bounds = daily.groupBy("user_id")
          .agg(min("day").as("d0"), max("day").as("d1"))
        val spine = bounds.select(col("user_id"),
          explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
        val wp = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wn = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val obsDay = when(col("day_value").isNotNull, col("day"))
        spine.join(daily, Seq("user_id", "day"), "left")
          .withColumn("pv", last(col("day_value"), ignoreNulls = true).over(wp))
          .withColumn("pd", last(obsDay, ignoreNulls = true).over(wp))
          .withColumn("nv", first(col("day_value"), ignoreNulls = true).over(wn))
          .withColumn("nd", first(obsDay, ignoreNulls = true).over(wn))
          .select(
            col("user_id"),
            date_format(col("day"), "yyyy-MM-dd").as("day"),
            when(col("day_value").isNotNull, col("day_value"))
              .otherwise(col("pv") + (col("nv") - col("pv")) *
                (datediff(col("day"), col("pd")).cast("double") /
                  datediff(col("nd"), col("pd")).cast("double")))
              .as("value_interp"))
          .orderBy("user_id", "day")
      },
      Some(s"""
        WITH $dailyCtes,
        ctx AS (
          SELECT user_id, day, day_value,
            last_value(day_value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
            last_value(CASE WHEN day_value IS NOT NULL THEN day END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
            first_value(day_value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
            first_value(CASE WHEN day_value IS NOT NULL THEN day END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
          FROM joined)
        SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
               CASE WHEN day_value IS NOT NULL THEN day_value
                    ELSE pv + (nv - pv) * (CAST(date_diff('day', pd, day) AS DOUBLE)
                                           / CAST(date_diff('day', pd, nd) AS DOUBLE))
               END AS value_interp
        FROM ctx ORDER BY user_id, day""")),

    // ----------------------------------------------------------------
    // Exact EWMA (α = 1/2, horizon 8): weights are powers of two, so the
    // numerator is an exact DECIMAL lag-chain sum and the normalizer
    // 256 − 2^(8−n) is an exact integer — the one division at the end is
    // the only float op. The usual recursive EWMA is order-dependent
    // float accumulation no two engines reproduce; this bounded form is
    // engine-independent AND window-parallel (8 lags, one partitioned
    // sort — no sequential scan dependency across rows).
    Q(
      "ts3_ewma",
      (s, d) =>
        graft.operators.TimeSeriesOps.withBoundedEwma(Tables.events(s, d))
          .select("event_id", "user_id", "ewma")
          .orderBy("event_id"),
      Some("""
        WITH v AS (SELECT event_id, user_id, ts,
                          CAST(value AS DECIMAL(28,6)) AS val FROM events)
        SELECT event_id, user_id,
          CAST(
            COALESCE(LAG(val,0) OVER w, 0)*128 + COALESCE(LAG(val,1) OVER w, 0)*64 +
            COALESCE(LAG(val,2) OVER w, 0)*32  + COALESCE(LAG(val,3) OVER w, 0)*16 +
            COALESCE(LAG(val,4) OVER w, 0)*8   + COALESCE(LAG(val,5) OVER w, 0)*4 +
            COALESCE(LAG(val,6) OVER w, 0)*2   + COALESCE(LAG(val,7) OVER w, 0)*1
          AS DOUBLE)
          / (256.0 - power(2.0, 8.0 - LEAST(CAST(row_number() OVER w AS DOUBLE), 8.0)))
          AS ewma
        FROM v
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY event_id""")),

    // ----------------------------------------------------------------
    // Peak concurrency per user via the +1/−1 boundary sweep: each event
    // becomes a deterministic-duration interval (1–48 h from event_id —
    // the testdata carries no duration column), 2 boundary rows per
    // interval, one partitioned running sum, max + earliest peak time.
    // ORDER BY (t, delta) closes intervals before opening ties — exact
    // half-open [s, e) semantics. No pairwise overlap join anywhere:
    // O(n log n) per key vs the O(n²) self-join a naive overlap count
    // would cost at 100 TB.
    Q(
      "ts4_max_concurrent",
      (s, d) => {
        val iv = Tables.events(s, d).select(
          col("user_id"),
          unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) +
            (col("event_id") % 48 + 1) * lit(3600000000L)).as("e_us"))
        val b = iv.select(col("user_id"), explode(array(
            struct(col("s_us").as("t"), lit(1).as("delta")),
            struct(col("e_us").as("t"), lit(-1).as("delta")))).as("x"))
          .select(col("user_id"), col("x.t").as("t"), col("x.delta").as("delta"))
        val wRun = Window.partitionBy("user_id").orderBy("t", "delta")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val run = b.withColumn("conc", sum("delta").over(wRun))
        val mx = run.withColumn("max_concurrent",
          max("conc").over(Window.partitionBy("user_id")))
        mx.filter(col("conc") === col("max_concurrent"))
          .groupBy("user_id", "max_concurrent")
          .agg(min("t").as("peak_at_us"))
          .orderBy("user_id")
      },
      Some("""
        WITH iv AS (
          SELECT user_id, epoch_us(ts) AS s_us,
                 epoch_us(ts) + (event_id % 48 + 1) * 3600000000 AS e_us
          FROM events),
        b AS (
          SELECT user_id, s_us AS t, 1 AS delta FROM iv
          UNION ALL
          SELECT user_id, e_us AS t, -1 AS delta FROM iv),
        run AS (
          SELECT user_id, t, CAST(SUM(delta) OVER (PARTITION BY user_id ORDER BY t, delta
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
          FROM b),
        mx AS (SELECT user_id AS mu, MAX(conc) AS max_concurrent FROM run GROUP BY 1)
        SELECT r.user_id, m.max_concurrent, MIN(r.t) AS peak_at_us
        FROM run r JOIN mx m ON r.user_id = m.mu AND r.conc = m.max_concurrent
        GROUP BY 1, 2 ORDER BY r.user_id""")),

    // ----------------------------------------------------------------
    // Rolling 7-day distinct active users per day. DISTINCT cannot
    // map-side-combine under a sliding window directly, so this is the
    // scalable explode form: distinct user-days (one hash-agg), each
    // contributing to the 7 observation days it covers (narrow
    // explode), then one count-distinct per day — every stage partial-
    // aggregates. Window ends inside the observed range only (bounds
    // broadcast).
    Q(
      "ts7_rolling_dau",
      (s, d) => {
        val ud = Tables.events(s, d)
          .select(col("user_id"),
            date_trunc("day", col("ts")).cast("date").as("day"))
          .distinct()
        val bounds = ud.agg(min("day").as("mn"), max("day").as("mx"))
        ud.select(col("user_id"), col("day"),
            explode(sequence(lit(0), lit(6))).as("i"))
          .withColumn("od", date_add(col("day"), col("i")))
          .crossJoin(broadcast(bounds))
          .filter(col("od") >= col("mn") && col("od") <= col("mx"))
          .groupBy(date_format(col("od"), "yyyy-MM-dd").as("day"))
          .agg(countDistinct("user_id").as("dau7"))
          .orderBy("day")
      },
      Some("""
        WITH ud AS (
          SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
          FROM events),
        b AS (SELECT MIN(d) AS mn, MAX(d) AS mx FROM ud),
        obs AS (
          SELECT user_id, CAST(d + CAST(u.i AS INTEGER) AS DATE) AS od
          FROM ud, UNNEST(range(0, 7)) AS u(i))
        SELECT strftime(od, '%Y-%m-%d') AS day,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau7
        FROM obs, b WHERE od >= mn AND od <= mx
        GROUP BY od ORDER BY day""")),

    // ----------------------------------------------------------------
    // GLOBAL peak concurrency — the sweep ts4 runs per user, across the
    // whole stream. A naive global running sum needs one total order =
    // one partition = the whole 100 TB stream through a single task; so
    // this is the classic two-pass distributed prefix sum instead:
    //   pass 1: bucket boundaries by day (integer `div` — no float
    //           rounding at bucket edges), per-bucket delta totals (a
    //           map-side-combining hash-agg), then a running sum over
    //           the BUCKET TOTALS — a frame bounded by the number of
    //           buckets (time range / B), not by data size;
    //   pass 2: broadcast the per-bucket carry offsets back and run the
    //           within-bucket running sum, partitioned by bucket.
    // Result ≡ the single-window form (the oracle runs exactly that);
    // every stage is integer-exact.
    Q(
      "ts5_global_concurrency",
      (s, d) => {
        val iv = Tables.events(s, d).select(
          unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) +
            (col("event_id") % 48 + 1) * lit(3600000000L)).as("e_us"))
        val b = iv.select(explode(array(
            struct(col("s_us").as("t"), lit(1).as("delta")),
            struct(col("e_us").as("t"), lit(-1).as("delta")))).as("x"))
          .select(col("x.t").as("t"), col("x.delta").as("delta"))
          .withColumn("bucket", expr("t div 86400000000"))
        val wB = Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val offsets = b.groupBy("bucket")
          .agg(sum("delta").as("bt"))
          .withColumn("offset", sum("bt").over(wB) - col("bt"))
          .select("bucket", "offset")
        val wL = Window.partitionBy("bucket").orderBy("t", "delta")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val run = b.join(broadcast(offsets), "bucket")
          .withColumn("conc", col("offset") + sum("delta").over(wL))
        val mx = run.agg(max("conc").as("max_concurrent"))
        run.join(broadcast(mx), run("conc") === mx("max_concurrent"))
          .groupBy("max_concurrent")
          .agg(min("t").as("peak_at_us"))
          .select("max_concurrent", "peak_at_us")
      },
      Some("""
        WITH iv AS (
          SELECT epoch_us(ts) AS s_us,
                 epoch_us(ts) + (event_id % 48 + 1) * 3600000000 AS e_us
          FROM events),
        b AS (
          SELECT s_us AS t, 1 AS delta FROM iv
          UNION ALL
          SELECT e_us AS t, -1 AS delta FROM iv),
        run AS (
          SELECT t, CAST(SUM(delta) OVER (ORDER BY t, delta
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
          FROM b),
        mx AS (SELECT MAX(conc) AS max_concurrent FROM run)
        SELECT m.max_concurrent, MIN(r.t) AS peak_at_us
        FROM run r JOIN mx m ON r.conc = m.max_concurrent
        GROUP BY 1""")),

    // ----------------------------------------------------------------
    // Classical additive decomposition of the global daily series:
    // y = trend + seasonal + remainder. All accumulation happens in
    // exact integer CENTS (values carry 2 decimals; ×100 rounds ulp
    // noise, never a half-point): the 7-day centered trend window is an
    // integer sum, detrending is 7·y − Σ (multiplied through to avoid
    // division), weekday effects are integer sums with a count — the
    // ONLY float ops are three final fixed-shape divisions, identical
    // on both engines. The day frame is bounded by the time range, not
    // data; per-series decomposition partitions by series key.
    Q(
      "ts8_decompose",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(sum(round(col("value") * 100).cast("long")).as("yc"))
        val wT = Window.orderBy("day").rowsBetween(-3, 3)
        val trended = daily
          .withColumn("n7", count(lit(1)).over(wT))
          .withColumn("tc7", sum("yc").over(wT))
          .withColumn("weekday",
            datediff(col("day"), lit("2024-01-01").cast("date")) % 7)
        val inner = trended.filter(col("n7") === 7)
          .withColumn("detc7", col("yc") * 7 - col("tc7"))
        val seasonal = inner.groupBy("weekday")
          .agg(sum("detc7").as("sdet"), count(lit(1)).as("ndet"))
        inner.join(broadcast(seasonal), "weekday")
          .select(
            date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("weekday"),
            (col("yc").cast("double") / 100.0).as("y"),
            (col("tc7").cast("double") / 700.0).as("trend"),
            (col("sdet").cast("double") / (col("ndet") * 700.0)).as("seasonal"),
            (col("yc").cast("double") / 100.0
              - col("tc7").cast("double") / 700.0
              - col("sdet").cast("double") / (col("ndet") * 700.0))
              .as("remainder"))
          .orderBy("day")
      },
      Some("""
        WITH daily AS (
          SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                 SUM(CAST(ROUND(value * 100) AS BIGINT)) AS yc
          FROM events GROUP BY 1),
        trended AS (
          SELECT day, yc,
                 COUNT(*) OVER w AS n7,
                 CAST(SUM(yc) OVER w AS BIGINT) AS tc7,
                 date_diff('day', DATE '2024-01-01', day) % 7 AS weekday
          FROM daily
          WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        inner_days AS (
          SELECT *, yc * 7 - tc7 AS detc7 FROM trended WHERE n7 = 7),
        seasonal AS (
          SELECT weekday, CAST(SUM(detc7) AS BIGINT) AS sdet,
                 COUNT(*) AS ndet
          FROM inner_days GROUP BY 1)
        SELECT strftime(i.day, '%Y-%m-%d') AS day,
               CAST(i.weekday AS INTEGER) AS weekday,
               CAST(yc AS DOUBLE) / 100.0 AS y,
               CAST(tc7 AS DOUBLE) / 700.0 AS trend,
               CAST(sdet AS DOUBLE) / (ndet * 700.0) AS seasonal,
               CAST(yc AS DOUBLE) / 100.0
                 - CAST(tc7 AS DOUBLE) / 700.0
                 - CAST(sdet AS DOUBLE) / (ndet * 700.0) AS remainder
        FROM inner_days i JOIN seasonal s USING (weekday)
        ORDER BY day""")),

    // ----------------------------------------------------------------
    // Schema-drift union: two generations of the same feed with
    // different column sets, reconciled by NAME (unionByName
    // allowMissingColumns / DuckDB UNION ALL BY NAME), absent columns
    // null-filled. The append-only ingestion answer to a producer adding
    // or dropping fields mid-stream — positional UNION would silently
    // misalign columns instead.
    Q(
      "o6_union_by_name",
      (s, d) => {
        val o = Tables.orders(s, d)
        val v1 = o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .withColumn("src", lit("v1"))
        val v2 = o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            col("o_orderpriority"))
          .withColumn("src", lit("v2"))
        v1.unionByName(v2, allowMissingColumns = true).orderBy("o_orderkey")
      },
      Some("""
        SELECT * FROM (
          SELECT o_orderkey, o_custkey, o_totalprice, 'v1' AS src
          FROM orders WHERE o_orderkey % 2 = 0
          UNION ALL BY NAME
          SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority,
                 'v2' AS src
          FROM orders WHERE o_orderkey % 2 = 1)
        ORDER BY o_orderkey""")),

    // ----------------------------------------------------------------
    // Cohort retention: users grouped by first-activity day, tracked by
    // day offset — the product-analytics staple. Two hash-aggs
    // (first-touch per user, distinct user-days) and one equi-join on
    // user_id; the cohort-size frame is cohort-count-sized and
    // broadcast. Offsets are exact integer day arithmetic; the rate is
    // one division, rounded on both engines.
    Q(
      "ts6_cohort_retention",
      (s, d) => {
        val ev = Tables.events(s, d)
        val firsts = ev.groupBy("user_id")
          .agg(date_trunc("day", min(col("ts"))).cast("date").as("cohort"))
        val sizes = firsts.groupBy("cohort")
          .agg(countDistinct("user_id").as("cohort_size"))
        val active = ev
          .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
          .distinct()
        active.join(firsts, "user_id")
          .withColumn("day_offset", datediff(col("day"), col("cohort")))
          .groupBy("cohort", "day_offset")
          .agg(countDistinct("user_id").as("n_active"))
          .join(broadcast(sizes), "cohort")
          .select(
            date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
            col("day_offset"), col("n_active"), col("cohort_size"),
            // UNROUNDED: both operands are exact integers, so the single
            // division is bit-identical across engines — round(6) here
            // would CREATE divergence when n/size terminates at exactly
            // 7 decimal digits (e.g. any odd n over a 128-sized cohort),
            // the t30 half-point trap
            (col("n_active").cast("double") / col("cohort_size"))
              .as("retention"))
          .orderBy("cohort", "day_offset")
      },
      Some("""
        WITH firsts AS (
          SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS cohort
          FROM events GROUP BY 1),
        sizes AS (
          SELECT cohort, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS cohort_size
          FROM firsts GROUP BY 1),
        active AS (
          SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
          FROM events),
        m AS (
          SELECT f.cohort,
                 CAST(date_diff('day', f.cohort, a.day) AS INTEGER) AS day_offset,
                 CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
          FROM active a JOIN firsts f ON a.user_id = f.user_id
          GROUP BY 1, 2)
        SELECT strftime(m.cohort, '%Y-%m-%d') AS cohort, day_offset, n_active,
               cohort_size,
               CAST(n_active AS DOUBLE) / cohort_size AS retention
        FROM m JOIN sizes s ON m.cohort = s.cohort
        ORDER BY cohort, day_offset""")),

    // ----------------------------------------------------------------
    // k-anonymity audit (k = 10) over quasi-identifiers: group sizes,
    // violation flag, re-identification risk 1/|group|. One hash-agg
    // over the QI tuple — the release gate a privacy review runs before
    // a dataset ships; at scale it's a single map-side-combining pass.
    Q(
      "gov1_k_anonymity",
      (s, d) =>
        Tables.customer(s, d)
          .groupBy("c_nationkey", "c_mktsegment")
          .agg(
            count(lit(1)).as("group_size"),
            when(count(lit(1)) < 10, 1).otherwise(0).as("violates_k"),
            (lit(1.0) / count(lit(1))).as("reident_risk"))
          .orderBy("c_nationkey", "c_mktsegment"),
      Some("""
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size,
               CASE WHEN COUNT(*) < 10 THEN 1 ELSE 0 END AS violates_k,
               CAST(1.0 AS DOUBLE) / COUNT(*) AS reident_risk
        FROM customer GROUP BY 1, 2
        ORDER BY c_nationkey, c_mktsegment""")),

    // ----------------------------------------------------------------
    // Right-to-be-forgotten purge (gov3): the erasure workflow as one
    // auditable unit — DELETE every record of the subject users through
    // the catalog ([[graft.storage.ParquetCatalog.deleteVersioned]],
    // fingerprint-keyed state), then the compliance audit: per-type
    // retained counts, a must-be-zero subject count, and exact-decimal
    // value conservation. The oracle recomputes retention from the
    // source with the inverse predicate — the purge must remove exactly
    // the subjects' rows.
    Q(
      "gov3_rtbf_purge",
      (s, d) => {
        val subjects = Seq(7L, 42L, 99L)
        val (root, _) = Scratch.state("rtbf", d) { root =>
          val cat = new ParquetCatalog(s, root)
          cat.overwriteVersioned("events_p", Tables.events(s, d)
            .select("event_id", "user_id", "event_type", "value"))
          cat.deleteVersioned("events_p", col("user_id").isin(subjects: _*))
          "ok"
        }
        val cat = new ParquetCatalog(s, root)
        cat.read("events_p")
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_retained"),
            count(when(col("user_id").isin(subjects: _*), 1))
              .as("n_subject_rows"),
            graft.functions.Deterministic.dsum(col("value")).as("retained_value"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n_retained,
               CAST(0 AS BIGINT) AS n_subject_rows,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS retained_value
        FROM events
        WHERE user_id NOT IN (7, 42, 99)
        GROUP BY 1 ORDER BY event_type""")),

    // ----------------------------------------------------------------
    // Event-type transition matrix (ts9): per-user next-event
    // transitions (the Markov audit behind funnel design) — one lead
    // window per user, one hash-agg over (from, to), probabilities as
    // UNROUNDED exact-integer divisions (bit-identical; the t30
    // discipline).
    Q(
      "ts9_transition_matrix",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val tr = Tables.events(s, d)
          .withColumn("next_type", lead("event_type", 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"),
            col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val totals = tr.groupBy("from_type").agg(sum("n").as("n_from"))
        tr.join(broadcast(totals), "from_type")
          .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
            (col("n").cast("double") / col("n_from")).as("p"))
          .orderBy("from_type", "to_type")
      },
      Some("""
        WITH tr AS (
          SELECT event_type AS from_type,
                 LEAD(event_type, 1) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS to_type
          FROM events),
        m AS (
          SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2),
        t AS (
          SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
          FROM m GROUP BY 1)
        SELECT m.from_type, to_type, n, n_from,
               CAST(n AS DOUBLE) / n_from AS p
        FROM m JOIN t ON m.from_type = t.from_type
        ORDER BY m.from_type, to_type""")),

    // ----------------------------------------------------------------
    // l-diversity audit (l = 3): within each quasi-identifier group,
    // how many DISTINCT sensitive values (binned account balance)
    // appear — k-anonymity's complement (a large group whose members
    // all share one sensitive value still leaks it). One hash-agg with
    // an exact distinct over the bin.
    Q(
      "gov2_l_diversity",
      (s, d) =>
        Tables.customer(s, d)
          .withColumn("bal_bin", floor(col("c_acctbal") / 1000).cast("long"))
          .groupBy("c_nationkey", "c_mktsegment")
          .agg(
            count(lit(1)).as("group_size"),
            countDistinct("bal_bin").as("l_distinct"),
            when(countDistinct("bal_bin") < 3, 1).otherwise(0)
              .as("violates_l"))
          .orderBy("c_nationkey", "c_mktsegment"),
      Some("""
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size,
               CAST(COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
                 AS BIGINT) AS l_distinct,
               CASE WHEN COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) < 3
                    THEN 1 ELSE 0 END AS violates_l
        FROM customer GROUP BY 1, 2
        ORDER BY c_nationkey, c_mktsegment"""))
  )
}
