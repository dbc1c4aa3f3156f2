package graft.queries

import graft.Tables
import graft.functions.Deterministic._
import graft.spark.GraftCatalog
import graft.storage.{ParquetCatalog, Scratch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One named query. `sql` is the DuckDB-runnable oracle; None => the
  * driver records a weaker rows-only check. */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    sql: Option[String])

/** Relational operator pack — reproduces SURVEY.md §2's aggregation /
  * join / window / set-op / scalar inventory (reference:
  * `src/stacktrend/notebooks/silver_to_gold_analytics.py`,
  * `bronze_to_silver_transformation.py`) as Spark-first queries over the
  * driver testdata, each with a DuckDB oracle.
  *
  * Determinism rules used throughout (so results hash-match an
  * independent single-threaded engine):
  *   - double sums/avgs/stddevs go through exact DECIMAL accumulation
  *     ([[graft.functions.Deterministic]]) — order-independent;
  *   - every ranking / limit has a total tie-break order;
  *   - timestamps are emitted as formatted strings.
  */
object Relational {
  private val dec = DecimalType(28, 6)

  /** SQL fragment: order-independent sum of a double expression. */
  private def dsumSql(x: String) =
    s"CAST(SUM(CAST($x AS DECIMAL(28,6))) AS DOUBLE)"
  private def davgSql(x: String) = s"${dsumSql(x)} / COUNT($x)"
  private def dstdSql(x: String) = {
    val sx = dsumSql(x)
    val sxx = s"CAST(SUM(CAST($x AS DECIMAL(18,6)) * CAST($x AS DECIMAL(19,6))) AS DOUBLE)"
    val n = s"CAST(COUNT($x) AS DOUBLE)"
    s"sqrt(($sxx - $sx * $sx / $n) / ($n - 1.0))"
  }

  val all: Seq[Q] = Seq(
    // ----------------------------------------------------------------
    // A1 (13-measure rollup, silver_to_gold_analytics.py:132-159):
    // count / sums / avgs / conditional sum / exact countDistinct,
    // single hash-agg pass with map-side partial aggregation.
    Q(
      "a1_rollup",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            count(lit(1)).as("n_rows"),
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("sum_disc_price"),
            davg(col("l_discount")).as("avg_disc"),
            count(when(col("l_quantity") > 25, 1)).as("n_big_qty"),
            countDistinct(col("l_orderkey")).as("n_orders"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               ${dsumSql("l_quantity")} AS sum_qty,
               ${dsumSql("l_extendedprice")} AS sum_price,
               ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
               ${davgSql("l_discount")} AS avg_disc,
               COUNT(CASE WHEN l_quantity > 25 THEN 1 END) AS n_big_qty,
               COUNT(DISTINCT l_orderkey) AS n_orders
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ----------------------------------------------------------------
    // A1's sketch tier: the same rollup with approx_count_distinct
    // (HLL++) replacing the exact distinct — the 100 TB form, where the
    // exact distinct's per-group shuffle of every l_orderkey becomes a
    // constant-size sketch merged map-side. Sketch internals are
    // engine-specific, so the query emits a bounded-error VERDICT
    // instead of the sketch value: `within_tol` = the HLL++ estimate is
    // within 5% of the exact distinct (rsd 0.02 → 5% is ~2.5σ), which
    // DuckDB predicts exactly as an all-ones frame. A drifting sketch
    // flips a row to 0 and the gate hash catches it. The tight error
    // curve itself stays pinned in ScaleVariantSpec at sf0.1.
    Q(
      "a14_approx_rollup",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            count(lit(1)).as("n_rows"),
            countDistinct(col("l_orderkey")).as("n_orders"),
            approx_count_distinct(col("l_orderkey"), 0.02).as("__approx"))
          .withColumn("within_tol",
            when(abs(col("__approx") - col("n_orders")) /
              col("n_orders").cast("double") <= 0.05, 1).otherwise(0))
          .drop("__approx")
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               COUNT(DISTINCT l_orderkey) AS n_orders,
               CAST(1 AS INTEGER) AS within_tol
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ----------------------------------------------------------------
    // A2 (per-category daily/period trend, silver_to_gold_analytics.py:
    // 410-419): two-key groupBy on a derived period column.
    Q(
      "a2_monthly_trend",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy(
            col("l_returnflag"),
            date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
          .agg(
            count(lit(1)).as("n_rows"),
            dsum(col("l_extendedprice")).as("sum_price"),
            davg(col("l_discount")).as("avg_disc"))
          .orderBy("l_returnflag", "ship_month"),
      Some(s"""
        SELECT l_returnflag, strftime(l_shipdate, '%Y-%m') AS ship_month,
               COUNT(*) AS n_rows,
               ${dsumSql("l_extendedprice")} AS sum_price,
               ${davgSql("l_discount")} AS avg_disc
        FROM lineitem
        GROUP BY 1, 2
        ORDER BY l_returnflag, ship_month""")),

    // ----------------------------------------------------------------
    // A3 (health rollup with stddev, silver_to_gold_analytics.py:459-470).
    // stddev is computed from exact decimal moments so the result does not
    // depend on partition order (built-in stddev is a float fold).
    Q(
      "a3_stddev_by_priority",
      (s, d) =>
        Tables.orders(s, d)
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_orders"),
            davg(col("o_totalprice")).as("avg_price"),
            round(dstddev(col("o_totalprice")), 6).as("std_price"))
          .orderBy("o_orderpriority"),
      Some(s"""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               ${davgSql("o_totalprice")} AS avg_price,
               round(${dstdSql("o_totalprice")}, 6) AS std_price
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // ----------------------------------------------------------------
    // A6 (global no-group aggregate, personal_repos_silver_to_gold.py:
    // 104-113): conditional counts + sums in one pass.
    Q(
      "a6_global_agg",
      (s, d) =>
        Tables.orders(s, d)
          .agg(
            count(lit(1)).as("n_orders"),
            count(when(col("o_orderstatus") === "O", 1)).as("n_open"),
            count(when(col("o_orderstatus") === "F", 1)).as("n_finished"),
            dsum(col("o_totalprice")).as("total_price"),
            davg(col("o_totalprice")).as("avg_price"),
            max(col("o_totalprice")).as("max_price"),
            date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("min_date")),
      Some(s"""
        SELECT COUNT(*) AS n_orders,
               COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
               COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
               ${dsumSql("o_totalprice")} AS total_price,
               ${davgSql("o_totalprice")} AS avg_price,
               MAX(o_totalprice) AS max_price,
               strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_date
        FROM orders""")),

    // ----------------------------------------------------------------
    // A7 + S8 (per-entity metrics over 7/30/90-day lookback windows,
    // personal_repos_bronze_to_silver.py:578-630): single-pass conditional
    // aggregates against a broadcast grand-max timestamp — the scale-safe
    // replacement for the reference's collect()-then-loop. One shuffle.
    Q(
      "a7_period_metrics",
      (s, d) => {
        val ev = Tables.events(s, d)
        val mx = ev.agg(max(col("ts")).as("mt"))
        ev.crossJoin(broadcast(mx))
          .groupBy("user_id")
          .agg(
            count(when(col("ts") >= col("mt") - expr("INTERVAL 7 DAYS"), 1))
              .as("cnt_7d"),
            count(when(col("ts") >= col("mt") - expr("INTERVAL 30 DAYS"), 1))
              .as("cnt_30d"),
            coalesce(
              sum(when(col("ts") >= col("mt") - expr("INTERVAL 7 DAYS"),
                col("value").cast(dec))).cast("double"), lit(0.0))
              .as("val_7d"),
            coalesce(
              sum(when(col("ts") >= col("mt") - expr("INTERVAL 30 DAYS"),
                col("value").cast(dec))).cast("double"), lit(0.0))
              .as("val_30d"),
            date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("last_seen"))
          .orderBy("user_id")
      },
      Some(s"""
        WITH m AS (SELECT MAX(ts) AS mt FROM events)
        SELECT user_id,
               COUNT(CASE WHEN ts >= mt - INTERVAL 7 DAY THEN 1 END) AS cnt_7d,
               COUNT(CASE WHEN ts >= mt - INTERVAL 30 DAY THEN 1 END) AS cnt_30d,
               COALESCE(CAST(SUM(CASE WHEN ts >= mt - INTERVAL 7 DAY
                 THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE), 0.0) AS val_7d,
               COALESCE(CAST(SUM(CASE WHEN ts >= mt - INTERVAL 30 DAY
                 THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE), 0.0) AS val_30d,
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_seen
        FROM events, m
        GROUP BY user_id
        ORDER BY user_id""")),

    // ----------------------------------------------------------------
    // A9 (top-k group counts, personal_repos_silver_to_gold.py:116-117):
    // groupBy + count + total-order + limit -> TakeOrderedAndProject.
    Q(
      "a9_topk_counts",
      (s, d) =>
        Tables.orders(s, d)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("o_orderpriority"))
          .limit(3),
      Some("""
        SELECT o_orderpriority, COUNT(*) AS cnt
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY cnt DESC, o_orderpriority
        LIMIT 3""")),

    // ----------------------------------------------------------------
    // A10 (distinct projection, silver_to_gold_analytics.py:105-108).
    Q(
      "a10_distinct",
      (s, d) =>
        Tables.customer(s, d)
          .select("c_mktsegment", "c_nationkey")
          .distinct()
          .orderBy("c_mktsegment", "c_nationkey"),
      Some("""
        SELECT DISTINCT c_mktsegment, c_nationkey
        FROM customer
        ORDER BY c_mktsegment, c_nationkey""")),

    // ----------------------------------------------------------------
    // J1 (left_anti equi-join — the smart-classification skip split,
    // bronze_to_silver_transformation.py:474): entities with no match.
    // The right side is filtered to one year so the anti set is
    // non-empty at every scale factor (a 0-row result would reduce the
    // oracle check to schema-only).
    Q(
      "j1_anti_join",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
          .filter(year(col("o_orderdate")) === 1998)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_mktsegment")
          .orderBy("c_custkey")
      },
      Some("""
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND EXTRACT(year FROM o.o_orderdate) = 1998)
        ORDER BY c_custkey""")),

    // ----------------------------------------------------------------
    // Left-semi join (J1's dual): lineitems whose order is URGENT —
    // existence check only, no order columns carried, no row
    // multiplication (a lineitem matches at most once however many
    // order rows match). Then the usual rollup.
    Q(
      "j8_semi_join",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val urgent = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey").as("l_orderkey"))
        li.join(urgent, Seq("l_orderkey"), "left_semi")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_items"),
            dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag")
      },
      Some(s"""
        SELECT l_returnflag, COUNT(*) AS n_items,
               ${dsumSql("l_quantity")} AS sum_qty
        FROM lineitem
        WHERE EXISTS (
          SELECT 1 FROM orders
          WHERE o_orderkey = l_orderkey
            AND o_orderpriority = '1-URGENT')
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // ----------------------------------------------------------------
    // Salted skew join (§4 scale notes): lineitem joined to the nation
    // dim through a deliberately skewed key (suppkey % 3 — three hot
    // keys carry everything). The salt splits each hot key across 8
    // reducers (big side salted by a discriminator, small side
    // replicated per salt); the oracle is the PLAIN join — salting must
    // be invisible in the result.
    Q(
      "j9_skew_salted",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .withColumn("hot_key", (col("l_suppkey") % 3).cast("long"))
        val dim = Tables.nation(s, d)
          .filter(col("n_nationkey") < 3)
          .select(col("n_nationkey").as("hot_key"), col("n_name"))
        graft.operators.SkewJoin
          .saltedInnerJoin(li, dim, "hot_key", saltFactor = 8,
            discriminator = "l_orderkey")
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_items"),
            dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("n_name")
      },
      Some(s"""
        SELECT n_name, COUNT(*) AS n_items,
               ${dsumSql("l_quantity")} AS sum_qty
        FROM lineitem
        JOIN nation ON n_nationkey = l_suppkey % 3
        WHERE n_nationkey < 3
        GROUP BY n_name
        ORDER BY n_name""")),

    // ----------------------------------------------------------------
    // Bloom-prefiltered semi join (§4 scale notes; the runtime-filter
    // shape every warehouse engine uses for big⋉small): aggregate the
    // small side's keys into a Bloom filter (BloomAgg — map-side
    // partials, OR-merge, one fixed-size bitset per partition on the
    // wire), broadcast the single-row filter, and drop big-side rows at
    // the scan with the codegen'd bloom_contains probe BEFORE they pay
    // the semi-join shuffle. The exact semi join that follows kills the
    // false positives; false negatives are impossible — so the oracle is
    // the PLAIN semi join, and the bloom must be invisible in the
    // result. At 100 TB this turns "shuffle everything, discard most"
    // into "discard most at the scan" (here: 1/5 of customers are
    // BUILDING → ~80% of orders never leave the map stage).
    Q(
      "b1_bloom_semi",
      (s, d) => {
        import graft.functions.BloomFunctions._
        val custKeys = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        // 2^17 bits / 5 hashes ≈ 1.6% fpr at sf0.1's ~15k build keys;
        // at larger SF you size bits ∝ build-side count — the shape is
        // unchanged. The BUILD is distributed (map-side partials, one
        // OR-merge); the finished 16 KB filter is then collected — a
        // bounded model artifact, like Rank's boundaries or KMeans'
        // centroids, never a function of data size — and embedded as a
        // LITERAL, so the probe is a pure narrow Filter that predicate
        // pushdown drives below the semi join to the scan. (A 1-row
        // broadcast-join probe reads nicer but Catalyst may reorder
        // the exact semi join BELOW it, silently un-prefiltering the
        // shuffle — PlanSpec pins the literal form's placement.)
        val bf = custKeys.agg(bloomAgg(col("c_custkey"), 1 << 17, 5))
          .head().getAs[Array[Byte]](0)
        val pre = Tables.orders(s, d)
          .where(bloomContains(lit(bf), col("o_custkey")))
        pre.join(custKeys, pre("o_custkey") === custKeys("c_custkey"),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderpriority")
      },
      Some(s"""
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               ${dsumSql("o_totalprice")} AS sum_price
        FROM orders
        WHERE EXISTS (
          SELECT 1 FROM customer
          WHERE c_custkey = o_custkey
            AND c_mktsegment = 'BUILDING')
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // ----------------------------------------------------------------
    // Bucketed co-located join (§4 scale notes): both sides written
    // once bucketed by the join key (graft.storage.Bucketed), after
    // which the fact⋈dim equi-join runs with NO Exchange on either side
    // — the per-run shuffle a plain join pays on 100 TB every execution
    // is paid once at write time and amortized over every later join
    // and aggregation on that key (BucketedSpec pins the Exchange-free
    // plan). The merge hint keeps the plan on the bucket-aware
    // SortMergeJoin path; results must equal the plain join (the
    // oracle).
    Q(
      "b2_bucketed_join",
      (s, d) => {
        import graft.storage.Bucketed
        // table/path suffix AND write-skip marker both keyed on the
        // input's content fingerprint (sizes+mtimes, not just the
        // path; the root's last 8 characters) — mutated inputs rebuild
        // instead of reusing stale buckets
        val root = Scratch.root("bucketed", d)
        val suffix = root.takeRight(8)
        Bucketed.write(s, Tables.orders(s, d)
            .select("o_orderkey", "o_custkey", "o_totalprice"),
          s"graft_b2_orders_$suffix", s"$root/orders", "o_custkey", 8, suffix)
        Bucketed.write(s, Tables.customer(s, d)
            .select("c_custkey", "c_mktsegment"),
          s"graft_b2_customer_$suffix", s"$root/customer", "c_custkey", 8, suffix)
        val o = Bucketed.read(s, s"graft_b2_orders_$suffix")
        val c = Bucketed.read(s, s"graft_b2_customer_$suffix")
        o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("c_mktsegment")
      },
      Some(s"""
        SELECT c_mktsegment, COUNT(*) AS n_orders,
               ${dsumSql("o_totalprice")} AS sum_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ----------------------------------------------------------------
    // J2 + J5 (inner equi-join chain with broadcast dims — replaces the
    // reference's collect()+UDF lookup, bronze_to_silver_transformation.py:
    // 533-575): orders ⋈ customer (shuffle/AQE) ⋈ nation ⋈ region
    // (broadcast: dims are tiny at every scale).
    Q(
      "j2_join_enrich",
      (s, d) => {
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val n = broadcast(Tables.nation(s, d))
        val r = broadcast(Tables.region(s, d))
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(n, c("c_nationkey") === n("n_nationkey"))
          .join(r, n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(
            count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("revenue"))
          .orderBy("r_name", "n_name")
      },
      Some(s"""
        SELECT r_name, n_name,
               COUNT(*) AS n_orders,
               ${dsumSql("o_totalprice")} AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name""")),

    // ----------------------------------------------------------------
    // J3 (left outer join + coalesce defaults, personal_repos_silver_to_
    // gold.py:166-176,193-200): keep every left row, null-safe measures.
    Q(
      "j3_left_join",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy("c_custkey", "c_mktsegment")
          .agg(
            count(col("o_orderkey")).as("n_orders"),
            coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spent"))
          .orderBy("c_custkey")
      },
      Some(s"""
        SELECT c_custkey, c_mktsegment,
               COUNT(o_orderkey) AS n_orders,
               COALESCE(${dsumSql("o_totalprice")}, 0.0) AS total_spent
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_mktsegment
        ORDER BY c_custkey""")),

    // ----------------------------------------------------------------
    // W1/W3 (global ranking, silver_to_gold_analytics.py:225-236,367-370).
    // Scale-safe shape: TakeOrderedAndProject(100) first, then the window
    // runs on 100 rows — never a whole-table single-partition sort.
    Q(
      "w1_rank_global",
      (s, d) =>
        Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_acctbal")
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
          .limit(100)
          .withColumn(
            "popularity_rank",
            row_number().over(
              Window.orderBy(col("c_acctbal").desc, col("c_custkey"))))
          .orderBy("popularity_rank"),
      Some("""
        SELECT c_custkey, c_name, c_acctbal, popularity_rank
        FROM (
          SELECT c_custkey, c_name, c_acctbal,
                 ROW_NUMBER() OVER (ORDER BY c_acctbal DESC, c_custkey)
                   AS popularity_rank
          FROM customer)
        WHERE popularity_rank <= 100
        ORDER BY popularity_rank""")),

    // ----------------------------------------------------------------
    // W2 (per-group ranking, silver_to_gold_analytics.py:364-366):
    // partitioned window — shuffles once on the partition key, scales.
    Q(
      "w2_rank_pergroup",
      (s, d) =>
        Tables.customer(s, d)
          .withColumn(
            "seg_rank",
            row_number().over(
              Window.partitionBy("c_mktsegment")
                .orderBy(col("c_acctbal").desc, col("c_custkey"))))
          .filter(col("seg_rank") <= 5)
          .select("c_mktsegment", "seg_rank", "c_custkey", "c_acctbal")
          .orderBy("c_mktsegment", "seg_rank"),
      Some("""
        SELECT c_mktsegment, seg_rank, c_custkey, c_acctbal
        FROM (
          SELECT c_mktsegment, c_custkey, c_acctbal,
                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal DESC, c_custkey) AS seg_rank
          FROM customer)
        WHERE seg_rank <= 5
        ORDER BY c_mktsegment, seg_rank""")),

    // ----------------------------------------------------------------
    // W2's 100 TB sibling: top-k per group WITHOUT the sort window —
    // the custom BoundedTopK TypedImperativeAggregate keeps a k-bounded
    // heap in the map-side partial, so the shuffle carries ≤ k entries
    // per group per partition and no group is ever fully sorted.
    // Identical total order (score desc, id asc) => the window oracle
    // checks it exactly; ScaleVariantSpec asserts plan shape
    // (partial+final ObjectHashAggregate) and equality with w2.
    Q(
      "w10_topk_agg",
      (s, d) =>
        Tables.customer(s, d)
          .groupBy("c_mktsegment")
          .agg(graft.functions.TopKAggregate.boundedTopK(
            col("c_acctbal").cast("double"), col("c_custkey"), 5).as("tk"))
          .select(col("c_mktsegment"), posexplode(col("tk")))
          .select(col("c_mktsegment"), (col("pos") + 1).as("seg_rank"),
            col("col.id").as("c_custkey"), col("col.score").as("c_acctbal"))
          .orderBy("c_mktsegment", "seg_rank"),
      Some("""
        SELECT c_mktsegment, seg_rank, c_custkey,
               CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM (
          SELECT c_mktsegment, c_custkey, c_acctbal,
                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal DESC, c_custkey) AS seg_rank
          FROM customer)
        WHERE seg_rank <= 5
        ORDER BY c_mktsegment, seg_rank""")),

    // ----------------------------------------------------------------
    // W4-a (windowed share-of-total, silver_to_gold_analytics.py:421-422):
    // integer counts so the window sum is exact in any order.
    Q(
      "w4_share_window",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(
            date_format(col("ts"), "yyyy-MM-dd").as("day"),
            col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn(
            "day_total",
            sum(col("cnt")).over(Window.partitionBy("day")))
          .withColumn(
            "share",
            col("cnt").cast("double") / col("day_total").cast("double"))
          .select("day", "event_type", "cnt", "day_total", "share")
          .orderBy("day", "event_type"),
      Some("""
        SELECT day, event_type, cnt, day_total,
               CAST(cnt AS DOUBLE) / CAST(day_total AS DOUBLE) AS share
        FROM (
          SELECT day, event_type, cnt,
                 CAST(SUM(cnt) OVER (PARTITION BY day) AS BIGINT) AS day_total
          FROM (
            SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                   COUNT(*) AS cnt
            FROM events GROUP BY 1, 2))
        ORDER BY day, event_type""")),

    // ----------------------------------------------------------------
    // W4-b (grand-total share via broadcast join — the 100 TB-safe variant
    // of the empty-partitionBy window, SURVEY.md §4): aggregate twice from
    // exact decimal sums, broadcast the single-row total, divide.
    Q(
      "w4_share_broadcast",
      (s, d) => {
        val sup = Tables.supplier(s, d)
        val byNation = sup.groupBy("s_nationkey")
          .agg(dsum(col("s_acctbal")).as("nation_bal"))
        val total = sup.agg(dsum(col("s_acctbal")).as("total_bal"))
        byNation.crossJoin(broadcast(total))
          .withColumn("share", col("nation_bal") / col("total_bal"))
          .orderBy("s_nationkey")
      },
      Some(s"""
        WITH t AS (SELECT ${dsumSql("s_acctbal")} AS total_bal FROM supplier)
        SELECT s_nationkey,
               ${dsumSql("s_acctbal")} AS nation_bal,
               MIN(t.total_bal) AS total_bal,
               ${dsumSql("s_acctbal")} / MIN(t.total_bal) AS share
        FROM supplier, t
        GROUP BY s_nationkey
        ORDER BY s_nationkey""")),

    // ----------------------------------------------------------------
    // O3 (schema-aligned union, bronze_to_silver_transformation.py:604):
    // unionByName of two tagged top-k frames.
    Q(
      "o3_union",
      (s, d) => {
        val c = Tables.customer(s, d).select("c_custkey", "c_acctbal")
        val top = c.orderBy(col("c_acctbal").desc, col("c_custkey"))
          .limit(50).withColumn("bucket", lit("top"))
        val bottom = c.orderBy(col("c_acctbal").asc, col("c_custkey"))
          .limit(50).withColumn("bucket", lit("bottom"))
        top.unionByName(bottom).orderBy("bucket", "c_custkey")
      },
      Some("""
        SELECT * FROM (
          SELECT c_custkey, c_acctbal, 'top' AS bucket
          FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 50)
        UNION ALL
        SELECT * FROM (
          SELECT c_custkey, c_acctbal, 'bottom' AS bucket
          FROM customer ORDER BY c_acctbal ASC, c_custkey LIMIT 50)
        ORDER BY bucket, c_custkey""")),

    // ----------------------------------------------------------------
    // O-family set ops: INTERSECT / EXCEPT (both plan as hash
    // left-semi/anti joins over distinct inputs) — customers active in
    // both 1997 and 1998 vs churned after 1997, tagged and unioned.
    Q(
      "o4_set_ops",
      (s, d) => {
        val o = Tables.orders(s, d)
        def buyers(y: Int) = o.filter(year(col("o_orderdate")) === y)
          .select("o_custkey")
        buyers(1997).intersect(buyers(1998))
          .withColumn("set_op", lit("retained"))
          .unionByName(buyers(1997).except(buyers(1998))
            .withColumn("set_op", lit("churned")))
          .orderBy("set_op", "o_custkey")
      },
      Some("""
        WITH y97 AS (SELECT o_custkey FROM orders
                     WHERE EXTRACT(year FROM o_orderdate) = 1997),
        y98 AS (SELECT o_custkey FROM orders
                WHERE EXTRACT(year FROM o_orderdate) = 1998)
        SELECT o_custkey, 'retained' AS set_op
        FROM (SELECT o_custkey FROM y97 INTERSECT SELECT o_custkey FROM y98)
        UNION ALL
        SELECT o_custkey, 'churned'
        FROM (SELECT o_custkey FROM y97 EXCEPT SELECT o_custkey FROM y98)
        ORDER BY set_op, o_custkey""")),

    // ----------------------------------------------------------------
    // O5: MULTISET set operations — INTERSECT ALL / EXCEPT ALL keep
    // duplicate multiplicities (min / truncated-difference of per-value
    // counts), the bag semantics o4's distinct forms erase. Spark plans
    // both as a single aggregation of per-side counts (no distinct
    // pre-pass, no join): the multiplicity bookkeeping rides map-side
    // partials like any other agg.
    Q(
      "o5_multiset_ops",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        def side(r: Int) = l.filter(col("l_suppkey") % 2 === r)
          .select("l_partkey")
        side(0).intersectAll(side(1))
          .withColumn("set_op", lit("intersect_all"))
          .unionByName(side(0).exceptAll(side(1))
            .withColumn("set_op", lit("except_all")))
          .orderBy("set_op", "l_partkey")
      },
      Some("""
        WITH a AS (SELECT l_partkey FROM lineitem WHERE l_suppkey % 2 = 0),
        b AS (SELECT l_partkey FROM lineitem WHERE l_suppkey % 2 = 1)
        SELECT l_partkey, 'intersect_all' AS set_op
        FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        UNION ALL
        SELECT l_partkey, 'except_all'
        FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        ORDER BY set_op, l_partkey""")),

    // ----------------------------------------------------------------
    // J12: FULL OUTER join semantics as an explicit gate (the plan
    // shape k2's MERGE rides, surfaced as its own query): deliberately
    // mismatched key sets on both sides, reconciled into per-category
    // row counts and key checksums — a row landing in the wrong
    // category moves two aggregates at once.
    Q(
      "j12_full_outer",
      (s, d) => {
        val o = Tables.orders(s, d).filter(col("o_orderkey") % 3 === 0)
          .select(col("o_custkey")).groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"))
        val c = Tables.customer(s, d).filter(col("c_custkey") % 2 === 0)
          .select(col("c_custkey"))
        o.join(c, col("o_custkey") === col("c_custkey"), "full_outer")
          .withColumn("category",
            when(col("o_custkey").isNotNull && col("c_custkey").isNotNull,
              "both")
              .when(col("o_custkey").isNotNull, "orders_only")
              .otherwise("customer_only"))
          .groupBy("category")
          .agg(count(lit(1)).as("n_rows"),
            sum(coalesce(col("o_custkey"), col("c_custkey"))).as("key_sum"),
            sum(coalesce(col("n_orders"), lit(0L))).as("order_sum"))
          .orderBy("category")
      },
      Some("""
        WITH o AS (
          SELECT o_custkey, COUNT(*) AS n_orders FROM orders
          WHERE o_orderkey % 3 = 0 GROUP BY o_custkey),
        c AS (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0),
        j AS (
          SELECT o.o_custkey, o.n_orders, c.c_custkey
          FROM o FULL OUTER JOIN c ON o.o_custkey = c.c_custkey)
        SELECT CASE
                 WHEN o_custkey IS NOT NULL AND c_custkey IS NOT NULL
                   THEN 'both'
                 WHEN o_custkey IS NOT NULL THEN 'orders_only'
                 ELSE 'customer_only' END AS category,
               COUNT(*) AS n_rows,
               CAST(SUM(COALESCE(o_custkey, c_custkey)) AS BIGINT) AS key_sum,
               CAST(SUM(COALESCE(n_orders, 0)) AS BIGINT) AS order_sum
        FROM j
        GROUP BY 1 ORDER BY 1""")),

    // ----------------------------------------------------------------
    // P2/§2.8 string suite (regexp_replace/lower/trim/length/contains/
    // split, bronze_to_silver_transformation.py:686-710): pure codegen'd
    // built-ins, no UDFs.
    Q(
      "p2_string_funcs",
      (s, d) =>
        Tables.part(s, d)
          .select(
            col("p_partkey"),
            trim(regexp_replace(lower(col("p_name")), "[^a-z0-9 ]", ""))
              .as("name_clean"),
            length(col("p_name")).as("name_len"),
            col("p_name").contains("widget").as("is_widget"),
            size(split(col("p_name"), " ")).as("token_cnt"),
            concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
          .orderBy("p_partkey"),
      Some("""
        SELECT p_partkey,
               trim(regexp_replace(lower(p_name), '[^a-z0-9 ]', '', 'g'))
                 AS name_clean,
               length(p_name) AS name_len,
               contains(p_name, 'widget') AS is_widget,
               len(string_split(p_name, ' ')) AS token_cnt,
               concat_ws('|', p_brand, p_type) AS brand_type
        FROM part
        ORDER BY p_partkey""")),

    // ----------------------------------------------------------------
    // P7/§2.8 date suite (datediff vs a fixed processing date — the
    // deterministic form of the reference's datediff(current_date(), ts),
    // bronze_to_silver_transformation.py:723-726).
    Q(
      "p7_date_funcs",
      (s, d) =>
        Tables.orders(s, d)
          .select(
            col("o_orderkey"),
            datediff(lit("1998-12-01").cast("date"),
              col("o_orderdate").cast("date")).as("age_days"),
            year(col("o_orderdate")).as("order_year"),
            month(col("o_orderdate")).as("order_month"),
            date_format(col("o_orderdate"), "yyyy-MM").as("order_ym"))
          .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey,
               date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-01')
                 AS age_days,
               CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
               CAST(EXTRACT(month FROM o_orderdate) AS INT) AS order_month,
               strftime(o_orderdate, '%Y-%m') AS order_ym
        FROM orders
        ORDER BY o_orderkey""")),

    // ----------------------------------------------------------------
    // P5 + §2.8 conditional suite (tier CASE chains, isin, additive
    // when/otherwise scorecard clamped with greatest/least —
    // bronze_to_silver_transformation.py:713-720,769-782;
    // personal_repos_bronze_to_silver.py:539-544). Integer points: exact.
    Q(
      "p5_case_tiers",
      (s, d) =>
        Tables.customer(s, d)
          .select(
            col("c_custkey"),
            when(col("c_acctbal") >= 7500, "platinum")
              .when(col("c_acctbal") >= 5000, "gold")
              .when(col("c_acctbal") >= 2500, "silver")
              .otherwise("bronze").as("tier"),
            col("c_mktsegment").isin("BUILDING", "AUTOMOBILE").as("is_focus"),
            greatest(
              least(
                when(col("c_acctbal") > 5000, 40)
                  .when(col("c_acctbal") > 1000, 25).otherwise(10)
                  + when(col("c_nationkey") < 12, 20).otherwise(0)
                  + when(col("c_mktsegment") === "BUILDING", 30).otherwise(15),
                lit(100)),
              lit(0)).as("score"))
          .orderBy("c_custkey"),
      Some("""
        SELECT c_custkey,
               CASE WHEN c_acctbal >= 7500 THEN 'platinum'
                    WHEN c_acctbal >= 5000 THEN 'gold'
                    WHEN c_acctbal >= 2500 THEN 'silver'
                    ELSE 'bronze' END AS tier,
               c_mktsegment IN ('BUILDING', 'AUTOMOBILE') AS is_focus,
               GREATEST(LEAST(
                 (CASE WHEN c_acctbal > 5000 THEN 40
                       WHEN c_acctbal > 1000 THEN 25 ELSE 10 END)
                 + (CASE WHEN c_nationkey < 12 THEN 20 ELSE 0 END)
                 + (CASE WHEN c_mktsegment = 'BUILDING' THEN 30 ELSE 15 END),
                 100), 0) AS score
        FROM customer
        ORDER BY c_custkey""")),

    // ----------------------------------------------------------------
    // §2.8 math suite (log10 score normalization, sqrt, clamping —
    // bronze_to_silver_transformation.py:752,778-782; silver_to_gold_
    // analytics.py:617). log10/sqrt go through libm, which may differ by
    // ulps across engines => round(6).
    Q(
      "p8_math_funcs",
      (s, d) =>
        Tables.part(s, d)
          .select(
            col("p_partkey"),
            round(log10(col("p_retailprice")), 6).as("log_price"),
            round(sqrt(col("p_retailprice")), 6).as("sqrt_price"),
            greatest(least((col("p_retailprice") - lit(900.0)) / 1.0,
              lit(100.0)), lit(0.0)).as("price_score"),
            pmod(col("p_partkey"), lit(7)).as("bucket7"),
            abs(col("p_retailprice") - 950.0).as("dev_from_mid"))
          .orderBy("p_partkey"),
      Some("""
        SELECT p_partkey,
               round(log10(p_retailprice), 6) AS log_price,
               round(sqrt(p_retailprice), 6) AS sqrt_price,
               GREATEST(LEAST((p_retailprice - 900.0) / 1.0, 100.0), 0.0)
                 AS price_score,
               p_partkey % 7 AS bucket7,
               abs(p_retailprice - 950.0) AS dev_from_mid
        FROM part
        ORDER BY p_partkey""")),

    // ----------------------------------------------------------------
    // A5 (explode + co-occurrence agg + HAVING, silver_to_gold_analytics
    // .py:603-614): generator -> two-key hash agg -> post-agg filter.
    Q(
      "a5_explode_cooccur",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("lang"), col("doc_id"),
            explode(split(col("text"), " ")).as("word"))
          .groupBy("lang", "word")
          .agg(
            count(lit(1)).as("cnt"),
            countDistinct(col("doc_id")).as("n_docs"))
          .filter(col("cnt") >= 3)
          .orderBy("lang", "word"),
      Some("""
        SELECT lang, word, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS n_docs
        FROM (
          SELECT lang, doc_id, UNNEST(string_split(text, ' ')) AS word
          FROM documents)
        GROUP BY lang, word
        HAVING COUNT(*) >= 3
        ORDER BY lang, word""")),

    // ----------------------------------------------------------------
    // A18: exact-moment Pearson correlation per group — corr from SIX
    // decimal-exact moments (n, Σx, Σy, Σxy, Σx², Σy²) folded through
    // one fixed-shape double formula. The moments are order-independent
    // (decimal addition is associative), so the result is partitioning-
    // independent; round(9) masks the >2^53 int128→double cast ulp (the
    // a3/a16 precedent) — six orders above the noise, six below any
    // real signal.
    Q(
      "a18_correlation",
      (s, d) => {
        import graft.functions.Deterministic.dsum
        val x = col("l_quantity")
        val y = col("l_extendedprice")
        val xd = x.cast(DecimalType(18, 6))
        val yd = y.cast(DecimalType(19, 6))
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).cast("double").as("n"),
            dsum(x).as("sx"), dsum(y).as("sy"),
            sum(xd * yd).cast("double").as("sxy"),
            sum(xd * x.cast(DecimalType(19, 6))).cast("double").as("sxx"),
            sum(y.cast(DecimalType(18, 6)) * yd).cast("double").as("syy"))
          .select(
            col("l_returnflag"),
            col("n").cast("long").as("n_rows"),
            round(
              (col("n") * col("sxy") - col("sx") * col("sy")) /
                (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                  sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 9)
              .as("corr_qty_price"))
          .orderBy("l_returnflag")
      },
      Some(s"""
        WITH m AS (
          SELECT l_returnflag,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 ${dsumSql("l_quantity")} AS sx,
                 ${dsumSql("l_extendedprice")} AS sy,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))
                   * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sxy,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))
                   * CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                   * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS syy
          FROM lineitem GROUP BY 1)
        SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
               round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9)
                 AS corr_qty_price
        FROM m ORDER BY l_returnflag""")),

    // ----------------------------------------------------------------
    // A19: median-absolute-deviation outlier audit — the ROBUST
    // complement to a16's 3σ z-score (one extreme value shifts a mean
    // and explodes a stddev; it moves a median not at all). Two exact
    // selection medians (value, then |value−median|) via row_number
    // windows with total tie-breaks, then a per-type outlier count
    // against the 3·MAD fence. Emitted per type (5 rows).
    Q(
      "a19_mad_outliers",
      (s, d) => {
        val ev = Tables.events(s, d).select("event_id", "event_type", "value")
        def medianOf(df: DataFrame, valueCol: String, out: String): DataFrame = {
          val w = Window.partitionBy("event_type")
            .orderBy(col(valueCol), col("event_id"))
          df.withColumn("rn", row_number().over(w))
            .withColumn("cnt",
              count(lit(1)).over(Window.partitionBy("event_type")))
            .filter(col("rn") === expr("(cnt + 1) div 2"))
            .select(col("event_type"), col(valueCol).as(out))
        }
        val med = medianOf(ev, "value", "med")
        val dev = ev.join(broadcast(med), "event_type")
          .withColumn("dev", abs(col("value") - col("med")))
        val mad = medianOf(dev, "dev", "mad")
        dev.join(broadcast(mad), "event_type")
          .groupBy(col("event_type"), col("med"), col("mad"))
          .agg(count(when(col("dev") > col("mad") * 3, 1)).as("n_outliers"),
            count(lit(1)).as("n_rows"))
          .orderBy("event_type")
      },
      Some("""
        WITH med AS (
          SELECT event_type, value AS med FROM (
            SELECT event_type, value, event_id,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY value, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS cnt
            FROM events)
          WHERE rn = (cnt + 1) // 2),
        dev AS (
          SELECT e.event_id, e.event_type, abs(e.value - m.med) AS dev, m.med
          FROM events e JOIN med m USING (event_type)),
        mad AS (
          SELECT event_type, dev AS mad FROM (
            SELECT event_type, dev, event_id,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY dev, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS cnt
            FROM dev)
          WHERE rn = (cnt + 1) // 2)
        SELECT d.event_type, d.med, a.mad,
               COUNT(CASE WHEN d.dev > a.mad * 3 THEN 1 END) AS n_outliers,
               COUNT(*) AS n_rows
        FROM dev d JOIN mad a USING (event_type)
        GROUP BY d.event_type, d.med, a.mad
        ORDER BY d.event_type""")),

    // ----------------------------------------------------------------
    // A20: winsorization — clip values at the exact nearest-rank
    // p5/p95 per group before training (the outlier-clipping
    // preprocessing step; a16/a19 DETECT outliers, this neutralizes
    // them). Fences come from row_number selection with a total
    // tie-break and integer ceil arithmetic — engine-exact; clipped
    // sums accumulate in DECIMAL.
    Q(
      "a20_winsorize",
      (s, d) => {
        val ev = Tables.events(s, d).select("event_id", "event_type", "value")
        val w = Window.partitionBy("event_type").orderBy("value", "event_id")
        val ranked = ev
          .withColumn("rn", row_number().over(w))
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy("event_type")))
        val fences = ranked
          .filter(col("rn") === expr("(cnt + 19) div 20") ||
            col("rn") === expr("(19 * cnt + 19) div 20"))
          .groupBy("event_type")
          .agg(min("value").as("p05"), max("value").as("p95"))
        ev.join(broadcast(fences), "event_type")
          .withColumn("clipped", least(greatest(col("value"), col("p05")), col("p95")))
          .groupBy(col("event_type"), col("p05"), col("p95"))
          .agg(
            count(lit(1)).as("n_rows"),
            count(when(col("value") < col("p05"), 1)).as("n_clip_low"),
            count(when(col("value") > col("p95"), 1)).as("n_clip_high"),
            sum(col("clipped").cast(dec)).cast("double").as("sum_clipped"))
          .orderBy("event_type")
      },
      Some("""
        WITH ranked AS (
          SELECT event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY value, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS cnt
          FROM events),
        fences AS (
          SELECT event_type, MIN(value) AS p05, MAX(value) AS p95
          FROM ranked
          WHERE rn = (cnt + 19) // 20 OR rn = (19 * cnt + 19) // 20
          GROUP BY 1)
        SELECT e.event_type, f.p05, f.p95,
               COUNT(*) AS n_rows,
               COUNT(CASE WHEN e.value < f.p05 THEN 1 END) AS n_clip_low,
               COUNT(CASE WHEN e.value > f.p95 THEN 1 END) AS n_clip_high,
               CAST(SUM(CAST(LEAST(GREATEST(e.value, f.p05), f.p95)
                 AS DECIMAL(28,6))) AS DOUBLE) AS sum_clipped
        FROM events e JOIN fences f USING (event_type)
        GROUP BY e.event_type, f.p05, f.p95
        ORDER BY e.event_type""")),

    // ----------------------------------------------------------------
    // S8 (latest-partition scan: agg(max(date)) then equality filter —
    // bronze_to_silver_transformation.py:662-668). The filter prunes
    // partitions when the column is a partition key.
    Q(
      "s8_latest_slice",
      (s, d) => {
        val o = Tables.orders(s, d)
        val mx = o.agg(max(col("o_orderdate")).as("max_date"))
        o.crossJoin(broadcast(mx))
          .filter(col("o_orderdate") === col("max_date"))
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
            col("o_orderstatus"))
          .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
          .orderBy("order_date", "o_orderstatus")
      },
      Some(s"""
        WITH m AS (SELECT MAX(o_orderdate) AS max_date FROM orders)
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_orderstatus,
               COUNT(*) AS cnt, ${dsumSql("o_totalprice")} AS total
        FROM orders, m
        WHERE o_orderdate = max_date
        GROUP BY 1, 2
        ORDER BY order_date, o_orderstatus""")),

    // ----------------------------------------------------------------
    // S9: index-pruned range scan — the data-skipping read path
    // ([[graft.storage.ParquetCatalog.readRange]] over the table's
    // skipping index) end-to-end. The clustered copy + footer stats
    // are input-fingerprinted persisted state (built once, read after
    // — the d10 contract: a real lakehouse ALREADY has its layout and
    // stats); the measured query is "open only the files
    // whose [min,max] intersects the predicate, re-apply the filter".
    // The oracle is the plain full-scan filter — pruning must be
    // invisible to results.
    Q(
      "s9_skipping_scan",
      (s, d) => {
        val (root, _) = Scratch.state("skip", d) { root =>
          val cat = new ParquetCatalog(s, root)
          cat.overwriteVersioned("orders", Tables.orders(s, d))
          cat.compact("orders", rowsPerFile = 2000,
            clusterBy = Seq("o_orderkey"))
          cat.index("orders", Seq("o_orderkey"))
          "ok"
        }
        new ParquetCatalog(s, root)
          .readRange("orders", Seq(("o_orderkey", 1000.0, 3000.0)))
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_orderkey >= 1000 AND o_orderkey <= 3000
        ORDER BY o_orderkey""")),

    // ----------------------------------------------------------------
    // S10: the SELF-MAINTAINING index lifecycle end-to-end through the
    // catalog — overwrite → z-order compact → index → APPEND (which
    // must refresh the index incrementally, footer-reading only the
    // appended files) → `readRange` with a conjunctive two-column
    // predicate that the z-order hypercube layout prunes on BOTH
    // dimensions. The oracle recomputes from the source table: the
    // pruned lifecycle read must be indistinguishable from a full scan
    // — including the appended rows a stale index would have dropped.
    Q(
      "s10_range_read",
      (s, d) => {
        val (root, _) = Scratch.state("rr", d) { root =>
          val cat = new ParquetCatalog(s, root)
          val li = Tables.lineitem(s, d)
            .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
          cat.overwriteVersioned("li_idx",
            li.filter(col("l_orderkey") % 5 =!= 0))
          cat.compact("li_idx", rowsPerFile = 4000,
            zorderBy = Seq("l_orderkey", "l_partkey"))
          cat.index("li_idx", Seq("l_orderkey", "l_partkey"))
          // appended AFTER indexing: the catalog's incremental refresh
          // must fold these files in, or the range read drops rows
          cat.appendVersioned("li_idx", li.filter(col("l_orderkey") % 5 === 0))
          "ok"
        }
        val cat = new ParquetCatalog(s, root)
        cat.readRange("li_idx",
            Seq(("l_orderkey", 1000.0, 4000.0), ("l_partkey", 0.0, 500.0)))
          .agg(count(lit(1)).as("n_rows"),
            graft.functions.Deterministic.dsum(col("l_extendedprice")).as("total"),
            min(col("l_orderkey")).as("min_key"),
            max(col("l_orderkey")).as("max_key"))
      },
      Some("""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
               MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
        FROM lineitem
        WHERE l_orderkey BETWEEN 1000 AND 4000
          AND l_partkey BETWEEN 0 AND 500"""))
  ,

    // ----------------------------------------------------------------
    // S11: bloom-pruned POINT lookup — parquet NATIVE bloom filters
    // (written via parquet.bloom.filter.enabled#col) answer equality
    // probes a min/max index cannot: the table is deliberately laid out
    // ROUND-ROBIN, so every file's [min,max] spans the whole key space
    // and only the bloom says "not in this file". The probe key is the
    // max l_orderkey (deterministic, oracle-expressible); the pin
    // asserts the bloom actually pruned (candidates < half the files).
    // The oracle is the plain full-scan filter — pruning must be
    // invisible to results.
    Q(
      "s11_bloom_point",
      (s, d) => {
        def catalog(root: String) = new ParquetCatalog(s, root,
          bloomFor = Seq("l_orderkey"), bloomNdv = 100000L)
        val li = Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        val (root, _) = Scratch.state("blm", d) { root =>
          catalog(root).overwriteVersioned("li_b", li.repartition(24))
          "ok"
        }
        val cat = catalog(root)
        val key = li.agg(max(col("l_orderkey"))).head().getLong(0)
        val pruned =
          if (cat.pointCandidates("li_b", "l_orderkey", key).size * 2 <
            cat.fileCount("li_b")) 1L else 0L
        cat.readPoint("li_b", "l_orderkey", key)
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_rows"),
            graft.functions.Deterministic.dsum(col("l_extendedprice")).as("total"),
            min(col("l_linenumber")).as("min_line"),
            max(col("l_linenumber")).as("max_line"))
          .withColumn("bloom_pruned", lit(pruned))
      },
      Some("""
        SELECT l_orderkey, COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
               MIN(l_linenumber) AS min_line, MAX(l_linenumber) AS max_line,
               CAST(1 AS BIGINT) AS bloom_pruned
        FROM lineitem
        WHERE l_orderkey = (SELECT MAX(l_orderkey) FROM lineitem)
        GROUP BY l_orderkey""")),

    // ----------------------------------------------------------------
    // S12: storage-partitioned join (Spark SPJ, SPARK-37377 — what
    // Iceberg reports) through the registered catalog: two tables
    // co-partitioned on o_orderstatus joined on that key need NO
    // shuffle on either side, and the group-by on the same key
    // aggregates shuffle-free too — at 100 TB the difference between a
    // metadata-aligned zipped join and re-shuffling both relations.
    // Opt-in rides Spark's own `spark.sql.sources.v2.bucketing.enabled`
    // (restored after). Pins: `spj_exchanges` = 0 (the FINAL adaptive
    // plan of the executed join+agg contains zero Exchange nodes) and
    // `spj_scan` = 1 (the layout-reporting scan actually planned). The
    // oracle recomputes the join relationally — shuffle elimination
    // must be invisible to results.
    Q(
      "s12_spj_join",
      (s, d) => {
        val (root, _) = Scratch.state("spj", d) { root =>
          val cat = new ParquetCatalog(s, root)
          val o = Tables.orders(s, d)
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
          cat.overwriteVersioned("orders_spj", o, Seq("o_orderstatus"))
          cat.overwriteVersioned("status_dim",
            o.groupBy("o_orderstatus").agg(count(lit(1)).as("status_n")),
            Seq("o_orderstatus"))
          "ok"
        }
        val cname = GraftCatalog.register(s, s"gspj${root.takeRight(8)}", root)
        val toggled = Seq(
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        val prev = toggled.map { case (k, _) => k -> s.conf.getOption(k) }
        toggled.foreach { case (k, v) => s.conf.set(k, v) }
        try {
          val agg = s.sql(
            s"""SELECT t.o_orderstatus, count(*) AS n_rows,
                       CAST(SUM(CAST(t.o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                         AS total,
                       max(d.status_n) AS status_n
                FROM $cname.orders_spj t
                JOIN $cname.status_dim d ON t.o_orderstatus = d.o_orderstatus
                GROUP BY t.o_orderstatus""")
          agg.collect() // finalize the adaptive plan before inspecting it
          val plan = agg.queryExecution.executedPlan.toString
          val exchanges = if (plan.contains("Exchange")) 1L else 0L
          val spjScan = if (plan.contains("GraftSpjScan")) 1L else 0L
          agg.withColumn("spj_exchanges", lit(exchanges))
            .withColumn("spj_scan", lit(spjScan))
            .orderBy("o_orderstatus")
        } finally prev.foreach { case (k, v) =>
          v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
      },
      Some("""
        WITH dim AS (
          SELECT o_orderstatus, COUNT(*) AS status_n FROM orders GROUP BY 1)
        SELECT o.o_orderstatus, COUNT(*) AS n_rows,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
               MAX(d.status_n) AS status_n,
               CAST(0 AS BIGINT) AS spj_exchanges,
               CAST(1 AS BIGINT) AS spj_scan
        FROM orders o JOIN dim d USING (o_orderstatus)
        GROUP BY 1 ORDER BY o_orderstatus""")),

    // ----------------------------------------------------------------
    // S13: the skipping index on the SQL DOOR — s9's engine-path
    // stats-pruned scan, now through plain `spark.sql` against the
    // registered catalog: the pushed range predicate intersects the
    // persisted per-file min/max BEFORE split planning, so only
    // candidate files become tasks (at 100 TB: a point/range query
    // opens its few files, not 100k footers). Pin: `skip_pruned` = 1
    // (the scan kept under half the clustered layout's files —
    // extracted from the plan's `GraftSkipScan(kept=N of M files`
    // description). The oracle is the plain full-scan filter — pruning
    // must be invisible to results.
    Q(
      "s13_sql_skip",
      (s, d) => {
        val (root, _) = Scratch.state("sqs", d) { root =>
          val cat = new ParquetCatalog(s, root)
          val o = Tables.orders(s, d)
            .select("o_orderkey", "o_custkey", "o_totalprice")
          cat.overwriteVersioned("orders_skip", o)
          // a fixed 12-file clustered layout at every SF: tight per-file
          // key ranges for the index to prune on
          val n = o.count()
          cat.compact("orders_skip",
            rowsPerFile = math.max(1L, n / 12), clusterBy = Seq("o_orderkey"))
          cat.index("orders_skip", Seq("o_orderkey"))
          "ok"
        }
        val cname = GraftCatalog.register(s, s"gsk${root.takeRight(8)}", root)
        val q = s.sql(
          s"""SELECT o_orderkey, o_custkey, o_totalprice
              FROM $cname.orders_skip
              WHERE o_orderkey BETWEEN 1000 AND 2000""")
        val desc = q.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.scan.description()
        }.headOption.getOrElse("")
        val pruned = "kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(desc)
          .map(m => if (m.group(1).toLong * 2 < m.group(2).toLong) 1L else 0L)
          .getOrElse(0L)
        q.withColumn("skip_pruned", lit(pruned)).orderBy("o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(1 AS BIGINT) AS skip_pruned
        FROM orders
        WHERE o_orderkey BETWEEN 1000 AND 2000
        ORDER BY o_orderkey""")),

    // ----------------------------------------------------------------
    // S14: s11's bloom-pruned point lookup, through the SQL DOOR — a
    // plain `spark.sql` equality probe on a bloom-indexed key over a
    // RANDOM (non-clustered) layout, where min/max stats cannot prune
    // (every file's range spans the key space). One driver-side footer
    // probe detects the blooms, then a distributed bloom pass keeps ~1
    // file + false positives — a 100 TB point lookup opens a handful
    // of files instead of the table. Pin: `bloom_pruned` = 1 (kept
    // under half the 24 files). Oracle = plain filtered scan.
    Q(
      "s14_sql_bloom",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        val (root, _) = Scratch.state("sqb", d) { root =>
          val bcat = new ParquetCatalog(s, root,
            bloomFor = Seq("l_orderkey"), bloomNdv = 100000L)
          bcat.overwriteVersioned("li_sb", li.repartition(24))
          bcat.index("li_sb", Seq("l_orderkey"))
          "ok"
        }
        val cname = GraftCatalog.register(s, s"gsb${root.takeRight(8)}", root)
        val key = li.agg(max(col("l_orderkey"))).head().getLong(0)
        val q = s.sql(
          s"""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
              FROM $cname.li_sb WHERE l_orderkey = $key""")
        val desc = q.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.scan.description()
        }.headOption.getOrElse("")
        val pruned = "kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(desc)
          .map(m => if (m.group(1).toLong * 2 < m.group(2).toLong) 1L else 0L)
          .getOrElse(0L)
        q.groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_rows"),
            graft.functions.Deterministic.dsum(col("l_extendedprice")).as("total"),
            min(col("l_linenumber")).as("min_line"),
            max(col("l_linenumber")).as("max_line"))
          .withColumn("bloom_pruned", lit(pruned))
      },
      Some("""
        SELECT l_orderkey, COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
               MIN(l_linenumber) AS min_line, MAX(l_linenumber) AS max_line,
               CAST(1 AS BIGINT) AS bloom_pruned
        FROM lineitem
        WHERE l_orderkey = (SELECT MAX(l_orderkey) FROM lineitem)
        GROUP BY l_orderkey""")),

    // ----------------------------------------------------------------
    // S15: metadata-only COUNT(*) (Delta/Iceberg parity) — a bare
    // `SELECT count(*)` through the registered catalog never reads a
    // data page: manifest file list + footer row counts − the
    // version's deletion-vector positions. Exercised across a vector
    // DELETE and time travel; `meta_count` pins that BOTH counts
    // planned the metadata scan (no file scan in either plan). The
    // oracle recomputes both counts relationally.
    Q(
      "s15_sql_count",
      (s, d) => {
        val (root, _) = Scratch.state("sqc", d) { root =>
          val cat = new ParquetCatalog(s, root)
          val o = Tables.orders(s, d)
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
          cat.overwriteVersioned("orders_cnt", o, Seq("o_orderstatus"))
          cat.setTableProperty("orders_cnt", "graft.deletionVectors", "true")
          cat.deleteVectors("orders_cnt", col("o_orderkey") % 100 === 55)
          "ok"
        }
        val cname = GraftCatalog.register(s, s"gct${root.takeRight(8)}", root)
        val cur = s.sql(s"SELECT count(*) FROM $cname.orders_cnt")
        val v1 = s.sql(
          s"SELECT count(*) FROM $cname.orders_cnt VERSION AS OF 1")
        val metaPlanned =
          if (cur.queryExecution.executedPlan.toString.contains("GraftCountStarScan") &&
            v1.queryExecution.executedPlan.toString.contains("GraftCountStarScan"))
            1L else 0L
        import s.implicits._
        Seq((cur.as[Long].head(), v1.as[Long].head(), metaPlanned))
          .toDF("n_current", "n_v1", "meta_count")
      },
      Some("""
        SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey % 100 != 55)
                 AS n_current,
               (SELECT COUNT(*) FROM orders) AS n_v1,
               CAST(1 AS BIGINT) AS meta_count""")),

    // ----------------------------------------------------------------
    // S16: TIME-RANGE file skipping on the SQL door — the most common
    // predicate on a 100 TB table is a timestamp window, and raw-unit
    // catalyst literals (epoch micros) are what make `INT64:TIMESTAMP`
    // min/max stats safely prunable (engine user-unit doubles never
    // are). A 3-month window over the ~6.5-year time-clustered orders
    // layout is pinned opening under half the files (`time_pruned`);
    // the oracle is the plain filtered aggregate — pruning invisible
    // to results.
    Q(
      "s16_sql_time_skip",
      (s, d) => {
        // _tsk2: the r18 full-annotation index tags obsolete any _tsk
        // scratch built by earlier rounds (its truncated tags would no
        // longer match and the pruning pin would read stale)
        val (root, _) = Scratch.state("tsk2", d) { root =>
          val cat = new ParquetCatalog(s, root)
          val o = Tables.orders(s, d)
            .select("o_orderkey", "o_totalprice", "o_orderdate")
          cat.overwriteVersioned("orders_ts", o)
          val n = o.count()
          cat.compact("orders_ts",
            rowsPerFile = math.max(1L, n / 12), clusterBy = Seq("o_orderdate"))
          cat.index("orders_ts", Seq("o_orderdate"))
          "ok"
        }
        val cname = GraftCatalog.register(s, s"gst${root.takeRight(8)}", root)
        val q = s.sql(
          s"""SELECT o_orderkey, o_totalprice
              FROM $cname.orders_ts
              WHERE o_orderdate >= TIMESTAMP'1996-03-01 00:00:00'
                AND o_orderdate <  TIMESTAMP'1996-06-01 00:00:00'""")
        val desc = q.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.scan.description()
        }.headOption.getOrElse("")
        val pruned = "kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(desc)
          .map(m => if (m.group(1).toLong * 2 < m.group(2).toLong) 1L else 0L)
          .getOrElse(0L)
        q.agg(count(lit(1)).as("n_rows"),
            graft.functions.Deterministic.dsum(col("o_totalprice")).as("total"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
          .withColumn("time_pruned", lit(pruned))
      },
      Some("""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
               MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
               CAST(1 AS BIGINT) AS time_pruned
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-06-01 00:00:00'""")),

    // ----------------------------------------------------------------
    // S17: the skipping structures declared as TBLPROPERTIES — a table
    // whose ENTIRE lifecycle is plain SQL (CTAS with
    // `graft.bloomFor`/`graft.indexFor`, then INSERT INTO) acquires
    // parquet native blooms and a self-maintaining min/max index with
    // zero engine API: the write verbs honor the properties, every
    // commit reconciles the index. The pin is s14's: a point lookup on
    // the random 24-file layout keeps under half the files — only the
    // blooms can do that there — INCLUDING the second (INSERT-appended)
    // batch's files. Oracle = plain filtered aggregate.
    Q(
      "s17_sql_tblprops",
      (s, d) => {
        def register(root: String) =
          GraftCatalog.register(s, s"gtp${root.takeRight(8)}", root)
        val li = Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        val (root, _) = Scratch.state("tbp", d) { root =>
          val cname = register(root)
          li.createOrReplaceTempView("li_props_src")
          s.sql(
            s"""CREATE TABLE $cname.li_props
                TBLPROPERTIES('graft.bloomFor'='l_orderkey',
                              'graft.indexFor'='l_orderkey')
                AS SELECT /*+ REPARTITION(16) */ * FROM li_props_src
                   WHERE l_linenumber <= 4""")
          s.sql(
            s"""INSERT INTO $cname.li_props
                SELECT /*+ REPARTITION(8) */ * FROM li_props_src
                WHERE l_linenumber > 4""")
          "ok"
        }
        val cname = register(root)
        val key = li.agg(max(col("l_orderkey"))).head().getLong(0)
        val q = s.sql(
          s"""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
              FROM $cname.li_props WHERE l_orderkey = $key""")
        val desc = q.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.scan.description()
        }.headOption.getOrElse("")
        val pruned = "kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(desc)
          .map(m => if (m.group(1).toLong * 2 < m.group(2).toLong) 1L else 0L)
          .getOrElse(0L)
        q.groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_rows"),
            graft.functions.Deterministic.dsum(col("l_extendedprice")).as("total"),
            min(col("l_linenumber")).as("min_line"),
            max(col("l_linenumber")).as("max_line"))
          .withColumn("props_pruned", lit(pruned))
      },
      Some("""
        SELECT l_orderkey, COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
               MIN(l_linenumber) AS min_line, MAX(l_linenumber) AS max_line,
               CAST(1 AS BIGINT) AS props_pruned
        FROM lineitem
        WHERE l_orderkey = (SELECT MAX(l_orderkey) FROM lineitem)
        GROUP BY l_orderkey""")),

    // ----------------------------------------------------------------
    // S18: metadata-only MIN/MAX and PARTITION-FILTERED COUNT — the
    // rest of the Delta/Iceberg metadata-aggregate surface beyond s15's
    // bare count: `min(x)`/`max(x)` fold the persisted per-file index
    // stats (exact per-file aggregates), and a COUNT whose predicate
    // the scan consumed EXACTLY (partition columns only) counts the
    // surviving files' footer rows. `meta_agg` pins that ALL THREE
    // statements planned the single-row metadata scan — zero data
    // pages at any scale. The oracle recomputes everything
    // relationally.
    Q(
      "s18_sql_meta_agg",
      (s, d) => {
        val (root, _) = Scratch.state("sma2", d) { root =>
          val cat = new ParquetCatalog(s, root)
          val o = Tables.orders(s, d)
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
          cat.overwriteVersioned("orders_ma", o, Seq("o_orderstatus"))
          cat.index("orders_ma", Seq("o_orderkey"))
          "ok"
        }
        val cname = GraftCatalog.register(s, s"gma${root.takeRight(8)}", root)
        val mm = s.sql(
          s"""SELECT min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
                     count(o_orderkey) AS n_keys
              FROM $cname.orders_ma""")
        val cf = s.sql(
          s"""SELECT count(*) AS n_f FROM $cname.orders_ma
              WHERE o_orderstatus = 'F'""")
        val mf = s.sql(
          s"""SELECT max(o_orderkey) AS max_key_f FROM $cname.orders_ma
              WHERE o_orderstatus = 'F'""")
        val metaAgg =
          if (Seq(mm, cf, mf).forall(_.queryExecution.executedPlan.toString
              .contains("GraftCountStarScan"))) 1L else 0L
        val r1 = mm.head(); val n = cf.head().getLong(0); val mk = mf.head().getLong(0)
        import s.implicits._
        Seq((r1.getLong(0), r1.getLong(1), r1.getLong(2), n, mk, metaAgg))
          .toDF("min_key", "max_key", "n_keys", "n_f", "max_key_f", "meta_agg")
      },
      Some("""
        SELECT (SELECT MIN(o_orderkey) FROM orders) AS min_key,
               (SELECT MAX(o_orderkey) FROM orders) AS max_key,
               (SELECT COUNT(o_orderkey) FROM orders) AS n_keys,
               (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F') AS n_f,
               (SELECT MAX(o_orderkey) FROM orders WHERE o_orderstatus = 'F')
                 AS max_key_f,
               CAST(1 AS BIGINT) AS meta_agg""")),

    // ----------------------------------------------------------------
    // S19: bucket-transform storage-partitioned join — s12 keys on an
    // identity PARTITION column; real fact-dim joins key on
    // high-cardinality IDs, where the layout must be a HASH-BUCKETED
    // one. Two tables bucketed on the join key by the engine verb
    // report `bucket(16, key)` KeyGroupedPartitioning (resolved
    // through the catalog's own V2 bucket function — the Iceberg
    // mechanism) and the per-customer aggregate join runs with ZERO
    // Exchange, pinned in the executed adaptive plan. At 100 TB this
    // is the write-once shuffle: every later run of the daily join
    // pays no exchange on either side. Oracle = the plain relational
    // join.
    Q(
      "s19_sql_bucket_join",
      (s, d) => {
        val (root, _) = Scratch.state("sbj", d) { root =>
          val cat = new ParquetCatalog(s, root)
          cat.overwriteBucketedVersioned("orders_b",
            Tables.orders(s, d)
              .select("o_orderkey", "o_custkey", "o_totalprice"),
            "o_custkey", 16)
          cat.overwriteBucketedVersioned("cust_b",
            Tables.customer(s, d).select("c_custkey", "c_name"),
            "c_custkey", 16)
          "ok"
        }
        val cname = GraftCatalog.register(s, s"gbj${root.takeRight(8)}", root)
        val toggled = Seq(
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        val prev = toggled.map { case (k, _) => k -> s.conf.getOption(k) }
        toggled.foreach { case (k, v) => s.conf.set(k, v) }
        try {
          val agg = s.sql(
            s"""SELECT c.c_custkey, count(*) AS n_orders,
                       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                         AS total
                FROM $cname.orders_b o
                JOIN $cname.cust_b c ON o.o_custkey = c.c_custkey
                GROUP BY c.c_custkey""")
          agg.collect() // finalize the adaptive plan before inspecting it
          val plan = agg.queryExecution.executedPlan.toString
          val exchanges = if (plan.contains("Exchange")) 1L else 0L
          val spjScan = if (plan.contains("GraftSpjScan")) 1L else 0L
          agg.withColumn("bucket_exchanges", lit(exchanges))
            .withColumn("bucket_spj", lit(spjScan))
            .orderBy("c_custkey")
        } finally prev.foreach { case (k, v) =>
          v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
      },
      Some("""
        SELECT c.c_custkey, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
               CAST(0 AS BIGINT) AS bucket_exchanges,
               CAST(1 AS BIGINT) AS bucket_spj
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey ORDER BY c.c_custkey""")),

    // ----------------------------------------------------------------
    // S20: dynamic FILE pruning — a fact-dim join keyed on the fact's
    // CLUSTERED (not partitioned) key: Spark's runtime join filter
    // (dynamic partition pruning machinery) reaches the scan as an
    // IN-list, and the wrapper drives it through the SAME min/max +
    // bloom index pass as a static predicate (Databricks' dynamic file
    // pruning, on the persisted index). The dim's keys live in one
    // narrow band of the key space, so the clustered fact opens ~2 of
    // its 12 files — `dfp_pruned` pins kept*2 < total from the
    // executed plan. Oracle = the plain relational join.
    Q(
      "s20_sql_dfp",
      (s, d) => {
        val (root, _) = Scratch.state("dfp", d) { root =>
          val cat = new ParquetCatalog(s, root)
          val o = Tables.orders(s, d)
            .select("o_orderkey", "o_custkey", "o_totalprice")
          cat.overwriteVersioned("orders_dfp", o)
          val n = o.count()
          cat.compact("orders_dfp",
            rowsPerFile = math.max(1L, n / 12), clusterBy = Seq("o_orderkey"))
          cat.index("orders_dfp", Seq("o_orderkey"))
          // dim keys confined to one narrow band of the key space
          cat.overwriteVersioned("keys_dim",
            o.select("o_orderkey").distinct()
              .filter(col("o_orderkey").between(1000, 1400))
              .withColumn("flag", lit(1L)))
          "ok"
        }
        val cname = GraftCatalog.register(s, s"gdfp${root.takeRight(8)}", root)
        val q = s.sql(
          s"""SELECT f.o_orderkey, f.o_custkey, f.o_totalprice
              FROM $cname.orders_dfp f
              JOIN $cname.keys_dim k ON f.o_orderkey = k.o_orderkey
              WHERE k.flag = 1""")
        q.collect() // finalize the adaptive plan (runtime filter ran)
        val plan = q.queryExecution.executedPlan.toString
        val pruned =
          "GraftSkipScan\\(kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(plan)
            .map(m => if (m.group(1).toLong * 2 < m.group(2).toLong) 1L else 0L)
            .getOrElse(0L)
        val dpp = if (plan.contains("dynamicpruning")) 1L else 0L
        q.agg(count(lit(1)).as("n_rows"),
            graft.functions.Deterministic.dsum(col("o_totalprice")).as("total"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
          .withColumn("dfp_pruned", lit(pruned))
          .withColumn("dfp_runtime_filter", lit(dpp))
      },
      Some("""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
               MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
               CAST(1 AS BIGINT) AS dfp_pruned,
               CAST(1 AS BIGINT) AS dfp_runtime_filter
        FROM orders
        WHERE o_orderkey BETWEEN 1000 AND 1400""")),

    // ----------------------------------------------------------------
    // S21: composite partition + bucket layout — the canonical 100 TB
    // fact shape (Iceberg's `days(ts), bucket(16, id)` multi-transform
    // spec): the fact is identity-partitioned by status AND
    // hash-bucketed by the join key, the dim co-bucketed. The status
    // filter prunes partitions at planning, the key join zips bucket
    // groups with ZERO Exchange — BOTH in one executed plan, which the
    // single-transform s12/s19 layouts cannot express (they force a
    // choice between date pruning and shuffle-free joins). Pinned:
    // zero Exchange, the SPJ scan, and PartitionFilters over the
    // status column, all from the same executed adaptive plan. Oracle
    // = the plain relational join.
    Q(
      "s21_sql_part_bucket",
      (s, d) => {
        val (root, _) = Scratch.state("cpb", d) { root =>
          val cat = new ParquetCatalog(s, root)
          cat.overwriteBucketedVersioned("orders_pb",
            Tables.orders(s, d).select("o_orderkey", "o_custkey",
              "o_orderstatus", "o_totalprice"),
            "o_custkey", 16, partitionBy = Seq("o_orderstatus"))
          cat.overwriteBucketedVersioned("cust_pb",
            Tables.customer(s, d).select("c_custkey", "c_name"),
            "c_custkey", 16)
          "ok"
        }
        val cname = GraftCatalog.register(s, s"gpb${root.takeRight(8)}", root)
        val toggled = Seq(
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        val prev = toggled.map { case (k, _) => k -> s.conf.getOption(k) }
        toggled.foreach { case (k, v) => s.conf.set(k, v) }
        try {
          val agg = s.sql(
            s"""SELECT c.c_custkey, count(*) AS n_orders,
                       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                         AS total
                FROM $cname.orders_pb o
                JOIN $cname.cust_pb c ON o.o_custkey = c.c_custkey
                WHERE o.o_orderstatus = 'F'
                GROUP BY c.c_custkey""")
          agg.collect() // finalize the adaptive plan before inspecting it
          val plan = agg.queryExecution.executedPlan.toString
          val exchanges = if (plan.contains("Exchange")) 1L else 0L
          val spjScan = if (plan.contains("GraftSpjScan")) 1L else 0L
          val partPruned =
            if ("PartitionFilters: \\[[^\\]]*o_orderstatus".r
                .findFirstIn(plan).isDefined) 1L else 0L
          agg.withColumn("pb_exchanges", lit(exchanges))
            .withColumn("pb_spj", lit(spjScan))
            .withColumn("pb_part_pruned", lit(partPruned))
            .orderBy("c_custkey")
        } finally prev.foreach { case (k, v) =>
          v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
      },
      Some("""
        SELECT c.c_custkey, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
               CAST(0 AS BIGINT) AS pb_exchanges,
               CAST(1 AS BIGINT) AS pb_spj,
               CAST(1 AS BIGINT) AS pb_part_pruned
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY c.c_custkey ORDER BY c.c_custkey""")),

    // ----------------------------------------------------------------
    // S22: the PURE-SQL bucketed lifecycle — zero engine API: a
    // two-phase load through `CREATE TABLE ... PARTITIONED BY
    // (bucket(16, key)) AS SELECT` plus `INSERT INTO` (which must keep
    // deriving — the INSERT even supplies a hostile bucket id that the
    // write path discards), a dim CTAS declaring `graft.bucketBy` as a
    // TBLPROPERTY, and the co-bucketed join running zero-Exchange
    // through plain spark.sql. s19 proved the layout through the
    // engine verb; this is the same guarantee for a user who only ever
    // types SQL. Oracle = the plain relational join.
    Q(
      "s22_sql_bucket_ddl",
      (s, d) => {
        def register(root: String) =
          GraftCatalog.register(s, s"gbd${root.takeRight(8)}", root)
        val (root, _) = Scratch.state("bdl", d) { root =>
          val cname = register(root)
          val suffix = root.takeRight(8)
          Tables.orders(s, d)
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .createOrReplaceTempView(s"orders_src_$suffix")
          Tables.customer(s, d).select("c_custkey", "c_name")
            .createOrReplaceTempView(s"cust_src_$suffix")
          s.sql(
            s"""CREATE TABLE $cname.orders_bd
                PARTITIONED BY (bucket(16, o_custkey))
                AS SELECT * FROM orders_src_$suffix WHERE o_orderkey > 1000""")
          s.sql(
            s"""INSERT INTO $cname.orders_bd
                SELECT *, 0 FROM orders_src_$suffix WHERE o_orderkey <= 1000""")
          s.sql(
            s"""CREATE TABLE $cname.cust_bd
                TBLPROPERTIES('graft.bucketBy'='c_custkey,16')
                AS SELECT * FROM cust_src_$suffix""")
          "ok"
        }
        val cname = register(root)
        val toggled = Seq(
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        val prev = toggled.map { case (k, _) => k -> s.conf.getOption(k) }
        toggled.foreach { case (k, v) => s.conf.set(k, v) }
        try {
          val agg = s.sql(
            s"""SELECT c.c_custkey, count(*) AS n_orders,
                       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                         AS total
                FROM $cname.orders_bd o
                JOIN $cname.cust_bd c ON o.o_custkey = c.c_custkey
                GROUP BY c.c_custkey""")
          agg.collect() // finalize the adaptive plan before inspecting it
          val plan = agg.queryExecution.executedPlan.toString
          val exchanges = if (plan.contains("Exchange")) 1L else 0L
          val spjScan = if (plan.contains("GraftSpjScan")) 1L else 0L
          agg.withColumn("bd_exchanges", lit(exchanges))
            .withColumn("bd_spj", lit(spjScan))
            .orderBy("c_custkey")
        } finally prev.foreach { case (k, v) =>
          v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
      },
      Some("""
        SELECT c.c_custkey, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
               CAST(0 AS BIGINT) AS bd_exchanges,
               CAST(1 AS BIGINT) AS bd_spj
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey ORDER BY c.c_custkey""")),

    // ----------------------------------------------------------------
    // S23: bucket SPJ × deletion vectors — the r19 wrapper fix under
    // the oracle gate: a co-bucketed join where the FACT side carries
    // vectored row-level deletes still runs zero-Exchange through the
    // positional scan (which now reports the bucket keys), and the
    // deleted rows are gone from the aggregate. Before r19 this shape
    // silently shuffled both sides. Oracle = the plain join minus the
    // deleted keys.
    Q(
      "s23_sql_bucket_dv",
      (s, d) => {
        val (root, _) = Scratch.state("bdv", d) { root =>
          val cat = new ParquetCatalog(s, root)
          cat.overwriteBucketedVersioned("orders_bv",
            Tables.orders(s, d)
              .select("o_orderkey", "o_custkey", "o_totalprice"),
            "o_custkey", 16)
          cat.overwriteBucketedVersioned("cust_bv",
            Tables.customer(s, d).select("c_custkey", "c_name"),
            "c_custkey", 16)
          cat.setTableProperty("orders_bv", "graft.deletionVectors", "true")
          cat.deleteVectors("orders_bv", col("o_orderkey") % 10 === 3)
          "ok"
        }
        val cname = GraftCatalog.register(s, s"gbv${root.takeRight(8)}", root)
        val toggled = Seq(
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        val prev = toggled.map { case (k, _) => k -> s.conf.getOption(k) }
        toggled.foreach { case (k, v) => s.conf.set(k, v) }
        try {
          val agg = s.sql(
            s"""SELECT c.c_custkey, count(*) AS n_orders,
                       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                         AS total
                FROM $cname.orders_bv o
                JOIN $cname.cust_bv c ON o.o_custkey = c.c_custkey
                GROUP BY c.c_custkey""")
          agg.collect() // finalize the adaptive plan before inspecting it
          val plan = agg.queryExecution.executedPlan.toString
          val exchanges = if (plan.contains("Exchange")) 1L else 0L
          val dvScan = if (plan.contains("GraftDvScan")) 1L else 0L
          agg.withColumn("bv_exchanges", lit(exchanges))
            .withColumn("bv_dv_spj", lit(dvScan))
            .orderBy("c_custkey")
        } finally prev.foreach { case (k, v) =>
          v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
      },
      Some("""
        SELECT c.c_custkey, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
               CAST(0 AS BIGINT) AS bv_exchanges,
               CAST(1 AS BIGINT) AS bv_dv_spj
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderkey % 10 <> 3
        GROUP BY c.c_custkey ORDER BY c.c_custkey""")),

    // ----------------------------------------------------------------
    // S24: STRING min/max file skipping (r19) — string-keyed
    // clustering (entity ids, ISO dates as strings) is the most common
    // 100 TB layout after numerics, and the engine previously refused
    // all string range pruning (strings drove blooms only). Spark
    // compares strings as unsigned UTF-8 bytes — exactly parquet's
    // declared STRING stats sort order — so the intersect is sound
    // against `BINARY:STRING` stats (and ONLY those: raw
    // binary/decimal stats still never prune). A ~200-name band over
    // the c_name-clustered layout opens ~2 of 12 files, pinned from
    // the executed plan. Oracle = the plain filtered aggregate.
    Q(
      "s24_sql_string_skip",
      (s, d) => {
        val (root, _) = Scratch.state("ssk", d) { root =>
          val cat = new ParquetCatalog(s, root)
          val cust = Tables.customer(s, d)
            .select("c_custkey", "c_name", "c_acctbal")
          cat.overwriteVersioned("cust_ss", cust)
          val n = cust.count()
          cat.compact("cust_ss",
            rowsPerFile = math.max(1L, n / 12), clusterBy = Seq("c_name"))
          cat.index("cust_ss", Seq("c_name"))
          "ok"
        }
        val cname = GraftCatalog.register(s, s"gss${root.takeRight(8)}", root)
        val q = s.sql(
          s"""SELECT c_custkey, c_name, c_acctbal FROM $cname.cust_ss
              WHERE c_name BETWEEN 'Customer#000000100'
                                AND 'Customer#000000299'""")
        q.collect()
        val plan = q.queryExecution.executedPlan.toString
        val pruned =
          "GraftSkipScan\\(kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(plan)
            .map(m => if (m.group(1).toLong * 2 < m.group(2).toLong) 1L else 0L)
            .getOrElse(0L)
        q.agg(count(lit(1)).as("n_rows"),
            graft.functions.Deterministic.dsum(col("c_acctbal")).as("total"),
            min(col("c_name")).as("min_name"),
            max(col("c_name")).as("max_name"))
          .withColumn("str_pruned", lit(pruned))
      },
      Some("""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS total,
               MIN(c_name) AS min_name, MAX(c_name) AS max_name,
               CAST(1 AS BIGINT) AS str_pruned
        FROM customer
        WHERE c_name BETWEEN 'Customer#000000100' AND 'Customer#000000299'""")),

    // ----------------------------------------------------------------
    // S25: DECIMAL min/max file skipping (r19) — money columns are the
    // canonical DECIMAL case and the engine previously refused all
    // decimal pruning (unscaled-int stats). The conjunct now converts
    // to the SAME unscaled units and prunes variant-exactly against
    // the `DECIMAL(p,s)` annotation (mismatched precision/scale or
    // binary-backed wide decimals keep conservatively). A mid-range
    // price band over the price-clustered layout opens a minority of
    // the files, pinned from the executed plan. Oracle = the plain
    // filtered aggregate over the same cast.
    Q(
      "s25_sql_decimal_skip",
      (s, d) => {
        val (root, _) = Scratch.state("dsk", d) { root =>
          val cat = new ParquetCatalog(s, root)
          val o = Tables.orders(s, d).select(col("o_orderkey"),
            col("o_totalprice")
              .cast(org.apache.spark.sql.types.DecimalType(12, 2))
              .as("price"))
          cat.overwriteVersioned("orders_dec", o)
          val n = o.count()
          cat.compact("orders_dec",
            rowsPerFile = math.max(1L, n / 12), clusterBy = Seq("price"))
          cat.index("orders_dec", Seq("price"))
          "ok"
        }
        val cname = GraftCatalog.register(s, s"gdk${root.takeRight(8)}", root)
        val q = s.sql(
          s"""SELECT o_orderkey, price FROM $cname.orders_dec
              WHERE price BETWEEN 30000.00 AND 60000.00""")
        q.collect()
        val plan = q.queryExecution.executedPlan.toString
        val pruned =
          "GraftSkipScan\\(kept=(\\d+) of (\\d+) files".r.findFirstMatchIn(plan)
            .map(m => if (m.group(1).toLong * 2 < m.group(2).toLong) 1L else 0L)
            .getOrElse(0L)
        q.agg(count(lit(1)).as("n_rows"),
            min(col("price")).cast("double").as("min_price"),
            max(col("price")).cast("double").as("max_price"),
            min(col("o_orderkey")).as("min_key"))
          .withColumn("dec_pruned", lit(pruned))
      },
      Some("""
        SELECT COUNT(*) AS n_rows,
               CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                 AS min_price,
               CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                 AS max_price,
               MIN(o_orderkey) AS min_key,
               CAST(1 AS BIGINT) AS dec_pruned
        FROM orders
        WHERE CAST(o_totalprice AS DECIMAL(12,2))
                BETWEEN 30000.00 AND 60000.00""")),

    // ----------------------------------------------------------------
    // S26: metadata-only MIN/MAX for STRINGS (r20) — s18 answers
    // numeric/temporal/decimal extremes from the index; string
    // entity-id MIN/MAX is an equally common interactive query and was
    // blanket-refused (footer string stats can be truncated bounds
    // rather than values). The index now records `BINARY:STRING` only
    // for byte-exact UTF-8 round-trips, and the fold answers when
    // EVERY surviving file's extreme is short enough to be provably
    // untruncated (< 64 bytes — below any real writer truncation
    // config; graft's writer never truncates). Pinned: the bare
    // MIN/MAX AND a partition-filtered MAX both plan the single-row
    // GraftCountStarScan — zero data pages at any scale. Oracle
    // recomputes relationally.
    Q(
      "s26_sql_string_meta",
      (s, d) => {
        val (root, _) = Scratch.state("ssm", d) { root =>
          val cat = new ParquetCatalog(s, root)
          val cust = Tables.customer(s, d)
            .select("c_custkey", "c_name", "c_mktsegment")
          cat.overwriteVersioned("cust_sm", cust, Seq("c_mktsegment"))
          cat.index("cust_sm", Seq("c_name"))
          "ok"
        }
        val cname = GraftCatalog.register(s, s"gsm${root.takeRight(8)}", root)
        val mm = s.sql(
          s"""SELECT min(c_name) AS min_name, max(c_name) AS max_name
              FROM $cname.cust_sm""")
        val mf = s.sql(
          s"""SELECT max(c_name) AS max_name_b FROM $cname.cust_sm
              WHERE c_mktsegment = 'BUILDING'""")
        val metaAgg =
          if (Seq(mm, mf).forall(_.queryExecution.executedPlan.toString
              .contains("GraftCountStarScan"))) 1L else 0L
        val r = mm.head(); val mb = mf.head().getString(0)
        import s.implicits._
        Seq((r.getString(0), r.getString(1), mb, metaAgg))
          .toDF("min_name", "max_name", "max_name_b", "meta_agg")
      },
      Some("""
        SELECT (SELECT MIN(c_name) FROM customer) AS min_name,
               (SELECT MAX(c_name) FROM customer) AS max_name,
               (SELECT MAX(c_name) FROM customer
                 WHERE c_mktsegment = 'BUILDING') AS max_name_b,
               CAST(1 AS BIGINT) AS meta_agg"""))
  )
}
