package graft.queries

import graft.Tables
import graft.operators.{SqlMerge, Upsert}
import graft.spark.GraftCatalog
import graft.storage.{ParquetCatalog, Scratch}
import org.apache.spark.sql.functions._

/** MERGE/upsert semantics pack — the reference's Delta `MERGE INTO`
  * surface (SURVEY.md §2.2 K2/K3/K4) exercised through
  * [[graft.operators.Upsert]] on testdata-derived target/source slices,
  * with full-outer-join SQL oracles that restate MERGE semantics
  * declaratively.
  */
object MergeQueries {

  val all: Seq[Q] = Seq(
    // ----------------------------------------------------------------
    // K2: classic keyed upsert — UPDATE matched from source, INSERT new,
    // keep unmatched target (github_data_ingestion.py:349-383).
    Q(
      "k2_upsert",
      (s, d) => {
        val o = Tables.orders(s, d)
        val target = o.filter(col("o_orderkey") % 4 =!= 0)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        val source = o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
            (col("o_totalprice") * 1.1).as("o_totalprice"))
        Upsert.merge(target, source, Seq("o_orderkey"))
          .orderBy("o_orderkey")
      },
      Some("""
        WITH t AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderkey % 4 != 0),
        s AS (
          SELECT o_orderkey, 'U' AS o_orderstatus,
                 o_totalprice * 1.1 AS o_totalprice
          FROM orders WHERE o_orderkey % 2 = 0)
        SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
               CASE WHEN s.o_orderkey IS NOT NULL
                    THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
               CASE WHEN s.o_orderkey IS NOT NULL
                    THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice
        FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
        ORDER BY o_orderkey""")),

    // ----------------------------------------------------------------
    // K3: "smart merge" — preserve good classifications (keep target
    // category unless NULL/'Other'), always refresh metrics
    // (bronze_to_silver_transformation.py:899-914).
    Q(
      "k3_smart_merge",
      (s, d) => {
        val o = Tables.orders(s, d)
        val target = o.filter(col("o_orderkey") % 4 =!= 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 3 === 0, "Other")
              .otherwise(col("o_orderpriority")).as("category"),
            col("o_totalprice").as("metric"))
        val source = o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), lit("2-HIGH").as("category"),
            (col("o_totalprice") + 5.0).as("metric"))
        Upsert.merge(target, source, Seq("o_orderkey"),
          smartCases = Map("category" -> Upsert.keepUnlessPlaceholder("Other")))
          .orderBy("o_orderkey")
      },
      Some("""
        WITH t AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 3 = 0 THEN 'Other'
                      ELSE o_orderpriority END AS category,
                 o_totalprice AS metric
          FROM orders WHERE o_orderkey % 4 != 0),
        s AS (
          SELECT o_orderkey, '2-HIGH' AS category,
                 o_totalprice + 5.0 AS metric
          FROM orders WHERE o_orderkey % 2 = 0)
        SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
               CASE
                 WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                   THEN CASE WHEN t.category IS NULL OR t.category = 'Other'
                             THEN s.category ELSE t.category END
                 WHEN t.o_orderkey IS NULL THEN s.category
                 ELSE t.category END AS category,
               CASE WHEN s.o_orderkey IS NOT NULL
                    THEN s.metric ELSE t.metric END AS metric
        FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
        ORDER BY o_orderkey""")),

    // ----------------------------------------------------------------
    // K4: insert-only merge on a composite key — idempotent append, the
    // late/duplicate-data guard (personal_repos_ingestion.py:417-433).
    Q(
      "k4_insert_only",
      (s, d) => {
        val ev = Tables.events(s, d)
        val target = ev.filter(col("event_id") % 3 === 0)
          .select("event_id", "event_type", "value")
        val source = ev.filter(col("event_id") % 2 === 0)
          .select(col("event_id"), col("event_type"),
            (col("value") + 100.0).as("value"))
        Upsert.merge(target, source, Seq("event_id", "event_type"),
          insertOnly = true)
          .orderBy("event_id")
      },
      Some("""
        WITH t AS (
          SELECT event_id, event_type, value
          FROM events WHERE event_id % 3 = 0),
        s AS (
          SELECT event_id, event_type, value + 100.0 AS value
          FROM events WHERE event_id % 2 = 0)
        SELECT event_id, event_type, value FROM t
        UNION ALL
        SELECT event_id, event_type, value FROM s
        WHERE NOT EXISTS (SELECT 1 FROM t
          WHERE t.event_id = s.event_id AND t.event_type = s.event_type)
        ORDER BY event_id""")),

    // ----------------------------------------------------------------
    // A11: merge reconciliation counts (new vs updated vs untouched —
    // github_data_ingestion.py:386-393) as ONE aggregation over the
    // outer join, replacing the reference's repeated count() jobs.
    Q(
      "k5_merge_stats",
      (s, d) => {
        val o = Tables.orders(s, d)
        Upsert.mergeStats(
          o.filter(col("o_orderkey") % 4 =!= 0),
          o.filter(col("o_orderkey") % 2 === 0),
          Seq("o_orderkey"))
      },
      Some("""
        WITH t AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 4 != 0),
        s AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0)
        SELECT COUNT(CASE WHEN t.o_orderkey IS NOT NULL
                          AND s.o_orderkey IS NOT NULL THEN 1 END) AS updated,
               COUNT(CASE WHEN t.o_orderkey IS NULL THEN 1 END) AS inserted,
               COUNT(CASE WHEN s.o_orderkey IS NULL THEN 1 END) AS unchanged
        FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey""")),

    // ----------------------------------------------------------------
    // Incremental rollup maintenance: an aggregate table (history before
    // the cutoff) MERGEd with the new slice's partial aggregates via
    // additive resolution — history is never rescanned. Sums stay in
    // DECIMAL through the merge (exact, associative) and cast to double
    // only at the end, so the oracle can simply be the FULL recompute:
    // incremental maintenance must be indistinguishable from it.
    Q(
      "k6_incremental_rollup",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        def partial(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("l_returnflag", "l_linestatus")
            .agg(count(lit(1)).as("n_rows"),
              sum(col("l_quantity")
                .cast(org.apache.spark.sql.types.DecimalType(28, 6)))
                .as("sum_qty_dec"))
        val history = partial(li.filter(col("l_shipdate") < "1997-01-01"))
        val newDay = partial(li.filter(col("l_shipdate") >= "1997-01-01"))
        Upsert.merge(history, newDay, Seq("l_returnflag", "l_linestatus"),
          smartCases = Map("n_rows" -> Upsert.additive,
            "sum_qty_dec" -> Upsert.additive))
          .select(col("l_returnflag"), col("l_linestatus"), col("n_rows"),
            col("sum_qty_dec").cast("double").as("sum_qty"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ----------------------------------------------------------------
    // K4's literal API shape: k3's smart merge expressed as the MERGE
    // statement TEXT a reference notebook would run
    // (bronze_to_silver_transformation.py:867-920), staged through temp
    // views and executed by operators.SqlMerge — regex skeleton parse,
    // Catalyst-parsed assignment expressions, one full-outer shuffle
    // join. The oracle is k3's: the SQL surface must be
    // indistinguishable from the programmatic operator.
    Q(
      "k7_sql_merge",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderkey") % 4 =!= 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 3 === 0, "Other")
              .otherwise(col("o_orderpriority")).as("category"),
            col("o_totalprice").as("metric"))
          .createOrReplaceTempView("graft_k7_target")
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), lit("2-HIGH").as("category"),
            (col("o_totalprice") + 5.0).as("metric"))
          .createOrReplaceTempView("graft_k7_source")
        SqlMerge.run(s, """
          MERGE INTO graft_k7_target AS target
          USING graft_k7_source AS source
          ON target.o_orderkey = source.o_orderkey
          WHEN MATCHED THEN
            UPDATE SET
              metric = source.metric,
              -- keep a good classification, refresh the metric
              category = CASE
                  WHEN target.category = 'Other' OR target.category IS NULL
                  THEN source.category
                  ELSE target.category
              END
          WHEN NOT MATCHED THEN
            INSERT *""")
          .orderBy("o_orderkey")
      },
      Some("""
        WITH t AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 3 = 0 THEN 'Other'
                      ELSE o_orderpriority END AS category,
                 o_totalprice AS metric
          FROM orders WHERE o_orderkey % 4 != 0),
        s AS (
          SELECT o_orderkey, '2-HIGH' AS category,
                 o_totalprice + 5.0 AS metric
          FROM orders WHERE o_orderkey % 2 = 0)
        SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
               CASE
                 WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                   THEN CASE WHEN t.category IS NULL OR t.category = 'Other'
                             THEN s.category ELSE t.category END
                 WHEN t.o_orderkey IS NULL THEN s.category
                 ELSE t.category END AS category,
               CASE WHEN s.o_orderkey IS NOT NULL
                    THEN s.metric ELSE t.metric END AS metric
        FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
        ORDER BY o_orderkey""")),

    // ----------------------------------------------------------------
    // Schema evolution: the source drops a target column (o_orderstatus)
    // and brings a new one (o_orderpriority) — Delta `overwriteSchema=true` +
    // `MERGE ... INSERT *` drift tolerance
    // (bronze_to_silver_transformation.py:915-941; SURVEY §1.3).
    // Evolved-away columns pass through (null for inserted rows);
    // evolved-in columns carry the source value wherever the source
    // touched the row and null for target-only rows.
    Q(
      "k8_schema_evolution",
      (s, d) => {
        val o = Tables.orders(s, d)
        val target = o.filter(col("o_orderkey") % 4 =!= 0)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        val source = o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"),
            (col("o_totalprice") * 1.1).as("o_totalprice"),
            col("o_orderpriority"))
        Upsert.merge(target, source, Seq("o_orderkey"), evolveSchema = true)
          .orderBy("o_orderkey")
      },
      Some("""
        WITH t AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderkey % 4 != 0),
        s AS (
          SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice,
                 o_orderpriority
          FROM orders WHERE o_orderkey % 2 = 0)
        SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
               t.o_orderstatus AS o_orderstatus,
               CASE WHEN s.o_orderkey IS NOT NULL
                    THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
               s.o_orderpriority AS o_orderpriority
        FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
        ORDER BY o_orderkey""")),

    // ----------------------------------------------------------------
    // SCD Type-2 history build (k9): collapse each user's event-type
    // stream into validity intervals — the classic slowly-changing-
    // dimension shape (valid_from / valid_to / is_current), derived with
    // gaps-and-islands (lag-change flag → running island id → per-island
    // collapse → lead for the closing edge).
    //
    // Scale shape: every window and the aggregation are keyed on
    // user_id, so ONE hash exchange serves the whole chain — the lag
    // window partitions by user_id, the island groupBy's
    // (user_id, island) keys are clustered by that same partitioning,
    // and the closing lead window reuses it again (pinned in PlanSpec:
    // exactly one Exchange). No driver state, no per-user collect.
    Q(
      "k9_scd2",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, d)
          .select("user_id", "ts", "event_id", "event_type")
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val prev = lag("event_type", 1).over(w)
        val marked = ev.withColumn("chg",
          when(prev.isNull || prev =!= col("event_type"), 1).otherwise(0))
        val islands = marked.withColumn("island",
          sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        val runs = islands.groupBy("user_id", "island", "event_type")
          .agg(min("ts").as("valid_from"), count(lit(1)).as("n_events"))
        val wl = Window.partitionBy("user_id").orderBy("valid_from")
        runs
          .withColumn("valid_to", lead("valid_from", 1).over(wl))
          .select(
            col("user_id"), col("event_type"),
            date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("valid_from_str"),
            date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("valid_to_str"),
            when(col("valid_to").isNull, 1).otherwise(0).as("is_current"),
            col("n_events"))
          .orderBy("user_id", "valid_from_str")
      },
      Some("""
        WITH marked AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN LAG(event_type) OVER w IS NULL
                        OR LAG(event_type) OVER w <> event_type
                      THEN 1 ELSE 0 END AS chg
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        islands AS (
          SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS island
          FROM marked),
        runs AS (
          SELECT user_id, island, event_type,
                 MIN(ts) AS valid_from, COUNT(*) AS n_events
          FROM islands GROUP BY 1, 2, 3)
        SELECT user_id, event_type,
               strftime(valid_from, '%Y-%m-%d %H:%M:%S.%f') AS valid_from_str,
               strftime(LEAD(valid_from) OVER wl,
                        '%Y-%m-%d %H:%M:%S.%f') AS valid_to_str,
               CASE WHEN LEAD(valid_from) OVER wl IS NULL
                    THEN 1 ELSE 0 END AS is_current,
               n_events
        FROM runs
        WINDOW wl AS (PARTITION BY user_id ORDER BY valid_from)
        ORDER BY user_id, valid_from_str""")),

    // ----------------------------------------------------------------
    // Snapshot diff (k10): classify every customer key across two table
    // versions (per-customer order rollups over two overlapping date
    // windows) as added / removed / changed / unchanged — the audit that
    // validates an incremental MERGE reproduced a full recompute, and
    // the change-data-capture primitive for version-to-version repair.
    // One full-outer join on the key; totals go through exact decimal
    // sums so "changed" is a deterministic bit-exact comparison, and
    // null-safe equality (<=>) handles one-sided keys.
    Q(
      "k10_snapshot_diff",
      (s, d) => {
        val o = Tables.orders(s, d)
        def snap(f: org.apache.spark.sql.Column) = o.filter(f)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("cnt"),
            graft.functions.Deterministic.dsum(col("o_totalprice")).as("total"))
        val v1 = snap(col("o_orderdate") < "1996-01-01")
          .select(col("o_custkey"), col("cnt").as("cnt_old"),
            col("total").as("total_old"))
        val v2 = snap(col("o_orderdate") >= "1994-01-01")
          .select(col("o_custkey"), col("cnt").as("cnt_new"),
            col("total").as("total_new"))
        v1.join(v2, Seq("o_custkey"), "full_outer")
          .withColumn("status",
            when(col("cnt_old").isNull, "added")
              .when(col("cnt_new").isNull, "removed")
              .when(!(col("cnt_old") <=> col("cnt_new")) ||
                !(col("total_old") <=> col("total_new")), "changed")
              .otherwise("unchanged"))
          .select("o_custkey", "status", "cnt_old", "cnt_new",
            "total_old", "total_new")
          .orderBy("o_custkey")
      },
      Some("""
        WITH v1 AS (
          SELECT o_custkey, COUNT(*) AS cnt_old,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total_old
          FROM orders WHERE o_orderdate < DATE '1996-01-01'
          GROUP BY 1),
        v2 AS (
          SELECT o_custkey, COUNT(*) AS cnt_new,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total_new
          FROM orders WHERE o_orderdate >= DATE '1994-01-01'
          GROUP BY 1)
        SELECT COALESCE(v1.o_custkey, v2.o_custkey) AS o_custkey,
               CASE WHEN v1.o_custkey IS NULL THEN 'added'
                    WHEN v2.o_custkey IS NULL THEN 'removed'
                    WHEN cnt_old IS DISTINCT FROM cnt_new
                      OR total_old IS DISTINCT FROM total_new THEN 'changed'
                    ELSE 'unchanged' END AS status,
               cnt_old, cnt_new, total_old, total_new
        FROM v1 FULL OUTER JOIN v2 ON v1.o_custkey = v2.o_custkey
        ORDER BY o_custkey""")),

    // ----------------------------------------------------------------
    // K11: the SAME diff through the STORAGE time-travel path — two
    // deterministic order slices written as catalog versions
    // (ParquetCatalog.overwriteVersioned, fingerprint-keyed persisted
    // state like d10/s9), then `readVersion(1)` vs the current pointer
    // diffed key-wise. Gates that versioned dirs + the atomic pointer
    // swap round-trip bytes exactly; the oracle recomputes both slices
    // from the source table directly.
    Q(
      "k11_time_travel_diff",
      (s, d) => {
        // `ttm`: the manifest-versioned layout (round 10) — a fresh
        // scratch root so stale symlink-era state can never be read
        val (root, _) = Scratch.state("ttm", d) { root =>
          val cat = new ParquetCatalog(s, root)
          val o = Tables.orders(s, d)
          cat.overwriteVersioned("orders_v",
            o.filter(col("o_orderkey") % 3 =!= 0)
              .select("o_orderkey", "o_custkey", "o_totalprice"))
          cat.overwriteVersioned("orders_v",
            o.filter(col("o_orderkey") % 2 =!= 0)
              .select("o_orderkey", "o_custkey", "o_totalprice"))
          "ok"
        }
        val cat = new ParquetCatalog(s, root)
        val old = cat.readVersion("orders_v", 1)
          .select(col("o_orderkey"), col("o_totalprice").as("price_old"))
        val cur = cat.read("orders_v")
          .select(col("o_orderkey"), col("o_totalprice").as("price_new"))
        old.join(cur, Seq("o_orderkey"), "full_outer")
          .withColumn("status",
            when(col("price_old").isNull, "added")
              .when(col("price_new").isNull, "removed")
              .otherwise("kept"))
          .groupBy("status")
          .agg(count(lit(1)).as("n"),
            graft.functions.Deterministic
              .dsum(coalesce(col("price_new"), col("price_old"))).as("total"))
          .orderBy("status")
      },
      Some("""
        WITH v1 AS (
          SELECT o_orderkey, o_totalprice AS price_old FROM orders
          WHERE o_orderkey % 3 <> 0),
        v2 AS (
          SELECT o_orderkey, o_totalprice AS price_new FROM orders
          WHERE o_orderkey % 2 <> 0),
        j AS (
          SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS k,
                 price_old, price_new,
                 CASE WHEN price_old IS NULL THEN 'added'
                      WHEN price_new IS NULL THEN 'removed'
                      ELSE 'kept' END AS status
          FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
        SELECT status, COUNT(*) AS n,
               CAST(SUM(CAST(COALESCE(price_new, price_old)
                 AS DECIMAL(28,6))) AS DOUBLE) AS total
        FROM j GROUP BY status
        ORDER BY status""")),

    // ----------------------------------------------------------------
    // K12: change data feed from a MERGE (Delta CDF parity) — per-row
    // `insert` / `update_preimage` / `update_postimage` records from
    // ONE full-outer join + a narrow 0–2-row explode per key; unchanged
    // keys emit nothing. The downstream-sync primitive: a consumer
    // replays the feed instead of re-scanning the table.
    Q(
      "k12_change_feed",
      (s, d) => {
        val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        val target = o
        val source = o.filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"))
          .unionByName(
            o.filter(col("o_orderkey") % 7 === 3)
              .select((col("o_orderkey") + 1000000).as("o_orderkey"),
                col("o_totalprice")))
        graft.operators.Upsert.changeFeed(target, source, Seq("o_orderkey"))
          .orderBy("o_orderkey", "_change_type")
      },
      Some("""
        WITH t AS (SELECT o_orderkey, o_totalprice FROM orders),
        s AS (
          SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
          FROM orders WHERE o_orderkey % 5 = 0
          UNION ALL
          SELECT o_orderkey + 1000000, o_totalprice
          FROM orders WHERE o_orderkey % 7 = 3),
        j AS (
          SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS k,
                 t.o_totalprice AS tp, s.o_totalprice AS sp,
                 t.o_orderkey IS NULL AS ins,
                 t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                   AND t.o_totalprice IS DISTINCT FROM s.o_totalprice AS upd
          FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey)
        SELECT k AS o_orderkey, _change_type, p AS o_totalprice FROM (
          SELECT k, 'insert' AS _change_type, sp AS p FROM j WHERE ins
          UNION ALL
          SELECT k, 'update_preimage', tp FROM j WHERE upd
          UNION ALL
          SELECT k, 'update_postimage', sp FROM j WHERE upd)
        ORDER BY o_orderkey, _change_type""")),

    // ----------------------------------------------------------------
    // K13: row-level DELETE WHERE through the catalog — the remaining
    // DML verb (insert/append, upsert/MERGE, overwrite, and now
    // delete). Fingerprint-keyed state: the table is materialized and
    // deleted from ONCE; the measured query reads the post-delete
    // survivors and aggregates them. Oracle recomputes the surviving
    // set from the source with the inverse predicate — the rewrite
    // must drop exactly the matched rows, nothing else.
    Q(
      "k13_delete_where",
      (s, d) => {
        val (root, _) = Scratch.state("del", d) { root =>
          val cat = new ParquetCatalog(s, root)
          cat.overwriteVersioned("orders_d",
            Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice"))
          cat.deleteVersioned("orders_d",
            col("o_orderstatus") === "F" && col("o_totalprice") < 50000)
          "ok"
        }
        val cat = new ParquetCatalog(s, root)
        cat.read("orders_d")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
            graft.functions.Deterministic.dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
      },
      Some("""
        SELECT o_orderstatus, COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
        FROM orders
        WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)
        GROUP BY 1 ORDER BY o_orderstatus""")),

    // ----------------------------------------------------------------
    // K14: PARTITION-SCOPED MERGE — the 100 TB write path. The target
    // is partitioned by o_orderstatus; the delta (updates + inserts)
    // touches ONLY the 'F' partition, and the catalog's partition-scoped
    // upsert must rewrite only that partition. The gate proves BOTH
    // halves: (a) result parity with a semantic full merge (the grouped
    // oracle recompute), and (b) the untouched partitions' files are
    // bit-untouched — `untouched_files_changed` counts (path,size,mtime)
    // fingerprint diffs outside 'F' across the upsert, and the oracle
    // pins it to 0; the files are the manifest's, before and after the
    // merge. Delta-MERGE file-level-rewrite parity
    // (bronze_to_silver_transformation.py:867-920) without rewriting
    // the table.
    Q(
      "k14_partition_scoped_merge",
      (s, d) => {
        val (root, marked) = Scratch.state("psm", d) { root =>
          val cat = new ParquetCatalog(s, root)
          val o = Tables.orders(s, d)
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
          cat.overwriteVersioned("orders_p", o, Seq("o_orderstatus"))
          val before = partitionFingerprints(root, cat, "orders_p")
          val delta = o
            .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 3 === 0)
            .select(col("o_orderkey"),
              (col("o_totalprice") + 1000).as("o_totalprice"),
              col("o_orderstatus"))
            .unionByName(o
              .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 1)
              .select((col("o_orderkey") + 2000000).as("o_orderkey"),
                col("o_totalprice"), col("o_orderstatus")))
          cat.upsertVersioned("orders_p", delta, Seq("o_orderkey"),
            partitionBy = Seq("o_orderstatus"))
          val after = partitionFingerprints(root, cat, "orders_p")
          val changed = before.collect {
            case (p, fs) if p != "o_orderstatus=F" =>
              val now = after.getOrElse(p, Set.empty[(String, Long, Long)])
              (fs diff now).size + (now diff fs).size
          }.sum
          changed.toString
        }
        val cat = new ParquetCatalog(s, root)
        val changed = marked.toLong
        cat.read("orders_p")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
            graft.functions.Deterministic.dsum(col("o_totalprice")).as("total"))
          .withColumn("untouched_files_changed", lit(changed))
          .orderBy("o_orderstatus")
      },
      Some("""
        WITH t AS (
          SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        s AS (
          SELECT o_orderkey, o_totalprice + 1000 AS o_totalprice, o_orderstatus
          FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 3 = 0
          UNION ALL
          SELECT o_orderkey + 2000000, o_totalprice, o_orderstatus
          FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 1),
        m AS (
          SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
                 CASE WHEN s.o_orderkey IS NOT NULL
                      THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
                 CASE WHEN s.o_orderkey IS NOT NULL
                      THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus
          FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey)
        SELECT o_orderstatus, COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
               CAST(0 AS BIGINT) AS untouched_files_changed
        FROM m GROUP BY 1 ORDER BY o_orderstatus""")),

    // ----------------------------------------------------------------
    // K15: VERSIONED MERGE + CDF BETWEEN VERSIONS (Delta `table_changes`
    // parity). The upsert lands as version 2 with version 1 retained;
    // untouched partitions are RE-REFERENCED by version 2's manifest
    // (zero bytes copied, zero links — the snapshot-manifest sharing
    // Delta/Iceberg use, portable to object storage), and
    // `unshared_untouched` counts v2 manifest entries outside 'F' that
    // are NOT verbatim v1 entries, plus v1 entries outside 'F' whose
    // physical bytes changed across the commit (oracle pins 0). The
    // measured output is the change feed computed FROM THE TWO VERSIONS
    // — readVersion(1) vs readVersion(2) must replay exactly the delta
    // the merge applied, which the oracle derives from the source table
    // directly.
    Q(
      "k15_versioned_merge_cdf",
      (s, d) => {
        import java.nio.file.{Files, Paths}
        // `vmm`: manifest-versioned layout (round 10) — fresh scratch root
        val (root, marked) = Scratch.state("vmm", d) { root =>
          val cat = new ParquetCatalog(s, root)
          val o = Tables.orders(s, d)
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
          cat.overwriteVersioned("orders_vm", o, Seq("o_orderstatus"))
          val vd = Paths.get(root, ".versions", "orders_vm")
          def fp(rel: String): (Long, Long) = {
            val p = vd.resolve(rel)
            (Files.size(p), Files.getLastModifiedTime(p).toMillis)
          }
          def partOf(f: String) =
            graft.storage.TableManifest.partitionComponent(f)
          val v1Files = cat.manifestFiles("orders_vm", 1)
          val before = v1Files.map(f => f -> fp(f)).toMap
          val delta = o
            .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 5 === 0)
            .select(col("o_orderkey"),
              (col("o_totalprice") * 2).as("o_totalprice"),
              col("o_orderstatus"))
            .unionByName(o
              .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 2)
              .select((col("o_orderkey") + 3000000).as("o_orderkey"),
                col("o_totalprice"), col("o_orderstatus")))
          cat.upsertVersioned("orders_vm", delta, Seq("o_orderkey"),
            partitionBy = Seq("o_orderstatus"))
          val v1Set = v1Files.toSet
          val unshared =
            cat.manifestFiles("orders_vm", 2).count(f =>
              partOf(f) != "o_orderstatus=F" && !v1Set.contains(f)) +
            v1Files.count(f =>
              partOf(f) != "o_orderstatus=F" && fp(f) != before(f))
          unshared.toString
        }
        val cat = new ParquetCatalog(s, root)
        val unshared = marked.toLong
        val cols = Seq("o_orderkey", "o_totalprice", "o_orderstatus")
        graft.operators.Upsert.changeFeed(
            cat.readVersion("orders_vm", 1).select(cols.map(col): _*),
            cat.readVersion("orders_vm", 2).select(cols.map(col): _*),
            Seq("o_orderkey"))
          .withColumn("unshared_untouched", lit(unshared))
          .orderBy("o_orderkey", "_change_type")
      },
      Some("""
        WITH t AS (
          SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        s AS (
          SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, o_orderstatus
          FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 5 = 0
          UNION ALL
          SELECT o_orderkey + 3000000, o_totalprice, o_orderstatus
          FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 2),
        j AS (
          SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS k,
                 t.o_totalprice AS tp, s.o_totalprice AS sp,
                 t.o_orderstatus AS tst, s.o_orderstatus AS sst,
                 t.o_orderkey IS NULL AS ins,
                 t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                   AND (t.o_totalprice IS DISTINCT FROM s.o_totalprice
                     OR t.o_orderstatus IS DISTINCT FROM s.o_orderstatus) AS upd
          FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey)
        SELECT k AS o_orderkey, _change_type, p AS o_totalprice,
               st AS o_orderstatus, CAST(0 AS BIGINT) AS unshared_untouched
        FROM (
          SELECT k, 'insert' AS _change_type, sp AS p, sst AS st FROM j WHERE ins
          UNION ALL
          SELECT k, 'update_preimage', tp, tst FROM j WHERE upd
          UNION ALL
          SELECT k, 'update_postimage', sp, sst FROM j WHERE upd)
        ORDER BY o_orderkey, _change_type"""))
  ) ++ Seq(k16, k17, k18, k19, k20, k21, k22, k23, k24, k25, k26, k27, k28,
    k29, k30, k31, k32, k33, k34, k35, k36, k37, k38, k39, k40)

  /** Build-once CDF source table (k23/k24): v1 full overwrite → v2
    * pure append (+4M keys, partition O) → v3 partition-scoped merge
    * (F updates ×2 + F inserts +3M) → v4 partition-scoped delete
    * (P rows, key % 13 == 3) on `orders_cdf`, layout o_orderstatus. */
  private def cdfState(s: org.apache.spark.sql.SparkSession,
      d: String): graft.storage.ParquetCatalog = {
    val (root, _) = Scratch.state("cdf", d) { root =>
      val cat = new ParquetCatalog(s, root)
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      cat.overwriteVersioned("orders_cdf", o, Seq("o_orderstatus"))
      cat.appendVersioned("orders_cdf",
        o.filter(col("o_orderstatus") === "O" && col("o_orderkey") % 11 === 1)
          .select((col("o_orderkey") + 4000000).as("o_orderkey"),
            col("o_totalprice"), col("o_orderstatus")),
        Seq("o_orderstatus"))
      val v3src = o
        .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
          col("o_orderstatus"))
        .unionByName(o
          .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 2)
          .select((col("o_orderkey") + 3000000).as("o_orderkey"),
            col("o_totalprice"), col("o_orderstatus")))
      cat.upsertVersioned("orders_cdf", v3src, Seq("o_orderkey"),
        partitionBy = Seq("o_orderstatus"))
      cat.deleteVersioned("orders_cdf",
        col("o_orderstatus") === "P" && col("o_orderkey") % 13 === 3)
      "ok"
    }
    val cat = new ParquetCatalog(s, root)
    cat
  }

  /** Per-commit change feed (k23, Delta `table_changes` parity WITH
    * delete images and `_commit_version` attribution). The window is
    * (1, 4] — an append, a partition-scoped merge, a partition-scoped
    * delete — and the oracle enumerates every expected change row from
    * the source table directly. `stray_files_read` pins the O(delta)
    * claim: the feed's plan may open ONLY files the consecutive
    * manifests disagree on (carried files cannot contain changes);
    * the oracle pins 0. */
  private lazy val k23 = Q(
    "k23_table_changes",
    (s, d) => {
      val cat = cdfState(s, d)
      val legit = (2L to 4L).flatMap { v =>
        val a = cat.manifestFiles("orders_cdf", v - 1).toSet
        val b = cat.manifestFiles("orders_cdf", v).toSet
        ((a -- b) ++ (b -- a)).toSeq
      }.toSet
      val feed = cat.tableChanges("orders_cdf", 1, 4, Seq("o_orderkey"))
      val stray = feed.inputFiles
        .count(f => !legit.exists(l => f.endsWith(l)))
      feed.withColumn("stray_files_read", lit(stray.toLong))
        .orderBy("_commit_version", "o_orderkey", "_change_type")
    },
    Some("""
      WITH appended AS (
        SELECT o_orderkey + 4000000 AS o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 11 = 1),
      upd AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        WHERE o_orderstatus = 'F' AND o_orderkey % 5 = 0),
      ins3 AS (
        SELECT o_orderkey + 3000000 AS o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 2),
      del AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        WHERE o_orderstatus = 'P' AND o_orderkey % 13 = 3)
      SELECT o_orderkey, _change_type, o_totalprice, o_orderstatus,
             _commit_version, CAST(0 AS BIGINT) AS stray_files_read
      FROM (
        SELECT o_orderkey, 'insert' AS _change_type, o_totalprice,
               o_orderstatus, CAST(2 AS BIGINT) AS _commit_version
        FROM appended
        UNION ALL
        SELECT o_orderkey, 'update_preimage', o_totalprice, o_orderstatus, 3
        FROM upd
        UNION ALL
        SELECT o_orderkey, 'update_postimage', o_totalprice * 2,
               o_orderstatus, 3
        FROM upd
        UNION ALL
        SELECT o_orderkey, 'insert', o_totalprice, o_orderstatus, 3 FROM ins3
        UNION ALL
        SELECT o_orderkey, 'delete', o_totalprice, o_orderstatus, 4 FROM del)
      ORDER BY _commit_version, o_orderkey, _change_type"""))

  /** Exactly-once incremental replica sync (k24): `orders_replica` is
    * maintained from `orders_cdf`'s per-commit change feeds — each src
    * commit applied as ONE token-carrying `sync` commit, resumed from
    * the replica's txn high-water. The query itself re-runs the sync
    * every time: a caught-up replica applies 0 commits
    * (`replay_applied` pins it), the high-water reads 4, and the
    * replica's content must equal the src state the oracle recomputes
    * from the base table — append, merge, and delete all replayed
    * through the feed, never by re-scanning the source. */
  private lazy val k24 = Q(
    "k24_incremental_sync",
    (s, d) => {
      val cat = cdfState(s, d)
      cat.syncIncremental("orders_cdf", "orders_replica", Seq("o_orderkey"))
      val replay =
        cat.syncIncremental("orders_cdf", "orders_replica", Seq("o_orderkey"))
      val hw = cat.sinkHighWater("orders_replica",
        "cdf:orders_cdf->orders_replica").getOrElse(-1L)
      cat.read("orders_replica")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Deterministic.dsum(col("o_totalprice")).as("total"))
        .withColumn("high_water", lit(hw))
        .withColumn("replay_applied", lit(replay.toLong))
        .orderBy("o_orderstatus")
    },
    Some("""
      WITH base AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
      appended AS (
        SELECT o_orderkey + 4000000 AS o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 11 = 1),
      upd AS (
        SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, o_orderstatus
        FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 5 = 0),
      ins3 AS (
        SELECT o_orderkey + 3000000 AS o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 2),
      state2 AS (
        SELECT * FROM base UNION ALL SELECT * FROM appended),
      state3 AS (
        SELECT s.o_orderkey,
               COALESCE(u.o_totalprice, s.o_totalprice) AS o_totalprice,
               s.o_orderstatus
        FROM state2 s LEFT JOIN upd u ON s.o_orderkey = u.o_orderkey
        UNION ALL
        SELECT * FROM ins3),
      state4 AS (
        SELECT * FROM state3
        WHERE NOT (o_orderstatus = 'P' AND o_orderkey % 13 = 3))
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
             CAST(4 AS BIGINT) AS high_water,
             CAST(0 AS BIGINT) AS replay_applied
      FROM state4 GROUP BY 1 ORDER BY o_orderstatus"""))

  /** `TIMESTAMP AS OF` time travel (k25): a three-version chain —
    * v1 full overwrite, v2 append (+5M keys, key % 9 == 4), v3 delete
    * (key % 17 == 2) — read back BY WALL-CLOCK. Commit stamps are
    * strictly monotonic per table (`stampTs`), so the pins are exact
    * integers: resolving v2's own stamp lands on 2, one millisecond
    * earlier lands on 1, v3's stamp lands on 3 — and `readAsOf(ts(v2))`
    * must equal `readVersion(2)` row for row (`asof_mismatch = 0`,
    * checked by symmetric anti-joins). Resolution is metadata-only
    * (O(versions) manifest parses); the measured content is the
    * as-of-v2 state the oracle recomputes from the base table. */
  private lazy val k25 = Q(
    "k25_time_as_of",
    (s, d) => {
      val (root, _) = Scratch.state("tas", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        cat.overwriteVersioned("orders_tt", o, Seq("o_orderstatus"))
        cat.appendVersioned("orders_tt",
          o.filter(col("o_orderkey") % 9 === 4)
            .select((col("o_orderkey") + 5000000).as("o_orderkey"),
              col("o_totalprice"), col("o_orderstatus")),
          Seq("o_orderstatus"))
        cat.deleteVersioned("orders_tt", col("o_orderkey") % 17 === 2)
        "ok"
      }
      val cat = new ParquetCatalog(s, root)
      val t2 = cat.commitTimestamp("orders_tt", 2).get
      val t3 = cat.commitTimestamp("orders_tt", 3).get
      val asOf = cat.readAsOf("orders_tt", t2)
      val v2 = cat.readVersion("orders_tt", 2)
      val mismatch = Pins.symmetricDiffCount(asOf, v2)
      asOf.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Deterministic.dsum(col("o_totalprice")).as("total"))
        .withColumn("v_at_t2", lit(cat.versionAsOf("orders_tt", t2)))
        .withColumn("v_before_t2", lit(cat.versionAsOf("orders_tt", t2 - 1)))
        .withColumn("v_at_t3", lit(cat.versionAsOf("orders_tt", t3)))
        .withColumn("asof_mismatch", lit(mismatch))
        .orderBy("o_orderstatus")
    },
    Some("""
      WITH state2 AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        UNION ALL
        SELECT o_orderkey + 5000000, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 9 = 4)
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
             CAST(2 AS BIGINT) AS v_at_t2,
             CAST(1 AS BIGINT) AS v_before_t2,
             CAST(3 AS BIGINT) AS v_at_t3,
             CAST(0 AS BIGINT) AS asof_mismatch
      FROM state2 GROUP BY 1 ORDER BY o_orderstatus"""))

  /** CHECK constraints (k26, Delta `ADD CONSTRAINT` parity). Build-once:
    * v1 overwrite, v2 `setConstraint o_totalprice > 0` (validated
    * against every existing row first), v3 valid append (+6M keys,
    * key % 21 == 5). EVERY RUN then re-attempts two violations live —
    * an append carrying a negated-price row (the in-pass raise_error
    * guard kills the write job; nothing commits) and an
    * `addConstraint` the existing data violates (refused before any
    * commit) — so the pins (`bad_append_rejected`, `bad_constraint_
    * rejected`, `n_versions` stuck at 3, `n_constraints` = 1) prove
    * enforcement is active, not a memory of the build. */
  private lazy val k26 = Q(
    "k26_check_constraints",
    (s, d) => {
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val (root, _) = Scratch.state("cst", d) { root =>
        val cat = new ParquetCatalog(s, root)
        cat.overwriteVersioned("orders_chk", o, Seq("o_orderstatus"))
        cat.addConstraint("orders_chk", "totalprice_pos", "o_totalprice > 0")
        cat.appendVersioned("orders_chk",
          o.filter(col("o_orderkey") % 21 === 5)
            .select((col("o_orderkey") + 6000000).as("o_orderkey"),
              col("o_totalprice"), col("o_orderstatus")),
          Seq("o_orderstatus"))
        "ok"
      }
      val cat = new ParquetCatalog(s, root)
      val badAppend =
        try {
          cat.appendVersioned("orders_chk",
            o.filter(col("o_orderkey") % 21 === 6).limit(100)
              .select((col("o_orderkey") + 7000000).as("o_orderkey"),
                (-col("o_totalprice")).as("o_totalprice"),
                col("o_orderstatus")),
            Seq("o_orderstatus"))
          0L
        } catch { case e: Exception =>
          if (Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
            .exists(t => Option(t.getMessage).exists(_.contains("totalprice_pos"))))
            1L else -1L
        }
      val badConstraint =
        try { cat.addConstraint("orders_chk", "key_neg", "o_orderkey < 0"); 0L }
        catch { case _: IllegalStateException => 1L }
      cat.read("orders_chk")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Deterministic.dsum(col("o_totalprice")).as("total"))
        .withColumn("n_constraints", lit(cat.constraints("orders_chk").size.toLong))
        .withColumn("n_versions", lit(cat.currentVersion("orders_chk")))
        .withColumn("bad_append_rejected", lit(badAppend))
        .withColumn("bad_constraint_rejected", lit(badConstraint))
        .orderBy("o_orderstatus")
    },
    Some("""
      WITH state3 AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        UNION ALL
        SELECT o_orderkey + 6000000, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 21 = 5)
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
             CAST(1 AS BIGINT) AS n_constraints,
             CAST(3 AS BIGINT) AS n_versions,
             CAST(1 AS BIGINT) AS bad_append_rejected,
             CAST(1 AS BIGINT) AS bad_constraint_rejected
      FROM state3 GROUP BY 1 ORDER BY o_orderstatus"""))

  /** Zero-copy clone (k27, Delta `SHALLOW CLONE` parity but
    * vacuum-independent). Build-once: src = v1 overwrite + v2 append
    * (+8M keys, key % 23 == 7); clone taken at v2; the CLONE then
    * diverges (+9M keys, key % 31 == 3) and the SOURCE vacuums to
    * keep=1 — the clone's hard links must keep every shared byte
    * alive. Pins: `files_copied = 0` (every clone file shares its
    * source counterpart's inode — zero bytes moved at clone time),
    * `src_rows` recomputed live proving the clone's divergence never
    * leaked back, and the measured content is the diverged clone the
    * oracle recomputes from the base table. */
  private lazy val k27 = Q(
    "k27_clone",
    (s, d) => {
      import java.nio.file.{Files, Paths}
      val (root, _) = Scratch.state("cln", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        cat.overwriteVersioned("orders_base", o, Seq("o_orderstatus"))
        cat.appendVersioned("orders_base",
          o.filter(col("o_orderkey") % 23 === 7)
            .select((col("o_orderkey") + 8000000).as("o_orderkey"),
              col("o_totalprice"), col("o_orderstatus")),
          Seq("o_orderstatus"))
        cat.cloneTable("orders_base", "orders_clone", Some(2L))
        cat.appendVersioned("orders_clone",
          o.filter(col("o_orderkey") % 31 === 3)
            .select((col("o_orderkey") + 9000000).as("o_orderkey"),
              col("o_totalprice"), col("o_orderstatus")),
          Seq("o_orderstatus"))
        cat.vacuum("orders_base", keep = 1, minAgeMs = 0L)
        "ok"
      }
      val cat = new ParquetCatalog(s, root)
      def ino(p: java.nio.file.Path): Long =
        Files.getAttribute(p, "unix:ino").asInstanceOf[Long]
      val copied = cat.manifestFiles("orders_clone", 1).count { rel =>
        val a = Paths.get(root, ".versions", "orders_base", rel)
        val b = Paths.get(root, ".versions", "orders_clone", rel)
        !Files.exists(a) || ino(a) != ino(b)
      }
      val srcRows = cat.read("orders_base").count()
      cat.read("orders_clone")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Deterministic.dsum(col("o_totalprice")).as("total"))
        .withColumn("src_rows", lit(srcRows))
        .withColumn("files_copied", lit(copied.toLong))
        .orderBy("o_orderstatus")
    },
    Some("""
      WITH clone_state AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        UNION ALL
        SELECT o_orderkey + 8000000, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 23 = 7
        UNION ALL
        SELECT o_orderkey + 9000000, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 31 = 3)
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
             CAST((SELECT COUNT(*) +
                     SUM(CASE WHEN o_orderkey % 23 = 7 THEN 1 ELSE 0 END)
                   FROM orders) AS BIGINT) AS src_rows,
             CAST(0 AS BIGINT) AS files_copied
      FROM clone_state GROUP BY 1 ORDER BY o_orderstatus"""))

  /** The table AS a streaming source (k28): version-number offsets over
    * the manifest chain ([[graft.streaming.TableSource]]). Build-once:
    * v1 overwrite + two appends (+10M keys %27==11, +11M keys %29==13).
    * Every run drives a REAL Structured Streaming query — readStream →
    * parquet file sink, Trigger.AvailableNow, fresh checkpoint — then
    * restarts it from the SAME checkpoint: the caught-up restart must
    * deliver zero new rows (`replay_rows = 0`, the exactly-once pin).
    * The measured content is the streamed sink read back and
    * aggregated; the oracle recomputes the three versions' union from
    * the base table. */
  private lazy val k28 = Q(
    "k28_table_stream",
    (s, d) => {
      import java.nio.file.Files
      import org.apache.spark.sql.streaming.Trigger
      val (root, _) = Scratch.state("tst", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        cat.overwriteVersioned("orders_stream", o, Seq("o_orderstatus"))
        cat.appendVersioned("orders_stream",
          o.filter(col("o_orderkey") % 27 === 11)
            .select((col("o_orderkey") + 10000000).as("o_orderkey"),
              col("o_totalprice"), col("o_orderstatus")),
          Seq("o_orderstatus"))
        cat.appendVersioned("orders_stream",
          o.filter(col("o_orderkey") % 29 === 13)
            .select((col("o_orderkey") + 11000000).as("o_orderkey"),
              col("o_totalprice"), col("o_orderstatus")),
          Seq("o_orderstatus"))
        "ok"
      }
      val cat = new ParquetCatalog(s, root)
      val work = Files.createTempDirectory("graft_tst_run")
      val ckpt = s"$work/ckpt"
      val out = s"$work/out"
      def drain(): Unit = {
        val q = cat.readStream("orders_stream").writeStream
          .format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain()
      val first = graft.storage.FooterSchema.parquet(s, out).count()
      drain() // caught-up restart from the same checkpoint
      // ONE read after the restart serves both the replay count and the
      // measured aggregate — the listing reflects post-restart state,
      // so a replay that DID write rows would still be counted
      val outDf = graft.storage.FooterSchema.parquet(s, out)
      val second = outDf.count()
      outDf
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Deterministic.dsum(col("o_totalprice")).as("total"))
        .withColumn("replay_rows", lit(second - first))
        .orderBy("o_orderstatus")
    },
    Some("""
      WITH streamed AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        UNION ALL
        SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 27 = 11
        UNION ALL
        SELECT o_orderkey + 11000000, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 29 = 13)
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
             CAST(0 AS BIGINT) AS replay_rows
      FROM streamed GROUP BY 1 ORDER BY o_orderstatus"""))

  /** STREAMING change feed (k29, Delta `readChangeFeed` streaming
    * parity): the k23 source table's full change history — overwrite,
    * append, partition-scoped merge, partition-scoped delete —
    * consumed as a REAL Structured Streaming query (version-number
    * offsets, Trigger.AvailableNow, fresh checkpoint per run), then
    * restarted from the same checkpoint: the caught-up restart must
    * deliver zero change rows (`replay_rows = 0`). Measured content:
    * counts + price mass per (commit, change type) — including v1's
    * inserts, which the batch k23 window (1, 4] excludes. */
  private lazy val k29 = Q(
    "k29_stream_cdf",
    (s, d) => {
      import java.nio.file.Files
      import org.apache.spark.sql.streaming.Trigger
      val cat = cdfState(s, d)
      val work = Files.createTempDirectory("graft_scf_run")
      val ckpt = s"$work/ckpt"
      val out = s"$work/out"
      def drain(): Unit = {
        val q = cat.readChangeStream("orders_cdf", Seq("o_orderkey"))
          .writeStream
          .format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain()
      val first = graft.storage.FooterSchema.parquet(s, out).count()
      drain() // caught-up restart
      // one post-restart read serves both replay count and aggregate (k28)
      val outDf = graft.storage.FooterSchema.parquet(s, out)
      val second = outDf.count()
      outDf
        .groupBy("_commit_version", "_change_type")
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Deterministic.dsum(col("o_totalprice")).as("total"))
        .withColumn("replay_rows", lit(second - first))
        .orderBy("_commit_version", "_change_type")
    },
    Some("""
      WITH appended AS (
        SELECT o_orderkey + 4000000 AS o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 11 = 1),
      upd AS (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderstatus = 'F' AND o_orderkey % 5 = 0),
      ins3 AS (
        SELECT o_orderkey + 3000000 AS o_orderkey, o_totalprice FROM orders
        WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 2),
      del AS (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderstatus = 'P' AND o_orderkey % 13 = 3),
      feed AS (
        SELECT CAST(1 AS BIGINT) AS _commit_version, 'insert' AS _change_type,
               o_totalprice FROM orders
        UNION ALL
        SELECT 2, 'insert', o_totalprice FROM appended
        UNION ALL
        SELECT 3, 'update_preimage', o_totalprice FROM upd
        UNION ALL
        SELECT 3, 'update_postimage', o_totalprice * 2 FROM upd
        UNION ALL
        SELECT 3, 'insert', o_totalprice FROM ins3
        UNION ALL
        SELECT 4, 'delete', o_totalprice FROM del)
      SELECT _commit_version, _change_type, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
             CAST(0 AS BIGINT) AS replay_rows
      FROM feed GROUP BY 1, 2 ORDER BY _commit_version, _change_type"""))

  /** Incrementally-maintained materialized aggregate (k30). Build-once:
    * src `orders_mv` = v1 overwrite → MV BOOTSTRAPPED at v1 → v2 append
    * (+4M keys, status O, key % 11 == 1) → v3 merge (F: % 5 == 0 price
    * doubled, % 7 == 2 inserted +3M) → v4 delete (P, % 13 == 3) → MV
    * refreshed INCREMENTALLY over the (1, 4] feed — signed deltas, one
    * group shuffle, no source re-scan, decimal-exact state. Every run
    * re-refreshes (caught-up: commits nothing — `mv_version` pins 2 =
    * bootstrap + one incremental commit) and recomputes the aggregate
    * from the live source (`mv_mismatch = 0` pins bit-equality). The
    * measured content is the view itself; the oracle replays the state
    * chain from the base table. */
  private lazy val k30 = Q(
    "k30_incremental_mv",
    (s, d) => {
      val (root, _) = Scratch.state("imv", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        cat.overwriteVersioned("orders_mv", o, Seq("o_orderstatus"))
        cat.refreshMaterialized("orders_mv", "mv_by_status",
          Seq("o_orderkey"), Seq("o_orderstatus"), Seq("o_totalprice"))
        cat.appendVersioned("orders_mv",
          o.filter(col("o_orderstatus") === "O" && col("o_orderkey") % 11 === 1)
            .select((col("o_orderkey") + 4000000).as("o_orderkey"),
              col("o_totalprice"), col("o_orderstatus")),
          Seq("o_orderstatus"))
        val v3src = o
          .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
            col("o_orderstatus"))
          .unionByName(o
            .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 2)
            .select((col("o_orderkey") + 3000000).as("o_orderkey"),
              col("o_totalprice"), col("o_orderstatus")))
        cat.upsertVersioned("orders_mv", v3src, Seq("o_orderkey"),
          partitionBy = Seq("o_orderstatus"))
        cat.deleteVersioned("orders_mv",
          col("o_orderstatus") === "P" && col("o_orderkey") % 13 === 3)
        cat.refreshMaterialized("orders_mv", "mv_by_status",
          Seq("o_orderkey"), Seq("o_orderstatus"), Seq("o_totalprice"))
        "ok"
      }
      val cat = new ParquetCatalog(s, root)
      // live proof, every run: caught-up refresh commits nothing...
      val mvv = cat.refreshMaterialized("orders_mv", "mv_by_status",
        Seq("o_orderkey"), Seq("o_orderstatus"), Seq("o_totalprice"))
      // ...and the incremental state equals a fresh source aggregate
      val recomputed = cat.read("orders_mv").groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(28,6)")).as("sum_o_totalprice"))
      val mv = cat.read("mv_by_status")
      val mismatch = Pins.symmetricDiffCount(mv, recomputed)
      mv.select(col("o_orderstatus"), col("n_rows"),
          col("sum_o_totalprice").cast("double").as("total"))
        .withColumn("mv_version", lit(mvv))
        .withColumn("mv_mismatch", lit(mismatch))
        .orderBy("o_orderstatus")
    },
    Some("""
      WITH base AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
      appended AS (
        SELECT o_orderkey + 4000000 AS o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 11 = 1),
      upd AS (
        SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, o_orderstatus
        FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 5 = 0),
      ins3 AS (
        SELECT o_orderkey + 3000000 AS o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 2),
      state2 AS (
        SELECT * FROM base UNION ALL SELECT * FROM appended),
      state3 AS (
        SELECT s.o_orderkey,
               COALESCE(u.o_totalprice, s.o_totalprice) AS o_totalprice,
               s.o_orderstatus
        FROM state2 s LEFT JOIN upd u ON s.o_orderkey = u.o_orderkey
        UNION ALL
        SELECT * FROM ins3),
      state4 AS (
        SELECT * FROM state3
        WHERE NOT (o_orderstatus = 'P' AND o_orderkey % 13 = 3))
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
             CAST(2 AS BIGINT) AS mv_version,
             CAST(0 AS BIGINT) AS mv_mismatch
      FROM state4 GROUP BY 1 ORDER BY o_orderstatus"""))

  /** SQL TEXT surface for the Delta-parity verbs (k31): the reference's
    * workflows are literal SQL strings (`bronze_to_silver_
    * transformation.py:870-920` runs MERGE text through `spark.sql`),
    * so time travel / history / restore must be reachable from
    * statement text too ([[graft.storage.CatalogSql]]). Build-once:
    * v1 full overwrite → v2 append (+8M keys, key % 19 == 7) → v3
    * delete (key % 23 == 11) → v4 = literal `RESTORE TABLE ... TO
    * VERSION AS OF 2` text. The measured output is the literal
    * `SELECT ... FROM orders_sqt VERSION AS OF 2` aggregate (Spark's
    * OWN parser produces the AS OF node; the catalog substitutes its
    * manifest read), plus live pins every run: the text path is
    * row-identical to the `readVersion` API path, `TIMESTAMP AS OF`
    * text resolves like `readAsOf`, the restored current state equals
    * v2 exactly, and `DESCRIBE HISTORY` text reports the four verbs in
    * commit order. */
  private lazy val k31 = Q(
    "k31_sql_time_travel",
    (s, d) => {
      val (root, _) = Scratch.state("sqt", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        cat.overwriteVersioned("orders_sqt", o, Seq("o_orderstatus"))
        cat.appendVersioned("orders_sqt",
          o.filter(col("o_orderkey") % 19 === 7)
            .select((col("o_orderkey") + 8000000).as("o_orderkey"),
              col("o_totalprice"), col("o_orderstatus")),
          Seq("o_orderstatus"))
        cat.deleteVersioned("orders_sqt", col("o_orderkey") % 23 === 11)
        cat.sql("RESTORE TABLE orders_sqt TO VERSION AS OF 2")
        "ok"
      }
      val cat = new ParquetCatalog(s, root)
      // live pins, every run (all read-only):
      val cols = Seq("o_orderkey", "o_totalprice", "o_orderstatus")
      val viaText = cat.sql(
        "SELECT o_orderkey, o_totalprice, o_orderstatus " +
          "FROM orders_sqt VERSION AS OF 2")
      val viaApi = cat.readVersion("orders_sqt", 2).select(cols.map(col): _*)
      val textVsApi = Pins.symmetricDiffCount(viaText, viaApi)
      val t2 = cat.commitTimestamp("orders_sqt", 2).get
      val viaTs = cat.sql(
        "SELECT o_orderkey, o_totalprice, o_orderstatus " +
          s"FROM orders_sqt TIMESTAMP AS OF timestamp_millis($t2)")
      val tsMismatch = Pins.symmetricDiffCount(viaTs, viaApi)
      val current = cat.read("orders_sqt").select(cols.map(col): _*)
      val restoredMismatch = Pins.symmetricDiffCount(current, viaApi)
      val ops = cat.sql("DESCRIBE HISTORY orders_sqt")
        .select("operation").collect().map(_.getString(0)).mkString(",")
      cat.sql("""
          SELECT o_orderstatus, COUNT(*) AS n_rows,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
          FROM orders_sqt VERSION AS OF 2
          GROUP BY o_orderstatus""")
        .withColumn("ops", lit(ops))
        .withColumn("text_vs_api_mismatch", lit(textVsApi))
        .withColumn("ts_as_of_mismatch", lit(tsMismatch))
        .withColumn("restored_mismatch", lit(restoredMismatch))
        .orderBy("o_orderstatus")
    },
    Some("""
      WITH state2 AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        UNION ALL
        SELECT o_orderkey + 8000000, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 19 = 7)
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
             'overwrite,append,delete,restore' AS ops,
             CAST(0 AS BIGINT) AS text_vs_api_mismatch,
             CAST(0 AS BIGINT) AS ts_as_of_mismatch,
             CAST(0 AS BIGINT) AS restored_mismatch
      FROM state2 GROUP BY 1 ORDER BY o_orderstatus"""))

  /** Stream-to-table PIPE (k32): versioned tables as BOTH ends of one
    * Structured Streaming query — `readStream` (manifest-diff source,
    * rate-limited to one version per batch) into the `graft-table`
    * SINK format, whose every micro-batch is one replay-idempotent
    * versioned commit (`<checkpoint>#<batchId>` in the txn registry).
    * Build-once: src = v1 overwrite + v2 append (+9M keys, key % 29 ==
    * 13), then one AvailableNow drain — two batches, two dst commits.
    * Live every run: the pipe RE-RUNS against the same checkpoint and
    * must commit nothing (`rerun_noop`), and dst equals src exactly
    * (`pipe_mismatch`, symmetric anti-join). The oracle recomputes the
    * src state from the base table. */
  private lazy val k32 = Q(
    "k32_stream_pipe",
    (s, d) => {
      def pipe(root: String): Unit = {
        val q = new ParquetCatalog(s, root)
          .readStream("orders_sp", maxVersionsPerTrigger = Some(1L))
          .writeStream
          .format("graft.streaming.TableSourceProvider")
          .option("root", root)
          .option("table", "orders_sp_dst")
          .option("partitionBy", "o_orderstatus")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val (root, _) = Scratch.state("stp", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        cat.overwriteVersioned("orders_sp", o, Seq("o_orderstatus"))
        cat.appendVersioned("orders_sp",
          o.filter(col("o_orderkey") % 29 === 13)
            .select((col("o_orderkey") + 9000000).as("o_orderkey"),
              col("o_totalprice"), col("o_orderstatus")),
          Seq("o_orderstatus"))
        pipe(root)
        "ok"
      }
      val cat = new ParquetCatalog(s, root)
      val vBefore = cat.currentVersion("orders_sp_dst")
      pipe(root) // caught up: the txn registry must make this a no-op
      val rerunNoop =
        if (cat.currentVersion("orders_sp_dst") == vBefore) 1L else 0L
      val cols = Seq("o_orderkey", "o_totalprice", "o_orderstatus")
      val src = cat.read("orders_sp").select(cols.map(col): _*)
      val dst = cat.read("orders_sp_dst").select(cols.map(col): _*)
      val mismatch = Pins.symmetricDiffCount(src, dst)
      dst.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(28,6)")).cast("double")
            .as("total"))
        .withColumn("pipe_mismatch", lit(mismatch))
        .withColumn("dst_commits", lit(vBefore))
        .withColumn("rerun_noop", lit(rerunNoop))
        .orderBy("o_orderstatus")
    },
    Some("""
      WITH state2 AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        UNION ALL
        SELECT o_orderkey + 9000000, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 29 = 13)
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
             CAST(0 AS BIGINT) AS pipe_mismatch,
             CAST(2 AS BIGINT) AS dst_commits,
             CAST(1 AS BIGINT) AS rerun_noop
      FROM state2 GROUP BY 1 ORDER BY o_orderstatus"""))

  /** Registered Spark CATALOG (k33): the engine as a DSv2
    * `TableCatalog` ([[graft.spark.GraftCatalog]]) — every statement
    * here is PLAIN `spark.sql` against `<catalog>.<table>`, no engine
    * API in the query path. Build-once: v1 = overwrite via the API,
    * v2 = `INSERT INTO` through SQL (+11M keys, key % 31 == 17) —
    * landing as a real `append` commit (history verbs pinned). Live
    * every run: the measured aggregate runs through the registered
    * catalog's DSv2 ParquetTable scan, and `VERSION AS OF 1` through
    * SQL must equal the API's `readVersion(1)` count. */
  private lazy val k33 = Q(
    "k33_sql_catalog",
    (s, d) => {
      val (root, _) = Scratch.state("ctl", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val c = GraftCatalog.register(s, s"gk33${root.takeRight(8)}", root)
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        cat.overwriteVersioned("orders_ctl", o, Seq("o_orderstatus"))
        o.createOrReplaceTempView("orders_k33_src")
        s.sql(s"""
          INSERT INTO $c.orders_ctl
          SELECT o_orderkey + 11000000, o_totalprice, o_orderstatus
          FROM orders_k33_src WHERE o_orderkey % 31 = 17""")
        "ok"
      }
      val cat = new ParquetCatalog(s, root)
      val c = GraftCatalog.register(s, s"gk33${root.takeRight(8)}", root)
      val v1Sql = s.sql(s"SELECT count(*) FROM $c.orders_ctl VERSION AS OF 1")
        .head().getLong(0)
      val v1Match =
        if (v1Sql == cat.readVersion("orders_ctl", 1).count()) 1L else 0L
      val ops = cat.history("orders_ctl")
        .select("operation").collect().map(_.getString(0)).mkString(",")
      s.sql(s"""
          SELECT o_orderstatus, COUNT(*) AS n_rows,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
          FROM $c.orders_ctl
          GROUP BY o_orderstatus""")
        .withColumn("ops", lit(ops))
        .withColumn("v1_sql_matches_api", lit(v1Match))
        .orderBy("o_orderstatus")
    },
    Some("""
      WITH state2 AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        UNION ALL
        SELECT o_orderkey + 11000000, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 31 = 17)
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
             'overwrite,append' AS ops,
             CAST(1 AS BIGINT) AS v1_sql_matches_api
      FROM state2 GROUP BY 1 ORDER BY o_orderstatus"""))

  /** Row-level UPDATE (k34, Delta `UPDATE ... SET ... WHERE` parity):
    * v1 = full overwrite partitioned by status, v2 = the literal
    * `UPDATE` statement text (`cat.sql`) doubling F-partition prices
    * for key % 5 == 0 — landing as ONE partition-scoped `update`
    * commit. The live pin every run: the untouched partitions' files
    * in v2 are EXACTLY v1's (zero new files outside the F slice —
    * `untouched_unshared = 0`), and the history text reports the two
    * verbs. The oracle recomputes the updated state from the base
    * table. */
  private lazy val k34 = Q(
    "k34_sql_update",
    (s, d) => {
      val (root, _) = Scratch.state("uw", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        cat.overwriteVersioned("orders_uw", o, Seq("o_orderstatus"))
        cat.sql("""
          UPDATE orders_uw SET o_totalprice = o_totalprice * 2
          WHERE o_orderstatus = 'F' AND o_orderkey % 5 = 0""")
        "ok"
      }
      val cat = new ParquetCatalog(s, root)
      def partOf(f: String) = graft.storage.TableManifest.partitionComponent(f)
      val v1 = cat.manifestFiles("orders_uw", 1).toSet
      val unshared = cat.manifestFiles("orders_uw", 2)
        .count(f => partOf(f) != "o_orderstatus=F" && !v1.contains(f))
      val ops = cat.history("orders_uw")
        .select("operation").collect().map(_.getString(0)).mkString(",")
      cat.read("orders_uw")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(28,6)")).cast("double")
            .as("total"))
        .withColumn("ops", lit(ops))
        .withColumn("untouched_unshared", lit(unshared.toLong))
        .orderBy("o_orderstatus")
    },
    Some("""
      WITH state2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'F' AND o_orderkey % 5 = 0
                    THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders)
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
             'overwrite,update' AS ops,
             CAST(0 AS BIGINT) AS untouched_unshared
      FROM state2 GROUP BY 1 ORDER BY o_orderstatus"""))

  /** Column mapping (k35, Delta RENAME COLUMN / type-widening parity):
    * v1 = full overwrite (o_orderkey deliberately INT), v2 = literal
    * `ALTER TABLE ... RENAME COLUMN o_totalprice TO price` text, v3 =
    * `ALTER COLUMN o_orderkey TYPE BIGINT` (lossless widening), v4 =
    * an append under the NEW shape — so the current table mixes files
    * written under BOTH column names and BOTH key widths, resolved by
    * Spark's parquet field ids. Live pins every run: the rename and
    * the retype re-reference v1's files verbatim (`rename_rewrote` /
    * `retype_rewrote` = 0 — zero bytes moved for either ALTER), and
    * time travel reads each version under its own shape (`shapes_ok`:
    * v1 still has `o_totalprice`, the current version only `price`).
    * The oracle recomputes the final state from the base table. */
  private lazy val k35 = Q(
    "k35_column_mapping",
    (s, d) => {
      val (root, _) = Scratch.state("cmp", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val o = Tables.orders(s, d)
          .select(col("o_orderkey").cast("int").as("o_orderkey"),
            col("o_totalprice"), col("o_orderstatus"))
        cat.overwriteVersioned("orders_cm", o, Seq("o_orderstatus"))
        cat.sql("ALTER TABLE orders_cm RENAME COLUMN o_totalprice TO price")
        cat.sql("ALTER TABLE orders_cm ALTER COLUMN o_orderkey TYPE BIGINT")
        cat.appendVersioned("orders_cm",
          o.filter(col("o_orderkey") % 17 === 1)
            .select((col("o_orderkey").cast("bigint") + 7000000L).as("o_orderkey"),
              col("o_totalprice").as("price"), col("o_orderstatus")),
          Seq("o_orderstatus"))
        "ok"
      }
      val cat = new ParquetCatalog(s, root)
      val v1 = cat.manifestFiles("orders_cm", 1).toSet
      val v2 = cat.manifestFiles("orders_cm", 2)
      val renameRewrote = v2.count(!v1.contains(_))
      val retypeRewrote = cat.manifestFiles("orders_cm", 3)
        .count(f => !v2.contains(f))
      val v1Cols = cat.readVersion("orders_cm", 1).columns.toSet
      val curCols = cat.read("orders_cm").columns.toSet
      val shapesOk =
        if (v1Cols("o_totalprice") && !v1Cols("price") &&
            curCols("price") && !curCols("o_totalprice")) 1L
        else 0L
      cat.read("orders_cm")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Deterministic.dsum(col("price")).as("total"),
          max(col("o_orderkey")).as("max_key"))
        .withColumn("rename_rewrote", lit(renameRewrote.toLong))
        .withColumn("retype_rewrote", lit(retypeRewrote.toLong))
        .withColumn("shapes_ok", lit(shapesOk))
        .orderBy("o_orderstatus")
    },
    Some("""
      WITH state AS (
        SELECT o_orderkey, o_totalprice AS price, o_orderstatus FROM orders
        UNION ALL
        SELECT o_orderkey + 7000000, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 17 = 1)
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(price AS DECIMAL(28,6))) AS DOUBLE) AS total,
             MAX(o_orderkey) AS max_key,
             CAST(0 AS BIGINT) AS rename_rewrote,
             CAST(0 AS BIGINT) AS retype_rewrote,
             CAST(1 AS BIGINT) AS shapes_ok
      FROM state GROUP BY 1 ORDER BY o_orderstatus"""))

  /** Composite DDL lifecycle (k36): the schema-evolution matrix k35
    * left unpinned, closing over the r16 resurrection fix. v1 = full
    * overwrite with a physically-populated `secret` column; v2 = widen
    * `o_orderkey` INT→BIGINT; v3 = RENAME `o_totalprice`→`price`
    * (widen-then-rename — activates the mapping); v4 = DROP `secret`
    * (drop-after-rename); v5 = ADD `secret` back (add-after-drop: the
    * fresh field id must make every pre-drop row read NULL, never the
    * old bytes — the resurrection bug this round fixed); v6 = append
    * under the final shape with real `secret` values. Live pins:
    * `ddl_rewrote` = 0 (all four ALTERs re-reference v1's files
    * verbatim), `shapes_ok` (each version time-travels under its own
    * shape), and the oracle's `secret_nulls`/`secret_total` pin the
    * NULL-not-resurrected contract per partition under DuckDB. */
  private lazy val k36 = Q(
    "k36_ddl_lifecycle",
    (s, d) => {
      val (root, _) = Scratch.state("ddl", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val o = Tables.orders(s, d)
          .select(col("o_orderkey").cast("int").as("o_orderkey"),
            col("o_totalprice"),
            (col("o_totalprice") * 2).as("secret"),
            col("o_orderstatus"))
        cat.overwriteVersioned("orders_dl", o, Seq("o_orderstatus"))
        cat.sql("ALTER TABLE orders_dl ALTER COLUMN o_orderkey TYPE BIGINT")
        cat.sql("ALTER TABLE orders_dl RENAME COLUMN o_totalprice TO price")
        cat.sql("ALTER TABLE orders_dl DROP COLUMN secret")
        cat.sql("ALTER TABLE orders_dl ADD COLUMN secret DOUBLE")
        cat.appendVersioned("orders_dl",
          Tables.orders(s, d).filter(col("o_orderkey") % 17 === 1)
            .select((col("o_orderkey").cast("bigint") + 7000000L).as("o_orderkey"),
              col("o_totalprice").as("price"),
              (col("o_totalprice") + 1).as("secret"),
              col("o_orderstatus")),
          Seq("o_orderstatus"))
        "ok"
      }
      val cat = new ParquetCatalog(s, root)
      val v1 = cat.manifestFiles("orders_dl", 1).toSet
      val ddlRewrote = (2L to 5L)
        .flatMap(v => cat.manifestFiles("orders_dl", v))
        .count(!v1.contains(_))
      val v1Cols = cat.readVersion("orders_dl", 1).columns.toSet
      val v4Cols = cat.readVersion("orders_dl", 4).columns.toSet
      val curCols = cat.read("orders_dl").columns.toSet
      val shapesOk =
        if (v1Cols("o_totalprice") && v1Cols("secret") &&
            curCols("price") && curCols("secret") && !v4Cols("secret")) 1L
        else 0L
      cat.read("orders_dl")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Deterministic.dsum(col("price")).as("total"),
          sum(when(col("secret").isNull, 1L).otherwise(0L)).as("secret_nulls"),
          graft.functions.Deterministic.dsum(coalesce(col("secret"), lit(0.0)))
            .as("secret_total"),
          max(col("o_orderkey")).as("max_key"))
        .withColumn("ddl_rewrote", lit(ddlRewrote.toLong))
        .withColumn("shapes_ok", lit(shapesOk))
        .orderBy("o_orderstatus")
    },
    Some("""
      WITH state AS (
        SELECT o_orderkey, o_totalprice AS price, CAST(NULL AS DOUBLE) AS secret,
               o_orderstatus
        FROM orders
        UNION ALL
        SELECT o_orderkey + 7000000, o_totalprice, o_totalprice + 1, o_orderstatus
        FROM orders WHERE o_orderkey % 17 = 1)
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(price AS DECIMAL(28,6))) AS DOUBLE) AS total,
             CAST(SUM(CASE WHEN secret IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS secret_nulls,
             CAST(SUM(CAST(COALESCE(secret, 0) AS DECIMAL(28,6))) AS DOUBLE)
               AS secret_total,
             MAX(o_orderkey) AS max_key,
             CAST(0 AS BIGINT) AS ddl_rewrote,
             CAST(1 AS BIGINT) AS shapes_ok
      FROM state GROUP BY 1 ORDER BY o_orderstatus"""))

  /** Deletion vectors (k37, Delta deletion-vectors parity): v1 = full
    * overwrite; v2, v3 = two merge-on-read `deleteVectors` commits
    * (scattered point deletes — the shape that must NOT pay a
    * partition rewrite at 100 TB); v4 = append under the same shape.
    * Live pins every run: both vector commits re-reference v1's files
    * VERBATIM (`dv_rewrote` = 0 — O(bitmap) commit cost), and the
    * change feed replays the deletes as `delete` rows
    * (`feed_deletes`, oracle-recomputed). The final read anti-filters
    * through the vectors; the oracle recomputes it relationally. */
  private lazy val k37 = Q(
    "k37_deletion_vectors",
    (s, d) => {
      val (root, _) = Scratch.state("dvq", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        cat.overwriteVersioned("orders_dv", o, Seq("o_orderstatus"))
        cat.deleteVectors("orders_dv", col("o_orderkey") % 100 === 7)
        cat.deleteVectors("orders_dv", col("o_orderkey") % 1000 === 500)
        cat.appendVersioned("orders_dv",
          o.filter(col("o_orderkey") % 23 === 2)
            .select((col("o_orderkey") + 7000000L).as("o_orderkey"),
              col("o_totalprice"), col("o_orderstatus")),
          Seq("o_orderstatus"))
        "ok"
      }
      val cat = new ParquetCatalog(s, root)
      val v1 = cat.manifestFiles("orders_dv", 1).toSet
      val dvRewrote = (2L to 3L)
        .flatMap(v => cat.manifestFiles("orders_dv", v))
        .count(!v1.contains(_))
      val feedDeletes = cat.tableChanges("orders_dv", 1, 3, Seq("o_orderkey"))
        .filter(col("_change_type") === "delete").count()
      cat.read("orders_dv")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Deterministic.dsum(col("o_totalprice")).as("total"),
          max(col("o_orderkey")).as("max_key"))
        .withColumn("dv_rewrote", lit(dvRewrote.toLong))
        .withColumn("feed_deletes", lit(feedDeletes))
        .orderBy("o_orderstatus")
    },
    Some("""
      WITH state AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        WHERE o_orderkey % 100 <> 7 AND o_orderkey % 1000 <> 500
        UNION ALL
        SELECT o_orderkey + 7000000, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 23 = 2)
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
             MAX(o_orderkey) AS max_key,
             CAST(0 AS BIGINT) AS dv_rewrote,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
              WHERE o_orderkey % 100 = 7 OR o_orderkey % 1000 = 500)
               AS feed_deletes
      FROM state GROUP BY 1 ORDER BY o_orderstatus"""))

  /** Merge-on-read UPDATE via deletion vectors (k38): v1 = full
    * overwrite; v2 = `updateVectors` (scattered point update — old
    * positions vectored, updated images appended, O(delta) bytes);
    * v3 = `deleteVectors`. Live pins: every v1 file stays referenced
    * through BOTH vector commits (`originals_dropped` = 0 — nothing
    * rewritten), and the change feed replays the update as
    * postimages (`feed_updates`, oracle-recomputed). The final read
    * resolves images + vectors; the oracle recomputes it
    * relationally. */
  private lazy val k38 = Q(
    "k38_update_vectors",
    (s, d) => {
      val (root, _) = Scratch.state("uvq", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        cat.overwriteVersioned("orders_uv", o, Seq("o_orderstatus"))
        cat.updateVectors("orders_uv", col("o_orderkey") % 100 === 7,
          Map("o_totalprice" -> (col("o_totalprice") * 3)))
        cat.deleteVectors("orders_uv", col("o_orderkey") % 100 === 55)
        "ok"
      }
      val cat = new ParquetCatalog(s, root)
      val v1 = cat.manifestFiles("orders_uv", 1).toSet
      val v3 = cat.manifestFiles("orders_uv", 3).toSet
      val originalsDropped = v1.count(!v3.contains(_))
      val feedUpdates = cat.tableChanges("orders_uv", 1, 2, Seq("o_orderkey"))
        .filter(col("_change_type") === "update_postimage").count()
      cat.read("orders_uv")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Deterministic.dsum(col("o_totalprice")).as("total"),
          max(col("o_orderkey")).as("max_key"))
        .withColumn("originals_dropped", lit(originalsDropped.toLong))
        .withColumn("feed_updates", lit(feedUpdates))
        .orderBy("o_orderstatus")
    },
    Some("""
      WITH state AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 100 = 7 THEN o_totalprice * 3
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 100 <> 55)
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
             MAX(o_orderkey) AS max_key,
             CAST(0 AS BIGINT) AS originals_dropped,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
              WHERE o_orderkey % 100 = 7) AS feed_updates
      FROM state GROUP BY 1 ORDER BY o_orderstatus"""))

  /** Merge-on-read MERGE via deletion vectors (k39, Delta's dv-enabled
    * MERGE): v1 = full orders slice partitioned by status, v2 = the
    * `graft.deletionVectors` property, v3 = ONE keyed MERGE whose
    * matched rows (key % 100 = 21, price doubled) are vectored + their
    * images appended and whose unmatched rows (negated keys of
    * key % 100 = 77) append — `merge_rewrote` live-pins that ZERO
    * pre-merge data files left the manifest (the O(delta)-write claim:
    * a point upsert into a 100 TB table commits source-sized bytes,
    * not partition-sized), and the change feed replays the merge as
    * update pairs + inserts across the vectored files. The oracle
    * recomputes the final state relationally. */
  private lazy val k39 = Q(
    "k39_merge_vectors",
    (s, d) => {
      val (root, _) = Scratch.state("mvq", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        cat.overwriteVersioned("orders_mv", o, Seq("o_orderstatus"))
        cat.setTableProperty("orders_mv", "graft.deletionVectors", "true")
        val updates = o.filter(col("o_orderkey") % 100 === 21)
          .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
            col("o_orderstatus"))
        val inserts = o.filter(col("o_orderkey") % 100 === 77)
          .select((-col("o_orderkey")).as("o_orderkey"),
            (col("o_totalprice") + 1).as("o_totalprice"), col("o_orderstatus"))
        cat.upsertVersioned("orders_mv", updates.unionByName(inserts),
          Seq("o_orderkey"))
        "ok"
      }
      val cat = new ParquetCatalog(s, root)
      val v2 = cat.manifestFiles("orders_mv", 2).toSet
      val v3 = cat.manifestFiles("orders_mv", 3).toSet
      val mergeRewrote = v2.count(!v3.contains(_))
      val feed = cat.tableChanges("orders_mv", 2, 3, Seq("o_orderkey"))
      val feedUpdates =
        feed.filter(col("_change_type") === "update_postimage").count()
      val feedInserts = feed.filter(col("_change_type") === "insert").count()
      cat.read("orders_mv")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Deterministic.dsum(col("o_totalprice")).as("total"),
          max(col("o_orderkey")).as("max_key"),
          min(col("o_orderkey")).as("min_key"))
        .withColumn("merge_rewrote", lit(mergeRewrote.toLong))
        .withColumn("feed_updates", lit(feedUpdates))
        .withColumn("feed_inserts", lit(feedInserts))
        .orderBy("o_orderstatus")
    },
    Some("""
      WITH state AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 100 = 21 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders
        UNION ALL
        SELECT -o_orderkey, o_totalprice + 1, o_orderstatus
        FROM orders WHERE o_orderkey % 100 = 77)
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
             MAX(o_orderkey) AS max_key, MIN(o_orderkey) AS min_key,
             CAST(0 AS BIGINT) AS merge_rewrote,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
              WHERE o_orderkey % 100 = 21) AS feed_updates,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
              WHERE o_orderkey % 100 = 77) AS feed_inserts
      FROM state GROUP BY 1 ORDER BY o_orderstatus"""))

  /** Conflict-detection fast-forward under the oracle (k40): two
    * optimistic writers' keyed MERGEs land ONE commit apart — writer B
    * wins v2 with a merge scoped to partition F (keys %100 = 3, price
    * doubled); writer A, computed against the v1 snapshot
    * (`fromVersion` pin, the long-transaction protocol), targets
    * partition O (keys %100 = 7, price +5) and LOSES the CAS. The
    * interleaved commit declared a disjoint `touched` set and A's key
    * domain never appears in B's added files (the read-set guard comes
    * back clear), so A's ALREADY-STAGED files fast-forward onto v3
    * verbatim. Pins: `ff_version` = 3 (the loser landed as the next
    * version — no loud conflict, no recompute) and `loser_restaged` = 0
    * (every new partition-O file keeps its `v2-` staging prefix: the
    * fast-forward committed the staged bytes, never re-ran the merge).
    * The oracle recomputes the SERIAL two-merge final state
    * relationally — the fast-forward's content equivalence sits behind
    * the driver's hash gate, not just an sbt pin. */
  private lazy val k40 = Q(
    "k40_conflict_ff",
    (s, d) => {
      val (root, _) = Scratch.state("ffq", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        cat.overwriteVersioned("orders_ff", o, Seq("o_orderstatus"))
        // writer B wins v2: partition-F rows, keys %100 = 3
        val bSrc = o.filter(col("o_orderstatus") === "F" &&
            col("o_orderkey") % 100 === 3)
          .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
            col("o_orderstatus"))
        cat.upsertVersioned("orders_ff", bSrc, Seq("o_orderkey"))
        // writer A computed against v1, scoped to partition O — its CAS
        // at v2 loses and the staged files fast-forward onto v3
        val aSrc = o.filter(col("o_orderstatus") === "O" &&
            col("o_orderkey") % 100 === 7)
          .select(col("o_orderkey"), (col("o_totalprice") + 5).as("o_totalprice"),
            col("o_orderstatus"))
        cat.upsertVersioned("orders_ff", aSrc, Seq("o_orderkey"),
          fromVersion = Some(1L))
        "ok"
      }
      val cat = new ParquetCatalog(s, root)
      val ffVersion = cat.currentVersion("orders_ff")
      val oPart = (v: Long) => cat.manifestFiles("orders_ff", v)
        .filter(_.contains("o_orderstatus=O/")).toSet
      val loserRestaged = (oPart(3L) -- oPart(2L))
        .count(!_.split('/').last.startsWith("v2-"))
      cat.read("orders_ff")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Deterministic.dsum(col("o_totalprice")).as("total"),
          max(col("o_orderkey")).as("max_key"))
        .withColumn("ff_version", lit(ffVersion))
        .withColumn("loser_restaged", lit(loserRestaged.toLong))
        .orderBy("o_orderstatus")
    },
    Some("""
      WITH state AS (
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'F' AND o_orderkey % 100 = 3
                      THEN o_totalprice * 2
                    WHEN o_orderstatus = 'O' AND o_orderkey % 100 = 7
                      THEN o_totalprice + 5
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders)
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
             MAX(o_orderkey) AS max_key,
             CAST(3 AS BIGINT) AS ff_version,
             CAST(0 AS BIGINT) AS loser_restaged
      FROM state GROUP BY 1 ORDER BY o_orderstatus"""))

  /** Delta RESTORE parity (k16): v1 = base slice, v2 = partition-scoped
    * merge, v3 = restore(1). The measured output is the CURRENT table
    * after the restore — it must equal v1's content exactly (the oracle
    * recomputes the base slice from the source table) — plus a
    * zero-copy pin: the restored manifest re-references v1's files
    * verbatim (`restored_reref` counts v3 entries not in v1; oracle
    * pins 0 — a restore moves METADATA, never bytes, which is what
    * makes it instant at 100 TB). */
  private lazy val k16 = Q(
    "k16_restore",
    (s, d) => {
      val (root, marked) = Scratch.state("rst", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
          .filter(col("o_orderkey") % 3 =!= 0)
        cat.overwriteVersioned("orders_r", o, Seq("o_orderstatus"))
        val delta = o
          .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), (col("o_totalprice") * 3).as("o_totalprice"),
            col("o_orderstatus"))
        cat.upsertVersioned("orders_r", delta, Seq("o_orderkey"),
          partitionBy = Seq("o_orderstatus"))
        cat.restore("orders_r", 1)
        val v1 = cat.manifestFiles("orders_r", 1).toSet
        val reref = cat.manifestFiles("orders_r", 3).count(!v1.contains(_))
        reref.toString
      }
      val cat = new ParquetCatalog(s, root)
      val reref = marked.toLong
      cat.read("orders_r")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Deterministic.dsum(col("o_totalprice")).as("total"))
        .withColumn("restored_reref", lit(reref))
        .orderBy("o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
             CAST(0 AS BIGINT) AS restored_reref
      FROM orders
      WHERE o_orderkey % 3 <> 0
      GROUP BY 1 ORDER BY o_orderstatus"""))

  /** Commit-history audit (k17, Delta `DESCRIBE HISTORY` parity): a
    * deterministic op sequence — versioned overwrite, partition-scoped
    * merge, partition-scoped delete, restore — read back from manifest
    * metadata alone. The oracle enumerates the expected
    * (version, operation) ledger; a commit path that forgets (or
    * mislabels) its audit record breaks rows/hash. */
  private lazy val k17 = Q(
    "k17_history",
    (s, d) => {
      val (root, _) = Scratch.state("his", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        cat.overwriteVersioned("orders_h", o, Seq("o_orderstatus"))
        cat.upsertVersioned("orders_h",
          o.filter(col("o_orderstatus") === "F" && col("o_orderkey") % 4 === 0)
            .select(col("o_orderkey"), (col("o_totalprice") + 1).as("o_totalprice"),
              col("o_orderstatus")),
          Seq("o_orderkey"), partitionBy = Seq("o_orderstatus"))
        cat.deleteVersioned("orders_h",
          col("o_orderstatus") === "O" && col("o_orderkey") % 9 === 1,
          Seq("o_orderstatus"))
        cat.restore("orders_h", 2)
        "ok"
      }
      val cat = new ParquetCatalog(s, root)
      cat.history("orders_h").select("version", "operation")
        .orderBy("version")
    },
    Some("""
      SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), 'overwrite'),
        (CAST(2 AS BIGINT), 'merge'),
        (CAST(3 AS BIGINT), 'delete'),
        (CAST(4 AS BIGINT), 'restore')) AS t(version, operation)
      ORDER BY version"""))

  /** Exactly-once micro-batch append through the ORACLE gate (k18):
    * three batchId-tagged commits, then a REPLAY of the middle batch —
    * the at-least-once re-delivery Structured Streaming's foreachBatch
    * contract allows after a restart. The replay must contribute
    * NOTHING: the measured output is the table contents (the oracle
    * recomputes the three batches' union exactly once) plus a
    * `replay_committed` pin = versions-after − versions-before across
    * the replay (oracle pins 0). This puts the idempotent-sink
    * invariant behind the driver's hash gate, not just an sbt test. */
  private lazy val k18 = Q(
    "k18_replay_append",
    (s, d) => {
      val (root, marked) = Scratch.state("rpl", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val ev = Tables.events(s, d).select("event_id", "event_type", "value")
        def batch(n: Int) = ev.filter(col("event_id") % 3 === n)
        cat.overwriteVersioned("ev_b", batch(0))
        cat.appendBatch("ev_b", batch(1), "ckpt#1")
        cat.appendBatch("ev_b", batch(2), "ckpt#2")
        val before = cat.versions("ev_b").size
        cat.appendBatch("ev_b", batch(1), "ckpt#1") // the replay
        val after = cat.versions("ev_b").size
        (after - before).toString
      }
      val cat = new ParquetCatalog(s, root)
      val replayCommitted = marked.toLong
      cat.read("ev_b")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Deterministic.dsum(col("value")).as("total"))
        .withColumn("replay_committed", lit(replayCommitted))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, COUNT(*) AS n_rows,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
             CAST(0 AS BIGINT) AS replay_committed
      FROM events
      GROUP BY 1 ORDER BY event_type"""))

  /** Metadata-only schema evolution through the ORACLE gate (k19): a
    * versioned table built WITHOUT a column receives an add-column
    * append under `evolveSchema = true`. The commit must re-reference
    * 100 % of the prior files (zero bytes rewritten — `carried_all`
    * pins it) and the union read must yield NULL for the added column
    * on every pre-evolution row (`n_with_priority` counts non-nulls,
    * which the oracle recomputes from the parity split). Delta's
    * metadata-only ADD COLUMN on the manifest catalog
    * (bronze_to_silver_transformation.py:915-941's drift tolerance,
    * done as a metadata commit instead of a rewrite). */
  private lazy val k19 = Q(
    "k19_versioned_evolution",
    (s, d) => {
      val (root, marked) = Scratch.state("evo", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val o = Tables.orders(s, d)
        val base = o.filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        cat.overwriteVersioned("orders_e", base, Seq("o_orderstatus"))
        val withPriority = o.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority")
        val v2 = cat.appendVersioned("orders_e", withPriority, evolveSchema = true)
        val v1Files = cat.manifestFiles("orders_e", 1).toSet
        val carriedAll =
          if (v1Files.forall(cat.manifestFiles("orders_e", v2).contains)) 1 else 0
        carriedAll.toString
      }
      val cat = new ParquetCatalog(s, root)
      val carriedAll = marked.toLong
      cat.read("orders_e")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_orderpriority")).as("n_with_priority"),
          graft.functions.Deterministic.dsum(col("o_totalprice")).as("total"))
        .withColumn("carried_all", lit(carriedAll))
        .orderBy("o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             COUNT(CASE WHEN o_orderkey % 2 = 0 THEN o_orderpriority END)
               AS n_with_priority,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
             CAST(1 AS BIGINT) AS carried_all
      FROM orders
      GROUP BY 1 ORDER BY o_orderstatus"""))

  /** The reference's literal MERGE statement against the VERSIONED
    * catalog (k20): k7's exact text + semantics, but the target is a
    * catalog table and the write-back is a manifest commit —
    * [[graft.storage.ParquetCatalog.mergeInto]]. Pins, beyond k7's
    * value parity: the commit landed as version 2 with op verb `merge`
    * (`merge_verb_ok`) and the PRE-merge version stayed readable with
    * its full row count (`v1_intact`) — history + time travel around
    * the reference's own statement
    * (`bronze_to_silver_transformation.py:867-920`). */
  private lazy val k20 = Q(
    "k20_versioned_sql_merge",
    (s, d) => {
      val o = Tables.orders(s, d)
      val (root, _) = Scratch.state("vsm", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val target = o.filter(col("o_orderkey") % 4 =!= 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 3 === 0, "Other")
              .otherwise(col("o_orderpriority")).as("category"),
            col("o_totalprice").as("metric"))
        cat.overwriteVersioned("orders_m", target)
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), lit("2-HIGH").as("category"),
            (col("o_totalprice") + 5.0).as("metric"))
          .createOrReplaceTempView("graft_k20_source")
        cat.mergeInto("""
          MERGE INTO orders_m AS target
          USING graft_k20_source AS source
          ON target.o_orderkey = source.o_orderkey
          WHEN MATCHED THEN
            UPDATE SET
              metric = source.metric,
              -- keep a good classification, refresh the metric
              category = CASE
                  WHEN target.category = 'Other' OR target.category IS NULL
                  THEN source.category
                  ELSE target.category
              END
          WHEN NOT MATCHED THEN
            INSERT *""")
        "ok"
      }
      val cat = new ParquetCatalog(s, root)
      // durable-state pins, recomputed from metadata on every run
      val mergeVerbOk =
        if (cat.history("orders_m").filter(col("version") === 2 &&
          col("operation") === "merge").count() == 1) 1L else 0L
      val v1Intact =
        if (cat.readVersion("orders_m", 1).count() ==
          o.filter(col("o_orderkey") % 4 =!= 0).count()) 1L else 0L
      cat.read("orders_m")
        .withColumn("merge_verb_ok", lit(mergeVerbOk))
        .withColumn("v1_intact", lit(v1Intact))
        .orderBy("o_orderkey")
    },
    Some("""
      WITH t AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0 THEN 'Other'
                    ELSE o_orderpriority END AS category,
               o_totalprice AS metric
        FROM orders WHERE o_orderkey % 4 != 0),
      s AS (
        SELECT o_orderkey, '2-HIGH' AS category,
               o_totalprice + 5.0 AS metric
        FROM orders WHERE o_orderkey % 2 = 0)
      SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
             CASE
               WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                 THEN CASE WHEN t.category IS NULL OR t.category = 'Other'
                           THEN s.category ELSE t.category END
               WHEN t.o_orderkey IS NULL THEN s.category
               ELSE t.category END AS category,
             CASE WHEN s.o_orderkey IS NOT NULL
                  THEN s.metric ELSE t.metric END AS metric,
             CAST(1 AS BIGINT) AS merge_verb_ok,
             CAST(1 AS BIGINT) AS v1_intact
      FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
      ORDER BY o_orderkey"""))

  /** Partition-scoped EVOLVING merge (k21): a MERGE delta that both
    * updates one partition's rows and brings a NEW column. The commit
    * must stay partition-scoped — untouched partitions' files
    * re-referenced verbatim (`untouched_carried` pins it) — because the
    * manifest's recorded union schema resolves the per-partition drift
    * a partial rewrite creates; carried rows read NULL for the evolved
    * column, restaged matched rows carry the source value. The full
    * rewrite Delta does for this (`overwriteSchema=true`,
    * `bronze_to_silver_transformation.py:915-941`) becomes an
    * O(touched) write. */
  private lazy val k21 = Q(
    "k21_evolving_merge",
    (s, d) => {
      val (root, marked) = Scratch.state("evm", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        cat.overwriteVersioned("orders_ev", o, Seq("o_orderstatus"))
        val delta = Tables.orders(s, d)
          .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
            col("o_orderstatus"), col("o_orderpriority"))
        val v2 = cat.upsertVersioned("orders_ev", delta, Seq("o_orderkey"),
          partitionBy = Seq("o_orderstatus"), evolveSchema = true)
        val v2Files = cat.manifestFiles("orders_ev", v2).toSet
        val untouched = cat.manifestFiles("orders_ev", 1).filter(f =>
          graft.storage.TableManifest.partitionComponent(f) != "o_orderstatus=F")
        val carried =
          if (untouched.nonEmpty && untouched.forall(v2Files.contains)) 1 else 0
        carried.toString
      }
      val cat = new ParquetCatalog(s, root)
      val carried = marked.toLong
      cat.read("orders_ev")
        .withColumn("untouched_carried", lit(carried))
        .orderBy("o_orderkey")
    },
    Some("""
      WITH s AS (
        SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, o_orderpriority
        FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 5 = 0)
      SELECT o.o_orderkey AS o_orderkey,
             COALESCE(s.o_totalprice, o.o_totalprice) AS o_totalprice,
             o.o_orderstatus,
             s.o_orderpriority AS o_orderpriority,
             CAST(1 AS BIGINT) AS untouched_carried
      FROM orders o LEFT JOIN s ON o.o_orderkey = s.o_orderkey
      ORDER BY o.o_orderkey"""))

  /** Exactly-once micro-batch MERGE through the ORACLE gate (k22 —
    * k18's sibling for update-shaped streams): three batchId-tagged
    * MERGE commits, then a REPLAY of the MIDDLE batch. The replay must
    * commit nothing (`replay_committed` pins 0) AND must not regress
    * rows the later batch updated — a naively re-applied stale merge
    * would overwrite batch 2's values with batch 1's, which the content
    * hash catches. The reference's foreachBatch MERGE sink
    * (`github_data_ingestion.py:349-383`) with Delta `txn`-grade
    * idempotence. */
  private lazy val k22 = Q(
    "k22_replay_merge",
    (s, d) => {
      val (root, marked) = Scratch.state("rpm", d) { root =>
        val cat = new ParquetCatalog(s, root)
        val ev = Tables.events(s, d).select("event_id", "event_type", "value")
        cat.upsertBatch("ev_m", ev, Seq("event_id"), "mrg#0")
        cat.upsertBatch("ev_m",
          ev.filter(col("event_id") % 2 === 0)
            .select(col("event_id"), col("event_type"),
              (col("value") + 100.0).as("value")),
          Seq("event_id"), "mrg#1")
        cat.upsertBatch("ev_m",
          ev.filter(col("event_id") % 5 === 0)
            .select(col("event_id"), col("event_type"),
              (col("value") + 1000.0).as("value")),
          Seq("event_id"), "mrg#2")
        val before = cat.versions("ev_m").size
        // STALE replay of the middle batch after a later one committed:
        // must neither commit nor regress batch 2's updates
        cat.upsertBatch("ev_m",
          ev.filter(col("event_id") % 2 === 0)
            .select(col("event_id"), col("event_type"),
              (col("value") + 100.0).as("value")),
          Seq("event_id"), "mrg#1")
        val after = cat.versions("ev_m").size
        (after - before).toString
      }
      val cat = new ParquetCatalog(s, root)
      val replayCommitted = marked.toLong
      cat.read("ev_m")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Deterministic.dsum(col("value")).as("total"))
        .withColumn("replay_committed", lit(replayCommitted))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, COUNT(*) AS n_rows,
             CAST(SUM(CAST(
               CASE WHEN event_id % 5 = 0 THEN value + 1000.0
                    WHEN event_id % 2 = 0 THEN value + 100.0
                    ELSE value END AS DECIMAL(28,6))) AS DOUBLE) AS total,
             CAST(0 AS BIGINT) AS replay_committed
      FROM events
      GROUP BY 1 ORDER BY event_type"""))

  /** (relative path, size, mtime) of each data file the table's
    * current manifest lists, grouped by its partition component — the
    * byte-identity probe behind k14's untouched-partition gate. */
  private def partitionFingerprints(root: String, cat: ParquetCatalog,
      name: String): Map[String, Set[(String, Long, Long)]] = {
    import java.nio.file.{Files, Paths}
    val vd = Paths.get(root, ".versions", name)
    cat.manifestFiles(name, cat.currentVersion(name)).map { rel =>
      val p = vd.resolve(rel)
      graft.storage.TableManifest.partitionComponent(rel) ->
        ((rel, Files.size(p), Files.getLastModifiedTime(p).toMillis))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
  }
}
