package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, MapType, StringType}

import graft.{LangMarkers, SparkEntry}
import graft.QuerySupport._
import graft.functions.TextOps
import graft.operators.{CorpusOps, DedupOps, DetParams, GraphOps, SimilarityOps, SketchOps}

/** General relational/analytic operators: joins, aggregates, windows, set ops, sampling, time series.
  *
  * Split from [[graft.SparkEntry]] (round 6, hygiene item): entry
  * bodies are byte-identical to the pre-split map; QueryRegistrySpec
  * proves family disjointness and exact oracle key coverage.
  */
private[graft] object RelationalQueries {
  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // == relational core over the TPC-H-ish tables ==

    // hash aggregate with exact decimal sums (TPC-H Q1 flavor)
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc"),
          count(lit(1)).as("n"))),


    // broadcast dim join chain (supplier ⋈ nation ⋈ region)
    "q2_dim_join" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val nat = broadcast(t(s, dir, "nation"))
      val reg = broadcast(t(s, dir, "region"))
      sup.join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"), col("r_name"))
    }),


    // 3-way join + group + deterministic top-N (TPC-H Q3 flavor)
    "q3_join_topn" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"))
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),


    // grouped aggregate over the event stream table
    "q4_events_agg" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))),


    // event-time tumbling window
    "q5_time_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(
          unix_timestamp(col("window.start")).as("bucket"),
          col("event_type"), col("n"))),


    // top-k per group via ranking window function
    "q6_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("event_type"), col("event_id"), col("value"), col("rn"))
    }),


    // anti join (customers with no order above a total)
    "q7_anti_join" -> ((s, dir) => {
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      t(s, dir, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),


    // semi join (suppliers in regions that have customers w/ balance>0)
    "q8_semi_join" -> ((s, dir) => {
      val richCust = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_nationkey"))
      t(s, dir, "supplier")
        .join(richCust, col("s_nationkey") === col("c_nationkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
    }),


    // set op: distinct union of nations seen on either side
    "q9_union_distinct" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()),


    // global sort + limit (deterministic tiebreak)
    "q10_sort_limit" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))),


    // distinct aggregate (two-phase: partial distinct then merge)
    "q11_distinct_agg" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n"))),


    // hierarchical rollup (grouping-set expansion)
    "q12_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))),


    // full cube (all grouping-set combinations)
    "q15_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))),


    // explicit grouping sets (one-dimensional marginals only — the
    // cube minus the full cross and grand total)
    "q16_grouping_sets" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))),


    // lead/lag value navigation per user (window partitioned by user —
    // state bounded per partition, scales with users)
    "q17_lead_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(
        col("event_id"), col("user_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"))
    }),


    // sessionization: gap-based session windows per user
    // (partitioned by user)
    "q18_sessions" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          unix_timestamp(col("session_window.start")).as("sess_start"),
          col("user_id"), col("n_events"))),


    // range join: each click joined to the session interval containing
    // it — equi key (user) + range predicate, so the join partitions
    // on user and the per-partition range scan is bounded (the
    // scale-correct range-join shape; a bare theta join would be n*m)
    "q24_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val sess = ev
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id").as("s_user"),
          col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"),
          col("n_events"))
      ev.filter(col("event_type") === "click")
        .join(sess,
          col("user_id") === col("s_user") &&
            col("ts") >= col("s_start") && col("ts") < col("s_end"))
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("s_start")).as("sess_start"), col("n_events"))
    }),


    // correlated scalar subqueries (Catalyst decorrelates them into
    // aggregate + join — exercising the subquery rewrite path)
    "q23_scalar_subquery" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT c_custkey, c_name,
          |  (SELECT COUNT(*) FROM orders_v o
          |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
          |  (SELECT CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE)
          |   FROM orders_v o WHERE o.o_custkey = c.c_custkey) AS total_spent
          |FROM customer_v c
          |WHERE (SELECT COUNT(*) FROM orders_v o
          |       WHERE o.o_custkey = c.c_custkey) >= 12""".stripMargin)
    }),


    // skew-salted equi-join: result-identical to the plain join (the
    // oracle is the plain SQL join), but a hot orderkey's rows spread
    // across saltFactor reducers instead of one
    "q22_salted_join" -> ((s, dir) =>
      graft.operators.SkewOps.saltedEquiJoin(
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
          t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
            col("o_totalprice")),
          "l_orderkey", saltFactor = 8)
        .groupBy(col("l_orderkey"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"),
          max(col("o_totalprice")).as("total"),
          count(lit(1)).as("n"))),


    // TARGETED salting (q22's 100 TB face): q22 replicates the whole
    // small side saltFactor times — fine for a compact dim, itself a
    // scale problem for a large one (the saltjoin probe measured the
    // full-salt cure at 10x the disease with a 10M-row dim). Here hot
    // keys are detected exactly (bounded driver pull: <= 1/hotMinShare
    // keys by construction) and only they salt/replicate; cold keys
    // ride salt 0 like a plain SMJ. Result-identical to the plain
    // join, so the oracle is the join itself.
    "q55_salted_join_hot" -> ((s, dir) =>
      graft.operators.SkewOps.saltedEquiJoinHot(
          t(s, dir, "events").select(col("user_id"), col("value")),
          t(s, dir, "customer").select(col("c_custkey").as("user_id"),
            col("c_acctbal")),
          "user_id", saltFactor = 8, hotMinShare = 1.0 / 256)
        .groupBy(col("user_id"))
        .agg(
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"),
          max(col("c_acctbal")).as("acctbal"),
          count(lit(1)).as("n"))),


    // GLOBAL quantile ranks WITHOUT a single-partition window (r16
    // verdict #4, the q29-class 100 TB upgrade path shipped): two-pass
    // range-partitioned ranking — range exchange on the total order,
    // per-bucket local row_numbers, bounded (≤ numParts) driver pull
    // of per-bucket counts folded back as offsets. The oracle is the
    // naive global-window SQL: the two-pass plan must be value-
    // identical to ntile/percent_rank/cume_dist over the total order.
    // PlanShapeSpec pins that no Exchange SinglePartition appears.
    "q56_global_rank" -> ((s, dir) =>
      // numParts DERIVED from the counted input (r18, r17 verdict
      // item 6): the operator sizes buckets to its probe-justified
      // rows-per-task target instead of a constant that happened to
      // equal the local core count; results are bucketing-invariant
      // (the oracle is the naive global window either way)
      graft.operators.RankOps.globalQuantileRanks(
        t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal")),
        Seq(col("c_acctbal").desc, col("c_custkey").asc),
        tiles = 10)),


    // pivot: one row per user, one count column per event type
    // (explicit value list keeps the schema static and plannable)
    "q19_pivot" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "purchase", "view"))
        .agg(count(lit(1)))
        // fill ONLY the pivot count columns — a bare na.fill(0) would
        // also rewrite a NULL user_id group key to 0 and diverge from
        // the oracle's GROUP BY NULL row
        .na.fill(0L, Seq("click", "purchase", "view"))),


    // set ops beyond union: customer nations without suppliers
    // (except) and with suppliers (intersect)
    "q20_set_ops" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.except(su).withColumn("op", lit("except"))
        .union(c.intersect(su).withColumn("op", lit("intersect")))
    }),


    // set ops with BAG semantics (q20's distinct twins): EXCEPT ALL /
    // INTERSECT ALL preserve multiplicities — Spark plans them as a
    // count-balancing aggregate + generator replication, never a
    // distinct — the dup-sensitive reconciliation shape (e.g. "events
    // one shard has more copies of than another")
    "q44_bag_set_ops" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val a = ev.filter(col("user_id") % 2 === 0).select(col("event_type"))
      val b = ev.filter(col("user_id") % 2 === 1).select(col("event_type"))
      a.exceptAll(b).withColumn("op", lit("except_all"))
        .union(a.intersectAll(b).withColumn("op", lit("intersect_all")))
    }),


    // exact grouped percentiles (sort-based, linear interpolation)
    "q14_percentile" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"))),


    // as-of join: each click matched to the user's most recent
    // purchase at-or-before it (window partitioned by user — scales
    // with users, state bounded per partition)
    "q13_asof_join" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("event_type") === "purchase", 0).otherwise(1).as("tag"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("tag"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("last_purchase_id",
          last(when(col("tag") === 0, col("event_id")), ignoreNulls = true)
            .over(w))
        .filter(col("tag") === 1)
        .select(col("event_id").as("click_id"), col("user_id"),
          col("last_purchase_id"))
    }),


    // keep-latest-per-key compaction (the CDC/upsert read shape):
    // newest event per (user, type) by (ts desc, event_id desc) —
    // total order, deterministic survivor; WindowGroupLimit prunes to
    // 1 per key map-side before the single keyed window
    "q45_latest_per_key" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value"), row_number().over(w).as("rn"))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value"))
    }),


    // stratified deterministic sampling: per-language keep rates via
    // hash residues — downsample the dominant language, keep the
    // rare ones (training-mix balancing). Reproducible across runs
    // and cluster sizes; narrow, no shuffle.
    "q25_stratified_sample" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("r", pmod(DedupOps.md5Hash32(col("text")), lit(100)))
        .filter(col("r") <
          when(col("lang") === "en", 20)
            .when(col("lang") === "de", 50)
            .when(col("lang") === "es", 50)
            .when(col("lang") === "fr", 80)
            .otherwise(100))
        .select(col("doc_id"), col("lang"), col("source"))),


    // ordered event funnel: first view, first click AFTER it, first
    // purchase after that, per user. Each step is a type-pushed scan
    // (PushedFilters: event_type = ...) joined on user_id against the
    // shrinking previous step, then a key-partitioned min — the
    // standard distributed funnel; nothing per-user ever collects.
    "q26_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"),
          unix_timestamp(col("t_view")).as("view_s"),
          unix_timestamp(col("t_click")).as("click_s"),
          unix_timestamp(col("t_purchase")).as("purchase_s"))
    }),


    // unpivot/melt: the inverse of q19's pivot — wide per-flag measure
    // columns back to long (measure, value) rows. The unpivot is a
    // local Expand over the (tiny) aggregate output; no extra shuffle
    // beyond the aggregation's own.
    "q27_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          sum(col("l_discount").cast("decimal(18,4)")).cast("double").as("sum_disc"),
          sum(col("l_tax").cast("decimal(18,4)")).cast("double").as("sum_tax"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("sum_disc"), col("sum_tax")),
          "measure", "value")),


    // rolling time-range frame: per event, the same user's trailing-
    // hour event count and value sum (RANGE on epoch seconds, so ties
    // within a second share one frame — order-insensitive). The frame
    // state is per-user and streams with the partition sort; there is
    // never a global sort. Value sums ride DECIMAL so the frame-slide
    // arithmetic is exact and order-free.
    "q28_rolling_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("es")).rangeBetween(-3600L, 0L)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("es"),
          col("value").cast("decimal(18,4)").as("v"))
        .select(col("event_id"), col("user_id"), col("es"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("v")).over(w).cast("double").as("v_1h"))
    }),


    // ROWS-frame moving average (q28's RANGE sibling): trailing-4-row
    // mean per user under a total order. The frame sum rides DECIMAL
    // — DuckDB evaluates sliding windows with a segment tree, so a
    // DOUBLE frame sum would re-associate float addition and drift
    // from Spark's streaming accumulation; exact DECIMAL makes the
    // slide order-free — and the mean is one final double division.
    "q46_moving_avg" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-3, 0)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value").cast("decimal(18,4)").as("v"))
        .select(col("event_id"), col("user_id"),
          (sum(col("v")).over(w).cast("double") /
            count(lit(1)).over(w)).as("avg_4"))
    }),


    // Pearson correlation from DECIMAL-exact sufficient statistics
    // (n, Σx, Σy, Σx², Σy², Σxy): the built-in corr/covar aggregates
    // accumulate running double moments — order-dependent, so
    // engine-unstable — where the sufficient-statistics spelling is
    // one keyed aggregate of exact sums (map-side partials, constant
    // merge state) and the algebra runs once per group on identical
    // doubles. Correlates value with hour-of-day per event type.
    "q50_corr" -> ((s, dir) => {
      val xy = t(s, dir, "events")
        .select(col("event_type"), col("value").as("x"),
          hour(col("ts")).cast("double").as("y"))
      def d(c: Column): Column = c.cast("decimal(28,8)")
      xy.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(d(col("x"))).cast("double").as("sx"),
          sum(d(col("y"))).cast("double").as("sy"),
          sum(d(col("x") * col("x"))).cast("double").as("sxx"),
          sum(d(col("y") * col("y"))).cast("double").as("syy"),
          sum(d(col("x") * col("y"))).cast("double").as("sxy"))
        .select(col("event_type"), col("n"),
          // greatest(·, 0) guards the q39 cancellation class (a
          // zero-variance side would sqrt a tiny negative: NaN in
          // Spark, hard error in DuckDB); nullif keeps the
          // undefined-correlation case a NULL row on both engines
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            nullif(
              sqrt(greatest(col("n") * col("sxx") - col("sx") * col("sx"),
                lit(0.0))) *
              sqrt(greatest(col("n") * col("syy") - col("sy") * col("sy"),
                lit(0.0))), lit(0.0)))
            .as("corr_xy"))
    }),


    // schema-drift union: two feeds with different column sets,
    // aligned BY NAME with missing columns null-filled — the
    // ingestion-time reality unionByPosition silently corrupts
    // (DuckDB spells it UNION ALL BY NAME)
    "q48_union_by_name" -> ((s, dir) => {
      val a = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val b = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"))
      a.unionByName(b, allowMissingColumns = true)
    }),


    // null-safe equality join (<=>): NULL keys MATCH each other,
    // where plain = drops them — the semantics reconciliation jobs
    // need when "unknown" is a real group. Both sides aggregate
    // first, so the null group joins 1:1, not cross-product.
    // DuckDB spells the operator IS NOT DISTINCT FROM.
    "q49_null_safe_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(nullif(col("event_type"), lit("click")).as("k"), col("value"))
      val a = e.groupBy(col("k")).agg(count(lit(1)).as("n_a"))
      val b = e.groupBy(col("k").as("kb"))
        .agg(sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_b"))
      a.join(b, col("k") <=> col("kb"))
        .select(col("k"), col("n_a"), col("sum_b"))
    }),


    // monthly revenue trend + month-over-month delta: date_trunc
    // bucketing into a BOUNDED month table (one row per month, ever),
    // so the global lag window is safe — the one case an
    // unpartitioned window is the right call. DECIMAL revenue sums;
    // months emit as epoch BIGINT per the oracle convention.
    "q47_monthly_trend" -> ((s, dir) => {
      val m = t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("mth"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("revenue"))
      val w = Window.orderBy(col("mth"))
      m.select(unix_timestamp(col("mth")).as("mth"),
        col("n_orders"), col("revenue"),
        (col("revenue") - coalesce(lag(col("revenue"), 1).over(w), lit(0.0)))
          .as("delta"))
    }),


    // per-group quantile ranks: balance decile / percent_rank /
    // cume_dist within each nation. partitionBy keeps every frame
    // per-nation — never the single-partition global window an
    // unpartitioned ntile would force — and (acctbal desc, custkey)
    // is a total order, so bucket assignment is deterministic.
    // Quantized to micro-units via floor(x * 1e6) — pure IEEE ops,
    // identical in every engine — NOT round(x, 6): rank/n hits exact
    // 6-dp half-ties (e.g. 41/640 = .0640625) where Spark's HALF_UP
    // and DuckDB's scaled-multiply rounding disagree (found by the
    // sf0.1 oracle sweep; same lesson as q38's fixed-point ranks).
    "q29_decile_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          ntile(10).over(w).as("decile"),
          floor(percent_rank().over(w) * lit(1.0e6)).as("pct_rank_u"),
          floor(cume_dist().over(w) * lit(1.0e6)).as("cume_u"))
    }),


    // full outer join: per-nation customer vs supplier counts, both
    // sides preserved (nations with only one side surface with a 0).
    // Two key-partitioned pre-aggregations shrink each side to
    // |nations| rows BEFORE the join — the aggregate-then-join shape
    // that keeps a full outer join cheap at any scale.
    "q31_full_outer" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val su = t(s, dir, "supplier")
        .groupBy(col("s_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(su, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    }),


    // grouped collection surface: per-user sorted event-type array +
    // array predicates. sort_array makes collect_list order-free (the
    // unordered collect is engine/partition-dependent); the array stays
    // bounded by the per-user event count, never a corpus-wide state.
    "q32_collect_types" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(col("event_type"))).as("types_arr"))
        .select(col("user_id"),
          concat_ws(" ", col("types_arr")).as("types"),
          size(col("types_arr")).as("n_events"),
          array_contains(col("types_arr"), "purchase").as("has_purchase"),
          size(array_distinct(col("types_arr"))).as("n_distinct_types"))),


    // map-typed JSON surface: decode props to MAP, explode to
    // (key, value) rows, aggregate per key. Dynamic keys (no schema
    // pinned per key) — the semi-structured path p2's fixed-field
    // get_json_object can't express; explode(map) is a narrow
    // generator, the only shuffle is the per-key aggregate.
    "q33_map_ops" -> ((s, dir) =>
      t(s, dir, "events")
        .select(explode(from_json(col("props"), MapType(StringType, LongType)))
          .as(Seq("k", "v")))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))),


    // deterministic k-per-group sample: rank by content hash within
    // each language, keep 3 — the "random but reproducible" per-class
    // subsample training mixes use (same rows on any cluster size or
    // rerun, unlike rand()). WindowGroupLimit prunes to k per group
    // map-side before the single key-partitioned window.
    "q34_group_sample" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("text")), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          row_number().over(w).as("rk"))
        .filter(col("rk") <= 3)
    }),


    // grouping() indicators on a rollup: a NULL group key from the
    // DATA is indistinguishable from a subtotal row without
    // grouping_id — the disambiguation every BI layer on top of a
    // rollup needs. Single Expand + hash aggregate, same shape as q12.
    "q35_grouping_id" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          grouping(col("o_orderstatus")).as("g_status"),
          grouping(col("o_orderpriority")).as("g_prio"))),


    // calendar heatmap shape: events bucketed by day-of-week x
    // hour-of-day — one narrow projection of the timestamp plus a
    // single 7x24-key aggregate; the session timezone is pinned UTC
    // on both engines so the bucket math agrees.
    "q36_time_heatmap" -> ((s, dir) =>
      t(s, dir, "events")
        .select(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hod"),
          col("value"))
        .groupBy(col("dow"), col("hod"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))),


    // fixed-bound histogram per event type: width_bucket puts each
    // value in one of 10 equal bins over [0, 500) (SQL-standard edge
    // semantics: 0 below, n+1 at/above the bound — identical in both
    // engines). One narrow projection + one (type, bucket) aggregate —
    // the distributed histogram every profiling pass starts with.
    "q37_histogram" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          width_bucket(col("value"), lit(0.0), lit(500.0), lit(10L)).as("bucket"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"))),


    // z-score outlier detection: per-type mean/stddev from one
    // key-partitioned aggregate (DECIMAL sums of value and value², so
    // the moments are order-free), stats broadcast back onto the
    // stream, flag |z| beyond 3σ. The anomaly-flagging pass every
    // telemetry pipeline runs; at 100 TB the stats table stays one
    // row per type and the probe side never shuffles. The z-score is
    // 6-dp-rounded BEFORE the threshold compare so the kept set is
    // engine-stable at the boundary.
    "q39_outliers" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val mean = col("s1") / col("n")
      // greatest(var, 0): floating cancellation can push the variance
      // of a CONSTANT-valued group to ~-1e-17, where Spark's sqrt
      // returns NaN (which then SURVIVES the threshold — NaN orders
      // above every number) and DuckDB hard-errors; the sd > 0 filter
      // then drops zero-variance groups, which by definition have no
      // outliers
      val stats = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("s1"),
          sum((col("value") * col("value")).cast("decimal(28,8)"))
            .cast("double").as("s2"))
        .select(col("event_type"), mean.as("mean"),
          sqrt(greatest(col("s2") / col("n") - mean * mean, lit(0.0))).as("sd"))
        .filter(col("sd") > 0.0)
      e.join(broadcast(stats), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"),
          round((col("value") - col("mean")) / col("sd"), 6).as("z"))
        .filter(abs(col("z")) > 3.0)
    }),


    // recency weighting — the "prefer recent data" curation signal:
    // per-user event value decayed with a 7-day half-life against the
    // corpus reference time (max ts — deterministic, no wall clock).
    // Age is exact BIGINT micros; the decay is one-shot pow (6-dp
    // round — irrational, tie measure zero, the t10/ln class); terms
    // are DECIMAL-quantized so the per-user sum is order-free. Plan:
    // narrow term compute + 1-row broadcast + ONE keyed agg.
    "q53_time_decay" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        expr("unix_micros(ts)").as("us"), col("value"))
      // reference time collected once (1 row, an exact BIGINT — the
      // t14 lesson: a dependent 1-row aggregate re-scans the table
      // under its consumer even with AQE reuse); the column-pruned
      // max scan + the term scan are the only two table passes
      val refUs = ev.agg(max(col("us"))).collect()(0).getLong(0)
      ev.select(col("user_id"),
          round(col("value") * pow(lit(0.5),
            (lit(refUs) - col("us")) / lit(604800000000.0)), 6)
            .cast("decimal(18,6)").as("term"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("term")).cast("double").as("decayed_value"))
    }),


    // weighted deterministic sampling: keep probability proportional
    // to a quality weight (length-derived here), decided by comparing
    // a content-hash residue against the per-row weight — an INTEGER
    // compare, so the kept set is engine- and cluster-size-stable
    // (t7's uniform sampler with importance weights: the training-mix
    // upsampling/downsampling primitive). Narrow, no shuffle.
    "q42_weighted_sample" -> ((s, dir) => {
      val w1000 = least(greatest(expr("n_chars div 2"), lit(100L)), lit(900L))
      t(s, dir, "documents")
        .filter(pmod(DedupOps.md5Hash32(col("text")), lit(1000)) < w1000)
        .select(col("doc_id"), col("lang"), w1000.as("w1000"))
    }),


    // left outer join + aggregate: every customer, including the
    // order-less (count over the null-extended side = 0) — one
    // keyed join + one keyed agg; DECIMAL sum, coalesced before the
    // double cast so empty groups read 0.0 not NULL
    "q43_left_outer" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(col("o_totalprice").cast("decimal(18,2)")), lit(0))
            .cast("double").as("sum_price")))
  )
}
