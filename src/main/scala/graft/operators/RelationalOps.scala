package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GQuery, Tables}

/** Relational generalizations over the TPC-H-ish fixture tables. The
  * reference's surface stops at keyed aggregation + one windowed equi join
  * (SURVEY.md §2.5, §2.8); these exercise the same engine paths Spark users
  * need at 100 TB: multi-way joins with broadcast of small dims, partial/
  * final hash aggregation, rollup, semi/anti joins, and top-k via window
  * functions (never a driver-side sort).
  *
  * Float discipline: every FP aggregate is rounded to 2 decimals in BOTH the
  * Spark plan and the oracle SQL so summation-order differences between
  * engines can't break the hash compare.
  */
object RelationalOps {

  private def t(name: String)(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, name)

  // TPC-H Q1-style pricing summary: single scan, partial+final hash agg.
  private val q1 = GQuery(
    "q1_pricing_summary",
    (s, dir) =>
      t("lineitem")(s, dir)
        .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 2).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order")),
    Some("""SELECT l_returnflag, l_linestatus,
round(sum(l_quantity), 2) AS sum_qty,
round(sum(l_extendedprice), 2) AS sum_base_price,
round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
round(avg(l_quantity), 2) AS avg_qty,
round(avg(l_discount), 4) AS avg_disc,
count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus"""))

  // TPC-H Q3-style: 3-way join, agg, top-10 by revenue (deterministic
  // tiebreak on o_orderkey). customer is the small side → broadcast.
  private val q3 = GQuery(
    "q3_top_orders",
    (s, dir) => {
      val c = t("customer")(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = t("orders")(s, dir)
        .filter(col("o_orderdate") < lit("1998-07-01").cast("timestamp"))
      val l = t("lineitem")(s, dir)
        .filter(col("l_shipdate") > lit("1998-07-01").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
    Some("""SELECT o_orderkey, o_orderdate,
round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10"""))

  // TPC-H Q5-style: 6-way join through nation/region (tiny dims →
  // broadcast), revenue per nation.
  private val q5 = GQuery(
    "q5_region_revenue",
    (s, dir) => {
      val c = t("customer")(s, dir)
      val o = t("orders")(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val l = t("lineitem")(s, dir)
      val su = t("supplier")(s, dir)
      val n = t("nation")(s, dir)
      val r = t("region")(s, dir).filter(col("r_name") === "ASIA")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    },
    Some("""SELECT n_name,
round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name"""))

  // Broadcast star join over tiny dims: suppliers per region.
  private val qBroadcast = GQuery(
    "q_broadcast_star",
    (s, dir) =>
      t("supplier")(s, dir)
        .join(broadcast(t("nation")(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t("region")(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_suppliers"), round(sum(col("s_acctbal")), 2).as("total_acctbal")),
    Some("""SELECT r_name, count(*) AS n_suppliers, round(sum(s_acctbal), 2) AS total_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name"""))

  // Top-k per group via window function (distributed; no global sort).
  private val qTopk = GQuery(
    "q_topk_per_brand",
    (s, dir) => {
      val w = Window.partitionBy("p_brand")
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      t("part")(s, dir)
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
    },
    Some("""SELECT p_brand, p_partkey, p_retailprice, rn FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part
) WHERE rn <= 3"""))

  // Rollup (grouping-set aggregation the reference lacks; SURVEY.md §2.5).
  private val qRollup = GQuery(
    "q_rollup_orders",
    (s, dir) =>
      t("orders")(s, dir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("total_price")),
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt, round(sum(o_totalprice), 2) AS total_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"""))

  // Left-semi join (EXISTS): customers holding at least one big order.
  private val qSemi = GQuery(
    "q_semi_join",
    (s, dir) => {
      val bigOrders = t("orders")(s, dir).filter(col("o_totalprice") > 300000.0)
      t("customer")(s, dir)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    },
    Some("""SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)"""))

  // Left-anti join (NOT EXISTS): customers with no orders at all.
  private val qAnti = GQuery(
    "q_anti_join",
    (s, dir) =>
      t("customer")(s, dir)
        .join(t("orders")(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")),
    Some("""SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""))

  // Cube over two dims (full grouping-set lattice; SURVEY.md §2.5 notes
  // these come free from Spark where the reference has nothing).
  private val qCube = GQuery(
    "q_cube_orders",
    (s, dir) =>
      t("orders")(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt")),
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"""))

  // Statistical aggregates: sample stddev/variance + cross-column
  // covariance/correlation per group — single pass, partial/final hash agg
  // (Spark merges per-partition moment sketches, so no value buffering at
  // any scale). Both engines round after the same definitions; the +1e-9
  // nudge guards the re-associated moment sums like a2b/e_centroids.
  private val qStatsAgg = GQuery(
    "q_stats_agg",
    (s, dir) =>
      t("lineitem")(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_extendedprice")) + lit(1e-9), 2).as("price_sd"),
          round(var_samp(col("l_quantity")) + lit(1e-9), 4).as("qty_var"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")) + lit(1e-9), 2).as("qty_price_cov"),
          round(corr(col("l_quantity"), col("l_extendedprice")) + lit(1e-9), 6).as("qty_price_corr")),
    Some("""SELECT l_returnflag,
       round(stddev_samp(l_extendedprice) + 1e-9, 2) AS price_sd,
       round(var_samp(l_quantity) + 1e-9, 4) AS qty_var,
       round(covar_samp(l_quantity, l_extendedprice) + 1e-9, 2) AS qty_price_cov,
       round(corr(l_quantity, l_extendedprice) + 1e-9, 6) AS qty_price_corr
FROM lineitem GROUP BY l_returnflag"""),
    "Moment-sketch statistical aggregates (stddev/var/covar/corr).")

  // Explicit GROUPING SETS with grouping() disambiguation — the lattice
  // shape cube/rollup can't express (two independent single-dim rollups,
  // no cross product).
  private val qGroupingSets = GQuery(
    "q_grouping_sets",
    (s, dir) => {
      t("orders")(s, dir).createOrReplaceTempView("orders_gs")
      s.sql("""SELECT o_orderstatus, o_orderpriority,
       grouping(o_orderstatus) AS g_status, grouping(o_orderpriority) AS g_prio,
       count(*) AS cnt
FROM orders_gs
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""")
    },
    Some("""SELECT o_orderstatus, o_orderpriority,
       grouping(o_orderstatus) AS g_status, grouping(o_orderpriority) AS g_prio,
       count(*) AS cnt
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""),
    "Grouping-set lattice with grouping() flags.")

  // Exact distinct count per group — the oracle-checkable side of
  // cardinality estimation.
  private val qCountDistinct = GQuery(
    "q_count_distinct",
    (s, dir) =>
      t("lineitem")(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts")),
    Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
FROM lineitem GROUP BY l_returnflag"""))

  // Engine-native HLL++ (approx_count_distinct): the 100 TB cardinality
  // path — single pass, fixed memory, no distinct shuffle. The sketch
  // VALUE is engine-specific, so the oracle-checkable claim is the
  // estimator CONTRACT: |estimate − exact| <= 3·rsd·exact (default
  // rsd = 0.05). HLL++ is hash-based with no RNG, so the gate bit is a
  // pure deterministic function of the fixture; both engines agree on
  // the exact count and on the gate passing, and the row hash-matches.
  // The exact countDistinct here is the verification harness, not the
  // production plan — the approx path alone (or q_hll_sketch below) is
  // what runs at scale.
  //
  // FIXTURE-PINNED GATE: the oracle hardcodes within_3rsd = 1, which is
  // correct for the current fixtures but is a property of (fixture, rsd
  // config, Spark's HLL++ implementation) — a new fixture, rsd change,
  // or Spark upgrade can flip this row red with NO engine bug. If that
  // happens, re-verify the estimator contract holds (it should at the
  // default rsd with 3x slack) and re-pin. Perf note: this query pays
  // for an exact distinct ON PURPOSE (the harness); never read its
  // bench time as the cardinality path's cost — that's q_hll_sketch.
  private val qHll = GQuery(
    "q_hll_distinct",
    (s, dir) =>
      t("lineitem")(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_exact"),
          approx_count_distinct(col("l_partkey")).as("approx"))
        .select(col("l_returnflag"), col("n_exact"),
          (abs(col("approx") - col("n_exact")) <= col("n_exact") * lit(0.15))
            .cast("int").as("within_3rsd")),
    Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact, 1 AS within_3rsd
FROM lineitem GROUP BY l_returnflag"""),
    "Engine-native HLL++ gated against the exact count (|err| <= 3*rsd); the deterministic gate is the oracle-checked claim.")

  // Deterministic cross-engine HLL: because we control the hash (md5-derived
  // 48-bit uint), the whole sketch is SQL-expressible and hash-matches the
  // oracle exactly — unlike engine-native HLL++ (q_hll_distinct above) whose
  // sketches differ by implementation. m=64 registers; bucket = low 6 bits,
  // rho = leading-zero rank of the remaining 42 bits (integer CASE ladder —
  // no log2/FP anywhere); estimate = alpha*m^2 / sum(2^-M_j). Every 2^-M term
  // is an exact power of two, so the 64-term sum is order-independent in
  // IEEE754 and identical across engines. Deliberately the RAW estimator:
  // the small-range linear-counting correction needs ln(), which is not
  // bit-reproducible across engines, so below ~2.5m (~160) distinct the
  // estimate is biased high (PropertiesSpec pins the valid regime). At
  // 100 TB this is the cardinality plan: one pass, 64 longs of state per
  // group, no distinct shuffle.
  private[operators] val hllM = 64
  // leading-zero rank of the 42-bit remainder via minimal-length binary
  // rendering — bin() is minimal in BOTH engines, so this one string works
  // verbatim on each side. (An earlier 42-branch CASE ladder blew the
  // generated projection past codegen limits: 2x slower at a 16x scale-up.)
  private[operators] def hllRho(w: String): String =
    s"(CASE WHEN $w > 0 THEN 43 - length(bin($w)) ELSE 43 END)"

  /** Reusable HLL core: per-`group` cardinality estimate of `valueExpr`
    * (any SQL expression; hashed through md5 to a 48-bit uint — via the
    * native [[org.apache.spark.sql.graftext.Md5Hash48]] kernel, which
    * skips the hex-string render + conv re-parse of the built-in
    * composition; the DuckDB oracle computes the identical value from the
    * hex prefix). One pass, map-side register merge, 64 longs of state
    * per group. Public so callers (and the property tests) can run it
    * over arbitrary frames. */
  def hllEstimate(df: DataFrame, group: String, valueExpr: String): DataFrame =
    df.select(col(group), graft.functions.GraftFunctions
        .md5Hash48(expr(s"cast(($valueExpr) AS string)")).as("h"))
      .selectExpr(group, s"h % $hllM AS bucket", s"${hllRho("(h div 64)")} AS rho")
      .groupBy(col(group), col("bucket"))
      .agg(max(col("rho")).as("m"))
      .groupBy(col(group))
      .agg((sum(expr("1.0 / cast(shiftleft(1L, m) AS double)"))
        + (lit(hllM) - count(lit(1)))).as("sum_inv"))
      .select(col(group),
        round(expr(s"0.709 * $hllM * $hllM") / col("sum_inv") + lit(1e-9), 2).as("hll_est"))

  private val qHllSketch = GQuery(
    "q_hll_sketch",
    (s, dir) => hllEstimate(t("lineitem")(s, dir), "l_returnflag", "l_partkey"),
    Some(s"""WITH h AS (SELECT l_returnflag, (('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 12))::BIGINT) AS h FROM lineitem),
r AS (SELECT l_returnflag, h % $hllM AS bucket, max(${hllRho("(h // 64)")}) AS m FROM h GROUP BY 1, 2),
e AS (SELECT l_returnflag, sum(1.0 / (1::BIGINT << m)::DOUBLE) + ($hllM - count(*)) AS sum_inv FROM r GROUP BY 1)
SELECT l_returnflag, round(0.709 * $hllM * $hllM / sum_inv + 1e-9, 2) AS hll_est FROM e"""),
    "Hash-deterministic HLL cardinality sketch, oracle-verified bit-for-bit.")

  // Correlated scalar subquery (Catalyst decorrelates to an aggregate +
  // join — no per-row re-execution): each customer's priciest order.
  // The comparison is equality on STORED values (no arithmetic), so the
  // cross-engine compare is exact, and every customer with orders matches
  // at least one row at any scale factor.
  private val qCorrelated = GQuery(
    "q_correlated_sub",
    (s, dir) => {
      t("orders")(s, dir).createOrReplaceTempView("orders_v")
      s.sql("""SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
FROM orders_v o
WHERE o_totalprice = (SELECT max(i.o_totalprice) FROM orders_v i WHERE i.o_custkey = o.o_custkey)""")
    },
    Some("""SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
FROM orders o
WHERE o_totalprice = (SELECT max(i.o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey)"""),
    "Correlated scalar subquery, decorrelated by the optimizer.")

  // Interpolated percentiles (both engines use linear interpolation).
  // Computed by DISTRIBUTED two-phase rank selection — NOT the builtin
  // `percentile()`, whose ObjectHashAggregate buffers every value of a
  // group in one reducer (measured 80x superlinear at a 16x scale-up; an
  // OOM at 100 TB). Range-partitioning on (group, value) spreads the
  // global sort over all tasks; local row_number + a tiny per-(partition,
  // group) count prefix-sum yields exact global ranks; only the 4 target
  // ranks per group survive the filter, and the interpolation matches
  // quantile_cont's lower + frac * (upper - lower). Every stage is
  // distributed — no per-group serialization point at any scale.
  //
  // The two-level rank is keyed on a DETERMINISTIC value bucket
  // (floor(v / 1000)), not spark_partition_id(): a pid is assigned at
  // execution time, so the local-rank subtree and the count/offset
  // subtree could silently disagree under a ReuseExchange miss or
  // divergent AQE coalescing (an earlier revision pinned the pid with
  // localCheckpoint — the bucket keying removes both the hazard and the
  // materialization). Within a (group, bucket) cell, equal values make
  // row_number's tie order irrelevant: the VALUE at any global rank is
  // unique regardless. Bucket skew is bounded by the value distribution;
  // a pathological single-value hot bucket degrades to the same
  // single-task window any rank-selection scheme has for that value, and
  // a second bucketing level (the same recurrence) subdivides it if real
  // data demands.
  private val qPercentiles = GQuery(
    "q_percentiles",
    (s, dir) => {
      val v = t("lineitem")(s, dir).select(col("l_returnflag"), col("l_extendedprice").as("v"))
      val parts = v.withColumn("bkt", expr("cast(floor(v / 1000.0) AS bigint)"))
      // Round-20 (verdict task 6, guide §2.3): the old plan ranked EVERY
      // row — a full-data exchange + sort under the (bkt, group) window —
      // even though only the <= 4 target ranks per group survive. The
      // count histogram (bounded cells, map-side combined, PINNED for its
      // three consumers) now locates the candidate buckets that contain a
      // target rank FIRST; the second pass broadcast-joins that <= 4-
      // buckets-per-group list into the scan, so only candidate-bucket
      // rows (one bucket's width of data per target) are ever exchanged
      // and ranked. Ranks are unchanged: a candidate bucket's rows are
      // all present, so its local row_number + the same prefix-sum offset
      // is the same global rank the full ranking assigned.
      val cnt = graft.Checkpoints.pin(
        parts.groupBy(col("bkt"), col("l_returnflag")).agg(count(lit(1)).as("c")))
      val off = cnt.withColumn("off", coalesce(sum(col("c")).over(
          Window.partitionBy("l_returnflag").orderBy(col("bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("bkt"), col("l_returnflag"), col("off"), col("c"))
      val targets = cnt.groupBy(col("l_returnflag")).agg(sum(col("c")).as("n"))
        .withColumn("h50", expr("(n - 1) * 0.5"))
        .withColumn("h90", expr("(n - 1) * 0.9"))
        .withColumn("lo50", expr("cast(floor(h50) AS bigint) + 1"))
        .withColumn("hi50", expr("least(cast(floor(h50) AS bigint) + 2, n)"))
        .withColumn("lo90", expr("cast(floor(h90) AS bigint) + 1"))
        .withColumn("hi90", expr("least(cast(floor(h90) AS bigint) + 2, n)"))
      def inBkt(r: String) =
        col(r) > col("off") && col(r) <= col("off") + col("c")
      val candBkts = off
        .join(targets.select(col("l_returnflag"), col("lo50"), col("hi50"),
          col("lo90"), col("hi90")), Seq("l_returnflag"))
        .filter(inBkt("lo50") || inBkt("hi50") || inBkt("lo90") || inBkt("hi90"))
        .select(col("bkt"), col("l_returnflag"), col("off"))
      parts.join(broadcast(candBkts), Seq("bkt", "l_returnflag"))
        .withColumn("lrn",
          row_number().over(Window.partitionBy("bkt", "l_returnflag").orderBy(col("v"))))
        .withColumn("rn", col("lrn") + col("off"))
        .join(broadcast(targets), Seq("l_returnflag"))
        .filter(col("rn") === col("lo50") || col("rn") === col("hi50")
          || col("rn") === col("lo90") || col("rn") === col("hi90"))
        .groupBy(col("l_returnflag"), col("h50"), col("h90"),
          col("lo50"), col("hi50"), col("lo90"), col("hi90"))
        .agg(
          max(when(col("rn") === col("lo50"), col("v"))).as("v50lo"),
          max(when(col("rn") === col("hi50"), col("v"))).as("v50hi"),
          max(when(col("rn") === col("lo90"), col("v"))).as("v90lo"),
          max(when(col("rn") === col("hi90"), col("v"))).as("v90hi"))
        .select(col("l_returnflag"),
          round(expr("v50lo + (h50 - floor(h50)) * (v50hi - v50lo)") + lit(1e-9), 2).as("p50"),
          round(expr("v90lo + (h90 - floor(h90)) * (v90hi - v90lo)") + lit(1e-9), 2).as("p90"))
    },
    Some("""SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5) + 1e-9, 2) AS p50,
       round(quantile_cont(l_extendedprice, 0.9) + 1e-9, 2) AS p90
FROM lineitem GROUP BY l_returnflag"""))

  // Single-pass histogram-bucket quantile ESTIMATE — the streaming/
  // one-scan dual of q_percentiles' exact two-phase selection. Fixed
  // value buckets (width 1000, same bucketing as the exact query's
  // first phase) + per-group cumulative counts; the quantile is linear
  // interpolation within the crossing bucket (uniform-within-bucket
  // assumption — error bounded by bucket width). At 100 TB this is ONE
  // partial-agg shuffle of (group, bucket) pairs with bounded state
  // (#buckets per group), no second pass over the data and no
  // rank-selection join — the sketch-style tradeoff next to the exact
  // operator. Float discipline: counts are integers, every literal is
  // an explicit DOUBLE (e0 suffix — a bare 0.5/1000.0 parses as DECIMAL
  // on BOTH engines and diverges), interpolation is identical IEEE ops,
  // round nudged. Exactly one bucket per group satisfies
  // prev < t <= cum, so the max(CASE...) pick is single-valued.
  private val qQuantileHist = GQuery(
    "q_quantile_hist",
    (s, dir) => {
      val byFlag = Window.partitionBy("l_returnflag")
      val b = t("lineitem")(s, dir)
        .select(col("l_returnflag"),
          expr("cast(floor(l_extendedprice / 1000.0) AS bigint)").as("bkt"))
        .groupBy(col("l_returnflag"), col("bkt")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(byFlag.orderBy(col("bkt"))))
        .withColumn("prev", col("cum") - col("c"))
        .withColumn("n", sum(col("c")).over(byFlag))
      b.groupBy(col("l_returnflag")).agg(
        max(when(expr("prev < 0.5e0 * n AND 0.5e0 * n <= cum"),
          expr("round(bkt * 1000e0 + 1000e0 * (0.5e0 * n - prev) / c + 1e-9, 2)"))).as("p50_est"),
        max(when(expr("prev < 0.9e0 * n AND 0.9e0 * n <= cum"),
          expr("round(bkt * 1000e0 + 1000e0 * (0.9e0 * n - prev) / c + 1e-9, 2)"))).as("p90_est"))
    },
    Some("""WITH b AS (SELECT l_returnflag,
             CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS bkt, count(*) AS c
           FROM lineitem GROUP BY 1, 2),
w AS (SELECT l_returnflag, bkt, c,
             CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY bkt) AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
      FROM b),
x AS (SELECT l_returnflag, bkt, c, cum, cum - c AS prev, n FROM w)
SELECT l_returnflag,
  max(CASE WHEN prev < 0.5e0 * n AND 0.5e0 * n <= cum
      THEN round(bkt * 1000e0 + 1000e0 * (0.5e0 * n - prev) / c + 1e-9, 2) END) AS p50_est,
  max(CASE WHEN prev < 0.9e0 * n AND 0.9e0 * n <= cum
      THEN round(bkt * 1000e0 + 1000e0 * (0.9e0 * n - prev) / c + 1e-9, 2) END) AS p90_est
FROM x GROUP BY 1"""),
    "One-pass histogram-bucket quantile estimate (p50/p90 per return flag).")

  // Left outer join with aggregation over the nullable side.
  private val qOuter = GQuery(
    "q_outer_join",
    (s, dir) =>
      t("customer")(s, dir)
        .join(t("orders")(s, dir), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent")),
    Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
       round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey"""))

  // Pivot: one column per order status, counts per priority. Spark's
  // relational pivot == conditional aggregation; the oracle spells out
  // the same conditional aggregates (statuses are the fixed domain O/F/P).
  private val qPivot = GQuery(
    "q_pivot_status",
    (s, dir) =>
      t("orders")(s, dir)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .na.fill(0L),
    Some("""SELECT o_orderpriority,
       count(*) FILTER (o_orderstatus = 'O') AS "O",
       count(*) FILTER (o_orderstatus = 'F') AS "F",
       count(*) FILTER (o_orderstatus = 'P') AS "P"
FROM orders GROUP BY o_orderpriority"""))

  // Analytic-function suite: rank/dense_rank/lead/first_value in one
  // pass over a single window spec (one shuffle + one sort).
  private val qWindowSuite = GQuery(
    "q_window_suite",
    (s, dir) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t("orders")(s, dir)
        .select(col("o_orderstatus"), col("o_orderkey"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          lead(col("o_orderkey"), 1).over(w).as("next_key"),
          first(col("o_orderkey")).over(w).as("top_key"))
        .filter(col("rnk") <= 5)
    },
    Some("""SELECT o_orderstatus, o_orderkey, rnk, drnk, next_key, top_key FROM (
  SELECT o_orderstatus, o_orderkey,
         rank() OVER w AS rnk,
         dense_rank() OVER w AS drnk,
         lead(o_orderkey, 1) OVER w AS next_key,
         first_value(o_orderkey) OVER w AS top_key
  FROM orders
  WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
) WHERE rnk <= 5"""))

  // Window FRAME semantics beyond ROWS: a value-based RANGE frame (peers
  // by price distance, not row position) plus the rank-family functions
  // ntile / percent_rank / cume_dist — all ANSI-identical across engines.
  // percent_rank/cume_dist are exact small-integer ratios in doubles, so
  // no rounding is needed; the RANGE sum is integer (order counts).
  private val qWindowFrames = GQuery(
    "q_window_frames",
    (s, dir) => {
      // the double-valued RANGE offset needs the SQL form (the DataFrame
      // rangeBetween API is Long-only)
      t("orders")(s, dir).createOrReplaceTempView("orders_wf")
      s.sql("""SELECT o_orderstatus, o_orderkey,
       ntile(10) OVER w AS decile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cdist,
       count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
         RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING) AS peers_within_10k
FROM orders_wf WHERE o_orderkey % 7 = 0
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)""")
    },
    Some("""SELECT o_orderstatus, o_orderkey,
       ntile(10) OVER w AS decile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cdist,
       count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
         RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING) AS peers_within_10k
FROM orders WHERE o_orderkey % 7 = 0
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)"""),
    "RANGE frame + ntile/percent_rank/cume_dist window coverage.")

  // Unpivot (wide -> long): the inverse of q_pivot_status. Spark's
  // Dataset.unpivot emits one row per (id, value-column); a pure map-side
  // explode — the 3x row growth happens inside the scan stage and partial
  // aggregation collapses it before the (flag, metric) shuffle, so at
  // 100 TB the shuffle carries 15 rows, not 3x the table.
  private val qUnpivot = GQuery(
    "q_unpivot",
    (s, dir) =>
      t("lineitem")(s, dir)
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "val")
        .groupBy(col("l_returnflag"), col("metric"))
        .agg(round(avg(col("val")) + lit(1e-9), 4).as("avg_val"),
          count(lit(1)).as("n")),
    Some("""SELECT l_returnflag, metric, round(avg(val) + 1e-9, 4) AS avg_val, count(*) AS n
FROM (
  SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
  UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem) u
GROUP BY 1, 2"""),
    "Unpivot three measure columns to long form, aggregate per metric.")

  // Manually salted shuffle join — the pre-AQE remedy for a hot join key,
  // kept as a first-class pattern because AQE's skew split only fires on
  // sort-merge joins inside its size thresholds. The fact side derives a
  // deterministic salt in [0,8); the dim side is replicated 8x with
  // explode(sequence(...)), so each (key, salt) shard lands on its own
  // reducer: a key carrying 8 billion rows becomes 8 tasks of 1 billion.
  // Replication costs 8x the DIM size only — the fact side is never
  // duplicated. The oracle is the plain join: salting must be
  // result-transparent.
  //
  // WHICH TO USE (measured at x16 with a 20% hot key, broadcast
  // disabled — BASELINE.md "Salted-join vs AQE skew-join A/B"): for
  // BATCH shuffle joins under AQE, prefer the PLAIN join —
  // OptimizeSkewedJoin split the hot partitions at runtime and beat
  // this manual salt 1.74 s vs 2.89 s (the salt's dim explode + wider
  // exchange are pure overhead once AQE can split). Reach for manual
  // salting where AQE cannot: streaming/stateful exchanges (AQE is
  // batch-only), keyed AGGREGATION skew (a2b's regime — no runtime
  // split exists for one giant group's reduce), or AQE-disabled clusters.
  private val qSaltedJoin = GQuery(
    "q_salted_join",
    (s, dir) => {
      val li = t("lineitem")(s, dir)
        .withColumn("salt", expr("cast((l_orderkey + l_linenumber) % 8 AS int)"))
      val p = t("part")(s, dir)
        .select(col("p_partkey"), col("p_brand"),
          explode(sequence(lit(0), lit(7))).as("p_salt"))
      li.join(p, col("l_partkey") === col("p_partkey") && col("salt") === col("p_salt"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) + lit(1e-9), 2)
            .as("revenue"))
    },
    Some("""SELECT p_brand, count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1"""),
    "Deterministically salted skew join (8-way key sharding), plain-join oracle.")

  // Full outer join — both null sides exercised: the events stream has
  // user_ids without a customer row and customers who never emitted an
  // event. The aggregate-THEN-join order matters at scale: joining first
  // would shuffle the full event stream against customer, aggregating
  // first shrinks the left side to one row per user before the join.
  private val qFullOuter = GQuery(
    "q_full_outer",
    (s, dir) => {
      val ue = t("events")(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      val c = t("customer")(s, dir).select(col("c_custkey"), col("c_mktsegment"))
      ue.join(c, col("user_id") === col("c_custkey"), "full_outer")
        .select(coalesce(col("user_id"), col("c_custkey")).as("id"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("c_mktsegment"), lit("none")).as("segment"))
    },
    Some("""WITH ue AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1)
SELECT coalesce(user_id, c_custkey) AS id,
       coalesce(n_events, 0) AS n_events,
       coalesce(c_mktsegment, 'none') AS segment
FROM ue FULL OUTER JOIN customer ON user_id = c_custkey"""),
    "Full outer join with both unmatched sides present, aggregate-before-join.")

  // TPC-H Q10-style: revenue lost to returned items, per customer — the
  // returns-analysis join (customer x orders x returned lineitems, nation
  // broadcast). Scale shape: the orders->lineitem join shuffles on
  // orderkey (both huge), the customer join shuffles on custkey, nation
  // broadcasts; top-20 is a TakeOrdered (no global sort), with revenue
  // rounded BEFORE ranking + custkey tiebreak so the cut line can't sit
  // on float noise.
  private val q10 = GQuery(
    "q10_returned_revenue",
    (s, dir) => {
      val c = t("customer")(s, dir)
      val o = t("orders")(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      val l = t("lineitem")(s, dir).filter(col("l_returnflag") === "R")
      val n = t("nation")(s, dir)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    Some("""SELECT c_custkey, c_name, n_name,
round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND c_nationkey = n_nationkey
  AND l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20"""))

  // TPC-H Q8-style: one supplier nation's share of the ASIA market for
  // PROMO parts, per order year. Scale shape: filtered part broadcasts
  // into the lineitem scan (1/6 of a dim), the lineitem->orders join
  // shuffles on orderkey (both huge), orders->customer shuffles on
  // custkey, nation/region broadcast, supplier joins on suppkey
  // (AQE-broadcast here; shuffle at 100 TB). Determinism: the volume
  // l_extendedprice*(1-l_discount) is a 4-decimal product, so it is
  // integer-scaled x10000 BEFORE summing (exact long sums on both
  // engines, per the BM25 pattern); the share is then a single
  // long/long division rounded once, and the year is cast to BIGINT on
  // both sides so the schemas agree.
  private val q8 = GQuery(
    "q8_market_share",
    (s, dir) => {
      val p = t("part")(s, dir).filter(col("p_type") === "PROMO")
      val o = t("orders")(s, dir)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val l = t("lineitem")(s, dir)
      val c = t("customer")(s, dir)
      val su = t("supplier")(s, dir)
      val cn = t("nation")(s, dir)
      val sn = t("nation")(s, dir)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val r = t("region")(s, dir).filter(col("r_name") === "ASIA")
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(cn), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
        .select(year(col("o_orderdate")).cast("long").as("o_year"),
          expr("CAST(round(l_extendedprice * (1e0 - l_discount) * 10000e0) AS BIGINT)").as("v"),
          col("supp_nation"))
        .groupBy(col("o_year"))
        .agg(sum(col("v")).as("total_v"),
          sum(when(col("supp_nation") === "NATION_7", col("v")).otherwise(0L)).as("nat_v"))
        .select(col("o_year"),
          round(col("nat_v") / col("total_v").cast("double") + lit(1e-9), 6).as("mkt_share"))
    },
    Some("""WITH v AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT) AS v,
         sn.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_7' THEN v ELSE 0 END)
             / CAST(sum(v) AS DOUBLE) + 1e-9, 6) AS mkt_share
FROM v GROUP BY 1"""))

  // TPC-H Q14-style: share of revenue from PROMO parts per ship month —
  // the single-join share report. Scale shape: the full part dim
  // broadcasts into the filtered lineitem scan (ship-date predicate
  // pushed to parquet), one month-keyed partial agg. Same exact-sum
  // discipline as q8: volumes integer-scale x10000 before summing, the
  // share is one division rounded once.
  private val q14 = GQuery(
    "q14_promo_share",
    (s, dir) => {
      val p = t("part")(s, dir)
      val l = t("lineitem")(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
          expr("CAST(round(l_extendedprice * (1e0 - l_discount) * 10000e0) AS BIGINT)").as("v"),
          col("p_type"))
        .groupBy(col("ship_month"))
        .agg(sum(when(col("p_type") === "PROMO", col("v")).otherwise(0L)).as("pv"),
          sum(col("v")).as("tv"))
        .select(col("ship_month"),
          round(lit(100.0) * col("pv") / col("tv").cast("double") + lit(1e-9), 6).as("promo_share"))
    },
    Some("""WITH v AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
         CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS v,
         p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00')
SELECT ship_month,
       round(100e0 * sum(CASE WHEN p_type = 'PROMO' THEN v ELSE 0 END)
             / CAST(sum(v) AS DOUBLE) + 1e-9, 6) AS promo_share
FROM v GROUP BY 1"""))

  // TPC-H Q6-style: potential revenue increase from discount-band
  // lineitems — the pure scan-aggregate. Every predicate (ship-date
  // range, discount band, quantity cap) pushes to the parquet scan and
  // the projection prunes to 2 columns; the whole query is one
  // WholeStageCodegen span folding into a single row. Determinism: the
  // product of two 2-dp decimals integer-scales x10000 into an exact
  // long sum; the emitted revenue is that sum divided back once.
  private val q6 = GQuery(
    "q6_forecast_revenue",
    (s, dir) =>
      t("lineitem")(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .select(expr("CAST(round(l_extendedprice * l_discount * 10000e0) AS BIGINT)").as("v"))
        .agg(count(lit(1)).as("n_items"),
          round(expr("CAST(sum(v) AS DOUBLE) / 10000e0") + lit(1e-9), 2).as("revenue")),
    Some("""SELECT count(*) AS n_items,
       round(CAST(sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)) AS DOUBLE)
             / 10000e0 + 1e-9, 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24"""))

  // 2-D Pareto frontier (skyline): per (brand, type), the points no other
  // group dominates on (total quantity sold, unit price in cents) — the
  // multi-objective "best tradeoffs" operator (catalog analytics, config
  // search). Both dimensions are exact integers (rounded-sum quantity;
  // integer-division price), so dominance never sits on float noise.
  //
  // Plan (the 100 TB shape): dominance is decomposed hierarchically
  // instead of the O(n^2) self-join the SQL definition implies —
  // (1) bucket points by x-range; (2) per-bucket max-y (tiny partial
  // agg); (3) a suffix-max over the BUCKET SUMMARY (a frame with one row
  // per bucket — the only global window, bounded by the value range, not
  // the data); (4) per-point dominance test = in-bucket RANGE windows
  // (x' > x and x' >= x neighbors) + the broadcast cross-bucket suffix.
  // Every per-point stage is partitioned by bucket; nothing quadratic,
  // no global point sort.
  private val qParetoFrontier = GQuery(
    "q_pareto_frontier",
    (s, dir) => {
      // Round-20: the separately-aggregated bucket summary (and the pin
      // that kept the point aggregate from re-running for it, plus the
      // broadcast join that re-attached it) is gone — suf_gt is now a
      // range window DIRECTLY on the point frame: max(y) over bx' > bx,
      // identical to max-over-bucket-maxes by associativity of max. The
      // point frame is one row per (brand, type), bounded by catalog
      // cardinality at any corpus size, so the single-partition suffix
      // window is exactly as bounded as the bucket-summary window it
      // replaces; one eager pin job, one aggregate branch and one
      // broadcast join drop out of the plan.
      val pts = t("lineitem")(s, dir)
        .join(t("part")(s, dir), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"))
        .agg(
          expr("CAST(round(sum(l_quantity), 0) AS BIGINT)").as("x"),
          expr("sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))").as("revc"))
        .filter(col("x") > 0)
        .withColumn("y", expr("revc div x"))
        .select(col("p_brand"), col("p_type"), col("x"), col("y"))
      val bucketed = pts.withColumn("bx", expr("x div 1000"))
      val inB = Window.partitionBy("bx").orderBy(col("x").desc)
      bucketed
        .withColumn("maxy_gt_in", max(col("y")).over(
          inB.rangeBetween(Window.unboundedPreceding, -1)))
        .withColumn("maxy_ge_in", max(col("y")).over(
          inB.rangeBetween(Window.unboundedPreceding, 0)))
        .withColumn("suf_gt", max(col("y")).over(
          Window.orderBy(col("bx").desc).rangeBetween(Window.unboundedPreceding, -1)))
        .filter(
          coalesce(greatest(col("maxy_gt_in"), col("suf_gt")),
            lit(Long.MinValue)) < col("y") &&
          !(col("maxy_ge_in") > col("y")))
        .select(col("p_brand"), col("p_type"),
          col("x").as("total_qty"), col("y").as("unit_price_cents"))
    },
    Some("""WITH s AS (
  SELECT p_brand, p_type,
         CAST(round(sum(l_quantity), 0) AS BIGINT) AS x,
         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS revc
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2 HAVING CAST(round(sum(l_quantity), 0) AS BIGINT) > 0),
pts AS (SELECT p_brand, p_type, x, revc // x AS y FROM s)
SELECT p_brand, p_type, x AS total_qty, y AS unit_price_cents
FROM pts a
WHERE NOT EXISTS (
  SELECT 1 FROM pts b
  WHERE (b.x > a.x AND b.y >= a.y) OR (b.x >= a.x AND b.y > a.y))"""),
    "2-D Pareto frontier over (volume, unit price) — hierarchical dominance, no all-pairs.")

  // Iterative graph centrality: 5 rounds of PageRank over the
  // symmetrized customer<->supplier purchase graph (an edge per distinct
  // trading pair), ranking suppliers by how central they sit in the
  // purchase network — the walk-based importance signal (the family web
  // curation uses for URL/host authority). EVERY step is exact integer
  // arithmetic: ranks live in a 1e12 fixed-point mass domain, each
  // round is r'(v) = (15·(S div n)) div 100 + (85·Σ_{u→v} r(u) div
  // deg(u)) div 100 — integer division is truncation on positive values
  // in BOTH engines, so the fixpoint trajectory is bit-identical and
  // the oracle replays it as 5 chained CTEs. Scale: each round is one
  // edge-keyed join + one dst-keyed partial agg (the d_dedup_groups
  // loop shape); localCheckpoint cuts lineage per round; node count
  // enters as a broadcast one-row frame, never a driver scalar.
  private val qPagerank = GQuery(
    "q_pagerank",
    (s, dir) => {
      val SOff = 1000000000L
      val S = 1000000000000L
      val pairs = t("lineitem")(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(t("orders")(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + SOff).as("sn"))
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("sn").as("dst"))
        .union(pairs.select(col("sn").as("src"), col("c").as("dst")))
        .transform(graft.Checkpoints.pin(_))
      // Round-19 shape fix (guide §2.3/§2.4): the iteration previously
      // joined the EDGE-SIZED frame against a per-round recomputed `deg`
      // (one extra aggregation + one extra edge-sized shuffle join x5) and
      // carried `rank` per edge row. `deg` is iteration-invariant, and
      // deg's key set IS the node set (every node appears as a src of the
      // symmetrized edges), so the degree rides the pinned per-node base
      // once; `contrib = rank div deg` collapses to a per-NODE map before
      // the edge join, and the edge exchange carries only (src, dst).
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val base = {
        val b0 = deg.select(col("src").as("node"), col("deg"))
        b0.crossJoin(broadcast(b0.agg(count(lit(1)).as("nn"))))
      }.transform(graft.Checkpoints.pin(_))
      // No per-round pin: the round count is a FIXED 5 and each round's
      // frame is referenced exactly once by the next (a linear chain, no
      // duplicated subtrees), so lineage is statically bounded and the
      // whole fixpoint executes as ONE action instead of five
      // checkpoint-barrier jobs — the pinned frames are the ITERATION-
      // INVARIANT ones (edges, base), which every round re-reads.
      // Round-20 (guide §3.1): both per-round joins carry SHUFFLE_HASH
      // hints. The planner's default sort-merge re-SORTED the edge frame
      // (and the per-node frames) inside every round — the exchanges
      // themselves are reused across rounds (identical canonical
      // subtrees), but a sort above a reused stage re-executes per
      // consumer, so the 5-round chain paid 5 edge-sized sorts that a
      // hash join does not need. Build sides are the per-NODE frames
      // (contrib / inflow), never the edge frame, so per-partition build
      // memory is node-proportional within one partition — the same
      // bound the aggregation in the round already holds. Interleaved
      // same-host A/B (local[32], sf0.1, 5 passes each): SMJ min 3.557 /
      // med 3.91 vs SHJ min 2.672 / med 2.96.
      var cur = base.select(col("node"), col("deg"), expr(s"$S div nn").as("rank"))
      for (_ <- 1 to 5) {
        val inflow = cur
          .select(col("node"), expr("rank div deg").as("contrib"))
          .hint("shuffle_hash")
          .join(edges, col("node") === edges("src"))
          .groupBy(col("dst")).agg(sum(col("contrib")).as("inflow"))
        cur = base
          .join(inflow.withColumnRenamed("dst", "node").hint("shuffle_hash"),
            Seq("node"), "left")
          .select(col("node"), col("deg"),
            expr(s"(15 * ($S div nn)) div 100 + (85 * coalesce(inflow, 0L)) div 100").as("rank"))
      }
      cur.filter(col("node") >= SOff)
        .select((col("node") - SOff).as("s_suppkey"), col("rank"))
        .orderBy(col("rank").desc, col("s_suppkey")).limit(20)
    },
    Some {
      val S = "1000000000000"
      def iter(k: Int): String =
        s"""it$k AS (SELECT n.node,
           CAST((15 * ($S // t.nn)) // 100
                + (85 * COALESCE(f.inflow, 0)) // 100 AS BIGINT) AS rank
         FROM nodes n CROSS JOIN t
         LEFT JOIN (SELECT e.dst AS node, sum(i.rank // d.deg) AS inflow
                    FROM it${k - 1} i JOIN e ON e.src = i.node JOIN d ON d.src = i.node
                    GROUP BY e.dst) f USING (node))"""
      s"""WITH p AS (SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000 AS sn
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
e AS (SELECT c AS src, sn AS dst FROM p UNION ALL SELECT sn, c FROM p),
d AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM e),
t AS (SELECT count(*) AS nn FROM nodes),
it0 AS (SELECT node, CAST($S // t.nn AS BIGINT) AS rank FROM nodes, t),
${(1 to 5).map(iter).mkString(",\n")}
SELECT node - 1000000000 AS s_suppkey, rank
FROM it5 WHERE node >= 1000000000
ORDER BY rank DESC, s_suppkey LIMIT 20"""
    },
    "5-round integer-exact PageRank over the purchase graph; top-20 suppliers by centrality.")

  // ---------------------------------------------------------------------
  // SCD2 interval derivation — the change-data-capture primitive: per
  // user, collapse the event stream into type-change validity intervals
  // [valid_from, valid_to) with the row count per interval (valid_to is
  // NULL on the open interval). The lakehouse pattern for turning an
  // append-only log into a slowly-changing-dimension table. Scale shape:
  // ONE shuffle on user_id; the change-flag lag, the running-sum group
  // id, the interval fold, and the valid_to lead all run inside that
  // partitioning (Catalyst reuses the exchange across the three window
  // specs because they share partition key and ordering prefix).
  private val qScd2 = GQuery(
    "q_scd2_intervals",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val marked = t("events")(s, dir)
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .withColumn("chg",
          when(col("prev").isNull || col("prev") =!= col("event_type"), lit(1L))
            .otherwise(lit(0L)))
        .withColumn("grp", sum(col("chg")).over(w))
      marked.groupBy(col("user_id"), col("grp"))
        .agg(min(col("event_type")).as("event_type"),
          min(col("ts")).as("valid_from"),
          count(lit(1)).as("n_events"))
        .withColumn("valid_to",
          lead(col("valid_from"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("grp"))))
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("n_events"))
    },
    Some("""WITH m AS (SELECT user_id, ts, event_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
g AS (SELECT user_id, ts, event_type,
             CAST(sum(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS grp
      FROM m),
iv AS (SELECT user_id, grp, min(event_type) AS event_type,
              min(ts) AS valid_from, count(*) AS n_events
       FROM g GROUP BY 1, 2)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY grp) AS valid_to,
       n_events
FROM iv"""),
    "CDC/SCD2: per-user event-type change intervals with open-ended current rows.")

  // ---------------------------------------------------------------------
  // Upsert / MERGE-INTO snapshot: events older than (max ts − 7 days)
  // form the base snapshot (latest row per user), newer events are the
  // update batch; the merged table keeps the newest row per user and
  // classifies each key as base / updated / inserted — the lakehouse
  // MERGE semantics expressed as ONE aggregation. Scale shape: the
  // 1-row cutoff scalar broadcasts; the merge itself is a single
  // user_id groupBy with two conditional max(struct) arg-max aggregates
  // (partial aggregation collapses each side map-side — no window sort,
  // no self-join, no second shuffle). Deterministic: struct ordering
  // leads with (ts, event_id), which is unique per user.
  private val qUpsert = GQuery(
    "q_upsert_latest",
    (s, dir) => {
      val e = t("events")(s, dir)
      val cutoff = e.agg(expr("timestampadd(DAY, -7, max(ts))").as("cut"))
      e.crossJoin(broadcast(cutoff))
        .groupBy(col("user_id"))
        .agg(
          max(when(col("ts") < col("cut"),
            struct(col("ts"), col("event_id"), col("event_type"), col("value")))).as("b"),
          max(when(col("ts") >= col("cut"),
            struct(col("ts"), col("event_id"), col("event_type"), col("value")))).as("u"))
        .select(col("user_id"),
          coalesce(col("u.ts"), col("b.ts")).as("last_ts"),
          coalesce(col("u.event_type"), col("b.event_type")).as("last_type"),
          coalesce(col("u.value"), col("b.value")).as("last_value"),
          when(col("u").isNull, lit("base"))
            .when(col("b").isNull, lit("inserted"))
            .otherwise(lit("updated")).as("src"))
    },
    Some("""WITH c AS (SELECT max(ts) - INTERVAL 7 DAY AS cut FROM events),
e AS (SELECT ev.*, c.cut FROM events ev, c),
b AS (SELECT user_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM e WHERE ts < cut),
u AS (SELECT user_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM e WHERE ts >= cut)
SELECT coalesce(b.user_id, u.user_id) AS user_id,
       coalesce(u.ts, b.ts) AS last_ts,
       coalesce(u.event_type, b.event_type) AS last_type,
       coalesce(u.value, b.value) AS last_value,
       CASE WHEN u.user_id IS NULL THEN 'base'
            WHEN b.user_id IS NULL THEN 'inserted'
            ELSE 'updated' END AS src
FROM (SELECT * FROM b WHERE rn = 1) b
FULL OUTER JOIN (SELECT * FROM u WHERE rn = 1) u ON b.user_id = u.user_id"""),
    "MERGE-INTO snapshot: base + update batch folded to latest-per-key in one arg-max aggregation.")

  // ---------------------------------------------------------------------
  // Z-order clustering key — the data-layout lever for multi-dimension
  // range queries at 100 TB: interleaving the low 16 bits of
  // (l_partkey, l_suppkey) gives a 32-bit Morton code, and writing files
  // range-partitioned + sorted by it makes parquet row-group min/max
  // stats selective in BOTH dimensions at once (a scan filtered on
  // either key skips most row groups; see BASELINE.md layout receipt).
  // The bit math is a single codegen'd integer expression generated from
  // one Scala builder for both engines, so the key is integer-exact
  // cross-engine. The query reports per-z-bucket occupancy + the min/max
  // box of each bucket — the clustering quality report (tight boxes =
  // good layout). ZERO joins; one coarse-key aggregation.
  private[operators] def zInterleave(spark: Boolean, x: String, y: String): String =
    (0 until 16).map { i =>
      if (spark)
        s"(shiftleft(shiftright($x, $i) & 1, ${2 * i}) + shiftleft(shiftright($y, $i) & 1, ${2 * i + 1}))"
      else
        s"(((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1}))"
    }.mkString(" + ")

  private val qZorder = GQuery(
    "q_zorder_key",
    (s, dir) =>
      t("lineitem")(s, dir)
        .selectExpr("l_partkey & 65535 AS px", "l_suppkey & 65535 AS sy")
        .withColumn("z", expr(zInterleave(spark = true, "px", "sy")))
        .groupBy(expr("shiftright(z, 18)").as("z_bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("px")).as("p_min"), max(col("px")).as("p_max"),
          min(col("sy")).as("s_min"), max(col("sy")).as("s_max")),
    Some(s"""WITH k AS (SELECT l_partkey & 65535 AS px, l_suppkey & 65535 AS sy FROM lineitem),
z AS (SELECT px, sy, ${zInterleave(spark = false, "px", "sy")} AS z FROM k)
SELECT z >> 18 AS z_bucket, count(*) AS n,
       min(px) AS p_min, max(px) AS p_max,
       min(sy) AS s_min, max(sy) AS s_max
FROM z GROUP BY 1"""),
    "Morton/Z-order clustering key (16+16 bit interleave) with per-bucket occupancy boxes.")

  // CDC changelog application (round 13) — the lakehouse MERGE shape
  // beside q_upsert_latest (which keeps latest per key) and
  // q_scd2_intervals (which keeps history): the event stream read as a
  // change log per user — every non-error event an UPSERT carrying
  // `value`, every `error` a DELETE tombstone — applied in strict
  // (ts, event_id) order to produce the final snapshot. A key whose LAST
  // op is a delete is ABSENT from the snapshot (the semantics neither
  // upsert query has); survivors carry their last value plus the op
  // ledger (total ops, deletes absorbed). Plan: one scan, one partial+
  // final hash agg — the last op per key is a max over (ts, event_id,
  // ...) structs, so there is no window sort and no shuffle beyond the
  // one keyed agg; at 100 TB this is the single-pass snapshot
  // materializer (the window-rank formulation the oracle uses would
  // sort every key group).
  private val qCdcApply = GQuery(
    "q_cdc_apply",
    (s, dir) => {
      val e = t("events")(s, dir)
        .withColumn("op",
          when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
      e.groupBy(col("user_id"))
        .agg(
          max(struct(col("ts"), col("event_id"), col("op"), col("value"))).as("last"),
          count(lit(1)).as("n_ops"),
          sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deletes"))
        .filter(col("last.op") =!= "D")
        .select(col("user_id"), col("last.ts").as("last_ts"),
          col("last.value").as("last_value"), col("n_ops"), col("n_deletes"))
    },
    Some("""WITH c AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events),
l AS (
  SELECT user_id, ts, value, op,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_ops,
         CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id) AS BIGINT) AS n_deletes
  FROM c)
SELECT user_id, ts AS last_ts, value AS last_value, n_ops, n_deletes
FROM l WHERE rn = 1 AND op <> 'D'"""),
    "CDC apply: changelog with DELETE tombstones folded to the final snapshot in one keyed agg.")

  // Incremental materialized-view maintenance (round 13): the algebra
  // every warehouse MV refresher rests on — sum/count partials computed
  // on the BASE slice (orders older than 30 days before max date) and on
  // the DELTA slice separately, then MERGED (sum of sums, sum of counts,
  // avg derived from the merged pair), must equal the oracle's direct
  // full-table aggregate. The Spark plan IS the incremental path: two
  // filtered partial aggregations unioned and re-aggregated — at 100 TB
  // the base partial is the stored MV (never recomputed) and only the
  // delta slice is scanned per refresh; this query pins that the merge
  // step is value-exact, which is the whole correctness obligation of
  // that architecture. Float discipline: the merged double sum
  // re-associates vs the oracle's single fold (error ~1e-6 at this
  // magnitude), but the TRUE total is a sum of 2-decimal prices — an
  // exact 0.01-grid point — so rounding to 2 decimals puts both engines
  // a half-grid (5e-3) away from any boundary: association noise cannot
  // flip it. The derived avg rounds at 4 decimals with the standing
  // +1e-9 nudge (error on the mean is error/count, ~1e-9 — far inside
  // the 1e-4 grid).
  private val qMvMerge = GQuery(
    "q_mv_merge",
    (s, dir) => {
      val o = t("orders")(s, dir)
      val cut = o.agg(expr("timestampadd(DAY, -30, max(o_orderdate))").as("cut"))
      val w = o.crossJoin(broadcast(cut))
      def part(slice: DataFrame): DataFrame =
        slice.groupBy(col("o_orderpriority"))
          .agg(sum(col("o_totalprice")).as("s"), count(lit(1)).as("c"))
      val base = part(w.filter(col("o_orderdate") < col("cut")))
      val delta = part(w.filter(col("o_orderdate") >= col("cut")))
      base.unionByName(delta)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("s")).as("ms"), sum(col("c")).as("n_orders"))
        .select(col("o_orderpriority"),
          round(col("ms") + lit(1e-9), 2).as("total_price"),
          col("n_orders"),
          round(col("ms") / col("n_orders") + lit(1e-9), 4).as("avg_price"))
    },
    Some("""SELECT o_orderpriority,
       round(sum(o_totalprice) + 1e-9, 2) AS total_price,
       count(*) AS n_orders,
       round(sum(o_totalprice) / count(*) + 1e-9, 4) AS avg_price
FROM orders GROUP BY 1"""),
    "Incremental MV merge: base+delta partial aggregates merged, value-exact vs direct recompute.")

  val all: Seq[GQuery] =
    Seq(q1, q3, q5, q6, q8, q10, q14, qBroadcast, qTopk, qRollup, qSemi, qAnti,
      qCube, qGroupingSets, qCountDistinct, qHll, qHllSketch, qCorrelated,
      qStatsAgg, qPercentiles, qQuantileHist, qOuter, qPivot, qWindowSuite,
      qWindowFrames, qUnpivot, qSaltedJoin, qFullOuter, qParetoFrontier,
      qPagerank, qScd2, qUpsert, qZorder, qCdcApply, qMvMerge)
}
