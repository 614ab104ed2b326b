package graft.queries

import org.apache.spark.sql.functions._
import graft.core.GraftSession.table
import graft.ops.{RankStats, Snapshots, WindowStats}
import graft.sdf.SDF

/** Operator-surface corpus: each query drives the pandas-flavored
  * [[graft.sdf.SDF]]/[[graft.sdf.SCol]] layer (SURVEY.md §2.2–§2.8) so the
  * library implementation itself — not a parallel hand-written plan — is what
  * the DuckDB oracle verifies.
  */
object OpQueries {

  /** §2.3 merge with suffix disambiguation (`ScalableDataFrame.py:1820-1836`):
    * both sides carry a colliding `total` column; merge renames to
    * `total_x`/`total_y` like pandas.
    */
  val q13_merge_suffixes: Q = Q(
    fn = (s, dir) => {
      val o = table(s, dir, "orders")
      val l = SDF(o.groupBy(col("o_custkey")).agg(round(sum(col("o_totalprice")), 4).as("total")))
      val r = SDF(o.groupBy(col("o_custkey")).agg(round(max(col("o_totalprice")), 4).as("total")))
      l.merge(r, on = Seq("o_custkey"), how = "inner")
        .sortValues(Seq(col("o_custkey"))).df
    },
    oracle = Some("""
      WITH l AS (SELECT o_custkey, round(sum(o_totalprice),4) AS total_x FROM orders GROUP BY o_custkey),
           r AS (SELECT o_custkey, round(max(o_totalprice),4) AS total_y FROM orders GROUP BY o_custkey)
      SELECT l.o_custkey, total_x, total_y
      FROM l JOIN r USING (o_custkey)
      ORDER BY o_custkey"""))

  /** §2.3 merge(how="left", indicator=True): pandas `_merge` tri-state on a
    * left join (library path; the full-outer variant is q06).
    */
  val q14_merge_indicator: Q = Q(
    fn = (s, dir) => {
      val c = SDF(table(s, dir, "customer").select(col("c_custkey")))
      val o = SDF(
        table(s, dir, "orders").filter(col("o_totalprice") > 280000)
          .select(col("o_custkey").as("c_custkey")).distinct())
      c.merge(o, on = Seq("c_custkey"), how = "left", indicator = true)
        .sortValues(Seq(col("c_custkey"))).df
    },
    oracle = Some("""
      WITH o AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 280000)
      SELECT customer.c_custkey,
             CASE WHEN o.c_custkey IS NOT NULL THEN 'both' ELSE 'left_only' END AS _merge
      FROM customer LEFT JOIN o ON customer.c_custkey = o.c_custkey
      ORDER BY customer.c_custkey"""))

  /** §2.3 merge(sort=True) (pandas `DataFrame.merge` sort flag — the last
    * untested merge flag family): result ordered by the join keys. The
    * key is UNIQUE on both sides (1:1), so head-after-sort is fully
    * deterministic and the oracle's ORDER BY + LIMIT replays it exactly.
    * Plan shape: the sort=True range exchange fuses with the head() into
    * ONE TakeOrderedAndProject — no full global sort materializes for a
    * head-of-sorted-merge, at any scale.
    */
  val q217_merge_sort: Q = Q(
    fn = (s, dir) => {
      val o = SDF(table(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")))
      val li = SDF(table(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("n_items"), round(sum(col("l_quantity")), 4).as("qty")))
      o.merge(li, on = Seq("o_orderkey"), how = "inner", sort = true,
          validate = Some("1:1"))
        .head(50)
        .df
        .select(col("o_orderkey"), round(col("o_totalprice"), 4).as("o_totalprice"),
          col("n_items"), col("qty"))
    },
    oracle = Some("""
      WITH agg AS (
        SELECT l_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS n_items,
               round(sum(l_quantity), 4) AS qty
        FROM lineitem GROUP BY 1)
      SELECT o.o_orderkey, round(o.o_totalprice, 4) AS o_totalprice, agg.n_items, agg.qty
      FROM orders o JOIN agg USING (o_orderkey)
      ORDER BY o_orderkey
      LIMIT 50"""))

  /** §2.4 drop_duplicates(subset, keep="last")
    * (`ScalableDataFrame.py:1732-1738`): latest lineitem per supplier via one
    * hash-partitioned window (no global sort; scales per-key).
    */
  val q15_dropdup_keep_last: Q = Q(
    fn = (s, dir) =>
      SDF(table(s, dir, "lineitem"))
        .dropDuplicates(
          subset = Seq("l_suppkey"),
          keep = "last",
          orderBy = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")))
        .df.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        .orderBy(col("l_suppkey")),
    oracle = Some("""
      SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate
      FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
                   row_number() OVER (PARTITION BY l_suppkey
                                      ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn
            FROM lineitem)
      WHERE rn = 1
      ORDER BY l_suppkey"""))

  /** §2.8 missing-data family: synthesize nulls, then `fillna` + `replace`
    * (`ScalableSeries.py:1064-1075`, `ScalableDataFrame.py:1806-1808`).
    */
  val q16_fillna_replace: Q = Q(
    fn = (s, dir) => {
      val c = SDF(
        table(s, dir, "customer")
          .withColumn("bal", when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal"))))
      val filled = SDF(c.df.na.fill(Map("bal" -> -1.0)))
      filled
        .replace(Seq("c_mktsegment"), Map("BUILDING" -> "B", "MACHINERY" -> "M"))
        .df.select(col("c_custkey"), round(col("bal"), 4).as("bal"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    oracle = Some("""
      SELECT c_custkey,
             round(coalesce(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, -1.0), 4) AS bal,
             CASE c_mktsegment WHEN 'BUILDING' THEN 'B' WHEN 'MACHINERY' THEN 'M'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer
      ORDER BY c_custkey"""))

  /** §2.8 ffill along event time per user (`NumpyArrayScalableSeries
    * .py:417-450` method="ffill"): `last(ignoreNulls)` over a bounded window —
    * partitioned by user, so state stays per-key at scale.
    */
  val q17_ffill_window: Q = Q(
    fn = (s, dir) => {
      val e = SDF(
        table(s, dir, "events")
          .withColumn("v", when(col("value") < 50, lit(null)).otherwise(col("value"))))
      e.ffill(Seq("v"), orderBy = Seq(col("ts"), col("event_id")), partitionBy = Seq(col("user_id")))
        .df.select(col("event_id"), col("user_id"), round(col("v"), 4).as("v"))
        .orderBy(col("event_id"))
    },
    oracle = Some("""
      SELECT event_id, user_id,
             round(last_value(CASE WHEN value < 50 THEN NULL ELSE value END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS v
      FROM events
      ORDER BY event_id"""))

  /** §2.2 isin + between predicates (`ScalableSeries.py:887-889, 1029-1031`). */
  val q18_isin_between: Q = Q(
    fn = (s, dir) => {
      val p = SDF(table(s, dir, "part"))
      p.loc(p("p_brand").isin("Brand#1", "Brand#2", "Brand#3") && p("p_size").between(5, 25))
        .df.select(col("p_partkey"), col("p_brand"), col("p_size"))
        .orderBy(col("p_partkey"))
    },
    oracle = Some("""
      SELECT p_partkey, p_brand, p_size
      FROM part
      WHERE p_brand IN ('Brand#1','Brand#2','Brand#3') AND p_size BETWEEN 5 AND 25
      ORDER BY p_partkey"""))

  /** §2.2 deterministic sampling (`ScalableDataFrame.py:1772-1776` +
    * seeded-shuffle determinism `:822-848`): hash-mod sample on a stable key
    * — reproducible on any cluster layout, unlike partition-seeded `rand`.
    * Knuth multiplicative hash, expressible identically in both engines.
    */
  val q19_sample_hash: Q = Q(
    fn = (s, dir) => {
      val l = SDF(table(s, dir, "lineitem"))
      val key = (col("l_orderkey") * lit(2654435761L) + col("l_linenumber")) % lit(4294967296L)
      l.sampleByHash(key, pct = 10)
        .df.select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    oracle = Some("""
      SELECT l_orderkey, l_linenumber, l_quantity
      FROM lineitem
      WHERE ((l_orderkey * 2654435761 + l_linenumber) % 4294967296) % 100 < 10
      ORDER BY l_orderkey, l_linenumber"""))

  /** §2.4 higher-moment stats through [[graft.sdf.SCol]]: pandas-corrected
    * kurtosis/skew (`ScalableSeries.py:908-910`), mad (`:912-914`), exact
    * quantile (`:944-946`), prod via log-sum (`NumpyArrayScalableSeries
    * .py:292-302`) — scalars repacked into a 1-row frame for the oracle.
    */
  val q20_scol_moments: Q = Q(
    fn = (s, dir) => {
      val li = table(s, dir, "lineitem")
      val price = SDF(li)("l_extendedprice")
      // prod on O(1)-magnitude values: the log-sum evaluation has ~1e-15
      // relative error, invisible after round(4) at this scale (it is NOT
      // at 1e49 — don't prod unbounded positive columns in oracle queries)
      val growth = SDF(li.filter(col("l_orderkey") < 10).withColumn("g", lit(1.0) + col("l_discount")))("g")
      val rows = java.util.List.of(org.apache.spark.sql.Row(
        BigDecimal(price.kurt).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(price.skew).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(price.mad).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(price.quantile(0.9)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(growth.prod).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      val schema = org.apache.spark.sql.types.StructType(
        Seq("kurt", "skew", "mad", "q90", "prod_growth").map(n =>
          org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.DoubleType)))
      s.createDataFrame(rows, schema)
    },
    oracle = Some("""
      SELECT round(kurtosis(l_extendedprice), 4) AS kurt,
             round(skewness(l_extendedprice), 4) AS skew,
             round(avg(abs(l_extendedprice - (SELECT avg(l_extendedprice) FROM lineitem))), 4) AS mad,
             round(quantile_cont(l_extendedprice, 0.9), 4) AS q90,
             (SELECT round(product(1.0 + l_discount), 4) FROM lineitem WHERE l_orderkey < 10) AS prod_growth
      FROM lineitem"""))

  /** §2.4 idxmax with deterministic tie-break (`ScalableSeries.py:1020-1026`):
    * the min orderkey holding the max price.
    */
  val q21_idxmax: Q = Q(
    fn = (s, dir) => {
      val li = table(s, dir, "lineitem")
      val mx = li.agg(max(col("l_extendedprice"))).head().getDouble(0)
      li.filter(col("l_extendedprice") === mx)
        .agg(
          min(col("l_orderkey")).as("idxmax_orderkey"),
          round(max(col("l_extendedprice")), 4).as("max_price"))
    },
    oracle = Some("""
      SELECT min(l_orderkey) AS idxmax_orderkey, round(max(l_extendedprice), 4) AS max_price
      FROM lineitem
      WHERE l_extendedprice = (SELECT max(l_extendedprice) FROM lineitem)"""))

  /** §2.4 corr/cov (`ScalableSeries.py:896-906`) via SCol. */
  val q22_corr_cov: Q = Q(
    fn = (s, dir) => {
      val li = table(s, dir, "lineitem")
      val q = SDF(li)("l_quantity")
      val rows = java.util.List.of(org.apache.spark.sql.Row(
        BigDecimal(q.corrWith(col("l_extendedprice"))).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(q.covWith(col("l_extendedprice"))).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      val schema = org.apache.spark.sql.types.StructType(
        Seq("corr_qp", "cov_qp").map(n =>
          org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.DoubleType)))
      s.createDataFrame(rows, schema)
    },
    oracle = Some("""
      SELECT round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
             round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qp
      FROM lineitem"""))

  /** §2.4 nunique / is_unique (`ScalableSeries.py:964-989`). */
  val q23_nunique: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "lineitem").agg(
        count_distinct(col("l_partkey")).as("nuniq_part"),
        count_distinct(col("l_suppkey")).as("nuniq_supp"),
        (count_distinct(col("l_orderkey"), col("l_linenumber")) === count(lit(1)))
          .as("pk_is_unique")),
    oracle = Some("""
      SELECT count(DISTINCT l_partkey) AS nuniq_part,
             count(DISTINCT l_suppkey) AS nuniq_supp,
             count(DISTINCT (l_orderkey, l_linenumber)) = count(*) AS pk_is_unique
      FROM lineitem"""))

  /** §2.4 `groupby(dropna=True)` (`ScalableDataFrame.py:1697-1710`): pandas
    * drops null group keys; the filter lands before the aggregation (and
    * reaches the scan).
    */
  val q84_groupby_dropna: Q = Q(
    fn = (s, dir) => {
      val cust = table(s, dir, "customer")
        .withColumn("seg", when(col("c_mktsegment") === "BUILDING", lit(null)).otherwise(col("c_mktsegment")))
      SDF(cust).groupby(Seq("seg"), dropna = true)
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 4).as("bal"))
        .orderBy(col("seg"))
    },
    oracle = Some("""
      SELECT nullif(c_mktsegment, 'BUILDING') AS seg,
             count(*) AS n,
             round(sum(c_acctbal), 4) AS bal
      FROM customer
      WHERE c_mktsegment <> 'BUILDING'
      GROUP BY 1
      ORDER BY seg"""))

  /** §2.4 grouped bias-corrected moments (pandas G1/G2 per group, via
    * `SCol.sampleSkew/sampleKurt` aggregate Columns — one partial-agg
    * shuffle; DuckDB's skewness/kurtosis use the same sample corrections).
    */
  val q97_group_moments: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(graft.sdf.SCol.sampleSkew(col("l_extendedprice")), 4).as("skew_g"),
          round(graft.sdf.SCol.sampleKurt(col("l_extendedprice")), 4).as("kurt_g"),
          round(stddev_samp(col("l_extendedprice")), 4).as("sd"))
        .orderBy(col("l_returnflag")),
    oracle = Some("""
      SELECT l_returnflag,
             round(skewness(l_extendedprice), 4) AS skew_g,
             round(kurtosis(l_extendedprice), 4) AS kurt_g,
             round(stddev_samp(l_extendedprice), 4) AS sd
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** §2.4 grouped exact quantiles (`quantile(q, interpolation)` per group):
    * `percentile` is linear-interpolated in both engines; one partial-agg
    * shuffle.
    */
  val q92_group_quantiles: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 4).as("q25"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("q50"),
          round(expr("percentile(l_quantity, 0.75)"), 4).as("q75"))
        .orderBy(col("l_returnflag")),
    oracle = Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.25), 4) AS q25,
             round(quantile_cont(l_quantity, 0.5), 4) AS q50,
             round(quantile_cont(l_quantity, 0.75), 4) AS q75
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** §2.4 `corr(method="spearman")` (`ScalableSeries.py:896-898`) via
    * scale-safe fractional ranks ([[graft.ops.RankStats]]: the value counts
    * sorted and numbered by [[graft.core.Positions]] + tie-group averaging —
    * no global window).
    */
  val q80_spearman_corr: Q = Q(
    fn = (s, dir) => {
      val li = table(s, dir, "lineitem")
      val rho = SDF(li)("l_quantity").spearmanWith("l_extendedprice")
      val rows = java.util.List.of(org.apache.spark.sql.Row(
        BigDecimal(rho).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("spearman_qp", org.apache.spark.sql.types.DoubleType)))
      s.createDataFrame(rows, schema)
    },
    oracle = Some("""
      SELECT round(corr(ra, rb), 4) AS spearman_qp FROM (
        SELECT rank() OVER (ORDER BY l_quantity)
                 + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS ra,
               rank() OVER (ORDER BY l_extendedprice)
                 + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS rb
        -- pairwise-complete FIRST, then rank (pandas Series.corr(spearman)
        -- and the engine both drop incomplete pairs before ranking; ranking
        -- the full table shifts every rank by the null rows' mass)
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL)"""))

  /** pandas `expanding()` family (parity-plus §2.5): running mean/sum/count
    * per supplier — one window spec, three frames, single shuffle.
    */
  val q81_expanding: Q = Q(
    fn = (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
      val li = SDF(table(s, dir, "lineitem"))
      val qty = li("l_quantity")
      li.df
        .withColumn("exp_mean", round(qty.expandingMean(w), 4))
        .withColumn("exp_sum", round(qty.expandingSum(w), 4))
        .withColumn("exp_n", qty.expandingCount(w))
        .filter(col("l_suppkey") <= 5)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("exp_mean"), col("exp_sum"), col("exp_n"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    },
    oracle = Some("""
      SELECT l_suppkey, l_orderkey, l_linenumber,
             round(avg(l_quantity) OVER w, 4) AS exp_mean,
             round(sum(l_quantity) OVER w, 4) AS exp_sum,
             count(l_quantity) OVER w AS exp_n
      FROM lineitem
      WHERE l_suppkey <= 5
      WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY l_suppkey, l_orderkey, l_linenumber"""))

  /** §2.4 `corr(method="kendall")` — the last method of the pandas `corr`
    * contract (`ScalableSeries.py:896-898`): tau-b via one distributed pair
    * join + a single aggregate ([[graft.ops.RankStats.kendall]]). Exact tau
    * is inherently O(n²) pairs; the part table keeps the oracle replay cheap,
    * and the scale path is a uniform [[graft.ops.Sampling]] subset (tau is a
    * pair average — sampling is unbiased).
    */
  val q100_kendall_tau: Q = Q(
    fn = (s, dir) => {
      val tau = graft.ops.RankStats.kendall(
        table(s, dir, "part"), "p_size", "p_retailprice")
      val rows = java.util.List.of(org.apache.spark.sql.Row(
        BigDecimal(tau).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("kendall_tau", org.apache.spark.sql.types.DoubleType)))
      s.createDataFrame(rows, schema)
    },
    oracle = Some("""
      WITH d AS (
        SELECT row_number() OVER (ORDER BY p_partkey) AS i,
               CAST(p_size AS DOUBLE) AS x, CAST(p_retailprice AS DOUBLE) AS y
        FROM part WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL),
      p AS (
        SELECT sum(CASE WHEN (l.x - r.x) * (l.y - r.y) > 0 THEN 1 ELSE 0 END) AS c,
               sum(CASE WHEN (l.x - r.x) * (l.y - r.y) < 0 THEN 1 ELSE 0 END) AS d,
               sum(CASE WHEN l.x = r.x THEN 1 ELSE 0 END) AS n1,
               sum(CASE WHEN l.y = r.y THEN 1 ELSE 0 END) AS n2,
               count(*) AS n0
        FROM d l JOIN d r ON l.i < r.i)
      SELECT round((c - d) / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE)), 4)
               AS kendall_tau
      FROM p"""))

  /** §2.5 `ewm(alpha).mean()` (parity-plus; blocked in bears
    * `ScalableDataFrame.py:1374-1397`): recursive weighted mean per customer
    * over their orders ([[graft.ops.WindowStats.ewmMean]] — one groupBy
    * shuffle, linear `aggregate` HOF recursion per group). The oracle replays
    * the SAME recursion per prefix via `list_reduce` — identical operation
    * order (α·x + β·y_prev, left fold from x_1) makes both sides bit-identical
    * doubles (the closed-form pair-join oracle differed in ~0.3% of rows at
    * 1e5 magnitude). Quantization is floor(x·1e4 + 0.5)/1e4 spelled out on
    * BOTH sides — `round` itself differs (Spark: BigDecimal HALF_UP on the
    * shortest decimal repr; DuckDB: numeric) and flipped 2 tie rows.
    * O(len²) per group, fine at oracle scale.
    */
  val q99_ewm_mean: Q = Q(
    fn = (s, dir) => {
      val o = table(s, dir, "orders").filter(col("o_custkey") <= 200)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice").cast("double").as("x"))
      graft.ops.WindowStats.ewmMean(o, keys = Seq("o_custkey"),
        orderCol = "o_orderkey", valueCol = "x", alpha = 0.3, adjust = false)
        .select(col("o_custkey"), col("o_orderkey"),
          (floor(col("ewm") * 1e4 + 0.5) / 1e4).as("ewm"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    oracle = Some("""
      WITH d AS (
        SELECT o_custkey AS k, o_orderkey AS o, CAST(o_totalprice AS DOUBLE) AS x
        FROM orders WHERE o_custkey <= 200),
      g AS (
        SELECT k, list(o ORDER BY o) AS os, list(x ORDER BY o) AS xs
        FROM d GROUP BY k)
      SELECT k AS o_custkey,
             unnest(os) AS o_orderkey,
             unnest(list_transform(generate_series(1, len(xs)),
               i -> floor(list_reduce(xs[1:i], (acc, x) -> 0.3 * x + 0.7 * acc)
                          * 1e4 + 0.5) / 1e4)) AS ewm
      FROM g
      ORDER BY o_custkey, o_orderkey"""),
    bench = true) // regression-watch the groupBy+fold window path

  /** §2.4 `DataFrame.corr()` (pandas matrix contract,
    * `ScalableDataFrame.py` corr forwarding): all pairwise pearson
    * correlations of four lineitem measures in ONE partial-aggregated pass,
    * long format with diagonal.
    */
  val q103_corr_matrix: Q = Q(
    fn = (s, dir) =>
      SDF(table(s, dir, "lineitem"))
        .corrMatrix(Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .select(col("col_a"), col("col_b"), round(col("corr"), 4).as("corr"))
        .orderBy(col("col_a"), col("col_b")),
    oracle = Some("""
      WITH c AS (
        SELECT corr(l_quantity, l_extendedprice) AS qe,
               corr(l_quantity, l_discount) AS qd,
               corr(l_quantity, l_tax) AS qt,
               corr(l_extendedprice, l_discount) AS ed,
               corr(l_extendedprice, l_tax) AS et,
               corr(l_discount, l_tax) AS dt
        FROM lineitem)
      SELECT col_a, col_b, round(v, 4) AS corr FROM (
        SELECT 'l_quantity' AS col_a, 'l_quantity' AS col_b, CAST(1.0 AS DOUBLE) AS v FROM c
        UNION ALL SELECT 'l_quantity', 'l_extendedprice', qe FROM c
        UNION ALL SELECT 'l_quantity', 'l_discount', qd FROM c
        UNION ALL SELECT 'l_quantity', 'l_tax', qt FROM c
        UNION ALL SELECT 'l_extendedprice', 'l_quantity', qe FROM c
        UNION ALL SELECT 'l_extendedprice', 'l_extendedprice', CAST(1.0 AS DOUBLE) FROM c
        UNION ALL SELECT 'l_extendedprice', 'l_discount', ed FROM c
        UNION ALL SELECT 'l_extendedprice', 'l_tax', et FROM c
        UNION ALL SELECT 'l_discount', 'l_quantity', qd FROM c
        UNION ALL SELECT 'l_discount', 'l_extendedprice', ed FROM c
        UNION ALL SELECT 'l_discount', 'l_discount', CAST(1.0 AS DOUBLE) FROM c
        UNION ALL SELECT 'l_discount', 'l_tax', dt FROM c
        UNION ALL SELECT 'l_tax', 'l_quantity', qt FROM c
        UNION ALL SELECT 'l_tax', 'l_extendedprice', et FROM c
        UNION ALL SELECT 'l_tax', 'l_discount', dt FROM c
        UNION ALL SELECT 'l_tax', 'l_tax', CAST(1.0 AS DOUBLE) FROM c)
      ORDER BY col_a, col_b"""))

  /** pandas `qcut` (parity-plus §2.4): quartile binning of l_extendedprice —
    * one exact-percentile aggregate for the 3 boundaries, then a codegen'd
    * when-chain per row (no global sort window). Boundary determinism note:
    * 2-decimal data + q=4 means every boundary is either an exact data value
    * (interpolation f=0 — bit-identical in both engines) or ≥0.0025 away
    * from every data value, so a 1-ulp engine difference can never flip a
    * `x <= bound` comparison.
    */
  val q104_qcut: Q = Q(
    fn = (s, dir) => {
      val li = SDF(table(s, dir, "lineitem"))
      li.df.select(col("l_orderkey"), col("l_linenumber"),
          li("l_extendedprice").qcut(4).as("bucket"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    oracle = Some("""
      WITH b AS (SELECT quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]) AS q FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_extendedprice <= q[1] THEN 0
                  WHEN l_extendedprice <= q[2] THEN 1
                  WHEN l_extendedprice <= q[3] THEN 2
                  ELSE 3 END AS bucket
      FROM lineitem, b
      ORDER BY l_orderkey, l_linenumber"""),
    bench = true) // regression-watch the percentile-agg binning path

  /** pandas `get_dummies` (parity-plus §2.4): one-hot indicators for the
    * 5-value market segment — vocabulary from one distinct pass, indicators
    * as a single projection.
    */
  val q105_get_dummies: Q = Q(
    fn = (s, dir) =>
      SDF(table(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")))
        .getDummies("c_mktsegment", prefix = Some("seg"))
        .df.drop("c_mktsegment")
        .orderBy(col("c_custkey")),
    oracle = Some("""
      SELECT c_custkey,
             CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS seg_AUTOMOBILE,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS seg_BUILDING,
             CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END AS seg_FURNITURE,
             CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END AS seg_HOUSEHOLD,
             CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS seg_MACHINERY
      FROM customer
      ORDER BY c_custkey"""))

  /** §2.5 window family (parity-plus; blocked in bears
    * `ScalableDataFrame.py:1374-1397`): cumsum + shift + diff per supplier in
    * one window spec — single shuffle, three frame computations.
    */
  val q24_cumsum_shift_diff: Q = Q(
    fn = (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      val li = SDF(table(s, dir, "lineitem"))
      val qty = li("l_quantity")
      li.df
        .withColumn("cum_qty", round(qty.cumsum(w), 4))
        .withColumn("prev_qty", qty.shift(1, w))
        .withColumn("diff_qty", round(qty.diff(w), 4))
        .filter(col("l_suppkey") <= 5)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("cum_qty"), col("prev_qty"), col("diff_qty"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    },
    oracle = Some("""
      SELECT l_suppkey, l_orderkey, l_linenumber,
             round(sum(l_quantity) OVER (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_qty,
             lag(l_quantity, 1) OVER (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber) AS prev_qty,
             round(l_quantity - lag(l_quantity, 1) OVER (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber), 4) AS diff_qty
      FROM lineitem
      WHERE l_suppkey <= 5
      ORDER BY l_suppkey, l_orderkey, l_linenumber"""))

  /** §2.4 grouping sets (parity-plus; `pivot` blocked in bears
    * `ScalableDataFrame.py:1421-1422`): rollup with explicit null ordering.
    */
  val q25_rollup: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
    oracle = Some("""
      SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""))

  /** §2.7 intersect/except (SDF.intersect/except): nations with customers but
    * no suppliers, and nations with both.
    */
  val q26_intersect_except: Q = Q(
    fn = (s, dir) => {
      val cn = SDF(table(s, dir, "customer").select(col("c_nationkey").as("nationkey")))
      val sn = SDF(table(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      val both = cn.intersect(sn).df.withColumn("which", lit("both"))
      val onlyC = cn.except(sn).df.withColumn("which", lit("customers_only"))
      both.unionByName(onlyC).orderBy(col("which"), col("nationkey"))
    },
    oracle = Some("""
      SELECT * FROM (
        SELECT nationkey, 'both' AS which
        FROM (SELECT c_nationkey AS nationkey FROM customer
              INTERSECT SELECT s_nationkey FROM supplier)
        UNION ALL
        SELECT nationkey, 'customers_only' AS which
        FROM (SELECT c_nationkey AS nationkey FROM customer
              EXCEPT SELECT s_nationkey FROM supplier))
      ORDER BY which, nationkey"""))

  /** §2.7 ragged concat (`ScalableDataFrame.py:1838-1868`,
    * LIST_OF_DICT semantics): unionByName(allowMissingColumns) null-fills
    * the absent columns.
    */
  val q27_concat_ragged: Q = Q(
    fn = (s, dir) => {
      val a = SDF(table(s, dir, "orders").filter(col("o_orderkey") < 100)
        .select(col("o_orderkey"), col("o_totalprice"), lit("a").as("src")))
      val b = SDF(table(s, dir, "orders").filter(col("o_orderkey") < 100)
        .select(col("o_orderkey"), col("o_orderstatus"), lit("b").as("src")))
      a.concat(b).df
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), col("src"))
        .orderBy(col("o_orderkey"), col("src"))
    },
    oracle = Some("""
      SELECT * FROM (
        SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus, 'a' AS src
        FROM orders WHERE o_orderkey < 100
        UNION ALL
        SELECT o_orderkey, CAST(NULL AS DOUBLE), o_orderstatus, 'b'
        FROM orders WHERE o_orderkey < 100)
      ORDER BY o_orderkey, src"""))

  /** §2.2 valid() sampled validation + failing-row extraction
    * (`ScalableDataFrame.py:298-334`): package the boolean verdict with the
    * failing rows.
    */
  val q28_valid_failing_rows: Q = Q(
    fn = (s, dir) => {
      val p = SDF(table(s, dir, "part"))
      val pred = col("p_retailprice") > 0 && col("p_size") <= 50
      val allValid = p.valid(pred)
      p.invalidRows(pred).df
        .select(col("p_partkey"))
        .withColumn("all_valid", lit(allValid))
        .orderBy(col("p_partkey"))
    },
    oracle = Some("""
      SELECT p_partkey,
             (SELECT coalesce(min(p_retailprice > 0 AND p_size <= 50), TRUE) FROM part) AS all_valid
      FROM part
      WHERE NOT coalesce(p_retailprice > 0 AND p_size <= 50, FALSE)
      ORDER BY p_partkey"""))

  /** §2.9 balanced sharding through [[graft.stream.BatchStream]]: shard 1 of
    * 4 over orders (B=10, drop_last=false). The oracle recomputes the same
    * closed-form interval arithmetic in SQL: K=N/(S*B) complete batch
    * columns per shard plus ceil/floor pad of the remainder, last batch
    * absorbing the pad.
    */
  val q41_stream_shard: Q = Q(
    fn = (s, dir) => {
      import graft.stream.BatchStream
      val o = table(s, dir, "orders")
      val plan = BatchStream.Plan(numRows = Some(10L), shard = (1, 4), dropLast = Some(false))
      BatchStream.assign(o, Seq(col("o_orderkey")), plan)
        .select(col("o_orderkey"), col(BatchStream.BatchCol).as("batch_id"))
        .orderBy(col("o_orderkey"))
    },
    oracle = Some("""
      WITH p AS (SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) - 1 AS pos FROM orders),
      c AS (SELECT count(*) // 40 AS k, count(*) % 40 AS rem FROM orders),
      e AS (SELECT k,
                   k * 10 + rem // 4 + CASE WHEN rem % 4 > 0 THEN 1 ELSE 0 END AS start1,
                   2 * (k * 10) + 2 * (rem // 4)
                     + CASE WHEN rem % 4 > 0 THEN 1 ELSE 0 END
                     + CASE WHEN rem % 4 > 1 THEN 1 ELSE 0 END AS end1
            FROM c)
      SELECT o_orderkey,
             least((pos - start1) // 10, k - 1) AS batch_id
      FROM p, e
      WHERE pos >= start1 AND pos < end1
      ORDER BY o_orderkey"""))

  /** Bucketized range join ([[graft.ops.RangeJoin]]): orders matched to
    * overlapping price bands as an equi-join on bucket ids + exact
    * refinement — never a BroadcastNestedLoopJoin/cartesian (the plan a
    * bare inequality join would get). 40 bands of span 20k every 12k, so
    * many orders match two bands.
    */
  val q112_range_join: Q = Q(
    fn = (s, dir) => {
      val points = table(s, dir, "orders")
        .filter(col("o_orderkey") < 5000)
        .select(col("o_orderkey"), col("o_totalprice"))
      val bands = s.range(40).select(col("id").as("band_id"),
        (col("id") * 12000).cast("double").as("lo"),
        (col("id") * 12000 + 20000).cast("double").as("hi"))
      graft.ops.RangeJoin.pointInInterval(points, bands,
          "o_totalprice", "lo", "hi", bucketWidth = 15000L)
        .select(col("o_orderkey"), col("band_id"))
        .orderBy(col("o_orderkey"), col("band_id"))
    },
    oracle = Some("""
      WITH bands AS (
        SELECT r.range AS band_id,
               CAST(r.range * 12000 AS DOUBLE) AS lo,
               CAST(r.range * 12000 + 20000 AS DOUBLE) AS hi
        FROM range(40) r)
      SELECT o.o_orderkey, b.band_id
      FROM orders o JOIN bands b
        ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
      WHERE o.o_orderkey < 5000
      ORDER BY o.o_orderkey, b.band_id"""))

  /** §2.5 pandas `interpolate(method="linear")` per user along event time:
    * interior nulls blend the surrounding non-nulls by row position,
    * trailing nulls carry the last value, leading nulls stay null. The
    * oracle mirrors the exact `pv + (nv-pv)·(pos-pp)/(np-pp)` op order.
    */
  val q120_interpolate: Q = Q(
    fn = (s, dir) => {
      val e = table(s, dir, "events")
        .withColumn("v", when(col("value") < 50, lit(null)).otherwise(col("value")))
      WindowStats.interpolateLinear(e, Seq("user_id"),
          Seq(col("ts"), col("event_id")), "v", out = "v_interp")
        // tie-stable quantize: blended values land on .xxxx5 often enough
        // that round() half-up vs DuckDB's tie handling diverges
        .select(col("event_id"), col("user_id"),
          (floor(col("v_interp") * 1e4 + 0.5) / 1e4).as("v_interp"))
        .orderBy(col("event_id"))
    },
    oracle = Some("""
      WITH e AS (
        SELECT event_id, user_id, ts,
               CASE WHEN value < 50 THEN NULL ELSE value END AS v
        FROM events),
      p AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos FROM e),
      f AS (SELECT event_id, user_id, v, pos,
          last_value(v IGNORE NULLS) OVER wb AS pv,
          last_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS) OVER wb AS pp,
          first_value(v IGNORE NULLS) OVER wf AS nv,
          first_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS) OVER wf AS np
        FROM p
        WINDOW wb AS (PARTITION BY user_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT event_id, user_id,
             floor((CASE WHEN v IS NOT NULL THEN v
                         WHEN pv IS NULL THEN NULL
                         WHEN nv IS NULL THEN pv
                         ELSE pv + (nv - pv) * (pos - pp) / (np - pp) END) * 1e4 + 0.5) / 1e4 AS v_interp
      FROM f ORDER BY event_id"""))

  /** §2.5 pandas `rolling(5).corr/cov(other)` per supplier: Pearson r and
    * sample covariance of quantity vs extended price over the trailing-5
    * frame, null until the frame is full (min_periods = n). Both sides
    * spell the naive-sum formulas term for term.
    */
  val q121_rolling_corr: Q = Q(
    fn = (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      table(s, dir, "lineitem").filter(col("l_suppkey") <= 10)
        .withColumn("r_corr",
          round(WindowStats.rollingCorr(col("l_quantity"), col("l_extendedprice"), 5, w), 4))
        .withColumn("r_cov",
          round(WindowStats.rollingCov(col("l_quantity"), col("l_extendedprice"), 5, w), 4))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("r_corr"), col("r_cov"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    },
    oracle = Some("""
      WITH f AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               -- pairwise-complete count (the engine's pandas contract: a
               -- window holding ANY incomplete pair yields NULL, it never
               -- silently computes over the surviving pairs)
               count(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN 1 END) OVER w AS cnt,
               sum(x) OVER w AS sx, sum(y) OVER w AS sy,
               sum(x * y) OVER w AS sxy,
               sum(x * x) OVER w AS sx2, sum(y * y) OVER w AS sy2
        FROM (SELECT *, l_quantity::DOUBLE AS x, l_extendedprice::DOUBLE AS y
              FROM lineitem WHERE l_suppkey <= 10)
        WINDOW w AS (PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
      SELECT l_suppkey, l_orderkey, l_linenumber,
             round(CASE WHEN cnt = 5 THEN
               (CAST(5 AS DOUBLE) * sxy - sx * sy) /
               (sqrt(CAST(5 AS DOUBLE) * sx2 - sx * sx) *
                sqrt(CAST(5 AS DOUBLE) * sy2 - sy * sy)) END, 4) AS r_corr,
             round(CASE WHEN cnt = 5 THEN
               (sxy - sx * sy / CAST(5 AS DOUBLE)) / CAST(4 AS DOUBLE) END, 4) AS r_cov
      FROM f
      ORDER BY l_suppkey, l_orderkey, l_linenumber"""))

  /** §2.4 winsorize: clip at the exact [0.05, 0.95] type-7 quantiles. The
    * boundaries come from the parallel range sort (exactQuantiles); the
    * oracle replays the same `v_lo + (v_hi−v_lo)·frac` interpolation with
    * the multiplication done in DOUBLE (not DuckDB DECIMAL) so the
    * boundary doubles are bit-identical.
    */
  val q122_winsorize: Q = Q(
    fn = (s, dir) => {
      val li = SDF(table(s, dir, "lineitem"))
      li.df.select(col("l_orderkey"), col("l_linenumber"),
          round(li("l_extendedprice").winsorize(0.05, 0.95), 4).as("v_w"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    oracle = Some("""
      WITH s AS (SELECT l_extendedprice AS v,
                        row_number() OVER (ORDER BY l_extendedprice) - 1 AS i
                 FROM lineitem),
      n AS (SELECT count(*) AS n FROM lineitem),
      b AS (
        SELECT
          (SELECT v FROM s WHERE i = CAST(floor((n - 1) * CAST(0.05 AS DOUBLE)) AS BIGINT)) +
            ((SELECT v FROM s WHERE i = CAST(ceil((n - 1) * CAST(0.05 AS DOUBLE)) AS BIGINT)) -
             (SELECT v FROM s WHERE i = CAST(floor((n - 1) * CAST(0.05 AS DOUBLE)) AS BIGINT))) *
            ((n - 1) * CAST(0.05 AS DOUBLE) - floor((n - 1) * CAST(0.05 AS DOUBLE))) AS lo,
          (SELECT v FROM s WHERE i = CAST(floor((n - 1) * CAST(0.95 AS DOUBLE)) AS BIGINT)) +
            ((SELECT v FROM s WHERE i = CAST(ceil((n - 1) * CAST(0.95 AS DOUBLE)) AS BIGINT)) -
             (SELECT v FROM s WHERE i = CAST(floor((n - 1) * CAST(0.95 AS DOUBLE)) AS BIGINT))) *
            ((n - 1) * CAST(0.95 AS DOUBLE) - floor((n - 1) * CAST(0.95 AS DOUBLE))) AS hi
        FROM n)
      SELECT l_orderkey, l_linenumber,
             round(greatest(least(l_extendedprice, hi), lo), 4) AS v_w
      FROM lineitem, b
      ORDER BY l_orderkey, l_linenumber"""))

  /** §2.4 the six pandas `rank(method=…, pct=)` variants per nation over
    * account balance — integer math except two IEEE divisions (avg = exact
    * halves; pct = avg over an exact count) mirrored op-for-op in the oracle,
    * so every double is bit-identical across engines.
    */
  val q123_rank_methods: Q = Q(
    fn = (s, dir) =>
      RankStats.groupRanks(table(s, dir, "customer"), "c_nationkey", "c_acctbal", "c_custkey")
        .select(col("c_custkey"), col("rank_min"), col("rank_max"),
          col("rank_dense"), col("rank_first"), col("rank_avg"), col("rank_pct"))
        .orderBy(col("c_custkey")),
    oracle = Some("""
      WITH r AS (
        SELECT c_custkey,
               CAST(rank() OVER w AS BIGINT) AS rank_min,
               CAST(rank() OVER w + count(*) OVER (PARTITION BY c_nationkey, c_acctbal) - 1 AS BIGINT) AS rank_max,
               CAST(dense_rank() OVER w AS BIGINT) AS rank_dense,
               CAST(row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS BIGINT) AS rank_first,
               CAST(count(*) OVER (PARTITION BY c_nationkey) AS DOUBLE) AS grp_n
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal))
      SELECT c_custkey, rank_min, rank_max, rank_dense, rank_first,
             (rank_min + rank_max) / CAST(2 AS DOUBLE) AS rank_avg,
             ((rank_min + rank_max) / CAST(2 AS DOUBLE)) / grp_n AS rank_pct
      FROM r ORDER BY c_custkey"""))

  /** §2.4 geometric + harmonic mean (scipy gmean/hmean surface) through the
    * SCol eager scalars — log-sum and reciprocal-sum spellings, the only
    * overflow-safe distributed forms.
    */
  val q124_geo_harmonic: Q = Q(
    fn = (s, dir) => {
      val qty = SDF(table(s, dir, "lineitem"))("l_quantity")
      val rows = java.util.List.of(org.apache.spark.sql.Row(
        BigDecimal(qty.geomean).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(qty.harmonicMean).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      val schema = org.apache.spark.sql.types.StructType(
        Seq("geo_qty", "harm_qty").map(n =>
          org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.DoubleType)))
      s.createDataFrame(rows, schema)
    },
    oracle = Some("""
      SELECT round(CASE WHEN count(CASE WHEN l_quantity < 0 THEN 1 END) > 0 THEN CAST('nan' AS DOUBLE)
                        WHEN count(CASE WHEN l_quantity = 0 THEN 1 END) > 0 THEN 0.0
                        ELSE exp(avg(CASE WHEN l_quantity > 0 THEN ln(l_quantity::DOUBLE) END))
                   END, 4) AS geo_qty,
             round(CASE WHEN count(CASE WHEN l_quantity = 0 THEN 1 END) > 0 THEN 0.0
                        ELSE CAST(count(l_quantity) AS DOUBLE) /
                             sum(CASE WHEN l_quantity <> 0
                                 THEN CAST(1 AS DOUBLE) / l_quantity::DOUBLE END)
                   END, 4) AS harm_qty
      FROM lineitem"""))

  /** §2.2 weighted sampling without replacement (pandas
    * `sample(n, weights=…)`): 100 orders drawn ∝ total price via the
    * deterministic Efraimidis–Spirakis race — the oracle replays the same
    * hash-uniform, the same `ln(u)/w` score, and the same top-n.
    */
  val q127_weighted_sample: Q = Q(
    fn = (s, dir) =>
      graft.ops.Sampling.weightedNByHash(
          table(s, dir, "orders"), col("o_orderkey"), col("o_totalprice"), n = 100)
        .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy(col("o_orderkey")),
    oracle = Some("""
      SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
      FROM (
        SELECT * FROM (
          SELECT *,
                 ln((CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
                          % 1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / 1e9)
                   / CAST(o_totalprice AS DOUBLE) AS score
          FROM orders)
        ORDER BY score DESC, o_orderkey
        LIMIT 100)
      ORDER BY o_orderkey"""))

  /** §2.5 cummax / cummin / cumcount per supplier along ship date — the
    * remaining pandas cumulative family (cumsum/shift/diff live in q24).
    */
  val q128_cum_extrema: Q = Q(
    fn = (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      val li = SDF(table(s, dir, "lineitem"))
      val qty = li("l_quantity")
      li.df
        .withColumn("cum_max", round(qty.cummax(w), 4))
        .withColumn("cum_min", round(qty.cummin(w), 4))
        .withColumn("cum_n", qty.cumcount(w))
        .filter(col("l_suppkey") <= 5)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("cum_max"), col("cum_min"), col("cum_n"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    },
    oracle = Some("""
      SELECT l_suppkey, l_orderkey, l_linenumber,
             round(max(l_quantity) OVER w, 4) AS cum_max,
             round(min(l_quantity) OVER w, 4) AS cum_min,
             CAST(row_number() OVER (PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber) - 1 AS BIGINT) AS cum_n
      FROM lineitem
      WHERE l_suppkey <= 5
      WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY l_suppkey, l_orderkey, l_linenumber"""))

  /** §2.4 per-group outlier detection (data-cleaning surface): IQR fences
    * (Tukey 1.5×) — exact math on the integer-valued quantity column, so
    * the boolean flag is engine-portable — plus the tie-stable-quantized
    * z-score. Group stats come from one broadcastable aggregate.
    */
  val q131_outlier_flags: Q = Q(
    fn = (s, dir) => {
      val li = table(s, dir, "lineitem")
      val stats = li.groupBy(col("l_returnflag")).agg(
        expr("percentile(l_quantity, 0.25)").as("__q1__"),
        expr("percentile(l_quantity, 0.75)").as("__q3__"),
        avg(col("l_quantity")).as("__mu__"),
        stddev_samp(col("l_quantity")).as("__sd__"))
      val iqr = col("__q3__") - col("__q1__")
      li.join(broadcast(stats), "l_returnflag")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          (col("l_quantity") < col("__q1__") - lit(1.5) * iqr ||
            col("l_quantity") > col("__q3__") + lit(1.5) * iqr).as("iqr_outlier"),
          (floor((col("l_quantity") - col("__mu__")) / col("__sd__") * 1e4 + 0.5) / 1e4).as("z"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    oracle = Some("""
      WITH st AS (
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.25) AS q1,
               quantile_cont(l_quantity, 0.75) AS q3,
               avg(l_quantity) AS mu,
               stddev_samp(l_quantity) AS sd
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_orderkey, l_linenumber, l_returnflag,
             (l_quantity < q1 - CAST(1.5 AS DOUBLE) * (q3 - q1) OR
              l_quantity > q3 + CAST(1.5 AS DOUBLE) * (q3 - q1)) AS iqr_outlier,
             floor((l_quantity - mu) / sd * 1e4 + 0.5) / 1e4 AS z
      FROM lineitem JOIN st USING (l_returnflag)
      ORDER BY l_orderkey, l_linenumber"""))

  /** Batch sessionization: 30-minute-gap sessions per user over the event
    * stream table — exact integer-microsecond gap compare on both sides.
    */
  val q132_sessionize: Q = Q(
    fn = (s, dir) =>
      WindowStats.sessionize(table(s, dir, "events"), Seq("user_id"),
          Seq(col("ts"), col("event_id")), "ts", gapMicros = 30L * 60 * 1000000)
        .select(col("event_id"), col("user_id"), col("session_id"))
        .orderBy(col("event_id")),
    oracle = Some("""
      WITH d AS (
        SELECT event_id, user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS ns
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT event_id, user_id,
             CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM d
      ORDER BY event_id"""))

  /** Session-level rollup on q132's sessionization: duration, depth,
    * value, bounce flag per (user, session) — the session table every
    * event-analytics mart materializes. The session-id window and this
    * rollup share one user-key shuffle.
    */
  val q213_session_stats: Q = Q(
    fn = (s, dir) =>
      WindowStats.sessionize(table(s, dir, "events"), Seq("user_id"),
          Seq(col("ts"), col("event_id")), "ts", gapMicros = 30L * 60 * 1000000)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            .as("duration_us"),
          round(sum(col("value")), 4).as("total_value"),
          (count(lit(1)) === 1).as("bounce"))
        .orderBy(col("user_id"), col("session_id")),
    oracle = Some("""
      WITH d AS (
        SELECT event_id, user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS ns
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM d)
      SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
             CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us,
             round(sum(value), 4) AS total_value,
             (count(*) = 1) AS bounce
      FROM sess
      GROUP BY user_id, session_id
      ORDER BY user_id, session_id"""))

  /** pandas time-based `rolling("30min").mean()` per user: RANGE frame over
    * the µs axis (value-based, both ends inclusive) — the row-count rolling
    * lives in q69. Quantized tie-stable.
    */
  val q133_rolling_time: Q = Q(
    fn = (s, dir) =>
      WindowStats.rollingMeanByTime(table(s, dir, "events"), Seq("user_id"),
          "ts", "value", windowMicros = 30L * 60 * 1000000)
        .select(col("event_id"), col("user_id"),
          (floor(col("roll_mean") * 1e4 + 0.5) / 1e4).as("roll_mean"))
        .orderBy(col("event_id")),
    oracle = Some("""
      SELECT event_id, user_id,
             floor(avg(value) OVER (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL '30 minutes' PRECEDING AND CURRENT ROW)
                   * 1e4 + 0.5) / 1e4 AS roll_mean
      FROM events
      ORDER BY event_id"""))

  /** pandas `expanding().std()/var()` (closing the §2.5 expanding family)
    * + `groupby().transform("mean"/"sum")` broadcast-back semantics — all
    * per-supplier, one ordered window + one partition-only window, a single
    * shuffle (same partitioning).
    *
    * Hash discipline (r15 adversarial q134 class — a 5.7e-14 var_samp
    * summation-order gap across an exact round(,4) boundary): the HASHED
    * columns ride exact DECIMAL prefix sums converted to double, with the
    * variance spelled as the identical IEEE expression
    * `(s2 - s1*s1/n)/(n-1)` on both sides — bit-identical by construction
    * (and round-tie-free: no finite double equals a decimal ending in 5 at
    * the tie digit, since 5·10⁻ᵏ has no finite binary expansion). The
    * engine's `expandingVar`/`expandingStd` stay LOAD-BEARING through the
    * guard filter: any row where the engine value drifts from the exact
    * spelling beyond fp dust is dropped, so an operator regression turns
    * into a loud rows_match failure (the oracle keeps all rows).
    */
  val q134_expanding_transform: Q = Q(
    fn = (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wg = Window.partitionBy(col("l_suppkey"))
      val li = SDF(table(s, dir, "lineitem"))
      val qty = li("l_quantity")
      val xq = col("l_quantity").cast("decimal(18,6)")
      val x2 = (xq * xq).cast("decimal(28,12)")
      val s1 = sum(xq).over(wf).cast("double")
      val s2 = sum(x2).over(wf).cast("double")
      val n = count(xq).over(wf).cast("double")
      val exVar = when(n > 1, (s2 - s1 * s1 / n) / (n - 1))
      val exStd = when(n > 1, sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), lit(0.0))))
      val g1 = sum(xq).over(wg).cast("double")
      val gn = count(xq).over(wg).cast("double")
      li.df
        .withColumn("eng_var", qty.expandingVar(w))
        .withColumn("exp_var_raw", exVar)
        .withColumn("exp_std", floor(exStd * 1e4 + 0.5) / 1e4)
        .withColumn("exp_var", floor(exVar * 1e4 + 0.5) / 1e4)
        .withColumn("grp_mean", floor(g1 / gn * 1e4 + 0.5) / 1e4)
        .withColumn("grp_sum", round(g1, 4))
        .filter(col("l_suppkey") <= 5)
        .filter((col("eng_var").isNull && col("exp_var_raw").isNull) ||
          abs(col("eng_var") - col("exp_var_raw")) <=
            lit(1e-6) * (lit(1.0) + abs(col("exp_var_raw"))))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("exp_std"), col("exp_var"), col("grp_mean"), col("grp_sum"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    },
    oracle = Some("""
      WITH b AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               CAST(l_quantity AS DECIMAL(18,6)) AS xq,
               CAST(CAST(l_quantity AS DECIMAL(18,6)) * CAST(l_quantity AS DECIMAL(18,6))
                    AS DECIMAL(28,12)) AS x2
        FROM lineitem
        WHERE l_suppkey <= 5),
      w AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               CAST(sum(xq) OVER we AS DOUBLE) AS s1,
               CAST(sum(x2) OVER we AS DOUBLE) AS s2,
               CAST(count(xq) OVER we AS DOUBLE) AS n,
               CAST(sum(xq) OVER wg AS DOUBLE) AS g1,
               CAST(count(xq) OVER wg AS DOUBLE) AS gn
        FROM b
        WINDOW we AS (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wg AS (PARTITION BY l_suppkey))
      SELECT l_suppkey, l_orderkey, l_linenumber,
             floor(CASE WHEN n > 1
                        THEN sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) END
                   * 1e4 + 0.5) / 1e4 AS exp_std,
             floor(CASE WHEN n > 1
                        THEN (s2 - s1 * s1 / n) / (n - 1) END
                   * 1e4 + 0.5) / 1e4 AS exp_var,
             floor(g1 / gn * 1e4 + 0.5) / 1e4 AS grp_mean,
             round(g1, 4) AS grp_sum
      FROM w
      ORDER BY l_suppkey, l_orderkey, l_linenumber"""))

  /** pandas `df.compare(other)` (long form): cell-level diff of orders vs a
    * perturbed copy — status flipped on multiples of 7, custkey shifted on
    * multiples of 11. String-stable columns only (double→string formatting
    * is not engine-portable).
    */
  val q137_frame_compare: Q = Q(
    fn = (s, dir) => {
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_custkey"))
      val m = o.select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, lit("X")).otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(col("o_orderkey") % 11 === 0, col("o_custkey") + 1000000).otherwise(col("o_custkey")).as("o_custkey"))
      SDF(o).compareWith(SDF(m), keys = Seq("o_orderkey"))
        .orderBy(col("o_orderkey"), col("col_name"))
    },
    oracle = Some("""
      WITH m AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 11 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey
        FROM orders),
      d AS (
        SELECT o.o_orderkey, 'o_orderstatus' AS col_name,
               o.o_orderstatus AS self, m.o_orderstatus AS other
        FROM orders o JOIN m USING (o_orderkey)
        WHERE o.o_orderstatus IS DISTINCT FROM m.o_orderstatus
        UNION ALL
        SELECT o.o_orderkey, 'o_custkey',
               CAST(o.o_custkey AS VARCHAR), CAST(m.o_custkey AS VARCHAR)
        FROM orders o JOIN m USING (o_orderkey)
        WHERE o.o_custkey IS DISTINCT FROM m.o_custkey)
      SELECT o_orderkey, col_name, self, other FROM d
      ORDER BY o_orderkey, col_name"""))

  /** pandas `drop_duplicates(keep=False)`: drop EVERY member of a
    * duplicated group (q09/q15 cover keep=first/last) — rows whose part
    * appears exactly once for its supplier.
    */
  val q138_dropdup_keep_none: Q = Q(
    fn = (s, dir) =>
      SDF(table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey")))
        .dropDuplicates(Seq("l_partkey", "l_suppkey"), keep = "none", orderBy = Seq.empty)
        .df.orderBy(col("l_orderkey"), col("l_linenumber")),
    oracle = Some("""
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
      FROM lineitem
      JOIN (SELECT l_partkey, l_suppkey FROM lineitem
            GROUP BY l_partkey, l_suppkey HAVING count(*) = 1) s
        USING (l_partkey, l_suppkey)
      ORDER BY l_orderkey, l_linenumber"""))

  /** pandas `value_counts(bins=10)`: fixed-width histogram of extended
    * price — identical bin arithmetic on both sides (same doubles, same op
    * order), counts exact.
    */
  val q140_histogram: Q = Q(
    fn = (s, dir) =>
      SDF(table(s, dir, "lineitem"))("l_extendedprice").histogram(10)
        .orderBy(col("bin")),
    oracle = Some("""
      WITH s AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx FROM lineitem)
      SELECT CAST(least(floor((l_extendedprice - mn) / ((mx - mn) / CAST(10 AS DOUBLE))),
                        CAST(9 AS DOUBLE)) AS BIGINT) AS bin,
             count(*) AS n
      FROM lineitem, s
      GROUP BY bin
      ORDER BY bin"""))

  /** pandas `resample('15T', on='ts').agg(...)` over the sparse error
    * stream: every 15-minute bucket between min and max materialized
    * (≈2,880 buckets vs ≈2,000 events at sf0.01 — empty bins are the
    * point), counts coalesced to 0 like pandas. One bucket-key shuffle;
    * the skeleton is a `sequence()` explode off two scalar stats.
    */
  val q142_resample: Q = Q(
    fn = (s, dir) =>
      SDF(table(s, dir, "events").filter(col("event_type") === "error"))
        .resample("ts", "15 minutes", Seq(
          count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v")))
        .df
        .select(col("ts"), coalesce(col("n"), lit(0L)).as("n"), col("sum_v"))
        .orderBy(col("ts")),
    oracle = Some("""
      WITH e AS (SELECT ts, value FROM events WHERE event_type = 'error'),
      b AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts) AS ts,
               count(*) AS n, round(sum(value), 4) AS sum_v
        FROM e GROUP BY 1),
      mm AS (
        SELECT time_bucket(INTERVAL '15 minutes', min(ts)) AS lo,
               time_bucket(INTERVAL '15 minutes', max(ts)) AS hi
        FROM e),
      skel AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL '15 minutes')) AS ts FROM mm)
      SELECT skel.ts, coalesce(b.n, 0) AS n, b.sum_v
      FROM skel LEFT JOIN b USING (ts)
      ORDER BY ts"""))

  /** pandas `pd.crosstab(status, priority)`: contingency counts with the
    * column domain discovered from the data, zero-filled. Columns named by
    * value — the oracle quotes the same aliases.
    */
  val q143_crosstab: Q = Q(
    fn = (s, dir) =>
      SDF(table(s, dir, "orders"))
        .crosstab("o_orderstatus", "o_orderpriority")
        .df
        .orderBy(col("o_orderstatus")),
    oracle = Some("""
      SELECT o_orderstatus,
             count(*) FILTER (o_orderpriority = '1-URGENT') AS "1-URGENT",
             count(*) FILTER (o_orderpriority = '2-HIGH') AS "2-HIGH",
             count(*) FILTER (o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
             count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
             count(*) FILTER (o_orderpriority = '5-LOW') AS "5-LOW"
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""))

  /** pandas `df.explode('tokens')`: the token array unnests in place with
    * the id repeated — narrow, shuffle-free row expansion (`explode_outer`:
    * a zero-token doc keeps its row with a null cell; the oracle mirrors
    * with a `[NULL]` substitution).
    */
  val q148_explode: Q = Q(
    fn = (s, dir) =>
      SDF(table(s, dir, "documents").filter(col("doc_id") < 50)
          .select(col("doc_id"),
            graft.ops.TextAnalysis.tokens(col("text")).as("tok")))
        .explodeCol("tok").df
        .orderBy(col("doc_id"), col("tok")),
    oracle = Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM documents WHERE doc_id < 50)
      SELECT doc_id, u.tok AS tok
      -- t IS NULL (null text) keeps its explode_outer null row exactly like
      -- the empty token list — len(NULL)=0 is NULL, so the bare len() CASE
      -- silently dropped null-text docs
      FROM toks, UNNEST(CASE WHEN t IS NULL OR len(t) = 0 THEN [NULL] ELSE t END) u(tok)
      ORDER BY doc_id, tok"""))

  /** pandas `a.combine_first(b)` keyed on the customer key: a's non-null
    * cells win, b fills gaps (nulled acctbals), contributes its extra rows
    * (keys only in b) and its extra column (mktsegment). One full-outer
    * join. Modular key slices keep the fixture SF-independent.
    */
  val q149_combine_first: Q = Q(
    fn = (s, dir) => {
      val cust = table(s, dir, "customer")
      val a = cust.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 6 === 0, lit(null).cast("double"))
            .otherwise(col("c_acctbal")).as("c_acctbal"),
          col("c_name"))
      val b = cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      SDF(a).combineFirst(SDF(b), Seq("c_custkey")).df
        .select(col("c_custkey"), round(col("c_acctbal"), 4).as("c_acctbal"),
          col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    oracle = Some("""
      WITH a AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 6 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal,
               c_name
        FROM customer WHERE c_custkey % 2 = 0),
      b AS (
        SELECT c_custkey, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 3 = 0)
      SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
             round(coalesce(a.c_acctbal, b.c_acctbal), 4) AS c_acctbal,
             a.c_name AS c_name, b.c_mktsegment AS c_mktsegment
      FROM a FULL JOIN b ON a.c_custkey = b.c_custkey
      ORDER BY c_custkey"""))

  /** pandas `where`/`mask` cell substitution + `df.query()` string filter:
    * quantities below the threshold zero out (`where`), discounts cap at
    * 0.05 (`mask`), and the row filter goes through the SQL-expression
    * `query` path so the predicate still reaches the scan.
    */
  val q150_where_mask: Q = Q(
    fn = (s, dir) =>
      SDF(table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_discount")))
        .query("l_orderkey <= 200")
        .whereCols(col("l_quantity") > 10, Seq("l_quantity"), lit(0.0))
        .maskCols(col("l_discount") > 0.05, Seq("l_discount"), lit(0.05))
        .df
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 4).as("l_quantity"),
          round(col("l_discount"), 4).as("l_discount"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    oracle = Some("""
      SELECT l_orderkey, l_linenumber,
             round(CASE WHEN l_quantity > 10 THEN l_quantity ELSE 0.0 END, 4) AS l_quantity,
             round(CASE WHEN NOT (l_discount > 0.05) THEN l_discount ELSE 0.05 END, 4) AS l_discount
      FROM lineitem
      WHERE l_orderkey <= 200
      ORDER BY l_orderkey, l_linenumber"""))

  /** Fuzzy self-join at edit distance ≤ 1 ([[graft.ops.FuzzyJoin]]):
    * deletion-neighborhood (SymSpell) blocking — candidates from ONE
    * equi-join on 8-byte variant hashes, exact `levenshtein` verify. Exact
    * recall by construction, so the oracle is the brute-force all-pairs
    * scan. Customer names differing in one id digit are the planted-by-
    * nature near matches.
    */
  val q151_fuzzy_join: Q = Q(
    fn = (s, dir) =>
      graft.ops.FuzzyJoin.selfByEditDistance(
        table(s, dir, "customer").filter(col("c_custkey") % 10 < 3),
        "c_custkey", "c_name", maxDist = 1)
        .orderBy(col("id_a"), col("id_b")),
    oracle = Some("""
      WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 10 < 3)
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
      FROM c a JOIN c b ON a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1
      ORDER BY id_a, id_b"""))

  /** `groupby(type).resample("1H")` — per-group time buckets with each
    * group's own empty bins materialized ([[graft.sdf.SDF.resampleBy]]):
    * group spans come from one keyed min/max aggregate (no driver scalars),
    * skeletons explode per group.
    */
  val q153_grouped_resample: Q = Q(
    fn = (s, dir) =>
      SDF(table(s, dir, "events"))
        .resampleBy(Seq("event_type"), "ts", "1 hour", Seq(
          count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v")))
        .df
        .select(col("event_type"), col("ts"),
          coalesce(col("n"), lit(0L)).as("n"), col("sum_v"))
        .orderBy(col("event_type"), col("ts")),
    oracle = Some("""
      WITH b AS (
        SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS ts,
               count(*) AS n, round(sum(value), 4) AS sum_v
        FROM events GROUP BY 1, 2),
      mm AS (
        SELECT event_type,
               time_bucket(INTERVAL '1 hour', min(ts)) AS lo,
               time_bucket(INTERVAL '1 hour', max(ts)) AS hi
        FROM events GROUP BY 1),
      skel AS (
        SELECT event_type, unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS ts
        FROM mm)
      SELECT skel.event_type AS event_type, skel.ts AS ts,
             coalesce(b.n, 0) AS n, b.sum_v
      -- null-safe group key: a NULL event_type group must rejoin its own
      -- skeleton (the engine's relational groupBy treats nulls as one group)
      FROM skel LEFT JOIN b ON skel.event_type IS NOT DISTINCT FROM b.event_type
                           AND skel.ts = b.ts
      ORDER BY 1, 2"""))

  /** Incremental aggregation state ([[graft.ops.AggState]]): per-status
    * price stats built on two disjoint snapshots (even/odd keys), merged
    * algebraically — the pattern that reads the historical corpus once,
    * ever. AggState quantizes to decimal(18,6) and carries exact decimal
    * sums, so the merged state is identical no matter how either engine
    * ordered its partial sums; the oracle replays the same quantization
    * and the derived mean/std are computed from bit-identical doubles.
    */
  val q155_incremental_agg: Q = Q(
    fn = (s, dir) => {
      import graft.ops.AggState
      val orders = table(s, dir, "orders")
      val state = AggState.build(
        orders.filter(col("o_orderkey") % 2 === 0), Seq("o_orderstatus"), col("o_totalprice"))
      val delta = AggState.build(
        orders.filter(col("o_orderkey") % 2 === 1), Seq("o_orderstatus"), col("o_totalprice"))
      AggState.withStats(AggState.merge(state, delta, Seq("o_orderstatus")))
        .select(col("o_orderstatus"), col("n"),
          round(col("sum").cast("double"), 4).as("sum"),
          round(col("mn").cast("double"), 4).as("mn"),
          round(col("mx").cast("double"), 4).as("mx"),
          round(col("mean"), 4).as("mean"), round(col("std"), 4).as("std"))
        .orderBy(col("o_orderstatus"))
    },
    oracle = Some("""
      WITH q AS (
        SELECT o_orderstatus, o_orderkey,
               CAST(o_totalprice AS DECIMAL(19,6)) AS v
        FROM orders),
      halves AS (
        SELECT o_orderstatus, o_orderkey % 2 AS half,
               count(v) AS n, sum(v) AS s, sum(v * v) AS sq,
               min(v) AS mn, max(v) AS mx
        FROM q GROUP BY 1, 2),
      merged AS (
        SELECT o_orderstatus, CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(s) AS DOUBLE) AS s, CAST(sum(sq) AS DOUBLE) AS sq,
               CAST(min(mn) AS DOUBLE) AS mn, CAST(max(mx) AS DOUBLE) AS mx
        FROM halves GROUP BY 1)
      SELECT o_orderstatus, n, round(s, 4) AS sum,
             round(mn, 4) AS mn, round(mx, 4) AS mx,
             round(s / n, 4) AS mean,
             round(sqrt(greatest((sq - n * (s / n) * (s / n)) / (n - 1), 0.0)), 4) AS std
      FROM merged
      ORDER BY o_orderstatus"""))

  /** pandas `rolling(n).median()` / `.quantile(q)` ([[WindowStats
    * .rollingQuantile]]): exact type-7 quantiles over a row frame —
    * Spark's `percentile` window arithmetic is DuckDB's `quantile_cont`,
    * replayed term for term. min_periods = n (null until the frame fills).
    */
  val q159_rolling_median: Q = Q(
    fn = (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(WindowStats.rollingMedian(col("o_totalprice"), 5, w), 4).as("med5"),
          round(WindowStats.rollingQuantile(col("o_totalprice"), 0.25, 5, w), 4).as("p25"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    oracle = Some("""
      SELECT o_custkey, o_orderkey,
             round(CASE WHEN count(o_totalprice) OVER w = 5
                   THEN quantile_cont(o_totalprice, 0.5) OVER w END, 4) AS med5,
             round(CASE WHEN count(o_totalprice) OVER w = 5
                   THEN quantile_cont(o_totalprice, 0.25) OVER w END, 4) AS p25
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey"""))

  /** Key-skew profile ([[graft.ops.Scale.keyProfile]]): the hottest keys
    * with counts and row share — the pre-salting diagnostic. Map-side
    * combined count, broadcast scalar total, TakeOrdered top-k.
    */
  val q160_key_profile: Q = Q(
    fn = (s, dir) =>
      graft.ops.Scale.keyProfile(table(s, dir, "lineitem"), "l_suppkey", 20),
    oracle = Some("""
      WITH c AS (SELECT l_suppkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1),
           t AS (SELECT sum(cnt) AS total FROM c)
      SELECT key, CAST(cnt AS BIGINT) AS cnt, round(cnt / total, 6) AS share
      FROM c, t
      ORDER BY cnt DESC, key
      LIMIT 20"""))

  /** Schema-wide column profile ([[graft.ops.Profile.summary]]): n / nulls /
    * distinct / mean for every column in ONE aggregate pass (never a job per
    * column). The oracle replays each column's aggregates and unions them —
    * exact distincts here; the library defaults to HyperLogLog at scale
    * (spec'd within error against exact).
    */
  val q162_profile: Q = Q(
    fn = (s, dir) =>
      graft.ops.Profile.summary(table(s, dir, "orders"), exact = true)
        .withColumnRenamed("column", "col_name")
        .select(col("col_name"), col("n"), col("nulls"), col("n_distinct"), col("mean"))
        .orderBy(col("col_name")),
    oracle = Some("""
      SELECT 'o_custkey' AS col_name, count(o_custkey) AS n,
             count(*) - count(o_custkey) AS nulls,
             count(DISTINCT o_custkey) AS n_distinct,
             round(avg(o_custkey), 4) AS mean FROM orders
      UNION ALL
      SELECT 'o_orderdate', count(o_orderdate), count(*) - count(o_orderdate),
             count(DISTINCT o_orderdate), NULL FROM orders
      UNION ALL
      SELECT 'o_orderkey', count(o_orderkey), count(*) - count(o_orderkey),
             count(DISTINCT o_orderkey), round(avg(o_orderkey), 4) FROM orders
      UNION ALL
      SELECT 'o_orderpriority', count(o_orderpriority), count(*) - count(o_orderpriority),
             count(DISTINCT o_orderpriority), NULL FROM orders
      UNION ALL
      SELECT 'o_orderstatus', count(o_orderstatus), count(*) - count(o_orderstatus),
             count(DISTINCT o_orderstatus), NULL FROM orders
      UNION ALL
      SELECT 'o_totalprice', count(o_totalprice), count(*) - count(o_totalprice),
             count(DISTINCT o_totalprice), round(avg(o_totalprice), 4) FROM orders
      ORDER BY col_name"""))

  /** Skew-adaptive join ([[graft.ops.Scale.adaptiveJoin]]): hot suppliers
    * (left count > threshold) route through the salted path, cold ones join
    * plain — the oracle is the PLAIN inner join, proving the split+union is
    * exact. The threshold lands mid-distribution so both paths carry rows.
    */
  val q167_adaptive_join: Q = Q(
    fn = (s, dir) => {
      val left = table(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"), col("l_orderkey"),
          col("l_linenumber"), round(col("l_quantity"), 4).as("qty"))
      val right = table(s, dir, "supplier")
        .select(col("s_suppkey").as("suppkey"), col("s_name"))
      graft.ops.Scale.adaptiveJoin(left, right, Seq("suppkey"),
          salts = 4, hotThreshold = 600)
        .select(col("suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("qty"), col("s_name"))
        .orderBy(col("suppkey"), col("l_orderkey"), col("l_linenumber"))
    },
    oracle = Some("""
      SELECT l_suppkey AS suppkey, l_orderkey, l_linenumber,
             round(l_quantity, 4) AS qty, s_name
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      ORDER BY suppkey, l_orderkey, l_linenumber"""))

  /** Ordered funnel ([[graft.ops.Behavior.funnel]]): view → click →
    * purchase with a 7-day window anchored at the first view. Step-wise
    * per-user MIN aggregates + user-key joins — no per-user event list;
    * the oracle replays the same step chain.
    */
  val q178_funnel: Q = Q(
    fn = (s, dir) =>
      graft.ops.Behavior.funnel(table(s, dir, "events"), col("user_id"),
          col("ts"), col("event_type"),
          Seq("view", "click", "purchase"), window = Some("7 days"))
        .orderBy(col("step")),
    oracle = Some("""
      WITH a AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1),
      b AS (
        SELECT e.user_id, min(a.t1) AS t1, min(e.ts) AS tb
        FROM events e JOIN a USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > a.t1
          AND e.ts <= a.t1 + INTERVAL 7 DAY
        GROUP BY 1),
      c AS (
        SELECT e.user_id, min(e.ts) AS tc
        FROM events e JOIN b USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > b.tb
          AND e.ts <= b.t1 + INTERVAL 7 DAY
        GROUP BY 1)
      SELECT 1::BIGINT AS step, 'view' AS name, count(*) AS users FROM a
      UNION ALL
      SELECT 2::BIGINT, 'click', count(*) FROM b
      UNION ALL
      SELECT 3::BIGINT, 'purchase', count(*) FROM c
      ORDER BY step"""))

  /** Weekly cohort retention ([[graft.ops.Behavior.cohortRetention]]):
    * users bucketed by first-activity week, counted per return week.
    */
  val q179_retention: Q = Q(
    fn = (s, dir) =>
      graft.ops.Behavior.cohortRetention(table(s, dir, "events"),
          col("user_id"), col("ts"), "week", bucketDays = 7)
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          col("k"), col("users"))
        .orderBy(col("cohort"), col("k")),
    oracle = Some("""
      WITH ev AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS b
        FROM events),
      coh AS (SELECT user_id, min(b) AS cohort FROM ev GROUP BY 1)
      SELECT strftime(coh.cohort, '%Y-%m-%d') AS cohort,
             CAST(date_diff('day', coh.cohort, b) // 7 AS BIGINT) AS k,
             count(*) AS users
      FROM ev JOIN coh USING (user_id)
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  /** pandas `sort_values().groupby().head(n)` ([[graft.sdf.SDF.groupTopK]]):
    * top-3 lineitems by extended price per supplier — one keyed window, no
    * global sort.
    */
  val q180_group_topk: Q = Q(
    fn = (s, dir) =>
      SDF(table(s, dir, "lineitem"))
        .groupTopK(Seq(col("l_suppkey")), col("l_extendedprice"),
          col("l_orderkey") * 10 + col("l_linenumber"), n = 3)
        .df
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 4).as("price"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber")),
    oracle = Some("""
      SELECT l_suppkey, l_orderkey, l_linenumber,
             round(l_extendedprice, 4) AS price
      FROM (
        SELECT *, row_number() OVER (PARTITION BY l_suppkey
                 ORDER BY l_extendedprice DESC,
                          l_orderkey * 10 + l_linenumber) AS rn
        FROM lineitem)
      WHERE rn <= 3
      ORDER BY l_suppkey, l_orderkey, l_linenumber"""))

  /** Weighted mean, scalar ([[graft.sdf.SCol.wavg]]) and per-group:
    * quantity-weighted average price — the np.average capability.
    */
  val q181_weighted_mean: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(
          (sum(col("l_extendedprice") * col("l_quantity")) / sum(col("l_quantity")))
            .cast("double"), 4).as("wavg_price"))
        .orderBy(col("l_returnflag")),
    oracle = Some("""
      SELECT l_returnflag,
             round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS wavg_price
      FROM lineitem
      GROUP BY 1
      ORDER BY 1"""))

  /** Damped PageRank ([[graft.ops.Graph.pageRank]]) over the bipartite
    * customer↔supplier purchase graph (orders ⋈ lineitem, both directions →
    * no dangling nodes, so the oracle's recursive CTE needs no dangling
    * redistribution term; the dangling path is spec-verified separately).
    * 10 fixed iterations, d = 0.85; ranks reported scaled by |V| (mean 1).
    */
  val q184_pagerank: Q = Q(
    fn = (s, dir) => {
      // staged once (the q141 multi-consumer discipline): the symmetrizing
      // union below reads `pairs` twice — unstaged, the orders ⋈ lineitem
      // join + distinct would run once per branch when the edge cache
      // materializes
      // dedup on the RAW int pair and prefix after the cut: the distinct's
      // shuffle and the checkpoint then carry 16-byte key pairs instead of
      // prefixed strings (half the bytes, cheaper hashing); the concat is
      // codegen'd map-side per union branch
      // dedup-is-the-layout trick (the pageRankLoop discipline): repartition
      // on c FIRST so the (c,s) dedup runs exchange-free on top of it AND
      // the checkpointed layout is hash-partitioned by c — the customer
      // degree count below then needs no exchange either (a checkpoint,
      // local or reliable, preserves outputPartitioning). One shuffle buys
      // dedup + degree layout together.
      val nShuffle = s.sessionState.conf.numShufflePartitions
      val pairs = Snapshots.cut(table(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(table(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .repartition(nShuffle, col("c"))
        .dropDuplicates("c", "s"))
      // LONG node encoding (customer X → 2X, supplier Y → 2Y+1 — disjoint
      // by parity, the arithmetic twin of the old "c"/"s" string prefixes):
      // the whole PageRank loop then runs on 8-byte ids — no 2|E| string
      // builds in the degree/gather passes, long-keyed (not string-keyed)
      // hash probes — and the id decodes back to the oracle's "cX"/"sY"
      // spelling only on the |V|-row result
      val edges = pairs.select(shiftleft(col("c"), 1).as("src"),
          (shiftleft(col("s"), 1) + 1L).as("dst"))
        .unionByName(pairs.select((shiftleft(col("s"), 1) + 1L).as("src"),
          shiftleft(col("c"), 1).as("dst")))
      // bipartite degree shortcut: out-degree of node 2X in the symmetrized
      // graph = |{s : (X,s)}| = a long-keyed count over the HALF-size pair
      // checkpoint (and symmetrically for 2Y+1) — the engine's generic
      // degree pass would aggregate 2|E| endpoint rows instead (the single
      // largest stage of the r12 sf1.0 profile: 62 s of task time)
      val degrees = pairs.groupBy(col("c")).agg(count(lit(1)).as("deg"))
        .select(shiftleft(col("c"), 1).as("node"), col("deg"))
        .unionByName(pairs.groupBy(col("s")).agg(count(lit(1)).as("deg"))
          .select((shiftleft(col("s"), 1) + 1L).as("node"), col("deg")))
      val ranks = graft.ops.Graph.pageRank(edges, "src", "dst",
        iterations = 10, damping = 0.85,
        // distinct by construction: pairs.distinct + parity-disjoint union
        edgesDistinct = true,
        precomputedDegrees = Some(degrees))
      val n = ranks.count() // small-graph ranks come back as a local relation
      ranks.select(
          when(pmod(col("node"), lit(2L)) === 0L,
            concat(lit("c"), shiftright(col("node"), 1).cast("string")))
            .otherwise(concat(lit("s"), shiftright(col("node"), 1).cast("string")))
            .as("node"),
          round(col("rank") * lit(n.toDouble), 4).as("rank_scaled"))
        .orderBy(col("node"))
    },
    oracle = Some("""
      WITH RECURSIVE pairs AS (
        SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s, c FROM pairs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      pr(iter, node, rank) AS (
        SELECT 0, node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) FROM nodes
        UNION ALL
        SELECT p.iter + 1, e.dst,
               (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
                 + CAST(0.85 AS DOUBLE) * sum(p.rank / dg.d)
        FROM pr p
        JOIN deg dg ON p.node = dg.src
        JOIN edges e ON p.node = e.src
        WHERE p.iter < 10
        GROUP BY p.iter, e.dst)
      SELECT node, round(rank * (SELECT n FROM nn), 4) AS rank_scaled
      FROM pr WHERE iter = 10
      ORDER BY node"""),
    bench = true)

  /** Keyed upsert ([[graft.sdf.SDF.upsert]] — lakehouse MERGE semantics):
    * every 10th customer's balance is overwritten wholesale and 50 new
    * customers append; row-level replace, not cell-level fill.
    */
  val q185_upsert: Q = Q(
    fn = (s, dir) => {
      val base = SDF(table(s, dir, "customer"))
      val bumped = base.df.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", lit(9999.99))
      val fresh = base.df.filter(col("c_custkey") < 50)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000L))
      base.upsert(SDF(bumped.unionByName(fresh)), Seq("c_custkey")).df
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 4).as("acctbal"))
        .orderBy(col("c_custkey"))
    },
    oracle = Some("""
      WITH updates AS (
        SELECT c_custkey, c_name, c_nationkey, 9999.99 AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey < 50)
      SELECT c_custkey, c_name, round(c_acctbal, 4) AS acctbal
      FROM (
        SELECT * FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
        UNION ALL
        SELECT * FROM updates)
      ORDER BY c_custkey"""))

  /** Nested-struct flattening ([[graft.sdf.SDF.flattenStructs]] — pandas
    * `json_normalize`): two levels of built structs plus a parsed JSON
    * column all expand to flat `parent_child` columns in one projection.
    */
  val q186_flatten_structs: Q = Q(
    fn = (s, dir) =>
      SDF(table(s, dir, "events")
        .select(col("event_id"),
          struct(col("event_type").as("type"),
            struct(col("user_id").as("uid"), col("value").as("val")).as("who")).as("meta"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k LONG")).as("props")))
        .flattenStructs().df
        .select(col("event_id"), col("meta_type"), col("meta_who_uid"),
          round(col("meta_who_val"), 4).as("meta_who_val"), col("props_k"))
        .orderBy(col("event_id")),
    oracle = Some("""
      SELECT event_id, event_type AS meta_type, user_id AS meta_who_uid,
             round(value, 4) AS meta_who_val,
             CAST(props->>'k' AS BIGINT) AS props_k
      FROM events
      ORDER BY event_id"""))

  /** Per-group 10% trimmed mean ([[RankStats.trimmedMeanPerGroup]]):
    * grouped exact type-7 quantile band + conditional average.
    */
  val q187_trimmed_mean: Q = Q(
    fn = (s, dir) =>
      RankStats.trimmedMeanPerGroup(table(s, dir, "lineitem"),
          Seq("l_returnflag"), "l_extendedprice", p = 0.1)
        .select(col("l_returnflag"), round(col("trimmed_mean"), 4).as("trimmed_mean"))
        .orderBy(col("l_returnflag")),
    oracle = Some("""
      WITH b AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.1) AS lo,
               quantile_cont(l_extendedprice, 0.9) AS hi
        FROM lineitem GROUP BY 1)
      SELECT l.l_returnflag,
             round(avg(CASE WHEN l_extendedprice BETWEEN lo AND hi
                            THEN l_extendedprice END), 4) AS trimmed_mean
      FROM lineitem l JOIN b USING (l_returnflag)
      GROUP BY 1
      ORDER BY 1"""))

  /** k-anonymity audit ([[graft.ops.Profile.kAnonymity]]): minimum
    * quasi-identifier group size + how many groups/rows fall under k=10.
    */
  val q188_k_anonymity: Q = Q(
    fn = (s, dir) =>
      graft.ops.Profile.kAnonymity(table(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), k = 10),
    oracle = Some("""
      WITH g AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS sz
        FROM customer GROUP BY 1, 2)
      SELECT CAST(min(sz) AS BIGINT) AS k_min,
             CAST(count(*) AS BIGINT) AS groups_total,
             CAST(sum(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT) AS groups_below,
             CAST(coalesce(sum(CASE WHEN sz < 10 THEN sz END), 0) AS BIGINT) AS rows_at_risk
      FROM g"""))

  /** Multi-aggregate pivot (pandas `pivot_table(aggfunc=[sum, count])`):
    * one pivot producing `<value>_<agg>` column pairs per pivot value.
    */
  val q191_pivot_multi: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum(col("l_quantity")), 4).as("qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
    oracle = Some("""
      SELECT l_returnflag,
             round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS F_qty,
             CAST(count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT) AS F_n,
             round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS O_qty,
             CAST(count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT) AS O_n
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** TPC-H Q3 (shipping-priority) adapted to this schema — the classic
    * filter→broadcast→join→partial-agg→top-k plan shape, bench-watched so
    * the planner keeps producing it: filtered dimension broadcasts, revenue
    * partial-aggregates before the exchange, TakeOrdered caps the sort.
    */
  val q193_tpch_q3: Q = Q(
    fn = (s, dir) => {
      val cust = table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val ord = table(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
      val li = table(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      cust.join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("rev")), 4).as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    },
    oracle = Some("""
      SELECT l_orderkey,
             round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
             o_orderdate, o_orderpriority
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING'
        AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-06-01'
        AND l_shipdate > TIMESTAMP '1998-06-01'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, o_orderdate, l_orderkey
      LIMIT 10"""),
    bench = true)

  /** TPC-H Q10 (returned-item reporting) adapted: quarter window on orders,
    * return-flag filter, four-table join, revenue top-20.
    */
  val q194_tpch_q10: Q = Q(
    fn = (s, dir) => {
      val ord = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1998-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = table(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      table(s, dir, "customer")
        .join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .join(table(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(round(sum(col("rev")), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("revenue"), col("n_name"))
    },
    oracle = Some("""
      SELECT c_custkey, c_name,
             round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
             n_name
      FROM customer, orders, lineitem, nation
      WHERE c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate >= TIMESTAMP '1998-01-01'
        AND o_orderdate < TIMESTAMP '1998-04-01'
        AND l_returnflag = 'R'
        AND c_nationkey = n_nationkey
      GROUP BY c_custkey, c_name, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20"""))

  /** SCD Type-2 history ([[graft.ops.History.scd2]]): three stacked
    * snapshot versions (balance bump in v2, segment change in v3) collapse
    * into validity intervals; null `effective_to` marks current state.
    */
  val q199_scd2: Q = Q(
    fn = (s, dir) => {
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      val bal2 = when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100)
        .otherwise(col("c_acctbal"))
      val v1 = c.withColumn("v", lit(1L))
      val v2 = c.withColumn("c_acctbal", bal2).withColumn("v", lit(2L))
      val v3 = c.withColumn("c_acctbal", bal2)
        .withColumn("c_mktsegment",
          when(col("c_custkey") % 11 === 0, lit("CHANGED")).otherwise(col("c_mktsegment")))
        .withColumn("v", lit(3L))
      graft.ops.History.scd2(v1.unionByName(v2).unionByName(v3),
          Seq("c_custkey"), "v", Seq("c_acctbal", "c_mktsegment"))
        .select(col("c_custkey"), col("effective_from"), col("effective_to"),
          round(col("c_acctbal"), 4).as("acctbal"), col("c_mktsegment"))
        .orderBy(col("c_custkey"), col("effective_from"))
    },
    oracle = Some("""
      WITH snaps AS (
        SELECT c_custkey, c_acctbal, c_mktsegment, 1 AS v FROM customer
        UNION ALL
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100 ELSE c_acctbal END,
               c_mktsegment, 2 FROM customer
        UNION ALL
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100 ELSE c_acctbal END,
               CASE WHEN c_custkey % 11 = 0 THEN 'CHANGED' ELSE c_mktsegment END,
               3 FROM customer),
      marked AS (
        SELECT *,
               (row_number() OVER w = 1
                OR c_acctbal IS DISTINCT FROM lag(c_acctbal) OVER w
                OR c_mktsegment IS DISTINCT FROM lag(c_mktsegment) OVER w) AS chg
        FROM snaps
        WINDOW w AS (PARTITION BY c_custkey ORDER BY v))
      SELECT c_custkey,
             CAST(effective_from AS BIGINT) AS effective_from,
             CAST(effective_to AS BIGINT) AS effective_to,
             round(c_acctbal, 4) AS acctbal, c_mktsegment
      FROM (
        SELECT c_custkey, v AS effective_from,
               lead(v) OVER (PARTITION BY c_custkey ORDER BY v) AS effective_to,
               c_acctbal, c_mktsegment
        FROM marked WHERE chg)
      ORDER BY c_custkey, effective_from"""))

  /** Point-in-time dimension lookup ([[graft.ops.History.pointInTime]]):
    * every order joined to the customer attributes effective AT its order
    * date — spelled as an as-of join against the SCD2 change stream (one
    * keyed window shuffle), NEVER an interval range join. Oracle uses
    * DuckDB's native ASOF LEFT JOIN. Orders before the first snapshot get
    * nulls.
    */
  val q201_point_in_time: Q = Q(
    fn = (s, dir) => {
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      val bal2 = when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100)
        .otherwise(col("c_acctbal"))
      def snap(ts: String, bal: org.apache.spark.sql.Column, seg: org.apache.spark.sql.Column) =
        c.withColumn("c_acctbal", bal).withColumn("c_mktsegment", seg)
          .withColumn("v", lit(ts).cast("timestamp"))
      val snaps = snap("1996-01-01", col("c_acctbal"), col("c_mktsegment"))
        .unionByName(snap("1998-01-01", bal2, col("c_mktsegment")))
        .unionByName(snap("2000-01-01", bal2,
          when(col("c_custkey") % 11 === 0, lit("CHANGED")).otherwise(col("c_mktsegment"))))
      val hist = graft.ops.History.scd2(snaps, Seq("c_custkey"), "v",
        Seq("c_acctbal", "c_mktsegment"))
      val facts = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"), col("o_orderdate"))
      graft.ops.History.pointInTime(facts, "o_orderdate", hist,
          Seq("c_custkey"), Seq("c_acctbal", "c_mktsegment"))
        .select(col("o_orderkey"), col("c_custkey"),
          round(col("c_acctbal"), 4).as("acctbal"), col("c_mktsegment"))
        .orderBy(col("o_orderkey"))
    },
    oracle = Some("""
      WITH snaps AS (
        SELECT c_custkey, c_acctbal, c_mktsegment, TIMESTAMP '1996-01-01' AS v FROM customer
        UNION ALL
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100 ELSE c_acctbal END,
               c_mktsegment, TIMESTAMP '1998-01-01' FROM customer
        UNION ALL
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100 ELSE c_acctbal END,
               CASE WHEN c_custkey % 11 = 0 THEN 'CHANGED' ELSE c_mktsegment END,
               TIMESTAMP '2000-01-01' FROM customer),
      marked AS (
        SELECT *,
               (row_number() OVER w = 1
                OR c_acctbal IS DISTINCT FROM lag(c_acctbal) OVER w
                OR c_mktsegment IS DISTINCT FROM lag(c_mktsegment) OVER w) AS chg
        FROM snaps
        WINDOW w AS (PARTITION BY c_custkey ORDER BY v)),
      hist AS (SELECT c_custkey, v AS effective_from, c_acctbal, c_mktsegment
               FROM marked WHERE chg)
      SELECT o.o_orderkey, o.c_custkey,
             round(h.c_acctbal, 4) AS acctbal, h.c_mktsegment
      FROM (SELECT o_orderkey, o_custkey AS c_custkey, o_orderdate FROM orders) o
      ASOF LEFT JOIN hist h
        ON o.c_custkey = h.c_custkey AND o.o_orderdate >= h.effective_from
      ORDER BY o.o_orderkey"""))

  /** pandas `corrwith` ([[graft.sdf.SDF.corrWith]]): per-column Pearson
    * correlation between key-aligned frames in one join + one aggregate —
    * an exact −1 (reversed quantity) and a near-1 (discounted price) pair.
    */
  val q203_corrwith: Q = Q(
    fn = (s, dir) => {
      // orders: o_orderkey IS unique (lineitem's (orderkey, linenumber) is
      // not in this synthetic data — a non-unique key would fan the
      // alignment join out and dilute every correlation)
      val a = SDF(table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_custkey").cast("double").as("o_custkey")))
      val b = SDF(table(s, dir, "orders")
        .select(col("o_orderkey"), (lit(0.0) - col("o_totalprice")).as("o_totalprice"),
          (col("o_custkey") + col("o_orderkey") % 100).cast("double").as("o_custkey")))
      a.corrWith(b, Seq("o_orderkey"))
        .select(col("column"), round(col("corr"), 4).as("corr"))
        .orderBy(col("column"))
    },
    oracle = Some("""
      SELECT 'o_custkey' AS "column",
             round(corr(CAST(o_custkey AS DOUBLE),
                        CAST(o_custkey + o_orderkey % 100 AS DOUBLE)), 4) AS corr
      FROM orders
      UNION ALL
      SELECT 'o_totalprice', round(corr(o_totalprice, 0.0 - o_totalprice), 4)
      FROM orders
      ORDER BY "column""""))

  /** `resample().ohlc()` ([[graft.sdf.SDF.ohlcBy]]): hourly
    * open/high/low/close of event values per type, deterministic open/close
    * via the unique-timestamp tie key (never partition-order first/last).
    */
  val q204_ohlc: Q = Q(
    fn = (s, dir) =>
      SDF(table(s, dir, "events"))
        .ohlcBy(Seq("event_type"), "ts", "1 hour", col("value"), unix_micros(col("ts")))
        .select(col("event_type"), col("w_start"),
          round(col("open"), 4).as("open"), round(col("high"), 4).as("high"),
          round(col("low"), 4).as("low"), round(col("close"), 4).as("close"))
        .orderBy(col("event_type"), col("w_start")),
    oracle = Some("""
      -- struct-packed arg_min/arg_max: bare arg_min(value, ...) SKIPS rows
      -- whose value is NULL, but the engine's min_by/max_by return the
      -- bucket's strict first/last event value, null included
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS w_start,
             round(arg_min({'v': value}, epoch_us(ts)).v, 4) AS open,
             round(max(value), 4) AS high,
             round(min(value), 4) AS low,
             round(arg_max({'v': value}, epoch_us(ts)).v, 4) AS close
      FROM events
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  /** Equi-depth deciles ([[graft.sdf.SDF.equiDepthBuckets]]): ntile(10)
    * per return flag with per-bucket count/min/max.
    */
  val q207_equidepth: Q = Q(
    fn = (s, dir) =>
      SDF(table(s, dir, "lineitem"))
        .equiDepthBuckets(Seq(col("l_returnflag")), col("l_extendedprice"), n = 10)
        .select(col("l_returnflag"), col("bucket").cast("long").as("bucket"),
          col("n"), round(col("lo"), 4).as("lo"), round(col("hi"), 4).as("hi"))
        .orderBy(col("l_returnflag"), col("bucket")),
    oracle = Some("""
      SELECT l_returnflag, bucket, CAST(count(*) AS BIGINT) AS n,
             round(min(p), 4) AS lo, round(max(p), 4) AS hi
      FROM (
        SELECT l_returnflag, l_extendedprice AS p,
               ntile(10) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS bucket
        FROM lineitem)
      GROUP BY l_returnflag, bucket
      ORDER BY l_returnflag, bucket"""))

  /** pandas `Series.autocorr` ([[WindowStats.autocorrPerGroup]]): lag-1
    * self-correlation of event values per type, time-ordered.
    */
  val q209_autocorr: Q = Q(
    fn = (s, dir) =>
      WindowStats.autocorrPerGroup(table(s, dir, "events"),
          Seq("event_type"), Seq(col("ts"), col("event_id")), col("value"), lag = 1)
        .select(col("event_type"), round(col("autocorr"), 4).as("autocorr"))
        .orderBy(col("event_type")),
    oracle = Some("""
      SELECT event_type, round(corr(value, lv), 4) AS autocorr
      FROM (
        SELECT event_type, value,
               lag(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS lv
        FROM events)
      WHERE lv IS NOT NULL
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Path analysis ([[graft.ops.Behavior.topTransitions]]): top event-type
    * transition bigrams over per-user time-ordered sequences.
    */
  val q205_event_paths: Q = Q(
    fn = (s, dir) =>
      graft.ops.Behavior.topTransitions(table(s, dir, "events"),
          col("user_id"), col("ts"), col("event_type"), col("event_id"), topN = 10)
        .select(col("from_type"), col("to_type"), col("n")),
    oracle = Some("""
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      FROM (
        SELECT user_id, event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        FROM events)
      WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
      ORDER BY n DESC, from_type, to_type
      LIMIT 10"""))

  /** Conversion-lag distribution ([[graft.ops.Behavior.conversionLag]]):
    * first view → first subsequent purchase per user, exact p50/p90.
    */
  val q206_conversion_lag: Q = Q(
    fn = (s, dir) =>
      graft.ops.Behavior.conversionLag(table(s, dir, "events"),
        col("user_id"), col("ts"), col("event_type"), "view", "purchase"),
    oracle = Some("""
      WITH f AS (
        SELECT user_id, min(ts) AS t0 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      lags AS (
        SELECT f.user_id,
               min(epoch_us(e.ts) - epoch_us(f.t0)) AS lag_us
        FROM f JOIN events e
          ON e.user_id = f.user_id AND e.event_type = 'purchase' AND e.ts >= f.t0
        GROUP BY f.user_id)
      SELECT CAST(count(*) AS BIGINT) AS converted_users,
             round(quantile_cont(lag_us / 1e6, 0.5), 4) AS p50_sec,
             round(quantile_cont(lag_us / 1e6, 0.9), 4) AS p90_sec
      FROM lags"""))

  /** Per-group mode ([[graft.sdf.SDF.modePerGroup]]): most frequent
    * quantity per return flag, smallest-value tie-break.
    */
  val q197_group_mode: Q = Q(
    fn = (s, dir) =>
      SDF(table(s, dir, "lineitem"))
        .modePerGroup(Seq(col("l_returnflag")), col("l_quantity").cast("long"))
        .orderBy(col("l_returnflag")),
    oracle = Some("""
      SELECT l_returnflag, CAST(v AS BIGINT) AS mode
      FROM (
        SELECT l_returnflag, v, row_number() OVER (
                 PARTITION BY l_returnflag ORDER BY c DESC, v) AS rn
        FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v, count(*) AS c
              FROM lineitem GROUP BY 1, 2))
      WHERE rn = 1
      ORDER BY l_returnflag"""))

  /** pandas `nlargest/nsmallest(keep="all")` ([[graft.sdf.SDF.nlargestAll]]
    * / [[graft.sdf.SDF.nsmallestAll]], `ScalableSeries.py:936-942` keep
    * flag): every row tied with the n-th boundary value survives, so the
    * result exceeds n on tied columns (l_quantity ties heavily). Planned
    * as a TakeOrdered boundary probe + broadcast filter — no global sort,
    * no row-number window; the oracle replays the boundary subquery.
    */
  val q215_topk_keep_all: Q = Q(
    fn = (s, dir) => {
      val sdf = SDF(table(s, dir, "lineitem"))
      def shape(d: org.apache.spark.sql.DataFrame, side: String) =
        d.select(lit(side).as("side"), col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 4).as("qty"))
      shape(sdf.nlargestAll(5, Seq(col("l_quantity"))).df, "top")
        .unionByName(shape(sdf.nsmallestAll(5, Seq(col("l_quantity"))).df, "bottom"))
        .orderBy(col("side"), col("l_orderkey"), col("l_linenumber"))
    },
    oracle = Some("""
      WITH hi AS (SELECT min(q) AS b FROM (
             SELECT l_quantity AS q FROM lineitem WHERE l_quantity IS NOT NULL
             ORDER BY q DESC LIMIT 5)),
           lo AS (SELECT max(q) AS b FROM (
             SELECT l_quantity AS q FROM lineitem WHERE l_quantity IS NOT NULL
             ORDER BY q ASC LIMIT 5))
      SELECT side, l_orderkey, l_linenumber, qty FROM (
        SELECT 'top' AS side, l_orderkey, l_linenumber, round(l_quantity, 4) AS qty
        FROM lineitem, hi WHERE l_quantity >= hi.b
        UNION ALL
        SELECT 'bottom', l_orderkey, l_linenumber, round(l_quantity, 4)
        FROM lineitem, lo WHERE l_quantity <= lo.b)
      ORDER BY side, l_orderkey, l_linenumber"""))

  /** pandas `value_counts(bins=n)` ([[graft.sdf.SCol.valueCountsBins]],
    * `ScalableSeries.py` value_counts bins flag): equal-width interval
    * counts with ALL bins present (empty ones count 0), right-closed,
    * minimum included in bin 0. One min/max broadcast scalar + codegen'd
    * bin arithmetic + a map-side-combined count — the oracle replays the
    * identical double arithmetic so edge landings agree bit-for-bit.
    */
  val q216_value_counts_bins: Q = Q(
    fn = (s, dir) =>
      SDF(table(s, dir, "lineitem"))("l_extendedprice").valueCountsBins(8)
        .select(col("bin"), round(col("lo"), 4).as("lo"),
          round(col("hi"), 4).as("hi"), col("count"))
        .orderBy(col("count").desc, col("bin")),
    oracle = Some("""
      WITH st AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
                  FROM lineitem WHERE l_extendedprice IS NOT NULL),
      idx AS (
        SELECT CASE WHEN (st.mx - st.mn) = 0 THEN 0
                    ELSE greatest(0, least(7,
                      CAST(ceil((l_extendedprice - st.mn) / ((st.mx - st.mn) / 8.0)) AS BIGINT) - 1))
               END AS i
        FROM lineitem, st WHERE l_extendedprice IS NOT NULL),
      cnt AS (SELECT i, count(*) AS c FROM idx GROUP BY i),
      spine AS (SELECT u.i, st.mn, st.mx FROM st, UNNEST(generate_series(0, 7)) u(i))
      SELECT CAST(i AS BIGINT) AS bin,
             round(mn + i * ((mx - mn) / 8.0), 4) AS lo,
             CASE WHEN i = 7 THEN round(mx, 4)
                  ELSE round(mn + (i + 1) * ((mx - mn) / 8.0), 4) END AS hi,
             CAST(coalesce(c, 0) AS BIGINT) AS "count"
      FROM spine LEFT JOIN cnt USING (i)
      ORDER BY "count" DESC, bin"""))

  val all: Map[String, Q] = Map(
    "q215_topk_keep_all" -> q215_topk_keep_all,
    "q216_value_counts_bins" -> q216_value_counts_bins,
    "q217_merge_sort" -> q217_merge_sort,
    "q184_pagerank" -> q184_pagerank,
    "q185_upsert" -> q185_upsert,
    "q191_pivot_multi" -> q191_pivot_multi,
    "q193_tpch_q3" -> q193_tpch_q3,
    "q194_tpch_q10" -> q194_tpch_q10,
    "q197_group_mode" -> q197_group_mode,
    "q199_scd2" -> q199_scd2,
    "q201_point_in_time" -> q201_point_in_time,
    "q203_corrwith" -> q203_corrwith,
    "q204_ohlc" -> q204_ohlc,
    "q205_event_paths" -> q205_event_paths,
    "q206_conversion_lag" -> q206_conversion_lag,
    "q207_equidepth" -> q207_equidepth,
    "q209_autocorr" -> q209_autocorr,
    "q186_flatten_structs" -> q186_flatten_structs,
    "q187_trimmed_mean" -> q187_trimmed_mean,
    "q188_k_anonymity" -> q188_k_anonymity,
    "q162_profile" -> q162_profile,
    "q167_adaptive_join" -> q167_adaptive_join,
    "q178_funnel" -> q178_funnel,
    "q179_retention" -> q179_retention,
    "q180_group_topk" -> q180_group_topk,
    "q181_weighted_mean" -> q181_weighted_mean,
    "q159_rolling_median" -> q159_rolling_median,
    "q160_key_profile" -> q160_key_profile,
    "q155_incremental_agg" -> q155_incremental_agg,
    "q151_fuzzy_join" -> q151_fuzzy_join,
    "q153_grouped_resample" -> q153_grouped_resample,
    "q142_resample" -> q142_resample,
    "q143_crosstab" -> q143_crosstab,
    "q148_explode" -> q148_explode,
    "q149_combine_first" -> q149_combine_first,
    "q150_where_mask" -> q150_where_mask,
    "q140_histogram" -> q140_histogram,
    "q137_frame_compare" -> q137_frame_compare,
    "q138_dropdup_keep_none" -> q138_dropdup_keep_none,
    "q133_rolling_time" -> q133_rolling_time,
    "q134_expanding_transform" -> q134_expanding_transform,
    "q132_sessionize" -> q132_sessionize,
    "q213_session_stats" -> q213_session_stats,
    "q131_outlier_flags" -> q131_outlier_flags,
    "q127_weighted_sample" -> q127_weighted_sample,
    "q128_cum_extrema" -> q128_cum_extrema,
    "q120_interpolate" -> q120_interpolate,
    "q121_rolling_corr" -> q121_rolling_corr,
    "q122_winsorize" -> q122_winsorize,
    "q123_rank_methods" -> q123_rank_methods,
    "q124_geo_harmonic" -> q124_geo_harmonic,
    "q112_range_join" -> q112_range_join,
    "q41_stream_shard" -> q41_stream_shard,
    "q13_merge_suffixes" -> q13_merge_suffixes,
    "q14_merge_indicator" -> q14_merge_indicator,
    "q15_dropdup_keep_last" -> q15_dropdup_keep_last,
    "q16_fillna_replace" -> q16_fillna_replace,
    "q17_ffill_window" -> q17_ffill_window,
    "q18_isin_between" -> q18_isin_between,
    "q19_sample_hash" -> q19_sample_hash,
    "q20_scol_moments" -> q20_scol_moments,
    "q21_idxmax" -> q21_idxmax,
    "q22_corr_cov" -> q22_corr_cov,
    "q80_spearman_corr" -> q80_spearman_corr,
    "q81_expanding" -> q81_expanding,
    "q100_kendall_tau" -> q100_kendall_tau,
    "q99_ewm_mean" -> q99_ewm_mean,
    "q103_corr_matrix" -> q103_corr_matrix,
    "q104_qcut" -> q104_qcut,
    "q105_get_dummies" -> q105_get_dummies,
    "q84_groupby_dropna" -> q84_groupby_dropna,
    "q92_group_quantiles" -> q92_group_quantiles,
    "q97_group_moments" -> q97_group_moments,
    "q23_nunique" -> q23_nunique,
    "q24_cumsum_shift_diff" -> q24_cumsum_shift_diff,
    "q25_rollup" -> q25_rollup,
    "q26_intersect_except" -> q26_intersect_except,
    "q27_concat_ragged" -> q27_concat_ragged,
    "q28_valid_failing_rows" -> q28_valid_failing_rows)
}
