package graft.operators

import graft.Tables
import graft.functions.Num._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-level statistical tests and decompositions over the events and
  * orders tables — the readout layer a metrics platform runs NEXT TO the Welch
  * t in `EventsOps.abTest`: rank/ECDF tests that don't assume normality, the
  * mix-vs-rate decomposition every "why did the metric move" review needs, and
  * a Benford first-digit audit for the finance-shaped columns.
  *
  * Exactness discipline (shared with the rest of the repo): values quantize to
  * integer cents BEFORE any grouping or ranking, so tie structure, cumulative
  * counts and rank sums are exact BIGINT arithmetic in both engines; doubles
  * appear only in final ratios, r6-rounded.
  *
  * Scale notes (100 TB thinking): every test here reduces the fact table to a
  * (group key × distinct quantized value) frequency relation FIRST — a hash agg
  * with map-side partial collapse — and runs the ordered scan on that reduced
  * relation. The ordered ECDF/rank pass partitions by the test's group key
  * (event_type), so parallelism = #groups; for a high-cardinality group key the
  * same plan scales out, and for a single global test at extreme value
  * cardinality the sketch-quantile path (`ts_value_quantiles_sketch`) is the
  * approximate stand-in.
  */
object StatsOps {

  /** Mean of fx2 (integer-cent) values from their sum `s` over `n` rows. */
  private def fx2Mean(s: Column, n: Column): Column = s.cast("double") / 1e2 / n.cast("double")

  /** Sample variance of fx2 (integer-cent) values from their sum of squares
    * `ss`, sum `s` and count `n`. Each query's DuckDB twin spells out the
    * same formula in its own SQL.
    */
  private def fx2Var(ss: Column, s: Column, n: Column): Column =
    (ss.cast("double") / 1e4 - (s.cast("double") / 1e2) * (s.cast("double") / 1e2) /
      n.cast("double")) / (n - 1L).cast("double")

  /** Kolmogorov's c(α) at α=0.05 — reject when λ = D·√(n_a·n_b/(n_a+n_b))
    * exceeds it. */
  val KsCrit05 = 1.358

  /** Two-sample Kolmogorov–Smirnov test per event_type between the A/B arms
    * (deterministic user-parity assignment, same as `events_abtest` — the
    * nonparametric companion the platform reads when value distributions are
    * heavy-tailed and a mean test is not trustworthy).
    *
    * D = max_x |F_a(x) − F_b(x)| computed EXACTLY: the per-arm ECDFs step only
    * at observed values, so D's numerator is max over the (type, cents) grid of
    * |cum_a·n_b − cum_b·n_a| — pure BIGINT (cum ≤ n, so the products stay below
    * n_a·n_b ≈ 4·10¹⁴ even at 1000× this fixture, far under 2⁶³). One scan →
    * (type, cents, arm-count) hash agg → per-type ordered cumulative pass on
    * the REDUCED grid → per-type max.
    */
  def ksTest(spark: SparkSession, dir: String): DataFrame = {
    val grid = Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("x"),
        when(col("user_id") % 2 === 0L, 1L).otherwise(0L).as("a"))
      .groupBy("event_type", "x")
      .agg(sum(col("a")).as("ca"), (count(lit(1)) - sum(col("a"))).as("cb"))
    val wcum = Window.partitionBy("event_type").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy("event_type")
    val stepped = grid
      .select(col("event_type"),
        sum(col("ca")).over(wcum).as("cum_a"), sum(col("cb")).over(wcum).as("cum_b"),
        sum(col("ca")).over(wall).as("n_a"), sum(col("cb")).over(wall).as("n_b"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")).as("d_num"))
    stepped.groupBy("event_type")
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        max(col("d_num")).as("d_num"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        r6(col("d_num").cast("double") / (col("n_a") * col("n_b")).cast("double")).as("ks_d"),
        r6(col("d_num").cast("double") / (col("n_a") * col("n_b")).cast("double") *
          sqrt((col("n_a") * col("n_b")).cast("double") /
            (col("n_a") + col("n_b")).cast("double"))).as("ks_lambda"))
      .withColumn("reject_05", col("ks_lambda") > KsCrit05)
  }

  def ksTestOracle: String =
    s"""WITH grid AS (
       |  SELECT event_type, CAST(floor(value*1e2 + 0.5) AS BIGINT) AS x,
       |         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |         CAST(count(*) - sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM events GROUP BY 1, 2
       |), stepped AS (
       |  SELECT event_type,
       |         CAST(sum(ca) OVER wc AS BIGINT) AS cum_a,
       |         CAST(sum(cb) OVER wc AS BIGINT) AS cum_b,
       |         CAST(sum(ca) OVER wa AS BIGINT) AS n_a,
       |         CAST(sum(cb) OVER wa AS BIGINT) AS n_b
       |  FROM grid
       |  WINDOW wc AS (PARTITION BY event_type ORDER BY x
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |         wa AS (PARTITION BY event_type)
       |), agg AS (
       |  SELECT event_type, max(n_a) AS n_a, max(n_b) AS n_b,
       |         max(abs(cum_a*n_b - cum_b*n_a)) AS d_num
       |  FROM stepped GROUP BY 1
       |)
       |SELECT event_type, n_a, n_b,
       |       ${sqlR6("CAST(d_num AS DOUBLE)/(CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE))")} AS ks_d,
       |       ${sqlR6("CAST(d_num AS DOUBLE)/(CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)) * sqrt(CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)/CAST(n_a + n_b AS DOUBLE))")} AS ks_lambda,
       |       ${sqlR6("CAST(d_num AS DOUBLE)/(CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)) * sqrt(CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)/CAST(n_a + n_b AS DOUBLE))")} > ${sqlD(KsCrit05)} AS reject_05
       |FROM agg ORDER BY event_type""".stripMargin

  /** Mann–Whitney U per event_type between the same A/B arms — the rank-based
    * location test (Mann & Whitney 1947), with the tie correction the cents
    * quantization makes necessary.
    *
    * Rank sums are exact: on the (type, cents) frequency grid, every member of
    * a tied group of size t gets average rank cum_before + (t+1)/2, so DOUBLED
    * ranks are the integers 2·cum_before + t + 1 and the doubled arm-A rank sum
    * R2 = Σ ca·(2·cum_before + t + 1) is exact BIGINT (≤ n·(2n+1) ≈ 8·10¹⁴ at
    * 1000× this fixture). 2·U_a = R2 − 2·(n_a(n_a+1)/2). The tie term
    * T = Σ(t³−t) feeds the variance correction
    * Var = n_a·n_b/12 · (n+1 − T/(n(n−1))); z uses the same-operand expression
    * in both engines, r6-rounded.
    */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val grid = Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("x"),
        when(col("user_id") % 2 === 0L, 1L).otherwise(0L).as("a"))
      .groupBy("event_type", "x")
      .agg(count(lit(1)).as("t"), sum(col("a")).as("ca"))
    val wprev = Window.partitionBy("event_type").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val ranked = grid.select(col("event_type"), col("t"), col("ca"),
      (coalesce(sum(col("t")).over(wprev), lit(0L)) * 2L + col("t") + 1L).as("r2"))
    val agg = ranked.groupBy("event_type")
      .agg(sum(col("ca")).as("n_a"), (sum(col("t")) - sum(col("ca"))).as("n_b"),
        sum(col("ca") * col("r2")).as("ra2"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
    val n = (col("n_a") + col("n_b")).cast("double")
    val u2 = col("ra2") - col("n_a") * (col("n_a") + 1L) // = 2·U_a, exact BIGINT
    val mu2 = (col("n_a") * col("n_b")).cast("double")   // = 2·E[U]
    val varU = col("n_a").cast("double") * col("n_b").cast("double") / 12.0 *
      (n + 1.0 - col("ties").cast("double") / (n * (n - 1.0)))
    agg.select(col("event_type"), col("n_a"), col("n_b"),
      (u2.cast("double") / 2.0).as("u_a"),
      r6((u2.cast("double") - mu2) / 2.0 / sqrt(varU)).as("z"))
  }

  def mannWhitneyOracle: String = {
    val varU = "(CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)/12.0 * " +
      "(CAST(n_a + n_b AS DOUBLE) + 1.0 - CAST(ties AS DOUBLE)/" +
      "(CAST(n_a + n_b AS DOUBLE)*(CAST(n_a + n_b AS DOUBLE) - 1.0))))"
    s"""WITH grid AS (
       |  SELECT event_type, CAST(floor(value*1e2 + 0.5) AS BIGINT) AS x,
       |         count(*) AS t,
       |         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca
       |  FROM events GROUP BY 1, 2
       |), ranked AS (
       |  SELECT event_type, t, ca,
       |         CAST(coalesce(sum(t) OVER (PARTITION BY event_type ORDER BY x
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)*2 + t + 1 AS r2
       |  FROM grid
       |), agg AS (
       |  SELECT event_type,
       |         CAST(sum(ca) AS BIGINT) AS n_a,
       |         CAST(sum(t) - sum(ca) AS BIGINT) AS n_b,
       |         CAST(sum(ca*r2) AS BIGINT) AS ra2,
       |         CAST(sum(t*t*t - t) AS BIGINT) AS ties
       |  FROM ranked GROUP BY 1
       |)
       |SELECT event_type, n_a, n_b,
       |       CAST(ra2 - n_a*(n_a + 1) AS DOUBLE)/2.0 AS u_a,
       |       ${sqlR6(s"(CAST(ra2 - n_a*(n_a + 1) AS DOUBLE) - CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE))/2.0/sqrt($varU)")} AS z
       |FROM agg ORDER BY event_type""".stripMargin
  }

  /** Period boundary for the mix-shift decomposition: first half of the
    * 30-day fixture month vs the second. */
  val MixCutoff = "2024-01-16"

  /** Mix-vs-rate decomposition of a metric move between two periods — the
    * Oaxaca–Blinder-style answer to "did the average move because segments
    * changed their behavior (rate) or because the traffic mix shifted between
    * segments (mix)?". For overall mean M_p = Σ_s w_ps·m_ps, the per-segment
    * contribution splits exactly:
    *   Δ_s = w0·(m1−m0)  [rate]  +  (w1−w0)·m0  [mix]  +  (w1−w0)(m1−m0)  [interaction]
    * and Σ_s Δ_s = M_1 − M_0 by construction. Shares and means come from exact
    * cents/count BIGINTs; one scan, one (type × period) agg, a 5-row broadcast
    * of period totals.
    */
  def mixShift(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .select(col("event_type"),
        (col("ts").cast("date") < lit(MixCutoff).cast("date")).as("p0"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("c"))
      .groupBy("event_type", "p0")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
    val tot = per.groupBy("p0").agg(sum(col("n")).as("tot_n"))
    val side = per.join(broadcast(tot), "p0")
    def arm(flag: Boolean, s: String): DataFrame =
      side.filter(col("p0") === flag)
        .select(col("event_type"), col("n").as(s"n_$s"), col("sc").as(s"sc_$s"),
          col("tot_n").as(s"tot_$s"))
    def w(s: String) = col(s"n_$s").cast("double") / col(s"tot_$s").cast("double")
    def m(s: String) = col(s"sc_$s").cast("double") / 1e2 / col(s"n_$s").cast("double")
    arm(true, "0").join(arm(false, "1"), "event_type")
      .select(col("event_type"),
        r6(w("0")).as("w0"), r6(w("1")).as("w1"),
        r6(m("0")).as("m0"), r6(m("1")).as("m1"),
        r6(w("0") * (m("1") - m("0"))).as("rate_effect"),
        r6((w("1") - w("0")) * m("0")).as("mix_effect"),
        r6((w("1") - w("0")) * (m("1") - m("0"))).as("interaction"),
        r6(w("1") * m("1") - w("0") * m("0")).as("total_contrib"))
  }

  def mixShiftOracle: String = {
    def w(s: String) = s"(CAST(n_$s AS DOUBLE)/CAST(tot_$s AS DOUBLE))"
    def m(s: String) = s"(CAST(sc_$s AS DOUBLE)/1e2/CAST(n_$s AS DOUBLE))"
    s"""WITH per AS (
       |  SELECT event_type, CAST(ts AS DATE) < DATE '$MixCutoff' AS p0,
       |         count(*) AS n, CAST(sum(CAST(floor(value*1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sc
       |  FROM events GROUP BY 1, 2
       |), tot AS (SELECT p0, CAST(sum(n) AS BIGINT) AS tot_n FROM per GROUP BY 1
       |), j AS (
       |  SELECT a.event_type,
       |         a.n AS n_0, a.sc AS sc_0, ta.tot_n AS tot_0,
       |         b.n AS n_1, b.sc AS sc_1, tb.tot_n AS tot_1
       |  FROM per a JOIN per b ON a.event_type = b.event_type
       |  JOIN tot ta ON ta.p0 = a.p0 JOIN tot tb ON tb.p0 = b.p0
       |  WHERE a.p0 AND NOT b.p0
       |)
       |SELECT event_type,
       |       ${sqlR6(w("0"))} AS w0, ${sqlR6(w("1"))} AS w1,
       |       ${sqlR6(m("0"))} AS m0, ${sqlR6(m("1"))} AS m1,
       |       ${sqlR6(s"${w("0")}*(${m("1")} - ${m("0")})")} AS rate_effect,
       |       ${sqlR6(s"(${w("1")} - ${w("0")})*${m("0")}")} AS mix_effect,
       |       ${sqlR6(s"(${w("1")} - ${w("0")})*(${m("1")} - ${m("0")})")} AS interaction,
       |       ${sqlR6(s"${w("1")}*${m("1")} - ${w("0")}*${m("0")}")} AS total_contrib
       |FROM j ORDER BY event_type""".stripMargin
  }

  /** Benford first-digit audit over order totals — the forensic-accounting
    * screen run on every finance-shaped column. The first significant digit is
    * extracted through exact integer/string ops (cents BIGINT → decimal string
    * → first char), never floor(log10(x)) — log10 sits exactly ON the power-of-
    * ten boundaries where a 1-ulp libm skew flips the digit. Expected shares
    * are Benford's log10(1 + 1/d); the per-digit χ² contribution is reported so
    * the audit is a 9-row table, not a verdict. (This fixture's totals are
    * range-bounded [1e3, 5e5), so the audit REPORTS deviation by design —
    * the operator's job is the measurement.)
    */
  def benford(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables.orders(spark, dir)
      .select(substring(floor(col("o_totalprice") * 1e2 + 0.5).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_d"))
    val tot = digits.agg(sum(col("n_d")).as("n_tot"))
    val p = log(10.0, lit(1.0) + lit(1.0) / col("digit").cast("double"))
    val expd = col("n_tot").cast("double") * p
    digits.crossJoin(broadcast(tot))
      .select(col("digit"), col("n_d"),
        r6(col("n_d").cast("double") / col("n_tot").cast("double")).as("share"),
        r6(p).as("benford_p"),
        r6(pow(col("n_d").cast("double") - expd, 2.0) / expd).as("chi2_part"))
  }

  def benfordOracle: String = {
    val p = "(log10(1.0 + 1.0/CAST(digit AS DOUBLE)))"
    val expd = s"(CAST(n_tot AS DOUBLE)*$p)"
    s"""WITH d AS (
       |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice*1e2 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
       |  FROM orders
       |), g AS (SELECT digit, count(*) AS n_d FROM d GROUP BY 1),
       |t AS (SELECT CAST(sum(n_d) AS BIGINT) AS n_tot FROM g)
       |SELECT digit, n_d,
       |       ${sqlR6("CAST(n_d AS DOUBLE)/CAST(n_tot AS DOUBLE)")} AS share,
       |       ${sqlR6(p)} AS benford_p,
       |       ${sqlR6(s"power(CAST(n_d AS DOUBLE) - $expd, 2.0)/$expd")} AS chi2_part
       |FROM g, t ORDER BY digit""".stripMargin
  }

  /** Calendar gap-fill with LOCF — the resampling pass that turns an irregular
    * event stream into the dense per-(user, day) grid a feature store or
    * forecast model consumes: each user's observed [first, last] day range is
    * densified (sequence + explode — a NARROW fan-out, no shuffle), missing
    * days join as zero-activity rows, and `locf_value` carries the last
    * observed daily total forward (`last(_, ignoreNulls)` over the per-user
    * date order — the imputation twin of `mask_impute_locf` on the calendar
    * axis). Scale: the explode is bounded by span-days per user, the grid joins
    * back on (user_id, day) — one co-partitioned shuffle — and the LOCF window
    * partitions by user.
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("date").as("day"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("c"))
      .groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_events"), sum(col("c")).as("sc"))
    val grid = daily.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val wlocf = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        r6(coalesce(col("sc"), lit(0L)).cast("double") / 1e2).as("day_value"),
        r6(coalesce(last(col("sc"), ignoreNulls = true).over(wlocf), lit(0L))
          .cast("double") / 1e2).as("locf_value"),
        col("sc").isNotNull.as("observed"))
  }

  def gapFillOracle: String =
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events,
       |         CAST(sum(CAST(floor(value*1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sc
       |  FROM events GROUP BY 1, 2
       |), grid AS (
       |  SELECT user_id,
       |         CAST(unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS DATE) AS day
       |  FROM daily GROUP BY user_id
       |)
       |SELECT g.user_id, g.day,
       |       coalesce(d.n_events, 0) AS n_events,
       |       ${sqlR6("CAST(coalesce(d.sc, 0) AS DOUBLE)/1e2")} AS day_value,
       |       ${sqlR6("CAST(coalesce(last_value(d.sc IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS DOUBLE)/1e2")} AS locf_value,
       |       d.sc IS NOT NULL AS observed
       |FROM grid g LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
       |ORDER BY g.user_id, g.day""".stripMargin

  /** Per-series partial autocorrelation at lags 1..3 via the Durbin–Levinson
    * recursion over the already-oracled ACF (`ts_autocorr`) — the AR-order
    * diagnostic read next to the ACF: φ11 = r1, φ22 = (r2−r1²)/(1−r1²),
    * φ33 from the level-2 coefficients. Every intermediate is r6-rounded
    * before reuse (the round-before-reuse rule), so both engines run the
    * identical double recursion on identical rounded inputs. Cost: exactly
    * the ACF pass (one shuffle on user_id) plus a per-row formula.
    */
  def pacf(spark: SparkSession, dir: String): DataFrame = {
    val acf = EventsOps.autocorr(spark, dir)
    val r1 = col("acf_1"); val r2 = col("acf_2"); val r3 = col("acf_3")
    val p2 = r6((r2 - r1 * r1) / (lit(1.0) - r1 * r1))
    val out = acf
      .withColumn("pacf_1", r1)
      .withColumn("pacf_2", p2)
      .withColumn("phi21", r6(r1 - col("pacf_2") * r1))
    out.withColumn("pacf_3",
      r6((r3 - col("phi21") * r2 - col("pacf_2") * r1) /
        (lit(1.0) - col("phi21") * r1 - col("pacf_2") * r2)))
      .select("user_id", "n", "pacf_1", "pacf_2", "pacf_3")
  }

  def pacfOracle: String =
    s"""WITH acf AS (${EventsOps.autocorrOracle.replace("ORDER BY user_id", "")}),
       |lvl2 AS (
       |  SELECT user_id, n, acf_1, acf_2, acf_3,
       |         acf_1 AS pacf_1,
       |         ${sqlR6("(acf_2 - acf_1*acf_1)/(1.0e0 - acf_1*acf_1)")} AS pacf_2
       |  FROM acf
       |), lvl2b AS (
       |  SELECT *, ${sqlR6("acf_1 - pacf_2*acf_1")} AS phi21 FROM lvl2
       |)
       |SELECT user_id, n, pacf_1, pacf_2,
       |       ${sqlR6("(acf_3 - phi21*acf_2 - pacf_2*acf_1)/(1.0e0 - phi21*acf_1 - pacf_2*acf_2)")} AS pacf_3
       |FROM lvl2b ORDER BY user_id""".stripMargin

  /** LTTB buckets per series (the downsample target size). */
  val LttbBuckets = 30

  /** Largest-triangle-three-buckets downsampling per user series — the
    * standard visualization/summarization downsampler (Steinarsson 2013),
    * in its parallel first-point-anchor variant: the canonical algorithm
    * anchors each bucket's triangle on the PREVIOUSLY SELECTED point, which
    * makes the walk serial; anchoring on the adjacent buckets' first points
    * keeps the per-bucket argmax independent (one window pass), which is
    * the form that parallelizes over a cluster. First and last buckets
    * emit the series endpoints, middle buckets the point maximizing the
    * exact doubled triangle area |(xa−xc)(y−ya) − (xa−x)(yc−ya)| on integer
    * (epoch-second, cents) coordinates — all BIGINT, tiebreak (ts,
    * event_id). One shuffle on user_id covers indexing, bucketing,
    * anchors and the argmax.
    */
  def lttb(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wAll = Window.partitionBy("user_id")
    val base = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_timestamp(col("ts")).as("x"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("y"))
      .withColumn("i", row_number().over(wOrd) - 1L)
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("bucket",
        floor(col("i").cast("double") * LttbBuckets / col("n").cast("double")).cast("long"))
    // first point of each bucket = the anchor the neighbours use
    val wBucket = Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
    val withAnchor = base
      .withColumn("bx", first(col("x")).over(wBucket))
      .withColumn("by", first(col("y")).over(wBucket))
    val anchors = withAnchor.select("user_id", "bucket", "bx", "by").distinct()
    val wB = Window.partitionBy("user_id").orderBy("bucket")
    val ctx = anchors
      .withColumn("xa", lag(col("bx"), 1).over(wB))
      .withColumn("ya", lag(col("by"), 1).over(wB))
      .withColumn("xc", lead(col("bx"), 1).over(wB))
      .withColumn("yc", lead(col("by"), 1).over(wB))
      .select("user_id", "bucket", "xa", "ya", "xc", "yc")
    val scored = base.join(ctx, Seq("user_id", "bucket"))
      .withColumn("area2",
        abs((col("xa") - col("xc")) * (col("y") - col("ya")) -
          (col("xa") - col("x")) * (col("yc") - col("ya"))))
    val wPick = Window.partitionBy("user_id", "bucket")
      .orderBy(desc("area2"), asc("ts"), asc("event_id"))
    val mids = scored.filter(col("xa").isNotNull && col("xc").isNotNull)
      .withColumn("rk", row_number().over(wPick)).filter(col("rk") === 1)
    // the endpoints live in each user's min/max bucket, which the anchor
    // filter (xa/xc non-null) always excludes — no double emission
    val ends = base.filter(col("i") === 0L || col("i") === col("n") - 1L)
    mids.select(col("user_id"), col("bucket"), col("ts"), col("event_id"),
      r6(col("y").cast("double") / 1e2).as("value"))
      .unionAll(ends.select(col("user_id"), col("bucket"), col("ts"), col("event_id"),
        r6(col("y").cast("double") / 1e2).as("value")))
  }

  def lttbOracle: String =
    s"""WITH base AS (
       |  SELECT user_id, ts, event_id,
       |         CAST(floor(epoch(ts)) AS BIGINT) AS x,
       |         CAST(floor(value*1e2 + 0.5) AS BIGINT) AS y,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS i,
       |         count(*) OVER (PARTITION BY user_id) AS n
       |  FROM events
       |), bkt AS (
       |  SELECT *, CAST(floor(CAST(i AS DOUBLE) * $LttbBuckets / CAST(n AS DOUBLE)) AS BIGINT) AS bucket
       |  FROM base
       |), firsts AS (
       |  SELECT *, first_value(x) OVER (PARTITION BY user_id, bucket ORDER BY ts, event_id) AS bx,
       |         first_value(y) OVER (PARTITION BY user_id, bucket ORDER BY ts, event_id) AS by
       |  FROM bkt
       |), anchors AS (
       |  SELECT DISTINCT user_id, bucket, bx, by FROM firsts
       |), ctx AS (
       |  SELECT user_id, bucket,
       |         lag(bx) OVER w AS xa, lag(by) OVER w AS ya,
       |         lead(bx) OVER w AS xc, lead(by) OVER w AS yc
       |  FROM anchors WINDOW w AS (PARTITION BY user_id ORDER BY bucket)
       |), scored AS (
       |  SELECT b.user_id, b.bucket, b.ts, b.event_id, b.y, b.i, b.n,
       |         abs((c.xa - c.xc)*(b.y - c.ya) - (c.xa - b.x)*(c.yc - c.ya)) AS area2,
       |         c.xa, c.xc
       |  FROM bkt b JOIN ctx c ON c.user_id = b.user_id AND c.bucket = b.bucket
       |), mids AS (
       |  SELECT user_id, bucket, ts, event_id, y FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id, bucket
       |             ORDER BY area2 DESC, ts, event_id) AS rk
       |    FROM scored WHERE xa IS NOT NULL AND xc IS NOT NULL)
       |  WHERE rk = 1
       |), ends AS (
       |  SELECT user_id, bucket, ts, event_id, y FROM bkt
       |  WHERE i = 0 OR i = n - 1
       |)
       |SELECT user_id, bucket, ts, event_id, ${sqlR6("CAST(y AS DOUBLE)/1e2")} AS value FROM mids
       |UNION ALL
       |SELECT user_id, bucket, ts, event_id, ${sqlR6("CAST(y AS DOUBLE)/1e2")} AS value FROM ends
       |ORDER BY user_id, bucket, ts, event_id""".stripMargin

  /** Lag fan width for the Theil–Sen variant: slopes over steps 1..K. */
  val TheilSenK = 5

  /** Robust per-series trend via the bounded-pair Theil–Sen variant — the
    * median of finite-difference slopes (value change per event step) over
    * lags 1..[[TheilSenK]], the outlier-resistant answer where the OLS trend
    * (`ts_poly_trend`) chases spikes. Full Theil–Sen medians ALL O(n²)
    * pairs; the banded form (slopes only between rows ≤ K steps apart) is
    * the standard scalable variant and keeps the work a K-lag window fan.
    * Slopes quantize to exact micro-cents-per-step BIGINTs before the
    * median, and the median is the exact lower order statistic (rank
    * ⌈n/2⌉ by value — tie permutations cannot move the selected VALUE), so
    * both engines agree bit-for-bit. One shuffle on user_id.
    */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val base = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("c"))
    val lagged = (1 to TheilSenK).foldLeft(base)((df, k) =>
      df.withColumn(s"s$k",
        floor((col("c") - lag(col("c"), k).over(wOrd)).cast("double") * 1e6 / k + 0.5)
          .cast("long")))
    val slopes = lagged.select(col("user_id"),
      explode(array((1 to TheilSenK).map(k => col(s"s$k")): _*)).as("s"))
      .filter(col("s").isNotNull)
    val wRank = Window.partitionBy("user_id").orderBy("s")
    val wAll = Window.partitionBy("user_id")
    slopes
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .withColumn("n_slopes", count(lit(1)).over(wAll))
      .groupBy("user_id")
      .agg(max(col("n_slopes")).as("n_slopes"),
        r6(max(when(col("rn") === floor((col("n_slopes") + 1).cast("double") / 2).cast("long"),
          col("s"))).cast("double") / 1e8).as("theil_slope"),
        r6((sum(col("s")).cast("double") / 1e8) / count(lit(1)).cast("double")).as("mean_slope"))
  }

  def theilSenOracle: String = {
    val lagCols = (1 to TheilSenK).map(k =>
      s"CAST(floor(CAST(c - lag(c, $k) OVER w AS DOUBLE) * 1e6 / $k + 0.5) AS BIGINT) AS s$k")
      .mkString(", ")
    val unions = (1 to TheilSenK).map(k =>
      s"SELECT user_id, s$k AS s FROM lagged WHERE s$k IS NOT NULL")
      .mkString(" UNION ALL ")
    s"""WITH base AS (
       |  SELECT user_id, ts, event_id, CAST(floor(value*1e2 + 0.5) AS BIGINT) AS c
       |  FROM events
       |), lagged AS (
       |  SELECT user_id, $lagCols
       |  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), slopes AS ($unions),
       |ranked AS (
       |  SELECT user_id, s,
       |         row_number() OVER (PARTITION BY user_id ORDER BY s) AS rn,
       |         count(*) OVER (PARTITION BY user_id) AS n_slopes
       |  FROM slopes
       |)
       |SELECT user_id, CAST(max(n_slopes) AS BIGINT) AS n_slopes,
       |       ${sqlR6("CAST(max(CASE WHEN rn = (n_slopes + 1)//2 THEN s END) AS DOUBLE)/1e8")} AS theil_slope,
       |       ${sqlR6("(CAST(sum(s) AS DOUBLE)/1e8)/CAST(count(*) AS DOUBLE)")} AS mean_slope
       |FROM ranked GROUP BY 1 ORDER BY user_id""".stripMargin
  }

  /** Order-basket profile — the order-composition histogram a retailer reads
    * before pricing or recommendation work: orders grouped by basket size
    * (distinct parts), with exact-cents average order value and average
    * distinct-supplier count per size. One lineitem scan collapses to
    * per-order stats map-side; the profile is basket-size-bounded.
    */
  def basketProfile(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey").as("l_orderkey"),
          floor(col("o_totalprice") * 1e2 + 0.5).cast("long").as("total_c")), "l_orderkey")
    per.groupBy("n_parts")
      .agg(count(lit(1)).as("n_orders"),
        r6(sum(col("total_c")).cast("double") / 1e2 / count(lit(1)).cast("double")).as("avg_order_value"),
        r6(sum(col("n_supps")).cast("double") / count(lit(1)).cast("double")).as("avg_suppliers"))
  }

  def basketProfileOracle: String =
    s"""WITH per AS (
       |  SELECT l.l_orderkey, count(DISTINCT l.l_partkey) AS n_parts,
       |         count(DISTINCT l.l_suppkey) AS n_supps,
       |         CAST(max(floor(o.o_totalprice*1e2 + 0.5)) AS BIGINT) AS total_c
       |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  GROUP BY 1
       |)
       |SELECT CAST(n_parts AS BIGINT) AS n_parts, count(*) AS n_orders,
       |       ${sqlR6("CAST(sum(total_c) AS DOUBLE)/1e2/CAST(count(*) AS DOUBLE)")} AS avg_order_value,
       |       ${sqlR6("CAST(sum(n_supps) AS DOUBLE)/CAST(count(*) AS DOUBLE)")} AS avg_suppliers
       |FROM per GROUP BY 1 ORDER BY n_parts""".stripMargin

  /** Split-conformal miscoverage level: intervals target 1 − α = 90%. */
  val ConformalAlpha = 0.1

  /** Split-conformal prediction intervals per series (Vovk et al.; the
    * distribution-free uncertainty wrapper every forecast deployment now
    * ships): nonconformity scores are the lag-1 absolute errors |c_t −
    * c_{t−1}| in exact cents; the TIME-ordered first half calibrates, the
    * second half evaluates. qhat is the ⌈(n_cal+1)(1−α)⌉-th smallest
    * calibration score (exact order statistic, capped at n_cal), and the
    * reported coverage is the eval fraction within qhat — the guarantee
    * check (≥ 90% in expectation) an operator reads before trusting the
    * bands. One shuffle on user_id covers the lag, the split, the rank and
    * both aggregates.
    */
  def conformal(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val res = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("c"))
      .withColumn("r", abs(col("c") - lag(col("c"), 1).over(wOrd)))
      .filter(col("r").isNotNull)
      .withColumn("t_rn", row_number().over(wOrd).cast("long"))
      .withColumn("n_res", count(lit(1)).over(Window.partitionBy("user_id")))
      .withColumn("is_cal", col("t_rn") <= floor(col("n_res").cast("double") / 2).cast("long"))
    val wCal = Window.partitionBy("user_id").orderBy("r")
    val cal = res.filter(col("is_cal"))
      .withColumn("rn", row_number().over(wCal).cast("long"))
      .withColumn("n_cal", count(lit(1)).over(Window.partitionBy("user_id")))
      .groupBy("user_id")
      .agg(max(col("n_cal")).as("n_cal"),
        max(when(col("rn") ===
          least(col("n_cal"),
            ceil((col("n_cal") + 1).cast("double") * (1.0 - ConformalAlpha)).cast("long")),
          col("r"))).as("qhat_c"))
    res.filter(!col("is_cal"))
      .join(cal, "user_id")
      .groupBy("user_id")
      .agg(max(col("n_cal")).as("n_cal"), count(lit(1)).as("n_eval"),
        r6(max(col("qhat_c")).cast("double") / 1e2).as("qhat"),
        r6(sum(when(col("r") <= col("qhat_c"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("coverage"))
  }

  def conformalOracle: String =
    s"""WITH res AS (
       |  SELECT user_id, ts, event_id,
       |         abs(CAST(floor(value*1e2 + 0.5) AS BIGINT) -
       |             lag(CAST(floor(value*1e2 + 0.5) AS BIGINT)) OVER w) AS r
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), keep AS (
       |  SELECT user_id, r,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t_rn,
       |         count(*) OVER (PARTITION BY user_id) AS n_res
       |  FROM (SELECT * FROM res WHERE r IS NOT NULL)
       |), cal AS (
       |  SELECT user_id, CAST(max(n_cal) AS BIGINT) AS n_cal,
       |         CAST(max(CASE WHEN rn = least(n_cal,
       |                CAST(ceil(CAST(n_cal + 1 AS DOUBLE) * ${sqlD(1.0 - ConformalAlpha)}) AS BIGINT))
       |              THEN r END) AS BIGINT) AS qhat_c
       |  FROM (
       |    SELECT user_id, r,
       |           row_number() OVER (PARTITION BY user_id ORDER BY r) AS rn,
       |           count(*) OVER (PARTITION BY user_id) AS n_cal
       |    FROM keep WHERE t_rn <= n_res//2)
       |  GROUP BY 1
       |)
       |SELECT k.user_id, CAST(max(c.n_cal) AS BIGINT) AS n_cal, count(*) AS n_eval,
       |       ${sqlR6("CAST(max(c.qhat_c) AS DOUBLE)/1e2")} AS qhat,
       |       ${sqlR6("CAST(sum(CASE WHEN k.r <= c.qhat_c THEN 1 ELSE 0 END) AS DOUBLE)/CAST(count(*) AS DOUBLE)")} AS coverage
       |FROM keep k JOIN cal c USING (user_id)
       |WHERE k.t_rn > k.n_res//2
       |GROUP BY 1 ORDER BY user_id""".stripMargin

  /** Per-customer reorder cadence — the replenishment signal a retention or
    * inventory model consumes: exact integer day gaps between consecutive
    * orders, the exact median gap (lower order statistic), min/max, and the
    * order count. Customers with fewer than two orders have no cadence and
    * are excluded. One shuffle on o_custkey covers the ordering, the gap
    * lag, and the median rank.
    */
  def reorderInterval(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val gaps = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("gap_days",
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(wOrd)).cast("long"))
      .filter(col("gap_days").isNotNull)
    val wRank = Window.partitionBy("o_custkey").orderBy("gap_days")
    val wAll = Window.partitionBy("o_custkey")
    gaps.withColumn("rn", row_number().over(wRank).cast("long"))
      .withColumn("n_gaps", count(lit(1)).over(wAll))
      .groupBy("o_custkey")
      .agg(max(col("n_gaps")).as("n_gaps"),
        max(when(col("rn") === floor((col("n_gaps") + 1).cast("double") / 2).cast("long"),
          col("gap_days"))).as("median_gap_days"),
        min(col("gap_days")).as("min_gap_days"),
        max(col("gap_days")).as("max_gap_days"))
  }

  def reorderIntervalOracle: String =
    s"""WITH gaps AS (
       |  SELECT o_custkey,
       |         CAST(datediff('day', lag(o_orderdate) OVER w, o_orderdate) AS BIGINT) AS gap_days
       |  FROM orders
       |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       |), ranked AS (
       |  SELECT o_custkey, gap_days,
       |         row_number() OVER (PARTITION BY o_custkey ORDER BY gap_days) AS rn,
       |         count(*) OVER (PARTITION BY o_custkey) AS n_gaps
       |  FROM gaps WHERE gap_days IS NOT NULL
       |)
       |SELECT o_custkey, CAST(max(n_gaps) AS BIGINT) AS n_gaps,
       |       CAST(max(CASE WHEN rn = (n_gaps + 1)//2 THEN gap_days END) AS BIGINT) AS median_gap_days,
       |       CAST(min(gap_days) AS BIGINT) AS min_gap_days,
       |       CAST(max(gap_days) AS BIGINT) AS max_gap_days
       |FROM ranked GROUP BY 1 ORDER BY o_custkey""".stripMargin

  /** Supplier-concentration HHI per part — the Herfindahl–Hirschman index a
    * supply-chain or marketplace-health review computes: per part, the sum
    * of squared supplier quantity shares. Kept as an EXACT rational —
    * Σ q_s² / (Σ q_s)² over centi-quantity BIGINTs — so no per-share double
    * ever forms; 1.0 means single-sourced, 1/n means evenly spread. Two
    * nested hash aggs on the natural keys, nothing else.
    */
  def supplierHhi(spark: SparkSession, dir: String): DataFrame = {
    val ps = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        floor(col("l_quantity") * 1e2 + 0.5).cast("long").as("q"))
      .groupBy("l_partkey", "l_suppkey").agg(sum(col("q")).as("qs"))
    ps.groupBy("l_partkey")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("qs")).as("qtot"), sum(col("qs") * col("qs")).as("qsq"),
        max(col("qs")).as("qmax"))
      .select(col("l_partkey"), col("n_suppliers"),
        r6(col("qsq").cast("double") /
          (col("qtot").cast("double") * col("qtot").cast("double"))).as("hhi"),
        r6(col("qmax").cast("double") / col("qtot").cast("double")).as("top_share"))
  }

  def supplierHhiOracle: String =
    s"""WITH ps AS (
       |  SELECT l_partkey, l_suppkey,
       |         CAST(sum(CAST(floor(l_quantity*1e2 + 0.5) AS BIGINT)) AS BIGINT) AS qs
       |  FROM lineitem GROUP BY 1, 2
       |)
       |SELECT l_partkey, count(*) AS n_suppliers,
       |       ${sqlR6("CAST(sum(qs*qs) AS DOUBLE)/(CAST(sum(qs) AS DOUBLE)*CAST(sum(qs) AS DOUBLE))")} AS hhi,
       |       ${sqlR6("CAST(max(qs) AS DOUBLE)/CAST(sum(qs) AS DOUBLE)")} AS top_share
       |FROM ps GROUP BY 1 ORDER BY l_partkey""".stripMargin

  /** Pre/post boundary for the CUPED covariate: the first half of the
    * events window is "pre-experiment", the second half the measured
    * period. */
  val CupedSplit = "2024-01-16"

  /** CUPED variance reduction (Deng et al., WSDM 2013) next to
    * `events_abtest`: per user, the pre-period spend X is the control
    * covariate for the post-period metric Y; θ = cov(X,Y)/var(X) fitted
    * POOLED across both arms (X predates assignment, so θ is
    * treatment-independent), and the released per-arm readout is the
    * adjusted Ŷ = Y − θ·(X − X̄) with its variance next to the raw one —
    * `var_reduction` is the fraction of metric noise the covariate
    * removed, i.e. how much smaller the experiment could have been.
    *
    * Exactness: X/Y quantize to integer CENTS per user, so all five pooled
    * sums (n, ΣX, ΣY, ΣXY, ΣXX) are exact BIGINTs (per-user cents ≈ 2·10⁶,
    * squares ≈ 4·10¹², ×10⁶ users stays under 2⁶³ at 1000× this fixture);
    * θ and X̄ r9-round before application, each adjusted value re-quantizes
    * to cents before the per-arm moment sums (order-insensitive). Plan: one
    * events scan → per-user hash agg → 1-row pooled agg broadcast back →
    * per-arm agg of the adjusted projection. Two shuffles, both on keys
    * that scale with users, never events.
    */
  def cuped(spark: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("value") * 1e2 + 0.5).cast("long")
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"),
        when(col("ts") < lit(CupedSplit).cast("timestamp"), cents)
          .otherwise(0L).as("xc"),
        when(col("ts") >= lit(CupedSplit).cast("timestamp"), cents)
          .otherwise(0L).as("yc"))
      .groupBy("user_id")
      .agg(sum(col("xc")).as("x"), sum(col("yc")).as("y"))
    val pooled = perUser.agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(
        r(
          (col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            (col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")), 9).as("theta"),
        r(col("sx").cast("double") / 1e2 / col("n").cast("double"), 9).as("xbar"))
    val adj = perUser.crossJoin(broadcast(pooled))
      .select(
        when(col("user_id") % 2 === 0L, lit("A")).otherwise(lit("B")).as("arm"),
        col("y"),
        fx(col("y").cast("double") / 1e2 -
          col("theta") * (col("x").cast("double") / 1e2 - col("xbar")), 2).as("q"),
        col("theta"))
    adj.groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
        sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"),
        sum(col("q")).as("sq"), sum(col("q") * col("q")).as("sqq"),
        max(col("theta")).as("theta"))
      .select(col("arm"), col("n_users"),
        r6(col("sy").cast("double") / 1e2 / col("n_users").cast("double")).as("mean_y"),
        r6(col("sq").cast("double") / 1e2 / col("n_users").cast("double")).as("mean_y_adj"),
        r6(fx2Var(col("syy"), col("sy"), col("n_users"))).as("var_y"),
        r6(fx2Var(col("sqq"), col("sq"), col("n_users"))).as("var_y_adj"),
        r6(lit(1.0) - fx2Var(col("sqq"), col("sq"), col("n_users")) /
          fx2Var(col("syy"), col("sy"), col("n_users"))).as("var_reduction"),
        r6(col("theta")).as("theta"))
  }

  def cupedOracle: String = {
    def vr(s2: String, s1: String, n: String): String =
      s"((CAST($s2 AS DOUBLE)/1e4 - (CAST($s1 AS DOUBLE)/1e2)*(CAST($s1 AS DOUBLE)/1e2)/CAST($n AS DOUBLE)) / CAST($n - 1 AS DOUBLE))"
    s"""WITH pu AS (
       |  SELECT user_id,
       |         CAST(sum(CASE WHEN ts < TIMESTAMP '$CupedSplit' THEN CAST(floor(value*1e2 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
       |         CAST(sum(CASE WHEN ts >= TIMESTAMP '$CupedSplit' THEN CAST(floor(value*1e2 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
       |  FROM events GROUP BY 1
       |), pooled AS (
       |  SELECT ${sqlR("(CAST(count(*) AS DOUBLE)*CAST(sum(x*y) AS DOUBLE) - CAST(sum(x) AS DOUBLE)*CAST(sum(y) AS DOUBLE)) / (CAST(count(*) AS DOUBLE)*CAST(sum(x*x) AS DOUBLE) - CAST(sum(x) AS DOUBLE)*CAST(sum(x) AS DOUBLE))", 9)} AS theta,
       |         ${sqlR("CAST(sum(x) AS DOUBLE)/1e2/CAST(count(*) AS DOUBLE)", 9)} AS xbar
       |  FROM pu
       |), adj AS (
       |  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm, y,
       |         ${sqlFx("CAST(y AS DOUBLE)/1e2 - theta*(CAST(x AS DOUBLE)/1e2 - xbar)", 2)} AS q,
       |         theta
       |  FROM pu, pooled
       |), arms AS (
       |  SELECT arm, count(*) AS n_users,
       |         CAST(sum(y) AS BIGINT) AS sy, CAST(sum(y*y) AS BIGINT) AS syy,
       |         CAST(sum(q) AS BIGINT) AS sq, CAST(sum(q*q) AS BIGINT) AS sqq,
       |         max(theta) AS theta
       |  FROM adj GROUP BY 1
       |)
       |SELECT arm, n_users,
       |       ${sqlR6("CAST(sy AS DOUBLE)/1e2/CAST(n_users AS DOUBLE)")} AS mean_y,
       |       ${sqlR6("CAST(sq AS DOUBLE)/1e2/CAST(n_users AS DOUBLE)")} AS mean_y_adj,
       |       ${sqlR6(vr("syy", "sy", "n_users"))} AS var_y,
       |       ${sqlR6(vr("sqq", "sq", "n_users"))} AS var_y_adj,
       |       ${sqlR6(s"1.0e0 - ${vr("sqq", "sq", "n_users")}/${vr("syy", "sy", "n_users")}")} AS var_reduction,
       |       ${sqlR6("theta")} AS theta
       |FROM arms ORDER BY arm""".stripMargin
  }

  /** Users whose last event falls within this many days of the corpus's last
    * day are treated as still active (right-censored), not churned. */
  val KmCensorDays = 7

  /** Kaplan–Meier survival curve of user lifetime — the product-limit
    * estimator a retention review runs when churn times are right-censored:
    * duration = days between a user's first and last event; a user whose
    * last event is within [[KmCensorDays]] of the corpus end is censored
    * (still active), everyone else is a "death" at their duration. At each
    * distinct duration t: n_risk = users with duration ≥ t, and
    * S(t) = Π_{t_i ≤ t} (1 − d_i/n_i) over death times.
    *
    * Determinism: each step factor (n−d)/n is a single IEEE division of
    * exact BIGINTs — bit-identical across engines — and the cumulative
    * product is exp(Σ ln f) over the duration-ordered window (sequential,
    * not merge-order); ln's ≤1-ulp skew accumulates across ≤ a few hundred
    * steps, absorbed by the final r6. Scale: one user-keyed hash agg over
    * events, a 1-row global broadcast, then all window work happens on the
    * distinct-duration relation (≤ days in the window — tiny at any corpus
    * size), so the single-partition window is safe by construction.
    */
  def survivalKm(spark: SparkSession, dir: String): DataFrame =
    survivalKmOf(Tables.events(spark, dir))

  /** Frame-parameterized core of [[survivalKm]] — input needs (user_id, ts). */
  private[graft] def survivalKmOf(ev: DataFrame): DataFrame = {
    val day = floor(unix_timestamp(col("ts")).cast("double") / 86400.0).cast("long")
    val perUser = ev
      .select(col("user_id"), day.as("d"))
      .groupBy("user_id").agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val glob = perUser.agg(max(col("d1")).as("dmax"), count(lit(1)).as("n_total"))
    val byDur = perUser.crossJoin(broadcast(glob))
      .select((col("d1") - col("d0")).as("dur"),
        when(col("d1") <= col("dmax") - KmCensorDays, 1L).otherwise(0L).as("death"),
        col("n_total"))
      .groupBy("dur")
      .agg(sum(col("death")).as("n_deaths"), count(lit(1)).as("n_leaving"),
        max(col("n_total")).as("n_total"))
    val wPrev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDur
      .withColumn("n_risk",
        col("n_total") - coalesce(sum(col("n_leaving")).over(wPrev), lit(0L)))
      .withColumn("f", when(col("n_deaths") > 0,
          (col("n_risk") - col("n_deaths")).cast("double") / col("n_risk").cast("double"))
        .otherwise(lit(1.0)))
      .select(col("dur").as("duration_days"), col("n_risk"), col("n_deaths"),
        (col("n_leaving") - col("n_deaths")).as("n_censored"),
        r6(exp(sum(log(col("f"))).over(wCum))).as("survival"))
  }

  def survivalKmOracle: String =
    s"""WITH pu AS (
       |  SELECT user_id,
       |         min(CAST(floor(floor(epoch(ts))/86400.0) AS BIGINT)) AS d0,
       |         max(CAST(floor(floor(epoch(ts))/86400.0) AS BIGINT)) AS d1
       |  FROM events GROUP BY 1
       |), gtot AS (
       |  SELECT max(d1) AS dmax, count(*) AS n_total FROM pu
       |), bd AS (
       |  SELECT (d1 - d0) AS dur,
       |         CAST(sum(CASE WHEN d1 <= dmax - $KmCensorDays THEN 1 ELSE 0 END) AS BIGINT) AS n_deaths,
       |         count(*) AS n_leaving, max(n_total) AS n_total
       |  FROM pu, gtot GROUP BY 1
       |), km AS (
       |  SELECT dur, n_deaths, n_leaving,
       |         CAST(n_total - coalesce(sum(n_leaving) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
       |  FROM bd
       |)
       |SELECT dur AS duration_days, n_risk, n_deaths,
       |       (n_leaving - n_deaths) AS n_censored,
       |       ${sqlR6("exp(sum(ln(CASE WHEN n_deaths > 0 THEN CAST(n_risk - n_deaths AS DOUBLE)/CAST(n_risk AS DOUBLE) ELSE 1.0e0 END)) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))")} AS survival
       |FROM km ORDER BY duration_days""".stripMargin

  /** Pearson chi-square test of independence between event_type and the A/B
    * arm (deterministic user-parity assignment, same as `events_abtest`) —
    * the categorical companion to the KS/Mann–Whitney value tests: did the
    * experiment shift WHICH events users do, not just their values. The
    * contingency table is completed to the full type × arm cross product
    * (absent cells enter as observed 0), expected counts come from exact
    * BIGINT marginals, and each cell contributes its standardized residual
    * plus an fx9-quantized (obs−exp)²/exp term so the order-insensitive
    * integer window sum gives a cross-engine-stable X². Cramér's V and the
    * Wilson–Hilferty normal deviate make the readout scale-free. Plan: one
    * events scan → (type, arm) hash agg; everything after runs on the
    * ≤ types×2 cell relation.
    */
  def chiSq(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(col("event_type"),
        when(col("user_id") % 2 === 0L, lit("A")).otherwise(lit("B")).as("arm"))
      .groupBy("event_type", "arm").agg(count(lit(1)).as("obs"))
    val full = cells.select("event_type").distinct()
      .crossJoin(broadcast(cells.select("arm").distinct()))
      .join(cells, Seq("event_type", "arm"), "left")
      .select(col("event_type"), col("arm"), coalesce(col("obs"), lit(0L)).as("obs"))
    val dims = cells.agg(
      countDistinct(col("event_type")).as("r_lvls"),
      countDistinct(col("arm")).as("c_lvls"))
    val wType = Window.partitionBy("event_type")
    val wArm = Window.partitionBy("arm")
    val wAll = Window.partitionBy()
    val e = col("row_n").cast("double") * col("col_n").cast("double") /
      col("n").cast("double")
    val t = full
      .withColumn("row_n", sum(col("obs")).over(wType))
      .withColumn("col_n", sum(col("obs")).over(wArm))
      .withColumn("n", sum(col("obs")).over(wAll))
      .crossJoin(broadcast(dims))
      .withColumn("expected", e)
      .withColumn("term",
        (col("obs").cast("double") - col("expected")) *
          (col("obs").cast("double") - col("expected")) / col("expected"))
      .withColumn("chi2",
        sum(fx(col("term"), 9)).over(wAll).cast("double") / 1e9)
      .withColumn("dof", (col("r_lvls") - 1) * (col("c_lvls") - 1))
    t.select(col("event_type"), col("arm"), col("obs"),
      r6(col("expected")).as("expected"),
      r6((col("obs").cast("double") - col("expected")) / sqrt(col("expected")))
        .as("std_resid"),
      r6(col("chi2")).as("chi2"), col("dof"),
      r6(sqrt(col("chi2") / (col("n").cast("double") *
        least(col("r_lvls") - 1, col("c_lvls") - 1).cast("double")))).as("cramers_v"))
  }

  def chiSqOracle: String = {
    val e = "CAST(row_n AS DOUBLE)*CAST(col_n AS DOUBLE)/CAST(n AS DOUBLE)"
    s"""WITH cells AS (
       |  SELECT event_type, CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |         count(*) AS obs
       |  FROM events GROUP BY 1, 2
       |), full_t AS (
       |  SELECT t.event_type, a.arm, coalesce(c.obs, 0) AS obs
       |  FROM (SELECT DISTINCT event_type FROM cells) t
       |  CROSS JOIN (SELECT DISTINCT arm FROM cells) a
       |  LEFT JOIN cells c ON c.event_type = t.event_type AND c.arm = a.arm
       |), dims AS (
       |  SELECT count(DISTINCT event_type) AS r_lvls, count(DISTINCT arm) AS c_lvls
       |  FROM cells
       |), m AS (
       |  SELECT event_type, arm, obs,
       |         CAST(sum(obs) OVER (PARTITION BY event_type) AS BIGINT) AS row_n,
       |         CAST(sum(obs) OVER (PARTITION BY arm) AS BIGINT) AS col_n,
       |         CAST(sum(obs) OVER () AS BIGINT) AS n
       |  FROM full_t
       |), x AS (
       |  SELECT event_type, arm, obs, n, r_lvls, c_lvls, $e AS expected,
       |         (CAST(obs AS DOUBLE) - $e)*(CAST(obs AS DOUBLE) - $e)/($e) AS term
       |  FROM m, dims
       |), s AS (
       |  SELECT *, CAST(sum(${sqlFx("term", 9)}) OVER () AS DOUBLE)/1e9 AS chi2
       |  FROM x
       |)
       |SELECT event_type, arm, obs, ${sqlR6("expected")} AS expected,
       |       ${sqlR6("(CAST(obs AS DOUBLE) - expected)/sqrt(expected)")} AS std_resid,
       |       ${sqlR6("chi2")} AS chi2,
       |       CAST((r_lvls - 1)*(c_lvls - 1) AS BIGINT) AS dof,
       |       ${sqlR6("sqrt(chi2/(CAST(n AS DOUBLE)*CAST(least(r_lvls - 1, c_lvls - 1) AS DOUBLE)))")} AS cramers_v
       |FROM s ORDER BY event_type, arm""".stripMargin
  }

  /** Dyadic block sizes for the rescaled-range pass — powers of two so the
    * log-log regression abscissae are exact multiples of ln 2 (and so the
    * smallest fixture's ~50-event users still fill every size). */
  val HurstSizes = Seq(4, 8, 16, 32)

  /** Hurst exponent per user via rescaled-range (R/S) analysis — the
    * long-range-dependence dial (H > 0.5 trending/persistent, < 0.5
    * mean-reverting) a forecasting pipeline checks before choosing model
    * class. For each block size n in [[HurstSizes]], the user's
    * (ts, event_id)-ordered cents series splits into full blocks of n; per
    * block R = range of cumulative deviations from the block mean and
    * S = population std, and H is the OLS slope of ln(mean R/S) on ln n.
    *
    * Exactness: everything up to the per-block R/S is BIGINT — the
    * n-scaled deviation n·Z_k = n·cumsum_k − k·blocksum and the n²-scaled
    * variance Σ(n·c − blocksum)² are integers (bounded ≤ 2⁶² at 1000× this
    * fixture since block size is capped at 32), so R/S = Rn·√(n/SSq) is one
    * IEEE sqrt+multiply of identical integers in both engines. Block means
    * fx9-quantize before the order-insensitive per-(user,n) average; the
    * four per-size points pivot into columns so the closed-form dyadic
    * slope (1.5·(ln rs₃₂ − ln rs₄) + 0.5·(ln rs₁₆ − ln rs₈))/(5 ln 2)
    * evaluates in a single deterministic projection. Scale: one events
    * scan exploded ×4, windows partitioned by (user, n, block) — full
    * parallelism in users; no global ordering anywhere.
    */
  def hurst(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val base = Tables.events(spark, dir)
      .select(col("user_id"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("c"),
        row_number().over(wRn).cast("long").as("rn"))
    val ex = base
      .select(col("user_id"), col("c"), col("rn"),
        explode(array(HurstSizes.map(n => lit(n.toLong)): _*)).as("n"))
      .withColumn("blk", floor((col("rn") - 1) / col("n")).cast("long"))
      .withColumn("k", col("rn") - col("blk") * col("n"))
    val wBlk = Window.partitionBy("user_id", "n", "blk")
    val wBlkOrd = wBlk.orderBy("rn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val blocks = ex
      .withColumn("cum", sum(col("c")).over(wBlkOrd))
      .withColumn("bsum", sum(col("c")).over(wBlk))
      .withColumn("cnt", count(lit(1)).over(wBlk))
      .filter(col("cnt") === col("n"))
      .withColumn("z", col("n") * col("cum") - col("k") * col("bsum"))
      .withColumn("dev", col("n") * col("c") - col("bsum"))
      .groupBy("user_id", "n", "blk")
      .agg((max(col("z")) - min(col("z"))).as("rng"),
        sum(col("dev") * col("dev")).as("ssq"))
      .filter(col("ssq") > 0)
      .select(col("user_id"), col("n"),
        fx(col("rng").cast("double") *
          sqrt(col("n").cast("double") / col("ssq").cast("double")), 9).as("rsq"))
    val byN = blocks.groupBy("user_id", "n")
      .agg((sum(col("rsq")).cast("double") / 1e9 /
        count(lit(1)).cast("double")).as("rs"))
    def rsAt(n: Int) = max(when(col("n") === n.toLong, col("rs"))).as(s"rs$n")
    val piv = byN.groupBy("user_id")
      .agg(rsAt(4), rsAt(8), rsAt(16), rsAt(32), count(lit(1)).as("m"))
      .filter(col("m") === HurstSizes.size)
    piv.select(col("user_id"),
      r6(col("rs4")).as("rs4"), r6(col("rs8")).as("rs8"),
      r6(col("rs16")).as("rs16"), r6(col("rs32")).as("rs32"),
      r6((lit(1.5) * (log(col("rs32")) - log(col("rs4"))) +
        lit(0.5) * (log(col("rs16")) - log(col("rs8")))) /
        lit(5.0 * math.log(2.0))).as("hurst"))
  }

  def hurstOracle: String = {
    val sizes = HurstSizes.map(n => s"($n)").mkString(", ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT user_id, CAST(floor(value*1e2 + 0.5) AS BIGINT) AS c,
       |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn
       |  FROM events
       |), ex AS (
       |  SELECT b.user_id, b.c, b.rn, CAST(nv.n AS BIGINT) AS n,
       |         CAST(floor(CAST(b.rn - 1 AS DOUBLE)/CAST(nv.n AS DOUBLE)) AS BIGINT) AS blk
       |  FROM base b CROSS JOIN (VALUES $sizes) nv(n)
       |), st AS (
       |  SELECT user_id, n, blk, c, rn - blk*n AS k,
       |         CAST(sum(c) OVER (PARTITION BY user_id, n, blk ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |         CAST(sum(c) OVER (PARTITION BY user_id, n, blk) AS BIGINT) AS bsum,
       |         count(*) OVER (PARTITION BY user_id, n, blk) AS cnt
       |  FROM ex
       |), blocks AS (
       |  SELECT user_id, n, blk,
       |         max(n*cum - k*bsum) - min(n*cum - k*bsum) AS rng,
       |         CAST(sum((n*c - bsum)*(n*c - bsum)) AS BIGINT) AS ssq
       |  FROM st WHERE cnt = n GROUP BY 1, 2, 3
       |), rsb AS (
       |  SELECT user_id, n,
       |         ${sqlFx("CAST(rng AS DOUBLE)*sqrt(CAST(n AS DOUBLE)/CAST(ssq AS DOUBLE))", 9)} AS rsq
       |  FROM blocks WHERE ssq > 0
       |), byn AS (
       |  SELECT user_id, n, CAST(sum(rsq) AS DOUBLE)/1e9/CAST(count(*) AS DOUBLE) AS rs
       |  FROM rsb GROUP BY 1, 2
       |), piv AS (
       |  SELECT user_id,
       |         max(CASE WHEN n = 4 THEN rs END) AS rs4,
       |         max(CASE WHEN n = 8 THEN rs END) AS rs8,
       |         max(CASE WHEN n = 16 THEN rs END) AS rs16,
       |         max(CASE WHEN n = 32 THEN rs END) AS rs32,
       |         count(*) AS m
       |  FROM byn GROUP BY 1
       |)
       |SELECT user_id, ${sqlR6("rs4")} AS rs4, ${sqlR6("rs8")} AS rs8,
       |       ${sqlR6("rs16")} AS rs16, ${sqlR6("rs32")} AS rs32,
       |       ${sqlR6(s"(1.5e0*(ln(rs32) - ln(rs4)) + 0.5e0*(ln(rs16) - ln(rs8)))/(${sqlD(5.0 * math.log(2.0))})")} AS hurst
       |FROM piv WHERE m = ${HurstSizes.size} ORDER BY user_id""".stripMargin
  }

  /** Sample-ratio-mismatch check per day — the first experiment-health gate
    * any A/B platform runs before reading a single metric: with 50/50
    * user-parity assignment, the daily ACTIVE-USER counts per arm should be
    * binomial-balanced, and z = (n_A − n_B)/√(n_A + n_B) flags allocation
    * bugs (|z| > 3 ≈ the p < 0.003 SRM alarm). Counts are distinct users,
    * not events, so a single chatty user can't fake an imbalance. Exact
    * integers to the final single sqrt. Plan: (day, user) distinct — one
    * shuffle on a key that scales with user-days — then a tiny per-day agg.
    */
  def srmCheck(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .select(col("ts").cast("date").as("day"), col("user_id"))
      .distinct()
      .select(col("day"),
        when(col("user_id") % 2 === 0L, 1L).otherwise(0L).as("a"))
      .groupBy("day")
      .agg(sum(col("a")).as("n_a"), (count(lit(1)) - sum(col("a"))).as("n_b"))
    d.select(col("day"), col("n_a"), col("n_b"),
      r6((col("n_a") - col("n_b")).cast("double") /
        sqrt((col("n_a") + col("n_b")).cast("double"))).as("z"),
      (abs(col("n_a") - col("n_b")).cast("double") >
        lit(3.0) * sqrt((col("n_a") + col("n_b")).cast("double"))).as("srm_flag"))
  }

  def srmCheckOracle: String =
    s"""WITH du AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
       |), d AS (
       |  SELECT day,
       |         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |         CAST(count(*) - sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |  FROM du GROUP BY 1
       |)
       |SELECT day, n_a, n_b,
       |       ${sqlR6("CAST(n_a - n_b AS DOUBLE)/sqrt(CAST(n_a + n_b AS DOUBLE))")} AS z,
       |       (CAST(abs(n_a - n_b) AS DOUBLE) > 3.0e0*sqrt(CAST(n_a + n_b AS DOUBLE))) AS srm_flag
       |FROM d ORDER BY day""".stripMargin

  /** z_{0.025} + z_{0.20}: the 80%-power / two-sided-5% constant in the
    * standard two-sample sample-size formula. */
  val PowerZSum = 1.959964 + 0.841621

  /** Relative lift the sample-size column is sized for. */
  val PowerTargetLift = 0.05

  /** Power analysis per event_type — the "how long must this experiment
    * run" readout computed from the metric's OWN observed moments: the
    * minimum detectable effect at the current per-arm sample sizes
    * (MDE = z·√(σ²(1/n_A + 1/n_B))), and the per-arm n required to detect
    * a [[PowerTargetLift]] relative lift. Everything derives from five
    * exact BIGINT sums (n per arm, Σcents, Σcents² pooled), so the readout
    * is one deterministic projection; n_required uses ceil of an exact
    * double expression. The companion of `events_cuped` — var_reduction
    * there times n_required here is the CUPED saving in user-days.
    */
  def powerAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("c"),
        when(col("user_id") % 2 === 0L, 1L).otherwise(0L).as("a"))
      .groupBy("event_type")
      .agg(sum(col("a")).as("n_a"), (count(lit(1)) - sum(col("a"))).as("n_b"),
        sum(col("c")).as("sc"), sum(col("c") * col("c")).as("scc"),
        count(lit(1)).as("n"))
    val mean = col("sc").cast("double") / 1e2 / col("n").cast("double")
    val variance = (col("scc").cast("double") / 1e4 -
      (col("sc").cast("double") / 1e2) * (col("sc").cast("double") / 1e2) /
        col("n").cast("double")) / (col("n") - 1L).cast("double")
    val mde = lit(PowerZSum) * sqrt(variance *
      (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    ev.select(col("event_type"), col("n_a"), col("n_b"),
      r6(mean).as("mean"), r6(sqrt(variance)).as("sd"),
      r6(mde).as("mde_abs"), r6(mde / mean).as("mde_rel"),
      ceil(lit(2.0) * variance * lit(PowerZSum * PowerZSum) /
        ((lit(PowerTargetLift) * mean) * (lit(PowerTargetLift) * mean)))
        .cast("long").as("n_per_arm_5pct"))
  }

  def powerAnalysisOracle: String = {
    val mean = "(CAST(sc AS DOUBLE)/1e2/CAST(n AS DOUBLE))"
    val vr = "((CAST(scc AS DOUBLE)/1e4 - (CAST(sc AS DOUBLE)/1e2)*(CAST(sc AS DOUBLE)/1e2)/CAST(n AS DOUBLE))/CAST(n - 1 AS DOUBLE))"
    val mde = s"(${sqlD(PowerZSum)}*sqrt($vr*(1.0e0/CAST(n_a AS DOUBLE) + 1.0e0/CAST(n_b AS DOUBLE))))"
    s"""WITH g AS (
       |  SELECT event_type,
       |         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |         CAST(count(*) - sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |         CAST(sum(CAST(floor(value*1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sc,
       |         CAST(sum(CAST(floor(value*1e2 + 0.5) AS BIGINT)*CAST(floor(value*1e2 + 0.5) AS BIGINT)) AS BIGINT) AS scc,
       |         count(*) AS n
       |  FROM events GROUP BY 1
       |)
       |SELECT event_type, n_a, n_b,
       |       ${sqlR6(mean)} AS mean, ${sqlR6(s"sqrt($vr)")} AS sd,
       |       ${sqlR6(mde)} AS mde_abs, ${sqlR6(s"$mde/$mean")} AS mde_rel,
       |       CAST(ceil(2.0e0*$vr*${sqlD(PowerZSum * PowerZSum)}/((${sqlD(PowerTargetLift)}*$mean)*(${sqlD(PowerTargetLift)}*$mean))) AS BIGINT) AS n_per_arm_5pct
       |FROM g ORDER BY event_type""".stripMargin
  }

  /** Difference-in-differences over the same 2×2 the CUPED query uses —
    * arm (user parity) × period (pre/post [[CupedSplit]]): the estimator a
    * platform falls back to when assignment wasn't randomized and a
    * parallel-trends argument stands in. DiD = (B_post − B_pre) −
    * (A_post − A_pre) with SE = √(Σ var_cell/n_cell) and a Wald t. Cell
    * means/variances come from exact BIGINT moment sums; the four signed
    * means and the four variance ratios fx12-quantize before their
    * order-insensitive window sums, so the repeated did/se/t columns are
    * cross-engine-stable. One events scan, one 4-row agg — everything
    * after is free at any scale.
    */
  def did(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(
        when(col("user_id") % 2 === 0L, lit("A")).otherwise(lit("B")).as("arm"),
        when(col("ts") < lit(CupedSplit).cast("timestamp"), lit("1_pre"))
          .otherwise(lit("2_post")).as("period"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("c"))
      .groupBy("arm", "period")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("scc"))
    val mean = col("sc").cast("double") / 1e2 / col("n").cast("double")
    val variance = (col("scc").cast("double") / 1e4 -
      (col("sc").cast("double") / 1e2) * (col("sc").cast("double") / 1e2) /
        col("n").cast("double")) / (col("n") - 1L).cast("double")
    val sign = when(col("arm") === "B", lit(1.0)).otherwise(lit(-1.0)) *
      when(col("period") === "2_post", lit(1.0)).otherwise(lit(-1.0))
    val wAll = Window.partitionBy()
    cells
      .withColumn("mean", mean).withColumn("variance", variance)
      .withColumn("did",
        sum(fx(sign * col("mean"), 12)).over(wAll).cast("double") / 1e12)
      .withColumn("se", sqrt(
        sum(fx(col("variance") / col("n").cast("double"), 12)).over(wAll)
          .cast("double") / 1e12))
      .select(col("arm"), col("period"), col("n"),
        r6(col("mean")).as("mean"), r6(col("variance")).as("variance"),
        r6(col("did")).as("did"), r6(col("se")).as("se"),
        r6(col("did") / col("se")).as("t"))
  }

  def didOracle: String = {
    val mean = "(CAST(sc AS DOUBLE)/1e2/CAST(n AS DOUBLE))"
    val vr = "((CAST(scc AS DOUBLE)/1e4 - (CAST(sc AS DOUBLE)/1e2)*(CAST(sc AS DOUBLE)/1e2)/CAST(n AS DOUBLE))/CAST(n - 1 AS DOUBLE))"
    val sign = "(CASE WHEN arm = 'B' THEN 1.0e0 ELSE -1.0e0 END * CASE WHEN period = '2_post' THEN 1.0e0 ELSE -1.0e0 END)"
    s"""WITH cells AS (
       |  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |         CASE WHEN ts < TIMESTAMP '$CupedSplit' THEN '1_pre' ELSE '2_post' END AS period,
       |         count(*) AS n,
       |         CAST(sum(CAST(floor(value*1e2 + 0.5) AS BIGINT)) AS BIGINT) AS sc,
       |         CAST(sum(CAST(floor(value*1e2 + 0.5) AS BIGINT)*CAST(floor(value*1e2 + 0.5) AS BIGINT)) AS BIGINT) AS scc
       |  FROM events GROUP BY 1, 2
       |), m AS (
       |  SELECT arm, period, n, $mean AS mean, $vr AS variance,
       |         CAST(sum(${sqlFx(s"$sign*$mean", 12)}) OVER () AS DOUBLE)/1e12 AS did,
       |         sqrt(CAST(sum(${sqlFx(s"$vr/CAST(n AS DOUBLE)", 12)}) OVER () AS DOUBLE)/1e12) AS se
       |  FROM cells
       |)
       |SELECT arm, period, n, ${sqlR6("mean")} AS mean, ${sqlR6("variance")} AS variance,
       |       ${sqlR6("did")} AS did, ${sqlR6("se")} AS se, ${sqlR6("did/se")} AS t
       |FROM m ORDER BY arm, period""".stripMargin
  }

  /** Off-policy evaluation by inverse propensity scoring — the offline
    * answer to "what would the metric be if we always showed each hour's
    * best-performing event type": context = hour of day, logged action =
    * event_type, reward = value cents, logged propensities are the exact
    * empirical shares p(a|h), and the target policy π(h) is the per-hour
    * argmax of observed mean reward (count-weighted, reward-desc
    * type-asc tiebreak on exact rational means — deterministic in both
    * engines). With exact empirical propensities the IPS estimator reduces
    * to Σ_h n_h·mean(h,π(h))/N, reported per hour next to the logged mean,
    * plus the global v_logged/v_policy/lift (fx6-quantized hour terms so
    * the 24-row window sums are order-insensitive). Self-evaluation caveat
    * applies (π is fitted on the logged data itself) — this measures the
    * IPS plumbing, and the per-hour table is the real product surface.
    * One events scan → (hour, type) hash agg; everything else is 24×types.
    */
  def opeIps(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(spark, dir)
      .select(hour(col("ts")).cast("long").as("h"), col("event_type").as("a"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("c"))
      .groupBy("h", "a")
      .agg(count(lit(1)).as("n_ha"), sum(col("c")).as("r_ha"))
    val wH = Window.partitionBy("h")
    val meanR = col("r_ha").cast("double") / 1e2 / col("n_ha").cast("double")
    val t = g
      .withColumn("n_h", sum(col("n_ha")).over(wH))
      .withColumn("r_h", sum(col("r_ha")).over(wH))
      .withColumn("mean_r", meanR)
    val wRank = Window.partitionBy("h").orderBy(desc("mean_r"), asc("a"))
    val chosen = t.withColumn("rk", row_number().over(wRank))
      .filter(col("rk") === 1)
    val wAll = Window.partitionBy()
    chosen
      .withColumn("vp_term", fx(col("n_h").cast("double") * col("mean_r"), 6))
      .withColumn("n_total", sum(col("n_h")).over(wAll))
      .withColumn("v_policy", sum(col("vp_term")).over(wAll).cast("double") / 1e6 /
        col("n_total").cast("double"))
      .withColumn("v_logged", sum(col("r_h")).over(wAll).cast("double") / 1e2 /
        col("n_total").cast("double"))
      .select(col("h"), col("a").as("policy_action"), col("n_h"),
        r6(col("n_ha").cast("double") / col("n_h").cast("double")).as("propensity"),
        r6(col("r_h").cast("double") / 1e2 / col("n_h").cast("double")).as("logged_mean"),
        r6(col("mean_r")).as("policy_mean"),
        r6(col("v_logged")).as("v_logged"), r6(col("v_policy")).as("v_policy"),
        r6(col("v_policy") / col("v_logged") - lit(1.0)).as("lift"))
  }

  def opeIpsOracle: String = {
    val meanR = "(CAST(r_ha AS DOUBLE)/1e2/CAST(n_ha AS DOUBLE))"
    s"""WITH g AS (
       |  SELECT CAST(hour(ts) AS BIGINT) AS h, event_type AS a,
       |         count(*) AS n_ha,
       |         CAST(sum(CAST(floor(value*1e2 + 0.5) AS BIGINT)) AS BIGINT) AS r_ha
       |  FROM events GROUP BY 1, 2
       |), t AS (
       |  SELECT h, a, n_ha, r_ha,
       |         CAST(sum(n_ha) OVER (PARTITION BY h) AS BIGINT) AS n_h,
       |         CAST(sum(r_ha) OVER (PARTITION BY h) AS BIGINT) AS r_h,
       |         $meanR AS mean_r
       |  FROM g
       |), chosen AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY h ORDER BY mean_r DESC, a ASC) AS rk
       |    FROM t)
       |  WHERE rk = 1
       |), gl AS (
       |  SELECT *,
       |         CAST(sum(n_h) OVER () AS BIGINT) AS n_total,
       |         CAST(sum(${sqlFx("CAST(n_h AS DOUBLE)*mean_r", 6)}) OVER () AS DOUBLE)/1e6 AS vp_sum,
       |         CAST(sum(r_h) OVER () AS DOUBLE)/1e2 AS vl_sum
       |  FROM chosen
       |)
       |SELECT h, a AS policy_action, n_h,
       |       ${sqlR6("CAST(n_ha AS DOUBLE)/CAST(n_h AS DOUBLE)")} AS propensity,
       |       ${sqlR6("CAST(r_h AS DOUBLE)/1e2/CAST(n_h AS DOUBLE)")} AS logged_mean,
       |       ${sqlR6("mean_r")} AS policy_mean,
       |       ${sqlR6("vl_sum/CAST(n_total AS DOUBLE)")} AS v_logged,
       |       ${sqlR6("vp_sum/CAST(n_total AS DOUBLE)")} AS v_policy,
       |       ${sqlR6("(vp_sum/CAST(n_total AS DOUBLE))/(vl_sum/CAST(n_total AS DOUBLE)) - 1.0e0")} AS lift
       |FROM gl ORDER BY h""".stripMargin
  }

  /** Overdispersion index per event type — IS the daily arrival count
    * Poisson? The variance/mean ratio of daily counts (1 = Poisson, ≫1 =
    * bursty/clumped) decides whether a Poisson CI or a negative-binomial
    * model is honest for count metrics — the diagnostic read before
    * trusting any count-based alert threshold. The day×type grid completes
    * with zero-fill first (a type absent on a day IS a zero observation —
    * dropping it biases the variance down). Exact BIGINT count moments;
    * one (day, type) hash agg, a calendar-sized spine cross join, then a
    * types-sized agg.
    */
  def overdispersion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("ts").cast("date").as("day"), col("event_type"))
    val counts = ev.groupBy("day", "event_type").agg(count(lit(1)).as("n"))
    val full = ev.select("day").distinct()
      .crossJoin(broadcast(ev.select("event_type").distinct()))
      .join(counts, Seq("day", "event_type"), "left")
      .select(col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
    val mean = col("sn").cast("double") / col("d").cast("double")
    val variance = (col("snn").cast("double") -
      col("sn").cast("double") * col("sn").cast("double") / col("d").cast("double")) /
      (col("d") - 1L).cast("double")
    full.groupBy("event_type")
      .agg(count(lit(1)).as("d"), sum(col("n")).as("sn"),
        sum(col("n") * col("n")).as("snn"))
      .select(col("event_type"), col("d").as("n_days"),
        r6(mean).as("mean_daily"), r6(variance).as("var_daily"),
        r6(variance / mean).as("dispersion_index"))
  }

  def overdispersionOracle: String = {
    val mean = "(CAST(sn AS DOUBLE)/CAST(d AS DOUBLE))"
    val vr = "((CAST(snn AS DOUBLE) - CAST(sn AS DOUBLE)*CAST(sn AS DOUBLE)/CAST(d AS DOUBLE))/CAST(d - 1 AS DOUBLE))"
    s"""WITH ev AS (SELECT CAST(ts AS DATE) AS day, event_type FROM events),
       |counts AS (SELECT day, event_type, count(*) AS n FROM ev GROUP BY 1, 2),
       |full_g AS (
       |  SELECT t.event_type, coalesce(c.n, 0) AS n
       |  FROM (SELECT DISTINCT day FROM ev) d
       |  CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
       |  LEFT JOIN counts c ON c.day = d.day AND c.event_type = t.event_type
       |), g AS (
       |  SELECT event_type, count(*) AS d,
       |         CAST(sum(n) AS BIGINT) AS sn, CAST(sum(n*n) AS BIGINT) AS snn
       |  FROM full_g GROUP BY 1
       |)
       |SELECT event_type, d AS n_days, ${sqlR6(mean)} AS mean_daily,
       |       ${sqlR6(vr)} AS var_daily, ${sqlR6(s"$vr/$mean")} AS dispersion_index
       |FROM g ORDER BY event_type""".stripMargin
  }

  /** Dickey–Fuller critical value at 5% (large-n, constant-only case). */
  val AdfCrit05 = -2.86

  /** Augmented-Dickey–Fuller-style stationarity screen (lag-0 DF with
    * constant) per user — the test run before fitting anything
    * AR-shaped: regress Δx_t on x_{t−1}; a coefficient pulled toward 0
    * (DF stat above [[AdfCrit05]]) means shocks persist (unit root) and
    * the series should be differenced first. The statistic is b/se(b)
    * with SSE via the sums identity — every input is one of six exact
    * BIGINT cent-sums per user (n, Σx, ΣΔ, ΣxΔ, Σx², ΣΔ²), so the stat
    * is a single deterministic double expression. One lag window pass
    * partitioned by user, one hash agg.
    */
  def adfStat(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val base = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("c"))
      .withColumn("xl", lag(col("c"), 1).over(w))
      .filter(col("xl").isNotNull)
      .select(col("user_id"), col("xl").as("x"), (col("c") - col("xl")).as("dx"))
    val g = base.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("dx")).as("sd"),
        sum(col("x") * col("dx")).as("sxd"), sum(col("x") * col("x")).as("sxx"),
        sum(col("dx") * col("dx")).as("sdd"))
      .filter(col("n") >= 10 &&
        col("n") * col("sxx") - col("sx") * col("sx") > 0L)
    val nD = col("n").cast("double")
    val sxxC = col("sxx").cast("double") - col("sx").cast("double") *
      col("sx").cast("double") / nD
    val sxdC = col("sxd").cast("double") - col("sx").cast("double") *
      col("sd").cast("double") / nD
    val sddC = col("sdd").cast("double") - col("sd").cast("double") *
      col("sd").cast("double") / nD
    val b = sxdC / sxxC
    val s2 = (sddC - b * sxdC) / (nD - 2.0)
    val df = b / sqrt(s2 / sxxC)
    g.select(col("user_id"), col("n").as("n_obs"),
      r(b, 9).as("beta"), r6(df).as("df_stat"),
      (df < AdfCrit05).as("stationary"))
  }

  def adfStatOracle: String = {
    val nD = "CAST(n AS DOUBLE)"
    val sxxC = s"(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/$nD)"
    val sxdC = s"(CAST(sxd AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sd AS DOUBLE)/$nD)"
    val sddC = s"(CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE)/$nD)"
    val b = s"($sxdC/$sxxC)"
    val s2 = s"(($sddC - $b*$sxdC)/($nD - 2.0e0))"
    val df = s"($b/sqrt($s2/$sxxC))"
    s"""WITH base AS (
       |  SELECT user_id,
       |         lag(CAST(floor(value*1e2 + 0.5) AS BIGINT)) OVER w AS x,
       |         CAST(floor(value*1e2 + 0.5) AS BIGINT)
       |           - lag(CAST(floor(value*1e2 + 0.5) AS BIGINT)) OVER w AS dx
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), g AS (
       |  SELECT user_id, count(*) AS n,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(dx) AS BIGINT) AS sd,
       |         CAST(sum(x*dx) AS BIGINT) AS sxd, CAST(sum(x*x) AS BIGINT) AS sxx,
       |         CAST(sum(dx*dx) AS BIGINT) AS sdd
       |  FROM base WHERE x IS NOT NULL GROUP BY 1
       |  HAVING count(*) >= 10
       |     AND count(*)*CAST(sum(x*x) AS BIGINT) - CAST(sum(x) AS BIGINT)*CAST(sum(x) AS BIGINT) > 0
       |)
       |SELECT user_id, n AS n_obs, ${sqlR(b, 9)} AS beta, ${sqlR6(df)} AS df_stat,
       |       ($df < ${sqlD(AdfCrit05)}) AS stationary
       |FROM g ORDER BY user_id""".stripMargin
  }

  /** Turning-point randomness test per user — the cheapest "is this series
    * iid noise" screen: count strict local maxima/minima; an iid sequence
    * has E[T] = 2(n−2)/3 and Var[T] = (16n−29)/90, so z = (T−E)/√Var far
    * below 0 means the series is smoother than chance (trend/persistence)
    * and far above means alternation (negative autocorrelation). Pure
    * exact integer counting (strict inequalities; tie neighbors simply
    * don't count) plus one closed-form z. One lag/lead window pass per
    * user, one hash agg.
    */
  def turningPoints(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val t = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("c"))
      .withColumn("p", lag(col("c"), 1).over(w))
      .withColumn("f", lead(col("c"), 1).over(w))
      .filter(col("p").isNotNull && col("f").isNotNull)
      .select(col("user_id"),
        when((col("c") > col("p") && col("c") > col("f")) ||
          (col("c") < col("p") && col("c") < col("f")), 1L).otherwise(0L).as("tp"))
    val nD = (col("n_interior") + 2L).cast("double")
    val e = lit(2.0) * (nD - 2.0) / 3.0
    val v = (lit(16.0) * nD - 29.0) / 90.0
    t.groupBy("user_id")
      .agg(count(lit(1)).as("n_interior"), sum(col("tp")).as("n_turning"))
      .filter(col("n_interior") >= 10)
      .select(col("user_id"), (col("n_interior") + 2L).as("n_obs"), col("n_turning"),
        r6(e).as("expected"),
        r6((col("n_turning").cast("double") - e) / sqrt(v)).as("z"),
        (abs(col("n_turning").cast("double") - e) <= lit(1.959964) * sqrt(v))
          .as("iid_compatible"))
  }

  def turningPointsOracle: String = {
    val nD = "CAST(n_interior + 2 AS DOUBLE)"
    val e = s"(2.0e0*($nD - 2.0e0)/3.0e0)"
    val v = s"((16.0e0*$nD - 29.0e0)/90.0e0)"
    s"""WITH base AS (
       |  SELECT user_id, CAST(floor(value*1e2 + 0.5) AS BIGINT) AS c,
       |         lag(CAST(floor(value*1e2 + 0.5) AS BIGINT)) OVER w AS p,
       |         lead(CAST(floor(value*1e2 + 0.5) AS BIGINT)) OVER w AS f
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), g AS (
       |  SELECT user_id, count(*) AS n_interior,
       |         CAST(sum(CASE WHEN (c > p AND c > f) OR (c < p AND c < f) THEN 1 ELSE 0 END) AS BIGINT) AS n_turning
       |  FROM base WHERE p IS NOT NULL AND f IS NOT NULL
       |  GROUP BY 1 HAVING count(*) >= 10
       |)
       |SELECT user_id, CAST(n_interior + 2 AS BIGINT) AS n_obs, n_turning,
       |       ${sqlR6(e)} AS expected,
       |       ${sqlR6(s"(CAST(n_turning AS DOUBLE) - $e)/sqrt($v)")} AS z,
       |       (abs(CAST(n_turning AS DOUBLE) - $e) <= 1.959964e0*sqrt($v)) AS iid_compatible
       |FROM g ORDER BY user_id""".stripMargin
  }

  /** Weekend-vs-weekday lift per event type — the simplest calendar-effect
    * test a metrics review runs before attributing any weekly wiggle to a
    * launch: per type, the weekend/weekday mean ratio with a Welch t on
    * exact cent moments (same discipline as `events_abtest`, different
    * slicer). Weekend = ISO day ≥ 6.
    */
  def weekendLift(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(spark, dir)
      .select(col("event_type"),
        (weekday(col("ts")) + 1 >= 6).cast("long").as("we"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("c"))
      .groupBy("event_type")
      .agg(sum(col("we")).as("n_we"), (count(lit(1)) - sum(col("we"))).as("n_wd"),
        sum(col("we") * col("c")).as("s_we"),
        sum((lit(1L) - col("we")) * col("c")).as("s_wd"),
        sum(col("we") * col("c") * col("c")).as("ss_we"),
        sum((lit(1L) - col("we")) * col("c") * col("c")).as("ss_wd"))
    val mWe = fx2Mean(col("s_we"), col("n_we"))
    val mWd = fx2Mean(col("s_wd"), col("n_wd"))
    val t = (mWe - mWd) / sqrt(
      fx2Var(col("ss_we"), col("s_we"), col("n_we")) / col("n_we").cast("double") +
        fx2Var(col("ss_wd"), col("s_wd"), col("n_wd")) / col("n_wd").cast("double"))
    g.select(col("event_type"), col("n_we"), col("n_wd"),
      r6(mWe).as("mean_weekend"), r6(mWd).as("mean_weekday"),
      r6(mWe / mWd - 1.0).as("lift"), r6(t).as("t_welch"))
  }

  def weekendLiftOracle: String = {
    def mean(s: String, n: String) = s"(CAST($s AS DOUBLE)/1e2/CAST($n AS DOUBLE))"
    def vr(ss: String, s: String, n: String) =
      s"((CAST($ss AS DOUBLE)/1e4 - (CAST($s AS DOUBLE)/1e2)*(CAST($s AS DOUBLE)/1e2)/CAST($n AS DOUBLE))/CAST($n - 1 AS DOUBLE))"
    val mWe = mean("s_we", "n_we"); val mWd = mean("s_wd", "n_wd")
    val t = s"(($mWe - $mWd)/sqrt(${vr("ss_we", "s_we", "n_we")}/CAST(n_we AS DOUBLE) + ${vr("ss_wd", "s_wd", "n_wd")}/CAST(n_wd AS DOUBLE)))"
    s"""WITH g AS (
       |  SELECT event_type,
       |         CAST(sum(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_we,
       |         CAST(sum(CASE WHEN isodow(ts) >= 6 THEN 0 ELSE 1 END) AS BIGINT) AS n_wd,
       |         CAST(sum(CASE WHEN isodow(ts) >= 6 THEN CAST(floor(value*1e2 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_we,
       |         CAST(sum(CASE WHEN isodow(ts) >= 6 THEN 0 ELSE CAST(floor(value*1e2 + 0.5) AS BIGINT) END) AS BIGINT) AS s_wd,
       |         CAST(sum(CASE WHEN isodow(ts) >= 6 THEN CAST(floor(value*1e2 + 0.5) AS BIGINT)*CAST(floor(value*1e2 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS ss_we,
       |         CAST(sum(CASE WHEN isodow(ts) >= 6 THEN 0 ELSE CAST(floor(value*1e2 + 0.5) AS BIGINT)*CAST(floor(value*1e2 + 0.5) AS BIGINT) END) AS BIGINT) AS ss_wd
       |  FROM events GROUP BY 1
       |)
       |SELECT event_type, n_we, n_wd,
       |       ${sqlR6(mWe)} AS mean_weekend, ${sqlR6(mWd)} AS mean_weekday,
       |       ${sqlR6(s"$mWe/$mWd - 1.0e0")} AS lift, ${sqlR6(t)} AS t_welch
       |FROM g ORDER BY event_type""".stripMargin
  }

  /** Stratified (blocked) treatment-effect estimate — the observational
    * companion to `events_abtest`/`events_did`: users are stratified by
    * PRE-period activity (fixed log₂ buckets of pre-[[CupedSplit]] event
    * count — deterministic bins, deliberately NOT rank quantiles, so no
    * global sort exists), and the ATT is the treated-weighted sum of
    * within-stratum post-period mean differences — the exact-matching
    * estimator a platform runs when assignment may correlate with
    * activity. Per-stratum moments are exact BIGINTs; the weighted ATT
    * and its SE fx12-quantize per stratum before the order-insensitive
    * window sums. One events scan → user agg → stratum agg.
    */
  def stratifiedAtt(spark: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("value") * 1e2 + 0.5).cast("long")
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"),
        when(col("ts") < lit(CupedSplit).cast("timestamp"), 1L).otherwise(0L).as("pre"),
        when(col("ts") >= lit(CupedSplit).cast("timestamp"), cents).otherwise(0L).as("yc"))
      .groupBy("user_id")
      .agg(sum(col("pre")).as("n_pre"), sum(col("yc")).as("y"))
      .select(
        when(col("user_id") % 2 === 0L, 0L).otherwise(1L).as("treated"),
        // integer range ladder, NOT floor(log2(...)): native log2 is exact
        // at powers of two while ln(x)/ln 2 can round just below the
        // integer there, so the float form would split strata differently
        // across engines at exactly the common bucket edges
        (0 to 11).foldRight(lit(12L): Column) { (k, els) =>
          when(col("n_pre") + 1L < (1L << (k + 1)), k.toLong).otherwise(els)
        }.as("stratum"),
        col("y"))
    val cells = perUser.groupBy("stratum", "treated")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(col("y") * col("y")).as("syy"))
    val piv = cells.groupBy("stratum")
      .agg(max(when(col("treated") === 0L, col("n"))).as("n_a"),
        max(when(col("treated") === 1L, col("n"))).as("n_b"),
        max(when(col("treated") === 0L, col("sy"))).as("sy_a"),
        max(when(col("treated") === 1L, col("sy"))).as("sy_b"),
        max(when(col("treated") === 0L, col("syy"))).as("syy_a"),
        max(when(col("treated") === 1L, col("syy"))).as("syy_b"))
      .filter(col("n_a").isNotNull && col("n_b").isNotNull &&
        col("n_a") > 1L && col("n_b") > 1L)
    val diff = fx2Mean(col("sy_b"), col("n_b")) - fx2Mean(col("sy_a"), col("n_a"))
    val wAll = Window.partitionBy()
    val t = piv
      .withColumn("nb_tot", sum(col("n_b")).over(wAll))
      .withColumn("w", col("n_b").cast("double") / col("nb_tot").cast("double"))
      .withColumn("att",
        sum(fx(col("w") * diff, 12)).over(wAll).cast("double") / 1e12)
      .withColumn("se_att", sqrt(sum(fx(col("w") * col("w") *
        (fx2Var(col("syy_a"), col("sy_a"), col("n_a")) / col("n_a").cast("double") +
          fx2Var(col("syy_b"), col("sy_b"), col("n_b")) / col("n_b").cast("double")), 12))
        .over(wAll).cast("double") / 1e12))
    t.select(col("stratum"), col("n_a"), col("n_b"),
      r6(fx2Mean(col("sy_a"), col("n_a"))).as("mean_control"),
      r6(fx2Mean(col("sy_b"), col("n_b"))).as("mean_treated"),
      r6(diff).as("diff"), r6(col("w")).as("weight"),
      r6(col("att")).as("att"), r6(col("se_att")).as("se_att"))
  }

  def stratifiedAttOracle: String = {
    def mean(s: String, n: String) = s"(CAST($s AS DOUBLE)/1e2/CAST($n AS DOUBLE))"
    def vr(ss: String, s: String, n: String) =
      s"((CAST($ss AS DOUBLE)/1e4 - (CAST($s AS DOUBLE)/1e2)*(CAST($s AS DOUBLE)/1e2)/CAST($n AS DOUBLE))/CAST($n - 1 AS DOUBLE))"
    val diff = s"(${mean("sy_b", "n_b")} - ${mean("sy_a", "n_a")})"
    val w = "(CAST(n_b AS DOUBLE)/CAST(nb_tot AS DOUBLE))"
    val seTerm = s"($w*$w*(${vr("syy_a", "sy_a", "n_a")}/CAST(n_a AS DOUBLE) + ${vr("syy_b", "sy_b", "n_b")}/CAST(n_b AS DOUBLE)))"
    s"""WITH pu AS (
       |  SELECT user_id,
       |         CAST(sum(CASE WHEN ts < TIMESTAMP '$CupedSplit' THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
       |         CAST(sum(CASE WHEN ts >= TIMESTAMP '$CupedSplit' THEN CAST(floor(value*1e2 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
       |  FROM events GROUP BY 1
       |), su AS (
       |  SELECT CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END AS treated,
       |         CAST(CASE ${(0 to 11).map(k => s"WHEN n_pre + 1 < ${1L << (k + 1)} THEN $k").mkString(" ")} ELSE 12 END AS BIGINT) AS stratum, y
       |  FROM pu
       |), cells AS (
       |  SELECT stratum, treated, count(*) AS n,
       |         CAST(sum(y) AS BIGINT) AS sy, CAST(sum(y*y) AS BIGINT) AS syy
       |  FROM su GROUP BY 1, 2
       |), piv AS (
       |  SELECT stratum,
       |         max(CASE WHEN treated = 0 THEN n END) AS n_a,
       |         max(CASE WHEN treated = 1 THEN n END) AS n_b,
       |         max(CASE WHEN treated = 0 THEN sy END) AS sy_a,
       |         max(CASE WHEN treated = 1 THEN sy END) AS sy_b,
       |         max(CASE WHEN treated = 0 THEN syy END) AS syy_a,
       |         max(CASE WHEN treated = 1 THEN syy END) AS syy_b
       |  FROM cells GROUP BY 1
       |  HAVING max(CASE WHEN treated = 0 THEN n END) > 1
       |     AND max(CASE WHEN treated = 1 THEN n END) > 1
       |), t AS (
       |  SELECT *, CAST(sum(n_b) OVER () AS BIGINT) AS nb_tot FROM piv
       |), t2 AS (
       |  SELECT *,
       |         CAST(sum(${sqlFx(s"$w*$diff", 12)}) OVER () AS DOUBLE)/1e12 AS att,
       |         sqrt(CAST(sum(${sqlFx(seTerm, 12)}) OVER () AS DOUBLE)/1e12) AS se_att
       |  FROM t
       |)
       |SELECT stratum, n_a, n_b,
       |       ${sqlR6(mean("sy_a", "n_a"))} AS mean_control,
       |       ${sqlR6(mean("sy_b", "n_b"))} AS mean_treated,
       |       ${sqlR6(diff)} AS diff, ${sqlR6(w)} AS weight,
       |       ${sqlR6("att")} AS att, ${sqlR6("se_att")} AS se_att
       |FROM t2 ORDER BY stratum""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_stratified_att" -> ((s, d) => stratifiedAtt(s, d).orderBy("stratum")),
    "ts_turning_points" -> ((s, d) => turningPoints(s, d).orderBy("user_id")),
    "events_weekend_lift" -> ((s, d) => weekendLift(s, d).orderBy("event_type")),
    "ts_adf_stat" -> ((s, d) => adfStat(s, d).orderBy("user_id")),
    "events_overdispersion" -> ((s, d) => overdispersion(s, d).orderBy("event_type")),
    "events_did" -> ((s, d) => did(s, d).orderBy("arm", "period")),
    "events_ope_ips" -> ((s, d) => opeIps(s, d).orderBy("h")),
    "events_srm_check" -> ((s, d) => srmCheck(s, d).orderBy("day")),
    "events_power_analysis" -> ((s, d) => powerAnalysis(s, d).orderBy("event_type")),
    "events_survival_km" -> ((s, d) => survivalKm(s, d).orderBy("duration_days")),
    "events_chisq" -> ((s, d) => chiSq(s, d).orderBy("event_type", "arm")),
    "ts_hurst" -> ((s, d) => hurst(s, d).orderBy("user_id")),
    "events_cuped" -> ((s, d) => cuped(s, d).orderBy("arm")),
    "parts_supplier_hhi" -> ((s, d) => supplierHhi(s, d).orderBy("l_partkey")),
    "orders_reorder_interval" -> ((s, d) => reorderInterval(s, d).orderBy("o_custkey")),
    "ts_conformal" -> ((s, d) => conformal(s, d).orderBy("user_id")),
    "ts_theilsen" -> ((s, d) => theilSen(s, d).orderBy("user_id")),
    "orders_basket_profile" -> ((s, d) => basketProfile(s, d).orderBy("n_parts")),
    "ts_pacf" -> ((s, d) => pacf(s, d).orderBy("user_id")),
    "ts_lttb" -> ((s, d) => lttb(s, d).orderBy("user_id", "bucket", "ts", "event_id")),
    "events_ks_test" -> ((s, d) => ksTest(s, d).orderBy("event_type")),
    "events_mannwhitney" -> ((s, d) => mannWhitney(s, d).orderBy("event_type")),
    "events_mix_shift" -> ((s, d) => mixShift(s, d).orderBy("event_type")),
    "orders_benford" -> ((s, d) => benford(s, d).orderBy("digit")),
    "events_gap_fill" -> ((s, d) => gapFill(s, d).orderBy("user_id", "day"))
  )

  def oracles: Map[String, String] = Map(
    "events_stratified_att" -> stratifiedAttOracle,
    "ts_turning_points" -> turningPointsOracle,
    "events_weekend_lift" -> weekendLiftOracle,
    "ts_adf_stat" -> adfStatOracle,
    "events_overdispersion" -> overdispersionOracle,
    "events_did" -> didOracle,
    "events_ope_ips" -> opeIpsOracle,
    "events_srm_check" -> srmCheckOracle,
    "events_power_analysis" -> powerAnalysisOracle,
    "events_survival_km" -> survivalKmOracle,
    "events_chisq" -> chiSqOracle,
    "ts_hurst" -> hurstOracle,
    "events_cuped" -> cupedOracle,
    "parts_supplier_hhi" -> supplierHhiOracle,
    "orders_reorder_interval" -> reorderIntervalOracle,
    "ts_conformal" -> conformalOracle,
    "ts_theilsen" -> theilSenOracle,
    "orders_basket_profile" -> basketProfileOracle,
    "ts_pacf" -> pacfOracle,
    "ts_lttb" -> lttbOracle,
    "events_ks_test" -> ksTestOracle,
    "events_mannwhitney" -> mannWhitneyOracle,
    "events_mix_shift" -> mixShiftOracle,
    "orders_benford" -> benfordOracle,
    "events_gap_fill" -> gapFillOracle
  )
}
