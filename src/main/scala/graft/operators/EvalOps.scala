package graft.operators

import graft.Tables
import graft.functions.Num._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation and data-monitoring readouts over the events table — the
  * layer a training pipeline runs BETWEEN feature generation and model
  * promotion: ranking quality (AUC, gains/lift), exact heavy-hitter detection
  * (the two-pass Misra–Gries pattern), activity-coverage intervals, OHLC
  * bars, and a per-column profiler (the "expectations" pass every ingest
  * runs before anything downstream trusts a column).
  *
  * Exactness discipline: values quantize to integer cents before ranking or
  * grouping, so tie structure and rank sums are exact BIGINT arithmetic in
  * both engines; doubles appear only in final ratios, r6-rounded.
  */
object EvalOps {

  // ---------------- ranking quality: AUC ----------------

  /** Per-day ROC AUC of `value` as a score separating purchases (positive)
    * from clicks (negative) — the offline eval a ranking model reports per
    * partition of the eval window.
    *
    * AUC is the Mann–Whitney statistic: on the per-day (cents) frequency
    * grid, DOUBLED average ranks are the exact integers 2·cum_before + t + 1
    * (t = ties across both classes), so the doubled positive rank sum
    * R2 = Σ p·r2 is exact BIGINT and 2U = R2 − 2·(n_pos(n_pos+1)/2). AUC =
    * U / (n_pos·n_neg), one double division at the end. Scale: the fact
    * table collapses to the (day, cents) grid map-side; the ordered pass
    * runs per day, so parallelism = #days.
    */
  def auc(spark: SparkSession, dir: String): DataFrame = {
    val grid = Tables.events(spark, dir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("ts").cast("date").as("day"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("x"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy("day", "x")
      .agg(count(lit(1)).as("t"), sum(col("p")).as("np"))
    val wprev = Window.partitionBy("day").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val ranked = grid.select(col("day"), col("t"), col("np"),
      (coalesce(sum(col("t")).over(wprev), lit(0L)) * 2L + col("t") + 1L).as("r2"))
    ranked.groupBy("day")
      .agg(sum(col("np")).as("n_pos"), (sum(col("t")) - sum(col("np"))).as("n_neg"),
        sum(col("np") * col("r2")).as("rp2"))
      .filter(col("n_pos") > 0L && col("n_neg") > 0L) // a one-class day has no AUC
      .select(col("day"), col("n_pos"), col("n_neg"),
        r6((col("rp2") - col("n_pos") * (col("n_pos") + 1L)).cast("double") /
          (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double"))).as("auc"))
  }

  def aucOracle: String =
    s"""WITH grid AS (
       |  SELECT CAST(ts AS DATE) AS day, CAST(floor(value*1e2 + 0.5) AS BIGINT) AS x,
       |         count(*) AS t,
       |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS np
       |  FROM events WHERE event_type IN ('purchase', 'click') GROUP BY 1, 2
       |), ranked AS (
       |  SELECT day, t, np,
       |         CAST(coalesce(sum(t) OVER (PARTITION BY day ORDER BY x
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)*2 + t + 1 AS r2
       |  FROM grid
       |), agg AS (
       |  SELECT day, CAST(sum(np) AS BIGINT) AS n_pos,
       |         CAST(sum(t) - sum(np) AS BIGINT) AS n_neg,
       |         CAST(sum(np*r2) AS BIGINT) AS rp2
       |  FROM ranked GROUP BY 1
       |)
       |SELECT day, n_pos, n_neg,
       |       ${sqlR6("CAST(rp2 - n_pos*(n_pos + 1) AS DOUBLE)/(2.0*CAST(n_pos AS DOUBLE)*CAST(n_neg AS DOUBLE))")} AS auc
       |FROM agg WHERE n_pos > 0 AND n_neg > 0 ORDER BY day""".stripMargin

  // ---------------- ranking quality: gains / lift ----------------

  /** Decile gains table — events ranked by score (value DESC, event_id as
    * the deterministic tiebreak), cut into 10 equal-count bins; per bin the
    * purchase rate, cumulative capture share and lift vs the global rate.
    * The chart a targeting model is judged by when AUC alone is too coarse.
    *
    * The ntile runs on a total order (score is cents, tiebreak event_id), so
    * bin membership is identical in both engines. Scale note: a global
    * ntile is a single-partition sort; the production form at extreme n is
    * the rank-histogram cut (`ts_value_quantiles_scalable` pattern) — at
    * eval-set sizes (≤ tens of millions) the direct form is the right plan.
    */
  /** Global rank by (x, event_id) WITHOUT a single-partition window: the
    * per-value grid (distinct cents — bounded by the VALUE DOMAIN, not the
    * row count) carries the cumulative counts, and per-row ranks then need
    * only a window PARTITIONED by x — full parallelism. r = cum_before(x) +
    * rank-within-x. Identical to row_number() over the global (x, event_id)
    * order; the sf1 rehearsal measured the global-window forms of
    * calibration/score_lift at ~10× for 10× data (one sequential task).
    */
  private def gridRank(scored: DataFrame, xAsc: Boolean): DataFrame = {
    val gw = if (xAsc) Window.orderBy(col("x").asc) else Window.orderBy(col("x").desc)
    val grid = scored.groupBy("x").agg(count(lit(1)).as("t"))
      .withColumn("cum_before",
        coalesce(sum(col("t")).over(gw.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("x", "cum_before")
    val iw = Window.partitionBy("x").orderBy(col("event_id").asc)
    scored.join(broadcast(grid), "x")
      .withColumn("r", col("cum_before") + row_number().over(iw).cast("long"))
  }

  def scoreLift(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.events(spark, dir)
      .select(floor(col("value") * 1e2 + 0.5).cast("long").as("x"),
        col("event_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
    // ntile(10) on the gridRank r: with n = 10q + rem, ntile gives the FIRST
    // rem buckets q+1 rows (⌊(r−1)·10/n⌋ spreads the remainder instead —
    // EvalSpec pins the n=1003 case the divisible fixtures never exercise;
    // the q=0 branch is unreachable because rem·(q+1)=n then)
    val ranked = gridRank(scored, xAsc = false)
    val nAll = scored.agg(count(lit(1)).as("n_all"))
    val binned = ranked.crossJoin(broadcast(nAll))
      .withColumn("decile", (expr(
        """CASE WHEN r <= (n_all % 10) * (n_all div 10 + 1)
          |     THEN (r - 1) div (n_all div 10 + 1)
          |     ELSE (n_all % 10) + (r - (n_all % 10) * (n_all div 10 + 1) - 1) div (n_all div 10)
          |END""".stripMargin) + 1L).cast("int"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"), sum(col("p")).as("n_pos"))
    val tot = binned.agg(sum(col("n")).as("tot_n"), sum(col("n_pos")).as("tot_pos"))
    val wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    binned.crossJoin(broadcast(tot))
      .withColumn("cum_pos", sum(col("n_pos")).over(wcum))
      .select(col("decile"), col("n"), col("n_pos"),
        r6(col("n_pos").cast("double") / col("n").cast("double")).as("pos_rate"),
        r6(col("cum_pos").cast("double") / col("tot_pos").cast("double")).as("cum_capture"),
        r6(col("n_pos").cast("double") / col("n").cast("double") /
          (col("tot_pos").cast("double") / col("tot_n").cast("double"))).as("lift"))
  }

  def scoreLiftOracle: String =
    s"""WITH scored AS (
       |  SELECT CAST(floor(value*1e2 + 0.5) AS BIGINT) AS x, event_id,
       |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
       |  FROM events
       |), binned AS (
       |  SELECT ntile(10) OVER (ORDER BY x DESC, event_id ASC) AS decile, p FROM scored
       |), g AS (
       |  SELECT decile, count(*) AS n, CAST(sum(p) AS BIGINT) AS n_pos FROM binned GROUP BY 1
       |), t AS (SELECT CAST(sum(n) AS BIGINT) AS tot_n, CAST(sum(n_pos) AS BIGINT) AS tot_pos FROM g),
       |c AS (
       |  SELECT g.*, CAST(sum(n_pos) OVER (ORDER BY decile
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
       |  FROM g
       |)
       |SELECT decile, n, n_pos,
       |       ${sqlR6("CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE)")} AS pos_rate,
       |       ${sqlR6("CAST(cum_pos AS DOUBLE)/CAST(tot_pos AS DOUBLE)")} AS cum_capture,
       |       ${sqlR6("CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE)/(CAST(tot_pos AS DOUBLE)/CAST(tot_n AS DOUBLE))")} AS lift
       |FROM c, t ORDER BY decile""".stripMargin

  // ---------------- exact heavy hitters (two-pass Misra–Gries) ----------------

  /** Heavy-hitter rate: report users with event count > HhFactor × the mean
    * (threshold n/k with k = ⌊4u/5⌋ counters, i.e. 1.25× mean). */
  val HhNum = 4
  val HhDen = 5

  /** Per-partition Misra–Gries summary with k counters over an iterator of
    * keys. Retains every item whose in-partition frequency exceeds
    * (partition size)/k — the guarantee the candidate union relies on.
    */
  private[graft] def misraGries(it: Iterator[Long], k: Int): Iterator[Long] = {
    val counters = scala.collection.mutable.HashMap.empty[Long, Long]
    it.foreach { key =>
      counters.get(key) match {
        case Some(c) => counters.update(key, c + 1L)
        case None if counters.size < k => counters.update(key, 1L)
        case None =>
          // decrement-all step; drop zeros
          val dead = scala.collection.mutable.ArrayBuffer.empty[Long]
          counters.foreach { case (kk, c) =>
            if (c == 1L) dead += kk else counters.update(kk, c - 1L)
          }
          dead.foreach(counters.remove)
      }
    }
    counters.keysIterator.toSeq.iterator
  }

  /** Exact heavy hitters via the two-pass Misra–Gries pattern — the
    * distributed form of "which keys exceed n/k": pass 1 runs a k-counter
    * Misra–Gries summary PER PARTITION (bounded memory, one scan, no
    * shuffle); any key with global count > n/k must exceed n_p/k in some
    * partition (pigeonhole), so the union of per-partition survivors is a
    * guaranteed superset. Pass 2 recounts ONLY the candidates exactly
    * (broadcast semi-join — the candidate set is ≤ k × partitions rows) and
    * applies the exact threshold, so the OUTPUT is exact and deterministic
    * even though the intermediate summaries depend on partition layout.
    * At 100 TB this is the plan: the raw stream is never shuffled, only
    * candidates are.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keys = Tables.events(spark, dir).select(col("user_id"))
    val stats = keys.agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("u"))
      .collect()(0) // 1 row: corpus size + key cardinality, sets k
    val n = stats.getLong(0)
    val k = math.max(1L, stats.getLong(1) * HhNum / HhDen)
    // misraGries sizes a per-partition array of k counters; past Int.MaxValue
    // the .toInt below would silently go negative and make every summary
    // empty (zero rows instead of heavy hitters — ADVICE r7). Fail loudly:
    // at that cardinality the n/k threshold is ~1 event and the operator is
    // the wrong tool anyway (use the CMS/TopK sketch path).
    require(k <= Int.MaxValue.toLong,
      s"heavyHitters: k=$k exceeds the exact Misra-Gries summary bound " +
        s"(${Int.MaxValue}); use the sketch-based heavy-hitter path instead")
    val thr = n.toDouble / k.toDouble
    val cands = keys.as[Long].mapPartitions(it => misraGries(it, k.toInt))
      .toDF("user_id").distinct()
    keys.join(broadcast(cands), "user_id")
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .filter(col("n_events").cast("double") > thr)
      .withColumn("threshold", r6(lit(thr)))
  }

  def heavyHittersOracle: String =
    s"""WITH t AS (
       |  SELECT count(*) AS n, count(DISTINCT user_id) AS u FROM events
       |), thr AS (
       |  SELECT CAST(n AS DOUBLE)/CAST(greatest(1, u*$HhNum//$HhDen) AS DOUBLE) AS thr FROM t
       |)
       |SELECT user_id, count(*) AS n_events, ${sqlR6("max(thr.thr)")} AS threshold
       |FROM events, thr GROUP BY user_id, thr.thr
       |HAVING CAST(count(*) AS DOUBLE) > thr.thr
       |ORDER BY user_id""".stripMargin

  // ---------------- interval union: activity coverage ----------------

  /** Activity interval length: each event opens a [ts, ts+300s) window. */
  val CoverageSec = 300L

  /** Per-user activity coverage — overlapping [ts, ts+300s) event windows
    * merged into maximal islands (the classic gaps-and-islands union): a new
    * island starts when the event's start exceeds the running max end of
    * everything before it; union seconds = Σ island (max end − min start).
    * All arithmetic in integer epoch seconds, exact in both engines. Scale:
    * one (user, second) dedup agg map-side, ordered pass per user.
    */
  def intervalUnion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("s"))
      .groupBy("user_id", "s").agg(count(lit(1)).as("n_ev"))
    val wprev = Window.partitionBy("user_id").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    // epoch seconds are positive, so -1 is a safe "no previous interval" sentinel
    val flagged = ev.withColumn("prev_end",
      coalesce(max(col("s") + CoverageSec).over(wprev), lit(-1L)))
      .withColumn("new_island", (col("s") > col("prev_end")).cast("long"))
    val wisl = Window.partitionBy("user_id").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, 0)
    flagged.withColumn("island", sum(col("new_island")).over(wisl))
      .groupBy("user_id", "island")
      .agg((max(col("s") + CoverageSec) - min(col("s"))).as("len"),
        sum(col("n_ev")).as("n_ev"))
      .groupBy("user_id")
      .agg(sum(col("len")).as("active_seconds"),
        count(lit(1)).as("n_islands"), sum(col("n_ev")).as("n_events"))
  }

  def intervalUnionOracle: String =
    s"""WITH ev AS (
       |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s, count(*) AS n_ev
       |  FROM events GROUP BY 1, 2
       |), flagged AS (
       |  SELECT user_id, s, n_ev,
       |         CASE WHEN s > coalesce(max(s + $CoverageSec) OVER (PARTITION BY user_id ORDER BY s
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS new_island
       |  FROM ev
       |), isl AS (
       |  SELECT user_id, s, n_ev,
       |         CAST(sum(new_island) OVER (PARTITION BY user_id ORDER BY s
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
       |  FROM flagged
       |), per AS (
       |  SELECT user_id, island, max(s + $CoverageSec) - min(s) AS len,
       |         CAST(sum(n_ev) AS BIGINT) AS n_ev
       |  FROM isl GROUP BY 1, 2
       |)
       |SELECT user_id, CAST(sum(len) AS BIGINT) AS active_seconds,
       |       count(*) AS n_islands, CAST(sum(n_ev) AS BIGINT) AS n_events
       |FROM per GROUP BY 1 ORDER BY user_id""".stripMargin

  // ---------------- OHLC bars ----------------

  /** Per-(event_type, day) OHLC bars — the resampling every monitoring
    * dashboard runs on a value stream: open/close by the deterministic
    * (ts, event_id) order, high/low from exact cents, volume and mean. The
    * open/close come from a windowed first_value over the total order (the
    * same rows both engines pick), the rest are plain hash aggs.
    */
  def ohlcBars(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("ts").cast("date").as("day"),
        col("ts"), col("event_id"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("c"))
    val wAsc = Window.partitionBy("event_type", "day")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wDesc = Window.partitionBy("event_type", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ev.withColumn("open_c", first(col("c")).over(wAsc))
      .withColumn("close_c", first(col("c")).over(wDesc))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("volume"),
        r6(first(col("open_c")).cast("double") / 1e2).as("open"),
        r6(max(col("c")).cast("double") / 1e2).as("high"),
        r6(min(col("c")).cast("double") / 1e2).as("low"),
        r6(first(col("close_c")).cast("double") / 1e2).as("close"),
        r6(sum(col("c")).cast("double") / 1e2 / count(lit(1)).cast("double")).as("mean"))
  }

  def ohlcBarsOracle: String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
       |         CAST(floor(value*1e2 + 0.5) AS BIGINT) AS c
       |  FROM events
       |), w AS (
       |  SELECT event_type, day, c,
       |         first_value(c) OVER (PARTITION BY event_type, day ORDER BY ts ASC, event_id ASC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS open_c,
       |         first_value(c) OVER (PARTITION BY event_type, day ORDER BY ts DESC, event_id DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close_c
       |  FROM ev
       |)
       |SELECT event_type, day, count(*) AS volume,
       |       ${sqlR6("CAST(max(open_c) AS DOUBLE)/1e2")} AS open,
       |       ${sqlR6("CAST(max(c) AS DOUBLE)/1e2")} AS high,
       |       ${sqlR6("CAST(min(c) AS DOUBLE)/1e2")} AS low,
       |       ${sqlR6("CAST(max(close_c) AS DOUBLE)/1e2")} AS close,
       |       ${sqlR6("CAST(sum(c) AS DOUBLE)/1e2/CAST(count(*) AS DOUBLE)")} AS mean
       |FROM w GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin

  // ---------------- column profiler ----------------

  /** Per-column profile over events — null fraction, distinct count, Shannon
    * entropy and top-value share for each of (event_type, props, user_id,
    * value-as-cents): the expectations pass an ingest gate runs before any
    * downstream job trusts the column. One scan melts the four columns
    * (narrow 4× fan-out, no shuffle), then a (column, value) agg feeds the
    * per-column rollup; entropy terms come from exact BIGINT counts.
    */
  def columnProfile(spark: SparkSession, dir: String): DataFrame = {
    val melted = Tables.events(spark, dir)
      .select(expr(
        """stack(4,
          |  'event_type', event_type,
          |  'props', props,
          |  'user_id', cast(user_id as string),
          |  'value_cents', cast(cast(floor(value*1e2 + 0.5) as long) as string)
          |) as (col_name, val)""".stripMargin))
    val counts = melted.groupBy("col_name", "val").agg(count(lit(1)).as("c"))
    val perCol = counts.groupBy("col_name")
      .agg(sum(col("c")).as("n_total"),
        sum(when(col("val").isNull, col("c")).otherwise(lit(0L))).as("n_null"),
        sum(when(col("val").isNotNull, lit(1L)).otherwise(lit(0L))).as("n_distinct"),
        max(when(col("val").isNotNull, col("c"))).as("top_c"),
        sum(when(col("val").isNotNull,
          fx9(col("c").cast("double") * log(col("c").cast("double"))))
          .otherwise(lit(0L))).as("clogc_fx"))
    perCol.select(col("col_name"), col("n_total"), col("n_null"), col("n_distinct"),
      r6(col("n_null").cast("double") / col("n_total").cast("double")).as("null_frac"),
      r6(col("top_c").cast("double") /
        (col("n_total") - col("n_null")).cast("double")).as("top_share"),
      // H = ln m − (Σ c·ln c)/m over non-null counts, m = n_total − n_null
      r6(log((col("n_total") - col("n_null")).cast("double")) -
        (col("clogc_fx").cast("double") / 1e9) /
          (col("n_total") - col("n_null")).cast("double")).as("entropy_nats"))
  }

  def columnProfileOracle: String =
    s"""WITH melted AS (
       |  SELECT 'event_type' AS col_name, event_type AS val FROM events
       |  UNION ALL SELECT 'props', props FROM events
       |  UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
       |  UNION ALL SELECT 'value_cents', CAST(CAST(floor(value*1e2 + 0.5) AS BIGINT) AS VARCHAR) FROM events
       |), counts AS (
       |  SELECT col_name, val, count(*) AS c FROM melted GROUP BY 1, 2
       |), per AS (
       |  SELECT col_name,
       |         CAST(sum(c) AS BIGINT) AS n_total,
       |         CAST(sum(CASE WHEN val IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_null,
       |         CAST(sum(CASE WHEN val IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_distinct,
       |         CAST(max(CASE WHEN val IS NOT NULL THEN c END) AS BIGINT) AS top_c,
       |         CAST(sum(CASE WHEN val IS NOT NULL THEN ${sqlFx9("CAST(c AS DOUBLE)*ln(CAST(c AS DOUBLE))")} ELSE 0 END) AS BIGINT) AS clogc_fx
       |  FROM counts GROUP BY 1
       |)
       |SELECT col_name, n_total, n_null, n_distinct,
       |       ${sqlR6("CAST(n_null AS DOUBLE)/CAST(n_total AS DOUBLE)")} AS null_frac,
       |       ${sqlR6("CAST(top_c AS DOUBLE)/CAST(n_total - n_null AS DOUBLE)")} AS top_share,
       |       ${sqlR6("ln(CAST(n_total - n_null AS DOUBLE)) - (CAST(clogc_fx AS DOUBLE)/1e9)/CAST(n_total - n_null AS DOUBLE)")} AS entropy_nats
       |FROM per ORDER BY col_name""".stripMargin

  // ---------------- calibration ----------------

  /** Reliability (calibration) table — the companion the gains chart needs
    * before anyone trusts the scores as probabilities: the rank-normalized
    * score p̂ = r/n (r = row_number by (cents, event_id), an EXACT rational)
    * binned into deciles; per bin the mean score, the empirical purchase
    * rate, their gap, and the bin's Brier contribution. Everything is exact
    * integer arithmetic until the final r6 ratios: Brier quantizes p̂ to a
    * ppm grid first — p6 = ⌊r·10⁶/n + ½⌋ via the integer identity
    * (2·r·10⁶ + n) div (2n), exact in both engines — then sums (p6 − y·10⁶)²
    * (each term ≤ 10¹²) as DECIMAL(38,0), so the numerator never wraps:
    * BIGINT Σ(r − y·n)² grows O(n³) and overflows past ~4·10⁶ events where
    * DuckDB would silently promote to HUGEINT and the engines diverge
    * (ADVICE r7). The |gap|-weighted sum over bins is the ECE readout a
    * monitoring page derives from this table.
    */
  def calibration(spark: SparkSession, dir: String): DataFrame = {
    val ranked = gridRank(
      Tables.events(spark, dir)
        .select(floor(col("value") * 1e2 + 0.5).cast("long").as("x"),
          col("event_id"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y")),
      xAsc = true)
    val n = ranked.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("bin", floor((col("r") - 1).cast("double") * 10 / col("n").cast("double")).cast("long"))
      // p6 = round(r/n * 1e6) by integer arithmetic: (2·r·1e6 + n) div (2n)
      .withColumn("p6", expr("(2 * r * 1000000 + n) div (2 * n)"))
      .withColumn("bt",
        ((col("p6") - col("y") * 1000000L) * (col("p6") - col("y") * 1000000L))
          .cast("decimal(38,0)"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_bin"), max(col("n")).as("n"),
        sum(col("r")).as("sr"), sum(col("y")).as("sy"),
        sum(col("bt")).as("sq"))
      .select(col("bin"), col("n_bin"),
        r6(col("sr").cast("double") / col("n").cast("double") / col("n_bin").cast("double")).as("mean_score"),
        r6(col("sy").cast("double") / col("n_bin").cast("double")).as("pos_rate"),
        r6(col("sr").cast("double") / col("n").cast("double") / col("n_bin").cast("double") -
          col("sy").cast("double") / col("n_bin").cast("double")).as("gap"),
        r6(col("sq").cast("double") / (lit(1e12) * col("n_bin").cast("double"))).as("brier"))
  }

  def calibrationOracle: String =
    s"""WITH ranked AS (
       |  SELECT CAST(floor(value*1e2 + 0.5) AS BIGINT) AS x, event_id,
       |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
       |         CAST(row_number() OVER (ORDER BY floor(value*1e2 + 0.5), event_id) AS BIGINT) AS r,
       |         count(*) OVER () AS n
       |  FROM events
       |), binned AS (
       |  SELECT *, CAST(floor(CAST(r - 1 AS DOUBLE) * 10 / CAST(n AS DOUBLE)) AS BIGINT) AS bin
       |  FROM ranked
       |), quant AS (
       |  SELECT *, (2*r*1000000 + n) // (2*n) AS p6 FROM binned
       |), g AS (
       |  SELECT bin, count(*) AS n_bin, CAST(max(n) AS BIGINT) AS n,
       |         CAST(sum(r) AS BIGINT) AS sr, CAST(sum(y) AS BIGINT) AS sy,
       |         sum(CAST((p6 - y*1000000)*(p6 - y*1000000) AS DECIMAL(38,0))) AS sq
       |  FROM quant GROUP BY 1
       |)
       |SELECT bin, n_bin,
       |       ${sqlR6("CAST(sr AS DOUBLE)/CAST(n AS DOUBLE)/CAST(n_bin AS DOUBLE)")} AS mean_score,
       |       ${sqlR6("CAST(sy AS DOUBLE)/CAST(n_bin AS DOUBLE)")} AS pos_rate,
       |       ${sqlR6("CAST(sr AS DOUBLE)/CAST(n AS DOUBLE)/CAST(n_bin AS DOUBLE) - CAST(sy AS DOUBLE)/CAST(n_bin AS DOUBLE)")} AS gap,
       |       ${sqlR6("CAST(sq AS DOUBLE)/(1.0e12*CAST(n_bin AS DOUBLE))")} AS brier
       |FROM g ORDER BY bin""".stripMargin

  // ---------------- winsorization ----------------

  /** Per-type winsorization report — the outlier-clipping pass a feature
    * pipeline applies before any mean-based statistic: exact p1/p99
    * thresholds by order-statistic rank (the integer ⌈q·n⌉ formula, no
    * interpolation), values clipped into [p1, p99], and the before/after
    * means with clip counts so the transform is auditable. All arithmetic is
    * exact cents; thresholds are per-type literal-sized and broadcast back.
    * Ranks come from the block-parallel [[EventsOps.blockedRank]] over cent
    * buckets (r10 — the per-type rank window this used before sorted a whole
    * type in one task; PlanHygieneSpec bans that shape).
    */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    def kOf(num: Int, den: Int) =
      floor((col("n") * num + den - 1).cast("double") / den).cast("long")
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("c"))
    val nTab = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    val ranked = EventsOps.blockedRank(ev, "event_type",
        Seq(col("c"), col("event_id")),
        EventsOps.longBuckets(ev, col("c"), EventsOps.SeriesBlockRows,
          Some(s"$dir/events.parquet#cents")), "rn")
      .join(broadcast(nTab), "event_type")
    val thr = ranked.groupBy("event_type")
      .agg(max(when(col("rn") === kOf(1, 100), col("c"))).as("lo"),
        max(when(col("rn") === kOf(99, 100), col("c"))).as("hi"))
    ranked.join(broadcast(thr), "event_type")
      .withColumn("clipped", least(greatest(col("c"), col("lo")), col("hi")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("c") < col("lo"), 1L).otherwise(0L)).as("n_clip_low"),
        sum(when(col("c") > col("hi"), 1L).otherwise(0L)).as("n_clip_high"),
        r6(max(col("lo")).cast("double") / 1e2).as("p1"),
        r6(max(col("hi")).cast("double") / 1e2).as("p99"),
        r6(sum(col("c")).cast("double") / 1e2 / count(lit(1)).cast("double")).as("mean_raw"),
        r6(sum(col("clipped")).cast("double") / 1e2 / count(lit(1)).cast("double")).as("mean_winsorized"))
  }

  def winsorizeOracle: String =
    s"""WITH ranked AS (
       |  SELECT event_type, CAST(floor(value*1e2 + 0.5) AS BIGINT) AS c,
       |         row_number() OVER (PARTITION BY event_type ORDER BY floor(value*1e2 + 0.5), event_id) AS rn,
       |         count(*) OVER (PARTITION BY event_type) AS n
       |  FROM events
       |), thr AS (
       |  SELECT event_type,
       |         CAST(max(CASE WHEN rn = (n*1 + 99)//100 THEN c END) AS BIGINT) AS lo,
       |         CAST(max(CASE WHEN rn = (n*99 + 99)//100 THEN c END) AS BIGINT) AS hi
       |  FROM ranked GROUP BY 1
       |)
       |SELECT r.event_type, count(*) AS n,
       |       CAST(sum(CASE WHEN r.c < t.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
       |       CAST(sum(CASE WHEN r.c > t.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high,
       |       ${sqlR6("CAST(max(t.lo) AS DOUBLE)/1e2")} AS p1,
       |       ${sqlR6("CAST(max(t.hi) AS DOUBLE)/1e2")} AS p99,
       |       ${sqlR6("CAST(sum(r.c) AS DOUBLE)/1e2/CAST(count(*) AS DOUBLE)")} AS mean_raw,
       |       ${sqlR6("CAST(sum(least(greatest(r.c, t.lo), t.hi)) AS DOUBLE)/1e2/CAST(count(*) AS DOUBLE)")} AS mean_winsorized
       |FROM ranked r JOIN thr t USING (event_type)
       |GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---------------- session position profile ----------------

  /** Positions reported by the session-position profile. */
  val PositionCap = 10

  /** Within-session position effects — "how does behavior change from the
    * 1st to the Nth event of a session": per position (1..[[PositionCap]])
    * the event count, exact-cents mean value, and purchase share. Sessions
    * are the standard 30-min-gap islands (the same definition as
    * `events_sessionize`); position is the row_number within the session.
    * One shuffle on user_id covers sessionization and positioning; the
    * profile is position-bounded.
    */
  def sessionPositionProfile(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapMin = (col("ts").cast("double") - col("prev_ts").cast("double")) / 60.0
    val sess = Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull || gapMin > 30.0, 1).otherwise(0))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wPos = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    sess.withColumn("pos", row_number().over(wPos))
      .filter(col("pos") <= PositionCap)
      .select(col("pos"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("c"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n_events"),
        r6(sum(col("c")).cast("double") / 1e2 / count(lit(1)).cast("double")).as("mean_value"),
        r6(sum(col("p")).cast("double") / count(lit(1)).cast("double")).as("purchase_share"))
  }

  def sessionPositionProfileOracle: String =
    s"""WITH marked AS (
       |  SELECT user_id, ts, event_id, event_type, value,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |                OR (epoch(ts) - epoch(lag(ts) OVER w))/60.0 > 30.0
       |              THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), sess AS (
       |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
       |  FROM marked
       |), pos AS (
       |  SELECT row_number() OVER (PARTITION BY user_id, session_seq ORDER BY ts, event_id) AS pos,
       |         CAST(floor(value*1e2 + 0.5) AS BIGINT) AS c,
       |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
       |  FROM sess
       |)
       |SELECT CAST(pos AS INT) AS pos, count(*) AS n_events,
       |       ${sqlR6("CAST(sum(c) AS DOUBLE)/1e2/CAST(count(*) AS DOUBLE)")} AS mean_value,
       |       ${sqlR6("CAST(sum(p) AS DOUBLE)/CAST(count(*) AS DOUBLE)")} AS purchase_share
       |FROM pos WHERE pos <= $PositionCap
       |GROUP BY 1 ORDER BY pos""".stripMargin

  // ---------------- deterministic Poisson bootstrap ----------------

  /** Bootstrap replicas and the Poisson(1) inverse-CDF thresholds (cumulative
    * probabilities P(X ≤ k), k = 0..5; draws cap at 6). */
  val BootstrapB = 100
  val PoissonCum: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183)

  /** Per-type bootstrap confidence interval for the mean value — the
    * resampling answer where the CLT's normal approximation is not trusted.
    * Poisson bootstrap (the distributed form — per-row i.i.d. Poisson(1)
    * weights replace the global multinomial draw, which would need the row
    * count in advance): each of [[BootstrapB]] replicas draws every row's
    * weight by inverse-CDF over the cross-engine LCG (`DetRand.u01`, key =
    * event_id·B + b), so both engines reproduce the identical resample.
    * Replica means are exact weighted-cents ratios, fx6-quantized for the
    * exact 2.5%/97.5% order statistics over the B replicate means. The
    * explode is a narrow ×B fan-out collapsing map-side into (type, b)
    * partials — nothing corpus-sized shuffles.
    */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val u = graft.functions.DetRand.u01(col("event_id") * BootstrapB + col("b"), 7)
    val weight = PoissonCum.zipWithIndex.foldRight(lit(PoissonCum.size): Column) {
      case ((p, k), elseC) => when(u < p, k).otherwise(elseC)
    }
    val reps = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("c"))
      .select(col("event_type"), col("event_id"), col("c"),
        explode(sequence(lit(0), lit(BootstrapB - 1))).as("b"))
      .withColumn("w", weight.cast("long"))
      .groupBy("event_type", "b")
      .agg(sum(col("w") * col("c")).as("swc"), sum(col("w")).as("sw"))
      .withColumn("mean_fx",
        floor(col("swc").cast("double") * 1e6 / col("sw").cast("double") + 0.5).cast("long"))
    val wRank = Window.partitionBy("event_type").orderBy("mean_fx")
    reps.withColumn("rn", row_number().over(wRank).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_reps"),
        r6(max(when(col("rn") === math.ceil(0.025 * BootstrapB).toLong, col("mean_fx")))
          .cast("double") / 1e8).as("ci_lo"),
        r6(max(when(col("rn") === math.ceil(0.975 * BootstrapB).toLong, col("mean_fx")))
          .cast("double") / 1e8).as("ci_hi"))
  }

  def bootstrapCiOracle: String = {
    val u = graft.functions.DetRand.sqlU01(s"event_id*$BootstrapB + b.b", 7)
    val weight = PoissonCum.zipWithIndex.foldRight(PoissonCum.size.toString) {
      case ((p, k), elseS) => s"CASE WHEN ($u) < ${sqlD(p)} THEN $k ELSE $elseS END"
    }
    s"""WITH reps AS (
       |  SELECT event_type, b.b,
       |         CAST(sum(CAST(($weight) AS BIGINT) * CAST(floor(value*1e2 + 0.5) AS BIGINT)) AS BIGINT) AS swc,
       |         CAST(sum(CAST(($weight) AS BIGINT)) AS BIGINT) AS sw
       |  FROM events CROSS JOIN range(0, $BootstrapB) b(b)
       |  GROUP BY 1, 2
       |), means AS (
       |  SELECT event_type,
       |         CAST(floor(CAST(swc AS DOUBLE)*1e6/CAST(sw AS DOUBLE) + 0.5) AS BIGINT) AS mean_fx
       |  FROM reps
       |), ranked AS (
       |  SELECT event_type, mean_fx,
       |         row_number() OVER (PARTITION BY event_type ORDER BY mean_fx) AS rn
       |  FROM means
       |)
       |SELECT event_type, count(*) AS n_reps,
       |       ${sqlR6(s"CAST(max(CASE WHEN rn = ${math.ceil(0.025 * BootstrapB).toLong} THEN mean_fx END) AS DOUBLE)/1e8")} AS ci_lo,
       |       ${sqlR6(s"CAST(max(CASE WHEN rn = ${math.ceil(0.975 * BootstrapB).toLong} THEN mean_fx END) AS DOUBLE)/1e8")} AS ci_hi
       |FROM ranked GROUP BY 1 ORDER BY event_type""".stripMargin
  }

  // ---------------- NDCG ----------------

  /** NDCG cutoff. */
  val NdcgK = 10

  /** Per-day NDCG@[[NdcgK]] of the value-score ranking against binary
    * purchase relevance — the position-weighted companion to [[auc]] (AUC
    * weights all pair inversions equally; NDCG concentrates on the top of
    * the list, which is what a serving surface actually shows). Ranking by
    * (cents DESC, event_id) is a total order, so both engines rank the
    * identical list; the per-position discount 1/log2(i+1) enters as an
    * fx9-quantized term per HIT, making DCG and the ideal DCG exact BIGINT
    * sums; days with no positive have no NDCG and are excluded (same stance
    * as the AUC guard).
    */
  def ndcg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("day").orderBy(col("x").desc, col("event_id").asc)
    val ranked = Tables.events(spark, dir)
      .select(col("ts").cast("date").as("day"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("x"),
        col("event_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .withColumn("i", row_number().over(w).cast("long"))
    val gain = fx9(lit(1.0) / log(2.0, col("i").cast("double") + 1.0))
    val dcg = ranked.filter(col("i") <= NdcgK)
      .groupBy("day")
      .agg(sum(when(col("y") === 1L, gain).otherwise(lit(0L))).as("dcg_fx"))
    val wIdeal = Window.partitionBy("day").orderBy(col("y").desc, col("x").desc, col("event_id").asc)
    val ideal = ranked.withColumn("i", row_number().over(wIdeal).cast("long"))
      .filter(col("i") <= NdcgK)
      .groupBy("day")
      .agg(sum(when(col("y") === 1L, gain).otherwise(lit(0L))).as("idcg_fx"),
        sum(col("y")).as("n_pos_topk"))
    dcg.join(ideal, "day")
      .filter(col("idcg_fx") > 0L)
      .select(col("day"), col("n_pos_topk"),
        r6(col("dcg_fx").cast("double") / col("idcg_fx").cast("double")).as("ndcg"))
  }

  def ndcgOracle: String = {
    val gain = sqlFx9("1.0e0 / log2(CAST(i AS DOUBLE) + 1.0e0)")
    s"""WITH base AS (
       |  SELECT CAST(ts AS DATE) AS day, CAST(floor(value*1e2 + 0.5) AS BIGINT) AS x,
       |         event_id, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
       |  FROM events
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY day ORDER BY x DESC, event_id ASC) AS i
       |  FROM base
       |), dcg AS (
       |  SELECT day, CAST(sum(CASE WHEN y = 1 THEN $gain ELSE 0 END) AS BIGINT) AS dcg_fx
       |  FROM ranked WHERE i <= $NdcgK GROUP BY 1
       |), ideal0 AS (
       |  SELECT *, row_number() OVER (PARTITION BY day ORDER BY y DESC, x DESC, event_id ASC) AS i
       |  FROM base
       |), ideal AS (
       |  SELECT day, CAST(sum(CASE WHEN y = 1 THEN $gain ELSE 0 END) AS BIGINT) AS idcg_fx,
       |         CAST(sum(y) AS BIGINT) AS n_pos_topk
       |  FROM ideal0 WHERE i <= $NdcgK GROUP BY 1
       |)
       |SELECT d.day, i.n_pos_topk,
       |       ${sqlR6("CAST(d.dcg_fx AS DOUBLE)/CAST(i.idcg_fx AS DOUBLE)")} AS ndcg
       |FROM dcg d JOIN ideal i USING (day)
       |WHERE i.idcg_fx > 0 ORDER BY day""".stripMargin
  }

  // ---------------- behavioral user similarity ----------------

  /** Neighbors reported per user. */
  val UserSimTopK = 5

  /** Behavioral user similarity — "users like you" from the event log alone:
    * each user's event-type count vector (the simplest behavioral
    * embedding), cosine similarity via exact integer dot products, top
    * [[UserSimTopK]] neighbors per QUERY user. This is the DECLARED
    * brute-force rung ([[userSimilarityBlocked]] is the production form),
    * and like `ann_bruteforce_topk` its QUERY side is capped: exact scores
    * for a deterministic md5-ordered sample of ≤ [[UserSimRecallMaxQ]] users
    * against the FULL corpus — one-sided sampling keeps ground truth exact
    * per query while the cost stays linear in corpus size (the uncapped
    * all-users form measured 140× for 10× data at the sf1 rehearsal: pairs
    * are inherently quadratic). At and below the cap (including the driver's
    * sf0.01 gate) every user is a query. Determinism: dot and norms² are
    * exact BIGINTs; the only double is the final cosine, r6-rounded with an
    * id tiebreak.
    */
  def userSimilarity(spark: SparkSession, dir: String): DataFrame = {
    // densify each user's type-count vector with pivot (the internal distinct
    // collect is bounded by the type vocabulary — the CMS-probe stance). The
    // first cut joined the count table on event_type: ~5 distinct join keys
    // collapse a shuffle join to 5 straggler tasks, and the users²×types
    // intermediate re-aggregates to users² — measured 8.0 s at sf0.1 vs
    // 2-3 s for this single-pass form (pairs materialize once, dot/norms are
    // an inline literal fold, the ann_bruteforce crossJoin(broadcast) shape).
    val vecs = Tables.events(spark, dir)
      .groupBy("user_id").pivot("event_type").agg(count(lit(1)))
      .na.fill(0L)
      .localCheckpoint(eager = true) // one user-sized table feeds both sides
    val types = vecs.columns.filterNot(_ == "user_id").sorted
    val qsel = vecs.select(col("user_id"))
      .withColumn("h", conv(substring(
        md5(concat(lit("usq:"), col("user_id").cast("string"))), 1, 7), 16, 10)
        .cast("long"))
      .orderBy("h", "user_id").limit(UserSimRecallMaxQ)
      .select("user_id")
    val a = vecs.join(broadcast(qsel), Seq("user_id"))
      .select(col("user_id").as("ua") +: types.map(t => col(t).as(s"a_$t")): _*)
    val b = vecs.select(col("user_id").as("ub") +: types.map(t => col(t).as(s"b_$t")): _*)
    val dot = types.map(t => col(s"a_$t") * col(s"b_$t")).reduce(_ + _)
    val n2a = types.map(t => col(s"a_$t") * col(s"a_$t")).reduce(_ + _)
    val n2b = types.map(t => col(s"b_$t") * col(s"b_$t")).reduce(_ + _)
    // broadcast the BOUNDED side: `a` is the ≤ UserSimRecallMaxQ query panel
    // (plan-time-capped by the limit above); `b` is the full per-user pivot,
    // which grows with corpus size and must stay on the scanned side or the
    // broadcast OOMs at 100× users (VERDICT r8 finding #1).
    val scored = b.crossJoin(broadcast(a))
      .filter(col("ua") =!= col("ub"))
      // drop zero-overlap pairs (dot = 0): the oracle's inner join on
      // event_type never produces them, and on sparse data a flood of
      // cos = 0 rows would otherwise fill the top-k with ties the oracle
      // doesn't have (ADVICE r7). Counts are positive, so dot > 0 iff the
      // two users share at least one event type — exactly the oracle's
      // pair space.
      .filter(dot > 0L)
      .withColumn("cos", r6(dot.cast("double") /
        sqrt(n2a.cast("double") * n2b.cast("double"))))
    val w = Window.partitionBy("ua").orderBy(desc("cos"), asc("ub"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= UserSimTopK)
      .select(col("ua").as("user_id"), col("rank"), col("ub").as("similar_user"), col("cos"))
  }

  def userSimilarityOracle: String =
    s"""WITH cnt AS (
       |  SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
       |), qsel AS (
       |  SELECT user_id FROM (
       |    SELECT user_id,
       |           ('0x' || substr(md5('usq:' || CAST(user_id AS VARCHAR)), 1, 7))::BIGINT AS h
       |    FROM (SELECT DISTINCT user_id FROM cnt)
       |  ) ORDER BY h, user_id LIMIT $UserSimRecallMaxQ
       |), norms AS (
       |  SELECT user_id, CAST(sum(n*n) AS BIGINT) AS nrm2 FROM cnt GROUP BY 1
       |), dots AS (
       |  SELECT a.user_id AS ua, b.user_id AS ub, CAST(sum(a.n*b.n) AS BIGINT) AS dot
       |  FROM cnt a JOIN cnt b ON a.event_type = b.event_type AND a.user_id <> b.user_id
       |  WHERE a.user_id IN (SELECT user_id FROM qsel)
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT d.ua, d.ub,
       |         ${sqlR6("CAST(d.dot AS DOUBLE)/sqrt(CAST(na.nrm2 AS DOUBLE)*CAST(nb.nrm2 AS DOUBLE))")} AS cos
       |  FROM dots d JOIN norms na ON na.user_id = d.ua JOIN norms nb ON nb.user_id = d.ub
       |)
       |SELECT ua AS user_id, CAST(rank AS INT) AS rank, ub AS similar_user, cos
       |FROM (SELECT *, row_number() OVER (PARTITION BY ua ORDER BY cos DESC, ub ASC) AS rank
       |      FROM scored)
       |WHERE rank <= $UserSimTopK ORDER BY user_id, rank""".stripMargin

  // ---------------- blocked behavioral similarity (SRP bands) ----------------

  /** SRP band count / max bits per band for [[userSimilarityBlocked]]: a pair
    * is a candidate when ANY band matches (the OR-of-ANDs S-curve of the
    * MinHash banding in Dedup). Bits per band ADAPT to corpus size — the sf1
    * scale rehearsal measured the fixed-2-bit form at 130× cost for 10× data:
    * 12 static band keys mean bucket populations (and so candidate PAIRS)
    * grow quadratically with user count. With nbits = ⌈log2(users/32)⌉ the
    * expected bucket stays ~[[UserSimTargetBucket]] users and candidates per
    * band stay ~32·users — linear. The threshold chain below is pure integer
    * comparison (no cross-engine log2 ulp risk at power-of-two boundaries).
    */
  val UserSimBands = 3
  /** Ceiling on adaptive bits per band. 16 bits keeps the expected bucket at
    * [[UserSimTargetBucket]] users up to ~2M users; the r8 ceiling of 8
    * saturated at 8k users and the sf10 rehearsal (150k users) measured the
    * saturated form at 128× cost for 100× data — every bucket held ~586
    * users and candidates went quadratic again, the exact failure the
    * adaptive nbits exists to prevent. The ceiling is a sandbox bound, not a
    * design constant: at larger corpora raise it with log2(users/32).
    */
  val UserSimMaxBits = 16
  val UserSimTargetBucket = 32
  /** Sorted-neighborhood cell width inside a bucket: each user pairs only
    * with users within W/2 positions of the direction-proxy sort (two
    * half-offset W-cell grids — see [[userSimilarityBlocked]]). Candidates
    * are ≤ ~2·W per user per band at ANY bucket size, which is what keeps
    * the concentrated-center buckets from going quadratic. 64 covers the
    * sf0.01 population's largest bucket whole, so the driver gate exercises
    * the full-pairing regime too.
    */
  val UserSimSortWindow = 64

  /** nbits = clamp(⌈log2(n/32)⌉, 2, [[UserSimMaxBits]] = 16) as
    * (threshold, bits) pairs: bits = k for n ≤ 32·2^k, else the ceiling.
    */
  private val userSimBitThresholds: Seq[(Long, Int)] =
    (2 until UserSimMaxBits).map(k => (UserSimTargetBucket.toLong << k, k))

  /** Dev-audit accessor: the (user_id, band, bkey) frame the blocked
    * similarity joins on, for bucket-distribution measurement
    * ([[graft.SimBlockAudit]]).
    */
  private[graft] def userSimBandsDebug(spark: SparkSession, dir: String): DataFrame =
    bandsOfSigs(userSimParts(spark, dir)._2)

  private def bandsOfSigs(sigs: DataFrame): DataFrame =
    sigs.select(col("user_id"), col("dirp"),
      explode(array((0 until UserSimBands).map(b =>
        struct(lit(b).as("band"), col(s"k$b").as("bkey"))): _*)).as("bk"))
      .select(col("user_id"), col("dirp"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))

  /** (cnt, sigs): the checkpointed (user, type, n) counts and the SRP band
    * signatures (user_id, nrm2, k0..k{bands-1}). Extracted so the audit tool
    * and the blocked operator share one construction. */
  private def userSimParts(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.functions.DetRand
    val nPlanes = UserSimBands * UserSimMaxBits
    // one tiny (user, type, n) table feeds projection, blocking AND scoring;
    // checkpointed so the self-joins below share one lineage-free copy
    val cnt = Tables.events(spark, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = true)
    val th = conv(substring(md5(col("event_type")), 1, 7), 16, 10)
      .cast("long").cast("double")
    def coef(p: Int): Column =
      when(DetRand.u01(th, p) >= 0.5, 1L).otherwise(-1L)
    val proj = cnt.groupBy("user_id").agg(
      sum(col("n") * col("n")).as("nrm2"),
      sum(col("n")).as("sn") +: count(lit(1)).as("kt") +:
        (0 until nPlanes).flatMap(p => Seq(
          sum(col("n") * coef(p)).as(s"a$p"), sum(coef(p)).as(s"c$p"))): _*)
    // corpus-adaptive bits per band: a 1-row broadcast, so the SAME plan
    // serves every scale (no driver-side collect, no re-registration)
    val nu = cnt.agg(countDistinct(col("user_id")).as("nu"))
    val nbits = userSimBitThresholds
      .foldRight(lit(UserSimMaxBits): Column) { case ((thr, k), acc) =>
        when(col("nu") <= thr, k).otherwise(acc)
      }
    def centered(p: Int): Column =
      col("kt") * col(s"a$p") - col("sn") * col(s"c$p")
    def bit(p: Int): Column = when(centered(p) >= 0L, 1L).otherwise(0L)
    // key = Σ_{i < nbits} bit_i · 2^(nbits−1−i): pow's exponent stays below
    // UserSimMaxBits = 16, where the double result is exact
    def bandKey(b: Int): Column = (0 until UserSimMaxBits)
      .map(i => when(lit(i) < col("nbits"),
        bit(b * UserSimMaxBits + i) *
          pow(lit(2.0), (col("nbits") - 1 - i).cast("double")).cast("long"))
        .otherwise(0L))
      .reduce(_ + _)
    // dirp: a CONTINUOUS direction proxy for the sorted-neighborhood stage —
    // the first plane's centered projection normalized by the vector norm
    // (scale-free, so users with similar PROFILES sort adjacently regardless
    // of activity volume); r6-rounded with a user_id tiebreak so both
    // engines order identically
    val dirp = r6(centered(0).cast("double") / sqrt(col("nrm2").cast("double")))
    val sigs = proj.crossJoin(broadcast(nu)).withColumn("nbits", nbits)
      .select(
        col("user_id") +: col("nrm2") +: dirp.as("dirp") +:
          (0 until UserSimBands).map(b => bandKey(b).as(s"k$b")): _*)
      .localCheckpoint(eager = true)
    (cnt, sigs)
  }

  /** Blocked twin of [[userSimilarity]] — the shape that survives 100 TB
    * (VERDICT r7 flagged the brute force as the one registered plan that
    * doesn't): candidate pairs come from sign-random-projection (SimHash)
    * band keys over the type-count vectors, not a crossJoin. Each user's
    * vector is projected onto [[UserSimBands]] bands of corpus-adaptive
    * nbits = ⌈log2(users/[[UserSimTargetBucket]])⌉ deterministic
    * hyperplanes (coefficients ±1 drawn from the DetRand stream keyed by the
    * md5 type digest, so both engines derive identical planes without
    * enumerating the type vocabulary). Vectors are CENTERED before the sign
    * is taken — raw count vectors are near-uniform here, so sign(Σ nₜ·cₜ) is
    * dominated by the user-independent Σ cₜ and every user lands in one
    * bucket (measured: 142/150 per band, pruning nothing). The centered
    * projection Σ (nₜ − S/k)·cₜ is evaluated exactly as the integer
    * k·Σ nₜcₜ − S·Σ cₜ (S = Σ nₜ, k = #present types — no rationals, both
    * engines agree bit-for-bit). The sign bits group into band keys;
    * WITHIN each band bucket, members are ordered by the continuous
    * direction proxy and paired only inside [[UserSimSortWindow]]-cell
    * sorted-neighborhood grids (see the inline note below — concentrated
    * 5-type profiles make pure band keys saturate at ~100k users), and only
    * candidates get exact dot/cosine scoring + per-user top-k.
    * Users² never materializes: the shuffle carries (band, key, cell)
    * groups, the scoring join carries |candidates|×shared-types rows, and
    * the exact [[userSimilarity]] is demoted to the declared ground-truth
    * rung that [[userSimilarityRecallQ]] measures this against — the
    * ann_bruteforce/ann_lsh stance.
    */
  def userSimilarityBlocked(spark: SparkSession, dir: String): DataFrame = {
    val (cnt, sigs) = userSimParts(spark, dir)
    // Sorted-neighborhood WITHIN each bucket (the SemDeDup move from
    // dedup_semantic): with a ~5-type vocabulary the profile vectors live on
    // a 4-simplex and CONCENTRATE, so past ~100k users the dense center
    // collapses into a few giant buckets NO bit width can split — the sf10
    // rehearsal measured the full-bucket join at a disk-filling candidate
    // shuffle even at 13 bits/band, and a blunt skip-hot-buckets cap
    // measured recall 0.10 (it throws the whole center away). Instead, each
    // bucket's members are ORDERED by the continuous direction proxy `dirp`
    // and paired only inside [[UserSimSortWindow]]-sized cells of two
    // half-offset grids, so any two users within W/2 positions co-cell at
    // least once. Candidates = O(users × W × bands) — linear at any corpus —
    // while near neighbors (similar direction ⇒ adjacent sort positions)
    // stay paired. The recall twin measures exactly what the window costs.
    val W = UserSimSortWindow
    val wBucket = Window.partitionBy("band", "bkey").orderBy("dirp", "user_id")
    val ranked = bandsOfSigs(sigs)
      .withColumn("rn", row_number().over(wBucket) - 1)
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy("band", "bkey")))
    // a bucket no bigger than W fits ONE cell of grid 0 whole, and grid 1's
    // pairs are then a subset — the half-offset grid and its extra explode
    // rows are pure overhead there (the r9 +0.7 s at sf0.1, where EVERY
    // bucket is ≤ W). Emitting the single cell produces the IDENTICAL
    // candidate set (the oracle keeps both grids: its grid-1 pairs dedup
    // away), so outputs are unchanged at every scale.
    val grids = when(col("bsz") <= W,
        array(struct(lit(0).as("grid"), lit(0L).as("cell"))))
      .otherwise(array(
        struct(lit(0).as("grid"), (col("rn") / lit(W)).cast("long").as("cell")),
        struct(lit(1).as("grid"), ((col("rn") + lit(W / 2)) / lit(W)).cast("long").as("cell"))))
    val cells = ranked.select(col("user_id"), col("band"), col("bkey"),
      explode(grids).as("g"))
      .select(col("user_id"), col("band"), col("bkey"),
        col("g.grid").as("grid"), col("g.cell").as("cell"))
    val cand = cells.select(col("user_id").as("ua"), col("band"), col("bkey"),
        col("grid"), col("cell"))
      .join(cells.select(col("user_id").as("ub"), col("band"), col("bkey"),
        col("grid"), col("cell")), Seq("band", "bkey", "grid", "cell"))
      .filter(col("ua") =!= col("ub"))
      .select("ua", "ub").distinct()
    // exact integer dots for candidates only: inner join on event_type keeps
    // shared types (dot > 0 by construction — same pair space as the exact op)
    val dots = cand
      .join(cnt.select(col("user_id").as("ua"), col("event_type"), col("n").as("na")),
        Seq("ua"))
      .join(cnt.select(col("user_id").as("ub"), col("event_type"), col("n").as("nb")),
        Seq("ub", "event_type"))
      .groupBy("ua", "ub").agg(sum(col("na") * col("nb")).as("dot"))
    // no broadcast hint on norms: it has one row per USER, so its size scales
    // with the base table (VERDICT r8 finding #2). AQE picks broadcast when
    // the runtime size is actually small; at scale this stays a shuffle join
    // keyed by the already-bounded candidate set.
    val norms = sigs.select(col("user_id"), col("nrm2"))
    val scored = dots
      .join(norms.select(col("user_id").as("ua"), col("nrm2").as("n2a")), "ua")
      .join(norms.select(col("user_id").as("ub"), col("nrm2").as("n2b")), "ub")
      .withColumn("cos", r6(col("dot").cast("double") /
        sqrt(col("n2a").cast("double") * col("n2b").cast("double"))))
    val w = Window.partitionBy("ua").orderBy(desc("cos"), asc("ub"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= UserSimTopK)
      .select(col("ua").as("user_id"), col("rank"), col("ub").as("similar_user"), col("cos"))
  }

  def userSimilarityBlockedOracle: String = {
    import graft.functions.DetRand
    val nPlanes = UserSimBands * UserSimMaxBits
    def coefSql(p: Int): String =
      s"(CASE WHEN ${DetRand.sqlU01("CAST(h AS DOUBLE)", p)} >= 0.5 THEN 1 ELSE -1 END)"
    val projCols = (0 until nPlanes)
      .map(p => s"CAST(sum(n * ${coefSql(p)}) AS BIGINT) AS a$p,\n" +
        s"         CAST(sum(${coefSql(p)}) AS BIGINT) AS c$p")
      .mkString(",\n         ")
    val nbitsSql = userSimBitThresholds.foldRight(s"$UserSimMaxBits") {
      case ((thr, k), acc) => s"CASE WHEN nu <= $thr THEN $k ELSE $acc END"
    }
    val keyCols = (0 until UserSimBands).map { b =>
      val bits = (0 until UserSimMaxBits).map { i =>
        val p = b * UserSimMaxBits + i
        s"(CASE WHEN $i < nbits THEN (CASE WHEN kt*a$p - sn*c$p >= 0 THEN 1 ELSE 0 END)" +
          s"*CAST(pow(2.0, nbits - 1 - $i) AS BIGINT) ELSE 0 END)"
      }.mkString(" + ")
      s"($bits) AS k$b"
    }.mkString(",\n         ")
    val dirpSql = sqlR6("CAST(kt*a0 - sn*c0 AS DOUBLE) / sqrt(CAST(nrm2 AS DOUBLE))")
    val bandUnion = (0 until UserSimBands)
      .map(b => s"SELECT user_id, dirp, $b AS band, k$b AS bkey FROM sig")
      .mkString("\n  UNION ALL ")
    val W = UserSimSortWindow
    s"""WITH cnt AS (
       |  SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
       |), hcnt AS (
       |  SELECT user_id, event_type, n,
       |         ('0x' || substr(md5(event_type), 1, 7))::BIGINT AS h
       |  FROM cnt
       |), proj AS (
       |  SELECT user_id, CAST(sum(n*n) AS BIGINT) AS nrm2,
       |         CAST(sum(n) AS BIGINT) AS sn, count(*) AS kt,
       |         $projCols
       |  FROM hcnt GROUP BY 1
       |), nb AS (
       |  SELECT $nbitsSql AS nbits FROM (SELECT count(*) AS nu FROM proj)
       |), sig AS (
       |  SELECT user_id, nrm2, $dirpSql AS dirp,
       |         $keyCols
       |  FROM proj CROSS JOIN nb
       |), bands AS (
       |  $bandUnion
       |), ranked AS (
       |  SELECT user_id, band, bkey,
       |         row_number() OVER (PARTITION BY band, bkey ORDER BY dirp, user_id) - 1 AS rn
       |  FROM bands
       |), cells AS (
       |  SELECT user_id, band, bkey, 0 AS grid, rn // $W AS cell FROM ranked
       |  UNION ALL
       |  SELECT user_id, band, bkey, 1 AS grid, (rn + ${W / 2}) // $W AS cell FROM ranked
       |), cand AS (
       |  SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
       |  FROM cells a JOIN cells b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.grid = b.grid AND a.cell = b.cell
       |  WHERE a.user_id <> b.user_id
       |), dots AS (
       |  SELECT c.ua, c.ub, CAST(sum(a.n * b.n) AS BIGINT) AS dot
       |  FROM cand c
       |  JOIN cnt a ON a.user_id = c.ua
       |  JOIN cnt b ON b.user_id = c.ub AND b.event_type = a.event_type
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT d.ua, d.ub,
       |         ${sqlR6("CAST(d.dot AS DOUBLE)/sqrt(CAST(pa.nrm2 AS DOUBLE)*CAST(pb.nrm2 AS DOUBLE))")} AS cos
       |  FROM dots d JOIN proj pa ON pa.user_id = d.ua JOIN proj pb ON pb.user_id = d.ub
       |)
       |SELECT ua AS user_id, CAST(rank AS INT) AS rank, ub AS similar_user, cos
       |FROM (SELECT *, row_number() OVER (PARTITION BY ua ORDER BY cos DESC, ub ASC) AS rank
       |      FROM scored)
       |WHERE rank <= $UserSimTopK ORDER BY user_id, rank""".stripMargin
  }

  /** Query-sample cap for the recall measurement: the exact rung it compares
    * against is inherently quadratic, so past this many users recall is
    * measured on a deterministic md5-ordered sample of QUERY users against
    * the FULL candidate corpus (one-sided sampling — the standard recall
    * methodology at scale: ground truth per sampled query is still exact).
    * At and below the cap (which includes the driver's sf0.01 gate) every
    * user is a query and the result is the full-population recall.
    */
  val UserSimRecallMaxQ = 512

  /** Recall of the blocked top-k against the exact brute force — the
    * measurement that makes the band/bit parameterization a
    * number instead of an assertion, mirroring `ann_*_recall`. One row per
    * sampled query user plus a grand-total row (user_id = −1); recall = hit
    * fraction of the exact top-[[UserSimTopK]] list. The exact side is
    * recomputed here restricted to the [[UserSimRecallMaxQ]]-user query
    * sample (sf1 rehearsal: the unrestricted exact rung alone cost 10+
    * minutes at 15 k users), in the same cnt-join formulation as the
    * [[userSimilarity]] oracle.
    */
  def userSimilarityRecallQ(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.events(spark, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = true)
    val qsel = cnt.select("user_id").distinct()
      .withColumn("h", conv(substring(
        md5(concat(lit("usq:"), col("user_id").cast("string"))), 1, 7), 16, 10)
        .cast("long"))
      .orderBy("h", "user_id").limit(UserSimRecallMaxQ)
      .select("user_id").localCheckpoint(eager = true)
    val dots = cnt.join(broadcast(qsel), Seq("user_id"))
      .select(col("user_id").as("ua"), col("event_type"), col("n").as("na"))
      .join(cnt.select(col("user_id").as("ub"), col("event_type"), col("n").as("nb")),
        Seq("event_type"))
      .filter(col("ua") =!= col("ub"))
      .groupBy("ua", "ub").agg(sum(col("na") * col("nb")).as("dot"))
    val norms = cnt.groupBy("user_id").agg(sum(col("n") * col("n")).as("nrm2"))
      .localCheckpoint(eager = true)
    val scored = dots
      .join(norms.select(col("user_id").as("ua"), col("nrm2").as("n2a")), "ua")
      .join(norms.select(col("user_id").as("ub"), col("nrm2").as("n2b")), "ub")
      .withColumn("cos", r6(col("dot").cast("double") /
        sqrt(col("n2a").cast("double") * col("n2b").cast("double"))))
    val w = Window.partitionBy("ua").orderBy(desc("cos"), asc("ub"))
    val bf = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= UserSimTopK)
      .select(col("ua").as("user_id"), col("ub").as("similar_user"), lit(1).as("src"))
      .localCheckpoint(eager = true)
    val ap = userSimilarityBlocked(spark, dir)
      .join(broadcast(qsel), Seq("user_id"))
      .select(col("user_id"), col("similar_user"), lit(2).as("src"))
      .localCheckpoint(eager = true)
    val hits = bf.unionByName(ap)
      .groupBy("user_id", "similar_user")
      .agg(max(when(col("src") === 1, 1).otherwise(0)).as("in_bf"),
        max(when(col("src") === 2, 1).otherwise(0)).as("hit"))
      .filter(col("in_bf") === 1)
    hits.rollup("user_id")
      .agg(r6(avg(col("hit"))).as("recall"),
        sum(col("hit")).cast("long").as("n_matched"),
        count(lit(1)).as("n"))
      .select(coalesce(col("user_id"), lit(-1L)).as("user_id"),
        col("recall"), col("n_matched"), col("n"))
  }

  def userSimilarityRecallOracle: String =
    s"""WITH qcnt AS (
       |  SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
       |), qsel AS (
       |  SELECT user_id FROM (
       |    SELECT user_id,
       |           ('0x' || substr(md5('usq:' || CAST(user_id AS VARCHAR)), 1, 7))::BIGINT AS h
       |    FROM (SELECT DISTINCT user_id FROM qcnt)
       |  ) ORDER BY h, user_id LIMIT $UserSimRecallMaxQ
       |), qnorms AS (
       |  SELECT user_id, CAST(sum(n*n) AS BIGINT) AS nrm2 FROM qcnt GROUP BY 1
       |), qdots AS (
       |  SELECT a.user_id AS ua, b.user_id AS ub, CAST(sum(a.n*b.n) AS BIGINT) AS dot
       |  FROM qcnt a JOIN qcnt b ON a.event_type = b.event_type AND a.user_id <> b.user_id
       |  WHERE a.user_id IN (SELECT user_id FROM qsel)
       |  GROUP BY 1, 2
       |), qscored AS (
       |  SELECT d.ua, d.ub,
       |         ${sqlR6("CAST(d.dot AS DOUBLE)/sqrt(CAST(na.nrm2 AS DOUBLE)*CAST(nb.nrm2 AS DOUBLE))")} AS cos
       |  FROM qdots d JOIN qnorms na ON na.user_id = d.ua JOIN qnorms nb ON nb.user_id = d.ub
       |), bf AS (
       |  SELECT ua AS user_id, ub AS similar_user
       |  FROM (SELECT *, row_number() OVER (PARTITION BY ua ORDER BY cos DESC, ub ASC) AS rank
       |        FROM qscored)
       |  WHERE rank <= $UserSimTopK
       |), ap AS (
       |  SELECT user_id, similar_user FROM (
       |$userSimilarityBlockedOracle
       |  ) WHERE user_id IN (SELECT user_id FROM qsel)
       |), tagged AS (
       |  SELECT user_id, similar_user, 1 AS src FROM bf
       |  UNION ALL SELECT user_id, similar_user, 2 AS src FROM ap
       |), hits AS (
       |  SELECT user_id, similar_user,
       |         max(CASE WHEN src = 1 THEN 1 ELSE 0 END) AS in_bf,
       |         max(CASE WHEN src = 2 THEN 1 ELSE 0 END) AS hit
       |  FROM tagged GROUP BY 1, 2
       |)
       |SELECT coalesce(user_id, -1) AS user_id,
       |       ${sqlR6("avg(hit)")} AS recall,
       |       CAST(sum(hit) AS BIGINT) AS n_matched,
       |       count(*) AS n
       |FROM hits WHERE in_bf = 1
       |GROUP BY ROLLUP (user_id)
       |ORDER BY user_id""".stripMargin

  /** Time-weighted average value (TWAP) per user-day — the bar the OHLC
    * `mean` column is known to misstate when sampling is irregular: each
    * observation holds until the next one, so its weight is the seconds
    * until the next event, and the day's TWAP is Σ value·Δt / (t_last −
    * t_first). Reported next to the unweighted mean so the gap between
    * them is the sampling-bias readout. Exact arithmetic end-to-end: the
    * weighted sum is BIGINT cents × epoch-seconds (≤ 2·10⁶ · 86400 per
    * term — no overflow at any row count since the span divisor is also
    * per-day), the final divisions are single IEEE ops. One window pass
    * partitioned by (user, day) — full parallelism, no global state.
    */
  def twap(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("date").as("day"),
        unix_timestamp(col("ts")).as("s"), col("event_id"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("c"))
    val w = Window.partitionBy("user_id", "day").orderBy("s", "event_id")
    ev.withColumn("s2", lead(col("s"), 1).over(w))
      .withColumn("cw", col("c") * (col("s2") - col("s")))
      .groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_events"),
        (max(col("s")) - min(col("s"))).as("span_s"),
        sum(col("cw")).as("twsum"), sum(col("c")).as("csum"))
      .filter(col("span_s") > 0)
      .select(col("user_id"), col("day"), col("n_events"), col("span_s"),
        r6(col("twsum").cast("double") / 1e2 / col("span_s").cast("double")).as("twap"),
        r6(col("csum").cast("double") / 1e2 / col("n_events").cast("double")).as("mean"))
  }

  def twapOracle: String =
    s"""WITH ev AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day,
       |         CAST(floor(epoch(ts)) AS BIGINT) AS s, event_id,
       |         CAST(floor(value*1e2 + 0.5) AS BIGINT) AS c
       |  FROM events
       |), st AS (
       |  SELECT user_id, day, s, c,
       |         lead(s) OVER (PARTITION BY user_id, day ORDER BY s, event_id) AS s2
       |  FROM ev
       |), g AS (
       |  SELECT user_id, day, count(*) AS n_events,
       |         max(s) - min(s) AS span_s,
       |         CAST(sum(c*(s2 - s)) AS BIGINT) AS twsum,
       |         CAST(sum(c) AS BIGINT) AS csum
       |  FROM st GROUP BY 1, 2
       |)
       |SELECT user_id, day, n_events, span_s,
       |       ${sqlR6("CAST(twsum AS DOUBLE)/1e2/CAST(span_s AS DOUBLE)")} AS twap,
       |       ${sqlR6("CAST(csum AS DOUBLE)/1e2/CAST(n_events AS DOUBLE)")} AS mean
       |FROM g WHERE span_s > 0 ORDER BY user_id, day""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_twap" -> ((s, d) => twap(s, d).orderBy("user_id", "day")),
    "events_user_similarity" -> ((s, d) => userSimilarity(s, d).orderBy("user_id", "rank")),
    "events_user_similarity_blocked" ->
      ((s, d) => userSimilarityBlocked(s, d).orderBy("user_id", "rank")),
    "events_user_similarity_recall" ->
      ((s, d) => userSimilarityRecallQ(s, d).orderBy("user_id")),
    "events_ndcg" -> ((s, d) => ndcg(s, d).orderBy("day")),
    "events_bootstrap_ci" -> ((s, d) => bootstrapCi(s, d).orderBy("event_type")),
    "events_winsorize" -> ((s, d) => winsorize(s, d).orderBy("event_type")),
    "events_session_position" -> ((s, d) => sessionPositionProfile(s, d).orderBy("pos")),
    "events_calibration" -> ((s, d) => calibration(s, d).orderBy("bin")),
    "events_auc" -> ((s, d) => auc(s, d).orderBy("day")),
    "events_score_lift" -> ((s, d) => scoreLift(s, d).orderBy("decile")),
    "events_heavy_hitters" -> ((s, d) => heavyHitters(s, d).orderBy("user_id")),
    "events_interval_union" -> ((s, d) => intervalUnion(s, d).orderBy("user_id")),
    "events_ohlc_bars" -> ((s, d) => ohlcBars(s, d).orderBy("event_type", "day")),
    "events_column_profile" -> ((s, d) => columnProfile(s, d).orderBy("col_name"))
  )

  def oracles: Map[String, String] = Map(
    "ts_twap" -> twapOracle,
    "events_user_similarity" -> userSimilarityOracle,
    "events_user_similarity_blocked" -> userSimilarityBlockedOracle,
    "events_user_similarity_recall" -> userSimilarityRecallOracle,
    "events_ndcg" -> ndcgOracle,
    "events_bootstrap_ci" -> bootstrapCiOracle,
    "events_winsorize" -> winsorizeOracle,
    "events_session_position" -> sessionPositionProfileOracle,
    "events_calibration" -> calibrationOracle,
    "events_auc" -> aucOracle,
    "events_score_lift" -> scoreLiftOracle,
    "events_heavy_hitters" -> heavyHittersOracle,
    "events_interval_union" -> intervalUnionOracle,
    "events_ohlc_bars" -> ohlcBarsOracle,
    "events_column_profile" -> columnProfileOracle
  )
}
