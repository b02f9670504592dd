package graft

import graft.operators.{EventsOps, Relational, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev profiler: phase splits for the four 5-7×-per-decade queries the r10
  * verdict asked to attribute once (sort/spill-bound on the 32-core box vs a
  * plan defect): events_sessionize (6.5×), lineitem_leadtime_sla (7.1×),
  * ts_spectrum (5.6×), text_seq_pack_exact (4.9×). Each query splits into
  * scan / shuffle+window / full so the decade ratio lands on a named phase.
  * Not part of the shipped surface; fixture dir from args(0) like the other
  * dev mains.
  */
object ShufProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCpus, Some(dir))

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime; val r = f
      println(f"SHUFPROF $label%-28s ${(System.nanoTime - t0) / 1e9}%8.1f s"); r
    }
    // cheap drain: count + a hash-sum of one derived column, so the phase's
    // own work runs but the drain never dominates a wide fact-scale frame
    // hash cast to double before the sum: a BIGINT sum of xxhash64 values
    // overflows 2^63 under ANSI mode (same hazard Bench documents)
    def drain(df: DataFrame, c: String): Unit =
      df.agg(count(lit(1)), sum(xxhash64(col(c)).cast("double"))).collect()

    // -- events_sessionize: scan → user_id shuffle + lag/runsum window → agg
    val evProj = Tables.events(spark, dir).select("user_id", "ts", "event_id", "value")
    time("sess.scan")(drain(evProj, "value"))
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapMin = (col("ts").cast("double") - col("prev_ts").cast("double")) / 60.0
    val windowed = evProj
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull || gapMin > 30.0, 1).otherwise(0))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    time("sess.window")(drain(windowed, "session_seq"))
    time("sess.full")(drain(Relational.sessionize(spark, dir), "session_value"))

    // -- lineitem_leadtime_sla: orderkey join → (flag, days) grid counts → full
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")),
        "l_orderkey")
      .select(col("l_returnflag"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("days"))
    time("lead.join")(drain(li, "days"))
    time("lead.grid")(drain(
      li.groupBy("l_returnflag", "days").agg(count(lit(1)).as("c")), "c"))
    time("lead.full")(drain(Relational.leadtimeSla(spark, dir), "p99_days"))

    // -- ts_spectrum(user_id): trended frame (rank + halo MA) → fused DFT agg
    time("spec.trended")(drain(
      EventsOps.trended(spark, dir, "user_id"), "detr"))
    time("spec.full")(drain(
      EventsOps.spectrum(spark, dir, "user_id"), "amplitude"))

    // -- text_seq_pack_exact: driver count → shard shuffle+sort+serial walk
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
    time("pack.count")(base.count())
    time("pack.scan")(drain(base, "n_tokens"))
    time("pack.full")(drain(TextOps.seqPackExact(spark, dir), "bin_id"))
    spark.stop()
  }
}
