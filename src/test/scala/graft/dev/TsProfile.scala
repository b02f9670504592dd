package graft

import graft.operators.EventsOps
import org.apache.spark.sql.functions._

/** Dev profiler: phase split of the ts_decompose chain (blocked series rank,
  * halo trend, DFT spectrum, top-K bins, inverse-DFT seasonality, final
  * recombine) at a given fixture dir — input for the r10 "ts_decompose is
  * unchanged at sf10 despite the blocked windows" investigation. Not part of
  * the shipped surface; fixture dir from args(0) like the other dev mains.
  */
object TsProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCpus, Some(dir))
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime; val r = f
      println(f"TSPROF $label ${(System.nanoTime - t0) / 1e9}%.2f s"); r
    }
    val ser = time("series(build+rank+materialize)")(
      EventsOps.series(spark, dir).localCheckpoint(true))
    val tr = time("trendedOf(halo MA)")(
      EventsOps.trendedOf(ser, "event_type").localCheckpoint(true))
    val spec = time("spectrumOf(DFT)")(
      EventsOps.spectrumOf(tr, "event_type").localCheckpoint(true))
    if (args.length > 1) println(EventsOps.spectrumOf(tr, "event_type")
      .queryExecution.executedPlan.toString.take(6000))
    time("decompose(full query, fresh)")(
      EventsOps.decompose(spark, dir)
        .select(xxhash64(col("event_type"), col("t"), col("value"), col("trend"),
          col("seasonality"), col("residual")).cast("double").as("h"))
        .agg(sum("h")).collect())
    println(s"TSPROF rows ser=${ser.count()} spec=${spec.count()}")
    // micro: raw throughput of the DFT term shape (trig + fx9 + 2-key agg),
    // 640M synthetic terms — isolates per-term cost from the join/explode
    if (args.length > 1) time("micro(640M trig+fx9 terms, range)")(
      spark.range(0L, 640000000L, 1L, 32)
        .select((col("id") % 5).as("g"), (col("id") % 64).cast("int").as("k"),
          (col("id") % 1000).cast("double").as("t"))
        .groupBy("g", "k")
        .agg(sum(floor(col("t") * cos(lit(6.28e-5) * col("k") * col("t")) * 1e6 + 0.5).cast("long")).as("re"),
          sum(floor(col("t") * sin(lit(6.28e-5) * col("k") * col("t")) * 1e6 + 0.5).cast("long")).as("im"))
        .agg(sum("re")).collect())
    // micro2: the REAL input (checkpointed trended frame) through the same
    // broadcast fan-out join + trig agg as spectrumOf — isolates the join
    // pipeline cost from spectrumOf's exact expressions
    lazy val freqs = tr.select("event_type", "n").distinct()
      .withColumn("k", explode(sequence(lit(1), lit(64)))).select("event_type", "k")
    if (args.length > 1) time("micro2(real join fan-out + trig agg)")(
      tr.join(freqs, "event_type")
        .groupBy("event_type", "k")
        .agg(sum(floor(col("detr") * cos(lit(6.28e-5) * col("k") * col("t")) * 1e6 + 0.5).cast("long")).as("re"))
        .agg(sum("re")).collect())
    spark.stop()
  }
}
