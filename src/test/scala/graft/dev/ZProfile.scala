package graft

import graft.sources.{FileSizing, ZOrder}
import org.apache.spark.sql.functions._

/** Dev profiler: phase split of the z-order write path (count gate, stats
  * pass, interleave+range-cut+write) at a given fixture dir — input for the
  * r10 "events_zorder_scan is 15× at sf10" item. Not part of the shipped
  * surface; fixture dir from args(0) like the other dev mains.
  */
object ZProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCpus, Some(dir))
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime; val r = f
      println(f"ZPROF $label ${(System.nanoTime - t0) / 1e9}%.2f s"); r
    }
    val ev = Tables.events(spark, dir)
    val cnt = time("count")(ev.count())
    println(s"ZPROF rows $cnt")
    val probs = (1 until 16).map(_.toDouble / 16).toArray
    val err = if (cnt <= ZOrder.ExactQuantileMaxRows) 0.0 else ZOrder.StatsEpsilon
    time(s"quantiles(err=$err)")(
      ev.select(col("user_id").cast("double").as("u"),
          unix_micros(col("ts")).cast("double").as("t"))
        .stat.approxQuantile(Array("u", "t"), probs, err))
    val nFiles = math.max(ZOrder.NumFiles,
      (FileSizing.bytesAt(spark, s"$dir/events.parquet") /
        FileSizing.TargetFileBytes).toInt)
    println(s"ZPROF nFiles $nFiles")
    val loc = "tmp/zprof_layout"
    time("zOrderTo(total)")(ZOrder.zOrderTo(ev, loc, nFiles))
    time("readback-agg")(
      spark.read.parquet(loc)
        .groupBy("event_type").count().collect())
    spark.stop()
  }
}
