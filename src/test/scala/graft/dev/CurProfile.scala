package graft

import graft.operators.{Curation, Dedup, TextOps}
import org.apache.spark.sql.functions._

/** Dev profiler: phase split of the docs_curation_report chain (quality gate,
  * language-ID gate, exact-dedup window, near-dup demotion pairs, full
  * join + rollup) at a given fixture dir — input for the r10 `weak`:
  * docs_curation_report read 12.7× at sf100 for 10× data and the cause was
  * unprofiled (the sf100 host ran at loadavg 14–20, so contention/spill was
  * plausible but unproven). Not part of the shipped surface; fixture dir
  * from args(0) like the other dev mains.
  */
object CurProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCpus, Some(dir))

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[curprofile] $label%-22s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
      r
    }
    def drain(df: org.apache.spark.sql.DataFrame): Unit =
      df.select(xxhash64(df.columns.map(col): _*).cast("double").as("h"))
        .agg(sum("h")).collect()

    // phases, run coldest-first so each measures its own work (the shingle
    // artifact memoizes: the first minhash phase pays the materialization)
    time("quality")(drain(TextOps.quality(spark, dir)))
    time("langid")(drain(TextOps.langId(spark, dir)))
    time("exact_dedup")(drain(Dedup.exact(spark, dir)))
    time("minhash_pairs_cold")(drain(
      Dedup.minhashPairs(spark, dir).filter(col("jaccard") >= Dedup.ClusterJaccard)))
    time("minhash_pairs_warm")(drain(
      Dedup.minhashPairs(spark, dir).filter(col("jaccard") >= Dedup.ClusterJaccard)))
    time("full_report")(drain(Curation.curationReport(spark, dir)))
    time("full_report_again")(drain(Curation.curationReport(spark, dir)))
    spark.stop()
  }
}
