package graft

import org.apache.spark.sql.functions._

/** Dev audit: bucket-size distribution of the behavioral-similarity SRP
  * bands at a given fixture — prints per-band populated-bucket counts, the
  * top bucket sizes, and the implied candidate-pair volume Σ C(n,2). Input
  * for sizing the hot-bucket guard. Not part of the shipped surface.
  */
object SimBlockAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("tmp/sf10")
    val spark = GraftSession.local(GraftSession.envCpus, Some(dir))
    val bands = graft.operators.EvalOps.userSimBandsDebug(spark, dir)
    val sizes = bands.groupBy("band", "bkey").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    sizes.groupBy("band")
      .agg(count(lit(1)).as("n_buckets"), max("n").as("max_bucket"),
        sum(col("n") * (col("n") - 1) / 2).as("pairs"))
      .orderBy("band").show(10, truncate = false)
    sizes.orderBy(desc("n")).show(15, truncate = false)
    spark.stop()
  }
}
