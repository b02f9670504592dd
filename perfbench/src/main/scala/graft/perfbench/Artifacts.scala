package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The session artifact builder graft keeps package-private, exposed to the
  * benchmark harness so set-up can build (and then hit) it by name. */
object Artifacts {
  def shingles(spark: SparkSession, dir: String): Unit =
    graft.operators.Dedup.docShingles(spark, dir)
}
