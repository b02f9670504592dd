package graft
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.envCpus, None)
    // dir from SPARK_GRAFT_SF_DIR (args stay query names), default sf0.01
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "tpch_q1", "tpch_q5", "diff_sample_cond", "diff_sample_inpaint",
      "ts_decompose_dim", "media_features", "dedup_minhash_sig", "gen_parity",
      "events_user_similarity_blocked", "events_calibration",
      "diff_forecast_rollout", "media_gif_frames")
    // SPARK_GRAFT_EXPLAIN_DIR: write each plan to <dir>/<name>.txt as well as
    // stdout (the sbt-shell pane truncates long multi-plan dumps)
    val outDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    outDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    names.foreach { n =>
      // registry names are [a-z0-9_]; reject anything else so a stray arg
      // can't path-escape SPARK_GRAFT_EXPLAIN_DIR (ADVICE r11)
      require(n.matches("[A-Za-z0-9_]+"), s"bad query name: $n")
      println(s"========== $n ==========")
      val plan = SparkEntry.queries(n)(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(plan)
      outDir.foreach(d => java.nio.file.Files.writeString(
        java.nio.file.Paths.get(d, s"$n.txt"), plan))
    }
    spark.stop()
  }
}
