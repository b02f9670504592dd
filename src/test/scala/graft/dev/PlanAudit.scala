package graft


/** Dev tool: print the formatted physical plan of selected registered queries
  * (args = query names; no args = a default set of recently-added ones). Used
  * to eyeball broadcast/pushdown/codegen shapes after adding an operator.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
      else Seq("ts_value_quantiles_scalable", "text_tfidf", "events_stratified_sample")
    val spark = GraftSession.local(GraftSession.envCpus, None)
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").explain("formatted")
    }
    spark.stop()
  }
}
