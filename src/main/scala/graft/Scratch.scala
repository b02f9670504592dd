package graft

/** Dev scratchpad + the documented smoke surface: runs the flagship
  * `SparkEntry.entry` on sf0.001 and prints the row count (see
  * .claude/skills/verify/SKILL.md §2 — driver t1 expects `ENTRY ROWS: <n>`).
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(2, None)
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY ROWS: $n")
    spark.stop()
  }
}
