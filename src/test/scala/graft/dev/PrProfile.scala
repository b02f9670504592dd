package graft

import org.apache.spark.sql.functions._

/** Dev profiler: phase split of graph_pagerank (edge build, per-iteration
  * cost) at a given fixture dir — input for the r10 "pagerank reads 110 s at
  * sf10 after the per-iteration checkpoint, vs 72.6 s lazy in r9"
  * investigation. Not part of the shipped surface; fixture dir from args(0).
  */
object PrProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCpus, Some(dir))
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime; val r = f
      println(f"PRPROF $label ${(System.nanoTime - t0) / 1e9}%.2f s"); r
    }
    import graft.functions.Num._
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .repartition(col("o")).distinct()
    val edges = time("edges(build+checkpoint)")(
      li.toDF("o", "src")
        .join(li.toDF("o", "dst"), "o")
        .filter(col("src") < col("dst"))
        .select("src", "dst").distinct()
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .localCheckpoint(true))
    println(s"PRPROF n_edges ${edges.count()}")
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val nodes = outdeg.select(col("src").as("node"), col("outdeg"))
    val n = nodes.agg(count(lit(1)).as("n_nodes"))
    var ranks = time("ranks0")(nodes.crossJoin(broadcast(n))
      .select(col("node"), col("outdeg"), col("n_nodes"),
        r(lit(1.0) / col("n_nodes").cast("double"), 9).as("rank"))
      .localCheckpoint(true))
    println(s"PRPROF n_nodes ${ranks.count()}")
    for (it <- 1 to 3) {
      val contrib = time(s"iter$it contrib(join+agg+checkpoint)")(
        edges.join(broadcast(ranks), col("src") === col("node"))
          .select(col("dst"),
            floor(col("rank") / col("outdeg").cast("double") * 1e12 + 0.5).cast("long").as("c_mi"))
          .groupBy("dst").agg(sum(col("c_mi")).as("sum_mi"))
          .localCheckpoint(true))
      ranks = time(s"iter$it update(join+checkpoint)")(
        ranks.join(broadcast(contrib), col("node") === col("dst"), "left")
          .select(col("node"), col("outdeg"), col("n_nodes"),
            r(lit(1.0 - 0.85) / col("n_nodes").cast("double") +
              lit(0.85) * (coalesce(col("sum_mi"), lit(0L)).cast("double") / 1e12), 9).as("rank"))
          .localCheckpoint(true))
    }
    time("top100")(ranks.orderBy(desc("rank"), asc("node")).limit(100).collect())
    spark.stop()
  }
}
