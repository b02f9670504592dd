package graftbench

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** The benchmark's JVM side: one client running one workload's query list in
  * a closed loop against one fixture.
  *
  *   1. build a session with the configuration the oracle assumes;
  *   2. build the workload's shared artifacts, each timed twice (build, hit);
  *   3. an untimed warm pass that dumps every result as parquet for the
  *      oracle compare; the checksum of each dump is the reference;
  *   4. timed passes, each in a seed-permuted order, for `--seconds`; every
  *      execution's checksum is compared with the reference.
  *
  * Each query execution is three timed phases: construct (the registered
  * function, including any eager jobs it runs), plan (forcing the checksum
  * frame's executed plan) and exec (the checksum action). With `--trace 1` a
  * listener and a log counter attribute jobs, stages, task metrics and
  * warnings to those phases. Raw spans and samples go to `--out` as JSON;
  * run.py turns them into metrics.
  */
object Harness {
  /** Query owner by module name, for the ops.<Module> layer split. */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Generators" -> Generators.queries, "Diffusion" -> Diffusion.queries,
    "Metrics" -> Metrics.queries, "Reshape" -> Reshape.queries,
    "TrendFit" -> TrendFit.queries, "Pipeline" -> Pipeline.queries,
    "EventsOps" -> EventsOps.queries, "TextOps" -> TextOps.queries,
    "Dedup" -> Dedup.queries, "Winnowing" -> Winnowing.queries,
    "CorpusQc" -> CorpusQc.queries, "Curation" -> Curation.queries,
    "Similarity" -> Similarity.queries, "PqOps" -> PqOps.queries,
    "OpqOps" -> OpqOps.queries, "SqOps" -> SqOps.queries, "BqOps" -> BqOps.queries,
    "EvalOps" -> EvalOps.queries, "Relational" -> Relational.queries)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        fixture: String, work: String, out: String, cpus: Int,
                        queries: Seq[String], artifacts: Seq[String])

  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def list(k: String) = kv.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("fixture"), kv("work"), kv("out"), kv("cpus").toInt, list("queries"), list("artifacts"))
  }

  /** Session pinned to what the oracle compare assumes, with every on-disk
    * side effect (warehouse tables, shuffle and spill files) inside this
    * run's own work directory. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        graft.sources.FileSizing.initialShufflePartitions(a.fixture, a.cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Permutation of the query list for one pass: a function of (seed, pass). */
  def order(queries: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  /** Heap still reachable after a full collection: session caches, pinned
    * artifacts and memos, i.e. what work moved into memory keeps alive. */
  def retainedHeapMb: Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def peakRssMb: Double =
    try Files.readString(Paths.get("/proc/self/status")).linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    catch { case NonFatal(_) => 0.0 }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val registry = modules.flatMap { case (m, qs) => qs.map { case (q, fn) => q -> (m, fn) } }.toMap
    val unknown = a.queries.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    val rec = new Recorder
    val run = rec.open("run", a.workload, null)
    val spark = session(a)
    val sc = spark.sparkContext
    val setup = rec.open("setup", "setup", run)
    val listener = if (a.trace) Some(Tracing.install(sc, rec, setup)) else None

    /** Enter a phase: register it with the listener, tag its jobs. */
    def phase[T](kind: String, name: String, parent: Span)(body: => T): T =
      rec.span(kind, name, parent) { s =>
        listener.foreach(_.register(s))
        sc.setLocalProperty(PhaseListener.SpanKey, s.id.toString)
        try body finally sc.setLocalProperty(PhaseListener.SpanKey, null)
      }

    /** Between queries: release every persisted RDD except pinned session
      * artifacts, as graft's own harness mains do. */
    def release(into: Span): Unit = {
      val info = if (a.trace) sc.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap
                 else Map.empty[Int, Long]
      sc.getPersistentRDDs.values
        .filterNot(r => graft.sources.Pinned.contains(r.id))
        .foreach { r =>
          into.add("checkpoint_rdds", 1)
          into.add("checkpoint_bytes", info.getOrElse(r.id, 0L).toDouble)
          r.unpersist(blocking = true)
        }
    }

    // 2. shared artifacts, each built and then hit once
    val artifacts: Map[String, () => Unit] = Map(
      "shingles" -> (() => graft.perfbench.Artifacts.shingles(spark, a.fixture)),
      "pq_codebooks" -> (() => Checksum.of(registry("ann_pq_codebooks")._2(spark, a.fixture))))
    for (name <- a.artifacts; step <- Seq("build", "hit"))
      phase("artifact", s"$name.$step", setup) { artifacts(name)() }
    release(setup)

    /** One query execution: construct, plan and execute its checksum. */
    def execute(q: String, query: Span): Either[String, Checksum.Value] =
      try {
        val df = phase("construct", q, query) { registry(q)._2(spark, a.fixture) }
        val agg = phase("plan", q, query) { val f = Checksum.frame(df); f.queryExecution.executedPlan; f }
        Right(phase("exec", q, query) { Checksum.collect(agg) })
      } catch { case NonFatal(e) => Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }

    // 3. untimed warm pass: every result dumped as parquet for the oracle
    // compare (tools/local_verify.py); the checksum of each dump is the
    // reference every timed execution must match
    val dumpDir = s"${a.work}/dump"
    val dumpErrors = scala.collection.mutable.Map.empty[String, String]
    for (q <- order(a.queries, a.seed, 0)) {
      phase("dump", q, setup) {
        try registry(q)._2(spark, a.fixture).coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$q")
        catch { case NonFatal(e) => dumpErrors(q) = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      }
      release(setup)
    }
    val reference = a.queries.filterNot(dumpErrors.contains)
      .map(q => q -> Checksum.of(spark.read.parquet(s"$dumpDir/$q"))).toMap
    val oracle = graft.SparkEntry.oracleSql.filter { case (q, _) => a.queries.contains(q) }
    Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"), Json.obj(oracle.map { case (k, v) => k -> Json.str(v) }))
    rec.close(setup)
    listener.foreach(_ => org.apache.spark.graftbench.Bus.drain(sc))

    // 4. timed passes, back to back; one more starts while it is expected
    // to end less than half a pass past the measuring window
    final case class Sample(pass: Int, query: String, span: Span, got: Either[String, Checksum.Value])
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val firstPass = rec.now
    val deadline = firstPass + (a.seconds * 1e6).toLong
    var p = 1
    var last = 0L
    while (p == 1 || rec.now + last / 2 < deadline) {
      val pass = rec.open("pass", s"pass $p", run)
      for (q <- order(a.queries, a.seed, p)) {
        val query = rec.open("query", q, pass)
        val got = execute(q, query)
        rec.close(query)
        release(query)
        if (a.trace) org.apache.spark.graftbench.Bus.drain(sc)
        samples += Sample(p, q, query, got)
      }
      rec.close(pass)
      last = pass.end - pass.start
      p += 1
    }
    val rss = peakRssMb
    val retained = retainedHeapMb
    rec.close(run)
    val pinned = sc.getPersistentRDDs.keys.count(graft.sources.Pinned.contains)
    spark.stop()

    val spans = rec.all.map { s =>
      Json.obj(Seq("span" -> s.id.toString, "parent" -> s.parent.toString,
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start" -> s.start.toString, "end" -> s.end.toString,
        "counters" -> Json.obj(s.snapshot.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    }
    val out = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> a.trace.toString, "cpus" -> a.cpus.toString, "run_id" -> Json.str(s"${a.workload}-${a.seed}-${run.start}"),
      "first_pass_start_us" -> firstPass.toString, "peak_rss_mb" -> Json.num(rss),
      "retained_heap_mb" -> Json.num(retained),
      "dump_errors" -> Json.obj(dumpErrors.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "samples" -> samples.map { x =>
        val status = x.got match {
          case Left(err) => err
          case Right(v) => if (reference.get(x.query).contains(v)) "ok" else "mismatch"
        }
        Json.obj(Seq("pass" -> x.pass.toString, "query" -> Json.str(x.query),
          "module" -> Json.str(registry(x.query)._1), "span" -> x.span.id.toString,
          "seconds" -> Json.num(x.span.seconds), "status" -> Json.str(status)))
      }.mkString("[", ",\n", "]"),
      "pinned_rdds" -> pinned.toString,
      "spans" -> spans.mkString("[", ",\n", "]")))
    Files.writeString(Paths.get(a.out), out)
  }
}

/** Minimal JSON text builders; values passed to [[obj]] are already JSON. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
