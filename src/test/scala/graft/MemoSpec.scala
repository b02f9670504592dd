package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.functions.Memo
import graft.operators.{Dedup, EventsOps}
import org.apache.spark.sql.functions._

/** The session artifact registry: one build per (key, fingerprint) under
  * concurrent callers, nested builds on other keys, rebuild + release on a
  * fingerprint change — and, end to end, the two artifacts a fixture rewrite
  * or a dir switch inside one session used to serve stale.
  */
class MemoSpec extends SparkSpec {

  private def onThreads[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    try {
      val fs = (0 until n).map(i => pool.submit(new Callable[T] { def call(): T = body(i) }))
      fs.map(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("concurrent callers on one key build exactly once") {
    val builds = new AtomicInteger()
    val got = onThreads(8) { _ =>
      Memo("memo-spec#once", "fp") { Thread.sleep(100); builds.incrementAndGet() }
    }
    assert(builds.get == 1)
    assert(got.toSet == Set(1))
  }

  test("a build that calls Memo on a second key completes") {
    val inner = new AtomicInteger()
    val got = onThreads(2) { _ =>
      Memo("memo-spec#outer", "fp") { Memo("memo-spec#inner", "fp")(inner.incrementAndGet()) + 10 }
    }
    assert(got == Seq(11, 11))
    assert(Memo("memo-spec#inner", "fp")(-1) == 1)
  }

  test("a changed fingerprint rebuilds and releases the superseded value") {
    final class Res(val id: Int) extends AutoCloseable {
      @volatile var closed = false
      def close(): Unit = closed = true
    }
    val a = Memo("memo-spec#release", "v1")(new Res(1))
    assert(Memo("memo-spec#release", "v1")(new Res(2)) eq a)
    val b = Memo("memo-spec#release", "v2")(new Res(3))
    assert(b.id == 3 && a.closed && !b.closed)
    assert(Memo("memo-spec#release", "v2")(new Res(4)) eq b)
  }

  private def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).forEach(p => Files.copy(p, dst.resolve(src.relativize(p).toString)))

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  test("longBuckets picks up new min/max after events.parquet is rewritten in place") {
    val dir = Files.createTempDirectory("graft_memo_")
    try {
      copyTree(Path.of(sf, "events.parquet"), dir.resolve("events.parquet"))
      val events = s"$dir/events.parquet"
      val key = Some(s"$events#ts_micros")
      def minMax(memoKey: Option[String]) = {
        val ev = Tables.events(spark, dir.toString)
        val b = EventsOps.longBuckets(ev, unix_micros(col("ts")), 50L, memoKey)
        val r = ev.select(min(b), max(b)).head()
        (r.getLong(0), r.getLong(1))
      }
      assert(minMax(key) == minMax(None))
      // the same table shifted ten years on, written back under the same path
      // (NTZ kept, so only the contents change, not the ts unit)
      val next = dir.resolve("next").toString
      Tables.events(spark, dir.toString)
        .withColumn("ts", (col("ts") + expr("INTERVAL 3650 DAYS")).cast("timestamp_ntz"))
        .write.parquet(next)
      deleteTree(dir.resolve("events.parquet"))
      Files.move(Path.of(next), dir.resolve("events.parquet"))
      val fresh = minMax(None)
      assert(fresh._1 == 0L)
      assert(minMax(key) == fresh)
    } finally deleteTree(dir)
  }

  test("docShingles switched between dirs from concurrent threads: fresh counts, one pinned table") {
    val dirs = Seq(sf, Path.of(sf).resolveSibling("sf0.01").toString)
    val expected = dirs.map(d => d -> Dedup.shinglesOf(Tables.documents(spark, d)).count()).toMap
    val got = onThreads(6) { i =>
      val d = dirs(i % 2)
      d -> Dedup.docShingles(spark, d).count()
    }
    got.foreach { case (d, n) => assert(n == expected(d), s"$d: $n vs ${expected(d)}") }
    val pinned = spark.sparkContext.getPersistentRDDs.keys.count(graft.sources.Pinned.contains)
    assert(pinned == 1)
  }
}
