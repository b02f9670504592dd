package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat, desc, lit, rand}
import org.scalatest.funsuite.AnyFunSuite

class ChecksumSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  private def rows = spark.range(0, 5000).select(
    col("id"), (col("id") % 7).as("k"), (col("id") * 0.5).as("x"),
    col("id").cast("string").as("s"))

  test("checksum does not depend on row order or partitioning") {
    val base = Checksum.of(rows)
    assert(Checksum.of(rows.orderBy(desc("id"))) == base)
    assert(Checksum.of(rows.repartition(11, col("k"))) == base)
    assert(Checksum.of(rows.orderBy(rand(7))) == base)
    assert(Checksum.of(rows.coalesce(1)) == base)
  }

  test("checksum counts rows and sees every column") {
    val base = Checksum.of(rows)
    assert(base.rows == 5000L)
    assert(Checksum.of(rows.limit(4999)) != base)
    assert(Checksum.of(rows.withColumn("s", concat(col("s"), lit("x")))) != base)
    assert(Checksum.of(rows.union(rows)).rows == 10000L)
  }

  test("checksum of an empty result is zero and the sum stays exact") {
    assert(Checksum.of(rows.filter("id < 0")) == Checksum.Value(0L, 0L))
    val v = Checksum.of(rows)
    assert(v.hashSum >= 0L && v.hashSum <= 5000L * (Checksum.Modulus - 1))
    assert(v.total == v.rows + v.hashSum)
  }

  test("column names that need quoting are hashed, not parsed") {
    val df = rows.withColumnRenamed("x", "a.b`c")
    assert(Checksum.of(df) == Checksum.of(rows))
  }
}
