package graft

import graft.functions.{DetRand, Num}
import graft.operators.{Diffusion, Reshape}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, forAllNoShrink}

/** ScalaCheck property suite (SURVEY §5 test plan): the algebraic laws the
  * operators must satisfy for ARBITRARY parameters, not just the registered
  * fixtures. Each property batches its generated cases into one small Spark
  * job, and iteration counts are tuned so the whole suite stays in seconds.
  */
object EngineProperties extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSession.spark

  // S4 ∘ S5 = id for any (patchSize, seqLen) with seqLen % patchSize == 0
  property("patchify.unpatchify.identity") =
    forAll(Gen.choose(1, 8), Gen.choose(1, 6), Gen.choose(1, 4)) { (patchSize, mult, n) =>
      val seqLen = patchSize * mult
      val base = spark.range(n.toLong * seqLen).select(
        (col("id") / seqLen).cast("long").as("series_id"),
        (col("id") % seqLen).cast("int").as("t"),
        Num.r6(sin(col("id").cast("double"))).as("value"))
      val back = Reshape.unpatchify(Reshape.patchify(spark, base, patchSize), patchSize)
        .select("series_id", "t", "value")
      back.exceptAll(base).isEmpty && base.exceptAll(back).isEmpty
    }

  // DetRand.u01 lands strictly inside (0,1) and uniform(lo,hi) inside [lo,hi]
  // for any key within the documented |key| < 2e11 contract
  property("detrand.bounds") =
    forAll(Gen.choose(-1.9e11, 1.9e11), Gen.choose(0, 60)) { (key0, stream) =>
      val keys = spark.range(64).select((col("id").cast("double") * 1234.5 + key0).as("k"))
      val bad = keys.select(
        DetRand.u01(col("k"), stream).as("u"),
        DetRand.uniform(col("k"), stream + 1, -3.5, 7.25).as("v"))
        .filter(col("u") <= 0.0 || col("u") >= 1.0 || col("v") < -3.5 || col("v") > 7.25)
        .count()
      bad == 0L
    }

  // the fused L2SqFx6 kernel equals the aggregate(zip_with(fx6)) HOF form it
  // replaced, for arbitrary vectors (and therefore stays oracle-exact)
  property("l2sqfx6.equals.hof") =
    forAll(Gen.choose(1, 16), Gen.choose(-50.0, 50.0)) { (dim, shift) =>
      val vs = spark.range(24).select(col("id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => Num.r6(sin(col("id").cast("double") * 3.7 + i.cast("double") + shift))).as("a"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => Num.r6(cos(col("id").cast("double") * 1.9 + i.cast("double") - shift))).as("b"))
      val bad = vs.select(
        graft.plans.VectorFunctions.l2_sq_fx6(col("a"), col("b")).as("k"),
        aggregate(zip_with(col("a"), col("b"),
          (x, y) => Num.fx((x - y) * (x - y), 6)), lit(0L), (acc, t) => acc + t).as("h"))
        .filter(col("k") =!= col("h")).count()
      bad == 0L
    }

  // The composed Column form DetRand's native kernels replaced, verbatim:
  // the reference the kernels must reproduce bit for bit.
  private object ComposedDetRand {
    val M = 2147483648.0 // 2^31

    private def fmod(x: Column): Column = x - floor(x / M).cast("double") * M
    private def lcg(x: Column): Column = fmod(x * 69069.0 + 12345.0)

    def u01(key: Column, stream: Int): Column = {
      val seed = fmod(key * 40503.0 + stream.toDouble * 30011.0 + 12345.0)
      (lcg(lcg(fmod(seed * (69069.0 + 2.0 * stream)))) + 0.5) / M
    }

    def gauss(key: Column, stream: Int): Column = {
      val u1 = u01(key, 2 * stream)
      val u2 = u01(key, 2 * stream + 1)
      sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
    }
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // DetU01/DetGauss equal the composed Column form exactly (`===`, no
  // tolerance) on integral and fractional keys, both through whole-stage
  // codegen and through interpreted eval (nullSafeEval); a null key is null
  private def kernelEqualsComposed(key0: Double, stream: Int): Boolean = {
    val keys = spark.range(64).select(
      when(col("id") === 63L, lit(null).cast("double"))
        .when(col("id") % 2 === 0L, floor(lit(key0)) + col("id") * 7919L)
        .otherwise(col("id").cast("double") * 1234.5 + key0).as("k"))
    val out = keys.select(
      col("k"),
      DetRand.u01(col("k"), stream).as("u"), ComposedDetRand.u01(col("k"), stream).as("ru"),
      DetRand.gauss(col("k"), stream).as("g"), ComposedDetRand.gauss(col("k"), stream).as("rg"))
    val same = out.filter(col("u") === col("ru") && col("g") === col("rg")).count()
    val nullKey = out.filter(col("k").isNull).head()
    same == 63L && nullKey.isNullAt(1) && nullKey.isNullAt(3)
  }

  property("detrand.kernel.equals.composed") =
    forAllNoShrink(Gen.choose(-1.9e11, 1.9e11), Gen.choose(0, 60)) { (key0, stream) =>
      val codegen = kernelEqualsComposed(key0, stream)
      val interpreted = withConf(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        kernelEqualsComposed(key0, stream)
      }
      codegen && interpreted
    }

  // Num.r6 is idempotent and within half an ulp-of-1e-6 of its argument
  property("r6.idempotent.close") =
    forAll(Gen.choose(-1.0e6, 1.0e6)) { x0 =>
      val xs = spark.range(32).select((col("id").cast("double") * 0.137 + x0).as("x"))
      val bad = xs.select(col("x"), Num.r6(col("x")).as("r"), Num.r6(Num.r6(col("x"))).as("rr"))
        .filter(col("r") =!= col("rr") || abs(col("r") - col("x")) > 5.000001e-7)
        .count()
      bad == 0L
    }

  // U2 at full generality: for ANY affine beta in (0, 1), the cumulative
  // alpha product is strictly decreasing and ac_prev is its 1-lag with pad 1
  property("schedule.cumprod.monotone") =
    forAllNoShrink(Gen.choose(1e-5, 0.02), Gen.choose(0.021, 0.3), Gen.choose(10, 60)) {
      (bs, be, steps) =>
        val sched = Diffusion.scheduleFrom(spark, steps,
          step => lit(bs) + lit(be - bs) * step / (steps - 1).toDouble)
          .orderBy("step")
          .select("step", "ac", "ac_prev")
          .collect()
        val ac = sched.map(_.getDouble(1))
        val acPrev = sched.map(_.getDouble(2))
        val decreasing = ac.sliding(2).forall(w => w(1) < w(0))
        val lagged = acPrev.head == 1.0 &&
          acPrev.drop(1).zip(ac.dropRight(1)).forall { case (p, a) => p == a }
        decreasing && lagged && ac.forall(a => a > 0.0 && a < 1.0)
    }

  // The Morton interleave computes the exact bit-interleave of two 4-bit
  // bucket indices: injective on the 16x16 grid by construction
  property("zorder.morton.bit.interleave") =
    forAll(Gen.choose(0L, 15L), Gen.choose(0L, 15L)) { (u, b) =>
      def spread(x: Long): Long = (0 until 4).map(i => ((x >> i) & 1L) << (2 * i)).sum
      val expected = spread(u) | (spread(b) << 1)
      val sess = spark
      import sess.implicits._
      val got = Seq((u, b)).toDF("b0", "b1")
        .select(graft.sources.ZOrder.mortonInterleave(col("b0"), col("b1")).as("z"))
        .collect()(0).getLong(0)
      got == expected
    }

  // Rank bucketing is monotone in the value and exactly #bounds-below-or-at
  // — the no-aliasing contract the z-order key relies on
  property("zorder.rank.bucket.monotone") =
    forAllNoShrink(Gen.listOfN(15, Gen.choose(-1000.0, 1000.0)), Gen.choose(-1200.0, 1200.0)) {
      (rawBounds, v) =>
        val bounds = rawBounds.map(b => math.floor(b * 8) / 8).sorted
        val vq = math.floor(v * 8) / 8
        val expected = bounds.count(_ < vq).toLong
        val sess = spark
        import sess.implicits._
        val got = Seq(vq).toDF("v")
          .select(graft.sources.ZOrder.rankBucket(col("v"), bounds).as("r"))
          .collect()(0).getLong(0)
        got == expected
    }

  // PqCodes is the per-subspace argmin of PqDists with the (dist, c)
  // tiebreak, and PqDists replays the r6-rounded sequential L2 fold - for
  // ARBITRARY codebooks and vectors, not just the fitted fixture ones
  property("pq.codes.argmin.of.dists") =
    forAllNoShrink(Gen.choose(0L, 1L << 40)) { seed =>
      val rnd = new scala.util.Random(seed)
      val m = 4; val subDim = 3; val k = 5
      def v3(n: Int) = Seq.fill(n)(math.floor(rnd.nextDouble() * 2000 - 1000) / 1000.0)
      val entries = for (mm <- 0 until m; c <- 0 until k) yield (mm, c, v3(subDim))
      val vecs = Seq.fill(6)(v3(m * subDim))
      val sess = spark
      import sess.implicits._
      val out = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
        .select(col("id"),
          graft.plans.VectorFunctions.pq_codes(col("v"), subDim, entries).as("codes"),
          graft.plans.VectorFunctions.pq_dists(col("v"), subDim, entries).as("dists"))
        .collect()
      out.forall { r =>
        val id = r.getLong(0).toInt
        val codes = r.getSeq[Int](1)
        val dists = r.getSeq[Double](2)
        val refOk = entries.zipWithIndex.forall { case ((mm, _, w), idx) =>
          var acc = 0.0
          for (j <- 0 until subDim) {
            val d = vecs(id)(mm * subDim + j) - w(j); acc += d * d
          }
          dists(idx) == math.floor(acc * 1e6 + 0.5) / 1e6
        }
        val argminOk = (0 until m).forall { mm =>
          val best = entries.zipWithIndex.collect {
            case ((em, c, _), idx) if em == mm => (dists(idx), c)
          }.min
          codes(mm) == best._2
        }
        refOk && argminOk
      }
    }

  // MatVecFx replays the fx9-accumulated literal-matrix rotation for
  // ARBITRARY matrices and vectors (the OPQ rotation kernel)
  property("matvec.fx.replay") =
    forAllNoShrink(Gen.choose(0L, 1L << 40)) { seed =>
      val rnd = new scala.util.Random(seed)
      val rows = 5; val cols = 4
      def v3(n: Int) = Seq.fill(n)(math.floor(rnd.nextDouble() * 2000 - 1000) / 1000.0)
      val mat = Seq.fill(rows)(v3(cols))
      val vecs = Seq.fill(6)(v3(cols))
      val sess = spark
      import sess.implicits._
      val out = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
        .select(col("id"), graft.plans.VectorFunctions.mat_vec_fx(col("v"), mat).as("r"))
        .collect().map(r => r.getLong(0).toInt -> r.getSeq[Double](1)).toMap
      vecs.indices.forall { i =>
        val exp = mat.map { row =>
          row.indices.map(j => math.floor(row(j) * vecs(i)(j) * 1e9 + 0.5).toLong).sum / 1e9
        }
        out(i) == exp
      }
    }
}
