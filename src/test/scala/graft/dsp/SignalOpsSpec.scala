package graft.dsp

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the distributed SG filter / indicator to the array reference
  * implementations (themselves pinned to scipy semantics by SavGolSpec).
  */
class SignalOpsSpec extends SparkSpec {
  import spark.implicits._

  // Two records with distinct shapes: a hump and a noisy ramp.
  private val recA = Array.tabulate(30)(i => math.sin(i / 5.0) * 10.0 + i * 0.3)
  private val recB = Array.tabulate(40)(i => i * 0.5 + (if (i % 7 == 0) 3.0 else 0.0))

  private def longDf = {
    val rows = recA.zipWithIndex.map { case (v, i) => ("a", (i + 1).toLong, v) } ++
      recB.zipWithIndex.map { case (v, i) => ("b", (i + 1).toLong, v) }
    rows.toSeq.toDF("record", "t", "value")
  }

  private def collectCol(df: org.apache.spark.sql.DataFrame, rec: String, c: String): Array[Double] =
    df.filter($"record" === rec).orderBy("t").select(c).as[Double].collect()

  test("sgDf matches the array reference on every row, both records") {
    for (deriv <- Seq(0, 1)) {
      val out = SignalOps.sgDf(longDf, "value", "record", "t", 7, 2, deriv, "x")
      val expA = SignalOps.local.savgol(recA, 7, 2, deriv)
      val expB = SignalOps.local.savgol(recB, 7, 2, deriv)
      collectCol(out, "a", "x").zip(expA).foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-9, s"deriv=$deriv record a") }
      collectCol(out, "b", "x").zip(expB).foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-9, s"deriv=$deriv record b") }
    }
  }

  test("sgDf drops records shorter than the window") {
    val short = Seq(("s", 1L, 1.0), ("s", 2L, 2.0), ("a", 1L, 1.0)) ++
      (2 to 10).map(i => ("a", i.toLong, i.toDouble))
    val df = short.toDF("record", "t", "value")
    val out = SignalOps.sgDf(df, "value", "record", "t", 7, 2, 0, "x")
    assert(out.filter($"record" === "s").count() === 0)
    assert(out.filter($"record" === "a").count() === 10)
  }

  test("indicatorDf matches the array reference (hump counting)") {
    // exact equality, every record in one partition, a record of exactly
    // w samples, and thresholds of both signs
    val w = 7
    val recs = Seq("a" -> recA, "b" -> recB,
      "w" -> Array(0.0, 1.0, 4.0, 9.0, 7.0, 2.0, 0.5),
      "z" -> Array.tabulate(25)(i => if (i % 4 < 2) 10.0 * i else -5.0 * i))
    val df = recs.flatMap { case (r, xs) =>
      xs.zipWithIndex.map { case (v, i) => (r, (i + 1).toLong, v) } }
      .toDF("record", "t", "value").repartition(1)
    val sg = SignalOps.sgDf(df, "value", "record", "t", w, 2, 1, "_sg")
    for (sigma <- Seq(2.0, -2.0, 0.5)) {
      val out = SignalOps.indicatorDf(sg, "_sg", "record", "t", sigma, "z")
      recs.foreach { case (r, xs) =>
        assert(collectCol(out, r, "z").toSeq === SignalOps.local.indicator(xs, w, 1, sigma).toSeq,
          s"record $r, sigma $sigma")
      }
    }
  }

  test("indicator with no crossings is all zero") {
    val flat = (1 to 20).map(i => ("f", i.toLong, 0.0)).toDF("record", "t", "value")
    val out0 = SignalOps.sgDf(flat, "value", "record", "t", 7, 2, 1, "_sg")
    val out = SignalOps.indicatorDf(out0, "_sg", "record", "t", 2.0, "z")
    assert(collectCol(out, "f", "z").forall(_ == 0.0))
  }

  test("indicatorDf equals the array reference exactly: crossing edge cases, records sharing a partition") {
    // crafted smoothed signals (the `sg` input itself), so each crossing
    // lands exactly where the case needs it: a '1' sample is past the
    // threshold (3 > σ = 2, or −3 < σ = −2), a '0' sample (0.0) is not
    def sig(bits: String, on: Double): Array[Double] = bits.map(c => if (c == '1') on else 0.0).toArray
    for (sigma <- Seq(2.0, -2.0)) {
      val on = if (sigma > 0) 3.0 else -3.0
      val cases = Seq(
        "none" -> sig("0000000000", on),
        "always" -> sig("1111111111", on),
        "firstPair" -> sig("0111111111", on),
        "firstPairDown" -> sig("1000000000", on),
        "lastPair" -> sig("0000000001", on),
        "backToBack" -> sig("0101010000", on),
        "allPairs" -> sig("0101010101", on),
        "mixed" -> sig("1100111000110", on),
        "single" -> sig("1", on),
        "pair" -> sig("01", on))
      val rows = cases.flatMap { case (r, xs) =>
        xs.zipWithIndex.map { case (v, i) => (r, (i + 1).toLong, v) } }
      // one partition: every record's window state must reset at its boundary
      val df = rows.toDF("record", "t", "_sg").repartition(1)
      val out = SignalOps.indicatorDf(df, "_sg", "record", "t", sigma, "z")
      cases.foreach { case (r, xs) =>
        assert(collectCol(out, r, "z").toSeq === SignalOps.local.ramp(xs, sigma).toSeq,
          s"record $r, sigma $sigma")
      }
    }
  }

  test("resample: per-record index buckets with exact count/min/max") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (1 to 25).map(t => ("r", t.toLong, t.toDouble)).toDF("record", "t", "value")
    val out = SignalOps.resample(df, "value", "record", "t", every = 10)
      .orderBy("t0").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(4), r.getDouble(5)))
    assert(out === Array((1L, 10L, 1.0, 10.0), (11L, 10L, 11.0, 20.0), (21L, 5L, 21.0, 25.0)))
  }

  test("resample plan: aggregation-shaped, no window, one exchange") {
    import spark.implicits._
    val df = Seq(("r", 1L, 1.0)).toDF("record", "t", "value")
    val plan = SignalOps.resample(df, "value", "record", "t", 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"plan:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1, s"plan:\n$plan")
  }

  test("outliers: flags beyond k sigma; constant records flag nothing") {
    import spark.implicits._
    // 20 samples at 10.0 plus one wild spike: sigma is dominated by the
    // spike, so only the spike exceeds 3 sigma... use k=2 and a tighter
    // cloud to get a deterministic hand-check
    val base = (1 to 40).map(t => ("r", t.toLong, if (t == 7) 100.0 else 10.0))
    val flat = (1 to 10).map(t => ("c", t.toLong, 5.0))
    val out = SignalOps.outliers((base ++ flat).toDF("record", "t", "value"),
        "value", "record", "t", k = 2.0)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out === Array(("r", 7L)))
  }

  test("outliers is partitioning-independent (exact moment sums)") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val df = (1 to 500).map(t => ("r", t.toLong, rnd.nextGaussian())).toDF("record", "t", "value")
    val a = SignalOps.outliers(df, "value", "record", "t", 1.5).collect().toSet
    val b = SignalOps.outliers(df.repartition(11), "value", "record", "t", 1.5).collect().toSet
    assert(a === b)
  }

  test("crossCorr: a signal against its 2-delayed copy peaks at lag +2; n_pairs shrink with |lag|") {
    // a = impulse train, b_t = a_{t-2}
    val a = Seq(0.0, 0.0, 5.0, 0.0, 0.0, 3.0, 0.0, 0.0, 0.0, 0.0)
    val rows = a.indices.map(i =>
      ("r", (i + 1).toLong, a(i), if (i >= 2) a(i - 2) else 0.0))
    val df = rows.toDF("record", "t", "va", "vb")
    val out = SignalOps.crossCorr(df, "va", "vb", "record", "t", 3)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), BigInt(r.getString(3)))).toMap
    // at the true delay (lag 2): 5*5 + 3*3 = 34 (in 1e-12 units); the
    // impulses also cross-hit once at lag -1 (a_5 * b_4 = 3*5 = 15) —
    // the peak still identifies the delay
    assert(out(2L)._2 === BigInt("34000000000000"))
    assert(out(-1L)._2 === BigInt("15000000000000"))
    assert(out.filter(kv => kv._1 != 2L && kv._1 != -1L)
      .forall(_._2._2 === BigInt(0)))
    assert(out.values.map(_._2).max === out(2L)._2)
    // pair counts: 10-|lag| valid alignments
    assert((-3L to 3L).forall(l => out(l)._1 === 10L - math.abs(l)))
  }

  test("crossCorr is partitioning-independent and windows share one exchange") {
    val rnd = new scala.util.Random(3)
    val df = (for (r <- Seq("x", "y"); t <- 1 to 40)
      yield (r, t.toLong, rnd.nextDouble() * 10 - 5, rnd.nextDouble() * 4)).toDF("record", "t", "va", "vb")
    val a = SignalOps.crossCorr(df, "va", "vb", "record", "t", 2).collect().toSet
    val b = SignalOps.crossCorr(df.repartition(9), "va", "vb", "record", "t", 2)
      .collect().toSet
    assert(a === b && a.size === 10)
    val plan = SignalOps.crossCorr(df, "va", "vb", "record", "t", 2)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1,
      s"all lag windows and the record agg must share ONE exchange:\n$plan")
  }
}
