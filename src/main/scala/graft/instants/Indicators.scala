package graft.instants

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.dsp.SignalOps

/** The indicator feature bank behind the reference's instant detection
  * (tabata instants.py:211 `make_indicators`): positional features
  * LEN/REV/PERCENT, the raw signals, and a grid of hump-counting
  * indicators at several (half-width, derivative order, ±sigma) settings,
  * each scaled by a per-(width, order) noise level epsilon.
  *
  * Everything is window algebra over `(record, t)` — the whole bank is one
  * shuffle on `record` regardless of grid size, and epsilon is a two-pass
  * SG aggregation, never a per-record driver loop.
  */
object Indicators {

  /** One indicator configuration of the grid. `halfWidth < 0` encodes the
    * reference's reversed variant `c[-1] − c` (instants.py:342-347);
    * `sigma` is the signed multiplier `e*s` applied to epsilon.
    */
  final case class IndicatorCode(col: String, halfWidth: Int, order: Int, sigma: Double) {
    def name: String = {
      val dir = if (sigma >= 0) "u" else "d"
      val rev = if (halfWidth < 0) "-" else "+"
      // no '.' in the label: Spark column resolution and spark.ml attribute
      // names treat dots as nested-field separators
      val s = math.abs(sigma)
      val sStr = if (s == s.floor) s.toInt.toString else s.toString.replace('.', 'p')
      s"$col[${rev}w${math.abs(halfWidth)}o$order$dir$sStr]"
    }
  }

  /** Positional features (instants.py:306-307): LEN = 0-based index,
    * REV = reversed index, PERCENT = LEN/(n−1).
    */
  def withPositional(df: DataFrame, rec: String, t: String): DataFrame = {
    val wRec = Window.partitionBy(rec)
    val n = count(lit(1)).over(wRec)
    df.withColumn("LEN", (col(t) - 1).cast("double"))
      .withColumn("REV", (n - col(t)).cast("double"))
      .withColumn("PERCENT",
        when(n > 1, col("LEN") / (n - 1).cast("double")).otherwise(lit(0.0)))
  }

  /** The reference's epsilon (instants.py:276-295): for window `w = 2l+1`
    * and derivative order `d`, the max over records of the population
    * stddev of `SG_w(x, d) − SG_{2w+1}(SG_w(x, d), d)` — a per-scale noise
    * floor for the crossing thresholds. One distributed aggregation.
    */
  def epsilon(df: DataFrame, rec: String, t: String, x: String,
              w: Int, d: Int, deg: Int): Double =
    epsilons(df, rec, t, Seq((x, w, d)), deg)((x, w, d))

  /** All epsilons of a grid in ONE distributed job.
    *
    * Preferred path (sessions with [[graft.GraftExtensions]]): epsilon is a
    * per-record SCALAR, so instead of paying three WindowExec passes of
    * per-row machinery (stage-1 SG, stage-2 SG over its output, then the
    * stddev aggregation), each record's t-sorted sample array is collected
    * once per signal column and the whole two-stage residual + stddev runs
    * as one primitive loop per record inside the native
    * [[graft.functions.SgResidualStddev]] expression — bit-identical
    * arithmetic to the window formulation (same tap fold order, same
    * CentralMomentAgg Welford updates in t order), one shuffle
    * (`groupBy(record)`, map-side partial collect), and a two-level
    * aggregation so only one scalar per combo reaches the driver.
    *
    * Fallback (no extensions, e.g. a driver-provided smoke session): the
    * windowed formulation below — every combo's residual in the same
    * projection sharing one (row-number, record-length) pair, all stddevs +
    * maxes in a single two-level aggregation.
    *
    * Per-combo record eligibility (a record participates in combo i's
    * stddev iff it has at least 2w_i+1 samples) holds on both paths: the
    * native expression returns null for shorter records, the windowed path
    * null-guards the residual, and stddev_pop/max ignore nulls.
    *
    * At 100 TB the per-record arrays are the same memory class WindowExec
    * already buffers per partition; the collect_list aggregation is
    * ObjectHashAggregate, which falls back to sort-based spilling when a
    * partition holds more record groups than memory.
    */
  def epsilons(df: DataFrame, rec: String, t: String,
               combos: Seq[(String, Int, Int)], deg: Int): Map[(String, Int, Int), Double] = {
    require(combos.nonEmpty, "epsilons: empty combo grid")
    if (graft.functions.Native.registered) epsilonsArray(df, rec, t, combos, deg)
    else {
      val withB = withStage1Sg(df, rec, t, combos, deg, "_eps")
      epsilonsFromSg(withB, rec, t, combos, deg, "_eps")
    }
  }

  /** The native-expression epsilon job (see [[epsilons]]): one
    * `collect_list(struct(t, x))` + `array_sort` per distinct signal
    * column, then `max(graft_sg_eps(arr, w, deg, d))` per combo in a
    * second aggregation level. Exposed for the equivalence spec that pins
    * it bit-identical to [[epsilonsFromSg]].
    */
  private[instants] def epsilonsArray(df: DataFrame, rec: String, t: String,
                            combos: Seq[(String, Int, Int)], deg: Int)
      : Map[(String, Int, Int), Double] = {
    val cols = combos.map(_._1).distinct
    val collects = cols.map { x =>
      transform(
        array_sort(collect_list(struct(col(t).as("o"), col(x).cast("double").as("v")))),
        s => s.getField("v")).as(s"_eps_arr_$x")
    }
    val perRec = df.groupBy(col(rec)).agg(collects.head, collects.tail: _*)
    val tops = combos.zipWithIndex.map { case ((x, w, o), i) =>
      max(call_function("graft_sg_eps",
        col(s"_eps_arr_$x"), lit(w), lit(deg), lit(o))).as(s"_eps_e_$i")
    }
    val row = perRec.agg(tops.head, tops.tail: _*).head()
    combos.zipWithIndex.map { case (cmb, i) =>
      require(!row.isNullAt(i),
        s"epsilon: no record has the >= ${2 * cmb._2 + 1} samples required for " +
          s"(col=${cmb._1}, w=${cmb._2}, order=${cmb._3}) — shorten the window or supply longer records")
      cmb -> row.getDouble(i)
    }.toMap
  }

  /** (rn, n) pair + stage-1 SG column `<prefix>_b_i = SG_w(x, d)` per
    * combo, each null-guarded to records with >= w samples; rows of
    * records shorter than the NARROWEST combo window are dropped. Shared
    * by [[epsilons]] (standalone) and [[bank]] (which caches this frame so
    * the epsilon aggregation and the output chain compute it once).
    */
  private[instants] def withStage1Sg(df: DataFrame, rec: String, t: String,
                           combos: Seq[(String, Int, Int)], deg: Int,
                           prefix: String): DataFrame = {
    val wOrd = Window.partitionBy(rec).orderBy(t)
    val wFull = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val minW = combos.map(_._2).min
    val rn = col(s"${prefix}_rn")
    val n  = col(s"${prefix}_n")
    val base = df
      .withColumns(Map(
        s"${prefix}_rn" -> row_number().over(wOrd).cast("long"),
        s"${prefix}_n" -> count(lit(1)).over(wFull)))
      .filter(n >= minW)
    combos.zipWithIndex.foldLeft(base) { case (d0, ((x, w, o), i)) =>
      val (fw, lw) = SignalOps.sgEdgeArrays(col(x), rec, t, rn, n, w)
      d0.withColumns(Map(s"${prefix}_fw_$i" -> fw, s"${prefix}_lw_$i" -> lw))
        .withColumn(s"${prefix}_b_$i",
          when(n >= w, SignalOps.sgExpr(col(x), rec, t, rn, n, w, deg, o,
            col(s"${prefix}_fw_$i"), col(s"${prefix}_lw_$i"))))
        .drop(s"${prefix}_fw_$i", s"${prefix}_lw_$i")
    }
  }

  /** Per-combo generated-code cost proxy for the stage-2 residual
    * expression: the edge-fit CASE expands to 2·half₂ rows × w₂ taps of
    * `element_at × weight` terms with w₂ = 2w+1 — the O(w²) part that
    * dominates the fused (project + partial-aggregate) codegen stage.
    */
  private def residualCodeCost(w: Int): Int = 2 * w * (2 * w + 1)

  /** Per-chunk cost budget: combos are greedily packed until the summed
    * [[residualCodeCost]] crosses this, keeping each chunk's fused
    * whole-stage method comfortably under janino's 64 KB bytecode limit
    * (the un-chunked 4-combo grid at Σcost ≈ 1700 used to fail compile
    * and silently run interpreted).
    */
  private val EpsilonChunkBudget = 600

  /** A single combo beyond this cost (w ≥ 15) cannot compile even
    * alone: its chunk runs with whole-stage fusion OFF — the identical
    * execution Spark falls back to after a failed compile, minus the
    * wasted compile attempts and the ERROR spam. Per-expression codegen
    * still applies.
    */
  private val EpsilonFusionOffCost = 900

  /** The epsilon aggregation over a frame already carrying the (rn, n)
    * pair and stage-1 SG columns from [[withStage1Sg]]: residual
    * r_i = b_i − SG_{2w+1}(b_i, d) where the record has >= 2w+1 samples,
    * then per-record stddev_pop and global max in a two-level job.
    *
    * Combos are processed in code-cost-bounded CHUNKS: one job per chunk,
    * residual columns built only for the chunk's combos, so the fused
    * projection+aggregation codegen stage of each job stays under the
    * JVM's 64 KB method limit (see [[EpsilonChunkBudget]]). Per-combo
    * results are independent — same expressions, same two-level
    * aggregation shape — so chunking is bit-identical to the one-job
    * formulation (pinned against [[epsilonsArray]] by SelectorSpec). The
    * stage-1 frame is shared: [[bank]] passes it cached, and column
    * pruning drops the other chunks' stage-1 windows from each job.
    * Typical banks fit one or two chunks; the native
    * [[epsilonsArray]] path (one compact aggregation) is the fast path
    * when [[graft.functions.Native]] is registered.
    */
  private[instants] def epsilonsFromSg(withB: DataFrame, rec: String, t: String,
                             combos: Seq[(String, Int, Int)], deg: Int,
                             prefix: String): Map[(String, Int, Int), Double] = {
    val rn = col(s"${prefix}_rn")
    val n  = col(s"${prefix}_n")
    val chunks = combos.zipWithIndex.foldLeft(Vector(Vector.empty[((String, Int, Int), Int)])) {
      case (acc, cmb @ ((_, w, _), _)) =>
        val cur = acc.last
        val curCost = cur.map { case ((_, cw, _), _) => residualCodeCost(cw) }.sum
        if (cur.nonEmpty && curCost + residualCodeCost(w) > EpsilonChunkBudget)
          acc :+ Vector(cmb)
        else acc.init :+ (cur :+ cmb)
    }
    chunks.flatMap { chunk =>
      val withR = chunk.foldLeft(withB) { case (d0, ((_, w, o), i)) =>
        val w2 = 2 * w + 1
        val b = col(s"${prefix}_b_$i")
        val (fw, lw) = SignalOps.sgEdgeArrays(b, rec, t, rn, n, w2)
        d0.withColumns(Map(s"${prefix}_fw2_$i" -> fw, s"${prefix}_lw2_$i" -> lw))
          .withColumn(s"${prefix}_r_$i",
            when(n >= w2,
              b - SignalOps.sgExpr(b, rec, t, rn, n, w2, deg, o,
                col(s"${prefix}_fw2_$i"), col(s"${prefix}_lw2_$i"))))
          .drop(s"${prefix}_fw2_$i", s"${prefix}_lw2_$i")
      }
      val sds  = chunk.map { case (_, i) => stddev_pop(col(s"${prefix}_r_$i")).as(s"${prefix}_s_$i") }
      val tops = chunk.map { case (_, i) => max(col(s"${prefix}_s_$i")).as(s"${prefix}_e_$i") }
      val agged = withR
        .groupBy(col(rec)).agg(sds.head, sds.tail: _*)
        .agg(tops.head, tops.tail: _*)
      val chunkCost = chunk.map { case ((_, w, _), _) => residualCodeCost(w) }.sum
      val row =
        if (chunkCost <= EpsilonFusionOffCost) agged.head()
        else {
          // single over-wide combo: fusion off for this one action (see
          // [[EpsilonFusionOffCost]]); restore the caller's conf after
          val conf = withB.sparkSession.conf
          val key = "spark.sql.codegen.wholeStage"
          val prev = conf.getOption(key)
          conf.set(key, "false")
          try agged.head()
          finally prev match {
            case Some(v) => conf.set(key, v)
            case None => conf.unset(key)
          }
        }
      chunk.zipWithIndex.map { case ((cmb, _), j) =>
        require(!row.isNullAt(j),
          s"epsilon: no record has the >= ${2 * cmb._2 + 1} samples required for " +
            s"(col=${cmb._1}, w=${cmb._2}, order=${cmb._3}) — shorten the window or supply longer records")
        cmb -> row.getDouble(j)
      }
    }.toMap
  }

  /** Add the indicator column for one code; `eps` is its noise floor.
    * Reversed codes subtract from the record's last value (instants.py:343).
    */
  def withIndicator(df: DataFrame, rec: String, t: String,
                    code: IndicatorCode, eps: Double, deg: Int): DataFrame = {
    val l = math.abs(code.halfWidth)
    val w = 2 * l + 1
    val sg = SignalOps.sgDf(df, code.col, rec, t, w, deg, code.order, "_isg")
    // direction comes from the sign of the configured sigma, NOT of
    // sigma*eps: for a perfectly-smooth signal eps == 0 and the product
    // would silently flip an upward indicator to downward crossings
    val ind = SignalOps.indicatorDf(sg, "_isg", rec, t,
        lit(code.sigma * eps), positive = code.sigma > 0, code.name)
      .drop("_isg")
    if (code.halfWidth >= 0) ind
    else {
      val wFull = Window.partitionBy(rec).orderBy(t)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      ind.withColumn(code.name, last(col(code.name)).over(wFull) - col(code.name))
    }
  }

  /** The full bank for a grid of codes over one signal column. Returns the
    * augmented DataFrame and the effective (code, epsilon) list.
    *
    * With [[graft.GraftExtensions]] registered, the epsilon aggregation
    * runs on the array path ([[epsilonsArray]] — one groupBy job, no
    * window machinery) and the output chain computes its stage-1 SG
    * columns inline: neither consumer re-reads the other's work, so no
    * shared cache is needed at all. In the fallback (no native
    * expressions) the stage-1 frame is computed once and CACHED via
    * `scope`, then BOTH consumers read the cache — the epsilon aggregation
    * (which stacks its SG-of-SG residual on top) and the output chain.
    * Codes differing only in sigma sign or the reversed variant reuse the
    * same smoothed column on either path.
    *
    * The cache follows [[graft.core.CacheScope]] semantics: session-scoped
    * by default, pass a scope and release it once the returned (lazy)
    * DataFrame has been consumed. A released cache costs recompute, never
    * correctness.
    *
    * Records shorter than the widest code window are dropped (same final
    * row set as folding [[withIndicator]], whose per-code filters compound).
    */
  def bank(df: DataFrame, rec: String, t: String, codes: Seq[IndicatorCode],
           deg: Int, scope: graft.core.CacheScope = graft.core.CacheScope.session)
      : (DataFrame, Seq[(IndicatorCode, Double)]) = {
    def comboOf(cd: IndicatorCode): (String, Int, Int) =
      (cd.col, 2 * math.abs(cd.halfWidth) + 1, cd.order)
    val combos = codes.map(comboOf).distinct
    // the stage-1 frame: (df columns, rn, n, SG_w per combo), rows limited
    // to records >= the narrowest window (the fallback epsilon needs those;
    // the output re-filters to the widest below)
    val (shared, epsMap) =
      if (graft.functions.Native.registered)
        (withStage1Sg(df, rec, t, combos, deg, "_bk"),
          epsilonsArray(df, rec, t, combos, deg))
      else {
        val cached = scope.cache(withStage1Sg(df, rec, t, combos, deg, "_bk"))
        (cached, epsilonsFromSg(cached, rec, t, combos, deg, "_bk"))
      }
    val withEps = codes.map(cd => (cd, epsMap(comboOf(cd))))

    val wOrd = Window.partitionBy(rec).orderBy(t)
    val wFull = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val maxW = combos.map(_._2).max
    val n = col("_bk_n")
    val sgName = combos.zipWithIndex.map { case (c, i) => c -> s"_bk_b_$i" }.toMap
    val base = shared
      .filter(n >= maxW)
      .withColumn("LEN", (col(t) - 1).cast("double"))
      .withColumn("REV", (n - col(t)).cast("double"))
      .withColumn("PERCENT",
        when(n > 1, col("LEN") / (n - 1).cast("double")).otherwise(lit(0.0)))
    val out = withEps.foldLeft(base) { case (d, (cd, e)) =>
      // direction comes from the sign of the configured sigma, NOT of
      // sigma*eps: for a perfectly-smooth signal eps == 0 and the product
      // would silently flip an upward indicator to downward crossings
      val ind = SignalOps.indicatorDf(d, sgName(comboOf(cd)), rec, t,
        lit(cd.sigma * e), positive = cd.sigma > 0, cd.name)
      if (cd.halfWidth >= 0) ind
      else ind.withColumn(cd.name, last(col(cd.name)).over(wFull) - col(cd.name))
    }
    (out.drop("_bk_rn" +: "_bk_n" +: combos.map(sgName): _*), withEps)
  }
}
