package graft.core

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** catch22 tranche-1 kernel (reference battery surface:
  * tsflex/features/integrations.py:282-337 wraps `catch22_all`;
  * tests/test_features_integration.py:326-343 runs it over every series).
  * Every row is hand-computed on the period-4 triangle
  * x = [0,1,2,1,0,1,2,1]; input is shuffled so the index sort inside the
  * aggregate is load-bearing.
  */
class Catch22Spec extends SparkSpec {
  import FeatureFuncs._

  private val x = Seq(0.0, 1.0, 2.0, 1.0, 0.0, 1.0, 2.0, 1.0)

  private def eval(member: String, vals: Seq[Double]): Option[Double] = {
    import spark.implicits._
    val df = scala.util.Random.shuffle(
      vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toList)
      .toDF("idx", "v").repartition(3)
    val r = df.agg(catch22Tranche1.agg(col("idx"), col("v"))
      .getField(member).cast("double")).head
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  private def close(a: Option[Double], b: Double, tol: Double = 1e-9): Boolean =
    a.exists(v => math.abs(v - b) < tol)

  test("DN_HistogramMode_5/10: mean of max-count bin centers") {
    // 5 bins over [0,2], step 0.4: 0→bin0(×2), 1→bin2(×4), 2→bin4(×2)
    // → mode = center of bin2 = 1.0
    assert(close(eval("DN_HistogramMode_5", x), 1.0))
    // 10 bins, step 0.2: 1 → bin5 (center 1.1)
    assert(close(eval("DN_HistogramMode_10", x), 1.1))
    // constant window → the value itself
    assert(close(eval("DN_HistogramMode_5", Seq(3.0, 3.0, 3.0)), 3.0))
    // tie: [0,0,1,1] over [0,1], step 0.2 — the max clamps into bin 4, so
    // bins 0 and 4 tie at 2 → mean of centers (0.1 + 0.9)/2 = 0.5
    assert(close(eval("DN_HistogramMode_5", Seq(0.0, 0.0, 1.0, 1.0)), 0.5))
  }

  test("SB_BinaryStats longstretch members") {
    // mean = 1; strictly above only at the two isolated 2s → 1
    assert(close(eval("SB_BinaryStats_mean_longstretch1", x), 1.0))
    // diffs [1,1,-1,-1,1,1,-1]: longest run of decreases = 2
    assert(close(eval("SB_BinaryStats_diff_longstretch0", x), 2.0))
    // no value above the mean → 0
    assert(close(eval("SB_BinaryStats_mean_longstretch1", Seq(2.0, 2.0, 2.0)), 0.0))
  }

  test("CO_f1ecac: interpolated first 1/e crossing") {
    // ACF of the triangle: ac(1) = 0 < 1/e already → out = 0 +
    // (1/e − 1)/(0 − 1) = 1 − 1/e
    assert(close(eval("CO_f1ecac", x), 1.0 - 1.0 / math.E))
    // constant window: ACF undefined → null
    assert(eval("CO_f1ecac", Seq(1.0, 1.0, 1.0, 1.0)).isEmpty)
  }

  test("CO_FirstMin_ac: first local ACF minimum") {
    // ac = [1, 0, −0.75, 0, 0.5, …]: ac(1)=0 not below ac(2)=−0.75;
    // ac(2) below both neighbors → 2
    assert(close(eval("CO_FirstMin_ac", x), 2.0))
  }

  test("CO_trev_1_num and MD_hrv_classic_pnn40 over diffs") {
    // diffs [1,1,-1,-1,1,1,-1]: Σd³ = 1 → 1/7
    assert(close(eval("CO_trev_1_num", x), 1.0 / 7.0))
    // every |diff| = 1 > 0.04 → 1.0
    assert(close(eval("MD_hrv_classic_pnn40", x), 1.0))
  }

  test("FC_LocalSimple_mean3_stderr: sample std of mean-3 residuals") {
    // residuals [0, −4/3, 0, 4/3, 0] → ddof-1 std = sqrt((32/9)/4)
    assert(close(eval("FC_LocalSimple_mean3_stderr", x), math.sqrt(8.0) / 3.0))
    // n = 4 → one residual → null
    assert(eval("FC_LocalSimple_mean3_stderr", Seq(1.0, 2.0, 3.0, 4.0)).isEmpty)
  }

  test("FC_LocalSimple_mean1_tauresrat: first-zero ACF ratio") {
    // fz(res) = 1 (ac_res(1) = −8/49 ≤ 0), fz(x) = 1 (ac(1) = 0) → 1.0
    assert(close(eval("FC_LocalSimple_mean1_tauresrat", x), 1.0))
  }

  test("SP_Summaries_welch_rect_centroid: pure period-4 tone sits at π/2") {
    // de-meaned triangle is a period-4 wave: all power at k = n/4 = 2 →
    // centroid = 2π·2/8 = π/2
    assert(close(eval("SP_Summaries_welch_rect_centroid", x), math.Pi / 2))
    // constant window: zero oscillatory energy → null
    assert(eval("SP_Summaries_welch_rect_centroid",
      Seq(5.0, 5.0, 5.0, 5.0, 5.0)).isEmpty)
  }

  test("CO_HistogramAMI_even_2_5: joint 5-bin mutual information at lag 2") {
    // pairs (x_t, x_{t+2}) on the triangle: joint (0,4):2, (2,2):3, (4,0):1
    // over N = 6 → (1/3)ln3 + (1/2)ln2 + (1/6)ln6
    val expect = math.log(3.0) / 3 + math.log(2.0) / 2 + math.log(6.0) / 6
    assert(close(eval("CO_HistogramAMI_even_2_5", x), expect))
    // constant window → null
    assert(eval("CO_HistogramAMI_even_2_5", Seq(2.0, 2.0, 2.0, 2.0)).isEmpty)
  }

  test("IN_AutoMutualInfoStats_40_gaussian_fmmi: first Gaussian-AMI minimum") {
    // AMI(τ) = −½ln(1−ac²): [0, .413, 0, .144, 0, .032, 0] over τ=1..7 —
    // τ=2 is above its neighbors; τ=3 is the first local minimum
    assert(close(eval("IN_AutoMutualInfoStats_40_gaussian_fmmi", x), 3.0))
  }

  test("SP_Summaries_welch_rect_area_5_1: lowest-fifth power fraction") {
    // all power of the period-4 triangle sits at k=2; the lowest fifth of
    // nb=4 bins is just k=1 (power 0) → fraction 0
    assert(close(eval("SP_Summaries_welch_rect_area_5_1", x), 0.0))
    // a slow period-8 tone over n=8 puts all power in k=1 → fraction 1
    val slow = (0 until 8).map(t => math.cos(2.0 * math.Pi * t / 8))
    assert(close(eval("SP_Summaries_welch_rect_area_5_1", slow), 1.0))
  }

  test("SB_MotifThree_quantile_hh: tertile motif-pair entropy") {
    // tertiles of the triangle collapse (q⅓ = q⅔ = 1) → letters
    // [0,0,2,0,0,0,2,0], pair counts (0,0):3 (0,2):2 (2,0):2 over 7
    val expect = -(3.0 / 7 * math.log(3.0 / 7) + 2 * (2.0 / 7) * math.log(2.0 / 7))
    assert(close(eval("SB_MotifThree_quantile_hh", x), expect))
  }

  test("short-window null contract") {
    // n = 1: histogram mode = the value, longstretch1 = 0, diff members null
    assert(close(eval("DN_HistogramMode_5", Seq(7.0)), 7.0))
    assert(close(eval("SB_BinaryStats_mean_longstretch1", Seq(7.0)), 0.0))
    assert(eval("SB_BinaryStats_diff_longstretch0", Seq(7.0)).isEmpty)
    assert(eval("CO_trev_1_num", Seq(7.0)).isEmpty)
    assert(eval("CO_f1ecac", Seq(1.0, 2.0)).isEmpty)
  }

  // ---- tranche 3: exact-arithmetic fixtures (no libm in their
  // construction, so the independently-derived constants below are
  // bit-identical across languages): a drifting period-10 triangle wave
  // and an LCG noise walk.
  private val tria: Seq[Double] =
    (0 until 100).map(t => math.abs(t % 10 - 5) + 0.05 * t)
  private val noise: Seq[Double] = {
    var s = 42L
    (0 until 100).map { _ =>
      s = (1103515245L * s + 12345L) % (1L << 31)
      s.toDouble / (1L << 31).toDouble
    }
  }

  test("DN_OutlierInclude_{p,n}_001_mdrmd: threshold-sweep position medians") {
    // triangle x, z-scored: z = ±2/√3 at the extremes, 0 at the 1s.
    // sign p: every threshold's exceedance set has median position 5
    // (th=0 → {2,3,4,6,7,8}, th>0 → {3,7}) → msDti4 ≡ 5/4 − 1 = 0.25,
    // never trimmed (16.7 % > 2 % throughout) → 0.25
    assert(close(eval("DN_OutlierInclude_p_001_mdrmd", x), 0.25))
    // sign n: th=0 → positions {1,2,4,5,6,8} (median 4.5 → 0.125); th>0 →
    // {1,5} (median 3 → −0.25); median over [0.125, −0.25×115] = −0.25
    assert(close(eval("DN_OutlierInclude_n_001_mdrmd", x), -0.25))
    // constant window → 0 (C convention), both signs
    assert(close(eval("DN_OutlierInclude_p_001_mdrmd", Seq(3.0, 3.0, 3.0)), 0.0))
    assert(close(eval("DN_OutlierInclude_n_001_mdrmd", Seq(3.0, 3.0, 3.0)), 0.0))
    // independently-derived constants on the drifting triangle
    assert(close(eval("DN_OutlierInclude_p_001_mdrmd", tria), 0.63))
    assert(close(eval("DN_OutlierInclude_n_001_mdrmd", tria), -0.65))
  }

  test("SB_TransitionMatrix_3ac_sumdiagcov: tercile transition covariance") {
    // triangle: ACF first-zero τ=1 → no downsampling; terciles collapse
    // (q⅓ = q⅔ = 1) → letters [0,0,2,0,0,0,2,0]; T = [[3,0,2],[0,0,0],
    // [2,0,0]]/7 → column ddof-1 variances 1/21 + 0 + 4/147 = 11/147
    assert(close(eval("SB_TransitionMatrix_3ac_sumdiagcov", x), 11.0 / 147))
    // drifting triangle: independently derived 13/361
    assert(close(eval("SB_TransitionMatrix_3ac_sumdiagcov", tria), 13.0 / 361))
    assert(close(eval("SB_TransitionMatrix_3ac_sumdiagcov", noise),
      5.781722953440129e-4))
    // constant window (ACF undefined) → null
    assert(eval("SB_TransitionMatrix_3ac_sumdiagcov", Seq(1.0, 1.0, 1.0)).isEmpty)
  }

  test("CO_Embed2_Dist_tau_d_expfit_meandiff: successive embed distances") {
    // triangle: τ capped to ⌊8/10⌋ = 0 → d ≡ √2 (every |Δ| = 1) → zero
    // spread → 0 (the C bin-count guard)
    assert(close(eval("CO_Embed2_Dist_tau_d_expfit_meandiff", x), 0.0))
    // LCG noise: independently derived
    assert(close(eval("CO_Embed2_Dist_tau_d_expfit_meandiff", noise),
      0.5318117853368965, 1e-9))
    // constant window → null
    assert(eval("CO_Embed2_Dist_tau_d_expfit_meandiff",
      Seq(2.0, 2.0, 2.0, 2.0, 2.0)).isEmpty)
  }

  test("SC_FluctAnal two-regime split proportions") {
    // n = 8 < 10 → degenerate grid → 0 (C convention), both members
    assert(close(eval("SC_FluctAnal_2_dfa_50_1_2_logi_prop_r1", x), 0.0))
    assert(close(eval("SC_FluctAnal_2_rsrangefit_50_1_logi_prop_r1", x), 0.0))
    // n = 100 → 35 distinct scales; independently-derived split indices
    assert(close(eval("SC_FluctAnal_2_dfa_50_1_2_logi_prop_r1", tria), 18.0 / 35))
    assert(close(eval("SC_FluctAnal_2_rsrangefit_50_1_logi_prop_r1", tria), 29.0 / 35))
    assert(close(eval("SC_FluctAnal_2_dfa_50_1_2_logi_prop_r1", noise), 24.0 / 35))
    assert(close(eval("SC_FluctAnal_2_rsrangefit_50_1_logi_prop_r1", noise), 26.0 / 35))
    // constant window: F ≡ 0 → null
    assert(eval("SC_FluctAnal_2_dfa_50_1_2_logi_prop_r1",
      Seq.fill(40)(3.0)).isEmpty)
  }

  test("SC_FluctAnal members are affine-invariant (raw ≡ z-scored input)") {
    // the documented raw-input convention rests on this: per-buffer linear
    // detrend absorbs the mean, log F shifts uniformly under scaling
    val scaled = noise.map(v => 3.0 * v - 7.0)
    assert(eval("SC_FluctAnal_2_dfa_50_1_2_logi_prop_r1", noise) ==
      eval("SC_FluctAnal_2_dfa_50_1_2_logi_prop_r1", scaled))
    assert(eval("SC_FluctAnal_2_rsrangefit_50_1_logi_prop_r1", noise) ==
      eval("SC_FluctAnal_2_rsrangefit_50_1_logi_prop_r1", scaled))
  }

  test("catch24: battery + DN_Mean / sample-std DN_Spread_Std appended last") {
    import spark.implicits._
    val vals = Seq(2.0, 4.0, 4.0, 4.0, 5.0, 5.0, 7.0, 9.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("idx", "v").repartition(2)
    val r = df.agg(catch24Battery.agg(col("idx"), col("v"))).head.getStruct(0)
    assert(r.length == 24)
    assert(graft.expr.Catch22Util.names24.takeRight(2) ==
      Seq("DN_Mean", "DN_Spread_Std"))
    val mean = r.getDouble(22)
    val sd = r.getDouble(23)
    assert(math.abs(mean - 5.0) < 1e-12)
    // Σ(x-5)² = 9+1+1+1+0+0+4+16 = 32; sample std = sqrt(32/7)
    assert(math.abs(sd - math.sqrt(32.0 / 7)) < 1e-12)
    // the battery prefix is the catch22 result unchanged
    val c22 = df.agg(catch22Tranche1.agg(col("idx"), col("v"))).head.getStruct(0)
    (0 until 22).foreach { i =>
      assert((c22.isNullAt(i) && r.isNullAt(i)) ||
        c22.getDouble(i) == r.getDouble(i), s"member $i differs")
    }
    // n fences on the extras
    val one = Seq((0L, 3.5)).toDF("idx", "v")
    val r1 = one.agg(catch24Battery.agg(col("idx"), col("v"))).head.getStruct(0)
    assert(r1.getDouble(22) == 3.5 && r1.isNullAt(23))
  }

  test("PD_PeriodicityWang_th0_01: spline-detrended ACF period") {
    // the drift is absorbed by the spline; the period-10 triangle wave's
    // first qualifying ACF peak is at lag 10
    assert(close(eval("PD_PeriodicityWang_th0_01", tria), 10.0))
    // LCG noise: independently derived spurious short period
    assert(close(eval("PD_PeriodicityWang_th0_01", noise), 3.0))
    // constant window: ACF undefined everywhere → no peaks → 1
    assert(close(eval("PD_PeriodicityWang_th0_01", Seq.fill(20)(5.0)), 1.0))
    // n < 7 → null
    assert(eval("PD_PeriodicityWang_th0_01", Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)).isEmpty)
  }

  // ---- the replaced outlier-inclusion sweep and fluctuation loops,
  // verbatim: the reference side of the bit-for-bit differential below ----

  private object Replaced {
    private def medianSorted(a: Array[Double], len: Int): Double =
      if (len % 2 == 1) a(len / 2) else (a(len / 2 - 1) + a(len / 2)) / 2.0

    private def linreg(x: Array[Double], y: Array[Double], lo: Int, len: Int): (Double, Double) = {
      var sx = 0.0; var sy = 0.0; var sxx = 0.0; var sxy = 0.0
      var i = 0
      while (i < len) {
        val xv = x(lo + i); val yv = y(lo + i)
        sx += xv; sy += yv; sxx += xv * xv; sxy += xv * yv
        i += 1
      }
      val den = len * sxx - sx * sx
      val m = if (den == 0) 0.0 else (len * sxy - sx * sy) / den
      (m, (sy - m * sx) / len)
    }

    def outlierInclude(x: Array[Double], sign: Double): Any = {
      val n = x.length
      if (n == 0) return null
      var mu = 0.0; var i = 0
      while (i < n) { mu += x(i); i += 1 }
      mu /= n
      var sq = 0.0; i = 0
      while (i < n) { val c = x(i) - mu; sq += c * c; i += 1 }
      val sig = math.sqrt(sq / n)
      if (sig == 0.0) return java.lang.Double.valueOf(0.0)
      val inc = 0.01
      val yW = new Array[Double](n)
      var tot = 0
      var maxVal = Double.NegativeInfinity
      i = 0
      while (i < n) {
        yW(i) = sign * (x(i) - mu) / sig
        if (yW(i) >= 0) tot += 1
        if (yW(i) > maxVal) maxVal = yW(i)
        i += 1
      }
      if (maxVal < inc) return java.lang.Double.valueOf(0.0)
      var nThresh = (maxVal / inc).toInt + 1
      val msDti3 = new Array[Double](nThresh)
      val msDti4 = new Array[Double](nThresh)
      val thin = new Array[Boolean](nThresh)
      val r = new Array[Double](n)
      var j = 0
      while (j < nThresh) {
        val th = j * inc
        var hs = 0
        i = 0
        while (i < n) { if (yW(i) >= th) { r(hs) = i + 1.0; hs += 1 }; i += 1 }
        if (hs == 0) {
          nThresh = j
        } else {
          msDti3(j) = (hs - 1) * 100.0 / tot
          msDti4(j) = medianSorted(r, hs) / (n / 2.0) - 1.0
          thin(j) = hs < 2
        }
        j += 1
      }
      var mj = 0; var fbi = nThresh - 1
      j = 0
      while (j < nThresh) {
        if (msDti3(j) > 2.0) mj = j
        if (thin(nThresh - 1 - j)) fbi = nThresh - 1 - j
        j += 1
      }
      val lim = math.min(mj, fbi)
      val m4 = java.util.Arrays.copyOfRange(msDti4, 0, lim + 1)
      java.util.Arrays.sort(m4)
      java.lang.Double.valueOf(medianSorted(m4, lim + 1))
    }

    def fluctAnal(x: Array[Double], lag: Int, dfa: Boolean): Any = {
      val n = x.length
      if (n == 0) return null
      if (n < 10) return java.lang.Double.valueOf(0.0)
      val nTauSteps = 50
      val linLow = math.log(5.0)
      val linHigh = math.log((n / 2).toDouble)
      val tauStep = (linHigh - linLow) / (nTauSteps - 1)
      val tauBuf = new Array[Int](nTauSteps)
      var i = 0
      while (i < nTauSteps) {
        tauBuf(i) = math.round(math.exp(linLow + i * tauStep)).toInt
        i += 1
      }
      var nTau = nTauSteps
      i = 0
      while (i < nTau - 1) {
        while (i < nTau - 1 && tauBuf(i) == tauBuf(i + 1)) {
          var j = i + 1
          while (j < nTau - 1) { tauBuf(j) = tauBuf(j + 1); j += 1 }
          nTau -= 1
        }
        i += 1
      }
      if (nTau < 12) return java.lang.Double.valueOf(0.0)
      val sizeCS = n / lag
      val yCS = new Array[Double](sizeCS)
      var acc = 0.0
      i = 0
      while (i < sizeCS) { acc += x(i * lag); yCS(i) = acc; i += 1 }
      val logtt = new Array[Double](nTau)
      val logFF = new Array[Double](nTau)
      i = 0
      while (i < nTau) {
        val tau = tauBuf(i)
        val nBuffer = sizeCS / tau
        if (nBuffer == 0) return null
        var f = 0.0
        var j = 0
        while (j < nBuffer) {
          val lo = j * tau
          var sx = 0.0; var sy = 0.0; var sxx = 0.0; var sxy = 0.0
          var k = 0
          while (k < tau) {
            val xv = (k + 1).toDouble; val yv = yCS(lo + k)
            sx += xv; sy += yv; sxx += xv * xv; sxy += xv * yv
            k += 1
          }
          val den = tau * sxx - sx * sx
          val mm = if (den == 0) 0.0 else (tau * sxy - sx * sy) / den
          val bb = (sy - mm * sx) / tau
          if (dfa) {
            k = 0
            while (k < tau) {
              val rr = yCS(lo + k) - (mm * (k + 1) + bb); f += rr * rr; k += 1
            }
          } else {
            var rmn = Double.MaxValue; var rmx = -Double.MaxValue
            k = 0
            while (k < tau) {
              val rr = yCS(lo + k) - (mm * (k + 1) + bb)
              if (rr < rmn) rmn = rr
              if (rr > rmx) rmx = rr
              k += 1
            }
            f += (rmx - rmn) * (rmx - rmn)
          }
          j += 1
        }
        val fv = if (dfa) math.sqrt(f / (nBuffer * tau)) else math.sqrt(f / nBuffer)
        if (!(fv > 0.0)) return null
        logtt(i) = math.log(tau.toDouble)
        logFF(i) = math.log(fv)
        i += 1
      }
      val minPoints = 6
      var best = Double.MaxValue
      var bestI = -1
      var sp = minPoints
      while (sp <= nTau - minPoints) {
        val (m1, b1) = linreg(logtt, logFF, 0, sp)
        val (m2, b2) = linreg(logtt, logFF, sp - 1, nTau - sp + 1)
        var s1 = 0.0
        var j = 0
        while (j < sp) { val rr = logtt(j) * m1 + b1 - logFF(j); s1 += rr * rr; j += 1 }
        var s2 = 0.0
        j = sp - 1
        while (j < nTau) { val rr = logtt(j) * m2 + b2 - logFF(j); s2 += rr * rr; j += 1 }
        val e = math.sqrt(s1) + math.sqrt(s2)
        if (e < best) { best = e; bestI = sp }
        sp += 1
      }
      java.lang.Double.valueOf(bestI.toDouble / nTau)
    }
  }

  test("catch24 ≡ the replaced outlier sweep and fluctuation loops, bit-for-bit") {
    import graft.expr.Catch22Util
    val rng = new scala.util.Random(22)
    def shaped(n: Int, shape: Int): Array[Double] = shape match {
      case 0 => var w = 50.0; Array.fill(n) { w += rng.nextGaussian(); w } // walk
      case 1 => Array.fill(n)(rng.nextInt(4).toDouble) // heavy ties
      case 2 => Array.fill(n)(-2.5) // constant
      case 3 => Array.tabulate(n)(t => if (t == n / 3) 40.0 else 1.0) // single spike
      case 4 => Array.tabulate(n)(t => 0.5 * t - 3.0) // monotone up
      case 5 => Array.tabulate(n)(t => 1e3 - t * t * 0.01) // monotone down
      case _ => Array.fill(n)(math.tan(math.Pi * (rng.nextDouble() - 0.5))) // Cauchy tails
    }
    val sizes = (0 to 40) ++ Seq(255, 256, 257) ++
      (6 to 12).map(1 << _) ++ Seq(3300, 3456)
    val windows = (for (n <- sizes; shape <- 0 to 6) yield shaped(n, shape)) ++ Seq(
      Array(1.0, Double.NaN, 2.0, 5.0, 3.0),
      Array.tabulate(300)(t => if (t == 7) Double.PositiveInfinity else t % 13),
      Array(1e300, -1e300, 1e300, -1e300, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0),
      Array(0.0, -0.0, 0.0, -0.0, 1.0))
    val idx = Catch22Util.names24.zipWithIndex.toMap
    def rawBits(row: org.apache.spark.sql.catalyst.InternalRow, f: Int): Option[Long] =
      if (row.isNullAt(f)) None
      else Some(java.lang.Double.doubleToRawLongBits(row.getDouble(f)))
    def refBits(v: Any): Option[Long] =
      Option(v).map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))
    var compared = 0
    for (x <- windows) {
      val got = Catch22Util.compute(x, catch24 = true, Catch22Util.members(catch24 = true))
      assert(got.numFields == 24)
      val want = Map(
        "DN_OutlierInclude_p_001_mdrmd" -> Replaced.outlierInclude(x, 1.0),
        "DN_OutlierInclude_n_001_mdrmd" -> Replaced.outlierInclude(x, -1.0),
        "SC_FluctAnal_2_dfa_50_1_2_logi_prop_r1" -> Replaced.fluctAnal(x, 2, dfa = true),
        "SC_FluctAnal_2_rsrangefit_50_1_logi_prop_r1" -> Replaced.fluctAnal(x, 1, dfa = false))
      for ((name, v) <- want) {
        assert(rawBits(got, idx(name)) == refBits(v),
          s"$name diverged at n=${x.length}: kernel=${got.get(idx(name), org.apache.spark.sql.types.DoubleType)} replaced=$v")
        compared += 1
      }
      // the other 20 members run code this rewrite leaves alone (their FFT
      // twiddle tables are pinned by FftSpec); a second evaluation — every
      // table size now cached — must reproduce all 24 fields' bits
      val again = Catch22Util.compute(x, catch24 = true, Catch22Util.members(catch24 = true))
      for (f <- 0 until 24)
        assert(rawBits(again, f) == rawBits(got, f),
          s"${Catch22Util.names24(f)} not reproducible at n=${x.length}")
    }
    assert(compared == windows.length * 4)
  }
}
