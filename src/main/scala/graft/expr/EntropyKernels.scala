package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** r11 tranche-4 entropy/complexity kernels completing the reference's
  * antropy + pyentrp integration surfaces (reference:
  * tsflex/features/integrations.py:15-337; exercised by
  * tests/test_features_integration.py:360-430 `test_antropy_all_features`
  * and :500-540 `test_pyentrp_all_features`): SVD entropy, Lempel–Ziv
  * complexity, multiscale permutation entropy, and exact
  * (Richman–Moorman) sample entropy / multiscale entropy.
  *
  * All are per-WINDOW kernels over an index-ordered array — the same
  * deliberate cost model as [[SpectralEntropyUtil]] / [[Catch22Util]]:
  * bounded by window length, never by corpus size; the 100 TB axis is
  * window COUNT, which parallelizes embarrassingly. The only
  * super-linear member is exact sample entropy (O(n²·m) pair scan — the
  * definition), which is why the relational stock keeps the O(n log n)
  * binned approximation ([[graft.core.FeatureFuncs.sampleEntropyApprox]])
  * as the default and offers this kernel for exact-parity needs.
  *
  * NaN convention (r15, when these kernels replaced the Catalyst-HOF
  * folds): NaN inputs follow JAVA comparison semantics — NaN compares
  * false under &lt;/&lt;= and unequal to itself under primitive `==` — where
  * the replaced Column versions followed Spark SQL's NaN-greatest /
  * NaN-equals-NaN ordering. For NaN-bearing windows the two therefore
  * disagree (e.g. shannonFreq counts each NaN as its own run); neither
  * behavior is the reference's (numpy propagates NaN through sorts
  * unpredictably), NaN windows are outside the oracle contract, and the
  * robust wrapper (A5) remains the supported route for NaN data.
  */
object EntropyKernelUtil {

  /** Cyclic Jacobi eigenvalues of a symmetric d×d matrix (d ≤ 6 here —
    * a handful of sweeps; destroys `a`).
    */
  def jacobiEigen(a: Array[Array[Double]], d: Int): Array[Double] = {
    var sweep = 0
    var off = 0.0
    var j = 0
    while (j < d) { var k = j + 1; while (k < d) { off += a(j)(k) * a(j)(k); k += 1 }; j += 1 }
    // convergence threshold RELATIVE to the matrix scale: an absolute
    // 1e-28 cutoff skipped every sweep for tiny-amplitude windows (Gram
    // entries ~1e-17 from ~1e-10 signals), returning the unrotated
    // diagonal and breaking svd_entropy's scale invariance
    var norm2 = 0.0
    j = 0
    while (j < d) { var k = 0; while (k < d) { norm2 += a(j)(k) * a(j)(k); k += 1 }; j += 1 }
    val tol = 1e-24 * math.max(norm2, java.lang.Double.MIN_NORMAL)
    while (sweep < 64 && off > tol) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = 0.0
      j = 0
      while (j < d) { var k = j + 1; while (k < d) { off += a(j)(k) * a(j)(k); k += 1 }; j += 1 }
      sweep += 1
    }
    Array.tabulate(d)(i => a(i)(i))
  }

  private def log2(x: Double): Double = math.log(x) / math.log(2.0)

  /** Closed-form eigenvalues of a symmetric 3×3 matrix (trigonometric
    * method). Used for order-3 SVD entropy so the Scala kernel and the
    * DuckDB oracle execute the SAME arithmetic (the Jacobi path stays for
    * other orders); differentially tested against Jacobi in the spec.
    */
  def eigen3(g00: Double, g01: Double, g02: Double,
             g11: Double, g12: Double, g22: Double): Array[Double] = {
    val q = (g00 + g11 + g22) / 3.0
    val p1 = g01 * g01 + g02 * g02 + g12 * g12
    val p2 = (g00 - q) * (g00 - q) + (g11 - q) * (g11 - q) +
      (g22 - q) * (g22 - q) + 2.0 * p1
    if (!(p2 > 0)) return Array(q, q, q) // multiple of the identity
    val p = math.sqrt(p2 / 6.0)
    val b00 = (g00 - q) / p; val b11 = (g11 - q) / p; val b22 = (g22 - q) / p
    val b01 = g01 / p; val b02 = g02 / p; val b12 = g12 / p
    val det = b00 * (b11 * b22 - b12 * b12) - b01 * (b01 * b22 - b12 * b02) +
      b02 * (b01 * b12 - b11 * b02)
    val r = det / 2.0
    val phi =
      if (r <= -1.0) math.Pi / 3.0
      else if (r >= 1.0) 0.0
      else math.acos(r) / 3.0
    val l1 = q + 2.0 * p * math.cos(phi)
    val l3 = q + 2.0 * p * math.cos(phi + 2.0 * math.Pi / 3.0)
    Array(l1, 3.0 * q - l1 - l3, l3)
  }

  /** antropy `svd_entropy(order, delay)`: Shannon entropy (bits) of the
    * normalized singular-value spectrum of the time-delay embedding
    * matrix. Singular values come from the order×order Gram matrix YᵀY
    * (O(n·order²) accumulation + an O(order³) eigen solve — never an
    * n-sized decomposition), normalized to Σs = 1; optionally divided by
    * log2(order). Null when the embedding is empty (n < (order−1)·delay+1)
    * or the window is all-zero.
    */
  def svdEntropy(x: Array[Double], order: Int, delay: Int,
                 normalize: Boolean): Any = {
    // a negative delay passes the m >= 1 gate with m > n and then indexes
    // x out of bounds mid-task; delay 0 makes all embedding columns
    // identical (a meaningless rank-1 result antropy rejects)
    require(order >= 1 && delay >= 1,
      s"svd_entropy needs order >= 1 and delay >= 1, got ($order, $delay)")
    val m = x.length - (order - 1) * delay
    if (m < 1) return null
    var i = 0
    val g = Array.ofDim[Double](order, order)
    var j = 0
    while (j < order) {
      var k = j
      while (k < order) {
        var s = 0.0
        var t = 0
        while (t < m) { s += x(t + j * delay) * x(t + k * delay); t += 1 }
        g(j)(k) = s
        g(k)(j) = s
        k += 1
      }
      j += 1
    }
    val ev =
      if (order == 3)
        eigen3(g(0)(0), g(0)(1), g(0)(2), g(1)(1), g(1)(2), g(2)(2))
      else jacobiEigen(g, order)
    val sv = new Array[Double](order)
    i = 0
    var smax = 0.0
    while (i < order) {
      sv(i) = math.sqrt(math.max(ev(i), 0.0))
      if (sv(i) > smax) smax = sv(i)
      i += 1
    }
    // rank-deficiency fence: the closed-form/Jacobi eigen solve leaves
    // O(√(ulp·‖A‖)) ≈ 3e-8·s_max of FP dust on degenerate spectra, and
    // p·log p amplifies it to ~1e-7 entropy noise that the two engines
    // (Java Math vs libm trig) round DIFFERENTLY near r = ±1. Singular
    // values below 1e-6·s_max are noise by construction — zero them
    // (documented convention, mirrored exactly in the DuckDB oracle).
    var tot = 0.0
    i = 0
    while (i < order) {
      if (sv(i) < 1e-6 * smax) sv(i) = 0.0
      tot += sv(i)
      i += 1
    }
    if (!(tot > 0)) return null
    var h = 0.0
    i = 0
    while (i < order) {
      val p = sv(i) / tot
      if (p > 0) h -= p * log2(p)
      i += 1
    }
    java.lang.Double.valueOf(if (normalize) h / log2(order.toDouble) else h)
  }

  /** Kaspar–Schuster LZ76 phrase count of a 0/1 array. */
  def lz76(b: Array[Byte]): Int = {
    val n = b.length
    if (n == 0) return 0
    if (n == 1) return 1
    var c = 1; var l = 1; var i = 0; var k = 1; var kmax = 1
    var done = false
    while (!done) {
      if (b(i + k - 1) == b(l + k - 1)) {
        k += 1
        if (l + k > n) { c += 1; done = true }
      } else {
        if (k > kmax) kmax = k
        i += 1
        if (i == l) {
          c += 1
          l += kmax
          if (l + 1 > n) done = true
          else { i = 0; k = 1; kmax = 1 }
        } else k = 1
      }
    }
    c
  }

  /** antropy-family `lziv_complexity` over the MEDIAN-binarized window
    * (bᵢ = 1 iff xᵢ > median — our documented symbolization, the common
    * binarization convention; antropy takes a pre-binarized sequence).
    * Optionally normalized to c·log2(n)/n. Null for windows shorter
    * than 2.
    */
  def lzivComplexity(x: Array[Double], normalize: Boolean): Any = {
    val n = x.length
    if (n < 2) return null
    val sorted = x.clone()
    java.util.Arrays.sort(sorted)
    val med =
      if (n % 2 == 1) sorted(n / 2)
      else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
    val b = new Array[Byte](n)
    var i = 0
    while (i < n) { b(i) = if (x(i) > med) 1 else 0; i += 1 }
    val c = lz76(b)
    java.lang.Double.valueOf(
      if (normalize) c * log2(n.toDouble) / n else c.toDouble)
  }

  /** Bandt–Pompe permutation entropy (bits) of `x[0 until len]`, delay 1,
    * numpy-stable tie rule — the array-kernel twin of the relational
    * [[graft.core.FeatureFuncs.permutationEntropy]]. NaN when len < order
    * (caller converts to null).
    */
  def permEntropy(x: Array[Double], len: Int, order: Int): Double = {
    val m = len - order + 1
    if (m < 1) return Double.NaN
    val codes = new Array[Long](m)
    var t = 0
    while (t < m) {
      var code = 0L
      var i = 0
      while (i < order) {
        var rank = 0
        var j = 0
        while (j < order) {
          if (j != i) {
            val lt =
              if (j < i) x(t + j) <= x(t + i)
              else x(t + j) < x(t + i)
            if (lt) rank += 1
          }
          j += 1
        }
        code = code * order + rank
        i += 1
      }
      codes(t) = code
      t += 1
    }
    java.util.Arrays.sort(codes)
    var h = 0.0
    var run = 1
    t = 1
    while (t <= m) {
      if (t < m && codes(t) == codes(t - 1)) run += 1
      else {
        if (run > 1) h += run * log2(run.toDouble)
        run = 1
      }
      t += 1
    }
    log2(m.toDouble) - h / m
  }

  /** pyentrp `multiscale_permutation_entropy`: non-overlapping coarse-grain
    * means at scales 1..maxScale (trailing partial block dropped), then
    * [[permEntropy]] per scale. One output column per scale; a scale whose
    * coarse series is shorter than `order` yields null.
    */
  def mspe(x: Array[Double], order: Int, maxScale: Int): InternalRow = {
    val n = x.length
    val out = new Array[Any](maxScale)
    var s = 1
    while (s <= maxScale) {
      val m = n / s
      val y = new Array[Double](m)
      var j = 0
      while (j < m) {
        var acc = 0.0
        var k = 0
        while (k < s) { acc += x(j * s + k); k += 1 }
        y(j) = acc / s
        j += 1
      }
      val h = permEntropy(y, m, order)
      out(s - 1) = if (h.isNaN) null else java.lang.Double.valueOf(h)
      s += 1
    }
    new GenericInternalRow(out)
  }

  /** Exact Richman–Moorman sample entropy of `x[0 until len]`: −ln(A/B)
    * with B/A the counts of ordered template pairs (i < j) of length
    * m/m+1 within Chebyshev distance r. NaN when either count is 0 or
    * len ≤ m+1.
    *
    * A and B are INTEGER counts of pairs satisfying exact float
    * comparisons, so any enumeration that visits the same pair set is
    * bit-identical output — which licenses the banded counter below
    * (r17): template starts sorted by their FIRST coordinate, a
    * two-pointer band keeping only |x_i − x_j| ≤ r candidates, remaining
    * coordinates checked per candidate. The replaced full scan paid
    * (n−m)²/2 first-coordinate compares regardless of r (the q103 100×
    * profile's cost); the band pays n log n + (surviving pairs)·m. A
    * non-finite sample or tolerance falls back to the scan: the band's
    * total-order walk would diverge from the scan's NaN-compares-false
    * semantics (abs(NaN) > r is FALSE, so the scan treats NaN diffs as
    * matches — preserved verbatim in the fallback).
    */
  def sampEnExact(x: Array[Double], len: Int, m: Int, r: Double): Double = {
    if (len <= m + 1) return Double.NaN
    var finite = java.lang.Double.isFinite(r)
    var i = 0
    while (finite && i < len) {
      if (!java.lang.Double.isFinite(x(i))) finite = false
      i += 1
    }
    val nT = len - m // template starts 0..nT−1 (the shared-positions
                     // convention: A/B is a true conditional probability)
    var a = 0L
    var b = 0L
    if (!finite || nT < 64) {
      // full scan — the replaced form, verbatim (also the small-n path:
      // below ~64 templates the sort/alloc overhead beats the savings)
      i = 0
      while (i < nT) {
        var j = i + 1
        while (j < nT) {
          var k = 0
          var ok = true
          while (ok && k < m) {
            if (math.abs(x(i + k) - x(j + k)) > r) ok = false
            k += 1
          }
          if (ok) {
            b += 1
            if (math.abs(x(i + m) - x(j + m)) <= r) a += 1
          }
          j += 1
        }
        i += 1
      }
    } else {
      val ord = Array.range(0, nT).sortBy(x(_))
      var p = 0
      while (p < nT) {
        val ip = ord(p)
        val xp = x(ip)
        var q = p + 1
        while (q < nT && x(ord(q)) - xp <= r) {
          val iq = ord(q)
          var k = 1
          var ok = true
          while (ok && k < m) {
            if (math.abs(x(ip + k) - x(iq + k)) > r) ok = false
            k += 1
          }
          if (ok) {
            b += 1
            if (math.abs(x(ip + m) - x(iq + m)) <= r) a += 1
          }
          q += 1
        }
        p += 1
      }
    }
    if (a == 0L || b == 0L) Double.NaN else -math.log(a.toDouble / b.toDouble)
  }

  /** tsfel `entropy(prob="kde"/"gauss")` (the last members of the
    * reference's integration surface, tests/test_features_integration
    * .py:247-248): normalized Shannon entropy (bits over log2 n) of the
    * per-sample probabilities from
    *  - kde: a gaussian KDE evaluated at the sample points — Silverman
    *    bandwidth h = s·(3n/4)^(-1/5) with sample std (ddof=1, scipy's
    *    gaussian_kde covariance), density_i ∝ Σⱼ exp(-(xᵢ-xⱼ)²/(2h²))
    *    including the self term (constant factors cancel under the
    *    probability normalization — which also makes the result
    *    scale-invariant, so tsfel's max-abs pre-scaling is a no-op here);
    *  - gauss: the N(mean, std²) pdf at the sample points (population
    *    std, numpy's default ddof=0).
    * Conventions pinned per tsfel's published formulation: n == 2 → 0.0
    * (its log2(len)==1 guard); constant window → 0.0 for gauss (its
    * std==0 guard) and null for kde (singular KDE covariance raises).
    * kde sorts `x` in place.
    */
  def kdeEntropy(x: Array[Double], gauss: Boolean): Any = {
    val n = x.length
    if (n < 2) return null
    var i = 0
    while (i < n) {
      // a non-finite sample poisons every probability; without this guard
      // the pn > 0 screen below would silently return 0.0 (a confident-
      // looking entropy for garbage input) while the oracle propagates NaN
      if (!java.lang.Double.isFinite(x(i))) return null
      i += 1
    }
    var s = 0.0
    i = 0
    while (i < n) { s += x(i); i += 1 }
    val mean = s / n
    // two-pass variance: the one-pass s2/n - mean^2 form cancels
    // catastrophically on near-constant windows (the r11 Wavelet advisory)
    var ss = 0.0
    i = 0
    while (i < n) { val d = x(i) - mean; ss += d * d; i += 1 }
    val varPop = ss / n
    val p = new Array[Double](n)
    if (gauss) {
      if (varPop == 0.0) return java.lang.Double.valueOf(0.0)
      if (n == 2) return java.lang.Double.valueOf(0.0)
      val inv2v = 1.0 / (2.0 * varPop)
      i = 0
      while (i < n) {
        val d = x(i) - mean; p(i) = math.exp(-d * d * inv2v); i += 1
      }
    } else {
      val varSamp = varPop * n / (n - 1.0)
      if (varSamp == 0.0) return null
      if (n == 2) return java.lang.Double.valueOf(0.0)
      val h = math.sqrt(varSamp) * math.pow(3.0 * n / 4.0, -0.2)
      val inv2h2 = 1.0 / (2.0 * h * h)
      // The kernel matrix is symmetric: evaluate each exp once for i<j and
      // credit both rows; the self term is exp(0) = 1 (halves the O(n^2)
      // exp cost — the dominant cost of this member on big windows).
      // Entropy is a symmetric function of the probability MULTISET, so the
      // samples can be sorted first: the per-row densities come out in
      // sorted-position order instead of input order, which changes nothing
      // downstream. On the sorted array the inner loop early-terminates at
      // the first gap > 8.6h: every p accumulator carries the self term
      // (>= 1.0, ulp >= 2^-52) before any pair term lands, and
      // exp(-(8.6)^2/2) = 8.7e-17 < 2^-53, so each dropped term would have
      // been absorbed to an exact no-op by round-to-nearest anyway — the
      // truncation only skips adds that could not change any bit. (The
      // sorted accumulation ORDER does reorder the float sums vs the r15
      // unsorted loop — last-ulp drift, inside every consumer's tolerance.)
      // (r17 measurement note: on the events corpus the per-window value
      // spread is tight relative to cut = 8.6h ≈ 1.8σ, so the sorted
      // early-termination prunes almost nothing — a same-box fresh-JVM
      // differential vs the r16 unsorted loop read 770.8 vs 763.9 s
      // executor-CPU at 100×, i.e. neutral. It is kept because the
      // truncation is EXACT (see above) and heavy-tailed windows do
      // benefit; the real q110 lever was evaluating the kernel only on
      // kept windows — calculate(windowKeep), SparkEntry.bigWindowKeep.)
      java.util.Arrays.sort(x, 0, n)
      val cut = 8.6 * h
      i = 0
      while (i < n) { p(i) = 1.0; i += 1 }
      i = 0
      while (i < n) {
        val xi = x(i)
        var j = i + 1
        while (j < n && x(j) - xi <= cut) {
          val d = xi - x(j); val k = math.exp(-d * d * inv2h2)
          p(i) += k; p(j) += k; j += 1
        }
        i += 1
      }
    }
    var tot = 0.0
    i = 0
    while (i < n) { tot += p(i); i += 1 }
    var hEnt = 0.0
    i = 0
    while (i < n) {
      val pn = p(i) / tot
      if (pn > 0) hEnt -= pn * log2(pn)
      i += 1
    }
    java.lang.Double.valueOf(hEnt / log2(n.toDouble))
  }

  /** pyentrp-family `multiscale_entropy` with EXACT sample entropy:
    * coarse-grain means at scales 1..maxScale, [[sampEnExact]] per scale
    * at fixed absolute tolerance r (fixed on the ORIGINAL series, the MSE
    * convention — and oracle-robust, like the q99d keyed variant). One
    * output column per scale.
    */
  def mseExact(x: Array[Double], m: Int, r: Double, maxScale: Int): InternalRow = {
    val n = x.length
    val out = new Array[Any](maxScale)
    var s = 1
    while (s <= maxScale) {
      val mm = n / s
      val y = new Array[Double](mm)
      var j = 0
      while (j < mm) {
        var acc = 0.0
        var k = 0
        while (k < s) { acc += x(j * s + k); k += 1 }
        y(j) = acc / s
        j += 1
      }
      val h = sampEnExact(y, mm, m, r)
      out(s - 1) = if (h.isNaN) null else java.lang.Double.valueOf(h)
      s += 1
    }
    new GenericInternalRow(out)
  }

  /** pyentrp `weighted_permutation_entropy` (delay 1) over the
    * index-ordered window — the native twin of the r14 Catalyst-HOF fold
    * in FeatureFuncs (same contract: Bandt–Pompe codes with the stable
    * argsort tie rule, weighted by per-tuple POPULATION variance;
    * H = log2(W) − Σ w·log2(w)/W; null when n < order or total weight 0;
    * zero-weight observed patterns contribute 0). Replaces the
    * sort-of-structs + per-element struct-allocating fold (the 100×
    * profile's slowest kernel) with one primitive pass: codes are
    * direct-indexed into a double[order^order] (≤ 46656 for order 6), so
    * there is no sort, no boxing, and no allocation past the two arrays.
    */
  def wpe(x: Array[Double], order: Int, normalize: Boolean): Any = {
    val n = x.length
    if (n < order) return null
    var codeSpace = 1
    var i = 0
    while (i < order) { codeSpace *= order; i += 1 }
    val w = new Array[Double](codeSpace)
    var tot = 0.0
    val m = n - order + 1
    var t = 0
    while (t < m) {
      var mu = 0.0
      var j = 0
      while (j < order) { mu += x(t + j); j += 1 }
      mu /= order
      var va = 0.0
      j = 0
      while (j < order) { val d = x(t + j) - mu; va += d * d; j += 1 }
      va /= order
      var code = 0
      i = 0
      while (i < order) {
        var rank = 0
        j = 0
        while (j < order) {
          if (j != i) {
            val lt =
              if (j < i) x(t + j) <= x(t + i)
              else x(t + j) < x(t + i)
            if (lt) rank += 1
          }
          j += 1
        }
        code = code * order + rank
        i += 1
      }
      w(code) += va
      tot += va
      t += 1
    }
    if (!(tot > 0)) return null // constant window (0 weight) — pyentrp's 0/0
    var h = 0.0
    i = 0
    while (i < codeSpace) {
      val wi = w(i)
      if (wi > 0) h += wi * log2(wi)
      i += 1
    }
    var logFact = 0.0
    i = 2
    while (i <= order) { logFact += log2(i.toDouble); i += 1 }
    val res = log2(tot) - h / tot
    java.lang.Double.valueOf(if (normalize) res / logFact else res)
  }

  /** antropy `perm_entropy` over the index-ordered window — the whole-
    * window form of [[permEntropy]] with the normalize option (same null
    * contract as the Catalyst version it replaces: null when the window
    * has fewer than `order` samples).
    */
  def permEntropyArr(x: Array[Double], order: Int, normalize: Boolean): Any = {
    val h = permEntropy(x, x.length, order)
    if (h.isNaN) return null
    var logFact = 0.0
    var i = 2
    while (i <= order) { logFact += log2(i.toDouble); i += 1 }
    java.lang.Double.valueOf(if (normalize) h / logFact else h)
  }

  // ---- binned ApEn/SampEn core (native twin of the quantize → m-tuple →
  // sort → run-fold Catalyst machinery in FeatureFuncs.{apEnImpl,
  // sampEnImpl}; same same-cell match relaxation, same null contract) ----

  /** Lexicographic compare of the mm-length bin templates starting at
    * `a` and `b`. */
  private def cmpTpl(bins: Array[Long], mm: Int, a: Int, b: Int): Int = {
    var k = 0
    while (k < mm) {
      val d = java.lang.Long.compare(bins(a + k), bins(b + k))
      if (d != 0) return d
      k += 1
    }
    0
  }

  /** Σ f(run) over equal-template runs of the mm-length templates of
    * `bins` (template count N = bins.length − mm + 1; 0 when N ≤ 0).
    * Template START indices are sorted lexicographically — no per-template
    * array materializes.
    */
  private def templateRunFold(bins: Array[Long], mm: Int)
                             (f: Long => Double): Double = {
    val nT = bins.length - mm + 1
    if (nT <= 0) return 0.0
    val idx = new Array[Integer](nT)
    var i = 0
    while (i < nT) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) =>
      cmpTpl(bins, mm, a.intValue(), b.intValue()))
    var s = 0.0
    var run = 1L
    i = 1
    while (i <= nT) {
      if (i < nT && cmpTpl(bins, mm, idx(i - 1).intValue(), idx(i).intValue()) == 0)
        run += 1
      else {
        s += f(run)
        run = 1
      }
      i += 1
    }
    s
  }

  private def binsOf(x: Array[Double], w: Double): Array[Long] = {
    val b = new Array[Long](x.length)
    var i = 0
    while (i < x.length) { b(i) = math.floor(x(i) / w).toLong; i += 1 }
    b
  }

  /** Binned approximate entropy φ(m) − φ(m+1) with
    * φ(mm) = (Σ_runs c·ln c)/N − ln N over quantization-cell template
    * codes (cell = floor(x/w)) — see FeatureFuncs.apEnImpl for the
    * algorithm contract. Null when w ≤ 0 or the window is shorter than
    * m+1 (either φ undefined), exactly the Column version's null cases.
    */
  def apenBinned(x: Array[Double], w: Double, m: Int): Any = {
    if (!(w > 0)) return null
    val bins = binsOf(x, w)
    def phi(mm: Int): Double = {
      val nT = bins.length - mm + 1
      if (nT <= 0) return Double.NaN
      val s = templateRunFold(bins, mm)(c =>
        if (c > 1) c * math.log(c.toDouble) else 0.0)
      s / nT - math.log(nT.toDouble)
    }
    val r = phi(m) - phi(m + 1)
    if (r.isNaN) null else java.lang.Double.valueOf(r)
  }

  /** Binned sample entropy ln B − ln A (= −ln(A/B)) with B/A the
    * same-cell template-pair counts at lengths m / m+1 — see
    * FeatureFuncs.sampEnImpl. Null when w ≤ 0 or either count is 0
    * (Spark's ln(0) → NULL convention, which the Column version relied
    * on).
    */
  def sampenBinned(x: Array[Double], w: Double, m: Int): Any = {
    if (!(w > 0)) return null
    val bins = binsOf(x, w)
    def pairs(mm: Int): Double =
      templateRunFold(bins, mm)(c => c.toDouble * (c - 1) / 2.0)
    val b = pairs(m)
    val a = pairs(m + 1)
    if (b <= 0 || a <= 0) return null
    java.lang.Double.valueOf(math.log(b) - math.log(a))
  }

  /** pyentrp `shannon_entropy`: value-frequency Shannon entropy in bits —
    * native twin of the array_sort + run-fold Catalyst chain (q101's
    * second kernel). Sorts a primitive copy and counts equal-value runs;
    * primitive `==` groups −0.0 with 0.0 exactly as Spark's `===` does
    * (Arrays.sort keeps them adjacent, so the run stays contiguous), and
    * NaN samples are grouped into ONE run — Spark's ordering/equality
    * treats NaN = NaN (the replaced Column fold inherited that), and
    * Arrays.sort puts all NaNs adjacent at the end, so the explicit
    * isNaN-pair check keeps the run contiguous where primitive `==`
    * (NaN != NaN) would have split each NaN into its own singleton run.
    * (pyentrp itself hashes floats, where every NaN IS its own value —
    * NaN windows are outside the oracle contract; we pin the Spark/Column
    * convention, see KernelDegenerateSpec.) Null for an empty window.
    * Sorts `x` in place.
    */
  def shannonFreq(x: Array[Double]): Any = {
    val n = x.length
    if (n == 0) return null
    java.util.Arrays.sort(x)
    var h = 0.0
    var run = 1
    var i = 1
    while (i <= n) {
      if (i < n && (x(i) == x(i - 1) ||
          (java.lang.Double.isNaN(x(i)) && java.lang.Double.isNaN(x(i - 1)))))
        run += 1
      else {
        if (run > 1) h += run * log2(run.toDouble)
        run = 1
      }
      i += 1
    }
    java.lang.Double.valueOf(log2(n.toDouble) - h / n)
  }
}
