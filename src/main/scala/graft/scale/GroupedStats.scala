package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT grouped order statistics at scale.
  *
  * The naive encodings of "median per key" are `percentile` inside a
  * `groupBy` (collects each group's values into one aggregation buffer —
  * a billion-row key OOMs one task) or `row_number() OVER (PARTITION BY
  * key ORDER BY v)` (one window task per key — a hot key serializes).
  * `Scan.keyedRank` already solves the layout problem: range-partition on
  * (key, value) so one key spans many tasks, rank with partition-local
  * windows, stitch with a summary-sized offset join. On top of those
  * ranks, an exact linear-interpolation quantile is two filtered rows per
  * (key, quantile) and one final hash aggregate.
  */
object GroupedStats {

  /** Every key of `df`, left-joined to its row of `result` (keyed on
    * `keyCol`): keys whose statistic is degenerate (all-null, constant or
    * too-short series) still surface, with NULLs. The join is null-safe
    * (<=>), so a NULL key is one key, as in the operators' groupBys.
    */
  private def withEveryKey(df: DataFrame, keyCol: String, result: DataFrame,
                           op: String): DataFrame = {
    require(keyCol != "__gs_rk", s"__gs_rk is reserved by $op")
    df.select(col(keyCol)).distinct()
      .join(result.withColumnRenamed(keyCol, "__gs_rk"),
        col(keyCol) <=> col("__gs_rk"), "left")
      .drop("__gs_rk")
  }

  /** Least-squares slope of `y` on `x` over a group, by the moment
    * formula: NULL with fewer than two distinct x, where Spark's
    * `regr_slope` raises DIVIDE_BY_ZERO under ANSI.
    */
  private def olsSlope(x: Column, y: Column): Column = {
    val n = count(lit(1)).cast("double")
    val sx = sum(x); val sy = sum(y)
    val sxy = sum(x * y); val sxx = sum(x * x)
    when(n * sxx - sx * sx > 0, (n * sxy - sx * sy) / (n * sxx - sx * sx))
  }

  /** Exact per-key quantiles with linear interpolation (numpy /
    * `quantile_cont` semantics): for each key and q, the value at fractional
    * rank `1 + (n-1)q`. Returns one row per key: (keyCol, q_<label>...).
    * Null values are excluded (SQL aggregate convention); keys whose values
    * are ALL null still surface with null quantiles.
    *
    * The one-column case of [[exactQuantilesMulti]], whose
    * `q_<valCol>_<label>` columns are renamed to `q_<label>`.
    */
  def exactQuantiles(df: DataFrame, keyCol: String, valCol: String,
                     quantiles: Seq[(String, Double)]): DataFrame =
    exactQuantilesMulti(df, keyCol, Seq(valCol), quantiles)
      .toDF(keyCol +: quantiles.map { case (label, _) => s"q_$label" }: _*)

  /** Exact per-key quantiles over SEVERAL value columns in one pass:
    * p50/p95 of k metrics per key as ONE output row per key
    * (`q_<col>_<label>` columns), instead of k separate `exactQuantiles`
    * calls the caller must join back together. The one quantile pipeline:
    * [[exactQuantiles]] and [[exactMedian]] are its one-column case.
    *
    * Scale shape: the metrics are unpivoted to long form (one scan of the
    * input, k rows per input row) and ranked under the composite key
    * (key, metric) in a SINGLE `keyedSpanBrackets` pass — one range exchange over
    * n·k rows, not k exchanges of n rows, and the hot-key property is
    * preserved (a billion-row key still spans many tasks per metric). The
    * final pivot back to wide is a map-side-combining hash aggregate over
    * ≤ 2·k·|quantiles| rows per key. Keys where a metric is all-null get
    * NULL for that metric's quantiles; keys all-null everywhere still
    * surface via the null-safe distinct-key re-attach.
    */
  def exactQuantilesMulti(df: DataFrame, keyCol: String, valCols: Seq[String],
                          quantiles: Seq[(String, Double)]): DataFrame = {
    require(valCols.nonEmpty, "need at least one value column")
    require(valCols.distinct.length == valCols.length,
      "value columns must be unique")
    require(quantiles.nonEmpty, "need at least one quantile")
    require(quantiles.map(_._1).distinct.length == quantiles.length,
      "quantile labels must be unique (they become output column names)")
    quantiles.foreach { case (_, q) =>
      require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]") }
    // the unpivot introduces __gs_c/__gs_v/__gs_p internally — a caller
    // column with one of those names would fail later with an opaque
    // ambiguous-attribute error instead of this contract message
    val gsReserved = Set("__gs_rk", "__gs_c", "__gs_v", "__gs_p", "__gs_w",
      "__slo", "__shi", "__n")
    (keyCol +: valCols).foreach(c => require(!gsReserved.contains(c),
      s"$c is reserved by exactQuantilesMulti"))
    // unpivot: (key, metric-INDEX, value) — one row per non-null metric
    // value. The metric rides as a compile-time int index, not its name:
    // the composite key below is the sort/shuffle key of keyedRank's
    // range exchange over n·k rows, and at 100× lineitem scale a 15-byte
    // metric-name string per row is both the bulk of the shuffle bytes
    // and a per-comparison string compare inside the sort — the r14 100×
    // profile attributed q89's cost to exactly that sort I/O. The (key,
    // metricIdx) pair rides as TWO FLAT columns through the keyed stitch
    // (r16): the earlier struct(key, idx) packing paid a pointer +
    // nested-UnsafeRow blob per exchanged row and an interpreted ordering
    // hop per sort comparison; flat fields keep the exchange key at
    // field-width and the comparisons codegen'd. NULL keyCol rows still
    // group/join with themselves — every equality inside the keyed stitch
    // is null-safe (<=>).
    val pairs = array(valCols.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("__gs_c"), col(c).cast("double").as("__gs_v")) }: _*)
    val long0 = df.select(col(keyCol), explode(pairs).as("__gs_p"))
      .select(col(keyCol), col("__gs_p.__gs_c").as("__gs_c"),
        col("__gs_p.__gs_v").as("__gs_v"))
      .where(col("__gs_v").isNotNull)
    // histogram pre-collapse + weighted bracket ranking (r18): repeated
    // (key, metric, value) triples are collapsed to ONE row carrying their
    // count by a map-side-combining hash aggregate BEFORE the range
    // exchange + pid-pin checkpoint + window sort measured as the q89
    // residual at 100× (lineitem: quantities collapse ~12×, and REPLICATED
    // rows collapse by the copy count — exactly the repetition real
    // prices/quantities have). A rank t is covered by the unique histogram
    // row whose span (__slo, __shi] contains it, so the bracket selection
    // below is value-identical to ranking every raw row (SpanBracketsSpec).
    val hist = long0.groupBy(col(keyCol), col("__gs_c"), col("__gs_v"))
      .agg(count(lit(1)).as("__gs_w"))
    val ranked = graft.core.Scan.keyedSpanBrackets(
      hist, Seq(keyCol, "__gs_c"), "__gs_v", "__gs_w", "__slo", "__shi",
      "__n", quantiles.map(_._2))
    val v = col("__gs_v")
    val metric = col("__gs_c")
    def covers(r: Column): Column = col("__slo") < r && r <= col("__shi")
    val aggs = for { (c, i) <- valCols.zipWithIndex; (label, q) <- quantiles }
    yield {
      val pos = lit(1.0) + (col("__n") - 1.0) * lit(q)
      val lo = floor(pos); val hi = ceil(pos); val frac = pos - lo
      val isC = metric === lit(i)
      val vLo = max(when(isC && covers(lo), v))
      val vHi = max(when(isC && covers(hi), v))
      (vLo * (lit(1.0) - max(when(isC && covers(lo), frac))) +
       vHi * max(when(isC && covers(hi), frac)))
        .as(s"q_${c}_$label")
    }
    val needed = quantiles.map { case (_, q) =>
      val pos = lit(1.0) + (col("__n") - 1.0) * lit(q)
      covers(floor(pos)) || covers(ceil(pos))
    }.reduce(_ || _)
    val quantsByKey = ranked.where(needed)
      .groupBy(col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
    withEveryKey(df, keyCol, quantsByKey, "exactQuantilesMulti")
  }

  /** Higuchi fractal dimension per key (antropy `higuchi_fd`, closing the
    * reference integration surface's fractal sweep): for k = 1..kMax and
    * offset m < k, L(m,k) = Σ|x[m+ik] − x[m+(i−1)k]| · (N−1)/(cnt·k)/k
    * over the key's index-ordered series, L(k) = mean over m, and the
    * feature is the least-squares slope of ln L(k) against ln(1/k).
    *
    * Relational shape: strided differences are `lag(value, k)` columns
    * under ONE per-key window pass (kMax lags share the partitioning);
    * the offset class is `p mod k` after an explode to (row, k) long form
    * (map-side, ×kMax); everything after is two hash aggregates and a
    * moment-formula slope (division-free guard — ANSI-safe, NULL when
    * fewer than two k points exist, e.g. N ≤ 2). The window partitions BY
    * KEY: this operator is for BOUNDED per-key series (physiological
    * signals, per-entity telemetry — thousands of rows), like
    * [[graft.scale.Multimodal.frameStats]]; it is NOT the
    * `Scan.keyedRank` hot-key shape. Oracle: q95_higuchi.
    */
  def higuchiFd(df: DataFrame, keyCol: String, idxCol: String,
                valCol: String, kMax: Int = 10): DataFrame = {
    require(kMax >= 2, "higuchi needs kMax >= 2")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(idxCol)
    val base = df
      .select(col(keyCol), col(idxCol), col(valCol).cast("double").as("__x"))
      .withColumn("__p", row_number().over(w).cast("long") - 1)
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(keyCol)))
    val lags = (1 to kMax).foldLeft(base)((d, k) =>
      d.withColumn(s"__l$k", lag(col("__x"), k).over(w)))
    val pairs = array((1 to kMax).map(k =>
      struct(lit(k.toLong).as("k"),
        abs(col("__x") - col(s"__l$k")).as("d"))): _*)
    val long0 = lags
      .select(col(keyCol), col("__p"), col("__n"), explode(pairs).as("__e"))
      .where(col("__e.d").isNotNull)
      .select(col(keyCol), col("__n"), col("__e.k").as("__k"),
        (col("__p") % col("__e.k")).as("__m"), col("__e.d").as("__d"))
    val lmk = long0.groupBy(col(keyCol), col("__k"), col("__m"))
      .agg(sum("__d").as("__s"), count(lit(1)).as("__c"),
        max("__n").as("__nn"))
      .withColumn("__lmk", col("__s") * (col("__nn") - 1) /
        (col("__c") * col("__k")) / col("__k"))
    val lk = lmk.groupBy(col(keyCol), col("__k"))
      .agg(avg("__lmk").as("__lk"))
      .select(col(keyCol), log(col("__lk")).as("__y"),
        log(lit(1.0) / col("__k")).as("__xk"))
      // a constant series gives L(k) = 0 → ln null; drop those points so
      // the moment sums and the count agree (SQL aggregates skip nulls)
      .where(col("__y").isNotNull)
    val fd = lk.groupBy(keyCol)
      .agg(olsSlope(col("__xk"), col("__y")).as("higuchi_fd"))
    withEveryKey(df, keyCol, fd, "higuchiFd")
  }

  /** Detrended fluctuation analysis per key (classic Peng DFA-1, the
    * nolds `dfa` member of the reference integration surface): the
    * mean-centered running-sum profile is cut into NON-OVERLAPPING boxes
    * of each size n, each box is linearly detrended, F(n) is the RMS of
    * the residuals, and the exponent alpha is the least-squares slope of
    * ln F(n) vs ln n (white noise → α≈0.5, Brownian walk → α≈1.5).
    *
    * Relational shape: the profile is one running-sum window per key, the
    * box fan-out is a map-side explode (×|boxSizes|), and the per-box
    * detrend needs NO fit loop — with centered moments Sxx/Sxy/Syy over
    * (position, profile), the residual sum of squares is closed-form
    * Syy − Sxy²/Sxx, so each box is ONE hash-aggregate row. Incomplete
    * trailing boxes are dropped (the standard convention). Like
    * [[higuchiFd]], the window partitions BY KEY — bounded per-key series
    * only. Degenerate keys surface with NULL. Oracle: q96_dfa.
    */
  def dfa(df: DataFrame, keyCol: String, idxCol: String, valCol: String,
          boxSizes: Seq[Int] = Seq(4, 8, 16, 32, 64)): DataFrame = {
    require(boxSizes.forall(_ >= 2), "DFA box sizes must be >= 2")
    require(boxSizes.distinct.size >= 2, "DFA needs >= 2 distinct box sizes")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(idxCol)
    val wk = Window.partitionBy(keyCol)
    val base = df
      .select(col(keyCol), col(idxCol), col(valCol).cast("double").as("__x"))
      .withColumn("__p", (row_number().over(w) - 1).cast("double"))
      .withColumn("__n", count(lit(1)).over(wk))
      .withColumn("__y", sum(col("__x") - avg(col("__x")).over(wk))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val sizes = array(boxSizes.distinct.sorted.map(n => lit(n.toDouble)): _*)
    val boxes = base
      .select(col(keyCol), col("__p"), col("__n"), col("__y"),
        explode(sizes).as("__bs"))
      // complete boxes only
      .where(col("__p") < col("__bs") * floor(col("__n") / col("__bs")))
      .withColumn("__box", floor(col("__p") / col("__bs")))
      .groupBy(col(keyCol), col("__bs"), col("__box"))
      .agg(count(lit(1)).cast("double").as("__c"),
        sum(col("__p")).as("__sp"), sum(col("__p") * col("__p")).as("__spp"),
        sum(col("__y")).as("__sy"), sum(col("__y") * col("__y")).as("__syy"),
        sum(col("__p") * col("__y")).as("__spy"))
    val sxx = col("__spp") - col("__sp") * col("__sp") / col("__c")
    val sxy = col("__spy") - col("__sp") * col("__sy") / col("__c")
    val syy = col("__syy") - col("__sy") * col("__sy") / col("__c")
    // FP can push a perfect fit's RSS a hair below zero — clamp before /n
    val rss = greatest(syy - sxy * sxy / sxx, lit(0.0))
    val fn = boxes
      .withColumn("__v", rss / col("__c"))
      .groupBy(col(keyCol), col("__bs"))
      .agg(sqrt(avg(col("__v"))).as("__f"))
      .where(col("__f") > 0)
      .select(col(keyCol), log(col("__f")).as("__yf"),
        log(col("__bs")).as("__xf"))
    val alpha = fn.groupBy(keyCol)
      .agg(olsSlope(col("__xf"), col("__yf")).as("dfa_alpha"))
    withEveryKey(df, keyCol, alpha, "dfa")
  }

  /** Hurst exponent per key by rescaled-range (R/S) analysis (the nolds
    * `hurst_rs` member of the reference integration surface): for each
    * box size n, each NON-OVERLAPPING box's rescaled range is
    * R/S = (max − min of the box-mean-centered running sum) / σ_pop(box);
    * RS(n) averages the boxes and H is the least-squares slope of
    * ln RS(n) vs ln n (white noise → H≈0.5, persistent walk → H≈1).
    *
    * Relational shape: a map-side box-size explode, then the per-box
    * profile as a running-sum window over (key, n, box) — the box-mean
    * centering is a second window function on the SAME partitioning, so
    * one exchange serves both — and two hash aggregates plus the
    * moment-formula slope. Boxes with zero variance contribute nothing
    * (their R/S is null; `avg` skips nulls). Bounded per-key series, the
    * [[higuchiFd]] contract. Degenerate keys surface NULL. Oracle:
    * q97_hurst.
    */
  def hurstRs(df: DataFrame, keyCol: String, idxCol: String, valCol: String,
              boxSizes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    require(boxSizes.forall(_ >= 2), "R/S box sizes must be >= 2")
    require(boxSizes.distinct.size >= 2, "R/S needs >= 2 distinct box sizes")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(idxCol)
    val wk = Window.partitionBy(keyCol)
    val base = df
      .select(col(keyCol), col(idxCol), col(valCol).cast("double").as("__x"))
      .withColumn("__p", (row_number().over(w) - 1).cast("double"))
      .withColumn("__n", count(lit(1)).over(wk))
    val sizes = array(boxSizes.distinct.sorted.map(n => lit(n.toDouble)): _*)
    val long0 = base
      .select(col(keyCol), col("__p"), col("__n"), col(idxCol), col("__x"),
        explode(sizes).as("__bs"))
      .where(col("__p") < col("__bs") * floor(col("__n") / col("__bs")))
      .withColumn("__box", floor(col("__p") / col("__bs")))
    val wb = Window.partitionBy(col(keyCol), col("__bs"), col("__box"))
    val wbo = wb.orderBy(idxCol)
    val prof = long0
      .withColumn("__mu", avg(col("__x")).over(wb))
      .withColumn("__z", sum(col("__x") - col("__mu"))
        .over(wbo.rowsBetween(Window.unboundedPreceding, 0)))
    val boxes = prof.groupBy(col(keyCol), col("__bs"), col("__box"))
      .agg(((max(col("__z")) - min(col("__z"))) /
        when(stddev_pop(col("__x")) > 0, stddev_pop(col("__x"))))
        .as("__rs"))
    val rsn = boxes.groupBy(col(keyCol), col("__bs"))
      .agg(avg(col("__rs")).as("__rsn"))
      .where(col("__rsn") > 0)
      .select(col(keyCol), log(col("__rsn")).as("__yr"),
        log(col("__bs")).as("__xr"))
    val h = rsn.groupBy(keyCol)
      .agg(olsSlope(col("__xr"), col("__yr")).as("hurst_rs"))
    withEveryKey(df, keyCol, h, "hurstRs")
  }

  /** Exact per-key median (linear interpolation on even counts). */
  def exactMedian(df: DataFrame, keyCol: String, valCol: String): DataFrame =
    exactQuantiles(df, keyCol, valCol, Seq("median" -> 0.5))
      .withColumnRenamed("q_median", "median")

  /** Grassberger–Procaccia correlation dimension per key (the nolds
    * `corr_dim` member of the reference integration surface, reference:
    * tsflex/features/integrations.py:15-337, exercised by
    * tests/test_features_integration.py:412-422): delay-1 embedding into
    * `embDim` lag columns, correlation sums C(r) = #{i<j :
    * ‖X_i − X_j‖² < r²} at two radii r = σ/2 and r = σ (per-key population
    * std of the raw series), and the dimension estimate is the two-point
    * log-log slope (ln C(σ) − ln C(σ/2)) / ln 2.
    *
    * Relational shape: embedding = `lead` columns over the per-key order
    * (no collect), pair counts = ONE key-co-partitioned self-join — both
    * sides shuffle on the key, so every pair is computed where its rows
    * already live. The O(n²)-pairs-per-key cost is the documented
    * bounded-per-key-series contract shared with [[higuchiFd]]/[[dfa]]
    * (time-series keys, thousands of samples — NOT a free-text join key);
    * the 100 TB axis is key COUNT, which partitions. NULL for keys with
    * σ = 0, fewer than embDim+1 samples, or an empty inner-radius count.
    * Oracle: q99c_corr_dim.
    */
  def corrDim(df: DataFrame, keyCol: String, idxCol: String,
              valCol: String, embDim: Int = 2): DataFrame = {
    require(embDim >= 1 && embDim <= 8, "corr_dim embDim must be in [1, 8]")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(idxCol)
    val wk = Window.partitionBy(keyCol)
    val base = df
      .select(col(keyCol), col(idxCol), col(valCol).cast("double").as("__x"))
      .withColumn("__sd", stddev_pop(col("__x")).over(wk))
      .withColumn("__rn", row_number().over(w).cast("long"))
    val embCols = (0 until embDim).map(i =>
      (if (i == 0) col("__x") else lead(col("__x"), i).over(w)).as(s"__e$i"))
    val emb = base
      .select(Seq(col(keyCol), col("__rn"), col("__sd")) ++ embCols: _*)
      .where(col(s"__e${embDim - 1}").isNotNull)
    val a = emb.select(
      Seq(col(keyCol), col("__rn").as("__ra"), col("__sd")) ++
        (0 until embDim).map(i => col(s"__e$i").as(s"__a$i")): _*)
    val b = emb.select(
      Seq(col(keyCol).as("__kb"), col("__rn").as("__rb")) ++
        (0 until embDim).map(i => col(s"__e$i").as(s"__b$i")): _*)
    // null-safe key equality: null-keyed series stay one group, like the
    // groupBy in the sibling operators
    val pairs = a.join(b,
      col(keyCol) <=> col("__kb") && col("__rb") > col("__ra"))
      .withColumn("__d2", (0 until embDim).map(i =>
        (col(s"__a$i") - col(s"__b$i")) * (col(s"__a$i") - col(s"__b$i")))
        .reduce(_ + _))
    // radii squared written EXACTLY as the oracle computes them
    // ((0.5·σ)·(0.5·σ)) so the strict < comparisons agree bit-for-bit
    val r1sq = (lit(0.5) * col("__sd")) * (lit(0.5) * col("__sd"))
    val r2sq = col("__sd") * col("__sd")
    val cd = pairs.groupBy(keyCol).agg(
      max(col("__sd")).as("__s"),
      sum(when(col("__d2") < r1sq, 1L).otherwise(0L)).as("__c1"),
      sum(when(col("__d2") < r2sq, 1L).otherwise(0L)).as("__c2"))
      .select(col(keyCol),
        when(col("__s") > 0 && col("__c1") > 0,
          (log(col("__c2").cast("double")) - log(col("__c1").cast("double")))
            / lit(math.log(2.0))).as("corr_dim"))
    withEveryKey(df, keyCol, cd, "corrDim")
  }

  /** Multiscale (sample) entropy per key (the pyentrp
    * `multiscale_entropy` member of the reference integration surface,
    * reference: tests/test_features_integration.py:440-462): at each scale
    * s the series is coarse-grained into means of consecutive
    * non-overlapping length-s boxes (complete boxes only, the pyentrp
    * convention), and the per-scale value is the binned sample-entropy
    * approximation (see [[graft.core.FeatureFuncs.sampleEntropyApprox]]
    * for the documented quantize-cell deviation from exact Chebyshev
    * SampEn) with ONE tolerance fixed across scales: r > 0 uses the
    * absolute width r (the oracle-robust variant, no std in the bin
    * boundary); r = 0 uses the MSE convention 0.2·σ_pop of the RAW series.
    *
    * Relational shape: coarse-graining is a map-side explode (×|scales|)
    * + one hash aggregate on (key, scale, box); each per-scale entropy is
    * the same fused sort+run-fold aggregate the windowed sampen uses — no
    * pairwise O(n²), no collect. One output column `mse_<s>` per scale.
    * Degenerate keys (too short, zero width) surface with NULL.
    * Oracle: q99d_mse.
    */
  def multiscaleEntropy(df: DataFrame, keyCol: String, idxCol: String,
                        valCol: String, scales: Seq[Int] = Seq(1, 2, 3),
                        m: Int = 2, r: Double = 0.0,
                        rFactor: Double = 0.2): DataFrame = {
    require(scales.nonEmpty && scales.forall(_ >= 1), "scales must be >= 1")
    require(scales.distinct.size == scales.size, "duplicate scales")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(idxCol)
    val wk = Window.partitionBy(keyCol)
    val widthCol =
      if (r > 0) lit(r)
      else stddev_pop(col("__x")).over(wk) * lit(rFactor)
    val base = df
      .select(col(keyCol), col(idxCol), col(valCol).cast("double").as("__x"))
      .withColumn("__p", (row_number().over(w) - 1).cast("long"))
      .withColumn("__n", count(lit(1)).over(wk))
      .withColumn("__w", widthCol)
    val coarse = base
      .select(col(keyCol), col("__p"), col("__n"), col("__w"), col("__x"),
        explode(array(scales.map(s => lit(s.toLong)): _*)).as("__s"))
      .where(col("__p") < col("__s") * floor(col("__n") / col("__s")))
      .groupBy(col(keyCol), col("__s"), floor(col("__p") / col("__s")).as("__box"))
      .agg(avg(col("__x")).as("__y"), max(col("__w")).as("__w"))
    val sampen = graft.core.FeatureFuncs.sampleEntropyApproxWidthCol(m, "__w")
    val perScale = coarse.groupBy(col(keyCol), col("__s"))
      .agg(sampen.agg(col("__box"), col("__y")).as("__se"))
    val aggs = scales.map(s =>
      max(when(col("__s") === s, col("__se"))).as(s"mse_$s"))
    val mse = perScale.groupBy(keyCol).agg(aggs.head, aggs.tail: _*)
    withEveryKey(df, keyCol, mse, "multiscaleEntropy")
  }

  /** Largest Lyapunov exponent per key, Rosenstein's method (the nolds
    * `lyap_r` member of the reference integration surface, reference:
    * tests/test_features_integration.py:412-422): delay-1 embedding into
    * `embDim` lag columns; each embedded point's nearest neighbor
    * (Euclidean, temporal separation > `minTsep` — Theiler window, both
    * directions) seeds a trajectory pair; the divergence curve is
    * y(t) = mean_i ln‖X_{i+t} − X_{nn(i)+t}‖ for t = 0..`trajLen`
    * (zero-distance trajectories are dropped from that t's mean, nolds'
    * −inf mask), and the exponent is the least-squares slope of y(t) vs t
    * (per sample step — multiply by the sampling rate for physical units).
    *
    * Relational shape: the NN search is the per-key self-join (O(n²) pairs
    * per key — the same documented bounded-per-key contract as [[corrDim]],
    * with Σn_k² the true cost axis; pre-filter hot keys or sample if a key
    * holds millions of samples); the argmin is a single min(struct(d², j))
    * hash aggregate with a deterministic smallest-j tie-break; trajectory
    * tracking is two (key, position)-equi-joins — every stage shuffles on
    * the key (+position), nothing collects. Degenerate keys (too short,
    * no positive-distance trajectories, vertical fit) surface with NULL.
    * Oracle: q99e_lyap.
    */
  def lyapR(df: DataFrame, keyCol: String, idxCol: String, valCol: String,
            embDim: Int = 3, minTsep: Int = 5, trajLen: Int = 6): DataFrame = {
    require(embDim >= 2 && embDim <= 8, "lyap_r embDim must be in [2, 8]")
    require(minTsep >= 1 && trajLen >= 2, "minTsep >= 1, trajLen >= 2")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(idxCol)
    val base = df
      .select(col(keyCol), col(idxCol), col(valCol).cast("double").as("__x"))
      .withColumn("__i", (row_number().over(w) - 1).cast("long"))
    val embCols = (0 until embDim).map(i =>
      (if (i == 0) col("__x") else lead(col("__x"), i).over(w)).as(s"__e$i"))
    val emb = base
      .select(Seq(col(keyCol), col("__i")) ++ embCols: _*)
      .where(col(s"__e${embDim - 1}").isNotNull)
    val a = emb.select(Seq(col(keyCol), col("__i").as("__ia")) ++
      (0 until embDim).map(i => col(s"__e$i").as(s"__a$i")): _*)
    val b = emb.select(Seq(col(keyCol).as("__kb"), col("__i").as("__ib")) ++
      (0 until embDim).map(i => col(s"__e$i").as(s"__b$i")): _*)
    val pairs = a.join(b, col(keyCol) <=> col("__kb") &&
        abs(col("__ib") - col("__ia")) > minTsep)
      .withColumn("__d2", (0 until embDim).map(i =>
        (col(s"__a$i") - col(s"__b$i")) * (col(s"__a$i") - col(s"__b$i")))
        .reduce(_ + _))
    val nn = pairs.groupBy(col(keyCol), col("__ia"))
      .agg(min(struct(col("__d2").as("d"), col("__ib").as("j"))).as("__nn"))
      .select(col(keyCol), col("__ia").as("__i0"),
        col("__nn").getField("j").as("__j0"))
    val tracked = nn
      .select(col(keyCol), col("__i0"), col("__j0"),
        explode(array((0 to trajLen).map(t => lit(t.toLong)): _*)).as("__t"))
    val p1 = emb.select(Seq(col(keyCol).as("__k1"), col("__i").as("__i1")) ++
      (0 until embDim).map(i => col(s"__e$i").as(s"__c$i")): _*)
    val p2 = emb.select(Seq(col(keyCol).as("__k2"), col("__i").as("__i2")) ++
      (0 until embDim).map(i => col(s"__e$i").as(s"__d$i")): _*)
    val div = tracked
      .join(p1, col(keyCol) <=> col("__k1") &&
        col("__i1") === col("__i0") + col("__t"))
      .join(p2, col(keyCol) <=> col("__k2") &&
        col("__i2") === col("__j0") + col("__t"))
      .withColumn("__dt2", (0 until embDim).map(i =>
        (col(s"__c$i") - col(s"__d$i")) * (col(s"__c$i") - col(s"__d$i")))
        .reduce(_ + _))
      .where(col("__dt2") > 0)
      .select(col(keyCol), col("__t").cast("double").as("__tt"),
        log(sqrt(col("__dt2"))).as("__ld"))
    val curve = div.groupBy(col(keyCol), col("__tt"))
      .agg(avg(col("__ld")).as("__y"))
    val le = curve.groupBy(keyCol)
      .agg(olsSlope(col("__tt"), col("__y")).as("lyap_r"))
    withEveryKey(df, keyCol, le, "lyapR")
  }

  /** Eckmann Lyapunov SPECTRUM `lyap_e` per key, matrix dimension 2 (the
    * nolds FuncWrapper battery's last member — reference:
    * tests/test_features_integration.py:470-498). Our documented
    * conventions (mirrored exactly by the DuckDB oracle): 2-dimensional
    * delay-1 embedding, Chebyshev neighborhoods at the minNb-th smallest
    * distance among temporally separated candidates (|Δi| > minTsep),
    * companion-form Jacobians fitted by interceptless least squares, QR
    * re-orthogonalization with per-step averages of ln |R_kk|.
    *
    * Scale shape: the O(n_k²) neighbor search and the per-step fits are
    * RELATIONAL (self-join on the key → distributed, partial-aggregated);
    * only the inherently sequential QR chain folds per key, over the
    * collected (step, a1, a2) array — bounded by the documented per-key
    * series-length contract (the higuchi/DFA/lyap_r family contract), so
    * the collect is k·O(n_k) fit rows, never raw points².
    */
  def lyapE(df: DataFrame, keyCol: String, idxCol: String, valCol: String,
            minTsep: Int = 5, minNb: Int = 6,
            fusedRadius: Boolean = true): DataFrame = {
    require(minTsep >= 1 && minNb >= 2, "minTsep >= 1, minNb >= 2")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(idxCol)
    val e = df
      .select(col(keyCol), col(idxCol), col(valCol).cast("double").as("__x0"))
      .withColumn("__i", (row_number().over(w) - 1).cast("long"))
      .withColumn("__x1", lead(col("__x0"), 1).over(w))
      .withColumn("__x2", lead(col("__x0"), 2).over(w))
      .where(col("__x2").isNotNull)
      .select(col(keyCol), col("__i"), col("__x0"), col("__x1"), col("__x2"))
    val b = e.select(col(keyCol).as("__kb"), col("__i").as("__ib"),
      col("__x0").as("__y0"), col("__x1").as("__y1"), col("__x2").as("__y2"))
    val pairs = e.join(b, col(keyCol) <=> col("__kb") &&
        abs(col("__ib") - col("__i")) > minTsep)
      .select(col(keyCol), col("__i").as("__ia"), col("__ib"),
        greatest(abs(col("__y0") - col("__x0")),
          abs(col("__y1") - col("__x1"))).as("__dist"),
        (col("__y0") - col("__x0")).as("__u0"),
        (col("__y1") - col("__x1")).as("__u1"),
        (col("__y2") - col("__x2")).as("__w"))
    val wr = Window.partitionBy(col(keyCol), col("__ia"))
    // r19 (guide §2.4): the kNN radius (the dist at rank min(minNb, cnt))
    // and the fit filter run as TWO FRAMES of one window over a single
    // materialization of the quadratic pair set, and the fit aggregation
    // groups by the window's own partition key — one exchange end to end.
    // The replaced shape computed `pairs` twice (the rad window and the
    // fit join are differently-keyed consumers of an unpinned frame) and
    // shuffled it a third time into the rad⋈pairs join: at the 100×
    // corpus the doubled pair build + join read ~2/3 of q106's CPU
    // (stage attribution: 649 MB + 1241 MB pair exchanges, 22.6 s / 422 s
    // CPU).
    // `fusedRadius = false` keeps the replaced shape as the differential
    // twin (NoldsSpec pins both against the driver brute force).
    val fit0 =
      if (fusedRadius) {
        val ranked = pairs
          .withColumn("__rn",
            row_number().over(wr.orderBy(col("__dist"), col("__ib"))))
          .withColumn("__radius",
            max(when(col("__rn") <= minNb.toLong, col("__dist"))).over(wr))
        ranked.where(col("__dist") <= col("__radius"))
          .select(col(keyCol), col("__ia"), col("__u0"), col("__u1"),
            col("__w"))
      } else {
        val rad = pairs
          .withColumn("__rn",
            row_number().over(wr.orderBy(col("__dist"), col("__ib"))))
          .withColumn("__cnt", count(lit(1)).over(wr))
          .where(col("__rn") === least(lit(minNb.toLong), col("__cnt")))
          .select(col(keyCol).as("__kr"), col("__ia").as("__ir"),
            col("__dist").as("__radius"))
        pairs.join(rad,
            col(keyCol) <=> col("__kr") && col("__ia") === col("__ir") &&
              col("__dist") <= col("__radius"))
          .select(col(keyCol), col("__ia"), col("__u0"), col("__u1"),
            col("__w"))
      }
    val fit = fit0
      .groupBy(col(keyCol), col("__ia"))
      .agg(sum(col("__u0") * col("__u0")).as("__s11"),
        sum(col("__u0") * col("__u1")).as("__s12"),
        sum(col("__u1") * col("__u1")).as("__s22"),
        sum(col("__u0") * col("__w")).as("__t1"),
        sum(col("__u1") * col("__w")).as("__t2"))
      .withColumn("__det",
        col("__s11") * col("__s22") - col("__s12") * col("__s12"))
      .where(col("__det") > 0)
      .select(col(keyCol), col("__ia"),
        ((col("__t1") * col("__s22") - col("__t2") * col("__s12"))
          / col("__det")).as("__a1"),
        ((col("__s11") * col("__t2") - col("__s12") * col("__t1"))
          / col("__det")).as("__a2"))
    val folded = fit.groupBy(keyCol)
      .agg(graft.expr.LyapEFold(array_sort(collect_list(
        struct(col("__ia"), col("__a1"), col("__a2"))))).as("__le"))
      .select(col(keyCol),
        col("__le").getField("lyap_e_1").as("lyap_e_1"),
        col("__le").getField("lyap_e_2").as("lyap_e_2"))
    withEveryKey(df, keyCol, folded, "lyapE")
  }
}
