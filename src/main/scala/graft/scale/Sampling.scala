package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-independent sampling/splitting for training-data
  * pipelines. Seeded RNG samplers (`df.sample`) are engine- and
  * partitioning-dependent; hashing the ID instead makes membership a pure
  * function of the row — reproducible across engines, runs, cluster sizes,
  * and incremental re-runs (a new data drop never reshuffles old rows'
  * split assignment). Map-only: no shuffle, no state.
  */
object Sampling {

  /** `__h` carries the md5 layout order through the rank/prefix scans; a
    * caller column of that name would be silently clobbered (mirrors
    * `Scan`'s `__pid` guard, which throws rather than corrupts).
    */
  private def requireNoHashCol(df: DataFrame): Unit =
    require(!df.columns.contains("__h"),
      "column name __h is reserved by Sampling's deterministic hash order")

  /** Uniform bucket in [0, 100) from the id's md5 (16 bits → mod 100). */
  def hashBucket(id: Column): Column =
    (conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("int") % 100)

  /** Named split assignment by cumulative percentage: e.g.
    * `Seq("train" -> 80, "val" -> 10, "test" -> 10)`.
    */
  def deterministicSplit(df: DataFrame, idCol: String,
                         splits: Seq[(String, Int)]): DataFrame = {
    require(splits.map(_._2).sum == 100, "split percentages must sum to 100")
    val b = hashBucket(col(idCol))
    val cum = splits.scanLeft(0)(_ + _._2).tail
    val expr = splits.zip(cum).foldRight(lit(splits.last._1): Column) {
      case (((name, _), hi), acc) => when(b < hi, lit(name)).otherwise(acc)
    }
    df.withColumn("split", expr)
  }

  /** Deterministic p% sample (hash-gated filter — pushdown-friendly). */
  def deterministicSample(df: DataFrame, idCol: String, pct: Int): DataFrame =
    df.where(hashBucket(col(idCol)) < pct)

  /** Sequence packing: assign rows (documents) to fixed-token-budget shards
    * — the standard layout step before serializing training data. Docs are
    * laid out in a deterministic, engine-independent order (md5 of the id,
    * which also decorrelates shard content from crawl order), the running
    * token total is a distributed prefix scan (`Scan.runningSum` —
    * range-partitioned, never a global single-partition window), and a doc
    * lands in the shard where its token span STARTS:
    * `shard = floor(exclusive_prefix_tokens / budget)`. Shards are
    * contiguous spans of the hash order; a doc may overhang its shard's
    * budget (greedy packing does not split documents).
    * Returns the input columns plus `shard` (0-based BIGINT).
    */
  def packShards(df: DataFrame, idCol: String, tokenCol: String,
                 budget: Long): DataFrame = {
    require(budget > 0, "shard token budget must be positive")
    requireNoHashCol(df)
    val h = df.withColumn("__h", md5(col(idCol).cast("string")))
    graft.core.Scan.runningSum(h, "__h", tokenCol, "__cum")
      .withColumn("shard",
        floor((col("__cum") - col(tokenCol)) / lit(budget.toDouble)).cast("long"))
      .drop("__h", "__cum", "__pid")
  }

  /** Deterministic per-key quota cap — "at most `cap` documents per source
    * / domain", the standard anti-over-representation rule in web-corpus
    * curation (domain caps in Gopher/FineWeb-style pipelines). Which rows
    * survive is a pure function of the data: rows rank within their key by
    * md5(id) (an engine-independent uniform order, so the kept subset is an
    * unbiased sample of the key, not its first `cap` rows in crawl order)
    * and rows ranked past the cap drop.
    *
    * Scale shape: same as `stratifiedSplit` — `Scan.keyedRank`
    * range-partitions on (key, hash) so one giant key (a crawl dominated by
    * a single domain) spans many parallel tasks instead of one window task;
    * the rank stitch is a summary-sized offset join. Map-only after that.
    */
  def capPerKey(df: DataFrame, idCol: String, keyCol: String,
                cap: Long): DataFrame = {
    require(cap > 0, "per-key cap must be positive")
    requireNoHashCol(df)
    val ranked = graft.core.Scan.keyedRank(
      df.withColumn("__h", md5(col(idCol).cast("string"))),
      Seq(keyCol), "__h", "__rk", "__n")
    ranked.where(col("__rk") <= cap).select(df.columns.map(col): _*)
  }

  /** Per-key sequence packing: `packShards` within each `keyCol` group —
    * the production layout step when each split/partition of a corpus packs
    * into its own shard sequence (shard ids restart per key). Same
    * deterministic md5 layout order; the prefix sum is
    * `Scan.keyedRunningSum`, so one giant key still spans many tasks.
    */
  def packShardsPerKey(df: DataFrame, idCol: String, keyCol: String,
                       tokenCol: String, budget: Long): DataFrame = {
    require(budget > 0, "shard token budget must be positive")
    requireNoHashCol(df)
    val h = df.withColumn("__h", md5(col(idCol).cast("string")))
    graft.core.Scan.keyedRunningSum(h, keyCol, "__h", tokenCol, "__cum")
      .withColumn("shard",
        floor((col("__cum") - col(tokenCol)) / lit(budget.toDouble)).cast("long"))
      .drop("__h", "__cum")
  }

  /** EXACT stratified split: within every stratum, assign the first p₁% of
    * rows (in deterministic md5-of-id order) to the first split, the next
    * p₂% to the second, etc. Rows rank within their stratum by md5(id)
    * (deterministic, engine-independent) and band on the rank's percentage
    * position `ceil(rank*100/n)`, so every stratum lands within one row of
    * its target fraction — `deterministicSplit`'s hash gate only hits
    * fractions in expectation, which skews small or imbalanced strata.
    * (NOT `ntile(100)`: a stratum smaller than 100 rows fills tiles 1..n one
    * row each, dumping the whole stratum in the first band.) Oracle:
    * q57_stratified_split.
    *
    * Scale shape: `row_number() over (partition by stratum)` would put each
    * ENTIRE stratum through one window task — strata are few and huge
    * (source, language), so that's a single task sorting billions of rows at
    * 100 TB. `Scan.keyedRank` instead range-partitions on (stratum, hash) so
    * a big stratum spans many parallel tasks, and stitches ranks with a
    * summary-sized offset join. No per-key single-task stage anywhere.
    */
  def stratifiedSplit(df: DataFrame, idCol: String, strataCol: String,
                      splits: Seq[(String, Int)]): DataFrame = {
    require(splits.map(_._2).sum == 100, "split percentages must sum to 100")
    requireNoHashCol(df)
    val ranked = graft.core.Scan.keyedRank(
      df.withColumn("__h", md5(col(idCol).cast("string"))),
      Seq(strataCol), "__h", "__rk", "__n")
    val tile = ceil(col("__rk") * lit(100.0) / col("__n"))
    val cum = splits.scanLeft(0)(_ + _._2).tail
    val expr = splits.zip(cum).foldRight(lit(splits.last._1): Column) {
      case (((name, _), hi), acc) => when(tile <= hi, lit(name)).otherwise(acc)
    }
    ranked.withColumn("split", expr).drop("__h", "__rk", "__n")
  }
}
