package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale document deduplication operators for training-data pipelines.
  *
  * All operators are pure DataFrame plans (no driver-side loops, no UDFs in
  * the hot path) so they distribute: the inverted-index joins shuffle on
  * shingle/band keys, which is the canonical 100 TB pattern. Hash functions
  * are md5-based so results are engine-independent (same in DuckDB — that is
  * what makes the oracle twins possible) and stable across runs/partitions.
  */
object Dedup {

  /** Whitespace word tokens. */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct word k-gram shingles of `text` as an array column — the
    * native one-pass `WordShingles` expression (graft.expr). History: the
    * k-1 chained `zip_with` formulation was already 6-12x faster than
    * per-shingle slicing, but still allocated k intermediate arrays per row;
    * the fused codegen kernel replaces all of it (bit-identical output,
    * WordShinglesSpec).
    */
  def shingleArr(text: Column, k: Int): Column =
    graft.expr.WordShingles(text, k)

  /** Exploded inverted index: one row per (id, distinct shingle). */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol), explode(shingleArr(col(textCol), k)).as("__shingle"))

  /** Exploded inverted index that carries the doc's shingle-set size on
    * every row, so downstream Jaccard math needs no extra size join (and the
    * self-join's two sides stay plan-identical → Spark reuses one shuffle
    * exchange for both).
    */
  def shinglesWithSize(df: DataFrame, idCol: String, textCol: String,
                       k: Int): DataFrame =
    df.select(col(idCol), shingleArr(col(textCol), k).as("__arr"))
      .select(col(idCol), size(col("__arr")).as("__n"),
        explode(col("__arr")).as("__shingle"))

  /** Exact dedup after bag-of-words normalization: documents with the same
    * sorted distinct word set share a group. Returns one row per duplicate
    * group (size >= 2) with the canonical (min) id. Plain hash-groupBy —
    * one shuffle on the 32-byte key, perfectly partition-parallel.
    */
  def exactNormalized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      md5(concat_ws(" ", array_sort(array_distinct(words(col(textCol)))))).as("key"))
      .groupBy("key")
      // the members list is an AGG-BUFFER-sized payload: fine for reporting
      // at sane clique sizes, but a 10^8-clone group would blow the buffer —
      // use keepExactNormalized (no list anywhere) to APPLY the dedup
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n"),
        sort_array(collect_list(col(idCol))).as("members"))
      .where(col("n") >= 2)

  /** Apply exact (normalized-bag) dedup: keep the min-id doc per duplicate
    * group, pass uniques through. Unlike `exactNormalized` this never
    * materializes a member list — one partial-aggregable groupBy for the
    * rep set, one semi-join back — so a group of 10^8 identical docs is
    * just a big min() aggregation, safe at any clique size.
    */
  def keepExactNormalized(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val key = md5(concat_ws(" ", array_sort(array_distinct(words(col(textCol))))))
    val reps = df.select(col(idCol), key.as("__key"))
      .groupBy("__key").agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(reps, Seq(idCol), "left_semi")
  }

  /** Per-doc shingle-set frame `(id, __arr, __n = |set|)`, materialized once
    * (lazy localCheckpoint) — the compact upstream shared by candidate
    * generation (explode to the inverted index) and pair verification
    * (`array_intersect` on the stored sets). Cheaper to pin than the
    * exploded index: one row per doc, each shingle stored once.
    */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
                          k: Int): DataFrame =
    graft.core.Pinned.checkpoint(
      df.select(col(idCol), shingleArr(col(textCol), k).as("__arr"))
        .withColumn("__n", size(col("__arr"))))

  /** Exact Jaccard verification of a candidate pair set against the stored
    * shingle sets: two candidate joins pull each side's array (no index
    * re-shuffle, no per-shingle count aggregation — ONE `array_intersect`
    * per pair). Forcing the broadcast when the (counted) candidate set is
    * small skips AQE's intermediate stage materializations — measured ~2x
    * on the warm path vs letting AQE decide; above the counted gate
    * ([[graft.core.Gates]]) verification degrades to shuffled id joins
    * instead of an OOM. The count is free: the candidate table is
    * checkpointed anyway to stop the two differently-keyed joins from
    * recomputing it.
    */
  private def verifyJaccard(sets: DataFrame, idCol: String, candidates: DataFrame,
                            threshold: Double): DataFrame = {
    // The two joins below build on DIFFERENT keys (id_a vs id_b), so their
    // exchanges don't canonicalize to one — without pinning, the whole
    // candidate-generation pipeline would run twice.
    val candCp = graft.core.Pinned.checkpoint(candidates)
    val cand = graft.core.Gates.hint(candCp)(candCp)
    val a = sets.select(col(idCol).as("id_a"), col("__arr").as("__aa"),
        col("__n").as("__na"))
      .join(cand, Seq("id_a"))
    val b = sets.select(col(idCol).as("id_b"), col("__arr").as("__ab"),
        col("__n").as("__nb"))
      .join(cand, Seq("id_b"))
      .select("id_a", "id_b", "__ab", "__nb")
    a.join(b, Seq("id_a", "id_b"))
      .withColumn("__i", size(array_intersect(col("__aa"), col("__ab"))))
      .withColumn("jaccard",
        col("__i").cast("double") / (col("__na") + col("__nb") - col("__i")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact n-gram Jaccard near-dup pairs:
    * prefix-filtered inverted-index self-join for candidates, then exact
    * `|A∩B| / (|A| + |B| - |A∩B|) >= threshold` verification on the stored
    * shingle sets (`verifyJaccard` — no second pass over the index).
    *
    * Scale levers: `maxDocFreq` drops ultra-common shingles from CANDIDATE
    * GENERATION (stop-shingles cause quadratic blowup on skewed keys — the
    * classic fix is exactly this frequency cut; verification still computes
    * the full exact Jaccard), and the candidate join shuffles on the shingle
    * hash, so it partitions evenly at any data size.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, k: Int,
                   threshold: Double, maxDocFreq: Option[Long] = None,
                   collapseExact: Boolean = true): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, k)
    if (!collapseExact) pairsOnSets(sets, idCol, threshold, maxDocFreq)
    else withExactCollapse(sets, idCol)(rs =>
      pairsOnSets(rs, idCol, threshold, maxDocFreq))
  }

  /** EXACT-DUP PRE-COLLAPSE around a pairwise `(id_a, id_b, jaccard)`
    * pipeline: docs with IDENTICAL shingle sets have identical Jaccard
    * against every other doc (and exactly 1.0 among themselves) AND
    * identical minhash signatures, so only one representative per set needs
    * to enter the quadratic-ish candidate pipeline — for either the PPJoin
    * or the LSH-banding path, a member's pairing outcome provably equals its
    * rep's. Crawled corpora are template-heavy: a clique of c identical docs
    * costs one candidate row instead of c(c-1)/2. The collapse key is the
    * sorted shingle set itself (NOT a word-bag normalization, which would
    * merge docs with different shingles and break exactness). Group stats
    * come from a partial-aggregable groupBy — no per-key window, so a group
    * of 10^8 identical docs never serializes into one task.
    * Empty shingle sets are excluded: 0/0 Jaccard is undefined and the
    * uncollapsed pipelines never pair them (they produce no index rows).
    *
    * Each rep carries its group size as `__w` so frequency statistics
    * downstream (pairsOnSets' document-frequency cut) count MEMBERS, not
    * reps: a shingle appearing in a million identical clones still has
    * df = 10^6 under collapse, keeping `maxDocFreq` output-identical to the
    * uncollapsed path (JaccardCollapseSpec covers the differential).
    */
  private def withExactCollapse(sets: DataFrame, idCol: String)
                               (pipeline: DataFrame => DataFrame): DataFrame = {
    val (repMap, repSets) = collapseRepMap(sets, idCol)
    val repPairs = pipeline(repSets)
    // Fan rep-level results back out to member-level pairs: each side of a
    // rep pair expands to its group's members (ids from different groups
    // are distinct, so least/greatest re-canonicalizes the order), and
    // every within-group pair is an exact dup at Jaccard 1.0.
    val cross = repPairs
      .join(repMap.select(col("__rep").as("id_a"), col(idCol).as("__ma")), Seq("id_a"))
      .join(repMap.select(col("__rep").as("id_b"), col(idCol).as("__mb")), Seq("id_b"))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("jaccard"))
    val intra = repMap.as("x").join(repMap.as("y"),
        col("x.__key") === col("y.__key") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(intra)
  }

  /** The exact-collapse group structure shared by [[withExactCollapse]]
    * and [[jaccardComponentEdges]]: `repMap` = (id, __key, __rep, __w) for
    * every doc with a non-empty shingle set, checkpointed (two
    * differently-keyed consumers); `repSets` = the rep rows of `sets`
    * carrying their group size `__w` (see the pre-collapse scaladoc).
    */
  private def collapseRepMap(sets: DataFrame,
                             idCol: String): (DataFrame, DataFrame) = {
    val keyed = sets.where(col("__n") > 0)
      .select(col(idCol),
        md5(concat_ws("\u0001", array_sort(col("__arr")))).as("__key"))
    val groups = keyed.groupBy("__key")
      .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__w"))
    val repMap = graft.core.Pinned.checkpoint(keyed.join(groups, Seq("__key")))
    val repSets = sets.join(
      repMap.where(col(idCol) === col("__rep"))
        .select(col(idCol), col("__w")), Seq(idCol))
    (repMap, repSets)
  }

  /** Component-equivalent SPARSE edge set for clustering consumers of
    * [[jaccardPairs]] (`Components.dupClusters` / `keepRepresentatives`):
    * the verified rep-level near-dup pairs plus one star edge rep→member
    * per collapsed exact-dup member. Connected components over these
    * edges — vertex set, reachability, and therefore every component's
    * min id — are IDENTICAL to components over jaccardPairs' full
    * member-level fan-out:
    *   - every member of a ≥2-member group rides its star edge (the full
    *     graph reaches it through intra-clique 1.0 pairs);
    *   - members of two PAIRED groups connect through rep—star—rep—star
    *     paths (the full graph pairs the members directly);
    *   - singleton unpaired groups appear in neither edge set.
    * What changes is the EDGE COUNT: linear in member count plus the
    * verified rep pairs, instead of quadratic in clique size — on a
    * template-/replication-heavy corpus the full fan-out is tens of
    * millions of clique edges whose only consumer immediately collapses
    * them back into components through the O(log² n) star fixpoint
    * (guide §2.3/§2.4: don't shuffle bytes you are about to throw away).
    * The jaccard values never materialize because no clustering consumer
    * reads them. StarEdgesSpec pins the cluster- and keep-set-level
    * differentials against the fan-out path.
    */
  def jaccardComponentEdges(df: DataFrame, idCol: String, textCol: String,
                            k: Int, threshold: Double,
                            maxDocFreq: Option[Long] = None): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, k)
    val (repMap, repSets) = collapseRepMap(sets, idCol)
    val repPairs = pairsOnSets(repSets, idCol, threshold, maxDocFreq)
    val stars = repMap.where(col(idCol) =!= col("__rep"))
      .select(col("__rep").as("id_a"), col(idCol).as("id_b"))
    repPairs.select(col("id_a"), col("id_b")).unionByName(stars)
  }

  /** The prefix-filtered candidate + exact-verify pipeline over a prepared
    * `(id, __arr, __n)` shingle-set frame (see `jaccardPairs`).
    */
  private def pairsOnSets(sets: DataFrame, idCol: String,
                          threshold: Double, maxDocFreq: Option[Long]): DataFrame = {
    // under the exact-dup pre-collapse each rep row carries its group size
    // as __w; document frequency is the WEIGHTED sum so the maxDocFreq cut
    // (and the rarest-first prefix order) see member-level frequencies —
    // identical to the uncollapsed path
    val weight: Column =
      if (sets.columns.contains("__w")) col("__w") else lit(1L)
    val sh = sets.select(col(idCol), col("__n"), weight.as("__w"),
      explode(col("__arr")).as("__shingle"))

    // PREFIX FILTERING (AllPairs/PPJoin): order shingles globally by
    // (document frequency, shingle) — rarest first — and keep only each
    // doc's first n - ceil(t*n) + 1 shingles. Any pair with Jaccard >= t
    // must share a prefix shingle, so the candidate join touches only the
    // rare end of the index: the quadratic blowup on stop-shingles that
    // kills a naive self-join at scale never happens, and the result stays
    // EXACT (verifyJaccard computes true Jaccard). Document frequency comes
    // from a sum window over the shingle key — one shuffle, no agg+join.
    val withDf = sh.withColumn("__df", sum(col("__w")).over(
      org.apache.spark.sql.expressions.Window.partitionBy("__shingle")))
    val filtered = maxDocFreq.fold(withDf)(lim => withDf.where(col("__df") <= lim))
    val ranked = filtered.withColumn("__rk", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(idCol).orderBy(col("__df"), col("__shingle"))))
    val prefix = ranked
      .where(col("__rk") <= col("__n") - ceil(lit(threshold) * col("__n")) + 1)
      .select(col(idCol), col("__shingle"), col("__n"), col("__rk"))
      .repartition(col("__shingle"))
    // PPJoin length + positional filters — NECESSARY conditions for
    // Jaccard >= t evaluated inside the candidate join (with a 1e-9 slack so
    // float wobble can only keep a pair, never drop one):
    //   length:    min(|A|,|B|) / max(|A|,|B|) >= t  (since I<=min, U>=max)
    //   position:  overlap <= 1 + min(|A|-rkA, |B|-rkB) at a shared prefix
    //              shingle, and J >= t requires I >= t/(1+t) * (|A|+|B|).
    // On template-heavy corpora rare prefixes still collide, so without
    // these the candidate set explodes (300k pairs for 256 true ones here).
    val (nx, ny) = (col("x.__n"), col("y.__n"))
    val lengthOk =
      least(nx, ny).cast("double") >= lit(threshold) * greatest(nx, ny) - lit(1e-9)
    val overlapBound = lit(1) + least(nx - col("x.__rk"), ny - col("y.__rk"))
    val positionOk = overlapBound.cast("double") >=
      lit(threshold / (1 + threshold)) * (nx + ny) - lit(1e-9)
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.__shingle") === col("y.__shingle") &&
          col(s"x.$idCol") < col(s"y.$idCol") && lengthOk && positionOk)
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()

    verifyJaccard(sets, idCol, cand, threshold)
  }

  /** MinHash + LSH banding near-dup candidates, verified with exact Jaccard.
    *
    * Plan (all partial-aggregated, one logical pass per stage):
    *   1. signatures over the EXPLODED shingle index — `numHashes`
    *      `min(md5(shingle||seed_i))` aggregates in one groupBy (min of a
    *      cryptographic hash per seed is a valid min-wise family; string min
    *      over hex is order-equivalent to numeric min);
    *   2. `bands` band keys = md5 of each signature slice; docs sharing a
    *      band key become candidate pairs (shuffle on band key — the LSH
    *      bucket-join);
    *   3. candidates (only!) verified with exact Jaccard via a semi-joined
    *      intersection count — no false positives, recall `1-(1-t^r)^b`
    *      (16 hashes / 8 bands → 97% at t=0.6).
    *
    * One md5 yields FOUR independent 32-bit min-hash functions (8-hex
    * slices; lexicographic min on fixed-width lowercase hex == numeric min),
    * so `numHashes` signatures cost `numHashes/4` md5 calls per shingle —
    * the md5s are the dominant signature cost.
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String, k: Int,
                 numHashes: Int, bands: Int, threshold: Double,
                 collapseExact: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val sets = shingleSets(df, idCol, textCol, k)
    // Identical shingle sets ⇒ identical signatures ⇒ identical banding
    // outcome, so the exact-dup pre-collapse is output-invariant here too
    // (a member pairs iff its rep pairs) — see withExactCollapse.
    if (!collapseExact) bandPairsOnSets(sets, idCol, numHashes, bands, threshold)
    else withExactCollapse(sets, idCol)(rs =>
      bandPairsOnSets(rs, idCol, numHashes, bands, threshold))
  }

  /** The LSH-banding candidate + exact-verify pipeline over a prepared
    * `(id, __arr, __n)` shingle-set frame (see `minhashLsh`).
    */
  private def bandPairsOnSets(sets: DataFrame, idCol: String,
                              numHashes: Int, bands: Int,
                              threshold: Double): DataFrame = {
    val r = numHashes / bands
    // Signatures straight off the per-doc shingle ARRAY via the native
    // one-pass `MinHashSlices` expression — the same min-wise statistic the
    // exploded groupBy computed, with ZERO shuffle and no interpreted
    // higher-order-function lambdas; `element_at` fans the slice array out
    // into the signature columns.
    val sig = sets
      .select(col(idCol),
        graft.expr.MinHashSlices(col("__arr"), numHashes).as("__mh"))
      .select(col(idCol) +: (0 until numHashes).map(i =>
        element_at(col("__mh"), i + 1).as(s"__m$i")): _*)
    val bandCols = (0 until bands).map { bi =>
      struct(lit(bi).as("__band"),
        md5(concat_ws("|", (0 until r).map(j => col(s"__m${bi * r + j}")): _*)).as("__key"))
    }
    // Repartition on the bucket key so BOTH self-join sides hang off ONE
    // shuffle exchange (ReuseExchange) — otherwise the planner broadcasts a
    // copy and the whole signature pipeline is computed twice.
    val banded = sig.select(col(idCol), explode(array(bandCols: _*)).as("__bk"))
      .select(col(idCol), col("__bk.__band").as("__band"), col("__bk.__key").as("__key"))
      .repartition(col("__band"), col("__key"))
    val cand = banded.as("x").join(banded.as("y"),
      col("x.__band") === col("y.__band") && col("x.__key") === col("y.__key") &&
        col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()
    // Verify ONLY the candidates, against the stored shingle sets.
    verifyJaccard(sets, idCol, cand, threshold)
  }

  /** 32-bit SimHash over word unigrams. Bit j's per-token contribution is
    * the parity of hex digit j of md5(token) (±1); fingerprint bit j is the
    * sign of the sum. Computed by the native one-pass `SimHash32` expression
    * (graft.expr) — a map-side projection, no explode/groupBy shuffle.
    * Returns (id, simhash BIGINT).
    */
  def simhash32(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), graft.expr.SimHash32(col(textCol)).as("simhash"))

  /** The Column formulation `simhash32` replaces (explode → md5 per token →
    * 32 parity sums → sign bits) — kept as the differential-test reference
    * (SimHashSpec) and the documentation of the algorithm the DuckDB oracle
    * twin mirrors.
    */
  def simhash32Columns(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol),
      explode(words(col(textCol))).as("__t"))
      .withColumn("__h", md5(col("__t")))
    val odd = Seq("1", "3", "5", "7", "9", "b", "d", "f")
    val bitCols = (0 until 32).map { j =>
      sum(when(substring(col("__h"), j + 1, 1).isin(odd: _*), 1).otherwise(-1)).as(s"__s$j")
    }
    val sums = tok.groupBy(idCol).agg(bitCols.head, bitCols.tail: _*)
    val fp = (0 until 32).map { j =>
      when(col(s"__s$j") >= 0, lit(1L) * lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    sums.select(col(idCol), fp.as("simhash"))
  }

  /** Embedding-cosine near-dup pairs: random-hyperplane LSH buckets
    * prefilter the pair space (vectors agreeing on every `planes` sign bit),
    * then candidates are verified with exact cosine >= threshold. The bucket
    * join shuffles on the bucket id only — the all-pairs O(n^2) cosine never
    * materializes, which is what makes this the 100 TB path.
    *
    * Sizing: pass `planes = Ann.autoPlanes(n)` (≈ log2(n / targetBucket)) so
    * buckets stay constant-size as the corpus grows — a fixed plane count
    * turns quadratic within buckets at 10^9 vectors. `probeHamming = 1`
    * additionally pairs vectors whose buckets differ by ONE sign bit
    * (multi-probe), recovering near-threshold pairs that a single flipped
    * hyperplane would otherwise split; candidates stay bucket-bounded
    * (planes + 1 probes per row).
    */
  def embedNearDups(df: DataFrame, idCol: String, embCol: String,
                    planes: Int, dims: Int, threshold: Double,
                    probeHamming: Int = 0,
                    collapseExact: Boolean = true): DataFrame =
    if (!collapseExact)
      embedNearDupsCore(df, idCol, embCol, planes, dims, threshold, probeHamming)
    else {
      // EXACT-DUP PRE-COLLAPSE, the embedding twin of withExactCollapse:
      // byte-identical vectors share every LSH bucket, every probe set and
      // every cosine against every other vector, so only one representative
      // per distinct vector enters the bucket join (the 10x-replication
      // probe showed q32 as the one super-linear suite point — c clones of
      // one vector cost c(c-1)/2 verified candidates without this). The
      // collapse key is the double-cast array ITSELF (grouping on the
      // array — no hash-collision risk); members fan back out at the end,
      // and within-group pairs are exact dups at cosine 1.0 by definition.
      // Zero-norm/non-finite vectors are excluded from the intra fan-out
      // (`__nrm > 0` fails for both) — the core path equally drops them
      // (their cosine is null/NaN, never >= threshold).
      val emb = transform(col(embCol), c => c.cast("double"))
      val keyed = graft.core.Pinned.checkpoint(
        df.select(col(idCol), emb.as("__e")))
      val reps = keyed.groupBy("__e").agg(min(col(idCol)).as("__rep"))
      val repMap = graft.core.Pinned.checkpoint(keyed.join(reps, Seq("__e")))
      val repRows = repMap.where(col(idCol) === col("__rep"))
        .select(col(idCol), col("__e").as(embCol))
      val repPairs = embedNearDupsCore(repRows, idCol, embCol, planes, dims,
        threshold, probeHamming)
      val cross = repPairs
        .join(repMap.select(col("__rep").as("id_a"), col(idCol).as("__ma")),
          Seq("id_a"))
        .join(repMap.select(col("__rep").as("id_b"), col(idCol).as("__mb")),
          Seq("id_b"))
        .select(least(col("__ma"), col("__mb")).as("id_a"),
          greatest(col("__ma"), col("__mb")).as("id_b"), col("cosine"))
      val nrm = sqrt(graft.expr.GraftFunctions.arrayDot(col("x.__e"), col("x.__e")))
      val intra = repMap.as("x").join(repMap.as("y"),
          col("x.__e") === col("y.__e") &&
            col(s"x.$idCol") < col(s"y.$idCol"))
        // the upper bound excludes +Inf norms (overflowing or infinite
        // vectors), whose raw-path cosine is NaN and never emits; `> 0`
        // alone would let Inf through (NaN already fails both)
        .where(nrm > 0 && nrm <= Double.MaxValue)
        .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
          lit(1.0).as("cosine"))
      cross.unionByName(intra)
    }

  private def embedNearDupsCore(df: DataFrame, idCol: String, embCol: String,
                    planes: Int, dims: Int, threshold: Double,
                    probeHamming: Int): DataFrame = {
    // Pre-cast to double and precompute each vector's norm ONCE per row —
    // inside the pair join only the dot product remains (the norms and array
    // casts would otherwise be recomputed per candidate pair).
    val emb = transform(col(embCol), c => c.cast("double"))
    // lshBuckets is a map-only projection, so no equi-join with a bucket
    // table is needed — compute bucket/norm inline; the self-join below
    // hash-joins on the bucket id.
    val withBucket = df
      .join(Ann.lshBuckets(df, idCol, embCol, planes, dims), Seq(idCol))
      .select(col(idCol), emb.as("__e"),
        sqrt(graft.expr.GraftFunctions.arrayDot(emb, emb)).as("__nrm"),
        col("bucket"))
    // Multi-probe: the RIGHT side explodes to its probe set and the join
    // stays an equi-join on the probed bucket. For an unordered pair (a, b)
    // with Hamming(bucket_a, bucket_b) <= probeHamming exactly one probe of
    // b equals a's bucket, so each pair emits once — no dedup pass needed.
    // (At radius 0 the right side stays a plain rename so both join children
    // canonicalize identically and reuse ONE shuffle exchange.)
    val right =
      if (probeHamming == 0)
        withBucket.select(col(idCol).as("__yid"), col("__e").as("__ye"),
          col("__nrm").as("__ynrm"), col("bucket"))
      else
        withBucket.select(col(idCol).as("__yid"), col("__e").as("__ye"),
          col("__nrm").as("__ynrm"),
          explode(Ann.probeBuckets(col("bucket"), planes, probeHamming)).as("bucket"))
    val pairs = withBucket.as("x").join(right,
      col("x.bucket") === right("bucket") && col(s"x.$idCol") < col("__yid"))
    val dot = graft.expr.GraftFunctions.arrayDot(col("x.__e"), col("__ye"))
    pairs
      .select(col(s"x.$idCol").as("id_a"), col("__yid").as("id_b"),
        round(dot / (col("x.__nrm") * col("__ynrm")), 6).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Train/test decontamination: corpus docs sharing at least `minHits`
    * distinct word n-grams with a benchmark doc — the standard n-gram
    * collision check run before training to drop eval-set leakage. Returns
    * (corpusId, bench_id, hits) per contaminated (corpus, benchmark) pair.
    *
    * Scale shape: both sides explode to (id, distinct n-gram) inverted
    * indexes and hash-join on the gram — the benchmark side is typically
    * tiny (an eval set) and broadcasts; the corpus side streams. Nothing
    * is quadratic and nothing collects.
    */
  def contamination(corpus: DataFrame, corpusId: String, corpusText: String,
                    benchmark: DataFrame, benchId: String, benchText: String,
                    n: Int = 8, minHits: Long = 1): DataFrame = {
    def grams(df: DataFrame, id: Column, text: Column, as: String) =
      df.select(id.as(as), explode(array_distinct(
        graft.expr.WordNgrams(text, n))).as("__g"))
    val cg = grams(corpus, col(corpusId), col(corpusText), corpusId)
    val bg = grams(benchmark, col(benchId), col(benchText), "bench_id")
    cg.join(bg, Seq("__g"))
      .groupBy(corpusId, "bench_id").agg(count(lit(1)).as("hits"))
      .where(col("hits") >= minHits)
  }

  /** Apply near-dup clustering to the corpus — the "keep one doc per
    * duplicate cluster" materializer. Clusters come from the transitive
    * closure of `pairs` (Components.connectedComponents); every clustered
    * doc except its cluster's min-id representative is dropped via a
    * left-anti join, singletons pass through untouched.
    *
    * Scale shape: the cluster table is bounded by the PAIR count (not the
    * corpus), and the corpus side is one anti-join shuffling on the id —
    * no corpus-sized state anywhere.
    */
  def keepRepresentatives(df: DataFrame, idCol: String,
                          pairs: DataFrame): DataFrame = {
    val cc = Components.connectedComponents(pairs, "id_a", "id_b")
    val drop = cc.where(col("id") =!= col("rep")).select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** SimHash near-dup pairs within Hamming distance `maxHamming`, found
    * EXACTLY (no recall loss) via pigeonhole banding: the 32-bit signature
    * splits into `bands` equal slices; two signatures within Hamming
    * distance t < bands must agree on at least one whole slice, so an
    * equi-join per (band index, slice bits) bucket surfaces every qualifying
    * pair and the cheap `bit_count(xor)` verify discards the false bucket
    * collisions. This is the classic Manku/Jain/Sarma web-dedup layout
    * (WWW'07) — the all-pairs O(n^2) Hamming scan never materializes.
    *
    * Scale shape: one map-side signature projection, one hash-agg collapsing
    * identical signatures (so duplicate cliques never enter the join), then
    * one explode to `bands` rows per DISTINCT signature and one shuffle on
    * the (band, bits) key; member pairs are generated output-linearly after
    * the verify. Bucket fan-out is 2^(32/bands) per band (256 at the default
    * 4), so comparisons within a bucket grow quadratically once distinct
    * signatures far exceed bands * 2^(32/bands) — fine through ~10^6-10^7
    * distinct signatures; at billion-doc scale use [[simhashPairs64]]
    * (16-bit slices, 65k buckets per band) so buckets stay sub-quadratic.
    * Raise `bands` for a larger Hamming radius; AQE splits any skewed
    * bucket. `maxHamming = 0` skips the join entirely (within-signature
    * pairs only). Returns (id_a, id_b, hamming), id_a < id_b — never a
    * self-pair, even for the degenerate input where one id appears on
    * several rows (identical-text occurrences collapse; differing-text
    * occurrences participate per-signature).
    *
    * Memory bound: the collapse holds one id array per DISTINCT signature
    * (8 bytes x clique size in a single aggregation row), so the largest
    * duplicate clique must fit one executor's row budget — ~10^7 clones.
    * That is not the binding constraint: a clique past it implies k^2/2
    * >= 5*10^13 OUTPUT pairs, infeasible for any pair-listing layout.
    * All-pairs is a diagnostic/graph-edge surface; for corpus pruning run
    * exact dedup first (a whale clique is byte-identical templates) or go
    * straight to [[Components.connectedComponents]] + keepRepresentatives.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, bands: Int = 4): DataFrame =
    bandedSimhashPairs(simhash32(df, idCol, textCol), idCol, 32,
      maxHamming, bands)

  /** 64-bit signature (`graft.expr.SimHash64` — bit-level md5 parities,
    * same map-side shape). Returns (id, simhash BIGINT). */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), graft.expr.SimHash64(col(textCol)).as("simhash"))

  /** [[simhashPairs]] on the 64-bit signature: 4 bands of 16 bits give 65k
    * buckets per band (vs 256 at 32 bits) — the billion-document
    * configuration the 32-bit scaladoc points to. Same exact pigeonhole
    * guarantee for maxHamming < bands.
    */
  def simhashPairs64(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3, bands: Int = 4): DataFrame =
    bandedSimhashPairs(simhash64(df, idCol, textCol), idCol, 64,
      maxHamming, bands)

  private def bandedSimhashPairs(s: DataFrame, idCol: String, width: Int,
                                 maxHamming: Int, bands: Int): DataFrame = {
    require(bands >= 1 && width % bands == 0, s"bands must divide $width")
    require(maxHamming >= 0 && maxHamming < bands,
      s"pigeonhole exactness needs maxHamming < bands (got $maxHamming >= $bands)")
    // Signature collapse (the q21/q32 exact-collapse precedent, one level
    // deeper): template-heavy corpora put many documents on the SAME
    // signature, and a banded self-join over the raw rows then does
    // clique-squared work inside every bucket (the r13 100x probe measured
    // q76 at 517x wall for 100x docs — the only super-linear query in the
    // suite). Distinct signatures are what banding needs; members only
    // matter for writing the output. So: one hash-agg to (signature, sorted
    // member ids), pair generation in two output-linear parts —
    //   within a signature: Hamming 0 by definition, generated map-side
    //     from the sorted array (no join, no shuffle);
    //   across signatures: the banded equi-join + pigeonhole verify runs
    //     on DISTINCT signatures (clique size no longer enters the join),
    //     then each surviving signature pair fans out members x members.
    // Pair-level distinct() disappears entirely (first-agreeing-band
    // emission below), so the only quadratic term left is the output
    // itself — inherent: all-pairs over a k-clone clique IS k^2/2 rows.
    // When only survivors are needed, feed these pairs at a saner radius
    // into Components.connectedComponents + keepRepresentatives instead of
    // materializing the full pair list.
    // array_distinct: a duplicated id (two input rows sharing idCol with
    // identical text) must not emit a self-pair (x, x, 0) or per-occurrence
    // duplicates of its pairs — the pre-collapse join formulation got this
    // for free from its strict id_a < id_b predicate. A duplicated id with
    // DIFFERING text keeps per-occurrence semantics: it lands under each of
    // its signatures and may pair with a given neighbor once per agreeing
    // signature pair (ids are expected unique per row; this is the
    // documented degenerate-input behavior, not a supported shape).
    // pinned: `groups` feeds the within-signature fan-out AND the banded
    // join (two differently-shaped consumers — no exchange reuse), so
    // without the checkpoint the scan + simhash + collapse aggregate runs
    // twice end to end (r19 100× stage attribution: two full 500k-doc
    // scans)
    val groups = graft.core.Pinned.checkpoint(s.groupBy("simhash")
      .agg(array_distinct(sort_array(collect_list(col(idCol)))).as("__ids")))
    val within = groups.where(size(col("__ids")) >= 2)
      .select(col("__ids"), posexplode(col("__ids")).as(Seq("__i", "id_a")))
      .select(col("id_a"), explode(
        slice(col("__ids"), col("__i") + lit(2), size(col("__ids")))).as("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
    if (maxHamming == 0) within
    else {
      val sliceBits = width / bands
      val mask = if (sliceBits == 64) -1L else (1L << sliceBits) - 1
      val slices = (0 until bands).map(i =>
        shiftright(col("simhash"), i * sliceBits).bitwiseAND(lit(mask)))
      val banded = groups.select(col("simhash"), col("__ids"),
        posexplode(array(slices: _*)).as(Seq("__band", "__bits")))
      // Both join children project from the SAME banded plan, so Catalyst
      // canonicalizes them identically and reuses one shuffle exchange.
      val left = banded.select(col("simhash").as("__sa"),
        col("__ids").as("__as"), col("__band"), col("__bits"))
      val right = banded.select(col("simhash").as("__sb"),
        col("__ids").as("__bs"), col("__band"), col("__bits"))
      // A pair may agree on several bands; keep it only where it agrees for
      // the FIRST time (for every earlier band the slices differ). That is
      // a bitwise filter evaluated inside the join stage — exactly-once
      // emission with no dedup exchange, so the whole cross path is
      // map-side after the single banded shuffle.
      val firstAgreeingBand = (0 until bands - 1).map { j =>
        val d = shiftright(col("__sa"), j * sliceBits).bitwiseAND(lit(mask)) =!=
          shiftright(col("__sb"), j * sliceBits).bitwiseAND(lit(mask))
        (col("__band") <= lit(j)) || d
      }.reduceOption(_ && _).getOrElse(lit(true))
      val sigPairs = left.join(right, Seq("__band", "__bits"))
        .where(col("__sa") < col("__sb")) // canonical direction, any total order
        .where(firstAgreeingBand)
        .select(col("__as"), col("__bs"),
          bit_count(col("__sa").bitwiseXOR(col("__sb"))).as("hamming"))
        .where(col("hamming") <= maxHamming)
      val cross = sigPairs
        .select(explode(col("__as")).as("__x"), col("__bs"), col("hamming"))
        .select(col("__x"), explode(col("__bs")).as("__y"), col("hamming"))
        // a duplicated id carrying two DIFFERENT texts sits under two
        // signatures; if those agree on a band it would meet itself here
        .where(col("__x") =!= col("__y"))
        .select(least(col("__x"), col("__y")).as("id_a"),
          greatest(col("__x"), col("__y")).as("id_b"), col("hamming"))
      within.unionAll(cross)
    }
  }

  /** Cross-document duplicated n-gram SPANS — the exact-substring dedup
    * signal of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (ACL'22): every word position whose n-gram occurs at
    * least `minCount` times ANYWHERE in the corpus (other documents or a
    * repeat within the same one) is duplicated; overlapping/adjacent
    * duplicated grams merge into maximal spans. Returns one row per maximal
    * span: (id, span_start, span_end, span_tokens) with 1-based token
    * positions, `span_end` exclusive.
    *
    * Scale shape (vs the paper's monolithic suffix array): grams explode
    * map-side (native `WordNgrams` + xxhash64 so only 8-byte keys shuffle),
    * frequency is one hash groupBy on the gram hash, hits come back via a
    * left-semi join already partitioned on that key, and span merging is a
    * per-DOCUMENT gaps-and-islands window — partitioned by id, so no global
    * sort and no single-task stage; a document's hits trivially fit one
    * task. Gram-hash collisions (xxhash64, ~2^-64 per pair) can only ADD a
    * spurious span, never drop one — the standard trade every hash-based
    * dedup path here makes.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 8, minCount: Long = 2): DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    require(minCount >= 2, "a span repeated fewer than 2 times is not a duplicate")
    val grams = gramIndex(df, idCol, textCol, n)
    val dup = grams.groupBy("__h").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minCount).select("__h")
    // counted broadcast (the verifyJaccard pattern): the duplicated-gram
    // vocabulary is minCount-gated but the planner only sees the pre-filter
    // estimate, so it sort-merges — shuffling AND sorting the full
    // positional index on both sides. Broadcasting the counted hash list
    // makes the retrieval a map-side semi join (the index never shuffles
    // on __h at all; mergeSpans repartitions the few HITS by id). Above
    // the limit the SMJ returns instead of an executor OOM; the count is
    // cheap — the gated list is hash-aggregate-sized.
    val dupCp = graft.core.Pinned.checkpoint(dup)
    val dupSide = graft.core.Gates.hint(dupCp)(dupCp)
    val hits = grams.join(dupSide, Seq("__h"), "left_semi")
    mergeSpans(hits, idCol, n)
  }

  /** [[duplicatedSpans]] with a keep-first contract in the spirit of
    * Lee et al. ACL'22 (strip duplicated substrings except one copy): the
    * first occurrence of each duplicated n-GRAM — first in the
    * deterministic, engine-independent (id, position) order — is exempt
    * from span reporting, while [[duplicatedSpans]] reports all of them
    * (corpus-statistics difference only; dedup recall is identical).
    *
    * The exemption is PER GRAM, not per maximal span: when overlapping
    * duplicated grams have their first occurrences in different documents,
    * a gram's exempted occurrence can still be partially covered by
    * NEIGHBORING grams' spans, so the downstream strip preserves one copy
    * of every duplicated n-gram's tokens only where the exempted
    * occurrences don't interleave — it does not guarantee an intact copy
    * of every maximal duplicated SPAN survives. (A per-span keep-first
    * would need span identity across documents, i.e. a second
    * merge-then-match pass; the per-gram rule is what the q88 oracle
    * verifies and what the token-conservation spec differential covers.)
    *
    * Scale shape: the occurrence order needs no global sort — "first" is
    * `min(struct(id, pos))`, folded into the SAME frequency hash-aggregate
    * that gates on `minCount` (partial-aggregated map-side), and the
    * exemption is a filter on the gram join that hits-retrieval already
    * performs. One row per duplicated gram hash flows through the join,
    * bounded by the duplicated vocabulary, not the corpus.
    */
  def duplicatedSpansKeepFirst(df: DataFrame, idCol: String, textCol: String,
                               n: Int = 8, minCount: Long = 2): DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    require(minCount >= 2, "a span repeated fewer than 2 times is not a duplicate")
    val grams = gramIndex(df, idCol, textCol, n)
    val firsts = grams.groupBy("__h")
      .agg(count(lit(1)).as("__c"),
        min(struct(col(idCol), col("__pos"))).as("__f"))
      .where(col("__c") >= minCount)
      .select(col("__h"), col("__f").getField(idCol).as("__fid"),
        col("__f").getField("__pos").as("__fpos"))
    // counted broadcast — see duplicatedSpans: without it the planner
    // sort-merges the minCount-gated firsts table against the full
    // positional index (the r19 100× stage attribution: two 292 MB sorts of
    // the same reused exchange at ~55 s CPU each); broadcasting keeps the
    // index map-side, the SMJ degrade stays above the counted limit
    val firstsCp = graft.core.Pinned.checkpoint(firsts)
    val firstsSide = graft.core.Gates.hint(firstsCp)(firstsCp)
    val hits = grams.join(firstsSide, Seq("__h"))
      .where(col(idCol) =!= col("__fid") || col("__pos") =!= col("__fpos"))
      .select(col(idCol), col("__pos"))
    mergeSpans(hits, idCol, n)
  }

  /** Positional n-gram index: (id, __pos 1-based, __h = xxhash64(gram)).
    * Map-side only — native `WordNgrams` + an 8-byte hash key, so the
    * downstream frequency shuffles move no gram text.
    */
  private def gramIndex(df: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame =
    df.select(col(idCol),
        posexplode(graft.expr.WordNgrams(col(textCol), n)).as(Seq("__p0", "__g")))
      .select(col(idCol), (col("__p0") + 1).as("__pos"),
        xxhash64(col("__g")).as("__h"))

  /** Merge 1-based hit positions (`__pos`, each covering `n` tokens) into
    * maximal spans per document — per-key gaps-and-islands, adjacent spans
    * merging. Shared by [[duplicatedSpans]] and [[contaminatedSpans]].
    */
  private def mergeSpans(hits: DataFrame, idCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy("__pos")
    val prevEnd = max(col("__pos") + n)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val isl = hits
      .withColumn("__brk",
        when(prevEnd.isNull || col("__pos") > prevEnd, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__brk")).over(w))
    isl.groupBy(col(idCol), col("__isl"))
      .agg(min(col("__pos")).as("span_start"),
        (max(col("__pos")) + n).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** Span-level decontamination — the surgical sibling of [[contamination]]:
    * instead of flagging whole corpus documents that collide with an eval
    * set, report the exact maximal token spans whose every covering n-gram
    * appears somewhere in the benchmark. Downstream, feed the spans to the
    * same rebuild as [[stripDuplicatedSpans]] to excise (rather than drop)
    * contaminated text. Returns (corpusId, span_start, span_end,
    * span_tokens), positions 1-based, end exclusive.
    *
    * Scale shape: the benchmark side collapses to DISTINCT gram hashes
    * (eval sets are small — typically broadcast by AQE) and the corpus side
    * left-semi joins its positional gram index against it; span merging is
    * the per-document island window. Nothing quadratic, nothing collected.
    */
  def contaminatedSpans(corpus: DataFrame, corpusId: String,
                        corpusText: String, benchmark: DataFrame,
                        benchText: String, n: Int = 8): DataFrame = {
    val grams = gramIndex(corpus, corpusId, corpusText, n)
    val benchGrams = benchmark
      .select(explode(array_distinct(
        graft.expr.WordNgrams(col(benchText), n))).as("__g"))
      .select(xxhash64(col("__g")).as("__h")).distinct()
    mergeSpans(grams.join(benchGrams, Seq("__h"), "left_semi"), corpusId, n)
  }

  /** Apply [[duplicatedSpans]]: rebuild each document with every duplicated
    * span's tokens removed (ALL occurrences — the aggressive policy; see
    * [[stripDuplicatedSpansKeepFirst]] for the paper's keep-one contract).
    */
  def stripDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 8, minCount: Long = 2): DataFrame =
    applySpanStrip(df, idCol, textCol,
      duplicatedSpans(df, idCol, textCol, n, minCount))

  /** Apply [[duplicatedSpansKeepFirst]]: every duplicated span is removed
    * EXCEPT its first (id, position)-ordered occurrence — the Lee et al.
    * ACL'22 contract. Same rebuild as [[stripDuplicatedSpans]]; total
    * removed tokens differ by exactly the surviving copies.
    */
  def stripDuplicatedSpansKeepFirst(df: DataFrame, idCol: String,
                                    textCol: String, n: Int = 8,
                                    minCount: Long = 2): DataFrame =
    applySpanStrip(df, idCol, textCol,
      duplicatedSpansKeepFirst(df, idCol, textCol, n, minCount))

  /** Rebuild each document with the given spans' tokens removed. Output is
    * whitespace-normalized (tokens rejoined with single spaces) for every
    * row, spanned or not, so the transform is uniform. Adds
    * `removed_tokens`; other columns pass through, `textCol` replaced in
    * place.
    *
    * Scale shape: the span table (bounded by hit count, not corpus size)
    * aggregates per doc and joins back on the id; the rebuild is a map-side
    * `filter` lambda over the token array — O(tokens x spans-per-doc).
    */
  private def applySpanStrip(df: DataFrame, idCol: String, textCol: String,
                             spanTable: DataFrame): DataFrame = {
    val spans = spanTable
      .groupBy(idCol)
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    df.join(spans, Seq(idCol), "left")
      .withColumn("__spans", coalesce(col("__spans"),
        array().cast("array<struct<span_start:int,span_end:int>>")))
      .withColumn("__w", words(col(textCol)))
      .withColumn("__kept", filter(col("__w"), (_, i) =>
        !exists(col("__spans"), s =>
          i + 1 >= s("span_start") && i + 1 < s("span_end"))))
      .withColumn(textCol, concat_ws(" ", col("__kept")))
      .withColumn("removed_tokens",
        (size(col("__w")) - size(col("__kept"))).cast("long"))
      .drop("__spans", "__w", "__kept")
  }
}
