package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expr.TextHashFunctions

/** Deduplication operators for a training-data pipeline (SURVEY §7.4).
  * Every variant is shuffle-shaped for scale:
  *
  *  - exact: hash-groupBy on the dedupe key — one shuffle, map-side combine.
  *  - n-gram Jaccard: explode distinct shingles, self-join on shingle,
  *    count intersections. The `maxShingleFreq` cap drops ultra-common
  *    shingles before the join — without it a stop-shingle appearing in
  *    10^6 docs creates a 10^12-row join at 100 TB. NOTE the capped
  *    variant computes Jaccard over the CAPPED shingle universe (sizes
  *    included): dropping hot shingles can remove pairs (shared content
  *    was mostly hot) OR add pairs (each side's unshared shingles were
  *    hot, inflating the effective similarity) relative to exact Jaccard.
  *    It is a different, deliberately-bounded similarity measure — the
  *    oracle applies the identical filter — not a strict subset of the
  *    exact result; don't treat it as precision-safe for destructive
  *    dedup without reviewing the cap.
  *  - MinHash-LSH: 16 minhashes → 4 bands of 4 → candidates share a band
  *    hash → verified against true Jaccard. Candidate generation is
  *    linear in docs (groupBy band), never all-pairs.
  *  - SimHash: 64-bit signature per doc (native expression, no explode),
  *    banded on 16-bit chunks; pairs verified by Hamming distance.
  *  - embedding cosine: exact all-pairs above a threshold (baseline; the
  *    LSH-bucketed path for scale lives in SimilarityOps).
  */
object DedupOps {

  /** Distinct k-token shingles per document. Documents shorter than k
    * tokens contribute their whole text as one shingle.
    *
    * Deliberately built WITHOUT higher-order functions: `transform` and
    * friends run on the interpreted CodegenFallback path (and naively
    * referencing split() inside the lambda re-runs the regex once per
    * shingle). Exploding an index sequence and slicing in a plain
    * projection keeps every operator inside whole-stage codegen. */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    shinglesAll(df, idCol, textCol, k).distinct()

  /** Positional (non-distinct) shingle stream — one row per gram
    * occurrence. The dedup operators use the distinct set; repetition
    * statistics need the multiplicities. */
  def shinglesAll(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = col("_toks")
    df.select(col(idCol), split(col(textCol), " +").as("_toks"))
      .select(col(idCol), toks,
        explode(sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))))
          .as("_i"))
      .select(col(idCol),
        when(size(toks) < k, array_join(toks, " "))
          .otherwise(array_join(slice(toks, col("_i"), lit(k)), " "))
          .as("shingle"))
  }

  /** Shingle frames are the shared upstream of every text near-dup
    * operator (Jaccard, capped Jaccard, MinHash). At 100 TB you compute
    * them once per corpus snapshot and stage them for all consumers; the
    * single-session analog is one persisted frame memoized per
    * (source, idCol, textCol, k). Keyed by DataFrame identity — [[graft.T]]
    * memoizes relations, so the same table is the same instance per
    * session. LRU-bounded with unpersist-on-evict ([[Memo]]) so a
    * session churning many corpora / k values cannot pin executor
    * storage without limit. */
  private[ops] val shingleCache =
    Memo.staging[(DataFrame, String, String, Int), DataFrame](8)

  def sharedShingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    shingleCache.getOrElseUpdate((df, idCol, textCol, k)) {
      shingles(df, idCol, textCol, k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Unpersist and drop every shared shingle frame (test hygiene). */
  def clearShingleCache(): Unit = {
    shingleCache.clear()
    cappedShingleCache.clear()
  }

  /** CAPPED shared shingle frame: [[sharedShingles]] minus shingles
    * whose document frequency exceeds `cap` — the production join input
    * every capped near-dup consumer starts from. The df census is ONE
    * aggregation per (corpus, k, cap), staged like the raw frame: the
    * capped exact join, the incremental delta check, and any other
    * cap-guarded consumer read the same persisted blocks instead of
    * each re-running the census shuffle per call. (An ingest whose base
    * and delta PARTITION the corpus can slice this one frame for both
    * sides — the combined-side census [[ngramJaccardPairsBetween]]
    * specifies equals the whole-corpus census.) */
  private[ops] val cappedShingleCache =
    Memo.staging[(DataFrame, String, String, Int, Int), DataFrame](8)

  def sharedCappedShingles(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, cap: Int): DataFrame =
    cappedShingleCache.getOrElseUpdate((df, idCol, textCol, k, cap)) {
      val sh0 = sharedShingles(df, idCol, textCol, k)
      val hot = sh0.groupBy("shingle").agg(count(lit(1)).as("f"))
        .filter(col("f") > cap).select("shingle")
      sh0.join(broadcast(hot), Seq("shingle"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Shared near-dup pair graph, memoized per (source, cols, k,
    * threshold) — one level up from [[sharedShingles]]: cluster
    * resolution and representative-keeping both consume the SAME pair
    * graph, and at 100 TB you materialize it once per corpus snapshot for
    * all downstream consumers (including [[GraphOps.sharedComponents]],
    * which keys on this frame's identity). Cache owns the persisted
    * frames; [[clearPairCache]] releases them. */
  private[ops] val pairCache =
    Memo.staging[(DataFrame, String, String, Int, Double), DataFrame](8)

  def sharedNgramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double): DataFrame =
    pairCache.getOrElseUpdate((df, idCol, textCol, k, threshold)) {
      ngramJaccardPairs(df, idCol, textCol, k, threshold, reuseShingles = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Unpersist and drop every shared pair frame (test hygiene). */
  def clearPairCache(): Unit = pairCache.clear()

  /** The threshold TUNING CURVE: pair counts and affected-document
    * counts per Jaccard band over [floor, 1] — what a curation team
    * reads before choosing the dedup threshold (too low over-deletes,
    * too high leaves near-dups; the knee of this curve is the
    * decision). ONE pair computation at the floor feeds every band
    * (sharing [[sharedNgramJaccardPairs]]' staged frame when the floor
    * matches a consumer threshold) — never one join per candidate
    * threshold. Bands are floor(j·10)/10 buckets with exact-Jaccard
    * j = 1.0 landing in the top band.
    *
    * @return one row per occupied band: (`band_lo` DOUBLE, `n_pairs`,
    *         `n_docs` distinct documents in ≥1 pair of the band).
    */
  def thresholdSweep(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, minJaccard: Double): DataFrame = {
    val bands = sharedNgramJaccardPairs(df, idCol, textCol, k, minJaccard)
      .withColumn("band_lo",
        least(floor(col("jaccard") * 10), lit(9L)).cast(DoubleType) / 10.0)
    val nPairs = bands.groupBy("band_lo")
      .agg(count(lit(1)).as("n_pairs"))
    // distinct docs per band via a keyed distinct shuffle — NOT a
    // collect_set per band, whose buffer would hold the band's whole
    // document set in one aggregation state at corpus scale
    val nDocs = bands
      .select(col("band_lo"), explode(array(col("a"), col("b"))).as("d"))
      .groupBy("band_lo")
      .agg(countDistinct(col("d")).as("n_docs"))
    nPairs.join(nDocs, Seq("band_lo"))
  }

  /** Cross-source duplication matrix: near-dup pair counts per
    * UNORDERED source pair — the report that tells a curation team
    * which ingestion sources are mirroring each other (cross-source
    * rows: candidates for source-level dedup ordering) and which
    * re-crawl themselves (diagonal rows). Two doc-keyed LEFT joins to
    * pin each pair end's source, then one canonical (least, greatest)
    * rollup — pair-list-bounded throughout, no corpus-wide state.
    * A pair end missing from `docs` (pair list from a different
    * snapshot, docs filtered upstream) surfaces as the `<unmatched>`
    * source instead of silently shrinking the matrix.
    *
    * @param pairs (`a`, `b`) near-dup pairs; duplicates tolerated
    *        (distinct-ed, the [[pairEvidence]] discipline).
    * @return (`source_x` ≤ `source_y`, `n_pairs`).
    */
  def crossSourceDupMatrix(
      docs: DataFrame, idCol: String, srcCol: String,
      pairs: DataFrame): DataFrame = {
    val sa = docs.select(col(idCol).as("a"),
      col(srcCol).cast("string").as("_sa"))
    val sb = docs.select(col(idCol).as("b"),
      col(srcCol).cast("string").as("_sb"))
    pairs.select("a", "b").distinct()
      .join(sa, Seq("a"), "left_outer").join(sb, Seq("b"), "left_outer")
      .withColumn("_sa", coalesce(col("_sa"), lit("<unmatched>")))
      .withColumn("_sb", coalesce(col("_sb"), lit("<unmatched>")))
      .select(least(col("_sa"), col("_sb")).as("source_x"),
        greatest(col("_sa"), col("_sb")).as("source_y"))
      .groupBy("source_x", "source_y")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** EVIDENCE for a near-dup pair list: up to `topK` shared shingles per
    * pair (lexicographically smallest — deterministic), the line a
    * review queue displays next to the Jaccard score before a human
    * confirms a drop. The shared-shingle join is BOUNDED BY THE PAIR
    * LIST (pairs join shingles(a) first, then close on (b, shingle)) —
    * never a shingle-universe self-join; WindowGroupLimit caps the sort
    * at topK per pair per map partition.
    *
    * @param pairs (`a`, `b`) near-dup pairs (e.g.
    *        [[sharedNgramJaccardPairs]] output).
    * @return (`a`, `b`, `n_shared`, `evidence` array of ≤ topK shingles
    *         in lexicographic order).
    */
  def pairEvidence(
      df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, k: Int, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = sharedShingles(df, idCol, textCol, k)
    // distinct() guards against duplicated (a,b) rows in the caller's
    // pair list — duplicates would multiply the shingle join and
    // inflate n_shared
    val shared = pairs.select("a", "b").distinct()
      .join(sh.select(col(idCol).as("a"), col("shingle")), "a")
      .join(sh.select(col(idCol).as("b"), col("shingle")), Seq("b", "shingle"))
    val w = Window.partitionBy("a", "b").orderBy("shingle")
    shared
      .withColumn("_rn", row_number().over(w))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_shared"),
        sort_array(collect_list(when(col("_rn") <= topK, col("shingle"))))
          .as("evidence"))
  }

  /** Exact dedupe: canonical (min-id) representative per key group. */
  def exactDedup(df: DataFrame, idCol: String, keyCols: Seq[Column]): DataFrame =
    df.groupBy(keyCols: _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dupes"))

  /** Weighted (BAG / multiset) Jaccard near-dup pairs:
    * `Σ_tok min(ca, cb) / Σ_tok max(ca, cb)` over per-document TOKEN
    * COUNTS, computed exactly via `Σ max = na + nb − Σ min`. The bag
    * view is the complement of every shingle operator here: fully
    * REORDERED text keeps bag similarity 1 (k-gram Jaccard ≈ 0 — the
    * shuffled-boilerplate case MinHash misses), while a doc that is
    * another doc REPEATED twice drops to ≈ 1/2 (a shingle SET barely
    * notices the doubling).
    *
    * Candidate pairs come from RARE shared tokens only (document
    * frequency ≤ `maxTokenFreq` — the capped-shingle discipline: the
    * declared contract is that a pair sharing nothing rarer than
    * stopwords is not a candidate); the exact Σ min then runs
    * PAIR-BOUNDED over the full token-count lists ([[pairEvidence]]
    * discipline), so no all-pairs or hot-token quadratic join ever
    * exists. Integer sufficient statistics ride the output; the ratio
    * is one IEEE division of exact integers — engine-portable.
    *
    * @return (`a`, `b`, `inter` = Σ min, `na`, `nb`, `bag_jaccard`)
    *         with a < b, bag_jaccard ≥ `threshold`.
    */
  def bagJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxTokenFreq: Int): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"bagJaccardPairs: threshold must be in (0, 1], got $threshold")
    require(maxTokenFreq >= 1,
      s"bagJaccardPairs: maxTokenFreq must be >= 1, got $maxTokenFreq")
    val tc = df.select(col(idCol),
        explode(graft.ops.TextOps.tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("c"))
    val sizes = tc.groupBy(col(idCol)).agg(sum("c").as("n"))
    // token df census over the count frame (one row per (doc, tok), so
    // count(*) IS the document frequency)
    val rare = tc.groupBy("tok").agg(count(lit(1)).as("f"))
      .filter(col("f") <= maxTokenFreq).select("tok")
    val rareTc = tc.join(rare, Seq("tok"), "left_semi")
    val cand = rareTc.select(col("tok"), col(idCol).as("a"))
      .join(rareTc.select(col("tok"), col(idCol).as("b")), "tok")
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()
    val inter = cand
      .join(tc.select(col(idCol).as("a"), col("tok"), col("c").as("ca")), "a")
      .join(tc.select(col(idCol).as("b"), col("tok"), col("c").as("cb")),
        Seq("b", "tok"))
      .groupBy("a", "b")
      .agg(sum(least(col("ca"), col("cb"))).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("a"), col("n").as("na")), "a")
      .join(sizes.select(col(idCol).as("b"), col("n").as("nb")), "b")
      .withColumn("bag_jaccard",
        col("inter").cast(DoubleType) /
          (col("na") + col("nb") - col("inter")))
      .filter(col("bag_jaccard") >= threshold)
      .select("a", "b", "inter", "na", "nb", "bag_jaccard")
  }

  /** All pairs with n-gram Jaccard >= threshold.
    * @param maxShingleFreq drop shingles occurring in more docs (skew/scale
    *        guard); None = exact.
    * @param reuseShingles read the shared persisted shingle frame instead
    *        of recomputing it — the frame is referenced three times below
    *        (sizes + both self-join sides), and other dedup operators over
    *        the same corpus share it too. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double,
      maxShingleFreq: Option[Int] = None,
      reuseShingles: Boolean = false): DataFrame = {
    val sh = (reuseShingles, maxShingleFreq) match {
      // staged + capped: read the shared capped frame (census already
      // applied and persisted once per (corpus, k, cap))
      case (true, Some(cap)) => sharedCappedShingles(df, idCol, textCol, k, cap)
      case (true, None) => sharedShingles(df, idCol, textCol, k)
      case (false, cf) =>
        val sh0 = shingles(df, idCol, textCol, k)
        cf match {
          case Some(cap) =>
            val hot = sh0.groupBy("shingle").agg(count(lit(1)).as("f"))
              .filter(col("f") > cap).select("shingle")
            sh0.join(broadcast(hot), Seq("shingle"), "left_anti")
          case None => sh0
        }
    }
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val a = sh.select(col(idCol).as("a"), col("shingle"))
    val b = sh.select(col(idCol).as("b"), col("shingle"))
    val common = a.join(b, "shingle")
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("c"))
    common
      .join(sizes.select(col(idCol).as("a"), col("n").as("na")), "a")
      .join(sizes.select(col(idCol).as("b"), col("n").as("nb")), "b")
      .withColumn("jaccard",
        col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** DIRECTIONAL n-gram containment pairs: C(src→dst) =
    * |S_src ∩ S_dst| / |S_src| ≥ `minContainment` — the asymmetric
    * sibling of [[ngramJaccardPairs]]. Jaccard misses subset
    * relationships by construction (a 3-line quote inside a 300-line
    * page scores J ≈ 0.01 but C(quote→page) = 1.0), and quote/subset
    * detection is exactly what decontamination and boilerplate hunts
    * need. Same inverted-index discipline: intersections come from ONE
    * a < b equi-join on the staged shared shingle frame
    * ([[sharedShingles]] — the count is symmetric, so each undirected
    * candidate unfolds into its two directional rows afterwards, halving
    * the join). The only float is the final c/n_src division. At 100 TB
    * compose with the capped frame ([[sharedCappedShingles]]) exactly as
    * the Jaccard consumers do — the cap changes the measure, so it is
    * the caller's declared choice, not a hidden default.
    *
    * @return (`src`, `dst`, `c`, `n_src`, `containment`), src ≠ dst,
    *         both directions of a qualifying candidate when both clear
    *         the threshold.
    */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, minContainment: Double,
      maxShingleFreq: Option[Int] = None): DataFrame = {
    // the documented scale knob: a df cap bounds the posting-list
    // fan-out (and CHANGES the measure — caller's declared choice),
    // reading the same staged capped frame the Jaccard consumers share
    val sh = maxShingleFreq match {
      case Some(cap) => sharedCappedShingles(df, idCol, textCol, k, cap)
      case None => sharedShingles(df, idCol, textCol, k)
    }
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val common = sh.select(col(idCol).as("a"), col("shingle"))
      .join(sh.select(col(idCol).as("b"), col("shingle")), "shingle")
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("c"))
      .join(sizes.select(col(idCol).as("a"), col("n").as("na")), "a")
      .join(sizes.select(col(idCol).as("b"), col("n").as("nb")), "b")
    common
      .select(col("a").as("src"), col("b").as("dst"),
        col("c"), col("na").as("n_src"))
      .unionAll(common.select(col("b").as("src"), col("a").as("dst"),
        col("c"), col("nb").as("n_src")))
      .withColumn("containment",
        col("c").cast(DoubleType) / col("n_src").cast(DoubleType))
      .filter(col("containment") >= minContainment)
  }

  /** PPJoin-style prefix-filtered exact Jaccard join (Xiao/Wang/Lin/Yu,
    * WWW'08 — public algorithm). Every document's shingle set is ordered
    * by ONE global canonical order (ascending document frequency, rarest
    * first — the order that makes prefixes maximally selective; ties by
    * shingle). If J(a,b) >= t, the two sets MUST share a shingle within
    * each one's first n - ceil(t*n) + 1 shingles in that order (if the
    * prefixes were disjoint, even perfect overlap of the remainders
    * leaves J < t) — so joining on prefix shingles alone recalls every
    * qualifying pair, and each candidate is verified with an exact
    * per-candidate array intersection (no second shingle-universe join).
    *
    * Contrast with `maxShingleFreq` capping: the cap CHANGES the measure
    * (documented above); the prefix filter does NOT — it returns exactly
    * the exact join's pairs from a join whose size is prefix×prefix
    * instead of set×set. The `dedup_prefix_filter` gate's oracle is the
    * EXACT-join SQL: it hash-passes iff losslessness holds. At 100 TB
    * the prefix join still needs the hot-shingle cap for stop-shingles
    * that survive into prefixes (rare by construction — hot shingles
    * sort LAST); compose both when the corpus demands it. */
  def prefixFilterJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double,
      reuseShingles: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh =
      if (reuseShingles) sharedShingles(df, idCol, textCol, k)
      else shingles(df, idCol, textCol, k)
    // bytes-scaled width for every shingle-stream-sized exchange (the
    // [[gramShuffleParts]] model: the shingle stream is ~k× the text,
    // ~3× the on-disk bytes) — the 5M sweep at the fixed session width
    // was partition-bound (a 128-partition A/B recovered 13%); at gate
    // scale this floors to the session default and the plan is unchanged
    val nPart = gramShuffleParts(df, k)
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("f"))
    // doc sizes via a compact rollup joined AFTER the window (the join
    // rides the window's doc partitioning) — measured 3x faster than a
    // second count().over(partitionBy(doc)) window spec, which adds a
    // whole extra WindowExec pass over the full shingle frame
    val w = Window.partitionBy(idCol).orderBy(col("f"), col("shingle"))
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val prefix = sh.join(freq, "shingle")
      .repartition(nPart, col(idCol)) // the window reuses this width
      .withColumn("pos", row_number().over(w))
      .join(sizes, idCol)
      .filter(col("pos") <=
        col("n") - ceil(lit(threshold) * col("n")) + lit(1))
      .select(col(idCol), col("shingle"), col("pos"), col("n"))
    // PPJoin positional filter: a shared prefix token at positions
    // (pa, pb) caps the pair's possible overlap at
    // 1 + min(na-pa, nb-pb) (everything shared sorts at-or-after the
    // match in BOTH docs); J >= t needs overlap >= ceil(t/(1+t)(na+nb)).
    // A true pair's FIRST shared token always passes the bound, so
    // keeping pairs where ANY matched row passes is still lossless —
    // it just refuses the join rows whose remaining overlap cannot
    // reach the threshold.
    val cands = prefix.select(col(idCol).as("a"), col("shingle"),
        col("pos").as("pa"), col("n").as("na"))
      .repartition(nPart, col("shingle"))
      .join(prefix.select(col(idCol).as("b"), col("shingle"),
        col("pos").as("pb"), col("n").as("nb"))
        .repartition(nPart, col("shingle")), "shingle")
      .filter(col("a") < col("b"))
      .filter(lit(1) + least(col("na") - col("pa"), col("nb") - col("pb")) >=
        ceil(lit(threshold / (1 + threshold)) * (col("na") + col("nb"))))
      .select("a", "b").distinct()
    // verify sets for ALL docs in one linear pass. Restricting to
    // candidate members reads cheaper but makes the candidate subtree
    // appear TWICE in the DAG (members + the final join) — without a
    // persist Spark recomputes the whole prefix join per appearance,
    // measured 5x slower at 500k docs. One rollup, evaluated once, wins.
    val sets = sh
      .repartition(nPart, col(idCol)) // collect_list gains nothing from
      .groupBy(col(idCol))            // partial agg; width is what matters
      .agg(sort_array(collect_list(col("shingle"))).as("sset"),
        count(lit(1)).as("n"))
    cands
      .join(sets.select(col(idCol).as("a"), col("sset").as("sa"),
        col("n").as("na")), "a")
      .join(sets.select(col(idCol).as("b"), col("sset").as("sb"),
        col("n").as("nb")), "b")
      .withColumn("c", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** 16 minhash values per doc as columns m0..m15: one codegen'd hash
    * column per seed, one hash-aggregate with 16 min()s — no explode, no
    * higher-order functions, a single shuffle keyed by doc. */
  def minhashSignatures(sh: DataFrame, idCol: String, numHashes: Int = 16): DataFrame = {
    val hashed = sh.select(
      col(idCol) +:
        (0 until numHashes).map(i =>
          xxhash64(col("shingle"), lit(i)).as(s"h$i")): _*)
    val aggs = (0 until numHashes).map(i => min(col(s"h$i")).as(s"m$i"))
    hashed.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: same hash in any band of `rowsPerBand` sigs. */
  def minhashLshCandidates(
      sigs: DataFrame, idCol: String,
      numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { bnd =>
      val cs = (bnd * rows until (bnd + 1) * rows).map(i => col(s"m$i"))
      struct(lit(bnd).as("band"), xxhash64(cs: _*).as("bh"))
    }
    val banded = sigs
      .select(col(idCol), explode(array(bandCols: _*)).as("b"))
      .select(col(idCol), col("b.band"), col("b.bh"))
    banded.as("x")
      .join(banded.as("y"), Seq("band", "bh"))
      .filter(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup: candidates, then exact-Jaccard verify —
    * the standard recall/precision split (LSH recalls, verify filters). */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double,
      numHashes: Int = 16, bands: Int = 4,
      reuseShingles: Boolean = false): DataFrame = {
    val sh =
      if (reuseShingles) sharedShingles(df, idCol, textCol, k)
      else shingles(df, idCol, textCol, k)
    val cands = minhashLshCandidates(
      minhashSignatures(sh, idCol, numHashes), idCol, numHashes, bands)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    // Intersection sizes ONLY for candidate pairs: expand each candidate
    // pair by the a-side's shingles, then probe the b-side — linear in
    // |candidates| x shingles-per-doc, never the all-pairs shingle
    // self-join (which is exactly what LSH exists to avoid).
    val a = sh.select(col(idCol).as("a"), col("shingle"))
    val b = sh.select(col(idCol).as("b"), col("shingle"))
    val common = cands.join(a, "a").join(b, Seq("b", "shingle"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    common
      .join(sizes.select(col(idCol).as("a"), col("n").as("na")), "a")
      .join(sizes.select(col(idCol).as("b"), col("n").as("nb")), "b")
      .withColumn("jaccard",
        col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming. Banding
    * on 16-bit chunks guarantees recall for maxHamming <= 3 (pigeonhole:
    * 4 bands, at most 3 differing bits → one band identical). */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingPairs64(
      df.select(col(idCol),
        TextHashFunctions.simhash64(split(col(textCol), " +")).as("sim")),
      idCol, "sim", maxHamming)

  /** Banded Hamming near-dup pairs over ANY 64-bit signature column —
    * the generic core under [[simhashPairs]] (text SimHash) and
    * [[MultimodalOps.imageNearDupPairs]] (image dHash). 4×16-bit
    * banding is LOSSLESS for maxHamming ≤ 3 by pigeonhole (3 damaged
    * bits hit ≤ 3 of the 4 bands, so one band always survives intact),
    * which is why the cap is a hard require, not advice: the equi-join
    * on (band, bh) then finds every qualifying pair without an
    * all-pairs stage. */
  def hammingPairs64(
      sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x16 banding guarantees recall only to 3 bits")
    val banded = sigs.select(col(idCol), col(sigCol).as("_sig"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"),
          shiftright(col(sigCol), i * 16).bitwiseAND(lit(0xffffL))
            .as("bh"))): _*))
        .as("b"))
      .select(col(idCol), col("_sig"), col("b.band"), col("b.bh"))
    banded.as("x").join(banded.as("y"), Seq("band", "bh"))
      .filter(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"),
        bit_count(col("x._sig").bitwiseXOR(col("y._sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Incremental (delta-vs-corpus) n-gram Jaccard near-dup: pairs
    * `(a = base doc, b = delta doc)` with Jaccard >= threshold, NEVER
    * base×base — the operator an *incremental* pipeline actually runs
    * per ingest. Work is delta-proportional: the delta is shingled
    * fresh, the base side can be the staged corpus shingle frame
    * (at warehouse scale: the materialized shingle index), and the
    * equi-join only ever touches base shingles that also occur in the
    * delta. `maxShingleFreq` caps document frequency measured across
    * BOTH sides (a stop-shingle is hot regardless of which side it is
    * on), the same guard as [[ngramJaccardPairs]]. Sides are assumed
    * id-disjoint (an id in both would pair with itself). */
  def ngramJaccardPairsBetween(
      base: DataFrame, delta: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double,
      maxShingleFreq: Option[Int] = None,
      reuseBaseShingles: Boolean = false): DataFrame = {
    val shB0 =
      if (reuseBaseShingles) sharedShingles(base, idCol, textCol, k)
      else shingles(base, idCol, textCol, k)
    val shD0 = shingles(delta, idCol, textCol, k)
    ngramJaccardPairsBetweenShingled(shB0, shD0, idCol, threshold,
      maxShingleFreq)
  }

  /** [[ngramJaccardPairsBetween]] over PRE-SHINGLED sides — the
    * warehouse-scale entry point: at 100 TB the corpus shingle index is
    * materialized once per snapshot ([[sharedShingles]]), and an ingest
    * partitioned by id (base vs delta) slices that ONE staged frame
    * instead of re-tokenizing either side. A session whose base and
    * delta partition a staged corpus pays two filters over persisted
    * blocks rather than two full shingle scans per incremental check. */
  def ngramJaccardPairsBetweenShingled(
      shB0: DataFrame, shD0: DataFrame, idCol: String, threshold: Double,
      maxShingleFreq: Option[Int] = None): DataFrame = {
    val (shB, shD) = maxShingleFreq match {
      case Some(cap) =>
        val hot = shB0.select("shingle").unionAll(shD0.select("shingle"))
          .groupBy("shingle").agg(count(lit(1)).as("f"))
          .filter(col("f") > cap).select("shingle")
        (shB0.join(broadcast(hot), Seq("shingle"), "left_anti"),
          shD0.join(broadcast(hot), Seq("shingle"), "left_anti"))
      case None => (shB0, shD0)
    }
    val sizesB = shB.groupBy(col(idCol)).agg(count(lit(1)).as("na"))
    val sizesD = shD.groupBy(col(idCol)).agg(count(lit(1)).as("nb"))
    val common = shB.select(col(idCol).as("a"), col("shingle"))
      .join(shD.select(col(idCol).as("b"), col("shingle")), "shingle")
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    common
      .join(sizesB.withColumnRenamed(idCol, "a"), "a")
      .join(sizesD.withColumnRenamed(idCol, "b"), "b")
      .withColumn("jaccard",
        col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** Winnowing-fingerprint near-dup pairs (Schleimer/Wilkerson/Aiken's
    * MOSS candidate set): documents sharing at least `minShared` winnow
    * fingerprints, computed from the native one-pass
    * [[graft.expr.WinnowSet]] — the scan emits each document's bounded
    * fingerprint set directly (no gram explode, no per-gram shuffle; only
    * the ~2/(w+1)-selected minima ever leave the scan). Hot fingerprints
    * (common boilerplate k-grams) are capped by document frequency before
    * the equi-join, the same guard that bounds the shingle join in
    * [[ngramJaccardPairs]] — with it the join is linear in
    * fingerprints × cap, never all-pairs. Unlike Jaccard this matches on
    * raw BYTE k-grams, so it catches near-dups that token-level shingles
    * miss (reordered sentences, moved paragraphs) — the plagiarism-
    * detection shape, at corpus scale. */
  def winnowPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minShared: Int = 3,
      maxFpFreq: Option[Int] = None): DataFrame = {
    val fps = df.select(col(idCol),
      explode(TextHashFunctions.winnowSet(col(textCol), k, w)).as("fp"))
    val kept = maxFpFreq match {
      case Some(cap) =>
        val hot = fps.groupBy("fp").agg(count(lit(1)).as("f"))
          .filter(col("f") > cap).select("fp")
        fps.join(broadcast(hot), Seq("fp"), "left_anti")
      case None => fps
    }
    val a = kept.select(col(idCol).as("a"), col("fp"))
    val b = kept.select(col(idCol).as("b"), col("fp"))
    a.join(b, "fp")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Exact cosine near-dup over embeddings (brute-force baseline). */
  def embeddingNearDupPairs(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val v = SimilarityOps.withNorm(
      emb.select(col(idCol), col(vecCol).cast(ArrayType(DoubleType)).as("v")))
    val a = v.select(col(idCol).as("a"), col("v").as("va"), col("nrm").as("na"))
    val b = v.select(col(idCol).as("b"), col("v").as("vb"), col("nrm").as("nb"))
    a.crossJoin(b)
      .filter(col("a") < col("b"))
      .withColumn("cosine",
        SimilarityOps.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select("a", "b", "cosine")
  }

  /** Positional k-gram stream: one row per gram OCCURRENCE with its
    * 1-based token position — the input to substring-level matching
    * (shingle streams drop positions; spans need them). Docs shorter
    * than k emit nothing: they cannot host a ≥k-token span. Tokenizes
    * `trim`med text (the [[TextOps.bpeMerges]] normalization): a leading
    * space would otherwise emit an empty first token that shifts every
    * 1-based position and anchors spurious empty-string grams. */
  private[ops] def posGrams(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = col("_toks")
    df.select(col(idCol), split(trim(col(textCol)), " +").as("_toks"))
      .filter(size(toks) >= k)
      .select(col(idCol), toks,
        explode(sequence(lit(1), size(toks) - (k - 1))).as("pos"))
      .select(col(idCol), col("pos"),
        array_join(slice(toks, col("pos"), lit(k)), " ").as("gram"))
  }

  /** Bytes-scaled shuffle width for the positional-gram tier: the gram
    * stream is ~k× the tokenized text (every token anchors k grams)
    * and ~3× the on-disk parquet (decompression), so a fixed session
    * width that is right at gate scale is partition-bound three
    * decades up (5M-doc sweep: alpha 1.27 at the 32-partition session
    * default; a 128-partition A/B recovered 21%). Width is derived
    * from the input frame's Catalyst size estimate against the AQE
    * advisory partition size — never below the session default (small
    * inputs keep the tuned small plan), capped at 16384 (past that,
    * per-task overhead dominates any realistic gram stream). */
  private[ops] def gramShuffleParts(df: DataFrame, k: Int): Int =
    bytesScaledParts(df, k.toLong * 3)

  /** The general form of the bytes-scaled width: input frame's Catalyst
    * size estimate × a declared stream-expansion multiplier, divided by
    * the AQE advisory partition size; floored at the session default
    * (small inputs keep the tuned small plan — at gate scale every
    * caller degenerates to the session width, so gate plans and hashes
    * are untouched), capped at 16384 (past that, per-task overhead
    * dominates any realistic stream). AQE can only COALESCE aggregate /
    * window exchanges below the session width, never widen them — this
    * is the missing other half, and on a real cluster it is exactly
    * "partitions scale with the data". */
  private[ops] def bytesScaledParts(df: DataFrame, multiplier: Long): Int = {
    val spark = df.sparkSession
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val advisory = math.max(1L,
      org.apache.spark.sql.internal.SQLConf.get.getConf(
        org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    // fresh stats per call: the memoized Dataset stats snapshot a
    // pre-materialization estimate forever, so a frame cached between
    // calls would keep reporting its (string-width-default) estimate —
    // ~15× under actual bytes for text. A fresh execution re-runs cache
    // substitution and reads the InMemoryRelation's BUILT size. When
    // nothing is cached and the input is a parquet scan, sizeInBytes is
    // the file size (the ×3 decompression ride is in the multiplier);
    // a purely synthetic uncached frame still underestimates — the
    // rowCount floor (64 B/row: no text row is smaller) bounds that.
    val st = org.apache.spark.sql.GraftColumnBridge.freshOptimizedStats(df)
    val streamBytes =
      st.rowCount.map(_ * 64L).getOrElse(BigInt(0L))
        .max(st.sizeInBytes) * multiplier
    val want = streamBytes / advisory
    val chosen =
      if (want >= 16384) 16384
      else math.max(session, want.toInt)
    // diagnostic breadcrumb for scale sweeps (off unless opted in):
    // the chosen width is invisible in explain() output once AQE
    // coalesces, and a mis-estimated Catalyst size is the first thing
    // to rule out when a sweep tier bends
    if (sys.env.contains("SPARK_GRAFT_LOG_PARTS"))
      System.err.println(
        s"[bytesScaledParts] est=${streamBytes / multiplier} x$multiplier" +
          s" advisory=$advisory want=$want chosen=$chosen")
    chosen
  }

  /** Cross-document repeated-substring detection (the exact-substring
    * tier of training-data dedup, à la Lee et al. 2021 "Deduplicating
    * Training Data Makes Language Models Better"): for every document
    * pair, every maximal shared token span of at least `minLen` tokens.
    * Token-level Jaccard misses a verbatim paragraph pasted into an
    * otherwise-different document; this operator is exactly what finds
    * it.
    *
    * Suffix-array formulations need a global sort of the concatenated
    * corpus; the distributed shape here is k-gram anchoring instead:
    * match positional k-grams across documents (equi-join), then merge
    * runs of consecutive matches at the same diagonal (pa − pb) into
    * maximal spans — a gaps-and-islands pass per (a, b, diagonal), one
    * window + rollup on the same shuffle. A run of c consecutive
    * matching k-grams certifies a shared span of c + k − 1 tokens.
    *
    * Scale guards: grams in more than `maxGramFreq` documents are
    * dropped before the join (boilerplate cap — same discipline as the
    * hot-shingle cap, and the reason the match join is bounded); the
    * span merge is linear in match count. Recall tradeoff: ANY capped
    * interior gram breaks its diagonal run, and the resulting fragments
    * must each independently clear `minLen` — so a span can be lost
    * when even a single anchoring gram is corpus-boilerplate.
    *
    * @return (`a`, `b`, `a_start`, `b_start`, `span_len`) per maximal
    *         shared span, a < b, positions 1-based. */
  def substringSpanPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, minLen: Int = 8,
      maxGramFreq: Option[Int] = Some(8)): DataFrame = {
    require(minLen >= k, s"minLen ($minLen) must be >= k ($k)")
    val g0 = posGrams(df, idCol, textCol, k)
    val g = maxGramFreq match {
      case Some(cap) =>
        val kept = g0.groupBy("gram")
          .agg(countDistinct(col(idCol)).as("df"))
          .filter(col("df") <= cap)
          .select("gram")
        g0.join(kept, Seq("gram"))
      case None => g0
    }
    // bytes-scaled width pinned onto BOTH join inputs: the equi-join
    // reuses the explicit hash partitioning (no extra exchange) at a
    // width that tracks input size instead of the session default
    val nPart = gramShuffleParts(df, k)
    val x = g.select(col(idCol).as("a"), col("pos").as("pa"), col("gram"))
      .repartition(nPart, col("gram"))
    val y = g.select(col(idCol).as("b"), col("pos").as("pb"), col("gram"))
      .repartition(nPart, col("gram"))
    val m = x.join(y, Seq("gram")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("pa"), (col("pa") - col("pb")).as("diag"))
    diagonalSpans(m, k, minLen, nPart)
  }

  /** Gaps-and-islands merge of positional gram matches into maximal
    * spans — shared by [[substringSpanPairs]] (within-corpus) and
    * [[substringSpanPairsBetween]] (cross-split). Expects (`a`, `b`,
    * `pa`, `diag` = pa − pb); one window + rollup on the same shuffle.
    * A run of c consecutive matching k-grams certifies c + k − 1
    * shared tokens. `nPart` pins the window exchange to the caller's
    * bytes-scaled width (an explicit repartition on the window keys —
    * the window AND the island rollup both reuse it, since hash
    * partitioning on (a, b, diag) satisfies the rollup's superset
    * clustering too). */
  private def diagonalSpans(
      m: DataFrame, k: Int, minLen: Int, nPart: Int): DataFrame = {
    val w = Window.partitionBy("a", "b", "diag").orderBy("pa")
    val runSum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m.repartition(nPart, col("a"), col("b"), col("diag"))
      .withColumn("_prev", lag(col("pa"), 1).over(w))
      .withColumn("_new",
        when(col("_prev").isNull || col("pa") - col("_prev") > 1, 1L)
          .otherwise(0L))
      .withColumn("_isl", sum(col("_new")).over(runSum))
      .groupBy("a", "b", "diag", "_isl")
      .agg(min("pa").as("a_start"), count(lit(1)).as("_c"))
      .select(col("a"), col("b"), col("a_start"),
        (col("a_start") - col("diag")).as("b_start"),
        (col("_c") + (k - 1)).as("span_len"))
      .filter(col("span_len") >= minLen)
  }

  /** CROSS-SPLIT exact-substring detection — span-level train→eval
    * decontamination (Lee et al. 2021 §5 apply the same machinery
    * across splits): every maximal shared token span of ≥ `minLen`
    * tokens between a `base` (train) and `delta` (eval) document.
    * The shingle-containment decontamination pass
    * ([[CorpusOps]]) scores set overlap; this finds the verbatim
    * leaked PASSAGE with its exact offsets on both sides — the
    * evidence a curation pipeline logs before dropping the train doc.
    *
    * Same distributed shape as [[substringSpanPairs]]: positional
    * k-gram anchors equi-joined ACROSS sides only (never train×train —
    * the join is eval-proportional), diagonal islands merged on one
    * window. `maxGramFreq` caps document frequency over BOTH sides
    * combined, the [[ngramJaccardPairsBetween]] discipline; sides are
    * assumed id-disjoint.
    *
    * @return (`a` = base/train doc, `b` = delta/eval doc, `a_start`,
    *         `b_start`, `span_len`), positions 1-based. */
  def substringSpanPairsBetween(
      base: DataFrame, delta: DataFrame, idCol: String, textCol: String,
      k: Int = 4, minLen: Int = 8,
      maxGramFreq: Option[Int] = Some(8)): DataFrame = {
    require(minLen >= k, s"minLen ($minLen) must be >= k ($k)")
    val gb0 = posGrams(base, idCol, textCol, k)
    val gd0 = posGrams(delta, idCol, textCol, k)
    val (gb, gd) = maxGramFreq match {
      case Some(cap) =>
        val kept = gb0.select(col(idCol), col("gram"))
          .unionAll(gd0.select(col(idCol), col("gram")))
          .groupBy("gram")
          .agg(countDistinct(col(idCol)).as("df"))
          .filter(col("df") <= cap)
          .select("gram")
        (gb0.join(kept, Seq("gram")), gd0.join(kept, Seq("gram")))
      case None => (gb0, gd0)
    }
    // width scales with the BASE side — the train corpus dominates the
    // gram stream in any decontamination run
    val nPart = gramShuffleParts(base, k)
    val x = gb.select(col(idCol).as("a"), col("pos").as("pa"), col("gram"))
      .repartition(nPart, col("gram"))
    val y = gd.select(col(idCol).as("b"), col("pos").as("pb"), col("gram"))
      .repartition(nPart, col("gram"))
    val m = x.join(y, Seq("gram"))
      .select(col("a"), col("b"), col("pa"), (col("pa") - col("pb")).as("diag"))
    diagonalSpans(m, k, minLen, nPart)
  }
}
