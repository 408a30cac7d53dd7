package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Record linkage / fuzzy matching: find near-identical entity rows
  * (typo'd names, OCR noise, re-keyed imports) without the all-pairs
  * comparison that is quadratic in the table.
  *
  * The standard shape, re-expressed declaratively:
  *
  *  1. BLOCK: derive a cheap deterministic key (name prefix, phonetic
  *     code, sorted token signature); only rows sharing a block are ever
  *     compared. The pair space drops from O(n²) to
  *     O(Σ block_size²) — bounded if blocks are bounded, exactly like
  *     the hot-shingle cap in [[DedupOps]]. A single key misses pairs
  *     that differ inside it (the classic blocking recall trade-off);
  *     production linkage runs SEVERAL cheap passes with different keys
  *     and unions the candidates — [[blockedFuzzyPairs]] takes N keys
  *     and does exactly that.
  *  2. VERIFY: exact edit distance only on within-block candidates.
  *     `levenshtein` is a built-in on both Spark and DuckDB with the
  *     standard definition, so the whole operator hash-gates.
  *
  * Scale shape: each pass is one equi-join on its block key (shuffle
  * keyed by block, never a cartesian); the union dedupes on the pair id —
  * linear in candidates. The verify filter is codegen'd.
  */
object LinkageOps {

  /** Within-block fuzzy pairs under ANY of the given blocking keys:
    * (a, b, a_name, b_name, dist) with a < b and
    * levenshtein(a_name, b_name) <= maxDistance. `blockKeys` are
    * expressions over the name column's row (e.g. substrings, soundex);
    * each adds one equi-join pass, candidates are unioned and deduped
    * before the (cheap, already-bounded) distance verify. */
  def blockedFuzzyPairs(
      df: DataFrame, idCol: String, nameCol: String,
      blockKeys: Seq[Column], maxDistance: Int): DataFrame = {
    require(blockKeys.nonEmpty, "need at least one blocking key")
    val candidates = blockKeys.map { key =>
      val left = df.select(col(idCol).as("a"), col(nameCol).as("a_name"),
        key.as("blk"))
      val right = df.select(col(idCol).as("b"), col(nameCol).as("b_name"),
        key.as("blk"))
      left.join(right, Seq("blk")).filter(col("a") < col("b"))
        .select("a", "b", "a_name", "b_name")
    }.reduce(_ unionByName _).distinct()
    candidates
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
      .filter(col("dist") <= maxDistance)
  }

  /** Memoized pair graph ([[blockedFuzzyPairs]] staged once per input
    * frame) — the [[DedupOps.sharedNgramJaccardPairs]] pattern for
    * linkage: the pair gate, entity resolution, and any repeated
    * execution consume the SAME persisted frame, and its identity keys
    * [[GraphOps.sharedComponents]] so the component loop also runs once.
    * Blocking keys can't key a cache map directly (Column has no value
    * equality), so the salt folds in each key's deterministic expression
    * rendering — two call sites blocking the same frame differently get
    * distinct entries without remembering to pass a `variant`. */
  private[ops] val pairCache =
    Memo.staging[(DataFrame, String, String, String), DataFrame](8)

  def sharedBlockedFuzzyPairs(
      df: DataFrame, idCol: String, nameCol: String,
      blockKeys: Seq[Column], maxDistance: Int,
      variant: String = ""): DataFrame =
    pairCache.getOrElseUpdate((df, idCol, nameCol,
      s"$maxDistance:$variant:${blockKeys.map(_.toString).mkString("|")}")) {
      blockedFuzzyPairs(df, idCol, nameCol, blockKeys, maxDistance)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Unpersist and drop every shared pair frame (test hygiene). */
  def clearPairCache(): Unit = pairCache.clear()

  /** SURVIVORSHIP: collapse each resolved entity cluster to one golden
    * record — the step after entity resolution in every MDM/dedup
    * pipeline (clusters alone still hold conflicting attribute values;
    * something must pick). Rules, all deterministic:
    *  - `modeCols`: the most frequent value, ties broken by the
    *    smallest value (struct-min over (−count, value) — one keyed
    *    rollup per column, no window);
    *  - `maxCols`: the maximum (the best-value rule for measures like
    *    account balance — a COMPARISON of stored values, no float
    *    arithmetic, so it hash-gates);
    *  - `n_members`: cluster size.
    *
    * @param labels (`id`, `component`) over the full universe (e.g.
    *        [[GraphOps.withSingletons]] of the resolved clusters);
    *        component becomes `entity_id`.
    */
  def goldenRecords(
      df: DataFrame, idCol: String, labels: DataFrame,
      modeCols: Seq[String], maxCols: Seq[String]): DataFrame = {
    val base = df.join(
      labels.select(col("id").as(idCol), col("component").as("entity_id")),
      Seq(idCol))
    val head = base.groupBy(col("entity_id"))
      .agg(count(lit(1)).as("n_members"),
        maxCols.map(c => max(col(c)).as(c)): _*)
    modeCols.foldLeft(head) { (acc, c) =>
      val m = base.groupBy(col("entity_id"), col(c))
        .agg(count(lit(1)).as("_cnt"))
        .groupBy(col("entity_id"))
        .agg(min(struct((-col("_cnt")).as("nc"), col(c).as("v"))).as("_w"))
        .select(col("entity_id"), col("_w.v").as(c))
      acc.join(m, Seq("entity_id"))
    }
  }

  /** Blocked pair scoring with unrestricted Damerau-Levenshtein
    * ([[graft.expr.DamerauLevenshtein]]): candidate pairs are the
    * equi-join of `df` with itself on `blockKey` (id-ordered to halve),
    * each scored with the transposition-aware edit distance and kept
    * under `maxDist`. Same discipline as [[blockedFuzzyPairs]]: pair
    * count is Σ_block n_b², bounded by the blocking key's selectivity —
    * never all-pairs — and the O(|a|·|b|) scorer runs ONLY inside
    * blocks. Choose a key whose block size stays O(1) as the table
    * grows (entity attribute + a positional key fragment, as the gate
    * does), and the whole stage scales linearly at 100 TB.
    *
    * @return (`a`, `b`, `a_name`, `b_name`, `dist`) with a < b
    */
  def blockedDamerauPairs(
      df: DataFrame, idCol: String, nameCol: String, blockKey: Column,
      maxDist: Int): DataFrame = {
    val l = df.select(col(idCol).as("a"), col(nameCol).as("a_name"),
      blockKey.as("_bk"))
    val r = df.select(col(idCol).as("b"), col(nameCol).as("b_name"),
      blockKey.as("_bk"))
    l.join(r, Seq("_bk"))
      .filter(col("a") < col("b"))
      .withColumn("dist",
        graft.expr.DamerauLevenshtein.dist(col("a_name"), col("b_name")))
      .filter(col("dist") <= maxDist)
      .select("a", "b", "a_name", "b_name", "dist")
  }

  /** [[blockedDamerauPairs]] with the Jaro-Winkler SIMILARITY scorer
    * ([[graft.expr.JaroSimilarity]]) — the Fellegi-Sunter name-field
    * weight — keeping pairs at or above `minSim`. Same blocked-pair
    * scale discipline. */
  def blockedJaroWinklerPairs(
      df: DataFrame, idCol: String, nameCol: String, blockKey: Column,
      minSim: Double): DataFrame = {
    val l = df.select(col(idCol).as("a"), col(nameCol).as("a_name"),
      blockKey.as("_bk"))
    val r = df.select(col(idCol).as("b"), col(nameCol).as("b_name"),
      blockKey.as("_bk"))
    l.join(r, Seq("_bk"))
      .filter(col("a") < col("b"))
      .withColumn("jw",
        graft.expr.JaroSimilarity.jaroWinkler(col("a_name"), col("b_name")))
      .filter(col("jw") >= minSim)
      .select("a", "b", "a_name", "b_name", "jw")
  }
}
