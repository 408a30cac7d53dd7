package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Staging.StagedDf

/** Corpus-preparation operators for a training-data pipeline: deterministic
  * sampling / split assignment, stratified corpus mixing, fixed-window
  * chunking, and PII redaction.
  *
  * Sampling is salted-hash based, NOT `df.sample()`: `sample()` depends on
  * partitioning and RNG seeds, so its output changes under repartition,
  * AQE, or re-runs from checkpoint. A salted md5 threshold keyed on a
  * stable id is reproducible anywhere (any engine, any partitioning), lets
  * a row's membership be audited after the fact, and keeps train/test
  * splits disjoint BY CONSTRUCTION across pipeline re-runs — the property
  * an incremental corpus build actually needs (same doc always lands in
  * the same split, no leakage between refreshes).
  *
  * All operators are single-pass narrow transforms (filter / project /
  * explode) — no shuffle, no state; they scale linearly and preserve the
  * upstream partitioning.
  */
object CorpusOps {

  /** 32-hex-digit threshold covering `fraction` of the md5 key space.
    * Comparing full-width lowercase hex strings lexicographically is
    * identical to comparing the underlying 128-bit integers (both engines
    * produce fixed-width lowercase hex), so the filter is a plain string
    * `<` — codegen-friendly and expressible verbatim in ANSI SQL. */
  def md5Threshold(fraction: Double): String = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction $fraction not in [0,1]")
    val full = BigInt(1) << 128
    // java.math.BigDecimal: exact (unlimited-precision) arithmetic — the
    // scala.math wrapper's default MathContext rounds to 34 significant
    // digits, one short of 2^128's 39.
    val scaled = BigInt(new java.math.BigDecimal(fraction)
        .multiply(new java.math.BigDecimal(full.bigInteger))
        .toBigInteger)
      .min(full - 1).max(BigInt(0))
    val hex = scaled.toString(16)
    "0" * (32 - hex.length) + hex
  }

  /** Salted uniform hash of a key column: md5("salt:key"). The salt makes
    * independent sampling decisions independent — reusing one hash for
    * both a sample and a split would correlate them. */
  def saltedHash(keyCol: Column, salt: String): Column =
    md5(concat_ws(":", lit(salt), keyCol.cast(StringType)))

  /** Deterministic Bernoulli sample: keep rows whose salted key hash
    * falls below the fraction threshold. */
  def sampleByHash(
      df: DataFrame, keyCol: String, fraction: Double, salt: String): DataFrame =
    df.filter(saltedHash(col(keyCol), salt) < lit(md5Threshold(fraction)))

  /** Assign every row to exactly one named split by cumulative hash
    * ranges, e.g. Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1).
    * Total fractions must cover the space (sum to 1 within 1e-9); the
    * last split absorbs the rounding remainder so no row is unlabeled. */
  def assignSplit(
      df: DataFrame, keyCol: String, splits: Seq[(String, Double)],
      salt: String, outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val h = saltedHash(col(keyCol), salt)
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val labeled = splits.init.zip(cum).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), upper)) =>
        val cond = h < lit(md5Threshold(upper))
        Some(acc.fold(when(cond, name))(_.when(cond, name)))
    }
    val assign = labeled.fold(lit(splits.last._1))(_.otherwise(splits.last._1))
    df.withColumn(outCol, assign)
  }

  /** Deterministic source-interleaved training order: a reproducible
    * global shuffle that MAXIMALLY DISPERSES sources — docs are
    * hash-shuffled within their source, then emitted round-robin
    * (everyone's 1st doc, everyone's 2nd, …), so no training window
    * sees a long single-source run (the gradient-staleness /
    * curriculum-bias failure of concatenating sources). Deterministic
    * under re-runs and repartitioning: order is a pure function of
    * (salt, id).
    *
    * Shape: two range-staged global ranks ([[StatOps.globalRowNumber]])
    * — within-source rank via the global-rank-minus-offset trick (no
    * per-source window to inherit the largest source's skew), then the
    * (rank, source) interleave order. No single-partition stage.
    *
    * @return (`idCol`, `srcCol`, `rank_in_source`, `position` 1-based).
    */
  def interleaveBySource(
      df: DataFrame, idCol: String, srcCol: String,
      salt: String): DataFrame = {
    val base = df.select(col(idCol), col(srcCol))
      .withColumn("_h", saltedHash(col(idCol), salt))
    val ranked = StatOps.globalRowNumber(base,
      Seq(col(srcCol), col("_h"), col(idCol)), "_i")
    val offs = ranked.groupBy(col(srcCol)).agg(min("_i").as("_o"))
    val rg = ranked.join(offs, Seq(srcCol))
      .withColumn("rank_in_source", col("_i") - col("_o") + 1L)
      .drop("_i", "_o", "_h")
    StatOps.globalRowNumber(rg,
      Seq(col("rank_in_source"), col(srcCol)), "position")
  }

  /** Near-dup-aware (leakage-free) split: [[assignSplit]] keyed on the
    * duplicate-cluster label instead of the doc id, so every member of
    * a near-dup cluster lands in the SAME split — the fix for the
    * classic eval-contamination bug where a near-copy of a train doc
    * sits in the test set and inflates every metric. Docs outside any
    * cluster are their own singleton key. One left join against the
    * label table + the same pure-projection hash ranges.
    *
    * @param labels (`id`, `component`) from
    *        [[graft.ops.GraphOps.sharedComponents]] /
    *        [[graft.ops.GraphOps.incrementalComponents]].
    * @return `df` + (`component`, `outCol`).
    */
  def clusterAwareSplit(
      df: DataFrame, idCol: String, labels: DataFrame,
      splits: Seq[(String, Double)], salt: String,
      outCol: String = "split"): DataFrame = {
    val labeled = df
      .join(labels.select(col("id").as(idCol), col("component")),
        Seq(idCol), "left_outer")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    assignSplit(labeled, "component", splits, salt, outCol)
  }

  /** K-fold cross-validation assignment: every row gets a fold label
    * `fold0..fold{k-1}` by equal cumulative hash ranges over the salted
    * key hash — [[assignSplit]] with k equal fractions. Disjoint,
    * exhaustive, reproducible under re-runs/repartition, and independent
    * of any other salted decision (different salt ⇒ independent hash).
    * Pure projection: no shuffle, no state. */
  def assignKFolds(
      df: DataFrame, keyCol: String, k: Int, salt: String,
      outCol: String = "fold"): DataFrame = {
    require(k >= 2, s"assignKFolds: k must be >= 2, got $k")
    assignSplit(df, keyCol,
      (0 until k).map(i => s"fold$i" -> 1.0 / k), salt, outCol)
  }

  /** Cap each group's contribution at `n` rows, selected by salted-hash
    * priority (deterministic under re-runs/repartition, independent per
    * salt) — the bounded-contribution step of corpus mixing: no single
    * domain/source/user may dominate the training set, whatever its raw
    * volume. One keyed window; WindowGroupLimit pre-prunes each map
    * partition to its local top-n before the shuffle, so the exchange
    * carries at most n rows per (partition, group). */
  def capPerGroup(
      df: DataFrame, keyCol: String, groupCol: String, n: Int,
      salt: String): DataFrame = {
    require(n >= 1, s"capPerGroup: n must be >= 1, got $n")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(saltedHash(col(keyCol), salt), col(keyCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= n)
      .drop("_rn")
  }

  /** Stratified deterministic sample: per-stratum keep fractions (corpus
    * mixing — e.g. downsample dominant languages, keep all of rare ones).
    * Strata absent from `fractions` fall back to `defaultFraction`.
    * The when-chain keeps the whole decision in one codegen'd projection;
    * for thousands of strata, broadcast-join a fractions table instead. */
  def stratifiedSampleByHash(
      df: DataFrame, keyCol: String, stratumCol: String,
      fractions: Map[String, Double], defaultFraction: Double,
      salt: String): DataFrame = {
    val h = saltedHash(col(keyCol), salt)
    val thresh = fractions.toSeq.sortBy(_._1).foldLeft(Option.empty[Column]) {
      case (acc, (stratum, f)) =>
        val c = col(stratumCol) === stratum
        val t = lit(md5Threshold(f))
        Some(acc.fold(when(c, t))(_.when(c, t)))
    }.fold(lit(md5Threshold(defaultFraction)))(
      _.otherwise(md5Threshold(defaultFraction)))
    df.filter(h < thresh)
  }

  /** Upsample by per-stratum repeat factors — the other half of corpus
    * mixing: downsampling caps dominant sources ([[sampleToTokenBudget]],
    * [[stratifiedSampleByHash]]), REPEAT factors boost scarce
    * high-quality ones (the "N epochs of source X" recipe in modern
    * pretraining mixtures). A weight of 2.3 emits every row 2 times plus
    * a 3rd copy for a deterministic 30% of rows (salted-hash Bernoulli on
    * the fractional part), so expected copies = weight exactly, and the
    * SAME rows carry the extra epoch on every re-run.
    *
    * Emits (`copy_idx`, 0-based) so downstream shuffling/sharding can
    * decorrelate the copies (feed copy_idx into the shard salt).
    * One projection + one explode — no shuffle; strata absent from
    * `weights` default to weight 1.0 (single copy). */
  def upsampleByWeight(
      df: DataFrame, keyCol: String, stratumCol: String,
      weights: Map[String, Double], salt: String): DataFrame = {
    require(weights.values.forall(w => w >= 0.0 && w <= 100.0),
      "repeat factors must be in [0, 100]")
    val whole = weights.toSeq.sortBy(_._1).foldLeft(Option.empty[Column]) {
      case (acc, (s0, w)) =>
        val c = col(stratumCol) === s0
        val n = lit(math.floor(w).toLong)
        Some(acc.fold(when(c, n))(_.when(c, n)))
    }.fold(lit(1L))(_.otherwise(1L))
    val fracT = weights.toSeq.sortBy(_._1).foldLeft(Option.empty[Column]) {
      case (acc, (s0, w)) =>
        val c = col(stratumCol) === s0
        val t = lit(md5Threshold(w - math.floor(w)))
        Some(acc.fold(when(c, t))(_.when(c, t)))
    }.fold(lit(md5Threshold(0.0)))(_.otherwise(md5Threshold(0.0)))
    val copies = whole +
      (saltedHash(col(keyCol), salt) < fracT).cast("long")
    df.withColumn("_n_copies", copies)
      .filter(col("_n_copies") > 0)
      .withColumn("copy_idx",
        explode(sequence(lit(0L), col("_n_copies") - 1)))
      .drop("_n_copies")
  }

  /** Split documents into fixed-size token windows with `overlap` shared
    * tokens between consecutive chunks (context-preserving chunking for
    * embedding / training-example generation). One explode, no shuffle.
    * Short documents yield a single (possibly undersized) chunk; the last
    * chunk of a long document keeps whatever remains.
    */
  def chunkDocs(
      df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      "need 0 <= overlap < chunkSize")
    val step = chunkSize - overlap
    val toks = col("_toks")
    val nTok = size(toks)
    val start = col("chunk_id") * step + 1
    df.select(col(idCol), split(col(textCol), " +").as("_toks"))
      // last chunk index i satisfies i*step + 1 <= nTok  =>  i <= (nTok-1)/step
      .select(col(idCol), toks,
        explode(sequence(lit(0),
          greatest(floor((nTok - 1) / lit(step)).cast(IntegerType), lit(0))))
          .as("chunk_id"))
      .select(
        col(idCol), col("chunk_id").cast(LongType).as("chunk_id"),
        least(lit(chunkSize), nTok - col("chunk_id") * step)
          .cast(LongType).as("n_tokens"),
        array_join(slice(toks, start, lit(chunkSize)), " ").as("chunk_text"))
  }

  /** Train→eval contamination: eval-split documents whose k-gram shingle
    * set is substantially CONTAINED in some train-split document
    * (containment = |eval ∩ train| / |eval|, the decontamination metric —
    * asymmetric on purpose: a short eval doc quoted inside a long train
    * doc is contamination even though their Jaccard is low).
    *
    * Shape: split assignment is a projection; each side's shingles are
    * scan-linear; the cross-split shingle equi-join is the same bounded
    * join as n-gram Jaccard (cap ultra-common shingles via
    * [[DedupOps.ngramJaccardPairs]]'s guard pattern if the corpus needs
    * it) — never an all-pairs document comparison. */
  def decontaminationPairs(
      df: DataFrame, idCol: String, textCol: String,
      splits: Seq[(String, Double)], salt: String, trainLabel: String,
      k: Int, minContainment: Double): DataFrame = {
    val labeled = assignSplit(df, idCol, splits, salt)
    val train = DedupOps
      .shingles(labeled.filter(col("split") === trainLabel), idCol, textCol, k)
      .select(col(idCol).as("train_id"), col("shingle"))
    val eval_ = DedupOps
      .shingles(labeled.filter(col("split") =!= trainLabel), idCol, textCol, k)
    val evalSizes = eval_.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    eval_.select(col(idCol).as("eval_id"), col("shingle"))
      .join(train, "shingle")
      .groupBy("eval_id", "train_id")
      .agg(count(lit(1)).as("c"))
      .join(evalSizes.select(col(idCol).as("eval_id"), col("n")), "eval_id")
      .withColumn("containment", col("c").cast(DoubleType) / col("n"))
      .filter(col("containment") >= minContainment)
      .select("eval_id", "train_id", "containment")
  }

  /** Segment-level exact dedup — the paragraph-dedup stage of CCNet /
    * RefinedWeb-style corpus curation: hash every segment of every
    * document, drop segments whose corpus-wide occurrence count exceeds
    * `maxFreq` (boilerplate, navigation chrome, license headers), and
    * reassemble each document from its surviving segments in order.
    * Documents whose every segment was boilerplate survive as empty text
    * (the caller decides whether to length-filter afterwards) so row
    * counts are stable through the stage.
    *
    * Segmentation here is fixed non-overlapping `segTokens`-token windows
    * (the corpus is single-line synthetic text); on real data the same
    * operator applies with newline/paragraph splitting — only the
    * [[chunkDocs]] call changes.
    *
    * Shape at 100 TB: segmentation is one explode (narrow); the hot-segment
    * set is found with one groupBy whose output is tiny BY CONSTRUCTION
    * (only segments with > maxFreq occurrences survive the HAVING), so the
    * left-anti guard join broadcasts; reassembly is one groupBy on the doc
    * id — linear, no all-pairs anywhere. Same asymptotics as the
    * `maxShingleFreq` guard in [[DedupOps.ngramJaccardPairs]].
    */
  def dedupSegments(
      df: DataFrame, idCol: String, textCol: String,
      segTokens: Int, maxFreq: Long): DataFrame = {
    val segs = chunkDocs(df, idCol, textCol, chunkSize = segTokens, overlap = 0)
      .select(col(idCol), col("chunk_id").as("seg_id"),
        col("chunk_text").as("seg"))
    val hot = segs.groupBy("seg").agg(count(lit(1)).as("_f"))
      .filter(col("_f") > maxFreq)
      .select("seg")
    val kept = segs.join(hot, Seq("seg"), "left_anti")
    // listagg WITHIN GROUP: ordered reassembly inside the aggregate — no
    // collect_list + higher-order-function lambda (interpreted path).
    val glued = kept.groupBy(col(idCol))
      .agg(expr("listagg(seg, ' ') WITHIN GROUP (ORDER BY seg_id)")
        .as("clean_text"))
    df.select(col(idCol))
      .join(glued, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Per-shard corpus digest: XOR-fold of hash64(id:text) per hash
    * shard, plus the shard's row count — the Merkle-style summary that
    * lets two 100 TB snapshots be compared by exchanging `nShards`
    * rows instead of re-reading either corpus ([[digestDiff]]), and
    * that maintains INCREMENTALLY: XOR is its own inverse, so an
    * upsert updates a shard digest by xoring the old row out and the
    * new row in — no re-scan. One projection + one keyed rollup.
    *
    * @return (`shard`, `n_docs`, `digest`).
    */
  def corpusShardDigest(
      df: DataFrame, idCol: String, textCol: String,
      nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    import graft.expr.TextHashFunctions.hash64
    df.select(
        pmod(hash64(col(idCol).cast("string")), lit(nShards.toLong))
          .as("shard"),
        hash64(concat(col(idCol).cast("string"), lit(":"), col(textCol)))
          .as("_h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), expr("bit_xor(_h)").as("digest"))
  }

  /** Distribution drift bins between two snapshots: the paired
    * histogram (one keyed rollup per side + one bin full-outer join)
    * behind PSI / chi-square drift monitors — the check a pipeline
    * runs before a new corpus version silently shifts the training
    * distribution. Bins are floor(value / binWidth) (double floor
    * division: exact and floor-correct for negatives cross-engine).
    * Integer counts only; the PSI's logs stay consumer-side (libm is
    * not cross-engine bit-reproducible — the DSIR/tf-idf precedent).
    * NULL values land in one NULL bin, paired NULL-SAFELY across the
    * sides — a plain equi-join would emit two unpaired NULL rows and
    * hand a PSI consumer a duplicate key.
    *
    * @return one row per occupied bin: (`bin`, `n_a`, `n_b`).
    */
  def binDriftCounts(
      a: DataFrame, b: DataFrame, valueCol: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    def bins(df: DataFrame, binOut: String, out: String) =
      df.groupBy(floor(col(valueCol) / lit(binWidth.toDouble)).as(binOut))
        .agg(count(lit(1)).as(out))
    val aa = bins(a, "_ba", "n_a")
    val bb = bins(b, "_bb", "n_b")
    aa.join(bb, aa("_ba") <=> bb("_bb"), "full_outer")
      .select(coalesce(col("_ba"), col("_bb")).as("bin"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
  }

  /** Population stability index over [[binDriftCounts]]'s paired
    * histogram — the single drift number monitoring dashboards page on
    * (rule of thumb: <0.1 stable, >0.25 shifted), closing the "PSI left
    * to the consumer" seam: the bins gate emits integer counts, this one
    * folds them to the statistic. PSI = Σ (p_a − p_b)·ln(p_a/p_b) with
    * add-one (Laplace) smoothing p = (n+1)/(N+B) over the B occupied
    * bins — the standard zero-bin guard (an unsmoothed PSI is +∞ the
    * moment either side misses a bin), and it keeps every log argument
    * the EXACT integer rational (n_a+1)·(N_b+B) / (n_b+1)·(N_a+B), so
    * each term takes ONE [[graft.expr.PortableLnRatio]] — the
    * explicit-algorithm ln both engines run step-identically — and the
    * sum folds in bin order (NULL bin first via a Long.MinValue sort
    * sentinel). Identical distributions give exactly 0.0: each term's
    * (p_a − p_b) factor is an exact IEEE zero.
    *
    * Shape: the two histogram rollups + bin join of [[binDriftCounts]],
    * one 1-row totals broadcast, one global fold over the BIN DOMAIN
    * (histogram-sized, never data-sized). Overflow: (n+1)·(N+B) needs
    * n·N < 2⁶³ — fine to ~3·10⁹ rows per side.
    *
    * @return one row: (`n_a`, `n_b`, `n_bins`, `psi`).
    */
  def psiDrift(
      a: DataFrame, b: DataFrame, valueCol: String,
      binWidth: Long): DataFrame = {
    // two consumers (the totals and the fold) — pin the histogram or
    // both corpus scans behind it run twice
    val bins = binDriftCounts(a, b, valueCol, binWidth).stagePin()
    val tot = bins.agg(sum("n_a").as("_ta"), sum("n_b").as("_tb"),
      count(lit(1)).as("_nb"))
    bins.crossJoin(broadcast(tot)) // 1-row totals (declared)
      .withColumn("_t",
        ((col("n_a") + 1).cast("double") /
            (col("_ta") + col("_nb")).cast("double") -
          (col("n_b") + 1).cast("double") /
            (col("_tb") + col("_nb")).cast("double")) *
          graft.expr.PortableLnRatio.ln(
            (col("n_a") + 1) * (col("_tb") + col("_nb")),
            (col("n_b") + 1) * (col("_ta") + col("_nb"))))
      .agg(
        max("_ta").as("n_a"), max("_tb").as("n_b"),
        count(lit(1)).as("n_bins"),
        aggregate(
          transform(
            array_sort(collect_list(struct(
              coalesce(col("bin"), lit(Long.MinValue)).as("_k"),
              col("_t")))),
            s => s.getField("_t")),
          lit(0.0), (acc, x) => acc + x).as("psi"))
  }

  /** Snapshot diff off two [[corpusShardDigest]] outputs: per shard,
    * both counts and digests plus `changed` — the shard list an
    * incremental sync re-reads. Joins two nShards-row frames; the
    * corpora themselves are never touched. */
  def digestDiff(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("shard"), col("n_docs").as("n_docs_a"),
        col("digest").as("digest_a"))
      .join(
        b.select(col("shard"), col("n_docs").as("n_docs_b"),
          col("digest").as("digest_b")),
        Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("n_docs_a"), lit(0L)).as("n_docs_a"),
        coalesce(col("n_docs_b"), lit(0L)).as("n_docs_b"),
        col("digest_a"), col("digest_b"),
        (!(col("digest_a") <=> col("digest_b")) ||
          coalesce(col("n_docs_a"), lit(0L)) =!=
            coalesce(col("n_docs_b"), lit(0L))).as("changed"))

  /** Content-defined chunking (the FastCDC/Rabin idea at word level):
    * a chunk boundary falls AFTER every token whose hash64 ≡ 0
    * (mod `modulus`), so boundaries are functions of CONTENT, not
    * position — an insertion near the top of a document shifts only its
    * own chunk, and every chunk after the next boundary re-aligns
    * byte-identically (fixed windows like [[chunkDocs]] shift ALL
    * downstream chunks, defeating chunk-level dedup across document
    * versions). Mean chunk length ≈ `modulus` tokens.
    *
    * Shape: one positional explode; the boundary flag is a codegen'd
    * projection (native hash64); chunk ids are a running count over a
    * DOC-KEYED window (partitioned by the doc id — never global); one
    * ordered-reassembly rollup. All shuffles key on the doc id.
    *
    * @return (`idCol`, `chunk_idx` 0-based, `n_tokens`, `chunk_text`).
    */
  def cdcChunks(
      df: DataFrame, idCol: String, textCol: String,
      modulus: Int): DataFrame = {
    require(modulus >= 2, s"modulus must be >= 2, got $modulus")
    import org.apache.spark.sql.expressions.Window
    import graft.expr.TextHashFunctions.hash64
    val toks = df
      .select(col(idCol),
        posexplode(split(trim(col(textCol)), " +")).as(Seq("i", "tok")))
      .withColumn("_b",
        (pmod(hash64(col("tok")), lit(modulus.toLong)) === 0L).cast("long"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("chunk_idx", coalesce(sum(col("_b")).over(w), lit(0L)))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(count(lit(1)).as("n_tokens"),
        expr("listagg(tok, ' ') WITHIN GROUP (ORDER BY i)")
          .as("chunk_text"))
  }

  /** WITHIN-document segment dedup — drop repeated segments inside the
    * SAME document (in-page boilerplate: repeated headers, quoted
    * reply chains, copy-pasted paragraphs), keeping each segment's
    * first occurrence and reassembling the survivors in order. The
    * complement of [[dedupSegments]]'s corpus-wide hot-segment drop:
    * here the rollup key is (doc, segment), so the operator carries NO
    * corpus-wide state at all — both shuffles are keyed by the doc id
    * and the stage scales embarrassingly (a 100 TB corpus is just more
    * doc-keyed groups).
    *
    * @return one row per input document: (`idCol`, `clean_text`,
    *         `n_segs` total, `n_segs_kept`) — dropped = n_segs − kept.
    */
  def dedupSegmentsWithinDoc(
      df: DataFrame, idCol: String, textCol: String,
      segTokens: Int): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    val segs = chunkDocs(df, idCol, textCol,
        chunkSize = segTokens, overlap = 0)
      .select(col(idCol), col("chunk_id").as("seg_id"),
        col("chunk_text").as("seg"))
    val first = segs.groupBy(col(idCol), col("seg"))
      .agg(min("seg_id").as("seg_id"))
    val glued = first.groupBy(col(idCol))
      .agg(
        expr("listagg(seg, ' ') WITHIN GROUP (ORDER BY seg_id)")
          .as("clean_text"),
        count(lit(1)).as("n_segs_kept"))
    // total segments is a projection of the token count — no third
    // pass over the segment frame
    df.select(col(idCol),
        (greatest(
          floor((size(split(col(textCol), " +")) - 1) / lit(segTokens)),
          lit(0)) + 1).cast(LongType).as("n_segs"))
      .join(glued, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_segs"), coalesce(col("n_segs_kept"), lit(0L)).as("n_segs_kept"))
  }

  /** Downsample each stratum (source, language, domain) to a token budget:
    * keep fraction = min(1, budget / stratum_token_total), decided by the
    * same salted-hash threshold as [[sampleByHash]] so membership is
    * deterministic and re-run stable. This is corpus *mixing by budget* —
    * "cap every source at N tokens" — where [[stratifiedSampleByHash]]
    * needs the fractions handed in, this derives them from the data in the
    * same plan.
    *
    * The per-stratum threshold is data-dependent, so it cannot be a
    * precomputed hex literal: instead the first 60 bits of the row hash
    * are compared against `floor(fraction * 2^60)` rendered as a 15-digit
    * hex string — pure IEEE-double + integer arithmetic that any engine
    * reproduces bit-identically (2^60 is exact in a double; a 15-hex-digit
    * lowercase compare is an unsigned 60-bit compare). Strata already
    * within budget skip the hash test entirely (fraction 1.0 would need a
    * 16th hex digit).
    *
    * Shape at 100 TB: one partial+final sum per stratum (tiny output —
    * one row per stratum), broadcast back, then a codegen'd filter. No
    * second pass over the data, no shuffle of the corpus itself.
    */
  def sampleToTokenBudget(
      df: DataFrame, keyCol: String, stratumCol: String, tokensCol: Column,
      budgetTokens: Long, salt: String): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens $budgetTokens must be positive")
    val totals = df.groupBy(col(stratumCol))
      .agg(sum(tokensCol).as("_stratum_tokens"))
    val frac = least(lit(1.0),
      lit(budgetTokens.toDouble) / col("_stratum_tokens").cast(DoubleType))
    val thresh =
      lpad(lower(hex(floor(frac * lit((1L << 60).toDouble)))), 15, "0")
    df.join(broadcast(totals), Seq(stratumCol))
      .filter(col("_stratum_tokens") <= budgetTokens ||
        substring(saltedHash(col(keyCol), salt), 1, 15) < thresh)
      .drop("_stratum_tokens")
  }

  /** Deterministic weight-priority sample of `k` rows: each row draws
    * `weight` (a positive capped integer) independent salted hashes and
    * keeps the MINIMUM as its priority; the k globally smallest
    * priorities win. More weight → lower expected minimum → higher
    * selection probability, monotone in weight, and — unlike
    * `df.sample()` or exponential-key A-ES — every step is integer/hash
    * arithmetic that reproduces bit-identically on any engine and any
    * partitioning (the `corpus_sample_weighted` gate oracles the full
    * selection).
    *
    * Shape at 100 TB: one bounded explode (≤ cap rows per doc — cap the
    * weight, never explode raw token counts), one keyed min-aggregate,
    * and a global top-k that plans as TakeOrdered (per-partition
    * partial top-k, never a single-partition sort). Winners re-join the
    * corpus broadcast (k rows).
    *
    * @param weightCol integer column, already capped by the caller
    *                  (values are clamped to [1, 64] defensively) */
  def weightedSampleTopK(
      df: DataFrame, keyCol: String, weightCol: Column,
      k: Int, salt: String): DataFrame = {
    require(k > 0, s"k $k must be positive")
    val w = greatest(lit(1), least(weightCol.cast("int"), lit(64)))
    val winners = df
      .select(col(keyCol), explode(sequence(lit(1), w)).as("_r"))
      .select(col(keyCol),
        saltedHash(concat_ws(":", col(keyCol), col("_r")), salt).as("_h"))
      .groupBy(col(keyCol))
      .agg(min(col("_h")).as("pri"))
      .orderBy(col("pri"))
      .limit(k)
    df.join(broadcast(winners), Seq(keyCol))
  }

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val UrlRe = "https?://[^\\s]+"
  private val PhoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** Redact common PII shapes (emails, URLs, phone-like digit runs) with
    * typed placeholder tags. URL before email: a URL can embed an
    * `@userinfo` segment that the email pattern would otherwise split.
    * Patterns are RE2-safe (no backtracking constructs), so the same
    * regexes run identically on Java regex and RE2-family engines. */
  def redactPii(textCol: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(textCol, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** Collapse runs of whitespace and trim — canonical text form ahead of
    * hashing / shingling, so layout differences don't defeat dedup. */
  def normalizeWhitespace(textCol: Column): Column =
    trim(regexp_replace(textCol, "\\s+", " "))

  /** k-anonymity audit (Sweeney 2002) over a quasi-identifier column
    * set — the re-identification check a governance gate runs before a
    * table with person-level rows ships into a training corpus: every
    * QI-combination group smaller than `k` is a linkage-attack handle.
    * Also reports each group's distinct sensitive-value count (the
    * l-diversity axis: a k-large group whose sensitive column is
    * CONSTANT still leaks the attribute even when the identity is
    * ambiguous). NULL sensitive values count as one distinct value —
    * `countDistinct` alone would report 0 for an all-NULL group and let
    * "attribute missing" masquerade as "attribute absent", which an
    * `l_distinct >= 2` governance rule would then misjudge.
    *
    * Shape: one keyed rollup over the QI columns (count is map-side
    * combinable; the distinct count is the standard two-phase expand) —
    * scan-linear, no state beyond the group cardinality. Downstream
    * remediation (suppress the flagged rows, or generalize a QI column
    * and re-audit) composes as a semi-join against the flagged groups.
    *
    * @return one row per QI group: (qi columns…, `group_n`,
    *         `l_distinct`, `k_anonymous` = group_n ≥ k).
    */
  def kAnonymity(
      df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
      k: Int): DataFrame = {
    require(qiCols.nonEmpty, "kAnonymity: need at least one QI column")
    require(k >= 2, s"kAnonymity: k must be >= 2, got $k")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("group_n"),
        (countDistinct(col(sensitiveCol)) +
          max(col(sensitiveCol).isNull.cast("long"))).as("l_distinct"))
      .withColumn("k_anonymous", col("group_n") >= k)
  }

  /** ENTROPY l-diversity audit (Machanavajjhala et al. 2007) — the
    * stricter sibling of [[kAnonymity]]'s distinct-count column: a QI
    * group passes at level l iff the Shannon entropy of its sensitive
    * distribution is at least ln(l). Distinct-l is fooled by a group
    * that is 99% one value plus a token outlier; entropy is not.
    *
    * Hash-gate discipline: each term is (cnt/n)·ln(n/cnt) with the log
    * on exact integer rationals via [[graft.expr.PortableLnRatio]]
    * (libm-free), terms folded in sensitive-value order, and the
    * ln(l) threshold embedded as the SAME shortest-round-trip literal
    * on both engines. Null sensitive values count as their own class
    * (the disclosure "the attribute is missing" is still a
    * disclosure) — Spark's struct sort puts the null class FIRST, so a
    * replaying oracle must fold `ORDER BY sv NULLS FIRST` (DuckDB
    * defaults NULLS LAST; the gate oracle pins it). One keyed rollup to (QI, value) cells, one rollup to
    * groups — nothing corpus-quadratic.
    *
    * @return one row per QI group: (qi…, `group_n`, `n_values`,
    *         `entropy`, `entropy_l_ok`).
    */
  def entropyLDiversity(
      df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
      l: Int): DataFrame = {
    require(qiCols.nonEmpty, "entropyLDiversity: need at least one QI column")
    require(l >= 2, s"entropyLDiversity: l must be >= 2, got $l")
    val lnL = graft.expr.PortableLnRatio.compute(l.toLong, 1L)
    val cells = df
      .groupBy((qiCols.map(col) :+
        col(sensitiveCol).cast("string").as("_sv")): _*)
      .agg(count(lit(1)).as("_cnt"))
    val grouped = cells
      .withColumn("_n",
        sum(col("_cnt")).over(Window.partitionBy(qiCols.map(col): _*)))
      .withColumn("_term",
        (col("_cnt").cast(DoubleType) / col("_n").cast(DoubleType)) *
          graft.expr.PortableLnRatio.ln(col("_n"), col("_cnt")))
      .groupBy(qiCols.map(col): _*)
      .agg(max(col("_n")).as("group_n"),
        count(lit(1)).as("n_values"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col("_sv"), col("_term").as("_t")))),
            x => x.getField("_t")),
          lit(0.0), (acc, x) => acc + x).as("entropy"))
    grouped.withColumn("entropy_l_ok", col("entropy") >= lit(lnL))
  }

  /** Deterministic masked-LM corruption (the BERT-style data-prep step):
    * mask each token position independently w.p. `fraction`, decided by
    * the salted hash of (doc, position) — so the corruption is
    * re-run-stable, split-independent (own salt), and replayable in SQL,
    * unlike an RNG draw. One positional explode + one keyed rollup;
    * reassembly sorts the (pos, token) structs per document, which is
    * exact because positions are unique within a doc. The masked-count
    * is decided by the same hash predicate (never by matching the mask
    * literal — a document could legitimately contain it).
    *
    * @return (`idCol`, `n_tokens`, `n_masked`, `masked_text`).
    */
  def maskTokens(
      df: DataFrame, idCol: String, textCol: String,
      fraction: Double, salt: String,
      maskTok: String = "[MASK]"): DataFrame = {
    val t = md5Threshold(fraction)
    df.select(col(idCol),
        posexplode(split(trim(col(textCol)), " +")).as(Seq("pos", "tok")))
      .withColumn("_m",
        saltedHash(concat_ws(":", col(idCol), col("pos")), salt) < lit(t))
      .withColumn("_out", when(col("_m"), lit(maskTok)).otherwise(col("tok")))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("_m").cast("long")).as("n_masked"),
        array_join(
          expr("transform(array_sort(collect_list(struct(pos, _out)))," +
            " e -> e._out)"), " ").as("masked_text"))
  }

  /** Banned-phrase blocklist filter — the safety gate every training
    * pipeline runs before export: flag every document containing any of
    * the configured phrases as a CONTIGUOUS token sequence (not a bag
    * match — "fast table" must not fire on "fast ... table"). Phrases
    * are grouped by token count and matched as positional k-gram
    * equi-joins against the broadcast list ([[DedupOps]]' posGrams
    * stream — one explode per distinct phrase length, never a regex
    * alternation over the blocklist, which would put a
    * length-of-blocklist regex in the scan's hot path). Evidence comes
    * back with the verdict: hit count and the first hit's 1-based
    * position + phrase, which is what a review queue displays.
    *
    * @return every input row as (`idCol`, `n_hits`, `first_hit_pos`,
    *         `first_hit`, `keep` = n_hits == 0).
    */
  def blocklistFilter(
      df: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "empty blocklist")
    // case-INSENSITIVE by contract (trivial capitalization must not
    // evade a safety filter — the langId convention); a blank phrase
    // would become a 1-gram matching empty documents' lone "" token
    val normalized = phrases.map(_.trim.replaceAll(" +", " ").toLowerCase)
    normalized.foreach(p =>
      require(p.nonEmpty, "blank phrase in blocklist"))
    val spark = df.sparkSession
    import spark.implicits._
    val lowered = df.select(col(idCol), lower(col(textCol)).as(textCol))
    val byLen = normalized.distinct.groupBy(_.split(" ").length)
    val hits = byLen.map { case (k, ps) =>
      DedupOps.posGrams(lowered, idCol, textCol, k)
        .join(broadcast(ps.toDF("gram")), Seq("gram"))
        .select(col(idCol), col("pos"), col("gram"))
    }.reduce(_ unionByName _)
    val agg = hits.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"),
        min(struct(col("pos"), col("gram"))).as("_f"))
      .select(col(idCol), col("n_hits"),
        col("_f.pos").as("first_hit_pos"), col("_f.gram").as("first_hit"))
    df.select(col(idCol))
      .join(agg, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("first_hit_pos"), col("first_hit"))
      .withColumn("keep", col("n_hits") === 0L)
  }

  /** Deterministic T5-style SPAN corruption (Raffel et al. 2020):
    * positions mask by the same salted (doc, position) hash as
    * [[maskTokens]], but contiguous masked RUNS collapse to one numbered
    * sentinel in the corrupted input, and the target is the sentinel
    * sequence with the dropped tokens — the (input, target) pair of
    * denoising pre-training. Runs merge with the gaps-and-islands
    * pattern (pos − rank is constant per contiguous run); sentinels
    * number 0.. in positional order per document.
    *
    * One explode feeds three keyed rollups (runs, corrupted input,
    * per-doc stats); reassembly sorts (pos, token) structs, exact
    * because positions are unique. Documents with no masked position
    * keep their text verbatim with an empty target.
    *
    * @return (`idCol`, `n_tokens`, `n_masked`, `n_spans`,
    *         `corrupted_text`, `target_text`).
    */
  def spanCorrupt(
      df: DataFrame, idCol: String, textCol: String,
      fraction: Double, salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = md5Threshold(fraction)
    val base = df.select(col(idCol),
        posexplode(split(trim(col(textCol)), " +")).as(Seq("pos", "tok")))
      .withColumn("_m",
        saltedHash(concat_ws(":", col(idCol), col("pos")), salt) < lit(t))
    val byPos = Window.partitionBy(col(idCol)).orderBy("pos")
    val masked = base.filter(col("_m"))
      .withColumn("_rn", row_number().over(byPos))
      .withColumn("_grp", col("pos") - col("_rn"))
      .withColumn("k",
        dense_rank().over(Window.partitionBy(col(idCol)).orderBy("_grp"))
          - 1)
    val runs = masked.groupBy(col(idCol), col("k"))
      .agg(min("pos").as("pos"),
        array_join(
          expr("transform(array_sort(collect_list(struct(pos, tok)))," +
            " e -> e.tok)"), " ").as("_run"))
      .withColumn("_sent",
        concat(lit("<extra_id_"), col("k").cast(StringType), lit(">")))
    val corrupted = base.filter(!col("_m"))
      .select(col(idCol), col("pos"), col("tok"))
      .unionByName(runs.select(col(idCol), col("pos"), col("_sent").as("tok")))
      .groupBy(col(idCol))
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(pos, tok)))," +
          " e -> e.tok)"), " ").as("corrupted_text"))
    val targets = runs
      .withColumn("_piece", concat(col("_sent"), lit(" "), col("_run")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        array_join(
          expr("transform(array_sort(collect_list(struct(k, _piece)))," +
            " e -> e._piece)"), " ").as("target_text"))
    base.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("_m").cast("long")).as("n_masked"))
      .join(corrupted, Seq(idCol))
      .join(targets, Seq(idCol), "left_outer")
      .select(col(idCol), col("n_tokens"), col("n_masked"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        col("corrupted_text"),
        coalesce(col("target_text"), lit("")).as("target_text"))
  }

  // ── DSIR importance weighting (Xie et al. 2023, arXiv:2302.03169) ──
  // Data Selection via Importance Resampling: score every raw document
  // by how much more likely its hashed n-gram features are under the
  // TARGET distribution than under the RAW one, then keep the top
  // scorers. The feature space is word unigrams ∪ bigrams hashed into
  // `buckets` buckets ([[graft.expr.StringHash64]] — deterministic,
  // replayable by the FNV+mix SQL replica that already oracles SimHash),
  // so the "model" is two bucket histograms: tiny, broadcastable state
  // however large the corpus.

  /** Per-document hashed n-gram feature counts: `(idCol, bucket, cnt)`.
    * One explode → hash → keyed rollup (map-side combined); no state
    * beyond the rows themselves. Docs of one token have no bigrams (the
    * `when` guards Spark's descending `sequence(1, 0)`). */
  def dsirFeatures(
      df: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val grams = when(size(col("_t")) >= 2,
        expr("transform(sequence(1, size(_t) - 1)," +
          " i -> concat(_t[i-1], ' ', _t[i]))"))
      .otherwise(array().cast(ArrayType(StringType)))
    df.select(col(idCol), TextOps.tokens(col(textCol)).as("_t"))
      .select(col(idCol), explode(concat(col("_t"), grams)).as("f"))
      .withColumn("bucket",
        pmod(graft.expr.TextHashFunctions.hash64(col("f")),
          lit(buckets.toLong)).cast(IntegerType))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Staged [[dsirFeatures]], memoized per (source, cols, buckets) — the
    * [[DedupOps.sharedShingles]] idiom. The feature frame feeds THREE
    * consumers inside one [[dsirStats]] call (target histogram, raw
    * histogram, the per-doc join) plus the standalone features gate;
    * without staging the tokenize→explode→rollup runs once per consumer.
    * At 100 TB this is the per-snapshot feature table a DSIR deployment
    * would persist next to the corpus. */
  private[ops] val dsirFeatureCache =
    Memo.staging[(DataFrame, String, String, Int), DataFrame](8)

  def sharedDsirFeatures(
      df: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame =
    dsirFeatureCache.getOrElseUpdate((df, idCol, textCol, buckets)) {
      dsirFeatures(df, idCol, textCol, buckets)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Unpersist and drop every shared DSIR feature frame (test hygiene). */
  def clearDsirFeatureCache(): Unit = dsirFeatureCache.clear()

  /** The exact-integer sufficient statistics of the DSIR log weight:
    * each doc's bucket counts joined with the target / raw bucket
    * histograms and their totals —
    * `(idCol, bucket, cnt, t_cnt, r_cnt, t_tot, r_tot)`.
    *
    * The Laplace-smoothed log importance weight is fully determined by
    * these integers — `Σ_b cnt·(ln((t_cnt+1)/(t_tot+B)) −
    * ln((r_cnt+1)/(r_tot+B)))` — but the ln stays OUT of this frame:
    * libm logs are not cross-engine bit-reproducible (tf-idf / HLL
    * precedent), so the warehouse stores the integers and consumers
    * ([[dsirLogWeights]]) take the logs. At scale: the histograms are
    * ≤ `buckets` rows (the 1-row totals cross join lands on that tiny
    * frame, never on the corpus) and reach the corpus-sized feature
    * frame by broadcast. */
  def dsirStats(
      df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int): DataFrame = {
    val feat = sharedDsirFeatures(df, idCol, textCol, buckets)
    val th = feat
      .join(df.filter(targetPred).select(col(idCol)), Seq(idCol), "left_semi")
      .groupBy("bucket").agg(sum("cnt").as("t_cnt"))
    val rh = feat.groupBy("bucket").agg(sum("cnt").as("r_cnt"))
    val hist = rh.join(th, Seq("bucket"), "left_outer")
      .na.fill(0L, Seq("t_cnt"))
    val tot = hist.agg(sum("t_cnt").as("t_tot"), sum("r_cnt").as("r_tot"))
    feat.join(broadcast(hist.crossJoin(broadcast(tot))), Seq("bucket"))
      .select(col(idCol), col("bucket"), col("cnt"),
        col("t_cnt"), col("r_cnt"), col("t_tot"), col("r_tot"))
  }

  /** Per-document DSIR log importance weight
    * `log_w = Σ_b cnt·(ln p̂_target(b) − ln p̂_raw(b))` with Laplace
    * (+1 / +buckets) smoothing — positive means the doc looks more like
    * the target than like the raw corpus. The consumer-side ln over
    * [[dsirStats]]'s integers; one keyed rollup. */
  def dsirLogWeights(
      df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int): DataFrame = {
    val lam =
      log((col("t_cnt") + 1).cast(DoubleType) /
          (col("t_tot") + buckets).cast(DoubleType)) -
      log((col("r_cnt") + 1).cast(DoubleType) /
          (col("r_tot") + buckets).cast(DoubleType))
    dsirStats(df, idCol, textCol, targetPred, buckets)
      .groupBy(col(idCol))
      .agg(sum(col("cnt").cast(DoubleType) * lam).as("log_w"))
  }

  /** DSIR selection: the `k` raw documents whose hashed-feature
    * distribution is most target-like (deterministic, noise-free
    * variant — rank by log weight, ties to the smaller id; the paper's
    * Gumbel-perturbed resampling is this with salted noise added to
    * `log_w`). TakeOrdered top-k — no single-partition sort. */
  def dsirSelect(
      df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int, k: Int): DataFrame =
    dsirLogWeights(df, idCol, textCol, targetPred, buckets)
      .orderBy(col("log_w").desc, col(idCol))
      .limit(k)

  /** Per-document n-gram NOVELTY against a reference slice: the
    * fraction of a doc's distinct k-grams absent from every reference
    * document — high novelty flags off-distribution/garbage content,
    * near-zero novelty flags memorization/boilerplate risk. The
    * complement of decontamination: that op finds the OVERLAPPING
    * pairs, this scores every doc's overall newness.
    *
    * Reads the STAGED distinct shingle frame
    * ([[DedupOps.sharedShingles]] — shared with every other shingle
    * gate), derives the reference gram set from it (one filter +
    * distinct — never a second tokenization pass), and marks each
    * doc-gram seen/unseen with one shingle equi-join. Integer counts;
    * novelty is their single division. Reference docs score 0 by
    * construction.
    *
    * @return one row per doc: (`idCol`, `n_grams`, `n_unseen`,
    *         `novelty`)
    */
  def noveltyScores(
      df: DataFrame, idCol: String, textCol: String, refPred: Column,
      k: Int): DataFrame = {
    val sh = DedupOps.sharedShingles(df, idCol, textCol, k)
    val refSh = sh
      .join(df.filter(refPred).select(col(idCol)), Seq(idCol))
      .select(col("shingle")).distinct()
    sh.join(refSh.withColumn("_seen", lit(1)), Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_seen").isNull, 1L).otherwise(0L)).as("n_unseen"))
      .withColumn("novelty",
        col("n_unseen").cast(DoubleType) / col("n_grams").cast(DoubleType))
  }

  /** Temperature-scaled source mixture weights
    * `w_i = n_i^τ / Σ_j n_j^τ` — the multilingual/multi-source sampling
    * rule (τ < 1 upsamples small sources relative to their natural
    * share; τ = 1 is proportional sampling). Reports per source its
    * natural share, its temperature weight, and the expected document
    * count under a sampling budget.
    *
    * Exactness: the gate runs at τ = ½ where `n^τ` is `sqrt` — the one
    * power IEEE-754 correctly rounds, so every engine agrees bit-for-
    * bit (other τ go through libm `pow`, which is NOT portable across
    * engines — fine for production, not for a hash-matched oracle). The
    * denominator Σ√n is an ORDERED fold over sources sorted by name
    * (float addition is order-sensitive), matching the oracle's
    * `list_reduce(list(... ORDER BY source))`.
    *
    * Scale shape: one keyed rollup to |sources| rows, a 1-row global
    * fold, and a broadcast join back — nothing is corpus-sized past the
    * first rollup. */
  def temperatureMixWeights(
      df: DataFrame, srcCol: String, budgetDocs: Long,
      tau: Double = 0.5): DataFrame = {
    require(budgetDocs > 0, s"budgetDocs must be positive, got $budgetDocs")
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    def powN(c: Column): Column =
      if (tau == 0.5) sqrt(c.cast(DoubleType))
      else if (tau == 1.0) c.cast(DoubleType)
      else pow(c.cast(DoubleType), lit(tau))
    val per = df.groupBy(col(srcCol)).agg(count(lit(1)).as("n_docs"))
    val tot = per.agg(
      sum("n_docs").as("_n_tot"),
      aggregate(
        transform(
          array_sort(collect_list(struct(col(srcCol),
            powN(col("n_docs")).as("s")))),
          x => x.getField("s")),
        lit(0.0), (acc, x) => acc + x).as("_denom"))
    per.crossJoin(broadcast(tot)) // 1-row totals frame (declared)
      .select(col(srcCol), col("n_docs"),
        (col("n_docs").cast(DoubleType) / col("_n_tot").cast(DoubleType))
          .as("nat_share"),
        (powN(col("n_docs")) / col("_denom")).as("weight"),
        (powN(col("n_docs")) / col("_denom") * lit(budgetDocs.toDouble))
          .as("expected_docs"))
  }

  /** Epoch/token budget allocation across sources by EXACT closed-form
    * water-filling — the data-constrained-LM schedule (Muennighoff et
    * al. 2023: repeat good sources up to a per-source epoch cap, fill a
    * total token budget): find λ with Σ_s t_s·min(r_s, λ) = budget and
    * allocate a_s = t_s·min(r_s, λ). Rather than iterating, the unique
    * λ segment is SOLVED: sort sources by cap, and for "first k capped"
    * λ_k = (budget − Σ_{i≤k} t_i·r_i) / Σ_{i>k} t_i; the valid k is the
    * one with r_k ≤ λ_k ≤ r_{k+1}. Every validity test is an INTEGER
    * cross-multiplication (no float enters the branch decision — the
    * part that must be engine-identical), and the only floats are the
    * final per-source a_s and epoch divisions.
    *
    * The input is the per-source frame (already one rollup of the
    * corpus); everything here runs on the |sources|-row domain, so the
    * ordered windows are bounded-domain windows like the PR curve's.
    * Budget overshoot (budget ≥ Σ t·r) caps every source and reports
    * the unused remainder implicitly (Σ alloc < budget).
    *
    * @param df per-source rows: (`srcCol`, `tokensCol` > 0 long,
    *        `capCol` ≥ 1 long epochs).
    * @return (`src`, `tokens`, `cap`, `capped`, `alloc_tokens`,
    *         `epochs` = alloc/tokens).
    */
  def epochBudget(
      df: DataFrame, srcCol: String, tokensCol: String, capCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"epochBudget: budget must be > 0, got $budget")
    val w = Window.orderBy(col("r"), col("src"))
    val pre = df.select(col(srcCol).as("src"),
        col(tokensCol).cast("long").as("t"), col(capCol).cast("long").as("r"))
      .withColumn("_k", row_number().over(w))
      .withColumn("_cumtr", sum(col("t") * col("r"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_cumt", sum(col("t"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_rnext", lead(col("r"), 1).over(w))
      // pinned: three consumers (totals, segments, the allocation join)
      // would otherwise re-derive the caller's corpus rollup + window
      .stagePin()
    val tot = pre.agg(sum(col("t")).as("_tt"),
      sum(col("t") * col("r")).as("_ttr"), count(lit(1)).as("_m"))
    // candidate segments k = 0..m (k sources capped); k = 0 is the
    // synthetic "nothing capped" row
    val segs = pre.crossJoin(broadcast(tot)) // 1-row totals (declared)
      .select(col("_k"), col("r"), col("_rnext"),
        (lit(budget) - col("_cumtr")).as("_num"),
        (col("_tt") - col("_cumt")).as("_den"), col("_m"))
      .unionAll(tot.select(lit(0L).as("_k"), lit(null).cast("long").as("r"),
        lit(null).cast("long").as("_rnext"),
        lit(budget).as("_num"), col("_tt").as("_den"), col("_m")))
    val segs2 = segs
      .withColumn("_rhi",
        coalesce(col("_rnext"),
          first(col("r")).over(Window.orderBy(col("_k"))
            .rowsBetween(1, 1))))
    // validity, all integer: λ_k ≥ r_k  ⇔  r_k·den ≤ num  (k > 0)
    //                       λ_k ≤ r_{k+1} ⇔ num ≤ r_{k+1}·den (k < m)
    // k = m (all capped) is valid iff budget ≥ Σ t·r  ⇔  num ≥ 0
    val valid = segs2.filter(
      (col("_k") === 0 || col("r") * col("_den") <= col("_num")) &&
        (col("_k") === col("_m") && col("_num") >= 0 ||
          col("_k") < col("_m") && col("_num") <= col("_rhi") * col("_den")))
    val chosen = valid.orderBy(col("_k").asc).limit(1)
      .select(col("_k").as("_kc"), col("_num"), col("_den"))
    pre.crossJoin(broadcast(chosen)) // 1-row chosen segment (declared)
      .withColumn("capped", col("_k") <= col("_kc"))
      .select(col("src"), col("t").as("tokens"), col("r").as("cap"),
        col("capped"),
        when(col("capped"), (col("t") * col("r")).cast("double"))
          .otherwise((col("t") * col("_num")).cast("double") /
            col("_den").cast("double")).as("alloc_tokens"))
      .withColumn("epochs", col("alloc_tokens") / col("tokens").cast("double"))
  }

  /** Differentially-private histogram with DETERMINISTIC seeded Laplace
    * noise: per-key counts (sensitivity 1) plus Laplace(1/ε) noise drawn
    * by inverse-CDF from a salted-hash uniform — [[kAnonymity]]'s
    * release-side sibling (k-anonymity audits what's safe to show;
    * DP noise makes the histogram itself safe to publish).
    *
    * Determinism is the point AND the gate: a `rand()`-seeded Laplace
    * changes under repartition and can never hash-compare, so the
    * uniform is u = (2r+1)/2⁵³ with r = the top 52 bits of the portable
    * [[graft.expr.StringHash64]] of salt‖key — an exact dyadic rational
    * that is never 0, ½, or 1. The inverse CDF
    * x = −(1/ε)·sign(u−½)·ln(1−2|u−½|) then needs ONE log of the exact
    * rational m/2⁵² (m odd), which is [[graft.expr.PortableLnRatio]] —
    * so the whole draw is integer manipulation + the explicit-algorithm
    * ln + three IEEE ops, bit-identical on any engine. (Seeded-noise DP
    * is the standard production shape for reproducible releases; the
    * salt is the secret to rotate per release.)
    *
    * One keyed rollup; the noise rides the ≤|key-domain| result rows.
    *
    * @return (`key`, `n`, `noise`, `n_noisy` = n + noise).
    */
  def dpNoisyCounts(
      df: DataFrame, keyCol: String, epsilon: Double,
      salt: String): DataFrame = {
    require(epsilon > 0, s"dpNoisyCounts: epsilon must be > 0, got $epsilon")
    // null keys are EXCLUDED, not emitted un-noised: a null category has
    // no name to publish, and concat(salt, null) would yield null noise
    // — a silently unprotected row in a release meant to be safe
    val counts = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val h = graft.expr.TextHashFunctions.hash64(
      concat(lit(salt), col(keyCol).cast("string")))
    val withR = counts.withColumn("_r", shiftrightunsigned(h, 12))
    val s = when(col("_r") >= lit(1L << 51), lit(1.0)).otherwise(lit(-1.0))
    val m = when(col("_r") >= lit(1L << 51),
      lit(1L << 53) - (col("_r") * 2 + 1)).otherwise(col("_r") * 2 + 1)
    withR
      .withColumn("noise",
        lit(-1.0 / epsilon) * s *
          graft.expr.PortableLnRatio.ln(m, lit(1L << 52)))
      .select(col(keyCol), col("n"), col("noise"),
        (col("n").cast(DoubleType) + col("noise")).as("n_noisy"))
  }
}
