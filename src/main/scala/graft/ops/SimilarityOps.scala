package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expr.SignSketch64

/** Similarity search over an embedding column (SURVEY §7.4).
  *
  * Baseline: brute-force cosine top-k — exact, one wide join; right answer
  * at verification scale and the yardstick for recall.
  *
  * Scale path: random-hyperplane LSH. Each vector gets a 64-bit sign
  * sketch (native expression, one pass); Hamming-close sketches ≈
  * cosine-close vectors, so candidate generation groups on 16-bit sketch
  * bands (linear, shuffle-friendly) and only candidates pay the exact
  * cosine re-rank. At 100 TB the all-pairs join is impossible; the banded
  * join is `O(docs × bands)` with bounded bucket width.
  */
object SimilarityOps {

  /** Exact double dot product; sequential fold = deterministic bits.
    * Native expression — see [[graft.expr.DotProduct]]. */
  def dot(a: Column, b: Column): Column = graft.expr.DotProduct.dot(a, b)

  def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Exact top-k neighbors for each query vector (brute force).
    * Deterministic: ties broken by neighbor id. */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = withNorm(queries.select(
      col(idCol).as("qid"), col(vecCol).cast(ArrayType(DoubleType)).as("v")))
      .withColumnRenamed("v", "qv").withColumnRenamed("nrm", "qn")
    val c = withNorm(corpus.select(
      col(idCol).as("nid"), col(vecCol).cast(ArrayType(DoubleType)).as("v")))
      .withColumnRenamed("v", "cv").withColumnRenamed("nrm", "cn")
    val scored = q.crossJoin(c)
      .filter(col("qid") =!= col("nid"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("nid").asc)
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select("qid", "rank", "nid", "cosine")
  }

  /** 64-bit sign sketch per vector (see [[graft.expr.SignSketch64]]). */
  def withSketch(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("sketch",
      SignSketch64.sketch(col(vecCol).cast(ArrayType(DoubleType))))

  /** 8-bit sketch bands (band, bh) exploded per row — ids only (plus
    * optional `carry` columns, src → out, a few bytes each: labels for
    * the contrastive miners), so the band join and the candidate
    * `distinct` shuffle ~16 B/row instead of dragging full
    * `array<double>` vectors through both exchanges. */
  private def bandedIds(df: DataFrame, idCol: String, vecCol: String,
      side: String, carry: Seq[(String, String)] = Nil): DataFrame = {
    val kept = col(side) +: carry.map { case (_, out) => col(out) }
    withSketch(df.select(col(idCol).as(side) +:
        carry.map { case (src, out) => col(src).as(out) } :+
        col(vecCol).cast(ArrayType(DoubleType)).as("_v"): _*), "_v")
      .select(kept :+
        explode(array((0 until 8).map(i =>
          struct(lit(i).as("band"),
            shiftright(col("sketch"), i * 8)
              .bitwiseAND(lit(0xffL)).as("bh"))): _*)).as("_bnd"): _*)
      .select(kept :+ col("_bnd.band") :+ col("_bnd.bh"): _*)
  }

  /** One ANN side, norm precomputed: (`side`, `vOut`, `nOut`). */
  private def normSide(df: DataFrame, idCol: String, vecCol: String,
      side: String, vOut: String, nOut: String): DataFrame =
    withNorm(df.select(col(idCol).as(side),
      col(vecCol).cast(ArrayType(DoubleType)).as("v")))
      .select(col(side), col("v").as(vOut), col("nrm").as(nOut))

  /** Exact-cosine re-rank of an id-only (qid, nid) candidate list:
    * vectors re-join only here, after the candidate `distinct` — the
    * shared tail of [[lshTopK]] and [[hardNegatives]]. */
  private def rerankTopK(cands: DataFrame, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val q = normSide(queries, idCol, vecCol, "qid", "qv", "qn")
    val c = normSide(corpus, idCol, vecCol, "nid", "cv", "cn")
    val w = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("nid").asc)
    cands.join(q, "qid").join(c, "nid")
      .withColumn("cosine",
        dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select("qid", "rank", "nid", "cosine")
  }

  /** LSH top-k: candidates share any 8-bit sketch band with the query;
    * exact cosine re-ranks candidates. 8 bands x 8 bits keeps candidate
    * sets non-degenerate even for near-orthogonal corpora (P[band match]
    * = 2^-8 per band at cos~0, rising steeply with cosine); recall < 1 by
    * construction — measured against bruteForceTopK in tests.
    * Candidate generation is id-only (distinct on (qid,nid)); vectors are
    * re-joined solely for the re-rank of surviving candidates. */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val cands = bandedIds(queries, idCol, vecCol, "qid")
      .join(bandedIds(corpus, idCol, vecCol, "nid"), Seq("band", "bh"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid")
      .distinct()
    rerankTopK(cands, queries, corpus, idCol, vecCol, k)
  }

  /** IVF top-k: inverted-file ANN — the other classic scale path next to
    * LSH. Corpus vectors are assigned to their nearest coarse centroid
    * (one inverted list per centroid); a query probes only its `nprobe`
    * nearest lists and re-ranks those candidates exactly. Candidate
    * generation is an equi-join on list id — linear, shuffle-friendly —
    * and recall is tunable via `nprobe` (measured vs brute force in
    * DedupSimilaritySpec, never assumed).
    *
    * The coarse quantizer here is deterministic — the first `nlist`
    * corpus vectors by id serve as centroids — so the DuckDB oracle can
    * replicate the whole operator (a k-means-trained codebook would be
    * a drop-in: same assignment plan, same join shape; only the centroid
    * table changes). Assignment is cosine-argmax with centroid-id
    * tie-break, all bit-exact arithmetic. Centroids broadcast (nlist is
    * small by construction: O(sqrt(corpus))). */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4): DataFrame =
    ivfTopKWithCodebook(queries, corpus,
      withNorm(corpus.filter(col(idCol) < nlist)
        .select(col(idCol).as("cid"),
          col(vecCol).cast(ArrayType(DoubleType)).as("v")))
        .select(col("cid"), col("v").as("centv"), col("nrm").as("centn")),
      idCol, vecCol, k, nprobe)

  /** Deterministic k-means codebook for IVF: init = the first `nlist`
    * corpus vectors by id, then `iters` Lloyd rounds — assignment is a
    * broadcast cosine-argmax scan, the centroid update a per-dimension
    * mean (one shuffle keyed by (centroid, dim)). Everything is stock
    * DataFrame ops, so training scales like any other aggregation; the
    * array re-assembly `transform` runs over nlist x dim rows only
    * (training output, not the corpus hot path). Trained codebooks are
    * data-dependent floats, so IVF-with-trained-codebook is unit-tested
    * (recall vs brute force) rather than oracle-gated — the gate query
    * pins the deterministic-codebook variant whose oracle replicates
    * assignment exactly. */
  def kmeansCodebook(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 2): DataFrame = {
    val c = withNorm(corpus.select(col(idCol).as("nid"),
      col(vecCol).cast(ArrayType(DoubleType)).as("v")))
    var cent = corpus.filter(col(idCol) < nlist)
      .select(col(idCol).as("cid"),
        col(vecCol).cast(ArrayType(DoubleType)).as("centv"))
    for (_ <- 1 to iters) {
      val centN = cent.withColumn("centn",
        sqrt(dot(col("centv"), col("centv"))))
      val w = Window.partitionBy("nid")
        .orderBy(col("_csim").desc, col("cid").asc)
      val assigned = c.join(broadcast(centN), lit(true))
        .withColumn("_csim",
          dot(col("v"), col("centv")) / (col("nrm") * col("centn")))
        .withColumn("_r", row_number().over(w))
        .filter(col("_r") === 1)
        .select(col("cid"), col("v"))
      cent = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cid", "dim").agg(avg(col("x")).as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("s"))
        .select(col("cid"), expr("transform(s, e -> e.m)").as("centv"))
    }
    cent
  }

  /** IVF search against an explicit codebook (deterministic slice or
    * k-means-trained — same plan shape either way). */
  def ivfTopKWithCodebook(
      queries: DataFrame, corpus: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val c = withNorm(corpus.select(col(idCol).as("nid"),
      col(vecCol).cast(ArrayType(DoubleType)).as("v")))
      .select(col("nid"), col("v").as("cv"), col("nrm").as("cn"))
    val cent =
      if (codebook.columns.contains("centn")) codebook
      else codebook.withColumn("centn",
        sqrt(dot(col("centv"), col("centv"))))

    def assign(side: DataFrame, id: String, v: String, n: String, keep: Int) = {
      val w = Window.partitionBy(id)
        .orderBy(col("_csim").desc, col("cid").asc)
      side.join(broadcast(cent), lit(true))
        .withColumn("_csim",
          dot(col(v), col("centv")) / (col(n) * col("centn")))
        .withColumn("_crank", row_number().over(w))
        .filter(col("_crank") <= keep)
        .drop("centv", "centn", "_csim", "_crank")
    }

    val lists = assign(c, "nid", "cv", "cn", 1)           // inverted lists
    val q = withNorm(queries.select(col(idCol).as("qid"),
      col(vecCol).cast(ArrayType(DoubleType)).as("v")))
      .select(col("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val probes = assign(q, "qid", "qv", "qn", nprobe)     // probed lists

    val scored = probes.join(lists, "cid")                // equi-join on list
      .filter(col("qid") =!= col("nid"))
      .withColumn("cosine",
        dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("nid").asc)
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select("qid", "rank", "nid", "cosine")
  }

  /** IVF-PQ top-k: inverted lists + PRODUCT-QUANTIZED residual codes
    * (Jégou/Douze/Schmid, TPAMI 2011) — the memory-bounded ANN tier.
    * [[ivfTopK]] stores full vectors per posting; at 100 TB of
    * embeddings what fits is m sub-codebook CODES per vector (here
    * m=4 bytes against a 64-dim double vector's 512 — a 128×
    * posting-list compression), with search ranked by ASYMMETRIC
    * distance: the query's exact residual against each candidate's
    * quantized one, summed over subspaces.
    *
    * Shape: coarse-assign corpus vectors to their cosine-nearest of
    * `nlist` centroids and take the residual v − centroid; slice
    * residuals into `m` subvectors; per subspace, the codebook is the
    * residual subvectors of the first `ksub` corpus ids (the same
    * deterministic slice scheme as [[ivfTopK]]'s coarse quantizer, so
    * the gate oracle replays every step; [[kmeansCodebook]]-style
    * training is a drop-in — only the codebook table changes). Encoding
    * is an L2² argmin against the broadcast m×ksub codebook; queries
    * probe `nprobe` lists, build their ADC table (query-residual ×
    * codebook, nprobe·m·ksub rows per query), and candidates score as
    * Σ_j d²(q_j, cb[code_j]) — joined on (cid, j, code), folded in
    * FIXED subspace order so the IEEE sum hash-gates. All distances
    * decompose into [[dot]] products (bit-exact sequential folds).
    *
    * @return (`qid`, `rank`, `nid`, `adist2`): top-k by approximate
    *         squared L2 distance, ascending, nid tie-break. Recall vs
    *         the exact-L2 baseline is measured in DedupSimilaritySpec.
    */
  /** The PQ state shared by search ([[ivfPqTopK]]) and storage encoding
    * ([[pqEncode]]): (centroid table, subspace codebook, per-vector
    * codes), plus the assignment/slicing/distance helpers bundled as a
    * small strategy object so the query side reuses the exact same
    * arithmetic. */
  private final class PqState(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, m: Int, ksub: Int,
      coarse: Option[DataFrame] = None) {
    // subspace slicing silently DROPS trailing dimensions when the
    // vector length is not divisible by m, and a RAGGED corpus (mixed
    // vector lengths) would zip_with nulls into residuals — fail fast
    // at the driver on either (one aggregate scan, paid once per state
    // construction; min==max asserts the uniform-dimension precondition
    // the per-dim arithmetic depends on)
    corpus.agg(min(size(col(vecCol))).as("lo"),
        max(size(col(vecCol))).as("hi")).collect()
      .headOption.filterNot(r => r.isNullAt(0)).foreach { r =>
        val (lo, hi) = (r.getInt(0), r.getInt(1))
        require(lo == hi,
          s"PQ requires a uniform vector dim; corpus has sizes in [$lo, $hi]")
        require(hi % m == 0,
          s"PQ subspace count m=$m must divide the vector dim $hi")
      }
    private val c = withNorm(corpus.select(col(idCol).as("nid"),
      col(vecCol).cast(ArrayType(DoubleType)).as("v")))
      .select(col("nid"), col("v").as("cv"), col("nrm").as("cn"))
    // coarse quantizer: the deterministic first-ids slice by default
    // (gate-replayable), or any (cid, centv) codebook — e.g.
    // [[kmeansCodebook]] — as the literal drop-in the docs claim
    val cent: DataFrame = coarse match {
      case Some(cb) =>
        if (cb.columns.contains("centn")) cb
        else cb.withColumn("centn", sqrt(dot(col("centv"), col("centv"))))
      case None => withNorm(corpus.filter(col(idCol) < nlist)
        .select(col(idCol).as("cid"),
          col(vecCol).cast(ArrayType(DoubleType)).as("v")))
        .select(col("cid"), col("v").as("centv"), col("nrm").as("centn"))
    }

    // coarse assignment KEEPING the centroid vector (residuals need it)
    def assign(side: DataFrame, id: String, v: String, n: String,
        keep: Int): DataFrame = {
      val w = Window.partitionBy(id)
        .orderBy(col("_csim").desc, col("cid").asc)
      side.join(broadcast(cent), lit(true))
        .withColumn("_csim",
          dot(col(v), col("centv")) / (col(n) * col("centn")))
        .withColumn("_crank", row_number().over(w))
        .filter(col("_crank") <= keep)
        .withColumn("rv", zip_with(col(v), col("centv"), (x, y) => x - y))
        .drop("centv", "centn", "_csim", "_crank")
    }
    def subspaces(rv: Column): Column = {
      val subdim = (size(rv) / lit(m)).cast("int")
      explode(array((0 until m).map(j =>
        struct(lit(j).as("j"),
          slice(rv, lit(j) * subdim + lit(1), subdim).as("sv"))): _*))
    }
    def d2(a: Column, b: Column): Column =
      dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b)

    private val lists = assign(c, "nid", "cv", "cn", 1)
    private val sub = lists
      .select(col("nid"), col("cid"), subspaces(col("rv")).as("_s"))
      .select(col("nid"), col("cid"), col("_s.j").as("j"), col("_s.sv").as("sv"))
    val cb: DataFrame = sub.filter(col("nid") < ksub)
      .select(col("j"), col("nid").as("code"), col("sv").as("cbv"))
    val enc: DataFrame = {
      val encW = Window.partitionBy("nid", "j")
        .orderBy(col("_d2").asc, col("code").asc)
      sub.join(broadcast(cb), Seq("j"))
        .withColumn("_d2", d2(col("sv"), col("cbv")))
        .withColumn("_r", row_number().over(encW))
        .filter(col("_r") === 1)
        .select("nid", "cid", "j", "code")
    }
  }

  /** PQ STORAGE encoding: the (coarse list id, m subspace codes) tuple a
    * 100 TB vector store persists INSTEAD of the raw embedding —
    * [[ivfPqTopK]]'s posting-list representation surfaced as its own
    * operator (m + ~1 small ints per vector vs dim doubles; here 4
    * codes against a 64-dim double vector, 128×). Codes are pivoted
    * into subspace order, so the row is exactly reconstructable into
    * the ADC form at query time. Deterministic first-ids codebooks
    * (gate-replayable); a trained codebook is a drop-in. */
  def pqEncode(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, m: Int = 4, ksub: Int = 16): DataFrame = {
    val st = new PqState(corpus, idCol, vecCol, nlist, m, ksub)
    st.enc
      .groupBy("nid")
      .agg(max(col("cid")).as("cid"), // one cid per nid (single coarse list)
        array((0 until m).map(j =>
          max(when(col("j") === j, col("code")))): _*).as("codes"))
      .select(col("nid").as("id"), col("cid"), col("codes"))
  }

  /** INT8 scalar quantization — the storage tier BESIDE [[pqEncode]]:
    * one byte per dimension (8× smaller than float64, full-dimension
    * fidelity, vs PQ's 128× with subspace codes). Per-dimension affine
    * codes against the corpus min/max: code_d = floor((x − mn_d)·255 /
    * (mx_d − mn_d)), clamped to 255 for the boundary ulp, 0 on a
    * degenerate constant dimension. The stats table is dim-sized and
    * broadcast; everything else is one explode + one keyed reassembly.
    * All arithmetic is a fixed IEEE chain over exact min/max, so the
    * codes hash-gate cross-engine.
    *
    * @return (`id`, `codes` int array in dimension order). Reconstruct
    *         with x̂_d = mn_d + code_d·(mx_d − mn_d)/255.
    */
  def sq8Encode(
      emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val x = emb.select(col(idCol).as("id"),
      posexplode(col(vecCol).cast(ArrayType(DoubleType))).as(Seq("d", "x")))
    val stats = x.groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
    x.join(broadcast(stats), Seq("d"))
      .withColumn("code",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(
            floor((col("x") - col("mn")) * 255.0 / (col("mx") - col("mn"))),
            lit(255L))))
      .groupBy("id")
      .agg(expr("transform(array_sort(collect_list(struct(d, code)))," +
        " e -> CAST(e.code AS INT))").as("codes"))
  }

  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      m: Int = 4, ksub: Int = 16,
      coarse: Option[DataFrame] = None): DataFrame = {
    val st = new PqState(corpus, idCol, vecCol, nlist, m, ksub, coarse)
    val dim = m
    val cb = st.cb
    val enc = st.enc
    def assign(side: DataFrame, id: String, v: String, n: String, keep: Int) =
      st.assign(side, id, v, n, keep)
    def subspaces(rv: Column): Column = st.subspaces(rv)
    def d2(a: Column, b: Column): Column = st.d2(a, b)

    val q = withNorm(queries.select(col(idCol).as("qid"),
      col(vecCol).cast(ArrayType(DoubleType)).as("v")))
      .select(col("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val probes = assign(q, "qid", "qv", "qn", nprobe)
    val qsub = probes.select(col("qid"), col("cid"), subspaces(col("rv")).as("_s"))
      .select(col("qid"), col("cid"), col("_s.j").as("j"), col("_s.sv").as("qsv"))
    val adc = qsub.join(broadcast(cb), Seq("j"))
      .withColumn("qd2", d2(col("qsv"), col("cbv")))
      .select("qid", "cid", "j", "code", "qd2")

    // pivot the m subspace terms into columns: the fold order is FIXED,
    // so the summed double is bit-identical on any engine/partitioning
    val terms = (0 until dim).map(j =>
      max(when(col("j") === j, col("qd2"))).as(s"_d$j"))
    val scored = adc.join(enc, Seq("cid", "j", "code"))
      .filter(col("qid") =!= col("nid"))
      .groupBy("qid", "nid")
      .agg(terms.head, terms.tail: _*)
      .withColumn("adist2",
        (1 until dim).foldLeft(col("_d0"))((acc, j) => acc + col(s"_d$j")))
    val w = Window.partitionBy("qid")
      .orderBy(col("adist2").asc, col("nid").asc)
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select("qid", "rank", "nid", "adist2")
  }

  /** Bucketed embedding near-dup: sketch-band candidates + exact-cosine
    * verify — the 100 TB path for near-duplicate detection over an
    * embedding column. Candidate generation is linear (groupBy band,
    * bounded buckets) and id-only; only candidate pairs pay the exact
    * cosine, with vectors re-joined after the distinct.
    *
    * Recall is probabilistic in the cosine: with 8 bands of 8 bits a pair
    * at cos 0.95 is recalled w.p. ~0.99, at cos 0.9 ~0.94, while a random
    * pair (cos~0) survives banding w.p. ~0.03. The gate oracle replicates
    * the banding itself (see DedupQueries — the sign matrix is emitted
    * into the SQL from [[graft.expr.SignSketch64.sign]]), so correctness
    * is exact regardless of recall; recall vs the exhaustive baseline is
    * asserted separately in DedupSimilaritySpec. */
  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering embeddings and pruning near-duplicates
    * WITHIN clusters only. Returns every row as `(id, cid, kept)`: a row
    * is dropped iff its cluster contains a LOWER-id row with cosine >=
    * threshold (the paper keeps an arbitrary representative per
    * duplicate neighborhood; lowest-id is the deterministic choice, and
    * it needs no iterative component propagation — one join decides).
    *
    * The cluster bound is what makes embedding dedup feasible at 100 TB:
    * the pair join is an equi-join keyed by centroid id, so the
    * all-pairs cost is confined to E[(n/nlist)^2 * nlist] = n^2/nlist
    * candidate pairs (nlist ~ sqrt(n) => ~n^1.5, processed perfectly
    * shuffle-parallel per cluster) instead of a global n^2 cross join. A
    * pathologically hot cluster degrades gracefully: its rows land in
    * one shuffle partition where [[bandedCosineNearDup]]'s sketch-band
    * candidate generation is the drop-in refinement.
    *
    * The coarse quantizer is the same deterministic first-`nlist`-ids
    * scheme as [[ivfTopK]] — centroids broadcast, cosine-argmax
    * assignment with centroid-id tie-break — so the DuckDB oracle
    * replicates the whole operator (`dedup_semdedup` gate); a
    * [[kmeansCodebook]] is a drop-in for recall at real scale. */
  def semDedup(
      emb: DataFrame, idCol: String, vecCol: String,
      nlist: Int, threshold: Double): DataFrame = {
    val c = withNorm(emb.select(col(idCol).as("id"),
      col(vecCol).cast(ArrayType(DoubleType)).as("v")))
    val cent = c.filter(col("id") < nlist)
      .select(col("id").as("cid"), col("v").as("centv"),
        col("nrm").as("centn"))
    val w = Window.partitionBy("id")
      .orderBy(col("_csim").desc, col("cid").asc)
    val asg = c.join(broadcast(cent), lit(true))
      .withColumn("_csim",
        dot(col("v"), col("centv")) / (col("nrm") * col("centn")))
      .withColumn("_r", row_number().over(w))
      .filter(col("_r") === 1)
      .select(col("id"), col("cid"), col("v"), col("nrm"))
    val aSide = asg.select(col("cid"), col("id").as("a"),
      col("v").as("va"), col("nrm").as("na"))
    val bSide = asg.select(col("cid"), col("id").as("b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dropped = aSide.join(bSide, Seq("cid"))
      .filter(col("a") < col("b"))
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("b").as("id"))
      .distinct()
    asg.select("id", "cid")
      .join(dropped.withColumn("_drop", lit(1)), Seq("id"), "left_outer")
      .withColumn("kept", col("_drop").isNull)
      .drop("_drop")
  }

  /** Deterministic first-ids coarse codebook (`cid`, `centv`, `centn`)
    * — the oracle-replayable quantizer slice [[ivfTopK]] and [[semDedup]]
    * build inline, exposed for the operators that take the codebook as an
    * explicit ARTIFACT ([[semDedupBetween]], [[ivfTopKWithCodebook]]).
    * Same `id < bound` convention as those ops; a [[kmeansCodebook]] is
    * the trained drop-in. */
  def firstIdsCodebook(
      emb: DataFrame, idCol: String, vecCol: String, idBound: Int): DataFrame =
    withNorm(emb.filter(col(idCol) < idBound)
      .select(col(idCol).as("cid"),
        col(vecCol).cast(ArrayType(DoubleType)).as("v")))
      .select(col("cid"), col("v").as("centv"), col("nrm").as("centn"))

  /** Per-ingest SemDeDup — [[semDedup]]'s delta-vs-corpus form, closing
    * the same gap [[DedupOps.ngramJaccardPairsBetween]] closes one tier
    * down: an ingest loop that embeds its delta must NOT re-cluster the
    * corpus. Delta embeddings are assigned to the EXISTING codebook (the
    * broadcast coarse quantizer the corpus was clustered with — at scale
    * the materialized training artifact; the deterministic first-ids
    * slice keeps the gate oracle-replayable), and the cosine pair join
    * runs CROSS-SIDE ONLY (base × delta within the shared cluster, an
    * equi-join on `cid`), never corpus × corpus — work is
    * delta-proportional times cluster occupancy. A delta row is dropped
    * iff some base row in its cluster clears `threshold`; within-delta
    * duplicates are the batch operator's job on the delta alone, the
    * within ∪ between composition `dedup_incremental_delta` pins for the
    * Jaccard tier. Sides are assumed id-disjoint.
    *
    * Restricted-equivalence contract (spec'd in DedupSimilaritySpec):
    * when base ids all precede delta ids and the codebook is the shared
    * first-ids slice, the delta-side verdicts equal [[semDedup]] run on
    * base ∪ delta with within-delta qualifying pairs absent — between IS
    * the batch operator minus the base×base and delta×delta legs.
    *
    * @param codebook (`cid`, `centv`[, `centn`]) — e.g.
    *                 [[firstIdsCodebook]] or [[kmeansCodebook]]
    * @return one row per DELTA row: (`id`, `cid`, `kept`)
    */
  def semDedupBetween(
      base: DataFrame, delta: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, threshold: Double): DataFrame = {
    val cent =
      if (codebook.columns.contains("centn")) codebook
      else codebook.withColumn("centn",
        sqrt(dot(col("centv"), col("centv"))))
    // [[semDedup]]'s assignment exactly: broadcast cosine-argmax with
    // centroid-id tie-break — both sides MUST quantize identically or
    // cross-side neighbors land in different lists and recall silently
    // drops (the reason the codebook is one shared argument, not
    // re-derived per side)
    def assign(side: DataFrame): DataFrame = {
      val c = withNorm(side.select(col(idCol).as("id"),
        col(vecCol).cast(ArrayType(DoubleType)).as("v")))
      val w = Window.partitionBy("id")
        .orderBy(col("_csim").desc, col("cid").asc)
      c.join(broadcast(cent), lit(true))
        .withColumn("_csim",
          dot(col("v"), col("centv")) / (col("nrm") * col("centn")))
        .withColumn("_r", row_number().over(w))
        .filter(col("_r") === 1)
        .select(col("id"), col("cid"), col("v"), col("nrm"))
    }
    val bAsg = assign(base)
      .select(col("cid"), col("v").as("vb"), col("nrm").as("nb"))
    val dAsg = assign(delta)
    val dropped = bAsg
      .join(dAsg.select(col("cid"), col("id"),
        col("v").as("vd"), col("nrm").as("nd")), Seq("cid"))
      .withColumn("cosine",
        dot(col("vb"), col("vd")) / (col("nb") * col("nd")))
      .filter(col("cosine") >= threshold)
      .select("id")
      .distinct()
    dAsg.select("id", "cid")
      .join(dropped.withColumn("_drop", lit(1)), Seq("id"), "left_outer")
      .withColumn("kept", col("_drop").isNull)
      .drop("_drop")
  }

  def bandedCosineNearDup(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val cands = bandedIds(emb, idCol, vecCol, "a").as("x")
      .join(bandedIds(emb, idCol, vecCol, "b").as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("a") < col("b"))
      .select("a", "b")
      .distinct()
    val v = withNorm(emb.select(col(idCol).as("id"),
      col(vecCol).cast(ArrayType(DoubleType)).as("v")))
    val va = v.select(col("id").as("a"), col("v").as("va"), col("nrm").as("na"))
    val vb = v.select(col("id").as("b"), col("v").as("vb"), col("nrm").as("nb"))
    cands.join(va, "a").join(vb, "b")
      .withColumn("cosine",
        dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select("a", "b", "cosine")
  }

  /** Greedy max-min (k-center / farthest-first) diversity selection:
    * start from the minimum id, then repeatedly pick the candidate whose
    * distance to its NEAREST already-selected vector is LARGEST (squared
    * Euclidean via dot products — no sqrt, so every compared value is a
    * fixed IEEE chain over the bit-identical sequential-fold dots). The
    * coreset/diversity-sampling step of training-data curation: k
    * maximally-spread exemplars, 2-approximation to the optimal k-center
    * cover (Gonzalez 1985).
    *
    * Each round is one scan of the candidates against a ≤k-row broadcast
    * of the selected set + a 1-row argmax (driver holds only the
    * selection LOG, the [[graft.ops.TextOps.bpeMerges]] discipline).
    * Ties break on vec_id, so the selection is deterministic anywhere.
    *
    * @return (`sel_order`, `id`, `min_dist2`) — `min_dist2` is the
    *         selection-time farthest-nearest distance (NULL for the
    *         seed row).
    */
  def maxMinDiverse(
      df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"maxMinDiverse: k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast(ArrayType(DoubleType)).as("v"))
      .withColumn("nn", dot(col("v"), col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (base.count() == 0L) {
      // min(id) on an empty frame is NULL and would fail the Long decode
      // with an opaque error — return the empty selection log instead
      base.unpersist()
      return Seq.empty[(Int, Long, Option[Double])]
        .toDF("sel_order", "id", "min_dist2")
    }

    val seed = base.agg(min("id")).as[Long].head()
    val log = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Option[Double])]
    log += ((1, seed, None))
    var round = 2
    while (round <= k) {
      val selIds = log.map(_._2).toSeq
      val sel = base.filter(col("id").isin(selIds: _*))
        .select(col("id").as("sid"), col("v").as("sv"), col("nn").as("snn"))
      val next = base.filter(!col("id").isin(selIds: _*))
        .crossJoin(broadcast(sel))
        .withColumn("dist2",
          col("nn") + col("snn") - lit(2.0) * dot(col("v"), col("sv")))
        .groupBy("id").agg(min("dist2").as("md"))
        .orderBy(col("md").desc, col("id").asc)
        .limit(1)
        .as[(Long, Double)].collect()
      if (next.isEmpty) round = k + 1
      else {
        log += ((round, next.head._1, Some(next.head._2)))
        round += 1
      }
    }
    base.unpersist()
    log.toSeq.toDF("sel_order", "id", "min_dist2")
  }

  /** Hard-negative mining for contrastive training: for every query row,
    * the `k` most-cosine-similar corpus rows carrying a DIFFERENT label —
    * the negatives a contrastive loss learns most from (Robinson et al.
    * 2021, "Contrastive Learning with Hard Negative Samples"). Candidate
    * generation is the [[lshTopK]] sign-sketch band join with the
    * label-mismatch filter applied before the candidate `distinct`;
    * surviving candidates are re-ranked by exact cosine. Recall < 1 by
    * construction (banded ANN), measured against a brute-force mine in
    * tests, never assumed.
    *
    * Scale shape: identical to [[lshTopK]] — id+label-only band join,
    * distinct on (qid, nid), vectors re-joined only for the re-rank.
    * No all-pairs stage anywhere. */
  def hardNegatives(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    val cands = bandedIds(queries, idCol, vecCol, "qid",
        carry = Seq(labelCol -> "ql"))
      .join(bandedIds(corpus, idCol, vecCol, "nid",
          carry = Seq(labelCol -> "nl")),
        Seq("band", "bh"))
      .filter(col("qid") =!= col("nid") && col("ql") =!= col("nl"))
      .select("qid", "nid")
      .distinct()
    rerankTopK(cands, queries, corpus, idCol, vecCol, k)
  }

  /** Contrastive triplet mining: one (anchor, positive, negative) row per
    * anchor that has both a same-label and a different-label band
    * candidate — `positive` is the most-similar same-label neighbor (the
    * hardest positive is the LEAST similar; this picks the conventional
    * nearest-positive used by triplet-loss bootstrap), `negative` the
    * most-similar different-label neighbor (the hard negative). One band
    * candidate join feeds both sides; the per-anchor winners come from a
    * single (qid, same?) window — no second pass over the pairs.
    *
    * Anchors with no candidate on either side are dropped (an ANN miner
    * cannot emit a triplet it has no candidate for) — the drop is
    * deterministic and the oracle replays it. */
  def contrastiveTriplets(
      emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val cands = bandedIds(emb, idCol, vecCol, "qid",
        carry = Seq(labelCol -> "ql"))
      .join(bandedIds(emb, idCol, vecCol, "nid",
          carry = Seq(labelCol -> "nl")),
        Seq("band", "bh"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "ql", "nid", "nl")
      .distinct()
    val q = normSide(emb, idCol, vecCol, "qid", "qv", "qn")
    val c = normSide(emb, idCol, vecCol, "nid", "cv", "cn")
    val w = Window.partitionBy("qid", "same")
      .orderBy(col("cosine").desc, col("nid").asc)
    val top = cands.join(q, "qid").join(c, "nid")
      .withColumn("same", (col("ql") === col("nl")).cast(IntegerType))
      .withColumn("cosine",
        dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("_r", row_number().over(w))
      .filter(col("_r") === 1)
    top.groupBy(col("qid"))
      .agg(
        max(when(col("same") === 1, struct(col("nid"), col("cosine"))))
          .as("_p"),
        max(when(col("same") === 0, struct(col("nid"), col("cosine"))))
          .as("_n"))
      .filter(col("_p").isNotNull && col("_n").isNotNull)
      .select(col("qid"),
        col("_p.nid").as("pos_id"), col("_p.cosine").as("pos_cos"),
        col("_n.nid").as("neg_id"), col("_n.cosine").as("neg_cos"))
  }

  /** Top principal component by FIXED-ROUND power iteration over the
    * exact covariance matrix ([[embeddingCovariance]]) — the whitening /
    * dominant-drift-direction primitive, and the repo's demonstration
    * that even an iterative NUMERIC fixpoint hash-gates when every sum
    * is order-pinned: the covariance entries are cross-engine-identical
    * doubles (their own gate proves it), each matrix·vector row folds
    * its 64 terms in j order, the L2 norm folds in i order, and
    * normalization is one sqrt + one division — identical IEEE trees on
    * both engines, so a fixed iteration count lands on the identical
    * vector. (Arbitrary-order float reductions are exactly why no
    * built-in PCA could ever sit behind this kind of gate.)
    *
    * Every frame after the covariance rollup is d-row — the iteration
    * costs nothing at any corpus size; v₀ = all-ones (exact), sign is
    * therefore deterministic. Rayleigh quotient λ = vᵀCv rides along.
    *
    * @return d rows: (`i`, `v` — unit eigenvector component,
    *         `lambda` — the shared top eigenvalue estimate).
    */
  /** The staged covariance triangle: the matrix gate and the
    * power-iteration gate (and any whitening consumer) read ONE
    * persisted frame per (corpus, column, scale) — the model-statistics
    * staging shape every shared frame here follows. */
  private[ops] val covCache =
    Memo.staging[(DataFrame, String, String, Double), DataFrame](4)

  def sharedEmbeddingCovariance(
      df: DataFrame, idCol: String, vecCol: String,
      scale: Double = 1e6): DataFrame =
    covCache.getOrElseUpdate((df, idCol, vecCol, scale)) {
      embeddingCovariance(df, idCol, vecCol, scale)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Drop the staged covariance frames (test hygiene). */
  def clearCovCache(): Unit = covCache.clear()

  def powerIterationPC(
      df: DataFrame, idCol: String, vecCol: String,
      iters: Int = 4, scale: Double = 1e6): DataFrame = {
    import graft.ops.Staging.StagedDf
    require(iters >= 1, s"powerIterationPC: iters must be >= 1, got $iters")
    val tri = sharedEmbeddingCovariance(df, idCol, vecCol, scale)
    // Everything past the covariance rollup is d-row (d = embedding
    // dimension, fixed by the SCHEMA — corpus-size-independent), yet
    // each iteration's matVec/groupBy/norm paid session-width exchanges
    // over ≤ d² rows: pure scheduler latency (the TextRank vocab-bound
    // domainParts argument). One partition holds the whole domain at
    // any corpus size; SinglePartition satisfies every downstream
    // clustering, so the 4 iterations run exchange-free.
    val full = tri.select(col("i"), col("j"), col("cov"))
      .unionAll(tri.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("cov")))
      .repartition(1)
      .stagePin()
    def pinnedSum(arr: Column): Column =
      aggregate(
        slice(arr, lit(2), greatest(size(arr) - 1, lit(0))),
        element_at(arr, 1),
        (acc, x) => acc + x)
    def matVec(v: DataFrame): DataFrame = full
      .join(v.select(col("i").as("j"), col("v").as("vj")), "j")
      .select(col("i"), col("j"), (col("cov") * col("vj")).as("t"))
      .groupBy("i")
      .agg(sort_array(collect_list(struct(col("j"), col("t")))).as("_s"))
      .select(col("i"),
        pinnedSum(transform(col("_s"), x => x.getField("t"))).as("w"))
    var v = full.select(col("i")).distinct().withColumn("v", lit(1.0))
    for (r <- 1 to iters) {
      val w = matVec(v.withColumnRenamed("v", "v").select(col("i"), col("v")))
      val n2 = w.agg(pinnedSum(transform(
        sort_array(collect_list(struct(col("i"), col("w")))),
        x => x.getField("w") * x.getField("w"))).as("n2"))
      v = w.crossJoin(broadcast(n2)) // 1-row norm frame (declared)
        .select(col("i"),
          when(col("n2") > 0, col("w") / sqrt(col("n2"))).as("v"))
      if (r % 2 == 0 || r == iters) v = v.stagePin()
    }
    val u = matVec(v)
    val lam = v.join(u, "i")
      .agg(pinnedSum(transform(
        sort_array(collect_list(struct(col("i"), (col("v") * col("w")).as("p")))),
        x => x.getField("p"))).as("lambda"))
    v.crossJoin(broadcast(lam)) // 1-row Rayleigh frame (declared)
      .select(col("i"), col("v"), col("lambda"))
  }

  /** EXACT population covariance matrix of an embedding column — the
    * d×d statistic under whitening, PCA, Mahalanobis outlier scoring
    * and feature-drift tracking. Spark's covar_pop is a scan-order
    * float accumulation (ungateable and silently run-dependent); here
    * each dimension is quantized (`floor(v·scale)` → long) so every
    * moment is an exact DECIMAL(38) integer and
    * cov_ij = (n·Σqᵢqⱼ − Σqᵢ·Σqⱼ) / n² / scale² has exactly two
    * IEEE divisions — bit-equal on any engine.
    *
    * Plan: one positional explode (n·d rows, staged once for both join
    * sides), one id-equi-join producing only the i ≤ j upper triangle
    * (n·d(d+1)/2 rows — linear in the corpus, the d²/2 constant is the
    * price of the statistic), one keyed rollup with map-side partials.
    * Output is the d(d+1)/2-row triangle, corpus-independent.
    *
    * @return (`i`, `j` ≥ i, `n`, `cov`) in original (unscaled) units.
    */
  def embeddingCovariance(
      df: DataFrame, idCol: String, vecCol: String,
      scale: Double = 1e6): DataFrame = {
    import graft.ops.Staging.StagedDf
    require(scale > 0, s"embeddingCovariance: scale must be > 0, got $scale")
    val d38 = DecimalType(38, 0)
    val q = df
      .select(col(idCol).as("_id"), posexplode(col(vecCol)).as(Seq("_i", "_v")))
      .select(col("_id"), col("_i"),
        floor(col("_v").cast("double") * scale).cast("long").as("_q"))
      .stagePin()
    q.as("a")
      .join(q.as("b"),
        col("a._id") === col("b._id") && col("a._i") <= col("b._i"))
      .groupBy(col("a._i").as("i"), col("b._i").as("j"))
      .agg(count(lit(1)).as("n"),
        sum(col("a._q").cast(d38)).as("_si"),
        sum(col("b._q").cast(d38)).as("_sj"),
        sum(col("a._q").cast(d38) * col("b._q").cast(d38)).as("_p"))
      .select(col("i"), col("j"), col("n"),
        ((col("n").cast(d38) * col("_p") - col("_si") * col("_sj"))
          .cast("double") /
          (col("n").cast(d38) * col("n").cast(d38)).cast("double") /
          lit(scale * scale)).as("cov"))
  }
}
