package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.Staging.StagedDf

/** Graph operators for duplicate-cluster resolution (SURVEY §7.4 endgame).
  *
  * Near-dup operators ([[DedupOps]]) emit *pairs*; acting on them at scale
  * requires grouping pairs into clusters and keeping one representative per
  * cluster — a connected-components problem over the pair graph.
  *
  * Two strategies, composed:
  *
  *  1. Iterative min-label propagation ("hash-to-min"): every node starts
  *     labeled with its own id; each round every node takes the minimum
  *     label in its closed neighborhood; fixpoint = every node carries the
  *     minimum id of its component. Each round is ONE shuffle join
  *     (edges x labels) plus one partial+final min-aggregate — and, since
  *     round 4, exactly ONE Spark action: the previous label rides the
  *     aggregate as a `max(prev)` column and the changed-row count is an
  *     `observe()` metric on the same job, so convergence detection costs
  *     no extra jobs. Rounds are bounded by the graph diameter; near-dup
  *     graphs are band-clique unions (LSH candidates within a band form
  *     cliques), so the diameter is a small constant in practice.
  *
  *  2. Alternating large-star/small-star contraction (Kiveris et al.,
  *     "Connected Components in MapReduce and Beyond", SoCC'14), which
  *     converges in O(log n) rounds regardless of diameter with the same
  *     per-round join shape. [[connectedComponents]] runs propagation for
  *     up to `maxIter` rounds and, if a fixpoint was not reached
  *     (adversarial high-diameter graphs: templated near-dup chains), it
  *     CONTRACTS the graph by the partial labels — every label class is
  *     already connected, so the quotient graph preserves components — and
  *     finishes with [[starContraction]] on the (much smaller) quotient,
  *     joining the roots back. Slow convergence degrades to a strategy
  *     switch instead of a query failure.
  *
  * Every round materializes its label frame with TRUNCATED lineage
  * ([[Staging.pin]]): a round's output references its input more than
  * once, so carrying logical plans across rounds grows them
  * exponentially — analysis alone would dominate long before the data
  * does. Checkpointing per round keeps the plan O(1) per round (exactly
  * why GraphFrames' connectedComponents checkpoints periodically).
  * Replaced rounds' blocks are reclaimed by the ContextCleaner once
  * unreferenced. The driver loop holds only iteration counters, never
  * data.
  */
object GraphOps {

  /** Connected components of the undirected graph given as an edge list.
    *
    * @param maxIter propagation rounds before switching to star
    *        contraction (NOT a failure bound — convergence past it is
    *        handled, not aborted).
    * @return one row per distinct node id appearing in `edges`:
    *         (`id`, `component`) with `component` = min reachable node id.
    *         Nodes absent from `edges` (singletons) are their own
    *         component by definition and are the caller's concern.
    *         The returned frame is materialized with truncated lineage
    *         (checkpoint-backed): reuse is cache-cheap, and dropping all
    *         references releases the blocks. Obtain it via
    *         [[sharedComponents]] when more than one consumer needs it.
    */
  def connectedComponents(
      edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    val sym = edges
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .union(edges.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    var labels = sym
      .select(col("u").as("id"))
      .distinct()
      .select(col("id"), col("id").as("component"))
      .stagePin()
    var changed = labels.count() // 0 rows → already converged
    val idType = labels.schema("component").dataType

    var round = 0
    while (changed > 0 && round < maxIter) {
      // Label of u flows across every edge (u, v); union the node's own
      // label so components never lose their minimum (closed
      // neighborhood). The own-label branch doubles as the previous
      // label: `max(prev)` sees exactly one non-null per id, and the
      // convergence count rides the same job as an observe() metric —
      // one action per round (the eager checkpoint), no separate
      // change-detection join and no extra count.
      val obs = Observation()
      labels = sym
        .join(labels.withColumnRenamed("id", "u"), "u")
        .select(col("v").as("id"), col("component"),
          lit(null).cast(idType).as("prev"))
        .union(labels.select(col("id"), col("component"),
          col("component").as("prev")))
        .groupBy("id")
        .agg(min("component").as("component"), max("prev").as("prev"))
        .observe(obs, coalesce(
          sum((col("component") =!= col("prev")).cast("long")),
          lit(0L)).as("changed"))
        .select("id", "component")
        .stagePin()
      changed = obs.get("changed").asInstanceOf[Long]
      round += 1
    }

    if (changed > 0) {
      // No fixpoint within maxIter: graph diameter exceeds the bound.
      // Each label class is internally connected (a label is always
      // reachable from its node), so contracting classes preserves
      // components; finish on the quotient graph — diameter-independent
      // O(log n) rounds — and map roots back through the partial labels.
      val contracted = sym
        .join(labels.select(col("id").as("u"), col("component").as("ca")), "u")
        .join(labels.select(col("id").as("v"), col("component").as("cb")), "v")
        .select(col("ca").as("a"), col("cb").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
      val roots = starContraction(contracted, "a", "b")
      labels = labels
        .join(roots.select(col("id").as("component"), col("component").as("root")),
          Seq("component"), "left_outer")
        .select(col("id"),
          coalesce(col("root"), col("component")).as("component"))
        .stagePin()
    }
    sym.unpersist()
    labels
  }

  /** STRONGLY connected components of a DIRECTED edge list — the
    * directed-graph family the undirected ops cannot express: mutual
    * reachability (who trades BACK, which issue→user→repo relations
    * close a loop), not mere connectivity.
    *
    * Algorithm: trim + forward/backward min-label peeling, the BSP SCC
    * shape (the same family GraphX's SCC and FW-BW systems use — public
    * algorithms; Fleischer et al. 2000 for FW-BW, Hong et al. PPoPP'13
    * for trim):
    *
    *  1. TRIM to fixpoint: a node with no in-edge or no out-edge inside
    *     the active subgraph is a singleton SCC (its SCC-mates, if any,
    *     would give it both), so its edges drop. Bulk-dissolves the
    *     DAG-like mass that would otherwise cost one peel pass each.
    *  2. F(v) = min id that REACHES v, B(v) = min id v reaches — two
    *     min-label fixpoints (the [[connectedComponents]] round shape
    *     restricted to edge direction; B runs on the reversed edges).
    *     Both are SCC-invariant (same mutual-reach set ⇒ same labels).
    *  3. SETTLE {v : F(v) = B(v)}: the common value m satisfies
    *     m →* v and v →* m, so all such v with the same m are one SCC,
    *     labeled m. The minimum active node of every weakly-connected
    *     piece settles (its own F = B = itself), so each pass makes
    *     guaranteed progress; passes needed ≤ the graph's SCC-chain
    *     depth after trimming.
    *  4. PEEL: settled SCCs leave ATOMICALLY (F/B are SCC-invariant),
    *     and any path between two same-SCC nodes stays inside the SCC,
    *     so removal never breaks a surviving SCC — nodes that lose all
    *     their edges without settling are therefore singletons, swept
    *     up at the end as `scc = id`.
    *
    * Scale: per label round one edge-sized equi-join + one node rollup
    * (plus a node-sized shortcut leg), convergence observe-fused onto
    * the round's pin (one action per round); the active edge frame
    * re-pins per pass. Label SHORTCUTTING (lab(lab(v)) joins each
    * round's candidates — sound because lab(v) always reaches v) is the
    * directed analog of the undirected path's starContraction rescue.
    * Its measured reach (round-14 fixtures): a diameter-1200 permuted
    * cycle converges in ~24 rounds where one-hop propagation needs
    * ~1200; a 120k-node random expander (out-degree 2) in 21 rounds
    * (~log2 n). The honest boundary: a NEAR-PURE deep cycle (120k
    * nodes, chords only every 100 positions) measured >200 rounds — the
    * shortcut spawns scattered label fronts (a ~200-changes/round tail)
    * but cannot make a 10^5-diameter reach set collapse
    * logarithmically; true O(log d) directed reachability needs edge
    * squaring, which is O(E^2)-explosive and off the table at scale.
    * `maxRoundsPerFix`/`maxPasses` are the fail-fast backstops for that
    * regime (the require names the remedy).
    *
    * Self-loops are dropped (they never change an SCC). Nodes appear in
    * the output iff they appear in `edges` (the [[connectedComponents]]
    * convention).
    *
    * @return one row per node: (`id`, `scc`) with `scc` = min node id of
    *         the strongly connected component.
    */
  def stronglyConnectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxPasses: Int = 16, maxRoundsPerFix: Int = 64): DataFrame = {
    require(maxPasses >= 1 && maxRoundsPerFix >= 1,
      s"stronglyConnectedComponents: bad bounds ($maxPasses, $maxRoundsPerFix)")

    // one directed min-label fixpoint with ESCALATING LABEL SHORTCUTTING:
    //   lab'(v) = min(lab(v), min_{u→v} lab(u) [, lab(lab(v)) from round 6])
    // — the connectedComponents round (own-label union trick, change
    // count riding the pin) with the flow restricted to edge direction,
    // plus, once plain propagation has run 6 rounds without converging,
    // a pointer-jumping leg: the invariant "lab(v) reaches v" makes
    // the derived edge lab(v)→v reachability-sound (lab(u) reaches u→v;
    // lab(lab(v)) reaches lab(v) reaches v), so each round a label can
    // jump through its label's label and the covered in-radius roughly
    // DOUBLES instead of growing by one hop — until labels concentrate
    // on ids the front has not physically reached, after which the leg
    // degrades to spawning scattered one-hop fronts (see the scaladoc's
    // measured boundary: ~24 rounds at diameter 1200, >200 on a 10^5-
    // diameter near-cycle). Same fixpoint (min id over
    // the full in-reach set — uniqueness is the invariant + stability),
    // far-sub-diameter rounds past the escalation point: the directed
    // analog of the propagation→starContraction rescue the undirected
    // path has, so a crawl-frontier / citation-DAG-shaped graph with a
    // 1000-deep directed chain converges under the default bounds
    // instead of aborting — while a shallow graph (the common case)
    // never pays the leg. The shortcut leg is node-sized (cheaper than
    // the main O(E) leg); near convergence it stars on the component
    // min — the AQE skew-join regime, same as every min-label CC engine.
    def minLabelFix(ed: DataFrame, nodes: DataFrame): DataFrame = {
      // Escalation point: plain one-hop rounds until here (a low-diameter
      // graph — the common case — converges without ever paying the
      // shortcut leg; engaging it from round 0 measured +54% on the 5M
      // shallow-fixture sweep), label-doubling from here on (a deep
      // graph covers 2^k-ish radius per extra round instead of +1).
      val shortcutFrom = 6
      // NOT round-batched: a 2-rounds-per-pin A/B (the corenessDecomposition
      // batching) measured 4.75 s → 5.78 s on the gate corpus — the second
      // round's two reads of the unpinned first round re-aggregate its
      // node rollup and the endpoint-convergence join adds an exchange,
      // which together cost more than the saved action latency here.
      var labs = nodes.select(col("id"), col("id").as("lab")).stagePin()
      var changed = 1L
      var round = 0
      while (changed > 0) {
        require(round < maxRoundsPerFix,
          s"stronglyConnectedComponents: min-label fixpoint exceeded " +
            s"$maxRoundsPerFix rounds despite label shortcutting — raise " +
            "maxRoundsPerFix")
        val edAug =
          if (round < shortcutFrom) ed
          else ed.union(
            labs.filter(col("lab") =!= col("id"))
              .select(col("lab").as("u"), col("id").as("v")))
        val obs = Observation()
        labs = edAug
          .join(labs.withColumnRenamed("id", "u"), "u")
          .select(col("v").as("id"), col("lab"),
            lit(null).cast("long").as("prev"))
          .union(labs.select(col("id"), col("lab"), col("lab").as("prev")))
          .groupBy("id")
          .agg(min("lab").as("lab"), max("prev").as("prev"))
          .observe(obs, coalesce(
            sum((col("lab") =!= col("prev")).cast("long")),
            lit(0L)).as("changed"))
          .select("id", "lab")
          .stagePin()
        changed = obs.get("changed").asInstanceOf[Long]
        round += 1
      }
      labs
    }

    val e0 = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val allNodes = e0.select(col("src").as("id"))
      .union(e0.select(col("dst").as("id")))
      .distinct()
      .stagePin()
    var eAct = e0.stagePin()
    var eCount = eAct.count()
    var settled: DataFrame = null // (id, scc) — only multi-node SCCs + roots
    var pass = 0
    while (eCount > 0) {
      require(pass < maxPasses,
        s"stronglyConnectedComponents: $maxPasses peel passes exhausted " +
          "with edges remaining (SCC-chain depth too large — raise maxPasses)")
      pass += 1
      // trim to fixpoint: keep only edges whose BOTH endpoints have an
      // in-edge AND an out-edge; no settle bookkeeping needed — trimmed
      // nodes fall through to the final singleton sweep
      var trimming = true
      while (trimming) {
        val keep = eAct.select(col("src").as("id")).distinct()
          .join(eAct.select(col("dst").as("id")).distinct(), Seq("id"))
        val obs = Observation()
        val next = eAct
          .join(keep.select(col("id").as("src")), Seq("src"))
          .join(keep.select(col("id").as("dst")), Seq("dst"))
          .select("src", "dst")
          .observe(obs, count(lit(1)).as("m"))
          .stagePin()
        val m = obs.get("m").asInstanceOf[Long]
        trimming = m < eCount
        eAct = next
        eCount = m
      }
      if (eCount > 0) {
        val nodes = eAct.select(col("src").as("id"))
          .union(eAct.select(col("dst").as("id")))
          .distinct()
          .stagePin()
        // The forward and backward fixpoints are INDEPENDENT (each reads
        // only the pinned edge/node frames and its own per-round pins), so
        // they run as concurrent driver-side jobs (guide §2.6 "overlap
        // independent jobs"): each fixpoint's per-round stages are tiny
        // and leave most executor slots idle, and the other fixpoint's
        // rounds back-fill them — on an idle box the pair costs ~the
        // slower one, not the sum. Spark's scheduler is safe for
        // multi-threaded job submission; each thread touches only its
        // own Observation/pin chain.
        val Seq(fwd, bwd) = Staging.concurrently(Seq(
          () => minLabelFix(
            eAct.select(col("src").as("u"), col("dst").as("v")), nodes),
          () => minLabelFix(
            eAct.select(col("dst").as("u"), col("src").as("v")), nodes)))
        val now = fwd
          .join(bwd.select(col("id"), col("lab").as("_b")), Seq("id"))
          .filter(col("lab") === col("_b"))
          .select(col("id"), col("lab").as("scc"))
        settled =
          (if (settled == null) now else settled.unionByName(now)).stagePin()
        val obs = Observation()
        eAct = eAct
          .join(settled.select(col("id").as("src")), Seq("src"), "left_anti")
          .join(settled.select(col("id").as("dst")), Seq("dst"), "left_anti")
          .select("src", "dst")
          .observe(obs, count(lit(1)).as("m"))
          .stagePin()
        eCount = obs.get("m").asInstanceOf[Long]
      }
    }
    val out = allNodes
      .join(if (settled == null) allNodes.limit(0)
          .select(col("id"), col("id").as("scc"))
        else settled, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("scc"), col("id")).as("scc"))
      .stagePin()
    out
  }

  /** Condensation layering of a directed graph: contract every SCC of
    * `edges` to one node (the condensation — always a DAG), then assign
    * each SCC its LONGEST-path-from-a-source layer by Kahn peeling
    * (round r removes the current sources; a node's layer is the round
    * it leaves in, which is exactly max path length from any original
    * source). The dependency-ordering companion to
    * [[stronglyConnectedComponents]]: "what can load in parallel, and
    * in what wave" over a graph whose cycles (mutual dependencies)
    * schedule as single units.
    *
    * Plan: one SCC decomposition (pass `labels` to reuse an existing
    * one — the staging discipline), two label joins to contract the
    * edge list (≤ |edges| rows, distinct), then one peel round per DAG
    * layer: a source extraction (anti-join) + edge shrink, convergence
    * riding the pin's observe metric. Rounds = condensation depth —
    * the schedule length itself, so a graph whose layering is worth
    * asking about keeps it small.
    *
    * @param labels optional precomputed (`id`, `scc`) frame (e.g. a
    *        shared [[stronglyConnectedComponents]] output); computed
    *        here when absent.
    * @return one row per NODE: (`id`, `scc`, `layer`).
    */
  def condensationLayers(
      edges: DataFrame, srcCol: String, dstCol: String,
      labels: Option[DataFrame] = None,
      maxLayers: Int = 1024): DataFrame = {
    require(maxLayers >= 1, s"condensationLayers: bad maxLayers $maxLayers")
    val lbl = labels
      .getOrElse(stronglyConnectedComponents(edges, srcCol, dstCol))
      .select(col("id"), col("scc"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cEdges = edges
      .select(col(srcCol).cast("long").as("id"), col(dstCol).cast("long").as("_d"))
      .join(lbl, Seq("id"))
      .select(col("scc").as("cs"), col("_d").as("id"))
      .join(lbl.withColumnRenamed("scc", "cd"), Seq("id"))
      .select(col("cs"), col("cd"))
      .filter(col("cs") =!= col("cd"))
      .distinct()
    var eAct = cEdges.stagePin()
    var active = lbl.select(col("scc").as("c")).distinct().stagePin()
    var settled: DataFrame = null // (c, layer)
    var layer = 0
    var remaining = active.count()
    // BATCH 4 Kahn peels per pin set: per-layer scheduler latency, not
    // data, dominates this loop (the corenessDecomposition lesson — the
    // one-layer shape paid THREE pins per layer at ~11 MB total shuffle
    // for the whole gate). Layers inside a batch chain lazily — each
    // layer's sources anti-join the previous lazy layer's output — and
    // the batch ends with the same three pins one layer used to pay.
    // Peeling past exhaustion is a no-op (sources of an empty active
    // set are empty; layer numbers stay exact per peel).
    val batch = 4
    while (remaining > 0) {
      require(layer < maxLayers,
        s"condensationLayers: depth exceeds $maxLayers — raise maxLayers")
      var act = active
      var eac = eAct
      var newly: DataFrame = null
      for (i <- 0 until batch) {
        // sources of the remaining DAG: active SCCs nothing active
        // points at
        val srcs = act
          .join(eac.select(col("cd").as("c")), Seq("c"), "left_anti")
          .select(col("c"), lit(layer + i).as("layer"))
        newly = if (newly == null) srcs else newly.unionByName(srcs)
        act = act.join(srcs.select(col("c")), Seq("c"), "left_anti")
        eac = eac
          .join(srcs.select(col("c").as("cs")), Seq("cs"), "left_anti")
      }
      // The three end-of-batch pins (settled, active, eAct) each read
      // only the PREVIOUS batch's pinned frames — independent
      // materializations, submitted concurrently (guide §2.6) so the
      // batch pays ~one pin of wall latency, not three in sequence.
      val obs = Observation()
      val Seq(s, a, ea) = Staging.concurrently(Seq(
        () => (if (settled == null) newly
          else settled.unionByName(newly)).stagePin(),
        () => act.observe(obs, count(lit(1)).as("m")).stagePin(),
        () => eac.stagePin()))
      settled = s
      active = a
      remaining = obs.get("m").asInstanceOf[Long]
      eAct = ea
      layer += batch
    }
    val out = lbl
      .join(if (settled == null)
          lbl.limit(0).select(col("scc").as("c"), lit(0).as("layer"))
        else settled,
        lbl("scc") === col("c"))
      .select(col("id"), col("scc"), col("layer"))
      .stagePin()
    lbl.unpersist()
    out
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., SoCC'14) — O(log n) rounds on ANY diameter, the
    * scale path for adversarial graphs.
    *
    * Edges are kept canonically directed high→low. Each round:
    * large-star links every larger neighbor of u to min(Γ⁺(u));
    * small-star links every smaller neighbor (and u itself) to
    * min(Γ⁻(u) ∪ {u}). Both preserve components and monotonically lower
    * targets; the fixpoint is a star forest rooted at each component's
    * minimum id.
    *
    * @return (`id`, `component`) for every distinct node in `edges`,
    *         persisted + materialized — caller owns the unpersist.
    */
  def starContraction(
      edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    val nodes = edges.select(col(aCol).as("id"))
      .union(edges.select(col(bCol).as("id")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    var e = edges
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .stagePin()
    var eCount = e.count()

    var converged = eCount == 0L
    var round = 0
    while (!converged && round < maxIter) {
      // large-star: m(u) = min of closed neighborhood; every neighbor
      // v > u re-links to m. Output stays high→low and self-loop-free
      // (m <= u < v).
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val lmins = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val ls = sym.filter(col("v") > col("u"))
        .join(lmins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star on the high→low edges: every smaller neighbor and u
      // itself re-link to m(u) = min of the smaller neighbors.
      val smins = ls.groupBy("u").agg(min("v").as("m"))
      // Eager checkpoint: a round references `e` a dozen times through
      // sym/ls/smins — without truncation the logical plan would grow
      // exponentially across rounds (analysis cost, not data, becomes
      // the bottleneck).
      val next = ls.join(smins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(smins.select(col("u"), col("m").as("v")))
        .distinct()
        .stagePin()
      val nCount = next.count()
      // Fixpoint = identical edge set. Both frames are materialized and
      // deduplicated, so subset + equal count ⇔ equality; this is the
      // rare fallback path, so the extra anti-join action is acceptable.
      converged = nCount == eCount &&
        next.join(e, Seq("u", "v"), "left_anti").isEmpty
      e = next
      eCount = nCount
      round += 1
    }
    require(converged || eCount == 0L,
      s"starContraction: no star-forest fixpoint after $maxIter " +
        "alternating rounds — unreachable below ~2^maxIter nodes; raise " +
        "maxIter if you really have that graph")

    // Fixpoint edges are (child, root); roots never appear as a child.
    val result = nodes
      .join(e.select(col("u").as("id"), col("v").as("component")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    result.count()
    nodes.unpersist()
    e.unpersist()
    result
  }

  /** Complete a component-label frame with singleton components for every
    * id in `universe` that the edge list never mentioned — the documented
    * caller-side concern of [[connectedComponents]], packaged so callers
    * stop re-deriving it. Narrow left join on the id key; no extra pass
    * over the corpus.
    */
  def withSingletons(labels: DataFrame, universe: DataFrame, idCol: String): DataFrame =
    universe.select(col(idCol).as("id")).distinct()
      .join(labels, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))

  /** INCREMENTAL component-label maintenance: merge a batch of delta
    * edges into persisted labels without recomputing the base pair
    * graph — the operation an incremental dedup service runs per ingest
    * (the full-recompute path rebuilds CC from every pair ever found;
    * this touches delta-proportional state plus one relabel pass).
    *
    * Exactness: `baseLabels` is a star forest (every node → the MIN id
    * of its base component), so contracting each delta endpoint to its
    * base root — itself when the endpoint is new — preserves
    * components, and the contracted graph has ≤ |delta| edges. Running
    * [[connectedComponents]] on it yields, per merged group, the min
    * over {member roots, new ids} = the min over ALL member ids (each
    * root IS its component's min). Base components the delta never
    * touches keep their labels through the left-join patch unchanged —
    * so the result is hash-identical to a full recompute over base ∪
    * delta edges (gated, plus a random-graph unit test).
    *
    * Plan shape: two broadcast-friendly lookups delta-side, one CC loop
    * over the contracted (delta-sized) graph, one relabel join over the
    * base labels keyed on `component`. At warehouse scale the relabel
    * is the patch a merge-on-read table applies; nothing rescans base
    * EDGES, which is what makes the pass delta-proportional.
    *
    * @param baseLabels (`id`, `component`) with component = min member
    *        id, e.g. a prior [[connectedComponents]] output.
    * @return (`id`, `component`) over base nodes ∪ delta endpoints.
    */
  def incrementalComponents(
      baseLabels: DataFrame, deltaEdges: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val lbl = baseLabels.select(col("id"), col("component"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val contracted = deltaEdges
      .select(col(aCol).as("ea"), col(bCol).as("eb"))
      .join(lbl.select(col("id").as("ea"), col("component").as("ra")),
        Seq("ea"), "left_outer")
      .join(lbl.select(col("id").as("eb"), col("component").as("rb")),
        Seq("eb"), "left_outer")
      .select(coalesce(col("ra"), col("ea")).as("a"),
        coalesce(col("rb"), col("eb")).as("b"))
      .filter(col("a") =!= col("b"))
    // (root-or-new-id, merged component): min over the merged group.
    // connectedComponents returns an eagerly PINNED frame — no second
    // persist; both downstream joins read the checkpoint blocks.
    val merged = connectedComponents(contracted, "a", "b")
    val patched = lbl
      .join(merged.select(col("id").as("component"),
        col("component").as("newc")), Seq("component"), "left_outer")
      .select(col("id"), coalesce(col("newc"), col("component")).as("component"))
    val newNodes = deltaEdges.select(col(aCol).as("id"))
      .union(deltaEdges.select(col(bCol).as("id")))
      .distinct()
      .join(lbl.select("id"), Seq("id"), "left_anti")
      .join(merged.withColumnRenamed("component", "newc"),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("newc"), col("id")).as("component"))
    val out = patched.unionByName(newNodes).stagePin()
    lbl.unpersist()
    out
  }

  /** Shared connected-components labels, memoized per (edge frame, cols)
    * — the pair-graph analog of [[DedupOps.sharedShingles]]. Resolving
    * clusters and keeping representatives always consume the SAME labels
    * in a real dedup run; staging them once means the iterative loop runs
    * once per corpus snapshot, not once per consumer. Keyed by DataFrame
    * identity: pass a stable frame (e.g.
    * [[DedupOps.sharedNgramJaccardPairs]]) or the cache cannot hit. The
    * cache owns the persisted frames — LRU-bounded with unpersist-on-evict
    * ([[Memo]]); [[clearComponentCache]] releases everything.
    */
  private[ops] val componentCache =
    Memo.staging[(DataFrame, String, String), DataFrame](8)

  def sharedComponents(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    componentCache.getOrElseUpdate((edges, aCol, bCol)) {
      connectedComponents(edges, aCol, bCol)
    }

  /** Unpersist and drop every shared component frame (test hygiene). */
  def clearComponentCache(): Unit = componentCache.clear()

  /** Fixed-iteration PageRank in exact integer (fixed-point) arithmetic.
    *
    * Ranks are carried as `unit`-scaled BIGINT "rank units" and every
    * division is integer division, so the result is bit-identical on any
    * engine and any partitioning — floating-point PageRank accumulates
    * doubles in scan order and can never hash-gate (the same reason
    * [[graft.ops.StatOps]] quantizes its moments). Per iteration the
    * update is the standard damped form, with two documented exactness
    * choices: each node's contribution is `r div outdeg` (the sub-unit
    * remainder is dropped, not redistributed) and dangling-node mass is
    * dropped rather than respread (the common simplification; the
    * stationary ranking is unaffected for the connected case).
    *
    * Scale shape: `edges` is joined with its out-degrees ONCE and
    * persisted; each iteration is then one shuffle of the (small) rank
    * frame to the edge partitioning, a map-side-combinable sum per
    * destination, and a narrow left join back to the node universe —
    * O(E) per round with no growing state. The loop is driver-side
    * counters only; every round's rank frame is checkpoint-truncated so
    * plan depth stays O(1) per round (same discipline as
    * [[connectedComponents]]).
    *
    * @return one row per node: (`id`, `rank_units`) where `rank_units`
    *         ~= rank probability × `unit` × N up to the documented
    *         truncation.
    */
  /** Loop-invariant staged frames of a DIRECTED graph, shared by the
    * fixpoint scorers ([[pageRankUnits]], [[pprUnits]], [[katzUnits]],
    * [[hitsUnits]]): every one of them staged the same distinct-edge,
    * node-universe and degree derivations privately — guide §2.4, two
    * operations keyed the same way share one exchange. Frames are
    * stagePinned (lineage-truncated; blocks reclaimed by the
    * ContextCleaner once the stage is unreachable), pre-partitioned on
    * their per-round join keys so iterations shuffle only the
    * node-sized score frame — the bucketed-edge layout a 100 TB
    * deployment would keep on disk, expressed in blocks:
    *  - `e`     distinct (src, dst), partitioned by src
    *  - `eDst`  the same edges, partitioned by dst (HITS' auth→hub leg)
    *  - `nodes` distinct node universe, partitioned by id
    *  - `eDeg`  e carrying its per-src out-degree, partitioned by src
    *  - `nNodes` node count (HITS' mean-normalization denominator) */
  final case class DirectedGraphStage(
      e: DataFrame, eDst: DataFrame, nodes: DataFrame, eDeg: DataFrame,
      nNodes: Long)

  def stageDirectedGraph(
      edges: DataFrame, srcCol: String, dstCol: String): DirectedGraphStage = {
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .repartition(col("src"))
      .stagePinSized()
    // nodes / eDeg / eDst read only the pinned e — independent
    // materializations, submitted concurrently (guide §2.6) so the
    // stage pays ~one pin of wall latency on an otherwise-idle box.
    val nObs = Observation()
    val Seq(nodes, eDeg, eDst) = Staging.concurrently(Seq(
      () => e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
        .distinct()
        .repartition(col("id"))
        .observe(nObs, count(lit(1)).as("n"))
        .stagePinSized(),
      () => e
        .join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
        .repartition(col("src"))
        .stagePinSized(),
      () => e.repartition(col("dst")).stagePinSized()))
    DirectedGraphStage(e, eDst, nodes, eDeg,
      nObs.get("n").asInstanceOf[Long])
  }

  def pageRankUnits(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, dampNum: Int = 85, dampDen: Int = 100,
      unit: Long = 1000000L, checkpointEvery: Int = 4): DataFrame =
    pageRankUnitsStaged(stageDirectedGraph(edges, srcCol, dstCol),
      iters, dampNum, dampDen, unit, checkpointEvery)

  /** [[pageRankUnits]] on a pre-built [[DirectedGraphStage]] — callers
    * running several fixpoint scorers over the SAME graph stage it once
    * and hand it to each (the landmark-sweep sharing discipline). */
  def pageRankUnitsStaged(
      st: DirectedGraphStage,
      iters: Int = 3, dampNum: Int = 85, dampDen: Int = 100,
      unit: Long = 1000000L, checkpointEvery: Int = 4): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampDen > dampNum && unit > 0,
      s"pageRankUnits: bad parameters ($iters, $dampNum/$dampDen, $unit)")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val base = unit * (dampDen - dampNum) / dampDen // exact for the defaults
    var ranks = st.nodes.select(col("id"), lit(unit).as("r"))
    var round = 0
    while (round < iters) {
      val contrib = st.eDeg
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy("dst")
        .agg(sum("c").as("c"))
      ranks = st.nodes
        .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left_outer")
        .select(col("id"),
          (lit(base) +
            expr(s"(${dampNum.toLong}L * coalesce(c, 0L)) div ${dampDen.toLong}L"))
            .as("r"))
      // Each round references `ranks` twice, so plan size doubles per
      // round — truncate every `checkpointEvery` rounds instead of every
      // round: short loops (the common 3–5-iteration case) stay ONE lazy
      // job with zero intermediate materializations, deep loops keep
      // plans O(2^checkpointEvery) and gain executor-loss restart points.
      round += 1
      if (round % checkpointEvery == 0 && round < iters)
        ranks = ranks.stagePin()
    }
    ranks.select(col("id"), col("r").as("rank_units"))
      .stagePin()
  }

  /** WEIGHTED PageRank in the same exact fixed-point integer
    * arithmetic as [[pageRankUnits]]: a node's rank splits across its
    * out-edges PROPORTIONALLY to integer edge weights instead of
    * uniformly — contribution per edge is `(r · w) div W_src` with
    * `W_src` the node's total out-weight (parallel edges merge
    * additively first, so duplicate rows mean "more of the same
    * relationship"). This is the form trade/interaction graphs
    * actually need: a supplier taking 90% of a buyer's volume should
    * inherit 90% of that buyer's endorsement, not 1/outdegree of it.
    *
    * Same plan shape as [[pageRankUnits]]: the weight-carrying edge
    * list joins its per-src weight total ONCE and persists
    * pre-partitioned on `src`; per round only the node-sized rank
    * frame shuffles. Exactness bound: `r · w` must fit a long —
    * `r ≤ N·unit` at any round (total mass is conserved up to
    * truncation), so keep `N·unit·max(w) < 2⁶³` (widen by lowering
    * `unit` on heavy graphs; the default leaves ~10³ headroom at
    * 10⁶ nodes and 10⁶ max weight).
    *
    * Non-positive-weight rows are dropped (a zero-weight edge carries
    * no mass and must not inflate `W_src`; negative flow is undefined
    * here).
    *
    * @return one row per node: (`id`, `rank_units`).
    */
  def pageRankWeightedUnits(
      edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      iters: Int = 3, dampNum: Int = 85, dampDen: Int = 100,
      unit: Long = 1000000L, checkpointEvery: Int = 4,
      domainParts: Option[Int] = None): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampDen > dampNum && unit > 0,
      s"pageRankWeightedUnits: bad parameters ($iters, $dampNum/$dampDen, $unit)")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    require(domainParts.forall(_ >= 1),
      s"pageRankWeightedUnits: bad domainParts $domainParts")
    // domainParts: callers whose graph is DOMAIN-BOUNDED by construction
    // (e.g. TextRank over a top-K vocabulary — at most K nodes at any
    // corpus size) pass the width their bound justifies; session-width
    // exchanges over a ≤K-row frame are pure scheduler latency. Unbounded
    // graphs leave it None and keep the session width. The integer
    // arithmetic is partitioning-independent, so results are identical.
    def keyed(df: DataFrame, k: Column): DataFrame =
      domainParts.map(p => df.repartition(p, k)).getOrElse(df.repartition(k))
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(wCol).cast("long").as("w"))
      .filter(col("w") > 0L)
      .groupBy("src", "dst").agg(sum("w").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = keyed(e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
        .distinct(), col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Total out-weight rides the edge rows, the [[pageRankUnits]] eDeg
    // discipline — the per-round join is a single equi-join on src.
    val eW = keyed(e
        .join(e.groupBy("src").agg(sum("w").as("wout")), "src"),
      col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val base = unit * (dampDen - dampNum) / dampDen // exact for the defaults
    var ranks = nodes.select(col("id"), lit(unit).as("r"))
    var round = 0
    while (round < iters) {
      val contrib = eW
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst"), expr("(r * w) div wout").as("c"))
        .groupBy("dst")
        .agg(sum("c").as("c"))
      ranks = nodes
        .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left_outer")
        .select(col("id"),
          (lit(base) +
            expr(s"(${dampNum.toLong}L * coalesce(c, 0L)) div ${dampDen.toLong}L"))
            .as("r"))
      round += 1
      if (round % checkpointEvery == 0 && round < iters)
        ranks = ranks.stagePin()
    }
    val out = ranks.select(col("id"), col("r").as("rank_units"))
      .stagePin()
    nodes.unpersist()
    eW.unpersist()
    e.unpersist()
    out
  }

  /** Fixed-iteration KATZ centrality in the same exact fixed-point
    * integer arithmetic as [[pageRankUnits]]: after `iters` rounds of
    * `c(v) ← β + α · Σ_{u→v} c(u)` (with `c₀ = β = unit` and
    * `α = alphaNum/alphaDen` applied as ONE integer multiply-divide per
    * node per round), `c(v)` is the truncated Katz series
    * `Σ_{k≤iters} α^k · |paths of length k ending at v|` in `unit`
    * scale — the influence measure that, unlike PageRank, does NOT
    * dilute a node's endorsement across its out-degree: an influential
    * buyer endorses every supplier fully. Integer division makes the
    * result bit-identical on any engine and partitioning, so it
    * hash-gates where floating-point Katz cannot.
    *
    * Same plan shape as [[pageRankUnits]] minus the degree join: the
    * distinct edge list persists pre-partitioned on `src` once; per
    * round only the node-sized score frame shuffles — O(E) per round,
    * no growing state, checkpoint-truncated on the [[pageRankUnits]]
    * cadence. Exactness bound: scores grow by a factor ≤
    * `α·max-indegree` per round, so keep
    * `unit · (alphaNum·d_max/alphaDen)^iters < 2⁶³` — on heavy graphs
    * lower `unit` or `α` (the ranking is α-monotone for α below the
    * spectral radius inverse, the usual Katz regime). The bound has
    * RUNTIME teeth: every round's score is guarded in-plan against the
    * d_max-aware safe ceiling (`raise_error` with the remedy), because
    * a wrapped long sum is silent on Spark but a HUGEINT cast error on
    * DuckDB — the worst kind of oracle divergence.
    *
    * @return one row per node: (`id`, `katz_units`).
    */
  def katzUnits(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, alphaNum: Long = 1L, alphaDen: Long = 100L,
      unit: Long = 1000000L, checkpointEvery: Int = 4): DataFrame =
    katzUnitsStaged(stageDirectedGraph(edges, srcCol, dstCol),
      iters, alphaNum, alphaDen, unit, checkpointEvery)

  /** [[katzUnits]] on a pre-built [[DirectedGraphStage]] (see
    * [[pageRankUnitsStaged]] for the sharing contract). */
  def katzUnitsStaged(
      st: DirectedGraphStage,
      iters: Int = 3, alphaNum: Long = 1L, alphaDen: Long = 100L,
      unit: Long = 1000000L, checkpointEvery: Int = 4): DataFrame = {
    require(iters >= 1 && alphaNum > 0 && alphaDen > alphaNum && unit > 0,
      s"katzUnits: bad parameters ($iters, $alphaNum/$alphaDen, $unit)")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val e = st.e
    val nodes = st.nodes
    // Runtime teeth for the documented 2^63 growth bound: Spark's
    // non-ANSI long sum would wrap SILENTLY in the overflow regime
    // while DuckDB's HUGEINT promotion errors on the BIGINT cast — the
    // guard turns that confusing op-vs-oracle divergence into one clear
    // in-plan failure. Guarding the neighbor-SUM is not enough (the sum
    // itself can wrap before any predicate sees it), so the invariant is
    // inductive on the per-node SCORE: if every score ≤ safeCeil =
    // (2^63−1−unit)/alphaNum/d_max, next round's sum ≤ d_max·safeCeil
    // fits a long, α·s fits, and +unit fits.
    //
    // d_max costs NO extra action (round-12 review: the old head() probe
    // added a full O(E) shuffle job and +26% on graph_katz): at round 1
    // every score is the seed `unit`, so the neighbor sum is exactly
    // unit·indeg(dst) — round 1 IS the in-degree rollup (count, which
    // cannot wrap, instead of a sum that can), and d_max rides its pin
    // as an observe metric, the [[corenessDecomposition]] seed-reclaim
    // trick. Round 1's own wrap guard needs no d_max: it raises on any
    // in-degree past 2^63/(unit·alphaNum) BEFORE forming the product.
    val dWrapCeil = Long.MaxValue / unit / alphaNum
    val seedObs = org.apache.spark.sql.Observation()
    var scores = nodes
      .join(st.eDst.groupBy("dst").agg(count(lit(1)).as("_d"))
          .withColumnRenamed("dst", "id"),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("_d"), lit(0L)).as("_d"))
      .select(col("id"), col("_d"),
        when(col("_d") > lit(dWrapCeil),
          raise_error(concat(
            lit(s"katzUnits: in-degree exceeds the 2^63-safe bound " +
              s"$dWrapCeil for unit=$unit, alpha=$alphaNum/$alphaDen — " +
              "lower unit or alpha; in-degree = "),
            col("_d").cast("string"))))
          .otherwise(lit(unit) +
            expr(s"(${alphaNum}L * (${unit}L * _d)) div ${alphaDen}L"))
          .as("c"))
      .observe(seedObs, coalesce(max(col("_d")), lit(0L)).as("dmax"))
      .select("id", "c")
      .stagePin() // materializes e + nodes into their persist caches too
    val dMax = math.max(1L, seedObs.get("dmax").asInstanceOf[Long])
    val safeCeil = (Long.MaxValue - unit) / alphaNum / dMax
    // the round-1 maximum score, exact in BigInt: the induction premise
    // for round 2 (every later round's in-plan guard assumes its INPUT
    // scores already sit under safeCeil)
    val maxScore1 = BigInt(unit) +
      (BigInt(alphaNum) * BigInt(unit) * BigInt(dMax)) / BigInt(alphaDen)
    require(maxScore1 <= safeCeil,
      s"katzUnits: round-1 score bound $maxScore1 exceeds the " +
        s"overflow-safe ceiling $safeCeil for alpha=$alphaNum/$alphaDen, " +
        s"unit=$unit, d_max=$dMax — lower unit or alpha (documented " +
        "bound: unit*(alphaNum*d_max/alphaDen)^iters < 2^63)")
    var round = 1
    while (round < iters) {
      val contrib = e
        .join(scores.withColumnRenamed("id", "src"), "src")
        .groupBy("dst")
        .agg(sum("c").as("s"))
      scores = nodes
        .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left_outer")
        .select(col("id"),
          (lit(unit) +
            expr(s"(${alphaNum}L * coalesce(s, 0L)) div ${alphaDen}L"))
            .as("_c"))
        .select(col("id"),
          when(col("_c") > lit(safeCeil),
            raise_error(concat(
              lit(s"katzUnits: score exceeds the 2^63-safe ceiling " +
                s"$safeCeil at alpha=$alphaNum/$alphaDen, unit=$unit, " +
                s"d_max=$dMax — lower unit or alpha (documented bound: " +
                "unit*(alphaNum*d_max/alphaDen)^iters < 2^63); score = "),
              col("_c").cast("string"))))
            .otherwise(col("_c"))
            .as("c"))
      round += 1
      if (round % checkpointEvery == 0 && round < iters)
        scores = scores.stagePin()
    }
    scores.select(col("id"), col("c").as("katz_units"))
      .stagePin()
  }

  /** Single-source (set) shortest paths over INTEGER edge weights by
    * frontier Bellman-Ford on the undirected view — [[bfsHops]]'
    * weighted sibling: round h relaxes only the nodes whose distance
    * improved in round h−1 (a non-improved node re-offers exactly the
    * candidates already min'd in, so skipping it is exact), and after
    * h rounds the table holds the shortest distance among paths of at
    * most h edges — the invariant that lets a hop-bounded recursive
    * SQL oracle replay a truncated run exactly.
    *
    * Parallel edges collapse to their MINIMUM weight up front (only
    * the lightest can sit on a shortest path). Weights must be
    * non-negative — checked in-plan (`raise_error` on the first
    * offending row): the ≤h-edge invariant still holds for negatives,
    * but a negative cycle would never converge and the semantics here
    * are distances. Convergence is observe-fused onto
    * each round's pin — one action per round, the
    * [[connectedComponents]] discipline; the loop stops when no node
    * improves or at `maxRounds` (which equals "shortest within
    * `maxRounds` edges", the documented truncation).
    *
    * Unreached nodes are absent from the output, the [[bfsHops]]
    * convention; seeds not in the graph report distance 0.
    *
    * @return one row per reached node: (`id`, `dist` = min total
    *         weight from any seed).
    */
  def ssspUnits(
      edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      seeds: DataFrame, seedCol: String, maxRounds: Int): DataFrame = {
    require(maxRounds >= 0, s"ssspUnits: maxRounds must be >= 0, got $maxRounds")
    val dir = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"),
      when(col(wCol).cast("long") < 0L,
        raise_error(concat(lit("ssspUnits: negative edge weight "),
          col(wCol).cast("string"))))
        .otherwise(col(wCol).cast("long")).as("w"))
    val e = dir
      .union(dir.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .groupBy("src", "dst").agg(min("w").as("w"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var dist = seeds
      .select(col(seedCol).cast("long").as("id")).distinct()
      .withColumn("d", lit(0L))
      .withColumn("_imp", lit(true))
      .stagePin()
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val obs = org.apache.spark.sql.Observation()
      val cand = dist.filter(col("_imp"))
        .join(e, dist("id") === e("src"))
        .select(col("dst").as("id"), (col("d") + col("w")).as("nd"))
        .groupBy("id").agg(min("nd").as("nd"))
      dist = dist.select(col("id"), col("d"))
        .join(cand, Seq("id"), "full_outer")
        .select(col("id"),
          least(coalesce(col("d"), col("nd")),
            coalesce(col("nd"), col("d"))).as("d"),
          (col("nd").isNotNull &&
            (col("d").isNull || col("nd") < col("d"))).as("_imp"))
        .observe(obs,
          coalesce(sum(col("_imp").cast("long")), lit(0L)).as("changed"))
        .stagePin()
      changed = obs.get("changed").asInstanceOf[Long]
      round += 1
    }
    val out = dist.select(col("id"), col("d").as("dist"))
    e.unpersist()
    out
  }

  /** PERSONALIZED PageRank in the same exact fixed-point integer
    * arithmetic as [[pageRankUnits]]: teleport mass lands ONLY on the
    * seed set (r₀ = unit·[i∈S], per-round base term = base·[i∈S]), so
    * the stationary mass answers "how relevant is each node TO this
    * cohort" instead of globally — the recommendation/expansion scorer
    * (seed a few known-good suppliers, rank the rest by PPR) that
    * global PageRank cannot express. Identical plan shape: loop-
    * invariant degree-carrying edges persisted pre-partitioned, only
    * the node-sized rank frame moves per round, integral divisions
    * truncate identically on any engine.
    *
    * Seeds absent from the graph still seed (they hold teleport mass
    * and leak nothing); a node unreachable from S converges to 0.
    *
    * @return (`id`, `rank_units`) after `iters` rounds over the node
    *         universe of `edges`.
    */
  def pprUnits(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      iters: Int = 3, dampNum: Int = 85, dampDen: Int = 100,
      unit: Long = 1000000L, checkpointEvery: Int = 4): DataFrame =
    pprUnitsStaged(stageDirectedGraph(edges, srcCol, dstCol),
      seeds, seedCol, iters, dampNum, dampDen, unit, checkpointEvery)

  /** [[pprUnits]] on a pre-built [[DirectedGraphStage]] (see
    * [[pageRankUnitsStaged]] for the sharing contract). The seeded node
    * universe (stage nodes ∪ seeds, with the `_seed` flag) is derived
    * from the stage per call — node-sized, pinned once. */
  def pprUnitsStaged(
      st: DirectedGraphStage,
      seeds: DataFrame, seedCol: String,
      iters: Int = 3, dampNum: Int = 85, dampDen: Int = 100,
      unit: Long = 1000000L, checkpointEvery: Int = 4): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampDen > dampNum && unit > 0,
      s"pprUnits: bad parameters ($iters, $dampNum/$dampDen, $unit)")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val seedIds = seeds.select(col(seedCol).cast("long").as("id"))
      .distinct()
    val nodes = st.nodes.select(col("id"))
      .union(seedIds)
      .distinct()
      .join(seedIds.withColumn("_seed", lit(true)), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("_seed"), lit(false)).as("_seed"))
      .repartition(col("id"))
      .stagePin() // read every round (3 refs) + the final select
    val eDeg = st.eDeg

    val base = unit * (dampDen - dampNum) / dampDen
    val baseTerm = when(col("_seed"), lit(base)).otherwise(lit(0L))
    var ranks = nodes.select(col("id"),
      when(col("_seed"), lit(unit)).otherwise(lit(0L)).as("r"))
    var round = 0
    while (round < iters) {
      val contrib = eDeg
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy("dst")
        .agg(sum("c").as("c"))
      ranks = nodes
        .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left_outer")
        .select(col("id"),
          (baseTerm +
            expr(s"(${dampNum.toLong}L * coalesce(c, 0L)) div ${dampDen.toLong}L"))
            .as("r"))
      round += 1
      if (round % checkpointEvery == 0 && round < iters)
        ranks = ranks.stagePin()
    }
    ranks.select(col("id"), col("r").as("rank_units"))
      .stagePin()
  }

  /** Fixed-iteration HITS (Kleinberg hubs & authorities) in EXACT
    * fixed-point integer arithmetic — [[pageRankUnits]]' sibling for
    * DIRECTED endorsement graphs where pointing and being pointed at
    * mean different things (buyers vs products, crawlers vs pages):
    * auth(i) = Σ h over in-edges, then hub(i) = Σ a over out-edges,
    * each L1-normalized per round so the MEAN score is `unit`
    * (score ← (raw · unit) div max(1, total div n)). L1 instead of the
    * textbook L2 keeps every step in integer units, which is what lets
    * an unrolled SQL oracle replay the fixpoint bit-for-bit; the
    * ranking is the same, only the scale convention differs.
    * Floating-point HITS could never hash-gate (scan-order-dependent
    * sums).
    *
    * Normalizing to mean `unit` rather than TOTAL `unit` is
    * load-bearing at scale: a total-mass convention gives each node
    * ~unit/n resolution, so past n ≈ unit every score truncates to 0
    * and the next round divides by zero — found by the 10M-node sweep,
    * not a hypothetical. The muldiv is the exact two-term decomposition
    * `(x div D)·unit + ((x mod D)·unit) div D` (≡ (x·unit) div D,
    * never forming the overflowing product): second term < D·unit ≤
    * (total/n)·unit — safe while total·unit/n < 2⁶³, i.e. mean raw
    * score < 2⁶³/unit — and first term ≤ ~n·unit·(x/total); keep
    * n·unit·skew < 2⁶³ (10¹² headroom over the mean at the default
    * unit).
    *
    * Plan = [[pageRankUnits]]: edge list persisted once, per round two
    * keyed joins + two rollups + two 1-row total broadcasts (declared);
    * only the node-sized score frames move per iteration, plus one
    * node count at setup (reads the persisted frame the rounds reuse).
    *
    * @return (`id`, `hub_units`, `auth_units`) after `iters` rounds.
    */
  def hitsUnits(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 2, unit: Long = 1000000L): DataFrame =
    hitsUnitsStaged(stageDirectedGraph(edges, srcCol, dstCol), iters, unit)

  /** [[hitsUnits]] on a pre-built [[DirectedGraphStage]] (see
    * [[pageRankUnitsStaged]] for the sharing contract). The hub→auth
    * round joins the src-partitioned edge copy and the auth→hub round
    * the dst-partitioned one, so neither round re-exchanges the edge
    * frame — only the node-sized score frames move. */
  def hitsUnitsStaged(
      st: DirectedGraphStage,
      iters: Int = 2, unit: Long = 1000000L): DataFrame = {
    require(iters >= 1 && unit > 0, s"hitsUnits: bad parameters ($iters, $unit)")
    val e = st.e
    val nodes = st.nodes
    val nN = math.max(1L, st.nNodes)
    var hub = nodes.select(col("id"), lit(unit).as("h"))
    // reassigned in round 1 before any read (iters >= 1 enforced) —
    // only h₀ seeds the recursion, the initial auth never participates
    var auth: DataFrame = hub
    var round = 0
    while (round < iters) {
      // Each raw-score frame feeds TWO consumers — its L1 total and the
      // normalization join — so it is pinned per half-round: unpinned,
      // the recomputation tree quadruples per round (each tot AND each
      // join re-derives the whole prior chain; measured 4× wall at 2
      // iterations). Pinned, every downstream read is a node-sized
      // cached scan and the plan stays linear in rounds. (A lazy-persist
      // round-batching variant was tried and REVERTED: the nested
      // broadcast-total dependency chains re-planned per materializing
      // action and the un-reclaimed block churn degraded repeat runs —
      // measured 1.9 s → 5.9-61 s on the gate. Eager half-round pins
      // are the measured floor here.)
      val aRaw = e
        .join(hub.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(sum("h").as("au"))
        .stagePin()
      val aTot = aRaw.agg(
        greatest(lit(1L), expr(s"sum(au) div ${nN}L")).as("ad"))
      auth = nodes.join(aRaw, Seq("id"), "left_outer")
        .crossJoin(broadcast(aTot)) // 1-row total (declared)
        .select(col("id"),
          expr(s"(coalesce(au, 0L) div ad) * ${unit}L + " +
            s"((coalesce(au, 0L) % ad) * ${unit}L) div ad").as("a"))
      val hRaw = st.eDst
        .join(auth.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(sum("a").as("hu"))
        .stagePin()
      val hTot = hRaw.agg(
        greatest(lit(1L), expr(s"sum(hu) div ${nN}L")).as("hd"))
      hub = nodes.join(hRaw, Seq("id"), "left_outer")
        .crossJoin(broadcast(hTot)) // 1-row total (declared)
        .select(col("id"),
          expr(s"(coalesce(hu, 0L) div hd) * ${unit}L + " +
            s"((coalesce(hu, 0L) % hd) * ${unit}L) div hd").as("h"))
      round += 1
    }
    hub.join(auth, Seq("id"))
      .select(col("id"), col("h").as("hub_units"), col("a").as("auth_units"))
      .stagePin()
  }

  /** Per-node triangle counts by degree-ordered edge orientation — the
    * classic O(m^1.5)-work enumeration (Schank & Wagner / Cohen's
    * MapReduce formulation) instead of the naive wedge join whose work is
    * Σ deg² (quadratic in the hottest hub's degree).
    *
    * Every undirected edge is oriented from its lower endpoint to its
    * higher endpoint in the total order (degree, id) — so wedges are only
    * enumerated at their LOWEST-degree apex, which bounds per-node wedge
    * work by O(√m) regardless of skew: a celebrity hub with millions of
    * neighbors generates no wedges at all unless both neighbors have even
    * higher degree. Each triangle is then found exactly once (its
    * smallest vertex is the apex) by probing the oriented edge set for
    * the closing edge — two shuffle joins total, no state beyond the
    * edge list.
    *
    * @param edges undirected edge list (direction/duplicates ignored).
    * @return (`id`, `triangles`) for every node in at least one triangle.
    */
  def triangleCounts(
      edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    // canon feeds three consumers (two degree branches + the orientation
    // join) — persist it or the caller's edge derivation runs three times.
    val canon = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val counts = triangleCountsCanon(canon)
    canon.unpersist()
    counts
  }

  /** [[triangleCounts]] on an ALREADY canonical (u < v, distinct,
    * persisted) edge frame — callers that canonicalize for their own
    * rollups ([[clusteringCoefficients]]) skip the second distinct
    * shuffle and the duplicate cache copy, and callers holding a staged
    * canonical edge table share one enumeration across consumers (the
    * [[DirectedGraphStage]] discipline). The caller owns `canon`'s
    * persistence; this releases only its own staged orientation. */
  def triangleCountsCanonical(canon: DataFrame): DataFrame =
    triangleCountsCanon(canon)

  private[ops] def triangleCountsCanon(canon: DataFrame): DataFrame = {
    val deg = canon.select(col("u").as("id"))
      .union(canon.select(col("v").as("id")))
      .groupBy("id")
      .agg(count(lit(1)).as("d"))
    // Orient low (deg, id) → high (deg, id); persist once, probed twice.
    val oriented = canon
      .join(deg.select(col("id").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("s"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("t"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val wedges = oriented.select(col("s").as("a"), col("t").as("b"))
      .join(oriented.select(col("s").as("b"), col("t").as("c")), "b")
    val triangles = wedges
      .join(oriented.select(col("s").as("a"), col("t").as("c")), Seq("a", "c"))
    // Materialize before releasing the staged frames the plan reads.
    val counts = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id")
      .agg(count(lit(1)).as("triangles"))
      .stagePin()
    oriented.unpersist()
    counts
  }

  /** The k-core of an undirected graph: the (unique) maximal subgraph in
    * which every node has degree ≥ k, by iterative peeling — each round
    * drops every node below degree k and the edges touching it, until a
    * fixpoint. The standard dense-community / graph-cleanup primitive
    * (spam rings and bot clusters survive in high cores; stragglers
    * peel away).
    *
    * Each scheduled round BATCHES TWO peels into one lazy plan before
    * the pin: the second peel reads the first's uncommitted result, so
    * one action (checkpoint + count) advances the fixpoint two steps —
    * halving the round count on peel-chain-shaped graphs, where the
    * per-round scheduler overhead, not data, is the cost (the identical
    * first-peel subtrees inside the plan collapse into one execution
    * via Spark's exchange reuse). Peeling is idempotent at the
    * fixpoint, so the possible extra half-peel in the final round is a
    * no-op; peel order never changes the (unique) k-core, which is what
    * keeps the operator oracle-able and hash-stable. Rounds are bounded
    * by the degeneracy ordering depth (now divided by two).
    *
    * @return (`id`, `degree`) for every node of the k-core, with its
    *         degree inside the core. Empty when no k-core exists.
    */
  def kCoreNodes(
      edges: DataFrame, aCol: String, bCol: String, k: Int,
      maxRounds: Int = 100): DataFrame = {
    require(k >= 1, s"kCoreNodes: k must be >= 1, got $k")
    def peel(cur: DataFrame): DataFrame = {
      val deg = cur.select(col("u").as("id"))
        .unionAll(cur.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select("id")
      cur
        .join(keep.withColumnRenamed("id", "u"), "u")
        .join(keep.withColumnRenamed("id", "v"), "v")
        .select("u", "v")
    }
    var e = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .stagePin()
    var cnt = e.count()
    var prev = -1L
    var rounds = 0
    while (cnt != prev && cnt > 0 && rounds < maxRounds) {
      prev = cnt
      e = Staging.pin(peel(peel(e)))
      cnt = e.count()
      rounds += 1
    }
    kCoreLastRounds.set(rounds)
    // cnt == prev ⟺ no node was removed across a full double peel
    // (every removed node had ≥ 1 incident edge) ⟺ fixpoint.
    e.select(col("u").as("id"))
      .unionAll(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
  }

  /** Scheduled-round count of the last [[kCoreNodes]] call on this JVM
    * (each round = two peels) — test instrumentation for the batching. */
  private[ops] val kCoreLastRounds = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Scheduled-round count of the last [[kTrussEdges]] call on this JVM
    * (one support-peel per round — see the batching A/B note there). */
  private[ops] val kTrussLastRounds = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** The k-TRUSS of an undirected graph: the maximal subgraph in which
    * every EDGE closes at least k−2 triangles within the subgraph —
    * the cohesion tier above [[kCoreNodes]] (every k-truss is inside
    * the (k−1)-core, but trusses demand mutual triangles, not just
    * degree, so loosely-attached hubs peel away). The dense-community
    * primitive for near-dup cluster QA: a truss survives only where
    * duplicates corroborate each other pairwise.
    *
    * Per round: one triangle enumeration over the current edge set with
    * the [[triangleCounts]] discipline — edges oriented low→high by
    * (current degree, id), so every wedge is generated at its
    * lowest-degree endpoint and the join is skew-proof, O(m^1.5) not
    * O(m·d_max) — then per-edge support from exploding each triangle's
    * three canonical edges, and one support filter. Deletion is
    * monotone and the fixpoint unique whatever the peel order (the
    * standard k-truss result), which is what lets a fixed-round
    * unrolled SQL oracle check an iterate-until-converged engine. Each
    * round is pinned ([[Staging.pin]]) with ONE action; rounds are
    * bounded by the support-peeling depth.
    *
    * Deliberately NOT double-peel-batched like [[kCoreNodes]]:
    * measured A/B at sf0.1 (60k-edge truss, ProfileOne steady state)
    * put two-peels-per-action at ~5.7 s vs ~2.0 s for one — a k-core
    * peel is one cheap degree rollup, so its cost really is the
    * scheduler round, but a truss peel is an O(m^1.5) wedge join, and
    * the second peel's enumeration reads the first's UNPINNED result,
    * whose wedge-join subtree exchange reuse only partially collapses.
    * Here data, not scheduling, dominates the round — batching doubles
    * the dominant term to halve the minor one.
    *
    * @return surviving canonical edges with their in-truss support:
    *         (`u`, `v`, `support`), u < v. Empty when no k-truss exists.
    */
  def kTrussEdges(
      edges: DataFrame, aCol: String, bCol: String, k: Int,
      maxRounds: Int = 50): DataFrame = {
    require(k >= 3, s"kTrussEdges: k must be >= 3, got $k")
    def supports(e: DataFrame): DataFrame = {
      val deg = e.select(col("u").as("id"))
        .unionAll(e.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
      val oriented = e
        .join(deg.select(col("id").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("id").as("v"), col("d").as("dv")), "v")
        .select(
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("u"))
            .otherwise(col("v")).as("s"),
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("v"))
            .otherwise(col("u")).as("t"))
      val tri = oriented.select(col("s").as("a"), col("t").as("b"))
        .join(oriented.select(col("s").as("b"), col("t").as("c")), "b")
        .join(oriented.select(col("s").as("a"), col("t").as("c")), Seq("a", "c"))
      tri.select(explode(array(
          struct(least(col("a"), col("b")).as("u"),
            greatest(col("a"), col("b")).as("v")),
          struct(least(col("b"), col("c")).as("u"),
            greatest(col("b"), col("c")).as("v")),
          struct(least(col("a"), col("c")).as("u"),
            greatest(col("a"), col("c")).as("v")))).as("ed"))
        .select(col("ed.u").as("u"), col("ed.v").as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("support"))
    }
    var e = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .stagePin()
    var cnt = e.count()
    var prev = -1L
    var rounds = 0
    var converged = false
    // inner join: an edge in no triangle has no support row -> dropped.
    // The support COLUMN rides through the pin: at convergence (the
    // filter removed nothing) it was measured on an edge set equal to
    // the final one, so the converged frame already carries the
    // in-truss support — no second O(m^1.5) triangle enumeration.
    def peel(cur: DataFrame): DataFrame =
      cur.select("u", "v")
        .join(supports(cur.select("u", "v"))
          .filter(col("support") >= k - 2), Seq("u", "v"))
    while (!converged && cnt > 0 && rounds < maxRounds) {
      prev = cnt
      e = Staging.pin(peel(e))
      cnt = e.count()
      converged = cnt == prev
      rounds += 1
    }
    kTrussLastRounds.set(rounds)
    if (converged && e.columns.contains("support")) e
    else // empty input or the maxRounds backstop: supports may be stale
      e.select("u", "v").join(supports(e.select("u", "v")), Seq("u", "v"))
  }

  /** Local clustering coefficient per node: 2·T(v) / (deg(v)·(deg(v)−1))
    * — how close each node's neighborhood is to a clique, the per-node
    * sibling of [[degreeAssortativity]]'s one global number and the
    * standard "is this account embedded in a ring" fraud feature.
    * Triangles come from [[triangleCounts]]'s degree-ordered
    * orientation (skew-proof wedges); degrees from one rollup; the
    * coefficient is ONE division of exact integers. Degree-1 nodes
    * report 0 (no possible wedge), never 0/0; nodes outside every
    * triangle report 0 through the left join.
    *
    * @return (`id`, `deg`, `triangles`, `clustering`).
    */
  def clusteringCoefficients(
      edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val canon = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // canon is already canonical + persisted: skip triangleCounts'
    // second least/greatest/distinct pass and duplicate cache copy
    val out =
      clusteringCoefficientsFromTri(canon, triangleCountsCanon(canon))
    canon.unpersist()
    out
  }

  /** [[clusteringCoefficients]] from an ALREADY canonical edge frame and
    * its per-node triangle counts — callers staging one triangle
    * enumeration for several consumers (triangle counts + coefficients
    * over the same corpus) pay the O(m^1.5) wedge join once. `canon`
    * must be canonical (u < v, distinct) and caller-persisted; `tri` is
    * [[triangleCountsCanonical]]'s output. */
  def clusteringCoefficientsFromTri(
      canon: DataFrame, tri: DataFrame): DataFrame = {
    val degs = canon.select(col("u").as("id"))
      .union(canon.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    degs.join(tri.withColumnRenamed("triangles", "_tri"),
        Seq("id"), "left_outer")
      .select(col("id"), col("deg"),
        coalesce(col("_tri"), lit(0L)).as("triangles"),
        when(col("deg") >= 2L,
          (lit(2L) * coalesce(col("_tri"), lit(0L))).cast("double") /
            (col("deg") * (col("deg") - 1L)).cast("double"))
          .otherwise(lit(0.0)).as("clustering"))
      .stagePin()
  }

  private[ops] val corenessLastRounds =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  /** FULL coreness decomposition — every node's core number in one
    * frame, where [[kCoreNodes]] answers membership at a single k — by
    * H-INDEX ITERATION (Lü et al., "The H-index of a network node",
    * 2016): start every node at its degree and repeatedly replace each
    * value with the h-index of its neighbors' values; the fixpoint is
    * exactly the coreness. The iteration is monotonically
    * non-increasing and order-free per round (the h-index is a pure
    * function of the neighbor value MULTISET — row_number ties between
    * equal values cannot change max(min(rank, val))), which is what
    * makes an unrolled SQL oracle replay it: extra rounds past the
    * fixpoint are no-ops, so any round count ≥ convergence matches an
    * iterate-until-converged engine ([[kCoreNodes]]' oracle pattern).
    *
    * Plan per round: one edge-sized equi-join (the adjacency persisted
    * pre-partitioned on the probe key), one per-node window over ≤deg
    * rows, one rollup, and a node-sized convergence join whose changed
    * count rides the pin's action as an observe metric — one job per
    * round, the [[connectedComponents]] discipline. Rounds are
    * data-bounded (17 at the gate corpus; degeneracy-ordering depth in
    * general), far under `maxRounds`.
    *
    * Hub-skew hardening: a node's fold holds its neighbor VALUES in
    * one row, which is degree-bounded — fine below
    * `hubDegreeThreshold`, a multi-hundred-MB row for a 10M-degree
    * power-law hub. The path is chosen ONCE, from the (already
    * materialized) degree seed: a graph with any hub runs EVERY round
    * as a (value, count) histogram fold — pre-aggregate per (node,
    * value), map-side combinable, so no executor ever holds a hub's
    * raw neighbor list, then fold values descending with
    * `h = max min(value, cum_count)`, the histogram form of the same
    * identity; row state becomes O(#distinct neighbor values), for a
    * hub bounded by the graph's distinct-coreness count (O(√E)), not
    * its degree. The choice is deliberately GLOBAL, not per-node: a
    * per-node branch consumes each round's frame twice (once per
    * branch), and under the 4-round lazy batching below that doubles
    * the re-executed tree PER ROUND — 2⁴ ≈ 16× work per batch
    * (measured: the branched form took the gate from 3.7 s to 22.5 s).
    * One extra exchange per round on hub graphs; hub-free graphs (the
    * common case) pay nothing.
    *
    * @return (`id`, `coreness`) for every node of `edges`.
    */
  def corenessDecomposition(
      edges: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 64, hubDegreeThreshold: Int = 4096): DataFrame = {
    require(maxRounds >= 1, s"corenessDecomposition: bad maxRounds $maxRounds")
    require(hubDegreeThreshold >= 1,
      s"corenessDecomposition: bad hubDegreeThreshold $hubDegreeThreshold")
    val dir = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // Adjacency partitioned by the GROUP key (id), not the probe key:
    // the seed rollup AND every round's per-node aggregate then ride
    // the persisted partitioning with ZERO edge-sized exchanges — on
    // the broadcast path below, a round's only shuffle traffic is the
    // node-sized value frame itself.
    val adjById = dir.select(col("u").as("id"), col("v").as("nbr"))
      .union(dir.select(col("v").as("id"), col("u").as("nbr")))
      .repartition(col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Seed degrees from the PERSISTED adjacency (one computation of the
    // distinct-edge subtree, materialized into the cache the rounds
    // reuse) and ride the hub/size probes on the seed's pin as observe
    // metrics — zero extra actions, zero recomputation of `dir`.
    val seedObs = org.apache.spark.sql.Observation()
    var vals = adjById.groupBy("id").agg(count(lit(1)).as("val"))
      .observe(seedObs, coalesce(max(col("val")), lit(0L)).as("maxdeg"),
        count(lit(1)).as("nnodes"))
      .stagePin()
    val hasHubs =
      seedObs.get("maxdeg").asInstanceOf[Long] > hubDegreeThreshold.toLong
    // GLOBAL probe-shape choice, decided ONCE from the measured node
    // count (the hasHubs discipline — a per-round branch would consume
    // each batch round's frame twice): when the node-value frame fits
    // the session's own broadcast budget, every round joins the
    // id-partitioned adjacency against a BROADCAST of the values and
    // the whole round runs exchange-free — the per-round edge-sized
    // groupBy("id") exchange the nbr-partitioned shape paid (measured
    // ~5.5 MB x 20 rounds = 109 MB at sf0.1) disappears. A graph whose
    // node frame exceeds the budget (the 100 TB case) repartitions the
    // adjacency to the probe key once and keeps the shuffle shape; the
    // count-derived bound (64 B/row: two longs + hashed-relation
    // overhead) is conservative against the broadcast cap.
    val nNodes = seedObs.get("nnodes").asInstanceOf[Long]
    val bcBudget =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        edges.sparkSession.conf
          .get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
      catch { case _: NumberFormatException => 10L * 1024 * 1024 }
    val bcVals = bcBudget > 0L && nNodes <= bcBudget / 64L
    val adj =
      if (bcVals) adjById
      else adjById.repartition(col("nbr"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    def probe(v: DataFrame): DataFrame = {
      val nv = v.select(col("id").as("nbr"), col("val"))
      adj.join(if (bcVals) broadcast(nv) else nv, "nbr")
    }
    // ONE exchange per round on the hub-free path (ZERO with bcVals):
    // the h-index folds inside the per-node aggregate (collect vals,
    // sort desc, h = max over positions of min(pos, val)) instead of a
    // histogram + window + rollup chain — stage-count per round, not
    // data volume, is what a fixpoint loop pays for at any cluster size
    // (4 shuffles/round measured 1.1 s, this shape ~0.4 s, the PageRank
    // round cost).
    def hRoundFold(v: DataFrame): DataFrame = probe(v)
      .groupBy("id")
      .agg(aggregate(
        reverse(array_sort(collect_list(col("val")))),
        struct(lit(0L).as("cum"), lit(0L).as("best")),
        (acc, x) => struct(
          (acc.getField("cum") + 1L).as("cum"),
          greatest(acc.getField("best"),
            least(acc.getField("cum") + 1L, x)).as("best")),
        acc => acc.getField("best")).as("val"))
    // Histogram h-index: values descending, cum = #{vals ≥ w};
    // h = max min(w, cum). Same identity, O(#distinct values) row
    // state; the (id, val) pre-rollup combines map-side, so a hub's
    // degree never lands on one executor. Still single-consumer per
    // round — the lazy batch stays linear.
    def hRoundHist(v: DataFrame): DataFrame = probe(v)
      .groupBy(col("id"), col("val").as("_w"))
      .agg(count(lit(1)).as("_c"))
      .groupBy("id")
      .agg(aggregate(
        reverse(array_sort(collect_list(
          struct(col("_w"), col("_c"))))),
        struct(lit(0L).as("cum"), lit(0L).as("best")),
        (acc, x) => struct(
          (acc.getField("cum") + x.getField("_c")).as("cum"),
          greatest(acc.getField("best"),
            least(acc.getField("cum") + x.getField("_c"),
              x.getField("_w"))).as("best")),
        acc => acc.getField("best")).as("val"))
    def hRound(v: DataFrame): DataFrame =
      if (hasHubs) hRoundHist(v) else hRoundFold(v)
    // BATCH 4 h-index rounds per pinned job: per-round scheduler
    // overhead, not data, dominates this loop (the k-truss alpha
    // lesson — measured 13.8 s warm at one pin per round, 4.5 s at
    // four; a batch-6 A/B measured 4.59 s vs 4.38 s — the overshoot
    // rounds past the 17-round fixpoint eat the saved pins).
    // Convergence is checked only at batch ENDPOINTS, which the
    // iteration's monotonicity makes sound: values never increase, so
    // endpoint equality implies no change inside the batch either.
    val batch = 4
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val obs = org.apache.spark.sql.Observation()
      val stepped = (1 to batch).foldLeft(vals)((v, _) => hRound(v))
      vals = stepped
        .join(vals.select(col("id"), col("val").as("_prev")), Seq("id"))
        .observe(obs, coalesce(
          sum((col("val") =!= col("_prev")).cast("long")),
          lit(0L)).as("changed"))
        .select("id", "val")
        .stagePin()
      changed = obs.get("changed").asInstanceOf[Long]
      round += batch
    }
    corenessLastRounds.set(round)
    adjById.unpersist()
    if (!bcVals) adj.unpersist()
    vals.select(col("id"), col("val").as("coreness"))
  }

  /** Degree assortativity (Newman's r): the Pearson correlation of
    * endpoint degrees over the directed STUBS of the undirected graph
    * (each edge counted in both directions, the standard convention).
    * r > 0: hubs attach to hubs (social shape); r < 0: hubs attach to
    * leaves (star/bipartite shape) — the one-number answer to "does
    * this co-purchase network have a rich club".
    *
    * Exactness: all six moments are integer sums on DECIMAL(38,0)
    * (stub count, Σx, Σy, Σxy, Σx², Σy²), then one fixed IEEE tree —
    * two casts, two sqrt, one division. Null when a degree-regular
    * graph zeroes the variance. Scale: one degree rollup + one
    * stub-sized join + one global rollup; nothing quadratic.
    *
    * @return one row: (`m_stubs`, `assortativity`).
    */
  def degreeAssortativity(
      edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // PIN (not just persist): the stub join reads adj three times (two
    // degree branches + the probe), and each reference replans the
    // whole upstream edge derivation — 35 plan exchanges measured with
    // a cache-only adj, 4 with the lineage truncated
    val adj = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
      .stagePin()
    val degs = adj.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    val stubs = adj
      .join(degs.select(col("id").as("u"), col("deg").as("x")), "u")
      .join(degs.select(col("id").as("v"), col("deg").as("y")), "v")
    val m = stubs.agg(
      count(lit(1)).cast(d38).as("m"),
      sum(col("x").cast(d38)).as("sx"),
      sum(col("y").cast(d38)).as("sy"),
      sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"),
      sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
      sum(col("y").cast(d38) * col("y").cast(d38)).as("syy"))
    val vx = m("m") * m("sxx") - m("sx") * m("sx")
    val vy = m("m") * m("syy") - m("sy") * m("sy")
    val out = m.select(
      m("m").cast("long").as("m_stubs"),
      when(vx > 0 && vy > 0,
        (m("m") * m("sxy") - m("sx") * m("sy")).cast("double") /
          (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
        .as("assortativity"))
    out
  }

  /** Keep one representative (the min-id member) per duplicate cluster:
    * drops every row of `df` whose id is a non-representative member of a
    * connected component of `pairs`. Rows never mentioned in `pairs`
    * survive untouched.
    *
    * The anti-join is deliberately un-hinted: at training-data scale the
    * dropped-id set is NOT small (web-crawl dup fractions run 20–50%, so
    * it can be a large fraction of the corpus) — a forced broadcast would
    * OOM exactly when dedup matters most. AQE broadcasts when the set
    * actually fits; otherwise the anti-join shuffles on the id key, which
    * is the correct 100 TB plan.
    *
    * Labels come from [[sharedComponents]], so a caller that also resolves
    * clusters (the common pairing) pays for the component loop once; pass
    * a stable `pairs` frame for the cache to hit.
    */
  def keepClusterRepresentatives(
      df: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String = "a", bCol: String = "b"): DataFrame =
    keepWithLabels(df, idCol, sharedComponents(pairs, aCol, bCol))

  /** [[keepClusterRepresentatives]] against PRECOMPUTED labels — the form
    * an incremental pipeline composes with [[incrementalComponents]]:
    * labels are maintained per ingest, and the keep-set refresh is just
    * this one un-hinted anti-join (same AQE-decides-broadcast rationale
    * as above). */
  def keepWithLabels(
      df: DataFrame, idCol: String, labels: DataFrame): DataFrame = {
    val losers = labels
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware cluster representative election: keep, per near-dup
    * cluster, the member with the HIGHEST `scoreCol` (ties break to the
    * lower id) instead of [[keepClusterRepresentatives]]'s arbitrary
    * min-id — the curation policy that keeps the best-written copy of a
    * duplicated page rather than whichever crawled first. Docs outside
    * every cluster keep themselves.
    *
    * Shape: one left join against the label table (docs without a label
    * are their own singleton cluster), a per-cluster max-score rollup,
    * a min-id rollup over the max-score members (both map-side
    * combinable — no window, and no numeric-only trick like negating
    * the id, so string/UUID ids elect correctly too), then one semi
    * join back. All keyed shuffles; no corpus-wide state. Scores must
    * be non-null (a classifier emits one per doc).
    *
    * @return the surviving rows of `df` plus their `component` label
    *         (singletons: their own id).
    */
  def electBestRepresentatives(
      df: DataFrame, idCol: String, scoreCol: String,
      labels: DataFrame): DataFrame = {
    val labeled = df
      .join(labels.select(col("id").as(idCol), col("component")),
        Seq(idCol), "left_outer")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val winners = labeled
      .join(labeled.groupBy("component").agg(max(col(scoreCol)).as("_ms")),
        Seq("component"))
      .filter(col(scoreCol) === col("_ms"))
      .groupBy("component").agg(min(col(idCol)).as(idCol))
    labeled.join(winners, Seq("component", idCol), "left_semi")
  }

  /** Newman modularity of a community assignment over an undirected
    * edge list: `Q = Σ_c [ m_c/m − (d_c/2m)² ]` — how much denser the
    * communities are than a degree-preserving random rewiring. The
    * quality audit that belongs beside cluster resolution: a dedup/
    * linkage clustering whose Q is near 0 merged by coincidence, not
    * by structure.
    *
    * `pairs` holds distinct undirected edges (a < b); `labels` the
    * (id, component) assignment. Every count is an exact integer
    * rollup; each community's term is a fixed two-division expression
    * tree and the terms fold in component order, so the oracle replays
    * Q bit-for-bit. Unassigned/singleton nodes contribute 0 and are
    * skipped by construction. Scale: two keyed rollups + a 1-row m
    * broadcast (declared) — nothing quadratic, no driver state.
    *
    * @return one row: (`m` edges, `n_communities`, `q`)
    */
  def modularity(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val m = pairs.agg(count(lit(1)).as("_m"))
    val lab = labels.select(col("id"), col("component"))
    // intra-community edges ONLY: an edge whose endpoints disagree
    // belongs to neither community's m_c (it still feeds both degrees)
    val mc = pairs
      .join(lab.select(col("id").as("a"), col("component").as("_ca")),
        Seq("a"))
      .join(lab.select(col("id").as("b"), col("component").as("_cb")),
        Seq("b"))
      .filter(col("_ca") === col("_cb"))
      .groupBy(col("_ca").as("component"))
      .agg(count(lit(1)).as("m_c"))
    val deg = pairs.select(col("a").as("id"))
      .unionAll(pairs.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("_d"))
    val dc = deg.join(lab, Seq("id"))
      .groupBy("component").agg(sum("_d").as("d_c"))
    // dc is the base: a community can have zero intra edges (all its
    // edges cross) yet still owes its -(d_c/2m)² term
    dc.join(mc, Seq("component"), "left")
      .na.fill(0L, Seq("m_c"))
      .crossJoin(broadcast(m)) // 1-row edge-count frame (declared)
      .withColumn("_t",
        col("m_c").cast("double") / col("_m").cast("double") -
          (col("d_c").cast("double") / (lit(2) * col("_m")).cast("double")) *
            (col("d_c").cast("double") / (lit(2) * col("_m")).cast("double")))
      .agg(
        max("_m").as("m"),
        count(lit(1)).as("n_communities"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col("component"), col("_t")))),
            s => s.getField("_t")),
          lit(0.0), (acc, x) => acc + x).as("q"))
  }

  /** Synchronous label-propagation communities over an undirected edge
    * list: every node starts labeled with its own id; each of `rounds`
    * SYNCHRONOUS rounds relabels every node with the most frequent label
    * among its neighbors, ties to the SMALLEST label. Unlike
    * [[connectedComponents]]' min-label (which converges to components),
    * frequency voting splits a component along its internal density —
    * the cheap community detector (Raghavan et al. 2007) for "which part
    * of this near-dup cluster is actually one template family".
    *
    * Asynchronous/randomized LPA is irreproducible by construction; the
    * synchronous fixed-round variant with a total tie order is a pure
    * function of the edge set — same labels on any engine, any
    * partitioning, which is what lets an unrolled SQL oracle replay it.
    * (Synchronous LPA can 2-cycle on bipartite regions; a FIXED round
    * count side-steps non-termination by construction, and the gate pins
    * rounds so both engines stop at the same state.)
    *
    * Per round: one join of the (staged, deduped) directed-both-ways
    * edge frame against the current label table — a shuffle bounded by
    * 2m rows — one (node, label) count rollup (map-side combinable),
    * and one per-node top-1 window whose partitions are nodes (max
    * partition = max degree, no global sort). Labels stage per round
    * with truncated lineage like every iterative tier here.
    *
    * @return one row per node: (`id`, `label`) after `rounds` rounds.
    */
  def labelPropagationCommunities(
      edges: DataFrame, aCol: String, bCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, s"labelPropagationCommunities: rounds >= 1, got $rounds")
    val und = edges.select(col(aCol).as("u"), col(bCol).as("v"))
      .unionAll(edges.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct()
      .stagePin()
    var lab = und.select(col("u").as("id")).distinct()
      .withColumn("label", col("id"))
      .stagePin()
    for (r <- 1 to rounds) {
      // top-1 as a (max count, min label) struct-min AGGREGATE, not a
      // row_number window: the hash aggregate needs no per-node sort and
      // takes map-side partials. The COUNT is negated (always numeric),
      // never the label — so string/uuid node ids order correctly
      // instead of silently null-casting under a numeric negation.
      lab = und
        .join(lab.select(col("id").as("v"), col("label")), Seq("v"))
        .groupBy(col("u"), col("label"))
        .agg(count(lit(1)).as("_c"))
        .groupBy(col("u"))
        .agg(min(struct((-col("_c")).as("_nc"), col("label"))).as("_m"))
        .select(col("u").as("id"), col("_m.label").as("label"))
      // Unlike min-label CC, each round reads `lab` ONCE — the plan
      // grows linearly, so short fixed-round runs stay one lazy job and
      // only deep runs need lineage truncation (every 4th round: the
      // restart-point cadence, not a plan-size necessity).
      if (r % 4 == 0 && r < rounds) lab = lab.stagePin()
    }
    lab
  }

  /** Hop distances from a seed set by FRONTIER BFS over the undirected
    * view of `edges`: round h joins only the newly-settled frontier
    * against the edge list, anti-joins out already-settled nodes, and
    * unions the survivors in at distance h. With uniform hop weights a
    * settled node can never improve, so the frontier discipline is
    * exact — and it is the 100 TB shape: per round the join touches
    * O(frontier x degree) rows, never the full distance table, and the
    * edge list (persisted pre-partitioned on `src`) never reshuffles.
    *
    * Each frontier is pinned (consumed by later anti-joins and the
    * next round's edge join), and the per-round anti-join touches only
    * the last two frontiers — by the BFS distance property nothing
    * older can collide — so round cost is independent of depth.
    *
    * Unreached-within-`maxHops` nodes are absent from the output (the
    * caller left-joins the node universe if it wants nulls); seeds not
    * present in the graph still report hop 0 — reachability FROM a
    * seed list legitimately includes isolated seeds.
    *
    * @return one row per reached node: (`id`, `hops` = min #edges from
    *         any seed, 0 <= hops <= maxHops).
    */
  def bfsHops(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"bfsHops: maxHops must be >= 0, got $maxHops")
    val dir = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val e = dir
      .union(dir.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var frontier = seeds
      .select(col(seedCol).cast("long").as("id")).distinct()
      .withColumn("hops", lit(0))
      .stagePin()
    val rounds = scala.collection.mutable.Buffer(frontier)
    var h = 0
    while (h < maxHops) {
      h += 1
      // BFS distance property: a neighbor of a distance-(h−1) node is
      // at distance ≥ h−2, so only the last TWO frontiers can collide
      // with the candidates — the anti-join reads O(1) pinned frames
      // per round, never the whole settled history (which would rescan
      // O(h²) frames over a deep sweep).
      val recent = rounds.takeRight(2).reduce(_ unionByName _)
      frontier = frontier
        .join(e, frontier("id") === e("src"))
        .select(col("dst").as("id"))
        .distinct()
        .join(recent.select(col("id")), Seq("id"), "left_anti")
        .withColumn("hops", lit(h))
        .stagePin()
      rounds += frontier
    }
    val out = rounds.reduce(_ unionByName _)
    e.unpersist()
    out
  }

  /** HARMONIC closeness centrality restricted to a landmark set — the
    * scale-sane closeness: exact closeness is all-pairs shortest paths
    * (quadratic state, a non-starter at corpus scale), while the
    * landmark form keeps one BFS wave per landmark and scores
    * `H(v) = Σ_{l : 0 < d(l,v) ≤ maxHops} unit div d(l,v)` — the
    * harmonic variant, so disconnected (landmark, node) pairs
    * contribute zero instead of poisoning a 1/Σd mean. Landmark count
    * is the caller's accuracy-vs-cost budget knob; per round the state
    * is ≤ |landmarks| × |frontier| rows, each round one edge join +
    * one anti-join against the last two waves (the [[bfsHops]]
    * two-frontier exactness argument, applied per landmark — BFS
    * waves from different landmarks never interact).
    *
    * Integer-division terms make the score a sum of exact longs —
    * order-free, so it hash-gates without the ordered-fold machinery
    * the floating-point form would need.
    *
    * Nodes no landmark reaches within `maxHops` are absent (the
    * [[bfsHops]] convention); the hop-0 self term is excluded, so
    * landmarks score only against the OTHER landmarks' waves.
    *
    * Memory discipline: each wave's per-node contribution (one landmark
    * hit, `unit div h` units — h is a round constant, so the term needs
    * no per-row division) FOLDS into a running node-sized score frame
    * every round; only the last two waves stay referenced (the anti-join
    * window), so peak pinned state is O(2 × |landmarks| × |frontier| +
    * |nodes|) regardless of `maxHops`, not the sum over all waves a
    * history buffer would pin.
    *
    * @return one row per reached node: (`id`, `n_landmarks` = landmarks
    *         within `maxHops`, `harmonic_units`).
    */
  def landmarkHarmonicUnits(
      edges: DataFrame, aCol: String, bCol: String,
      landmarks: DataFrame, lmCol: String, maxHops: Int,
      unit: Long = 1000000L): DataFrame = {
    require(maxHops >= 1, s"landmarkHarmonicUnits: maxHops must be >= 1, got $maxHops")
    require(unit > 0, s"landmarkHarmonicUnits: unit must be > 0, got $unit")
    val dir = edges.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    val e = dir
      .union(dir.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var frontier = landmarks
      .select(col(lmCol).cast("long").as("lm")).distinct()
      .select(col("lm"), col("lm").as("id"))
      .stagePin()
    var prev = frontier // anti-join window: last two waves only
    // Running (id, n_landmarks, harmonic_units) — hop 0 contributes
    // nothing, so the fold starts empty.
    var scores: DataFrame = null
    var h = 0
    while (h < maxHops) {
      h += 1
      val recent = prev.unionByName(frontier).select(col("lm"), col("id"))
      val wave = frontier
        .join(e, frontier("id") === e("src"))
        .select(col("lm"), col("dst").as("id"))
        .distinct()
        .join(recent, Seq("lm", "id"), "left_anti")
        .stagePin()
      val contrib = wave.groupBy("id")
        .agg(count(lit(1)).as("n_landmarks"),
          (count(lit(1)) * lit(unit / h)).as("harmonic_units"))
      scores = (if (scores == null) contrib
        else scores.unionByName(contrib).groupBy("id")
          .agg(sum(col("n_landmarks")).as("n_landmarks"),
            sum(col("harmonic_units")).as("harmonic_units")))
        .stagePin()
      prev = frontier
      frontier = wave
    }
    e.unpersist()
    scores
  }

  /** Harmonic closeness from PRE-COMPUTED σ/dist waves — the sharing
    * form of [[landmarkHarmonicUnits]], same discipline as
    * [[landmarkBrandesFromCounts]]: [[landmarkPathCounts]]' output
    * already carries each (landmark, node) pair ONCE at its minimum
    * distance (both BFS use the identical two-wave anti-join layering),
    * so the closeness rollup is a single keyed aggregation over the
    * pinned waves — no second BFS. `unit div dist` is the same
    * host-side integer division the fused op folds per hop
    * (`lit(unit / h)`), so scores are bit-identical.
    *
    * @return one row per reached node: (`id`, `n_landmarks`,
    *         `harmonic_units`) — [[landmarkHarmonicUnits]]' contract
    */
  def landmarkHarmonicFromCounts(
      pathCounts: DataFrame, unit: Long = 1000000L): DataFrame = {
    require(unit > 0, s"landmarkHarmonicFromCounts: unit must be > 0, got $unit")
    pathCounts.filter(col("dist") >= 1)
      .groupBy("id")
      .agg(count(lit(1)).as("n_landmarks"),
        sum(expr(s"${unit}L div dist")).as("harmonic_units"))
  }

  /** Shortest-path COUNTS from a landmark set — σ(l, v) = the number of
    * distinct shortest paths from landmark l to node v, with the
    * distance, per (landmark, reached node) pair. This is the exact
    * integer half of Brandes' betweenness (the dependency accumulation
    * δ needs rational σ ratios and is deliberately not computed here):
    * path counts alone already answer "how redundant is the routing to
    * v" and rank bridge edges, and they hash-gate where float δ cannot.
    *
    * Frontier BFS with an additive aggregate: every frontier node at
    * distance h−1 pushes its σ along each edge, and a node FIRST
    * reached at h sums the pushes — exactly σ(v) = Σ_{u ∈ pred(v)} σ(u)
    * (all shortest-path predecessors of a distance-h node are at h−1,
    * and the [[bfsHops]] two-frontier argument keeps the anti-join
    * window at the last two waves). Per round: one edge join, one
    * (lm, node) rollup, one anti-join — state ≤ |landmarks| × |wave|.
    *
    * σ grows multiplicatively with shortest-path DAG width (up to
    * d_max per hop), so every round is guarded in-plan against a
    * 2⁶³-safe ceiling (`maxSigma`) — the [[katzUnits]] discipline: a
    * wrapped long is silent on Spark but a HUGEINT cast error on
    * DuckDB, the worst oracle divergence.
    *
    * @return one row per reached (landmark, node) pair incl. the
    *         landmark itself: (`lm`, `id`, `dist`, `sigma`). */
  def landmarkPathCounts(
      edges: DataFrame, aCol: String, bCol: String,
      landmarks: DataFrame, lmCol: String, maxHops: Int,
      maxSigma: Long = Long.MaxValue / 4): DataFrame = {
    require(maxHops >= 0, s"landmarkPathCounts: maxHops must be >= 0, got $maxHops")
    val (e, rounds) =
      sigmaWaves(edges, aCol, bCol, landmarks, lmCol, maxHops, maxSigma)
    val out = rounds.reduce(_ unionByName _)
    e.unpersist()
    out
  }

  /** Forward Brandes pass shared by [[landmarkPathCounts]] and
    * [[landmarkBetweennessUnits]]: BFS waves carrying additive σ. Returns
    * the persisted undirected edge frame (caller unpersists when its last
    * consumer has materialized) and one pinned wave per hop, index = dist
    * (`maxHops + 1` frames; deeper frames may be empty once the frontier
    * exhausts). */
  private def sigmaWaves(
      edges: DataFrame, aCol: String, bCol: String,
      landmarks: DataFrame, lmCol: String, maxHops: Int,
      maxSigma: Long): (DataFrame, Seq[DataFrame]) = {
    val dir = edges.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    val e = dir
      .union(dir.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var frontier = landmarks
      .select(col(lmCol).cast("long").as("lm")).distinct()
      .select(col("lm"), col("lm").as("id"), lit(0).as("dist"),
        lit(1L).as("sigma"))
      .stagePinSized() // join-strategy-sensitive: see brandesBackward
    val rounds = scala.collection.mutable.Buffer(frontier)
    var h = 0
    while (h < maxHops) {
      h += 1
      val recent = rounds.takeRight(2).reduce(_ unionByName _)
        .select(col("lm"), col("id"))
      frontier = frontier
        .join(e, frontier("id") === e("src"))
        .select(col("lm"), col("dst").as("id"), col("sigma"))
        .groupBy("lm", "id")
        .agg(sum("sigma").as("_s"))
        .join(recent, Seq("lm", "id"), "left_anti")
        .select(col("lm"), col("id"), lit(h).as("dist"),
          when(col("_s") > lit(maxSigma),
            raise_error(concat(
              lit(s"landmarkPathCounts: path count exceeds the " +
                s"overflow-safe ceiling $maxSigma at hop $h — shrink " +
                "maxHops or the landmark set; sigma = "),
              col("_s").cast("string"))))
            .otherwise(col("_s")).as("sigma"))
        // actual-size stats: the backward pass joins each wave, and the
        // attach-join's broadcast decision must track the wave's REAL
        // bytes, not a cache-warmth-dependent estimate
        .stagePinSized()
      rounds += frontier
    }
    (e, rounds.toSeq)
  }

  /** Hop-bounded landmark BETWEENNESS — Brandes' dependency accumulation
    * δ over the [[landmarkPathCounts]] σ waves, in exact integer "unit"
    * arithmetic so it hash-gates (float δ folds in scan order and never
    * can). For each landmark l and node v at depth h:
    *
    *   δ(l, v) = Σ_{w : (v,w) ∈ E, dist(l,w) = h+1}
    *               (σ(l,v) · (unit + δ(l,w))) div σ(l,w)
    *
    * and the reported score is bw(v) = Σ_l δ(l, v) — the sampled-source
    * (landmark) Brandes estimator restricted to shortest paths of length
    * ≤ `maxHops`, the only betweenness shape that survives corpus scale:
    * exact betweenness is all-pairs (quadratic state), while this form is
    * one forward + one backward frontier sweep per landmark batch, all
    * landmarks advancing in the same per-round join. Landmark count and
    * hop budget are the caller's accuracy-vs-cost knobs (Brandes &
    * Pich 2007 pivot sampling; the bounded-depth variant is the
    * "k-betweenness" of Pfeffer & Carley).
    *
    * Exactness/overflow discipline (the [[katzUnits]] rules): every
    * quantity is a nonnegative long; σ(w) ≥ σ(v) for any predecessor v
    * (σ(w) sums its predecessors' σ), so each term ≤ unit + δ(w). The
    * forward pass guards σ ≤ `maxSigma` and each backward round guards
    * δ ≤ Long.MaxValue/maxSigma − unit in-plan (raise_error, not a wrap),
    * which together make the product σ·(unit+δ) provably ≤ Long.MaxValue
    * — Spark's non-ANSI long would wrap silently where DuckDB's HUGEINT
    * promotion errors, the worst oracle divergence.
    *
    * Per backward round: one edge join from the depth-h wave, one inner
    * join against the depth-(h+1) δ frame, one (lm, id) rollup, one
    * node-universe left join — state ≤ |landmarks| × |wave|, mirror image
    * of the forward pass. Sources score only against OTHER landmarks'
    * waves (Brandes excludes v = s); unreached nodes are absent.
    *
    * @return one row per (landmark, node) reach at dist ≥ 1, summed per
    *         node: (`id`, `bw_units`).
    */
  def landmarkBetweennessUnits(
      edges: DataFrame, aCol: String, bCol: String,
      landmarks: DataFrame, lmCol: String, maxHops: Int,
      unit: Long = 1000000L, maxSigma: Long = 1L << 21): DataFrame =
    brandesSweep(edges, aCol, bCol, landmarks, lmCol, maxHops,
      unit, maxSigma, withEdges = false)._1

  /** Full landmark Brandes sweep — node AND edge betweenness from ONE
    * forward + one backward pass. The per-edge dependency terms are the
    * intermediate the node δ rollup aggregates anyway (Girvan–Newman
    * edge betweenness is Brandes' same accumulation read per edge
    * instead of per predecessor node), so computing both costs one extra
    * round (the landmarks' own out-edges, which node scores never need)
    * plus a second rollup — callers wanting both must call THIS and not
    * the two wrappers, or the sweep runs twice.
    *
    * See [[landmarkBetweennessUnits]] for semantics, the integer-unit
    * discipline, and the σ/δ overflow guards.
    *
    * @return (nodeScores = (`id`, `bw_units`),
    *         edgeScores = (`u`, `v`, `eb_units`) for undirected
    *         shortest-path-DAG edges, u < v)
    */
  def landmarkBrandesUnits(
      edges: DataFrame, aCol: String, bCol: String,
      landmarks: DataFrame, lmCol: String, maxHops: Int,
      unit: Long = 1000000L,
      maxSigma: Long = 1L << 21): (DataFrame, DataFrame) = {
    val (nodes, edgesOpt) = brandesSweep(edges, aCol, bCol, landmarks,
      lmCol, maxHops, unit, maxSigma, withEdges = true)
    (nodes, edgesOpt.get)
  }

  /** The sweep behind both public forms. `withEdges = false` skips the
    * per-edge frame entirely (node δ rolls up straight off the term
    * projection and the h = 0 round never runs) — the node-only wrapper
    * must not pay an E-sized rollup + pin for output it discards (found
    * in review). Aggregated δ and the final score sums accumulate in
    * DECIMAL(38,0) and are guarded BEFORE casting back to long: a long
    * sum can wrap past 2⁶³ and land back under the ceiling, silently
    * passing the guard (also found in review). */
  private def brandesSweep(
      edges: DataFrame, aCol: String, bCol: String,
      landmarks: DataFrame, lmCol: String, maxHops: Int,
      unit: Long, maxSigma: Long,
      withEdges: Boolean): (DataFrame, Option[DataFrame]) = {
    require(maxHops >= 1, s"landmarkBrandesUnits: maxHops must be >= 1, got $maxHops")
    require(unit > 0, s"landmarkBrandesUnits: unit must be > 0, got $unit")
    require(maxSigma >= 1 && unit < Long.MaxValue / maxSigma,
      s"landmarkBrandesUnits: unit × maxSigma must stay below 2^63")
    val (e, rounds) =
      sigmaWaves(edges, aCol, bCol, landmarks, lmCol, maxHops, maxSigma)
    val out = brandesBackward(e, rounds, maxHops, unit, maxSigma, withEdges)
    e.unpersist()
    out
  }

  /** Brandes node+edge betweenness from PRE-COMPUTED σ waves — the
    * sharing form: [[landmarkPathCounts]]' output (`lm`, `id`, `dist`,
    * `sigma`, pinned) feeds the backward δ pass directly, so a suite
    * whose path-count/effective-diameter gates and betweenness gates use
    * the same (landmarks, maxHops) runs ONE forward BFS, not two. The
    * waves may come from a forward pass with a laxer σ guard than this
    * sweep's overflow proof needs, so σ is re-certified here (one agg on
    * the pinned frame, driver-side fail-fast with the remedy) together
    * with the hop-coverage contract; the undirected predecessor edge
    * frame is rebuilt — edge-sized, the cost the shared forward pass
    * already saved many times over.
    *
    * @param pathCounts [[landmarkPathCounts]] output for the SAME
    *                   (edges, landmarks) and a maxHops ≥ this one
    */
  def landmarkBrandesFromCounts(
      edges: DataFrame, aCol: String, bCol: String,
      pathCounts: DataFrame, maxHops: Int,
      unit: Long = 1000000L,
      maxSigma: Long = 1L << 21): (DataFrame, DataFrame) = {
    require(maxHops >= 1, s"landmarkBrandesFromCounts: maxHops must be >= 1, got $maxHops")
    require(unit > 0, s"landmarkBrandesFromCounts: unit must be > 0, got $unit")
    require(maxSigma >= 1 && unit < Long.MaxValue / maxSigma,
      s"landmarkBrandesFromCounts: unit × maxSigma must stay below 2^63")
    val probe = pathCounts.agg(
      max("sigma").as("s"), max("dist").as("d")).head()
    // NULL probe = empty waves (empty landmark set or graph — legal at
    // tiny scale factors): nothing to certify, the backward pass over
    // empty rounds yields the same empty outputs as the fused sweep
    if (!probe.isNullAt(0)) {
      require(probe.getLong(0) <= maxSigma,
        s"landmarkBrandesFromCounts: waves carry sigma ${probe.getLong(0)} > " +
          s"maxSigma $maxSigma — the overflow proof needs σ ≤ maxSigma; " +
          "raise maxSigma (and shrink unit to keep unit × maxSigma < 2^63)")
      require(probe.getInt(1) <= maxHops,
        s"landmarkBrandesFromCounts: waves reach dist ${probe.getInt(1)} > " +
          s"maxHops $maxHops — pass the maxHops the waves were built with")
    }
    val dir = edges.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    val e = dir
      .union(dir.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Re-pin each hop slice WITH actual-size stats: a filter over the
    // unioned waves estimates at union size (size-only stats don't cut
    // through Filter), which would deny the backward pass's attach-join
    // its broadcast of the genuinely node-sized shallow waves. Slices
    // are wave-sized — four small one-time jobs per corpus (memoized
    // with the pair's sweep).
    val rounds = (0 to maxHops).map(h =>
      Staging.pinSized(pathCounts.filter(col("dist") === h)))
    val (nodeOut, edgeOut) =
      brandesBackward(e, rounds, maxHops, unit, maxSigma, withEdges = true)
    e.unpersist()
    (nodeOut, edgeOut.get)
  }

  /** Backward δ pass shared by [[brandesSweep]] (fresh forward waves)
    * and [[landmarkBrandesFromCounts]] (pre-computed waves): `rounds` is
    * one frame per hop (index = dist), `e` the persisted undirected
    * predecessor edge frame. */
  private def brandesBackward(
      e: DataFrame, rounds: Seq[DataFrame], maxHops: Int,
      unit: Long, maxSigma: Long,
      withEdges: Boolean): (DataFrame, Option[DataFrame]) = {
    val deltaCeil = Long.MaxValue / maxSigma - unit
    // Overflow-guarded LONG sum: `try_sum` yields NULL exactly when the
    // long accumulation wrapped past 2^63 (its inputs here are non-null
    // and every group is non-empty), and an in-range sum above the δ
    // ceiling still trips the bound check — together the same protection
    // the former decimal(38,0) accumulation bought, at long-buffer cost:
    // the 128-bit decimal buffer measured ~10× slower per row on the
    // deepest hop's 27.5M-row rollup (10.9 s vs 1.1 s at sf0.1), and
    // these three rollups dominated the gate's wall time.
    def guardedSum(c: Column, what: String): Column = {
      val s = try_sum(c)
      when(s.isNull || s > lit(deltaCeil),
        raise_error(concat(
          lit(s"landmarkBrandesUnits: $what exceeds the overflow-safe " +
            s"ceiling $deltaCeil — shrink maxHops, unit, or the landmark " +
            "set; value = "),
          coalesce(s.cast("string"), lit("(wrapped past 2^63)")))))
        .otherwise(s)
    }
    // The deepest backward round probes the edge frame by its HEAD —
    // re-key the persisted predecessor frame once (E-sized, one small
    // exchange) so that round's E×landmark fan-out is BORN on its join
    // key instead of being exchanged after it explodes (see below).
    val eByDst = e.repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Deepest wave: nothing below it, δ = 0 by definition.
    var deeper = rounds.last
      .select(col("lm"), col("id"), col("sigma"), lit(0L).as("delta"))
      .stagePinSized()
    val scored = scala.collection.mutable.Buffer(deeper)
    val edgeTerms = scala.collection.mutable.Buffer.empty[DataFrame]
    val lastHop = if (withEdges) 0 else 1
    for (h <- (maxHops - 1) to lastHop by -1) {
      val wave = rounds(h)
      // Predecessor relation: (v at h) —edge→ (w at h+1). The inner join
      // against `deeper` selects exactly dist-(h+1) neighbors, so shared
      // edges to same-depth or shallower nodes contribute nothing —
      // Brandes' pred(w) = {v : dist(v) = dist(w) − 1, (v,w) ∈ E}.
      //
      // JOIN ORDER is hop-dependent (measured at sf0.1, guide §2.3/§2.4):
      // the deepest round's fan-out touches every edge incident to the
      // deepest frontier — per landmark close to |E| rows (44M at sf0.1,
      // the suite's single largest intermediate). Fanning from the wave
      // side (shallow-hop shape) then EXCHANGES those rows to meet the
      // deeper wave on (lm, _w) — a 44M-row shuffle+sort. Joining
      // e(keyed dst) ⋈ deeper FIRST instead creates the fan already
      // matched (only the node-sized deeper frame moves), leaves it
      // partitioned by _w — which co-locates all landmarks' copies of an
      // edge, so the final (u,v) edge rollup's map-side partial
      // aggregation collapses ~|landmarks|× before its exchange — and
      // attaches the SHALLOW wave second, the structurally small side
      // the planner can broadcast when it fits (at larger scale it falls
      // back to a shuffle no bigger than the old shape's). At shallower
      // hops the wave side is frontier-sized and the old fan is ~deg×
      // smaller than e⋈deeper would be, so they keep the wave-first
      // shape.
      val termsRaw = if (h == maxHops - 1) {
        eByDst
          .join(deeper.select(col("lm"), col("id").as("_w"),
            col("sigma").as("_sw"), col("delta").as("_dw")),
            eByDst("dst") === col("_w"))
          .select(col("lm"), col("src"), col("_w"), col("_sw"), col("_dw"))
          .join(wave.select(col("lm").as("_lmv"), col("id").as("_v"),
            col("sigma")),
            col("lm") === col("_lmv") && col("src") === col("_v"))
          .select(col("lm"), col("_v").as("id"), col("sigma"), col("_w"),
            expr(s"(sigma * (${unit}L + _dw)) div _sw").as("_t"))
      } else wave
        .join(e, wave("id") === e("src"))
        .select(col("lm"), wave("id").as("id"), col("sigma"),
          col("dst").as("_w"))
        .join(deeper.select(col("lm"), col("id").as("_w"),
          col("sigma").as("_sw"), col("delta").as("_dw")), Seq("lm", "_w"))
        .select(col("lm"), col("id"), col("sigma"), col("_w"),
          expr(s"(sigma * (${unit}L + _dw)) div _sw").as("_t"))
      // pin only when the edge rollup is a second consumer
      val terms = if (withEdges) termsRaw.stagePin() else termsRaw
      if (withEdges)
        edgeTerms += terms
          .select(least(col("id"), col("_w")).as("u"),
            greatest(col("id"), col("_w")).as("v"), col("_t"))
      // h = 0 exists only for its out-edge terms: the source's δ is
      // never reported (Brandes excludes v = s) and feeds no round.
      if (h >= 1) {
        val deltas = terms.groupBy("lm", "id", "sigma")
          .agg(guardedSum(col("_t"), s"dependency at hop $h").as("_d"))
        // Depth-h nodes with no deeper neighbor are leaves of the
        // shortest-path DAG: δ = 0, but they still belong in the output.
        deeper = wave.select(col("lm"), col("id"), col("sigma"))
          .join(deltas, Seq("lm", "id", "sigma"), "left_outer")
          .select(col("lm"), col("id"), col("sigma"),
            coalesce(col("_d"), lit(0L)).as("delta"))
          .stagePinSized()
        scored += deeper
      }
    }
    val nodeOut = scored.reduce(_ unionByName _)
      .groupBy("id")
      .agg(guardedSum(col("delta"), "node score").as("bw_units"))
      .stagePin()
    val edgeOut =
      if (withEdges)
        Some(edgeTerms.reduce(_ unionByName _)
          .groupBy("u", "v")
          .agg(guardedSum(col("_t"), "edge score").as("eb_units"))
          .stagePin())
      else None
    // both outputs are eagerly pinned above — the re-keyed edge frame
    // has no remaining consumer
    eByDst.unpersist()
    (nodeOut, edgeOut)
  }

  /** ONE synchronous Louvain move round — each node, simultaneously,
    * joins the candidate community (a neighbor's or its own) with the
    * highest modularity gain. The Louvain move phase's gain comparison
    * reduces to the exact integer score
    *
    *   score(v → c) = 2m·k_{v,c} − k_v·(Σtot(c) − [c = c(v)]·k_v)
    *
    * (k_{v,c} = v's edges into c, Σtot = community degree mass, the
    * [c = c(v)] term removes v itself when evaluating "stay") — the
    * c maximizing it maximizes ΔQ, so no rational ΔQ is ever formed
    * and the argmax hash-gates. Ties break to the smaller community id.
    *
    * SYNCHRONOUS is the distributed-honest variant (classic Louvain
    * sweeps nodes sequentially, an inherently serial order): all nodes
    * decide against the CURRENT labels, so a symmetric pair can swap
    * rather than merge in one round — callers iterate, as with
    * [[labelPropagationCommunities]], and feed rounds into
    * [[modularity]] to accept/stop. Per round: one degree rollup, one
    * neighbor-label join (O(E)), an un-hinted community-totals equi-join
    * (AQE broadcasts it when it fits; identity seeding makes it
    * node-sized, so it must never be force-broadcast), one argmax
    * rollup — no corpus-global state.
    *
    * Integer bound: 2m·k_{v,c} ≤ 2m·d_max — widen to DECIMAL past
    * ~10¹⁴ edge-degree product (documented, not guarded: the score is
    * a comparison, and both engines wrap identically long before any
    * realistic corpus hits it... but see the oracle note).
    *
    * @return one row per labeled node with ≥ 1 edge:
    *         (`id`, `c_old`, `c_new`, `gain_score`)
    */
  def louvainMoveRound(
      edges: DataFrame, aCol: String, bCol: String,
      labels: DataFrame, idCol: String, labelCol: String): DataFrame =
    louvainMoveRoundStaged(stageLouvainGraph(edges, aCol, bCol),
      labels, idCol, labelCol)

  /** [[louvainMoveRound]] on a pre-built [[LouvainStage]] — the sharing
    * form for callers that run several Louvain entry points over the
    * same graph (see [[DirectedGraphStage]] for the contract). */
  def louvainMoveRoundStaged(
      st: LouvainStage,
      labels: DataFrame, idCol: String, labelCol: String): DataFrame = {
    val lab = labels
      .select(col(idCol).cast("long").as("id"),
        col(labelCol).cast("long").as("c0"))
      .stagePin() // three consumers: tot, kvc, the final c0 join
    louvainMoveCore(st.und, st.deg, st.m, lab)
  }

  /** The loop-invariant Louvain frames: undirected expansion, degrees,
    * and the 1-row edge count — built once, reused every round and
    * shareable across the move-round and fixed-rounds entry points. */
  case class LouvainStage(und: DataFrame, deg: DataFrame, m: DataFrame)

  def stageLouvainGraph(
      edges: DataFrame, aCol: String, bCol: String): LouvainStage = {
    val (und, deg, m) = louvainGraph(edges, aCol, bCol)
    LouvainStage(und, deg, m)
  }

  private def louvainGraph(
      edges: DataFrame, aCol: String,
      bCol: String): (DataFrame, DataFrame, DataFrame) = {
    val e0 = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
      .stagePin() // two consumers: the m count and the direction union
    // NOT pre-partitioned on the round join key: the neighbor-label join
    // broadcasts the node-sized label frame, so und never moves anyway —
    // a repartition(v) A/B measured +12 MB shuffle for zero per-round
    // savings (the pageRankUnits eDeg discipline only pays off when the
    // edge side would otherwise be exchanged).
    val und = e0
      .unionByName(e0.select(col("v").as("u"), col("u").as("v")))
      .stagePin() // two consumers: degrees and the neighbor-label join
    // deg and m read only the pinned frames — independent
    // materializations, submitted concurrently (guide §2.6).
    val Seq(deg, m) = Staging.concurrently(Seq(
      () => und.groupBy("u").agg(count(lit(1)).as("deg")).stagePin(),
      () => e0.agg(count(lit(1)).as("m")).stagePin()))
    (und, deg, m)
  }

  /** One move phase against fixed graph frames and the CURRENT labels
    * (`lab` = (id, c0), pinned by the caller). */
  private def louvainMoveCore(
      und: DataFrame, deg: DataFrame, m: DataFrame,
      lab: DataFrame): DataFrame = {
    val tot = lab.join(deg, lab("id") === deg("u"))
      .groupBy("c0").agg(sum("deg").as("tot")) // community-domain-sized
    val kvc = und
      .join(lab.select(col("id").as("v"), col("c0").as("cN")), Seq("v"))
      .groupBy(col("u").as("id"), col("cN").as("c"))
      .agg(count(lit(1)).as("kvc"))
    // "stay" must always be a candidate, even with zero intra edges
    val own = lab.select(col("id"), col("c0").as("c"), lit(0L).as("kvc"))
    val cand = kvc.unionByName(own)
      .groupBy("id", "c").agg(max("kvc").as("kvc"))
    cand
      .join(lab, Seq("id"))
      .join(deg.select(col("u").as("id"), col("deg").as("kv")), Seq("id"))
      // NO broadcast hint on tot: it is community-domain-sized, which is
      // NODE-sized under identity seeding (the classic Louvain init) — a
      // forced broadcast of a ~1B-row frame kills the driver at 100×. The
      // [[keepClusterRepresentatives]] discipline applies: leave the
      // equi-join un-hinted and let AQE broadcast when it actually fits
      // (it always does at nation-seeded gate scale, 25 rows).
      .join(tot.select(col("c0").as("c"), col("tot")), Seq("c"))
      .crossJoin(broadcast(m)) // 1-row edge count (declared)
      .select(col("id"), col("c0"), col("c"),
        (lit(2L) * col("m") * col("kvc") -
          col("kv") * (col("tot") -
            when(col("c") === col("c0"), col("kv")).otherwise(0L)))
          .as("score"))
      .groupBy("id", "c0")
      .agg(max(struct(col("score"), (-col("c")).as("negc"))).as("_best"))
      .select(col("id"), col("c0").as("c_old"),
        (-col("_best.negc")).as("c_new"),
        col("_best.score").as("gain_score"))
  }

  /** FIXED-ROUND Louvain with parity-alternating moves — the iterated
    * form of [[louvainMoveRound]] that converges instead of oscillating:
    * in round r only nodes with (id + r) mod 2 = 0 may take their argmax
    * move, the rest hold. Alternating halves is the standard
    * distributed-Louvain anti-swap discipline (a symmetric pair can
    * never trade places in one round because only one of them is
    * eligible), and it is DETERMINISTIC — no randomized node ordering,
    * so the result hash-gates and the oracle can replay rounds verbatim.
    * Fixed rounds, like [[pageRankUnits]]: callers pick the budget and
    * read [[modularity]] to accept. Loop-invariant frames (undirected
    * edges, degrees, m) build once; per round one neighbor-label join +
    * one argmax rollup, label frame pinned per round.
    *
    * @return one row per labeled node with ≥ 1 edge: (`id`, `community`)
    */
  def louvainCommunitiesRounds(
      edges: DataFrame, aCol: String, bCol: String,
      labels: DataFrame, idCol: String, labelCol: String,
      rounds: Int): DataFrame =
    louvainCommunitiesRoundsStaged(stageLouvainGraph(edges, aCol, bCol),
      labels, idCol, labelCol, rounds)

  /** [[louvainCommunitiesRounds]] on a pre-built [[LouvainStage]]. */
  def louvainCommunitiesRoundsStaged(
      st: LouvainStage,
      labels: DataFrame, idCol: String, labelCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"louvainCommunitiesRounds: rounds must be >= 1, got $rounds")
    val (und, deg, m) = (st.und, st.deg, st.m)
    var lab = labels
      .select(col(idCol).cast("long").as("id"),
        col(labelCol).cast("long").as("c0"))
      .stagePin()
    for (r <- 1 to rounds) {
      val mv = louvainMoveCore(und, deg, m, lab)
      lab = mv.select(col("id"),
          when(pmod(col("id") + r, lit(2L)) === 0L, col("c_new"))
            .otherwise(col("c_old")).as("c0"))
        .stagePin()
    }
    lab.select(col("id"), col("c0").as("community"))
  }

  /** Rich-club coefficients φ(k) = 2·E_k / (N_k·(N_k−1)) for a fixed
    * list of degree thresholds — do the hubs preferentially trade with
    * each other (φ → 1) or avoid each other (φ → 0)? The structural
    * question behind "is influence concentrated", asked of supply
    * graphs and citation networks alike.
    *
    * Scale shape: NO per-k pass and no k-row cross join — every k is a
    * conditional-sum column over ONE edge scan (edges ride with both
    * endpoint degrees from two broadcast-eligible equi-joins) and one
    * degree scan; the k rows materialize from the 1×1 aggregate cross
    * at the end. Exact integers into one IEEE division per k.
    *
    * @return one row per threshold: (`k`, `n_nodes`, `n_edges`,
    *         `phi` — null when N_k < 2)
    */
  def richClubCoefficients(
      edges: DataFrame, aCol: String, bCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty, "richClubCoefficients: ks must be non-empty")
    // duplicate thresholds would generate duplicate _e$k/_n$k aggregate
    // column names and die at analysis time with an opaque message
    require(ks.distinct.size == ks.size,
      s"richClubCoefficients: duplicate thresholds in ks: " +
        ks.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }.mkString(", "))
    val e = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
      .stagePin() // two consumers: degrees and the threshold scan
    val deg = e.select(col("u").as("x"))
      .unionByName(e.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("deg"))
      .stagePin() // three consumers: two endpoint joins + the node scan
    val ej = e
      .join(deg.select(col("x").as("u"), col("deg").as("_da")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("deg").as("_db")), Seq("v"))
    val eAgg = ej.agg(
      ks.map(k => sum(when(col("_da") > k && col("_db") > k, 1L)
        .otherwise(0L)).as(s"_e$k")).head,
      ks.tail.map(k => sum(when(col("_da") > k && col("_db") > k, 1L)
        .otherwise(0L)).as(s"_e$k")): _*)
    val nAgg = deg.agg(
      ks.map(k => sum(when(col("deg") > k, 1L).otherwise(0L)).as(s"_n$k")).head,
      ks.tail.map(k => sum(when(col("deg") > k, 1L).otherwise(0L)).as(s"_n$k")): _*)
    val one = eAgg.crossJoin(broadcast(nAgg)) // 1×1 scalar cross (declared)
    ks.map { k =>
      one.select(lit(k).as("k"), col(s"_n$k").as("n_nodes"),
        col(s"_e$k").as("n_edges"),
        when(col(s"_n$k") >= 2L,
          (lit(2L) * col(s"_e$k")).cast("double") /
            (col(s"_n$k") * (col(s"_n$k") - 1L)).cast("double"))
          .as("phi"))
    }.reduce(_ unionByName _)
      // empty graph: the global aggregates still emit one all-null row
      // per k — drop them so the result matches a per-k rollup's (and
      // the oracle's) zero rows
      .filter(col("n_nodes").isNotNull)
  }

  /** Hill maximum-likelihood exponent of the degree tail — α = 1 +
    * n / Σ_{d ≥ dmin} c_d·ln(d/dmin), the standard power-law fit
    * (Clauset–Shalizi–Newman's continuous-MLE form applied at a fixed
    * cutoff): "is this graph scale-free, and how heavy is the hub
    * tail". The fold runs over the DEGREE HISTOGRAM — domain-sized
    * (distinct degrees ≤ d_max), never the node table — in degree
    * order with [[graft.expr.PortableLnRatio]] logs, so the double sum
    * is order-pinned and both engines replay it bit-identically.
    *
    * @return one row: (`d_min`, `n_tail`, `alpha` — null when the tail
    *         is empty or has zero log-mass, i.e. all tail degrees = dmin)
    */
  def degreePowerlawHill(
      edges: DataFrame, aCol: String, bCol: String, dMin: Long): DataFrame = {
    require(dMin >= 1, s"degreePowerlawHill: dMin must be >= 1, got $dMin")
    import graft.expr.PortableLnRatio.{ln => pln}
    val dir = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    val hist = dir.select(col("u").as("x"))
      .unionByName(dir.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= dMin)
      .groupBy("deg").agg(count(lit(1)).as("c"))
    hist
      .withColumn("_t", col("c").cast("double") * pln(col("deg"), lit(dMin)))
      .agg(sum("c").as("n_tail"),
        aggregate(
          transform(array_sort(collect_list(struct(col("deg"), col("_t")))),
            s => s.getField("_t")),
          lit(0.0), (acc, x) => acc + x).as("_lsum"))
      .select(lit(dMin).as("d_min"), col("n_tail"),
        when(col("n_tail") > 0 && col("_lsum") > 0.0,
          lit(1.0) + col("n_tail").cast("double") / col("_lsum")).as("alpha"))
  }

  /** Adamic-Adar link prediction over an undirected edge list: for every
    * NON-adjacent pair (u, v) sharing >= `minCommon` neighbors,
    * AA(u,v) = sum over common neighbors w of 1/ln(deg(w)) — common
    * neighbors weighted by how selective they are (a 3-degree mutual
    * friend says more than a 5000-degree hub).
    *
    * Wedges enumerate at their apex w (adjacency self-join on w), so the
    * work is sum(deg(w)^2) — bounded by `maxApexDegree`: hubs above the
    * cap are SKIPPED, the standard LSH-style skew guard, and the
    * cheapest one to defend: a capped hub's per-wedge term 1/ln(deg) is
    * already the least informative in the sum. Degree-1 apexes produce
    * no wedge and ln(1) = 0 never divides.
    *
    * Hash-gate discipline: the log is [[graft.expr.PortableLnRatio]]
    * (libm-free) and the per-pair sum folds its terms in apex order on
    * both engines — AA is a sum of doubles, order pinned or it never
    * hash-matches.
    *
    * @return (`u`, `v`, `n_common`, `aa_score`) for non-adjacent pairs,
    *         u < v.
    */
  def adamicAdar(
      edges: DataFrame, aCol: String, bCol: String,
      maxApexDegree: Long = 64L, minCommon: Long = 2L,
      assumeCanonical: Boolean = false): DataFrame = {
    require(maxApexDegree >= 2, s"maxApexDegree must be >= 2, got $maxApexDegree")
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    // assumeCanonical: the caller guarantees `edges` is already the
    // canonical distinct u < v frame AND persisted/staged (the
    // coPurchaseEdges shape) — skip the redundant canonicalize-distinct
    // exchange and the duplicate cache copy.
    val e =
      if (assumeCanonical) edges.select(col(aCol).as("u"), col(bCol).as("v"))
      else edges
        .select(least(col(aCol), col(bCol)).as("u"),
          greatest(col(aCol), col(bCol)).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    val adj = e.select(col("u").as("w"), col("v").as("x"))
      .union(e.select(col("v").as("w"), col("u").as("x")))
      .repartition(col("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // distinct _dw name: degs derives from adj, so a bare `w` would be
    // ambiguous against the wedge self-join's two adj aliases
    val degs = adj.groupBy("w").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2L && col("deg") <= maxApexDegree)
      .select(col("w").as("_dw"), col("deg"))
    // Prune apexes BEFORE the wedge self-join (§3.2 pre-filter the big
    // side): an above-cap hub must never fan deg² wedge rows out only
    // for a post-join filter to drop them — the filtered adjacency is
    // pinned once and self-joined, so the cap is a plan guarantee, not
    // an optimizer join-reordering hope. `deg` rides the filtered rows,
    // replacing the former third join.
    val adjF = adj.join(degs, col("w") === col("_dw"))
      .select(col("w"), col("x"), col("deg"))
      .stagePin()
    val wedges = adjF.as("a")
      .join(adjF.as("b"),
        col("a.w") === col("b.w") && col("a.x") < col("b.x"))
      .select(col("a.x").as("u"), col("b.x").as("v"), col("a.w").as("_w"),
        (lit(1.0) / graft.expr.PortableLnRatio.ln(col("a.deg"), lit(1L)))
          .as("_t"))
    // two-phase: the integer count rollup (map-side combinable) prunes
    // below-minCommon pairs BEFORE any ordered-fold buffers are built —
    // under minCommon = 3 that is ~98% of the pair mass. Phase 1 sends
    // ONLY (u, v) through its exchange; the surviving pairs are pinned
    // with ACTUAL-size stats (they are ~1% of the wedge mass) so phase 2
    // BROADCASTS them against a re-enumeration of the wedge fan — the
    // fan is born matched on adjF's pinned w-partitioning both times and
    // never crosses an exchange itself; only the ~1% surviving wedges
    // reach the fold rollup's exchange. Versus pinning the full fan and
    // re-shuffling it by (u, v) (the previous shape), this trades one
    // cheap recomputation of the self-join for ~60% of the gate's
    // shuffle bytes and the fan-sized checkpoint write (measured
    // 144 MB -> 67 MB sr, 2.6 s -> 1.6 s settled at sf0.1).
    val keep = wedges.select("u", "v")
      .groupBy("u", "v")
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
      .join(e, Seq("u", "v"), "left_anti")
      .stagePinSized()
    val out = wedges
      .join(keep, Seq("u", "v"))
      .groupBy("u", "v")
      .agg(first(col("n_common")).as("n_common"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col("_w"), col("_t")))),
            x => x.getField("_t")),
          lit(0.0), (acc, x) => acc + x).as("aa_score"))
      .stagePin()
    adj.unpersist()
    if (!assumeCanonical) e.unpersist()
    out
  }
}
