package graft.ops.ext

import graft.core.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair graph — the step that turns near-dup
  * PAIRS (LSH/winnowing candidates, [[Dedup]]) into dedup CLUSTERS: a
  * training-data pipeline keeps one canonical document per component, not
  * one survivor per pair (pairs are not transitive — A~B, B~C must
  * collapse A, B, C together even when A~C was never generated).
  *
  * Algorithm: iterative minimum-label propagation (the MapReduce-era
  * "hash-to-min" shape — Rastogi et al., "Finding Connected Components in
  * Map-Reduce in Logarithmic Rounds", ICDE 2013): every vertex starts
  * labeled with its own id; each round every vertex takes the min of its
  * label and its neighbors' labels; converged when no label changed. The
  * label a component converges to is its MINIMUM vertex id — which makes
  * the result directly usable as a canonical-document assignment and
  * exactly reproducible by any engine (no partition-order dependence).
  *
  * Scale shape per round: one `groupBy(dst).min` over the edge list (edges
  * carry two longs — partial aggregation collapses duplicate neighbors
  * map-side) and one equi join back to the label table; rounds = graph
  * diameter. Only edge ENDPOINTS participate in rounds — the typically
  * much larger singleton population joins back once at the end. LSH candidate graphs are unions of
  * band-bucket cliques, so their diameter is tiny (a clique converges in
  * one round; chains of overlapping buckets add one round per link).
  * Labels are checkpointed per round — the eager checkpoint is the ONE
  * action per round, with the convergence count fused into it as an
  * accumulator (lineage depth constant, no
  * second per-round job). For adversarially deep graphs (long paths) the
  * round count is `maxIter`-bounded; plug a large-star/small-star variant
  * in if a corpus ever produces diameter beyond it (near-dup graphs do
  * not).
  */
object Components {

  /** Edge-count bound under which the iterative engines hand the
    * ALREADY-MATERIALIZED edge set to a driver-side union-find instead of
    * running further distributed rounds — the standard "finish small
    * graphs centrally" endgame (Kiveris et al. 2014 §6 finish their
    * residual graphs the same way). 2^20 edges = 16 MB of (long, long)
    * pairs (a few tens of MB with collect boxing — comfortable on ANY
    * driver profile): a bounded driver collect in the audited class (the
    * census / centroid / vocab-top precedent), and the resulting label
    * table (≤ 2^21 endpoint rows, ~32 MB) broadcasts well under every
    * broadcast ceiling. The decision reads a COUNT OVER
    * CACHED BLOCKS (the first round materialized them anyway), so at
    * fleet scale — where near-dup graphs carry billions of edges and the
    * bound never triggers — the probe costs one cache-metadata job, never
    * a recompute of the edge lineage. */
  val DriverFinishMaxEdges: Long = 1L << 20

  /** Driver union-find with the min-id-as-root rule: every union keeps
    * the SMALLER root, so a node's final root IS its component's minimum
    * vertex id — the exact contract of the distributed rounds, order-
    * independent by construction. Returns one (id, comp) row per distinct
    * endpoint. */
  private def driverUnionFind(pairs: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val ids = scala.collection.mutable.LinkedHashSet.empty[Long]
    pairs.foreach { case (a, b) => ids += a; ids += b }
    ids.iterator.map(id => id -> find(id)).toSeq
  }

  /** (id, comp) for every vertex: `comp` = min vertex id reachable through
    * `edges`. Vertices absent from `edges` keep `comp = id`.
    *
    * @param vertices one row per vertex, column `idCol`
    * @param edges    undirected pair list, columns `srcCol`, `dstCol`
    *                 (each pair listed once, either direction; endpoints
    *                 must appear in `vertices`)
    * @param driverFinishMaxEdges edge-count bound for the driver-side
    *                 finish ([[DriverFinishMaxEdges]]); 0 forces the
    *                 distributed rounds at every size (the spec's lever)
    */
  def connectedComponents(
      vertices: DataFrame,
      edges: DataFrame,
      idCol: String = "id",
      srcCol: String = "id_a",
      dstCol: String = "id_b",
      maxIter: Int = 20,
      driverFinishMaxEdges: Long = DriverFinishMaxEdges): DataFrame = Checkpoints.scoped {
    // symmetrize once and CACHE: every propagation round scans the edge
    // list, and its lineage (for near-dup graphs: the signature kernel +
    // LSH band join) must not re-execute per round. Symmetrization is an
    // explode, NOT a self-union — a union's branches are independent scans,
    // so filling the cache would run the edge lineage once per branch;
    // the explode runs it once total.
    // Cached PRE-PARTITIONED on src: InMemoryRelation preserves its
    // outputPartitioning, so when the label table is too big to broadcast
    // the per-round sort-merge join re-shuffles only the (small) label
    // side, never the 2|E| edge rows. (At label sizes AQE can broadcast,
    // the join is map-side over the cache either way.)
    val sym = Checkpoints.persist(edges
      .select(explode(array(
        struct(col(srcCol).as("src"), col(dstCol).as("dst")),
        struct(col(dstCol).as("src"), col(srcCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src")))

    // propagate over edge ENDPOINTS only: in a dedup corpus most vertices
    // are singletons with no edges — they can never change label, so they
    // stay out of every round and re-join once at the end. The per-round
    // label table is |V_edges|, not |V|. Round 1 is FUSED into the
    // initialization: one `groupBy(dst).min(src)` yields both the endpoint
    // set (sym holds both directions, so `dst` covers every endpoint) and
    // each endpoint's after-one-round label — no separate distinct pass.
    // Every round below is localCheckpoint(true)-truncated, NOT merely
    // persisted: round k's plan references round k-1's plan TWICE (once
    // directly, once through nbrMin), so an un-truncated loop doubles the
    // logical plan per round — caching short-circuits execution but
    // analysis, cache lookup, and plan rendering still walk the full tree,
    // which turns round ~6 into tens of seconds of pure driver-side plan
    // work (measured 37 s on a 149-edge graph; 0.3 s truncated). Same
    // treatment the star variant's Scaladoc prescribes. The checkpoint
    // materializes the (endpoint-sized) label table once per round — the
    // convergence count was already doing exactly that materialization.
    val spark = vertices.sparkSession

    // DRIVER FINISH (round-17, the q83/q58 fixed-floor audit): the count
    // below is the action that fills the sym cache — work the first round
    // was going to pay anyway, just moved ahead of it. Under the bound,
    // EVERY distributed round (~0.4 s of pure local job overhead each,
    // measured — the data cost per round is trivial at that size) is
    // replaced by an in-memory union-find over the just-cached pairs; the
    // label table returns as a broadcast local relation. Above the bound
    // (every fleet-scale graph) nothing changes but this one count's
    // trivial reduce. Output is BIT-IDENTICAL: the min-root union rule
    // computes the same min-label components the rounds converge to
    // (spec-held both-paths parity), in the same column types (labels
    // cast back to the edge dtype).
    if (driverFinishMaxEdges > 0 && sym.count() <= 2 * driverFinishMaxEdges) {
      val idType = sym.schema("src").dataType
      val pairs = sym.where(col("src") < col("dst"))
        .select(col("src").cast("long"), col("dst").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      import spark.implicits._
      val labelsLocal = driverUnionFind(pairs).toDF("id", "comp")
        .select(col("id").cast(idType).as("id"), col("comp").cast(idType).as("comp"))
      return vertices.select(col(idCol).as("id"))
        .join(broadcast(labelsLocal), Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    }

    var roundCkpt = Checkpoints.checkpoint(
      sym.groupBy(col("dst")).agg(min(col("src")).as("m"))
        .select(col("dst").as("id"), least(col("m"), col("dst")).as("comp")))
    var labels = roundCkpt
    var changed = 1L
    var iter = 1 // the fused init above IS round 1
    while (changed > 0 && iter < maxIter) {
      // min neighbor label per vertex (partial agg collapses fan-in map-side)
      val nbrMin = sym.join(labels, sym("src") === labels("id"))
        .groupBy(col("dst")).agg(min(col("comp")).as("nbr_comp"))
      // the convergence probe is FUSED into the checkpoint's materializing
      // job (round-17, the q83 fixed-floor audit): an accumulator ticks on
      // each improved label while the eager checkpoint computes its rows —
      // one job per round, where a separate `.where(...).count()` cost a
      // second full job against the fresh blocks every round. The ticking
      // filter is always-true and marked nondeterministic so Catalyst can
      // neither prune it nor push it around the join. Accumulator caveat
      // (task retry/speculation may double-count transformation updates)
      // is SAFE here: over-count only ever claims MORE change than real —
      // a spurious extra round that then observes 0 — and a genuinely
      // converged round ticks nothing regardless of retries, so the loop
      // still exits exactly when a full pass applied no update.
      val changedAcc = spark.sparkContext.longAccumulator("graft.cc.changed")
      val tick = udf((improved: Boolean) => {
        if (improved) changedAcc.add(1L)
        true
      }).asNondeterministic()
      val next = Checkpoints.checkpoint(
        labels.join(nbrMin, labels("id") === nbrMin("dst"), "left")
          .select(labels("id"), labels("comp"), col("nbr_comp"))
          .where(tick(coalesce(col("nbr_comp") < col("comp"), lit(false)))))
      changed = changedAcc.sum
      // round k is materialized and lineage-truncated: free round k-1 now
      // (a high-round-count graph would otherwise stack one endpoint-sized
      // block set per round until the scope ends)
      Checkpoints.free(roundCkpt)
      roundCkpt = next
      labels = next.select(col("id"),
        least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
      iter += 1
    }
    if (changed > 0)
      // `changed` counts the updates the FINAL round then applied, so the
      // result may in fact be converged (a diameter-of-exactly-maxIter
      // graph finishes on that round) — but it was not verified
      System.err.println(s"[components] WARNING: convergence not verified after " +
        s"$maxIter rounds ($changed labels changed in the last round) — results may " +
        "be under-merged; raise maxIter for graphs with diameter beyond it")
    // singletons re-enter with their own id as component
    vertices.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Large-star step (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC 2014): every vertex connects its strictly-LARGER
    * neighbors to the minimum of its closed neighborhood. Input and output
    * edges are canonically oriented larger→smaller (`u` > `v`); the
    * emitted target `m = min(N(u) ∪ u)` is below every emitted source, so
    * orientation is preserved without a re-sort. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e
      .select(explode(array(
        struct(col("u").as("a"), col("v").as("b")),
        struct(col("v").as("a"), col("u").as("b")))).as("x"))
      .select(col("x.a").as("a"), col("x.b").as("b"))
    val mins = sym.groupBy(col("a")).agg(min(col("b")).as("mn"))
      .select(col("a"), least(col("a"), col("mn")).as("m"))
    sym.where(col("b") > col("a"))
      .join(mins, "a")
      .select(col("b").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star step: every vertex connects its smaller-or-equal
    * neighborhood (which, under the canonical orientation, is exactly its
    * outgoing edge targets) plus itself to that set's minimum. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
    e.join(mins, "u")
      .select(col("v").as("s"), col("m").as("t"))
      .where(col("s") =!= col("t"))
      .union(mins.select(col("u").as("s"), col("m").as("t")))
      .distinct()
      .select(col("s").as("u"), col("t").as("v"))
  }

  /** (id, comp) via alternating large-star/small-star rounds — the
    * DIAMETER-INDEPENDENT alternative to [[connectedComponents]]'s
    * min-label propagation. Hash-to-min pays one round per unit of graph
    * diameter; star contraction converges in O(log² n) rounds regardless
    * of diameter (Kiveris et al. 2014, Thm 2), which is the scale path for
    * adversarial graphs — long chains of overlapping LSH buckets, link
    * graphs — where diameter is not a small constant. Identical output
    * contract: `comp` = minimum reachable vertex id (the fixpoint of
    * alternation is a star per component rooted at its min).
    *
    * Scale shape per round: two `groupBy(min)` + join passes over the edge
    * list (both partial-aggregate map-side; edge rows carry two longs) and
    * one distinct. Edges never grow beyond the symmetrized input (both
    * steps emit ≤ one edge per input edge), and every round strictly
    * shrinks star-internal structure. Convergence is a set-equality check:
    * an accumulator row count FUSED into each round's materializing
    * checkpoint job (one job per steady-state round — the separate
    * `.count()` cost a second full job every round) gates a pair of
    * limit-1 anti-join probes (both directions — accumulator counts can
    * over-tick under task retry, so equality is certified by the probes
    * alone, never by the counts; the count gate only decides when probing
    * is worth a job, and a spuriously-failed gate just defers the probe
    * one round). Each round is `localCheckpoint`ed, not merely persisted: the
    * two star steps reference their input several times each, so a plan
    * built on the previous round's PLAN (even a cached one) multiplies
    * node count ~10× per round — exponential in rounds when rendered (the
    * SQL listener renders every action's plan) and unbounded recovery
    * lineage. Checkpointing truncates each round to a materialized leaf:
    * plan size and recovery cost stay constant per round.
    */
  def connectedComponentsStar(
      vertices: DataFrame,
      edges: DataFrame,
      idCol: String = "id",
      srcCol: String = "id_a",
      dstCol: String = "id_b",
      maxIter: Int = 25,
      driverFinishMaxEdges: Long = DriverFinishMaxEdges): DataFrame = Checkpoints.scoped {
    // eager localCheckpoint per round (see Scaladoc): materializes to
    // block storage AND truncates the plan to a leaf.
    val spark = vertices.sparkSession
    // init count FUSED into the checkpoint's materializing job (round 20 —
    // the loop's own accumulator pattern applied to round 0): a separate
    // e.count() was one whole job over the fresh blocks. Over-tick under
    // task retry is safe here exactly as in the loop: it can only
    // overstate the count, which at worst skips the driver finish for a
    // graph that was eligible (slower, never wrong) — and an empty edge
    // set ticks nothing regardless of retries.
    val initAcc = spark.sparkContext.longAccumulator("graft.cc.star.init")
    val initTick = udf((u: Long) => { initAcc.add(1L); true }).asNondeterministic()
    var e = Checkpoints.checkpoint(edges
      .select(greatest(col(srcCol), col(dstCol)).as("u"),
        least(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .where(initTick(col("u"))))
    var count = initAcc.sum

    // DRIVER FINISH — same contract and rationale as the hash-to-min
    // variant's (see [[connectedComponents]]): the init checkpoint above
    // already materialized and counted the canonical edge set, so the
    // bound check is free here; under it, every star round is replaced
    // by the union-find over the checkpoint's blocks.
    if (driverFinishMaxEdges > 0 && count > 0 && count <= driverFinishMaxEdges) {
      val idType = e.schema("u").dataType
      val pairs = e.select(col("u").cast("long"), col("v").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      import spark.implicits._
      val labelsLocal = driverUnionFind(pairs).toDF("id", "comp")
        .select(col("id").cast(idType).as("id"), col("comp").cast(idType).as("comp"))
      return vertices.select(col(idCol).as("id"))
        .join(broadcast(labelsLocal), Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    }

    var converged = count == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      // row count fused into the checkpoint's materializing job (see the
      // Scaladoc): one job per steady-state round instead of two
      val rowsAcc = spark.sparkContext.longAccumulator("graft.cc.star.rows")
      val tick = udf((u: Long) => { rowsAcc.add(1L); true }).asNondeterministic()
      val next = Checkpoints.checkpoint(smallStar(largeStar(e)).where(tick(col("u"))))
      val nextCount = rowsAcc.sum
      // equal-count rounds are CANDIDATE fixpoints; certify with limit-1
      // anti probes in BOTH directions (set equality — sound even if the
      // accumulator over-ticked under a task retry, see the Scaladoc)
      converged = nextCount == count &&
        next.join(e, Seq("u", "v"), "left_anti").limit(1).count() == 0L &&
        e.join(next, Seq("u", "v"), "left_anti").limit(1).count() == 0L
      // the probes above were round k-1's last readers
      Checkpoints.free(e)
      e = next
      count = nextCount
      iter += 1
    }
    if (!converged)
      System.err.println(s"[components] WARNING: star contraction not verified " +
        s"converged after $maxIter rounds — results may be under-merged")
    // at the fixpoint every non-root vertex holds exactly one edge to its
    // component min; min(v) per u also covers the (warned) non-converged
    // case deterministically
    val labels = Checkpoints.checkpoint(e.groupBy(col("u")).agg(min(col("v")).as("comp"))
      .select(col("u").as("id"), col("comp")))
    vertices.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Canonical-document assignment from near-dup pairs: every document
    * mapped to the minimum doc id of its near-dup component (documents
    * with no near-dup map to themselves). The cluster-collapse step of a
    * dedup pipeline: keep `WHERE id = comp`, drop the rest.
    *
    * `algorithm`: `"hashToMin"` (default — rounds = diameter, fewer jobs
    * per round, right for shallow near-dup graphs) or `"star"`
    * (diameter-independent O(log² n) rounds, right for deep graphs). */
  def dedupClusters(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      algorithm: String = "hashToMin"): DataFrame = {
    val cc = algorithm match {
      case "hashToMin" => connectedComponents(docs.select(col(idCol)), pairs, idCol)
      case "star" => connectedComponentsStar(docs.select(col(idCol)), pairs, idCol)
      case other => throw new IllegalArgumentException(
        s"dedupClusters: unknown algorithm '$other' (expected hashToMin or star)")
    }
    cc.select(col("id").as(idCol), col("comp").as("canonical_id"))
  }

  /** Fixed-iteration integer PageRank over a directed edge list — the
    * link-centrality signal of web-corpus curation (domain authority for
    * crawl prioritization and quality priors; near-dup-graph centrality
    * for representative election). Fixed-point BIGINT throughout: ranks
    * start at 1e6 micro-units per node and each round applies
    * `r'(v) = (1e6 − d) + (d · Σ_{u→v} (r(u) div outdeg(u))) div 1e6`
    * with `d` = `dampingPpm` (default 850000 = the canonical 0.85).
    * Every division has non-negative operands, so Spark `div` and DuckDB
    * `//` agree bit-for-bit — an unrolled-CTE oracle can replay the
    * exact same iterations. Floor truncation loses < 1 micro-unit per
    * edge per round. Dangling nodes (no out-edges) follow one of TWO
    * documented contracts: the default (`danglingRedistribute = false`)
    * ABSORBS their rank — the simplified formulation q165's oracle
    * replays; `danglingRedistribute = true` is canonical MASS-CONSERVING
    * PageRank — each round the dangling total `D = Σ_{outdeg(v)=0} r(v)`
    * (one scalar aggregate, a bounded driver collect) is split evenly
    * (`D div |V|`, floor) into every node's incoming sum before the
    * damping fold, so total mass stays ≈ |V|·1e6 within floor error —
    * the contract consumers comparing ranks ACROSS graphs expect.
    *
    * Iteration count is a PARAMETER, not a convergence test: rank
    * consumers (crawl schedulers, quality priors) want a deterministic
    * cost and a deterministic answer; 3-10 rounds is the standard
    * operating range for ordering-quality signals.
    *
    * Scale shape: edges are deduped, pre-joined with out-degrees, hash-
    * partitioned on `src` and CACHED once — each round re-shuffles only
    * the |V|-sized rank table to meet them, never the edge list. The
    * per-round contribution fold is a partial-aggregated `groupBy(dst)`
    * (map-side combine collapses fan-in). Rounds are `localCheckpoint`-
    * truncated ([[connectedComponents]]' lineage discipline). Vertex
    * set = every edge endpoint.
    *
    * Output: (`id`, `rank_micro`), BIGINT. Self-loops are dropped;
    * endpoints must be non-null integers. */
  def pageRank(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iterations: Int = 3,
      dampingPpm: Long = 850000L,
      danglingRedistribute: Boolean = false): DataFrame = Checkpoints.scoped {
    require(iterations >= 1, "pageRank: need at least one iteration")
    require(dampingPpm >= 0 && dampingPpm <= 1000000L,
      s"pageRank: dampingPpm must be in [0, 1e6], got $dampingPpm")
    val M = 1000000L
    // three consumers read the deduped edge list (degree census, the
    // deg-join's probe side, the vertex set) — checkpoint it or each
    // re-runs the distinct shuffle from the scan
    val e = Checkpoints.checkpoint(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct())
    // out-degrees ride the edge cache: the per-round join then touches
    // only (src, dst, deg) — the rank division needs no second join
    val withDeg = Checkpoints.persist(e
      .join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
      .repartition(col("src")))
    val nodes = Checkpoints.checkpoint(
      e.select(explode(array(col("src"), col("dst"))).as("id")).distinct())
    // the dangling set is edge-determined, so it is computed ONCE (an
    // anti join against the distinct sources), as is |V| — only the
    // per-round dangling TOTAL depends on ranks
    val srcs = e.select(col("src")).distinct()
    val danglingIds =
      if (danglingRedistribute)
        Checkpoints.checkpoint(nodes.join(srcs, nodes("id") === srcs("src"), "left_anti"))
      else null
    val nodeCount = if (danglingRedistribute) nodes.count() else 0L
    // round-0 ranks are a pure projection over the `nodes` checkpoint — a
    // separate eager checkpoint would materialize the same rows a second
    // time for one whole job of overhead (round 20)
    var ranks = nodes.select(col("id"), lit(M).as("r"))
    for (_ <- 1 to iterations) {
      // per-round dangling mass: a one-row aggregate over the |V|-sized
      // rank table — the only driver-side value in the loop, bounded
      val share =
        if (danglingRedistribute && nodeCount > 0L)
          ranks.join(danglingIds, Seq("id"), "left_semi")
            .agg(coalesce(sum(col("r")), lit(0L)))
            .collect()(0).getLong(0) / nodeCount
        else 0L
      val contrib = withDeg.join(ranks, withDeg("src") === ranks("id"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val next = Checkpoints.checkpoint(
        nodes.join(contrib, nodes("id") === contrib("dst"), "left")
          .select(nodes("id"),
            (lit(M - dampingPpm) +
              expr(s"($dampingPpm * (coalesce(s, CAST(0 AS BIGINT)) + $share)) div $M"))
              .as("r")))
      Checkpoints.free(ranks) // round 0 is a projection over `nodes`: kept
      ranks = next
    }
    ranks.select(col("id"), col("r").as("rank_micro"))
  }

  /** Quality-aware cluster representatives: per dup cluster, keep the
    * HIGHEST-QUALITY member instead of [[dedupClusters]]' arbitrary
    * min-id canonical — the semantics a curation pass actually wants
    * (boilerplate families keep their longest/cleanest copy, not
    * whichever crawled first). Ties on score break to the smaller id, so
    * the choice is deterministic on any engine.
    *
    * @param clusters (idCol, canonical_id) — [[dedupClusters]] output
    * @param quality  (idCol, score) — any integer quality metric; must
    *                 cover every clustered id (inner join: an unscored
    *                 doc drops out of its cluster AND the output) and be
    *                 non-null (engines disagree on NULL sort placement)
    * @return per input row: idCol, canonical_id, `rep_id` (the cluster's
    *         elected representative) and `kept` (1 for the representative)
    *
    * Scale shape: one equi-join on the doc id (both sides row-per-doc)
    * and ONE shuffle on canonical_id; the per-cluster argmax is a
    * `first()` over the sorted window — WindowGroupLimit-friendly, no
    * cluster materializes in memory. */
  def representatives(
      clusters: DataFrame,
      quality: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("canonical_id"))
      .orderBy(col("score").desc, col(idCol))
    clusters.join(quality, Seq(idCol))
      .withColumn("rep_id", first(col(idCol)).over(w))
      .select(col(idCol), col("canonical_id"), col("rep_id"),
        (col(idCol) === col("rep_id")).cast("long").as("kept"))
  }

  /** Soft dedup — keep every copy but down-weight it by its duplicate
    * multiplicity: per document, the size of its dup cluster and the
    * training-loss weight `10000 div size` in basis points (integer,
    * engine-exact; a 4-copy cluster trains each copy at quarter weight,
    * summing to ~one document's worth). The alternative to hard removal
    * when duplicates carry signal (popular quotes, licenses) but must not
    * be over-trained on.
    *
    * Scale shape: one partial-aggregated count per canonical (combiners
    * collapse even a 100M-copy boilerplate cluster to one row per task)
    * joined back on canonical_id — never a `Window.partitionBy(canonical)`
    * count, which would buffer exactly the mega-clusters the weights
    * exist to tame.
    *
    * Output: per input row — idCol, canonical_id, `cluster_size`,
    * `weight_bp`, both BIGINT. */
  def clusterWeights(clusters: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val sizes = clusters.groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
    clusters.join(sizes, Seq("canonical_id"))
      .select(col(idCol), col("canonical_id"), col("cluster_size"),
        expr("10000 div cluster_size").as("weight_bp"))
  }
}
