package graft.ops.ext

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Two paths:
  *  - [[cosineTopK]] — brute-force exact cosine top-k: the correctness
  *    baseline. Query set × corpus, all math in native higher-order
  *    functions (`zip_with` + `aggregate`) inside codegen; the final top-k
  *    is the same `row_number` window shape as [[graft.ops.TopK]].
  *  - [[srpBucketedTopK]] — signed-random-projection LSH: each vector gets
  *    a deterministic bit signature; only vectors sharing a bucket are
  *    compared. This is the 100 TB scale path: the cross product never
  *    materializes, the join key is a short int, and bucket sizes are
  *    tunable via the number of planes.
  *
  * Scale design: with Q queries and N corpus vectors, brute force shuffles
  * Q×N rows — fine for Q ≲ 10³ (broadcast the queries, stream the corpus),
  * impossible beyond. SRP buckets cut the candidate set by ~2^planes while
  * keeping recall high for near-duplicate detection; recall/cost trades off
  * by ORing multiple signature tables (repeat with different seeds).
  */
object Similarity {

  /** Element-wise dot product of two numeric-array columns, accumulated
    * in double, sequential order — deterministic and engine-portable.
    * Codegen kernel ([[graft.functions.DotProductExpr]]): bit-identical
    * to the interpreted
    * `aggregate(zip_with(a, b, (x, y) => x.double * y.double), 0.0, _+_)`
    * fold it replaced (per-element double widening, left-to-right sum;
    * equivalence property-tested in ExprSpec), without the per-pair
    * zipped-array allocation and per-element boxing — this sits in the
    * per-CANDIDATE-PAIR loop of every similarity query. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProductExpr.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** [[cosine]] with the zero-norm guard used by every ranking path: a
    * zero-norm vector zeroes the divisor, which under Spark 4 ANSI mode
    * THROWS DIVIDE_BY_ZERO (and with ANSI off yields NaN, which Spark
    * orders ABOVE every real double — it would rank FIRST in a descending
    * top-k and pass any `>= threshold` filter). `try_divide` returns NULL
    * instead — the same thing DuckDB's divide-by-zero produces — and the
    * coalesce pins it to -1 so such rows rank below every real cosine on
    * both engines. */
  def cosineSafe(a: Column, b: Column): Column =
    coalesce(try_divide(dot(a, b), norm(a) * norm(b)), lit(-1.0))

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param queries  (id, vec) — small; broadcast
    * @param corpus   (id, vec) — arbitrarily large, streamed map-side
    */
  def cosineTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idOut: String = "q_id", nIdOut: String = "n_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("id").as(idOut), col("vec").as("q_vec"))
    val c = corpus.select(col("id").as(nIdOut), col("vec").as("n_vec"))
    val w = Window.partitionBy(col(idOut)).orderBy(col("cos").desc, col(nIdOut))
    broadcast(q).join(c, col(idOut) =!= col(nIdOut))
      .withColumn("cos", cosineSafe(col("q_vec"), col("n_vec")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col(idOut), col(nIdOut), col("rnk"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * ±1 derived from md5 — no RNG state, identical on every engine. */
  private def planeSign(plane: Int, dim: Column): Column =
    when(conv(substring(md5(concat(lit(s"p$plane:"), dim.cast("string"))), 1, 4), 16, 10)
      .cast("long") % 2 === 0, 1.0).otherwise(-1.0)

  /** Signed-random-projection bucket id from `planes` hyperplanes: bit i =
    * sign of <v, plane_i>. Codegen kernel
    * ([[graft.functions.SrpBucketExpr]]): the interpreted tree evaluated
    * `planes` zip_with+aggregate folds per row, each re-deriving its ±1
    * signs through an md5 expression per (plane, dim); the kernel caches
    * the signs process-wide and folds a primitive loop — bit-identical
    * (spec-held in SimilarityKernelSpec against
    * [[srpBucketInterpreted]], including NaN / -0.0 / empty / null-vec
    * / null-element behavior). */
  def srpBucket(vec: Column, planes: Int): Column =
    graft.functions.SrpBucketExpr.srp_bucket(vec, planes)

  /** The interpreted higher-order twin of [[srpBucket]]'s kernel — the
    * shape the operator shipped with (and the one every DuckDB oracle
    * replays term for term); kept as the spec-held equivalence
    * reference. */
  private[graft] def srpBucketInterpreted(vec: Column, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast("double") * planeSign(p, i)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Embedding-cosine near-duplicate pairs: SRP bucket prefilter (only
    * bucket-sharing vectors are compared) + exact cosine threshold. The
    * scalable dedup shape: candidate generation is a short-key join, the
    * expensive cosine runs only on candidates. */
  def embeddingNearDupPairs(vectors: DataFrame, planes: Int, threshold: Double): DataFrame = {
    val sig = vectors.select(col("id"), col("vec"), srpBucket(col("vec"), planes).as("bucket"))
    val l = sig.select(col("bucket"), col("id").as("id_a"), col("vec").as("vec_a"))
    val r = sig.select(col("bucket"), col("id").as("id_b"), col("vec").as("vec_b"))
    l.join(r, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .where(cosineSafe(col("vec_a"), col("vec_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Per-row centroid similarities against a centroid array LITERAL:
    * `array<struct<sim, cid>>` in centroid (cid) order. `vecCol`/`vnormCol`
    * must be plain column references (computed once per row via
    * `withColumn`) — inlining the norm expression here would re-evaluate
    * it per centroid. */
  private def centroidSims(vecCol: Column, vnormCol: Column, centArr: Column): Column =
    transform(centArr, c => struct(
      // A zero-norm row or centroid zeroes the divisor — ANSI Divide would
      // throw DIVIDE_BY_ZERO; try_divide yields NULL (as DuckDB does) and
      // the coalesce pins it to -1 so such rows rank below every real
      // cosine. The guard wraps the result — the dot fold itself stays
      // single-evaluation, outside any CaseWhen branch.
      coalesce(try_divide(dot(vecCol, c.getField("cvec")), vnormCol * c.getField("cnorm")), lit(-1.0)).as("sim"),
      c.getField("cid").as("cid")))

  /** Full centroid ranking for the probe path: K-element in-row sort,
    * descending similarity, ties to the smaller cid — the `row_number`
    * order of a window formulation, without the window's Exchange. */
  private def rankedCentroids(simsCol: Column): Column =
    array_sort(simsCol, (l, r) =>
      when(l.getField("sim") > r.getField("sim"), lit(-1))
        .when(l.getField("sim") < r.getField("sim"), lit(1))
        .when(l.getField("cid") < r.getField("cid"), lit(-1))
        .when(l.getField("cid") > r.getField("cid"), lit(1))
        .otherwise(lit(0)))

  /** Argmax for the assignment path: a single linear fold (the hot
    * per-corpus-row loop needs only the best centroid — a full K log K
    * sort would be wasted work at production centroid counts). Seeded with
    * the first element and strict `>`, so ties keep the smaller cid —
    * identical to `rankedCentroids(...)[0]`. `simsCol` must be a plain
    * column reference: it is used twice (seed + fold input), and a column
    * reference keeps the interpreted transform evaluated once per row. */
  private def bestCentroid(simsCol: Column): Column =
    aggregate(simsCol, element_at(simsCol, 1),
      (acc, c) => when(c.getField("sim") > acc.getField("sim"), c).otherwise(acc))

  /** First-`numCentroids` corpus rows as the deterministic coarse-quantizer
    * seed — the K-row driver-side collect every IVF path shares (the same
    * bound as loading any trained quantizer model). Element-type agnostic:
    * float or double corpora both widen to double here, which is
    * bit-identical to what [[dot]]'s `cast("double")` does to a float
    * column — so the embedded literal produces the same sims as joining
    * the original rows would. */
  private def collectSeedCentroids(
      corpus: DataFrame, numCentroids: Int,
      caller: String): Array[(Long, Seq[Double], Double)] = {
    val cents = corpus.where(col("id") < numCentroids)
      .select(col("id"), col("vec")).collect()
      .map { r =>
        val cid = r.getAs[Number](0).longValue
        val cvec = r.getSeq[Number](1).map(_.doubleValue)
        val cnorm = math.sqrt(cvec.foldLeft(0.0)((a, x) => a + x * x))
        (cid, cvec, cnorm)
      }
      .sortBy(_._1)
    require(cents.nonEmpty, s"$caller: no corpus rows with id < $numCentroids")
    cents
  }

  /** Centroid set as the `array<struct<cid, cvec, cnorm>>` plan literal
    * [[centroidSims]] folds over. */
  private def centroidArr(cents: Array[(Long, Seq[Double], Double)]): Column =
    array(cents.map { case (cid, cvec, cnorm) =>
      struct(lit(cid).as("cid"), typedLit(cvec).as("cvec"), lit(cnorm).as("cnorm"))
    }: _*)

  /** IVF (inverted-file) top-k: the other classic ANN scale path.
    *
    * Coarse quantizer: the first `numCentroids` corpus vectors act as
    * centroids (deterministic; production swaps in trained centroids
    * without changing the plan shape). The centroid set is collected ONCE
    * driver-side — K rows, the same driver-side bound as any trained
    * quantizer model — and embedded in the plan as an array literal with
    * pre-computed norms (same fold order as [[norm]], so the doubles are
    * bit-identical). Assignment is then a map-side fold per corpus row with
    * ZERO Exchange on the corpus; the only shuffle in the whole plan is the
    * final per-query top-k window AFTER the (broadcast) probe join. The
    * previous formulation — `crossJoin(broadcast(cent))` + `row_number`
    * over `Window.partitionBy(id)` — shuffled the full N x K product just
    * to pick an argmax.
    *
    * Note: building the plan collects the K centroid rows eagerly (a
    * driver action), like any model-fitting step.
    *
    * vs [[srpBucketedTopK]]: IVF buckets adapt to the data distribution
    * (centroids sit where vectors are dense) while SRP buckets are
    * data-oblivious; IVF recall tunes by `nprobe` at query time without
    * re-indexing. */
  /** @param broadcastProbes hint the (queries × nprobe) probe side as the
    *   broadcast build side — correct for the documented Q ≲ 10³ query-set
    *   contract (zero shuffle before the probe join). Set false for
    *   corpus-scale query sets (e.g. corpus-vs-corpus ANN), where a forced
    *   broadcast would hit the broadcast size limit — AQE then picks the
    *   join strategy from real sizes.
    * @param lloydIters optional k-means refinement of the first-K seed
    *   (spherical Lloyd): each round assigns every corpus vector to its
    *   best current centroid with the SAME map-side fold the final
    *   assignment uses, then replaces each centroid with its cell's mean.
    *   The per-round shuffle is tiny — partial aggregation collapses the
    *   (cid, dim) keys to at most K·dim rows per task — and the driver
    *   only ever holds K vectors, the same bound as the seed collect. 0
    *   (default) keeps the deterministic first-K quantizer and a
    *   byte-identical plan; 3-5 rounds make centroids track the data
    *   distribution (recall measured in SimilaritySpec). Empty cells keep
    *   their previous position. NONDETERMINISM CONTRACT: at
    *   `lloydIters > 0` the cell means are `avg()` over shuffled doubles,
    *   so summation order — and therefore the trained centroid bits, and
    *   potentially tie-adjacent assignments downstream — can vary with
    *   partitioning/layout across runs. This is inherent to distributed
    *   float training (every production k-means has it); results are
    *   topologically stable but not bit-stable, which is why lloydIters=0
    *   is the default and the only oracle-gated configuration. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      numCentroids: Int, k: Int, nprobe: Int,
      broadcastProbes: Boolean = true,
      lloydIters: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var centroids = collectSeedCentroids(corpus, numCentroids, "ivfTopK")
    for (_ <- 1 to lloydIters) {
      val means = corpus
        .withColumn("_vnorm", norm(col("vec")))
        .withColumn("_sims", centroidSims(col("vec"), col("_vnorm"), centroidArr(centroids)))
        .select(bestCentroid(col("_sims")).getField("cid").as("cid"),
          posexplode(col("vec").cast("array<double>")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("col")).as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
      centroids = centroids.map { case (cid, oldVec, oldNorm) =>
        means.get(cid) match {
          case Some(m) =>
            (cid, m, math.sqrt(m.foldLeft(0.0)((a, x) => a + x * x)))
          case None => (cid, oldVec, oldNorm)
        }
      }
    }
    val centArr = centroidArr(centroids)

    val assigned = corpus
      .withColumn("_vnorm", norm(col("vec")))
      .withColumn("_sims", centroidSims(col("vec"), col("_vnorm"), centArr))
      .withColumn("_best", bestCentroid(col("_sims")))
      .select(col("_best").getField("cid").as("cid"),
        col("id").as("n_id"), col("vec").as("n_vec"))
    val probes = queries
      .withColumn("_vnorm", norm(col("vec")))
      .withColumn("_sims", centroidSims(col("vec"), col("_vnorm"), centArr))
      .select(col("id").as("q_id"), col("vec").as("q_vec"),
        explode(slice(rankedCentroids(col("_sims")), 1, nprobe)).as("_pc"))
      .select(col("_pc").getField("cid").as("cid"), col("q_id"), col("q_vec"))

    val byQuery = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    (if (broadcastProbes) broadcast(probes) else probes).join(assigned, Seq("cid"))
      .where(col("q_id") =!= col("n_id"))
      .withColumn("cos", cosineSafe(col("q_vec"), col("n_vec")))
      .withColumn("rnk", row_number().over(byQuery))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"))
  }

  /** LSH-bucketed top-k: exact cosine ranking restricted to bucket-sharing
    * candidates. Returns (q_id, n_id, rnk) like [[cosineTopK]]; recall < 1
    * by construction. */
  def srpBucketedTopK(vectors: DataFrame, k: Int, planes: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = vectors.select(col("id"), col("vec"), srpBucket(col("vec"), planes).as("bucket"))
    val l = sig.select(col("bucket"), col("id").as("q_id"), col("vec").as("q_vec"))
    val r = sig.select(col("bucket"), col("id").as("n_id"), col("vec").as("n_vec"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    l.join(r, Seq("bucket"))
      .where(col("q_id") =!= col("n_id"))
      .withColumn("cos", cosineSafe(col("q_vec"), col("n_vec")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"))
  }

  /** NSW insertion-order key: md5 of the id string, tie-broken by the id
    * STRING appended to it — one expression, one total order. Shared by
    * [[collectHubs]] (hubs = the `numHubs` earliest-inserted nodes) and
    * the build's prior-order rule, so "hub" and "earliest inserted" are
    * definitionally the same ordering even on an md5 collision (a
    * separate numeric tie-break column would break lexicographically
    * where this breaks on the string — silently violating the
    * hubs-are-earliest invariant). */
  private def nswOrderKey(c: Column): Column =
    concat(md5(c.cast("string")), c.cast("string"))

  /** md5-ordered hub sample with precomputed norms — the deterministic
    * stand-in for NSW's random insertion order, collected ONCE (numHubs
    * rows, the same driver-side bound as any quantizer model).
    *
    * `numHubs` is capped at 256: the `across` edge family is a
    * driver-built hub CLIQUE (numHubs² pairs — ≤ 65k rows at the cap,
    * still model-bounded state), and search out-degree grows by
    * numHubs − 1. Thousands of hubs would silently turn both quadratic;
    * past a few hundred entry points the right scaling lever is `planes`
    * / `maxRegions`, not more hubs. */
  private def collectHubs(
      vectors: DataFrame, numHubs: Int): Array[(Long, Seq[Double], Double)] = {
    require(numHubs >= 1 && numHubs <= 256,
      s"nsw: numHubs must be in [1, 256] (the across clique is numHubs^2 " +
        s"driver-side pairs and out-degree grows by numHubs - 1), got $numHubs")
    val rows = vectors
      .select(col("id"), col("vec"))
      .orderBy(nswOrderKey(col("id"))).limit(numHubs)
      .collect()
      .map { r =>
        val hid = r.getAs[Number](0).longValue
        val hvec = r.getSeq[Number](1).map(_.doubleValue)
        (hid, hvec, math.sqrt(hvec.foldLeft(0.0)((a, x) => a + x * x)))
      }
    require(rows.nonEmpty, "nsw: empty corpus")
    rows
  }

  /** Navigable-small-world-lite neighbor graph (Malkov et al. 2014's NSW
    * made deterministic and batch-buildable): four bounded edge families
    * give every greedy walk both LOCAL precision and LONG-RANGE reach —
    *
    *  - `local`: NSW's actual insertion-order construction, batched —
    *    each node links its `m` nearest SRP-bucket-mates (fine band plus
    *    a coarse band at half the planes — the band union crosses
    *    fine-bucket boundaries) among nodes EARLIER in md5(id) order,
    *    and each linked prior links BACK (reverse edges, capped at `m`
    *    per node, best-first). Plain same-bucket top-m was measured to
    *    fragment into mutually-nearest cliques with zero outside
    *    in-edges (near-duplicate clumps — every real embedding corpus
    *    has them); prior-ordering forces each clump's earliest member
    *    to link OUT to pre-existing nodes, and the capped reverse edges
    *    percolate entry back through the clump with fanout ≥ 2;
    *  - `up`: each node → its best hub (argmax cosine, ties to the
    *    smaller id — the IVF assignment fold, zero corpus Exchange);
    *  - `across`: each hub → every other hub (driver-side K² on the
    *    collected hub array — the model-bounded state every IVF path
    *    already accepts);
    *  - `down`: each hub → the top-`m` nodes assigned to it (one window
    *    whose literal `rnk <= m` bound lets InferWindowGroupLimit push a
    *    partial top-m below the K-key Exchange — the skew guard);
    *  - `region`: every populated SRP bucket elects ONE representative
    *    (its member most similar to its own hub), and that member's hub
    *    links to it — the deterministic surrogate for NSW's long-range
    *    links, and the navigability guarantee: directed `local` edges
    *    cannot ENTER a bucket from outside, so without a per-bucket
    *    in-edge whole neighborhoods are unreachable (a per-hub
    *    farthest-first cap was measured to drop exactly the hub's
    *    own-cluster buckets — the bimodal-recall failure). Expected
    *    region out-degree is #buckets/#hubs; `maxRegions` (farthest
    *    kept first) only bounds pathological assignment skew. Any
    *    greedy walk reaches any populated bucket within three hops of
    *    any hub: across → the bucket's hub → its representative.
    *
    * Hubs are the `numHubs` smallest nodes in md5(id) order — a
    * deterministic pseudo-random sample standing in for NSW's random
    * insertion order, so builds are bit-reproducible. Out-degree is
    * structurally ≤ 3m + 1 + (numHubs−1) + maxRegions (2m local
    * forward+reverse, m down, 1 up, the hub clique, the region cap).
    *
    * Candidate-pair boundedness: within each band bucket only the first
    * `maxBucketSize` members in md5(id) order are linkable TARGETS, so
    * the self-join emits ≤ N·maxBucketSize pairs per band — linear in N
    * (the `Dedup.maxBucketSize` rule; an uncapped 2^(planes/2)-bucket
    * coarse band is Θ(N²/2^(planes/2)) even on uniform data). Because
    * the cap keeps the md5-order PREFIX, it composes with the prior-
    * order rule exactly: capped-out members are simply "inserted later
    * than the window", still reachable via their own forward links and
    * the hub scaffolding.
    *
    * Returns `(src, dst, dst_vec)` — the destination vector EMBEDDED, so
    * each search hop is ONE broadcast-probe join (expansion and scoring
    * together) and the corpus itself is never rescanned after the build.
    * The m-way payload duplication is the classic graph-with-attributes
    * trade; at serving scale the same graph ships to an online store. */
  def nswBuildGraph(vectors: DataFrame, m: Int = 6,
      planes: Int = 8, numHubs: Int = 16, maxRegions: Int = 32,
      maxBucketSize: Int = 4096): DataFrame =
    nswBuildGraphWith(vectors, collectHubs(vectors, numHubs),
      m, planes, maxRegions, maxBucketSize)

  /** [[nswBuildGraph]] against an already-collected hub model —
    * [[nswTopK]] collects hubs once for entry scoring and reuses them
    * here, avoiding a second corpus-wide orderBy(md5) collect. */
  private def nswBuildGraphWith(
      vectors: DataFrame, hubs: Array[(Long, Seq[Double], Double)],
      m: Int, planes: Int, maxRegions: Int,
      maxBucketSize: Int): DataFrame = Checkpoints.scoped {
    import org.apache.spark.sql.expressions.Window
    require(m >= 1 && maxRegions >= 1 && maxBucketSize >= 1,
      "nswBuildGraph: m/maxRegions/maxBucketSize must be >= 1")
    val hubArr = centroidArr(hubs)

    // insertion-order key, computed ONCE PER NODE (never per pair) —
    // the SAME expression collectHubs orders by (nswOrderKey), so the
    // hubs are definitionally the earliest-inserted nodes
    def orderKey(c: Column): Column = nswOrderKey(c)
    def bandPairs(planesN: Int): DataFrame = {
      val sig = vectors.select(col("id"), col("vec"),
        srpBucket(col("vec"), planesN).as("bucket"),
        orderKey(col("id")).as("ord"))
      // target side capped to the bucket's earliest-inserted prefix
      val targets = sig
        .withColumn("_bn", row_number().over(Window
          .partitionBy(col("bucket")).orderBy(col("ord"))))
        .where(col("_bn") <= maxBucketSize)
      sig.select(col("bucket"), col("id").as("xid"), col("vec").as("xvec"),
          col("ord").as("xord"))
        .join(targets.select(col("bucket"), col("id").as("yid"),
          col("vec").as("yvec"), col("ord").as("yord")), Seq("bucket"))
        .where(col("yord") < col("xord"))
        .select(col("xid"), col("yid"), col("xvec"), col("yvec"))
    }
    // forward links: per node, best m PRIOR bucket-mates (both bands);
    // checkpointed — the reverse-cap window below is a second consumer
    // of the expensive bucket self-join
    val fwdRows = Checkpoints.checkpoint(bandPairs(planes)
      .unionByName(bandPairs(math.max(2, planes / 2)))
      .dropDuplicates("xid", "yid")
      .withColumn("cos", cosineSafe(col("xvec"), col("yvec")))
      .select(col("xid"), col("yid"), col("cos"))
      .withColumn("rnk", row_number().over(Window
        .partitionBy(col("xid")).orderBy(col("cos").desc, col("yid"))))
      .where(col("rnk") <= m))
    val local = fwdRows.select(col("xid").as("src"), col("yid").as("dst"))
      .unionByName(fwdRows
        .withColumn("rrnk", row_number().over(Window
          .partitionBy(col("yid")).orderBy(col("cos").desc, col("xid"))))
        .where(col("rrnk") <= m)
        .select(col("yid").as("src"), col("xid").as("dst")))
    // checkpointed ONCE: up/down/region would otherwise each re-run the
    // hub-assignment fold over the corpus (the persistSignatures lesson)
    val assigned = Checkpoints.checkpoint(vectors
      .withColumn("_vnorm", norm(col("vec")))
      .withColumn("_sims", centroidSims(col("vec"), col("_vnorm"), hubArr))
      .withColumn("_best", bestCentroid(col("_sims")))
      .select(col("id"), srpBucket(col("vec"), planes).as("bucket"),
        col("_best").getField("cid").as("hub"),
        col("_best").getField("sim").as("sim"))
      .where(col("id") =!= col("hub")))
    val up = assigned.select(col("id").as("src"), col("hub").as("dst"))
    val byHub = Window.partitionBy(col("hub"))
      .orderBy(col("sim").desc, col("id"))
    val down = assigned
      .withColumn("rnk", row_number().over(byHub))
      .where(col("rnk") <= m) // literal bound: partial top-m pre-Exchange
      .select(col("hub").as("src"), col("id").as("dst"))
    // one representative per (hub, bucket): the hub's best assignee in
    // that bucket. Keyed on the PAIR, not the bucket alone — SRP buckets
    // span metric regions, and a global per-bucket rep lets a foreign
    // region's member steal the bucket's only in-edge (measured: q0's
    // neighborhood bucket repped by a far cluster's hub, recall 0)
    val region = assigned
      .withColumn("rb", row_number().over(Window
        .partitionBy(col("hub"), col("bucket"))
        .orderBy(col("sim").desc, col("id"))))
      .where(col("rb") === 1)
      .withColumn("rk", row_number().over(Window
        .partitionBy(col("hub")).orderBy(col("sim").asc, col("id"))))
      .where(col("rk") <= maxRegions)
      .select(col("hub").as("src"), col("id").as("dst"))
    val across = {
      val pairs = for {
        (a, _, _) <- hubs.toSeq; (b, _, _) <- hubs.toSeq if a != b
      } yield (a, b)
      vectors.sparkSession.createDataFrame(pairs).toDF("src", "dst")
    }
    // eager: the build IS a materialization step
    Checkpoints.checkpoint(local.unionByName(up).unionByName(down).unionByName(region)
      .unionByName(across)
      .select(col("src").cast("long"), col("dst").cast("long")).distinct()
      .join(vectors.select(col("id").as("dst"), col("vec").as("dst_vec")),
        Seq("dst"))
      .select(col("src"), col("dst"), col("dst_vec")))
  }

  /** Graph ANN search over [[nswBuildGraph]]: greedy best-first beam walk,
    * the production recall/latency frontier IVF/PQ trade against — made
    * deterministic (every tie breaks on id) and batch-shaped.
    *
    * Entry: each query scores the hub array map-side (the IVF probe fold)
    * and opens its `beam` best hubs. Each of the `hops` rounds then
    * (1) takes the per-query best-`beam` of everything scored so far,
    * (2) expands it through the adjacency in ONE broadcast-probe join —
    * the frontier (queries × beam rows) is the broadcast side, the
    * adjacency's embedded `dst_vec` scores candidates in the same
    * projection, (3) anti-joins the visited set so no candidate is ever
    * scored twice, and (4) checkpoints the visited union (releasing the
    * superseded round — the CC loop discipline). Per-query work is
    * structurally ≤ beam · maxdeg per hop; the only corpus-sized costs
    * are in the build.
    *
    * Returns `(q_id, n_id, rnk)` — [[cosineTopK]]'s shape, so
    * [[recallAtK]] gates it against the exact ranking directly. */
  def nswTopK(vectors: DataFrame, queries: DataFrame, k: Int,
      m: Int = 6, beam: Int = 8, hops: Int = 3,
      planes: Int = 8, numHubs: Int = 16, maxRegions: Int = 32,
      maxBucketSize: Int = 4096): DataFrame = Checkpoints.scoped {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && beam >= 1 && hops >= 0, "nswTopK: k/beam >= 1, hops >= 0")
    // one hub collect serves both the entry scoring and the build
    val hubs = collectHubs(vectors, numHubs)
    val hubArr = centroidArr(hubs)
    val edges = nswBuildGraphWith(vectors, hubs,
      m, planes, maxRegions, maxBucketSize) // eager

    val entry = queries
      .withColumn("_vnorm", norm(col("vec")))
      .withColumn("_sims", centroidSims(col("vec"), col("_vnorm"), hubArr))
      .select(col("id").as("q_id"), col("vec").as("q_vec"),
        explode(slice(rankedCentroids(col("_sims")), 1, beam)).as("_e"))
      .select(col("q_id"), col("q_vec"),
        col("_e").getField("cid").as("n_id"), col("_e").getField("sim").as("cos"))
    var visited = Checkpoints.checkpoint(entry.withColumn("expanded", lit(false)))
    val byQ = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    for (_ <- 1 to hops) {
      // best-first: expand the top-beam UNEXPANDED candidates — an
      // expanded node re-entering the frontier would freeze the walk in
      // its own clique (its neighbors are all visited, nothing fresh
      // arrives); tracking expansion is what makes each hop monotone
      // progress, exactly HNSW's ef-search pop-best-unexpanded rule
      val frontier = visited.where(!col("expanded"))
        .withColumn("_r", row_number().over(byQ)).where(col("_r") <= beam)
        .select(col("q_id"), col("q_vec"), col("n_id"))
      val cand = broadcast(frontier)
        .join(edges, frontier("n_id") === edges("src"))
        .select(col("q_id"), col("q_vec"), col("dst").as("n_id"), col("dst_vec"))
        .dropDuplicates("q_id", "n_id")
      val fresh = cand.join(visited.select(col("q_id"), col("n_id")),
          Seq("q_id", "n_id"), "left_anti")
        .select(col("q_id"), col("q_vec"), col("n_id"),
          cosineSafe(col("q_vec"), col("dst_vec")).as("cos"),
          lit(false).as("expanded"))
      val marked = visited
        .join(frontier.select(col("q_id"), col("n_id"), lit(true).as("_e")),
          Seq("q_id", "n_id"), "left")
        .withColumn("expanded", col("expanded") || coalesce(col("_e"), lit(false)))
        .drop("_e")
      val next = Checkpoints.checkpoint(marked.unionByName(fresh))
      Checkpoints.free(visited)
      visited = next
    }
    visited
      .where(col("q_id") =!= col("n_id"))
      .withColumn("rnk", row_number().over(byQ))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"))
  }

  /** SemDedup-style semantic deduplication (Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * arXiv:2303.09540): embedding-cosine near-duplicate PAIRS
    * ([[embeddingNearDupPairs]] — SRP bucket prefilter + exact cosine
    * threshold) are closed into CLUSTERS (cosine-near-dup is not
    * transitive; [[Components.connectedComponents]]), and each cluster
    * keeps its minimum-id member as the canonical representative.
    *
    * Returns `(id, canonical_id, kept)` for EVERY input vector —
    * `kept = 1` iff the row is its cluster's representative (singletons
    * keep themselves) — so the result doubles as a keep-list
    * (`WHERE kept = 1`) and a duplicate map (`id -> canonical_id`).
    *
    * Scale shape: candidate generation is the SRP short-key bucket join
    * (never all-pairs), the cosine runs only on bucket-sharing candidates,
    * and the component closure propagates over edge ENDPOINTS only —
    * the (dominant) singleton population joins back exactly once.
    * `vectors` must have columns `id` and `vec`. */
  def semanticDedup(vectors: DataFrame, planes: Int, threshold: Double): DataFrame = {
    val pairs = embeddingNearDupPairs(vectors, planes, threshold)
    Components.connectedComponents(vectors.select(col("id")), pairs)
      .select(col("id"), col("comp").as("canonical_id"),
        (col("id") === col("comp")).cast("long").as("kept"))
  }

  // ---------------------------------------------------------------------
  // Product quantization (IVF-PQ's storage half)
  // ---------------------------------------------------------------------

  /** PQ codebooks: `[subspace][entry] = (code, subvec, cdot)`.
    *
    * Training mirrors [[ivfTopK]]'s coarse quantizer: the first `numCodes`
    * corpus vectors seed the codebooks deterministically (entry j of every
    * subspace = the j-th seed's subvector, codes assigned in id order), and
    * `lloydIters` optionally refines each subspace's entries with the same
    * Lloyd loop — assign every subvector to its nearest entry with the SAME
    * map-side argmin the encoder uses, then recenter each entry on its
    * cell's mean. One shuffle per round covers ALL subspaces (partial
    * aggregation collapses to ≤ m·numCodes·subDim rows per task); the
    * driver only ever holds the m·numCodes codebook, the same bound the
    * encoder needs as a plan literal. Same nondeterminism contract as
    * [[ivfTopK]]: `lloydIters > 0` means float means over shuffled doubles,
    * not bit-stable across partitionings — 0 (default) is the
    * deterministic, oracle-gated configuration. */
  private[ext] def pqCodebooks(
      corpus: DataFrame, m: Int, numCodes: Int,
      lloydIters: Int): Array[Array[(Int, Seq[Double], Double)]] = {
    val seeds = corpus.where(col("id") < numCodes)
      .select(col("id"), col("vec")).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getSeq[Number](1).map(_.doubleValue)))
      .sortBy(_._1)
    require(seeds.nonEmpty, s"pqCodebooks: no corpus rows with id < $numCodes")
    val dim = seeds.head._2.length
    require(dim % m == 0, s"pqCodebooks: dim $dim not divisible by m=$m")
    val sub = dim / m
    def withDots(cb: Array[Array[(Int, Seq[Double])]]): Array[Array[(Int, Seq[Double], Double)]] =
      cb.map(_.map { case (code, v) =>
        (code, v, v.foldLeft(0.0)((a, x) => a + x * x))
      })
    var books = withDots(Array.tabulate(m) { s =>
      seeds.zipWithIndex.map { case ((_, v), j) => (j, v.slice(s * sub, (s + 1) * sub)) }
    })
    for (_ <- 1 to lloydIters) {
      val enc = pqAssign(corpus, books, sub)
      val means = enc
        .select(explode(array((0 until m).map(s =>
          struct(lit(s).as("s"), col(s"_code$s").as("code"), col(s"_sub$s").as("sv"))): _*)).as("e"))
        .select(col("e.s").as("s"), col("e.code").as("code"), posexplode(col("e.sv")))
        .groupBy(col("s"), col("code"), col("pos")).agg(avg(col("col")).as("m"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (k, rows) => k -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq }
      books = withDots(books.zipWithIndex.map { case (entries, s) =>
        entries.map { case (code, oldV, _) =>
          (code, means.getOrElse((s, code), oldV))
        }
      })
    }
    books
  }

  private def codebookLit(entries: Array[(Int, Seq[Double], Double)]): Column =
    array(entries.map { case (code, cvec, cdot) =>
      struct(lit(code).as("code"), typedLit(cvec).as("cvec"), lit(cdot).as("cdot"))
    }: _*)

  /** Adds `_sub$s` (subvector) and `_code$s` (nearest-entry index) columns
    * for every subspace — the map-side encoder. Argmin is two passes over
    * each subspace's distance array (`transform` once into its own column,
    * then `array_min` + `array_position`): each codebook dot product is
    * evaluated exactly once per row, and ties resolve to the smallest code
    * on both engines (first-position semantics = the oracle's
    * `ORDER BY dist, code`). Distances drop the per-row `‖x_s‖²` term —
    * constant within an argmin — so `dist = cdot - 2·<x_s, c>`. */
  private[ext] def pqAssign(
      corpus: DataFrame,
      books: Array[Array[(Int, Seq[Double], Double)]], sub: Int,
      vecCol: String = "vec"): DataFrame = {
    val m = books.length
    var df = corpus.withColumn("_v", col(vecCol).cast("array<double>"))
    for (s <- 0 until m) {
      df = df
        .withColumn(s"_sub$s", slice(col("_v"), s * sub + 1, sub))
        .withColumn(s"_d$s", transform(codebookLit(books(s)),
          c => c.getField("cdot") - lit(2.0) * dot(col(s"_sub$s"), c.getField("cvec"))))
        .withColumn(s"_code$s",
          (array_position(col(s"_d$s"), array_min(col(s"_d$s"))) - 1).cast("int"))
    }
    df
  }

  /** Product-quantization codes: each vector compressed to `m` one-byte
    * codes (id, codes array<int>, one entry per subspace). At 100 TB this
    * is the ANN memory wall solved: a 64-dim float vector (256 bytes)
    * becomes m=4..8 bytes, and [[pqTopK]] probes the codes without ever
    * reconstructing. Map-side only — the codebook rides along as a plan
    * literal (≤ m·256·subDim doubles, the model bound), no shuffle. */
  def pqEncode(
      corpus: DataFrame, m: Int, numCodes: Int,
      lloydIters: Int = 0): DataFrame =
    pqEncodeWith(corpus, pqCodebooks(corpus, m, numCodes, lloydIters))

  private def pqEncodeWith(
      corpus: DataFrame, books: Array[Array[(Int, Seq[Double], Double)]]): DataFrame = {
    val m = books.length
    val sub = books.head.head._2.length
    pqAssign(corpus, books, sub)
      .select(col("id"), array((0 until m).map(s => col(s"_code$s")): _*).as("codes"))
  }

  /** PQ top-k by asymmetric distance (ADC): queries stay full-precision,
    * the corpus is scanned as codes. Per query the distance from each
    * subspace's query subvector to every codebook entry is precomputed as
    * a lookup table (m × numCodes longs, built map-side against the
    * codebook literal); a corpus row's distance is then m table lookups —
    * no vector math on the (billion-row) code side, which is what makes
    * exhaustive PQ scans feasible where full-vector scans are not.
    *
    * Distances are FIXED-POINT: each ADC term is `floor(1e-9-quantized
    * (‖c‖² - 2·<q_s, c>))` as a LONG, so the per-pair sum is integer-exact
    * and ORDER-FREE — engine-portable ranking with no float-summation-
    * order hazard (the dropped `‖q‖²` term is constant per query and
    * cannot change its ranking). Broadcast the (small) query side; the
    * corpus never shuffles before the final per-query top-k window. */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame,
      m: Int, numCodes: Int, k: Int,
      lloydIters: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val books = pqCodebooks(corpus, m, numCodes, lloydIters)
    val sub = books.head.head._2.length
    val encoded = pqEncodeWith(corpus, books)
      .select(col("id").as("n_id"), col("codes"))
    var q = queries.withColumn("_v", col("vec").cast("array<double>"))
    for (s <- 0 until m)
      q = q
        .withColumn(s"_qsub$s", slice(col("_v"), s * sub + 1, sub))
        .withColumn(s"_lut$s", transform(codebookLit(books(s)),
          c => floor(lit(1e9) *
            (c.getField("cdot") - lit(2.0) * dot(col(s"_qsub$s"), c.getField("cvec"))))
            .cast("long")))
    val probes = q.select(col("id").as("q_id"),
      array((0 until m).map(s => col(s"_lut$s")): _*).as("_lut"))
    val byQuery = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("n_id"))
    broadcast(probes).join(encoded, col("q_id") =!= col("n_id"))
      .withColumn("adc", aggregate(
        zip_with(col("_lut"), col("codes"), (l, c) => element_at(l, c + 1)),
        lit(0L), (acc, x) => acc + x))
      .withColumn("rnk", row_number().over(byQuery))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"))
  }

  /** Two-stage ANN: PQ-ADC shortlist, then EXACT re-rank — the standard
    * production recovery for PQ's quantization error (FAISS's
    * `IndexRefineFlat` composition): stage 1 scans the compressed codes
    * with [[pqTopK]]'s integer ADC and keeps `shortlist ≥ k` candidates
    * per query; stage 2 re-scores ONLY those candidates against the
    * full-precision vectors and emits the exact top `k`. Recall
    * approaches brute force as `shortlist` grows while full-vector work
    * stays `O(queries · shortlist)` — never a full-corpus vector scan.
    *
    * Stage 2's distance is the same per-query-constant-free L2 as the
    * ADC (`‖n‖² − 2·<q, n>`) in the same 1e-9 fixed point, so both
    * stages rank integer-exactly cross-engine. Plan shape: the
    * (queries × shortlist)-row stage-1 output joins the corpus by
    * BROADCAST on the candidate id — the corpus streams through the
    * fetch map-side, `‖n‖²` computed once per corpus row before the
    * join; the only shuffle is the final per-query top-k window. */
  def pqRerankTopK(
      corpus: DataFrame, queries: DataFrame,
      m: Int, numCodes: Int, k: Int, shortlist: Int,
      lloydIters: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shortlist >= k,
      s"pqRerankTopK: shortlist ($shortlist) must be >= k ($k)")
    val probes = pqTopK(corpus, queries, m, numCodes, shortlist, lloydIters)
      .select(col("q_id"), col("n_id"))
      .join(queries.select(col("id").as("q_id"),
        col("vec").cast("array<double>").as("_qv")), Seq("q_id"))
    val full = corpus.select(col("id").as("n_id"),
      col("vec").cast("array<double>").as("_nv"))
      .withColumn("_ndot", dot(col("_nv"), col("_nv")))
    val byQuery = Window.partitionBy(col("q_id")).orderBy(col("d"), col("n_id"))
    broadcast(probes).join(full, Seq("n_id"))
      .withColumn("d", floor(lit(1e9) *
        (col("_ndot") - lit(2.0) * dot(col("_qv"), col("_nv")))).cast("long"))
      .withColumn("rnk", row_number().over(byQuery))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"))
  }

  /** IVF-PQ: the production 100 TB ANN composition — [[ivfTopK]]'s coarse
    * inverted-file cells over [[pqEncode]]'s compressed codes, probed with
    * [[pqTopK]]'s asymmetric distance. A corpus row costs `8 + m` bytes in
    * the index (cell id + codes) instead of `4·dim` for full vectors —
    * the memory wall IVF-flat hits at scale — and a query touches only its
    * `nprobe` cells' members, each scored with m integer table lookups.
    *
    * Quantization is non-residual (codes encode the vector itself, not
    * `x − centroid` — FAISS's `by_residual=false` mode): residual encoding
    * buys recall at equal code budget but couples every code to its cell;
    * the non-residual form keeps codes cell-independent (re-clustering
    * never re-encodes) and the whole operator deterministic enough to
    * oracle-gate. Cells rank by cosine (the [[ivfTopK]] quantizer);
    * candidates rank by the same 1e-9 fixed-point ADC as [[pqTopK]] —
    * integer sums, order-free, engine-exact.
    *
    * Plan shape: ONE map-side pass over the corpus computes cell id and
    * codes together (both against plan literals, zero corpus Exchange);
    * the probe side broadcasts; the only shuffle is the final per-query
    * top-k window. Same `lloydIters` contract as [[ivfTopK]]/[[pqEncode]]:
    * 0 (default) is the deterministic oracle-gated configuration. */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame,
      numCentroids: Int, m: Int, numCodes: Int, k: Int, nprobe: Int,
      lloydIters: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val books = pqCodebooks(corpus, m, numCodes, lloydIters)
    val sub = books.head.head._2.length
    val centroids = corpus.where(col("id") < numCentroids)
      .select(col("id"), col("vec")).collect()
      .map { r =>
        val cid = r.getAs[Number](0).longValue
        val cvec = r.getSeq[Number](1).map(_.doubleValue)
        (cid, cvec, math.sqrt(cvec.foldLeft(0.0)((a, x) => a + x * x)))
      }
      .sortBy(_._1)
    require(centroids.nonEmpty, s"ivfPqTopK: no corpus rows with id < $numCentroids")
    val centArr = array(centroids.map { case (cid, cvec, cnorm) =>
      struct(lit(cid).as("cid"), typedLit(cvec).as("cvec"), lit(cnorm).as("cnorm"))
    }: _*)

    // one map-side pass: cell assignment AND codes, both against literals
    val assigned = pqAssign(corpus, books, sub)
      .withColumn("_vnorm", norm(col("vec")))
      .withColumn("_sims", centroidSims(col("vec"), col("_vnorm"), centArr))
      .withColumn("_best", bestCentroid(col("_sims")))
      .select(col("_best").getField("cid").as("cid"),
        col("id").as("n_id"),
        array((0 until m).map(s => col(s"_code$s")): _*).as("codes"))

    var q = queries.withColumn("_v", col("vec").cast("array<double>"))
    for (s <- 0 until m)
      q = q
        .withColumn(s"_qsub$s", slice(col("_v"), s * sub + 1, sub))
        .withColumn(s"_lut$s", transform(codebookLit(books(s)),
          c => floor(lit(1e9) *
            (c.getField("cdot") - lit(2.0) * dot(col(s"_qsub$s"), c.getField("cvec"))))
            .cast("long")))
    val probes = q
      .withColumn("_vnorm", norm(col("_v")))
      .withColumn("_sims", centroidSims(col("_v"), col("_vnorm"), centArr))
      .select(col("id").as("q_id"),
        array((0 until m).map(s => col(s"_lut$s")): _*).as("_lut"),
        explode(slice(rankedCentroids(col("_sims")), 1, nprobe)).as("_pc"))
      .select(col("_pc").getField("cid").as("cid"), col("q_id"), col("_lut"))

    val byQuery = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("n_id"))
    broadcast(probes).join(assigned, Seq("cid"))
      .where(col("q_id") =!= col("n_id"))
      .withColumn("adc", aggregate(
        zip_with(col("_lut"), col("codes"), (l, c) => element_at(l, c + 1)),
        lit(0L), (acc, x) => acc + x))
      .withColumn("rnk", row_number().over(byQuery))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"))
  }

  /** The `cvec` of the centroid-literal entry whose cid matches `cidCol` —
    * a K-element map-side scan of the plan literal, no join. */
  private def centroidVecFor(centArr: Column, cidCol: Column): Column =
    element_at(filter(centArr, c => c.getField("cid") === cidCol), 1)
      .getField("cvec")

  /** Residual IVF-PQ (FAISS's `by_residual=true` mode): codes encode
    * `x − centroid(x)` instead of `x`. At equal code budget the residual
    * form is strictly finer — residual magnitudes are bounded by cell
    * radii, so the same `numCodes` entries cover a much smaller volume —
    * which is why production FAISS defaults to it. The price is coupling:
    * every code is meaningful only relative to its cell, so the per-query
    * ADC lookup table becomes per-(query, probed cell) — `nprobe` LUTs per
    * query instead of one — and re-clustering forces re-encoding.
    *
    * Determinism: coarse centroids are the first `numCentroids` corpus
    * vectors and codebooks are seeded from the first `numCodes` vectors'
    * RESIDUALS (each seed's cell computed driver-side with the exact
    * engine fold order, divide guard, and smaller-cid tie-break), so the
    * whole operator is oracle-exact. Ranking distance for candidate n in
    * cell c is the exact expansion `‖q−x̂‖² = ‖q−c‖² − 2·<q−c, r̂> + ‖r̂‖²`
    * (x̂ = c + r̂): the per-cell constant `‖q−c‖²` and each subspace term
    * are 1e-9 fixed-point floored LONGs — integer sums, order-free,
    * engine-portable (the [[pqTopK]] trick, per cell).
    *
    * Plan shape matches [[ivfPqTopK]]: one map-side corpus pass computes
    * cell id, residual, and codes together against plan literals (zero
    * corpus Exchange); probes broadcast with their per-cell LUTs; the only
    * shuffle is the final per-query top-k window. */
  def ivfPqResidualTopK(
      corpus: DataFrame, queries: DataFrame,
      numCentroids: Int, m: Int, numCodes: Int, k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centroids = corpus.where(col("id") < numCentroids)
      .select(col("id"), col("vec")).collect()
      .map { r =>
        val cid = r.getAs[Number](0).longValue
        val cvec = r.getSeq[Number](1).map(_.doubleValue)
        (cid, cvec, math.sqrt(cvec.foldLeft(0.0)((a, x) => a + x * x)))
      }
      .sortBy(_._1)
    require(centroids.nonEmpty, s"ivfPqResidualTopK: no corpus rows with id < $numCentroids")
    val seeds = corpus.where(col("id") < numCodes)
      .select(col("id"), col("vec")).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getSeq[Number](1).map(_.doubleValue)))
      .sortBy(_._1)
    require(seeds.nonEmpty, s"ivfPqResidualTopK: no corpus rows with id < $numCodes")
    val dim = seeds.head._2.length
    require(dim % m == 0, s"ivfPqResidualTopK: dim $dim not divisible by m=$m")
    val sub = dim / m
    // Driver-side best cell for each codebook seed: the same sequential
    // product fold, zero-denominator guard (-1), and strict-> smaller-cid
    // tie-break as the engine's centroidSims/bestCentroid — the doubles
    // (and therefore the seed residuals baked into the codebook literal)
    // are bit-identical to what the engine would compute.
    def nearestCentroidVec(v: Seq[Double]): Seq[Double] = {
      val vn = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
      var bestVec = centroids.head._2
      var bestSim = Double.NegativeInfinity
      for ((_, cv, cn) <- centroids) {
        val d = v.iterator.zip(cv.iterator).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
        val den = vn * cn
        val sim = if (den == 0.0) -1.0 else d / den
        if (sim > bestSim) { bestSim = sim; bestVec = cv }
      }
      bestVec
    }
    val books: Array[Array[(Int, Seq[Double], Double)]] = Array.tabulate(m) { s =>
      seeds.zipWithIndex.map { case ((_, v), j) =>
        val cv = nearestCentroidVec(v)
        val rsv = v.iterator.zip(cv.iterator).map { case (x, c) => x - c }
          .toIndexedSeq.slice(s * sub, (s + 1) * sub)
        (j, rsv: Seq[Double], rsv.foldLeft(0.0)((a, x) => a + x * x))
      }
    }
    val centArr = array(centroids.map { case (cid, cvec, cnorm) =>
      struct(lit(cid).as("cid"), typedLit(cvec).as("cvec"), lit(cnorm).as("cnorm"))
    }: _*)

    // one map-side pass: cell assignment, residual, AND codes — all
    // against plan literals, zero corpus Exchange
    val assigned = {
      val base = corpus
        .withColumn("_vnorm", norm(col("vec")))
        .withColumn("_sims", centroidSims(col("vec"), col("_vnorm"), centArr))
        .withColumn("_cid", bestCentroid(col("_sims")).getField("cid"))
        .withColumn("_r", zip_with(col("vec"), centroidVecFor(centArr, col("_cid")),
          (x, c) => x.cast("double") - c))
      pqAssign(base, books, sub, vecCol = "_r")
        .select(col("_cid").as("cid"), col("id").as("n_id"),
          array((0 until m).map(s => col(s"_code$s")): _*).as("codes"))
    }

    // probe side: explode nprobe cells per query, then build that cell's
    // residual-space LUTs and the per-cell constant ‖q−c‖²
    val probed = queries
      .withColumn("_vnorm", norm(col("vec")))
      .withColumn("_sims", centroidSims(col("vec"), col("_vnorm"), centArr))
      .select(col("id").as("q_id"), col("vec"),
        explode(slice(rankedCentroids(col("_sims")), 1, nprobe)).as("_pc"))
      .withColumn("cid", col("_pc").getField("cid"))
      .withColumn("_qr", zip_with(col("vec"), centroidVecFor(centArr, col("cid")),
        (x, c) => x.cast("double") - c))
    var p = probed
    for (s <- 0 until m)
      p = p
        .withColumn(s"_qsub$s", slice(col("_qr"), s * sub + 1, sub))
        .withColumn(s"_lut$s", transform(codebookLit(books(s)),
          c => floor(lit(1e9) *
            (c.getField("cdot") - lit(2.0) * dot(col(s"_qsub$s"), c.getField("cvec"))))
            .cast("long")))
    val probes = p.select(col("cid"), col("q_id"),
      floor(lit(1e9) * dot(col("_qr"), col("_qr"))).cast("long").as("_ct"),
      array((0 until m).map(s => col(s"_lut$s")): _*).as("_lut"))

    val byQuery = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("n_id"))
    broadcast(probes).join(assigned, Seq("cid"))
      .where(col("q_id") =!= col("n_id"))
      .withColumn("adc", col("_ct") + aggregate(
        zip_with(col("_lut"), col("codes"), (l, c) => element_at(l, c + 1)),
        lit(0L), (acc, x) => acc + x))
      .withColumn("rnk", row_number().over(byQuery))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"))
  }

  /** Contrastive pair mining over a labeled embedding set — the
    * triplet/InfoNCE training-data builder: per anchor, the `kPos`
    * most-similar SAME-label items (positives) and the `kNeg`
    * most-similar DIFFERENT-label items (HARD negatives — the
    * near-boundary examples that carry gradient; random negatives are
    * mostly easy and learn nothing). Output `(q_id, kind, n_id, rnk)`
    * with `kind ∈ {pos, neg}` and `rnk` dense within kind.
    *
    * Scale shape: [[cosineTopK]]'s join (anchors broadcast, corpus
    * streams map-side — dot/cosine via the codegen kernel), ONE window
    * shuffle partitioned by (anchor, kind); Spark 4's WindowGroupLimit
    * prunes beyond-rank rows below the exchange at the LARGER of the
    * two k's — via an explicit LITERAL `rnk <= max(kPos, kNeg)` conjunct,
    * because InferWindowGroupLimit can only extract a limit from a
    * foldable bound and the per-kind `when()` condition is not one
    * (round-9 advice: without the literal the full anchors×corpus row
    * set shuffled into the window). The per-kind filter trims above it;
    * the spec asserts WindowGroupLimit is in the physical plan. */
  def contrastivePairs(
      corpus: DataFrame, anchors: DataFrame,
      kPos: Int, kNeg: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(kPos >= 1 && kNeg >= 1,
      s"contrastivePairs: kPos/kNeg must be >= 1, got $kPos/$kNeg")
    val q = anchors.select(col("id").as("q_id"), col("vec").as("q_vec"),
      col("label").as("q_label"))
    val c = corpus.select(col("id").as("n_id"), col("vec").as("n_vec"),
      col("label").as("n_label"))
    val w = Window.partitionBy(col("q_id"), col("kind"))
      .orderBy(col("cos").desc, col("n_id"))
    broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .withColumn("kind",
        when(col("q_label") === col("n_label"), "pos").otherwise("neg"))
      .withColumn("cos", cosineSafe(col("q_vec"), col("n_vec")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= lit(math.max(kPos, kNeg).toLong))
      .where(col("rnk") <= when(col("kind") === "pos", kPos).otherwise(kNeg))
      .select(col("q_id"), col("kind"), col("n_id"), col("rnk"))
  }

  /** Fixed-point DCG position weights for [[knnLabelEval]]: `W(i) =
    * floor(1e6 / log2(i + 1))` for ranks 1..k — integer literals baked
    * into the plan (and mirrored verbatim into the oracle SQL), so DCG
    * sums are BIGINT-exact with no float-log in either engine. */
  private[graft] def dcgWeights(k: Int): Seq[Long] =
    (1 to k).map(i => math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong)

  /** kNN label evaluation — the embedding-quality scorecard run before an
    * embedding table is trusted for retrieval or semantic dedup: for each
    * labeled query, the cosine top-k neighbors vote. Emits, per query:
    * the majority-vote label (`maj_label`, ties to the smaller label),
    * whether it matches (`acc`), the number of label-sharing neighbors
    * (`n_rel`), the binary-relevance DCG under [[dcgWeights]]' integer
    * weights (`dcg`), and nDCG in basis points (`ndcg_bp` = 10⁴·dcg div
    * ideal-DCG, where ideal packs the `n_rel` hits at the top ranks).
    * Integer end to end past the cosine ranking — engine-exact.
    *
    * Scale shape: the ranked top-k is [[cosineTopK]] (broadcast queries,
    * corpus streams, one per-query window); everything after operates on
    * `queries × k` rows — neighbor labels arrive by joining that small
    * frame (broadcast) against the corpus's (id, label) projection, and
    * both aggregates fold it per query. */
  def knnLabelEval(
      corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = Checkpoints.scoped {
    import org.apache.spark.sql.expressions.Window
    val w = dcgWeights(k)
    val idcgFor: Column => Column = n => // ideal DCG: hits at ranks 1..n_rel
      element_at(typedLit(w.scanLeft(0L)(_ + _)), (n + 1).cast("int"))
    val topk = cosineTopK(queries, corpus, k)
    val nLab = corpus.select(col("id").as("n_id"), col("label").as("n_label"))
    val qLab = queries.select(col("id").as("q_id"), col("label"))
    // queries × k rows by construction — eager checkpoint (the round-18
    // small-by-construction rule): hits feeds BOTH per-query folds
    // (relevance/DCG and the vote table); un-checkpointed, each re-plans
    // the whole cosine ranking + the corpus label join (round-19 explain
    // audit: 8 parquet scans, 4 of them the duplicated ranking lineage)
    val hits = Checkpoints.checkpoint(broadcast(topk)
      .join(nLab, Seq("n_id"))
      .join(broadcast(qLab), Seq("q_id"))
      .withColumn("rel", (col("n_label") === col("label")).cast("long")))
    val perQuery = hits.groupBy(col("q_id"), col("label"))
      .agg(sum(col("rel")).as("n_rel"),
        sum(col("rel") *
          element_at(typedLit(w), col("rnk").cast("int"))).as("dcg"))
    val byVotes = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("n_label").asc)
    val majority = hits.groupBy(col("q_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("_r", row_number().over(byVotes))
      .where(col("_r") === 1)
      .select(col("q_id"), col("n_label").as("maj_label"))
    perQuery.join(majority, Seq("q_id"))
      .withColumn("_idcg", idcgFor(col("n_rel")))
      .select(col("q_id"), col("label"), col("maj_label"),
        (col("maj_label") === col("label")).as("acc"),
        col("n_rel"), col("dcg"),
        when(col("n_rel") > 0, expr("(10000L * dcg) div _idcg"))
          .otherwise(lit(0L)).as("ndcg_bp"))
  }

  /** Recall@k: the evaluation half of every ANN deployment — what fraction
    * of the EXACT top-k neighbors the approximate index actually returned,
    * per query. This is the number that tunes `nprobe`/`numCentroids`/
    * codebook budgets in production: recall is measured on a query sample
    * against brute-force ground truth, then the cheapest config clearing
    * the target recall ships.
    *
    * Both inputs are (q_id, n_id[, rnk]) top-k results — #queries × k rows,
    * tiny regardless of corpus size, so the join is trivially
    * broadcastable and the measurement costs nothing next to the ground-
    * truth scan that produced `exact`. `recall_bp` is integer basis points
    * (floor(hits·10000/k)) — exact, engine-portable, no float averaging. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"recallAtK: k must be >= 1, got $k")
    val a = approx.select(col("q_id").as("_aq"), col("n_id").as("_an"))
    exact.select(col("q_id"), col("n_id"))
      .join(a, col("q_id") === col("_aq") && col("n_id") === col("_an"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("_an")).as("hits"))
      .select(col("q_id"), col("hits"),
        floor(col("hits") * 10000 / lit(k)).cast("long").as("recall_bp"))
  }

  /** Matryoshka-truncation recall: [[recallAtK]] of brute-force cosine over
    * only the FIRST `d` dimensions of each vector against full-dimension
    * ground truth. Matryoshka-representation-learned embeddings
    * (Kusupati et al. 2022) front-load information so a prefix slice is a
    * cheap lower-dimensional index; this measures exactly what that slice
    * costs in recall — the number that picks the serving dimension for a
    * 100 TB index (storage and dot-product cost scale linearly with d).
    *
    * Truncation is a per-row `slice` — map-side, no data copy beyond the
    * projection — and both rankings are [[cosineTopK]]'s broadcast-queries
    * shape, so the whole evaluation adds nothing to the ground-truth scan
    * it already needs. Same double-widening as every cosine path, so the
    * truncated ranking is engine-exact. */
  def mrlRecallAtK(queries: DataFrame, corpus: DataFrame, d: Int, k: Int): DataFrame = {
    require(d >= 1, s"mrlRecallAtK: d must be >= 1, got $d")
    def trunc(df: DataFrame) = df.withColumn("vec", slice(col("vec"), 1, d))
    recallAtK(
      cosineTopK(trunc(queries), trunc(corpus), k),
      cosineTopK(queries, corpus, k), k)
  }

  /** Trained coarse-quantizer handle — the K-centroid driver-side bound
    * every IVF path shares (the same class of model object as
    * [[Importance.DsirModel]]), made explicit so cells can be assigned
    * against a model trained once on the standing corpus (q155). Seed =
    * deterministic first-K (the only oracle-gated configuration;
    * Lloyd-refined centroids substitute without changing the assignment
    * shape). */
  case class IvfModel(centroids: Array[(Long, Seq[Double], Double)])

  def trainIvfSeed(corpus: DataFrame, numCentroids: Int): IvfModel =
    IvfModel(collectSeedCentroids(corpus, numCentroids, "trainIvfSeed"))

  /** Map-side cell assignment under a trained model: adds `cid` — the
    * SAME per-row centroid fold `ivfTopK`/[[ivfCellStats]] assign with
    * (argmax cosine, ties to the smaller cid), against the plan-literal
    * centroid array. ZERO shuffle, zero driver action (the model is
    * already collected). */
  def assignCells(df: DataFrame, model: IvfModel): DataFrame =
    df.withColumn("_vnorm", norm(col("vec")))
      .withColumn("_sims", centroidSims(col("vec"), col("_vnorm"),
        centroidArr(model.centroids)))
      .withColumn("cid", bestCentroid(col("_sims")).getField("cid"))
      .drop("_vnorm", "_sims")

  /** IVF cell-population diagnostic: per-cell vector counts and integer
    * basis-point shares under the SAME assignment [[ivfTopK]] uses (first-K
    * seed centroids, argmax cosine, ties to the smaller cid). Cell balance
    * is the health metric of an inverted-file index — a mega-cell means
    * probe latency skew (the q42 worst case) and a starved cell wastes its
    * centroid; production tunes `numCentroids`/training on exactly this
    * histogram.
    *
    * Scale shape: the centroid literal is the K-row driver-side bound every
    * IVF path shares; assignment is the map-side fold with zero corpus
    * Exchange; the count is one partial-aggregated shuffle of K-key rows;
    * the total joins back as a one-row broadcast scalar (the
    * [[graft.ops.ext.TextStats]] crossJoin precedent). Empty cells have no
    * row — their absence IS the starvation signal. `share_bp` is integer
    * division, engine-exact. */
  def ivfCellStats(corpus: DataFrame, numCentroids: Int): DataFrame = {
    val counts = assignCells(corpus, trainIvfSeed(corpus, numCentroids))
      .select(col("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("n_vecs"))
    val total = corpus.agg(count(lit(1)).as("_n"))
    counts.crossJoin(broadcast(total))
      .select(col("cid"), col("n_vecs"),
        expr("n_vecs * 10000 div _n").as("share_bp"))
  }

  /** Scalar int8 quantization report — the embedding-compression pass of a
    * large-scale ANN index build (4x smaller vectors; IVF probing and
    * Hamming-style prefilters run on the quantized form). `scale` MUST be
    * a power of two: `x * scale` is then EXACT in double arithmetic, so
    * quantized codes — `clamp(floor(x * scale + 0.5), -128, 127)` — and
    * the clipping counts are integer-exact and engine-portable; only
    * `max_abs_err` is a double, and it's a per-element max (order
    * independent, no summation-order hazard).
    *
    * Returns per vector: the first three codes (`q0..q2`), `n_clipped`,
    * the integer code sum `sum_q` (a cheap drift check), and
    * `max_abs_err`. Map-side only, scan-bound — no shuffle. `vectors`
    * must have columns `id` and `vec` (float array). */
  def quantizeInt8(vectors: DataFrame, scale: Int = 256): DataFrame = {
    require(scale > 0 && (scale & (scale - 1)) == 0,
      s"quantizeInt8: scale must be a power of two, got $scale")
    def raw(x: Column): Column = floor(x.cast("double") * scale + lit(0.5))
    def code(x: Column): Column = greatest(lit(-128L), least(lit(127L), raw(x)))
    // The code array is computed ONCE into its own column (CollapseProject
    // refuses to inline a non-cheap expression referenced more than once —
    // same pattern as withMinhashSignature) and the metrics are separate
    // cheap passes over it. Deliberately NOT a single wide-accumulator
    // fold: that rule pays when per-element work is expensive (md5); here
    // each element is a few arithmetic ops and a 7-field struct
    // accumulator allocates a row per element — measured 3x slower than
    // the multi-pass form. Empty arrays yield NULL q0..q2/sum_q/
    // max_abs_err and 0 n_clipped, matching DuckDB's list semantics
    // (`get` is the ANSI-safe out-of-bounds accessor).
    vectors
      .withColumn("_qa", transform(col("vec"), code(_)))
      .select(col("id"),
        get(col("_qa"), lit(0)).as("q0"),
        get(col("_qa"), lit(1)).as("q1"),
        get(col("_qa"), lit(2)).as("q2"),
        size(filter(col("vec"), x => raw(x) < -128 || raw(x) > 127))
          .cast("long").as("n_clipped"),
        aggregate(col("_qa"), lit(null).cast("long"),
          (acc, q) => coalesce(acc, lit(0L)) + q).as("sum_q"),
        array_max(zip_with(col("vec"), col("_qa"),
          (x, q) => abs(x.cast("double") - q / lit(scale.toDouble))))
          .as("max_abs_err"))
  }

  /** Per-dimension embedding drift between two corpus slices — the
    * monitoring pass that catches an embedding-model change, a feature
    * pipeline bug, or genuine distribution shift before a refreshed slice
    * is mixed into an ANN index or training set: per dimension, the count
    * and mean of slice A (`inA`) vs slice B, and the absolute mean shift.
    *
    * Cross-row float sums are summation-ORDER-dependent, so a naive
    * per-dim `avg(v)` differs run to run and engine to engine. Instead
    * each element is quantized to an integer at a power-of-two `scale`
    * (`floor(x·scale + 0.5)` — exact in double arithmetic, the
    * [[quantizeInt8]] contract) and the BIGINT sums are order-independent
    * and engine-exact; means divide those exact integers as doubles.
    *
    * Scale shape: explode is map-side; the one shuffle partial-aggregates
    * to `dims` keys per task, so the exchange carries ~dims rows per task
    * regardless of corpus size — output is `dims` rows total.
    *
    * Output: `(dim, n_a, n_b, mean_a, mean_b, shift)`. */
  def dimensionDrift(
      vectors: DataFrame, vecCol: Column, inA: Column,
      scale: Int = 1 << 20): DataFrame = {
    require(scale > 0 && (scale & (scale - 1)) == 0,
      s"dimensionDrift: scale must be a power of two, got $scale")
    val s = scale.toDouble
    vectors
      .select(inA.as("_a"), posexplode(vecCol.cast("array<double>")))
      .select(col("_a"), col("pos").cast("long").as("dim"),
        floor(col("col") * s + lit(0.5)).cast("long").as("_q"))
      .groupBy(col("dim"))
      .agg(
        sum(when(col("_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("_a"), 1L).otherwise(0L)).as("n_b"),
        coalesce(sum(when(col("_a"), col("_q"))), lit(0L)).as("_sa"),
        coalesce(sum(when(!col("_a"), col("_q"))), lit(0L)).as("_sb"))
      .select(col("dim"), col("n_a"), col("n_b"),
        (col("_sa").cast("double") / (col("n_a").cast("double") * s)).as("mean_a"),
        (col("_sb").cast("double") / (col("n_b").cast("double") * s)).as("mean_b"),
        abs(col("_sa").cast("double") / (col("n_a").cast("double") * s) -
          col("_sb").cast("double") / (col("n_b").cast("double") * s)).as("shift"))
  }
}
