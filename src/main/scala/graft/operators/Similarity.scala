package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorMath

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (`Array[Float]`, widened to array<double> for portable arithmetic).
 *
 *  - [[bruteForceTopK]] — the exact baseline: broadcast the (small) query
 *    set against the full corpus, cosine via ordered-fold `zip_with` /
 *    `aggregate`, per-query top-k via window. The corpus side never
 *    shuffles for the join (queries are broadcast); the window shuffles
 *    only (query_id, cos, vec_id) triples.
 *  - [[lshTopK]] — the scale path: random-hyperplane signed LSH buckets
 *    computed once per vector (narrow), candidates restricted to the
 *    query's bucket. At 100 TB the bucket column is a partition/bucketing
 *    key, so a query touches 1/2^planes of the data.
 *
 * Hyperplane weights derive from the portable [[graft.functions.Signatures.hash64]] of
 * `"hp<p>_<d>"`, so the DuckDB oracle regenerates the identical planes and
 * the whole ANN pipeline is value-verified, not just row-counted.
 */
object Similarity {

  /** embeddings with double vectors + precomputed squared norm. */
  def prepared(emb: DataFrame): DataFrame = {
    graft.GraftExtensions.ensureRegistered(emb.sparkSession)
    emb.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("vec"))
      .withColumn("sq", VectorMath.normSq("vec"))
  }

  /** Rank scored candidates per query, keep top k, normalize output. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Exact cosine top-k for each query vector (default: vec_id < nQueries
    * drawn from the corpus itself). */
  def bruteForceTopK(emb: DataFrame, k: Int = 10, nQueries: Int = 5): DataFrame = {
    val v = prepared(emb)
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("sq").as("qsq"))
    rankTopK(
      v.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("cos",
          VectorMath.dot("vec", "qvec") / sqrt(col("sq") * col("qsq"))),
      k)
  }

  val LshPlanes = 6

  /** Deterministic pseudo-random hyperplanes: w(p,d) =
    * ((hash64("hp<p>_<d>") % 2001) − 1000) / 1000.0 ∈ [−1, 1]. Generated
    * host-side with the same md5 formula the oracle uses in SQL. */
  def hyperplanes(planes: Int = LshPlanes, dims: Int = 64): Seq[Seq[Double]] =
    (0 until planes).map { p =>
      (0 until dims).map { d =>
        ((graft.functions.Signatures.hash64String(s"hp${p}_$d") % 2001) - 1000) / 1000.0
      }
    }

  /** Signed-hyperplane LSH bucket id for every vector — a narrow, codegen'd
    * projection (planes are a literal array<array<double>>). */
  def withBucket(v: DataFrame, planes: Int = LshPlanes): DataFrame = {
    val hp = typedLit(hyperplanes(planes))
    v.withColumn("planes", hp)
      .withColumn("bucket",
        expr(
          s"""aggregate(sequence(0, ${planes - 1}), 0,
             |  (acc, p) -> acc + shiftleft(
             |    case when ${VectorMath.dotSql("vec", "element_at(planes, p + 1)")} > cast(0 as double)
             |      then 1 else 0 end, p))""".stripMargin))
      .drop("planes")
  }

  val IvfCentroids = 16
  val IvfProbes = 2

  /** Centroid count as a function of corpus size: k = max(16, ⌈N / 256⌉),
    * i.e. expected cell occupancy is pinned at [[MaxMembersPerCell]] BY
    * CONSTRUCTION rather than growing linearly with the corpus. This is
    * what keeps every cell-blocked pair family (SemDeDup, hard-negative
    * mining) from going quadratic at 100×: per-cell pair work stays
    * O(256²) as N grows because k grows with N — the standard IVF sizing
    * rule (FAISS's k ≈ N/target_list_len; SemDeDup runs k = 50k for
    * LAION). The DuckDB oracles compute the identical
    * GREATEST(16, CEIL(COUNT(*)/256.0)) so the value gate tracks k. */
  def centroidCount(corpusSize: Long): Int =
    math.max(IvfCentroids,
      math.ceil(corpusSize.toDouble / MaxMembersPerCell).toInt)

  /** Centroid-TRAINING sample bound for the QUERY-serving index
    * ([[ivfTopK]] / [[ivfPqTopK]] / [[recallReport]]): the centroid set
    * derives from the first min(N, QueryTrainSample) corpus vectors, so
    * k_q = [[queryCentroidCount]] — and with it the per-vector assignment
    * cost of the index BUILD — is bounded by the sample, not the corpus.
    *
    * Why the query path gets its own k: [[centroidCount]]'s k ∝ N exists
    * to pin EXPECTED CELL OCCUPANCY at 256 for the quadratic PAIR
    * consumers (SemDeDup / hard negatives — per-cell pair work must stay
    * O(256²)), but it makes the index build O(N·k) = O(N²/256) flat /
    * O(N·√k) = O(N^1.5) two-level — the ramp's measured worst rung two
    * rounds running (VERDICT r14 #4). A top-k QUERY has no occupancy
    * constraint: probe cost is probes·N/k_q — linear in N for any fixed
    * k_q — and build is O(N·k_q), also linear. This is the standard
    * production IVF discipline (FAISS trains centroids on a bounded
    * 30·k–256·k sample, never the corpus; the trained quantizer is an
    * artifact the full corpus is then assigned through in one linear
    * pass). Here "training" is the same deterministic draw as ever
    * (vec_id ∈ [100, 100+k)) — only k's GROWTH is sample-bounded.
    *
    * Default 4096 = IvfCentroids·MaxMembersPerCell, i.e. k_q = 16 until a
    * deployment raises the sample (k_q = S/256 centroids, each trained on
    * ~256 sample vectors; build stays O(N·S/256) — linear in the corpus
    * for any fixed S). The DuckDB oracles mirror the identical
    * GREATEST(16, CEIL(LEAST(n, S)/256.0)) so the value gate tracks k_q. */
  // lazy: MaxMembersPerCell is declared further down the object body, and
  // an eager val here would read its pre-init 0.
  // Deployment hook (ADVICE r15): SPARK_GRAFT_QUERY_TRAIN_SAMPLE raises
  // the sample — and with it k_q — without a rebuild; the DuckDB oracles
  // interpolate THIS value into their SQL (kCentQuerySub), so the value
  // gate tracks whatever a deployment sets. The large-k_q dispatch this
  // unlocks (ivfTopKTree / the tree branches of ivfPqTopK/ivfIndexBuild)
  // is pinned reachable by RecallWitnessSpec at the default sample too.
  lazy val QueryTrainSample: Long =
    sys.env.get("SPARK_GRAFT_QUERY_TRAIN_SAMPLE").map(_.toLong)
      .getOrElse(IvfCentroids.toLong * MaxMembersPerCell)

  /** [[centroidCount]] of the bounded training sample — the query-serving
    * index's k. Recall under the sample bound, MEASURED in the divergent
    * regime (`RecallWitnessSpec`, n = 4× sample, k_q = 16 vs occupancy
    * k = 65 on the ramped real corpus): the EXACT-scoring arm (ivf) is
    * unchanged-or-better — fewer, larger cells mean 2 probes cover a
    * larger corpus fraction and every candidate is scored by true cosine
    * (1.0 → 1.0 measured). The PQ-scored arm (ivfpq) TRADES recall for
    * the smaller index: larger probed lists put more PQ-approximate
    * candidates in front of the true top-k (0.58 → 0.48 measured, −0.10).
    * A deployment that needs the PQ arm's recall back raises
    * SPARK_GRAFT_QUERY_TRAIN_SAMPLE (k_q = S/256 — build stays linear in
    * the corpus for any fixed S) — the standard FAISS nlist/nprobe-style
    * trade, now a measured knob instead of an asserted non-event. */
  def queryCentroidCount(corpusSize: Long): Int =
    centroidCount(math.min(corpusSize, QueryTrainSample))

  /** Block slots per cell in [[withCellBlock]]'s id packing (block id =
    * cell·stride + rank/cap). Shared with the DuckDB oracle builders so
    * changing the packing cannot silently desynchronize the value gate. */
  val CellBlockStride = 65536L

  /** Collected centroid table: (centroid_id, vector, squared norm), sorted
    * by id; k = [[centroidCount]] of the corpus. k rows of driver-side job
    * planning — at real scale these are k-means centroids loaded from an
    * offline artifact, never a shuffle (and the literal-argmax assignment
    * becomes a broadcast-join argmin once k outgrows a literal array). */
  private def collectCentroids(v: DataFrame): Array[(Long, Seq[Double], Double)] =
    collectCentroids(v, v.count())

  /** Overload threading a pre-computed corpus count, so pipelines that
    * already know N (or run several centroid consumers over one prepared
    * frame, e.g. [[recallReport]]) pay the zero-column count pass once
    * instead of once per invocation. */
  private def collectCentroids(v: DataFrame,
      corpusSize: Long): Array[(Long, Seq[Double], Double)] =
    collectCentroidsK(v, centroidCount(corpusSize))

  /** Same collect keyed directly on k, for callers that already computed
    * it (saves the zero-column count pass). */
  private[graft] def collectCentroidsK(v: DataFrame,
      k: Int): Array[(Long, Seq[Double], Double)] = {
    val arr = v.filter(col("vec_id") >= 100 && col("vec_id") < 100 + k)
      .select((col("vec_id") - 100).as("centroid_id"), col("vec"), col("sq"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    // every literal-regime centroid collect is LEDGERED so the AnnGate
    // driver-rows assertion sees it — this helper was the one k-row
    // collect the ledger couldn't account for
    ledger(arr.length)(arr)
  }

  /** Hard per-cell occupancy cap for the QUADRATIC consumers (pair
    * generation): appends `cell_blk` = the cell id subdivided into
    * deterministic blocks of ≤ `cap` members (rank by vec_id within the
    * cell). [[centroidCount]] bounds EXPECTED occupancy; this bounds the
    * worst case — an adversarial corpus that piles onto one centroid still
    * yields ≤ cap·(cap−1) pairs per block instead of m². The split is a
    * rank window partitioned by cell: linear, one pass, and only as skewed
    * as the input itself — the acceptable price for making the downstream
    * self-join's cost bounded by construction. Pairs that straddle a block
    * boundary are sacrificed (the same recall trade every blocking cap in
    * the dedup family makes, e.g. the SimHash 5% bucket cap).
    *
    * Id packing: block id = cell·65536 + rank/cap, i.e. 65536 block slots
    * per cell = headroom for 65536·cap ≈ 16.7M members piling onto ONE
    * cell before adjacent cells' id ranges could touch — with k scaled to
    * the corpus that is a >4000× single-cell skew, far past anything the
    * assignment can produce (and cell ids ~N/256 keep the product well
    * inside a long). */
  /** Explicit pair-join fan-out: repartition a blocked frame by its
    * bucket key into a USER-SPECIFIED partition count before a self-join
    * that explodes. AQE's partition coalescing sizes post-shuffle
    * partitions by INPUT bytes and is blind to join-OUTPUT explosion —
    * measured r16 at the 512× deep rung: a ~50 MB banded-signature frame
    * coalesced to ONE partition and the 113M-pair explosion ran on 1 of
    * 32 cores. A user-specified repartition is exempt from AQE
    * coalescing, and the self-join's equi keys match the repartition
    * keys, so both aliases reuse the one exchange and the pair work fans
    * out at the declared width. At a real cluster width this is the
    * difference between a pair stage that uses the cluster and one that
    * serializes on whatever AQE guessed from pre-explosion bytes. */
  private[operators] def pairFanout(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(
      math.max(df.sparkSession.sparkContext.defaultParallelism * 2, 16),
      keys: _*)

  def withCellBlock(v: DataFrame, cap: Int = MaxMembersPerCell): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("vec_id"))
    v.withColumn("cell_blk",
      col("cell") * lit(CellBlockStride) +
        floor((row_number().over(w) - lit(1)) / lit(cap)).cast("long"))
  }

  /** Largest centroid set the literal-argmax plan embeds in the row
    * projection. Past this, k × dims literal doubles blow up codegen (and
    * eventually the plan itself), so assignment switches to the broadcast
    * plan in [[bestCentroid]]. Both plans compute the identical argmax with
    * the identical tie-break, so results — and the DuckDB oracles — are
    * plan-independent. */
  val LiteralCentroidMax = 128

  /** v + `best` = struct(score, −centroid_id) of the nearest centroid
    * (max = score desc, centroid id asc tie-break). Two physical plans:
    *  - k ≤ [[LiteralCentroidMax]]: `array_max` over a literal struct
    *    array — fully narrow, zero Exchange, the fastest shape while the
    *    centroid table fits a codegen'd projection;
    *  - larger k (the 100 TB regime — [[centroidCount]] grows k with the
    *    corpus): broadcast the centroid TABLE, cross-join, and take
    *    max(candidate) per vector. The partial aggregate collapses each
    *    vector's k candidates map-side (all k copies of a row are born in
    *    its own partition), so the one Exchange carries ~|corpus| collapsed
    *    rows, never |corpus|·k. */
  private[graft] def bestCentroid(v: DataFrame,
      cents: Array[(Long, Seq[Double], Double)]): DataFrame =
    bestCentroid(v, cents, literal = cents.length <= LiteralCentroidMax)

  private[graft] def bestCentroid(v: DataFrame,
      cents: Array[(Long, Seq[Double], Double)], literal: Boolean): DataFrame = {
    require(cents.nonEmpty, "IVF centroid set is empty")
    if (literal) {
      // ONE native argmax expression over a primitive centroid matrix
      // (identical arithmetic, ordering and null dispatch to the
      // array_max-over-struct-literals projection it replaces — see
      // BestCentroidKernel; CellCapSpec pins agreement with the broadcast
      // plan): k struct constructions + k boxed typedLit dot products per
      // corpus row collapse into one primitive k×dims loop, the dominant
      // per-row term of every literal-regime assignment (guide §4)
      v.withColumn("best", org.apache.spark.sql.graftutil.ColumnFromExpr.column(
        graft.functions.BestCentroidLitExpr(
          org.apache.spark.sql.graftutil.ColumnFromExpr.expr(col("vec")),
          org.apache.spark.sql.graftutil.ColumnFromExpr.expr(col("sq")),
          cents.toSeq)))
    } else {
      val spark = v.sparkSession
      import spark.implicits._
      val cdf = cents.toSeq.toDF("centroid_id", "cvec", "csq")
      val carried = v.columns.filterNot(_ == "vec_id").toSeq
      v.crossJoin(broadcast(cdf))
        .withColumn("cand", struct(
          (call_function("vec_dot", col("vec"), col("cvec")) /
            sqrt(col("sq") * col("csq"))).as("s"),
          (-col("centroid_id")).as("ncid")))
        .groupBy(col("vec_id"))
        // non-key columns are constant within a group (k copies of one row),
        // so first() is value-deterministic
        .agg(max(col("cand")).as("best"),
          carried.map(c => first(col(c)).as(c)): _*)
        .select((Seq("vec_id") ++ carried).map(col) :+ col("best"): _*)
    }
  }

  /** The fine centroid set as a DATAFRAME — (centroid_id, cvec, csq), k
    * rows, never collected: the artifact representation every two-level
    * consumer works from once k outgrows what a driver Array / broadcast
    * should hold. */
  private[graft] def centroidFrame(v: DataFrame, k: Int): DataFrame =
    v.filter(col("vec_id") >= 100 && col("vec_id") < 100 + k)
      .select((col("vec_id") - 100).as("centroid_id"),
        col("vec").as("cvec"), col("sq").as("csq"))

  /** Largest centroid set the FLAT broadcast-join argmax
    * ([[bestCentroid]]'s non-literal plan) is allowed to carry — now a
    * BOUND on the flat kernel's auxiliary uses (the [[recallReport]]
    * literal-regime harness, spec cross-checks, the r11 crossover
    * brackets recorded in BENCH_NOTES.md), NOT the assignment
    * dispatch threshold. r16: the occupancy-pinned k ∝ N (k ≈ N/256)
    * makes ANY flat plan O(N·k) = O(N²/256) — the r15 deep ramp convicted
    * the flat path at the 512× rung (`sim_hard_negatives` 98.5 s floor =
    * growth 5.37 at k = 500) and the O(N·√k) two-level at the same rung
    * (growth 2.099), both superlinear. Assignment now dispatches to the
    * log-tree ([[bestCentroidTree]], O(N·log k)) for every k past
    * [[LiteralCentroidMax]]; "flat is measured-faster at k = 500" was a
    * constant-factor argument the asymptotics lose at 100 TB. */
  val FlatCentroidMax = 1024

  /** Interior fanout of the log-tree quantizer: each level of the nested
    * centroid hierarchy is ~[[TreeFanout]]× the one above it, so a vector
    * descends ⌈log_B k⌉ levels scoring ~B·(probed groups) candidates per
    * level — O(N·B·log_B k) total assignment work where the flat plans
    * are O(N·k) and the old two-level O(N·√k). 8 keeps every level's
    * narrow/broadcast hop tiny while the level count grows only by ONE
    * per 8× centroid growth — the shape whose per-rung ramp growth decays
    * toward 1.0 instead of √8 ≈ 2.83. */
  val TreeFanout = 8

  /** Largest mid-level the tree assignment broadcasts into its probe
    * join; bigger levels fall back to a shuffle-hash join (the fine level
    * NEVER broadcasts regardless — it is O(N/256) rows at 100 TB).
    * 65 536 rows × ~0.5 KB vector ≈ 32 MB — a deliberate broadcast, above
    * the 10 MB auto threshold but far under executor memory. */
  val MidBroadcastMaxRows = 65536L

  /** Largest parent level the tree BUILD collects to the driver for flat
    * parent assignment; past it, parents are assigned by the distributed
    * greedy descent through the already-built upper levels — the driver
    * never holds more than [[LiteralCentroidMax]] + O(B) rows however
    * large k grows. */
  val TreeBuildCollectMax: Int = LiteralCentroidMax

  /** Level strides of the log-tree for k fine centroids: powers of
    * [[TreeFanout]], coarsest first, finest always 1. Level i holds the
    * centroids whose id divides stride i, so the levels are NESTED
    * subsets (S₀ ⊂ S₁ ⊂ … ⊂ fine — every interior node IS a fine
    * centroid, which is what makes every scored cosine an ACHIEVABLE
    * lower bound during assignment). Depth L = ⌈log_B k⌉ (min 2, and one
    * level dropped when the coarse set would fall under B nodes — a
    * 3-node coarse level prunes nothing and costs a pass). */
  private[graft] def treeStrides(k: Int): Seq[Long] = {
    require(k >= 1, s"treeStrides: k=$k")
    val b = TreeFanout.toDouble
    var levels = math.max(2, math.ceil(math.log(k.toDouble) / math.log(b)).toInt)
    def coarseSize(l: Int): Long =
      math.ceil(k.toDouble / math.pow(b, (l - 1).toDouble)).toLong
    while (levels > 2 && coarseSize(levels) < TreeFanout) levels -= 1
    (0 until levels).map(i => math.pow(b, (levels - 1 - i).toDouble).toLong)
  }

  /** cos(θ_vg − r_g) for θ_vg ≥ r_g (s ≤ mcos) — the spherical ball-cover
    * upper bound on the cosine between v and ANY member of a group whose
    * representative scores `s` against v and whose angular radius is
    * acos(r). The ball contains the vector's direction when s > r and the
    * bound is vacuous (UB = 1). */
  private def coneUb(s: Column, r: Column): Column =
    when(s >= r, lit(1.0))
      .otherwise(s * r +
        sqrt(greatest(lit(0.0), lit(1.0) - s * s)) *
          sqrt(greatest(lit(0.0), lit(1.0) - r * r)))

  /** The reusable log-tree quantizer — everything [[bestCentroidTree]]
    * derives from `(centDf, k)` alone, so a caller that assigns MANY
    * frames against one centroid artifact (the streaming micro-batch
    * path, the k-means iteration) builds it once instead of re-running
    * the level-construction jobs per batch.
    *
    *  - `coarse`: the top level — the ONLY driver state, O(B) rows
    *    (8–64 at any k: depth grows instead of the coarse set).
    *  - `coarseRad`: the same rows as a broadcastable frame with each
    *    node's subtree radius (min cosine to any FINE descendant).
    *  - `mids`: interior levels 1..L−2 — (grp = parent id one level up,
    *    centroid_id, cvec, csq, rad), persisted, never collected.
    *  - `fine`: level L−1 = all k centroids with their parent ids,
    *    persisted, never collected OR broadcast. */
  private[graft] case class TreeIndex(
      k: Int,
      strides: Seq[Long],
      coarse: Array[(Long, Seq[Double], Double)],
      coarseRad: DataFrame,
      mids: Seq[DataFrame],
      fine: DataFrame) {
    /** Drop the persisted level frames. Call once the LAST assignment
      * built from this index has MATERIALIZED (the cache manager holds
      * strong references, so an unreleased one-shot index leaks the
      * persisted levels — per k-means iteration before this hook
      * existed). Lazily-consumed callers (the query entries whose frames
      * execute later) keep the index alive for the session; the
      * bench/gate clearCache covers those. */
    def release(): Unit =
      if (!fine.sparkSession.sparkContext.isStopped)
        (coarseRad +: fine +: mids).foreach(_.unpersist(blocking = false))
    /** An external cacheManager.clearCache() (the bench between rungs,
      * the gate spec between queries) drops the storage but not the
      * frames; re-assert the level so a long-lived index (the streaming
      * ingest holds one for a stream's lifetime) caches the levels again
      * instead of silently re-deriving them every micro-batch. */
    private[graft] def reassertPersist(): Unit =
      (coarseRad +: fine +: mids).foreach { df =>
        if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
          df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
  }

  /** Exact log-tree (hierarchical) nearest-centroid assignment — the
    * 100 TB shape of [[bestCentroid]], generalizing the r11 two-level
    * plan to ⌈log_B k⌉ levels: neither the driver nor any broadcast ever
    * holds more than O(B) + one mid level of rows, and per-vector
    * assignment work is O(B·log_B k) where flat is O(k) and two-level
    * O(√k) — with k ∝ N (the occupancy pin), the ONLY of the three whose
    * per-rung ramp growth decays toward 1.0.
    *
    * Structure (FAISS's IVF-in-IVF stacked, made EXACT with ball-cover
    * bounds):
    *  1. nested strided levels S₀ ⊂ S₁ ⊂ … ⊂ S_{L−1} = all k
    *     ([[treeStrides]]); every interior node is itself a fine
    *     centroid;
    *  2. each level-i node joins a PARENT one level up (flat argmax while
    *     the parent level fits [[TreeBuildCollectMax]], the distributed
    *     greedy descent past it), with nodes already present one level up
    *     parenting THEMSELVES — so every interior node has ≥ 1 child and
    *     ≥ 1 fine descendant by construction (no empty-subtree drops);
    *  3. each interior node records its subtree radius r_u = min cosine
    *     to any fine centroid in its subtree (measured, not recursed —
    *     parents need not be nearest for EXACTNESS, only for tight
    *     radii, which is why the greedy build step is allowed).
    *
    * Assignment of a vector v:
    *  4. LB = cos(v, best coarse node) — achievable because S₀ ⊂ fine —
    *     via the narrow literal [[bestCentroid]] over O(B) rows; then
    *     keep exactly the coarse subtrees whose ball-cover bound
    *     [[coneUb]] could still beat LB (broadcast crossJoin + filter,
    *     map-side);
    *  5. per interior level: surviving (vector, grp) rows equi-join the
    *     level's children on grp (broadcast while the level is small,
    *     shuffle-hash past [[MidBroadcastMaxRows]]), score each child,
    *     and keep the children whose subtree bound passes the SAME LB
    *     filter — the lower bound stays the level-0 one (static-LB
    *     variant: still exact, no per-level re-aggregation pass);
    *  6. fine level: surviving rows shuffle-hash-join the fine frame on
    *     grp (the fine side is explicitly hinted so it NEVER broadcasts),
    *     score with the identical candidate kernel, and a map-side
    *     collapsed groupBy(vec_id) takes the same (score, −centroid_id)
    *     struct max as the flat plans.
    *
    * Exactness: the global argmax f* lives in one subtree per level, and
    * each such subtree's bound satisfies UB ≥ cos(v, f*) ≥ LB, so f*'s
    * whole ancestor chain survives every filter and f* is scored at the
    * fine level — as is every centroid TIED with it, so the struct max
    * (score desc, centroid id asc) is BIT-IDENTICAL to the flat argmax
    * (ε absorbs float rounding in the bound arithmetic only; candidate
    * scores are the exact kernel). Gated by `CellCapSpec` and the
    * `sim_ivf_twolevel` oracle, whose DuckDB side computes the flat
    * assignment. */
  private[graft] def buildTreeIndex(centDf: DataFrame, k: Int,
      maxParentCollect: Int = TreeBuildCollectMax): TreeIndex = {
    val spark = centDf.sparkSession
    import spark.implicits._
    val strides = treeStrides(k)
    val levels = strides.length
    // the centroid frame is k rows but its LINEAGE is usually a corpus
    // scan (centroidFrame filters the corpus by id range): pin it once so
    // the ~2L build jobs below read k cached rows instead of re-scanning
    // the corpus per job (measured r16 at the 512× rung: the un-pinned
    // build re-scanned a 128k-row corpus ~10×, dominating sim_ivf_twolevel)
    val cent = centDf.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cent.count()
    def levelDf(i: Int): DataFrame =
      if (strides(i) == 1L) cent
      else cent.filter(col("centroid_id") % strides(i) === 0)
    def levelSize(i: Int): Long = math.ceil(k.toDouble / strides(i)).toLong
    // (1) the coarse level — the only rows the driver ever holds
    val coarse: Array[(Long, Seq[Double], Double)] = levelDf(0)
      .select(col("centroid_id"), col("cvec"), col("csq"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    driverCollectRows.addAndGet(coarse.length)
    require(coarse.nonEmpty, "tree coarse centroid set is empty")
    // (2) parent maps, top-down: level i's nodes parented into level i−1.
    // Self-parenting first — a node already present one level up is its
    // own parent, so every interior node has ≥1 child (itself) and the
    // descent joins below can never drop a member.
    val parentMaps = new Array[DataFrame](levels)
    def greedyDescent(members: DataFrame, toLevel: Int): DataFrame = {
      // members: (vec_id, vec, sq) → one greedy argmax hop per level; no
      // backtracking (parents need not be nearest — see exactness note)
      var cur = bestCentroid(members, coarse)
      for (j <- 1 to toLevel) {
        val lvl = parentMaps(j).select(col("grp").as("pgrp"),
          col("centroid_id"), col("cvec"), col("csq"))
        cur = cur
          .withColumn("grp", -col("best").getField("ncid")).drop("best")
          .join(lvl, col("grp") === col("pgrp"))
          .withColumn("cand", struct(
            (call_function("vec_dot", col("vec"), col("cvec")) /
              sqrt(col("sq") * col("csq"))).as("s"),
            (-col("centroid_id")).as("ncid")))
          .groupBy(col("vec_id"))
          .agg(max(col("cand")).as("best"),
            first(col("vec")).as("vec"), first(col("sq")).as("sq"))
      }
      cur
    }
    for (i <- 1 until levels) {
      val own = levelDf(i)
        .filter(col("centroid_id") % strides(i - 1) === 0)
        .withColumn("grp", col("centroid_id"))
        .select(col("centroid_id"), col("cvec"), col("csq"), col("grp"))
      val rest = levelDf(i)
        .filter(col("centroid_id") % strides(i - 1) =!= 0)
        .select(col("centroid_id").as("vec_id"), col("cvec").as("vec"),
          col("csq").as("sq"))
      val assigned =
        if (i == 1) bestCentroid(rest, coarse)
        else if (levelSize(i - 1) <= maxParentCollect) {
          val parr = levelDf(i - 1)
            .select(col("centroid_id"), col("cvec"), col("csq"))
            .collect()
            .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
            .sortBy(_._1)
          ledger(parr.length)(bestCentroid(rest, parr))
        } else greedyDescent(rest, i - 1)
      val restMap = assigned.select(col("vec_id").as("centroid_id"),
        col("vec").as("cvec"), col("sq").as("csq"),
        (-col("best").getField("ncid")).as("grp"))
      parentMaps(i) = own.unionByName(restMap)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // (3) subtree radii, measured against the FINE descendants: walk each
    // fine centroid's ancestor chain up the parent maps, then one
    // min-cosine aggregation per interior level. Measured radii make the
    // ball-cover bounds valid for ANY parent assignment.
    var chain = parentMaps(levels - 1).select(
      col("cvec").as("fvec"), col("csq").as("fsq"),
      col("grp").as(s"anc${levels - 2}"))
    for (j <- (levels - 2) to 1 by -1)
      chain = chain.join(
        parentMaps(j).select(col("centroid_id").as("aid_"),
          col("grp").as(s"anc${j - 1}")),
        col(s"anc$j") === col("aid_")).drop("aid_")
    def radFrame(j: Int): DataFrame =
      chain.join(
          levelDf(j).select(col("centroid_id").as("aid"),
            col("cvec").as("avec"), col("csq").as("asq")),
          col(s"anc$j") === col("aid"))
        .withColumn("fcos",
          call_function("vec_dot", col("avec"), col("fvec")) /
            sqrt(col("asq") * col("fsq")))
        .groupBy(col("aid"))
        .agg(min(col("fcos")).as("rad"))
    val coarseRad = levelDf(0)
      .join(radFrame(0), col("centroid_id") === col("aid"))
      .select(col("centroid_id").as("grp"), col("cvec").as("gvec"),
        col("csq").as("gsq"), col("rad").as("mcos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mids = (1 to levels - 2).map { j =>
      parentMaps(j)
        .join(radFrame(j), col("centroid_id") === col("aid"))
        .select(col("grp"), col("centroid_id"), col("cvec"), col("csq"),
          col("rad"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // materialize the artifact levels once, then drop the build-only
    // scaffolding (interior parent maps live on inside `mids`; the pinned
    // centroid frame has served its ~2L build reads)
    (coarseRad +: parentMaps(levels - 1) +: mids).foreach(_.count())
    (1 to levels - 2).foreach(j => parentMaps(j).unpersist(blocking = false))
    cent.unpersist(blocking = false)
    TreeIndex(k, strides, coarse, coarseRad, mids, parentMaps(levels - 1))
  }

  private[graft] def bestCentroidTree(v: DataFrame, centDf: DataFrame,
      k: Int, eps: Double = 1e-9): DataFrame =
    bestCentroidTree(v, buildTreeIndex(centDf, k), eps)

  /** Fine-candidate probe (steps 4–5 + the fine join of the tree plan):
    * every (vector, fine centroid) pair that survives the ball-cover
    * descent, with v's columns carried and the candidate's
    * (centroid_id, cvec, csq) attached — the shared core under
    * [[bestCentroidTree]] (argmax collapse) and the runner-up probe in
    * [[top2Centroids]] (winner-nulled collapse). */
  private[graft] def treeCandidates(v: DataFrame, idx: TreeIndex,
      eps: Double): DataFrame = {
    idx.reassertPersist()
    val vCols = v.columns.toSeq
    // (4) achievable LB from the narrow coarse argmax, then the coarse
    // subtree expansion — broadcast crossJoin + cone filter, map-side
    val withLb = bestCentroid(v, idx.coarse)
      .withColumn("lb", col("best").getField("s")).drop("best")
    var cur = withLb.crossJoin(broadcast(idx.coarseRad))
      .withColumn("s",
        call_function("vec_dot", col("vec"), col("gvec")) /
          sqrt(col("sq") * col("gsq")))
      .withColumn("ub", coneUb(col("s"), col("mcos")))
      .filter(col("ub") >= col("lb") - lit(eps))
      .select(vCols.map(col) ++ Seq(col("lb"), col("grp")): _*)
    // (5) interior descent: children of surviving groups, same static-LB
    // cone filter per level
    idx.mids.zipWithIndex.foreach { case (mid, j) =>
      val rows = math.ceil(idx.k.toDouble / idx.strides(j + 1)).toLong
      val lvl = mid.select(col("grp").as("pgrp"), col("centroid_id"),
        col("cvec"), col("csq"), col("rad"))
      val side = if (rows <= MidBroadcastMaxRows) broadcast(lvl)
        else lvl.hint("shuffle_hash")
      cur = cur.join(side, col("grp") === col("pgrp"))
        .withColumn("s",
          call_function("vec_dot", col("vec"), col("cvec")) /
            sqrt(col("sq") * col("csq")))
        .withColumn("ub", coneUb(col("s"), col("rad")))
        .filter(col("ub") >= col("lb") - lit(eps))
        .select(vCols.map(col) ++
          Seq(col("lb"), col("centroid_id").as("grp")): _*)
    }
    // (6) fine join on grp — shuffle-hash, fine side must not broadcast
    cur.join(idx.fine.select(col("grp"), col("centroid_id"),
        col("cvec"), col("csq")).hint("shuffle_hash"), Seq("grp"))
      .select(vCols.map(col) ++
        Seq(col("centroid_id"), col("cvec"), col("csq")): _*)
  }

  /** Tree assignment against a prebuilt quantizer: probe, then the same
    * (score, −centroid_id) struct-max collapse as the flat plans —
    * map-side partial aggregation, so the one Exchange carries ~|corpus|
    * collapsed rows. */
  private[graft] def bestCentroidTree(v: DataFrame, idx: TreeIndex,
      eps: Double): DataFrame = {
    val carried = v.columns.filterNot(_ == "vec_id").toSeq
    treeCandidates(v, idx, eps)
      .withColumn("cand", struct(
        (call_function("vec_dot", col("vec"), col("cvec")) /
          sqrt(col("sq") * col("csq"))).as("s"),
        (-col("centroid_id")).as("ncid")))
      .groupBy(col("vec_id"))
      .agg(max(col("cand")).as("best"),
        carried.map(c => first(col(c)).as(c)): _*)
      .select((Seq("vec_id") ++ carried).map(col) :+ col("best"): _*)
  }

  /** Cell assignment through the log-tree plan — the entry the 100 TB
    * regime uses (k > [[LiteralCentroidMax]]), exposed directly so the
    * value gate can force it at any size: `sim_ivf_twolevel`'s DuckDB
    * oracle computes the FLAT argmax, so the oracle passing IS the
    * exactness proof. (Key name is historical — the r11 two-level plan
    * this generalizes; the bench key string stays comparable across
    * rounds.) */
  def withIvfCellTree(v: DataFrame): DataFrame = {
    val k = centroidCount(v.count())
    bestCentroidTree(v, centroidFrame(v, k), k)
      .withColumn("cell", -col("best").getField("ncid"))
      .select(col("vec_id"), col("label"), col("vec"), col("sq"), col("cell"))
  }

  /** Scale-dispatching cell assignment: flat literal argmax while the
    * centroid artifact fits a codegen'd projection, the log-tree past
    * [[LiteralCentroidMax]] — the r16 dispatch (flat-broadcast carried a
    * quadratic tail the r15 deep ramp measured; see [[FlatCentroidMax]]). */
  def withIvfCellAtScale(v: DataFrame): DataFrame = {
    val n = v.count()
    val k = centroidCount(n)
    if (k <= LiteralCentroidMax) withIvfCell(v, collectCentroids(v, n))
    else bestCentroidTree(v, centroidFrame(v, k), k)
      .withColumn("cell", -col("best").getField("ncid"))
      .select(col("vec_id"), col("label"), col("vec"), col("sq"), col("cell"))
  }

  /** Hierarchical cell-population report (same output shape as
    * [[ivfCellStats]]) — the oracle-gated witness that the log-tree
    * plan's assignment is bit-identical to the flat argmax. */
  def ivfCellStatsTree(emb: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    // pinned: count + centroid extraction + assignment are three passes
    // over the prepared corpus (r16)
    withIvfCellTree(prepared(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"))
      .withColumn("share",
        round(col("n_vecs").cast("double") / sum(col("n_vecs")).over(w), 6))
      .withColumn("balance",
        round(col("n_vecs").cast("double") * count(lit(1)).over(w) /
          sum(col("n_vecs")).over(w), 4))
      .orderBy(col("cell"))
  }

  /** IVF-style coarse quantization: centroid set = a deterministic sample
    * of the corpus (at real scale these are k-means centroids, refreshed
    * offline); every vector is assigned to its nearest centroid by cosine
    * (argmax, centroid-id tie-break). Dispatches like every assignment
    * entry: narrow literal [[bestCentroid]] up to [[LiteralCentroidMax]],
    * the O(N·log k) [[bestCentroidTree]] past it — bit-identical either
    * way. At 100 TB the cell becomes the partition key, so a query reads
    * only its probed partitions. */
  def withIvfCell(v: DataFrame): DataFrame = withIvfCellAtScale(v)

  private def withIvfCell(v: DataFrame, cents: Array[(Long, Seq[Double], Double)]): DataFrame =
    bestCentroid(v, cents)
      .withColumn("cell", -col("best").getField("ncid"))
      .select(col("vec_id"), col("label"), col("vec"), col("sq"), col("cell"))

  /** Chunk-level retrieval — the RAG shape: documents are split into
    * fixed-width token chunks, each chunk gets its own (hashed) vector,
    * and a query retrieves the top-k CHUNKS (passage granularity) rather
    * than whole documents. Queries here are the first `nQueries` full-doc
    * vectors; swapping both sides to real embeddings changes no plan
    * shape. Chunks of the query's own document are excluded.
    *
    * Scale shape: chunking + vectorization are the narrow
    * [[graft.operators.Curation.chunkDocs]] / feature-hash kernels (one
    * (chunk, dim) aggregation); queries broadcast; the only Exchange is
    * the per-query top-k window — the corpus of chunk vectors never
    * shuffles into the join. Chunk ids pack (doc_id, chunk_idx) into one
    * long with stride [[ChunkIdStride]] — room for 1M chunks (32M words at
    * the default width) per document before ids could bleed into the next
    * document's range, with a loud guard at the packing site. */
  def chunkTopK(docs: DataFrame, k: Int = 10, nQueries: Int = 3,
      dims: Int = 16, chunkWords: Int = 32): DataFrame = {
    val chunks = TextAnalysis.withTokens(docs)
      .withColumn("words", expr("filter(toks, t -> t <> '')"))
      .withColumn("n_words", size(col("words")))
      .filter(col("n_words") > 0)
      .withColumn("n_chunks",
        expr(s"cast(ceil(n_words / cast($chunkWords as double)) as int)"))
      .select(col("doc_id"), col("words"),
        posexplode(expr("sequence(0, n_chunks - 1)")).as(Seq("pos", "i")))
      .select(
        // loud guard: a document overflowing the stride would silently
        // misattribute its tail chunks to the NEXT doc_id's range
        when(col("i") < ChunkIdStride,
          col("doc_id") * ChunkIdStride + col("i"))
          .otherwise(raise_error(lit(
            s"chunkTopK: document exceeds $ChunkIdStride chunks — widen ChunkIdStride")))
          .as("doc_id"),
        array_join(expr(s"slice(words, i * $chunkWords + 1, $chunkWords)"), " ")
          .as("text"))
    val v = hashedDense(chunks, dims)
      .withColumn("owner_doc", expr(s"doc_id div $ChunkIdStride"))
    val q = hashedDense(docs, dims)
      .filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("vec").as("qvec"), col("sq").as("qsq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("doc_id"))
    v.join(broadcast(q), col("owner_doc") =!= col("query_id"))
      .withColumn("cos",
        VectorMath.dot("vec", "qvec") / sqrt(col("sq") * col("qsq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("owner_doc").as("doc_id"), expr(s"doc_id % $ChunkIdStride").as("chunk_idx"),
        round(col("cos"), 6).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hard-negative mining for contrastive embedding training — for every
    * vector, the most similar vector with a DIFFERENT label inside its
    * IVF cell (the "hardest negative in the batch" an InfoNCE loss wants).
    * Cell blocking keeps the pair space ∝ cell size, exactly like
    * [[graft.operators.Dedup.semDedup]]'s pair stage; at real scale the
    * cell is the partition key and each mining task is cell-local. */
  def hardNegatives(emb: DataFrame): DataFrame = {
    // the corpus feeds count + centroid extraction + assignment + the
    // pair join — pin the prepared frame once instead of re-scanning and
    // re-casting the parquet per phase (r16; the bench clearCache / the
    // session's cache manager reclaims it)
    val prep = prepared(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val v = pairFanout(withCellBlock(withIvfCell(prep)), col("cell_blk"))
    val a = v.as("a")
    val b = v.as("b")
    // top-1 per vector as a struct-max HASH aggregate, not a row_number
    // window: the per-pair stream collapses map-side without the window's
    // per-task sort of the whole pair space (r16 — at the 512× rung the
    // sort of ~21M pair rows per task was a measured chunk of the rung).
    // max over (cos desc, −neg_id ⇒ lowest neg_id on ties) selects the
    // identical row the (cos desc, vec_id asc) window rank-1 did; the
    // oracle pins the equivalence.
    a.join(b,
        col("a.cell_blk") === col("b.cell_blk") &&
          col("a.vec_id") =!= col("b.vec_id") &&
          col("a.label") =!= col("b.label"))
      .withColumn("cos",
        call_function("vec_dot", col("a.vec"), col("b.vec")) /
          sqrt(col("a.sq") * col("b.sq")))
      .withColumn("cand", struct(col("cos").as("s"),
        (-col("b.vec_id")).as("nnid"),
        col("b.label").as("neg_label")))
      .groupBy(col("a.vec_id").as("vec_id"))
      .agg(first(col("a.label")).as("label"), first(col("a.cell")).as("cell"),
        max(col("cand")).as("best"))
      .select(col("vec_id"), col("label"), col("cell"),
        (-col("best").getField("nnid")).as("neg_id"),
        col("best").getField("neg_label").as("neg_label"),
        round(col("best").getField("s"), 6).as("cos"))
      .orderBy(col("vec_id"))
  }

  /** IVF index-health report: per-cell population, corpus share, and
    * balance factor (n · k / N — 1.0 = perfectly even). The list-length
    * histogram an ANN deployment watches: a hot cell means its probes do
    * disproportionate work (the p99-latency driver), an empty cell means
    * wasted centroid budget — both say "retrain the centroids". Assignment
    * is the same narrow literal-centroid argmax as the query path; the
    * report is one cell-keyed aggregation (16-ish rows) plus windows on
    * the collapsed frame. */
  def ivfCellStats(emb: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    withIvfCell(prepared(emb))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"))
      .withColumn("share",
        round(col("n_vecs").cast("double") / sum(col("n_vecs")).over(w), 6))
      .withColumn("balance",
        round(col("n_vecs").cast("double") * count(lit(1)).over(w) /
          sum(col("n_vecs")).over(w), 4))
      .orderBy(col("cell"))
  }

  /** Cell assignment PLUS the winning score: same literal-centroid argmax
    * as [[withIvfCell]], but the struct max is computed once and both
    * fields are kept — `cell` (assigned centroid) and `cent_cos` (cosine
    * to it). The centrality score is what SemDeDup's keeper rule ranks on
    * ([[Dedup.semDedup]]). Still a fully narrow projection. */
  def withIvfCellScore(v: DataFrame): DataFrame = {
    val n = v.count()
    val k = centroidCount(n)
    // same literal/tree dispatch as [[withIvfCellAtScale]]: past the
    // codegen threshold the struct max comes from the hierarchical plan,
    // whose `best` carries the identical (score, −id) pair
    val assigned =
      if (k <= LiteralCentroidMax) bestCentroid(v, collectCentroids(v, n))
      else bestCentroidTree(v, centroidFrame(v, k), k)
    assigned
      .withColumn("cell", -col("best").getField("ncid"))
      .withColumn("cent_cos", col("best").getField("s"))
      .select(col("vec_id"), col("vec"), col("sq"), col("cell"), col("cent_cos"))
  }

  /** Per-vector top-2 centroids — (vec_id, best, second) where each field
    * is the usual (s, −centroid_id) struct. Three regimes, matching the
    * assignment dispatch ladder:
    *  - `literal` (k ≤ [[LiteralCentroidMax]]): one narrow projection —
    *    the literal candidate array is sorted descending (same
    *    (s desc, centroid_id asc) order as `array_max`'s winner) and the
    *    first two entries taken. Zero Exchange.
    *  - `broadcast` (k ≤ [[FlatCentroidMax]]): two broadcast-join passes —
    *    the proven [[bestCentroid]] argmax, then the same candidate
    *    generation with the winner filtered out before the map-side
    *    collapse. Each pass's one Exchange carries |corpus| collapsed
    *    rows, never |corpus|·k.
    *  - `tree` (past the codegen threshold): [[bestCentroidTree]] for the
    *    exact best, then the runner-up taken WITHIN the re-probed fine
    *    set (winner excluded). The ball-cover descent keeps every subtree
    *    whose upper bound reaches the coarse lower bound, so the true
    *    runner-up is only missed when it scores below that bound — the
    *    standard IVF probed-lists report semantics; a missed runner-up
    *    UNDERSTATES `nn_cos` (overstates the margin), never the reverse.
    *    Every vector appears in the output: when no subtree beyond the
    *    winner's passes the bound, `second` is NULL (the same understated
    *    semantics) rather than the vector dropping from the report.
    *
    * Exposed per-regime so the spec can pin literal ≡ broadcast exactly
    * and bound the tree runner-up against the exact one. */
  private[graft] def top2Centroids(prep: DataFrame, k: Int,
      regime: String): DataFrame = regime match {
    case "literal" =>
      val cents = collectCentroidsK(prep, k)
      val scored = cents.toSeq.map { case (cid, cvec, csq) =>
        struct(
          (call_function("vec_dot", col("vec"), typedLit(cvec)) /
            sqrt(col("sq") * lit(csq))).as("s"),
          lit(-cid).as("ncid"))
      }
      prep
        .withColumn("t2", slice(sort_array(array(scored: _*), asc = false), 1, 2))
        .select(col("vec_id"), col("t2")(0).as("best"), col("t2")(1).as("second"))
    case "broadcast" =>
      val spark = prep.sparkSession
      import spark.implicits._
      val cents = collectCentroidsK(prep, k)
      val a = bestCentroid(prep, cents, literal = false)
      val cdf = cents.toSeq.toDF("centroid_id", "cvec", "csq")
      a.crossJoin(broadcast(cdf))
        .filter(col("centroid_id") =!= -col("best").getField("ncid"))
        .withColumn("cand", struct(
          (call_function("vec_dot", col("vec"), col("cvec")) /
            sqrt(col("sq") * col("csq"))).as("s"),
          (-col("centroid_id")).as("ncid")))
        .groupBy(col("vec_id"))
        .agg(max(col("cand")).as("second"), first(col("best")).as("best"))
        .select(col("vec_id"), col("best"), col("second"))
    case "tree" =>
      val cdf = centroidFrame(prep, k)
      val idx = buildTreeIndex(cdf, k)
      try {
        val a = bestCentroidTree(prep.select("vec_id", "vec", "sq"), idx, 1e-9)
          .withColumnRenamed("best", "b1")
        // runner-up within the re-probed fine set: the same ball-cover
        // descent as the assignment plan (b1 rides along as a carried
        // column), with the winning centroid excluded before the
        // per-vector collapse.
        // The winner's own candidate row is KEPT but nulled (not filtered
        // out): its fine chain always passes the ball-cover filters (the
        // exact best lives there, so every ancestor's ub ≥ b1.s ≥ lb), so
        // every vec_id reaches the collapse even when its probed set is a
        // singleton with no other qualifying subtree — `second` is NULL
        // for such vectors instead of the row vanishing (which silently
        // under-counted n_vecs in cellQuality). max() ignores nulls.
        treeCandidates(a, idx, 1e-9)
          .withColumn("cand",
            when(col("centroid_id") === -col("b1").getField("ncid"), lit(null))
              .otherwise(struct(
                (call_function("vec_dot", col("vec"), col("cvec")) /
                  sqrt(col("sq") * col("csq"))).as("s"),
                (-col("centroid_id")).as("ncid"))))
          .groupBy(col("vec_id"))
          .agg(max(col("cand")).as("second"), first(col("b1")).as("best"))
          .select(col("vec_id"), col("best"), col("second"))
          .localCheckpoint()
      } finally idx.release()
    case other => throw new IllegalArgumentException(s"unknown regime: $other")
  }

  /** Per-cell GEOMETRIC quality — the companion to [[ivfCellStats]]'
    * population balance: how coherent each inverted list is (`intra_cos`,
    * mean cosine to the own centroid), how close it sits to its nearest
    * rival (`nn_cos`, mean cosine to the runner-up centroid), and the mean
    * assignment `margin` between the two. Low-margin cells are where ANN
    * recall leaks (boundary vectors get probed from the wrong list) and
    * where SemDeDup's cell blocking loses pairs — the "retrain or merge
    * these centroids" signal with geometry, where the population report
    * only sees counts. Means are exact-integer micro-unit sums (floor of
    * cos·1e6), so partial-aggregation order cannot perturb the reported
    * doubles — the LM/NLL determinism discipline; at 1e9 rows per cell the
    * micro-unit sum stays ≤ 1e15, well inside a LONG. */
  def cellQuality(emb: DataFrame): DataFrame = {
    val prep = prepared(emb)
    val k = centroidCount(prep.count())
    // r16: the broadcast-flat regime is gone from the dispatch ladder —
    // it is O(N·k), the quadratic tail the deep ramp convicted; the tree
    // takes over directly past the codegen threshold ("broadcast" remains
    // a spec cross-check arm only)
    val regime = if (k <= LiteralCentroidMax) "literal" else "tree"
    val t2 = top2Centroids(prep, k, regime)
    t2.select(
        (-col("best").getField("ncid")).as("cell"),
        floor(col("best").getField("s") * lit(1000000.0)).cast("long").as("own_u"),
        floor(col("second").getField("s") * lit(1000000.0)).cast("long").as("nn_u"))
      .groupBy(col("cell"))
      // a NULL nn_u (tree runner-up not probed — singleton probed
      // set) contributes 0 to the sum but stays in n_vecs: nn_cos is
      // understated for such vectors, never dropped from the population
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("own_u")).as("so"),
        coalesce(sum(col("nn_u")), lit(0L)).as("sn"))
      .select(col("cell"), col("n_vecs"),
        round(col("so").cast("double") / col("n_vecs") / lit(1000000.0), 6)
          .as("intra_cos"),
        round(col("sn").cast("double") / col("n_vecs") / lit(1000000.0), 6)
          .as("nn_cos"),
        round((col("so") - col("sn")).cast("double") / col("n_vecs") / lit(1000000.0), 6)
          .as("margin"))
      .orderBy(col("cell"))
  }

  /** Lloyd's k-means refinement of the IVF centroid set (spherical:
    * assignment by cosine, update = per-cell member mean). Each iteration
    * is one narrow assignment pass over the corpus (the literal-centroid
    * `array_max` projection — no join, no shuffle of vectors) plus one
    * groupBy(cell) whose shuffle carries k cells; the k-row centroid
    * table round-trips through the driver between iterations, k-means'
    * inherent sync point. Per-dimension means are ordered folds over
    * members sorted by vec_id, so the centroid doubles are bit-identical
    * in any IEEE engine and the DuckDB oracle verifies the training
    * value-for-value. Empty cells keep their previous centroid. At real
    * scale this trains on a bounded sample (standard IVF practice) and
    * the full corpus is assigned once at the end. */
  /** Hard bound on the members a k-means update step aggregates per cell.
    * `collect_list` materializes one cell's full sampled membership in a
    * single array, so without this cap a hot cell (skewed corpus — most
    * vectors near one centroid) would OOM its executor. Selection is a
    * deterministic hash-rank sample (portable hash64 of the vec_id,
    * vec_id tie-break), so both engines pick the identical members and
    * the trained centroids stay value-verifiable. */
  val MaxMembersPerCell = 256

  /** Test seam: rows materialized on the driver by the training/assignment
    * path since the last reset. Every driver collect in the k-means family
    * routes its row count through here, so a spec can run one training
    * iteration at k > [[LiteralCentroidMax]] and assert the total driver
    * state stayed bounded (O(B) coarse rows + ≤[[TreeBuildCollectMax]]-row
    * parent collects) — the gate that keeps the r10 flat-assignment
    * regression (O(N/256) means collected per iteration) from coming
    * back. Zero-cost in production (one atomic add per collect). */
  private[graft] val driverCollectRows = new java.util.concurrent.atomic.AtomicLong

  private def ledger[T](rows: Long)(value: T): T = {
    driverCollectRows.addAndGet(rows); value
  }

  /** Scale-dispatching cell assignment from a centroid FRAME — the
    * training-loop twin of [[withIvfCellAtScale]]: collects the frame into
    * the narrow literal argmax only while k ≤ [[LiteralCentroidMax]]
    * (driver state bounded by the codegen constant), and runs
    * [[bestCentroidTree]] past it, where the frame never materializes on
    * the driver. Returns v's columns + `cell`. */
  private[graft] def assignFromFrame(v: DataFrame, centDf: DataFrame, k: Int): DataFrame =
    frameAssigner(centDf, k)(v)

  /** [[frameAssigner]] plus the index release hook: callers that
    * materialize every assignment EAGERLY (the k-means iteration — its
    * localCheckpoint consumes the whole pass) release the tree index's
    * persisted level frames instead of leaking one set per build. No-op
    * in the literal regime. */
  private[graft] def frameAssignerReleasable(centDf: DataFrame,
      k: Int): (DataFrame => DataFrame, () => Unit) =
    if (k <= LiteralCentroidMax) (frameAssigner(centDf, k), () => ())
    else {
      val idx = buildTreeIndex(centDf, k)
      (v => bestCentroidTree(v, idx, eps = 1e-9)
        .withColumn("cell", -col("best").getField("ncid")).drop("best"),
        () => idx.release())
    }

  /** A REUSABLE assigner closed over the scale-dispatched artifact
    * representation: the collected literal table while
    * k ≤ [[LiteralCentroidMax]] (collected ONCE, at closure build), the
    * prebuilt [[TreeIndex]] past it. A caller assigning many frames
    * against one centroid artifact — the streaming micro-batch ingest —
    * pays the index derivation once and only the assignment jobs per
    * frame; single-shot callers go through [[assignFromFrame]] and see
    * identical results (same kernels, same tie-break). */
  private[graft] def frameAssigner(centDf: DataFrame, k: Int): DataFrame => DataFrame =
    if (k <= LiteralCentroidMax) {
      val cents = centDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
        .sortBy(_._1)
      v => ledger(cents.length)(bestCentroid(v, cents))
        .withColumn("cell", -col("best").getField("ncid")).drop("best")
    } else {
      val idx = buildTreeIndex(centDf, k)
      v => bestCentroidTree(v, idx, eps = 1e-9)
        .withColumn("cell", -col("best").getField("ncid")).drop("best")
    }

  /** Lloyd's k-means refinement over a centroid FRAME — fully distributed:
    * per iteration, one scale-dispatched assignment pass over the corpus,
    * one bounded-sample membership aggregation computing per-cell means,
    * and one k-row equi-join folding the new means back into the artifact.
    * NOTHING corpus- or k-sized ever lands on the driver: past
    * [[LiteralCentroidMax]] the assignment is [[bestCentroidTree]]
    * (O(B) coarse rows are the only driver state) and the means stay a
    * DataFrame joined back by centroid_id — the shape that trains at
    * FAISS/SemDeDup scale (k = 50k) where the r10 loop's per-iteration
    * k-row collect would have been O(N/256) driver state. Each iteration
    * ends in a localCheckpoint: the artifact is k rows, and the cut stops
    * the assign→join lineage from nesting across iterations (the
    * ccLabelProp discipline). Means are ordered folds over members sorted
    * by vec_id (sort_array before the fold), so the trained doubles are
    * bit-identical in any IEEE engine and across plans — the DuckDB
    * oracle verifies the training value-for-value. Empty cells keep their
    * previous centroid (the left-join coalesce). */
  private[graft] def kmeansCentroidFrame(prep: DataFrame, init: DataFrame,
      k: Int, iters: Int, maxMembersPerCell: Int): DataFrame = {
    graft.GraftExtensions.ensureRegistered(prep.sparkSession)
    val dimRows = init.select(size(col("cvec"))).take(1)
    require(dimRows.nonEmpty,
      "IVF centroid set is empty — the corpus has no vectors in the centroid id range")
    val dims = ledger(1)(dimRows.head.getInt(0))
    val wCell = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell"))
      .orderBy(call_function("hash64", col("vec_id").cast("string")), col("vec_id"))
    var centDf = init
    (1 to iters).foreach { _ =>
      val (assign, releaseIdx) = frameAssignerReleasable(centDf, k)
      val means = assign(prep)
        // bounded deterministic sample BEFORE the membership collect — the
        // row_number window and the groupBy hash on the same cell key, so
        // the filter adds no extra Exchange
        .withColumn("srn", row_number().over(wCell))
        .filter(col("srn") <= maxMembersPerCell)
        .groupBy(col("cell"))
        .agg(expr("sort_array(collect_list(struct(vec_id, vec)))").as("ms"))
        .select(col("cell").as("centroid_id"), expr(
          s"""transform(sequence(0, ${dims - 1}),
             |  d -> aggregate(ms, cast(0 as double), (acc, m) -> acc + m.vec[d])
             |       / size(ms))""".stripMargin).as("mvec"))
      centDf = centDf.join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("mvec"), col("cvec")).as("cvec"))
        // same left fold the driver loop ran (foldLeft acc + x·x), so the
        // squared norms are bit-identical to the r10 values
        .withColumn("csq",
          expr("aggregate(cvec, cast(0 as double), (acc, x) -> acc + x * x)"))
        .localCheckpoint() // EAGER: the iteration's assignment is consumed
      releaseIdx()         // ... so the iteration's index can go now
    }
    centDf
  }

  /** Array-API wrapper over [[kmeansCentroidFrame]] for callers that
    * consume the trained set as driver-side literals (small-k pipelines,
    * the streaming literal path). The terminal collect is the API's
    * contract, not training state — training itself never materializes
    * the frame. */
  def kmeansCentroids(emb: DataFrame, iters: Int = 2,
      maxMembersPerCell: Int = MaxMembersPerCell): Array[(Long, Seq[Double], Double)] = {
    val prep = prepared(emb)
    val k = centroidCount(prep.count())
    val arr = kmeansCentroidFrame(prep, centroidFrame(prep, k), k, iters,
      maxMembersPerCell)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    ledger(arr.length)(arr) // contract collect, but LEDGERED: k rows, never corpus
  }

  /** Trained-centroid summary for the oracle gate: one row per
    * (cell, dim) with the rounded centroid coordinate and the cell's final
    * member count — value-verifies the whole training loop. Frame-based
    * end to end: the trained artifact is posexploded distributed and the
    * final assignment pass is scale-dispatched, so the entry works
    * unchanged in the large-k regime. */
  def kmeansCells(emb: DataFrame, iters: Int = 2): DataFrame = {
    val prep = prepared(emb)
    val k = centroidCount(prep.count())
    val trained = kmeansCentroidFrame(prep, centroidFrame(prep, k), k, iters,
      MaxMembersPerCell)
    val sizes = assignFromFrame(prep, trained, k)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
    trained
      .select(col("centroid_id").as("cell"),
        posexplode(col("cvec")).as(Seq("dim", "centroid_val")))
      .join(broadcast(sizes), Seq("cell"), "left")
      .select(col("cell"), col("dim").cast("long").as("dim"),
        round(col("centroid_val"), 6).as("centroid_val"),
        coalesce(col("n_members"), lit(0L)).as("n_members"))
      .orderBy(col("cell"), col("dim"))
  }

  /** Document similarity search WITHOUT an external embedding model: each
    * document becomes a dense `dims`-wide signed-count vector via the
    * feature-hashing trick ([[TextAnalysis.featureHash]]'s kernel, pivoted
    * dense with one conditional aggregation), then cosine top-k exactly as
    * the embedding path — the bridge between the text pipeline and the
    * ANN machinery when no model has run yet (hash vectors ≈ bag-of-words
    * similarity; swap in real embeddings without changing the query).
    *
    * Scale shape: one (doc_id) aggregation builds vectors; queries
    * broadcast; the corpus never shuffles into the join — identical to
    * [[bruteForceTopK]]. Zero-norm documents (hash-cancelled) are
    * excluded on both sides. */
  /** (doc_id, vec, sq): dense signed-count hash vectors over any
    * (doc_id, text) frame — the model-free text→vector bridge shared by
    * [[hashedDocTopK]] and [[chunkTopK]]. */
  private def hashedDense(df: DataFrame, dims: Int): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    val cells = (0 until dims).map(d =>
      sum(when(col("dim") === d, col("val")).otherwise(0L)).cast("double"))
    TextAnalysis.featureHash(df, dims)
      .groupBy(col("doc_id"))
      .agg(array(cells: _*).as("vec"))
      .withColumn("sq", VectorMath.normSq("vec"))
      .filter(col("sq") > 0.0)
  }

  def hashedDocTopK(docs: DataFrame, k: Int = 10, nQueries: Int = 3,
      dims: Int = 16): DataFrame = {
    val v = hashedDense(docs, dims)
    val q = v.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("vec").as("qvec"), col("sq").as("qsq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("doc_id"))
    v.join(broadcast(q), col("doc_id") =!= col("query_id"))
      .withColumn("cos",
        VectorMath.dot("vec", "qvec") / sqrt(col("sq") * col("qsq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hybrid retrieval with reciprocal-rank fusion — the standard two-leg
    * retriever shape (BM25 lexical + embedding semantic, RRF-fused): each
    * leg ranks the corpus against the SAME query (the fixed
    * [[TextAnalysis.Bm25Terms]] text — the semantic leg embeds it with the
    * same feature-hashing bridge the corpus vectors use), the top `legK`
    * of each leg meet in a full-outer join on doc_id, and the fused score
    * is Σ 1/(rrfK + rank) over the legs the doc appears in (Cormack et
    * al.'s RRF, rrfK = 60). Docs absent from a leg report rank −1.
    *
    * Scale shape: each leg ends in a global top-k
    * (TakeOrderedAndProject — per-partition truncation before one k-row
    * merge), so the only frames past the legs are 2×legK rows; the fusion
    * join and the final sort are driver-trivial. The corpus is scanned
    * twice (once per leg) — at 100 TB the legs share nothing but the scan,
    * so they parallelize as two independent jobs over the same at-rest
    * data. */
  val RrfLegK = 50
  val RrfConst = 60

  /** Chunk-id packing stride for [[chunkTopK]]: chunk id = doc_id·stride
    * + chunk index (shared with the DuckDB oracle builder). */
  val ChunkIdStride = 1000000L

  def hybridRrfTopK(docs: DataFrame, k: Int = 20, legK: Int = RrfLegK,
      rrfK: Int = RrfConst, dims: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ranks are assigned AFTER the distributed top-legK truncation; the
    // row_number windows below therefore sort ≤legK rows on one partition
    val wLex = org.apache.spark.sql.expressions.Window
      .orderBy(col("bm25").desc, col("doc_id"))
    val lex = TextAnalysis.bm25Scores(docs, topK = legK)
      .withColumn("lex_rank", row_number().over(wLex))
    val queryText = TextAnalysis.Bm25Terms.mkString(" ")
    val qv = hashedDense(Seq((-1L, queryText)).toDF("doc_id", "text"), dims)
      .select(col("vec").as("qvec"), col("sq").as("qsq"))
    val wSem = org.apache.spark.sql.expressions.Window
      .orderBy(col("cos").desc, col("doc_id"))
    val sem = hashedDense(docs.select(col("doc_id"), col("text")), dims)
      .crossJoin(broadcast(qv))
      .withColumn("cos", VectorMath.dot("vec", "qvec") / sqrt(col("sq") * col("qsq")))
      .orderBy(col("cos").desc, col("doc_id")).limit(legK)
      .withColumn("sem_rank", row_number().over(wSem))
    lex.select(col("doc_id"), col("lex_rank"))
      .join(sem.select(col("doc_id"), col("sem_rank")), Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK) + col("sem_rank")), lit(0.0)), 6))
      .select(col("doc_id"),
        coalesce(col("lex_rank").cast("long"), lit(-1L)).as("lex_rank"),
        coalesce(col("sem_rank").cast("long"), lit(-1L)).as("sem_rank"),
        col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(k)
  }

  /** Greedy k-center (farthest-point-first) coreset selection — the
    * diversity-pruning primitive behind D4-style data curation: pick the
    * vector farthest (cosine distance) from everything selected so far,
    * k times, starting from vec_id 0. The selected exemplars maximize
    * coverage; the radius column is the corpus' min-distance maximum at
    * each selection (the cover radius the next center closes).
    *
    * Scale shape: k sequential narrow passes — each round scores the
    * corpus against the (literal) selected centers and takes ONE row via
    * TakeOrdered; nothing shuffles, the driver holds only k vectors. That
    * k-pass structure IS the greedy algorithm's data-access pattern at any
    * scale (each round must see the full corpus once). min over centers is
    * exact regardless of evaluation order, so the unrolled DuckDB mirror
    * reproduces every selection bit-for-bit. */
  def kcenterSelect(emb: DataFrame, k: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val v = prepared(emb).select(col("vec_id"), col("vec"), col("sq"))
    val seed = ledger(1)(v.filter(col("vec_id") === 0).collect().head)
    var centers = Vector[(Long, Seq[Double], Double, Option[Double])](
      (0L, seed.getSeq[Double](1), seed.getDouble(2), None))
    for (_ <- 1 until k) {
      val distCol = centers.map { case (_, cvec, csq, _) =>
        lit(1.0) - call_function("vec_dot", col("vec"), typedLit(cvec)) /
          sqrt(col("sq") * lit(csq))
      }.reduce(least(_, _))
      // ONE row per greedy round (TakeOrdered limit 1) — ledgered so the
      // k-row total driver state is machine-checked, not prose
      val next = ledger(1)(v.withColumn("dist", distCol)
        .orderBy(col("dist").desc, col("vec_id")).limit(1)
        .collect().head)
      centers = centers :+ ((next.getLong(0), next.getSeq[Double](1),
        next.getDouble(2), Some(next.getDouble(3))))
    }
    centers.zipWithIndex.map { case ((id, _, _, radius), r) =>
      (r.toLong, id, radius.map(d =>
        BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toDF("round", "center_id", "radius")
      .select(col("round"), col("center_id"), col("radius").cast("double"))
      .orderBy(col("round"))
  }

  /** IVF ANN top-k: probe the query's `IvfProbes` nearest centroids, rank
    * candidates from those cells by exact cosine. Probe selection uses the
    * same literal-centroid projection (sort 16 structs per query row, take
    * the top `IvfProbes`) — narrow on both sides; the only join left is
    * corpus ⋈ broadcast(probes) on the cell key. */
  def ivfTopK(emb: DataFrame, k: Int = 10, nQueries: Int = 5): DataFrame = {
    val prep = prepared(emb)
    val n = prep.count()
    // query-serving index: k from the bounded training sample (linear
    // build), not the occupancy-pinned corpus k — see [[QueryTrainSample]]
    val kc = queryCentroidCount(n)
    if (kc <= LiteralCentroidMax) ivfTopK(prep, collectCentroidsK(prep, kc), k, nQueries)
    else ivfTopKTree(prep, kc, k, nQueries)
  }

  /** The query-serving IVF index BUILD alone — cell assignment of the whole
    * corpus at the sample-bounded k_q, the linear pass [[ivfTopK]] pays
    * before any probe. Exposed so the bench bills build vs query to
    * separate keys (`sim_ivf_build_sec`, VERDICT r14 #8) instead of
    * re-entangling them inside one measurement. */
  def ivfIndexBuild(emb: DataFrame): DataFrame = {
    val prep = prepared(emb)
    val kc = queryCentroidCount(prep.count())
    if (kc <= LiteralCentroidMax) withIvfCell(prep, collectCentroidsK(prep, kc))
    else bestCentroidTree(prep, centroidFrame(prep, kc), kc)
      .withColumn("cell", -col("best").getField("ncid"))
      .select(col("vec_id"), col("label"), col("vec"), col("sq"), col("cell"))
  }

  /** The OCCUPANCY-pinned index build alone — cell assignment of the
    * whole corpus at k = centroidCount(N) (the pair families' discipline:
    * k ∝ N pins expected cell occupancy at 256), billed to its own bench
    * key (`sim_occ_build_sec`, VERDICT r15 #1) parallel to the
    * query-serving `sim_ivf_build_sec` so the two build disciplines never
    * re-entangle inside one measurement. Past [[LiteralCentroidMax]] this
    * is the log-tree assignment — O(N·log k), the subquadratic path the
    * r15 deep ramp demanded. */
  def occIndexBuild(emb: DataFrame): DataFrame =
    withIvfCellAtScale(prepared(emb))

  /** The past-the-threshold IVF plan: NO k-row driver collect anywhere —
    * log-tree corpus assignment (bit-identical argmax, O(N·log k)) and
    * frame-based probe selection that broadcasts the tiny QUERY side over
    * the k-row centroid frame instead of the reverse. Exposed so the spec
    * can force it at small k and assert result equality with the flat
    * plan. */
  private[graft] def ivfTopKTree(prep: DataFrame, kc: Int, k: Int,
      nQueries: Int): DataFrame = {
    val cdf = centroidFrame(prep, kc)
    val v = bestCentroidTree(prep, cdf, kc)
      .withColumn("cell", -col("best").getField("ncid"))
      .select(col("vec_id"), col("label"), col("vec"), col("sq"), col("cell"))
    rankTopK(
      v.join(broadcast(ivfProbesFrame(prep, cdf, nQueries)), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos",
          VectorMath.dot("vec", "qvec") / sqrt(col("sq") * col("qsq"))),
      k)
  }

  /** Probe selection against a centroid FRAME (no driver-side centroid
    * array): identical scoring and (score desc, id) tie-break as
    * [[ivfProbes]]'s non-literal branch, but the broadcast side is the
    * nQueries-row query set — the centroid table streams, so selection
    * stays shuffle-light at any k. */
  private[graft] def ivfProbesFrame(prep: DataFrame, cdf: DataFrame,
      nQueries: Int): DataFrame = {
    val q = prep.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("sq").as("qsq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("ps").desc, col("centroid_id"))
    cdf.crossJoin(broadcast(q))
      .withColumn("ps",
        call_function("vec_dot", col("qvec"), col("cvec")) /
          sqrt(col("qsq") * col("csq")))
      .withColumn("pr", row_number().over(w))
      .filter(col("pr") <= IvfProbes)
      .select(col("query_id"), col("qvec"), col("qsq"),
        col("centroid_id").as("cell"))
  }

  private[graft] def ivfTopK(prep: DataFrame, cents: Array[(Long, Seq[Double], Double)],
      k: Int, nQueries: Int): DataFrame = {
    val v = withIvfCell(prep, cents)
    rankTopK(
      v.join(broadcast(ivfProbes(prep, cents, nQueries)), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos",
          VectorMath.dot("vec", "qvec") / sqrt(col("sq") * col("qsq"))),
      k)
  }

  /** (query_id, qvec, qsq, cell) — each query exploded to its `IvfProbes`
    * nearest centroids. k ≤ [[LiteralCentroidMax]]: literal-centroid struct
    * sort, fully narrow. Larger k: the query set is tiny (it broadcasts into
    * the candidate join downstream), so a query × centroid-table join + a
    * per-query rank window is trivial at any k. Identical selection + id
    * tie-break either way. */
  private[graft] def ivfProbes(prep: DataFrame, cents: Array[(Long, Seq[Double], Double)],
      nQueries: Int): DataFrame =
    ivfProbes(prep, cents, nQueries, literal = cents.length <= LiteralCentroidMax)

  private[graft] def ivfProbes(prep: DataFrame, cents: Array[(Long, Seq[Double], Double)],
      nQueries: Int, literal: Boolean): DataFrame = {
    val q = prep.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("sq").as("qsq"))
    if (literal) {
      // (−score, centroid_id) structs sort ascending = (score desc, id asc)
      val probeScored = cents.toSeq.map { case (cid, cvec, csq) =>
        struct(
          (-(call_function("vec_dot", col("qvec"), typedLit(cvec)) /
            sqrt(col("qsq") * lit(csq)))).as("ns"),
          lit(cid).as("cid"))
      }
      q.withColumn("cell",
          explode(transform(
            slice(sort_array(array(probeScored: _*)), 1, IvfProbes),
            s => s.getField("cid"))))
        .select(col("query_id"), col("qvec"), col("qsq"), col("cell"))
    } else {
      val spark = prep.sparkSession
      import spark.implicits._
      val cdf = cents.toSeq.toDF("centroid_id", "cvec", "csq")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("ps").desc, col("centroid_id"))
      q.crossJoin(broadcast(cdf))
        .withColumn("ps",
          call_function("vec_dot", col("qvec"), col("cvec")) /
            sqrt(col("qsq") * col("csq")))
        .withColumn("pr", row_number().over(w))
        .filter(col("pr") <= IvfProbes)
        .select(col("query_id"), col("qvec"), col("qsq"),
          col("centroid_id").as("cell"))
    }
  }

  val PqM = 4        // subspaces
  val PqK = 8        // codewords per subspace
  val PqSubDim = 16  // 64 / PqM

  /** PQ codebook: codeword (m, j) = the m-th sub-vector of corpus vector
    * 100+j — the same deterministic-sample convention as the IVF centroid
    * set (offline-trained per-subspace k-means in production; the training
    * loop is demonstrated by [[kmeansCentroids]]). Returns
    * codebook(m)(j) = (sub-vector, squared norm). */
  private def collectCodebook(v: DataFrame): Array[Array[(Seq[Double], Double)]] = {
    val sample = v.filter(col("vec_id") >= 100 && col("vec_id") < 100 + PqK)
      .select(col("vec_id"), col("vec")).collect()
      .map(r => (r.getLong(0) - 100).toInt -> r.getSeq[Double](1)).sortBy(_._1)
    ledger(sample.length)(()) // PqK codebook rows — bounded by the constant
    require(sample.length == PqK, s"PQ codebook sample incomplete: ${sample.length}")
    Array.tabulate(PqM) { m =>
      sample.map { case (_, full) =>
        val sub = full.slice(m * PqSubDim, (m + 1) * PqSubDim)
        (sub, sub.foldLeft(0.0)((acc, x) => acc + x * x))
      }
    }
  }

  /** Product-quantization codes: per subspace m, the index of the L2-nearest
    * codeword of the vector's m-th sub-vector. argmin_j ‖x−c_j‖² =
    * argmax_j (2·x·c_j − ‖c_j‖²) (the ‖x‖² term is constant in j), computed
    * as the same literal `array_max` struct projection as the IVF cell —
    * narrow, no join, no Exchange; at rest the 4 codes are 4 small ints
    * replacing a 64-double vector (64× compression). */
  def withPqCodes(v: DataFrame): DataFrame =
    withPqCodes(v, collectCodebook(v))

  private def withPqCodes(v: DataFrame,
      cb: Array[Array[(Seq[Double], Double)]]): DataFrame = {
    val codeCols = (0 until PqM).map { m =>
      val sub = slice(col("vec"), m * PqSubDim + 1, PqSubDim)
      val scored = (0 until PqK).map { j =>
        val (cvec, csq) = cb(m)(j)
        struct(
          (call_function("vec_dot", sub, typedLit(cvec)) * 2.0 - lit(csq)).as("s"),
          lit(-j).as("nj"))
      }
      (-array_max(array(scored: _*)).getField("nj")).as(s"code_$m")
    }
    v.select(col("*") +: codeCols: _*)
  }

  /** Per-query PQ distance table column: dt[m][j] = ‖c_{m,j}‖² − 2·q_m·c_{m,j}
    * over a `qvec` column. */
  private def pqDistTable(cb: Array[Array[(Seq[Double], Double)]]) =
    array((0 until PqM).map { m =>
      val qsub = slice(col("qvec"), m * PqSubDim + 1, PqSubDim)
      array((0 until PqK).map { j =>
        val (cvec, csq) = cb(m)(j)
        lit(csq) - call_function("vec_dot", qsub, typedLit(cvec)) * 2.0
      }: _*)
    }: _*)

  /** adist = qsq + dt[0][code_0] + … — fixed left-associated additions so
    * the oracle's identical expression is bit-exact. */
  private def pqAdist =
    (0 until PqM).foldLeft(col("qsq")) { (acc, m) =>
      acc + element_at(element_at(col("dt"), m + 1), col(s"code_$m") + 1)
    }

  /** PQ ANN top-k by asymmetric distance: each query precomputes its
    * 4×8-entry distance table ONCE (broadcast with the query row), and each
    * candidate pays 4 table lookups + 4 adds instead of a 64-dim cosine —
    * the query-time contract that makes PQ the memory- and compute-scale
    * path. adist = ‖q‖² + Σ_m (‖c‖² − 2 q_m·c)[code_m], summed in fixed
    * left-to-right subspace order so the doubles are engine-portable.
    * Ranking: adist asc (smaller = nearer), vec_id tie-break. */
  def pqTopK(emb: DataFrame, k: Int = 10, nQueries: Int = 5): DataFrame = {
    val prep = prepared(emb)
    val cb = collectCodebook(prep)
    val coded = withPqCodes(prep, cb)
    val q = prep.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("sq").as("qsq"))
      .withColumn("dt", pqDistTable(cb))
      .select(col("query_id"), col("qsq"), col("dt"))
    rankByAdist(
      coded.join(broadcast(q), col("vec_id") =!= col("query_id")), k)
  }

  private def rankByAdist(joined: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("adist"), col("vec_id"))
    joined
      .withColumn("adist", pqAdist)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), round(col("adist"), 6).as("adist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF+PQ — the composed production ANN shape at 100 TB: the corpus is
    * stored as (cell, 4 PQ codes) — the cell prunes the scan to the probed
    * partitions, the codes make each surviving candidate a 4-lookup score.
    * Neither stage shuffles the corpus: cell and codes are narrow literal
    * projections, probes and distance tables are broadcast. */
  def ivfPqTopK(emb: DataFrame, k: Int = 10, nQueries: Int = 5): DataFrame = {
    val prep = prepared(emb)
    val n = prep.count()
    // same sample-bounded k_q as [[ivfTopK]] — the composed production ANN
    // shape serves queries, so its build obeys the same linear discipline
    val kc = queryCentroidCount(n)
    if (kc <= LiteralCentroidMax) ivfPqTopK(prep, collectCentroidsK(prep, kc), k, nQueries)
    else {
      // past the threshold: log-tree assignment + frame-based probes,
      // PQ codes/distance tables unchanged (codebook is PqK=8 rows — never
      // part of the k growth)
      val cb = collectCodebook(prep)
      val cdf = centroidFrame(prep, kc)
      val assigned = bestCentroidTree(prep, cdf, kc)
        .withColumn("cell", -col("best").getField("ncid"))
        .select(col("vec_id"), col("label"), col("vec"), col("sq"), col("cell"))
      val probes = ivfProbesFrame(prep, cdf, nQueries)
        .withColumn("dt", pqDistTable(cb))
        .select(col("query_id"), col("qsq"), col("dt"), col("cell"))
      rankByAdist(
        withPqCodes(assigned, cb).join(broadcast(probes), Seq("cell"))
          .filter(col("vec_id") =!= col("query_id")), k)
    }
  }

  private[graft] def ivfPqTopK(prep: DataFrame, cents: Array[(Long, Seq[Double], Double)],
      k: Int, nQueries: Int): DataFrame = {
    val cb = collectCodebook(prep)
    val coded = withPqCodes(withIvfCell(prep, cents), cb)
    val probes = ivfProbes(prep, cents, nQueries)
      .withColumn("dt", pqDistTable(cb))
      .select(col("query_id"), col("qsq"), col("dt"), col("cell"))
    rankByAdist(
      coded.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id")), k)
  }

  /** ANN top-k: candidates share the query's LSH bucket; rank by exact
    * cosine within the bucket. Recall is partial by design — that is the
    * ANN contract; raise `planes` resolution or use
    * [[lshMultiProbeTopK]] for more. */
  def lshTopK(emb: DataFrame, k: Int = 10, nQueries: Int = 5): DataFrame = {
    val v = withBucket(prepared(emb))
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
        col("sq").as("qsq"), col("bucket").as("qbucket"))
    rankTopK(
      v.join(broadcast(q),
          col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
        .withColumn("cos",
          VectorMath.dot("vec", "qvec") / sqrt(col("sq") * col("qsq"))),
      k)
  }

  val RpDims = 16

  /** Deterministic ±1 random-projection matrix (sparse JL / Achlioptas
    * signs): r(j,d) = ±1 by the parity of the portable hash64("rp<j>_<d>"),
    * so the DuckDB oracle regenerates the identical matrix — same
    * convention as [[hyperplanes]]. */
  def rpMatrix(out: Int = RpDims, dims: Int = 64): Seq[Seq[Double]] =
    (0 until out).map { j =>
      (0 until dims).map { d =>
        if (graft.functions.Signatures.hash64String(s"rp${j}_$d") % 2 == 0) 1.0 else -1.0
      }
    }

  /** Johnson–Lindenstrauss random projection 64 → [[RpDims]] dims: a fully
    * narrow literal-matrix projection (16 `vec_dot`s per row, codegen'd, no
    * shuffle) that preserves pairwise angles within the JL bound — the
    * cheap pre-step before ANN or clustering when the full embedding width
    * is memory-bound at 100 TB (4× smaller vectors here). Output: one row
    * per (vec_id, dim) with the projected coordinate. */
  def rpProject(emb: DataFrame): DataFrame = {
    val prep = prepared(emb)
    val m = rpMatrix()
    val proj = array(m.map(r =>
      call_function("vec_dot", col("vec"), typedLit(r)) / sqrt(lit(RpDims.toDouble))): _*)
    prep
      .select(col("vec_id"), posexplode(proj).as(Seq("dim", "proj_val")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        round(col("proj_val"), 6).as("proj_val"))
      .orderBy(col("vec_id"), col("dim"))
  }

  /** Two-stage retrieve-rerank ANN in projected space: stage 1 scores
    * candidates by cosine over the 16-dim JL projection (4× cheaper per
    * pair; scale-free, so the unscaled dot suffices) and keeps a
    * `shortlist` per query; stage 2 reranks only the shortlist by exact
    * 64-dim cosine. The modern retrieval stack's coarse→exact shape —
    * cheap score over everything, exact score over almost nothing. Plan:
    * projections are narrow literal-matrix work; queries broadcast; the
    * two windows shuffle (query, score, id) triples only. */
  def rpRerankTopK(emb: DataFrame, k: Int = 10, nQueries: Int = 5,
      shortlist: Int = 100): DataFrame = {
    val prep = prepared(emb)
    val m = rpMatrix()
    val projArr = array(m.map(r => call_function("vec_dot", col("vec"), typedLit(r))): _*)
    val v = prep
      .withColumn("pvec", projArr)
      .withColumn("psq", call_function("vec_dot", col("pvec"), col("pvec")))
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("sq").as("qsq"),
        col("pvec").as("qpvec"), col("psq").as("qpsq"))
    val wCoarse = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("pcos").desc, col("vec_id"))
    rankTopK(
      v.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("pcos",
          call_function("vec_dot", col("pvec"), col("qpvec")) /
            sqrt(col("psq") * col("qpsq")))
        .withColumn("prank", row_number().over(wCoarse))
        .filter(col("prank") <= shortlist)
        .withColumn("cos",
          VectorMath.dot("vec", "qvec") / sqrt(col("sq") * col("qsq"))),
      k)
  }

  /** Scalar-quantized (SQ8) ANN top-k — the third compression point on the
    * memory-scale ladder (full f64 → SQ8 int8 → PQ codes): every vector
    * stores one f64 scale plus 64 small-int codes (8× smaller at rest than
    * the double vector, 8× more precise than PQ's 4 codes), with
    * per-vector symmetric quantization code[d] = ⌊vec[d]/scale + ½⌋,
    * scale = max|vec|/127. Approximate cosine rescales the integer dot:
    * (scale_a·scale_q)·Σ code_a·code_q / √(sq_a·sq_q) — true norms kept,
    * so only the dot is approximate. Same plan shape as brute force
    * (queries broadcast, corpus never shuffles, one top-k window); the
    * quantization itself is a narrow projection. All arithmetic is
    * fixed-order IEEE doubles (floor/abs/max — no rounding modes), so the
    * DuckDB oracle reproduces the codes and scores bit-for-bit. */
  def sq8TopK(emb: DataFrame, k: Int = 10, nQueries: Int = 5): DataFrame = {
    val prep = prepared(emb)
    val v = prep
      .withColumn("scale", expr(
        "greatest(aggregate(vec, cast(0 as double), (m, x) -> greatest(m, abs(x))), 1e-12) / cast(127 as double)"))
      .withColumn("code", expr(
        // Spark floor(double) yields BIGINT; vec_dot wants array<double>
        "transform(vec, x -> cast(floor(x / scale + cast(0.5 as double)) as double))"))
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("code").as("qcode"),
        col("scale").as("qscale"), col("sq").as("qsq"))
    rankTopK(
      v.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("cos",
          (col("scale") * col("qscale")) * VectorMath.dot("code", "qcode") /
            sqrt(col("sq") * col("qsq"))),
      k)
  }

  /** Recall@k report — the measuring query behind the ANN recall knobs:
    * for each ANN variant, the fraction of the exact [[bruteForceTopK]]
    * top-k it returns over the same query set. One small aggregate (7
    * methods × nQueries·k candidate rows); the exact top-k is broadcast.
    * This turns the recall/probe trade-offs (SCALING.md ANN notes) into a
    * measured, regression-gated number instead of prose: at 100 TB you
    * run exactly this report on a held-out query sample to tune
    * planes/probes before committing to a bucket layout. */
  def recallReport(emb: DataFrame, k: Int = 10, nQueries: Int = 5): DataFrame = {
    val brute = bruteForceTopK(emb, k, nQueries)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    // one prepared frame + one centroid collect shared by both IVF
    // variants: the count and centroid jobs run once for the whole report
    val prep = prepared(emb)
    val n = prep.count()
    // the report composes the LITERAL-regime variants; past FlatCentroidMax
    // it would silently collect and broadcast a k-row table the scale
    // dispatch exists to forbid. Recall tuning runs on a held-out SAMPLE
    // (the documented usage) - enforce that instead of quietly regressing.
    // The IVF arms evaluate the QUERY-serving index, so k_q is the
    // sample-bounded count ivfTopK/ivfPqTopK actually serve with.
    val kq = queryCentroidCount(n)
    require(kq <= FlatCentroidMax,
      s"recallReport is a literal-regime evaluation harness: corpus of $n " +
        s"vectors implies k=" + kq + s" > FlatCentroidMax=" +
        FlatCentroidMax + "; run it on a held-out sample, or evaluate the " +
        "two-level entries (sim_ivf_twolevel) directly")
    val cents = collectCentroidsK(prep, kq)
    val methods: Seq[(String, DataFrame)] = Seq(
      "ivf" -> ivfTopK(prep, cents, k, nQueries),
      "ivfpq" -> ivfPqTopK(prep, cents, k, nQueries),
      "lsh" -> lshTopK(emb, k, nQueries),
      "lsh_mp" -> lshMultiProbeTopK(emb, k, nQueries),
      "pq" -> pqTopK(emb, k, nQueries),
      "rp_rerank" -> rpRerankTopK(emb, k, nQueries),
      "sq8" -> sq8TopK(emb, k, nQueries))
    val cand = methods.map { case (m, df) =>
      df.select(lit(m).as("method"), col("query_id"), col("vec_id"))
    }.reduce(_ unionByName _)
    cand
      .join(broadcast(brute), Seq("query_id", "vec_id"), "left")
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_returned"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .withColumn("recall_at_10",
        round(col("n_hits") / lit((k * nQueries).toDouble), 4))
      .orderBy(col("method"))
  }

  /** Multi-probe LSH — the recall knob: each query also probes every
    * bucket at Hamming distance 1 from its own (a near neighbor that
    * lands on the wrong side of ONE hyperplane is recovered). Probe count
    * is planes+1 per query, so query cost grows linearly while recall
    * approaches the next-doubling of `planes` — the standard trade
    * (Lv et al., multi-probe LSH). Same plan shape as [[lshTopK]]: the
    * corpus never shuffles; only the broadcast probe set grows. */
  def lshMultiProbeTopK(emb: DataFrame, k: Int = 10, nQueries: Int = 5): DataFrame = {
    val v = withBucket(prepared(emb))
    val probes = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
        col("sq").as("qsq"), col("bucket").as("qbucket"))
      .withColumn("bucket", explode(array(
        col("qbucket") +:
          (0 until LshPlanes).map(p => col("qbucket").bitwiseXOR(lit(1 << p))): _*)))
      .drop("qbucket")
    rankTopK(
      v.join(broadcast(probes), Seq("bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos",
          VectorMath.dot("vec", "qvec") / sqrt(col("sq") * col("qsq"))),
      k)
  }

  /** Per-dimension embedding moments — the distributed-PCA diagnostic a
    * retrieval pipeline reads before trusting its vectors: a dimension
    * with ~zero variance is dead weight in every dot product, wildly
    * uneven variances mean the space is anisotropic (cosine is then
    * dominated by a few axes), and the diagonal spectrum yields the
    * effective-dimensionality estimate (Σv)²/Σv² (the spec computes it
    * from this frame and checks it lands in (1, dims]).
    *
    * Exact-replay arithmetic: each coordinate is quantized ONCE to
    * integer micro-units (`round(x·10⁶)` — float→double widening is
    * IEEE-exact and identical in both engines), so Σx and Σx² are BIGINT
    * sums — associative, partitioning-independent — and mean/variance
    * divide two exact integers at the very end.
    *
    * Scale shape: one narrow posexplode (dims rows per vector, two longs
    * each) into a dims-row aggregation with map-side combine — per
    * partition, dims·16 bytes cross the wire regardless of corpus size.
    * No join, no window, no driver state. */
  def dimStats(emb: DataFrame, dims: Int = 64): DataFrame = {
    val m = emb
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .select(col("pos").cast("long").as("dim"),
        round(col("x") * 1e6).cast("long").as("xe6"))
    m.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("xe6")).as("sx"),
        // decimal sum: sum(xe6^2) outgrows LONG at ~2.3M vectors per dim
        // (xe6^2 ~ 1e12/row) — loud ANSI failure exactly at scale; the
        // exact decimal integers feed the same double combine
        sum((col("xe6").cast("decimal(38,0)") * col("xe6"))).as("sx2"))
      .select(
        col("dim"), col("n"),
        round(col("sx").cast("double") / (col("n") * 1e6), 6).as("mean"),
        // the combine step is DOUBLE arithmetic: n·sx2 in LONG wraps
        // silently at only ~3–5k vectors per dim (sx2 ~ n·10¹²); the
        // integer discipline ends at the exact sums, which both engines
        // convert to the same doubles before combining
        round((col("n").cast("double") * col("sx2").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) /
          (col("n").cast("double") * col("n") * 1e12), 6).as("variance"),
        round(sqrt((col("n").cast("double") * col("sx2").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) /
          (col("n").cast("double") * col("n") * 1e12)), 6).as("std"))
      .orderBy(col("dim"))
  }

  /** Sampled pairwise-cosine distribution — the anisotropy report: if
    * random pairs already score cos ≈ 0.8, a 0.85 ANN threshold is
    * meaningless (Ethayarajh 2019's contextual-embedding finding, run as
    * a pipeline gate). Pairs are drawn DETERMINISTICALLY by hashing ids
    * into `nBuckets` buckets and pairing within buckets — replayable, no
    * RNG, and the pair count concentrates at ~n²/(2·nBuckets).
    *
    * Scale shape: one bucket-keyed self-join; bucket population is
    * n/nBuckets, so nBuckets must scale with the corpus (size it to
    * n/4-ish — the operator takes it as a parameter; the default suits
    * the fixture). Cosines quantize to integer micro-units before the
    * 1-row aggregate, so the summary is partitioning-independent. */
  def pairStats(emb: DataFrame, nBuckets: Int = 256): DataFrame = {
    val v = prepared(emb)
      .withColumn("bucket",
        pmod(call_function("hash64", concat(lit("pair#"), col("vec_id").cast("string"))),
          lit(nBuckets.toLong)))
    val a = v.as("a")
    val b = v.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos_e6",
        round(VectorMath.dot("a.vec", "b.vec") /
          sqrt(col("a.sq") * col("b.sq")) * 1e6).cast("long"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(sum(col("cos_e6")).cast("double") / (count(lit(1)) * 1e6), 4)
          .as("mean_cos"),
        // DOUBLE combine (same reason as dimStats): n_pairs·Σcos² in LONG
        // wraps at only ~3k sampled pairs
        round(sqrt((count(lit(1)).cast("double") *
          sum(col("cos_e6").cast("decimal(38,0)") * col("cos_e6")).cast("double") -
          sum(col("cos_e6")).cast("double") * sum(col("cos_e6")).cast("double")) /
          (count(lit(1)).cast("double") * count(lit(1)) * 1e12)), 4).as("std_cos"),
        round(min(col("cos_e6")).cast("double") / 1e6, 4).as("min_cos"),
        round(max(col("cos_e6")).cast("double") / 1e6, 4).as("max_cos"))
  }
}
