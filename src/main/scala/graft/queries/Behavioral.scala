package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Behavioral / sequence / graph analytics — the event-log query family a
 * production analytics engine is asked for beyond plain relational operators
 * (the reference's query surface stops at aggregate dashboards; these are the
 * standard next asks: cohort retention, ordered funnels, Markov transition
 * matrices, rolling active users, co-occurrence graphs, association rules).
 *
 * Scale notes (100 TB design intent):
 *  - every per-user computation shuffles ONCE on `user_id` and reuses that
 *    partitioning across the chained joins/aggregations (cohort join, funnel
 *    step joins) — no global windows anywhere in this module;
 *  - the rolling-active computation avoids a range join by EXPLODING each
 *    user-day into its ≤7 target days (a bounded fan-out) and equi-joining,
 *    so the plan is shuffle-hash all the way down;
 *  - PageRank is the iterative-join formulation (GraphX/GraphFrames shape):
 *    each iteration is one equi-join rank ⋈ edges on `src` + one reduce on
 *    `dst`. Rank mass is carried as integer micro-units with floor division
 *    so partial-aggregation order can never perturb the result — the same
 *    determinism trick the LM/NLL operators in [[graft.operators.TextAnalysis]]
 *    use. On a real cluster the edge frame would be bucketed by `src`
 *    ([[graft.export.Bucketed]]) so iterations reuse one layout;
 *  - association-rule mining bounds the pair space by the per-basket item
 *    count (≤13 parts per order in TPC-H-ish data; the self-join fan-out is
 *    k², not corpus²) — the same candidate-blocking discipline as the dedup
 *    family.
 */
object Behavioral {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Registry of the per-corpus persisted graph frames below, keyed by
    * (corpus dir, kind). The cache manager already dedups identical plans,
    * so within one corpus the five graph queries share one entry — but a
    * long-lived session that walks MANY corpora would otherwise accumulate
    * one permanently-cached edge frame per directory. Lifecycle: when a
    * frame for a NEW dir is requested, entries for every other dir are
    * unpersisted (non-blocking) and dropped — a session processes one
    * corpus at a time, which is exactly the bench's and the CLI's shape.
    * [[clearGraphCaches]] is the explicit hook for callers that want the
    * memory back immediately. */
  private val corpusCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  /** Test hook: current registry keys with each frame's owning session —
    * the lifecycle specs assert eviction on corpus change and ownership
    * on cross-session requests without reaching into private state. */
  private[graft] def graphCacheEntries: Seq[((String, String), SparkSession)] =
    synchronized { corpusCache.toSeq.map { case (k, df) => (k, df.sparkSession) } }

  /** Unpersist (live frames only) and forget every cached graph frame. */
  def clearGraphCaches(): Unit = synchronized {
    corpusCache.values.foreach(safeUnpersist)
    corpusCache.clear()
  }

  /** unpersist is itself a block-manager call — on a frame whose context
    * was stopped it throws, so every eviction path must check first. */
  private def safeUnpersist(df: DataFrame): Unit =
    if (!df.sparkSession.sparkContext.isStopped) df.unpersist(blocking = false)

  private def cachedFrame(s: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame =
    synchronized {
      val stale = corpusCache.keys.filter(_._1 != dir).toSeq
      stale.foreach { k =>
        corpusCache.remove(k).foreach(safeUnpersist)
      }
      // the registry outlives SparkSessions (it's object state): a hit
      // bound to a STOPPED context would throw on first use, and a hit
      // bound to a DIFFERENT live session in the same JVM would silently
      // serve frames whose conf/extensions belong to someone else — so
      // validate the owner is exactly the requesting session and rebuild
      // otherwise
      corpusCache.get((dir, kind)).foreach { cached =>
        if (cached.sparkSession.sparkContext.isStopped)
          corpusCache.remove((dir, kind))
        else if (!(cached.sparkSession eq s))
          corpusCache.remove((dir, kind)).foreach(safeUnpersist)
      }
      val df = corpusCache.getOrElseUpdate((dir, kind),
        build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // An external cacheManager.clearCache() (the bench does this between
      // rungs) drops the storage but leaves the registry entry; re-assert
      // the level so a registry hit is always actually cached.
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    }

  /** Distinct (order, part) basket projection — the shared input of every
    * co-purchase graph query — persisted MEMORY_AND_DISK. Five queries
    * build this identical frame (and the self-joins below read it twice
    * each); persisting keys the entry by plan in the cache manager, so
    * all of them share ONE materialization per corpus and repeat
    * invocations reuse it instead of re-running the scan + distinct. */
  private def orderParts(s: SparkSession, dir: String): DataFrame =
    cachedFrame(s, dir, "orderParts") {
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    }

  /** Directed co-purchase edge list (parts sharing an order ⇒ edge both
    * ways) WITH each source's out-degree: `(src, dst, deg)`, persisted
    * MEMORY_AND_DISK. The graph family re-reads this frame 3–6× per
    * query — PageRank touches it once per iteration, triangle closure
    * three times — so it is materialized ONCE instead of re-deriving the
    * self-join + distinct + degree join at every use (the GraphX
    * discipline: persist the edge frame before iterating; without it the
    * final adaptive plan re-executes the derivation per use — 14–36
    * lineitem scans per query with zero exchange reuse, measured in
    * SCALING.md). Degree rides along because every
    * consumer needs it (PageRank's contribution split, the orientation
    * rank, the degree histogram), which keeps each iteration a single
    * cache-read + one rank shuffle. At 100 TB this frame is the bucketed
    * edge warehouse; MEMORY_AND_DISK is the local stand-in that degrades
    * to disk instead of recomputation. */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val op = orderParts(s, dir)
    cachedFrame(s, dir, "coPurchaseEdges") {
      val e = op.as("a").join(op.as("b"),
          col("a.o") === col("b.o") && col("a.p") =!= col("b.p"))
        .select(col("a.p").as("src"), col("b.p").as("dst")).distinct()
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), Seq("src"))
    }
  }

  /** Materialize (and count) the shared per-corpus graph frames — the
    * edge-warehouse build every graph query amortizes (orderParts +
    * coPurchaseEdges, both persisted). Exposed so the bench can time this
    * shared bill as its OWN artifact key (`graph_edge_build_sec`) instead
    * of booking it against whichever graph query happens to run first —
    * the accounting slip that made cc look 3× slow for two rounds
    * (the cold-bill decomposition in BENCH_NOTES.md; VERDICT r13 #5). Returns the
    * directed edge count. */
  def prewarmGraphFrames(s: SparkSession, dir: String): Long =
    coPurchaseEdges(s, dir).count()

  /** Test seam (the [[graft.operators.Bpe.driverCollectRows]] discipline):
    * rows the CC loop pulls to the driver — exactly ONE per executed
    * round (the fixpoint-signature sum below), never node- or
    * edge-scaled. `DriverStateGateSpec` pins the bound. */
  private[graft] val driverCollectRows = new java.util.concurrent.atomic.AtomicLong

  /** Connected-component labels by min-label propagation WITH pointer
    * jumping, UP TO `rounds` rounds over a SYMMETRIC `(src, dst)` edge
    * frame: each round first pulls the minimum neighbor label
    * (one edge⋈labels equi-join + one min aggregation), then jumps every
    * node to its label's label (one labels self equi-join — the
    * pointer-doubling step that makes coverage radius grow geometrically
    * instead of one hop per round, so log(diameter) rounds suffice).
    * Labels are node ids, so the jump join always finds its target row;
    * exact CC labels whenever the component diameter is within the
    * schedule's reach (a property the spec pins on a path graph at the
    * reach boundary).
    *
    * The loop EXITS EARLY at the fixpoint (r14): labels are pointwise
    * NON-INCREASING across a round (prop takes min(own, neighbors);
    * comp(x) ≤ x by induction, so the jump's comp(comp(n)) ≤ comp(n)),
    * so two consecutive rounds with equal exact decimal label-sums have
    * changed NOTHING — every further round is a provable no-op, and at
    * 100 TB each skipped round is a whole edge-frame shuffle that would
    * have produced bit-identical labels. Early exit keeps the operator
    * deterministic (a data property, not a timing one) and
    * oracle-unrollable: the DuckDB twin unrolls the full `rounds`
    * schedule and lands on the same fixpoint. The signature costs one
    * 1-row aggregation per round over the just-checkpointed N-row frame
    * (ledgered via [[driverCollectRows]] — the BPE merge-loop bound).
    * Every per-round op is an equi-join or aggregation — no pair space;
    * this is the 100 TB CC plan (the dedup family's distributed fallback
    * shares the pointer-doubling core). */
  private[graft] def ccLabelProp(edges: DataFrame, rounds: Int): DataFrame =
    ccLabelPropLoop(edges, rounds)._1

  /** [[ccLabelProp]] + a CONVERGENCE WITNESS: `(labels, converged)` where
    * `converged` = the final round changed no label — i.e. the fixed point
    * was reached and a further sweep is a no-op. A production caller on an
    * unknown-diameter graph runs a fixed schedule, checks the flag, and
    * schedules another sweep only if it is false — keeping each run
    * deterministic and oracle-unrollable (no hidden driver convergence
    * loop) while still covering arbitrary diameters. The witness is one
    * extra equi-join count over the last two label frames, both already
    * localCheckpointed — O(N) executor work, zero driver state, and paid
    * ONLY by callers that ask for the witness ([[ccLabelProp]] skips it).
    * With `rounds = 0` the flag is vacuously false on any non-empty graph
    * (nothing ran, nothing is witnessed). */
  private[graft] def ccLabelPropRun(edges: DataFrame, rounds: Int): (DataFrame, Boolean) = {
    val (labels, prev) = ccLabelPropLoop(edges, rounds)
    val converged = prev != null &&
      labels.as("a").join(prev.as("b"), col("a.node") === col("b.node"))
        .filter(col("a.comp") =!= col("b.comp")).isEmpty
    (labels, converged)
  }

  /** The propagation loop: returns (final labels, labels before the final
    * EXECUTED round — null when no round ran). Stops early at the
    * fixpoint (see [[ccLabelProp]]'s signature argument). */
  private def ccLabelPropLoop(edges: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    var prev: DataFrame = null
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("comp"))
    var prevSum: java.math.BigDecimal = null
    var havePrevSum = false
    var round = 0
    var converged = false
    while (round < rounds && !converged) {
      prev = labels
      val neigh = edges.join(labels, edges("src") === labels("node"))
        .groupBy(edges("dst")).agg(min(col("comp")).as("mc"))
        .select(col("dst").as("node"), col("mc"))
      // EAGER lineage cut at every round boundary — the GraphX/Pregel
      // discipline, and here it is load-bearing: the jump consumes prop
      // twice and the next round consumes the jump twice, so a lazy plan
      // doubles the subtree under it every round (2^rounds join stages;
      // measured 12 s → 137 s for one extra round on a 20k-node frame
      // whose DATA is trivial — all driver planning and task-binary
      // blowup, which persist() alone does NOT fix because the lazy plan
      // tree still nests). localCheckpoint materializes the round (one
      // bounded N-row frame) and replaces its lineage with the stored
      // partitions; each round then costs the same three joins, full
      // stop. Executor-local storage is exactly as durable as the cached
      // edge frame this family already relies on.
      val prop = labels.join(neigh, Seq("node"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("mc"), col("comp"))).as("comp"))
      // fixpoint signature: exact decimal sum (decimal(38,0) cannot
      // overflow where a bigint sum of ~2^63-scale ids × rows could),
      // riding the CHECKPOINT JOB ITSELF as an observed metric — the old
      // shape scheduled a separate 1-row aggregation job over the
      // just-checkpointed frame every round; CollectMetrics computes the
      // same exact sum during the materialization pass, so each round is
      // one job shorter (plan witness: no per-round Aggregate-over-
      // checkpoint job; ONE row to the driver per round — ledgered).
      // Labels are pointwise non-increasing across a round, so equal
      // consecutive sums ⇔ no label moved ⇔ fixpoint.
      val obs = org.apache.spark.sql.Observation(s"cc_sig_r${round}_${System.nanoTime()}")
      labels = prop.as("a").join(prop.as("b"), col("a.comp") === col("b.node"))
        .select(col("a.node").as("node"), col("b.comp").as("comp"))
        .observe(obs, sum(col("comp").cast("decimal(38,0)")).as("cs"))
        .localCheckpoint()
      // metric delivery is asynchronous (execution-listener bus) — bounded
      // wait, same discipline as Sinks.writeCounted; the
      // fallback 1-row aggregation keeps the loop CORRECT if delivery ever
      // regressed (and would show up as the extra job the spec watches)
      val s = {
        import scala.concurrent.duration._
        val f = scala.concurrent.Future(
          obs.get("cs").asInstanceOf[java.math.BigDecimal])(
          scala.concurrent.ExecutionContext.global)
        try scala.concurrent.Await.result(f, 30.seconds)
        catch { case _: java.util.concurrent.TimeoutException =>
          labels.agg(sum(col("comp").cast("decimal(38,0)")).as("cs"))
            .head.getDecimal(0)
        }
      }
      driverCollectRows.incrementAndGet()
      if (havePrevSum &&
          ((s == null && prevSum == null) ||
            (s != null && prevSum != null && s.compareTo(prevSum) == 0)))
        converged = true
      prevSum = s
      havePrevSum = true
      round += 1
    }
    (labels, prev)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Cohort retention matrix: users grouped by first-active week; for each
    // (cohort, week-offset) the count of cohort members active that week.
    // Two shuffles total, both on user_id (min-agg, then distinct+join reuse
    // the same hash partitioning under AQE).
    "evt_retention_cohorts" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
      ev.distinct()
        .join(cohort, Seq("user_id"))
        .withColumn("week_offset", expr("datediff(week, cohort_week) div 7").cast("long"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),
    // Ordered step funnel view → click → purchase with strict event-time
    // progression (a later step only counts if it happens AFTER the user's
    // first completion of the previous step). Expressed as chained
    // min-aggregate + equi-join on user_id — no window, no global sort; the
    // classic funnel formulation that scales because every step is one
    // user-keyed shuffle.
    "evt_step_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id")).filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id")).filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      v.agg(count(lit(1)).as("n_users")).withColumn("step", lit("1_view"))
        .unionByName(c.agg(count(lit(1)).as("n_users")).withColumn("step", lit("2_click")))
        .unionByName(p.agg(count(lit(1)).as("n_users")).withColumn("step", lit("3_purchase")))
        .select(col("step"), col("n_users"))
        .orderBy(col("step"))
    }),
    // First-order Markov chain over each user's event sequence: transition
    // counts + row-normalized probabilities. The lead() window is partitioned
    // by user_id (never global); the probability normalization runs over the
    // collapsed |event_types|² frame (≤25 rows), so its window is benign.
    "evt_markov_chain" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val trans = t(s, dir, "events")
        .withColumn("dst", lead(col("event_type"), 1).over(byUser))
        .filter(col("dst").isNotNull)
        .groupBy(col("event_type").as("src"), col("dst"))
        .agg(count(lit(1)).as("n"))
      val bySrc = Window.partitionBy(col("src"))
      trans
        .withColumn("prob", round(col("n") / sum(col("n")).over(bySrc), 6))
        .select(col("src"), col("dst"), col("n"), col("prob"))
        .orderBy(col("src"), col("dst"))
    }),
    // 7-day rolling distinct active users per day, EXACT — not a range join:
    // each distinct user-day contributes to its next 7 target days via a
    // bounded explode, then one equi-shuffle counts distinct users per target
    // day. Target days are restricted to days that actually occur (tiny
    // dimension → broadcast).
    "evt_rolling_active" -> ((s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .distinct()
      val days = ud.select(col("day")).distinct()
      ud.withColumn("target_day",
          explode(expr("sequence(day, day + interval 6 days, interval 1 day)")))
        .join(broadcast(days.withColumnRenamed("day", "target_day")), Seq("target_day"))
        .groupBy(col("target_day").as("day"))
        .agg(countDistinct(col("user_id")).as("active_7d"))
        .orderBy(col("day"))
    }),
    // PageRank (3 fixed iterations, damping 0.85) over the part co-purchase
    // graph (parts sharing an order ⇒ symmetric edge). Rank carried as
    // integer micro-units with floor division — bit-identical under any
    // partial-aggregation order. Every node has deg ≥ 1 and (symmetry) at
    // least one in-edge, so no dangling-mass term is needed.
    "graph_pagerank" -> ((s, dir) => {
      val edges = coPurchaseEdges(s, dir)
      var ranks = edges.select(col("src").as("node")).distinct()
        .select(col("node"), lit(1000000L).as("rnk"))
      for (_ <- 1 to 3) {
        ranks = edges.join(ranks, edges("src") === ranks("node"))
          .select(col("dst"), expr("rnk div deg").as("c"))
          .groupBy(col("dst"))
          .agg(sum(col("c")).as("sc"))
          .select(col("dst").as("node"), expr("150000 + (85 * sc) div 100").cast("long").as("rnk"))
      }
      ranks.orderBy(col("rnk").desc, col("node"))
        .limit(20)
        .select(col("node").as("part"), col("rnk").as("rank_micro"))
    }),
    // Connected components of the co-purchase graph: 4 rounds of
    // min-label propagation + pointer jumping (see ccLabelProp) over the
    // shared persisted edge frame, reported as the top component sizes plus
    // the CONVERGENCE WITNESS (ccLabelPropRun): converged=1 iff the final
    // round moved no label, so a caller on an unknown-diameter graph knows
    // whether the fixed schedule reached the fixed point — and the oracle
    // re-derives the same bit from its own unrolled rounds, making the
    // witness value-verified, not just unit-tested.
    "graph_cc_labelprop" -> ((s, dir) => {
      val (labels, converged) = ccLabelPropRun(
        coPurchaseEdges(s, dir).select(col("src"), col("dst")), rounds = 4)
      labels.groupBy(col("comp")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("n_nodes").desc, col("comp"))
        .limit(20)
        .withColumn("converged", lit(if (converged) 1L else 0L))
    }),
    // Degree distribution of the same co-purchase graph — the graph-health
    // diagnostic you run BEFORE an iterative algorithm (hub detection: a
    // power-law tail here predicts skewed join keys in PageRank).
    "graph_degree_stats" -> ((s, dir) => {
      coPurchaseEdges(s, dir)
        .select(col("src"), col("deg")).distinct()
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("deg"))
    }),
    // Item-item collaborative filtering (co-occurrence cosine): for every
    // part, the 5 most-similar parts by basket co-occurrence,
    // sim = cooc / √(n_i·n_j). The pair space is the basket self-join
    // (bounded per-order k²); the top-k rides a per-item window over the
    // collapsed pair frame — the classic offline item-rec build.
    "rec_item_sim" -> ((s, dir) => {
      val op = orderParts(s, dir)
      val cnt = op.groupBy(col("p")).agg(count(lit(1)).as("n"))
      val pairs = op.as("a").join(op.as("b"),
          col("a.o") === col("b.o") && col("a.p") =!= col("b.p"))
        .groupBy(col("a.p").as("item"), col("b.p").as("other"))
        .agg(count(lit(1)).as("cooc"))
      val sim = pairs
        .join(cnt.select(col("p").as("item"), col("n").as("ni")), Seq("item"))
        .join(cnt.select(col("p").as("other"), col("n").as("nj")), Seq("other"))
        .withColumn("cosine", // decimal product: ni*nj outgrows LONG
          // when two 3e9-support items co-occur; exact integers <= 2^63
          // convert to the identical double either way
          round(col("cooc") / sqrt((col("ni").cast("decimal(38,0)") * col("nj"))
            .cast("double")), 6))
      val byItem = Window.partitionBy(col("item"))
        .orderBy(col("cosine").desc, col("other"))
      sim.withColumn("rnk", row_number().over(byItem).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("item"), col("rnk"), col("other"), col("cooc"), col("cosine"))
        .orderBy(col("item"), col("rnk"))
    }),
    // Last-touch attribution: each purchase is attributed to the user's most
    // recent click at most 24 h before it. One user-partitioned ordered
    // window carries the running last-click timestamp (ignoreNulls last());
    // gaps are exact integer microseconds.
    "evt_attribution" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("lc", last(
          when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("lc")))
        .select(col("event_id"), col("user_id"),
          expr("gap_us div 60000000").as("gap_min"),
          coalesce(col("gap_us") <= 86400000000L, lit(false)).as("attributed"))
        .orderBy(col("event_id"))
    }),
    // Inter-arrival time percentiles: per event type, the median and p90 gap
    // between a user's consecutive events of that type. The lag window is
    // (user, type)-partitioned; percentiles run on exact integer-microsecond
    // gaps over the per-type frame.
    "evt_interarrival" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("prev")))
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(gap_us, 0.5)"), 2).as("p50_gap_us"),
          round(expr("percentile(gap_us, 0.9)"), 2).as("p90_gap_us"),
          count(lit(1)).as("n_gaps"))
        .orderBy(col("event_type"))
    }),
    // Triangle count + global clustering coefficient over the co-purchase
    // graph, with DEGREE-ORDERED orientation (the scale-correct plan): each
    // undirected edge is directed from its lower-(degree, id) endpoint to the
    // higher, so per-node out-degree is bounded by O(sqrt(|E|)) on any graph
    // (arboricity bound) and the wedge self-join can never blow up on a hub
    // vertex. Every triangle is counted exactly once: its three nodes have a
    // unique (deg, id) order a < b < c, contributing the single wedge
    // (a→b, a→c) closed by (b→c). The oracle counts the same triangles via
    // plain id-ordering — identical total, simpler SQL.
    "graph_triangles" -> ((s, dir) => {
      graft.GraftExtensions.ensureRegistered(s)
      // undirected edge set + degrees from the SHARED persisted directed
      // frame: (u,v) with u < v is exactly one direction of it, and each
      // node's degree is its directed out-degree — so this query rides the
      // same cache entry as PageRank/degree-stats instead of deriving its
      // own self-join
      val ed = coPurchaseEdges(s, dir)
      val e = ed.filter(col("src") < col("dst"))
        .select(col("src").as("u"), col("dst").as("v"))
      val deg = ed.select(col("src").as("n"), col("deg")).distinct()
      val ranked = deg.select(col("n"), struct(col("deg"), col("n")).as("rk"))
      val eo = e
        .join(ranked.select(col("n").as("u"), col("rk").as("ru")), Seq("u"))
        .join(ranked.select(col("n").as("v"), col("rk").as("rv")), Seq("v"))
        .select(
          when(col("ru") < col("rv"), col("u")).otherwise(col("v")).as("src"),
          when(col("ru") < col("rv"), col("v")).otherwise(col("u")).as("dst"))
      // adjacency-intersection closure (not a wedge self-join): for the
      // oriented edge a→b every closing c sits in N+(a) ∩ N+(b), and the
      // a < b < c ordering makes edge (a,b) the unique counting site per
      // triangle. The wedge join would shuffle |wedges| ≈ Σ outdeg² rows
      // (tens of millions at sf0.1); this shuffles only the E-row edge
      // list against a node-count-sized adjacency table (out-degree is
      // √E-bounded by the orientation, so each array is small, and the
      // whole table broadcasts at bench scale — AQE falls back to a
      // sort-merge join when it outgrows that, still E-proportional).
      val adj = eo.groupBy(col("src"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      val tri = eo
        .join(adj.select(col("src"), col("nbrs").as("na")), Seq("src"))
        .join(adj.select(col("src").as("dst"), col("nbrs").as("nb")), Seq("dst"))
        // |N+(a) ∩ N+(b)| via the two-pointer sorted_overlap kernel: the
        // adjacency arrays are sorted and duplicate-free (distinct
        // oriented edges), so the count equals size(array_intersect(…))
        // without array_intersect's per-edge hash set + result array
        .select(call_function("sorted_overlap", col("na"), col("nb")).as("nc"))
        .agg(coalesce(sum(col("nc")), lit(0L)).as("n_triangles"))
      val stats = deg.agg(
        count(lit(1)).as("n_nodes"),
        sum(expr("deg * (deg - 1) div 2")).as("wedge_count"))
      val edges = e.agg(count(lit(1)).as("n_edges"))
      stats.crossJoin(broadcast(edges)).crossJoin(broadcast(tri))
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"), col("wedge_count"),
          // zero wedges (every node degree ≤1): NULL gcc on both engines —
          // Spark's x/0 is null but DuckDB's DOUBLE division is Inf/NaN,
          // so without the guard the engines diverge exactly there
          round(lit(3.0) * col("n_triangles") /
            when(col("wedge_count") =!= 0L, col("wedge_count")), 6).as("gcc"))
    }),
    // Lag-k autocorrelation of daily event volume per type (k = 1, 7) — the
    // seasonality sniff test on a metric stream. Pairs come from a per-type
    // equi-join of the collapsed daily frame against itself shifted by k
    // days; the correlation is computed from exact integer sums (the
    // agg_corr discipline) so both engines evaluate one identical double
    // formula.
    "ts_autocorr" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val pairs = Seq(1, 7).map { k =>
        daily.as("a").join(daily.as("b"),
            col("a.event_type") === col("b.event_type") &&
              col("b.day") === date_add(col("a.day"), k))
          .select(col("a.event_type").as("event_type"), lit(k.toLong).as("lag"),
            col("a.c").as("x"), col("b.c").as("y"))
      }.reduce(_ unionByName _)
      pairs.groupBy(col("event_type"), col("lag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          // cast an OPERAND, not the product: x*x in LONG wraps loud
          // (ANSI) at daily counts ~3e9 before the decimal cast ever runs
          sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
          sum(expr("cast(y as decimal(38,0)) * y")).as("syy"),
          sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"))
        .withColumn("den",
          sqrt(col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
            sqrt(col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double")))
        // constant series ⇒ zero variance ⇒ NULL acf in BOTH engines
        // (DuckDB's raw DOUBLE division would return NaN, not null)
        .withColumn("acf",
          round((col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            when(col("den") =!= 0.0, col("den")), 6))
        .select(col("event_type"), col("lag"), col("n"), col("acf"))
        .orderBy(col("event_type"), col("lag"))
    }),
    // Day-of-week seasonality profile: events per ISO weekday per type with
    // the share of the type's total. The share window runs over the
    // collapsed ≤7-rows-per-type frame (partitioned by type — benign).
    "ts_dow_seasonality" -> ((s, dir) => {
      val byType = Window.partitionBy(col("event_type"))
      t(s, dir, "events")
        .groupBy(col("event_type"), (weekday(to_date(col("ts"))) + 1).cast("long").as("dow"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share", round(col("n") / sum(col("n")).over(byType), 6))
        .orderBy(col("event_type"), col("dow"))
    }),
    // CUSUM change-point scan per event type: the day where the cumulative
    // deviation of daily volume from the type's mean peaks. All arithmetic
    // is exact-integer — cusum_k = N·prefix_k − k·S (deviation-from-mean
    // scaled by N) — so the argmax is bit-stable in both engines; windows
    // are type-partitioned (≤30 rows each).
    "ts_cusum" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val byType = Window.partitionBy(col("event_type"))
      val ordered = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val scored = daily
        .withColumn("nd", count(lit(1)).over(byType))
        .withColumn("s", sum(col("c")).over(byType))
        .withColumn("k", row_number().over(ordered))
        .withColumn("pre", sum(col("c")).over(ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        // decimal arithmetic end to end: nd*pre and k*s are
        // days x event-total products that outgrow LONG at ~1e14 events;
        // the exact integers convert to the same outputs either way
        .withColumn("cusum", col("nd").cast("decimal(38,0)") * col("pre") -
          col("k").cast("decimal(38,0)") * col("s"))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(abs(col("cusum")).desc, col("day"))))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("day").as("cp_day"),
          abs(col("cusum")).cast("long").as("abs_cusum"),
          round(abs(col("cusum")).cast("double") /
            (col("nd").cast("decimal(38,0)") * col("s")).cast("double"), 6)
            .as("rel_shift"))
        .orderBy(col("event_type"))
    }),
    // Association rules (market basket): support / confidence / lift over
    // part pairs co-occurring in an order. Pair space is bounded by the
    // per-order item count (k² per basket, k ≤ 13 here), min-support prunes
    // before the per-item joins, and the corpus total is a 1-row broadcast —
    // the same collapsed-scalar pattern as era_tx_fee_recipients.
    "basket_assoc_rules" -> ((s, dir) => {
      val op = orderParts(s, dir)
      val cnt = op.groupBy(col("p")).agg(count(lit(1)).as("item_n"))
      val tot = op.agg(countDistinct(col("o")).as("n_orders"))
      val pairs = op.as("a").join(op.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
        .agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= 3)
      pairs
        .join(cnt.select(col("p").as("pa"), col("item_n").as("cnt_a")), Seq("pa"))
        .join(cnt.select(col("p").as("pb"), col("item_n").as("cnt_b")), Seq("pb"))
        .crossJoin(broadcast(tot))
        .select(
          col("pa"), col("pb"), col("sup"),
          round(col("sup") / col("cnt_a"), 6).as("conf"),
          // both products in DECIMAL: sup·n_orders and cnt_a·cnt_b overflow
          // a LONG once baskets reach ~1e10 (the r12 integer-kernel class);
          // one double conversion per side keeps the division IEEE-identical
          round((col("sup").cast("decimal(38,0)") * col("n_orders")).cast("double") /
            (col("cnt_a").cast("decimal(38,0)") * col("cnt_b")).cast("double"), 6)
            .as("lift"))
        .orderBy(col("pa"), col("pb"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "evt_retention_cohorts" ->
      """WITH ev AS (SELECT user_id, date_trunc('week', ts) AS week FROM events),
         co AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id),
         uw AS (SELECT DISTINCT e.user_id, e.week, c.cohort_week
                FROM ev e JOIN co c USING (user_id))
         SELECT cohort_week,
                CAST(date_diff('day', cohort_week, week) // 7 AS BIGINT) AS week_offset,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         FROM uw GROUP BY 1, 2 ORDER BY 1, 2""",
    "evt_step_funnel" ->
      """WITH v AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
                    FROM events WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
               FROM events e JOIN v ON e.user_id = v.user_id AND CAST(e.ts AS TIMESTAMP) > v.t1
               WHERE e.event_type = 'click' GROUP BY e.user_id),
         p AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
               FROM events e JOIN c ON e.user_id = c.user_id AND CAST(e.ts AS TIMESTAMP) > c.t2
               WHERE e.event_type = 'purchase' GROUP BY e.user_id)
         SELECT '1_view' AS step, CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_users
         UNION ALL
         SELECT '2_click', CAST((SELECT COUNT(*) FROM c) AS BIGINT)
         UNION ALL
         SELECT '3_purchase', CAST((SELECT COUNT(*) FROM p) AS BIGINT)
         ORDER BY step""",
    "evt_markov_chain" ->
      """WITH seq AS (
           SELECT user_id, event_type AS src,
                  LEAD(event_type) OVER (PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS dst
           FROM events),
         trans AS (
           SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
           FROM seq WHERE dst IS NOT NULL GROUP BY src, dst)
         SELECT src, dst, n,
                ROUND(n::DOUBLE / SUM(n) OVER (PARTITION BY src), 6) AS prob
         FROM trans ORDER BY src, dst""",
    "evt_rolling_active" ->
      """WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
         days AS (SELECT DISTINCT day FROM ud)
         SELECT d.day AS day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS active_7d
         FROM days d JOIN ud u
           ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
         GROUP BY d.day ORDER BY day""",
    "graph_pagerank" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         e AS (SELECT DISTINCT a.p AS src, b.p AS dst
               FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p),
         deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
         r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rnk FROM deg),
         c1 AS (SELECT e.dst, SUM(r.rnk // d.deg) AS sc
                FROM e JOIN deg d ON e.src = d.src JOIN r0 r ON e.src = r.node GROUP BY e.dst),
         r1 AS (SELECT dst AS node, CAST(150000 + (85 * sc) // 100 AS BIGINT) AS rnk FROM c1),
         c2 AS (SELECT e.dst, SUM(r.rnk // d.deg) AS sc
                FROM e JOIN deg d ON e.src = d.src JOIN r1 r ON e.src = r.node GROUP BY e.dst),
         r2 AS (SELECT dst AS node, CAST(150000 + (85 * sc) // 100 AS BIGINT) AS rnk FROM c2),
         c3 AS (SELECT e.dst, SUM(r.rnk // d.deg) AS sc
                FROM e JOIN deg d ON e.src = d.src JOIN r2 r ON e.src = r.node GROUP BY e.dst),
         r3 AS (SELECT dst AS node, CAST(150000 + (85 * sc) // 100 AS BIGINT) AS rnk FROM c3)
         SELECT node AS part, rnk AS rank_micro FROM r3
         ORDER BY rank_micro DESC, part LIMIT 20""",
    "graph_degree_stats" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         e AS (SELECT DISTINCT a.p AS src, b.p AS dst
               FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p),
         deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src)
         SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
         FROM deg GROUP BY deg ORDER BY deg""",
    // 4 unrolled rounds of (min-neighbor propagate, pointer jump) —
    // mirrors ccLabelProp exactly, including the jump self-join per round
    // Every CTE is MATERIALIZED: each round's frame is consumed twice
    // (the jump self-join) and feeds the next round twice more, so an
    // inlining planner re-expands the subtree 2^rounds times — the same
    // lazy-plan doubling the Spark side cuts with localCheckpoint. DuckDB
    // 0.10+ inlines single-reference CTEs by default and at sf0.1 the
    // inlined unroll spilled >70 GB of temp before failing; materialized,
    // each round is computed once, mirroring the engine's plan.
    "graph_cc_labelprop" ->
      """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         e AS MATERIALIZED (SELECT DISTINCT a.p AS src, b.p AS dst
               FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p),
         l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS comp FROM e),
         n1 AS MATERIALIZED (SELECT e.dst AS node, MIN(l.comp) AS mc
                FROM e JOIN l0 l ON e.src = l.node GROUP BY e.dst),
         p1 AS MATERIALIZED (SELECT l.node, LEAST(l.comp, COALESCE(n1.mc, l.comp)) AS comp
                FROM l0 l LEFT JOIN n1 USING (node)),
         l1 AS MATERIALIZED (SELECT a.node, b.comp FROM p1 a JOIN p1 b ON a.comp = b.node),
         n2 AS MATERIALIZED (SELECT e.dst AS node, MIN(l.comp) AS mc
                FROM e JOIN l1 l ON e.src = l.node GROUP BY e.dst),
         p2 AS MATERIALIZED (SELECT l.node, LEAST(l.comp, COALESCE(n2.mc, l.comp)) AS comp
                FROM l1 l LEFT JOIN n2 USING (node)),
         l2 AS MATERIALIZED (SELECT a.node, b.comp FROM p2 a JOIN p2 b ON a.comp = b.node),
         n3 AS MATERIALIZED (SELECT e.dst AS node, MIN(l.comp) AS mc
                FROM e JOIN l2 l ON e.src = l.node GROUP BY e.dst),
         p3 AS MATERIALIZED (SELECT l.node, LEAST(l.comp, COALESCE(n3.mc, l.comp)) AS comp
                FROM l2 l LEFT JOIN n3 USING (node)),
         l3 AS MATERIALIZED (SELECT a.node, b.comp FROM p3 a JOIN p3 b ON a.comp = b.node),
         n4 AS MATERIALIZED (SELECT e.dst AS node, MIN(l.comp) AS mc
                FROM e JOIN l3 l ON e.src = l.node GROUP BY e.dst),
         p4 AS MATERIALIZED (SELECT l.node, LEAST(l.comp, COALESCE(n4.mc, l.comp)) AS comp
                FROM l3 l LEFT JOIN n4 USING (node)),
         l4 AS MATERIALIZED (SELECT a.node, b.comp FROM p4 a JOIN p4 b ON a.comp = b.node)
         SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_nodes,
                (SELECT CAST(CASE WHEN COUNT(*) = 0 THEN 1 ELSE 0 END AS BIGINT)
                 FROM l4 a JOIN l3 b ON a.node = b.node AND a.comp <> b.comp) AS converged
         FROM l4 GROUP BY comp ORDER BY n_nodes DESC, comp LIMIT 20""",
    "rec_item_sim" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         cnt AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM op GROUP BY p),
         pairs AS (
           SELECT a.p AS item, b.p AS other, CAST(COUNT(*) AS BIGINT) AS cooc
           FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p
           GROUP BY a.p, b.p),
         sim AS (
           SELECT item, other, cooc,
                  ROUND(cooc::DOUBLE / sqrt((CAST(ci.n AS HUGEINT) * cj.n)::DOUBLE), 6) AS cosine
           FROM pairs JOIN cnt ci ON pairs.item = ci.p
                      JOIN cnt cj ON pairs.other = cj.p),
         ranked AS (
           SELECT item, other, cooc, cosine,
                  CAST(ROW_NUMBER() OVER (PARTITION BY item
                       ORDER BY cosine DESC, other) AS BIGINT) AS rnk
           FROM sim)
         SELECT item, rnk, other, cooc, cosine
         FROM ranked WHERE rnk <= 5 ORDER BY item, rnk""",
    "evt_attribution" ->
      """WITH w AS (
           SELECT event_id, user_id, event_type, ts,
                  last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lc
           FROM events)
         SELECT event_id, user_id,
                (epoch_us(ts) - epoch_us(lc)) // 60000000 AS gap_min,
                COALESCE(epoch_us(ts) - epoch_us(lc) <= 86400000000, FALSE) AS attributed
         FROM w WHERE event_type = 'purchase' ORDER BY event_id""",
    "evt_interarrival" ->
      """WITH g AS (
           SELECT event_type,
                  epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id)) AS gap_us
           FROM events)
         SELECT event_type,
                ROUND(quantile_cont(gap_us, 0.5), 2) AS p50_gap_us,
                ROUND(quantile_cont(gap_us, 0.9), 2) AS p90_gap_us,
                CAST(COUNT(*) AS BIGINT) AS n_gaps
         FROM g WHERE gap_us IS NOT NULL
         GROUP BY event_type ORDER BY event_type""",
    "graph_triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         e AS (SELECT DISTINCT a.p AS u, b.p AS v
               FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
         deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg
                 FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
         tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
                 FROM e e1 JOIN e e2 ON e1.v = e2.u
                 JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                       CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS wedge_count
                FROM deg),
         ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
         SELECT n_nodes, n_edges, n_triangles, wedge_count,
                ROUND(3.0::DOUBLE * n_triangles / NULLIF(wedge_count, 0), 6) AS gcc
         FROM st, ne, tri""",
    "ts_autocorr" ->
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         pairs AS (
           SELECT a.event_type, k.lag, a.c AS x, b.c AS y
           FROM daily a
           JOIN (SELECT CAST(unnest([1, 7]) AS BIGINT) AS lag) k ON TRUE
           JOIN daily b ON a.event_type = b.event_type
                       AND b.day = a.day + k.lag * INTERVAL 1 DAY),
         a AS (
           SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                  SUM(CAST(x AS HUGEINT) * x)::DOUBLE AS sxx,
                  SUM(CAST(y AS HUGEINT) * y)::DOUBLE AS syy,
                  SUM(CAST(x AS HUGEINT) * y)::DOUBLE AS sxy
           FROM pairs GROUP BY 1, 2)
         SELECT event_type, lag, n,
                ROUND((n::DOUBLE * sxy - sx::DOUBLE * sy::DOUBLE) /
                      NULLIF(sqrt(n::DOUBLE * sxx - sx::DOUBLE * sx::DOUBLE) *
                             sqrt(n::DOUBLE * syy - sy::DOUBLE * sy::DOUBLE), 0), 6) AS acf
         FROM a ORDER BY event_type, lag""",
    "ts_dow_seasonality" ->
      """WITH d AS (
           SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2)
         SELECT event_type, dow, n,
                ROUND(n::DOUBLE / SUM(n) OVER (PARTITION BY event_type), 6) AS share
         FROM d ORDER BY event_type, dow""",
    "ts_cusum" ->
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         scored AS (
           SELECT event_type, day,
                  CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd,
                  CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS s,
                  CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS k,
                  CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pre
           FROM daily),
         cu AS (
           SELECT event_type, day, nd, s,
                  CAST(nd AS HUGEINT) * pre - CAST(k AS HUGEINT) * s AS cusum,
                  ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY abs(CAST(nd AS HUGEINT) * pre - CAST(k AS HUGEINT) * s) DESC, day) AS rn
           FROM scored)
         SELECT event_type, day AS cp_day, CAST(abs(cusum) AS BIGINT) AS abs_cusum,
                ROUND(abs(cusum)::DOUBLE / (CAST(nd AS HUGEINT) * s)::DOUBLE, 6) AS rel_shift
         FROM cu WHERE rn = 1 ORDER BY event_type""",
    "basket_assoc_rules" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         cnt AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS item_n FROM op GROUP BY p),
         tot AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM op),
         pairs AS (
           SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS sup
           FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
           GROUP BY a.p, b.p HAVING COUNT(*) >= 3)
         SELECT pa, pb, sup,
                ROUND(sup::DOUBLE / ca.item_n, 6) AS conf,
                ROUND((sup::DECIMAL(38,0) * tot.n_orders)::DOUBLE /
                      (ca.item_n::DECIMAL(38,0) * cb.item_n)::DOUBLE, 6) AS lift
         FROM pairs
         JOIN cnt ca ON pairs.pa = ca.p
         JOIN cnt cb ON pairs.pb = cb.p
         CROSS JOIN tot
         ORDER BY pa, pb"""
  )
}
