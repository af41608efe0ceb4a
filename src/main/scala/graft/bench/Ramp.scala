package graft.bench

import org.apache.spark.sql.SparkSession

/** The self-scaled 1×/8×/64×(/512× deep) query ramp — family selection,
  * rung-spaced reps, growth/out-norm computation, and the
  * BENCH_RAMP_{FULL,DEEP}.json artifacts. Extracted from `graft.Bench`
  * (VERDICT r15 #6). */
object Ramp {

  /** The representative kernels per family the ramp tracks. */
  private[bench] val rampFamilies: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("dedup_exact", "dedup_minhash_pairs", "dedup_simhash_pairs"),
    // semdedup rides the ann family: its kernel is the cell-blocked pair
    // join (same occupancy-k assignment as hard_negatives), and r16's
    // probe-tool pricing (out-norm 0.25 at 512×) deserves the same
    // committed min-of-2 witness as its two siblings
    "ann" -> Seq("sim_topk_ivf", "sim_hard_negatives", "sim_ivf_twolevel",
      "dedup_semdedup"),
    "text" -> Seq("text_quality", "text_langid"),
    // ExactSubstr: the ramp's copy-prefixed texts make almost every 8-gram
    // a cross-copy repeat, so the cut list covers ~the whole corpus — the
    // worst-case load for the dup-set aggregation and the island windows,
    // with output rows still linear (≈ one merged span per doc)
    "passage" -> Seq("passage_spans"),
    "behavioral" -> Seq("win_sessionize", "evt_attribution"),
    // triangles = the quadratic-risk closure; cc = the iterative-join
    // ladder (8 equi-joins + 4 min aggs over the same edge frame)
    "graph" -> Seq("graph_triangles", "graph_cc_labelprop"))

  /** Queries whose OUTPUT is quadratic in `copies` by corpus construction
    * (every copy is a near-duplicate of the same base doc, so each base
    * doc's pair set is copies²). Through r15 the deep rung skipped them as
    * "measuring the corpus design"; r16 measures them at 512× anyway
    * (VERDICT r15 #5: the banding-bounds-the-pair-space claim deserves the
    * same depth as the ANN family) and lets the OUT-NORM column do the
    * attribution — ~10⁸ produced pairs at 512× make the raw step growth
    * rows-driven by construction, and out_norm_growth divides that back
    * out; a real plan defect still shows as out-norm > ~1.3. The set now
    * only marks them for the reader (rows_growth attribution), it no
    * longer truncates their rungs. */
  private[bench] val quadraticOutput = Set("dedup_minhash_pairs", "dedup_simhash_pairs")

  /** Scale-ramp measurement: per-family wall time at 1×/8×/64× of the
    * ramp base, with per-8×-step growth factors (sec[i+1] / (8·sec[i]) —
    * 1.0 = perfectly linear, >1 superlinear; the r9-verdict gate is
    * ≤ ~1.3 per step). OUTPUT rows are recorded alongside, because the
    * ramp corpus builds 8- and 64-way near-duplicate families by
    * construction, so the dedup PAIR queries' output grows quadratically
    * in copies — a time growth above the gate with `rows_growth` far above
    * it is output-driven (time per produced pair still falls), while a
    * steep time growth at flat output names a real plan defect. Per-query
    * data goes to BENCH_RAMP_FULL.json; the compact families + the
    * steepest-final-step entry ride the headline line. */
  def ramp(spark: SparkSession, sfDir: String): String = {
    // SPARK_GRAFT_RAMP=deep adds a 512× rung (= 64× the LARGEST
    // driver-provided corpus) — minutes of extra wall time, so it is
    // opt-in for a dedicated scale run, not the per-round default;
    // the measured curve is recorded in BENCH_NOTES.md
    val scales =
      if (sys.env.get("SPARK_GRAFT_RAMP").contains("deep")) Seq(1, 8, 64, 512)
      else Seq(1, 8, 64)
    val dirs = scales.map(c => c -> Corpora.rampCorpus(spark, sfDir, c)).toMap
    try rampMeasured(spark, sfDir, scales, dirs)
    finally
      // rung corpora are multi-GB at the deep scales and /tmp residue
      // worsens this sandbox's writeback stalls — delete them once the
      // last measurement that reads them is done
      dirs.values.foreach(graft.Bench.deleteRecursively)
  }

  private def rampMeasured(spark: SparkSession, sfDir: String,
      scales: Seq[Int], dirs: Map[Int, String]): String = {
    val perQuery: Seq[(String, String, Seq[(Double, Long)], Seq[(Double, Double)])] =
      rampFamilies.flatMap {
      case (fam, qs) => qs.map { q =>
        val qScales = scales // r16: quadratic-output pair rungs measured
                             // at every scale; out-norm attributes them
        // min of 2 measurements per rung, RUNG-SPACED (r14): pass 1 visits
        // every rung of this query, pass 2 revisits them — the sweep's r13
        // spacing discipline applied to the ramp. Back-to-back reps shared
        // one steal window (this sandbox's windows are minutes long and
        // land MID-run, where the pre/post calibration probes can't see
        // them); a growth ratio built from one stolen rung names an
        // innocent operator (observed 3–5× on single rungs across
        // otherwise-identical runs). Spacing costs nothing: each rep is
        // cache-cold anyway (clearCache below), so total work is identical.
        def pass(): Seq[(Double, Long)] = qScales.map { c =>
          val t0 = System.nanoTime()
          val n = graft.SparkEntry.queries(q)(spark, dirs(c)).count()
          val sec = (System.nanoTime() - t0) / 1e9
          // rungs must be independent measurements: queries that persist
          // shared frames (the graph family's edge cache is GBs at the
          // 512× rung) would otherwise accumulate dead entries across
          // scales and pay their successors' GC bill
          spark.sharedState.cacheManager.clearCache()
          (sec, n)
        }
        val p1 = pass()
        val p2 = pass()
        val runs = p1.zip(p2).map { case ((s1, n), (s2, _)) =>
          (math.min(s1, s2), n)
        }
        // BOTH reps ride the full artifact (r15): a blown rung whose min
        // is all the artifact carries cannot distinguish "one steal
        // window" (reps disagree → min trustworthy) from "persistent for
        // the rung's whole span" (reps agree → real, or a window longer
        // than the rung spacing) — the first r15 run's hard-negatives
        // 512× rung needed exactly this to adjudicate itself
        val reps = p1.zip(p2).map { case ((s1, _), (s2, _)) => (s1, s2) }
        (fam, q, runs, reps)
      }
    }
    def r3(d: Double) = math.rint(d * 1000) / 1000
    def growth(secs: Seq[Double]): Seq[Double] =
      secs.sliding(2).map { case Seq(a, b) => r3(b / (8 * a)) }.toSeq
    // Output-normalized step growth: time growth divided by the LARGER of
    // the input scale factor (8) and the measured output-rows growth —
    // time may legitimately track input volume OR produced output,
    // whichever dominates; growth beyond BOTH names a real compute defect.
    // This is the division the raw step_growth made the reader do by hand
    // for the quadratic-output pair queries (time growth 1.3–1.5 with rows
    // grown 70× is output-driven; the same time growth at flat rows is
    // not). Gate: ≤ ~1 per step for every family — EXCEPT the ANN rungs
    // where k = centroidCount ∝ N makes the exact IVF index BUILD
    // inherently superlinear (O(N·k) flat / O(N·√k) two-level, measured
    // against theory in BENCH_NOTES): those
    // rungs re-build the index per measurement by design, and the
    // production shape amortizes the build (at-rest assignment artifact,
    // delta-only streaming ingest).
    def outNormGrowth(runs: Seq[(Double, Long)]): Seq[Double] =
      runs.sliding(2).map { case Seq((sa, ra), (sb, rb)) =>
        val rowsGrowth = rb.toDouble / math.max(1L, ra)
        if (sa == 0.0) 0.0 // same zero-rung guard as the family twin: no Infinity in the JSON
        else r3(sb / (sa * math.max(8.0, rowsGrowth)))
      }.toSeq
    def secPer1kRows(runs: Seq[(Double, Long)]): Seq[Double] =
      runs.map { case (s, r) => r3(s * 1000.0 / math.max(1L, r)) }
    val fullJson = perQuery.map { case (_, q, runs, reps) =>
      val secs = runs.map(_._1)
      s""""$q":{"quadratic_output":${quadraticOutput(q)},""" +
        s""""sec":[${secs.map(r3).mkString(",")}],""" +
        s""""sec_reps":[${reps.map { case (a, b) => s"[${r3(a)},${r3(b)}]" }.mkString(",")}],""" +
        s""""rows":[${runs.map(_._2).mkString(",")}],""" +
        s""""sec_per_1k_rows":[${secPer1kRows(runs).mkString(",")}],""" +
        s""""step_growth":[${growth(secs).mkString(",")}],""" +
        s""""out_norm_growth":[${outNormGrowth(runs).mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val rampArtifact =
      if (scales.last > 64) "BENCH_RAMP_DEEP.json" else "BENCH_RAMP_FULL.json"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(new java.io.File(rampArtifact).getAbsolutePath),
      fullJson)
    val famJson = rampFamilies.map { case (fam, _) =>
      val famRuns = perQuery.filter(_._1 == fam).map(_._3)
      // defensive against length-mismatched measurements (all queries
      // currently measure every rung): sum whatever was measured at each
      // rung, but compute each growth step only over queries measured at
      // BOTH of its endpoints
      val famSecs = scales.indices.map(i =>
        famRuns.flatMap(_.lift(i)).map(_._1).sum)
      val famSteps = scales.indices.dropRight(1).map { i =>
        val both = famRuns.filter(_.length > i + 1)
        val denom = 8 * both.map(_(i)._1).sum
        if (denom == 0.0) 0.0 else r3(both.map(_(i + 1)._1).sum / denom)
      }
      val famNorm = scales.indices.dropRight(1).map { i =>
        val both = famRuns.filter(_.length > i + 1)
        val (sa, ra) = (both.map(_(i)._1).sum, both.map(_(i)._2).sum)
        val (sb, rb) = (both.map(_(i + 1)._1).sum, both.map(_(i + 1)._2).sum)
        val rowsGrowth = rb.toDouble / math.max(1L, ra)
        if (sa == 0.0) 0.0 else r3(sb / (sa * math.max(8.0, rowsGrowth)))
      }
      s""""$fam":{"sec":[${famSecs.map(r3).mkString(",")}],"step_growth":[${famSteps.mkString(",")}],"out_norm_growth":[${famNorm.mkString(",")}]}"""
    }.mkString("{", ",", "}")
    // the offender-naming entry: the steepest FINAL step (the 8×→64× rung,
    // where fixed job overhead no longer flatters the ratio), with the
    // same step's output-rows growth for the output-driven-or-not verdict
    val finalSteps = perQuery.map { case (_, q, runs, _) =>
      (q, growth(runs.map(_._1)).last,
        r3(runs.last._2.toDouble / math.max(1L, runs(runs.size - 2)._2)),
        outNormGrowth(runs).last)
    }
    val (wq, wg, wr, wn) = finalSteps.maxBy(_._2)
    // also the worst by the OUTPUT-NORMALIZED metric: raw growth names the
    // quadratic-output pair queries (time tracks produced pairs — the
    // corpus design, not a plan defect); the normalized worst is the entry
    // that names a real compute defect if one exists
    val (nq, ng, nr, nn) = finalSteps.maxBy(_._4)
    s"""{"scales":[${scales.mkString(",")}],"base":"$sfDir/8","families":$famJson,""" +
      s""""worst_final_step":{"query":"$wq","growth":$wg,"rows_growth":$wr,"out_norm_growth":$wn},""" +
      s""""worst_final_step_out_norm":{"query":"$nq","growth":$ng,"rows_growth":$nr,"out_norm_growth":$nn}}"""
  }

}
