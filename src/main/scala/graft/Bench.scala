package graft

import graft.engine.{Codegen, GraftSession}

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":...,"queries":{name:sec}}. Headline set =
  * the scale-sensitive queries (fact-fact joins, wide aggregation, windows,
  * dedup/similarity/text ops), not the whole per-operator catalog — the
  * catalog is correctness surface; this is the throughput surface.
  *
  * Output contract (r9): per-query detail lines first (humans/logs), full
  * detail ALSO written to ./BENCH.out, then ONE compact JSON line LAST —
  * medians only, plus a `contended` list naming queries whose max/min
  * spread ≥ 3× (host noise a reader must not mistake for a regression).
  * The driver keeps an output tail and parses the last JSON-looking line;
  * build.sbt routes forked-run output straight to stdout so no sbt
  * `[info]` prefix corrupts it.
  */
object Bench {

  /** Scale-sensitive subset; each is warmed once then timed. */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary",
    "j9_revenue_per_nation",
    "f4_semi_join_fk_filter",
    "w2_topk_per_group",
    "a1_group_collect_list",
    "d1_exact_dedup",
    "d2_minhash_lsh_dedup",
    "d5_embedding_topk",
    "d6_lsh_ann_topk",
    "d9_clean_corpus",
    "t2_quality_score",
    "e1_sessionize",
    "e4_asof_join",
    // Expensive operator families added in r7 so a regression there is
    // visible to BENCH (r6 verdict watch item): stats-driven TF-cosine,
    // inverted-index shingle pairs, iterative PageRank, distributed
    // quickselect, and the bucketed interval-overlap join.
    "d22_tf_cosine_pairs",
    "d4_ngram_jaccard_pairs",
    "d21_pagerank",
    "a23_exact_median",
    "e13_interval_overlap_join",
    // r8 verdict item 4: the shingle-graph family (triangles, ROI rollup,
    // keeper election), one streaming batch twin, and the heaviest
    // t-query — previously invisible cross-round.
    "d24_triangle_count",
    "d25_dedup_savings",
    "d33_cluster_canonical",
    "e30_first_touch_attribution",
    "t31_token_salience",
    // r10: the corpus-assembly family — global prefix-sum packing and the
    // bloom-routed snapshot anti join (both new shuffle shapes), plus the
    // one-scan bigram aggregate (the widest explode in the catalog).
    "t34_sequence_packing",
    "d36_incremental_novelty",
    "t36_bigram_pmi",
    // late r10: the grid-blocked proximity join (candidate count scales
    // with density²·cells — the heaviest new shape) and snapshot drift.
    "j21_geo_grid_join",
    "d38_corpus_drift",
    // the iterative closure-doubling rollup — log-depth self-join rounds
    "h2_subtree_rollup",
    // r11: the round's new shapes — delta-merge rollup maintenance, the
    // QI-window privacy audit, the real JPEG-decode multimodal lane
    // (CPU-bound codec work inside mapPartitions, a profile no other
    // bench query has), and the double-ANN twin audit (LSH + IVF in one
    // plan).
    "q8_incremental_rollup",
    "a30_k_anonymity",
    "m7_container_metadata_audit",
    "d43_ann_exactdup_audit",
    // round-12 retrieval/tokenizer additions
    "d46_bm25_topk",
    "d47_hybrid_rrf_fusion",
    "t48_lm_perplexity",
    "t47_corpus_tokenize",
    // late r12: the bipartite-HITS iterative shape (two edge joins per
    // round), the per-group Pareto-sweep, and the JL dense-projection
    // map (the narrow no-shuffle baseline every other query is implicitly
    // compared against).
    "d51_hits_scores",
    "o3_skyline_frontier",
    "d52_jl_projection",
    // BFS frontier wave (the bounded-depth reachability shape) and the
    // URL canonicalizer (pure narrow string map — the regex-heavy
    // baseline for scan-bound text transforms).
    "d53_bfs_distances",
    "t50_url_canonicalize",
    // fourth r12 batch: the native-expression pair scan (25M JW evals
    // behind a blocked broadcast join), the seeded fixed-point iteration,
    // and the hash-replayed walk corpus (two keyed joins per step).
    // t51_dsir_selection stays GATE-ONLY (the t48 shape twice);
    // d66_scc_condensation too — its dominant stage (Scc.components) is
    // benched through d54 below and the leveling remainder is ~3 s of
    // the same per-round profile.
    "d55_jw_best_match",
    // r13 (r12 verdict item 2): the catalog's heaviest query gets a
    // cross-round comparable — ~18 s warm at sf0.1, dominated by ~25
    // per-round jobs (6 color + 5 sweep + trims, counted on stderr), so
    // a regression in ANY iterative-hygiene rule (lineage re-rooting,
    // persist lifecycle) shows up here first and largest.
    "d54_scc",
    "d56_trustrank",
    "d57_deepwalk_corpus",
    // the d×d sufficient-statistics fold (TypedImperativeAggregate with a
    // ~2k-long buffer — a map-side-combine profile no other query has)
    "d58_embedding_gram",
    // r16: the round's new shapes — byte-level BPE training (per-round
    // vocab-scale rewrites: the frequency-weighted trainer profile),
    // modified Kneser-Ney (the t48 join shape plus the count-of-count
    // driver fold and the widest per-context rollup), and the CCNet
    // tertile cut (the per-language window over the KN-scored stream).
    // t86 stays GATE-ONLY (t88 is the same shape plus strictly more
    // work, so it is the better canary); t84/t85 likewise (t84's
    // fixture trains in 4 rounds — the trainer's bench profile is
    // d57-style iterative hygiene, already covered; a realistic-corpus
    // training bench would dominate the whole pass).
    "t88_modified_kn_perplexity",
    "t87_ccnet_buckets",
    // the family's heaviest: order-3 recursion = a 5-way scoring join
    // over two persisted count frames — the widest LM join tree
    "t89_trigram_kn_perplexity",
    // r17: the round's new shapes — trigram MODIFIED KN (t89's join tree
    // plus two count-of-count driver folds and the bucketed per-context
    // rollups at both orders: the family's true heaviest), deep byte-BPE
    // training (the serial-endgame profile: one corpus pretoken count +
    // a 100-round driver merge loop — regressions in the cutover or the
    // incremental counts surface here), and the corpus→batches
    // composition (d9 + KN + bucketing + encode + packing + reshard in
    // ONE plan — the end-to-end artifact; t93 stays GATE-ONLY, a
    // fixture-scale encode variant).
    "t91_trigram_modified_kn",
    "t92_byte_bpe_deep_train",
    "t94_corpus_to_batches",
    // r18: the LM family's new heaviest — order-5 modified KN is FOUR
    // count-of-count folds, four persisted count frames, and a 9-way
    // scoring join (t91's profile ×2 in joins); regressions in the
    // persist ladder or the join ordering surface here first. And the
    // trained-vocab composition twin: t94's chain with a real 12-round
    // BPE train + encode + decode-audit map — the end-to-end profile a
    // production nightly actually pays.
    "t95_order5_modified_kn",
    "t97_corpus_to_batches_trained")

  /** Timed iterations per query (after one warm run). Medians absorb the
    * session-level noise that made round-over-round single-shot numbers
    * swing ±30% on sub-second queries; the min/max spread lands in
    * BENCH.out (and the JSON `contended` list when ≥ 3×) so a "regression"
    * can be told apart from a wide run distribution. */
  val Iters: Int = 5

  /** Sub-second queries get extra samples: with only 5 iterations, two
    * interference-inflated runs move the MEDIAN, and the r11 driver round
    * showed exactly that signature — every sub-second query "+15-50%"
    * while idle re-measures reproduced the prior round (t31 0.51 s on the
    * driver vs 0.33 s idle, same commit). A query whose base-5 median is
    * under [[ShortQuerySec]] is re-measured with [[ExtraIters]] more runs
    * and reports the 11-sample median — now 6 of 11 samples must be
    * inflated before the median moves. Costs ~6 × <1 s on only the short
    * queries, a bounded add to the bench wall-time.
    *
    * r13 (r12 verdict item 3): the same hardening now also covers
    * MULTI-second queries whose base-5 spread says the window was noisy
    * (max/min ≥ [[NoisySpread]]) — r12 shipped d47 with a 2.12 s median
    * off a 1.25-4.35 s spread, an inflated first-recording comparable the
    * sub-second rule couldn't touch. Capped at [[ExtraIterMaxSec]] so a
    * contended 18 s query can't add two minutes; above the cap the
    * per-query MIN (always in BENCH.out, and in the JSON `mins` object
    * whenever the final spread is ≥ [[NoisySpread]]) is the comparable a
    * reader should fall back to. */
  val ShortQuerySec: Double = 1.0
  val ExtraIters: Int = 6
  val NoisySpread: Double = 2.0
  val ExtraIterMaxSec: Double = 5.0

  /** Driver-tail budget: the driver keeps a 2000-char output TAIL and
    * parses the last JSON-looking line, so the line survives intact iff its
    * own length fits the tail. 1900 leaves margin for the trailing newline
    * and any stray suffix. */
  val MaxJsonLen: Int = 1900

  /** Render the one machine-readable JSON line with a DETERMINISTICALLY
    * BOUNDED length. The r17 driver record crashed (`rc=1, parsed=null`)
    * because the old emission's length depended on host noise: the `mins`
    * object only populated for noisy-spread queries, so the builder's idle
    * anchor fit under the guard while the driver's contended run blew it.
    * This version tries a fixed shedding ladder — full detail first, then
    * progressively capped variable lists (`mins` worst-2, `contended`/
    * `failed_queries` name lists truncated to 3; the COUNTS `contended_n`/
    * `failed` always stay exact) and fewer decimals — and emits the first
    * rung that fits. Nothing is lost: full min/max/contended detail always
    * lives in BENCH.out; the JSON carries medians for every query at every
    * rung. The worst case (every query noisy+failed, 4-digit seconds, 60
    * queries) is pinned by BenchJsonSpec against [[MaxJsonLen]].
    */
  def renderJson(results: Seq[(String, Double, Double, Double, Boolean)],
                 round: Int, sfDir: String): String = {
    def r(v: Double, dec: Int): String =
      BigDecimal(v).setScale(dec, BigDecimal.RoundingMode.HALF_UP).toString
    // Queries whose FINAL spread is still noisy (≥ NoisySpread): the median
    // is not a clean cross-round comparable, so their MIN ships in the JSON
    // as the fallback number, worst spread first (normally an empty object).
    val noisy = results
      .filter { case (_, _, mn, mx, _) => mn > 0 && mx / mn >= NoisySpread }
      .sortBy { case (_, _, mn, mx, _) => -(mx / mn) }
    // max/min ≥ 3× = host-noise dominated; a reader must not mistake the
    // median for a regression.
    val contendedAll = results
      .filter { case (_, _, mn, mx, _) => mn > 0 && mx / mn >= 3.0 }.map(_._1)
    val failedAll = results.filter(!_._5).map(_._1)
    // Basename only ("sf0.1") — the /root/testdata prefix spent 15 chars of
    // tail budget saying nothing.
    val sfShort = new java.io.File(sfDir).getName
    def build(dec: Int, minsCap: Int, contCap: Int, failCap: Int): String = {
      val qjson = results
        .map { case (k, med, _, _, _) => "\"" + k + "\":" + r(med, dec) }
        .mkString("{", ",", "}")
      val mins = noisy.take(minsCap)
        .map { case (k, _, mn, _, _) => "\"" + k + "\":" + r(mn, dec) }
        .mkString("{", ",", "}")
      val cont = contendedAll.take(contCap).map("\"" + _ + "\"")
        .mkString("[", ",", "]")
      val fails = failedAll.take(failCap).map("\"" + _ + "\"")
        .mkString("[", ",", "]")
      val total = results.map(_._2).sum
      s"""{"metric":"total","value":${r(total, dec)},"unit":"sec","queries":$qjson,"iters":$Iters,"round":$round,"failed":${failedAll.length},"failed_queries":$fails,"contended":$cont,"contended_n":${contendedAll.length},"mins":$mins,"sf":"$sfShort"}"""
    }
    val unlimited = Int.MaxValue
    val ladder: Seq[(Int, Int, Int, Int)] = Seq(
      (3, unlimited, unlimited, unlimited), // idle norm: everything, 3 dec
      (3, 2, 3, 3),                         // cap the noise-driven lists
      (2, 2, 3, 3),                         // shed decimals
      (1, 2, 3, 3),
      (1, 0, 0, 0),                         // counts only, no name lists
      (0, 0, 0, 0))                         // last resort: whole seconds
    ladder.iterator.map((build _).tupled).find(_.length < MaxJsonLen)
      .getOrElse(throw new IllegalStateException(
        s"bench JSON line exceeds $MaxJsonLen chars even fully shed — the " +
          "headline list has outgrown the driver tail; trim query names or " +
          "raise the driver cap"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_BENCH_ROUNDS > 1 repeats the whole headline pass in ONE
    // JVM/session — the same-process re-measure that separates steady-state
    // numbers from first-pass JIT/page-cache warmup (r8's open d21
    // question). Each round prints its own JSON line; the LAST line is the
    // steadiest and is the one the driver's tail parse picks up.
    val rounds = GraftSession.positiveInt(sys.env.get, "SPARK_GRAFT_BENCH_ROUNDS").getOrElse(1)
    val spark = GraftSession.local("graft-bench")
    val qs = SparkEntry.queries
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the pass to a comma-separated
    // subset — the idle fresh-JVM re-measure tool for driver-round
    // watchlist queries (never set in the driver's own run).
    val only = SparkEntry.selected(sys.env.get, "SPARK_GRAFT_BENCH_ONLY")
    val names = headline.filter(qs.contains)
      .filter(n => only.forall(_.contains(n)))
    // A failed query must be VISIBLE, not a fast-looking small number:
    // run() reports success and failures are listed by name in the JSON,
    // so a regression can't hide behind a short failure path.
    def run(name: String): Boolean =
      try { qs(name)(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
      catch { case _: Throwable => false }
    for (round <- 1 to rounds) {
      val measured = names.map { name =>
        // Hygiene between queries: the caching operators benched since r7
        // (quickselect, PageRank) release their persists on exit, but a
        // failure path or executor-side stragglers can leave blocks behind;
        // this is a dedicated bench session, so a global wipe evicts
        // nothing anyone else owns. releaseAll also DROPS the BoundedCaches
        // references — clearCache evicts blocks but the registry would
        // still root each composed query's plan tree, and accumulated
        // rooted plans degrade the GC-heaviest queries (r17 drift, A/B'd:
        // d21 second-round 6.7 → 11.6 s with 6 rooted frames, flat
        // without). One explicit gc puts every query on the same heap
        // floor. Then warm once (whole-stage-codegen class compilation is
        // a per-plan, not per-run, cost) and time Iters steady-state runs.
        graft.engine.BoundedCaches.releaseAll()
        spark.catalog.clearCache()
        System.gc()
        val codegen0 = Codegen.count()
        run(name)
        val codegen1 = Codegen.count()
        var ok = true
        def timed(): Double = {
          val t0 = System.nanoTime()
          ok &= run(name)
          (System.nanoTime() - t0) / 1e9
        }
        val base = Array.fill(Iters)(timed())
        val baseMed = base.sorted.apply(Iters / 2)
        val noisy = base.min > 0 && base.max / base.min >= NoisySpread
        val times =
          (if (baseMed < ShortQuerySec ||
            (noisy && baseMed < ExtraIterMaxSec))
            base ++ Array.fill(ExtraIters)(timed())
          else base).sorted
        val median = times(times.length / 2)
        val compiles = ((codegen1 - codegen0).compiles, (Codegen.count() - codegen1).compiles)
        ((name, median, times.head, times.last, ok), compiles)
      }
      val results = measured.map(_._1)
      // Full-precision per-query detail: stdout for humans AND ./BENCH.out
      // for whole-file readers (the driver's tail cap never truncates a
      // file), min/max included there. `compiles` counts generated-code
      // compile units in the warm-up run and across all timed runs. Timed
      // compiles are code that differs between runs, or a query that
      // outgrew the codegen class cache; a second round whose warm-ups
      // still compile means the whole pass outgrew it.
      val detail = measured.map { case ((k, med, mn, mx, ok), (warm, timed)) =>
        f"BENCH $k%-28s median=$med%.4f min=$mn%.4f max=$mx%.4f " +
          s"${if (ok) "ok" else "FAILED"} compiles warm=$warm timed=$timed"
      }
      detail.foreach(println)
      import java.nio.file.StandardOpenOption._
      val outFile = java.nio.file.Paths.get("BENCH.out")
      val header = s"# round $round/$rounds sf=$sfDir iters=$Iters\n"
      val opts = if (round == 1) Seq(CREATE, WRITE, TRUNCATE_EXISTING)
        else Seq(CREATE, WRITE, APPEND)
      java.nio.file.Files.writeString(
        outFile, header + detail.mkString("", "\n", "\n"), opts: _*)
      // ... then ONE compact machine-readable JSON line LAST (the driver
      // keeps a 2000-char output tail and parses the last JSON-looking
      // line): rendered by [[renderJson]], whose length is bounded
      // regardless of host noise — the r17 driver record broke precisely
      // because the old inline emission's length depended on how many
      // queries the HOST's contention made noisy.
      println(renderJson(results, round, sfDir))
    }
    spark.stop()
  }
}
