package graft

import org.scalatest.funsuite.AnyFunSuite

/** The correctness gate's blind spot, closed: the driver's Verify dump
  * try-catches per query, so a query that fails ANALYSIS (e.g. a testdata
  * schema drift like the r7 TIMESTAMP_NTZ regeneration) simply never
  * writes output and silently vanishes from the round's tally — 9 queries
  * disappeared from CORRECTNESS_r07 without a single red row. This spec
  * executes EVERY SparkEntry.queries entry end-to-end at the smoke SF and
  * fails loudly with the full casualty list, so |verify outputs| ==
  * |queries| is enforced at `sbt test` time, before the driver ever runs.
  *
  * The same pass doubles as the CATALOG-WIDE PLAN AUDIT (the ritual that
  * found the r11 lineage-truncation win): each query's executed-plan text
  * is scanned for the two shapes that silently kill a 100 TB run —
  * `Exchange SinglePartition` (all data through one task) and
  * `BroadcastNestedLoopJoin` (quadratic fallback). Every occurrence must
  * be in [[PlanBudget.allowed]] with its per-query budget; a NEW query
  * acquiring either op, or an allowed query's count growing, turns the
  * suite red with the diff. Shrinking counts fail too — the budget is a
  * pin, not a ceiling — so the allowlist can never drift stale.
  */
object PlanBudget {
  /** query → (singlePartitionCount, bnljCount), audited per entry:
    * every SinglePartition here is a GLOBAL-SCALAR fold (a final
    * aggregate over ≤ #partitions partial rows, or a ≤-k-row driver-side
    * frame like q2's per-relation counts), and every BNLJ carries a
    * 1-row broadcast side (corpus totals / thresholds joined back) — the
    * two shapes that are BOUNDED by construction and therefore survive
    * 100×. Anything data-scale would not be in this list.
    */
  val allowed: Map[String, (Int, Int)] = Map(
    "a25_benford_digits" -> (1, 0),
    "a35_frequent_pairs" -> (1, 1), // 1-row n_baskets fold + its broadcast-back
    "a28_column_profile" -> (1, 0),
    "a30_k_anonymity" -> (1, 0),
    "d22_tf_cosine_pairs" -> (0, 1),
    "d46_bm25_topk" -> (1, 1),       // 1-row (N, avgdl) corpus-stats fold
    "d47_hybrid_rrf_fusion" -> (1, 2), // BM25 stats fold + dense exact-baseline query broadcast
    "t48_lm_perplexity" -> (1, 1),   // 1-row vocab-size fold
    "t86_kneser_ney_perplexity" -> (2, 2), // 1-row distinct-bigram (B) + vocab (V) folds, crossJoined then broadcast back
    // t87/t94 counts are TEXTUAL: this spec regex-counts the plan STRING,
    // and a cached frame's InMemoryRelation block REPRINTS its child plan
    // — nested caches (GroupedRank's keyed+bucketed pair over the KN
    // subtree; t94 adds the keep-set, encoded-counts and PrefixSum
    // caches) multiply the SAME two bounded 1-row folds (t86's B + V)
    // into 8 / 96 textual occurrences. Each fold EXECUTES once, at cache
    // materialization; the inflated number is still a pin — any real new
    // SinglePartition/BNLJ (or a lost cache) moves it and fails here.
    "t87_ccnet_buckets" -> (8, 8),
    "t94_corpus_to_batches" -> (96, 96),
    // t97 = t94's chain + two more consumers of the cached kept/enc
    // frames (the toks and text joins for the invariant map), each
    // reprinting the same two bounded 1-row folds once more
    "t97_corpus_to_batches_trained" -> (144, 144),
    "t88_modified_kn_perplexity" -> (2, 2), // t86's B + V folds (the n1..n4 fold is a separate driver collect)
    "t89_trigram_kn_perplexity" -> (2, 2), // the adjusted-bigram-mass (B2) + vocab (V) folds
    "t91_trigram_modified_kn" -> (2, 2),   // t89's B2 + V folds (both count-of-count folds are driver collects)
    "t95_order5_modified_kn" -> (2, 2),    // the level-2 mass (B) + vocab (V) folds (all four count-of-count folds are driver collects)
    "t92_byte_bpe_deep_train" -> (1, 0),   // ONE ordered window over the 100-row merge table (count-scale)
    "t51_dsir_selection" -> (2, 2),  // two LMs ⇒ two 1-row vocab folds
    "d58_embedding_gram" -> (1, 0),  // d×d Gram fold: buffer bounded by dim², not data
    "a36_t_closeness" -> (3, 3),     // |bins|-row global cum + N/m 1-row folds & broadcasts
    "s13_dataset_fingerprint" -> (4, 0), // one 1-row fingerprint fold per table
    "d27_split_contamination" -> (0, 1),
    "d38_corpus_drift" -> (2, 2),
    "d7_embedding_near_dup" -> (0, 1),
    "e16_daily_active" -> (1, 0),
    "e29_activity_gini" -> (1, 0),
    "f7_scalar_subquery_sql" -> (1, 0),
    "j21_geo_grid_join" -> (0, 1),
    "q10_curation_funnel" -> (6, 1),  // 5 stage-count folds + vocab fold; LM scalar broadcast
    "q12_crawl_funnel" -> (4, 0),     // 4 stage (docs, chars) scalar folds — one per funnel row
    "q11_corpus_build_funnel" -> (7, 0), // 7 stage (docs, tokens) scalar folds — one per funnel row (incl. the t57 model stage)
    "q2_referential_integrity" -> (14, 7),
    "q3_skew_profile" -> (6, 4),
    "q4_join_fanout" -> (2, 0),
    "q5_functional_dependency" -> (3, 0),
    "q9_column_profile" -> (1, 0),
    "s1_full_scan" -> (1, 0),
    "t11_tfidf_top_terms" -> (1, 1),
    "t14_rare_token_fraction" -> (1, 1),
    "t15_mixture_plan" -> (1, 1),
    "t25_source_divergence" -> (1, 1),
    "t31_token_salience" -> (1, 1),
    "t33_temperature_mix" -> (1, 1),
    "t36_bigram_pmi" -> (1, 1),
    "t44_weighted_sampler_laws" -> (2, 4),
    "t55_domain_quota" -> (1, 1)) // 1-row corpus-total fold + its broadcast-back
}

class AllQueriesExecuteSpec extends AnyFunSuite {

  test("every SparkEntry.queries entry executes at sf0.001 (none may vanish from the gate)") {
    val spark = TestSpark.spark
    val planDrift = scala.collection.mutable.ListBuffer.empty[String]
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val df = fn(spark, TestSpark.sfDir)
        val plan = df.queryExecution.executedPlan.toString
        val sp = "Exchange SinglePartition".r.findAllIn(plan).length
        val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
        val (aSp, aBnlj) = PlanBudget.allowed.getOrElse(name, (0, 0))
        if ((sp, bnlj) != (aSp, aBnlj))
          planDrift += s"$name: singlePartition=$sp (budget $aSp), bnlj=$bnlj (budget $aBnlj)"
        df.write.mode("overwrite").format("noop").save()
        None
      } catch {
        case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    assert(failures.isEmpty,
      s"${failures.size}/${SparkEntry.queries.size} queries failed to execute — " +
        s"these would SILENTLY drop out of the correctness tally:\n  " +
        failures.mkString("\n  "))
    assert(planDrift.isEmpty,
      s"${planDrift.size} queries drifted from their SinglePartition/BNLJ plan " +
        "budget (PlanBudget.allowed) — every occurrence must be a bounded " +
        "scalar fold, audited and pinned:\n  " + planDrift.mkString("\n  "))
    val stale = PlanBudget.allowed.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"PlanBudget.allowed names unknown queries: $stale")
  }

  test("SparkEntry.entry, the driver's smoke query, returns rows at sf0.001") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }
}
