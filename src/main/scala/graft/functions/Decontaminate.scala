package graft.functions

import graft.functions.expr.WordShingleStrings
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark DECONTAMINATION — flag training documents whose word n-gram
  * shingles collide with a held-out evaluation corpus, the published
  * GPT-3 appendix-C / FineWeb method (13-gram overlap; both public). A
  * training doc that shares even one eval n-gram is a leak suspect: the
  * eval answer may be memorized verbatim, so curation pipelines either
  * drop the doc or excise the overlapping span. This operator produces
  * the per-doc evidence — distinct-shingle count, eval-colliding count,
  * and the any-overlap flag — leaving the drop-vs-excise policy to the
  * caller (n_overlap/n_shingles is the FineWeb-style fraction when a
  * softer threshold is wanted; both counts are exact integers so the
  * gate hashes without IEEE division).
  *
  * Scale shape (the 100 TB posture): the eval side collapses to its
  * DISTINCT shingle vocabulary — benchmark-sized, orders of magnitude
  * smaller than the training stream — so the overlap probe is ONE
  * left-semi equi-join of the train shingle stream against that
  * vocabulary (each vocabulary key appears once on the build side, so
  * per-key fan-out is the train document frequency: linear, never
  * quadratic), followed by two map-side-combined per-doc counts. No
  * all-pairs stage exists anywhere. The one data-dependent skew is a
  * stop-phrase shingle with a huge TRAIN document frequency putting that
  * many rows on one key of the df-cap aggregate; `maxDf` (the d34
  * pattern, 0 = off) drops shingles whose train df exceeds the cap,
  * REDEFINING the shingle universe —
  * n_shingles and n_overlap both count only survivors, mirrored verbatim
  * in the d65 oracle. (Ubiquitous n-grams are exactly the ones the
  * published method considers uninformative for leak detection.) At the
  * extreme end a Bloom filter built from the eval vocabulary can
  * pre-filter the stream before the semi-join (operators/BloomPrefilter
  * is that seam); the exact semi-join stays as the verify pass.
  *
  * Reference anchor: the reference engine has no decontamination surface
  * — this is part of the training-data extension mandated by the build
  * brief (same family as d1-d64).
  */
object Decontaminate {

  /** @param train      training pool; one row per document
    * @param evalCorpus held-out eval table; same text semantics
    * @param idCol      train document id column
    * @param textCol    text column name in BOTH frames
    * @param n          shingle width in words (13 = the GPT-3 setting)
    * @param minOverlap colliding-shingle count at/above which the doc is
    *                   flagged (1 = the published any-collision rule)
    * @param maxDf      drop shingles with train document frequency above
    *                   this from the universe (0 = off; negative fails)
    * @return one row PER TRAIN DOC — (idCol, n_shingles, n_overlap,
    *         contaminated); docs with < n tokens keep a (0, 0, false) row
    */
  def flagOverlap(
      train: DataFrame, evalCorpus: DataFrame, idCol: String, textCol: String,
      n: Int = 13, minOverlap: Long = 1L, maxDf: Long = 0L): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    require(minOverlap >= 1L, s"minOverlap must be >= 1, got $minOverlap")
    require(maxDf >= 0L, s"maxDf must be >= 0 (0 = off), got $maxDf")
    // eval vocabulary: per-doc distinct shingles (WordShingleStrings
    // dedups in one pass) then a corpus-level distinct — built
    // distributively, never collected
    val evalSh = evalCorpus
      .select(explode_outer(WordShingleStrings(col(textCol), n)).as("g"))
      .filter(col("g").isNotNull)
      .distinct()
    // explode_outer + attribute null-filter, NOT explode: the
    // shinglePairStats lesson — plain explode lets
    // InferFiltersFromGenerate re-inline the whole shingle tree into a
    // pre-projection filter on every consumer
    val trRaw = train
      .select(col(idCol).as("__id"),
        explode_outer(WordShingleStrings(col(textCol), n)).as("g"))
      .filter(col("g").isNotNull)
    val tr =
      if (maxDf == 0L) trRaw
      else trRaw.join(
        trRaw.groupBy(col("g")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxDf).select(col("g")),
        Seq("g"), "left_semi")
    val sizes = tr.groupBy(col("__id")).agg(count(lit(1)).as("n_shingles"))
    val hits = tr.join(evalSh, Seq("g"), "left_semi")
      .groupBy(col("__id")).agg(count(lit(1)).as("n_overlap"))
    // left-join back to the full doc list so sub-n-token docs keep a row
    // (the t48 short-doc contract)
    train.select(col(idCol))
      .join(sizes.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .join(hits.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= minOverlap).as("contaminated"))
  }

  /** Decontamination by EXCISION — the softer remedy beside
    * [[flagOverlap]]'s drop decision: cut exactly the token spans covered
    * by eval-colliding n-grams and keep the rest of the document (the
    * published span-removal variant; GPT-3's appendix describes removing
    * the colliding window and splitting the doc — here the kept tokens
    * reassemble into one cleaned text, with the cut accounting beside it
    * so callers can impose a max-cut-fraction drop rule on top).
    *
    * Same scale shape as the flag pass (eval vocabulary semi-join —
    * linear), plus: each hit window expands to its n covered positions
    * (bounded fan-out n per hit), cut positions anti-join the token
    * stream, and the per-doc reassembly is ONE groupBy whose
    * sort_array(struct(pos, token)) keeps partition-independent order.
    * Token stream and shingle stream use the SAME single-pass tokenizer
    * (WordShingleStrings at width 1), so excision boundaries can never
    * drift from the shingles that triggered them.
    *
    * @return one row PER TRAIN DOC — (idCol, n_tokens, n_cut,
    *         clean_text); a fully-contaminated doc keeps a row with
    *         clean_text = "" (the caller's drop rule sees n_cut ==
    *         n_tokens)
    *
    * NOTE the seam caveat: joining the kept tokens into ONE text can
    * create NEW n-grams spanning a cut (token 4 abutting token 18), and
    * nothing guarantees a seam n-gram misses the eval set — which is why
    * the published method SPLITS the document at the cut instead.
    * [[excisePieces]] is that faithful variant, with the zero-residual
    * guarantee; this single-text form remains for callers who want one
    * row per doc and accept the (tiny, but nonzero) seam exposure. */
  def exciseOverlap(
      train: DataFrame, evalCorpus: DataFrame, idCol: String, textCol: String,
      n: Int = 13): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    val evalSh = evalCorpus
      .select(explode_outer(WordShingleStrings(col(textCol), n)).as("g"))
      .filter(col("g").isNotNull)
      .distinct()
    val hits = train
      .select(col(idCol).as("__id"),
        posexplode_outer(WordShingleStrings(col(textCol), n, distinct = false))
          .as(Seq("pos", "g")))
      .filter(col("g").isNotNull)
      .join(evalSh, Seq("g"), "left_semi")
    val cut = hits
      .select(col("__id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("pos"))
      .distinct()
    val toks = train
      .select(col(idCol).as("__id"),
        posexplode_outer(WordShingleStrings(col(textCol), 1, distinct = false))
          .as(Seq("pos", "tk")))
      .filter(col("tk").isNotNull)
    // bounded-registry persist: d68 and d69 build THIS identical frame
    // (same canonical plan), so within one Verify session the full train
    // shingling + eval semi-join + position anti-join materializes once
    // and the sibling gate reads cache (the handoffEdges precedent)
    val kept = graft.engine.BoundedCaches.persist(
      toks.join(cut, Seq("__id", "pos"), "left_anti"))
    val agg = kept.groupBy(col("__id")).agg(
      count(lit(1)).as("__n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tk")))),
          x => x.getField("tk")), " ").as("clean_text"))
    val ntk = toks.groupBy(col("__id")).agg(count(lit(1)).as("n_tokens"))
    train.select(col(idCol))
      .join(ntk.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .join(agg.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("n_tokens"), lit(0L)) -
          coalesce(col("__n_kept"), lit(0L))).as("n_cut"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Decontamination by excision into PIECES — the published split
    * behavior (GPT-3's appendix removes the colliding window and SPLITS
    * the document): each maximal run of kept token positions becomes its
    * own piece. The guarantee [[exciseOverlap]]'s single text cannot
    * give: every n-gram of a piece sits at contiguous ORIGINAL positions
    * none of which were cut, and any original eval-colliding window had
    * ALL its positions cut — so re-flagging the pieces finds ZERO
    * overlap, by construction (pinned as a law in DecontaminateSpec).
    *
    * Same linear machinery as the other passes plus one per-doc window
    * for the island grouping (the d35 pos − row_number trick) and a
    * per-doc piece index. Fully-contaminated docs emit no pieces (the
    * drop accounting lives in [[exciseOverlap]]/[[flagOverlap]]).
    *
    * @return (idCol, piece_idx, piece_start, n_tokens, piece_text) —
    *         piece_idx 0-based in position order
    */
  def excisePieces(
      train: DataFrame, evalCorpus: DataFrame, idCol: String, textCol: String,
      n: Int = 13): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    val evalSh = evalCorpus
      .select(explode_outer(WordShingleStrings(col(textCol), n)).as("g"))
      .filter(col("g").isNotNull)
      .distinct()
    val hits = train
      .select(col(idCol).as("__id"),
        posexplode_outer(WordShingleStrings(col(textCol), n, distinct = false))
          .as(Seq("pos", "g")))
      .filter(col("g").isNotNull)
      .join(evalSh, Seq("g"), "left_semi")
    val cut = hits
      .select(col("__id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("pos"))
      .distinct()
    val toks = train
      .select(col(idCol).as("__id"),
        posexplode_outer(WordShingleStrings(col(textCol), 1, distinct = false))
          .as(Seq("pos", "tk")))
      .filter(col("tk").isNotNull)
    val kept = graft.engine.BoundedCaches.persist(
      toks.join(cut, Seq("__id", "pos"), "left_anti")) // shared with exciseOverlap
    val wPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("pos"))
    val pieces = kept
      .withColumn("__grp", col("pos") - row_number().over(wPos))
      .groupBy(col("__id"), col("__grp"))
      .agg(min(col("pos")).cast("long").as("piece_start"),
        count(lit(1)).as("n_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tk")))),
            x => x.getField("tk")), " ").as("piece_text"))
    val wStart = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("piece_start"))
    pieces
      .withColumn("piece_idx", (row_number().over(wStart) - 1).cast("int"))
      .select(col("__id").as(idCol), col("piece_idx"), col("piece_start"),
        col("n_tokens"), col("piece_text"))
  }
}
