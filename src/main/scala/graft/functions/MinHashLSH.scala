package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate detection, Spark-first.
  *
  * Pipeline shape (the standard shingle → minhash → band → bucket-join):
  *   1. per-doc: distinct word shingles → one xxhash64 per shingle (no shuffle)
  *   2. per-doc: k minhashes via the affine permutation family
  *      h_i(x) = (a_i·x + b_i) mod p over the base hash (no shuffle)
  *   3. band signatures: hash groups of r adjacent minhashes (no shuffle)
  *   4. explode bands + self-join on (band_idx, signature) → candidate pairs
  *      (the ONLY shuffle, keyed on band signature — at 100 TB this is a
  *      shuffle of (doc_id, 8-byte sig) tuples, not documents)
  *   5. exact Jaccard verification on candidates via array_intersect on the
  *      shingle sets (join back to the small candidate set).
  *
  * Determinism: permutation coefficients derive from a fixed seed, so the
  * same corpus always yields the same candidates.
  */
object MinHashLSH {

  private val P = 2147483647L // 2^31-1, Mersenne prime

  /** Deterministic affine coefficients (a odd, b any) from a seeded LCG. */
  private def coeffs(k: Int, seed: Long): Seq[(Long, Long)] = {
    var state = seed
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state }
    (0 until k).map { _ =>
      val a = math.abs(next()) % (P - 1) + 1
      val b = math.abs(next()) % P
      (a, b)
    }
  }

  /** k minhash values for a column of hashed-shingle arrays — the codegen'd
    * [[graft.functions.expr.MinHashSignature]] (tight two-level loop).
    * Returns array<long> of length k; all-P sentinel values for
    * shingle-less docs. */
  def minhashes(hashed: Column, k: Int = 64, seed: Long = 42L): Column =
    graft.functions.expr.MinHashSignature(hashed, k, seed)

  /** Reference formulation of [[minhashes]] as a single-pass higher-order
    * fold — kept for the equivalence spec (the two must agree bit-for-bit)
    * and as documentation of the algebra. (A naive k×`array_min(transform)`
    * version must be avoided: CollapseProject inlines the shingling
    * pipeline into every one of the k copies.) */
  def minhashesFold(hashed: Column, k: Int = 64, seed: Long = 42L): Column = {
    val cs = coeffs(k, seed)
    aggregate(
      hashed,
      array_repeat(lit(P), k),
      (acc, h) =>
        array((0 until k).map { i =>
          val (a, b) = cs(i)
          least(element_at(acc, i + 1), pmod(pmod(h, lit(P)) * a + b, lit(P)))
        }: _*))
  }

  /** Band signatures: hash each group of `rowsPerBand` adjacent minhashes.
    *
    * Deliberately an explicit `array(...)` of `bands` slice expressions, NOT
    * `transform(sequence(...), b => slice(minhash, b*r+1, r))`: a
    * higher-order function re-evaluates the captured `minhash` subtree per
    * band element (bands× the whole minhash fold if it got inlined), while
    * `bands` static references to one non-cheap alias make
    * `CollapseProject.canCollapseExpressions` refuse to inline the producing
    * projection — the fold is computed once per row, no cache needed. */
  def bandSignatures(minhash: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      xxhash64(concat_ws("_", slice(minhash, b * rowsPerBand + 1, rowsPerBand)))): _*)

  /** Exploded LSH band index: one (id, band_idx, sig) row per band — the
    * build shape of the self-join in [[candidatePairs]]. The minhash fold
    * and the posexplode are stateless per-row expressions. */
  def bandIndex(
      docs: DataFrame,
      idCol: String,
      hashedCol: String,
      k: Int = 64,
      bands: Int = 16): DataFrame = {
    val rowsPerBand = k / bands
    docs
      .select(col(idCol).as("id"), minhashes(col(hashedCol), k).as("mh"))
      .select(col("id"),
        posexplode(bandSignatures(col("mh"), bands, rowsPerBand)).as(Seq("band_idx", "sig")))
  }

  /** Candidate near-dup pairs (idA < idB) for docs sharing ≥1 LSH bucket.
    * `docs` must have columns (id, hashedShingles: array<long>). */
  def candidatePairs(
      docs: DataFrame,
      idCol: String,
      hashedCol: String,
      k: Int = 64,
      bands: Int = 16): DataFrame = {
    // No persist anywhere: (1) the single-evaluation guarantee for the
    // minhash fold comes from bandSignatures' multi-reference shape (see
    // its doc) rather than a cache barrier; (2) the self-join below hash-
    // shuffles BOTH sides on the same (band_idx, sig) key over identical
    // subplans, so ReuseExchange runs the map stage once — caching a
    // full-corpus signature frame is exactly what does NOT survive 100 TB
    // (and leaks executor memory in a shared session).
    val sigs = bandIndex(docs, idCol, hashedCol, k, bands)
    // shuffle_hash, not broadcast: the signature frame is corpus-scale, so
    // a broadcast build side is impossible at 100 TB — and shuffling both
    // sides on the same (band_idx, sig) key turns them into identical map
    // stages that ReuseExchange runs once.
    val a = sigs.alias("a").hint("shuffle_hash")
    val b = sigs.alias("b")
    a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
          col("a.sig") === col("b.sig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Exact Jaccard over two distinct-shingle arrays (set semantics). */
  def jaccard(shinglesA: Column, shinglesB: Column): Column = {
    val inter = size(array_intersect(shinglesA, shinglesB)).cast("double")
    val union = (size(shinglesA) + size(shinglesB) - size(array_intersect(shinglesA, shinglesB))).cast("double")
    when(union > 0, inter / union).otherwise(lit(0.0))
  }
}
