package graft.functions

import graft.functions.expr.VectorExpressions.dotNative
import graft.functions.expr.{TopKByScore => expr2}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector similarity over `array<float>` embedding columns.
  *
  * Two paths, mirroring what a 100 TB ANN pipeline needs:
  *  - brute-force cosine top-k (the exact baseline): block-join + window —
  *    O(n²) but fully distributed, correct, and oracle-checkable;
  *  - random-hyperplane LSH buckets (the scale path): each vector hashes to
  *    a small signature, candidates only form inside a bucket, turning the
  *    cross join into an equi-join on the signature.
  *
  * Dot products run through [[graft.functions.expr.ArrayDotProduct]] — a
  * codegen'd primitive loop (the `zip_with`+`aggregate` formulation costs a
  * lambda frame per element). Accumulation is a sequential left fold in
  * double, bit-identical to DuckDB's `list_dot_product`. Norms are computed
  * ONCE per vector before any pair join (n·d work), never per pair (n²·d).
  */
object Similarity {

  /** Elementwise dot product in double (codegen'd, sequential fold). */
  def dot(a: Column, b: Column): Column = dotNative(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Pairwise cosine from raw vectors — prefer the precomputed-norm join
    * paths below for anything quadratic. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** (id, vec_double, norm) projection — the per-side prep for pair joins. */
  private def withNorm(vecs: DataFrame, idCol: String, vecCol: String,
      idAs: String, vecAs: String, normAs: String): DataFrame =
    vecs.select(
      col(idCol).as(idAs),
      col(vecCol).cast("array<double>").as(vecAs),
      sqrt(dotNative(col(vecCol), col(vecCol))).as(normAs))

  /** Exact cosine top-k neighbors for every vector: returns
    * (vec_id, neighbor_id, cos, rk). `roundTo` decimals pin cross-engine
    * determinism at rank boundaries (ties broken by neighbor id). */
  def bruteForceTopK(
      vecs: DataFrame, idCol: String, vecCol: String, k: Int,
      roundTo: Int = 6): DataFrame = {
    // Same probe+refuse as nearDupPairs: this is the exact all-pairs
    // baseline — the documented fallback for exactly the regime where an
    // unguarded n² would reach the scheduler and read as a hang. Past the
    // ~1e8-pair budget the scale routes are lshTopK / ivfTopK.
    val n = vecs.count()
    require(n <= ExactNearDupMaxRows,
      s"bruteForceTopK is the exact all-pairs baseline and refuses $n rows " +
        s"(${n}² pairs > ~1e8 budget). At this scale use lshTopK " +
        "(hyperplane-bucketed) or ivfTopK (coarse-quantized cells) instead.")
    val a = withNorm(vecs, idCol, vecCol, "vec_id", "va", "nrm_a")
    val b = withNorm(vecs, idCol, vecCol, "neighbor_id", "vb", "nrm_b")
    a.crossJoin(b)
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos",
        round(dotNative(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")), roundTo))
      .select(col("vec_id"), col("neighbor_id"), col("cos"))
      .transform(rankTopK(k))
  }

  /** (vec_id, neighbor_id, cos) → best-k per vec_id via the bounded
    * TopKByScore aggregate: map-side partial combine means the shuffle
    * carries ≤ k rows per (group × partition), not the full pair set —
    * the window/row_number formulation shuffles and sorts every pair.
    * Tie-break (cos DESC, neighbor_id ASC) matches row_number exactly. */
  private def rankTopK(k: Int)(pairs: DataFrame): DataFrame =
    pairs
      .groupBy(col("vec_id"))
      .agg(expr2.topK(col("cos"), col("neighbor_id"), k).as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("vec_id"), col("t.id").as("neighbor_id"),
        col("t.score").as("cos"), (col("pos") + 1).cast("int").as("rk"))

  /** Exact cosine top-k with the index side broadcast — the plan a
    * broadcast hash join would pick if Spark had a "broadcast top-k join":
    * collect (id, vec, norm) once (n·d doubles — the same "fits in memory"
    * contract as a broadcast join build side), ship it to every executor,
    * and stream the query side through a bounded best-k insertion per row.
    * No pair materialization, no shuffle: one narrow pass over the queries.
    *
    * Scale posture: query side scales out arbitrarily (it only streams);
    * the index side must fit in executor memory. When it doesn't, fall
    * back to [[bruteForceTopK]] (blocked pair join) or [[lshTopK]].
    * Bit-identical to [[bruteForceTopK]]: same double fold, same
    * HALF_UP rounding (java.math.BigDecimal.valueOf, exactly Spark's
    * `round`), same (cos DESC, id ASC) tie-break.
    */
  def bruteForceTopKBroadcast(
      vecs: DataFrame, idCol: String, vecCol: String, k: Int,
      roundTo: Int = 6, excludeSameLabel: Option[String] = None,
      maxIndexBytes: Long = 1L << 30): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // With excludeSameLabel, a candidate sharing the query's label is
    // skipped — hard-NEGATIVE mining for contrastive training: the most
    // similar vectors that are NOT of the query's class. Same broadcast
    // contract, same tie-break; the filter is a per-candidate long compare.
    // The label must already be integral: a silent cast("long") of a
    // string/decimal label would null out and then crash the primitive
    // encoder at collect time with nothing naming the real problem. Null
    // labels collapse to one "unlabeled" class (sentinel): unlabeled rows
    // exclude each other, never a labeled row.
    excludeSameLabel.foreach { c =>
      import org.apache.spark.sql.types._
      val ok = vecs.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      require(ok, s"excludeSameLabel column '$c' must be an integral type, " +
        s"got ${vecs.schema(c).dataType}")
    }
    val labCol = excludeSameLabel
      .map(c => coalesce(col(c).cast("long"), lit(Long.MinValue)))
      .getOrElse(lit(0L)).as("lab")
    val prepped = vecs
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"), labCol)
      .as[(Long, Array[Double], Long)]
    // Self-enforcing "fits in memory" contract (the nearDupPairs probe
    // pattern): measure the index side with one aggregate BEFORE pulling
    // it to the driver, and refuse loudly past `maxIndexBytes` — a
    // silent OOM at collect() names nothing and takes the driver down.
    val sz = prepped.toDF().agg(
      count(lit(1)).as("n"),
      coalesce(sum(size(col("v")).cast("long")), lit(0L)).as("dims")).head()
    val estBytes = sz.getLong(0) * 24L + sz.getLong(1) * 8L
    require(estBytes <= maxIndexBytes,
      s"bruteForceTopKBroadcast: index side is ~$estBytes bytes " +
        s"(${sz.getLong(0)} vectors), over maxIndexBytes=$maxIndexBytes — " +
        "use bruteForceTopK (blocked pair join), lshTopK, or " +
        "ivfTopK, which never collect the index")
    val index = prepped.collect()
    val n = index.length
    val ids = new Array[Long](n)
    val mat = new Array[Array[Double]](n)
    val norms = new Array[Double](n)
    val labs = new Array[Long](n)
    var j = 0
    while (j < n) {
      ids(j) = index(j)._1
      mat(j) = index(j)._2
      norms(j) = math.sqrt(dotSeq(mat(j), mat(j)))
      labs(j) = index(j)._3
      j += 1
    }
    val useLab = excludeSameLabel.isDefined
    val bc = spark.sparkContext.broadcast((ids, mat, norms, labs))
    val kk = k
    val scale = roundTo
    // The scan side of a single small parquet file arrives as one task
    // (row-group granularity); fan the linear query stream out to all
    // cores. On a real multi-file layout parallelism is already there and
    // this is a no-op — the O(n²) pair space never shuffles either way.
    val par = spark.sparkContext.defaultParallelism
    val spread =
      if (prepped.rdd.getNumPartitions < par) prepped.repartition(par)
      else prepped
    spread.mapPartitions { it =>
      val (ids, mat, norms, labs) = bc.value
      val m = ids.length
      it.flatMap { case (qid, qv, qlab) =>
        val qn = math.sqrt(dotSeq(qv, qv))
        // bounded insertion: arrays of size k ordered best-first
        val topS = new Array[Double](kk)
        val topI = new Array[Long](kk)
        var size = 0
        var i = 0
        while (i < m) {
          if (ids(i) != qid && (!useLab || labs(i) != qlab)) {
            val c = roundHalfUp(dotSeq(qv, mat(i)) / (qn * norms(i)), scale)
            if (size < kk || c > topS(size - 1) ||
                (c == topS(size - 1) && ids(i) < topI(size - 1))) {
              // find insertion point (cos DESC, id ASC)
              var p = if (size < kk) size else size - 1
              while (p > 0 && (c > topS(p - 1) ||
                  (c == topS(p - 1) && ids(i) < topI(p - 1)))) {
                topS(p) = topS(p - 1); topI(p) = topI(p - 1); p -= 1
              }
              topS(p) = c; topI(p) = ids(i)
              if (size < kk) size += 1
            }
          }
          i += 1
        }
        (0 until size).map(r => (qid, topI(r), topS(r), r + 1))
      }
    }.toDF("vec_id", "neighbor_id", "cos", "rk")
  }

  /** Sequential left fold in double — the same accumulation order as
    * [[graft.functions.expr.ArrayDotProduct]] and DuckDB's
    * list_dot_product, so all three paths agree bit-for-bit. */
  private def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Exactly Spark's `round(double, s)`: decimal HALF_UP on the shortest
    * string representation of the double. */
  private def roundHalfUp(x: Double, s: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(s, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** Max corpus size the exact all-pairs plan will accept (≈1e8 pairs, the
    * same pair budget as the d22 stats probe — a few minutes of distributed
    * dot products). Beyond it [[nearDupPairs]] REFUSES to plan n² and names
    * the scale routes instead of silently scheduling a year of work. */
  val ExactNearDupMaxRows: Long = 14142L

  /** Exact near-duplicate pairs: cosine ≥ threshold, id_a < id_b.
    *
    * This is the labeled exact baseline, and it is GUARDED: one count job
    * probes the corpus, and past [[ExactNearDupMaxRows]] (≈1e8 pairs) the
    * call fails loudly naming the scale paths — [[semDedup]] (cluster-
    * partitioned, exact within cells) and [[nearDupPairsLsh]] (bucketed
    * candidates + exact verify, for high thresholds) — rather than letting
    * a quadratic plan reach the scheduler where it would look like a hang,
    * not a design error. */
  def nearDupPairs(
      vecs: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val n = vecs.count()
    require(n <= ExactNearDupMaxRows,
      s"nearDupPairs is the exact all-pairs baseline and refuses $n rows " +
        s"(${n}² pairs > ~1e8 budget). At this scale use semDedup " +
        "(cluster-partitioned exact) or nearDupPairsLsh (bucketed " +
        "candidates + exact verify, recall<1) instead.")
    val a = withNorm(vecs, idCol, vecCol, "id_a", "va", "nrm_a")
    val b = withNorm(vecs, idCol, vecCol, "id_b", "vb", "nrm_b")
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(dotNative(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Near-duplicate pairs via hyperplane-LSH candidate generation + exact
    * cosine verify — the bucketed scale route for the HIGH-threshold regime
    * (θ small, so sign agreement per plane is likely and bucket recall is
    * high; at moderate thresholds like 0.45 the angles are ~60° and
    * hyperplane buckets prune nothing — use [[semDedup]] there). Output
    * schema and the per-pair cosine tree are identical to [[nearDupPairs]];
    * only RECALL can differ (a true pair whose signatures disagree in every
    * table is missed — probability (1-p^nPlanes)^tables, vanishing as
    * cos→1). The candidate join shuffles on (table, signature) 8-byte keys;
    * per-bucket fan-out replaces the n² pair space. */
  def nearDupPairsLsh(
      vecs: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double, nPlanes: Int = 12, tables: Int = 8,
      seed: Long = 42L): DataFrame = {
    val base = withNorm(vecs, idCol, vecCol, "vid", "v", "nrm")
    val sigs = base.select(
        col("vid"),
        posexplode(graft.functions.expr.VectorExpressions
          .hyperplaneSignatures(col("v"), dim, nPlanes, tables, seed)))
      .toDF("vid", "tbl", "sig")
    // shuffle_hash on identical subplans → ReuseExchange computes the
    // signature map stage once (the lshTopK posture; a corpus-scale frame
    // could never broadcast).
    val a = sigs.alias("a").hint("shuffle_hash")
    val b = sigs.alias("b")
    val cand = a.join(b,
        col("a.tbl") === col("b.tbl") && col("a.sig") === col("b.sig") &&
          col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"))
      .distinct()
    cand
      .join(base.select(col("vid").as("vid_a"), col("v").as("va"), col("nrm").as("nrm_a")),
        col("id_a") === col("vid_a"))
      .join(base.select(col("vid").as("vid_b"), col("v").as("vb"), col("nrm").as("nrm_b")),
        col("id_b") === col("vid_b"))
      .withColumn("cos",
        round(dotNative(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): pairwise cosine is
    * computed only WITHIN a cluster, so the O(n²) pair space becomes
    * Σ|cluster|² — one equi-join shuffle on the cluster id instead of a
    * cross join. A vector is a duplicate when a lower-id vector in the same
    * cluster is within `threshold`; `dup_of` is the smallest such id (a
    * deterministic keeper rule, stable across retries). `clusterCol` is any
    * coarse partition — a k-means cell (compose with the IVF quantizer), an
    * LSH bucket, or a precomputed label. */
  def semDedup(vecs: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, threshold: Double): DataFrame = {
    def side(id: String, v: String, n: String) = vecs.select(
      col(clusterCol).as("__c"), col(idCol).as(id),
      col(vecCol).cast("array<double>").as(v),
      sqrt(dotNative(col(vecCol), col(vecCol))).as(n))
    val dupEdges = side("vec_id", "va", "na")
      .join(side("id_b", "vb", "nb"), Seq("__c"))
      .filter(col("id_b") < col("vec_id"))
      // Degenerate-vector guard, covering BOTH failure shapes: a zero-norm
      // vector (Spark's 0/0 divide yields NULL — filtered anyway — but
      // DuckDB's yields NaN, which sorts ABOVE the threshold) and a
      // NaN-component vector (norm = NaN in both engines; NaN * nb > 0 is
      // TRUE under NaN-is-largest ordering, so the > 0 test alone would let
      // one failed-encoder row "duplicate" its entire cluster).
      .filter(!isnan(col("na") * col("nb")) && col("na") * col("nb") > 0)
      .filter(round(dotNative(col("va"), col("vb")) / (col("na") * col("nb")), 6)
        >= threshold)
      .groupBy(col("vec_id"))
      .agg(min(col("id_b")).as("dup_of"))
    vecs.select(col(idCol).as("vec_id"), col(clusterCol).as("cluster"))
      .join(dupEdges, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
  }

  /** IVF (inverted-file) ANN top-k — the cluster-partitioned scale path.
    *
    * A coarse quantizer (k-means on cosine similarity, deterministic
    * hash-order init + `iters` Lloyd rounds) splits the corpus into `nlist`
    * cells; each query probes its `nprobe` nearest cells and ranks exact
    * cosine only against those cells' members. At scale this replaces the
    * O(n²) pair space with an equi-join on the cell id: the index side is
    * shuffle-partitioned by cell exactly once and each query's work is
    * `nprobe/nlist` of the corpus. Centroids (nlist·d doubles) broadcast;
    * assignment and probing are narrow passes.
    *
    * The quantizer trains on a BOUNDED deterministic sample (`trainCap`
    * vectors in xxhash64 order, one TakeOrdered job), then runs Lloyd
    * locally on the driver — at 100 TB you never posexplode the full
    * corpus per training round (n·d rows shuffled × iters); only the
    * one-pass ASSIGNMENT stays full-corpus. The corpus itself is never
    * persisted: caching 100 TB is not a plan, and the re-read for the
    * index/probe sides is a narrow scan+map.
    *
    * Deterministic end to end (hash-order sample, no RNG, sequential fold
    * accumulation) so results are stable across runs and task retries.
    * Recall < 1 by construction — pinned against the exact baseline in
    * SimilaritySpec.
    */
  def ivfTopK(
      vecs: DataFrame, idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 3,
      trainCap: Int = 100000): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val base = vecs
      .select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
      .map { case (id, v) => (id, v, math.sqrt(dotSeq(v, v))) }
      .toDF("id", "v", "nrm")

    // Bounded training sample in xxhash64(id) order (id tiebreak pins the
    // order when hashes collide) — planned as TakeOrdered, so the driver
    // holds at most trainCap·d doubles regardless of corpus size.
    val sample: Array[Array[Double]] = base
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(math.max(nlist, trainCap))
      .select("v").as[Array[Double]].collect()

    var centroids = sample.take(nlist).map(normalize)
    var it = 0
    while (it < iters && sample.nonEmpty) {
      // local Lloyd round over the sample: sequential adds in sample order
      val dim = sample.head.length
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        val c = nearestCells(v, centroids, 1).head
        val s = sums(c)
        var i = 0
        while (i < dim && i < v.length) { s(i) += v(i); i += 1 }
        counts(c) += 1
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)   // empty cell keeps its centroid
        else normalize(sums(c).map(_ / counts(c)))
      }.toArray
      it += 1
    }

    val bcFinal = spark.sparkContext.broadcast(centroids)
    // index side: members per cell (the "inverted file"), partitioned by cell
    val indexed = assign(base, bcFinal)
      .select(col("cid"), col("id").as("nid"), col("v").as("nv"), col("nrm").as("nn"))
    // query side: each query explodes to its nprobe nearest cells
    val probes = {
      val np = nprobe
      base.as[(Long, Array[Double], Double)].flatMap { case (id, v, nrm) =>
        nearestCells(v, bcFinal.value, np).map(cid => (cid, id, v, nrm))
      }.toDF("cid", "qid", "qv", "qn")
    }
    probes.join(indexed, "cid")
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos",
        round(dotNative(col("qv"), col("nv")) / (col("qn") * col("nn")), 6))
      // a vector in >1 probed cell of the same query appears once per cell;
      // max() collapses duplicates before ranking
      .groupBy(col("qid").as("vec_id"), col("nid").as("neighbor_id"))
      .agg(max("cos").as("cos"))
      .transform(rankTopK(k))
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(dotSeq(v, v))
    if (n == 0.0) v else v.map(_ / n)
  }

  /** Cell ids of the `nprobe` nearest centroids by dot product (centroids
    * are unit vectors, so dot == cosine ranking), ties to the lower id. */
  private def nearestCells(v: Array[Double], cs: Array[Array[Double]], nprobe: Int): Seq[Int] =
    cs.indices.map(c => (dotSeq(v, cs(c)), c))
      .sortBy { case (d, c) => (-d, c) }
      .take(nprobe).map(_._2)

  /** (id, v, nrm) → (cid, id, v, nrm): nearest-centroid assignment against
    * the broadcast codebook, as one narrow pass. */
  private def assign(
      base: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    base.as[(Long, Array[Double], Double)].map { case (id, v, nrm) =>
      (nearestCells(v, bc.value, 1).head, id, v, nrm)
    }.toDF("cid", "id", "v", "nrm")
  }

  /** Deterministic random hyperplanes: `planes(p)(d)` from a seeded LCG. */
  private def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    var state = seed
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Seq.fill(nPlanes)(Seq.fill(dim)(next()))
  }

  /** Sign-pattern LSH bucket id for a vector: bit p = sign(v · plane_p).
    * Vectors with high cosine land in the same bucket with high probability;
    * multiple independent tables raise recall. */
  def hyperplaneSignature(vec: Column, dim: Int, nPlanes: Int = 8, seed: Long = 42L): Column = {
    val sig = hyperplanes(nPlanes, dim, seed).zipWithIndex.map { case (plane, p) =>
      val d = dotNative(vec, typedLit(plane))
      when(d >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    sig.reduce((x, y) => x.bitwiseOR(y))
  }

  /** ANN top-k via L tables of hyperplane buckets: candidates = pairs that
    * share a bucket in ANY table; exact cosine + window rank on candidates
    * only. Recall < 1 by construction (high for near-duplicate vectors, the
    * target use case); at scale this replaces the O(n²) cross join with L
    * equi-join shuffles on 8-byte keys. */
  def lshTopK(
      vecs: DataFrame, idCol: String, vecCol: String, dim: Int, k: Int,
      nPlanes: Int = 8, tables: Int = 6, seed: Long = 42L): DataFrame = {
    // No persist: base/sigs are narrow scan+map lineages — the bucket
    // self-join and both join-backs re-derive them from the source, which
    // is the only posture that survives a corpus too big to cache. (A
    // persisted-and-never-released corpus also leaks executor memory in a
    // shared session.) All L signatures still compute in ONE pass per
    // consumer (posexplode), not L passes.
    val base = withNorm(vecs, idCol, vecCol, "vid", "v", "nrm")
    // All L signatures via ONE native expression (the planes live in the
    // expression object, not as typedLit plan literals — 6×8×64 literal
    // doubles cost more in per-run analysis/optimization than the query's
    // actual execution; pinned equivalent to the literal formulation in
    // SimilaritySpec).
    val sigs = base.select(
        col("vid"),
        posexplode(graft.functions.expr.VectorExpressions
          .hyperplaneSignatures(col("v"), dim, nPlanes, tables, seed)))
      .toDF("vid", "tbl", "sig")
    // shuffle_hash, not broadcast: sigs is corpus-scale (n·L rows), so at
    // 100 TB it can never be a build side — and shuffling BOTH sides on the
    // same (tbl, sig) key makes the two identical map stages collapse into
    // ONE via ReuseExchange, so the signatures are computed once without
    // any cache.
    val a = sigs.alias("a").hint("shuffle_hash")
    val b = sigs.alias("b")
    val cand = a.join(b,
        col("a.tbl") === col("b.tbl") && col("a.sig") === col("b.sig") &&
          col("a.vid") =!= col("b.vid"))
      .select(col("a.vid").as("vec_id"), col("b.vid").as("neighbor_id"))
      .distinct()
    // Join-backs stay hint-free: the strategy is SIZE-chosen (broadcast
    // only when base actually fits, as here at test SF; AQE falls back to
    // shuffle strategies when it doesn't), and the recomputed base lineage
    // is a narrow scan+norm pass. Forcing shuffle_hash here would shuffle
    // the much larger candidate-pair set twice instead.
    val withVecs = cand
      .join(base.select(col("vid").as("vid_a"), col("v").as("va"), col("nrm").as("nrm_a")),
        col("vec_id") === col("vid_a"))
      .join(base.select(col("vid").as("vid_b"), col("v").as("vb"), col("nrm").as("nrm_b")),
        col("neighbor_id") === col("vid_b"))
    withVecs
      .withColumn("cos",
        round(dotNative(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")), 6))
      .select(col("vec_id"), col("neighbor_id"), col("cos"))
      .transform(rankTopK(k))
  }

  /** Product-quantization ANN top-k (ADC scan) — the memory-compression
    * scale path: each vector's `m` subvectors quantize to one of `ksub`
    * centroids, so the searchable index is n·m CODE BYTES instead of
    * n·d doubles (for 64-dim float at m=8/ksub=16 that is 64×
    * compression), which is how billion-vector corpora fit an index at
    * all. Queries score by Asymmetric Distance Computation: per query a
    * (m × ksub) table of exact subspace distances to the codebook, and
    * every corpus distance is a table lookup-sum over its codes.
    *
    * Distributed shape: codebooks train like IVF's coarse quantizer — a
    * BOUNDED deterministic sample (xxhash64 order, one TakeOrdered job)
    * + local per-subspace Lloyd — then broadcast for the one-pass
    * ENCODE. The ADC scan is an equi-join of the (id, j, code) frame
    * against the (qid, j, code, dist) table frame on (j, code) — m·ksub
    * distinct join keys, table side query-scale (broadcast-able for a
    * bounded query set, which is how production uses it; passing the
    * whole corpus as queries is the exact-audit configuration, the d5
    * brute-force regime over compressed codes).
    *
    * Deterministic end to end: hash-order sample, sequential Lloyd
    * folds, lowest-index tie-breaks, and per-(query, subspace, code)
    * distances rounded to 1e-9 fixed point BEFORE the m-term integer
    * sum, so ADC scores commute under any partitioning. Approximate by
    * construction (quantization error) — recall vs the exact baseline
    * is pinned in SimilaritySpec; the exact-dup THEOREM (a twin's ADC
    * distance equals the query's own-code distance, the provable
    * minimum) is driver-hashed by d49.
    *
    * @return (vec_id, neighbor_id, adc_fp9, rk) — `adc_fp9` is the
    *         squared-L2 ADC distance in 1e-9 fixed point, rank 1 =
    *         nearest, ties to the lower neighbor id
    */
  def pqTopK(
      vecs: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int,
      m: Int = 8, ksub: Int = 16, iters: Int = 3,
      trainCap: Int = 100000): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    pqDistances(vecs, idCol, vecCol, queries, qIdCol, qVecCol, m, ksub, iters, trainCap)
      .filter(col("vec_id") =!= col("neighbor_id"))
      // TopKByScore ranks score DESC, id ASC — negate for nearest-first
      .groupBy(col("vec_id"))
      .agg(expr2.topK((-col("adc_fp9")).cast("double"), col("neighbor_id"), k).as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("vec_id"), col("t.id").as("neighbor_id"),
        (-col("t.score")).cast("long").as("adc_fp9"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  /** The ADC distance frame behind [[pqTopK]] — (vec_id, neighbor_id,
    * adc_fp9) for every (query, corpus) pair, SELF-PAIRS INCLUDED (the
    * d49 audit needs the query's own-code distance, which is the
    * provable ADC minimum). One codebook serves every consumer of one
    * call — distances from separate calls are not comparable. */
  def pqDistances(
      vecs: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      m: Int = 8, ksub: Int = 16, iters: Int = 3,
      trainCap: Int = 100000): DataFrame = {
    require(m >= 1 && ksub >= 2 && iters >= 1, "pq params out of range")
    val spark = vecs.sparkSession
    import spark.implicits._
    val base = vecs
      .select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<double>").as("v"))
      .as[(Long, Array[Double])]

    val sample: Array[Array[Double]] = vecs
      .select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(math.max(ksub, trainCap))
      .select("v").as[Array[Double]].collect()
    require(sample.nonEmpty, "pqTopK: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"pqTopK: dim=$dim not divisible by m=$m")
    val dsub = dim / m

    // per-subspace local Lloyd over the bounded sample (sequential adds
    // in sample order; empty cells keep their centroid — the IVF rules)
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      var cents = sub.take(ksub).map(_.clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(cents.length)(new Array[Double](dsub))
        val counts = new Array[Long](cents.length)
        sub.foreach { v =>
          val c = nearestCodeL2(v, cents)
          val s = sums(c)
          var i = 0
          while (i < dsub) { s(i) += v(i); i += 1 }
          counts(c) += 1
        }
        cents = cents.indices.map { c =>
          if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c))
        }.toArray
        it += 1
      }
      cents
    }
    val bc = spark.sparkContext.broadcast(codebooks)

    // one-pass encode: (nid, j, code) — n·m rows, the compressed index
    val mm = m
    val dd = dsub
    val codes = base.flatMap { case (id, v) =>
      val cb = bc.value
      (0 until mm).iterator.map { j =>
        (id, j, nearestCodeL2(
          java.util.Arrays.copyOfRange(v, j * dd, (j + 1) * dd), cb(j)))
      }
    }.toDF("nid", "j", "code")

    // per-query ADC tables: (qid, j, code, d) with d already in 1e-9
    // fixed point — every (j, code) combination present, so each
    // (query, doc) pair joins to exactly m rows
    val ks = ksub
    val tabs = queries
      .select(col(qIdCol).cast("long").as("qid"), col(qVecCol).cast("array<double>").as("qv"))
      .as[(Long, Array[Double])]
      .flatMap { case (qid, v) =>
        val cb = bc.value
        for { j <- (0 until mm).iterator; c <- (0 until ks).iterator if c < cb(j).length }
          yield (qid, j, c, math.round(l2sqSeq(
            java.util.Arrays.copyOfRange(v, j * dd, (j + 1) * dd), cb(j)(c)) * 1e9))
      }.toDF("qid", "j", "code", "d")

    codes.join(tabs, Seq("j", "code"))
      .groupBy(col("qid").as("vec_id"), col("nid").as("neighbor_id"))
      .agg(sum(col("d")).as("adc_fp9"))
  }

  /** Index of the L2-nearest centroid, strict-improvement scan so ties
    * keep the LOWEST index (deterministic across runs and engines). */
  private def nearestCodeL2(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = l2sqSeq(v, cs(0))
    var c = 1
    while (c < cs.length) {
      val d = l2sqSeq(v, cs(c))
      if (d < bestD) { best = c; bestD = d }
      c += 1
    }
    best
  }

  /** Squared L2 in a sequential left fold (same accumulation order on
    * every path). */
  private def l2sqSeq(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  /** Deterministic ±1 Rademacher sign matrix for [[jlProject]]: sign(i, j)
    * from a fixed multiplicative hash of the (input-dim, output-dim) index
    * pair. PUBLIC so the correctness oracle can render the identical signs
    * as SQL literals — the matrix is plan-time constant, never computed
    * row-side, so cross-engine parity needs no shared hash function. */
  def jlSigns(dim: Int, outDim: Int): Array[Array[Double]] =
    Array.tabulate(outDim, dim) { (j, i) =>
      if (((i.toLong * 2654435761L + j.toLong * 40503L) % 2039L) % 2L == 0L) 1.0 else -1.0
    }

  /** Johnson–Lindenstrauss random projection to `outDim` dimensions with a
    * Rademacher (±1) matrix: out_j = Σ_i sign(i,j)·v_i, the dense-sketch
    * companion to the hash sketches (SimHash is exactly this with a sign
    * output; keeping the magnitudes preserves pairwise L2/inner products
    * within (1±ε) at outDim = O(log n / ε²), Achlioptas 2003).
    *
    * The matrix is embedded as literal arrays, so each output is ONE
    * codegen'd [[dot]] fold over the row's vector — a narrow map, no
    * shuffle, no UDF; identical vectors project identically (the exact-dup
    * theorem the spec pins). Scale-out is embarrassing: 100 TB of vectors
    * is one pass writing outDim doubles per row. Results round to
    * `roundTo` dp so downstream equality/ranking is engine-stable. */
  def jlProject(
      vecs: DataFrame, idCol: String, vecCol: String,
      dim: Int, outDim: Int, roundTo: Int = 6): DataFrame = {
    val signs = jlSigns(dim, outDim)
    val e = col(vecCol).cast("array<double>")
    vecs.select(
      (col(idCol) +:
        signs.zipWithIndex.map { case (row, j) =>
          round(dotNative(e, array(row.map(lit(_)): _*)), roundTo).as(s"p$j")
        }.toSeq): _*)
  }
}
