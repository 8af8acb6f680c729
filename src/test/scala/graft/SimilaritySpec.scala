package graft

import graft.functions.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Similarity-search pins: exact top-k on hand-checkable vectors, and LSH
  * recall on planted near-duplicate vectors (its actual use case).
  */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine/dot: hand-checked values") {
    val df = Seq((Array(1f, 0f), Array(0f, 2f), Array(3f, 4f)))
      .toDF("a", "b", "c")
    val r = df.select(
      Similarity.dot(col("a"), col("b")).as("ab"),
      Similarity.cosine(col("a"), col("c")).as("ac"),
      Similarity.norm(col("c")).as("nc")).head()
    assert(r.getDouble(0) == 0.0)
    assert(math.abs(r.getDouble(1) - 0.6) < 1e-12)
    assert(math.abs(r.getDouble(2) - 5.0) < 1e-12)
  }

  test("semDedup: duplicates only within a cluster; lowest id survives") {
    // 1 ≈ 2 ≈ 4, but 4 sits in another cluster — cluster confinement must
    // keep it; inside cluster 0 the keeper is the LOWEST id (1), 2 is a dup.
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f), 0), (2L, Array(0.999f, 0.04f, 0f), 0),
      (3L, Array(0f, 1f, 0f), 0), (4L, Array(1f, 0f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.semDedup(vecs, "vec_id", "embedding", "label", 0.95)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(2), Option(r.get(3)))).toMap
    assert(got(1L) == (false, None) && got(3L) == (false, None))
    assert(got(2L) == (true, Some(1L)), "2 duplicates 1 within cluster 0")
    assert(got(4L) == (false, None), "cross-cluster twin must NOT be deduped")
  }

  test("semDedup: degenerate vectors neither dup nor poison their cluster") {
    // Two failure shapes, and they surface differently: a zero-norm vector
    // gives Spark a NULL cosine (0/0 divide is NULL here — the guard
    // exists for DuckDB parity, where 0/0 is NaN and NaN sorts above any
    // threshold); a NaN-COMPONENT vector gives NaN in BOTH engines, and
    // NaN >= threshold is true under NaN-is-largest ordering — without the
    // isnan guard one failed-encoder row would mark every clustermate as
    // its duplicate.
    val vecs = Seq(
      (1L, Array(0f, 0f, 0f), 0), // zero norm
      (2L, Array(Float.NaN, 0f, 0f), 0), // NaN component
      (3L, Array(1f, 0f, 0f), 0),
      (4L, Array(0f, 1f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.semDedup(vecs, "vec_id", "embedding", "label", 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(1L -> false, 2L -> false, 3L -> false, 4L -> false),
      "degenerate cosines must never satisfy the dup threshold")
  }

  test("brute-force top-k ranks by cosine with id tiebreak") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f)),
      (3L, Array(0f, 1f, 0f)),
      (4L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top(1L) == 4L) // cos=1 ties with... only 4 has cos 1 with 1
    assert(top(4L) == 1L)
    assert(top(2L) == 1L || top(2L) == 4L)
  }

  test("broadcast-index top-k == blocked-pair-join top-k, bit for bit") {
    val vecs = (0 until 50).map(i => (i.toLong, vec(i, 8))).toDF("vec_id", "embedding")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(3)) // (vec_id, rk)
    val blocked = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", k = 3)
      .collect().map(r => key(r) -> (r.getLong(1), r.getDouble(2))).toMap
    val bcast = Similarity.bruteForceTopKBroadcast(vecs, "vec_id", "embedding", k = 3)
      .collect().map(r => key(r) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(bcast.keySet == blocked.keySet)
    bcast.foreach { case (k0, v) => assert(v == blocked(k0), s"mismatch at $k0") }
  }

  /** Deterministic pseudo-random unit-ish vector. */
  private def vec(seed: Int, dim: Int = 16): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(dim)(r.nextGaussian().toFloat)
  }

  test("IVF ANN finds planted near-duplicate vectors") {
    val base = (0 until 40).map(i => (i.toLong, vec(i)))
    val planted = (0 until 10).map { i =>
      val v = vec(i).clone()
      v(0) = v(0) + 0.01f
      (100L + i, v)
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val ann = Similarity.ivfTopK(df, "vec_id", "embedding", k = 1,
      nlist = 8, nprobe = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val found = (0 until 10).count(i => ann.get(100L + i).contains(i.toLong))
    assert(found >= 8, s"IVF recall on planted near-dups too low: $found/10")
  }

  test("PQ ANN finds planted near-duplicate vectors; reruns are bit-identical") {
    val base = (0 until 40).map(i => (i.toLong, vec(i)))
    val planted = (0 until 10).map { i =>
      val v = vec(i).clone()
      v(0) = v(0) + 0.01f
      (100L + i, v)
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    def run() = Similarity.pqTopK(df, "vec_id", "embedding",
        df, "vec_id", "embedding", k = 1, m = 4, ksub = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val ann = run()
    val top = ann.map(t => t._1 -> t._2).toMap
    val found = (0 until 10).count(i => top.get(100L + i).contains(i.toLong))
    assert(found >= 8, s"PQ recall on planted near-dups too low: $found/10")
    assert(run().sortBy(_._1).toSeq == ann.sortBy(_._1).toSeq,
      "fixed-point ADC must be bit-identical across runs")
  }

  test("PQ exact twins: twin distance equals self distance and the ADC minimum") {
    val base = (0 until 30).map(i => (i.toLong, vec(i)))
    val twins = (0 until 5).map(i => (200L + i, vec(i)))
    val df = (base ++ twins).toDF("vec_id", "embedding")
    val queries = base.take(5).toDF("vec_id", "embedding")
    val d = Similarity.pqDistances(df, "vec_id", "embedding",
        queries, "vec_id", "embedding", m = 4, ksub = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    (0 until 5).foreach { i =>
      val dSelf = d((i.toLong, i.toLong))
      val dTwin = d((i.toLong, 200L + i))
      val dMin = d.collect { case ((q, n), v) if q == i.toLong && n != q => v }.min
      assert(dTwin == dSelf, s"query $i: twin must share the query's own codes")
      assert(dTwin == dMin, s"query $i: twin must sit at the ADC minimum")
    }
  }

  test("null array elements: dot yields NULL (like the HOF fold); signatures zero") {
    val df = Seq(Tuple1(1)).toDF("x").select(
      array(lit(1.0), lit(null).cast("double")).as("v"),
      array(lit(1.0), lit(2.0)).as("w"))
    val dot = df.select(
      graft.functions.expr.VectorExpressions.dotNative(col("v"), col("w")).as("d"))
      .head()
    assert(dot.isNullAt(0), "a null element must null the product, not read 0.0")
    val sigs = df.select(graft.functions.expr.VectorExpressions
        .hyperplaneSignatures(col("v"), dim = 2, nPlanes = 4, tables = 2, seed = 42L).as("s"))
      .head().getSeq[Long](0)
    assert(sigs == Seq(0L, 0L),
      "null-element vector: every dot is NULL so when(d >= 0) sets no bit")
  }

  test("native signature bank == literal-plane formulation, every table") {
    val df = (0 until 25).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val tables = 4
    val bank = graft.functions.expr.VectorExpressions
      .hyperplaneSignatures(col("v"), dim = 16, nPlanes = 8, tables = tables, seed = 42L)
    val literal = array((0 until tables).map(t =>
      Similarity.hyperplaneSignature(col("v"), dim = 16, nPlanes = 8, seed = 42L + t)): _*)
    val diff = df.select(bank.as("a"), literal.as("b")).filter(col("a") =!= col("b")).count()
    assert(diff == 0, "bank and typedLit-plane signatures must agree bit-for-bit")
  }

  test("LSH ANN finds planted near-duplicate vectors") {
    val base = (0 until 40).map(i => (i.toLong, vec(i)))
    // plant: 100+i is a tiny perturbation of i, for i in 0..9
    val planted = (0 until 10).map { i =>
      val v = vec(i).clone()
      v(0) = v(0) + 0.01f
      (100L + i, v)
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val ann = Similarity.lshTopK(df, "vec_id", "embedding", dim = 16, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val found = (0 until 10).count(i => ann.get(100L + i).contains(i.toLong))
    assert(found >= 8, s"LSH recall on planted near-dups too low: $found/10")
  }

  test("nearDupPairs guard refuses a corpus past the exact pair budget") {
    // count() fires before any join is planned, so the guard is cheap even
    // on a frame this size; the message must name the scale routes.
    val big = spark.range(Similarity.ExactNearDupMaxRows + 1)
      .select(col("id").as("vec_id"),
        array(col("id").cast("float"), lit(1f)).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.nearDupPairs(big, "vec_id", "embedding", 0.95)
    }
    assert(e.getMessage.contains("semDedup") &&
      e.getMessage.contains("nearDupPairsLsh"))
  }

  test("blocked exact top-k refuses an over-budget corpus, naming the scale routes") {
    // The blocked path is documented as the fallback for exactly the
    // index-too-big regime, so it carries the same probe+refuse as
    // nearDupPairs: never let an n² crossJoin reach the scheduler.
    val big = spark.range(Similarity.ExactNearDupMaxRows + 1)
      .select(col("id").as("vec_id"),
        array(col("id").cast("float"), lit(1f)).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(big, "vec_id", "embedding", k = 3)
    }
    assert(e.getMessage.contains("lshTopK") && e.getMessage.contains("ivfTopK"))
  }

  test("broadcast-index top-k refuses an over-ceiling index, naming the scale routes") {
    // Lower the ceiling instead of building a >1 GiB frame: the probe
    // measures with an aggregate before collect(), so the refusal happens
    // without the driver ever pulling a row.
    val vecs = (0L until 64L).map(i =>
      (i, Array.fill(8)(i.toDouble + 1))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopKBroadcast(vecs, "vec_id", "embedding", k = 2, maxIndexBytes = 64)
    }
    assert(e.getMessage.contains("lshTopK") && e.getMessage.contains("ivfTopK") &&
      e.getMessage.contains("bruteForceTopK") && e.getMessage.contains("maxIndexBytes=64"))
    // and under the default ceiling the same frame still runs
    val ok = Similarity.bruteForceTopKBroadcast(vecs, "vec_id", "embedding", k = 2)
    assert(ok.count() > 0)
  }

  test("LSH candidate route == exact crossJoin route on a near-dup corpus") {
    // The regime nearDupPairsLsh exists for: high threshold, planted
    // near-identical pairs (exact dups and tiny perturbations) among
    // unrelated base vectors. Both routes must return the SAME pair set
    // with the SAME 6-dp cosines — the candidate generator may only add
    // verification work, never change a surviving pair's value.
    val base = (0 until 40).map(i => (i.toLong, vec(i)))
    val exactDups = (0 until 5).map(i => (200L + i, vec(i).clone()))
    val nearDups = (5 until 10).map { i =>
      val v = vec(i).clone(); v(0) = v(0) + 0.005f; (200L + i, v)
    }
    val df = (base ++ exactDups ++ nearDups).toDF("vec_id", "embedding")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1)) -> r.getDouble(2)
    val exact = Similarity.nearDupPairs(df, "vec_id", "embedding", 0.98)
      .collect().map(key).toMap
    val lsh = Similarity
      .nearDupPairsLsh(df, "vec_id", "embedding", dim = 16, threshold = 0.98)
      .collect().map(key).toMap
    assert(exact.nonEmpty, "corpus must actually contain near-dup pairs")
    assert(lsh == exact,
      s"LSH route diverged: missing=${exact.keySet -- lsh.keySet} " +
        s"extra=${lsh.keySet -- exact.keySet}")
  }

  test("JL projection: hand-computed outputs, exact-dup preservation, balanced signs") {
    // 2-dim input, 2-dim output: with signs s(j) = jlSigns(2, 2)(j), a
    // vector (a, b) projects to (s00·a + s01·b, s10·a + s11·b) — pin the
    // arithmetic against a direct computation.
    val s = Similarity.jlSigns(2, 2)
    val df = Seq(
      (1L, Array(3.0f, 5.0f)), (2L, Array(3.0f, 5.0f)), (3L, Array(-1.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.jlProject(df, "vec_id", "embedding", dim = 2, outDim = 2)
      .orderBy("vec_id").collect()
    def expected(v: Array[Float], j: Int): Double =
      v.indices.foldLeft(0.0)((acc, i) => acc + s(j)(i) * v(i).toDouble)
    assert(got(0).getDouble(1) == expected(Array(3.0f, 5.0f), 0))
    assert(got(0).getDouble(2) == expected(Array(3.0f, 5.0f), 1))
    // identical vectors project identically (the exact-dup theorem d1-style
    // dedup over projections relies on)
    assert(got(0).getDouble(1) == got(1).getDouble(1) &&
      got(0).getDouble(2) == got(1).getDouble(2))
    // the sign matrix is deterministic and roughly balanced — a degenerate
    // all-ones column would make the projection a plain sum
    val signs = Similarity.jlSigns(64, 8)
    signs.foreach { row =>
      val pos = row.count(_ > 0)
      assert(pos >= 16 && pos <= 48, s"sign row badly unbalanced: $pos/64 positive")
    }
    assert(signs.toSeq.map(_.toSeq) == Similarity.jlSigns(64, 8).toSeq.map(_.toSeq))
  }
}
