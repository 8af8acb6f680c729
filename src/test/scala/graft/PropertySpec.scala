package graft

import graft.operators.RangeJoin
import graft.transforms.{EnumMap, Text}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based pins (SURVEY §5.2): algebraic laws that must hold for
  * ALL inputs, checked on ScalaCheck-generated data. Generators are driven
  * directly with fixed seeds (deterministic, offline-friendly) and each
  * sample set batches into one Spark job so the suite stays fast. */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Rounds = 5

  private def samples[A](gen: Gen[A], round: Int): A =
    gen.pureApply(Gen.Parameters.default, Seed(42L + round))

  private val weirdString: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr,
    Gen.listOf(Gen.oneOf(' ', '\t', '\n', '\r', 'a', 'Z', '0', '.', '-', 'é', 'ß'))
      .map(_.mkString),
    Gen.const(""), Gen.const("   "))

  test("handleText and handleId are idempotent on arbitrary strings") {
    (1 to Rounds).foreach { round =>
      val xs = samples(Gen.listOfN(40, weirdString), round)
      val rows = xs.toDF("s").select(
        Text.handleText(Text.handleText(col("s"))).as("tt"),
        Text.handleText(col("s")).as("t"),
        Text.handleId(Text.handleId(col("s"))).as("ii"),
        Text.handleId(col("s")).as("i")).collect()
      rows.foreach { r =>
        assert(r.getString(0) == r.getString(1), "handleText not idempotent")
        assert(r.getString(2) == r.getString(3), "handleId not idempotent")
      }
    }
  }

  test("kthOfCount: median and count match the local sort for arbitrary multisets") {
    (1 to Rounds).foreach { round =>
      val xs = samples(Gen.listOfN(60,
        Gen.chooseNum(-1000, 1000).map(_.toDouble / 4)), round)
      val df = xs.toDF("v")
      val (med, n) = graft.operators.Selection.kthOfCount(
        df, "v", t => (t + 1) / 2, buckets = 8, localLimit = 10)
      assert(n == xs.length, "total must come from the round-1 bucket tallies")
      assert(med == xs.sorted.apply(((xs.length + 1) / 2 - 1).toInt),
        s"median mismatch on round $round")
    }
  }

  test("enum mapping is total: output is always a mapped value or the default") {
    val mapping = Map("a" -> "A", "b" -> "B", "weird key" -> "W")
    val allowed = mapping.values.toSet + "DEF"
    (1 to Rounds).foreach { round =>
      val xs = samples(Gen.listOfN(40, weirdString), round) ++ mapping.keys
      val out = xs.toDF("s")
        .select(EnumMap.handleEnumMapping(col("s"), mapping, "DEF").as("m"))
        .collect().map(_.getString(0))
      out.foreach(v => assert(allowed.contains(v), s"unmapped output '$v'"))
    }
  }

  test("TopKByScore == sort-take-k for arbitrary score/id multisets") {
    import graft.functions.expr.TopKByScore
    val pairGen = Gen.listOfN(60,
      Gen.zip(Gen.chooseNum(-5.0, 5.0), Gen.chooseNum(0L, 20L)))
    (1 to Rounds).foreach { round =>
      val pairs = samples(pairGen, round)
      val expected = pairs.sortBy { case (s, i) => (-s, i) }.take(4)
      val got = pairs.toDF("score", "id")
        .agg(TopKByScore.topK(col("score"), col("id"), 4).as("top"))
        .select(explode(col("top")).as("t"))
        .select(col("t.score"), col("t.id"))
        .collect().map(r => (r.getDouble(0), r.getLong(1))).toList
      assert(got == expected, s"round $round: $got != $expected")
    }
  }

  test("as-of join == naive per-row argmax for random event sets") {
    import graft.operators.AsOfJoin
    val evGen = Gen.listOfN(30, Gen.zip(Gen.chooseNum(1L, 5L), Gen.chooseNum(0L, 100L)))
    (1 to Rounds).foreach { round =>
      val ls = samples(evGen, round).zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }
      val rs = samples(evGen, round * 1000 + 7)
      val left = ls.toDF("lid", "k", "lts")
      // payload == rts so duplicate (k, ts) right rows are tie-neutral
      val right = rs.toDF("k", "rts")
      val naive: Map[Long, Option[Long]] = ls.map { case (lid, k, lts) =>
        lid -> rs.filter(r => r._1 == k && r._2 <= lts).map(_._2).maxOption
      }.toMap
      val got = AsOfJoin.backward(left, right, Seq("k"), "lts", "rts",
          payload = Seq("rts" -> "m"))
        .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
      assert(got == naive, s"round $round")
    }
  }

  test("int128 scaled sum == BigDecimal fold for random mixed-sign money") {
    import graft.functions.expr.Int128Sum.{sumScaled, unscaled2}
    val moneyGen = Gen.listOfN(300,
      Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(-9.0e13, 9.0e13)))
    (1 to Rounds).foreach { round =>
      val xs = samples(moneyGen, round)
      val df = xs.toDF("g", "v").repartition(7) // force multi-buffer merges
      val got = df.groupBy("g").agg(sumScaled(unscaled2(col("v")), 2).as("s"))
        .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
      val expected = xs.groupBy(_._1).map { case (g, vs) =>
        // Spark's double→decimal cast goes through the SHORTEST string
        // representation (BigDecimal.valueOf), not the full binary
        // expansion — then HALF_UP to scale 2.
        g -> vs.map(v => java.math.BigDecimal.valueOf(v._2)
            .setScale(2, java.math.RoundingMode.HALF_UP))
          .reduce(_.add(_)).setScale(2)
      }
      expected.foreach { case (g, e) =>
        assert(got(g).compareTo(e) == 0, s"round $round group $g: ${got(g)} vs $e")
      }
    }
  }

  test("connected components == local union-find on random graphs") {
    val edgeGen = Gen.listOfN(40, Gen.zip(Gen.chooseNum(0L, 29L), Gen.chooseNum(0L, 29L)))
    (1 to Rounds).foreach { round =>
      val vertices = (0L until 30L).toDF("id")
      val edges = samples(edgeGen, round).filter { case (a, b) => a != b }
        .toDF("a", "b")
      // local oracle: path-compressed union-find with min-id representative
      val parent = Array.tabulate(30)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      samples(edgeGen, round).filter { case (a, b) => a != b }.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { val keep = math.min(ra, rb); parent(math.max(ra, rb)) = keep }
      }
      // normalize every representative to the true component minimum
      val expected = (0 until 30).map(i => i.toLong -> find(i).toLong).toMap
        .map { case (id, rep) => id -> (0 until 30).filter(j => find(j) == rep.toInt).min.toLong }
      val labels = graft.operators.ConnectedComponents
        .minLabel(vertices, "id", edges, "a", "b")
      try {
        val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"round $round: component mismatch")
      } finally spark.catalog.clearCache()
    }
  }

  test("triangle counts == naive enumeration on random graphs; K4 and paths pin") {
    // K4: every node sits in C(3,2) = 3 triangles; a path has none.
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)).toDF("s", "d")
    val gotK4 = graft.operators.Triangles.perNode(k4, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotK4 == (0L to 3L).map(_ -> 3L).toMap)
    assert(graft.operators.Triangles.perNode(
      (0L until 9L).map(i => (i, i + 1)).toDF("s", "d"), "s", "d").count() == 0)
    val edgeGen = Gen.listOfN(60, Gen.zip(Gen.chooseNum(0L, 19L), Gen.chooseNum(0L, 19L)))
    (1 to Rounds).foreach { round =>
      val canon = samples(edgeGen, round)
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val edgeSet = canon.toSet
      val naive = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for {
        (a, b) <- canon; (b2, c) <- canon if b2 == b && edgeSet.contains((a, c))
      } { naive(a) += 1; naive(b) += 1; naive(c) += 1 }
      val got = graft.operators.Triangles.perNode(canon.toDF("s", "d"), "s", "d")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == naive.toMap, s"round $round: triangle participation mismatch")
    }
  }

  test("degree orientation: mid-id hub pivots zero wedges (id-canonical pivots deg²/4)") {
    // Hub id 50 in the MIDDLE of the id range: id-canonical edges split
    // low→hub / hub→high, so the pre-orientation wedge join pivots
    // 50×50 wedges at the hub. Degree orientation points every edge INTO
    // the hub (leaves have degree 1) → zero wedges, same (zero) triangles.
    val star = ((0L until 50L).map(i => (i, 50L)) ++
      (51L to 100L).map(j => (50L, j))).toDF("s", "d")
    val o = graft.operators.Triangles.orientByDegree(star, "s", "d")
    val wedges = o.select(col("u").as("a"), col("v").as("b"))
      .join(o.select(col("u").as("b"), col("v").as("c")), "b")
    assert(wedges.count() == 0, "oriented star must pivot no wedges")
    val canonWedges = star.select(col("s").as("a"), col("d").as("b"))
      .join(star.select(col("s").as("b"), col("d").as("c")), "b")
    assert(canonWedges.count() == 2500, "id-canonical baseline is quadratic at the hub")
    assert(graft.operators.Triangles.perNode(star, "s", "d").count() == 0)
  }

  test("triangle counting rejects non-integral node ids instead of nulling them") {
    val bad = Seq(("x", "y"), ("y", "z")).toDF("s", "d")
    assertThrows[IllegalArgumentException](
      graft.operators.Triangles.perNode(bad, "s", "d"))
  }

  test("bucketed range join == naive theta join for random intervals/points") {
    val ptsGen = Gen.listOfN(25, Gen.zip(Gen.chooseNum(0L, 999L), Gen.chooseNum(-10.0, 50.0)))
    val ivGen = Gen.listOfN(8,
      Gen.zip(Gen.chooseNum(0L, 99L), Gen.chooseNum(-10.0, 40.0), Gen.chooseNum(0.0, 15.0)))
    val widths = Seq(1.0, 3.0, 7.5)
    (1 to Rounds).foreach { round =>
      val points = samples(ptsGen, round).toDF("pid", "p")
      val intervals = samples(ivGen, round)
        .map { case (id, lo, len) => (id, lo, lo + len) }
        .toDF("iid", "lo", "hi")
      val naive = points.crossJoin(intervals)
        .filter(col("p") >= col("lo") && col("p") < col("hi"))
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      val w = widths(round % widths.size)
      val bucketed = RangeJoin.pointInInterval(points, intervals, "p", "lo", "hi", w)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      assert(bucketed == naive, s"round $round width $w")
    }
  }

  test("bucketed interval-overlap join == naive theta join, each pair once") {
    val ivGen = Gen.listOfN(30, Gen.zip(
      Gen.chooseNum(0L, 2L), Gen.chooseNum(0L, 500L), Gen.chooseNum(1L, 120L)))
    val widths = Seq(10.0, 60.0, 300.0)
    (1 to Rounds).foreach { round =>
      val ls = samples(ivGen, round).zipWithIndex
        .map { case ((k, s, len), i) => (i.toLong, k, s, s + len) }
        .toDF("lid", "k", "ls", "le")
      val rs = samples(ivGen, round + 100).zipWithIndex
        .map { case ((k, s, len), i) => (i.toLong, k, s, s + len) }
        .toDF("rid", "k", "rs", "re")
      val naive = ls.join(rs, ls("k") === rs("k") &&
          col("ls") < col("re") && col("rs") < col("le"))
        .select(col("lid"), col("rid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      val w = widths(round % widths.size)
      val bucketed = graft.operators.RangeJoin
        .intervalOverlap(ls, rs, Seq("k"), "ls", "le", "rs", "re", w)
        .select(col("lid"), col("rid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      assert(bucketed == naive, s"round $round width $w")
      assert(bucketed.distinct == bucketed, "report-once must hold — no dup pairs")
    }
  }

  test("packing offsets tile: prefix sum == local scan for arbitrary token counts") {
    val countGen = Gen.listOfN(200, Gen.chooseNum(0L, 700L))
    for (round <- 1 to Rounds) {
      val counts = samples(countGen, round)
      val df = counts.zipWithIndex.map { case (n, i) => (i.toLong, n) }.toDF("id", "n")
      val got = graft.operators.PrefixSum
        .withRunningSum(df, "id", descending = false, tieBreak = Seq.empty,
          value = col("n"), out = "cum")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      var acc = 0L
      counts.zipWithIndex.foreach { case (n, i) =>
        acc += n
        assert(got(i.toLong) == acc, s"round $round: cum at $i")
      }
    }
  }

  test("tree depths == local climb for arbitrary random parent functions") {
    // parents drawn uniformly below each node — arbitrary tree shapes,
    // including long chains and wide fans
    val n = 120
    for (round <- 1 to Rounds) {
      val parentChoice = samples(Gen.listOfN(n, Gen.chooseNum(0, 1 << 20)), round)
      def parent(v: Long): Long =
        1L + parentChoice((v - 2).toInt) % (v - 1)
      val vs = (2L to n.toLong)
      val edges = vs.map(v => (v, parent(v))).toDF("v", "parent")
      val got = graft.operators.TreeDepth.depths(edges, root = 1L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def localDepth(v: Long): Long = {
        var (cur, d) = (v, 0L)
        while (cur != 1L) { cur = parent(cur); d += 1 }
        d
      }
      assert(got(1L) == 0L)
      vs.foreach(v => assert(got(v) == localDepth(v), s"round $round node $v"))
    }
  }

  test("semDedup is idempotent: survivors contain no pair above threshold") {
    // The lowest-id keeper rule guarantees every survivor has NO lower-id
    // neighbor within threshold — so re-running the pass on survivors must
    // find zero duplicates, for arbitrary vector sets and clusterings.
    import graft.functions.Similarity
    val vecGen = Gen.listOfN(40, Gen.zip(
      Gen.chooseNum(0, 3), // cluster
      Gen.listOfN(4, Gen.chooseNum(-1.0, 1.0)))) // 4-dim vector
    (1 to Rounds).foreach { round =>
      val rows = samples(vecGen, round).zipWithIndex.map { case ((c, v), i) =>
        (i.toLong, v.map(_.toFloat).toArray, c)
      }
      val vecs = rows.toDF("vec_id", "embedding", "label")
      val first = Similarity.semDedup(vecs, "vec_id", "embedding", "label", 0.9)
      val survivorIds = first.filter(!col("is_dup")).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      assert(survivorIds.nonEmpty)
      val survivors = rows.filter(r => survivorIds(r._1))
        .toDF("vec_id", "embedding", "label")
      val second = Similarity.semDedup(survivors, "vec_id", "embedding", "label", 0.9)
      assert(second.filter(col("is_dup")).count() == 0L,
        s"round $round: re-dedup of survivors must be a no-op")
    }
  }

  test("BPE merge pass preserves the character stream and shrinks by the merge count") {
    // The merge law every tokenizer relies on: concatenating the output
    // tokens reproduces the input character stream exactly (merging only
    // ever JOINS adjacent tokens), and the length drop equals the number
    // of merges applied. Checked against a local greedy reference on
    // random token arrays over a tiny alphabet (maximizing adjacency
    // collisions, including l == r self-merge runs).
    val tok = Gen.oneOf("a", "b", "ab", "c")
    val arrGen = Gen.listOfN(40, Gen.listOf(tok).map(_.toSeq))
    def localPass(ts: Seq[String], l: String, r: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < ts.length) {
        if (i + 1 < ts.length && ts(i) == l && ts(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += ts(i); i += 1 }
      }
      out.toSeq
    }
    (1 to Rounds).foreach { round =>
      val docs = samples(arrGen, round)
      for ((l, r) <- Seq(("a", "b"), ("a", "a"), ("ab", "c"), ("b", "a"))) {
        val got = docs.toDF("toks")
          .select(graft.functions.expr.BpeMergePass(col("toks"), l, r).as("m"))
          .as[Seq[String]].collect().toSeq
        docs.zip(got).foreach { case (in, out) =>
          val want = localPass(in, l, r)
          assert(out == want, s"round $round merge ($l,$r): $in")
          assert(out.mkString == in.mkString, "character stream must be preserved")
        }
      }
    }
  }
}
