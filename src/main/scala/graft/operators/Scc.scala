package graft.operators

import graft.engine.Lineage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly connected components over a DIRECTED edge list — the
  * directed-graph partner of [[ConnectedComponents]]: link graphs,
  * citation networks, and crawl frontiers are directed, and "mutually
  * reachable" (a cycle of references) is a different — and for ranking
  * and dedup-cluster work, stronger — statement than "connected when you
  * ignore direction". PageRank's convergence structure, spider traps, and
  * link farms are all SCC phenomena.
  *
  * Algorithm: iterated TRIM + forward COLORING + backward pivot sweep —
  * the Multistep/coloring family (Orzan's coloring; Slota, Rajamanickam &
  * Madduri, IPDPS'14 — public algorithms), the standard label-propagation
  * formulation for distributed SCC (Tarjan's stack DFS does not
  * distribute):
  *
  *  1. TRIM: a vertex with no in-edge or no out-edge in the live subgraph
  *     can sit on no cycle — it is its own singleton SCC. Iterated to a
  *     fixpoint, this alone resolves every DAG-like region in
  *     O(longest-trimmable-chain) vertex-scale rounds.
  *  2. COLOR: propagate f(v) = min(f over in-neighbors ∪ {v}) to a
  *     fixpoint (the directed twin of [[ConnectedComponents.minLabel]],
  *     same label-sum convergence test). At the fixpoint f is constant on
  *     every SCC (mutual reachability), so colors partition the live
  *     graph into SCC-closed regions.
  *  3. SWEEP: every pivot (f(v) = v) is settled with scc = v, then the
  *     settled set grows backward along edges WITHIN the same color:
  *     u joins when some edge u→w has w settled and f(u) = scc(w) — i.e.
  *     u reaches its own color's pivot, which with f(u) = pivot →* u
  *     makes membership mutual. Extracted SCCs leave the graph; repeat.
  *  4. LOCAL ENDGAME: Multistep is explicitly a HYBRID — the distributed
  *     phases exist to extract the giant SCC and the trimmable periphery;
  *     the paper finishes the small remainder serially (its "serial
  *     step"). Once the live subgraph fits `localFinishMaxRows` (a
  *     count-scale driver budget), it is collected once and finished with
  *     iterative Tarjan — same min-id labeling, bit-identical output,
  *     and it replaces ~15 fixed-overhead distributed actions per outer
  *     round with one collect. At 100 TB the first rounds do the heavy
  *     lifting distributed; the endgame only ever sees what fits.
  *
  * Every extraction round removes at least the minimum live vertex's SCC
  * (the global min is always its own pivot), so the outer loop
  * terminates; `maxOuterRounds` guards the adversarial
  * chain-of-small-cycles shape with a loud refusal naming the knob.
  *
  * Scale shape: NO transitive closure is ever materialized (the
  * definitional reach×reach oracle this operator is gated against is
  * quadratic in SCC size — exactly what a 100 TB run cannot do). Per
  * inner round: one edge-keyed shuffle join + a map-side-combined min or
  * distinct + a vertex-scale anti/left join. Edges are induced once per
  * outer round from the shrinking live set. Iteration hygiene is
  * [[graft.engine.Lineage]]'s: every frame is pinned and read through its
  * truncated view (the sweep and the anti-joins reference each round's
  * state more than once), predecessors released, so the plan stays one
  * round deep no matter how many rounds run; a refusal releases every
  * cache the operator pinned.
  */
object Scc {

  /** The default serial-endgame budget of every round-loop operator with a
    * driver-side finish ([[components]], [[ConnectedComponents.minLabel]],
    * [[Bfs]], [[RandomWalks]] and the subword trainers): 4e6 rows ≈ tens of
    * MB of primitive arrays on the driver, count-scale by the repo's
    * collect doctrine. Each operator's `localFinishMaxRows` parameter
    * defaults to it; 0 forces the all-distributed path. */
  val LocalFinishMaxRows: Long = 4000000L

  private def labelSum(df: DataFrame, c: String): java.math.BigDecimal =
    df.agg(sum(col(c).cast("decimal(38,0)"))).head().getDecimal(0)

  /** Condensation of a directed graph under an SCC labeling: the DISTINCT
    * (scc(src), scc(dst)) pairs with the intra-SCC edges dropped — by the
    * definition of SCCs this graph is a DAG (a cycle between condensation
    * nodes would merge them into one SCC). Two label equi-joins + one
    * distinct; edge-scale, no new machinery.
    *
    * @param labels (idCol → sccCol) as produced by [[components]]
    * @return (src, dst) condensation edges over SCC ids
    */
  def condensation(
      labels: DataFrame, idCol: String, sccCol: String,
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val ls = labels.select(
      col(idCol).cast("long").as("src"), col(sccCol).cast("long").as("__sa"))
    val ld = labels.select(
      col(idCol).cast("long").as("dst"), col(sccCol).cast("long").as("__sb"))
    e.join(ls, Seq("src")).join(ld, Seq("dst"))
      .filter(col("__sa") =!= col("__sb"))
      .select(col("__sa").as("src"), col("__sb").as("dst"))
      .distinct()
  }

  /** Longest-path topological LEVELS of a DAG: level(v) = 0 for sources,
    * else 1 + max(level of in-neighbors) — the scheduling depth of each
    * condensation node (every level can run after all lower levels; the
    * standard read for migration waves, crawl tiers, dependency stages).
    *
    * Iterative max-relaxation: after k rounds level_k(v) = the longest
    * path into v using ≤ k edges, pointwise nondecreasing, fixpoint at
    * k = DAG depth — so convergence is the exact-integer level-sum test
    * (the ConnectedComponents economy: ONE action per round). Per round
    * one edge-keyed join + a map-side-combined max + a node-scale left
    * join; the d21 lineage hygiene throughout. A CYCLE makes the sum grow
    * forever, so the maxRounds refusal doubles as a loud non-DAG check —
    * feed it [[condensation]] output, which is a DAG by construction.
    *
    * @param edges directed DAG edges (srcCol, dstCol); self-loops rejected
    *              by the refusal (they are cycles)
    * @return (id, level) for every vertex appearing in `edges`; isolated
    *         vertices never appear (the caller left-joins them at level 0)
    */
  def topologicalLevels(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 60): DataFrame = Lineage.scope { s =>
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val e = s.pin(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()).view
    val (nodesP, nodeRows) = s.pinBy(
      e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id"))).distinct())(_.count())
    val nodes = nodesP.view
    // no edges at all — every vertex is the caller's level-0 default; SUM()
    // of an empty frame is null and would NPE the convergence test
    if (nodeRows == 0L) nodes.select(col("id"), lit(0L).as("level"))
    else {
      def relax(cur: DataFrame): DataFrame = {
        val stepped = e.join(cur.select(col("id").as("src"), col("level")), Seq("src"))
          .groupBy(col("dst")).agg(max(col("level") + lit(1L)).as("nl"))
        nodes.join(stepped, nodes("id") === stepped("dst"), "left")
          .select(nodes("id"), coalesce(col("nl"), lit(0L)).as("level"))
      }
      val (lvl0, sum0) = s.pinBy(nodes.select(col("id"), lit(0L).as("level")))(
        labelSum(_, "level"))
      // TWO relaxations per ACTION (the components color-loop economy):
      // levels are pointwise NONDECREASING in rounds, so sum(k) ==
      // sum(k+2) still reads "nothing moved in either round", and extra
      // rounds past the fixpoint are the identity — bit-identical output.
      val levels = s.fixpoint(lvl0, sum0, (maxRounds + 1) / 2) { (round, cur, _) =>
        relax(round.pinLazy(relax(cur)).view)
      }(labelSum(_, "level"))(_.compareTo(_) == 0)
      if (!levels.converged)
        throw new IllegalStateException(
          s"topologicalLevels did not converge in $maxRounds rounds — " +
            "the graph has a cycle (not a DAG) or depth exceeds maxRounds")
      // the levels stay persisted (the components contract)
      s.keep(levels.state).view
    }
  }

  /** Iterative Tarjan (explicit stacks — no recursion, so DFS depth = |V|
    * is safe) over a CSR adjacency built from the collected live subgraph.
    * Labels every component with its minimum vertex id — the same unique
    * labeling the distributed rounds produce, so the two phases compose
    * bit-identically. Edges with an endpoint outside `ids` are dropped
    * (the induced subgraph — the distributed path enforces the same via
    * its left_semi inductions). O(V + E) time, primitive arrays only.
    */
  private[graft] def tarjanMinLabels(
      ids: Array[Long], edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val n = ids.length
    val idx = new java.util.HashMap[Long, Integer](n * 2)
    var i = 0
    while (i < n) { idx.put(ids(i), i); i += 1 }
    val deg = new Array[Int](n)
    var m = 0
    edges.foreach { case (s, d) =>
      val si = idx.get(s); val di = idx.get(d)
      if (si != null && di != null) { deg(si) += 1; m += 1 }
    }
    val off = new Array[Int](n + 1)
    i = 0; while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val adj = new Array[Int](m)
    val fill = java.util.Arrays.copyOf(off, n)
    edges.foreach { case (s, d) =>
      val si = idx.get(s); val di = idx.get(d)
      if (si != null && di != null) { adj(fill(si)) = di; fill(si) += 1 }
    }
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStk = new Array[Boolean](n)
    val stk = new Array[Int](n); var sp = 0 // Tarjan's component stack
    val label = new Array[Long](n)
    var counter = 0
    val fv = new Array[Int](n); val fe = new Array[Int](n) // DFS frames
    var v0 = 0
    while (v0 < n) {
      if (index(v0) == -1) {
        var top = 0
        fv(0) = v0; fe(0) = off(v0)
        index(v0) = counter; low(v0) = counter; counter += 1
        stk(sp) = v0; sp += 1; onStk(v0) = true
        while (top >= 0) {
          val v = fv(top)
          if (fe(top) < off(v + 1)) {
            val w = adj(fe(top)); fe(top) += 1
            if (index(w) == -1) {
              index(w) = counter; low(w) = counter; counter += 1
              stk(sp) = w; sp += 1; onStk(w) = true
              top += 1; fv(top) = w; fe(top) = off(w)
            } else if (onStk(w) && index(w) < low(v)) low(v) = index(w)
          } else {
            if (low(v) == index(v)) { // v is its SCC's root: pop + min-label
              var minId = Long.MaxValue
              val base = { // find v's position on the stack (members above it)
                var b = sp - 1
                while (stk(b) != v) b -= 1
                b
              }
              var k = base
              while (k < sp) {
                if (ids(stk(k)) < minId) minId = ids(stk(k))
                k += 1
              }
              k = base
              while (k < sp) { label(stk(k)) = minId; onStk(stk(k)) = false; k += 1 }
              sp = base
            }
            top -= 1
            if (top >= 0 && low(v) < low(fv(top))) low(fv(top)) = low(v)
          }
        }
      }
      v0 += 1
    }
    Array.tabulate(n)(k => (ids(k), label(k)))
  }

  /** @param vertices one column `idCol` (long ids); isolated vertices are
    *                 their own singleton SCCs
    * @param edges    directed (srcCol, dstCol) long ids; self-loops are
    *                 ignored (they never change SCC membership)
    * @param localFinishMaxRows the Multistep hybrid's serial-phase cutover
    *                 (Slota et al. run trim + FW-BW distributed for the
    *                 giant SCC, then finish the small remainder serially):
    *                 when live vertices + live edges fit under this row
    *                 budget ([[LocalFinishMaxRows]] by default), the live
    *                 subgraph is collected ONCE and finished with
    *                 iterative Tarjan instead of paying ~15 more
    *                 fixed-overhead distributed actions. 0 forces
    *                 the all-distributed path (the parity spec uses this).
    * @return (id, scc) for every vertex, scc = min vertex id in its SCC
    */
  def components(
      vertices: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      maxOuterRounds: Int = 25, maxPropRounds: Int = 60,
      localFinishMaxRows: Long = LocalFinishMaxRows): DataFrame = Lineage.scope { s =>
    val (e0, e0Rows) = s.pinBy(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())(_.count())

    var (remaining, remainingRows) = s.pinBy(
      vertices.select(col(idCol).cast("long").as("id")).distinct())(_.count())

    // (id, scc) accumulator — re-pinned flat each time it grows, so it is
    // always ONE cached leaf, never a deepening union tree.
    var assigned: Lineage.Pinned = null
    def addAssigned(part: DataFrame): Unit = {
      val grown = s.pin(if (assigned == null) part else assigned.view.unionAll(part))
      if (assigned != null) assigned.release()
      assigned = grown
    }
    // `ei` induced on the live vertex set — both endpoints live
    def induced(ei: DataFrame): DataFrame = ei
      .join(remaining.view.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(remaining.view.select(col("id").as("dst")), Seq("dst"), "left_semi")

    // Live induced edge set. Starts as e0's cache directly — re-pinning
    // would duplicate the largest frame for nothing.
    var ei = e0
    var eiRows = e0Rows
    def reinduce(): Unit = {
      val (nei, neiRows) = s.pinBy(induced(ei.view))(_.count())
      ei.release()
      ei = nei; eiRows = neiRows
    }
    var outer = 0
    while (remainingRows > 0L && outer < maxOuterRounds) {
      if (remainingRows + eiRows <= localFinishMaxRows) {
        // --- LOCAL ENDGAME (the Multistep hybrid's serial phase) ---
        // The live subgraph fits the documented driver budget: collect it
        // ONCE and finish with iterative Tarjan (which subsumes trim —
        // below the cutover, more distributed shrink rounds are pure
        // overhead). See the scaladoc: this is the published algorithm's
        // own endgame, not a shortcut; the distributed rounds exist
        // precisely to shrink a 100 TB graph down to this budget.
        val vs = remaining.view.select(col("id")).collect().map(_.getLong(0))
        val es = ei.view.select(col("src"), col("dst")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        Console.err.println(
          s"[scc] outer=$outer local-endgame vertices=${vs.length} edges=${es.length}")
        val labeled = tarjanMinLabels(vs, es)
        addAssigned(vertices.sparkSession.createDataFrame(labeled.toSeq)
          .toDF("id", "scc")
          .select(col("id").cast("long"), col("scc").cast("long")))
        remainingRows = 0L
      }
      if (remainingRows > 0L) {
      // --- TRIM to a fixpoint: no-in or no-out ⇒ singleton SCC ---
      // Action economy (the d54 constant): the live test is ONE fused
      // degree aggregate (has-in AND has-out in one shuffle, not two
      // DISTINCT + two semi joins), the per-round induced edge set stays
      // LAZY inside the live action, and the edge cache is re-pinned
      // ONCE at the fixpoint instead of per shrink round.
      var trimming = true
      var trimRounds = 0
      var trimmedAny = false
      while (trimming && remainingRows > 0L) {
        trimRounds += 1
        // entry edges are already induced on `remaining`
        val eLive = if (trimmedAny) induced(ei.view) else ei.view
        val deg = eLive.select(col("src").as("id"), lit(1).as("o"), lit(0).as("i"))
          .unionAll(eLive.select(col("dst").as("id"), lit(0).as("o"), lit(1).as("i")))
          .groupBy(col("id")).agg(max(col("o")).as("ho"), max(col("i")).as("hi"))
        val (live, liveRows) = s.pinBy(remaining.view.join(
          deg.filter(col("ho") === 1 && col("hi") === 1).select(col("id")),
          Seq("id"), "left_semi"))(_.count())
        if (liveRows == remainingRows) {
          live.release()
          trimming = false
        } else {
          trimmedAny = true
          addAssigned(remaining.view.join(live.view, Seq("id"), "left_anti")
            .select(col("id"), col("id").as("scc")))
          remaining.release()
          remaining = live; remainingRows = liveRows
        }
      }
      if (trimmedAny && remainingRows > 0L) reinduce()
      if (remainingRows > 0L) {
        // --- COLOR: forward min-label to fixpoint ---
        // labelSum is the materializing action for each round's pin
        // (ONE action per round, the CC.minLabel economy).
        def colorStep(cur: DataFrame): DataFrame = {
          val nbrMin = ei.view.join(cur.select(col("id").as("src"), col("f")), Seq("src"))
            .groupBy(col("dst"))
            .agg(min(col("f")).as("nf"))
          cur.join(nbrMin, cur("id") === nbrMin("dst"), "left")
            .select(cur("id"), least(col("f"), coalesce(col("nf"), col("f"))).as("f"))
        }
        val (f0, sum0) = s.pinBy(remaining.view.select(col("id"), col("id").as("f")))(
          labelSum(_, "f"))
        // TWO propagation rounds per ACTION (the d54 constant): the mid
        // round is pinned lazily and materializes as a side effect of the
        // outer round's labelSum — label sums decrease strictly until the
        // fixpoint, so sum(k) == sum(k+2) still means "nothing moved in
        // either round", and past the fixpoint an extra min-step is the
        // identity (labels unchanged — the output is bit-identical to
        // single-stepping). The mid round is read through its view, so the
        // self-referential join sees a clean leaf instead of shared
        // attribute ids.
        val color = s.fixpoint(f0, sum0, (maxPropRounds + 1) / 2) { (round, cur, _) =>
          colorStep(round.pinLazy(colorStep(cur)).view)
        }(labelSum(_, "f"))(_.compareTo(_) == 0)
        if (!color.converged)
          throw new IllegalStateException(
            s"SCC forward coloring did not converge in $maxPropRounds rounds " +
              "(graph diameter exceeds maxPropRounds — raise it)")
        val f = color.state.view
        // --- SWEEP: settle pivots, grow backward within color ---
        // The settled set is the linear union of the per-wave leaves (the
        // Bfs levels economy): the anti-join reads it, nothing
        // re-materializes per wave. TWO waves per action: wave 2 empty ⇒
        // preds(wave 1 ∪ settled) exhausted ⇒ the sweep is complete whether
        // or not wave 1 added rows. Possibly-empty leaves union away.
        val (pivots, pivotRows) = s.pinBy(f.filter(col("id") === col("f"))
          .select(col("id"), col("f").as("scc")))(_.count())
        val sweep = s.wave(pivots, pivotRows, 2 * ((maxPropRounds + 1) / 2)) {
          (frontier, _, settled) => ei.view
            .join(frontier.select(col("id").as("dst"), col("scc")), Seq("dst"))
            .select(col("src").as("id"), col("scc"))
            .distinct()
            .join(f, Seq("id"))
            .filter(col("f") === col("scc"))
            .select(col("id"), col("scc"))
            .join(settled.map(_.select(col("id"))).reduce(_ unionAll _), Seq("id"), "left_anti")
        }
        if (sweep.rows != 0L)
          throw new IllegalStateException(
            s"SCC backward sweep did not converge in $maxPropRounds rounds " +
              "(SCC internal diameter exceeds maxPropRounds — raise it)")
        // Round-count observability (the [verify-timing] convention): the
        // operator's cost is rounds × fixed job overhead, so the counts
        // ARE the profile.
        Console.err.println(
          s"[scc] outer=$outer trimRounds=$trimRounds colorRounds=${2 * color.rounds} " +
            s"sweepWaves=${sweep.levels.size - 1} live=$remainingRows")
        val settled = sweep.levels.map(_.view).reduce(_ unionAll _)
        addAssigned(settled) // materializes the union into the accumulator
        val (rest, restRows) = s.pinBy(
          remaining.view.join(settled.select(col("id")), Seq("id"), "left_anti"))(_.count())
        remainingRows = restRows
        remaining.release()
        color.state.release()
        sweep.levels.foreach(_.release())
        remaining = rest
        if (remainingRows > 0L) reinduce()
      }
      }
      outer += 1
    }
    if (remainingRows > 0L)
      throw new IllegalStateException(
        s"SCC did not finish in $maxOuterRounds outer rounds " +
          "(chain-of-cycles structure — raise maxOuterRounds)")
    // assigned stays persisted — the PageRank/Bfs contract: the caller
    // reads the result from cache; blocks age out via LRU.
    if (assigned == null) // no vertices at all
      vertices.sparkSession.emptyDataFrame
        .select(lit(0L).as("id"), lit(0L).as("scc")).limit(0)
    else s.keep(assigned).view
  }
}
