package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Triangle counting and clustering coefficients — the static-graph
  * audit pair next to the iterative graph operators (connected
  * components in [[Dedup]], PageRank / label propagation in the
  * stats gates). Triangle density separates community-structured
  * graphs from random ones at equal degree; the per-node clustering
  * coefficient is the classic local cohesion signal.
  *
  * Algorithm: degree-ordered orientation ("compact-forward", Latapy
  * 2008; the same orientation MapReduce triangle counting uses, Suri
  * & Vassilvitskii 2011 §3): each undirected edge {u,v} becomes the
  * single arc u→v with (deg(u), u) < (deg(v), v). Every triangle
  * then has exactly ONE wedge a→b, b→c with both arcs oriented, so
  *
  *   triangles = (a→b) ⋈ (b→c) ⋈ (a→c)
  *
  * counts each triangle once with no post-dedup. The orientation is
  * what makes this 100 TB-safe: out-degrees under it are bounded by
  * O(√m) regardless of hub size (a node keeps an arc only toward
  * HIGHER-degree neighbors), so the wedge fan-out of the first join
  * is O(m^1.5) worst-case — the provably optimal bound — instead of
  * Σ deg² which a hub would blow up. All three joins are plain
  * equi-joins (shuffle on node / node-pair keys, AQE-replanned);
  * nothing is all-pairs.
  */
object Graphs {

  /** Canonical undirected edge set from a (u, v) pair relation:
    * self-loops dropped, both orders collapsed to u < v, duplicates
    * removed. One shuffle (the distinct).
    */
  def canonicalEdges(pairs: DataFrame): DataFrame =
    pairs
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()

  /** (node, deg) over canonical edges. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** Degree-ordered orientation of canonical edges: (s, t) arcs with
    * (deg(s), s) < (deg(t), t). `deg` must be [[degrees]] of the same
    * edge set.
    */
  def orient(edges: DataFrame, deg: DataFrame): DataFrame = {
    val ed = edges
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    ed.select(
      when(fwd, col("u")).otherwise(col("v")).as("s"),
      when(fwd, col("v")).otherwise(col("u")).as("t"))
  }

  /** Triangle join over an ALREADY-ORIENTED arc relation. The wedge
    * relation (first join) can be orders of magnitude bigger than the
    * edge set (Σ outdeg² — 148M wedges from 1.2M edges on the sf0.1
    * co-occurrence graph), so the closing-arc side joins BROADCAST
    * while the arc set fits the session's broadcast threshold ×16
    * (arcs are two longs — far denser than Spark's generic row
    * estimate): the wedges then never leave their producing stage.
    * Past that size it falls back to the plain shuffle join AQE
    * re-plans — the 100 TB path, where broadcasting the edge set is
    * impossible and shuffling the wedge relation is the honest cost
    * (the MapReduce triangle bound, Suri & Vassilvitskii 2011).
    */
  private def trianglesFromOriented(o: DataFrame): DataFrame = {
    val e1 = o.select(col("s").as("a"), col("t").as("b"))
    val e2 = o.select(col("s").as("b2"), col("t").as("c"))
    val e3 = o.select(col("s").as("a3"), col("t").as("c3"))
    val wedges = e1.join(e2, col("b") === col("b2"))
    val thresh = o.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val closing =
      if (thresh > 0 && o.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(thresh) * 16)
        broadcast(e3)
      else e3
    wedges.join(closing, col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
  }

  /** All triangles (a, b, c), each exactly once, a/b/c in orientation
    * order (NOT necessarily numeric order).
    */
  def triangles(edges: DataFrame): DataFrame =
    trianglesFromOriented(orient(edges, degrees(edges)))

  /** Per-node triangle participation joined onto degrees:
    * (node, deg, t) with t = number of triangles containing the node
    * (0 when none). Input relation for clustering coefficients:
    * local(v) = 2·t / (deg·(deg−1)).
    */
  def nodeTriangles(edges: DataFrame): DataFrame = {
    val tv = triangles(edges)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("t"))
    degrees(edges).join(tv, Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("t"), lit(0L)).as("t"))
  }

  /** [[nodeTriangles]] with GATE-LIFETIME caching of the shared
    * relations: the edge set feeds degrees AND orientation, the
    * oriented arcs feed all three sides of the triangle join, and
    * the degree relation is read twice — without persists each reuse
    * re-runs the whole upstream plan (the co-occurrence self-join +
    * distinct, ~5×). The result is materialized BEFORE the inputs
    * unpersist (the PageRank discipline); the harness frees the
    * result cache after its action like every gate-lifetime cache.
    */
  private def nodeTrianglesCached(edges: DataFrame): DataFrame = {
    val e = edges.persist()
    val deg = degrees(e).persist()
    val o = orient(e, deg).persist()
    val tv = trianglesFromOriented(o)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("t"))
    val nd = deg.join(tv, Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("t"), lit(0L)).as("t"))
      .cache()
    nd.count() // force while e/deg/o are still cached
    o.unpersist()
    deg.unpersist()
    e.unpersist()
    nd
  }

  /** The k-core of an undirected graph: the maximal subgraph where
    * every node has degree ≥ k (Seidman 1983) — the cohesion
    * decomposition next to [[triangles]] (a dense community survives
    * peeling; hairball periphery does not). Iterative peeling: drop
    * all nodes of degree < k, recompute, repeat to fixpoint. Each
    * round is one degree aggregate + two anti-joins; the edge
    * relation persists per round and frees after the convergence
    * action (the connected-components loop discipline — rounds are
    * data-dependent but bounded by the peeling depth, which is tiny
    * for real graphs; `maxIter` is the runaway backstop).
    *
    * @return the k-core's canonical edge relation (u, v)
    */
  /** Peeling sets at or below this row count broadcast into the
    * per-round anti-joins, keeping the arc relation's hash(src)
    * partitioning intact (a broadcast join preserves the streamed
    * side's distribution) — so every round after the first is scan +
    * broadcast, zero arc exchanges. Past it (a degenerate first
    * round peeling most of a 100 TB graph) the round falls back to
    * shuffle anti-joins and restores the partitioning explicitly.
    */
  private val BroadcastPeelMax = 2000000L

  def kCore(edges: DataFrame, k: Int, maxIter: Int = 50,
            driverMaxEdges: Long = DriverBound.rows): DataFrame = {
    require(k >= 1, s"k out of range: $k")
    // Bounded driver fast path: peeling runs to a DATA-DEPENDENT
    // fixpoint, and each distributed round bills ~2 scheduled jobs —
    // on a graph whose edge list fits the driver budget, one collect
    // + an O(E) bucket peel replaces every round. Exact same fixpoint.
    DriverBound.driverOr(edges.select(col("u"), col("v")), driverMaxEdges)(
      kCoreDriver(edges, _, k))(kCoreDistributed(edges, k, maxIter))
  }

  /** [[kCore]]'s distributed peeling loop — the 100 TB path. */
  private def kCoreDistributed(edges: DataFrame, k: Int, maxIter: Int): DataFrame = {
    // Doubled-arc form, hash-partitioned on src ONCE: degree is then a
    // zero-exchange groupBy(src) over the persisted blocks, and the
    // broadcast anti-joins preserve the partitioning round to round —
    // the round-6 verdict's fix for the per-round full-edge re-exchange
    // (each round used to shuffle the whole edge set twice).
    var arcs = edges
      .select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
      .repartition(col("src"))
      .persist()
    arcs.count()
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      val bad = degrees2(arcs).filter(col("deg") < k).select(col("node")).persist()
      val nBad = bad.count()
      if (nBad == 0L) {
        bad.unpersist()
        done = true
      } else {
        val badSide = if (nBad <= BroadcastPeelMax) broadcast(bad) else bad
        var next = arcs
          .join(badSide.select(col("node").as("src")), Seq("src"), "left_anti")
          .join(badSide.select(col("node").as("dst")), Seq("dst"), "left_anti")
          .select(col("src"), col("dst"))
        if (nBad > BroadcastPeelMax) next = next.repartition(col("src"))
        val persisted = next.persist()
        persisted.count()
        bad.unpersist()
        arcs.unpersist()
        arcs = persisted
      }
      it += 1
    }
    val out = arcs.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
      .persist()
    out.count()
    arcs.unpersist()
    out
  }

  /** (node, deg) off an already-doubled arc relation: one groupBy on
    * the arc partitioning key — zero-exchange when the arcs are
    * hash-partitioned on src.
    */
  private def degrees2(arcs: DataFrame): DataFrame =
    arcs.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))

  /** Int-indexed CSR adjacency built from collected (u, v) edge rows
    * — primitive arrays (a boxed HashSet adjacency measured ~10×
    * slower at 1M edges — the collect is cheap, the peel must be
    * too). Shared by the single-k and multi-k driver peels.
    */
  private final class Csr(rows: Array[org.apache.spark.sql.Row]) {
    val nEdges: Int = rows.length
    val srcI = new Array[Int](rows.length)
    val dstI = new Array[Int](rows.length)
    private val idx = new java.util.HashMap[Any, Integer](rows.length * 2)
    /** Node index of `x`, or -1 if absent from the edge rows. */
    def indexOf(x: Any): Int = { val g = idx.get(x); if (g == null) -1 else g.intValue }
    /** Original node key at index `i`. */
    def keyOf(i: Int): Any = keyArr(i)
    private lazy val keyArr: Array[Any] = {
      val a = new Array[Any](nNodes)
      idx.forEach((k, v) => a(v.intValue) = k)
      a
    }
    var nNodes = 0
    private def id(x: Any): Int = {
      val got = idx.get(x)
      if (got != null) got.intValue
      else { idx.put(x, nNodes); nNodes += 1; nNodes - 1 }
    }
    locally {
      var i = 0
      while (i < rows.length) {
        srcI(i) = id(rows(i).get(0)); dstI(i) = id(rows(i).get(1)); i += 1
      }
    }
    val deg = new Array[Int](nNodes)
    locally {
      var i = 0
      while (i < rows.length) { deg(srcI(i)) += 1; deg(dstI(i)) += 1; i += 1 }
    }
    val start = new Array[Int](nNodes + 1)
    locally {
      var i = 0
      while (i < nNodes) { start(i + 1) = start(i) + deg(i); i += 1 }
    }
    val nbr = new Array[Int](2 * rows.length)
    locally {
      val fill = java.util.Arrays.copyOf(start, nNodes)
      var i = 0
      while (i < rows.length) {
        nbr(fill(srcI(i))) = dstI(i); fill(srcI(i)) += 1
        nbr(fill(dstI(i))) = srcI(i); fill(dstI(i)) += 1
        i += 1
      }
    }
    /** Fresh mutable peel state over this (immutable) topology — so a
      * session-cached Csr serves any number of independent peel
      * sequences with identical results. */
    def newPeel: CsrPeel = new CsrPeel(this)
  }

  /** Mutable cascade-peel state over a [[Csr]] topology. */
  private final class CsrPeel(t: Csr) {
    val alive = new Array[Boolean](t.nNodes)
    java.util.Arrays.fill(alive, true)
    val live: Array[Int] = t.deg.clone()

    /** Cascade-peel to threshold `k` (Matula & Beck 1983 shape, queue
      * instead of full bucket sort). Monotone: peeling to k then k+1
      * equals peeling to k+1 directly (the (k+1)-core is a subgraph
      * of the k-core), so ascending-k callers reuse the same state.
      */
    def peel(k: Int): Unit = {
      val queue = new java.util.ArrayDeque[Integer]()
      var i = 0
      while (i < t.nNodes) { if (alive(i) && live(i) < k) queue.add(i); i += 1 }
      while (!queue.isEmpty) {
        val n = queue.poll().intValue
        if (alive(n)) {
          alive(n) = false
          var j = t.start(n)
          val end = t.start(n) + t.deg(n)
          while (j < end) {
            val m = t.nbr(j)
            if (alive(m)) { live(m) -= 1; if (live(m) < k) queue.add(m) }
            j += 1
          }
        }
      }
    }

    def aliveNodes: Long = {
      var c = 0L; var i = 0
      while (i < t.nNodes) { if (alive(i)) c += 1; i += 1 }
      c
    }

    def aliveEdges: Long = {
      var c = 0L; var i = 0
      while (i < t.nEdges) { if (alive(t.srcI(i)) && alive(t.dstI(i))) c += 1; i += 1 }
      c
    }
  }

  /** Exact in-memory k-core: CSR + cascading removal queue — the
    * same fixpoint as the distributed peeling loop.
    */
  private def kCoreDriver(edges: DataFrame, rows: Array[org.apache.spark.sql.Row],
                          k: Int): DataFrame = {
    // (u, v) bound by name, matching the distributed path's projection.
    val proj = edges.select(col("u"), col("v"))
    val csr = new Csr(rows)
    val pl = csr.newPeel
    pl.peel(k)
    val alive = pl.alive
    val srcI = csr.srcI
    val dstI = csr.dstI
    var nDead = 0
    var i = 0
    while (i < csr.nNodes) { if (!alive(i)) nDead += 1; i += 1 }
    // nothing peeled → the k-core IS the input relation; hand the
    // caller's (typically persisted, distributed) DataFrame back
    // rather than a driver-materialized copy
    if (nDead == 0) return proj
    val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    i = 0
    while (i < rows.length) {
      if (alive(srcI(i)) && alive(dstI(i))) out += rows(i)
      i += 1
    }
    distributed(edges.sparkSession, out.toSeq, proj.schema)
  }

  /** (k, n_nodes, n_edges) of the k-core for each k in ascending
    * `ks` — the multi-k audit the q_kcore gate wants, WITHOUT paying
    * one full kCore per k: the (k+1)-core is a subgraph of the
    * k-core, so under the driver bound ONE collect + ONE CSR peels
    * incrementally through every k (each step O(E)); the r8 gate
    * paid two collects, two limit probes and two distributed
    * stats-aggregate rounds for the same two numbers. Past the bound
    * the distributed peel chains the same way (each k-core feeds the
    * next peel, never restarting from the full edge set).
    */
  def coreSizes(edges: DataFrame, ks: Seq[Int], maxIter: Int = 50,
                driverMaxEdges: Long = DriverBound.rows): Seq[(Int, Long, Long)] = {
    require(ks.nonEmpty && ks == ks.sorted && ks.head >= 1,
      s"ks must be ascending and >= 1: $ks")
    DriverBound.driverOr(edges.select(col("u"), col("v")), driverMaxEdges) { rows =>
      val pl = new Csr(rows).newPeel
      ks.map { k =>
        pl.peel(k)
        (k, pl.aliveNodes, pl.aliveEdges)
      }
    } {
      var cur = edges
      ks.map { k =>
        val core = kCoreDistributed(cur, k, maxIter)
        // truncate lineage before chaining: each peel's output would
        // otherwise feed the next peel's union/repartition/anti-join
        // stack and the accumulated logical plan grows superlinearly
        // across ks (measured: explainString OOM on a 3-k chain)
        val pruned = core.localCheckpoint(true)
        // kCore may return its input unchanged (nothing peeled) —
        // unpersisting it then would silently evict the CALLER's
        // persisted edges mid-loop (r9 ADVICE); guard like cur/edges
        if (!(core eq cur)) core.unpersist()
        if (!(cur eq edges)) cur.unpersist()
        val nNodes = degrees(pruned)
          .agg(count(lit(1)).cast("long").as("n_nodes")).collect()(0).getLong(0)
        val nEdges = pruned.count()
        cur = pruned
        (k, nNodes, nEdges)
      }
    }
  }

  /** Exact pico-unit damped PageRank over a directed (src, dst) arc
    * relation: nodes are the DISTINCT SOURCES, outdeg their arc
    * counts, and each of `iters` rounds computes
    *
    *   r' = ((100−dampNum)·unit) div (100·n)
    *        + (dampNum · Σ_{src→node} (r_src div outdeg_src)) div 100
    *
    * with every division an exact positive-integer floor — so the
    * result is bit-identical on any engine or layout (the verbatim
    * arithmetic of the q_pagerank / q_textrank oracles).
    * Contributions to a dst that is not itself a source are dropped
    * (the nodes-LEFT-JOIN-contrib semantics). Under the driver edge
    * bound the whole fixed-iteration loop runs in primitive arrays
    * off ONE fused collect; past it, the classic 2-shuffle round with
    * the src-partitioned persisted edge relation.
    *
    * @return (node, r) relation, node typed as the src column
    */
  def pageRankPico(e0: DataFrame, iters: Int, unit: Long, dampNum: Long,
                   driverMaxEdges: Long = DriverBound.rows): DataFrame = {
    require(iters >= 1 && dampNum >= 0 && dampNum <= 100 && unit > 0)
    DriverBound.driverOr(e0.select(col("src"), col("dst")), driverMaxEdges)(
      pageRankDriver(e0, _, iters, unit, dampNum))(
      pageRankDistributed(e0, iters, unit, dampNum))
  }

  /** [[pageRankPico]]'s fixed-iteration loop in primitive arrays. */
  private def pageRankDriver(e0: DataFrame, rows: Array[org.apache.spark.sql.Row],
                             iters: Int, unit: Long, dampNum: Long): DataFrame = {
    val idx = new java.util.HashMap[Any, Integer](rows.length * 2)
    val keys = new scala.collection.mutable.ArrayBuffer[Any]()
    rows.foreach { r =>
      if (!idx.containsKey(r.get(0))) { idx.put(r.get(0), keys.length); keys += r.get(0) }
    }
    val n = keys.length
    // an empty arc relation has no rank mass to distribute —
    // return the empty (node, r) relation instead of dividing by
    // zero nodes
    if (n == 0) return rankRel(e0, Seq.empty)
    val srcI = new Array[Int](rows.length)
    val dstI = new Array[Int](rows.length)
    val outdeg = new Array[Long](n)
    var i = 0
    while (i < rows.length) {
      val s = idx.get(rows(i).get(0)).intValue
      val dObj = idx.get(rows(i).get(1))
      srcI(i) = s
      dstI(i) = if (dObj == null) -1 else dObj.intValue
      outdeg(s) += 1
      i += 1
    }
    val teleport = ((100L - dampNum) * unit) / (100L * n)
    var r = Array.fill(n)(unit / n)
    var it = 0
    while (it < iters) {
      val in = new Array[Long](n)
      i = 0
      while (i < rows.length) {
        if (dstI(i) >= 0) in(dstI(i)) += r(srcI(i)) / outdeg(srcI(i))
        i += 1
      }
      val next = new Array[Long](n)
      i = 0
      while (i < n) { next(i) = teleport + (dampNum * in(i)) / 100L; i += 1 }
      r = next
      it += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](n)
    i = 0
    while (i < n) { out += org.apache.spark.sql.Row(keys(i), r(i)); i += 1 }
    rankRel(e0, out.toSeq)
  }

  /** [[pageRankPico]]'s distributed 2-shuffle round loop. */
  private def pageRankDistributed(e0: DataFrame, iters: Int, unit: Long,
                                  dampNum: Long): DataFrame = {
    val deg = e0.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg"))
    // pin hash(src) into the cached blocks: each rank⋈edges join
    // then exchanges only the node-sized rank side, never the
    // edge relation (Layout.writeBucketed on src at cluster scale)
    val edges = e0.join(deg.withColumnRenamed("node", "src"), "src")
      .repartition(col("src"))
      .persist()
    val nodes = deg.select(col("node")).persist()
    val n = nodes.agg(count(lit(1)).as("n")).head().getLong(0)
    if (n == 0) { // empty graph: no nodes, no rank
      edges.unpersist(); nodes.unpersist()
      return rankRel(e0, Seq.empty)
    }
    val teleport = ((100L - dampNum) * unit) / (100L * n)
    var r = nodes.select(col("node"), lit(unit / n).as("r"))
    for (_ <- 1 to iters) {
      val contrib = edges.join(r, edges("src") === r("node"))
        .select(col("dst").as("node"),
          Binning.floorDivCol(col("r"), col("outdeg")).as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).cast("long").as("in_sum"))
      r = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) +
            Binning.floorDivCol(lit(dampNum) * coalesce(col("in_sum"), lit(0L)),
              lit(100L))).as("r"))
    }
    // materialize before dropping the edge blocks (a later action
    // would otherwise re-run every iteration); freed by the
    // harness-owned persisted-block lifecycle
    val out = r.persist()
    out.count()
    edges.unpersist()
    nodes.unpersist()
    out
  }

  /** (node, r) relation over driver rows, node typed as `e0`'s src. */
  private def rankRel(e0: DataFrame, rows: Seq[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.types._
    distributed(e0.sparkSession, rows, StructType(Seq(
      StructField("node", e0.select(col("src")).schema.head.dataType),
      StructField("r", LongType))))
  }

  /** Rebuild a DataFrame from driver rows as an RDD-backed relation —
    * a big LocalRelation is poison (every downstream job re-plans and
    * re-serializes the rows on the driver; measured 8 s for one
    * aggregate over 1.2M local rows).
    */
  private def distributed(spark: org.apache.spark.sql.SparkSession,
                          rows: Seq[org.apache.spark.sql.Row],
                          schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      rows.length / 10000 + 1))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)
  }

  /** Bounded-hop BFS from a seed set: minimum hop distance (≤
    * `maxHops`) from any seed to every reachable node — the
    * "blast-radius" / neighborhood query (who is within 3 trades of
    * these suppliers?). One frontier⋈edges join + distinct per round
    * — the unrolled iterative-join shape PageRank (#184) uses, with
    * the visited set subtracted so frontiers only carry NEW nodes
    * (each node's distance is final when first reached — BFS
    * invariant). Frontiers persist per round, freed after the next
    * round materializes.
    *
    * @param edges directed (src, dst) arc relation (double an
    *              undirected edge set first)
    * @param seeds (node) relation, distance 0
    * @return (node, dist) for every node within maxHops
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int,
              driverMaxEdges: Long = DriverBound.rows): DataFrame = {
    require(maxHops >= 0 && maxHops <= 10, s"maxHops out of range: $maxHops")
    // Bounded driver fast path (see kCore): each distributed hop is a
    // join + distinct + anti-join round; under the driver budget one
    // collect + in-memory BFS computes the identical distance map.
    DriverBound.driverOr(edges.select(col("src"), col("dst")), driverMaxEdges)(
      bfsDriver(edges, _, seeds, maxHops))(bfsDistributed(edges, seeds, maxHops))
  }

  /** [[bfsHops]]'s distributed frontier loop over directed arcs. */
  private def bfsDistributed(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    // Hash-partition the arc relation on its join key ONCE: the cached
    // blocks then carry HashPartitioning(src), so every round's
    // frontier⋈edges join exchanges only the (node-sized) frontier,
    // never the (edge-sized) arc relation — the round-6 verdict's fix
    // (the caller's plain persist caches blocks but not a useful
    // partitioning, so each round re-shuffled the full edge set).
    val arcs = edges.repartition(col("src")).persist()
    var visited = seeds.select(col("node")).distinct()
      .select(col("node"), lit(0).as("dist")).persist()
    var frontier = visited
    var hop = 1
    while (hop <= maxHops) {
      val next = frontier.select(col("node").as("src"))
        .join(arcs, "src")
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), lit(hop).as("dist"))
      val merged = visited.unionByName(next).persist()
      merged.count() // materialize before dropping the previous round
      visited.unpersist()
      visited = merged
      // read the new frontier back out of the PERSISTED union — `next`
      // itself holds lineage over the just-unpersisted previous round
      frontier = merged.filter(col("dist") === hop)
      hop += 1
    }
    arcs.unpersist() // visited is materialized; the arc copy is internal
    visited
  }

  /** Bounded-hop BFS over an UNDIRECTED (u, v) edge relation — the
    * caller-side `unionAll` doubling that [[bfsHops]] requires costs
    * a second scan of the pair stage and doubles the driver-path
    * collect; this variant collects the half-sized pair relation once
    * and doubles inside the CSR (past the driver bound it falls back
    * to the doubled distributed loop unchanged).
    */
  def bfsHopsUndirected(edges: DataFrame, seeds: DataFrame, maxHops: Int,
                        driverMaxEdges: Long = DriverBound.rows): DataFrame = {
    require(maxHops >= 0 && maxHops <= 10, s"maxHops out of range: $maxHops")
    DriverBound.driverOr(edges.select(col("u"), col("v")), driverMaxEdges)(
      bfsUndirectedDriver(edges, _, seeds, maxHops)) {
      val doubled = edges
        .select(col("u").as("src"), col("v").as("dst"))
        .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
      bfsDistributed(doubled, seeds, maxHops)
    }
  }

  /** [[bfsHopsUndirected]]'s in-memory BFS over the pair CSR. */
  private def bfsUndirectedDriver(edges: DataFrame, rows: Array[org.apache.spark.sql.Row],
                                  seeds: DataFrame, maxHops: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val csr = new Csr(rows) // undirected adjacency by construction
    val dist = new Array[Int](csr.nNodes)
    java.util.Arrays.fill(dist, -1)
    // seeds absent from the edge relation still carry distance 0
    val stray = new scala.collection.mutable.ArrayBuffer[Any]()
    var frontier = new Array[Int](csr.nNodes)
    var fLen = 0
    seeds.select(col("node")).distinct().collect().foreach { r =>
      val i = csr.indexOf(r.get(0))
      if (i < 0) stray += r.get(0)
      else if (dist(i) < 0) { dist(i) = 0; frontier(fLen) = i; fLen += 1 }
    }
    var hop = 1
    while (hop <= maxHops && fLen > 0) {
      val next = new Array[Int](csr.nNodes)
      var nLen = 0
      var f = 0
      while (f < fLen) {
        val u = frontier(f)
        var j = csr.start(u)
        val end = csr.start(u + 1)
        while (j < end) {
          val m = csr.nbr(j)
          if (dist(m) < 0) { dist(m) = hop; next(nLen) = m; nLen += 1 }
          j += 1
        }
        f += 1
      }
      frontier = next
      fLen = nLen
      hop += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    var i = 0
    while (i < csr.nNodes) {
      if (dist(i) >= 0) out += org.apache.spark.sql.Row(csr.keyOf(i), dist(i))
      i += 1
    }
    stray.foreach(k => out += org.apache.spark.sql.Row(k, 0))
    val nodeType = edges.select(col("u")).schema.head.dataType
    distributed(edges.sparkSession, out.toSeq,
      StructType(Seq(StructField("node", nodeType), StructField("dist", IntegerType))))
  }

  /** Exact in-memory bounded-hop BFS — the same (node, dist) map as
    * the distributed frontier loop. Directed arcs, seeds at 0.
    */
  private def bfsDriver(edges: DataFrame, rows: Array[org.apache.spark.sql.Row],
                        seeds: DataFrame, maxHops: Int): DataFrame = {
    import org.apache.spark.sql.types._
    // rows are the (src, dst) projection bound BY NAME (r8 advisory):
    // the distributed path resolves columns by name, so a caller
    // relation with extra or reordered columns builds the same
    // adjacency here.
    // Int-indexed CSR over directed arcs + primitive int queue — the
    // boxed HashMap<Any, ArrayList> adjacency this replaces spent the
    // gate's time on per-edge allocation/GC at 1M arcs.
    val proj = edges.select(col("src"), col("dst"))
    val idx = new java.util.HashMap[Any, Integer](rows.length * 2)
    val keys = new scala.collection.mutable.ArrayBuffer[Any]()
    def id(x: Any): Int = {
      val got = idx.get(x)
      if (got != null) got.intValue
      else { idx.put(x, keys.length); keys += x; keys.length - 1 }
    }
    val srcI = new Array[Int](rows.length)
    val dstI = new Array[Int](rows.length)
    var i = 0
    while (i < rows.length) {
      srcI(i) = id(rows(i).get(0)); dstI(i) = id(rows(i).get(1)); i += 1
    }
    // seeds may name nodes absent from the arc relation — they still
    // carry distance 0, so they enter the index too
    val seedIds = seeds.select(col("node")).distinct().collect().map(r => id(r.get(0)))
    val n = keys.length
    val outDeg = new Array[Int](n)
    i = 0
    while (i < rows.length) { outDeg(srcI(i)) += 1; i += 1 }
    val start = new Array[Int](n + 1)
    i = 0
    while (i < n) { start(i + 1) = start(i) + outDeg(i); i += 1 }
    val nbr = new Array[Int](rows.length)
    val fill = java.util.Arrays.copyOf(start, n)
    i = 0
    while (i < rows.length) { nbr(fill(srcI(i))) = dstI(i); fill(srcI(i)) += 1; i += 1 }
    val dist = new Array[Int](n)
    java.util.Arrays.fill(dist, -1)
    var frontier = new Array[Int](seedIds.length)
    var fLen = 0
    seedIds.foreach { s => if (dist(s) < 0) { dist(s) = 0; frontier(fLen) = s; fLen += 1 } }
    var hop = 1
    while (hop <= maxHops && fLen > 0) {
      val next = new Array[Int](n)
      var nLen = 0
      var f = 0
      while (f < fLen) {
        val u = frontier(f)
        var j = start(u)
        val end = start(u + 1)
        while (j < end) {
          val m = nbr(j)
          if (dist(m) < 0) { dist(m) = hop; next(nLen) = m; nLen += 1 }
          j += 1
        }
        f += 1
      }
      frontier = next
      fLen = nLen
      hop += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    i = 0
    while (i < n) {
      if (dist(i) >= 0) out += org.apache.spark.sql.Row(keys(i), dist(i))
      i += 1
    }
    val nodeType = proj.schema.head.dataType
    distributed(edges.sparkSession, out.toSeq,
      StructType(Seq(StructField("node", nodeType), StructField("dist", IntegerType))))
  }

  /** One-row exact-integer graph summary:
    * (n_nodes, n_edges, n_triangles, wedges, global_ppm,
    * avg_local_ppm) where global = 3·triangles / wedges (transitivity)
    * and avg_local averages the per-node ppm coefficient over nodes
    * of degree ≥ 2 — both as floor-division ppm integers, so the
    * result is bit-identical in any engine.
    */
  def clusteringStats(edges: DataFrame): DataFrame = {
    val nd = nodeTrianglesCached(edges)
    val lc = when(col("deg") >= 2,
      Binning.floorDivCol(col("t") * lit(2000000L), col("deg") * (col("deg") - 1)))
      .otherwise(lit(0L))
    val agg = nd.agg(
      count(lit(1)).as("n_nodes"),
      Binning.floorDivCol(sum(col("deg")).cast("long"), lit(2L)).as("n_edges"),
      Binning.floorDivCol(sum(col("t")).cast("long"), lit(3L)).as("n_triangles"),
      sum(Binning.floorDiv(col("deg") * (col("deg") - 1), 2L)).cast("long").as("wedges"),
      sum(lc).cast("long").as("lc_sum"),
      sum(when(col("deg") >= 2, lit(1L)).otherwise(lit(0L))).cast("long").as("n_deg2"))
    agg.select(
      col("n_nodes"), col("n_edges"), col("n_triangles"), col("wedges"),
      when(col("wedges") > 0,
        Binning.floorDivCol(col("n_triangles") * lit(3000000L), col("wedges")))
        .otherwise(lit(null).cast("long")).as("global_ppm"),
      when(col("n_deg2") > 0, Binning.floorDivCol(col("lc_sum"), col("n_deg2")))
        .otherwise(lit(null).cast("long")).as("avg_local_ppm"))
  }

  /** K-truss of an undirected (u, v) edge relation (Cohen 2008): the
    * EDGE-cohesion analog of the k-core — repeatedly remove every
    * edge supported by fewer than k−2 triangles until stable. Where
    * the k-core keeps nodes with enough neighbors, the k-truss keeps
    * edges embedded in enough triangles, so it isolates genuinely
    * clique-like co-occurrence structure that degree alone can't
    * certify (a star survives any k-core threshold its hub degree
    * clears but has NO triangles).
    *
    * `rounds` caps the parallel peel: every round removes ALL
    * under-supported edges at once, and post-fixpoint rounds are
    * no-ops, so any two implementations capped at the same round
    * count agree exactly — the q_ktruss gate pins rounds = 10 on
    * both engines (fixpoint reached well inside that at every tested
    * scale; fixtures pin fixpoints in GraphSpec). Early exit when a
    * round removes nothing is equivalence-preserving.
    *
    * Scale shape (the [[kCore]] discipline): a bounded driver fast
    * path (one fused probe+collect, adjacency-hash support counting)
    * replaces the per-round distributed jobs under the 2M-edge
    * bound; past it, each round is one canonical-triangle 3-way
    * self-join (u<v<w — every triangle enumerated once) + one
    * per-edge support aggregate + one filter, persisted per round
    * with the previous round freed.
    *
    * Input contract: support is counted per canonical (u < v) edge
    * identity, so reversed rows, duplicates, or self-loops would
    * silently undercount. BOTH branches therefore canonicalize up
    * front ([[canonicalEdges]], idempotent on canonical input), so
    * the same logical input produces the same truss whether it lands
    * under or over the driver bound — the bound itself is measured
    * on the CANONICAL edge count, the quantity that actually sizes
    * the peel. The driver path additionally asserts the invariant on
    * the collected array (O(E log E), defense-in-depth).
    *
    * Persist ownership: in the distributed branch the RETURNED
    * DataFrame is the final round's eager localCheckpoint (its blocks
    * are freed by the ContextCleaner when the DataFrame is collected,
    * or immediately by a caller `unpersist(true)` after
    * materializing, as [[trussSizes]] does); the driver branch
    * returns an unpersisted local relation.
    */
  def trussEdges(edges: DataFrame, k: Int, rounds: Int = 10,
                 driverMaxEdges: Long = DriverBound.rows): DataFrame = {
    require(k >= 2, s"k out of range: $k")
    require(rounds >= 1, s"rounds out of range: $rounds")
    // checkpoint the canonical relation BEFORE the bound probe: the
    // probe's limit-collect and (past the bound) round 0 both read it,
    // and without materialization each would re-run the corpus-scale
    // self-join + distinct from scratch
    val canon = canonicalEdges(edges.select(col("u"), col("v"))).localCheckpoint()
    DriverBound.driverOr(canon, driverMaxEdges)(trussDriver(canon, _, k, rounds))(
      trussDistributed(canon, k, rounds))
  }

  /** [[trussEdges]]' distributed support-peel loop over the
    * checkpointed canonical relation. */
  private def trussDistributed(canon: DataFrame, k: Int, rounds: Int): DataFrame = {
    // Every round's edge relation is an EAGER localCheckpoint, not a
    // persist: the round plan references `cur` several times (degrees,
    // orientation, the support join), so without lineage truncation
    // the logical tree fans out EXPONENTIALLY with rounds — at the
    // ×10 scale point the 10th round's persist() OOMed the driver
    // just STRINGIFYING the plan (CachedRDDBuilder.cachedName →
    // treeString). Checkpoint blocks stay held for the loop's
    // lifetime (unpersisting a checkpointed relation would break any
    // recompute — the connected-components lesson, Dedup.scala:487);
    // held state is bounded by rounds × the shrinking edge relation.
    var cur = canon // already an eager localCheckpoint (bound probe)
    var nCur = cur.count()
    var it = 0
    var done = false
    while (!done && it < rounds) {
      // degree-ordered enumeration (the q_triangles machinery): each
      // triangle once, wedge fan-out bounded by Σ outdeg² under the
      // low-degree-first orientation — the naive u<v wedge join OOMed
      // at the ×10 scale point where this shape completes
      val deg = degrees(cur).persist()
      val o = orient(cur, deg).persist()
      o.count()
      val tri = trianglesFromOriented(o)
      // (a, b, c) are in ORIENTATION order — canonicalize each side
      // back to the (u < v) edge identity before counting support
      def canon(x: Column, y: Column) =
        struct(least(x, y).as("u"), greatest(x, y).as("v"))
      val sup = tri.select(explode(array(
          canon(col("a"), col("b")), canon(col("a"), col("c")),
          canon(col("b"), col("c")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))
      val next = cur.join(sup, Seq("u", "v"), "left")
        .filter(coalesce(col("sup"), lit(0L)) >= (k - 2).toLong)
        .select(col("u"), col("v"))
        .localCheckpoint() // eager — materializes and truncates lineage
      val nNext = next.count()
      o.unpersist()
      deg.unpersist()
      cur = next
      done = nNext == nCur
      nCur = nNext
      it += 1
    }
    cur
  }

  /** (k, n_nodes, n_edges) of the `rounds`-capped k-truss for each k
    * in `ks` — the q_ktruss gate's shape. Under the driver bound the
    * edge list collects ONCE and every k peels from scratch on one
    * [[PeelGraph]]'s primitive arrays with the sizes read directly off the
    * alive flags (no per-k DataFrame rebuild/count jobs — the
    * rebuild of a 1.1M-row relation per k dominated the first gate
    * measurement); past the bound each k runs the distributed
    * [[trussEdges]] loop. Per-k peels stay independent (not
    * incremental) so the round-capped states match the oracle's
    * from-scratch unrolls exactly even before the fixpoint.
    */
  def trussSizes(edges: DataFrame, ks: Seq[Int], rounds: Int = 10,
                 driverMaxEdges: Long = DriverBound.rows): Seq[(Int, Long, Long)] = {
    require(ks.nonEmpty, "ks must be nonempty")
    // canonicalize up front, matching [[trussEdges]]: the same
    // logical input yields the same sizes on either side of the bound
    DriverBound.driverOr(canonicalEdges(edges.select(col("u"), col("v"))),
        driverMaxEdges)(new PeelGraph(_).trussSizes(ks, rounds)) {
      ks.map { k =>
        val t = trussEdges(edges, k, rounds, driverMaxEdges).persist()
        val nEdges = t.count()
        val nNodes = degrees(t)
          .agg(count(lit(1)).cast("long")).collect()(0).getLong(0)
        t.unpersist()
        (k, nNodes, nEdges)
      }
    }
  }

  /** Enforce [[canonicalEdges]]' contract (u < v, no duplicates) on
    * a driver-collected edge array: [[TrussGraph]] counts triangle
    * support per (u, v) identity and would silently undercount under
    * reversed, duplicated, or self-loop rows. O(E log E) driver-side
    * sort of packed dense-id keys — no shuffle, noise against the
    * peel itself.
    */
  private def requireCanonicalCollected(rows: Array[org.apache.spark.sql.Row],
                                        eu: Array[Int], ev: Array[Int]): Unit = {
    val nE = rows.length
    val keys = new Array[Long](nE)
    var i = 0
    while (i < nE) {
      require(rows(i).getLong(0) < rows(i).getLong(1),
        s"truss: non-canonical edge (${rows(i).getLong(0)}, ${rows(i).getLong(1)}) — " +
          "pass Graphs.canonicalEdges output (u < v, distinct, no self-loops)")
      keys(i) = (eu(i).toLong << 32) | (ev(i).toLong & 0xffffffffL)
      i += 1
    }
    java.util.Arrays.sort(keys)
    i = 1
    while (i < nE) {
      require(keys(i) != keys(i - 1),
        "truss: duplicate edge — pass Graphs.canonicalEdges output (u < v, distinct)")
      i += 1
    }
  }

  /** The parallel peel core shared by [[trussSizes]] and
    * [[trussDriver]], as a reusable graph so the ONE expensive step —
    * the full per-edge triangle-support pass — is shared by every k.
    *
    * r11 shape: the r10 peel rebuilt the CSR and re-checked EVERY
    * edge every round (~8.7 s of the 1.2M-edge gate across two ks),
    * but an edge's support can only DROP when a triangle edge — an
    * edge sharing one of its endpoints — is removed, and only ~1–7%
    * of edges ever peel on this graph family. So: build the CSR
    * once (shared by every k), early-exit-check all edges in round
    * 0, and from round 1 on re-check ONLY the alive edges incident
    * to the previous round's removals. Removals are collected per
    * round and applied AFTER the round's checks (the same
    * remove-all-per-round parallel semantics as the full recompute
    * and the distributed loop — identical removals every round, so
    * the oracle's capped unrolls agree even before the fixpoint;
    * a full-recompute equivalence pin lives in AuditEdgeSpec).
    * Full-support maintenance (count once, decrement on removal)
    * was measured SLOWER here: counting full support forgoes the
    * early exit that lets the 93%+ of never-removed edges confirm
    * survival after k−2 matches.
    */
  /** Session-cacheable driver peel state over a collected CANONICAL
    * (u < v, distinct) edge array — ONE collect + ONE dense-id/CSR
    * build (+ one lazily-built capped truss-support pass) serves
    * every per-k peel of both the k-core and k-truss gates. All
    * shared state is immutable after build; each call peels on fresh
    * per-call flag arrays, so repeated calls return identical
    * results (the per-gate collect + rebuild was ~1 s each of the
    * two gates' wall at the bench point). Obtain via
    * [[Graphs.peelGraphUnder]], cache via
    * [[graft.SharedRelations.cachedValue]].
    */
  final class PeelGraph private[Graphs] (rows: Array[org.apache.spark.sql.Row]) {
    // both index structures build EAGERLY from the constructor-local
    // row array so the collected Rows are not retained for the JVM
    // lifetime (r13 advice: the lazy fields kept ~1.2M boxed Rows
    // alive next to the primitive arrays)
    private val coreCsr = new Csr(rows)
    // dense ids shared by the truss side (built once, checked once)
    private val trussBase: (Array[Int], Array[Int], Int) = {
      val nE = rows.length
      val idx = new java.util.HashMap[Long, Integer](nE * 2)
      var nN = 0
      def id(x: Long): Int = {
        val got = idx.get(x)
        if (got != null) got.intValue
        else { idx.put(x, nN); nN += 1; nN - 1 }
      }
      val eu = new Array[Int](nE)
      val ev = new Array[Int](nE)
      var i = 0
      while (i < nE) {
        eu(i) = id(rows(i).getLong(0)); ev(i) = id(rows(i).getLong(1)); i += 1
      }
      requireCanonicalCollected(rows, eu, ev)
      (eu, ev, nN)
    }
    /** (cap, graph, cappedSupport(cap)) — rebuilt only if a later
      * call needs a higher cap (the gate always asks cap = 2). */
    @volatile private var trussState: (Int, TrussGraph, Array[Int]) = null

    /** (k, n_nodes, n_edges) per ascending k — [[Graphs.coreSizes]]'
      * driver branch over the cached topology. */
    def coreSizes(ks: Seq[Int]): Seq[(Int, Long, Long)] = {
      require(ks.nonEmpty && ks == ks.sorted && ks.head >= 1,
        s"ks must be ascending and >= 1: $ks")
      val pl = coreCsr.newPeel
      ks.map { k =>
        pl.peel(k)
        (k, pl.aliveNodes, pl.aliveEdges)
      }
    }

    /** (k, n_nodes, n_edges) per k — [[Graphs.trussSizes]]' driver
      * branch over the cached graph + shared support pass. */
    def trussSizes(ks: Seq[Int], rounds: Int): Seq[(Int, Long, Long)] = {
      require(ks.nonEmpty, "ks must be nonempty")
      val (eu, ev, nN) = trussBase
      val cap = ks.map(_ - 2).max
      var st = trussState
      if (st == null || st._1 < cap) {
        val g = if (st == null) new TrussGraph(eu, ev, nN) else st._2
        st = (cap, g, g.cappedSupport(cap))
        trussState = st
      }
      val (_, g, sup0) = st
      val nE = eu.length
      ks.map { k =>
        val alive = g.peel(k, rounds, sup0)
        var e = 0L
        val seen = new Array[Boolean](nN)
        var n = 0L
        var i = 0
        while (i < nE) {
          if (alive(i)) {
            e += 1
            if (!seen(eu(i))) { seen(eu(i)) = true; n += 1 }
            if (!seen(ev(i))) { seen(ev(i)) = true; n += 1 }
          }
          i += 1
        }
        (k, n, e)
      }
    }

    /** Exact Adamic–Adar top-k off the cached CSR — the driver twin
      * of the q_adamic_adar distributed plan: wedges fan out per
      * center with deg ∈ [minDeg, maxDeg] (the gate/oracle hub cap),
      * pair weights 1e12 // floor(ln(deg_center)·1e6) (the same
      * positive-integer floor over the same degree values), adjacent
      * pairs removed, top-k by (aa_micro desc, u, v). Identical
      * integers ⇒ identical rows at any layout.
      */
    def adamicAdarTop(minDeg: Int, maxDeg: Int, k: Int): Seq[(Long, Long, Long, Long)] = {
      require(minDeg >= 2, s"minDeg must be >= 2 (ln(1) = 0): $minDeg")
      val csr = coreCsr
      val n = csr.nNodes
      val keyVal = new Array[Long](n)
      var i = 0
      while (i < n) { keyVal(i) = csr.keyOf(i).asInstanceOf[Long]; i += 1 }
      // packed (dense u)·n + (dense v), pair ordered by ORIGINAL key
      // value (the SQL's a.n < b.n); canonical edges already carry
      // value order, so the anti-join below packs the same way
      val acc = new java.util.HashMap[java.lang.Long, Array[Long]]()
      var c = 0
      while (c < n) {
        val d = csr.deg(c)
        if (d >= minDeg && d <= maxDeg) {
          val w = 1000000000000L / math.floor(math.log(d.toDouble) * 1000000).toLong
          val s0 = csr.start(c)
          val e0 = s0 + d
          var a = s0
          while (a < e0) {
            var b = a + 1
            while (b < e0) {
              val x = csr.nbr(a)
              val y = csr.nbr(b)
              val u = if (keyVal(x) < keyVal(y)) x else y
              val v = if (keyVal(x) < keyVal(y)) y else x
              val key = java.lang.Long.valueOf(u.toLong * n + v)
              val got = acc.get(key)
              if (got != null) { got(0) += 1; got(1) += w }
              else acc.put(key, Array(1L, w))
              b += 1
            }
            a += 1
          }
        }
        c += 1
      }
      var e = 0
      while (e < csr.nEdges) {
        acc.remove(java.lang.Long.valueOf(csr.srcI(e).toLong * n + csr.dstI(e)))
        e += 1
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)](acc.size)
      acc.forEach { (key, cw) =>
        val u = keyVal((key.longValue / n).toInt)
        val v = keyVal((key.longValue % n).toInt)
        out += ((u, v, cw(0), cw(1)))
      }
      out.sortBy { case (u, v, _, aa) => (-aa, u, v) }.take(k).toSeq
    }

    /** (n_nodes, n_edges_directed, assortativity) — the exact driver
      * twin of the q_assortativity moment plan: m = Σdeg, sx = Σdeg²,
      * sxx = Σdeg³, sxy = Σ_{doubled arcs} deg(u)·deg(v), all exact
      * (BigInt where the plan uses decimal(38,0)); the final r is the
      * plan's cast-to-double / sqrt / round(4) tail verbatim.
      */
    def assortativityStats(): (Long, Long, Option[Double]) = {
      val csr = coreCsr
      val n = csr.nNodes
      var m = 0L
      var sx = BigInt(0)
      var sxx = BigInt(0)
      var sxy = BigInt(0)
      var i = 0
      while (i < n) {
        val d = csr.deg(i).toLong
        m += d
        sx += BigInt(d * d) // d ≤ 4e6 under the bound → d² fits long
        sxx += BigInt(d) * d * d
        var sv = 0L // Σ_{u∈N(i)} deg(u) ≤ deg(i)·maxdeg — fits long
        var j = csr.start(i)
        val end = csr.start(i) + csr.deg(i)
        while (j < end) { sv += csr.deg(csr.nbr(j)); j += 1 }
        sxy += BigInt(sv) * d
        i += 1
      }
      val md = BigInt(m)
      val vx = md * sxx - sx * sx
      val r =
        if (vx > 0) {
          val num = md * sxy - sx * sx
          val numD = new java.math.BigDecimal(num.bigInteger).doubleValue()
          val vxD = new java.math.BigDecimal(vx.bigInteger).doubleValue()
          Some(java.math.BigDecimal.valueOf(numD / math.sqrt(vxD * vxD))
            .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0)
        } else None
      (n.toLong, m, r)
    }

    /** (k, nodes with deg > k, edges with both endpoint degs > k) per
      * threshold — q_rich_club's counting pass off the cached CSR.
      */
    def richClub(ks: Seq[Int]): Seq[(Int, Long, Long)] = {
      val csr = coreCsr
      ks.map { k =>
        var nn = 0L
        var i = 0
        while (i < csr.nNodes) { if (csr.deg(i) > k) nn += 1; i += 1 }
        var ne = 0L
        var e = 0
        while (e < csr.nEdges) {
          if (csr.deg(csr.srcI(e)) > k && csr.deg(csr.dstI(e)) > k) ne += 1
          e += 1
        }
        (k, nn, ne)
      }
    }
  }

  /** Session-cacheable driver state over the collected DISTINCT
    * bipartite trade pairs (ck, sk): one collect + CSR over the
    * encoded doubled arc relation (customers 2k, suppliers 2k+1 —
    * the q_pagerank / q_bfs_hops node convention) serves both gates'
    * driver fast paths, which previously each re-collected and
    * re-indexed the ~2·pairs arc relation per call. All state is
    * immutable after build; every call computes on fresh arrays.
    * Obtain via [[Graphs.tradeGraphUnder]], cache via
    * [[graft.SharedRelations.cachedValue]].
    */
  final class TradeGraph private[Graphs] (rows0: Array[org.apache.spark.sql.Row]) {
    private val nArcs = rows0.length * 2
    private val idx = new java.util.HashMap[Long, Integer](rows0.length * 4)
    private val srcI = new Array[Int](nArcs)
    private val dstI = new Array[Int](nArcs)
    // the boxed key buffer lives only while the index builds; the
    // session-cached object keeps the primitive `keys` array
    private val keys: Array[Long] = {
      val keysBuf = new scala.collection.mutable.ArrayBuilder.ofLong
      var n = 0
      def id(x: Long): Int = {
        val got = idx.get(x)
        if (got != null) got.intValue
        else { idx.put(x, n); keysBuf += x; n += 1; n - 1 }
      }
      var i = 0
      while (i < rows0.length) {
        val c = id(rows0(i).getLong(0) * 2)
        val s = id(rows0(i).getLong(1) * 2 + 1)
        srcI(2 * i) = c; dstI(2 * i) = s
        srcI(2 * i + 1) = s; dstI(2 * i + 1) = c
        i += 1
      }
      keysBuf.result()
    }
    val nNodes: Int = keys.length
    private val deg = new Array[Int](nNodes)
    locally { var i = 0; while (i < nArcs) { deg(srcI(i)) += 1; i += 1 } }
    private val start = new Array[Int](nNodes + 1)
    locally { var i = 0; while (i < nNodes) { start(i + 1) = start(i) + deg(i); i += 1 } }
    private val nbr = new Array[Int](nArcs)
    locally {
      val fill = java.util.Arrays.copyOf(start, nNodes)
      var i = 0
      while (i < nArcs) { nbr(fill(srcI(i))) = dstI(i); fill(srcI(i)) += 1; i += 1 }
    }

    /** (encoded node, pico rank) after `iters` exact damped rounds —
      * [[Graphs.pageRankPico]]'s driver arithmetic verbatim (same
      * positive-integer floors; outdeg = degree because the doubled
      * relation makes every node a source, so no contribution is
      * dropped — exactly the distributed semantics on this graph).
      */
    def pageRank(iters: Int, unit: Long, dampNum: Long): Seq[(Long, Long)] = {
      require(iters >= 1 && dampNum >= 0 && dampNum <= 100 && unit > 0)
      val n = nNodes
      if (n == 0) return Seq.empty
      val teleport = ((100L - dampNum) * unit) / (100L * n)
      var r = Array.fill(n)(unit / n)
      var it = 0
      while (it < iters) {
        val in = new Array[Long](n)
        var u = 0
        while (u < n) {
          val c = r(u) / deg(u)
          var j = start(u)
          val end = start(u + 1)
          while (j < end) { in(nbr(j)) += c; j += 1 }
          u += 1
        }
        val next = new Array[Long](n)
        var i = 0
        while (i < n) { next(i) = teleport + (dampNum * in(i)) / 100L; i += 1 }
        r = next
        it += 1
      }
      (0 until n).map(i => (keys(i), r(i)))
    }

    /** Distance-histogram counts[0..maxHops] of a bounded BFS from
      * encoded seed nodes — [[Graphs.bfsHopsUndirected]]'s driver
      * branch collapsed to the q_bfs_hops histogram (distinct stray
      * seeds count at distance 0; zero buckets preserved). */
    def bfsHist(seeds: Array[Long], maxHops: Int): Array[Long] = {
      require(maxHops >= 0 && maxHops <= 10, s"maxHops out of range: $maxHops")
      val dist = new Array[Int](nNodes)
      java.util.Arrays.fill(dist, -1)
      val counts = new Array[Long](maxHops + 1)
      var frontier = new Array[Int](nNodes)
      var fLen = 0
      val seen = new java.util.HashSet[Long]()
      seeds.foreach { k =>
        if (seen.add(k)) {
          val got = idx.get(k)
          if (got == null) counts(0) += 1 // stray seed: distance 0
          else if (dist(got.intValue) < 0) {
            dist(got.intValue) = 0
            counts(0) += 1
            frontier(fLen) = got.intValue
            fLen += 1
          }
        }
      }
      var hop = 1
      while (hop <= maxHops && fLen > 0) {
        val next = new Array[Int](nNodes)
        var nLen = 0
        var f = 0
        while (f < fLen) {
          val u = frontier(f)
          var j = start(u)
          val end = start(u + 1)
          while (j < end) {
            val m = nbr(j)
            if (dist(m) < 0) {
              dist(m) = hop
              counts(hop) += 1
              next(nLen) = m
              nLen += 1
            }
            j += 1
          }
          f += 1
        }
        frontier = next
        fLen = nLen
        hop += 1
      }
      counts
    }
  }

  /** Collect a distinct (ck, sk) trade-pair relation under HALF the
    * driver edge bound (its doubled arc relation is what the
    * per-gate collects budgeted) into a [[TradeGraph]]; None past the
    * bound — callers fall back to their distributed paths, which keep
    * their own (identically budgeted) driver branches. */
  def tradeGraphUnder(pairs: DataFrame,
                      bound: Long = DriverBound.rows): Option[TradeGraph] =
    DriverBound.driverOr(pairs.select(col("ck"), col("sk")), bound / 2)(
      rows => Option(new TradeGraph(rows)))(None)

  /** Collect a canonical edge relation under the driver bound into a
    * [[PeelGraph]]; None past the bound (callers fall back to the
    * distributed loops with `driverMaxEdges = 0`). */
  def peelGraphUnder(canonEdges: DataFrame,
                     bound: Long = DriverBound.rows): Option[PeelGraph] =
    DriverBound.driverOr(canonEdges.select(col("u"), col("v")), bound)(
      rows => Option(new PeelGraph(rows)))(None)

  /** Split [0, n) into one contiguous chunk per available core and
    * run `f(lo, hi)` on each in parallel (plain threads — the driver
    * fast paths are CPU-bound single-JVM loops that were using one
    * core of a local[32] host). `f` must only write to disjoint,
    * index-owned state; the first failure rethrows on the caller.
    * Small n runs inline (thread setup would dominate). */
  private[operators] def parallelRanges(n: Int)(f: (Int, Int) => Unit): Unit = {
    val nT = math.max(1, math.min(Runtime.getRuntime.availableProcessors, n / 32768))
    if (nT <= 1) { f(0, n); return }
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val chunk = (n + nT - 1) / nT
    val ts = (0 until nT).map { t =>
      val lo = t * chunk
      val hi = math.min(n, lo + chunk)
      val th = new Thread(() =>
        try { if (lo < hi) f(lo, hi) }
        catch { case e: Throwable => failure.compareAndSet(null, e) })
      th.setDaemon(true); th.start(); th
    }
    ts.foreach(_.join())
    if (failure.get != null) throw failure.get
  }

  /** [[parallelRanges]] with a per-chunk result, returned in chunk
    * order (so sequential merges are deterministic). */
  private[operators] def parallelCollect[T: scala.reflect.ClassTag](n: Int)(
      f: (Int, Int) => T): Array[T] = {
    val nT = math.max(1, math.min(Runtime.getRuntime.availableProcessors, n / 32768))
    val chunk = if (nT <= 1) n else (n + nT - 1) / nT
    val out = new Array[T](if (n == 0) 0 else math.min(nT, (n + chunk - 1) / chunk))
    if (out.length <= 1) {
      if (out.length == 1) out(0) = f(0, n)
      return out
    }
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ts = out.indices.map { t =>
      val lo = t * chunk
      val hi = math.min(n, lo + chunk)
      val th = new Thread(() =>
        try { out(t) = f(lo, hi) }
        catch { case e: Throwable => failure.compareAndSet(null, e) })
      th.setDaemon(true); th.start(); th
    }
    ts.foreach(_.join())
    if (failure.get != null) throw failure.get
    out
  }

  private final class TrussGraph(eu: Array[Int], ev: Array[Int], nN: Int) {
    private val nE = eu.length
    private val start = new Array[Int](nN + 1)
    private val nbr = new Array[Int](2 * nE) // neighbor node of each slot
    private val eid = new Array[Int](2 * nE) // owning edge index of each slot
    locally {
      val deg = new Array[Int](nN)
      var i = 0
      while (i < nE) { deg(eu(i)) += 1; deg(ev(i)) += 1; i += 1 }
      i = 0
      while (i < nN) { start(i + 1) = start(i) + deg(i); i += 1 }
      val fill = start.clone()
      // pack (nbr, eid) into one long per slot so the per-run sort
      // carries the edge id along (both nonneg ints)
      val packed = new Array[Long](2 * nE)
      i = 0
      while (i < nE) {
        packed(fill(eu(i))) = (ev(i).toLong << 32) | i.toLong; fill(eu(i)) += 1
        packed(fill(ev(i))) = (eu(i).toLong << 32) | i.toLong; fill(ev(i)) += 1
        i += 1
      }
      // per-node segments are disjoint — sort them on every core
      parallelRanges(nN) { (lo, hi) =>
        var v = lo
        while (v < hi) { java.util.Arrays.sort(packed, start(v), start(v + 1)); v += 1 }
      }
      parallelRanges(2 * nE) { (lo, hi) =>
        var j = lo
        while (j < hi) {
          nbr(j) = (packed(j) >>> 32).toInt
          eid(j) = (packed(j) & 0xFFFFFFFFL).toInt
          j += 1
        }
      }
    }

    /** min(support, cap) of every edge over the FULL graph — one
      * early-exit two-pointer pass, shared by every k with
      * k − 2 ≤ cap (capping preserves every `sup < need` comparison
      * those peels make in round 0). Edges are independent (read-only
      * CSR, each writes its own sup slot), so the pass runs on every
      * driver core ([[Graphs.parallelRanges]]) — it is the dominant
      * O(Σ deg(u)+deg(v)) cost of the driver peel and was
      * single-threaded on a 32-core host. */
    def cappedSupport(cap: Int): Array[Int] = {
      val sup = new Array[Int](nE)
      parallelRanges(nE) { (lo, hi) =>
        var e = lo
        while (e < hi) {
          var a = start(eu(e)); val aEnd = start(eu(e) + 1)
          var b = start(ev(e)); val bEnd = start(ev(e) + 1)
          var s = 0
          while (s < cap && a < aEnd && b < bEnd) {
            val x = nbr(a); val y = nbr(b)
            if (x == y) { s += 1; a += 1; b += 1 }
            else if (x < y) a += 1
            else b += 1
          }
          sup(e) = s
          e += 1
        }
      }
      sup
    }

    /** Alive-edge flags after `rounds` remove-all-per-round steps
      * (early exit at the fixpoint) — identical removals per round to
      * the full recompute, so the oracle's unrolled rounds and the
      * distributed loop agree even before the fixpoint. `sup0` must
      * be a [[cappedSupport]] with cap ≥ k − 2 (round 0 reads it
      * instead of re-scanning the graph). */
    def peel(k: Int, rounds: Int, sup0: Array[Int]): Array[Boolean] = {
      val alive = Array.fill(nE)(true)
      val need = k - 2
      if (need <= 0 || nE == 0) return alive // support ≥ 0 always
      // round-0 candidates come straight off the shared support pass;
      // later rounds re-check only alive edges incident to the
      // previous round's removals (stamp-deduped)
      val removed = new Array[Int](nE)
      val cand = new Array[Int](nE)
      var nCand = 0
      val stamp = Array.fill(nE)(-1)
      var it = 0
      var done = false
      while (!done && it < rounds) {
        var nR = 0
        if (it == 0) {
          var e = 0
          while (e < nE) {
            if (sup0(e) < need) { removed(nR) = e; nR += 1 }
            e += 1
          }
        } else {
          // parallel support re-check: reads are round-start-consistent
          // (alive flips apply only AFTER the scan), each chunk
          // collects its own removals, merged below — the removal SET
          // is identical to the sequential scan's
          val bufs = parallelCollect(nCand) { (lo, hi) =>
            val buf = new Array[Int](hi - lo)
            var n = 0
            var ci = lo
            while (ci < hi) {
              val e = cand(ci)
              if (alive(e)) {
                // early-exit support check over the round-start alive
                // adjacency (this round's removals apply AFTER the scan)
                var a = start(eu(e)); val aEnd = start(eu(e) + 1)
                var b = start(ev(e)); val bEnd = start(ev(e) + 1)
                var s = 0
                while (s < need && a < aEnd && b < bEnd) {
                  val x = nbr(a); val y = nbr(b)
                  if (x == y) {
                    if (alive(eid(a)) && alive(eid(b))) s += 1
                    a += 1; b += 1
                  } else if (x < y) a += 1
                  else b += 1
                }
                if (s < need) { buf(n) = e; n += 1 }
              }
              ci += 1
            }
            java.util.Arrays.copyOf(buf, n)
          }
          var bi = 0
          while (bi < bufs.length) {
            val b = bufs(bi)
            var j = 0
            while (j < b.length) { removed(nR) = b(j); nR += 1; j += 1 }
            bi += 1
          }
        }
        if (nR == 0) done = true
        else {
          var ri = 0
          while (ri < nR) { alive(removed(ri)) = false; ri += 1 }
          nCand = 0
          ri = 0
          while (ri < nR) {
            val e = removed(ri)
            var a = start(eu(e)); val aEnd = start(eu(e) + 1)
            while (a < aEnd) {
              val f = eid(a)
              if (alive(f) && stamp(f) != it) { stamp(f) = it; cand(nCand) = f; nCand += 1 }
              a += 1
            }
            var b = start(ev(e)); val bEnd = start(ev(e) + 1)
            while (b < bEnd) {
              val f = eid(b)
              if (alive(f) && stamp(f) != it) { stamp(f) = it; cand(nCand) = f; nCand += 1 }
              b += 1
            }
            ri += 1
          }
        }
        it += 1
      }
      alive
    }
  }

  /** In-memory parallel truss peel under the driver bound: primitive
    * int-indexed CSR adjacency rebuilt per round, per-edge support by
    * early-exit two-pointer intersection over the sorted neighbor
    * runs — the same remove-all-per-round semantics as the
    * distributed loop. (The obvious HashMap[Long, HashSet[Long]]
    * shape measured 66 s at 1.2M edges from boxing alone; this runs
    * the same peel in ~2 s.)
    */
  private def trussDriver(canon: DataFrame, rows: Array[org.apache.spark.sql.Row],
                          k: Int, rounds: Int): DataFrame = {
    // `canon` is the canonicalEdges projection the rows were
    // collected from — safe to hand back verbatim when nothing peels.
    val proj = canon
    val nE = rows.length
    // node ids -> dense ints
    val idx = new java.util.HashMap[Long, Integer](nE * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    def id(x: Long): Int = {
      val got = idx.get(x)
      if (got != null) got.intValue
      else { idx.put(x, ids.length); ids += x; ids.length - 1 }
    }
    val eu = new Array[Int](nE)
    val ev = new Array[Int](nE)
    var i = 0
    while (i < nE) {
      eu(i) = id(rows(i).getLong(0)); ev(i) = id(rows(i).getLong(1)); i += 1
    }
    requireCanonicalCollected(rows, eu, ev)
    val g = new TrussGraph(eu, ev, ids.length)
    val alive = g.peel(k, rounds, g.cappedSupport(k - 2))
    val nAlive = alive.count(identity)
    if (nAlive == nE) proj
    else {
      val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](nAlive)
      i = 0
      while (i < nE) {
        if (alive(i)) out += org.apache.spark.sql.Row(ids(eu(i)), ids(ev(i)))
        i += 1
      }
      distributed(canon.sparkSession, out.toSeq, proj.schema)
    }
  }
}
