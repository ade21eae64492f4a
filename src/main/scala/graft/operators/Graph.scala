package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Ckpt
import graft.engine.Ckpt.BarrierOps
import graft.functions.EngineMath

/** Iterative graph analytics over DataFrames — PageRank as the archetype
  * (same iterate-with-bounded-driver-state family as [[Dedup]]'s
  * large-star/small-star connected components and [[Ivf]]'s k-means).
  *
  * Per iteration: one shuffle join (static adjacency ⋈ current ranks on the
  * node key) and one hash-aggregate (contributions by destination). The
  * adjacency+degree frame is the big static side — persisted once, never
  * recomputed; at cluster scale it would be bucketed by `src` so the
  * per-iteration join co-locates without re-shuffling the 100 TB side, and
  * only the small rank frame moves. Ranks are re-persisted per round and
  * the previous round dropped, so lineage never grows past one iteration
  * (the GraphX/Pregel execution shape, expressed in DataFrames).
  *
  * Determinism across engines (the oracle re-derives every round in SQL):
  * per-edge contributions quantize to integer 1e-12 ticks
  * (`floor(rank/deg * 1e12 + 0.5)` — a BIGINT), so the per-destination sum
  * is exact integer arithmetic, order-independent under any partitioning.
  * The float ops around it (teleport, damping, re-quantize) apply in the
  * same IEEE operand order on both engines, making ranks bit-exact — no
  * tolerance needed in the gate.
  */
object Graph {

  /** Deterministic random walks (DeepWalk/node2vec input generation):
    * one `steps`-hop walk per start node over the undirected graph, the
    * next hop chosen by an md5 draw over the current node's rank-ordered
    * neighbors. The "randomness" is a hash of (walk_id, step) — identical
    * on every engine, every partitioning, and every retry, which is what
    * makes walk corpora reproducible (and oracle-checkable) instead of
    * RNG-dependent.
    *
    * Scale shape: the ranked adjacency (neighbor rank per src via a
    * src-partitioned window) and the degree table persist once; each hop
    * is one equi-join of the O(|walks|) frontier against them on
    * (node, rank) — the Pregel frontier shape again, lineage cut per hop
    * by the join against the static persisted side. Walk count scales
    * embarrassingly (walks never interact).
    */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
      steps: Int, salt: String = "rw"): DataFrame = {
    // localCheckpoint, NOT persist (r14): every hop of the single final
    // plan references deg AND adj again — 4 hops × 2 duplicated persisted
    // subtrees recomputed the ranked adjacency per hop. As checkpointed
    // leaves each hop is two block-scan equi-joins.
    val und = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .distinct()
      .ckpt()
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .ckpt()
    val adj = und.withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("src")).orderBy(col("dst"))))
      .ckpt()
    var cur = deg.select(col("src").as("walk_id"), col("src").as("cur"),
      col("src").cast("string").as("path"))
    for (i <- 1 to steps) {
      val pick = conv(substring(md5(concat(lit(s"$salt:"),
        col("walk_id").cast("string"), lit(s":$i"))), 1, 8), 16, 10)
        .cast("long") % col("d") + 1
      // composite EQUI-join on (node, rank == pick): the frontier never
      // fans out over a node's full neighbor list
      cur = cur
        .join(deg.select(col("src").as("cur"), col("d")), "cur")
        .withColumn("pick", pick)
        .join(adj.select(col("src").as("a_cur"), col("dst"), col("r")),
          col("cur") === col("a_cur") && col("r") === col("pick"))
        .select(col("walk_id"), col("dst").as("cur"),
          concat(col("path"), lit(">"), col("dst").cast("string")).as("path"))
    }
    cur.select(col("walk_id"), col("cur").as("end_node"), col("path"))
      .orderBy(col("walk_id"))
  }

  /** Triangle statistics — (n_edges, n_wedges, n_triangles) over the
    * undirected simple graph spanned by `edges` (canonicalized to u < v,
    * self-loops dropped, deduped here).
    *
    * Degree-ordered orientation (compact-forward): every edge points from
    * its lower-(degree, id) endpoint to the higher one, and wedges are
    * enumerated only at each edge pair's common SOURCE — the low-degree
    * apex. Oriented out-degrees are O(√m)-bounded on any graph, so the
    * wedge join cannot blow up at hub nodes the way the naive per-vertex
    * d² enumeration does; the closure check is one more equi-join against
    * the canonical edge set. All shuffles key on node ids; wedge counts
    * come from the out-degree histogram (Σ d·(d−1)/2), not from
    * materializing wedges.
    */
  def triangleStats(edges: DataFrame, uCol: String, vCol: String): DataFrame = {
    // localCheckpoint, NOT persist: both frames are referenced more than
    // once inside ONE plan (dE on both sides of the wedge self-join, und
    // by the closure join + the edge count), and a persisted subtree
    // referenced twice loses cache substitution on the second occurrence
    // (DeduplicateRelations re-aliases it) and silently recomputes — the
    // kCore/x195 device, r14-measured at 2× on this very operator.
    val und = edges.select(least(col(uCol), col(vCol)).as("u"),
        greatest(col(uCol), col(vCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .ckpt()
    val deg = und.select(col("u").as("x"))
      .union(und.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val dE = und
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
      .select(when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst"))
      .ckpt()
    val nEdges = und.agg(count(lit(1)).as("n_edges"))
    val nWedges = dE.groupBy(col("src")).agg(count(lit(1)).as("od"))
      .agg(expr("CAST(sum(od * (od - 1)) / 2 AS BIGINT)").as("n_wedges"))
    val wedges = dE.as("e1")
      .join(dE.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("u"), col("e2.dst").as("v"))
    val nTri = bloomEdgeFilter(und, wedges, col("u"), col("v"))
      .join(und, Seq("u", "v"))
      .agg(count(lit(1)).as("n_triangles"))
    nEdges.crossJoin(nWedges).crossJoin(nTri)
  }

  /** Bloom pre-filter of a wedge/candidate stream against the canonical
    * edge set (guide §3.2): wedge volume is Σd·(d−1)/2 — an order of
    * magnitude beyond the edge count on real graphs (r14 measured 41M
    * wedges over 1.2M edges at sf0.1) — and every wedge used to cross the
    * closure join's exchange. A bloom over xxhash64(u,v) of the edges
    * drops definitely-non-closing wedges IN the wedge-join stage, before
    * the exchange; no false negatives (a real edge always matches its own
    * hash), and the exact closure equi-join that follows removes the ~fpp
    * false positives, so the triangle set is bit-identical. The filter is
    * ~9.6 bits/edge at fpp 1%; above [[BloomMaxEdges]] edges (~240 MB
    * broadcast) it would stop fitting executors, so the filter is skipped
    * and the plan degrades to the plain (still exact) closure join —
    * data-adaptive, not tuned to the local corpus.
    */
  val BloomMaxEdges: Long = 200000000L

  private def bloomEdgeFilter(und: DataFrame, cand: DataFrame,
      cu: org.apache.spark.sql.Column,
      cv: org.apache.spark.sql.Column): DataFrame = {
    val n = und.count() // und is checkpointed: this is a cheap block scan
    if (n == 0 || n > BloomMaxEdges) return cand
    val bf = und.stat.bloomFilter(xxhash64(col("u"), col("v")), n, 0.01)
    // Probe through Spark's own BloomFilterMightContain expression
    // (registered as graft_bloom_probe) instead of a Scala UDF closure:
    // the UDF ran interpreted once per candidate (41M wedge probes at
    // sf0.1) and fenced WholeStageCodegen around the join; the native
    // expression deserializes the SAME sketch-library filter once per
    // task and probes with mightContainLong inside codegen — the kept
    // rows are bit-identical. The serialized filter rides the plan as a
    // binary literal (task binaries are torrent-broadcast once per
    // stage), so no explicit broadcast handle is leaked either (r14
    // advice: the old Broadcast[BloomFilter] was never destroyed).
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    graft.functions.GraftFunctions.ensureRegistered(und.sparkSession)
    cand.filter(call_udf("graft_bloom_probe", lit(bos.toByteArray),
      xxhash64(cu, cv)))
  }

  /** Local (Watts–Strogatz) clustering summary — one row
    * (n_nodes, n_closed, avg_lcc) over the undirected simple graph spanned
    * by `edges`: n_nodes = vertices of degree ≥ 2 (the only ones with a
    * defined coefficient), n_closed = those sitting on ≥ 1 triangle, and
    * avg_lcc = mean of tri(v) / (d(v)·(d(v)−1)/2). Average local
    * clustering is a DIFFERENT statistic from [[triangleStats]]'s global
    * transitivity (3·tri/wedges): it weights every vertex equally instead
    * of weighting hubs by their wedge count.
    *
    * Scale shape: the same √m-bounded compact-forward wedge join as
    * [[triangleStats]], but the closure join keeps the triangle's three
    * corners and explodes them (3 rows per triangle) into a per-node hash
    * aggregate — no per-vertex d² enumeration anywhere. Per-node
    * coefficients quantize to integer 1e-9 ticks before the global sum,
    * so avg_lcc is order-independent and bit-exact across engines.
    */
  def localClusteringStats(edges: DataFrame, uCol: String,
      vCol: String): DataFrame = {
    // localCheckpoint for the same reason as [[triangleStats]]: dE is on
    // both sides of the wedge join, deg feeds the dE build twice plus the
    // final coefficient join, und the closure join — persisted subtrees
    // referenced twice per plan recompute instead of reading the cache.
    val und = edges.select(least(col(uCol), col(vCol)).as("u"),
        greatest(col(uCol), col(vCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .ckpt()
    val deg = und.select(col("u").as("x"))
      .union(und.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
      .ckpt()
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val dE = und
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
      .select(when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst"))
      .ckpt()
    val wedgeCorners = dE.as("e1")
      .join(dE.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    val corners = bloomEdgeFilter(und, wedgeCorners, col("b"), col("c"))
      .join(und, col("u") === col("b") && col("v") === col("c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("x"))
    val tc = corners.groupBy(col("x")).agg(count(lit(1)).as("t"))
    deg.filter(col("d") >= 2)
      .join(tc, Seq("x"), "left")
      .withColumn("t", coalesce(col("t"), lit(0L)))
      .withColumn("lq", expr(LccTickSql))
      .agg(count(lit(1)).as("n_nodes"),
        sum((col("t") > 0).cast("long")).as("n_closed"),
        sum(col("lq")).as("slq"))
      .select(col("n_nodes"), col("n_closed"),
        EngineMath.roundAway(
          expr("CAST(slq AS DOUBLE) / 1e9 / n_nodes"), 6).as("avg_lcc"))
  }

  /** The per-node coefficient tick over columns (t, d) — ONE string
    * evaluated by both engines, so the IEEE divide/scale chain is
    * operand-identical before the integer quantization.
    */
  val LccTickSql: String =
    "CAST(floor(CAST(t AS DOUBLE) / (CAST(d AS DOUBLE) * (d - 1) / 2.0) " +
      "* 1e9 + 0.5) AS BIGINT)"

  /** `iters` rounds of PageRank over the UNDIRECTED graph spanned by
    * `edges` (symmetrized + deduped here, so no dangling nodes and no
    * rank-mass leak). Returns (node, rank), rank quantized to 12 decimals.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85): DataFrame = {
    // localCheckpoint, NOT persist: every iteration's plan references adj
    // AND (through the rank frame's lineage) the same und/deg subtrees —
    // a persisted subtree referenced twice per plan loses cache
    // substitution (DeduplicateRelations re-aliases it) and silently
    // recomputes; r14 measured each iteration re-running the full edge
    // distinct (~14 MB re-shuffled + re-aggregated per round). Checkpointed
    // frames are plan LEAVES — duplicate references just re-read blocks.
    val und = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .distinct()
      .ckpt()
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .ckpt()
    val adj = und.join(deg, "src").ckpt()
    // |nodes| = |deg| — a count over the small aggregated frame, not a
    // distinct over the edge list
    val n = deg.count()
    val nD = n.toDouble
    // identical IEEE sequence to the oracle's r0 / teleport expressions
    val r0 = math.floor(1.0 / nD * 1e12 + 0.5) / 1e12
    val tele = (1.0 - damping) / nD
    var ranks = deg.select(col("src").as("node"), lit(r0).as("rank"))
      .ckpt()
    // (r15 negative result, recorded: wrapping this loop in an AQE-off
    // gate to cut per-stage replanning latency was measured 0.69× at 10×
    // — static planning has no stats for the checkpointed rank leaf, so
    // the per-round join fell from AQE's runtime broadcast to a full
    // shuffle of the adjacency every round. AQE's replanning latency IS
    // the broadcast detection; it stays on.)
    for (_ <- 1 to iters) {
      val prev = ranks
      ranks = adj.join(ranks, col("src") === col("node"))
        .select(col("dst"),
          floor(col("rank") / col("deg") * lit(1e12) + lit(0.5)).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .select(col("dst").as("node"),
          EngineMath.roundAway(
            lit(tele) + lit(damping) * (col("s").cast("double") / lit(1e12)),
            12).as("rank"))
        .ckpt() // eager: materializes the round, truncates lineage
      // round r−1 is dead once round r has materialized — release its
      // blocks now instead of holding every round until drain
      Ckpt.free(prev)
    }
    ranks.orderBy(col("node"))
  }

  /** HITS hubs & authorities over a DIRECTED edge set (deduplicated):
    * alternating half-steps a ← Aᵀh, h ← A·a, each L1-normalized. The
    * cross-engine determinism device is [[pageRank]]'s: every inbound
    * score tick-quantizes to an integer (floor(s·1e12 + 0.5)) before the
    * sum, the normalizer is the exact integer total of those sums, and
    * the normalized score is ONE division of two exact integers rounded
    * to 12 dp — no IEEE fold anywhere. Nodes without out-edges carry
    * hub 0 (and never appear in the h table); symmetric for authorities
    * — on a bipartite graph the two tables are the two node classes.
    *
    * Scale shape: per half-step ONE equi-join of the persisted edge list
    * against the current O(|nodes|) score frame plus a grouped sum; the
    * normalizer is an aggregate of the already-grouped frame (never the
    * edge list). Persist-per-round caps lineage exactly as pageRank.
    * Returns (node, hub, auth); a side the node never scores on (no
    * out-edges → hub, no in-edges → auth) is SQL NULL — callers that
    * want zeros coalesce explicitly (GraphSpec pins the NULL contract).
    * Requires iters ≥ 1 (zero rounds would have no auth side at all).
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, s"hits: iters must be >= 1, got $iters")
    // localCheckpoint, NOT persist (r14): each half-step's plan contains
    // e PLUS — through the broadcast input's lineage — the previous
    // half-step's raw frame, whose own plan contains e again; duplicated
    // persisted subtrees lose cache substitution and recompute the whole
    // cascade back to round 0 (measured ~10 s executor per half-step on a
    // 500k-edge graph). Checkpointed frames are plan leaves: every
    // half-step is exactly one block-scan join + grouped sum.
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().ckpt()
    val srcN = e.select(col("src")).distinct()
    val n = srcN.count()
    // identical IEEE sequence to the oracle's h0 expression
    val h0 = math.floor(1.0 / n.toDouble * 1e12 + 0.5) / 1e12
    // ONE action per half-step: the eager localCheckpoint materializes the
    // raw integer sums; the normalizer agg reads the checkpointed blocks
    // (ONE exact long, a bounded driver scalar like pageRank's node
    // count), and the normalized frame stays a lazy projection the next
    // half-step consumes as a broadcast build.
    def half(in: DataFrame, joinKey: String, outKey: String,
        inScore: String, outScore: String): DataFrame = {
      val raw = e.join(broadcast(in), col(joinKey) === col("node"))
        .select(col(outKey),
          floor(col(inScore) * lit(1e12) + lit(0.5)).as("c"))
        .groupBy(col(outKey)).agg(sum(col("c")).as("r"))
        .ckpt()
      val s = raw.agg(sum(col("r"))).head().getLong(0).toDouble
      raw.select(col(outKey).as("node"),
        EngineMath.roundAway(col("r").cast("double") / lit(s), 12)
          .as(outScore))
    }
    var h = srcN.select(col("src").as("node"), lit(h0).as("hub"))
    var a: DataFrame = null
    // (AQE stays on — see pageRank's r15 negative-result note. The
    // half-step wall at sf0.1 is AQE job-launch latency, but the 10×
    // capture shows it does NOT grow with data — a fixed floor, not a
    // scale problem.)
    for (_ <- 1 to iters) {
      a = half(h, "src", "dst", "hub", "auth")
      h = half(a, "dst", "src", "auth", "hub")
    }
    h.join(a, Seq("node"), "full_outer")
      .select(col("node"), col("hub"), col("auth"))
  }

  /** Personalized PageRank: same symmetrized graph, quantization, and
    * per-round dataflow as [[pageRank]], but teleport mass lands ONLY on
    * `seeds` (a 1-column "node" frame, intersected with the graph's
    * nodes): r0 = 1/|S| on seeds else 0, and each round adds
    * (1−d)/|S| to seeds only. The seed set broadcasts (it is the
    * query, not the data); everything else keeps pageRank's shapes, so
    * the 100 TB story is unchanged.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    // same checkpoint-not-persist reasoning as [[pageRank]]: adj, sd and
    // deg all recur in every iteration's single plan (sd twice — the
    // teleport flag joins both the contribution sum and, in r0, the node
    // frame), so persisted versions silently recompute per round.
    val und = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .distinct()
      .ckpt()
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .ckpt()
    val adj = und.join(deg, "src").ckpt()
    val sd = deg.join(seeds.select(col("node").as("src")), "src")
      .select(col("src").as("node")).ckpt()
    val nS = sd.count().toDouble
    require(nS > 0, "personalizedPageRank: no seed is a graph node")
    val r0 = math.floor(1.0 / nS * 1e12 + 0.5) / 1e12
    val teleS = (1.0 - damping) / nS
    val seedFlag = broadcast(sd.withColumn("__isSeed", lit(true)))
    var ranks = deg.select(col("src").as("node"))
      .join(seedFlag, Seq("node"), "left")
      .select(col("node"),
        when(col("__isSeed"), lit(r0)).otherwise(lit(0.0)).as("rank"))
      .ckpt()
    // (AQE stays on — see pageRank's r15 negative-result note)
    for (_ <- 1 to iters) {
      val prev = ranks
      ranks = adj.join(ranks, col("src") === col("node"))
        .select(col("dst"),
          floor(col("rank") / col("deg") * lit(1e12) + lit(0.5)).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .join(seedFlag.select(col("node").as("dst"), col("__isSeed")),
          Seq("dst"), "left")
        .select(col("dst").as("node"),
          EngineMath.roundAway(
            when(col("__isSeed"), lit(teleS)).otherwise(lit(0.0)) +
              lit(damping) * (col("s").cast("double") / lit(1e12)),
            12).as("rank"))
        .ckpt() // eager: materializes the round, truncates lineage
      Ckpt.free(prev) // superseded round: release its blocks now
    }
    ranks.orderBy(col("node"))
  }

  /** `rounds` synchronous peels toward the k-core: each round drops every
    * node whose degree in the REMAINING graph is < k, then the edges
    * touching it. Returns (node, deg) of the surviving subgraph after
    * the last round — callers asserting a true k-core check the fixpoint
    * (round r ≡ round r−1; KCoreSpec does, and the x130 oracle unrolls
    * the same fixed rounds). Per round: one degree aggregate + two
    * semi-joins, each shuffling on the node key — the standard bounded-
    * round distributed peel (full Matula–Beck ordering needs a priority
    * queue; the fixed-round peel is the shape that scales).
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int): DataFrame = {
    // canonical undirected edge set (u < v), deduped. Each round
    // references the surviving edges TWICE (degree aggregate + endpoint
    // semi-joins) — a persist would lose cache substitution on the
    // second reference (DeduplicateRelations re-aliases it) and the
    // lineage would double per round; localCheckpoint is the barrier
    // that actually truncates it (the connected-components loop's
    // device, Dedup.deduplicateByPairs).
    var e = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .ckpt()
    // Early-fixpoint break (r15): peeling is monotone (e′ ⊆ e), so a round
    // that removes NO edge proves every remaining round is the identity —
    // the unrolled result after `rounds` rounds is exactly this round's
    // edge set. The cascade reaches its (possibly empty) fixpoint in 3-4
    // of x130's 6 contracted rounds at the test SFs, so the count-equality
    // probe (one tiny job over checkpointed blocks) skips 2-3 full
    // aggregate+join+checkpoint rounds; a graph whose cascade runs all
    // `rounds` rounds pays only the per-round count. Results are
    // bit-identical to the fixed unroll by the monotonicity argument
    // (KCoreSpec pins the cascade).
    var n = e.count()
    var round = 0
    var fixed = false
    // (AQE stays on — see pageRank's r15 negative-result note)
    while (round < rounds && !fixed) {
      val deg = e.select(col("u").as("x"))
        .unionAll(e.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("c"))
      val keep = deg.filter(col("c") >= k).select(col("x"))
      val prev = e
      e = e
        .join(keep.select(col("x").as("u")), "u")
        .join(keep.select(col("x").as("v")), "v")
        .select(col("u"), col("v"))
        .ckpt()
      val n2 = e.count()
      Ckpt.free(prev) // superseded round: release its blocks now
      fixed = n2 == n
      n = n2
      round += 1
    }
    e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("deg"))
      .select(col("x").as("node"), col("deg"))
      .orderBy(col("node"))
  }
}
