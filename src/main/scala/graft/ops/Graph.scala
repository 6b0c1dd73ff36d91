package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Checkpoints.TruncateOps

/** Graph analytics over the verified near-duplicate pair graph
  * (SURVEY.md §2) — the canonical distributed-graph kernels, expressed
  * relationally so Catalyst plans them (no external graph library).
  * The edge list comes from the MinHash path (dd02): |edges| ∝ true
  * near-dups, so even at corpus scale the graph frames stay tiny
  * relative to the input.
  */
object Graph {

  /** The module's hub memo (see [[SessionMemo]]). */
  private val memo = new SessionMemo[AnyRef]

  /** Oriented (d1 < d2) verified near-dup edges. Cached: the triangle
    * query references this frame three times (and the degree query
    * twice) — without the cache each reference re-executes the whole
    * minhash+verify chain inside one job. */
  private def edges(s: SparkSession, d: String): DataFrame =
    CacheScope.cached(Dedup.dd02MinhashLsh(s, d).select(col("d1"), col("d2")))

  /** gr01: triangle count — the standard oriented-wedge formulation:
    * each triangle a<b<c is counted exactly once as the wedge
    * (a,b)+(b,c) closed by (a,c). Two equi-joins + one count; no
    * quadratic neighborhood expansion. */
  def gr01TriangleCount(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d)
    val e1 = e.select(col("d1").as("a"), col("d2").as("b"))
    val e2 = e.select(col("d1").as("b2"), col("d2").as("c2"))
    val e3 = e.select(col("d1").as("a3"), col("d2").as("c3"))
    e1.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c2") === col("c3"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** gr02: degree distribution — how many docs have k near-duplicates.
    * Undirected degree = occurrences on either edge end. */
  def gr02DegreeDist(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d)
    e.select(col("d1").as("doc"))
      .unionByName(e.select(col("d2").as("doc")))
      .groupBy(col("doc")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
  }

  /** Hub-degree cap for the wedge-enumeration kernels (gr04/gr08/gr09).
    * Wedge work is Σ deg(v)² over enumeration centers, so one
    * boilerplate/template mega-family of n docs — which a 100 TB
    * corpus WILL contain — puts n² rows through the shuffle if its
    * members are enumerated as centers. Nodes with deg > wedgeMaxDeg
    * are therefore routed to the COUNT-ONLY path (gr15: the exact
    * per-hub wedge count deg·(deg−1)/2 needs no enumeration); wedges
    * are enumerated exactly only where deg ≤ wedgeMaxDeg. The cap is
    * part of the operator SEMANTICS — the oracle SQL applies the same
    * deg ≤ 64 center restriction, so the outputs stay hash-identical
    * on ANY corpus, hubs present or not. Hub docs are precisely the
    * boilerplate chains the module's narrative routes to substring
    * dedup anyway (gr09's low-coeff/high-degree signature). */
  private[graft] val wedgeMaxDeg = 64

  /** Bidirectional adjacency of an oriented (d1<d2) edge frame. */
  private def biAdj(e: DataFrame): DataFrame =
    e.select(col("d1").as("m"), col("d2").as("n"))
      .unionByName(e.select(col("d2").as("m"), col("d1").as("n")))

  /** Adjacency restricted to wedge-safe enumeration centers
    * (deg ≤ maxDeg) — one semi-join against the per-node degree
    * aggregate, which AQE broadcasts when it fits. */
  private def safeAdj(bi: DataFrame, maxDeg: Int): DataFrame = {
    val deg = bi.groupBy(col("m")).agg(count(lit(1)).as("deg"))
    // callers read the safe adjacency twice (both wedge legs) — cut it
    bi.join(deg.filter(col("deg") <= maxDeg).select(col("m")),
      Seq("m"), "left_semi")
      .truncated
  }

  /** gr04 kernel over an arbitrary oriented edge frame: exact
    * common-neighbor pairs from wedges centered at deg ≤ maxDeg nodes
    * only (hub centers are count-only — see wedgeMaxDeg). Kernel is
    * edge-frame-parameterized so the planted-mega-clique spec can
    * exercise the guard directly. */
  private[graft] def commonNeighborPairs(e: DataFrame, maxDeg: Int): DataFrame = {
    val safe = safeAdj(biAdj(e), maxDeg)
    val n1 = safe.select(col("m"), col("n").as("a"))
    val n2 = safe.select(col("m").as("m2"), col("n").as("b"))
    n1.join(n2, col("m") === col("m2") && col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
  }

  /** Count-only hub audit: per-center wedge totals split into the
    * exactly-enumerated tier (deg ≤ maxDeg) and the skipped hub tier,
    * via the closed form deg·(deg−1)/2 — no enumeration, cost
    * ∝ |nodes|. The one-row summary a 100 TB run reads to decide
    * whether the cap is placed right for its corpus. */
  private[graft] def wedgeHubAudit(e: DataFrame, maxDeg: Int): DataFrame =
    biAdj(e).groupBy(col("m")).agg(count(lit(1)).as("deg"))
      .agg(
        coalesce(sum(when(col("deg") <= maxDeg, 1L).otherwise(0L)), lit(0L))
          .as("n_centers_exact"),
        coalesce(sum(when(col("deg") > maxDeg, 1L).otherwise(0L)), lit(0L))
          .as("n_hubs"),
        coalesce(sum(when(col("deg") <= maxDeg,
          expr("deg * (deg - 1) div 2")).otherwise(0L)), lit(0L))
          .as("exact_wedges"),
        coalesce(sum(when(col("deg") > maxDeg,
          expr("deg * (deg - 1) div 2")).otherwise(0L)), lit(0L))
          .as("hub_wedges_skipped"))

  /** gr04: common-neighbors scoring — every doc pair sharing ≥1
    * near-dup neighbor (through a wedge-safe center — deg ≤ 64; hub
    * centers go to the gr15 count-only path), with its shared count
    * and whether the pair is already an edge (the classic
    * link-prediction score: open wedges with high `common` are likely
    * missed duplicates worth exact verification; in a clean
    * clique-shaped dup graph every wedge is closed, which this output
    * makes auditable). */
  def gr04CommonNeighbors(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d)
    commonNeighborPairs(e, wedgeMaxDeg)
      .join(e.select(col("d1"), col("d2"), lit(1).as("flag")),
        col("a") === col("d1") && col("b") === col("d2"), "left_outer")
      .select(col("a"), col("b"), col("common"),
        coalesce(col("flag"), lit(0)).as("is_edge"))
  }

  /** gr15: wedge-kernel hub audit over the near-dup graph — the
    * count-only tier of the wedgeMaxDeg guard as a graded one-row
    * summary (how many centers are enumerated exactly, how many hubs
    * are diverted, and the exact wedge mass on each side). */
  def gr15WedgeAudit(s: SparkSession, d: String): DataFrame =
    wedgeHubAudit(edges(s, d), wedgeMaxDeg)

  /** PageRank over a SYMMETRIC (src,dst) edge frame: damping 0.85,
    * ranks initialized to 1.0 (the all-ranks sum is then invariantly
    * |nodes| — no driver-side count needed), a FIXED 10 iterations
    * unrolled as one lazy plan: unlike the convergence-driven dd06
    * loop this is a pure plan builder — zero driver actions, Catalyst
    * sees the whole 10-round dataflow. Each round is join+agg on
    * frames ∝ |edges|. */
  private[graft] def pageRankFrom(bi0: DataFrame, iterations: Int = 10,
      tele: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        _ => lit(1.0)): DataFrame = {
    // `tele` is the per-node teleport weight: constant 1.0 for classic
    // PageRank, an indicator for the personalized variant — a pure
    // node-id expression, so it never costs a join.
    // Degree is pre-joined into the edge frame ONCE: each round then
    // needs a single (tiny, AQE-broadcast) rank join instead of a rank
    // join plus a degree join. bi/deg/biDeg are kernel-LOCAL frames —
    // lazy truncation, not a cache (the minLabelFrom measurement:
    // gr03+gr07 16.8 → 7.2 s at sf0.1; even 10 re-reads of the RDD
    // beat the InMemoryRelation build+conversion at this frame size).
    // Each round ends in a LAZY localCheckpoint
    // (the gr05 pattern): it truncates the logical plan to a flat
    // LogicalRDD with no extra job — without truncation the unrolled
    // plan TEXT alone grows geometrically (10 rounds of nested
    // InMemoryRelation plans OOMed the driver just rendering the AQE
    // explain string), and the old eager checkpoints cost 3 extra jobs.
    val bi = bi0.truncated
    val deg = bi.groupBy(col("src")).agg(count(lit(1)).as("deg")).truncated
    val biDeg = bi.join(deg, Seq("src")).truncated
    var ranks = deg.select(col("src").as("node"), tele(col("src")).as("rank"))
    for (_ <- 1 to iterations) {
      val contrib = biDeg
        .join(ranks, biDeg("src") === ranks("node"))
        .select(col("dst").as("node2"), (col("rank") / col("deg")).as("c"))
      // per-ROUND truncation is the measured optimum, not a habit:
      // cadence-2 and cadence-5 variants (fewer materializations, 1 or
      // 4 join+agg levels nested between truncations) both benched
      // SLOWER at sf0.1 (gr03 8.5→10.5→12.0 s) — AQE re-optimizes the
      // whole nested chain at every materialization point, and that
      // re-planning outgrows the saved stage barriers
      ranks = contrib.groupBy(col("node2")).agg(sum(col("c")).as("in_sum"))
        .select(col("node2").as("node"),
          (lit(0.15) * tele(col("node2")) + lit(0.85) * col("in_sum")).as("rank"))
        .truncated
    }
    ranks
  }

  /** gr05: 2-core decomposition by iterative peeling — nodes of degree
    * <2 (pendant docs attached to a single near-dup) are removed, the
    * removal cascades, and what survives 10 peels is the dense
    * duplication CORE (the families worth cluster-level review, vs
    * one-off pairs). 10 peels unrolled as one lazy plan (peeling is a
    * no-op once stable, so a fixed unroll is deterministic —
    * oracle-replayable, no driver loop); every round is join+agg on
    * frames ∝ near-dup docs. */
  def gr05KCore(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d)
    var bi = e.select(col("d1").as("src"), col("d2").as("dst"))
      .unionByName(e.select(col("d2").as("src"), col("d1").as("dst")))
    for (_ <- 1 to 10) {
      val keep = bi.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2).select(col("src").as("k"))
      bi = bi
        .join(keep, bi("src") === keep("k")).drop("k")
        .join(keep, bi("dst") === keep("k")).drop("k")
        // LAZY checkpoint per round: each round references the prior
        // round three times (keep + both join sides) — without
        // truncation the re-execution fan-out compounds ~3× per round
        .truncated
    }
    bi.groupBy(col("src")).agg(count(lit(1)).as("core_degree"))
      .select(col("src").as("doc_id"), col("core_degree"))
  }

  /** gr06: min-label propagation components on the co-purchase graph
    * (parts sharing an order) — a FIXED 5 synchronous rounds, the
    * connected-components kernel in its oracle-replayable form: a
    * fixed unroll is deterministic where a converge-loop is not, and
    * five rounds label every node with the min id within graph
    * distance 5 (on this graph, effectively the component min). Each
    * round is one edge⋈label join + min-agg, frames ∝ |edges|; labels
    * cache per round so the lazy unroll doesn't re-execute prior
    * rounds (the gr05 compounding hazard). The per-order pair
    * expansion is bounded by the ≤7-items-per-order data model —
    * never quadratic in the table. */
  /** Canonical (src<dst) co-purchase edges — shared by gr06/gr10 so a
    * composition never rebuilds the pair expansion twice. */
  private[graft] def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
    CacheScope.cached(li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
      .select(col("x.p").as("src"), col("y.p").as("dst")).distinct())
  }

  /** coPurchaseEdges as a MEMOIZED FLAT leaf (r13): q53's recursive
    * CTE inlines the edge source's subtree into every UnionLoop
    * iteration and gr16's contraction references it three times — the
    * cached InMemoryRelation recurs per reference and every read pays
    * the columnar→row conversion; the lazily-truncated copy is one
    * row-backed ExistingRDD leaf built once per session (the dd02 memo
    * discipline; two consumers: q53 + gr16). A cache drain kills the
    * checkpoint blocks and the memo rebuilds from the parquet inputs. */
  private[graft] def coPurchaseEdgesFlat(s: SparkSession, d: String): DataFrame =
    memo(s, "coPurchaseEdgesFlat", d) {
      Checkpoints.truncate(coPurchaseEdges(s, d))
    }

  /** 5-round min-label propagation over a cached bidirectional edge
    * frame → (part_id, component_id). */
  private def minLabelFrom(bi: DataFrame): DataFrame = {
    var labels = bi.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to 5) {
      val nbrMin = bi
        .join(labels.select(col("node").as("dst"), col("lbl").as("nlbl")),
          Seq("dst"))
        .groupBy(col("src")).agg(min(col("nlbl")).as("nbr_min"))
      labels = labels.join(nbrMin.select(col("nbr_min"), col("src").as("node")),
            Seq("node"))
          .select(col("node"), least(col("lbl"), col("nbr_min")).as("lbl"))
          // labels is referenced TWICE next round (nbrMin + the join) —
          // lazy truncation materializes once without the columnar
          // InMemoryRelation conversion a full cache pays (the gr03
          // pattern; measured vs per-round CacheScope.cached below)
          .truncated
    }
    labels.select(col("node").as("part_id"), col("lbl").as("component_id"))
  }

  /** The 5-round co-purchase component labels, MEMOIZED per session:
    * gr06 and gr10 run the IDENTICAL unroll, but its per-round
    * truncations mint fresh checkpoint RDDs every call, so plain
    * plan-identity caching never dedupes the two (the dd06 memo
    * discipline applied to the lazy fixed-unroll kernels). */
  private def coPurchaseLabels(s: SparkSession, d: String): DataFrame =
    memo(s, "coPurchaseLabels", d) {
      val e = coPurchaseEdges(s, d)
      val bi = CacheScope.cached(e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst"))))
      minLabelFrom(bi)
    }

  def gr06MinLabel(s: SparkSession, d: String): DataFrame =
    coPurchaseLabels(s, d)

  /** gr10: modularity of the 5-round component partition — per
    * community, intra-edge share vs the degree-sum expectation
    * (Q_c = e_c/m − (d_c/2m)², ppm grid): the score that says whether
    * the components found are DENSER than chance, i.e. whether the
    * partition is worth acting on. All three frames (labels, degrees,
    * intra-edge counts) derive from ONE cached edge frame — the
    * composition never rebuilds the pair expansion (the tx19 lesson).
    * Integer-division order ((dc² div m)·1e6 div 4m) is chosen so no
    * intermediate exceeds int64 even when one component owns every
    * edge, and is replayed operation-for-operation by the oracle. */
  def gr10Modularity(s: SparkSession, d: String): DataFrame = {
    val e = coPurchaseEdges(s, d)
    val bi = CacheScope.cached(e.unionByName(
      e.select(col("dst").as("src"), col("src").as("dst"))))
    val comp = coPurchaseLabels(s, d)
    val m = e.agg(count(lit(1)).as("m"))
    val deg = bi.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val ec = e
      .join(comp.select(col("part_id").as("src"), col("component_id").as("c1")),
        Seq("src"))
      .join(comp.select(col("part_id").as("dst"), col("component_id").as("c2")),
        Seq("dst"))
      .filter(col("c1") === col("c2"))
      .groupBy(col("c1").as("cid")).agg(count(lit(1)).as("intra"))
    val dc = comp
      .join(deg, comp("part_id") === deg("node"))
      .groupBy(col("component_id").as("cid"))
      .agg(sum(col("deg")).as("degree_sum"), count(lit(1)).as("n_nodes"))
    dc.join(ec, Seq("cid"), "left_outer").crossJoin(broadcast(m))
      .select(col("cid").as("component_id"), col("n_nodes"),
        coalesce(col("intra"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        (expr("coalesce(intra, 0L) * 1000000 div m")
          - expr("(degree_sum * degree_sum div m) * 1000000 div (4 * m)"))
          .as("q_ppm"))
  }

  /** gr03: PageRank of the near-dup graph — which documents sit at the
    * center of duplication families (dedup-priority signal). Fixed
    * 10-iteration run; ranks rounded to 6 dp on both engines so
    * summation-order ulps cannot flip the oracle hash (the underlying
    * values are not on a decimal grid, so no true-half hazard). */
  def gr03PageRank(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d)
    val bi = e.select(col("d1").as("src"), col("d2").as("dst"))
      .unionByName(e.select(col("d2").as("src"), col("d1").as("dst")))
    pageRankFrom(bi)
      .select(col("node").as("doc_id"), round(col("rank"), 6).as("rank"))
  }

  /** gr07: PERSONALIZED PageRank — random walks that teleport back to
    * a SEED set (doc_id ≡ 0 mod 3 here; in production, the curated or
    * flagged docs) instead of everywhere: rank mass concentrates
    * around the seeds' graph neighborhood, the standard
    * "related items given these" / taint-propagation scoring. Same
    * fixed-10-iteration unrolled lazy plan as gr03 — the teleport
    * indicator is a pure node-id expression, so the only change to
    * the dataflow is arithmetic; per-round cost is identical, and the
    * oracle replays the identical unroll. Nodes outside the seeds'
    * reachable set keep rank exactly 0 (spec-asserted). */
  def gr07PersonalizedPr(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d)
    val bi = e.select(col("d1").as("src"), col("d2").as("dst"))
      .unionByName(e.select(col("d2").as("src"), col("d1").as("dst")))
    pageRankFrom(bi, 10,
      n => when(n % 3 === 0, lit(1.0)).otherwise(lit(0.0)))
      .select(col("node").as("doc_id"), round(col("rank"), 6).as("rank"))
  }

  /** gr08: link-prediction scoring over the near-dup graph — every
    * wedge pair (docs sharing ≥1 neighbor), scored by neighborhood
    * Jaccard and resource allocation (Σ 1/deg(shared)), both on exact
    * integer ppm grids (RA sums per-term floors, replayed identically
    * by the oracle — no float summation order to disagree on), plus
    * the is_edge flag. High-scoring OPEN wedges (is_edge=0) are the
    * pairs the sketch tier likely missed — they go to exact
    * verification first; in a clean clique-shaped dup graph every
    * wedge is closed, which this output makes auditable (the gr04
    * story, now with calibrated scores). Scale: wedge enumeration is
    * the gr04 join over near-dup adjacency (|edges| ∝ true dups,
    * never corpus²); degree is a tiny per-node aggregate broadcast
    * into the wedge stream. */
  def gr08LinkPredict(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d)
    val bi = e.select(col("d1").as("m"), col("d2").as("n"))
      .unionByName(e.select(col("d2").as("m"), col("d1").as("n")))
    // deg is read four times (guard filter + three broadcasts) and
    // safe twice (both wedge legs) — cut each once
    val deg = bi.groupBy(col("m")).agg(count(lit(1)).as("deg")).truncated
    // wedge ENUMERATION restricted to deg ≤ wedgeMaxDeg centers (the
    // hub guard — see wedgeMaxDeg); the deg table itself stays full so
    // jaccard_ppm sees the true endpoint degrees even when an endpoint
    // is a hub. Oracle applies the identical center restriction.
    val safe = bi.join(deg.filter(col("deg") <= wedgeMaxDeg).select(col("m")),
      Seq("m"), "left_semi")
      .truncated
    val n1 = safe.select(col("m"), col("n").as("a"))
    val n2 = safe.select(col("m").as("m2"), col("n").as("b"))
    val wedges = n1.join(n2, col("m") === col("m2") && col("a") < col("b"))
      .join(broadcast(deg), Seq("m"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"),
        sum(expr("1000000 div deg")).as("ra_ppm"))
    val isEdge = e.select(col("d1").as("a"), col("d2").as("b"),
      lit(1).as("edge_mark"))
    val dA = deg.select(col("m").as("a"), col("deg").as("deg_a"))
    val dB = deg.select(col("m").as("b"), col("deg").as("deg_b"))
    wedges.join(broadcast(isEdge), Seq("a", "b"), "left_outer")
      .join(broadcast(dA), Seq("a")).join(broadcast(dB), Seq("b"))
      .select(col("a"), col("b"), col("common"),
        expr("common * 1000000 div (deg_a + deg_b - common)")
          .as("jaccard_ppm"),
        col("ra_ppm"),
        col("edge_mark").isNotNull.cast("int").as("is_edge"))
  }

  /** gr09: local clustering coefficient — per node, how close its
    * near-dup neighborhood is to a clique: 2·triangles ⁄ deg·(deg−1)
    * on a ppm grid. High coefficient = tight duplicate family (safe to
    * keep one representative); low coefficient on high degree = a hub
    * doc chaining otherwise-unrelated texts — exactly the boilerplate/
    * template signature worth routing to substring dedup instead of
    * whole-doc dedup. Triangles per node come from the gr01 wedge
    * join restricted to wedges CENTERED at the node (a<b dedups each
    * triangle to one wedge per center); frames stay ∝ |edges|. */
  def gr09ClusterCoeff(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d)
    val bi = e.select(col("d1").as("m"), col("d2").as("n"))
      .unionByName(e.select(col("d2").as("m"), col("d1").as("n")))
    val deg = bi.groupBy(col("m")).agg(count(lit(1)).as("degree"))
    // a node's coefficient needs the wedges centered AT it, so hub
    // nodes (deg > wedgeMaxDeg) are excluded from the exact output
    // entirely — their n² neighborhoods are the boilerplate-template
    // signature this very operator exists to flag, and they surface in
    // the gr15 count-only audit instead. Oracle mirrors the bound.
    val safe = bi.join(deg.filter(col("degree") <= wedgeMaxDeg).select(col("m")),
      Seq("m"), "left_semi")
    val n1 = safe.select(col("m"), col("n").as("a"))
    val n2 = safe.select(col("m").as("m2"), col("n").as("b"))
    val tri = n1.join(n2, col("m") === col("m2") && col("a") < col("b"))
      .join(e.select(col("d1").as("a"), col("d2").as("b")), Seq("a", "b"))
      .groupBy(col("m")).agg(count(lit(1)).as("n_tri"))
    deg.filter(col("degree") >= 2 && col("degree") <= wedgeMaxDeg)
      .join(tri, Seq("m"), "left_outer")
      .select(col("m").as("doc_id"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coeff_ppm",
        expr("n_tri * 2 * 1000000 div (degree * (degree - 1))"))
  }

  /** gr11: degree-assortativity sufficient statistics — do high-degree
    * docs link to other high-degree docs (template families) or to
    * low-degree ones (hub-and-spoke boilerplate)? Each directed edge
    * end contributes the (deg(src), deg(dst)) pair; the six mergeable
    * moments (q59's pattern on the graph) give the Pearson
    * assortativity as a closed form, with the covariance sign emitted
    * cross-multiplied — integer-exact, no float correlation to drift
    * across engines. By symmetry Σx = Σy and Σx² = Σy² (spec-asserted
    * conservation). Two broadcast-sized joins of the edge list against
    * the degree table; every frame stays ∝ |near-dup edges|. */
  def gr11Assortativity(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d)
    val bi = e.select(col("d1").as("src"), col("d2").as("dst"))
      .unionByName(e.select(col("d2").as("src"), col("d1").as("dst")))
    val deg = bi.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
    val pairs = bi
      .join(deg.select(col("node").as("n1"), col("deg").as("x")),
        col("src") === col("n1"))
      .join(deg.select(col("node").as("n2"), col("deg").as("y")),
        col("dst") === col("n2"))
    pairs.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(col("x") * col("x")).as("sum_xx"),
        sum(col("x") * col("y")).as("sum_xy"),
        sum(col("y") * col("y")).as("sum_yy"))
      .withColumn("cov_sign",
        signum(col("n") * col("sum_xy") - col("sum_x") * col("sum_y"))
          .cast("long"))
  }

  /** gr12: bipartite co-engagement projection — the user↔event-type
    * bipartite graph projected onto types: for every type pair, how
    * many DISTINCT users touch both (the market-basket / "users who X
    * also Y" kernel, and the other classic graph build besides the
    * near-dup projection the rest of this module runs on). The shape
    * that scales: collapse to distinct (user, type) FIRST — the one
    * input-sized shuffle — then the per-user self-join fans out at
    * most |types|² ≈ 25 combinations per user before the count
    * collapses it to the |types|²-row projection. */
  def gr12Coengagement(s: SparkSession, d: String): DataFrame = {
    val ut = graft.Tables.events(s, d)
      .select(col("user_id"), col("event_type")).distinct()
    ut.select(col("user_id"), col("event_type").as("t1"))
      .join(ut.select(col("user_id").as("u2"), col("event_type").as("t2")),
        col("user_id") === col("u2") && col("t1") < col("t2"))
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** gr13: HITS hubs-and-authorities on the customer→part purchase
    * bipartite graph — which parts are bought by the HIGH-ENGAGEMENT
    * buyers, weighted recursively (an authority is strong when strong
    * hubs buy it), vs the flat buyer counts a plain groupBy gives.
    * (The user→event-type graph is complete at every SF — every user
    * fires every type — so HITS would be uniform there; customers buy
    * random part SUBSETS, which is where mutual reinforcement has
    * signal.) Fixed 5 rounds unrolled as one lazy plan (the gr03/gr06
    * pattern). Arithmetic is FIXED-POINT integer: after each
    * hub+authority pass the authority vector is renormalized to an L1
    * mass of 2²⁰ by exact integer division (aᵖ·2²⁰ div Σa) — unlike a
    * constant downscale this is scale-independent (no overflow at any
    * SF, no vanishing at small SF), fully deterministic, and replayed
    * operation-for-operation by the oracle (floats would put the hash
    * at the mercy of summation order). The one input-sized shuffle is
    * the initial distinct; each round shuffles only the part/customer
    * score tables, and the 1-row mass total rides a broadcast cross
    * join. Top-20 via TakeOrderedAndProject, partkey tie-break. */
  def gr13Hits(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"))
    val cp = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
    // pre-partitioned copies of the bipartite frame, one per round-join
    // key: each of the 5 rounds joins cp on p (auth side) and on c
    // (hub side) — with the cached copies already hash-partitioned on
    // the join key, EnsureRequirements re-exchanges only the tiny
    // score tables per round, never the 600 k-row bipartite frame
    // (guide §2.4: two operations keyed the same way share one
    // exchange; the cache persists it across rounds). The by-p copy is
    // the ONLY cache of the raw join (r13): a third plain `cp` cache
    // bought nothing — cpByC re-reads cpByP, and the three cp-keyed
    // one-shot frames (init auth, buyers) read cpByP where groupBy(p)/
    // distinct(p) need no exchange at all (measured 3.9 → 3.2 s).
    val cpByP = CacheScope.cached(cp.repartition(col("p")))
    val cpByC = CacheScope.cached(cpByP.repartition(col("c")))
    var auth = cpByP.select(col("p")).distinct().withColumn("a", lit(1L))
    for (_ <- 1 to 5) {
      val hub = cpByP.join(auth, Seq("p"))
        .groupBy(col("c")).agg(sum(col("a")).as("h"))
      // cut the per-round part scores: `raw` is referenced twice
      // (mass total + renormalize), and without a cut each reference
      // re-executes the whole prior-round subtree — the unrolled loop
      // compounds 2× per round (31 s → 2.5 s at sf0.1); lazy
      // truncation materializes once without the InMemoryRelation
      // conversion a full cache pays (the minLabelFrom measurement)
      val raw = cpByC.join(hub, Seq("c"))
        .groupBy(col("p")).agg(sum(col("h")).as("ar")).truncated
      val mass = raw.agg(sum(col("ar")).as("tot"))
      auth = raw.crossJoin(broadcast(mass))
        .select(col("p"), expr("ar * 1048576 div tot").as("a"))
    }
    val buyers = cpByP.groupBy(col("p")).agg(count(lit(1)).as("n_buyers"))
    auth.join(buyers, Seq("p"))
      .select(col("p").as("p_partkey"), col("a").as("authority"),
        col("n_buyers"))
      .orderBy(col("authority").desc, col("p_partkey"))
      .limit(20)
  }

  /** gr14: bounded-hop BFS shortest-path distance over the near-dup
    * graph — minimum hop count from the seed set (doc_id % 10 = 0,
    * a deterministic ~10% landmark sample) to every reachable doc
    * within 4 hops: the "how far is this doc from a known duplicate
    * family" distance table, and the one graph primitive the gr01–gr13
    * family lacked. The BFS is a FIXED 4-round unroll of frontier-join
    * + min-combine (the q53/gr05 pattern — a pure lazy plan, zero
    * driver actions): each round expands the previous frontier along
    * the symmetric edge frame, then a groupBy-min folds the new
    * distances into the running table, so a node discovered at hop 2
    * is never re-expanded at a worse depth. Every frame is ∝ near-dup
    * docs (the dup graph, not the corpus); the edge frame is cached
    * because all 4 rounds reference it. At 100 TB the hop bound is the
    * scale contract: frontier size is monotone-bounded by |dup-graph
    * nodes|, and rounds are joins on the clustered src key. */
  /** The BFS kernel on any symmetric (src, dst) edge frame — exposed
    * for the generative spec, which replays it against a reference
    * BFS on random graphs (empty seed sets, isolated pockets,
    * exactly-at-the-bound paths). */
  private[graft] def bfsFrom(bi: DataFrame, hops: Int = 4): DataFrame = {
    // each round references the running table TWICE (frontier filter +
    // union), so the lazy unroll would re-execute the whole prefix 2×
    // per round (the gr05/gr13 compounding hazard; 8.6 s uncached at
    // sf0.1). A LAZY per-round localCheckpoint both kills the fan-out
    // and keeps the plan string flat (nested per-round caches OOM the
    // plan renderer on deeper kernels — see pageRankFrom).
    var dist = bi.select(col("src").as("node")).distinct()
      .filter(col("node") % 10 === 0)
      .withColumn("min_hops", lit(0L))
      .truncated
    for (h <- 1 to hops) {
      val next = dist.filter(col("min_hops") === h - 1)
        .join(bi, col("node") === col("src"))
        .select(col("dst").as("node"), lit(h.toLong).as("min_hops"))
      dist = dist.unionByName(next)
        .groupBy(col("node")).agg(min(col("min_hops")).as("min_hops"))
        .truncated
    }
    dist
  }

  def gr14BfsDistances(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d)
    val bi = CacheScope.cached(
      e.select(col("d1").as("src"), col("d2").as("dst"))
        .unionByName(e.select(col("d2").as("src"), col("d1").as("dst"))))
    bfsFrom(bi)
  }

  /** gr16: connected components via alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) run TO CONVERGENCE — the O(log n)-round algorithm that
    * replaces gr06's fixed-5-round min-label when the graph has long
    * chains or a giant component whose diameter exceeds the unroll
    * budget. min-label needs diameter rounds (a 100-hop boilerplate
    * chain at 100 TB defeats any fixed unroll); two-star contracts
    * path length geometrically, so even a path graph of n nodes
    * converges in ~log n rounds. Each round is two join+agg passes
    * over a frame ∝ |edges| (never node-pairs); the driver touches
    * only a per-round CHANGE SCALAR (symmetric-difference count, the
    * dd06 convergence discipline), never row data. The converged edge
    * set is exactly the star forest (member → component-min), so the
    * label read-off is one left join. Because the fixed point of
    * two-star IS the true component partition (labels = component
    * minimum, independent of iteration count), the oracle can state
    * the SEMANTIC result — min reachable id via a recursive CTE —
    * rather than replaying rounds: the first kernel here whose oracle
    * is algorithm-independent. */
  def gr16CcTwostar(s: SparkSession, d: String): DataFrame = {
    val e0 = coPurchaseEdgesFlat(s, d)
    // canonical undirected form (hi > lo), the two-star working set —
    // coPurchaseEdges is already DISTINCT with src < dst, so the
    // canonical form is a pure column swap: no extra dedup shuffle or
    // checkpoint of the one corpus-sized frame in this kernel.
    twoStarFrom(e0.select(col("dst").as("hi"), col("src").as("lo")))
  }

  /** The alternating two-star kernel on any DISTINCT canonical
    * (hi, lo) edge frame (hi > lo) — exposed for the generative spec,
    * which replays it against a reference union-find on random graphs
    * (paths longer than any fixed unroll, planted cliques, isolated
    * pairs). Returns (part_id, component_id).
    *
    * Round 0 is a MIN-NEIGHBOR PRE-CONTRACTION (guide §2.3 "shuffle
    * fewer bytes" / §2.4 "remove shuffles outright"): l(u) =
    * min(Γ(u) ∪ {u}) attaches every node to its smallest neighbor,
    * and the loop then runs on the QUOTIENT graph of that map — the
    * distinct cross-class label pairs — instead of the raw edge frame.
    * Measured at sf0.1 the raw co-purchase frame is 1.196 M edges over
    * 20 k nodes and the OLD round 1 (bidirect 2.4 M rows → agg → join
    * back → distinct, two checkpoints) was the entire kernel cost
    * (6.3 s of an 8.0 s loop); the contraction computes the same
    * per-node min once and replaces the 2|E|-row join+re-emission with
    * two label attachments on the |E|-row frame whose tiny (≤ |V|)
    * build side AQE broadcasts, so no full-frame exchange survives.
    * Exactness: each class {u : l(u)=l} is a star around l (connected,
    * ⊆ one component), a path in G maps to a path in the quotient and
    * every quotient edge stays inside a component, so quotient CC
    * lifts to exactly the CC partition; and the component minimum M
    * has l(M) = M (nothing smaller is adjacent), so quotient labels
    * are the same component minima — the read-off composes the two
    * maps and the output rows are bit-identical to the uncontracted
    * kernel (the generative union-find spec replays this). */
  private[graft] def twoStarFrom(init: DataFrame): DataFrame = {
    val bi0 = init.select(col("hi").as("u"), col("lo").as("v"))
      .unionByName(init.select(col("lo").as("u"), col("hi").as("v")))
    // (u, l): every node's min neighbor (or itself) — referenced by
    // both quotient-edge attachments and the final read-off, so cut
    val lbl = bi0.groupBy(col("u"))
      .agg(least(min(col("v")), col("u")).as("l"))
      .truncated
    val q = init
      .join(lbl.select(col("u").as("hi"), col("l").as("l1")), Seq("hi"))
      .join(lbl.select(col("u").as("lo"), col("l").as("l2")), Seq("lo"))
      .filter(col("l1") =!= col("l2"))
      .select(greatest(col("l1"), col("l2")).as("hi"),
        least(col("l1"), col("l2")).as("lo"))
      .distinct()
      .truncated
    var cur = q
    // quotient node set — read once by the read-off join below
    val allNodes = q.select(col("hi").as("node"))
      .unionByName(q.select(col("lo").as("node"))).distinct()
    var converged = false
    var round = 0
    var edges = -1L
    while (!converged) {
      round += 1
      // error past the cap rather than ship a half-converged labelling
      if (round > 20) throw new IllegalStateException(
        s"two-star labelling not converged after 20 rounds ($edges edges left)")
      // LARGE-STAR: every neighbor v of u with v > u re-attaches to
      // m(u) = min(Γ(u) ∪ {u}). Bidirect, per-node min, emit (v, m).
      val bi = cur.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(cur.select(col("lo").as("u"), col("hi").as("v")))
      val mins = bi.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      val ls = bi.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct()
      // SMALL-STAR: u and all smaller neighbors re-attach to the
      // minimum smaller neighbor: (hi,lo) edges grouped by hi. `lsc`
      // is cut within the round (three references: the min agg and
      // both halves of the emission) so the large-star subtree runs
      // once per round, not three times; lazy truncation over a full
      // cache per the minLabelFrom measurement.
      val lsc = ls.truncated
      val smin = lsc.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val withM = lsc.join(smin, Seq("hi"))
      val ss = withM
        .select(col("lo").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("hi"),
          least(col("a"), col("b")).as("lo"))
        .unionByName(withM.select(col("hi"), col("m").as("lo")).distinct())
        .distinct()
        .truncated
      cur = ss
      // convergence: a CANONICAL STAR FOREST — every hi exactly once
      // (n_edges == n_distinct_hi) and no lo doubling as a hi (no
      // chains) — IS the two-star fixed point (each star's lo is its
      // minimum by the hi>lo invariant, and both star ops map a star
      // forest to itself), so the check needs no extra round and no
      // full-frame symmetric difference: one aggregate + one
      // edge-frame semi-join count, both ∝ |edges|.
      val agg = cur.agg(count(lit(1)), countDistinct(col("hi"))).first()
      edges = agg.getLong(0)
      if (edges == agg.getLong(1)) {
        val chains = cur.select(col("lo"))
          .join(cur.select(col("hi").as("lo")), Seq("lo"), "left_semi")
          .count()
        converged = chains == 0L
      }
    }
    // converged stars over the quotient: (label, component-min);
    // quotient roots label themselves
    val qLabels = allNodes
      .join(cur.select(col("hi").as("node"), col("lo").as("cid")), Seq("node"),
        "left_outer")
      .select(col("node").as("l"), coalesce(col("cid"), col("node")).as("cid"))
    // read-off: node → its contraction label → that label's component
    // minimum; a label absent from the quotient heads a whole-component
    // class and IS the minimum (see the contraction proof above)
    lbl.join(qLabels, Seq("l"), "left_outer")
      .select(col("u").as("part_id"),
        coalesce(col("cid"), col("l")).as("component_id"))
  }

  /** One k-truss peel round over an oriented edge frame: keep an edge
    * iff it closes ≥ minSup wedges (triangles) through deg ≤ maxDeg
    * centers, OR touches a deg > maxDeg hub (kept WITHOUT enumeration
    * — the wedge guard's diversion tier: a hub is by definition inside
    * a dense family, and pricing its edges exactly is precisely the
    * Σdeg² blow-up the guard exists to avoid). */
  private[graft] def trussPeel(e: DataFrame, minSup: Long, maxDeg: Int): DataFrame = {
    val deg = biAdj(e).groupBy(col("m")).agg(count(lit(1)).as("deg"))
    val hubs = deg.filter(col("deg") > maxDeg).select(col("m"))
    val sup = commonNeighborPairs(e, maxDeg)
    e.join(sup.withColumnRenamed("a", "d1").withColumnRenamed("b", "d2"),
        Seq("d1", "d2"), "left_outer")
      .join(hubs.select(col("m").as("d1"), lit(1).as("h1")), Seq("d1"), "left_outer")
      .join(hubs.select(col("m").as("d2"), lit(1).as("h2")), Seq("d2"), "left_outer")
      .filter(col("h1").isNotNull || col("h2").isNotNull ||
        coalesce(col("common"), lit(0L)) >= minSup)
      .select(col("d1"), col("d2"))
  }

  /** gr17: 3-truss extraction over the co-purchase BACKBONE — the
    * community certificate one level above a core number: an edge
    * survives iff ≥ 1 triangle among SURVIVING edges contains it
    * (triadic closure), iterated to a fixed point. Two noise filters
    * compose: the backbone keeps only part pairs co-bought in ≥ 2
    * DISTINCT orders (one shared basket is incidental — the raw
    * co-purchase graph is near-complete and trussing it is vacuous),
    * then the truss demands the pair ALSO close a triangle with a
    * third backbone partner — chains of pairwise-popular items fall
    * out, stable product communities remain (at sf0.01: 115 729 raw
    * edges → 3 445 backbone → 181 truss, stable from round 1). Peeled
    * TO CONVERGENCE (the gr16 discipline): peel only removes edges, so
    * a stable edge COUNT is a stable edge SET — one driver-side scalar
    * per round (the sanctioned gr16/dd06 convergence-check pattern)
    * decides the fixed point, and a graph still peeling after 10
    * rounds errors instead of silently under-peeling (this corpus
    * family converges in 1; the oracle replays enough rounds to cover
    * the cap's observed fixed point). Per-round lineage truncated. Support enumeration rides the wedge
    * hub guard (deg ≤ 64 centers; edges touching a deg > 64 hub are
    * KEPT without enumeration, reported tier='hub' — at 100 TB a
    * viral item backbone-co-bought with thousands is exactly the
    * Σdeg² hazard); the oracle replays the identical rule, so outputs
    * are hash-exact on any corpus. Scale: the pair expansion is
    * bounded by ≤7 items/order; per-round frames ∝ surviving edges. */
  /** gr17's CONVERGED truss edge set, MEMOIZED per session: the
    * peel loop is eager (one count per round) and gr18 re-runs gr17's
    * whole chain for its community labels — the memo makes that reuse
    * structural (the dd06/coPurchaseLabels discipline). */
  private def trussEdges(s: SparkSession, d: String): DataFrame =
    memo(s, "trussEdges", d) {
      val p = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      var e = CacheScope.cached(
        p.as("x").join(p.as("y"),
            col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
          .groupBy(col("x.pk").as("d1"), col("y.pk").as("d2"))
          .agg(count(lit(1)).as("w"))
          .filter(col("w") >= 2)
          .select(col("d1"), col("d2")))
      // convergence scalar: peel is monotone-decreasing, so an
      // unchanged count IS the fixed point; error past the cap rather
      // than ship an under-peeled truss on a deeper graph
      var n = e.count()
      var converged = false
      var rounds = 0
      while (!converged) {
        rounds += 1
        if (rounds > 10) throw new IllegalStateException(
          s"gr17 truss peel not converged after 10 rounds ($n edges left)")
        e = CacheScope.cached(trussPeel(e, 1L, wedgeMaxDeg).truncated)
        val n2 = e.count()
        converged = n2 == n
        n = n2
      }
      e
    }

  def gr17KTruss(s: SparkSession, d: String): DataFrame = {
    val e = trussEdges(s, d)
    val deg = biAdj(e).groupBy(col("m")).agg(count(lit(1)).as("deg"))
    val hubs = deg.filter(col("deg") > wedgeMaxDeg).select(col("m"))
    val sup = commonNeighborPairs(e, wedgeMaxDeg)
    e.join(sup.withColumnRenamed("a", "d1").withColumnRenamed("b", "d2"),
        Seq("d1", "d2"), "left_outer")
      .join(hubs.select(col("m").as("d1"), lit(1).as("h1")), Seq("d1"), "left_outer")
      .join(hubs.select(col("m").as("d2"), lit(1).as("h2")), Seq("d2"), "left_outer")
      .select(col("d1"), col("d2"),
        coalesce(col("common"), lit(0L)).as("support"),
        when(col("h1").isNotNull || col("h2").isNotNull, "hub")
          .otherwise("exact").as("tier"))
  }

  /** gr18: truss communities — the named "product families" a catalog
    * pipeline actually ships: connected components of gr17's 3-truss
    * edge set (after the backbone + triadic-closure filters, a
    * component IS a coherent co-purchase family, not a giant blob —
    * running CC on the raw co-purchase graph yields one near-global
    * component and is useless). Composition of two verified kernels:
    * gr17's converged edge set feeds gr16's run-to-convergence
    * two-star CC (frames ∝ truss edges, O(log n) rounds); output adds
    * the family size per member. Oracle is algorithm-independent
    * (recursive-CTE min reachable id over the same unrolled truss
    * chain — the fixed point is the true partition). */
  def gr18TrussCommunities(s: SparkSession, d: String): DataFrame = {
    // the memoized converged edge set IS gr17's (d1, d2) row set —
    // gr17's report tail only decorates it with support/tier columns
    // (left-outer joins, cardinality-preserving), so reading the memo
    // skips both the peel loop and the decoration joins
    val truss = trussEdges(s, d)
    val labels = twoStarFrom(truss.select(col("d2").as("hi"), col("d1").as("lo")))
      .select(col("part_id"), col("component_id").as("community_id"))
    val sizes = labels.groupBy(col("community_id"))
      .agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("community_id"))
      .select(col("part_id"), col("community_id"), col("community_size"))
  }

  /** gr19: 2-HOP REACH — each document's dedup blast radius: how many
    * docs sit within two near-dup hops (gr04 scores PAIRS by shared
    * neighborhood; this is the per-NODE audience a purge or keeper
    * flip can touch transitively-soon, ranked before dd06's full
    * component view where everything in a family looks alike).
    * Expansion rides the same hub rule as every wedge op here:
    * middles with deg ≤ wedgeMaxDeg are enumerated exactly, hub
    * middles are skipped (their fan-out is the quadratic blow-up; the
    * oracle replays the identical rule so the outputs hash-match on
    * any corpus). One row per GRAPH NODE: degree, n_2hop_new (nodes
    * reached only via a middle, self and direct neighbors excluded —
    * 0 everywhere on a clean clique-shaped dup graph, which is itself
    * the audit: a nonzero says chain welds exist) and n_reach
    * (distinct nodes within ≤2 hops, the radius itself). Scale: two
    * self-joins of the (∝ near-dups) edge frame, the second bounded
    * by cap·deg per node. */
  def gr19TwoHopReach(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d)
    val bi = CacheScope.cached(e.unionByName(
      e.select(col("d2").as("d1"), col("d1").as("d2"))))
    val deg = bi.groupBy(col("d1")).agg(count(lit(1)).as("deg"))
    val safeMid = bi.join(
      deg.filter(col("deg") <= wedgeMaxDeg).select(col("d1")),
      Seq("d1"), "left_semi")
    // both consumers (reach union, new-at-2 anti-join) read this frame —
    // one cut spares the wedge join a second run
    val twoHop = CacheScope.cached(
      bi.select(col("d1").as("x"), col("d2").as("m"))
        .join(safeMid.select(col("d1").as("m"), col("d2").as("y")), Seq("m"))
        .filter(col("x") =!= col("y"))
        .select(col("x"), col("y")))
    val oneHop = bi.select(col("d1").as("x"), col("d2").as("y"))
    val reach = twoHop.unionByName(oneHop)
      .groupBy(col("x").as("doc_id"))
      .agg(countDistinct(col("y")).as("n_reach"))
    val newAt2 = twoHop
      .join(oneHop, Seq("x", "y"), "left_anti")
      .groupBy(col("x").as("doc_id"))
      .agg(countDistinct(col("y")).as("n_2hop_new"))
    reach
      .join(newAt2, Seq("doc_id"), "left_outer")
      .join(deg.select(col("d1").as("doc_id"), col("deg").as("degree")),
        Seq("doc_id"))
      .select(col("doc_id"), col("degree"),
        coalesce(col("n_2hop_new"), lit(0L)).as("n_2hop_new"),
        col("n_reach"))
  }
}
