package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model._
import graft.queries._
import graft.service.FlockService
import graft.store.EdgeStore
import graft.testgraph.TestGraph

/** Driver-verifiable queries over the FlockDB-shaped test graph (TestGraph derivation of
  * `events`). Each function here has a lockstep DuckDB oracle in [[SparkEntry.oracleSql]].
  * These exercise the library's operator surface (SURVEY.md §2) end-to-end.
  */
object GraphQueries {

  private val snapCols =
    Seq(col("graph_id"), col("source_id"), col("destination_id"),
      col("position"), col("updated_at"), col("state"))

  /** g41 — TIME-TRAVEL snapshot: the store as of the middle of the fixture's
    * `updated_at` span (writes land in [1000000, 1000500)). Half the log is newer than
    * the cut and must be invisible; edges whose only writes are newer disappear
    * entirely, edges with older writes roll back to their older LWW winner. One
    * method ([[EdgeStore.asOf]]) composes with the entire query surface — this entry
    * verifies the fold-over-prefix algebra end-to-end against the oracle.
    */
  def snapshotAsOf(spark: SparkSession, dir: String): DataFrame =
    TestGraph.store(spark, dir).asOf(AsOfTs).snapshot.select(snapCols: _*)

  /** Mid-span cut for g41 (fixture updated_at = 1000000 + (event_id·31) % 500). */
  val AsOfTs: Int = 1000249

  /** g42 — churn between two horizons: every edge whose LWW winner changed between
    * the g41 cut and a later one ([[EdgeStore.changedBetween]] — one grouped-max
    * fold over the `<= ts2` log prefix, both winners per key in a single
    * ObjectHashAggregate pass). The window [1000249, 1000400] leaves a newer tail
    * beyond ts2 that must stay invisible, exercising the upper cut too.
    */
  def churnBetween(spark: SparkSession, dir: String): DataFrame =
    TestGraph.store(spark, dir).changedBetween(AsOfTs, ChurnTs2)

  /** Upper cut for g42 — strictly inside the fixture span so writes newer than ts2
    * exist and must be excluded by the pushed scan predicate.
    */
  val ChurnTs2: Int = 1000400

  /** S7/S9 + §1.3 — the LWW snapshot (grouped max-by, one shuffle). */
  def lwwSnapshot(spark: SparkSession, dir: String): DataFrame =
    TestGraph.store(spark, dir).snapshot.select(snapCols: _*)

  /** S3/T1/T4 — per-vertex top-3 neighbors by recency (position desc), Normal only. */
  def adjacencyTopK(spark: SparkSession, dir: String): DataFrame = {
    val snap = TestGraph.store(spark, dir).snapshot
    val w = Window.partitionBy(col("graph_id"), col("source_id")).orderBy(col("position").desc)
    snap
      .filter(col("state") === State.Normal)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("graph_id"), col("source_id"), col("destination_id"), col("position"), col("rank"))
  }

  /** J1 — intersection (left-semi join): neighbors(1) ∩ neighbors(2), graph 1. */
  def intersection(spark: SparkSession, dir: String): DataFrame = {
    import Select.Ops
    (Select(1L, 1) intersect Select(2L, 1)).ids(TestGraph.store(spark, dir))
  }

  /** J2 — difference (left-anti join): neighbors(1) − neighbors(2), graph 1. */
  def difference(spark: SparkSession, dir: String): DataFrame = {
    import Select.Ops
    (Select(1L, 1) difference Select(2L, 1)).ids(TestGraph.store(spark, dir))
  }

  /** J3 — union (distinct): neighbors(1) ∪ neighbors(2), graph 1. */
  def union(spark: SparkSession, dir: String): DataFrame = {
    import Select.Ops
    (Select(1L, 1) union Select(2L, 1)).ids(TestGraph.store(spark, dir))
  }

  /** J1 at scale — reciprocal pairs (a→b ∧ b→a) over the full snapshot (no per-vertex
    * constants; survives 100×). One grouped aggregation on the unordered pair key — see
    * EdgeStore.reciprocal for why this beats the self-semi-join at scale.
    */
  def reciprocal(spark: SparkSession, dir: String): DataFrame =
    TestGraph.store(spark, dir).reciprocal(Seq(State.Normal))

  /** A1/A3 — per-vertex metadata (dominant state + count). */
  def metadata(spark: SparkSession, dir: String): DataFrame =
    TestGraph.store(spark, dir).metadata
      .select(col("graph_id"), col("source_id"), col("state"), col("count"), col("updated_at"))

  /** A4 — count2 estimates of the intersection, union and difference of vertices 1
    * and 2, per graph: ONE `FlockService.count2` batch, so every leaf cardinality is a
    * metadata row of the store restricted to those vertices (the reference reads
    * materialized per-vertex counts, never edge rows — `SimpleQuery.scala:24-27`).
    */
  def count2Estimates(spark: SparkSession, dir: String): DataFrame = {
    val graphs = 1 to 3
    val estimates = new FlockService(TestGraph.store(spark, dir)).count2(
      for (g <- graphs; op <- Seq(IntersectionOp, UnionOp, DifferenceOp))
        yield Seq(TermOp(QueryTerm(1L, g)), TermOp(QueryTerm(2L, g)), op))
    val rows = graphs.zip(estimates.grouped(3)).map { case (g, est) => Row(g +: est: _*) }
    val schema = StructType(Seq(
      StructField("graph_id", IntegerType, nullable = false),
      StructField("est_intersection", LongType, nullable = false),
      StructField("est_union", LongType, nullable = false),
      StructField("est_difference", LongType, nullable = false)
    ))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
  }

  /** T3 — keyset cursor page: neighbors of vertex 1 below the mid-position cursor. */
  def cursorPage(spark: SparkSession, dir: String): DataFrame = {
    // one vertex's adjacency is page-scale — materialize it once for the two passes
    // (cursor-pick aggregation + the page itself) instead of re-deriving per action
    val adj = TestGraph.store(spark, dir)
      .adjacency(QueryTerm(1L, 1))
      .select(col("neighbor_id"), col("position"))
      .localCheckpoint(true)
    val mm = adj.agg(min(col("position")), max(col("position"))).collect()(0)
    val cursor = (mm.getLong(0) + mm.getLong(1)) / 2
    Pagination.pageDF(adj, col("position"), Page(5, cursor))
  }

  /** P5 — `contains` projection: pairs whose current state means "exists" ({Normal, Negative}). */
  def containsSet(spark: SparkSession, dir: String): DataFrame =
    TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && State.existsCol(col("state")))
      .select(col("source_id"), col("destination_id"), col("state"))

  /** P3 — where-in probe: neighbors of vertex 1 restricted to an id list. */
  def whereIn(spark: SparkSession, dir: String): DataFrame =
    TestGraph.store(spark, dir)
      .adjacency(QueryTerm(1L, 1, isForward = true, destinationIds = Some((1L to 30L))))
      .select(col("neighbor_id"))

  /** W1/W2 — execute a derived batch of remove/archive ops, then re-snapshot. */
  def executeLww(spark: SparkSession, dir: String): DataFrame = {
    val store = TestGraph.compactedStore(spark, dir)
    val eid = col("event_id")
    val ops = spark.read.parquet(s"$dir/events.parquet")
      .filter(eid % 7 === 0)
      .select(
        (lit(1) + eid % 3).cast("int").as("graph_id"),
        col("user_id").as("source_id"),
        (lit(1) + (eid * 7919) % 97).as("destination_id"),
        when(eid % 2 === 0, State.Removed).otherwise(State.Archived).cast("int").as("state"),
        (lit(2000000) + eid % 100).cast("int").as("updated_at"),
        lit(null).cast("long").as("position")
      )
    store.applyOperations(ops).snapshot.select(snapCols: _*)
  }

  /** W3 — bulk wildcard archive (`Multi` job): archive every vertex ≡0 (mod 10) in graph 2. */
  def bulkArchive(spark: SparkSession, dir: String): DataFrame = {
    val store = TestGraph.compactedStore(spark, dir)
    val targets = store.snapshot
      .filter(col("graph_id") === 2 && col("source_id") % 10 === 0)
      .select(col("graph_id"), col("source_id"))
      .distinct()
      .select(
        col("graph_id"), col("source_id"),
        lit(null).cast("long").as("destination_id"),
        lit(State.Archived).cast("int").as("state"),
        lit(3000000).cast("int").as("updated_at"),
        lit(null).cast("long").as("position")
      )
    store.applyOperations(targets).snapshot.select(snapCols: _*)
  }

  /** J4 — nested compound query through the RPN compiler:
    * (neighbors(1) ∪ neighbors(2)) ∩ neighbors(3) on graph 1.
    */
  def nestedCompound(spark: SparkSession, dir: String): DataFrame = {
    val program = Seq(
      TermOp(QueryTerm(1L, 1)),
      TermOp(QueryTerm(2L, 1)),
      UnionOp,
      TermOp(QueryTerm(3L, 1)),
      IntersectionOp
    )
    SelectCompiler(program).ids(TestGraph.store(spark, dir))
  }

  /** F1/F4 — scalar functions: ordered-uuid position from updatedAt, its inverse, and
    * the graph/direction translation.
    */
  def uuidFunctions(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions._
    TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("source_id") === 1)
      .select(
        col("source_id"),
        col("destination_id"),
        positionFromUpdatedAt(col("updated_at")).as("uuid_position"),
        uuidToMillis(positionFromUpdatedAt(col("updated_at"))).as("millis_roundtrip"),
        directedGraphId(col("graph_id"), lit(false)).as("backward_graph_id")
      )
  }

  /** GraphX-style analytics: 3 unrolled PageRank iterations in FIXED-POINT integer
    * arithmetic (micro-units) — integer sums are order-independent, so the distributed
    * result hash-matches the oracle exactly (float PageRank would drift in summation
    * order). Graph 1, Normal edges, damping 85/100.
    */
  /** Loop-invariant fixpoint inputs shared by the PageRank-family kernels: the
    * degree-weighted Normal graph-1 edge list and the distinct vertex set, both
    * materialized ONCE with eager local checkpoints — lineage truncation keeps every
    * iteration's plan shallow (without it each join replays the LWW snapshot
    * aggregation; .cache() measured 4-5× SLOWER here), and hoisting the out-degree
    * join out of the loop removes 3 shuffles from the unrolled plan (measured
    * 5.1 s → 3.4 s at sf0.1).
    */
  private def weightedGraph(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val edges = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal)
      .select(col("source_id").as("src"), col("destination_id").as("dst"))
    val weighted = edges
      .join(edges.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
      .localCheckpoint(true)
    val vertices = weighted.select(col("src").as("v"))
      .unionByName(weighted.select(col("dst").as("v"))).distinct()
      .localCheckpoint(true)
    (weighted, vertices)
  }

  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val (weighted, vertices) = weightedGraph(spark, dir)
    val nVertices = vertices.count()
    val init = lit(1000000000000L / nVertices)

    // every arithmetic step is exact integer division (Spark `DIV` == DuckDB `//`);
    // float division would truncate differently between engines at scale
    var rank = vertices.select(col("v"), init.as("pr"))
    for (_ <- 1 to 3) {
      val contrib = weighted
        .join(rank.select(col("v").as("src"), col("pr")), "src")
        .select(col("dst").as("v"), expr("pr DIV deg").as("c"))
        .groupBy(col("v"))
        .agg(sum(col("c")).as("in_sum"))
      rank = vertices
        .join(contrib, Seq("v"), "left")
        .select(
          col("v"),
          (lit(150000000000L / nVertices) +
            expr("(COALESCE(in_sum, CAST(0 AS BIGINT)) * 85) DIV 100")).as("pr")
        )
    }
    rank.select(col("v").as("vertex_id"), col("pr").as("pagerank_fp"))
  }

  /** Personalized PageRank: the teleport mass lands only on a SEED set (here vertices
    * ≡ 0 mod 100 — in production the user's own adjacency or a topic set), giving
    * proximity-to-seeds scores for recommendation ("people you may know" over the
    * follow graph — the reference serves the underlying adjacency sets,
    * `/root/reference/doc/blog.md:34-40`). Same fixed-point integer kernel as
    * [[pageRank]]: exact integer division keeps the distributed sum order-independent
    * and oracle-reproducible.
    *
    * Scale shape: identical to pageRank — the degree-weighted edge list is
    * materialized once, each iteration is one equi-join + one map-side-combinable
    * aggregation; the rank relation never exceeds |V|.
    */
  def personalizedPageRank(spark: SparkSession, dir: String): DataFrame = {
    val (weighted, vertices) = weightedGraph(spark, dir)
    val isSeed = col("v") % 100 === 0
    val nSeeds = vertices.filter(isSeed).count()
    require(nSeeds > 0,
      "personalizedPageRank: no seed vertices (v % 100 == 0) in the graph — " +
        "teleport mass has nowhere to land; parameterize the seed predicate if needed")

    var rank = vertices.select(col("v"),
      when(isSeed, lit(1000000000000L / nSeeds)).otherwise(lit(0L)).as("pr"))
    for (_ <- 1 to 3) {
      val contrib = weighted
        .join(rank.select(col("v").as("src"), col("pr")), "src")
        .select(col("dst").as("v"), expr("pr DIV deg").as("c"))
        .groupBy(col("v"))
        .agg(sum(col("c")).as("in_sum"))
      rank = vertices
        .join(contrib, Seq("v"), "left")
        .select(
          col("v"),
          (when(isSeed, lit(150000000000L / nSeeds)).otherwise(lit(0L)) +
            expr("(COALESCE(in_sum, CAST(0 AS BIGINT)) * 85) DIV 100")).as("pr")
        )
    }
    rank.select(col("v").as("vertex_id"), col("pr").as("ppr_fp"))
  }

  /** g47 — Katz centrality, bounded rounds: c(v) = Σ_{t=1..T} β^t · |walks of length
    * t ending at v| (Katz 1953) — the attenuated-path-count complement of the
    * degree-normalized PageRank family: contributions are NOT divided by
    * out-degree, so a vertex followed by hubs scores by the hubs' full walk mass.
    * Fixed-point integer form: x_0 = 10⁶ per vertex (the ones-vector in micro
    * units), x_t(v) = (β_pct · Σ_{u→v} x_{t-1}(u)) DIV 100 with β = 50% — every
    * step exact integer arithmetic, so the distributed sums are order-independent
    * and the unrolled oracle reproduces the result to the hash. β < 1/λ_max is the
    * classic convergence condition; at T = 3 bounded rounds the sum is finite for
    * any β, and β = 1/2 keeps walk mass ≤ 10⁶·(deg_max/2)^3 — far from 64-bit
    * overflow on any real follow graph (and DuckDB would error loudly, not wrap).
    *
    * Scale shape: same loop discipline as [[pageRank]] — the edge list and vertex
    * set materialize ONCE (eager local checkpoints keep every iteration's plan
    * shallow), each round is one equi-join + one map-side-combinable aggregation,
    * and the iterated state never exceeds |V| rows.
    */
  def katzCentrality(spark: SparkSession, dir: String, betaPct: Long = 50L): DataFrame =
    katzOf(TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal)
      .select(col("source_id").as("src"), col("destination_id").as("dst")), betaPct)

  /** The edge-relation kernel of [[katzCentrality]] — input (src, dst) rows. */
  private[graft] def katzOf(edgesIn: DataFrame, betaPct: Long): DataFrame = {
    val edges = edgesIn.localCheckpoint(true)
    val vertices = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v"))).distinct()
      .localCheckpoint(true)

    var x = vertices.select(col("v"), lit(1000000L).as("x"))
    var katz = vertices.select(col("v"), lit(0L).as("acc"))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(x.select(col("v").as("src"), col("x")), "src")
        .groupBy(col("dst").as("v"))
        .agg(sum(col("x")).as("in_sum"))
      x = vertices
        .join(contrib, Seq("v"), "left")
        .select(col("v"),
          expr(s"(COALESCE(in_sum, CAST(0 AS BIGINT)) * $betaPct) DIV 100").as("x"))
      katz = katz.join(x, "v").select(col("v"), (col("acc") + col("x")).as("acc"))
    }
    katz.select(col("v").as("vertex_id"), col("acc").as("katz_fp"))
  }

  /** g48 — sampled-source betweenness centrality, bounded depth (the Brandes 2001
    * two-pass algorithm, landmark-sampled as in Brandes–Pich 2007): forward BFS
    * from every seed (vertices ≡ 0 mod `seedMod`, the g45 sampling convention)
    * accumulates shortest-path counts σ per level — EXACT integers, since σ at
    * level l is a sum of predecessor σ's; the backward pass folds the dependency
    * δ(v) = Σ_{w ∈ succ} (σ_v/σ_w)·(1 + δ_w) level by level with each per-edge
    * term micro-quantized as floor(σ_v·(10⁶ + δ_w) / σ_w + ½) — the numerator is
    * an exact long, the single division is the only float op, so both engines
    * fold identical integers and the distributed sums are order-independent.
    * Output: (vertex_id, btw_micro) summed over seeds; vertices on no sampled
    * shortest path are absent (implicitly 0). Depth 3 bounds the path length
    * scored — the k-bounded betweenness approximation.
    *
    * Scale shape: the same frontier-join discipline as g34/g39 — each forward
    * level is one equi-join + map-side-combinable σ-sum + an anti-join against
    * the visited set, each backward level one equi-join on (seed, successor);
    * state is (seeds × reached) rows, bounded by the seed sample and depth, and
    * every level materializes once (eager checkpoints keep the 6-step loop's
    * plan shallow). Sampling density and depth are the explicit cost knobs.
    */
  def betweennessSampled(spark: SparkSession, dir: String, seedMod: Long = 10L): DataFrame =
    betweennessOf(TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal)
      .select(col("source_id").as("src"), col("destination_id").as("dst")), seedMod)

  /** The edge-relation kernel of [[betweennessSampled]] — input (src, dst) rows. */
  private[graft] def betweennessOf(edgesIn: DataFrame, seedMod: Long): DataFrame = {
    val edges = edgesIn.localCheckpoint(true)
    val vertices = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v"))).distinct()

    val l0 = vertices.filter(col("v") % seedMod === 0)
      .select(col("v").as("s"), col("v"), lit(1L).as("sigma"))
      .localCheckpoint(true)
    var visited = l0.select(col("s"), col("v"))
    var frontier = l0
    val levels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to 3) {
      val nxt = frontier
        .join(edges, frontier("v") === edges("src"))
        .groupBy(col("s"), col("dst"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("s"), col("dst").as("v"), col("sigma"))
        .join(visited, Seq("s", "v"), "left_anti")
        .localCheckpoint(true)
      levels += nxt
      visited = visited.unionByName(nxt.select(col("s"), col("v"))).localCheckpoint(true)
      frontier = nxt
    }

    // backward dependency fold: δ of the deepest level is 0; each shallower level
    // joins its successors' (σ, δ) — absent δ (no deeper successors) reads 0
    def backStep(cur: DataFrame, next: DataFrame, nextDelta: DataFrame): DataFrame = {
      val succ = next.select(col("s"), col("v").as("w"), col("sigma").as("sw"))
        .join(nextDelta.select(col("s"), col("v").as("w"), col("delta")), Seq("s", "w"), "left")
        .select(col("s").as("ss"), col("w"), col("sw"), coalesce(col("delta"), lit(0L)).as("dw"))
      cur.select(col("s"), col("v"), col("sigma").as("sv"))
        .join(edges, col("v") === col("src"))
        .join(succ, col("s") === col("ss") && col("dst") === col("w"))
        .select(col("s"), col("v"),
          floor((col("sv") * (lit(1000000L) + col("dw"))).cast("double")
            / col("sw").cast("double") + lit(0.5)).cast("long").as("c"))
        .groupBy(col("s"), col("v"))
        .agg(sum(col("c")).as("delta"))
    }
    val empty3 = levels(2).select(col("s"), col("v"), lit(0L).as("delta")).limit(0)
    val d2 = backStep(levels(1), levels(2), empty3).localCheckpoint(true)
    val d1 = backStep(levels(0), levels(1), d2)
    d1.unionByName(d2)
      .groupBy(col("v"))
      .agg(sum(col("delta")).as("btw_micro"))
      .select(col("v").as("vertex_id"), col("btw_micro"))
  }

  /** Recency-decayed PageRank: edge weights decay with the age encoded in the edge's
    * ordered-UUID position (F1: epoch millis live in the high bits — reference
    * `UuidGenerator.scala:26-39`, inverse `Edge.scala:45`), so a vertex's score is
    * dominated by its RECENT followers — the production form of follow-graph
    * influence on a data model whose entire ordering is recency (the reference pages
    * adjacency by position descending). Positions derive from `updated_at` via the
    * store's own F1 rule ([[graft.functions.GraftFunctions.positionFromUpdatedAt]],
    * the same derivation the write path uses for position-less ops), and
    * `uuidToMillis` recovers the age — exercising the F1 pair end-to-end.
    *
    * Arithmetic: weight = 10000 DIV (1 + ageSeconds DIV tau) basis points (integer
    * hyperbolic decay); contributions are (pr · w) DIV wsum — exact integer ops only
    * (g17's discipline), so distributed sums are order-independent and hash-match the
    * oracle. pr ≤ 10¹², w ≤ 10⁴ ⇒ pr·w ≤ 10¹⁶, no overflow.
    *
    * Scale shape: identical to [[pageRank]] — the decay weight and the per-source
    * weight sum land in the checkpointed loop-invariant edge list (one extra
    * map-side-combinable aggregation + one join over g17's); each iteration is one
    * equi-join + one hash aggregation; max(ms) is a single-row driver scalar.
    */
  def decayedPageRank(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions._
    // materialized BEFORE the max-ms scalar: the scalar action and the weighted-list
    // build would otherwise each run the LWW fold (one fold, two cheap consumers)
    val edges = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal)
      .select(col("source_id").as("src"), col("destination_id").as("dst"),
        uuidToMillis(positionFromUpdatedAt(col("updated_at"))).as("ms"))
      .localCheckpoint(true)
    val maxRow = edges.agg(max(col("ms"))).head()
    require(!maxRow.isNullAt(0),
      "decayedPageRank: no graph-1 Normal edges — no reference time to decay against")
    val maxMs = maxRow.getLong(0)
    val tau = 60L // seconds per decay step; fixture updated_at spans ~500 s
    // floor at 1: past ~10000·tau s of age the hyperbolic weight truncates to 0, and
    // a source whose edges are ALL that stale would otherwise divide by wsum = 0
    val decayed = edges.withColumn("w",
      expr(s"GREATEST(1L, 10000 DIV (1 + (($maxMs - ms) DIV 1000) DIV $tau))"))
    val weighted = decayed
      .join(decayed.groupBy(col("src")).agg(sum(col("w")).as("wsum")), "src")
      .localCheckpoint(true)
    val vertices = weighted.select(col("src").as("v"))
      .unionByName(weighted.select(col("dst").as("v"))).distinct()
      .localCheckpoint(true)
    val nVertices = vertices.count()

    var rank = vertices.select(col("v"), lit(1000000000000L / nVertices).as("pr"))
    for (_ <- 1 to 3) {
      val contrib = weighted
        .join(rank.select(col("v").as("src"), col("pr")), "src")
        .select(col("dst").as("v"), expr("(pr * w) DIV wsum").as("c"))
        .groupBy(col("v"))
        .agg(sum(col("c")).as("in_sum"))
      rank = vertices
        .join(contrib, Seq("v"), "left")
        .select(
          col("v"),
          (lit(150000000000L / nVertices) +
            expr("(COALESCE(in_sum, CAST(0 AS BIGINT)) * 85) DIV 100")).as("pr")
        )
    }
    rank.select(col("v").as("vertex_id"), col("pr").as("dpr_fp"))
  }

  /** Bounded weighted shortest paths from a seed SET (Bellman–Ford, `rounds` pinned
    * relaxations): seeds are vertices ≡ 0 (mod 100) at distance 0 (the g32 seed
    * idiom); edge weight = 1 + destination_id % 7, deterministic positive integers.
    * After r rounds every vertex reachable within r hops reports its exact ≤ r-hop
    * shortest distance — the weighted complement of g34's unweighted BFS (full SSSP
    * iterates to fixpoint; rounds are pinned so the oracle replays, the d05/g27
    * discipline).
    *
    * Scale shape per round: one equi-join of the edge list against the current
    * distance relation + one map-side-combinable min aggregation; lineage truncates
    * per round with an eager checkpoint. (Production refinement at high round
    * counts: relax only the vertices whose distance CHANGED last round — same plan
    * shape with a smaller join input; at pinned small round counts the full-relation
    * join is the simpler equivalent.)
    */
  def boundedSssp(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    val edges = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal)
      .select(col("source_id").as("src"), col("destination_id").as("dst"),
        (lit(1L) + col("destination_id") % 7).as("w"))
      .localCheckpoint(true)
    val seeds = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v")))
      .distinct()
      .filter(col("v") % 100 === 0)
    ssspOf(edges, seeds, rounds)
  }

  /** Kernel of [[boundedSssp]] over a weighted (src, dst, w) relation and a seed
    * vertex set. At low round counts the full-relation Bellman–Ford is the simpler
    * equivalent; above [[FrontierSsspMinRounds]] the frontier-delta form takes over
    * (relax only the vertices whose distance CHANGED last round) — at high round
    * counts on a converging graph the frontier shrinks toward empty while the full
    * relation stays graph-sized, so the per-round join input (and its shuffle) is
    * the delta, not the graph. Results are identical by the standard delta
    * Bellman–Ford argument: a vertex not improved in round i was already relaxed
    * from in round i+1 of an earlier improvement, so re-relaxing it cannot lower
    * any neighbor's distance (FrontierSsspSpec pins equality round-for-round).
    */
  def ssspOf(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    if (rounds >= FrontierSsspMinRounds)
      ssspFrontierImpl(edges, seeds, rounds, _.localCheckpoint(true))
    else ssspImpl(edges, seeds, rounds, _.localCheckpoint(true))

  /** Round count at which [[ssspOf]] switches to the frontier-delta form. */
  private[graft] val FrontierSsspMinRounds = 4

  /** Uncheckpointed [[ssspOf]] for PlanSpec (the plannedKTruss pattern). */
  private[graft] def plannedSssp(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    ssspImpl(edges, seeds, rounds, identity)

  /** Uncheckpointed frontier-delta variant for PlanSpec. */
  private[graft] def plannedSsspFrontier(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    ssspFrontierImpl(edges, seeds, rounds, identity)

  /** Frontier-delta form, exposed for direct comparison at any round count. */
  private[graft] def ssspFrontierOf(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    ssspFrontierImpl(edges, seeds, rounds, _.localCheckpoint(true))

  private def ssspImpl(
      edges: DataFrame, seeds: DataFrame, rounds: Int, mat: DataFrame => DataFrame): DataFrame = {
    var dist = seeds.select(col("v"), lit(0L).as("d"))
    for (_ <- 1 to rounds) {
      val relaxed = edges
        .join(dist.select(col("v").as("src"), col("d").as("ds")), "src")
        .select(col("dst").as("v"), (col("ds") + col("w")).as("d"))
      dist = mat(dist.unionByName(relaxed)
        .groupBy(col("v")).agg(min(col("d")).as("d")))
    }
    dist.select(col("v").as("vertex_id"), col("d").as("dist"))
  }

  /** Delta Bellman–Ford: per round, relax edges out of LAST round's improved set
    * only, keep the candidates that strictly lower (or newly set) a distance, and
    * patch them into the distance relation with an anti-join + union (no re-fold of
    * unimproved keys). Scale shape per round: one equi-join of edges against the
    * FRONTIER (delta-sized), one map-side-combinable min, one broadcast-eligible
    * patch join — at 100 TB the round cost tracks how much of the graph is still
    * changing, not the graph.
    */
  private def ssspFrontierImpl(
      edges: DataFrame, seeds: DataFrame, rounds: Int, mat: DataFrame => DataFrame): DataFrame = {
    var dist = mat(seeds.select(col("v"), lit(0L).as("d")))
    var frontier = dist
    for (_ <- 1 to rounds) {
      val candidates = edges
        .join(frontier.select(col("v").as("src"), col("d").as("ds")), "src")
        .select(col("dst").as("v"), (col("ds") + col("w")).as("d"))
        .groupBy(col("v")).agg(min(col("d")).as("d"))
      // improved stays LAZY (a checkpointed union child carries origin constraints
      // that reference pre-checkpoint attribute ids and break Union constraint
      // rewriting); it evaluates once, inside the checkpoint of the patched dist
      val improved = candidates.alias("r")
        .join(dist.select(col("v"), col("d").as("cur")), Seq("v"), "left")
        .filter(col("cur").isNull || col("r.d") < col("cur"))
        .select(col("v"), col("r.d").as("d"))
      val prev = dist
      dist = mat(prev.join(improved.select(col("v")), Seq("v"), "left_anti")
        .unionByName(improved))
      // the next frontier is the DIFF of the two materialized dist generations
      // (new vertex, or strictly lower d) — content-equal to `improved`, but a
      // depth-1 lazy plan over two checkpoints, so high round counts can't chain
      // lazy frontiers into an ever-deeper recompute (the ccFrontierLoop
      // discipline; distances only decrease, so `<` plus null IS the full diff)
      frontier = dist.alias("n")
        .join(prev.select(col("v"), col("d").as("pd")), Seq("v"), "left")
        .filter(col("pd").isNull || col("n.d") < col("pd"))
        .select(col("v"), col("n.d").as("d"))
    }
    dist.select(col("v").as("vertex_id"), col("d").as("dist"))
  }

  /** g40 — bounded-round synchronous label propagation (Raghavan/Albert/Kumara 2007):
    * community detection by iterated neighbor-majority vote. Every vertex starts
    * labeled with its own id; each round it adopts the most frequent label among its
    * neighbors, tie-broken (count desc, label asc) — a total order, so the rounds
    * replay bit-for-bit in any engine (the d05/g27 pinned-round discipline; full LPA
    * iterates until labels stabilize, with the same per-round plan).
    *
    * Scale shape per round: one equi-join of the undirected adjacency against the
    * |V|-sized label relation, one map-side-combinable (vertex, label) count, and a
    * per-vertex argmax whose WindowGroupLimit prunes to one row per vertex BEFORE
    * the window shuffle; lineage truncates per round with an eager checkpoint.
    */
  def lpaCommunities(spark: SparkSession, dir: String, rounds: Int = 4): DataFrame = {
    val snap = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal &&
        col("source_id") =!= col("destination_id"))
      .select(col("source_id").as("src"), col("destination_id").as("dst"))
    val adj = snap
      .unionByName(snap.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    lpaImpl(adj, rounds, _.localCheckpoint(true))
  }

  /** Uncheckpointed [[lpaCommunities]] kernel for PlanSpec (the plannedKTruss
    * pattern).
    */
  private[graft] def plannedLpa(adj: DataFrame, rounds: Int): DataFrame =
    lpaImpl(adj, rounds, identity)

  private def lpaImpl(
      adj: DataFrame, rounds: Int, mat: DataFrame => DataFrame): DataFrame = {
    var labels = adj.select(col("src").as("v"), col("src").as("label")).distinct()
    val w = Window.partitionBy(col("v")).orderBy(col("c").desc, col("label").asc)
    for (_ <- 1 to rounds) {
      labels = mat(adj
        .join(labels.select(col("v").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("v"), col("label"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("v"), col("label")))
    }
    labels.select(col("v").as("vertex_id"), col("label").as("community"))
  }

  /** g46 — Newman modularity of the g40 LPA communities: per community c,
    * q_part = e_c/m − (d_c/2m)² (internal-edge fraction minus the random-graph
    * expectation), whose sum over communities is THE standard quality score Q of a
    * partition — the metric that turns g40 from "labels converged" into "labels
    * mean something" (Q near 0 ⇒ no better than random; the g40/g22 family was
    * previously unscored). Undirected simple graph, both engines on the same
    * lo<hi edge set.
    *
    * Determinism: e_c, d_c, m, and vertex counts are exact integers; q_part is one
    * fixed double sequence (two divisions, one multiply, one subtract) per
    * community, micro-quantized — the sk09 discipline.
    *
    * Scale shape: inherits g40's bounded LPA rounds; the scoring adds two
    * community-keyed map-side-combinable aggs (internal edges, degree mass), the
    * single-row m total broadcast in, and the per-community rollup — nothing
    * beyond |communities| rows past the LPA join.
    */
  def modularity(spark: SparkSession, dir: String, rounds: Int = 4): DataFrame = {
    val snap = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal &&
        col("source_id") =!= col("destination_id"))
      .select(col("source_id").as("src"), col("destination_id").as("dst"))
    val und = snap.select(
        least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .distinct()
      .localCheckpoint(true) // consumers: the LPA adjacency, m total, degrees, internal edges
    // ONE snapshot fold feeds both the partition and the scoring: the symmetric
    // closure of the distinct lo<hi set IS lpaCommunities' adjacency, so the LPA
    // runs off the same checkpoint instead of re-folding the store (measured ~1 s
    // of duplicate LWW work at sf0.1 in the composed form)
    val adj = und.select(col("lo").as("src"), col("hi").as("dst"))
      .unionByName(und.select(col("hi").as("src"), col("lo").as("dst")))
      .localCheckpoint(true)
    val comm = lpaImpl(adj, rounds, _.localCheckpoint(true))
      .select(col("vertex_id").as("v"), col("community"))
      .localCheckpoint(true) // three consumers: both edge ends and the degree join
    modularityOf(und, comm)
  }

  /** The scoring kernel of [[modularity]] over any (lo, hi) edge set and any
    * (v, community) partition — split out so a planted-partition test can
    * cross-validate the arithmetic directly.
    */
  private[graft] def modularityOf(und: DataFrame, comm: DataFrame): DataFrame = {
    val mRow = und.agg(count(lit(1)).as("m"))
    val deg = und.select(col("lo").as("v")).unionByName(und.select(col("hi").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))
    val dSum = deg.join(comm, "v")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_vertices"), sum(col("degree")).as("d_sum"))
    val eIn = und
      .join(comm.select(col("v").as("lo"), col("community").as("c_lo")), "lo")
      .join(comm.select(col("v").as("hi"), col("community").as("c_hi")), "hi")
      .filter(col("c_lo") === col("c_hi"))
      .groupBy(col("c_lo").as("community"))
      .agg(count(lit(1)).as("e_in"))
    val mD = col("m").cast("double")
    val qPart = col("e_in").cast("double") / mD -
      (col("d_sum").cast("double") / (lit(2.0) * mD)) *
        (col("d_sum").cast("double") / (lit(2.0) * mD))
    dSum
      .join(eIn, Seq("community"), "left_outer")
      .select(col("community"), col("n_vertices"), col("d_sum"),
        coalesce(col("e_in"), lit(0L)).as("e_in"))
      .crossJoin(broadcast(mRow))
      .select(
        col("community"), col("n_vertices"), col("e_in"), col("d_sum"),
        floor(lit(1000000.0) * qPart + lit(0.5)).cast("long").as("q_part_micro"))
  }

  /** g65 — MODULARITY-GUARDED LOCAL-MOVE REFINEMENT of the g40 partition: one
    * (or a few) synchronous Louvain-style local-move rounds (Blondel et al.
    * 2008's phase-1 step, run once over the LPA labels), each round ACCEPTED
    * only if g46's exact modularity does not decrease. LPA optimizes nothing —
    * its majority vote with label-asc tie-breaks mislabels tied boundary
    * vertices (a vertex with equal pull from two communities always joins the
    * lower label, even when the modularity gain points the other way); this
    * pass re-places every vertex by the actual Q gain and keeps the result
    * only when the score agrees.
    *
    * The per-vertex move rule, exact-integer end to end: moving v (degree d_v)
    * into community c scores `2m·k_{v,c} − d_v·Σ'_c` (the standard ΔQ
    * numerator ×2m², so the argmax needs no floats), where Σ'_c is c's degree
    * mass with v's own excluded when c is v's current home; v moves only on a
    * STRICT improvement over staying (ties stay put — the synchronous-swap
    * oscillation guard), tie-broken (score desc, community asc). The
    * acceptance gate then compares Σ q_part_micro (g46's exact micro sum)
    * before and after: a round with no moves or a non-improving score ends the
    * loop with the previous partition (the g57/g61 bounded-round discipline;
    * the probes are 1-row driver reads). Overflow bound (the g62/s33
    * convention): 2·m·k and d_v·Σ_c stay inside int64 while m·max_degree
    * < 4.6·10¹⁸ — any real graph; past that, DecimalType both sides.
    *
    * Output: the accepted partition in g46's exact shape (community,
    * n_vertices, e_in, d_sum, q_part_micro).
    *
    * Scale shape: one k_{v,c} map-side-combinable count per round (the LPA
    * join's own shape), two catalog-thin joins for the score, a per-vertex
    * argmax window, and the g46 scoring kernel — nothing beyond the LPA
    * round's own cost; every round's partition is checkpointed.
    */
  def modularityRefined(
      spark: SparkSession,
      dir: String,
      lpaRounds: Int = 4,
      refineRounds: Int = 1
  ): DataFrame = {
    require(refineRounds >= 1, s"modularityRefined: refineRounds must be >= 1, got $refineRounds")
    val snap = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal &&
        col("source_id") =!= col("destination_id"))
      .select(col("source_id").as("src"), col("destination_id").as("dst"))
    val und = snap.select(
        least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .distinct()
      .localCheckpoint(true)
    val adj = und.select(col("lo").as("src"), col("hi").as("dst"))
      .unionByName(und.select(col("hi").as("src"), col("lo").as("dst")))
      .localCheckpoint(true)
    val lpa = lpaImpl(adj, lpaRounds, _.localCheckpoint(true))
      .select(col("vertex_id").as("v"), col("community"))
      .localCheckpoint(true)
    refineByModularity(und, lpa, refineRounds)
  }

  /** Kernel form of [[modularityRefined]] over an explicit (lo, hi) edge set
    * and a starting (v, community) partition — the planted-boundary test and
    * the monotone-law property enter here.
    */
  private[graft] def refineByModularity(
      und: DataFrame,
      start: DataFrame,
      refineRounds: Int
  ): DataFrame =
    modularityOf(und, refinePartition(und, start, refineRounds))

  /** The exact micro-Q sum of a partition — the g65/g66 acceptance probe (1-row
    * driver read, the g57 convergence-signature discipline).
    */
  private def qSumOf(und: DataFrame, comm: DataFrame): Long =
    modularityOf(und, comm)
      .agg(coalesce(sum(col("q_part_micro")), lit(0L)).cast("long"))
      .collect()(0).getLong(0)

  /** [[refineByModularity]]'s accepted PARTITION (v, community) — g66's level-2
    * aggregation starts from this relation rather than the scored rollup.
    */
  private[graft] def refinePartition(
      und: DataFrame,
      start: DataFrame,
      refineRounds: Int
  ): DataFrame = {
    var comm = start.localCheckpoint(true)
    var q = qSumOf(und, comm)
    var done = false
    var r = 0
    while (r < refineRounds && !done) {
      val moved = localMoveRound(und, comm).localCheckpoint(true)
      val nMoves = moved
        .join(comm.select(col("v"), col("community").as("old_c")), Seq("v"))
        .filter(col("community") =!= col("old_c"))
        .count() // 1-row probe, the g57 convergence-signature discipline
      if (nMoves == 0L) done = true
      else {
        val q2 = qSumOf(und, moved)
        if (q2 >= q) { comm = moved; q = q2 } else done = true
      }
      r += 1
    }
    comm
  }

  /** One synchronous local-move round: every vertex to its strict-best
    * community by the exact-integer score (see [[modularityRefined]]); the
    * returned relation is the FULL partition (unmoved vertices keep their
    * label).
    */
  private[graft] def localMoveRound(und: DataFrame, comm: DataFrame): DataFrame = {
    val adj = und.select(col("lo").as("src"), col("hi").as("dst"))
      .unionByName(und.select(col("hi").as("src"), col("lo").as("dst")))
    val mRow = und.agg(count(lit(1)).as("m"))
    val deg = adj.groupBy(col("src").as("v")).agg(count(lit(1)).as("d"))
    val dc = deg.join(comm, "v")
      .groupBy(col("community")).agg(sum(col("d")).as("d_c"))
    val k = adj
      .join(comm.select(col("v").as("dst"), col("community").as("c")), "dst")
      .groupBy(col("src").as("v"), col("c")).agg(count(lit(1)).as("k"))
    val stay = comm.select(col("v"), col("community").as("a"))
      .join(deg, "v")
      .join(dc.select(col("community").as("a"), col("d_c").as("d_a")), "a")
      .join(k.select(col("v"), col("c").as("a"), col("k").as("k_a")), Seq("v", "a"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("v"), col("a"), col("d"),
        (lit(2L) * col("m") * coalesce(col("k_a"), lit(0L))
          - col("d") * (col("d_a") - col("d"))).as("stay_score"))
    val wBest = Window.partitionBy(col("v")).orderBy(col("score").desc, col("c").asc)
    val best = k
      .join(stay, Seq("v"))
      .filter(col("c") =!= col("a"))
      .join(dc.select(col("community").as("c"), col("d_c")), "c")
      .crossJoin(broadcast(mRow))
      .select(col("v"), col("c"),
        (lit(2L) * col("m") * col("k") - col("d") * col("d_c")).as("score"),
        col("stay_score"))
      .filter(col("score") > col("stay_score")) // strict: ties stay put
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("v"), col("c"))
    comm.join(best, Seq("v"), "left")
      .select(col("v"), coalesce(col("c"), col("community")).as("community"))
  }

  /** g66 — LOUVAIN LEVEL-2: the aggregation step that makes [[modularityRefined]]
    * the full multi-level algorithm (Blondel et al. 2008's phase 2 + one phase-1
    * round on the condensed graph). The accepted g65 partition is collapsed into a
    * SUPER-GRAPH — one vertex per community, inter-community edge weights w_CL =
    * the count of original edges between them (each community's OWN weighted
    * degree is exactly its member-degree mass d_C, so no self-loop relation is
    * materialized) — and one strict-improvement weighted local-move round runs at
    * that level: merging C into L scores `2m·w_CL − d_C·d_L` (the weighted ΔQ
    * numerator ×2m²; staying scores 0 because a singleton super-vertex has no
    * in-community mass besides itself), argmax tie-broken (score desc, L asc).
    * Merges are ORIENTED — only the larger-id community may merge into the
    * smaller (the parallel-Louvain anti-swap rule): the pair score is symmetric,
    * so an unoriented synchronous round would fire both directions of every
    * profitable pair and SWAP the labels instead of merging them.
    * Whole-community merges repair exactly what vertex-local moves cannot: two
    * halves of one true community that LPA split are glued in ONE move, where g65
    * would have to migrate members one by one (and each lone migration can score
    * negative). The merged labels project back to vertices, and the same
    * acceptance gate as g65 keeps the result only if the exact micro-Q sum does
    * not decrease (synchronous A→B while B→C merges can in principle regress; the
    * gate makes the output monotone by construction).
    *
    * Exact-integer end to end: m, w_CL, d_C are counts; `2m·w` and `d_C·d_L` stay
    * inside int64 while m² < 9.2·10¹⁸ (m < 3·10⁹ edges — the g62/s33 documented
    * bound; past that, DecimalType both sides).
    *
    * Output: the accepted partition in g46's exact shape (community, n_vertices,
    * e_in, d_sum, q_part_micro).
    *
    * Scale shape: the super-graph is CATALOG-sized (|communities|² worst case,
    * |communities| ≈ hundreds) — built by one fact-side double-join + hash-agg;
    * the move round, argmax window, and gate probes all run on that catalog. The
    * expensive relations (und, adj, the LPA rounds, the level-1 refinement) are
    * exactly g65's own cost, checkpointed at each step.
    */
  def louvainAggregated(
      spark: SparkSession,
      dir: String,
      lpaRounds: Int = 4
  ): DataFrame = {
    val snap = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal &&
        col("source_id") =!= col("destination_id"))
      .select(col("source_id").as("src"), col("destination_id").as("dst"))
    val und = snap.select(
        least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .distinct()
      .localCheckpoint(true)
    val adj = und.select(col("lo").as("src"), col("hi").as("dst"))
      .unionByName(und.select(col("hi").as("src"), col("lo").as("dst")))
      .localCheckpoint(true)
    val lpa = lpaImpl(adj, lpaRounds, _.localCheckpoint(true))
      .select(col("vertex_id").as("v"), col("community"))
      .localCheckpoint(true)
    val p1 = refinePartition(und, lpa, refineRounds = 1).localCheckpoint(true)
    val q1 = qSumOf(und, p1)
    val p2 = aggregateMoveRound(und, p1).localCheckpoint(true)
    val nMerges = p2
      .join(p1.select(col("v"), col("community").as("old_c")), Seq("v"))
      .filter(col("community") =!= col("old_c"))
      .count() // 1-row probe, the g57 discipline
    val accepted =
      if (nMerges > 0L && qSumOf(und, p2) >= q1) p2 else p1
    modularityOf(und, accepted)
  }

  /** One weighted local-move round on the community super-graph of `comm` —
    * the level-2 kernel of [[louvainAggregated]]; the planted split-community
    * test enters here. Returns the FULL vertex partition with merged labels.
    */
  private[graft] def aggregateMoveRound(und: DataFrame, comm: DataFrame): DataFrame = {
    val adj = und.select(col("lo").as("src"), col("hi").as("dst"))
      .unionByName(und.select(col("hi").as("src"), col("lo").as("dst")))
    val mRow = und.agg(count(lit(1)).as("m"))
    val deg = adj.groupBy(col("src").as("v")).agg(count(lit(1)).as("d"))
    // the super-vertex weighted degree = its member-degree mass (2·intra + inter)
    val dc = deg.join(comm, "v")
      .groupBy(col("community")).agg(sum(col("d")).as("d_c"))
      .localCheckpoint(true) // catalog-sized; consumed by both sides of the score
    // inter-community super-edges: one fact-side double-join, then catalog agg
    val e2 = und
      .join(comm.select(col("v").as("lo"), col("community").as("c_lo")), "lo")
      .join(comm.select(col("v").as("hi"), col("community").as("c_hi")), "hi")
      .filter(col("c_lo") =!= col("c_hi"))
      .select(least(col("c_lo"), col("c_hi")).as("l2"),
        greatest(col("c_lo"), col("c_hi")).as("h2"))
      .groupBy(col("l2"), col("h2")).agg(count(lit(1)).as("w"))
    // ORIENTED merges — only the larger-id community may merge into the smaller
    // (the parallel-Louvain anti-swap rule): the score is symmetric in (C, L), so
    // an unoriented synchronous round would fire BOTH directions of a profitable
    // pair and swap their labels instead of merging them
    val pairs = e2.select(col("h2").as("c"), col("l2").as("l"), col("w"))
    val wBest = Window.partitionBy(col("c")).orderBy(col("score").desc, col("l").asc)
    val merges = pairs
      .join(dc.select(col("community").as("c"), col("d_c")), "c")
      .join(dc.select(col("community").as("l"), col("d_c").as("d_l")), "l")
      .crossJoin(broadcast(mRow))
      .select(col("c"), col("l"),
        (lit(2L) * col("m") * col("w") - col("d_c") * col("d_l")).as("score"))
      .filter(col("score") > 0L) // strict: a singleton's stay score is exactly 0
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("c"), col("l"))
    comm.join(merges.select(col("c").as("community"), col("l")), Seq("community"), "left")
      .select(col("v"), coalesce(col("l"), col("community")).as("community"))
  }

  /** W2 — vertex-state domination end-to-end: batch 1 wildcard-archives every graph-1
    * vertex ≡0 (mod 7) (writing its forward LWW register and archiving its live edges);
    * batch 2 then replays single-edge adds from every vertex ≡0 (mod 3). Adds whose
    * source vertex is archived resolve to Archived, not Normal — effective state =
    * max(fwdVertexState, bwdVertexState, preferred) (reference
    * `jobs/single/Single.scala:104-107`, matrix `unit/JobSpec.scala:126-148`).
    */
  def vertexDomination(spark: SparkSession, dir: String): DataFrame =
    vertexDominationImpl(spark, dir, fused = true)

  /** Two-batch form of [[vertexDomination]] — the reference's literal shape (archive
    * job, then replayed adds). LwwSpec pins result equality with the fused default.
    */
  private[graft] def vertexDominationTwoBatch(spark: SparkSession, dir: String): DataFrame =
    vertexDominationImpl(spark, dir, fused = false)

  /** The two batches fuse into ONE `applyOperations` call by default: their
    * timestamps are disjoint (2000000 < 2500000) so LWW ordering is unchanged,
    * same-batch registers are visible to same-batch edge writes (the reference
    * applies Multi metadata writes before its fanned-out Singles), batch 1 never
    * creates edges or refreshes positions (archival keeps positions; expansion only
    * touches existing edges), and batch 2's dominated effective states are
    * identical either way — so the position rule reads the same (old_position,
    * old_state, op.state) triple against the pre-batch snapshot as it would against
    * the intermediate one. Fusing halves the write-path cost: one eager-checkpoint
    * fold + one key-pruned join pipeline instead of two in sequence.
    */
  private def vertexDominationImpl(spark: SparkSession, dir: String, fused: Boolean): DataFrame = {
    // batches and the final read touch only graph 1 — the whole pipeline runs on the
    // graph-pruned store (compaction, write folds, and snapshot scan one graph; the
    // g20 discipline, see whereGraph scaladoc)
    val store = graft.store.EdgeStore(
      TestGraph.store(spark, dir).whereGraph(1).snapshot.localCheckpoint(eager = true))
    val sources = store.snapshot
      .select(col("graph_id"), col("source_id"))
      .distinct()
    val batch1 = sources
      .filter(col("source_id") % 7 === 0)
      .select(
        col("graph_id"), col("source_id"),
        lit(null).cast("long").as("destination_id"),
        lit(State.Archived).cast("int").as("state"),
        lit(2000000).cast("int").as("updated_at"),
        lit(null).cast("long").as("position")
      )
    val batch2 = sources
      .filter(col("source_id") % 3 === 0)
      .select(
        col("graph_id"), col("source_id"),
        (lit(1) + (col("source_id") * 13) % 97).as("destination_id"),
        lit(State.Normal).cast("int").as("state"),
        lit(2500000).cast("int").as("updated_at"),
        lit(null).cast("long").as("position")
      )
    val written =
      if (fused) store.applyOperations(batch1.unionByName(batch2))
      else store.applyOperations(batch1).applyOperations(batch2)
    written.snapshot
      .select(snapCols: _*)
  }

  /** W2/W3 backward direction end-to-end: batch 1 wildcard-archives graph-2 vertices
    * ≡0 (mod 5) BACKWARD (their backward register + all their INCOMING edges); batch 2
    * replays backward single adds (term (sourceId=v, destinationIds=[d], backward) ⇒
    * edge (d, v) — reference `ExecuteCompiler.scala:86-99`), dominated by the target
    * vertex's backward register.
    */
  def backwardOps(spark: SparkSession, dir: String): DataFrame = {
    // graph-2-only pipeline — graph-pruned store, the g20 discipline
    val store = graft.store.EdgeStore(
      TestGraph.store(spark, dir).whereGraph(2).snapshot.localCheckpoint(eager = true))
    val destVertices = store.snapshot
      .select(col("graph_id"), col("destination_id").as("vertex_id"))
      .distinct()
    val batch1 = destVertices
      .filter(col("vertex_id") % 5 === 0)
      .select(
        col("graph_id"), col("vertex_id").as("source_id"),
        lit(null).cast("long").as("destination_id"),
        lit(State.Archived).cast("int").as("state"),
        lit(2100000).cast("int").as("updated_at"),
        lit(null).cast("long").as("position"),
        lit(false).as("is_forward")
      )
    val batch2 = destVertices
      .filter(col("vertex_id") % 3 === 0)
      .select(
        col("graph_id"), col("vertex_id").as("source_id"),
        (lit(1) + (col("vertex_id") * 11) % 150).as("destination_id"),
        lit(State.Normal).cast("int").as("state"),
        lit(2600000).cast("int").as("updated_at"),
        lit(null).cast("long").as("position"),
        lit(false).as("is_forward")
      )
    store.applyOperations(batch1).applyOperations(batch2)
      .snapshot
      .select(snapCols: _*)
  }

  /** S12/A1 with first-class registers: wildcard-archive graph-3 vertices ≡0 (mod 4)
    * plus two vertices with NO edges at all, then read metadata. Register vertices
    * report the register's state/time with the count of edges in that state (0 for the
    * edgeless ones — unrepresentable without a vertex-level register); others fall back
    * to the derived dominant state.
    */
  def metadataRegisters(spark: SparkSession, dir: String): DataFrame = {
    // the batch only touches graph 3 and only graph-3 metadata is read, so the whole
    // pipeline runs against the graph-pruned store view: the predicate reaches the log
    // scans (whereGraph scaladoc — filtering AFTER metadata cannot cross its full-outer
    // register join, so every fold would process all three graphs to report one).
    // Pruning sits BELOW the compaction fold too: only graph 3 is folded/materialized
    // (on graph-partitioned storage this is one partition directory, not the store)
    val store = graft.store.EdgeStore(
      TestGraph.store(spark, dir).whereGraph(3).snapshot.localCheckpoint(eager = true))
    val targets = store.snapshot
      .filter(col("source_id") % 4 === 0)
      .select(col("graph_id"), col("source_id"))
      .distinct()
      .unionByName(
        spark.range(2).select(
          lit(3).cast("int").as("graph_id"),
          (col("id") + 1000001L).as("source_id"))
      )
    val batch = targets.select(
      col("graph_id"), col("source_id"),
      lit(null).cast("long").as("destination_id"),
      lit(State.Archived).cast("int").as("state"),
      lit(2200000).cast("int").as("updated_at"),
      lit(null).cast("long").as("position")
    )
    store.applyOperations(batch).metadata
      .select(col("graph_id"), col("source_id"), col("state"), col("count"), col("updated_at"))
  }

  /** Bounded k-core peeling over the undirected closure of graph-1 Normal edges: each
    * round drops vertices with degree < k and their edges; survivors after `rounds`
    * rounds are reported with their residual degree. The community-mining / spam-ring
    * primitive (the full k-core is this iterated to fixpoint; rounds are pinned so the
    * oracle replays exactly — the d05 discipline for iterative kernels).
    *
    * Scale shape per round: one map-side-combinable degree aggregation + two
    * broadcast/shuffled semi-joins on the survivor set (equi-joins only); lineage is
    * truncated per round with an eager checkpoint like pageRank's loop.
    */
  def kCore(spark: SparkSession, dir: String, k: Int = 20, rounds: Int = 3): DataFrame = {
    val snap = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal &&
        col("source_id") =!= col("destination_id"))
      .select(col("source_id").as("src"), col("destination_id").as("dst"))
    val und = snap.unionByName(snap.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    kCoreOf(und, k, rounds)
  }

  /** Kernel of [[kCore]] over a symmetric, self-loop-free (src, dst) relation. */
  def kCoreOf(und: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = und.localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src"))
      e = e.join(keep, Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
        .localCheckpoint(true)
    }
    e.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .select(col("src").as("source_id"), col("degree"))
  }

  /** g56 — full CORENESS decomposition by H-INDEX ITERATION (Lü–Zhou–Zhang–
    * Stanley, Nature Physics 2016: h⁰(v) = deg(v), hᵗ⁺¹(v) = the h-index of v's
    * neighbors' hᵗ values; the sequence is monotone non-increasing and
    * converges to the exact core number of every vertex — where g27's fixed-k
    * peeling answers "who survives the k-core", this answers "what is EVERY
    * vertex's k" in one job). Run for a pinned `rounds`, each value an exact
    * integer upper bound on the true coreness that only tightens with t.
    *
    * Scale shape per round: ONE |E|-keyed equi-join ships neighbor values, the
    * h-index is a per-vertex window over each vertex's neighbor list (degree-
    * sized partitions — the same per-vertex-window shape as adjacencyTopK), and
    * lineage truncates with an eager checkpoint like the pageRank loop. The
    * oracle unrolls the rounds as chained CTEs over the identical window
    * algebra; a sequential mirror pins the distributed fixpoint exactly AND
    * pins convergence to Batagelj–Zaveršnik peeling coreness on random graphs.
    */
  def coreness(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    val snap = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal &&
        col("source_id") =!= col("destination_id"))
      .select(col("source_id").as("src"), col("destination_id").as("dst"))
    val und = snap.unionByName(snap.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    corenessOf(und, rounds)
  }

  /** Kernel of [[coreness]] over a symmetric, self-loop-free (src, dst) relation. */
  private[graft] def corenessOf(und: DataFrame, rounds: Int): DataFrame = {
    val e = und.localCheckpoint(true)
    val wV = Window.partitionBy(col("v")).orderBy(col("nh").desc, col("dst").asc)
    var h = e.groupBy(col("src")).agg(count(lit(1)).as("h"))
      .select(col("src").as("v"), col("h"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      h = e.join(h.withColumnRenamed("v", "dst").withColumnRenamed("h", "nh"), Seq("dst"))
        .select(col("src").as("v"), col("dst"), col("nh"))
        .withColumn("rn", row_number().over(wV).cast("long"))
        .groupBy(col("v"))
        .agg(max(least(col("nh"), col("rn"))).as("h"))
        .localCheckpoint(true)
    }
    h.select(col("v").as("vertex_id"), col("h").as("coreness"))
  }

  /** Degree assortativity: the Pearson correlation of endpoint degrees over the
    * undirected edge list — one number saying whether hubs attach to hubs (>0) or to
    * leaves (<0). Every sum (Σx, Σy, Σxy, Σx², Σy², n over BOTH edge orientations) is
    * an exact integer, so the one-shot correlation formula is a fixed IEEE sequence —
    * oracle-stable with no rounding anywhere before the final round.
    *
    * Scale: degree table (one shuffle) + two broadcast-ready equi-joins onto the edge
    * list + one scalar aggregation; nothing grows beyond the edge count.
    */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val und = undirectedClosure(spark, dir)
    val deg = und
      .select(explode(array(col("lo"), col("hi"))).as("v"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("d"))
    // both orientations so the correlation is symmetric in x/y
    val pairs = und
      .unionByName(und.select(col("hi").as("lo"), col("lo").as("hi")))
      .join(deg.select(col("v").as("lo"), col("d").as("dx")), Seq("lo"))
      .join(deg.select(col("v").as("hi"), col("d").as("dy")), Seq("hi"))
    val agg = pairs.agg(
      count(lit(1)).as("n"),
      sum(col("dx")).as("sx"),
      sum(col("dy")).as("sy"),
      sum(col("dx") * col("dy")).as("sxy"),
      sum(col("dx") * col("dx")).as("sxx"),
      sum(col("dy") * col("dy")).as("syy"))
    // each variance term stays an exact long (≲10¹⁸ up to ~10¹² edge endpoints ×
    // deg² 10⁶); their PRODUCT would overflow, so it happens in double space —
    // one exact-int→double cast each, then a fixed multiply/sqrt/divide sequence
    agg.select(
      col("n").as("n_endpoints"),
      round(
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
        6).as("assortativity"))
  }

  /** Connected components to FIXPOINT (min reachable vertex id), not the bounded-round
    * approximation of g22: min-label propagation iterates until a round changes no
    * label (≤ component diameter rounds, checked with a driver-side count per round —
    * one scalar action over the label relation, not a collect). maxRounds is a
    * runaway guard; hitting it raises rather than returning a wrong answer.
    *
    * Scale: each round is one (vertex)-keyed equi-join + min-agg over the label
    * relation, lineage truncated per round. For graphs whose diameter makes
    * O(diameter) rounds painful, the known refinement is large-star/small-star
    * (O(log n) rounds, same per-round join shape) — the round structure here is the
    * harness either way. The oracle computes true reachability with a recursive CTE,
    * so a hash match proves the fixpoint, not just round-parity.
    */
  def connectedComponents(spark: SparkSession, dir: String, maxRounds: Int = 50): DataFrame = {
    val snap = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal &&
        col("source_id") =!= col("destination_id"))
      .select(col("source_id").as("src"), col("destination_id").as("dst"))
    val adj = snap
      .unionByName(snap.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    // size dispatch (the ssspOf pattern, by |E| instead of rounds): below the
    // threshold the classic full-relation round is faster — both forms run the
    // SAME number of rounds (the frontier empties exactly when labels stabilize),
    // so on a small graph the frontier form's extra per-round joins are pure stage
    // overhead (measured 2× at sf0.1); above it the classic's per-round full-|E|
    // join dominates and the delta form's work tracks the shrinking wave instead
    // of the graph. Results are identical (FrontierCcSpec pins round-for-round
    // parity); adj is already materialized, so the count is a cached scan.
    if (adj.count() >= FrontierCcMinEdges) ccFrontierLoop(adj, maxRounds)
    else ccClassicLoop(adj, maxRounds)
  }

  /** Edge count at which [[connectedComponents]] switches to the frontier-delta
    * loop: the frontier form pays ~3 extra small joins per round, worth it only
    * once a full-relation round moves more data than the whole wave.
    */
  private[graft] val FrontierCcMinEdges = 10000000L

  /** labels only decrease over a fixed vertex set, so ANY change strictly lowers
    * Σcomponent — one scalar aggregate over the CACHED label relation detects
    * convergence (decimal sum: a 64-bit-id graph's label sum overflows a long).
    */
  private def ccLabelSum(df: DataFrame): java.math.BigDecimal =
    // coalesce: an empty label relation (graph with no eligible edges) sums to NULL,
    // which would NPE the convergence compare — an empty graph is converged at 0
    df.agg(coalesce(sum(col("component").cast("decimal(38,0)")),
      lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))).head.getDecimal(0)

  /** Classic full-relation min-label propagation to convergence. */
  private[graft] def ccClassicLoop(adj: DataFrame, maxRounds: Int): DataFrame = {
    var labels = adj.select(col("src").as("v"), col("src").as("component")).distinct()
      .localCheckpoint(true)
    var prevSum = ccLabelSum(labels)
    var round = 0
    var converged = false
    while (!converged) {
      round += 1
      require(round <= maxRounds, s"connectedComponents did not converge in $maxRounds rounds")
      val viaNeighbor = adj
        .join(labels.withColumnRenamed("v", "dst"), Seq("dst"))
        .select(col("src").as("v"), col("component"))
      val next = labels.unionByName(viaNeighbor)
        .groupBy(col("v"))
        .agg(min(col("component")).as("component"))
        .localCheckpoint(true)
      val nextSum = ccLabelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
    }
    labels.select(col("v").as("vertex_id"), col("component"))
  }

  /** Frontier-delta min-label propagation to convergence (the g39 SSSP discipline —
    * min-label IS Bellman–Ford on the label semiring): per round, only the vertices
    * whose component IMPROVED last round propagate, and the improvements patch in
    * via an anti-join + union — per-round join input (and its shuffle) is the
    * changing wave, not the graph. Equality with the classic form is the standard
    * delta argument (an unimproved vertex already propagated its unchanged
    * component the round after it last improved).
    */
  private[graft] def ccFrontierLoop(adj: DataFrame, maxRounds: Int): DataFrame = {
    var labels = adj.select(col("src").as("v"), col("src").as("component")).distinct()
      .localCheckpoint(true)
    var frontier = labels
    var prevSum = ccLabelSum(labels)
    var round = 0
    var converged = false
    while (!converged) {
      round += 1
      require(round <= maxRounds, s"connectedComponents did not converge in $maxRounds rounds")
      // improved stays LAZY (the ssspFrontierImpl discipline: a checkpointed union
      // child carries origin constraints that reference pre-checkpoint attribute
      // ids and break Union constraint rewriting); it evaluates once, inside the
      // checkpoint of the patched label relation
      val improved = ccImprovedBy(adj, labels, frontier)
      val next = labels.join(improved.select(col("v")), Seq("v"), "left_anti")
        .unionByName(improved)
        .localCheckpoint(true)
      // the next frontier is the DIFF of the two materialized label generations —
      // content-equal to `improved`, but a depth-1 lazy plan over two checkpoints,
      // so an unbounded convergence loop can't chain lazy frontiers into an
      // ever-deeper recompute (labels only decrease, so `<` is the full diff)
      frontier = next.alias("n")
        .join(labels.select(col("v"), col("component").as("prev")), Seq("v"))
        .filter(col("component") < col("prev"))
        .select(col("v"), col("component"))
      val nextSum = ccLabelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
    }
    labels.select(col("v").as("vertex_id"), col("component"))
  }

  /** g49 — STRONGLY connected components of the directed Normal graph: the
    * directed complement of [[connectedComponents]] (whose closure undirects, so
    * its components are reachability-symmetric by construction). On a
    * follow-shaped graph SCCs are the mutual-follow cores — the communities
    * reciprocal edges actually form. Label = min member id, so singleton SCCs
    * (every DAG vertex) label themselves.
    *
    * Algorithm: trim + forward-coloring + backward sweep (the FW–BW/coloring
    * family — Fleischer–Hendrickson–Pınar 2000's divide-and-conquer done
    * label-parallel as in Orzan's coloring): per outer round (1) TRIM to fixpoint
    * — a vertex with no in-edges or no out-edges in the residual is its own SCC
    * and peels off; (2) COLOR — directed hash-min fixpoint c(v) = min forward
    * ancestor (the [[ccClassicLoop]] round shape, src→dst only); (3) SWEEP —
    * every color ROOT r (c(r) = r, necessarily the min of its SCC) collects its
    * SCC as the vertices that reach r backward through same-colored edges (the
    * proof in the sweep comment: within-color backward reachability from a root
    * is EXACTLY its SCC). Resolved vertices leave the residual; the global min
    * vertex of the residual is always a root, so every outer round retires at
    * least one SCC and the loop terminates in ≤ SCC-chain-length rounds
    * (maxRounds is the runaway guard, raising rather than answering wrong).
    *
    * Scale shape: every step is an edge-relation equi-join or a distinct
    * projection, generations checkpointed, convergence via one driver scalar per
    * round (the decimal label-sum / count idioms — no collects). The oracle
    * computes true MUTUAL reachability with a recursive CTE, so a hash match
    * proves the fixpoint, not round-parity.
    */
  def sccComponents(spark: SparkSession, dir: String, maxRounds: Int = 60): DataFrame =
    sccOf(directedNormalEdges(spark, dir), maxRounds)

  /** g50 — the CONDENSATION of the directed Normal graph: contract every SCC
    * (g49) to one node and report the inter-SCC edge bundles — the DAG a
    * cycle-free downstream pass (topological scheduling, reachability pruning,
    * community-DAG visualization) actually consumes; on a follow graph it is the
    * "who follows whom" relation BETWEEN mutual-follow cores. One row per
    * ordered SCC pair with at least one original edge: the two SCC labels and
    * the bundled edge count (intra-SCC edges vanish by construction).
    *
    * Scale shape: the SCC relation is computed once ([[sccOf]]'s checkpointed
    * output) and equi-joined to each edge endpoint; the rollup is one
    * map-side-combinable aggregation over the edge relation. Nothing beyond
    * g49's own cost plus two |E|-sized hash joins.
    */
  def sccCondensation(spark: SparkSession, dir: String, maxRounds: Int = 60): DataFrame = {
    val edges = directedNormalEdges(spark, dir)
    val scc = sccOf(edges, maxRounds).localCheckpoint(true)
    edges
      .join(scc.select(col("vertex_id").as("src"), col("scc").as("scc_src")), Seq("src"))
      .join(scc.select(col("vertex_id").as("dst"), col("scc").as("scc_dst")), Seq("dst"))
      .filter(col("scc_src") =!= col("scc_dst"))
      .groupBy(col("scc_src"), col("scc_dst"))
      .agg(count(lit(1)).as("n_edges"))
  }

  /** g51 — TOPOLOGICAL LEVELS of the condensation DAG: each SCC's longest-path
    * depth from the DAG's sources (level 0 = an SCC nothing points into; level
    * of any other SCC = 1 + max level among its predecessors) — the layering a
    * staged computation over the contracted graph runs by (everything in level
    * ℓ can process once levels < ℓ are done), and the "how deep does influence
    * chain" profile of a follow graph's core structure. Output one row per SCC:
    * its label, its level, and its member count.
    *
    * Algorithm: Bellman-style longest-path relaxation over the (acyclic by
    * construction) condensation — levels start 0 and only ever increase, each
    * round relaxes every inter-SCC edge with one equi-join + max-aggregate, and
    * the decimal level-sum detects the fixpoint (the [[ccClassicLoop]]
    * discipline with max instead of min; rounds ≤ DAG depth, maxRounds guards
    * runaway). The condensation is |SCC|-sized — usually orders of magnitude
    * below the graph — so the loop's per-round cost is contraction-sized, not
    * corpus-sized.
    */
  def sccTopoLevels(spark: SparkSession, dir: String, maxRounds: Int = 60): DataFrame = {
    val edges = directedNormalEdges(spark, dir)
    val scc = sccOf(edges, maxRounds).localCheckpoint(true)
    val cond = edges
      .join(scc.select(col("vertex_id").as("src"), col("scc").as("a")), Seq("src"))
      .join(scc.select(col("vertex_id").as("dst"), col("scc").as("b")), Seq("dst"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b")).distinct()
      .localCheckpoint(true)
    val sizes = scc.groupBy(col("scc")).agg(count(lit(1)).as("n_members"))
    var lvl = sizes.select(col("scc"), lit(0L).as("level")).localCheckpoint(true)
    var prevSum = lvl.agg(coalesce(sum(col("level").cast("decimal(38,0)")),
      lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))).head.getDecimal(0)
    var converged = false
    var round = 0
    while (!converged) {
      round += 1
      require(round <= maxRounds, s"sccTopoLevels did not converge in $maxRounds rounds")
      val relaxed = cond
        .join(lvl.select(col("scc").as("a"), col("level")), Seq("a"))
        .select(col("b").as("scc"), (col("level") + 1L).as("level"))
      val next = lvl.unionByName(relaxed)
        .groupBy(col("scc")).agg(max(col("level")).as("level"))
        .localCheckpoint(true)
      val nextSum = next.agg(coalesce(sum(col("level").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))).head.getDecimal(0)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      lvl = next
    }
    lvl.join(sizes, Seq("scc")).select(col("scc"), col("level"), col("n_members"))
  }

  /** g52 — CONDENSATION-ACCELERATED REACHABILITY: which vertices does a seed
    * set reach through the directed graph, answered over the CONTRACTION
    * instead of the graph — the classic payoff of g49–g51's machinery (Purdom's
    * transitive-closure-by-condensation construction), and the directed analog
    * of g34's undirected BFS. Every vertex of a seed's SCC is mutually
    * reachable with it, and between SCCs reachability is the (acyclic)
    * condensation's reachability — so the fixpoint state is |SCC|-sized, never
    * |V|-sized: seed labels enter at their SCCs, min-relax along the inter-SCC
    * DAG edges (the g51 loop with min instead of max), and only the final
    * answer join fans the SCC verdicts back out to members. Output one row per
    * REACHED vertex: (vertex_id, reachable_from = min seed that reaches it) —
    * the d05 min-keeper convention, so the oracle's recursive closure over the
    * ORIGINAL edges proves the acceleration exactly.
    *
    * Scale shape: g49's cost once (the index build of this family), then a
    * bounded loop whose moving state and per-round join are contraction-sized
    * (rounds ≤ condensation depth; maxRounds raises rather than answering
    * wrong), then one |V|-sized equi-join to fan out. Seeds are a filter on the
    * SCC relation — never a separate corpus scan.
    */
  def sccReachFromSet(
      spark: SparkSession,
      dir: String,
      seedMod: Int = 10,
      maxRounds: Int = 60
  ): DataFrame =
    sccReachKernel(directedNormalEdges(spark, dir), seedMod, maxRounds)

  /** Kernel form of [[sccReachFromSet]] over an explicit (src, dst) relation —
    * property tests feed random digraphs and prove it against a brute-force
    * closure. Output (vertex_id, reachable_from).
    */
  private[graft] def sccReachKernel(
      edges: DataFrame,
      seedMod: Int,
      maxRounds: Int
  ): DataFrame = {
    val scc = sccOf(edges, maxRounds).localCheckpoint(true)
    val cond = edges
      .join(scc.select(col("vertex_id").as("src"), col("scc").as("a")), Seq("src"))
      .join(scc.select(col("vertex_id").as("dst"), col("scc").as("b")), Seq("dst"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b")).distinct()
      .localCheckpoint(true)
    var state = scc.filter(col("vertex_id") % seedMod === 0)
      .groupBy(col("scc")).agg(min(col("vertex_id")).as("best"))
      .localCheckpoint(true)
    def censusOf(df: DataFrame): (Long, java.math.BigDecimal) = {
      val row = df.agg(
        count(lit(1)),
        coalesce(sum(col("best").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))).head
      (row.getLong(0), row.getDecimal(1))
    }
    // reached-SCC count grows and per-SCC best only decreases, so the (count,
    // label-sum) pair is a strictly-progressing convergence witness
    var census = censusOf(state)
    var converged = false
    var round = 0
    while (!converged) {
      round += 1
      require(round <= maxRounds, s"sccReachFromSet did not converge in $maxRounds rounds")
      val relaxed = cond
        .join(state.select(col("scc").as("a"), col("best")), Seq("a"))
        .select(col("b").as("scc"), col("best"))
      val next = state.unionByName(relaxed)
        .groupBy(col("scc")).agg(min(col("best")).as("best"))
        .localCheckpoint(true)
      val nextCensus = censusOf(next)
      converged = nextCensus == census
      census = nextCensus
      state = next
    }
    scc.join(state, Seq("scc"))
      .select(col("vertex_id"), col("best").as("reachable_from"))
  }

  /** The distinct directed Normal graph-1 edge relation (self-loops excluded) —
    * the input both SCC entries share, checkpointed once.
    */
  private def directedNormalEdges(spark: SparkSession, dir: String): DataFrame =
    TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal &&
        col("source_id") =!= col("destination_id"))
      .select(col("source_id").as("src"), col("destination_id").as("dst"))
      .distinct()
      .localCheckpoint(true)

  /** Kernel form of [[sccComponents]] over an explicit (src, dst) relation —
    * property tests feed random digraphs. Output (vertex_id, scc).
    */
  private[graft] def sccOf(edges0: DataFrame, maxRounds: Int): DataFrame = {
    val spark = edges0.sparkSession
    var edges = edges0.localCheckpoint(true)
    var verts = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v"))).distinct().localCheckpoint(true)
    val resolved = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def restrictEdges(vs: DataFrame): DataFrame = edges
      .join(vs.select(col("v").as("src")), Seq("src"))
      .join(vs.select(col("v").as("dst")), Seq("dst"))
      .localCheckpoint(true)
    var outer = 0
    while (verts.count() > 0) {
      outer += 1
      require(outer <= maxRounds, s"sccComponents did not converge in $maxRounds outer rounds")
      // ---- TRIM to fixpoint: no in-edges or no out-edges → singleton SCC
      var trimming = true
      var trimRound = 0
      while (trimming) {
        trimRound += 1
        require(trimRound <= maxRounds, s"scc trim did not converge in $maxRounds rounds")
        val core = edges.select(col("src").as("v")).distinct()
          .join(edges.select(col("dst").as("v")).distinct(), Seq("v"))
          .localCheckpoint(true)
        val trimmed = verts.join(core, Seq("v"), "left_anti").localCheckpoint(true)
        if (trimmed.count() == 0) trimming = false
        else {
          resolved += trimmed.select(col("v").as("vertex_id"), col("v").as("scc"))
          verts = core
          edges = restrictEdges(verts)
        }
      }
      if (verts.count() > 0) {
        // ---- COLOR: directed hash-min to fixpoint — c(v) = min forward ancestor
        var labels = verts.select(col("v"), col("v").as("component")).localCheckpoint(true)
        var prevSum = ccLabelSum(labels)
        var converged = false
        var round = 0
        while (!converged) {
          round += 1
          require(round <= maxRounds, s"scc coloring did not converge in $maxRounds rounds")
          val via = edges
            .join(labels.select(col("v").as("src"), col("component")), Seq("src"))
            .select(col("dst").as("v"), col("component"))
          val next = labels.unionByName(via)
            .groupBy(col("v")).agg(min(col("component")).as("component"))
            .localCheckpoint(true)
          val nextSum = ccLabelSum(next)
          converged = nextSum.compareTo(prevSum) == 0
          prevSum = nextSum
          labels = next
        }
        // ---- SWEEP: roots collect their SCCs backward through same-colored edges.
        // Correctness: c(m) = r for every m ∈ SCC(r) (a smaller forward ancestor of
        // m would forward-reach r too, contradicting c(r) = r); conversely c(v) = r
        // with a within-color path v ⇝ r implies r ⇝ v (that's what c(v) = r means),
        // so v ∈ SCC(r) — and every intermediate w on such a path satisfies r ⇝ w
        // and w ⇝ r, i.e. w ∈ SCC(r), so the within-color edge filter loses nothing.
        val colorEdges = edges
          .join(labels.select(col("v").as("src"), col("component").as("cs")), Seq("src"))
          .join(labels.select(col("v").as("dst"), col("component").as("cd")), Seq("dst"))
          .filter(col("cs") === col("cd"))
          .select(col("src"), col("dst"))
          .localCheckpoint(true)
        var reached = labels.filter(col("v") === col("component"))
          .select(col("v"), col("component").as("scc")).localCheckpoint(true)
        var prevCount = reached.count()
        var sweeping = true
        var sweepRound = 0
        while (sweeping) {
          sweepRound += 1
          require(sweepRound <= maxRounds, s"scc sweep did not converge in $maxRounds rounds")
          val via = colorEdges
            .join(reached.select(col("v").as("dst"), col("scc")), Seq("dst"))
            .select(col("src").as("v"), col("scc"))
          val next = reached.unionByName(via).distinct().localCheckpoint(true)
          val nextCount = next.count()
          sweeping = nextCount != prevCount
          prevCount = nextCount
          reached = next
        }
        resolved += reached.select(col("v").as("vertex_id"), col("scc"))
        verts = verts.join(reached.select(col("v")), Seq("v"), "left_anti").localCheckpoint(true)
        edges = restrictEdges(verts)
      }
    }
    if (resolved.isEmpty) {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("vertex_id", "scc")
    } else resolved.reduce(_ unionByName _)
  }

  /** One frontier round: the frontier's components flow across their out-edges, and
    * only strict improvements over the current labels survive (every vertex is
    * labeled from round 0, so the patch join is inner, not left).
    */
  private def ccImprovedBy(adj: DataFrame, labels: DataFrame, frontier: DataFrame): DataFrame =
    adj
      .join(frontier.select(col("v").as("src"), col("component")), "src")
      .select(col("dst").as("v"), col("component"))
      .groupBy(col("v")).agg(min(col("component")).as("component"))
      .alias("r")
      .join(labels.select(col("v"), col("component").as("cur")), Seq("v"))
      .filter(col("r.component") < col("cur"))
      .select(col("v"), col("r.component").as("component"))

  /** Fixed-round frontier form for parity pins (checkpointed, any round count) and
    * PlanSpec (identity materializer, SMALL round counts only — without
    * materialization each round's lazy frontier re-embeds the previous plan several
    * times, so the tree grows exponentially in `rounds`).
    */
  private[graft] def ccFrontierFixed(
      adj: DataFrame,
      rounds: Int,
      mat: DataFrame => DataFrame = _.localCheckpoint(true)): DataFrame = {
    var labels = mat(adj.select(col("src").as("v"), col("src").as("component")).distinct())
    var frontier = labels
    for (_ <- 1 to rounds) {
      val improved = ccImprovedBy(adj, labels, frontier)
      val next = mat(labels.join(improved.select(col("v")), Seq("v"), "left_anti")
        .unionByName(improved))
      frontier = next.alias("n")
        .join(labels.select(col("v"), col("component").as("prev")), Seq("v"))
        .filter(col("component") < col("prev"))
        .select(col("v"), col("component"))
      labels = next
    }
    labels.select(col("v").as("vertex_id"), col("component"))
  }

  /** Fixed-round full-relation form (the classic shape), for the parity pin. */
  private[graft] def ccFullFixed(adj: DataFrame, rounds: Int): DataFrame = {
    var labels = adj.select(col("src").as("v"), col("src").as("component")).distinct()
    for (_ <- 1 to rounds) {
      val viaNeighbor = adj
        .join(labels.withColumnRenamed("v", "dst"), Seq("dst"))
        .select(col("src").as("v"), col("component"))
      labels = labels.unionByName(viaNeighbor)
        .groupBy(col("v"))
        .agg(min(col("component")).as("component"))
    }
    labels.select(col("v").as("vertex_id"), col("component"))
  }

  /** A2 incremental metadata maintenance, end-to-end: apply a batch of single-edge
    * adds, then produce the post-write metadata via [[graft.store.EdgeStore.metadataPatched]]
    * — only the touched vertices are re-aggregated; every other row is carried over
    * from the pre-write metadata. The oracle computes the FULL post-write metadata, so
    * a hash match proves the incremental path ≡ the full recompute.
    */
  def metadataPatchedQuery(spark: SparkSession, dir: String): DataFrame = {
    // graph-2-only pipeline — graph-pruned store, the g20 discipline (prev, the
    // carried-over metadata table, then also covers exactly the read graph)
    val store = graft.store.EdgeStore(
      TestGraph.store(spark, dir).whereGraph(2).snapshot.localCheckpoint(eager = true))
    val batch = store.snapshot
      .filter(col("source_id") % 5 === 0)
      .select(col("graph_id"), col("source_id")).distinct()
      .select(
        col("graph_id"), col("source_id"),
        (lit(1) + (col("source_id") * 17) % 97).as("destination_id"),
        lit(State.Normal).cast("int").as("state"),
        lit(2600000).cast("int").as("updated_at"),
        lit(null).cast("long").as("position"))
    val prev = store.metadata
    val (after, touched) = store.applyOperationsWithDelta(batch)
    after.metadataPatched(prev, touched)
      .select(col("graph_id"), col("source_id"), col("state"), col("count"), col("updated_at"))
  }

  /** Extended analytics: per-vertex triangle participation over the undirected closure
    * of graph-1 Normal edges. Wedge enumeration on the id-oriented edge list (lo < hi)
    * — two equi-joins, no cross product; at extreme skew the standard refinement is
    * degree-orientation instead of id-orientation, same plan shape.
    */
  def triangleCounts(spark: SparkSession, dir: String): DataFrame =
    triangleCountsOf(undirectedClosure(spark, dir))

  /** Undirected id-oriented closure (lo < hi) of graph-1 Normal edges, materialized
    * once for its self-join/degree consumers.
    */
  private def undirectedClosure(spark: SparkSession, dir: String): DataFrame =
    TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal &&
        col("source_id") =!= col("destination_id"))
      .select(
        least(col("source_id"), col("destination_id")).as("lo"),
        greatest(col("source_id"), col("destination_id")).as("hi"))
      .distinct()
      .localCheckpoint(true)

  /** Per-vertex triangle counts via oriented wedge enumeration over the closure —
    * each triangle found exactly once, then credited to all three corners.
    */
  private def triangleCountsOf(und: DataFrame): DataFrame =
    und.alias("e1")
      .join(und.alias("e2"), col("e2.lo") === col("e1.hi"))
      .join(und.alias("e3"),
        col("e3.lo") === col("e1.lo") && col("e3.hi") === col("e2.hi"))
      .select(col("e1.lo").as("a"), col("e1.hi").as("b"), col("e2.hi").as("c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("vertex_id"))
      .groupBy(col("vertex_id"))
      .agg(count(lit(1)).as("n_triangles"))

  /** g64 — RICH-CLUB COEFFICIENT (Colizza et al. 2006): for each degree
    * threshold k, the edge density φ(k) = 2·E_k / (N_k·(N_k−1)) among the
    * vertices of degree > k — whether the hubs form a club (φ→1) or avoid
    * each other. Completes the structural datasheet row with g62/g63; in a
    * follow graph a rising φ(k) curve is the celebrity-clique signature.
    *
    * Determinism: degrees and within-club edge counts are exact; φ is ONE
    * half-up integer division per threshold. N_k < 2 reports the explicit
    * degenerate zero.
    *
    * Scale shape: degree table once off the checkpointed closure; per
    * threshold two id-semi-joins (club membership is degree-filtered —
    * hub-count-sized, shrinking with k) and two 1-row aggregates; |ks| rows.
    */
  def richClub(spark: SparkSession, dir: String, ks: Seq[Int] = Seq(2, 4, 8)): DataFrame = {
    val und = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal &&
        col("source_id") =!= col("destination_id"))
      .select(
        least(col("source_id"), col("destination_id")).as("lo"),
        greatest(col("source_id"), col("destination_id")).as("hi"))
      .distinct()
      .localCheckpoint(true) // degree pass + one membership probe per k
    val deg = und.select(col("lo").as("v"))
      .unionByName(und.select(col("hi").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true) // one filter per threshold
    ks.map { k =>
      val rich = deg.filter(col("d") > k).select(col("v"))
        .localCheckpoint(true) // both endpoint probes
      val nR = rich.agg(count(lit(1)).as("n_rich"))
      val eW = und
        .join(rich.select(col("v").as("lo")), Seq("lo"), "left_semi")
        .join(rich.select(col("v").as("hi")), Seq("hi"), "left_semi")
        .agg(count(lit(1)).as("n_edges_within"))
      nR.crossJoin(eW).select(
        lit(k).as("k"), col("n_rich"), col("n_edges_within"),
        when(col("n_rich") < 2, 0L)
          .otherwise(expr(
            "(2 * 1000000 * 2 * n_edges_within + n_rich * (n_rich - 1))" +
              " DIV (2 * n_rich * (n_rich - 1))"))
          .cast("long").as("phi_micro"))
    }.reduce(_ unionByName _)
  }

  /** g63 — GLOBAL TRANSITIVITY (clustering coefficient): 3·triangles / wedges
    * over the undirected Normal graph — the other number next to g62 on a
    * graph datasheet (how much of the friend-of-friend surface closes). The
    * triangle side reuses the g21 oriented-enumeration kernel (each triangle
    * counted once); wedges are Σ d(d−1)/2 off the same closure — one degree
    * pass, no path enumeration. Exact integers up to the ONE final half-up
    * micro division; a wedge-free graph reports the explicit degenerate zero.
    */
  def transitivity(spark: SparkSession, dir: String): DataFrame = {
    val und = undirectedClosure(spark, dir)
    val tri = und.alias("e1")
      .join(und.alias("e2"), col("e2.lo") === col("e1.hi"))
      .join(und.alias("e3"),
        col("e3.lo") === col("e1.lo") && col("e3.hi") === col("e2.hi"))
      .agg(count(lit(1)).as("n_triangles"))
    val wedges = und.select(col("lo").as("v"))
      .unionByName(und.select(col("hi").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
      .agg(expr("sum(d * (d - 1) div 2)").cast("long").as("n_wedges"))
    tri.crossJoin(wedges)
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") === 0L, 0L)
          .otherwise(expr("(2 * 1000000 * 3 * n_triangles + n_wedges) DIV (2 * n_wedges)"))
          .cast("long").as("transitivity_micro"))
  }

  /** Per-edge triangle support over an id-oriented closure (lo < hi): each oriented
    * triangle (a < b < c) credits its three edges. The shared kernel of [[kTruss]]
    * (same wedge enumeration as [[triangleCountsOf]], credited to edges instead of
    * corners) — two equi-joins + one map-side-combinable aggregation, no cross
    * product.
    */
  private def edgeSupportOf(e: DataFrame): DataFrame =
    e.alias("e1")
      .join(e.alias("e2"), col("e2.lo") === col("e1.hi"))
      .join(e.alias("e3"),
        col("e3.lo") === col("e1.lo") && col("e3.hi") === col("e2.hi"))
      .select(col("e1.lo").as("a"), col("e1.hi").as("b"), col("e2.hi").as("c"))
      .select(explode(array(
        struct(col("a").as("lo"), col("b").as("hi")),
        struct(col("a").as("lo"), col("c").as("hi")),
        struct(col("b").as("lo"), col("c").as("hi")))).as("t"))
      .select(col("t.lo").as("lo"), col("t.hi").as("hi"))
      .groupBy(col("lo"), col("hi"))
      .agg(count(lit(1)).as("support"))

  /** Bounded k-truss peeling over the undirected closure of graph-1 Normal edges:
    * each round recomputes per-edge triangle support and drops edges supported by
    * fewer than k−2 triangles; survivors after `rounds` rounds are reported with
    * their residual support. The community-STRENGTH primitive one step past k-core
    * (g27 peels weak vertices; the truss peels weak TIES — the standard spam-ring /
    * cohesive-subgroup refinement, and the J1-intersection-heavy analog: an edge's
    * support is |neighbors(a) ∩ neighbors(b)|). Rounds are pinned so the oracle
    * replays exactly (the d05/g27 discipline; the full truss iterates to fixpoint).
    *
    * Scale shape per round: the triangle kernel's two equi-joins + one aggregation,
    * then one left-semi prune of the edge list; lineage truncates per round with an
    * eager checkpoint. Nothing ever exceeds the triangle relation, and the edge list
    * only shrinks.
    */
  def kTruss(spark: SparkSession, dir: String, k: Int = 4, rounds: Int = 3): DataFrame =
    kTrussOf(undirectedClosure(spark, dir), k, rounds)

  /** Kernel of [[kTruss]] over an id-oriented (lo < hi), deduped edge relation. */
  def kTrussOf(und: DataFrame, k: Int, rounds: Int): DataFrame =
    kTrussImpl(und, k, rounds, _.localCheckpoint(true))

  /** Uncheckpointed [[kTrussOf]], exposed so PlanSpec can assert the per-round plan
    * shape (the production path's eager checkpoints hide each round behind an RDD
    * scan).
    */
  private[graft] def plannedKTruss(und: DataFrame, k: Int, rounds: Int): DataFrame =
    kTrussImpl(und, k, rounds, identity)

  private def kTrussImpl(
      und: DataFrame, k: Int, rounds: Int, mat: DataFrame => DataFrame): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    var e = und
    for (_ <- 1 to rounds) {
      e = mat(
        e.join(edgeSupportOf(e).filter(col("support") >= k - 2), Seq("lo", "hi"), "left_semi"))
    }
    e.join(edgeSupportOf(e), Seq("lo", "hi"), "left")
      .select(col("lo").as("lo_id"), col("hi").as("hi_id"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Local clustering coefficient: 2·tri(v) / (deg(v)·(deg(v)−1)) over the same
    * undirected graph-1 Normal closure as triangleCounts; degree-<2 vertices pin 0.
    * All-integer inputs (triangle and degree counts), one final division + round —
    * oracle-stable. The shared closure is materialized once for its four consumers
    * (degree agg + the 3-way triangle self-join).
    */
  def clusteringCoefficient(spark: SparkSession, dir: String): DataFrame = {
    val und = undirectedClosure(spark, dir)
    val deg = und
      .select(explode(array(col("lo"), col("hi"))).as("vertex_id"))
      .groupBy(col("vertex_id"))
      .agg(count(lit(1)).as("degree"))
    val tri = triangleCountsOf(und)
    deg
      .join(tri, Seq("vertex_id"), "left")
      .select(
        col("vertex_id"),
        col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") < 2, lit(0.0))
          .otherwise(round(
            lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double") /
              (col("degree") * (col("degree") - 1)).cast("double"),
            6))
          .as("clustering"))
  }

  /** Extended analytics: 3 rounds of min-label propagation over the undirected graph-1
    * Normal edges (the connected-components kernel, bounded iterations so the result is
    * deterministic and oracle-expressible; full CC = iterate to fixpoint). All-integer:
    * label(v) ← min(label(v), min of neighbors' labels) per round.
    */
  def labelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val dirEdges = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal)
      .select(col("source_id").as("a"), col("destination_id").as("b"))
    val und = dirEdges
      .unionByName(dirEdges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true) // reused every round
    val vertices = und.select(col("a").as("v")).distinct()
    var labels = vertices.select(col("v"), col("v").as("label"))
    for (_ <- 1 to 3) {
      val nbrMin = und
        .join(labels.select(col("v").as("b"), col("label").as("nbl")), "b")
        .groupBy(col("a"))
        .agg(min(col("nbl")).as("m"))
      labels = labels
        .join(nbrMin.select(col("a").as("v"), col("m")), Seq("v"), "left")
        .select(col("v"), least(col("label"), coalesce(col("m"), col("label"))).as("label"))
    }
    labels.select(col("v").as("vertex_id"), col("label").as("label_min3"))
  }

  /** Extended analytics: 2-hop neighborhood size (friends-of-friends) over graph-1
    * Normal edges — the classic "people you may know" expansion a FlockDB deployment
    * runs client-side with chained select2 calls, here one declarative plan: n_two_hop(a)
    * = |{c : a→b→c, c ≠ a, no direct a→c}|. Two equi-joins (hop join on the shared
    * vertex, anti-join to remove direct edges) + a distinct — never a cross product;
    * at celebrity-vertex skew AQE's skew-join split handles the hot intermediate key.
    */
  def twoHop(spark: SparkSession, dir: String): DataFrame =
    twoHopCounts(
      TestGraph.store(spark, dir).snapshot
        .filter(col("graph_id") === 1 && col("state") === State.Normal)
        .select(col("source_id").as("src"), col("destination_id").as("dst"))
        .localCheckpoint(true)) // three consumers: both hop sides + the anti-join

  /** Kernel of [[twoHop]] over a distinct (src, dst) edge relation. */
  def twoHopCounts(edges: DataFrame): DataFrame = {
    val hops = edges.alias("a")
      .join(edges.alias("b"), col("a.dst") === col("b.src"))
      .filter(col("b.dst") =!= col("a.src"))
      .select(col("a.src").as("src"), col("b.dst").as("dst"))
      .distinct()
    hops.join(edges, Seq("src", "dst"), "left_anti")
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_two_hop"))
      .select(col("src").as("source_id"), col("n_two_hop"))
  }

  /** Out-degree distribution histogram: per graph, the number of vertices in each
    * power-of-two degree bucket (bucket b holds degrees in [2^b, 2^(b+1))) over
    * Normal-state edges. The skew-audit a graph operator runs before choosing join
    * strategies — the bucket of the hottest vertices tells you whether salting / AQE
    * skew handling is needed.
    *
    * Bucketing is a pure integer CASE ladder (NOT floor(log2(·)) — `log2` is computed
    * as log(x)/log(2) in doubles and lands exact powers of two on different sides of
    * floor() in different engines).
    */
  def degreeHistogram(spark: SparkSession, dir: String): DataFrame =
    degreeHistogramOf(TestGraph.store(spark, dir).snapshot)

  /** Kernel of [[degreeHistogram]] over any edge snapshot. */
  def degreeHistogramOf(snapshot: DataFrame): DataFrame = {
    val deg = snapshot
      .filter(col("state") === State.Normal)
      .groupBy(col("graph_id"), col("source_id"))
      .agg(count(lit(1)).as("degree"))
    val bucket = (0 until 20).foldRight(lit(20): org.apache.spark.sql.Column) {
      (b, acc) => when(col("degree") < (1L << (b + 1)), b).otherwise(acc)
    }
    deg.groupBy(col("graph_id"), bucket.cast("int").as("deg_bucket"))
      .agg(count(lit(1)).as("n_vertices"), max(col("degree")).as("max_degree"))
  }

  /** Shared-neighbor vertex similarity ("people you may know"): pairs of sources whose
    * Normal adjacency sets overlap with Jaccard ≥ threshold. The same inverted-index
    * self-join shape as d04 (candidates = pairs sharing ≥ 1 destination, intersection
    * size falls out of the join's groupBy) — never an all-pairs product over sources.
    *
    * Skew guard (the d04 lesson on graphs): a celebrity destination followed by s
    * sources contributes s² candidate rows, so destinations with in-degree >
    * `maxInDegree` are dropped BEFORE the self-join; sizes come from the same capped
    * relation so the Jaccard stays internally consistent. At follower-graph scale the
    * cap is the difference between |pairs-sharing-a-niche-interest| and a broken job.
    */
  def nodeJaccard(spark: SparkSession, dir: String): DataFrame =
    nodeJaccardOf(
      TestGraph.store(spark, dir).snapshot
        .filter(col("graph_id") === 1 && col("state") === State.Normal)
        .select(col("source_id").as("src"), col("destination_id").as("dst")),
      threshold = 0.3)

  /** Kernel of [[nodeJaccard]] over a distinct (src, dst) edge relation. */
  def nodeJaccardOf(
      edges: DataFrame,
      threshold: Double,
      maxInDegree: Int = 10000
  ): DataFrame = {
    val e = edges.localCheckpoint(true) // three consumers: cap, sizes, both join sides
    val keepDst = e.groupBy(col("dst"))
      .agg(count(lit(1)).as("in_deg"))
      .filter(col("in_deg") <= maxInDegree)
      .select(col("dst"))
    val capped = e.join(keepDst, Seq("dst")).localCheckpoint(true)
    val sizes = capped.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val common = capped.select(col("src").as("src_a"), col("dst"))
      .join(capped.select(col("src").as("src_b"), col("dst")), Seq("dst"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("src").as("src_a"), col("n").as("n_a")), Seq("src_a"))
      .join(sizes.select(col("src").as("src_b"), col("n").as("n_b")), Seq("src_b"))
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("src_a"), col("src_b"), col("n_common"), col("jaccard"))
  }

  /** Adamic-Adar link prediction: for unlinked vertex pairs sharing ≥ `minCommon`
    * neighbors in the undirected Normal closure, score = Σ_z 1/ln(deg(z)) over common
    * neighbors z — the classic "friend of friends, weighted against hubs" signal
    * (degree-1 vertices can't be common neighbors; deg ≥ 2 keeps ln positive).
    *
    * Determinism: each neighbor's weight is fixed to integer MICRO-units
    * (round(1e6/ln d) as BIGINT) before summing, so the aggregate is an exact integer
    * sum in any order — float summation order across engines never enters (the
    * dim-stats microunit pattern).
    *
    * Scale shape: same inverted-index self-join as [[nodeJaccardOf]] — candidates are
    * pairs sharing a neighbor, never an all-pairs product — with the hub cap applied
    * BEFORE the self-join (a hub with s neighbors contributes s² pair rows; capping is
    * the difference between link prediction and a broken job — and hubs are exactly
    * the neighbors AA down-weights toward 0 anyway). Existing edges leave via one
    * anti-join on the pair key.
    */
  def adamicAdar(spark: SparkSession, dir: String): DataFrame =
    adamicAdarOf(
      TestGraph.store(spark, dir).snapshot
        .filter(col("graph_id") === 1 && col("state") === State.Normal &&
          col("source_id") =!= col("destination_id"))
        .select(
          least(col("source_id"), col("destination_id")).as("lo"),
          greatest(col("source_id"), col("destination_id")).as("hi"))
        .distinct(),
      minCommon = 2)

  /** Kernel of [[adamicAdar]] over a distinct undirected (lo, hi) edge relation. */
  def adamicAdarOf(
      und: DataFrame,
      minCommon: Int,
      maxDegree: Int = 10000
  ): DataFrame = {
    val u = und.localCheckpoint(true) // consumers: degrees, both join sides, anti-join
    val adj = u.select(col("lo").as("v"), col("hi").as("w"))
      .union(u.select(col("hi").as("v"), col("lo").as("w")))
    val deg = adj.groupBy(col("w")).agg(count(lit(1)).as("d"))
    val weighted = adj
      .join(deg.filter(col("d").between(2, maxDegree)), Seq("w"))
      .withColumn("aa_micro", round(lit(1000000.0) / log(col("d")), 0).cast("long"))
      .localCheckpoint(true) // both sides of the pair self-join
    val pairs = weighted.select(col("v").as("src_a"), col("w"), col("aa_micro"))
      .join(weighted.select(col("v").as("src_b"), col("w")), Seq("w"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"), sum(col("aa_micro")).as("aa_micro"))
      .filter(col("n_common") >= minCommon)
    pairs.join(
      u.select(col("lo").as("src_a"), col("hi").as("src_b")),
      Seq("src_a", "src_b"), "left_anti")
  }

  /** HITS hubs & authorities (2 full iterations) in exact integer arithmetic: after
    * each half-step the scores renormalize to [0, 10⁶] by integer division against the
    * step's max (`(s·10⁶) DIV max` — HITS' usual L2 norm would need a float sqrt; the
    * max-norm keeps every intermediate an exact BIGINT and bounds growth at any graph
    * size, where unnormalized sums overflow). Directed graph-1 Normal edges: hubs
    * score by the authorities they point TO, authorities by the hubs pointing AT them.
    *
    * Scale shape: like [[pageRank]] — the edge list materializes once; each half-step
    * is one equi-join + one map-side-combinable sum; the max is a 1-row broadcast.
    */
  def hits(spark: SparkSession, dir: String): DataFrame = {
    val edges = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal)
      .select(col("source_id").as("src"), col("destination_id").as("dst"))
      .localCheckpoint(true)
    val vertices = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v"))).distinct()
      .localCheckpoint(true)

    // one half-step: scores flow across `edges` from `fromCol` to `toCol`, then
    // max-normalize back to the [0, 1e6] grid
    def halfStep(scores: DataFrame, fromCol: String, toCol: String): DataFrame = {
      // two consumers (the 1-row max and the normalize join) — materialize the tiny
      // |V|-row flow once per half-step instead of re-running the join+agg for each,
      // which also keeps the unrolled 4-half-step plan shallow (measured 3.3→2.1 s)
      val flowed = edges
        .join(scores.select(col("v").as(fromCol), col("s")), fromCol)
        .groupBy(col(toCol).as("v"))
        .agg(sum(col("s")).as("raw"))
        .localCheckpoint(true)
      val mx = flowed.agg(max(col("raw")).as("mx"))
      vertices
        .join(flowed, Seq("v"), "left")
        .crossJoin(broadcast(mx))
        .select(col("v"),
          expr("(COALESCE(raw, CAST(0 AS BIGINT)) * 1000000) DIV mx").as("s"))
    }

    var hub = vertices.select(col("v"), lit(1000000L).as("s"))
    var auth = vertices.select(col("v"), lit(1000000L).as("s"))
    for (_ <- 1 to 2) {
      auth = halfStep(hub, "src", "dst")
      hub = halfStep(auth, "dst", "src")
    }
    vertices
      .join(auth.select(col("v"), col("s").as("auth_fp")), Seq("v"))
      .join(hub.select(col("v"), col("s").as("hub_fp")), Seq("v"))
      .select(col("v").as("vertex_id"), col("auth_fp"), col("hub_fp"))
  }

  /** Bounded BFS hop distance from a seed set (vertices ≡ 0 mod 100), following edge
    * direction, `maxHops` rounds: dist(v) = min #hops from any seed, vertices beyond
    * the horizon absent. Each round expands ONLY the previous round's frontier
    * (dist = h−1) — already-settled vertices are never re-expanded, which is what
    * keeps round h's join |frontier|-sized instead of |reached|-sized.
    *
    * Scale shape: per round one equi-join frontier⋈edges + one min-agg; the distance
    * relation stays (v, dist) — 12 bytes/vertex. Exact integer labels, so the
    * distributed min is order-free and the unrolled oracle reproduces it.
    */
  def bfsDistance(spark: SparkSession, dir: String, maxHops: Int = 3): DataFrame = {
    val edges = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal)
      .select(col("source_id").as("src"), col("destination_id").as("dst"))
      .localCheckpoint(true)
    val vertices = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v"))).distinct()
    var dist = vertices.filter(col("v") % 100 === 0)
      .select(col("v"), lit(0).as("dist"))
    for (h <- 1 to maxHops) {
      val next = dist.filter(col("dist") === h - 1)
        .join(edges, col("v") === col("src"))
        .select(col("dst").as("v"), lit(h).as("dist"))
      dist = dist.unionByName(next).groupBy(col("v")).agg(min(col("dist")).as("dist"))
    }
    dist.select(col("v").as("vertex_id"), col("dist"))
  }

  /** g53 — LANDMARK DISTANCE ORACLE (Potamias et al. CIKM 2009, "Fast shortest
    * path distance estimation in large networks"): estimate pairwise hop
    * distances from a FIXED-size landmark set instead of per-pair BFS — the
    * standard answer to "how far apart are these two users" at graph scales
    * where any per-query traversal is unaffordable. Landmarks are the
    * `nLandmarks` smallest `md5(vertex)` (a FIXED-size, id-spread selection —
    * corpus-independent by construction, the round-13 graph-ANN entry-set
    * lesson applied proactively; a TakeOrdered over the vertex relation, never
    * a corpus-fraction sample); one bounded multi-landmark BFS over the
    * SYMMETRIZED edges (the g44 (seed, vertex) kernel — undirected distances,
    * as in g29's closure) builds the ≤ |L|·|V| distance table once; a pair
    * (u, v) then estimates d(u, v) ≤ min over landmarks of d(l,u) + d(l,v) —
    * the triangle-inequality upper bound the published method serves, reported
    * with the witnessing landmark. Pairs no landmark connects within `maxHops`
    * hops are absent (unknown, not zero).
    *
    * Scale shape: landmark selection is a per-partition top-L merge; the BFS
    * state is (landmark, vertex) pairs — nLandmarks IS the memory knob, exactly
    * g44's honest cost; the estimation join is keyed by landmark and touches
    * only the two mod-sampled query sides, never all pairs. Deterministic
    * end-to-end (md5 selection with id tie-break, min-distance folds, d_sum
    * then landmark-asc argmin), so the oracle replays it exactly.
    */
  /** g59 — hop-bounded WEIGHTED shortest distances from a bounded seed set:
    * dist(v) = the minimum total edge weight of any ≤`maxHops`-edge directed
    * path from the seed set to v (weight = 1 + position mod
    * [[OracleBase.SsspWeightMod]] — a deterministic positive cost derived from
    * the edge's own payload). The "distance to nearest seed" feature behind
    * spam-proximity scoring and trust propagation; the hop bound makes the
    * semantic TOTAL (defined whether or not the relaxation converged), the
    * published bounded-hop variant of Bellman-Ford that iterative-map-reduce
    * graph engines ship (Pregel's superstep-capped SSSP).
    *
    * Seeds are the `nSeeds` smallest md5(v) vertices — the g53/s26 bounded-entry
    * discipline: the seed relation is CONSTANT-sized at any corpus scale, never
    * id-modulo (corpus-proportional) sized.
    *
    * Scale shape: the weighted edge list is deduped + checkpointed once and
    * every round is one equi-join on src (the frontier state is ≤|V| rows of
    * (v, dist)) followed by a map-side-combinable min — the Pregel superstep
    * in DataFrame form. Rounds checkpoint (lineage would cascade); a fixpoint
    * round EXITS EARLY, output-identical to the full unroll because min-relax
    * is monotone (the g57 early-exit discipline, proven in the property
    * mirror). Distances are exact integer sums — no float anywhere.
    */
  def weightedSssp(
      spark: SparkSession,
      dir: String,
      nSeeds: Int = 8,
      maxHops: Int = 6,
      weightMod: Long = 97L
  ): DataFrame =
    weightedSsspKernel(
      TestGraph.store(spark, dir).snapshot
        .filter(col("graph_id") === 1 && col("state") === State.Normal)
        .select(col("source_id").as("src"), col("destination_id").as("dst"),
          col("position")),
      nSeeds, maxHops, weightMod)

  /** Kernel form of [[weightedSssp]] over an explicit (src, dst, position)
    * relation — the property mirror proves it against a sequential Dijkstra
    * truncated to the hop bound on random weighted digraphs.
    */
  private[graft] def weightedSsspKernel(
      edges: DataFrame,
      nSeeds: Int,
      maxHops: Int,
      weightMod: Long
  ): DataFrame = {
    val e = edges
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(min(col("position")).as("p"))
      .select(col("src"), col("dst"), (lit(1L) + col("p") % lit(weightMod)).as("w"))
      .localCheckpoint(true) // loop-invariant: one relaxation join per round
    val verts = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v"))).distinct()
    val seeds = verts
      .orderBy(md5(col("v").cast("string")).asc, col("v").asc)
      .limit(nSeeds)
    var dist = seeds.select(col("v"), lit(0L).as("d")).localCheckpoint(true)
    // (count, Σd) is a complete fixpoint witness: relaxation only ADDS vertices
    // or DECREASES distances, so an unchanged pair ⟺ an unchanged relation
    var sig = dist.agg(count(lit(1)), sum(col("d"))).collect()(0)
    var h = 0
    var converged = false
    while (h < maxHops && !converged) {
      val relax = dist.join(e, col("v") === col("src"))
        .select(col("dst").as("v"), (col("d") + col("w")).as("d"))
      dist = dist.unionByName(relax)
        .groupBy(col("v")).agg(min(col("d")).as("d"))
        .localCheckpoint(true)
      val nextSig = dist.agg(count(lit(1)), sum(col("d"))).collect()(0)
      converged = nextSig == sig
      sig = nextSig
      h += 1
    }
    dist.select(col("v"), col("d").as("dist_w"))
  }

  /** g60 — WEIGHTED landmark distance estimates: the g53 sketch upgraded to
    * edge costs. Each of the `nLandmarks` md5-smallest vertices runs the g59
    * hop-bounded weighted relaxation over the undirected min-cost edge list
    * (weight = 1 + min(position) mod `weightMod` per unordered pair), and a
    * (u, v) estimate is the landmark minimizing d(u,ℓ) + d(ℓ,v) — the
    * triangle-inequality upper bound, now in cost units instead of hops (what
    * a routing/latency question actually asks). Landmark set stays
    * CONSTANT-sized (the g53/s26 bounded-entry discipline).
    *
    * Scale shape: the per-round state is (seed, v, dist) — ≤ nLandmarks·|V|
    * rows, partition-keyed by v for the one equi-join per round against the
    * checkpointed edge list; the estimate join is the same bounded
    * (uMod, vMod)-filtered composition as g53. Early exit on the (count, Σd)
    * fixpoint witness — min-relax is monotone per (seed, v), the g59 law.
    */
  def weightedLandmarks(
      spark: SparkSession,
      dir: String,
      nLandmarks: Int = 16,
      maxHops: Int = 4,
      uMod: Int = 25,
      vMod: Int = 37,
      weightMod: Long = 97L
  ): DataFrame =
    weightedLandmarkKernel(
      TestGraph.store(spark, dir).snapshot
        .filter(col("graph_id") === 1 && col("state") === State.Normal)
        .select(col("source_id").as("src"), col("destination_id").as("dst"),
          col("position")),
      nLandmarks, maxHops, uMod, vMod, weightMod)

  /** Kernel form of [[weightedLandmarks]] over an explicit (src, dst, position)
    * relation — the property mirror proves the estimate is an UPPER bound on
    * (and equal through a landmark to) the true hop-bounded weighted distance.
    */
  private[graft] def weightedLandmarkKernel(
      edges: DataFrame,
      nLandmarks: Int,
      maxHops: Int,
      uMod: Int,
      vMod: Int,
      weightMod: Long
  ): DataFrame = {
    val pairs = edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("position"))
      .groupBy(col("a"), col("b"))
      .agg(min(col("position")).as("p"))
      .select(col("a"), col("b"), (lit(1L) + col("p") % lit(weightMod)).as("w"))
    val und = pairs.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .localCheckpoint(true) // loop-invariant: one relaxation join per round
    val verts = und.select(col("src").as("v")).distinct()
    val lm = verts
      .orderBy(md5(col("v").cast("string")).asc, col("v").asc)
      .limit(nLandmarks)
      .select(col("v").as("seed"))
    var dist = lm.select(col("seed"), col("seed").as("v"), lit(0L).as("d"))
      .localCheckpoint(true)
    var sig = dist.agg(count(lit(1)), sum(col("d"))).collect()(0)
    var h = 0
    var converged = false
    while (h < maxHops && !converged) {
      val relax = dist.join(und, col("v") === col("src"))
        .select(col("seed"), col("dst").as("v"), (col("d") + col("w")).as("d"))
      dist = dist.unionByName(relax)
        .groupBy(col("seed"), col("v")).agg(min(col("d")).as("d"))
        .localCheckpoint(true)
      val nextSig = dist.agg(count(lit(1)), sum(col("d"))).collect()(0)
      converged = nextSig == sig
      sig = nextSig
      h += 1
    }
    val us = dist.filter(col("v") % uMod === 0)
      .select(col("seed"), col("v").as("u"), col("d").as("d_u"))
    val vs = dist.filter(col("v") % vMod === 0)
      .select(col("seed"), col("v").as("v2"), col("d").as("d_v"))
    val w = Window.partitionBy(col("u"), col("v"))
      .orderBy(col("d_sum").asc, col("seed").asc)
    us.join(vs, Seq("seed"))
      .filter(col("u") =!= col("v2"))
      .select(col("u"), col("v2").as("v"), col("seed"),
        (col("d_u") + col("d_v")).as("d_sum"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("u"), col("v"), col("d_sum").as("d_est"), col("seed").as("via_landmark"))
  }

  /** g61 — MAXIMAL INDEPENDENT SET by deterministic Luby rounds (Luby 1986
    * with a FIXED hash priority instead of per-round coins): each round every
    * still-active vertex whose (md5-priority, id) is a strict local minimum
    * among its active neighbors enters the set, then it and its neighbors
    * leave the arena. With a fixed priority the parallel result is exactly the
    * LEXICOGRAPHIC MIS — the greedy scan in priority order — which is what the
    * property mirror proves on random graphs (the g58 mutual-minimum
    * discipline). MIS is the classic symmetry-breaking primitive behind
    * parallel coloring, scheduling, and landmark/coreset selection.
    *
    * Bounded-round certification (the g57 discipline): the kernel EXITS as
    * soon as the arena empties — output-identical to the full unroll, since an
    * empty arena yields empty rounds — and RAISES if vertices remain past the
    * budget (a partial MIS is not an MIS; never return one silently). Expected
    * rounds are O(log n) for hash priorities; the default budget carries ~2×
    * headroom over observed convergence. The DuckDB oracle unrolls the SAME
    * budget and emits round = -1 probe rows from any residual arena, so a
    * non-converged graph fails loudly on both engines (GraphOracles "g61_mis").
    *
    * Scale shape: each round is one equi-join of the arena against the
    * checkpointed edge list (smaller-neighbor witness), one anti-join to pick
    * winners, one anti-join to shrink the arena — all |V|-bounded, no windows,
    * no driver state beyond the 1-row emptiness probe per round.
    */
  def maximalIndependentSet(
      spark: SparkSession,
      dir: String,
      rounds: Int = 8
  ): DataFrame =
    misKernel(
      TestGraph.store(spark, dir).snapshot
        .filter(col("graph_id") === 1 && col("state") === State.Normal)
        .select(col("source_id").as("src"), col("destination_id").as("dst")),
      rounds)

  /** Kernel form of [[maximalIndependentSet]] over an explicit (src, dst)
    * relation — proven equal to the sequential lexicographic greedy MIS in
    * RoundFourteenPropertySpec.
    */
  private[graft] def misKernel(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"misKernel: at least one round required, got $rounds")
    val und = edges.filter(col("src") =!= col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"))
        .filter(col("src") =!= col("dst")))
      .distinct()
      .localCheckpoint(true) // loop-invariant: two joins per round
    var active = und.select(col("src").as("v")).distinct()
      .withColumn("h", conv(substring(md5(col("v").cast("string")), 1, 15), 16, 10)
        .cast("long"))
      .localCheckpoint(true)
    var parts = List.empty[DataFrame]
    var r = 0
    var done = false
    while (r < rounds && !done) {
      // a vertex with ANY active neighbor of strictly smaller (h, v) loses
      val losers = active.join(und, col("v") === col("src"))
        .join(active.select(col("v").as("nv"), col("h").as("nh")),
          col("dst") === col("nv"))
        .filter(col("nh") < col("h") || (col("nh") === col("h") && col("nv") < col("v")))
        .select(col("v")).distinct()
      val winners = active.join(losers, Seq("v"), "left_anti")
        .select(col("v")).localCheckpoint(true)
      parts ::= winners.withColumn("round", lit(r + 1))
      val removed = winners
        .unionByName(und.join(winners.select(col("v").as("src2")),
            col("src") === col("src2"))
          .select(col("dst").as("v")))
        .distinct()
      active = active.join(removed, Seq("v"), "left_anti").localCheckpoint(true)
      done = active.isEmpty
      r += 1
    }
    if (!done && !active.isEmpty)
      throw new IllegalStateException(
        s"maximalIndependentSet: arena not empty after $rounds rounds — " +
          "completeness cannot be certified within the budget (raise `rounds`)")
    parts.reduce(_ unionByName _)
  }

  /** g62 — DEGREE ASSORTATIVITY (Newman 2002): the Pearson correlation of
    * endpoint degrees over the directed-pair multiset of the undirected Normal
    * graph — one number that says whether hubs attach to hubs (social-style,
    * r > 0) or to leaves (web/biology-style, r < 0); the first structural
    * statistic a graph datasheet reports next to the degree histogram (g24).
    *
    * Determinism: degrees are exact counts; all six correlation sums are exact
    * BIGINTs; the final r runs ONE fixed double sequence (sqrt is correctly
    * rounded — the repo's float discipline) and micro-quantizes. A
    * degree-regular graph has zero variance — explicit 0 with the
    * `degenerate` flag, never NaN. The BIGINT sums need 128-bit past ~10⁹
    * edges × 10⁶ degrees (the s33 DecimalType knob, documented not silent).
    *
    * Scale shape: one distinct-edge shuffle, one map-side-combinable degree
    * count, two broadcast-size-agnostic id-equi-joins to stamp endpoint
    * degrees, ONE 1-row aggregate. No windows, no driver state.
    */
  def degreeAssortativity(spark: SparkSession, dir: String): DataFrame =
    assortativityKernel(
      TestGraph.store(spark, dir).snapshot
        .filter(col("graph_id") === 1 && col("state") === State.Normal)
        .select(col("source_id").as("src"), col("destination_id").as("dst")))

  /** Kernel form of [[degreeAssortativity]] — the property mirror checks the
    * planted star (exactly −1) and the degree-regular degenerate case.
    */
  private[graft] def assortativityKernel(edges: DataFrame): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"))
        .filter(col("src") =!= col("dst")))
      .distinct()
      .localCheckpoint(true) // the degree count + the pair stamping
    val deg = und.groupBy(col("src").as("v")).agg(count(lit(1)).as("d"))
    val pairs = und
      .join(deg.select(col("v").as("src"), col("d").as("dx")), "src")
      .join(deg.select(col("v").as("dst"), col("d").as("dy")), "dst")
    val sums = pairs.agg(
      count(lit(1)).as("n"),
      sum(col("dx")).as("sx"),
      sum(col("dy")).as("sy"),
      sum(col("dx") * col("dy")).as("sxy"),
      sum(col("dx") * col("dx")).as("sxx"),
      sum(col("dy") * col("dy")).as("syy"))
    sums.select(
      col("n").as("n_directed_pairs"),
      when(col("n") === 0 ||
          (col("n") * col("sxx") - col("sx") * col("sx")) === 0 ||
          (col("n") * col("syy") - col("sy") * col("sy")) === 0, lit(1))
        .otherwise(lit(0)).cast("int").as("degenerate"),
      when(col("n") === 0 ||
          (col("n") * col("sxx") - col("sx") * col("sx")) === 0 ||
          (col("n") * col("syy") - col("sy") * col("sy")) === 0, lit(0L))
        .otherwise(
          floor(lit(1000000.0) *
            ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
            + lit(0.5)).cast("long")).as("assortativity_micro"))
  }

  def landmarkDistances(
      spark: SparkSession,
      dir: String,
      nLandmarks: Int = 16,
      maxHops: Int = 3,
      uMod: Int = 25,
      vMod: Int = 37
  ): DataFrame =
    landmarkKernel(
      TestGraph.store(spark, dir).snapshot
        .filter(col("graph_id") === 1 && col("state") === State.Normal)
        .select(col("source_id").as("src"), col("destination_id").as("dst")),
      nLandmarks, maxHops, uMod, vMod)

  /** Kernel form of [[landmarkDistances]] over an explicit (src, dst) relation —
    * property tests prove the triangle-inequality upper-bound law against a
    * brute-force BFS on random graphs.
    */
  private[graft] def landmarkKernel(
      edges: DataFrame,
      nLandmarks: Int,
      maxHops: Int,
      uMod: Int,
      vMod: Int
  ): DataFrame = {
    val und = edges
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val verts = und.select(col("src").as("v")).distinct()
    val lm = verts
      .orderBy(md5(col("v").cast("string")).asc, col("v").asc)
      .limit(nLandmarks)
      .select(col("v").as("seed"))
    var dist = lm.select(col("seed"), col("seed").as("v"), lit(0).as("dist"))
    for (h <- 1 to maxHops) {
      val next = dist.filter(col("dist") === h - 1)
        .join(und, col("v") === col("src"))
        .select(col("seed"), col("dst").as("v"), lit(h).as("dist"))
      dist = dist.unionByName(next)
        .groupBy(col("seed"), col("v")).agg(min(col("dist")).as("dist"))
    }
    val table = dist.localCheckpoint(true)
    val us = table.filter(col("v") % uMod === 0)
      .select(col("seed"), col("v").as("u"), col("dist").as("d_u"))
    val vs = table.filter(col("v") % vMod === 0)
      .select(col("seed"), col("v").as("v2"), col("dist").as("d_v"))
    val w = Window.partitionBy(col("u"), col("v"))
      .orderBy(col("d_sum").asc, col("seed").asc)
    us.join(vs, Seq("seed"))
      .filter(col("u") =!= col("v2"))
      .select(col("u"), col("v2").as("v"), col("seed"), (col("d_u") + col("d_v")).as("d_sum"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("u"), col("v"), col("d_sum").as("d_est"), col("seed").as("via_landmark"))
  }

  /** Sampled harmonic centrality — bounded multi-source BFS from the seed sample with
    * PER-SEED distances, folded to Σ 1/d(s, v) per vertex (the harmonic variant of
    * closeness, finite on disconnected graphs — Boldi & Vigna 2014; seed-sampled
    * estimation per Eppstein & Wang 2001). Where [[bfsDistance]] reports only the
    * MINIMUM hop distance from the whole seed set, this keeps the (seed, vertex)
    * relation, so it prices how broadly reachable a vertex is, not just how near its
    * closest seed sits. Contributions are exact integers: `10⁶ DIV d`.
    *
    * Scale shape: per round one equi-join frontier⋈edges + one min-agg, exactly
    * [[bfsDistance]] per seed — but state is the (seed, vertex) pair relation, the
    * honest cost of every landmark-centrality method: bounded by |S|·|reached|, so
    * the seed fraction (1%) IS the memory knob. Frontier rounds expand only the
    * previous round's improved pairs.
    */
  def harmonicCentrality(spark: SparkSession, dir: String, maxHops: Int = 3): DataFrame = {
    val edges = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal)
      .select(col("source_id").as("src"), col("destination_id").as("dst"))
      .localCheckpoint(true)
    var dist = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v"))).distinct()
      .filter(col("v") % 100 === 0)
      .select(col("v").as("seed"), col("v"), lit(0).as("dist"))
    for (h <- 1 to maxHops) {
      val next = dist.filter(col("dist") === h - 1)
        .join(edges, col("v") === col("src"))
        .select(col("seed"), col("dst").as("v"), lit(h).as("dist"))
      dist = dist.unionByName(next)
        .groupBy(col("seed"), col("v")).agg(min(col("dist")).as("dist"))
    }
    dist
      .filter(col("dist") >= 1)
      .groupBy(col("v").as("vertex_id"))
      .agg(
        count(lit(1)).as("n_seeds"),
        sum(expr("CAST(1000000 AS BIGINT) DIV dist")).as("harmonic_micro"))
  }

  /** Deterministic random-walk corpus — the DeepWalk/node2vec sampling primitive
    * (Perozzi et al. KDD 2014): one fixed-length walk per seed vertex, each step
    * choosing among the current vertex's out-neighbors. The emitted (walk, step,
    * vertex) rows ARE the training corpus graph-embedding pipelines feed to a
    * skip-gram model — the graph-side analog of the d/t-family's text corpus ops.
    *
    * Determinism (what makes this oracle-checkable where `rand()` never is): the
    * step-t choice is `h32(walkId:t) mod outdeg(v_t)` over the neighbor list indexed
    * by `row_number() − 1` in destination order — pure md5 arithmetic both engines
    * reproduce bit-for-bit, stable under partitioning, retries, and cluster size.
    * Walks reaching a vertex with no out-edges stop early (inner join drops them).
    *
    * Scale shape: the indexed adjacency builds once (one window per source
    * partition, bounded by out-degree — the same celebrity-fanout caveat as g35);
    * each step is one equi-join of the |walks|-row frontier against it on
    * (src, idx); walk state never exceeds |seeds| rows per step.
    */
  def randomWalks(
      spark: SparkSession,
      dir: String,
      steps: Int = 3,
      seedMod: Int = 50
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal)
      .select(col("source_id").as("src"), col("destination_id").as("dst"))
    val adj = edges
      .withColumn("idx",
        row_number().over(Window.partitionBy(col("src")).orderBy(col("dst"))) - 1)
      .withColumn("dout", count(lit(1)).over(Window.partitionBy(col("src"))))
      .localCheckpoint(true) // one consumer per step
    var walks = adj.select(col("src").as("v")).distinct()
      .filter(col("v") % seedMod === 0)
      .select(col("v").as("walk_id"), lit(0).as("step"), col("v"))
    var out = walks
    for (t <- 1 to steps) {
      val choice = pmod(
        conv(substring(md5(concat(col("walk_id").cast("string"), lit(":"), lit(t.toString))), 1, 8), 16, 10)
          .cast("long"),
        col("dout"))
      walks = walks
        .join(adj, col("v") === col("src"))
        .filter(col("idx") === choice)
        .select(col("walk_id"), lit(t).as("step"), col("dst").as("v"))
      out = out.unionByName(walks)
    }
    out.select(col("walk_id"), col("step"), col("v").as("vertex_id"))
  }

  /** Friend-of-friend recommendations — the "who to follow" query the reference's
    * graph existed to serve (intersections of follower sets,
    * `/root/reference/doc/blog.md:34-40`): for each seed user, candidates are 2-hop
    * out-neighbors not already followed, ranked by how many distinct 1-hop neighbors
    * bridge to them (the co-follow count), top `k` per seed. Pure integer scores.
    *
    * Scale shape: one self equi-join of the edge list restricted to the seed set's
    * out-edges (the hop-1 side shrinks by the seed selectivity FIRST), a distinct
    * count on (seed, candidate), one anti-join against existing edges, and a per-seed
    * top-k window. At production scale the hop-1 relation is the bound to watch —
    * celebrity seeds fan out; the reference capped these server-side the same way
    * `k`+window caps them here.
    */
  def friendRecs(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val edges = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal)
      .select(col("source_id").as("src"), col("destination_id").as("dst"))
      .localCheckpoint(true) // three consumers: both hop sides + the anti-join
    val hop1 = edges.filter(col("src") % 100 === 0)
      .select(col("src").as("s"), col("dst").as("b"))
    val hop2 = edges.select(col("src").as("b"), col("dst").as("c"))
    val counts = hop1.join(hop2, "b")
      .filter(col("c") =!= col("s"))
      .groupBy(col("s"), col("c"))
      .agg(countDistinct(col("b")).as("n_via"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("s")).orderBy(col("n_via").desc, col("c").asc)
    counts
      .join(edges.select(col("src").as("s"), col("dst").as("c")), Seq("s", "c"), "left_anti")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("s").as("seed_id"), col("c").as("rec_id"), col("n_via"), col("rank"))
  }

  /** SALSA hubs & authorities (2 full iterations) — the degree-normalized cousin of
    * [[hits]] and the algorithm Twitter's "who to follow" service actually ran over
    * this graph (Lempel & Moran, WWW 2000; Gupta et al., "WTF: The Who to Follow
    * Service at Twitter", WWW 2013). Each half-step spreads a vertex's score EVENLY
    * across its edges — auth(j) = Σ_{i→j} hub(i)/outdeg(i), hub(i) = Σ_{i→j}
    * auth(j)/indeg(j) — so one celebrity hub no longer dominates every authority it
    * touches the way it does under HITS' raw sums; this is the random-walk
    * normalization that made SALSA's recommendations beat HITS' in production.
    *
    * Determinism (the g33 discipline): per-edge contributions are integer division
    * (`s DIV deg`, both non-negative, so Spark's truncating DIV ≡ DuckDB's floor
    * `//`), and after each half-step scores max-normalize back to the [0, 10⁶] grid
    * by integer division — every intermediate is an exact BIGINT in any engine and
    * any aggregation order.
    *
    * Scale shape: the degree-annotated edge list materializes ONCE (two
    * map-side-combinable degree aggs + two equi-joins, reused by all four
    * half-steps); each half-step is then one |V|-row broadcast-able score join + one
    * map-side-combinable sum + a 1-row max broadcast — identical to [[pageRank]]'s
    * per-round shape, with the same bounded growth at any |V|.
    */
  def salsa(spark: SparkSession, dir: String): DataFrame = {
    val edges = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal)
      .select(col("source_id").as("src"), col("destination_id").as("dst"))
      .localCheckpoint(true) // three consumers below — else the LWW fold re-runs per branch
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("dout"))
    val indeg = edges.groupBy(col("dst")).agg(count(lit(1)).as("din"))
    // each edge carries both walk denominators so the half-steps never re-join degrees
    val e = edges.join(outdeg, "src").join(indeg, "dst")
      .localCheckpoint(true) // consumers: all four half-steps + the vertex set
    val vertices = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v"))).distinct()
      .localCheckpoint(true)

    // flow from `fromCol` to `toCol`, each edge contributing s DIV <from-degree>,
    // then max-normalize back to the [0, 1e6] grid (the g33 halfStep shape)
    def halfStep(scores: DataFrame, fromCol: String, toCol: String, degCol: String): DataFrame = {
      val flowed = e
        .join(scores.select(col("v").as(fromCol), col("s")), fromCol)
        .groupBy(col(toCol).as("v"))
        .agg(sum(expr(s"s DIV $degCol")).as("raw"))
        .localCheckpoint(true) // two consumers: the 1-row max and the normalize join
      val mx = flowed.agg(max(col("raw")).as("mx"))
      vertices
        .join(flowed, Seq("v"), "left")
        .crossJoin(broadcast(mx))
        .select(col("v"),
          expr("(COALESCE(raw, CAST(0 AS BIGINT)) * 1000000) DIV mx").as("s"))
    }

    var hub = vertices.select(col("v"), lit(1000000L).as("s"))
    var auth = vertices.select(col("v"), lit(1000000L).as("s"))
    for (_ <- 1 to 2) {
      auth = halfStep(hub, "src", "dst", "dout")
      hub = halfStep(auth, "dst", "src", "din")
    }
    vertices
      .join(auth.select(col("v"), col("s").as("auth_fp")), Seq("v"))
      .join(hub.select(col("v"), col("s").as("hub_fp")), Seq("v"))
      .select(col("v").as("vertex_id"), col("auth_fp"), col("hub_fp"))
  }

  /** Local bridges: undirected Normal edges whose endpoints share NO other neighbor —
    * removing one disconnects its endpoints locally (no triangle closes over it).
    * These are the weak-tie edges of social-graph analysis (information flows across
    * communities through them) and the risky cuts of partition planning.
    *
    * Scale shape: the common-neighbor relation is the same wedge self-join g25/g21
    * use (equi-join on the shared endpoint, smaller id first); bridges fall out as
    * one anti-join of the edge list against it. Degree-skew safety rides on the same
    * adjacency shapes those operators pin.
    */
  def localBridges(spark: SparkSession, dir: String): DataFrame = {
    val und = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal &&
        col("source_id") =!= col("destination_id"))
      .select(
        least(col("source_id"), col("destination_id")).as("lo"),
        greatest(col("source_id"), col("destination_id")).as("hi"))
      .distinct()
      .localCheckpoint(true) // consumers: adjacency closure (×2) + the anti-join
    val adj = und.select(col("lo").as("v"), col("hi").as("w"))
      .unionByName(und.select(col("hi").as("v"), col("lo").as("w")))
    val withCommon = adj.select(col("v").as("lo"), col("w"))
      .join(adj.select(col("v").as("hi"), col("w")), "w")
      .filter(col("lo") < col("hi"))
      .select(col("lo"), col("hi")).distinct()
    und.join(withCommon, Seq("lo", "hi"), "left_anti")
  }

  /** g54 — HyperANF neighborhood function (the published HyperLogLog-counter
    * BFS of Boldi–Vigna–Rosa, WWW 2011, over Flajolet et al. 2007 registers —
    * the sk01 register recipe: first 8 md5 hex chars as a 32-bit hash, b = 4
    * index bits, rank-of-first-one rho): every vertex carries an HLL counter
    * of its forward ball B(v, t), advanced t → t+1 by ONE register max-merge
    * along out-edges. The per-round totals are the graph's neighborhood
    * function N(t) = Σ_v |B(v, t)| — the curve effective-diameter estimates
    * read (frac_micro hits 900000 at the effective diameter).
    *
    * Scale shape: counter state is ≤ m·|V| rows (m = 16 registers), each round
    * ONE |E|-keyed equi-join plus a map-side-combinable max — the reason the
    * published structure exists: exact N(t) is a |V|-source BFS (g34 per
    * vertex, |V|·|E| work), the counter form is T·|E| with constant per-vertex
    * state. Determinism discipline: register sums are dyadic rationals (exact
    * in double in ANY order), the small-range regime applies linear counting
    * (m·ln(m/V), the published correction — raw HLL is ~11× off on the
    * single-element balls every vertex starts with), per-vertex estimates are
    * micro-quantized BEFORE the exact integer total, and the oracle unrolls
    * the rounds as chained CTEs over the same register algebra.
    *
    * Output: (t, nf_micro, frac_micro) for t = 0..rounds, nf in thousandths.
    */
  def hyperAnf(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame =
    hyperAnfOf(directedNormalEdges(spark, dir), rounds)

  /** Kernel form of [[hyperAnf]] over an explicit (src, dst) relation —
    * property tests pin the exact t = 0 law (every ball is {v}: linear
    * counting gives 16·ln(16/15) per vertex) and the estimator's accuracy
    * against the exact BFS neighborhood function on random digraphs.
    */
  private[graft] def hyperAnfOf(edges0: DataFrame, rounds: Int): DataFrame = {
    val b = 4
    val wBits = 32 - b
    val m = 1 << b
    val alphaMM = 0.673 * m * m // alpha_16 (Flajolet et al. 2007, m = 16)
    val edges = edges0.localCheckpoint(true)
    val verts = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v"))).distinct()
    val h = conv(substring(md5(col("v").cast("string")), 1, 8), 16, 10).cast("long")
    val mask = (1L << wBits) - 1
    val rho = when(col("w") === 0L, lit(wBits + 1))
      .otherwise(instr(lpad(bin(col("w")), wBits, "0"), "1"))
    val regCols = (0 until m).map(i => s"r$i")
    // Registers PACKED WIDE — m columns per vertex, the layout the published
    // implementation uses: state is exactly |V| rows at every round (never the
    // m·|V| rows of a (v, idx, rho) tall form), the neighbor merge is a
    // map-side-combinable per-column MAX, and the whole round stays in one
    // codegen span. An untouched register holds 0 (rho >= 1 for any item).
    var regs = verts
      .select(col("v"), shiftright(h, wBits).as("idx"), h.bitwiseAND(lit(mask)).as("w"))
      .select(
        col("v") +: (0 until m).map(i =>
          when(col("idx") === i, rho.cast("int")).otherwise(lit(0)).as(s"r$i")): _*)
      .localCheckpoint(true)
    // N(t) as an exact integer: dyadic register sum (1/2^0 = 1 for empties) ->
    // one division -> linear counting below the published 2.5m threshold ->
    // round(,3) -> micro BIGINT -> exact integer total
    def nfRow(t: Int, r: DataFrame): DataFrame = {
      val ssum = regCols.map(c =>
        lit(1.0) / expr(s"shiftleft(CAST(1 AS BIGINT), $c)").cast("double")).reduce(_ + _)
      val nRegs = regCols.map(c => when(col(c) > 0, 1L).otherwise(0L)).reduce(_ + _)
      r.select(ssum.as("ssum"), nRegs.as("n_regs"))
        .select(
          floor(
            round(
              when(lit(alphaMM) / col("ssum") <= lit(2.5 * m) && col("n_regs") < m,
                lit(m.toDouble) * log(lit(m.toDouble) / (lit(m.toLong) - col("n_regs")).cast("double")))
                .otherwise(lit(alphaMM) / col("ssum")),
              3) * 1000 + lit(0.5)).cast("long").as("micro"))
        .agg(sum(col("micro")).as("nf_micro"))
        .select(lit(t).as("t"), col("nf_micro"))
    }
    val perRound = scala.collection.mutable.ArrayBuffer[DataFrame](nfRow(0, regs))
    for (t <- 1 to rounds) {
      val nbr = edges.join(regs.withColumnRenamed("v", "dst"), Seq("dst"))
        .groupBy(col("src"))
        .agg(max(col(regCols.head)).as("n" + regCols.head),
          regCols.tail.map(c => max(col(c)).as("n" + c)): _*)
        .withColumnRenamed("src", "v")
      regs = regs.join(nbr, Seq("v"), "left")
        .select(
          col("v") +: regCols.map(c =>
            greatest(col(c), coalesce(col("n" + c), lit(0))).as(c)): _*)
        .localCheckpoint(true)
      perRound += nfRow(t, regs)
    }
    val wAll = Window.partitionBy()
    perRound.reduce(_ unionByName _)
      .withColumn("frac_micro",
        floor(lit(1e6) * col("nf_micro").cast("double") /
          max(col("nf_micro")).over(wAll).cast("double") + lit(0.5)).cast("long"))
      .select(col("t"), col("nf_micro"), col("frac_micro"))
  }

  /** g55 — EFFECTIVE DIAMETER from the HyperANF curve (the classic payoff the
    * published structure was built for — Boldi–Vigna–Rosa, WWW 2011 §1; Palmer
    * et al., KDD 2002 define the interpolated form): the smallest t where the
    * neighborhood function reaches `fracPct`% of its plateau, linearly
    * interpolated between the bracketing rounds. Runs [[hyperAnf]] and reduces
    * its ≤ rounds+1-row curve — the whole-graph distance statistic for the
    * price of T register-merge rounds, where the exact answer is an all-pairs
    * BFS (|V|·|E|).
    *
    * Determinism discipline: the interpolation reads the curve's already
    * micro-quantized `frac_micro` column (≤ 1e6), so every intermediate is a
    * small exact integer at ANY corpus scale — floor(x + ½) over a ratio of
    * micro fractions is `(2·num + den) div (2·den)`, never a double and never
    * near BIGINT range (≤ 2e12). The raw HyperANF curve is NOT guaranteed
    * nondecreasing — the per-vertex estimator switches from linear counting to
    * the raw harmonic form as registers fill, and a ball crossing that boundary
    * can DROP its estimate between rounds — so the interpolation reads the
    * curve's monotone envelope (running max over t): the true neighborhood
    * function is nondecreasing by definition, dips are estimator noise, and the
    * envelope guarantees exactly ONE crossing row on any input. Output: one row
    * (t_hit, eff_diameter_micro, nf_max). t_hit = 0 (plateau already at
    * radius 0) reports diameter 0.
    */
  def effectiveDiameter(spark: SparkSession, dir: String,
      rounds: Int = 3, fracPct: Int = 90): DataFrame =
    effectiveDiameterOf(hyperAnf(spark, dir, rounds), fracPct)

  /** Kernel form of [[effectiveDiameter]] over an explicit (t, nf_micro,
    * frac_micro) curve — property tests pin the interpolation on planted
    * curves (hit at t = 0, exact hit, interpolated midpoints).
    */
  private[graft] def effectiveDiameterOf(nf: DataFrame, fracPct: Int): DataFrame = {
    val target = fracPct.toLong * 10000L
    val wT = Window.partitionBy().orderBy(col("t"))
    val wCum = wT.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    nf
      // monotone envelope: the raw estimator can dip across its regime switch
      .select(col("t"), col("nf_micro"),
        max(col("frac_micro")).over(wCum).as("frac_micro"))
      .select(col("t"), col("nf_micro"), col("frac_micro"),
        lag(col("frac_micro"), 1).over(wT).as("prev_frac"),
        max(col("nf_micro")).over(wAll).as("nf_max"))
      // first envelope point at or past the target — unique, envelope is nondecreasing
      .filter(col("frac_micro") >= target &&
        (col("prev_frac").isNull || col("prev_frac") < target))
      .select(
        col("t").cast("int").as("t_hit"),
        when(col("prev_frac").isNull, 0L)
          .otherwise((col("t") - 1L) * 1000000L +
            expr(s"(2 * 1000000 * ($target - prev_frac) + (frac_micro - prev_frac)) div " +
              "(2 * (frac_micro - prev_frac))"))
          .cast("long").as("eff_diameter_micro"),
        col("nf_max"))
  }

  /** g57 — MINIMUM SPANNING FOREST by Borůvka rounds (Borůvka 1926; the
    * textbook distributed MSF — GraphX/Pregel's canonical example — because
    * every round is one component-local argmin, no sequential union–find): per
    * round, every component picks its minimum incident cross-component edge
    * under the STRICT total order (w, a, b) — unique weights make the MSF
    * unique, and lexicographic tie-breaks make arbitrary weights behave like
    * unique ones — then components contract along the picked edges. Edges are
    * the undirected Normal graph-1 relation, weighted by the minimum LWW
    * `position` over the pair's directed forms.
    *
    * Contraction is PARTIAL by design: `propSteps` rounds of symmetric
    * min-label propagation over the picked-edge graph (each step one equi-join
    * + hash-min). A cluster whose pick-graph diameter exceeds `propSteps`
    * merges over MULTIPLE Borůvka rounds — still correct, because labels
    * always name connected sub-forests and the cut property holds for ANY such
    * partition; `rounds` absorbs the slack. The loop exits early on the
    * DETERMINISTIC completion condition (no cross-component edges remain —
    * further rounds pick nothing and relabel nothing, so the output equals
    * the oracle's full fixed unroll) and RAISES if cross-component edges
    * survive the last round, the g49 non-convergence discipline. Output: the
    * forest edges (a, b, w) — equal to
    * Kruskal's result by MSF uniqueness (property-pinned against a sequential
    * union–find mirror on random graphs).
    *
    * Scale shape: each round is two |E|-sized equi-joins (endpoint labels), a
    * per-component argmin window keyed by component, a picked-edge relation
    * bounded by the component count, and propagation steps that join the
    * LABEL relation (component-sized, halving each round) — never all-pairs;
    * labels checkpoint per round to cut the lineage, exactly the g49 loop
    * shape. rounds ~ log |V| (components at least halve per full contraction).
    */
  def minSpanningForest(spark: SparkSession, dir: String,
      rounds: Int = 6, propSteps: Int = 4): DataFrame =
    msfOf(weightedUndirectedEdges(spark, dir), rounds, propSteps)

  private def weightedUndirectedEdges(spark: SparkSession, dir: String): DataFrame =
    TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal &&
        col("source_id") =!= col("destination_id"))
      .groupBy(
        least(col("source_id"), col("destination_id")).as("a"),
        greatest(col("source_id"), col("destination_id")).as("b"))
      .agg(min(col("position")).as("w"))

  /** Kernel form of [[minSpanningForest]] over an explicit (a, b, w) undirected
    * relation — property tests feed random graphs and mirror with Kruskal.
    */
  private[graft] def msfOf(ue0: DataFrame, rounds: Int, propSteps: Int): DataFrame = {
    val ue = ue0.select(col("a"), col("b"), col("w")).localCheckpoint(true)
    var labels = ue.select(col("a").as("v"))
      .unionByName(ue.select(col("b").as("v")))
      .distinct()
      .withColumn("c", col("v"))
      .localCheckpoint(true)
    var forest: DataFrame = null
    var converged = false
    val wPick = Window.partitionBy(col("c")).orderBy(col("w").asc, col("a").asc, col("b").asc)
    for (_ <- 1 to rounds if !converged) {
      val x = ue
        .join(labels.select(col("v").as("a"), col("c").as("ca")), Seq("a"))
        .join(labels.select(col("v").as("b"), col("c").as("cb")), Seq("b"))
        .filter(col("ca") =!= col("cb"))
        .localCheckpoint(true) // feeds the convergence probe + both pick directions
      // deterministic early exit: no cross-component edges ⇔ the forest is
      // complete — later rounds would pick nothing and relabel nothing, so the
      // output is identical to the oracle's full fixed unroll
      converged = x.isEmpty
      if (!converged) {
      val inc = x.select(col("ca").as("c"), col("w"), col("a"), col("b"))
        .unionByName(x.select(col("cb").as("c"), col("w"), col("a"), col("b")))
      val pe = inc.withColumn("rk", row_number().over(wPick))
        .filter(col("rk") === 1)
        .select(col("w"), col("a"), col("b"))
        .distinct()
        .localCheckpoint(true) // forest accumulation + the pick graph
      forest = if (forest == null) pe else forest.unionByName(pe)
      val pg0 = pe
        .join(labels.select(col("v").as("a"), col("c").as("c1")), Seq("a"))
        .join(labels.select(col("v").as("b"), col("c").as("c2")), Seq("b"))
        .select(col("c1"), col("c2"))
      val pg = pg0.unionByName(pg0.select(col("c2").as("c1"), col("c1").as("c2")))
        .distinct()
        .localCheckpoint(true) // consumed propSteps times
      var m = labels.select(col("c")).distinct().withColumn("m", col("c"))
      for (_ <- 1 to propSteps) {
        m = m.unionByName(
            pg.join(m.withColumnRenamed("c", "c2"), Seq("c2"))
              .select(col("c1").as("c"), col("m")))
          .groupBy(col("c")).agg(min(col("m")).as("m"))
      }
      labels = labels
        .join(m, Seq("c"))
        .select(col("v"), col("m").as("c"))
        .localCheckpoint(true)
      }
    }
    if (!converged) {
      // cross-LABEL edges surviving the unroll: labels lag the forest (partial
      // contraction), so this does NOT prove the forest is incomplete — every
      // picked edge is an MSF edge by the cut property regardless — but
      // completeness can no longer be CERTIFIED, and the conservative move is
      // to refuse to return an uncertifiable result
      val leftover = ue
        .join(labels.select(col("v").as("a"), col("c").as("ca")), Seq("a"))
        .join(labels.select(col("v").as("b"), col("c").as("cb")), Seq("b"))
        .filter(col("ca") =!= col("cb"))
        .count()
      if (leftover != 0L)
        throw new IllegalStateException(
          s"msfOf: label contraction not converged after $rounds Borůvka rounds " +
            s"($leftover cross-label edges — the forest may already be complete but " +
            "cannot be certified; raise rounds/propSteps)")
    }
    // an edge can be re-picked across rounds when its cluster merged over
    // several partial contractions — one distinct at the end dedups
    if (forest == null) ue.select(col("a"), col("b"), col("w")).limit(0)
    else forest.select(col("a"), col("b"), col("w")).distinct()
  }

  /** g58 — GREEDY WEIGHTED MATCHING by locally-dominant edges (Preis 1999 /
    * Manne–Bisseling 2007 — the standard distributed matching: no sequential
    * edge scan, every round is vertex-local): per round, every unmatched
    * vertex points at its minimum eligible incident edge under the strict
    * (w, a, b) total order; an edge BOTH of whose endpoints point at it is
    * locally dominant and locks. With a strict total order this computes
    * EXACTLY the sequential greedy-by-weight matching (each locked edge is the
    * global minimum among eligible edges in its neighborhood — the same
    * exchange argument), so the independent mirror is a one-line greedy scan.
    * The matching is MAXIMAL (never maximum — that is Blossom territory): when
    * the loop exits no edge has two unmatched endpoints.
    *
    * Rounds: the globally minimal eligible edge is always locally dominant, so
    * every round locks ≥ 1 edge and eliminates its neighborhood; random-weight
    * graphs converge in O(log n) rounds (the sf graphs take ≤ 4). The loop
    * exits early on the deterministic no-eligible-edges condition and RAISES
    * if eligible edges survive the last budgeted round (the g49/g57
    * discipline; the oracle replays the identical rounds — post-convergence
    * rounds are no-ops, so early exit is output-identical).
    *
    * Scale shape: per round, the eligible relation shrinks by each locked
    * edge's neighborhood; the per-vertex argmin is one map-side window keyed by
    * vertex; locking is two equi-joins of the eligible relation against the
    * vertex-keyed picks; matched vertices accumulate in a checkpointed id set.
    */
  def maximalMatching(spark: SparkSession, dir: String, rounds: Int = 8): DataFrame =
    matchingOf(weightedUndirectedEdges(spark, dir), rounds)

  /** Kernel form of [[maximalMatching]] over an explicit (a, b, w) relation —
    * property tests mirror with the sequential greedy scan.
    */
  private[graft] def matchingOf(ue0: DataFrame, rounds: Int): DataFrame = {
    val wPick = Window.partitionBy(col("v")).orderBy(col("w").asc, col("a").asc, col("b").asc)
    var elig = ue0.select(col("a"), col("b"), col("w")).localCheckpoint(true)
    var result: DataFrame = null
    var converged = false
    for (_ <- 1 to rounds if !converged) {
      converged = elig.isEmpty
      if (!converged) {
        val picks = elig.select(col("a").as("v"), col("w"), col("a"), col("b"))
          .unionByName(elig.select(col("b").as("v"), col("w"), col("a"), col("b")))
          .withColumn("rk", row_number().over(wPick))
          .filter(col("rk") === 1)
          .select(col("v"), col("w"), col("a"), col("b"))
          .localCheckpoint(true) // two lock joins
        val locked = elig.as("e")
          .join(picks.as("pa"),
            col("e.a") === col("pa.v") && col("e.w") === col("pa.w") &&
              col("e.a") === col("pa.a") && col("e.b") === col("pa.b"), "left_semi")
          .join(picks.as("pb"),
            col("e.b") === col("pb.v") && col("e.w") === col("pb.w") &&
              col("e.a") === col("pb.a") && col("e.b") === col("pb.b"), "left_semi")
          .localCheckpoint(true) // joins forward + accumulates
        result = if (result == null) locked else result.unionByName(locked)
        val matchedV = locked.select(col("a").as("v"))
          .unionByName(locked.select(col("b").as("v")))
        elig = elig
          .join(matchedV.select(col("v").as("a")), Seq("a"), "left_anti")
          .join(matchedV.select(col("v").as("b")), Seq("b"), "left_anti")
          .select(col("a"), col("b"), col("w"))
          .localCheckpoint(true)
      }
    }
    if (!converged && !elig.isEmpty)
      throw new IllegalStateException(
        s"matchingOf: eligible edges remain after $rounds rounds — raise rounds")
    if (result == null) ue0.select(col("a"), col("b"), col("w")).limit(0)
    else result.select(col("a"), col("b"), col("w"))
  }

  /** W6 — replica repair: two overlapping partial logs, one full-outer LWW merge. */
  def copyRepair(spark: SparkSession, dir: String): DataFrame = {
    // both replicas filter the same derived log; materialize it once
    val log = TestGraph.edgeLog(spark, dir).localCheckpoint(true)
    val replicaA = EdgeStore(log.filter(col("position") % 5 =!= 0))
    val replicaB = EdgeStore(log.filter(col("position") % 5 =!= 1))
    replicaA.repairWith(replicaB).snapshot
      .groupBy(col("graph_id"))
      .agg(
        count(lit(1)).as("n_edges"),
        sum(col("position")).as("sum_pos"),
        sum(col("state").cast("long")).as("sum_state")
      )
  }

  /** g67 — the GRAPH DATASHEET: one row of structural vitals for the live
    * snapshot — the dc21 release-card discipline applied to the graph side.
    * Size (vertices, directed and undirected edge counts), reciprocity (the
    * mutual-follow share — THE flockdb-shaped health number), degree posture
    * (max, half-up mean), connectivity (exact component count + giant share,
    * the g29 kernel), and closure (triangles, wedges from the degree fold
    * Σd(d−1)/2, transitivity = 3△/wedges). Every number is either an exact
    * integer or one half-up micro ratio of exact integers.
    *
    * Scale shape: composes the bounded kernels it reports on — one snapshot
    * pass for degrees/reciprocity (self-joins on edge keys), the g29
    * size-dispatched component loop, the oriented g21 triangle join; every
    * rollup is a 1-row aggregate crossJoined broadcast, the card itself is one
    * row. Honest composite cost, like dc21. Overflow: the wedge fold
    * Σ d(d−1)/2 stays in BIGINT while max-degree² · |V| ≲ 9·10¹⁸ (a 10⁸-degree
    * hub is safe in a 10³-hub graph; beyond that move the fold to decimal —
    * the g62/s33 documented-bound convention).
    */
  def graphCard(spark: SparkSession, dir: String, maxCcRounds: Int = 50): DataFrame = {
    val de = TestGraph.store(spark, dir).snapshot
      .filter(col("graph_id") === 1 && col("state") === State.Normal &&
        col("source_id") =!= col("destination_id"))
      .select(col("source_id").as("s"), col("destination_id").as("d"))
      .distinct()
    graphCardOf(de, connectedComponents(spark, dir, maxCcRounds))
  }

  /** The rollup half of [[graphCard]] over an explicit directed-edge relation and
    * a component labeling — separated so the unit suite pins the card arithmetic
    * on a hand-computed graph (the component kernel has its own suites).
    */
  private[graft] def graphCardOf(deIn: DataFrame, components: DataFrame): DataFrame = {
    val de = deIn.localCheckpoint(true) // edge counts, reciprocity probe, und derivation
    val und = de.select(least(col("s"), col("d")).as("lo"), greatest(col("s"), col("d")).as("hi"))
      .distinct()
      .localCheckpoint(true) // degrees, triangle join, und count
    val degStats = und.select(col("lo").as("v"))
      .unionByName(und.select(col("hi").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
      .agg(
        count(lit(1)).as("n_vertices"),
        max(col("dg")).as("max_degree"),
        sum(col("dg")).as("sum_d"),
        sum(expr("dg * (dg - 1) DIV 2")).as("n_wedges"))
    val eDir = de.agg(count(lit(1)).as("n_edges_directed"))
    val eUnd = und.agg(count(lit(1)).as("n_edges_und"))
    val recip = de.alias("a")
      .join(de.alias("b"), col("a.s") === col("b.d") && col("a.d") === col("b.s"), "left_semi")
      .agg(count(lit(1)).as("n_recip"))
    val comps = components
      .groupBy(col("component")).agg(count(lit(1)).as("cnt"))
      .agg(count(lit(1)).as("n_components"), max(col("cnt")).as("giant"))
    val tris = triangleCountsOf(und)
      .agg(coalesce(sum(col("n_triangles")), lit(0L)).as("tri3")) // Σ per-vertex = 3·△
    degStats
      .crossJoin(broadcast(eDir)).crossJoin(broadcast(eUnd)).crossJoin(broadcast(recip))
      .crossJoin(broadcast(comps)).crossJoin(broadcast(tris))
      .select(
        col("n_vertices"), col("n_edges_directed"), col("n_edges_und"),
        expr("(2 * 1000000 * n_recip + n_edges_directed) DIV (2 * n_edges_directed)")
          .cast("long").as("reciprocity_micro"),
        col("max_degree"),
        expr("(2 * 1000000 * sum_d + n_vertices) DIV (2 * n_vertices)").cast("long")
          .as("avg_degree_micro"),
        col("n_components"),
        expr("(2 * 1000000 * giant + n_vertices) DIV (2 * n_vertices)").cast("long")
          .as("giant_share_micro"),
        expr("tri3 DIV 3").cast("long").as("n_triangles"),
        col("n_wedges"),
        when(col("n_wedges") === 0L, lit(0L))
          .otherwise(expr("(2 * 1000000 * tri3 + n_wedges) DIV (2 * n_wedges)").cast("long"))
          .as("transitivity_micro"))
  }
}
