package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.TextStats
import graft.queries.Select
import graft.testgraph.TestGraph

/** Physical-plan shape assertions — the properties that matter at 100 TB, pinned so a
  * refactor can't silently regress them (plan text of the driver-visible queries on the
  * smallest test scale).
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("LWW snapshot: hash-based object aggregation, one shuffle, no partition sort") {
    val p = plan(TestGraph.store(spark, dir).snapshot)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_graft_lww_winner"), s"partial (map-side) aggregation missing:\n$p")
    assert(!p.contains("Window"), "snapshot must not use the window-function formulation")
    assert(!p.contains("SortAggregate"),
      "a struct-buffer aggregate (e.g. max_by) would sort every partition by the edge key")
    val exchanges = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(exchanges == 1, s"snapshot should shuffle exactly once, saw $exchanges:\n$p")
  }

  test("star joins broadcast every dimension (q05 shape)") {
    val p = plan(AnalyticsQueries.regionRevenue(spark, dir))
    assert("BroadcastHashJoin".r.findAllMatchIn(p).size >= 4, p)
    assert(!p.contains("SortMergeJoin"), s"dimension joins must broadcast:\n$p")
  }

  test("intersection compiles to a semi-join, difference to an anti-join") {
    import Select.Ops
    val store = TestGraph.store(spark, dir)
    val semi = plan((Select(1L, 1) intersect Select(2L, 1)).ids(store))
    assert(semi.contains("LeftSemi"), semi)
    val anti = plan((Select(1L, 1) difference Select(2L, 1)).ids(store))
    assert(anti.contains("LeftAnti"), anti)
  }

  test("text pipeline stays inside whole-stage codegen (native expressions)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(TextStats.qualityScore(docs, "doc_id", "text"))
    assert(p.contains("*("), s"no whole-stage codegen stage found:\n$p")
    assert(p.contains("graft_count_occurrences"), p)
    val fp = plan(TextStats.fingerprint(docs, "doc_id", "text"))
    assert(fp.contains("graft_poly_fingerprint"), fp)
    assert(fp.contains("*("), s"fingerprint fell out of codegen:\n$fp")
  }

  test("adjacency/point filters push BELOW the LWW aggregation into the scan") {
    // at 100 TB this is the difference between a point lookup and folding the whole
    // log: predicates on grouping keys must reach the source as PushedFilters, with
    // only the post-merge state filter evaluated above the aggregation
    val p = plan(TestGraph.store(spark, dir).adjacency(model.QueryTerm(1L, 1)))
    assert(p.contains("PushedFilters: [IsNotNull(event_id), IsNotNull(user_id), EqualTo(user_id,1)]"),
      s"vertex predicate did not reach the scan:\n$p")
    val aggAboveScan = p.indexOf("ObjectHashAggregate")
    val filterAtScan = p.indexOf("EqualTo(user_id,1)")
    assert(aggAboveScan >= 0 && filterAtScan > aggAboveScan,
      "filter must sit below the aggregation in the plan")
  }

  test("int8 quantization is one map-only pass: no shuffle, inside codegen") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(pipeline.Similarity.quantizeError(emb, "vec_id", "embedding"))
    assert(!p.contains("Exchange"), s"quantization must not shuffle:\n$p")
    assert(p.contains("*("), s"quantization fell out of whole-stage codegen:\n$p")
  }

  test("contamination and two-hop never degrade to non-equi joins") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pc = plan(pipeline.Dedup.contamination(docs, "doc_id", "text"))
    assert(!pc.contains("CartesianProduct") && !pc.contains("BroadcastNestedLoopJoin"),
      s"contamination match must stay an equi-join on (band, signature):\n$pc")
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val ph = plan(GraphQueries.twoHopCounts(edges))
    assert(!ph.contains("CartesianProduct") && !ph.contains("BroadcastNestedLoopJoin"),
      s"two-hop must stay equi-joins (hop + anti):\n$ph")
  }

  test("PII redaction and chunking are shuffle-free map/generate passes") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pr = plan(TextStats.piiRedact(docs, "doc_id", "text"))
    assert(!pr.contains("Exchange"), s"piiRedact must not shuffle:\n$pr")
    assert(pr.contains("*("), s"piiRedact fell out of whole-stage codegen:\n$pr")
    val pc = plan(TextStats.chunk(docs, "doc_id", "text"))
    assert(!pc.contains("Exchange"), s"chunk must not shuffle:\n$pc")
    assert(pc.contains("Generate"), s"chunk should explode via a generator:\n$pc")
  }

  test("boilerplate probes the hot-shingle set via broadcast, never a shuffled join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.Dedup.boilerplate(docs, "doc_id", "text"))
    assert(p.contains("BroadcastHashJoin"), s"hot-set probe must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the full shingle relation must never shuffle through a sort-merge join:\n$p")
  }

  test("cluster quality broadcasts the centroid table against the vector stream") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(pipeline.Similarity.clusterQuality(emb, "label", "embedding"))
    assert(p.contains("BroadcastHashJoin"), s"centroid join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"vector stream must not shuffle for the join:\n$p")
  }

  test("sequence packing windows over bounded (source, pack_group) partitions") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.Sampling.sequencePack(docs, "doc_id", "source", "text"))
    val windowSpec = p.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(windowSpec.contains("pack_group"),
      s"window must partition by (source, pack_group), not source alone:\n$p")
  }

  test("whereGraph pushes the graph predicate below metadata's full-outer register join") {
    // metadata's register branch joins full_outer on (graph_id, source_id); Catalyst
    // never pushes predicates into a full-outer join, so the g20-shaped read must go
    // through the pruned-store view, where the predicate reaches both scans
    val tmp = java.nio.file.Files.createTempDirectory("graft-wheregraph").toString
    val base = TestGraph.store(spark, dir)
    base.snapshot.write.mode("overwrite").parquet(s"$tmp/edges")
    import spark.implicits._
    Seq((1, 4L, true, 2, 2200000), (2, 8L, true, 2, 2200000))
      .toDF("graph_id", "vertex_id", "is_forward", "state", "updated_at")
      .write.mode("overwrite").parquet(s"$tmp/vertex")
    val store = new graft.store.EdgeStore(
      spark.read.parquet(s"$tmp/edges"),
      Some(spark.read.parquet(s"$tmp/vertex")))
    val p = plan(store.whereGraph(1).metadata)
    assert("EqualTo\\(graph_id,1\\)".r.findAllMatchIn(p).size >= 2,
      s"graph predicate must reach BOTH scans (edge log and vertex log):\n$p")
    // the contrast that motivates the view: a post-metadata filter stays above the join
    val naive = plan(store.metadata.filter(col("graph_id") === 1))
    assert(!naive.contains("EqualTo(graph_id,1)"),
      s"post-filter now pushes through the full-outer join — whereGraph may be obsolete:\n$naive")
  }

  /** Every parquet scan in the plans of the actions `body` runs (eager
    * localCheckpoints included). Listener delivery is asynchronous but in order, so a
    * marker action run after `body` flushes everything before it.
    */
  private def scansDuring(body: => Unit): Seq[FileSourceScanExec] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val marker = spark.range(1)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe eq marker.queryExecution) flushed.countDown() else plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      marker.collect()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq.flatMap(p => AQE.collect(p) { case f: FileSourceScanExec => f })
  }
  private object AQE extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** The values a scan's partition and data filters pin `column` to (=, IN, INSET). */
  private def pinned(scan: FileSourceScanExec, column: String): Set[Any] = {
    import org.apache.spark.sql.catalyst.expressions._
    (scan.partitionFilters ++ scan.dataFilters).flatMap(_.collect {
      case EqualTo(a: Attribute, Literal(v, _)) if a.name == column => Seq(v)
      case In(a: Attribute, list) if a.name == column => list.collect { case Literal(v, _) => v }
      case InSet(a: Attribute, set) if a.name == column => set.toSeq
    }.flatten).toSet
  }

  private def isScanOf(scan: FileSourceScanExec, dir: String): Boolean =
    scan.relation.location.rootPaths.exists(_.getName == dir)

  /** TestGraph's snapshot saved with the scale layout (graph-partitioned, source-sorted)
    * under `edges`, plus a two-row register log under `vertex`.
    */
  private lazy val savedStore: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-keyed").toString
    graft.store.EdgeStorage.save(TestGraph.store(spark, dir).snapshot, s"$tmp/edges", buckets = 4)
    import spark.implicits._
    Seq((1, 4L, true, 2, 2200000), (2, 8L, true, 2, 2200000))
      .toDF("graph_id", "vertex_id", "is_forward", "state", "updated_at")
      .write.mode("overwrite").parquet(s"$tmp/vertex")
    tmp
  }

  test("point metadata read pushes the (graph, vertex) key into BOTH log scans") {
    // the facade path of every get_metadata/contains_metadata RPC: the reference routes
    // to one shard and reads one row; a post-metadata filter cannot cross the
    // full-outer register join, so the key must sit on each scan
    val store = new graft.store.EdgeStore(
      spark.read.parquet(s"$savedStore/edges"), Some(spark.read.parquet(s"$savedStore/vertex")))
    val scans = scansDuring(new service.FlockService(store).getMetadata(4L, 1))
    val (edges, vertex) = (scans.filter(isScanOf(_, "edges")), scans.filter(isScanOf(_, "vertex")))
    assert(edges.nonEmpty && vertex.nonEmpty, s"expected both log scans:\n${scans.mkString("\n")}")
    edges.foreach { s =>
      assert(pinned(s, "graph_id") == Set(1) && pinned(s, "source_id") == Set(4L), s"edge scan:\n$s")
    }
    vertex.foreach { s =>
      assert(pinned(s, "graph_id") == Set(1) && pinned(s, "vertex_id") == Set(4L), s"vertex scan:\n$s")
    }
  }

  test("a count2 batch folds only its leaf vertices, pinned per direction in the scans") {
    val svc = new service.FlockService(graft.store.EdgeStorage.load(spark, s"$savedStore/edges"))
    def term(v: Long, fwd: Boolean) = queries.TermOp(model.QueryTerm(v, 2, isForward = fwd))
    val scans = scansDuring(svc.count2(Seq(
      Seq(term(11L, fwd = true)),
      Seq(term(11L, fwd = true), term(12L, fwd = true), queries.IntersectionOp),
      Seq(term(7L, fwd = false)))))
      .filter(isScanOf(_, "edges"))
    val forward = scans.filter(pinned(_, "source_id").nonEmpty)
    val backward = scans.filter(pinned(_, "destination_id").nonEmpty)
    assert(forward.nonEmpty && backward.nonEmpty && forward.size + backward.size == scans.size,
      s"every edge scan must carry one direction's keys:\n${scans.mkString("\n")}")
    forward.foreach(s => assert(pinned(s, "source_id") == Set(11L, 12L), s.toString))
    backward.foreach(s => assert(pinned(s, "destination_id") == Set(7L), s.toString))
    scans.foreach(s => assert(pinned(s, "graph_id") == Set(2), s.toString))
  }

  test("a small write batch folds only the key-pruned log, not the whole store") {
    import spark.implicits._
    val store = graft.store.EdgeStorage.load(spark, s"$savedStore/edges")
    // 8 forward adds, one backward add (normalizes to source 9), one backward wildcard
    val ops = ((1L to 8L).map(s => (1, s, Option(5L), 0, 3000000, true)) ++ Seq(
      (1, 50L, Option(9L), 0, 3000000, false),
      (1, 7L, None: Option[Long], 2, 3000001, false)))
      .toDF("graph_id", "source_id", "destination_id", "state", "updated_at", "is_forward")
      .withColumn("position", lit(null).cast("long"))
    val scans = scansDuring(store.applyOperations(ops)).filter(isScanOf(_, "edges"))
    val forward = scans.filter(pinned(_, "source_id").nonEmpty)
    val backward = scans.filter(pinned(_, "destination_id").nonEmpty)
    assert(forward.nonEmpty && backward.nonEmpty && forward.size + backward.size == scans.size,
      s"the pre-batch fold must read only key-restricted scans:\n${scans.mkString("\n")}")
    forward.foreach(s => assert(pinned(s, "source_id") == (1L to 9L).toSet, s.toString))
    backward.foreach(s => assert(pinned(s, "destination_id") == Set(7L), s.toString))
  }

  test("metadataPatched folds only the touched vertices, pinned in the edge-log scan") {
    import spark.implicits._
    val store = graft.store.EdgeStorage.load(spark, s"$savedStore/edges")
    val ops = Seq((1, 1L, Option(5L), 0, 3000000, None: Option[Long]))
      .toDF("graph_id", "source_id", "destination_id", "state", "updated_at", "position")
    // a materialized prev: its own full fold is not part of the patch
    val prev = store.metadata.localCheckpoint(eager = true)
    val (after, touched) = store.applyOperationsWithDelta(ops)
    val scans = scansDuring(after.metadataPatched(prev, touched).collect())
      .filter(isScanOf(_, "edges"))
    assert(scans.nonEmpty, "expected the recompute side to scan the edge log")
    scans.foreach { s =>
      assert(pinned(s, "graph_id") == Set(1) && pinned(s, "source_id") == Set(1L), s"edge scan:\n$s")
    }
  }

  test("vocabCoverage broadcasts the top-k vocabulary against the token stream") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(TextStats.vocabCoverage(docs, "doc_id", "text"))
    assert(p.contains("BroadcastHashJoin"), s"vocab probe must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the token relation must never shuffle through the vocab join:\n$p")
  }

  test("rerank coarse stage shuffles scores only — full vectors never enter its window") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") % 50 === 0)
    val p = plan(pipeline.Similarity.rerankTopK(q, emb, "vec_id", "embedding", 5))
    // two ranking windows: the coarse one must rank (query, neighbor, coarse_sim)
    // without carrying the 64-dim qv/cv arrays through its sort+exchange
    val coarseWindow = p.linesIterator.find(l => l.contains("Window") && l.contains("coarse_sim"))
    assert(coarseWindow.isDefined, s"no coarse ranking window found:\n$p")
    assert(!coarseWindow.get.contains("qv#") && !coarseWindow.get.contains("cv#"),
      s"full vectors leaked into the coarse ranking shuffle:\n${coarseWindow.get}")
  }

  test("documents scan prunes to the referenced columns only") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(TextStats.tokenStats(docs, "doc_id", "text"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must read only (doc_id, text):\n$p")
  }

  test("HLL registers reduce map-side: partial max before the (key, idx) exchange") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val items = pipeline.Dedup.shingles(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("shingle"))
    val p = plan(pipeline.Sketches.hllDistinct(items, "source", "shingle", b = 6))
    assert(p.contains("partial_max"), s"register max must combine map-side:\n$p")
    assert(!p.contains("SortAggregate"), s"register agg degraded to sort-based:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("hourly anomaly windows over the post-aggregate hourly grain, not raw events") {
    val p = plan(AnalyticsQueries.hourlyAnomaly(spark, dir))
    val window = p.linesIterator.find(_.contains("Window"))
    assert(window.isDefined, s"no window found:\n$p")
    // the window must consume (hour_bucket, n) — raw event columns would mean the
    // window runs over the full event stream instead of the tiny hourly relation
    assert(!window.get.contains("event_id#") && !window.get.contains("user_id#"),
      s"raw event columns leaked into the anomaly window:\n${window.get}")
    assert(p.contains("partial_count"), s"hourly rollup must combine map-side:\n$p")
  }

  test("dimension stats stay in hash aggregation with map-side combine") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(pipeline.Similarity.dimStats(emb, "embedding"))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"dim agg must combine map-side:\n$p")
    assert(!p.contains("SortAggregate"), s"dim agg degraded to sort-based:\n$p")
    assert(p.contains("ReadSchema: struct<embedding:array<float>>"),
      s"scan must read only the embedding column:\n$p")
  }

  test("selective revenue pushes both predicates and prunes to three columns") {
    val p = plan(AnalyticsQueries.selectiveRevenue(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), IsNotNull(l_discount)"),
      s"predicates must reach the parquet scan:\n$p")
    assert(p.contains("LessThan(l_quantity,25"), s"quantity predicate not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double>"),
      s"scan must prune to the three referenced columns:\n$p")
  }

  test("rollup plans as one Expand + aggregation, not a re-scan per grouping level") {
    val p = plan(AnalyticsQueries.regionRevenueRollup(spark, dir))
    assert(p.contains("Expand"), s"rollup must plan through Expand:\n$p")
    assert("Scan parquet .*lineitem".r.findAllMatchIn(p).size == 1,
      s"lineitem must be scanned exactly once across grouping levels:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension joins must broadcast:\n$p")
  }

  test("event-type pivot is a single user-keyed aggregation (pinned columns, no extra pass)") {
    val p = plan(AnalyticsQueries.eventTypePivot(spark, dir))
    assert("Scan parquet .*events".r.findAllMatchIn(p).size == 1,
      s"pivot must not re-scan events to discover its columns:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(exchanges == 1, s"pivot should shuffle once on user_id, saw $exchanges:\n$p")
  }

  test("bloom probe joins bit positions with equi-joins only") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.Sketches.bloomContamination(docs, "doc_id", "text"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bloom membership must stay an equi-join:\n$p")
  }

  test("random projection is a pure map: no exchange, codegen'd dot products") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(pipeline.Similarity.randomProjection(emb, "vec_id", "embedding", 8, 64))
    assert(!p.contains("Exchange"), s"projection must not shuffle:\n$p")
    assert(p.contains("graft_dot"), s"planes must use the native dot product:\n$p")
    assert(p.contains("*("), s"projection fell out of whole-stage codegen:\n$p")
  }

  test("adamic-adar candidates come from equi-joins, never a pair product") {
    val p = plan(GraphQueries.adamicAdar(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an inverted-index equi-join:\n$p")
    assert(p.contains("LeftAnti"), s"existing edges must leave via one anti-join:\n$p")
  }

  test("unigram LM score: corpus total joins as a 1-row broadcast, aggs combine map-side") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.TextStats.unigramLogProb(docs, "doc_id", "text"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row total must broadcast, not shuffle:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"token counts must combine map-side:\n$p")
    assert(!p.contains("Window"), s"no window needed in the LM score:\n$p")
  }

  test("theta sketch: bounded-state threshold agg, broadcast pair algebra, equi-joins only") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    import spark.implicits._
    val items = pipeline.Dedup.shingles(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("shingle"))
    val p = plan(pipeline.Sketches.plannedThetaDifference(items, "source", "shingle", k = 64))
    assert(p.contains("graft_kth_smallest"), s"theta must come from the bounded-state agg:\n$p")
    assert(!p.contains("SortAggregate"),
      s"threshold agg degraded to sort-based (loses map-side combine):\n$p")
    assert(!p.contains("Window"),
      s"per-key bottom-k must never be a window sort (unsplittable partitions):\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"the |keys|-sized pair/sample algebra must broadcast:\n$p")
  }

  test("k-truss rounds stay equi-join wedge enumeration with map-side support counts") {
    import spark.implicits._
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("lo", "hi")
    val p = plan(GraphQueries.plannedKTruss(und, k = 4, rounds = 1))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triangle support must stay equi-joins:\n$p")
    assert(p.contains("partial_count"), s"support counts must combine map-side:\n$p")
    assert(p.contains("LeftSemi"), s"the prune must be one semi-join:\n$p")
  }

  test("SSSP relaxation rounds stay equi-joins with map-side-combined min distances") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("v")
    val p = plan(GraphQueries.plannedSssp(edges, seeds, rounds = 2))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"relaxation must stay an equi-join on the source vertex:\n$p")
    assert(p.contains("partial_min"), s"distance min must combine map-side:\n$p")
    assert(!p.contains("SortAggregate"), s"distance agg degraded to sort-based:\n$p")
  }

  test("rolling actives: events collapse to distinct (day,user) before the offset fanout") {
    val p = plan(AnalyticsQueries.rollingActiveUsers(spark, dir))
    // the 7-offset fanout must join the deduped daily relation, not raw events:
    // events is scanned exactly once (into the checkpoint), and the offset join is
    // a broadcast of the tiny 7-row offsets relation
    assert("Scan parquet .*events".r.findAllMatchIn(p).size <= 1,
      s"events must be scanned at most once (checkpointed daily relation):\n$p")
    assert(!p.contains("CartesianProduct"),
      s"offset fanout must broadcast, not cartesian:\n$p")
  }

  test("hybrid lexical side: postings aggregate exchange-free, per-doc stats never broadcast") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the lazy plan form: the public lexicalTopK materializes eagerly and releases
    // the tf cache, so its returned plan is just the checkpoint scan
    val (df, tf) = graft.pipeline.Retrieval.lexicalTopKPlan(
      docs.filter(col("doc_id") % 50 === 0), docs, "doc_id", "text", k = 10)
    df.collect() // AQE: shape decisions (broadcasts) land in the final plan only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    tf.unpersist(blocking = false)
    // the doc-partitioned tf cache makes dl's window, the (query, doc) partial agg,
    // and the final agg all satisfy their clustering by the subset rule: the ONLY
    // requirement-driven shuffles in the main dataflow are the corpus (doc, token)
    // count and the final per-query window — the posting-join output itself (the
    // biggest relation in the query) never shuffles
    val ensure = "hashpartitioning[^)]*\\), ENSURE_REQUIREMENTS".r.findAllMatchIn(p).size
    assert(ensure == 2,
      s"expected 2 requirement shuffles (corpus tf agg, query window), saw $ensure:\n$p")
    assert(p.contains("REPARTITION_BY_COL"), s"tf must be doc-repartitioned in its cache:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"tf must be cached with planner-visible partitioning (not checkpointed):\n$p")
    assert(p.contains("WindowGroupLimit"), s"per-query top-k must prune pre-shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"), s"posting/statistics joins must broadcast here:\n$p")
  }

  test("hybrid lexical side: a vocabulary over the broadcast threshold is not forced into a broadcast") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def topK() = {
      val (df, tf) = graft.pipeline.Retrieval.lexicalTopKPlan(
        docs.filter(col("doc_id") % 50 === 0), docs, "doc_id", "text", k = 10)
      val rows = df.collect().toSet
      tf.unpersist(blocking = false)
      (rows, df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0))
    }
    val (want, _) = topK()
    // a 1-byte threshold makes every vocabulary "too big": no hint, no broadcast of
    // dfreq by size, the token join sort-merges, and the answer is unchanged
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    val (got, p) = try topK() finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(p.contains("SortMergeJoin"), s"an over-threshold dfreq must not be broadcast:\n$p")
    assert(got == want)
  }

  test("hybrid lexical side, unbounded query batch: query pairs shuffle-join, never broadcast") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // threshold 0 = every batch counts as unbounded: the per-token query-id sets
    // must NOT become a broadcast build side (|Q|-sized per token at scale) — the
    // deduped (query, token) pairs sort-merge-join the weights on the token key
    val (df, tf) = graft.pipeline.Retrieval.lexicalTopKPlan(
      docs.filter(col("doc_id") % 50 === 0), docs, "doc_id", "text", k = 10,
      maxBroadcastQueries = 0L)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    tf.unpersist(blocking = false)
    assert(p.contains("SortMergeJoin"),
      s"unbounded branch must sort-merge-join the query pairs on token:\n$p")
    assert(!p.contains("collect_set"),
      s"unbounded branch must not build per-token query-id sets:\n$p")
    assert(p.contains("WindowGroupLimit"), s"per-query top-k must still prune pre-shuffle:\n$p")
  }

  test("semDedup: pairwise work stays inside cell equi-joins off the assignment checkpoint") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.pipeline.Similarity.semDedup(emb, "vec_id", "embedding", threshold = 0.4)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the assignment cross-join against the broadcast centroid table happened inside
    // the eager cells checkpoint; the RESULT plan — the per-pair hot path — must be
    // pure equi-joins on the cell id over the checkpoint scans, never a pair product
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"within-cell comparison must equi-join on cid:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"no cell equi-join found:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"pair comparison must read the assignment checkpoint, not recompute cells:\n$p")
  }

  test("LPA round: equi-join + map-side-combined vote counts + pre-shuffle argmax prune") {
    import spark.implicits._
    val adj = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val p = plan(GraphQueries.plannedLpa(adj, rounds = 1))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the label join must stay an equi-join:\n$p")
    assert(p.contains("partial_count"),
      s"(vertex, label) vote counts must combine map-side:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"the per-vertex argmax must prune to rank 1 before the window shuffle:\n$p")
  }

  test("BPE merge rounds read the word-frequency dictionary, never the corpus") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val dict = TextStats.bpeDictionary(docs, "doc_id", "text")
    // the one corpus-sized pass: explode tokens, ONE exchange into the (token) agg
    val round = plan(TextStats.bpePairCounts(dict))
    assert(round.contains("Scan ExistingRDD"),
      s"pair counts must read the dictionary checkpoint:\n$round")
    assert(!round.contains("Scan parquet"),
      s"a merge round must never rescan the corpus:\n$round")
    assert(round.contains("partial_sum"),
      s"pair counts must combine map-side before the |vocab|^2-bounded exchange:\n$round")
  }

  test("event-time normalization still prunes the events scan to the referenced columns") {
    // EventTime.micros wraps ts in a cast/unix_micros projection — the projection must
    // not defeat scan-level column pruning (a scan reading all 6 event columns for a
    // 2-column rollup would read ~3x the bytes at 100 TB)
    val p = plan(AnalyticsQueries.hourlyRollup(spark, dir))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("event_id") && !read.contains("user_id") && !read.contains("props"),
      s"unreferenced event columns leaked into the scan:\n$read")
    assert(p.contains("partial_count"), s"hourly rollup must combine map-side:\n$p")
  }

  test("PRF expansion works on the feedback relation; round-2 broadcasts the expanded queries") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(pipeline.Similarity.prfTopK(
      emb.filter(col("vec_id") % 50 === 0), emb, "vec_id", "embedding", k = 5, feedbackK = 5))
    // round 2 must stream the corpus once against a broadcast of the |Q| expanded
    // vectors — a shuffled or cartesian corpus×corpus pairing would be the scale bug
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), s"round-2 degenerated to a cartesian:\n$p")
    // the per-(query, dim) expansion aggregation combines map-side
    assert(p.contains("partial_sum"), s"feedback sums must combine map-side:\n$p")
  }

  test("dup-span detection never self-joins — cost stays linear in corpus tokens") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.Dedup.dupSpans(docs, "doc_id", "text"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span fold must stay equi-join only:\n$p")
    // the doc-frequency agg must combine map-side (8-byte hash keys)
    assert(p.contains("partial_count") || p.contains("partial_finalmerge"),
      s"df agg must combine map-side:\n$p")
  }

  test("DSIR scoring joins the bounded weight table broadcast — corpus tf never reshuffles") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.Sampling.dsirScores(docs, "doc_id", "text", "source", "src0"))
    // the ≤buckets-row weight relation rides to every executor; a sort-merge join
    // here would shuffle the corpus-sized tf relation a second time
    assert(p.contains("BroadcastHashJoin"), s"weight join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("kNN graph candidates come from (table, bucket) equi-joins, never a pair product") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(pipeline.Similarity.knnGraph(emb, "vec_id", "embedding"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an equi-join:\n$p")
  }

  test("AMS F2 registers are built from the per-key count relation, not the raw stream") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val p = plan(pipeline.Sketches.amsF2(ev, "user_id"))
    // the width-explode must sit ABOVE the count agg: Generate over an aggregate,
    // with the count combining map-side — a pre-agg explode would amplify the scan
    assert(p.contains("Generate"), p)
    assert(p.contains("partial_count") || p.contains("partial_finalmerge"),
      s"per-key counts must combine map-side:\n$p")
  }

  test("attribution is one window pass per user with no joins") {
    val p = plan(AnalyticsQueries.attribution(spark, dir))
    assert(!p.contains("Join"), s"attribution must stay join-free:\n$p")
    // exactly one window sort (the per-user last-touch carry), then a hash-agg
    assert("RunningWindowFunction|Window".r.findFirstIn(p).isDefined, p)
  }

  test("random-walk steps are equi-joins of the walk frontier against indexed adjacency") {
    val p = plan(GraphQueries.randomWalks(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"walk steps must stay equi-joins:\n$p")
  }

  test("media-text alignment is one id equi-join with a map-side embed pass") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), encode(col("text"), "UTF-8").as("media"))
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(pipeline.Multimodal.mediaTextAlignment(
      docs, "doc_id", "source", "media", emb, "vec_id", "embedding"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"alignment must stay an equi-join:\n$p")
  }

  test("PMI: token-key equi-joins, single-row totals broadcast, top-k is TakeOrdered") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(TextStats.pmiPairs(docs, "text"))
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-k must be a distributed TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"no materialized pair product:\n$p")
    // the unigram-count joins are hash equi-joins on the token keys; the only
    // nested-loop join is the ONE single-row corpus-totals row crossed in broadcast
    assert("BroadcastHashJoin".r.findAllMatchIn(p).size == 2,
      s"both count joins must be token-key equi-joins:\n$p")
    assert("BroadcastNestedLoopJoin BuildRight, Cross".r.findAllMatchIn(p).size == 1,
      s"exactly the one single-row totals row may cross in:\n$p")
  }

  test("Zipf fit: the global rank window only ever sees the fitK-row vocabulary head") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = TextStats.zipfFit(docs, "doc_id", "text", fitK = 100)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"the vocabulary head cut must be a distributed TakeOrdered:\n$p")
    // the window's input is the TakeOrdered output, never the full vocab relation:
    // the plan has exactly one Window and it sits above the limit
    assert("Window".r.findAllMatchIn(p).size == 1, s"one rank window expected:\n$p")
    assert(p.indexOf("Window") < p.indexOf("TakeOrderedAndProject"),
      s"the rank window must consume the TakeOrdered head (appear above it):\n$p")
  }

  test("moments sketch is one map-side-combinable hash aggregation — no window, no join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.Sketches.momentsSketch(docs, "source", "n_chars"))
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_"), s"power sums must combine map-side:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"the sketch is a single agg over the scan:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(exchanges == 1, s"one shuffle on the group key expected, saw $exchanges:\n$p")
  }

  test("cluster keep-longest windows per CLUSTER, never a global sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.Dedup.clusterKeepLongest(docs, "doc_id", "text"))
    val windowSpec = p.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(windowSpec.contains("cluster_id"),
      s"the keep decision must window per cluster_id partition:\n$p")
    assert(!p.contains("CartesianProduct"), s"no pair product in the keep layer:\n$p")
  }

  test("activity Pareto crosses in one broadcast totals row and windows the rollup") {
    val p = plan(AnalyticsQueries.activityPareto(spark, dir))
    assert("Window".r.findAllMatchIn(p).nonEmpty, s"rank/cumulative windows missing:\n$p")
    assert("BroadcastNestedLoopJoin BuildRight, Cross".r.findAllMatchIn(p).size == 1,
      s"exactly the one single-row totals row may cross in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no heavyweight joins anywhere in the Pareto rollup:\n$p")
  }

  test("RFM ranks the per-user aggregate, not raw events") {
    val p = plan(AnalyticsQueries.rfm(spark, dir))
    // the rank windows must EXIST and consume the checkpointed per-user aggregate —
    // a FileScan here would mean the windows re-read raw events
    assert("Window".r.findAllMatchIn(p).nonEmpty, s"rank windows missing:\n$p")
    assert(!p.contains("FileScan"),
      s"windows must consume the per-user aggregate checkpoint, never raw events:\n$p")
    assert(!p.contains("Join"), s"RFM (bounded branch) is agg + windows, no joins:\n$p")
  }

  test("RFM extreme-cardinality branch ranks without any single-partition exchange") {
    // maxGlobalWindowUsers = 0 forces the distributedRank path: the visible plan is
    // the LAST rank's form — a per-range-partition window (partitioned by the stamped
    // pid) plus the broadcast offset join; a global rank would surface as
    // `Exchange SinglePartition` pushing every user through one task
    val p = plan(AnalyticsQueries.rfm(spark, dir, maxGlobalWindowUsers = 0L))
    assert(!p.contains("Exchange SinglePartition"),
      s"no data-sized relation may collapse to one partition:\n$p")
    val windowSpec = p.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(windowSpec.contains("__pid"),
      s"rank windows must partition by the stamped range-partition id:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-partition offsets must broadcast back onto the ranked rows:\n$p")
  }

  test("source drift: one count pass, totals broadcast back, no heavyweight joins") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.TextStats.sourceDrift(docs, "doc_id", "text", "source", 250L))
    // the (source, token) count relation is checkpointed once; the source totals
    // come back as a broadcast equi-join — a sort-merge join or a second corpus
    // scan here would double the dominant pass at 100 TB
    assert(p.contains("BroadcastHashJoin"), s"source totals must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("FileScan"),
      s"the term pass must reuse the count checkpoint, not re-read the corpus:\n$p")
  }

  test("q10-q13 TPC-H shapes keep their scalable join forms") {
    // q10: anti/exists composition in count form — no correlated self-join, the
    // supplier dimension broadcasts
    val p10 = plan(AnalyticsQueries.waitingSuppliers(spark, dir))
    assert(p10.contains("BroadcastHashJoin"), p10)
    assert(!p10.contains("CartesianProduct"), p10)
    // q11: the decorrelated per-part stats equi-join BOTH reads the one brand-rows
    // checkpoint — no correlated re-scan of the fact table (the brand filter join
    // sits below the checkpoint; the stats side stays AQE-decided because one
    // brand's stats can outgrow a broadcast at 1e9 parts)
    val p11 = plan(AnalyticsQueries.smallQuantityRevenue(spark, dir))
    assert(!p11.contains("FileScan"),
      s"the filter side must reuse the brand-rows checkpoint, not re-scan lineitem:\n$p11")
    assert(!p11.contains("CartesianProduct"), p11)
    // q12: the no-recent-order predicate must be a LEFT ANTI join; both scalar
    // rows ride broadcast
    val p12 = plan(AnalyticsQueries.idleRichCustomers(spark, dir))
    assert(p12.contains("LeftAnti"), s"NOT EXISTS must compile to an anti-join:\n$p12")
    assert("BroadcastNestedLoopJoin BuildRight, Cross".r.findAllMatchIn(p12).size == 2,
      s"exactly the two single-row scalars may cross in:\n$p12")
    // q13: the zero-order band requires the OUTER join to survive optimization
    val p13 = plan(AnalyticsQueries.customerOrderDistribution(spark, dir))
    assert(p13.contains("LeftOuter"), s"inner-joining loses the zero-order band:\n$p13")
  }

  test("q14/q18/q19 shapes: raw-column predicates push to the scans, dims broadcast, top-k is TakeOrdered") {
    // q14: the shipdate window must reach the parquet footer (a year(col) phrasing
    // would evaluate post-scan) and the part dim broadcasts
    val p14 = plan(AnalyticsQueries.promoRevenue(spark, dir))
    assert(p14.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"shipdate range must push down to the lineitem scan:\n$p14")
    assert(p14.contains("BroadcastHashJoin") && !p14.contains("SortMergeJoin"), p14)
    // q18: the qualifying-order set and the qualified-orders relation broadcast
    // (the customer dimension is NEVER a build side at warehouse scale); top-k
    // must compile to TakeOrdered, not a global sort
    val p18 = plan(AnalyticsQueries.largeVolumeCustomers(spark, dir))
    assert("BroadcastHashJoin".r.findAllMatchIn(p18).size == 2, p18)
    assert(p18.contains("TakeOrderedAndProject"), s"top-k must be TakeOrdered:\n$p18")
    // q19: the disjunction's per-side envelopes prune BOTH scans; the residual
    // OR evaluates post-join on the shrunken inputs
    val p19 = plan(AnalyticsQueries.disjunctiveRevenue(spark, dir))
    assert(p19.contains("GreaterThanOrEqual(l_quantity,1.0), LessThanOrEqual(l_quantity,30.0)"),
      s"the quantity envelope must push down to the lineitem scan:\n$p19")
    assert(p19.contains("In(p_brand"), s"the brand union must push down to the part scan:\n$p19")
    assert(p19.contains("BroadcastHashJoin") && !p19.contains("CartesianProduct"), p19)
  }

  test("q15/q16/q17/q20 shapes: decorrelated forms keep their reduced-relation plans") {
    // q17 (TPC-H Q2 shape): the argmin window partitions per part over the REDUCED
    // per-(part, supplier) relation — lineitem is scanned exactly once
    val p17 = plan(AnalyticsQueries.minCostSupplier(spark, dir))
    assert("FileScan parquet.*lineitem".r.findAllMatchIn(p17).size == 1,
      s"the correlated phrasing would re-scan the fact table per part:\n$p17")
    assert(!p17.contains("CartesianProduct"), p17)
    // q15: the per-supplier revenue relation materializes once; the scalar max
    // rides a 1-row broadcast back over the checkpoint — no second fact aggregate
    val p15 = plan(AnalyticsQueries.topSupplier(spark, dir))
    assert(!p15.contains("FileScan parquet") || !p15.contains("lineitem"),
      s"the max must come off the revenue checkpoint, not a fact re-scan:\n$p15")
    assert(p15.contains("Scan ExistingRDD"), p15)
    // q16: the blacklist is a broadcast anti join, never a per-row subquery
    val p16 = plan(AnalyticsQueries.supplierVariety(spark, dir))
    assert(p16.contains("LeftAnti"), s"NOT IN must compile to an anti-join:\n$p16")
    assert(!p16.contains("SortMergeJoin"), p16)
    // q20: the nested IN chain flattens to one fact pass + a LEFT SEMI into the
    // supplier dimension
    val p20 = plan(AnalyticsQueries.excessShippers(spark, dir))
    assert(p20.contains("LeftSemi"), s"the IN chain must compile to a semi-join:\n$p20")
    assert("FileScan parquet.*lineitem".r.findAllMatchIn(p20).size == 1, p20)
    // q21 (Q9 shape): the three true dimensions broadcast; one fact scan; the
    // profit expression folds into the partial aggregate (map-side combine)
    val p21 = plan(AnalyticsQueries.productProfit(spark, dir))
    assert("BroadcastHashJoin".r.findAllMatchIn(p21).size >= 3, p21)
    assert("FileScan parquet.*lineitem".r.findAllMatchIn(p21).size == 1, p21)
    assert(p21.contains("partial_sum"), s"profit must combine map-side:\n$p21")
  }

  test("g47 Katz: every round reads the edge/vertex checkpoints — no parquet re-scan, no pair product") {
    val p = plan(GraphQueries.katzCentrality(spark, dir))
    assert(!p.contains("FileScan"),
      s"all three unrolled rounds must read the localCheckpoints, never re-scan parquet:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("g48 betweenness: backward fold reads level checkpoints via equi-joins only") {
    val p = plan(GraphQueries.betweennessSampled(spark, dir))
    assert(!p.contains("FileScan"),
      s"both backward levels must read the forward-pass checkpoints, never re-scan parquet:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"(seed, successor) matching must stay an equi-join:\n$p")
  }

  test("d19 decontamination: the benchmark n-gram set broadcasts into the probe — never a self-join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.Dedup.benchmarkDecontaminate(docs, "doc_id", "text"))
    assert(p.contains("BroadcastHashJoin"), s"the eval-suite side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("dc05 coverage: assignment runs once into the census checkpoint; result plan is product-free") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.pipeline.Curation.semanticCoverage(
      docs, emb, "doc_id", "source", "vec_id", "embedding")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the n×K centroid fan happened ONCE inside the eager census checkpoint; the
    // result plan — entropy terms, totals, final join — must read that checkpoint
    // and contain no products at all (the semDedup pin discipline)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"everything past the census must be equi-joins/aggregates:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"consumers must read the census checkpoint, not re-run the assignment:\n$p")
  }

  test("dc07 matrix: the pair product reads only the catalog-sized centroid checkpoint") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.pipeline.Curation.sourceCentroidMatrix(
      docs, emb, "doc_id", "source", "vec_id", "embedding")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the |sources|² nest-loop is deliberate — but its BOTH inputs must be the
    // checkpointed centroid relation, never a data-sized scan
    assert(!p.contains("FileScan"),
      s"the pair join must read the centroid checkpoint, not re-derive it:\n$p")
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("dc06 matrix: pair fanout rides the cluster equi-join — never a source product") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.pipeline.Curation.crossSourceDup(docs, "doc_id", "text", "source"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the source-pair matrix must come from the cluster_id equi-join:\n$p")
  }

  test("gap quantiles: windows stay per-user / per-type — never event-count-global") {
    val p = plan(AnalyticsQueries.gapQuantiles(spark, dir))
    // the lag runs per user partition; the quantile windows run over the
    // per-(type, second) histogram partitioned by type — no window over the raw
    // event relation may collapse to a single partition
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty, s"expected lag + quantile windows:\n$p")
    specs.foreach { s =>
      assert(s.contains("user_id") || s.contains("event_type"),
        s"window without a partition key (global over events?): $s")
    }
    assert(!p.contains("CartesianProduct"), p)
  }

  test("modularity: integer masses equi-join, the single m row broadcasts") {
    val p = plan(GraphQueries.modularity(spark, dir))
    assert("BroadcastNestedLoopJoin BuildRight, Cross".r.findAllMatchIn(p).size == 1,
      s"exactly the one single-row m total may cross in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("FileScan"),
      s"scoring must consume the und/community checkpoints, not re-read the store:\n$p")
  }

  test("hashed drift: totals broadcast, no corpus re-scan past the count checkpoint") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.TextStats.sourceDriftHashed(docs, "doc_id", "text", "source", 250L))
    assert(p.contains("BroadcastHashJoin"), s"source totals must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("FileScan"), p)
  }

  test("k-means training rounds read checkpoints — the corpus parquet is scanned once") {
    // every round's assignment pass reads the ONE materialized vector relation and
    // the k-row centroid checkpoint; a FileScan in the final plan would mean a round
    // re-read the corpus from parquet (rounds × full-scan cost at 100 TB)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(pipeline.Similarity.kmeansTrain(
      emb, "vec_id", "embedding", k = 8, dims = 64, rounds = 2))
    assert(!p.contains("FileScan"),
      s"a training round re-scanned the corpus instead of its checkpoint:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("trained IVF-PQ broadcasts the model; nothing joins all-pairs") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(pipeline.Similarity.ivfPqTrainedTopK(
      emb.filter(col("vec_id") % 50 === 0), emb, "vec_id", "embedding", k = 5))
    // the centroid cross joins must be broadcast nested-loop (k-row model side),
    // never a shuffled cartesian product; the ADC scoring stays equi-join
    assert(!p.contains("CartesianProduct"), s"all-pairs join in the trained ANN path:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"trained centroids must broadcast onto the vector stream:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"ADC scoring must stay equi-join:\n$p")
  }

  test("activity Pareto extreme-cardinality branch ranks without single-partition exchange") {
    val p = plan(AnalyticsQueries.activityPareto(spark, dir, maxGlobalWindowUsers = 0L))
    // the only remaining windows are the per-pid local rank and the 10-row decile
    // cumulative — neither may be a SinglePartition exchange over the user relation
    // (the decile window's input is the 10-row rollup aggregate, enforced by the
    // aggregate appearing BELOW it in the plan)
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach { case (_, i) =>
      val child = lines.drop(i + 1).headOption.getOrElse("")
      assert(child.contains("HashAggregate(keys=[decile") || child.contains("partial_"),
        s"a SinglePartition exchange over a data-sized relation (child: $child):\n$p")
    }
    val windowSpec = p.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(windowSpec.nonEmpty, s"windows missing:\n$p")
  }

  test("domain stats: per-source aggregation with a 1-row broadcast total, no pair product") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.Curation.domainStats(docs, "doc_id", "text", "source"))
    // the token-share total crosses back as a single broadcast row; nothing in the
    // triage table may multiply data-sized relations
    assert(p.contains("BroadcastNestedLoopJoin"), s"totals row must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("quality cap: bounded KthSmallest threshold below the per-source window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.Curation.qualityCap(docs, "doc_id", "text", "source", k = 10))
    // the t09 shape with a quality sort key: the per-source window must only ever
    // see the ≤k rows the bounded threshold aggregate admits — the threshold
    // (KthSmallest) and its broadcast join back must both be present, and the
    // window's input must carry the threshold filter
    assert(p.contains("graft_kth_smallest"), s"bounded threshold aggregate missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"thresholds must broadcast:\n$p")
    val lines = p.linesIterator.toVector
    val wIdx = lines.indexWhere(_.contains("windowspecdefinition"))
    assert(wIdx >= 0 && lines.drop(wIdx).exists(_.contains("thr")),
      s"window must sit above the threshold filter, not over the raw corpus:\n$p")
  }

  test("corpus churn: count and drift halves join |sources|-sized via broadcast") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.Curation.corpusChurn(docs, "doc_id", "text", "source", cutId = 250L))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), s"the 1-row totals must broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the KL join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"nothing here is big enough to merge-join:\n$p")
  }

  test("incremental dedup: the ingest batch equi-joins the index — no self-pairing, no pair product") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.Dedup.incrementalDedup(docs, "doc_id", "text", cutId = 250L))
    // both sides read the ONE checkpointed band-sig relation (the corpus text is
    // hashed exactly once), the probe is a (band, sig) equi-join, and nothing
    // multiplies unbounded relations
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("FileScan"),
      s"index and probe must derive from the checkpointed signatures, not re-read the corpus:\n$p")
    val joins = p.linesIterator.filter(_.contains("HashJoin")).toSeq
    assert(joins.nonEmpty && joins.forall(l => l.contains("band") && l.contains("sig")),
      s"probe must be a (band, sig) equi-join:\n$p")
  }

  test("epoch pack: packing runs on checkpoints only — no corpus re-scan past the one text pass") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val scratch = java.nio.file.Files.createTempDirectory("graft-plan-epoch")
    try {
      val path = scratch.toString + "/merges"
      TextStats.bpeSaveMerges(TextStats.bpeMergeLoop(docs, "doc_id", "text", rounds = 4), path)
      val df = pipeline.Sampling.epochPack(docs, "doc_id", "source", "text",
        TextStats.bpeLoadMerges(spark, path), budgetDocs = 100L)
      val p = plan(df)
      // everything downstream of the manifest and the single tf pass reads
      // checkpoints; the final plan must not touch parquet at all (the
      // scan-census pin in RoundTwelveOpsSpec proves the ONE text scan happened)
      assert(!p.contains("FileScan"),
        s"packing must run on the checkpointed manifest/price relations:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
      val windowSpec = p.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
      assert(windowSpec.contains("source") && windowSpec.contains("pack_group"),
        s"pack window must partition by (source, pack_group), never globally:\n$p")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(scratch).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  test("trained-quality scoring: the weight table broadcasts into one tokenize pass") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val w = pipeline.TextStats.lrQualityTrain(docs, "doc_id", "text",
      buckets = 64, rounds = 1)
    val p = plan(pipeline.TextStats.lrScoreWith(docs, "doc_id", "text", w, buckets = 64))
    // one corpus scan, the ≤ buckets-row model broadcast on slot, map-side
    // combinable per-doc rollup — the per-ingest cost of the learned gate
    assert("FileScan".r.findAllMatchIn(p).size == 1, s"score must scan the corpus once:\n$p")
    val joins = p.linesIterator.filter(_.contains("BroadcastHashJoin")).toSeq
    assert(joins.nonEmpty && joins.forall(_.contains("slot")),
      s"weights must broadcast-join on slot:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("graph-ANN search: the answer plan windows per query over the checkpointed beam") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val graph = pipeline.Similarity.knnGraph(emb, "vec_id", "embedding", k = 5)
    val model = pipeline.Similarity.kmeansRounds(emb, "vec_id", "embedding",
      k = 8, dims = 64, rounds = 1)
    val p = plan(pipeline.Similarity.graphAnnSearch(
      emb.filter(col("vec_id") % 50 === 0), emb, "vec_id", "embedding", graph, model,
      k = 5, beam = 8, rounds = 1, entryProbe = 4))
    // every round materialized during construction; the served plan is one
    // bounded per-query window over the final beam checkpoint — no joins, no
    // scans, nothing corpus-sized at query-answer time
    assert(!p.contains("FileScan") && !p.contains("Join"), s"answer plan must read the beam checkpoint only:\n$p")
    val windowSpec = p.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(windowSpec.contains("query_id"), s"rank window must be per-query:\n$p")
  }

  test("graph-ANN entry: nothing corpus-proportional is seeded before round 1") {
    import spark.implicits._
    // two corpora, one 4× the other: the entry set and the round-0 seed must be
    // the SAME size at both scales (model-sized entries, |Q|·entryProbe seed) —
    // the fixed-size hierarchy the published structure enters through, and the
    // round-12 weak finding (vec_id % 97 entries grew with the corpus)
    def corpus(n: Int) = (0 until n).map { i =>
      (i.toLong, Array.tabulate(8)(d => (((i * 7 + d * 13) % 11) - 5).toFloat / 5f))
    }.toDF("vec_id", "embedding")
    val seedCounts = Seq(100, 400).map { n =>
      val c = corpus(n)
      val model = pipeline.Similarity.kmeansRounds(c, "vec_id", "embedding",
        k = 8, dims = 8, rounds = 1)
      val entries = pipeline.Similarity.graphAnnEntryPoints(c, "vec_id", "embedding", model)
      val nEntries = entries.count()
      assert(nEntries <= 8, s"entry set must be model-sized, got $nEntries at corpus $n")
      val qs = c.filter(col("vec_id") % 25 === 0).limit(4)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
        .withColumn("qn", org.apache.spark.sql.graft.DotProduct.column(col("qv"), col("qv")))
      val seed = pipeline.Similarity.graphAnnSeedCandidates(qs, model, entries, entryProbe = 4)
      // the seed plan joins two model-sized broadcasts — never a shuffled or
      // cartesian pair product against the corpus
      val sp = plan(seed)
      assert(!sp.contains("SortMergeJoin") && !sp.contains("CartesianProduct"),
        s"seed must stay on broadcast joins:\n$sp")
      (nEntries, seed.count())
    }
    assert(seedCounts.distinct.size == 1,
      s"entry/seed size must be corpus-independent, got $seedCounts")
    assert(seedCounts.head._2 == 4L * 4L, s"seed must be |Q|·entryProbe rows: $seedCounts")
  }

  test("IVF assign-new: the codebook broadcasts; census joins stay k-row broadcasts") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val model = pipeline.Similarity.kmeansRounds(
      emb.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding", k = 8, dims = 64, rounds = 1)
    val p = plan(pipeline.Similarity.ivfAssignNew(
      emb.filter(col("vec_id") % 5 === 0), "vec_id", "embedding", model))
    // assignment = new vectors × broadcast k-row codebook (never a shuffled pair
    // product); the per-vector argmax window partitions by vec_id
    assert(p.contains("BroadcastNestedLoopJoin"), s"codebook must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    val windowSpec = p.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(windowSpec.contains("vec_id"), s"argmax window must be per-vector:\n$p")
  }

  test("ccnet tertiles: the ranked answer plan reads the per-doc checkpoint only") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.TextStats.ccnetTertiles(
      docs, "doc_id", "text", "source", refSource = "src0"))
    // tokenize/model/scoring all land in the eager per-doc checkpoint; what the
    // rank chain re-executes is doc-count-sized — no corpus re-scan, no joins
    assert(!p.contains("FileScan") && !p.contains("Join"),
      s"rank chain must read the per-doc checkpoint only:\n$p")
  }

  test("gopher repetition: one corpus scan; the fan-out and rollups stay doc-keyed") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.TextStats.gopherRepetition(docs, "doc_id", "text"))
    // the (position, n) fan-out is materialized in the grams checkpoint; the
    // answer plan re-reads the corpus ONCE for (doc_id, n_chars) and equi-joins
    // the doc-keyed fraction rollup — never a pair product
    assert("FileScan".r.findAllMatchIn(p).size == 1, s"one corpus scan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val scanLine = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!scanLine.contains("lang") && !scanLine.contains("source"),
      s"the scan must prune to (doc_id, text):\n$scanLine")
  }

  test("gopher gate (t48): both batteries read the checkpoint, no re-scan of the corpus") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.TextStats.gopherGate(docs, "doc_id", "text"))
    // the (id, text) projection checkpoints once; the composed plan must join
    // the two battery relations without touching parquet again
    assert(!p.contains("FileScan"), s"no corpus re-scan in the gate plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("filtered ANN (s29): the allowed set prunes via one semi-join before scoring") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(pipeline.Similarity.ivfPqFilteredTopK(
      e.filter(col("vec_id") % 50 === 0), e, "vec_id", "embedding", k = 5,
      allowed = e.filter(col("label") % 3 === 0).select(col("vec_id"))))
    assert(p.contains("LeftSemi"), s"allowed-id pre-filter must be a semi-join:\n$p")
  }

  test("release funnel (dc16): text gates read the checkpoint; only embeddings scans remain") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val em = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(pipeline.Curation.releaseFunnel(docs, em,
      "doc_id", "text", "source", "vec_id", "embedding",
      requiredWords = Seq("the", "a", "value", "line")))
    // the (id, source, text) projection checkpoints once and feeds every text
    // gate, and since r18 every GATE relation (including the semantic gate's
    // embeddings side) is itself materialized before the stage-set joins —
    // the answer plan must re-scan NO parquet at all: the funnel is id-set
    // joins over checkpointed gate relations
    val scans = "FileScan".r.findAllMatchIn(p).size
    assert(scans == 0, s"no parquet re-scan expected (gates are checkpointed), got $scans:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("adaptive ANN (s31): the tight route builds ONLY the exact branch") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(pipeline.Similarity.filteredTopKAdaptive(
      e.filter(col("vec_id") % 50 === 0), e, "vec_id", "embedding", k = 5,
      allowed = e.filter(col("label") % 10 === 0).select(col("vec_id")),
      selThresholdMicro = 250000L, kCells = 8, trainRounds = 1))
    // the router's whole point: a selective filter must not pay for the IVF
    // pipeline — one per-query rank window (the brute top-k), none of the
    // PQ/cell machinery's windows or code joins
    val windows = "windowspecdefinition".r.findAllMatchIn(p).size
    assert(windows == 1, s"exact route must carry exactly the top-k window, got $windows:\n$p")
    assert(!p.contains("SortMergeJoin"), s"exact route joins are broadcast/semi only:\n$p")
  }

  test("repeated spans (d30): one pruned span-stamp scan, no pair join, bounded windows") {
    val p = plan(pipeline.Dedup.repeatedSpanRegistry(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text"))
    // substring dedup WITHOUT a doc×doc relation: cross-doc detection is a
    // hash aggregate on the window hash inside the shared d14 kernel, so the
    // plan must carry no pair-shaped join
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no pair relation may exist:\n$p")
    // both corpus passes (the d14 kernel's positioned hashes; the stamped
    // output-sized span relation) are checkpointed at construction, so the
    // lazily-planned registry fold touches NO corpus scan at all
    val scans = "FileScan".r.findAllMatchIn(p).size
    assert(scans == 0, s"registry fold reads only checkpointed relations, got $scans scans:\n$p")
  }

  test("layered graph-ANN (s34): layer relations are corpus-independent in size, bounded top-N") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val model = pipeline.Similarity.kmeansRounds(e, "vec_id", "embedding",
      k = 8, dims = 64, rounds = 1)
    val layers = pipeline.Similarity.graphAnnLayers(e, "vec_id", "embedding", model, Seq(32, 8))
    // the md5-order prefix must compile to a bounded top-N (heap per
    // partition), never a full global sort materialization of the corpus
    val p = plan(layers)
    assert(p.contains("TakeOrderedAndProject"),
      s"md5 prefix must be a bounded top-N:\n$p")
    // corpus-independence, measured: doubling the corpus leaves the stack at
    // exactly Σ layerSizes rows
    val doubled = e.unionByName(e.withColumn("vec_id", col("vec_id") + 100000L))
    val n1 = layers.count()
    val n2 = pipeline.Similarity.graphAnnLayers(doubled, "vec_id", "embedding", model, Seq(32, 8))
      .count()
    assert(n1 == 40L && n2 == 40L, s"layer stack must stay fixed-size: $n1 vs $n2")
  }

  test("probe-recall curve (s32): widening the sweep adds NO corpus scans") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    def scansAt(levels: Seq[Int]): Int = {
      val p = plan(pipeline.Similarity.ivfProbeRecallCurve(
        e.filter(col("vec_id") % 50 === 0), e, "vec_id", "embedding", k = 5,
        probeLevels = levels, kCells = 8, trainRounds = 1))
      "FileScan".r.findAllMatchIn(p).size
    }
    // the level fan-out is a broadcast tag over bounded relations — quantizer,
    // cells, codes, LUT, and truth are computed once however many levels ride
    val two = scansAt(Seq(1, 2))
    val three = scansAt(Seq(1, 2, 4))
    assert(two == three, s"scan count must be level-invariant: $two vs $three")
  }

  test("semantic decontamination (d24): broadcast benchmark, map-side argmax, no window") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(pipeline.Similarity.semanticDecontaminate(e, "vec_id", "embedding"))
    // the benchmark side broadcasts into one pass; the per-vector argmax is a
    // hash aggregate of the struct max — a data-sized window here would mean
    // the pair relation got shuffled
    assert(p.contains("BroadcastNestedLoopJoin"), s"benchmark must broadcast:\n$p")
    assert(!p.contains("Window"), s"argmax must be an aggregate, not a window:\n$p")
    assert(p.contains("partial_max") || p.contains("HashAggregate"),
      s"map-side combinable aggregate expected:\n$p")
  }

  test("budget fill (dc24): the ordered window runs above the broadcast bucket-prefix filter") {
    val p = plan(pipeline.Curation.budgetFill(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", "source",
      budgetTokens = 600L, bucketMicro = 100000L))
    // two windows exactly: the catalog-sized strictly-above cumsum over the
    // (source, qb) mass relation, and the per-source fill window — which must
    // consume the broadcast-join prefix filter (above < budget), never the raw
    // corpus; the mass relation broadcasts back
    val windows = "Window \\[".r.findAllMatchIn(p).size
    assert(windows == 2, s"mass cumsum + fill window expected, got $windows:\n$p")
    // the strict prefix filter (above < budget) survives — Catalyst pushes it
    // into the mass relation's window output (rendered as coalesce(_we0, 0) <
    // 600), distinct from the final cum filter's <= 600
    assert(p.contains(" < 600)"),
      s"the prefix filter must gate the fill window's input:\n$p")
    assert(p.contains(" <= 600)"),
      s"the budget cum filter must close the fill:\n$p")
    assert(p.contains("BroadcastExchange"), s"the bucket-mass relation must broadcast:\n$p")
    // the per-row relation is checkpointed: the final plan re-reads it, never
    // the parquet (one text scan total, paid once at the checkpoint)
    assert(!p.contains("Scan parquet"), s"the corpus must not re-scan past the checkpoint:\n$p")
  }

  test("stratified holdout (dc25): the only row window partitions by the hb cell; one corpus scan") {
    val p = plan(pipeline.Curation.stratifiedHoldout(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", "source",
      holdoutPct = 10, bucketMicro = 100000L))
    // the catalog-sized cell cumsum + the in-cell rank window — whose partition
    // spec must include hb (state = one cell, 1/256th of a stratum), never
    // (source, qb) alone (that would be the stratum-wide window the cell
    // decomposition exists to avoid)
    val windows = "Window \\[".r.findAllMatchIn(p).size
    assert(windows == 2, s"cell cumsum + in-cell rank expected, got $windows:\n$p")
    assert("row_number\\(\\) windowspecdefinition\\(source#\\d+, qb#\\d+L?, hb#\\d+L?".r
      .findFirstIn(p).isDefined,
      s"the rank window must partition by (source, qb, hb):\n$p")
    assert(p.contains("BroadcastExchange"), s"the cell-info relation must broadcast:\n$p")
    assert(!p.contains("Scan parquet"),
      s"the corpus must not re-scan past the checkpoint (one text scan total):\n$p")
  }

  test("gini (ev28): the rank-sum window runs over the histogram aggregate, never the events") {
    val p = plan(AnalyticsQueries.giniConcentration(spark, dir))
    val windows = "Window \\[".r.findAllMatchIn(p).size
    assert(windows == 1, s"exactly the histogram cumsum window expected, got $windows:\n$p")
    // the window's input is the (type, cnt) histogram: two HashAggregates sit
    // between the scan and the window (per-user counts, then the histogram)
    val aggs = "HashAggregate".r.findAllMatchIn(p).size
    assert(aggs >= 4, s"per-user + histogram aggs (partial+final) expected below the window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("heavy hitters (sk10): no window anywhere; the verify join broadcasts the candidate head") {
    val p = plan(pipeline.Sketches.heavyHitters(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text"))
    // the whole op is aggregates + joins: the screen is a broadcast probe, the
    // exact verify builds the (checkpointed, Zipf-head-sized) candidates side
    // broadcast — the token tail never enters a join or a window
    assert(!p.contains("Window"), s"no window may appear:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the verify join must broadcast:\n$p")
    assert(!p.contains("Scan parquet"),
      s"the token stream is checkpointed — no re-scan past it:\n$p")
    assert(!p.contains("SortMergeJoin"), s"nothing here is big enough to sort-merge:\n$p")
  }

  test("centroid drift (s39): codebook stamps broadcast; the only window is the per-vector argmax") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val model = pipeline.Similarity.kmeansRounds(
      e.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding", k = 8, dims = 64, rounds = 1)
    val p = plan(pipeline.Similarity.centroidDrift(e, "vec_id", "embedding", model, dims = 64))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the codebook must broadcast onto the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbroadcast cross join may survive:\n$p")
    val windows = "Window \\[".r.findAllMatchIn(p).size
    assert(windows == 1, s"exactly the per-vector argmax window expected, got $windows:\n$p")
    // the crank = 1 filter must engage the rank-limit pushdown (partial top-1
    // per map task before the per-vector shuffle)
    assert(p.contains("WindowGroupLimit"), s"rank-limit pushdown expected:\n$p")
  }

  test("bloom probe (d37): the index join sees only the positives filter; one parquet scan total") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(pipeline.Dedup.bloomPrefilteredExactProbe(
      docs.filter(col("doc_id") >= 250), "doc_id", "text",
      pipeline.Dedup.exactHashIndex(docs.filter(col("doc_id") < 250), "doc_id", "text")))
    // bh and flagged are checkpointed, so the FINAL plan's only parquet scan is
    // the index side of the dup join; its probe side is the bloom_pos=1 filter
    // over the checkpointed flags — the batch never re-scans, the bloom chain
    // never re-runs, and nothing but positives reaches the index
    val scans = "Scan parquet".r.findAllMatchIn(p).size
    assert(scans == 1, s"exactly one parquet scan (the index) expected, got $scans:\n$p")
    assert("\\(bloom_pos#\\d+ = 1\\)".r.findFirstIn(p).isDefined,
      s"the dup join's probe side must be the positives filter:\n$p")
    // the hash join must broadcast one side (at bench scale the small index; at
    // production scale AQE flips the build to the tinier positives) — either
    // way the text_hash join never shuffle-repartitions the index per batch
    assert(p.contains("BroadcastHashJoin"),
      s"the index dup join must be a broadcast hash join:\n$p")
  }

  test("bloom probe saved (d38): dynamic partition pruning reads only the buckets the positives name") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val scratch = java.nio.file.Files.createTempDirectory("graft-planspec-exact-index")
    try {
      val path = scratch.toString + "/index"
      pipeline.Dedup.saveExactIndex(
        pipeline.Dedup.exactHashIndex(docs.filter(col("doc_id") < 250), "doc_id", "text"), path)
      val idx = pipeline.Dedup.loadExactIndex(spark, path)
      val p = plan(pipeline.Dedup.probeSavedExactIndex(
        docs.filter(col("doc_id") >= 250)
          .select(col("doc_id"), md5(col("text")).as("text_hash")),
        "doc_id", idx,
        pipeline.Dedup.exactBloomBits(idx.select(col("existing_id"), col("text_hash")))))
      // the whole point of the hp partition key: the artifact scan must carry a
      // dynamicpruningexpression partition filter fed by the positives subquery
      assert(p.toLowerCase.contains("dynamicpruningexpression"),
        s"DPP must prune the saved index read:\n$p")
      val scans = "Scan parquet".r.findAllMatchIn(p).size
      assert(scans == 1, s"exactly one parquet scan (the artifact) expected, got $scans:\n$p")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(scratch).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("weighted sample (dc23): the corpus never enters a window — only the kth-threshold agg") {
    val p = plan(pipeline.Sampling.weightedSample(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "source", "n_chars", k = 10))
    // the t09/sourceCap lesson, structural: the per-source selection is the
    // KthSmallest hash aggregate (map-side combinable) + a broadcast threshold
    // join; the only window runs over the ≤k-per-source survivors AFTER the
    // threshold filter, so exactly one Window may appear and it must sit above
    // the broadcast join, never directly over the corpus scan
    val windows = "Window \\[".r.findAllMatchIn(p).size
    assert(windows == 1, s"exactly one survivor-trim window expected, got $windows:\n$p")
    // and the rank-limit pushdown must engage on it (partial top-k per map task
    // before the survivor shuffle — the Spark-4 WindowGroupLimit rewrite)
    assert(p.contains("WindowGroupLimit"), s"rank-limit pushdown expected:\n$p")
    assert(p.contains("kth_smallest") || p.contains("KthSmallest"),
      s"the kth-threshold aggregate must drive the selection:\n$p")
    assert(p.contains("BroadcastExchange"), s"thresholds must broadcast back:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no global single-partition shuffle may exist:\n$p")
  }
}
