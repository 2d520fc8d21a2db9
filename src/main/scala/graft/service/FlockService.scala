package graft.service

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model._
import graft.queries._
import graft.store.EdgeStore

/** The compatibility façade — same surface as the reference Thrift service
  * (`Flockdb.thrift:138-167`, `EdgesService.scala`): `contains`, `get`, `get_metadata`,
  * `contains_metadata`, `select2`, `count2`, `select_edges`, `execute`. Batch-of-queries
  * methods evaluate each query as its own Spark job (the reference fans out with
  * `Future.collect`, `EdgesService.scala:88-100`; jobs on one SparkSession already run
  * concurrently per action, and each action is internally distributed).
  */
final class FlockService(val store: EdgeStore, val config: GraftConfig = GraftConfig()) {

  def contains(sourceId: Long, graphId: Int, destinationId: Long): Boolean =
    store.contains(graphId, sourceId, destinationId)

  def get(sourceId: Long, graphId: Int, destinationId: Long): Option[Edge] =
    store.get(graphId, sourceId, destinationId)

  /** Point metadata read (reference `get_metadata`): the forward
    * [[graft.store.EdgeStore.metadata]] row of the store restricted to this one
    * (graph, vertex) key — the same (state, count) rule `count2` estimates read, with
    * the point predicates on both log scans ([[graft.store.EdgeStore.restrictedTo]];
    * filtering the derived table instead would fold the whole store per RPC, because
    * the register branch's full-outer join blocks predicate pushdown).
    */
  def getMetadata(sourceId: Long, graphId: Int): Option[Metadata] = {
    val spark = store.log.sparkSession
    import spark.implicits._
    store.restrictedTo(Seq((graphId, sourceId, true))).metadata
      .select(
        col("graph_id").as("graphId"),
        col("source_id").as("sourceId"),
        col("state"),
        col("count"),
        col("updated_at").as("updatedAt")
      )
      .as[Metadata]
      .collect()
      .headOption
  }

  def containsMetadata(sourceId: Long, graphId: Int): Boolean =
    getMetadata(sourceId, graphId).isDefined

  /** Paged compound select (reference `select2`): the batch fans out concurrently
    * (reference `EdgesService.scala:88-100` uses `Future.collect`; Spark actions are
    * thread-safe on one session, and concurrent small page jobs hide per-job scheduling
    * latency). The fan-out runs on the BOUNDED shared pool
    * ([[FlockService.SelectParallelism]] threads) — an arbitrarily large batch queues
    * there instead of launching unbounded concurrent Spark actions. Compilation — and
    * its validation errors — happens up front on the caller's thread, like the
    * reference's compile-then-execute split.
    */
  def select2(queries: Seq[(Seq[SelectOperation], Page)]): Seq[PagedResult[Long]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec = FlockService.pagePool
    val compiled = queries.map { case (program, page) => (compile(program), page) }
    Await.result(
      Future.traverse(compiled) { case (node, page) => Future(node.select(store, page)) },
      Duration.Inf
    )
  }

  /** Compile + validate: the reference resolves every term's graph through the
    * forwarding table during compilation, so an unknown graph throws before any
    * execution (`ForwardingManager.find` inside `SelectCompiler.scala:54-77`).
    */
  private def compile(program: Seq[SelectOperation]): QueryNode = {
    val node = SelectCompiler(program)
    config.knownGraphs.foreach { known =>
      node.leafTerms.find(t => !known.contains(t.graphId)).foreach { bad =>
        throw new InvalidQueryException(s"nonexistent graph ${bad.graphId}")
      }
    }
    node
  }

  /** Deprecated single-query form (reference `FlockDB.scala:193-196`). */
  def select(program: Seq[SelectOperation], page: Page): PagedResult[Long] =
    select2(Seq((program, page))).head

  /** Deprecated single-count form (reference `FlockDB.scala:210-213`). */
  def count(program: Seq[SelectOperation]): Long =
    count2(Seq(program)).head

  /** Cardinalities (reference `count2`): documented estimates by default, exact behind
    * the flag (SURVEY.md §2.5 A4 recommends exact for oracle comparisons). The estimate
    * path gathers every leaf of every program and reads their metadata rows in ONE
    * collect over the store restricted to those vertices (`QueryNode.leafStats`), then
    * combines estimates driver-side — a batch of N compound queries is one action that
    * folds only its own vertices, not O(N·leaves) actions over the store.
    */
  def count2(programs: Seq[Seq[SelectOperation]], exact: Boolean = false): Seq[Long] = {
    val nodes = programs.map(compile)
    if (exact) nodes.map(_.exactCount(store))
    else {
      val stats = QueryNode.leafStats(store, nodes.flatMap(_.leafTerms))
      nodes.map(_.estimateWith(stats, config))
    }
  }

  /** Wire-shaped `select2` (reference `FlockDB.scala:274-287`): each page's ids packed
    * as a little-endian i64 buffer + next/prev cursors — byte-compatible with the
    * reference's Thrift `Results` payload (F3).
    */
  def select2Packed(queries: Seq[(Seq[SelectOperation], Page)]): Seq[(Array[Byte], Long, Long)] =
    select2(queries).map(r => (graft.functions.Packing.packLongs(r.items), r.nextCursor, r.prevCursor))

  /** Wire-shaped `count2` (reference `FlockDB.scala:215-217`): counts packed as one
    * little-endian i32 buffer (F3).
    */
  def count2Packed(programs: Seq[Seq[SelectOperation]], exact: Boolean = false): Array[Byte] =
    graft.functions.Packing.packInts(count2(programs, exact).map(_.min(Int.MaxValue).toInt))

  /** Edge-object select (reference `select_edges`) — simple terms only, position order
    * (`Flockdb.thrift:158-160`: compound queries unsupported there).
    */
  def selectEdges(term: QueryTerm, page: Page): PagedResult[Edge] = {
    val paged = Pagination.paginateRows(store.termEdges(term), "position", page)
    PagedResult(paged.items.map(rowToEdge), paged.nextCursor, paged.prevCursor)
  }

  /** Async write pipeline entry (reference `execute`): applies a batch of operations and
    * returns the service over the merged store. At-least-once replay is safe because the
    * merge is idempotent and commutative (reference `doc/blog.md:67-75`).
    *
    * Validation mirrors `ExecuteCompiler.apply`: an empty batch and ops on graphs
    * outside `config.knownGraphs` (when configured) are rejected with
    * `InvalidQueryException` (`ExecuteCompiler.scala:38, 45-46`;
    * `integration/EdgesSpec.scala:81-84`).
    */
  def execute(ops: Seq[WriteOp]): FlockService = {
    if (ops.isEmpty)
      throw new InvalidQueryException("You must have at least one operation")
    config.knownGraphs.foreach { known =>
      ops.find(op => !known.contains(op.graphId)).foreach { bad =>
        throw new InvalidQueryException(s"nonexistent graph ${bad.graphId}")
      }
    }
    val spark = store.log.sparkSession
    import spark.implicits._
    val df = ops
      .toDF("graphId", "sourceId", "destinationId", "state", "updatedAt", "position", "isForward")
      .select(
        col("graphId").as("graph_id"),
        col("sourceId").as("source_id"),
        col("destinationId").as("destination_id"),
        col("state"),
        col("updatedAt").as("updated_at"),
        col("position"),
        col("isForward").as("is_forward")
      )
    executeDF(df)
  }

  /** Set-based execute for large op batches (columns: graph_id, source_id,
    * destination_id (nullable = wildcard), state, updated_at, position (nullable)).
    */
  def executeDF(ops: DataFrame): FlockService =
    new FlockService(store.applyOperations(ops), config)

  private def rowToEdge(r: Row): Edge = {
    val i = r.fieldIndex _
    Edge(
      r.getInt(i("graph_id")),
      r.getLong(i("source_id")),
      r.getLong(i("destination_id")),
      r.getLong(i("position")),
      r.getInt(i("updated_at")),
      r.getInt(i("count")),
      r.getInt(i("state"))
    )
  }
}

object FlockService {

  /** Concurrent page-query fan-out cap for `select2` batches: enough concurrency to
    * hide per-job scheduling latency, bounded so a large batch queues instead of
    * launching unbounded concurrent Spark actions (the reference bounds its fan-out by
    * its RPC worker pool; `ExecutionContext.global` would grow with the batch).
    */
  val SelectParallelism: Int = 8

  /** Shared daemon pool — `execute` returns a new service per batch, so a per-instance
    * pool would leak threads across chained writes.
    */
  private lazy val pagePool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(
        SelectParallelism,
        (r: Runnable) => {
          val t = new Thread(r, "graft-select2")
          t.setDaemon(true)
          t
        }))
}
