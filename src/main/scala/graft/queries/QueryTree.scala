package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model._
import graft.store.EdgeStore

/** Engine configuration — the reference's cost-model constants
  * (`config/FlockDB.scala:17-30`). `intersectionTimeout` has no batch analog (a Spark job
  * runs to completion) and is intentionally absent.
  */
case class GraftConfig(
    averageIntersectionProportion: Double = 0.1,
    intersectionPageSizeMax: Int = 4000,
    aggregateJobsPageSize: Int = 500,
    /** Configured graphs (the reference's forwarding table): when set, `execute` rejects
      * ops on unknown graphs (`ExecuteCompiler.scala:45-46`). None = accept any graph.
      */
    knownGraphs: Option[Set[Int]] = None
)

/** The compiled query IR — mirrors the reference's `QueryTree` (`queries/Query.scala:40-72`)
  * but compiles to ONE declarative DataFrame instead of a demand-driven page-pull loop:
  * Catalyst then picks broadcast vs shuffle joins, pushes the leaf filters into the scan,
  * and the whole compound query is a single distributed plan (SURVEY.md §3.4).
  */
sealed trait QueryNode {

  /** The set of neighbor ids this node denotes, as a single-column DataFrame
    * (`neighbor_id`, unique). Set arithmetic is over destination-id order, like the
    * reference (`SqlShard.scala:240-244`).
    */
  def ids(store: EdgeStore): DataFrame = this match {
    case SimpleNode(term) =>
      store.adjacency(term).select(col("neighbor_id"))
    case IntersectNode(l, r) =>
      // Reference `IntersectionQuery.scala:23-76`: page smaller side, probe larger via
      // IN-lists, loop until full. Declaratively that's a semi-join; Catalyst broadcasts
      // the small side (the paging/probing loop is an artifact of row-store RPCs).
      l.ids(store).join(r.ids(store), Seq("neighbor_id"), "left_semi")
    case DifferenceNode(l, r) =>
      // Reference `DifferenceQuery.scala:22-69` — anti-join; not symmetric.
      l.ids(store).join(r.ids(store), Seq("neighbor_id"), "left_anti")
    case UnionNode(l, r) =>
      // Reference `UnionQuery.scala:22-49` — sorted dedup merge.
      l.ids(store).unionByName(r.ids(store)).distinct()
  }

  /** Paged select — reference `select2` semantics. Simple top-level terms page in
    * position (recency) order (`SqlShard.scala:252-256`); compound queries page in
    * destination-id order (`SqlShard.scala:240-244`). A page is ONE `limit(n+1)`
    * collect (the neighbor id rides along as a payload column) plus at most one
    * opposite-direction probe — the snapshot aggregation runs once per page.
    */
  def select(store: EdgeStore, page: Page): PagedResult[Long] = this match {
    case SimpleNode(term) =>
      val adj = store.adjacency(term).select(col("position"), col("neighbor_id"))
      val paged = Pagination.paginateRows(adj, "position", page)
      PagedResult(
        paged.items.map(r => r.getLong(r.fieldIndex("neighbor_id"))),
        paged.nextCursor,
        paged.prevCursor
      )
    case _ =>
      Pagination.paginate(ids(store), "neighbor_id", page)
  }

  /** All leaf terms of this tree, left-to-right. */
  def leafTerms: Seq[QueryTerm] = this match {
    case SimpleNode(term)      => Seq(term)
    case IntersectNode(l, r)   => l.leafTerms ++ r.leafTerms
    case UnionNode(l, r)       => l.leafTerms ++ r.leafTerms
    case DifferenceNode(l, r)  => l.leafTerms ++ r.leafTerms
  }

  /** Combine precomputed leaf cardinalities into the compound estimate — reference
    * `count2` semantics (`Flockdb.thrift:154-156`): documented ESTIMATES, not exact
    * counts (intersection ≈ min·proportion, union = max, difference = left —
    * `IntersectionQuery.scala:24-28`, `UnionQuery.scala:23`, `DifferenceQuery.scala:25`;
    * where-in = list size, `WhereInQuery.scala:26`).
    */
  def estimateWith(stats: QueryNode.LeafStats, config: GraftConfig): Long = this match {
    case SimpleNode(term) =>
      term.destinationIds match {
        case Some(ids) => ids.size.toLong
        case None =>
          // Metadata count semantics: the materialized count covers edges in the
          // vertex's dominant state; reads for other states return 0
          // (`SqlShard.scala:175-188`, spec `unit/SqlShardSpec.scala:140-146`).
          stats.get((term.graphId, term.sourceId, term.isForward)) match {
            case Some((vertexState, vertexCount)) if term.effectiveStates.contains(vertexState) =>
              vertexCount
            case _ => 0L
          }
      }
    case IntersectNode(l, r) =>
      val (a, b) = (l.estimateWith(stats, config), r.estimateWith(stats, config))
      (math.min(a, b) * config.averageIntersectionProportion).toLong
    case UnionNode(l, r) =>
      math.max(l.estimateWith(stats, config), r.estimateWith(stats, config))
    case DifferenceNode(l, _) =>
      l.estimateWith(stats, config)
  }

  /** Single-tree convenience: one metadata job for this tree's leaves. Prefer
    * `QueryNode.leafStats` + [[estimateWith]] to batch many trees into one job.
    */
  def sizeEstimate(store: EdgeStore, config: GraftConfig): Long =
    estimateWith(QueryNode.leafStats(store, leafTerms), config)

  /** Exact count — the config-flagged alternative to estimates (SURVEY.md §2.5 A4). */
  def exactCount(store: EdgeStore): Long = ids(store).count()
}

object QueryNode {

  /** (graphId, vertexId, isForward) -> (vertex state, count in that state), as
    * [[graft.store.EdgeStore.metadata]] derives them.
    */
  type LeafStats = Map[(Int, Long, Boolean), (Int, Long)]

  /** Vertex cardinalities for ALL wildcard leaves of a program batch in ONE collect
    * (the reference reads materialized per-vertex counts, never edge rows —
    * `SimpleQuery.scala:24-27`; a count2 batch of N compound queries must not issue
    * O(N·leaves) driver round-trips). Per queried direction, the store
    * [[graft.store.EdgeStore.restrictedTo]] that direction's keys derives its
    * [[graft.store.EdgeStore.metadata]] rows — the same (state, count) rule
    * `get_metadata` reads — so the batch folds only its own vertices' log rows; one
    * collect returns them all.
    */
  def leafStats(store: EdgeStore, terms: Seq[QueryTerm]): LeafStats =
    terms.filter(_.destinationIds.isEmpty)
      .map(t => (t.graphId, t.sourceId, t.isForward))
      .distinct
      .groupBy(_._3)
      .map { case (isForward, keys) =>
        store.restrictedTo(keys).metadata(isForward)
          .select(col("graph_id"), col("source_id"), lit(isForward).as("is_forward"),
            col("state"), col("count"))
      }
      .reduceOption(_ unionByName _)
      .fold(Map.empty: LeafStats)(_.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getBoolean(2)) -> (r.getInt(3), r.getLong(4)))
        .toMap)
}

final case class SimpleNode(term: QueryTerm)                        extends QueryNode
final case class IntersectNode(left: QueryNode, right: QueryNode)   extends QueryNode
final case class UnionNode(left: QueryNode, right: QueryNode)       extends QueryNode
final case class DifferenceNode(left: QueryNode, right: QueryNode)  extends QueryNode

/** RPN select program — wire shape of the reference (`Flockdb.thrift:99-125`). */
sealed trait SelectOperation
final case class TermOp(term: QueryTerm) extends SelectOperation
case object IntersectionOp               extends SelectOperation
case object UnionOp                      extends SelectOperation
case object DifferenceOp                 extends SelectOperation

/** RPN → QueryNode compiler (reference `queries/SelectCompiler.scala:30-99`):
  * fold the program over a stack; binary ops pop two; the program must leave exactly one
  * node. Malformed programs throw `InvalidQueryException` (reference O10).
  */
object SelectCompiler {

  def apply(program: Seq[SelectOperation]): QueryNode = {
    if (program.isEmpty) throw new InvalidQueryException("empty query program")
    val stack = program.foldLeft(List.empty[QueryNode]) { (stack, op) =>
      op match {
        case TermOp(term) => SimpleNode(term) :: stack
        case binary =>
          stack match {
            case right :: left :: rest =>
              val node = binary match {
                case IntersectionOp => IntersectNode(left, right)
                case UnionOp        => UnionNode(left, right)
                case DifferenceOp   => DifferenceNode(left, right)
                case _              => throw new InvalidQueryException(s"unknown operation $binary")
              }
              node :: rest
            case _ =>
              throw new InvalidQueryException("operator with fewer than 2 operands on stack")
          }
      }
    }
    stack match {
      case single :: Nil => single
      case s => throw new InvalidQueryException(s"malformed program: ${s.size} items left on stack")
    }
  }
}

/** Small builder DSL mirroring the reference's client `Select` algebra
  * (`src/main/scala/com/twitter/flockdb/Select.scala:25-95`).
  */
object Select {
  def apply(sourceId: Long, graphId: Int, states: Seq[Int] = Seq(State.Normal)): QueryNode =
    SimpleNode(QueryTerm(sourceId, graphId, isForward = true, None, states))

  def backward(destinationId: Long, graphId: Int, states: Seq[Int] = Seq(State.Normal)): QueryNode =
    SimpleNode(QueryTerm(destinationId, graphId, isForward = false, None, states))

  implicit final class Ops(private val self: QueryNode) extends AnyVal {
    def intersect(other: QueryNode): QueryNode  = IntersectNode(self, other)
    def union(other: QueryNode): QueryNode      = UnionNode(self, other)
    def difference(other: QueryNode): QueryNode = DifferenceNode(self, other)
  }
}
