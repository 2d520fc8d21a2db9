package perfbench

import scala.collection.mutable

import graft.model._
import graft.queries._

/** Driver-side last-writer-wins model of an edge store, in plain Scala: one slot per
  * possible `(graph, source, destination)` key, holding the winning write's
  * `(updated_at, state, position)`, plus the forward vertex registers that wildcard
  * writes leave. It answers every call the workloads make, so each service answer can
  * be checked without going through `EdgeStore`.
  */
final class Model(val users: Int) {
  private val slots = 3 * users * (Gen.MaxDestination + 1)
  private val upd = new Array[Int](slots) // 0 = no write yet
  private val st = new Array[Byte](slots)
  private val pos = new Array[Long](slots)
  private val registers = mutable.Map.empty[(Int, Long), (Int, Int)] // (state, updated_at)

  private def idx(g: Int, src: Long, dst: Long): Int =
    ((g - 1) * users + src.toInt) * (Gen.MaxDestination + 1) + dst.toInt

  private def wins(u: Int, s: Int, p: Long, i: Int): Boolean =
    upd(i) == 0 || u > upd(i) ||
      (u == upd(i) && (State.priority(s) > State.priority(st(i)) ||
        (State.priority(s) == State.priority(st(i)) && p > pos(i))))

  /** Fold one raw write (a log row) into the model. */
  def fold(g: Int, src: Long, dst: Long, u: Int, s: Int, p: Long): Unit = {
    val i = idx(g, src, dst)
    if (wins(u, s, p, i)) { upd(i) = u; st(i) = s.toByte; pos(i) = p }
  }

  /** Fold the generated event table, mirroring `TestGraph.edgeLog`. */
  def foldEvents(seed: Long, events: Long): this.type = {
    var e = 0L
    while (e < events) {
      fold(Gen.graphOf(e), Gen.userOf(seed, e), Gen.destinationOf(e), Gen.updatedAtOf(e),
        Gen.stateOf(e), e)
      e += 1
    }
    this
  }

  private def maxPriority(a: Int, b: Int): Int =
    if (State.priority(a) >= State.priority(b)) a else b

  /** Apply one forward write op as `EdgeStore.applyOperations` does: a single-edge op
    * is dominated by its source's register; a wildcard op sets the register and moves
    * every edge of the vertex that is not Removed to its state. Positions are kept
    * unless the edge is new or resurrected (Removed/Negative back to Normal).
    */
  def apply(op: WriteOp): Unit = {
    require(op.isForward, "the model covers forward ops only")
    op.destinationId match {
      case Some(dst) =>
        val reg = registers.get((op.graphId, op.sourceId)).map(_._1).getOrElse(State.Normal)
        val s = maxPriority(reg, op.state)
        val i = idx(op.graphId, op.sourceId, dst)
        val resurrected = upd(i) != 0 &&
          (st(i) == State.Removed || st(i) == State.Negative) && s == State.Normal
        val p = if (upd(i) == 0 || resurrected) op.position.get else pos(i)
        if (wins(op.updatedAt, s, p, i)) { upd(i) = op.updatedAt; st(i) = s.toByte; pos(i) = p }
      case None =>
        require(op.state != State.Normal, "wildcard adds would need position-from-time")
        val key = (op.graphId, op.sourceId)
        val reg = registers.get(key)
        val newer = reg.forall { case (s, u) =>
          op.updatedAt > u || (op.updatedAt == u && State.priority(op.state) >= State.priority(s))
        }
        if (newer) registers(key) = (op.state, op.updatedAt)
        var d = 1
        while (d <= Gen.MaxDestination) {
          val i = idx(op.graphId, op.sourceId, d)
          if (upd(i) != 0 && st(i) != State.Removed && wins(op.updatedAt, op.state, pos(i), i)) {
            upd(i) = op.updatedAt; st(i) = op.state.toByte
          }
          d += 1
        }
    }
  }

  def edge(g: Int, src: Long, dst: Long): Option[Edge] = {
    if (g < 1 || g > 3 || src < 0 || src >= users || dst < 1 || dst > Gen.MaxDestination) None
    else {
      val i = idx(g, src, dst)
      if (upd(i) == 0) None else Some(Edge(g, src, dst, pos(i), upd(i), 0, st(i).toInt))
    }
  }

  def contains(g: Int, src: Long, dst: Long): Boolean =
    edge(g, src, dst).exists(e => e.state == State.Normal || e.state == State.Negative)

  /** Edges incident to a term's vertex: (neighbor, position, updated_at, state). */
  private def incident(g: Int, vertex: Long, forward: Boolean): IndexedSeq[(Long, Long, Int, Int)] =
    if (forward) {
      if (vertex < 0 || vertex >= users) IndexedSeq.empty
      else (1 to Gen.MaxDestination).flatMap { d =>
        val i = idx(g, vertex, d)
        if (upd(i) == 0) None else Some((d.toLong, pos(i), upd(i), st(i).toInt))
      }
    } else {
      if (vertex < 1 || vertex > Gen.MaxDestination) IndexedSeq.empty
      else (0 until users).flatMap { s =>
        val i = idx(g, s, vertex)
        if (upd(i) == 0) None else Some((s.toLong, pos(i), upd(i), st(i).toInt))
      }
    }

  /** Dominant (state, count) of a vertex as `QueryNode.leafStats` derives it. */
  def vertexStats(g: Int, vertex: Long, forward: Boolean): Option[(Int, Long)] = {
    val edges = incident(g, vertex, forward)
    val reg = if (forward) registers.get((g, vertex)) else None
    def countIn(s: Int): Long = edges.count(_._4 == s).toLong
    reg match {
      case Some((s, _)) => Some((s, countIn(s)))
      case None if edges.isEmpty => None
      case None =>
        val s = edges.maxBy(e => (e._3, State.priority(e._4)))._4
        Some((s, countIn(s)))
    }
  }

  def metadata(g: Int, src: Long): Option[Metadata] = {
    val edges = incident(g, src, forward = true)
    registers.get((g, src)) match {
      case Some((s, u)) => Some(Metadata(g, src, s, edges.count(_._4 == s).toLong, u))
      case None if edges.isEmpty => None
      case None =>
        val w = edges.maxBy(e => (e._3, State.priority(e._4)))
        Some(Metadata(g, src, w._4, edges.count(_._4 == w._4).toLong, w._3))
    }
  }

  /** (neighbor, position) rows of a term. */
  def adjacency(t: QueryTerm): IndexedSeq[(Long, Long)] = {
    val states = t.effectiveStates.toSet
    val rows = incident(t.graphId, t.sourceId, t.isForward).filter(e => states.contains(e._4))
    t.destinationIds match {
      case Some(ids) =>
        val keep = ids.toSet
        rows.filter(e => keep.contains(e._1)).map(e => (e._1, e._2))
      case None => rows.map(e => (e._1, e._2))
    }
  }

  def ids(node: QueryNode): Set[Long] = node match {
    case SimpleNode(t) => adjacency(t).map(_._1).toSet
    case IntersectNode(l, r) => ids(l) intersect ids(r)
    case UnionNode(l, r) => ids(l) union ids(r)
    case DifferenceNode(l, r) => ids(l) diff ids(r)
  }

  /** Expected `select2` page: simple terms page by position, compound ones by id. */
  def select(program: Seq[SelectOperation], page: Page): PagedResult[Long] =
    SelectCompiler(program) match {
      case SimpleNode(t) =>
        val byPos = adjacency(t).map(_.swap).toMap
        val r = Model.paginate(byPos.keys.toSeq, page)
        PagedResult(r.items.map(byPos), r.nextCursor, r.prevCursor)
      case node => Model.paginate(ids(node).toSeq, page)
    }

  /** Expected `count2` estimate batch. */
  def count2(programs: Seq[Seq[SelectOperation]]): Seq[Long] = {
    val nodes = programs.map(SelectCompiler(_))
    val stats: QueryNode.LeafStats = nodes.flatMap(_.leafTerms).filter(_.destinationIds.isEmpty)
      .map(t => (t.graphId, t.sourceId, t.isForward)).distinct
      .flatMap(k => vertexStats(k._1, k._2, k._3).map(k -> _)).toMap
    nodes.map(_.estimateWith(stats, GraftConfig()))
  }
}

object Model {

  /** Keyset pagination over unique keys, FlockDB's cursor rules (`Pagination`): Start
    * (-1) and positive cursors page downward, negative cursors page upward and display
    * descending, End (0) is empty.
    */
  def paginate(keys: Seq[Long], page: Page): PagedResult[Long] = {
    val n = page.count
    if (page.cursor == Cursor.End) PagedResult(Nil, Cursor.End, Cursor.End)
    else if (page.cursor >= Cursor.Start) {
      val below =
        (if (page.cursor == Cursor.Start) keys else keys.filter(_ < page.cursor)).sorted.reverse
      val shown = below.take(n)
      if (shown.isEmpty) PagedResult(Nil, Cursor.End, Cursor.End)
      else {
        val next = if (below.size > n) shown.last else Cursor.End
        val prev =
          if (page.cursor == Cursor.Start || !keys.exists(_ > shown.head)) Cursor.End
          else -shown.head
        PagedResult(shown, next, prev)
      }
    } else {
      val c = -page.cursor
      val above = keys.filter(_ > c).sorted
      val shownAsc = above.take(n)
      if (shownAsc.isEmpty) PagedResult(Nil, Cursor.End, Cursor.End)
      else {
        val shown = shownAsc.reverse
        val prev = if (above.size > n) -shown.head else Cursor.End
        val next = if (keys.exists(_ <= c)) shown.last else Cursor.End
        PagedResult(shown, next, prev)
      }
    }
  }
}
