package graft

import graft.model._
import graft.queries._
import graft.service.FlockService

/** Service-façade lifecycle — the demo walkthrough shape (`doc/demo.markdown:117-262`):
  * adds, reciprocal intersection, union, difference, negate/archive, counts.
  */
class FlockServiceSpec extends SparkSpec {

  private def freshService: FlockService = {
    val empty = storeOf() // empty store
    new FlockService(empty)
  }

  private def add(src: Long, dst: Long, at: Int): WriteOp =
    WriteOp(FOLLOWS, src, Some(dst), OpType.Add, at, Some(at.toLong * 1000))

  test("end-to-end: execute adds, query compound selects, counts, contains") {
    // alice follows bob, carl, darcy; bob follows alice, darcy; carl follows bob
    val svc = freshService.execute(Seq(
      add(alice, bob, 100), add(alice, carl, 101), add(alice, darcy, 102),
      add(bob, alice, 103), add(bob, darcy, 104),
      add(carl, bob, 105)
    ))

    assert(svc.contains(alice, FOLLOWS, bob))
    assert(!svc.contains(bob, FOLLOWS, carl))

    // who alice follows that also follows alice (reciprocal) = {bob}
    val reciprocal = svc.select(
      Seq(
        TermOp(QueryTerm(alice, FOLLOWS)),
        TermOp(QueryTerm(alice, FOLLOWS, isForward = false)),
        IntersectionOp
      ),
      Page(10, Cursor.Start)
    )
    assert(reciprocal.items == Seq(bob))

    // union of alice's follows and bob's follows
    val union = svc.select(
      Seq(TermOp(QueryTerm(alice, FOLLOWS)), TermOp(QueryTerm(bob, FOLLOWS)), UnionOp),
      Page(10, Cursor.Start)
    )
    assert(union.items.toSet == Set(bob, carl, darcy, alice))

    // alice's follows who bob does not follow
    val diff = svc.select(
      Seq(TermOp(QueryTerm(alice, FOLLOWS)), TermOp(QueryTerm(bob, FOLLOWS)), DifferenceOp),
      Page(10, Cursor.Start)
    )
    assert(diff.items.toSet == Set(bob, carl))

    // exact counts
    assert(svc.count2(Seq(Seq(TermOp(QueryTerm(alice, FOLLOWS)))), exact = true) == Seq(3L))

    // estimates read the metadata count
    assert(svc.count2(Seq(Seq(TermOp(QueryTerm(alice, FOLLOWS))))) == Seq(3L))
  }

  test("remove then re-add: contains flips, LWW converges") {
    val svc0 = freshService.execute(Seq(add(alice, bob, 100)))
    val svc1 = svc0.execute(Seq(WriteOp(FOLLOWS, alice, Some(bob), OpType.Remove, 110, None)))
    assert(!svc1.contains(alice, FOLLOWS, bob))
    val svc2 = svc1.execute(Seq(add(alice, bob, 120)))
    assert(svc2.contains(alice, FOLLOWS, bob))
  }

  test("negate keeps the edge 'existing' but out of Normal-state queries") {
    val svc = freshService
      .execute(Seq(add(alice, bob, 100)))
      .execute(Seq(WriteOp(FOLLOWS, alice, Some(bob), OpType.Negate, 110, None)))
    assert(svc.contains(alice, FOLLOWS, bob), "Negative counts as existing for contains")
    val normal = svc.select(Seq(TermOp(QueryTerm(alice, FOLLOWS))), Page(10, Cursor.Start))
    assert(normal.items.isEmpty)
    val negative = svc.select(
      Seq(TermOp(QueryTerm(alice, FOLLOWS, states = Seq(State.Negative)))),
      Page(10, Cursor.Start)
    )
    assert(negative.items == Seq(bob))
  }

  test("select_edges returns full edge rows in position order") {
    val svc = freshService.execute(Seq(add(alice, bob, 100), add(alice, carl, 105)))
    val page = svc.selectEdges(QueryTerm(alice, FOLLOWS), Page(10, Cursor.Start))
    assert(page.items.map(_.destinationId) == Seq(carl, bob))
    assert(page.items.head.updatedAt == 105)
  }

  test("select2 batch larger than the fan-out pool queues and answers every query") {
    val svc = freshService.execute(
      (1L to 6L).flatMap(s => (1L to 4L).map(d => add(s, s * 10 + d, 100 + d.toInt))))
    // 24 page queries > SelectParallelism (8): the excess must queue, not spawn
    val batch = (1L to 6L).flatMap { s =>
      Seq.fill(4)((Seq(TermOp(QueryTerm(s, FOLLOWS))): Seq[SelectOperation], Page(10, Cursor.Start)))
    }
    assert(batch.size > FlockService.SelectParallelism)
    val results = svc.select2(batch)
    assert(results.size == batch.size)
    results.zipWithIndex.foreach { case (r, i) =>
      val s = 1L + i / 4
      assert(r.items.toSet == (1L to 4L).map(d => s * 10 + d).toSet, s"query $i (source $s)")
    }
  }

  test("getMetadata reflects dominant state count") {
    val svc = freshService.execute(Seq(add(alice, bob, 100), add(alice, carl, 100)))
    val meta = svc.getMetadata(alice, FOLLOWS)
    assert(meta.exists(m => m.state == State.Normal && m.count == 2))
    assert(svc.containsMetadata(alice, FOLLOWS))
    assert(!svc.containsMetadata(earl, FOLLOWS))
  }

  test("packed wire forms unpack to the select2 pages and count2 counts") {
    val svc = freshService.execute(Seq(
      add(alice, bob, 100), add(alice, carl, 101), add(alice, darcy, 102), add(bob, carl, 103)))
    val pages: Seq[(Seq[SelectOperation], Page)] = Seq(
      (Seq(TermOp(QueryTerm(alice, FOLLOWS))), Page(2, Cursor.Start)),
      (Seq(TermOp(QueryTerm(alice, FOLLOWS)), TermOp(QueryTerm(bob, FOLLOWS)), UnionOp),
        Page(10, Cursor.Start)))
    val unpacked = svc.select2Packed(pages).map { case (ids, next, prev) =>
      PagedResult(graft.functions.Packing.unpackLongs(ids).toSeq, next, prev)
    }
    assert(unpacked == svc.select2(pages))
    assert(unpacked.head.items.size == 2 && unpacked.head.nextCursor != Cursor.End)
    val programs = pages.map(_._1) :+ Seq(TermOp(QueryTerm(bob, FOLLOWS, isForward = false)))
    for (exact <- Seq(false, true))
      assert(graft.functions.Packing.unpackInts(svc.count2Packed(programs, exact)).toSeq ==
        svc.count2(programs, exact).map(_.toInt), s"exact = $exact")
  }

  /** The metadata rule restated in plain Scala over a store's raw logs, per
    * (graph, vertex, direction): the register's state when the vertex has one, else the
    * state of its newest current edge; the count of its current edges in that state; and
    * that state's updated_at. Vertices with neither edges nor a register are absent.
    */
  private def foldMetadata(store: graft.store.EdgeStore): Map[(Int, Long, Boolean), (Int, Long, Int)] = {
    case class W(g: Int, src: Long, dst: Long, pos: Long, at: Int, state: Int)
    val edges = store.log.collect().toSeq
      .map(r => W(r.getAs[Int]("graph_id"), r.getAs[Long]("source_id"),
        r.getAs[Long]("destination_id"), r.getAs[Long]("position"), r.getAs[Int]("updated_at"),
        r.getAs[Int]("state")))
      .groupBy(w => (w.g, w.src, w.dst)).values
      .map(_.maxBy(w => (w.at, State.priority(w.state), w.pos))).toSeq
    val registers = store.vertexLog.toSeq.flatMap(_.collect().toSeq)
      .map(r => ((r.getAs[Int]("graph_id"), r.getAs[Long]("vertex_id"), r.getAs[Boolean]("is_forward")),
        (r.getAs[Int]("state"), r.getAs[Int]("updated_at"))))
      .groupBy(_._1).map { case (k, ws) => k -> ws.map(_._2).maxBy(w => (w._2, State.priority(w._1))) }
    val keys = edges.flatMap(w => Seq((w.g, w.src, true), (w.g, w.dst, false))) ++ registers.keys
    keys.distinct.map { case k @ (g, v, fwd) =>
      val incident = edges.filter(w => w.g == g && (if (fwd) w.src else w.dst) == v)
      val (state, at) = registers.getOrElse(k, {
        val newest = incident.maxBy(w => (w.at, State.priority(w.state)))
        (newest.state, newest.at)
      })
      k -> (state, incident.count(_.state == state).toLong, at)
    }.toMap
  }

  test("count2 leaf estimates and getMetadata equal the plain metadata fold, both directions") {
    val graphs = Seq(1, 2)
    val rnd = new scala.util.Random(7)
    val vertices = 1L to 8L // edges only among 1-6: 7 and 8 can only carry registers
    for (seed <- 1 to 3) {
      def op(wildcard: Boolean): WriteOp = {
        val at = 100 + rnd.nextInt(60)
        val (g, src, fwd) = (graphs(rnd.nextInt(2)), 1L + rnd.nextInt(6), rnd.nextBoolean())
        val state = State.all(rnd.nextInt(State.all.size))
        if (wildcard) WriteOp(g, vertices(rnd.nextInt(vertices.size)), None, state, at, None, fwd)
        else WriteOp(g, src, Some(1L + rnd.nextInt(6)), state, at,
          if (rnd.nextBoolean()) Some(rnd.nextInt(1000).toLong) else None, fwd)
      }
      val registerOnly = graphs.flatMap(g => Seq(true, false).map(f =>
        WriteOp(g, 8L, None, State.Archived, 150, None, f)))
      val chained = (1 to 3).foldLeft(freshService) { (svc, batch) =>
        svc.execute(Seq.fill(9)(op(wildcard = false)) ++ Seq.fill(3)(op(wildcard = true)) ++
          (if (batch == 2) registerOnly else Nil))
      }.store
      // the logs materialized once: every read below folds them, not the write chain
      val svc = new FlockService(new graft.store.EdgeStore(
        chained.log.localCheckpoint(), chained.vertexLog.map(_.localCheckpoint())))
      val want = foldMetadata(svc.store)
      graphs.foreach(g => Seq(true, false).foreach(f =>
        assert(want.get((g, 8L, f)).exists(_._2 == 0L), s"seed $seed: register-only vertex missing")))
      def estimate(t: QueryTerm): Long = want.get((t.graphId, t.sourceId, t.isForward))
        .collect { case (state, count, _) if t.effectiveStates.contains(state) => count }.getOrElse(0L)

      // one term per (key, state): the estimate is the count in the vertex's state only
      val terms = for (g <- graphs; v <- vertices; f <- Seq(true, false); s <- State.all)
        yield QueryTerm(v, g, f, None, Seq(s))
      assert(svc.count2(terms.map(t => Seq(TermOp(t)))) == terms.map(estimate), s"seed $seed")
      for (g <- graphs; v <- vertices)
        assert(svc.getMetadata(v, g).map(m => (m.state, m.count, m.updatedAt)) == want.get((g, v, true)),
          s"seed $seed: getMetadata($v, $g)")

      if (seed == 3) {
        // more keys per direction than WhereInPredicateMax: the broadcast semi-join branch
        val wide = for (g <- graphs; v <- 1L to 600L; f <- Seq(true, false))
          yield QueryTerm(v, g, f, None, Seq(State.Normal, State.Archived))
        assert(wide.count(_.isForward) > graft.store.EdgeStore.WhereInPredicateMax)
        assert(svc.count2(wide.map(t => Seq(TermOp(t)))) == wide.map(estimate))
      }
    }
  }
}
