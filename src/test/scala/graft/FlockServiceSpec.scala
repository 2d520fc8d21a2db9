package graft

import graft.model._
import graft.queries._
import graft.service.FlockService
import graft.store.EdgeStore

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

  /** What a store answers, for comparing two stores: its snapshot, its metadata in both
    * directions, and first pages of the given set-op programs.
    */
  private def readsOf(store: EdgeStore, programs: Seq[Seq[SelectOperation]]) = (
    store.snapshot.collect().toSet,
    store.metadata(isForward = true).collect().toSet,
    store.metadata(isForward = false).collect().toSet,
    new FlockService(store).select2(programs.map(p => (p, Page(20, Cursor.Start)))))

  test("50 chained execute batches keep one base and one delta, and read like one batch") {
    val rnd = new scala.util.Random(23)
    val base = EdgeStore.fromEdges(spark, for {
      g <- Seq(1, 2); s <- 1L to 30L; d <- 100L to 130L if rnd.nextInt(5) == 0
    } yield Edge(g, s, d, rnd.nextInt(1000).toLong, 50 + rnd.nextInt(50), 0, State.all(rnd.nextInt(4))))
    // Chaining equals one batch when no write can see another's effect: every edge key
    // takes at most one single-edge op, and wildcards (each vertex once) fan out over
    // edges no single-edge op touches — forward ones in graph 1 over sources 1-15,
    // backward ones in graph 2 over destinations 100-114.
    val fwdWild = (1L to 15L).iterator
    val bwdWild = (100L to 114L).iterator
    val singleKeys = rnd.shuffle(
      (for (s <- 16L to 30L; d <- (100L to 130L) ++ (200L to 215L)) yield (1, s, d)) ++
        (for (s <- 1L to 30L; d <- (115L to 130L) ++ (200L to 215L)) yield (2, s, d))).iterator
    var clock = 1000
    def single(): WriteOp = {
      val (g, s, d) = singleKeys.next()
      val fwd = rnd.nextBoolean() // a backward op names the edge from its destination
      clock += 1
      WriteOp(g, if (fwd) s else d, Some(if (fwd) d else s), State.all(rnd.nextInt(4)), clock,
        if (rnd.nextBoolean()) Some(rnd.nextInt(1000).toLong) else None, fwd)
    }
    def wildcard(b: Int): Option[WriteOp] = {
      clock += 1
      val state = State.all(rnd.nextInt(4))
      if (b % 2 == 0) fwdWild.nextOption().map(WriteOp(1, _, None, state, clock, None, isForward = true))
      else bwdWild.nextOption().map(WriteOp(2, _, None, state, clock, None, isForward = false))
    }
    val batches = (1 to 50).map(b => Seq.fill(1 + rnd.nextInt(3))(single()) ++ wildcard(b))
    val chain = batches.foldLeft(new FlockService(base))(_ execute _).store
    val oneBatch = new FlockService(base).execute(batches.flatten).store

    assert(logBranches(chain.log) <= 2, "the edge log stays base + one delta")
    assert(chain.vertexLog.exists(logBranches(_) <= 2), "the register log stays base + one delta")
    assert(chain.compactionHorizon.isEmpty, "no flush below the delta cap: every cut answerable")
    val programs =
      for (g <- Seq(1, 2); v <- Seq(3L, 16L, 22L); op <- Seq(IntersectionOp, UnionOp, DifferenceOp))
        yield Seq(TermOp(QueryTerm(v, g)), TermOp(QueryTerm(v + 1, g)), op)
    val backward = Seq(TermOp(QueryTerm(105L, 2, isForward = false)),
      TermOp(QueryTerm(120L, 2, isForward = false)), UnionOp)
    assert(readsOf(chain, programs :+ backward) == readsOf(oneBatch, programs :+ backward))
  }

  test("writes past the delta cap fold nothing: bounded chains, every cut answerable") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cap = EdgeStore.DeltaMax
    // (alice,bob) written twice in the base, so a fold would raise the horizon to 300;
    // carl has half a cap of edges to fan out over
    val base = storeOf(
      Seq(edge(alice, bob, 1, at = 100), edge(alice, bob, 1, at = 300, state = State.Removed)) ++
        (1L to cap / 2).map(d => edge(carl, 1000L + d, d, at = 50)): _*)
    // single-edge adds on fresh keys (no register on either end: each add is its own row)
    def bulk(b: Int, n: Int = cap / 3 + 1) = spark.range(n).select(
      lit(FOLLOWS).as("graph_id"), (lit(100000L * b) + col("id")).as("source_id"),
      lit(7L).as("destination_id"), lit(State.Normal).as("state"),
      (lit(2000 * b) + col("id") % 1000).cast("int").as("updated_at"), col("id").as("position"),
      lit(true).as("is_forward"))
    def rowsOf(ops: org.apache.spark.sql.DataFrame) = ops.select(col("graph_id"), col("source_id"),
      col("destination_id"), col("position"), col("updated_at"), lit(0).as("count"), col("state"))
    val pre = Seq(1, 2).foldLeft(new FlockService(base))(_ executeDF bulk(_))
    assert(logBranches(pre.store.log) == 2 && pre.store.compactionHorizon.isEmpty, "base + delta")
    val programs = Seq(
      Seq(TermOp(QueryTerm(carl, FOLLOWS)), TermOp(QueryTerm(darcy, FOLLOWS)), UnionOp),
      Seq(TermOp(QueryTerm(7L, FOLLOWS, isForward = false)),
        TermOp(QueryTerm(earl, FOLLOWS, isForward = false)), UnionOp))
    // `after` against `raw`, the same writes as plain logs: nothing folded, and the same
    // answers at every cut, 200 included
    def assertUnfolded(after: EdgeStore, raw: EdgeStore): Unit = {
      assert(after.compactionHorizon.isEmpty, "nothing folded")
      assert(readsOf(after, programs) == readsOf(raw, programs))
      for (ts <- Seq(200, 300, 4500, 9000, 20000))
        assert(after.asOf(ts).snapshot.collect().toSet == raw.asOf(ts).snapshot.collect().toSet,
          s"asOf($ts)")
    }
    // a write too big for the delta starts a new chain, whose versions add no branch
    def assertNewChain(after: EdgeStore): Unit = {
      val next = new FlockService(after).execute(Seq(add(frank, alice, 9100)))
      val later = next.execute(Seq(add(frank, bob, 9101)))
      assert(logBranches(later.store.log) == logBranches(next.store.log))
    }

    // a wildcard whose fanout passes the delta's room: its rows start a new chain
    val wildAt = 9000
    val wild = Seq(WriteOp(FOLLOWS, carl, None, State.Archived, wildAt), add(darcy, earl, 9001))
    val fanout = (1L to cap / 2).map(d => (FOLLOWS, carl, 1000L + d, d, wildAt, 0, State.Archived)) :+
      ((FOLLOWS, darcy, earl, 9001L * 1000, 9001, 0, State.Normal))
    val afterWild = pre.execute(wild).store
    assertUnfolded(afterWild, new EdgeStore(
      pre.store.log.unionByName(fanout.toDF(EdgeStore.edgeColNames: _*)),
      Some(Seq((FOLLOWS, carl, true, State.Archived, wildAt))
        .toDF(EdgeStore.vertexLogSchema.fieldNames.toSeq: _*))))
    val oneBatch = base.applyOperations(bulk(1).unionByName(bulk(2)).unionByName(
      wild.toDF("graph_id", "source_id", "destination_id", "state", "updated_at", "position",
        "is_forward")))
    assert(readsOf(oneBatch, programs) == readsOf(afterWild, programs))
    assertNewChain(afterWild)

    // a chain of batches with more ops than the room crosses the cap again and again
    val chain = (3 to 8).scanLeft((pre, pre.store.log)) { case ((svc, raw), b) =>
      (svc.executeDF(bulk(b)), raw.unionByName(rowsOf(bulk(b))))
    }
    chain.foreach { case (svc, _) => assert(logBranches(svc.store.log) <= 3, "base + segment + delta") }
    val (last, lastRaw) = chain.last
    assertUnfolded(last.store, new EdgeStore(lastRaw, None))

    // a batch bigger than the whole delta starts a new chain too
    val big = bulk(9, cap + 1)
    val afterBig = pre.executeDF(big).store
    assertUnfolded(afterBig, new EdgeStore(pre.store.log.unionByName(rowsOf(big)), None))
    assertNewChain(afterBig)
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
