package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.model._
import graft.store.{EdgeStorage, EdgeStore}

/** Partitioned persistence: graph_id directory pruning + source_id row-group layout. */
class StorageSpec extends SparkSpec {

  test("save/load round-trips and prunes partitions on graph_id") {
    val dir = Files.createTempDirectory("graft-storage").toString + "/edges"
    val st = storeOf(
      edge(alice, bob, 1, graph = 1),
      edge(alice, carl, 2, graph = 1),
      edge(bob, carl, 3, graph = 2)
    )
    EdgeStorage.save(st.snapshot, dir, buckets = 2)

    val loaded = EdgeStorage.load(spark, dir)
    assert(snapshotOf(loaded).keySet == Set((alice, bob), (alice, carl), (bob, carl)))

    // graph filter must reach the scan as a partition filter (directory pruning)
    val plan = loaded.log.filter(col("graph_id") === 1).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("graph_id"), plan.take(500))

    // source filter must be pushed to parquet (row-group pruning via min/max stats)
    val plan2 = loaded.log.filter(col("source_id") === alice).queryExecution.executedPlan.toString
    assert(plan2.contains("PushedFilters") && plan2.contains("source_id"), plan2.take(500))
  }

  test("asOf cut reaches the parquet scan as a pushed filter (old-file pruning)") {
    val dir = Files.createTempDirectory("graft-asof").toString + "/edges"
    val st = storeOf(
      edge(alice, bob, 1, at = 100),
      edge(alice, bob, 1, at = 300, state = State.Archived))
    EdgeStorage.save(st.log, dir, buckets = 2)
    val loaded = EdgeStorage.load(spark, dir)
    // the time-travel predicate must prune at the scan (row-group min/max on
    // updated_at), not filter after the fold
    val p = loaded.asOf(200).snapshot.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(updated_at,200)"),
      p.take(800))
    assert(snapshotOf(loaded.asOf(200))((alice, bob)).state == State.Normal,
      "the archived write at 300 must be invisible at 200")
  }

  test("changedBetween: one fold, ts2 cut pushed to the scan, three change classes") {
    val dir = Files.createTempDirectory("graft-churn").toString + "/edges"
    val st = storeOf(
      edge(alice, bob, 1, at = 100),                           // unchanged across cuts
      edge(alice, carl, 2, at = 100),                          // state-changes at 250
      edge(alice, carl, 3, at = 250, state = State.Removed),
      edge(bob, carl, 4, at = 100),                            // same state, position moves
      edge(bob, carl, 5, at = 250),
      edge(carl, bob, 6, at = 250),                            // appears between cuts
      edge(carl, alice, 7, at = 400))                          // beyond ts2: invisible
    EdgeStorage.save(st.log, dir, buckets = 2)
    val loaded = EdgeStorage.load(spark, dir)

    // the ts2 prefix predicate must prune at the scan, like asOf's (row-group
    // min/max on updated_at), not filter after the fold
    val p = loaded.changedBetween(200, 300).queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(updated_at,300)"),
      p.take(800))
    // and the diff is ONE aggregation over one scan — never two snapshot folds
    // joined (the log would be read and shuffled twice)
    assert("ObjectHashAggregate".r.findAllIn(p).size == 2, // partial + final of one fold
      s"expected exactly one partial+final aggregate pair:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p.take(1200))

    val rows = loaded.changedBetween(200, 300)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getString(8)).toMap
    assert(rows == Map(
      (alice, carl) -> "state",
      (bob, carl)   -> "position",  // newer Normal write carries a new position
      (carl, bob)   -> "appeared"), rows.toString)

    // a compacted store cannot diff below its horizon
    EdgeStorage.compact(spark, dir)
    intercept[IllegalArgumentException] { EdgeStorage.load(spark, dir).changedBetween(200, 300) }
  }

  test("bucketed table: the LWW snapshot fold runs with NO shuffle") {
    // the 100 TB payoff of saveTable: scan-time HashPartitioning(source_id) already
    // satisfies the fold's clustering (source_id ⊆ grouping key), so the recurring
    // log→snapshot cost has zero Exchange. AQE off so the executed plan is inspectable.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val st = storeOf(
        edge(alice, bob, 1, at = 100),
        edge(alice, bob, 2, at = 200, state = State.Archived), // conflicting write
        edge(alice, carl, 3),
        edge(bob, carl, 4)
      )
      EdgeStorage.saveTable(st.log, "edges_bucketed", buckets = 4)
      val loaded = EdgeStorage.loadTable(spark, "edges_bucketed")

      val e = snapshotOf(loaded)
      assert(e.keySet == Set((alice, bob), (alice, carl), (bob, carl)))
      assert(e((alice, bob)).state == State.Archived, "LWW semantics survive the table round-trip")

      val p = loaded.snapshot.queryExecution.executedPlan.toString
      assert(p.contains("ObjectHashAggregate"), p)
      assert(p.contains("Bucketed: true"), s"scan did not use the bucket layout:\n$p")
      assert(!p.contains("Exchange"), s"bucketed fold must be shuffle-free:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("two same-bucketed stores repair with no shuffle on either side") {
    // W6 copy/repair between replicas — with both tables bucketed the same way the
    // merge-diff equi-join co-locates for free (the reference's same-hash-range copy)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      EdgeStorage.saveTable(storeOf(edge(alice, bob, 1, at = 100)).log, "repair_a", buckets = 4)
      EdgeStorage.saveTable(storeOf(edge(alice, bob, 1, at = 200, state = State.Archived)).log,
        "repair_b", buckets = 4)
      val a = EdgeStorage.loadTable(spark, "repair_a")
      val b = EdgeStorage.loadTable(spark, "repair_b")
      val repaired = a.repairWith(b)
      assert(snapshotOf(repaired)((alice, bob)).state == State.Archived)
      val p = repaired.snapshot.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"same-bucketed repair must not re-shuffle either side:\n$p")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("compact folds the on-disk log to its snapshot (size bounded by |edges|)") {
    val dir = Files.createTempDirectory("graft-storage3").toString + "/edges"
    EdgeStorage.save(storeOf(edge(alice, bob, 1, at = 100)).log, dir)
    // five unsafe appends of conflicting writes for the same key
    (101 to 105).foreach { t =>
      EdgeStorage.appendUnsafe(
        storeOf(edge(alice, bob, 1, at = t, state = if (t % 2 == 0) State.Archived else State.Normal)).log,
        dir)
    }
    assert(EdgeStorage.load(spark, dir).log.count() == 6L, "log grows with writes")
    EdgeStorage.compact(spark, dir)
    val st = EdgeStorage.load(spark, dir)
    assert(st.log.count() == 1L, "compacted to one row per edge")
    val e = snapshotOf(st)((alice, bob))
    assert(e.updatedAt == 105 && e.state == State.Normal, "LWW winner survives compaction")
  }

  test("asOf below the compaction horizon throws; at/above it replays truthfully") {
    val dir = Files.createTempDirectory("graft-horizon").toString + "/edges"
    // two keys: (alice,bob) holds three conflicting writes (compaction discards two
    // losers; winner at 300 = the horizon), (bob,carl) a single write at 50
    EdgeStorage.save(storeOf(edge(alice, bob, 1, at = 100)).log, dir)
    EdgeStorage.appendUnsafe(
      storeOf(
        edge(alice, bob, 2, at = 200, state = State.Archived),
        edge(alice, bob, 3, at = 300, state = State.Normal),
        edge(bob, carl, 4, at = 50)).log,
      dir)

    // pre-compaction: the full log answers any cut — asOf(200) sees the loser
    val full = EdgeStorage.load(spark, dir)
    assert(full.compactionHorizon.isEmpty)
    assert(snapshotOf(full.asOf(200))((alice, bob)).state == State.Archived)

    EdgeStorage.compact(spark, dir)
    val st = EdgeStorage.load(spark, dir)
    assert(st.compactionHorizon.contains(300),
      "horizon = newest write among keys whose losers were discarded")
    val err = intercept[IllegalArgumentException] { st.asOf(200) }
    assert(err.getMessage.contains("compaction horizon"), err.getMessage)
    // at/above the horizon every surviving write is the truth
    assert(snapshotOf(st.asOf(300)).keySet == Set((alice, bob), (bob, carl)))
    // derived stores keep the tag: pruned views and repair merges must stay loud
    assert(st.whereGraph(1).compactionHorizon.contains(300))
    assert(st.repairWith(full).compactionHorizon.contains(300))
    intercept[IllegalArgumentException] { st.whereGraph(1).asOf(200) }

    // a second compaction (no new collisions) keeps the persisted horizon
    EdgeStorage.compact(spark, dir)
    assert(EdgeStorage.load(spark, dir).compactionHorizon.contains(300))
  }

  test("collision-free log compacts with NO horizon (stays fully travelable)") {
    val dir = Files.createTempDirectory("graft-horizon2").toString + "/edges"
    EdgeStorage.save(storeOf(edge(alice, bob, 1, at = 100), edge(bob, carl, 2, at = 200)).log, dir)
    EdgeStorage.compact(spark, dir)
    val st = EdgeStorage.load(spark, dir)
    assert(st.compactionHorizon.isEmpty, "nothing was discarded — every cut answerable")
    assert(snapshotOf(st.asOf(100)).keySet == Set((alice, bob)))
  }

  test("appendUnsafe: duplicates resolve at the next LWW snapshot") {
    val dir = Files.createTempDirectory("graft-storage2").toString + "/edges"
    val st = storeOf(edge(alice, bob, 1, at = 100, state = State.Normal))
    EdgeStorage.save(st.log, dir)
    // replayed + newer write appended without conflict handling (S10)
    EdgeStorage.appendUnsafe(
      storeOf(
        edge(alice, bob, 1, at = 100, state = State.Normal), // replay
        edge(alice, bob, 1, at = 105, state = State.Archived)
      ).log,
      dir
    )
    val m = snapshotOf(EdgeStorage.load(spark, dir))
    assert(m((alice, bob)).state == State.Archived && m((alice, bob)).updatedAt == 105)
  }

  test("incremental write path appends the batch delta instead of rewriting the store") {
    val st = storeOf(
      edge(alice, bob, 1, at = 100),
      edge(alice, carl, 2, at = 100),
      edge(bob, carl, 3, at = 100),
      edge(carl, darcy, 4, at = 100)
    )
    // one single-edge archive: the new log must be old log + ONE delta row
    val st2 = st.applyOperations(opsDF((alice, bob, State.Archived, 200, None)))
    assert(st2.log.count() == st.log.count() + 1, "a 1-op batch must write ~1 row")
    val m = snapshotOf(st2)
    assert(m((alice, bob)).state == State.Archived)
    assert(m((alice, carl)).state == State.Normal, "untouched keys unchanged")
  }

  test("compacting fallback (large batch) and incremental path produce the same store") {
    val st = storeOf(
      edge(alice, bob, 1, at = 100),
      edge(alice, carl, 2, at = 100, state = State.Negative),
      edge(bob, alice, 3, at = 100),
      edge(darcy, earl, 4, at = 100)
    )
    // mixed batch: a resurrect (position rule), an archive, and a forward wildcard
    val ops = {
      import spark.implicits._
      Seq(
        (FOLLOWS, alice, Some(carl), State.Normal, 200, None: Option[Long]),
        (FOLLOWS, bob, Some(alice), State.Archived, 200, None: Option[Long]),
        (FOLLOWS, darcy, None: Option[Long], State.Archived, 200, None: Option[Long])
      ).toDF("graph_id", "source_id", "destination_id", "state", "updated_at", "position")
    }
    val inc  = st.applyOperations(ops)
    val full = st.applyOperations(ops, incrementalMax = -1L) // force the compacting form
    assert(snapshotOf(inc) == snapshotOf(full))
    val mv = inc.metadata.collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    val mf = full.metadata.collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(mv == mf, "register-aware metadata must agree across paths")
  }

  test("the write path's fold raises the horizon: asOf below it throws, at/above it is truthful") {
    // (alice,bob) Normal@100 then Removed@300; one unrelated op through the compacting
    // fallback folds the loser away, so a cut at 200 could no longer see Normal@100
    val st = storeOf(edge(alice, bob, 1, at = 100), edge(alice, bob, 1, at = 300, state = State.Removed))
    val ops = opsDF((carl, darcy, State.Normal, 400, None))
    val folded = st.applyOperations(ops, incrementalMax = -1L)
    assert(folded.compactionHorizon.contains(300), "horizon = newest write of a folded key")
    val err = intercept[IllegalArgumentException] { folded.asOf(200) }
    assert(err.getMessage.contains("compaction horizon"), err.getMessage)
    // the incremental path folds nothing: it keeps every cut, and is the truth at each
    val inc = st.applyOperations(ops)
    assert(inc.compactionHorizon.isEmpty)
    assert(snapshotOf(inc.asOf(200))((alice, bob)).state == State.Normal)
    for (ts <- Seq(300, 399, 400))
      assert(snapshotOf(folded.asOf(ts)) == snapshotOf(inc.asOf(ts)), s"asOf($ts)")
  }
}
