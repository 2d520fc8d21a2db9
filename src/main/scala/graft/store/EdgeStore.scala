package graft.store

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model._

/** Distributed edge store over an append-only log of edge writes plus a vertex-level
  * state-register log.
  *
  * The reference (FlockDB) materializes each write eagerly into MySQL with a guarded
  * last-writer-wins upsert (`shards/SqlShard.scala:432-524`) and keeps a per-vertex
  * metadata row whose `state` is its own LWW register (`shards/SqlShard.scala:646-697`).
  * On Spark we instead keep the *logs* of writes as the source of truth and derive the
  * current snapshots with grouped max-by aggregations — idempotent and commutative exactly
  * like the reference's write model (`doc/blog.md:67-75`): replaying any subset of either
  * log in any order yields the same snapshots.
  *
  * Scale posture: the snapshot is `groupBy(graphId, sourceId, destinationId).agg(lwwWinner)`
  * — a map-side-combinable hash aggregation (custom ObjectHashAggregate-eligible
  * aggregate), one shuffle on the edge key, no window or partition sort.
  * At 100 TB this is the cheapest possible shape (partial aggregation collapses duplicate
  * writes before the shuffle; AQE handles skewed vertices). The vertex-register table is
  * per-vertex (orders of magnitude smaller than edges), so the write-path domination joins
  * against it broadcast under AQE.
  *
  * One rule, one restriction: per-vertex (state, count) comes only from [[metadata]]
  * (both directions), and every point- or batch-scale read of derived state — a
  * `get_metadata`, a `count2` batch's leaf stats, an `execute` batch's pre-write state,
  * a metadata patch — folds the logs [[restrictedTo]] its own vertex keys, never the
  * whole store.
  *
  * One base, one delta: a version is a BASE relation per log (the loaded relation, or
  * what a derived store was built over), an executor-side SEGMENT holding the rows
  * flushed since, and a driver-held DELTA shown to Spark as ONE local relation. Each
  * write batch replaces the delta with `delta ++ its rows`, so a version never adds a
  * Union branch, and reading it re-runs none of the earlier batches' joins — the
  * reference applies each write as a per-key upsert and never re-reads history
  * (`SqlShard.scala:432-524`). A write that would pass [[EdgeStore.DeltaMax]] rows
  * first FLUSHES the delta: segment and delta are merged into one checkpointed
  * segment, unfolded, so no write is discarded and every cut stays answerable. A
  * chain of batches that fit the delta is therefore never more than
  * base ∪ segment ∪ delta. A write too big for the delta, and every other derived
  * store ([[asOf]], [[whereGraph]], [[restrictedTo]], [[repairWith]]), starts a new
  * chain over its own logs.
  *
  * @param compactionHorizon oldest instant this store can truthfully time-travel to.
  *   `None` = full write log (every cut answerable). Compaction
  *   ([[EdgeStorage.compact]], `TestGraph.compactedStore`, the write path's compacting
  *   form) discards superseded writes, so the compacted relation can only replay cuts
  *   at or after the newest write that superseded a discarded one — [[asOf]] REJECTS
  *   older cuts instead of silently returning a state that never existed.
  */
final class EdgeStore private (
    base: DataFrame,
    vertexBase: Option[DataFrame],
    val compactionHorizon: Option[Int],
    segment: Option[DataFrame],
    vertexSegment: Option[DataFrame],
    private val edgeDelta: Vector[Row],
    private val registerDelta: Vector[Row]
) {
  import EdgeStore._

  /** A store over the given logs, with no delta. */
  def this(log: DataFrame, vertexLog: Option[DataFrame] = None, compactionHorizon: Option[Int] = None) =
    this(log, vertexLog, compactionHorizon, None, None, Vector.empty, Vector.empty)

  private def spark: SparkSession = base.sparkSession

  /** `base ∪ segment ∪ delta` over whichever of them exist; exactly the base while
    * nothing was written to it.
    */
  private def chained(
      base: Option[DataFrame], segment: Option[DataFrame], delta: Vector[Row], schema: StructType
  ): Option[DataFrame] =
    if (segment.isEmpty && delta.isEmpty) base
    else (base.map(_.select(schema.fieldNames.map(col): _*)) ++ segment ++
      Option.when(delta.nonEmpty)(localFrame(spark, delta, schema))).reduceOption(_ unionByName _)

  /** The edge write log: the base, plus the segment and the delta once this chain
    * carries writes (a store with no writes keeps exactly its base plan).
    */
  val log: DataFrame = chained(Some(base), segment, edgeDelta, edgeLogSchema).get

  /** The vertex-register write log, chained like [[log]]; `None` = no register was
    * ever written.
    */
  val vertexLog: Option[DataFrame] = chained(vertexBase, vertexSegment, registerDelta, vertexLogSchema)

  /** Rows (edge and register writes together) the delta can still take. */
  private def room: Int = DeltaMax - edgeDelta.size - registerDelta.size

  /** This version with more rows in its delta. */
  private def appended(edges: Seq[Row], registers: Seq[Row]): EdgeStore =
    new EdgeStore(base, vertexBase, compactionHorizon, segment, vertexSegment,
      edgeDelta ++ edges, registerDelta ++ registers)

  /** The flush: each log's segment and delta merged into one checkpointed segment (one
    * job per log whose delta holds rows), leaving an empty delta. Nothing is folded, so
    * the horizon stays; copying the segment costs the rows written since the base,
    * never the store.
    */
  private def flushed: EdgeStore = {
    def merged(seg: Option[DataFrame], delta: Vector[Row], schema: StructType): Option[DataFrame] =
      if (delta.isEmpty) seg else chained(None, seg, delta, schema).map(_.localCheckpoint(true))
    new EdgeStore(base, vertexBase, compactionHorizon,
      merged(segment, edgeDelta, edgeLogSchema), merged(vertexSegment, registerDelta, vertexLogSchema),
      Vector.empty, Vector.empty)
  }

  /** A new chain over this version's logs with `newRows` appended lazily — the form of
    * writes too big for the delta, whose rows are not collected.
    */
  private def extended(newRows: DataFrame, vertices: Option[DataFrame]): EdgeStore =
    new EdgeStore(log.select(edgeCols: _*).unionByName(newRows), vertices, compactionHorizon)

  /** Current edge snapshot: per (graphId, sourceId, destinationId) the row with max
    * (updatedAt, statePriority, position) — reference LWW semantics `Edge.scala:61-68`
    * plus a deterministic position tie-break (the reference resolves exact ties by
    * arrival order, which has no distributed analog; we pin max-position).
    */
  def snapshot: DataFrame = lwwMerge(log)

  /** Time-travel view: the store as it stood at `ts` — both logs truncated to writes
    * with `updated_at <= ts`, so EVERY derived relation (snapshot, metadata,
    * vertexStates, the whole query surface) replays the state the store held at that
    * instant. Sound because the LWW fold is a pure function of the log prefix; the
    * reference cannot offer this (MySQL rows are overwritten in place,
    * `shards/SqlShard.scala:432-524`) — keeping the write LOG as source of truth gets
    * audit/debug/backfill time travel for free.
    *
    * Scale shape: a plain predicate on the log relation, pushed to the parquet scan
    * (row-group min/max on `updated_at` prune files that contain only newer writes —
    * PlanSpec pins PushedFilters), then the identical one-shuffle fold. No extra pass,
    * no snapshot diffing.
    *
    * PRECONDITION (ENFORCED): the store must hold the write log back to `ts`.
    * Compaction ([[EdgeStorage.compact]], `TestGraph.compactedStore`) discards every
    * superseded write, so a compacted store can only answer `asOf` truthfully for
    * `ts` at or after its [[compactionHorizon]] — below it, losers that were live at
    * `ts` are gone and the replay would silently under-report. Such cuts THROW
    * (IllegalArgumentException) instead: this was the one place in the engine where
    * a correct-looking call could yield a wrong answer. Deployments that need deep
    * time travel keep the raw log (cheap: append-only parquet) alongside the
    * compacted snapshot.
    */
  def asOf(ts: Int): EdgeStore = {
    requireAboveHorizon(ts, "asOf")
    new EdgeStore(
      log.filter(col("updated_at") <= ts),
      vertexLog.map(_.filter(col("updated_at") <= ts)),
      compactionHorizon)
  }

  /** Time-travel CHURN DIFF — the audit/backfill companion to [[asOf]]: every edge
    * whose LWW winner differs between the store as of `ts1` and as of `ts2`
    * (`appeared` = no write existed at ts1; `state` = winner's state changed;
    * `position` = same state, position moved). The same newest-wins diff the
    * reference's Copy/repair jobs run between REPLICAS
    * (`jobs/Copy.scala:65-129`), pointed at time instead of space: "what changed
    * since the last backfill cut" is this relation.
    *
    * Scale shape: ONE grouped-max fold over the log prefix `updated_at <= ts2`
    * (pushed to the scan — row-group pruning like [[asOf]]'s, StorageSpec pins it),
    * computing BOTH winners per key in a single ObjectHashAggregate pass: the ts1
    * winner folds the same scan through conditionally-nulled inputs ([[LwwWinner]]
    * skips null rows), so the log is scanned once and shuffled once — never two
    * snapshot folds plus a join. A pure `updated_at` refresh that changes neither
    * state nor position is NOT churn (the winner row is materially identical).
    * The log is append-only, so edges never disappear between cuts.
    */
  def changedBetween(ts1: Int, ts2: Int): DataFrame = {
    require(ts1 <= ts2, s"changedBetween($ts1, $ts2): ts1 must not exceed ts2")
    requireAboveHorizon(ts1, "changedBetween")
    val atTs1 = col("updated_at") <= ts1
    def gated(c: Column): Column = when(atTs1, c)
    val winners = log
      .filter(col("updated_at") <= ts2)
      .groupBy(col("graph_id"), col("source_id"), col("destination_id"))
      .agg(
        org.apache.spark.sql.graft.LwwWinner
          .column(col("position"), col("updated_at"), col("count"), col("state"))
          .as("new"),
        org.apache.spark.sql.graft.LwwWinner
          .column(gated(col("position")), gated(col("updated_at")),
            gated(col("count")), gated(col("state")))
          .as("old"))
    winners
      .filter(col("old").isNull || col("old.state") =!= col("new.state") ||
        col("old.position") =!= col("new.position"))
      .select(
        col("graph_id"), col("source_id"), col("destination_id"),
        col("old.state").as("old_state"), col("old.position").as("old_position"),
        col("new.state").as("new_state"), col("new.position").as("new_position"),
        col("new.updated_at").as("new_updated_at"),
        when(col("old").isNull, lit("appeared"))
          .when(col("old.state") =!= col("new.state"), lit("state"))
          .otherwise(lit("position")).as("change"))
  }

  private def requireAboveHorizon(ts: Int, op: String): Unit =
    compactionHorizon.foreach { h =>
      require(ts >= h,
        s"$op($ts) is below this store's compaction horizon $h: compaction discarded " +
          "superseded writes older than the horizon, so replaying this cut would return " +
          "a state that never existed. Time-travel below the horizon needs the raw " +
          "(uncompacted) write log.")
    }

  private def vertexLogOrEmpty: DataFrame =
    vertexLog.getOrElse(localFrame(spark, Nil, vertexLogSchema))

  /** Current vertex-register snapshot: per (graphId, vertexId, direction) the LWW-max
    * (updatedAt, statePriority) register — the reference's metadata-state register
    * (`Metadata.scala:40-47`, `SqlShard.scala:646-697`), written by wildcard (Multi)
    * ops (`jobs/multi/Multi.scala:101-125`). Vertices without a register are implicitly
    * Normal (`Optimism.scala:69-70`: absent metadata reads as Normal).
    */
  def vertexStates: DataFrame = vertexLww(vertexLogOrEmpty)

  /** Forward per-vertex metadata: [[metadata(isForward:Boolean)* metadata(true)]]. */
  def metadata: DataFrame = metadata(isForward = true)

  /** Per-vertex metadata: vertex state + count of edges in that state — the ONE
    * (state, count) rule of the engine. `get_metadata`, `count2`'s simple-term
    * estimates and incremental maintenance all read it, as the reference answers
    * `get_metadata` and `count2` from the same metadata row (`SqlShard.scala:146-152`,
    * `SimpleQuery.scala:24-27`).
    *
    * State rule (reference semantics): when the vertex has a first-class register
    * (written by a wildcard op / metadata write), the register IS the vertex state —
    * edge writes never change it (`SqlShard.scala:646-697`); the count is then the
    * number of current edges in the register's state (`computeCount`,
    * `SqlShard.scala:208-214`), possibly 0 — a register may exist for a vertex with no
    * edges at all. Vertices without a register fall back to the derived dominant state
    * (LWW-newest edge write projected to the vertex), which is what the reference's
    * lazy `populateMetadata` + repair path converge to.
    *
    * `isForward = false` derives the backward direction: the vertex is the edges'
    * destination and its register the backward one. The vertex is still reported as
    * `source_id`, the way `QueryTerm.sourceId` names a backward term's vertex (the
    * reference keeps the backward direction as graph -graphId with the columns
    * swapped, `ForwardingManager.scala:35-37`).
    */
  def metadata(isForward: Boolean): DataFrame = {
    val derived = snapshot
      .groupBy(col("graph_id"), col(if (isForward) "source_id" else "destination_id").as("source_id"))
      .agg(
        // LwwWinner (not max_by) keeps this in ObjectHashAggregate — see lwwMerge
        org.apache.spark.sql.graft.LwwWinner
          .column(lit(0L), col("updated_at"), lit(0), col("state"))
          .as("m"),
        // counts per state, map-side combined; we pick the vertex state's one below
        sum(when(col("state") === State.Normal, 1L).otherwise(0L)).as("c0"),
        sum(when(col("state") === State.Removed, 1L).otherwise(0L)).as("c1"),
        sum(when(col("state") === State.Archived, 1L).otherwise(0L)).as("c2"),
        sum(when(col("state") === State.Negative, 1L).otherwise(0L)).as("c3")
      )

    def countFor(state: Column): Column =
      when(state === State.Normal, coalesce(col("c0"), lit(0L)))
        .when(state === State.Removed, coalesce(col("c1"), lit(0L)))
        .when(state === State.Archived, coalesce(col("c2"), lit(0L)))
        .otherwise(coalesce(col("c3"), lit(0L)))

    vertexLog match {
      case None =>
        derived.select(
          col("graph_id"),
          col("source_id"),
          col("m.state").as("state"),
          countFor(col("m.state")).as("count"),
          col("m.updated_at").as("updated_at")
        )
      case Some(_) =>
        val reg = vertexStates
          .filter(col("is_forward") === isForward)
          .select(
            col("graph_id"), col("vertex_id").as("source_id"),
            col("state").as("reg_state"), col("updated_at").as("reg_updated_at")
          )
        val vState = coalesce(col("reg_state"), col("m.state"))
        derived
          .join(reg, Seq("graph_id", "source_id"), "full_outer")
          .select(
            col("graph_id"),
            col("source_id"),
            vState.as("state"),
            countFor(vState).as("count"),
            coalesce(col("reg_updated_at"), col("m.updated_at")).as("updated_at")
          )
    }
  }

  /** Graph-pruned view of the store: restrict BOTH logs to one graph before any fold.
    *
    * `graph_id` is a component of every grouping key ([[snapshot]], [[vertexStates]],
    * [[metadata]]) and every join key in the derived relations, so pruning the logs
    * first is semantics-preserving — but NOT plan-equivalent to filtering the derived
    * output: Catalyst's `PushPredicateThroughJoin` never pushes predicates into a
    * full-outer join, so `metadata.filter(graph_id === g)` folds and joins ALL graphs
    * and discards the rest at the top (the reference never pays this: a graph maps to
    * its own forwarding-table shard range, `ForwardingManager.scala:24-38`). Through
    * this view the predicate sits directly over each scan — on graph-partitioned
    * storage ([[EdgeStorage.save]]) that is directory-level partition pruning, the
    * difference between scanning one graph and scanning the store at 100 TB.
    */
  def whereGraph(graphId: Int): EdgeStore =
    new EdgeStore(
      log.filter(col("graph_id") === graphId),
      vertexLog.map(_.filter(col("graph_id") === graphId)),
      compactionHorizon)

  /** The store restricted to the log rows that can reach the given
    * (graph_id, vertex_id, is_forward) keys — the ONE key restriction in front of every
    * point- or batch-scale fold: `get_metadata`, `count2`'s leaf stats, the write path's
    * pre-batch state and [[metadataPatched]]. Forward keys keep the edges they source,
    * backward keys the edges they receive, and registers are kept by key and
    * direction. Every grouping and join key of [[snapshot]], [[vertexStates]] and
    * [[metadata]] contains the vertex on its side, so for the keys (in their own
    * direction) the restricted store derives exactly what the whole store derives;
    * every other derived row is partial and must not be read.
    *
    * [[whereGraph]]'s rationale applies, sharpened to vertices: the restriction sits
    * directly over each log scan, where a filter on the derived output could not reach
    * (metadata's full-outer register join blocks pushdown), so a call folds only its
    * keys' rows instead of the store — the shape of the reference's metadata reads,
    * which route to one shard and read one row per vertex (`ForwardingManager.scala:24-38`,
    * `SqlShard.scala:146-152`). Size rule, shared with query terms' id lists
    * ([[termEdges]]): up to [[EdgeStore.WhereInPredicateMax]] keys per direction an IN
    * predicate per graph,
    * which reaches the parquet scan, above that a broadcast semi-join. An edge kept
    * by both directions appears twice, which every fold absorbs (LWW is idempotent).
    */
  private[graft] def restrictedTo(keys: Seq[(Int, Long, Boolean)]): EdgeStore = {
    // the rows of `df` whose (graph_id, vertexCol) is one of this direction's keys; a
    // million-key IN list would blow up the expression tree, hence the semi-join
    def side(df: DataFrame, isForward: Boolean, vertexCol: String): Option[DataFrame] = {
      val ks = keys.collect { case (g, v, `isForward`) => (g, v) }.distinct
      if (ks.isEmpty) None
      else if (ks.size <= WhereInPredicateMax)
        Some(df.filter(ks.groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (g, vs) => col("graph_id") === g && col(vertexCol).isin(vs.map(_._2): _*) }
          .reduce(_ || _)))
      else {
        val spark = df.sparkSession
        import spark.implicits._
        Some(df.join(broadcast(ks.toDF("graph_id", vertexCol)), Seq("graph_id", vertexCol), "left_semi")
          .select(df.columns.map(col): _*))
      }
    }
    def union(df: DataFrame, sides: Option[DataFrame]*): DataFrame =
      sides.flatten.reduceOption(_ unionByName _).getOrElse(df.limit(0))
    new EdgeStore(
      union(log, side(log, isForward = true, "source_id"),
        side(log, isForward = false, "destination_id")),
      vertexLog.map(v => union(v, side(v.filter(col("is_forward")), isForward = true, "vertex_id"),
        side(v.filter(!col("is_forward")), isForward = false, "vertex_id"))),
      compactionHorizon)
  }

  /** Adjacency relation for one query term, direction-normalized: the result column
    * `neighbor_id` is destination for forward terms, source for backward terms
    * (reference `ForwardingManager.scala:35-37`: backward graph = -graphId table; we swap
    * columns at plan time instead — SURVEY.md §1.4).
    */
  def adjacency(term: QueryTerm): DataFrame =
    termEdges(term).select(
      col(if (term.isForward) "destination_id" else "source_id").as("neighbor_id"),
      col("position"),
      col("updated_at"),
      col("state")
    )

  /** The snapshot rows one query term reads: the edges on the term's side of its
    * vertex, in its effective states, and among its destination ids when it has them.
    * The ids are the far endpoints, so they restrict the log as keys of the opposite
    * direction ([[restrictedTo]]'s size rule; the reference routes big IN-lists to a
    * separate query class, `SqlShard.scala:323-349`).
    */
  private[graft] def termEdges(term: QueryTerm): DataFrame = {
    val vertexCol = if (term.isForward) "source_id" else "destination_id"
    term.destinationIds.fold(this)(ids => restrictedTo(ids.map((term.graphId, _, !term.isForward))))
      .snapshot
      .filter(col("graph_id") === term.graphId && col(vertexCol) === term.sourceId)
      .filter(col("state").isin(term.effectiveStates: _*))
  }

  /** Point lookup (reference `Shard.get`, `SqlShard.scala:133-137`). */
  def get(graphId: Int, sourceId: Long, destinationId: Long): Option[Edge] = {
    val spark = log.sparkSession
    import spark.implicits._
    snapshot
      .filter(
        col("graph_id") === graphId && col("source_id") === sourceId &&
          col("destination_id") === destinationId
      )
      .select(
        col("graph_id").as("graphId"),
        col("source_id").as("sourceId"),
        col("destination_id").as("destinationId"),
        col("position"),
        col("updated_at").as("updatedAt"),
        col("count"),
        col("state")
      )
      .as[Edge]
      .collect()
      .headOption
  }

  /** `contains` semantics: edge exists iff its current state ∈ {Normal, Negative}
    * (reference `EdgesService.scala:51-60`).
    */
  def contains(graphId: Int, sourceId: Long, destinationId: Long): Boolean =
    get(graphId, sourceId, destinationId).exists(e => e.state == State.Normal || e.state == State.Negative)

  /** Apply a batch of write ops (the reference's async `execute` pipeline, applied
    * set-based). Op columns: graph_id, source_id, destination_id (null = wildcard),
    * state (preferred state), updated_at, position (nullable), and optionally
    * is_forward (absent = all forward).
    *
    * Pipeline (mirrors `ExecuteCompiler` → `Multi`/`Single`):
    *  1. Wildcard ops first write the vertex's state REGISTER
    *     (`jobs/multi/Multi.scala:101-109` updates metadata before fanning out), then
    *     expand against the current snapshot: every non-Removed edge on the op's side
    *     of the vertex gets a per-edge write (`selectIncludingArchived` semantics,
    *     `SqlShard.scala:246-250`).
    *  2. Single-edge ops are direction-normalized: backward terms swap (source, dest)
    *     (`queries/ExecuteCompiler.scala:86-99`).
    *  3. Every per-edge write resolves its EFFECTIVE state as
    *     `max(forwardVertexState, backwardVertexState, preferredState)` by state
    *     priority — vertex archival/negation dominates the edge write
    *     (`jobs/single/Single.scala:104-107`; truth table `unit/JobSpec.scala:126-148`).
    *     Registers written by this same batch are visible to the batch's edge writes
    *     (the reference applies Multi metadata writes before its fanned-out Singles;
    *     for cross-op races the LWW register itself is the deterministic tiebreak).
    *  4. Position rule (reference `SqlShard.scala:436-446`, spec
    *     `unit/SqlShardSpec.scala:332-377`): an existing edge keeps its position UNLESS
    *     it is resurrected from Removed/Negative into effective-Normal, in which case
    *     the op's position (or one derived from the op timestamp) applies.
    *
    * Batch-atomicity makes the reference's optimistic per-vertex lock unnecessary
    * (SURVEY.md §2.8 W5). The "lost lock" rows of the JobSpec matrix are therefore
    * unrepresentable here by design.
    *
    * Scale shape — the write path touches only batch-scale data, like the reference's
    * per-key upserts (`SqlShard.scala:432-524`), never the whole store:
    *  - The batch is materialized once (eager local checkpoint, skipped for a batch
    *    built on the driver, such as `FlockService.execute`'s; callers routinely derive
    *    ops from a snapshot query, which would otherwise re-fold per consumer). One
    *    collect, limited to [[EdgeStore.DeltaMax]] + 1 rows, then decides the path.
    *  - The pre-batch state the pipeline joins against is the LWW fold of the edge log
    *    [[restrictedTo]] the batch's keys (single-edge ops: the direction-normalized
    *    source; wildcard ops: the vertex on the op's side) — at 100 TB with
    *    vertex-partitioned storage this is partition pruning, not a full scan, and the
    *    fold collapses only the touched keys' rows. The vertex log is not restricted:
    *    domination reads the register of each written edge's OTHER endpoint, which is
    *    not a batch key.
    *  - A batch that came back whole has its keys and register writes read on the
    *    driver and runs on as a local relation; its edge rows are collected once and
    *    appended to the delta, its registers likewise (the delta is flushed first when
    *    the batch's ops alone pass its room). The next version's log is still
    *    `base ∪ segment ∪ delta`, so reads and later writes never re-run this batch's
    *    joins. A 10-row execute() writes ~10 rows, not the store.
    *  - A batch bigger than the delta (or a wildcard fanning out past its room) has its
    *    keys collected distinct, and its rows are appended to the log lazily as a new
    *    chain: nothing folded, every cut still answerable, and the versions after it
    *    re-run that one batch's batch-scale joins (materializing them made a 6000-op
    *    execute 1.8x slower on a 4-core host, about what its next three reads saved).
    *  - Batches with more than `incrementalMax` distinct keys (default
    *    [[EdgeStore.IncrementalBatchMax]]; `-1` forces it) take the compacting form:
    *    fold the full log once, return `snapshot ∪ newRows` as a new chain with the
    *    compaction horizon raised over what the fold discarded (sound because lww is
    *    idempotent: lww(lww(L) ∪ R) = lww(L ∪ R)) — a bulk migration touching most keys
    *    rewrites the store anyway, and its key set would not fit on the driver.
    */
  def applyOperations(ops: DataFrame, incrementalMax: Long = IncrementalBatchMax): EdgeStore =
    applyOperationsWithDelta(ops, incrementalMax)._1

  /** [[applyOperations]] additionally returning the touched-vertex key set — the
    * distinct (graph_id, source_id) of every written edge row plus every register
    * write's vertex. This is exactly the set whose metadata rows can have changed,
    * i.e. the input [[metadataPatched]] needs for incremental maintenance (backward
    * wildcards touch SOURCES of affected edges, which only the write delta knows).
    */
  def applyOperationsWithDelta(
      ops: DataFrame,
      incrementalMax: Long = IncrementalBatchMax
  ): (EdgeStore, DataFrame) = {
    val batch = materialized(conformed(withDirection(ops), opSchema))
    val opRows = batch.limit(DeltaMax + 1).collect()
    val whole = opRows.length <= DeltaMax
    // a batch bigger than the delta has its keys collected distinct, at most one more
    // than incrementalMax
    lazy val keys =
      if (whole) opRows.toSeq.map(writeKey).distinct
      else batch.map(writeKey)(keyEncoder).distinct()
        .limit(math.min(incrementalMax, Int.MaxValue - 1L).toInt + 1).collect().toSeq
    if (opRows.isEmpty) (this, localFrame(spark, Nil, touchedSchema))
    else if (keys.size > incrementalMax) compacting(batch)
    else if (!whole) keyed(batch, keys)
    else (if (opRows.length > room) flushed else this).incremental(opRows, keys)
  }

  /** The incremental path over a batch already on the driver (`opSchema` rows) whose
    * ops fit the delta's room.
    */
  private def incremental(opRows: Array[Row], keys: Seq[(Int, Long, Boolean)]): (EdgeStore, DataFrame) = {
    val batch = localFrame(spark, opRows, opSchema)
    // 1. vertex-register writes from wildcard ops, visible to this batch's edge writes
    val newRegisters = opRows.filter(_.isNullAt(2))
      .map(r => Row(r.getInt(0), r.getLong(1), r.getBoolean(6), r.getInt(3), r.getInt(4))).toSeq
    val next = appended(Nil, newRegisters)
    // three joins consume the pre-batch state with differing pushed projections
    // (defeating exchange reuse) — materialize it once; it is batch-scale
    val snap = lwwMerge(restrictedTo(keys).log).localCheckpoint(true)
    val newRows = writeRows(batch, snap, next.vertexLogOrEmpty)
    val rows = conformed(newRows, edgeLogSchema).limit(next.room + 1).collect()
    if (rows.length > next.room) // a wildcard fanned out past the room
      (next.extended(newRows, next.vertexLog),
        touchedOf(newRows, localFrame(spark, newRegisters, vertexLogSchema)))
    else {
      val touched = (rows.toSeq ++ newRegisters).map(r => Row(r.getInt(0), r.getLong(1))).distinct
      (next.appended(rows.toSeq, Nil), localFrame(spark, touched, touchedSchema))
    }
  }

  /** A batch bigger than the delta: key-restricted fold, its rows and registers
    * appended lazily as a new chain.
    */
  private def keyed(batch: DataFrame, keys: Seq[(Int, Long, Boolean)]): (EdgeStore, DataFrame) = {
    val newRegisters = registersOf(batch)
    val vertices = vertexLogOrEmpty.unionByName(newRegisters)
    val snap = lwwMerge(restrictedTo(keys).log).localCheckpoint(true)
    val newRows = writeRows(batch, snap, vertices)
    (extended(newRows, Some(vertices)), touchedOf(newRows, newRegisters))
  }

  /** The compacting form, for a batch whose key set is too big for the driver: the
    * whole log folded once into a materialized pre-batch state, and the batch's rows
    * appended to it lazily, a new chain. The fold discards superseded writes, so the
    * horizon rises over them as [[EdgeStorage.compact]]'s does: the newest write of a
    * key that had more than one, counted in the fold's own aggregation.
    */
  private def compacting(batch: DataFrame): (EdgeStore, DataFrame) = {
    val newRegisters = registersOf(batch)
    val vertices = vertexLogOrEmpty.unionByName(newRegisters)
    val folded = lwwFold(log, "writes" -> count(lit(1))).localCheckpoint(true)
    val h = folded.filter(col("writes") > 1L).agg(max(col("updated_at"))).collect()(0)
    val horizon = (compactionHorizon.toSeq ++ Option.unless(h.isNullAt(0))(h.getInt(0)))
      .reduceOption(_ max _)
    val snap = folded.select(edgeCols: _*)
    val newRows = writeRows(batch, snap, vertices)
    (new EdgeStore(snap.unionByName(newRows), Some(vertices), horizon), touchedOf(newRows, newRegisters))
  }

  /** A batch's vertex-register writes: one per wildcard op. */
  private def registersOf(batch: DataFrame): DataFrame =
    batch.filter(col("destination_id").isNull).select(
      col("graph_id"), col("source_id").as("vertex_id"), col("is_forward"),
      col("state"), col("updated_at"))

  /** The touched-vertex keys of edge rows and register writes, as a lazy relation. */
  private def touchedOf(newRows: DataFrame, newRegisters: DataFrame): DataFrame =
    newRows.select(col("graph_id"), col("source_id"))
      .unionByName(newRegisters.select(col("graph_id"), col("vertex_id").as("source_id")))
      .distinct()

  /** Incremental metadata maintenance — the batch restatement of the reference's A2
    * count-delta path (`SqlShard.scala:470-524`): given the PRE-write metadata table
    * and the touched-vertex keys from [[applyOperationsWithDelta]], recompute metadata
    * ONLY for those vertices (the store [[restrictedTo]] them) and keep every other row
    * of `prev` as-is. At 100 TB a 10-row `execute()` re-aggregates ~10 vertices'
    * adjacency, not the store. Equivalent to a full [[metadata]] recompute by
    * construction (pinned by LwwSpec and the g26 oracle).
    */
  def metadataPatched(prev: DataFrame, touched: DataFrame): DataFrame = {
    val keys = touched.select(col("graph_id"), col("source_id")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).distinct.toSeq
    val spark = log.sparkSession
    import spark.implicits._
    prev.join(broadcast(keys.toDF("graph_id", "source_id")), Seq("graph_id", "source_id"), "left_anti")
      .unionByName(restrictedTo(keys.map { case (g, v) => (g, v, true) }).metadata)
  }

  private def withDirection(ops: DataFrame): DataFrame =
    if (ops.columns.contains("is_forward")) ops else ops.withColumn("is_forward", lit(true))

  /** Steps 1b–4 of the write pipeline: per-edge writes from the batch against the given
    * pre-batch state `snap`, vertex-state dominated and position-resolved.
    */
  private def writeRows(withDir: DataFrame, snap: DataFrame, mergedVertexLog: DataFrame): DataFrame = {
    val wild    = withDir.filter(col("destination_id").isNull)
    val singles = withDir.filter(col("destination_id").isNotNull)

    // wildcard expansion: the op's side of the vertex, skipping Removed edges
    val notRemoved = snap.filter(col("state") =!= State.Removed)
    def expand(isFwd: Boolean): DataFrame = {
      val vcol = if (isFwd) "source_id" else "destination_id"
      wild
        .filter(if (isFwd) col("is_forward") else !col("is_forward"))
        .select(
          col("graph_id"), col("source_id").as(vcol),
          col("state").as("op_state"), col("updated_at").as("op_updated_at")
        )
        .join(notRemoved.select(col("graph_id"), col("source_id"), col("destination_id")),
          Seq("graph_id", vcol))
        .select(
          col("graph_id"), col("source_id"), col("destination_id"),
          col("op_state").as("state"), col("op_updated_at").as("updated_at"),
          lit(null).cast("long").as("position")
        )
    }

    // 2. direction normalization for single-edge ops
    val normSingles = singles.select(
      col("graph_id"),
      when(col("is_forward"), col("source_id")).otherwise(col("destination_id")).as("source_id"),
      when(col("is_forward"), col("destination_id")).otherwise(col("source_id")).as("destination_id"),
      col("state"), col("updated_at"), col("position").cast("long").as("position")
    )

    val perEdge = normSingles.unionByName(expand(isFwd = true)).unionByName(expand(isFwd = false))

    // 3. vertex-state domination
    val vs = vertexLww(mergedVertexLog)
    val fwdReg = vs.filter(col("is_forward"))
      .select(col("graph_id"), col("vertex_id").as("source_id"), col("state").as("fwd_state"))
    val bwdReg = vs.filter(!col("is_forward"))
      .select(col("graph_id"), col("vertex_id").as("destination_id"), col("state").as("bwd_state"))

    val f = coalesce(col("fwd_state"), lit(State.Normal))
    val b = coalesce(col("bwd_state"), lit(State.Normal))
    val o = col("state")
    val (pf, pb, po) = (State.priorityCol(f), State.priorityCol(b), State.priorityCol(o))
    val effState =
      when(pf >= pb && pf >= po, f).when(pb >= po, b).otherwise(o)

    val dominated = perEdge
      .join(fwdReg, Seq("graph_id", "source_id"), "left")
      .join(bwdReg, Seq("graph_id", "destination_id"), "left")
      .select(
        col("graph_id"), col("source_id"), col("destination_id"),
        effState.as("state"), col("updated_at"), col("position")
      )

    // 4. position rule against the pre-batch snapshot
    val resurrected =
      col("old_state").isin(State.Removed, State.Negative) && col("op.state") === State.Normal
    val opPosition =
      coalesce(col("op.position"), graft.functions.GraftFunctions.positionFromUpdatedAt(col("op.updated_at")))
    val newRows = dominated
      .alias("op")
      .join(
        snap.select(
          col("graph_id"), col("source_id"), col("destination_id"),
          col("position").as("old_position"), col("state").as("old_state")
        ).alias("cur"),
        Seq("graph_id", "source_id", "destination_id"),
        "left"
      )
      .select(
        col("graph_id"),
        col("source_id"),
        col("destination_id"),
        when(col("old_position").isNull || resurrected, opPosition)
          .otherwise(col("old_position"))
          .as("position"),
        col("op.updated_at").as("updated_at"),
        lit(0).as("count"),
        col("op.state").as("state")
      )
    newRows
  }

  /** S12 — direct metadata sink (reference `writeMetadata`/`writeMetadatas`,
    * `SqlShard.scala:646-697`): append vertex-register writes WITHOUT edge fanout —
    * the path copy/repair uses to move vertex state between replicas (the Multi job's
    * register-plus-fanout is the wildcard branch of [[applyOperations]]). Columns:
    * graph_id, vertex_id, is_forward, state, updated_at. The registers join the
    * driver-held delta like an execute batch's while they fit in its room, and are
    * appended lazily as a new chain otherwise.
    */
  def writeVertexStates(registers: DataFrame): EdgeStore = {
    val regs = conformed(registers, vertexLogSchema)
    val rows = regs.limit(room + 1).collect()
    if (rows.length <= room) appended(Nil, rows.toSeq)
    else new EdgeStore(log, Some(vertexLogOrEmpty.unionByName(regs)), compactionHorizon)
  }

  /** Reciprocal edges: every edge (s, d) in the given states whose reverse (d, s) also
    * exists in those states. Computed as ONE grouped aggregation on the unordered pair
    * key (graphId, min(s,d), max(s,d)) instead of a self-join — the snapshot is scanned
    * once, and the second shuffle moves only deduped edges (at 100 TB the self-join
    * formulation computes the LWW snapshot twice and shuffles it twice).
    */
  def reciprocal(states: Seq[Int] = Seq(State.Normal)): DataFrame = {
    val src = col("source_id")
    val dst = col("destination_id")
    val grouped = snapshot
      .filter(col("state").isin(states: _*))
      .select(
        col("graph_id"),
        least(src, dst).as("lo"),
        greatest(src, dst).as("hi"),
        (src <= dst).as("fwd"),
        (src >= dst).as("bwd")
      )
      .groupBy(col("graph_id"), col("lo"), col("hi"))
      .agg(max(col("fwd")).as("has_fwd"), max(col("bwd")).as("has_bwd"))
      .filter(col("has_fwd") && col("has_bwd"))
    grouped
      .select(
        col("graph_id"),
        explode(
          when(
            col("lo") === col("hi"),
            array(struct(col("lo").as("s"), col("hi").as("d")))
          ).otherwise(
            array(
              struct(col("lo").as("s"), col("hi").as("d")),
              struct(col("hi").as("s"), col("lo").as("d"))
            )
          )
        ).as("p")
      )
      .select(col("graph_id"), col("p.s").as("source_id"), col("p.d").as("destination_id"))
  }

  /** Replica repair (reference `jobs/Copy.scala:65-214`): the reference runs a k-way
    * cursor-paged merge between replicas, newest-wins. In Spark the whole repair is one
    * LWW merge over the union of both logs (edges AND vertex registers) — no paging
    * loop, no per-row RPCs.
    */
  def repairWith(other: EdgeStore): EdgeStore = {
    val mergedVertex = (vertexLog, other.vertexLog) match {
      case (None, None) => None
      case _            => Some(vertexLogOrEmpty.unionByName(other.vertexLogOrEmpty))
    }
    // the union still lacks whatever either side's compaction discarded: the merged
    // store's oldest truthful cut is the NEWEST of the two horizons
    val mergedHorizon =
      (compactionHorizon.toSeq ++ other.compactionHorizon.toSeq).reduceOption(_ max _)
    new EdgeStore(
      log.select(edgeCols: _*).unionByName(other.log.select(edgeCols: _*)),
      mergedVertex, mergedHorizon)
  }
}

object EdgeStore {

  /** Where-in lists longer than this become broadcast semi-joins instead of IN
    * predicates (reference analog: IN-list size routes to different query classes,
    * `SqlShard.scala:323-349`).
    */
  val WhereInPredicateMax: Int = 1000

  /** Largest number of distinct keys an op batch may have to take the key-restricted
    * write path; bigger batches fall back to the compacting full-fold form. ~1M
    * distinct touched keys is a ~12 MB broadcast — comfortably inside executor
    * broadcast budgets.
    */
  val IncrementalBatchMax: Long = 1000000L

  /** Most rows (edge and register writes together) a version holds on the driver as its
    * delta; a write that would pass it flushes the delta into the segment first.
    * Planning a read grows with the delta (Catalyst evaluates pushed filters over the
    * local rows): on a 4-core host a point read over a 100k-row parquet base planned in
    * 32 ms with no delta, 33 ms at 1k rows, 44 ms at 10k and 97 ms at 50k. 5000 rows
    * keeps a full delta within 1.25x of the empty one's plan time and ~0.5 MB of driver
    * heap; a flush is one checkpoint job over the rows written since the base.
    */
  private[graft] val DeltaMax: Int = 5000

  /** The edge log's columns and types, as a write batch's rows are held in the delta. */
  private val edgeLogSchema: StructType = StructType(Seq(
    StructField("graph_id", IntegerType), StructField("source_id", LongType),
    StructField("destination_id", LongType), StructField("position", LongType),
    StructField("updated_at", IntegerType), StructField("count", IntegerType),
    StructField("state", IntegerType)))

  val edgeColNames: Seq[String] = edgeLogSchema.fieldNames.toSeq
  def edgeCols: Seq[Column] = edgeColNames.map(col)

  /** Vertex-register log schema: one row per register write (reference `Metadata.scala:29`
    * minus the count, which we derive).
    */
  val vertexLogSchema: StructType = StructType(Seq(
    StructField("graph_id", IntegerType, nullable = false),
    StructField("vertex_id", LongType, nullable = false),
    StructField("is_forward", BooleanType, nullable = false),
    StructField("state", IntegerType, nullable = false),
    StructField("updated_at", IntegerType, nullable = false)
  ))

  /** A write batch's columns and types on the driver (`destination_id` null = wildcard). */
  private val opSchema: StructType = StructType(Seq(
    StructField("graph_id", IntegerType), StructField("source_id", LongType),
    StructField("destination_id", LongType), StructField("state", IntegerType),
    StructField("updated_at", IntegerType), StructField("position", LongType),
    StructField("is_forward", BooleanType)))

  private val touchedSchema: StructType =
    StructType(Seq(StructField("graph_id", IntegerType), StructField("source_id", LongType)))

  /** `df`'s columns named by `schema`, in its order and cast to its types. */
  private def conformed(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType)): _*)

  /** The edge-log key a write op's pipeline reads: a single-edge op's
    * direction-normalized source (forward), a wildcard op's vertex on the op's side.
    */
  private val writeKey: Row => (Int, Long, Boolean) = { r =>
    val single = !r.isNullAt(2)
    (r.getInt(0), r.getLong(if (single && !r.getBoolean(6)) 2 else 1), single || r.getBoolean(6))
  }

  private val keyEncoder: Encoder[(Int, Long, Boolean)] =
    Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong, Encoders.scalaBoolean)

  /** `df` materialized once: as it is when its plan is already rows on the driver,
    * eagerly local-checkpointed otherwise.
    */
  private def materialized(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) df else df.localCheckpoint(true)

  /** Driver rows as a local relation: planned and filtered on the driver, no stale
    * constraints from an earlier plan, and it takes `updated_at` cuts like any log.
    */
  private def localFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  def apply(log: DataFrame): EdgeStore = new EdgeStore(log)

  def fromEdges(spark: SparkSession, edges: Seq[Edge]): EdgeStore = {
    import spark.implicits._
    new EdgeStore(
      edges.toDF("graphId", "sourceId", "destinationId", "position", "updatedAt", "count", "state")
        .toDF(edgeColNames: _*)
    )
  }

  /** The LWW merge: one hash aggregation, winner = max (updatedAt, statePriority, position).
    *
    * Implemented with the custom `LwwWinner` TypedImperativeAggregate rather than
    * `max_by(struct(allCols), struct(orderingKey))`: the built-in's struct aggregation
    * buffer disqualifies HashAggregateExec, so Catalyst silently plans a SortAggregate
    * that sorts EVERY partition of the write log by the edge key. LwwWinner runs in
    * ObjectHashAggregateExec — hash-based, partial (map-side) aggregation, no sort —
    * verified identical output, and the plan shape a 100 TB log fold needs
    * (PlanSpec pins it).
    */
  def lwwMerge(writes: DataFrame): DataFrame = lwwFold(writes)

  /** [[lwwMerge]] with `extra` named per-key aggregates in the same aggregation,
    * appended as columns after the winner's.
    */
  private def lwwFold(writes: DataFrame, extra: (String, Column)*): DataFrame =
    writes
      .groupBy(col("graph_id"), col("source_id"), col("destination_id"))
      .agg(
        org.apache.spark.sql.graft.LwwWinner
          .column(col("position"), col("updated_at"), col("count"), col("state"))
          .as("w"),
        extra.map { case (name, agg) => agg.as(name) }: _*
      )
      .select(
        Seq(
          col("graph_id"),
          col("source_id"),
          col("destination_id"),
          col("w.position").as("position"),
          col("w.updated_at").as("updated_at"),
          col("w.count").as("count"),
          col("w.state").as("state")
        ) ++ extra.map(e => col(e._1)): _*
      )

  /** LWW over the vertex-register log: winner = max (updatedAt, statePriority) — identical
    * ordering to `Metadata.compare` (`Metadata.scala:40-47`). Same ObjectHashAggregate
    * shape as [[lwwMerge]] (position/count pinned to 0 — a full ordering tie implies an
    * identical register, so the result is order-independent).
    */
  private[store] def vertexLww(vertexLog: DataFrame): DataFrame =
    vertexLog
      .groupBy(col("graph_id"), col("vertex_id"), col("is_forward"))
      .agg(
        org.apache.spark.sql.graft.LwwWinner
          .column(lit(0L), col("updated_at"), lit(0), col("state"))
          .as("w")
      )
      .select(
        col("graph_id"), col("vertex_id"), col("is_forward"),
        col("w.state").as("state"), col("w.updated_at").as("updated_at")
      )
}
