package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.model._
import graft.store.EdgeStore
import graft.streaming.StreamingEdgeIngest

/** Top-level so Spark can derive an encoder (inner-class case classes can't). */
case class OpRow(
    graph_id: Int, source_id: Long, destination_id: Option[Long],
    state: Int, updated_at: Int, position: Option[Long], is_forward: Boolean)

/** The async write pipeline as Structured Streaming (reference W1-W4): micro-batches of
  * writes fold into the store via the LWW merge; replays and out-of-order arrivals
  * converge without watermarks (`doc/blog.md:67-75`).
  */
class StreamingSpec extends SparkSpec {

  test("streamed writes fold into the store; late data resolves by LWW, not arrival order") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stream = MemoryStream[Edge]
    val ingest = new StreamingEdgeIngest(storeOf(), compactEvery = 2)
    val query = ingest.writer(stream.toDS().toDF(EdgeStore.edgeColNames: _*)).start()

    try {
      // batch 1: adds
      stream.addData(
        edge(alice, bob, pos = 1, at = 100, state = State.Normal),
        edge(alice, carl, pos = 2, at = 100, state = State.Normal)
      )
      query.processAllAvailable()
      assert(snapshotOf(ingest.current).keySet == Set((alice, bob), (alice, carl)))

      // batch 2: a newer remove AND an out-of-order older write for the same edge
      stream.addData(
        edge(alice, bob, pos = 1, at = 120, state = State.Removed),
        edge(alice, bob, pos = 1, at = 110, state = State.Normal) // late data, must lose
      )
      query.processAllAvailable()
      val afterRemove = snapshotOf(ingest.current)
      assert(afterRemove((alice, bob)).state == State.Removed)
      assert(afterRemove((alice, bob)).updatedAt == 120)
      assert(afterRemove((alice, carl)).state == State.Normal)

      // batch 3: replay of batch 2 (at-least-once delivery) is a no-op
      stream.addData(edge(alice, bob, pos = 1, at = 120, state = State.Removed))
      query.processAllAvailable()
      assert(snapshotOf(ingest.current) == afterRemove)
    } finally query.stop()
  }

  test("streamed write OPERATIONS run full execute semantics incl. vertex domination") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stream = MemoryStream[OpRow]
    val ingest = new StreamingEdgeIngest(storeOf(edge(alice, bob, pos = 1, at = 50)))
    val query = ingest.startOps(stream.toDS().toDF())

    try {
      // batch 1: wildcard archive of alice -> register written, existing edge archived
      stream.addData(OpRow(FOLLOWS, alice, None, State.Archived, 100, None, is_forward = true))
      query.processAllAvailable()
      val s1 = snapshotOf(ingest.current)
      assert(s1((alice, bob)).state == State.Archived)

      // batch 2: a later add from alice is DOMINATED by her archived register
      stream.addData(OpRow(FOLLOWS, alice, Some(carl), State.Normal, 150, None, is_forward = true))
      query.processAllAvailable()
      val s2 = snapshotOf(ingest.current)
      assert(s2((alice, carl)).state == State.Archived, "register dominates streamed add")

      // batch 3: backward single normalizes (source, destination)
      stream.addData(OpRow(FOLLOWS, darcy, Some(earl), State.Normal, 200, None, is_forward = false))
      query.processAllAvailable()
      val s3 = snapshotOf(ingest.current)
      assert(s3.contains((earl, darcy)) && !s3.contains((darcy, earl)))
      // three micro-batches later both logs are still one base plus one delta
      assert(logBranches(ingest.current.log) == 2)
      assert(ingest.current.vertexLog.exists(logBranches(_) <= 2))
    } finally query.stop()
  }
}
