package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.store.EdgeStore

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {

  /** Eager localCheckpoints accumulate storage blocks across the 50+ suites
    * sharing this JVM; under that pressure Spark evicts the caches a later
    * suite's plan pins deliberately (seen as a PlanSpec InMemoryTableScan
    * flake). Each suite drops its blocks on exit — suites are self-contained,
    * so nothing relies on another suite's cached state.
    */
  override protected def afterAll(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    super.afterAll()
  }
  /** The production session ([[GraftSession.builder]]) at 4 cores, plus a test app
    * name and a throwaway warehouse dir.
    */
  lazy val spark: SparkSession = GraftSession.builder(4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir", s"/tmp/graft-test-warehouse-${java.util.UUID.randomUUID()}")
    .getOrCreate()

  /** Test-side mirror of the md5-prefix register hash (Sketches.h32: first 4
    * md5 bytes as an unsigned 32-bit value). ONE shared mirror — a recipe
    * change in src/main must be reflected here exactly once.
    */
  def md5h32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
  }

  /** Test-side mirror of the md5 feature-slot hash (TextStats.slotOf / the
    * drift bucket recipe: first 15 md5 hex chars mod `buckets`).
    */
  def md5Slot(s: String, buckets: Long): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16) % buckets
  }

  /** Actors from the reference specs (`unit/SqlShardSpec.scala:32-37`). */
  val (alice, bob, carl, darcy, earl, frank) = (1L, 2L, 3L, 4L, 5L, 6L)
  val FOLLOWS = 1

  def edge(
      src: Long, dst: Long, pos: Long,
      at: Int = 100, state: Int = State.Normal, graph: Int = FOLLOWS
  ): Edge = Edge(graph, src, dst, pos, at, 0, state)

  def storeOf(edges: Edge*): EdgeStore = EdgeStore.fromEdges(spark, edges)

  def opsDF(ops: (Long, Long, Int, Int, Option[Long])*): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    ops.toSeq
      .toDF("source_id", "destination_id", "state", "updated_at", "position")
      .select(
        lit(FOLLOWS).as("graph_id"), col("source_id"), col("destination_id"),
        col("state"), col("updated_at"), col("position")
      )
  }

  /** Branches the unions of a log's logical plan hold (1 = no union), counted the way
    * the benchmark's store-shape metric counts them.
    */
  def logBranches(log: DataFrame): Int =
    math.max(1, log.queryExecution.logical.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union =>
        u.children.count(!_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union])
    }.sum)

  def snapshotOf(store: EdgeStore): Map[(Long, Long), Edge] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    store.snapshot
      .select(
        col("graph_id").as("graphId"), col("source_id").as("sourceId"),
        col("destination_id").as("destinationId"), col("position"),
        col("updated_at").as("updatedAt"), col("count"), col("state")
      )
      .as[Edge].collect().map(e => (e.sourceId, e.destinationId) -> e).toMap
  }
}
