package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistence layout for edge stores at cluster scale.
  *
  * The reference shards edges by (graphId, sourceId-hash-range) across MySQL hosts with
  * a forwarding table (`ForwardingManager.scala:24-38`, `doc/blog.md:84-93`). The Spark
  * equivalent is directory partitioning + in-file ordering:
  *
  *   - `partitionBy(graph_id)` → partition pruning: a query on one graph never lists the
  *     others' files (the reference's per-graph tables).
  *   - `repartition(source_id)` + `sortWithinPartitions(source_id, state, position)` →
  *     each file covers a hash-bucket of vertices, laid out in the PK order of the
  *     reference's index `(source_id, state, position)` (`SqlShard.scala:56-68`): an
  *     adjacency scan touches one bucket and reads rows min/max-pruned by the sort —
  *     parquet row-group stats on source_id become the "index".
  *
  * At 100 TB: ~`buckets` files per graph, each internally sorted; adjacency queries
  * prune to 1 partition dir × few row groups; the LWW snapshot shuffle hashes on the
  * same key the layout is bucketed by.
  */
object EdgeStorage {

  /** Write a snapshot (or log) with the scale layout. `buckets` ≈ cluster write
    * parallelism; at 100 TB choose so each file is 128-512 MB.
    */
  def save(df: DataFrame, path: String, buckets: Int = 32): Unit =
    df.repartition(buckets, col("source_id"))
      // graph_id leads: the partitioned writer needs each task's rows sorted by it, and
      // an in-partition sort that does not start with it is replaced by a graph_id-only
      // sort, losing the source_id order the row-group stats prune on
      .sortWithinPartitions(col("graph_id"), col("source_id"), col("state"), col("position"))
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy("graph_id")
      .parquet(path)

  /** Reload. Filters on graph_id prune directories; filters on source_id prune row
    * groups via parquet min/max stats (verify with `.explain`: PushedFilters).
    * A horizon sidecar written by [[compact]] (underscore-prefixed, so the parquet
    * reader ignores it) marks the store compacted: `asOf` below it throws instead of
    * replaying a state that never existed.
    */
  def load(spark: SparkSession, path: String): EdgeStore = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    new EdgeStore(spark.read.parquet(path), None, readHorizon(fs, dir))
  }

  /** Bucketed-table variant of [[save]]: `bucketBy(source_id)` + in-bucket sort,
    * registered in the catalog. Where [[save]] gives row-group pruning, a bucketed
    * table additionally gives Spark a PROVABLE `HashPartitioning(source_id)` at scan
    * time, so every operation that clusters on the vertex — the LWW snapshot fold
    * (grouping contains source_id), merge/copy joins between two stores bucketed the
    * same way, adjacency groupBys — plans with NO shuffle at all: at 100 TB the
    * store's dominant recurring cost (re-shuffling the log on every fold) is paid
    * once at write time and amortized over every subsequent read. This is the Spark
    * equivalent of the reference keeping each shard pre-ordered by its
    * `(source_id, state, position)` index (`SqlShard.scala:56-68`).
    */
  def saveTable(df: DataFrame, table: String, buckets: Int = 32): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, "source_id")
      .sortBy("source_id", "state", "position")
      .saveAsTable(table)

  /** Reload a [[saveTable]] store; folds/joins keyed on source_id are shuffle-free. */
  def loadTable(spark: SparkSession, table: String): EdgeStore =
    EdgeStore(spark.table(table))

  /** S10 — bulk unsafe insert (reference `bulkUnsafeInsertEdges`,
    * `SqlShard.scala:402-417`): append without conflict handling; the next LWW snapshot
    * resolves duplicates.
    */
  def appendUnsafe(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).partitionBy("graph_id").parquet(path)

  /** Maintenance compaction: fold the accumulated log (base + unsafe appends) into its
    * LWW snapshot and rewrite the layout — the job that keeps on-disk size bounded by
    * |edges| instead of |writes| at scale. Writes to a scratch path first, then swaps,
    * so a crash mid-compaction never leaves the store truncated (the scratch dir is
    * simply re-written next run).
    *
    * The COMPACTION HORIZON — the newest `updated_at` among edge keys whose
    * superseded writes this fold discards, combined (max) with any horizon a prior
    * compaction persisted — is written into the scratch dir BEFORE the swap, so it
    * rides the rename atomically: a reloaded store can never look compacted without
    * its horizon. [[EdgeStore.asOf]] rejects cuts below it (single-write keys lose
    * nothing to compaction, so a log with no collisions stays fully travelable).
    */
  def compact(spark: SparkSession, path: String, buckets: Int = 32): Unit = {
    val scratch = path + "_compacting"
    val st = load(spark, path)
    val horizon = (st.compactionHorizon.toSeq ++ horizonOf(st.log).toSeq).reduceOption(_ max _)
    save(st.snapshot, scratch, buckets)
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val scratchPath = new org.apache.hadoop.fs.Path(scratch)
    horizon.foreach(writeHorizon(fs, scratchPath, _))
    fs.delete(hadoopPath, true)
    fs.rename(scratchPath, hadoopPath)
  }

  /** The oldest-truthful-cut bound this log's compaction imposes: max `updated_at`
    * over edge keys holding more than one write (the winner's timestamp — any cut
    * below it falls between a discarded loser and its winner for SOME key, and keys
    * with a single write are unaffected by compaction). `None` when no key has
    * collisions: the fold discards nothing. One map-side-combinable hash aggregation
    * over the log (count + max per key), same shuffle key as the fold itself.
    */
  private[store] def horizonOf(log: DataFrame): Option[Int] = {
    val row = log
      .groupBy(col("graph_id"), col("source_id"), col("destination_id"))
      .agg(count(lit(1)).as("writes"), max(col("updated_at")).as("max_ua"))
      .filter(col("writes") > 1L)
      .agg(max(col("max_ua")).as("h"))
      .collect()(0)
    if (row.isNullAt(0)) None else Some(row.getInt(0))
  }

  private val HorizonFile = "_graft_horizon.json"

  private def writeHorizon(
      fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path, h: Int): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, HorizonFile), true)
    try out.write(s"""{"compaction_horizon":$h}""".getBytes("UTF-8"))
    finally out.close()
  }

  private def readHorizon(
      fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir, HorizonFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      "\"compaction_horizon\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(text).map(_.group(1).toInt)
    }
  }
}
