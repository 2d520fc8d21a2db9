package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The analytics-slice workload: oracle-paired batch kernels from `SparkEntry.queries`,
  * run in a fixed order over the seeded `events` and `documents` tables.
  */
object Slice {

  /** The slice, in run order: a graph fixpoint (bounded single-source shortest paths,
    * frontier rounds, `GraphQueries`), the BPE merge loop and checkpointed epoch packer
    * (`pipeline`), and a count-min sketch: kernels that a shared superstep loop, one
    * materialization scope and one sketch implementation would rewrite. Each has a
    * DuckDB mirror in `SparkEntry.oracleSql`. The costlier fixpoints (`g57_msf`,
    * `g66_louvain_agg`, 11 to 17 s each on 4 cores) do not fit a run.
    */
  val Queries: Seq[String] = Seq("g39_sssp", "dc09_epoch_pack", "sk10_heavy_hitters")

  /** Run query `name` over the tables in `inputDir` and write its rows to `out`. */
  def run(spark: SparkSession, name: String, inputDir: String, out: String): Unit =
    SparkEntry.queries(name)(spark, inputDir).write.mode("overwrite").parquet(out)

  /** The DuckDB mirror of every slice query. */
  def oracleSql: Map[String, String] = Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
}
