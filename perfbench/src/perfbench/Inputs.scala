package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The seeded input tables, shaped like the sf0.1 test data: `events` (100k rows) for
  * every workload and `documents` (5000 rows) for the analytics slice. Every value is
  * a pure function of the seed and the row id.
  */
object Inputs {

  val Documents: Int = 5000
  private val Vocabulary: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value", "data",
    "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = IndexedSeq("zh", "es", "fr", "de")
  private val EventTypes = Seq("view", "click", "purchase", "signup", "error")

  /** `events`: `user_id` is [[Gen.userOf]], so [[Model]] can fold the same log; the
    * other columns follow the test data's shapes (30 days of timestamps in id order,
    * five event types, exponential values, a small JSON `props`).
    */
  def writeEvents(spark: SparkSession, seed: Long, dir: String, partitions: Int): Unit = {
    val userOf = udf((e: Long) => Gen.userOf(seed, e))
    val h = (salt: Int) => pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1000000L))
    val start = 1704067200L * 1000000L // 2024-01-01T00:00:00Z in microseconds
    spark.range(0, Gen.Events, 1, partitions).select(
      col("id").as("event_id"),
      timestamp_micros(lit(start) + col("id") * 25920000L + h(1) * 25L).as("ts"),
      userOf(col("id")).as("user_id"),
      element_at(array(EventTypes.map(lit): _*), (h(2) % EventTypes.size + 1).cast("int"))
        .as("event_type"),
      round(-log((h(3) + 1) / 1000001.0) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), (h(4) % 100).cast("string"), lit("}")).as("props")
    ).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def rnd(seed: Long, salt: Long, id: Long) =
    new SplittableRandom(Gen.mix(Gen.mix(seed ^ salt) ^ id))

  /** Document `id`'s own words: 10 to 100 draws from a 30-word vocabulary. */
  private def words(seed: Long, id: Long): String = {
    val r = rnd(seed, 0xD0CL, id)
    Seq.fill(10 + r.nextInt(91))(Vocabulary(r.nextInt(Vocabulary.size))).mkString(" ")
  }

  private def isCopy(seed: Long, id: Long): Boolean = rnd(seed, 0xC09L, id).nextInt(20) == 0

  /** `(doc_id, text, lang, source, n_chars)`. One document in twenty copies the words of
    * another (not itself a copy): one in thirty-one of those exactly, the rest with the
    * token "dup" appended, as in the test data.
    */
  def document(seed: Long, id: Long): (Long, String, String, String, Long) = {
    val text =
      if (!isCopy(seed, id)) words(seed, id)
      else {
        val r = rnd(seed, 0xC09L, id)
        r.nextInt(20)
        val exact = r.nextInt(31) == 0
        val src = Iterator.continually(r.nextInt(Documents).toLong)
          .find(s => s != id && !isCopy(seed, s)).get
        if (exact) words(seed, src) else words(seed, src) + " dup"
      }
    val r = rnd(seed, 0x1A9L, id)
    val lang = if (r.nextInt(100) < 41) "en" else Langs(r.nextInt(Langs.size))
    (id, text, lang, s"src${id % 20}", text.length.toLong)
  }

  def writeDocuments(spark: SparkSession, seed: Long, dir: String, partitions: Int): Unit = {
    import spark.implicits._
    (0L until Documents).map(document(seed, _))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(partitions)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
