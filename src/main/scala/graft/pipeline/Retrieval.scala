package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: BM25 lexical ranking × embedding ANN, fused by reciprocal-rank
  * fusion (RRF) — the production RAG retrieval primitive (fuse a keyword index with a
  * vector index per query, Cormack/Clarke/Buettcher's rank-based fusion, SIGIR'09).
  * Rank-based fusion needs no score normalization across the two modalities, which is
  * exactly why it is the default in hybrid search engines.
  *
  * Everything rank-adjacent stays in exact integer space (the t21/oracle discipline):
  * per-(token, doc) BM25 weights are rounded to integer micro-units BEFORE the
  * per-(query, doc) sum — a distributed double sum is order-dependent, an integer sum
  * is exact — and the RRF score is pure integer arithmetic, 1000000 DIV (k0 + rank).
  */
object Retrieval {

  /** BM25 query-likelihood lexical top-k: score(q, d) = Σ_{t ∈ tokens(q)} w(t, d)
    * over shared tokens, where w is the t21 log-free BM25 weight (k1 = 1.2, b = 0.75,
    * exact-integer rationals; see TextStats.bm25Top) rounded to integer micro-units.
    * The op sequence per weight is pinned for the oracle: two exact-int divisions,
    * one product, then round(1e6 · (tfPart · idfRaw)) as BIGINT.
    *
    * Scale shape: corpus statistics (tf, df, dl, totals) are the two hash-agg passes
    * t21 already pays; the query side collapses to DISTINCT (query, token) and
    * BROADCASTS into the posting join, so the corpus-sized tf relation is scanned
    * once and never shuffled by query. The per-(query, doc) sum is map-side
    * combinable; the only sort is the per-query top-k window.
    *
    * `dfCapFraction` is the production skew guard: drop tokens whose document
    * frequency exceeds the fraction (stopwords — the tokens that explode the
    * posting join while contributing near-zero idf weight). Off by default so the
    * default scores stay oracle-exact; RetrievalSpec pins that a cap of 1.0 is the
    * identity and that capping only ever REMOVES posting rows.
    */
  /** Largest query batch (rows) whose per-token query-id sets are broadcast into
    * the posting join; bigger batches shuffle-join instead. The broadcast carries
    * ~|distinct (token, query) pairs| ids — at 100k queries × ~50 tokens that is
    * ~40 MB, inside executor broadcast budgets; an UNBOUNDED query batch would make
    * it |Q|-sized per token, which is exactly the build-side blowup the dispatch
    * guards against (the dl-relation rule above: a per-query relation must not be a
    * build side at scale).
    */
  val QueryBroadcastMax: Long = 100000L

  def lexicalTopK(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      dfCapFraction: Option[Double] = None,
      maxBroadcastQueries: Long = QueryBroadcastMax
  ): DataFrame = {
    val (ranked, tf) =
      lexicalTopKPlan(queries, candidates, idCol, textCol, k, dfCapFraction, maxBroadcastQueries)
    // the result is query-bounded (≤ |queries|·k rows): materialize it eagerly, then
    // release the tf cache — persist() pins the relation in the session CacheManager
    // with a strong reference (unlike checkpoint blocks, which the ContextCleaner
    // frees once unreachable), so returning lazily would leak one corpus-sized
    // cached relation per invocation
    val out = ranked.localCheckpoint(eager = true)
    tf.unpersist(blocking = false)
    out
  }

  /** The lazy plan form plus the cached tf handle — exposed for PlanSpec's
    * exchange-count pins (the plannedSssp pattern); a caller that executes it owns
    * the unpersist.
    */
  private[graft] def lexicalTopKPlan(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      dfCapFraction: Option[Double] = None,
      maxBroadcastQueries: Long = QueryBroadcastMax
  ): (DataFrame, DataFrame) = {
    val tf = TextStats.tokens(candidates, idCol, textCol)
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
      // doc-partitioned (cheap: |tf| rows, post-agg): hashpartitioning(doc) satisfies
      // every downstream clustering by the subset rule, so dl's groupBy(doc), the
      // posting join's partial agg, and the final (query, doc) agg all run
      // exchange-free — the per-(query, doc) sum reduces fully map-side because all
      // of a doc's tokens share a partition. Without this, the partial agg combines
      // almost nothing (a pair's ~|shared tokens| rows scatter across partitions)
      // and the shuffle carries the whole posting-join output.
      .repartition(col(idCol))
      // cache, not localCheckpoint: InMemoryRelation keeps hashpartitioning(doc)
      // visible to the planner (a checkpoint's LogicalRDD loses it here), which is
      // what lets every doc-clustered consumer skip its exchange
      .persist()
    val dfreqAll = tf.groupBy(col("token")).agg(count(lit(1)).as("df_count"))
    // the cap compares df against the corpus doc count: a broadcast-scalar filter on
    // the |vocab|-sized relation, evaluated BEFORE the posting join so capped tokens
    // never reach the corpus-sized side
    val dfreq = dfCapFraction match {
      case None => dfreqAll
      case Some(f) =>
        dfreqAll.crossJoin(broadcast(
          tf.agg(countDistinct(col(idCol)).as("cap_n_docs"))))
          .filter(col("df_count").cast("double") <= lit(f) * col("cap_n_docs").cast("double"))
          .select(col("token"), col("df_count"))
    }
    // dl is corpus-cardinality (one row per doc) — computed as a window over the
    // doc-partitioned checkpoint it needs no exchange and, unlike a groupBy+join,
    // can never end up broadcast (a per-doc relation must not be a build side at
    // scale). totals folds tf directly: the doc-keyed partial of count(DISTINCT doc)
    // is exchange-free for the same partitioning reason.
    val dlWin = Window.partitionBy(col(idCol))
    val totals = tf.agg(countDistinct(col(idCol)).as("n_docs"), sum(col("tf")).as("sum_dl"))
    // round(x) for positive x as floor(x + 0.5): identical to Spark's HALF_UP and
    // DuckDB's half-away-from-zero at these magnitudes (halves are exact doubles
    // far below 2^52), but pure-FP codegen. Spark's Round allocates a BigDecimal
    // per call, and deferred codegen evaluates this projection once per posting-join
    // MATCH (measured: ~5 s of BigDecimal churn at sf0.1), not once per weight row.
    def roundPos(c: Column): Column = floor(c + lit(0.5)).cast("long")
    val rr = roundPos((lit(900000L) * col("dl") * col("n_docs")).cast("double") /
      col("sum_dl").cast("double"))
    val tfPart = (lit(2200000L) * col("tf")).cast("double") /
      (lit(1000000L) * col("tf") + lit(300000L) + col("rr")).cast("double")
    val idfRaw = (lit(2L) * col("n_docs") - lit(2L) * col("df_count") + lit(1L)).cast("double") /
      (lit(2L) * col("df_count") + lit(1L)).cast("double")
    // dfreq (|vocab| rows) is the build side by hint while the planner's estimate of it
    // is within the broadcast threshold: left to AQE, the per-doc side's cached stage
    // can finish first and be picked as the build side instead, which also drops the
    // doc partitioning every consumer below relies on. Above the threshold the join
    // keeps AQE's size-based choice, so a vocabulary too big to broadcast still plans.
    val dfreqFits = dfreq.queryExecution.optimizedPlan.stats.sizeInBytes <=
      org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    val weights = tf
      .withColumn("dl", sum(col("tf")).over(dlWin))
      .join(if (dfreqFits) broadcast(dfreq) else dfreq, "token")
      .crossJoin(broadcast(totals))
      .withColumn("rr", rr)
      .withColumn("w", roundPos(lit(1000000.0) * (tfPart * idfRaw)))
      .select(col(idCol).as("neighbor_id"), col("token"), col("w"))
    // query-side dispatch on batch size (one count of the query relation — the
    // cheap side by definition; when it ISN'T cheap, that is precisely the case
    // the shuffle branch exists for):
    //  - bounded batch: one exchange builds the per-token query list (collect_set
    //    dedups in the agg, saving the separate DISTINCT shuffle); the broadcast
    //    join is then 1:1 per weight row and the fan-out to (query, doc) pairs is
    //    a Generate, not a hashed-relation match chain
    //  - unbounded batch: the per-token query-id sets would make the broadcast
    //    |Q|-sized per token, so the deduped (query, token) pairs sort-merge-join
    //    the weights on token instead — both sides shuffle once on the join key,
    //    no build side holds a query-sized relation in memory
    val qtoks = TextStats.tokens(queries, idCol, textCol)
      .select(col(idCol).as("query_id"), col("token"))
    val matched =
      if (queries.count() <= maxBroadcastQueries) {
        val qmap = qtoks.groupBy(col("token")).agg(collect_set(col("query_id")).as("qids"))
        weights
          .join(broadcast(qmap), "token")
          .select(col("neighbor_id"), col("w"), explode(col("qids")).as("query_id"))
      } else {
        weights
          .join(qtoks.distinct().hint("merge"), "token")
          .select(col("neighbor_id"), col("w"), col("query_id"))
      }
    val scored = matched
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("w")).as("lex_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("lex_micro").desc, col("neighbor_id").asc)
    (scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k), tf)
  }

  /** Reciprocal-rank fusion of two per-query ranked lists (columns: query_id,
    * neighbor_id, rank): rrf = Σ_lists 1000000 DIV (k0 + rank), a doc absent from a
    * list contributing 0 — integer arithmetic end-to-end, so the fused order is
    * engine-exact. Output ranks re-windowed per query by (rrf desc, neighbor_id);
    * absent per-list ranks surface as 0.
    *
    * Scale shape: both inputs are already top-listK per query (bounded, query-sized,
    * not corpus-sized); the fusion is one full-outer equi-join plus a per-query
    * window over ≤ 2·listK rows.
    */
  def rrfFuseTopK(lex: DataFrame, sem: DataFrame, k: Int, k0: Int = 60): DataFrame = {
    def contrib(rankCol: String): Column =
      when(col(rankCol).isNull, lit(0L))
        .otherwise(expr(s"CAST(1000000 DIV ($k0 + $rankCol) AS BIGINT)"))
    val fused = lex.select(col("query_id"), col("neighbor_id"), col("rank").as("lex_rank"))
      .join(
        sem.select(col("query_id"), col("neighbor_id"), col("rank").as("sem_rank")),
        Seq("query_id", "neighbor_id"), "full_outer")
      .select(
        col("query_id"), col("neighbor_id"),
        coalesce(col("lex_rank"), lit(0)).cast("int").as("lex_rank"),
        coalesce(col("sem_rank"), lit(0)).cast("int").as("sem_rank"),
        (contrib("lex_rank") + contrib("sem_rank")).as("rrf_score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("neighbor_id").asc)
    fused
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The composed hybrid retrieval query: BM25 lexical top-listK × brute-force
    * cosine top-listK over the aligned embedding table, RRF-fused to top-k per
    * query.
    *
    * Bench context: the synthetic corpus has a ~31-word vocabulary, so EVERY query
    * shares tokens with EVERY doc and the posting join densifies to ≈|Q|·|D|·overlap
    * rows (8.7M at sf0.1 from 5 000 docs) — a worst case real Zipf-vocabulary
    * corpora don't exhibit at the same size, and exactly what `dfCapFraction`
    * prunes in production. The s17 registration runs uncapped (the worst case,
    * oracle-exact); s18 runs the same query with the cap engaged, so the bench
    * prices the guard's effect directly — both against exact mirrors.
    */
  def hybridTopK(
      docs: DataFrame,
      emb: DataFrame,
      idCol: String,
      textCol: String,
      embIdCol: String,
      vecCol: String,
      queryMod: Int,
      listK: Int,
      k: Int,
      k0: Int = 60,
      dfCapFraction: Option[Double] = None
  ): DataFrame = {
    val lex = lexicalTopK(docs.filter(col(idCol) % queryMod === 0), docs, idCol, textCol, listK,
      dfCapFraction)
    val sem = Similarity.bruteForceTopK(
      emb.filter(col(embIdCol) % queryMod === 0), emb, embIdCol, vecCol, listK)
    rrfFuseTopK(lex, sem, k, k0)
  }
}
