package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.immutable.VectorMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.model._
import graft.queries._
import graft.service.FlockService
import graft.store.{EdgeStorage, EdgeStore}
import graft.testgraph.TestGraph

/** The benchmark: builds seeded inputs, drives `FlockService` or the analytics slice
  * from client threads for a fixed window, checks every answer, and prints one JSON
  * result line. With `--trace 1` it runs one client with Spark listeners attached and
  * prints per-layer metrics instead.
  *
  * Usage: perfbench.Main --workload serve-read|serve-write|analytics-slice --seed N
  *          --seconds S --trace 0|1 --work DIR --results DIR
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean, work: String, results: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("results"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    a
  }

  val Workloads: Set[String] = Set("serve-read", "serve-write", "analytics-slice")

  def main(argv: Array[String]): Unit = {
    val code =
      try new Run(parse(argv)).execute()
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.out.flush()
    // an op stuck in planning must not keep the JVM alive past its result
    val halt = new Thread(() => { Thread.sleep(20000); Runtime.getRuntime.halt(code) })
    halt.setDaemon(true)
    halt.start()
    System.exit(code)
  }
}

/** Samples and outcomes of the timed window. */
final class Recorder {
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def add(cls: String, ms: Double, ok: Boolean, why: => String): Unit = synchronized {
    attempted += 1
    if (ok) samples.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += ms
    else {
      failed += 1
      if (failures.size < 20) failures += why
    }
  }

  def of(cls: String): Seq[Double] = synchronized(samples.get(cls).map(_.toSeq).getOrElse(Nil))
  def counts: Map[String, Int] = synchronized(samples.map { case (k, v) => k -> v.size }.toMap)
}

/** One call as it ran in the traced window: its span, class and rows returned. */
final case class TracedOp(span: Span, cls: String, rows: Long)

/** What a workload's set-up hands the timed window: the set-up's parts, the directory
  * of the store or input tables it built and their rows, the latency classes it
  * reports, the window itself (run until the deadline), and how a class's latency is
  * read from the window's samples.
  */
final case class Prepared(
    buildS: Seq[Double], warmS: Double, dataDir: String, rows: Long,
    classes: Seq[String], window: Long => Unit, latency: String => Double)

final class Run(args: Main.Args) {

  private val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
  private val OpTimeoutS = 60
  private val SetupReps = 3
  /** serve-write's version chains: this many batches, each from the freshly loaded store. */
  private val ChainDepth = 3
  private val events = Gen.Events
  private val users = Gen.Users
  private val clients = if (args.trace || args.workload != "serve-read") 1 else cpus

  private val rec = new Recorder
  private val warmRec = new Recorder // warm-up calls: checked, never timed
  private val tracer = new Tracer
  private val collector = new JobCollector
  private val traced = mutable.ArrayBuffer.empty[TracedOp]
  private val compiles = mutable.ArrayBuffer.empty[Span]
  private val depthRows = mutable.ArrayBuffer.empty[VectorMap[String, Any]]
  private var depth = 0
  private var maxDepth = 0
  /** Time the traced window spent measuring store shapes, left out of its call rate. */
  private var shapeNs = 0L
  /** analytics-slice: the output directories of every query run, for the oracle check. */
  private val sliceOutputs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]

  private def ms(ns: Long): Double = ns / 1e6
  private def p50(cls: String): Double = Stats.percentile(rec.of(cls), 50)

  def execute(): Int = {
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(cpus)
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val leakStart = leakSignals(spark)
    try body(spark, sessionS, leakStart)
    finally spark.stop()
  }

  /** Time each of `SetupReps` runs of `build(rep)`; returns the last result and the times. */
  private def repeated[T](build: Int => T): (T, Seq[Double]) = {
    val runs = (0 until SetupReps).map { r =>
      val t = System.nanoTime()
      val v = build(r)
      (v, (System.nanoTime() - t) / 1e9)
    }
    (runs.last._1, runs.map(_._2))
  }

  private def body(spark: SparkSession, sessionS: Double, leakStart: Map[String, Double]): Int = {
    val prep = args.workload match {
      case "analytics-slice" => prepareSlice(spark)
      case w => prepareServe(spark, w == "serve-read")
    }
    val setupS = sessionS + Stats.percentile(prep.buildS, 50) + prep.warmS

    if (args.trace) {
      spark.sparkContext.addSparkListener(collector)
      spark.listenerManager.register(collector)
    }
    val gc0 = gcMs
    val cpu0 = cpuTicks
    val w0 = System.nanoTime()
    prep.window(w0 + args.seconds * 1000000000L)
    val windowNs = System.nanoTime() - w0 - shapeNs
    val gcWindow = gcMs - gc0
    val stealShare = {
      val d = cpuTicks.zipAll(cpu0, 0L, 0L).map { case (a, b) => a - b }
      if (d.sum > 0 && d.size > 7) d(7).toDouble / d.sum else 0.0
    }
    if (args.trace) org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val leakEnd = leakSignals(spark)
    val heapMb = liveHeapMb()

    val opsPerS = rec.attempted / (windowNs / 1e9)
    val latencies = prep.classes.map(c => c -> prep.latency(c))
    val metrics: VectorMap[String, (Double, String)] =
      if (args.trace) layerMetrics(windowNs, opsPerS, gcWindow, leakStart, leakEnd)
      else VectorMap(
        "setup_s" -> (setupS, "s"), "ops_per_s" -> (opsPerS, "1/s"),
        // every class weighs the same, however many calls it completed
        "latency_ms" -> (Stats.geomean(latencies.map(_._2)), "ms"),
        "live_heap_mb" -> (heapMb, "MB"))
    val missing = metrics.collect { case (k, (v, _)) if v.isNaN => k } ++
      latencies.collect { case (c, v) if v.isNaN => c }
    if (missing.nonEmpty) rec.failures += s"no samples for ${missing.mkString(", ")}"

    val env = VectorMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "clients" -> clients,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "input_rows" -> prep.rows, "input_bytes" -> dirBytes(new File(prep.dataDir)),
      "chain_depth" -> maxDepth, "cpu_steal_share" -> stealShare, "session_s" -> sessionS,
      "build_s" -> prep.buildS, "warmup_s" -> prep.warmS, "window_s" -> windowNs / 1e9,
      "samples" -> rec.counts,
      "latency_ms" -> latencies.toMap,
      "p50_ms" -> prep.classes.map(c => c -> p50(c)).toMap,
      "p90_ms" -> prep.classes.map(c => c -> Stats.percentile(rec.of(c), 90)).toMap,
      "samples_ms" -> prep.classes.map(c => c -> rec.of(c)).toMap,
      "attempted" -> rec.attempted, "failed" -> rec.failed, "warmup_failed" -> warmRec.failed,
      "failures" -> (warmRec.failures ++ rec.failures).toSeq)
    println("env " + Json(env))
    if (args.trace) depthRows.foreach(r => println("depth " + Json(r)))

    val tag = s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
    Files.createDirectories(Paths.get(args.results))
    val side = VectorMap[String, Any]("env" -> env,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> VectorMap("value" -> v, "unit" -> u) },
      "depth" -> depthRows.toSeq)
    Files.writeString(Paths.get(args.results, s"$tag.json"), Json(side))
    if (args.trace) writeSpans(Paths.get(args.results, s"$tag-spans.json"))
    if (sliceOutputs.nonEmpty) {
      // the answers are checked against the DuckDB mirrors after the JVM exits
      val sql = Slice.oracleSql
      Files.writeString(Paths.get(args.work, "check.json"), Json(VectorMap(
        "inputs" -> prep.dataDir,
        "queries" -> sliceOutputs.map { case (q, outs) =>
          q -> VectorMap("sql" -> sql(q), "outputs" -> outs.toSeq) })))
    }

    val failed = rec.failed + warmRec.failed
    val correct = failed == 0 && missing.isEmpty
    val result = VectorMap[String, Any](
      "correct" -> correct, "attempted" -> math.max(1L, rec.attempted + warmRec.attempted),
      "failed" -> failed,
      "metrics" -> metrics.collect { case (k, (v, u)) if !v.isNaN =>
        k -> VectorMap("value" -> v, "unit" -> u) })
    println(Json(result))
    if (correct) 0 else 1
  }

  // ---------------------------------------------------------------------------------
  // set-up and the timed window, per workload
  // ---------------------------------------------------------------------------------

  /** serve-read and serve-write: the store is derived from the seeded events, persisted
    * with `EdgeStorage.save` and reopened with `EdgeStorage.load`, `SetupReps` times.
    */
  private def prepareServe(spark: SparkSession, read: Boolean): Prepared = {
    val input = s"${args.work}/input"
    Inputs.writeEvents(spark, args.seed, input, cpus * 2)
    val (store, buildS) = repeated { r =>
      val dir = s"${args.work}/store-$r"
      EdgeStorage.save(TestGraph.edgeLog(spark, input), dir)
      EdgeStorage.load(spark, dir)
    }
    val storeDir = s"${args.work}/store-${SetupReps - 1}"
    val base = new FlockService(store)
    def freshModel() = new Model(users).foldEvents(args.seed, events)
    val picker = new Gen.VertexPicker(args.seed, users)

    // warm-up: the first calls of each kind pay for class loading and code generation
    val tw = System.nanoTime()
    val model = freshModel()
    if (read) {
      // eight calls, two of each class, sent by the window's clients
      val warm = (0 until clients).map { c =>
        val ops = Ops.readSchedule(args.seed + 1, model, picker, c, clients, math.max(1, 8 / clients))
        new Thread(() => ops.foreach(op => check(op, Try(op.run(base)), model, 0, warmRec)))
      }
      warm.foreach(_.start())
      warm.foreach(_.join())
    } else {
      // a batch (with a wildcard op) applied to a throw-away version, and the round's
      // reads on the loaded store, which every chain starts from
      val (batch, reads) = new Ops.WriteRounds(args.seed + 1, picker, 1).next()
      base.execute(batch)
      reads.foreach(op => check(op, Try(op.run(base)), model, 0, warmRec))
    }
    val warmS = (System.nanoTime() - tw) / 1e9

    val window: Long => Unit =
      if (read) { deadline =>
        val schedules =
          (0 until clients).map(c => Ops.readSchedule(args.seed, model, picker, c, clients, 4000))
        val next = (0 until clients).map(_ => new AtomicInteger(0))
        closedLoop(clients, deadline) { c =>
          val ops = schedules(c)
          timed(ops(next(c).getAndIncrement() % ops.size), base, model)
          true
        }
      } else { deadline =>
        // whole chains of `ChainDepth` batches, each from the loaded store, so every
        // depth carries the same weight however fast the calls are; the last batch of
        // every chain carries a wildcard vertex op
        val rounds = new Ops.WriteRounds(args.seed, picker, ChainDepth)
        if (args.trace) depthRows += VectorMap[String, Any]("depth" -> 0) ++ storeShape(base.store)
        closedLoop(1, deadline) { _ =>
          var svc = base
          val model = freshModel() // a plain-array fold, a few milliseconds
          depth = 0
          var ok = true
          while (ok && depth < ChainDepth) {
            val (batch, reads) = rounds.next()
            timedWrite(batch, svc) match {
              case Some((next, writeMs)) =>
                svc = next
                batch.foreach(model.apply)
                depth += 1
                maxDepth = math.max(maxDepth, depth)
                val row = VectorMap[String, Any]("depth" -> depth, "write_ms" -> writeMs) ++
                  reads.map(op => s"${op.cls}_ms" -> timed(op, svc, model))
                depthRows += (if (args.trace) row ++ storeShape(svc.store) else row)
              case None => ok = false
            }
          }
          ok
        }
      }
    // serve-write: a class's latency at each depth (the median over chains), averaged
    // over the depths, so that each depth weighs the same
    def chainLatency(c: String): Double = {
      val byDepth = depthRows.toSeq.groupBy(_("depth")).collect {
        case (d: Int, rows) if d > 0 =>
          Stats.percentile(rows.flatMap(_.get(s"${c}_ms")).collect { case x: Double => x }, 50)
      }
      if (byDepth.size < ChainDepth) Double.NaN else Stats.mean(byDepth.toSeq)
    }
    if (read) Prepared(buildS, warmS, storeDir, events.toLong, Ops.Classes, window, p50)
    else Prepared(buildS, warmS, storeDir, events.toLong, "write" +: Ops.Classes, window,
      chainLatency)
  }

  /** analytics-slice: the seeded `events` and `documents` tables are written
    * `SetupReps` times; every query's rows are kept for the oracle check.
    */
  private def prepareSlice(spark: SparkSession): Prepared = {
    val (input, buildS) = repeated { r =>
      val dir = s"${args.work}/input-$r"
      Inputs.writeEvents(spark, args.seed, dir, cpus * 2)
      Inputs.writeDocuments(spark, args.seed, dir, cpus * 2)
      dir
    }
    var runs = 0
    def runQuery(q: String, into: Recorder): Unit = {
      runs += 1
      val out = s"${args.work}/out/$runs-$q"
      val trace = tracer.newId()
      val start = tracer.nowUs
      val t = System.nanoTime()
      val done = Try(Slice.run(spark, q, input, out))
      val latency = ms(System.nanoTime() - t)
      if (done.isSuccess) sliceOutputs.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += out
      // warm-up queries run before the listeners attach, so only the window's are traced
      if (args.trace && (into eq rec)) traced += TracedOp(
        tracer.record(trace, 0, q, "kernels", start, tracer.nowUs), q, 1)
      into.add(q, latency, done.isSuccess, s"$q threw ${done.failed.map(_.toString).getOrElse("")}")
    }
    // warm-up: one pass over the slice, which pays for each query's first scans, joins
    // and code generation (its rows are checked too); a query's first run costs up to
    // twice its later ones
    val tw = System.nanoTime()
    Slice.Queries.foreach(runQuery(_, warmRec))
    val warmS = (System.nanoTime() - tw) / 1e9
    // one query per step, in slice order across passes, so the window closes after at
    // most one query past its deadline
    val next = new AtomicInteger(0)
    val window: Long => Unit = deadline =>
      closedLoop(1, deadline) { _ =>
        runQuery(Slice.Queries(next.getAndIncrement() % Slice.Queries.size), rec)
        true
      }
    Prepared(buildS, warmS, input, events.toLong + Inputs.Documents, Slice.Queries, window, p50)
  }

  /** Run `step(client)` on `clients` threads until the deadline; each thread sends its
    * next step only after the previous one returned. A thread still inside a step
    * `OpTimeoutS` after the deadline is abandoned and its call counts as failed.
    */
  private def closedLoop(clients: Int, deadline: Long)(step: Int => Boolean): Unit = {
    val threads = (0 until clients).map { i =>
      val t = new Thread(() => {
        var go = true
        while (go && System.nanoTime() < deadline) go = step(i)
      }, s"perfbench-client-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    val giveUp = deadline + OpTimeoutS * 1000000000L
    threads.foreach(t => t.join(math.max(1L, (giveUp - System.nanoTime()) / 1000000L)))
    val stuck = threads.count(_.isAlive)
    if (stuck > 0) {
      SparkSession.active.sparkContext.cancelAllJobs()
      (0 until stuck).foreach(_ => rec.add("stuck", 0, ok = false,
        s"a call did not finish within ${OpTimeoutS}s after the window"))
    }
  }

  /** Time one read op, check it against the model, and return its latency in ms. */
  private def timed(op: Op, svc: FlockService, model: Model): Double = {
    val trace = tracer.newId()
    if (args.trace) {
      // the compiler's cost on the call's programs, timed before the call's span opens
      op.programs.foreach(p =>
        compiles += tracer.timed(trace, 0, "SelectCompiler", "queries")(SelectCompiler(p))._2)
    }
    val start = tracer.nowUs
    val t = System.nanoTime()
    val answer = Try(op.run(svc))
    val latency = ms(System.nanoTime() - t)
    if (args.trace) {
      val span = tracer.record(trace, 0, op.productPrefix, "service", start, tracer.nowUs)
      traced += TracedOp(span, op.cls, answer.map(op.rowsReturned).getOrElse(1L))
    }
    check(op, answer, model, latency, rec)
    latency
  }

  private def check(op: Op, answer: Try[Any], model: Model, latency: Double, into: Recorder): Unit =
    answer match {
      case Success(got) =>
        val want = op.expected(model)
        into.add(op.cls, latency, got == want, s"$op at depth $depth: got $got, want $want")
      case Failure(e) => into.add(op.cls, latency, ok = false, s"$op at depth $depth threw $e")
    }

  private def timedWrite(batch: Seq[WriteOp], svc: FlockService): Option[(FlockService, Double)] = {
    val trace = tracer.newId()
    val start = tracer.nowUs
    val t = System.nanoTime()
    val out = Try(svc.execute(batch))
    val latency = ms(System.nanoTime() - t)
    if (args.trace) traced += TracedOp(
      tracer.record(trace, 0, "execute", "service", start, tracer.nowUs), "write", batch.size)
    out match {
      case Success(_) => rec.add("write", latency, ok = true, "")
      case Failure(e) => rec.add("write", latency, ok = false, s"execute at depth $depth threw $e")
    }
    out.toOption.map(_ -> latency)
  }

  // ---------------------------------------------------------------------------------
  // tracing
  // ---------------------------------------------------------------------------------

  /** Plan cost and log shape of a store version (traced runs only): the time to build
    * the executed plans of an adjacency read and a point read, and the number of
    * branches the log's unions hold. Its own time is left out of the window.
    */
  private def storeShape(store: EdgeStore): VectorMap[String, Any] = {
    val t = System.nanoTime()
    val (_, plan) = tracer.timed(tracer.newId(), 0, "plan adjacency+get", "store") {
      store.adjacency(QueryTerm(0L, 1)).queryExecution.executedPlan
      store.snapshot.filter(col("graph_id") === 1 && col("source_id") === 0L &&
        col("destination_id") === 1L).queryExecution.executedPlan
    }
    val branches = store.log.queryExecution.logical.collect {
      case u: Union => u.children.count(!_.isInstanceOf[Union])
    }.sum
    shapeNs += System.nanoTime() - t
    VectorMap("plan_ms" -> plan.ms, "log_branches" -> math.max(1, branches))
  }

  private def layerMetrics(
      windowNs: Long, opsPerS: Double, gcWindow: Long,
      leakStart: Map[String, Double], leakEnd: Map[String, Double]
  ): VectorMap[String, (Double, String)] = {
    val ops = traced.toSeq
    val jobsByOp = Attribution.byStart(ops.map(_.span), collector.completedJobs)(_.startMs * 1000)
    val sqlByOp = Attribution.byStart(ops.map(_.span), collector.sqlExecutions)(_._1 * 1000)
    def jobsOf(o: TracedOp) = jobsByOp.getOrElse(o.span.id, Nil)
    def sqlOf(o: TracedOp) = sqlByOp.getOrElse(o.span.id, Nil)
    def jobSpans(o: TracedOp) = jobsOf(o).map(j => (j.startMs * 1000, j.endMs * 1000))
    def perClass(c: String)(f: TracedOp => Double): Double =
      Stats.mean(ops.filter(_.cls == c).map(f))

    val perOp = (Ops.Classes :+ "write").flatMap { c =>
      val mine = ops.filter(_.cls == c)
      val rowsRead = mine.map(o => jobsOf(o).map(_.recordsRead).sum).sum.toDouble
      Seq(
        s"spark.jobs_per_op.$c" -> (perClass(c)(jobsOf(_).size.toDouble), "count"),
        s"spark.tasks_per_op.$c" -> (perClass(c)(jobsOf(_).map(_.tasks).sum.toDouble), "count"),
        s"spark.task_ms_per_op.$c" -> (perClass(c)(jobsOf(_).map(_.taskMs).sum.toDouble), "ms"),
        // the call span's self time: what its Spark jobs do not cover (planning, collect)
        s"spark.driver_ms_per_op.$c" ->
          (perClass(c)(o => Stats.selfTime(o.span.interval, jobSpans(o)) / 1000.0), "ms"),
        s"spark.plan_ms_per_op.$c" -> (perClass(c)(sqlOf(_).map(_._2).sum), "ms"),
        s"spark.exchanges_per_op.$c" -> (perClass(c)(sqlOf(_).map(_._3).sum.toDouble), "count"),
        s"spark.shuffle_kb_per_op.$c" -> (perClass(c)(o =>
          jobsOf(o).map(j => j.shuffleReadBytes + j.shuffleWriteBytes).sum / 1024.0), "KB"),
        s"service.p50_ms.$c" ->
          (if (mine.isEmpty) 0.0 else Stats.percentile(mine.map(_.span.ms), 50), "ms"),
        s"store.rows_read_per_row_returned.$c" ->
          (if (mine.isEmpty) 0.0 else rowsRead / mine.map(_.rows).sum, "ratio"))
    }
    val perQuery = Slice.Queries.flatMap { q =>
      val mine = ops.filter(_.cls == q)
      Seq(
        s"slice.$q.wall_s" ->
          (if (mine.isEmpty) 0.0 else Stats.percentile(mine.map(_.span.ms / 1000.0), 50), "s"),
        s"slice.$q.jobs" -> (perClass(q)(jobsOf(_).size.toDouble), "count"),
        s"slice.$q.tasks" -> (perClass(q)(jobsOf(_).map(_.tasks).sum.toDouble), "count"),
        s"slice.$q.task_s" -> (perClass(q)(jobsOf(_).map(_.taskMs).sum / 1000.0), "s"),
        s"slice.$q.shuffle_mb" -> (perClass(q)(o =>
          jobsOf(o).map(j => j.shuffleReadBytes + j.shuffleWriteBytes).sum / 1048576.0), "MB"),
        s"slice.$q.exchanges" -> (perClass(q)(sqlOf(_).map(_._3).sum.toDouble), "count"))
    }
    val writes = ops.filter(_.cls == "write")
    val writeMs = writes.map(_.span.ms)
    val execJobMs = Stats.mean(writes.map(o => Stats.covered(jobSpans(o)) / 1000.0))
    // the per-depth rows of serve-write, medians over its chains
    def atDepth(k: String, dep: Int): Double = {
      val xs = depthRows.filter(_.get("depth").contains(dep)).flatMap(_.get(k)).map(_.toString.toDouble)
      if (xs.isEmpty) 0.0 else Stats.percentile(xs.toSeq, 50)
    }
    def readMs(dep: Int): Double = Ops.Classes.map(c => atDepth(s"${c}_ms", dep)).sum
    val windowMs = windowNs / 1e6
    VectorMap.from(perOp) ++ VectorMap.from(perQuery) ++ VectorMap(
      "service.compile_ms" -> (Stats.mean(compiles.toSeq.map(_.ms)), "ms"),
      "service.write_p90_ms" -> (if (writeMs.isEmpty) 0.0 else Stats.percentile(writeMs, 90), "ms"),
      "service.read_ms.depth_1" -> (readMs(1), "ms"),
      s"service.read_ms.depth_$ChainDepth" -> (readMs(ChainDepth), "ms"),
      "store.execute_ms" -> (Stats.mean(writeMs), "ms"),
      "store.execute_job_ms" -> (execJobMs, "ms"),
      "store.execute_driver_ms" -> (Stats.mean(writeMs) - execJobMs, "ms"),
      "store.plan_ms.depth_0" -> (atDepth("plan_ms", 0), "ms"),
      s"store.plan_ms.depth_$ChainDepth" -> (atDepth("plan_ms", ChainDepth), "ms"),
      "store.log_branches.depth_0" -> (atDepth("log_branches", 0), "count"),
      s"store.log_branches.depth_$ChainDepth" -> (atDepth("log_branches", ChainDepth), "count"),
      "store.depth_reached" -> (maxDepth.toDouble, "count"),
      "spark.persisted_rdds" -> (leakEnd("rdds") - leakStart("rdds"), "count"),
      "spark.storage_mb" -> (leakEnd("storage_mb") - leakStart("storage_mb"), "MB"),
      "driver.live_threads" -> (leakEnd("threads") - leakStart("threads"), "count"),
      "tmp.graft_dirs" -> (leakEnd("graft_dirs") - leakStart("graft_dirs"), "count"),
      "jvm.gc_ms" -> (gcWindow.toDouble, "ms"),
      "trace.ops_per_s" -> (opsPerS, "1/s"),
      "trace.listener_share" -> (collector.callbackNs.get / 1e6 / windowMs, "ratio"))
  }

  private def writeSpans(path: java.nio.file.Path): Unit = {
    val jobsByOp =
      Attribution.byStart(traced.map(_.span).toSeq, collector.completedJobs)(_.startMs * 1000)
    val jobSpans = traced.flatMap { o =>
      jobsByOp.getOrElse(o.span.id, Nil).map(j => Span(o.span.trace, tracer.newId(), o.span.id,
        s"job ${j.id}", "spark", j.startMs * 1000, j.endMs * 1000))
    }
    val all = (tracer.all ++ jobSpans).sortBy(_.start).map(s => VectorMap(
      "trace" -> s.trace, "span" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "start_us" -> s.start, "end_us" -> s.end))
    Files.writeString(path, Json(all))
  }

  // ---------------------------------------------------------------------------------
  // process-level signals
  // ---------------------------------------------------------------------------------

  /** The machine's cumulative CPU ticks by kind (user, nice, system, idle, iowait, irq,
    * softirq, steal, ...), from /proc/stat; empty where there is none. Steal is the
    * time a shared host gave the vCPUs to someone else.
    */
  private def cpuTicks: Seq[Long] = Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong).toSeq finally src.close()
  }.getOrElse(Nil)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after full collections. Spark's context cleaner frees broadcast and
    * shuffle state only once the owning objects have been collected, so collect a few
    * times with pauses for it and keep the lowest reading.
    */
  private def liveHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(150)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  private def leakSignals(spark: SparkSession): Map[String, Double] = {
    val sc = spark.sparkContext
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    Map(
      "rdds" -> sc.getPersistentRDDs.size.toDouble,
      "storage_mb" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0,
      "threads" -> ManagementFactory.getThreadMXBean.getThreadCount.toDouble,
      "graft_dirs" ->
        Option(tmp.listFiles()).map(_.count(_.getName.startsWith("graft"))).getOrElse(0).toDouble)
  }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}
