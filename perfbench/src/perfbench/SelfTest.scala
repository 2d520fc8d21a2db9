package perfbench

import java.util.SplittableRandom

import graft.model._
import graft.queries._

/** Checks of the benchmark's own arithmetic: the percentile rule and geometric mean,
  * span self time, job attribution, the pagination model, the seeded generators and
  * the slice's oracle pairing. No Spark session.
  *
  * Usage: perfbench.SelfTest (exit code 0 when every check holds)
  */
object SelfTest {
  private var checks = 0
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  private def expect(name: String, got: Any, want: Any): Unit = {
    checks += 1
    if (got != want) failures += s"$name: got $got, want $want"
  }

  def main(args: Array[String]): Unit = {
    percentiles()
    selfTime()
    attribution()
    pagination()
    model()
    generators()
    slice()
    failures.foreach(f => println(s"FAIL $f"))
    println(s"selftest: ${checks - failures.size}/$checks checks hold")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }

  private def percentiles(): Unit = {
    val xs = Seq(7.0, 1, 10, 4, 2, 9, 3, 6, 8, 5)
    expect("p50 of 1..10 is the mean of the middle two", Stats.percentile(xs, 50), 5.5)
    expect("p90 of 1..10 interpolates", math.abs(Stats.percentile(xs, 90) - 9.1) < 1e-9, true)
    expect("p100 of 1..10", Stats.percentile(xs, 100), 10.0)
    expect("p0 is the minimum", Stats.percentile(xs, 0), 1.0)
    expect("p50 of an odd count is the middle sample", Stats.percentile(Seq(9.0, 1, 4), 50), 4.0)
    expect("p50 of one sample", Stats.percentile(Seq(3.5), 50), 3.5)
    expect("p90 of 1..101", Stats.percentile((1 to 101).map(_.toDouble), 90), 91.0)
    expect("empty is NaN", Stats.percentile(Nil, 50).isNaN, true)
    expect("geomean of 1 and 4", math.abs(Stats.geomean(Seq(1.0, 4.0)) - 2.0) < 1e-9, true)
    expect("doubling one of four values moves the geomean by 2^(1/4)",
      math.abs(Stats.geomean(Seq(3.0, 5, 7, 22)) / Stats.geomean(Seq(3.0, 5, 7, 11)) -
        math.pow(2, 0.25)) < 1e-9, true)
    expect("geomean of nothing is NaN", Stats.geomean(Nil).isNaN, true)
  }

  private def selfTime(): Unit = {
    expect("covered merges overlaps", Stats.covered(Seq((10L, 30L), (20L, 40L), (50L, 60L))), 40L)
    expect("covered ignores empty intervals", Stats.covered(Seq((5L, 5L), (9L, 3L))), 0L)
    expect("self time clips children to the span",
      Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 40L), (90L, 120L), (-5L, 2L))), 58L)
    expect("self time without children", Stats.selfTime((5L, 9L), Nil), 4L)
    expect("self time of a fully covered span", Stats.selfTime((0L, 10L), Seq((0L, 10L))), 0L)
  }

  private def attribution(): Unit = {
    val ops = Seq(Span(1, 1, 0, "a", "service", 1000000, 1200000),
      Span(2, 2, 0, "b", "service", 1200500, 1500000))
    // job start times in whole ms, as Spark reports them
    val jobs = Seq(1000L, 1100L, 1200L, 1201L, 1499L, 1700L)
    val got = Attribution.byStart(ops, jobs)(_ * 1000)
    expect("jobs of the first op", got.getOrElse(1L, Nil), Seq(1000L, 1100L))
    expect("a job in the op's first ms goes to it", got.getOrElse(2L, Nil), Seq(1200L, 1201L, 1499L))
    expect("jobs after every op are dropped", got.values.flatten.size, 5)
  }

  private def pagination(): Unit = {
    // the reference's pagination goldens: edges at positions 3 and 5
    val keys = Seq(3L, 5L)
    def p(count: Int, cursor: Long) = Model.paginate(keys, Page(count, cursor))
    expect("first page of 1", p(1, Cursor.Start), PagedResult(Seq(5L), 5L, Cursor.End))
    expect("first page of 5", p(5, Cursor.Start), PagedResult(Seq(5L, 3L), Cursor.End, Cursor.End))
    expect("cursor 5", p(1, 5), PagedResult(Seq(3L), Cursor.End, -3L))
    expect("cursor 4", p(1, 4), PagedResult(Seq(3L), Cursor.End, -3L))
    expect("backward cursor -5", p(1, -5), PagedResult(Nil, Cursor.End, Cursor.End))
    expect("backward cursor -3", p(1, -3), PagedResult(Seq(5L), 5L, Cursor.End))
    expect("backward cursor -2", p(3, -2), PagedResult(Seq(5L, 3L), Cursor.End, Cursor.End))
    expect("end cursor", p(3, Cursor.End), PagedResult(Nil, Cursor.End, Cursor.End))
  }

  private def model(): Unit = {
    val m = new Model(4)
    m.fold(1, 0, 1, 100, State.Normal, 10)
    m.fold(1, 0, 1, 100, State.Archived, 5) // same time: higher state priority wins
    m.fold(1, 0, 2, 100, State.Normal, 11)
    m.fold(1, 0, 2, 99, State.Removed, 12) // older write loses
    m.fold(1, 0, 3, 101, State.Negative, 13)
    expect("LWW priority tie-break", m.edge(1, 0, 1).map(_.state), Some(State.Archived))
    expect("LWW time wins", m.edge(1, 0, 2).map(_.state), Some(State.Normal))
    expect("contains counts Negative", m.contains(1, 0, 3), true)
    expect("contains skips Archived", m.contains(1, 0, 1), false)
    expect("metadata follows the newest edge", m.metadata(1, 0), Some(Metadata(1, 0, State.Negative, 1, 101)))
    expect("first page", m.select(Seq(TermOp(QueryTerm(0, 1))), Page(5, Cursor.Start)),
      PagedResult(Seq(2L), Cursor.End, Cursor.End))
    m.apply(WriteOp(1, 0, Some(3), State.Normal, 200, Some(99))) // resurrect: new position
    expect("resurrection takes the op's position", m.edge(1, 0, 3).map(_.position), Some(99L))
    m.apply(WriteOp(1, 0, Some(2), State.Archived, 201, Some(98))) // live edge keeps position
    expect("a live edge keeps its position", m.edge(1, 0, 2).map(e => (e.state, e.position)),
      Some((State.Archived, 11L)))
    m.apply(WriteOp(1, 0, None, State.Negative, 202))
    expect("wildcard moves edges", m.edge(1, 0, 3).map(_.state), Some(State.Negative))
    m.apply(WriteOp(1, 0, Some(4), State.Normal, 203, Some(97)))
    expect("the register dominates later adds", m.edge(1, 0, 4).map(_.state), Some(State.Negative))
    expect("metadata follows the register", m.metadata(1, 0).map(x => (x.state, x.count)),
      Some((State.Negative, 4L)))
    expect("count2 estimates", m.count2(Seq(Seq(TermOp(QueryTerm(0, 1, states = Seq(State.Negative)))))),
      Seq(4L))
  }

  private def generators(): Unit = {
    expect("userOf is a function of the seed", (0L until 100L).map(Gen.userOf(7, _)),
      (0L until 100L).map(Gen.userOf(7, _)))
    expect("seeds differ", (0L until 100L).map(Gen.userOf(7, _)) != (0L until 100L).map(Gen.userOf(8, _)), true)
    expect("users stay in range", (0L until 1000L).map(Gen.userOf(3, _)).forall(u => u >= 0 && u < Gen.Users), true)
    val zipf = new Gen.Zipf(1000, 0.99)
    val draws = { val r = new SplittableRandom(1); Seq.fill(2000)(zipf.sample(r)) }
    expect("zipf is skewed toward rank 0", draws.count(_ == 0) > draws.count(_ == 999) * 20, true)
    val m = new Model(Gen.Users).foldEvents(5, 20000)
    def schedule(seed: Long) = Ops.readSchedule(seed, m, new Gen.VertexPicker(seed, Gen.Users), 0, 1, 200)
    expect("read schedule is a function of the seed", schedule(5), schedule(5))
    expect("read schedules differ by seed", schedule(5) != schedule(6), true)
    expect("one client sends the classes in turn", schedule(5).take(8).map(_.cls), Ops.Classes ++ Ops.Classes)
    expect("four clients send one class each",
      (0 until 4).map(c => Ops.readSchedule(5, m, new Gen.VertexPicker(5, Gen.Users), c, 4, 20).map(_.cls).toSet),
      Ops.Classes.map(Set(_)))
    def rounds(seed: Long) = {
      val w = new Ops.WriteRounds(seed, new Gen.VertexPicker(seed, Gen.Users), 3)
      Seq.fill(9)(w.next())
    }
    expect("write rounds are a function of the seed", rounds(5), rounds(5))
    expect("every 3rd round carries a wildcard", rounds(5).map(_._1.count(_.destinationId.isEmpty)),
      Seq(0, 0, 1, 0, 0, 1, 0, 0, 1))
    val docs = (0L until Inputs.Documents).map(Inputs.document(5, _))
    expect("documents are a function of the seed", docs, (0L until Inputs.Documents).map(Inputs.document(5, _)))
    expect("documents differ by seed", docs.map(_._2) != docs.indices.map(Inputs.document(6, _)._2), true)
    expect("n_chars is the text's length", docs.forall(d => d._5 == d._2.length), true)
    val copies = docs.count(_._2.endsWith(" dup"))
    expect("about one document in twenty is a near copy", copies > 150 && copies < 350, true)
    expect("a near copy repeats another document's words",
      docs.filter(_._2.endsWith(" dup")).forall(d => docs.exists(_._2 == d._2.stripSuffix(" dup"))), true)
  }

  private def slice(): Unit = {
    expect("every slice query has a DuckDB mirror",
      Slice.Queries.filterNot(graft.SparkEntry.oracleSql.contains), Nil)
    expect("every slice query is a Spark query",
      Slice.Queries.filterNot(graft.SparkEntry.queries.contains), Nil)
  }
}
