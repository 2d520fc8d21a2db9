package perfbench

import java.util.SplittableRandom

import graft.model._
import graft.queries._
import graft.service.FlockService

/** One call into `FlockService`, with the model's expected answer. `cls` is the latency
  * class it reports under.
  */
sealed trait Op extends Product with Serializable {
  def cls: String
  def run(svc: FlockService): Any
  def expected(m: Model): Any
  /** Rows the answer carries, the denominator of rows-read-per-row-returned. */
  def rowsReturned(answer: Any): Long = answer match {
    case r: PagedResult[_] => math.max(1, r.items.size).toLong
    case s: Seq[_] => math.max(1, s.size).toLong
    case _ => 1L
  }
  /** The select programs it compiles (for the compile span). */
  def programs: Seq[Seq[SelectOperation]] = Nil
}

final case class ContainsOp(g: Int, src: Long, dst: Long) extends Op {
  val cls = "point"
  def run(svc: FlockService): Any = svc.contains(src, g, dst)
  def expected(m: Model): Any = m.contains(g, src, dst)
}

final case class GetOp(g: Int, src: Long, dst: Long) extends Op {
  val cls = "point"
  def run(svc: FlockService): Any = svc.get(src, g, dst)
  def expected(m: Model): Any = m.edge(g, src, dst)
}

final case class MetadataOp(g: Int, src: Long) extends Op {
  val cls = "point"
  def run(svc: FlockService): Any = svc.getMetadata(src, g)
  def expected(m: Model): Any = m.metadata(g, src)
}

/** `select2` of one page; `cls` is "page" for simple terms and "setop" for compounds. */
final case class SelectOp(cls: String, program: Seq[SelectOperation], page: Page) extends Op {
  def run(svc: FlockService): Any = svc.select2(Seq((program, page))).head
  def expected(m: Model): Any = m.select(program, page)
  override def programs: Seq[Seq[SelectOperation]] = Seq(program)
}

final case class CountOp(batch: Seq[Seq[SelectOperation]]) extends Op {
  val cls = "count"
  def run(svc: FlockService): Any = svc.count2(batch)
  def expected(m: Model): Any = m.count2(batch)
  override def programs: Seq[Seq[SelectOperation]] = batch
}

object Ops {
  val Classes: Seq[String] = Seq("point", "page", "setop", "count")

  def fwd(g: Int, v: Long): SelectOperation = TermOp(QueryTerm(v, g))
  def bwd(g: Int, v: Long): SelectOperation = TermOp(QueryTerm(v, g, isForward = false))

  /** `n` serve-read calls of class `Classes(cls)`; the call types inside the class take
    * turns (call `j` is type `j % 3`) and the seed picks the vertices, Zipf-skewed.
    * Follow-up pages use the cursor the model's first page hands back, as a client
    * paging through results would.
    */
  def readClass(
      seed: Long, model: Model, picker: Gen.VertexPicker, cls: Int, n: Int): IndexedSeq[Op] = {
    val rnd = new SplittableRandom(Gen.mix(seed ^ (0xBEEFL + cls)))
    def vertex(): (Int, Long) = picker.pick(rnd)
    def partner(g: Int): Long = Iterator.continually(picker.pick(rnd)).find(_._1 == g).get._2
    def dest(g: Int, src: Long): Long = {
      val nbrs = model.adjacency(QueryTerm(src, g, states = State.all))
      if (nbrs.nonEmpty && rnd.nextBoolean()) nbrs(rnd.nextInt(nbrs.size))._1
      else 1L + rnd.nextInt(Gen.MaxDestination)
    }
    def op(j: Int): Op = (cls, j % 3) match {
      case (0, kind) =>
        val (g, src) = vertex()
        kind match {
          case 0 => ContainsOp(g, src, dest(g, src))
          case 1 => GetOp(g, src, dest(g, src))
          case _ => MetadataOp(g, src)
        }
      case (1, kind) =>
        kind match {
          case 0 =>
            val (g, src) = vertex()
            SelectOp("page", Seq(fwd(g, src)), Page(5, Cursor.Start))
          case 1 =>
            val tries = Iterator.continually(vertex()).take(16).map { case (g, src) =>
              (g, src, model.select(Seq(fwd(g, src)), Page(5, Cursor.Start)).nextCursor)
            }.toSeq
            val (g, src, cursor) = tries.find(_._3 != Cursor.End).getOrElse(tries.head)
            SelectOp("page", Seq(fwd(g, src)),
              Page(5, if (cursor == Cursor.End) Cursor.Start else cursor))
          case _ =>
            SelectOp("page", Seq(bwd(1 + rnd.nextInt(3), 1L + rnd.nextInt(Gen.MaxDestination))),
              Page(10, Cursor.Start))
        }
      case (2, kind) =>
        val (g, a) = vertex()
        val b = partner(g)
        val setOp = kind match {
          case 0 => IntersectionOp
          case 1 => UnionOp
          case _ => DifferenceOp
        }
        SelectOp("setop", Seq(fwd(g, a), fwd(g, b), setOp), Page(10, Cursor.Start))
      case _ =>
        val (g, a) = vertex()
        val b = partner(g)
        CountOp(Seq(
          Seq(fwd(g, a)),
          Seq(fwd(g, a), fwd(g, b), IntersectionOp),
          Seq(fwd(g, a), fwd(g, b), UnionOp),
          Seq(bwd(g, 1L + rnd.nextInt(Gen.MaxDestination)))))
    }
    IndexedSeq.tabulate(n)(op)
  }

  /** The calls of client `client` of `clients`: the classes `k` with
    * `k % clients == client % 4`, taking turns. Four clients send one class each, so
    * one call of every class is always in flight; one client sends all four in turn.
    */
  def readSchedule(seed: Long, model: Model, picker: Gen.VertexPicker,
      client: Int, clients: Int, n: Int): IndexedSeq[Op] = {
    val mine = Classes.indices.filter(_ % math.min(clients, 4) == client % 4)
    val perClass = mine.map(c => readClass(seed + client / 4, model, picker, c, n / mine.size + 1))
    IndexedSeq.tabulate(n)(i => perClass(i % mine.size)(i / mine.size))
  }

  /** One serve-write round: a 10-op single-edge batch (plus one wildcard vertex op every
    * `wildcardEvery`-th round), then the read-your-writes probes over the first written
    * edge.
    */
  final class WriteRounds(seed: Long, picker: Gen.VertexPicker, wildcardEvery: Int) {
    private val rnd = new SplittableRandom(Gen.mix(seed ^ 0xF00DL))
    private var clock = 2000000 // above every updated_at in the loaded log
    private var position = 1L << 40
    private var round = 0

    def next(): (Seq[WriteOp], Seq[Op]) = {
      round += 1
      val singles = Iterator.continually {
        val (g, src) = picker.pick(rnd)
        (g, src, 1L + rnd.nextInt(Gen.MaxDestination))
      }.distinct.take(10).toSeq.map { case (g, src, dst) =>
        val state = rnd.nextInt(5) match {
          case 0 | 1 => OpType.Add
          case 2 => OpType.Remove
          case 3 => OpType.Archive
          case _ => OpType.Negate
        }
        clock += 1; position += 1
        WriteOp(g, src, Some(dst), state, clock, Some(position))
      }
      val wildcard =
        if (round % wildcardEvery != 0) Nil
        else {
          val touched = singles.map(o => (o.graphId, o.sourceId)).toSet
          val (g, v) = Iterator.continually(picker.pick(rnd)).find(k => !touched.contains(k)).get
          val state = Seq(OpType.Archive, OpType.Negate, OpType.Remove)(rnd.nextInt(3))
          clock += 1
          Seq(WriteOp(g, v, None, state, clock))
        }
      val w = singles.head
      val (g, src) = (w.graphId, w.sourceId)
      val other = Iterator.continually(picker.pick(rnd)).find(k => k._1 == g && k._2 != src).get._2
      val reads = Seq(
        ContainsOp(g, src, w.destinationId.get),
        SelectOp("page", Seq(fwd(g, src)), Page(10, Cursor.Start)),
        SelectOp("setop", Seq(fwd(g, src), fwd(g, other), IntersectionOp), Page(10, Cursor.Start)),
        CountOp(Seq(Seq(fwd(g, src)), Seq(fwd(g, src), fwd(g, other), IntersectionOp))))
      (singles ++ wildcard, reads)
    }
  }
}
