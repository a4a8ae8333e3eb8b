package ragbench

import org.scalatest.funsuite.AnyFunSuite

/** The correctness gate must reject wrong answers, not only pass right
  * ones. */
class CheckSpec extends AnyFunSuite {
  private val gen = new Gen(11L)
  private val r = gen.rng(99L, 0L)
  private val vs = {
    val ids = (0L until 200L).toArray
    new Check.Vectors(ids, ids.map(_ => Array.fill(8)(r.nextDouble().toFloat - 0.5f)))
  }
  private val q = Seq.fill(8)(r.nextDouble().toFloat - 0.5f)
  private val top = vs.topK(q, 5).map(_._1)

  test("the oracle's own top-5 passes") {
    assert(Check.exactTopK(vs, q, top, 5).isEmpty)
    assert(Check.ranked(vs, q, top).isEmpty)
  }

  test("two swapped ranks fail the exact and the ranked check") {
    val swapped = top.updated(1, top(3)).updated(3, top(1))
    assert(Check.exactTopK(vs, q, swapped, 5).nonEmpty)
    assert(Check.ranked(vs, q, swapped).nonEmpty)
  }

  test("a missed neighbour, a short list and a foreign pk fail") {
    val worst = vs.topK(q, 200).last._1
    assert(Check.exactTopK(vs, q, top.init :+ worst, 5).nonEmpty)
    assert(Check.exactTopK(vs, q, top.init, 5).nonEmpty)
    assert(Check.exactTopK(vs, q, top.init :+ 999L, 5).nonEmpty)
  }

  test("context and answer follow the reference backend's format") {
    val text = Map(1L -> "first doc", 2L -> "second doc")
    val ctx = "[1] first doc\n\n[2] second doc"
    assert(Check.ragAnswer(ctx, "first doc", Seq(1L, 2L), text.get).isEmpty)
    assert(Check.ragAnswer(ctx, "second doc", Seq(1L, 2L), text.get).nonEmpty)
    assert(Check.ragAnswer("[1] first doc\n[2] second doc", "first doc",
      Seq(1L, 2L), text.get).nonEmpty)
    assert(Check.ragAnswer("[1] first doc\n\n[2] other text", "first doc",
      Seq(1L, 2L), text.get).nonEmpty)
    assert(Check.ragAnswer(Check.Refusal, Check.Refusal, Nil, text.get).isEmpty)
  }

  test("the generator is deterministic per seed") {
    val a = new Gen(5L)
    val b = new Gen(5L)
    assert(a.corpus(50) == b.corpus(50))
    assert(a.questionPool(20, 50) == b.questionPool(20, 50))
    assert(new Gen(6L).corpus(50) != a.corpus(50))
    // a larger corpus extends a smaller one
    assert(a.corpus(80).take(50) == a.corpus(50))
  }

  test("a failed op fails the run and is never a timing sample") {
    val run = new Run(null, "unused", Scale.Tiny, 1L)
    assert(run.correct(Seq(1.0)))
    assert(run.op("request") { throw new IllegalStateException("boom") }.isEmpty)
    assert(run.attempted.get == 1 && run.failed.get == 1)
    assert(!run.correct(Seq(1.0)))
  }

  test("a metric that is not a finite number fails the run") {
    val run = new Run(null, "unused", Scale.Tiny, 1L)
    assert(!run.correct(Seq(1.0, Double.NaN)))
  }

  test("bad arguments are rejected before a session starts") {
    val ok = Array("--workload", "sync", "--seed", "1", "--seconds", "5",
      "--trace", "0")
    assert(Main.parse(ok).workload == "sync")
    Seq(ok.updated(1, "serve"), ok.updated(7, "2"), ok.updated(3, "x"),
      ok ++ Array("--scale", "tiny"), ok.take(6)).foreach { bad =>
      intercept[IllegalArgumentException](Main.parse(bad))
    }
  }

  /** A workload whose op times are given up front. */
  private class Scripted(times: Seq[Double], cap: Double) extends Workload {
    private var i = 0
    val name = "scripted"
    val opKind = "op"
    val readKind = "op"
    val warmMinOps = 2
    val warmCapS = cap
    def setup(): Unit = ()
    def step(w: Window, traced: Boolean): Unit = {
      w.add(opKind, times(i)); i += 1
    }
    def enough(plain: Window, traced: Option[Window]) = true
    def check(): Unit = ()
    def endToEnd(w: Window): Map[String, Double] = Map.empty
    def details(w: Window) = Nil
  }

  test("the warm-up runs until op times stop falling") {
    val w = new Window
    val wu = Workload.warmUp(new Scripted(Seq(300, 200, 150, 120, 118, 90), 1e9), w)
    assert(wu.settled && wu.opMs == Seq(300.0, 200.0, 150.0, 120.0, 118.0))
  }

  test("the warm-up stops at its time cap and says it did not settle") {
    val wu = Workload.warmUp(new Scripted(Seq(300, 200, 150), 0.0), new Window)
    assert(!wu.settled && wu.opMs == Seq(300.0, 200.0))
  }

  test("tail is the highest percentile with ten samples above it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs).contains((90, 90.0)))
    assert(Stats.tail(xs.take(10)).isEmpty)
  }
}
