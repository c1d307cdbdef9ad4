package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail picks the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(scala.util.Random.shuffle(xs))
    assert(t.value == 90.0)
    assert(t.beyond == 10)
    assert(t.percentile == 90.0)
    assert(t.samples == 100)
  }

  test("tail over eleven samples is the minimum, the only point with ten beyond") {
    val t = Stats.tail((1 to 11).map(_.toDouble))
    assert(t.value == 1.0)
    assert(t.beyond == 10)
    assert(math.abs(t.percentile - 100.0 / 11) < 1e-9)
  }

  test("with ten samples or fewer no percentile qualifies: the median is reported with its real count") {
    val t = Stats.tail((1 to 10).map(_.toDouble))
    assert(t.value == 5.5)
    assert(t.percentile == 50.0)
    assert(t.beyond == 5)
    val one = Stats.tail(Seq(3.0))
    assert(one.value == 3.0 && one.beyond == 0 && one.samples == 1)
  }

  test("median of even and odd counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}

class RecorderSpec extends AnyFunSuite {

  test("wrong outputs and exceptions count as failures and are never latency samples") {
    val r = new Recorder
    assert(r.run("scan", "ok")((10L, true)))
    assert(!r.run("scan", "wrong")((20L, false)))
    assert(!r.run("scan", "throws")(throw new IllegalStateException("boom")))
    assert(!r.run("meta", "wrong")((5L, false)))
    assert(r.attempted == 4)
    assert(r.failed == 3)
    assert(r.of("scan").length == 1)
    assert(r.of("meta").isEmpty)
    assert(r.all.length == 1)
    assert(r.rows == 10L)
    assert(r.failures.exists(_.contains("boom")))
    assert(r.log.map(_._2) == Seq("ok"))
  }
}

class TracerSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, s: Long, e: Long, name: String = "x") =
    Span(id, name, parent, 0L, s, e)

  test("self time is the duration minus the union of direct children, clipped to the parent") {
    val spans = Seq(
      span(0, -1, 0, 100, "root"),
      span(1, 0, 10, 30, "a"),
      span(2, 0, 20, 50, "b"), // overlaps a: covered [10, 50)
      span(3, 0, 90, 120, "c"), // runs past the parent: only [90, 100) counts
      span(4, 1, 12, 28, "grandchild")) // counts against a, not root
    val self = Tracer.selfTimes(spans)
    assert(self(0) == 100 - 40 - 10)
    assert(self(1) == 20 - 16)
    assert(self(2) == 30)
    assert(self(3) == 30)
    assert(self(4) == 16)
  }

  test("self time sums per name") {
    val spans = Seq(span(0, -1, 0, 10, "op"), span(1, 0, 0, 4, "io"), span(2, -1, 20, 30, "op"),
      span(3, 2, 25, 30, "io"))
    assert(Tracer.selfByName(spans) == Map("op" -> 11L, "io" -> 9L))
  }

  test("the tracer records nesting, and a disabled tracer records nothing") {
    val t = new Tracer(true)
    t.span("outer")(t.span("inner")(()))
    val Seq(inner, outer) = t.spans
    assert(inner.parent == outer.id && outer.parent == -1)
    assert(inner.startNs >= outer.startNs && inner.endNs <= outer.endNs)
    val off = new Tracer(false)
    assert(off.span("x")(41 + 1) == 42)
    assert(off.spans.isEmpty)
  }
}
