package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(Seq(3.0), 99) == 3.0)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    def xs(n: Int) = (1 to n).map(_.toDouble)
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.beyond(100, 95) == 5)
    assert(Stats.tail(xs(100)) == Some((90.0, 90.0)))
    assert(Stats.tail(xs(199)).map(_._1) == Some(90.0)) // p95 has 9 beyond
    assert(Stats.tail(xs(200)).map(_._1) == Some(95.0))
    assert(Stats.tail(xs(1000)).map(_._1) == Some(99.0))
    assert(Stats.tail(xs(10000)).map(_._1) == Some(99.9))
    assert(Stats.tail(xs(40)).map(_._1) == Some(75.0))
    assert(Stats.tail(xs(39)).isEmpty) // p75 of 39 leaves 9 beyond
    assert(Stats.tail(Nil).isEmpty)
  }

  test("the geometric mean refuses to leave a value out") {
    assert(math.abs(Stats.gmean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    assertThrows[IllegalArgumentException](Stats.gmean(Seq(1.0, 0.0)))
    assertThrows[IllegalArgumentException](Stats.gmean(Nil))
  }

  test("union length merges overlapping and nested intervals") {
    assert(Stats.unionLength(Nil) == 0.0)
    assert(Stats.unionLength(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0), (21.0, 22.0))) == 20.0)
    assert(Stats.unionLength(Seq((3.0, 3.0), (5.0, 4.0))) == 0.0)
  }

  test("self time subtracts the union of children, clipped to the parent") {
    val children = Seq((10.0, 30.0), (20.0, 50.0), (90.0, 120.0), (-5.0, 2.0))
    // covered: [0,2] + [10,50] + [90,100] = 52 of 100
    assert(Stats.selfTime(0.0, 100.0, children) == 48.0)
    assert(Stats.selfTime(0.0, 10.0, Seq((0.0, 10.0), (2.0, 3.0))) == 0.0)
    assert(Stats.selfTime(0.0, 10.0, Nil) == 10.0)
  }

  test("tracer self times per layer add up to the root's length") {
    val t = new Tracer(true)
    val run = t.add(0L, "run", "r", "", 0.0, 100.0)
    val q = t.add(run, "query", "q", "q", 10.0, 90.0)
    val a = t.add(q, "action", "q", "q", 20.0, 90.0)
    val j = t.add(a, "job", "j", "q", 30.0, 80.0)
    t.add(j, "stage", "s1", "q", 30.0, 60.0)
    t.add(j, "stage", "s2", "q", 40.0, 70.0) // concurrent with s1
    val self = t.layerSelfSeconds.map { case (k, v) => k -> v * 1000.0 }
    assert(self("run") == 20.0)
    assert(self("query") == 10.0)
    assert(self("action") == 20.0)
    assert(self("job") == 10.0)
    assert(self("stage") == 60.0) // each stage's own length: 30 + 30
    assert(self.values.sum - 20.0 == 100.0) // concurrent stages count twice
    assert(new Tracer(false).add(0L, "run", "r", "", 0.0, 1.0) == 0L)
    assert(new Tracer(false).all.isEmpty)
  }
}
