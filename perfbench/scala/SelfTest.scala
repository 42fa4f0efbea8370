package perfbench

/** Self-tests of the harness's own arithmetic: the tail rule and span self
  * time. Run by `python3 perfbench/run.py --selftest`; exits 1 on failure. */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  private def span(id: Long, start: Long, end: Long, parent: Long = 0L) =
    Span(id, s"s$id", "", start, end, parent, 1L, Map.empty)

  def main(args: Array[String]): Unit = {
    // tail: the highest ladder percentile with >= 10 samples ranked above it
    val xs = (1 to 100).map(_.toDouble)
    expect("tail of 100 samples is p90 at rank 90",
      Stats.tail(xs).contains(Stats.Tail(90.0, 90.0, 90, 100)), s"${Stats.tail(xs)}")
    expect("tail of 19 samples is undefined", Stats.tail(xs.take(19)).isEmpty)
    expect("tail of 20 samples is the median",
      Stats.tail(xs.take(20)).map(t => (t.p, t.rank)).contains((50.0, 10)), s"${Stats.tail(xs.take(20))}")
    expect("tail of 1000 samples is p99",
      Stats.tail((1 to 1000).map(_.toDouble)).map(_.p).contains(99.0))
    expect("tail of 10000 samples is p99.9",
      Stats.tail((1 to 10000).map(_.toDouble)).map(_.p).contains(99.9))
    expect("tail ignores input order",
      Stats.tail(xs.reverse) == Stats.tail(xs))
    expect("median of an even sample averages the middle pair",
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    // self time: duration minus the union of children clipped to the parent
    val spans = Seq(
      span(1, 0, 100),
      span(2, 10, 30, parent = 1), span(3, 20, 50, parent = 1), // overlap: 10..50
      span(4, 90, 120, parent = 1),                              // clipped: 90..100
      span(5, 12, 14, parent = 2))
    val self = Spans.selfTimes(spans)
    expect("self time subtracts the union of overlapping children", self(1) == 50L, s"${self(1)}")
    expect("self time of a leaf is its duration", self(3) == 30L && self(4) == 30L)
    expect("grandchildren count only against their parent", self(2) == 18L, s"${self(2)}")
    expect("a span with a child covering it fully has no self time",
      Spans.selfTimes(Seq(span(1, 0, 10), span(2, 0, 10, 1)))(1) == 0L)

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
