package perfbench

/** The benchmark's own tests: the percentile rule, span self-time
  * arithmetic and the paced generator's due-time accounting. Run with
  * `python3 perfbench/run.py --self-test`; exits non-zero on failure.
  */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  $name threw $e"); false }
    if (ok) passed += 1 else { failures += 1; println(s"FAIL $name") }
  }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def percentiles(): Unit = {
    check("percentile interpolates like statistics.quantiles(method='inclusive')") {
      val xs = Seq(1.0, 2, 3, 4, 5, 6, 7, 8, 9, 10)
      near(Stats.percentile(xs, 25), 3.25) && near(Stats.percentile(xs, 75), 7.75) &&
        near(Stats.median(xs), 5.5)
    }
    check("percentile of one sample is that sample") { near(Stats.percentile(Seq(4.0), 90), 4.0) }
    check("percentile ignores input order") {
      near(Stats.percentile(Seq(9.0, 1, 5), 50), 5.0)
    }
    check("100 samples support p90 (10 beyond it)") { Stats.highestSupported(100).contains(90.0) }
    check("99 samples do not support p90, only p75") { Stats.highestSupported(99).contains(75.0) }
    check("200 samples support p95") { Stats.highestSupported(200).contains(95.0) }
    check("1000 samples support p99") { Stats.highestSupported(1000).contains(99.0) }
    check("10000 samples support p99.9") { Stats.highestSupported(10000).contains(99.9) }
    check("19 samples support nothing") { Stats.highestSupported(19).isEmpty }
    check("20 samples support the median") { Stats.highestSupported(20).contains(50.0) }
  }

  def spans(): Unit = {
    def s(id: Int, a: Long, b: Long, parent: Option[Int]) = Span(id, s"s$id", a, b, parent, "t")
    check("self time subtracts children") {
      val st = Spans.selfTimes(Seq(s(1, 0, 100, None), s(2, 10, 30, Some(1)), s(3, 50, 90, Some(1))))
      st(1) == 40 && st(2) == 20 && st(3) == 40
    }
    check("overlapping children count once") {
      val st = Spans.selfTimes(Seq(s(1, 0, 100, None), s(2, 10, 60, Some(1)), s(3, 40, 80, Some(1))))
      st(1) == 30
    }
    check("a child running past its parent is clipped") {
      val st = Spans.selfTimes(Seq(s(1, 0, 100, None), s(2, 80, 150, Some(1))))
      st(1) == 80 && st(2) == 70
    }
    check("grandchildren do not reduce the grandparent") {
      val st = Spans.selfTimes(Seq(s(1, 0, 100, None), s(2, 0, 50, Some(1)), s(3, 0, 50, Some(2))))
      st(1) == 50 && st(2) == 0 && st(3) == 50
    }
    check("self times of a tree sum to the root's duration") {
      val tree = Seq(s(1, 0, 1000, None), s(2, 100, 400, Some(1)), s(3, 150, 200, Some(2)),
        s(4, 500, 900, Some(1)), s(5, 600, 700, Some(4)), s(6, 700, 800, Some(4)))
      Spans.selfTimes(tree).values.sum == 1000
    }
    check("recorder nests spans opened on one thread") {
      val rec = new Spans("t")
      rec.time("outer") { rec.time("inner") { Thread.sleep(2) } }
      val all = rec.all
      val outer = all.find(_.name == "outer").get
      val inner = all.find(_.name == "inner").get
      inner.parent.contains(outer.id) && outer.parent.isEmpty &&
        Spans.selfTimes(all)(outer.id) == outer.durNs - inner.durNs
    }
  }

  def pacer(): Unit = {
    check("due times are absolute: t0 + i * period") {
      val p = new Pacer(1000L, 50L)
      p.dueNs(0) == 1000L && p.dueNs(1) == 1050L && p.dueNs(10) == 1500L
    }
    check("lateness is actual minus due, never negative") {
      val p = new Pacer(0L, 100L)
      p.latenessNs(3, 330L) == 30L && p.latenessNs(3, 250L) == 0L
    }
    check("a late arrival does not shift the next due time") {
      val p = new Pacer(0L, 100L)
      // arrival 1 was moved 250 ns late; 2 and 3 are then late by less
      val moved = Seq(0L, 350L, 351L, 400L)
      val late = moved.indices.map(i => p.latenessNs(i, moved(i)))
      (0 until 4).map(p.dueNs) == Seq(0L, 100L, 200L, 300L) &&
        late == Seq(0L, 250L, 151L, 100L)
    }
    check("awaitDue returns at the first clock reading at or past the due time") {
      val p = new Pacer(0L, 100L)
      var clock = 0L
      p.awaitDue(3, () => { clock += 10; clock })
      clock == 300L
    }
    check("awaitDue waits until the due time on a real clock") {
      val p = new Pacer(System.nanoTime() + 2000000L, 1000000L)
      p.awaitDue(3)
      System.nanoTime() >= p.dueNs(3)
    }
  }

  def main(argv: Array[String]): Unit = {
    percentiles(); spans(); pacer()
    println(s"perfbench self-test: $passed passed, $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
