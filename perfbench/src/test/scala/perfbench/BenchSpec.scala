package perfbench

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("tail: the highest percentile with ten samples beyond it") {
    val t = Stats.tail((1 to 100).map(_.toDouble))
    assert(t.value == 90.0)
    assert(t.percentile == 90.0)
    assert(t.n == 100)
    // exactly ten samples lie above the reported value
    assert((1 to 100).count(_ > t.value) == Stats.TailBeyond)

    val t21 = Stats.tail((1 to 21).map(_.toDouble))
    assert(t21.value == 11.0)
    assert(math.abs(t21.percentile - 100.0 * 11 / 21) < 1e-9)

    val t1000 = Stats.tail((1 to 1000).map(_.toDouble).reverse)
    assert(t1000.value == 990.0)
    assert(t1000.percentile == 99.0)
  }

  test("tail: too few samples for any such percentile reports the median") {
    val t = Stats.tail((1 to 20).map(_.toDouble))
    assert(t.percentile == 50.0)
    assert(t.value == 10.5)
    assert(Stats.tail(Seq(7.0)).value == 7.0)
  }

  test("median: the middle sample, or the mean of the two middle ones") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.median(Seq(5.0)) == 5.0)
  }

  test("self time: abutting children are both subtracted") {
    assert(Stats.selfTime((0.0, 100.0), Seq((10.0, 20.0), (20.0, 30.0))) == 80.0)
  }

  test("self time: nested and overlapping children count once") {
    assert(Stats.selfTime((0.0, 100.0), Seq((10.0, 50.0), (20.0, 30.0))) == 60.0)
    assert(Stats.selfTime((0.0, 100.0), Seq((10.0, 50.0), (40.0, 60.0))) == 50.0)
  }

  test("self time: children are clipped to the parent") {
    assert(Stats.selfTime((0.0, 100.0), Seq((-10.0, 5.0), (95.0, 120.0))) == 90.0)
    assert(Stats.selfTime((0.0, 10.0), Seq((-5.0, 20.0))) == 0.0)
    assert(Stats.selfTime((0.0, 10.0), Nil) == 10.0)
  }

  test("self time through the tracer: only direct children count") {
    val tr = new Tracer
    val root = tr.add("emulator.execute", 0, 100, -1, 0)
    val job = tr.add("spark.job", 40, 70, root.id, 0)
    tr.add("catalyst.analysis", 10, 20, root.id, 0)
    tr.add("spark.stage", 45, 50, job.id, 0) // grandchild: inside the job already
    tr.add("emulator.execute", 200, 210, -1, 1) // another statement
    assert(tr.selfMs(root) == 60.0)
    assert(tr.selfMs(job) == 25.0)
  }

  test("rows written per row changed") {
    // an UPDATE of one row in a 20k-row table that rewrites it three times
    assert(Stats.rowsWrittenPerRowChanged(60000L, 1L) == 60000.0)
    assert(Stats.rowsWrittenPerRowChanged(50L, 10L) == 5.0)
    // writes that change nothing still show
    assert(Stats.rowsWrittenPerRowChanged(20000L, 0L) == 20000.0)
    assert(Stats.rowsWrittenPerRowChanged(0L, 4L) == 0.0)
  }

  private val expected = Seq(
    Seq(1L, "1-URGENT", new java.math.BigDecimal("123.40")),
    Seq(2L, "2-HIGH", new java.math.BigDecimal("0.05")),
    Seq(3L, null, new java.math.BigDecimal("-7.00")))

  test("answers: one altered row is rejected") {
    val e = Expect.rows(expected)
    assert(Expect.holds(e, Reply(expected, 0, 0)))
    val altered = expected.updated(1, Seq(2L, "2-HIGH", new java.math.BigDecimal("0.06")))
    assert(!Expect.holds(e, Reply(altered, 0, 0)))
    val renamed = expected.updated(0, Seq(1L, "1-urgent", new java.math.BigDecimal("123.40")))
    assert(!Expect.holds(e, Reply(renamed, 0, 0)))
    assert(!Expect.holds(e, Reply(expected.take(2), 0, 0)))
    assert(!Expect.holds(e, Reply(expected :+ expected.head, 0, 0)))
  }

  test("answers: row order and value encoding do not matter") {
    val e = Expect.rows(expected)
    // gosnowflake sends every value as a string
    val strings = Seq(Seq("3", null, "-7"), Seq("1", "1-URGENT", "123.4"), Seq("2", "2-HIGH", "0.050"))
    assert(Expect.holds(e, Reply(strings, 0, 0)))
    // REST v2 sends typed JSON numbers
    val typed: Seq[Seq[Any]] = Seq(Seq(new java.math.BigDecimal("2"), "2-HIGH", 0.05),
      Seq(3, null, -7.0), Seq(1, "1-URGENT", new java.math.BigDecimal("123.4000")))
    assert(Expect.holds(e, Reply(typed, 0, 0)))
  }

  test("answers: numbers compare at two decimals") {
    assert(Answers.canon(0.125) == Answers.canon("0.13"))
    assert(Answers.canon(-0.001) == Answers.canon(0))
    assert(Answers.canon("007") == "7")
    assert(Answers.canon("s3") == "s3")
  }

  test("answers: row counts and success") {
    assert(Expect.holds(Expect.Affected(4), Reply(Seq(Seq(4L)), 4, 0)))
    assert(!Expect.holds(Expect.Affected(4), Reply(Seq(Seq(3L)), 3, 0)))
  }

  test("interval union") {
    assert(Stats.unionLength(Seq((0.0, 1.0), (2.0, 3.0), (2.5, 4.0), (10.0, 10.0))) == 3.0)
    assert(Stats.unionLength(Nil) == 0.0)
  }
}
