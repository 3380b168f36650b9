package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {

  test("union of job intervals merges overlaps and keeps gaps") {
    assert(Tracer.unionLength(Nil) == 0)
    assert(Tracer.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    assert(Tracer.unionLength(Seq((20L, 30L), (0L, 40L))) == 40)
    assert(Tracer.unionLength(Seq((0L, 10L), (10L, 12L))) == 12)
  }

  // outer [0, 100] holds inner [10, 50]; jobs 1-2 overlap inside inner,
  // job 3 runs in outer only, job 4 starts in outer and ends after it,
  // job 5 starts before any span
  private val spans = Seq(
    Span(1, "inner", 0, "r", 10, 50, 40000000L),
    Span(0, "outer", -1, "r", 0, 100, 100000000L))
  private val jobs = Seq(
    JobRec(1, 12, 20, Seq(10)), JobRec(2, 15, 30, Seq(11, 12)),
    JobRec(3, 60, 70, Seq(13)), JobRec(4, 95, 120, Seq(14)), JobRec(5, -5, 5, Seq(15)))
  private val stages = Seq(10, 11, 12, 13, 14, 15).map(i =>
    i -> StageRec(i, tasks = 2, shuffleReadBytes = i, shuffleWriteBytes = 100 * i,
      spillBytes = 0, outputBytes = 1)).toMap
  private val stats = Tracer.attribute(spans, jobs, stages).map(s => s.span.name -> s).toMap

  test("a job counts in the innermost open span and in every enclosing one") {
    assert(stats("inner").jobs == 2 && stats("inner").selfJobs == 2)
    assert(stats("outer").jobs == 4 && stats("outer").selfJobs == 2)
  }

  test("a job started in the millisecond one sibling ends and the next begins counts once") {
    val siblings = Seq(
      Span(0, "first", -1, "r", 0, 10, 10000000L),
      Span(1, "second", -1, "r", 10, 20, 10000000L))
    val st = Tracer.attribute(siblings, Seq(JobRec(1, 10, 15, Nil)), Map.empty)
      .map(s => s.span.name -> s).toMap
    assert(st("first").jobs == 0 && st("first").selfJobs == 0)
    assert(st("second").jobs == 1 && st("second").selfJobs == 1)
    assert(st("first").driverGapMs == 10 && st("second").driverGapMs == 5)
  }

  test("driver gap is span wall minus the union of its jobs, clipped to the span") {
    assert(stats("inner").driverGapMs == 40 - 18)           // jobs cover 12..30
    assert(stats("outer").driverGapMs == 100 - (18 + 10 + 5)) // + 60..70 + 95..100
  }

  test("stage metrics are summed over the span's jobs") {
    assert(stats("inner").stages == 3 && stats("inner").tasks == 6)
    assert(stats("inner").shuffleWriteBytes == 100 * (10 + 11 + 12))
    assert(stats("outer").shuffleReadBytes == 10 + 11 + 12 + 13 + 14)
  }

  test("a disabled tracer runs the body and records nothing") {
    val tr = new Tracer(enabled = false, "r")
    assert(tr.span("x")(41 + 1) == 42)
    assert(tr.recorded.isEmpty)
  }

  test("spans nest by call order") {
    val tr = new Tracer(enabled = true, "r")
    tr.span("a") { tr.span("b")(()); tr.span("c")(()) }
    val byName = tr.recorded.map(s => s.name -> s).toMap
    assert(byName("b").parent == byName("a").id && byName("c").parent == byName("a").id)
    assert(byName("a").parent == -1)
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 40).map(_.toDouble)).contains((75, 30.0)))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }
}
