package graft

import org.scalatest.funsuite.AnyFunSuite

/** The fork-per-chunk parent accepts a child's JSON line ONLY when it
  * parses cleanly into exactly the chunk's query set — a truncated line, a
  * dropped query (bench failure) or garbage must fail the chunk (None →
  * the run fails), never merge partially or as garbage numbers. */
class BenchParseSpec extends AnyFunSuite {

  private val g = Seq("q_a", "q_b")

  test("well-formed line with exactly the chunk's queries parses") {
    val line = """{"metric":"total","value":3.000,"unit":"sec","runs":3,"agg":"min","queries":{"q_a":1.250,"q_b":1.750},"sf":"/x"}"""
    assert(Bench.parseChunkLine(line, g) ===
      Some(Bench.Chunk(Seq("q_a" -> 1.25, "q_b" -> 1.75), None, Nil)))
  }

  test("calibration probe time is picked up from the line head") {
    val line = """{"metric":"total","value":3.000,"unit":"sec","runs":3,"agg":"min","calib":0.462,"queries":{"q_a":1.250,"q_b":1.750},"sf":"/x"}"""
    assert(Bench.parseChunkLine(line, g) ===
      Some(Bench.Chunk(Seq("q_a" -> 1.25, "q_b" -> 1.75), Some(0.462), Nil)))
  }

  test("a query literally named calib cannot shadow the probe field") {
    // the probe is searched only BEFORE the queries object, so a query
    // value can never be mistaken for the calibration time
    val gc = Seq("calib", "q_b")
    val line = """{"metric":"total","value":3.000,"unit":"sec","runs":3,"agg":"min","queries":{"calib":1.250,"q_b":1.750},"sf":"/x"}"""
    assert(Bench.parseChunkLine(line, gc) ===
      Some(Bench.Chunk(Seq("calib" -> 1.25, "q_b" -> 1.75), None, Nil)))
  }

  test("a child's memoized list parses, and the lists of two chunks merge") {
    val a = Bench.parseChunkLine("""{"metric":"total","value":3.000,"unit":"sec","runs":3,"agg":"min","calib":0.462,"memoized":["q_b"],"queries":{"q_a":1.250,"q_b":1.750},"sf":"/x"}""", g)
    assert(a === Some(Bench.Chunk(Seq("q_a" -> 1.25, "q_b" -> 1.75), Some(0.462), Seq("q_b"))))
    val g2 = Seq("r_a", "r_b")
    val b = Bench.parseChunkLine("""{"metric":"total","value":3.000,"unit":"sec","runs":3,"agg":"min","memoized":["r_a","r_b"],"queries":{"r_a":1.250,"r_b":1.750},"sf":"/x"}""", g2)
    assert(Seq(a, b).flatten.flatMap(_.memoized) === Seq("q_b", "r_a", "r_b"))
    // a name outside the chunk is garbage, not a mergeable declaration
    assert(Bench.parseChunkLine("""{"metric":"total","value":3.000,"unit":"sec","memoized":["r_a"],"queries":{"q_a":1.250,"q_b":1.750},"sf":"/x"}""", g).isEmpty)
  }

  test("truncated line (no sf suffix) is rejected") {
    val line = """{"metric":"total","value":3.000,"unit":"sec","queries":{"q_a":1.250,"q_b":1.7"""
    assert(Bench.parseChunkLine(line, g).isEmpty)
  }

  test("line missing one of the chunk's queries is rejected") {
    val line = """{"metric":"total","value":1.250,"unit":"sec","runs":3,"agg":"min","queries":{"q_a":1.250},"sf":"/x"}"""
    assert(Bench.parseChunkLine(line, g).isEmpty)
  }

  test("line with an extra unexpected query is rejected") {
    val line = """{"metric":"total","value":3.0,"unit":"sec","runs":3,"agg":"min","queries":{"q_a":1.250,"q_b":1.750,"q_c":0.500},"sf":"/x"}"""
    assert(Bench.parseChunkLine(line, g).isEmpty)
  }

  test("line with a duplicated query key is rejected (no last-wins merge)") {
    val line = """{"metric":"total","value":3.0,"unit":"sec","runs":3,"agg":"min","queries":{"q_a":1.250,"q_a":0.100,"q_b":1.750},"sf":"/x"}"""
    assert(Bench.parseChunkLine(line, g).isEmpty)
  }

  test("summary line is formatted from the values, never in scientific notation") {
    assert(Bench.summaryLine(Bench.Summary(12345678.9, Some(0.4621), 159, 32)) ===
      """{"metric":"total","value":12345678.900,"unit":"sec","calib":0.462,"cpus":32,"n_queries":159,"mode":"summary","full":"BENCH_FULL_c32.json"}""")
    assert(Bench.summaryLine(Bench.Summary(1e-7, None, 1, 8)) ===
      """{"metric":"total","value":0.000,"unit":"sec","cpus":8,"n_queries":1,"mode":"summary","full":"BENCH_FULL_c8.json"}""")
  }

  test("SPARK_GRAFT_CPUS is used only when it is a positive integer") {
    val all = Runtime.getRuntime.availableProcessors
    assert(Bench.cpusFrom(Some("8")) === 8)
    assert(Bench.cpusFrom(Some(" 16 ")) === 16)
    Seq(None, Some(""), Some("eight"), Some("8 cores"), Some("0"), Some("-4"),
      Some("99999999999")).foreach { v =>
      assert(Bench.cpusFrom(v) === all, s"for $v")
    }
  }

  test("sentinel-sized garbage values do not slip through as times") {
    // a query failing every pass used to format Double.MaxValue into the
    // JSON; the child now omits it, so the parent sees a missing query
    val line = """{"metric":"total","value":0.0,"unit":"sec","runs":3,"agg":"min","queries":{"q_b":1.750},"sf":"/x"}"""
    assert(Bench.parseChunkLine(line, g).isEmpty)
  }

  test("a rejected chunk's stderr line is plain ASCII") {
    // the forked test JVM (and many CI shells) run without a UTF-8 locale,
    // where any non-ASCII character prints as '?'
    val buf = new java.io.ByteArrayOutputStream
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try assert(Bench.parseChunkLine("""{"metric":"total","value":1.250,"unit":"sec","queries":{"q_a":1.250},"sf":"/x"}""", g).isEmpty)
    finally System.setErr(saved)
    val text = buf.toString("UTF-8")
    assert(text.contains("treating chunk as failed"))
    assert(text.forall(_ < 128), text)
  }
}
