package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-facing compact bench line (round-16, r15 verdict #1).
  *
  * BENCH_r14 and BENCH_r15 were both `parsed: null` because the line the
  * driver's bounded (2000-char) stdout tail must end with grew past the
  * buffer — r15's "compact" fallback interpolated the full env block,
  * which under the retry/trim protocols carries sweep-sized maps. The
  * fix makes `Bench.compactLine` take only fixed-arity scalars; this
  * spec asserts the WORST-CASE rendering stays far enough under the
  * driver's buffer that no plausible growth re-breaks the parse, and
  * that the line is complete, self-contained JSON.
  */
class BenchCompactSpec extends AnyFunSuite {

  private def worstCase(path: String): String =
    Bench.compactLine(
      total = 999999.999,
      nQueries = 99999, nFailed = 99999,
      loadavgStart = 9999.999, loadavgEnd = 9999.999,
      sentinelFirst = 9999.999, sentinelLast = 9999.999,
      contended = true, queriesFile = path,
      sfDir = "/root/testdata/sf0.0000000001-some-very-long-dir-name",
      runs = 999)

  test("compact line worst case stays under 1200 chars (driver tail is 2000)") {
    val line = worstCase("/very/long/" + ("x" * 300) + "/bench_results.json")
    assert(line.length < 1200, s"compact line grew to ${line.length} chars")
  }

  // round-18 (r17 verdict #2): per-query entries ride the compact line,
  // heaviest first, under a hard length budget — the driver's tail is a
  // measured 2000 chars (every BENCH_r*.json tail is exactly len 2000),
  // so the full 220-entry map (~6.5 KB) can never ride here; the budget
  // must hold for ANY sweep size.
  test("per-query packing never exceeds the 1800 budget and keeps _all first") {
    val sweep = (1 to 500).map(i => (f"query_with_a_long_name_$i%03d", i * 0.37))
    val line = Bench.compactLine(
      total = 999999.999,
      nQueries = 500, nFailed = 0,
      loadavgStart = 9999.999, loadavgEnd = 9999.999,
      sentinelFirst = 9999.999, sentinelLast = 9999.999,
      contended = true, queriesFile = "/very/long/" + ("x" * 300) + "/b.json",
      sfDir = "/root/testdata/sf0.0000000001-some-very-long-dir-name",
      runs = 999, perQuery = sweep)
    assert(line.length <= 1800, s"compact line grew to ${line.length} chars")
    assert(line.contains("\"queries\":{\"_all\":999999.999,"))
    // heaviest entries packed first: the top sweep entry must be present
    assert(line.contains("\"query_with_a_long_name_500\":185.000"))
    // still complete, balanced JSON
    assert(line.count(_ == '{') == line.count(_ == '}'))
    assert(line.count(_ == '"') % 2 == 0)
  }

  test("empty per-query list renders the legacy _all-only map") {
    val line = worstCase("bench_results.json")
    assert(line.contains("\"queries\":{\"_all\":999999.999},"))
  }

  test("compact line is complete self-contained JSON with the driver's fields") {
    val line = worstCase("bench_results.json")
    assert(line.startsWith("{") && line.endsWith("}"))
    // brace/quote balance — a truncated line fails this immediately
    assert(line.count(_ == '{') == line.count(_ == '}'))
    assert(line.count(_ == '"') % 2 == 0)
    for (f <- Seq("\"metric\":\"total\"", "\"value\":", "\"queries\":{\"_all\":",
        "\"n_queries\":", "\"queries_file\":", "\"contended\":",
        "\"total_normalized\":", "\"sentinel_first\":", "\"sentinel_last\":",
        "\"loadavg_start\":", "\"sf\":", "\"runs_per_query\":", "\"stat\":\"median\""))
      assert(line.contains(f), s"missing $f in: $line")
    // no sweep-sized structures may ever ride this line
    for (banned <- Seq("first_pass", "cal_second", "heavy_min2", "heavy_first",
        "tail_sweep", "tail_fresh", "sentinel_series", "skipped\":["))
      assert(!line.contains(banned), s"sweep-sized field $banned on compact line")
  }

  test("overlong queries_file path is capped, not interpolated whole") {
    val line = worstCase("/a/" + ("y" * 5000) + "/out.json")
    assert(line.length < 1200)
    assert(line.contains("\"queries_file\":\"..."))
  }

  test("paths with quotes/backslashes/control chars are JSON-escaped (r16 advice)") {
    val line = Bench.compactLine(
      total = 1.0, nQueries = 1, nFailed = 0,
      loadavgStart = 0.1, loadavgEnd = 0.1,
      sentinelFirst = 0.2, sentinelLast = 0.2, contended = false,
      queriesFile = "/tmp/we\"ird\\dir\n/bench.json",
      sfDir = "/root/test\"data/sf0.01", runs = 2)
    // still balanced JSON: the raw quote would break both checks
    assert(line.count(_ == '{') == line.count(_ == '}'))
    // the interpolated strings carry escaped forms, never raw specials
    assert(line.contains("we\\\"ird\\\\dir\\u000a"), line)
    assert(line.contains("test\\\"data"), line)
    // the partial and results lines interpolate the same sf dir
    val sf = "/data/te\"st\\sf\t0.01"
    val partial = Bench.partialLine(Seq(("q1_agg", 0.5, false),
      ("boom", 0.1, true)), nPlanned = 3, sfDir = sf, runs = 2,
      compact = false)
    val results = Bench.resultsLine(1.0, Seq("q1_agg" -> 0.5), Seq("boom"),
      "\"loadavg_start\":0.100", sf, runs = 2, precise = true,
      fileOnly = ",\"query_profile\":{}")
    for (l <- Seq(partial, results))
      assert(l.contains("te\\\"st\\\\sf\\u00090.01"), l)
    // parse with the same class of parser the driver uses: unescape and
    // verify no unescaped quote terminates a string early — done by a
    // strict structural walk over the rendered line
    for (line <- Seq(line, partial, results)) {
      var i = 0; var inStr = false; var depth = 0
      while (i < line.length) {
        val c = line.charAt(i)
        if (inStr) {
          if (c == '\\') i += 1
          else if (c == '"') inStr = false
        } else c match {
          case '"' => inStr = true
          case '{' => depth += 1
          case '}' => depth -= 1
          case '\n' | '\r' => fail("raw newline on the compact line")
          case _ => ()
        }
        i += 1
      }
      assert(!inStr && depth == 0, s"structurally invalid JSON: $line")
    }
  }
}
