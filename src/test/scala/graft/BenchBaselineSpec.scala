package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench regression gate's baseline loader: per-query minimum
  * across every archived round. Pointed at fixture dirs so the
  * sort/min/missing-file behavior is testable without running a bench.
  */
class BenchBaselineSpec extends AnyFunSuite {

  private def fixture(files: (String, String)*): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_fix").toFile
    files.foreach { case (name, body) =>
      val w = new java.io.PrintWriter(new java.io.File(dir, name))
      try w.write(body) finally w.close()
    }
    dir
  }

  private def round(qs: (String, Double)*): String = {
    val m = qs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"n":1,"parsed":{"queries":{$m}}}"""
  }

  private def roundAt(sf: String, qs: (String, Double)*): String = {
    val m = qs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"n":1,"sf":"$sf","parsed":{"queries":{$m}}}"""
  }

  test("baseline is the per-query min across ALL archived rounds") {
    val dir = fixture(
      "BENCH_r04.json" -> round("a" -> 1.0, "b" -> 9.0),
      "BENCH_r05.json" -> round("a" -> 3.0, "b" -> 2.0, "c" -> 4.0),
      "BENCH_r06.json" -> round("a" -> 2.0, "b" -> 21.0))
    val base = Bench.regressionBaseline(dir)
    assert(base === Map("a" -> 1.0, "b" -> 2.0, "c" -> 4.0))
  }

  test("unpadded round numbers sort numerically, not lexicographically") {
    // r9 vs r10: lexicographic filename order would put r9 last and
    // (under the old newest-round rule) make it a permanently stale
    // baseline; the min rule plus numeric extraction is immune
    val dir = fixture(
      "BENCH_r9.json" -> round("a" -> 5.0),
      "BENCH_r10.json" -> round("a" -> 1.5))
    assert(Bench.regressionBaseline(dir) === Map("a" -> 1.5))
  }

  test("baseline lookback window drops rounds older than the newest 4") {
    // r01 holds the all-time min for "a" but falls outside the window:
    // an accepted slowdown self-heals once its pre-change rounds age
    // out, instead of being flagged REGRESSION forever
    val dir = fixture(
      "BENCH_r01.json" -> round("a" -> 0.1),
      "BENCH_r02.json" -> round("a" -> 5.0),
      "BENCH_r03.json" -> round("a" -> 4.0),
      "BENCH_r04.json" -> round("a" -> 6.0),
      "BENCH_r05.json" -> round("a" -> 7.0))
    assert(Bench.regressionBaseline(dir) === Map("a" -> 4.0))
  }

  test("one unreadable round is skipped, not fatal to the baseline") {
    val dir = fixture(
      "BENCH_r04.json" -> round("a" -> 2.0),
      "BENCH_r05.json" -> "{truncated-mid-write",
      "BENCH_r06.json" -> round("a" -> 3.0))
    assert(Bench.regressionBaseline(dir) === Map("a" -> 2.0))
  }

  test("regression gate needs BOTH 1.5x relative and 0.3s absolute") {
    assert(Bench.overGate(now = 1.0, was = 0.5))
    // relative trip, absolute floor holds it back (0.1s-scale noise)
    assert(!Bench.overGate(now = 0.25, was = 0.1))
    // absolute delta large, relative under 1.5x (slow query drift)
    assert(!Bench.overGate(now = 10.4, was = 10.0))
    assert(!Bench.overGate(now = 0.5, was = 0.5))
  }

  test("run-log minima merge with archive minima (full-registry coverage)") {
    // archive knows only headline query "a"; the run log also knows
    // non-headline "b" and holds a lower "a" — the merged baseline
    // takes the min for "a" and gains coverage of "b"
    val dir = fixture(
      "BENCH_r06.json" -> roundAt("/sf0.1", "a" -> 2.0),
      "BENCH_RUNS.jsonl" ->
        ("""{"sf":"/sf0.1","queries":{"a":1.2,"b":3.0}}""" + "\n" +
          """{"sf":"/sf0.1","queries":{"a":1.8,"b":2.5}}"""))
    assert(Bench.regressionBaseline(dir, "/sf0.1")
      === Map("a" -> 1.2, "b" -> 2.5))
  }

  test("archives from a different sf never gate a bench at another scale") {
    // driver archives are sf0.1; an sf1 bench gated against them would
    // flag every query (~10x data) and re-measure the whole registry
    val dir = fixture(
      "BENCH_r06.json" -> roundAt("/sf0.1", "a" -> 0.4),
      "BENCH_r07.json" -> roundAt("/data/sf1", "a" -> 4.0),
      // pre-r7 archives carry no sf field: they are driver sf0.1 runs
      "BENCH_r05.json" -> round("a" -> 0.2))
    assert(Bench.regressionBaseline(dir, "/data/sf1") === Map("a" -> 4.0))
    assert(Bench.regressionBaseline(dir, "/root/testdata/sf0.1")
      === Map("a" -> 0.2))
    // no sf passed (unit-test/legacy path): everything merges
    assert(Bench.regressionBaseline(dir) === Map("a" -> 0.2))
  }

  test("run-log lines from a different sf dir are ignored") {
    val dir = fixture(
      "BENCH_RUNS.jsonl" ->
        ("""{"sf":"/sf0.01","queries":{"a":0.1}}""" + "\n" +
          """{"sf":"/sf0.1","queries":{"a":4.0}}"""))
    assert(Bench.regressionBaseline(dir, "/sf0.1") === Map("a" -> 4.0))
    // and with no matching lines at all, baseline is empty, not crossed
    assert(Bench.regressionBaseline(dir, "/sf1.0")
      === Map.empty[String, Double])
  }

  test("appendRunLog keeps only the newest lines and unreadable lines are skipped") {
    val dir = fixture("BENCH_RUNS.jsonl" -> "not-json-line")
    (1 to 10).foreach { i =>
      Bench.appendRunLog(dir, "/sf0.1", Map("q" -> i.toDouble))
    }
    val lines = scala.io.Source
      .fromFile(new java.io.File(dir, "BENCH_RUNS.jsonl"))("UTF-8")
      .getLines().toVector
    assert(lines.size === 8)
    // trimmed from the head: the bad line and the oldest runs are gone
    assert(!lines.exists(_.contains("not-json")))
    // baseline looks back 4 lines -> min is 7 (runs 7,8,9,10)
    assert(Bench.regressionBaseline(dir, "/sf0.1") === Map("q" -> 7.0))
  }

  test("archived value: median of three outvotes one stall, keeps a reproducer") {
    // one-off stall on the first run -> the two steady reruns win
    assert(Bench.archivedValue(38.6, List(2.4, 2.6)) === 2.6)
    // stall on a rerun instead -> same outcome
    assert(Bench.archivedValue(2.4, List(38.6, 2.6)) === 2.6)
    // genuine regression reproduces on all three -> reported undiminished
    assert(Bench.archivedValue(9.1, List(8.8, 9.3)) === 9.1)
    // one rerun failed (-1 sentinel): conservative larger-of-pair
    assert(Bench.archivedValue(5.0, List(-1.0, 1.0)) === 5.0)
    // both reruns failed: the first run stands
    assert(Bench.archivedValue(5.0, List(-1.0, -1.0)) === 5.0)
  }

  test("BASELINE.md fenced json medians load and beat nothing when sf differs") {
    val dir = fixture(
      "BASELINE.md" ->
        """# Baseline
          |prose...
          |```json
          |{"sf":"/sf0.1","queries":{"a":1.5,"b":0.7}}
          |```
          |more prose""".stripMargin)
    assert(Bench.fileBaseline(dir, "/sf0.1") === Map("a" -> 1.5, "b" -> 0.7))
    assert(Bench.fileBaseline(dir, "/sf0.01") === Map.empty[String, Double])
    // absent or fence-less files are empty, not fatal
    assert(Bench.fileBaseline(fixture(), "/sf0.1")
      === Map.empty[String, Double])
    assert(Bench.fileBaseline(fixture("BASELINE.md" -> "no fence here"),
      "/sf0.1") === Map.empty[String, Double])
  }

  test("BASELINE.md with one block per sf serves each bench target its own") {
    val dir = fixture(
      "BASELINE.md" ->
        """# Baseline
          |```json
          |{"sf":"/sf0.1","queries":{"a":1.5}}
          |```
          |sf1 medians:
          |```json
          |{"sf":"/data/sf1.0","queries":{"a":12.0,"b":7.0}}
          |```""".stripMargin)
    assert(Bench.fileBaseline(dir, "/sf0.1") === Map("a" -> 1.5))
    assert(Bench.fileBaseline(dir, "/data/sf1.0")
      === Map("a" -> 12.0, "b" -> 7.0))
    // an sf with no block of its own: empty, never another sf's numbers
    assert(Bench.fileBaseline(dir, "/sf0.01") === Map.empty[String, Double])
    // one malformed block must not hide a later matching one
    val dir2 = fixture(
      "BASELINE.md" ->
        """```json
          |{broken
          |```
          |```json
          |{"sf":"/sf0.1","queries":{"a":2.0}}
          |```""".stripMargin)
    assert(Bench.fileBaseline(dir2, "/sf0.1") === Map("a" -> 2.0))
  }

  test("flag selection: failed and baseline-less queries are never flagged") {
    val results = Seq("ok_fast" -> 0.5, "ok_slow" -> 5.0,
      "boom" -> 9.0, "new_query" -> 9.0)
    val baseline = Map("ok_fast" -> 0.4, "ok_slow" -> 1.0, "boom" -> 1.0)
    // ok_slow: over gate -> flagged; boom: over gate but FAILED ->
    // excluded (its dt is time-to-exception); new_query: no baseline
    assert(Bench.selectFlagged(results, Set("boom"), baseline)
      === Seq("ok_slow"))
    assert(Bench.selectFlagged(results, Set.empty[String], baseline)
      === Seq("ok_slow", "boom"))
  }

  test("non-bench files are ignored; empty dir yields empty baseline") {
    val dir = fixture(
      "BENCH_rX.json" -> "not json",
      "CORRECTNESS_r06.json" -> "{}")
    assert(Bench.regressionBaseline(dir) === Map.empty[String, Double])
    assert(Bench.regressionBaseline(
      java.nio.file.Files.createTempDirectory("graft_bench_empty").toFile)
      === Map.empty[String, Double])
  }
}
