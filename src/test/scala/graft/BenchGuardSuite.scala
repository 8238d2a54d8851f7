package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drills Bench.artifactTarget — the rule that decides whether a finished
  * bench run may overwrite the committed BENCH_FULL.json (VERDICT r15 #1:
  * for four rounds an invalid-protocol run at a NEW git head bypassed the
  * same-HEAD guard and clobbered the committed artifact; rule (a) below is
  * the closure). Pure-function drill — no Spark, no bench run.
  */
class BenchGuardSuite extends AnyFunSuite {

  private val out = "BENCH_FULL.json"
  // a committed valid-protocol artifact at head aaaa: ST 8.6% of 10,
  // MT 7.5% of 18 (the r15 clean window's shape)
  private val committed = Some(
    """{"metric":"total","value":120.43,"head":"aaaa1111",""" +
    """"sentinel":{"spin_base_sec":0.647,"max_slow_pct":8.6,"retry_dev_pct":10.0},""" +
    """"sentinel_mt":{"spin_base_sec":0.490,"max_slow_pct":7.5,"retry_dev_pct":18.0}}""")

  test("rule (a): retried windows redirect to .latest even at a NEW head") {
    val (t, why) = Bench.artifactTarget(out, committed, head = "bbbb2222",
      retriedCount = 32, maxSlowPct = 7.4, maxSlowMtPct = 60.2,
      thSt = 10.0, thMt = 18.0)
    assert(t == out + ".latest")
    assert(why.exists(_.contains("protocol-invalid")))
  }

  test("rule (a): over-threshold max_slow redirects even with zero retries") {
    // retry budget exhausted late in the run: no retried entries but the
    // MT sentinel crossed its threshold — still not a certifiable window
    val (t, _) = Bench.artifactTarget(out, committed, head = "bbbb2222",
      retriedCount = 0, maxSlowPct = 4.0, maxSlowMtPct = 25.0,
      thSt = 10.0, thMt = 18.0)
    assert(t == out + ".latest")
  }

  test("rule (a): applies even when no committed artifact exists") {
    val (t, _) = Bench.artifactTarget(out, prevJson = None, head = "cccc3333",
      retriedCount = 1, maxSlowPct = 2.0, maxSlowMtPct = 3.0,
      thSt = 10.0, thMt = 18.0)
    assert(t == out + ".latest")
  }

  test("valid run at a NEW head overwrites the committed artifact") {
    val (t, why) = Bench.artifactTarget(out, committed, head = "bbbb2222",
      retriedCount = 0, maxSlowPct = 3.0, maxSlowMtPct = 5.0,
      thSt = 10.0, thMt = 18.0)
    assert(t == out && why.isEmpty)
  }

  test("rule (b): noisier valid run at the SAME head parks at .latest") {
    // committed norm = max(8.6/10, 7.5/18) = 0.86; this run 9.5/10 = 0.95
    val (t, why) = Bench.artifactTarget(out, committed, head = "aaaa1111",
      retriedCount = 0, maxSlowPct = 9.5, maxSlowMtPct = 6.0,
      thSt = 10.0, thMt = 18.0)
    assert(t == out + ".latest")
    assert(why.exists(_.contains("same HEAD")))
  }

  test("rule (b): quieter valid run at the SAME head overwrites") {
    val (t, _) = Bench.artifactTarget(out, committed, head = "aaaa1111",
      retriedCount = 0, maxSlowPct = 2.0, maxSlowMtPct = 3.0,
      thSt = 10.0, thMt = 18.0)
    assert(t == out)
  }

  test("rule (b): normalization uses the thresholds each run was certified under") {
    // a pre-r13 committed artifact certified MT at 40 (idle base): its
    // 24% MT reads 0.6 normalized, so a fresh same-head run at MT 12%/18
    // (0.67) is NOISIER despite the smaller raw number
    val old = Some(
      """{"head":"aaaa1111",""" +
      """"sentinel":{"max_slow_pct":5.0,"retry_dev_pct":10.0},""" +
      """"sentinel_mt":{"max_slow_pct":24.0,"retry_dev_pct":40.0}}""")
    val (t, _) = Bench.artifactTarget(out, old, head = "aaaa1111",
      retriedCount = 0, maxSlowPct = 1.0, maxSlowMtPct = 12.0,
      thSt = 10.0, thMt = 18.0)
    assert(t == out + ".latest")
  }

  test("rule (b): a materially faster clock overwrites even when noisier") {
    // committed: valid on a 0.647 s (slow) clock, very quiet (0.86 norm);
    // this run: valid on a 0.450 s (quiet) clock but noisier (0.95) —
    // the faster-clock record wins (the r15 slow-base 2.01x lesson)
    val (t, why) = Bench.artifactTarget(out, committed, head = "aaaa1111",
      retriedCount = 0, maxSlowPct = 9.5, maxSlowMtPct = 6.0,
      thSt = 10.0, thMt = 18.0, stBase = 0.450)
    assert(t == out && why.isEmpty)
  }

  test("rule (b): a comparable clock still arbitrates on quietness") {
    // same clock (within the 2% band), noisier -> .latest
    val (t, _) = Bench.artifactTarget(out, committed, head = "aaaa1111",
      retriedCount = 0, maxSlowPct = 9.5, maxSlowMtPct = 6.0,
      thSt = 10.0, thMt = 18.0, stBase = 0.645)
    assert(t == out + ".latest")
  }

  test("rule (a) outranks the faster clock: an invalid fast-clock run still parks") {
    val (t, _) = Bench.artifactTarget(out, committed, head = "aaaa1111",
      retriedCount = 3, maxSlowPct = 2.0, maxSlowMtPct = 3.0,
      thSt = 10.0, thMt = 18.0, stBase = 0.440)
    assert(t == out + ".latest")
  }

  test("first-ever valid run writes the artifact") {
    val (t, why) = Bench.artifactTarget(out, prevJson = None, head = "dddd4444",
      retriedCount = 0, maxSlowPct = 1.0, maxSlowMtPct = 2.0,
      thSt = 10.0, thMt = 18.0)
    assert(t == out && why.isEmpty)
  }

  test("compact final line: valid JSON, under 1 KB, carries the driver fields") {
    // VERDICT r17 #1: the driver keeps only a ~2 KB stdout tail, so the
    // LAST line must be a standalone parseable summary. Pin shape + size.
    val line = Bench.compactLine(total = 107.5512345678901,
      quietEquiv = 85.29123456789012, nKeys = 236, nFailed = 0,
      head = "a2c425206acf8bd0c6ef797a6eba205f85782ea1", retriedCount = 19,
      maxSlowPct = 9.4885548683057, maxSlowMtPct = 19.23136276222427,
      stBase = 0.56203722, mtBase = 0.348429463,
      sfDir = "/root/testdata/sf0.1", artifact = "BENCH_FULL.json.latest")
    assert(line.length < 1024, s"compact line must stay tail-sized: ${line.length}")
    assert(!line.contains("\n"))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line) // throws on malformed JSON
    assert(m.get("metric").asText() == "total")
    assert(math.abs(m.get("value").asDouble() - 107.5512345678901) < 1e-9)
    assert(m.get("unit").asText() == "sec")
    assert(m.get("sf").asText() == "/root/testdata/sf0.1")
    assert(m.get("n_keys").asInt() == 236)
    assert(m.get("n_failed").asInt() == 0)
    assert(m.get("retried_n").asInt() == 19)
    assert(m.get("head").asText().startsWith("a2c42520"))
    assert(m.get("sentinel").get("max_slow_pct").asDouble() > 9.0)
    assert(m.get("sentinel_mt").get("max_slow_pct").asDouble() > 19.0)
    assert(m.get("queries_file").asText() == "BENCH_FULL.json.latest")
  }

  test("compact final line: a backslash or quote in a string field stays valid JSON") {
    val sf = "C:\\bench \"sf0.1\"\\"
    val art = "out\\\"q\".json"
    val line = Bench.compactLine(total = 1.5, quietEquiv = 1.0, nKeys = 1, nFailed = 0,
      head = "h\"\\", retriedCount = 0, maxSlowPct = 1.0, maxSlowMtPct = 1.0,
      stBase = 0.5, mtBase = 0.4, sfDir = sf, artifact = art)
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(m.get("sf").asText() == sf)
    assert(m.get("queries_file").asText() == art)
    assert(m.get("head").asText() == "h\"\\")
    assert(m.get("value").asDouble() == 1.5)
  }
}
