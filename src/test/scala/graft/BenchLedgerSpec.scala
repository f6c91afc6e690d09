package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's self-adjudication ledger parse (VERDICT r10 item 1): the
  * round-10 parser matched rows with a FULL-string regex pattern match,
  * silently dropping all 95 three-column `| name | sec | note |` rows —
  * every round-9/10 baseline — so driver-flagged rows like a45/g28/t46
  * were never re-measured in-run. These tests pin (a) every row SHAPE
  * BASELINE.md uses parses, and (b) the live ledger covers every
  * registered query, so a new row without a recorded baseline (or a
  * format drift that hides rows) fails the suite instead of silently
  * shrinking the adjudicator's coverage.
  */
class BenchLedgerSpec extends AnyFunSuite {

  test("parses two-column, note-column, and multi-numeric ledger rows") {
    val md =
      """|| plain_row | 1.50 |
        || noted_row | 6.11 | two-level global rank + join-back |
        || ratio_row | 1.69 | 1.37 | 0.81x | localCheckpoint fix landed |
        || MixedCase | 9.99 |
        || not_a_number | fast |
        |prose mentioning | bars | 3.3 | inline
        || min_rule | 4.00 |
        || min_rule | 2.00 | later quiet mention governs |""".stripMargin
    val led = Bench.parseLedger(md)
    assert(led("plain_row") == 1.50)
    assert(led("noted_row") == 6.11)          // the dropped shape
    assert(led("ratio_row") == 1.69)          // first numeric cell governs
    assert(!led.contains("mixedcase") && !led.contains("MixedCase"))
    assert(!led.contains("not_a_number"))
    assert(led("min_rule") == 2.00)           // min across mentions
  }

  test("bench artifact self-describes its noise class (VERDICT r14 item 3)") {
    // the probe fields ride BOTH emitted JSON lines via the shared
    // fragment; pin the fragment's shape and the class boundaries so a
    // refactor cannot silently drop the artifact's self-adjudication
    val j = Bench.hostProbeJson(287.3, 85.9, 12.5, 400.0)
    assert(j.contains("\"host_probe\":{"), j)
    assert(j.contains("\"tmp_mbps\":287.3"), j)
    assert(j.contains("\"other_cpu_sec\":85.9"), j)
    assert(j.contains("\"steal_sec\":12.5"), j)
    assert(j.contains("\"wall_sec\":400.0"), j)
    assert(j.contains("\"class\":\"contended\""), j)
    // the sbt-parent floor (~7-10% of wall) reads quiet at ANY length:
    // the threshold scales with wall, it is not an absolute
    assert(Bench.hostClass(33.0, 447.0) == "quiet")
    assert(Bench.hostClass(110.0, 900.0) == "quiet")   // 12% of a long run
    assert(Bench.hostClass(223.6, 528.0) == "contended")
    assert(Bench.hostClass(70.0, 100.0) == "contended")
    assert(Bench.hostClass(-1.0, 400.0) == "unknown")
    // the probe itself runs and returns a positive throughput here
    val mbps = Bench.tmpWriteMbps()
    assert(mbps > 0, s"tmp probe returned $mbps")
  }

  test("host probe never prints negative CPU: a negative raw reads 0.0, unknown") {
    // BENCH_r16's microVM: busy jiffies grew less than the bench's own
    val j = Bench.hostProbeJson(287.3, -1618.2, 3.0, 706.0)
    assert(j.contains("\"other_cpu_sec\":0.0"), j)
    assert(j.contains("\"class\":\"unknown\""), j)
    assert(!j.contains("-"), j)
    // a failed /proc read (-1 for both) prints zeros too, never -1.0
    val failed = Bench.hostProbeJson(287.3, -1.0, -1.0, 10.0)
    assert(failed.contains("\"other_cpu_sec\":0.0"), failed)
    assert(failed.contains("\"steal_sec\":0.0"), failed)
    assert(failed.contains("\"class\":\"unknown\""), failed)
  }

  test("live BASELINE.md ledger covers every registered query") {
    val led = Bench.ledger()
    // Guard the guard: an unreadable/renamed BASELINE.md must fail here,
    // not silently disable self-adjudication.
    assert(led.size > 300, s"ledger parsed only ${led.size} rows")
    val missing = SparkEntry.queries.keySet.diff(led.keySet)
    assert(missing.isEmpty,
      s"queries with no BASELINE.md ledger row (record a first-green " +
        s"baseline in the same commit that registers a row): " +
        missing.toSeq.sorted.mkString(", "))
  }

  test("full-map file suffix follows the session's defaulted core count") {
    // an env-less run defaults to local[4]: it must write BENCH_full_c4.json,
    // never the committed 32-core BENCH_full.json
    assert(Bench.cpusSuffix("4") == "_c4")
    assert(Bench.cpusSuffix("8") == "_c8")
    assert(Bench.cpusSuffix("32") == "")
    assert(Bench.cpusSuffix("*") == "")
  }
}
