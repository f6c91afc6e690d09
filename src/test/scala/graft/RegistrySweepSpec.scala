package graft

import scala.util.{Failure, Success, Try}

/** Engine-wide registry checks from ONE pass over `SparkEntry.packs`.
  * Per row, each build starts from clear caches (Sessions.clearCaches),
  * so no build reads blocks or cached relations an earlier one left:
  *  1. a build at the session's default shuffle partitions, whose
  *     physical plan feeds the plan lint (every row) and the shuffle
  *     budget (batch rows);
  *  2. a collect at 2 shuffle partitions, then one at 13, for the
  *     determinism check.
  * Each check is its own test case over the recorded results, so a
  * failure names the check it broke:
  *  - plan lint: no CartesianProduct (a non-broadcast cross join: an
  *    all-pairs shuffle; the registry's intended cross joins broadcast
  *    one side and plan as BroadcastNestedLoopJoin) and no
  *    CodegenFallback (an expression janino could not compile, silently
  *    interpreted — the round-1 PointInPolygon regression class);
  *  - shuffle budget: no batch row plans MORE Exchange nodes than the
  *    committed golden (src/test/resources/plan_exchanges.golden). An
  *    extra exchange keeps results and oracles green while quietly
  *    doubling shuffle volume at scale. Fewer passes (re-tighten with
  *    `sbt "runMain graft.PlanGolden"`);
  *  - determinism: results must not depend on shuffle partitioning —
  *    silent nondeterminism would surface as flaky oracle mismatches at
  *    another scale or cluster layout. Streaming rows are included: each
  *    call spins up a fresh child session and landing dir, so two runs
  *    also exercise checkpoint and sink isolation;
  *  - checkpoint hygiene: no streaming checkpoint dir made during the
  *    sweep outlives it (Streams.runAvailableNow deletes its own).
  */
class RegistrySweepSpec extends SparkSpec {

  // legitimately empty at the sf0.001 slice (predicate finds no rows
  // there; nonempty at sf0.01 per the oracle gate). w26: ~0.3 events/
  // type/hour at sf0.001 never fills the n >= 12 trailing window.
  // g19: the 1/16-sparsified co-purchase graph at sf0.001 has no
  // 4-core — every node peels (83 survivors at sf0.01).
  // g23: same sparsified graph, no non-adjacent pair shares >= 2
  // common neighbours at sf0.001 (235 candidates at sf0.01).
  // g25: the sf0.001 sparsified graph's degree sequence has zero
  // variance (every endpoint degree 1), so assortativity is undefined
  // and the row emits nothing by contract.
  // j28: same-user purchases within 10 min AND 1% amount are a rare
  // coincidence by construction — none exist in the 600-event smoke
  // slice (1 pair at sf0.01).
  private val emptyOkAtSmoke =
    Set("a13_group_all_match", "w26_rolling_zscore", "w31_rolling_zscore_range",
      "g19_kcore", "g23_link_predict", "g25_assortativity", "j28_fuzzy_dupes")

  /** What the sweep recorded for one row: the default-partition plan
    * (or its build failure) and the determinism finding, if any.
    */
  private final case class Swept(name: String, batch: Boolean,
                                 plan: Try[String], determinism: Option[String])

  private def golden: Map[String, Int] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/plan_exchanges.golden"))
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(n, c) = l.split(" "); n -> c.toInt
    }.toMap
    finally src.close()
  }

  /** The sweep's records, and the streaming checkpoint dirs that
    * appeared during it and still exist after it (each streaming row
    * ran three times: one build, two collects).
    */
  private lazy val (swept, ckptLeft) = {
    val before = ckptDirs()
    val recorded = sweep()
    (recorded, ckptDirs() -- before)
  }

  private def sweep(): Seq[Swept] = {
    val d = PlanGolden.sfDir
    val partitions = "spark.sql.shuffle.partitions"
    val original = spark.conf.get(partitions)
    def collectAt(q: graft.core.Query, n: String): Set[Seq[Any]] = {
      graft.core.Sessions.clearCaches(spark)
      spark.conf.set(partitions, n)
      rows(q.fn(spark, d))
    }
    try SparkEntry.packs.map { q =>
      spark.conf.set(partitions, original)
      val plan = Try(PlanGolden.plan(spark, q))
      val determinism = Try((collectAt(q, "2"), collectAt(q, "13"))) match {
        case Failure(e) => Some(s"${q.name} failed: ${firstLine(e)}")
        case Success((a, _)) if a.isEmpty && !emptyOkAtSmoke(q.name) =>
          Some(s"${q.name} returned no rows at sf0.001")
        case Success((a, b)) if a != b => Some(s"${q.name} differs across shuffle settings")
        case _ => None
      }
      Swept(q.name, PlanGolden.isBatch(q), plan, determinism)
    } finally {
      spark.conf.set(partitions, original)
      graft.core.Sessions.clearCaches(spark)
    }
  }

  private def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.toString).linesIterator.nextOption().getOrElse("")

  private def failedBuilds(rows: Seq[Swept]): Seq[String] = rows.collect {
    case Swept(n, _, Failure(e), _) => s"$n: build failed: ${firstLine(e)}"
  }

  test("no registry query plans a CartesianProduct or falls back from codegen") {
    val offenders = failedBuilds(swept) ++ swept.flatMap {
      case Swept(n, _, Success(plan), _) =>
        Seq("CartesianProduct", "CodegenFallback").collect {
          case marker if plan.contains(marker) => s"$n: $marker"
        }
      case _ => Nil
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no batch registry query gained an exchange vs the golden") {
    val g = golden
    val batch = swept.filter(_.batch)
    val offenders = failedBuilds(batch) ++ batch.flatMap {
      case Swept(n, _, Success(plan), _) =>
        val count = PlanGolden.exchangeCount(plan)
        g.get(n) match {
          case None => Some(s"$n: not in golden — regenerate with runMain graft.PlanGolden")
          case Some(budget) if count > budget => Some(s"$n: $count exchanges > golden $budget")
          case _ => None
        }
      case _ => None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("registry queries are invariant to shuffle partitioning") {
    val problems = swept.flatMap(_.determinism)
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("no streaming row leaves a checkpoint dir behind") {
    assert(ckptLeft.isEmpty, ckptLeft.mkString("\n"))
  }

  test("j06 resolution prep plans no SortAggregate (hash-agg argmax form)") {
    val plan = SparkEntry.queries("j06_resolution_set_delete")(
      spark, PlanGolden.sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"), plan)
  }
}
