package graft

import scala.util.{Failure, Success, Try}

/** Engine-wide registry checks from ONE pass over `SparkEntry.packs`.
  * Per row, each build starts from clear caches (Sessions.clearCaches),
  * so no build reads blocks or cached relations an earlier one left:
  *  1. a build at the session's default shuffle partitions, whose
  *     physical plan feeds the plan lint (every row) and the shuffle
  *     budget (batch rows);
  *  2. a collect at 2 shuffle partitions, then one at 13, for the
  *     determinism check. Before the 13-partition collect, a batch row
  *     not on `readsPin` loses every persisted block, as it would to a
  *     lost executor.
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
  *    sweep outlives it (Streams.runAvailableNow deletes its own);
  *  - block loss: a batch row survives its blocks being dropped between
  *    build and collect (Materialize.small and .shared frames do; a
  *    Materialize.pin in the result plan cannot), unless `readsPin`
  *    lists why it holds a pin — and a listed row must still read one.
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

  // batch rows whose result plan reads a Materialize.pin, so a lost
  // block fails them, and why the pin stays: "loop" (iteration state),
  // "snapshot" (must not be recomputed: RollingMoments' row ids) or
  // "data-sized" (its row count moves with the data, several consumers)
  private val readsPin: Map[String, String] =
    Seq("t26_bpe_merges", "g10_pagerank", "g22_ppr", "g19_kcore", "g20_bfs_distance",
      "g21_label_prop", "g26_hits").map(_ -> "loop").toMap ++
    Map("w26_rolling_zscore" -> "snapshot") ++
    Seq("p19_l_diversity", "p21_t_closeness", "g09_corpus_manifest", "t61_oov_coverage",
      "t38_dsir_weights", "t40_split_contamination", "t43_winnowing_overlap",
      "t44_winnowing_oracle", "t48_zipf_fit", "t49_kneser_ney", "t52_pmi_collocations",
      "w25_period_over_period", "g39_site_issue_dashboard", "g43_site_ui_variants",
      "t55_kn_doc_xent", "t50_tfidf_keywords", "t51_heaps_law",
      "s43_sq8_search", "j28_fuzzy_dupes", "m06_image_neardup",
      "m14_pixel_histogram_direct", "g34_basket_lift", "g35_attribution",
      "g30_modularity", "g13_triangle_count", "g23_link_predict",
      "g24_clustering_coeff", "g25_assortativity", "g28_two_hop_reach", "a39_countmin",
      "a45_kruskal_wallis", "a46_brown_forsythe", "a47_bootstrap_ci", "a49_trimmed_mean",
      "a53_sketch_intersection", "k02_skew_profile", "io21_manifest_diff",
      "io24_vacuum_planner").map(_ -> "data-sized").toMap

  /** What the sweep recorded for one row: the default-partition plan
    * (or its build failure) and the determinism finding, if any.
    */
  private final case class Swept(name: String, batch: Boolean, plan: Try[String],
                                 determinism: Option[String], blockLoss: Option[String])

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
    // the rows, and whether the result plan reads a local checkpoint
    def collectAt(q: graft.core.Query, n: String, dropBlocks: Boolean)
        : (Set[Seq[Any]], Boolean) = {
      graft.core.Sessions.clearCaches(spark)
      spark.conf.set(partitions, n)
      val df = q.fn(spark, d)
      if (dropBlocks)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      (rows(df), df.queryExecution.optimizedPlan.exists {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.isCheckpointed
        case _ => false
      })
    }
    try SparkEntry.packs.map { q =>
      val batch = PlanGolden.isBatch(q)
      val drop = batch && !readsPin.contains(q.name)
      spark.conf.set(partitions, original)
      val plan = Try(PlanGolden.plan(spark, q))
      val at2 = Try(collectAt(q, "2", dropBlocks = false))
      val at13 = Try(collectAt(q, "13", drop))
      val determinism = (at2, at13) match {
        case (Failure(e), _) => Some(s"${q.name} failed: ${firstLine(e)}")
        case (_, Failure(e)) if !drop => Some(s"${q.name} failed: ${firstLine(e)}")
        case (Success((a, _)), _) if a.isEmpty && !emptyOkAtSmoke(q.name) =>
          Some(s"${q.name} returned no rows at sf0.001")
        case (Success((a, _)), Success((b, _))) if a != b =>
          Some(s"${q.name} differs across shuffle settings")
        case _ => None
      }
      val blockLoss = (readsPin.get(q.name), at13) match {
        case (_, _) if !batch => None
        case (None, Failure(e)) => Some(s"${q.name} fails after losing its blocks: ${firstLine(e)}")
        case (None, Success((b, _))) if at2.toOption.exists(_._1 != b) =>
          Some(s"${q.name} differs after losing its blocks")
        case (Some(why), Success((_, false))) =>
          Some(s"${q.name} is listed as $why but its result plan reads no pin")
        case _ => None
      }
      Swept(q.name, batch, plan, determinism, blockLoss)
    } finally {
      spark.conf.set(partitions, original)
      graft.core.Sessions.clearCaches(spark)
    }
  }

  private def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.toString).linesIterator.nextOption().getOrElse("")

  private def failedBuilds(rows: Seq[Swept]): Seq[String] = rows.collect {
    case Swept(n, _, Failure(e), _, _) => s"$n: build failed: ${firstLine(e)}"
  }

  test("no registry query plans a CartesianProduct or falls back from codegen") {
    val offenders = failedBuilds(swept) ++ swept.flatMap {
      case Swept(n, _, Success(plan), _, _) =>
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
      case Swept(n, _, Success(plan), _, _) =>
        val count = PlanGolden.exchangeCount(plan)
        g.get(n) match {
          case None => Some(s"$n: not in golden — regenerate with sbt \"runMain graft.PlanGolden\"")
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

  test("batch rows survive lost blocks") {
    val problems = swept.flatMap(_.blockLoss)
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
