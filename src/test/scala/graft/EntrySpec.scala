package graft

/** The driver's smoke contract: entry() returns rows, every registered
  * query has a runnable plan, and oracle SQL exists for each key it
  * claims. */
class EntrySpec extends SparkSpec {

  test("entry returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("c_name"))
  }

  test("every query builds a plan at sf0.001 and oracle keys are a subset") {
    val qs = SparkEntry.queries
    assert(qs.size >= 80)
    qs.foreach { case (name, fn) =>
      val df = fn(spark, "/root/testdata/sf0.001")
      assert(df.schema.fields.nonEmpty, s"$name has empty schema")
    }
    val orphan = SparkEntry.oracleSql.keySet -- qs.keySet
    assert(orphan.isEmpty, s"oracle SQL without query: $orphan")
  }

  test("no bench headline query plans a cartesian or nested-loop join") {
    // standing guard for the scale contract: candidate generation and the
    // subset/join operators must stay bucketed/broadcast/window-shaped —
    // a regression to BroadcastNestedLoopJoin or CartesianProduct on any
    // headline plan is a 100 TB outage, not a perf nit.
    // Checked TWICE per query: on the initial physical plan, and again on
    // the FINAL adaptive plan after execution — under AQE the pre-execution
    // plan is only the starting point, and a join that degrades to BNLJ
    // during adaptive re-planning would slip past a static-only check
    // (round-5 ADVICE).
    var adaptiveSeen = 0
    Bench.headlineAll.foreach { name =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, "/root/testdata/sf0.001")
      val initial = df.queryExecution.executedPlan.toString
      assert(!initial.contains("CartesianProduct"), s"$name plans a CartesianProduct")
      assert(!initial.contains("BroadcastNestedLoopJoin"), s"$name plans a BNLJ")
      // Execute THIS Dataset's own QueryExecution (a write command would
      // spawn a separate one, leaving df.queryExecution untouched at
      // isFinalPlan=false — round-6 ADVICE). collect() is cheap at sf0.001.
      df.collect()
      val finalPlan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0) // audit the FINAL adaptive plan only
      // Fail loudly if we ever inspect an unexecuted adaptive plan again.
      if (df.queryExecution.executedPlan.toString.contains("AdaptiveSparkPlan")) {
        adaptiveSeen += 1
        assert(finalPlan.contains("isFinalPlan=true"),
          s"$name: inspected adaptive plan was never finalized — the AQE guard is vacuous")
      }
      assert(!finalPlan.contains("CartesianProduct"),
        s"$name re-planned to a CartesianProduct under AQE")
      assert(!finalPlan.contains("BroadcastNestedLoopJoin"),
        s"$name re-planned to a BNLJ under AQE")
      // Mechanical multi-scan / exchange-count regression guard: PlanAudit
      // is a manual tool, so a shape regression (like the CMS sketch's
      // 4-way-union multi-scan, or a ReusedExchange de-canonicalizing into
      // duplicate subtrees) could land silently. Counted STRUCTURALLY via
      // PlanAudit.shape — the tree walk descends into materialized query
      // stages, so scans/exchanges inside a broadcast stage (invisible to
      // the elided final-plan string this guard used through round 10)
      // are bounded too. Ceilings are the measured round-11 baseline — an
      // operator change that raises them must raise the ceiling here
      // CONSCIOUSLY, with the 100 TB cost written down.
      val s = graft.tools.PlanAudit.shape(df.queryExecution.executedPlan)
      val (maxScan, maxEx) = PlanCeilings.headline(name)
      s.scans.foreach { case (t, c) =>
        assert(c <= maxScan,
          s"$name scans $t $c times (ceiling $maxScan) — a new pass over the fact table")
      }
      assert(s.exchanges <= maxEx,
        s"$name has ${s.exchanges} hash exchanges (ceiling $maxEx) — a new shuffle appeared")
      System.gc()
    }
    // the guard is only meaningful if AQE actually re-planned something
    assert(adaptiveSeen > 0, "no headline query produced an adaptive plan — AQE guard inspected nothing")
  }

  test("every headline query has a plan ceiling (new headline entries must be baselined)") {
    val missing = Bench.headlineAll.filterNot(PlanCeilings.headline.contains)
    assert(missing.isEmpty, s"run PlanAudit and add ceilings for: $missing")
  }

  test("oracle SQL strings are single-line friendly (no raw control chars)") {
    SparkEntry.oracleSql.values.foreach { sql =>
      assert(!sql.exists(c => c == '\n' || c == '\r' || c == '\t'), sql.take(80))
    }
  }
}
