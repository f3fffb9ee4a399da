package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs: the session users get. */
object TestSpark {
  lazy val spark: SparkSession = Session(4)
  val sf: String = "/root/testdata/sf0.001"
}

class QueriesSpec extends AnyFunSuite {
  import TestSpark._

  // Queries legitimately empty at sf0.001 (filters can eliminate all
  // rows on the small fixture); everything else must return rows, so a
  // regression to an empty result fails loudly.
  // q96: the 10 sf0.001 suppliers sit in 10 distinct nations, so no
  // (lab_name, country) block ever holds two labs at that scale.
  private val allowedEmpty = Set("q07_anti_join", "q96_lab_dedup")

  // Full sweep through the one sweep loop Bench/Verify run, so the
  // touch report it records has the same provenance as the one
  // SweepOrder.families declares (a different order attributes a
  // family's transitive chain builds to whichever consumer happens to
  // run first).
  private def runAttributedSweep(): Unit = {
    queries.Shared.clear()
    val swept = SweepOrder.sweep(spark, sf, SparkEntry.queries.toSeq,
        full = true, "[queries-spec]") { (name, query) =>
      val df = query()
      assert(df.columns.nonEmpty, s"$name has no columns")
      val n = df.count()
      if (allowedEmpty(name)) assert(n >= 0, s"$name failed to execute")
      else assert(n > 0, s"$name returned 0 rows at sf0.001")
    }
    val failed = swept.results.collect { case (n, Left(e)) => s"$n: $e" }
    assert(swept.warmOk, "a staged warm failed (cause on stderr)")
    assert(failed.isEmpty, failed.mkString("failed queries:\n", "\n", ""))
  }

  test("every declared query runs and (unless allowlisted) returns rows") {
    runAttributedSweep()
  }

  test("every observed memo touch is declared in SweepOrder.memoConsumers") {
    // The declared consumer sets drive the sweep groups and scheduler
    // release: a NEW query consuming a released family silently pays a
    // full rebuild at sf10 (VERDICT r15 missing #3). This regenerates
    // the touch report at sf0.001 from the sweep above and fails when a
    // touch is not declared — add the consumer to its family's row in
    // SweepOrder.families; its sweep group derives from that.
    if (queries.Shared.touchReport.isEmpty)
      runAttributedSweep() // self-sufficient under -z test filtering
    val report = queries.Shared.touchReport
    assert(report.nonEmpty, "no memo touches recorded")
    report.foreach { case (key, qs) =>
      val fams = SweepOrder.families.filter(f => key.startsWith(f.prefix))
      assert(fams.size === 1,
        s"memo key '$key' matches ${fams.size} family prefixes (${fams.map(_.prefix)}); release scheduling needs exactly one")
      val undeclared = qs.toSet -- fams.head.consumers
      assert(undeclared.isEmpty,
        s"memo '$key' touched by consumers missing from the '${fams.head.prefix}' row of SweepOrder.families: ${undeclared.toSeq.sorted.mkString(", ")} — add them there; the sweep group derives from it")
    }
    queries.Shared.clear()
  }

  test("every query has either an oracle or is explicitly rows-only") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // Every query is oracle-checked (q57 gained its oracle in round 6
    // via the frozen seeded-LSH coefficients); keep any future
    // rows-only exception deliberate by listing it here.
    val allowedRowsOnly = Set.empty[String]
    assert(missing.subsetOf(allowedRowsOnly),
      s"queries without oracle SQL: ${missing.mkString(", ")}")
  }

  test("entry() flagship returns ranked proposal-publication matches") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("norm_score"))
  }
}
