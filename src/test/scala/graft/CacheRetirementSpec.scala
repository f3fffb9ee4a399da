package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Shared

/** The session-cache retirement policy (round-13 verdict item 1): a
  * 207-query sweep must not accumulate dead persisted blocks across
  * queries — at sf10 that accumulation was ~55 G of scratch and the
  * single-JVM suite ENOSPC'd. Two mechanisms, both engine-level:
  * anonymous per-query transients are retired as soon as their query
  * finishes ([[Shared.retireTransients]]), and each memoized
  * cross-query family is released right after its last scheduled
  * consumer ([[Shared.releaseMemo]]) — a released family that is read
  * again transparently rebuilds (visible recompute, never a wrong
  * answer). The staged warm builds only what a release could
  * otherwise force to be rebuilt; the build log times every build.
  */
class CacheRetirementSpec extends AnyFunSuite {
  import TestSpark._

  test("retireTransients unpersists anonymous tracked frames") {
    val df = Shared.track(
      spark.range(0, 1000).toDF("x").persist(StorageLevel.MEMORY_AND_DISK))
    df.count()
    assert(df.storageLevel !== StorageLevel.NONE)
    Shared.retireTransients()
    assert(df.storageLevel === StorageLevel.NONE)
  }

  test("memoized materializes eagerly: the frame has accounted storage " +
      "before any consumer acts on it") {
    Shared.clear()
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val m = Shared.memoized(spark, "/cache-spec-eager", "fam")(
      spark.range(0, 12345).toDF("x"))
    // no .count() here — memoized itself must have materialized
    val fresh = spark.sparkContext.getRDDStorageInfo
      .filter(i => !before(i.id) && i.memSize + i.diskSize > 0)
    assert(fresh.nonEmpty, "memoized returned before its frame was stored")
    assert(m.storageLevel !== StorageLevel.NONE)
    Shared.clear()
  }

  test("releaseMemo drops families by key prefix and they rebuild on " +
      "next access") {
    Shared.clear()
    val dir = "/cache-spec-release"
    val a = Shared.memoized(spark, dir, "famK8")(
      spark.range(0, 30000).toDF("x"))
    val b = Shared.memoized(spark, dir, "other")(
      spark.range(0, 31000).toDF("y"))
    // prefix match: "famK" catches the parameterized "famK8" key
    Shared.releaseMemo("famK")
    assert(a.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "released family still persisted")
    assert(b.storageLevel !== org.apache.spark.storage.StorageLevel.NONE,
      "unrelated family wrongly released")
    var rebuilt = false
    Shared.memoized(spark, dir, "famK8") {
      rebuilt = true; spark.range(0, 10).toDF("x")
    }
    assert(rebuilt, "released family must rebuild on next access")
    Shared.clear()
  }

  test("clear resets touch attribution: a new sweep starts clean") {
    Shared.clear()
    Shared.beginQuery("qXX_probe")
    Shared.memoized(spark, "/cache-spec-touch", "famT")(
      spark.range(0, 10).toDF("x"))
    assert(Shared.touchReport.exists(_._1 == "famT"))
    Shared.clear()
    // without the reset, run 2's warm builds are attributed to run 1's
    // LAST query and the regenerated consumer map drifts (ADVICE r15)
    assert(Shared.touchReport.isEmpty, "touches survived clear()")
    Shared.memoized(spark, "/cache-spec-touch", "famT2")(
      spark.range(0, 10).toDF("x"))
    assert(Shared.touchReport.isEmpty,
      "memo touch recorded with no query attribution set")
    Shared.clear()
  }

  test("clear drops everything: memo, stamps, and transients") {
    val m = Shared.memoized(spark, "/cache-spec2", "fam")(
      spark.range(0, 100).toDF("x"))
    m.count()
    val t = Shared.track(
      spark.range(0, 100).toDF("x").persist(StorageLevel.MEMORY_AND_DISK))
    t.count()
    Shared.clear()
    assert(m.storageLevel === StorageLevel.NONE)
    assert(t.storageLevel === StorageLevel.NONE)
  }

  test("a memo build nested in another is timed apart: the parent's " +
      "self time plus the child's build is the parent's wall time") {
    Shared.clear()
    val dir = "/cache-spec-nested"
    Shared.memoized(spark, dir, "famParent") {
      val child = Shared.memoized(spark, dir, "famChild") {
        Thread.sleep(300); spark.range(0, 1000).toDF("x")
      }
      child.withColumnRenamed("x", "y")
    }
    val rec = Shared.buildRecord(spark, dir).map(b => b.key -> b).toMap
    val (parent, child) = (rec("famParent"), rec("famChild"))
    assert(child.sec >= 0.3 && child.selfSec === child.sec, s"child: $child")
    assert(parent.selfSec < parent.sec, s"parent: $parent")
    assert(math.abs(parent.selfSec + child.sec - parent.sec) < 0.05,
      s"parent $parent, child $child")
    Shared.clear()
  }

  /** Memo builds of a warmed (full) sweep over `names`, by key name. */
  private def sweepBuilds(names: Seq[String]): Seq[(String, String)] = {
    Shared.clear()
    val swept = SweepOrder.sweep(spark, sf,
        names.map(n => n -> SparkEntry.queries(n)), full = true,
        "[cache-spec]") { (_, query) => query().count() }
    assert(swept.warmOk && swept.results.forall(_._2.isRight),
      "the sweep failed (cause on stderr)")
    val built = Shared.buildRecord(spark, sf).map(b => b.key -> b.by)
    Shared.clear()
    built
  }

  test("the staged match warm leaves the k=3/k=6 training chains to " +
      "their consumers") {
    // the benchmark's match workload reads none of them
    val built = sweepBuilds(Seq("q13_entity_candidates",
      "q14_entity_scores", "q19_score_pivot", "q20_weight_grid",
      "q43_total_score", "q44_pair_dedup")).map(_._1)
    assert(built.contains("pairScores2"))
    val kChains = graft.queries.MatchingQueries.trainingChains
      .flatMap(c => Seq(c.pairScores.prefix, c.walk.prefix)).toSet
    assert(built.filter(kChains).isEmpty, s"built: $built")
  }

  test("lazy k-chain builds never rebuild a released parent") {
    // q161/q203 are the first to build pairScores3/6 from pairScores2
    // after q20, its only consumer here before they were declared on it
    val built = sweepBuilds(Seq("q20_weight_grid", "q161_trained_total",
      "q203_trained_total_k6"))
    val counts = built.groupMapReduce(_._1)(_ => 1)(_ + _)
    assert(counts.get("matchScores") === Some(1), s"built: $built")
    assert(counts.get("pairScores2") === Some(1), s"built: $built")
    assert(built.toSet.contains("pairScores3" -> "q161_trained_total"))
    assert(built.toSet.contains("k6walk" -> "q203_trained_total_k6"))
  }
}
