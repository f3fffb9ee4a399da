package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.MatchingQueries

/** Semantic assertions for the Walker-style weight refinement (q72 is
  * rows-only: the data-dependent driver loop has no SQL spelling). */
class WeightSpec extends AnyFunSuite {
  import TestSpark._

  test("q72 refinement error is non-increasing and deterministic") {
    val a = MatchingQueries.q72WeightRefine(spark, sf).collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[Double]("w1"),
        r.getAs[Long]("error"))).toSeq.sortBy(_._1)
    assert(a.nonEmpty)
    // round 0 is the coarse-grid incumbent; each halving round may only
    // keep or improve the error
    a.sliding(2).foreach { case Seq((_, _, e0), (_, _, e1)) =>
      assert(e1 <= e0, s"error must not increase: $a")
    case _ => ()
    }
    a.foreach { case (_, w1, _) => assert(w1 >= 0.0 && w1 <= 1.0) }
    val b = MatchingQueries.q72WeightRefine(spark, sf).collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[Double]("w1"),
        r.getAs[Long]("error"))).toSeq.sortBy(_._1)
    assert(a == b, "refinement must be deterministic")
  }

  test("simplexGrid: C(steps+k-1, k-1) points, all non-negative, all sum to steps") {
    def choose(n: Int, r: Int): Long =
      (1 to r).foldLeft(1L)((acc, i) => acc * (n - r + i) / i)
    for ((k, steps) <- Seq((2, 5), (3, 5), (3, 4), (4, 3), (5, 2))) {
      val rows = graft.operators.WeightTraining
        .simplexGrid(spark, k, steps).collect()
      assert(rows.length == choose(steps + k - 1, k - 1),
        s"k=$k steps=$steps: ${rows.length}")
      rows.foreach { r =>
        val ns = (0 until k).map(i => r.getAs[Long](s"n${i + 1}"))
        assert(ns.forall(_ >= 0), s"negative coordinate in $r")
        assert(ns.sum == steps, s"sum != steps in $r")
        (0 until k).foreach { i =>
          assert(r.getAs[Double](s"w${i + 1}") ==
            ns(i).toDouble / steps, s"w != n/steps in $r")
        }
      }
    }
  }

  test("q160 3-type refinement: non-increasing error, simplex invariant, deterministic") {
    def run() = MatchingQueries.k3Chain.refine(spark, sf).collect()
      .map(r => (r.getAs[Int]("round"),
        Seq(r.getAs[Long]("n1"), r.getAs[Long]("n2"), r.getAs[Long]("n3")),
        Seq(r.getAs[Double]("w1"), r.getAs[Double]("w2"), r.getAs[Double]("w3")),
        r.getAs[Long]("error"))).toSeq.sortBy(_._1)
    val a = run()
    assert(a.length == 4, "coarse round + 3 halving rounds")
    a.sliding(2).foreach {
      case Seq((_, _, _, e0), (_, _, _, e1)) =>
        assert(e1 <= e0, s"error must not increase: $a")
      case _ => ()
    }
    a.foreach { case (_, ns, ws, _) =>
      assert(ns.forall(n => n >= 0 && n <= 32), s"lattice range: $ns")
      assert(ns.sum == 32, s"simplex invariant: $ns")
      ws.zip(ns).foreach { case (w, n) => assert(w == n.toDouble / 32) }
    }
    // successive incumbents differ by at most one ±step axis-pair move
    a.sliding(2).zipWithIndex.foreach {
      case (Seq((_, n0, _, _), (_, n1, _, _)), i) =>
        val step = 4 >> i // rounds 1,2,3 probe ±4, ±2, ±1
        val d = n0.zip(n1).map { case (x, y) => y - x }
        assert(d.forall(_ == 0) ||
          (d.count(_ == step) == 1 && d.count(_ == -step) == 1 &&
            d.count(_ == 0) == 1),
          s"round ${i + 1}: move $d is not a ±$step axis-pair move")
      case _ => ()
    }
    assert(a == run(), "refinement must be deterministic")
  }

  test("refineWeightsSimplex at k=4: trajectory laws hold on a synthetic 4-score table") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // deterministic synthetic pairs: 40 doc1 groups x 5 candidates,
    // score s_i favors different candidates per type so the walk has
    // real structure to descend
    val ps = spark.range(0, 200)
      .select((col("id") / 5).cast("long").as("doc1"),
        (col("id") % 5 + 1000).as("doc2"),
        (col("id") % 7).cast("double").as("s1"),
        (col("id") % 5).cast("double").as("s2"),
        (col("id") % 3).cast("double").as("s3"),
        (col("id") % 11).cast("double").as("s4"))
    val labels = ps.select(col("doc1"), col("doc2"),
      ((col("doc1") + col("doc2")) % 4 === 0).as("accepted"))
    val out = graft.operators.WeightTraining
      .refineWeightsSimplex(spark, ps, labels, k = 4,
        coarseSteps = 3, rounds = 2)
      .collect().sortBy(_.getAs[Int]("round"))
    assert(out.length == 3)
    val errs = out.map(_.getAs[Long]("error"))
    assert(errs.sliding(2).forall { case Array(a, b) => b <= a })
    out.foreach { r =>
      val ns = (1 to 4).map(i => r.getAs[Long](s"n$i"))
      assert(ns.sum == 12 && ns.forall(n => n >= 0 && n <= 12),
        s"k=4 simplex invariant: $ns") // denom = 3 << 2
      (1 to 4).foreach(i => assert(
        r.getAs[Double](s"w$i") == r.getAs[Long](s"n$i").toDouble / 12))
    }
  }

  test("evaluateSimplex k=2 agrees with evaluateGrid on the same weight points") {
    import org.apache.spark.sql.functions._
    val ps = MatchingQueries.weightPairScores(spark, sf)
    val labels = ps.select(col("doc1"), col("doc2"),
      ((col("doc1") + col("doc2")) % 5 === 0).as("accepted"))
    // feed BOTH evaluators the identical (w1, w2) doubles so the law
    // isolates the evaluation metric (window + conditional aggs), not
    // the grid generator's FP spelling
    val g2 = graft.operators.WeightTraining.simplexGrid(spark, 2, 5)
    val viaSimplex = graft.operators.WeightTraining
      .evaluateSimplex(ps, labels, g2, 2)
      .select(col("n1"), col("error"), col("n_top1"), col("n_top3"),
        col("n_accepted"))
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val viaGrid = graft.operators.WeightTraining
      .evaluateGrid(ps, labels,
        g2.select(col("n1").as("weight_id"), col("w1"), col("w2")))
      .collect().map(r => (r.getAs[Long]("weight_id"),
        (r.getAs[Long]("error"), r.getAs[Long]("n_top1"),
          r.getAs[Long]("n_top3"), r.getAs[Long]("n_accepted")))).toMap
    assert(viaSimplex.keySet == viaGrid.keySet)
    assert(viaSimplex.nonEmpty)
    viaGrid.foreach { case (i, v) =>
      assert(viaSimplex(i) == v, s"point $i: simplex ${viaSimplex(i)} vs grid $v")
    }
  }
}
