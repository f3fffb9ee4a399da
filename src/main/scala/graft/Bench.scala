package graft

/** Benchmark main: times every SparkEntry query at the given scale
  * factor in one [[Session]] and prints ONE JSON line.
  *
  * This box's disk throughput varies run-to-run by up to ~2×
  * (BASELINE.md documents identical plans at 4.6 s vs 37.8 s), so a
  * single sample per query cannot distinguish a plan regression from
  * disk noise. Each query is therefore timed over SPARK_GRAFT_BENCH_RUNS
  * (default 2) independent sweeps — the session-level memo caches are
  * cleared between sweeps so every sweep is cold — and the reported
  * time is the per-query minimum, the standard noise-floor estimator.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val spark = Session.fromEnv(32)
    // optional subset filter (comma-separated names) for scale probes;
    // the driver never sets it, so the recorded bench stays full-suite
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // fail fast on a name that matches nothing — a typo would
    // otherwise silently bench an empty (or smaller) suite and emit a
    // plausible-looking near-zero total
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_(n)) }
    // Full-suite sweeps time the staged warm as an explicit
    // `cache_build` step (VERDICT r7 item 6): the match chain whose
    // parents the sweep releases early (SweepOrder.warmSet), built
    // right before the match cluster; every other family builds at its
    // first consumer, which a `memo … by <query>` line shows. Subset
    // probes (SPARK_GRAFT_ONLY) skip the warm so scale rows keep
    // measuring the query as a user runs it. Reported keys stay
    // name-sorted; only execution order is clustered.
    val warmCaches = only.isEmpty
    val samples = (1 to runs).map { run =>
      val swept = SweepOrder.sweep(spark, sfDir, sorted, warmCaches,
          s"[bench] run $run") { (name, query) =>
        val t0 = System.nanoTime()
        val n = query().count()
        val dt = (System.nanoTime() - t0) / 1e9
        // per-query progress on stderr so a wedged run is diagnosable
        System.err.println(f"[bench] run $run $name rows=$n ${dt}%.1f s")
        dt
      }
      // one line per memo build: shows a cost moved out of the warm
      // (self = without the memo builds it triggered, so self times sum)
      queries.Shared.buildRecord(spark, sfDir).foreach { b =>
        System.err.println(f"[bench] run $run memo ${b.key} ${b.sec}%.1f s " +
          f"(self ${b.selfSec}%.1f s) by " + (if (b.by.isEmpty) "warm" else b.by))
      }
      // drop every session-level cache so the next sweep is cold —
      // otherwise run 2 times the cached path, not the query
      queries.Shared.clear()
      val warmTime =
        if (warmCaches) Seq("cache_build" -> (swept.warmSec, swept.warmOk))
        else Nil
      (warmTime ++ swept.results.map { case (name, r) =>
        name -> (r.getOrElse(-1.0), r.isRight)
      }).toMap
    }
    // min over SUCCESSFUL sweeps only — a crashed sweep's short
    // duration must not masquerade as a timing; all-failed → -1
    val keys = (if (warmCaches) Seq("cache_build") else Nil) ++ sorted.map(_._1)
    val results = keys.map { name =>
      val ok = samples.map(_(name)).collect { case (dt, true) => dt }
      name -> (if (ok.nonEmpty) ok.min else -1.0)
    }
    // The harness that records this run keeps only the LAST 2000 chars
    // of stdout (measured from BENCH_r04.json) — a full ~97-query map
    // is ~2.6k chars and can NEVER fit, which is why rounds 3 and 4
    // recorded `parsed: null`. So: (1) the full detail line goes to a
    // repo file AND stdout (forensics), (2) the FINAL stdout line is a
    // short summary — totals plus the 15 heaviest queries — that always
    // fits the tail window whole and parses.
    // Locale.ROOT: the f-interpolator honours the JVM default locale,
    // and a comma-decimal locale would make the line invalid JSON
    def s3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(v))
    def qmap(rs: Seq[(String, Double)]) = rs
      .map { case (k, v) => "\"" + k + "\":" + s3(v) }
      .mkString("{", ",", "}")
    // failed queries stay -1.0 in the per-query map (visible) but must
    // NOT be summed — a failure would otherwise SHRINK the total and
    // read as a speedup; they are named in the summary instead
    val failed = results.collect { case (k, v) if v < 0 => k }
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // stop() can throw on FS-teardown races; the results must not be
    // lost to that (ADVICE r3)
    try spark.stop() catch { case e: Throwable =>
      System.err.println(s"[bench] spark.stop failed: ${e.getMessage}")
    }
    val detail = s"""{"queries":${qmap(results)},"metric":"total","value":${s3(total)},"unit":"sec","sf":"$sfDir","runs":$runs}"""
    // absolute path: the recording harness may run this main from any
    // cwd, and the detail file must land where the repo readers look
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL",
      "/root/repo/BENCH_DETAIL.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    println(detail)
    val top = results.filter(_._2 >= 0).sortBy(-_._2).take(15)
    // cap the failed-name list: an unbounded list could push this line
    // past the 2000-char stdout tail window the driver captures
    val failedShown = failed.take(10).map("\"" + _ + "\"") ++
      (if (failed.size > 10) Seq("\"+" + (failed.size - 10) + " more\"") else Nil)
    val failedJson = failedShown.mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${s3(total)},"unit":"sec","queries":${qmap(top)},"sf":"$sfDir","runs":$runs,"n_queries":${sorted.size},"n_failed":${failed.size},"failed":$failedJson,"detail":"BENCH_DETAIL.json"}""")
  }
}
