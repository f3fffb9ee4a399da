// Capture .explain("formatted") + warm per-query timings for a list of
// queries in ONE JVM, run through the sweep Bench runs (staged memo
// warm, clustered order) — so the captured plan and seconds are the
// in-sweep shape, not a cold-cache anomaly.
// Usage: tools/run.sh graft.tools.PlanDump <sfDir> <outDir> <q1> [q2...]
package graft.tools

import java.nio.file.{Files, Paths}

object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSet
    val unknown = names -- graft.SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = graft.Session.fromEnv(32)
    Files.createDirectories(Paths.get(outDir))
    val qs = graft.SparkEntry.queries.toSeq.filter { case (n, _) => names(n) }
    graft.SweepOrder.sweep(spark, dir, qs, full = true, "[plandump]") {
      (name, query) =>
        val plan = query().queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(s"$outDir/$name.txt"), plan.getBytes("UTF-8"))
        val ts = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          val n = query().count()
          ((System.nanoTime() - t0) / 1e9, n)
        }
        println(f"[plandump] $name rows=${ts.head._2} " +
          f"t1=${ts(0)._1}%.2f s t2=${ts(1)._1}%.2f s min=${ts.map(_._1).min}%.2f s")
    }
    try spark.stop() catch { case _: Throwable => () }
  }
}
