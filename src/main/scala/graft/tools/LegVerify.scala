package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.Session
import graft.queries.VectorQueries

/** Per-leg scale verification of q172's unified retrieval-metrics
  * artifact (round 12, verdict item 4). The full q172 DuckDB replay
  * materializes every index chain at once and exceeds ~20 GB of free
  * temp disk at sf3; this tool dumps the SAME Spark result split per
  * method (`q172_leg_<m>` parquet each) plus a per-leg oracle_sql.json
  * where each leg's SQL carries only the truth chain + that one index
  * chain — so the standard check_oracle.py compare hash-verifies the
  * one unified artifact leg by leg at scales the monolithic replay
  * cannot reach.
  *
  * Usage: tools/run.sh graft.tools.LegVerify <sfDir> <outDir> [method...]
  */
object LegVerify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = Session.fromEnv(4)
    new java.io.File(outDir).mkdirs()
    val methods = VectorQueries.q172Methods
      .filter(m => only.isEmpty || only(m))
    // ONE evaluation of the unified artifact; legs split from it so
    // the verified rows are exactly the rows q172 itself returns
    val full = VectorQueries.retrievalMetrics.run(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    methods.foreach { m =>
      full.filter(col("method") === m)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/q172_leg_$m")
      System.err.println(s"[legverify] wrote q172_leg_$m")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = methods
      .map(m => s"${q(s"q172_leg_$m")}: ${q(VectorQueries.q172LegOracle(m))}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
