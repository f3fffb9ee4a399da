package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare
  * (`tools/check_oracle.py`). Runs the same
  * [[SweepOrder.sweep]] as Bench, so sf10 replay sweeps hit the
  * identical cache budget; a subset run skips the staged warm, and a
  * single replayed query builds only what it reads. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = Session.fromEnv(4)
    new java.io.File(outDir).mkdirs()
    val qs = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
    SweepOrder.sweep(spark, sfDir, qs, only.isEmpty, "[verify]") {
      (name, query) =>
        query().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
