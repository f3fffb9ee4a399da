// Streaming recovery drill (VERDICT r7 item 5): hard-kill the q108
// curation stream mid-run, resume from the checkpoint in a fresh JVM,
// and prove the resumed output hash-matches an uninterrupted batch run.
// Usage (three separate JVM invocations against the same root):
//   tools/run.sh graft.tools.RecoveryDrill <sfDir> kill    # halts mid-stream
//   tools/run.sh graft.tools.RecoveryDrill <sfDir> resume  # drains from ckpt
//   tools/run.sh graft.tools.RecoveryDrill <sfDir> batch   # oracle hash
package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import graft.streaming.{CurationStream, StreamStage}

object RecoveryDrill {

  def main(args: Array[String]): Unit = {
    val dir = args(0); val mode = args(1)
    val root = sys.env.getOrElse("SPARK_GRAFT_DRILL_DIR",
      "/tmp/graft_recovery_drill")
    val spark = graft.Session.fromEnv(8)

    // order-independent content hash: the resumed stream's parquet
    // part-file layout and row order differ from the batch run's, so
    // compare bit_xor(xxhash64(*)) + count, not file bytes (xor, not
    // sum — a sum of 64-bit hashes overflows under ANSI arithmetic)
    def contentHash(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val cols = df.columns.sorted.map(col)
      val r = df.select(
        bit_xor(xxhash64(cols: _*)).as("h"), count(lit(1)).as("n")).head()
      (r.getLong(0), r.getLong(1))
    }

    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    def startStream(maxFiles: Option[Int]) = {
      val src = spark.readStream.schema(schema)
      val withLimit = maxFiles.fold(src)(n =>
        src.option("maxFilesPerTrigger", n))
      CurationStream.verdict(
          withLimit.parquet(StreamStage.monitoredPath(dir, "documents"))
            .select("doc_id", "text"))
        .writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append")
    }

    mode match {
      case "kill" =>
        // one source file per micro-batch; halt the JVM the instant the
        // first batch commits — no stop(), no cleanup, the same crash a
        // lost driver/executor produces. Runtime.halt skips shutdown
        // hooks, so the checkpoint is left exactly as the crash left it.
        spark.streams.addListener(new StreamingQueryListener {
          override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
            if (e.progress.numInputRows > 0) {
              System.err.println(s"[drill] batch ${e.progress.batchId} committed " +
                s"(${e.progress.numInputRows} rows) — halting JVM")
              Runtime.getRuntime.halt(42)
            }
          override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        })
        val q = startStream(maxFiles = Some(1)).start()
        q.awaitTermination()
        // reachable only if the data had a single batch — a drill
        // misconfiguration, not a pass
        System.err.println("[drill] stream drained before the kill fired")
        sys.exit(3)

      case "resume" =>
        val q = startStream(maxFiles = None)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val (h, n) = contentHash(spark.read.parquet(s"$root/out"))
        println(s"""{"mode":"resume","hash":$h,"rows":$n}""")

      case "batch" =>
        val (h, n) = contentHash(CurationStream.verdict(
          spark.read.parquet(s"$dir/documents.parquet")
            .select("doc_id", "text")))
        println(s"""{"mode":"batch","hash":$h,"rows":$n}""")
    }
    spark.stop()
  }
}
