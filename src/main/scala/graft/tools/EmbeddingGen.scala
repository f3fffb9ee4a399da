package graft.tools

import org.apache.spark.sql.functions._

/** Synthetic embedding fixture for the q106 KMax-crossover drill
  * (round 12, verdict item 6): `n` DISTINCT 64-dim vectors with dense
  * vec_ids 0..n−1 (ScaleUp's key-shifted replication would hand the
  * Lloyd seeding only the base 2000 distinct vectors and sparse ids,
  * degenerating K). Components are a deterministic integer hash of
  * (vec_id, dim) mapped into [−1, 1] — same value range as the driver
  * testdata — so runs are reproducible without any RNG.
  *
  * Usage: tools/run.sh graft.tools.EmbeddingGen <n> <dstDir>
  * Writes <dstDir>/embeddings.parquet (vec_id, embedding, label).
  */
object EmbeddingGen {
  def main(args: Array[String]): Unit = {
    val n = args(0).toLong
    val dst = args(1)
    val spark = graft.Session(16)
    spark.range(0, n, 1, 64)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          ((pmod(xxhash64(col("id"), d), lit(2001L)) - 1000L) / 1000.0)
            .cast("float")).as("embedding"),
        (col("id") % 16).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    System.err.println(s"[embgen] wrote $n vectors to $dst")
    spark.stop()
  }
}
