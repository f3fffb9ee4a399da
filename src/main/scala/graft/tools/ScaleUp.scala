package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derive a larger scale factor from the driver-generated testdata by
  * key-shifted replication — the second bench point that turns the
  * "linear in sf" scale claims into measurements (VERDICT r5 item 3).
  *
  * Each replica r shifts every entity key by r·10^8 (far above any
  * real key), so referential integrity is preserved within a replica
  * and keys never collide across replicas. `region`/`nation` are
  * dimension tables and stay as-is (replicas keep referencing them).
  * Document text gets a replica-unique suffix (and n_chars is
  * recomputed) so the corpus multiplies without being byte-identical —
  * near-dup operators see each doc's copies as the near-duplicates
  * they are, not as exact clones that collapse to one hash.
  * ScaleUpSpec asserts the multiplication, FK integrity, and
  * near-dup-not-clone invariants.
  *
  * Usage: tools/run.sh graft.tools.ScaleUp [src] [dst] [replicas]
  * Writes parquet per table under dst (default /tmp/graft_sf0.3).
  */
object ScaleUp {

  /** Smallest stride that clears every base-fixture key: the
    * driver-generated tables top out well below 10⁸ on any sf the
    * sandbox ships (lineitem ~6·10⁵ at sf0.1), so a shift of 10⁸ per
    * replica can never collide keys across replicas. Enforced below
    * so a bad caller fails loudly instead of corrupting the fixture
    * (ADVICE r13). */
  val MinStride: Long = 100000000L

  /** Replica-count ceiling, tied to the q55 stem vocabulary: the
    * oracle's closed stem table enumerates `zrep1..zrep{MaxReps-1}`
    * (graft.queries.MlQueries references this constant), so a fixture
    * with more replicas would re-introduce the loud-fail the round-13
    * high-id screen caught (ADVICE r13). Raise both together. */
  val MaxReps: Int = 100

  /** Optional 4th arg `stride`: the per-replica key shift (default
    * 10⁸). `stride = 1100000000` with 10 replicas spans ids from the
    * unshifted base (replica 0 — so `vec_id < K` seeds and fixed query
    * batches stay populated) up to 9.9e9 (replica 9) — the >2³² id
    * regime (the q179 overflow class) at small data cost, so the
    * DuckDB hash gate can replay id-arithmetic queries whose
    * monolithic sf10 replays are disk-bound (round 13: q106, q178). */
  def replicate(spark: SparkSession, src: String, dst: String,
                reps: Int, stride: Long = 100000000L): Unit = {
    require(stride >= MinStride,
      s"stride $stride < $MinStride would collide keys across replicas")
    require(reps >= 1 && reps <= MaxReps,
      s"reps $reps outside 1..$MaxReps (q55 stem vocabulary bound)")
    val S = stride

    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")

    def rep(t: String)(f: (DataFrame, Long) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$t.parquet")
      (0 until reps).map(r => f(base, r.toLong * S))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      System.err.println(s"[scaleup] $t x$reps done")
    }

    rep("customer")((d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + k))
    rep("supplier")((d, k) =>
      d.withColumn("s_suppkey", col("s_suppkey") + k))
    rep("part")((d, k) =>
      d.withColumn("p_partkey", col("p_partkey") + k))
    rep("orders")((d, k) => d
      .withColumn("o_orderkey", col("o_orderkey") + k)
      .withColumn("o_custkey", col("o_custkey") + k))
    rep("lineitem")((d, k) => d
      .withColumn("l_orderkey", col("l_orderkey") + k)
      .withColumn("l_partkey", col("l_partkey") + k)
      .withColumn("l_suppkey", col("l_suppkey") + k))
    rep("events")((d, k) => d
      .withColumn("event_id", col("event_id") + k)
      .withColumn("user_id", col("user_id") + k))
    rep("documents")((d, k) => {
      // replica suffix carries 2-, 3- and 4-byte UTF-8 sequences by
      // default (é, 世, 😀 — round-13 verdict item 6): every ScaleUp
      // fixture permanently enforces the media family's byte-exactness
      // work (hex(encode()) oracles) instead of leaving it to one-off
      // screens. The multibyte block contains no [a-z0-9], so the
      // tokenizer sees only the ' zrepN' token (q55's closed stem
      // vocabulary is untouched), and both engines count codepoints
      // for length(), so n_chars stays engine-exact.
      val t = if (k == 0L) col("text")
        else concat(col("text"), lit(s" zrep${k / S} é世😀"))
      d.withColumn("doc_id", col("doc_id") + k)
        .withColumn("text", t)
        // length(col("text")) AFTER the replace — reusing `t` here
        // would re-apply the concat against the already-suffixed
        // column and record n_chars 6 too large (caught by
        // ScaleUpSpec's stale-n_chars assert)
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    rep("embeddings")((d, k) =>
      d.withColumn("vec_id", col("vec_id") + k))
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf0.3")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val stride = args.lift(3).map(_.toLong).getOrElse(100000000L)
    val spark = graft.Session(16)
    replicate(spark, src, dst, reps, stride)
    spark.stop()
  }
}
