package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Exact.r6
import graft.operators.VectorSearch.cosine
import graft.queries.{Shared, VectorQueries}

/** The pruned, ranked candidate-cosine memo against the spelling it
  * replaced (kept below as the reference): one row per candidate PAIR,
  * symmetrized and ranked per reader. Every reader of the memo must
  * see exactly what it saw before. */
class CandCosinesSpec extends AnyFunSuite {
  import TestSpark._

  private val readers = Seq("q74_embedding_dups",
    "q162_embedding_dup_clusters", "q168_knn_graph", "q171_label_prop",
    "q178_dbscan")

  // the readers' thresholds: q74/q162 (near-dup), q178 (DBSCAN eps),
  // q168/q171 (kNN)
  private val MinDupCosine = 0.3
  private val DbscanEps = 0.25
  private val KnnK = 3

  /** The former `candCosines`: exact cosine once per candidate pair
    * (v1 < v2). */
  private def pairSpelling: DataFrame = {
    val emb = Tables.embeddings(spark, sf)
    val buckets = VectorQueries.lshBuckets(spark, sf)
    val cands = buckets.select(col("band"), col("key"), col("vec_id").as("v1"))
      .join(buckets.select(col("band"), col("key"), col("vec_id").as("v2")),
        Seq("band", "key"))
      .filter(col("v1") < col("v2"))
      .select("v1", "v2").distinct()
    cands
      .join(emb.select(col("vec_id").as("v1"), col("embedding").as("e1")),
        Seq("v1"))
      .join(emb.select(col("vec_id").as("v2"), col("embedding").as("e2")),
        Seq("v2"))
      .select(col("v1"), col("v2"),
        r6(cosine(col("e1"), col("e2"))).as("cosine"))
  }

  /** The former `knnEdges` body before its top-K filter: the pairs
    * symmetrized and ranked per src, every candidate kept. */
  private def rankedSpelling: DataFrame = {
    val scored = pairSpelling
    val sym = scored.select(col("v1").as("src"), col("v2").as("dst"), col("cosine"))
      .unionByName(scored.select(col("v2").as("src"), col("v1").as("dst"),
        col("cosine")))
    val w = Window.partitionBy("src").orderBy(col("cosine").desc, col("dst"))
    sym.withColumn("rnk", row_number().over(w))
      .select("src", "dst", "cosine", "rnk")
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def run(name: String): Seq[Row] =
    SparkEntry.queries(name)(spark, sf).collect().toSeq

  test("the memo is the ranked spelling pruned to cosine >= 0.25 or " +
      "rank <= 3, and the prune binds on both clauses") {
    Shared.clear()
    val memo = VectorQueries.candCosines(spark, sf)
    assert(memo.columns.toSeq === Seq("src", "dst", "cosine", "rnk"))
    val all = rankedSpelling
    val floor = math.min(MinDupCosine, DbscanEps)
    assert(rows(memo) === rows(all.filter(
      col("cosine") >= floor || col("rnk") <= KnnK)))
    // the former kNN edge list and q74 pair list, straight off the memo
    assert(rows(memo.filter(col("rnk") <= KnnK)) ===
      rows(all.filter(col("rnk") <= KnnK)))
    assert(rows(memo.filter(col("src") < col("dst") && col("cosine") >= MinDupCosine)
        .select(col("src").as("v1"), col("dst").as("v2"), col("cosine"))) ===
      rows(pairSpelling.filter(col("cosine") >= MinDupCosine)))
    // not vacuous at this scale: the prune drops rows, keeps top-K rows
    // below the floor, and keeps rows above it outside the top K
    assert(memo.count() < all.count())
    assert(memo.filter(col("cosine") < floor).count() > 0)
    assert(memo.filter(col("rnk") > KnnK).count() > 0)
    Shared.clear()
  }

  test("q74, q162, q168, q171 and q178 are equal on both spellings") {
    Shared.clear()
    val pruned = readers.map(n => n -> run(n)).toMap
    Shared.clear()
    // the unpruned reference, memoized under the memo's own key, so
    // every reader below reads it instead of the pruned build
    Shared.memoized(spark, sf, VectorQueries.candCosines.key(()))(rankedSpelling)
    val reference = readers.map(n => n -> run(n)).toMap
    Shared.clear()
    for (n <- readers) {
      assert(reference(n).nonEmpty, n)
      assert(pruned(n) === reference(n), n)
    }
  }
}
