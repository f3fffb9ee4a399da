package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{Exact, TextFns}

/** All-pairs TF-IDF cosine similarity over shingled text (reference M3:
  * `matching/matcher/CosineMatcher.scala:72-114`, which used mllib
  * `IndexedRowMatrix.columnSimilarities`).
  *
  * Instead of materialising a distributed matrix (a row-index remap +
  * RDD boundary that breaks Catalyst), this is the sparse-vector
  * formulation as plain relations: doc×term weights, inverted-index
  * self-join on term, dot products per pair, norms joined back.
  * Catalyst plans it as hash-partitioned joins on `term`/`doc`, with
  * the df cap bounding hot terms — at 100 TB this runs as ordinary
  * shuffles with AQE skew splitting; DIMSUM sampling can be layered on
  * by thinning postings with a deterministic hash filter if needed.
  *
  * Weights are milli-quantized integers (tf · idf_milli) so dots and
  * norms are exact; only the final cosine divides doubles (and sqrt is
  * IEEE-exact), keeping the output hash-stable.
  */
object CosineText {

  /** The doc×term weight frame `(doc_id, term, w)`: k-shingle tf ×
    * milli-quantized idf, terms above `maxDf` documents dropped. It
    * feeds the norms AND both sides of the inverted-index self-join in
    * [[cosinePairs]], so callers persist it (q29 memoizes it) or the
    * tokenize→shingle→tf→idf chain re-runs per consumer. */
  def cosineWeights(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3, maxDf: Long = 100): DataFrame = {
    val terms = docs
      .select(col(idCol).as("doc_id"),
        explode(TextFns.shingleHashes(TextFns.tokens(col(textCol)), k)).as("term"))
    // corpus count from a plain scan (docs with ≥ 1 k-shingle), not a
    // second pass over the exploded term frame
    val nDocs = docs.select(
        when(size(TextFns.tokens(col(textCol))) >= k, col(idCol)).as("d"))
      .agg(countDistinct("d").as("n_docs"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .crossJoin(broadcast(nDocs))
      .select(col("term"),
        round(log10(col("n_docs").cast("double") / col("df")) * 1000).cast("long")
          .as("idf_milli"))
    tf.join(idf, "term")
      .select(col("doc_id"), col("term"), (col("tf") * col("idf_milli")).as("w"))
  }

  /** Document pairs sharing a term of `weights` ([[cosineWeights]]) at
    * cosine ≥ `minCosine`: `(doc1, doc2, n_shared, cosine)`. */
  def cosinePairs(weights: DataFrame, minCosine: Double = 0.1): DataFrame = {
    // sxx = 0 (every surviving term of a doc at idf exactly 0 — only
    // possible in a corpus of <= maxDf docs) would make the cosine
    // 0/0, which Spark (NULL) and DuckDB (NaN, then a CAST error in
    // the r6 round) treat differently — drop the normless doc
    // identically in both engines (the q139/q141 guard discipline)
    val norms = weights.groupBy("doc_id")
      .agg(sum(col("w") * col("w")).as("sxx"))
      .filter(col("sxx") > 0)
    val dots = weights.select(col("term"), col("doc_id").as("doc1"), col("w").as("w1"))
      .join(weights.select(col("term"), col("doc_id").as("doc2"), col("w").as("w2")),
        Seq("term"))
      .filter(col("doc1") < col("doc2"))
      .groupBy("doc1", "doc2")
      .agg(sum(col("w1") * col("w2")).as("dot"), count(lit(1)).as("n_shared"))
    dots
      .join(norms.select(col("doc_id").as("doc1"), col("sxx").as("sxx1")), Seq("doc1"))
      .join(norms.select(col("doc_id").as("doc2"), col("sxx").as("sxx2")), Seq("doc2"))
      .withColumn("cosine",
        Exact.r6(col("dot") / (sqrt(col("sxx1")) * sqrt(col("sxx2")))))
      .filter(col("cosine") >= minCosine)
      .select("doc1", "doc2", "n_shared", "cosine")
  }
}
