package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{StemExpression, TextFns, VectorExpressions}
import graft.operators._
import graft.queries.Shared

/** Traced probes: one timed call into each layer on the workload's
  * input, under a span of its own name. A probe's input is materialized
  * beforehand, so the span times only the layer. Results go to Spark's
  * `noop` sink, or into the cache where a later probe reads them
  * (persist and count, which builds every column): either way no
  * projected work is pruned. */
final class Probes(spark: SparkSession, dir: String, tracer: Tracer) {
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def held(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    p
  }

  /** Counts measured alongside the probes (name → value). */
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]

  private def tables(names: Seq[String]): Unit = names.foreach { t =>
    tracer.span(s"tables.scan.$t")(noop(Harness.open(spark, dir, t)))
  }

  private def functions(): Unit = {
    val docs = Tables.documents(spark, dir)
    val toks = held(docs.select(TextFns.tokens(col("text")).as("toks")))
    val hashes = held(toks.select(TextFns.tokenHashes(col("toks")).as("h")))
    val shingles = held(toks.select(TextFns.shingleHashes(col("toks"), 5).as("sh")))
    val words = held(toks.select(explode(col("toks")).as("w")))
    // vectors and their exact-integer quantization (micro-units
    // shifted non-negative), the input form l2q takes
    def vecs(name: String) = Tables.embeddings(spark, dir).select(
      col("vec_id"), col("embedding").as(name),
      transform(col("embedding"),
        x => round(x.cast("double") * 1e6).cast("long") + 1000000L).as(s"q$name"))
    val pairs = held(vecs("a").drop("vec_id")
      .crossJoin(broadcast(vecs("b").orderBy("vec_id").limit(8).drop("vec_id"))))
    tracer.span("functions.tokens")(noop(docs.select(TextFns.tokens(col("text")))))
    tracer.span("functions.shingle_hashes")(
      noop(toks.select(TextFns.shingleHashes(col("toks"), 5))))
    tracer.span("functions.minhash")(
      noop(shingles.select(TextFns.minhashSignature(col("sh"), 12))))
    tracer.span("functions.simhash")(noop(hashes.select(TextFns.simhash32(col("h")))))
    tracer.span("functions.stem")(noop(words.select(StemExpression.stem(col("w")))))
    tracer.span("functions.vector_dot")(
      noop(pairs.select(VectorExpressions.dot(col("a"), col("b")))))
    tracer.span("functions.l2q")(
      noop(pairs.select(VectorExpressions.l2q(col("qa"), col("qb")))))
    Seq(toks, hashes, shingles, words, pairs).foreach(_.unpersist(true))
  }

  /** The match side: candidates, scores, weight grid, normalisation. */
  private def matchOperators(): Unit = {
    val ents = Tables.lineitem(spark, dir).select(
      col("l_orderkey").as("doc_id"), col("l_partkey").as("entity_id"))
    val cands = tracer.span("operators.candidate_pairs")(
      held(EntityMatching.candidatePairs(ents)))
    counts("operators.candidate_pairs") = cands.count()
    val scores = tracer.span("operators.score_pairs")(
      held(EntityMatching.scorePairs(cands, "part_overlap")))
    // a two-score labelled pair table shaped like the weight-training
    // input: the overlap score and the shared-item count
    val labeled = scores.select(col("doc1"), col("doc2"),
        col("score").as("s1"), col("item_count").cast("double").as("s2"))
      .withColumn("accepted", (col("doc1") + col("doc2")) % 5 === 0)
    tracer.span("operators.grid_eval")(noop(WeightTraining.evaluateGridLabeled(
      labeled, WeightTraining.twoTypeGrid(spark, steps = 5))))
    tracer.span("operators.normalise") {
      noop(Normalisation.percentileNormalise(scores, "score"))
      Shared.retireTransients()
    }
    Seq(cands, scores).foreach(_.unpersist(true))
  }

  /** The corpus side: MinHash dedup, connected components, LSH buckets
    * and exact top-k. */
  private def corpusOperators(): Unit = {
    val docs = Tables.documents(spark, dir)
    val dups = tracer.span("operators.minhash_dup_pairs") {
      val d = held(TextDedup.minhashDupPairs(docs, "doc_id", "text"))
      Shared.retireTransients()
      d
    }
    tracer.span("operators.cc")(noop(GraphComponents.connectedComponents(
      docs.select(col("doc_id").as("node")),
      dups.select(col("doc1").as("src"), col("doc2").as("dst")))))

    val emb = Tables.embeddings(spark, dir)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val planes = VectorSearch.planesDF(spark, VectorSearch.hyperplanes(16, dim))
    tracer.span("operators.lsh_buckets")(
      noop(VectorSearch.lshBuckets(emb, "vec_id", "embedding", planes, 4)))
    val queries = emb.orderBy("vec_id").limit(16)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    tracer.span("operators.cosine_topk")(noop(VectorSearch.cosineTopK(emb, queries, 10)))
    dups.unpersist(true)
  }

  /** Streaming queries, each drained once under a span of its own name,
    * for the micro-batch records the streaming listener takes. */
  private def streaming(names: Seq[String]): Unit = names.foreach { n =>
    tracer.span(s"streaming.$n")(noop(graft.SparkEntry.queries(n)(spark, dir)))
  }

  /** The probes named in `names`, in that order. */
  def run(names: Seq[String], streams: Seq[String]): Unit = names.foreach {
    case "tables" => tables(Tables.names)
    case "functions" => functions()
    case "operators.match" => matchOperators()
    case "operators.corpus" => corpusOperators()
    case "shared" => sharedFamilies()
    case "streaming" => streaming(streams)
    case other => throw new IllegalArgumentException(s"unknown probe: $other")
  }

  /** Builds of the text memo families, each from an empty memo. */
  private def sharedFamilies(): Unit = {
    Seq[(String, () => DataFrame)](
      "shared.family.dup_pairs" -> (() => Shared.dupPairs(spark, dir)),
      "shared.family.simhashes" -> (() => Shared.simhashes(spark, dir)))
      .foreach { case (name, build) =>
        Shared.clear()
        tracer.span(name)(build())
      }
    Shared.clear()
  }
}
