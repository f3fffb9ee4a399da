package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{Exact, TextFns}

/** Document deduplication operators for the training-data pipeline:
  * exact (content-hash), MinHash+LSH near-dup, SimHash, n-gram
  * Jaccard. The reference's only document dedup is DOI-equality SQL
  * (`deduplication/dedup/DocumentDeduplicatorApp.scala:27-116`); these
  * generalize it to content-based dedup at corpus scale.
  *
  * Scale shape: everything keys on content hashes / band keys, so the
  * only shuffles are hash-partitioned groupBys and the band-bucket
  * self-join. Hot buckets (boilerplate shingles) are capped like the
  * reference caps hot entities.
  */
object TextDedup {

  /** Exact dedup: canonical id = min doc id per md5(content). */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("content_hash")
    docs.select(col(idCol).as("doc_id"), md5(col(textCol)).as("content_hash"))
      .withColumn("canonical_id", min("doc_id").over(w))
      .withColumn("group_size", count(lit(1)).over(w))
  }

  /** Per-doc distinct k-shingle hash sets (sorted for determinism). */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      array_sort(array_distinct(
        TextFns.shingleHashes(TextFns.tokens(col(textCol)), k))).as("hashes"))

  /** MinHash-LSH near-duplicate pairs, exact-Jaccard verified.
    *
    * sig(nHashes) → `bands`×`r` band keys → bucket self-join →
    * distinct candidate pairs → join hash sets back → exact Jaccard
    * filter. The band join is the LSH prefilter (recall < 1 by
    * design); the Jaccard filter removes false positives, so output
    * pairs are exactly "bucketed together AND Jaccard >= minJaccard".
    */
  def minhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 5, nHashes: Int = 12, bands: Int = 4,
                      minJaccard: Double = 0.2,
                      maxBucketSize: Long = 50): DataFrame = {
    val r = nHashes / bands
    // the sets frame feeds three branches of this plan (signatures +
    // both sides of the verify join); persist so the tokenize/shingle/
    // hash scan runs once, not three times (tracked so
    // Shared.clear() can evict it in a long-lived session)
    val sets = graft.queries.Shared.track(
      shingleSets(docs, idCol, textCol, k)
        .filter(size(col("hashes")) > 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sigs = sets.select(
      col("doc_id"),
      TextFns.bandKeys(TextFns.minhashSignature(col("hashes"), nHashes), bands, r)
        .as("bks"))
    val buckets = sigs
      .select(col("doc_id"), explode(col("bks")).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    // cap pathological buckets (boilerplate) — semantic guard, like the
    // reference's entity-occurrence caps
    val sized = buckets.withColumn("bucket_n",
      count(lit(1)).over(Window.partitionBy("band", "key")))
      .filter(col("bucket_n") <= maxBucketSize)
    val a = sized.select(col("band"), col("key"), col("doc_id").as("doc1"))
    val b = sized.select(col("band"), col("key"), col("doc_id").as("doc2"))
    val candPairs = a.join(b, Seq("band", "key"))
      .filter(col("doc1") < col("doc2"))
      .select("doc1", "doc2").distinct()
    val h1 = sets.select(col("doc_id").as("doc1"), col("hashes").as("h1"))
    val h2 = sets.select(col("doc_id").as("doc2"), col("hashes").as("h2"))
    candPairs.join(h1, Seq("doc1")).join(h2, Seq("doc2"))
      .withColumn("n_shared", size(array_intersect(col("h1"), col("h2"))))
      .withColumn("jaccard", Exact.r6(
        col("n_shared") / (size(col("h1")) + size(col("h2")) - col("n_shared"))))
      .filter(col("jaccard") >= minJaccard)
      .select("doc1", "doc2", "n_shared", "jaccard")
  }

  /** Incremental near-dup: LSH pairs between an incoming BATCH and the
    * EXISTING corpus only — the companion to append-only ingestion
    * (q101): a new batch is deduplicated against the accumulated store
    * without regenerating corpus-vs-corpus pairs. Same parameters and
    * verify step as [[minhashDupPairs]], but the bucket join is
    * batch-buckets ⋈ existing-buckets, so the cost per ingest is
    * O(batch × bucket-overlap), not O(corpus²): at 100 TB the existing
    * side's band keys live pre-computed in the store (they are a
    * deterministic function of content), the batch side is small, and
    * the join shuffles only the batch unless the buckets are hot —
    * which the cap bounds on BOTH sides: the existing side is where
    * boilerplate accumulates, and the batch-side mirror keeps a
    * pathological batch (its own documents sharing a boilerplate
    * band) from fanning out batch-hot × cap. */
  def incrementalDupPairs(existing: DataFrame, batch: DataFrame,
                          idCol: String, textCol: String,
                          k: Int = 5, nHashes: Int = 12, bands: Int = 4,
                          minJaccard: Double = 0.2,
                          maxBucketSize: Long = 50): DataFrame = {
    val r = nHashes / bands
    def sideSets(df: DataFrame) = graft.queries.Shared.track(
      shingleSets(df, idCol, textCol, k)
        .filter(size(col("hashes")) > 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // per-side bucket keys, dropping this side's hot buckets (the cap
    // is applied independently per side — each side's count is over
    // its own rows only, so the oracle replays it per-CTE)
    def sideBuckets(sets: DataFrame) = sets
      .select(col("doc_id"), explode(
        TextFns.bandKeys(TextFns.minhashSignature(col("hashes"), nHashes),
          bands, r)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .withColumn("bucket_n",
        count(lit(1)).over(Window.partitionBy("band", "key")))
      .filter(col("bucket_n") <= maxBucketSize)
    val exSets = sideSets(existing)
    val nwSets = sideSets(batch)
    val exBuckets = sideBuckets(exSets)
    val cand = sideBuckets(nwSets)
      .select(col("band"), col("key"), col("doc_id").as("new_doc"))
      .join(exBuckets.select(col("band"), col("key"),
        col("doc_id").as("old_doc")), Seq("band", "key"))
      .select("new_doc", "old_doc").distinct()
    cand
      .join(nwSets.select(col("doc_id").as("new_doc"), col("hashes").as("h1")),
        Seq("new_doc"))
      .join(exSets.select(col("doc_id").as("old_doc"), col("hashes").as("h2")),
        Seq("old_doc"))
      .withColumn("n_shared", size(array_intersect(col("h1"), col("h2"))))
      .withColumn("jaccard", Exact.r6(
        col("n_shared") / (size(col("h1")) + size(col("h2")) - col("n_shared"))))
      .filter(col("jaccard") >= minJaccard)
      .select("new_doc", "old_doc", "n_shared", "jaccard")
  }
}
