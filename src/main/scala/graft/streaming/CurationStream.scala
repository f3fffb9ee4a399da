package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.functions.Exact.r6
import graft.functions.TextFns
import graft.queries.TextQueries

/** The curation pipeline (q93's map-side stages) run as a STREAMING
  * ingest: documents arrive on a file stream and each micro-batch
  * emits per-document verdicts in append mode with no state at all —
  * language ID, quality score and repetition metrics are pure column
  * expressions, so the streaming plan is the batch plan with a stream
  * source, and stream/batch parity is exact (the DuckDB oracle is the
  * batch spelling). This is the shape a 100 TB ingest actually wants:
  * the corpus-level stages (near-dup, decontamination) run as periodic
  * batch compaction over the accumulated store (q98/q101), while the
  * per-document stages gate documents AT ingest, before they cost
  * storage.
  *
  * The reference has no streaming (SURVEY.md §2.10 green-field scope);
  * the stage semantics mirror `matching/analyser` filter stages the
  * same way q23/q24/q103 do.
  */
object CurationStream {

  private val runIdx = new AtomicInteger(0)

  /** The per-document curation verdict as pure map-side column
    * expressions over a (doc_id, text) frame — usable on a stream
    * (append mode, no watermark, no state) or a batch frame alike.
    * Stage semantics and thresholds are q93's lang/quality/repetition
    * legs; the language argmax replaces q23's window with an
    * `array_sort(struct(-hits, lang))` pick so the stream needs no
    * shuffle at all. */
  private[graft] def verdict(docs: DataFrame): DataFrame = {
    val langArr = array(TextQueries.langSets.map { case (lang, words) =>
      struct(
        (-size(filter(col("toks"), x =>
          array_contains(array(words.map(lit): _*), x)))).as("neg_hits"),
        lit(lang).as("lang"))
    }: _*)
    val en = TextQueries.langSets.toMap.apply("en")
    docs
      .withColumn("toks", TextFns.tokens(col("text")))
      .filter(size(col("toks")) > 0)
      .withColumn("lpick", element_at(array_sort(langArr), 1))
      // zero stopword hits → 'und' (q23's rule; neg_hits = -hits)
      .withColumn("predicted_lang",
        when(col("lpick").getField("neg_hits") === 0, lit("und"))
          .otherwise(col("lpick").getField("lang")))
      .drop("lpick")
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("quality", r6(
        lit(0.3) * least(lit(1.0), col("n_tokens") / 50.0)
          + lit(0.4) * (size(filter(col("toks"), x =>
              array_contains(array(en.map(lit): _*), x))) / col("n_tokens"))
          + lit(0.3) * (length(regexp_replace(lower(col("text")), "[^a-z]", ""))
              / length(col("text")))))
      // q103's native one-pass repetition stats over the same
      // space-split tokens its batch leg uses
      .withColumn("r", TextFns.repStats(split(col("text"), " ")))
      .withColumn("top_bigram_milli", expr(
        "(1000 * element_at(r, 3)) div greatest(element_at(r, 1) - 1, 1)"))
      .withColumn("drop_reasons", concat_ws(",",
        when(col("predicted_lang") =!= "en", "lang"),
        when(col("quality") < 0.5, "quality"),
        when(col("top_bigram_milli") > 60, "repetition")))
      .withColumn("keep", col("drop_reasons") === "")
      .select("doc_id", "predicted_lang", "quality", "top_bigram_milli",
        "drop_reasons", "keep")
  }

  /** Run the document stream to completion and return the verdicts. */
  def curationOnce(s: SparkSession, dir: String): DataFrame = {
    val name = s"graft_stream_cur_${runIdx.incrementAndGet()}"
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .parquet(StreamStage.monitoredPath(dir, "documents"))
    val q = verdict(stream.select("doc_id", "text"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name).orderBy("doc_id")
  }

  /** STREAMING ingest near-dup — q110's incremental LSH dedup with the
    * incoming batch arriving as a STREAM: each micro-batch's documents
    * are shingled, minhashed and band-keyed entirely MAP-SIDE (pure
    * column expressions — no state, no shuffle on the stream side),
    * then stream-static joined against the accumulated store's
    * pre-computed capped bucket table; survivors verify exact Jaccard
    * against the store's shingle sets and the (new_doc, old_doc) pairs
    * that a document's multiple shared bands duplicate are collapsed
    * with dropDuplicates. This is the 100 TB ingest shape: the store
    * side is frozen per trigger (band keys are a deterministic
    * function of content, so at scale they live materialized in the
    * store — q98/q101), each arriving document's join fan-out is
    * bounded by bands × the store-side hot-bucket cap, and duplicates
    * are flagged BEFORE the document costs storage.
    *
    * Two honest deltas vs batch q110, both inherent to streaming and
    * spelled identically in the oracle: the batch-side hot-bucket cap
    * needs the whole batch (a stream sees documents one micro-batch
    * at a time) so it is NOT applied; and the dropDuplicates state is
    * unbounded for a continuous stream (a production deployment adds
    * a watermark on ingest time — the drained AvailableNow run here
    * is exact without one). */
  def nearDupIngestOnce(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextDedup
    val (k, nHashes, bands, minJaccard, cap) = (5, 12, 4, 0.2, 50L)
    val r = nHashes / bands
    val all = s.read.parquet(s"$dir/documents.parquet")
    val existing = all.filter(col("doc_id") % 10 =!= 7)
    val exSets = TextDedup.shingleSets(existing, "doc_id", "text", k)
      .filter(size(col("hashes")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exBuckets = exSets
      .select(col("doc_id"), explode(
        TextFns.bandKeys(TextFns.minhashSignature(col("hashes"), nHashes),
          bands, r)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.key").as("key"))
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "key")))
      .filter(col("bucket_n") <= cap)
      .select(col("band"), col("key"), col("doc_id").as("old_doc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    exBuckets.count() // materialize the frozen store side once
    val name = s"graft_stream_neardup_${runIdx.incrementAndGet()}"
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .parquet(StreamStage.monitoredPath(dir, "documents"))
      .filter(col("doc_id") % 10 === 7)
    val nwSets = TextDedup.shingleSets(stream, "doc_id", "text", k)
      .filter(size(col("hashes")) > 0)
    val pairs = nwSets
      .select(col("doc_id").as("new_doc"), col("hashes").as("h1"), explode(
        TextFns.bandKeys(TextFns.minhashSignature(col("hashes"), nHashes),
          bands, r)).as("bk"))
      .select(col("new_doc"), col("h1"), col("bk.band").as("band"),
        col("bk.key").as("key"))
      .join(exBuckets, Seq("band", "key"))
      .join(exSets.select(col("doc_id").as("old_doc"),
        col("hashes").as("h2")), Seq("old_doc"))
      .withColumn("n_shared", size(array_intersect(col("h1"), col("h2"))))
      .withColumn("jaccard", r6(
        col("n_shared") / (size(col("h1")) + size(col("h2")) - col("n_shared"))))
      .filter(col("jaccard") >= minJaccard)
      .select("new_doc", "old_doc", "n_shared", "jaccard")
      .dropDuplicates("new_doc", "old_doc")
    val q = pairs.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = graft.queries.Shared.checkpoint(
      s.table(name).orderBy("new_doc", "old_doc"))
    exSets.unpersist(); exBuckets.unpersist()
    out
  }
}
