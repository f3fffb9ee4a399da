package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.feature.{VectorAssembler, Word2Vec}

/** Provenance generator for `graft.queries.MlFixtures`: fits the SEEDED
  * spark.ml models (RandomForest mention classifier — M6, reference
  * `analyser/AdvancedInstrumentAnalyser.scala:113-118`; Word2Vec
  * featurizer — M5, ibid:169-221) on the given scale factor and prints
  * the learned parameters as Scala source. The emitted fixture is what
  * q56/q66 predict with RELATIONALLY — training itself stays spec-only
  * (MlSpec asserts seeded determinism), but the prediction legs become
  * DuckDB-verifiable because inference over frozen parameters is just
  * joins, CASEs and exact arithmetic.
  *
  * Run: `tools/run.sh graft.tools.MlFixtureGen /root/testdata/sf0.01`
  * and paste the output into MlFixtures.scala. Thresholds are printed
  * with Double.toString (shortest round-trip repr), which both the
  * Scala compiler and DuckDB's literal parser read back to the
  * identical IEEE double; Word2Vec components are micro-quantized to
  * integers so every downstream comparison is exact.
  */
object MlFixtureGen {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session(16)

    // ---- RandomForest over the q56 feature frame (train split only) --
    val feats = graft.queries.MlQueries.q56Features(spark, sfDir)
    val train = feats.filter(
      graft.operators.Sampling.bucket(col("doc_id"),
        graft.queries.MlQueries.splitSalt) >=
        graft.queries.MlQueries.testBucketHex)
    val assembled = new VectorAssembler()
      .setInputCols(graft.queries.MlQueries.q56FeatureNames.toArray)
      .setOutputCol("features")
      .transform(train)
    val model = new RandomForestClassifier()
      .setSeed(42L).setNumTrees(20).setMaxDepth(5)
      .setLabelCol("label").setFeaturesCol("features")
      .fit(assembled)

    val sb = new StringBuilder
    sb ++= "  // generated by graft.tools.MlFixtureGen on " + sfDir + "\n"
    sb ++= "  val rfNodes: Seq[RfNode] = Seq(\n"
    graft.queries.MlFixtures.extractForest(model).foreach { n =>
      sb ++= s"    RfNode(${n.tree}, ${n.node}, ${n.feat}, ${n.thr}, " +
        s"${n.left}, ${n.right}, ${n.pred}),\n"
    }
    sb ++= "  )\n\n"

    // ---- Word2Vec vectors for the closed wordFreq vocabulary ---------
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val w2v = new Word2Vec()
      .setInputCol("toks").setOutputCol("vec")
      .setVectorSize(16).setSeed(42L).setMinCount(2)
      .setNumPartitions(1).setMaxIter(1)
      .fit(docs)
    val vocab = graft.queries.NlpQueries.wordFreq.map(_._1).toSet
    val vecs = w2v.getVectors.collect()
      .map(r => r.getString(0) -> r.getAs[org.apache.spark.ml.linalg.Vector](1))
      .filter { case (w, _) => vocab(w) }
      .sortBy(_._1)
    sb ++= "  val w2vVectors: Seq[(String, Seq[Long])] = Seq(\n"
    vecs.foreach { case (w, v) =>
      val micro = v.toArray.map(d => math.round(d * 1e6))
      sb ++= s"""    ("$w", Seq(${micro.mkString("L, ")}L)),\n"""
    }
    sb ++= "  )\n\n"

    // ---- MinHashLSH random coefficients (M4, q57's oracle leg) -------
    // The coefficients depend only on (seed, numHashTables), not on the
    // data: fit() draws them from new Random(seed) before touching rows
    // (spark/ml/feature/MinHashLSH.scala createRawLSHModel). They are
    // private[ml], so the extraction goes through runtime reflection —
    // MlSpec re-asserts fixture == fitted model every run.
    import org.apache.spark.ml.feature.MinHashLSH
    import org.apache.spark.ml.linalg.Vectors
    val sb2 = new StringBuilder
    val dim = 1 << 18
    val probe = spark.createDataFrame(Seq(
      (0L, Vectors.sparse(dim, Array(1, 7), Array(1.0, 1.0))),
      (1L, Vectors.sparse(dim, Array(2, 9), Array(1.0, 1.0)))))
      .toDF("id", "features")
    val lshModel = new MinHashLSH().setInputCol("features")
      .setOutputCol("sig").setNumHashTables(4).setSeed(42L).fit(probe)
    val (coefs, prime) = graft.queries.MlFixtures.extractMinhash(lshModel)
    sb2 ++= s"  // MinHashLSH(seed=42, numHashTables=4); HASH_PRIME = $prime\n"
    sb2 ++= "  val minhashCoefs: Seq[(Int, Int)] = Seq(\n"
    coefs.foreach { case (a, b) => sb2 ++= s"    ($a, $b),\n" }
    sb2 ++= "  )\n"

    println(sb.result())
    println(sb2.result())
    spark.stop()
  }
}
