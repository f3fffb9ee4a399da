package graft.tools

/** Pinned-K agreement drill (round-12 verdict item 6): on an
  * [[EmbeddingGen]] fixture large enough to pin K at 65536 (n ≥ ~4.2M),
  * measure how often the hierarchical Lloyd assignment agrees with the
  * exact brute argmin on a sampled subset, against the same centroid
  * table the q106 chain builds — the correctness evidence for the one
  * regime DuckDB cannot replay. [[graft.HierAssignSpec]] pins the same
  * law at K=4097 on a synthetic fixture; this runs it at drill scale.
  *
  * Usage: tools/run.sh graft.tools.HierDrill <fixtureDir> [sampleEvery]
  * [nprobe] (e.g. EmbeddingGen 4500000 /tmp/embdrill; sampleEvery 450
  * → ~10k sampled vectors, a 10k×65536 brute job — trivial next to the
  * corpus assignment; nprobe 1|2 picks the coarse-probe arm, round-13
  * verdict item 4). Prints one JSON line.
  */
object HierDrill {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val sampleEvery = if (args.length > 1) args(1).toLong else 450L
    val nprobe = if (args.length > 2) args(2).toInt
      else graft.queries.VectorQueries.HierNProbe
    val spark = graft.Session(32)
    val t0 = System.nanoTime()
    val row = graft.queries.VectorQueries
      .hierAgreementProbe(spark, dir, sampleEvery, nprobe).collect()(0)
    val dt = (System.nanoTime() - t0) / 1e9
    val json = row.schema.fieldNames.zipWithIndex
      .map { case (f, i) => s""""$f":${row.get(i)}""" }
      .mkString("{", ",", s""","probe_sec":${
        String.format(java.util.Locale.ROOT, "%.1f", Double.box(dt))}}""")
    println(json)
    spark.stop()
  }
}
