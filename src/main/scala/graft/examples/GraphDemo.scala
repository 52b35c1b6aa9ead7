package graft.examples

import org.apache.spark.sql.functions._

/** Runnable tour of the semantic-graph analytics family — the
  * library consumed the way a corpus-curation team reads its
  * embedding space:
  *
  *   int8 kNN graph (shared zone) → label-propagation communities →
  *   modularity (are they better than chance?) → purity vs source
  *   labels (do they track provenance?) → assortativity (hub
  *   structure) → trusted-seed hop distance + personalized PageRank
  *   (how far is each doc from vetted content?) → link prediction
  *   (what's missing from the graph?).
  *
  * Every stage is one of the named, oracle-checked operators; this
  * main only sequences them and prints the headline numbers. The
  * expensive relation (the kNN graph) is derived ONCE into the
  * scratch zone and every stage reads it — the zone discipline the
  * whole library is built on.
  *
  * Usage: runMain graft.examples.GraphDemo [sfDir]
  */
object GraphDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.util.Sessions.build(sfDir)
    import graft.sim.Spectral

    val comm = Spectral.labelProp(spark, sfDir)
    val nComm = comm.select("community").distinct().count()
    println(s"[graph-demo] communities: $nComm")

    val q = Spectral.modularity(spark, sfDir)
      .agg(sum(col("q_c")).as("q")).collect()(0).getDouble(0)
    println(f"[graph-demo] modularity Q = $q%.4f")

    val pur = Spectral.clusterPurity(spark, sfDir)
      .agg((sum(col("n_majority")).cast("double") /
        sum(col("csize")).cast("double")).as("p"))
      .collect()(0).getDouble(0)
    println(f"[graph-demo] purity vs source = $pur%.4f")

    val r = Spectral.assortativity(spark, sfDir)
      .collect()(0).getAs[Double]("r")
    println(f"[graph-demo] degree assortativity r = $r%.4f")

    val far = Spectral.seedDistance(spark, sfDir)
      .where(col("hops").isNull).count()
    println(s"[graph-demo] docs unreached from trusted seeds: $far")

    val topPpr = Spectral.personalizedPagerank(spark, sfDir)
      .where(!col("is_seed"))
      .orderBy(col("ppr_fp").desc).limit(3)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toSeq
    println(s"[graph-demo] top non-seed PPR docs: $topPpr")

    val links = Spectral.linkPrediction(spark, sfDir).count()
    println(s"[graph-demo] predicted missing links: $links")

    spark.stop()
  }
}
