package graft
/** Diagnostic: prints the measured mean recall@k of each approximate
  * top-k variant against the exact result on the sampled query set —
  * the numbers the [[graft.queries.Similarity.annContract]] collapse
  * floors are derived from. Run per SF when retuning a floor:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 sbt "runMain graft.AnnProbe"
  */
object AnnProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionTuning.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Seq("q41_sim_topk_ivf", "q60_sim_topk_quant",
        "q81_sim_topk_pq", "q82_sim_topk_ivfpq",
        "q123_sim_topk_ann_index").foreach { n =>
      val rows = queries.Similarity.recallProbe(spark, sfDir, n).collect()
      rows.foreach(r => println(s"$n: $r"))
    }
    spark.stop()
  }
}
