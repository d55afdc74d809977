package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicLong

/** Empirical scale ladder for the dedup/ANN family: run the
  * blocked-plan queries at sf0.1 and at a generated 10x corpus
  * (sf1-equivalent documents + embeddings) and record wall time AND
  * shuffle bytes per query. `PlanSpec` asserts the plan SHAPE (equi-join
  * candidate generation, no nested loops); this records the GROWTH — a
  * blocked plan whose pair set scales super-linearly would pass the
  * shape check and fail here.
  *
  * 10x generation preserves the corpus DISTRIBUTION, not its content:
  * each copy k suffixes every word with `_k` (every shingle changes, so
  * copies are NOT near-dups of each other — a naive replication would
  * make every doc a 10-way duplicate cluster and measure a 45x-denser
  * pair problem, not a 10x-larger corpus), and embeddings get small
  * deterministic hash-noise before use so no two copies collapse into
  * identical vectors. doc_id/vec_id ranges stay disjoint per copy.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.ScaleLadder"
  *
  * Prints one JSON line per (query, scale) plus a ratio line per query;
  * recorded runs live in BASELINE.md ("Dedup/ANN scale ladder").
  */
object ScaleLadder {

  private final class ShuffleMeter extends SparkListener {
    val read = new AtomicLong(0L)
    val written = new AtomicLong(0L)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        ()
      }
    }
    def snapshot(): (Long, Long) = (read.get(), written.get())
  }

  val DefaultQueries: Seq[String] = Seq(
    "q35_dedup_exact", "q36_dedup_jaccard", "q37_dedup_minhash",
    "q38_dedup_simhash", "q71_dedup_clusters", "q108_semantic_dedup",
    "q82_sim_topk_ivfpq")

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_LADDER_COPIES", "10").toInt
    val names = if (args.nonEmpty) args.toSeq else DefaultQueries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionTuning.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.enableHotCache()

    // ---- generate the Nx corpus next to the baseline
    val bigDir = java.nio.file.Files
      .createTempDirectory(s"graft-ladder${copies}x").toString
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val idSpan = docs.agg(max("doc_id")).head().getLong(0) + 1L
    (0 until copies).map { k =>
      docs.select(
        (col("doc_id") + lit(k.toLong * idSpan)).as("doc_id"),
        // suffix every word: all shingles change, length/word stats stay
        array_join(transform(split(col("text"), " "),
          w => concat(w, lit(s"_$k"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    val embs = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val vSpan = embs.agg(max("vec_id")).head().getLong(0) + 1L
    (0 until copies).map { k =>
      embs.select(
        (col("vec_id") + lit(k.toLong * vSpan)).as("vec_id"),
        // deterministic per-(vector, dim, copy) jitter ~ +-0.5% so copies
        // don't collapse into identical points
        transform(col("embedding"), (x, i) =>
          (x + (pmod(xxhash64(col("vec_id"), i, lit(k)), lit(1000L))
            .cast("double") / 1000.0 - 0.5) * 0.01).cast("float"))
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$bigDir/embeddings.parquet")

    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)

    def run(name: String, dir: String): (Double, Long, Long) = {
      val (r0, w0) = meter.snapshot()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener bus is async; give task-end events a moment to drain
      Thread.sleep(300)
      val (r1, w1) = meter.snapshot()
      TransientCaches.drain()
      (sec, r1 - r0, w1 - w0)
    }

    // measurement protocol: per (query, dir), one warmup run (JIT + the
    // hot table cache for that dir), then CLEAR the cross-query memos
    // (q36/q37/q38 share a cached shingle frame; the ANN family caches
    // norms/codebooks) so the timed run pays its own compute — without
    // the clear, the small side reads a memo the big side just built,
    // and the ratio measures cache luck, not scaling
    def clearMemos(): Unit = {
      graft.queries.Text.clearCache()
      graft.queries.Similarity.clearCache()
    }
    names.foreach { q =>
      val warm = run(q, baseDir)
      clearMemos()
      val small = run(q, baseDir)
      run(q, bigDir)
      clearMemos()
      val big = run(q, bigDir)
      val mb = (b: Long) => b / 1e6
      println(
        f"""{"metric":"ladder","query":"$q","copies":$copies,""" +
        f""""small_sec":${small._1}%.2f,"big_sec":${big._1}%.2f,""" +
        f""""sec_ratio":${big._1 / math.max(small._1, 1e-9)}%.1f,""" +
        f""""small_shuffle_mb":${mb(small._2 + small._3)}%.1f,""" +
        f""""big_shuffle_mb":${mb(big._2 + big._3)}%.1f,""" +
        f""""shuffle_ratio":${(big._2 + big._3).toDouble /
          math.max(small._2 + small._3, 1L)}%.1f,""" +
        f""""warm_sec":${warm._1}%.2f}""")
    }
    spark.stop()
  }
}
