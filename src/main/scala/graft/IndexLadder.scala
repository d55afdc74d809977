package graft

import org.apache.spark.sql.functions._

import graft.lake.TxLog
import graft.operators.{AnnIndex, DedupIndex}

/** Scale evidence for the PERSISTED index operators: at an Nx corpus
  * (same generators as [[ScaleLadder]]), compare the cost of a FULL
  * index build/recompute against the incremental path fed a 1-copy
  * delta — the claim under test is that maintenance costs O(delta +
  * collisions), not O(corpus):
  *
  *   - AnnIndex: full `build` on Nx vectors vs append one copy +
  *     `refresh` (assign + encode the delta through the persisted
  *     quantizers, one idempotent commit) vs a `search` against the
  *     refreshed index.
  *   - DedupIndex: initial `update` indexing Nx docs vs append one copy
  *     + `update` (shingle/band the delta only, probe the persisted
  *     band table).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   SPARK_GRAFT_LADDER_COPIES=10 sbt "runMain graft.IndexLadder"
  *
  * Prints one JSON line per operator; recorded runs live in BASELINE.md
  * ("Persistent index ladder").
  */
object IndexLadder {

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_LADDER_COPIES", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionTuning.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // bytes floor off for the ladder: its corpora are MBs — emulate the
    // production bytes-per-file ratio so the files-opened rungs mean
    // what they would at 100 TB (same device as codesFileRows below;
    // see AnnIndex.pruneMinBytes)
    spark.conf.set("spark.graft.prune.minBytes", "0")

    def timed[A](body: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val a = body
      ((System.nanoTime() - t0) / 1e9, a)
    }

    val work = java.nio.file.Files
      .createTempDirectory(s"graft-idxladder${copies}x").toString

    // ---- ANN: Nx embeddings corpus (ScaleLadder's jitter recipe) ----
    val embs = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val vSpan = embs.agg(max("vec_id")).head().getLong(0) + 1L
    def embCopy(k: Int) = embs.select(
      (col("vec_id") + lit(k.toLong * vSpan)).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x + (pmod(xxhash64(col("vec_id"), i, lit(k)), lit(1000L))
          .cast("double") / 1000.0 - 0.5) * 0.01).cast("float"))
        .as("embedding"))
    val annCorpus = s"$work/ann_corpus"
    val annIndex = s"$work/ann_index"
    TxLog.append(spark,
      (0 until copies).map(embCopy).reduce(_ unionByName _), annCorpus)
    val n = TxLog.readLatest(spark, annCorpus).count()
    val nCells = math.min(4096,
      math.max(16, math.ceil(math.sqrt(n / 8.0)).toInt))
    // codes granularity ≈ nCells/4 files: the production files-per-cell
    // ratio (1M-row files over ~√N cells) emulated at fixture scale, so
    // the files-opened numbers below mean what they would at 100 TB
    val codesFileRows = math.max(1024L,
      n / math.max(1, nCells / 4)).toInt
    val (buildSec, _) =
      timed(AnnIndex.build(spark, annCorpus, annIndex, nCells,
        codesFileRows = codesFileRows))
    TxLog.append(spark, embCopy(copies), annCorpus) // the 1-copy delta
    val (refreshSec, r) =
      timed(AnnIndex.refresh(spark, annCorpus, annIndex))
    require(!r.retrained && r.added > 0,
      s"ladder refresh must take the incremental path, got $r")
    val queries = spark.read.parquet(s"$baseDir/embeddings.parquet")
      .filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("qnorm", graft.functions.VecOps.normf(col("qe")))
      .filter(col("qnorm") > 0)
    val (searchSec, found) = timed(
      AnnIndex.search(spark, annCorpus, annIndex, queries,
        kTop = 5, nProbe = 4, shortlist = 40).count())
    val denseIO = AnnIndex.lastSearchIO.get
    // the service shape: a SINGLE query against the same index — where
    // cell-clustering + cell bloom must open ~nProbe files, not the
    // table. (The dense batch above probes most cells by construction
    // — 400 probe slots over ~√N cells — so its pruning headroom is
    // structurally small; the per-query probe FRACTION nProbe/nCells is
    // what production searches actually present.)
    val sparseQ = spark.read.parquet(s"$baseDir/embeddings.parquet")
      .filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("qnorm", graft.functions.VecOps.normf(col("qe")))
      .filter(col("qnorm") > 0)
    val (sparseSec, sparseFound) = timed(
      AnnIndex.search(spark, annCorpus, annIndex, sparseQ,
        kTop = 5, nProbe = 4, shortlist = 40).count())
    val sparseIO = AnnIndex.lastSearchIO.get
    println(
      f"""{"metric":"ann_index_ladder","copies":$copies,""" +
      f""""corpus_rows":${n + r.added},"build_sec":$buildSec%.2f,""" +
      f""""refresh_sec":$refreshSec%.2f,""" +
      f""""refresh_rows":${r.added},""" +
      f""""build_over_refresh":${buildSec / math.max(refreshSec, 1e-9)}%.1f,""" +
      f""""search_sec":$searchSec%.2f,"search_rows":$found,""" +
      f""""search_codes_files":"${denseIO.codesKept}/${denseIO.codesTotal}",""" +
      f""""search_corpus_files":"${denseIO.corpusKept}/${denseIO.corpusTotal}",""" +
      f""""sparse_search_sec":$sparseSec%.2f,"sparse_rows":$sparseFound,""" +
      f""""sparse_codes_files":"${sparseIO.codesKept}/${sparseIO.codesTotal}",""" +
      f""""sparse_corpus_files":"${sparseIO.corpusKept}/${sparseIO.corpusTotal}"}""")

    // ---- dedup: Nx documents corpus (suffixed words: copies are NOT
    // near-dups of each other, so the pair problem scales, not densifies)
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
      .select("doc_id", "text")
    val dSpan = docs.agg(max("doc_id")).head().getLong(0) + 1L
    def docCopy(k: Int) = docs.select(
      (col("doc_id") + lit(k.toLong * dSpan)).as("doc_id"),
      array_join(transform(split(col("text"), " "),
        w => concat(w, lit(s"_$k"))), " ").as("text"))
    val dedupCorpus = s"$work/dedup_corpus"
    val dedupIndex = s"$work/dedup_index"
    TxLog.append(spark,
      (0 until copies).map(docCopy).reduce(_ unionByName _), dedupCorpus)
    val (initSec, initPairs) = timed(
      DedupIndex.update(spark, dedupCorpus, dedupIndex).count())
    TxLog.append(spark, docCopy(copies), dedupCorpus)
    val (incSec, incPairs) = timed(
      DedupIndex.update(spark, dedupCorpus, dedupIndex).count())
    println(
      f"""{"metric":"dedup_index_ladder","copies":$copies,""" +
      f""""initial_sec":$initSec%.2f,"initial_pairs":$initPairs,""" +
      f""""delta_sec":$incSec%.2f,"delta_pairs":$incPairs,""" +
      f""""initial_over_delta":${initSec / math.max(incSec, 1e-9)}%.1f}""")

    // ---- maintenance rung: a MANY-BATCH band table accrues one commit
    // and one small file per update forever; the probe wall must stay
    // flat after DedupIndex.maintain() bin-packs the files and
    // truncates the log (the claim: self-maintenance keeps the
    // incremental path O(delta) over the index's whole life) ----
    val batches = sys.env.getOrElse("SPARK_GRAFT_LADDER_BATCHES", "30").toInt
    (0 until batches).foreach { sl =>
      TxLog.append(spark,
        docCopy(copies + 1).filter(col("doc_id") % batches === sl),
        dedupCorpus)
      DedupIndex.update(spark, dedupCorpus, dedupIndex).count()
      ()
    }
    def probe(k: Int): Double = {
      TxLog.append(spark,
        docCopy(copies + 2 + k).filter(col("doc_id") % 97 === 0),
        dedupCorpus)
      timed(DedupIndex.update(spark, dedupCorpus, dedupIndex).count())._1
    }
    val filesFrag = TxLog.liveSizes(spark, dedupIndex).size
    val fragSec = probe(0)
    val fragIO = DedupIndex.lastProbeIO
    val (maintSec, _) = timed(DedupIndex.maintain(spark, dedupIndex))
    val filesPacked = TxLog.liveSizes(spark, dedupIndex).size
    val flatSec = probe(1)
    val flatIO = DedupIndex.lastProbeIO
    def io(o: Option[(Int, Int)]): String =
      o.map { case (k, t) => s"$k/$t" }.getOrElse("full")
    println(
      f"""{"metric":"dedup_index_maintenance","copies":$copies,""" +
      f""""batches":${batches + 2},"files_fragmented":$filesFrag,""" +
      f""""files_packed":$filesPacked,"probe_fragmented_sec":$fragSec%.2f,""" +
      f""""probe_fragmented_files":"${io(fragIO)}",""" +
      f""""maintain_sec":$maintSec%.2f,"probe_maintained_sec":$flatSec%.2f,""" +
      f""""probe_maintained_files":"${io(flatIO)}"}""")

    spark.stop()
  }
}
