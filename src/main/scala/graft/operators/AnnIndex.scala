package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecOps
import graft.lake.TxLog

/** PERSISTED IVF×PQ ANN index over a commit-log corpus table — the lake
  * artifact the in-session ANN family (graft.queries.Similarity) memoizes
  * per JVM. At 100 TB the index build is a batch job whose outputs must
  * outlive every session and version against the corpus; this operator
  * materializes them as four graft tables under `indexRoot`:
  *
  *   - `centroids`  (cell INT, ce ARRAY<FLOAT>, cenorm DOUBLE) — the IVF
  *     coarse quantizer, metadata-sized, broadcast at search time.
  *   - `codebook`   (sub INT, idx INT, vals ARRAY<FLOAT>) — the PQ
  *     codebooks, m*k rows, driver-loaded at search time.
  *   - `codes`      (vec_id LONG, cell INT, codes BINARY, cnorm DOUBLE) —
  *     one row per corpus vector: its IVF cell and byte-packed PQ codes.
  *     NO raw embeddings: the scan search pays is m bytes/row (16x
  *     smaller than the fixture's 64-float vectors); exact re-rank
  *     fetches only the shortlist's embeddings from the corpus by id.
  *   - `meta`       one row: (epoch, corpus_version, n_cells, m, k,
  *     rows_at_train, churn_since_train) — the index's consistency and
  *     progress record (below).
  *
  * CONSISTENCY ACROSS THE FOUR TABLES — the build epoch: [[build]] cannot
  * replace four independent commit logs atomically, so every table's
  * build commit carries a shared monotone epoch as a txn watermark
  * (`EpochApp`) and the `meta` row — committed LAST — records the epoch
  * the set is complete at. [[refresh]] and [[search]] verify every
  * table's epoch watermark equals meta's before trusting the artifacts:
  * a crash inside build() leaves SOME tables at epoch e+1 under a meta
  * still at e (or a meta at e+1 the codes never reached — impossible,
  * meta is last), which fails loudly with "re-run build()" instead of
  * silently mixing new quantizers with stale codes (the
  * permanent-recall-corruption window a naive last-table-wins ordering
  * has). build() is idempotent, so recovery is exactly that re-run.
  *
  * Versioning against the corpus: `meta.corpus_version` IS the indexed
  * watermark (committed only after the codes are in place, so a torn
  * refresh replays). [[refresh]] feeds the corpus change feed above it
  * through the EXISTING centroids + codebooks and appends the new rows
  * idempotently (the codes append carries its own (appId, corpusV) txn,
  * so a crash-replay never double-indexes), then advances the meta
  * watermark. Corpus DELETES and REWRITES are consumed, not refused:
  * every id the feed deleted is vector-deleted from `codes`
  * (idempotent deletion-vector commits, O(deleted rows)), and rewritten
  * ids re-encode through the append — maintenance stays O(delta) under
  * takedowns and GDPR deletes instead of degrading to a rebuild. When
  * the CUMULATIVE churn since the last (re)train
  * (`meta.churn_since_train`, adds + removes) drifts past `retrainAt`
  * of the corpus, refresh retrains from the full corpus — the
  * drift-triggered retrain hook (deletions drift the quantizers exactly
  * like insertions: the trained distribution is gone either way).
  *
  * Search never trains: a FRESH session loads the tables and runs
  * probe-cells → ADC shortlist → exact re-rank (the
  * [[graft.queries.Similarity.ivfPqTopK]] pipeline with the candidate
  * scan reading the persisted codes and the re-rank joining the corpus).
  */
object AnnIndex {

  def centroidsRoot(indexRoot: String): String = s"$indexRoot/centroids"
  def codebookRoot(indexRoot: String): String = s"$indexRoot/codebook"
  def codesRoot(indexRoot: String): String = s"$indexRoot/codes"
  def metaRoot(indexRoot: String): String = s"$indexRoot/meta"

  private def appId(corpusRoot: String): String =
    s"graft-ann-index::$corpusRoot"

  /** The shared build-epoch txn app: every artifact table's build commit
    * carries (EpochApp, epoch), and meta records the epoch the set is
    * complete at — the cross-table torn-build detector.
    */
  private[graft] val EpochApp = "graft-ann-epoch"

  /** False-positive rates for the two bloom file indexes the index
    * maintains. A bloom keep-probability composes per probe VALUE
    * (keep ≈ nProbeValues × fpp per file), so the rates are sized for
    * the probe cardinalities each path sees: searches probe tens-to-
    * thousands of cells (1e-5 → sub-percent spurious keeps at 1k
    * probes, ~2 bytes/key), re-ranks probe up to [[MaxRerankIdProbe]]
    * corpus ids (1e-6 → ~10% worst-case at the cap, ~3.6 bytes/key —
    * negligible next to embedding-bearing corpus rows).
    */
  private val CellBloomFpp = 1e-5
  private val IdBloomFpp = 1e-6

  /** Above this many shortlist ids the re-rank skips file pruning and
    * joins the full corpus: the probe list rides a driver collect and
    * the per-file bloom test is O(probes), so "bounded" is enforced —
    * callers asking for queries×shortlist beyond 100k get the scan
    * they asked for, never a driver OOM.
    */
  private val MaxRerankIdProbe = 100000

  /** Expected-keys-per-file for a bloom sidecar, from the table's own
    * live-file bytes: a filter sized for a file's ACTUAL key count
    * stays metadata-sized (the 1M-key default over 4k-row delta files
    * oversized 250x — multi-MB filters per tiny file broke the probe
    * reader before the batch clamp), while UNDERcounting degrades the
    * false-positive rate exponentially — so the divisor is a LOW
    * bytes-per-key bound for the table's row shape (overcounting only
    * wastes sidecar bytes). Clamped to [4096, 4M].
    */
  private[operators] def bloomKeysEstimate(spark: SparkSession,
                                           root: String,
                                           bytesPerKeyFloor: Long): Long = {
    val sizes = TxLog.liveSizes(spark, root).map(_._2)
    if (sizes.isEmpty) 4096L
    else math.min(4L << 20, math.max(4096L,
      (sizes.sum / sizes.size) / bytesPerKeyFloor))
  }

  /** File-pruning only engages against tables of at least this many
    * live files: the pruned path costs a handful of extra driver-side
    * jobs (probe-list collects, sidecar tests), a FIXED overhead that
    * buys nothing when the whole table is a few files — measured at
    * 10x fixture scale the overhead DOUBLED small-table search walls
    * while saving zero I/O. Below the floor the exact pre-pruning plan
    * runs verbatim (same shape, same job count as before the feature);
    * at or above it the table is big enough that skipping pays. Shared
    * by [[DedupIndex]].
    */
  private[operators] val PruneMinFiles = 8

  /** BYTES floor twin of [[PruneMinFiles]] (round-14 measurement: the
    * file floor alone let the pruning machinery engage against
    * few-MB fixture tables, where its fixed overhead — sidecar
    * refreshes, probe-list collects — added ~54% to the q124 lifecycle
    * wall while the full scans it replaced cost milliseconds). File
    * skipping exists to avoid scanning TABLE-sized bytes; when the
    * whole table is smaller than one healthy output file (§6 of the
    * optimization guide: 128 MB–1 GB), the scan is strictly cheaper
    * than the bookkeeping, at any cluster size — the trade is
    * scale-free, so the default is a constant, not a local[32] tune.
    * Conf `spark.graft.prune.minBytes` (default 64 MB); specs and the
    * IndexLadder set 0 to emulate the production bytes-per-file ratio
    * at fixture scale (same device as their `codesFileRows`).
    */
  private[operators] def pruneMinBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.prune.minBytes").map(_.toLong)
      .getOrElse(64L << 20)

  /** The shared engage-gate for every pruning/sidecar-upkeep site: the
    * table must clear BOTH floors. One liveSizes call answers both.
    */
  private[operators] def pruneWorthy(spark: SparkSession,
                                     root: String): Boolean = {
    val sizes = TxLog.liveSizes(spark, root)
    sizes.size >= PruneMinFiles &&
      sizes.iterator.map(_._2).sum >= pruneMinBytes(spark)
  }

  /** What the last [[search]] call actually opened, per pruned scan:
    * (files kept, files total) for the codes read and the re-rank
    * corpus read — the files-opened evidence specs and the IndexLadder
    * assert on (file skipping happens before the DataFrame exists, so
    * it is invisible to plan inspection).
    */
  final case class SearchIO(codesKept: Int, codesTotal: Int,
                            corpusKept: Int, corpusTotal: Int)
  @volatile private[graft] var lastSearchIO: Option[SearchIO] = None

  /** What [[refresh]] did: rows newly indexed, rows vector-deleted from
    * the codes, total indexed rows after, and whether drift triggered a
    * full retrain.
    */
  final case class Refresh(added: Long, removed: Long, total: Long,
                           retrained: Boolean)

  /** The meta table's single row. */
  private final case class Meta(epoch: Long, corpusVersion: Long,
                                nCells: Int, m: Int, k: Int,
                                rowsAtTrain: Long, churnSinceTrain: Long)

  private def readMetaOpt(spark: SparkSession,
                          indexRoot: String): Option[Meta] =
    if (TxLog.currentVersion(spark, metaRoot(indexRoot)).isEmpty) None
    else TxLog.readLatest(spark, metaRoot(indexRoot))
      .select("epoch", "corpus_version", "n_cells", "m", "k",
        "rows_at_train", "churn_since_train")
      .collect().headOption.map(r => Meta(r.getLong(0), r.getLong(1),
        r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5), r.getLong(6)))

  private def writeMeta(spark: SparkSession, indexRoot: String,
                        m: Meta): Unit = {
    import spark.implicits._
    TxLog.overwrite(spark,
      Seq((m.epoch, m.corpusVersion, m.nCells, m.m, m.k, m.rowsAtTrain,
        m.churnSinceTrain))
        .toDF("epoch", "corpus_version", "n_cells", "m", "k",
          "rows_at_train", "churn_since_train"),
      metaRoot(indexRoot), txn = Some((EpochApp, m.epoch)))
    ()
  }

  /** Verify the artifact set is epoch-coherent (every table's build
    * watermark equals meta's epoch) and return the meta row — the gate
    * every read of the artifacts passes through. A mismatch means a
    * crash interrupted [[build]] between table replaces; the fix is
    * named because it is the whole fix.
    */
  private def coherentMeta(spark: SparkSession, indexRoot: String): Meta = {
    val meta = readMetaOpt(spark, indexRoot).getOrElse(
      throw new IllegalStateException(
        s"ANN index at $indexRoot has no meta table — run build() first"))
    Seq(centroidsRoot(indexRoot), codebookRoot(indexRoot),
      codesRoot(indexRoot)).foreach { r =>
      val e = TxLog.txnWatermark(spark, r, EpochApp).getOrElse(-1L)
      if (e != meta.epoch)
        throw new IllegalStateException(
          s"ANN index at $indexRoot is epoch-torn ($r at build epoch $e, " +
            s"meta at ${meta.epoch}) — a crash interrupted build(); " +
            "re-run build() to restore a coherent artifact set")
    }
    meta
  }

  private def normed(corpus: DataFrame, idCol: String,
                     vecCol: String): DataFrame =
    corpus.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      .withColumn("nrm", VecOps.normf(col("embedding")))
      .filter(col("nrm") > 0)

  /** Build (or rebuild) the index from the corpus table's CURRENT
    * snapshot: train the coarse quantizer and PQ codebooks on bounded
    * samples (the FAISS rule — quality needs thousands of points, not
    * the corpus), encode every vector, and replace all four tables
    * under a fresh shared epoch (meta LAST — the commit that declares
    * the set coherent). Returns the corpus version the index now
    * summarizes. Idempotent: a crash mid-build leaves an epoch-torn set
    * every reader refuses until build() is re-run.
    */
  def build(spark: SparkSession, corpusRoot: String, indexRoot: String,
            nCells: Int, m: Int = 16, k: Int = 32,
            idCol: String = "vec_id",
            vecCol: String = "embedding",
            codesFileRows: Int = 1 << 20): Long = {
    import spark.implicits._
    val corpusV = TxLog.currentVersion(spark, corpusRoot).getOrElse(
      throw new IllegalArgumentException(
        s"ANN index build: no committed corpus at $corpusRoot"))
    // next epoch: strictly above BOTH the last coherent epoch and any
    // torn table's watermark (a crashed build may have left a single
    // table ahead of meta — the new epoch must supersede it everywhere)
    val epoch = (Seq(centroidsRoot(indexRoot), codebookRoot(indexRoot),
      codesRoot(indexRoot)).map(r =>
      TxLog.txnWatermark(spark, r, EpochApp).getOrElse(0L)) ++
      readMetaOpt(spark, indexRoot).map(_.epoch).toSeq).max + 1
    val embs = normed(TxLog.readLatest(spark, corpusRoot), idCol, vecCol)
      .cache()
    try {
      val total = embs.count()
      val centroids = graft.queries.Similarity.trainCentroids(embs, nCells)
      val cb = graft.queries.Similarity.trainPqCodebooks(embs, m, k)
      val cbDf = cb.iterator.zipWithIndex.flatMap { case (sub, j) =>
        sub.iterator.zipWithIndex.map { case (cent, i) =>
          (j, i, cent.toSeq)
        }
      }.toSeq.toDF("sub", "idx", "vals")
      TxLog.overwrite(spark, centroids, centroidsRoot(indexRoot),
        txn = Some((EpochApp, epoch)))
      TxLog.overwrite(spark, cbDf, codebookRoot(indexRoot),
        txn = Some((EpochApp, epoch)))
      // The codes land CELL-CLUSTERED (range-partitioned on cell, then
      // vec_id) with per-file cell+vec_id stats AND a bloom file index
      // on cell: search probes nProbe of ~√N cells, and with this
      // layout it opens ~the probed cells' files instead of streaming
      // the whole codes table — the index eating the engine's own
      // skipping tiers. codesFileRows sets the skipping granularity
      // (~44 MB/file at the defaults; specs/ladders pass less to
      // emulate the production files-per-cell ratio at fixture scale).
      // indexed_v: the corpus version each row was indexed at — the
      // delete fence's lower bound (deleteIdsChunked)
      val codesN = math.max(1,
        math.ceil(total.toDouble / codesFileRows).toInt)
      TxLog.overwrite(spark,
        encode(embs, centroids, cb).withColumn("indexed_v", lit(corpusV))
          .repartitionByRange(codesN, col("cell"), col("vec_id")),
        codesRoot(indexRoot), statsCols = Seq("vec_id", "cell"),
        txn = Some((EpochApp, epoch)))
      // best-effort like every sidecar write here: a racing build's
      // committer collision must degrade to conservative scans, not
      // fail an otherwise-coherent build. Deferred below the pruning
      // floors (pruneWorthy) like every sidecar here — a later refresh
      // past them catches up via refreshBloomIndex's full-build path.
      if (pruneWorthy(spark, codesRoot(indexRoot)))
        try TxLog.buildBloomIndex(spark, codesRoot(indexRoot), "cell",
          expectedKeysPerFile = math.max(1024L, nCells.toLong),
          fpp = CellBloomFpp)
        catch { case scala.util.control.NonFatal(_) => }
      // corpus id bloom: the exact re-rank fetches ONLY the shortlist's
      // embeddings — with this sidecar it opens only the files that
      // hold them (incremental: first build pays one O(corpus) hash
      // pass, refreshes cover just the new files).
      if (pruneWorthy(spark, corpusRoot))
        TxLog.refreshBloomIndexBestEffort(spark, corpusRoot, idCol,
          expectedKeysPerFile = bloomKeysEstimate(spark, corpusRoot, 64),
          fpp = IdBloomFpp)
      // meta LAST: its epoch declares the set coherent; every earlier
      // crash point leaves a detectable mismatch, never a mixed index
      writeMeta(spark, indexRoot,
        Meta(epoch, corpusV, nCells, m, k, total, 0L))
      corpusV
    } finally { embs.unpersist(); () }
  }

  /** Assign to the single nearest cell and byte-pack the PQ codes — the
    * shared encode of [[build]] and [[refresh]] (scan-time projections,
    * no shuffle beyond the broadcast centroid join).
    */
  private def encode(embs: DataFrame, centroids: DataFrame,
                     cb: Array[Array[Array[Float]]]): DataFrame = {
    val m = cb.length
    val k = cb(0).length
    val flat = cb.flatten.flatten
    graft.queries.Similarity.ivfCells(
      embs.select(col("vec_id").as("cand_id"), col("embedding"),
        col("nrm").as("cnorm")),
      centroids, "cand_id", "embedding", "cnorm", keep = 1)
      .withColumn("codes", VecOps.pqEncodef(
        transform(col("embedding"), x => (x / col("cnorm")).cast("float")),
        flat, m, k))
      .select(col("cand_id").as("vec_id"), col("cell"), col("codes"),
        col("cnorm"))
  }

  /** Driver-load the persisted codebooks (m*k rows — metadata-sized). */
  private def loadCodebooks(spark: SparkSession,
                            indexRoot: String): Array[Array[Array[Float]]] =
    TxLog.readLatest(spark, codebookRoot(indexRoot))
      .select("sub", "idx", "vals").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getSeq[Float](2).toArray)
      }.toArray

  /** Vector-delete `ids` ((id LONG) single-column frame) from the rows of
    * `root` whose `idCol` matches AND whose `indexed_v` is at or below
    * `atOrBelowV` — streamed to the driver in bounded chunks so the
    * predicate never holds more than `chunk` ids, each chunk one
    * idempotent deletion-vector commit (O(matched rows), the
    * sparse-delete path). Shared by the index maintainers: delete feeds
    * are takedown-sized, but "bounded" is enforced, not assumed.
    *
    * The `indexed_v` bound (every index row carries the corpus version
    * it was indexed at) is the RACE AND REPLAY fence for rewritten ids:
    * without it, a racing updater that lost the watermark-fenced append
    * — or a crash-replay re-running the delete phase after the append
    * landed — would vector-delete the WINNER'S freshly appended rows for
    * any rewritten id, leaving the doc silently unindexed. Bounded at
    * the caller's observed watermark, a delete can only ever touch rows
    * older than the feed it is consuming.
    */
  private[operators] def deleteIdsChunked(spark: SparkSession, root: String,
                                          idCol: String, ids: DataFrame,
                                          atOrBelowV: Long,
                                          chunk: Int = 500000): Unit = {
    // pre-indexed_v ROWS (written before the column existed, NULL after
    // schema merge — NULL <= v would silently skip them and takedowns
    // would no-op) count as indexed at -1, always below the bound: they
    // predate every fenced append the bound exists to protect. A table
    // with NO indexed_v column at all fails LOUDLY at analysis instead
    // (a soft `lit(true)` fallback would re-open the racing-loser purge
    // for exactly the first post-upgrade batch); one insert-bearing
    // batch adds the column by schema merge.
    val fence = coalesce(col("indexed_v"), lit(-1L)) <= atOrBelowV
    val idsL = ids.select(col(ids.columns.head).cast("long"))
    // size probe WITHOUT an extra job: stream the frame until one chunk
    // overflows (toLocalIterator evaluates partitions lazily, so the
    // common takedown-sized feed costs exactly what the old streaming
    // path did — a separate limit+count probe re-ran the whole change
    // feed once per update step, +~0.5 s on every fixture lifecycle)
    val it = idsL.toLocalIterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    var over = false
    while (it.hasNext && !over) {
      buf += it.next().getLong(0)
      if (buf.size > chunk) over = true
    }
    if (over) {
      // MASS-DELETE path: the ids stay distributed — one semi-join
      // delete, ONE commit, no driver streaming. A dedup-driven prune of
      // 10% of a 100 TB corpus is billions of ids; the chunked fallback
      // below would turn that into thousands of commits, each paying a
      // full probe of the table.
      TxLog.deleteVectoredIds(spark, root, idsL, idCol, Some(fence))
      return
    }
    // takedown-sized path: one bounded isInCollection predicate commit
    // (a broadcast-free probe — cheaper than a join build for small
    // lists, and what replays have committed historically)
    if (buf.nonEmpty)
      TxLog.deleteVectored(spark, root,
        col(idCol).isInCollection(buf.toSeq) && fence)
  }

  /** The change feed REDUCED to net per-id effect: `removed` = every id
    * with a delete event (its old row/code is stale whether or not a
    * rewrite re-inserted it), `upserts` = the rows whose FINAL state in
    * the range is insert (at one version a rewrite emits delete+insert —
    * the row survives). Shared by the index maintainers.
    */
  private[operators] def netFeed(feed: DataFrame, idCol: String)
      : (DataFrame, DataFrame) = {
    val removed = feed.filter(col("_change_type") === "delete")
      .select(col(idCol)).distinct()
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("_commit_version").desc,
        when(col("_change_type") === "insert", 0).otherwise(1))
    val upserts = feed
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("_change_type") === "insert")
      .drop("__rn")
    (removed, upserts)
  }

  /** Incrementally index the corpus commits above the watermark with the
    * EXISTING centroids/codebooks — deletes applied as idempotent
    * vector-delete commits, the insert delta as one idempotent append,
    * the watermark advanced by the meta commit LAST (every crash point
    * replays into the same state). When cumulative churn since the last
    * (re)train exceeds `retrainAt` of the corpus, rebuilds instead
    * (same cell count and PQ shape): many small refreshes accumulate
    * toward the trigger instead of each hiding under it.
    *
    * CONTRACT: `idCol` must be unique per corpus row. The feed reduction
    * ([[netFeed]]) keeps one final-state row per id and the delete path
    * purges BY id, so duplicate-id corpora would silently index one row
    * per id — [[refreshStep]] asserts uniqueness on the delta (count vs
    * distinct count over the already-cached frame, failing loudly)
    * rather than guessing which duplicate the caller meant.
    */
  def refresh(spark: SparkSession, corpusRoot: String, indexRoot: String,
              retrainAt: Double = 0.5,
              idCol: String = "vec_id",
              vecCol: String = "embedding",
              codesFileRows: Int = 1 << 20): Refresh = {
    val codes = codesRoot(indexRoot)
    val meta0 = coherentMeta(spark, indexRoot)
    val head = TxLog.currentVersion(spark, corpusRoot).getOrElse(
      throw new IllegalArgumentException(
        s"ANN index refresh: no committed corpus at $corpusRoot"))
    val appendedThrough = TxLog.txnWatermark(spark, codes,
      appId(corpusRoot)).getOrElse(-1L)
    if (appendedThrough > meta0.corpusVersion && appendedThrough < head) {
      // TORN WINDOW: a crashed refresh appended codes through
      // `appendedThrough` but died before its meta commit, and the
      // corpus has since moved on. Processing (meta, head] in one step
      // would re-encode the crashed step's inserts under a fence that
      // no longer catches them (its watermark is below head) — double
      // codes per id. Replay THAT step to its OWN boundary first:
      // within the sub-range the old-watermark delete bound is exact
      // and the codes append self-fences; then process the remainder.
      val r1 = refreshStep(spark, corpusRoot, indexRoot, retrainAt,
        idCol, vecCol, appendedThrough, meta0, codesFileRows)
      // r1's meta commit moved the watermark — the remainder reads the
      // fresh row (coherence was checked once above)
      val r2 = refreshStep(spark, corpusRoot, indexRoot, retrainAt,
        idCol, vecCol, head, readMetaOpt(spark, indexRoot).get,
        codesFileRows)
      return Refresh(r1.added + r2.added, r1.removed + r2.removed,
        r2.total, r1.retrained || r2.retrained)
    }
    refreshStep(spark, corpusRoot, indexRoot, retrainAt, idCol, vecCol,
      head, meta0, codesFileRows)
  }

  private def refreshStep(spark: SparkSession, corpusRoot: String,
                          indexRoot: String, retrainAt: Double,
                          idCol: String, vecCol: String,
                          corpusV: Long, meta: Meta,
                          codesFileRows: Int): Refresh = {
    val codes = codesRoot(indexRoot)
    if (corpusV <= meta.corpusVersion)
      return Refresh(0L, 0L, TxLog.countRows(spark, codes), false)
    val feed = TxLog.readChanges(spark, corpusRoot, meta.corpusVersion,
      Some(corpusV))
    val (removedIds, upserts) = netFeed(feed, idCol)
    val delta = normed(upserts, idCol, vecCol).cache()
    // metadata twin of the delete gate below: a deletes-only feed
    // provably upserts nothing — skip the delta's materialization (and
    // the uniqueness probe over it) outright
    val mayInsert = TxLog.changesMayInsert(spark, corpusRoot,
      meta.corpusVersion, Some(corpusV))
    try {
      // one aggregate answers both the delta size and the unique-id
      // contract — the former two separate actions each re-ran the feed
      val (added, distinctIds) =
        if (!mayInsert) (0L, 0L)
        else {
          val r = delta.agg(count(lit(1)), countDistinct(col("vec_id")))
            .head()
          (r.getLong(0), r.getLong(1))
        }
      // the unique-id contract, enforced where violating it would
      // otherwise silently drop rows (netFeed keeps one row per id)
      require(distinctIds == added,
        s"ANN index refresh: corpus delta has $added rows but only " +
          s"$distinctIds distinct $idCol values — the index keys rows " +
          s"by $idCol (netFeed/deletes operate per id), so duplicate " +
          "ids would be silently collapsed; deduplicate the corpus or " +
          "use a unique id column")
      val preTotal = TxLog.countRows(spark, codes)
      // metadata gate: an insert-only feed provably removed nothing —
      // skip the delete probe AND the second metadata count
      // (TxLog.changesMayDelete)
      val mayDelete = TxLog.changesMayDelete(spark, corpusRoot,
        meta.corpusVersion, Some(corpusV))
      // deletes FIRST, bounded at the meta watermark (idempotent — a
      // replayed chunk matches nothing, and neither a replay nor a
      // racing loser can touch rows the fenced append landed at a newer
      // indexed_v): stale codes leave the scan before anything new
      // lands, and the exact removed count falls out of the metadata
      // row counts
      if (mayDelete)
        deleteIdsChunked(spark, codes, "vec_id", removedIds,
          atOrBelowV = meta.corpusVersion)
      val afterDelete =
        if (mayDelete) TxLog.countRows(spark, codes) else preTotal
      val removed = preTotal - afterDelete
      // known undercount on crash-replay: a crashed run's deletes were
      // applied but never persisted into churnSinceTrain, and the
      // replay's deletes match nothing — drift from crashed-run
      // removals is lost (the adds replay fully; bounded by one crash
      // window per refresh, and a manual build() always resets)
      // crash-replay between the codes append and writeMeta: the
      // appended rows are already IN afterDelete, so adding `added`
      // again would overstate the total (and understate the drift
      // ratio) — the codes txn watermark says whether the append landed
      val alreadyAppended = TxLog.txnWatermark(spark, codes,
        appId(corpusRoot)).exists(_ >= corpusV)
      val total = afterDelete + (if (alreadyAppended) 0L else added)
      val churn = meta.churnSinceTrain + added + removed
      if (total > 0 && churn.toDouble / total > retrainAt) {
        // drift hook: cumulative churn now dominates what the
        // quantizers were trained on — retrain from the full corpus at
        // the same shape (build resets the churn clock)
        build(spark, corpusRoot, indexRoot, meta.nCells,
          m = meta.m, k = meta.k, idCol = idCol, vecCol = vecCol)
        return Refresh(added, removed, TxLog.countRows(spark, codes),
          retrained = true)
      }
      if (added > 0) {
        val centroids = TxLog.readLatest(spark, centroidsRoot(indexRoot))
        val cb = loadCodebooks(spark, indexRoot)
        // delta files keep the build's cell-clustered layout (tiny
        // deltas land as one wide-range file — small, so scanning it
        // until the next maintain() re-packs is the LSM trade)
        val nf = math.max(1,
          math.ceil(added.toDouble / codesFileRows).toInt)
        TxLog.appendIdempotent(spark,
          encode(delta, centroids, cb)
            .withColumn("indexed_v", lit(corpusV))
            .repartitionByRange(nf, col("cell"), col("vec_id")),
          codes, appId(corpusRoot), corpusV,
          statsCols = Seq("vec_id", "cell"))
        // extend the sidecars over the delta: codes-cell bloom covers
        // the appended files, corpus-id bloom covers the corpus commits
        // this step just consumed — both incremental, O(delta files),
        // deferred below the pruning floors (the first refresh past
        // them catches up on every uncovered file at once). A crash
        // between the append and these leaves uncovered files, which
        // are conservatively scanned, never wrong.
        if (pruneWorthy(spark, codes))
          TxLog.refreshBloomIndexBestEffort(spark, codes, "cell",
            expectedKeysPerFile = math.max(1024L, meta.nCells.toLong),
            fpp = CellBloomFpp)
        if (pruneWorthy(spark, corpusRoot))
          TxLog.refreshBloomIndexBestEffort(spark, corpusRoot, idCol,
            expectedKeysPerFile = bloomKeysEstimate(spark, corpusRoot, 64),
            fpp = IdBloomFpp)
      }
      // watermark + churn advance LAST: a crash before this line
      // replays the whole step (deletes no-op, append dedups on its
      // own txn) and lands here again with the same numbers
      writeMeta(spark, indexRoot,
        meta.copy(corpusVersion = corpusV, churnSinceTrain = churn))
      Refresh(added, removed, total, retrained = false)
    } finally { delta.unpersist(); () }
  }

  /** Periodic self-maintenance for the index's OWN tables: every
    * refresh appends one codes commit (and rewrites meta), so after
    * hundreds of refreshes the ADC scan pays a small-file flood and
    * every maintenance step pays a long log tail. Bin-packs the codes
    * files (also materializing delete-refresh vectors away),
    * checkpoints, reclaims files older than `keepVersions` snapshots,
    * and truncates the raw logs down to a horizon that keeps those
    * snapshots readable ([[graft.lake.TxLog.maintain]]), across all
    * four artifact tables.
    * Epoch and watermark transactions survive (they ride checkpoints);
    * `graft.IndexLadder`'s maintenance rung measures the search wall
    * staying flat.
    */
  def maintain(spark: SparkSession, indexRoot: String,
               smallerThanBytes: Long = 64L << 20,
               keepVersions: Int = 2,
               minCodesFiles: Int = 8): Unit = {
    // the codes pack is CELL-CLUSTERED (range-partition, not the
    // default round-robin) and floored at minCodesFiles outputs:
    // skipping granularity is the file, so packing the codes to one
    // unskippable blob would undo exactly the layout search prunes on
    TxLog.maintain(spark, codesRoot(indexRoot), smallerThanBytes,
      keepVersions, clusterBy = Some("cell"),
      minOutputFiles = minCodesFiles)
    Seq(centroidsRoot(indexRoot),
      codebookRoot(indexRoot), metaRoot(indexRoot)).foreach(
      TxLog.maintain(spark, _, smallerThanBytes, keepVersions))
    // re-cover the packed codes files in the cell sidecar (the pack
    // staged new file names; uncovered files scan conservatively until
    // this lands) — only when the table clears the pruning floors
    if (pruneWorthy(spark, codesRoot(indexRoot))) {
      val cells =
        readMetaOpt(spark, indexRoot).map(_.nCells).getOrElse(1024)
      TxLog.refreshBloomIndexBestEffort(spark, codesRoot(indexRoot),
        "cell", expectedKeysPerFile = math.max(1024L, cells.toLong),
        fpp = CellBloomFpp)
    }
    ()
  }

  /** Top-k cosine search against the PERSISTED index — no training, no
    * session state: verify epoch coherence, load centroids (broadcast) +
    * codebooks (driver), probe each query's `nProbe` nearest cells,
    * ADC-score the cell candidates from the byte-packed codes scan,
    * shortlist, then re-rank the shortlist EXACTLY by fetching only its
    * embeddings from the corpus (an id equi-join — the full vectors are
    * never scanned). `queries` = (qid, qe ARRAY<FLOAT>, qnorm).
    *
    * I/O: BOTH big-table reads are file-pruned through the engine's own
    * skipping tiers rather than streamed whole. The codes scan opens
    * only the files whose cell stats/bloom admit one of the batch's
    * probed cells (the build wrote codes cell-clustered exactly so this
    * holds ~nProbe·|queries| files at any index size); the re-rank
    * opens only the corpus files whose id bloom admits a shortlist
    * candidate. The probe lists ride two bounded driver collects —
    * distinct cells (≤ n_cells, quantizer-sized by construction) and
    * distinct shortlist ids (≤ |queries|·shortlist, capped at
    * [[MaxRerankIdProbe]] with a full-scan fallback) — which makes
    * search PARTIALLY EAGER: the probe assignment and the ADC stage run
    * at call time, only the final re-rank stays lazy in the returned
    * frame. Each prune engages only past [[PruneMinFiles]] live files
    * (below it the exact pre-pruning plan runs verbatim — the pruned
    * path's fixed job overhead must never tax a small table).
    * [[lastSearchIO]] records what each read kept vs held.
    */
  def search(spark: SparkSession, corpusRoot: String, indexRoot: String,
             queries: DataFrame, kTop: Int, nProbe: Int, shortlist: Int,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val meta = coherentMeta(spark, indexRoot)
    val centroids = TxLog.readLatest(spark, centroidsRoot(indexRoot))
    val cb = loadCodebooks(spark, indexRoot)
    val m = cb.length
    val k = cb(0).length
    val flat = cb.flatten.flatten
    // pruning engages per table past the file AND bytes floors (see
    // PruneMinFiles/pruneMinBytes: the pruned path's fixed job overhead
    // buys nothing on a small table — below either floor the exact
    // pre-pruning plan runs verbatim)
    val pruneCodes = pruneWorthy(spark, codesRoot(indexRoot))
    val corpusSizes = TxLog.liveSizes(spark, corpusRoot)
    val corpusFiles = corpusSizes.size
    val pruneCorpus = corpusFiles >= PruneMinFiles &&
      corpusSizes.iterator.map(_._2).sum >= pruneMinBytes(spark)
    val probes0 = graft.queries.Similarity.ivfCells(
      queries, centroids, "qid", "qe", "qnorm", keep = nProbe)
      .withColumn("lut", VecOps.pqLutf(
        transform(col("qe"), x => (x / col("qnorm")).cast("float")),
        flat, m, k))
    // persisted only when the cells collect below will re-consume it
    val probes = if (pruneCodes) probes0.persist() else probes0
    // the batch's probe-cell set: bounded by n_cells, which is driver-
    // sized by construction (the coarse quantizer broadcasts)
    val cellList0 =
      if (!pruneCodes) Array.empty[Int]
      else probes.select("cell").distinct()
        .collect().map(_.getInt(0)).sorted
    // DENSITY guard: a batch probing half the cells keeps ~every file
    // whatever the layout — run the plain scan instead of paying the
    // sidecar tests to learn nothing (the dense-batch shape; production
    // searches probe nProbe/n_cells, a sliver)
    val cellList =
      if (cellList0.length * 2 >= meta.nCells) Array.empty[Int]
      else cellList0
    val codes =
      if (cellList.isEmpty) TxLog.readLatest(spark, codesRoot(indexRoot))
      else TxLog.readPrunedScan(spark, codesRoot(indexRoot), Nil,
        equalities = Seq(("cell", cellList.toSeq)))
    // seam capture: lastStatsPrune = (stats-kept, total live),
    // lastBloomPrune = (bloom-kept, stats-survivors); -1 = unpruned read
    val (codesKept, codesTotal) =
      if (cellList.isEmpty) (-1, -1)
      else (TxLog.lastBloomPrune.map(_._1).getOrElse(-1),
        TxLog.lastStatsPrune.map(_._2).getOrElse(-1))
    val wAdc = Window.partitionBy("qid")
      .orderBy(col("adc").desc, col("vec_id"))
    val short0 = probes.join(codes, "cell")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adc", VecOps.pqAdcf(col("codes"), col("lut"), k))
      .withColumn("srnk", row_number().over(wAdc))
      .filter(col("srnk") <= shortlist)
      .select(col("qid"), col("vec_id").as("cand_id"), col("qe"),
        col("qnorm"))
    val short = if (pruneCorpus) short0.persist() else short0
    // DENSITY guard, same idea as the cells: ≥48 expected probe ids per
    // corpus file keeps essentially every file that holds more than a
    // handful of rows — the collect stops at the threshold and the
    // full-corpus join runs, sidecar untouched
    val rerankCap = math.min(MaxRerankIdProbe.toLong,
      48L * math.max(1, corpusFiles)).toInt
    val candIds =
      if (!pruneCorpus) Array.empty[Long]
      else short.select("cand_id").distinct()
        .limit(rerankCap + 1).collect().map(_.getLong(0))
    val rerankPruned =
      candIds.nonEmpty && candIds.length <= rerankCap
    val corpusScan =
      if (rerankPruned)
        TxLog.readPrunedScan(spark, corpusRoot, Nil,
          Seq((idCol, candIds.toSeq)))
      else TxLog.readLatest(spark, corpusRoot)
    lastSearchIO = Some(SearchIO(codesKept, codesTotal,
      if (rerankPruned) TxLog.lastBloomPrune.map(_._1).getOrElse(-1)
      else -1,
      if (rerankPruned) corpusFiles else -1))
    val corpusEmb =
      normed(corpusScan, idCol, vecCol)
        .select(col("vec_id").as("cand_id"), col("embedding"),
          col("nrm").as("cnorm"))
    val wExact = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("cand_id"))
    short.join(corpusEmb, "cand_id")
      .withColumn("cosine",
        VecOps.dotf(col("qe"), col("embedding")) /
          (col("qnorm") * col("cnorm")))
      .withColumn("rnk", row_number().over(wExact).cast("long"))
      .filter(col("rnk") <= kTop)
      .select("qid", "cand_id", "rnk", "cosine")
      .orderBy("qid", "rnk")
  }
}
