package graft.lake

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, MapType, StringType, StructField, StructType}

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

/** Minimal ACID table format for the curated zone: a per-table JSON commit
  * log providing snapshot isolation, time travel, and rollback over plain
  * partitioned Parquet — the engine-native realization of the reference's
  * `catalog_versioning=True` promise (utils.py:78,247) and the north
  * star's "ACID operations over Delta/Parquet".
  *
  * Layout: data files live in Hive-style partition dirs under the table
  * root (exactly like [[Writer.writeCurated]] output); the log lives in
  * `root/_txlog/<version padded to 20 digits>.json`, one JSON document per
  * commit recording (version, operation, added files, removed files,
  * schema DDL, partition columns, timestamp).
  *
  * Protocol (the Delta-style optimistic pattern, re-derived for this
  * engine):
  *
  *  1. WRITERS first stage data files (a normal distributed Spark write to
  *     a `_stage_*` dir), move them into the partition layout under
  *     UNIQUE names, and only then attempt to create the next log file
  *     with create-if-absent. The log create IS the commit point: until it
  *     succeeds, the new files are invisible (readers never list
  *     directories — they read the log's explicit file list), so a reader
  *     concurrent with any write, including a partition upsert's
  *     delete+rewrite, sees exactly the old or the new snapshot, never a
  *     torn mix. This closes the read-during-rewrite window of the
  *     log-less [[Writer.upsertPartitions]].
  *  2. CONCURRENT writers race on the version number: the loser's
  *     create(overwrite=false) throws, it re-reads the log (recomputing
  *     its remove set against the winner's state) and retries at the next
  *     version — optimistic concurrency with file-level conflict
  *     granularity. The claim is a pluggable [[CommitStore]]: local FS
  *     and HDFS-family schemes get a native atomic create-if-absent
  *     ([[FsCommitStore]]); object stores without one must install a
  *     CAS-backed store ([[CommitStore.install]]) and are REFUSED
  *     (loudly, at claim time) rather than silently losing races.
  *  3. REMOVED files are not physically deleted — old snapshots stay
  *     readable for time travel ([[readAt]]) and [[rollback]] — until an
  *     explicit [[vacuum]] reclaims versions older than a retention
  *     window.
  *
  * Scale notes (100 TB): the log is metadata-sized — O(files touched) per
  * commit, never row-scaled; stage+rename is two namespace ops per file;
  * readers do one directory listing of `_txlog` plus V small JSON reads.
  * At very high commit counts the standard extension is a periodic
  * checkpoint file summarizing the live set so readers replay
  * checkpoint + tail instead of the whole log; the replay below is already
  * expressed as (snapshot state, commit) folds to keep that drop-in.
  */
object TxLog {

  val LogDirName = "_txlog"

  /** Per-file column stats for data skipping: file -> column -> (min, max)
    * in double space (numeric/date-ish columns; computed only when a write
    * passes `statsCols`).
    */
  type FileStats = Map[String, Map[String, (Double, Double)]]

  /** Deletion-vector reference: one live data file -> (root-relative
    * sidecar path holding its deleted row positions, cumulative deleted
    * row count). The count makes [[countRows]] stay metadata-only.
    */
  type DvRef = (String, Long)

  /** `renames`: the FULL logical-name -> physical-name column mapping as
    * of this commit (lower-cased logical keys), declared — `Some`, even
    * when empty — only by the full-state-ish ops that change or restate
    * it (rename_column, drop_column of a mapped column, rollback,
    * clone). `None` = inherit the previous commit's mapping; an
    * `overwrite` clears it (every live file is rewritten under the
    * logical names). See [[renameColumn]] for the design.
    */
  final case class Commit(version: Long, operation: String, timestampMs: Long,
                          add: Seq[String], remove: Seq[String],
                          schemaDdl: String, partitionCols: Seq[String],
                          stats: FileStats = Map.empty,
                          txn: Option[(String, Long)] = None,
                          consAdd: Map[String, String] = Map.empty,
                          consDrop: Seq[String] = Seq.empty,
                          dv: Map[String, DvRef] = Map.empty,
                          dvDrop: Seq[String] = Seq.empty,
                          metrics: Map[String, Long] = Map.empty,
                          schemaDrop: Seq[String] = Seq.empty,
                          renames: Option[Map[String, String]] = None)

  // -------------------------------------------------------------------
  // Commit (de)serialization — Jackson tree API (on every Spark classpath)
  // -------------------------------------------------------------------

  private val mapper = new ObjectMapper()

  private def statsToNode(n: com.fasterxml.jackson.databind.node.ObjectNode,
                          stats: FileStats): Unit = {
    val sn = n.putObject("stats")
    stats.foreach { case (file, cols) =>
      val fn = sn.putObject(file)
      cols.foreach { case (c, (mn, mx)) =>
        val a = fn.putArray(c); a.add(mn); a.add(mx)
      }
    }
  }

  private def statsFromNode(n: com.fasterxml.jackson.databind.JsonNode): FileStats = {
    val sn = n.get("stats")
    if (sn == null) return Map.empty
    val files = Map.newBuilder[String, Map[String, (Double, Double)]]
    sn.properties().forEach { fe =>
      val cols = Map.newBuilder[String, (Double, Double)]
      fe.getValue.properties().forEach { ce =>
        cols += ce.getKey -> (ce.getValue.get(0).asDouble, ce.getValue.get(1).asDouble)
      }
      files += fe.getKey -> cols.result()
    }
    files.result()
  }

  /** Reader-feature ladder (the Delta protocol-version idea, scoped to
    * this log format). A commit that first USES a feature an older
    * reader would silently mis-read stamps `minReader` with the rung
    * that understands it; readers refuse — loudly — anything above
    * [[SupportedReaderVersion]] instead of dropping the unknown fields
    * and resolving wrong state (a reader that ignores `dv` resurrects
    * deleted rows; one that ignores `renames` reads renamed columns as
    * all-NULL):
    *
    *  1. base protocol — add/remove/stats/txn/constraints/metrics
    *  2. deletion vectors (`dv`/`dvDrop`) and drop-column tombstones
    *     (`schemaDrop`)
    *  3. column mapping (`renames`)
    *
    * Commits using nothing above rung 1 carry NO field, so pre-feature
    * logs round-trip byte-unchanged and stay readable by every reader.
    * Checkpoints derive their stamp from the STATE they summarize (see
    * the writers), so the requirement survives log truncation.
    */
  val SupportedReaderVersion = 3

  /** A log entry or checkpoint demands a newer reader. Deliberately NOT
    * a parse failure: [[historyRaw]] treats unparseable tails as
    * in-flight commits, and this must never be mistaken for one — an
    * old writer waiting out a "crashed" tail it actually cannot read
    * would then commit against state it doesn't understand.
    */
  final class UnsupportedLogFeatureException(msg: String)
    extends IOException(msg)

  private def checkReaderVersion(n: com.fasterxml.jackson.databind.JsonNode,
                                 what: => String): Unit = {
    val need = Option(n.get("minReader")).map(_.asInt).getOrElse(1)
    if (need > SupportedReaderVersion)
      throw new UnsupportedLogFeatureException(
        s"$what requires log reader version $need; this build supports " +
          s"<= $SupportedReaderVersion — upgrade the library to read " +
          "(and above all to WRITE) this table")
  }

  /** The ladder rung `c`'s features demand: 0 omits the field. */
  private def minReaderOf(c: Commit): Int =
    if (c.renames.exists(_.nonEmpty)) 3
    else if (c.dv.nonEmpty || c.dvDrop.nonEmpty || c.schemaDrop.nonEmpty) 2
    else 0

  /** The rung a snapshot's SURVIVING state demands — the checkpoint
    * stamp, so the requirement outlives log truncation exactly as long
    * as the state that created it does (an overwrite that clears the
    * mapping and vectors drops the requirement with them).
    */
  private def minReaderOfState(colMap: Map[String, String],
                               liveDvs: Map[String, DvRef],
                               dropped: Set[String]): Int =
    if (colMap.nonEmpty) 3
    else if (liveDvs.nonEmpty || dropped.nonEmpty) 2
    else 1

  private def toJson(c: Commit): String = {
    val n = mapper.createObjectNode()
    n.put("version", c.version)
    n.put("operation", c.operation)
    n.put("timestampMs", c.timestampMs)
    val mr = minReaderOf(c)
    if (mr > 1) n.put("minReader", mr)
    n.put("schemaDdl", c.schemaDdl)
    val a = n.putArray("add"); c.add.foreach(a.add)
    val r = n.putArray("remove"); c.remove.foreach(r.add)
    val p = n.putArray("partitionCols"); c.partitionCols.foreach(p.add)
    if (c.stats.nonEmpty) statsToNode(n, c.stats)
    c.txn.foreach { case (app, v) =>
      n.put("txnAppId", app); n.put("txnVersion", v)
    }
    if (c.consAdd.nonEmpty) {
      val cn = n.putObject("consAdd")
      c.consAdd.foreach { case (name, sql) => cn.put(name, sql) }
    }
    if (c.consDrop.nonEmpty) {
      val cd = n.putArray("consDrop"); c.consDrop.foreach(cd.add)
    }
    if (c.dv.nonEmpty) {
      val dn = n.putObject("dv")
      c.dv.foreach { case (file, (path, rows)) =>
        val e = dn.putObject(file); e.put("path", path); e.put("rows", rows)
      }
    }
    if (c.dvDrop.nonEmpty) {
      val dd = n.putArray("dvDrop"); c.dvDrop.foreach(dd.add)
    }
    if (c.metrics.nonEmpty) {
      val mn = n.putObject("metrics")
      c.metrics.foreach { case (k, v) => mn.put(k, v) }
    }
    if (c.schemaDrop.nonEmpty) {
      val sd = n.putArray("schemaDrop"); c.schemaDrop.foreach(sd.add)
    }
    // presence (even of an empty object) is meaningful: Some(Map.empty)
    // declares "no mapping from here on", None inherits
    c.renames.foreach { m =>
      val rn = n.putObject("renames")
      m.foreach { case (logical, physical) => rn.put(logical, physical) }
    }
    n.toString
  }

  private def fromJson(s: String): Commit = {
    val n = mapper.readTree(s)
    checkReaderVersion(n, s"log entry v${
      Option(n.get("version")).map(_.asLong.toString).getOrElse("?")}")
    def arr(f: String): Seq[String] = {
      val it = n.get(f).elements()
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next().asText()
      b.result()
    }
    val consAdd = {
      val b = Map.newBuilder[String, String]
      Option(n.get("consAdd")).foreach(_.properties().forEach(e =>
        b += e.getKey -> e.getValue.asText()))
      b.result()
    }
    val consDrop =
      if (n.has("consDrop")) arr("consDrop") else Seq.empty[String]
    val dv = {
      val b = Map.newBuilder[String, DvRef]
      Option(n.get("dv")).foreach(_.properties().forEach(e =>
        b += e.getKey -> (e.getValue.get("path").asText,
          e.getValue.get("rows").asLong)))
      b.result()
    }
    val dvDrop = if (n.has("dvDrop")) arr("dvDrop") else Seq.empty[String]
    val metrics = {
      val b = Map.newBuilder[String, Long]
      Option(n.get("metrics")).foreach(_.properties().forEach(e =>
        b += e.getKey -> e.getValue.asLong()))
      b.result()
    }
    val schemaDrop =
      if (n.has("schemaDrop")) arr("schemaDrop") else Seq.empty[String]
    val renames =
      if (!n.has("renames")) None
      else {
        val b = Map.newBuilder[String, String]
        n.get("renames").properties().forEach(e =>
          b += e.getKey -> e.getValue.asText())
        Some(b.result())
      }
    Commit(n.get("version").asLong, n.get("operation").asText,
      n.get("timestampMs").asLong, arr("add"), arr("remove"),
      n.get("schemaDdl").asText, arr("partitionCols"), statsFromNode(n),
      Option(n.get("txnAppId")).map(a => (a.asText, n.get("txnVersion").asLong)),
      consAdd, consDrop, dv, dvDrop, metrics, schemaDrop, renames)
  }

  // -------------------------------------------------------------------
  // Log access
  // -------------------------------------------------------------------

  /** Thrown by [[resolve]] when `root` holds no txlog table at all (no
    * log directory, or an entry-less one): the ONE refusal that
    * legitimately means "fresh table" to write paths. A distinct type so
    * callers can treat exactly this case as empty state while every
    * other refusal — above all the truncated-log "origin entries
    * missing" guard — stays loud: catching bare IllegalArgumentException
    * there would fail OPEN (stage under an empty column mapping, commit
    * a delta against a partial live set) on precisely the corrupted
    * state those guards exist to detect.
    */
  final class NotATxLogTableException(msg: String)
    extends IllegalArgumentException(msg)

  private def fileSystem(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logPath(root: String, version: Long): Path =
    new Path(f"$root/$LogDirName/$version%020d.json")

  private val LogFile = raw"(\d{20})\.json".r

  /** Log files in version order with parse results. The create() that
    * claims a version makes the file VISIBLE before its bytes land, so the
    * newest entry can legitimately be unreadable for a few ms — that is an
    * in-flight commit, not corruption. A writer never claims version v+1
    * until v parses (see [[commitLoop]]), so an unparseable entry is
    * always the tail; anywhere else it is real corruption and must throw
    * rather than silently truncate history.
    */
  private def historyRaw(spark: SparkSession, root: String,
                         afterVersion: Long = -1L,
                         boundAtCheckpoint: Boolean = false): Seq[(String, Option[Commit])] =
    historyProject(spark, root, afterVersion, boundAtCheckpoint)(identity)

  /** Per-commit PROJECTIONS of the raw log entries, computed ONE ENTRY
    * AT A TIME: each full [[Commit]] (an overwrite on a big table
    * carries millions of file paths) is transient parse state inside
    * its own step, and only `f`'s results are retained — what bounds
    * DESCRIBE HISTORY and the timestamp-resolution ops on tables whose
    * entries are themselves huge. Listing, ordering, version-bound, and
    * torn-tail semantics are exactly [[historyRaw]]'s (which is this
    * function at `identity`).
    */
  private def historyProject[A](spark: SparkSession, root: String,
                                afterVersion: Long = -1L,
                                boundAtCheckpoint: Boolean = false,
                                untilVersion: Long = Long.MaxValue)
                               (f: Commit => A): Seq[(String, Option[A])] = {
    val fs = fileSystem(spark, root)
    val dir = new Path(s"$root/$LogDirName")
    val store = CommitStore.forPath(dir)
    val listed = store.list(fs, dir)
    // the write path ([[commitLoop]]) bounds its parse at the newest
    // checkpoint: every entry a checkpoint summarizes is state the loop
    // already reads through resolve(), so re-parsing them per commit
    // makes every write O(log length) instead of O(tail) — on a
    // long-lived table that is the commit path's dominant cost. The
    // bound comes from the SAME listing, zero extra IO.
    val after =
      if (!boundAtCheckpoint) afterVersion
      else math.max(afterVersion,
        ckptsIn(listed.map(_.getName)).keys.maxOption.getOrElse(-1L))
    listed
      .filter { p =>
        p.getName match {
          // version bounds applied at the LISTING, before any file is
          // opened — this is what makes checkpointed resolution O(tail)
          // reads instead of O(log length), and below-window history
          // reads O(window), never a re-parse of the whole tail
          case LogFile(v) =>
            val n = v.toLong; n > after && n <= untilVersion
          case _          => false
        }
      }
      .sortBy(_.getName)
      .map { p =>
        // torn/absent bytes read as None (the in-flight-tail state); a
        // reader-version refusal PROPAGATES — an old writer waiting out
        // a "crashed" tail it actually cannot parse would eventually
        // commit against state it doesn't understand. Only the PARSE
        // sits in the catch: a projection that throws must propagate,
        // not be misclassified as a torn entry
        val parsed =
          (try Some(fromJson(new String(store.read(fs, p), UTF_8)))
           catch {
             case e: UnsupportedLogFeatureException => throw e
             case scala.util.control.NonFatal(_) => None
           }).map(f)
        p.getName -> parsed
      }
  }

  /** The committed projections of every entry above `afterVersion`, the
    * in-flight-tail rule applied — the shared shape of [[history]] and
    * its bounded variants.
    */
  private def committedProject[A](spark: SparkSession, root: String,
                                  afterVersion: Long = -1L)
                                 (f: Commit => A): Seq[A] = {
    val raw = historyProject(spark, root, afterVersion)(f)
    val committed =
      if (raw.nonEmpty && raw.last._2.isEmpty) raw.init else raw
    committed.zipWithIndex.map {
      case ((_, Some(a)), _) => a
      case ((name, None), i) =>
        throw new IOException(
          s"corrupt txlog entry $name at position $i in $root/$LogDirName")
    }
  }

  /** One commit's history-summary row: everything DESCRIBE HISTORY and
    * timestamp resolution need, NO file lists — ~100 bytes per commit
    * regardless of how many files the commit touched.
    */
  private[lake] final case class HistRow(version: Long, op: String,
                                         tsMs: Long, nAdd: Int,
                                         nRemove: Int,
                                         metrics: Map[String, Long])

  private def histRowOf(c: Commit): HistRow =
    HistRow(c.version, c.operation, c.timestampMs, c.add.size,
      c.remove.size, c.metrics)

  /** Test seam: where the last [[summaryRows]] call got its
    * pre-checkpoint history — (checkpoint version it was served from, or
    * -1 for the parse-everything path; raw tail entries parsed).
    */
  @volatile private[lake] var lastHistorySource: Option[(Long, Int)] = None

  /** The summary rows behind [[historySummary]] and the timestamp
    * resolvers: the newest v2 checkpoint's carried `_history.json` (one
    * small JSON read covering every commit at-or-below it) plus a
    * per-entry parse of the raw TAIL only. A long-lived table's
    * DESCRIBE HISTORY / `TIMESTAMP AS OF` is then O(checkpoint read +
    * tail) instead of a full Jackson parse of every surviving entry —
    * on entries that each carry millions of file paths, that parse was
    * the 100-second wall the memory-bounding round left behind. Tables
    * whose checkpoints predate the history sidecar keep the
    * parse-everything path unchanged.
    */
  private def summaryRows(spark: SparkSession,
                          root: String): Seq[HistRow] =
    carriedHistory(spark, root) match {
      case Some((ckptV, rows)) =>
        val tail = committedProject(spark, root, afterVersion = ckptV)(
          histRowOf)
        val combined = rows ++ tail
        // a retainEntries-capped sidecar starts ABOVE version 0 while
        // the raw entries below its window may still exist — parse
        // exactly those (listing-bounded) so a timestamp that predates
        // the carried window keeps resolving until a vacuum actually
        // removes the history. Skipped entirely on the common shape
        // (window starts at 0), and version-bounded otherwise.
        val winStart = combined.headOption.map(_.version).getOrElse(0L)
        val below =
          if (winStart <= 0L) Seq.empty[HistRow]
          else historyProject(spark, root,
            untilVersion = winStart - 1)(histRowOf)
            .collect { case (_, Some(h)) => h }
        lastHistorySource = Some((ckptV, below.size + tail.size))
        contiguousSuffix(below ++ combined)
      case None =>
        val all = committedProject(spark, root)(histRowOf)
        lastHistorySource = Some((-1L, all.size))
        all
    }

  /** Commits form a contiguous version chain, so a GAP inside a combined
    * summary (a sidecar-less newer checkpoint whose raw range was
    * vacuumed; a retainEntries cap) marks versions whose history is not
    * recoverable — and serving rows BELOW such a gap would let
    * versionAtTimestamp resolve an instant INSIDE it to the wrong
    * version silently. Keep the contiguous suffix: older instants then
    * fail with the honest predates-the-earliest error, exactly like a
    * vacuumed pre-sidecar log.
    */
  private def contiguousSuffix(rows: Seq[HistRow]): Seq[HistRow] =
    rows.foldLeft(Vector.empty[HistRow]) { (acc, h) =>
      if (acc.nonEmpty && h.version != acc.last.version + 1) Vector(h)
      else acc :+ h
    }

  /** DESCRIBE HISTORY's rows — (version, operation, timestampMs, files
    * added, files removed, metrics) — from the checkpoint-carried
    * summary plus the raw tail ([[summaryRows]]). On a log vacuumed
    * below its newest checkpoint this is MORE complete than the raw
    * entries: truncated commits' summaries live on in `_history.json`.
    */
  def historySummary(spark: SparkSession, root: String)
      : Seq[(Long, String, Long, Int, Int, Map[String, Long])] =
    summaryRows(spark, root).map(h =>
      (h.version, h.op, h.tsMs, h.nAdd, h.nRemove, h.metrics))

  /** All COMMITTED commits with version > `afterVersion`, in order (empty
    * for a nonexistent table). An in-flight tail entry is excluded —
    * readers resolve the previous snapshot until the commit's bytes are
    * durable.
    */
  def history(spark: SparkSession, root: String,
              afterVersion: Long = -1L): Seq[Commit] =
    committedProject(spark, root, afterVersion)(identity)

  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    committedProject(spark, root)(_.version).lastOption

  /** The transaction watermark recorded for `appId` (the highest
    * `txnVersion` any committed write carried — [[appendIdempotent]] /
    * [[overwrite]]'s `txn`), or None for an unknown app or a table with
    * no committed state. What an incremental consumer reads to know
    * where to resume; checkpoint-aware and O(tail) like every scalar.
    */
  def txnWatermark(spark: SparkSession, root: String,
                   appId: String): Option[Long] =
    scala.util.Try(resolveScalars(spark, root)).toOption
      .flatMap(_.txns.get(appId))

  /** The table's current version through CHECKPOINT-AWARE resolution —
    * unlike [[latestVersion]]'s raw-entry replay, it is O(checkpoint +
    * tail) and stays correct on a log vacuumed down to a tip checkpoint
    * (no surviving raw entries, yet reads succeed via the checkpoint).
    * None only when the table has no committed state at all: fresh, or
    * a sole in-flight first commit.
    */
  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    try Some(resolveMeta(spark, root, None).fold(_.version, _.version))
    catch {
      case _: NotATxLogTableException => None
      case _: IllegalArgumentException
        if inFlightFirstCommitOnly(spark, root) => None
    }

  /** Live file set after replaying `commits` in order. */
  private def replay(commits: Seq[Commit]): Seq[String] = {
    val live = new scala.collection.mutable.LinkedHashSet[String]
    commits.foreach { c => live --= c.remove; live ++= c.add }
    live.toSeq
  }

  // -------------------------------------------------------------------
  // Writers
  // -------------------------------------------------------------------

  /** Root-relative path from an `input_file_name()` value.
    * input_file_name returns a URL-ENCODED URI string while the live set
    * stores RAW listing paths, so a partition value with URI-encodable
    * characters ('nk=north america' -> '.../nk=north%20america/...')
    * never matches under plain string comparison — decode through URI
    * first. Falls back to the raw string when the value does not parse as
    * a URI.
    */
  private def relFromInputFile(fileName: String, rootDecoded: String): Option[String] = {
    val decoded = scala.util.Try(new java.net.URI(fileName).getPath)
      .toOption.filter(_ != null).getOrElse(fileName)
    if (decoded.startsWith(rootDecoded + "/"))
      Some(decoded.stripPrefix(rootDecoded + "/"))
    else None
  }

  private def rootDecodedPath(fs: FileSystem, root: String): String =
    fs.makeQualified(new Path(root)).toUri.getPath

  /** Per-file min/max of `statsCols` over freshly staged files — the data
    * for commit-time file skipping. One metadata-sized job (a row per
    * file); values land in double space, null-only columns are skipped.
    */
  /** Pseudo-column under which per-file ROW COUNTS ride the stats map
    * (stored as (n, n) — no serialization change, and counts flow
    * through checkpoints, rollback, and clone exactly like min/max
    * stats). Double-encoded counts are exact to 2^53 rows per file.
    */
  val RowCountKey = "__rows"

  /** Pseudo-column under which per-file BYTE SIZES ride the stats map
    * (stored as (bytes, bytes), exact to 2^53). Recorded at stage time
    * for free — the stage move already holds every file's FileStatus —
    * and carried by every data-adding commit, so [[snapshot]] can build
    * a scan's file index from COMMIT METADATA alone: no per-file
    * listing, the cost that dominates full-scan planning at 100k files
    * (18 s local at the LogBench scale; one round trip PER FILE on an
    * object store).
    */
  val FileSizeKey = "__bytes"

  /** The ONE stats-keep predicate (per column) of the driver tier, the
    * distributed tier (as a UDF) and the merge probe: can a file with
    * bounds `b` hold a match? Missing or NaN bounds keep the file (min/max
    * propagate NaN as the largest double, so a NaN row would skip it).
    * Comparisons are primitive: `-0.0 == 0.0` as in Spark's equality,
    * where `Double.compare` would drop a file holding the other zero.
    */
  private sealed trait Skip extends Serializable {
    protected def hits(mn: Double, mx: Double): Boolean
    final def keep(b: Option[(Double, Double)]): Boolean = b match {
      case Some((mn, mx)) if !mn.isNaN && !mx.isNaN => hits(mn, mx)
      case _ => true
    }
  }
  private final case class RangeSkip(lo: Double, hi: Double) extends Skip {
    protected def hits(mn: Double, mx: Double) = mx >= lo && mn <= hi
  }
  /** Some point lies in [mn, mx], each tested on its own (never their
    * hull): the first of the ascending points `>= mn`, by binary search.
    */
  private final case class PointSkip(points: Array[Double]) extends Skip {
    protected def hits(mn: Double, mx: Double) = {
      var (lo, hi) = (0, points.length)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (points(mid) < mn) lo = mid + 1 else hi = mid
      }
      lo < points.length && points(lo) <= mx
    }
  }

  /** An equality/IN probe as a point set, when Spark's `IN` compares it
    * exactly or in double space (the stats'): non-NaN `Number`s on a
    * numeric column (decimals to precision 15, whose bounds are correctly
    * rounded), never rounded to float (integral on float, or the reverse).
    */
  private def pointSkip(schema: StructType, column: String,
                        values: Seq[Any]): Option[(String, PointSkip)] = {
    import org.apache.spark.sql.types.{ByteType, DecimalType, FloatType, IntegerType, NumericType, ShortType}
    val nonNull = values.filter(_ != null)
    def exact(dt: org.apache.spark.sql.types.DataType, v: Any) = (dt, v) match {
      case (FloatType, _: java.lang.Byte | _: java.lang.Short |
            _: java.lang.Integer | _: java.lang.Long) => false
      case (ByteType | ShortType | IntegerType | LongType, _: java.lang.Float) => false
      case (d: DecimalType, n: Number) => d.precision <= 15 && !n.doubleValue.isNaN
      case (_: NumericType, n: Number) => !n.doubleValue.isNaN
      case _ => false
    }
    schema.find(_.name.equalsIgnoreCase(column))
      .filter(f => nonNull.nonEmpty && nonNull.forall(exact(f.dataType, _)))
      .map { f =>
        val points = nonNull.map(_.asInstanceOf[Number].doubleValue).toArray
        java.util.Arrays.sort(points)
        (f.name, PointSkip(points))
      }
  }

  /** Merge stage-time byte sizes into a commit's stats map. */
  private def withSizes(stats: FileStats,
                        sizes: Map[String, Long]): FileStats =
    sizes.foldLeft(stats) { case (acc, (f, b)) =>
      acc.updated(f, acc.getOrElse(f, Map.empty[String, (Double, Double)])
        .updated(FileSizeKey, (b.toDouble, b.toDouble)))
    }

  /** [[computeStats]] from parquet FOOTERS alone — None when any
    * requested column is not footer-answerable under the scan path's
    * exact semantics (then the caller runs the scan). Eligible: plain
    * signed INT32/INT64 (incl. int-backed decimals, whose unscaled
    * bounds divide out exactly like try_cast), FLOAT, DOUBLE. A column
    * absent from a file reads all-null = no bounds; row-group stats
    * that are missing, NaN-bearing, or truncated yield no bounds for
    * that file (conservatively KEPT by every pruning consumer — the
    * same degradation rule the scan has for uncastable values). Row
    * counts are unconditional: every footer carries them exactly.
    * Footers are read driver-side on a small pool — metadata bytes,
    * no Spark job, no re-read of the staged data.
    */
  private def footerStatsOpt(spark: SparkSession, root: String,
                             rels: Seq[String],
                             physCols: Seq[String]): Option[FileStats] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sessionState.newHadoopConf()
    val ineligible = new java.util.concurrent.atomic.AtomicBoolean(false)
    // per column chunk: Right(divisor) when the typed bounds divided by
    // `divisor` equal the scan's try_cast-to-double bounds; Left(()) =
    // the column demands scan semantics (strings, dates, timestamps,
    // unsigned ints, binary decimals, int96 ...)
    def eligibility(cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
        : Either[Unit, Double] = {
      val pt = cc.getPrimitiveType
      val name = pt.getPrimitiveTypeName
      val logical = pt.getLogicalTypeAnnotation
      name match {
        case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
          logical match {
            case null => Right(1.0)
            case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                if i.isSigned => Right(1.0)
            case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation
                // precision ≤ 15 keeps the unscaled value under 2^53:
                // unscaled.toDouble and the power-of-ten divisor are then
                // both exact, so the correctly-rounded quotient equals
                // the scan path's BigDecimal.doubleValue bit-for-bit.
                // Wider decimals could diverge by an ulp — enough to
                // flip a boundary prune — so they take the scan.
                if d.getPrecision <= 15 =>
              Right(math.pow(10.0, d.getScale.toDouble))
            case _ => Left(())
          }
        case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE =>
          if (logical == null) Right(1.0) else Left(())
        case _ => Left(())
      }
    }
    def fileStats(rel: String)
        : Option[(String, Map[String, (Double, Double)])] = {
      val in = HadoopInputFile.fromPath(new Path(s"$root/$rel"), conf)
      val reader = ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val nRows = blocks.iterator.map(_.getRowCount).sum
        // a 0-row file contributes no group to the scan path's
        // aggregate and so records NOTHING there — mirror that exactly
        if (nRows == 0L) return None
        val colStats = physCols.flatMap { c =>
          var mn = Double.PositiveInfinity
          var mx = Double.NegativeInfinity
          var any = false
          var usable = true
          blocks.withFilter(_.getRowCount > 0).foreach { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == c) match {
              case None => () // absent column: reads all-null, no bounds
              case Some(cc) => eligibility(cc) match {
                case Left(_) => ineligible.set(true); usable = false
                case Right(div) =>
                  val st = cc.getStatistics
                  if (st == null || st.isEmpty) usable = false
                  else if (!st.hasNonNullValue) {
                    // all-null row group iff the null count proves it;
                    // otherwise the stats are unusable for this file
                    if (!st.isNumNullsSet ||
                        st.getNumNulls != b.getRowCount) usable = false
                  } else {
                    val lo =
                      st.genericGetMin.asInstanceOf[Number].doubleValue / div
                    val hi =
                      st.genericGetMax.asInstanceOf[Number].doubleValue / div
                    if (lo.isNaN || hi.isNaN) usable = false
                    else {
                      mn = math.min(mn, lo); mx = math.max(mx, hi)
                      any = true
                    }
                  }
              }
            }
          }
          if (usable && any) Some(c -> (mn, mx)) else None
        }.toMap
        Some(rel ->
          (colStats + (RowCountKey -> (nRows.toDouble, nRows.toDouble))))
      } finally reader.close()
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(8, rels.size)))
    try {
      val futs = rels.map { r =>
        pool.submit(new java.util.concurrent.Callable[
          Option[(String, Map[String, (Double, Double)])]] {
          def call() = fileStats(r)
        })
      }
      val entries =
        try futs.flatMap(_.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      if (ineligible.get) None else Some(entries.toMap)
    } finally { pool.shutdown(); () }
  }

  private def computeStats(spark: SparkSession, root: String,
                           rels: Seq[String],
                           statsCols: Seq[String],
                           readSchema: Option[StructType] = None,
                           colMap: Map[String, String])
      : FileStats = {
    if (statsCols.isEmpty || rels.isEmpty) return Map.empty
    require(!statsCols.contains(RowCountKey) &&
      !statsCols.contains(FileSizeKey),
      s"'$RowCountKey'/'$FileSizeKey' are reserved pseudo-columns")
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    // the files carry PHYSICAL names (stage writes them; live files
    // froze them at rename time): aggregate under the physical name and
    // KEY the recorded bounds by it too. Physical names are
    // lineage-stable — a logical key would describe whatever lineage
    // happened to hold the name at write time, and a later rename
    // moving a name onto a different lineage would silently serve the
    // wrong bounds to pruning. Every consumer (readRange/readRanges/
    // minMaxFast/merge probe/ANALYZE coverage) translates its logical
    // column through the snapshot's mapping before the lookup, which
    // also means pre-rename files KEEP pruning after a rename. The
    // mapping comes from the CALLER's snapshot (same-snapshot rule as
    // stage)
    val mapping = colMap
    val physCols = statsCols.map(physName(mapping, _))
    // FOOTER FAST PATH (round 14): the parquet footers of the staged
    // files already carry per-row-group row counts and typed min/max —
    // for plainly-numeric columns (the id/price/cell keys every caller
    // passes) reading them is driver-side metadata work, where the
    // legacy path below re-reads EVERY staged byte in a Spark job just
    // to recompute what the writer already recorded. On a 100 TB
    // append that scan doubles the write path's I/O. Falls back to the
    // scan whenever any requested column needs the try_cast semantics
    // only a scan can answer (strings that may parse numeric, exotic
    // logical types) — same stats, same keys, same conservative gaps.
    footerStatsOpt(spark, root, rels, physCols) match {
      case Some(stats) => return stats
      case None        => ()
    }
    // cast BEFORE the agg: min/max of a string column are LEXICOGRAPHIC
    // ("10" < "2"), and casting that afterwards yields numerically wrong
    // bounds that readRange/merge pruning would trust — silently dropping
    // files that DO match. Cast-first gives numeric bounds for numeric
    // values and all-null (= no stats recorded = conservatively kept)
    // for genuinely non-numeric columns.
    // try_cast, not cast: under ANSI mode (Spark 4 default) a plain cast
    // THROWS on a non-numeric string instead of yielding null, turning
    // "no stats recorded for this column" into a failed write
    // per column: min/max of the cast PLUS a count of non-null values
    // the cast loses. Bounds are recorded only when that count is ZERO:
    // on a mixed column ('5', 'abc') min/max of the castable subset
    // would UNDER-COVER the file — the merge probe would then prune a
    // file that still holds the non-castable key, silently losing its
    // delete/upsert. No stats = conservatively kept = always safe.
    val aggs = physCols.flatMap(c => Seq(
      min(org.apache.spark.sql.functions.expr(s"try_cast(`$c` AS DOUBLE)"))
        .as(s"__mn_$c"),
      max(org.apache.spark.sql.functions.expr(s"try_cast(`$c` AS DOUBLE)"))
        .as(s"__mx_$c"),
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions
        .expr(s"CASE WHEN `$c` IS NOT NULL AND " +
          s"try_cast(`$c` AS DOUBLE) IS NULL THEN 1 END"))
        .as(s"__bad_$c"))) :+
      // row count rides the same per-file job for free — the input to
      // metadata-only COUNT(*) ([[countRows]])
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("__n")
    // an explicit schema (analyzeStats passes the table's) makes a
    // schema-HETEROGENEOUS live set readable: files predating an
    // evolution null-fill the evolved columns instead of failing
    // analysis when Spark's single-file inference samples one of them.
    // Write-path callers omit it — freshly staged files are homogeneous.
    val reader = spark.read.option("basePath", root)
    val rows = readSchema.map(physSchema(_, mapping)).fold(reader)(reader.schema)
      .parquet(rels.map(r => s"$root/$r"): _*)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val rootDec = rootDecodedPath(fileSystem(spark, root), root)
    val relSet = rels.toSet
    rows.flatMap { r =>
      relFromInputFile(r.getAs[String]("__f"), rootDec)
        .filter(relSet.contains)
        .map { rel =>
          val colStats = physCols.zipWithIndex.flatMap { case (c, i) =>
            val (mnI, mxI, badI) = (1 + 3 * i, 2 + 3 * i, 3 + 3 * i)
            if (r.isNullAt(mnI) || r.getLong(badI) > 0) None
            else Some(c -> (r.getDouble(mnI), r.getDouble(mxI)))
          }.toMap
          val n = r.getLong(1 + 3 * statsCols.size).toDouble
          rel -> (colStats + (RowCountKey -> (n, n)))
        }
    }.toMap
  }

  /** Exact COUNT(*) from commit metadata when every live file carries a
    * recorded row count (writes with `statsCols`), falling back to a
    * scan count otherwise — the metadata-only count every log format
    * answers without touching data files. On a stats-carrying 100 TB
    * table this is O(log) driver work vs a full-table scan job.
    */
  def countRows(spark: SparkSession, root: String,
                version: Option[Long] = None): Long =
    countRowsFast(spark, root, version).getOrElse(
      snapshot(spark, root, resolve(spark, root, version)).count())

  /** The metadata-only half of [[countRows]]: Some(exact count) when
    * every live file carries a recorded row count, None when any file
    * lacks it (the caller decides the fallback — [[countRows]] scans;
    * the connector's aggregate pushdown DECLINES so Spark plans its own
    * scan). Deletion vectors keep the answer metadata-only: each vector
    * carries its cumulative removed-row count in the commit.
    */
  def countRowsFast(spark: SparkSession, root: String,
                    version: Option[Long] = None): Option[Long] =
    resolveMeta(spark, root, version) match {
      // big tables (distributed tier): one aggregation over the
      // checkpoint parquet, O(tail) driver memory
      case Right(m) => countRowsMeta(spark, m)
      case Left(snap) =>
        // deletion vectors carry their cumulative row count in the
        // commit, so the metadata-only path stays metadata-only: file
        // rows minus vector rows, per file
        val rc = snap.stats.col(RowCountKey) // pruned: one stat column read
        val counted = snap.live.flatMap(f =>
          rc.get(f).map(_._1.toLong - snap.dvs.get(f).map(_._2).getOrElse(0L)))
        if (counted.size == snap.live.size) Some(counted.sum) else None
    }

  /** One column's [min, max] fold SPLIT by deletion-vector state:
    * `clean` folds the files WITHOUT a vector (exact — every stat row
    * survives), `dirty` the files WITH one (a vector can only move a
    * file's true extreme INWARD of its committed stat). None = that
    * side has no files. A bound is answerable from metadata when the
    * clean side exists and DOMINATES the dirty side's stat bound
    * (clean min <= dirty stat min, resp. clean max >= dirty stat max):
    * the clean extreme is achieved by a surviving row, and no dirty
    * file's survivors can beat a bound its pre-delete stats already
    * didn't.
    */
  final case class BoundParts(clean: Option[(Double, Double)],
                              dirty: Option[(Double, Double)]) {
    def merge(o: BoundParts): BoundParts =
      BoundParts(BoundParts.side(clean, o.clean),
        BoundParts.side(dirty, o.dirty))

    /** The exact bound, or None when the dirty side could hide it. */
    def answer(takeMin: Boolean): Option[Double] = (clean, dirty) match {
      case (c, None) => c.map(b => if (takeMin) b._1 else b._2)
      case (Some(c), Some(d)) =>
        if (takeMin && c._1 <= d._1) Some(c._1)
        else if (!takeMin && c._2 >= d._2) Some(c._2)
        else None
      case (None, Some(_)) => None
    }
  }

  object BoundParts {
    private def side(a: Option[(Double, Double)],
                     b: Option[(Double, Double)]): Option[(Double, Double)] =
      (a, b) match {
        case (None, x) => x
        case (x, None) => x
        case (Some(p), Some(q)) =>
          Some((math.min(p._1, q._1), math.max(p._2, q._2)))
      }

    def of(dv: Boolean, b: (Double, Double)): BoundParts =
      if (dv) BoundParts(None, Some(b)) else BoundParts(Some(b), None)
  }

  /** One partition's metadata aggregate: visible rows (dv-subtracted),
    * whether ANY of its live files carries a deletion vector, and
    * per-requested-column [[BoundParts]] — None for a column any of the
    * partition's files lacks (incomplete stats decline the bound
    * regardless of vectors).
    */
  final case class PartitionAgg(rows: Long, anyDv: Boolean,
                                bounds: Map[String, Option[BoundParts]])

  /** Per-partition metadata aggregates — the backbone of partition-
    * grouped/filtered COUNT/MIN/MAX pushdown: (partition columns in
    * directory order, value-tuple -> [[PartitionAgg]]), row counts
    * dv-subtracted per file exactly like [[countRowsFast]], bounds the
    * fold of the per-file committed stats under `statCols` (LOGICAL
    * names — translated through the snapshot's column mapping). None
    * when the table is unpartitioned (or mixed-layout), any live file
    * lacks a row count, or any partition value is Hive's null marker
    * (the typed value is not reconstructable from the path). Sub-
    * threshold tables fold on the driver; distributed-tier tables run
    * ONE aggregation over the checkpoint parquet whose result is
    * bounded by the PARTITION count, never the file count.
    */
  def partitionAggregates(spark: SparkSession, root: String,
                          version: Option[Long] = None,
                          statCols: Seq[String] = Seq.empty,
                          requireCols: Seq[String] = Seq.empty)
      : Option[(Seq[String], Map[Seq[String], PartitionAgg])] = {
    val NullMarker = "__HIVE_DEFAULT_PARTITION__"
    // `requireCols`: decline EARLY (one file-name probe, no aggregation
    // job) unless every named column is a partition column — the
    // planner consults this tier speculatively, and a non-qualifying
    // GROUP BY/filter must not pay a distributed metadata fold to learn
    // it doesn't qualify
    def colsOk(cols: Seq[String]): Boolean = {
      val set = cols.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      requireCols.forall(c => set(c.toLowerCase(java.util.Locale.ROOT)))
    }
    def parseDir(dir: String): Seq[(String, String)] =
      dir.split('/').filter(_.nonEmpty).toSeq.map { seg =>
        val i = seg.indexOf('=')
        seg.take(math.max(i, 0)) ->
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(seg.drop(i + 1))
      }
    // (dir, rows, anyDv?, per-col split bounds) per FILE (or per
    // pre-grouped dir slice, distributed tier) -> folded per partition
    def fold(perFile: Seq[(String, Long, Boolean,
                           Map[String, Option[BoundParts]])])
        : Option[(Seq[String], Map[Seq[String], PartitionAgg])] = {
      if (perFile.isEmpty) return None
      val parsed = perFile.map { case (d, n, dv, b) =>
        (parseDir(d), n, dv, b)
      }
      val cols = parsed.head._1.map(_._1)
      if (cols.isEmpty || cols.exists(_.isEmpty)) return None
      if (parsed.exists(_._1.map(_._1) != cols)) return None // mixed depth
      if (parsed.exists(_._1.exists(_._2 == NullMarker))) return None
      val grouped = parsed.groupMapReduce(_._1.map(_._2))(
        t => PartitionAgg(t._2, t._3, t._4)) { (a, b) =>
        PartitionAgg(a.rows + b.rows, a.anyDv || b.anyDv,
          statCols.map { c =>
            c -> (for { x <- a.bounds(c); y <- b.bounds(c) }
              yield x.merge(y))
          }.toMap)
      }
      Some((cols, grouped))
    }
    resolveMeta(spark, root, version) match {
      case Left(snap) =>
        snap.live.headOption.foreach { f =>
          if (!colsOk(parseDir(relDir(f)).map(_._1))) return None
        }
        val rc = snap.stats.col(RowCountKey)
        val colStats = statCols.map(c =>
          c -> snap.stats.col(physName(snap.colMap, c))).toMap
        val perFile = snap.live.map { f =>
          rc.get(f).map { st =>
            val dv = snap.dvs.contains(f)
            (relDir(f),
              st._1.toLong - snap.dvs.get(f).map(_._2).getOrElse(0L),
              dv,
              statCols.map(c =>
                c -> colStats(c).get(f).map(BoundParts.of(dv, _))).toMap)
          }
        }
        if (perFile.exists(_.isEmpty)) None else fold(perFile.flatten)
      case Right(m) =>
        import org.apache.spark.sql.functions.{col, count, expr, lit, max, min, sum, when}
        if (!m.legend.contains(RowCountKey)) return None
        val phys = statCols.map(c => c -> physName(m.colMap, c)).toMap
        val keys = RowCountKey +: statCols.map(phys)
        // layout probe BEFORE the aggregation: a live touched file is
        // in hand for free; otherwise one single-row job
        val sampleDir = m.touchedLive.collectFirst {
          case (f, true) => relDir(f)
        }.orElse(
          exceptTouched(ckptLiveDF(spark, m, Nil, withDv = false),
            m.touchedAll)
            .select("file").limit(1).collect()
            .headOption.map(r => relDir(r.getString(0))))
        sampleDir.foreach { d =>
          if (!colsOk(parseDir(d).map(_._1))) return None
        }
        val (touched, _) = touchedState(spark, m, keys)
        if (touched.exists(t => !t.stats.contains(RowCountKey))) return None
        val k = s"`mn:$RowCountKey`"
        // one distributed aggregation, output bounded by partition
        // count; per stat column the bounds fold SEPARATELY over the
        // vector-free and vector-carrying files (BoundParts — the
        // clean-dominates rule needs both sides)
        val aggs = Seq(count(lit(1)).as("nFiles"),
          count(col(k)).as("nStat"),
          sum(expr(s"cast($k - coalesce(cast(dvRows as double), 0.0) " +
            "as long)")).as("nRows"),
          max(when(col("dvPath").isNotNull, 1).otherwise(0)).as("anyDv")) ++
          statCols.zipWithIndex.flatMap { case (c, i) =>
            val p = phys(c)
            if (!m.legend.contains(p))
              Seq(lit(0L).as(s"nb_$i"), lit(null).as(s"mnc_$i"),
                lit(null).as(s"mxc_$i"), lit(null).as(s"mnd_$i"),
                lit(null).as(s"mxd_$i"))
            else {
              val cleanSide = col("dvPath").isNull
              Seq(count(col(s"`mn:$p`")).as(s"nb_$i"),
                min(when(cleanSide, col(s"`mn:$p`"))).as(s"mnc_$i"),
                max(when(cleanSide, col(s"`mx:$p`"))).as(s"mxc_$i"),
                min(when(!cleanSide, col(s"`mn:$p`"))).as(s"mnd_$i"),
                max(when(!cleanSide, col(s"`mx:$p`"))).as(s"mxd_$i"))
            }
          }
        val grouped = exceptTouched(
            ckptLiveDF(spark, m, keys, withDv = true), m.touchedAll)
          .withColumn("dir",
            when(expr("instr(file, '/')") === 0, lit(""))
              .otherwise(expr(
                "substring(file, 1, length(file) - locate('/', reverse(file)))")))
          .groupBy("dir")
          .agg(aggs.head, aggs.tail: _*)
          .collect()
        if (grouped.exists(r => r.getLong(1) != r.getLong(2))) return None
        val base = grouped.toSeq.map { r =>
          val nFiles = r.getLong(1)
          def sideOf(mn: String, mx: String): Option[(Double, Double)] = {
            val i = r.fieldIndex(mn)
            if (r.isNullAt(i)) None
            else Some((r.getDouble(i), r.getAs[Double](mx)))
          }
          val bounds = statCols.zipWithIndex.map { case (c, i) =>
            val nb = r.getAs[Long](s"nb_$i")
            c -> (if (nb != nFiles) None
                  else Some(BoundParts(sideOf(s"mnc_$i", s"mxc_$i"),
                    sideOf(s"mnd_$i", s"mxd_$i"))))
          }.toMap
          (r.getString(0),
            if (r.isNullAt(3)) 0L else r.getLong(3),
            r.getAs[Int]("anyDv") > 0, bounds)
        }
        val touchedPer = touched.map { t =>
          val dv = t.dv.isDefined
          (relDir(t.file),
            t.stats(RowCountKey)._1.toLong - t.dv.map(_._2).getOrElse(0L),
            dv,
            statCols.map(c =>
              c -> t.stats.get(phys(c)).map(BoundParts.of(dv, _))).toMap)
        }
        fold(base ++ touchedPer)
    }
  }


  /** Right-size a staged write to its target file count
    * (Delta's optimizeWrite / Iceberg's target-file-size analog, applied
    * only in the sliver regime). A batch written straight off a W-wide
    * plan lands as W files regardless of size; every one of those files
    * then costs a task at every later scan, a parquet footer at every
    * stats read, and — measured on this engine's write path — a fixed
    * per-write-task overhead that dwarfs tiny payloads (each Spark write
    * task deserializes the full gzip'd Hadoop Configuration from the
    * task binary at ~60-100 ms, and each file create on a
    * ChecksumFileSystem forks a `chmod` process plus a `.crc` twin).
    *
    * Policy, scale-free by construction (bytes-targeted, not
    * core-count-targeted):
    *   - target file size from `spark.graft.write.targetFileBytes`
    *     (default 128 MiB — guide's 128 MB-1 GB output band; 0 disables);
    *   - the batch's size comes from the optimizer's own estimate; only
    *     batches estimated under 8 target files' worth are touched, so a
    *     production-sized append is structurally a no-op and an estimate
    *     error can cost at most one extra coalesce of a small batch;
    *   - `coalesce` (no exchange), never `repartition`: the point is
    *     REMOVING per-task fixed costs, and a batch under the cap has
    *     bounded upstream compute by definition;
    *   - an explicit caller layout (a `repartition`/`coalesce`/
    *     `repartitionByRange` at the plan root) is respected verbatim —
    *     compaction's per-directory range packing and callers that
    *     already size their commits keep exact control.
    */
  private def sizedForStage(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.conf.getOption("spark.graft.write.targetFileBytes")
      .map(_.toLong).getOrElse(128L << 20)
    if (target <= 0) return df
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
    df.queryExecution.analyzed match {
      case _: Repartition | _: RepartitionByExpression => df
      case _ =>
        val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
        if (!est.isValidLong || est > BigInt(8) * target) df
        else df.coalesce(
          math.max(1, math.ceil(est.toDouble / target.toDouble).toInt))
    }
  }

  /** Distributed write of `df` into the table's partition layout under
    * unique, not-yet-committed names. Returns the added files'
    * root-relative paths and the batch schema DDL. Called only through
    * [[stageBatch]].
    *
    * Batches are right-sized through [[sizedForStage]] (`sized = false`
    * opts a caller with its own layout machinery out wholesale). A
    * caller that wants one file per partition value spells that layout
    * itself — `df.repartition(col(p))` at the plan root — and
    * [[sizedForStage]] keeps it verbatim.
    */
  private def stage(df: DataFrame, root: String,
                    partitionCols: Seq[String],
                    colMap: Map[String, String],
                    sized: Boolean = true)
      : (Seq[String], String, Map[String, Long]) = {
    val spark = df.sparkSession
    val fs = fileSystem(spark, root)
    val stageId = UUID.randomUUID().toString.replace("-", "").take(12)
    val stageDir = s"$root/_stage_$stageId"
    // physical names are FROZEN at rename time (see [[renameColumn]]):
    // every staged file of a mapped table writes the column under its
    // physical name, keeping the live set physically homogeneous. The
    // mapping is REQUIRED (no resolve fallback) so it always comes from
    // the same snapshot the caller computed its batch against — a
    // re-resolve here could observe a rename that raced in after that
    // snapshot. [[overwrite]] passes empty: a full rewrite lands under
    // the logical names and the overwrite commit clears the mapping.
    val mapping = colMap
    // a batch column sharing ANOTHER column's frozen physical name
    // would stage two same-named columns — fail with the resurrection
    // guard's actionable message here instead of a raw duplicate-column
    // AnalysisException from the parquet write (which would also leave
    // the stage dir behind)
    if (mapping.nonEmpty) {
      val clashes = df.columns.groupBy(c => lcol(physName(mapping, c)))
        .filter(_._2.length > 1)
      if (clashes.nonEmpty)
        throw new IllegalArgumentException(
          s"batch column(s) ${clashes.values.flatten.mkString(", ")} " +
            s"collide on a renamed column's frozen physical name at " +
            s"$root — pre-rename files still hold bytes under it; " +
            "rename the batch column, or OVERWRITE the table first")
    }
    // partitioned batches ride the same sliver gate: a W-wide batch
    // sprays up to W x P files, and in the sliver regime a coalesce
    // collapses that to ~P (one writer task emits one file per value)
    // without a shuffle
    val toWrite0 = if (sized) sizedForStage(df) else df
    val toWrite = toPhysicalCols(toWrite0, mapping)
    val w = toWrite.write.mode(SaveMode.Overwrite)
      .option("compression", "snappy")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(stageDir)

    // all root-relative paths in the log are DECODED URI paths (raw
    // characters, no %XX) — the one canonical representation that
    // relFromInputFile also normalizes to
    val stageDec = fs.makeQualified(new Path(stageDir)).toUri.getPath
    def dataFiles(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Seq.empty
        else if (st.isDirectory) dataFiles(st.getPath)
        else if (name.endsWith(".parquet")) Seq(st) else Seq.empty
      }
    // byte sizes come from the same listing the move walks — free here,
    // a per-file round trip anywhere later (see [[FileSizeKey]])
    val relsWithSizes = dataFiles(new Path(stageDir)).map { st =>
      val f = st.getPath
      val rel = fs.makeQualified(f).toUri.getPath.stripPrefix(stageDec + "/")
      val dir = relDir(rel)
      // stageId prefix: file names stay unique across commits even if two
      // stage jobs ever produced identical task file names
      val target = new Path(s"$root/$dir${stageId}_${f.getName}")
      fs.mkdirs(target.getParent)
      if (!fs.rename(f, target))
        throw new IOException(s"stage move failed: $f -> $target")
      s"$dir${stageId}_${f.getName}" -> st.getLen
    }
    fs.delete(new Path(stageDir), true)
    (relsWithSizes.map(_._1), df.schema.toDDL, relsWithSizes.toMap)
  }

  /** A batch staged by [[stageBatch]]: its files, schema DDL, per-file
    * stats (sizes included) keyed under `colMap`, the column mapping it
    * was staged with, and the constraint set it was validated against
    * (None when the operation does not validate) — the two commit-time
    * fences [[commitStaged]] builds from it.
    */
  private final case class Staged(adds: Seq[String], ddl: String,
                                  stats: FileStats,
                                  colMap: Map[String, String],
                                  cons: Option[Map[String, String]])

  /** Nothing staged: a commit that adds no files (a fully-matched
    * DELETE, a pure vector delete) on `current`'s schema and mapping.
    */
  private def nothingStaged(current: Snapshot): Staged =
    Staged(Seq.empty, current.schemaDdl, Map.empty, current.colMap, None)

  /** The write half of every data-adding commit: [[stage]] `df`, run the
    * caller's `precheck` on the staged files (expectations, a partition
    * scope), check the table's CHECK constraints ([[enforceConstraints]];
    * DELETE and compact only remove or repack committed rows, so they
    * skip it), fire [[postEnforceHook]], then compute the batch's stats
    * under the same `colMap` the files were written with. Any failure
    * after the files are staged deletes them before it propagates — a
    * refused batch leaves no orphan. A failure inside the later
    * [[commitLoop]] does not: a claim whose outcome is ambiguous must
    * keep its files, and [[cleanOrphans]] reclaims the losers.
    */
  private def stageBatch(spark: SparkSession, df: DataFrame, root: String,
                         parts: Seq[String], statsCols: Seq[String],
                         colMap: Map[String, String], operation: String,
                         sized: Boolean = true,
                         precheck: Seq[String] => Unit = _ => ()): Staged = {
    val (adds, ddl, sizes) = stage(df, root, parts, colMap, sized)
    try {
      precheck(adds)
      val cons =
        if (operation == "delete" || operation == "compact") None
        else Some(enforceConstraints(spark, root, adds, ddl, operation))
      postEnforceHook()
      Staged(adds, ddl,
        withSizes(computeStats(spark, root, adds, statsCols, colMap = colMap), sizes),
        colMap, cons)
    } catch { case t: Throwable =>
      deleteStaged(spark, root, adds); throw t
    }
  }

  /** The one commit of the writers without a `basedOn` fence — the three
    * appends, [[upsertPartitions]], [[replacePartitions]]: add the staged
    * files, remove `removes(live)`, merge the schema per
    * [[committedDdl]], and refuse the commit when the winning state
    * changed the mapping of a staged column or the constraint set the
    * batch was validated against.
    */
  private def commitStaged(spark: SparkSession, root: String,
                           operation: String, parts: Seq[String],
                           staged: Staged,
                           txn: Option[(String, Long)] = None)(
                           removes: (() => Seq[String]) => Seq[String]): Long =
    commitLoop(spark, root, operation, parts,
      { (commits, live) =>
        (staged.adds, removes(live),
          committedDdl(spark, commits, staged.ddl, operation, root))
      },
      staged.stats, txn = txn,
      mappingFence = Some((staged.colMap,
        StructType.fromDDL(staged.ddl).fieldNames.toSeq)),
      consFence = staged.cons)

  /** Optimistic commit loop: compute the delta against the CURRENT log
    * state, then claim the next version with an atomic create-if-absent;
    * on a version race, re-read and retry so the remove set is always
    * computed against the winning state.
    */
  /** Thrown inside [[commitLoop]] when a txn-tagged commit finds its
    * (appId, txnVersion) already at-or-below the table's watermark — the
    * duplicate-replay signal [[appendIdempotent]] turns into a skip.
    */
  private final class AlreadyCommitted(val watermark: Long) extends Exception

  /** The table's version as seen inside a [[commitLoop]] delta callback —
    * the NEWER of the raw tail's last version and the attempt's resolved
    * scalars, falling back to checkpoint-aware resolution when both are
    * absent (a checkpoint-truncated log outside a loop). Read-modify-write
    * operations compare this against the version their rewrite was
    * computed from.
    *
    * MAX, not tail-first: the two sources come from SEPARATE listings —
    * the raw tail at loop entry ([[commitLoop]] line order), the scalars
    * inside [[resolveMeta]] a few calls later — so a concurrent commit
    * can land between them. A tail-first read let a stale-base write
    * whose VERSION computation (which already takes the max of both)
    * saw the interloper pass this fence and claim a FRESH version: a
    * concurrent `deleteVectored`'s cumulative sidecar ref then silently
    * clobbered the interleaved winner's, un-deleting its rows. With the
    * max, any commit that lands before the attempt's meta resolve trips
    * the fence, and any commit that lands after it collides with this
    * attempt's claim target (version = max + 1) — no window remains.
    */
  private def tailVersion(spark: SparkSession, root: String,
                          commits: Seq[Commit]): Option[Long] = {
    val tail = commits.lastOption.map(_.version)
    val scalars = Option(commitScalars.get).map(_.version)
    (tail ++ scalars).maxOption
      .orElse(scala.util.Try(resolveScalars(spark, root)).toOption
        .map(_.version))
  }

  /** Test seams: deterministic pause points inside [[commitLoop]] —
    * `commitListPause` fires after the attempt's raw-tail listing and
    * BEFORE its meta resolve; `commitClaimPause` fires after the delta
    * (fences included) and right BEFORE the version claim. Specs install
    * hooks here to drive exact interleavings of the two windows a
    * concurrent commit can land in, instead of rolling CyclicBarrier
    * dice. Both default to no-ops and are never set outside tests.
    */
  @volatile private[lake] var commitListPause: String => Unit = _ => ()
  @volatile private[lake] var commitClaimPause: String => Unit = _ => ()

  private def commitLoop(spark: SparkSession, root: String, operation: String,
                         partitionCols: Seq[String],
                         delta: (Seq[Commit], () => Seq[String]) => (Seq[String], Seq[String], String),
                         stats: FileStats = Map.empty,
                         maxAttempts: Int = 50,
                         txn: Option[(String, Long)] = None,
                         consAdd: Map[String, String] = Map.empty,
                         consDrop: Seq[String] = Seq.empty,
                         dv: Map[String, DvRef] = Map.empty,
                         dvDrop: Seq[String] = Seq.empty,
                         metrics: Map[String, Long] = Map.empty,
                         schemaDrop: Seq[String] = Seq.empty,
                         renames: Option[Map[String, String]] = None,
                         mappingFence: Option[(Map[String, String], Seq[String])] = None,
                         consFence: Option[Map[String, String]] = None,
                         txnFence: Boolean = true,
                         basedOn: Option[Long] = None): Long = {
    val fs = fileSystem(spark, root)
    // parse the auto-truncation config BEFORE any claim: a malformed
    // value must fail the write while nothing is durable — thrown after
    // the claim it reads as a generic write failure for a commit that
    // actually landed, inviting a retry that duplicates the data
    val retainCheckpoints: Option[Int] = {
      val v = spark.conf.get("spark.graft.log.retainCheckpoints", "")
      if (v.isEmpty) None
      else Some(try v.toInt catch {
        case e: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.log.retainCheckpoints must be an integer, got '$v'", e)
      })
    }
    // cadence override, same pre-claim parse rule as above
    val ckptInterval: Int = {
      val v = spark.conf.get("spark.graft.checkpoint.interval", "")
      if (v.isEmpty) CheckpointInterval
      else {
        val n = try v.toInt catch {
          case e: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.checkpoint.interval must be a positive " +
              s"integer, got '$v'", e)
        }
        if (n < 1) throw new IllegalArgumentException(
          s"spark.graft.checkpoint.interval must be >= 1, got '$v'")
        n
      }
    }
    var attempt = 0
    var tailWaitMs = 0L
    val maxTailWaitMs = 30000L
    def bumpOrFail(msg: => String, cause: Throwable = null): Unit = {
      attempt += 1
      if (attempt >= maxAttempts) throw new IOException(msg, cause)
    }
    while (true) {
      // CHECKPOINT-BOUNDED tail parse: entries the newest checkpoint
      // summarizes are replayed through `resolve` below, never re-parsed
      // here — commit cost is O(tail since checkpoint), not O(log
      // length). The deltas' `commits` argument is therefore the
      // committed tail ABOVE the newest checkpoint (possibly empty on a
      // truncated log); every consumer is truncation-aware already
      // (committedDdl resolves tombstones, tailVersion falls back to
      // resolve, schema echoes fall back to the resolved snapshot).
      val raw = historyRaw(spark, root, boundAtCheckpoint = true)
      lastCommitTailLen = raw.size
      if (raw.nonEmpty && raw.last._2.isEmpty) {
        // another writer claimed the tail version but its bytes are not
        // durable yet — the delta below must see its effects, so wait for
        // the in-flight commit instead of computing against a stale state.
        // This wait has its own (generous) budget: it is the NORMAL path
        // under concurrency, not a conflict, and must not starve the
        // conflict-retry attempts
        Thread.sleep(10)
        tailWaitMs += 10
        if (tailWaitMs >= maxTailWaitMs)
          throw new IOException(
            s"txlog tail ${raw.last._1} never became readable in $root " +
              "(writer crashed between claim and write? run " +
              "`REPAIR LOG <table>` to quarantine the dead claim)")
      } else {
        val commits = raw.map(_._2.get)
        commitListPause(root)
        // current state through CHECKPOINT-AWARE resolution: raw commit
        // replay would silently miss pre-checkpoint state on a log whose
        // old entries were truncated (which readers support) — and the
        // next version must also respect a checkpoint that outlived its
        // commits
        // None ONLY for a fresh table (first commit): any other resolve
        // failure — IO, or the truncated-log "origin missing" refusal —
        // must fail the WRITE. Computing the delta against a partial
        // live set or fencing against an empty column mapping would
        // commit wrong state on exactly the corruption being detected.
        //
        // SCALARS only: every fence below reads version/txns/colMap/
        // constraints/schema, which [[resolveScalars]] answers O(tail)
        // on a big table. The live set materializes LAZILY, and only
        // for the deltas that actually read it (overwrite/upsert/
        // compact) — an append to a 10M-file table never does.
        val metaNow = {
          // A concurrent FIRST commit can claim its entry between THIS
          // attempt's raw-tail listing and the resolve's own listing:
          // the resolve then sees a claimed-but-not-yet-durable v0 —
          // empty committed tail, no checkpoint, yet a log file name —
          // and raises the truncated-log refusal. That state is the
          // in-flight tail wait's, not corruption: wait it out bounded,
          // exactly like the raw.last-in-flight branch above. Any
          // other IllegalArgumentException stays loud.
          // a while loop, not recursion: the retry re-enter sits in a
          // catch handler where a self-call cannot be tail-optimized,
          // and maxTailWaitMs/10 frames is avoidable stack depth on a
          // path that races concurrent first commits
          var retriesLeft = (maxTailWaitMs / 10).toInt
          var done = false
          var res: Option[Either[Snapshot, MetaSnapshot]] = None
          while (!done) {
            try { res = Some(resolveMeta(spark, root, None)); done = true }
            catch {
              case _: NotATxLogTableException => res = None; done = true
              case e: IllegalArgumentException
                  if inFlightFirstCommitOnly(spark, root) =>
                if (retriesLeft <= 0)
                  throw new IOException(
                    s"txlog first commit of $root never became readable " +
                      "(writer crashed between claim and write? run " +
                      "`REPAIR LOG <table>` to quarantine the dead claim)",
                    e)
                Thread.sleep(10)
                retriesLeft -= 1
            }
          }
          res
        }
        val snapNow = metaNow.map(scalarsOf)
        lastCommitLiveForced = false
        lazy val liveNow: Seq[String] = metaNow match {
          case Some(Left(s))  => s.live // already materialized, reuse
          case Some(Right(_)) =>
            lastCommitLiveForced = true // test seam: this delta NEEDED it
            resolve(spark, root, None).live
          case None           => Seq.empty
        }
        // idempotence check INSIDE the loop: a raced duplicate writer that
        // lost the version claim re-reads state here and must observe the
        // winner's watermark, not its own stale pre-stage read.
        // txnFence=false RECORDS the watermark without the duplicate
        // check — replace-semantics writers (overwrite) legitimately
        // re-run at the same source version (a REBUILD) and must win
        if (txnFence) txn.foreach { case (app, v) =>
          snapNow.flatMap(_.txns.get(app)).filter(_ >= v)
            .foreach(w => throw new AlreadyCommitted(w))
        }
        // Stage-vs-rename/overwrite/rollback fence for paths WITHOUT a
        // `basedOn` stale-base fence (the append family): the staged files
        // carry the physical names of `stagedMap`; if any batch column's
        // physical name DIFFERS under the winning state's mapping, the
        // files would read wrong (renamed columns all-NULL) — refuse,
        // column-restricted so an unrelated column's concurrent first
        // rename never fails an untouched batch. Runs against snapNow,
        // which this loop already resolved.
        mappingFence.foreach { case (stagedMap, batchCols) =>
          val now = snapNow.map(_.colMap)
            .getOrElse(Map.empty[String, String])
          val moved = batchCols.filter(c =>
            !physName(stagedMap, c).equalsIgnoreCase(physName(now, c)))
          if (moved.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"column mapping of $root changed for staged column(s) " +
                s"${moved.mkString(", ")} (concurrent RENAME/OVERWRITE/" +
                "ROLLBACK): the staged files carry the old physical " +
                "names — re-run the write")
        }
        // Constraint fence for the write paths WITHOUT a `basedOn`
        // stale-base fence (the append family, overwrite, partition
        // upserts/overwrites): the batch was validated against a
        // constraint SET; if the winning state's set differs, the
        // validation is stale — a batch staged before a
        // concurrent addConstraint would commit violating rows right
        // past the fresh rule. Compared by VALUE against the resolved
        // snapshot, not scanned as events in `commits`: the raw tail is
        // checkpoint-bounded, so a constraint change landing just below
        // a cadence checkpoint would be invisible to an event scan —
        // the snapshot's constraint set can never hide. (The `basedOn`
        // callers need no fence — their stale-base fence already
        // rejects EVERY concurrent commit.)
        consFence.foreach { enforced =>
          val now = snapNow.map(_.constraints)
            .getOrElse(Map.empty[String, String])
          if (now != enforced)
            throw new java.util.ConcurrentModificationException(
              s"constraints of $root changed after this batch was " +
                "validated (concurrent ADD/DROP CONSTRAINT) — re-run " +
                "the write")
        }
        val version = (commits.lastOption.map(_.version) ++ snapNow.map(_.version))
          .maxOption.map(_ + 1).getOrElse(0L)
        val (add, remove, schemaDdl) =
          try {
            snapNow.foreach(commitScalars.set)
            // Stale-base (write-skew) fence of the read-modify-write
            // operations: their delta was computed against version
            // `base`, so ANY commit that landed since may hold rows the
            // computation never saw (a concurrent append of a matched
            // key, a rewrite of a vectored file, an evolved schema the
            // DDL would clobber). Fail and let the caller re-run against
            // the new state; silent last-writer-wins would lose the
            // concurrent writer's rows. Read through tailVersion under
            // the scalars just set — see its note on why the max.
            basedOn.foreach { base =>
              val tail = tailVersion(spark, root, commits)
              if (tail != Some(base))
                throw new java.util.ConcurrentModificationException(
                  s"$operation based on version $base conflicts with " +
                    s"concurrent commit ${tail.getOrElse("(none)")} at " +
                    s"$root — re-run the $operation")
            }
            delta(commits, () => liveNow)
          } finally commitScalars.remove()
        val c = Commit(version, operation, System.currentTimeMillis(),
          add, remove, schemaDdl, partitionCols, stats, txn,
          consAdd, consDrop, dv, dvDrop, metrics, schemaDrop, renames)
        val p = logPath(root, version)
        fs.mkdirs(p.getParent)
        commitClaimPause(root)
        if (CommitStore.forPath(p).claim(fs, p, toJson(c).getBytes(UTF_8))) {
          // Close the refresh-vs-widen race: an index build/refresh that
          // resolved the PRE-widen schema may have re-created
          // narrow-hashed rows between committedDdl's pre-claim drop and
          // this claim. Re-drop for any column whose TYPE changed in
          // this commit (cheap: only runs when the DDL string changed).
          // The pre-commit schema falls back to checkpoint-aware
          // resolution — on a truncated-to-empty tail the raw tail
          // carries no schema but the checkpoint does, and skipping the
          // fence there would reopen the race in exactly that state.
          // A failure throws a DISTINCT exception type even though the
          // commit is durable: an IOException here would be
          // indistinguishable from a commit-conflict failure and invite
          // a retry that duplicates the just-committed data.
          commits.lastOption.map(_.schemaDdl).filter(_.nonEmpty)
            .orElse(snapNow.map(_.schemaDdl).filter(_.nonEmpty))
            .filter(pd => schemaDdl.nonEmpty && pd != schemaDdl)
            .foreach { pd =>
              val prev = StructType.fromDDL(pd)
              try StructType.fromDDL(schemaDdl).foreach { f =>
                if (prev.find(_.name.equalsIgnoreCase(f.name))
                    .exists(_.dataType != f.dataType))
                  mustDropBloomIndexes(spark, root, f.name)
              } catch { case e: IOException =>
                throw new IllegalStateException(
                  s"commit $version at $root is DURABLE, but dropping " +
                    "the stale bloom index of a type-changed column " +
                    "failed — do NOT retry the write (it would duplicate " +
                    "data); drop or rebuild the index instead", e)
              }
            }
          // best-effort auto-checkpoint on the cadence: losing it only
          // costs replay length, never correctness
          if ((version + 1) % ckptInterval == 0) {
            // NonFatal, not just IOException: the v2 parquet writer can
            // surface Spark job failures, and ANY post-claim checkpoint
            // failure must stay best-effort — the commit is durable
            try { checkpoint(spark, root); () }
            catch { case scala.util.control.NonFatal(_) => () }
            // opt-in hands-free log truncation (Delta's
            // logRetentionDuration analog): after each checkpoint, trim
            // entries below the retained-checkpoint horizon. Best-effort
            // and NEVER forced — while pre-horizon data is still
            // reclaimable the strand guard refuses and the log simply
            // keeps growing until a vacuum, the safe direction. A
            // malformed config value stays LOUD — but pre-parsed at loop
            // entry, before anything was durable
            retainCheckpoints.foreach { keep =>
              try vacuumLog(spark, root, keepCheckpoints = keep)
              catch { case _: IOException | _: IllegalArgumentException => () }
            }
          }
          return version
        } else {
          bumpOrFail(
            s"txlog commit conflict after $maxAttempts attempts at $root")
          // A lost claim is not always VISIBLE yet on re-list: with an
          // external CAS CommitStore the winner registered the version
          // but its log-file write-through may still be in flight (the
          // filesystem store never has this window — its winner is
          // content-complete at claim time, which is why the in-flight
          // tail wait above cannot cover it). Without a pause the loser
          // re-lists the same stale tail, recomputes the same version,
          // and burns the whole retry budget inside one benign race.
          // Linear backoff, capped: 50 attempts span ~several seconds.
          Thread.sleep(math.min(100L, 5L * attempt))
        }
      }
    }
    -1L // unreachable
  }

  /** The wider of two primitive types when Spark's parquet reader can
    * read files of the NARROWER one under the wider scan schema
    * (SPARK-40876 type widening, probed on this build): the integral
    * ascent byte->short->int->long, float->double, and
    * byte/short/int->double. long->double is deliberately excluded —
    * a double's 53-bit mantissa silently corrupts large longs. None
    * when neither side widens into the other.
    */
  private def widenedType(a: org.apache.spark.sql.types.DataType,
                          b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    if (a == b) return Some(a)
    val rank: Map[DataType, Int] =
      Map(ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    (rank.get(a), rank.get(b)) match {
      case (Some(x), Some(y)) => Some(if (x >= y) a else b)
      case _ =>
        def toDouble(t: DataType) = t == FloatType ||
          rank.get(t).exists(_ <= 3) // byte/short/int, never long
        if (a == DoubleType && toDouble(b)) Some(DoubleType)
        else if (b == DoubleType && toDouble(a)) Some(DoubleType)
        else if (Set[DataType](a, b) == Set[DataType](FloatType, DoubleType))
          Some(DoubleType)
        else None
    }
  }

  /** Commit-time schema policy for APPEND-family writes (append /
    * appendIdempotent / appendChecked / upsertPartitions — everything
    * that adds data to an existing table; `overwrite` replaces the
    * schema by design). Evaluated inside the commit loop against the
    * WINNING state, so concurrent evolutions merge instead of racing.
    *
    *  - Type conflicts are rejected in EVERY mode: committing a changed
    *    type would not convert any data — it would silently break reads
    *    of every existing file at query time, far from the write that
    *    caused it.
    *  - `spark.graft.schema.mode=merge` (default — the reference's
    *    `schema_evolution=True` contract, utils.py:248): the committed
    *    schema is table ∪ batch. New columns evolve in; a NARROWER batch
    *    no longer shrinks the visible schema (its files read null for
    *    the columns they lack, like any pre-evolution file).
    *  - `spark.graft.schema.mode=enforce` (the Delta-default posture for
    *    pipelines where drift is a bug): any name/type set difference
    *    fails the write.
    */
  private def committedDdl(spark: SparkSession, commits: Seq[Commit],
                           batchDdl: String, operation: String,
                           root: String): String = {
    // DROP COLUMN tombstone guard: the dropped column's physical values
    // still sit in every pre-drop file, so evolving the name back in
    // would resurrect stale data there. Common path (log visible from
    // v0) folds the in-hand commits — zero extra IO; a truncated log
    // reads the tombstones through checkpoint-aware resolution and
    // FAILS THE WRITE if that read fails — a guard against silent data
    // resurrection must not weaken itself on an IO error.
    // inside a commitLoop delta the attempt's scalars are in hand —
    // reuse them rather than re-list the log (one LIST per attempt)
    val inLoop = Option(commitScalars.get)
    val dropped = commits.headOption match {
      case Some(first) if first.version == 0L =>
        foldDropped(Set.empty, commits)
      case Some(_) => inLoop.map(_.droppedCols)
        .getOrElse(resolveScalars(spark, root).droppedCols)
      case None =>
        // no visible commits: a fresh table (resolve throws -> no
        // tombstones can exist) or an externally truncated-to-empty
        // tail (resolve answers from the checkpoint)
        inLoop.map(_.droppedCols)
          .orElse(scala.util.Try(resolveScalars(spark, root)).toOption
            .map(_.droppedCols)).getOrElse(Set.empty)
    }
    if (dropped.nonEmpty) {
      val hit = StructType.fromDDL(batchDdl).map(_.name)
        .filter(n => dropped(n.toLowerCase(java.util.Locale.ROOT)))
      if (hit.nonEmpty)
        throw new IllegalArgumentException(
          s"$operation to $root re-adds dropped column(s) " +
            s"${hit.mkString(", ")}: pre-drop files still hold their old " +
            "values, which this write would resurrect — rename the batch " +
            "column, or OVERWRITE the table to rewrite every file first")
    }
    // the current schema ALSO falls back to checkpoint-aware resolution:
    // on an externally truncated-to-empty tail the raw tail carries no
    // schema but the checkpoint does, and treating that state as a fresh
    // table would commit the batch schema verbatim — skipping the type
    // check, widen gating, enforce mode, and the bloom drop at once
    val cur = commits.lastOption.map(_.schemaDdl).filter(_.nonEmpty)
      .orElse(inLoop.map(_.schemaDdl).filter(_.nonEmpty))
      .orElse(scala.util.Try(resolveScalars(spark, root)).toOption
        .map(_.schemaDdl).filter(_.nonEmpty))
    cur match {
      case None => batchDdl
      case Some(c) =>
        val mode = spark.conf.get("spark.graft.schema.mode", "merge")
        val curS = StructType.fromDDL(c)
        val newS = StructType.fromDDL(batchDdl)
        // names match CASE-INSENSITIVELY (Spark's default resolution): a
        // batch renaming `id` to `ID` must hit the type check / be
        // treated as the SAME column, not append a duplicate name that
        // breaks every later read under spark.sql.caseSensitive=false
        def lower(s: String) = s.toLowerCase(java.util.Locale.ROOT)
        def inCur(name: String) = curS.find(f => lower(f.name) == lower(name))
        // `widen` mode: a type conflict where one side UP-CASTS into the
        // other commits the wider type instead of failing — safe because
        // Spark's parquet reader reads files of the narrower physical
        // type under the wider scan schema (SPARK-40876), in both
        // directions of arrival order (old-narrow files under a widened
        // schema, or a narrow late batch into an already-wide table).
        // Scan-side twin: enforceConstraints' staged-read schema applies
        // the same widening (plus a batch-type fallback, read-only) —
        // keep the two merges in sync.
        val widened = scala.collection.mutable
          .Map[String, org.apache.spark.sql.types.DataType]()
        val conflicts = newS.flatMap(f => inCur(f.name)
          .filter(_.dataType != f.dataType)
          .flatMap { t =>
            (if (mode == "widen") widenedType(t.dataType, f.dataType)
             else None) match {
              case Some(w) =>
                // a NARROW batch into an already-wide column is a no-op
                // (committed type unchanged) — recording it would
                // needlessly destroy the column's valid bloom index below
                if (w != t.dataType) widened(lower(f.name)) = w
                None
              case None =>
                Some(s"`${f.name}` table=${t.dataType.simpleString} " +
                  s"batch=${f.dataType.simpleString}")
            }
          })
        if (conflicts.nonEmpty)
          throw new IllegalArgumentException(
            s"$operation to $root changes column type(s): " +
              s"${conflicts.mkString(", ")} — cast the batch explicitly " +
              "(a committed type change converts no data; it breaks reads " +
              "of every existing file later, at query time)" +
              (if (mode == "widen") "" else "; up-cast pairs like " +
                "int->long can evolve under spark.graft.schema.mode=widen"))
        if (mode == "enforce") {
          val curSet = curS.map(f => (lower(f.name), f.dataType)).toSet
          val newSet = newS.map(f => (lower(f.name), f.dataType)).toSet
          if (curSet != newSet)
            throw new IllegalArgumentException(
              s"$operation to $root under schema.mode=enforce: batch " +
                s"columns {${newS.map(_.name).mkString(", ")}} != table " +
                s"columns {${curS.map(_.name).mkString(", ")}} — set " +
                "spark.graft.schema.mode=merge to evolve")
        }
        // a widened column's BLOOM INDEX is dropped (derived state):
        // its rows were hashed under the old type, and xxhash64 of the
        // same value differs between int and long — stale rows would
        // rule out files that DO hold the key (silent false negatives).
        // STRICT: a failed drop fails the WRITE — committing the widened
        // schema over a surviving stale index would make point lookups
        // silently wrong, the exact outcome this block exists to prevent
        // (the same fail-closed policy as the tombstone guard above).
        // Idempotent and safe on commit retry / lost race: the cost of a
        // drop whose commit never lands is only pruning until rebuild.
        widened.keySet.foreach(n => mustDropBloomIndexes(spark, root, n))
        StructType(curS.map(f => widened.get(lower(f.name))
            .map(w => f.copy(dataType = w)).getOrElse(f)) ++
            newS.filterNot(f => inCur(f.name).nonEmpty))
          .toDDL
    }
  }

  /** True when `root`'s log holds raw entries but NONE committed and the
    * uncommitted tail starts at the ORIGIN — a healthy in-flight FIRST
    * commit (a writer between its claim and durability), not a truncated
    * log. A tail starting past version 0 with nothing committed is
    * missing its origin entries and stays a refusal; a corrupt mid-log
    * entry makes `history` itself throw, which propagates (fail-closed).
    */
  private def inFlightFirstCommitOnly(spark: SparkSession,
                                      root: String): Boolean = {
    val fs = fileSystem(spark, root)
    val dir = new Path(s"$root/$LogDirName")
    if (!fs.exists(dir)) return false
    val versions = CommitStore.forPath(dir).list(fs, dir).map(_.getName)
      .collect { case LogFile(v) => v.toLong }
    versions.nonEmpty && versions.min == 0L &&
      history(spark, root).isEmpty
  }

  /** The table's current column mapping for a PRE-stage read: empty for
    * a FRESH table (resolve's dedicated refusal — nothing to map) and
    * for a log whose ONLY entry is a healthy in-flight FIRST commit
    * (no mapping can predate the first commit; commitLoop's tail-wait
    * arbitrates the race). Every other failure PROPAGATES — an IO
    * error, and equally resolve's truncated-log "origin entries
    * missing" refusal, which is also an IllegalArgumentException:
    * swallowing either would stage a mapped table's batch under LOGICAL
    * names — fail-open on exactly the state the commit-time mapping
    * fence guards (the fence would still refuse the commit, but only
    * after the batch staged and with a misleading concurrent-change
    * message — and commitLoop's own resolve would now propagate the
    * same refusal anyway).
    */
  private def colMapForStage(spark: SparkSession,
                             root: String): Map[String, String] =
    try resolveScalars(spark, root).colMap
    catch {
      case _: NotATxLogTableException => Map.empty
      case _: IllegalArgumentException
        if inFlightFirstCommitOnly(spark, root) => Map.empty
    }

  /** Append `df` as a new commit. Returns the committed version.
    * `statsCols` opts the batch into per-file min/max stats for
    * [[readRange]] data skipping. Schema policy: [[committedDdl]].
    */
  def append(spark: SparkSession, df: DataFrame, root: String,
             partitionCols: Seq[String] = Seq.empty,
             statsCols: Seq[String] = Seq.empty): Long = {
    // ONE metadata resolution feeds the stage mapping and the stats
    // job's key translation (stage/computeStats would otherwise each
    // re-resolve just to learn the column mapping)
    val staged = stageBatch(spark, df, root, partitionCols, statsCols,
      colMapForStage(spark, root), "append")
    commitStaged(spark, root, "append", partitionCols, staged)(_ => Seq.empty)
  }

  /** Test seam for the enforce->commit race window (no-op in
    * production), fired by every [[stageBatch]] after validation: lets a
    * spec commit a constraint change exactly between a batch's
    * validation and its commit attempt, proving commitLoop's consFence
    * closes the window — or fail a batch whose files are already staged.
    */
  private[lake] var postEnforceHook: () => Unit = () => ()

  /** Bench/test seam: commit `adds` as one append-shaped commit with the
    * given per-file stats — METADATA ONLY, no staging, no constraint
    * scan, no existence check on the files. The metadata-scale harness
    * ([[graft.LogBench]]) uses it to synthesize a 100k-file commit log
    * in seconds; everything downstream (resolve, checkpoints, pruning,
    * vacuum) then runs the REAL code paths against it.
    */
  private[graft] def commitMetadataOnly(spark: SparkSession, root: String,
                                        adds: Seq[String], stats: FileStats,
                                        schemaDdl: String): Long =
    commitLoop(spark, root, "append", Seq.empty, { (commits, _) =>
      (adds, Seq.empty, committedDdl(spark, commits, schemaDdl, "append", root))
    }, stats)

  /** Bench/test seam: drop cached checkpoint base snapshots so the next
    * resolve pays the cold checkpoint read.
    */
  private[graft] def clearCheckpointCache(): Unit = ckptCache.clear()

  /** Exactly-once [[append]] for retrying writers (the Delta
    * txn-watermark pattern): the commit is tagged (`appId`, `txnVersion`)
    * and SKIPPED — returning None — when the table has already committed
    * that version or a later one for the same appId. The check runs both
    * before staging (cheap fast path) and inside the commit loop against
    * the winning state (a replay racing its own duplicate cannot slip
    * through; the loser's staged files are reapable orphans). Watermarks
    * ride the commits and survive log-truncating checkpoints, so the
    * guarantee holds for the table's whole life. This is what makes the
    * streaming sink ([[graft.streaming.TxLogSinkProvider]]) exactly-once:
    * appId = one sink instance, txnVersion = micro-batch id.
    */
  def appendIdempotent(spark: SparkSession, df: DataFrame, root: String,
                       appId: String, txnVersion: Long,
                       partitionCols: Seq[String] = Seq.empty,
                       statsCols: Seq[String] = Seq.empty): Option[Long] = {
    val pre = scala.util.Try(resolveScalars(spark, root)).toOption
    if (pre.exists(_.txns.get(appId).exists(_ >= txnVersion))) return None
    val staged = stageBatch(spark, df, root, partitionCols, statsCols,
      pre.map(_.colMap).getOrElse(colMapForStage(spark, root)), "append")
    try Some(commitStaged(spark, root, "append", partitionCols, staged,
      txn = Some((appId, txnVersion)))(_ => Seq.empty))
    catch { case _: AlreadyCommitted => None }
  }

  /** Advance an (appId, txnVersion) watermark with a DATA-LESS commit —
    * the exactly-once mark for a batch that changed no table content
    * (e.g. an incremental index step whose whole delta was deletions
    * applied as separate idempotent commits). Same fencing as
    * [[appendIdempotent]]; None when the watermark already covers
    * `txnVersion`. The table must exist: a watermark needs a log to
    * ride, and inventing a schema for an empty first commit would
    * plant an empty stat-less file problem this helper exists to avoid.
    */
  def commitTxnMark(spark: SparkSession, root: String, appId: String,
                    txnVersion: Long): Option[Long] = {
    val pre = resolveScalars(spark, root)
    if (pre.txns.get(appId).exists(_ >= txnVersion)) return None
    try Some(commitLoop(spark, root, "txn", Seq.empty, { (commits, _) =>
      // `commits` is the raw tail ABOVE the newest checkpoint — empty
      // right after a checkpoint (maintain(), the every-10th auto one);
      // the schema then comes from the ATTEMPT's resolved scalars (the
      // pre-loop `pre` could predate a concurrent evolution whose
      // checkpoint emptied the tail — committing its stale ddl would
      // silently regress the schema), same source committedDdl uses.
      (Seq.empty, Seq.empty,
        commits.lastOption.map(_.schemaDdl).getOrElse(
          Option(commitScalars.get).map(_.schemaDdl)
            .getOrElse(resolveScalars(spark, root).schemaDdl)))
    }, txn = Some((appId, txnVersion))))
    catch { case _: AlreadyCommitted => None }
  }

  /** [[append]] gated by data-quality expectations ([[Expect]]): the
    * violation counters ride the staged write itself (an `observe` node —
    * no second scan), and the COMMIT IS WITHHELD when any expectation
    * fails — the table never exposes the bad batch, and its staged files
    * are deleted before the throw. Expectations are checked before the
    * table's CHECK constraints, so no constraint scan runs for a batch
    * they refuse. Throws [[Expect.ExpectationViolation]] with
    * per-expectation counts.
    */
  def appendChecked(spark: SparkSession, df: DataFrame, root: String,
                    expectations: Seq[Expect.Expectation],
                    partitionCols: Seq[String] = Seq.empty,
                    statsCols: Seq[String] = Seq.empty): Long = {
    val (observed, obs) = Expect.observed(df, expectations)
    val staged = stageBatch(spark, observed, root, partitionCols, statsCols,
      colMapForStage(spark, root), "append", precheck = { _ =>
        val bad = Expect.violations(obs)
        if (bad.nonEmpty) throw new Expect.ExpectationViolation(bad)
      })
    commitStaged(spark, root, "append", partitionCols, staged)(_ => Seq.empty)
  }

  /** Replace the whole table content with `df` (logically — prior files
    * stay on disk for time travel until vacuumed).
    */
  def overwrite(spark: SparkSession, df: DataFrame, root: String,
                partitionCols: Seq[String] = Seq.empty,
                statsCols: Seq[String] = Seq.empty,
                txn: Option[(String, Long)] = None,
                operation: String = "overwrite"): Long = {
    // `operation` distinguishes full-state rewrites that CHANGE the data
    // ("overwrite") from row-preserving relayouts ([[cluster]]/[[clusterZ]]
    // commit as "cluster"); both clear the column mapping and tombstones
    // (isFullRewrite), but the change feed skips the latter — Delta's
    // dataChange=false
    require(isFullRewrite(operation),
      s"overwrite operation must be a full-state rewrite op: $operation")
    // full rewrite: files land under the LOGICAL names and the commit's
    // op clears the column mapping (+ tombstones, per foldDropped)
    val staged = stageBatch(spark, df, root, partitionCols, statsCols,
      Map.empty, operation)
    // `txn`: a (appId, version) watermark riding the replace — the
    // derived-table shape (an index REBUILT from its source records the
    // source version it summarizes, so incremental refreshes know where
    // to resume). UNFENCED: replace semantics win — a rebuild at the
    // SAME source version must still replace (the fenced skip silently
    // kept the old contents while the caller's sibling artifacts were
    // already replaced — the mixed-index bug).
    commitLoop(spark, root, operation, partitionCols,
      (_, live) => (staged.adds, live(), staged.ddl),
      staged.stats, txn = txn, txnFence = false, consFence = staged.cons)
  }

  /** Partition-level upsert with SNAPSHOT semantics: logically removes the
    * live files of exactly the partitions present in `df` and adds the
    * staged replacements, in ONE commit — a reader concurrent with the
    * upsert resolves either the whole old or the whole new partition
    * content (unlike the log-less dynamic-overwrite path, whose
    * delete-then-write window can expose a partially rewritten partition).
    * The affected partitions are derived from the staged files' own
    * partition directories — no extra pass over `df`.
    */
  def upsertPartitions(spark: SparkSession, df: DataFrame, root: String,
                       partitionCols: Seq[String],
                       statsCols: Seq[String] = Seq.empty): Long = {
    require(partitionCols.nonEmpty, "partition upsert needs partition columns")
    val staged = stageBatch(spark, df, root, partitionCols, statsCols,
      colMapForStage(spark, root), "upsert")
    val touchedDirs = staged.adds.map(relDir).distinct
    commitStaged(spark, root, "upsert", partitionCols, staged)(
      live => live().filter(f => touchedDirs.contains(relDir(f))))
  }

  /** Statically-scoped partition overwrite (Hive/Spark's
    * `INSERT OVERWRITE ... PARTITION (p = 'v')`): atomically replace ALL
    * files under the partitions matching `partitionFilter` (equality
    * conjuncts on partition columns, the same directory-name matching as
    * partition-scoped OPTIMIZE) with the staged batch — one commit, no
    * data read. The scope check is metadata-only too: every staged file's
    * directory must itself match the filter, so a batch row whose
    * partition values fall OUTSIDE the scope fails the write instead of
    * silently surviving alongside the partitions it claimed to replace.
    * The removal set is recomputed from the live list at each commit
    * attempt (overwrite-wins under concurrency, like [[upsertPartitions]]
    * — there is no read-modify-write to skew).
    */
  def replacePartitions(spark: SparkSession, df: DataFrame, root: String,
                        partitionFilter: Map[String, String],
                        statsCols: Seq[String] = Seq.empty): Long = {
    require(partitionFilter.nonEmpty,
      "replacePartitions needs at least one partition equality — use " +
        "overwrite() to replace the whole table")
    val current = resolve(spark, root, None) // must exist: scope implies it
    val parts = partitionColsOf(spark, root, current)
    val bad = partitionFilter.keySet -- parts.toSet
    require(bad.isEmpty,
      s"replacePartitions filter names non-partition column(s) " +
        s"${bad.mkString(", ")} — partition columns are " +
        s"${parts.mkString(", ")}")
    def inScope(dir: String): Boolean = {
      val segs = dir.split('/').filter(_.nonEmpty).toSet
      partitionFilter.forall { case (k, v) =>
        segs.contains(s"$k=${escapePartitionValue(v)}") }
    }
    val staged = stageBatch(spark, df, root, parts, statsCols,
      current.colMap, "overwrite_partitions", precheck = { adds =>
        val escaped = adds.filterNot(f => inScope(relDir(f)))
        if (escaped.nonEmpty)
          throw new IllegalArgumentException(
            s"replacePartitions batch writes outside its scope " +
              s"(${partitionFilter.map { case (k, v) => s"$k=$v" }.mkString(", ")}): " +
              s"e.g. ${escaped.head} — filter the batch or widen the scope")
      })
    // overwrite-wins needs no version fence, but the staged files DO
    // carry current.colMap's physical names — same race as appends
    commitStaged(spark, root, "overwrite_partitions", parts, staged)(
      live => live().filter(f => inScope(relDir(f))))
  }

  /** Predicate-scoped overwrite (Delta's `replaceWhere`): atomically
    * delete every row matching `condition` and insert the batch — one
    * commit. Every batch row must itself satisfy the condition (NULL
    * fails, checked before staging), otherwise rows would escape the
    * scope they claim to replace. File-granular like DELETE: only files
    * containing a matching row are rewritten, their non-matching rows
    * carried over; a concurrent commit between probe and claim fails the
    * operation (stale-base detection, same as merge). Prefer
    * [[replacePartitions]] when the scope IS partition equalities — that
    * path never reads data.
    */
  def replaceWhere(spark: SparkSession, df: DataFrame, root: String,
                   condition: org.apache.spark.sql.Column,
                   statsCols: Seq[String] = Seq.empty): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    val escaped =
      df.filter(not(coalesce(condition, lit(false)))).limit(1).count()
    if (escaped > 0)
      throw new IllegalArgumentException(
        s"replaceWhere batch contains row(s) not satisfying the scope " +
          s"condition — filter the batch or widen the condition")
    val current = resolve(spark, root, None)
    val parts = partitionColsOf(spark, root, current)
    val matchedFiles = liveMatchCounts(current, "replace_where",
      taggedVisible(spark, root, current).filter(condition)
        .select(col("__dv_file").as("file"))).map(_._1)
    // survivors: matched files' rows the condition does NOT select (NULL
    // keeps the row — DELETE semantics), carried over verbatim; DV-aware
    // so vector-deleted rows don't resurrect through the rewrite
    val survivors =
      if (matchedFiles.isEmpty) None
      else Some(
        readLiveFiles(spark, root, current.schemaDdl, matchedFiles, current)
          .filter(coalesce(not(condition), lit(true))))
    val staged = survivors match {
      case Some(s) => s.unionByName(df, allowMissingColumns = true)
      case None    => df
    }
    val Staged(adds, ddl, stats, _, _) = stageBatch(spark, staged, root,
      parts, statsCols, current.colMap, "replace_where")
    commitLoop(spark, root, "replace_where", parts, { (commits, _) =>
      // append-style schema merge: a zero-match replaceWhere staging a
      // narrower batch must NOT narrow the committed table schema
      (adds, matchedFiles,
        committedDdl(spark, commits, ddl, "replace_where", root))
    }, stats, basedOn = Some(current.version))
  }

  // -------------------------------------------------------------------
  // CHECK constraints — persistent, table-attached data-quality rules
  // -------------------------------------------------------------------

  private val ConstraintName = raw"[A-Za-z_][A-Za-z0-9_]*".r

  /** Column names a constraint expression references (unresolved parse —
    * no table needed). Qualified references are rejected at add time, so
    * the head part IS the column.
    */
  private def constraintRefs(spark: SparkSession, checkSql: String): Seq[String] =
    org.apache.spark.sql.graftnative.parseExpression(spark, checkSql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        require(a.nameParts.length == 1,
          s"constraint expressions reference plain columns, not qualified " +
            s"names: `${a.name}`")
        a.nameParts.head
    }.distinct

  /** The resolved constraint set (name -> CHECK expression SQL) at the
    * latest version.
    */
  def constraintsOf(spark: SparkSession, root: String): Map[String, String] =
    resolve(spark, root, None).constraints

  /** Violation filter implementing SQL CHECK semantics: a row violates
    * only when the expression is FALSE — NULL satisfies (the standard,
    * and Delta's). Non-boolean expressions fail analysis loudly.
    */
  private def violatesCheck(checkSql: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    coalesce(expr(checkSql), lit(true)) === false
  }

  /** Attach a named CHECK constraint (Delta's `ALTER TABLE ... ADD
    * CONSTRAINT name CHECK (...)`): from this commit on, EVERY write path
    * (append family, overwrite, merge, CDC apply, UPDATE, SQL DML)
    * verifies its batch against the constraint and withholds the commit
    * on violation. Existing data is validated first with one scan of the
    * referenced columns — a constraint the table already breaks is
    * refused, so a green `addConstraint` certifies the WHOLE table, not
    * just future writes. Constraints ride the commit log (surviving
    * checkpoint truncation, visible to every writer), and a data commit
    * racing the validation scan fails the add rather than slipping
    * unvalidated rows under it.
    */
  def addConstraint(spark: SparkSession, root: String, name: String,
                    checkSql: String): Long = {
    require(ConstraintName.matches(name),
      s"constraint name must be identifier-shaped: '$name'")
    val current = resolve(spark, root, None)
    require(!current.constraints.contains(name),
      s"constraint $name already exists on $root " +
        s"(CHECK (${current.constraints(name)})) — drop it first")
    val schema = StructType.fromDDL(current.schemaDdl)
    val missing = constraintRefs(spark, checkSql)
      .filterNot(r => schema.exists(_.name.equalsIgnoreCase(r)))
    require(missing.isEmpty,
      s"constraint $name references column(s) not in $root's schema: " +
        missing.mkString(", "))
    val violations =
      snapshot(spark, root, current).filter(violatesCheck(checkSql)).count()
    if (violations > 0)
      throw new IllegalStateException(
        s"cannot add constraint $name to $root: $violations existing " +
          s"row(s) violate CHECK ($checkSql)")
    commitLoop(spark, root, "addConstraint",
      partitionColsOf(spark, root, current),
      (_, _) => (Seq.empty, Seq.empty, current.schemaDdl),
      consAdd = Map(name -> checkSql),
      // any commit after the validation scan may have added rows this
      // constraint never saw — fail the add, not the data
      basedOn = Some(current.version))
  }

  /** Detach a constraint; later writes stop checking it. */
  def dropConstraint(spark: SparkSession, root: String, name: String): Long = {
    val current = resolve(spark, root, None)
    require(current.constraints.contains(name),
      s"no constraint $name on $root " +
        s"(have: ${current.constraints.keys.toSeq.sorted.mkString(", ")})")
    commitLoop(spark, root, "dropConstraint",
      partitionColsOf(spark, root, current),
      (_, _) => (Seq.empty, Seq.empty, current.schemaDdl),
      consDrop = Seq(name))
  }

  /** `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`: retrofit
    * data-skipping stats onto the CURRENT live files — the fix for a
    * legacy table written without `statsCols`, which until now could
    * only gain skipping through a full `cluster`/`compact` rewrite. One
    * pruned columnar scan of the named columns computes per-file min/max
    * (plus the row-count pseudo-column that makes [[countRows]]
    * metadata-only), and the stats land as a DATA-LESS commit: no file
    * moves, no bytes rewritten — O(scan of named columns) once, then
    * every later [[readRange]]/merge probe skips on them. Per-file maps
    * MERGE with existing stats, so columns analyzed earlier keep their
    * bounds. Mixed-type safety is [[computeStats]]'s: a column whose
    * values don't all cast numerically records no bounds for that file
    * (conservatively kept) rather than under-covering ones.
    */
  def analyzeStats(spark: SparkSession, root: String,
                   statsCols: Seq[String]): Long = {
    require(statsCols.nonEmpty, "ANALYZE needs at least one column")
    val current = resolve(spark, root, None)
    val schema = StructType.fromDDL(current.schemaDdl)
    val missing = statsCols
      .filterNot(c => schema.exists(_.name.equalsIgnoreCase(c)))
    require(missing.isEmpty,
      s"ANALYZE column(s) not in $root's schema: ${missing.mkString(", ")}")
    // canonicalize to the schema's spelling: stats are LOOKED UP
    // case-sensitively by readRange/merge, so bounds recorded under the
    // caller's casing would silently buy zero skipping
    val canon = statsCols.map(c =>
      schema.find(_.name.equalsIgnoreCase(c)).get.name)
    // INCREMENTAL: scan only the files missing bounds for at least one
    // named column. Files are immutable and computeStats deterministic,
    // so a recomputation could never change a recorded bound — skipping
    // covered files turns the re-ANALYZE after N appends from O(table)
    // into O(bytes appended), the refreshBloomIndex contract. Files
    // whose column never yields bounds (all-null pre-evolution reads,
    // non-castable values) stay in the rescan set — a bounded
    // conservative cost, never a wrong skip.
    val curStats = current.stats.full // ANALYZE genuinely needs all keys
    val toScan = current.live.filterNot(f =>
      canon.forall(c => curStats.get(f)
        .exists(_.contains(physName(current.colMap, c)))))
    if (toScan.isEmpty) return current.version // fully covered: no-op
    // the table schema makes pre-evolution files readable (null-filled)
    val fresh = computeStats(spark, root, toScan, canon,
      readSchema = Some(schema), colMap = current.colMap)
    // per-file replace semantics in replay (acc ++ c.stats): merge each
    // scanned file's new bounds with its existing ones; unscanned files
    // simply keep their bounds from earlier commits
    val merged = fresh.map { case (f, m) =>
      f -> (curStats.getOrElse(f, Map.empty[String, (Double, Double)]) ++ m)
    }
    commitLoop(spark, root, "analyze",
      partitionColsOf(spark, root, current),
      (_, _) => (Seq.empty, Seq.empty, current.schemaDdl), stats = merged,
      // the scan covered `current`'s live set; files committed since
      // weren't analyzed and a raced evolution must not be clobbered
      // by this commit's schema echo — fail the maintenance op, not
      // the data, and let the caller re-run
      basedOn = Some(current.version))
  }

  /** Distinct partition directory paths of the CURRENT live set (Hive
    * `k=v[/k2=v2]` form, values in their on-disk escaped rendering) —
    * metadata-only: the answer comes from the log's file list, no
    * listing or scan. Empty for an unpartitioned table.
    */
  def partitionValues(spark: SparkSession, root: String): Seq[String] =
    resolve(spark, root, None).live
      .map(_.split('/').dropRight(1).mkString("/"))
      .filter(_.nonEmpty).distinct.sorted

  /** The table's partition columns from the LOG's ground truth (live
    * file layout, falling back to commit metadata for an empty table) —
    * not from any caller-side registration, which may have omitted them.
    */
  def partitionColumns(spark: SparkSession, root: String): Seq[String] =
    partitionColsOf(spark, root, resolve(spark, root, None))

  /** Partition columns + live partition directory values from ONE log
    * resolution — SHOW PARTITIONS' exact shape. Calling
    * [[partitionColumns]] and [[partitionValues]] separately pays two
    * full tail reads (+ checkpoint replays) for one statement.
    */
  def partitionInfo(spark: SparkSession,
                    root: String): (Seq[String], Seq[String]) = {
    val snap = resolve(spark, root, None)
    val values = snap.live
      .map(_.split('/').dropRight(1).mkString("/"))
      .filter(_.nonEmpty).distinct.sorted
    (partitionColsOf(spark, root, snap), values)
  }

  /** `ALTER TABLE ... ADD COLUMNS` as a METADATA-ONLY commit — the
    * explicit twin of the write-path merge evolution ([[committedDdl]]),
    * matching the reference's add-column catalog step
    * (staging_to_curated.py:152-168, `wr.catalog.add_column`). Types are
    * clamped to the catalog whitelist like O-23's write-side evolution
    * ([[CatalogOps.clampType]] — struct/array/map degrade to string);
    * existing columns are never altered or dropped, so every
    * already-written file stays readable (its rows read NULL for the new
    * columns, exactly like files that predate a write-side evolution).
    * No data file is touched: the commit carries only the widened DDL.
    */
  def addColumns(spark: SparkSession, root: String,
                 cols: Seq[(String, String)]): Long = {
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    val current = resolve(spark, root, None)
    val cur = StructType.fromDDL(current.schemaDdl)
    val evolved = cols.foldLeft(cur) { case (acc, (n, t)) =>
      require(!acc.exists(_.name.equalsIgnoreCase(n)),
        s"column $n already exists on $root")
      require(!current.droppedCols(n.toLowerCase(java.util.Locale.ROOT)),
        s"column $n was DROPPED from $root and pre-drop files still hold " +
          "its old values — use a different name, or OVERWRITE the table " +
          "to rewrite every file first")
      val clamped = CatalogOps.clampType(t)
      val dt = StructType.fromDDL(s"`$n` $clamped").head.dataType
      acc.add(StructField(n, dt))
    }
    commitLoop(spark, root, "addColumns",
      partitionColsOf(spark, root, current),
      (_, _) => (Seq.empty, Seq.empty, evolved.toDDL),
      // the widened DDL was computed against `current`; a write racing
      // in between may itself have evolved the schema — fail the DDL,
      // not the data, and let the caller re-run against the new state
      basedOn = Some(current.version))
  }

  /** `ALTER TABLE ... DROP COLUMN(S)` as a METADATA-ONLY commit: the new
    * schema simply omits the column, and since every read applies the
    * commit's DDL as the scan schema (by-name parquet resolution), the
    * physical values in existing files become invisible without touching
    * a byte of data — time travel to a pre-drop version still shows them.
    * The un-rewritten bytes are also why the name is TOMBSTONED
    * ([[foldDropped]]): evolving the same name back in would resurrect
    * stale values on every pre-drop file, so [[committedDdl]] and
    * [[addColumns]] refuse it until an OVERWRITE rewrites the table
    * (Delta needs column mapping for the same reason; this engine trades
    * the name's reusability for zero-rewrite drops). Refused for
    * partition columns (their values live in directory names — dropping
    * them is a repartitioning rewrite, not a metadata op) and for columns
    * a CHECK constraint references (drop the constraint first). The
    * column's bloom index sidecar — derived state over now-invisible
    * values — is deleted best-effort after the commit lands.
    */
  def dropColumns(spark: SparkSession, root: String,
                  cols: Seq[String]): Long = {
    require(cols.nonEmpty, "DROP COLUMNS needs at least one column")
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    require(cols.map(lc).distinct.size == cols.size,
      s"duplicate column in DROP COLUMNS: ${cols.mkString(", ")}")
    val current = resolve(spark, root, None)
    val cur = StructType.fromDDL(current.schemaDdl)
    val parts = partitionColsOf(spark, root, current)
    val partSet = parts.map(lc).toSet
    cols.foreach { c =>
      require(cur.exists(_.name.equalsIgnoreCase(c)),
        s"no such column $c on $root")
      require(!partSet(lc(c)),
        s"$c is a partition column of $root — its values live in " +
          "directory names; rewrite the table with a new partitioning " +
          "instead of dropping it")
    }
    val dropSet = cols.map(lc).toSet
    // the TABLE's spelling, not the statement's: the bloom sidecar and
    // the recorded tombstone must name the column as the schema does,
    // or a case-variant DROP would leak the index directory
    val canonical = cols.map(c =>
      cur.find(_.name.equalsIgnoreCase(c)).get.name)
    current.constraints.foreach { case (name, sql) =>
      val hit = constraintRefs(spark, sql).filter(r => dropSet(lc(r)))
      require(hit.isEmpty,
        s"constraint $name (CHECK ($sql)) references ${hit.mkString(", ")}" +
          s" — drop the constraint first")
    }
    val remaining = StructType(cur.filterNot(f => dropSet(lc(f.name))))
    // at least one DATA column must survive: partition columns live in
    // directory names, so a partition-only schema has no file contents
    require(remaining.exists(f => !partSet(lc(f.name))),
      s"cannot drop every data column of $root")
    val v = commitLoop(spark, root, "drop_column", parts,
      (_, _) => (Seq.empty, Seq.empty, remaining.toDDL),
      // the tombstone names the PHYSICAL column — that is where the
      // stale bytes live (for a renamed column the logical name has no
      // bytes anywhere, so reusing it later is safe); the mapping drops
      // its entry for the dropped logical name
      schemaDrop = canonical.map(c => physName(current.colMap, c)),
      renames = Some(current.colMap -- dropSet),
      // the narrowed DDL was computed against `current`; a racing write
      // may have evolved the schema — fail the DDL, not the data
      basedOn = Some(current.version))
    canonical.foreach(c =>
      try dropBloomIndex(spark, root, c)
      catch { case _: IOException => () })
    v
  }

  /** `ALTER TABLE ... RENAME COLUMN from TO to` as a METADATA-ONLY
    * commit, via Delta-style column MAPPING: the on-file (physical)
    * name is FROZEN at the first rename — existing files keep their
    * bytes untouched, later writes stage the column under the same
    * physical name ([[stage]]), and every read scans physical names
    * and aliases back to the logical schema ([[physSchema]]/
    * [[toLogicalCols]]). Zero bytes rewritten at any table size.
    *
    *  - Time travel is era-exact: the mapping is version state (folded
    *    like tombstones through checkpoints, restated by rollback and
    *    clone), so a pre-rename [[readAt]] shows the old name.
    *  - A retired name is tombstoned ([[foldDropped]]) ONLY when it is
    *    the frozen PHYSICAL name (the lineage's first rename): re-adding
    *    it would resurrect the frozen bytes on every existing file — the
    *    same guard as DROP COLUMN. Chain- or un-rename-retired ALIASES
    *    hold no bytes anywhere and stay reusable (a stale writer still
    *    carrying one merges it in as an ordinary new column). Renaming a
    *    column BACK to its own physical name is the one allowed reuse of
    *    a tombstoned name (the bytes are the column's own current data);
    *    the rename commit's schema carries the name, which clears the
    *    tombstone in the fold.
    *  - Refused for partition columns (their names live in directory
    *    paths), for targets already in the schema, for targets
    *    tombstoned by an unrelated drop/rename, and while a CHECK
    *    constraint references the column (its SQL names the old
    *    spelling — drop the constraint first, like DROP COLUMN).
    *  - The column's BLOOM INDEX sidecar is keyed by logical name and
    *    STRICTLY dropped (pre-claim, both names; post-claim the old
    *    name) — probes use the new name, rebuild under it. File-skipping
    *    STATS key by the frozen PHYSICAL name, so pruning and
    *    metadata-only MIN/MAX survive the rename unchanged (consumers
    *    translate the logical column through the mapping).
    *  - An OVERWRITE clears the mapping (all live files rewritten under
    *    logical names), restoring a mapping-free table.
    */
  def renameColumn(spark: SparkSession, root: String,
                   from: String, to: String): Long = {
    require(to.trim.nonEmpty && !to.contains('`'),
      s"invalid rename target '$to'")
    val current = resolve(spark, root, None)
    val cur = StructType.fromDDL(current.schemaDdl)
    val field = cur.find(_.name.equalsIgnoreCase(from))
      .getOrElse(throw new IllegalArgumentException(
        s"no such column $from on $root"))
    val parts = partitionColsOf(spark, root, current)
    require(!parts.exists(_.equalsIgnoreCase(field.name)),
      s"${field.name} is a partition column of $root — its name lives " +
        "in every partition directory path; rewrite the table with the " +
        "new layout instead of renaming it")
    require(lcol(to) == lcol(field.name) ||
        !cur.exists(_.name.equalsIgnoreCase(to)),
      s"column $to already exists on $root")
    val phys = physName(current.colMap, field.name)
    // a tombstoned target would make the new logical name an alias for
    // bytes some OTHER dropped/renamed column left behind — refuse,
    // EXCEPT the un-rename (back to this column's own physical name)
    require(lcol(to) == lcol(phys) || !current.droppedCols(lcol(to)),
      s"column name $to was dropped or renamed away on $root and " +
        "pre-existing files still hold bytes under it — use a different " +
        "name, or OVERWRITE the table to rewrite every file first")
    current.constraints.foreach { case (name, sql) =>
      require(!constraintRefs(spark, sql)
          .exists(_.equalsIgnoreCase(field.name)),
        s"constraint $name (CHECK ($sql)) references ${field.name} — " +
          "drop the constraint first")
    }
    val newMap =
      if (lcol(to) == lcol(phys)) current.colMap - lcol(field.name)
      else current.colMap - lcol(field.name) + (lcol(to) -> phys)
    val renamed = StructType(cur.map(f =>
      if (f.name.equalsIgnoreCase(field.name)) f.copy(name = to) else f))
    // STRICT pre-claim drop of sidecars under BOTH the old and the new
    // logical name (the widen path's fail-closed policy, not a
    // best-effort delete): probes key the sidecar by logical name, so a
    // sidecar surviving under the RETIRED name would lie dormant and be
    // re-exposed — with its old-era hashes — by a later un-rename back
    // to that name, answering definitive wrong "no"s to point lookups.
    // (A build racing this commit self-cleans: its post-write
    // fenceBloomType no longer finds the old name in the schema.)
    mustDropBloomIndexes(spark, root, field.name)
    mustDropBloomIndexes(spark, root, to)
    val v = commitLoop(spark, root, "rename_column", parts,
      (_, _) => (Seq.empty, Seq.empty, renamed.toDDL), schemaDrop =
        // the tombstone guards BYTE resurrection, so it names only a
        // retired name that IS the frozen physical name (the first
        // rename of a lineage — every file holds its bytes). A
        // chain-retired or un-rename-retired alias has no bytes under
        // it anywhere: tombstoning it would permanently burn the name
        // (a rename BACK to it, or a later unrelated rename onto it,
        // must stay legal — the fuzz's rename round trips hit exactly
        // this). A stale writer still carrying such an alias merges it
        // in as an ordinary new column — the standard schema-merge
        // outcome, with its data landing correctly under the current
        // name via the frozen physical bytes.
        (if (lcol(to) == lcol(field.name) ||
             lcol(field.name) != lcol(phys)) Seq.empty
         else Seq(field.name)),
      renames = Some(newMap),
      metrics = Map("num_renamed_columns" -> 1L),
      // metadata-only DDL computed against `current`: same stale-base
      // rule as addColumns/dropColumns — fail the DDL, not the data
      basedOn = Some(current.version))
    // POST-claim re-drop (OLD name only) closes the other ordering of
    // the build race: a build whose sidecar write landed after the
    // pre-claim drop but whose fence resolved BEFORE this commit (old
    // name still in the schema) passes its own fence and leaves a ghost
    // sidecar under the retired name. The NEW name is deliberately NOT
    // re-dropped: a sidecar under it post-claim can only be a LEGITIMATE
    // build against the renamed schema (pre-rename builds on that name
    // were impossible — the column did not exist). A failure here is
    // wrapped DISTINCTLY — the rename is already DURABLE, so it must
    // not read as a retryable failure.
    try {
      mustDropBloomIndexes(spark, root, field.name)
    } catch { case e: IOException =>
      throw new IllegalStateException(
        s"rename of ${field.name} at $root is DURABLE, but dropping a " +
          "bloom sidecar a racing index build re-created failed — do " +
          "NOT retry the rename; drop the index instead", e)
    }
    v
  }

  /** `ALTER TABLE ... ALTER COLUMN ... TYPE` as a METADATA-ONLY commit:
    * the explicit, single-statement form of the widen path that
    * `spark.graft.schema.mode=widen` applies implicitly on append-time
    * conflicts ([[committedDdl]]) — an operator up-casting a column does
    * not need to flip a session-global mode and push a wider batch.
    * Only strict UP-casts are accepted ([[widenedType]]: the integral
    * ascent, float->double, byte/short/int->double — never long->double,
    * whose 53-bit mantissa corrupts large longs): Spark's parquet reader
    * reads the narrower physical files under the wider scan schema
    * (SPARK-40876), so no data converts and every existing file stays
    * readable. Same bloom rules as the implicit path: the column's
    * index hashed the OLD type, so it is STRICTLY dropped pre-claim
    * (a failed drop fails the statement) and commitLoop's post-claim
    * fence re-drops any index a racing build re-created.
    */
  def alterColumnType(spark: SparkSession, root: String,
                      column: String, typeDdl: String): Long = {
    val current = resolve(spark, root, None)
    val cur = StructType.fromDDL(current.schemaDdl)
    val field = cur.find(_.name.equalsIgnoreCase(column))
      .getOrElse(throw new IllegalArgumentException(
        s"no such column $column on $root"))
    val target = try StructType.fromDDL(s"`__t` $typeDdl").head.dataType
      catch { case e: Throwable => throw new IllegalArgumentException(
        s"cannot parse target type '$typeDdl'", e) }
    if (target == field.dataType) return current.version // no-op
    val parts = partitionColsOf(spark, root, current)
    require(!parts.exists(_.equalsIgnoreCase(field.name)),
      s"${field.name} is a partition column of $root — its values live " +
        "in directory names; rewrite the table instead of re-typing it")
    require(widenedType(field.dataType, target).contains(target),
      s"ALTER COLUMN TYPE on $root only up-casts: " +
        s"${field.dataType.simpleString} -> ${target.simpleString} is " +
        "not a widening Spark's parquet reader can absorb (committing " +
        "it would convert no data and break every read of existing " +
        "files at query time); OVERWRITE with an explicit cast instead")
    // STRICT pre-claim drop, same fail-closed rule as the widen mode:
    // a stale narrow-hashed index surviving the type change answers
    // definitive wrong "no"s to point lookups
    mustDropBloomIndexes(spark, root, field.name)
    val evolved = StructType(cur.map(f =>
      if (f.name.equalsIgnoreCase(field.name)) f.copy(dataType = target)
      else f))
    commitLoop(spark, root, "alter_column_type", parts,
      (_, _) => (Seq.empty, Seq.empty, evolved.toDDL),
      metrics = Map("num_altered_columns" -> 1L),
      basedOn = Some(current.version))
  }

  /** Enforce the table's constraints on freshly STAGED files, between
    * stage and commit — called only by [[stageBatch]], the one seam every
    * data-adding path funnels through. Reading the staged parquet back
    * (columnar, pruned to the referenced columns) costs one bounded scan
    * of the NEW bytes only and never recomputes the caller's DataFrame.
    * All constraints evaluate in ONE job. On violation it throws, and
    * [[stageBatch]] deletes the staged files — the table never exposes
    * the bad batch.
    *
    * The staged files are read with the schema they will carry after the
    * commit (table ∪ batch for append-family, the batch schema alone for
    * a full rewrite — [[isFullRewrite]]): a column the batch omits reads NULL,
    * and NULL satisfies CHECK — exactly how the committed files will
    * behave. A constraint referencing a column absent from that schema
    * (an overwrite dropping it) fails loudly instead of silently passing
    * forever.
    */
  private def enforceConstraints(spark: SparkSession, root: String,
                                 adds: Seq[String], batchDdl: String,
                                 operation: String): Map[String, String] = {
    // scalars only (constraints, schema, mapping): batch validation must
    // not materialize a big table's live set — it scans the STAGED files
    val snap = scala.util.Try(resolveScalars(spark, root)).toOption
    val cons = snap.map(_.constraints).getOrElse(Map.empty[String, String])
    // the return value is the constraint SET this batch was validated
    // against — commitLoop's consFence refuses the commit if the winning
    // state's set differs (validated-under-stale-rules)
    if (cons.isEmpty || adds.isEmpty) return cons
    val replaceSchema = isFullRewrite(operation)
    val batchS = StructType.fromDDL(batchDdl)
    val schema =
      if (replaceSchema) batchS
      else snap.map(s => StructType.fromDDL(s.schemaDdl)) match {
        case None => batchS
        case Some(cur) => StructType(cur.map { cf =>
          // on a type conflict the staged files carry the BATCH's type,
          // so the scan schema must be one that can open them: the wider
          // type when one side up-casts into the other, else the batch
          // type itself (a narrower/incompatible table type would crash
          // this read with a raw parquet conversion error and orphan the
          // staged files before committedDdl could produce its loud
          // "changes column type(s)" failure — which still fires at
          // commit time for every non-widenable conflict)
          batchS.find(_.name.equalsIgnoreCase(cf.name))
            .filter(_.dataType != cf.dataType)
            .map(bf => cf.copy(dataType =
              widenedType(cf.dataType, bf.dataType).getOrElse(bf.dataType)))
            .getOrElse(cf)
        } ++ batchS.filterNot(f =>
          cur.exists(_.name.equalsIgnoreCase(f.name))))
      }
    cons.foreach { case (name, sql) =>
      val missing = constraintRefs(spark, sql)
        .filterNot(r => schema.exists(_.name.equalsIgnoreCase(r)))
      if (missing.nonEmpty)
        throw new IllegalArgumentException(
          s"$operation to $root drops column(s) ${missing.mkString(", ")} " +
            s"referenced by constraint $name (CHECK ($sql)) — drop the " +
            "constraint first")
    }
    import org.apache.spark.sql.functions.{count, when}
    // staged files carry PHYSICAL names on a mapped table (stage wrote
    // them; overwrite stages under logical names and replaces the
    // mapping, hence the empty map); constraint expressions reference
    // logical names, so alias back before evaluating
    val stagedMap =
      if (replaceSchema) Map.empty[String, String]
      else snap.map(_.colMap).getOrElse(Map.empty)
    val staged = toLogicalCols(
      spark.read.option("basePath", root)
        .schema(physSchema(schema, stagedMap))
        .parquet(adds.map(f => s"$root/$f"): _*),
      schema, stagedMap)
    val names = cons.keys.toSeq.sorted
    val aggs = names.map(n =>
      count(when(violatesCheck(cons(n)), 1)).as(n))
    val row = staged.agg(aggs.head, aggs.tail: _*).head()
    val bad = names.zipWithIndex
      .map { case (n, i) => n -> row.getLong(i) }.filter(_._2 > 0)
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"$operation to $root violates constraint(s): " +
          bad.map { case (n, c) => s"$n (CHECK (${cons(n)})): $c row(s)" }
            .mkString("; "))
    cons
  }

  private def deleteStaged(spark: SparkSession, root: String,
                           adds: Seq[String]): Unit = {
    val fs = fileSystem(spark, root)
    adds.foreach(f => try fs.delete(new Path(s"$root/$f"), false)
                      catch { case _: IOException => () })
  }

  /** Row-level MERGE (upsert by key): rows of `updates` replace
    * same-keyed rows, new keys insert — in ONE commit. The rewrite is
    * FILE-granular, the same strategy as every production log format:
    *
    *  1. Probe the current snapshot for live files containing a matched
    *     key (a broadcast semi-join against the updates' keys; the result
    *     is a FILE list — metadata-sized — not rows).
    *  2. Stage: the untouched rows of those files (anti-join on key) plus
    *     all update rows. Files without matches are never rewritten or
    *     even rescanned by the write.
    *  3. Commit: remove the matched files, add the staged replacements.
    *
    * Cost scales with (files containing matched keys) x (file size), not
    * table size — with partition-aligned or clustered keys that is a tiny
    * fraction of the table. Keys must be unique within `updates` (two
    * updates for one key have no defined winner; enforced).
    */
  /** Max update-key rows [[merge]] will broadcast for its file probe;
    * above this the probe joins unhinted and Spark's planner/AQE choose a
    * shuffle strategy. ~1M keys ≈ tens of MB serialized — the same order
    * as Spark's own autoBroadcastJoinThreshold default. Conf-tunable
    * (`spark.graft.merge.broadcastKeyLimit`) for tests and for clusters
    * with smaller executors.
    */
  private def broadcastKeyLimit(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.merge.broadcastKeyLimit")
      .map(_.toLong).getOrElse(1000000L)

  def merge(spark: SparkSession, updates: DataFrame, root: String,
            keyCols: Seq[String], partitionCols: Seq[String],
            statsCols: Seq[String] = Seq.empty): Long =
    mergeImpl(spark, updates, None, root, keyCols, partitionCols,
      statsCols, "merge", noUpserts = false)

  /** Shared engine of [[merge]] and [[applyCdc]]: upsert `updates` by key
    * and, when `deleteKeys` is given, drop its keys' rows in the SAME
    * file-granular rewrite — one probe, one commit, identical cost model
    * (a key slated for delete and a key slated for upsert prune, probe,
    * and rewrite through exactly the same path; the only difference is
    * whether a replacement row is staged).
    */
  private def mergeImpl(spark: SparkSession, updates: DataFrame,
                        deleteKeys: Option[DataFrame], root: String,
                        keyCols: Seq[String], partitionCols: Seq[String],
                        statsCols: Seq[String], operation: String,
                        noUpserts: Boolean,
                        extraMetrics: Map[String, Long] = Map.empty): Long = {
    require(keyCols.nonEmpty, s"$operation needs key columns")
    import org.apache.spark.sql.functions.{broadcast, col, count, input_file_name, lit, max, min}
    // every key this operation touches: upserted + deleted — PERSISTED:
    // the key collect, the probe's broadcast and the rewrite's anti-join
    // would each re-run the caller's update pipeline (shuffle included)
    val touchedKeys = (deleteKeys match {
      case Some(d) => updates.select(keyCols.map(col): _*)
        .unionByName(d.select(keyCols.map(col): _*))
      case None => updates.select(keyCols.map(col): _*)
    }).persist()
    try {
    // ONE bounded collect, capped one row past the broadcast gate: the
    // key multiplicities (uniqueness), count and values (the probe's points)
    val keyHead = keyCols.head
    val keyLimit = broadcastKeyLimit(spark)
    val groups = touchedKeys.groupBy(keyCols.map(col): _*).count()
      .limit(math.min(keyLimit + 1, Int.MaxValue.toLong).toInt).collect()
    val bounded = groups.length <= keyLimit
    // above the gate one metadata job answers uniqueness and the key hull
    // (try_cast: a uuid-like key means no range pruning, not an ANSI error)
    lazy val kstat = touchedKeys.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_n"))
      .agg(max(col("_n")).as("_maxn"),
        min(org.apache.spark.sql.functions
          .expr(s"try_cast(`$keyHead` AS DOUBLE)")).as("_klo"),
        max(org.apache.spark.sql.functions
          .expr(s"try_cast(`$keyHead` AS DOUBLE)")).as("_khi"),
        // a non-castable key is missing from _klo/_khi, so its presence
        // must switch range pruning off (the hull would under-cover it)
        count(org.apache.spark.sql.functions
          .expr(s"CASE WHEN `$keyHead` IS NOT NULL AND " +
            s"try_cast(`$keyHead` AS DOUBLE) IS NULL THEN 1 END"))
          .as("_badk")).head()
    val maxN =
      if (bounded) groups.map(_.getLong(keyCols.size)).maxOption.getOrElse(0L)
      else if (kstat.isNullAt(0)) 0L
      else kstat.getLong(0)
    require(maxN <= 1,
      s"$operation touched keys must be unique (one upsert OR delete per key)")

    val current = resolve(spark, root, None)
    // PRUNED probe, O(delta) not O(table): the pruned read's own file
    // choice ([[prunedLive]]) on the snapshot this commit fences on.
    // Under the gate every touched key (upserted AND deleted) is a point;
    // above it the key hull is a range and the bloom stays off. Only when
    // the key types match: stats and xxhash64 are both type-sensitive.
    val tableKeyType = StructType.fromDDL(current.schemaDdl)
      .find(_.name == keyHead).map(_.dataType)
    val probed =
      if (!tableKeyType.contains(updates.schema(keyHead).dataType)) current
      else if (bounded)
        prunedLive(spark, root, current, Nil,
          Seq(keyHead -> groups.map(_.get(0)).distinct.toSeq))
      else if (kstat.isNullAt(1) || kstat.isNullAt(2) ||
               kstat.getLong(3) > 0) current
      else prunedLive(spark, root, current,
        Seq((keyHead, kstat.getDouble(1), kstat.getDouble(2))), Nil)
    val snap = taggedVisible(spark, root, probed)
    // SIZE-GATED key broadcast: above the gate (a backfill-sized key set
    // would OOM the driver) the join is left to Spark's own planning
    val keys = if (bounded) broadcast(touchedKeys) else touchedKeys
    // MERGE-ON-READ mode (spark.graft.merge.mode=vector): instead of
    // rewriting every file holding a matched key, vector the matched
    // rows' positions and append the updates — the CDC-merge shape at
    // 100 TB, where a handful of changed keys per 1 GB file would
    // otherwise re-encode the world. Same pruned probe scan; the
    // rewrite machinery below is simply skipped. The matched keys'
    // current rows become vector positions (old images) and the updates
    // append in the same commit; unmatched update keys simply insert,
    // and a delete-only batch vectors without staging anything.
    if (vectorMode(spark, "spark.graft.merge.mode")) {
      val matched = snap.join(keys, keyCols, "left_semi")
        .select(col("__dv_file").as("file"), col("__dv_pos").as("pos"))
        .cache()
      return try commitVectored(spark, root, current, operation,
        partitionCols, matched, if (noUpserts) None else Some(updates),
        statsCols, skipIfUnmatched = noUpserts,
        (rows, _, added) => extraMetrics ++
          Map("numMatchedRows" -> rows, "numAddedFiles" -> added))
      finally { matched.unpersist(); () }
    }
    // file-granular match probe: which live files hold a matched key?
    val matchedFiles = liveMatchCounts(current, operation,
      snap.join(keys, keyCols, "left_semi")
        .select(col("__dv_file").as("file"))).map(_._1)
    // a delete-only batch whose keys match nothing: a no-op, not an
    // empty commit
    if (noUpserts && matchedFiles.isEmpty) return current.version
    // survivors of the matched files + all updates, in the update schema
    // (merge is also a schema-evolution point: survivors read missing new
    // columns as null)
    val survivors =
      if (matchedFiles.isEmpty) None
      else Some(
        // DV-aware: a vector-deleted row is not a survivor
        readLiveFiles(spark, root, current.schemaDdl, matchedFiles, current)
          .join(keys, keyCols, "left_anti"))
    val staged = survivors match {
      case Some(s) => s.unionByName(updates, allowMissingColumns = true)
      case None    => updates
    }
    val Staged(adds, ddl, stats, _, _) = stageBatch(spark, staged, root,
      partitionCols, statsCols, current.colMap, operation)
    commitLoop(spark, root, operation, partitionCols, { (commits, _) =>
      // same schema policy as appends: a merge whose updates matched NO
      // live file stages only the update rows, and committing their raw
      // schema would narrow the table (or change a type) silently
      (adds, matchedFiles, committedDdl(spark, commits, ddl, operation, root))
    }, stats,
      metrics = extraMetrics ++
        Map("numMatchedFiles" -> matchedFiles.size.toLong,
          "numAddedFiles" -> adds.size.toLong),
      // merge is a read-modify-write: its rewrite was computed against
      // `current` (append/overwrite/upsert recompute their delta per
      // attempt and need no fence)
      basedOn = Some(current.version))
    } finally { touchedKeys.unpersist(); () }
  }

  /** Apply a CHANGE-FEED batch (rows tagged `_change_type`
    * 'insert' | 'delete', optionally `_commit_version`) to this table:
    * the net effect per key — last change wins; within one source commit
    * a rewrite surfaces as delete+insert of the same key, so the insert
    * (the new value) outranks the delete — lands as upserts and key
    * deletes in ONE probe and ONE commit ([[mergeImpl]]). This is the
    * medallion replication step: [[readChanges]] on an upstream table,
    * `applyCdc` on the downstream — cost proportional to the CHANGED
    * keys, never a table rescan (the reference's `{t}_incremental`
    * promote pattern, `utils.py:111-114`, as row-level replication).
    *
    * Idempotent by construction: re-applying the same batch upserts rows
    * to the values they already hold and deletes keys already gone, so an
    * at-least-once caller (a crashed stream replaying its last trigger)
    * converges to exactly-once STATE without transaction plumbing.
    * Returns the committed version (the current version for a
    * net-empty batch).
    */
  def applyCdc(spark: SparkSession, changes: DataFrame, root: String,
               keyCols: Seq[String], partitionCols: Seq[String] = Seq.empty,
               statsCols: Seq[String] = Seq.empty): Long = {
    require(changes.columns.contains("_change_type"),
      "applyCdc needs a _change_type column ('insert' | 'delete')")
    import org.apache.spark.sql.functions.{col, row_number, when}
    // net change per key: highest source version wins; insert beats
    // delete within a version (a rewrite's delete+insert pair = update)
    val reduced =
      if (changes.columns.contains("_commit_version")) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*)
          .orderBy(col("_commit_version").desc,
            when(col("_change_type") === "insert", 1).otherwise(0).desc)
        changes.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn", "_commit_version")
      } else {
        // without a version column there is no order to net by — the
        // batch must already be one change per key; checked here with a
        // clearer error than the merge's generic uniqueness require
        val dup = changes.groupBy(keyCols.map(col): _*)
          .count().filter(col("count") > 1).limit(1).collect()
        if (dup.nonEmpty)
          throw new IllegalArgumentException(
            "applyCdc batch has multiple changes for one key but no " +
              "_commit_version column to order them — carry the feed's " +
              "_commit_version (readChanges provides it) so the net " +
              "effect is defined")
        changes
      }
    val cached = reduced.cache()
    try {
      val byType = cached.groupBy("_change_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val nUps = byType.getOrElse("insert", 0L)
      val nDel = byType.getOrElse("delete", 0L)
      val unknown = byType.keySet -- Set("insert", "delete")
      require(unknown.isEmpty, s"unknown _change_type values: $unknown")
      val upserts = cached.filter(col("_change_type") === "insert")
        .drop("_change_type")
      if (nUps == 0L && nDel == 0L)
        return latestVersion(spark, root).getOrElse(-1L)
      // first batch onto a fresh target: plain initial load. A delete-
      // only batch against a table that does not exist yet is a no-op
      // (same as deletes matching nothing below) — NOT an empty v0
      // commit whose schema would be dictated by the feed.
      if (latestVersion(spark, root).isEmpty) {
        if (nUps == 0L) return -1L
        return append(spark, upserts, root, partitionCols, statsCols)
      }
      val deleteKeys = cached.filter(col("_change_type") === "delete")
        .select(keyCols.map(col): _*)
      mergeImpl(spark, upserts, Some(deleteKeys), root, keyCols,
        partitionCols, statsCols, "merge_cdc", noUpserts = nUps == 0L,
        // the netted feed composition — the numbers a replication
        // monitor wants per applied batch
        extraMetrics = Map("numFeedUpserts" -> nUps,
          "numFeedDeletes" -> nDel))
    } finally { cached.unpersist(); () }
  }

  /** Row-level DELETE: remove the rows matching `condition`, rewriting
    * ONLY the files that contain at least one match (same file-granular
    * strategy and cost model as [[merge]]: the probe is a pushdown-
    * friendly filter whose result is a metadata-sized FILE list; files
    * without matches are never rewritten). A file whose every row matches
    * is dropped without staging a replacement. Same write-skew rule as
    * merge: a commit landing between probe and claim fails the delete
    * rather than silently resurrecting or losing its rows.
    */
  def delete(spark: SparkSession, root: String,
             condition: org.apache.spark.sql.Column,
             statsCols: Seq[String] = Seq.empty): Long =
    rewriteMatching(spark, root, condition, "delete", statsCols,
      // coalesce: a NULL predicate row is NOT deleted (SQL DELETE
      // semantics) — a bare filter(!cond) would silently drop it from
      // the rewrite
      rewrite = (matched, cond) => matched.filter(
        org.apache.spark.sql.functions.coalesce(!cond,
          org.apache.spark.sql.functions.lit(true))))

  /** Row-level DELETE as a DELETION VECTOR: instead of rewriting every
    * file containing a match ([[delete]]), write a positional sidecar
    * (`_txlog/dv/…` parquet of `(file, row_index)` pairs) and commit a
    * data-less `delete_dv` version referencing it. Readers anti-join the
    * vector at scan time (see [[applyDv]]).
    *
    * This is the 100 TB path for sparse deletes — the GDPR/right-to-be-
    * forgotten shape where a handful of rows match in each of thousands
    * of 1 GB files: the rewrite path re-encodes O(matched FILES) bytes,
    * the vector path writes O(matched ROWS) positions. The trade is a
    * per-read anti-join against a deleted-rows-sized side (broadcast-
    * sized by construction); [[compact]] (OPTIMIZE) materializes vectors
    * back into clean files, restoring zero-overhead scans — same
    * lifecycle as Delta deletion vectors. Vectors are CUMULATIVE per
    * file: a second delete writes the union sidecar and repoints the
    * file, so a reader consults exactly one sidecar per file.
    *
    * Same SQL semantics as [[delete]] (a NULL predicate row is not
    * deleted), same stale-base conflict rule as every read-modify-write
    * commit. Time travel to a pre-delete version reads the old dv state
    * (none), so deleted rows stay visible there.
    */
  def deleteVectored(spark: SparkSession, root: String,
                     condition: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    deleteVectoredBy(spark, root,
      tv => tv.filter(coalesce(condition, lit(false))))
  }

  /** [[deleteVectored]] with the matches supplied as an ID FRAME instead
    * of a predicate — the mass-delete shape. `isInCollection` predicates
    * cap out at driver memory: a dedup-driven prune deleting 10% of a
    * 100 TB corpus is billions of ids, which no predicate literal can
    * hold and which the chunked-predicate fallback turns into hundreds
    * of commits (each paying a full table probe). Here the ids stay
    * DISTRIBUTED — one left-semi join of the DV-tagged visible scan
    * against `ids` (Spark broadcasts or shuffles it by size, and AQE
    * picks the strategy at runtime), one union sidecar, ONE commit.
    *
    * `ids` may carry duplicates (deduplicated by the semi-join by
    * construction); null ids match nothing (SQL join semantics).
    * `extraCondition` further restricts matches (e.g. the index
    * maintainers' `indexed_v` replay fence) — applied with the same
    * null-is-not-deleted rule as [[deleteVectored]].
    */
  def deleteVectoredIds(spark: SparkSession, root: String,
                        ids: DataFrame, idCol: String,
                        extraCondition: Option[org.apache.spark.sql.Column] =
                          None): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    require(ids.columns.length == 1,
      s"deleteVectoredIds expects a single-column id frame, got " +
        s"columns [${ids.columns.mkString(", ")}]")
    val probe = ids.toDF("__del_id")
    deleteVectoredBy(spark, root, { tv =>
      val fenced = extraCondition.fold(tv)(c =>
        tv.filter(coalesce(c, lit(false))))
      fenced.join(probe, fenced(idCol) === probe("__del_id"), "leftsemi")
    })
  }

  private def deleteVectoredBy(spark: SparkSession, root: String,
                               matcher: DataFrame => DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    val current = resolve(spark, root, None)
    if (current.live.isEmpty) return current.version
    // visible rows WITH their (file, pos) identity: the DV-filtered scan,
    // id columns kept — a row already deleted by a live vector cannot
    // rematch, so the new sidecar is (old rows) ∪ (disjoint new rows)
    val matched = matcher(taggedVisible(spark, root, current))
      .select(col("__dv_file").as("file"), col("__dv_pos").as("pos"))
      .cache()
    try commitVectored(spark, root, current, "delete_dv",
      partitionColsOf(spark, root, current), matched, None, Seq.empty,
      skipIfUnmatched = true,
      (rows, files, _) =>
        Map("numDeletedRows" -> rows, "numVectoredFiles" -> files))
    finally { matched.unpersist(); () }
  }

  /** Row-level UPDATE as merge-on-read: vector-delete the matched rows'
    * positions and APPEND their updated images in ONE commit — write
    * cost O(matched rows), not O(matched files) ([[update]]'s rewrite).
    * The complement of [[deleteVectored]], same trade: sparse frequent
    * updates against huge files pay a tiny write now and a broadcast
    * anti-join per read until OPTIMIZE materializes the vectors away.
    * Each `set` expression evaluates against the OLD row; constraints
    * are enforced on the staged updated rows (an UPDATE can SET a row
    * into violation); a `set` touching a partition column lands the
    * updated rows in their new directory. The change feed sees exactly
    * delete(old image) + insert(new image) at the committed version.
    */
  def updateVectored(spark: SparkSession, root: String,
                     condition: org.apache.spark.sql.Column,
                     set: Map[String, org.apache.spark.sql.Column],
                     statsCols: Seq[String] = Seq.empty): Long = {
    require(set.nonEmpty, "update needs at least one set column")
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val current = resolve(spark, root, None)
    if (current.live.isEmpty) return current.version
    val dataCols = StructType.fromDDL(current.schemaDdl).fieldNames.toSeq
    val badSet = set.keySet -- dataCols.toSet
    require(badSet.isEmpty, s"update sets unknown column(s): $badSet")
    val matched = taggedVisible(spark, root, current)
      .filter(coalesce(condition, lit(false)))
      .cache()
    try {
      // the matched rows' updated images — set expressions see the OLD
      // row (one projection, so swap-style sets like a->b, b->a work)
      val updated = matched.select(dataCols.map { c =>
        set.get(c) match {
          case Some(v) => v.as(c) // rows here all matched the condition
          case None    => col(c)
        }
      }: _*)
      commitVectored(spark, root, current, "update_dv",
        partitionColsOf(spark, root, current),
        matched.select(col("__dv_file").as("file"), col("__dv_pos").as("pos")),
        Some(updated), statsCols, skipIfUnmatched = true,
        (rows, files, added) => Map("numUpdatedRows" -> rows,
          "numAddedFiles" -> added, "numVectoredFiles" -> files))
    } finally { matched.unpersist(); () }
  }

  /** Row-level UPDATE: apply `set` (column -> new-value expression) to the
    * rows matching `condition`, rewriting only the files containing a
    * match — non-matching rows of those files are carried over verbatim.
    * A `set` touching a partition column moves its rows to the new
    * partition directory (the staged write re-partitions by value). Same
    * probe, cost model, and write-skew rule as [[delete]]/[[merge]].
    */
  def update(spark: SparkSession, root: String,
             condition: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column],
             statsCols: Seq[String] = Seq.empty): Long = {
    require(set.nonEmpty, "update needs at least one set column")
    import org.apache.spark.sql.functions.{col, when}
    rewriteMatching(spark, root, condition, "update", statsCols,
      // ONE projection so every set expression evaluates against the OLD
      // row (SQL UPDATE semantics): sequential withColumn would feed
      // later set expressions the already-updated values, with map order
      // deciding the result (swap sets like a->b, b->a would break)
      rewrite = (matched, cond) => matched.select(
        matched.columns.toIndexedSeq.map { c =>
          set.get(c) match {
            case Some(v) => when(cond, v).otherwise(col(c)).as(c)
            case None    => col(c)
          }
        }: _*))
  }

  /** True when the DML mode conf `key` (`spark.graft.delete.mode`,
    * `update.mode` or `merge.mode`) selects merge-on-read deletion
    * vectors, false for the default file rewrite. A typo'd value fails
    * loudly: it must not silently buy the full-rewrite cost the vector
    * mode exists to avoid.
    */
  private def vectorMode(spark: SparkSession, key: String): Boolean =
    spark.conf.getOption(key).getOrElse("rewrite") match {
      case "vector"  => true
      case "rewrite" => false
      case other => throw new IllegalArgumentException(
        s"unknown $key '$other' (rewrite|vector)")
    }

  /** SQL `DELETE FROM` on a commit-log table, for both SQL surfaces
    * ([[TxLogSql]], [[GraftDmlStrategy]]): [[deleteVectored]] under
    * `spark.graft.delete.mode=vector`, else the rewriting [[delete]].
    */
  private[graft] def sqlDelete(spark: SparkSession, root: String,
                               condition: org.apache.spark.sql.Column,
                               statsCols: Seq[String]): Long =
    if (vectorMode(spark, "spark.graft.delete.mode"))
      deleteVectored(spark, root, condition)
    else delete(spark, root, condition, statsCols)

  /** SQL `UPDATE` on a commit-log table, for both SQL surfaces:
    * [[updateVectored]] under `spark.graft.update.mode=vector`, else the
    * rewriting [[update]].
    */
  private[graft] def sqlUpdate(spark: SparkSession, root: String,
                               condition: org.apache.spark.sql.Column,
                               set: Map[String, org.apache.spark.sql.Column],
                               statsCols: Seq[String]): Long =
    if (vectorMode(spark, "spark.graft.update.mode"))
      updateVectored(spark, root, condition, set, statsCols)
    else update(spark, root, condition, set, statsCols)

  /** The table's partition columns as of `current`, robust to log states
    * a raw `history(...).last` is not: derived from the live files' own
    * partition directories (each segment is `name=value`), falling back
    * to the newest commit that declared partition columns. A rollback
    * commit carries partitionCols=Seq.empty and a checkpoint-truncated
    * log may have NO raw commits at all — naive last-commit inference
    * would stage a partitioned table's rewrite unpartitioned (mixed-depth
    * layout) or throw.
    */
  private def partitionColsOf(spark: SparkSession, root: String,
                              current: Snapshot): Seq[String] =
    current.live.headOption match {
      case Some(f) =>
        f.split('/').dropRight(1).toSeq
          .map(_.takeWhile(_ != '=')).filter(_.nonEmpty)
      case None =>
        history(spark, root).reverse
          .collectFirst { case c if c.partitionCols.nonEmpty => c.partitionCols }
          .getOrElse(Seq.empty)
    }

  /** Shared file-granular rewrite under a row predicate (DELETE/UPDATE):
    * probe for live files containing a match, transform exactly those
    * files' rows with `rewrite`, commit (remove matched, add staged) with
    * merge's stale-base detection.
    */
  private def rewriteMatching(spark: SparkSession, root: String,
                              condition: org.apache.spark.sql.Column,
                              operation: String, statsCols: Seq[String],
                              rewrite: (DataFrame, org.apache.spark.sql.Column) => DataFrame): Long = {
    val current = resolve(spark, root, None)
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum, when}
    // PHASE 1 — find the matched files AND their per-file matched-row
    // counts in ONE FILTERED scan: the predicate reaches the source as a
    // real filter, so partition-aligned conjuncts prune whole
    // directories and the rest pushes into parquet row-group skipping.
    // Untouched files cost their metadata; the counts ride the same
    // aggregation, so the predicate columns are decoded exactly once.
    val matchedCounts = liveMatchCounts(current, operation,
      taggedVisible(spark, root, current).filter(condition)
        .select(col("__dv_file").as("file")))
    val matchedFiles = matchedCounts.map(_._1)
    if (matchedFiles.isEmpty) return current.version // no row matches: no-op

    val parts = partitionColsOf(spark, root, current)
    val rowKey =
      if (operation == "delete") "numDeletedRows" else "numUpdatedRows"
    // PHASE 2 (DELETE only) — one VISIBLE-ROW counting pass over JUST
    // the matched files classifies each: FULLY matched (removed in the
    // commit with no rewrite — the Delta-style file-granular delete) or
    // straddling (survivors rewritten). No predicate evaluation here —
    // phase 1 already counted matches per file, so this pass decodes no
    // data columns (footer-cost row counts + the DV anti-join). The
    // scale consequence: "DELETE FROM t WHERE part = 'x'" and the
    // no-WHERE truncate write zero data bytes — their IO is bounded by
    // the matched bytes read once. UPDATE rewrites every matched file
    // (changed rows must be re-encoded), so it skips the pass and
    // counts on the rewrite job.
    val (fullFiles, rewriteFiles, deleteRows) =
      if (operation == "delete") {
        val mc = matchedCounts.toMap
        val vis = taggedVisible(spark, root, current,
            onlyFiles = Some(matchedFiles))
          .groupBy("__dv_file").agg(count(lit(1)).as("n_vis"))
          .collect()
          .map(r => decodeRel(r.getString(0)) -> r.getLong(1)).toMap
        // a file absent from the visible pass (cannot happen — it held a
        // visible match) would classify conservatively as straddling
        val full = matchedFiles.filter(f => vis.get(f).contains(mc(f)))
        (full, matchedFiles.filterNot(full.toSet),
          matchedCounts.iterator.map(_._2).sum)
      } else (Seq.empty[String], matchedFiles, 0L)

    // DV-aware read: rows a live deletion vector already removed must
    // not be resurrected by the rewrite. For UPDATE the matched-row
    // count rides the staged write's own job (no second scan), so both
    // DML modes record the same row-level metric keys; DELETE already
    // has its count from phase 1, so it skips the Observation and its
    // per-row predicate re-evaluation entirely.
    val obs = org.apache.spark.sql.Observation()
    val Staged(adds, ddl, stats, _, _) =
      if (rewriteFiles.isEmpty) nothingStaged(current)
      else {
        val src0 = readLiveFiles(spark, root, current.schemaDdl,
          rewriteFiles, current)
        val src =
          if (operation == "delete") src0
          else src0.observe(obs, sum(when(coalesce(condition, lit(false)),
            1L).otherwise(0L)).as("n_match"))
        stageBatch(spark, rewrite(src, condition), root, parts, statsCols,
          current.colMap, operation)
      }
    val matchedRows =
      if (operation == "delete") deleteRows
      else Option(obs.get.getOrElse("n_match", null))
        .collect { case n: Long => n }.getOrElse(0L)
    commitLoop(spark, root, operation, parts, { (commits, _) =>
      // rewrites read the full current schema, so the merge is a no-op
      // here — kept for uniformity with the other non-replacing commits
      (adds, matchedFiles,
        committedDdl(spark, commits, ddl, operation, root))
    }, stats,
      metrics = Map(rowKey -> matchedRows,
        "numRewrittenFiles" -> rewriteFiles.size.toLong,
        "numRemovedFiles" -> fullFiles.size.toLong,
        "numAddedFiles" -> adds.size.toLong),
      basedOn = Some(current.version))
  }

  /** New commit restoring the live set (and schema) of `toVersion` —
    * logical undo; every version including the rolled-back ones stays
    * readable via [[readAt]].
    */
  def rollback(spark: SparkSession, root: String, toVersion: Long): Long = {
    // commit the TARGET's partition columns, not Seq.empty — later
    // maintenance ops (delete/update/compact/cluster) may infer the
    // table's layout from the newest commit
    val target0 = resolve(spark, root, Some(toVersion))
    commitLoop(spark, root, "rollback",
      partitionColsOf(spark, root, target0), { (_, haveF) =>
      // target state via checkpoint-aware resolution (a raw replay would
      // miss pre-checkpoint state on a truncated log)
      val target = resolve(spark, root, Some(toVersion))
      val have = haveF()
      (target.live.diff(have), have.diff(target.live), target.schemaDdl)
    },
      // deletion-vector state must roll back WITH the live set: drop
      // every current vector on a file that stays live, then re-point
      // the target's vectors — rows vector-deleted after `toVersion`
      // reappear, rows deleted before it stay gone
      dv = target0.dvs.view.filterKeys(target0.live.toSet).toMap,
      dvDrop = target0.live,
      // drop-column tombstones are VERSION STATE like dvs: restoring a
      // post-drop version must restore its tombstones too, or a
      // rollback chain (past the drop and back again) would leave the
      // stale-bytes files live with no guard against re-evolving the
      // dropped name
      schemaDrop = target0.droppedCols.toSeq.sorted,
      // the column mapping rolls back with the schema it names
      renames = Some(target0.colMap))
  }

  /** CLONE: an independent table at `dstRoot` whose version 0 reproduces
    * `srcRoot`'s snapshot (latest, or `version` for a point-in-time
    * fork). The data files are copied byte-verbatim by a DISTRIBUTED job
    * — one task per file, each a Hadoop FS copy (a server-side copy on
    * object stores: no bytes through the cluster) — so no re-encode, no
    * shuffle, and the source's per-file min/max stats carry over without
    * recompute (files are identical). The clone's later life (appends,
    * merges, OPTIMIZE, vacuum) is fully independent of the source.
    *
    * Deliberately a DEEP clone: the log stores root-relative paths, which
    * keeps every table self-contained — a shallow clone (absolute-path
    * references into the source) would make the source's `vacuum` able
    * to break its clones, the cross-table lifetime coupling Delta
    * shallow clones are known for. The copy cost is O(live bytes) once;
    * the safety holds forever.
    */
  def cloneTable(spark: SparkSession, srcRoot: String, dstRoot: String,
                 version: Option[Long] = None): Long = {
    require(latestVersion(spark, dstRoot).isEmpty,
      s"clone target $dstRoot already has a commit log")
    val snap = resolve(spark, srcRoot, version)
    val parts = partitionColsOf(spark, srcRoot, snap)
    val liveDvs = snap.dvs.view.filterKeys(snap.live.toSet).toMap
    // deletion-vector sidecars ride along (they are directories — the
    // per-entry FileUtil.copy below is recursive), and the clone's v0
    // commit re-points the same root-relative refs
    val files = snap.live ++ liveDvs.values.map(_._1).toSeq.distinct
    if (files.nonEmpty) {
      val (src, dst) = (srcRoot, dstRoot) // stable locals for the closure
      // ship the SESSION's Hadoop config to the tasks as plain pairs
      // (Configuration is not serializable): a bare new Configuration()
      // in the task would drop every spark.hadoop.* setting — object
      // store credentials, endpoints, fs implementations
      val confPairs: Seq[(String, String)] = {
        val it = spark.sparkContext.hadoopConfiguration.iterator()
        val b = Seq.newBuilder[(String, String)]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
        b.result()
      }
      val slots = math.max(1,
        math.min(files.size, spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(files, slots).foreach { rel =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confPairs.foreach { case (k, v) => conf.set(k, v) }
        val from = new Path(s"$src/$rel")
        val to = new Path(s"$dst/$rel")
        val ffs = from.getFileSystem(conf)
        val tfs = to.getFileSystem(conf)
        tfs.mkdirs(to.getParent)
        if (!org.apache.hadoop.fs.FileUtil.copy(ffs, from, tfs, to,
          false, true, conf))
          throw new IOException(s"clone copy failed: $from -> $to")
      }
    }
    commitLoop(spark, dstRoot, "clone", parts, { (commits, _) =>
      // through tailVersion, not commits.nonEmpty: the tail is
      // checkpoint-bounded, so a mid-clone commit whose entry sits at a
      // freshly written checkpoint's version would hide from the raw
      // list — the resolve fallback sees ANY committed state
      if (tailVersion(spark, dstRoot, commits).isDefined)
        throw new java.util.ConcurrentModificationException(
          s"clone target $dstRoot gained a commit mid-clone")
      // add = DATA files only; sidecars are referenced via dv, not add
      (snap.live, Seq.empty, snap.schemaDdl)
    }, snap.stats.full.view.filterKeys(snap.live.toSet).toMap, dv = liveDvs,
      // drop-column tombstones ride along: the clone's files ARE the
      // source's pre-drop files, stale bytes included
      schemaDrop = snap.droppedCols.toSeq.sorted,
      // so does the column mapping — the copied files carry the
      // source's frozen physical names
      renames = Some(snap.colMap))
  }

  private def relDir(rel: String): String = rel.lastIndexOf('/') match {
    case -1 => ""
    case i  => rel.substring(0, i + 1)
  }

  /** Raw partition VALUE -> the directory-segment form Spark's
    * partitioned writer produced (Hive path escaping: ':', '%', '=' and
    * friends become %XX) — without this, a filter value containing any
    * escaped character (a timestamp's colons, say) could never match the
    * directory it names, in either the scope check or the removal set.
    */
  private def escapePartitionValue(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(v)

  // -------------------------------------------------------------------
  // Readers
  // -------------------------------------------------------------------

  /** The table as of `version` (time travel). A version the history
    * summary still lists but whose raw entries AND covering checkpoint
    * were vacuumed fails with the truncation-horizon error below — the
    * generic resolve refusal reads like corruption to a time-travel
    * caller who did nothing wrong.
    */
  def readAt(spark: SparkSession, root: String, version: Long): DataFrame =
    try snapshot(spark, root, resolve(spark, root, Some(version)))
    catch {
      case e: IllegalArgumentException =>
        // ONE listing for the horizon (guard + message), on the error
        // path only — and no guard/message disagreement under a racing
        // vacuum
        val floor = oldestReconstructable(spark, root)
        if (version >= floor) throw e
        throw new IllegalArgumentException(
          s"version $version of $root predates the earliest " +
            s"reconstructable snapshot (version $floor): its raw " +
            "entries and covering checkpoint were truncated from the " +
            "log — history summaries (DESCRIBE HISTORY, timestamp " +
            "resolution) survive truncation, snapshots do not", e)
    }

  /** The oldest version a snapshot read can still reconstruct: 0 while
    * the raw chain starts at the origin, else the oldest surviving
    * checkpoint (a checkpoint alone answers its own version; raw tails
    * above it answer later ones). Long.MaxValue when neither exists —
    * that table state already fails every read loudly.
    */
  private def oldestReconstructable(spark: SparkSession,
                                    root: String): Long = {
    val fs = fileSystem(spark, root)
    val dir = new Path(s"$root/$LogDirName")
    val names =
      try CommitStore.forPath(dir).list(fs, dir).map(_.getName)
      catch { case scala.util.control.NonFatal(_) => return Long.MaxValue }
    val hasOrigin = names.exists {
      case LogFile(v) => v.toLong == 0L
      case _          => false
    }
    if (hasOrigin) 0L
    else ckptsIn(names).keys.minOption.getOrElse(Long.MaxValue)
  }

  /** The latest committed snapshot. */
  def readLatest(spark: SparkSession, root: String): DataFrame =
    snapshot(spark, root, resolve(spark, root, None))

  /** The snapshot's LOGICAL schema without building a scan (no file
    * listing) — what `format("graft")` infers from, metadata-only.
    * Nullable like the scan it stands for: files predating an evolved
    * column read null for it regardless of the batch schema's flags.
    */
  def schemaOf(spark: SparkSession, root: String,
               version: Option[Long] = None): StructType = {
    // scalar-only resolve: on a big table the connector's analysis-time
    // schema/version questions must not materialize the live set
    val ddl = resolveMeta(spark, root, version)
      .fold(_.schemaDdl, _.schemaDdl)
    StructType(StructType.fromDDL(ddl).map(_.copy(nullable = true)))
  }

  /** Stats-only [[readPrunedScan]]: the surviving files' scan with NO
    * row filter. [[readRange]]/[[readRanges]] bake the range predicate
    * in; callers that re-apply their own exact filters (strict vs
    * non-strict bounds, one-sided comparisons — baking
    * `<= Double.MaxValue` in would even drop +Infinity values) use this.
    */
  def readStatsPruned(spark: SparkSession, root: String,
                      bounds: Seq[(String, Double, Double)],
                      version: Option[Long] = None): DataFrame =
    snapshot(spark, root, prunedSnapshot(spark, root, bounds, Nil, version))

  /** Test seam: (kept, total) of the most recent pruned read's stats
    * tier ([[readPrunedScan]] says when it is set) — file skipping
    * happens before the DataFrame exists, so a plan assertion can't
    * observe it from the outside.
    */
  @volatile private[graft] var lastStatsPrune: Option[(Int, Int)] = None

  /** Test seam: number of raw tail entries the most recent [[commitLoop]]
    * attempt parsed — pins the checkpoint-bounded write path (O(tail
    * since checkpoint), never O(log length)).
    */
  @volatile private[graft] var lastCommitTailLen: Int = -1

  /** Test seam: whether the most recent [[commitLoop]] attempt on a
    * DISTRIBUTED-tier table materialized the live set — pins that the
    * append family stays O(tail) driver (only overwrite/upsert/compact
    * deltas force it). Only meaningful when the tier was active.
    */
  @volatile private[graft] var lastCommitLiveForced: Boolean = false

  /** The version a point-in-time read resolves to: the HIGHEST version
    * whose commit timestamp is <= `tsMs` (the Delta `TIMESTAMP AS OF`
    * contract). The commit sequence is authoritative where wall clocks
    * disagree — a later version with a skewed-earlier timestamp is still
    * shadowed by any higher matching version. Fails when `tsMs` predates
    * the earliest AVAILABLE commit (on a checkpoint-truncated log that is
    * the truncation horizon, not necessarily version 0 — further history
    * is gone, so resolving into it would silently return a wrong
    * snapshot).
    */
  def versionAtTimestamp(spark: SparkSession, root: String,
                         tsMs: Long): Long = {
    // (version, ts) pairs from the checkpoint-carried summary + raw
    // tail — never the commits' file lists, never a full-log parse on a
    // checkpointed table
    val commits = summaryRows(spark, root).map(h => (h.version, h.tsMs))
    if (commits.isEmpty)
      throw new IllegalArgumentException(s"no commits at $root")
    val at = commits.filter(_._2 <= tsMs)
    if (at.isEmpty)
      throw new IllegalArgumentException(
        s"timestamp $tsMs predates the earliest available commit " +
          s"(version ${commits.head._1} at ${commits.head._2}) " +
          s"in $root")
    at.last._1
  }

  /** Timestamp-literal parser shared by every timestamp-bound surface
    * (SQL `TIMESTAMP AS OF` / `table_changes`, the streaming source's
    * `startingTimestamp`): epoch milliseconds, a UTC
    * `yyyy-MM-dd HH:mm:ss[.SSS]`, or an ISO-8601 instant. One parser so
    * the accepted formats can never drift between surfaces; None when
    * unparseable — each caller raises its own error naming its option.
    */
  def parseTimestampMs(ts: String): Option[Long] = {
    val t = ts.trim
    if (t.nonEmpty && t.forall(_.isDigit)) scala.util.Try(t.toLong).toOption
    else scala.util.Try(java.time.Instant.parse(t).toEpochMilli)
      .orElse(scala.util.Try(
        java.time.LocalDateTime.parse(t.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli))
      .toOption
  }

  /** Exclusive lower bound for at-or-after-`tsMs` change-feed semantics:
    * the HIGHEST version whose commit timestamp is strictly before the
    * instant (-1 when the instant predates the whole available log, so
    * the feed starts at its beginning). `filter`, not `takeWhile`:
    * commit timestamps are each writer's wall clock, so cross-host skew
    * can make them locally non-monotonic — the version sequence stays
    * authoritative, exactly like [[versionAtTimestamp]]'s upper bound.
    */
  def versionStrictlyBefore(spark: SparkSession, root: String,
                            tsMs: Long): Long =
    summaryRows(spark, root)
      .filter(_.tsMs < tsMs)
      .lastOption.map(_.version).getOrElse(-1L)

  /** Point-in-time time travel: the snapshot as of wall-clock `tsMs`
    * ([[versionAtTimestamp]] then [[readAt]]).
    */
  def readAtTimestamp(spark: SparkSession, root: String,
                      tsMs: Long): DataFrame =
    readAt(spark, root, versionAtTimestamp(spark, root, tsMs))

  /** Register a snapshot as a session temp view, so the full `spark.sql`
    * surface (and every tool speaking SQL) runs over the ACID table — the
    * engine-native analog of the reference querying Athena views over its
    * curated zone (purchase_orders.py:22-24), including time travel:
    * `createView(s, "t_v3", root, Some(3))`. The view captures the
    * snapshot's FILE LIST at creation; re-register to follow new commits.
    */
  def createView(spark: SparkSession, name: String, root: String,
                 version: Option[Long] = None): Unit =
    version.fold(readLatest(spark, root))(readAt(spark, root, _))
      .createOrReplaceTempView(name)

  /** Range read with DATA SKIPPING: the one-bound [[readRanges]] —
    * files whose committed [min, max] for `column` cannot intersect
    * [lo, hi] are dropped before any IO (the tier between partition
    * pruning and parquet row-group stats), then the range predicate is
    * applied on the survivors.
    */
  def readRange(spark: SparkSession, root: String, column: String,
                lo: Double, hi: Double,
                version: Option[Long] = None): DataFrame =
    readRanges(spark, root, Seq((column, lo, hi)), version)

  /** Conjunctive multi-column range read: [[readStatsPruned]] plus every
    * bound as a row filter. This is what makes Z-ordered tables
    * ([[clusterZ]]) pay off: after interleaving, a conjunction over the
    * clustered columns prunes multiplicatively, where single-column
    * skipping ([[readRange]]) prunes on one axis.
    */
  def readRanges(spark: SparkSession, root: String,
                 bounds: Seq[(String, Double, Double)],
                 version: Option[Long] = None): DataFrame = {
    require(bounds.nonEmpty, "readRanges needs at least one bound")
    import org.apache.spark.sql.functions.col
    bounds.foldLeft(readStatsPruned(spark, root, bounds, version)) {
      case (df, (c, lo, hi)) => df.filter(col(c) >= lo && col(c) <= hi)
    }
  }

  /** Exact MIN/MAX of `column` from commit metadata when every live file
    * carries stats for it — O(log) driver work, no data IO (the twin of
    * [[countRows]]); None when any live file lacks the stat (the caller
    * falls back to a scan aggregate). Values are the stats' double
    * space, exact for the numeric types stats record.
    */
  def minMaxFast(spark: SparkSession, root: String, column: String,
                 version: Option[Long] = None): Option[(Double, Double)] = {
    val snap = resolveMeta(spark, root, version) match {
      case Right(m)   => return minMaxFastMeta(spark, m, column)
      case Left(snap) => snap
    }
    if (snap.live.isEmpty) return None
    // a deletion vector may have removed exactly the row holding a
    // file's min or max, making the committed stats an over-approximation
    // — fine for PRUNING (superset), wrong as an ANSWER. But a bound a
    // VECTOR-FREE file dominates stays exact (the [[BoundParts]]
    // clean-dominates rule): only when the dirty side could hide the
    // extreme does the answer fall back to the scan, until OPTIMIZE
    // materializes the vectors away.
    val pc = physName(snap.colMap, column) // stats key by PHYSICAL name
    val cs = snap.stats.col(pc) // pruned: one stat column read
    val perFile = snap.live.map(f => cs.get(f).map((snap.dvs.contains(f), _)))
    if (perFile.exists(_.isEmpty)) None
    else {
      val parts = perFile.flatten
        .map { case (dv, b) => BoundParts.of(dv, b) }
        .reduce(_ merge _)
      for { lo <- parts.answer(takeMin = true)
            hi <- parts.answer(takeMin = false) } yield (lo, hi)
    }
  }

  // -------------------------------------------------------------------
  // Bloom-filter file index — point-lookup skipping
  // -------------------------------------------------------------------
  //
  // Min/max stats ([[readRange]]) prune nothing for a hash-distributed key
  // (UUIDs, order numbers written unsorted): every file's range spans the
  // whole key space. A per-file bloom filter answers the point-lookup
  // question those stats can't — "can this file contain THIS key?" — with
  // no false negatives, so skipping is always safe. This is the same tier
  // Delta's bloom index and Spark's own runtime row-group filters occupy,
  // and it reuses Spark's machinery end-to-end: the filters are built by
  // `BloomFilterAggregate` (the exact aggregate InjectRuntimeFilter plants
  // on join build sides) over `xxhash64(column)`, and probed with the
  // public `org.apache.spark.util.sketch.BloomFilter`, so build and probe
  // share one hash implementation by construction.
  //
  // The index is DERIVED state, like checkpoints: a sidecar parquet under
  // `_txlog/bloom_<column>/` mapping root-relative file -> serialized
  // filter, built distributed (one combine-style aggregation, bitset-sized
  // buffers) in one pass over the live files. Files added, rewritten, or
  // resurrected after the build simply have no row and are conservatively
  // scanned; rebuilding refreshes them. Dropping the directory drops the
  // index. At 100 TB the index is ~numBits/8 bytes per file (default
  // ~180 KB for 1M keys/file at 1% fpp) — metadata-sized next to the data,
  // and the build shuffles only (file, bitset) pairs, never rows.

  private def bloomDir(root: String, column: String): Path =
    new Path(s"$root/$LogDirName/bloom_$column")

  /** numBits for `n` expected distinct keys at false-positive rate `fpp`
    * (standard bloom sizing, rounded up to a whole word).
    */
  private def bloomNumBits(n: Long, fpp: Double): Long = {
    val bits = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    ((bits + 63) / 64) * 64
  }

  /** Sidecar rows per output part, bounded by FILTER size, not row
    * count: a low-fpp filter over a 1M-key file is multiple MB, and a
    * fixed 8k-rows-per-part rule packed GBs into one parquet part —
    * whose multi-MB BINARY cells then broke the vectorized reader's
    * contiguous-batch allocation on the probe side.
    */
  private def bloomRowsPerPart(numBits: Long): Int =
    math.max(8L, (64L << 20) / math.max(1L, numBits / 8)).toInt

  /** Run `body` with the parquet columnar batch clamped small: the
    * sidecar's `bloom` column is a multi-KB-to-MB BINARY per row, so
    * the default 4096-row batch can demand GBs of contiguous buffer.
    * Session-conf scoped (restores after); the wrapped reads collect
    * within the scope. Costs nothing measurable on metadata-sized
    * sidecar scans; other threads' queries during the window pay at
    * most a smaller batch, never wrong results.
    */
  private def withBloomReadBatch[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.parquet.columnarReaderBatchSize"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "8")
    try body
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Build (or rebuild) the bloom file index for `column` over the CURRENT
    * live snapshot. `expectedKeysPerFile` sizes each filter (overcounting
    * only wastes bytes; undercounting raises the false-positive rate, cost
    * = extra scanned files, never wrong rows). Returns indexed file count.
    */
  def buildBloomIndex(spark: SparkSession, root: String, column: String,
                      expectedKeysPerFile: Long = 1000000L,
                      fpp: Double = 0.01): Long = {
    import org.apache.spark.sql.functions.{col, input_file_name, xxhash64}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val snap = resolve(spark, root, None)
    val snapSchema = StructType.fromDDL(snap.schemaDdl)
    // case-INSENSITIVE lookup, canonicalized to the schema's spelling
    // (like dropColumns): every other column path in this feature set
    // matches case-insensitively, and a case-variant spelling must not
    // fail — or, worse, ever key a sidecar dir under the wrong casing
    val field = snapSchema.find(_.name.equalsIgnoreCase(column))
      .getOrElse(throw new IllegalArgumentException(
        s"no column $column in $root"))
    val canonical = field.name
    val builtType = field.dataType
    if (snap.live.isEmpty) return 0L
    val numBits = bloomNumBits(expectedKeysPerFile, fpp)
    // the scan sees PHYSICAL names on a mapped table; the sidecar dir
    // stays keyed by the LOGICAL canonical name (what probes use)
    val agg = new BloomFilterAggregate(
      org.apache.spark.sql.graftnative.toExpression(
        xxhash64(col(physName(snap.colMap, canonical)))),
      Literal(expectedKeysPerFile), Literal(numBits))
    // the RAW tagged scan, deliberately NOT DV-filtered: a rollback can
    // resurrect vector-deleted rows while the file keeps its index row
    // (it was neither added nor rewritten), so a filter built without
    // them would then return FALSE NEGATIVES — silently missing rows in
    // readEquals and duplicate keys through the merge probe. Deleted
    // rows' bits cost only false positives (an extra scanned file).
    // _metadata (not input_file_name) because the probe column must be
    // materialized directly on the scan relation.
    val rows = spark.read
      .option("basePath", root)
      .schema(physSchema(snapSchema, snap.colMap))
      .parquet(snap.live.map(f => s"$root/$f"): _*)
      .withColumn("__dv_file", relPathExpr(spark, root))
      .groupBy(col("__dv_file").as("__f"))
      .agg(org.apache.spark.sql.graftnative.toColumn(
        agg.toAggregateExpression()).as("bloom"))
    val liveSet = snap.live.toSet
    import spark.implicits._
    // The bitsets never visit the driver: path normalization + live-set
    // membership run executor-side and the (file, bitset) rows stream
    // straight to the sidecar parquet. At ~1M files x ~180 KB/filter the
    // old collect-then-write was GBs of driver heap; this is zero.
    val out = rows.select(col("__f"), col("bloom"))
      .as[(String, Array[Byte])]
      .flatMap { case (f, bloom) =>
        Option(bloom).flatMap(b =>
          Some(decodeRel(f)).filter(liveSet.contains).map(_ -> b))
      }
      .toDF("file", "bloom")
      // bound output files without a single-task bottleneck, parts
      // sized by FILTER bytes (see bloomRowsPerPart) — coalesce, not
      // repartition: the rows just left an aggregation exchange, so the
      // sizing needs no second shuffle
      .coalesce(math.max(1,
        math.ceil(snap.live.size.toDouble / bloomRowsPerPart(numBits))
          .toInt))
    out.write.mode(SaveMode.Overwrite)
      .parquet(bloomDir(root, canonical).toString)
    fenceBloomType(spark, root, canonical, builtType)
    // metadata-only count of what was just written (footer row counts)
    spark.read.schema(BloomSidecarSchema)
      .parquet(bloomDir(root, canonical).toString).count()
  }

  /** Post-write fence for the index-build-vs-type-widening race: the
    * sidecar rows just written were hashed under `builtType`; if a
    * concurrent widen commit landed meanwhile they are poison (hashes of
    * the wrong type answer definitive wrong "no"s to point lookups) —
    * delete the sidecar and fail. Combined with commitLoop's post-claim
    * re-drop this closes the race in both orders: an index write landing
    * BEFORE that re-drop is deleted by it; one landing AFTER observes
    * the widened schema here and self-cleans.
    */
  private def fenceBloomType(spark: SparkSession, root: String,
                             column: String,
                             builtType: org.apache.spark.sql.types.DataType)
      : Unit = {
    val nowType = StructType.fromDDL(resolve(spark, root, None).schemaDdl)
      .find(_.name.equalsIgnoreCase(column)).map(_.dataType)
    if (!nowType.contains(builtType)) {
      val fs = fileSystem(spark, root)
      val dir = bloomDir(root, column)
      // the Boolean matters: claiming "discarded" while the poison
      // sidecar survives would leave silent false negatives in place
      if (fs.exists(dir) && !fs.delete(dir, true) && fs.exists(dir))
        throw new IOException(
          s"column $column of $root changed type while its bloom index " +
            "was building AND the poison sidecar could not be deleted — " +
            s"drop it manually ($dir) before any point lookup on $column")
      throw new java.util.ConcurrentModificationException(
        s"column $column of $root changed type " +
          s"(${builtType.simpleString} -> " +
          s"${nowType.map(_.simpleString).getOrElse("<dropped>")}) while " +
          "its bloom index was building — the just-written index was " +
          "discarded; re-run the build against the new schema")
    }
  }

  /** INCREMENTAL bloom-index maintenance: index only the live files the
    * sidecar does not cover yet, and APPEND their rows. Correct by
    * construction because data files are immutable by name — a staged
    * file's contents never change under its name (rewrites stage NEW
    * names), so an existing index row can never go stale. Rows for dead
    * files are left in place (they cost probe work, never correctness:
    * [[bloomKeepFiles]] intersects with the live set) — a periodic
    * [[buildBloomIndex]] is the compaction that drops them.
    *
    * This is the 100 TB maintenance shape: the full rebuild re-hashes
    * O(table) bytes per cycle, the refresh O(bytes added since the last
    * one) — the same incremental contract as ANALYZE's stats retrofit.
    * No sidecar yet = full build. Returns the number of NEWLY indexed
    * files (0 = the index already covers the snapshot).
    */
  def refreshBloomIndex(spark: SparkSession, root: String, column: String,
                        expectedKeysPerFile: Long = 1000000L,
                        fpp: Double = 0.01): Long = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val snap = resolve(spark, root, None)
    val snapSchema = StructType.fromDDL(snap.schemaDdl)
    // same case-insensitive canonicalization as buildBloomIndex: the
    // sidecar dir and the hashed column must both use the schema spelling
    val field = snapSchema.find(_.name.equalsIgnoreCase(column))
      .getOrElse(throw new IllegalArgumentException(
        s"no column $column in $root"))
    val canonical = field.name
    val builtType = field.dataType
    val dir = bloomDir(root, canonical)
    if (!fileSystem(spark, root).exists(dir))
      return buildBloomIndex(spark, root, canonical, expectedKeysPerFile, fpp)
    // metadata-sized collect: just the indexed NAMES (never a bitset)
    val indexed = spark.read.schema(BloomSidecarSchema).parquet(dir.toString)
      .select("file").collect().map(_.getString(0)).toSet
    val missing = snap.live.filterNot(indexed.contains)
    if (missing.isEmpty) return 0L
    val numBits = bloomNumBits(expectedKeysPerFile, fpp)
    val agg = new BloomFilterAggregate(
      org.apache.spark.sql.graftnative.toExpression(
        xxhash64(col(physName(snap.colMap, canonical)))),
      Literal(expectedKeysPerFile), Literal(numBits))
    // same raw (NOT DV-filtered) scan rule as the full build — see the
    // false-negative note there — but over ONLY the missing files
    val rows = spark.read
      .option("basePath", root)
      .schema(physSchema(snapSchema, snap.colMap))
      .parquet(missing.map(f => s"$root/$f"): _*)
      .withColumn("__dv_file", relPathExpr(spark, root))
      .groupBy(col("__dv_file").as("__f"))
      .agg(org.apache.spark.sql.graftnative.toColumn(
        agg.toAggregateExpression()).as("bloom"))
    val missingSet = missing.toSet
    import spark.implicits._
    val out = rows.select(col("__f"), col("bloom"))
      .as[(String, Array[Byte])]
      .flatMap { case (f, bloom) =>
        Option(bloom).flatMap(b =>
          Some(decodeRel(f)).filter(missingSet.contains).map(_ -> b))
      }
      .toDF("file", "bloom")
      .coalesce(math.max(1,
        math.ceil(missing.size.toDouble / bloomRowsPerPart(numBits))
          .toInt))
    // APPEND, never overwrite: the existing rows stay valid forever
    // (file immutability), and append avoids the read-while-truncating
    // hazard an in-place overwrite of the sidecar would have
    out.write.mode(SaveMode.Append).parquet(dir.toString)
    fenceBloomType(spark, root, canonical, builtType)
    missing.size.toLong
  }

  /** [[refreshBloomIndex]] as BEST-EFFORT maintenance — what automated
    * callers (the persisted-index operators, post-commit hooks) use.
    * The sidecar is DERIVED state deliberately outside the commit
    * protocol, so two writers refreshing the SAME sidecar concurrently
    * can collide in the parquet output committer (shared `_temporary`
    * dir) — the loser's rows go missing and those files are
    * conservatively scanned; duplicated rows are harmless (the probe
    * set-unions per file). A failed refresh must never fail the commit
    * or batch that triggered it: returns -1 instead of throwing.
    */
  def refreshBloomIndexBestEffort(spark: SparkSession, root: String,
                                  column: String,
                                  expectedKeysPerFile: Long = 1000000L,
                                  fpp: Double = 0.01): Long =
    try refreshBloomIndex(spark, root, column, expectedKeysPerFile, fpp)
    catch { case scala.util.control.NonFatal(_) => -1L }

  /** Drop `column`'s bloom index (the sidecar directory). The index is
    * DERIVED state — dropping it costs only point-lookup pruning, never
    * correctness. Returns whether an index existed. No schema check:
    * the index of a since-evolved-away column must stay droppable.
    */
  def dropBloomIndex(spark: SparkSession, root: String,
                     column: String): Boolean = {
    val dir = bloomDir(root, column)
    val fs = fileSystem(spark, root)
    fs.exists(dir) && fs.delete(dir, true)
  }

  /** Drop EVERY bloom index whose column name case-insensitively matches
    * `column`, failing LOUDLY if one exists and cannot be deleted — the
    * strict form the widening path needs: a stale narrow-typed index
    * surviving a type change answers definitive wrong "no"s to point
    * lookups, so the caller must not proceed past a failed drop.
    */
  private def mustDropBloomIndexes(spark: SparkSession, root: String,
                                   column: String): Unit =
    bloomIndexColumns(spark, root)
      .filter(_.equalsIgnoreCase(column)).foreach { c =>
        val dir = bloomDir(root, c)
        val fs = fileSystem(spark, root)
        // re-check existence after a failed delete: Hadoop delete
        // returns false for an already-gone path, so a concurrent drop
        // of the same index (two racing widens) must count as success,
        // not fail this writer spuriously
        if (fs.exists(dir) && !fs.delete(dir, true) && fs.exists(dir))
          throw new IOException(
            s"cannot drop bloom index of widened column $c at $root — " +
              "refusing to commit a type change over a stale index " +
              "(its hashes would prune files that hold the key)")
      }

  /** (raw log entries, checkpoints) at `root` — DESCRIBE DETAIL's
    * log-health columns, the "time to VACUUM ... LOG?" signal: entry
    * count far above the checkpoint cadence means every reader is paying
    * an oversized listing for state the checkpoints already summarize.
    */
  def logCounts(spark: SparkSession, root: String): (Long, Long) = {
    val dir = new Path(s"$root/$LogDirName")
    val fs = fileSystem(spark, root)
    if (!fs.exists(dir)) return (0L, 0L)
    val names = CommitStore.forPath(dir).list(fs, dir).map(_.getName)
    (names.count(LogFile.matches).toLong, ckptsIn(names).size.toLong)
  }

  /** Columns with a live bloom index at `root` (sidecar directories
    * under `_txlog/bloom_<column>/`) — DESCRIBE DETAIL's index listing.
    */
  def bloomIndexColumns(spark: SparkSession, root: String): Seq[String] = {
    val logDir = new Path(s"$root/$LogDirName")
    val fs = fileSystem(spark, root)
    if (!fs.exists(logDir)) return Seq.empty
    fs.listStatus(logDir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bloom_"))
      .map(_.getPath.getName.stripPrefix("bloom_")).sorted
  }

  /** The files of `snap` that might hold ANY probe hash, per the
    * column's bloom index (callers check the sidecar exists). Bitsets
    * test inside executors; only REJECTED names reach the driver, and
    * files without an index row are kept. A read racing a (re)build of
    * this DERIVED state degrades to NO pruning, never a failed query.
    */
  private def bloomKeepFiles(spark: SparkSession, root: String,
                             column: String, probeHashes: Seq[Long],
                             snap: Snapshot): Seq[String] = {
    import spark.implicits._
    val hashes = probeHashes.toArray
    try withBloomReadBatch(spark) {
      val rejected = spark.read.schema(BloomSidecarSchema)
        .parquet(bloomDir(root, column).toString)
        .select(org.apache.spark.sql.functions.col("file"),
          org.apache.spark.sql.functions.col("bloom"))
        .as[(String, Array[Byte])]
        .flatMap { case (f, bytes) =>
          if (bytes == null) None
          else {
            val bloom = org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
            if (hashes.exists(bloom.mightContainLong)) None else Some(f)
          }
        }
        .collect().toSet
      snap.live.filterNot(rejected.contains)
    } catch { case scala.util.control.NonFatal(_) => snap.live }
  }

  /** `xxhash64` of each probe value AS THE COLUMN'S TYPE, bit-identical
    * to what [[buildBloomIndex]] aggregated: typed literals cast to the
    * column type under the session zone and eval mode (a string
    * round-trip would turn a byte array into `[B@…` and shift a
    * timestamp by the JVM zone), evaluated directly on the driver — no
    * plan, no Spark job. A dedup probe carries thousands of values; as
    * one projection per value the plan alone took about a second.
    */
  private def probeHashes(spark: SparkSession,
                          dt: org.apache.spark.sql.types.DataType,
                          values: Seq[Any]): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal, XxHash64}
    val conf = spark.sessionState.conf
    val tz = Some(conf.sessionLocalTimeZone)
    val mode = EvalMode.fromSQLConf(conf)
    values.map(v =>
      new XxHash64(Seq(Cast(Literal(v), dt, tz, mode))).eval()
        .asInstanceOf[Long])
  }

  /** The bloom tier's probe for one pushed equality, shared by both
    * pruning tiers: the column's canonical spelling (the sidecar dir is
    * keyed by it, not by the filter's casing) and the non-null probe
    * values' hashes — None when the conjunct cannot prune (null-only
    * values, an unknown or complex-typed column, no sidecar).
    */
  private def bloomProbe(spark: SparkSession, root: String,
                         schema: StructType, column: String,
                         values0: Seq[Any]): Option[(String, Seq[Long])] = {
    import org.apache.spark.sql.types.{ArrayType, MapType}
    val values = values0.filter(_ != null)
    schema.find(_.name.equalsIgnoreCase(column))
      .filter(f => values.nonEmpty &&
        !f.dataType.isInstanceOf[StructType] &&
        !f.dataType.isInstanceOf[ArrayType] &&
        !f.dataType.isInstanceOf[MapType] &&
        fileSystem(spark, root).exists(bloomDir(root, f.name)))
      .map(f => (f.name, probeHashes(spark, f.dataType, values)))
  }

  /** Point lookup with bloom-filter file skipping: the equality-only
    * [[readPrunedScan]] plus the exact IN-filter. Without an index this
    * is exactly `readLatest.filter(isin)`.
    */
  def readEquals(spark: SparkSession, root: String, column: String,
                 values: Seq[Any],
                 version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(values.nonEmpty, "readEquals needs at least one probe value")
    val snap = prunedSnapshot(spark, root, Nil, Seq(column -> values), version)
    if (!StructType.fromDDL(snap.schemaDdl).exists(_.name == column))
      throw new IllegalArgumentException(s"no column $column")
    snapshot(spark, root, snap).filter(col(column).isin(values: _*))
  }

  /** Count of files a [[readEquals]] for `values` would scan — exposed so
    * tests and tooling can assert the skipping actually happens.
    */
  def bloomScanFileCount(spark: SparkSession, root: String, column: String,
                         values: Seq[Any],
                         version: Option[Long] = None): Int =
    prunedSnapshot(spark, root, Nil, Seq(column -> values), version).live.size

  /** THE pruned read ([[graft.lake.GraftTableProvider]]'s scan): one
    * snapshot resolution feeding both file-skipping tiers, composed as
    * necessary conditions, with NO row filter — the caller re-applies
    * its exact predicates, so widened bounds and bloom false positives
    * only cost scanned files, never rows. [[readStatsPruned]],
    * [[readRange]], [[readRanges]], [[readEquals]],
    * [[bloomScanFileCount]], [[plannedScanSizes]] and the merge probe
    * are this file selection plus their own filter or measure.
    *
    *  - Stats tier: one [[Skip]] per column over committed min/max —
    *    each bound a range, each equality/IN a point set when
    *    [[pointSkip]] admits it.
    *  - Bloom tier: only on the stats survivors, and only when two or
    *    more survive (its job reads the whole sidecar to save at most
    *    the one file the scan would open anyway). Each equality/IN on a
    *    bloom-indexed column drops the files whose filter rejects every
    *    non-null probe; files without an index row are kept. Each tier
    *    only REMOVES files, so they compose in any order and subset.
    *  - Where: a table whose checkpoint records more live files than
    *    `spark.graft.meta.distributedThreshold` prunes distributed over
    *    the checkpoint rows ([[prunedSnapMeta]]) and collects only the
    *    survivors; any other prunes its live set on the driver.
    *  - Seams: [[lastStatsPrune]] = (stats survivors, live) whenever the
    *    stats tier ran (a bound, a point set, or no equality at all);
    *    [[lastBloomPrune]] = (kept, stats survivors) whenever there are
    *    equalities, with kept = survivors when the bloom is skipped.
    */
  def readPrunedScan(spark: SparkSession, root: String,
                     bounds: Seq[(String, Double, Double)],
                     equalities: Seq[(String, Seq[Any])],
                     version: Option[Long] = None): DataFrame =
    snapshot(spark, root,
      prunedSnapshot(spark, root, bounds, equalities, version))

  /** Planned post-pruning scan bytes of a [[readPrunedScan]] — what the
    * scan budget charges a commit-log table scan
    * ([[graft.plans.ScanBudget]]): the surviving files' committed sizes,
    * no data touched. (Sizes fall back to one listing per live
    * directory on pre-size-stat tables.)
    */
  def plannedScanSizes(spark: SparkSession, root: String,
                       bounds: Seq[(String, Double, Double)],
                       equalities: Seq[(String, Seq[Any])],
                       version: Option[Long] = None): Long =
    liveSizesOf(spark, root,
      prunedSnapshot(spark, root, bounds, equalities, version))
      .map(_._2).sum

  /** The files a [[readPrunedScan]] opens — the one place that chooses
    * them, on whichever tier the resolve lands.
    */
  private def prunedSnapshot(spark: SparkSession, root: String,
                             bounds: Seq[(String, Double, Double)],
                             equalities: Seq[(String, Seq[Any])],
                             version: Option[Long]): Snapshot =
    resolveMeta(spark, root, version) match {
      case Right(m) => prunedSnapMeta(spark, root, m, bounds, equalities)
      case Left(s) => prunedLive(spark, root, s, bounds, equalities)
    }

  /** A pruned read's [[Skip]]s, keyed by PHYSICAL stat key. */
  private def skipsOf(schema: StructType, colMap: Map[String, String],
                      bounds: Seq[(String, Double, Double)],
                      equalities: Seq[(String, Seq[Any])]): Seq[(String, Skip)] =
    (bounds.map { case (c, lo, hi) => (c, RangeSkip(lo, hi)) } ++
      equalities.flatMap { case (c, vs) => pointSkip(schema, c, vs) })
      .map { case (c, skip) => (physName(colMap, c), skip) }

  /** Record the tier seams ([[readPrunedScan]] says when each is set). */
  private def notePrune(statsRan: Boolean, hasEqualities: Boolean,
                        kept: Int, survivors: Int, total: Int): Unit = {
    if (statsRan) lastStatsPrune = Some((survivors, total))
    if (hasEqualities) lastBloomPrune = Some((kept, survivors))
  }

  /** [[prunedSnapshot]]'s driver tier, on a resolved snapshot. */
  private def prunedLive(spark: SparkSession, root: String, snap: Snapshot,
                         bounds: Seq[(String, Double, Double)],
                         equalities: Seq[(String, Seq[Any])]): Snapshot = {
    val schema = StructType.fromDDL(snap.schemaDdl)
    val skips = skipsOf(schema, snap.colMap, bounds, equalities)
    val cols = skips.map { case (pc, skip) => (snap.stats.col(pc), skip) }
    val survivors = snap.live.filter(f =>
      cols.forall { case (cs, skip) => skip.keep(cs.get(f)) })
    val kept =
      if (survivors.size <= 1) survivors
      else equalities.foldLeft(survivors) { case (live, (c, values)) =>
        bloomProbe(spark, root, schema, c, values).fold(live) {
          case (name, hashes) =>
            bloomKeepFiles(spark, root, name, hashes, snap.copy(live = live))
        }
      }
    notePrune(skips.nonEmpty || equalities.isEmpty, equalities.nonEmpty,
      kept.size, survivors.size, snap.live.size)
    snap.copy(live = kept)
  }

  /** Test seam, mirror of [[lastStatsPrune]]: (kept, statsSurvivors) of
    * the most recent [[readPrunedScan]] bloom tier.
    */
  @volatile private[graft] var lastBloomPrune: Option[(Int, Int)] = None

  /** Change feed: every row ADDED or REMOVED by each commit in
    * (`fromVersion`, `toVersion`], tagged `_change_type`
    * ('insert' | 'delete') and `_commit_version`. A file rewrite (merge,
    * upsert) reports the old file's rows as deletes and the rewritten
    * rows as inserts — the standard granularity for change feeds without
    * per-row identity tracking. This is the incremental-consumption path
    * the reference's `{t}_incremental` staging twin implies
    * (`utils.py:111-114`): a downstream job reads only the delta since
    * its last processed version, never rescanning the table.
    *
    * Scale: a union of per-commit file-list scans — no shuffle, no join;
    * cost is proportional to the CHANGED bytes, not table size. All rows
    * resolve under the range's newest schema (older files read missing
    * columns as null, same rule as snapshots). The range's data files
    * must still exist: `vacuum`/`cleanOrphans` bound how far back a feed
    * can start, and the error names the first missing file rather than
    * failing downstream mid-scan.
    *
    * Row-preserving relayouts ([[FeedSkipOps]]: compact/OPTIMIZE and
    * cluster/ZORDER) emit NOTHING — Delta CDF's dataChange=false rule.
    * Without the skip, a nightly compact would re-emit the whole table
    * as delete+insert to every incremental consumer: streams would
    * reprocess 100 TB, and the index maintainers would re-deliver every
    * already-delivered dedup pair and count the rewrite as churn. Their
    * file lists are also excluded from the vacuum guard (the skipped
    * files are never read, so reclaiming them must not block the feed).
    */
  /** Whether the change feed over (`fromVersion`, `toVersion`] CAN emit
    * any 'delete' row — decided from commit METADATA alone (a delete
    * needs a removed file or a deletion-vector growth on a live file in
    * some emitting commit; relayouts emit nothing). The incremental
    * index maintainers gate their delete machinery on this: an
    * insert-only batch — the common case — then skips evaluating the
    * feed's (empty) delete projection, a driver-collected shuffle job
    * per step it would otherwise pay just to learn "nothing to do".
    * Conservative by construction: true never lies false.
    */
  def changesMayDelete(spark: SparkSession, root: String,
                       fromVersion: Long,
                       toVersion: Option[Long] = None): Boolean =
    history(spark, root, afterVersion = fromVersion)
      .filter(c => toVersion.forall(c.version <= _))
      .exists(c => !FeedSkipOps(c.operation) &&
        (c.remove.nonEmpty || (c.dv.keySet -- c.add.toSet).nonEmpty))

  /** Metadata twin of [[changesMayDelete]]: can the feed over
    * (fromVersion, toVersion] emit any INSERT row? The feed emits inserts
    * only from a commit's added files or from a deletion-vector drop
    * resurrecting rows (rollback — see [[readChanges]]'s dvDrop handling),
    * so this decides from commit metadata alone. Conservative the same
    * way: true never lies false. Index maintainers use it to skip the
    * whole shingle/encode path on a deletes-only batch.
    */
  def changesMayInsert(spark: SparkSession, root: String,
                       fromVersion: Long,
                       toVersion: Option[Long] = None): Boolean =
    history(spark, root, afterVersion = fromVersion)
      .filter(c => toVersion.forall(c.version <= _))
      .exists(c => !FeedSkipOps(c.operation) &&
        (c.add.nonEmpty || c.dvDrop.nonEmpty))

  def readChanges(spark: SparkSession, root: String, fromVersion: Long,
                  toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val commits = history(spark, root, afterVersion = fromVersion)
      .filter(c => toVersion.forall(c.version <= _))
    require(commits.nonEmpty, s"no commits after version $fromVersion in $root")
    val schema = StructType.fromDDL(commits.last.schemaDdl)
    val fs = fileSystem(spark, root)
    def readRel(files: Seq[String], cm: Map[String, String]) =
      toLogicalCols(
        spark.read.option("basePath", root).schema(physSchema(schema, cm))
          .parquet(files.map(f => s"$root/$f"): _*), schema, cm)
    // deletion-vector state folds FORWARD through the range so each
    // commit's delta is computed against the state it actually changed:
    // a removed file's rows emit as deletes MINUS what its vector had
    // already deleted, a delete_dv commit emits exactly the rows its
    // sidecar added over the file's previous vector, and a dv-state
    // SHRINK (rollback) emits the resurrected rows as inserts.
    // Seeding must be exact: an unresolvable fromVersion (below a
    // checkpoint-truncation horizon) silently treated as "no vectors"
    // would re-emit already-consumed deletes — fail loudly instead,
    // unless the table provably never had a vector.
    val fromSnap = scala.util.Try(resolve(spark, root, Some(fromVersion)))
      .toOption
    var dvState = fromSnap.map(_.dvs).getOrElse {
        val anyDvEver = commits.exists(c => c.dv.nonEmpty || c.dvDrop.nonEmpty) ||
          scala.util.Try(resolve(spark, root, None)).toOption
            .exists(_.dvs.nonEmpty)
        if (fromVersion >= 0 && anyDvEver)
          throw new IllegalArgumentException(
            s"change feed from $fromVersion cannot reconstruct deletion-" +
              s"vector state below the checkpoint-truncation horizon of " +
              s"$root — start the feed at a resolvable version")
        Map.empty[String, DvRef]
      }
    // Every read translates the range-end schema through the RANGE-END
    // column mapping: physical names are frozen per column LINEAGE
    // ([[renameColumn]]), so the end mapping maps each end-logical name
    // to the same physical name every in-range file of that lineage
    // carries — including files written before the rename. (Only an
    // in-range OVERWRITE breaks a lineage; its retired files then read
    // by plain name under the newest schema, the same by-name
    // degradation any cross-overwrite feed already has for dropped or
    // re-typed columns.)
    val endColMap = resolve(spark, root, Some(commits.last.version)).colMap
    // relayout commits are skipped below and none of their files read —
    // guard and scan only what the emitting commits touch
    val emitting = commits.filterNot(c => FeedSkipOps(c.operation))
    // vacuum guard BEFORE any scan: in-range files + in-range sidecars +
    // the pre-range sidecars the remove/shrink paths below will read
    val preRangeSidecars = {
      // the GROW delta path also reads the pre-range sidecar for files
      // whose vector grows in-range (c.dv minus same-commit adds)
      val touched = emitting.flatMap(c =>
        c.remove ++ c.dvDrop ++ (c.dv.keySet -- c.add.toSet)).toSet
      dvState.view.filterKeys(touched).valuesIterator.map(_._1).toSeq
    }
    // c.dv.keys / c.dvDrop: the DATA files whose rows the grow/shrink
    // paths read — a file ADDED by a skipped relayout is not in any
    // emitting commit's add list, but an emitting delete_dv on it still
    // scans it, so it must be existence-checked here too
    val missing = (emitting.flatMap(c =>
        c.add ++ c.remove ++ c.dv.keys ++ c.dvDrop ++
          c.dv.valuesIterator.map(_._1)) ++ preRangeSidecars)
      .distinct.filterNot(f => fs.exists(new Path(s"$root/$f")))
    require(missing.isEmpty,
      s"change feed from $fromVersion needs vacuumed file(s): ${missing.head}")
    val parts = commits.flatMap { c =>
      if (FeedSkipOps(c.operation)) {
        // row-preserving relayout: every surviving row carried into the
        // new files unchanged (compact's DV materialization drops only
        // rows whose deletes the delete_dv commit already emitted) —
        // fold the dv state forward, emit nothing
        dvState = dvState -- c.remove -- c.dvDrop ++ c.dv
        Seq.empty
      } else {
      val insertPart =
        if (c.add.isEmpty) Seq.empty
        else Seq(
          // a re-added file can carry a vector in the SAME commit
          // (rollback past a compaction): only its VISIBLE rows were
          // inserted at this version
          applyDv(spark, root, readRel(c.add, endColMap),
            c.dv.view.filterKeys(c.add.toSet).toMap)
          .withColumn("_change_type", lit("insert")))
      val removePart =
        if (c.remove.isEmpty) Seq.empty
        else Seq(applyDv(spark, root, readRel(c.remove, endColMap),
            dvState.view.filterKeys(c.remove.toSet).toMap)
          .withColumn("_change_type", lit("delete")))
      // vector GROWTH on already-live files -> deletes (rows in the new
      // sidecar beyond the file's previous vector). Files added in this
      // very commit are excluded: their state is fully expressed by the
      // DV-filtered insert above.
      val dvGrowFiles = c.dv.keySet -- c.add.toSet
      val dvPart =
        if (dvGrowFiles.isEmpty) Seq.empty
        else {
          val grow = c.dv.view.filterKeys(dvGrowFiles).toMap
          val newRows = dvRowsFor(spark, root, grow)
          val oldDvs = dvState.view.filterKeys(dvGrowFiles).toMap
          val delta =
            if (oldDvs.isEmpty) newRows
            else newRows.join(dvRowsFor(spark, root, oldDvs),
              Seq("file", "pos"), "left_anti")
          Seq(rowsAtPositions(spark, root, grow.keys.toSeq.sorted,
              delta, schema, endColMap)
            .withColumn("_change_type", lit("delete")))
        }
      // vector SHRINK on still-live files (only a rollback produces one,
      // marked by dvDrop) -> the resurrected rows emit as inserts
      val shrinkFiles =
        if (c.dvDrop.isEmpty) Set.empty[String]
        else dvState.keySet.intersect(c.dvDrop.toSet) --
          c.remove.toSet -- c.add.toSet
      val resurrectPart =
        if (shrinkFiles.isEmpty) Seq.empty
        else {
          val oldDvs = dvState.view.filterKeys(shrinkFiles).toMap
          val newDvs = c.dv.view.filterKeys(shrinkFiles).toMap
          val oldRows = dvRowsFor(spark, root, oldDvs)
          val back =
            if (newDvs.isEmpty) oldRows
            else oldRows.join(dvRowsFor(spark, root, newDvs),
              Seq("file", "pos"), "left_anti")
          Seq(rowsAtPositions(spark, root, shrinkFiles.toSeq.sorted,
              back, schema, endColMap)
            .withColumn("_change_type", lit("insert")))
        }
      dvState = dvState -- c.remove -- c.dvDrop ++ c.dv
      (insertPart ++ removePart ++ dvPart ++ resurrectPart)
        .map(_.withColumn("_commit_version", lit(c.version)))
      }
    }
    if (parts.isEmpty) {
      // a range of data-less commits (no-op rollback, empty write) is a
      // valid feed position, not an error — emit zero rows, full schema
      val full = schema
        .add("_change_type", org.apache.spark.sql.types.StringType)
        .add("_commit_version", org.apache.spark.sql.types.LongType)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], full)
    } else parts.reduce(_ unionByName _)
  }

  /** Offset-tracked change-feed consumption: run `f` over the delta
    * between the stored offset and the table head, then durably advance
    * the offset — the driver loop of every incremental downstream job
    * (the reference's Step-Functions-triggered incremental loads,
    * `serverless.yml:125-219`, reduced to a library call). The offset is
    * committed AFTER `f` returns, so a crashed consumer re-reads its
    * last delta: at-least-once, exactly-once when `f` is idempotent
    * (e.g. writes through [[overwrite]]/[[upsertPartitions]] or any
    * versioned sink). Returns the (fromExclusive, to] version range
    * processed, or None when the table has nothing new.
    */
  def consumeChanges(spark: SparkSession, root: String, offsetPath: String)
                    (f: DataFrame => Unit): Option[(Long, Long)] = {
    val op = new Path(offsetPath)
    // the offset may live on a DIFFERENT filesystem than the table (local
    // driver tracking a remote table) — resolve its own FS, not the root's
    val fs = op.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val from =
      if (!fs.exists(op)) -1L
      else {
        val in = fs.open(op)
        try new String(in.readAllBytes(), UTF_8).trim.toLong finally in.close()
      }
    val head = latestVersion(spark, root).getOrElse(-1L)
    if (head <= from) None
    else {
      f(readChanges(spark, root, fromVersion = from, toVersion = Some(head)))
      val tmp = new Path(op.getParent, s".${op.getName}.${UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(head.toString.getBytes(UTF_8)) finally out.close()
      if (!fs.rename(tmp, op)) { // e.g. local fs refusing overwrite-rename
        fs.delete(op, false)
        if (!fs.rename(tmp, op))
          throw new IOException(s"cannot advance offset $offsetPath")
      }
      Some((from, head))
    }
  }

  /** Snapshot state: live files + the schema they resolve under + the
    * version they represent + accumulated per-file column stats + the
    * per-application transaction watermarks (appId -> highest committed
    * txnVersion) that make [[appendIdempotent]] exactly-once.
    */
  /** Per-file stats access that DEFERS and PRUNES the checkpoint read.
    *
    * A resolved snapshot of a 100k-file table carries ~100k × statCols
    * min/max pairs; most consumers never touch them (the write paths
    * resolve for live set + mapping + schema only), and the ones that do
    * — [[readRange]], [[countRows]], [[minMaxFast]], the merge probe —
    * need exactly ONE stat column across the live files. Materializing
    * the full map on every checkpoint read makes resolve O(all stats) in
    * driver heap and wall-time; this view makes it O(selected):
    *
    *  - `col(c)` loads just that column's (lo, hi) per file — on a v3
    *    checkpoint a 3-column pruned parquet read (the stat columns are
    *    flat, so parquet column pruning applies), memoized per column
    *  - `full` materializes everything — paid only by the checkpoint
    *    writers, clone, and ANALYZE, which genuinely need it
    *  - `overlay` carries the commit tail's stats with the fold's
    *    per-FILE replace semantics: a file present in the overlay takes
    *    its stats (or their absence) wholly from the overlay
    *
    * Memoization lives in the instance, and checkpoint-base instances
    * are cached in [[ckptCache]] — tail wrappers created per resolve
    * delegate to the cached base's memo, so each pruned column is read
    * at most once per checkpoint identity.
    */
  private[lake] final class StatsView(
      baseFullF: () => FileStats,
      baseColF: String => Map[String, (Double, Double)],
      val overlay: FileStats) {
    private lazy val baseFull: FileStats = baseFullF()
    private val colCache =
      new java.util.concurrent.ConcurrentHashMap[
        String, Map[String, (Double, Double)]]()

    /** Per-file (lo, hi) of stat key `c` across every file that records
      * it — overlay-aware, base read pruned to the one column.
      */
    def col(c: String): Map[String, (Double, Double)] = {
      val b = colCache.computeIfAbsent(c, k => baseColF(k))
      if (overlay.isEmpty) b
      else b -- overlay.keys ++
        overlay.collect { case (f, m) if m.contains(c) => f -> m(c) }
    }

    /** Full per-file stat maps (base ++ overlay, per-file replace). */
    lazy val full: FileStats = baseFull ++ overlay

    /** The fold step: tail commit stats layered over this view. */
    def withOverlay(extra: FileStats): StatsView =
      if (extra.isEmpty) this
      else new StatsView(() => full, col, extra)
  }

  private[lake] object StatsView {
    val empty: StatsView = eager(Map.empty)
    /** Fully-materialized stats (raw replay, v1/v2 checkpoints, tests). */
    def eager(m: FileStats): StatsView =
      new StatsView(() => Map.empty, _ => Map.empty, m)
  }

  private final case class Snapshot(live: Seq[String], schemaDdl: String,
                                    version: Long, stats: StatsView,
                                    txns: Map[String, Long] = Map.empty,
                                    constraints: Map[String, String] = Map.empty,
                                    dvs: Map[String, DvRef] = Map.empty,
                                    droppedCols: Set[String] = Set.empty,
                                    colMap: Map[String, String] = Map.empty)

  // -------------------------------------------------------------------
  // Column mapping (RENAME COLUMN support — see [[renameColumn]])
  // -------------------------------------------------------------------

  private def lcol(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  /** The ON-FILE (physical) column name of logical name `logical` under
    * `colMap` — identity for never-renamed columns.
    */
  private def physName(colMap: Map[String, String], logical: String): String =
    colMap.getOrElse(lcol(logical), logical)

  /** The snapshot's LOGICAL schema with every renamed field's name
    * replaced by its physical (on-file) name — the scan schema every
    * parquet read of table data must use (by-name resolution finds the
    * frozen physical names, never the logical ones).
    */
  private def physSchema(schema: StructType,
                         colMap: Map[String, String]): StructType =
    if (colMap.isEmpty) schema
    else StructType(schema.map(f => f.copy(name = physName(colMap, f.name))))

  /** Rename a physical scan's columns back to their logical names.
    * `withColumnRenamed` (not a select) so extra columns the caller
    * tagged on (`__dv_file`/`__dv_pos`) survive.
    */
  private def toLogicalCols(df: DataFrame, schema: StructType,
                            colMap: Map[String, String]): DataFrame =
    if (colMap.isEmpty) df
    else schema.foldLeft(df) { (acc, f) =>
      val p = physName(colMap, f.name)
      if (p == f.name) acc else acc.withColumnRenamed(p, f.name)
    }

  /** Rename a LOGICAL batch's columns to their physical names for
    * staging — the inverse of [[toLogicalCols]], applied at the one
    * write boundary ([[stage]]).
    */
  private def toPhysicalCols(df: DataFrame,
                             colMap: Map[String, String]): DataFrame =
    if (colMap.isEmpty) df
    else df.columns.foldLeft(df) { (acc, c) =>
      val p = physName(colMap, c)
      if (p == c) acc else acc.withColumnRenamed(c, p)
    }

  /** Small LRU over checkpoint base snapshots (see the resolve() note).
    * Bounded: entries are driver-sized Snapshots for the handful of hot
    * tables a JVM serves; 32 covers every harness and leaves re-reads a
    * stat-check away for the rest.
    */
  private val ckptCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long, Long), Snapshot](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long, Long), Snapshot])
        : Boolean = size() > 32
    })

  private def cachedCkpt(key: (String, Long, Long, Long),
                         load: => Snapshot): Snapshot = {
    val hit = ckptCache.get(key)
    if (hit != null) hit
    else { val s = load; ckptCache.put(key, s); s }
  }

  /** Read a v1 (single-JSON-document) checkpoint into a [[Snapshot]] —
    * the legacy format, readable forever so pre-v2 logs keep resolving.
    */
  private def readCkptV1(spark: SparkSession, root: String,
                         v: Long): Snapshot = {
    val n = readNode(fileSystem(spark, root), ckptPath(root, v))
    checkReaderVersion(n, s"checkpoint v$v")
    val it = n.get("live").elements()
    val b = Seq.newBuilder[String]
    while (it.hasNext) b += it.next().asText()
    val dvB = Map.newBuilder[String, DvRef]
    Option(n.get("dv")).foreach(_.properties().forEach(e =>
      dvB += e.getKey -> (e.getValue.get("path").asText,
        e.getValue.get("rows").asLong)))
    snapshotOf(ckptScalars(n, v), b.result(),
      StatsView.eager(statsFromNode(n)), dvB.result())
  }

  /** Fold [[Commit.schemaDrop]] tombstones (lower-cased names) across
    * `commits`. A dropped column's PHYSICAL values still sit in every
    * pre-drop file, so re-evolving the same name in would silently
    * resurrect stale data on those files — the tombstone is what lets
    * [[committedDdl]]/[[addColumns]] refuse that. Two things legitimately
    * clear a tombstone: an `overwrite` (every live file is rewritten, no
    * stale bytes remain anywhere reachable), and any commit whose schema
    * CARRIES the name again (only rollback/restore-shaped full-state
    * commits can, since the evolution paths refuse — the column and its
    * era's files came back together, so the data is not stale). The
    * DDL parse is skipped while the running set is empty — tables that
    * never drop pay nothing.
    */
  /** Full-state rewrite ops: every live file replaced in one commit, so
    * column mapping and drop tombstones reset. "overwrite" changes the
    * data; "cluster" ([[cluster]]/[[clusterZ]]) only relays it out —
    * [[readChanges]] keys off the difference (a relayout emits no
    * change-feed rows, Delta's dataChange=false), the folds treat both
    * the same.
    */
  private[lake] def isFullRewrite(op: String): Boolean =
    op == "overwrite" || op == "cluster"

  /** Row-preserving relayouts the change feed skips: every row of the
    * removed files is carried into the added files unchanged ("cluster"
    * whole-table, "compact" per-directory — its DV materialization drops
    * only rows whose deletes the delete_dv commit already emitted).
    */
  private[lake] val FeedSkipOps: Set[String] = Set("compact", "cluster")

  private def foldDropped(base: Set[String],
                          commits: Seq[Commit]): Set[String] =
    commits.foldLeft(base) { (acc, c) =>
      val cleared =
        if (isFullRewrite(c.operation)) Set.empty[String] else acc
      val withNew =
        cleared ++ c.schemaDrop.map(_.toLowerCase(java.util.Locale.ROOT))
      // Only full-state ops can legitimately carry a tombstoned name
      // back into the schema — every evolution path refuses it, and
      // rollback/clone re-declare their target's tombstones explicitly
      // (schemaDrop above). rename_column is in the set for exactly one
      // carried name: the UN-rename (b back to its physical name a) —
      // its schema carries a again while a's bytes ARE the column's own
      // current data, so the tombstone must clear. Parsing only these
      // ops' DDL keeps the fold allocation-free across ordinary commits.
      if (withNew.isEmpty || c.schemaDdl.isEmpty ||
          (c.operation != "rollback" && c.operation != "clone" &&
            c.operation != "rename_column")) withNew
      else withNew -- StructType.fromDDL(c.schemaDdl)
        .map(_.name.toLowerCase(java.util.Locale.ROOT))
    }

  /** Resolve the snapshot at `upTo` (None = latest) from the newest
    * eligible CHECKPOINT plus the commit tail after it — O(tail) instead
    * of O(log length) once checkpoints exist; without one it degrades to
    * the full replay. The in-flight-tail rule of [[history]] applies.
    */
  private def resolve(spark: SparkSession, root: String,
                      upTo: Option[Long],
                      preListed: Option[Seq[String]] = None): Snapshot =
    try resolveOnce(spark, root, upTo, preListed)
    catch {
      // A checkpoint listed from the log dir can vanish between the
      // listing and its read (a concurrent torn-checkpoint repair, or a
      // maintenance delete). That is a TRANSIENT race, not table state:
      // one re-resolution re-lists and lands on whatever checkpoint now
      // exists. A second FileNotFoundException is real and propagates.
      case _: java.io.FileNotFoundException =>
        resolveOnce(spark, root, upTo, None)
    }

  private def resolveOnce(spark: SparkSession, root: String,
                          upTo: Option[Long],
                          preListed: Option[Seq[String]] = None): Snapshot = {
    val fs = fileSystem(spark, root)
    val dir = new Path(s"$root/$LogDirName")
    // preListed: a caller that already listed the log dir this instant
    // ([[resolveMeta]] falling back) passes its names through — on
    // object stores the per-op LIST is the dominant metadata cost
    val names = preListed.getOrElse {
      if (!fs.exists(dir))
        throw new NotATxLogTableException(s"not a txlog table: $root")
      CommitStore.forPath(dir).list(fs, dir).map(_.getName)
    }
    // both checkpoint formats are candidates; when one version carries
    // both forms they summarize identical state and v2 (parquet) wins
    val ckpts = ckptsIn(names)
    // Newest-first checkpoint candidates. A candidate whose files are
    // GONE by read time — listed a moment ago, then hit by a concurrent
    // torn-checkpoint repair or left headerless by a crashed delete —
    // is SKIPPED in favor of the next-older one: checkpoints are
    // derived state, so an older base plus a longer tail resolves
    // identical content, and the origin guard below still refuses when
    // no complete chain remains. Only a vanished path ([[isPathGone]])
    // qualifies; any other read failure (real corruption) stays loud.
    //
    // Checkpoint BASE snapshots are cached per (root, version, header
    // stat): content is immutable for a (root, version) — and the stat
    // in the key protects the one way that assumption breaks, a table
    // deleted and recreated at the same path. Without this, every
    // resolve on a v2-checkpointed table re-runs a Spark collect of the
    // whole live-file row set — several times per commit on the write
    // paths (v1 paid a driver JSON re-parse for the same reason).
    var base: Option[Snapshot] = None
    val candIt = ckpts.keys.toSeq.filter(v => upTo.forall(v <= _))
      .reverseIterator
    while (base.isEmpty && candIt.hasNext) {
      val v = candIt.next()
      try {
        base = Some(if (ckpts(v).v2.isDefined) {
          // v2 identity = the checkpoint dir's FILE NAMES (one listing):
          // parquet part names carry the write's job UUID, so a table
          // deleted and recreated at the same path can never collide —
          // unlike an mtime+length stat on coarse-mtime object stores
          val names = fs.listStatus(ckptPathV2(root, v))
            .map(_.getPath.getName).sorted.mkString("\n")
          // the EXACT listing is the key's string slot — part names
          // embed job UUIDs, so this is a content identity, not a
          // 32-bit hash
          cachedCkpt((s"$root#v2\n$names", v, names.length.toLong, 0L),
            readCkptV2(spark, root, v))
        } else {
          val st = fs.getFileStatus(ckptPath(root, v))
          cachedCkpt((s"$root#v1", v, st.getModificationTime, st.getLen),
            readCkptV1(spark, root, v))
        })
      } catch { case e if isPathGone(e) => () }
    }
    val ckptVersion = base.map(_.version)
    val tail = history(spark, root, afterVersion = ckptVersion.getOrElse(-1L))
      .filter(c => upTo.forall(c.version <= _))
    if (base.isEmpty && tail.isEmpty) {
      // distinguish "fresh" (a log dir with no commit entries — e.g. a
      // writer crashed between mkdirs and its first claim) from a real
      // refusal like upTo predating the first surviving commit
      if (upTo.isEmpty && !names.exists(LogFile.matches))
        throw new NotATxLogTableException(
          s"not a txlog table (no commits yet): $root")
      throw new IllegalArgumentException(
        s"no commit at or before version ${upTo.getOrElse("latest")} in $root")
    }
    // With no eligible checkpoint the replay starts from EMPTY state, so
    // the tail must begin at the log's origin: a tail starting mid-log
    // (an interrupted vacuumLog, or entries deleted by hand) would
    // silently resolve to a partial live set missing every pre-gap file
    require(base.nonEmpty || tail.head.version == 0L,
      s"log of $root starts at version ${tail.head.version} with no " +
        s"checkpoint at or before version ${upTo.getOrElse("latest")} — " +
        "its origin entries are missing (interrupted vacuumLog or " +
        "hand-deleted log files); cannot resolve a complete snapshot")
    val live = new scala.collection.mutable.LinkedHashSet[String]
    base.foreach(live ++= _.live)
    tail.foreach { c => live --= c.remove; live ++= c.add }
    // stats accumulate per FILE across the whole tail (never dropped on
    // logical remove): a later rollback can resurrect a removed file, and
    // its stats must resurrect with it. The fold stays LAZY on the base:
    // only the tail's (small) stat maps materialize here — the
    // checkpoint's stay behind the view's pruned readers
    val stats = base.map(_.stats).getOrElse(StatsView.empty).withOverlay(
      tail.foldLeft(Map.empty: FileStats)((acc, c) => acc ++ c.stats))
    // deletion vectors fold per FILE: a commit's dv map REPLACES the
    // file's vector (each sidecar is cumulative), removing or explicitly
    // dv-dropping a file clears it; freshly added files never carry one
    val dvs = tail.foldLeft(base.map(_.dvs).getOrElse(Map.empty[String, DvRef]))(
      (acc, c) => acc -- c.remove -- c.dvDrop ++ c.dv)
    snapshotOf(
      foldScalars(base.fold(NoScalars)(b => scalarsOf(Left(b))), tail),
      live.toSeq, stats, dvs)
  }

  /** Fold a commit tail's table-scoped state onto a base's — the ONE
    * replay of the scalars, shared by the materialized ([[resolveOnce]])
    * and distributed ([[resolveMeta]]) resolves. An empty tail returns
    * `base` unchanged.
    */
  private def foldScalars(base: ScalarState, tail: Seq[Commit]): ScalarState =
    ScalarState(
      tail.lastOption.map(_.version).getOrElse(base.version),
      tail.lastOption.map(_.schemaDdl).getOrElse(base.schemaDdl),
      // txn watermarks only ever move forward (max), so replay order is
      // safe
      tail.foldLeft(base.txns) { (acc, c) =>
        c.txn match {
          case Some((app, v)) =>
            acc.updated(app, math.max(v, acc.getOrElse(app, Long.MinValue)))
          case None => acc
        }
      },
      // constraints fold as deltas (add/drop commits), like the live set
      // — commits that don't touch constraints carry nothing
      tail.foldLeft(base.constraints)(
        (acc, c) => acc -- c.consDrop ++ c.consAdd),
      // drop-column tombstones survive log truncation like constraints:
      // losing one would let a later evolution resurrect stale values
      foldDropped(base.droppedCols, tail),
      // column mapping folds as declare-or-inherit: a commit that carries
      // `renames` (rename/drop/rollback/clone) restates the FULL mapping,
      // an overwrite clears it (all files rewritten under logical
      // names), everything else inherits
      tail.foldLeft(base.colMap) { (acc, c) =>
        c.renames.getOrElse(if (isFullRewrite(c.operation)) Map.empty else acc)
      })

  // -------------------------------------------------------------------
  // Distributed metadata tier — bounded-driver resolve for big tables
  // -------------------------------------------------------------------
  //
  // [[resolve]] materializes the live FILE LIST on the driver (a
  // collect of the checkpoint's per-file rows), which the measured
  // metadata ladder (BASELINE.md "Metadata scale") shows is comfortable
  // to ~1M live files and degrades past it (5.2 GB heap, GC-bound
  // resolve at 10M). The consumers below don't NEED the full list: an
  // exact count is one aggregation over the checkpoint parquet, and a
  // stats/bloom-pruned scan needs only the SURVIVORS of pruning on the
  // driver. This tier keeps the live set DISTRIBUTED (the format-3
  // checkpoint is already a parquet table of (file, dv, flat stat
  // columns)) and collects O(tail + survivors), never O(files) — the
  // same shape Delta uses for its snapshot state. Writers and full
  // unpruned scans keep the materialized path: Spark's own scan
  // planning holds every selected file on the driver anyway, so there
  // is nothing to win there.
  //
  // The tier activates only when the newest eligible checkpoint is
  // format 3 AND its recorded `liveCount` clears
  // `spark.graft.meta.distributedThreshold` (default 100k files):
  // below it, a warm cached driver resolve beats scheduling a Spark
  // job, so small tables keep their latency.

  /** Scalar table state plus a RECIPE for the live set — never the
    * live set itself. `touchedLive`/`tailStats`/`tailDvs` are the
    * commit tail folded per file (O(tail) driver entries); everything
    * the tail did not touch stays behind the checkpoint parquet.
    */
  private final case class MetaSnapshot(
      ckptDir: String, legend: IndexedSeq[String], ckptVersion: Long,
      ckptLiveCount: Long, schemaDdl: String, version: Long,
      txns: Map[String, Long], constraints: Map[String, String],
      droppedCols: Set[String], colMap: Map[String, String],
      touchedLive: Map[String, Boolean], tailStats: FileStats,
      tailDvs: Map[String, Option[DvRef]],
      // the tail's (remove, add) lists IN COMMIT ORDER — what lets the
      // incremental checkpoint reproduce the live set's replay order
      // (a removed-then-readded file moves to the END, like the
      // LinkedHashSet fold) without replaying the whole set
      tailOps: Seq[(Seq[String], Seq[String])]) {
    /** Every file the tail mentions in ANY way — excluded from the
      * distributed evaluation and handled on the driver instead.
      */
    def touchedAll: Set[String] =
      touchedLive.keySet ++ tailStats.keySet ++ tailDvs.keySet
  }

  /** Test seam: whether the most recent [[resolveMeta]] took the
    * distributed path (Right) — the parity spec forces the threshold to
    * 0 and asserts the path actually under test.
    */
  @volatile private[graft] var lastResolveDistributed: Boolean = false

  /** Small LRU over parsed checkpoint HEADERS keyed by (path, stat):
    * immutable once published (and the stat catches the one exception,
    * a table deleted and recreated at the same path), so the per-op
    * [[resolveMeta]] gate costs a stat call, never a re-read.
    */
  private val ckptHeaderCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long),
        com.fasterxml.jackson.databind.JsonNode](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long),
            com.fasterxml.jackson.databind.JsonNode]): Boolean = size() > 32
    })

  private def metaThreshold(spark: SparkSession): Long = {
    val raw = spark.conf.get("spark.graft.meta.distributedThreshold", "100000")
    // resolveMeta fronts every read and commit attempt — a malformed
    // conf must fail descriptively, not as a NumberFormatException
    // mid-write, matching the retainCheckpoints validation discipline
    val v = try raw.trim.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"spark.graft.meta.distributedThreshold must be a non-negative " +
          s"integer (live-file count above which resolution goes " +
          s"distributed), got: '$raw'")
    }
    if (v < 0) throw new IllegalArgumentException(
      s"spark.graft.meta.distributedThreshold must be >= 0, got: $raw")
    v
  }

  /** Resolve to EITHER a fully-materialized [[Snapshot]] (small tables,
    * v1/format-2 checkpoints, no checkpoint, version reads predating
    * the newest checkpoint's v2 form) or a driver-bounded
    * [[MetaSnapshot]]. The Right branch opens ONE small JSON (the
    * checkpoint header) and parses the commit tail — O(tail) driver
    * work; it never touches the per-file parquet rows.
    */
  private def resolveMeta(spark: SparkSession, root: String,
                          upTo: Option[Long]): Either[Snapshot, MetaSnapshot] = {
    val fs = fileSystem(spark, root)
    val dir = new Path(s"$root/$LogDirName")
    if (!fs.exists(dir))
      throw new NotATxLogTableException(s"not a txlog table: $root")
    val names = CommitStore.forPath(dir).list(fs, dir).map(_.getName)
    // the fallback reuses THIS listing — a sub-threshold table must not
    // pay an extra log-dir LIST for having been asked through the tier
    def full = Left(resolve(spark, root, upTo, preListed = Some(names)))
    // the tier applies only when the NEWEST eligible checkpoint has a
    // v2 form — an older v2 beneath a newer v1 must not shadow its state
    val ckpts = ckptsIn(names)
    val candidate = ckpts.keys.filter(v => upTo.forall(v <= _)).maxOption
      .filter(ckpts(_).v2.isDefined)
    val out = candidate.flatMap { v =>
      try {
        // header parse cached per (path, dir listing): resolveMeta
        // fronts EVERY read API now, so a hot sub-threshold table must
        // pay one LIST here, not a read+parse per operation. Identity
        // is the checkpoint dir's FILE NAMES (parquet part names embed
        // job UUIDs) — the same content identity the base-snapshot
        // cache uses, because an mtime+length stat can miss a
        // delete-and-recreate at the same path on coarse-mtime stores.
        // Cost accounting: a checkpoint dir holds ~1 part per 65k files
        // (~160 at 10M), so this is ONE single-page LIST round trip —
        // the same order as the getFileStatus it replaced, bought for a
        // sound identity; only a table past ~65M live files would page
        val hp = new Path(ckptPathV2(root, v), CkptMetaName)
        val dirNames = fs.listStatus(ckptPathV2(root, v))
          .map(_.getPath.getName).sorted.mkString("\n")
        val hKey = (s"$hp\n$dirNames", dirNames.length.toLong, 0L)
        val n = {
          val hit = ckptHeaderCache.get(hKey)
          if (hit != null) hit
          else {
            val parsed = readNode(fs, hp)
            ckptHeaderCache.put(hKey, parsed)
            parsed
          }
        }
        val fmt = ckptFormat(n, root, v)
        val liveCount = Option(n.get("liveCount")).map(_.asLong)
        if (fmt != 3 || !liveCount.exists(_ >= metaThreshold(spark))) None
        else {
          val tail = history(spark, root, afterVersion = v)
            .filter(c => upTo.forall(c.version <= _))
          // the per-file tail folds, each the exact semantics of
          // resolveOnce's whole-set folds restricted to touched files
          var touched = Map.empty[String, Boolean]
          tail.foreach { c =>
            c.remove.foreach(f => touched = touched.updated(f, false))
            c.add.foreach(f => touched = touched.updated(f, true))
          }
          val tailStats =
            tail.foldLeft(Map.empty: FileStats)((acc, c) => acc ++ c.stats)
          var tailDvs = Map.empty[String, Option[DvRef]]
          tail.foreach { c =>
            (c.remove ++ c.dvDrop).foreach(f =>
              tailDvs = tailDvs.updated(f, None))
            c.dv.foreach { case (f, r) =>
              tailDvs = tailDvs.updated(f, Some(r)) }
          }
          val s = foldScalars(ckptScalars(n, v), tail)
          Some(MetaSnapshot(ckptPathV2(root, v).toString, ckptLegend(n), v,
            liveCount.get, s.schemaDdl, s.version,
            s.txns, s.constraints, s.droppedCols, s.colMap,
            touched, tailStats, tailDvs,
            tail.map(c => (c.remove, c.add))))
        }
      } catch {
        // header vanished between the listing and this read (torn-ckpt
        // repair / maintenance): the full path re-lists and skips it
        case _: java.io.FileNotFoundException => None
      }
    }
    lastResolveDistributed = out.isDefined
    out.map(Right(_)).getOrElse(full)
  }

  /** Scalar-only table state — everything the write path's fences and
    * policies read (version, schema, txn watermarks, constraints, drop
    * tombstones, column mapping) WITHOUT the live file list. O(tail)
    * driver work past the distributed threshold; served by the
    * materialized (cached) snapshot below it. This is what makes an
    * APPEND to a 10M-file table O(tail) on the driver: the append
    * delta never reads the live set, only these scalars.
    */
  private final case class ScalarState(version: Long, schemaDdl: String,
      txns: Map[String, Long], constraints: Map[String, String],
      droppedCols: Set[String], colMap: Map[String, String])

  /** The state before the log's origin: what a checkpoint-less replay
    * folds its tail onto.
    */
  private val NoScalars =
    ScalarState(-1L, "", Map.empty, Map.empty, Set.empty, Map.empty)

  private def snapshotOf(s: ScalarState, live: Seq[String], stats: StatsView,
                         dvs: Map[String, DvRef]): Snapshot =
    Snapshot(live, s.schemaDdl, s.version, stats, s.txns, s.constraints,
      dvs, s.droppedCols, s.colMap)

  private def scalarsOf(
      meta: Either[Snapshot, MetaSnapshot]): ScalarState =
    meta.fold(
      s => ScalarState(s.version, s.schemaDdl, s.txns, s.constraints,
        s.droppedCols, s.colMap),
      m => ScalarState(m.version, m.schemaDdl, m.txns, m.constraints,
        m.droppedCols, m.colMap))

  private def resolveScalars(spark: SparkSession, root: String,
                             upTo: Option[Long] = None): ScalarState =
    scalarsOf(resolveMeta(spark, root, upTo))

  /** The scalar state of the attempt currently inside [[commitLoop]]'s
    * delta callback (null outside one): per-commit helpers the deltas
    * call — [[committedDdl]], [[tailVersion]] — reuse it instead of
    * re-listing the log, so an attempt pays ONE list, not two.
    * ThreadLocal because concurrent writers commit from their own
    * threads; cleared in the loop's finally.
    */
  private val commitScalars = new ThreadLocal[ScalarState]

  /** The checkpoint's live-file rows as a COLUMN-PRUNED distributed
    * DataFrame: `file` (+ `dvPath`/`dvRows` when `withDv`) + one
    * `mn:<key>`/`mx:<key>` pair per requested stat key present in the
    * legend (absent keys contribute no columns — consumers treat them
    * as stat-less, the conservative keep).
    */
  private def ckptLiveDF(spark: SparkSession, m: MetaSnapshot,
                         statKeys: Seq[String], withDv: Boolean,
                         withIdx: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cols = (if (withIdx) Seq(col("idx")) else Nil) ++ Seq(col("file")) ++
      (if (withDv) Seq(col("dvPath"), col("dvRows")) else Nil) ++
      statKeys.distinct.flatMap(k => m.legend.indexOf(k) match {
        case -1 => Nil
        case i  => Seq(col(s"min$i").as(s"mn:$k"), col(s"max$i").as(s"mx:$k"))
      })
    spark.read.schema(ckptReadSchema(m.legend.size)).parquet(m.ckptDir)
      .select(cols: _*)
  }

  /** Drop the tail-touched files from the distributed evaluation (they
    * are driver-handled). An `isin` for small sets — pushed to the
    * parquet scan — and a broadcast anti-join past it: a tail holding
    * an overwrite can touch the WHOLE former live set.
    */
  private def exceptTouched(df: DataFrame, touched: Set[String]): DataFrame =
    if (touched.isEmpty) df
    else if (touched.size <= 1000)
      df.filter(!org.apache.spark.sql.functions.col("file")
        .isin(touched.toSeq: _*))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      val t = touched.toSeq.toDF("file")
      // past ~1M names a broadcast stops paying (hundreds of MB per
      // executor); a shuffled anti-join is the right plan there
      df.join(
        if (touched.size <= 1000000)
          org.apache.spark.sql.functions.broadcast(t)
        else t,
        Seq("file"), "left_anti")
    }

  /** A tail-touched file's EFFECTIVE state: live after the fold, with
    * stats/dv resolved per the overlay rules ([[StatsView.col]]'s
    * per-file replacement; dv fold `-- remove -- dvDrop ++ dv`).
    */
  private final case class TouchedFile(file: String, dv: Option[DvRef],
                                       stats: Map[String, (Double, Double)],
                                       baseIdx: Option[Long])

  /** Driver evaluation of the touched files: one O(touched) probe of
    * the checkpoint parquet establishes base membership + base stats +
    * base dv, then the tail folds decide liveness and overlays. Returns
    * (live touched files, how many touched files were in the base) —
    * the second term is what reconciles [[MetaSnapshot.ckptLiveCount]]
    * to the snapshot's true live total.
    */
  private def touchedState(spark: SparkSession, m: MetaSnapshot,
                           statKeys: Seq[String]): (Seq[TouchedFile], Long) = {
    val touched = m.touchedAll
    if (touched.isEmpty) return (Seq.empty, 0L)
    // a file whose tail fold ends REMOVED is dead no matter what the
    // base says — probing its row would drag O(former live set) back to
    // the driver on exactly the tail an overwrite leaves (every old
    // file removed). Dead files only matter to the liveCount
    // reconciliation, which needs their COUNT in the base, not their
    // rows — counted distributed below when any exist.
    val dead = touched.filter(f => m.touchedLive.get(f).contains(false))
    val probeSet = touched -- dead
    val df = ckptLiveDF(spark, m, statKeys, withDv = true, withIdx = true)
    def semiJoin(target: DataFrame, files: Set[String]): DataFrame =
      if (files.size <= 1000)
        target.filter(org.apache.spark.sql.functions.col("file")
          .isin(files.toSeq: _*))
      else {
        val sp = target.sparkSession
        import sp.implicits._
        val t = files.toSeq.toDF("file")
        // same guard as exceptTouched: past ~1M names a broadcast stops
        // paying — shuffle the semi-join instead
        target.join(
          if (files.size <= 1000000)
            org.apache.spark.sql.functions.broadcast(t)
          else t,
          Seq("file"), "left_semi")
      }
    val probe = semiJoin(df, probeSet)
    val deadInBase =
      if (dead.isEmpty) 0L
      else semiJoin(ckptLiveDF(spark, m, Nil, withDv = false), dead).count()
    val keys = statKeys.distinct.filter(k => m.legend.contains(k))
    val base: Map[String, (Option[DvRef], Map[String, (Double, Double)], Long)] =
      probe.collect().map { r =>
        val f = r.getAs[String]("file")
        val dv = Option(r.getAs[String]("dvPath"))
          .map(p => (p, r.getAs[Long]("dvRows")): DvRef)
        val st = keys.flatMap { k =>
          val i = r.fieldIndex(s"mn:$k")
          if (r.isNullAt(i)) None
          else Some(k -> (r.getDouble(i), r.getDouble(r.fieldIndex(s"mx:$k"))))
        }.toMap
        f -> (dv, st, r.getAs[Long]("idx"))
      }.toMap
    val files = probeSet.toSeq.sorted.flatMap { f =>
      val inBase = base.contains(f)
      val live = m.touchedLive.getOrElse(f, inBase)
      if (!live) None
      else Some(TouchedFile(f,
        m.tailDvs.getOrElse(f, base.get(f).flatMap(_._1)),
        m.tailStats.getOrElse(f,
          base.get(f).map(_._2).getOrElse(Map.empty)),
        base.get(f).map(_._3)))
    }
    (files, base.size.toLong + deadInBase)
  }

  /** Distributed twin of [[prunedLive]]: the same [[Skip]]s (as UDFs)
    * and bloom tests run ON the checkpoint rows and only SURVIVORS are
    * collected, plus the touched files (kept through the bloom tier);
    * each carries what [[snapshot]] reads: dv ref and `__bytes` stat.
    */
  private def prunedSnapMeta(spark: SparkSession, root: String,
                             m: MetaSnapshot,
                             bounds: Seq[(String, Double, Double)],
                             equalities: Seq[(String, Seq[Any])]): Snapshot = {
    import org.apache.spark.sql.functions.{col, count, lit, udf}
    val schema = StructType.fromDDL(m.schemaDdl)
    val skips = skipsOf(schema, m.colMap, bounds, equalities)
    val statKeys = (skips.map(_._1) :+ FileSizeKey).distinct
    val keep = skips.collect { case (pc, skip) if m.legend.contains(pc) =>
      val keepUdf = udf { (mn: java.lang.Double, mx: java.lang.Double) =>
        skip.keep(if (mn == null || mx == null) None
                  else Some((mn.doubleValue, mx.doubleValue)))
      }
      // backticked: a bare col() would parse a dot in the key as nesting
      keepUdf(col(s"`mn:$pc`"), col(s"`mx:$pc`"))
    }.foldLeft(lit(true))(_ && _)
    val survivorsDf =
      exceptTouched(ckptLiveDF(spark, m, statKeys, withDv = true),
        m.touchedAll).filter(keep)
    val (touchedLive, touchedInBase) = touchedState(spark, m, statKeys)
    val touchedKept = touchedLive.filter(t =>
      skips.forall { case (pc, skip) => skip.keep(t.stats.get(pc)) })
    val total = m.ckptLiveCount - touchedInBase + touchedLive.size
    val probes = equalities.flatMap { case (c, values) =>
      bloomProbe(spark, root, schema, c, values) }
    // the bloom runs DISTRIBUTED, before any collect; its survivor-count
    // gate rides the SAME collect: a one-row count, cross-joined in for
    // the gate and unioned in (file = null) for the seams
    val (rows, survivors) =
      if (probes.isEmpty) {
        val r = survivorsDf.collect().toSeq
        (r, r.size + touchedKept.size)
      } else {
        val n = survivorsDf.agg(count(lit(1)).as("__n"))
        val skipBloom = col("__n") + touchedKept.size <= 1
        val afterBloom = probes.foldLeft(survivorsDf.crossJoin(n)) {
          case (df, (name, hashes)) =>
            // same derived-state read rule as bloomKeepFiles: a sidecar
            // mid-(re)build reads conservative, never fails the query
            try bloomFilterDF(spark, root, name, hashes.toArray, df, skipBloom)
            catch { case scala.util.control.NonFatal(_) => df }
        }
        val out = withBloomReadBatch(spark)(
          afterBloom.unionByName(n, allowMissingColumns = true).collect())
        val (nRow, r) = out.toSeq.partition(_.getAs[String]("file") == null)
        (r, nRow.head.getAs[Long]("__n").toInt + touchedKept.size)
      }
    val kept = rows.size + touchedKept.size
    notePrune(skips.nonEmpty || equalities.isEmpty, equalities.nonEmpty,
      kept, survivors, total.toInt)
    val live = rows.map(_.getAs[String]("file")).toSeq ++
      touchedKept.map(_.file)
    val dvs = (rows.flatMap { r =>
      Option(r.getAs[String]("dvPath")).map(p =>
        r.getAs[String]("file") -> ((p, r.getAs[Long]("dvRows")): DvRef))
    } ++ touchedKept.flatMap(t => t.dv.map(t.file -> _))).toMap
    val hasBytes = m.legend.contains(FileSizeKey)
    val sizes: FileStats = (rows.collect {
      case r if hasBytes && !r.isNullAt(r.fieldIndex(s"mn:$FileSizeKey")) =>
        val b = r.getDouble(r.fieldIndex(s"mn:$FileSizeKey"))
        r.getAs[String]("file") -> Map(FileSizeKey -> (b, b))
    } ++ touchedKept.flatMap(t => t.stats.get(FileSizeKey).map(b =>
      t.file -> Map(FileSizeKey -> b)))).toMap
    Snapshot(live, m.schemaDdl, m.version, StatsView.eager(sizes),
      m.txns, m.constraints, dvs, m.droppedCols, m.colMap)
  }

  /** One bloom sidecar applied distributed: keep the candidate files
    * without an index row, those whose filter might contain a probe, and
    * all of them where `skip` holds. The bitsets test inside executors,
    * as in [[bloomKeepFiles]], but the KEPT set stays distributed.
    */
  private def bloomFilterDF(spark: SparkSession, root: String,
                            column: String, hashes: Array[Long],
                            df: DataFrame,
                            skip: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions.{col, udf}
    val bloomDf = spark.read.schema(BloomSidecarSchema)
      .parquet(bloomDir(root, column).toString)
      .select(col("file").as("__bloom_file"), col("bloom"))
    val keepUdf = udf { (bytes: Array[Byte]) =>
      bytes == null || {
        val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
        hashes.exists(bf.mightContainLong)
      }
    }
    df.join(bloomDf, df("file") === col("__bloom_file"), "left_outer")
      .filter(skip || keepUdf(col("bloom")))
      .drop("__bloom_file", "bloom")
  }

  /** Incremental distributed checkpoint: derive the new checkpoint's
    * per-file rows FROM the previous checkpoint's parquet (survivors
    * pass through executor-side, stat columns remapped under the merged
    * legend) unioned with O(tail) driver rows for the files the tail
    * touched — never a driver materialization of the live set. The
    * classic writer builds a driver Seq of every live file's Row, the
    * measured dominant cost at metadata scale (BASELINE.md: 384 s and
    * multi-GB heap at 10M files).
    *
    * Replay-order fidelity: `idx` is a SORT key, not a position —
    * survivors keep their base idx (gaps are fine), and the tail replay
    * assigns end-segment indices so a removed-then-readded file lands
    * at the END, exactly like the LinkedHashSet fold ([[resolveOnce]]).
    * Publication protocol (tmp + rename, skip-if-complete) is the
    * classic writer's, so a valid checkpoint exists at every instant.
    */
  private def checkpointV2Incremental(spark: SparkSession, root: String,
                                      m: MetaSnapshot): Unit = {
    import org.apache.spark.sql.functions.{col, lit, max}
    val fs = fileSystem(spark, root)
    val dst = ckptPathV2(root, m.version)
    if (fs.exists(dst) && fs.exists(new Path(dst, CkptMetaName))) return
    val (touchedLive, touchedInBase) = touchedState(spark, m, m.legend)
    // the global idx high-water mark: end-segment indices must clear
    // EVERY base idx, surviving or not (a touched survivor keeps its)
    val aggRow = spark.read.schema(ckptReadSchema(m.legend.size))
      .parquet(m.ckptDir).agg(max(col("idx")))
      .collect()(0)
    val maxIdx = if (aggRow.isNullAt(0)) -1L else aggRow.getLong(0)
    // protocol rung input: does ANY live file carry a deletion vector?
    // untouched carriers counted distributed; touched ones by their
    // EFFECTIVE dv after the tail fold
    val hasLiveDv = touchedLive.exists(_.dv.isDefined) ||
      exceptTouched(spark.read.schema(ckptReadSchema(m.legend.size))
          .parquet(m.ckptDir).select("file", "dvPath"),
          m.touchedAll)
        .filter(col("dvPath").isNotNull).limit(1).count() > 0
    // tail replay over TOUCHED files only: position = kept base idx, or
    // an end-segment slot past maxIdx
    var pos = Map.empty[String, Long]
    touchedLive.foreach(t => t.baseIdx.foreach(i => pos += t.file -> i))
    var nextEnd = maxIdx + 1
    m.tailOps.foreach { case (rm, ad) =>
      rm.foreach(f => pos -= f)
      ad.foreach { f =>
        if (!pos.contains(f)) { pos += f -> nextEnd; nextEnd += 1 }
      }
    }
    val survivorDF = exceptTouched(
      spark.read.schema(ckptReadSchema(m.legend.size)).parquet(m.ckptDir),
      m.touchedAll)
    // merged legend: the base keys that still have a live CARRIER (one
    // aggregation over the survivors — a big table never takes the
    // classic writer again, so without retirement a key whose last
    // carrier left would keep two all-null columns in every future
    // checkpoint forever) plus any keys the tail's stats added
    val carried: Set[String] =
      if (m.legend.isEmpty) Set.empty
      else {
        import org.apache.spark.sql.functions.count
        val aggs = m.legend.indices.map(i => count(col(s"min$i")))
        val r = survivorDF.agg(aggs.head, aggs.tail: _*).collect()(0)
        m.legend.zipWithIndex.collect {
          case (k, i) if r.getLong(i) > 0 => k
        }.toSet
      }
    val legend: IndexedSeq[String] =
      (carried ++ touchedLive.flatMap(_.stats.keys)).toSeq
        .distinct.sorted.toIndexedSeq
    val baseCols = Seq(col("idx"), col("file"), col("dvPath"),
      col("dvRows")) ++
      legend.zipWithIndex.flatMap { case (k, j) =>
        m.legend.indexOf(k) match {
          case -1 => Seq(lit(null).cast(DoubleType).as(s"min$j"),
            lit(null).cast(DoubleType).as(s"max$j"))
          case i => Seq(col(s"min$i").as(s"min$j"),
            col(s"max$i").as(s"max$j"))
        }
      }
    val baseDF = survivorDF.select(baseCols: _*)
    val keyIdx = legend.zipWithIndex.toMap
    val touchedRows: Seq[Row] = touchedLive.map(t =>
      ckptRow(pos(t.file), t.file, t.dv, t.stats, keyIdx))
    val touchedDF = spark.createDataFrame(
      spark.sparkContext.parallelize(touchedRows,
        math.max(1, touchedRows.size / 65536)),
      ckptReadSchema(legend.size))
    // minReaderOfState keys off set-emptiness only; a sentinel entry
    // stands in for the distributed dv set
    val mr = minReaderOfState(m.colMap,
      if (hasLiveDv) Map("__live" -> (("", 0L): DvRef)) else Map.empty,
      m.droppedCols)
    publishCkptDir(spark, fs, root, m.version,
      tmp => baseDF.union(touchedDF)
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString),
      ckptMetaJson(m.ckptLiveCount - touchedInBase + touchedLive.size,
        legend, scalarsOf(Right(m)), mr))
  }

  /** The v2 checkpoint publication protocol, shared by the classic and
    * incremental writers: write the rows to a hidden tmp dir, complete
    * it with the meta header (written LAST — its presence is the
    * completeness marker), then atomically rename into place; an
    * existing COMPLETE dst is a concurrent writer's equivalent content
    * and wins benignly.
    */
  private def publishCkptDir(spark: SparkSession, fs: FileSystem,
                             root: String, version: Long,
                             writeRows: Path => Unit, meta: String): Unit = {
    val dst = ckptPathV2(root, version)
    val tmp = new Path(s"$root/$LogDirName/.ckpt_tmp_${
      UUID.randomUUID().toString.replace("-", "").take(12)}")
    try {
      writeRows(tmp)
      // the history sidecar rides every checkpoint publication (before
      // the completeness marker): summaries of all commits at-or-below
      // it, O(tail) to compute. Derived state — an entry the sidecar
      // builder cannot parse (a feature rung this reader lacks,
      // transient in a truncated range) degrades to no sidecar rather
      // than failing the checkpoint; readers then keep the raw path.
      (try Some(renderHistRows(historyForCkpt(spark, root, version)))
       catch { case _: UnsupportedLogFeatureException => None }
      ).foreach { hist =>
        val hout = fs.create(new Path(tmp, CkptHistName), true)
        try hout.write(hist.getBytes(UTF_8)) finally hout.close()
      }
      val out = fs.create(new Path(tmp, CkptMetaName), true)
      try out.write(meta.getBytes(UTF_8)) finally out.close()
      def complete() = fs.exists(new Path(dst, CkptMetaName))
      if (fs.exists(dst)) {
        if (complete()) { fs.delete(tmp, true); return }
        fs.delete(dst, true)
      }
      if (!fs.rename(tmp, dst)) {
        if (complete()) { fs.delete(tmp, true); return } // lost a benign race
        throw new IOException(
          s"checkpoint rename $tmp -> $dst failed at $root")
      }
    } catch {
      case t: Throwable =>
        try { fs.delete(tmp, true); () } catch { case _: IOException => () }
        throw t
    }
  }

  /** Distributed exact COUNT(*): one aggregation over the checkpoint
    * rows (`rows − dvRows` per file, summed as longs) plus the driver
    * fold of the touched files — O(tail) driver memory where the
    * materialized path held the whole live set. None on ANY live file
    * without a recorded row count, exactly like the materialized path
    * (the caller — [[countRowsFast]] — owns the fallback decision).
    */
  private def countRowsMeta(spark: SparkSession,
                            m: MetaSnapshot): Option[Long] = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum, when}
    val (touched, _) = touchedState(spark, m, Seq(RowCountKey))
    val tOk = touched.forall(_.stats.contains(RowCountKey))
    val k = s"`mn:$RowCountKey`"
    val (files, withStat, dsum) =
      if (!m.legend.contains(RowCountKey)) {
        val n = exceptTouched(ckptLiveDF(spark, m, Nil, withDv = false),
          m.touchedAll).count()
        (n, 0L, 0L)
      } else {
        val r = exceptTouched(
            ckptLiveDF(spark, m, Seq(RowCountKey), withDv = true),
            m.touchedAll)
          .agg(count(lit(1)), count(col(k)),
            sum(when(col(k).isNotNull,
              (col(k) - coalesce(col("dvRows").cast("double"), lit(0.0)))
                .cast("long"))))
          .collect()(0)
        (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
      }
    if (withStat != files || !tOk) None
    else Some(dsum + touched.map(t =>
      t.stats(RowCountKey)._1.toLong - t.dv.map(_._2).getOrElse(0L)).sum)
  }

  /** Distributed twin of [[minMaxFast]]'s metadata answer: the same
    * None-on-any-gap contract (a live file without the stat, or any
    * live deletion vector), evaluated as one aggregation.
    */
  private def minMaxFastMeta(spark: SparkSession, m: MetaSnapshot,
                             column: String): Option[(Double, Double)] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, when}
    val pc = physName(m.colMap, column)
    val (touched, _) = touchedState(spark, m, Seq(pc))
    def touchedParts: Option[BoundParts] =
      touched.map(t => t.stats.get(pc)
          .map(BoundParts.of(t.dv.isDefined, _)))
        .foldLeft(Option(BoundParts(None, None))) { (acc, b) =>
          for { a <- acc; x <- b } yield a.merge(x)
        }
    def answer(parts: BoundParts): Option[(Double, Double)] =
      for { lo <- parts.answer(takeMin = true)
            hi <- parts.answer(takeMin = false) } yield (lo, hi)
    if (!m.legend.contains(pc)) {
      val untouchedN = exceptTouched(
        ckptLiveDF(spark, m, Nil, withDv = false), m.touchedAll).count()
      if (untouchedN > 0) return None // untouched files lack the stat
      if (touched.isEmpty) None
      else touchedParts.flatMap(answer)
    } else {
      // the checkpoint fold splits clean/dirty like the driver tier —
      // the clean-dominates rule applies across the whole live set
      val (mnC, mxC) = (col(s"`mn:$pc`"), col(s"`mx:$pc`"))
      val cleanSide = col("dvPath").isNull
      val r = exceptTouched(ckptLiveDF(spark, m, Seq(pc), withDv = true),
          m.touchedAll)
        .agg(count(lit(1)), count(mnC),
          min(when(cleanSide, mnC)), max(when(cleanSide, mxC)),
          min(when(!cleanSide, mnC)), max(when(!cleanSide, mxC)))
        .collect()(0)
      val (files, withStat) = (r.getLong(0), r.getLong(1))
      if (files + touched.size == 0) return None
      if (withStat != files || touched.exists(!_.stats.contains(pc)))
        return None
      def sideOf(i: Int): Option[(Double, Double)] =
        if (r.isNullAt(i)) None else Some((r.getDouble(i), r.getDouble(i + 1)))
      val ckptParts = BoundParts(sideOf(2), sideOf(4))
      touchedParts.map(_.merge(ckptParts)).flatMap(answer)
    }
  }

  // -------------------------------------------------------------------
  // Deletion-vector plumbing (see [[deleteVectored]] for the design)
  // -------------------------------------------------------------------

  /** Encode a DECODED absolute path to the URI raw-path form
    * `_metadata.file_path` renders (java.net.URI quoting — the same
    * quoting Hadoop `Path.toUri` applies, verified by `TxLogDvSpec`
    * against partition values with spaces and Hive `%XX` escapes).
    */
  private def uriEncodePath(p: String): String =
    new java.net.URI(null, null, p, null).getRawPath

  private def encodeRel(rel: String): String =
    uriEncodePath("/" + rel).stripPrefix("/")

  /** Inverse of [[encodeRel]] — '+' is pre-escaped because URLDecoder
    * would turn a literal plus into a space (URI quoting never emits
    * '+' for space, so the round trip is exact).
    */
  private def decodeRel(enc: String): String =
    java.net.URLDecoder.decode(enc.replace("+", "%2B"), "UTF-8")

  /** Root-relative URI-ENCODED path of each scanned row's source file,
    * extracted from `_metadata.file_path` executor-side. Matching on the
    * encoded suffix (never on the absolute string) keeps the comparison
    * independent of how the filesystem renders scheme and authority.
    */
  private def relPathExpr(spark: SparkSession, root: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    val encRoot = uriEncodePath(rootDecodedPath(fileSystem(spark, root), root))
    regexp_extract(col("_metadata.file_path"),
      java.util.regex.Pattern.quote(encRoot) + "/(.*)$", 1)
  }

  /** The deleted-position rows `(file ENCODED-rel, pos)` for `dvs`' files:
    * each file's rows come from its OWN (cumulative) sidecar only, so a
    * superseded sidecar still referenced by another file contributes
    * nothing stale.
    */
  private def dvRowsFor(spark: SparkSession, root: String,
                        dvs: Map[String, DvRef]): DataFrame = {
    import org.apache.spark.sql.functions.col
    dvs.groupBy(_._2._1).toSeq.sortBy(_._1).map { case (sc, entries) =>
      val encs = entries.keysIterator.map(encodeRel).toSeq
      // sidecar schema is engine-owned ([[writeDvSidecar]] selects exactly
      // (file STRING, pos BIGINT)) — supplying it skips the per-read
      // footer-inference pass (one driver job per sidecar per action)
      spark.read.schema(DvSidecarSchema).parquet(s"$root/$sc")
        .where(col("file").isin(encs: _*))
    }.reduce(_ unionByName _)
  }

  /** The fixed layout every [[writeDvSidecar]] emits. */
  private val DvSidecarSchema: StructType = StructType(Seq(
    StructField("file", StringType), StructField("pos", LongType)))

  /** The fixed layout every bloom-index sidecar write emits. Like
    * [[DvSidecarSchema]], supplied to every internal read of the sidecar:
    * these artifact layouts are engine-owned, so paying a footer-inference
    * pass (one driver job per `spark.read.parquet` plan) per read bought
    * nothing — q103 alone ran 11 such jobs per execution.
    */
  private val BloomSidecarSchema: StructType = StructType(Seq(
    StructField("file", StringType), StructField("bloom", BinaryType)))

  /** The format-3 checkpoint per-file row layout for `legendSize` stat
    * pairs — the ONE definition both v2 writers ([[checkpointV2]],
    * [[checkpointV2Incremental]]) build their rows against and every
    * reader scans with. `idx`/`file` are written required; file-source
    * reads relax every field to nullable, so a reader asking for fewer
    * stat pairs than the file holds is a subset projection that prunes
    * the rest.
    */
  private def ckptReadSchema(legendSize: Int): StructType = StructType(
    Seq(StructField("idx", LongType, nullable = false),
        StructField("file", StringType, nullable = false),
        StructField("dvPath", StringType), StructField("dvRows", LongType)) ++
      (0 until legendSize).flatMap(i => Seq(
        StructField(s"min$i", DoubleType), StructField(s"max$i", DoubleType))))

  /** One [[ckptReadSchema]] row: a live file's replay position, path and
    * vector, and its stats placed in the `min<i>`/`max<i>` pair `keyIdx`
    * assigns each key (the legend's positions).
    */
  private def ckptRow(idx: Long, file: String, dv: Option[DvRef],
                      stats: Map[String, (Double, Double)],
                      keyIdx: Map[String, Int]): Row = {
    val cells = new Array[Any](2 * keyIdx.size)
    stats.foreach { case (k, (mn, mx)) =>
      val j = keyIdx(k); cells(2 * j) = mn; cells(2 * j + 1) = mx
    }
    Row.fromSeq(Seq[Any](idx, file, dv.map(_._1).orNull,
      dv.map(_._2).map(Long.box).orNull) ++ cells)
  }

  /** Legacy format-2 (map-layout) checkpoint rows — readable forever. */
  private val CkptV2MapSchema: StructType = StructType(Seq(
    StructField("idx", LongType), StructField("file", StringType),
    StructField("statsMin", MapType(StringType, DoubleType)),
    StructField("statsMax", MapType(StringType, DoubleType)),
    StructField("dvPath", StringType), StructField("dvRows", LongType)))

  /** Filter `base` (a parquet scan of live files under `root`) down to
    * its NON-deleted rows by anti-joining `(file, row_index)` against the
    * files' deletion vectors. No-op (and zero plan overhead) when no file
    * has a vector. The DV side is row-count-proportional to DELETED rows
    * only — metadata-sized next to the data — so Spark's size estimation
    * broadcasts it and the scan side never shuffles.
    */
  /** The DV machinery materializes these two probe columns on scans; a
    * user column with either name would be silently clobbered and then
    * dropped — refuse loudly instead.
    */
  private def guardDvProbeCols(df: DataFrame): Unit = {
    val clash = df.columns.filter(c => c == "__dv_file" || c == "__dv_pos")
    if (clash.nonEmpty)
      throw new IllegalStateException(
        s"column name(s) ${clash.mkString(", ")} are reserved by the " +
          "deletion-vector read path; rename the column(s) to use " +
          "vector deletes on this table")
  }

  /** Deleted-row count at or below which the DV side gets an EXPLICIT
    * broadcast hint: the commit metadata knows the exact row count, so
    * the plan guarantee costs nothing — Spark's own size estimation of
    * the sidecar parquet would usually reach the same plan, but a
    * mis-estimate here would shuffle the DATA side, the one plan shape
    * the vector design must never produce. Above the bound (a table
    * overdue for OPTIMIZE), estimation decides.
    */
  private val DvBroadcastRowLimit = 5000000L

  private def applyDv(spark: SparkSession, root: String, base: DataFrame,
                      dvs: Map[String, DvRef]): DataFrame = {
    if (dvs.isEmpty) return base
    guardDvProbeCols(base)
    import org.apache.spark.sql.functions.{broadcast, col}
    val tagged = base
      .withColumn("__dv_file", relPathExpr(spark, root))
      .withColumn("__dv_pos", col("_metadata.row_index"))
    val raw = dvRowsFor(spark, root, dvs)
    val dvRows =
      if (dvs.valuesIterator.map(_._2).sum <= DvBroadcastRowLimit)
        broadcast(raw)
      else raw
    tagged.join(dvRows,
        tagged("__dv_file") === dvRows("file") &&
          tagged("__dv_pos") === dvRows("pos"), "left_anti")
      .drop("__dv_file", "__dv_pos")
  }

  /** DV-aware read of a SUBSET of a snapshot's live files — the shared
    * scan for every operation that rewrites specific files (merge
    * survivors, delete/update rewrites, compaction): rows already
    * deleted by a file's vector must not ride along into the rewrite.
    */
  private def readLiveFiles(spark: SparkSession, root: String,
                            schemaDdl: String, files: Seq[String],
                            snap: Snapshot): DataFrame = {
    val schema = StructType.fromDDL(schemaDdl)
    val base = spark.read
      .option("basePath", root)
      .schema(physSchema(schema, snap.colMap))
      .parquet(files.map(f => s"$root/$f"): _*)
    toLogicalCols(
      applyDv(spark, root, base,
        snap.dvs.view.filterKeys(files.toSet).toMap),
      schema, snap.colMap)
  }

  /** Write the cumulative sidecar for `newCounts`' files: the new
    * `positions` (file ENCODED-rel, pos) unioned with those files'
    * previous vectors. Returns the sidecar's root-relative path and the
    * dv map for the commit. The caller must [[reapSidecar]] if its
    * commit never lands — until a commit references it, nothing else
    * ever reclaims it.
    */
  private def writeDvSidecar(spark: SparkSession, root: String,
                             positions: DataFrame,
                             newCounts: Map[String, Long],
                             current: Snapshot): (String, Map[String, DvRef]) = {
    val prev = current.dvs.view.filterKeys(newCounts.keySet).toMap
    val allRows =
      if (prev.isEmpty) positions.select("file", "pos")
      else positions.select("file", "pos")
        .unionByName(dvRowsFor(spark, root, prev))
    val sidecarRel = s"$LogDirName/dv/dv_${
      UUID.randomUUID().toString.replace("-", "").take(16)}"
    val totalRows = newCounts.values.sum + prev.values.map(_._2).sum
    // few-million positions per output file: one file for the common
    // sparse case, bounded parallelism for a bulk one — coalesce, never
    // repartition: the positions come off the probe's own stages, and
    // the sparse case was paying a whole exchange to land one file
    val nOut = math.max(1, math.min(32, (totalRows / 4000000L).toInt))
    allRows.coalesce(nOut)
      .write.mode(SaveMode.ErrorIfExists).parquet(s"$root/$sidecarRel")
    val dvMap: Map[String, DvRef] = newCounts.map { case (f, n) =>
      f -> ((sidecarRel, n + current.dvs.get(f).map(_._2).getOrElse(0L)): DvRef) }
    (sidecarRel, dvMap)
  }

  private def reapSidecar(spark: SparkSession, root: String,
                          sidecarRel: String): Unit =
    try { fileSystem(spark, root).delete(new Path(s"$root/$sidecarRel"), true); () }
    catch { case _: IOException => () }

  /** Per-file match counts of a probe — `files` carries one `file`
    * column of [[taggedVisible]]'s encoded ids, one row per matched
    * row — in ONE aggregation job, keyed by the log's root-relative
    * file id. Every id must be live in `current`: one outside it means
    * the executor-side path extraction disagrees with the log's
    * canonical rel form, and dropping it would commit a "successful"
    * DML that silently skipped its rows (or a vector no read matches,
    * un-deleting them) — fail loudly instead.
    */
  private def liveMatchCounts(current: Snapshot, operation: String,
                              files: DataFrame): Seq[(String, Long)] = {
    import org.apache.spark.sql.functions.{count, lit}
    val counts = files.groupBy("file").agg(count(lit(1))).collect()
      .map(r => decodeRel(r.getString(0)) -> r.getLong(1)).toSeq
    val liveSet = current.live.toSet
    val unknown = counts.iterator.map(_._1).filterNot(liveSet.contains).toSeq
    require(unknown.isEmpty,
      s"$operation matched-file id not in the live set: ${unknown.head}")
    counts
  }

  /** The one commit tail of the merge-on-read paths ([[deleteVectored]],
    * [[updateVectored]], merge under `spark.graft.merge.mode=vector`).
    * `positions` holds the matched rows' `(file, pos)` identities off
    * the DV-tagged probe scan; `rows` the batch appended in the same
    * commit (None for a pure delete). In order: per-file match counts
    * ([[liveMatchCounts]]); the no-op return when nothing matched and
    * `skipIfUnmatched`; [[stageBatch]] of `rows`; the cumulative
    * sidecar; the stale-base-fenced commit — and the
    * sidecar's reap when that commit never lands (nothing else ever
    * reclaims an unreferenced sidecar; staged adds become ordinary
    * orphans for cleanOrphans). `metrics` maps (matched rows, vectored
    * files, added files) to the operation's commit metric keys.
    */
  private def commitVectored(spark: SparkSession, root: String,
                             current: Snapshot, operation: String,
                             parts: Seq[String], positions: DataFrame,
                             rows: Option[DataFrame], statsCols: Seq[String],
                             skipIfUnmatched: Boolean,
                             metrics: (Long, Long, Long) => Map[String, Long]): Long = {
    val newCounts = liveMatchCounts(current, operation, positions).toMap
    if (skipIfUnmatched && newCounts.isEmpty) return current.version
    val Staged(adds, ddl, stats, _, _) = rows.fold(nothingStaged(current))(
      stageBatch(spark, _, root, parts, statsCols, current.colMap, operation))
    val (sidecarRel, dvMap) =
      if (newCounts.isEmpty) (None, Map.empty[String, DvRef])
      else {
        val (sc, m) = writeDvSidecar(spark, root, positions, newCounts, current)
        (Some(sc), m)
      }
    try commitLoop(spark, root, operation, parts, { (commits, _) =>
        val schemaDdl = rows match {
          // a data-less commit echoes the schema it is based on
          case None => commits.lastOption.map(_.schemaDdl)
            .getOrElse(current.schemaDdl)
          // committedDdl, not the old schema verbatim: an unmatched
          // merge's raw update schema must not narrow the table, and a
          // SET widening a column's type staged files the old schema
          // cannot read — rejected BEFORE the commit, like the rewrites
          case Some(_) => committedDdl(spark, commits, ddl, operation, root)
        }
        (adds, Seq.empty, schemaDdl)
      }, stats, dv = dvMap,
      metrics = metrics(newCounts.values.sum, newCounts.size.toLong,
        adds.size.toLong),
      basedOn = Some(current.version))
    catch { case t: Throwable =>
      sidecarRel.foreach(reapSidecar(spark, root, _)); throw t
    }
  }

  /** The data rows of `files` at the `(file, pos)` positions listed in
    * `positions` — the semi-join shared by the change feed's vector
    * delta paths (rows a commit's vector newly deleted, rows a rollback
    * resurrected).
    */
  private def rowsAtPositions(spark: SparkSession, root: String,
                              files: Seq[String], positions: DataFrame,
                              schema: StructType,
                              colMap: Map[String, String] = Map.empty)
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    val tagged = spark.read.option("basePath", root)
      .schema(physSchema(schema, colMap))
      .parquet(files.map(f => s"$root/$f"): _*)
      .withColumn("__dv_file", relPathExpr(spark, root))
      .withColumn("__dv_pos", col("_metadata.row_index"))
    toLogicalCols(tagged.join(positions,
        tagged("__dv_file") === positions("file") &&
          tagged("__dv_pos") === positions("pos"), "left_semi")
      .drop("__dv_file", "__dv_pos"), schema, colMap)
  }

  /** The snapshot's VISIBLE rows with their `__dv_file` (encoded
    * root-relative path) and `__dv_pos` (row index) identity columns
    * retained — the shared probe scan for file-granular operations.
    * The id columns must be materialized BEFORE the dv anti-join:
    * `input_file_name()`/`_metadata` cannot be resolved on a joined
    * plan (multi-source), which is also why the probes use this instead
    * of tagging [[snapshot]]'s output.
    */
  private def taggedVisible(spark: SparkSession, root: String,
                            snap: Snapshot,
                            onlyFiles: Option[Seq[String]] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val schema = StructType.fromDDL(snap.schemaDdl)
    val base = spark.read
      .option("basePath", root)
      .schema(physSchema(schema, snap.colMap))
      .parquet(onlyFiles.getOrElse(snap.live).map(f => s"$root/$f"): _*)
    guardDvProbeCols(base)
    // logical aliasing AFTER the _metadata tags (they resolve only on
    // the scan relation) and BEFORE the caller's predicates (which
    // reference logical names)
    val tagged = toLogicalCols(base
      .withColumn("__dv_file", relPathExpr(spark, root))
      .withColumn("__dv_pos", col("_metadata.row_index")),
      schema, snap.colMap)
    val scanned = onlyFiles.getOrElse(snap.live).toSet
    // set lookups on BOTH membership tests: snap.live is a Seq, and a
    // linear contains per vectored file would be O(D*L) driver work on
    // a large table; when onlyFiles is absent, scanned IS the live set
    val liveSet = if (onlyFiles.isEmpty) scanned else snap.live.toSet
    val liveDvs = snap.dvs.view
      .filterKeys(f => scanned(f) && liveSet(f)).toMap
    if (liveDvs.isEmpty) tagged
    else {
      val raw = dvRowsFor(spark, root, liveDvs)
      val dvRows =
        if (liveDvs.valuesIterator.map(_._2).sum <= DvBroadcastRowLimit)
          org.apache.spark.sql.functions.broadcast(raw)
        else raw
      tagged.join(dvRows, tagged("__dv_file") === dvRows("file") &&
        tagged("__dv_pos") === dvRows("pos"), "left_anti")
    }
  }

  private def snapshot(spark: SparkSession, root: String,
                       snap: Snapshot): DataFrame = {
    // the snapshot's schema is the newest commit's — older files simply
    // read null for columns they predate (by-name parquet resolution), so
    // schema evolution is append-only and old snapshots reproduce exactly.
    // The SCAN uses the physical (on-file) names; the result is aliased
    // back to the logical schema (renamed columns, [[renameColumn]]).
    val schema = StructType.fromDDL(snap.schemaDdl)
    if (snap.live.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else {
      // METADATA-ONLY planning when the commit log can serve the file
      // index itself: a stage-recorded byte size for every live file,
      // and (for partitioned layouts) partition values parseable from
      // every live path. Falls back to the generic listed scan
      // otherwise — correct, just O(files) filesystem calls slower.
      val metaScan = {
        val sizes = snap.stats.col(FileSizeKey) // pruned: one column
        if (!snap.live.forall(sizes.contains)) None
        else metadataScan(spark, root, snap, schema, sizes)
      }
      val scan = metaScan.getOrElse(
        spark.read
          .option("basePath", root)
          .schema(physSchema(schema, snap.colMap))
          .parquet(snap.live.map(f => s"$root/$f"): _*))
      toLogicalCols(
        applyDv(spark, root, scan,
          snap.dvs.view.filterKeys(snap.live.toSet).toMap),
        schema, snap.colMap)
    }
  }

  /** The metadata-served scan ([[GraftFileIndex]]) for `snap`, or None
    * when the layout defeats it (mixed partition depths, a dir segment
    * that isn't `col=value`, a partition column absent from the
    * schema) — the caller then falls back to the listed scan. Partition
    * values are parsed once per partition DIRECTORY and cast to the
    * schema type in LEGACY mode (a malformed value reads null, exactly
    * like Spark's own partition inference on a typed user schema; by
    * construction the values were written by partitionBy of typed
    * columns, so this is belt-and-braces). Column nullability and
    * order: every served field is nullable like a user-supplied read
    * schema (files predating an evolved column must null-fill it), and
    * a final projection restores the table's column order —
    * HadoopFsRelation appends partition columns last.
    */
  private def metadataScan(spark: SparkSession, root: String,
                           snap: Snapshot, schema: StructType,
                           sizes: Map[String, (Double, Double)])
      : Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, GenericInternalRow, Literal}
    val phys = physSchema(schema, snap.colMap)
    val partCols: Seq[String] = snap.live.head.split('/').dropRight(1)
      .toSeq.map(_.takeWhile(_ != '=')).filter(_.nonEmpty)
    val partFields = partCols.map(c =>
      phys.find(_.name.equalsIgnoreCase(c)).getOrElse(return None))
    val partSchemaS = StructType(partFields.map(_.copy(nullable = true)))
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val fs = fileSystem(spark, root)
    val rootQ = fs.makeQualified(new Path(root))
    val byDir = scala.collection.mutable.LinkedHashMap.empty[
      String, (org.apache.spark.sql.catalyst.InternalRow,
               scala.collection.mutable.ArrayBuffer[
                 org.apache.hadoop.fs.FileStatus])]
    snap.live.foreach { f =>
      val segs = f.split('/')
      if (segs.length != partCols.length + 1) return None
      val dir = segs.dropRight(1).mkString("/")
      val slot = byDir.getOrElseUpdate(dir, {
        val vals = new Array[Any](partCols.length)
        var i = 0
        while (i < partCols.length) {
          val seg = segs(i)
          val eq = seg.indexOf('=')
          if (eq <= 0 ||
              !seg.substring(0, eq).equalsIgnoreCase(partCols(i)))
            return None
          val raw =
            ExternalCatalogUtils.unescapePathName(seg.substring(eq + 1))
          vals(i) =
            if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
            else Cast(Literal(raw), partFields(i).dataType, tz,
              EvalMode.LEGACY).eval(null)
          i += 1
        }
        (new GenericInternalRow(vals),
          scala.collection.mutable.ArrayBuffer
            .empty[org.apache.hadoop.fs.FileStatus])
      })
      slot._2 += new org.apache.hadoop.fs.FileStatus(
        sizes(f)._1.toLong, false, 1, 128L * 1024 * 1024, 0L,
        new Path(rootQ, f))
    }
    val partLc = partCols.map(lcol).toSet
    val dataSchema = StructType(phys
      .filterNot(fld => partLc(lcol(fld.name)))
      .map(_.copy(nullable = true)))
    val df = GraftFileIndex.relation(spark, rootQ, partSchemaS,
      byDir.values.map { case (r, fb) => (r, fb.toArray) }.toSeq,
      dataSchema)
    Some(df.select(phys.fieldNames.toIndexedSeq
      .map(org.apache.spark.sql.functions.col): _*))
  }

  // -------------------------------------------------------------------
  // Checkpoints
  // -------------------------------------------------------------------

  /** Auto-checkpoint cadence default: one summary every N commits
    * (written best-effort after the commit lands — a lost checkpoint
    * costs nothing but replay length). Overridable per session via
    * `spark.graft.checkpoint.interval`: a checkpoint write is O(live
    * files), so a 10^6-file table committing every few seconds raises
    * the cadence to amortize it, while a small hot table can lower it
    * to keep the replay tail tiny — the same knob Delta exposes as
    * `checkpointInterval`.
    */
  val CheckpointInterval = 10

  private val CkptFile = raw"(\d{20})\.checkpoint\.json".r

  private def ckptPath(root: String, version: Long): Path =
    new Path(f"$root/$LogDirName/$version%020d.checkpoint.json")

  /** Format v2: a PARQUET checkpoint directory — one row per live file
    * (path, min/max stats maps, DV ref) written as a distributed job,
    * plus an `_meta.json` header (underscore-prefixed, so parquet scans
    * of the directory ignore it) carrying the table-scoped singletons:
    * version, schema DDL, txn watermarks, constraints, drop tombstones.
    *
    * This removes the last driver-side O(table-files) serialization
    * point in the engine: the v1 JSON checkpoint builds and parses the
    * ENTIRE live set — ~10^6 files x multi-column stats at 100 TB — as
    * one multi-GB driver string per checkpoint write and per cold read
    * (the wall Delta hit before moving to Parquet checkpoints). Here
    * the write is a parallel parquet job over metadata-sized rows, the
    * bytes are columnar and compressed, and the read streams row
    * batches instead of materializing a document. The commit-log
    * ENTRIES stay JSON (O(files touched) each — fine); only the
    * checkpoint is row-scaled with the table.
    *
    * v1 checkpoints remain readable forever (existing logs resolve
    * unchanged); [[writeLegacyCheckpointV1]] still writes one as a
    * fixture. When both formats exist at one version they summarize
    * identical state and v2 is preferred.
    */
  private val CkptDirV2 = raw"(\d{20})\.checkpoint\.parquet".r

  private def ckptPathV2(root: String, version: Long): Path =
    new Path(f"$root/$LogDirName/$version%020d.checkpoint.parquet")

  private val CkptMetaName = "_meta.json"

  // -- Checkpoint codec: the one place the checkpoint format lives --
  //
  // Names ([[ckptsIn]]), the header's table-scoped state ([[ckptScalars]]
  // / [[putCkptScalars]]), the reader gate ([[ckptFormat]]) and the
  // per-file row layout ([[ckptReadSchema]]). Every checkpoint reader,
  // writer and log-maintenance op goes through these.

  /** One checkpoint version's names in a `_txlog` listing: the v1 JSON
    * file and/or the v2 parquet directory.
    */
  private final case class CkptNames(v1: Option[String], v2: Option[String]) {
    def all: Seq[String] = v1.toSeq ++ v2
  }

  /** Every checkpoint in a `_txlog` name listing, by ascending version —
    * a version carrying both forms is ONE entry. Parses the listing the
    * caller already holds; never lists.
    */
  private def ckptsIn(names: Iterable[String])
      : scala.collection.immutable.SortedMap[Long, CkptNames] =
    names.foldLeft(scala.collection.immutable.SortedMap.empty[Long, CkptNames]) {
      (acc, n) =>
        def put(v: String)(f: CkptNames => CkptNames) = {
          val k = v.toLong
          acc.updated(k, f(acc.getOrElse(k, CkptNames(None, None))))
        }
        n match {
          case CkptFile(v)  => put(v)(_.copy(v1 = Some(n)))
          case CkptDirV2(v) => put(v)(_.copy(v2 = Some(n)))
          case _            => acc
        }
    }

  private def readNode(fs: FileSystem,
                       p: Path): com.fasterxml.jackson.databind.JsonNode = {
    val in = fs.open(p)
    try mapper.readTree(new String(in.readAllBytes(), UTF_8))
    finally in.close()
  }

  /** The reader gate every v2 header passes before its rows are trusted:
    * the `minReader` rung and the layout `format` (2 when absent — the
    * pre-legend writers) must both be ones this build reads. Returns the
    * format.
    */
  private def ckptFormat(n: com.fasterxml.jackson.databind.JsonNode,
                         root: String, version: Long): Int = {
    checkReaderVersion(n, s"checkpoint v$version")
    val fmt = Option(n.get("format")).map(_.asInt).getOrElse(2)
    if (fmt > 3)
      throw new UnsupportedLogFeatureException(
        s"checkpoint v$version of $root uses layout format $fmt; this " +
          "build reads <= 3 — upgrade the library to read this table")
    fmt
  }

  /** A checkpoint header's table-scoped state (v1 document or v2
    * `_meta.json` — both carry the same keys). `version` comes from the
    * checkpoint's name.
    */
  private def ckptScalars(n: com.fasterxml.jackson.databind.JsonNode,
                          version: Long): ScalarState = {
    val txns = Map.newBuilder[String, Long]
    Option(n.get("txns")).foreach(_.properties().forEach(e =>
      txns += e.getKey -> e.getValue.asLong))
    val cons = Map.newBuilder[String, String]
    Option(n.get("constraints")).foreach(_.properties().forEach(e =>
      cons += e.getKey -> e.getValue.asText()))
    val dropped = Set.newBuilder[String]
    Option(n.get("droppedCols")).foreach(_.elements()
      .forEachRemaining(e => dropped += e.asText))
    val colMap = Map.newBuilder[String, String]
    Option(n.get("colMap")).foreach(_.properties().forEach(e =>
      colMap += e.getKey -> e.getValue.asText()))
    ScalarState(version, n.get("schemaDdl").asText, txns.result(),
      cons.result(), dropped.result(), colMap.result())
  }

  /** Inverse of [[ckptScalars]]: version, schema, the four table-scoped
    * maps (each omitted when empty) and the `minReader` stamp (omitted
    * below rung 2), in that key order.
    */
  private def putCkptScalars(n: com.fasterxml.jackson.databind.node.ObjectNode,
                             s: ScalarState, minReader: Int): Unit = {
    n.put("version", s.version)
    n.put("schemaDdl", s.schemaDdl)
    // txn watermarks survive log truncation or idempotent replay breaks
    if (s.txns.nonEmpty) {
      val tn = n.putObject("txns")
      s.txns.foreach { case (app, v) => tn.put(app, v) }
    }
    // constraints likewise outlive log truncation — losing one would
    // silently stop enforcing it on every later write
    if (s.constraints.nonEmpty) {
      val cn = n.putObject("constraints")
      s.constraints.foreach { case (name, sql) => cn.put(name, sql) }
    }
    // drop-column tombstones outlive log truncation — losing one would
    // let a later write evolve the name back in over stale file bytes
    if (s.droppedCols.nonEmpty) {
      val dc = n.putArray("droppedCols")
      s.droppedCols.toSeq.sorted.foreach(dc.add)
    }
    // the column mapping is version state like tombstones: losing it on
    // a truncated log would make every renamed column read as null
    if (s.colMap.nonEmpty) {
      val cm = n.putObject("colMap")
      s.colMap.foreach { case (l, p) => cm.put(l, p) }
    }
    if (minReader > 1) n.put("minReader", minReader)
  }

  /** A format-3 `_meta.json`: layout fields, then [[putCkptScalars]].
    * `liveCount` is what lets [[resolveMeta]] gate the distributed tier
    * without touching the per-file rows.
    */
  private def ckptMetaJson(liveCount: Long, legend: Seq[String],
                           s: ScalarState, minReader: Int): String = {
    val n = mapper.createObjectNode()
    n.put("format", 3)
    n.put("liveCount", liveCount)
    if (legend.nonEmpty) {
      val sc = n.putArray("statCols")
      legend.foreach(sc.add)
    }
    putCkptScalars(n, s, minReader)
    n.toString
  }

  /** A format-3 header's `statCols` legend: the stat key of each
    * `min<i>`/`max<i>` column pair.
    */
  private def ckptLegend(
      n: com.fasterxml.jackson.databind.JsonNode): IndexedSeq[String] = {
    val b = IndexedSeq.newBuilder[String]
    Option(n.get("statCols")).foreach(_.elements()
      .forEachRemaining(e => b += e.asText))
    b.result()
  }

  /** History sidecar riding every v2 checkpoint: summary rows
    * ([[HistRow]] — no file lists) for every commit at-or-below the
    * checkpoint version. A SEPARATE file from `_meta.json` deliberately:
    * the meta header fronts every resolve (hot path, must stay small);
    * history is read only by DESCRIBE HISTORY and timestamp resolution.
    * Underscore-prefixed so parquet scans of the directory ignore it.
    */
  private val CkptHistName = "_history.json"

  /** Bound on carried history rows (newest kept) —
    * `spark.graft.history.retainEntries`; at ~100 bytes/row the default
    * caps the sidecar at ~10 MB on a table with 100k commits.
    */
  private def historyRetain(spark: SparkSession): Int = {
    val raw = spark.conf.get("spark.graft.history.retainEntries", "100000")
    val v = try raw.trim.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"spark.graft.history.retainEntries must be a positive integer " +
          s"(newest history rows carried by each checkpoint), got: '$raw'")
    }
    if (v < 1) throw new IllegalArgumentException(
      s"spark.graft.history.retainEntries must be >= 1, got: $raw")
    v
  }

  private def renderHistRows(rows: Seq[HistRow]): String = {
    val n = mapper.createObjectNode()
    n.put("format", 1)
    val arr = n.putArray("rows")
    rows.foreach { h =>
      val o = arr.addObject()
      o.put("v", h.version); o.put("op", h.op); o.put("ts", h.tsMs)
      o.put("a", h.nAdd); o.put("r", h.nRemove)
      if (h.metrics.nonEmpty) {
        val m = o.putObject("m")
        h.metrics.toSeq.sortBy(_._1).foreach { case (k, x) => m.put(k, x) }
      }
    }
    n.toString
  }

  private def parseHistRows(s: String): Seq[HistRow] = {
    val n = mapper.readTree(s)
    val rows = n.get("rows")
    require(rows != null && rows.isArray, s"malformed $CkptHistName")
    (0 until rows.size).map { i =>
      val o = rows.get(i)
      val metrics = Option(o.get("m")).map { m =>
        val it = m.fields()
        val b = Map.newBuilder[String, Long]
        while (it.hasNext) {
          val e = it.next(); b += e.getKey -> e.getValue.asLong
        }
        b.result()
      }.getOrElse(Map.empty[String, Long])
      HistRow(o.get("v").asLong, o.get("op").asText, o.get("ts").asLong,
        o.get("a").asInt, o.get("r").asInt, metrics)
    }
  }

  /** The newest v2 checkpoint's carried history: (its version, summary
    * rows at-or-below it). One listing + one small JSON read; None when
    * no checkpoint carries a sidecar (logs checkpointed before the
    * sidecar existed keep the parse-everything path).
    */
  private def carriedHistory(spark: SparkSession, root: String)
      : Option[(Long, Seq[HistRow])] = {
    val fs = fileSystem(spark, root)
    val dir = new Path(s"$root/$LogDirName")
    val store = CommitStore.forPath(dir)
    val names = (try store.list(fs, dir)
                 catch { case scala.util.control.NonFatal(_) =>
                   return None })
      .map(_.getName)
    val vs = ckptsIn(names).collect { case (v, c) if c.v2.isDefined => v }
      .toSeq.reverse
    vs.iterator.flatMap { v =>
      val p = new Path(ckptPathV2(root, v), CkptHistName)
      try {
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          val s = try new String(in.readAllBytes(), UTF_8)
                  finally in.close()
          Some((v, parseHistRows(s)))
        }
      } catch {
        // a torn/unreadable sidecar is derived state: fall back to the
        // next-older checkpoint's, or to the raw parse
        case scala.util.control.NonFatal(_) => None
      }
    }.nextOption()
  }

  /** The rows a checkpoint at `upTo` carries: the newest prior sidecar
    * plus per-entry parses of the raw entries between — O(tail) per
    * checkpoint, not O(log length) — capped to [[historyRetain]]
    * (newest kept).
    */
  private def historyForCkpt(spark: SparkSession, root: String,
                             upTo: Long): Seq[HistRow] = {
    val (baseV, carried) = carriedHistory(spark, root) match {
      case Some((v, rows)) if v <= upTo => (v, rows)
      case _ => (-1L, Seq.empty[HistRow])
    }
    val tail = historyProject(spark, root, afterVersion = baseV)(histRowOf)
      .collect { case (_, Some(h)) if h.version <= upTo => h }
    // a gap (vacuumed range under a sidecar-less checkpoint) must not
    // chain forward — the sidecar records only what is contiguous with
    // this checkpoint's version
    val all = contiguousSuffix(carried ++ tail)
    val keep = historyRetain(spark)
    if (all.size > keep) all.takeRight(keep) else all
  }

  // Parquet checkpoint row layouts (the dir name is the same for both;
  // `_meta.json`'s "format" field disambiguates):
  //  - format 2 (legacy, read-only): idx, file, statsMin/statsMax as
  //    per-column maps, dvPath, dvRows — stats decodable only wholesale
  //  - format 3 (written): idx, file, dvPath, dvRows, then one nullable
  //    (min<i>, max<i>) double pair per stat column, positions fixed by
  //    the "statCols" legend in `_meta.json` — parquet column pruning
  //    makes single-stat reads O(files × 1), the [[StatsView]] contract

  /** Write a checkpoint summarizing the live set at the current latest
    * version, so readers replay checkpoint + tail instead of the whole
    * log. Idempotent (checkpoints are derived state, safe to overwrite);
    * returns the checkpointed version.
    */
  def checkpoint(spark: SparkSession, root: String): Option[Long] =
    // resolve through the previous checkpoint + tail (never a raw replay):
    // a checkpoint must not forget state whose commits predate an earlier
    // checkpoint
    scala.util.Try(resolveMeta(spark, root, None)).toOption match {
      case None => None
      case Some(Right(m)) =>
        // big table with a format-3 base: the new checkpoint derives
        // from the previous one distributed, O(tail) on the driver
        checkpointV2Incremental(spark, root, m)
        Some(m.version)
      case Some(Left(snap)) =>
        checkpointV2(spark, root, snap)
        Some(snap.version)
    }

  /** Write the original single-JSON-document (v1) checkpoint at the
    * current latest version — a fixture for building legacy logs (the
    * format stays READABLE unconditionally; [[checkpoint]] writes only
    * parquet).
    */
  private[graft] def writeLegacyCheckpointV1(spark: SparkSession,
                                             root: String): Option[Long] = {
    val snap = scala.util.Try(resolve(spark, root, None)).toOption
      .getOrElse(return None)
    val n = mapper.createObjectNode()
    val liveDvs = snap.dvs.view.filterKeys(snap.live.toSet).toMap
    putCkptScalars(n, scalarsOf(Left(snap)),
      minReaderOfState(snap.colMap, liveDvs, snap.droppedCols))
    val arr = n.putArray("live")
    snap.live.foreach(arr.add)
    // live files' stats only — a post-checkpoint rollback to a
    // pre-checkpoint version loses skipping for resurrected files
    // (conservative: they just stop pruning), never correctness
    statsToNode(n, snap.stats.full.view.filterKeys(snap.live.toSet).toMap)
    // live files' deletion vectors: losing one would resurrect its
    // deleted rows on a checkpoint-truncated log
    if (liveDvs.nonEmpty) {
      val dn = n.putObject("dv")
      liveDvs.foreach { case (file, (path, rows)) =>
        val e = dn.putObject(file); e.put("path", path); e.put("rows", rows)
      }
    }
    val out = fileSystem(spark, root).create(ckptPath(root, snap.version), true)
    try out.write(n.toString.getBytes(UTF_8)) finally out.close()
    Some(snap.version)
  }

  /** Parquet checkpoint writer (v2 — see [[CkptDirV2]]). The directory
    * appears ATOMICALLY via a tmp-dir rename: readers either see the
    * complete checkpoint or the previous state, never a half-written
    * one (the v1 in-place overwrite had a torn-read window on
    * re-checkpoint of the same version).
    */
  private def checkpointV2(spark: SparkSession, root: String,
                           snap: Snapshot): Unit = {
    val fs = fileSystem(spark, root)
    // Same-version checkpoints are derived, content-equivalent state, so
    // an existing COMPLETE directory never needs replacing — and never
    // replacing it means a valid checkpoint exists at EVERY instant (a
    // delete-then-rename swap has a crash window that destroys the only
    // checkpoint of a vacuumLog-truncated log, leaving the table
    // unresolvable). "Complete" = the meta header is present: it is
    // written last before the atomic rename publication, so a
    // half-deleted leftover is detectable by its absence and replaced
    // below.
    val dst = ckptPathV2(root, snap.version)
    if (fs.exists(dst) && fs.exists(new Path(dst, CkptMetaName))) return
    val liveSet = snap.live.toSet
    // live files' dv refs and stats only — same conservative rule as v1
    val liveDvs = snap.dvs.view.filterKeys(liveSet).toMap
    // FLAT stat columns (format 3): one nullable double pair per stat
    // key, positions fixed by the `statCols` legend in `_meta.json`.
    // Flatness is what makes the PRUNED readers real: parquet prunes
    // top-level columns, never map keys, so the old map layout (format
    // 2, still readable) forced every consumer to decode ALL stats to
    // use one column's.
    val fullStats = snap.stats.full
    val statKeys: IndexedSeq[String] = snap.live.iterator
      .flatMap(f => fullStats.get(f).iterator.flatMap(_.keysIterator))
      .toSet.toIndexedSeq.sorted
    val keyIdx = statKeys.zipWithIndex.toMap
    val rows: Seq[Row] = snap.live.zipWithIndex.map { case (f, i) =>
      ckptRow(i.toLong, f, liveDvs.get(f),
        fullStats.getOrElse(f, Map.empty), keyIdx)
    }
    // ~64k metadata-sized rows per part bounds both task count and
    // part size; a 10^6-file table writes ~16 parallel parts
    publishCkptDir(spark, fs, root, snap.version,
      tmp => spark.createDataFrame(
          spark.sparkContext.parallelize(
            rows, math.max(1, rows.size / 65536)),
          ckptReadSchema(statKeys.size))
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString),
      ckptMetaJson(snap.live.size.toLong, statKeys, scalarsOf(Left(snap)),
        minReaderOfState(snap.colMap, liveDvs, snap.droppedCols)))
  }

  /** Read a v2 checkpoint directory back into a [[Snapshot]]: header
    * from `_meta.json`, per-file rows from the parquet (pruned to the
    * checkpoint columns; sorted by `idx` to reproduce live-set order
    * exactly — commit replay order is part of the format).
    */
  /** Test seam: a deep CONTENT digest of a v2 checkpoint dir as public
    * types — (live order, schemaDdl, version, live files' full stats,
    * txns, constraints, dvs, droppedCols, colMap) — so the parity spec
    * can assert the classic and incremental writers produce the same
    * checkpoint for the same log (legend layout and idx numbering are
    * free to differ; content is not).
    */
  private[lake] def ckptDigestV2(spark: SparkSession, root: String, v: Long)
      : (Seq[String], String, Long, FileStats, Map[String, Long],
         Map[String, String], Map[String, DvRef], Set[String],
         Map[String, String]) = {
    val s = readCkptV2(spark, root, v)
    val liveSet = s.live.toSet
    (s.live, s.schemaDdl, s.version,
      s.stats.full.view.filterKeys(liveSet).toMap
        .filter(_._2.nonEmpty),
      s.txns, s.constraints, s.dvs, s.droppedCols, s.colMap)
  }

  private def readCkptV2(spark: SparkSession, root: String,
                         version: Long): Snapshot = {
    val dir = ckptPathV2(root, version)
    val n = readNode(fileSystem(spark, root), new Path(dir, CkptMetaName))
    val fmt = ckptFormat(n, root, version)
    val scalars = ckptScalars(n, version)
    if (fmt == 3) {
      // format 3: live set + dv refs load eagerly (the live FILE LIST is
      // what a snapshot IS — every consumer needs it), stats stay behind
      // the view's pruned loaders. This is what bounds a 100k-file
      // resolve to O(files) driver rows instead of O(files × statCols)
      // decoded map cells.
      val legend = ckptLegend(n)
      val rows = spark.read.schema(ckptReadSchema(0)).parquet(dir.toString)
        .select("idx", "file", "dvPath", "dvRows")
        .collect().sortBy(_.getLong(0))
      val live = rows.map(_.getString(1)).toSeq
      val dvB = Map.newBuilder[String, DvRef]
      rows.foreach { r =>
        if (!r.isNullAt(2))
          dvB += r.getString(1) -> ((r.getString(2), r.getLong(3)): DvRef)
      }
      val dirStr = dir.toString
      val stats = new StatsView(
        () => readCkptStatsFull(dirStr, legend),
        c => readCkptStatsCol(dirStr, legend, c),
        Map.empty)
      snapshotOf(scalars, live, stats, dvB.result())
    } else {
      // format 2 (map-layout rows): readable forever; eager like v1
      val rows = spark.read.schema(CkptV2MapSchema).parquet(dir.toString)
        .select("idx", "file", "statsMin", "statsMax", "dvPath", "dvRows")
        .collect().sortBy(_.getLong(0))
      val live = rows.map(_.getString(1)).toSeq
      val statsB = Map.newBuilder[String, Map[String, (Double, Double)]]
      val dvB = Map.newBuilder[String, DvRef]
      rows.foreach { r =>
        val mns = r.getMap[String, Double](2)
        val mxs = r.getMap[String, Double](3)
        if (mns.nonEmpty)
          statsB += r.getString(1) -> mns.keysIterator
            .map(c => c -> (mns(c), mxs(c))).toMap
        if (!r.isNullAt(4))
          dvB += r.getString(1) -> ((r.getString(4), r.getLong(5)): DvRef)
      }
      snapshotOf(scalars, live, StatsView.eager(statsB.result()),
        dvB.result())
    }
  }

  /** Pruned read of ONE stat column from a format-3 checkpoint: a
    * 3-column parquet scan (`file`, `min<i>`, `max<i>`), so the cost is
    * O(files) rows × O(1) columns no matter how many stat columns the
    * table records — and files without the stat are dropped by the
    * not-null predicate at the scan. Runs on whatever session is active
    * when the stat is first demanded (the view memoizes per column).
    */
  private def readCkptStatsCol(dir: String, legend: IndexedSeq[String],
                               c: String): Map[String, (Double, Double)] =
    ckptStatsColDf(dir, legend, c) match {
      case None => Map.empty
      case Some(df) =>
        // the checkpoint dir can be deleted (retention) between the
        // resolve that captured this loader and the first stat demand;
        // EVERY consumer treats absent stats conservatively (keep the
        // file / fall back to the scan or listing), so degrading to
        // empty is safe where propagating would fail the query
        try df.collect()
          .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
          .toMap
        catch { case e if isPathGone(e) => Map.empty }
    }

  /** The pruned single-stat-column scan as a DataFrame (None when the
    * column is not in the legend) — separated so the plan-shape spec can
    * assert the parquet read really is 3 columns wide.
    */
  private[lake] def ckptStatsColDf(dir: String, legend: IndexedSeq[String],
                                   c: String): Option[DataFrame] =
    legend.indexOf(c) match {
      case -1 => None
      case i =>
        import org.apache.spark.sql.functions.col
        Some(SparkSession.active.read
          .schema(ckptReadSchema(legend.size)).parquet(dir)
          .select(col("file"), col(s"min$i"), col(s"max$i"))
          .where(col(s"min$i").isNotNull))
    }

  /** Full stat materialization from a format-3 checkpoint — the writers'
    * path (re-checkpoint, clone, ANALYZE); readers use the pruned
    * [[readCkptStatsCol]].
    */
  /** A read failure that means the path vanished (deleted checkpoint),
    * in any of the shapes Spark surfaces it.
    */
  private def isPathGone(e: Throwable): Boolean = e match {
    case _: java.io.FileNotFoundException => true
    case ae: org.apache.spark.sql.AnalysisException =>
      ae.getMessage != null &&
        (ae.getMessage.contains("PATH_NOT_FOUND") ||
          ae.getMessage.toLowerCase(java.util.Locale.ROOT)
            .contains("does not exist"))
    case se: org.apache.spark.SparkException =>
      se.getCause != null && isPathGone(se.getCause)
    case _ => false
  }

  private def readCkptStatsFull(dir: String,
                                legend: IndexedSeq[String]): FileStats = {
    if (legend.isEmpty) return Map.empty
    val cols = Seq("file") ++
      legend.indices.flatMap(i => Seq(s"min$i", s"max$i"))
    val rows =
      try SparkSession.active.read
        .schema(ckptReadSchema(legend.size)).parquet(dir)
        .select(cols.head, cols.tail: _*).collect()
      catch { case e if isPathGone(e) =>
        return Map.empty } // conservative: consumers fall back
    rows.iterator.map { r =>
      val m = legend.indices.iterator.flatMap { i =>
        if (r.isNullAt(1 + 2 * i)) Iterator.empty
        else Iterator(legend(i) ->
          (r.getDouble(1 + 2 * i), r.getDouble(2 + 2 * i)))
      }.toMap
      r.getString(0) -> m
    }.filter(_._2.nonEmpty).toMap
  }

  // -------------------------------------------------------------------
  // Maintenance
  // -------------------------------------------------------------------

  /** Cluster the table by `column`: one OVERWRITE commit whose files are
    * range-partitioned on the column, each carrying min/max stats — the
    * maintenance op that makes [[readRange]] data skipping selective on
    * tables whose ingest order scattered the key (scattered key ranges
    * make every file's [min, max] span everything, so nothing skips).
    * `filesPerTable` bounds output file count; rows with a null cluster
    * key sort into the first range. Snapshot semantics like any commit:
    * readers switch from the old layout to the new atomically, and old
    * versions stay time-travelable.
    */
  def cluster(spark: SparkSession, root: String, column: String,
              filesPerTable: Int): Long = {
    require(filesPerTable >= 1)
    import org.apache.spark.sql.functions.col
    val snap = resolve(spark, root, None)
    val current = snapshot(spark, root, snap)
    val parts = partitionColsOf(spark, root, snap)
    overwrite(spark,
      current.repartitionByRange(filesPerTable, col(column)),
      root, parts, statsCols = Seq(column), operation = "cluster")
  }

  /** Multi-column Z-ORDER clustering: rewrite the table so files are
    * locality-clustered on EVERY listed column at once. Single-column
    * [[cluster]] makes stats selective for that column only; here each
    * column is bucketed equal-width between its committed min/max (one
    * metadata-sized agg) and the bucket bits are interleaved LSB-first
    * into one z-value, which becomes the range-partition key — so a
    * range predicate on ANY of the columns skips most files via
    * [[readRange]] stats. Degenerate columns (all-null or constant)
    * bucket as 0 and simply stop contributing locality; rows with a null
    * in any z column get a null z-value and cluster together. Same cost
    * model as cluster: one full rewrite, one commit, old layout stays a
    * time travel away.
    */
  def clusterZ(spark: SparkSession, root: String, columns: Seq[String],
               filesPerTable: Int, bitsPerCol: Int = 16): Long = {
    require(columns.nonEmpty && filesPerTable >= 1)
    require(columns.size * bitsPerCol <= 62, "z-value must fit in a long")
    import org.apache.spark.sql.functions._
    val snap0 = resolve(spark, root, None)
    val current = snapshot(spark, root, snap0)
    val parts = partitionColsOf(spark, root, snap0)
    // try_cast: a non-numeric column degrades to the documented
    // degenerate case (null bounds -> bucket 0, no locality contribution)
    // instead of an ANSI cast error mid-rewrite
    val aggs = columns.flatMap(c =>
      Seq(min(expr(s"try_cast(`$c` AS DOUBLE)")).as(s"lo_$c"),
        max(expr(s"try_cast(`$c` AS DOUBLE)")).as(s"hi_$c")))
    val row = current.agg(aggs.head, aggs.tail: _*).head()
    val nb = 1L << bitsPerCol
    val buckets = columns.map { c =>
      val (iLo, iHi) = (row.fieldIndex(s"lo_$c"), row.fieldIndex(s"hi_$c"))
      if (row.isNullAt(iLo) || row.isNullAt(iHi) ||
          row.getDouble(iLo) == row.getDouble(iHi)) lit(0L)
      else {
        val (l, h) = (row.getDouble(iLo), row.getDouble(iHi))
        least(lit(nb - 1), greatest(lit(0L),
          floor((expr(s"try_cast(`$c` AS DOUBLE)") - l) / ((h - l) / nb))
            .cast("long")))
      }
    }
    var z = lit(0L)
    for (b <- 0 until bitsPerCol; (bc, i) <- buckets.zipWithIndex)
      z = z.bitwiseOR(shiftleft(
        shiftright(bc, b).bitwiseAND(1L), b * columns.size + i))
    overwrite(spark, current.repartitionByRange(filesPerTable, z),
      root, parts, statsCols = columns, operation = "cluster")
  }

  /** Bin-pack small files (the OPTIMIZE of every log format): within each
    * partition directory, rewrite the live files under `smallerThanBytes`
    * into ~`targetBytes` replacements — ONE commit removing the packed
    * sources and adding the packed outputs, so readers switch layouts
    * atomically and the pre-compaction layout stays a time travel away.
    * The essential maintenance op for a table fed by streaming
    * micro-batches or frequent small promotes, whose per-commit files
    * are far below the efficient scan size: at 100 TB the cost of NOT
    * compacting is millions of file opens per query.
    *
    * Concurrency: compaction rewrites rows verbatim, so it COMMUTES with
    * any concurrent commit that keeps its source files live AND their
    * deletion vectors unchanged (appends, upserts/merges of other files)
    * — those proceed; a commit that removed one of the sources (a merge
    * rewriting the same file, a concurrent compact) or changed a
    * source's deletion vector (a concurrent delete_dv, whose deletes the
    * pre-vector packed rows would resurrect) is a real conflict and
    * fails with `ConcurrentModificationException` for the caller to
    * re-run. The
    * committed schema is the winning state's latest, so a concurrent
    * schema evolution is respected (packed files read null for columns
    * they predate, like any old file).
    *
    * Only directories with >= 2 small files are touched (packing one file
    * buys nothing); stats are recomputed for every column any packed
    * source had stats on, so [[readRange]] skipping survives. Packing
    * round-robins rows within a directory, which is locality-destroying
    * across the small sources — after heavy compaction of a clustered
    * table, re-[[cluster]] if range selectivity matters. Returns the
    * committed version, or the current version untouched when nothing
    * qualifies (idempotent no-op).
    */
  def compact(spark: SparkSession, root: String,
              smallerThanBytes: Long = 64L * 1024 * 1024,
              targetBytes: Long = 128L * 1024 * 1024,
              partitionFilter: Map[String, String] = Map.empty,
              clusterBy: Option[String] = None,
              minOutputFiles: Int = 1): Long = {
    require(smallerThanBytes >= 1 && targetBytes >= 1 && minOutputFiles >= 1)
    val fs = fileSystem(spark, root)
    val current = resolve(spark, root, None)
    // fail loudly on a filter that can never select anything (typo'd or
    // non-partition column): a silent zero-match no-op would report
    // success while compacting nothing (Delta errors here too)
    if (partitionFilter.nonEmpty) {
      val parts = partitionColsOf(spark, root, current)
      val bad = partitionFilter.keySet -- parts.toSet
      require(bad.isEmpty,
        s"compact partitionFilter names non-partition column(s) " +
          s"${bad.mkString(", ")}; partition columns: ${parts.mkString(", ")}")
    }
    // partition-SCOPED maintenance: at 100 TB nobody compacts the whole
    // table — the nightly loop packs only the partitions the day's
    // ingest touched. The filter applies BEFORE any directory listing,
    // so the probe cost is O(selected dirs), not O(table dirs).
    val dirMatches: String => Boolean = dir => {
      val segs = dir.split('/').toSet
      partitionFilter.forall { case (k, v) =>
        segs.contains(s"$k=${escapePartitionValue(v)}") }
    }
    // candidates: small files (the packing case) plus ANY file carrying a
    // deletion vector (the purge case — OPTIMIZE is what materializes
    // vectors back into clean files, whatever the file's size)
    val small = liveSizesOf(spark, root, current, dirMatches)
      .filter { case (f, len) =>
        len < smallerThanBytes || current.dvs.contains(f) }
    val groups = small.groupBy { case (f, _) => relDir(f) }
      .filter { case (_, files) =>
        files.size >= 2 || files.exists(f => current.dvs.contains(f._1)) }
    if (groups.isEmpty) return current.version

    // one branch per directory, each repartitioned to its own packed file
    // count; the union concatenates branch partitions without a shuffle,
    // so the staged write emits exactly ceil(dirBytes/targetBytes) files
    // per directory
    val packed = groups.toSeq.sortBy(_._1).map { case (_, files) =>
      // the minOutputFiles skipping-granularity floor is capped at the
      // group's OWN file count: packing must never leave a directory
      // more fragmented than it found it (a 5-file group under an
      // 8-file floor would otherwise "pack" to 8)
      val nOut = math.max(math.min(minOutputFiles, files.size),
        math.ceil(files.map(_._2).sum.toDouble / targetBytes).toInt)
      // DV-aware: compaction MATERIALIZES deletion vectors — packed
      // outputs carry only surviving rows and start vector-free (their
      // sources' dv entries drop with the files), restoring
      // zero-overhead scans for the packed range
      val live = readLiveFiles(spark, root, current.schemaDdl,
        files.map(_._1), current)
      // clusterBy: range-partition the packed rows instead of the
      // locality-destroying round-robin, so each packed output covers a
      // TIGHT key range and stats/bloom skipping survives the pack —
      // what the persisted-index maintainers need (a probe against one
      // giant round-robin file is unskippable by construction).
      // minOutputFiles keeps a small table from packing to ONE file for
      // the same reason — skipping granularity is the file.
      clusterBy.fold(live.repartition(nOut))(c =>
        live.repartitionByRange(nOut,
          org.apache.spark.sql.functions.col(c)))
    }.reduce(_ unionByName _)

    val removed = groups.values.flatten.map(_._1).toSeq
    // RowCountKey is a pseudo-column (rides every stats map), not a data
    // column the recompute job could reference. Stats keys are PHYSICAL
    // names — translate through the reverse mapping and canonicalize to
    // the current schema to get computeStats' LOGICAL input (it re-keys
    // the output physically itself).
    val schemaS = StructType.fromDDL(current.schemaDdl)
    val reverse = current.colMap.map { case (l, p) => lcol(p) -> l }
    val curStats = current.stats.full // compact re-keys ALL stat columns
    val statCols = (removed
      .flatMap(f => curStats.get(f).map(_.keys).getOrElse(Nil))
      .distinct.filterNot(_ == RowCountKey)
      .map(k => reverse.getOrElse(lcol(k), k)) ++
      // a clusterBy pack exists FOR skipping on that column — its stats
      // must ride the packed files even if the sources never had them
      clusterBy.toSeq)
      .flatMap(k => schemaS.find(_.name.equalsIgnoreCase(k)).map(_.name))
      .distinct
    val parts = partitionColsOf(spark, root, current)
    // sized = false: the pack above already computed the EXACT output
    // layout (per-directory ceil(bytes/target) range partitions under a
    // Union root sizedForStage cannot see through) — re-coalescing it
    // would undo the clusterBy skipping granularity minOutputFiles exists
    // to protect
    val Staged(adds, ddl, stats, _, _) = stageBatch(spark, packed, root,
      parts, statCols, current.colMap, "compact", sized = false)
    commitLoop(spark, root, "compact", parts, { (commits, live) =>
      val gone = removed.filterNot(live().toSet)
      if (gone.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"compact sources rewritten concurrently (${gone.head}) at " +
            s"$root — re-run the compact")
      // liveness is not enough since deletion vectors exist: a concurrent
      // delete_dv removes NO file but changes which of a source's rows
      // are alive — committing the pre-vector packed rows would
      // resurrect its deletes (and clear its vector via `remove`)
      val nowDvs = scala.util.Try(resolve(spark, root, None))
        .toOption.map(_.dvs).getOrElse(Map.empty[String, DvRef])
      val dvChanged = removed.filter(f => nowDvs.get(f) != current.dvs.get(f))
      if (dvChanged.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"compact source ${dvChanged.head} gained/changed a deletion " +
            s"vector concurrently at $root — re-run the compact")
      (adds, removed, commits.lastOption.map(_.schemaDdl).getOrElse(ddl))
    }, stats,
      metrics = Map("numPackedFiles" -> removed.size.toLong,
        "numOutputFiles" -> adds.size.toLong))
  }

  /** Delete data files NO commit ever referenced — the residue of writers
    * that staged and moved files but died (or lost a merge conflict)
    * before their commit landed. Orphans are invisible to readers, so
    * this is pure space reclamation; `olderThanMs` guards the one hazard:
    * an IN-FLIGHT writer's files look orphaned until its commit lands, so
    * only files older than the threshold are touched (no live writer
    * stages for days). Checkpoint live sets count as references too — a
    * log whose pre-checkpoint entries were truncated (which readers
    * support) must not get its still-live files reaped as "never
    * referenced" — so a checkpoint this build cannot read (a newer
    * `minReader` or layout) refuses the whole call with
    * [[UnsupportedLogFeatureException]], deleting nothing. Returns the
    * deleted root-relative paths.
    */
  def cleanOrphans(spark: SparkSession, root: String,
                   olderThanMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    val fs = fileSystem(spark, root)
    val rootDec = rootDecodedPath(fs, root)
    val logDir = new Path(s"$root/$LogDirName")
    val ckptLive: Set[String] =
      if (!fs.exists(logDir)) Set.empty
      else ckptsIn(fs.listStatus(logDir).map(_.getPath.getName)).toSeq
        .flatMap { case (v, c) =>
          val v1Live =
            if (c.v1.isEmpty) Nil else readCkptV1(spark, root, v).live
          val v2Live = if (c.v2.isEmpty) Nil else {
            val dir = ckptPathV2(root, v)
            // a headerless dir (a crashed publication or delete) has no
            // header to gate, but its rows still count as references
            val header = new Path(dir, CkptMetaName)
            if (fs.exists(header)) ckptFormat(readNode(fs, header), root, v)
            // v2 live set: one pruned column off the parquet rows
            spark.read.schema(ckptReadSchema(0)).parquet(dir.toString)
              .select("file").collect().map(_.getString(0)).toSeq
          }
          v1Live ++ v2Live
        }.toSet
    val referenced = history(spark, root).flatMap(_.add).toSet ++ ckptLive
    val cutoff = System.currentTimeMillis() - olderThanMs
    def walk(p: Path): Seq[(String, Long)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Seq.empty
        else if (st.isDirectory) walk(st.getPath)
        else if (name.endsWith(".parquet"))
          Seq((fs.makeQualified(st.getPath).toUri.getPath
            .stripPrefix(rootDec + "/"), st.getModificationTime))
        else Seq.empty
      }
    val victims = walk(new Path(root))
      .filter { case (rel, mtime) => !referenced.contains(rel) && mtime < cutoff }
      .map(_._1)
    victims.foreach(f => fs.delete(new Path(s"$root/$f"), false))
    // abandoned stage dirs (writer died BEFORE the move) age out the same way
    val deadStages = fs.listStatus(new Path(root)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_stage_")
        && st.getModificationTime < cutoff)
      .map { st => fs.delete(st.getPath, true); st.getPath.getName }
    // v2 checkpoint tmp dirs a crashed checkpoint() left behind (the
    // rename never ran), and claim temps a crashed writer left (the
    // local-FS hard-link `.tmp`s and LockFileCommitStore's `.claimtmp`s
    // — both fully invisible to readers): same age-guarded reap
    val deadCkptTmps = (if (fs.exists(logDir)) fs.listStatus(logDir).toSeq
                        else Seq.empty)
      .filter(st => st.getModificationTime < cutoff &&
        ((st.isDirectory && st.getPath.getName.startsWith(".ckpt_tmp_")) ||
          (st.isFile && st.getPath.getName.startsWith(".") &&
            (st.getPath.getName.endsWith(".claimtmp") ||
              st.getPath.getName.endsWith(".tmp")))))
      .map { st =>
        fs.delete(st.getPath, true); s"$LogDirName/${st.getPath.getName}"
      }
    // deletion-vector sidecars a crashed deleteVectored left behind
    // (written, never committed): referenced by no commit's dv map and
    // no checkpoint, so the same age-guarded reclamation applies.
    // (vacuum handles COMMITTED-then-superseded sidecars; this handles
    // never-committed ones.)
    val dvReferenced: Set[String] = history(spark, root)
      .flatMap(_.dv.valuesIterator.map(_._1)).toSet ++ {
        val ckpt = scala.util.Try(resolve(spark, root, None)).toOption
        ckpt.map(_.dvs.valuesIterator.map(_._1).toSet).getOrElse(Set.empty)
      }
    val dvDir = new Path(s"$root/$LogDirName/dv")
    val deadSidecars =
      if (!fs.exists(dvDir)) Seq.empty
      else fs.listStatus(dvDir).toSeq
        .filter { st =>
          val rel = s"$LogDirName/dv/${st.getPath.getName}"
          !dvReferenced.contains(rel) && st.getModificationTime < cutoff
        }
        .map { st =>
          fs.delete(st.getPath, true); s"$LogDirName/dv/${st.getPath.getName}"
        }
    // JdbcCommitStore staged backups (`.{entry}.{uuid}.jdbcstaged`) stay
    // LOAD-BEARING while they are the only durable copy of a published
    // commit (the store's heal path rebuilds a quarantined canonical
    // entry from them) — reap one past the age ONLY when its canonical
    // entry file exists, where it is belt-and-suspenders
    val StagedBackup = raw"\.(.+)\.[0-9a-f]{8}\.jdbcstaged".r
    val deadStaged = (if (fs.exists(logDir)) fs.listStatus(logDir).toSeq
                      else Seq.empty)
      .filter { st =>
        st.isFile && st.getModificationTime < cutoff &&
          (st.getPath.getName match {
            case StagedBackup(entry) =>
              fs.exists(new Path(s"$root/$LogDirName/$entry"))
            case _ => false
          })
      }
      .map { st =>
        fs.delete(st.getPath, false); s"$LogDirName/${st.getPath.getName}"
      }
    victims ++ deadStages ++ deadCkptTmps ++ deadSidecars ++ deadStaged
  }

  /** Physically delete data files only referenced by versions older than
    * the retention window (the newest `keepLast` versions stay fully
    * readable; time travel older than that is forfeited — the standard
    * trade). Returns the deleted root-relative paths.
    */
  /** The shared size probe behind [[liveSizes]] and [[compact]]: one
    * listStatus per selected partition directory — never one namespace
    * RPC per file (on a millions-of-small-files table, the very case
    * compaction exists for, per-file calls would dominate). `dirFilter`
    * applies BEFORE listing, so a partition-scoped caller pays only for
    * its scope.
    */
  private def liveSizesIn(fs: FileSystem, root: String, live: Seq[String],
                          dirFilter: String => Boolean): Seq[(String, Long)] = {
    val liveSet = live.toSet
    live.map(relDir).distinct.filter(dirFilter).flatMap { dir =>
      fs.listStatus(new Path(if (dir.isEmpty) root else s"$root/$dir"))
        .toSeq.filter(_.isFile)
        .map(st => s"$dir${st.getPath.getName}" -> st.getLen)
        .filter { case (rel, _) => liveSet.contains(rel) }
    }
  }

  /** Live-file sizes for maintenance policy, served from the log's
    * stage-recorded `__bytes` when every scoped file carries one (files
    * are immutable, so the stage-time size IS the on-disk size — zero
    * filesystem calls), falling back to the directory listing for
    * pre-feature logs.
    */
  private def liveSizesOf(spark: SparkSession, root: String, snap: Snapshot,
                          dirFilter: String => Boolean = _ => true)
      : Seq[(String, Long)] = {
    val scoped = snap.live.filter(f => dirFilter(relDir(f)))
    val sizes = snap.stats.col(FileSizeKey)
    if (scoped.forall(sizes.contains)) scoped.map(f => f -> sizes(f)._1.toLong)
    else liveSizesIn(fileSystem(spark, root), root, scoped, dirFilter)
  }

  /** Latest snapshot's live files with their on-disk sizes — the
    * metadata input for maintenance policy (OPTIMIZE's target file
    * count, small-file ratio monitoring) without opening any data file.
    */
  def liveSizes(spark: SparkSession, root: String): Seq[(String, Long)] =
    liveSizesOf(spark, root, resolve(spark, root, None))

  /** (files carrying a deletion vector, total vector-deleted rows) at the
    * latest snapshot — the DESCRIBE DETAIL health numbers that tell an
    * operator when an OPTIMIZE purge is due.
    */
  def dvSummary(spark: SparkSession, root: String): (Long, Long) = {
    val snap = resolve(spark, root, None)
    val live = snap.dvs.view.filterKeys(snap.live.toSet).toMap
    (live.size.toLong, live.valuesIterator.map(_._2).sum)
  }

  /** Everything DESCRIBE DETAIL reports, from ONE log resolution and one
    * listing pass: (version, live file sizes, files with a deletion
    * vector, vector-deleted rows).
    */
  def detail(spark: SparkSession, root: String)
      : (Long, Seq[(String, Long)], Long, Long, Long, Map[String, String]) = {
    val snap = resolve(spark, root, None)
    val sizes = liveSizesOf(spark, root, snap)
    val dvs = snap.dvs.view.filterKeys(snap.live.toSet).toMap
    // stats coverage = live files carrying the row-count pseudo-stat
    // (i.e. written with statsCols or ANALYZEd): the "do I need an
    // ANALYZE before range queries prune / counts go metadata-only"
    // signal, free from the same resolution
    val rc = snap.stats.col(RowCountKey) // pruned: one stat column read
    val withStats = snap.live.count(rc.contains)
    (snap.version, sizes, dvs.size.toLong,
      dvs.valuesIterator.map(_._2).sum, withStats.toLong, snap.colMap)
  }

  /** `VACUUM ... RETAIN n HOURS` (the Delta wall-clock form): keep every
    * version a timestamp-based read INSIDE the window could resolve to.
    * `versionAtTimestamp` semantics are at-or-before, so the version
    * LIVE at the window start must survive too — retaining only the
    * versions committed after the cutoff would let `TIMESTAMP AS OF` an
    * in-window instant resolve to a vacuumed live set. One log read
    * serves both the mapping and the reclamation.
    */
  def vacuumRetainHours(spark: SparkSession, root: String, hours: Long,
                        dryRun: Boolean = false): Seq[String] = {
    require(hours >= 0, "retention hours must be non-negative")
    val commits = history(spark, root)
    if (commits.isEmpty) return Seq.empty
    val cutoff = System.currentTimeMillis() - hours * 3600 * 1000
    val head = commits.last.version
    def clamp(n: Long): Int = math.min(Int.MaxValue.toLong, math.max(1L, n)).toInt
    val keep = commits.filter(_.timestampMs <= cutoff).lastOption match {
      // the version live AT the window start anchors the window
      case Some(atCutoff) => clamp(head - atCutoff.version + 1)
      // whole available log is inside the window: keep everything
      case None => clamp(head - commits.head.version + 1)
    }
    vacuumCore(spark, root, commits, keep, dryRun)
  }

  def vacuum(spark: SparkSession, root: String, keepLast: Int,
             dryRun: Boolean = false): Seq[String] = {
    val commits = history(spark, root)
    if (commits.isEmpty) return Seq.empty
    vacuumCore(spark, root, commits, keepLast, dryRun)
  }

  /** Quarantine a DEAD TAIL CLAIM: when the newest log entry is
    * unreadable (a writer crashed between its claim and its bytes
    * landing) and older than the safety age, rename it aside to
    * `<entry>.orphan` — the version number frees up and the table
    * unwedges, replacing the old "delete the orphan entry by hand"
    * instruction. Strictly tail-only: writers never claim v+1 until v
    * parses, so at most ONE dead claim can exist, and an unreadable
    * entry anywhere else is real corruption, which is REFUSED (with the
    * entry name) rather than silently dropped from history. The age gate
    * (default 60 s, double the writers' own tail-wait budget) keeps a
    * healthy in-flight commit from being shot by an impatient repair;
    * the `.orphan` file is kept for forensics. SQL surface:
    * `REPAIR LOG t [OLDER THAN n SECONDS] [DRY RUN]`.
    */
  def repairLog(spark: SparkSession, root: String,
                olderThanMs: Long = 60000L,
                dryRun: Boolean = false): Seq[String] = {
    val fs = fileSystem(spark, root)
    val dir = new Path(s"$root/$LogDirName")
    if (!fs.exists(dir)) return Seq.empty
    val store = CommitStore.forPath(dir)
    val entries = store.list(fs, dir)
      .filter(p => LogFile.matches(p.getName)).sortBy(_.getName)
    if (entries.isEmpty) return Seq.empty
    val tail = entries.last
    val parses =
      try { fromJson(new String(store.read(fs, tail), UTF_8)); true }
      catch {
        case e: UnsupportedLogFeatureException => throw e // not a torn claim
        case scala.util.control.NonFatal(_) => false
      }
    if (parses) {
      // the tail is healthy; anything unreadable EARLIER is real
      // corruption (writers never claim v+1 until v parses), which
      // quarantining would turn into silent history loss — refuse with
      // the position, like history() does
      entries.init.foreach { p =>
        try { fromJson(new String(store.read(fs, p), UTF_8)); () }
        catch {
          case e: UnsupportedLogFeatureException => throw e
          case scala.util.control.NonFatal(_) =>
            throw new IOException(
              s"log entry ${p.getName} of $root is unreadable but NOT " +
                "the tail — that is corruption, not a crashed claim; " +
                "REPAIR LOG refuses to quarantine committed history " +
                "(restore the entry from a backup or a checkpoint-aware " +
                "clone)")
        }
      }
      return Seq.empty
    }
    val ageMs = System.currentTimeMillis() -
      fs.getFileStatus(tail).getModificationTime
    if (ageMs < olderThanMs)
      throw new IOException(
        s"tail claim ${tail.getName} of $root is unreadable but only " +
          s"${ageMs / 1000}s old (< ${olderThanMs / 1000}s): it may be a " +
          "healthy in-flight commit whose bytes are still landing — " +
          "retry REPAIR LOG after the safety age, or pass a smaller " +
          "OLDER THAN only when the writer is known dead")
    val quarantined = new Path(tail.getParent, tail.getName + ".orphan")
    if (!dryRun && !fs.rename(tail, quarantined))
      throw new IOException(
        s"quarantine rename ${tail.getName} -> ${quarantined.getName} " +
          s"failed in $root")
    Seq(tail.getName)
  }

  /** Truncate the COMMIT LOG to its checkpoints: delete raw log entries
    * at-or-below the oldest retained checkpoint (readers already resolve
    * checkpoint + tail) and checkpoints older than `keepCheckpoints`.
    * This is what bounds metadata growth on a long-lived table — a
    * 100 TB table commits forever, and without truncation every reader
    * lists and every 10th commit re-summarizes an ever-growing log.
    * Only `_txlog` metadata is touched, never data files.
    *
    * The trade is explicit: versions below the horizon stop being
    * readable (time travel/change feeds there already fail loudly), and
    * data files reclaimable ONLY below the horizon would become
    * invisible to [[vacuum]]'s replay — so the call is REFUSED while such
    * files exist (run `vacuum` first), unless `force` accepts leaking
    * them. Returns the deleted (or, `dryRun`, would-delete) log paths.
    */
  def vacuumLog(spark: SparkSession, root: String, keepCheckpoints: Int = 2,
                dryRun: Boolean = false,
                force: Boolean = false): Seq[String] = {
    require(keepCheckpoints >= 1, "must retain at least one checkpoint")
    val fs = fileSystem(spark, root)
    val dir = new Path(s"$root/$LogDirName")
    require(fs.exists(dir), s"not a txlog table: $root")
    val names = CommitStore.forPath(dir).list(fs, dir).map(_.getName)
    // both checkpoint formats anchor truncation; a version carrying both
    // forms is ONE checkpoint (two names to delete when it ages out)
    val ckptNamesByV = ckptsIn(names)
    val ckpts = ckptNamesByV.keys.toSeq
    if (ckpts.isEmpty) return Seq.empty // nothing to anchor a truncation
    val horizon = ckpts.takeRight(keepCheckpoints).head
    // strictly BELOW the horizon: the horizon version's own entry stays,
    // so the visible tail is never empty — latestVersion, the clone
    // fresh-target check, and the idempotent-append fast path all read
    // the raw tail and must keep seeing a committed head
    val logVictims = names
      .collect { case n @ LogFile(v) if v.toLong < horizon => n }.sorted
    val ckptVictims = ckpts.dropRight(keepCheckpoints)
      .flatMap(ckptNamesByV(_).all)
    if (logVictims.isEmpty && ckptVictims.isEmpty) return Seq.empty
    if (!force) {
      val commits = history(spark, root)
      if (commits.nonEmpty) {
        val keep = math.min(Int.MaxValue.toLong,
          math.max(1L, commits.last.version - horizon + 1)).toInt
        val reclaimable = vacuumCore(spark, root, commits, keep,
          dryRun = true)
        require(reclaimable.isEmpty,
          s"vacuumLog would strand ${reclaimable.size} data file(s) " +
            s"reclaimable only below the horizon (v$horizon) of $root — " +
            s"run vacuum(keepLast = $keep) first, or pass force = true " +
            "to leak them")
      }
    }
    val victims = (logVictims ++ ckptVictims).map(n => s"$LogDirName/$n")
    if (!dryRun)
      // recursive: v2 checkpoints are directories (no-op for plain files)
      victims.foreach(v => fs.delete(new Path(s"$root/$v"), true))
    victims
  }

  /** Versions carrying a checkpoint (either format), ascending — the
    * horizon arithmetic [[maintain]] needs and the operator preview a
    * truncation decision wants.
    */
  def checkpointVersions(spark: SparkSession, root: String): Seq[Long] = {
    val fs = fileSystem(spark, root)
    val dir = new Path(s"$root/$LogDirName")
    if (!fs.exists(dir)) return Seq.empty
    ckptsIn(CommitStore.forPath(dir).list(fs, dir).map(_.getName)).keys.toSeq
  }

  /** One self-maintenance pass for a long-lived table: bin-pack the
    * small files (which also materializes deletion vectors away),
    * checkpoint, reclaim data files referenced only below the last
    * `keepVersions` snapshots, then truncate the raw log — but only down
    * to a horizon that keeps those snapshots READABLE. Raw entries below
    * the truncation horizon stop resolving, so the horizon (the oldest
    * retained checkpoint) must sit at or below tail - keepVersions + 1;
    * [[vacuumLog]]'s keepCheckpoints is computed to land there, and the
    * strand guard is satisfied by construction because the [[vacuum]]
    * above already reclaimed everything unreferenced at that depth. When
    * no existing checkpoint is old enough (a table's first maintenance
    * pass), truncation is SKIPPED — the checkpoint just written anchors
    * the next pass, so raw-log growth is bounded by one maintenance
    * cycle either way. The persisted-index operators' `maintain()` calls
    * delegate here.
    */
  def maintain(spark: SparkSession, root: String,
               smallerThanBytes: Long = 64L * 1024 * 1024,
               keepVersions: Int = 2,
               clusterBy: Option[String] = None,
               minOutputFiles: Int = 1): MaintainReport = {
    val before = liveSizes(spark, root).size.toLong
    compact(spark, root, smallerThanBytes = smallerThanBytes,
      clusterBy = clusterBy, minOutputFiles = minOutputFiles)
    checkpoint(spark, root)
    val reclaimed = vacuum(spark, root, keepLast = keepVersions)
      .size.toLong
    val after = liveSizes(spark, root).size.toLong
    val truncated: Option[Long] = currentVersion(spark, root).flatMap {
      tail =>
        val ckpts = checkpointVersions(spark, root)
        val eligible = ckpts.count(_ <= tail - keepVersions + 1)
        if (eligible > 0)
          Some(vacuumLog(spark, root,
            keepCheckpoints = ckpts.size - eligible + 1).size.toLong)
        else None
    }
    MaintainReport(before, after, reclaimed,
      truncated.getOrElse(0L), truncated.isDefined)
  }

  /** What one [[maintain]] pass did — the `MAINTAIN t` result row. */
  final case class MaintainReport(filesBefore: Long, filesAfter: Long,
                                  dataFilesReclaimed: Long,
                                  logEntriesDeleted: Long,
                                  logTruncated: Boolean)

  private def vacuumCore(spark: SparkSession, root: String,
                         commits: Seq[Commit], keepLast: Int,
                         dryRun: Boolean): Seq[String] = {
    require(keepLast >= 1, "must retain at least the latest version")
    val fs = fileSystem(spark, root)
    val keepFrom = commits.last.version - keepLast + 1
    // On a checkpoint-truncated log ([[vacuumLog]]) the state below the
    // visible tail lives only in the base checkpoint. Seed BOTH the
    // retained-version replays and the candidate universe with it:
    // unseeded replays would mark still-live base files "unreferenced"
    // (deleting live data), and an unseeded candidate set would never
    // reclaim a base file the tail later removed (leaking it forever).
    // resolving AT the tail's first version reads the horizon checkpoint
    // (vacuumLog keeps that version's entry); re-applying that commit on
    // top of its own post-state in replayFrom is an idempotent no-op
    // (set semantics, removes already applied), so the seed is exact.
    // A failure reading the checkpoint PROPAGATES: degrading to an
    // unseeded replay would mark base files unreclaimable (silent leak)
    // and defeat vacuumLog's strand guard
    val base: Option[Snapshot] =
      if (commits.head.version == 0L) None
      else Some(resolve(spark, root, Some(commits.head.version)))
    val baseLive = base.map(_.live).getOrElse(Seq.empty)
    val baseDvs = base.map(_.dvs).getOrElse(Map.empty[String, DvRef])
    def replayFrom(i: Int): Seq[String] = {
      val live = new scala.collection.mutable.LinkedHashSet[String]
      live ++= baseLive
      commits.take(i + 1).foreach { c => live --= c.remove; live ++= c.add }
      live.toSeq
    }
    val referenced = commits.indices
      .filter(i => commits(i).version >= keepFrom)
      .flatMap(replayFrom)
      .toSet
    val everAdded = (baseLive ++ commits.flatMap(_.add)).distinct
    // existence-filtered: a file an earlier vacuum already deleted is not
    // a victim — DRY RUN previews what a real run would actually remove,
    // and vacuumLog's strand check must not refuse over already-gone
    // files. The probe is BATCHED — one listStatus per distinct parent
    // directory instead of a sequential per-file fs.exists: on an
    // object-store table with ~1M ever-added files, per-path RPCs would
    // make every vacuum, dry run, and vacuumLog strand guard minutes of
    // driver-blocked metadata calls.
    def existingUnder(cands: Seq[String]): Set[String] = {
      val byDir = cands.groupBy { f =>
        val i = f.lastIndexOf('/'); if (i < 0) "" else f.substring(0, i)
      }
      byDir.keysIterator.flatMap { d =>
        val dir = if (d.isEmpty) new Path(root) else new Path(s"$root/$d")
        // names come back DECODED (Path.toUri.getPath), matching the
        // log's canonical representation; a missing parent dir simply
        // contributes nothing (all its candidates are already gone)
        try fs.listStatus(dir).iterator.map { st =>
          val name = st.getPath.toUri.getPath
            .substring(st.getPath.toUri.getPath.lastIndexOf('/') + 1)
          if (d.isEmpty) name else s"$d/$name"
        } catch { case _: java.io.FileNotFoundException => Iterator.empty }
      }.toSet
    }
    val unrefd = everAdded.filterNot(referenced)
    val victims = {
      val present = existingUnder(unrefd)
      unrefd.filter(present.contains)
    }
    // deletion-vector sidecars age out the same way: a sidecar is live
    // while ANY retained version's dv state points at it (each new
    // vector on a file supersedes the previous sidecar, so superseded
    // ones accumulate until vacuumed)
    val dvStates = commits.scanLeft(baseDvs)(
      (acc, c) => acc -- c.remove -- c.dvDrop ++ c.dv).drop(1)
    val retainedSidecars = commits.indices
      .filter(i => commits(i).version >= keepFrom)
      .flatMap(i => dvStates(i).valuesIterator.map(_._1))
      .toSet
    val dvVictims = {
      val cands = (baseDvs.valuesIterator.map(_._1).toSeq ++
        commits.flatMap(_.dv.valuesIterator.map(_._1)))
        .distinct.filterNot(retainedSidecars)
      // sidecars are parquet DIRECTORIES under one parent — the batched
      // listing covers them with a single round-trip
      val present = existingUnder(cands)
      cands.filter(present.contains)
    }
    // DRY RUN: report what the real run would delete, touch nothing —
    // the operator preview every destructive maintenance command needs
    if (!dryRun) {
      // DISTRIBUTED deletes past a small threshold (the twin of the
      // batched existence probe above): a big vacuum on an object store
      // is otherwise a sequential per-file RPC loop on the driver —
      // minutes of blocked time at ~1M victims. One task per slice,
      // Hadoop conf shipped as pairs (cloneTable's pattern); below the
      // threshold the driver loop avoids a job's fixed cost.
      val toDelete = victims.map(v => (v, false)) ++
        dvVictims.map(d => (d, true))
      if (toDelete.size <= 256) {
        toDelete.foreach { case (f, rec) =>
          fs.delete(new Path(s"$root/$f"), rec); () }
      } else {
        val confPairs: Seq[(String, String)] = {
          val it = spark.sparkContext.hadoopConfiguration.iterator()
          val b = Seq.newBuilder[(String, String)]
          while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
          b.result()
        }
        val rootStr = root
        val slots = math.max(1, math.min(toDelete.size / 64,
          spark.sparkContext.defaultParallelism))
        spark.sparkContext.parallelize(toDelete, slots)
          .foreachPartition { it =>
            val conf = new org.apache.hadoop.conf.Configuration(false)
            confPairs.foreach { case (k, v) => conf.set(k, v) }
            var pfs: FileSystem = null
            it.foreach { case (f, rec) =>
              val p = new Path(s"$rootStr/$f")
              if (pfs == null) pfs = p.getFileSystem(conf)
              pfs.delete(p, rec); ()
            }
          }
      }
    }
    victims ++ dvVictims
  }
}
