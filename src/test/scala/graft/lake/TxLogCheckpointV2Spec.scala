package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Parquet checkpoint format (v2): distributed per-live-file rows plus an
  * `_meta.json` header, replacing the driver-built single-JSON-document
  * v1 (still readable; written only by the legacy fixture
  * `TxLog.writeLegacyCheckpointV1`). These specs pin the three format
  * contracts:
  * content invariance across a v2 checkpoint (including after log
  * truncation), full v1 back- and cross-compatibility on MIXED logs, and
  * every piece of version state (stats, DVs, txn watermarks,
  * constraints, drop tombstones) riding v2 exactly as it rode v1.
  */
class TxLogCheckpointV2Spec extends SparkSpec {

  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-ckptv2").toString

  private def logNames(root: String): Seq[String] =
    new java.io.File(s"$root/${TxLog.LogDirName}")
      .listFiles().map(_.getName).toSeq
      .filterNot(_.startsWith(".")).sorted // drop local-FS .crc sidecars

  /** An "old writer"'s log: appends v0..v9 with the auto-cadence held
    * off, then a legacy v1 JSON checkpoint at v9.
    */
  private def legacyLogToV9(root: String): Unit = {
    spark.conf.set("spark.graft.checkpoint.interval", "1000000")
    try (0 until 10).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s")
        .repartition(1), root)
    } finally spark.conf.unset("spark.graft.checkpoint.interval")
    TxLog.writeLegacyCheckpointV1(spark, root)
  }

  test("v2 checkpoint: content-invariant resolution from checkpoint + tail") {
    val root = tmpRoot()
    (0 until 12).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s")
        .repartition(1), root, statsCols = Seq("id"))
    }
    // the auto-cadence wrote a v2 parquet checkpoint DIRECTORY at v9
    val ckpts = logNames(root).filter(_.contains(".checkpoint."))
    ckpts shouldBe Seq("00000000000000000009.checkpoint.parquet")
    new java.io.File(
      s"$root/${TxLog.LogDirName}/${ckpts.head}").isDirectory shouldBe true
    // header + rows round-trip: same content before and after deleting
    // the pre-checkpoint raw entries (readers resolve checkpoint + tail)
    val before = TxLog.readLatest(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    (0 until 10).foreach { v =>
      new java.io.File(f"$root/${TxLog.LogDirName}/$v%020d.json").delete()
    }
    val after = TxLog.readLatest(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    after shouldBe before
    // per-file row-count stats rode the checkpoint: COUNT stays
    // metadata-only-exact on the truncated log
    TxLog.countRows(spark, root) shouldBe 12L
  }

  test("mixed log: v1 checkpoints from an old writer, v2 from the new one") {
    val root = tmpRoot()
    // "old" writer: its v9 checkpoint is v1 JSON
    legacyLogToV9(root)
    // "new" writer continues the same table: v19 checkpoint is parquet
    (10 until 22).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s")
        .repartition(1), root)
    }
    val ckpts = logNames(root).filter(_.contains(".checkpoint."))
    ckpts shouldBe Seq("00000000000000000009.checkpoint.json",
      "00000000000000000019.checkpoint.parquet")
    TxLog.readLatest(spark, root).count() shouldBe 22L
    // vacuumLog anchors on BOTH formats: keep 1 => horizon at the v2
    // checkpoint, the v1 file below it is deleted along with old entries
    val gone = TxLog.vacuumLog(spark, root, keepCheckpoints = 1)
    gone should contain(
      s"${TxLog.LogDirName}/00000000000000000009.checkpoint.json")
    logNames(root).count(_.contains(".checkpoint.")) shouldBe 1
    // content + history behavior unchanged across the truncation
    TxLog.readLatest(spark, root).count() shouldBe 22L
    TxLog.readAt(spark, root, 19L).count() shouldBe 20L
    intercept[IllegalArgumentException] {
      TxLog.readAt(spark, root, 9L).count()
    }
  }

  test("a v1-only log (pre-upgrade table) resolves unchanged") {
    val root = tmpRoot()
    legacyLogToV9(root)
    (10 until 12).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s")
        .repartition(1), root)
    }
    TxLog.vacuumLog(spark, root, keepCheckpoints = 1)
    TxLog.readLatest(spark, root).count() shouldBe 12L
    // and the NEXT explicit checkpoint upgrades the log to v2 in place
    TxLog.checkpoint(spark, root) shouldBe Some(11L)
    logNames(root).filter(_.contains(".checkpoint.")).sorted shouldBe Seq(
      "00000000000000000009.checkpoint.json",
      "00000000000000000011.checkpoint.parquet")
    TxLog.readLatest(spark, root).count() shouldBe 12L
  }

  test("both formats at one version: v2 is preferred (v1 never opened)") {
    val root = tmpRoot()
    (0 until 12).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s")
        .repartition(1), root)
    } // v2 parquet checkpoint at v9
    // drop a CORRUPT v1 file at the same version: if resolution ever
    // chose the v1 form on a tie, every read below would explode
    val v1 = new java.io.File(
      s"$root/${TxLog.LogDirName}/00000000000000000009.checkpoint.json")
    java.nio.file.Files.write(v1.toPath, "not json".getBytes)
    TxLog.readLatest(spark, root).count() shouldBe 12L
    (0 until 10).foreach { v =>
      new java.io.File(f"$root/${TxLog.LogDirName}/$v%020d.json").delete()
    }
    TxLog.readLatest(spark, root).count() shouldBe 12L
  }

  test("v2 carries DVs, constraints, txn watermarks, and drop tombstones through truncation") {
    val root = tmpRoot()
    TxLog.append(spark,
      (1L to 40L).map(k => (k, s"r$k", s"x$k")).toDF("id", "s", "extra")
        .repartition(1), root, statsCols = Seq("id"))
    TxLog.addConstraint(spark, root, "id_pos", "id > 0")
    TxLog.deleteVectored(spark, root, col("id") <= 5L) // DV, no rewrite
    TxLog.dropColumns(spark, root, Seq("extra"))       // tombstone
    TxLog.appendIdempotent(spark,
      (41L to 45L).map(k => (k, s"r$k")).toDF("id", "s").repartition(1),
      root, appId = "loader", txnVersion = 7L, statsCols = Seq("id"))
    // force cadence commits so a v2 checkpoint lands at v9, then truncate
    (0 until 6).foreach { i =>
      TxLog.append(spark,
        Seq((100L + i, s"c$i")).toDF("id", "s").repartition(1), root,
        statsCols = Seq("id"))
    }
    logNames(root) should contain("00000000000000000009.checkpoint.parquet")
    TxLog.vacuumLog(spark, root, keepCheckpoints = 1) should not be empty
    // DV state: the vector-deleted rows stay deleted, and the count is
    // still answered from metadata (file rows minus vector rows)
    TxLog.readLatest(spark, root).filter(col("id") <= 5L).count() shouldBe 0L
    TxLog.countRows(spark, root) shouldBe (35L + 5L + 6L)
    // constraint state: still enforced post-truncation
    intercept[IllegalStateException] {
      TxLog.append(spark, Seq((-1L, "bad")).toDF("id", "s"), root)
    }.getMessage should include("id_pos")
    // txn watermark: the replayed idempotent batch is skipped
    TxLog.appendIdempotent(spark, Seq((999L, "dup")).toDF("id", "s"),
      root, appId = "loader", txnVersion = 7L) shouldBe None
    // drop tombstone: re-evolving the dropped name is still refused
    intercept[IllegalArgumentException] {
      TxLog.append(spark,
        Seq((200L, "y", "stale")).toDF("id", "s", "extra"), root)
    }.getMessage should include("dropped column")
  }

  test("rollback and clone work from a v2-checkpointed, truncated log") {
    val root = tmpRoot()
    (0 until 12).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s")
        .repartition(1), root)
    }
    TxLog.vacuumLog(spark, root, keepCheckpoints = 1)
    // clone resolves through the v2 checkpoint
    val dst = tmpRoot() + "/clone"
    TxLog.cloneTable(spark, root, dst)
    TxLog.readLatest(spark, dst).count() shouldBe 12L
    // rollback to a post-horizon version on the source
    TxLog.rollback(spark, root, 10L)
    TxLog.readLatest(spark, root).count() shouldBe 11L
  }

  test("spark.graft.checkpoint.interval overrides the cadence; malformed values fail pre-claim") {
    val root = tmpRoot()
    spark.conf.set("spark.graft.checkpoint.interval", "3")
    try {
      (0 until 7).foreach { i =>
        TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s")
          .repartition(1), root)
      }
      logNames(root).filter(_.contains(".checkpoint.")) shouldBe Seq(
        "00000000000000000002.checkpoint.parquet",
        "00000000000000000005.checkpoint.parquet")
      // malformed value: the write fails while NOTHING is durable
      spark.conf.set("spark.graft.checkpoint.interval", "zero")
      val before = logNames(root)
      intercept[IllegalArgumentException] {
        TxLog.append(spark, Seq((99L, "x")).toDF("id", "s"), root)
      }.getMessage should include("checkpoint.interval")
      logNames(root) shouldBe before
      spark.conf.set("spark.graft.checkpoint.interval", "0")
      intercept[IllegalArgumentException] {
        TxLog.append(spark, Seq((99L, "x")).toDF("id", "s"), root)
      }.getMessage should include(">= 1")
      logNames(root) shouldBe before
    } finally spark.conf.unset("spark.graft.checkpoint.interval")
    TxLog.readLatest(spark, root).count() shouldBe 7L
  }

  test("the write path parses only the tail above the newest checkpoint") {
    val root = tmpRoot()
    spark.conf.set("spark.graft.checkpoint.interval", "5")
    try {
      (0 until 17).foreach { i =>
        TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s")
          .repartition(1), root)
      }
      // cadence checkpoints landed at v4/v9/v14; the next commit must
      // parse ONLY the two entries above v14 — commit cost is O(tail
      // since checkpoint) no matter how long the table has lived
      TxLog.lastCommitTailLen = -1
      TxLog.append(spark, Seq((99L, "x")).toDF("id", "s"), root)
      TxLog.lastCommitTailLen shouldBe 2
      // a tip checkpoint empties the parsed tail entirely: the next
      // version still derives correctly (from the resolved snapshot),
      // the schema echo and tombstone guard fall back to resolution
      TxLog.checkpoint(spark, root) shouldBe Some(17L)
      TxLog.lastCommitTailLen = -1
      TxLog.append(spark, Seq((100L, "y")).toDF("id", "s"), root)
      TxLog.lastCommitTailLen shouldBe 0
      TxLog.latestVersion(spark, root) shouldBe Some(18L)
      TxLog.readLatest(spark, root).count() shouldBe 19L
      TxLog.readLatest(spark, root).filter($"id" === 100L)
        .count() shouldBe 1L
    } finally spark.conf.unset("spark.graft.checkpoint.interval")
  }

  test("re-checkpoint of an existing version is an idempotent skip — no swap window") {
    val root = tmpRoot()
    (0 until 12).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s")
        .repartition(1), root)
    }
    TxLog.checkpoint(spark, root) shouldBe Some(11L)
    val dir = new java.io.File(
      s"$root/${TxLog.LogDirName}/00000000000000000011.checkpoint.parquet")
    val firstListing = dir.listFiles().map(_.getName).sorted.toSeq
    // second checkpoint of the SAME version: content-equivalent by
    // construction, so the writer must skip the swap entirely — a
    // delete-then-rename here would have an instant with no checkpoint,
    // and a crash in that instant destroys the only checkpoint of a
    // truncated log. Part names carry the write's job UUID, so an
    // unchanged listing proves no rewrite happened.
    TxLog.checkpoint(spark, root) shouldBe Some(11L)
    dir.listFiles().map(_.getName).sorted.toSeq shouldBe firstListing
    TxLog.readLatest(spark, root).count() shouldBe 12L
  }

  test("a headerless torn checkpoint: readers fall back, checkpoint() repairs it") {
    val root = tmpRoot()
    (0 until 12).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s")
        .repartition(1), root)
    } // cadence checkpoint at v9; explicit one at v11
    TxLog.checkpoint(spark, root) shouldBe Some(11L)
    val dir = new java.io.File(
      s"$root/${TxLog.LogDirName}/00000000000000000011.checkpoint.parquet")
    // simulate a crash mid-delete of the old swap path: the header
    // (written last before publication) is gone, parquet parts remain
    new java.io.File(dir, "_meta.json").delete() shouldBe true
    // readers skip the torn candidate and resolve from the next-older
    // checkpoint (v9) + tail — the table never becomes unreadable
    TxLog.readLatest(spark, root).count() shouldBe 12L
    // checkpoint() of the same version detects the headerless dir and
    // replaces it (it was unreadable, so no valid checkpoint is lost)
    TxLog.checkpoint(spark, root) shouldBe Some(11L)
    new java.io.File(dir, "_meta.json").exists() shouldBe true
    TxLog.readLatest(spark, root).count() shouldBe 12L
  }

  test("torn ONLY checkpoint: resolve falls back to full raw replay") {
    val root = tmpRoot()
    (0 until 8).foreach { i => // v0..v7 — below the auto-cadence
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s")
        .repartition(1), root)
    }
    TxLog.checkpoint(spark, root) shouldBe Some(7L)
    val dir = new java.io.File(
      s"$root/${TxLog.LogDirName}/00000000000000000007.checkpoint.parquet")
    new java.io.File(dir, "_meta.json").delete() shouldBe true
    // no older checkpoint exists, but every raw entry does: the reader
    // degrades to the origin replay instead of propagating the torn
    // candidate's FileNotFoundException
    TxLog.readLatest(spark, root).count() shouldBe 8L
  }

  test("format-3 checkpoint: flat stat columns, legend in meta, and a 3-column pruned read") {
    val root = tmpRoot()
    (0 until 12).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s")
        .repartition(1), root, statsCols = Seq("id"))
    }
    TxLog.checkpoint(spark, root) shouldBe Some(11L)
    val dir = s"$root/${TxLog.LogDirName}/00000000000000000011.checkpoint.parquet"
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_meta.json")), "UTF-8")
    meta should include("\"format\":3")
    meta should include("\"statCols\":[\"__bytes\",\"__rows\",\"id\"]")
    // the parquet rows carry the stats FLAT — not as maps — so a
    // single-stat consumer's scan is 3 columns wide no matter how many
    // stat columns the table records
    val df = TxLog.ckptStatsColDf(
      dir, IndexedSeq("__bytes", "__rows", "id"), "id").get
    df.columns.toSeq shouldBe Seq("file", "min2", "max2")
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).get.split("ReadSchema:").last
    readSchema should include("file")
    readSchema should include("min2")
    readSchema should not include "min0" // __bytes not read
    readSchema should not include "min1" // __rows not read
    readSchema should not include "dvPath"
    // values round-trip: every live file's committed id bounds
    val bounds = df.collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    bounds should have size 12
    bounds.values.map(_._1).toSeq.sorted shouldBe (0 until 12).map(_.toDouble)
    // a column missing from the legend reads as absent, not an error
    TxLog.ckptStatsColDf(
      dir, IndexedSeq("__bytes", "__rows", "id"), "nope") shouldBe None
  }

  test("format-2 (map-layout) checkpoints from an older writer remain readable") {
    val root = tmpRoot()
    (0 until 3).foreach { i =>
      TxLog.append(spark,
        Seq((2 * i.toLong, s"a$i"), (2 * i.toLong + 1, s"b$i"))
          .toDF("id", "s").repartition(1), root, statsCols = Seq("id"))
    }
    // handcraft the OLD format-2 checkpoint at v2: map-typed stat
    // columns, meta without a statCols legend — byte-shape of what the
    // round-8 writer produced
    val dataFiles = new java.io.File(root).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).sorted
    dataFiles should have size 3
    val rows = dataFiles.zipWithIndex.map { case (f, i) =>
      // real id bounds per file (part names are UUIDs — listing order
      // says nothing about which id range a file holds)
      val ids = spark.read.parquet(s"$root/$f")
        .select("id").collect().map(_.getLong(0))
      (i.toLong, f,
        Map(TxLog.RowCountKey -> 2.0, "id" -> ids.min.toDouble),
        Map(TxLog.RowCountKey -> 2.0, "id" -> ids.max.toDouble),
        Option.empty[String], Option.empty[Long])
    }.toSeq
    val ckptDir =
      s"$root/${TxLog.LogDirName}/00000000000000000002.checkpoint.parquet"
    rows.toDF("idx", "file", "statsMin", "statsMax", "dvPath", "dvRows")
      .repartition(1).write.mode("overwrite").parquet(ckptDir)
    java.nio.file.Files.write(java.nio.file.Paths.get(ckptDir, "_meta.json"),
      """{"format":2,"version":2,"schemaDdl":"id BIGINT,s STRING"}"""
        .getBytes("UTF-8"))
    // truncate the raw log: the format-2 checkpoint is now the ONLY
    // source of the live set and its stats
    new java.io.File(s"$root/${TxLog.LogDirName}").listFiles()
      .filter(_.getName.matches("\\d{20}\\.json")).foreach(_.delete())
    TxLog.clearCheckpointCache()
    TxLog.readLatest(spark, root).count() shouldBe 6L
    // map-carried stats still serve the metadata count and range pruning
    TxLog.countRows(spark, root) shouldBe 6L
    TxLog.readRange(spark, root, "id", 0.0, 1.0).count() shouldBe 2L
  }

  test("cleanOrphans counts v2 checkpoint live sets as references and reaps stale ckpt tmp dirs") {
    val root = tmpRoot()
    (0 until 12).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s")
        .repartition(1), root)
    }
    // truncate the raw entries below the checkpoint: the checkpoint's
    // live set is now the ONLY reference to the v0..v8 data files
    TxLog.vacuumLog(spark, root, keepCheckpoints = 1)
    TxLog.cleanOrphans(spark, root, olderThanMs = 0L) shouldBe empty
    TxLog.readLatest(spark, root).count() shouldBe 12L
    // a crashed checkpoint's tmp dir is reaped once it ages out
    val tmp = new java.io.File(s"$root/${TxLog.LogDirName}/.ckpt_tmp_dead")
    tmp.mkdirs() shouldBe true
    // a crashed writer's claim temp (atomic-rename publication never ran)
    val claimTmp = new java.io.File(
      s"$root/${TxLog.LogDirName}/.00000000000000000099.json.ab12cd34.claimtmp")
    java.nio.file.Files.write(claimTmp.toPath, "torn".getBytes)
    val reaped = TxLog.cleanOrphans(spark, root, olderThanMs = 0L)
    reaped should contain(s"${TxLog.LogDirName}/.ckpt_tmp_dead")
    reaped should contain(
      s"${TxLog.LogDirName}/${claimTmp.getName}")
    tmp.exists() shouldBe false
    claimTmp.exists() shouldBe false
    // the local-FS checksum sidecars (.crc) were NOT touched
    TxLog.readLatest(spark, root).count() shouldBe 12L
  }

  test("_meta.json key order is pinned, and both v2 writers emit the same header bytes") {
    import scala.jdk.CollectionConverters._
    val root = tmpRoot()
    TxLog.append(spark,
      (1L to 20L).map(k => (k, s"r$k", s"x$k")).toDF("id", "s", "extra")
        .repartition(1), root, statsCols = Seq("id"))
    TxLog.appendIdempotent(spark,
      Seq((21L, "r21", "x21")).toDF("id", "s", "extra").repartition(1),
      root, appId = "loader", txnVersion = 3L, statsCols = Seq("id"))
    TxLog.addConstraint(spark, root, "id_pos", "id > 0")
    TxLog.deleteVectored(spark, root, col("id") <= 2L) // DV
    TxLog.dropColumns(spark, root, Seq("extra"))       // tombstone
    TxLog.renameColumn(spark, root, "s", "body")       // column mapping
    // a format-3 base for the incremental writer, then a tail above it
    TxLog.checkpoint(spark, root) shouldBe Some(5L)
    TxLog.append(spark, Seq((30L, "r30")).toDF("id", "body").repartition(1),
      root, statsCols = Seq("id"))
    TxLog.checkpoint(spark, root) shouldBe Some(6L)
    TxLog.lastResolveDistributed shouldBe false
    val dir = s"$root/${TxLog.LogDirName}/00000000000000000006.checkpoint.parquet"
    def meta(): String = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_meta.json")), "UTF-8")
    val classic = meta()
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(classic)
      .fieldNames().asScala.toSeq shouldBe Seq("format", "liveCount",
        "statCols", "version", "schemaDdl", "txns", "constraints",
        "droppedCols", "colMap", "minReader")
    // wipe it and re-checkpoint through the incremental writer
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true) shouldBe true
    spark.conf.set("spark.graft.meta.distributedThreshold", "0")
    try {
      TxLog.checkpoint(spark, root) shouldBe Some(6L)
      TxLog.lastResolveDistributed shouldBe true
    } finally spark.conf.unset("spark.graft.meta.distributedThreshold")
    meta() shouldBe classic
  }
}
