package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Distributed metadata tier: the bounded-driver resolve that answers
  * counts, min/max, and stats/bloom-pruned scans from the format-3
  * checkpoint parquet WITHOUT materializing the live file list
  * (BASELINE.md "Metadata scale" — the measured 10M-file wall this
  * tier removes for the read side).
  *
  * Every test here forces `spark.graft.meta.distributedThreshold=0` so
  * the distributed path runs on a small table, and asserts BIT parity
  * with the materialized path on the same log — same counts, same
  * bounds, same surviving rows, same prune seams.
  */
class TxLogMetaDistribSpec extends SparkSpec {

  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-metadist").toString

  /** Run `body` with the distributed tier forced on, restoring the
    * shared session's default (tier off for small tables) after.
    */
  private def distributed[A](body: => A): A = {
    spark.conf.set("spark.graft.meta.distributedThreshold", "0")
    try body
    finally spark.conf.unset("spark.graft.meta.distributedThreshold")
  }

  /** A table with three checkpointed single-file batches carrying id
    * stats, so the checkpoint has a live set, flat stat columns, and a
    * recorded liveCount.
    */
  private def ckptTable(root: String): Unit = {
    val batches = Seq(Seq((1L, "a"), (2L, "b")), Seq((10L, "c"), (20L, "d")),
      Seq((100L, "e"), (200L, "f")))
    batches.foreach(b => TxLog.append(spark, b.toDF("id", "s").repartition(1),
      root, statsCols = Seq("id")))
    TxLog.checkpoint(spark, root) shouldBe Some(2L)
  }

  test("countRows: distributed == materialized == scan, across a tail " +
      "with an append and a deletion vector") {
    val root = tmpRoot()
    ckptTable(root)
    // tail above the checkpoint: one more stats-carrying batch, then a
    // vectored delete touching a CHECKPOINTED file's rows
    TxLog.append(spark, Seq((1000L, "g"), (2000L, "h")).toDF("id", "s")
      .repartition(1), root, statsCols = Seq("id"))
    TxLog.deleteVectored(spark, root, col("id") === 10L)
    val classic = TxLog.countRows(spark, root)
    TxLog.lastResolveDistributed shouldBe false
    val dist = distributed(TxLog.countRows(spark, root))
    TxLog.lastResolveDistributed shouldBe true
    dist shouldBe classic
    dist shouldBe TxLog.readLatest(spark, root).count()
    dist shouldBe 7L // 8 appended − 1 vectored out
  }

  test("countRows: a tail file without a recorded row count falls back " +
      "to the scan count on BOTH paths") {
    val root = tmpRoot()
    ckptTable(root)
    TxLog.append(spark, Seq((7L, "x")).toDF("id", "s"), root) // no statsCols
    val classic = TxLog.countRows(spark, root)
    val dist = distributed(TxLog.countRows(spark, root))
    TxLog.lastResolveDistributed shouldBe true
    dist shouldBe classic
    dist shouldBe 7L
  }

  test("minMaxFast: distributed matches the materialized answer AND its " +
      "None contracts (live vector, stat-less column)") {
    val root = tmpRoot()
    ckptTable(root)
    TxLog.append(spark, Seq((5000L, "z")).toDF("id", "s").repartition(1),
      root, statsCols = Seq("id"))
    val classic = TxLog.minMaxFast(spark, root, "id")
    val dist = distributed(TxLog.minMaxFast(spark, root, "id"))
    TxLog.lastResolveDistributed shouldBe true
    dist shouldBe classic
    dist shouldBe Some((1.0, 5000.0))
    // a column no write recorded stats for: None on both paths
    distributed(TxLog.minMaxFast(spark, root, "s")) shouldBe
      TxLog.minMaxFast(spark, root, "s")
    distributed(TxLog.minMaxFast(spark, root, "s")) shouldBe None
    // a live deletion vector may have removed the extremum: None
    TxLog.deleteVectored(spark, root, col("id") === 5000L)
    distributed(TxLog.minMaxFast(spark, root, "id")) shouldBe None
    TxLog.minMaxFast(spark, root, "id") shouldBe None
  }

  test("readRange: distributed survivors, content, and prune seams " +
      "match the materialized path") {
    val root = tmpRoot()
    ckptTable(root)
    TxLog.append(spark, Seq((1000L, "g")).toDF("id", "s").repartition(1),
      root, statsCols = Seq("id"))
    val classic = TxLog.readRange(spark, root, "id", 10.0, 30.0)
      .orderBy("id").collect().toSeq
    val classicPrune = TxLog.lastStatsPrune
    val dist = distributed {
      val r = TxLog.readRange(spark, root, "id", 10.0, 30.0)
        .orderBy("id").collect().toSeq
      TxLog.lastResolveDistributed shouldBe true
      r
    }
    dist shouldBe classic
    dist.map(_.getLong(0)) shouldBe Seq(10L, 20L)
    // same skipping: 1 of 4 files survives the bounds on either path
    TxLog.lastStatsPrune shouldBe classicPrune
    TxLog.lastStatsPrune shouldBe Some((1, 4))
  }

  test("readEquals: the bloom tier prunes DISTRIBUTED — survivors only " +
      "reach the driver, result and seams match") {
    val root = tmpRoot()
    (0 until 4).foreach { i =>
      TxLog.append(spark,
        (i * 100 until i * 100 + 50).map(k => (k.toLong, s"r$k"))
          .toDF("k", "v").repartition(1),
        root, statsCols = Seq("k"))
    }
    TxLog.buildBloomIndex(spark, root, "k", expectedKeysPerFile = 1000L)
    TxLog.checkpoint(spark, root) shouldBe Some(3L)
    TxLog.lastBloomPrune = None
    TxLog.lastStatsPrune = None
    val classic = TxLog.readEquals(spark, root, "k", Seq(217L))
      .collect().toSeq
    val classicPrune = TxLog.lastBloomPrune
    val classicStats = TxLog.lastStatsPrune
    TxLog.lastStatsPrune = None
    val dist = distributed {
      val r = TxLog.readEquals(spark, root, "k", Seq(217L)).collect().toSeq
      TxLog.lastResolveDistributed shouldBe true
      r
    }
    dist shouldBe classic
    dist.map(_.getLong(0)) shouldBe Seq(217L)
    // the point lookup scanned 1 of 4 files: the point set's stats test
    // keeps only the file whose [min, max] holds 217 (so the bloom tier
    // is skipped) — and both tiers say so
    TxLog.lastBloomPrune shouldBe classicPrune
    classicStats shouldBe Some((1, 4))
    TxLog.lastStatsPrune shouldBe Some((1, 4))
    val (kept, _) = TxLog.lastBloomPrune.get
    kept shouldBe 1
    // the file count and the planned bytes are the same file selection
    val probe = Seq("k" -> Seq[Any](217L))
    val classicFiles = TxLog.bloomScanFileCount(spark, root, "k", Seq(217L))
    val classicBytes = TxLog.plannedScanSizes(spark, root, Nil, probe)
    distributed {
      TxLog.bloomScanFileCount(spark, root, "k", Seq(217L)) shouldBe
        classicFiles
      TxLog.lastResolveDistributed shouldBe true
      TxLog.plannedScanSizes(spark, root, Nil, probe) shouldBe classicBytes
      TxLog.lastResolveDistributed shouldBe true
    }
    classicFiles shouldBe kept
    classicBytes should be > 0L
  }

  test("a tail OVERWRITE above the checkpoint (every base file touched) " +
      "resolves identically through the meta path") {
    val root = tmpRoot()
    ckptTable(root)
    TxLog.overwrite(spark,
      Seq((7L, "n1"), (8L, "n2")).toDF("id", "s").repartition(1),
      root, statsCols = Seq("id"))
    distributed(TxLog.countRows(spark, root)) shouldBe 2L
    TxLog.lastResolveDistributed shouldBe true
    distributed(TxLog.minMaxFast(spark, root, "id")) shouldBe Some((7.0, 8.0))
    distributed(TxLog.readStatsPruned(spark, root, Seq(("id", 0.0, 100.0)))
      .orderBy("id").select("id").as[Long].collect().toSeq) shouldBe
      Seq(7L, 8L)
  }

  test("a renamed column prunes through the meta path under its LOGICAL " +
      "name (stats keyed by the frozen physical name)") {
    val root = tmpRoot()
    ckptTable(root)
    TxLog.renameColumn(spark, root, "id", "key")
    TxLog.checkpoint(spark, root) // colMap lands in the checkpoint header
    TxLog.append(spark, Seq((9999L, "t")).toDF("key", "s").repartition(1),
      root, statsCols = Seq("key"))
    val classic = TxLog.readRange(spark, root, "key", 100.0, 300.0)
      .orderBy("key").select("key").as[Long].collect().toSeq
    val dist = distributed {
      val r = TxLog.readRange(spark, root, "key", 100.0, 300.0)
        .orderBy("key").select("key").as[Long].collect().toSeq
      TxLog.lastResolveDistributed shouldBe true
      r
    }
    dist shouldBe classic
    dist shouldBe Seq(100L, 200L)
    TxLog.lastStatsPrune shouldBe Some((1, 4))
  }

  test("schemaOf / currentVersion answer from the header + tail, never " +
      "the per-file rows") {
    val root = tmpRoot()
    ckptTable(root)
    TxLog.append(spark,
      Seq((1L, "x", true)).toDF("id", "s", "flag"), root) // tail evolution
    val (ds, dv) = distributed {
      val r = (TxLog.schemaOf(spark, root), TxLog.currentVersion(spark, root))
      TxLog.lastResolveDistributed shouldBe true
      r
    }
    ds shouldBe TxLog.schemaOf(spark, root)
    ds.fieldNames.toSeq shouldBe Seq("id", "s", "flag")
    dv shouldBe TxLog.currentVersion(spark, root)
    dv shouldBe Some(3L)
  }

  test("a VERSION AS OF read below the latest checkpoint rides whichever " +
      "path its own newest checkpoint allows, identically") {
    val root = tmpRoot()
    ckptTable(root) // checkpoint at v2
    TxLog.append(spark, Seq((1000L, "g")).toDF("id", "s").repartition(1),
      root, statsCols = Seq("id"))
    TxLog.checkpoint(spark, root) shouldBe Some(3L)
    // upTo = 2: the eligible checkpoint is the v2 one at version 2
    val classic = TxLog.readStatsPruned(spark, root, Seq(("id", 0.0, 1e9)),
      version = Some(2L)).select("id").as[Long].collect().toSeq.sorted
    val dist = distributed {
      val r = TxLog.readStatsPruned(spark, root, Seq(("id", 0.0, 1e9)),
        version = Some(2L)).select("id").as[Long].collect().toSeq.sorted
      TxLog.lastResolveDistributed shouldBe true
      r
    }
    dist shouldBe classic
    dist shouldBe Seq(1L, 2L, 10L, 20L, 100L, 200L)
  }

  test("the connector's pruned scan rides the distributed tier end-to-end") {
    val root = tmpRoot()
    ckptTable(root)
    val classic = spark.read.format("graft").load(root)
      .filter(col("id") >= 10L && col("id") <= 30L)
      .orderBy("id").collect().toSeq
    val dist = distributed {
      val r = spark.read.format("graft").load(root)
        .filter(col("id") >= 10L && col("id") <= 30L)
        .orderBy("id").collect().toSeq
      TxLog.lastResolveDistributed shouldBe true
      r
    }
    dist shouldBe classic
    dist.map(_.getLong(0)) shouldBe Seq(10L, 20L)
  }

  test("the incremental checkpoint writes the SAME checkpoint as the " +
      "classic writer — deep content parity over a rich tail") {
    val root = tmpRoot()
    ckptTable(root) // classic checkpoint at v2
    // a tail exercising every per-file shape the writer must carry:
    // v3 append (new file, new stats), v4 idempotent append (txn
    // watermark), v5 a deletion vector on a CHECKPOINTED file, v6 a
    // constraint, v7 a full-file DELETE (metadata-only remove), v8 a
    // rollback (the removed file comes BACK — end-of-order re-add)
    TxLog.append(spark, Seq((1000L, "g"), (2000L, "h")).toDF("id", "s")
      .repartition(1), root, statsCols = Seq("id"))
    TxLog.appendIdempotent(spark, Seq((3000L, "i")).toDF("id", "s")
      .repartition(1), root, "app-x", 41L, statsCols = Seq("id"))
    TxLog.deleteVectored(spark, root, col("id") === 10L)
    TxLog.addConstraint(spark, root, "pos_id", "id >= 0")
    TxLog.delete(spark, root, col("id") >= 100L && col("id") <= 200L)
    val preRollback = TxLog.currentVersion(spark, root).get
    TxLog.rollback(spark, root, preRollback - 1)
    val v = TxLog.currentVersion(spark, root).get
    val ckptDir = f"$root/${TxLog.LogDirName}/$v%020d.checkpoint.parquet"

    // classic writer first (default threshold: materialized path)
    TxLog.checkpoint(spark, root) shouldBe Some(v)
    TxLog.lastResolveDistributed shouldBe false
    val classic = TxLog.ckptDigestV2(spark, root, v)
    // wipe it, re-checkpoint through the incremental writer
    val p = new org.apache.hadoop.fs.Path(ckptDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true) shouldBe true
    distributed {
      TxLog.checkpoint(spark, root) shouldBe Some(v)
      TxLog.lastResolveDistributed shouldBe true
    }
    val incremental = TxLog.ckptDigestV2(spark, root, v)
    incremental._1 shouldBe classic._1 // live files, REPLAY ORDER included
    incremental._2 shouldBe classic._2 // schema
    incremental._3 shouldBe classic._3 // version
    incremental._4 shouldBe classic._4 // per-file stats, full maps
    incremental._5 shouldBe classic._5 // txn watermarks
    incremental._6 shouldBe classic._6 // constraints
    incremental._7 shouldBe classic._7 // deletion vectors
    incremental._8 shouldBe classic._8 // drop tombstones
    incremental._9 shouldBe classic._9 // column mapping
  }

  test("a log truncated to an INCREMENTAL checkpoint resolves the full " +
      "table state (the checkpoint is load-bearing, not derived-only)") {
    val root = tmpRoot()
    ckptTable(root)
    TxLog.append(spark, Seq((1000L, "g")).toDF("id", "s").repartition(1),
      root, statsCols = Seq("id"))
    TxLog.deleteVectored(spark, root, col("id") === 20L)
    val expected = TxLog.readLatest(spark, root).orderBy("id")
      .collect().toSeq
    val expectedCount = TxLog.countRows(spark, root)
    distributed(TxLog.checkpoint(spark, root)) shouldBe
      TxLog.currentVersion(spark, root)
    // drop every raw entry and the old checkpoint: reads must survive
    // on the incremental checkpoint alone
    TxLog.vacuumLog(spark, root, keepCheckpoints = 1) should not be empty
    TxLog.readLatest(spark, root).orderBy("id").collect().toSeq shouldBe
      expected
    TxLog.countRows(spark, root) shouldBe expectedCount
    distributed(TxLog.countRows(spark, root)) shouldBe expectedCount
    // the live vector's file holds only interior ids: the clean files
    // dominate both bounds, so the metadata answer survives the dv
    TxLog.minMaxFast(spark, root, "id") shouldBe Some((1.0, 1000.0))
    TxLog.readRange(spark, root, "id", 10.0, 30.0)
      .select("id").as[Long].collect().toSeq shouldBe Seq(10L)
  }

  test("an APPEND to a distributed-tier table is O(tail) on the driver: " +
      "scalars from the meta resolve, live set never materialized") {
    val root = tmpRoot()
    ckptTable(root)
    distributed {
      TxLog.lastCommitLiveForced = false
      TxLog.append(spark, Seq((42L, "w")).toDF("id", "s").repartition(1),
        root, statsCols = Seq("id"))
      TxLog.lastResolveDistributed shouldBe true
      TxLog.lastCommitLiveForced shouldBe false // append never forces it
      // idempotent replays observe the txn watermark through scalars
      TxLog.appendIdempotent(spark, Seq((43L, "x")).toDF("id", "s"),
        root, "app-meta", 7L) should not be empty
      TxLog.appendIdempotent(spark, Seq((43L, "dup")).toDF("id", "s"),
        root, "app-meta", 7L) shouldBe None
      TxLog.lastCommitLiveForced shouldBe false
      // ... while an OVERWRITE's delta legitimately demands the set
      TxLog.overwrite(spark, Seq((9L, "ow")).toDF("id", "s"), root)
      TxLog.lastCommitLiveForced shouldBe true
    }
    TxLog.readLatest(spark, root).count() shouldBe 1L
    spark.read.format("graft").load(root).count() shouldBe 1L
  }

  test("the write fences still bind through scalars on the distributed " +
      "tier: constraints and schema tombstones refuse exactly as before") {
    val root = tmpRoot()
    ckptTable(root)
    distributed {
      TxLog.addConstraint(spark, root, "id_pos", "id >= 0")
      intercept[IllegalStateException] {
        TxLog.append(spark, Seq((-5L, "bad")).toDF("id", "s"), root)
      }
      TxLog.dropColumns(spark, root, Seq("s"))
      intercept[IllegalArgumentException] {
        // re-evolving a tombstoned column must refuse through the
        // scalar-resolved droppedCols, same as the materialized path
        TxLog.append(spark, Seq((5L, "zombie")).toDF("id", "s"), root)
      }
    }
    TxLog.readLatest(spark, root).columns.toSeq shouldBe Seq("id")
  }

  test("a stat key whose last carrier left the live set is RETIRED from " +
      "the incremental checkpoint's legend") {
    val root = tmpRoot()
    ckptTable(root) // stats on id, checkpoint at v2
    // the tail replaces the whole table WITHOUT stats: every id carrier
    // is gone, so the incremental writer must drop the key, not carry
    // two all-null columns forever
    TxLog.overwrite(spark, Seq((7L, "n")).toDF("id", "s"), root)
    val v = TxLog.currentVersion(spark, root).get
    distributed(TxLog.checkpoint(spark, root)) shouldBe Some(v)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        f"$root/${TxLog.LogDirName}/$v%020d.checkpoint.parquet/_meta.json")))
    // __bytes (stage-recorded on every write) survives; id must not
    meta should not include "\"id\""
    distributed(TxLog.countRows(spark, root)) shouldBe 1L // scan fallback
  }

  test("concurrent appends race correctly through the scalar commit " +
      "path (cadence checkpoints land incrementally mid-fuzz)") {
    val root = tmpRoot()
    ckptTable(root) // checkpoint at v2
    distributed {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      try {
        val futures = (0 until 6).map { t =>
          pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
            def call(): Seq[Long] = (0 until 3).map { i =>
              TxLog.append(spark,
                Seq((t * 100L + i, s"w$t-$i")).toDF("id", "s"),
                root, statsCols = Seq("id"))
            }
          })
        }
        val versions = futures.flatMap(
          _.get(180, java.util.concurrent.TimeUnit.SECONDS))
        // 18 winners, distinct AND contiguous: the optimistic loop's
        // version claims never skip or double-allocate under the
        // scalar-resolved path (auto-cadence checkpoints at v9/v19
        // exercise the incremental writer under contention)
        versions.sorted shouldBe (3L to 20L)
      } finally pool.shutdown()
      TxLog.countRows(spark, root) shouldBe 24L
    }
    TxLog.readLatest(spark, root).count() shouldBe 24L
    TxLog.readRange(spark, root, "id", 500.0, 502.0)
      .select("id").as[Long].collect().toSeq.sorted shouldBe
      Seq(500L, 501L, 502L)
  }

  test("partitionAggregates: distributed tier == driver fold, across a tail with an append and a vector") {
    val root = tmpRoot()
    // partitioned, stats-bearing, checkpointed base + a tail holding an
    // append AND a vectored delete on a checkpointed file's rows
    (0 until 3).foreach { b =>
      TxLog.append(spark,
        (0L until 20L).map(i => (b * 100L + i, s"p${i % 2}"))
          .toDF("id", "part")
          // explicit multi-file layout (sizedForStage respects it): the
          // dirty/clean bounds assertions below pin the SPLIT of p0's
          // stats across the vectored file {0,2,4} and its clean
          // siblings — a coalesced batch would put them in one file
          .repartitionByRange(4, col("id")),
        root, partitionCols = Seq("part"), statsCols = Seq("id"))
    }
    TxLog.checkpoint(spark, root) shouldBe Some(2L)
    TxLog.append(spark, Seq((999L, "p1")).toDF("id", "part"), root,
      partitionCols = Seq("part"), statsCols = Seq("id"))
    TxLog.deleteVectored(spark, root, col("id") === 0L) // in p0, ckpt'd
    val small = TxLog.partitionAggregates(spark, root,
      statCols = Seq("id"))
    TxLog.lastResolveDistributed = false
    val dist = distributed(
      TxLog.partitionAggregates(spark, root, statCols = Seq("id")))
    TxLog.lastResolveDistributed shouldBe true
    dist shouldBe small
    val (cols, m) = dist.get
    cols shouldBe Seq("part")
    m(Seq("p0")).rows shouldBe 29L // 30 minus the vectored id 0
    m(Seq("p0")).anyDv shouldBe true
    m(Seq("p1")).rows shouldBe 31L
    m(Seq("p1")).anyDv shouldBe false
    m(Seq("p1")).bounds("id") shouldBe
      Some(TxLog.BoundParts(Some((1.0, 999.0)), None))
    // dv'd partition: bounds still FOLD from file stats, SPLIT by
    // vector state (the DECISION — clean-dominates — is the consumer's,
    // answerPartitionCounts): the vectored base file is the dirty side
    m(Seq("p0")).bounds("id") shouldBe
      Some(TxLog.BoundParts(Some((6.0, 218.0)), Some((0.0, 4.0))))
  }

  test("historySummary over a checkpointed log parses only the TAIL " +
      "(seam-counted), equal to the parse-everything projection") {
    val root = tmpRoot()
    ckptTable(root) // v0..v2, checkpoint at 2 carries _history.json
    TxLog.append(spark, Seq((7L, "g")).toDF("id", "s"), root)      // v3
    TxLog.overwrite(spark, Seq((9L, "h")).toDF("id", "s"), root)   // v4
    val full = TxLog.history(spark, root).map(c =>
      (c.version, c.operation, c.timestampMs, c.add.size, c.remove.size,
        c.metrics))
    TxLog.lastHistorySource = None
    TxLog.historySummary(spark, root) shouldBe full
    // served from the v2 sidecar; only the 2 tail entries were parsed
    TxLog.lastHistorySource shouldBe Some((2L, 2))
  }

  test("the history sidecar outlives log truncation: DESCRIBE HISTORY " +
      "and timestamp resolution reach pre-checkpoint commits the raw " +
      "entries no longer hold") {
    val root = tmpRoot()
    ckptTable(root)                                                // ckpt@2
    TxLog.append(spark, Seq((7L, "g")).toDF("id", "s"), root)      // v3
    val full = TxLog.historySummary(spark, root)
    full.map(_._1) shouldBe Seq(0L, 1L, 2L, 3L)
    TxLog.vacuumLog(spark, root, keepCheckpoints = 1)
    // raw parse-everything can no longer see v0..v1; the sidecar can
    TxLog.history(spark, root).map(_.version) should not be full.map(_._1)
    TxLog.historySummary(spark, root) shouldBe full
    // a PRE-checkpoint instant resolves through the sidecar...
    val ts1 = full.find(_._1 == 1L).get._3
    val expect = full.filter(_._3 <= ts1).last._1
    TxLog.versionAtTimestamp(spark, root, ts1) shouldBe expect
    // ...and reading a vacuumed version fails loudly, never silently
    if (expect < 2L)
      intercept[Exception](TxLog.readAt(spark, root, expect).collect())
  }

  test("checkpoints chain their sidecars (newest prior + tail, never a " +
      "full-log parse) and honor the retainEntries cap") {
    val root = tmpRoot()
    ckptTable(root)                                                // ckpt@2
    TxLog.append(spark, Seq((7L, "g")).toDF("id", "s"), root)      // v3
    TxLog.append(spark, Seq((8L, "i")).toDF("id", "s"), root)      // v4
    TxLog.checkpoint(spark, root) shouldBe Some(4L)                // ckpt@4
    TxLog.lastHistorySource = None
    val full = TxLog.historySummary(spark, root)
    full.map(_._1) shouldBe Seq(0L, 1L, 2L, 3L, 4L)
    TxLog.lastHistorySource shouldBe Some((4L, 0))
    // cap: a re-checkpoint under a small retainEntries keeps the NEWEST
    spark.conf.set("spark.graft.history.retainEntries", "2")
    try {
      TxLog.append(spark, Seq((9L, "j")).toDF("id", "s"), root)    // v5
      TxLog.checkpoint(spark, root) shouldBe Some(5L)              // ckpt@5
      // the cap bounds the SIDECAR, not the answer: raw entries below
      // the carried window still exist, so the summary parses exactly
      // those (version-bounded) and stays complete
      TxLog.lastHistorySource = None
      TxLog.historySummary(spark, root).map(_._1) shouldBe
        Seq(0L, 1L, 2L, 3L, 4L, 5L)
      TxLog.lastHistorySource shouldBe Some((5L, 4))
      // once the raw history is actually vacuumed, the carried window
      // is all there is — the honest truncation horizon
      TxLog.vacuumLog(spark, root, keepCheckpoints = 1)
      TxLog.lastHistorySource = None
      TxLog.historySummary(spark, root).map(_._1) shouldBe Seq(4L, 5L)
      TxLog.lastHistorySource shouldBe Some((5L, 0))
      // reading a version the summary no longer reconstructs names the
      // truncation horizon, not a generic resolve failure
      val e = intercept[IllegalArgumentException](
        TxLog.readAt(spark, root, 1L).collect())
      e.getMessage should include("earliest reconstructable snapshot")
      // a NEW checkpoint version (same-version checkpoints return early)
      TxLog.append(spark, Seq((10L, "k")).toDF("id", "s"), root)   // v6
      intercept[IllegalArgumentException] {
        spark.conf.set("spark.graft.history.retainEntries", "zero")
        TxLog.checkpoint(spark, root)
      }
    } finally spark.conf.unset("spark.graft.history.retainEntries")
  }

  test("a vacuumed gap under a sidecar-less checkpoint degrades history " +
      "to the contiguous suffix — never a wrong version for an instant " +
      "inside the gap") {
    val root = tmpRoot()
    ckptTable(root)                                              // ckpt@2
    val full = TxLog.historySummary(spark, root)
    TxLog.append(spark, Seq((7L, "g")).toDF("id", "s"), root)    // v3
    TxLog.append(spark, Seq((8L, "h")).toDF("id", "s"), root)    // v4
    TxLog.checkpoint(spark, root) shouldBe Some(4L)              // ckpt@4
    // simulate an OLDER writer's checkpoint: strip ckpt@4's sidecar
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hist4 = new org.apache.hadoop.fs.Path(
      f"$root/_txlog/${4L}%020d.checkpoint.parquet/_history.json")
    fs.delete(hist4, false) shouldBe true
    // vacuum to ckpt@4: raw entries v0..v4 gone; the newest SIDECAR is
    // ckpt@2's, which cannot cover v3..v4 — a gap
    TxLog.vacuumLog(spark, root, keepCheckpoints = 1)
    TxLog.append(spark, Seq((9L, "i")).toDF("id", "s"), root)    // v5
    // the summary serves only the contiguous suffix (v4 survives the
    // vacuum as the checkpointed version's entry, then v5) — never
    // ckpt@2's rows with a silent hole at v3
    TxLog.historySummary(spark, root).map(_._1) shouldBe Seq(4L, 5L)
    // an instant inside the unrecoverable range fails HONESTLY — the
    // pre-contiguity code resolved it to v2, a wrong snapshot
    val ts1 = full.find(_._1 == 1L).get._3
    val e = intercept[IllegalArgumentException](
      TxLog.versionAtTimestamp(spark, root, ts1))
    e.getMessage should include("predates")
  }

  test("historySummary is history's projection exactly — same rows, " +
      "without retaining the commits' file lists") {
    val root = tmpRoot()
    ckptTable(root)
    TxLog.overwrite(spark, Seq((7L, "n")).toDF("id", "s"), root)
    val full = TxLog.history(spark, root).map(c =>
      (c.version, c.operation, c.timestampMs, c.add.size, c.remove.size,
        c.metrics))
    TxLog.historySummary(spark, root) shouldBe full
    full.map(_._2) shouldBe Seq("append", "append", "append", "overwrite")
  }

  test("the tier never activates below the threshold or on a table " +
      "whose newest checkpoint predates liveCount") {
    val root = tmpRoot()
    ckptTable(root)
    // default threshold (100k): the 6-file table stays materialized
    TxLog.countRows(spark, root) shouldBe 6L
    TxLog.lastResolveDistributed shouldBe false
  }
}
