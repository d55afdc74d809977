package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bloom-filter file index: point-lookup skipping on hash-distributed
  * keys, where min/max stats prune nothing.
  */
class TxLogBloomSpec extends SparkSpec {

  import spark.implicits._

  /** Four commits of DISJOINT uuid-ish string keys — every file spans the
    * whole lexicographic range (shared prefixes), so range stats cannot
    * prune, but blooms separate them perfectly.
    */
  private def freshTable(): (String, Seq[String]) = {
    val root = Files.createTempDirectory("txbloom").toString + "/t"
    val keys = (0 until 4).map { c =>
      (0 until 200).map(i => f"k${(i * 7 + c) % 1000}%03d-c$c")
    }
    keys.zipWithIndex.foreach { case (ks, c) =>
      TxLog.append(spark,
        ks.toDF("k").withColumn("commit", lit(c)).repartition(1),
        root)
    }
    (root, keys.map(_.head))
  }

  test("readEquals matches plain filter and skips non-matching files") {
    val (root, firstKeys) = freshTable()
    TxLog.buildBloomIndex(spark, root, "k",
      expectedKeysPerFile = 1000, fpp = 0.01) shouldBe 4L

    val probe = firstKeys(2) // lives only in commit 2's file
    val viaBloom = TxLog.readEquals(spark, root, "k", Seq(probe))
      .select("k", "commit").collect().map(r => (r.getString(0), r.getInt(1)))
    viaBloom should contain theSameElementsAs Seq((probe, 2))

    // the skipping is real: of 4 live files, ~1 survives the bloom probe
    // (allow 2 for false positives at 1% fpp)
    val scanned = TxLog.bloomScanFileCount(spark, root, "k", Seq(probe))
    scanned should be <= 2
    scanned should be >= 1
  }

  test("multi-value probe keeps the union of candidate files") {
    val (root, firstKeys) = freshTable()
    TxLog.buildBloomIndex(spark, root, "k", expectedKeysPerFile = 1000)
    val probes = Seq(firstKeys(0), firstKeys(3))
    val rows = TxLog.readEquals(spark, root, "k", probes)
      .select("commit").as[Int].collect().sorted
    rows shouldBe Array(0, 3)
    TxLog.bloomScanFileCount(spark, root, "k", probes) should be <= 3
  }

  test("absent key scans nothing and returns empty") {
    val (root, _) = freshTable()
    TxLog.buildBloomIndex(spark, root, "k", expectedKeysPerFile = 1000)
    TxLog.bloomScanFileCount(spark, root, "k", Seq("no-such-key")) shouldBe 0
    TxLog.readEquals(spark, root, "k", Seq("no-such-key")).count() shouldBe 0L
  }

  test("files written after the build are conservatively scanned") {
    val (root, _) = freshTable()
    TxLog.buildBloomIndex(spark, root, "k", expectedKeysPerFile = 1000)
    TxLog.append(spark,
      Seq(("fresh-key", 9)).toDF("k", "commit").repartition(1), root)
    // no index row for the new file -> it is kept, so the lookup FINDS the
    // key even though the index predates it
    val rows = TxLog.readEquals(spark, root, "k", Seq("fresh-key"))
      .select("commit").as[Int].collect()
    rows shouldBe Array(9)
    // and the candidate set is (new file) + bloom-admitted old files = 1
    TxLog.bloomScanFileCount(spark, root, "k", Seq("fresh-key")) shouldBe 1
  }

  test("refresh indexes only the files added since the build") {
    val (root, _) = freshTable()
    TxLog.buildBloomIndex(spark, root, "k", expectedKeysPerFile = 1000)
    // nothing changed: the refresh touches zero files
    TxLog.refreshBloomIndex(spark, root, "k",
      expectedKeysPerFile = 1000) shouldBe 0L
    TxLog.append(spark,
      Seq(("fresh-key", 9)).toDF("k", "commit").repartition(1), root)
    TxLog.refreshBloomIndex(spark, root, "k",
      expectedKeysPerFile = 1000) shouldBe 1L
    // the new file is now INDEXED, so a probe for an old-only key skips
    // it (the conservative keep for unindexed files no longer applies)
    TxLog.bloomScanFileCount(spark, root, "k",
      Seq("no-such-key")) shouldBe 0
    // and the fresh key still resolves, through its own index row
    TxLog.readEquals(spark, root, "k", Seq("fresh-key"))
      .select("commit").as[Int].collect() shouldBe Array(9)
  }

  test("refresh without a prior build is the full build") {
    val (root, firstKeys) = freshTable()
    TxLog.refreshBloomIndex(spark, root, "k",
      expectedKeysPerFile = 1000) shouldBe 4L
    TxLog.bloomScanFileCount(spark, root, "k",
      Seq(firstKeys(2))) should be <= 2
  }

  test("refresh stays exact across a rewrite (dead rows are harmless)") {
    val (root, firstKeys) = freshTable()
    TxLog.buildBloomIndex(spark, root, "k", expectedKeysPerFile = 1000)
    // rewrite commit 1's file: its rows move to a NEW file name; the old
    // name's index row goes dead but can never mis-prune (dead names are
    // not in the live set)
    TxLog.delete(spark, root, col("k") === firstKeys(1))
    TxLog.append(spark,
      Seq((firstKeys(1), 1)).toDF("k", "commit").repartition(1), root)
    TxLog.refreshBloomIndex(spark, root, "k",
      expectedKeysPerFile = 1000) should be >= 1L
    val rows = TxLog.readEquals(spark, root, "k", Seq(firstKeys(1)))
      .select("commit").as[Int].collect()
    rows shouldBe Array(1)
    // every live file indexed again: an absent key scans nothing
    TxLog.bloomScanFileCount(spark, root, "k", Seq("no-such-key")) shouldBe 0
  }

  test("without an index readEquals degrades to a full-scan filter") {
    val (root, firstKeys) = freshTable()
    TxLog.bloomScanFileCount(spark, root, "k", Seq(firstKeys(1))) shouldBe 4
    TxLog.readEquals(spark, root, "k", Seq(firstKeys(1)))
      .count() shouldBe 1L
  }

  test("numeric column probes hash consistently with the build") {
    val root = Files.createTempDirectory("txbloomnum").toString + "/t"
    (0 until 3).foreach { c =>
      TxLog.append(spark,
        (0 until 100).map(i => (i * 3 + c).toLong)
          .toDF("id").withColumn("commit", lit(c)).repartition(1),
        root)
    }
    TxLog.buildBloomIndex(spark, root, "id", expectedKeysPerFile = 500)
    // 152 = 3*50+2 lives in commit 2 only
    val rows = TxLog.readEquals(spark, root, "id", Seq(152L))
      .select("commit").as[Int].collect()
    rows shouldBe Array(2)
    TxLog.bloomScanFileCount(spark, root, "id", Seq(152L)) should be <= 2
  }

  test("binary key probes hash the bytes, not the array's string form") {
    val root = Files.createTempDirectory("txbloombin").toString + "/t"
    (0 until 3).foreach { c =>
      TxLog.append(spark,
        (0 until 50).map(i => (Array[Byte](c.toByte, i.toByte), c))
          .toDF("k", "commit").repartition(1), root)
    }
    TxLog.buildBloomIndex(spark, root, "k", expectedKeysPerFile = 100)
    val probe = Array[Byte](2, 7)
    TxLog.readEquals(spark, root, "k", Seq(probe))
      .select("commit").as[Int].collect() shouldBe Array(2)
    TxLog.bloomScanFileCount(spark, root, "k", Seq(probe)) should
      (be >= 1 and be <= 2)
    spark.read.format("graft").load(root).filter(col("k") === probe)
      .count() shouldBe 1L
  }

  test("timestamp key probes do not depend on the JVM default zone") {
    val saved = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(
      java.util.TimeZone.getTimeZone("America/New_York"))
    try {
      val root = Files.createTempDirectory("txbloomts").toString + "/t"
      def ts(c: Int, i: Int) =
        new java.sql.Timestamp(1700000000000L + (c * 50 + i) * 60000L)
      (0 until 3).foreach { c =>
        TxLog.append(spark,
          (0 until 50).map(i => (ts(c, i), c))
            .toDF("k", "commit").repartition(1), root)
      }
      TxLog.buildBloomIndex(spark, root, "k", expectedKeysPerFile = 100)
      TxLog.readEquals(spark, root, "k", Seq(ts(2, 7)))
        .select("commit").as[Int].collect() shouldBe Array(2)
    } finally java.util.TimeZone.setDefault(saved)
  }

  test("merge through a bloom-indexed key stays exact") {
    val (root, firstKeys) = freshTable()
    TxLog.buildBloomIndex(spark, root, "k", expectedKeysPerFile = 1000)
    val before = TxLog.readLatest(spark, root).count()
    // update one existing key (commit 1's first key), insert one new key —
    // the probe goes through the bloom-pruned path (string key, small set)
    val updates = Seq((firstKeys(1), 100), ("brand-new", 101))
      .toDF("k", "commit")
    TxLog.merge(spark, updates, root, Seq("k"), Seq.empty)
    val after = TxLog.readLatest(spark, root)
    after.count() shouldBe before + 1
    after.filter(col("k") === firstKeys(1)).select("commit").as[Int]
      .collect() shouldBe Array(100)
    after.filter(col("k") === "brand-new").select("commit").as[Int]
      .collect() shouldBe Array(101)
    // untouched keys keep their rows
    after.filter(col("k") === firstKeys(3)).count() shouldBe 1L
  }

  test("merge ignores the bloom index when the key type differs") {
    val root = java.nio.file.Files.createTempDirectory("txbloomtyp")
      .toString + "/t"
    (0 until 2).foreach { c =>
      TxLog.append(spark,
        (0 until 50).map(i => (i * 2 + c).toLong)
          .toDF("id").withColumn("v", lit(c)).repartition(1), root)
    }
    TxLog.buildBloomIndex(spark, root, "id", expectedKeysPerFile = 100)
    // INT updates against the BIGINT-built index: xxhash64 spaces differ,
    // so the guard must fall back to the unpruned probe — and the merge
    // must still land the update (after Spark's own int->long coercion in
    // the join) instead of wrongly skipping every file
    val updates = Seq((4, 99)).toDF("id", "v")
    TxLog.merge(spark, updates, root, Seq("id"), Seq.empty)
    TxLog.readLatest(spark, root).filter(col("id") === 4L)
      .select("v").as[Int].collect() shouldBe Array(99)
  }

  test("bloom build and probe never materialize bitsets on the driver") {
    val (root, firstKeys) = freshTable()
    // Oversize the filters so driver materialization would be unmissable:
    // 1M expected keys -> ~1.2 MB bitset per file, ~4.8 MB index total.
    val resultBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          resultBytes.addAndGet(te.taskMetrics.resultSize)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      TxLog.buildBloomIndex(spark, root, "k",
        expectedKeysPerFile = 1000000L) shouldBe 4L
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      val buildBytes = resultBytes.getAndSet(0L)

      val probe = firstKeys(2)
      val rows = TxLog.readEquals(spark, root, "k", Seq(probe))
        .select("commit").as[Int].collect()
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      val probeBytes = resultBytes.get()
      rows shouldBe Array(2)

      // the index really is MBs of bitsets once deserialized (on disk
      // parquet RLE shrinks the sparse bitsets; what a collect() would
      // materialize is the raw byte arrays) — measure them executor-side
      val idxBytes = spark.read.parquet(s"$root/_txlog/bloom_k")
        .agg(sum(octet_length(col("bloom")))).as[Long].head()
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      resultBytes.set(0L) // the size probe itself is not under test
      idxBytes should be >= (4L << 20)
      // ...yet neither the build nor the probe ships anything bitset-sized
      // to the driver: task results stay name/metric-sized. (The old
      // collect()-based paths moved >= idxBytes each.)
      buildBytes should be < (1L << 20)
      probeBytes should be < (1L << 20)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("bloom index survives version time travel reads") {
    val (root, firstKeys) = freshTable()
    TxLog.buildBloomIndex(spark, root, "k", expectedKeysPerFile = 1000)
    // at version 1 only commits 0..1 are live; a key from commit 3 is gone
    TxLog.readEquals(spark, root, "k", Seq(firstKeys(3)), version = Some(1L))
      .count() shouldBe 0L
    TxLog.readEquals(spark, root, "k", Seq(firstKeys(0)), version = Some(1L))
      .count() shouldBe 1L
  }
}
