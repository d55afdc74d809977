package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** In-JVM rendezvous for the write-skew spec (local[*] executors share the
  * JVM, so udf closures reach these statics directly).
  */
object TxLogSpecHooks {
  @volatile var evals: java.util.concurrent.atomic.AtomicInteger = _
  @volatile var postCapture: java.util.concurrent.CountDownLatch = _
  @volatile var interleaved: java.util.concurrent.CountDownLatch = _
  def reset(): Unit = {
    evals = new java.util.concurrent.atomic.AtomicInteger(0)
    postCapture = new java.util.concurrent.CountDownLatch(1)
    interleaved = new java.util.concurrent.CountDownLatch(1)
  }
}

/** ACID commit-log table format: snapshot isolation, time travel,
  * rollback, schema evolution, concurrent commits, vacuum.
  */
class TxLogSpec extends SparkSpec {

  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-txlog").toString

  test("DELETE drops fully-matched files metadata-only; straddlers are rewritten") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = tmpRoot()
    TxLog.append(spark,
      (1L to 50L).map(k => (k, s"r$k")).toDF("id", "s").repartition(1), root)
    TxLog.append(spark,
      (100L to 150L).map(k => (k, s"r$k")).toDF("id", "s").repartition(1),
      root)
    val before = TxLog.liveSizes(spark, root).map(_._1).toSet
    before.size shouldBe 2

    // every visible row of the second file matches: the file is REMOVED,
    // nothing is staged — zero data bytes written
    TxLog.delete(spark, root, col("id") >= 100)
    val m = TxLog.history(spark, root).last.metrics
    m("numDeletedRows") shouldBe 51L
    m("numRemovedFiles") shouldBe 1L
    m("numRewrittenFiles") shouldBe 0L
    m("numAddedFiles") shouldBe 0L
    // the survivor is the SAME file object, not a rewrite of it
    TxLog.liveSizes(spark, root).map(_._1).toSet.subsetOf(before) shouldBe true
    TxLog.readLatest(spark, root).count() shouldBe 50L

    // a predicate that straddles the remaining file rewrites it
    TxLog.delete(spark, root, col("id") <= 10)
    val m2 = TxLog.history(spark, root).last.metrics
    m2("numRemovedFiles") shouldBe 0L
    m2("numRewrittenFiles") shouldBe 1L
    m2("numDeletedRows") shouldBe 10L
    TxLog.readLatest(spark, root).count() shouldBe 40L

    // no-WHERE truncate shape: pure metadata commit, table reads empty
    TxLog.delete(spark, root, lit(true))
    val m3 = TxLog.history(spark, root).last.metrics
    m3("numAddedFiles") shouldBe 0L
    m3("numRewrittenFiles") shouldBe 0L
    TxLog.readLatest(spark, root).count() shouldBe 0L
  }

  test("partition-scoped DELETE never reads other partitions' data") {
    import org.apache.spark.sql.functions.col
    val root = tmpRoot()
    TxLog.append(spark,
      Seq((1L, "p1"), (2L, "p1"), (3L, "p2"), (4L, "p2")).toDF("id", "part"),
      root, Seq("part"), statsCols = Seq("id"))
    // corrupt p1's data file: if either the matched-file scan or the
    // full/partial classification read outside the predicate's
    // partition, the delete would die right here
    TxLog.liveSizes(spark, root).map(_._1).filter(_.contains("part=p1"))
      .foreach { f =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$root/$f"), "junk".getBytes)
      }
    val nP2 = TxLog.liveSizes(spark, root).map(_._1)
      .count(_.contains("part=p2")).toLong
    TxLog.delete(spark, root, col("part") === "p2")
    val m = TxLog.history(spark, root).last.metrics
    m("numDeletedRows") shouldBe 2L
    m("numRemovedFiles") shouldBe nP2
    m("numAddedFiles") shouldBe 0L
    // metadata-only count: the corrupt survivor partition is never read
    TxLog.countRows(spark, root) shouldBe 2L
  }

  test("append + readLatest roundtrip; versions increment from 0") {
    val root = tmpRoot()
    val v0 = TxLog.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root)
    val v1 = TxLog.append(spark, Seq((3L, "c")).toDF("id", "s"), root)
    v0 shouldBe 0L
    v1 shouldBe 1L
    TxLog.readLatest(spark, root).orderBy("id").as[(Long, String)].collect()
      .toSeq shouldBe Seq((1L, "a"), (2L, "b"), (3L, "c"))
  }

  test("uncommitted files are invisible: readers resolve the log, not the directory") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "s"), root)
    // simulate a writer that crashed after moving data files into place
    // but BEFORE the commit point (the log create): drop an orphan parquet
    // file straight into the table dir
    Seq((99L, "orphan")).toDF("id", "s").write.parquet(s"$root/_stage_orphan")
    val orphan = new java.io.File(s"$root/_stage_orphan").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(orphan.toPath,
      java.nio.file.Paths.get(s"$root/zzz_orphan.parquet"))
    TxLog.readLatest(spark, root).as[(Long, String)].collect()
      .toSeq shouldBe Seq((1L, "a"))
  }

  test("upsert snapshot isolation: a pinned pre-upsert version reads the OLD partition after the upsert commits") {
    val root = tmpRoot()
    val base = Seq((1L, "x", "p1"), (2L, "y", "p1"), (3L, "z", "p2"))
      .toDF("id", "s", "part")
    TxLog.append(spark, base, root, Seq("part"))
    val before = TxLog.latestVersion(spark, root).get
    // a reader resolves its snapshot at `before`...
    val pinned = TxLog.readAt(spark, root, before)
    // ...while a writer rewrites partition p1 (delete+write in one commit)
    TxLog.upsertPartitions(spark,
      Seq((1L, "X2", "p1")).toDF("id", "s", "part"), root, Seq("part"))
    // the pinned snapshot still sees the complete old p1 (old files are
    // logically removed, never physically) — no torn partition possible
    pinned.filter(col("part") === "p1").orderBy("id")
      .select("id", "s").as[(Long, String)].collect()
      .toSeq shouldBe Seq((1L, "x"), (2L, "y"))
    // the latest snapshot sees exactly the new p1, untouched p2
    TxLog.readLatest(spark, root).orderBy("id")
      .select("id", "s").as[(Long, String)].collect()
      .toSeq shouldBe Seq((1L, "X2"), (3L, "z"))
  }

  test("time travel reproduces every version across two schema evolutions") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "s"), root)               // v0
    TxLog.append(spark, Seq((2L, "b", 7.5)).toDF("id", "s", "score"), root) // v1
    TxLog.append(spark,
      Seq((3L, "c", 9.0, "en")).toDF("id", "s", "score", "lang"), root)     // v2
    val v0 = TxLog.readAt(spark, root, 0)
    v0.columns.toSeq shouldBe Seq("id", "s")
    v0.as[(Long, String)].collect().toSeq shouldBe Seq((1L, "a"))
    val v1 = TxLog.readAt(spark, root, 1)
    v1.columns.toSeq shouldBe Seq("id", "s", "score")
    v1.orderBy("id").collect().map(_.toSeq).toSeq shouldBe Seq(
      Seq(1L, "a", null), Seq(2L, "b", 7.5))
    val v2 = TxLog.readAt(spark, root, 2)
    v2.columns.toSeq shouldBe Seq("id", "s", "score", "lang")
    v2.count() shouldBe 3L
  }

  test("rollback restores a prior snapshot as a NEW commit; rolled-back versions stay readable") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "good")).toDF("id", "s"), root)      // v0
    TxLog.overwrite(spark, Seq((1L, "bad")).toDF("id", "s"), root)    // v1
    val v2 = TxLog.rollback(spark, root, 0L)                          // v2
    v2 shouldBe 2L
    TxLog.readLatest(spark, root).as[(Long, String)].collect()
      .toSeq shouldBe Seq((1L, "good"))
    // history is append-only: the bad version remains time-travelable
    TxLog.readAt(spark, root, 1).as[(Long, String)].collect()
      .toSeq shouldBe Seq((1L, "bad"))
    TxLog.history(spark, root).map(_.operation) shouldBe
      Seq("append", "overwrite", "rollback")
  }

  test("concurrent appends race on the version and both commit") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmpRoot()
    // 6 racing writers: enough contention that a non-atomic version claim
    // (the local-FS check-then-create TOCTOU this spec once caught as two
    // writers both committing version 2) reliably surfaces
    val futures = (0 until 6).map { i =>
      Future(TxLog.append(spark, Seq((i.toLong, s"w$i")).toDF("id", "s"), root))
    }
    val versions = Await.result(Future.sequence(futures), 120.seconds)
    versions.sorted shouldBe (0L until 6L)
    TxLog.readLatest(spark, root).count() shouldBe 6L
  }

  test("concurrent appends hold through an installed CAS CommitStore") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmpRoot()
    val store = new CasOverlayCommitStore
    CommitStore.install(root, store)
    try {
      val futures = (0 until 6).map { i =>
        Future(TxLog.append(spark, Seq((i.toLong, s"w$i")).toDF("id", "s"), root))
      }
      val versions = Await.result(Future.sequence(futures), 120.seconds)
      versions.sorted shouldBe (0L until 6L)
      TxLog.readLatest(spark, root).count() shouldBe 6L
      // the race really went through the seam, not the default FS claim
      store.claimCount shouldBe 6
    } finally CommitStore.uninstall(root)
  }

  test("a non-atomic CommitStore loses a racing commit — the seam carries the guarantee") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // deliberately broken double: check-then-create with a rendezvous in
    // the TOCTOU window, so two racing claims of the same version BOTH
    // "win". If the commit protocol above the seam could mask this, the
    // assertions below would fail — proving correctness flows from the
    // store's CAS, not from luck in the retry loop. The rendezvous is
    // best-effort (a loaded box can serialize the writers past the
    // barrier timeout), so the race retries on a fresh table until the
    // collision materializes.
    def attempt(): (Set[Long], Long) = {
      val root = tmpRoot()
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val broken = new CommitStore {
        override def claim(fs: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path,
                           bytes: Array[Byte]): Boolean = {
          if (fs.exists(p)) return false
          try barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
          catch { case _: Exception => () } // lone claimer: proceed anyway
          val out = fs.create(p, true) // overwrite=true: last writer wins
          try out.write(bytes) finally out.close()
          true
        }
        override def read(fs: org.apache.hadoop.fs.FileSystem,
                          p: org.apache.hadoop.fs.Path): Array[Byte] =
          FsCommitStore.read(fs, p)
        override def list(fs: org.apache.hadoop.fs.FileSystem,
                          dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
          FsCommitStore.list(fs, dir)
      }
      CommitStore.install(root, broken)
      try {
        val futures = (0 until 2).map { i =>
          Future(TxLog.append(spark,
            Seq((i.toLong, s"w$i")).toDF("id", "s"), root))
        }
        val versions = Await.result(Future.sequence(futures), 240.seconds)
        // the double-win can ALSO corrupt the shared entry (two
        // overwrite streams interleaving on one path leave an
        // unparseable tail, which readers drop as in-flight — an empty
        // log). That outcome is equally "the store lost a commit", but
        // this test wants the clean silent-loss shape, so count it as
        // not-yet-collided and re-race.
        val n = try TxLog.readLatest(spark, root).count()
        catch { case _: Exception => -1L }
        (versions.toSet, n)
      } finally CommitStore.uninstall(root)
    }
    val collided = (1 to 5).iterator.map(_ => attempt())
      .find { case (vs, n) => vs == Set(0L) && n == 1L }
    withClue("no clean double-win in 5 race attempts: ") {
      collided.isDefined shouldBe true
    }
    // both writers believed they committed version 0, and one append is
    // silently gone: the lost update this store family causes, and the
    // reason FsCommitStore refuses such schemes
    collided.get._2 shouldBe 1L
  }

  test("a lost claim survives the winner's slow write-through (CAS visibility window)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmpRoot()
    // CAS decided instantly, write-through delayed ~500ms: the loser's
    // re-list sees NO new tail entry for the whole window — the shape a
    // real coordinator+object-store pair has (FsCommitStore never does:
    // its winner is content-complete at claim time). The retry backoff
    // must carry the loser across the window; a tight spin burns all 50
    // attempts inside it and fails a perfectly benign race.
    val cas = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
    val delayed = new CommitStore {
      override def claim(fs: org.apache.hadoop.fs.FileSystem,
                         p: org.apache.hadoop.fs.Path,
                         bytes: Array[Byte]): Boolean = {
        val key = p.toUri.getPath
        if (cas.putIfAbsent(key, true) != null) false
        else {
          Thread.sleep(500)
          val out = fs.create(p, false)
          try out.write(bytes) finally out.close()
          true
        }
      }
      override def read(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): Array[Byte] =
        FsCommitStore.read(fs, p)
      override def list(fs: org.apache.hadoop.fs.FileSystem,
                        dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
        FsCommitStore.list(fs, dir)
    }
    CommitStore.install(root, delayed)
    try {
      val futures = (0 until 2).map { i =>
        Future(TxLog.append(spark,
          Seq((i.toLong, s"w$i")).toDF("id", "s"), root))
      }
      val versions = Await.result(Future.sequence(futures), 120.seconds)
      versions.sorted shouldBe Seq(0L, 1L)
      TxLog.readLatest(spark, root).count() shouldBe 2L
    } finally CommitStore.uninstall(root)
  }

  test("CommitStore prefix routing is component-bounded and the CAS overlay rolls back a failed write-through") {
    // /lake/t1's store must not capture the sibling /lake/t10
    val base = tmpRoot()
    val store = new CasOverlayCommitStore
    CommitStore.install(s"$base/t1", store)
    try {
      CommitStore.forPath(new org.apache.hadoop.fs.Path(
        s"$base/t1/_txlog/x.json")) shouldBe store
      CommitStore.forPath(new org.apache.hadoop.fs.Path(
        s"$base/t10/_txlog/x.json")) shouldBe FsCommitStore
    } finally CommitStore.uninstall(s"$base/t1")

    // write-through failure must release the in-memory claim, or the
    // version wedges: no entry on disk, every retry losing the CAS
    val root = tmpRoot()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // parent is a FILE, so create() under it fails
    val blocker = new org.apache.hadoop.fs.Path(s"$root/blocked")
    val out = fs.create(blocker, true); out.write(1); out.close()
    val p = new org.apache.hadoop.fs.Path(s"$root/blocked/0.json")
    val cas = new CasOverlayCommitStore
    intercept[Exception] { cas.claim(fs, p, Array[Byte](1)) }
    // claim released: after the obstruction clears, the SAME path claims
    fs.delete(blocker, false)
    fs.mkdirs(blocker)
    cas.claim(fs, p, Array[Byte](1)) shouldBe true
  }

  test("FsCommitStore refuses CAS-less schemes; s3a delegates to the conditional PUT") {
    // gs has no conditional-write route wired: still refused loudly
    val fakeGs = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def getUri: java.net.URI = java.net.URI.create("gs://bucket")
    }
    fakeGs.setConf(spark.sparkContext.hadoopConfiguration)
    val err = intercept[UnsupportedOperationException] {
      FsCommitStore.claim(fakeGs,
        new org.apache.hadoop.fs.Path("/tmp/never-written.json"),
        Array[Byte](1))
    }
    err.getMessage should include("atomic create-if-absent")
    err.getMessage should include("CommitStore.install")
    // s3a is NOT refused anymore: the claim routes to the
    // conditional-PUT store built from the filesystem's own fs.s3a.*
    // conf. With an unreachable endpoint the failure is the store's
    // loud no-decision error — proof the delegation (not a silent
    // plain create, not the old refusal) owns the path.
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("fs.s3a.endpoint", "http://127.0.0.1:1") // closed port
    conf.setBoolean("fs.s3a.path.style.access", true)
    val fakeS3 = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def getUri: java.net.URI =
        java.net.URI.create("s3a://bucket-" + System.nanoTime())
    }
    fakeS3.setConf(conf)
    val e2 = intercept[java.io.IOException] {
      FsCommitStore.claim(fakeS3,
        new org.apache.hadoop.fs.Path(
          s"${fakeS3.getUri}/t/_txlog/0.json"),
        Array[Byte](1))
    }
    e2.getMessage should include("no decision")
  }

  test("a caller-side repartition collapses the N-partitions x P-values file spray") {
    val data = (1L to 400L).map(i => (i, s"p${i % 4}")).toDF("id", "p")
      .repartition(8) // 8 input partitions x 4 values = up to 32 files
    val sprayRoot = tmpRoot()
    TxLog.append(spark, data, sprayRoot, Seq("p"))
    val sprayed = TxLog.history(spark, sprayRoot).head.add.size

    // the caller spells the layout; stage keeps a root repartition verbatim
    val packedRoot = tmpRoot()
    TxLog.append(spark, data.repartition(col("p")), packedRoot, Seq("p"))
    val packed = TxLog.history(spark, packedRoot).head.add.size

    sprayed should be > 4 // the spray the caller's layout stops
    packed shouldBe 4     // one file per partition value
    // identical content either way
    TxLog.readLatest(spark, packedRoot).orderBy("id")
      .as[(Long, String)].collect() shouldBe
      TxLog.readLatest(spark, sprayRoot).orderBy("id")
        .as[(Long, String)].collect()
  }

  test("sized staged writes: sliver batches coalesce to the byte target, explicit layouts and big estimates pass through") {
    // a small unpartitioned batch off a wide plan lands as ONE file
    // (its optimizer estimate is far under one 128 MiB target file)
    val wide = (1L to 400L).map(i => (i, s"s$i")).toDF("id", "s")
      .filter(col("id") > 0) // non-Repartition plan root
    val sizedRoot = tmpRoot()
    TxLog.append(spark, wide, sizedRoot)
    TxLog.history(spark, sizedRoot).head.add.size shouldBe 1
    TxLog.readLatest(spark, sizedRoot).count() shouldBe 400L

    // an EXPLICIT repartition at the plan root is respected verbatim
    val pinnedRoot = tmpRoot()
    TxLog.append(spark,
      (1L to 400L).map(i => (i, s"s$i")).toDF("id", "s")
        .repartitionByRange(3, col("id")), pinnedRoot)
    TxLog.history(spark, pinnedRoot).head.add.size shouldBe 3

    // the gate is bytes-targeted: shrinking the target makes the SAME
    // batch either pass through untouched (estimate over 8 targets'
    // worth) or split to ceil(estimate/target) — both directions
    // exercised against one batch so an estimate regression is loud
    val tinyTargetRoot = tmpRoot()
    spark.conf.set("spark.graft.write.targetFileBytes", "1024")
    try TxLog.append(spark, wide, tinyTargetRoot)
    finally spark.conf.unset("spark.graft.write.targetFileBytes")
    // estimate >> 8 KiB cap: untouched = the plan's own width (4 in
    // this suite's session)
    TxLog.history(spark, tinyTargetRoot).head.add.size should be > 1

    // 0 disables sizing outright
    val offRoot = tmpRoot()
    spark.conf.set("spark.graft.write.targetFileBytes", "0")
    try TxLog.append(spark, wide, offRoot)
    finally spark.conf.unset("spark.graft.write.targetFileBytes")
    TxLog.history(spark, offRoot).head.add.size should be > 1
  }

  test("vacuum reclaims files outside the retention window, keeps retained versions readable") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "old")).toDF("id", "s"), root)       // v0
    TxLog.overwrite(spark, Seq((2L, "new")).toDF("id", "s"), root)    // v1
    val v0Files = TxLog.history(spark, root).head.add
    val deleted = TxLog.vacuum(spark, root, keepLast = 1)
    deleted.toSet shouldBe v0Files.toSet
    deleted.foreach(f => new java.io.File(s"$root/$f").exists() shouldBe false)
    TxLog.readLatest(spark, root).as[(Long, String)].collect()
      .toSeq shouldBe Seq((2L, "new"))
  }

  test("large vacuums delete distributed: 300 victims reclaimed, live files untouched") {
    // past the 256-victim threshold the deletes run as a Spark job (one
    // task per slice) instead of a sequential driver RPC loop — same
    // result, so this pins the distributed branch end-to-end
    val root = tmpRoot()
    TxLog.append(spark,
      (1L to 1200L).map(k => (k, s"r$k")).toDF("id", "s")
        .repartition(300), root)                                      // v0
    TxLog.overwrite(spark,
      Seq((0L, "compacted")).toDF("id", "s").repartition(1), root)    // v1
    val v0Files = TxLog.history(spark, root).head.add
    v0Files.size should be >= 257
    val deleted = TxLog.vacuum(spark, root, keepLast = 1)
    deleted.toSet shouldBe v0Files.toSet
    deleted.foreach(f => new java.io.File(s"$root/$f").exists() shouldBe false)
    TxLog.readLatest(spark, root).as[(Long, String)].collect()
      .toSeq shouldBe Seq((0L, "compacted"))
  }

  test("ACID promote: each staged batch commits one version; time travel isolates batches across schema evolution") {
    val zones = Zones(Files.createTempDirectory("graft-acid-promote").toString)
    Seq("""{"po":"P-1","qty":"3"}""").toDF("value")
      .write.mode("append").text(zones.stagingIncremental("po"))
    val r0 = Promote.promote(spark, zones, "po",
      asOf = to_timestamp(lit("2026-01-10 00:00:00")), acid = true).get
    r0.version shouldBe Some(0L)
    r0.rows shouldBe 1L

    // second load adds a column (schema evolution through the log)
    Writer.truncateStaging(spark, zones, "po")
    Seq("""{"po":"P-2","qty":"5","vendor":"acme"}""").toDF("value")
      .write.mode("append").text(zones.stagingIncremental("po"))
    val r1 = Promote.promote(spark, zones, "po",
      asOf = to_timestamp(lit("2026-02-10 00:00:00")), acid = true).get
    r1.version shouldBe Some(1L)

    val curated = zones.curated("po")
    val latest = TxLog.readLatest(spark, curated)
    latest.count() shouldBe 2L
    latest.columns should contain("vendor")
    latest.filter(col("po") === "P-1").select("vendor")
      .head().isNullAt(0) shouldBe true // pre-evolution rows read null
    // partition columns flow through the log as strings
    latest.filter(col("po") === "P-2")
      .select("processed_year", "processed_month").head()
      .toSeq shouldBe Seq("2026", "02")
    // time travel reproduces the first load exactly (no vendor column yet)
    val v0 = TxLog.readAt(spark, curated, 0L)
    v0.count() shouldBe 1L
    v0.columns should not contain "vendor"
    v0.select("po", "qty").head().toSeq shouldBe Seq("P-1", "3")
  }

  test("merge upserts by key, rewrites only files containing matched keys") {
    val root = tmpRoot()
    // two partitions, each written as its own file set
    val base = Seq(
      (1L, "a1", "p1"), (2L, "a2", "p1"),
      (3L, "a3", "p2"), (4L, "a4", "p2")).toDF("id", "s", "part")
    TxLog.append(spark, base, root, Seq("part"))
    val v0Files = TxLog.history(spark, root).head.add
    // update key 1 (in p1), insert key 9 (new, lands in p2)
    val v1 = TxLog.merge(spark,
      Seq((1L, "A1!", "p1"), (9L, "new", "p2")).toDF("id", "s", "part"),
      root, keyCols = Seq("id"), partitionCols = Seq("part"))
    v1 shouldBe 1L
    TxLog.readLatest(spark, root).orderBy("id")
      .select("id", "s").as[(Long, String)].collect().toSeq shouldBe Seq(
      (1L, "A1!"), (2L, "a2"), (3L, "a3"), (4L, "a4"), (9L, "new"))
    // file granularity: only p1's file (containing key 1) was removed;
    // p2's original file survives untouched
    val c1 = TxLog.history(spark, root).last
    c1.operation shouldBe "merge"
    val p2Files = v0Files.filter(_.startsWith("part=p2/"))
    p2Files should not be empty
    c1.remove.toSet.intersect(p2Files.toSet) shouldBe empty
    // pre-merge snapshot still readable
    TxLog.readAt(spark, root, 0L).filter(col("id") === 1L)
      .select("s").head().getString(0) shouldBe "a1"
    // duplicate update keys are rejected
    intercept[IllegalArgumentException] {
      TxLog.merge(spark,
        Seq((5L, "x", "p1"), (5L, "y", "p1")).toDF("id", "s", "part"),
        root, Seq("id"), Seq("part"))
    }
  }

  test("merge key probe is size-gated: above the limit it joins without broadcast, same result") {
    import scala.jdk.CollectionConverters._
    val rootA = tmpRoot(); val rootB = tmpRoot()
    val base = (1L to 200L).map(i =>
      (i, s"v$i", if (i % 2 == 0) "p1" else "p2")).toDF("id", "s", "part")
    val upd = Seq((2L, "X2", "p1"), (999L, "new", "p2")).toDF("id", "s", "part")
    TxLog.append(spark, base, rootA, Seq("part"))
    TxLog.append(spark, base, rootB, Seq("part"))
    // broadcast path: 2 keys, far under the default limit
    TxLog.merge(spark, upd, rootA, Seq("id"), Seq("part"))

    // capture every plan executed during the gated merge
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // gate at 0 keys -> every merge takes the no-hint path; kill Spark's
      // own auto-broadcast so the planner's fallback (what a genuinely huge
      // key set would get) is observable on this tiny fixture
      spark.conf.set("spark.graft.merge.broadcastKeyLimit", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      TxLog.merge(spark, upd, rootB, Seq("id"), Seq("part"))
    } finally {
      spark.conf.unset("spark.graft.merge.broadcastKeyLimit")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    }
    // identical result through the shuffle probe
    TxLog.readLatest(spark, rootB).orderBy("id").select("id", "s")
      .collect().toSeq shouldBe
      TxLog.readLatest(spark, rootA).orderBy("id").select("id", "s")
        .collect().toSeq
    // listener delivery is async: wait for the semi-join probe plan
    val deadline = System.currentTimeMillis() + 30000
    def semiPlans() = plans.asScala.toSeq.filter(_.contains("LeftSemi"))
    while (semiPlans().isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    spark.listenerManager.unregister(listener)
    val probes = semiPlans()
    probes should not be empty
    probes.foreach(_ should not include "BroadcastHashJoin")
    // the planner fell back to a shuffle join (SMJ or shuffled-hash)
    probes.exists(p =>
      p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")) shouldBe true
  }

  test("merge with no matches is a pure insert; merge evolves schema") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "a", "p1")).toDF("id", "s", "part"), root, Seq("part"))
    // no matched keys: nothing removed
    TxLog.merge(spark, Seq((2L, "b", "p1")).toDF("id", "s", "part"),
      root, Seq("id"), Seq("part"))
    TxLog.history(spark, root).last.remove shouldBe empty
    // evolving merge: updates carry a new column; survivors read null
    TxLog.merge(spark,
      Seq((1L, "a2", "p1", 0.9)).toDF("id", "s", "part", "score"),
      root, Seq("id"), Seq("part"))
    val out = TxLog.readLatest(spark, root).orderBy("id")
    out.columns should contain("score")
    out.select("id", "s", "score").collect().map(_.toSeq).toSeq shouldBe Seq(
      Seq(1L, "a2", 0.9), Seq(2L, "b", null))
  }

  test("merge detects a concurrent commit and fails instead of losing it (write skew)") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "a", "p1")).toDF("id", "s", "part"), root, Seq("part"))
    // deterministic interleave via latches in the updates df: merge's
    // FIRST evaluation of updates is its duplicate-key check (before the
    // snapshot capture); any later evaluation is post-capture, so pausing
    // there and committing an append reproduces the skew window exactly
    TxLogSpecHooks.reset()
    val pauseAfterFirst = org.apache.spark.sql.functions.udf { (s: String) =>
      if (TxLogSpecHooks.evals.incrementAndGet() == 2) {
        TxLogSpecHooks.postCapture.countDown()
        TxLogSpecHooks.interleaved.await(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      s
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val mergeF = Future(TxLog.merge(spark,
      Seq((1L, "A!", "p1")).toDF("id", "s", "part")
        .withColumn("s", pauseAfterFirst(col("s"))),
      root, Seq("id"), Seq("part")))
    TxLogSpecHooks.postCapture.await(60, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
    TxLog.append(spark, Seq((2L, "b", "p1")).toDF("id", "s", "part"), root, Seq("part"))
    TxLogSpecHooks.interleaved.countDown()
    val err = intercept[java.util.ConcurrentModificationException] {
      Await.result(mergeF, 120.seconds)
    }
    err.getMessage should include("re-run the merge")
    // nothing from the failed merge is visible; the concurrent append is
    TxLog.readLatest(spark, root).orderBy("id").select("s")
      .as[String].collect().toSeq shouldBe Seq("a", "b")
    // the failed merge's moved-but-uncommitted files are orphans: invisible,
    // and reclaimable
    val orphans = TxLog.cleanOrphans(spark, root, olderThanMs = 0L)
    orphans should not be empty
    TxLog.readLatest(spark, root).count() shouldBe 2L
    // re-running the merge against the new state succeeds
    TxLog.merge(spark, Seq((1L, "A!", "p1")).toDF("id", "s", "part"),
      root, Seq("id"), Seq("part"))
    TxLog.readLatest(spark, root).orderBy("id").select("s")
      .as[String].collect().toSeq shouldBe Seq("A!", "b")
  }

  test("cleanOrphans ignores referenced files and young files") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "s"), root)
    // a fresh orphan (simulated in-flight writer) survives the default window
    Seq((9L, "x")).toDF("id", "s").write.parquet(s"$root/_stage_sim")
    val f = new java.io.File(s"$root/_stage_sim").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath,
      java.nio.file.Paths.get(s"$root/orphan.parquet"))
    TxLog.cleanOrphans(spark, root) shouldBe empty // default 7-day window
    new java.io.File(s"$root/orphan.parquet").exists() shouldBe true
    // with the window at zero it is reclaimed; committed files never are
    val cleaned = TxLog.cleanOrphans(spark, root, olderThanMs = 0L)
    cleaned should contain("orphan.parquet")
    TxLog.readLatest(spark, root).count() shouldBe 1L
  }

  test("cleanOrphans reaps a jdbc staged backup only when its entry is materialized") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "s"), root)
    val logDir = s"$root/${TxLog.LogDirName}"
    def put(name: String): Unit = {
      val w = new java.io.FileWriter(s"$logDir/$name")
      try w.write("{}") finally w.close()
      // age past the cutoff: the reap compares mtime < now STRICTLY, so
      // a write landing in the same millisecond as the cutoff would
      // survive a 0-ms window and flake this test
      new java.io.File(s"$logDir/$name")
        .setLastModified(System.currentTimeMillis() - 60000L)
    }
    // backup of the MATERIALIZED entry 0: belt-and-suspenders, reapable
    put(".00000000000000000000.json.aaaaaaaa.jdbcstaged")
    // backup whose canonical entry does NOT exist: the only durable copy
    // of a published commit (heal source) — load-bearing, must survive
    put(".00000000000000000007.json.bbbbbbbb.jdbcstaged")
    val cleaned = TxLog.cleanOrphans(spark, root, olderThanMs = 0L)
    cleaned should contain(
      s"${TxLog.LogDirName}/.00000000000000000000.json.aaaaaaaa.jdbcstaged")
    cleaned should not contain
      s"${TxLog.LogDirName}/.00000000000000000007.json.bbbbbbbb.jdbcstaged"
    new java.io.File(
      s"$logDir/.00000000000000000007.json.bbbbbbbb.jdbcstaged")
      .exists() shouldBe true
  }

  test("checkpoints: readers resolve checkpoint + tail, not the whole log") {
    val root = tmpRoot()
    (0 until 12).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s"), root)
    }
    // the auto-checkpoint cadence fired at version 9
    val ckpt = new java.io.File(s"$root/${TxLog.LogDirName}")
      .listFiles().map(_.getName).filter(_.contains(".checkpoint."))
    // default format is the v2 parquet checkpoint directory
    ckpt.toSeq shouldBe Seq("00000000000000000009.checkpoint.parquet")
    TxLog.readLatest(spark, root).count() shouldBe 12L
    // prove resolution does NOT replay pre-checkpoint commits: remove them
    (0 until 10).foreach { v =>
      new java.io.File(f"$root/${TxLog.LogDirName}/$v%020d.json").delete()
    }
    TxLog.readLatest(spark, root).count() shouldBe 12L
    TxLog.readLatest(spark, root).orderBy("id").select("s")
      .head().getString(0) shouldBe "v0"
    // explicit checkpoint at the current tip is idempotent and readable
    TxLog.checkpoint(spark, root) shouldBe Some(11L)
    TxLog.readLatest(spark, root).count() shouldBe 12L
  }

  test("time travel before a checkpoint still replays the commit log") {
    val root = tmpRoot()
    (0 until 12).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s"), root)
    }
    // version 3 predates the only checkpoint (at 9): resolution must fall
    // back to pure commit replay and reproduce the old snapshot exactly
    TxLog.readAt(spark, root, 3L).count() shouldBe 4L
  }

  test("snapshot reads keep partition pruning: a partition filter scans only that partition's files") {
    val root = tmpRoot()
    val df = Seq((1L, "p1"), (2L, "p2"), (3L, "p3")).toDF("id", "part")
      .repartition(col("part"))
    TxLog.append(spark, df, root, Seq("part"))
    val filtered = TxLog.readLatest(spark, root).filter(col("part") === "p2")
    val plan = filtered.queryExecution.executedPlan.toString
    plan should include("PartitionFilters: [isnotnull(part")
    filtered.select("id").head().getLong(0) shouldBe 2L
    // the scan's file listing is pruned, not just post-filtered
    val scanned = filtered.select(input_file_name()).distinct().collect()
      .map(_.getString(0))
    scanned.length shouldBe 1
    scanned.head should include("part=p2")
  }

  test("data skipping: readRange drops files whose stats cannot match, keeps stats-less files") {
    val root = tmpRoot()
    // three commits = three files with disjoint id ranges, stats enabled
    // (repartition(1) so each commit is exactly one file)
    TxLog.append(spark, (1L to 100L).map((_, "lo")).toDF("id", "s")
      .repartition(1), root, statsCols = Seq("id"))
    TxLog.append(spark, (101L to 200L).map((_, "mid")).toDF("id", "s")
      .repartition(1), root, statsCols = Seq("id"))
    TxLog.append(spark, (201L to 300L).map((_, "hi")).toDF("id", "s")
      .repartition(1), root, statsCols = Seq("id"))
    // scan-level file count (post-filter input_file_name would only show
    // files whose rows survive the residual predicate)
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      // file count via the scan's index (works for both the listed
      // InMemoryFileIndex and the metadata-served GraftFileIndex — the
      // old "(N paths)" regex counted root paths, which the log-served
      // index always reports as 1)
      df.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
      }.get
    val pruned = TxLog.readRange(spark, root, "id", 150, 160)
    pruned.count() shouldBe 11L
    // only the middle file enters the scan
    scannedFiles(pruned) shouldBe 1
    // parity with the unpruned filter
    pruned.orderBy("id").collect().toSeq shouldBe
      TxLog.readLatest(spark, root)
        .filter(col("id") >= 150 && col("id") <= 160)
        .orderBy("id").collect().toSeq
    // a stats-less commit is conservatively kept in every range read
    TxLog.append(spark, Seq((999L, "nostats")).toDF("id", "s").repartition(1), root)
    scannedFiles(TxLog.readRange(spark, root, "id", 150, 160)) shouldBe 2
    TxLog.readRange(spark, root, "id", 150, 160).count() shouldBe 11L
    // time-traveled range reads skip too
    val tt = TxLog.readRange(spark, root, "id", 1, 10, version = Some(0L))
    tt.count() shouldBe 10L
    scannedFiles(tt) shouldBe 1
  }

  test("footer-derived commit stats agree with the scan path across types, nulls and decimals") {
    // two tables, identical data: numeric-only statsCols take the
    // parquet-footer fast path; adding a STRING stats column forces the
    // legacy scan path (try_cast semantics) for the whole commit — both
    // must prune and count identically
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
      }.get
    def mk(root: String, withStringStats: Boolean): Unit = {
      val df = spark.range(1, 101).select(
        col("id").as("k"),
        (col("id") * 2.5).as("price"),
        col("id").cast("decimal(10,2)").as("dec"), // INT64-backed
        col("id").cast("float").as("fl"),
        col("id").cast("string").as("numstr"),
        lit(null).cast("long").as("allnull"))
      val cols = Seq("k", "price", "dec", "fl", "allnull") ++
        (if (withStringStats) Seq("numstr") else Nil)
      TxLog.append(spark, df.filter(col("k") <= 50).repartition(1), root,
        statsCols = cols)
      TxLog.append(spark, df.filter(col("k") > 50).repartition(1), root,
        statsCols = cols)
    }
    val fRoot = tmpRoot(); val sRoot = tmpRoot()
    mk(fRoot, withStringStats = false) // footer fast path
    mk(sRoot, withStringStats = true)  // legacy scan path
    Seq(fRoot, sRoot).foreach { root =>
      // row counts ride the stats on both paths: metadata-only count
      TxLog.countRows(spark, root) shouldBe 100L
      // numeric bounds prune identically (long, double, int64-backed
      // decimal with its scale divided out, float)
      scannedFiles(TxLog.readRange(spark, root, "k", 10, 20)) shouldBe 1
      scannedFiles(
        TxLog.readRange(spark, root, "price", 30.0, 40.0)) shouldBe 1
      scannedFiles(
        TxLog.readRange(spark, root, "dec", 10.0, 20.0)) shouldBe 1
      scannedFiles(TxLog.readRange(spark, root, "fl", 60.0, 70.0)) shouldBe 1
      TxLog.readRange(spark, root, "k", 10, 20).count() shouldBe 11L
      // an all-null stats column records no bounds: conservatively kept
      scannedFiles(
        TxLog.readRange(spark, root, "allnull", 5.0, 6.0)) shouldBe 2
    }
    // the string column pruned only where its stats were scan-computed;
    // on the footer-path table it has no stats and is conservatively kept
    scannedFiles(TxLog.readRange(spark, sRoot, "numstr", 10.0, 20.0)) shouldBe 1
    scannedFiles(TxLog.readRange(spark, fRoot, "numstr", 10.0, 20.0)) shouldBe 2
  }

  test("NaN in a stats column never skips a file that holds matching rows") {
    val root = tmpRoot()
    // Spark's min/max propagate NaN as the LARGEST double, so this
    // file's recorded bounds are (1.5, NaN) — a naive 'mx >= lo' is
    // false for NaN and would silently drop the 1.5 row from every
    // bounded read
    TxLog.append(spark, Seq((1L, 1.5), (2L, Double.NaN)).toDF("id", "v")
      .repartition(1), root, statsCols = Seq("v"))
    TxLog.append(spark, Seq((3L, 100.0)).toDF("id", "v")
      .repartition(1), root, statsCols = Seq("v"))
    TxLog.readRange(spark, root, "v", 1.0, 2.0)
      .select("id").as[Long].collect().toSeq shouldBe Seq(1L)
    TxLog.readRanges(spark, root, Seq(("v", 1.0, 2.0)))
      .select("id").as[Long].collect().toSeq shouldBe Seq(1L)
    // the same guard on the connector path's automatic file skipping
    spark.read.format("graft").load(root)
      .filter(col("v") >= 1.0 && col("v") <= 2.0)
      .select("id").as[Long].collect().toSeq shouldBe Seq(1L)
  }

  test("clustering turns useless stats into selective ones") {
    val root = tmpRoot()
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      // file count via the scan's index (works for both the listed
      // InMemoryFileIndex and the metadata-served GraftFileIndex — the
      // old "(N paths)" regex counted root paths, which the log-served
      // index always reports as 1)
      df.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
      }.get
    // scattered ingest: every commit's file spans the whole key range, so
    // stats exist but nothing can skip
    (0 until 4).foreach { i =>
      TxLog.append(spark,
        (0L until 1000L).filter(_ % 4 == i).map((_, s"b$i")).toDF("id", "s")
          .repartition(1),
        root, statsCols = Seq("id"))
    }
    val before = TxLog.readRange(spark, root, "id", 100, 120)
    scannedFiles(before) shouldBe 4
    val expected = before.orderBy("id").collect().toSeq
    // cluster on the key: same rows, range-partitioned files
    TxLog.cluster(spark, root, "id", filesPerTable = 4)
    val after = TxLog.readRange(spark, root, "id", 100, 120)
    scannedFiles(after) shouldBe 1
    after.orderBy("id").collect().toSeq shouldBe expected
    // the pre-cluster layout is still one time travel away
    TxLog.readAt(spark, root, 3L).count() shouldBe 1000L
  }

  test("partition values with URI-encodable characters: merge and stats still match files") {
    val root = tmpRoot()
    // 'north america' encodes to north%20america in input_file_name — the
    // raw/encoded mismatch once broke merge's matched-file probe and
    // silently dropped stats
    val base = Seq((1L, "a", "north america"), (2L, "b", "emea"))
      .toDF("id", "s", "region").repartition(col("region"))
    TxLog.append(spark, base, root, Seq("region"), statsCols = Seq("id"))
    // stats were recorded for the encoded-char partition's file
    val stats = TxLog.history(spark, root).head.stats
    stats.keys.exists(_.startsWith("region=north america/")) shouldBe true
    // merge matches and rewrites inside the encoded-char partition
    TxLog.merge(spark,
      Seq((1L, "A!", "north america")).toDF("id", "s", "region"),
      root, Seq("id"), Seq("region"))
    TxLog.readLatest(spark, root).orderBy("id").select("s")
      .as[String].collect().toSeq shouldBe Seq("A!", "b")
    TxLog.history(spark, root).last.remove
      .exists(_.startsWith("region=north america/")) shouldBe true
  }

  test("writers and cleanOrphans respect checkpoint state after log truncation") {
    val root = tmpRoot()
    (0 until 11).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s").repartition(1), root)
    }
    // truncate pre-checkpoint commits (checkpoint at 9 carries the state)
    (0 until 10).foreach { v =>
      new java.io.File(f"$root/${TxLog.LogDirName}/$v%020d.json").delete()
    }
    // cleanOrphans must NOT reap checkpoint-live files as "never referenced"
    TxLog.cleanOrphans(spark, root, olderThanMs = 0L) shouldBe empty
    TxLog.readLatest(spark, root).count() shouldBe 11L
    // an overwrite's remove set must come from checkpoint-aware resolution,
    // so pre-checkpoint files are logically removed (not left live forever)
    val v11 = TxLog.overwrite(spark,
      Seq((99L, "fresh")).toDF("id", "s").repartition(1), root)
    v11 shouldBe 11L
    TxLog.readLatest(spark, root).as[(Long, String)].collect()
      .toSeq shouldBe Seq((99L, "fresh"))
    TxLog.history(spark, root).last.remove.size shouldBe 11
  }

  test("withGroupedScan is reentrant: concurrent scopes restore the original conf once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val key = "spark.sql.files.maxPartitionBytes"
    val orig = spark.conf.get(key)
    val fs = (0 until 4).map { _ =>
      Future(Writer.withGroupedScan(spark) {
        Thread.sleep(50)
        spark.conf.get(key)
      })
    }
    Await.result(Future.sequence(fs), 60.seconds)
      .foreach(_ shouldBe "104857600")
    spark.conf.get(key) shouldBe orig
  }

  test("empty overwrite yields an empty snapshot with the committed schema") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "s"), root)
    TxLog.overwrite(spark,
      Seq.empty[(Long, String)].toDF("id", "s"), root)
    val out = TxLog.readLatest(spark, root)
    out.columns.toSeq shouldBe Seq("id", "s")
    out.count() shouldBe 0L
  }

  test("z-order clustering makes BOTH columns' stats selective at once") {
    val root = tmpRoot()
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      // file count via the scan's index (works for both the listed
      // InMemoryFileIndex and the metadata-served GraftFileIndex — the
      // old "(N paths)" regex counted root paths, which the log-served
      // index always reports as 1)
      df.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
      }.get
    // 32x32 grid scattered over 4 commits: every file spans both full
    // ranges, so stats exist but skip nothing
    (0 until 4).foreach { i =>
      TxLog.append(spark,
        (0L until 1024L).filter(_ % 4 == i).map(k => (k % 32, k / 32))
          .toDF("x", "y").repartition(1),
        root, statsCols = Seq("x", "y"))
    }
    val beforeX = TxLog.readRange(spark, root, "x", 0, 3)
    scannedFiles(beforeX) shouldBe 4
    val expectedX = beforeX.orderBy("x", "y").collect().toSeq
    val expectedY = TxLog.readRange(spark, root, "y", 0, 3)
      .orderBy("x", "y").collect().toSeq
    TxLog.clusterZ(spark, root, Seq("x", "y"),
      filesPerTable = 16, bitsPerCol = 8)
    val afterX = TxLog.readRange(spark, root, "x", 0, 3)
    val afterY = TxLog.readRange(spark, root, "y", 0, 3)
    // a 1/8-wide slice on either axis touches only that axis's tile row
    scannedFiles(afterX) should be < 8
    scannedFiles(afterY) should be < 8
    afterX.orderBy("x", "y").collect().toSeq shouldBe expectedX
    afterY.orderBy("x", "y").collect().toSeq shouldBe expectedY
  }

  test("change feed returns only commits after fromVersion, tagged insert/delete") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "s"), root)            // v0
    TxLog.append(spark, Seq((2L, "b")).toDF("id", "s"), root)            // v1
    TxLog.overwrite(spark, Seq((3L, "c")).toDF("id", "s"), root)         // v2
    val ch = TxLog.readChanges(spark, root, fromVersion = 0L)
      .select("id", "s", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    // v1: insert b; v2: delete a+b (overwrite removed both), insert c
    ch shouldBe Set(
      (2L, "b", "insert", 1L),
      (1L, "a", "delete", 2L), (2L, "b", "delete", 2L),
      (3L, "c", "insert", 2L))
  }

  test("change feed respects toVersion and a rewrite reports delete+insert") {
    val root = tmpRoot()
    TxLog.append(spark,
      Seq((1L, "p1", "x"), (2L, "p2", "y")).toDF("id", "part", "s"),
      root, Seq("part"))                                                 // v0
    TxLog.upsertPartitions(spark,
      Seq((2L, "p2", "y2")).toDF("id", "part", "s"), root, Seq("part"))  // v1
    TxLog.append(spark,
      Seq((3L, "p1", "z")).toDF("id", "part", "s"), root, Seq("part"))   // v2
    val ch = TxLog.readChanges(spark, root, 0L, toVersion = Some(1L))
      .select("id", "s", "_change_type").as[(Long, String, String)]
      .collect().toSet
    // only v1; only the touched p2 partition appears, as delete + insert
    ch shouldBe Set((2L, "y", "delete"), (2L, "y2", "insert"))
  }

  test("consumeChanges advances a durable offset and never reprocesses") {
    val root = tmpRoot()
    val offset = s"${tmpRoot()}/offset"
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "s"), root)            // v0
    TxLog.append(spark, Seq((2L, "b")).toDF("id", "s"), root)            // v1
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    def consume() = TxLog.consumeChanges(spark, root, offset) { df =>
      seen += df.select("id").as[Long].collect().toSet
    }
    consume() shouldBe Some((-1L, 1L))       // first call: everything
    consume() shouldBe None                  // nothing new: f not invoked
    TxLog.append(spark, Seq((3L, "c")).toDF("id", "s"), root)            // v2
    consume() shouldBe Some((1L, 2L))        // only the new commit
    seen.toSeq shouldBe Seq(Set(1L, 2L), Set(3L))
  }

  test("a consumer crash before the offset commit re-reads the same delta") {
    val root = tmpRoot()
    val offset = s"${tmpRoot()}/offset"
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "s"), root)            // v0
    intercept[RuntimeException] {
      TxLog.consumeChanges(spark, root, offset) { _ =>
        throw new RuntimeException("consumer died")
      }
    }
    // offset did not advance -> the retry sees the full delta again
    val ids = scala.collection.mutable.Set.empty[Long]
    TxLog.consumeChanges(spark, root, offset) { df =>
      ids ++= df.select("id").as[Long].collect()
    } shouldBe Some((-1L, 0L))
    ids shouldBe Set(1L)
  }

  test("delete rewrites only files containing matches; fully-matched files drop away") {
    val root = tmpRoot()
    TxLog.append(spark, (1L to 10L).map((_, "a")).toDF("id", "s")
      .repartition(1), root)                                             // v0: file A
    TxLog.append(spark, (11L to 20L).map((_, "b")).toDF("id", "s")
      .repartition(1), root)                                             // v1: file B
    def live(): Set[String] = TxLog.readLatest(spark, root)
      .select(input_file_name()).distinct().as[String].collect().toSet
    val bRel = TxLog.history(spark, root).last.add.head

    TxLog.delete(spark, root, col("id") <= 3) shouldBe 2L
    TxLog.readLatest(spark, root).agg(min("id"), count(lit(1))).head()
      .toSeq shouldBe Seq(4L, 17L)
    // file B contained no match and was not rewritten
    live().count(_.endsWith(bRel.split('/').last)) shouldBe 1

    // a file whose EVERY row matches is removed without a replacement
    TxLog.delete(spark, root, col("id") >= 11) shouldBe 3L
    live().size shouldBe 1
    TxLog.readLatest(spark, root).orderBy("id").as[(Long, String)].collect()
      .map(_._1).toSeq shouldBe (4L to 10L)
    // pre-delete states stay time travelable
    TxLog.readAt(spark, root, 1L).count() shouldBe 20L

    // no match -> no-op, NO new commit
    TxLog.delete(spark, root, col("id") > 999) shouldBe 3L
    TxLog.history(spark, root).last.version shouldBe 3L
  }

  test("update edits matching rows in place; a partition-column update moves the rows' directory") {
    val root = tmpRoot()
    val df = Seq((1L, "x", "p1"), (2L, "y", "p1"), (3L, "z", "p2"))
      .toDF("id", "s", "part").repartition(col("part"))
    TxLog.append(spark, df, root, Seq("part"))                           // v0
    TxLog.update(spark, root, col("id") === 2, Map("s" -> lit("Y!"))) shouldBe 1L
    TxLog.readLatest(spark, root).orderBy("id")
      .select("s").as[String].collect().toSeq shouldBe Seq("x", "Y!", "z")
    // p2's file had no match: untouched
    val p2Files = TxLog.readLatest(spark, root).filter(col("part") === "p2")
      .select(input_file_name()).distinct().as[String].collect()
    p2Files.length shouldBe 1

    // moving a row across partitions: the rewrite lands it in part=p3
    TxLog.update(spark, root, col("id") === 1, Map("part" -> lit("p3"))) shouldBe 2L
    val moved = TxLog.readLatest(spark, root).filter(col("id") === 1)
    moved.select("part").as[String].head() shouldBe "p3"
    moved.select(input_file_name()).as[String].head() should include("part=p3")
    TxLog.readLatest(spark, root).count() shouldBe 3L
  }

  test("delete keeps NULL-predicate rows (SQL DELETE semantics)") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "x"), (2L, null), (3L, "y"))
      .toDF("id", "s").repartition(1), root)
    TxLog.delete(spark, root, col("s") === "x")
    // row 2's predicate is NULL -> NOT deleted, even though its file was
    // rewritten (it shared a file with the matched row)
    TxLog.readLatest(spark, root).orderBy("id").as[(Long, String)].collect()
      .toSeq shouldBe Seq((2L, null), (3L, "y"))
  }

  test("update evaluates every set expression against the OLD row (swap works)") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, 10L, 20L), (2L, 30L, 40L))
      .toDF("id", "a", "b").repartition(1), root)
    TxLog.update(spark, root, col("id") === 1,
      Map("a" -> col("b"), "b" -> col("a")))
    TxLog.readLatest(spark, root).orderBy("id").as[(Long, Long, Long)]
      .collect().toSeq shouldBe Seq((1L, 20L, 10L), (2L, 30L, 40L))
  }

  test("stats on numeric-string columns are numeric, not lexicographic") {
    val root = tmpRoot()
    // lexicographic min/max of ("2","10") is ("10","2") -> cast would
    // record [10,2] and a range read for 2 would wrongly prune the file
    TxLog.append(spark, Seq(("2", "a"), ("10", "b")).toDF("k", "s")
      .repartition(1), root, statsCols = Seq("k"))
    val hit = TxLog.readRange(spark, root, "k", 2, 2)
    hit.count() shouldBe 1L
    hit.select("s").as[String].head() shouldBe "a"
  }

  test("maintenance after rollback keeps the partition layout (partitionCols inference)") {
    val root = tmpRoot()
    val df = Seq((1L, "p1"), (2L, "p2")).toDF("id", "part")
      .repartition(col("part"))
    TxLog.append(spark, df, root, Seq("part"))                           // v0
    TxLog.append(spark, df.withColumn("id", col("id") + 10), root, Seq("part"))
    TxLog.rollback(spark, root, 0L)                                      // v2
    // rollback no longer commits partitionCols=Seq.empty
    TxLog.history(spark, root).last.partitionCols shouldBe Seq("part")
    // an update straight after the rollback stages PARTITIONED files
    TxLog.update(spark, root, col("id") === 1, Map("id" -> lit(100L)))
    val f = TxLog.readLatest(spark, root).filter(col("id") === 100)
      .select(input_file_name()).as[String].head()
    f should include("part=p1")
  }

  test("merge probes only files whose key-range stats can match (stats-pruned probe)") {
    val root = tmpRoot()
    TxLog.append(spark, (1L to 100L).map((_, "lo")).toDF("id", "s")
      .repartition(1), root, statsCols = Seq("id"))                      // v0
    TxLog.append(spark, (1000L to 1100L).map((_, "hi")).toDF("id", "s")
      .repartition(1), root, statsCols = Seq("id"))                      // v1
    val loRel = TxLog.history(spark, root).head.add.head
    val hiRel = TxLog.history(spark, root).last.add.head
    // corrupt the hi-range file ON DISK: stats say it cannot hold key 50,
    // so a stats-pruned probe never opens it — if pruning broke, this
    // merge would die reading garbage parquet
    val bad = new java.io.FileOutputStream(s"$root/$hiRel")
    bad.write("not a parquet file".getBytes); bad.close()

    TxLog.merge(spark, Seq((50L, "UPD")).toDF("id", "s"), root,
      keyCols = Seq("id"), partitionCols = Seq.empty,
      statsCols = Seq("id")) shouldBe 2L
    // only the lo file was rewritten
    TxLog.history(spark, root).last.remove shouldBe Seq(loRel)
    // and the merged content is correct (reading the lo range only —
    // the corrupt hi file is skipped by the same stats)
    val lo = TxLog.readRange(spark, root, "id", 0, 200)
    lo.count() shouldBe 100L
    lo.filter(col("id") === 50).select("s").as[String].head() shouldBe "UPD"
  }

  test("appendIdempotent skips replayed txn versions; the watermark survives checkpoint truncation") {
    val root = tmpRoot()
    TxLog.appendIdempotent(spark, Seq((1L, "a")).toDF("id", "s"), root,
      "job", 0L) shouldBe Some(0L)
    // exact replay: skipped, no commit, no rows
    TxLog.appendIdempotent(spark, Seq((1L, "a")).toDF("id", "s"), root,
      "job", 0L) shouldBe None
    TxLog.appendIdempotent(spark, Seq((2L, "b")).toDF("id", "s"), root,
      "job", 1L) shouldBe Some(1L)
    // an older txn version replayed late is also a duplicate
    TxLog.appendIdempotent(spark, Seq((9L, "x")).toDF("id", "s"), root,
      "job", 0L) shouldBe None
    // a different appId has an independent watermark
    TxLog.appendIdempotent(spark, Seq((3L, "c")).toDF("id", "s"), root,
      "other", 0L) shouldBe Some(2L)
    TxLog.readLatest(spark, root).count() shouldBe 3L

    // push to a checkpoint (interval 10) and truncate the raw commits:
    // the watermark must ride the checkpoint, not the deleted log tail
    (3L to 9L).foreach(i => TxLog.appendIdempotent(spark,
      Seq((10L + i, "f")).toDF("id", "s"), root, "job", i))
    (0 until 10).foreach { v =>
      new java.io.File(f"$root/${TxLog.LogDirName}/$v%020d.json").delete()
    }
    TxLog.appendIdempotent(spark, Seq((99L, "dup")).toDF("id", "s"), root,
      "job", 9L) shouldBe None
    TxLog.appendIdempotent(spark, Seq((99L, "new")).toDF("id", "s"), root,
      "job", 10L) shouldBe Some(10L)
  }

  test("compact bin-packs small files per partition; content and time travel survive") {
    val root = tmpRoot()
    val batch = Seq((1L, "p1"), (2L, "p2"), (3L, "p1"), (4L, "p2"))
      .toDF("id", "part").repartition(col("part"))
    TxLog.append(spark, batch, root, Seq("part"))                        // v0
    TxLog.append(spark, batch.withColumn("id", col("id") + 10), root, Seq("part"))
    TxLog.append(spark, batch.withColumn("id", col("id") + 20), root, Seq("part"))
    def liveFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(input_file_name()).distinct().as[String].collect().toSeq
    val before = TxLog.readLatest(spark, root)
    liveFiles(before).size shouldBe 6                   // 3 appends x 2 dirs
    val expected = before.orderBy("id").collect().toSeq

    val v = TxLog.compact(spark, root)
    v shouldBe 3L
    val after = TxLog.readLatest(spark, root)
    val packed = liveFiles(after)
    packed.size shouldBe 2                              // one per partition dir
    packed.count(_.contains("part=p1")) shouldBe 1
    after.orderBy("id").collect().toSeq shouldBe expected
    // the pre-compaction layout is still a time travel away
    val old = TxLog.readAt(spark, root, 2L)
    liveFiles(old).size shouldBe 6
    old.orderBy("id").collect().toSeq shouldBe expected
  }

  test("compact thresholds: no-op below 2 qualifying files; big files stay in place") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "s").repartition(1), root)
    TxLog.append(spark, Seq((2L, "b")).toDF("id", "s").repartition(1), root)
    // nothing is smaller than 1 byte -> idempotent no-op, NO new commit
    TxLog.compact(spark, root, smallerThanBytes = 1L) shouldBe 1L
    TxLog.history(spark, root).last.version shouldBe 1L

    // a file above the small threshold is never rewritten
    TxLog.append(spark, (1L to 20000L).map(i => (i, "big" * 10))
      .toDF("id", "s").repartition(1), root)                             // v2
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val bigRel = TxLog.history(spark, root).last.add.head
    val bigLen = fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$root/$bigRel")).getLen
    bigLen should be > 2000L
    TxLog.compact(spark, root, smallerThanBytes = 2000L) shouldBe 3L
    val live = TxLog.readLatest(spark, root)
      .select(input_file_name()).distinct().as[String].collect()
    live.count(_.endsWith(bigRel.split('/').last)) shouldBe 1 // untouched
    live.length shouldBe 2                     // big file + 1 packed file
    TxLog.readLatest(spark, root).count() shouldBe 20002L
  }

  test("compact recomputes stats: data skipping still prunes after packing") {
    val root = tmpRoot()
    TxLog.append(spark, (1L to 100L).map((_, "lo")).toDF("id", "s")
      .repartition(1), root, statsCols = Seq("id"))
    TxLog.append(spark, (101L to 200L).map((_, "mid")).toDF("id", "s")
      .repartition(1), root, statsCols = Seq("id"))
    TxLog.compact(spark, root) shouldBe 2L
    // result parity inside the data range
    TxLog.readRange(spark, root, "id", 150, 160).count() shouldBe 11L
    // a range no data can match scans NOTHING: the packed file carries
    // fresh min/max and is dropped before any IO
    val out = TxLog.readRange(spark, root, "id", 1000, 2000)
    out.count() shouldBe 0L
    out.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.length
    }.getOrElse(0) shouldBe 0
  }

  test("change feed into a vacuumed range fails naming the missing file") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "old")).toDF("id", "s"), root)          // v0
    TxLog.overwrite(spark, Seq((2L, "new")).toDF("id", "s"), root)       // v1
    TxLog.vacuum(spark, root, keepLast = 1)
    val e = intercept[IllegalArgumentException] {
      TxLog.readChanges(spark, root, fromVersion = -1L)
    }
    e.getMessage should include("vacuumed")
  }

  test("schema policy: a narrower append keeps the table schema; type changes and enforce-mode drift fail loudly") {
    val root = tmpRoot()
    TxLog.append(spark,
      Seq((1L, "a", 7.5)).toDF("id", "s", "score"), root)            // v0
    // narrower batch: the committed schema is table ∪ batch — `score`
    // stays visible, the new file reads null for it
    TxLog.append(spark, Seq((2L, "b")).toDF("id", "s"), root)        // v1
    val latest = TxLog.readLatest(spark, root)
    latest.columns.toSeq shouldBe Seq("id", "s", "score")
    latest.orderBy("id").collect().map(_.toSeq).toSeq shouldBe Seq(
      Seq(1L, "a", 7.5), Seq(2L, "b", null))

    // type change: rejected in every mode (it would break reads of every
    // existing file at query time, not convert anything)
    val e1 = intercept[IllegalArgumentException] {
      TxLog.append(spark,
        Seq((3L, "c", "not-a-double")).toDF("id", "s", "score"), root)
    }
    e1.getMessage should include("changes column type")
    TxLog.latestVersion(spark, root) shouldBe Some(1L) // nothing committed

    // enforce mode: any column-set drift fails the write
    spark.conf.set("spark.graft.schema.mode", "enforce")
    try {
      val e2 = intercept[IllegalArgumentException] {
        TxLog.append(spark,
          Seq((3L, "c", 1.0, "en")).toDF("id", "s", "score", "lang"), root)
      }
      e2.getMessage should include("enforce")
      // an exact-schema batch still lands
      TxLog.append(spark,
        Seq((3L, "c", 1.0)).toDF("id", "s", "score"), root)          // v2
      TxLog.readLatest(spark, root).count() shouldBe 3L
    } finally spark.conf.unset("spark.graft.schema.mode")
  }

  test("applyCdc nets a multi-version feed per key: last wins, insert beats delete within a version") {
    val root = tmpRoot()
    TxLog.append(spark,
      Seq((1L, "old1"), (2L, "old2"), (3L, "old3")).toDF("id", "s"), root)
    // a change feed spanning three upstream commits:
    //  id=1: rewritten at v5 (delete+insert, same version) -> update
    //  id=2: updated at v5 then DELETED at v6 -> delete wins
    //  id=4: inserted at v6 -> new row
    //  id=9: deleted at v5 but absent downstream -> no-op
    val feed = Seq(
      (1L, "old1", "delete", 5L), (1L, "new1", "insert", 5L),
      (2L, "tmp2", "insert", 5L), (2L, "tmp2", "delete", 6L),
      (4L, "new4", "insert", 6L),
      (9L, "ghost", "delete", 5L))
      .toDF("id", "s", "_change_type", "_commit_version")
    val v = TxLog.applyCdc(spark, feed, root, keyCols = Seq("id"))
    v shouldBe 1L // one commit for the whole batch
    TxLog.readLatest(spark, root).select("id", "s").as[(Long, String)]
      .collect().sortBy(_._1).toSeq shouldBe Seq(
      (1L, "new1"), (3L, "old3"), (4L, "new4"))
    // idempotence: re-applying the same batch converges, state unchanged
    TxLog.applyCdc(spark, feed, root, keyCols = Seq("id"))
    TxLog.readLatest(spark, root).select("id", "s").as[(Long, String)]
      .collect().sortBy(_._1).toSeq shouldBe Seq(
      (1L, "new1"), (3L, "old3"), (4L, "new4"))
    // a delete-only batch matching nothing commits no version
    val before = TxLog.latestVersion(spark, root)
    TxLog.applyCdc(spark,
      Seq((99L, "x", "delete", 7L))
        .toDF("id", "s", "_change_type", "_commit_version"),
      root, keyCols = Seq("id"))
    TxLog.latestVersion(spark, root) shouldBe before
    // a delete-only FIRST batch onto a fresh target is likewise a no-op:
    // no empty v0 commit whose schema the feed would dictate
    val fresh = tmpRoot()
    TxLog.applyCdc(spark,
      Seq((1L, "x", "delete", 1L))
        .toDF("id", "s", "_change_type", "_commit_version"),
      fresh, keyCols = Seq("id")) shouldBe -1L
    TxLog.latestVersion(spark, fresh) shouldBe None
  }

  test("readRanges prunes conjunctively; minMaxFast answers from metadata") {
    val root = tmpRoot()
    // a 2x2 grid of (x, y) tiles, one file each: a conjunctive box query
    // should prune to ONE file where either single axis keeps two
    for (xs <- 0 to 1; ys <- 0 to 1) {
      val rows = for (i <- 0 until 10) yield
        (xs * 100L + i, ys * 100L + i, s"t$xs$ys")
      TxLog.append(spark, rows.toDF("x", "y", "tag").repartition(1),
        root, statsCols = Seq("x", "y"))
    }
    val hit = TxLog.readRanges(spark, root,
      Seq(("x", 0.0, 50.0), ("y", 100.0, 150.0)))
    hit.select("tag").distinct().as[String].collect().toSeq shouldBe Seq("t01")
    // and the box read matches a plain filter on the full table
    hit.count() shouldBe 10L

    TxLog.minMaxFast(spark, root, "x") shouldBe Some((0.0, 109.0))
    TxLog.minMaxFast(spark, root, "nope") shouldBe None
    // a stats-less commit disables the metadata answer for its files
    TxLog.append(spark, Seq((500L, 500L, "late")).toDF("x", "y", "tag"), root)
    TxLog.minMaxFast(spark, root, "x") shouldBe None
  }

  test("countRows answers from commit metadata: correct even when a data file is unreadable") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .repartition(1), root, statsCols = Seq("id"))                  // v0
    TxLog.append(spark, Seq((3L, "c")).toDF("id", "s")
      .repartition(1), root, statsCols = Seq("id"))                  // v1
    TxLog.countRows(spark, root) shouldBe 3L
    TxLog.countRows(spark, root, Some(0L)) shouldBe 2L

    // the proof it reads NO data: corrupt a live file; the metadata
    // count still answers while a scan count would fail
    val victim = TxLog.history(spark, root).last.add.head
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/$victim"),
      "not parquet".getBytes)
    TxLog.countRows(spark, root) shouldBe 3L

    // a stats-less commit disables the metadata path -> scan fallback
    val root2 = tmpRoot()
    TxLog.append(spark, Seq((1L, "x")).toDF("id", "s"), root2) // no stats
    TxLog.countRows(spark, root2) shouldBe 1L
  }

  test("cloneTable forks an independent table: stats carry over, divergence stays local") {
    val src = tmpRoot()
    val dst = Files.createTempDirectory("graft-clone").toString + "/t"
    TxLog.append(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").repartition(1),
      src, statsCols = Seq("id"))                                    // v0
    TxLog.append(spark,
      Seq((3L, "c")).toDF("id", "s").repartition(1),
      src, statsCols = Seq("id"))                                    // v1

    val v = TxLog.cloneTable(spark, src, dst)
    v shouldBe 0L
    TxLog.readLatest(spark, dst).orderBy("id").as[(Long, String)]
      .collect().toSeq shouldBe Seq((1L, "a"), (2L, "b"), (3L, "c"))
    // per-file stats carried verbatim: the clone's range read still prunes
    val cloneCommit = TxLog.history(spark, dst).head
    cloneCommit.operation shouldBe "clone"
    cloneCommit.stats.values.flatMap(_.keys).toSet shouldBe
      Set("id", TxLog.RowCountKey, TxLog.FileSizeKey)
    TxLog.readRange(spark, dst, "id", 3, 9).count() shouldBe 1L

    // divergence is local in both directions
    TxLog.delete(spark, dst, col("id") === 1L)
    TxLog.append(spark, Seq((9L, "z")).toDF("id", "s"), src)
    TxLog.readLatest(spark, src).count() shouldBe 4L
    TxLog.readLatest(spark, dst).count() shouldBe 2L
    // and vacuuming the SOURCE cannot break the clone (deep copy)
    TxLog.overwrite(spark, Seq((0L, "only")).toDF("id", "s"), src)
    TxLog.vacuum(spark, src, keepLast = 1)
    TxLog.readLatest(spark, dst).count() shouldBe 2L

    // cloning a vacuumed-away version fails loudly (files gone), never
    // fabricates an empty table
    val dst0 = Files.createTempDirectory("graft-clone0").toString + "/t"
    intercept[Exception] {
      TxLog.cloneTable(spark, src, dst0, version = Some(0L))
    }
    // point-in-time fork from an intact source
    val src2 = tmpRoot()
    TxLog.append(spark, Seq((1L, "x")).toDF("id", "s"), src2)        // v0
    TxLog.append(spark, Seq((2L, "y")).toDF("id", "s"), src2)        // v1
    val dst2 = Files.createTempDirectory("graft-clone2").toString + "/t"
    TxLog.cloneTable(spark, src2, dst2, version = Some(0L))
    TxLog.readLatest(spark, dst2).as[(Long, String)].collect()
      .toSeq shouldBe Seq((1L, "x"))
    // a second clone onto the same target refuses
    intercept[IllegalArgumentException] {
      TxLog.cloneTable(spark, src2, dst2)
    }
  }

  test("mixed-castable string keys: no under-covering stats, merge still finds every key") {
    val root = tmpRoot()
    // one file holding a castable AND a non-castable key: bounds over the
    // castable subset alone would claim [5,5] and the merge probe would
    // prune this file for any batch outside that range
    TxLog.append(spark, Seq(("5", "num"), ("abc", "alpha")).toDF("k", "s")
      .repartition(1), root, statsCols = Seq("k"))
    // the file must have NO recorded bounds for k (conservatively kept)
    val stats = TxLog.history(spark, root).head.stats
    stats.values.flatMap(_.keys).toSet shouldBe
      Set(TxLog.RowCountKey, TxLog.FileSizeKey)
    // a merge touching the non-castable key rewrites it (no duplicate)
    TxLog.merge(spark, Seq(("abc", "ALPHA!")).toDF("k", "s"), root,
      keyCols = Seq("k"), partitionCols = Seq.empty)
    TxLog.readLatest(spark, root).orderBy("k").as[(String, String)]
      .collect().toSeq shouldBe Seq(("5", "num"), ("abc", "ALPHA!"))
  }

  test("merge with no matched files keeps the table schema (no silent narrowing)") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "a", 7.5)).toDF("id", "a", "b"), root)
    // all-new keys, NARROWER update frame: nothing matches, the staged
    // batch is just the updates — the committed schema must still be the
    // union, not the batch's two columns
    TxLog.merge(spark, Seq((2L, "c")).toDF("id", "a"), root,
      keyCols = Seq("id"), partitionCols = Seq.empty)
    val latest = TxLog.readLatest(spark, root)
    latest.columns.toSeq shouldBe Seq("id", "a", "b")
    latest.orderBy("id").collect().map(_.toSeq).toSeq shouldBe Seq(
      Seq(1L, "a", 7.5), Seq(2L, "c", null))
  }

  test("schema policy matches names case-insensitively (Spark's default resolution)") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "s"), root)
    // same column, different case: NOT a new column
    TxLog.append(spark, Seq((2L, "b")).toDF("ID", "s"), root)
    TxLog.readLatest(spark, root).columns.toSeq shouldBe Seq("id", "s")
    TxLog.readLatest(spark, root).count() shouldBe 2L
    // same-name-different-case TYPE change still rejected
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark, Seq(("x", "c")).toDF("ID", "s"), root)
    }
    e.getMessage should include("changes column type")
  }

  test("applyCdc without _commit_version rejects ambiguous per-key changes clearly") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "s"), root)
    val e = intercept[IllegalArgumentException] {
      TxLog.applyCdc(spark,
        Seq((1L, "x", "insert"), (1L, "y", "delete"))
          .toDF("id", "s", "_change_type"),
        root, keyCols = Seq("id"))
    }
    e.getMessage should include("_commit_version")
  }

  test("applyCdc converges to the reference model under randomized multi-version feeds") {
    val rnd = new scala.util.Random(42) // seeded: deterministic run
    val root = tmpRoot()
    var model = (1L to 20L).map(k => k -> s"v$k").toMap
    TxLog.append(spark, model.toSeq.toDF("id", "s"), root)

    for (round <- 1 to 3) {
      // a feed spanning 3 upstream versions; values are a FUNCTION of
      // (key, version) so duplicate events tie with equal payloads and
      // the netting's winner choice cannot matter
      val events = for {
        ver <- 1 to 3
        k <- rnd.shuffle((1L to 30L).toList).take(8)
      } yield (k, s"r$round-$ver-$k",
        if (rnd.nextBoolean()) "delete" else "insert", ver.toLong)

      // reference semantics: highest version wins per key; within a
      // version an insert beats a delete
      val byKey = events.groupBy(_._1)
      byKey.foreach { case (k, evs) =>
        val maxVer = evs.map(_._4).max
        val atMax = evs.filter(_._4 == maxVer)
        atMax.find(_._3 == "insert") match {
          case Some((_, value, _, _)) => model += k -> value
          case None                   => model -= k
        }
      }

      val feed = events.toDF("id", "s", "_change_type", "_commit_version")
      TxLog.applyCdc(spark, feed, root, keyCols = Seq("id"))
      def state(): Map[Long, String] =
        TxLog.readLatest(spark, root).as[(Long, String)].collect().toMap
      state() shouldBe model
      // idempotence: replaying the identical feed changes nothing
      TxLog.applyCdc(spark, feed, root, keyCols = Seq("id"))
      state() shouldBe model
    }
  }

  test("timestamp time travel resolves to the highest version at-or-before the instant") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "s"), root) // v0
    Thread.sleep(5)
    TxLog.append(spark, Seq((2L, "b")).toDF("id", "s"), root) // v1
    Thread.sleep(5)
    TxLog.append(spark, Seq((3L, "c")).toDF("id", "s"), root) // v2
    val ts = TxLog.history(spark, root).map(_.timestampMs)

    TxLog.versionAtTimestamp(spark, root, ts(0)) shouldBe 0L
    // between v0 and v1 -> still v0
    TxLog.versionAtTimestamp(spark, root, ts(1) - 1) shouldBe 0L
    TxLog.versionAtTimestamp(spark, root, ts(2)) shouldBe 2L
    // far future -> latest
    TxLog.versionAtTimestamp(spark, root, ts(2) + 1000000L) shouldBe 2L

    TxLog.readAtTimestamp(spark, root, ts(1)).count() shouldBe 2L
    // before the first commit: refuse rather than guess
    val e = intercept[IllegalArgumentException] {
      TxLog.versionAtTimestamp(spark, root, ts(0) - 1)
    }
    e.getMessage should include("predates")
  }

  test("dropColumns is metadata-only: column vanishes, files stay, time travel keeps it") {
    val root = tmpRoot()
    TxLog.append(spark,
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "s", "score")
        .repartition(1), root)
    val preDrop = TxLog.latestVersion(spark, root).get
    val filesBefore = TxLog.liveSizes(spark, root).map(_._1).toSet

    TxLog.dropColumns(spark, root, Seq("score"))
    // no file was touched: same live set, same file objects
    TxLog.liveSizes(spark, root).map(_._1).toSet shouldBe filesBefore
    TxLog.history(spark, root).last.operation shouldBe "drop_column"
    // the column is invisible now...
    TxLog.readLatest(spark, root).columns.toSeq shouldBe Seq("id", "s")
    // ...but a pre-drop snapshot still shows the original values
    TxLog.readAt(spark, root, preDrop)
      .select("id", "score").as[(Long, Double)].collect().sorted shouldBe
      Array((1L, 10.0), (2L, 20.0))
    // later appends lacking the column are unremarkable
    TxLog.append(spark, Seq((3L, "c")).toDF("id", "s"), root)
    TxLog.readLatest(spark, root).count() shouldBe 3
  }

  test("dropColumns tombstones the name: every re-add path is refused until OVERWRITE") {
    val root = tmpRoot()
    TxLog.append(spark,
      Seq((1L, "stale-secret")).toDF("id", "payload").repartition(1), root)
    TxLog.dropColumns(spark, root, Seq("payload"))

    // write-path merge evolution refuses (case-insensitively)
    val e1 = intercept[IllegalArgumentException] {
      TxLog.append(spark, Seq((2L, "new")).toDF("id", "Payload"), root)
    }
    e1.getMessage should include("dropped column")
    // explicit ADD COLUMNS refuses
    val e2 = intercept[IllegalArgumentException] {
      TxLog.addColumns(spark, root, Seq("payload" -> "string"))
    }
    e2.getMessage should include("DROPPED")
    // the stale value was never resurrected along the way
    TxLog.readLatest(spark, root).columns should not contain "payload"

    // OVERWRITE rewrites every file -> the name is reusable, and reads
    // see only the new values (no stale bytes reachable)
    TxLog.overwrite(spark, Seq((9L, "fresh")).toDF("id", "payload"), root)
    TxLog.append(spark, Seq((10L, "fresh2")).toDF("id", "payload"), root)
    TxLog.readLatest(spark, root).select("payload").as[String]
      .collect().sorted shouldBe Array("fresh", "fresh2")
  }

  test("dropColumns tombstone survives checkpoints and rides clones") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "x")).toDF("id", "gone").repartition(1), root)
    TxLog.dropColumns(spark, root, Seq("gone"))
    // push past the auto-checkpoint cadence so resolution runs
    // checkpoint + tail, then prove the guard still holds
    (0 until TxLog.CheckpointInterval + 2).foreach { i =>
      TxLog.append(spark, Seq((100L + i, "r")).toDF("id", "s2"), root)
    }
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark, Seq((7L, "boo")).toDF("id", "gone"), root)
    }
    e.getMessage should include("dropped column")

    // a clone's files ARE pre-drop files — the tombstone must carry over
    val dst = tmpRoot() + "/clone"
    TxLog.cloneTable(spark, root, dst)
    val e2 = intercept[IllegalArgumentException] {
      TxLog.append(spark, Seq((8L, "boo")).toDF("id", "gone"), dst)
    }
    e2.getMessage should include("dropped column")
  }

  test("rollback past a drop restores the column and clears its tombstone") {
    val root = tmpRoot()
    TxLog.append(spark,
      Seq((1L, "keepme")).toDF("id", "col_a").repartition(1), root)
    val preDrop = TxLog.latestVersion(spark, root).get
    TxLog.dropColumns(spark, root, Seq("col_a"))
    TxLog.rollback(spark, root, preDrop)
    // the column and its era's files came back TOGETHER: values are not
    // stale, so the name must be writable again
    TxLog.readLatest(spark, root).columns.toSeq shouldBe Seq("id", "col_a")
    TxLog.append(spark, Seq((2L, "post")).toDF("id", "col_a"), root)
    TxLog.readLatest(spark, root).select("col_a").as[String]
      .collect().sorted shouldBe Array("keepme", "post")
  }

  test("a rollback CHAIN back into post-drop state restores the tombstone") {
    val root = tmpRoot()
    TxLog.append(spark,
      Seq((1L, "stale")).toDF("id", "col_a").repartition(1), root)
    val preDrop = TxLog.latestVersion(spark, root).get
    val dropV = TxLog.dropColumns(spark, root, Seq("col_a"))
    TxLog.rollback(spark, root, preDrop) // tombstone cleared, legitimately
    TxLog.rollback(spark, root, dropV)   // back to post-drop state...
    // ...the pre-drop file is live again WITH stale col_a bytes and the
    // schema omits the column — the tombstone must be back in force
    TxLog.readLatest(spark, root).columns.toSeq shouldBe Seq("id")
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark, Seq((2L, "boo")).toDF("id", "col_a"), root)
    }
    e.getMessage should include("dropped column")
  }

  test("case-variant DROP COLUMN reaps the bloom sidecar under the table's spelling") {
    val root = tmpRoot()
    TxLog.append(spark,
      Seq((1L, "k1"), (2L, "k2")).toDF("id", "key").repartition(1), root)
    TxLog.buildBloomIndex(spark, root, "key", 1000L, 0.01)
    TxLog.bloomIndexColumns(spark, root) shouldBe Seq("key")
    TxLog.dropColumns(spark, root, Seq("KEY")) // case-variant spelling
    TxLog.bloomIndexColumns(spark, root) shouldBe Seq.empty
    // the tombstone is recorded under the canonical name too
    intercept[IllegalArgumentException] {
      TxLog.addColumns(spark, root, Seq("Key" -> "string"))
    }.getMessage should include("DROPPED")
  }

  test("spark.graft.log.retainCheckpoints truncates hands-free on the checkpoint cadence") {
    val root = tmpRoot()
    spark.conf.set("spark.graft.log.retainCheckpoints", "1")
    try {
      (0 until 25).foreach { i => // checkpoints (and truncations) at v9, v19
        TxLog.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "s")
          .repartition(1), root)
      }
    } finally spark.conf.unset("spark.graft.log.retainCheckpoints")
    val names = new java.io.File(s"$root/_txlog").listFiles().map(_.getName)
    names.filter(_.matches("\\d{20}\\.json"))
      .map(_.take(20).toLong).sorted.toSeq shouldBe (19L to 24L)
    names.count(_.contains(".checkpoint.")) shouldBe 1
    // the table is fully usable on the bounded log
    TxLog.readLatest(spark, root).count() shouldBe 25
    TxLog.readAt(spark, root, 19L).count() shouldBe 20
    intercept[IllegalArgumentException] {
      TxLog.readAt(spark, root, 18L).count()
    }
  }

  test("dropColumns racing an append that carries the column stays consistent either way") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    (0 until 4).foreach { trial =>
      val root = tmpRoot()
      TxLog.append(spark,
        Seq((1L, "v1")).toDF("id", "doomed").repartition(1), root)
      val drop = Future {
        // optimistic DDL: a concurrent commit fails it with CME — retry
        // like a real client until it lands or the guard makes it moot
        var done = false
        while (!done) {
          try { TxLog.dropColumns(spark, root, Seq("doomed")); done = true }
          catch {
            case _: java.util.ConcurrentModificationException => ()
            case e: IllegalArgumentException
                if e.getMessage.contains("no such column") => done = true
          }
        }
      }
      val appendOutcome = Future {
        try { TxLog.append(spark,
          Seq((2L, "v2")).toDF("id", "doomed"), root); "landed" }
        catch { case e: IllegalArgumentException
            if e.getMessage.contains("dropped column") => "refused" }
      }
      Await.result(drop, 60.seconds)
      val outcome = Await.result(appendOutcome, 60.seconds)
      // serializable either way: the drop always wins eventually, the
      // column is invisible, and the tombstone holds regardless of order
      TxLog.readLatest(spark, root).columns.toSeq shouldBe Seq("id")
      intercept[IllegalArgumentException] {
        TxLog.append(spark, Seq((3L, "v3")).toDF("id", "doomed"), root)
      }.getMessage should include("dropped column")
      // if the append landed first, its row must still be visible (id=2)
      val ids = TxLog.readLatest(spark, root)
        .select("id").as[Long].collect().sorted.toSeq
      if (outcome == "landed") ids shouldBe Seq(1L, 2L)
      else ids shouldBe Seq(1L)
    }
  }

  test("a mid-log gap (interrupted truncation) refuses to resolve, never returns partial state") {
    val root = tmpRoot()
    (0 until 8).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "s")
        .repartition(1), root)
    } // v0..v7, no checkpoint yet (cadence is 10)
    // simulate an interrupted vacuumLog: entries 0..2 deleted by hand
    val logDir = new java.io.File(s"$root/_txlog")
    logDir.listFiles()
      .filter(f => f.getName.matches("\\d{20}\\.json") &&
        f.getName.take(20).toLong <= 2)
      .foreach(_.delete())
    val e = intercept[IllegalArgumentException] {
      TxLog.readLatest(spark, root).count()
    }
    e.getMessage should include("origin entries are missing")
  }

  test("vacuumLog truncates to checkpoints: metadata shrinks, reads and writes continue") {
    val root = tmpRoot()
    // versions 0..11; append auto-checkpoints at v9
    (0 until 12).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "s")
        .repartition(1), root)
    }
    val logDir = new java.io.File(s"$root/_txlog")
    def rawEntries() = logDir.listFiles()
      .filter(_.getName.matches("\\d{20}\\.json")).map(_.getName).sorted

    // dry run: lists the pre-horizon entries, deletes nothing
    val would = TxLog.vacuumLog(spark, root, keepCheckpoints = 1,
      dryRun = true)
    would.size shouldBe 9 // entries 0..8 (the horizon entry v9 stays)
    rawEntries().length shouldBe 12

    val gone = TxLog.vacuumLog(spark, root, keepCheckpoints = 1)
    gone shouldBe would
    rawEntries().map(_.take(20).toLong).toSeq shouldBe (9L to 11L)
    // reads: latest intact, horizon readable, below-horizon loud
    TxLog.readLatest(spark, root).count() shouldBe 12
    TxLog.readAt(spark, root, 9L).count() shouldBe 10
    intercept[IllegalArgumentException] {
      TxLog.readAt(spark, root, 8L).count()
    }.getMessage should include("earliest reconstructable snapshot")
    // the table keeps working: appends, history, describe
    TxLog.append(spark, Seq((99L, "post")).toDF("id", "s"), root)
    TxLog.readLatest(spark, root).count() shouldBe 13
    TxLog.history(spark, root).head.version shouldBe 9L
  }

  test("vacuumLog refuses to strand reclaimable data; vacuum on a truncated log is exact") {
    val root = tmpRoot()
    (0 until 12).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "s")
        .repartition(1), root)
    }
    // v12 drops the v0 file (full-file DELETE, metadata-only remove):
    // that file is now reclaimable only by replaying versions < 12
    TxLog.delete(spark, root, col("id") === 0L)
    TxLog.checkpoint(spark, root) // checkpoint at v12 (the new horizon)
    intercept[IllegalArgumentException] {
      TxLog.vacuumLog(spark, root, keepCheckpoints = 1)
    }.getMessage should include("strand")
    // reclaim first, then truncation is clean
    TxLog.vacuum(spark, root, keepLast = 1)
    TxLog.vacuumLog(spark, root, keepCheckpoints = 1).nonEmpty shouldBe true
    TxLog.readLatest(spark, root).count() shouldBe 11

    // data vacuum AFTER truncation: a base file removed by the tail is
    // still found and reclaimed (the checkpoint seeds the replay), and
    // no live file is touched
    TxLog.delete(spark, root, col("id") === 1L) // drops a pre-horizon file
    val before = TxLog.liveSizes(spark, root).map(_._1).toSet
    val reclaimed = TxLog.vacuum(spark, root, keepLast = 1)
    reclaimed.size shouldBe 1
    TxLog.liveSizes(spark, root).map(_._1).toSet shouldBe before
    TxLog.readLatest(spark, root).count() shouldBe 10
    TxLog.readLatest(spark, root).select("id").as[Long].collect().sorted
      .take(2) shouldBe Array(2L, 3L)
  }

  test("VACUUM ... LOG through SQL: dry run previews, real run truncates") {
    val root = tmpRoot()
    (0 until 11).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "s")
        .repartition(1), root)
    }
    TxLogSql.register(spark, "vlog_t", root)
    val dry = TxLogSql.run(spark, "VACUUM vlog_t LOG RETAIN 1 CHECKPOINTS DRY RUN")
    dry.columns.toSeq shouldBe Seq("would_delete_file")
    dry.count() shouldBe 9
    val real = TxLogSql.run(spark, "VACUUM vlog_t LOG RETAIN 1 CHECKPOINTS")
    real.columns.toSeq shouldBe Seq("deleted_file")
    real.count() shouldBe 9
    spark.table("vlog_t").count() shouldBe 11
    // FORCE parses; an already-truncated log has nothing left to delete
    TxLogSql.run(spark, "VACUUM vlog_t LOG FORCE DRY RUN").count() shouldBe 0
    // DESCRIBE DETAIL surfaces log health: the horizon entry (v9) + v10
    // remain, one checkpoint anchors them
    import org.apache.spark.sql.functions.col
    TxLogSql.run(spark, "DESCRIBE DETAIL vlog_t")
      .select(col("num_log_entries"), col("num_checkpoints"))
      .as[(Long, Long)].head() shouldBe ((2L, 1L))
  }

  test("schema.mode=widen: up-cast conflicts evolve to the wider type, both arrival orders") {
    val root = tmpRoot()
    spark.conf.set("spark.graft.schema.mode", "widen")
    try {
      // int-typed first file, then a LONG batch widens the column
      TxLog.append(spark,
        Seq((1, 1.5f)).toDF("k", "x").repartition(1), root)
      TxLog.append(spark,
        Seq((2L, 2.5f)).toDF("k", "x").repartition(1), root)
      val sch = TxLog.readLatest(spark, root).schema
      sch("k").dataType.simpleString shouldBe "bigint"
      // old int-physical file reads correctly under the widened schema
      TxLog.readLatest(spark, root).select("k").as[Long]
        .collect().sorted shouldBe Array(1L, 2L)
      // a NARROW late batch into the widened table: schema stays wide,
      // the narrow file stays readable
      TxLog.append(spark, Seq((3, 3.5f)).toDF("k", "x"), root)
      TxLog.readLatest(spark, root).schema("k")
        .dataType.simpleString shouldBe "bigint"
      TxLog.readLatest(spark, root).select("k").as[Long]
        .collect().sorted shouldBe Array(1L, 2L, 3L)
      // float -> double widens too
      TxLog.append(spark, Seq((4L, 4.5d)).toDF("k", "x"), root)
      TxLog.readLatest(spark, root).schema("x")
        .dataType.simpleString shouldBe "double"
      TxLog.readLatest(spark, root).select("x").as[Double]
        .collect().sorted shouldBe Array(1.5, 2.5, 3.5, 4.5)
      // non-widenable conflicts still fail, loudly
      val e = intercept[IllegalArgumentException] {
        TxLog.append(spark, Seq(("oops", 5.0d)).toDF("k", "x"), root)
      }
      e.getMessage should include("changes column type")
    } finally spark.conf.unset("spark.graft.schema.mode")
    // default merge mode keeps rejecting up-casts, but names the option
    val e2 = intercept[IllegalArgumentException] {
      TxLog.append(spark, Seq((9, 9.0d)).toDF("k", "x"), root)
    }
    e2.getMessage should include("schema.mode=widen")
  }

  test("widening a bloom-indexed column drops the index: stale int-hashes must not prune") {
    val root = tmpRoot()
    TxLog.append(spark,
      (1 to 100).map(i => (i, s"s$i")).toDF("k", "s").repartition(1), root)
    TxLog.buildBloomIndex(spark, root, "k", 1000L, 0.01)
    TxLog.bloomIndexColumns(spark, root) shouldBe Seq("k")
    spark.conf.set("spark.graft.schema.mode", "widen")
    try TxLog.append(spark,
      Seq((101L, "s101")).toDF("k", "s").repartition(1), root)
    finally spark.conf.unset("spark.graft.schema.mode")
    // the index hashed values as INT; probes now hash them as LONG —
    // keeping it would silently skip files that hold the key
    TxLog.bloomIndexColumns(spark, root) shouldBe Seq.empty
    // point lookup stays CORRECT (conservative full candidate set)
    TxLog.readEquals(spark, root, "k", Seq(50L)).count() shouldBe 1
  }

  test("a narrow batch into an already-wide column keeps the valid bloom index") {
    val root = tmpRoot()
    TxLog.append(spark,
      (1L to 100L).map(i => (i, s"s$i")).toDF("k", "s").repartition(1), root)
    TxLog.buildBloomIndex(spark, root, "k", 1000L, 0.01)
    spark.conf.set("spark.graft.schema.mode", "widen")
    try TxLog.append(spark, Seq((101, "s101")).toDF("k", "s"), root)
    finally spark.conf.unset("spark.graft.schema.mode")
    // the committed type did NOT change (still long): the index's long
    // hashes stay valid and must survive the no-op "widening"
    TxLog.readLatest(spark, root).schema("k")
      .dataType.simpleString shouldBe "bigint"
    TxLog.bloomIndexColumns(spark, root) shouldBe Seq("k")
    TxLog.readEquals(spark, root, "k", Seq(50L)).count() shouldBe 1
  }

  test("a non-widenable conflict on a constrained table fails loudly, not with a parquet error") {
    val root = tmpRoot()
    TxLog.append(spark,
      Seq((1, 5.0)).toDF("k", "v").repartition(1), root)
    TxLog.addConstraint(spark, root, "v_pos", "v >= 0")
    // batch re-types k as STRING: the constraint scan must still open
    // the staged (string-physical) file, and the COMMIT must then fail
    // with the schema-policy message — not a raw parquet cast crash
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark, Seq(("oops", 1.0)).toDF("k", "v"), root)
    }
    e.getMessage should include("changes column type")
    TxLog.readLatest(spark, root).count() shouldBe 1
  }

  test("constraints still enforce across a widening append") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1, 5.0)).toDF("k", "v").repartition(1), root)
    TxLog.addConstraint(spark, root, "v_pos", "v >= 0")
    spark.conf.set("spark.graft.schema.mode", "widen")
    try {
      // widening batch that VIOLATES: must be rejected, not slip past
      // the staged-read (which needs the widened scan schema to open it)
      intercept[IllegalStateException] {
        TxLog.append(spark, Seq((2L, -1.0)).toDF("k", "v"), root)
      }.getMessage should include("v_pos")
      TxLog.append(spark, Seq((3L, 3.0)).toDF("k", "v"), root)
      TxLog.readLatest(spark, root).count() shouldBe 2
    } finally spark.conf.unset("spark.graft.schema.mode")
  }

  test("dropColumns refuses partition columns, constrained columns, and dropping everything") {
    val root = tmpRoot()
    TxLog.append(spark,
      Seq((1L, "us", 5.0)).toDF("id", "region", "v"), root,
      partitionCols = Seq("region"))
    intercept[IllegalArgumentException] {
      TxLog.dropColumns(spark, root, Seq("region"))
    }.getMessage should include("partition column")
    // id+v are ALL the data columns; only the partition column would
    // remain, and its values live in directory names, not file bytes
    intercept[IllegalArgumentException] {
      TxLog.dropColumns(spark, root, Seq("id", "v"))
    }.getMessage should include("cannot drop every data column")
    TxLog.addConstraint(spark, root, "v_pos", "v >= 0")
    intercept[IllegalArgumentException] {
      TxLog.dropColumns(spark, root, Seq("v"))
    }.getMessage should include("constraint")
    intercept[IllegalArgumentException] {
      TxLog.dropColumns(spark, root, Seq("nope"))
    }.getMessage should include("no such column")
    // dropping the constraint unblocks the column drop
    TxLog.dropConstraint(spark, root, "v_pos")
    TxLog.dropColumns(spark, root, Seq("v"))
    TxLog.readLatest(spark, root).columns.toSeq.sorted shouldBe
      Seq("id", "region")
  }

  test("currentVersion is checkpoint-aware and fails closed on a truncated origin") {
    val root = tmpRoot()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // not a table at all
    TxLog.currentVersion(spark, root) shouldBe None
    // an in-flight FIRST commit (claim visible, bytes not durable):
    // still no committed state — None, not a throw
    val logDir = new org.apache.hadoop.fs.Path(s"$root/_txlog")
    fs.mkdirs(logDir)
    val torn = new org.apache.hadoop.fs.Path(logDir,
      "00000000000000000000.json")
    val out = fs.create(torn, true)
    try out.write("{torn".getBytes) finally out.close()
    TxLog.currentVersion(spark, root) shouldBe None
    // but an uncommitted tail starting PAST the origin is a truncated
    // log, not a fresh table — the refusal propagates (fail-closed)
    fs.delete(torn, false)
    val mid = new org.apache.hadoop.fs.Path(logDir,
      "00000000000000000005.json")
    val out2 = fs.create(mid, true)
    try out2.write("{torn".getBytes) finally out2.close()
    intercept[IllegalArgumentException] {
      TxLog.currentVersion(spark, root)
    }
  }

  test("an in-flight FIRST commit never fails a concurrent append outright") {
    val root = tmpRoot()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new org.apache.hadoop.fs.Path(s"$root/_txlog")
    fs.mkdirs(logDir)
    // another writer's first commit: claimed (visible) but not durable
    val torn = new org.apache.hadoop.fs.Path(logDir,
      "00000000000000000000.json")
    val out = fs.create(torn, true)
    try out.write("{not yet".getBytes) finally out.close()
    // the append must STAGE (empty column mapping — nothing can be
    // mapped before the first commit) and sit in commitLoop's tail-wait
    // rather than failing at stage time with resolve's refusal
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fut = Future {
      TxLog.append(spark,
        (1L to 5L).map(k => (k, s"s$k")).toDF("id", "s"), root)
    }
    Thread.sleep(1500)
    fut.isCompleted shouldBe false // waiting out the tail, not failed
    // the dead writer's claim is repaired away -> the append lands as v0
    fs.delete(torn, false)
    Await.result(fut, 60.seconds) shouldBe 0L
    TxLog.readLatest(spark, root).count() shouldBe 5L
  }
}
