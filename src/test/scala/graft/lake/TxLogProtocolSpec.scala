package graft.lake

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** Reader-feature ladder (`minReader`): commits stamp the rung their
  * features demand, readers refuse anything above
  * [[TxLog.SupportedReaderVersion]] LOUDLY instead of dropping unknown
  * fields and resolving wrong state, and checkpoints carry the stamp of
  * the state they summarize so the requirement survives log truncation.
  */
class TxLogProtocolSpec extends SparkSpec {

  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-proto").toString

  private def entryJson(root: String, v: Long): String =
    new String(Files.readAllBytes(
      Paths.get(f"$root/${TxLog.LogDirName}/$v%020d.json")), "UTF-8")

  test("pre-feature commits carry NO minReader field — old logs round-trip unchanged") {
    val root = tmpRoot()
    TxLog.append(spark,
      (1L to 4L).map(k => (k, s"s$k")).toDF("id", "s").repartition(1),
      root, statsCols = Seq("id"))
    TxLog.append(spark, Seq((5L, "s5")).toDF("id", "s"), root)
    entryJson(root, 0L) should not include "minReader"
    entryJson(root, 1L) should not include "minReader"
    TxLog.readLatest(spark, root).count() shouldBe 5L
  }

  test("feature-using commits stamp their rung; the current reader reads them all") {
    val root = tmpRoot()
    TxLog.append(spark,
      (1L to 6L).map(k => (k, s"s$k", k)).toDF("id", "s", "extra")
        .repartition(1), root, statsCols = Seq("id"))
    // rung 2: deletion vectors
    TxLog.deleteVectored(spark, root, org.apache.spark.sql.functions.expr("id = 1"))
    entryJson(root, 1L) should include("\"minReader\":2")
    // rung 2: drop-column tombstone
    TxLog.dropColumns(spark, root, Seq("extra"))
    entryJson(root, 2L) should include("\"minReader\":2")
    // rung 3: column mapping
    TxLog.renameColumn(spark, root, "s", "body")
    entryJson(root, 3L) should include("\"minReader\":3")
    TxLog.readLatest(spark, root).count() shouldBe 5L
    TxLog.readLatest(spark, root).columns.toSeq shouldBe Seq("id", "body")
  }

  test("an entry demanding a newer reader fails loudly — reads AND writes") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "s"), root)
    TxLog.append(spark, Seq((2L, "b")).toDF("id", "s"), root)
    // a future writer's commit: same layout plus a field this build
    // can't interpret, honestly declared via minReader
    val p = Paths.get(s"$root/${TxLog.LogDirName}/00000000000000000001.json")
    val stamped = new String(Files.readAllBytes(p), "UTF-8")
      .replaceFirst("\\{\"version\"", "{\"minReader\":99,\"version\"")
    Files.write(p, stamped.getBytes("UTF-8"))
    val r = intercept[TxLog.UnsupportedLogFeatureException] {
      TxLog.readLatest(spark, root).count()
    }
    r.getMessage should include("requires log reader version 99")
    // the WRITE path must refuse too: an old writer committing against
    // state it cannot read would violate invariants it doesn't know.
    // Above all it must NOT wait out the entry as a "crashed in-flight
    // tail" and then commit anyway.
    intercept[TxLog.UnsupportedLogFeatureException] {
      TxLog.append(spark, Seq((3L, "c")).toDF("id", "s"), root)
    }
  }

  test("a future entry WITHOUT a version field still refuses cleanly (no NPE -> torn-tail misread)") {
    val root = tmpRoot()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "s"), root)
    TxLog.append(spark, Seq((2L, "b")).toDF("id", "s"), root)
    val p = Paths.get(s"$root/${TxLog.LogDirName}/00000000000000000001.json")
    // a future format that also restructured the envelope: minReader
    // present, top-level "version" gone. The refusal must still be the
    // typed one — an NPE would be swallowed as a torn in-flight tail
    // and an old writer would wait it out and commit blind
    Files.write(p, """{"minReader":99,"v":1}""".getBytes("UTF-8"))
    intercept[TxLog.UnsupportedLogFeatureException] {
      TxLog.readLatest(spark, root).count()
    }.getMessage should include("requires log reader version 99")
  }

  test("checkpoints stamp the rung of the state they summarize") {
    // plain table: no stamp
    val plain = tmpRoot()
    (0 until 3).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s"), plain)
    }
    TxLog.checkpoint(spark, plain) shouldBe Some(2L)
    val plainMeta = new String(Files.readAllBytes(Paths.get(
      s"$plain/${TxLog.LogDirName}/00000000000000000002.checkpoint.parquet",
      "_meta.json")), "UTF-8")
    plainMeta should not include "minReader"
    // mapped table: rung 3 rides the checkpoint, surviving truncation
    val mapped = tmpRoot()
    TxLog.append(spark, Seq((1L, "a")).toDF("id", "s"), mapped)
    TxLog.renameColumn(spark, mapped, "s", "body")
    TxLog.checkpoint(spark, mapped) shouldBe Some(1L)
    val mappedMeta = new String(Files.readAllBytes(Paths.get(
      s"$mapped/${TxLog.LogDirName}/00000000000000000001.checkpoint.parquet",
      "_meta.json")), "UTF-8")
    mappedMeta should include("\"minReader\":3")
  }

  test("a future checkpoint (newer layout or rung) fails loudly") {
    val root = tmpRoot()
    (0 until 3).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s"), root)
    }
    TxLog.checkpoint(spark, root) shouldBe Some(2L)
    val meta = Paths.get(
      s"$root/${TxLog.LogDirName}/00000000000000000002.checkpoint.parquet",
      "_meta.json")
    val orig = new String(Files.readAllBytes(meta), "UTF-8")
    // drop the local-FS checksum sidecar: the hand-edit would otherwise
    // read back as a ChecksumException instead of reaching the parser
    Files.deleteIfExists(meta.resolveSibling("._meta.json.crc"))
    Files.write(meta, orig
      .replaceFirst("\"format\":3", "\"format\":4").getBytes("UTF-8"))
    TxLog.clearCheckpointCache()
    intercept[TxLog.UnsupportedLogFeatureException] {
      TxLog.readAt(spark, root, 2L).count() // must resolve THROUGH the ckpt
    }.getMessage should include("layout format 4")
    Files.write(meta, orig
      .replaceFirst("\"format\":3", "\"format\":3,\"minReader\":9")
      .getBytes("UTF-8"))
    TxLog.clearCheckpointCache()
    intercept[TxLog.UnsupportedLogFeatureException] {
      TxLog.readAt(spark, root, 2L).count()
    }.getMessage should include("requires log reader version 9")
  }

  test("a v3-ONLY checkpoint after full log truncation still refuses future layouts loudly — reads AND writes") {
    // The rung ladder can't reach builds that predate it (af9e0a2
    // introduced checkReaderVersion and format 3 in the same commit), so
    // the format-3-on-truncated-log story rests on two properties pinned
    // here: (1) a PRE-LADDER reader crashes on column RESOLUTION against
    // the flat layout — its select includes statsMin/statsMax, which
    // format 3 does not have — so it can never silently misread state;
    // (2) from the ladder on, a FUTURE layout refuses on the protocol
    // path even when the checkpoint is the ONLY surviving log state (no
    // raw entries to fall back to — the refusal must not degrade into
    // "not a table", an empty replay, or a torn-tail wait).
    val root = tmpRoot()
    (0 until 4).foreach { i =>
      TxLog.append(spark,
        Seq((i.toLong, s"v$i")).toDF("id", "s"), root)
    }
    TxLog.checkpoint(spark, root) shouldBe Some(3L)
    // amputate EVERY raw entry (stronger than vacuumLog, which keeps the
    // horizon entry): the checkpoint becomes the whole surviving log
    val logDir = Paths.get(s"$root/${TxLog.LogDirName}")
    Files.list(logDir).forEach { p =>
      if (p.getFileName.toString.matches("\\d{20}\\.json"))
        Files.delete(p)
    }
    TxLog.clearCheckpointCache()
    TxLog.readLatest(spark, root).count() shouldBe 4L // ckpt-only resolve
    // (1) the pre-ladder reader's parse path: loud failure, never data
    val ckptDir =
      s"$root/${TxLog.LogDirName}/00000000000000000003.checkpoint.parquet"
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.read.parquet(ckptDir)
        .select("idx", "file", "statsMin", "statsMax", "dvPath", "dvRows")
        .collect()
    }
    // (2) the ladder path on a truncated log
    val meta = Paths.get(ckptDir, "_meta.json")
    val orig = new String(Files.readAllBytes(meta), "UTF-8")
    Files.deleteIfExists(meta.resolveSibling("._meta.json.crc"))
    Files.write(meta, orig
      .replaceFirst("\"format\":3", "\"format\":4").getBytes("UTF-8"))
    TxLog.clearCheckpointCache()
    intercept[TxLog.UnsupportedLogFeatureException] {
      TxLog.readLatest(spark, root).count()
    }.getMessage should include("layout format 4")
    // the WRITE path refuses the same way (stage-time mapping resolution
    // must propagate the protocol refusal, not swallow it into an
    // unmapped stage that commitLoop then waits on)
    intercept[TxLog.UnsupportedLogFeatureException] {
      TxLog.append(spark, Seq((9L, "x")).toDF("id", "s"), root)
    }
  }

  test("cleanOrphans refuses a checkpoint it cannot read and deletes nothing") {
    val root = tmpRoot()
    (0 until 3).foreach { i =>
      TxLog.append(spark, Seq((i.toLong, s"v$i")).toDF("id", "s"), root)
    }
    TxLog.checkpoint(spark, root) shouldBe Some(2L)
    // an orphan: a data file no commit or checkpoint references, aged
    // past any threshold
    val src = new java.io.File(root).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val orphan = Paths.get(root, "part-orphan.parquet")
    Files.copy(src.toPath, orphan)
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(0L))
    val meta = Paths.get(
      s"$root/${TxLog.LogDirName}/00000000000000000002.checkpoint.parquet",
      "_meta.json")
    val orig = new String(Files.readAllBytes(meta), "UTF-8")
    Files.deleteIfExists(meta.resolveSibling("._meta.json.crc"))
    Seq(orig.replaceFirst("\"format\":3", "\"format\":4"),
        orig.replaceFirst("\"format\":3", "\"format\":3,\"minReader\":9"))
      .foreach { bumped =>
        Files.write(meta, bumped.getBytes("UTF-8"))
        intercept[TxLog.UnsupportedLogFeatureException] {
          TxLog.cleanOrphans(spark, root, olderThanMs = 0L)
        }
        Files.exists(orphan) shouldBe true
      }
    // the readable header lets the reap through
    Files.write(meta, orig.getBytes("UTF-8"))
    TxLog.cleanOrphans(spark, root, olderThanMs = 0L) should contain(
      "part-orphan.parquet")
    Files.exists(orphan) shouldBe false
    TxLog.readLatest(spark, root).count() shouldBe 3L
  }
}
