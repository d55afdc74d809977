package graft

import graft.lake.TxLog

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Metadata-scale harness: synthesizes a commit log with ~100k live files
  * (tiny byte-identical parquet parts, realistic per-file min/max stats)
  * and measures the log tier's wall-time and driver heap — resolve,
  * checkpoint write, pruned stat reads, range-read planning, vacuum.
  *
  * This is the number behind the 100 TB claim: at ~1 GB/file, 100k live
  * files IS a 100 TB table, and everything here except the data bytes is
  * exactly what a 1000-executor driver would do per query. Usage:
  *
  *   sbt "runMain graft.LogBench [nFiles] [nCommits] [sparse]"
  *
  * `sparse` skips the physical file copies except the handful the range
  * probe actually scans — every other measured phase (resolve,
  * checkpoint, pruned stat reads, log-served planning, history, vacuum)
  * is metadata-only by design and never touches a data file, so the
  * numbers are identical while the build stops being bounded by local
  * inode churn. That is what makes a 10M-file point runnable; the JSON
  * records the mode so dense and sparse build times are never compared.
  *
  * Prints one JSON line (seconds per phase + driver heap MB); recorded
  * runs live in BASELINE.md §"Metadata scale".
  */
object LogBench {

  private def timedMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  private def usedMb(): Long = {
    System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory() - r.freeMemory()) / (1024L * 1024L)
  }

  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(100000)
    val nCommits = args.lift(1).map(_.toInt).getOrElse(100)
    val sparse = args.lift(2).contains("sparse")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionTuning.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = Files.createTempDirectory("graft-logbench").toString
    // one seed part; every synthetic live file is a byte copy of it, so
    // the files are REAL parquet (listable, scannable) at ~zero build
    // cost — the harness measures metadata, not data IO
    Seq((0L, 0.0, 0.0)).toDF("id", "ts", "v")
      .repartition(1).write.mode("overwrite").parquet(s"$root/_seed")
    val seed = new java.io.File(s"$root/_seed").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    val ddl = "id BIGINT,ts DOUBLE,v DOUBLE"
    val perCommit = math.max(1, nFiles / nCommits)
    val rowsPerFile = 1000L
    // every copy is byte-identical to the seed, so the __bytes
    // pseudo-stat (what real stage() records) is the seed's length —
    // with it, full-scan planning is served from the log
    // (GraftFileIndex), the same as a production table's
    val seedLen = java.nio.file.Files.size(seed).toDouble

    // ---- build: nCommits appends of perCommit files each, stats on
    // (__rows, id, ts, v); id ranges are disjoint per file (a clustered
    // table), so range reads have something to prune. Includes the
    // auto-cadence checkpoints commitLoop writes every 10 versions.
    val (_, buildMs) = timedMs {
      // sparse mode: only the files the range probe (below, centered on
      // file nFiles/2) will actually open get physical bytes
      val mid = (nFiles / 2).toLong
      (0 until nCommits).foreach { c =>
        val adds = (0 until perCommit).map(i => f"part-$c%05d-$i%06d.parquet")
        adds.zipWithIndex.foreach { case (a, i) =>
          val fileNo = c.toLong * perCommit + i
          if (!sparse || (fileNo >= mid - 1 && fileNo <= mid + 1))
            Files.copy(seed, Paths.get(root, a),
              StandardCopyOption.REPLACE_EXISTING)
        }
        val stats = adds.zipWithIndex.map { case (a, i) =>
          val fileNo = c.toLong * perCommit + i
          val base = fileNo * rowsPerFile
          a -> Map(
            TxLog.RowCountKey -> (rowsPerFile.toDouble, rowsPerFile.toDouble),
            TxLog.FileSizeKey -> (seedLen, seedLen),
            "id" -> (base.toDouble, (base + rowsPerFile - 1).toDouble),
            "ts" -> (fileNo.toDouble, fileNo + 1.0),
            "v" -> (0.0, 1.0))
        }.toMap
        TxLog.commitMetadataOnly(spark, root, adds, stats, ddl)
      }
    }

    // ---- checkpoint write of the FULL live set (one more commit so the
    // latest version has no checkpoint yet — same-version checkpointing
    // is an idempotent skip)
    TxLog.commitMetadataOnly(spark, root,
      Seq("part-extra-000000.parquet"),
      Map("part-extra-000000.parquet" -> Map(
        TxLog.RowCountKey -> (rowsPerFile.toDouble, rowsPerFile.toDouble),
        TxLog.FileSizeKey -> (seedLen, seedLen),
        "id" -> (-1.0, -1.0), "ts" -> (-1.0, -1.0), "v" -> (0.0, 1.0))),
      ddl)
    Files.copy(seed, Paths.get(root, "part-extra-000000.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val (_, ckptMs) = timedMs(TxLog.checkpoint(spark, root))

    // ---- cold resolve + PRUNED row-count stat read (one flat column of
    // the checkpoint parquet), vs the same warm
    TxLog.clearCheckpointCache()
    val heapBefore = usedMb()
    val (cnt, countColdMs) = timedMs(TxLog.countRows(spark, root))
    val heapAfter = usedMb()
    val (_, countWarmMs) = timedMs(TxLog.countRows(spark, root))
    require(cnt == (nCommits.toLong * perCommit + 1) * rowsPerFile,
      s"metadata count wrong: $cnt")

    // ---- second pruned column on the warm snapshot (first touch of
    // 'ts' pays its one pruned read; '__rows' is already memoized)
    val (_, minMaxMs) = timedMs(TxLog.minMaxFast(spark, root, "ts"))

    // ---- range-read planning + execution: stats prune ~all files
    // before any IO; the surviving handful are listed and scanned
    val lo = (nFiles / 2).toLong * rowsPerFile
    val (rangeRows, rangeMs) = timedMs(
      TxLog.readRange(spark, root, "id", lo.toDouble,
        (lo + rowsPerFile - 1).toDouble).count())

    // ---- full-snapshot plan: resolve + a 100k-path file index (what a
    // SELECT * pays before its first task)
    val (_, planMs) = timedMs(
      TxLog.readLatest(spark, root).queryExecution.executedPlan)

    // ---- a real append against the full table: with the distributed
    // tier active the driver does O(tail) work — scalars from the
    // checkpoint header, the live set never materialized (the append
    // delta doesn't read it). This is the streaming-ingest unit cost on
    // a 10 PB-class table. Cadence checkpointing is suspended for the
    // phase: whether the appended version lands on the interval depends
    // on nCommits, and folding a whole checkpoint into SOME runs'
    // append_sec would make the row incomparable across configs.
    spark.conf.set("spark.graft.checkpoint.interval", s"${Int.MaxValue}")
    val (_, appendMs) =
      try timedMs(
        TxLog.append(spark,
          Seq((-1L, -1.0, 0.0)).toDF("id", "ts", "v").repartition(1),
          root, statsCols = Seq("id", "ts", "v")))
      finally spark.conf.unset("spark.graft.checkpoint.interval")

    // ---- log maintenance. history = the full-Commit primitive (kept
    // for cross-round comparability); historySummary = what DESCRIBE
    // HISTORY actually runs — per-entry transient parse, O(entries)
    // retained
    val (hist, historyMs) = timedMs(TxLog.history(spark, root).size)
    val (_, histSumMs) = timedMs(TxLog.historySummary(spark, root).size)
    val (vac, vacuumDryMs) = timedMs(
      TxLog.vacuumLog(spark, root, keepCheckpoints = 1, dryRun = true).size)

    println(
      f"""{"metric":"logbench","files":${nFiles + 1},"commits":${hist},""" +
      f""""sparse":$sparse,""" +
      f""""rows_counted":$cnt,"range_rows":$rangeRows,"vacuumable":$vac,""" +
      f""""build_sec":${buildMs / 1e3}%.2f,"checkpoint_sec":${ckptMs / 1e3}%.2f,""" +
      f""""count_cold_sec":${countColdMs / 1e3}%.2f,"count_warm_sec":${countWarmMs / 1e3}%.3f,""" +
      f""""minmax_sec":${minMaxMs / 1e3}%.3f,"range_sec":${rangeMs / 1e3}%.2f,""" +
      f""""append_sec":${appendMs / 1e3}%.2f,""" +
      f""""plan_sec":${planMs / 1e3}%.2f,"history_sec":${historyMs / 1e3}%.2f,""" +
      f""""history_summary_sec":${histSumMs / 1e3}%.2f,""" +
      f""""vacuum_dry_sec":${vacuumDryMs / 1e3}%.2f,""" +
      f""""heap_mb_before":$heapBefore,"heap_mb_after":$heapAfter}""")
    spark.stop()
  }
}
