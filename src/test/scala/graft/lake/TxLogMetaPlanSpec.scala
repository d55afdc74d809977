package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Metadata-only scan planning: snapshots whose live files all carry
  * stage-recorded byte sizes ([[TxLog.FileSizeKey]]) build their file
  * index from the COMMIT LOG ([[GraftFileIndex]]) — zero filesystem
  * calls at plan time — partitioned layouts included (values parsed
  * from the live paths, static partition filters pruned EXACTLY in the
  * index), while pre-feature logs fall back to the listed scan.
  * Content must match a plain parquet read of the live files.
  */
class TxLogMetaPlanSpec extends SparkSpec {

  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-metaplan").toString

  private def indexOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f.relation.location
    }

  /** Reference read: a plain listed parquet scan of the latest live
    * files, in the table's column order.
    */
  private def listed(root: String, cols: Seq[String]) =
    spark.read.option("basePath", root)
      .parquet(TxLog.liveSizes(spark, root).map(f => s"$root/${f._1}"): _*)
      .select(cols.map(col): _*)

  test("unpartitioned snapshots plan from the log; content matches the listed scan") {
    val root = tmpRoot()
    (0 until 3).foreach { i =>
      TxLog.append(spark,
        (0 until 5).map(j => (i * 5L + j, s"v$i-$j")).toDF("id", "s")
          .repartition(1), root)
    } // note: NO statsCols — sizes ride every commit regardless
    val df = TxLog.readLatest(spark, root)
    indexOf(df).get shouldBe a[GraftFileIndex]
    df.orderBy("id").collect() shouldBe
      listed(root, df.columns).orderBy("id").collect()
    // parquet pushdown is unchanged: the filter reaches the scan
    val plan = df.filter(col("id") === 7L).queryExecution
      .executedPlan.toString
    plan should include("EqualTo(id,7)") // pushed to the parquet scan
  }

  test("partitioned snapshots plan from the log with EXACT partition pruning") {
    val root = tmpRoot()
    TxLog.append(spark,
      (1L to 10L).map(k => (k, s"s$k", s"p${k % 2}")).toDF("id", "s", "part")
        .repartition(2), root, partitionCols = Seq("part"))
    val df = TxLog.readLatest(spark, root)
    indexOf(df).get shouldBe a[GraftFileIndex]
    df.columns.toSeq shouldBe Seq("id", "s", "part") // table order restored
    df.orderBy("id").collect() shouldBe
      listed(root, df.columns).orderBy("id").collect()
    // partition pruning is enforced BY the index (partition filters are
    // never re-applied above the scan, so pruning must be exact): the
    // filtered scan reads only p1's files, and only p1's rows arrive
    val p1 = df.filter(col("part") === "p1")
    p1.select("id").as[Long].collect().sorted shouldBe
      Seq(1L, 3L, 5L, 7L, 9L)
    val scan = p1.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.get
    scan.toString should include("PartitionFilters")
    val allFiles = scan.relation.location.inputFiles.length
    p1.count() shouldBe 5L
    scan.metrics("numFiles").value should be < allFiles.toLong
  }

  test("partition values round-trip escaping and the null partition") {
    val root = tmpRoot()
    TxLog.append(spark,
      Seq((1L, "north america"), (2L, "emea"), (3L, null))
        .toDF("id", "region").repartition(1),
      root, partitionCols = Seq("region"))
    val df = TxLog.readLatest(spark, root)
    indexOf(df).get shouldBe a[GraftFileIndex]
    // escaped dir names ('region=north%20america') decode back
    df.filter(col("region") === "north america").select("id")
      .as[Long].collect().toSeq shouldBe Seq(1L)
    // __HIVE_DEFAULT_PARTITION__ reads as null, like any hive layout
    df.filter(col("region").isNull).select("id")
      .as[Long].collect().toSeq shouldBe Seq(3L)
    df.orderBy("id").collect() shouldBe
      listed(root, df.columns).orderBy("id").collect()
  }

  test("a log without recorded sizes falls back to the listed scan") {
    val root = tmpRoot()
    // a synthetic (pre-feature-shaped) commit: real file, no __bytes
    Seq((1L, "x")).toDF("id", "s").repartition(1)
      .write.mode("overwrite").parquet(s"$root/_seed")
    val part = new java.io.File(s"$root/_seed").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(root, "old-file.parquet"))
    TxLog.commitMetadataOnly(spark, root, Seq("old-file.parquet"),
      Map.empty, "id BIGINT,s STRING")
    val df = TxLog.readLatest(spark, root)
    indexOf(df).get should not be a[GraftFileIndex]
    df.count() shouldBe 1L
    // a later normal append still cannot plan from metadata (one live
    // file has no size) — conservative, never wrong
    TxLog.append(spark, Seq((2L, "y")).toDF("id", "s"), root)
    indexOf(TxLog.readLatest(spark, root)).get should not be a[GraftFileIndex]
    TxLog.readLatest(spark, root).count() shouldBe 2L
  }

  test("DML, deletion vectors, and time travel ride the metadata-planned scan") {
    val root = tmpRoot()
    TxLog.append(spark,
      (1L to 10L).map(k => (k, k * 1.0)).toDF("id", "x").repartition(2),
      root, statsCols = Seq("id"))
    TxLog.deleteVectored(spark, root, col("id") <= 3L)
    val df = TxLog.readLatest(spark, root)
    // the DV join sits under AQE, which hides the scan from a plan
    // collect until execution — assert through the plan text instead
    df.queryExecution.executedPlan.toString should include("GraftFileIndex")
    df.select("id").as[Long].collect().sorted shouldBe (4L to 10L)
    // rewrite DML: the rewritten files carry fresh sizes
    TxLog.update(spark, root, col("id") === 10L, Map("x" -> lit(99.0)))
    val df2 = TxLog.readLatest(spark, root)
    df2.queryExecution.executedPlan.toString should include("GraftFileIndex")
    df2.filter(col("id") === 10L).select("x").head().getDouble(0) shouldBe 99.0
    // time travel: the v0 snapshot's sizes came from the same stats fold
    val v0 = TxLog.readAt(spark, root, 0L)
    indexOf(v0).get shouldBe a[GraftFileIndex]
    v0.count() shouldBe 10L
  }
}
