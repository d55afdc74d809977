package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Point-set file skipping never wrongly says "no": every equality/IN
  * probe — through `readEquals`, the DSv2 `===`/`isin` pushdown and the
  * merge probe, on the driver and the distributed tier — returns exactly
  * the rows of `readLatest.filter(isin)` and opens every file holding
  * one of them. One table carries every hazard (file layout below); the
  * cases are (column, probe values) rows against it.
  */
class TxLogPointSkipSpec extends SparkSpec {

  import spark.implicits._

  private val Big = 9007199254740993L // 2^53 + 1: rounds to 2^53 as a double

  private def dec(s: String) = new java.math.BigDecimal(s)

  /** Six single-file commits over (l BIGINT, d DOUBLE, f FLOAT,
    * dec DECIMAL(15,2), key0 BIGINT, tag STRING):
    *  - F1 holds 2^53+1 and a -0.0;
    *  - F2 holds 0.0f, and carries a STRING stat column: that sends its
    *    stats through the scan path, whose min keeps the zero's sign
    *    (parquet footers widen a zero bound to [-0.0, 0.0]);
    *  - F3 holds a NaN; F4 has no stats at all;
    *  - F5 loses a row to a deletion vector (in the commit tail);
    *  - `key0` is renamed to `rk` before F6, so its stats stay keyed by
    *    the frozen physical name.
    * Bloom indexes on `l` and `f`, checkpointed so the distributed tier
    * prunes checkpoint rows.
    */
  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-pointskip").toString + "/t"
    val stats = Seq("l", "d", "f", "dec", "key0")
    def add(rows: Seq[(Long, Double, Float, String, Long, String)],
            statsCols: Seq[String], key: String = "key0"): Unit =
      TxLog.append(spark, rows.toDF("l", "d", "f", "decs", key, "tag")
        .withColumn("dec", col("decs").cast("decimal(15,2)"))
        .select("l", "d", "f", "dec", key, "tag").repartition(1),
        r, statsCols = statsCols)
    add(Seq((Big, -0.0, 2.5f, "12.34", 100L, "a"),
      (Big + 2, 3.0, 4.5f, "20.00", 101L, "a")), stats)
    add(Seq((5L, 7.0, 0.0f, "30.00", 200L, "b"),
      (6L, 8.0, 1.5f, "40.00", 201L, "b")), stats :+ "tag")
    add(Seq((10L, Double.NaN, 6.5f, "50.00", 300L, "c"),
      (11L, 9.0, 7.5f, "60.00", 301L, "c")), stats)
    add(Seq((20L, 10.0, 8.5f, "70.00", 400L, "d"),
      (Big + 1, 11.0, 9.5f, "12.35", 401L, "d")), Nil)
    add(Seq((30L, 12.0, 10.5f, "80.00", 500L, "e"),
      (31L, 13.0, 11.5f, "90.00", 501L, "e")), stats)
    TxLog.renameColumn(spark, r, "key0", "rk")
    add(Seq((40L, 14.0, 12.5f, "95.00", 600L, "f"),
      (41L, 15.0, 13.5f, "96.00", 601L, "f")),
      Seq("l", "d", "f", "dec", "rk"), key = "rk")
    TxLog.buildBloomIndex(spark, r, "l", expectedKeysPerFile = 100L)
    TxLog.buildBloomIndex(spark, r, "f", expectedKeysPerFile = 100L)
    TxLog.checkpoint(spark, r)
    TxLog.deleteVectored(spark, r, col("l") === 31L)
    r
  }

  private def physical(c: String) = if (c == "rk") "key0" else c

  private def rowsOf(df: DataFrame): Seq[String] =
    df.select("l", "d", "f", "dec", "rk", "tag").collect()
      .map(_.toString).toSeq.sorted

  private def names(paths: Seq[String]): Set[String] =
    paths.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet

  /** Files that hold a probed value, DV'd rows included (the stats and
    * blooms describe every row a file was written with).
    */
  private def holders(c: String, values: Seq[Any]): Set[String] = {
    val live = TxLog.liveSizes(spark, root).map(f => s"$root/${f._1}")
    names(spark.read.schema("l BIGINT, d DOUBLE, f FLOAT, " +
        "dec DECIMAL(15,2), key0 BIGINT, tag STRING").parquet(live: _*)
      .filter(col(physical(c)).isin(values: _*))
      .select(input_file_name()).as[String].collect().toSeq)
  }

  /** `body` on the driver tier, then on the distributed tier. */
  private def tiers(body: => Unit): Unit = {
    body
    spark.conf.set("spark.graft.meta.distributedThreshold", "0")
    try body
    finally spark.conf.unset("spark.graft.meta.distributedThreshold")
  }

  private def checkReads(c: String, values: Seq[Any]): Unit = {
    val want = rowsOf(TxLog.readLatest(spark, root)
      .filter(col(c).isin(values: _*)))
    val held = holders(c, values)
    val table = spark.read.format("graft").load(root)
    tiers {
      val lookup = TxLog.readEquals(spark, root, c, values)
      rowsOf(lookup) shouldBe want
      withClue(s"$c IN $values: ") {
        (held -- names(lookup.inputFiles.toSeq)) shouldBe empty
      }
      // a one-value IN reaches the source as EqualTo, a longer one as In
      rowsOf(table.filter(col(c).isin(values: _*))) shouldBe want
    }
  }

  /** Upsert the matching rows back under `key` (the probe's own value
    * when it is a number, so a -0.0 key meets a stored 0.0): a probe
    * that wrongly skipped a file would leave the old row beside the new.
    */
  private def checkMerge(c: String, values: Seq[Any], tag: String): Unit = {
    val before = TxLog.readLatest(spark, root)
    val hits = before.filter(col(c).isin(values: _*)).collect()
    if (hits.nonEmpty) {
      val n = before.count()
      val updates0 = spark.createDataFrame(
        spark.sparkContext.parallelize(hits.toSeq, 1), before.schema)
        .withColumn("tag", lit(tag))
      val updates = values match {
        case Seq(v: Number) =>
          updates0.withColumn(c, lit(v).cast(before.schema(c).dataType))
        case _ => updates0
      }
      TxLog.merge(spark, updates, root, Seq(c), Nil,
        statsCols = Seq("l", "d", "f", "dec", "rk"))
      val after = TxLog.readLatest(spark, root)
      after.count() shouldBe n
      after.filter(col("tag") === tag).count() shouldBe hits.length.toLong
    }
  }

  /** (name, column, probe values, merge too). The String and Int
    * probes of 5 skip the merge: their upserts carry the table's own
    * Long key 5, the merge the 2^53+1 case already runs.
    */
  private val cases: Seq[(String, String, Seq[Any], Boolean)] = Seq(
    ("a Long key of 2^53+1", "l", Seq(Big), true),
    ("0.0 against a stored -0.0", "d", Seq(0.0), true),
    ("-0.0 against a stored 0.0 (scan-path stats)", "f", Seq(-0.0), true),
    ("a NaN probe meets a NaN row", "d", Seq(Double.NaN), true),
    ("a file without stats", "l", Seq(20L), true),
    ("a String \"5\" probe on a Long column", "l", Seq("5"), false),
    ("an Int probe on a Long column", "l", Seq(5), false),
    ("Double probes on a Float column", "f", Seq(1.5, 7.5), true),
    ("decimal(15,2)", "dec", Seq(dec("12.34")), true),
    ("a renamed column", "rk", Seq(600L, 100L), true),
    ("a DV-carrying file", "l", Seq(30L, 31L), true))

  cases.zipWithIndex.foreach { case ((name, c, values, merge), i) =>
    test(s"point skipping keeps every match: $name") {
      checkReads(c, values)
      if (merge) checkMerge(c, values, s"m$i")
    }
  }

  test("a merge past broadcastKeyLimit prunes by the key hull") {
    spark.conf.set("spark.graft.merge.broadcastKeyLimit", "1")
    try checkMerge("l", Seq(6L, 40L, Big + 1), "hull")
    finally spark.conf.unset("spark.graft.merge.broadcastKeyLimit")
    checkReads("l", Seq(6L, 40L, Big + 1))
  }
}
