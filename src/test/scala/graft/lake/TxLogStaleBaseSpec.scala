package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

/** The write-skew rule of every read-modify-write operation: its commit
  * is based on the version it read, and a commit landing in between
  * fails it with `ConcurrentModificationException` instead of clobbering
  * the winner. Each case commits an append from [[TxLog.commitListPause]]
  * — after the loser's raw-tail listing, before its meta resolve, the
  * window the fence reads through `tailVersion`'s max — and checks the
  * loser threw, the winner's rows are intact, and no deletion-vector
  * sidecar is left unreferenced.
  */
class TxLogStaleBaseSpec extends SparkSpec {

  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-stalebase").toString

  private val baseRows = Seq(
    (1L, "a", 10.0, 1), (2L, "b", 20.0, 2), (3L, "c", 30.0, 3),
    (4L, "d", 40.0, 4), (5L, "e", 50.0, 5), (6L, "f", 60.0, 6))
  private val winnerRow = (100L, "w", 1.0, 100)

  private def rowsDf(rows: Seq[(Long, String, Double, Int)]) =
    rows.toDF("id", "s", "v", "k")

  private def withConf[A](key: String, value: String)(body: => A): A = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  private val ops: Seq[(String, String => Long)] = Seq(
    "replaceWhere" -> (root => TxLog.replaceWhere(spark,
      rowsDf(Seq((1L, "r", 11.0, 1))), root, col("id") === 1L)),
    "addConstraint" -> (root =>
      TxLog.addConstraint(spark, root, "v_nonneg", "v >= 0")),
    "analyzeStats" -> (root => TxLog.analyzeStats(spark, root, Seq("id"))),
    "addColumns" -> (root =>
      TxLog.addColumns(spark, root, Seq("extra" -> "STRING"))),
    "dropColumns" -> (root => TxLog.dropColumns(spark, root, Seq("s"))),
    "renameColumn" -> (root => TxLog.renameColumn(spark, root, "s", "s2")),
    "alterColumnType" -> (root =>
      TxLog.alterColumnType(spark, root, "k", "BIGINT")),
    "merge (rewrite)" -> (root => TxLog.merge(spark,
      rowsDf(Seq((2L, "B", 21.0, 2), (7L, "g", 70.0, 7))), root,
      Seq("id"), Seq.empty)),
    "merge (vector)" -> (root =>
      withConf("spark.graft.merge.mode", "vector")(TxLog.merge(spark,
        rowsDf(Seq((2L, "B", 21.0, 2), (7L, "g", 70.0, 7))), root,
        Seq("id"), Seq.empty))),
    "applyCdc delete-only (vector)" -> (root =>
      withConf("spark.graft.merge.mode", "vector")(TxLog.applyCdc(spark,
        Seq((3L, "c", 30.0, 3, "delete"))
          .toDF("id", "s", "v", "k", "_change_type"), root, Seq("id")))),
    "delete (rewrite)" -> (root => TxLog.delete(spark, root, col("id") <= 2L)),
    "delete (vector)" -> (root =>
      TxLog.deleteVectored(spark, root, col("id") <= 2L)),
    "deleteVectoredIds" -> (root => TxLog.deleteVectoredIds(spark, root,
      Seq(4L, 5L).toDF("id"), "id")),
    "update (rewrite)" -> (root => TxLog.update(spark, root,
      col("id") >= 5L, Map("v" -> lit(0.0)))),
    "update (vector)" -> (root => TxLog.updateVectored(spark, root,
      col("id") >= 5L, Map("v" -> lit(0.0))))
  )

  ops.foreach { case (name, op) =>
    test(s"stale base: $name conflicts with a commit landing mid-attempt") {
      val root = tmpRoot()
      TxLog.append(spark, rowsDf(baseRows).repartition(2), root)
      val before = TxLog.readLatest(spark, root).columns.toSeq
      val fired = new AtomicBoolean(false)
      TxLog.commitListPause = r =>
        if (r == root && fired.compareAndSet(false, true))
          TxLog.append(spark, rowsDf(Seq(winnerRow)), root)
      val err =
        try intercept[java.util.ConcurrentModificationException](op(root))
        finally TxLog.commitListPause = _ => ()
      fired.get() shouldBe true
      err.getMessage should include("re-run the")
      // the loser changed nothing; the winner's row is there
      val latest = TxLog.readLatest(spark, root)
      latest.columns.toSeq shouldBe before
      latest.orderBy("id").as[(Long, String, Double, Int)].collect()
        .toSeq shouldBe baseRows :+ winnerRow
      // a failed vector attempt reaped its sidecar: on disk holds only
      // sidecars some commit references
      val referenced = TxLog.history(spark, root)
        .flatMap(_.dv.valuesIterator.map(_._1)).toSet
      val onDisk = Option(new java.io.File(s"$root/_txlog/dv").listFiles())
        .getOrElse(Array.empty).map(f => s"_txlog/dv/${f.getName}").toSet
      onDisk shouldBe referenced
    }
  }

  test("one DML-mode parser: an unknown delete/update/merge mode fails loudly") {
    val root = tmpRoot()
    TxLog.append(spark, rowsDf(baseRows), root)
    def modeErr(key: String)(body: => Long): String =
      withConf(key, "vectr")(intercept[IllegalArgumentException](body))
        .getMessage
    modeErr("spark.graft.delete.mode")(
      TxLog.sqlDelete(spark, root, col("id") === 1L, Seq.empty)) shouldBe
      "unknown spark.graft.delete.mode 'vectr' (rewrite|vector)"
    modeErr("spark.graft.update.mode")(TxLog.sqlUpdate(spark, root,
      col("id") === 1L, Map("v" -> lit(0.0)), Seq.empty)) shouldBe
      "unknown spark.graft.update.mode 'vectr' (rewrite|vector)"
    modeErr("spark.graft.merge.mode")(TxLog.merge(spark,
      rowsDf(Seq((1L, "A", 1.0, 1))), root, Seq("id"), Seq.empty)) shouldBe
      "unknown spark.graft.merge.mode 'vectr' (rewrite|vector)"
    TxLog.readLatest(spark, root).count() shouldBe 6L
    // the vector modes route to the deletion-vector paths
    withConf("spark.graft.delete.mode", "vector")(
      TxLog.sqlDelete(spark, root, col("id") === 1L, Seq.empty))
    TxLog.history(spark, root).last.operation shouldBe "delete_dv"
    withConf("spark.graft.update.mode", "vector")(TxLog.sqlUpdate(spark,
      root, col("id") === 2L, Map("v" -> lit(0.0)), Seq.empty))
    TxLog.history(spark, root).last.operation shouldBe "update_dv"
    TxLog.sqlDelete(spark, root, col("id") === 3L, Seq.empty)
    TxLog.history(spark, root).last.operation shouldBe "delete"
  }
}
