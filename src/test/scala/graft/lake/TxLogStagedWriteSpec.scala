package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The write half of the commit protocol, one row per data-writing
  * operation: every one stages its batch, checks the table's CHECK
  * constraints (DELETE and compact excepted), fires
  * [[TxLog.postEnforceHook]] and computes its stats through one helper.
  * Each row is run three ways on a table with a constraint and a renamed
  * column:
  *
  *  - a batch violating the constraint throws, commits nothing and
  *    leaves no staged file behind;
  *  - a throwing hook does the same, and the prior rows stay intact;
  *  - a valid batch commits stats keyed by the physical column name,
  *    with a byte size for every added file.
  */
class TxLogStagedWriteSpec extends SparkSpec {

  import spark.implicits._

  private final class HookRefusal extends RuntimeException("hook refused")

  /** id, n (renamed to m after the set-up), v (CHECK v >= 0), p. */
  private val baseRows = Seq(
    (1L, 10L, 1.0, "a"), (2L, 20L, 2.0, "b"), (3L, 30L, 3.0, "a"),
    (4L, 40L, 4.0, "b"), (5L, 50L, 5.0, "a"), (6L, 60L, 6.0, "b"))

  /** Two commits (so every partition directory holds two small files,
    * compact's input), stats on `n`, then `n` renamed to `m` and a
    * constraint on `v`.
    */
  private def seeded(): String = {
    val root = Files.createTempDirectory("graft-stagedwrite").toString
    val (first, second) = baseRows.splitAt(3)
    Seq(first, second).foreach(rows => TxLog.append(spark,
      rows.toDF("id", "n", "v", "p"), root, Seq("p"), Seq("n")))
    TxLog.renameColumn(spark, root, "n", "m")
    TxLog.addConstraint(spark, root, "v_nonneg", "v >= 0")
    root
  }

  private val statsCols = Seq("m")

  private def batch(v: Double, ids: Long*): DataFrame =
    ids.map(i => (i, i * 10, v, if (i % 2 == 1) "a" else "b"))
      .toDF("id", "m", "v", "p")

  private def withConf[A](key: String, value: String)(body: => A): A = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  /** A staged writer: `validates` when it checks CHECK constraints;
    * `run(root, v)` writes rows whose `v` is `v` (or sets `v` to it).
    */
  private final case class Op(name: String, validates: Boolean,
                              run: (String, Double) => Long)

  private val ops: Seq[Op] = Seq(
    Op("append", true, (root, v) =>
      TxLog.append(spark, batch(v, 7L), root, Seq("p"), statsCols)),
    Op("appendIdempotent", true, (root, v) =>
      TxLog.appendIdempotent(spark, batch(v, 7L), root, "app", 1L,
        Seq("p"), statsCols).get),
    Op("appendChecked", true, (root, v) =>
      TxLog.appendChecked(spark, batch(v, 7L), root,
        Seq(Expect.Expectation("id_pos", col("id") > 0)), Seq("p"),
        statsCols)),
    Op("overwrite", true, (root, v) =>
      TxLog.overwrite(spark, batch(v, 7L, 8L), root, Seq("p"), statsCols)),
    Op("upsertPartitions", true, (root, v) =>
      TxLog.upsertPartitions(spark, batch(v, 7L), root, Seq("p"),
        statsCols)),
    Op("replacePartitions", true, (root, v) =>
      TxLog.replacePartitions(spark, batch(v, 7L), root, Map("p" -> "a"),
        statsCols)),
    Op("replaceWhere", true, (root, v) =>
      TxLog.replaceWhere(spark, batch(v, 7L), root, col("p") === "a",
        statsCols)),
    Op("merge (rewrite)", true, (root, v) =>
      TxLog.merge(spark, batch(v, 1L, 7L), root, Seq("id"), Seq("p"),
        statsCols)),
    Op("merge (vector)", true, (root, v) =>
      withConf("spark.graft.merge.mode", "vector")(TxLog.merge(spark,
        batch(v, 1L, 7L), root, Seq("id"), Seq("p"), statsCols))),
    Op("applyCdc", true, (root, v) =>
      TxLog.applyCdc(spark,
        batch(v, 7L).withColumn("_change_type", lit("insert"))
          .unionByName(batch(2.0, 2L).withColumn("_change_type",
            lit("delete"))),
        root, Seq("id"), Seq("p"), statsCols)),
    Op("update (rewrite)", true, (root, v) =>
      TxLog.update(spark, root, col("id") === 1L, Map("v" -> lit(v)),
        statsCols)),
    Op("update (vector)", true, (root, v) =>
      TxLog.updateVectored(spark, root, col("id") === 1L,
        Map("v" -> lit(v)), statsCols)),
    // id 1 shares its file with id 3: the survivor is rewritten (staged)
    Op("delete (straddling file)", false, (root, _) =>
      TxLog.delete(spark, root, col("id") === 1L, statsCols)),
    Op("compact", false, (root, _) => TxLog.compact(spark, root))
  )

  /** The op threw `E`, committed nothing, left no orphan, and the table
    * still holds exactly the set-up rows.
    */
  private def refusedCleanly[E <: Throwable](root: String)(body: => Long)(
      implicit ct: scala.reflect.ClassTag[E]): E = {
    val before = TxLog.latestVersion(spark, root)
    val err = intercept[E](body)
    TxLog.latestVersion(spark, root) shouldBe before
    TxLog.cleanOrphans(spark, root, olderThanMs = 0L) shouldBe empty
    TxLog.readLatest(spark, root).select("id", "m", "v", "p")
      .as[(Long, Long, Double, String)].collect().sortBy(_._1)
      .toSeq shouldBe baseRows
    err
  }

  ops.filter(_.validates).foreach { op =>
    test(s"${op.name}: a CHECK violation commits nothing and leaves no staged file") {
      val root = seeded()
      refusedCleanly[IllegalStateException](root)(op.run(root, -1.0))
        .getMessage should include("violates constraint")
    }
  }

  ops.foreach { op =>
    test(s"${op.name}: a failure after validation deletes the staged batch") {
      val root = seeded()
      TxLog.postEnforceHook = () => throw new HookRefusal
      try refusedCleanly[HookRefusal](root)(op.run(root, 9.0))
      finally TxLog.postEnforceHook = () => ()
    }
  }

  ops.foreach { op =>
    test(s"${op.name}: stats are keyed by the physical name and carry file sizes") {
      val root = seeded()
      op.run(root, 9.0)
      val last = TxLog.history(spark, root).last
      // overwrite stages under logical names and clears the mapping
      val phys = if (op.name == "overwrite") "m" else "n"
      last.add should not be empty
      last.add.foreach { f =>
        val keys = last.stats(f).keySet
        keys should contain(phys)
        keys should contain(TxLog.FileSizeKey)
        keys should not contain (if (phys == "m") "n" else "m")
      }
    }
  }
}
