package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Data-quality expectations: single-pass drop + count, and the gated
  * ACID append (commit withheld on violation).
  */
class ExpectSpec extends SparkSpec {

  import spark.implicits._

  test("dropInvalid filters violating rows, counting per-expectation drops in the same pass") {
    val df = Seq((1L, "en"), (2L, null), (-3L, "de"))
      .toDF("id", "lang")
    val (out, obs) = Expect.dropInvalid(df, Seq(
      Expect.Expectation("id_pos", col("id") > 0),
      Expect.Expectation("lang_known", col("lang").isin("en", "de"))))
    // no orderBy: a global sort's range-partitioner sampling would
    // evaluate the observed child twice and double the counters
    out.as[(Long, String)].collect().toSet shouldBe Set((1L, "en"))
    // the null-lang row counts as a lang violation: an expectation that
    // cannot be evaluated did not hold
    Expect.violations(obs) shouldBe Map("id_pos" -> 1L, "lang_known" -> 1L)
  }

  test("a clean frame drops nothing and reports no violations") {
    val df = Seq((1L, "en"), (2L, "de")).toDF("id", "lang")
    val (out, obs) = Expect.dropInvalid(df, Seq(
      Expect.Expectation("id_pos", col("id") > 0)))
    out.count() shouldBe 2L
    Expect.violations(obs) shouldBe empty
  }

  test("expectation names must be unique and non-empty sets are required") {
    val df = Seq((1L, "en")).toDF("id", "lang")
    intercept[IllegalArgumentException] {
      Expect.dropInvalid(df, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Expect.dropInvalid(df, Seq(
        Expect.Expectation("x", col("id") > 0),
        Expect.Expectation("x", col("id") < 9)))
    }
  }

  test("appendChecked commits a clean batch; a violated batch never becomes visible") {
    val root = java.nio.file.Files.createTempDirectory("graft-expect").toString
    val exps = Seq(
      Expect.Expectation("id_positive", col("id") > 0),
      Expect.Expectation("s_nonnull", col("s").isNotNull))
    TxLog.appendChecked(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root, exps) shouldBe 0L

    val ex = intercept[Expect.ExpectationViolation] {
      TxLog.appendChecked(spark,
        Seq((-1L, "c"), (3L, null), (-4L, null)).toDF("id", "s"), root, exps)
    }
    ex.counts shouldBe Map("id_positive" -> 2L, "s_nonnull" -> 2L)
    // commit withheld: table state is exactly the clean batch
    TxLog.latestVersion(spark, root) shouldBe Some(0L)
    TxLog.readLatest(spark, root).count() shouldBe 2L
    // the rejected batch's staged files are deleted before the throw
    TxLog.cleanOrphans(spark, root, olderThanMs = 0L) shouldBe empty
    TxLog.readLatest(spark, root).count() shouldBe 2L
  }
}
