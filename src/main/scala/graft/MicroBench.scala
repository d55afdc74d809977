package graft
/** Ad-hoc repeat-timing harness for bisecting bench regressions: runs the
  * named queries N times back-to-back each (r3's adjacent-sample shape) and
  * prints every sample, so steady-state plan cost is separable from
  * whole-pass JVM churn (JIT/code-cache/GC) that a two-full-pass bench
  * folds into its second sample.
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "4").toInt
    val spark = SessionTuning.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.enableHotCache()
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    Tables.names.foreach { n =>
      try Tables.t(spark, sfDir, n).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    args.foreach { name =>
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        TransientCaches.drain()
        dt
      }
      println(f"$name: ${ts.map(t => f"$t%.3f").mkString(" ")}")
    }
    spark.stop()
  }
}
