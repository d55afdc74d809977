package graft

import org.apache.spark.sql.SparkSession

/** Session-level engine tuning shared by every harness main (Bench,
  * Verify, MicroBench, the ladders). Both settings are measured fixes
  * for fixed per-task overheads that dominate small-payload stages —
  * neither is a scale-dependent tune (see each rationale), and both are
  * plain builder defaults a deployment can still override.
  *
  * Measured on this box (round 14, stack-sampling executor task threads
  * during the q124/q122 lifecycle loops, then A/B at sf0.1/local[32]):
  *
  *  - `spark.sql.codegen.cache.maxEntries = 10000` (Spark default 100).
  *    A 125-query process generates far more than 100 distinct codegen
  *    fragments, so the Janino cache thrashed: 29% of BUSY executor
  *    samples were CodeGenerator.compile re-runs of evicted fragments
  *    (~60-100 ms of CPU per task re-paying compilation). Raising the
  *    cache is scale-free — it also LOWERS total class churn, because a
  *    thrashing cache recompiles (and loads) the same classes over and
  *    over. A/B: q124 7.1 -> 5.2 s, its executor run time 46 -> 21 s.
  *
  *  - `spark.shuffle.sort.bypassMergeThreshold = 1` (Spark default 200).
  *    Below the threshold the bypass writer creates R partition FILES
  *    per map task and then concatenates them: a 32x32 shuffle of a few
  *    KB paid ~1,000 file creates + mmap/unmap churn per exchange
  *    (33% of busy executor samples in BypassMergeSortShuffleWriter +
  *    the JDK Cleaner). With the threshold at 1, SQL shuffles use the
  *    serialized-sort writer: ONE data file + one index per map task at
  *    any reducer count. Production shuffles (AQE-coalesced, hundreds
  *    to thousands of partitions) never met the bypass threshold in the
  *    first place, so this only changes the small-partition regime —
  *    exactly where the per-file fixed costs dominate. A/B: q122
  *    1.9 -> 1.45 s (executor run 13.7 -> 2.2 s), q124 5.2 -> 4.6 s.
  */
object SessionTuning {
  /** `b` with both tuned settings. */
  def apply(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.codegen.cache.maxEntries", "10000")
    .config("spark.shuffle.sort.bypassMergeThreshold", "1")

  /** The tuned builder every harness main and the test session start
    * from: `local[cpus]` with one shuffle partition per core, the UTC
    * session zone the fixtures' epoch conversions assume, and no UI.
    */
  def local(cpus: String): SparkSession.Builder = apply(SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false"))
}
