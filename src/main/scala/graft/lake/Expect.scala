package graft.lake

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit, sum, when}

/** Data-quality expectations over lake writes — the engine-native shape of
  * Delta CHECK constraints / DLT expectations, re-derived for this
  * engine's promote pipeline (the reference trusts its sources blindly;
  * a 100 TB training-data lake cannot).
  *
  * Two enforcement modes, both single-pass:
  *
  *  - [[dropInvalid]]: filter rows violating any expectation, counting
  *    per-expectation violations via `observe` in the SAME job that
  *    consumes the result — no second scan over the batch.
  *  - [[TxLog.appendChecked]]: gate an ACID append — violations are
  *    counted inside the staged write itself and the COMMIT IS WITHHELD
  *    if any expectation fails. Nothing becomes visible (the staged files
  *    are deleted before the throw), which is exactly the constraint
  *    semantics of a log-format table: a violated batch costs one staged
  *    write, never a corrupt table.
  *
  * Scale: an expectation is one conditional sum folded into the write
  * job's aggregation buffer — zero shuffles, zero extra scans, per-row
  * cost of a codegen'd predicate.
  *
  * Counter caveat: read counts after an action that evaluates the source
  * ONCE (a write, a hash-shuffle, a plain collect). A global sort between
  * `observe` and the action samples the child for its range partitioner —
  * a second evaluation that inflates the counters (Spark's observe
  * semantics, not specific to this wrapper). The gated-write path is
  * immune: staging writes through a hash repartition at most.
  */
object Expect {

  /** A named row predicate that must hold. */
  final case class Expectation(name: String, predicate: Column)

  /** Thrown by gated writes when a batch violates an expectation; carries
    * the per-expectation violation counts.
    */
  final class ExpectationViolation(val counts: Map[String, Long])
      extends RuntimeException(
        "expectation(s) violated: " +
          counts.map { case (n, c) => s"$n ($c rows)" }.mkString(", "))

  /** One violation-count aggregate per expectation, plus the total row
    * count under `_expect_total` — attach with `df.observe(obs, ...)`.
    * `when(p, 0).otherwise(1)` (not `when(!p, 1)`) so a NULL predicate
    * result lands in the otherwise branch and counts as a violation.
    */
  private[lake] def metricExprs(expectations: Seq[Expectation]): Seq[Column] =
    expectations.map(e =>
      sum(when(e.predicate, 0L).otherwise(1L)).as(e.name)) :+
      count(lit(1)).as("_expect_total")

  /** Attach violation counters to `df`; read them AFTER an action with
    * [[violations]]. The same Observation cannot be reused across
    * DataFrames (Spark enforces single registration).
    */
  def observed(df: DataFrame,
               expectations: Seq[Expectation]): (DataFrame, Observation) = {
    require(expectations.nonEmpty, "need at least one expectation")
    require(expectations.map(_.name).distinct.size == expectations.size,
      "expectation names must be unique")
    val obs = Observation()
    val exprs = metricExprs(expectations)
    (df.observe(obs, exprs.head, exprs.tail: _*), obs)
  }

  /** Per-expectation violation counts (only those > 0), available once an
    * action ran over the observed DataFrame.
    */
  def violations(obs: Observation): Map[String, Long] =
    obs.get.collect {
      case (name, n: Long) if name != "_expect_total" && n > 0 => name -> n
    }.toMap

  /** Keep only rows satisfying EVERY expectation, counting what each one
    * dropped in the same pass (read the counts from the returned
    * Observation after an action). Null predicate results count as
    * violations — an expectation that cannot be evaluated did not hold.
    */
  def dropInvalid(df: DataFrame,
                  expectations: Seq[Expectation]): (DataFrame, Observation) = {
    val (obsDf, obs) = observed(df, expectations)
    val keep = expectations
      .map(e => when(e.predicate, true).otherwise(false))
      .reduce(_ && _)
    (obsDf.filter(keep), obs)
  }
}
