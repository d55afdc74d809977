package lakebench

/** The per-layer metrics of the traced run, computed from its spans, the
  * Spark meter and the facts each workload reads off its tables. Every
  * workload reports every name; a layer a workload never calls reads 0.
  *
  * Normalisation: `*.busy_s` and `*.self_s` are seconds per call of that
  * span; Spark and filesystem counts under a layer are per call of it;
  * `spark.*`, `fs.*` and `commitstore.*` counts are per batch (one write
  * and its reads); `commitstore.*.busy_s` are seconds per store call.
  */
object Layers {

  val Names: Seq[(String, String)] = Seq(
    "promote.busy_s" -> "s", "promote.self_s" -> "s",
    "promote.jobs" -> "count", "promote.tasks" -> "count",
    "promote.files_written" -> "count", "promote.bytes_written" -> "bytes",
    "ingest.busy_s" -> "s", "truncate.busy_s" -> "s",
    "catalog.query.busy_s" -> "s", "catalog.query.files_read" -> "count",
    "catalog.rows_examined_per_row" -> "ratio",
    "catalog.partitions" -> "count", "curated.files" -> "count",
    "txlog.append.busy_s" -> "s", "txlog.merge.busy_s" -> "s",
    "txlog.delete.busy_s" -> "s", "txlog.maintain.busy_s" -> "s",
    "txlog.commit.self_s" -> "s",
    "txlog.commit.jobs" -> "count", "txlog.commit.tasks" -> "count",
    "txlog.commit.task_s" -> "s", "txlog.commit.deser_s" -> "s",
    "txlog.commit.files_written" -> "count",
    "txlog.commit.bytes_written" -> "bytes",
    "txlog.maintain.files_reclaimed" -> "count",
    "txlog.live_files" -> "count", "txlog.log_entries" -> "count",
    "commitstore.claims" -> "count", "commitstore.claim_lost" -> "count",
    "commitstore.claim_win_ratio" -> "ratio",
    "commitstore.claim.busy_s" -> "s",
    "commitstore.reads" -> "count", "commitstore.read.busy_s" -> "s",
    "commitstore.lists" -> "count", "commitstore.list.busy_s" -> "s",
    "scan.lookup.busy_s" -> "s", "scan.range.busy_s" -> "s",
    "scan.lookup.jobs" -> "count", "scan.files_opened" -> "count",
    "scan.files_opened_ratio" -> "ratio",
    "scan.rows_examined_per_row" -> "ratio",
    "dedup.update.busy_s" -> "s", "dedup.update.jobs" -> "count",
    "dedup.update.tasks" -> "count", "dedup.update.shuffle_bytes" -> "bytes",
    "dedup.update.bytes_read" -> "bytes", "dedup.maintain.busy_s" -> "s",
    "dedup.pairs" -> "count",
    "ann.refresh.busy_s" -> "s", "ann.refresh.jobs" -> "count",
    "ann.refresh.retrains" -> "count", "ann.maintain.busy_s" -> "s",
    "ann.search.busy_s" -> "s", "ann.search.jobs" -> "count",
    "ann.search.bytes_read" -> "bytes", "ann.search.files_opened_ratio" -> "ratio",
    "recall_at_10" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_s" -> "s", "spark.deser_s" -> "s",
    "spark.gc_s" -> "s", "spark.task_wait_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "fs.bytes_written" -> "bytes", "fs.bytes_read" -> "bytes",
    "fs.write_ops" -> "count", "fs.read_ops" -> "count",
    "fs.list_ops" -> "count", "fs.files_created" -> "count",
    "trace.overhead_ratio" -> "ratio")

  /** Counter `k` of span `s`: a synchronous meter's delta, or the Spark
    * meter's total over the span and every span below it.
    */
  final class View(t: Tracer, m: SparkMeter) {
    private def spark(s: Span): Seq[m.Work] =
      t.subtree(s.id).flatMap(m.bySpan.get)

    def of(s: Span, k: String): Double = k match {
      case "jobs" => spark(s).map(_.jobs).sum.toDouble
      case "stages" => spark(s).map(_.stages).sum.toDouble
      case "tasks" => spark(s).map(_.tasks).sum.toDouble
      case "task_s" => spark(s).map(_.taskS).sum
      case "deser_s" => spark(s).map(_.deserS).sum
      case "gc_s" => spark(s).map(_.gcS).sum
      case "task_wait_s" => spark(s).map(_.waitS).sum
      case "shuffle_read_bytes" => spark(s).map(_.shuffleRead).sum.toDouble
      case "shuffle_write_bytes" => spark(s).map(_.shuffleWrite).sum.toDouble
      case "records_read" => spark(s).map(_.recordsRead).sum.toDouble
      case "seconds" => s.seconds
      case "self_s" => t.selfSeconds(s)
      case other => s.counters.getOrElse(other, 0.0)
    }

    def spans(names: String*): Seq[Span] =
      t.spans.toSeq.filter(s => names.contains(s.name))

    /** Mean of `k` per span named in `names` (0 when there is none). */
    def mean(k: String, names: String*): Double = {
      val ss = spans(names: _*)
      if (ss.isEmpty) 0.0 else ss.map(of(_, k)).sum / ss.size
    }

    def total(k: String, names: String*): Double =
      spans(names: _*).map(of(_, k)).sum

    /** `num` summed over spans `names`, per unit of `den` summed likewise. */
    def ratio(num: String, den: String, names: String*): Double = {
      val d = total(den, names: _*)
      if (d == 0) 0.0 else total(num, names: _*) / d
    }
  }

  val CommitOps = Seq("txlog.append", "txlog.merge", "txlog.delete")

  /** Every metric from the spans and meters, given the `facts` the
    * workload read off its tables at the end (which they override).
    * Files-opened ratios are per live file at the end of the run.
    */
  def all(v: View, facts: Map[String, Double]): Map[String, Double] = {
    def perLive(opens: Double, live: String): Double =
      facts.get(live).filter(_ > 0).map(opens / _).getOrElse(0.0)
    val batch = "batch"
    val claims = v.total("commitstore.claims", batch)
    Map(
      "promote.busy_s" -> v.mean("seconds", "promote"),
      "promote.self_s" -> v.mean("self_s", "promote"),
      "promote.jobs" -> v.mean("jobs", "promote"),
      "promote.tasks" -> v.mean("tasks", "promote"),
      "promote.files_written" -> v.mean("fs.files_created", "promote"),
      "promote.bytes_written" -> v.mean("fs.bytes_written", "promote"),
      "ingest.busy_s" -> v.mean("seconds", "ingest"),
      "truncate.busy_s" -> v.mean("seconds", "truncate"),
      "catalog.query.busy_s" -> v.mean("seconds", "catalog.query", "catalog.agg"),
      "catalog.query.files_read" ->
        v.mean("files_opened", "catalog.query", "catalog.agg"),
      "catalog.rows_examined_per_row" ->
        v.ratio("records_read", "rows", "catalog.query"),
      "txlog.append.busy_s" -> v.mean("seconds", "txlog.append"),
      "txlog.merge.busy_s" -> v.mean("seconds", "txlog.merge"),
      "txlog.delete.busy_s" -> v.mean("seconds", "txlog.delete"),
      "txlog.maintain.busy_s" -> v.mean("seconds", "txlog.maintain"),
      "txlog.commit.self_s" -> v.mean("self_s", CommitOps: _*),
      "txlog.commit.jobs" -> v.mean("jobs", CommitOps: _*),
      "txlog.commit.tasks" -> v.mean("tasks", CommitOps: _*),
      "txlog.commit.task_s" -> v.mean("task_s", CommitOps: _*),
      "txlog.commit.deser_s" -> v.mean("deser_s", CommitOps: _*),
      "txlog.commit.files_written" -> v.mean("fs.files_created", CommitOps: _*),
      "txlog.commit.bytes_written" -> v.mean("fs.bytes_written", CommitOps: _*),
      "txlog.maintain.files_reclaimed" ->
        v.mean("files_reclaimed", "txlog.maintain"),
      "commitstore.claims" -> v.mean("commitstore.claims", batch),
      "commitstore.claim_lost" -> v.mean("commitstore.claim_lost", batch),
      "commitstore.claim_win_ratio" -> (if (claims == 0) 0.0
        else 1.0 - v.total("commitstore.claim_lost", batch) / claims),
      "commitstore.claim.busy_s" ->
        v.ratio("commitstore.claim_s", "commitstore.claims", batch),
      "commitstore.reads" -> v.mean("commitstore.reads", batch),
      "commitstore.read.busy_s" ->
        v.ratio("commitstore.read_s", "commitstore.reads", batch),
      "commitstore.lists" -> v.mean("commitstore.lists", batch),
      "commitstore.list.busy_s" ->
        v.ratio("commitstore.list_s", "commitstore.lists", batch),
      "scan.lookup.busy_s" -> v.mean("seconds", "scan.lookup"),
      "scan.range.busy_s" -> v.mean("seconds", "scan.range"),
      "scan.lookup.jobs" -> v.mean("jobs", "scan.lookup"),
      "scan.files_opened" -> v.mean("files_opened", "scan.lookup"),
      "scan.files_opened_ratio" ->
        perLive(v.mean("files_opened", "scan.lookup"), "txlog.live_files"),
      "scan.rows_examined_per_row" ->
        v.ratio("records_read", "rows", "scan.lookup"),
      "dedup.update.busy_s" -> v.mean("seconds", "dedup.update"),
      "dedup.update.jobs" -> v.mean("jobs", "dedup.update"),
      "dedup.update.tasks" -> v.mean("tasks", "dedup.update"),
      "dedup.update.shuffle_bytes" ->
        (v.mean("shuffle_read_bytes", "dedup.update") +
          v.mean("shuffle_write_bytes", "dedup.update")),
      "dedup.update.bytes_read" -> v.mean("fs.bytes_read", "dedup.update"),
      "dedup.maintain.busy_s" -> v.mean("seconds", "dedup.maintain"),
      "dedup.pairs" -> v.mean("rows", "dedup.update"),
      "ann.refresh.busy_s" -> v.mean("seconds", "ann.refresh"),
      "ann.refresh.jobs" -> v.mean("jobs", "ann.refresh"),
      "ann.refresh.retrains" -> v.total("retrains", "ann.refresh"),
      "ann.maintain.busy_s" -> v.mean("seconds", "ann.maintain"),
      "ann.search.busy_s" -> v.mean("seconds", "ann.search"),
      "ann.search.jobs" -> v.mean("jobs", "ann.search"),
      "ann.search.bytes_read" -> v.mean("fs.bytes_read", "ann.search"),
      "ann.search.files_opened_ratio" ->
        perLive(v.mean("files_opened", "ann.search"), "ann.live_files"),
      "spark.jobs" -> v.mean("jobs", batch),
      "spark.stages" -> v.mean("stages", batch),
      "spark.tasks" -> v.mean("tasks", batch),
      "spark.task_s" -> v.mean("task_s", batch),
      "spark.deser_s" -> v.mean("deser_s", batch),
      "spark.gc_s" -> v.mean("gc_s", batch),
      "spark.task_wait_s" -> v.mean("task_wait_s", batch),
      "spark.shuffle_read_bytes" -> v.mean("shuffle_read_bytes", batch),
      "spark.shuffle_write_bytes" -> v.mean("shuffle_write_bytes", batch),
      "fs.bytes_written" -> v.mean("fs.bytes_written", batch),
      "fs.bytes_read" -> v.mean("fs.bytes_read", batch),
      "fs.write_ops" -> v.mean("fs.write_ops", batch),
      "fs.read_ops" -> v.mean("fs.read_ops", batch),
      "fs.list_ops" -> v.mean("fs.list_ops", batch),
      "fs.files_created" -> v.mean("fs.files_created", batch)) ++ facts
  }
}
