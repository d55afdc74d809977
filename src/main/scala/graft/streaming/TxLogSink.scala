package graft.streaming

import graft.lake.TxLog
import org.apache.spark.sql.{DataFrame, Dataset, Row, SQLContext, SparkSession, graftnative}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

/** EXACTLY-ONCE streaming sink into a [[TxLog]] table — the write-side
  * complement of [[TxLogChangeSource]]:
  *
  * {{{
  * df.writeStream
  *   .format("graft.streaming.TxLogSinkProvider")
  *   .option("root", tableRoot)
  *   .option("checkpointLocation", ckpt)
  *   .partitionBy("lang")
  *   .start()
  * }}}
  *
  * Each micro-batch commits as ONE table version via
  * [[TxLog.appendIdempotent]], tagged (appId, batchId). A batch replayed
  * after a crash-between-commit-and-checkpoint — the documented
  * at-least-once hole of the `foreachBatch` ACID promote
  * ([[StreamingPromote.runAcid]]) — finds its batch id at or below the
  * table's transaction watermark and is SKIPPED: end-to-end exactly-once
  * from a replayable source, with the dedup state living in the table's
  * own log (it survives checkpoints, log truncation, and sink restarts).
  *
  * The appId defaults to the query's checkpoint location — the identity
  * of "this logical stream" across restarts — overridable with
  * `txnAppId` when two checkpoints must share a dedup domain; with
  * neither in the options the sink REFUSES to start rather than share a
  * guessed identity across unrelated streams.
  * `statsCols` (comma-separated) opts each commit into min/max data
  * skipping stats. Append output mode only, like every log-format sink.
  *
  * SELF-MAINTENANCE: a micro-batch sink fragments its table faster than
  * anything else (one small file + one log entry per batch, forever);
  * `option("maintainEveryCommits", N)` runs [[TxLog.maintain]]
  * best-effort after every Nth batch THIS stream lands (bin-pack +
  * checkpoint + vacuum + log truncation), so a long-running stream's
  * table keeps a bounded live-file count and a bounded log tail without
  * an external maintenance scheduler. Failures are swallowed (the next
  * cadence point retries); exactly-once is untouched because the
  * (appId, batchId) watermark rides checkpoints through maintenance.
  */
final class TxLogSinkProvider extends StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "txlog"

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"txlog sink is append-only (got $outputMode); aggregate downstream " +
        "readers over the table instead")
    val root = parameters.getOrElse("root",
      throw new IllegalArgumentException(
        "txlog sink needs option(\"root\", <table root>)"))
    // NO silent fallback for the dedup identity: if appId defaulted to
    // the table root, two unrelated streams (each with fresh batch ids)
    // would share one watermark and silently skip each other's batches —
    // data loss, not dedup. The checkpoint location is the natural
    // "same logical stream across restarts" identity; when it is not in
    // the options (e.g. only the session-wide default checkpoint dir is
    // set), the caller must name the domain explicitly.
    val appId = parameters.get("txnAppId")
      .orElse(parameters.collectFirst {
        case (k, v) if k.equalsIgnoreCase("checkpointLocation") => v
      })
      .getOrElse(throw new IllegalArgumentException(
        "txlog sink needs option(\"checkpointLocation\", ...) or an " +
          "explicit option(\"txnAppId\", ...) as its exactly-once dedup " +
          "identity — refusing to guess one shared across streams"))
    val statsCols = parameters.get("statsCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    // auto-maintenance cadence: a streaming sink is the fastest
    // fragmenter a table has (one file + one log entry per micro-batch
    // forever), so the sink can run TxLog.maintain every N of ITS
    // commits — opt-in via the sink option
    val maintainEvery = parameters.get("maintainEveryCommits")
      .map { v =>
        val n =
          try v.toInt
          catch { case e: NumberFormatException =>
            throw new IllegalArgumentException(
              s"maintainEveryCommits must be a positive integer, got '$v'",
              e)
          }
        require(n > 0,
          s"maintainEveryCommits must be a positive integer, got $n")
        n
      }
    new TxLogSink(sqlContext.sparkSession, root, appId,
      partitionColumns, statsCols, maintainEvery)
  }
}

private final class TxLogSink(spark: SparkSession, root: String,
                              appId: String, partitionCols: Seq[String],
                              statsCols: Seq[String],
                              maintainEvery: Option[Int]) extends Sink {

  // counts THIS sink's landed commits (not table versions, which other
  // writers advance too): cadence = "every N micro-batches this stream
  // actually committed", restart-safe because a restart that replays
  // skipped batches commits nothing and so schedules nothing
  private var landed = 0L

  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    val batch: DataFrame = graftnative.asBatch(data)
    val committed = TxLog.appendIdempotent(spark, batch, root, appId,
      batchId, partitionCols, statsCols)
    // None = replayed duplicate, already committed: nothing to do — the
    // skip IS the exactly-once guarantee
    if (committed.isDefined) {
      landed += 1
      maintainEvery.filter(n => landed % n == 0).foreach { _ =>
        // BEST-EFFORT, like retainCheckpoints' truncation: maintenance
        // is derived-state hygiene — a conflict with a concurrent
        // OPTIMIZE or a transient failure must never fail the batch
        // (the watermark already advanced; failing here would stall a
        // correct stream). The next cadence point simply retries.
        try { TxLog.maintain(spark, root); () }
        catch { case scala.util.control.NonFatal(_) => }
      }
    }
  }
}
