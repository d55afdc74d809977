package lakebench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream,
  FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.lake.{CommitStore, FsCommitStore}

/** One traced call into a layer. `counters` holds the synchronous meters'
  * deltas over the span (inclusive of children); Spark work is attributed
  * later, by the span id the span's jobs carry as a local property.
  */
final case class Span(id: Int, name: String, parent: Int, opId: Long,
                      var startNs: Long = 0L, var endNs: Long = 0L,
                      counters: mutable.Map[String, Double] =
                        mutable.Map.empty) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory for the traced run. With tracing off, [[span]] is
  * a plain call: no meters are read and nothing is recorded.
  */
final class Tracer(sc: SparkContext, meters: Seq[() => Map[String, Double]]) {
  /** Off until the traced phase starts. */
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var op = 0L

  /** A new operation id: spans of one benchmark operation share it. */
  def nextOp(): Unit = op += 1

  /** Adds `v` to counter `k` of the innermost open span, for what only the
    * caller sees: rows a read returned, what a maintenance pass reported.
    */
  def add(k: String, v: Double): Unit =
    if (enabled && open.nonEmpty)
      open.top.counters(k) = open.top.counters.getOrElse(k, 0.0) + v

  private def snapshot(): Map[String, Double] =
    meters.foldLeft(Map.empty[String, Double])(_ ++ _())

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = if (open.isEmpty) -1 else open.top.id
      val s = Span(spans.size, name, parent, op)
      spans += s
      open.push(s)
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      val before = snapshot()
      s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime()
        val after = snapshot()
        after.foreach { case (k, v) =>
          s.counters(k) = s.counters.getOrElse(k, 0.0) + v - before.getOrElse(k, 0.0)
        }
        s.counters("files_opened") = CountingLocalFileSystem.distinctOpened(
          before(Tracer.OpensAt).toInt, after(Tracer.OpensAt).toInt)
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
        open.pop()
        ()
      }
    }

  /** Duration minus the time its direct children cover (one client, so
    * children never overlap) and minus the commit-store time spent inside
    * it but outside those children: the commit store counts as a child.
    */
  def selfSeconds(s: Span): Double = {
    val kids = children(s.id)
    s.seconds - kids.map(_.seconds).sum -
      (storeSeconds(s) - kids.map(storeSeconds).sum)
  }

  private def storeSeconds(s: Span): Double =
    MeteredCommitStore.TimeKeys.map(s.counters.getOrElse(_, 0.0)).sum

  private lazy val childIndex: Map[Int, Seq[Span]] =
    spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)

  def children(id: Int): Seq[Span] = childIndex.getOrElse(id, Seq.empty)

  /** `id` and every span below it. */
  def subtree(id: Int): Seq[Int] = id +: children(id).flatMap(c => subtree(c.id))

  /** Spans as JSON lines: name, start, end, parent, op id and counters. */
  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      val cs = s.counters.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""op":${s.opId},"start_ns":${s.startNs - t0},""" +
        s""""end_ns":${s.endNs - t0},"counters":{$cs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
    ()
  }
}

object Tracer {
  val SpanProp = "lakebench.span"
  /** Meter reading: how many data-file opens have happened so far. */
  val OpensAt = "fs.data_opens_at"
}

/** Spark work per span, from the scheduler's events: every job carries the
  * id of the span that submitted it, so the counts do not depend on when
  * the listener bus delivers them. Read the totals only after the context
  * has stopped (stopping drains the bus).
  */
final class SparkMeter extends SparkListener {
  final class Work {
    var jobs, stages, tasks = 0L
    var taskS, deserS, gcS, waitS = 0.0
    var shuffleRead, shuffleWrite, recordsRead = 0L
  }
  val bySpan = mutable.Map.empty[Int, Work]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def work(span: Int): Work = bySpan.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(-1)
    work(span).jobs += 1
    e.stageInfos.foreach(si => stageSpan(si.stageId) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      work(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageSpan.getOrElse(e.stageId, -1))
    w.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      w.taskS += m.executorRunTime / 1e3
      w.deserS += m.executorDeserializeTime / 1e3
      w.gcS += m.jvmGCTime / 1e3
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.recordsRead += m.inputMetrics.recordsRead
      if (info != null && info.finishTime > 0) {
        // scheduler delay: the part of the task's wall that was neither
        // deserializing, running, nor shipping its result
        val delayMs = (info.finishTime - info.launchTime) -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        w.waitS += math.max(0L, delayMs) / 1e3
      }
    }
  }
}

/** Filesystem traffic of the local filesystem, the store every workload
  * root lives on: bytes from Hadoop's own storage statistics, operations
  * from [[CountingLocalFileSystem]] (installed as the `file:` scheme in the
  * traced run only; it counts nothing otherwise).
  */
object FsMeter {
  def bytesWritten: Long = stat("bytesWritten")

  private def stat(name: String): Long = {
    val s = FileSystem.getGlobalStorageStatistics.get("file")
    if (s == null) 0L
    else Option(s.getLong(name)).map(_.longValue).getOrElse(0L)
  }

  def snapshot(): Map[String, Double] = {
    import CountingLocalFileSystem._
    Map(
      "fs.bytes_written" -> stat("bytesWritten").toDouble,
      "fs.bytes_read" -> stat("bytesRead").toDouble,
      "fs.write_ops" -> (creates.get + renames.get + deletes.get +
        dirsMade.get).toDouble,
      "fs.read_ops" -> opens.get.toDouble,
      "fs.list_ops" -> lists.get.toDouble,
      "fs.files_created" -> creates.get.toDouble,
      Tracer.OpensAt -> dataOpens.synchronized(dataOpens.size).toDouble)
  }
}

/** The local filesystem, counting the calls that create, open, list,
  * rename, delete and make directories.
  */
final class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[CreateFlag],
                                  bufferSize: Int, replication: Short,
                                  blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet()
    val p = f.toUri.getPath
    if (p.endsWith(".parquet") && !p.contains("/_txlog/"))
      dataOpens.synchronized { dataOpens += p }
    super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet()
    super.listStatus(f)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet()
    super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    dirsMade.incrementAndGet()
    super.mkdirs(f, permission)
  }
}

object CountingLocalFileSystem {
  val creates, opens, lists, renames, deletes, dirsMade = new AtomicLong
  /** Every open of a table data file (Parquet outside the log), in order. */
  val dataOpens = mutable.ArrayBuffer.empty[String]

  /** Distinct data files opened between two positions of [[dataOpens]]. */
  def distinctOpened(from: Int, until: Int): Int =
    dataOpens.synchronized(dataOpens.slice(from, until).distinct.size)
}

/** Delegates every log-entry operation to the filesystem's own store and
  * times it. Installed with [[CommitStore.install]] on a workload's roots
  * in the traced run only.
  */
final class MeteredCommitStore extends CommitStore {
  val claims, claimLost, claimNs, reads, readNs, lists, listNs =
    new AtomicLong

  private def timed[A](n: AtomicLong, ns: AtomicLong)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally { n.incrementAndGet(); ns.addAndGet(System.nanoTime() - t0) }
  }

  override def claim(fs: FileSystem, p: Path, bytes: Array[Byte]): Boolean = {
    val won = timed(claims, claimNs)(FsCommitStore.claim(fs, p, bytes))
    if (!won) claimLost.incrementAndGet()
    won
  }

  override def read(fs: FileSystem, p: Path): Array[Byte] =
    timed(reads, readNs)(FsCommitStore.read(fs, p))

  override def list(fs: FileSystem, dir: Path): Seq[Path] =
    timed(lists, listNs)(FsCommitStore.list(fs, dir))

  def snapshot(): Map[String, Double] = Map(
    "commitstore.claims" -> claims.get.toDouble,
    "commitstore.claim_lost" -> claimLost.get.toDouble,
    "commitstore.claim_s" -> claimNs.get / 1e9,
    "commitstore.reads" -> reads.get.toDouble,
    "commitstore.read_s" -> readNs.get / 1e9,
    "commitstore.lists" -> lists.get.toDouble,
    "commitstore.list_s" -> listNs.get / 1e9)
}

object MeteredCommitStore {
  val TimeKeys: Seq[String] =
    Seq("commitstore.claim_s", "commitstore.read_s", "commitstore.list_s")
}
