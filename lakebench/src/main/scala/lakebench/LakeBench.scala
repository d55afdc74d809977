package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SessionTuning
import graft.lake.CommitStore

/** What a workload hands the harness: the calls it makes, timed. */
final class Recorder {
  val write, lookup, scan = ArrayBuffer.empty[Double]
  var attempted = 0L

  def time[A](into: ArrayBuffer[Double])(body: => A): A = {
    attempted += 1
    val t0 = System.nanoTime()
    val a = body
    into += (System.nanoTime() - t0) / 1e9
    a
  }
}

/** Everything one workload instance needs; `root` is its own fresh
  * directory, `tag` tells repeated set-ups apart in the session catalog.
  */
final case class Ctx(spark: SparkSession, seed: Long, root: String, tag: Int,
                     tracer: Tracer, rec: Recorder)

/** One closed-loop workload over one set of tables. */
trait Workload {
  /** Builds the initial tables. Not timed as an operation. */
  def setup(): Unit
  /** Batch `i` of the timed phase: a write, then its reads. */
  def batch(i: Int): Unit
  /** Model checks on the final state; throws on any mismatch. */
  def verify(): Unit
  /** User rows the timed phase has landed so far. */
  def rowsLanded: Long
  /** UTF-8 JSON-lines bytes of the rows the timed phase wrote so far. */
  def userBytesWritten: Long
  /** UTF-8 JSON-lines bytes of the live rows. */
  def liveUserBytes: Long
  /** Batches per maintenance cycle: throughput and amplification are
    * measured over whole cycles, so every run sees the same mix.
    */
  def cycle: Int
  /** Per-layer metrics read off this instance's tables at the end, by
    * name (see [[Layers]]).
    */
  def facts(): Map[String, Double]
  /** Drops what the session holds for this instance beyond its directory
    * (a spare instance is discarded before the timed phase).
    */
  def discard(): Unit = ()
}

/** A workload checks its outputs through this: a wrong output ends the
  * run with a non-zero exit and no result line.
  */
final class WrongOutput(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit =
    if (!ok) throw new WrongOutput(what)
}

/** The lake benchmark: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --spans <dir>`. Prints one JSON result line last; see
  * the benchmark's README for the metrics.
  */
object LakeBench {

  /** Set-ups per untraced run. The first pays the JVM's warm-up (class
    * loading, JIT) and is only logged; `setup_s` is the median (with two,
    * the mean) of the others. The traced run sets up two identical
    * instances, one run untraced and one traced.
    */
  val SetupReps = 3

  private val Workloads: Map[String, Ctx => Workload] = Map(
    "po_ingest" -> (c => new PoIngest(c)),
    "acid_cdc" -> (c => new AcidCdc(c)),
    "corpus_dedup" -> (c => new CorpusDedup(c)))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val name = opt("workload")
    val make = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val spansDir = Paths.get(opt("spans")).toAbsolutePath
    Files.createDirectories(work)

    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val builder = SparkSession.builder()
      .appName("lakebench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
    if (traced) builder
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = SessionTuning(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val meter = new SparkMeter
    val store = new MeteredCommitStore
    if (traced) spark.sparkContext.addSparkListener(meter)
    val tracer = new Tracer(spark.sparkContext,
      Seq(() => FsMeter.snapshot(), () => store.snapshot()))

    final case class Inst(w: Workload, rec: Recorder, root: String)
    val setupS = ArrayBuffer.empty[Double]

    def setUp(rep: Int): Inst = {
      val root = work.resolve(s"$name-$rep").toString
      val rec = new Recorder
      val w = make(Ctx(spark, seed, root, rep, tracer, rec))
      val t0 = System.nanoTime()
      w.setup()
      setupS += (System.nanoTime() - t0) / 1e9
      Inst(w, rec, root)
    }

    /** Batch `i` of `in`, as one operation; returns its seconds. */
    def run(in: Inst, i: Int): Double = {
      tracer.nextOp()
      val t0 = System.nanoTime()
      tracer.span("batch")(in.w.batch(i))
      (System.nanoTime() - t0) / 1e9
    }

    // set-up: identical instances from the same seed. Untraced, the first
    // also runs an untimed batch, which warms the batch path, and every
    // instance but the last is dropped as soon as it is set up: its files
    // go before the OS writes them back, and neither the disk nor the heap
    // figure holds spares. The last one is timed. Traced, two instances
    // run side by side.
    val insts: Seq[Inst] =
      if (traced) Seq(setUp(1), setUp(2))
      else {
        (1 until SetupReps).foreach { rep =>
          val spare = setUp(rep)
          if (rep == 1) run(spare, 0)
          spare.w.discard()
          deleteTree(Paths.get(spare.root))
        }
        Seq(setUp(SetupReps))
      }
    log(s"$name set-up seconds: ${setupS.mkString(", ")}")
    // the set-up's files go to disk now, so that their writeback does not
    // stall the timed phase
    val flushS = {
      val t0 = System.nanoTime()
      insts.foreach(in => flushTree(Paths.get(in.root)))
      (System.nanoTime() - t0) / 1e9
    }
    log(f"$name: set-up files flushed in $flushS%.2f s")

    def samples(in: Inst, n: Int, wall: Double): Unit = {
      val kinds = Seq("write" -> in.rec.write, "lookup" -> in.rec.lookup,
        "scan" -> in.rec.scan)
      log(s"$name: $n batches in $wall s; samples (tail rank) " + kinds
        .map { case (k, xs) => f"$k ${xs.size} (${tailRank(xs.size)}%.3f)" }
        .mkString(", "))
      kinds.foreach { case (k, xs) =>
        log(s"$name $k seconds: " + xs.map(x => f"$x%.4f").mkString(" ")) }
    }

    val (attempted, metrics) =
      try {
        if (!traced) {
          val in = insts.last
          // closed loop, one client: the next batch starts when one ends,
          // for `seconds` and at least one whole maintenance cycle. At the
          // end of each cycle the meters are read (the clock stopped
          // meanwhile): rate and amplification come from the last whole
          // cycle's reading. The retained heap is read once, at the end of
          // the first cycle: the program's heap grows with every batch, so
          // only a reading after the same work in every run repeats.
          final case class Reading(wall: Double, fsWritten: Long, space: Long,
                                   rows: Long, written: Long, live: Long)
          val fs0 = FsMeter.bytesWritten
          var t0 = System.nanoTime()
          var n = 0
          var last: Option[Reading] = None
          var heapMb: Option[Double] = None
          while ((System.nanoTime() - t0) / 1e9 < seconds || n < in.w.cycle) {
            run(in, n)
            n += 1
            if (n % in.w.cycle == 0) {
              val t1 = System.nanoTime()
              last = Some(Reading((t1 - t0) / 1e9, FsMeter.bytesWritten - fs0,
                treeBytes(Paths.get(in.root)), in.w.rowsLanded,
                in.w.userBytesWritten, in.w.liveUserBytes))
              if (heapMb.isEmpty) heapMb = Some(retainedHeapMb(spark))
              t0 += System.nanoTime() - t1
            }
          }
          val wall = (System.nanoTime() - t0) / 1e9
          samples(in, n, wall)
          val at = last.get
          in.w.verify()
          val r = in.rec
          (r.attempted, Seq(
            ("setup_s", median(setupS.toSeq.tail), "s"),
            ("write_p50_s", median(r.write), "s"),
            ("write_tail_s", tail(r.write), "s"),
            ("lookup_p50_s", median(r.lookup), "s"),
            ("lookup_tail_s", tail(r.lookup), "s"),
            ("scan_p50_s", median(r.scan), "s"),
            ("scan_tail_s", tail(r.scan), "s"),
            ("rows_per_s", at.rows / at.wall, "1/s"),
            ("write_amp", at.fsWritten.toDouble / at.written, "ratio"),
            ("space_amp", at.space.toDouble / at.live, "ratio"),
            ("heap_retained_mb", heapMb.get, "MB")))
        } else {
          // the same op stream on two identical instances, batch by batch,
          // one untraced and one traced; which goes first alternates, so
          // warm-up does not count as tracing overhead
          val Seq(plain, probe) = insts
          CommitStore.install(probe.root, store)
          val t0 = System.nanoTime()
          var (i, wallU, wallT) = (0, 0.0, 0.0)
          def traced(): Double = {
            tracer.enabled = true
            try run(probe, i) finally tracer.enabled = false
          }
          // at least one whole maintenance cycle, so maintenance is traced
          try while ((System.nanoTime() - t0) / 1e9 < seconds ||
                     i < plain.w.cycle) {
            val (u, tr) =
              if (i % 2 == 0) { val u = run(plain, i); (u, traced()) }
              else { val tr = traced(); (run(plain, i), tr) }
            // batch 0 warms the batch path for whichever runs second
            if (i > 0) { wallU += u; wallT += tr }
            i += 1
          } finally CommitStore.uninstall(probe.root)
          require(i >= 2, s"$name: the traced run needs two batches in $seconds s")
          samples(probe, i, wallT)
          plain.w.verify()
          probe.w.verify()
          val facts = probe.w.facts()
          spark.stop() // drains the listener bus: the Spark meter is final
          val all = Layers.all(new Layers.View(tracer, meter), facts) +
            ("trace.overhead_ratio" -> wallT / wallU)
          Files.createDirectories(spansDir)
          tracer.writeJsonLines(spansDir.resolve(s"$name-seed$seed.jsonl"))
          (plain.rec.attempted + probe.rec.attempted,
            Layers.Names.map { case (k, unit) => (k, all.getOrElse(k, 0.0), unit) })
        }
      } catch {
        case e: WrongOutput =>
          log(s"WRONG OUTPUT in $name: ${e.getMessage}")
          sys.exit(1)
        case e: Throwable =>
          log(s"$name failed: $e")
          e.printStackTrace()
          sys.exit(1)
      }

    if (!spark.sparkContext.isStopped) spark.stop()
    val body = metrics.map { case (k, v, unit) =>
      s""""$k": {"value": ${num(v)}, "unit": "$unit"}""" }.mkString(", ")
    println(s"""{"correct": true, "attempted": $attempted, "failed": 0, "metrics": {$body}}""")
    System.out.flush()
    sys.exit(0)
  }

  private def log(msg: String): Unit = System.err.println(s"[lakebench] $msg")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric $v")
    else java.lang.Double.toString(v).replace("E", "e")

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Rank of the tail sample: the highest one with ten samples beyond it. */
  def tailRank(n: Int): Double = if (n < 21) 0.5 else (n - 10).toDouble / n

  /** The highest percentile with at least ten samples beyond it; the
    * median when no percentile above it has ten beyond it (21 samples).
    */
  def tail(xs: collection.Seq[Double]): Double =
    if (xs.size < 21) median(xs) else xs.sorted.apply(xs.size - 11)

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }

  /** Heap in use after a few full collections, with time for the context
    * cleaner between them, so that what the run retains is all that is
    * left.
    */
  def retainedHeapMb(spark: SparkSession): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(500) }
    val mb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    val cached = spark.sparkContext.getRDDStorageInfo
    log(f"heap $mb%.1f MB; ${cached.length} cached RDDs, " +
      f"${cached.map(_.memSize).sum / 1048576.0}%.1f MB in memory")
    mb
  }

  /** Forces every file under `p` to disk. */
  def flushTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).forEach { f =>
        val ch = java.nio.channels.FileChannel.open(f,
          java.nio.file.StandardOpenOption.READ)
        try ch.force(true) finally ch.close()
      } finally st.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(Files.delete(_))
      finally st.close()
    }
}
