package lakebench

import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.TxLog

/** `acid_cdc`: one commit-log table partitioned by day, with stats
  * columns, a CHECK constraint and a bloom index on the key, pre-grown to
  * [[AcidCdc.SetupDays]] files. The timed loop applies a seeded stream of
  * merges (mostly updates, keys skewed toward recent ones), appends and
  * vectored deletes in cycles of [[AcidCdc.Cycle]], so that every run of a
  * few cycles has the same mix, and ends each cycle with
  * `TxLog.maintain`. After every write it reads the same skewed keys back
  * with `readEquals` and [[AcidCdc.Scans]] time windows through the
  * `graft` source. Every read and the final table are checked against an
  * in-memory model.
  */
final class AcidCdc(c: Ctx) extends Workload {
  import AcidCdc._

  private val spark = c.spark
  private val root = c.root
  private val t = c.tracer

  /** id -> (day, ts, amount, status, note): the table as it must read. */
  private val model = mutable.LongMap.empty[Rec]
  private var nextId = 0L
  private var day = 0
  private var version = -1L
  private var landed, written = 0L
  private var liveBytes = 0L

  private def rec(rnd: SplittableRandom, id: Long, d: Int): Rec = Rec(
    LocalDate.of(2026, 1, 1).plusDays(d).toString,
    id * 10.0 + rnd.nextInt(10),
    rnd.nextInt(100000).toLong,
    Statuses(rnd.nextInt(Statuses.size)),
    Note(rnd, 24 + rnd.nextInt(24)))

  private def put(id: Long, r: Rec): Unit = {
    model.get(id).foreach(o => liveBytes -= o.jsonBytes(id))
    model(id) = r
    liveBytes += r.jsonBytes(id)
  }

  private def drop(id: Long): Unit =
    model.remove(id).foreach(o => liveBytes -= o.jsonBytes(id))

  private def frame(rows: Seq[(Long, Rec)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, r) =>
        Row(id, r.day, r.ts, r.amount, r.status, r.note) }: _*),
      Schema)

  /** A live id, skewed toward recent ones: the offset back from the newest
    * id is a fourth power of a uniform draw (over half fall in the newest
    * tenth of the key space).
    */
  private def skewedId(rnd: SplittableRandom): Long = skewedIds(rnd, 1).head

  /** `n` distinct live ids with the same skew, stratified: draw `j` takes
    * its uniform from the `j`-th of `n` equal slices of [0, 1), so that
    * every batch spreads over the key space (and the day files) alike and
    * only the exact keys vary with the seed. A slice too narrow to hold a
    * key not yet taken (the newest few) falls back to an unstratified draw.
    */
  private def skewedIds(rnd: SplittableRandom, n: Int): Seq[Long] = {
    val taken = mutable.LinkedHashSet.empty[Long]
    (0 until n).foreach { j =>
      var (k, tries) = (-1L, 0)
      while (k < 0 || !model.contains(k) || taken(k)) {
        val u = if (tries < 8) (j + rnd.nextDouble()) / n else rnd.nextDouble()
        tries += 1
        k = nextId - 1 - (nextId * u * u * u * u).toLong
      }
      taken += k
    }
    taken.toSeq
  }

  override def setup(): Unit = {
    val rnd = new SplittableRandom(c.seed)
    val rows = (0 until SetupDays).flatMap { d =>
      (0 until SetupRowsPerDay).map { _ =>
        val id = nextId; nextId += 1
        id -> rec(rnd, id, d)
      }
    }
    rows.foreach { case (id, r) => put(id, r) }
    day = SetupDays
    TxLog.append(spark, frame(rows).repartition(col("day")), root,
      partitionCols = Seq("day"), statsCols = StatsCols)
    TxLog.addConstraint(spark, root, "amount_nonneg", "amount >= 0")
    TxLog.buildBloomIndex(spark, root, "id",
      expectedKeysPerFile = BloomKeysPerFile)
    version = TxLog.currentVersion(spark, root).get
  }

  private def committed(v: Long, op: String): Unit = {
    Check(v == version + 1,
      s"$op committed version $v after version $version: chain not contiguous")
    version = v
  }

  override def batch(i: Int): Unit = {
    val rnd = new SplittableRandom(c.seed * 1000003L + i)
    c.rec.time(c.rec.write) {
      val op = Cycle(i % Cycle.size)
      if (op == Merge) {
        val updates = (MergeRows * UpdateShare).round.toInt
        val keys = skewedIds(rnd, updates) ++
          (updates until MergeRows).map { _ => nextId += 1; nextId - 1 }
        // an update keeps the key's day and time; a new key lands on the
        // newest day
        val rows = keys.map { id =>
          val fresh = rec(rnd, id, day - 1)
          id -> model.get(id).fold(fresh)(o => fresh.copy(day = o.day, ts = o.ts))
        }
        rows.foreach { case (id, r) => put(id, r) }
        landed += rows.size; written += rows.map { case (id, r) => r.jsonBytes(id) }.sum
        committed(t.span("txlog.merge")(TxLog.merge(spark, frame(rows), root,
          keyCols = Seq("id"), partitionCols = Seq("day"),
          statsCols = StatsCols)), "merge")
      } else if (op == Append) {
        val rows = (0 until AppendRows).map { _ =>
          val id = nextId; nextId += 1
          id -> rec(rnd, id, day)
        }
        day += 1
        rows.foreach { case (id, r) => put(id, r) }
        landed += rows.size; written += rows.map { case (id, r) => r.jsonBytes(id) }.sum
        committed(t.span("txlog.append")(TxLog.append(spark, frame(rows), root,
          partitionCols = Seq("day"), statsCols = StatsCols)), "append")
      } else {
        val keys = skewedIds(rnd, DeleteKeys)
        keys.foreach(drop)
        committed(t.span("txlog.delete")(TxLog.deleteVectored(spark, root,
          col("id").isin(keys: _*))), "deleteVectored")
      }
    }
    (0 until Lookups).foreach { _ =>
      // mostly live keys; some were deleted or never existed
      val id =
        if (rnd.nextDouble() < 0.8) skewedId(rnd) else rnd.nextLong(nextId + 100)
      val got = c.rec.time(c.rec.lookup)(t.span("scan.lookup") {
        val rows = TxLog.readEquals(spark, root, "id", Seq(id)).collect()
        t.add("rows", rows.length)
        rows
      })
      val want = model.get(id).map(r =>
        Row(id, r.day, r.ts, r.amount, r.status, r.note)).toSeq
      Check(got.map(normRow).toSeq == want,
        s"readEquals($id) returned ${got.mkString(",")}, model has ${want.mkString(",")}")
    }
    // adjacent time windows back from the newest id
    (0 until Scans).foreach { w =>
      val hiId = math.max(0L, nextId - w * RangeIds)
      val loId = math.max(0L, hiId - RangeIds)
      val (lo, hi) = (loId * 10.0, hiId * 10.0)
      val got = c.rec.time(c.rec.scan)(t.span("scan.range")(
        spark.read.format("graft").load(root)
          .filter(col("ts") >= lo && col("ts") < hi)
          .agg(count(lit(1)), coalesce(sum(col("amount")), lit(0L)))
          .collect().head))
      val inWin = model.valuesIterator.filter(r => r.ts >= lo && r.ts < hi).toSeq
      Check(got.getLong(0) == inWin.size && got.getLong(1) == inWin.map(_.amount).sum,
        s"range [$lo, $hi) read (${got.getLong(0)}, ${got.getLong(1)}), model " +
          s"(${inWin.size}, ${inWin.map(_.amount).sum})")
    }
    // the cycle's maintenance, timed with the phase but not as a write. It
    // keeps only the current version: what an older retained version pins
    // depends on which files the cycle's keys touched, which would make
    // the space figures a property of the seed
    if (i % Cycle.size == Cycle.size - 1) t.span("txlog.maintain") {
      t.add("files_reclaimed",
        TxLog.maintain(spark, root, keepVersions = 1).dataFilesReclaimed.toDouble)
      TxLog.refreshBloomIndex(spark, root, "id",
        expectedKeysPerFile = BloomKeysPerFile)
      version = TxLog.currentVersion(spark, root).get
    }
  }

  private def normRow(r: Row): Row =
    Row(r.getAs[Long]("id"), r.getAs[String]("day"), r.getAs[Double]("ts"),
      r.getAs[Long]("amount"), r.getAs[String]("status"), r.getAs[String]("note"))

  override def verify(): Unit = {
    val cols = Schema.fieldNames.map(col).toIndexedSeq
    def digest(df: DataFrame): (Long, BigDecimal) = {
      val r = df.select(cols: _*)
        .agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")))
        .collect().head
      (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
    }
    val table = digest(TxLog.readLatest(spark, root))
    val want = digest(frame(model.toSeq))
    Check(table == want, s"final table (count, row hash) $table, model $want")
    val versions = TxLog.history(spark, root).map(_.version)
    Check(versions == (versions.head to version),
      s"version chain ${versions.mkString(",")} is not contiguous up to $version")
  }

  override def rowsLanded: Long = landed
  override def userBytesWritten: Long = written
  override def liveUserBytes: Long = liveBytes
  override def cycle: Int = Cycle.size

  override def facts(): Map[String, Double] = {
    val (entries, _) = TxLog.logCounts(spark, root)
    Map(
      "txlog.live_files" -> TxLog.liveSizes(spark, root).size.toDouble,
      "txlog.log_entries" -> entries.toDouble)
  }
}

final case class Rec(day: String, ts: Double, amount: Long, status: String,
                     note: String) {
  /** Size of the row as one UTF-8 JSON line. */
  def jsonBytes(id: Long): Long =
    (s"""{"id":$id,"day":"$day","ts":$ts,"amount":$amount,""" +
      s""""status":"$status","note":"$note"}""" + "\n").length.toLong
}

object AcidCdc {
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("day", StringType),
    StructField("ts", DoubleType), StructField("amount", LongType),
    StructField("status", StringType), StructField("note", StringType)))
  val StatsCols = Seq("id", "ts")
  val Statuses = IndexedSeq("open", "shipped", "billed", "closed")

  val SetupDays = 40
  val SetupRowsPerDay = 500
  val BloomKeysPerFile = 2000L
  val Merge = 0
  val Append = 1
  val Delete = 2
  /** One cycle's operations, in order, then maintenance. The order is
    * fixed: what a cycle leaves behind for maintenance to reclaim depends
    * on it, and so do the space figures. Reads are slower from the delete
    * until maintenance (its deletion vectors); with the delete fifth, a
    * third of a cycle's reads pay that, so the read medians sit clear of
    * the step instead of on it.
    */
  val Cycle: IndexedSeq[Int] = IndexedSeq(Merge, Append, Merge, Merge, Delete, Merge)
  /** Share of merge rows that update an existing key. */
  val UpdateShare = 0.9
  val MergeRows = 50
  val AppendRows = 300
  val DeleteKeys = 5
  val Lookups = 3
  /** Range reads per batch, over adjacent windows of [[RangeIds]] ids back
    * from the newest.
    */
  val Scans = 3
  val RangeIds = 2000L
}

/** Seeded lower-case ASCII text. */
object Note {
  def apply(rnd: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    (0 until n).foreach(_ => sb += ('a' + rnd.nextInt(26)).toChar)
    sb.toString
  }
}
