package lakebench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{Promote, Writer, Zones}

/** `po_ingest`: the reference's whole job, batch by batch. Each batch of
  * seeded nested PO-status records is staged (`Promote.ingest`), promoted
  * into the catalogued, month-partitioned Parquet table with `asOf` one
  * day later than the last batch (`Promote.promote(register = true)`),
  * and the staging zone truncated; then catalogued SQL looks up a few PO
  * numbers and aggregates the current month. Optional fields join the
  * records as the run goes on (schema evolution), and every result is
  * checked against the generated records.
  */
final class PoIngest(c: Ctx) extends Workload {
  import PoIngest._

  private val spark = c.spark
  private val t = c.tracer
  private val zones = Zones(c.root)
  private val table = s"po_status_${c.tag}"

  /** Every record generated so far, as the catalog must return it: column
    * -> string value, for the columns its own batch staged.
    */
  private val byPo = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Map[String, String]]]
  private val pos = mutable.ArrayBuffer.empty[String]
  private val seqs = mutable.Map.empty[String, Int]
  private val columns = mutable.LinkedHashSet.empty[String]
  private var g = 0 // batches promoted, set-up included
  private var landed, written, liveBytes = 0L
  private val monthCount = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val monthCents = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private def day(b: Int): java.time.LocalDate = FirstDay.plusDays(b)

  /** One record: its JSON line and its flattened, all-string columns. */
  private def record(rnd: SplittableRandom, b: Int): (String, Map[String, String]) = {
    val po =
      if (pos.isEmpty || rnd.nextDouble() < NewPoShare) {
        val p = f"PO-${c.seed}%d-${pos.size}%07d"
        pos += p
        p
      } else pos(rnd.nextInt(pos.size))
    val seq = seqs.getOrElse(po, 0)
    seqs(po) = seq + 1
    val cents = 100 + rnd.nextInt(5000000)
    val skus = Seq.fill(1 + rnd.nextInt(3))(s"SKU-${rnd.nextInt(2000)}")
    val fields = mutable.ArrayBuffer[(String, Json)](
      "po_number" -> Str(po),
      "status" -> Str(Statuses(rnd.nextInt(Statuses.size))),
      "status_seq" -> Num(seq.toString),
      "vendor" -> Obj(Seq("id" -> Str(s"V${rnd.nextInt(300)}"),
        "name" -> Str(s"vendor ${rnd.nextInt(300)}"))),
      "amount" -> Obj(Seq("total" -> Str(f"${cents / 100}%d.${cents % 100}%02d"),
        "currency" -> Str("USD"))),
      "skus" -> Arr(skus.map(Str)),
      "updated_at" -> Str(f"${day(b).toString}T${rnd.nextInt(24)}%02d:00:00Z"))
    Optional.zipWithIndex.foreach { case ((name, gen), k) =>
      if (b >= (k + 1) * DriftEvery && rnd.nextDouble() < OptionalShare)
        fields += name -> gen(rnd)
    }
    val obj = Obj(fields.toSeq)
    (obj.render, flatten("", obj).toMap)
  }

  private def flatten(prefix: String, j: Json): Seq[(String, String)] = j match {
    case Obj(fs) => fs.flatMap { case (k, v) =>
      flatten(if (prefix.isEmpty) k else s"${prefix}_$k", v) }
    case a: Arr => Seq(prefix -> a.render)
    case Str(s) => Seq(prefix -> s)
    case Num(n) => Seq(prefix -> n)
    case Bool(b) => Seq(prefix -> b.toString)
  }

  /** Stage, promote and truncate batch `b`; the model learns its rows. */
  private def promoteBatch(b: Int): Unit = {
    val rnd = new SplittableRandom(c.seed * 7919L + b)
    val recs = Seq.fill(BatchRecords)(record(rnd, b))
    val lines = recs.map(_._1)
    val staged = recs.flatMap(_._2.keys).toSet
    val day0 = day(b)
    val (year, month) = (f"${day0.getYear}%04d", f"${day0.getMonthValue}%02d")
    val audit = Map("processed_at" -> s"$day0 00:00:00",
      "processed_year" -> year, "processed_month" -> month)
    import spark.implicits._
    val records = spark.read.schema(schemaOf(recs.map(_._2)))
      .json(lines.toDS())
    t.span("ingest")(Promote.ingest(spark, zones, table,
      lines.mkString("[", ",", "]"), records, year, month))
    val res = t.span("promote")(Promote.promote(spark, zones, table,
      asOf = to_timestamp(lit(s"$day0 00:00:00")), register = true))
    t.span("truncate")(Writer.truncateStaging(spark, zones, table))
    Check(res.exists(_.rows == BatchRecords),
      s"promote of batch $b landed ${res.map(_.rows)} rows, not $BatchRecords")
    recs.foreach { case (line, cols) =>
      // a column its batch staged but the record lacks reads as ""
      val row = staged.iterator.map(k => k -> cols.getOrElse(k, "")).toMap ++ audit
      byPo.getOrElseUpdate(cols("po_number"), mutable.ArrayBuffer.empty) += row
      monthCount(s"$year-$month") += 1
      monthCents(s"$year-$month") += (BigDecimal(cols("amount_total")) * 100).toLongExact
      liveBytes += line.length + 1
    }
    columns ++= staged
    g = b + 1
  }

  /** The staged records' schema: every field as a string, nested objects
    * as structs, arrays of strings.
    */
  private def schemaOf(recs: Seq[Map[String, String]]): StructType = {
    val present = recs.flatMap(_.keys).toSet
    def staged(name: String, tpe: DataType): Boolean = tpe match {
      case st: StructType => st.fieldNames.exists(f => present(s"${name}_$f"))
      case _ => present(name)
    }
    StructType(Shape.collect {
      case (name, tpe) if staged(name, tpe) => StructField(name, tpe)
    })
  }

  override def setup(): Unit = (0 until SetupBatches).foreach(promoteBatch)

  override def batch(i: Int): Unit = {
    val b = g
    val before = liveBytes
    c.rec.time(c.rec.write)(promoteBatch(b))
    landed += BatchRecords
    written += liveBytes - before
    val rnd = new SplittableRandom(c.seed * 31L + b)
    (0 until Lookups).foreach { _ =>
      val po = pos(rnd.nextInt(pos.size))
      val got = c.rec.time(c.rec.lookup)(t.span("catalog.query") {
        val rows = spark.sql(s"SELECT * FROM $table WHERE po_number = '$po'").collect()
        t.add("rows", rows.length)
        rows
      })
      val want = byPo(po).map(expected).sortBy(_("status_seq").toInt).toSeq
      val have = got.map(asMap).sortBy(_("status_seq").toInt).toSeq
      Check(have == want,
        s"lookup of $po returned $have, the records were $want")
    }
    val d = day(b)
    val (year, month) = (f"${d.getYear}%04d", f"${d.getMonthValue}%02d")
    val agg = c.rec.time(c.rec.scan)(t.span("catalog.agg") {
      val r = spark.sql(s"SELECT count(*), sum(cast(amount_total AS DECIMAL(18,2))) " +
        s"FROM $table WHERE processed_year = '$year' AND processed_month = '$month'")
        .collect().head
      r
    })
    val key = s"$year-$month"
    Check(agg.getLong(0) == monthCount(key) &&
      (BigDecimal(agg.getDecimal(1)) * 100).toLongExact == monthCents(key),
      s"month $key aggregated to (${agg.getLong(0)}, ${agg.getDecimal(1)}), " +
        s"records give (${monthCount(key)}, ${monthCents(key) / 100.0})")
  }

  /** A record as the catalog returns it: the columns that exist now, null
    * where its batch did not stage the column.
    */
  private def expected(row: Map[String, String]): Map[String, String] =
    (columns.iterator ++ AuditColumns).map(k => k -> row.getOrElse(k, null)).toMap

  private def asMap(r: Row): Map[String, String] =
    r.schema.fieldNames.map(k => k -> r.getAs[String](k)).toMap

  override def verify(): Unit = {
    val df = spark.table(table)
    val cols = df.columns.toSet
    val want = columns.toSet ++ AuditColumns
    Check(cols == want, s"catalogued columns ${cols.toSeq.sorted} are not the " +
      s"generated fields ${want.toSeq.sorted}")
    val n = df.count()
    Check(n == byPo.valuesIterator.map(_.size).sum,
      s"catalog holds $n rows, ${byPo.valuesIterator.map(_.size).sum} were generated")
  }

  override def rowsLanded: Long = landed
  override def userBytesWritten: Long = written
  override def liveUserBytes: Long = liveBytes
  override def cycle: Int = 1

  override def discard(): Unit = spark.sql(s"DROP TABLE IF EXISTS $table")

  override def facts(): Map[String, Double] = {
    val curated = java.nio.file.Paths.get(zones.curated(table))
    val files = {
      val st = java.nio.file.Files.walk(curated)
      try st.filter(p => p.toString.endsWith(".parquet")).count()
      finally st.close()
    }
    Map(
      "catalog.partitions" ->
        spark.sql(s"SHOW PARTITIONS $table").count().toDouble,
      "curated.files" -> files.toDouble)
  }
}

object PoIngest {
  val FirstDay: java.time.LocalDate = java.time.LocalDate.of(2026, 1, 27)
  val SetupBatches = 3
  val BatchRecords = 300
  val Lookups = 3
  /** Share of records that open a new PO; the rest update an earlier one. */
  val NewPoShare = 0.7
  /** A new optional field joins the records every this-many batches. */
  val DriftEvery = 4
  /** Share of records carrying an optional field once it has joined. */
  val OptionalShare = 0.5
  val Statuses = IndexedSeq("open", "acknowledged", "shipped", "invoiced", "closed")
  val AuditColumns = Seq("processed_at", "processed_year", "processed_month")

  private def word(rnd: SplittableRandom): String =
    Note(rnd, 4 + rnd.nextInt(6))

  /** Optional fields in the order they join the records. */
  val Optional: Seq[(String, SplittableRandom => Json)] = Seq(
    "carrier" -> (r => Str(Seq("ups", "fedex", "dhl")(r.nextInt(3)))),
    "tracking" -> (r => Obj(Seq("number" -> Str(s"1Z${r.nextInt(1000000000)}"),
      "eta" -> Str(s"2026-03-${1 + r.nextInt(28)}")))),
    "priority" -> (r => Num((1 + r.nextInt(5)).toString)),
    "warehouse" -> (r => Obj(Seq("code" -> Str(s"W${r.nextInt(40)}"),
      "region" -> Str(Seq("east", "west", "central")(r.nextInt(3)))))),
    "backorder" -> (r => Bool(r.nextBoolean())),
    "notes" -> (r => Str(Seq.fill(3)(word(r)).mkString(" "))),
    "discount" -> (r => Num(s"0.${1 + r.nextInt(9)}")),
    "ship_to" -> (r => Obj(Seq("city" -> Str(word(r)),
      "zip" -> Str(f"${r.nextInt(100000)}%05d")))))

  private val S = StringType
  private def obj(fs: String*) = StructType(fs.map(StructField(_, S)))
  /** The staged JSON's shape, all primitives as strings. */
  val Shape: Seq[(String, DataType)] = Seq(
    "po_number" -> S, "status" -> S, "status_seq" -> S,
    "vendor" -> obj("id", "name"), "amount" -> obj("total", "currency"),
    "skus" -> ArrayType(S), "updated_at" -> S,
    "carrier" -> S, "tracking" -> obj("number", "eta"), "priority" -> S,
    "warehouse" -> obj("code", "region"), "backorder" -> S, "notes" -> S,
    "discount" -> S, "ship_to" -> obj("city", "zip"))
}

/** Just enough JSON to write the records and know their flattened form. */
sealed trait Json { def render: String }
final case class Str(s: String) extends Json {
  def render: String = "\"" + s + "\""
}
final case class Num(n: String) extends Json { def render: String = n }
final case class Bool(b: Boolean) extends Json { def render: String = b.toString }
final case class Arr(xs: Seq[Json]) extends Json {
  def render: String = xs.map(_.render).mkString("[", ",", "]")
}
final case class Obj(fs: Seq[(String, Json)]) extends Json {
  def render: String =
    fs.map { case (k, v) => "\"" + k + "\":" + v.render }.mkString("{", ",", "}")
}
