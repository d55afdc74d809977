package graft
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SessionTuning.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // oracle-only side artifacts (q38's feature export) are written under
    // Verify but skipped in Bench — they exist for the DuckDB recheck, not
    // for the timed query
    System.setProperty("graft.verify.export", "true")
    // The driver compares rows POSITIONALLY (columns sorted by name, then
    // row-by-row). Each query carries its own ORDER BY, but relying on the
    // plan to preserve it through coalesce+write proved flaky once (r4
    // q79: hash mismatch in the driver run, unreproducible locally). So
    // canonicalize BOTH sides instead: sort the dump by every column
    // (name order, asc, nulls first) inside the single output partition,
    // and wrap each oracle SQL in the identical ORDER BY (below). Row
    // order then never depends on plan internals on either engine.
    val dumpedCols = scala.collection.mutable.Map[String, Seq[String]]()
    val digests = scala.collection.mutable.ArrayBuffer[String]()
    // Local-iteration filter (never set by the driver): dump only the
    // named queries, e.g. SPARK_GRAFT_ONLY=q107_stream_window.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val canonical = df.columns.sorted.map(c => col(c).asc)
        df.coalesce(1).sortWithinPartitions(canonical.toIndexedSeq: _*)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        dumpedCols(name) = df.columns.toIndexedSeq
        digests += VerifyDigest.forDump(spark, name, s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally TransientCaches.drain()
    }
    def q(s: String): String = Json.str(s)
    // Same canonical order as the dump: ASC NULLS FIRST matches Spark's
    // default asc ordering (DuckDB defaults to NULLS LAST, so say it).
    def canonWrap(name: String, sql: String): String =
      dumpedCols.get(name) match {
        case Some(cols) =>
          val ob = cols.sorted
            .map(c => "\"" + c + "\" ASC NULLS FIRST").mkString(", ")
          s"SELECT * FROM ($sql) __graft_canon ORDER BY $ob"
        case None => sql // query failed to dump; leave SQL untouched
      }
    // __SCRATCH__ -> the concrete per-SF scratch root: some oracles
    // (q38) recheck an engine-exported intermediate whose path depends on
    // the sf dir, which is only known here at dump time.
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        val sql = v.replace("__SCRATCH__", Tables.scratchRoot(sfDir))
        s"${q(k)}: ${q(canonWrap(k, sql))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Per-query value digest: row count + per-column content hash + the
    // verbatim rows for sub-10-row results, exactly as dumped. Written
    // beside the dump AND (best-effort) into the repo, so a red row in
    // the driver's gate can be diffed offline against a local run's
    // digest — naming the divergent column/values, not just "hash false".
    val digestJson = digests.mkString(
      s"""{"sf_dir": ${q(sfDir)}, "cpus": ${q(cpus)}, "queries": {""",
      ",", "}}")
    Files.writeString(Paths.get(s"$outDir/digest.json"), digestJson)
    // A filtered run's digest covers only the named queries — writing it
    // over the repo copy would silently shrink the committed full-run
    // record, so only unfiltered runs refresh it.
    if (only.isEmpty)
      try Files.writeString(
        Paths.get("/root/repo/VERIFY_DIGEST.json"), digestJson)
      catch { case _: Throwable => () } // repo path absent off this box
    spark.stop()
  }
}

/** Canonical value digest of one Verify dump (see [[Verify]]). The
  * formatting is deterministic JVM-side rendering — it exists to compare
  * Spark-vs-Spark across environments (driver vs local), not to match
  * any other engine's text form.
  */
object VerifyDigest {
  import org.apache.spark.sql.{Row, SparkSession}

  private def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d.isNaN) "NaN" else java.lang.Double.toString(d)
    case f: Float => if (f.isNaN) "NaN" else java.lang.Float.toString(f)
    // java.sql types render via the JVM DEFAULT time zone — an epoch
    // instant would digest differently on a driver box in another TZ,
    // defeating the cross-environment purpose. Render the instant.
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => canon(k) + ":" + canon(x) }
        .toSeq.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case x => x.toString
  }

  private def jq(s: String): String = Json.str(s)

  /** Digest one dumped query: reads the parquet back (single sorted file,
    * so read order IS the canonical order) and emits one JSON member
    * `"name": {...}`.
    */
  def forDump(spark: SparkSession, name: String, path: String): String = {
    val df = spark.read.parquet(path)
    val cols = df.columns.sorted
    // ONE streamed pass (toLocalIterator is partition-ordered, and the
    // dump is a single sorted file, so stream order IS the canonical
    // order): per-column digests update incrementally, never holding the
    // dump in driver memory — a row-heavy dump at a larger SF would OOM
    // the collect() this replaces and zero the round's whole record.
    val digests = cols.map(_ => java.security.MessageDigest.getInstance("MD5"))
    val head = scala.collection.mutable.ArrayBuffer.empty[Row]
    var n = 0L
    val it = df.select(cols.map(col).toIndexedSeq: _*).toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      if (n < 11) head += r
      var i = 0
      while (i < cols.length) {
        digests(i).update(canon(r.get(i)).getBytes("UTF-8"))
        digests(i).update(0.toByte)
        i += 1
      }
      n += 1
    }
    val colHashes = cols.zipWithIndex.map { case (c, i) =>
      s"${jq(c)}: ${jq(digests(i).digest().map(x => f"$x%02x").mkString)}"
    }
    val schema = df.schema.fields.sortBy(_.name)
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val verbatim =
      if (n <= 10)
        head.map(r => jq(r.toSeq.map(canon).mkString("|")))
          .mkString(""", "rows_verbatim": [""", ",", "]")
      else ""
    s"""${jq(name)}: {"rows": $n, "schema": ${jq(schema)}, """ +
      s""""col_hash": {${colHashes.mkString(",")}}$verbatim}"""
  }
}
