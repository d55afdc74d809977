package lakebench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VecOps
import graft.lake.TxLog
import graft.operators.{AnnIndex, DedupIndex}

/** `corpus_dedup`: a documents-plus-embeddings corpus in one commit-log
  * table, sized past the operators' pruning floors, with a `DedupIndex`
  * and an `AnnIndex` built in set-up. Each batch appends a small delta
  * with planted near-duplicates and deletes a few documents, brings both
  * indexes up to date (the write), searches the index for a few small
  * query batches (the lookups) and aggregates the corpus a few times (the
  * scans).
  * Both indexes are maintained every [[CorpusDedup.MaintainEvery]]
  * batches. The pair stream must equal the planted pairs, every search
  * must return k rows per query, and the aggregate must match the model.
  */
final class CorpusDedup(c: Ctx) extends Workload {
  import CorpusDedup._

  private val spark = c.spark
  private val t = c.tracer
  private val corpus = s"${c.root}/corpus"
  private val dedupRoot = s"${c.root}/dedup_index"
  private val annRoot = s"${c.root}/ann_index"

  /** Live documents' texts, and the originals still free to be copied. */
  private val texts = mutable.LongMap.empty[String]
  private val originals = mutable.LinkedHashSet.empty[Long]
  private var nextId = 0L
  private var landed = 0L
  private var written = 0L
  /** JSON-lines bytes per document, filled when first asked for. */
  private val docBytes = mutable.LongMap.empty[Long]
  private var textChars = 0L
  /** The traced searches, for recall: each query's vector, the documents
    * live at the time (ids below `upTo`, less `gone`), and the answer.
    */
  private final case class Search(queries: Seq[(Long, Array[Float])], upTo: Long,
                                  gone: Set[Long], answer: Map[Long, Seq[Long]])
  private val searches = mutable.ArrayBuffer.empty[Search]
  private val deleted = mutable.Set.empty[Long]

  private val gen = DocGen(c.seed)

  private def addDoc(id: Long, text: String, original: Boolean): Unit = {
    texts(id) = text
    textChars += text.length
    if (original) originals += id
  }

  private def dropDoc(id: Long): Unit = {
    texts.remove(id).foreach(s => textChars -= s.length)
    originals -= id
    deleted += id
  }

  /** Documents (doc_id, text, embedding) for the given ids and texts. */
  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    val g = gen
    rows.toDS().map { case (id, text) => (id, text, g.vector(id), g.raw(id)) }
      .toDF("doc_id", "text", "embedding", "raw")
  }

  override def setup(): Unit = {
    (0 until SetupDocs).foreach { _ =>
      val id = nextId; nextId += 1
      addDoc(id, gen.text(id), original = true)
    }
    import spark.implicits._
    val g = gen
    TxLog.append(spark, spark.range(0, SetupDocs, 1, SetupFiles)
      .map(id => (id: Long, g.text(id), g.vector(id), g.raw(id)))
      .toDF("doc_id", "text", "embedding", "raw").coalesce(SetupFiles), corpus)
    val pairs = DedupIndex.update(spark, corpus, dedupRoot).collect()
    Check(pairs.isEmpty, s"the set-up corpus has no near-duplicates, the " +
      s"index found ${pairs.length}")
    AnnIndex.build(spark, corpus, annRoot, nCells = Cells,
      idCol = "doc_id", vecCol = "embedding")
    ()
  }

  override def batch(i: Int): Unit = {
    val rnd = new SplittableRandom(c.seed * 7877L + i)
    // the delta: fresh documents, some of them near-copies of an original
    // (two words replaced), which stops being an original
    val planted = mutable.Set.empty[(Long, Long)]
    val delta = (0 until DeltaDocs).map { _ =>
      val id = nextId; nextId += 1
      if (rnd.nextDouble() < DupShare && originals.nonEmpty) {
        val src = originals.iterator.drop(rnd.nextInt(math.min(originals.size, 1000))).next()
        originals -= src
        val w = texts(src).split(' ')
        Seq(rnd.nextInt(Words / 2), Words / 2 + rnd.nextInt(Words / 2))
          .foreach(p => w(p) = s"x${rnd.nextInt(Vocabulary)}")
        planted += (src -> id)
        addDoc(id, w.mkString(" "), original = false)
      } else addDoc(id, gen.text(id), original = true)
      id -> texts(id)
    }
    written += delta.map { case (id, text) => bytesOf(id, text) }.sum
    val gone = Seq.fill(DeleteDocs)(originals.iterator
      .drop(rnd.nextInt(math.min(originals.size, 1000))).next()).distinct
    gone.foreach(dropDoc)
    c.rec.time(c.rec.write) {
      t.span("txlog.append")(TxLog.append(spark, docs(delta), corpus))
      t.span("txlog.delete")(TxLog.deleteVectored(spark, corpus,
        col("doc_id").isin(gone: _*)))
      val pairs = t.span("dedup.update") {
        val p = DedupIndex.update(spark, corpus, dedupRoot)
          .select("doc_a", "doc_b").collect()
        t.add("rows", p.length)
        p
      }
      val found = pairs.map(r => r.getLong(0) -> r.getLong(1)).toSet
      Check(found == planted, s"batch $i: the index paired ${found.toSeq.sorted}, " +
        s"the planted near-duplicates are ${planted.toSeq.sorted}")
      val r = t.span("ann.refresh") {
        val r = AnnIndex.refresh(spark, corpus, annRoot, idCol = "doc_id",
          vecCol = "embedding")
        if (r.retrained) t.add("retrains", 1)
        r
      }
      Check(r.added == DeltaDocs && r.removed == gone.size && r.total == texts.size,
        s"batch $i: refresh indexed +${r.added} -${r.removed} = ${r.total}, " +
          s"the corpus changed +$DeltaDocs -${gone.size} = ${texts.size}")
    }
    landed += DeltaDocs
    (0 until Searches).foreach { s =>
      // each query is a live document's embedding, slightly moved; the
      // index answers with its ten nearest other documents
      val live = texts.keysIterator.toIndexedSeq
      val srcs = Seq.fill(QueriesPerSearch)(live(rnd.nextInt(live.size))).distinct
      import spark.implicits._
      val qv = srcs.map(q => q -> gen.query(q, i * 100 + s))
      val queries = qv.toDF("qid", "qe").withColumn("qnorm", VecOps.normf(col("qe")))
      val got = c.rec.time(c.rec.lookup)(t.span("ann.search")(
        AnnIndex.search(spark, corpus, annRoot, queries, kTop = K,
          nProbe = Probes, shortlist = Shortlist, idCol = "doc_id",
          vecCol = "embedding").collect()))
      val byQ = got.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
        q -> rs.map(_.getAs[Long]("cand_id")).toSeq }
      Check(srcs.forall(q => byQ.get(q).exists(ids =>
          ids.size == K && ids.forall(texts.contains))),
        s"batch $i: a search did not return $K live documents per query: $byQ")
      if (t.enabled) searches += Search(qv, nextId, deleted.toSet, byQ)
    }
    (0 until Scans).foreach { _ =>
      val agg = c.rec.time(c.rec.scan)(t.span("scan.range")(
        TxLog.readLatest(spark, corpus)
          .agg(count(lit(1)), sum(length(col("text")))).collect().head))
      Check(agg.getLong(0) == texts.size && agg.getLong(1) == textChars,
        s"batch $i: corpus aggregate (${agg.getLong(0)}, ${agg.getLong(1)}), " +
          s"model (${texts.size}, $textChars)")
    }
    // the cycle's maintenance: timed with the phase, not as a write
    if ((i + 1) % MaintainEvery == 0) {
      t.span("dedup.maintain")(DedupIndex.maintain(spark, dedupRoot))
      t.span("ann.maintain")(AnnIndex.maintain(spark, annRoot))
    }
  }

  override def verify(): Unit = {
    val n = TxLog.readLatest(spark, corpus).count()
    Check(n == texts.size, s"corpus holds $n documents, the model ${texts.size}")
  }

  override def rowsLanded: Long = landed

  private def bytesOf(id: Long, text: String): Long =
    docBytes.getOrElseUpdate(id, gen.jsonBytes(id, text))

  override def userBytesWritten: Long = written
  override def liveUserBytes: Long =
    texts.iterator.map { case (id, text) => bytesOf(id, text) }.sum
  override def cycle: Int = MaintainEvery

  override def facts(): Map[String, Double] = {
    val annFiles = Seq(corpus, AnnIndex.centroidsRoot(annRoot),
      AnnIndex.codebookRoot(annRoot), AnnIndex.codesRoot(annRoot),
      AnnIndex.metaRoot(annRoot)).map(r => TxLog.liveSizes(spark, r).size).sum
    Map(
      "txlog.live_files" -> TxLog.liveSizes(spark, corpus).size.toDouble,
      "ann.live_files" -> annFiles.toDouble,
      "recall_at_10" -> recall())
  }

  /** Mean share of each traced query's exact top ten (cosine, brute force
    * over the other documents live at the time) that the index returned.
    */
  private def recall(): Double = {
    if (searches.isEmpty) return 0.0
    val upTo = searches.map(_.upTo).max
    val vecs = (0L until upTo).map(gen.vector)
    val norms = vecs.map(v => math.sqrt(dot(v, v)))
    val shares = searches.toSeq.flatMap { s =>
      s.queries.map { case (q, qe) =>
        val qn = math.sqrt(dot(qe, qe))
        val exact = (0L until s.upTo).iterator
          .filter(id => id != q && !s.gone.contains(id))
          .map(id => id -> dot(vecs(id.toInt), qe) / (norms(id.toInt) * qn))
          .toSeq.sortBy { case (id, cos) => (-cos, id) }.take(K).map(_._1).toSet
        (s.answer.getOrElse(q, Seq.empty).toSet & exact).size.toDouble / K
      }
    }
    shares.sum / shares.size
  }

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var (i, acc) = (0, 0.0)
    while (i < a.length) { acc += a(i).toDouble * b(i); i += 1 }
    acc
  }
}

/** Seeded documents: the words of an original and the clustered embedding
  * of any id (a cluster centre, a sub-cluster offset and a little noise,
  * so each document has about ten close neighbours). Pure functions of
  * the seed and the id, so Spark tasks and the calling thread agree.
  */
final case class DocGen(seed: Long) {
  import CorpusDedup._

  def text(id: Long): String = {
    val rnd = new SplittableRandom(seed * 1000003L ^ id)
    Seq.fill(Words)(s"w${rnd.nextInt(Vocabulary)}").mkString(" ")
  }

  private def mix(a: Long, b: Long): Long =
    new SplittableRandom(a * 0x9E3779B97F4A7C15L + b).nextLong()

  def vector(id: Long): Array[Float] = {
    val cluster = Math.floorMod(mix(seed, id), Clusters.toLong)
    val sub = Math.floorMod(mix(seed + 1, id), SubClusters.toLong)
    val centre = new SplittableRandom(mix(seed + 2, cluster))
    val offset = new SplittableRandom(mix(seed + 3, cluster * SubClusters + sub))
    val own = new SplittableRandom(mix(seed + 4, id))
    Array.fill(Dim)((centre.nextDouble(-1, 1) + offset.nextDouble(-1, 1) * 0.5 +
      own.nextDouble(-1, 1) * 0.1).toFloat)
  }

  /** The document as fetched, before cleaning: the bulk of a corpus row,
    * which neither index reads.
    */
  def raw(id: Long): String = {
    val rnd = new SplittableRandom(mix(seed + 6, id))
    val sb = new java.lang.StringBuilder(RawChars)
    (0 until RawChars).foreach(_ => sb.append(('a' + rnd.nextInt(26)).toChar))
    sb.toString
  }

  /** Length of the document's UTF-8 JSON line. */
  def jsonBytes(id: Long, text: String): Long =
    (s"""{"doc_id":$id,"text":"$text","embedding":""" +
      vector(id).mkString("[", ",", "]") + s""","raw":"${raw(id)}"}""" + "\n").length

  /** A query near document `id`: its vector, slightly moved. */
  def query(id: Long, salt: Int): Array[Float] = {
    val rnd = new SplittableRandom(mix(seed + 5, id * 1000 + salt))
    vector(id).map(x => (x + rnd.nextDouble(-1, 1) * 0.02).toFloat)
  }
}

object CorpusDedup {
  /** Set-up corpus: about 70 MB of Parquet in [[SetupFiles]] files, past
    * both pruning floors (8 files, 64 MB).
    */
  val SetupDocs = 10000
  val SetupFiles = 10
  val Dim = 128
  val RawChars = 6500
  val Words = 40
  val Vocabulary = 5000
  val Clusters = 64
  val SubClusters = 32
  val Cells = 32
  val DeltaDocs = 200
  /** Share of delta documents planted as near-copies of an original. */
  val DupShare = 0.2
  val DeleteDocs = 5
  val Searches = 2
  val Scans = 4
  val QueriesPerSearch = 4
  val K = 10
  val Probes = 4
  val Shortlist = 100
  val MaintainEvery = 2
}
