package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.ext.{DedupIndex, IvfPqIndex, NearDupIndex}

/** The index side of `serve_mixed`, compute-heavy LLM-data work: exact and
  * near duplicate admission of document batches, alternating with top-10
  * similarity searches against a persisted IVF-PQ index. */
final class ServeIndex(spark: SparkSession, dir: Path, seed: Long)
    extends Workload(spark, dir, seed) {
  val kinds = Seq("search", "admit")
  val Corpus = 400
  val BatchDocs = 100
  val Queries = 4
  val K = 10
  val Planes = 6
  val SearchesPerAdmit = 2
  val ExactShare = 0.15
  val NearShare = 0.15

  private val docs = new DocGen(seed, clusters = 16)
  private var corpus = IndexedSeq.empty[Doc]
  private val dedup = path("dedup")
  private val neardup = path("neardup")
  private val ivf = path("ivfpq")
  private var consumed = 0L
  private var batches = 0
  private var pendingDocs = Seq.empty[Doc]
  private var pendingQueries = Seq.empty[(Long, Array[Float])]
  private var pendingFile = ""
  private var queryBase = 1000000000L
  private val recalls = mutable.ArrayBuffer.empty[Double]

  private def write(name: String, lines: Seq[String]): String = {
    val f = dir.resolve(s"input/$name.jsonl")
    consumed += Gen.writeLines(f, lines)
    f.toString
  }

  private def readDocs(f: String) = spark.read.schema(ServeIndex.docSchema).json(f)

  def generate(): Unit = {
    corpus = docs.corpus(Corpus).toIndexedSeq
    write("corpus", corpus.map(Gen.docJson))
  }

  /** The IVF-PQ index over the corpus; the dedup indexes start empty and
    * fill from the admission stream. */
  def build(): Unit = {
    val vecs = readDocs(path("input/corpus.jsonl"))
      .select(col("doc_id").as("vec_id"), col("embedding"))
    IvfPqIndex.create(spark, ivf, vecs)
    IvfPqIndex.add(spark, ivf, vecs, 0L)
  }

  def warmup(): Unit =
    Seq("admit", "search").foreach { k => prepare(k); run(k)() }

  override def prepare(kind: String): Unit = kind match {
    case "admit" =>
      pendingDocs = docs.batch(BatchDocs, ExactShare, NearShare)
      batches += 1
      pendingFile = write(f"batch-$batches%05d", pendingDocs.map(Gen.docJson))
    case "search" =>
      pendingQueries = docs.queries(Queries, queryBase)
      pendingFile = write(s"queries-$queryBase",
        pendingQueries.map { case (id, v) => Gen.vecJson(id, v) })
      queryBase += Queries
  }

  /** One admission batch, then a run of search batches. */
  def block(): Seq[String] = "admit" +: Seq.fill(SearchesPerAdmit)("search")

  def run(kind: String): () => Unit = kind match {
    case "admit" =>
      val batch = pendingDocs
      val df = readDocs(pendingFile)
      val (ex, exRows) = Trace.span("ext.DedupIndex.admit") {
        val ex = DedupIndex.admit(spark, dedup, df)
        (ex, Workload.materialize(ex.select("doc_id")))
      }
      val ndRows = Trace.span("ext.NearDupIndex.admit")(Workload.materialize(
        NearDupIndex.admit(spark, neardup,
          ex.select(col("doc_id").as("vec_id"), col("embedding")), Planes)
          .select("vec_id")))
      () => {
        val ex = exRows().map(_.getLong(0)).toSet
        val nd = ndRows().map(_.getLong(0)).toSet
        val wantEx = batch.filter(_.kind != 1).map(_.id).toSet
        val wantNd = batch.filter(_.kind == 0).map(_.id).toSet
        Trace.count("dedup.offered", batch.size)
        Trace.count("dedup.admitted", ex.size)
        Trace.count("neardup.offered", ex.size)
        Trace.count("neardup.admitted", nd.size)
        check(ex == wantEx, s"exact admission kept ${ex.size} docs, oracle " +
          s"${wantEx.size} (extra ${ex -- wantEx}, missing ${wantEx -- ex})")
        check(nd == wantNd, s"near-dup admission kept ${nd.size} docs, " +
          s"oracle ${wantNd.size} (extra ${nd -- wantNd}, missing ${wantNd -- nd})")
      }
    case "search" =>
      val qs = pendingQueries
      val q = spark.read.schema(ServeIndex.vecSchema).json(pendingFile)
      val rows = Trace.span("ext.IvfPqIndex.search")(Workload.materialize(
        IvfPqIndex.search(spark, ivf, q, k = K)))
      () => {
        val got = rows().groupBy(_.getLong(0))
        qs.foreach { case (qid, v) =>
          val hits = got.getOrElse(qid, Nil).sortBy(_.getAs[Long]("rk"))
          val ids = hits.map(_.getLong(1))
          check(hits.map(_.getAs[Long]("rk")) == (1L to K) &&
              ids.distinct.size == K && ids.forall(i => i >= 1 && i <= Corpus),
            s"search $qid returned ${hits.mkString(";")}")
          val exact = ServeIndex.bruteForce(corpus, v, K).toSet
          recalls += ids.count(exact).toDouble / K
        }
      }
  }

  def finish(): Seq[String] = Nil

  def storedBytes(): Long =
    Workload.du(dir.resolve("dedup"), dir.resolve("neardup"), dir.resolve("ivfpq"))
  def inputBytes: Long = consumed

  /** Mean ADC recall@10 against the brute-force cosine top-10. */
  def recall: Double = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size

  override def detail: Map[String, Double] = Map("search_recall_at_10" -> recall)

  override def layerEnd(): Map[String, Double] = Map(
    "ext.index_files_live" -> Workload.countFiles(
      dir.resolve("dedup"), dir.resolve("neardup"), dir.resolve("ivfpq")).toDouble,
    "ext.IvfPqIndex.recall_at_10" -> recall)
}

object ServeIndex {
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType))))
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Exact cosine top-k ids over the corpus (ties to the smaller id). */
  def bruteForce(corpus: Seq[Doc], q: Array[Float], k: Int): Seq[Long] =
    corpus.map(d => (-Gen.cosine(d.emb, q), d.id)).sorted.take(k).map(_._2)
}
