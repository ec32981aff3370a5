package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{col, collect_list, struct}

/** An oracle disagreement: the engine returned something the plain-Scala
  * model says it must not. */
final class Mismatch(msg: String) extends RuntimeException(msg)

/** One closed-loop workload. The runner calls generate → build → warmup
  * (set-up, timed as a whole), then runs whole blocks: for each operation
  * of `block()`, `prepare` (untimed: writes the operation's input file)
  * and `run` (timed: the engine calls plus their materialization). `run`
  * returns the oracle check for that operation, which the runner calls
  * outside the timed window. A block has a fixed composition, so every
  * run executes the same mix. */
abstract class Workload(val spark: SparkSession, val dir: Path,
    val seed: Long) {
  /** Operation kinds, headline first. */
  def kinds: Seq[String]
  def headline: String = kinds.head

  def generate(): Unit
  def build(): Unit
  def warmup(): Unit
  /** The next block of operations, in execution order. */
  def block(): Seq[String]
  def prepare(kind: String): Unit = ()
  def run(kind: String): () => Unit
  /** End-of-run oracle checks; each returned message is one failure. */
  def finish(): Seq[String]
  /** Bytes on disk under the workload's table/view/index directories. */
  def storedBytes(): Long
  /** Generated input bytes the engine has consumed so far. */
  def inputBytes: Long
  /** Valid rows landed so far (ingest only). */
  def rows: Long = 0L
  /** Workload-specific numbers for the detail line. */
  def detail: Map[String, Double] = Map.empty
  /** End-of-run layer metrics (listings, ratios). */
  def layerEnd(): Map[String, Double] = Map.empty

  protected lazy val rng = new scala.util.Random(seed * 31L + 17)

  def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new Mismatch(msg)

  protected def path(name: String): String = dir.resolve(name).toString
}

object Workload {
  def apply(name: String, spark: SparkSession, dir: Path,
      seed: Long): Workload = name match {
    case "ingest_backfill" => new IngestBackfill(spark, dir, seed)
    case "serve_mixed" => new Combined(spark, dir, seed, Seq(
      new ServeTable(spark, dir.resolve("table"), seed),
      new ServeIndex(spark, dir.resolve("index"), seed)))
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (${Names.mkString(", ")})")
  }

  val Names = Seq("ingest_backfill", "serve_mixed")

  /** The timed action: a no-op write, so every output column of `df` is
    * computed (a `.count()` would let Catalyst prune projections). The
    * observation rides the same execution and hands the rows to the
    * oracle afterwards. */
  def materialize(df: DataFrame): () => Seq[Row] = {
    val obs = Observation()
    df.observe(obs, collect_list(struct(df.columns.toSeq.map(c => col(s"`$c`")): _*))
        .as("rows"))
      .write.format("noop").mode("overwrite").save()
    () => obs.get("rows").asInstanceOf[Seq[Row]]
  }

  /** Total size of the regular files under `dirs`. */
  def du(dirs: Path*): Long = dirs.filter(Files.exists(_)).map { d =>
    val s = Files.walk(d)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }.sum

  def countFiles(dirs: Path*): Long = dirs.filter(Files.exists(_)).map { d =>
    val s = Files.walk(d)
    try s.iterator.asScala.count(p => Files.isRegularFile(p) &&
      !p.getFileName.toString.startsWith(".")).toLong
    finally s.close()
  }.sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}

/** Zipf(s) over ranks 0 until n, by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def draw(r: scala.util.Random): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Recent-first key order for the serve workload's skewed lookups. */
final class Recency {
  private val order = mutable.LinkedHashSet.empty[Long]
  def touch(k: Long): Unit = { order -= k; order += k }
  def recent(n: Int): IndexedSeq[Long] = order.toIndexedSeq.takeRight(n).reverse
}

/** Several workloads in one session: set up one after the other, their
  * blocks merged in seeded order (each block's own order kept). The
  * first part's headline operation is the whole's. */
final class Combined(spark: SparkSession, dir: Path, seed: Long,
    parts: Seq[Workload]) extends Workload(spark, dir, seed) {
  def kinds: Seq[String] = parts.flatMap(_.kinds)
  private def owner(kind: String) = parts.find(_.kinds.contains(kind)).get

  def generate(): Unit = parts.foreach(_.generate())
  def build(): Unit = parts.foreach(_.build())
  def warmup(): Unit = parts.foreach(_.warmup())

  def block(): Seq[String] = {
    val queues = parts.map(p => mutable.Queue(p.block(): _*))
    val out = mutable.ArrayBuffer.empty[String]
    while (queues.exists(_.nonEmpty)) {
      // pick a part with probability proportional to what it has left
      var u = rng.nextInt(queues.map(_.size).sum)
      val q = queues.find { q => u -= q.size; u < 0 }.get
      out += q.dequeue()
    }
    out.toSeq
  }

  override def prepare(kind: String): Unit = owner(kind).prepare(kind)
  def run(kind: String): () => Unit = owner(kind).run(kind)
  def finish(): Seq[String] = parts.flatMap(_.finish())
  def storedBytes(): Long = parts.map(_.storedBytes()).sum
  def inputBytes: Long = parts.map(_.inputBytes).sum
  override def detail: Map[String, Double] = parts.flatMap(_.detail).toMap
  override def layerEnd(): Map[String, Double] =
    parts.flatMap(_.layerEnd()).toMap
}
