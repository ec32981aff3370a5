package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.MergeTable
import graft.ingest.RepoSchema

/** The table side of `serve_mixed`, read-heavy with writes beside the
  * reads: skewed point lookups, the three README queries, small
  * merge-on-read upserts and maintenance over one silver MergeTable. */
final class ServeTable(spark: SparkSession, dir: Path, seed: Long)
    extends Workload(spark, dir, seed) {
  val kinds = Seq("lookup", "scan", "upsert_mor", "maintain")
  val Rows = 4000
  val BatchRows = 20
  val LookupsPerBlock = 20
  val HotKeys = 48

  private val gen = new scala.util.Random(seed * 104729L + 5)
  private val table = path("silver")
  private val model = mutable.Map.empty[Long, Repo]
  private val taken = mutable.Set.empty[Long]
  private val recency = new Recency
  private val zipf = new Zipf(HotKeys, 1.1)
  private var keys = IndexedSeq.empty[Long]
  private var writes = 0
  private var pending = Option.empty[(String, Seq[Repo])]
  private var consumed = 0L
  private var lookupKey = 0L

  private def load(rows: Seq[Repo], name: String) = {
    val file = dir.resolve(s"input/$name.jsonl")
    consumed += Gen.writeLines(file, rows.map(_.flatJson))
    file.toString
  }

  private def read(file: String) = spark.read.schema(RepoSchema.flat).json(file)

  private def apply(rows: Seq[Repo]): Unit = rows.foreach { x =>
    if (!model.contains(x.id)) keys :+= x.id
    model(x.id) = x
    recency.touch(x.id)
  }

  /** A small batch: mostly new versions of existing keys, a few new keys. */
  private def upsertBatch(n: Int): Seq[Repo] = {
    val upd = gen.shuffle(keys).take(n * 3 / 4).map(k => Gen.bump(gen, model(k)))
    upd ++ Gen.silver(gen, n - upd.size, taken)
  }

  def generate(): Unit = {
    val base = Gen.silver(gen, Rows, taken)
    load(base, "silver-0")
    apply(base)
  }

  def build(): Unit = {
    MergeTable.create(read(path("input/silver-0.jsonl")), table, "id")
    // thresholds low enough that every maintain after a 20-row write
    // compacts at this table size
    MergeTable.setProperties(spark, table, Map(
      "graft.maintenance.maxDvRatio" -> "0.002",
      "graft.maintenance.maxFilesPerBucket" -> "3"))
  }

  /** A merge-on-read write (a deletion-vector version the reads then pay
    * for), a lookup and a scan. */
  def warmup(): Unit = Seq("upsert_mor", "lookup", "scan")
    .foreach { k => prepare(k); run(k)() }

  private def pickKey(): Long =
    if (rng.nextDouble() < 0.7) {
      val hot = recency.recent(HotKeys)
      hot(math.min(hot.size - 1, zipf.draw(rng)))
    } else keys(rng.nextInt(keys.size))

  /** Lookups, one scan and one small write in seeded order, maintenance
    * right after the write. */
  def block(): Seq[String] =
    rng.shuffle(Seq.fill(LookupsPerBlock)("lookup") ++ Seq("scan", "upsert_mor"))
      .flatMap(k => if (k == "upsert_mor") Seq(k, "maintain") else Seq(k))

  override def prepare(kind: String): Unit = kind match {
    case "lookup" => lookupKey = pickKey()
    case "upsert_mor" =>
      writes += 1
      val rows = upsertBatch(BatchRows)
      pending = Some((load(rows, s"upsert-$writes"), rows))
    case _ =>
  }

  private val flatCols = RepoSchema.flat.fieldNames.map(col).toIndexedSeq

  def run(kind: String): () => Unit = kind match {
    case "lookup" =>
      val k = lookupKey
      val rows = Trace.span("ext.MergeTable.read_keys")(Workload.materialize(
        MergeTable.readKeys(spark, table, Seq(k)).select(flatCols: _*)))
      () => {
        val got = rows()
        check(got.size == 1 && ServeTable.sameRow(got.head, model(k)),
          s"lookup $k returned ${got.mkString(";")}")
      }
    case "scan" =>
      val checks = Trace.span("ext.MergeTable.scan") {
        ServeTable.queries.map { case (name, q) =>
          name -> Workload.materialize(q(MergeTable.readTable(spark, table)))
        }
      }
      () => checks.foreach { case (name, rows) =>
        val got = ServeTable.canonical(name, rows())
        val want = ServeTable.oracle(name, model.values)
        check(got == want, s"$name returned $got, oracle $want")
      }
    case "upsert_mor" =>
      val (file, rows) = pending.get
      pending = None
      val stats = Trace.span("ext.MergeTable.upsert_mor")(
        MergeTable.upsertMor(spark, table, read(file)))
      val matched = rows.count(x => model.contains(x.id)).toLong
      () => {
        check(stats.rowsMatched == matched &&
            stats.rowsInserted == rows.size - matched,
          s"upsertMor matched ${stats.rowsMatched} inserted " +
            s"${stats.rowsInserted}, oracle $matched / ${rows.size - matched}")
        apply(rows)
      }
    case "maintain" =>
      val done = Trace.span("ext.MergeTable.maintain")(
        MergeTable.maintain(spark, table))
      Trace.count("ext.MergeTable.maintain.runs", done.size)
      () => ()
  }

  def finish(): Seq[String] = {
    val got = MergeTable.readTable(spark, table).select(flatCols: _*).collect()
    val byId = got.map(r => r.getLong(0) -> r).toMap
    if (byId.keySet != model.keySet || got.length != model.size)
      Seq(s"table holds ${got.length} rows, oracle ${model.size}")
    else model.values.filterNot(x => ServeTable.sameRow(byId(x.id), x))
      .map(x => s"row ${x.id} differs").toSeq
  }

  def storedBytes(): Long = Workload.du(dir.resolve("silver"))
  def inputBytes: Long = consumed

  override def layerEnd(): Map[String, Double] = Map(
    "ext.MergeTable.files_live" ->
      MergeTable.detail(spark, table).select("files").head().getLong(0).toDouble,
    "ext.MergeTable.versions" -> MergeTable.versions(spark, table).size.toDouble)
}

object ServeTable {
  val StarFloor = 100L

  /** The README's three analyst queries over the silver table. */
  val queries: Seq[(String, org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame)] = Seq(
    "topk_stars" -> (t => t.select("id", "full_name", "stargazers_count")
      .orderBy(desc("stargazers_count"), asc("id")).limit(10)),
    "count_by_language" -> (t => t.groupBy("language")
      .agg(count("*").as("cnt"))),
    "avg_stars_filtered" -> (t => t.filter(col("stargazers_count") > StarFloor)
      .groupBy("language")
      .agg(avg("stargazers_count").as("avg_stars"), count("*").as("cnt"))))

  /** Query output in a canonical, order-free form. */
  def canonical(name: String, rows: Seq[Row]): Seq[String] = name match {
    case "topk_stars" => rows.map(r => (r.getLong(2), r.getLong(0)))
      .sortBy { case (s, id) => (-s, id) }.map(_.toString)
    case _ => rows.map(r => s"${r.getString(0)}=${r.toSeq.tail.mkString(",")}")
      .sorted
  }

  def oracle(name: String, xs: Iterable[Repo]): Seq[String] = name match {
    case "topk_stars" => xs.toSeq.map(x => (x.stars.get, x.id))
      .sortBy { case (s, id) => (-s, id) }.take(10).map(_.toString)
    case "count_by_language" => xs.groupBy(_.language.get)
      .map { case (l, g) => s"$l=${g.size}" }.toSeq.sorted
    case _ => xs.filter(_.stars.get > StarFloor).groupBy(_.language.get)
      .map { case (l, g) =>
        s"$l=${g.map(_.stars.get).sum.toDouble / g.size},${g.size}" }
      .toSeq.sorted
  }

  /** A flat silver row (RepoSchema.flat order) equals the model record. */
  def sameRow(r: Row, x: Repo): Boolean = {
    def ts(i: Int) = r.getTimestamp(i).toInstant.toString
    r.getLong(0) == x.id && r.getString(1) == x.name &&
      r.getString(2) == x.fullName && r.getString(3) == x.htmlUrl &&
      Option(r.getString(4)) == x.description &&
      (if (r.isNullAt(5)) None else Some(r.getLong(5))) == x.stars &&
      Option(r.getString(6)) == x.language &&
      ts(7) == x.createdAt && ts(8) == x.updatedAt &&
      r.getString(9) == x.ownerLogin && r.getLong(10) == x.ownerId &&
      r.getString(11) == x.ownerType && r.getString(12) == x.avatarUrl &&
      r.getString(13) == x.ownerUrl
  }
}
