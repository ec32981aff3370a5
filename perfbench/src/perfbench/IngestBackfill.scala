package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, sum}

import graft.ext.{Ivm, MergeTable}
import graft.ingest._

/** The list endpoint: the page after `since` is the `graft-repos` keyset
  * scan over the list file (new ids, `pageDelayMs` 0), plus that page's
  * re-delivered earlier ids. One list request per fetch. */
final class PageListSource(gh: Gen.Github) extends RepoSource {
  private var calls = 0L
  def fetch(spark: SparkSession, since: Long, limit: Int): DataFrame = {
    calls += 1
    val p = gh.pages.find(_.maxId > since).getOrElse(
      throw new IllegalStateException("fixture exhausted"))
    require(p.ids.size <= limit, s"page ${p.index} exceeds the budget")
    val fresh = spark.read.format("graft-repos")
      .option("path", gh.listFile).option("since", since.toString)
      .option("pageSize", p.newIds.size.toString).option("pageDelayMs", "0")
      .load().limit(p.newIds.size)
    p.redeliveries.fold(fresh)(f =>
      fresh.unionByName(spark.read.schema(RepoSchema.raw).json(f)))
  }
  override def apiCalls: Long = calls
}

/** Detail endpoint over the generated detail file; an id without a
  * record answers like a 404. The file is parsed once per JVM. */
final class FixtureDetailClients(file: String)
    extends DetailEnricher.DetailClientFactory {
  def apply(): DetailEnricher.DetailClient = new DetailEnricher.DetailClient {
    private val byId = FixtureDetailClients.load(file)
    def fetchDetail(id: Long, ownerLogin: String, name: String)
        : Option[String] = byId.get(id)
  }
}

object FixtureDetailClients {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Long, String]]()
  private val IdRe = """"id":(\d+)""".r
  def load(file: String): Map[Long, String] =
    cache.computeIfAbsent(file, f => {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(l =>
        IdRe.findFirstMatchIn(l).get.group(1).toLong -> l).toMap
      finally src.close()
    })
}

/** The timing wrapper the ingest layer sees as its source: a span around
  * `CachedDetailRepoSource.fetch`, counters passed through. */
final class TimedSource(inner: RepoSource) extends RepoSource {
  def fetch(spark: SparkSession, since: Long, limit: Int): DataFrame =
    Trace.span("sources.fetch")(inner.fetch(spark, since, limit))
  override def failedCount: Long = inner.failedCount
  override def apiCalls: Long = inner.apiCalls
  override def cacheHits: Long = inner.cacheHits
}

/** Write-heavy: drain the GitHub fixture page by page through
  * IncrementalRunner over a CachedDetailRepoSource, upsert every valid
  * batch into a silver MergeTable keyed by id, publish the changefeed
  * and maintain a stars-by-language IVM view. */
final class IngestBackfill(spark: SparkSession, dir: Path, seed: Long)
    extends Workload(spark, dir, seed) {
  val kinds = Seq("batch")
  val BatchesPerBlock = 3
  val PageSize = 100
  val Pages = 60

  private var gh: Gen.Github = _
  private var runner: IncrementalRunner = _
  private val silver = path("silver")
  private val view = path("view")
  private val feed = path("feed")
  private lazy val cfCursor = new FileCursorStore(path("state/changefeed"))
  private lazy val ivmCursor = new FileCursorStore(path("state/ivm"))
  private var page = 0
  private var consumed = 0L
  // oracle state: the bronze cache (first fetched detail per id) and the
  // silver table (latest valid record per id)
  private val bronze = mutable.Map.empty[Long, Repo]
  private val model = mutable.Map.empty[Long, Repo]
  private var rowsLanded = 0L

  /** Page 0's valid, fetchable records: the silver snapshot the backfill
    * resumes from. */
  private def snapshot = gh.pages(0).newIds.map(gh.repos)
    .filter(x => x.valid && !gh.missing(x.id))

  def generate(): Unit = {
    gh = Gen.github(dir.resolve("input"), seed, Pages, PageSize)
    Gen.writeLines(dir.resolve("input/snapshot.jsonl"), snapshot.map(_.flatJson))
  }

  /** Silver from the snapshot, the runner's cursor at the snapshot's last
    * id, both feed cursors bootstrapped at the created version. */
  def build(): Unit = {
    val snap = dir.resolve("input/snapshot.jsonl")
    MergeTable.create(spark.read.schema(RepoSchema.flat).json(snap.toString),
      silver, "id")
    consumed += java.nio.file.Files.size(snap)
    snapshot.foreach(x => model(x.id) = x)
    new FileCursorStore(path("state/runner")).commit(gh.pages(0).maxId)
    page = 1
    val source = new TimedSource(new CachedDetailRepoSource(
      new PageListSource(gh), path("bronze"),
      new FixtureDetailClients(gh.detailFile)))
    runner = new IncrementalRunner(spark, source, path("state/runner"),
      env = _ => None)
    ChangefeedRunner.runOnce(spark, silver, feed, cfCursor)
    Ivm.init(MergeTable.readTable(spark, silver), view, Seq("language"),
      Seq("stargazers_count"), Nil)
    ivmCursor.commit(MergeTable.versions(spark, silver).last)
  }

  def warmup(): Unit = run("batch")()

  def block(): Seq[String] = Seq.fill(BatchesPerBlock)("batch")

  /** Fetch → validate → sink one page; returns the batch's valid rows
    * read back from its sink and the oracle check of the runner's
    * metrics and the upsert's stats. */
  private def ingest(): (DataFrame, MergeTable.CowStats => Unit) = {
    require(page < gh.pages.size, "fixture exhausted")
    val p = gh.pages(page)
    val sink = path(f"sink/batch=$page%05d")
    val metrics = Trace.span("ingest.run_once")(
      runner.runOnce(sink, path("quarantine"), PageSize)).collect()(0)
    page += 1
    // oracle: replay the page against the modelled bronze cache
    var hits = 0L; var misses = 0L; var failed = 0L
    val served = p.ids.flatMap { id =>
      if (bronze.contains(id)) { hits += 1; Some(bronze(id)) }
      else {
        misses += 1
        if (gh.missing(id)) { failed += 1; None }
        else {
          bronze(id) = gh.repos(id)
          consumed += gh.detailBytes(id)
          Some(gh.repos(id))
        }
      }
    }
    consumed += p.inputBytes
    val (ok, bad) = served.partition(_.valid)
    Trace.count("sources.requested", p.ids.size)
    Trace.count("sources.api_calls", metrics.getAs[Long]("api_calls"))
    Trace.count("sources.cache_hits", metrics.getAs[Long]("cache_hits"))
    Trace.count("sources.failed", metrics.getAs[Long]("failed_count"))
    Trace.count("ingest.rows_valid", metrics.getAs[Long]("valid_count"))
    Trace.count("ingest.rows_invalid", metrics.getAs[Long]("invalid_count"))
    val valid = spark.read.schema(RepoSchema.flat).json(sink)
      .select(RepoSchema.flat.fieldNames.map(col).toIndexedSeq: _*)
    val inserted = ok.count(x => !model.contains(x.id)).toLong
    val verify = (s: MergeTable.CowStats) => {
      val got = (metrics.getAs[Long]("valid_count"),
        metrics.getAs[Long]("invalid_count"),
        metrics.getAs[Long]("failed_count"), metrics.getAs[Long]("api_calls"),
        metrics.getAs[Long]("cache_hits"), metrics.getAs[Long]("last_repo_id"))
      val want = (ok.size.toLong, bad.size.toLong, failed, misses + 1, hits,
        p.maxId)
      check(got == want, s"page ${p.index}: runner metrics $got, oracle $want")
      check(s.rowsInserted == inserted && s.rowsMatched == ok.size - inserted,
        s"page ${p.index}: upsert inserted ${s.rowsInserted} matched " +
          s"${s.rowsMatched}, oracle $inserted / ${ok.size - inserted}")
      ok.foreach(x => model(x.id) = x)
      rowsLanded += ok.size
    }
    (valid, verify)
  }

  def run(kind: String): () => Unit = {
    val (valid, verify) = ingest()
    val before = if (Trace.enabled) Workload.du(dir.resolve("silver")) else 0L
    val stats = Trace.span("ext.MergeTable.upsert")(
      MergeTable.upsert(spark, silver, valid))
    if (Trace.enabled) {
      Trace.count("ext.MergeTable.upsert.buckets_rewritten", stats.bucketsRewritten)
      Trace.count("ext.MergeTable.upsert.files_read", stats.filesRead)
      Trace.count("ext.MergeTable.upsert.files_written", stats.filesWritten)
      Trace.count("ext.MergeTable.upsert.rows_matched", stats.rowsMatched)
      Trace.count("ext.MergeTable.upsert.rows_inserted", stats.rowsInserted)
      Trace.count("upsert.bytes_added",
        Workload.du(dir.resolve("silver")) - before)
      Trace.count("upsert.bytes_in", gh.pages(page - 1).inputBytes)
    }
    val cf = Trace.span("ingest.changefeed")(
      ChangefeedRunner.runOnce(spark, silver, feed, cfCursor))
    Trace.count("ingest.changefeed.rows", cf.fold(0L)(_.rows))
    Trace.span("ingest.ivm")(IvmRunner.runOnce(spark, feed, view, ivmCursor,
      Seq("language"), Seq("stargazers_count"), Nil))
    () => verify(stats)
  }

  def finish(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val table = MergeTable.readTable(spark, silver)
    val rows = table.select(RepoSchema.flat.fieldNames.map(col).toIndexedSeq: _*)
      .collect()
    val got = rows.map(r => r.getLong(0) -> r).toMap
    if (got.keySet != model.keySet)
      errs += s"silver holds ${got.size} keys, oracle ${model.size}"
    else model.values.foreach { x =>
      if (!ServeTable.sameRow(got(x.id), x)) errs += s"silver row ${x.id} differs"
    }
    // the maintained view against the oracle and against a fresh group-by
    val want = model.values.groupBy(_.language.get).map { case (l, xs) =>
      l -> (xs.size.toLong, xs.map(_.stars.get).sum) }
    val served = Ivm.serve(spark, view, Seq("language"), Seq("stargazers_count"),
      Nil, None).collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val fresh = table.groupBy("language")
      .agg(count("*"), sum("stargazers_count"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    if (served != want) errs += s"IVM view $served, oracle $want"
    if (fresh != served) errs += s"IVM view $served, fresh group-by $fresh"
    errs.toSeq
  }

  def storedBytes(): Long = Workload.du(dir.resolve("silver"), dir.resolve("view"))
  def inputBytes: Long = consumed
  override def rows: Long = rowsLanded

  override def layerEnd(): Map[String, Double] = Map(
    "ext.MergeTable.files_live" ->
      MergeTable.detail(spark, silver).select("files").head().getLong(0).toDouble,
    "ext.MergeTable.versions" -> MergeTable.versions(spark, silver).size.toDouble)
}
