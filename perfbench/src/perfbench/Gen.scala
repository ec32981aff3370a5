package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** One GitHub repository as the detail endpoint returns it. `None` in an
  * optional field is a required field the API left null — the record
  * fails validation and lands in quarantine. */
final case class Repo(id: Long, name: String, description: Option[String],
    stars: Option[Long], language: Option[String], createdAt: String,
    updatedAt: String, ownerLogin: String, ownerId: Long,
    ownerType: String) {
  def fullName: String = s"$ownerLogin/$name"
  def htmlUrl: String = s"https://github.com/$fullName"
  def avatarUrl: String = s"https://avatars.githubusercontent.com/u/$ownerId"
  def ownerUrl: String = s"https://github.com/$ownerLogin"
  def valid: Boolean =
    description.isDefined && stars.isDefined && language.isDefined

  /** Raw detail JSON (nested owner), the shape `RepoSchema.raw` reads. */
  def detailJson: String = {
    val j = Gen.jstr _
    s"""{"id":$id,"name":${j(name)},"full_name":${j(fullName)},""" +
      s""""html_url":${j(htmlUrl)},"description":${Gen.jopt(description)},""" +
      s""""stargazers_count":${stars.fold("null")(_.toString)},""" +
      s""""language":${Gen.jopt(language)},"created_at":${j(createdAt)},""" +
      s""""updated_at":${j(updatedAt)},"owner":{"login":${j(ownerLogin)},""" +
      s""""id":$ownerId,"type":${j(ownerType)},"avatar_url":${j(avatarUrl)},""" +
      s""""html_url":${j(ownerUrl)}}}"""
  }

  /** Flat silver JSON (the 14 columns of `RepoSchema.flat`). */
  def flatJson: String = {
    val j = Gen.jstr _
    s"""{"id":$id,"name":${j(name)},"full_name":${j(fullName)},""" +
      s""""html_url":${j(htmlUrl)},"description":${Gen.jopt(description)},""" +
      s""""stargazers_count":${stars.fold("null")(_.toString)},""" +
      s""""language":${Gen.jopt(language)},"created_at":${j(createdAt)},""" +
      s""""updated_at":${j(updatedAt)},"owner_login":${j(ownerLogin)},""" +
      s""""owner_id":$ownerId,"owner_type":${j(ownerType)},""" +
      s""""owner_avatar_url":${j(avatarUrl)},"owner_url":${j(ownerUrl)}}"""
  }
}

/** One list page of the GitHub fixture: `ids` in delivery order (new ids
  * ascending, then re-delivered earlier ids); the re-deliveries' summary
  * rows are in `redeliveries`, when there are any. */
final case class Page(index: Int, ids: Seq[Long], newIds: Seq[Long],
    redeliveries: Option[String], inputBytes: Long) {
  def maxId: Long = newIds.max
}

/** A document for the index side of `serve_mixed`. kind: 0 unique, 1 exact
  * duplicate, 2 near duplicate. */
final case class Doc(id: Long, text: String, emb: Array[Float], kind: Int)

/** Seeded input generators. Every generator is a pure function of its
  * seed: the same seed writes byte-identical files. */
object Gen {
  val Languages: IndexedSeq[String] = IndexedSeq("Python", "JavaScript",
    "Go", "Rust", "Java", "TypeScript", "C++", "Scala", "Ruby", "C",
    "Kotlin", "Haskell")
  val Dim = 64
  private val Words = IndexedSeq("data", "pipeline", "spark", "table",
    "stream", "index", "vector", "query", "merge", "cursor", "batch",
    "schema", "token", "filter", "join", "window", "shard", "cache")

  def jstr(s: String): String = Stats.json(s)
  def jopt(s: Option[String]): String = s.fold("null")(jstr)

  def writeLines(p: Path, lines: Iterable[String]): Long = {
    Files.createDirectories(p.getParent)
    val bytes = lines.mkString("", "\n", "\n").getBytes(UTF_8)
    Files.write(p, bytes)
    bytes.length.toLong
  }

  private def iso(epochS: Long): String =
    java.time.Instant.ofEpochSecond(epochS).toString

  /** Zipf-ish language skew: a few languages dominate. */
  private def language(r: scala.util.Random): String =
    Languages(math.min(Languages.size - 1,
      (math.abs(r.nextGaussian()) * 3.2).toInt))

  def repo(r: scala.util.Random, id: Long): Repo = {
    val created = 1262304000L + r.nextInt(400000000)
    val owner = 1000L + r.nextInt(5000000)
    Repo(id, s"repo-$id-${Words(r.nextInt(Words.size))}",
      Some(s"${Words(r.nextInt(Words.size))} ${Words(r.nextInt(Words.size))} project $id"),
      Some((math.exp(r.nextDouble() * 10) - 1).toLong), Some(language(r)),
      iso(created), iso(created + r.nextInt(100000000)),
      s"user$owner", owner, if (r.nextInt(10) == 0) "Organization" else "User")
  }

  /** Null one required field: the record fails validation. */
  private def breakRepo(r: scala.util.Random, x: Repo): Repo =
    r.nextInt(3) match {
      case 0 => x.copy(description = None)
      case 1 => x.copy(stars = None)
      case _ => x.copy(language = None)
    }

  // ---------------------------------------------------------------------
  // GitHub list + detail fixture (ingest_backfill)

  final case class Github(pages: IndexedSeq[Page], repos: Map[Long, Repo],
      missing: Set[Long], listFile: String, detailFile: String,
      detailBytes: Map[Long, Long])

  val InvalidShare = 0.05
  val MissingShare = 0.03
  val RedeliverShare = 0.10

  /** `nPages` list pages of `pageSize` rows. New ids ascend through one
    * list file (the keyset endpoint's data); from the second page on, a
    * share of each page re-delivers earlier ids with a new star count and
    * update time, from a per-page file. A share of new records has a
    * required field nulled and a share has no detail record (the detail
    * fetch fails like a 404). A page's highest id always resolves, so the
    * keyset cursor (max id seen) always reaches the page's end. */
  def github(dir: Path, seed: Long, nPages: Int, pageSize: Int): Github = {
    val r = new scala.util.Random(seed * 1000003L + 11)
    val repos = mutable.LinkedHashMap.empty[Long, Repo]
    val missing = mutable.Set.empty[Long]
    val delivered = mutable.ArrayBuffer.empty[Long]
    val pages = mutable.ArrayBuffer.empty[Page]
    val listLines = mutable.ArrayBuffer.empty[String]
    var next = 1000L
    for (p <- 0 until nPages) {
      val nRe = if (p == 0) 0 else (pageSize * RedeliverShare).toInt
      val newIds = (0 until pageSize - nRe).map { _ =>
        next += 1 + r.nextInt(5); next
      }
      newIds.foreach { id =>
        val x = repo(r, id)
        repos(id) = if (r.nextDouble() < InvalidShare) breakRepo(r, x) else x
        if (id != newIds.last && r.nextDouble() < MissingShare) missing += id
      }
      val re = r.shuffle(delivered.indices.toVector).take(nRe)
        .map(delivered(_)).sorted
      val fresh = newIds.map(id => listJson(repos(id), None))
      listLines ++= fresh
      val reFile = Option.when(re.nonEmpty)(
        dir.resolve(f"redeliver/page-$p%05d.jsonl"))
      val reBytes = reFile.fold(0L)(f =>
        writeLines(f, re.map(id => listJson(repos(id), Some(r)))))
      delivered ++= newIds
      pages += Page(p, newIds ++ re, newIds, reFile.map(_.toString),
        fresh.map(_.getBytes(UTF_8).length + 1L).sum + reBytes)
    }
    val listFile = dir.resolve("list.jsonl")
    writeLines(listFile, listLines)
    val detailLines = repos.values.filterNot(x => missing(x.id))
      .map(x => x.id -> x.detailJson).toSeq
    val detailFile = dir.resolve("detail.jsonl")
    writeLines(detailFile, detailLines.map(_._2))
    Github(pages.toIndexedSeq, repos.toMap, missing.toSet,
      listFile.toString, detailFile.toString,
      detailLines.map { case (id, l) => id -> (l.getBytes(UTF_8).length + 1L) }
        .toMap)
  }

  /** A list-endpoint summary row; a re-delivery carries a newer star
    * count and update time than the detail record first fetched. */
  private def listJson(x: Repo, redeliver: Option[scala.util.Random]): String = {
    val stars = x.stars.getOrElse(0L) + redeliver.fold(0)(_.nextInt(50) + 1)
    val updated = redeliver.fold(x.updatedAt)(_ =>
      java.time.Instant.parse(x.updatedAt).plusSeconds(86400).toString)
    s"""{"id":${x.id},"name":${jstr(x.name)},"full_name":${jstr(x.fullName)},""" +
      s""""owner":{"login":${jstr(x.ownerLogin)}},"stargazers_count":$stars,""" +
      s""""updated_at":${jstr(updated)}}"""
  }

  // ---------------------------------------------------------------------
  // Silver rows (serve_mixed)

  /** `n` valid repositories with ids scattered over a wide range, so the
    * md5 bucketing spreads them over all 256 buckets. */
  def silver(r: scala.util.Random, n: Int, taken: mutable.Set[Long]): Seq[Repo] =
    Iterator.continually(1L + r.nextInt(50000000)).filter(taken.add)
      .take(n).map(id => repo(r, id)).toSeq

  /** A newer version of `x`: stars moved, update time advanced. */
  def bump(r: scala.util.Random, x: Repo): Repo = x.copy(
    stars = x.stars.map(s => s + 1 + r.nextInt(100)),
    updatedAt = java.time.Instant.parse(x.updatedAt)
      .plusSeconds(60 + r.nextInt(86400)).toString)

  // ---------------------------------------------------------------------
  // Documents and clustered embeddings (serve_mixed, index side)

  /** `k` cluster centres on the unit sphere. */
  def centres(r: scala.util.Random, k: Int): IndexedSeq[Array[Double]] =
    IndexedSeq.fill(k)(unit(Array.fill(Dim)(r.nextGaussian())))

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** A member of cluster `c`: centre plus isotropic noise, unit length. */
  def member(r: scala.util.Random, c: Array[Double]): Array[Float] =
    unit(c.map(_ + r.nextGaussian() * 0.2)).map(_.toFloat)

  def text(r: scala.util.Random, id: Long): String =
    (s"doc $id" +: Seq.fill(12)(Words(r.nextInt(Words.size)))).mkString(" ")

  def docJson(d: Doc): String =
    s"""{"doc_id":${d.id},"text":${jstr(d.text)},"embedding":""" +
      d.emb.map(java.lang.Float.toString).mkString("[", ",", "]") + "}"

  def vecJson(id: Long, v: Array[Float]): String =
    s"""{"vec_id":$id,"embedding":""" +
      v.map(java.lang.Float.toString).mkString("[", ",", "]") + "}"
}

/** Documents for the index side of `serve_mixed`: a search corpus, and an
  * admission stream whose duplicates copy an earlier admitted document's
  * text and embedding (exact) or nudge an earlier admitted unique's
  * embedding by a relative 1e-4 under a new text (near). Uniques are kept
  * pairwise below `MaxUniqueCos` within their cluster, so no two distinct
  * documents are near duplicates by accident. */
final class DocGen(seed: Long, clusters: Int) {
  val MaxUniqueCos = 0.8
  private val r = new scala.util.Random(seed * 7919L + 3)
  val centres: IndexedSeq[Array[Double]] = Gen.centres(r, clusters)
  private val byCluster =
    IndexedSeq.fill(clusters)(mutable.ArrayBuffer.empty[Array[Float]])
  // duplicate sources: admitted uniques, admitted text-distinct documents
  private val uniques = mutable.ArrayBuffer.empty[Doc]
  private val texts = mutable.ArrayBuffer.empty[Doc]
  private var nextId = 1L

  private def unique(admitted: Boolean): Doc = {
    val c = r.nextInt(clusters)
    var v = Gen.member(r, centres(c))
    while (byCluster(c).exists(u => Gen.cosine(u, v) >= MaxUniqueCos))
      v = Gen.member(r, centres(c))
    byCluster(c) += v
    val d = Doc(nextId, Gen.text(r, nextId), v, 0)
    nextId += 1
    if (admitted) { uniques += d; texts += d }
    d
  }

  /** `n` unique documents: the search corpus. */
  def corpus(n: Int): Seq[Doc] = Seq.fill(n)(unique(admitted = false))

  /** One admission batch of `n` documents with the given duplicate
    * shares; sources are drawn from the admission stream so far. */
  def batch(n: Int, exactShare: Double, nearShare: Double): Seq[Doc] =
    Seq.fill(n) {
      val u = r.nextDouble()
      if (uniques.isEmpty) unique(admitted = true)
      else if (u < exactShare) {
        val s = texts(r.nextInt(texts.size))
        val d = Doc(nextId, s.text, s.emb, 1)
        nextId += 1; d
      } else if (u < exactShare + nearShare) {
        val s = uniques(r.nextInt(uniques.size))
        val v = Gen.unit(s.emb.map(_.toDouble + r.nextGaussian() * 1.25e-5))
          .map(_.toFloat)
        val d = Doc(nextId, s"near $nextId ${s.text}", v, 2)
        nextId += 1
        texts += d; d
      } else unique(admitted = true)
    }

  /** `n` queries drawn like documents, with ids outside the corpus. */
  def queries(n: Int, base: Long): Seq[(Long, Array[Float])] =
    (0 until n).map(i =>
      (base + i, Gen.member(r, centres(r.nextInt(clusters)))))
}
