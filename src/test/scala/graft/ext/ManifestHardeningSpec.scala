package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Manifest-reader hardening: the reader tolerates foreign token
  * lines, refuses a manifest missing a required line, and the
  * per-file stats key is path-shape-independent (a table dir
  * containing "/data/" must not silently disable stats pruning). */
class ManifestHardeningSpec extends SparkSpec {

  test("a free-form #tok= line (no ':<long>' suffix) is skipped by the " +
      "universal manifest reader instead of failing every read/write " +
      "of the table; well-formed tokens still answer") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tok")
      .resolve("t").toString
    MergeTable.create(
      (1 to 50).map(i => (i.toLong, i.toLong)).toDF("key", "v1"), dir, "key")
    // simulate a manifest written by an older/foreign tool: append
    // token lines the new parser's ':<long>' shape does not cover
    val man = java.nio.file.Paths.get(dir, "_manifests", "v000000001")
    java.nio.file.Files.write(man,
      "\n#tok=legacy-free-form-marker\n#tok=foreign:not-a-number\n#tok=good-stream:42\n"
        .getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    // reads and writes must survive the foreign lines...
    assert(MergeTable.readTable(spark, dir).count() === 50L)
    MergeTable.upsert(spark, dir, Seq((1L, 999L)).toDF("key", "v1"))
    assert(MergeTable.readTable(spark, dir)
      .filter(col("key") === 1L).select("v1")
      .collect().head.getLong(0) === 999L)
    // ...the parseable token still answers (and was carried forward
    // through the upsert commit), and the unparseable ones read as
    // "no batch recorded" — the safe at-least-once direction
    assert(MergeTable.lastAppliedBatch(spark, dir, "good-stream")
      === Some(42L))
    assert(MergeTable.lastAppliedBatch(spark, dir, "legacy-free-form-marker")
      === None)
    assert(MergeTable.lastAppliedBatch(spark, dir, "foreign") === None)
  }

  test("stats CHECKPOINT lifecycle: a long version history persists " +
      "its stats union as _stats.vN.ckpt (read O(ckpt + tail), not " +
      "O(versions)); pruning, time travel, CDC, and token gates all " +
      "still answer over it; a corrupt checkpoint degrades to a full " +
      "rebuild; vacuum drops checkpoints and the next read recovers") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
      .resolve("t").toString
    MergeTable.create(
      (1 to 3200).map(i => (i.toLong, i.toLong * 10)).toDF("key", "cents"),
      dir, "key", hexDigits = 1)
    MergeTable.optimize(spark, dir, "cents",
      maxRecordsPerFile = Some(100L)) // v2: striped, prunable
    (1 to 9).foreach { i => // v3..v11: a long history
      MergeTable.upsert(spark, dir,
        Seq((i.toLong, i.toLong * 10 + 1)).toDF("key", "cents"))
    }
    graft.plans.StatsFilePruning.enable(spark)
    def plannedFiles(lo: Long, hi: Long): Long = {
      val q = MergeTable.readTable(spark, dir)
        .filter(col("cents").between(lo, hi))
      q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
      }.get
    }
    def boxRows(lo: Long, hi: Long): Long =
      MergeTable.readTable(spark, dir)
        .filter(col("cents").between(lo, hi)).count()
    val total = MergeTable.readTable(spark, dir).inputFiles.length.toLong
    // first index read over the >8-version tail persists the ckpt
    assert(plannedFiles(2000L, 3000L) < total, "pruning must fire")
    val md = java.nio.file.Paths.get(dir, "_manifests")
    def ckpts(): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(md)
      try s.iterator().asScala.filter(_.getFileName.toString.matches(
        "_stats\\.v\\d{9}\\.ckpt")).toList
      finally s.close()
    }
    assert(ckpts().nonEmpty, "the stats union must checkpoint")
    // a NEW commit invalidates the in-memory cache; the re-read rides
    // ckpt + 1-version tail and still prunes with exact rows
    MergeTable.upsert(spark, dir,
      Seq((500L, 99999L)).toDF("key", "cents"))
    assert(plannedFiles(2000L, 3000L) < total)
    assert(boxRows(2000L, 3000L) ===
      (200 to 300).count(i => i != 500).toLong)
    // the rest of the metadata surface is per-version self-contained
    // and must be untouched by the checkpoint's existence
    assert(MergeTable.readTable(spark, dir, Some(1L)).count() === 3200L)
    assert(MergeTable.changes(spark, dir, 1L, 3L).count() >= 1L)
    assert(MergeTable.lastAppliedBatch(spark, dir, "nope") === None)
    // corruption: garbage in the ckpt file is treated as ABSENT —
    // stats rebuild from every retained manifest, identical pruning
    ckpts().foreach(p => java.nio.file.Files.write(p,
      "not|a:valid:ckpt\u0000".getBytes("UTF-8")))
    MergeTable.upsert(spark, dir, // invalidate the in-memory cache
      Seq((501L, 99998L)).toDF("key", "cents"))
    assert(plannedFiles(2000L, 3000L) < total)
    assert(boxRows(2000L, 3000L) ===
      (200 to 300).count(i => i != 500 && i != 501).toLong)
    // PARSEABLE garbage — a plausible header whose CRC disagrees with
    // the payload — must also read as absent: content corruption
    // triggers the same full rebuild as an IO error, never a silently
    // accepted base that masks stats for versions ≤ N
    ckpts().foreach(p => java.nio.file.Files.write(p,
      "#graft-stats-ckpt:2:12345\nfake/file.parquet|cents:0:0"
        .getBytes("UTF-8")))
    MergeTable.upsert(spark, dir, // invalidate the in-memory cache
      Seq((502L, 99997L)).toDF("key", "cents"))
    assert(plannedFiles(2000L, 3000L) < total)
    assert(boxRows(2000L, 3000L) ===
      (200 to 300).count(i => i != 500 && i != 501 && i != 502).toLong)
    // vacuum expires manifests → checkpoints drop with them; the next
    // read rebuilds from the retained manifests only and still prunes
    MergeTable.vacuum(spark, dir, retainVersions = 2,
      minFileAgeMs = 0L)
    assert(ckpts().isEmpty, "vacuum must drop stats checkpoints")
    assert(plannedFiles(2000L, 3000L) < total)
    assert(boxRows(2000L, 3000L) ===
      (200 to 300).count(i => i != 500 && i != 501).toLong)
  }

  test("per-file stats (and the pruning they feed) survive a table " +
      "dir that itself contains '/data/' — the stats key anchors to " +
      "the entry's own path segments, not the first '/data/' match") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-st")
      .resolve("data").resolve("t").toString // dir CONTAINS /data/
    MergeTable.create(
      (1 to 800).map(i => (i.toLong, i.toLong * 10)).toDF("key", "cents"),
      dir, "key")
    MergeTable.optimizeZOrder(spark, dir, "cents", "key",
      maxRecordsPerFile = Some(100L))
    val idx = MergeTable.fileStatsIndex(spark, dir)
    val entries = MergeTable.readTable(spark, dir).inputFiles
      .map(_.split("/data/").last).toSet
    assert(idx.nonEmpty, "stats index must not be empty")
    assert(entries.exists(idx.contains),
      s"stats keys must match manifest entry relpaths; got " +
        s"${idx.keySet.take(2)} vs entries ${entries.take(2)}")
    graft.plans.StatsFilePruning.enable(spark)
    val q = MergeTable.readTable(spark, dir)
      .filter(col("cents").between(1000L, 2000L))
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
      }.get
    val total = MergeTable.readTable(spark, dir).inputFiles.length
    assert(scanned < total,
      s"stats pruning must engage under a /data/-bearing dir: " +
        s"$scanned of $total files planned")
    assert(q.count() === (100 to 200).size.toLong)
  }
  test("a manifest missing its #format= line, a bucket's #fp= line, " +
      "or a live epoch's #esch= line is refused by readTable, fsckDeep " +
      "and changes with the named error — never read as rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-refuse")
      .resolve("t").toString
    MergeTable.create(
      (1 to 120).map(i => (i.toLong, s"v$i")).toDF("key", "value"),
      dir, "key", 1)
    MergeTable.upsert(spark, dir,
      Seq((1L, "x", "extra")).toDF("key", "value", "note"))
    // one damaged copy of the table per required line kind: the head
    // manifest loses the first line starting with `tag`
    def damagedCopy(tag: String): String = {
      val src = java.nio.file.Paths.get(dir)
      val dst = java.nio.file.Files.createTempDirectory("graft-damaged")
        .resolve("t")
      val walk = java.nio.file.Files.walk(src)
      try walk.forEach { p =>
        java.nio.file.Files.copy(p, dst.resolve(src.relativize(p))): Unit
      } finally walk.close()
      val man = dst.resolve("_manifests").resolve("v000000002")
      val lines = java.nio.file.Files.readAllLines(man)
      val drop = lines.indexOf(
        lines.stream().filter(_.startsWith(tag)).findFirst().get)
      lines.remove(drop)
      java.nio.file.Files.write(man, lines)
      dst.toString
    }
    Seq("#format=", "#fp=", "#esch=").foreach { tag =>
      val d = damagedCopy(tag)
      def refused(what: String)(f: => Any): Unit = {
        val e = intercept[MergeTable.UnreadableManifestException](f)
        assert(e.getMessage.contains(tag.dropRight(1)),
          s"$what on a copy without $tag: ${e.getMessage}")
      }
      refused("readTable")(MergeTable.readTable(spark, d).collect())
      refused("fsckDeep")(MergeTable.fsckDeep(spark, d))
      refused("changes")(MergeTable.changes(spark, d, 1L, 2L).collect())
      // the undamaged predecessor still reads
      assert(MergeTable.readTable(spark, d, Some(1L)).count() === 120L)
    }
  }
}
