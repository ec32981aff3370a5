package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** compactDvs — the MOR lifecycle's maintenance verb — plus the
  * round-17 maintenance ergonomics (time-based vacuum, timestamp
  * restore) and the bucket-type contract the DV read path must keep. */
class DvCompactionSpec extends SparkSpec {

  private def mkTable(n: Int = 400, hexDigits: Int = 1): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dvc")
      .resolve("t").toString
    val df = (1 to n).map(i => (i.toLong, s"v$i", i.toLong * 10))
      .toDF("key", "value", "cents")
    MergeTable.create(df, dir, "key", hexDigits)
    dir
  }

  private def fileIds(dir: String): Map[String, (Long, Long)] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data"))
      .filter(_.isDirectory).flatMap { epoch =>
        fs.listStatus(epoch.getPath).filter(_.isDirectory).flatMap { d =>
          fs.listStatus(d.getPath).filter(_.isFile)
            .filterNot(_.getPath.getName.startsWith("_"))
            .map(f => s"${epoch.getPath.getName}/${d.getPath.getName}/" +
              f.getPath.getName -> (f.getLen, f.getModificationTime))
        }
      }.toMap
  }

  private def state(dir: String): Set[(Long, String, Long)] =
    MergeTable.readTable(spark, dir)
      .select("key", "value", "cents").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("compactDvs on a clean one-file-per-bucket table is a NO-OP: " +
      "no version commits, stats all zero") {
    val dir = mkTable()
    val st = MergeTable.compactDvs(spark, dir)
    assert(st === MergeTable.DvCompactStats(1L, 0L, 0L, 0L, 0L))
    assert(MergeTable.versions(spark, dir) === Seq(1L))
  }

  test("compactDvs folds tombstones + append epochs per DIRTY bucket " +
      "only: content preserved, CDC-free, out-of-scope files re-listed " +
      "byte-identical, tombstones purged, fsckDeep green") {
    import spark.implicits._
    val dir = mkTable()
    MergeTable.deleteKeysMor(spark, dir,
      Seq(7L, 42L, 301L).toDF("key")): Unit
    MergeTable.upsertMor(spark, dir,
      Seq((9L, "y9", 999L), (401L, "ins", 1L))
        .toDF("key", "value", "cents")): Unit
    val pre = state(dir)
    val preV = MergeTable.versions(spark, dir).last
    val preFiles = fileIds(dir)
    val st = MergeTable.compactDvs(spark, dir)
    assert(st.version === preV + 1)
    assert(st.tombstonesPurged === 4L,
      s"three deletes + one tombstoned upsert match: $st")
    // CDC-free: the fingerprints re-attested, so the changefeed prunes
    // every compacted bucket unread
    assert(MergeTable.changedBuckets(spark, dir, preV, st.version)
      .isEmpty)
    assert(MergeTable.changes(spark, dir, preV, st.version).count()
      === 0L)
    assert(state(dir) === pre, "compaction must not change content")
    val det = MergeTable.detail(spark, dir).collect().head
    assert(det.getAs[Long]("dv_tombstones") === 0L &&
      det.getAs[Long]("dv_files") === 0L)
    // untouched buckets' files are re-listed VERBATIM (same bytes on
    // disk), and every bucket folds back to one file
    val man = fileIds(dir)
    val untouched = preFiles.keySet.intersect(man.keySet)
    untouched.foreach(f => assert(preFiles(f) === man(f)))
    val entries = MergeTable.readTable(spark, dir).inputFiles
    assert(entries.length === 16, "one file per bucket after the fold")
    val deep = MergeTable.fsckDeep(spark, dir)
    assert(deep.mismatched.isEmpty)
    // and the read path is back on the clean branch: a re-compact
    // is a no-op
    val st2 = MergeTable.compactDvs(spark, dir)
    assert(st2.bucketsCompacted === 0L)
  }

  test("compactDvs honors a bucket SCOPE: out-of-scope dirty buckets " +
      "keep their tombstones until their own compaction") {
    import spark.implicits._
    val dir = mkTable()
    val doomed = MergeTable.readTable(spark, dir)
      .filter(col("bucket").isin("0", "1")).select("key", "bucket")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val in0 = doomed.filter(_._2 == "0").map(_._1).take(3).toSeq
    val in1 = doomed.filter(_._2 == "1").map(_._1).take(3).toSeq
    assert(in0.size === 3 && in1.size === 3)
    MergeTable.deleteKeysMor(spark, dir, (in0 ++ in1).toDF("key")): Unit
    val st = MergeTable.compactDvs(spark, dir,
      buckets = Some(Seq("0")))
    assert(st.bucketsCompacted === 1L && st.tombstonesPurged === 3L)
    val det = MergeTable.detail(spark, dir).collect().head
    assert(det.getAs[Long]("dv_tombstones") === 3L,
      "bucket 1's tombstones must survive a bucket-0 compaction")
    // the out-of-scope tombstones still apply on read
    val keys = MergeTable.readTable(spark, dir).select("key")
      .collect().map(_.getLong(0)).toSet
    assert((in0 ++ in1).forall(k => !keys.contains(k)))
    val st2 = MergeTable.compactDvs(spark, dir)
    assert(st2.tombstonesPurged === 3L)
    assert(MergeTable.detail(spark, dir).collect().head
      .getAs[Long]("dv_tombstones") === 0L)
  }

  test("a bucket whose EVERY row is tombstoned drops out of the " +
      "compacted manifest (no file, no fingerprint), and reads stay " +
      "consistent") {
    import spark.implicits._
    val dir = mkTable(300)
    val doomed = MergeTable.readTable(spark, dir)
      .filter(col("bucket") === "0").select("key")
      .collect().map(_.getLong(0)).toSeq
    assert(doomed.nonEmpty)
    MergeTable.deleteKeysMor(spark, dir, doomed.toDF("key")): Unit
    val pre = state(dir)
    val st = MergeTable.compactDvs(spark, dir)
    assert(st.filesAfter === 0L,
      "an all-dead bucket writes no replacement file")
    assert(state(dir) === pre)
    assert(MergeTable.readTable(spark, dir)
      .filter(col("bucket") === "0").count() === 0L)
    val deep = MergeTable.fsckDeep(spark, dir)
    assert(deep.mismatched.isEmpty)
  }

  test("compactDvs never folds a clean STRIPED bucket, and when a " +
      "striped bucket IS dirtied the fold RECONSTRUCTS the declared " +
      "layout (sorted stripes), never a flat file; neighbors are " +
      "re-listed untouched") {
    import spark.implicits._
    val dir = mkTable(400)
    MergeTable.optimize(spark, dir, "cents",
      maxRecordsPerFile = Some(10L)): Unit
    assert(MergeTable.properties(spark, dir) ===
      Map("graft.layout.sort" -> "cents", "graft.layout.stripe" -> "10"),
      "a full optimize must declare the layout")
    def filesPerBucket: Map[String, Int] =
      MergeTable.readTable(spark, dir).inputFiles.toSeq
        .flatMap("bucket=([0-9a-f]+)".r.findFirstMatchIn(_)
          .map(_.group(1)))
        .groupBy(identity).view.mapValues(_.size).toMap
    val fb0 = filesPerBucket
    assert(fb0.values.exists(_ > 1),
      "the stripe layout must produce multi-file buckets")
    val st = MergeTable.compactDvs(spark, dir)
    assert(st.bucketsCompacted === 0L,
      "clean striped buckets are never compaction targets")
    assert(filesPerBucket === fb0)
    // dirty ONE bucket (a delete + an upserted row); only it rewrites
    val b0rows = MergeTable.readTable(spark, dir)
      .filter(col("bucket") === "0").select("key")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(b0rows.size > 10, "bucket 0 must span several stripes")
    MergeTable.deleteKeysMor(spark, dir,
      b0rows.take(2).toDF("key")): Unit
    val pre = state(dir)
    val preV = MergeTable.versions(spark, dir).last
    val st2 = MergeTable.compactDvs(spark, dir)
    assert(st2.bucketsCompacted === 1L)
    assert(state(dir) === pre)
    // CDC-free even through the re-sort (fps are order-independent)
    assert(MergeTable.changedBuckets(spark, dir, preV, st2.version)
      .isEmpty)
    val fb1 = filesPerBucket
    val liveB0 = b0rows.size - 2
    assert(fb1("0") === (liveB0 + 9) / 10,
      s"the fold must RE-STRIPE bucket 0 (live=$liveB0): $fb1")
    (fb0 - "0").foreach { case (b, n) =>
      assert(fb1(b) === n, s"bucket $b must keep its stripe layout")
    }
    // and the reconstructed stripes are SORTED: per-file cents ranges
    // are disjoint, so value-predicate file skipping keeps working
    val ranges = spark.read
      .parquet(MergeTable.readTable(spark, dir).inputFiles
        .filter(_.contains("bucket=0/")): _*)
      .withColumn("__f", input_file_name())
      .groupBy("__f").agg(min("cents").as("mn"), max("cents").as("mx"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, aMx), (bMn, _)) =>
        assert(aMx <= bMn, s"stripe ranges must be disjoint: $ranges")
      case _ =>
    }
  }

  test("compactDvs REFUSES to commit when a rewritten bucket's " +
      "read-back fingerprint does not re-attest the manifest's — " +
      "corruption aborts loudly, nothing lands") {
    import spark.implicits._
    val dir = mkTable(100)
    MergeTable.deleteKeysMor(spark, dir, Seq(1L, 2L).toDF("key")): Unit
    // tamper the head manifest: shift bucket 0's fingerprint hash
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mp = new org.apache.hadoop.fs.Path(s"$dir/_manifests/v000000002")
    val in = fs.open(mp)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    val tampered = lines.map { l =>
      if (!l.startsWith("#fp=")) l
      else {
        val parts = l.drop(4).split(":")
        s"#fp=${parts(0)}:${parts(1)}:${BigInt(parts(2)) + 1}" +
          (if (parts.length > 3) s":${parts(3)}" else "")
      }
    }
    fs.delete(mp, false)
    val out = fs.create(mp, true)
    try out.write(tampered.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val vsBefore = MergeTable.versions(spark, dir)
    val e = intercept[IllegalStateException] {
      MergeTable.compactDvs(spark, dir)
    }
    assert(e.getMessage.contains("re-attest"))
    assert(MergeTable.versions(spark, dir) === vsBefore,
      "a refused compaction must commit nothing")
  }

  test("the bucket column's TYPE is pinned to STRING across DV-free " +
      "and DV-bearing snapshots — one contract, both read branches") {
    import spark.implicits._
    val dir = mkTable(80)
    def bucketType(v: Option[Long] = None) =
      MergeTable.readTable(spark, dir, v).schema("bucket").dataType
    assert(bucketType() === StringType, "DV-free read")
    MergeTable.deleteKeysMor(spark, dir, Seq(5L).toDF("key")): Unit
    assert(bucketType() === StringType, "DV-bearing read")
    assert(bucketType(Some(1L)) === StringType,
      "time travel to the DV-free version under a DV-bearing head")
    // and the VALUES agree with the md5 derivation both ways
    val got = MergeTable.readTable(spark, dir)
      .filter(col("key") === 17L).select("bucket")
      .collect().head.getString(0)
    assert(got === graft.plans.KeyToBucketPruning.bucketOf("17", 1))
  }

  test("vacuumRetainTime: a wide window retains everything, a zero " +
      "window keeps only the head, tag pins hold regardless — and AS " +
      "OF resolution is STABLE across the expiry (persisted monotone " +
      "in-commit timestamps)") {
    import spark.implicits._
    val dir = mkTable(50)
    MergeTable.upsertMor(spark, dir,
      Seq((1L, "b", 1L)).toDF("key", "value", "cents")): Unit
    MergeTable.upsertMor(spark, dir,
      Seq((2L, "c", 2L)).toDF("key", "value", "cents")): Unit
    MergeTable.tag(spark, dir, "hold", Some(2L)): Unit
    val tHead = MergeTable.commitTimes(spark, dir).last._2
    val wide = MergeTable.vacuumRetainTime(spark, dir,
      30L * 24 * 3600 * 1000, minFileAgeMs = 0L)
    assert(wide.versionsDropped === 0L && wide.versionsLive === 3L)
    val tight = MergeTable.vacuumRetainTime(spark, dir, 0L,
      minFileAgeMs = 0L)
    assert(tight.versionsLive === 2L,
      s"head + the tag-pinned v2 must survive: $tight")
    assert(MergeTable.versions(spark, dir) === Seq(2L, 3L))
    assert(MergeTable.versionAsOf(spark, dir, tHead) === 3L,
      "expiring history must not shift the head's AS OF resolution")
  }

  test("restoreAsOf rolls back BY TIMESTAMP (pure metadata) and " +
      "refuses a pre-history probe loudly") {
    import spark.implicits._
    val dir = mkTable(50)
    val pre = state(dir)
    MergeTable.deleteKeysMor(spark, dir, Seq(1L, 2L).toDF("key")): Unit
    val t1 = MergeTable.commitTimes(spark, dir).head._2
    intercept[IllegalArgumentException] {
      MergeTable.restoreAsOf(spark, dir, t1 - 1)
    }
    val v = MergeTable.restoreAsOf(spark, dir, t1)
    assert(v === 3L)
    assert(state(dir) === pre)
  }

  test("SQL surface: OPTIMIZE … COMPACT (scoped + MAX FILES), VACUUM " +
      "RETAIN <duration>, RESTORE TO VERSION/TIMESTAMP AS OF — each " +
      "routes to its engine verb and returns its stats row") {
    import spark.implicits._
    val dir = mkTable(200)
    MergeTable.deleteKeysMor(spark, dir, Seq(3L, 4L).toDF("key")): Unit
    val c = spark.sql(s"OPTIMIZE merge_table.`$dir` COMPACT MAX FILES 1")
      .collect().head
    assert(c.getLong(0) === 3L && c.getLong(4) === 2L,
      s"compaction stats row: $c")
    val iso = java.time.Instant
      .ofEpochMilli(MergeTable.commitTimes(spark, dir).head._2).toString
    val r = spark.sql(
      s"RESTORE merge_table.`$dir` TO TIMESTAMP AS OF '$iso'")
      .collect().head
    assert(r.getLong(0) === 4L && r.getLong(1) === 1L)
    val r2 = spark.sql(
      s"RESTORE merge_table.`$dir` TO VERSION AS OF 3")
      .collect().head
    assert(r2.getLong(0) === 5L && r2.getLong(1) === 3L)
    val v = spark.sql(s"VACUUM merge_table.`$dir` RETAIN 2 HOURS")
      .collect().head
    assert(v.getLong(2) === 0L && v.getLong(3) === 5L,
      s"a 2-hour window must retain the fresh history: $v")
    // a scoped compact parses (no dirty buckets left: no-op stats)
    val c2 = spark.sql(
      s"OPTIMIZE merge_table.`$dir` WHERE bucket IN ('0') COMPACT")
      .collect().head
    assert(c2.getLong(1) <= 1L)
    // delegation safety: a table actually NAMED restore still parses
    // through Spark's own grammar
    intercept[Exception] {
      spark.sql("RESTORE somewhere TO VERSION AS OF 1")
    }: Unit
  }
}
