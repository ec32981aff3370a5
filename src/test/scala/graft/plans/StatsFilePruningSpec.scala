package graft.plans

import graft.SparkSpec
import graft.ext.MergeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Value-predicate FILE pruning: manifest `#st=` per-file min/max
  * stats must shrink the planned file list for pushed range
  * predicates — never the result — and the rule must stay silent on
  * every off-pattern shape (no manifests, no stats, foreign scans). */
class StatsFilePruningSpec extends SparkSpec {

  StatsFilePruning.enable(spark)

  /** A 16-bucket table z-striped on (cust, cents): 4 stripe files per
    * bucket at 200 rows/stripe. */
  private def mkStriped(n: Int = 12800): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sfp")
      .resolve("t").toString
    val df = (1 to n).map(i =>
      (i.toLong, (i % 997).toLong, (i % 577).toLong))
      .toDF("key", "cust", "cents")
    MergeTable.create(df, dir, "key", hexDigits = 1)
    MergeTable.optimizeZOrder(spark, dir, "cust", "cents",
      maxRecordsPerFile = Some(200L))
    dir
  }

  private def scanFiles(df: DataFrame): Long =
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.map(_.selectedPartitions.totalNumberOfFiles)
      .getOrElse(fail("no file scan in plan"))

  private val boxCond =
    col("cust").between(400L, 460L) && col("cents").between(250L, 280L)

  test("a box predicate schedules exactly the stripes whose manifest " +
      "stats overlap it — the planned count equals the stats " +
      "arithmetic — and the rows equal the unpruned read") {
    val dir = mkStriped()
    val total = scanFiles(MergeTable.readTable(spark, dir)
      .filter(col("key") >= Long.MinValue)) // constraint the rule skips
    val q = MergeTable.readTable(spark, dir).filter(boxCond)
    val planned = scanFiles(q)
    assert(planned < total,
      s"stats pruning never fired: $planned of $total files")
    // the planned set must equal the same overlap arithmetic applied
    // to the manifest stats index directly
    val stats = MergeTable.fileStatsIndex(spark, dir)
    val live = MergeTable.versions(spark, dir).last
    val entries = sparkManifest(dir, live)
    val expect = entries.count { e =>
      val st = stats(e)
      import graft.ext.StatBound.L
      val (cLo, cHi) = st("cust") match {
        case (Some(L(a)), Some(L(b))) => (a, b); case _ => (0L, -1L) }
      val (dLo, dHi) = st("cents") match {
        case (Some(L(a)), Some(L(b))) => (a, b); case _ => (0L, -1L) }
      cLo <= 460L && cHi >= 400L && dLo <= 280L && dHi >= 250L
    }
    assert(planned === expect.toLong,
      s"planned $planned files, stats arithmetic says $expect")
    // result identity: the pruned plan returns exactly the full scan's rows
    val expectRows = (1 to 12800).map(i =>
        (i.toLong, (i % 997).toLong, (i % 577).toLong))
      .filter(r => r._2 >= 400 && r._2 <= 460 && r._3 >= 250 && r._3 <= 280)
      .toSet
    val got = q.select("key", "cust", "cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expectRows)
  }

  /** The live manifest's entries (via the public read path's file
    * list, relativized). */
  private def sparkManifest(dir: String, v: Long): Seq[String] =
    MergeTable.readTable(spark, dir, Some(v)).inputFiles.toSeq
      .map(f => f.substring(f.lastIndexOf("/data/") + "/data/".length))

  test("a predicate outside every stripe's range schedules ZERO files " +
      "and returns zero rows without error") {
    val dir = mkStriped(3200)
    val q = MergeTable.readTable(spark, dir)
      .filter(col("cents") > 1000000L)
    assert(scanFiles(q) === 0L)
    assert(q.count() === 0L)
  }

  test("legacy manifests without #st= lines prune nothing and read " +
      "in full (stats are an annotation, never a requirement)") {
    val dir = mkStriped(3200)
    // strip the stats lines — a pre-stats writer's manifest
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val md = new org.apache.hadoop.fs.Path(s"$dir/_manifests")
    fs.listStatus(md).filter(_.isFile).foreach { st =>
      val in = fs.open(st.getPath)
      val body =
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().filterNot(_.startsWith("#st=")).mkString("\n")
        finally in.close()
      val out = fs.create(st.getPath, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    val all = scanFiles(MergeTable.readTable(spark, dir))
    val q = MergeTable.readTable(spark, dir).filter(boxCond)
    assert(scanFiles(q) === all,
      "an unattested file list must not be pruned")
    assert(q.count() ===
      (1 to 3200).count(i => (i % 997) >= 400 && (i % 997) <= 460 &&
        (i % 577) >= 250 && (i % 577) <= 280).toLong)
  }

  test("a time-travel read prunes against ITS OWN snapshot's stats: " +
      "pre-striping version reads exact rows (single wide file per " +
      "bucket, nothing skippable), striped head prunes") {
    val dir = mkStriped(3200)
    val q1 = MergeTable.readTable(spark, dir, Some(1L)).filter(boxCond)
    val q2 = MergeTable.readTable(spark, dir, Some(2L)).filter(boxCond)
    assert(q1.count() === q2.count(),
      "both snapshots hold the same rows — content invariance")
    assert(scanFiles(q2) <= scanFiles(q1),
      "the striped layout must never schedule more than the unstriped")
  }

  test("an all-null stats column prunes its file under a " +
      "null-rejecting predicate (no non-null value can match)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sfp-n")
      .resolve("t").toString
    // two keys in DIFFERENT width-1 buckets; val null in one of them
    val ks = (1L to 50L)
      .groupBy(k => KeyToBucketPruning.bucketOf(k.toString, 1))
      .values.take(2).map(_.head).toSeq
    assert(ks.size === 2)
    val df = Seq((ks(0), Option.empty[Long]), (ks(1), Some(5L)))
      .toDF("key", "val")
    MergeTable.create(df, dir, "key", hexDigits = 1)
    val q = MergeTable.readTable(spark, dir).filter(col("val") >= 1L)
    assert(scanFiles(q) === 1L,
      "the all-null file must be pruned by a null-rejecting predicate")
    assert(q.select("key").collect().map(_.getLong(0)).toSeq ===
      Seq(ks(1)))
  }


  test("string bounds TRUNCATE WIDE: a >16-code-point value sharing a " +
      "16-cp prefix with the predicate literal is never pruned away " +
      "(min widens down, max widens up), while separated prefixes " +
      "still prune; result identity holds either way") {
    import spark.implicits._
    import graft.ext.StatBound
    // truncation unit contracts first: bounds must WIDEN, never narrow
    val p16 = "abcdefghijklmnop" // exactly 16 cps
    val long1 = p16 + "zzz"
    assert(StatBound.truncMin(long1) === StatBound.S(
      p16.getBytes("UTF-8")), "min bound = 16-cp prefix")
    assert(StatBound.truncMax(long1) === Some(StatBound.S(
      "abcdefghijklmnoq".getBytes("UTF-8"))),
      "max bound = prefix with last cp incremented")
    assert(StatBound.truncMax("abcdefghijklmno퟿" + "x")
      === Some(StatBound.S("abcdefghijklmno".getBytes("UTF-8"))),
      "increment must skip the surrogate gap")
    val allMax = new String(Array.fill(17)(0x10FFFF).flatMap(
      Character.toChars))
    assert(StatBound.truncMax(allMax).isEmpty,
      "an unincrementable prefix must yield NO upper bound")
    assert(StatBound.truncMax(p16) === Some(StatBound.S(
      p16.getBytes("UTF-8"))), "a fitting value is exact")
    // end-to-end: three buckets' worth of long strings; the shared-
    // prefix group straddles the truncation boundary
    val dir = java.nio.file.Files.createTempDirectory("graft-sfp-s")
      .resolve("t").toString
    val rows = (1 to 3200).map { i =>
      val s =
        if (i % 3 == 0) p16 + f"tail$i%04d" // shared 16-cp prefix group
        else if (i % 3 == 1) f"early$i%04d-string-value"
        else f"zlate$i%04d-string-value"
      (i.toLong, s)
    }
    MergeTable.create(rows.toDF("key", "sval"), dir, "key", hexDigits = 1)
    MergeTable.optimize(spark, dir, "sval",
      maxRecordsPerFile = Some(50L))
    val total = scanFiles(MergeTable.readTable(spark, dir))
    // predicate INSIDE the shared-prefix group: every group member's
    // file must survive pruning (their stored bounds are truncated,
    // so the planner sees [prefix, prefix+1) boxes that all overlap)
    val probe = p16 + "tail0300"
    val qIn = MergeTable.readTable(spark, dir)
      .filter(col("sval") === probe)
    assert(qIn.count() === 1L, "truncated bounds must not lose the row")
    // predicate far BELOW every value: prunes to zero files
    val qOut = MergeTable.readTable(spark, dir)
      .filter(col("sval") < "a")
    assert(scanFiles(qOut) === 0L && qOut.count() === 0L)
    // a range over one prefix-separated family prunes the others
    val qFam = MergeTable.readTable(spark, dir)
      .filter(col("sval") >= "early" && col("sval") < "earlz")
    assert(scanFiles(qFam) < total,
      "prefix-separated families must file-prune")
    assert(qFam.count() === rows.count(_._2.startsWith("early")).toLong)
    // LIKE 'p%' (StartsWith after LikeSimplification) prunes to the
    // [p, p+1) box with exact rows
    val qLike = MergeTable.readTable(spark, dir)
      .filter(col("sval").like("zlate%"))
    assert(scanFiles(qLike) < total, "LIKE prefix must file-prune")
    assert(qLike.count() ===
      rows.count(_._2.startsWith("zlate")).toLong)
    // a LIKE prefix longer than the 16-cp truncation is still exact
    val qLikeLong = MergeTable.readTable(spark, dir)
      .filter(col("sval").like(p16 + "tail03%"))
    assert(qLikeLong.count() ===
      rows.count(_._2.startsWith(p16 + "tail03")).toLong)
  }

  test("date, timestamp, and decimal predicates file-prune on their " +
      "own sorted stripes with exact result identity") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sfp-t")
      .resolve("t").toString
    val rows = (1 to 800).map { i =>
      (i.toLong,
        java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1)
          .plusDays(i.toLong % 365)),
        java.sql.Timestamp.from(java.time.Instant.parse(
          "2021-01-01T00:00:00Z").plusSeconds(i.toLong * 3600)),
        new java.math.BigDecimal(i).movePointLeft(2)) // i cents
    }
    val df = rows.toDF("key", "d", "ts", "amt")
      .withColumn("amt", col("amt")
        .cast(org.apache.spark.sql.types.DecimalType(10, 2)))
    MergeTable.create(df, dir, "key", hexDigits = 1)
    // date layout
    MergeTable.optimize(spark, dir, "d", maxRecordsPerFile = Some(60L))
    val total = scanFiles(MergeTable.readTable(spark, dir))
    val qd = MergeTable.readTable(spark, dir).filter(
      col("d").between(lit(java.sql.Date.valueOf("2020-02-01")),
        lit(java.sql.Date.valueOf("2020-02-15"))))
    assert(scanFiles(qd) < total, "date box must file-prune")
    assert(qd.count() === rows.count(r =>
      !r._2.before(java.sql.Date.valueOf("2020-02-01")) &&
        !r._2.after(java.sql.Date.valueOf("2020-02-15"))).toLong)
    // timestamp layout
    MergeTable.optimize(spark, dir, "ts", maxRecordsPerFile = Some(60L))
    val t1 = java.sql.Timestamp.from(
      java.time.Instant.parse("2021-01-05T00:00:00Z"))
    val t2 = java.sql.Timestamp.from(
      java.time.Instant.parse("2021-01-07T00:00:00Z"))
    val qt = MergeTable.readTable(spark, dir)
      .filter(col("ts").between(lit(t1), lit(t2)))
    assert(scanFiles(qt) < total, "timestamp box must file-prune")
    assert(qt.count() === rows.count(r =>
      !r._3.before(t1) && !r._3.after(t2)).toLong)
    // decimal layout; literals constructed at the column's exact type
    MergeTable.optimize(spark, dir, "amt", maxRecordsPerFile = Some(60L))
    def dec(v: String) = lit(new java.math.BigDecimal(v))
      .cast(org.apache.spark.sql.types.DecimalType(10, 2))
    val qa = MergeTable.readTable(spark, dir)
      .filter(col("amt").between(dec("2.00"), dec("3.00")))
    assert(scanFiles(qa) < total, "decimal box must file-prune")
    assert(qa.count() === rows.count(r =>
      r._4.compareTo(new java.math.BigDecimal("2.00")) >= 0 &&
        r._4.compareTo(new java.math.BigDecimal("3.00")) <= 0).toLong)
  }

  test("TIMESTAMP_NTZ bounds attest under the wall-clock-micros " +
      "contract: an NTZ box file-prunes with exact rows, and the " +
      "pruning is IDENTICAL under a different session timezone " +
      "(the encoding is zone-free on both the write and plan sides)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sfp-ntz")
      .resolve("t").toString
    val base = java.time.LocalDateTime.of(2022, 6, 1, 0, 0, 0)
    val rows = (1 to 800).map(i => (i.toLong, i.toLong % 97))
    val df = rows.toDF("key", "h")
      .withColumn("nts", expr(
        "timestamp_ntz '2022-06-01 00:00:00' + make_interval(0,0,0,0,h)"))
      .drop("h")
    assert(df.schema("nts").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    MergeTable.create(df, dir, "key", hexDigits = 1)
    MergeTable.optimize(spark, dir, "nts", maxRecordsPerFile = Some(60L))
    val total = scanFiles(MergeTable.readTable(spark, dir))
    def box(): (Long, Long) = {
      val q = MergeTable.readTable(spark, dir).filter(
        col("nts").between(
          lit(base.plusHours(20)), lit(base.plusHours(30))))
      (scanFiles(q), q.count())
    }
    val (scanned0, rows0) = box()
    assert(scanned0 < total, "NTZ box must file-prune")
    assert(rows0 === rows.count(r => r._2 >= 20 && r._2 <= 30).toLong)
    // same predicate under a far-away session timezone: NTZ bounds
    // and literals are both wall-clock micros, so the planned file
    // set and the rows must not move
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
      val (scanned1, rows1) = box()
      assert((scanned1, rows1) === ((scanned0, rows0)),
        "NTZ pruning must be session-timezone-invariant")
    } finally spark.conf.set("spark.sql.session.timeZone", tz0)
  }

  test("the rule is silent on a NON-MergeTable parquet layout even " +
      "when the path shape matches (no _manifests => no pruning)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-sfp-f")
    val out = root.resolve("t/data/v=1-0x0").toString
    (1 to 100).map(i => (i.toLong, (i % 7).toLong))
      .toDF("key", "cents")
      .withColumn("bucket", lit("aa"))
      .write.partitionBy("bucket").parquet(out)
    val q = spark.read.option("basePath", s"${root.resolve("t/data")}")
      .parquet(out).filter(col("cents") >= 100L)
    assert(q.count() === 0L) // rows, not files: nothing to prune against
    assert(scanFiles(q) >= 1L, "a foreign scan must not be rewritten")
  }
}
