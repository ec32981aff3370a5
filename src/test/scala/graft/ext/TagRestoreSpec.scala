package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Named tags (immutable version pins, vacuum-retained) and RESTORE
  * (metadata-only rollback re-listing an old snapshot's files). */
class TagRestoreSpec extends SparkSpec {

  private def mkTable(n: Int = 60): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tag")
      .resolve("t").toString
    MergeTable.create(
      (1 to n).map(i => (i.toLong, s"v$i")).toDF("key", "value"),
      dir, "key")
    dir
  }

  private def dataFiles(dir: String): Set[String] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(s"$dir/data")
    fs.listStatus(root).filter(_.isDirectory).flatMap(e =>
      fs.listStatus(e.getPath).filter(_.isDirectory).flatMap(b =>
        fs.listStatus(b.getPath).filter(_.isFile)
          .filterNot(_.getPath.getName.startsWith("_"))
          .map(f => s"${e.getPath.getName}/${b.getPath.getName}/" +
            f.getPath.getName))).toSet
  }

  test("tags pin versions immutably: resolve, no silent re-point, " +
      "drop+retag is the explicit two-step, bad names and missing " +
      "versions fail loudly") {
    import spark.implicits._
    val dir = mkTable()
    MergeTable.upsert(spark, dir, Seq((1L, "X")).toDF("key", "value"))
    assert(MergeTable.tag(spark, dir, "baseline", Some(1L)) === 1L)
    assert(MergeTable.tag(spark, dir, "head") === 2L) // default: latest
    assert(MergeTable.tags(spark, dir) ===
      Map("baseline" -> 1L, "head" -> 2L))
    assert(MergeTable.tagVersion(spark, dir, "baseline") === 1L)
    val dup = intercept[IllegalArgumentException] {
      MergeTable.tag(spark, dir, "baseline", Some(2L))
    }
    assert(dup.getMessage.contains("immutable"))
    assert(MergeTable.dropTag(spark, dir, "baseline"))
    assert(MergeTable.tag(spark, dir, "baseline", Some(2L)) === 2L)
    assert(intercept[IllegalArgumentException] {
      MergeTable.tag(spark, dir, "../escape", Some(1L))
    }.getMessage.contains("must match"))
    assert(intercept[IllegalArgumentException] {
      MergeTable.tag(spark, dir, "ghost", Some(99L))
    }.getMessage.contains("no version 99"))
    assert(intercept[IllegalArgumentException] {
      MergeTable.tagVersion(spark, dir, "ghost")
    }.getMessage.contains("no tag"))
    // a TORN tag file (crash between create and write) fails loudly
    // by name — vacuum must never silently drop a pin it cannot read
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = new org.apache.hadoop.fs.Path(s"$dir/_tags/torn")
    val out = fs.create(torn, true)
    try out.write("not-a-version".getBytes("UTF-8")) finally out.close()
    assert(intercept[IllegalStateException] {
      MergeTable.tags(spark, dir)
    }.getMessage.contains("torn tag file"))
    fs.delete(torn, false)
    assert(MergeTable.tags(spark, dir).keySet === Set("baseline", "head"))
    // fsck surfaces a DANGLING pin (external damage: the manifest a
    // tag names was removed behind the API's back)
    assert(MergeTable.fsck(spark, dir).danglingTags === Nil)
    val out2 = fs.create(
      new org.apache.hadoop.fs.Path(s"$dir/_tags/lost"), true)
    try out2.write("77".getBytes("UTF-8")) finally out2.close()
    assert(MergeTable.fsck(spark, dir).danglingTags === Seq("lost->v77"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_tags/lost"), false)
  }

  test("vacuum retains tag-pinned versions and their files past the " +
      "retention window; dropping the pin releases them") {
    import spark.implicits._
    val dir = mkTable()
    MergeTable.upsert(spark, dir, Seq((1L, "X")).toDF("key", "value"))
    MergeTable.upsert(spark, dir, Seq((2L, "Y")).toDF("key", "value"))
    MergeTable.tag(spark, dir, "pin1", Some(1L))
    val st = MergeTable.vacuum(spark, dir, retainVersions = 1,
      minFileAgeMs = 0)
    assert(st.versionsLive === 2L && st.versionsDropped === 1L,
      s"v1 pinned + v3 current live, v2 dropped — got $st")
    assert(MergeTable.versions(spark, dir) === Seq(1L, 3L))
    // the pinned snapshot still reads exactly
    assert(MergeTable.readTable(spark, dir, Some(1L))
      .filter(col("key") === 1L).select("value")
      .collect().head.getString(0) === "v1")
    // releasing the pin releases the version on the next sweep
    MergeTable.dropTag(spark, dir, "pin1")
    MergeTable.vacuum(spark, dir, retainVersions = 1, minFileAgeMs = 0)
    assert(MergeTable.versions(spark, dir) === Seq(3L))
  }

  test("restore is metadata-only rollback: the restored head equals " +
      "the old snapshot with ZERO data files written, history stays " +
      "readable, the changefeed prices the undo, and vacuum keeps " +
      "re-referenced files live") {
    import spark.implicits._
    val dir = mkTable(60)
    MergeTable.upsert(spark, dir,
      Seq((5L, "bad5"), (1000L, "bad-insert")).toDF("key", "value"))
    MergeTable.deleteKeys(spark, dir, Seq(7L).toDF("key"))
    val filesBefore = dataFiles(dir)
    val v = MergeTable.restore(spark, dir, 1L)
    assert(v === 4L)
    assert(dataFiles(dir) === filesBefore,
      "restore must write no data files — it re-lists v1's")
    // the live table IS v1 again
    val live = MergeTable.readTable(spark, dir)
      .select("key", "value").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(live === (1 to 60).map(i => i.toLong -> s"v$i").toMap)
    // history is untouched: the bad head still reads
    assert(MergeTable.readTable(spark, dir, Some(3L))
      .filter(col("key") === 5L).select("value")
      .collect().head.getString(0) === "bad5")
    // the changefeed prices the rollback as the honest row-level undo
    val undo = MergeTable.changes(spark, dir, 3L, 4L)
      .select("key", "change").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(undo === Set((5L, "update"), (1000L, "delete"),
      (7L, "insert")))
    // vacuum to the restored head only: v1's files are re-referenced
    // by v4, so the sweep keeps them even as manifests v1-v3 drop
    MergeTable.vacuum(spark, dir, retainVersions = 1, minFileAgeMs = 0)
    assert(MergeTable.versions(spark, dir) === Seq(4L))
    assert(MergeTable.readTable(spark, dir).count() === 60L)
    // and the table keeps writing normally after the rollback
    MergeTable.upsert(spark, dir, Seq((2L, "Z")).toDF("key", "value"))
    assert(MergeTable.readTable(spark, dir)
      .filter(col("key") === 2L).select("value")
      .collect().head.getString(0) === "Z")
    // the restored manifest inherited v1's content fingerprints
    // verbatim — the deep audit must re-attest them against the
    // re-referenced files, across the vacuum and the later upsert
    val deep = MergeTable.fsckDeep(spark, dir)
    assert(deep.mismatched.isEmpty,
      s"fingerprint inheritance must survive restore: $deep")
  }

  test("restore across a rebucket restores the WIDTH too, and SQL " +
      "time travel reads through a tag name") {
    import spark.implicits._
    val dir = mkTable(40)
    assert(MergeTable.bucketWidth(spark, dir) === 2)
    MergeTable.rebucket(spark, dir, 1)
    assert(MergeTable.bucketWidth(spark, dir) === 1)
    MergeTable.restore(spark, dir, 1L)
    assert(MergeTable.bucketWidth(spark, dir) === 2,
      "the restored snapshot carries its own width")
    MergeTable.tag(spark, dir, "narrow", Some(2L))
    MergeTable.registerSql(spark)
    assert(spark.sql(s"SELECT count(*) FROM merge_table('$dir', 'narrow')")
      .collect().head.getLong(0) === 40L)
    assert(spark.sql(
      s"""SELECT value FROM merge_table('$dir', 'narrow')
         |WHERE key = 3""".stripMargin)
      .collect().head.getString(0) === "v3")
    assert(intercept[Exception] {
      spark.sql(s"SELECT * FROM merge_table('$dir', 'ghost')").collect()
    }.getMessage.contains("no tag"))
  }
}
