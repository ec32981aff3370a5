package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** MERGE-ON-READ deletion vectors: a keyed/predicate delete writes
  * TOMBSTONES (file, row index) instead of rewriting buckets — zero
  * data files touched, reads anti-join only dirty files, fingerprints
  * decrement EXACTLY (fsckDeep re-attests; compaction that purges the
  * tombstones lands on the same fingerprint, so OPTIMIZE stays
  * CDC-free), rewrites materialize the deletes (no resurrection),
  * vacuum keeps referenced DV files and sweeps expired ones, and the
  * manifest's `#requires=` capability line gates DV-blind readers. */
class DeletionVectorSpec extends SparkSpec {

  private def mkTable(n: Int = 500, hexDigits: Int = 1): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dv")
      .resolve("t").toString
    val df = (1 to n).map(i => (i.toLong, s"v$i", i.toLong * 10))
      .toDF("key", "value", "cents")
    MergeTable.create(df, dir, "key", hexDigits)
    dir
  }

  private def fileIds(dir: String): Map[String, (Long, Long)] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(s"$dir/data")
    fs.listStatus(root).filter(_.isDirectory).flatMap { epoch =>
      fs.listStatus(epoch.getPath).filter(_.isDirectory).flatMap { d =>
        fs.listStatus(d.getPath).filter(_.isFile)
          .filterNot(_.getPath.getName.startsWith("_"))
          .map(f => s"${epoch.getPath.getName}/${d.getPath.getName}/" +
            f.getPath.getName -> (f.getLen, f.getModificationTime))
      }
    }.toMap
  }

  private def keysOf(dir: String, v: Option[Long] = None): Set[Long] =
    MergeTable.readTable(spark, dir, v)
      .select("key").collect().map(_.getLong(0)).toSet

  test("deleteKeysMor removes the rows WITHOUT touching any data " +
      "file; prior versions still see them; re-delete is a no-op") {
    import spark.implicits._
    val dir = mkTable()
    val before = fileIds(dir)
    val doomed = Seq(7L, 42L, 301L, 499L)
    val st = MergeTable.deleteKeysMor(spark, dir, doomed.toDF("key"))
    assert(st.version === 2L)
    assert(st.rowsDeleted === 4L)
    assert(st.dvFilesAdded >= 1L)
    // ZERO data-file writes — byte-identical file set
    assert(fileIds(dir) === before)
    assert(keysOf(dir) === (1 to 500).map(_.toLong).toSet -- doomed)
    // time travel: version 1 still carries the rows
    assert(keysOf(dir, Some(1L)) === (1 to 500).map(_.toLong).toSet)
    // replay: the rows are already dead — nothing decrements twice
    val st2 = MergeTable.deleteKeysMor(spark, dir, doomed.toDF("key"))
    assert(st2.rowsDeleted === 0L)
    assert(MergeTable.versions(spark, dir) === Seq(1L, 2L))
    // a second MOR delete stacks on the first
    val st3 = MergeTable.deleteKeysMor(spark, dir, Seq(1L, 2L).toDF("k"))
    assert(st3.rowsDeleted === 2L && st3.version === 3L)
    assert(keysOf(dir) ===
      (3 to 500).map(_.toLong).toSet -- doomed)
    assert(fileIds(dir) === before)
  }

  test("fingerprint decrement is EXACT: fsckDeep re-attests the " +
      "tombstoned snapshot clean, and history/detail row counts are " +
      "the logical (post-delete) counts") {
    import spark.implicits._
    val dir = mkTable()
    MergeTable.deleteKeysMor(spark, dir,
      (1 to 100 by 3).map(_.toLong).toDF("key"))
    val rep = MergeTable.fsckDeep(spark, dir)
    assert(rep.mismatched.isEmpty)
    assert(rep.bucketsChecked > 0)
    val hist = MergeTable.history(spark, dir)
      .orderBy("v").collect()
    assert(hist(0).getLong(3) === 500L)
    assert(hist(1).getLong(3) === 500L - 34L)
    val det = MergeTable.detail(spark, dir).collect().head
    assert(det.getAs[Long]("dv_tombstones") === 34L)
    assert(det.getAs[Long]("dv_files") >= 1L)
  }

  test("deleteWhereMor speaks LOGICAL names (post-rename) and the " +
      "decrement still hashes physical columns: fsckDeep clean") {
    import spark.implicits._
    val dir = mkTable()
    MergeTable.renameColumn(spark, dir, "cents", "pennies")
    val st = MergeTable.deleteWhereMor(spark, dir,
      col("pennies") > lit(4900L))
    assert(st.rowsDeleted === 10L) // keys 491..500
    assert(keysOf(dir) === (1 to 490).map(_.toLong).toSet)
    assert(MergeTable.fsckDeep(spark, dir).mismatched.isEmpty)
  }

  test("a rewrite of a dirty bucket MATERIALIZES the deletes (no " +
      "resurrection) through upsert, COW delete, merge, and scoped " +
      "optimize; untouched dirty buckets keep their tombstones") {
    import spark.implicits._
    val dir = mkTable()
    MergeTable.deleteKeysMor(spark, dir,
      (1 to 500 by 7).map(_.toLong).toDF("key")) // 72 keys, most buckets
    val alive = keysOf(dir)
    // upsert a fresh key: its bucket rewrites; deleted rows must stay dead
    MergeTable.upsert(spark, dir,
      Seq((1001L, "new", 1L)).toDF("key", "value", "cents"))
    assert(keysOf(dir) === alive + 1001L)
    // COW-delete one live key
    MergeTable.deleteKeys(spark, dir, Seq(2L).toDF("key"))
    assert(keysOf(dir) === alive + 1001L - 2L)
    // merge UpdateAll on another live key
    MergeTable.merge(spark, dir,
      Seq((3L, "upd", 30L)).toDF("key", "value", "cents"),
      matched = Seq(MergeTable.MergeWhen(None,
        MergeTable.MergeAction.UpdateAll)),
      notMatched = Seq(MergeTable.MergeWhen(None,
        MergeTable.MergeAction.UpdateAll)))
    assert(keysOf(dir) === alive + 1001L - 2L)
    assert(MergeTable.readKeys(spark, dir, Seq(3L))
      .select("value").collect().head.getString(0) === "upd")
    // tombstoned keys are invisible to point lookups too
    assert(MergeTable.readKeys(spark, dir, Seq(1L, 8L)).count() === 0L)
    // full optimize purges every tombstone; contents identical
    MergeTable.optimize(spark, dir, "cents")
    val det = MergeTable.detail(spark, dir).collect().head
    assert(det.getAs[Long]("dv_tombstones") === 0L)
    assert(det.getAs[Long]("dv_files") === 0L)
    assert(keysOf(dir) === alive + 1001L - 2L)
    assert(MergeTable.fsckDeep(spark, dir).mismatched.isEmpty)
  }

  test("OPTIMIZE across a DV purge stays CDC-FREE: the materialized " +
      "survivors' read-back fingerprint equals the decremented one, " +
      "so a changefeed window straddling the compaction is quiet") {
    import spark.implicits._
    val dir = mkTable()
    MergeTable.deleteKeysMor(spark, dir,
      (10 to 60 by 5).map(_.toLong).toDF("key"))
    val v2 = MergeTable.versions(spark, dir).last
    val st = MergeTable.optimize(spark, dir, "cents")
    assert(st.filesWritten > 0)
    // the DV-only window classifies the masked rows as deletes...
    val w1 = MergeTable.changes(spark, dir, 1L, v2)
      .groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w1 === Map("delete" -> 11L))
    // ...and the optimize-only window diffs to zero rows
    assert(MergeTable.changes(spark, dir, v2, st.version).count() === 0L)
    // straddling both: still just the deletes
    val w2 = MergeTable.changes(spark, dir, 1L, st.version)
      .groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w2 === Map("delete" -> 11L))
  }

  test("vacuum KEEPS deletion-vector files referenced by retained " +
      "manifests and SWEEPS them once the history expires or a purge " +
      "drops the reference; fsck audits them as referenced files") {
    import spark.implicits._
    val dir = mkTable()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dvCount(): Int = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/_dvs")
      if (!fs.exists(p)) 0
      else fs.listStatus(p).filter(_.isDirectory).flatMap(d =>
        fs.listStatus(d.getPath).filter(_.isFile)
          .filterNot(_.getPath.getName.startsWith("_"))).length
    }
    MergeTable.deleteKeysMor(spark, dir, Seq(5L, 6L).toDF("key"))
    assert(dvCount() >= 1)
    val rep0 = MergeTable.fsck(spark, dir)
    assert(rep0.orphans === 0L && rep0.missing === 0L)
    // retention keeps v2 (the DV version): its dv files must survive
    MergeTable.vacuum(spark, dir, retainVersions = 1,
      minFileAgeMs = 0L)
    assert(dvCount() >= 1)
    assert(keysOf(dir) === (1 to 500).map(_.toLong).toSet - 5L - 6L)
    // optimize materializes; the dv files lose their reference and
    // the next vacuum reclaims them
    MergeTable.optimize(spark, dir, "cents")
    MergeTable.vacuum(spark, dir, retainVersions = 1,
      minFileAgeMs = 0L)
    assert(dvCount() === 0)
    assert(MergeTable.fsck(spark, dir).missing === 0L)
    assert(keysOf(dir) === (1 to 500).map(_.toLong).toSet - 5L - 6L)
  }

  test("the #requires= capability line gates unknown features " +
      "loudly — a manifest demanding a capability this engine lacks " +
      "refuses to read instead of returning wrong rows") {
    import spark.implicits._
    val dir = mkTable(20)
    // plant a future capability into a copy of the head manifest
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mp = new org.apache.hadoop.fs.Path(s"$dir/_manifests/v000000001")
    val in = fs.open(mp)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    fs.delete(mp, false)
    val out = fs.create(mp, true)
    try out.write(("#requires=row-lineage\n" + body).getBytes("UTF-8"))
    finally out.close()
    val e = intercept[IllegalStateException] {
      MergeTable.readTable(spark, dir).collect()
    }
    assert(e.getMessage.contains("row-lineage"))
    assert(e.getMessage.contains("capabilit"))
  }

  test("restore carries the DELETION-VECTOR state with the data and " +
      "keeps the HEAD's properties: rolling back to the tombstoned " +
      "snapshot re-masks the rows") {
    import spark.implicits._
    val dir = mkTable()
    MergeTable.deleteKeysMor(spark, dir, Seq(9L, 10L).toDF("key")) // v2
    MergeTable.setProperties(spark, dir,
      Map("graft.deletes.mode" -> "mor")) // v3
    MergeTable.upsert(spark, dir,
      Seq((9L, "back", 90L)).toDF("key", "value", "cents")) // v4: 9 returns
    assert(keysOf(dir).contains(9L))
    val v = MergeTable.restore(spark, dir, 2L)
    assert(v === 5L)
    assert(keysOf(dir) === (1 to 500).map(_.toLong).toSet - 9L - 10L)
    // properties survive the data rollback (operational config)
    assert(MergeTable.properties(spark, dir) ===
      Map("graft.deletes.mode" -> "mor"))
    assert(MergeTable.fsckDeep(spark, dir).mismatched.isEmpty)
  }

  test("table properties are VERSIONED metadata-only commits: set, " +
      "merge, unset; time travel reads each version's own map") {
    import spark.implicits._
    val dir = mkTable(20)
    val files = fileIds(dir)
    val v2 = MergeTable.setProperties(spark, dir,
      Map("a" -> "1", "graft.deletes.mode" -> "mor"))
    val v3 = MergeTable.setProperties(spark, dir, Map("a" -> "2"))
    val v4 = MergeTable.unsetProperties(spark, dir, Seq("a", "nope"))
    assert((v2, v3, v4) === ((2L, 3L, 4L)))
    assert(fileIds(dir) === files) // zero data writes
    assert(MergeTable.properties(spark, dir, Some(2L))("a") === "1")
    assert(MergeTable.properties(spark, dir, Some(3L))("a") === "2")
    assert(MergeTable.properties(spark, dir) ===
      Map("graft.deletes.mode" -> "mor"))
    // invalid keys refuse loudly
    intercept[IllegalArgumentException] {
      MergeTable.setProperties(spark, dir, Map("a:b" -> "x"))
    }
  }

  test("MOR deletes compose with the streaming changefeed source: " +
      "a subscription over a DV-only commit delivers the deletes") {
    import spark.implicits._
    val dir = mkTable(60)
    MergeTable.deleteKeysMor(spark, dir,
      Seq(11L, 12L, 13L).toDF("key"))
    val out = MergeTable.changes(spark, dir, 1L, 2L)
      .select("key", "change").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((11L, "delete"), (12L, "delete"), (13L, "delete")))
  }

  test("SQL surface: SET/UNSET/SHOW TBLPROPERTIES are versioned " +
      "commits, and with graft.deletes.mode=mor a plain SQL DELETE " +
      "writes deletion vectors — zero data files touched") {
    import spark.implicits._
    val dir = mkTable()
    val before = fileIds(dir)
    spark.sql(s"ALTER TABLE merge_table.`$dir` SET TBLPROPERTIES " +
      "('graft.deletes.mode' = 'mor', 'owner' = 'graft')")
    val shown = spark.sql(s"SHOW TBLPROPERTIES merge_table.`$dir`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown === Map("graft.deletes.mode" -> "mor",
      "owner" -> "graft"))
    // keyed DELETE → deleteKeysMor (no rewrite)
    val r1 = spark.sql(
      s"DELETE FROM merge_table.`$dir` WHERE key IN (1, 2, 3)")
      .collect().head
    assert(r1.getLong(2) === 3L)
    // predicate DELETE → deleteWhereMor (no rewrite)
    val r2 = spark.sql(
      s"DELETE FROM merge_table.`$dir` WHERE cents > 4950")
      .collect().head
    assert(r2.getLong(2) === 5L) // keys 496..500
    assert(fileIds(dir) === before)
    assert(keysOf(dir) ===
      (4 to 495).map(_.toLong).toSet)
    assert(MergeTable.fsckDeep(spark, dir).mismatched.isEmpty)
    // UNSET flips DELETE back to copy-on-write: files rewrite
    spark.sql(s"ALTER TABLE merge_table.`$dir` UNSET TBLPROPERTIES " +
      "('graft.deletes.mode')")
    spark.sql(s"DELETE FROM merge_table.`$dir` WHERE key = 4")
    assert(fileIds(dir) !== before)
    assert(keysOf(dir) === (5 to 495).map(_.toLong).toSet)
    // UPDATE without its own mode flag stays copy-on-write
    spark.sql(s"ALTER TABLE merge_table.`$dir` SET TBLPROPERTIES " +
      "('graft.deletes.mode' = 'mor')")
    spark.sql(s"UPDATE merge_table.`$dir` SET value = 'x' WHERE key = 5")
    assert(MergeTable.readKeys(spark, dir, Seq(5L))
      .select("value").collect().head.getString(0) === "x")
    // with graft.updates.mode=mor, UPDATE tombstones + appends: no
    // existing file rewritten, SETs see OLD values
    spark.sql(s"ALTER TABLE merge_table.`$dir` SET TBLPROPERTIES " +
      "('graft.updates.mode' = 'mor')")
    val filesPre = fileIds(dir)
    val r3 = spark.sql(s"UPDATE merge_table.`$dir` " +
      "SET value = 'y', cents = cents + 5 WHERE key IN (6, 7)")
      .collect().head
    assert(r3.getLong(1) === 2L)
    assert(filesPre.toSet.subsetOf(fileIds(dir).toSet))
    val rows = MergeTable.readKeys(spark, dir, Seq(6L, 7L))
      .select("key", "value", "cents").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(rows(6L) === (("y", 65L)) && rows(7L) === (("y", 75L)))
    assert(MergeTable.fsckDeep(spark, dir).mismatched.isEmpty)
  }

  test("upsertMor: matched rows tombstone, the batch APPENDS as a " +
      "small epoch — zero existing files touched, O(batch) written — " +
      "and the fingerprint arithmetic (old - tombstoned + appended) " +
      "re-attests exactly") {
    import spark.implicits._
    val dir = mkTable()
    val before = fileIds(dir)
    val st = MergeTable.upsertMor(spark, dir,
      Seq((7L, "u7", 70L), (42L, "u42", 420L), (9001L, "new", 1L))
        .toDF("key", "value", "cents"))
    assert(st.version === 2L)
    assert(st.rowsMatched === 2L && st.rowsInserted === 1L)
    // every pre-existing file byte-identical; fresh files = one per
    // touched bucket in the append epoch
    val after = fileIds(dir)
    assert(before.toSet.subsetOf(after.toSet))
    assert((after.keySet -- before.keySet).size === st.filesAppended)
    assert(st.filesAppended <= st.bucketsTouched)
    // content: updated values win, insert lands, rest untouched
    val got = MergeTable.readTable(spark, dir)
      .select("key", "value").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(7L) === "u7" && got(42L) === "u42" &&
      got(9001L) === "new" && got(8L) === "v8")
    assert(got.size === 501)
    // exact fp arithmetic: deep audit green across the mixed-epoch,
    // tombstoned buckets
    val deep = MergeTable.fsckDeep(spark, dir)
    assert(deep.mismatched.isEmpty)
    // the CDC window classifies updates and the insert
    val ch = MergeTable.changes(spark, dir, 1L, 2L)
      .groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ch === Map("update" -> 2L, "insert" -> 1L))
    // time travel: v1 pre-update values
    assert(MergeTable.readTable(spark, dir, Some(1L))
      .filter(col("key") === 7L).select("value")
      .collect().head.getString(0) === "v7")
    // a second MOR upsert on the same key replaces the appended row
    MergeTable.upsertMor(spark, dir,
      Seq((7L, "u7b", 71L)).toDF("key", "value", "cents"))
    assert(MergeTable.readKeys(spark, dir, Seq(7L))
      .select("value").collect().head.getString(0) === "u7b")
    assert(MergeTable.fsckDeep(spark, dir).mismatched.isEmpty)
    // optimize compacts the small appended files and purges tombstones
    MergeTable.optimize(spark, dir, "cents")
    val det = MergeTable.detail(spark, dir).collect().head
    assert(det.getAs[Long]("dv_tombstones") === 0L)
    assert(MergeTable.readKeys(spark, dir, Seq(7L))
      .select("value").collect().head.getString(0) === "u7b")
    assert(MergeTable.fsckDeep(spark, dir).mismatched.isEmpty)
  }

  test("upsertMor honors the upsert contract: extend-only schema " +
      "(missing column refuses; added column reads null for old " +
      "rows), one-row-per-key gate, and COW/MOR writers interleave") {
    import spark.implicits._
    val dir = mkTable(100)
    val e1 = intercept[IllegalArgumentException] {
      MergeTable.upsertMor(spark, dir,
        Seq((1L, "x")).toDF("key", "value")) // cents missing
    }
    assert(e1.getMessage.contains("extend-only"))
    val e2 = intercept[IllegalArgumentException] {
      MergeTable.upsertMor(spark, dir,
        Seq((1L, "a", 1L), (1L, "b", 2L)).toDF("key", "value", "cents"))
    }
    assert(e2.getMessage.contains("one row per key"))
    // extension: a new column appends; old rows read null
    MergeTable.upsertMor(spark, dir,
      Seq((1L, "x1", 10L, "extra")).toDF("key", "value", "cents", "note"))
    val t = MergeTable.readTable(spark, dir)
    assert(t.filter(col("key") === 1L).select("note")
      .collect().head.getString(0) === "extra")
    assert(t.filter(col("key") === 2L).select("note")
      .collect().head.isNullAt(0))
    // COW upsert on a MOR-touched bucket materializes its tombstones
    MergeTable.upsert(spark, dir,
      Seq((1L, "x2", 11L, "e2")).toDF("key", "value", "cents", "note"))
    assert(MergeTable.readKeys(spark, dir, Seq(1L))
      .select("value").collect().head.getString(0) === "x2")
    assert(MergeTable.fsckDeep(spark, dir).mismatched.isEmpty)
  }

  test("mergeMor: the full clause algebra (conditional update, " +
      "fall-through delete, insert, by-source aging + reap) lands as " +
      "tombstones + one append epoch — equivalent to the COW merge " +
      "row-for-row, zero base files rewritten, fsckDeep green, and " +
      "the CDC windows identical") {
    import spark.implicits._
    val dirCow = mkTable()
    val dirMor = mkTable()
    val src = (Seq((2L, "up2", 1000L), (4L, "up4", 1L),
      (6L, "up6", 6000L)) ++
      Seq((9001L, "new1", 10L), (9002L, "new2", 20L)))
      .toDF("key", "value", "cents")
    def clauses = (
      Seq(
        MergeTable.MergeWhen(Some(col("src.cents") > col("tgt.cents")),
          MergeTable.MergeAction.UpdateAll),
        MergeTable.MergeWhen(None, MergeTable.MergeAction.Delete)),
      Seq(MergeTable.MergeWhen(None, MergeTable.MergeAction.UpdateAll)),
      Seq(
        MergeTable.MergeWhen(Some(col("tgt.key") > lit(495L)),
          MergeTable.MergeAction.Delete),
        MergeTable.MergeWhen(Some(col("tgt.key") > lit(490L)),
          MergeTable.MergeAction.Update(Map(
            "value" -> concat(col("tgt.value"), lit("-aged")))))))
    val (m, nm, bs) = clauses
    val stCow = MergeTable.merge(spark, dirCow, src, m, nm, bs)
    val before = fileIds(dirMor)
    val stMor = MergeTable.mergeMor(spark, dirMor, src, m, nm, bs)
    // identical clause accounting
    assert((stMor.rowsUpdated, stMor.rowsDeleted, stMor.rowsInserted,
      stMor.rowsCarried) === ((stCow.rowsUpdated, stCow.rowsDeleted,
      stCow.rowsInserted, stCow.rowsCarried)))
    // zero base files rewritten on the MOR side
    assert(before.toSet.subsetOf(fileIds(dirMor).toSet))
    // row-for-row identical final states
    def state(d: String) = MergeTable.readTable(spark, d)
      .select("key", "value", "cents").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(state(dirMor) === state(dirCow))
    // the fingerprint arithmetic attests the mixed outcome
    val deep = MergeTable.fsckDeep(spark, dirMor)
    assert(deep.mismatched.isEmpty)
    // CDC windows identical (fingerprint-pruned on both sides)
    def cdc(d: String) = MergeTable.changes(spark, d, 1L, 2L)
      .select("key", "change").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(cdc(dirMor) === cdc(dirCow))
    // SQL MERGE INTO routes through MOR under the property
    spark.sql(s"ALTER TABLE merge_table.`$dirMor` SET TBLPROPERTIES " +
      "('graft.merges.mode' = 'mor')")
    val filesPre = fileIds(dirMor)
    src.createOrReplaceTempView("dv_merge_src")
    spark.sql(
      s"""MERGE INTO merge_table.`$dirMor` t
         |USING (SELECT key, value, cents + 1 AS cents
         |       FROM dv_merge_src) s
         |ON t.key = s.key
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(filesPre.toSet.subsetOf(fileIds(dirMor).toSet))
    assert(MergeTable.readKeys(spark, dirMor, Seq(9001L))
      .select("cents").collect().head.getLong(0) === 11L)
    assert(MergeTable.fsckDeep(spark, dirMor).mismatched.isEmpty)
  }

  test("a bucket whose EVERY row is tombstoned attests as the " +
      "implicit all-zero fingerprint: fsckDeep green, reads empty, " +
      "CDC classifies the full-bucket wipe") {
    import spark.implicits._
    val dir = mkTable(300)
    val doomed = MergeTable.readTable(spark, dir)
      .filter(col("bucket") === "0").select("key")
      .collect().map(_.getLong(0)).toSeq
    assert(doomed.nonEmpty)
    val st = MergeTable.deleteKeysMor(spark, dir, doomed.toDF("key"))
    assert(st.rowsDeleted === doomed.size.toLong)
    val deep = MergeTable.fsckDeep(spark, dir)
    assert(deep.mismatched.isEmpty)
    assert(MergeTable.readTable(spark, dir)
      .filter(col("bucket") === "0").count() === 0L)
    assert(MergeTable.changes(spark, dir, 1L, 2L)
      .filter(col("change") === "delete").count() ===
      doomed.size.toLong)
  }

  test("streaming clause drain follows graft.merges.mode=mor: the " +
      "exactly-once #tok= rides the DV commit atomically — a " +
      "re-delivered batch skips, a new batch tombstones + appends, " +
      "and no base file is ever rewritten") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = mkTable(40)
    val ckpt = java.nio.file.Files
      .createTempDirectory("dv-cl-ckpt").toString
    MergeTable.setProperties(spark, dir,
      Map("graft.merges.mode" -> "mor")): Unit
    val baseFiles = fileIds(dir)
    val m = Seq(MergeTable.MergeWhen(None,
      MergeTable.MergeAction.Delete))
    val nm = Seq(MergeTable.MergeWhen(None,
      MergeTable.MergeAction.UpdateAll))
    // simulate the crash window: the TABLE commit landed (token for
    // batch 0 riding the SAME manifest as the tombstones) but the
    // stream checkpoint did not — the state a kill between the two
    // leaves behind
    MergeTable.mergeMor(spark, dir,
      Seq((3L, "x", 0L), (50L, "ins", 1L))
        .toDF("key", "value", "cents"),
      matched = m, notMatched = nm,
      idempotencyToken = Some("dv1:0")): Unit
    assert(!keysOf(dir).contains(3L) && keysOf(dir).contains(50L))
    assert(MergeTable.lastAppliedBatch(spark, dir, "dv1") === Some(0L))
    // restart: foreachBatch re-delivers batch 0 — without the gate the
    // MOR replay would re-insert 3 and tombstone 50 (the flip-flop)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long)]
    input.addData((3L, "x", 0L), (50L, "ins", 1L))
    graft.streaming.MergeStream.startClauses(
      input.toDF().toDF("key", "value", "cents"), dir, ckpt,
      matched = m, notMatched = nm, streamId = Some("dv1"))
      .awaitTermination()
    assert(!keysOf(dir).contains(3L) && keysOf(dir).contains(50L),
      "the replayed batch must be skipped, not re-applied")
    // a genuinely new batch applies THROUGH the MOR write path
    input.addData((50L, "y", 2L), (60L, "ins2", 1L))
    graft.streaming.MergeStream.startClauses(
      input.toDF().toDF("key", "value", "cents"), dir, ckpt,
      matched = m, notMatched = nm, streamId = Some("dv1"))
      .awaitTermination()
    assert(!keysOf(dir).contains(50L) && keysOf(dir).contains(60L))
    assert(MergeTable.lastAppliedBatch(spark, dir, "dv1") === Some(1L))
    assert(baseFiles.toSet.subsetOf(fileIds(dir).toSet),
      "MOR streaming merges must never rewrite a base file")
    assert(MergeTable.detail(spark, dir).collect().head
      .getAs[Long]("dv_tombstones") > 0L)
    val deep = MergeTable.fsckDeep(spark, dir)
    assert(deep.mismatched.isEmpty)
  }

  test("a MOR clause merge that LOSES the commit race re-dispatches " +
      "against the winner's snapshot — conditions re-evaluate, the " +
      "loser's orphaned epoch and tombstones are deleted, and the " +
      "token rides the retried DV commit") {
    import spark.implicits._
    val dir = mkTable(10)
    val baseFiles = fileIds(dir)
    var planted = false
    val st = MergeTable.mergeWithHook(spark, dir,
      Seq((1L, "x", 0L), (2L, "x", 0L)).toDF("key", "value", "cents"),
      matched = Seq(MergeTable.MergeWhen(
        Some(col("tgt.value").startsWith("v")),
        MergeTable.MergeAction.Delete)),
      notMatched = Nil, notMatchedBySource = Nil,
      idempotencyToken = Some("dvX:5"),
      beforeCommit = () => if (!planted) {
        planted = true
        // the winner moves key 1 off the 'v' prefix between the
        // loser's DV/epoch write and its manifest promotion
        MergeTable.upsert(spark, dir,
          Seq((1L, "moved", 0L)).toDF("key", "value", "cents")): Unit
      }, mor = true)
    assert(st.rowsDeleted === 1L,
      s"only key 2 still matched the condition after the winner: $st")
    val t = MergeTable.readTable(spark, dir)
    assert(t.filter(col("key") === 1L).select("value")
      .collect().head.getString(0) === "moved")
    assert(t.filter(col("key") === 2L).count() === 0L)
    assert(MergeTable.lastAppliedBatch(spark, dir, "dvX") === Some(5L),
      "the token must ride the RETRIED DV commit")
    // the winner rewrote key 1's bucket (COW), so not every base file
    // survives — but the RETRIED MOR commit itself rewrote nothing
    // beyond the winner's: the loser's first-attempt epoch and dv
    // files must be gone (swept eagerly on the lost race)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val man = MergeTable.versions(spark, dir).last
    val live = MergeTable.readTable(spark, dir, Some(man)): Unit
    val orphanEpochs = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$dir/data"))
      .map(_.getPath.getName).count(_.startsWith("v=3"))
    assert(orphanEpochs <= 1,
      "the lost race's attempt epoch must be deleted eagerly")
    assert(MergeTable.fsckDeep(spark, dir).mismatched.isEmpty)
    baseFiles: Unit
  }

  test("a live changefeed subscription straddling a DV-only commit " +
      "delivers the deletes exactly once, and a following MOR upsert " +
      "flows as updates through the same stream") {
    import spark.implicits._
    val dir = mkTable(60)
    val root = java.nio.file.Files.createTempDirectory("dv-cfs")
    val sink = root.resolve("sink").toString
    val ckpt = root.resolve("ckpt").toString
    def drainToSink(): Unit = {
      val q = spark.readStream.format("merge-table-changes")
        .option("dir", dir).option("initialVersion", 1L).load()
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // v2 is a DV-ONLY commit: zero data files moved, the stream's
    // batch is carved from decremented fingerprints alone
    MergeTable.deleteKeysMor(spark, dir, Seq(11L, 12L, 13L).toDF("key"))
    drainToSink()
    val afterDelete = spark.read.parquet(sink)
      .select("key", "change").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(afterDelete === Set((11L, "delete"), (12L, "delete"),
      (13L, "delete")),
      s"the DV-only window must deliver exactly the deletes: $afterDelete")
    // v3 is a MOR upsert (tombstone + append epoch): the same stream
    // resumes from its checkpoint and sees exactly the update
    MergeTable.upsertMor(spark, dir,
      Seq((20L, "moved", 777L)).toDF("key", "value", "cents")): Unit
    drainToSink()
    val all = spark.read.parquet(sink)
      .select("key", "change").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(all.length === 4 && all.toSet.contains((20L, "update")),
      s"the MOR upsert must flow exactly once: ${all.toSeq}")
  }
}
