package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Schema evolution beyond extend-only: rename/drop as manifest-level
  * column mapping — physical names immutable in the files, logical
  * names per snapshot, every consumer speaking the right dialect at
  * the right boundary. */
class ColumnMappingSpec extends SparkSpec {

  private def mkTable(n: Int = 200): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-colmap")
      .resolve("t").toString
    MergeTable.create(
      (1 to n).map(i => (i.toLong, i.toLong * 10, s"s$i"))
        .toDF("key", "cents", "status"),
      dir, "key")
    dir
  }

  test("rename is a metadata-only CDC-free commit; upserts speak the " +
      "new name, the old name's physical slot is closed, and time " +
      "travel reads each snapshot under its own names") {
    import spark.implicits._
    val dir = mkTable()
    val files = MergeTable.readTable(spark, dir).inputFiles.toSet
    val v = MergeTable.renameColumn(spark, dir, "cents", "amount")
    assert(MergeTable.readTable(spark, dir).inputFiles.toSet === files,
      "a rename must re-list the same files")
    assert(MergeTable.changedBuckets(spark, dir, v - 1, v) === Seq.empty,
      "a rename-only window must prune to zero buckets")
    assert(MergeTable.readTable(spark, dir).columns
      .contains("amount"))
    assert(!MergeTable.readTable(spark, dir).columns.contains("cents"))
    assert(MergeTable.readTable(spark, dir, Some(1L)).columns
      .contains("cents"), "time travel keeps the old name")
    // new-name upsert lands; old-name upsert is rejected loudly
    MergeTable.upsert(spark, dir,
      Seq((1L, 999L, "up")).toDF("key", "amount", "status"))
    assert(MergeTable.readTable(spark, dir)
      .filter(col("key") === 1L).select("amount")
      .collect().head.getLong(0) === 999L)
    val err = intercept[IllegalArgumentException] {
      MergeTable.upsert(spark, dir,
        Seq((2L, 5L, "x")).toDF("key", "cents", "status"))
    }
    assert(err.getMessage.contains("renamed away"),
      s"the closed physical slot must reject re-use: $err")
    // renaming onto an existing logical name is rejected
    val err2 = intercept[IllegalArgumentException] {
      MergeTable.renameColumn(spark, dir, "amount", "status")
    }
    assert(err2.getMessage.contains("already exists"))
    // the key is not renamable or droppable
    assert(intercept[IllegalArgumentException] {
      MergeTable.renameColumn(spark, dir, "key", "id")
    }.getMessage.contains("bucket identity"))
    assert(intercept[IllegalArgumentException] {
      MergeTable.dropColumn(spark, dir, "key")
    }.getMessage.contains("bucket identity"))
  }

  test("drop excludes the column from reads, the changefeed, and new " +
      "batches; old snapshots keep the data; maintenance after a " +
      "rename stays CDC-free (physical names preserved)") {
    import spark.implicits._
    val dir = mkTable()
    val vd = MergeTable.dropColumn(spark, dir, "status")
    assert(MergeTable.changedBuckets(spark, dir, vd - 1, vd) === Seq.empty)
    assert(MergeTable.readTable(spark, dir).columns.toSet ===
      Set("key", "cents", "bucket"))
    assert(MergeTable.readTable(spark, dir, Some(1L)).columns
      .contains("status"), "pre-drop snapshots keep the data")
    // a batch carrying the dropped name is rejected; one without it
    // is complete (the dropped physical is exempt from extend-only)
    assert(intercept[IllegalArgumentException] {
      MergeTable.upsert(spark, dir,
        Seq((1L, 5L, "zombie")).toDF("key", "cents", "status"))
    }.getMessage.contains("renamed away or dropped"))
    MergeTable.upsert(spark, dir, Seq((1L, 5L)).toDF("key", "cents"))
    val cf = MergeTable.changes(spark, dir, vd, vd + 1)
    assert(!cf.schema("new_row").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("status"),
      "the changefeed must not report a dropped column")
    assert(cf.count() === 1L)
    // OPTIMIZE after the drop: still contents-invariant and CDC-free
    // (rewrite reads physical names; fingerprints survive)
    val vo = MergeTable.optimize(spark, dir, "cents").version
    assert(MergeTable.changedBuckets(spark, dir, vo - 1, vo) === Seq.empty,
      "optimize across a mapping must stay CDC-free")
    val deep = MergeTable.fsckDeep(spark, dir)
    assert(deep.mismatched.isEmpty,
      s"fingerprint inheritance must survive mapping + optimize: $deep")
  }

  test("a CHECK constraint referencing the column blocks rename and " +
      "drop until it is dropped; constraints declared on the NEW name " +
      "enforce against translated batches") {
    import spark.implicits._
    val dir = mkTable(50)
    MergeTable.addConstraint(spark, dir, "cents_pos", "cents > 0")
    assert(intercept[IllegalArgumentException] {
      MergeTable.renameColumn(spark, dir, "cents", "amount")
    }.getMessage.contains("cents_pos"))
    assert(intercept[IllegalArgumentException] {
      MergeTable.dropColumn(spark, dir, "cents")
    }.getMessage.contains("cents_pos"))
    MergeTable.dropConstraint(spark, dir, "cents_pos")
    MergeTable.renameColumn(spark, dir, "cents", "amount")
    MergeTable.addConstraint(spark, dir, "amount_pos", "amount > 0")
    val err = intercept[IllegalStateException] {
      MergeTable.upsert(spark, dir,
        Seq((1L, -7L, "bad")).toDF("key", "amount", "status"))
    }
    assert(err.getMessage.contains("amount_pos"),
      "enforcement must see the logical (renamed) view of the write")
  }

  test("a rename may not land on an OCCUPIED physical slot (a name " +
      "renamed away or dropped) — loud at rename time, not at the " +
      "next write; rename-back-home vacates the slot") {
    import spark.implicits._
    val dir = mkTable(50)
    MergeTable.renameColumn(spark, dir, "cents", "amount")
    // 'cents' is gone logically but its PHYSICAL slot is occupied:
    // renaming status onto it would make every later batch carrying
    // logical 'cents' collide with the closed slot in toPhysical —
    // the table would be unwritable under its own schema
    val err = intercept[IllegalArgumentException] {
      MergeTable.renameColumn(spark, dir, "status", "cents")
    }
    assert(err.getMessage.contains("occupied physical slot"), s"$err")
    // same trap via drop: dropping a column leaves its slot occupied
    MergeTable.dropColumn(spark, dir, "status")
    assert(intercept[IllegalArgumentException] {
      MergeTable.renameColumn(spark, dir, "amount", "status")
    }.getMessage.contains("occupied physical slot"))
    // rename-back-home is the one legal landing on a mapped slot
    MergeTable.renameColumn(spark, dir, "amount", "cents")
    assert(MergeTable.readTable(spark, dir).columns.contains("cents"))
    MergeTable.upsert(spark, dir, Seq((1L, 5L)).toDF("key", "cents"))
    assert(MergeTable.readTable(spark, dir)
      .filter(col("key") === 1L).select("cents")
      .collect().head.getLong(0) === 5L)
  }

  test("restore re-validates CHECK constraints against the LOGICAL " +
      "view of the restored snapshot — a constraint on a renamed " +
      "column must block a violating rollback, not silently skip") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rst")
      .resolve("t").toString
    MergeTable.create(
      Seq((1L, -5L), (2L, 20L)).toDF("key", "cents"), dir, "key") // v1
    MergeTable.renameColumn(spark, dir, "cents", "amount") // v2: bad row
    MergeTable.upsert(spark, dir,
      Seq((1L, 5L)).toDF("key", "amount")) // v3: fixed
    MergeTable.addConstraint(spark, dir, "amount_pos", "amount > 0")
    // v2's snapshot violates amount_pos UNDER ITS LOGICAL NAME; a
    // physical-frame validation would fail to resolve 'amount' over
    // the file column 'cents' and silently skip the check
    val err = intercept[IllegalStateException] {
      MergeTable.restore(spark, dir, 2L)
    }
    assert(err.getMessage.contains("amount_pos"),
      s"restore must see the logical view: $err")
    // the restore never committed; a clean restore still works
    assert(MergeTable.readTable(spark, dir)
      .filter(col("amount") <= 0).count() === 0L)
    MergeTable.restore(spark, dir, 3L)
  }

  test("the SQL surfaces speak the mapped names: merge_table reads, " +
      "MERGE INTO writes, and stats pruning pushes a renamed " +
      "predicate down to the physical stats") {
    import spark.implicits._
    val dir = mkTable(400)
    MergeTable.renameColumn(spark, dir, "cents", "amount")
    MergeTable.registerSql(spark)
    val viaSql = spark.sql(
      s"SELECT sum(amount) AS s FROM merge_table('$dir')")
      .collect().head.getLong(0)
    assert(viaSql === (1 to 400).map(_.toLong * 10).sum)
    Seq((3L, 123L, "m")).toDF("key", "amount", "status")
      .createOrReplaceTempView("cm_src")
    spark.sql(
      s"""MERGE INTO merge_table.`$dir` AS t USING cm_src AS s
         |ON t.key = s.key
         |WHEN MATCHED THEN UPDATE SET amount = s.amount""".stripMargin)
      .collect()
    assert(MergeTable.readTable(spark, dir)
      .filter(col("key") === 3L).select("amount")
      .collect().head.getLong(0) === 123L)
    // stats pruning through the rename: stripe the table, filter the
    // NEW name — pushdown lands on the physical column whose #st=
    // lines the manifest carries
    MergeTable.optimizeZOrder(spark, dir, "amount", "key",
      maxRecordsPerFile = Some(50L))
    graft.plans.StatsFilePruning.enable(spark)
    val q = MergeTable.readTable(spark, dir)
      .filter(col("amount").between(1000L, 1200L))
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
      }.get
    val total = MergeTable.readTable(spark, dir).inputFiles.length
    assert(scanned < total,
      s"renamed-column predicate must still prune: $scanned of $total")
    // key 3's amount moved to 123 (outside the box); every other key
    // keeps i*10 — so the expected rows are keys 100..120
    assert(q.count() === (100 to 120).size.toLong)
  }
}
