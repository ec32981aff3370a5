package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TYPE-WIDENING evolution (the Iceberg promotion model): a metadata
  * commit declares int→long / float→double / decimal-precision
  * growth; old files keep their narrow physical type and every read
  * from that version on scans under the widened schema, new epochs
  * store the wide type, time travel reads each regime, fingerprints
  * re-attest under the widened hash regime in the same commit, and
  * the declaration window is CDC-quiet. */
class WidenColumnSpec extends SparkSpec {

  private def mkTable(n: Int = 60): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-widen")
      .resolve("t").toString
    val df = (1 to n).map(i => (i.toLong, i * 10, i / 2.0f))
      .toDF("key", "qty", "ratio")
    MergeTable.create(df, dir, "key", hexDigits = 1)
    dir
  }

  test("int->long: post-widen reads are LongType on unchanged files, " +
      "a beyond-int batch lands, time travel reads each regime, and " +
      "fsckDeep stays green across the re-attestation") {
    import spark.implicits._
    val dir = mkTable()
    val vW = MergeTable.widenColumn(spark, dir, "qty", "bigint")
    assert(vW === 2L)
    val widened = MergeTable.readTable(spark, dir)
    assert(widened.schema("qty").dataType === LongType,
      "the widened column must scan as LONG on pre-widen files")
    assert(widened.agg(sum("qty")).collect().head.getLong(0) ===
      (1 to 60).map(_ * 10L).sum)
    // pre-widen snapshot still reads its own (int) regime
    assert(MergeTable.readTable(spark, dir, Some(1L))
      .schema("qty").dataType === IntegerType)
    // a batch beyond int range lands and reads back exactly
    val big = 3_000_000_000L // > Int.MaxValue
    MergeTable.upsert(spark, dir,
      Seq((1L, big, 0.5f)).toDF("key", "qty", "ratio")): Unit
    val read = MergeTable.readTable(spark, dir)
      .filter(col("key") === 1L).select("qty").collect().head
    assert(read.getLong(0) === big)
    // fingerprints were RE-ATTESTED under the widened regime: the
    // content audit recomputes from the widened read and must agree
    val deep = MergeTable.fsckDeep(spark, dir)
    assert(deep.mismatched.isEmpty,
      s"post-widen fingerprints drifted: ${deep.mismatched}")
    assert(deep.bucketsChecked > 0L)
    // and the PRE-widen snapshot audits green under ITS regime too
    assert(MergeTable.fsckDeep(spark, dir, Some(1L)).mismatched.isEmpty)
  }

  test("an emptied table widens as a metadata commit: it reads as " +
      "zero rows of the widened type and takes a wide row") {
    import spark.implicits._
    val dir = mkTable(8)
    MergeTable.deleteKeys(spark, dir, (1L to 8L).toDF("key")): Unit
    MergeTable.widenColumn(spark, dir, "qty", "bigint"): Unit
    val emptied = MergeTable.readTable(spark, dir)
    assert(emptied.schema("qty").dataType === LongType)
    assert(emptied.count() === 0L)
    MergeTable.upsert(spark, dir,
      Seq((1L, 3_000_000_000L, 0.5f)).toDF("key", "qty", "ratio")): Unit
    assert(MergeTable.readTable(spark, dir).select("qty").collect()
      .map(_.getLong(0)).toSeq === Seq(3_000_000_000L))
    assert(MergeTable.fsckDeep(spark, dir).mismatched.isEmpty)
  }

  test("the widen window is CDC-QUIET; a post-widen write is not") {
    import spark.implicits._
    val dir = mkTable()
    val vW = MergeTable.widenColumn(spark, dir, "qty", "bigint")
    assert(MergeTable.changes(spark, dir, vW - 1, vW).count() === 0L,
      "a widen declaration moves no rows — the changefeed must be " +
        "quiet across it")
    MergeTable.upsert(spark, dir,
      Seq((7L, 5_000_000_000L, 1.0f)).toDF("key", "qty", "ratio")): Unit
    val diff = MergeTable.changes(spark, dir, vW, vW + 1)
    assert(diff.filter(col("key") === 7L).count() >= 1L,
      "a real write in the post-widen regime must still feed CDC")
  }

  test("float->double and decimal precision growth promote; new " +
      "epochs physically store the wide type") {
    import spark.implicits._
    val dir = mkTable()
    MergeTable.widenColumn(spark, dir, "ratio", "double"): Unit
    val t = MergeTable.readTable(spark, dir)
    assert(t.schema("ratio").dataType === DoubleType)
    assert(t.filter(col("key") === 4L).select("ratio")
      .collect().head.getDouble(0) === 2.0)
    // decimal: build a decimal table and grow precision
    val d2 = java.nio.file.Files.createTempDirectory("graft-widen-dec")
      .resolve("t").toString
    MergeTable.create(
      (1 to 20).map(i => (i.toLong, BigDecimal(i) / 4))
        .toDF("key", "amt")
        .select(col("key"), col("amt").cast(DecimalType(10, 2)).as("amt")),
      d2, "key", 1)
    MergeTable.widenColumn(spark, d2, "amt", "decimal(16,2)"): Unit
    val dec = MergeTable.readTable(spark, d2)
    assert(dec.schema("amt").dataType === DecimalType(16, 2))
    assert(dec.agg(sum("amt")).collect().head.getDecimal(0)
      .compareTo(new java.math.BigDecimal("52.50")) === 0)
    MergeTable.upsert(spark, d2,
      Seq((1L, new java.math.BigDecimal("99999999999999.25")))
        .toDF("key", "amt")
        .select(col("key"),
          col("amt").cast(DecimalType(16, 2)).as("amt"))): Unit
    assert(MergeTable.readTable(spark, d2).filter(col("key") === 1L)
      .select("amt").collect().head.getDecimal(0)
      .compareTo(new java.math.BigDecimal("99999999999999.25")) === 0)
    assert(MergeTable.fsckDeep(spark, d2).mismatched.isEmpty)
  }

  test("refusals are loud: key column, narrowing, cross-family, " +
      "scale change, unknown column") {
    val dir = mkTable()
    def refuses(body: => Any, frag: String): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    refuses(MergeTable.widenColumn(spark, dir, "key", "bigint"),
      "key column")
    refuses(MergeTable.widenColumn(spark, dir, "qty", "smallint"),
      "not a lossless promotion")
    refuses(MergeTable.widenColumn(spark, dir, "qty", "string"),
      "not a lossless promotion")
    refuses(MergeTable.widenColumn(spark, dir, "ratio", "decimal(10,2)"),
      "not a lossless promotion")
    refuses(MergeTable.widenColumn(spark, dir, "nope", "bigint"),
      "no column")
    // monotone: once long, int is narrowing and long->long is a no-op
    MergeTable.widenColumn(spark, dir, "qty", "bigint"): Unit
    refuses(MergeTable.widenColumn(spark, dir, "qty", "bigint"),
      "not a lossless promotion")
  }

  test("widening composes with MERGE-ON-READ: tombstones subtract " +
      "canonical hashes, the attestation stays exact, and compactDvs " +
      "folds the mixed-regime bucket cleanly") {
    import spark.implicits._
    val dir = mkTable(100)
    MergeTable.widenColumn(spark, dir, "qty", "bigint"): Unit
    // MOR delete AFTER the widen: victim hashes come from the widened
    // read and must subtract exactly from the re-attested fps
    MergeTable.deleteKeysMor(spark, dir,
      Seq(4L, 9L, 16L).toDF("key")): Unit
    assert(MergeTable.readTable(spark, dir).count() === 97L)
    assert(MergeTable.fsckDeep(spark, dir).mismatched.isEmpty,
      "MOR decrement drifted across the widened hash regime")
    // a post-widen MOR upsert appends a LONG epoch into buckets whose
    // base files are INT — the mixed bucket must still read and fold
    MergeTable.upsertMor(spark, dir,
      Seq((5L, 7_000_000_000L, 9.0f)).toDF("key", "qty", "ratio")): Unit
    assert(MergeTable.readTable(spark, dir)
      .filter(col("key") === 5L).select("qty")
      .collect().head.getLong(0) === 7_000_000_000L)
    assert(MergeTable.fsckDeep(spark, dir).mismatched.isEmpty)
    val st = MergeTable.compactDvs(spark, dir)
    assert(st.bucketsCompacted > 0L)
    val after = MergeTable.readTable(spark, dir)
    assert(after.count() === 97L)
    assert(after.filter(col("key") === 5L).select("qty")
      .collect().head.getLong(0) === 7_000_000_000L)
    assert(MergeTable.fsckDeep(spark, dir).mismatched.isEmpty)
  }

  test("SQL surface: ALTER TABLE ... ALTER COLUMN c TYPE t routes " +
      "to widenColumn (promotion enforced, version row back)") {
    val dir = mkTable()
    val v = spark.sql(
      s"ALTER TABLE merge_table.`$dir` ALTER COLUMN qty TYPE bigint")
      .collect()
    assert(v.length === 1 && v.head.getLong(0) === 2L)
    assert(MergeTable.readTable(spark, dir)
      .schema("qty").dataType === LongType)
    val e = intercept[IllegalArgumentException] {
      spark.sql(
        s"ALTER TABLE merge_table.`$dir` ALTER COLUMN qty TYPE int")
    }
    assert(e.getMessage.contains("not a lossless promotion"))
    // decimal spelling with precision parses through the type group
    val d2 = java.nio.file.Files.createTempDirectory("graft-widen-sq")
      .resolve("t").toString
    import spark.implicits._
    MergeTable.create(
      (1 to 10).map(i => (i.toLong, BigDecimal(i))).toDF("key", "amt")
        .select(org.apache.spark.sql.functions.col("key"),
          org.apache.spark.sql.functions.col("amt")
            .cast(DecimalType(10, 2)).as("amt")),
      d2, "key", 1)
    spark.sql(
      s"ALTER TABLE merge_table.`$d2` ALTER COLUMN amt TYPE " +
        "decimal(14,2)").collect()
    assert(MergeTable.readTable(spark, d2)
      .schema("amt").dataType === DecimalType(14, 2))
  }

  test("a concurrent widen disqualifies the conflict-scoped fast " +
      "re-commit (props change), and the loser's retry lands in the " +
      "widened regime") {
    import spark.implicits._
    val dir = mkTable()
    val f0 = MergeTable.fastRecommits.get()
    var fired = false
    MergeTable.upsertWithHook(spark, dir,
      Seq((2L, 77, 0.5f)).toDF("key", "qty", "ratio"), () => {
        if (!fired) { fired = true
          MergeTable.widenColumn(spark, dir, "qty", "bigint"): Unit }
      }): Unit
    assert(MergeTable.fastRecommits.get() - f0 === 0L,
      "a widen during the race window must force the full retry")
    val t = MergeTable.readTable(spark, dir)
    assert(t.schema("qty").dataType === LongType)
    assert(t.filter(col("key") === 2L).select("qty")
      .collect().head.getLong(0) === 77L)
    assert(MergeTable.fsckDeep(spark, dir).mismatched.isEmpty)
  }
}
