package graft.ext

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._

/** MODEL-BASED property test of the snapshot table: an arbitrary
  * sequence of upsert / delete / rebucket / optimize operations
  * applied both to a MergeTable and to an in-memory Map model must
  * agree on the FINAL state AND on every intermediate version via
  * time travel — the history is the specification. The fixed
  * MergeTableSpec scenarios pin the named behaviors (byte-identical
  * untouched files, conflicts, vacuum); this property sweeps the
  * interaction space those scenarios can't enumerate: a key inserted,
  * deleted, and re-inserted with a new value; a batch that only
  * touches absent keys; empty-bucket transitions; latest-wins across
  * arbitrarily many versions; an upsert landing AFTER a mid-history
  * bucket-width migration (the batch must hash at the new width);
  * time travel crossing migration and optimize boundaries; deletes
  * and merges that empty the table. After every op [[MergeTable
  * .fsckDeep]] must check every live bucket of the new version and
  * find no mismatch — every writer emits a complete manifest. Kept to
  * few-but-meaty cases because every operation pays real file I/O. */
object MergeTableProperties extends Properties("MergeTable") {

  private def spark = graft.SparkSpec.session

  private sealed trait Op
  private final case class Upsert(rows: Map[Long, String]) extends Op
  private final case class Delete(keys: Set[Long]) extends Op
  private final case class Rebucket(hex: Int) extends Op
  private case object Optimize extends Op
  // a conditional MERGE drawn from four fixed clause-set templates —
  // fixed so the Map model can restate each exactly (the Column
  // conditions and their model twins must be the same predicate)
  private final case class Merge(rows: Map[Long, String], kind: Int)
    extends Op
  // metadata-only rollback to an arbitrary committed version
  private final case class Restore(pick: Int) extends Op

  // small key domain on purpose: collisions (update/delete/re-insert
  // of the SAME key across batches) are the interesting interactions
  private val genUpsert: Gen[Op] = for {
    keys <- Gen.nonEmptyListOf(Gen.choose(1L, 12L)).map(_.toSet)
    tag <- Gen.choose(0, 1000)
  } yield Upsert(keys.map(k => k -> s"v$tag-$k").toMap)
  private val genMerge: Gen[Op] = for {
    keys <- Gen.nonEmptyListOf(Gen.choose(1L, 12L)).map(_.toSet)
    tag <- Gen.choose(0, 1000)
    kind <- Gen.choose(0, 3)
  } yield Merge(keys.map(k => k -> s"m$tag-$k").toMap, kind)
  private val genOp: Gen[Op] = Gen.frequency(
    4 -> genUpsert,
    2 -> Gen.nonEmptyListOf(Gen.choose(1L, 12L)).map(ks =>
      Delete(ks.toSet): Op),
    1 -> Gen.oneOf(1, 2, 3).map(h => Rebucket(h): Op),
    1 -> Gen.const(Optimize: Op),
    3 -> genMerge,
    1 -> Gen.choose(0, Int.MaxValue).map(p => Restore(p): Op))

  private val genOps = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, genOp))

  // every case pays real file I/O (one epoch write per op), so the
  // sweep runs few-but-deep cases rather than scalacheck's default 100
  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(12)

  property("any op sequence matches the Map model at every version") =
    forAll(genOps) { ops =>
      val s = spark
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("cow-prop")
        .resolve("t").toString
      val init = Map(1L -> "init1", 5L -> "init5", 9L -> "init9")
      MergeTable.create(init.toSeq.toDF("key", "value"), dir, "key")
      // replay the ops against both implementations, tracking history
      // (contents AND width — restore rolls BOTH back to the target's)
      var model = init
      var width = MergeTable.HEX_DIGITS
      val history = scala.collection.mutable.ArrayBuffer(model)
      val widthHist = scala.collection.mutable.ArrayBuffer(width)
      import MergeTable.{MergeWhen, MergeAction => A}
      // the new version's fsckDeep checks every live bucket and finds
      // no mismatch (the manifest read refuses a missing #fp=/#esch=)
      def complete(): Boolean = {
        val v = MergeTable.versions(s, dir).last
        val rep = MergeTable.fsckDeep(s, dir, Some(v))
        val live = MergeTable.readManifest(s, dir, v)
          .map(e => "bucket=([0-9a-f]+)".r.findFirstMatchIn(e).get.group(1))
          .distinct.size.toLong
        rep.mismatched.isEmpty && rep.bucketsChecked == live
      }
      var allComplete = complete()
      // (before, after) versions of every layout-only commit
      val layoutPairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      ops.foreach { op =>
        val before = MergeTable.versions(s, dir).last
        op match {
          case Upsert(up) =>
            MergeTable.upsert(s, dir, up.toSeq.toDF("key", "value"))
            model = model ++ up
          case Delete(del) =>
            MergeTable.deleteKeys(s, dir, del.toSeq.toDF("key"))
            model = model -- del
          case Rebucket(hex) =>
            MergeTable.rebucket(s, dir, hex)
            width = hex
          case Optimize =>
            MergeTable.optimize(s, dir, "value")
          case Merge(rows, 0) => // the upsert-equivalent clause pair
            MergeTable.merge(s, dir, rows.toSeq.toDF("key", "value"),
              matched = Seq(MergeWhen(None, A.UpdateAll)),
              notMatched = Seq(MergeWhen(None, A.UpdateAll)))
            model = model ++ rows
          case Merge(rows, 1) => // conditional update, else delete
            MergeTable.merge(s, dir, rows.toSeq.toDF("key", "value"),
              matched = Seq(
                MergeWhen(Some(col("tgt.key") % 2 === 0),
                  A.Update(Map("value" -> col("src.value")))),
                MergeWhen(None, A.Delete)),
              notMatched = Seq(MergeWhen(None, A.UpdateAll)))
            model = rows.foldLeft(model) { case (m, (k, v)) =>
              if (m.contains(k)) {
                if (k % 2 == 0) m + (k -> v) else m - k
              } else m + (k -> v)
            }
          case Merge(rows, 2) => // by-source aging; inserts SKIPPED
            MergeTable.merge(s, dir, rows.toSeq.toDF("key", "value"),
              matched = Seq(MergeWhen(None, A.UpdateAll)),
              notMatchedBySource = Seq(
                MergeWhen(Some(col("tgt.key") % 3 === 0),
                  A.Update(Map("value" ->
                    concat(col("tgt.value"), lit("!"))))),
                MergeWhen(Some(col("tgt.key") % 5 === 0), A.Delete)))
            model = model.flatMap { case (k, v) =>
              if (rows.contains(k)) Some(k -> rows(k))
              else if (k % 3 == 0) Some(k -> (v + "!"))
              else if (k % 5 == 0) None
              else Some(k -> v)
            }
          case Merge(rows, _) => // delete-only: unmatched src skipped
            MergeTable.merge(s, dir, rows.toSeq.toDF("key", "value"),
              matched = Seq(MergeWhen(None, A.Delete)))
            model = model -- rows.keySet
          case Restore(pick) =>
            val vs = MergeTable.versions(s, dir)
            val target = vs(pick % vs.size)
            MergeTable.restore(s, dir, target)
            model = history((target - 1).toInt)
            width = widthHist((target - 1).toInt)
        }
        // every op commits one version, except an OPTIMIZE of an
        // emptied table, which has nothing to rewrite
        if (op != Optimize || model.nonEmpty) {
          history += model
          widthHist += width
          allComplete = allComplete && complete()
          if (op == Optimize || op.isInstanceOf[Rebucket])
            layoutPairs += before -> MergeTable.versions(s, dir).last
        }
      }
      def stateAt(v: Long): Map[Long, String] =
        MergeTable.readTable(s, dir, Some(v))
          .select("key", "value").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      val versions = MergeTable.versions(s, dir)
      // bucket width at any version must be the last migration at or
      // before it — or, across a restore, the TARGET's width (width is
      // a snapshot property and restore re-lists the target snapshot)
      val widths = versions.map(v => MergeTable.bucketWidth(s, dir, Some(v)))
      val expectedWidths = widthHist.toSeq
      // a layout-only commit (optimize OR rebucket — even one that
      // lands mid-history after deletes emptied buckets) must diff to
      // ZERO changed buckets: optimize by per-bucket fingerprint
      // identity, rebucket by the width-invariant table-level total
      val layoutOnlyFree = layoutPairs.forall { case (a, b) =>
        MergeTable.changedBuckets(s, dir, a, b).isEmpty }
      allComplete &&
        versions.size == history.size &&
        widths == expectedWidths &&
        layoutOnlyFree &&
        versions.zip(history).forall { case (v, m) => stateAt(v) == m }
    }
}
