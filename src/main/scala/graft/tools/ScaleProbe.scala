package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only 10× scale probe for the hottest extension paths — the
  * persisted IVF-PQ serve (q98 shape), the near-dup multi-probe pair
  * scan (q79 shape), the dedup component closure (q80 shape, over a
  * planted-cluster corpus with structural ground truth), the substring
  * excision (q134 shape, hot planted shingle), and the COW upsert
  * (q140 shape, constant batch vs growing table). Every 100 TB argument so far is a plan-SHAPE
  * argument (pruned scans, equi-joins, bounded broadcasts); this tool
  * turns the two load-bearing ones into MEASURED scaling exponents:
  * run the production code paths over deterministic synthetic corpora
  * at 1×/3×/10× the sf0.1 vector count and fit
  * slope = log(m_10x / m_1x) / log(10) for each metric. The claims
  * under test, with the mechanism that should produce them:
  *
  *  - ANN candidates/query ~ n (exponent ≈ 1): nprobe/COARSE_K of the
  *    corpus per query, by cell partition pruning — never more.
  *  - near-dup candidate pairs ~ n (exponent ≈ 1, NOT the fixed-plane
  *    quadratic): lshPlanes adds one hyperplane per corpus doubling, so
  *    bucket occupancy stays ~flat and the bucket equi-join's output
  *    (∝ n · occupancy · probes) tracks n. Occupancy halving is
  *    stepwise, so per-step exponents wobble around 1 (a doubling just
  *    before a plane increment runs ~2× occupancy); the 1×→10× fit
  *    spans three increments and averages the steps out.
  *  - wall time follows the candidate counts once per-job fixed cost
  *    (~0.1-0.3 s of scheduling at local[32]) is subtracted — at these
  *    corpus sizes fixed cost dominates, so the TIME exponents are
  *    reported but the candidate-count exponents are the scale signal.
  *
  * Results are recorded in docs/PLANS.md (§ scale probe); any exponent
  * materially above 1 is a named bug, not a shrug. Not part of the
  * engine surface; nothing here runs in Verify/Bench.
  *
  * Usage: runMain graft.tools.ScaleProbe [baseN] — baseN defaults to
  * 2000, the sf0.1 embeddings row count. */
object ScaleProbe {

  /** Deterministic synthetic corpus in the embeddings-table shape:
    * 64-dim float vectors from Murmur3 of (id, dim) — same distribution
    * family at every scale, no RNG state, executor-parallel. */
  private def synth(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), " +
        "j -> cast((hash(id, j) % 1000) / 1000.0 as float))")
        .as("embedding"))

  private def timeMinOf(reps: Int)(f: => Unit): Double = {
    f // warmup: JIT + codegen + parquet footer caches, Bench discipline
    (1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min
  }

  def main(args: Array[String]): Unit = {
    val baseN = args.headOption.map(_.toLong).getOrElse(2000L)
    val scales = Seq(1, 3, 10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tmp = java.nio.file.Files.createTempDirectory("graft-scaleprobe")
      .toString

    case class Cell(scale: Int, n: Long, buildS: Double, serveS: Double,
      candPerQuery: Double, pairS: Double, candPairs: Long, planes: Int,
      closureS: Double, nComponents: Long, exciseS: Double,
      dupTokens: Long, cowS: Double, cowFiles: Long, cowRows: Long,
      cowRowsWide: Long, diffOptS: Double, diffOptBuckets: Long,
      lookupS: Double, lookupApiS: Double, lookupFiles: Long,
      mergeS: Double, mergeFiles: Long, restoreS: Double,
      statsScanned: Long, statsTotal: Long, statsPlanS: Double)

    val cells = scales.map { sc =>
      val n = baseN * sc
      // materialize generation outside every timed region
      val corpus = synth(spark, n).localCheckpoint(true)

      // --- ANN: q98 shape. Train on a CONSTANT-size sample (the
      // train-once/add-forever production discipline — q99 prices its
      // recall cost), add the full corpus, serve 10 queries at k=5
      // nprobe=2. Build is reported but untimed in the serve metric.
      val idxDir = s"$tmp/ann_s$sc"
      val tb = System.nanoTime()
      graft.ext.IvfPqIndex.create(spark, idxDir,
        corpus.filter(col("vec_id") < baseN))
      graft.ext.IvfPqIndex.add(spark, idxDir, corpus, 0L)
      val buildS = (System.nanoTime() - tb) / 1e9
      val queries = corpus.filter(col("vec_id") < 10)
        .select("vec_id", "embedding").localCheckpoint(true)
      val serveS = timeMinOf(3) {
        graft.ext.IvfPqIndex.search(spark, idxDir, queries,
          k = 5, nprobe = 2).count()
      }
      val candPerQuery = graft.ext.IvfPqIndex.scoredCandidates(
        spark, idxDir, queries, 2, None).count() / 10.0

      // --- near-dup: q79 shape over the same corpus
      val pairS = timeMinOf(3) {
        graft.ext.Dedup.multiProbePairsOf(corpus).count()
      }
      val candPairs = graft.ext.Dedup.multiProbeCandidatesOf(corpus).count()
      val planes = graft.ext.Dedup.lshPlanes(n)

      // --- closure: q80 shape (pair scan -> connected components) over
      // a PLANTED-cluster corpus: groups of 5 near-identical vectors
      // (shared hash-seeded base + sub-0.1% perturbation, so in-group
      // cosine ≈ 1 and cross-group ≈ 0). Ground truth is structural —
      // components must track the n/5 planted groups — and the closure
      // must converge in O(diameter)=O(1) rounds at every scale or
      // connectedComponents THROWS, so a super-constant round count
      // cannot pass silently.
      val planted = spark.range(n).select(col("id").as("vec_id"),
          expr("transform(sequence(0, 63), " +
            "j -> cast((hash(id div 5, j) % 1000) / 1000.0 " +
            "   + (hash(id, j) % 9) / 10000.0 as float))").as("embedding"))
        .localCheckpoint(true)
      var nComp = 0L
      val closureS = timeMinOf(2) {
        val pairs = graft.ext.Dedup.multiProbePairsOf(planted)
          .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"))
        nComp = graft.ext.Dedup.connectedComponents(pairs)
          .select("component_id").distinct().count()
      }
      // components ≤ groups: merges are REAL — as the corpus densifies,
      // independent random 64-dim bases land within cosine 0.4 of each
      // other (P≈1.4e-3/pair) and the closure correctly chains them;
      // measured merge fraction ~4% at 1x → ~11% at 10x. The bound
      // below catches a broken closure (components collapsing toward 1
      // or exploding past the planted count), not that physics.
      val groups = n / 5
      require(nComp <= groups && nComp >= (groups * 3) / 4,
        s"closure found $nComp components for $groups planted groups")

      // --- substring excision: q134 shape over synthetic documents.
      // 100 tokens/doc from a hashed vocabulary; every 10th doc carries
      // the SAME 16-token run at positions 41–56, so the duplicated
      // shingle is HOT (df = n/10 — the worst-case fp for the df
      // shuffle, which must aggregate it, never pair-join it). Claims:
      // the dataflow forms NO pairs, so dup_tokens is exactly
      // 16 · n/10 (exponent 1 structurally) and wall time tracks corpus
      // tokens linearly — there is no quadratic to fall into, unlike
      // the LSH pair scan, and this leg proves the hot-fp path keeps it
      // that way.
      val docs = spark.range(n).select(col("id").as("doc_id"),
          expr("array_join(transform(sequence(0, 99), j -> " +
            "case when id % 10 = 0 and j >= 40 and j < 56 " +
            "then concat('dup', j) " +
            "else concat('w', abs(hash(id, j)) % 50000) end), ' ')")
            .as("text"))
        .localCheckpoint(true)
      var dupToks = 0L
      val exciseS = timeMinOf(2) {
        dupToks = graft.ext.Dedup.substringExcise(docs, k = 8)
          .agg(sum("dup_tokens")).collect().head.getLong(0)
      }
      // structural ground truth: 16 covered tokens in each of the n/10
      // planted docs; hash-vocabulary collisions can only ADD coverage,
      // and at 50k words they add none at these scales
      require(dupToks >= 16 * (n / 10),
        s"excision lost planted coverage: $dupToks < ${16 * (n / 10)}")

      // --- COW upsert: q140 shape over a synthetic keyed table. A
      // CONSTANT 40-key batch against a growing table; the claims:
      // files written stays bounded by the batch's distinct buckets
      // (amplification ∝ change stream, exponent ≈ 0), while rewritten
      // ROWS grow with bucket SIZE (exponent ≈ 1 at fixed bucket
      // count, slope |batch buckets|/256 — the measured collateral
      // cost that says WHEN to raise HEX_DIGITS: production scales
      // bucket count with the table precisely so this row-cost stays
      // row-group-bounded).
      val tbl = s"$tmp/cow_s$sc"
      graft.ext.MergeTable.create(
        spark.range(n).select(col("id").as("key"),
          (col("id") % 97).as("payload")), tbl, "key")
      val batch = spark.range(40).select((col("id") * 50).as("key"),
        lit(-1L).as("payload"))
      var cowFiles = 0L
      val cowS = timeMinOf(1) {
        cowFiles = graft.ext.MergeTable.upsert(spark, tbl, batch)
          .filesWritten
      }
      val cowRows = graft.ext.MergeTable.readTable(spark, tbl)
        .filter(col("bucket").isin(graft.ext.MergeTable
          .changedBuckets(spark, tbl, 1L, 2L): _*)).count()

      // --- rebucket relief: the collateral-row slope above is THE
      // instrument that says when to widen the bucket count; rebucket
      // is the migration that acts on it. Migrate the same table to
      // 3 hex (4096 buckets), re-apply the same constant batch, and
      // measure the collateral rows again — the drop (≈ bucket-size
      // ratio, 16x at these scales) is the migration's payoff, priced
      // against its one-time full rewrite.
      // versions are read from the returned stats, not hardcoded: the
      // timed upsert above ran twice (timeMinOf warmup), so the
      // migration does not sit at a fixed version number
      val vMig = graft.ext.MergeTable.rebucket(spark, tbl, 3).version
      // a rebucket-ONLY window diffs free despite the width change:
      // the table-level fingerprint total is width-invariant, so the
      // migration contributes zero changed buckets and zero rows
      require(graft.ext.MergeTable
          .changedBuckets(spark, tbl, vMig - 1, vMig).isEmpty &&
          graft.ext.MergeTable
            .changes(spark, tbl, vMig - 1, vMig).count() == 0L,
        "contents-invariant rebucket leaked into the changefeed")
      val vUp = graft.ext.MergeTable.upsert(spark, tbl,
        batch.withColumn("payload", lit(-2L))).version
      val cowRowsWide = graft.ext.MergeTable.readTable(spark, tbl)
        .filter(col("bucket").isin(graft.ext.MergeTable
          .changedBuckets(spark, tbl, vMig, vUp): _*)).count()

      // --- diff across maintenance: OPTIMIZE rewrites every file but
      // moves no row; the per-bucket content fingerprints must prove
      // every bucket unchanged BEFORE a byte is read, so the changefeed
      // window straddling it scans ZERO buckets and its cost is two
      // manifest reads — FLAT in table size (exponent ≈ 0), the
      // round-13 short-circuit measured rather than asserted.
      val vOpt = graft.ext.MergeTable.optimize(spark, tbl, "payload")
        .version
      var diffOptRows = 0L
      val diffOptBuckets = graft.ext.MergeTable
        .changedBuckets(spark, tbl, vUp, vOpt).size.toLong
      val diffOptS = timeMinOf(3) {
        diffOptRows = graft.ext.MergeTable
          .changes(spark, tbl, vUp, vOpt).count()
      }
      require(diffOptBuckets == 0L && diffOptRows == 0L,
        s"layout-only optimize leaked into the changefeed: " +
          s"$diffOptBuckets buckets / $diffOptRows rows")

      // --- point lookup: a CONSTANT 5-key lookup against the growing
      // (now 4096-bucket, optimized) table must cost the impacted
      // buckets' files — never a snapshot scan. Both paths measured:
      // the Catalyst rule (readTable + IN filter rewritten to a
      // bucket partition filter) and the driver-pruned readKeys API.
      // Claims: files read flat (exponent ≈ 0; at 4096 buckets the 5
      // keys own ≤ 5 files) and wall time flat in table size.
      graft.plans.KeyToBucketPruning.enable(spark)
      val lookKeys = Seq(0L, 50L, 100L, 150L, 200L)
      val lookDf = graft.ext.MergeTable.readTable(spark, tbl)
        .filter(col("key").isin(lookKeys: _*))
      val lookupFiles = lookDf.queryExecution.executedPlan
        .collectLeaves().collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.totalNumberOfFiles
        }.getOrElse(-1L)
      val lookupS = timeMinOf(3) {
        require(lookDf.count() == 5L, "rule-path lookup lost rows")
      }
      val lookupApiS = timeMinOf(3) {
        require(graft.ext.MergeTable.readKeys(spark, tbl, lookKeys)
          .count() == 5L, "api-path lookup lost rows")
      }
      require(lookupFiles > 0 && lookupFiles <= lookKeys.size,
        s"point lookup scanned $lookupFiles files for " +
          s"${lookKeys.size} keys — pruning did not hold")

      // --- conditional MERGE: the clause path shares upsert's
      // impacted-bucket discipline, so a CONSTANT source against the
      // growing table must stay O(source buckets) — files written
      // bounded by the source's distinct buckets, wall time flat in
      // table size (exponent ≈ 0). The clause set exercises all of
      // update/delete/insert so the full-outer classify path is what
      // gets timed, not a degenerate branch.
      val mergeSrc = spark.range(20).select(
        (col("id") * 101).as("key"), lit(-7L).as("payload"))
        .localCheckpoint(true)
      var mergeFiles = 0L
      val mergeS = timeMinOf(1) {
        mergeFiles = graft.ext.MergeTable.merge(spark, tbl, mergeSrc,
          matched = Seq(
            graft.ext.MergeTable.MergeWhen(
              Some(col("tgt.key") % 2 === 0),
              graft.ext.MergeTable.MergeAction.Update(
                Map("payload" -> col("src.payload")))),
            graft.ext.MergeTable.MergeWhen(None,
              graft.ext.MergeTable.MergeAction.Delete)),
          notMatched = Seq(graft.ext.MergeTable.MergeWhen(None,
            graft.ext.MergeTable.MergeAction.UpdateAll))).filesWritten
      }
      val mergeSrcBuckets = mergeSrc
        .select(substring(md5(col("key").cast("string")), 1, 3))
        .distinct().count()
      require(mergeFiles <= mergeSrcBuckets,
        s"merge wrote $mergeFiles files for a $mergeSrcBuckets-bucket " +
          "source — the impacted-bucket discipline did not hold")

      // --- RESTORE: rollback is a pure-metadata commit (re-list an
      // old manifest); its cost must be O(manifest), flat in row count.
      val restoreS = timeMinOf(1) {
        graft.ext.MergeTable.restore(spark, tbl,
          graft.ext.MergeTable.versions(spark, tbl).max - 1): Unit
      }

      // --- value-predicate FILE pruning (round 14): a z-striped table
      // with a FIXED value domain (mod columns) and a FIXED box. Total
      // stripe files grow ∝ n (stripe size constant), matched rows
      // grow ∝ n — and the claim under test is that the PLANNED scan
      // tracks the box's constant curve share: scanned/total flat
      // (exponent ≈ 0), i.e. the pruning win scales WITH the table
      // instead of eroding. Planning cost (optimize + one count) is
      // also recorded; the stats read is manifest-sized and cached.
      val stp = s"$tmp/stp_s$sc"
      graft.ext.MergeTable.create(
        spark.range(n).select(col("id").as("key"),
          (col("id") % 499).as("x"), (col("id") % 293).as("y")),
        stp, "key", 1)
      graft.ext.MergeTable.optimizeZOrder(spark, stp, "x", "y",
        maxRecordsPerFile = Some(50L))
      graft.plans.StatsFilePruning.enable(spark)
      val boxDf = graft.ext.MergeTable.readTable(spark, stp)
        .filter(col("x").between(200L, 240L) &&
          col("y").between(100L, 130L))
      var statsScanned = 0L
      val statsPlanS = timeMinOf(3) {
        statsScanned = boxDf.queryExecution.executedPlan
          .collectLeaves().collectFirst {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              f.selectedPartitions.totalNumberOfFiles
          }.getOrElse(-1L)
      }
      val statsTotal = graft.ext.MergeTable.readTable(spark, stp)
        .inputFiles.length.toLong
      require(statsScanned > 0 && statsScanned < statsTotal,
        s"stats pruning did not engage: $statsScanned of $statsTotal")
      val wantBox = spark.range(n).filter(
        (col("id") % 499).between(200L, 240L) &&
          (col("id") % 293).between(100L, 130L)).count()
      require(boxDf.count() == wantBox,
        "stats-pruned box read lost rows")

      val cell = Cell(sc, n, buildS, serveS, candPerQuery, pairS,
        candPairs, planes, closureS, nComp, exciseS, dupToks,
        cowS, cowFiles, cowRows, cowRowsWide, diffOptS, diffOptBuckets,
        lookupS, lookupApiS, lookupFiles, mergeS, mergeFiles, restoreS,
        statsScanned, statsTotal, statsPlanS)
      println(f"[scaleprobe] scale=${sc}x n=$n build=${buildS}%.2fs " +
        f"serve=${serveS}%.2fs cand/q=${candPerQuery}%.1f " +
        f"pairscan=${pairS}%.2fs candpairs=$candPairs planes=$planes " +
        f"closure=${closureS}%.2fs components=$nComp/$groups " +
        f"excise=${exciseS}%.2fs duptokens=$dupToks " +
        f"cow=${cowS}%.2fs cowfiles=$cowFiles cowrows=$cowRows " +
        f"cowrows_rebucketed=$cowRowsWide " +
        f"relief=${cowRows.toDouble / math.max(1, cowRowsWide)}%.1fx " +
        f"diff_across_optimize=${diffOptS}%.2fs " +
        f"(buckets=$diffOptBuckets) " +
        f"lookup=${lookupS}%.2fs lookup_api=${lookupApiS}%.2fs " +
        f"lookup_files=$lookupFiles " +
        f"merge=${mergeS}%.2fs merge_files=$mergeFiles " +
        f"restore=${restoreS}%.2fs " +
        f"stats_scan=$statsScanned/$statsTotal " +
        f"(frac=${statsScanned.toDouble / statsTotal}%.3f, " +
        f"plan=${statsPlanS}%.3fs)")
      cell
    }

    def expo(m: Cell => Double): Double = {
      val (a, b) = (cells.head, cells.last)
      math.log(m(b) / m(a)) / math.log(b.n.toDouble / a.n)
    }
    println(f"[scaleprobe] EXPONENTS (1x -> ${scales.last}x): " +
      f"ann_candidates=${expo(_.candPerQuery)}%.2f " +
      f"ann_serve_time=${expo(_.serveS)}%.2f " +
      f"neardup_cand_pairs=${expo(_.candPairs.toDouble)}%.2f " +
      f"neardup_scan_time=${expo(_.pairS)}%.2f " +
      f"closure_time=${expo(_.closureS)}%.2f " +
      f"closure_components=${expo(_.nComponents.toDouble)}%.2f " +
      f"excise_time=${expo(_.exciseS)}%.2f " +
      f"excise_dup_tokens=${expo(_.dupTokens.toDouble)}%.2f " +
      f"cow_files_written=${expo(_.cowFiles.toDouble)}%.2f " +
      f"cow_rows_rewritten=${expo(_.cowRows.toDouble)}%.2f " +
      f"cow_rows_rebucketed=${expo(_.cowRowsWide.toDouble)}%.2f " +
      f"diff_across_optimize_time=${expo(_.diffOptS)}%.2f " +
      f"lookup_time=${expo(_.lookupS)}%.2f " +
      f"lookup_api_time=${expo(_.lookupApiS)}%.2f " +
      f"lookup_files=${expo(_.lookupFiles.toDouble)}%.2f " +
      f"merge_time=${expo(_.mergeS)}%.2f " +
      f"merge_files=${expo(_.mergeFiles.toDouble)}%.2f " +
      f"restore_time=${expo(_.restoreS)}%.2f " +
      f"stats_files_scanned=${expo(_.statsScanned.toDouble)}%.2f " +
      f"stats_prune_fraction=${
        expo(c => c.statsScanned.toDouble / c.statsTotal)}%.2f " +
      f"stats_plan_time=${expo(_.statsPlanS)}%.2f")

    // --- MOR vs COW WRITE-AMPLIFICATION LEG: a fixed 40-key batch
    // against buckets that GROW with scale (16 buckets, n rows). The
    // copy-on-write upsert rewrites every impacted bucket (write
    // bytes ∝ table/16·touched); the merge-on-read upsert tombstones
    // + appends (write bytes ∝ batch). Both still READ the impacted
    // buckets, so wall time converges to the scan at scale — the
    // bytes-written exponent is the claim under test.
    {
      case class MorCell(scale: Int, n: Long, cowS: Double,
        morS: Double, cowBytes: Long, morBytes: Long)
      def dataBytes(d: String): Long = {
        val fs = new org.apache.hadoop.fs.Path(d).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        def walk(p: org.apache.hadoop.fs.Path): Long =
          if (!fs.exists(p)) 0L
          else fs.listStatus(p).map(st =>
            if (st.isDirectory) walk(st.getPath) else st.getLen).sum
        walk(new org.apache.hadoop.fs.Path(s"$d/data")) +
          walk(new org.apache.hadoop.fs.Path(s"$d/_dvs"))
      }
      val morCells = scales.map { sc =>
        val n = baseN * 10 * sc
        def mk(t: String): String = {
          val d = s"$tmp/mor_${t}_s$sc"
          graft.ext.MergeTable.create(
            spark.range(n).select(col("id").as("key"),
              (col("id") % 97).as("payload")), d, "key", 1)
          d
        }
        val batch = spark.range(40).select(
          (col("id") * (n / 40)).as("key"), lit(-1L).as("payload"))
          .localCheckpoint(true)
        val tCow = mk("cow"); val tMor = mk("mor")
        val cowB0 = dataBytes(tCow); val morB0 = dataBytes(tMor)
        val cowS = timeMinOf(2) {
          graft.ext.MergeTable.upsert(spark, tCow, batch): Unit
        }
        val morS = timeMinOf(2) {
          graft.ext.MergeTable.upsertMor(spark, tMor, batch): Unit
        }
        // 3 commits each (warmup + 2 timed): bytes per commit
        val cowBytes = (dataBytes(tCow) - cowB0) / 3
        val morBytes = (dataBytes(tMor) - morB0) / 3
        println(f"[scaleprobe] mor scale=${sc}x n=$n " +
          f"cow_upsert=${cowS}%.3fs mor_upsert=${morS}%.3fs " +
          f"cow_bytes/commit=$cowBytes mor_bytes/commit=$morBytes " +
          f"amplification=${cowBytes.toDouble /
            math.max(1L, morBytes)}%.1fx")
        MorCell(sc, n, cowS, morS, cowBytes, morBytes)
      }
      def morexpo(m: MorCell => Double): Double = {
        val (a, b) = (morCells.head, morCells.last)
        math.log(m(b) / m(a)) / math.log(b.n.toDouble / a.n)
      }
      println(f"[scaleprobe] MOR EXPONENTS (1x -> ${scales.last}x): " +
        f"cow_time=${morexpo(_.cowS)}%.2f " +
        f"mor_time=${morexpo(_.morS)}%.2f " +
        f"cow_bytes=${morexpo(_.cowBytes.toDouble)}%.2f " +
        f"mor_bytes=${morexpo(_.morBytes.toDouble)}%.2f")
    }

    // --- MOR READ-TAX RECOVERY LEG (round 17): the other half of the
    // MOR trade. Six small upsertMor batches fragment the table (one
    // extra file per touched bucket per commit, plus tombstones the
    // reader anti-joins); compactDvs folds every dirty bucket back to
    // one file and purges the tombstones WITHOUT a re-sort. Claims:
    // the fragmented scan pays a measurable tax, the compacted scan
    // recovers it (compacted <= fragmented), compaction is CDC-FREE
    // (changedBuckets empty across the commit — the fingerprint
    // re-attestation), and compaction wall time tracks the dirty
    // buckets' rows, not the file count alone.
    {
      case class CompCell(scale: Int, n: Long, files0: Long,
        fragS: Double, compactS: Double, compS: Double, filesAfter: Long)
      val compCells = scales.map { sc =>
        val n = baseN * 10 * sc
        val dir = s"$tmp/comp_s$sc"
        graft.ext.MergeTable.create(
          spark.range(n).select(col("id").as("key"),
            (col("id") % 97).as("payload")), dir, "key", 1)
        (0 until 6).foreach { i =>
          val batch = spark.range(40).select(
            (col("id") * (n / 40) + i).as("key"),
            lit(-2L - i).as("payload")).localCheckpoint(true)
          graft.ext.MergeTable.upsertMor(spark, dir, batch): Unit
        }
        def scanS = timeMinOf(3) {
          graft.ext.MergeTable.readTable(spark, dir)
            .agg(sum("payload")).collect(): Unit
        }
        val files0 = graft.ext.MergeTable.readTable(spark, dir)
          .inputFiles.count(_.contains("/data/v=")).toLong
        val fragS = scanS
        val preV = graft.ext.MergeTable.versions(spark, dir).last
        val t0 = System.nanoTime()
        val st = graft.ext.MergeTable.compactDvs(spark, dir)
        val compactS = (System.nanoTime() - t0) / 1e9
        require(graft.ext.MergeTable
          .changedBuckets(spark, dir, preV, st.version).isEmpty,
          "compaction must be CDC-free")
        val compS = scanS
        println(f"[scaleprobe] compact scale=${sc}x n=$n " +
          f"files_frag=$files0 scan_frag=${fragS}%.3fs " +
          f"compact=${compactS}%.3fs scan_compacted=${compS}%.3fs " +
          f"files_after=${st.filesAfter} " +
          f"tax_recovered=${(fragS - compS) / fragS * 100}%.0f%%")
        CompCell(sc, n, files0, fragS, compactS, compS, st.filesAfter)
      }
      def cexpo(m: CompCell => Double): Double = {
        val (a, b) = (compCells.head, compCells.last)
        math.log(m(b) / m(a)) / math.log(b.n.toDouble / a.n)
      }
      println(f"[scaleprobe] COMPACT EXPONENTS (1x -> ${scales.last}x): " +
        f"scan_frag_time=${cexpo(_.fragS)}%.2f " +
        f"compact_time=${cexpo(_.compactS)}%.2f " +
        f"scan_compacted_time=${cexpo(_.compS)}%.2f")
    }

    // --- MANIFEST SCALING LEG (vs BUCKET COUNT, not corpus size) ---
    // Manifests re-list every live file each commit, so commit metadata
    // cost and the changefeed's manifest-read cost are O(buckets)/
    // version. Fine at 4096 buckets — but the manifest-list-of-
    // manifests decision (the Iceberg two-level shape) should be made
    // on a measurement, not a guess: one row per bucket at widths
    // 1/2/3 hex (16/256/4096 buckets), a CONSTANT 40-key batch upsert
    // timed (its epoch is ~constant; what grows is the re-listed
    // manifest), and the CDC-path manifest compare timed
    // (changedBuckets = two full manifest reads + fingerprint compare,
    // no data pages). A commit-time or read-time slope near 1 in
    // bucket count says where single-level manifests stop scaling.
    case class ManCell(hex: Int, buckets: Long, upsertS: Double,
      manReadS: Double)
    val manCells = Seq(1, 2, 3).map { w =>
      val buckets = 1L << (4 * w)
      val rows = buckets * 4 // ~4 rows/bucket: every bucket non-empty
      val dir = s"$tmp/man_w$w"
      graft.ext.MergeTable.create(
        spark.range(rows).select(col("id").as("key"),
          (col("id") % 97).as("payload")), dir, "key", w)
      val batch = spark.range(40).select(
        (col("id") * (rows / 40)).as("key"), lit(-1L).as("payload"))
      var vLast = 0L
      val upsertS = timeMinOf(2) {
        vLast = graft.ext.MergeTable.upsert(spark, dir, batch).version
      }
      val manReadS = timeMinOf(3) {
        graft.ext.MergeTable.changedBuckets(spark, dir, vLast - 1, vLast)
      }
      println(f"[scaleprobe] manifest hex=$w buckets=$buckets " +
        f"upsert=${upsertS}%.2fs manifest_compare=${manReadS}%.3fs")
      ManCell(w, buckets, upsertS, manReadS)
    }
    def mexpo(m: ManCell => Double): Double = {
      val (a, b) = (manCells.head, manCells.last)
      math.log(m(b) / m(a)) / math.log(b.buckets.toDouble / a.buckets)
    }
    println(f"[scaleprobe] MANIFEST EXPONENTS (16 -> 4096 buckets): " +
      f"upsert_commit_time=${mexpo(_.upsertS)}%.2f " +
      f"manifest_compare_time=${mexpo(_.manReadS)}%.2f")

    // --- VACUUM / FSCK SWEEP LEG (vs FILE COUNT) ---
    // The round-15 verdict named vacuum's serial driver-side listing
    // as the one standing scale-killer shape; the sweep now lists
    // epochs and deletes files on a bounded driver pool. This leg
    // measures the wall-time exponent of vacuum and the (read-only,
    // repeatable) fsck name-walk against 1x/3x/10x FILE counts — the
    // claim is sub-linear wall time at these scales (pool-parallel
    // RPCs; fixed cost dominates small sweeps) with EXACT stats:
    // deleted + live must equal the files on disk before the sweep.
    case class VacCell(scale: Int, files: Long, vacS: Double,
      deleted: Long, fsckS: Double)
    val vacCells = scales.map { sc =>
      val n = baseN * 8 * sc
      val dir = s"$tmp/vac_s$sc"
      graft.ext.MergeTable.create(
        spark.range(n).select(col("id").as("key"),
          (col("id") % 97).as("payload")), dir, "key", 2)
      // two striped rewrites: file count scales with n, and the first
      // rewrite's whole epoch becomes expirable garbage for the sweep
      graft.ext.MergeTable.optimize(spark, dir, "payload",
        maxRecordsPerFile = Some(64L))
      graft.ext.MergeTable.optimize(spark, dir, "key",
        maxRecordsPerFile = Some(64L))
      val before = graft.ext.MergeTable.fsck(spark, dir)
      val filesBefore = before.referenced + before.orphans
      var st: graft.ext.MergeTable.VacuumStats = null
      val t0 = System.nanoTime()
      st = graft.ext.MergeTable.vacuum(spark, dir,
        retainVersions = 1, minFileAgeMs = 0L)
      val vacS = (System.nanoTime() - t0) / 1e9
      require(st.filesDeleted + st.filesLive == filesBefore,
        s"vacuum stats must account for every file: " +
          s"$st vs $filesBefore on disk")
      val after = graft.ext.MergeTable.fsck(spark, dir)
      require(after.orphans == 0 && after.missing == 0,
        s"post-vacuum fsck must be clean: $after")
      val fsckS = timeMinOf(3) {
        graft.ext.MergeTable.fsck(spark, dir): Unit
      }
      println(f"[scaleprobe] vacuum scale=${sc}x files=$filesBefore " +
        f"vacuum=${vacS}%.3fs deleted=${st.filesDeleted} " +
        f"fsck=${fsckS}%.3fs")
      VacCell(sc, filesBefore, vacS, st.filesDeleted, fsckS)
    }
    def vexpo(m: VacCell => Double): Double = {
      val (a, b) = (vacCells.head, vacCells.last)
      math.log(m(b) / m(a)) / math.log(b.files.toDouble / a.files)
    }
    println(f"[scaleprobe] VACUUM EXPONENTS (1x -> ${scales.last}x " +
      f"files): vacuum_time=${vexpo(_.vacS)}%.2f " +
      f"fsck_time=${vexpo(_.fsckS)}%.2f")

    // --- CONFLICT-SCOPE LEG (round 18): wasted bytes per lost commit
    // race. A DISJOINT-bucket race loser takes the fast re-commit
    // (relink, no second data write); an OVERLAPPING-bucket loser
    // re-runs the body — which is also exactly what EVERY loser paid
    // before the fast path existed, so the overlap cell doubles as
    // the "before" price. Claims: disjoint-loss bytes ≈ 2 bucket
    // epochs (loser once + winner once), overlap-loss ≈ 3 (loser's
    // wasted attempt on top), both growing ∝ bucket size (exponent
    // ≈ 1 in n) — the SAVED bytes therefore also grow ∝ n, which at
    // 100 TB concurrency is the write-throughput ceiling the fast
    // path lifts.
    {
      case class ConCell(scale: Int, n: Long, disjointS: Double,
        overlapS: Double, disjointBytes: Long, overlapBytes: Long,
        fastHits: Long)
      def fsWritten(): Long = {
        import scala.jdk.CollectionConverters._
        org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
          .filter(_.getScheme == "file").map(_.getBytesWritten).sum
      }
      val conCells = scales.map { sc =>
        val n = baseN * 10 * sc
        val d = s"$tmp/conflict_s$sc"
        graft.ext.MergeTable.create(
          spark.range(n).select(col("id").as("key"),
            (col("id") % 97).as("payload")), d, "key", 1)
        val kb = graft.ext.MergeTable.readTable(spark, d)
          .filter(col("key") < 64).select("key", "bucket").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        val kA = kb.keys.min
        val kDisj = kb.keys.filter(k => kb(k) != kb(kA)).min
        val kOver = kb.keys.filter(k => kb(k) == kb(kA) && k != kA).min
        def losingUpsert(winnerKey: Long): (Double, Long) = {
          var fired = false
          val b0 = fsWritten()
          val t0 = System.nanoTime()
          graft.ext.MergeTable.upsertWithHook(spark, d,
            spark.range(1).select(lit(kA).as("key"),
              lit(-1L).as("payload")),
            () => { if (!fired) { fired = true
              graft.ext.MergeTable.upsert(spark, d,
                spark.range(1).select(lit(winnerKey).as("key"),
                  lit(-2L).as("payload"))): Unit } }): Unit
          ((System.nanoTime() - t0) / 1e9, fsWritten() - b0)
        }
        val f0 = graft.ext.MergeTable.fastRecommits.get()
        val (ds, db) = losingUpsert(kDisj)
        val fastHits = graft.ext.MergeTable.fastRecommits.get() - f0
        require(fastHits == 1L,
          "the disjoint race loser must take the fast re-commit path")
        val (os, ob) = losingUpsert(kOver)
        require(graft.ext.MergeTable.fastRecommits.get() - f0 == 1L,
          "the overlapping race loser must NOT take the fast path")
        println(f"[scaleprobe] conflict scale=${sc}x n=$n " +
          f"disjoint_loss=${ds}%.3fs/${db}b " +
          f"overlap_loss=${os}%.3fs/${ob}b " +
          f"wasted_before_minus_after=${ob - db}b")
        ConCell(sc, n, ds, os, db, ob, fastHits)
      }
      def conexpo(m: ConCell => Double): Double = {
        val (a, b) = (conCells.head, conCells.last)
        math.log(m(b) / m(a)) / math.log(b.n.toDouble / a.n)
      }
      println(f"[scaleprobe] CONFLICT EXPONENTS (1x -> " +
        f"${scales.last}x rows): disjoint_bytes=" +
        f"${conexpo(_.disjointBytes.toDouble)}%.2f overlap_bytes=" +
        f"${conexpo(_.overlapBytes.toDouble)}%.2f saved_ratio_at_10x=" +
        f"${conCells.last.overlapBytes.toDouble /
          conCells.last.disjointBytes}%.2f")
    }

    // --- DV-AWARE POINT-LOOKUP LEG (round 18, q181's property at
    // scale): a tombstone-CARRYING striped table at hexDigits 2 whose
    // TOTAL file count grows 1×/3×/10× (constant stripe size, growing
    // rows). A single-key lookup must plan O(1) data files at every
    // scale — bucket partition pruning (256 → 1 bucket) composed with
    // per-stripe key stats pruning, surviving the DV read split —
    // and plan time must stay O(manifest), not O(files) (the `#esch=`
    // schema path: no footer job at plan time). Claims: planned-file
    // exponent ≈ 0, lookup wall time ≈ flat.
    {
      case class DvLookCell(scale: Int, tableFiles: Long,
        planned: Long, planS: Double, lookS: Double, apiS: Double)
      graft.plans.KeyToBucketPruning.enable(spark)
      val dvCells = scales.map { sc =>
        val n = baseN * 20 * sc
        val d = s"$tmp/dvlook_s$sc"
        graft.ext.MergeTable.create(
          spark.range(n).select(col("id").as("key"),
            (col("id") % 97).as("payload")), d, "key", 2)
        // constant stripe size -> stripes (files) grow ∝ rows
        graft.ext.MergeTable.optimize(spark, d, "key",
          maxRecordsPerFile = Some(150L)): Unit
        // dirty it AFTER the layout: MOR deletes touch zero data
        // files, so the snapshot under test carries live tombstones
        graft.ext.MergeTable.deleteKeysMor(spark, d,
          spark.range(20).select((col("id") * 101 + 7).as("key"))): Unit
        val tableFiles = graft.ext.MergeTable.fsck(spark, d).referenced
        // the lookup key IS a tombstoned key: the impacted bucket is
        // dirty, so the DV split path (not the clean fast path) is
        // what gets priced; the correct answer is zero rows
        val look = graft.ext.MergeTable.readTable(spark, d)
          .filter(col("key") === 7L)
        val tp = System.nanoTime()
        val planned = graft.ext.MergeTable.plannedDataFiles(look).size
        val planS = (System.nanoTime() - tp) / 1e9
        // EXECUTION of the pruned plan (relation built once — the
        // declarative path's O(files) InMemoryFileIndex listing is a
        // separate, already-priced cost class: the manifest leg; the
        // API path below pays only the impacted buckets' listing)
        val lookS = timeMinOf(3) {
          require(look.count() == 0L,
            "a tombstoned key must read as deleted")
        }
        val apiS = timeMinOf(3) {
          require(graft.ext.MergeTable.readKeys(spark, d, Seq(7L))
            .count() == 0L, "api-path lookup resurrected a tombstone")
        }
        require(planned > 0 && planned <= 4,
          s"DV-bearing point lookup planned $planned files — bucket + " +
            "stripe pruning did not hold through the tombstones")
        println(f"[scaleprobe] dvlookup scale=${sc}x " +
          f"table_files=$tableFiles planned=$planned " +
          f"plan=${planS}%.3fs lookup=${lookS}%.3fs api=${apiS}%.3fs")
        DvLookCell(sc, tableFiles, planned.toLong, planS, lookS, apiS)
      }
      def dvexpo(m: DvLookCell => Double): Double = {
        val (a, b) = (dvCells.head, dvCells.last)
        math.log(m(b) / m(a)) /
          math.log(b.tableFiles.toDouble / a.tableFiles)
      }
      println(f"[scaleprobe] DVLOOKUP EXPONENTS (1x -> ${scales.last}x " +
        f"files): planned_files=${dvexpo(_.planned.toDouble)}%.2f " +
        f"plan_time=${dvexpo(_.planS)}%.2f " +
        f"exec_time=${dvexpo(_.lookS)}%.2f " +
        f"api_time=${dvexpo(_.apiS)}%.2f")
    }
    spark.stop()
  }
}
