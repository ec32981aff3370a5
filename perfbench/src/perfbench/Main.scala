package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   perfbench.Main --selftest
  *
  * Prints one detail line (workload-specific metrics, sample counts, host
  * CPU steal/idle) and, last, the result line
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
  * Exits 1 when any operation failed or disagreed with the oracle. */
object Main {
  val Setups = 3
  /** No loop continues past this many seconds into the run. */
  val HardCapS = 120.0
  val Ops = Seq("batch", "lookup", "scan", "upsert_mor", "maintain",
    "admit", "search")

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean)

  def parse(argv: Seq[String]): Args = {
    val m = argv.grouped(2).collect { case Seq(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val a = Args(need("--workload"), need("--seed").toLong,
      need("--seconds").toInt, need("--trace") == "1")
    require(Workload.Names.contains(a.workload),
      s"unknown workload ${a.workload} (${Workload.Names.mkString(", ")})")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    if (argv.toSeq == Seq("--selftest")) sys.exit(SelfTest.run())
    val args = try parse(argv.toSeq) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val work = Paths.get(".bench_work").toAbsolutePath
      .resolve(s"${args.workload}-${args.seed}-${ProcessHandle.current.pid}")
    val code = try new Run(args, work).apply()
    finally Workload.deleteTree(work)
    sys.exit(code)
  }

  /** The session production builds (SessionTuning + GraftExtensions) on
    * local[min(4, nproc)]; `countFs` swaps in the op-counting local file
    * system for traced runs. */
  def session(work: Path, countFs: Boolean = false): SparkSession = {
    val n = math.min(4, Runtime.getRuntime.availableProcessors)
    val tuned = graft.core.SessionTuning(SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
    val s = (if (countFs) tuned.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName) else tuned).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set (VmHWM) of this process, MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time of the live Java threads (driver, executor tasks, Spark's
    * own), seconds. JIT compiler and GC threads are not Java threads and
    * time the host steals from the VM is not CPU time, so neither counts. */
  def processCpuS(): Double =
    threads.getAllThreadIds.map(threads.getThreadCpuTime).filter(_ > 0).sum / 1e9

  /** Aggregate CPU counters from /proc/stat: (total, idle+iowait, steal). */
  def procStat(): (Long, Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, f(3) + f(4), if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }
}

/** One timed operation: wall and process CPU seconds. */
final case class Sample(kind: String, wallS: Double, cpuS: Double,
    traced: Boolean)

/** One benchmark run: set up `Setups` times (the last set-up stays for the
  * loop), run the closed loop, check, report. */
final class Run(args: Main.Args, work: Path) {
  import Main._

  private var spark: SparkSession = _
  private var wl: Workload = _
  private val samples = mutable.ArrayBuffer.empty[Sample]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0
  private var stored = Option.empty[Double]
  private val t0 = System.nanoTime()

  private def now: Double = (System.nanoTime() - t0) / 1e9

  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    if (failures.size < 5) failures += s"$what: ${e.getMessage}"
    System.err.println(s"perfbench: $what failed:")
    e.printStackTrace()
  }

  /** Set-up phases (session, generate, build), seconds. */
  private def setupOnce(i: Int): Array[Double] = {
    if (spark != null) {
      spark.stop()
      Workload.deleteTree(work.resolve(s"setup-${i - 1}"))
    }
    val ts = mutable.ArrayBuffer(System.nanoTime())
    spark = session(work, countFs = args.trace)
    ts += System.nanoTime()
    wl = Workload(args.workload, spark, work.resolve(s"setup-$i"), args.seed)
    wl.generate(); ts += System.nanoTime()
    wl.build(); ts += System.nanoTime()
    ts.zip(ts.tail).map { case (a, b) => (b - a) / 1e9 }.toArray
  }

  /** Closed loop with one client: whole blocks until `until` seconds into
    * the run (at least one block), never past the hard cap. */
  private def loop(until: Double): Unit =
    do {
      wl.block().foreach { kind =>
        wl.prepare(kind)
        val (s, c) = (System.nanoTime(), processCpuS())
        val verify =
          try Some(Trace.op(kind)(wl.run(kind)))
          catch { case e: Exception => fail(s"$kind op", e); None }
        samples += Sample(kind, (System.nanoTime() - s) / 1e9,
          processCpuS() - c, Trace.enabled)
        attempted += 1
        verify.foreach { v =>
          try v() catch { case e: Exception => fail(s"$kind check", e) }
        }
      }
      // storage is taken at a fixed point of the seeded operation
      // sequence (end of the first block), never at a time-dependent one
      if (stored.isEmpty)
        stored = Some(wl.storedBytes().toDouble / wl.inputBytes)
    } while (now < until && now < HardCapS)

  def apply(): Int = {
    // set-up repeats (median reported) so work moved into it shows; the
    // warm-up runs once, on the set-up the loop then uses
    val setups = (1 to Setups).map(setupOnce)
    val w0 = System.nanoTime()
    wl.warmup()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = Stats.median(setups.map(_.sum)) + warmS
    val rows0 = wl.rows
    val (stat0, started) = (procStat(), now)
    if (!args.trace) loop(now + args.seconds)
    else {
      loop(now + args.seconds / 2.0)
      Trace.start(spark)
      loop(now + args.seconds / 2.0)
    }
    val (traced, plain) = samples.toSeq.partition(_.traced)
    val loopS = samples.map(_.wallS).sum
    val stat1 = procStat()
    val rowsLanded = wl.rows - rows0
    val ends = try wl.finish() catch {
      case e: Exception => Seq(s"end-of-run check threw $e")
    }
    ends.foreach(m => fail("end-of-run check", new Mismatch(m)))
    val layerEnd = wl.layerEnd()

    def pct(kind: String, q: Double, xs: Seq[Sample] = plain,
        f: Sample => Double = _.wallS) = {
      val v = xs.filter(_.kind == kind).map(f)
      if (v.isEmpty) Double.NaN else Stats.percentile(v, q)
    }
    val cpu = {
      val (t, idle, steal) = (stat1._1 - stat0._1, stat1._2 - stat0._2,
        stat1._3 - stat0._3)
      ListMap("idle_frac" -> idle.toDouble / math.max(1, t),
        "steal_frac" -> steal.toDouble / math.max(1, t))
    }
    val rss = peakRssMb()
    val detail = ListMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "loop_s" -> (now - started),
      "metrics" -> (ListMap[String, Double](
        "setup_s" -> setupS,
        "error_frac" -> failed.toDouble / math.max(1, attempted),
        "peak_rss_mb" -> rss,
        "op_p50_ms" -> pct(wl.headline, 0.5) * 1e3,
        "ops_per_s" -> plain.size / plain.map(_.wallS).sum,
        "cpu_ms_per_op" -> plain.map(_.cpuS).sum / plain.size * 1e3) ++
        perOpMetrics(pct(_, _), rowsLanded, loopS) ++
        wl.detail),
      "samples" -> ListMap(samples.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> v.size }: _*),
      "setup_phases_s" -> ListMap(
        Seq("session", "generate", "build").zipWithIndex.map { case (k, i) =>
          k -> Stats.median(setups.map(_(i))) } :+ ("warmup" -> warmS): _*),
      "proc_stat" -> cpu,
      "failures" -> failures.toSeq)
    println(Stats.json(detail))

    val metrics: ListMap[String, Double] =
      if (!args.trace) {
        // CPU time, not wall time, for the gated per-operation figure:
        // host steal moved wall medians by 20-40% between sets of runs
        ListMap(
          "setup_s" -> setupS,
          "peak_rss_mb" -> rss,
          "op_cpu_ms" -> pct(wl.headline, 0.5, f = _.cpuS) * 1e3,
          "stored_bytes_per_input_byte" -> stored.get)
      } else {
        Trace.drain(spark)
        Trace.writeSpans(Paths.get(".bench_work")
          .resolve(s"spans-${args.workload}-${args.seed}.jsonl"))
        val overhead = pct(wl.headline, 0.5, traced) /
          pct(wl.headline, 0.5, plain) - 1
        Layers(setups.map(_ :+ warmS), overhead, layerEnd)
      }
    val result = ListMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, v) =>
        k -> ListMap("value" -> v, "unit" -> Layers.unit(k)) })
    println(Stats.json(result))
    spark.stop()
    if (failed == 0) 0 else 1
  }

  /** The workload's per-operation figures (wall time), by name. */
  private def perOpMetrics(pct: (String, Double) => Double, rows: Long,
      loopS: Double): ListMap[String, Double] = args.workload match {
    case "ingest_backfill" => ListMap(
      "ingest_batch_p50_s" -> pct("batch", 0.5),
      "ingest_rows_per_s" -> rows / loopS,
      "stored_bytes_per_input_byte" -> stored.get)
    case "serve_mixed" => ListMap(
      "lookup_p50_ms" -> pct("lookup", 0.5) * 1e3,
      "lookup_p90_ms" -> pct("lookup", 0.9) * 1e3,
      "scan_p50_ms" -> pct("scan", 0.5) * 1e3,
      "scan_p90_ms" -> pct("scan", 0.9) * 1e3,
      "upsert_p50_s" -> pct("upsert_mor", 0.5),
      "admit_p50_s" -> pct("admit", 0.5),
      "search_p50_ms" -> pct("search", 0.5) * 1e3,
      "search_p90_ms" -> pct("search", 0.9) * 1e3,
      "stored_bytes_per_input_byte" -> stored.get)
  }
}
