package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, udf}

/** The benchmark's own tests (`--selftest`): the timed action computes
  * projected columns, the generators are seed-deterministic, and span
  * self time is right on a synthetic tree. Exit code 0 when all pass. */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  def run(): Int = {
    val work = Paths.get(".bench_work").toAbsolutePath
      .resolve(s"selftest-${ProcessHandle.current.pid}")
    try {
      selfTime()
      generators(work)
      noopEvaluates(work)
    } finally Workload.deleteTree(work)
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }

  /** root [0,100] with children A [10,40] and B [30,60] (overlapping) and
    * grandchild C [15,20] under A. */
  def selfTime(): Unit = {
    val spans = Seq(Span(1, "root", 0, 1, 0, 100), Span(2, "A", 1, 1, 10, 40),
      Span(3, "B", 1, 1, 30, 60), Span(4, "C", 2, 1, 15, 20))
    val self = SpanStore.selfTimes(spans)
    expect("self time on a synthetic span tree",
      self == Map(1 -> 50L, 2 -> 25L, 3 -> 30L, 4 -> 5L), self.toString)
    val store = new SpanStore
    store.span("outer") { store.span("inner")(Thread.sleep(20)) }
    val s = store.spans.map(x => x.name -> x).toMap
    val st = SpanStore.selfTimes(store.spans)
    expect("span store nests children under the open span",
      s("inner").parent == s("outer").id &&
        st(s("outer").id) == s("outer").durNs - s("inner").durNs)
  }

  private def files(dir: Path): Map[String, Seq[Byte]] = {
    val st = Files.walk(dir)
    try st.iterator.asScala.filter(Files.isRegularFile(_)).map(p =>
      dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally st.close()
  }

  private def docs(seed: Long): Seq[String] = {
    val g = new DocGen(seed, 16)
    (g.corpus(200) ++ g.batch(100, 0.15, 0.15)).map(Gen.docJson) ++
      g.queries(4, 1000000000L).map { case (id, v) => Gen.vecJson(id, v) }
  }

  private def silver(seed: Long): Seq[String] =
    Gen.silver(new scala.util.Random(seed), 300,
      collection.mutable.Set.empty[Long]).map(_.flatJson)

  def generators(work: Path): Unit = {
    val gh = (seed: Long, d: String) => {
      Gen.github(work.resolve(d), seed, 6, 50); files(work.resolve(d))
    }
    val (a, b, c) = (gh(1, "gh-a"), gh(1, "gh-b"), gh(2, "gh-c"))
    expect("GitHub fixture is byte-identical for one seed", a == b)
    expect("GitHub fixture differs across seeds", a != c)
    expect("documents are identical for one seed", docs(1) == docs(1))
    expect("documents differ across seeds", docs(1) != docs(2))
    expect("silver rows are identical for one seed", silver(1) == silver(1))
    expect("silver rows differ across seeds", silver(1) != silver(2))
  }

  /** A per-row counting UDF: `.count()` prunes the projection (the UDF
    * never fires), the benchmark's no-op write fires it once per row. */
  def noopEvaluates(work: Path): Unit = {
    val spark = Main.session(work)
    try {
      val calls = spark.sparkContext.longAccumulator("udf_calls")
      val f = udf((x: Long) => { calls.add(1); x * 2 })
      val df = spark.range(0, 1000, 1, 4).withColumn("y", f(col("id")))
      df.count()
      val afterCount = calls.value
      val rows = Workload.materialize(df)
      expect("count() prunes the projected UDF", afterCount == 0L,
        s"fired $afterCount times")
      expect("no-op write evaluates the UDF once per row",
        calls.value == 1000L, s"fired ${calls.value} times")
      expect("observation hands every row to the oracle",
        rows().size == 1000)
    } finally spark.stop()
  }
}
