package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and prints its metrics; the last line of
  * standard output is one JSON object (see perfbench/README.md).
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  [--scratch <dir>] [--trace-out <file>]
  *
  * A run sets up once (JVM start to a live session with the inputs
  * materialized), runs one first batch, which pays the JVM's warm-up and is
  * reported on its own, then runs batches back to back for `--seconds`.
  * Every batch's output is checked; a batch that throws or mismatches
  * counts as failed and reports no time. With
  * `--trace 1` the first batch and the second half of the measured batches
  * run traced, the per-layer metrics are printed instead, and every span is
  * written to `--trace-out` as JSON lines.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, scratch: String, traceOut: Option[String])

  /** No batch starts that would end later than this many seconds after
    * JVM start, so a run ends well inside its time limit.
    */
  val RunBudgetS = 150.0

  /** Per-layer spans, in pipeline order, and the stats kept for each. */
  val Spans: Seq[String] = Seq(
    "Scan.products", "Dictionary.build", "Scorer.dims",
    "CandidateGen.rollupAll", "CandidateGen.topK", "Scorer.score",
    "Canonicalize.representatives", "Triples.materialize",
    "Checkpoint.stage", "Pipeline.run.resume",
    "Dedup.minhashNearDups", "Dedup.ngramJaccard", "Dedup.embeddingNearDups",
    "Dedup.ngramBrute", "Cooccurrence.cooccurrence")
  val Ratios: Seq[String] = Seq(
    "CandidateGen.topK.kept_ratio", "Scorer.score.aligned_ratio",
    "Dedup.minhashNearDups.verify_yield", "Dedup.ngramJaccard.verify_yield",
    "Dedup.embeddingNearDups.verify_yield")
  val LshSpans: Seq[String] = Seq("Dedup.minhashNearDups", "Dedup.ngramJaccard",
    "Dedup.embeddingNearDups")
  val ResultSpans: Seq[String] = Seq("Dedup.minhashNearDups",
    "Dedup.ngramJaccard", "Dedup.embeddingNearDups", "Dedup.ngramBrute")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def req(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      },
      m.getOrElse("scratch", "perfbench-scratch"), m.get("trace-out"))
  }

  def session(scratch: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def sinceStart(rt: java.lang.management.RuntimeMXBean): Double =
    (System.currentTimeMillis() - rt.getStartTime) / 1e3

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads.byName(a.workload)
    val cores = Runtime.getRuntime.availableProcessors()
    val runtime = ManagementFactory.getRuntimeMXBean
    val mainAt = sinceStart(runtime)

    // ---- set-up: JVM start to a live session with this run's inputs
    // materialized
    val spark = session(a.scratch, cores)
    wl.setup(spark, a.seed, s"${a.scratch}/inputs", cores)
    val setupS = sinceStart(runtime)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    var attempted = 0
    var failed = 0
    val batchDir = s"${a.scratch}/batches"

    final case class Timed(wall: Double, out: BatchOut,
        spans: Map[String, Tracer.SpanStats])

    def runBatch(traced: Boolean): Option[Timed] = {
      attempted += 1
      val t = if (traced) tracer else None
      t.foreach(_.reset())
      val t0 = System.nanoTime()
      try {
        val out = wl.batch(spark, batchDir, t)
        val wall = secs(t0) - t.fold(0.0)(_.postS)
        Some(Timed(wall, out, t.fold(Map.empty[String, Tracer.SpanStats])(_.snapshot())))
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"perfbench: batch $attempted failed: $e")
          None
      } finally spark.catalog.clearCache()
    }

    /** Closed loop for `seconds`: batches back to back until the window has
      * passed, at least one, and none that would end past the run budget.
      */
    def measure(seconds: Double, traced: Boolean): Seq[Timed] = {
      val out = ArrayBuffer.empty[Timed]
      val t0 = System.nanoTime()
      var tries = 0
      var last = 0.0
      while ((secs(t0) < seconds || (out.isEmpty && tries < 3)) &&
          sinceStart(runtime) + last <= RunBudgetS) {
        tries += 1
        val b0 = System.nanoTime()
        runBatch(traced).foreach(out += _)
        last = secs(b0)
      }
      out.toSeq
    }

    val first = runBatch(traced = a.trace)
    val untraced = measure(if (a.trace) a.seconds / 2.0 else a.seconds, traced = false)
    val traced = if (a.trace) measure(a.seconds / 2.0, traced = true) else Nil

    for (t <- tracer; f <- a.traceOut) t.writeSpans(f)

    // ---- retained heap: everything released, then full collections
    spark.catalog.clearCache()
    tracer.foreach(_.close())
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val retainedMb = mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    val tracedDiffers = traced.exists(t => untraced.headOption.exists(_.out.digest != t.out.digest))
    if (tracedDiffers) System.err.println("perfbench: traced output differs from untraced output")
    val correct = failed == 0 && first.isDefined && untraced.nonEmpty &&
      (!a.trace || traced.nonEmpty) && !tracedDiffers

    val walls = untraced.map(_.wall)
    val info = Seq(
      "workload" -> wl.name, "seed" -> a.seed.toString, "cores" -> cores.toString,
      "heap_max_mb" -> (mem.getHeapMemoryUsage.getMax / (1024 * 1024)).toString,
      "jvm_flags" -> runtime.getInputArguments.asScala
        .filterNot(_.startsWith("--add-opens")).mkString(" "),
      "jvm_start_to_main_s" -> mainAt.toString,
      "batches_attempted" -> attempted.toString, "batches_failed" -> failed.toString,
      "error_rate" -> (failed.toDouble / math.max(1, attempted)).toString,
      "timed_batches" -> walls.size.toString, "batch_s_all" -> walls.mkString(","),
      "resume_s" -> median(untraced.flatMap(_.out.extra.get("resume_s"))).toString) ++
      (if (a.trace) a.traceOut.map("spans_file" -> _).toSeq else Nil)
    info.foreach { case (k, v) => println(s"perfbench: $k = $v") }

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("first_batch_s", first.fold(Double.NaN)(_.wall), "s"),
        ("batch_s", median(walls), "s"),
        ("rows_per_s", untraced.map(_.out.rows).sum / walls.sum, "1/s"),
        ("retained_heap_mb", retainedMb, "MB"))
      else {
        def stat(f: Tracer.SpanStats => Double, span: String): Double =
          median(traced.map(t => t.spans.get(span).fold(0.0)(f)))
        val perSpan = Spans.flatMap { s =>
          Seq((s"$s.self_s", stat(_.selfS, s), "s"),
            (s"$s.jobs", stat(_.jobs.toDouble, s), "count"),
            (s"$s.cpu_s", stat(_.cpuS, s), "s"),
            (s"$s.driver_idle_s", stat(_.driverIdleS, s), "s"),
            (s"$s.shuffle_write_mb", stat(_.shuffleWriteMb, s), "MB"),
            (s"$s.rows_out", stat(_.rowsOut.toDouble, s), "count"))
        }
        def extra(k: String): Double = {
          val xs = traced.flatMap(_.out.extra.get(k))
          if (xs.isEmpty) 0.0 else median(xs)
        }
        perSpan ++
          Ratios.map(r => (r, extra(r), "ratio")) ++
          LshSpans.map(s => (s"$s.lsh_candidates", extra(s"$s.lsh_candidates"), "count")) ++
          ResultSpans.map(s => (s"$s.driver_result_mb", stat(_.driverResultMb, s), "MB")) ++
          Seq(
            ("Checkpoint.write_mb", extra("Checkpoint.write_mb"), "MB"),
            ("Scan.products.first_self_s",
              first.flatMap(_.spans.get("Scan.products")).fold(0.0)(_.selfS), "s"),
            ("trace_overhead_s", median(traced.map(_.wall)) - median(walls), "s"),
            ("uncovered_s", median(traced.map(t => t.wall - t.spans.values.map(_.selfS).sum)), "s"))
      }
    metrics.foreach { case (k, v, u) => println(s"perfbench: $k = $v $u") }

    def num(v: Double): String = if (v.isNaN || v.isInfinite) "0.0" else v.toString
    val json = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    spark.stop()
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$json}}""")
  }
}
