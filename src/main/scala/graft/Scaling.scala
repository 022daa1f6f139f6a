package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.kg._

/** Scaling-efficiency and parallelism-identity evidence (north rule: ≥0.8
  * between N and 4N).
  *
  * The same KG pipeline runs at local[N] and local[4N] on the IDENTICAL
  * corpus; efficiency = (T_N / T_4N) / 4, and every run's triple set must
  * carry the same order-independent digest. Each configuration gets a fresh SparkSession
  * (previous one stopped) with shuffle partitions = cores.
  *
  * Usage: sbt "runMain graft.Scaling [nFiles] [N]" — appends a row to
  * BENCH/BASELINE.md and prints one JSON line;
  * sbt "runMain graft.Scaling jobs [nFiles] [cores]" — per-job audit.
  */
object Scaling {

  def session(cores: Int): SparkSession = {
    // fail fast on swapped operands (a local[2000000] master spawns that
    // many dispatcher threads and OOMs the JVM before any job runs)
    require(cores >= 1 && cores <= 1024, s"implausible local core count: $cores")
    new java.io.File("/dev/shm/spark-local").mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      // tmpfs for shuffle files: the sandbox's cloud disk serializes
      // high-thread shuffle writes; a real cluster has per-executor local
      // SSDs, so tmpfs is the closer stand-in
      .config("spark.local.dir", "/dev/shm/spark-local")
      // bucketed featurize tables on tmpfs too (per-executor SSD stand-in)
      .config("spark.sql.warehouse.dir", "/dev/shm/spark-local/warehouse")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One full pipeline run: wall seconds, triple count, order-independent
    * triple digest, and scheduler job count. nJobs counts driver
    * round-trips — the direct measure of the per-run fixed-overhead floor
    * that eager probes/checkpoints/commit-protocols add (it does not
    * shrink as data grows, unlike stage work).
    */
  final case class Run(sec: Double, nTriples: Long, digest: Long, nJobs: Int)

  def runOnce(cores: Int, scale: CorpusGen.Scale): Run = {
    val spark = session(cores)
    try {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })
      val t0 = System.nanoTime()
      val r = Pipeline.computeForScale(spark, scale)
      // bit_xor of per-triple hashes, like Checkpoint.stats: equal across
      // parallelism levels only if the triple SETS are equal, whatever
      // the row order
      val agg = r.triples.agg(count(lit(1)),
        bit_xor(xxhash64(col("subj"), col("pred"), col("obj")))).head()
      val res = Run((System.nanoTime() - t0) / 1e9, agg.getLong(0),
        agg.getLong(1), jobs.get())
      // release caches AND the run's scratch parquet (outside the timed
      // window): without this every repeat leaks a multi-GB UUID scratch
      // dir into spark.local.dir — on the tmpfs local dir that rent comes
      // straight out of guest RAM
      r.unpersist()
      res
    } finally spark.stop()
  }

  /** One run with per-job callsite + duration accounting — the audit view
    * of the fixed floor runOnce's nJobs summarizes. Prints one line per
    * scheduler job (start-offset, wall, callsite) so eager probes,
    * broadcast builds, and commit-protocol jobs are attributable to code.
    */
  def jobAudit(cores: Int, scale: CorpusGen.Scale): Unit = {
    val spark = session(cores)
    try {
      val t0 = System.nanoTime()
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val site = j.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
            .orElse(Option(j.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          starts.put(j.jobId, (System.nanoTime(), site))
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.get(j.jobId)).foreach { case (ts, site) =>
            println(f"[jobs] #${j.jobId}%-3d +${(ts - t0) / 1e9}%7.1fs ${(System.nanoTime() - ts) / 1e9}%7.2fs  $site")
          }
        }
      })
      val r = Pipeline.computeForScale(spark, scale)
      val n = r.triples.count()
      println(f"[jobs] total wall ${(System.nanoTime() - t0) / 1e9}%.1f s, $n triples")
      r.unpersist()
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("jobs")) {
      val nFiles = args.lift(1).map(_.toInt).getOrElse(2000000)
      val cores = args.lift(2).map(_.toInt).getOrElse(16)
      jobAudit(cores, CorpusGen.benchAt(nFiles))
      return
    }
    val nFiles = args.headOption.map(_.toInt).getOrElse(2000000)
    val nLo = args.lift(1).map(_.toInt).getOrElse(4)
    val nHi = 4 * nLo
    val scale = CorpusGen.benchAt(nFiles)
    // warm-up (JIT + code cache), then three interleaved runs per config,
    // min taken — the VM timings are noisy
    runOnce(nHi, CorpusGen.Small)
    val repeats = sys.env.getOrElse("SCALING_RUNS", "3").toInt
    val runs = (1 to repeats).flatMap { _ =>
      Seq(nHi -> runOnce(nHi, scale), nLo -> runOnce(nLo, scale))
    }
    val distinct = runs.map { case (_, r) => (r.nTriples, r.digest) }.distinct
    require(distinct.size == 1,
      s"nondeterministic across parallelism: (n_triples, digest) = $distinct")
    val hi = runs.collect { case (c, r) if c == nHi => r }.minBy(_.sec)
    val lo = runs.collect { case (c, r) if c == nLo => r }.minBy(_.sec)
    val eff = (lo.sec / hi.sec) / 4.0
    val md =
      f"| $nFiles files / ${hi.nTriples}%d triples | local[$nLo]: ${lo.sec}%.1f s (${nFiles / lo.sec}%.0f files/s) | local[$nHi]: ${hi.sec}%.1f s (${nFiles / hi.sec}%.0f files/s, ${hi.nTriples / hi.sec}%.0f triples/s) | efficiency (T_N/T_4N)/4 = $eff%.2f |"
    val p = java.nio.file.Paths.get("BENCH")
    java.nio.file.Files.createDirectories(p)
    val f = p.resolve("BASELINE.md")
    val header =
      """# BENCH — KG pipeline scaling evidence (local[N] vs local[4N])
        |
        |Same deterministic corpus, same job, two parallelism levels;
        |triple sets identical (order-independent digest). Efficiency
        |target >= 0.8.
        |
        || corpus | N | 4N | efficiency |
        ||---|---|---|---|
        |""".stripMargin
    if (!java.nio.file.Files.exists(f)) java.nio.file.Files.writeString(f, header)
    java.nio.file.Files.writeString(f, md + "\n",
      java.nio.file.StandardOpenOption.APPEND)
    println(s"""{"metric":"scaling_efficiency","value":$eff,"unit":"ratio","n_lo":$nLo,"n_hi":$nHi,"t_lo":${lo.sec},"t_hi":${hi.sec},"n_files":$nFiles,"n_triples":${hi.nTriples},"triple_digest":${hi.digest}}""")
  }
}
