package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Per-span accounting for the traced run.
  *
  * `span(name) { ... }` tags every Spark job submitted from the calling
  * thread with the innermost open span (a SparkContext local property), and
  * a listener folds job counts, executor CPU, shuffle writes and task result
  * sizes into that span. Spans nest: a span's `self_s` is its wall time
  * minus the wall time of the spans opened inside it, and its
  * `driver_idle_s` is the part of that self time during which no job ran.
  * Spans with the same name accumulate within a batch.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext

  private final class Frame(val name: String, val t0: Long, val startMs: Long,
      var segStart: Long, var childNs: Long)

  private final class Acc {
    var selfNs = 0L
    var jobs = 0
    var cpuNs = 0L
    var shuffleBytes = 0L
    var resultBytes = 0L
    var rows = 0L
  }

  // listener-side state (listener bus thread)
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  // caller-side state (the benchmark thread)
  private var stack: List[Frame] = Nil
  private val segments = ArrayBuffer.empty[(String, Long, Long)]
  private val accs = mutable.LinkedHashMap.empty[String, Acc]
  // every span of every batch since construction: (batch, name, parent,
  // start epoch ms, end epoch ms)
  private val records = ArrayBuffer.empty[(Int, String, String, Long, Long)]
  private var batch = 0

  sc.addSparkListener(this)

  private def acc(name: String): Acc = accs.getOrElseUpdate(name, new Acc)

  def span[T](name: String)(body: => T): T = {
    val now = System.currentTimeMillis()
    stack.headOption.foreach(p => segments.synchronized {
      segments += ((p.name, p.segStart, now))
    })
    val f = new Frame(name, System.nanoTime(), now, now, 0L)
    stack = f :: stack
    sc.setLocalProperty(Prop, name)
    this.synchronized(acc(name))
    try body
    finally {
      val wall = System.nanoTime() - f.t0
      val end = System.currentTimeMillis()
      segments.synchronized { segments += ((name, f.segStart, end)) }
      this.synchronized { acc(name).selfNs += wall - f.childNs }
      stack = stack.tail
      records += ((batch, name, stack.headOption.fold("")(_.name), f.startMs, end))
      stack.headOption match {
        case Some(p) =>
          p.childNs += wall
          p.segStart = end
          sc.setLocalProperty(Prop, p.name)
        case None => sc.setLocalProperty(Prop, null)
      }
    }
  }

  private var postNs = 0L

  /** Measurement work inside a traced batch that belongs to no layer (ratio
    * counts); its time is taken out of the batch's wall time.
    */
  def post[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally postNs += System.nanoTime() - t0
  }

  def postS: Double = postNs / 1e9

  /** Attribute `n` output rows to span `name`. */
  def rows(name: String, n: Long): Unit = this.synchronized { acc(name).rows += n }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val name = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
    this.synchronized {
      jobStartMs(e.jobId) = e.time
      name.foreach { n =>
        acc(n).jobs += 1
        e.stageIds.foreach(stageSpan(_) = n)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = this.synchronized {
    jobStartMs.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = this.synchronized {
    for (n <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = acc(n)
      a.cpuNs += m.executorCpuTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.resultBytes += m.resultSize
    }
  }

  /** Stats of every span touched since the last reset. */
  def snapshot(): Map[String, SpanStats] = {
    PerfbenchBridge.drainListenerBus(sc)
    this.synchronized {
      val busy = merged(jobIntervals.toSeq)
      val idleMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
      segments.synchronized {
        for ((n, s, e) <- segments) idleMs(n) += (e - s) - overlap(busy, s, e)
      }
      accs.map { case (n, a) =>
        n -> SpanStats(a.selfNs / 1e9, a.jobs, a.cpuNs / 1e9,
          math.max(0L, idleMs(n)) / 1e3, a.shuffleBytes / Mb, a.rows,
          a.resultBytes / Mb)
      }.toMap
    }
  }

  /** Start a new batch: per-span stats restart from zero. */
  def reset(): Unit = {
    PerfbenchBridge.drainListenerBus(sc)
    batch += 1
    this.synchronized {
      stageSpan.clear(); jobIntervals.clear(); accs.clear(); postNs = 0L
      segments.synchronized(segments.clear())
    }
  }

  /** Every span recorded so far, one JSON object per line. */
  def writeSpans(file: String): Unit = {
    val p = java.nio.file.Paths.get(file)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val lines = records.map { case (b, n, parent, s, e) =>
      s"""{"batch": $b, "span": "$n", "parent": "$parent", "start_ms": $s, "end_ms": $e}"""
    }
    java.nio.file.Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object Tracer {
  val Prop = "perfbench.span"
  private val Mb = 1024.0 * 1024.0

  final case class SpanStats(selfS: Double, jobs: Int, cpuS: Double,
      driverIdleS: Double, shuffleWriteMb: Double, rowsOut: Long,
      driverResultMb: Double)

  /** Union of [start, end] intervals, sorted and non-overlapping. */
  private def merged(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  private def overlap(busy: Seq[(Long, Long)], s: Long, e: Long): Long =
    busy.iterator.map { case (bs, be) => math.max(0L, math.min(e, be) - math.max(s, bs)) }.sum

  /** Execute every column of `df` (no column pruning, unlike count()) and
    * return its row count.
    */
  def force(df: DataFrame): Long = {
    val n = df.sparkSession.sparkContext.longAccumulator("perfbench.force")
    df.foreachPartition { (it: Iterator[Row]) =>
      var k = 0L
      while (it.hasNext) { it.next(); k += 1 }
      n.add(k)
    }
    n.value
  }
}
