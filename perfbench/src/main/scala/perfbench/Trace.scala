package perfbench

import scala.collection.mutable.{ArrayBuffer, HashMap}

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The engine modules the benchmark calls; each is one traced layer. */
object Layers {
  val all: Seq[String] = Seq("TextAnalysis", "IndexPipeline", "Dedup",
    "VersionedStore", "ByidStore", "Search", "ProductQuantization", "Serving",
    "ServingState", "Clustering", "StreamingOps")
  val metrics: Seq[(String, String)] = Seq("calls" -> "count", "wall_s" -> "s",
    "self_s" -> "s", "jobs" -> "count", "tasks" -> "count", "cpu_s" -> "s",
    "idle_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB", "io_mb" -> "MB",
    "failed" -> "count")
}

/** One call into a layer (or one benchmark op, layer "Bench"). Times
  * are epoch milliseconds so they compare with Spark's task times. */
final class Span(val id: Int, val parent: Int, val layer: String,
                 val call: String, val op: Long, val startMs: Double) {
  var endMs: Double = Double.NaN
  var failed: Boolean = false
}

/** Spark work folded into one span by the listener. */
final class SparkWork {
  var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var failedTasks = 0L
  var shuffleB = 0L; var spillB = 0L; var ioB = 0L
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]
}

/** Benchmark-side tracing. With tracing off, [[call]] only runs its
  * body. With tracing on it records one span per call into a layer,
  * kept in memory until the run ends, and tags every Spark job the
  * call launches with the span id through a SparkContext local
  * property. Spark SQL copies local properties to the threads that run
  * broadcasts and subqueries, so their jobs carry the tag too. A
  * listener folds job, stage and task metrics into the tagged span. A
  * task goes to the span of the job that ran its stage: the tag the
  * stage was submitted with, not that of a later job whose lineage
  * merely lists the stage (as reused shuffle output and persisted
  * results are listed). A job or stage without a tag is attributed by
  * time to the innermost span open when it started, and counted as
  * such. */
final class Tracer(spark: SparkSession, on: Boolean) {
  import Tracer.Key

  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var op = -1L
  private val listener = new Tracer.Listener
  private var enabled = false
  if (on) resume()

  /** Start (or restart) recording spans and Spark work. */
  def resume(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(listener)
    enabled = true
  }

  /** Stop recording; what was recorded is kept. */
  def pause(): Unit = if (enabled) {
    graft.BenchProbe.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(listener)
    enabled = false
  }

  /** Run `body` as operation `opId`: the root span of its layer calls. */
  def operation[T](opId: Long, name: String)(body: => T): T = {
    op = opId
    try call("Bench", name)(body) finally op = -1L
  }

  def call[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Key)
      val sp = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1),
        layer, name, op, nowMs())
      spans += sp
      open = sp :: open
      sc.setLocalProperty(Key, sp.id.toString)
      try body
      catch { case e: Throwable => sp.failed = true; throw e }
      finally {
        sp.endMs = nowMs()
        // every event of this call reaches the listener before the
        // span is closed
        graft.BenchProbe.drainListenerBus(spark)
        open = open.tail
        sc.setLocalProperty(Key, prev)
      }
    }

  private def within(s: Span, t: Long) = s.startMs <= t && t <= s.endMs

  /** The span a job landed in: its tag, else the innermost span open
    * when it started. */
  private def landed(tag: Int, t: Long): Option[Span] =
    if (tag >= 0) Some(spans(tag))
    else spans.filter(within(_, t)).sortBy(-_.startMs).headOption

  /** Spark work per span id. */
  def resolve(): Map[Int, SparkWork] =
    listener.synchronized {
      val work = HashMap.empty[Int, SparkWork]
      def of(span: Span) = work.getOrElseUpdate(span.id, new SparkWork)
      listener.jobs.foreach { case (_, tag, t) => landed(tag, t).foreach(of(_).jobs += 1) }
      val stageSpan = listener.stages.flatMap { case (stage, (tag, t)) =>
        landed(tag, t).map(stage -> _) }
      listener.tasks.foreach { t =>
        stageSpan.get((t.stage, t.attempt)).foreach { s =>
          val w = of(s)
          w.tasks += 1; w.cpuNs += t.cpuNs; w.shuffleB += t.shuffleB
          w.spillB += t.spillB; w.ioB += t.ioB
          if (t.failed) w.failedTasks += 1
          w.taskIntervals += ((t.launchMs, t.finishMs))
        }
      }
      work.toMap
    }

  /** Jobs started inside an op span, by how they reached a layer
    * span: by their tag, by time, or not at all (a job an op launched
    * outside every layer call). */
  def attribution(): Map[String, Int] = listener.synchronized {
    val ops = spans.filter(_.layer == "Bench")
    var measured, byProp, byTime, none = 0
    listener.jobs.foreach { case (_, tag, t) =>
      if (ops.exists(within(_, t))) {
        measured += 1
        if (landed(tag, t).exists(s => Layers.all.contains(s.layer))) {
          if (tag >= 0) byProp += 1 else byTime += 1
        } else none += 1
      }
    }
    Map("measured_jobs" -> measured, "by_property" -> byProp, "by_time" -> byTime,
      "unattributed" -> none)
  }
}

object Tracer {
  val Key = "perfbench.span"

  final case class Task(stage: Int, attempt: Int, launchMs: Long, finishMs: Long, cpuNs: Long,
                        shuffleB: Long, spillB: Long, ioB: Long, failed: Boolean)

  final class Listener extends SparkListener {
    val jobs = ArrayBuffer.empty[(Int, Int, Long)] // (job, span tag or -1, start ms)
    // (stage, attempt) -> (span tag or -1, submission ms)
    val stages = HashMap.empty[(Int, Int), (Int, Long)]
    val tasks = ArrayBuffer.empty[Task]

    private def tag(p: java.util.Properties): Int =
      Option(p).flatMap(p => Option(p.getProperty(Key))).flatMap(_.toIntOption).getOrElse(-1)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += ((e.jobId, tag(e.properties), e.time))
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val i = e.stageInfo
      stages((i.stageId, i.attemptNumber())) =
        (tag(e.properties), i.submissionTime.getOrElse(System.currentTimeMillis()))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      val failed = i.failed || i.killed || e.reason != Success
      if (m == null) tasks += Task(e.stageId, e.stageAttemptId, i.launchTime, i.finishTime,
        0, 0, 0, 0, failed)
      else tasks += Task(e.stageId, e.stageAttemptId, i.launchTime, i.finishTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead + m.outputMetrics.bytesWritten, failed)
    }
  }

  /** Length of the union of intervals clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var tot = 0.0; var curA = Double.NaN; var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) tot += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) tot += curB - curA
    tot
  }

  /** Per-layer metrics over the spans of the given ops. A span's self
    * time is its duration minus the part its child spans cover; idle
    * time is its duration minus the part its own tasks cover. */
  def perLayer(tr: Tracer, ops: Set[Long]): Map[String, Double] = {
    val work = tr.resolve()
    val children = tr.spans.groupBy(_.parent)
    val out = HashMap.empty[String, Double]
    for (l <- Layers.all; (m, _) <- Layers.metrics) out(s"$l.$m") = 0.0
    tr.spans.filter(s => ops(s.op) && Layers.all.contains(s.layer)).foreach { s =>
      val dur = s.endMs - s.startMs
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)).toSeq
      val w = work.getOrElse(s.id, new SparkWork)
      val own = w.taskIntervals.map { case (a, b) => (a.toDouble, b.toDouble) }.toSeq
      def add(m: String, v: Double): Unit = out(s"${s.layer}.$m") += v
      add("calls", 1)
      add("wall_s", dur / 1e3)
      add("self_s", (dur - covered(kids, s.startMs, s.endMs)) / 1e3)
      add("jobs", w.jobs.toDouble)
      add("tasks", w.tasks.toDouble)
      add("cpu_s", w.cpuNs / 1e9)
      add("idle_s", (dur - covered(own, s.startMs, s.endMs)) / 1e3)
      add("shuffle_mb", w.shuffleB / 1e6)
      add("spill_mb", w.spillB / 1e6)
      add("io_mb", w.ioB / 1e6)
      add("failed", (if (s.failed) 1 else 0) + w.failedTasks.toDouble)
    }
    out.toMap
  }
}
