package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed call into a layer. Spans of one request share `request`;
 * `parent` is the enclosing span's id (0 at a request's root). */
final case class Span(id: Int, name: String, parent: Int, request: Int,
    startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** Per-stage figures the listener collects. */
final class StageFigures {
  var tasks = 0
  var wallMs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var gcMs = 0L
  var inputRecords = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** In-memory span recorder plus a `SparkListener` that attributes
 * jobs, stages and tasks to the span whose calling thread carried the
 * span's job tag. Only the benchmark's own thread tags jobs, so work
 * the HTTP server runs on its threads is never attributed. Spans are
 * written out once, by [[write]], when the run ends. With `record`
 * off, spans only time their bodies: no listener, no job tags, nothing
 * kept, which is the baseline the tracing overhead is measured from. */
final class Tracer(sc: SparkContext, record: Boolean = true) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private val stack = mutable.Stack.empty[Int]

  private val lock = new Object
  private val jobsByTag = mutable.HashMap.empty[String, Int]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val stages = mutable.HashMap.empty[Int, StageFigures]
  @volatile private var lastEventNs = System.nanoTime()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      lastEventNs = System.nanoTime()
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.JobTags)))
        .toSeq.flatMap(_.split(",")).filter(_.startsWith(Tracer.Prefix))
      tags.foreach { t =>
        jobsByTag(t) = jobsByTag.getOrElse(t, 0) + 1
        e.stageIds.foreach(s => if (!stageTag.contains(s)) stageTag(s) = t)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      lastEventNs = System.nanoTime()
      if (stageTag.contains(e.stageId) && e.taskInfo != null) {
        val f = stages.getOrElseUpdate(e.stageId, new StageFigures)
        f.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          f.gcMs += m.jvmGCTime
          f.inputRecords += m.inputMetrics.recordsRead
          f.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          f.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          f.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      lastEventNs = System.nanoTime()
      val i = e.stageInfo
      if (stageTag.contains(i.stageId)) {
        val f = stages.getOrElseUpdate(i.stageId, new StageFigures)
        f.tasks = i.numTasks
        for (s <- i.submissionTime; c <- i.completionTime) f.wallMs = c - s
      }
    }
  }
  if (record) sc.addSparkListener(listener)

  /** Times `body` as a span; with `tagJobs`, Spark jobs it submits from
   * this thread are attributed to the span. Returns the result and
   * the span. */
  def span[T](name: String, request: Int, tagJobs: Boolean = false)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    val tag = Tracer.Prefix + id
    stack.push(id)
    if (tagJobs && record) sc.addJobTag(tag)
    val t0 = System.nanoTime()
    var done: Span = null
    val r = try body finally {
      if (tagJobs && record) sc.removeJobTag(tag)
      stack.pop()
      done = Span(id, name, parent, request, t0, System.nanoTime())
      if (record) spans += done
    }
    (r, done)
  }

  /** Listener events arrive asynchronously: wait until none has
   * arrived for a while (bounded). */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEventNs < 500000000L && System.nanoTime() < deadline)
      Thread.sleep(100)
  }

  def jobs(s: Span): Int = lock.synchronized(jobsByTag.getOrElse(Tracer.Prefix + s.id, 0))

  def stagesOf(s: Span): Seq[StageFigures] = lock.synchronized {
    val t = Tracer.Prefix + s.id
    stageTag.collect { case (s, `t`) if stages.contains(s) => stages(s) }.toSeq
  }

  def stop(): Unit = if (record) sc.removeSparkListener(listener)

  /** Spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val Prefix = "perfbench-span-"
  /** The job property Spark lists a job's tags in. */
  val JobTags = "spark.job.tags"
}
