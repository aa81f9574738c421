package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory span recorder for traced runs. A span is (name, start, end,
  * parent, query id); nesting is tracked per thread, so a span opened
  * inside another is its child. When tracing is off, [[span]] only runs
  * its body. Spans are written out at exit and self time (a span's time
  * minus its children's) is computed per span name. */
final class Trace(@volatile var enabled: Boolean) {
  final case class Span(id: Int, name: String, start: Long, end: Long,
                        parent: Int, query: Int)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](name: String, query: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parent, query))
        stack.set(stack.get().tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time in seconds per span name. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    ss.foreach(s => if (s.parent != 0) childNs(s.parent) += s.end - s.start)
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(s => s.end - s.start - childNs(s.id)).sum / 1e9 }
  }

  /** One JSON object per span, then one per name with its self time. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val sb = new StringBuilder
    all.sortBy(_.start).foreach { s =>
      sb ++= s"""{"span":${s.id},"name":"${s.name}","start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"query":${s.query}}""" + "\n"
    }
    selfSeconds.toSeq.sortBy(-_._2).foreach { case (n, v) =>
      sb ++= f"""{"self_time":"$n","seconds":$v%.6f}""" + "\n"
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Bench-side listener: job and task counts plus task time, shuffle
  * and spill bytes, and the union of task run intervals (wall time with no
  * task running is the serial share of a build). */
final class JobListener extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskRunNs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]()

  /** Jobs and tasks per query id, from the `perfbench.query` local
    * property the benchmark sets on the thread that runs each query. */
  val jobsByQuery = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  val tasksByQuery = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val stageQuery = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val q = Option(e.properties).map(_.getProperty(JobListener.QueryProperty)).orNull
    if (q != null) {
      jobsByQuery.computeIfAbsent(q, _ => new AtomicLong).incrementAndGet()
      e.stageIds.foreach(s => stageQuery.put(s, q))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val q = stageQuery.get(e.stageId)
    if (q != null) tasksByQuery.computeIfAbsent(q, _ => new AtomicLong).incrementAndGet()
    intervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      taskRunNs.addAndGet(m.executorRunTime * 1000000L)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }


  /** Milliseconds of [t0, t1] (epoch ms) covered by at least one task. */
  def taskCoveredMs(t0: Long, t1: Long): Long = {
    val iv = intervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    covered + (curB - curA)
  }
}

object JobListener {
  val QueryProperty = "perfbench.query"
}
