package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide counters read from outside the program: /proc/self/io,
  * the JVM's GC and allocation beans, and Spark's codegen histogram. */
case class Counters(rchar: Long, wchar: Long, gcCount: Long, gcMs: Long,
    allocBytes: Long, compiles: Long) {
  def -(o: Counters): Counters = Counters(rchar - o.rchar, wchar - o.wchar,
    gcCount - o.gcCount, gcMs - o.gcMs, allocBytes - o.allocBytes, compiles - o.compiles)
}

object Counters {
  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  private def procIo(): (Long, Long) = {
    val f = java.nio.file.Paths.get("/proc/self/io")
    if (!java.nio.file.Files.isReadable(f)) return (0L, 0L)
    val kv = java.nio.file.Files.readAllLines(f).asScala.flatMap { l =>
      l.split(":\\s*") match {
        case Array(k, v) => Some(k -> v.trim.toLong)
        case _ => None
      }
    }.toMap
    (kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L))
  }

  def now(): Counters = {
    val (r, w) = procIo()
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Counters(r, w, gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum,
      threads.getTotalThreadAllocatedBytes,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** mean codegen compile time (ms) over the histogram's reservoir */
  def compileMeanMs(): Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean

  /** bytes this thread has allocated so far */
  def threadAlloc(): Long = threads.getCurrentThreadAllocatedBytes
}

/** Live heap while an operation streams: a sampler thread forces a
  * full collection, records the heap occupancy at the end of it, and
  * sleeps as long as the collection took (at least 10 ms), so `body`
  * keeps about half of the time. The occupancy is each heap pool's
  * usage as of its last collection, which allocation after the pause
  * cannot inflate. Forced collections stall the program, so this runs
  * apart from the timed operations. */
object HeapProbe {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)

  def during[T](body: => T): (T, Seq[Long]) = {
    @volatile var stop = false
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val t = new Thread(() => {
      while (!stop) {
        val t0 = System.nanoTime()
        System.gc()
        samples.add(heapPools.map(_.getCollectionUsage.getUsed).sum)
        Thread.sleep(math.max(10L, (System.nanoTime() - t0) / 1000000))
      }
    }, "perfbench-heap-probe")
    t.setDaemon(true)
    t.start()
    val r = try body finally { stop = true; t.join() }
    (r, samples.asScala.map(_.longValue).toSeq)
  }
}

/** One span: a named interval, in milliseconds since the run started,
  * with the span that caused it. */
case class Span(id: Long, parent: Long, name: String, layer: String,
    start: Double, end: Double, attrs: Map[String, Any] = Map.empty)

/** Span store: spans stay in memory and are written out at the end. */
final class Spans {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private var next = 0L
  val all = mutable.ArrayBuffer.empty[Span]

  /** both clocks were read together at construction, so either kind
    * of timestamp maps onto the same run-relative axis (to ~1 ms) */
  def msOfNano(n: Long): Double = (n - nano0) / 1e6
  def msOfEpoch(ms: Long): Double = (ms - epoch0).toDouble

  def add(parent: Long, name: String, layer: String, start: Double, end: Double,
      attrs: Map[String, Any] = Map.empty): Long = synchronized {
    next += 1
    all += Span(next, parent, name, layer, start, end, attrs)
    next
  }

  /** close a span opened before its end was known */
  def resize(id: Long, end: Double): Unit = synchronized {
    val i = all.indexWhere(_.id == id)
    all(i) = all(i).copy(end = end)
  }
}

/** Everything the Spark listener saw for one operation. */
case class JobTrace(id: Int, submitMs: Long, endMs: Long, firstLaunchMs: Long,
    stages: Seq[StageTrace])
case class StageTrace(id: Int, submitMs: Long, endMs: Long, tasks: Int, cpuNs: Long,
    gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long, firstLaunchMs: Long)
case class OpTrace(jobs: Seq[JobTrace], phases: Seq[(String, Long, Long)])

/** Observes the program from outside: job, stage and task events tied
  * to an operation through its job group, and the Catalyst phase
  * times of each query execution. Registered only in traced runs. */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  private case class Job(group: String, submit: Long, stageIds: Seq[Int], var end: Long = -1)
  private final class Stage {
    var submit = -1L; var end = -1L; var tasks = 0; var cpuNs = 0L
    var gcMs = 0L; var shR = 0L; var shW = 0L; var spill = 0L; var firstLaunch = Long.MaxValue
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = Job(g, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId).submit = e.stageInfo.submissionTime.getOrElse(-1L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.end = e.stageInfo.completionTime.getOrElse(-1L)
    if (s.submit < 0) s.submit = e.stageInfo.submissionTime.getOrElse(-1L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime)
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shR += m.shuffleReadMetrics.totalBytesRead
      s.shW += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs).foreach { case (name, p) =>
      phases += ((name, p.startTimeMs, p.endTimeMs))
    }
  }

  /** Remove and return what was recorded for job group `group`, plus
    * every query-execution phase recorded since the previous take
    * (operations run one at a time, so those belong to this one). The
    * caller drains the listener bus first. */
  def take(group: String): OpTrace = synchronized {
    val mine = jobs.filter(_._2.group == group).toSeq
    val js = mine.map { case (id, j) =>
      val st = j.stageIds.flatMap(sid => stages.remove(sid).map { s =>
        StageTrace(sid, s.submit, s.end, s.tasks, s.cpuNs, s.gcMs, s.shR, s.shW, s.spill,
          if (s.tasks == 0) -1L else s.firstLaunch)
      })
      val launch = st.map(_.firstLaunchMs).filter(_ >= 0)
      JobTrace(id, j.submit, j.end, if (launch.isEmpty) -1L else launch.min, st)
    }
    mine.foreach { case (id, _) => jobs.remove(id) }
    val ph = phases.toList
    phases.clear()
    OpTrace(js, ph)
  }
}
