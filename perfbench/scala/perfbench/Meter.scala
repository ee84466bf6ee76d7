package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level totals of the Spark jobs launched under one label. */
final class Work {
  var jobs = 0L
  var jobMs = 0L
  var tasks = 0L
  var busyMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var taskWaitMs = 0L
  var shuffleWriteB = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var peakB = 0L
  /** task durations per stage, for the skew ratio */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Median over stages with at least two tasks of max ÷ median task time. */
  def skew: Double = {
    val r = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }.toSeq.sorted
    if (r.isEmpty) 0.0 else r(r.size / 2)
  }

  def json: String = {
    def mb(b: Long) = b / 1048576.0
    Json.obj(
      "jobs" -> jobs, "job_ms" -> jobMs, "tasks" -> tasks, "busy_ms" -> busyMs,
      "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs, "task_wait_ms" -> taskWaitMs,
      "shuffle_write_mb" -> mb(shuffleWriteB), "shuffle_write_records" -> shuffleWriteRecords,
      "shuffle_read_mb" -> mb(shuffleReadB), "spill_mb" -> mb(spillB),
      "peak_mem_mb" -> mb(peakB), "skew" -> skew)
  }
}

/** Attributes every Spark job to the label the benchmark put in the
  * `perfbench.span` local property before the call that launched it (threads
  * a builder starts inherit local properties). Jobs whose stages were
  * created from `Tables.scala` — the schema-inference reads of
  * `Tables.load` — are kept apart under `<label>|tables`. */
final class JobMeter(sc: SparkContext) extends SparkListener {
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobKey = new ConcurrentHashMap[Int, (String, Long)]()
  private val work = mutable.Map.empty[String, Work]
  private val started = new AtomicLong()
  private val ended = new AtomicLong()
  private val fenceSeen = new AtomicLong(-1L)
  private var fences = 0L

  private def w(key: String): Work = work.getOrElseUpdate(key, new Work)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    started.incrementAndGet()
    val label = Option(j.properties).flatMap(p =>
      Option(p.getProperty(JobMeter.Label))).getOrElse("unlabeled")
    val tables = j.stageInfos.exists(s =>
      s.name.contains("Tables.scala") || s.details.contains("graft.Tables$.load"))
    val key = if (tables) s"$label|tables" else label
    j.stageInfos.foreach(s => stageKey.put(s.stageId, key))
    jobKey.put(j.jobId, (key, j.time))
    w(key).jobs += 1
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    Option(jobKey.remove(j.jobId)).foreach { case (key, t0) =>
      w(key).jobMs += j.time - t0
      if (key.startsWith(JobMeter.Fence)) fenceSeen.set(key.drop(JobMeter.Fence.length).toLong)
    }
    ended.incrementAndGet()
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    stageSubmitMs.put(s.stageInfo.stageId,
      java.lang.Long.valueOf(s.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val key = Option(stageKey.get(t.stageId)).getOrElse("unlabeled")
    val x = w(key)
    val info = t.taskInfo
    x.tasks += 1
    x.busyMs += info.duration
    Option(stageSubmitMs.get(t.stageId)).foreach(s =>
      x.taskWaitMs += math.max(0L, info.launchTime - s))
    x.stageTaskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += info.duration
    val m = t.taskMetrics
    if (m != null) {
      x.cpuNs += m.executorCpuTime
      x.gcMs += m.jvmGCTime
      x.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      x.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      x.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      x.spillB += m.memoryBytesSpilled
      x.peakB = math.max(x.peakB, m.peakExecutionMemory)
    }
  }

  /** Returns once every job started so far has ended and the listener bus
    * has delivered every event posted before this call: a one-task job
    * under a fresh fence label is the marker (the bus is FIFO). Throws if
    * that has not happened within 30 s, so no counter is read early. */
  def quiesce(): Unit = {
    fences += 1
    val id = fences
    val prev = sc.getLocalProperty(JobMeter.Label)
    sc.setLocalProperty(JobMeter.Label, s"${JobMeter.Fence}$id")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobMeter.Label, prev)
    val deadline = System.nanoTime() + 30e9.toLong
    while (fenceSeen.get() < id || started.get() != ended.get()) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("jobs still running after 30 s: " +
          s"${started.get()} started, ${ended.get()} ended, fence $id seen: ${fenceSeen.get() >= id}")
      Thread.sleep(2)
    }
  }

  /** Removes and returns the totals recorded under `label` and its
    * `|tables` part. */
  def take(label: String): (Work, Work) = synchronized {
    (work.remove(label).getOrElse(new Work),
     work.remove(s"$label|tables").getOrElse(new Work))
  }

  def dropFences(): Unit = synchronized {
    work.keys.filter(_.startsWith(JobMeter.Fence)).toSeq.foreach(work.remove)
  }
}

object JobMeter {
  val Label = "perfbench.span"
  val Fence = "fence#"
}

/** Keeps the planning-phase durations of the last `noop` write command. */
final class WritePhases extends QueryExecutionListener {
  private val last = new AtomicReference[Map[String, Long]](Map.empty)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (qe.logical.getClass.getSimpleName == "OverwriteByExpression")
      last.set(qe.tracker.phases.map { case (k, v) => k -> v.durationMs })

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def take(): Map[String, Long] = last.getAndSet(Map.empty)
}

/** Live heap: the largest heap occupancy right after a full collection
  * forced after each timed batch query and each stream part, and total
  * collector time, from the JVM's memory and GC MXBeans. */
object LiveHeap {
  private val peak = new AtomicLong()

  val samplesMb = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

  def sample(): Unit = {
    // The first collection queues the dropped RDDs, shuffles and broadcasts
    // for Spark's ContextCleaner, which polls every 100 ms and then frees
    // their blocks; the second collection sees that.
    System.gc()
    Thread.sleep(250)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    samplesMb.add(used / 1048576.0)
    peak.accumulateAndGet(used, math.max(_, _))
  }

  def peakMb: Double = peak.get / 1048576.0

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
}

/** One interval of the trace: spans are kept in memory and written once. */
final case class Span(id: String, parent: String, name: String,
                      startMs: Double, endMs: Double,
                      attrs: Seq[(String, Any)] = Nil) {
  def json: String = Json.obj(Seq("id" -> id, "parent" -> parent, "name" -> name,
    "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs: _*)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case Raw(s) => s
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  final case class Raw(s: String)
}
