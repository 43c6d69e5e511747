package layerbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into the engine: name, start/end (ns, driver clock), the
  * span that caused it (0 = none), and the run it belongs to. */
final case class Span(id: Long, parent: Long, name: String, runId: String,
                      startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around every public call the benchmark makes, and — when traced —
  * the Spark jobs, stages and tasks each span caused.
  *
  * Attribution uses Spark's job group: entering a span sets the driver
  * thread's job group to the span id, so every job the call submits (from
  * this thread or from threads that inherit its local properties, such as
  * broadcast and subquery futures) carries the id into `onJobStart`. The
  * listener maps job → span, stage → span and folds task metrics into the
  * span's counters. Spans nest (a child restores its parent's group when it
  * ends); counters belong to the innermost span, so a parent's counters are
  * its own jobs only, like its self time.
  *
  * Untraced, `call` only reads the clock: no listener, no job groups. */
final class Trace(sc: SparkContext, val traced: Boolean, val runId: String) {
  private var nextId = 1L
  private val stack = mutable.Stack.empty[Span]
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Per-span task counters, filled by the listener thread. */
  final class Counters {
    var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    var inputBytes = 0L; var outputBytes = 0L; var jobs = 0
    /** stage id → task run times (ms), for the skew ratio */
    val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  }
  val counters = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val GroupPrefix = "layerbench-span-"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g: String = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith(GroupPrefix)) {
        val id = g.stripPrefix(GroupPrefix).toLong
        val c = counters.computeIfAbsent(id, _ => new Counters)
        c.synchronized { c.jobs += 1 }
        e.stageIds.foreach(s => stageSpan.put(s, id))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (id != null && m != null) {
        val c = counters.computeIfAbsent(id, _ => new Counters)
        c.synchronized {
          c.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
          c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            m.executorRunTime
        }
      }
    }
  }
  if (traced) sc.addSparkListener(listener)

  /** Time `body` as one call named `name`, nested under the open span. */
  def call[T](name: String)(body: => T): T = {
    val parent = if (stack.isEmpty) 0L else stack.top.id
    val s = Span(nextId, parent, name, runId, System.nanoTime())
    nextId += 1
    stack.push(s)
    if (traced) sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      spans += s
      if (traced) {
        if (stack.isEmpty) sc.clearJobGroup()
        else sc.setJobGroup(GroupPrefix + stack.top.id, stack.top.name,
          interruptOnCancel = false)
      }
    }
  }

  /** Wait until the listener has seen every event posted so far: a marker
    * job's end event is delivered after all earlier task events. */
  def drain(): Unit = if (traced) {
    val done = new CountDownLatch(1)
    val marker = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = done.countDown()
    }
    sc.clearJobGroup()
    sc.addSparkListener(marker)
    sc.parallelize(Seq(1), 1).count()
    done.await(60, TimeUnit.SECONDS)
    sc.removeSparkListener(marker)
  }

  def close(): Unit = if (traced) sc.removeSparkListener(listener)

  /** Self time of a span: its duration minus the part its children cover
    * (children run one at a time on the driver thread, so they never
    * overlap each other). */
  def selfSeconds: Map[Long, Double] = {
    val childNs = spans.groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    spans.map(s => s.id -> (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).toMap
  }
}

/** Per-scope totals over a traced run: every span of one name folded
  * together. */
final case class ScopeStats(wallS: Double, selfS: Double, cpuS: Double,
                            shuffleBytes: Long, spillBytes: Long,
                            inputBytes: Long, outputBytes: Long,
                            taskSkew: Double, jobs: Int, calls: Int)

object ScopeStats {
  def of(t: Trace): Map[String, ScopeStats] = {
    val self = t.selfSeconds
    t.spans.groupBy(_.name).map { case (name, ss) =>
      val cs = ss.flatMap(s => Option(t.counters.get(s.id)))
      // worst stage of the scope by max ÷ median task run time; stages of
      // a single task have no skew to speak of
      val skews = cs.flatMap(_.stageTaskMs.values).filter(_.size >= 2).map { ms =>
        val sorted = ms.sorted
        sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
      }
      name -> ScopeStats(
        wallS = ss.map(_.seconds).sum,
        selfS = ss.map(s => self(s.id)).sum,
        cpuS = cs.map(_.cpuNs).sum / 1e9,
        shuffleBytes = cs.map(_.shuffleBytes).sum,
        spillBytes = cs.map(_.spillBytes).sum,
        inputBytes = cs.map(_.inputBytes).sum,
        outputBytes = cs.map(_.outputBytes).sum,
        taskSkew = if (skews.isEmpty) 1.0 else skews.max,
        jobs = cs.map(_.jobs).sum,
        calls = ss.size)
    }
  }
}
