package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed section of a run; `parent` is the enclosing span, -1 at the top. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark counters of the jobs that started while one span was innermost. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** stage id -> durations (ms) of its finished tasks */
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    o.taskMs.foreach { case (s, ds) => taskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ds }
  }
}

/** Spans recorded by the harness around each call into the program, plus a
  * SparkListener that charges every job, and its tasks, to the span that
  * was innermost on the driver thread when the job started (carried as a
  * local property, which Spark copies into the job's properties).
  * Everything stays in memory; `spansJson` renders it when the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val bySpan = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, stack.headOption.getOrElse(-1), name, System.nanoTime())
    spans += s
    stack = s.id :: stack
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Prop, stack.headOption.map(_.toString).orNull)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).fold(-1)(_.toInt)
    bySpan.getOrElseUpdate(id, new Counters).jobs += 1
    e.stageIds.foreach(stageSpan(_) = id)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = bySpan.getOrElseUpdate(stageSpan.getOrElse(e.stageId, -1), new Counters)
    c.tasks += 1
    c.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Call once the traced work is over: waits for every posted event. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  def descendants(id: Int): Seq[Span] = {
    val kids = children(id)
    kids ++ kids.flatMap(k => descendants(k.id))
  }

  /** Counters of the span and everything under it. */
  def counters(id: Int): Counters = synchronized {
    val total = new Counters
    (spans(id) +: descendants(id)).foreach(s => bySpan.get(s.id).foreach(total += _))
    total
  }

  def spansJson(t0Ns: Long): Seq[String] = spans.toSeq.map { s =>
    val c = synchronized(bySpan.getOrElse(s.id, new Counters))
    Json.obj(Seq(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_s" -> (s.startNs - t0Ns) / 1e9, "dur_s" -> s.seconds,
      "jobs" -> c.jobs, "tasks" -> c.tasks, "cpu_s" -> c.cpuNs / 1e9,
      "run_s" -> c.runMs / 1e3, "gc_s" -> c.gcMs / 1e3,
      "shuffle_write_mb" -> c.shuffleWriteBytes / 1e6, "spill_mb" -> c.spillBytes / 1e6))
  }
}
