package loaderbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `startMs`/`endMs` are wall-clock times, the
  * clock Spark stamps job events with; `durS` is from the monotonic clock.
  */
final class Span(val id: Long, val parent: Long, val layer: String,
    val name: String, val cycle: Int, val pass: String) {
  val startMs: Long = System.currentTimeMillis()
  val startNs: Long = System.nanoTime()
  var endMs: Long = startMs
  var endNs: Long = startNs
  def durS: Double = (endNs - startNs) / 1e9
  var counters: Map[String, Long] = Map.empty
}

/** Spans around the calls the benchmark makes into each layer, kept in
  * memory and written as JSONL at the end of the run.
  *
  * While a span is open its id is the Spark local property [[Tracer.Key]]
  * of the calling thread, so every job that thread (or a thread it starts,
  * such as an orchestrator pool thread) submits carries it, and
  * [[SpanListener]] folds the job's cost into that span. When disabled,
  * `span` only runs its body: the untraced passes pay nothing.
  */
final class Tracer {
  @volatile var enabled = false
  @volatile var pass = ""
  @volatile var cycle = -1
  @volatile private var sc: SparkContext = _
  val listener = new SpanListener
  val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(0L)
  private val open = new InheritableThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  /** Register the listener with a (re)started session. */
  def attach(context: SparkContext): Unit = {
    sc = context
    context.addSparkListener(listener)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val stack = open.get
      val s = new Span(ids.incrementAndGet(), stack.headOption.map(_.id).getOrElse(0L),
        layer, name, cycle, pass)
      val prev = sc.getLocalProperty(Tracer.Key)
      open.set(s :: stack)
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try {
        val out = body
        out match {
          case m: Map[_, _] => s.counters = m.collect {
            case (k: String, v: Long) => k -> v }
          case _ =>
        }
        out
      } finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        sc.setLocalProperty(Tracer.Key, prev)
        open.set(stack)
        spans.add(s)
      }
    }

  /** Block until the listener has seen every event posted so far: submit a
    * marker job and wait for its end event, which the listener bus
    * delivers after all earlier events. Called only outside timed passes.
    */
  def drain(): Unit = {
    val seen = listener.markers.get
    val prev = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, Tracer.Marker.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.Key, prev)
    val deadline = System.nanoTime() + 30000000000L
    while (listener.markers.get == seen && System.nanoTime() < deadline)
      Thread.sleep(2)
    require(listener.markers.get > seen, "listener did not drain within 30 s")
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.toArray(Array.empty[Span]).sortBy(_.id).map { s =>
      val a = listener.cost(s.id)
      val counters = s.counters.map { case (k, v) => s"\"$k\":$v" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""cycle":${s.cycle},"pass":"${s.pass}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""dur_s":${s.durS},"job_wall_s":${Layers.covered(a.jobIntervals.toSeq,
          s.startMs, s.endMs) / 1e3},"jobs":${a.jobs},"stages":${a.stages},"tasks":${a.tasks},""" +
        s""""executor_cpu_s":${a.cpuNs / 1e9},"gc_s":${a.gcMs / 1e3},""" +
        s""""shuffle_write_b":${a.shuffleWriteB},"spill_b":${a.spillB},""" +
        s""""rows_written":${a.rowsOut},"bytes_written":${a.bytesOut},""" +
        s""""counters":{$counters}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val Key = "loaderbench.span"
  val Marker: Long = -1L
}

/** Spark cost folded per span id. */
final class Cost {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var rowsOut = 0L
  var bytesOut = 0L
  /** (start, end) wall-clock ms of each job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Non-blocking: it runs on the listener bus thread and only updates its
  * own maps, so no Spark action ever waits on it.
  */
final class SpanListener extends SparkListener {
  private val bySpan = mutable.Map.empty[Long, Cost]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (Long, Long)]
  val markers = new AtomicLong(0L)

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toLong).getOrElse(0L)

  private def at(span: Long): Cost = bySpan.getOrElseUpdate(span, new Cost)

  def cost(span: Long): Cost = synchronized(bySpan.getOrElse(span, new Cost))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    jobStart(e.jobId) = (s, e.time)
    e.stageIds.foreach(id => if (!stageSpan.contains(id)) stageSpan(id) = s)
    at(s).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (s, t0) =>
      at(s).jobIntervals += ((t0, e.time))
      if (s == Tracer.Marker) markers.incrementAndGet()
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(at(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageSpan.getOrElse(e.stageId, 0L))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      c.rowsOut += m.outputMetrics.recordsWritten
      c.bytesOut += m.outputMetrics.bytesWritten
    }
  }
}
