package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Spark counters for one span: jobs, stages, shuffle and spill bytes,
  * bytes written by output tasks, and executor CPU time.
  */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var output = 0L
  var cpuNs = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; output += o.output
    cpuNs += o.cpuNs
  }
}

/** One recorded call: name, start and end (ns, monotonic), the span that
  * caused it, and the run it belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
    start: Long, var end: Long = -1L) {
  val own = new Counts
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder with a Spark listener that charges every job
  * and stage to the innermost open span of the thread that submitted it
  * (through the `perfbench.span` local property). Spans live only in this
  * object until [[json]] writes them out. The listener is attached only
  * when `attach` is set; while `active` is false every call runs its body
  * and records nothing.
  */
final class Tracer(sc: SparkContext, attach: Boolean) {
  private val Prop = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private var open: List[Int] = Nil
  var run = "setup"
  var active = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      id.map(_.toInt).foreach { s =>
        Tracer.this.synchronized {
          spans(s).own.jobs += 1
          e.stageIds.foreach(st => stageSpan(st) = s)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach { s =>
          val c = spans(s).own
          val m = e.stageInfo.taskMetrics
          c.stages += 1
          if (m != null) {
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.output += m.outputMetrics.bytesWritten
            c.cpuNs += m.executorCpuTime
          }
        }
      }
  }
  if (attach) sc.addSparkListener(listener)

  /** Run `body` inside a span named `name`. */
  def apply[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val parent = open.headOption.getOrElse(-1)
      val s = synchronized {
        val sp = Span(spans.length, name, parent, run, System.nanoTime())
        spans += sp
        sp
      }
      open = s.id :: open
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        // drain the bus (no sleeping) so every stage of this span is
        // charged before anyone reads its counts
        org.apache.spark.PerfbenchBus.drain(sc)
        open = open.tail
        sc.setLocalProperty(Prop, open.headOption.map(_.toString).orNull)
      }
    }

  /** Spans named `name` in runs whose name starts with `runPrefix`. */
  def named(name: String, runPrefix: String): Seq[Span] =
    synchronized(spans.filter(s => s.name == name && s.run.startsWith(runPrefix)).toSeq)

  /** Counts of `s` and every span under it. */
  def inclusive(s: Span): Counts = synchronized {
    val kids = spans.groupBy(_.parent)
    val c = new Counts
    def walk(x: Span): Unit = { c.add(x.own); kids.getOrElse(x.id, Nil).foreach(walk) }
    walk(s)
    c
  }

  def json: String = synchronized {
    Harness.mapper.writeValueAsString(spans.map { s =>
      val c = s.own
      ListMap("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start_ns" -> s.start, "end_ns" -> s.end, "jobs" -> c.jobs, "stages" -> c.stages,
        "shuffle_read" -> c.shuffleRead, "shuffle_write" -> c.shuffleWrite,
        "spill" -> c.spill, "output" -> c.output, "cpu_ns" -> c.cpuNs)
    })
  }
}
