package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters of one span, filled by [[EngineListener]]. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs = 0L
  var shuffleWrite, spill = 0L
  var input, output = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; spill += o.spill
    input += o.input; output += o.output
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_s" -> runMs / 1e3, "task_cpu_s" -> cpuNs / 1e9,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "input_bytes" -> input, "output_bytes" -> output)
}

/** Attributes jobs, stages and task metrics to the span whose job group
  * submitted them. Every span runs its calls under the job group
  * `pb-<span id>`; jobs outside any span land on id -1. */
final class EngineListener extends SparkListener {
  private val stageSpan = mutable.Map[Int, Int]()
  private val bySpan = mutable.Map[Int, Counters]()

  private var busy = 0L

  private def of(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)

  /** Nanoseconds spent in this listener's callbacks. */
  def busyNs: Long = synchronized(busy)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime(); f; busy += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(timed {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val span = group.filter(_.startsWith("pb-")).map(_.drop(3).toInt).getOrElse(-1)
    e.stageIds.foreach(stageSpan(_) = span)
    of(span).jobs += 1
  })

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized(timed {
    of(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized(timed {
    val m = e.taskMetrics
    if (m != null) {
      val c = of(stageSpan.getOrElse(e.stageId, -1))
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.output += m.outputMetrics.bytesWritten
    }
  })

  def counters(span: Int): Counters = synchronized {
    val c = new Counters; bySpan.get(span).foreach(c.add); c
  }
}

final case class Span(id: Int, name: String, parent: Int, req: Int, block: Int,
                      startNs: Long, var endNs: Long = 0L,
                      var zoneBuildS: Double = 0.0, var zoneDirs: Int = 0) {
  def layer: String = name.takeWhile(_ != '.')
  def durS: Double = (endNs - startNs) / 1e9
  /** The call built a zone: `Scratch` build time or a new `oncePerDir` dir. */
  def builtZone: Boolean = zoneBuildS > 0 || zoneDirs > 0
}

/** Spans around the benchmark's calls into the program: name, start,
  * end, parent, pass and request id, kept in memory until [[write]].
  * Spans are always kept, with the zones the call built (the delta of
  * `Scratch.buildSeconds` and of the `oncePerDir` root's entries); the
  * call latencies come from them. Tracing ([[start]]) adds the engine
  * listener and runs each span under its own job group. */
final class Tracer(sc: SparkContext, zoneRoot: Path, cpus: Int) {
  private val listener = new EngineListener
  private val stack = mutable.Stack[Span]()
  private val spans = mutable.ArrayBuffer[Span]()
  private var on = false
  private var ids = 0
  private var bookkeepingNs = 0L

  /** Time tracing cost so far: the driver thread's bookkeeping around
    * spans, the wait for the listener bus to drain, and the listener's
    * callbacks (which run on the bus thread). */
  def overheadS: Double = (bookkeepingNs + listener.busyNs) / 1e9

  def start(): Unit = if (!on) { sc.addSparkListener(listener); on = true }

  def stop(): Unit = if (on) {
    val t0 = System.nanoTime()
    org.apache.spark.PerfbenchBus.drain(sc)
    bookkeepingNs += System.nanoTime() - t0
    sc.removeSparkListener(listener)
    on = false
  }

  def span[T](name: String, req: Int = -1, block: Int = -1)(body: => T): T =
    spanOf(name, req, block)(body)._1

  /** [[span]], also returning the finished span. */
  def spanOf[T](name: String, req: Int = -1, block: Int = -1)(body: => T): (T, Span) = {
    val zb = graft.util.Scratch.buildSeconds
    val zd = Tracer.zoneCount(zoneRoot)
    val parent = stack.headOption
    ids += 1
    val s = Span(ids, name, parent.fold(-1)(_.id),
      if (req >= 0) req else parent.fold(-1)(_.req),
      if (block != -1 || parent.isEmpty) block else parent.get.block, System.nanoTime())
    stack.push(s)
    spans += s
    val tb = System.nanoTime()
    if (on) sc.setJobGroup(s"pb-${s.id}", name)
    if (on) bookkeepingNs += System.nanoTime() - tb
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      s.zoneBuildS = graft.util.Scratch.buildSeconds - zb
      s.zoneDirs = Tracer.zoneCount(zoneRoot) - zd
      if (on) {
        val te = System.nanoTime()
        parent match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name)
          case None    => sc.clearJobGroup()
        }
        bookkeepingNs += System.nanoTime() - te
      }
      stack.pop()
    }
  }

  /** Duration minus the part of it the child spans cover (children run
    * one after another on the driver thread, so they never overlap). */
  private def selfS(s: Span): Double =
    s.durS - spans.filter(_.parent == s.id).map(_.durS).sum

  def write(path: Path): Unit = {
    val t0 = spans.headOption.fold(0L)(_.startNs)
    val lines = spans.map { s =>
      val own = listener.counters(s.id)
      Json.write(Map(
        "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "req" -> s.req, "block" -> s.block,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "dur_ms" -> s.durS * 1e3, "self_ms" -> selfS(s) * 1e3,
        "zone_build_s" -> s.zoneBuildS, "zone_dirs" -> s.zoneDirs,
        "core_util" -> (if (s.durS > 0) own.runMs / 1e3 / (s.durS * cpus) else 0.0)
      ) ++ own.toMap)
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Published zones under the `oncePerDir` root (staging dirs excluded). */
  def zoneCount(root: Path): Int =
    if (!Files.isDirectory(root)) 0
    else {
      val s = Files.list(root)
      try s.filter(p => !p.getFileName.toString.contains(".staging-")).count().toInt
      finally s.close()
    }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
