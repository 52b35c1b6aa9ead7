package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption => Opt}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.util.{Scratch, Sessions}

/** The one dev probe over [[SparkEntry.queries]], on a [[Sessions.build]]
  * session: plans and timings are taken under the conf the bench times.
  *
  * Usage: runMain graft.tools.Probe <cmd> <sfDir> [args...]
  *   time    <sfDir> [--passes=N] q...  construct/plan/exec per pass
  *           (default 2: zone builds land in pass 1), jobs, generated
  *           classes compiled, and the slowest stages of the last pass
  *   sweep   <sfDir> <results.jsonl> [--retry-inflight] [--passes=N]
  *           [q...]  resumable, one JSON line per query ([[sweep]])
  *   plan    <sfDir> q...|all   formatted physical plan
  *   metrics <sfDir> q...       EXECUTES, then walks the final plan's
  *           measured operator metrics
  *   codegen <sfDir> q...       the executed whole-stage code
  * `plan`/`codegen` print, or with `--out=<dir> [--suffix=<s>]` write
  * `<dir>/<q>_<s>.txt` (suffix default: the subcommand). `conf=k:v,...`
  * sets session confs, split on the FIRST colon (values like `file:/tmp`).
  */
object Probe {

  def main(args: Array[String]): Unit = {
    val (confs, rest) = args.toSeq.partition(_.startsWith("conf="))
    val (flags, pos) = rest.partition(_.startsWith("--"))
    require(pos.size >= 2, "usage: Probe <time|sweep|plan|metrics|codegen> <sfDir> ...")
    val Seq(cmd, dir, names @ _*) = pos
    def flag(k: String): Option[String] =
      flags.collectFirst { case f if f.startsWith(s"--$k=") => f.drop(k.length + 3) }
    val passes = flag("passes").map(_.toInt).getOrElse(if (cmd == "time") 2 else 1)
    require(passes >= 1, s"--passes=$passes must be >= 1")
    def session(): SparkSession = {
      val spark = Sessions.build(dir)
      confs.flatMap(_.stripPrefix("conf=").split(',')).foreach { kv =>
        kv.split(":", 2) match {
          case Array(k, v) => spark.conf.set(k, v)
          case _ => sys.error(s"conf= entry needs key:value, got '$kv'")
        }
      }
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark
    }
    def emit(name: String, txt: String): Unit = flag("out") match {
      case Some(out) =>
        val p = Paths.get(out, s"${name}_${flag("suffix").getOrElse(cmd)}.txt")
        Files.createDirectories(p.getParent)
        Files.write(p, txt.getBytes(UTF_8))
        println(s"[probe] wrote $p")
      case None => println(s"\n========== $name ==========\n$txt")
    }
    if (cmd == "sweep") {
      require(names.nonEmpty, "usage: Probe sweep <sfDir> <results.jsonl> ...")
      return sweep(session _, dir, Paths.get(names.head), names.tail.toSet,
        passes, flags.contains("--retry-inflight"))
    }
    val spark = session()
    cmd match {
      case "time" =>
        val rec = new Recorder(spark)
        for (n <- names; pass <- 1 to passes) {
          rec.reset()
          val c0 = Compiles.now()
          val (df, tc) = timed(query(n)(spark, dir))
          val jc = rec.jobs.get()
          val (_, tp) = timed(df.queryExecution.executedPlan)
          val (_, te) = timed(df.write.format("noop").mode("overwrite").save())
          rec.drain(n)
          val c = Compiles.now() - c0
          println(f"[time] $n p$pass total=${tc + tp + te}%.2f construct=$tc%.2f " +
            f"plan=$tp%.2f exec=$te%.2f jobsC=$jc jobsE=${rec.jobs.get() - jc} " +
            f"stages=${rec.stages.size} compiles=${c.count} compileMs=${c.nanos / 1e6}%.0f")
          if (pass == passes) rec.stages.sortBy(-_.wallMs).take(4).foreach { s =>
            println(f"[time]   stage=${s.id} wall=${s.wallMs / 1e3}%.2f " +
              f"taskRun=${s.runMs / 1e3}%.2f taskCpu=${s.cpuMs / 1e3}%.2f tasks=${s.tasks}")
          }
        }
      case "plan" =>
        val sel = if (names == Seq("all")) SparkEntry.queries.keys.toSeq.sorted else names
        sel.foreach { n =>
          emit(n, query(n)(spark, dir).queryExecution
            .explainString(ExplainMode.fromString("formatted")))
        }
      case "metrics" => names.foreach { n =>
        val df = query(n)(spark, dir)
        // collect, not a noop write: a write runs a SEPARATE
        // QueryExecution whose metrics this plan would never see
        println(s"\n$n: ${df.collect().length} result rows")
        walk(finalPlan(df.queryExecution.executedPlan), 0)
      }
      case "codegen" => names.foreach { n =>
        val qe = query(n)(spark, dir).queryExecution
        // execute first, so the dump is the final adaptive plan's code
        // (what ran), not the initial plan's
        qe.toRdd.count()
        emit(n, qe.debug.codegenToSeq()
          .map { case (sub, code, _) => sub + "\n" + code }
          .mkString("\n====REGION====\n"))
      }
      case other => sys.error(s"unknown subcommand '$other'")
    }
    spark.stop()
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))

  /** The shared timing function: result and wall seconds. */
  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The JVM's generated-class compiles so far: the count Spark's
    * `CodegenMetrics` histogram has recorded and the compile nanos
    * `CodeGenerator` sums (exact, where the histogram keeps only a
    * sample of its values). Both are JVM-wide, so a delta over a pass
    * is that pass's compiles; a cache hit adds nothing. */
  private final case class Compiles(count: Long, nanos: Long) {
    def -(o: Compiles): Compiles = Compiles(count - o.count, nanos - o.nanos)
  }
  private object Compiles {
    def now(): Compiles =
      Compiles(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
  }

  private final case class Stage(id: Int, wallMs: Long, runMs: Long, cpuMs: Long, tasks: Int)

  /** The one listener, hooked onto `spark` at construction: jobs
    * started, stages completed, and the `graft.cap.*` observed metrics
    * ([[graft.util.Caps]]) of successful executions. Delivery is
    * asynchronous, so read only after [[drain]]. */
  private final class Recorder(spark: SparkSession)
      extends SparkListener with QueryExecutionListener {
    val jobs = new AtomicInteger()
    val capRows = new AtomicLong()
    val capMax = new AtomicLong()
    private val done = ArrayBuffer.empty[Stage]
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)

    def stages: Seq[Stage] = done.synchronized(done.toList)

    def reset(): Unit = {
      jobs.set(0); capRows.set(0); capMax.set(0)
      done.synchronized(done.clear())
    }

    /** Flush the listener bus. Still busy after 30 s makes this pass's
      * counts partial, NOT the query a failure. */
    def drain(name: String): Unit =
      try GraftBridge.waitListenerBus(spark, 30000L)
      catch { case _: java.util.concurrent.TimeoutException =>
        System.err.println(s"[probe] $name: listener bus busy after 30 s " +
          "— listener counts for this pass may be partial")
      }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet(): Unit
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val (i, m) = (e.stageInfo, e.stageInfo.taskMetrics)
      done.synchronized(done += Stage(i.stageId,
        i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
        m.executorRunTime, m.executorCpuTime / 1000000, i.numTasks)): Unit
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith("graft.cap.")) {
          if (!row.isNullAt(0)) capRows.addAndGet(row.getLong(0))
          if (!row.isNullAt(1)) capMax.getAndUpdate(math.max(_, row.getLong(1)))
        }
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Run every (or each named) query cold, appending one JSON line per
    * query as it completes: a JVM death mid-sweep loses nothing, and a
    * restart SKIPS recorded queries. `sec` = wall (min over passes);
    * `zone_sec` = the first pass's [[Scratch]] zone builds (every
    * memoized zone, the per-dir ones like q86's events-by-day
    * included), so shared builds separate from a query's own cost;
    * `compiles` = the generated classes its passes compiled, so a
    * class recompiled after an earlier query's compile shows up;
    * `overcap_rows` (summed over observe nodes, max over passes) and
    * `max_bucket` appear when a `graft.cap.*` metric fired; a failure
    * is `err` + that pass's wall.
    * `<results>.inflight` holds ONLY the query in flight (truncate-
    * written, cleared after its line, deleted on completion): non-empty
    * at startup means the JVM died inside it, recorded as a failure and
    * skipped, or re-run with `--retry-inflight` (after a Ctrl-C, which
    * the marker cannot tell from an OOM death). */
  private def sweep(session: () => SparkSession, dir: String, out: Path,
                    only: Set[String], passes: Int,
                    retryInflight: Boolean): Unit = {
    val marker = Paths.get(s"$out.inflight")
    def lines(p: Path): Seq[String] =
      if (Files.exists(p)) Files.readString(p, UTF_8).linesIterator.toList else Nil
    def write(p: Path, s: String, mode: Opt): Unit = {
      Files.write(p, s.getBytes(UTF_8), Opt.CREATE, Opt.WRITE, mode); ()
    }
    def append(line: String): Unit = write(out, line + "\n", Opt.APPEND)
    def setMarker(name: String): Unit = write(marker, name, Opt.TRUNCATE_EXISTING)
    val done = lines(out)
      .flatMap(l => "\"name\":\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1)))
      .toSet
    val crashed = lines(marker).map(_.trim).filter(_.nonEmpty).toSet -- done
    if (!retryInflight) crashed.foreach { n =>
      append(s"""{"name":"$n","sec":-1.0,"zone_sec":0.0,"err":"jvm died (inflight marker)"}""")
    }
    setMarker("")

    val spark = session()
    val rec = new Recorder(spark)
    val recorded = if (retryInflight) done else done ++ crashed
    val todo = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => !recorded(n) && (only.isEmpty || only(n)) }
    System.err.println(s"[sweep] ${todo.size} to run, ${recorded.size} already recorded, dir=$dir")
    for (((name, fn), i) <- todo.zipWithIndex) {
      setMarker(name)
      val z0 = Scratch.buildSeconds
      val c0 = Compiles.now()
      var (best, zoneSec, oc, ocMax) = (Double.MaxValue, 0.0, 0L, 0L)
      var err: Option[(Throwable, Double)] = None
      for (pass <- 1 to passes if err.isEmpty) { // stop at the first failure
        rec.reset()
        timed(try { fn(spark, dir).write.format("noop").mode("overwrite").save(); None }
              catch { case e: Throwable => Some(e) }) match {
          case (Some(e), sec) => err = Some((e, sec))
          case (None, sec) =>
            if (pass == 1) zoneSec = Scratch.buildSeconds - z0
            best = math.min(best, sec)
            rec.drain(name)
            oc = math.max(oc, rec.capRows.get())
            ocMax = math.max(ocMax, rec.capMax.get())
        }
      }
      val compiles = (Compiles.now() - c0).count
      val line = err match {
        case Some((e, sec)) =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\n\r\t]", " ").take(300)
          f"""{"name":"$name","sec":$sec%.1f,"zone_sec":${Scratch.buildSeconds - z0}%.1f,"compiles":$compiles,"err":"$msg"}"""
        case None =>
          val pss = if (passes > 1) s""","passes":$passes""" else ""
          val cap = if (oc > 0 || ocMax > 0) s""","overcap_rows":$oc,"max_bucket":$ocMax""" else ""
          f"""{"name":"$name","sec":$best%.1f,"zone_sec":$zoneSec%.1f,"compiles":$compiles$pss$cap}"""
      }
      append(line)
      setMarker("") // clean exit for this query — crash window closed
      System.err.println(s"[sweep] ${i + 1}/${todo.size} $line")
      // shuffle files go only when the driver GC collects their
      // ShuffleDependency: the backlog once filled the disk after 49
      // queries, so collect now, not at the 30-min periodic GC
      System.gc()
    }
    spark.stop()
    Files.deleteIfExists(marker) // even empty, it reads as "running"
    System.err.println("[sweep] COMPLETE")
  }

  private val Wanted = Set("number of output rows", "shuffle bytes written", "data size",
    "spill size", "number of files read", "peak memory", "time to broadcast")

  /** AQE wraps materialized stages; the subtree hangs off `.plan`. */
  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => finalPlan(a.executedPlan)
    case q: QueryStageExec => finalPlan(q.plan)
    case other => other
  }

  /** Each operator's nonzero measured metrics (a ReusedExchange is a leaf). */
  private def walk(p: SparkPlan, depth: Int): Unit = {
    val metrics = p.metrics.toSeq
      .map { case (key, m) => (m.name.getOrElse(key), m.value) }
      .filter { case (n, v) => Wanted(n) && v > 0 }
      .sortBy(_._1)
      .map { case (n, v) =>
        if (Seq("size", "bytes", "memory").exists(n.contains))
          f"$n=${v / 1024.0 / 1024.0}%.2f MiB"
        else s"$n=$v"
      }
    println("  " * depth + p.nodeName +
      (if (metrics.isEmpty) "" else metrics.mkString("  [", ", ", "]")))
    p.children.foreach(c => walk(finalPlan(c), depth + 1))
  }
}
