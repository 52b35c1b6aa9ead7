package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.util.{Scratch, Sessions}

/** JVM side of one benchmark run: build the production session, run the
  * workload's untimed warm-up if it has one, then `--passes` measured
  * passes, each starting with no zones.
  * With `--trace 1` the passes are traced. Spans go to `spans.jsonl` and
  * everything else to `result.json` under `--work`; checking the answers
  * is left to the caller.
  *
  * Usage: perfbench.Main --workload <elt_taxi|curate_corpus|dash_mix>
  *   --data <dir> --work <dir> --passes <n> --trace <0|1> --cpus <n>
  *   [--requests <n>]
  */
object Main {
  private def ready(spark: SparkSession): Unit = { spark.range(1).count(); () }

  private def load1(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
      .split("\n").find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Largest heap in use right after a collection, over the run, in MiB:
    * closer to the data the program keeps live than the resident set,
    * which follows the size the collector chose for the heap. */
  private object HeapAfterGc {
    import java.lang.management.ManagementFactory
    import javax.management.NotificationEmitter
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    import scala.jdk.CollectionConverters._

    @volatile var peakMb = 0.0

    def install(): Unit = {
      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
        gc.asInstanceOf[NotificationEmitter].addNotificationListener((n, _) => {
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val after = GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo.getMemoryUsageAfterGc.asScala
            val used = after.collect { case (p, u) if heap(p) => u.getUsed }.sum / 1048576.0
            synchronized { peakMb = math.max(peakMb, used) }
          }
        }, null, null)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    HeapAfterGc.install()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val work = Paths.get(opt("work"))
    val passes = opt("passes").toInt
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val loadBefore = load1()

    // every run starts cold: its own tmpdir, and no oncePerDir zone in it
    val zoneRoot = Paths.get(System.getProperty("java.io.tmpdir"), "graft_zone_v2")
    require(Tracer.zoneCount(zoneRoot) == 0, s"zone root $zoneRoot is not empty")

    // set-up: process start to a session that ran a job; the session
    // build alone is its per-layer part
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val ts = System.nanoTime()
    val spark = Sessions.build(data, cpus)
    ready(spark)
    val sessionS = (System.nanoTime() - ts) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    spark.conf.set(Scratch.DirKey, work.resolve("scratch").toString)
    val tracer = new Tracer(spark.sparkContext, zoneRoot, cpus)
    val env = new Env(spark, data, work, zoneRoot, tracer)
    val wl: Workload = workload match {
      case "elt_taxi"      => new EltTaxi(env)
      case "curate_corpus" => new CurateCorpus(env)
      case "dash_mix" =>
        val pool = DashMix.pool
        Files.writeString(work.resolve("pool.json"), Json.write(pool))
        val ranked = DashMix.ranked(pool.keys)
        new DashMix(env, ranked, DashMix.sequence(ranked, opt("requests").toInt))
      case other => sys.error(s"unknown workload $other")
    }

    // a long-lived workload warms the JVM, then drops the zones it
    // built: measured passes pay for their own
    wl.warmup()
    env.resetZones()

    val results = mutable.ArrayBuffer[Map[String, Any]]()
    for (b <- 0 until passes) {
      if (traced) tracer.start()
      val o0 = tracer.overheadS
      val t0 = System.nanoTime()
      val u0 = env.untimedTotal
      val answers = tracer.span("bench.pass", block = b)(wl.pass(b))
      val wall = (System.nanoTime() - t0 - (env.untimedTotal - u0)) / 1e9
      if (traced) tracer.stop()
      val zoneDirs = Tracer.zoneCount(zoneRoot)
      env.resetZones()
      results += Map("block" -> b, "wall_s" -> wall,
        "trace_overhead_s" -> (tracer.overheadS - o0),
        "zone_dirs" -> zoneDirs, "answers" -> answers)
    }
    tracer.write(work.resolve("spans.jsonl"))

    val parts = Sessions.confFor(data, cpus)("spark.sql.shuffle.partitions")
    val out = Map(
      "workload" -> workload, "cpus" -> cpus, "partitions" -> parts.toInt,
      "setup_s" -> setupS, "session_s" -> sessionS,
      "ops_per_pass" -> wl.opsPerPass, "passes" -> results,
      "setup_answers" -> wl.setupAnswers,
      "peak_rss_mb" -> peakRssMb(), "peak_heap_mb" -> HeapAfterGc.peakMb,
      "load1_before" -> loadBefore, "load1_after" -> load1())
    Files.writeString(work.resolve("result.json"), Json.write(out))
    spark.stop()
  }
}
