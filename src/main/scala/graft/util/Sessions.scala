package graft.util

import org.apache.spark.sql.SparkSession

/** One shuffle-sizing policy for every entry point (gate, bench, scale
  * probes) — partition count derives from the INPUT BYTES of the data
  * directory, not from an env var someone must remember per scale.
  *
  * The rule is the one the sf10 probes measured (PLANS.md sf10
  * sections): per-task aggregation/join state shrinks with partition
  * count, so a 100× data step is absorbed by the partitions dial at
  * the DEFAULT heap — never by -Xmx (q138's zone build: OOM at 8 GB/32
  * partitions, 322 s at 8 GB/256 partitions, no code change).
  * Compressed-parquet bytes are the proxy: ~2 MiB compressed ≈
  * 20–60 MiB of in-flight row state per task, which fits default heaps
  * with headroom. Floor = cpu count (small SFs keep every core busy);
  * cap = 4096 (beyond that task-launch overhead dominates at any
  * realistic executor count). Rounded up to a power of two so derived
  * values are stable across minor size drift: sf10 → 1024 (the
  * measured-good probe setting), sf1 → 128, sf0.1/sf0.01 → cpus.
  *
  * AQE runs with coalescing enabled and initialPartitionNum = the
  * derived count: undersized shuffles coalesce back down at runtime,
  * so the high initial number costs nothing on small stages. This is
  * the conf a cluster deployment ships — initialPartitionNum from scan
  * stats, AQE trims — expressed once here instead of per-main.
  * SPARK_GRAFT_SHUFFLE remains honored as an explicit experiment
  * override.
  *
  * An iterative loop's per-round width and its single-partition AQE
  * gate are loop policy, not session policy: they live with the loop
  * combinator ([[Checkpoints.iterate]], [[Checkpoints.partsForRows]]).
  */
object Sessions {

  /** Sum of regular-file sizes under dir (compressed parquet bytes).
    * 0 for a missing dir — the floor then applies. */
  def inputBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  private[util] val TargetBytesPerPartition = 2L << 20 // 2 MiB compressed

  private def nextPow2(n: Int): Int =
    if (n <= 1) 1 else Integer.highestOneBit(n - 1) << 1

  /** bytes/2MiB, floored at cpus, capped at 4096, rounded up to a
    * power of two. Pure given the byte count — spec-pinned. */
  def partitionsForBytes(bytes: Long, cpus: Int): Int = {
    val raw = math.max(cpus.toLong, bytes / TargetBytesPerPartition + 1)
    nextPow2(math.min(raw, 4096L).toInt)
  }

  def derivedPartitions(dir: String, cpus: Int): Int = {
    val env = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.trim).filter(_.nonEmpty)
    env.map(_.toInt).getOrElse(partitionsForBytes(inputBytes(dir), cpus))
  }

  /** Spread a CPU-heavy derivation across cores when the backing
    * scan cannot (r14). The gate tables are written as ONE parquet
    * row group per file, and a row group is Spark's atomic scan
    * unit — so every first stage (the q284/q308 ×11 melt, the text
    * family's tokenize+hash) ran on ONE core while 31 idled
    * (measured: q308's melt stage wall 5.2 s ≈ its single real
    * task). One round-robin repartition moves the raw rows once and
    * the per-row work runs at the derived width. Scale-guarded: at
    * dir sizes past cpus × 128 MiB a byte-proportional scan fills
    * every core by itself (many row groups), the extra full-input
    * shuffle would be pure waste, and the df passes through
    * untouched — the dial is the data size, not the deployment. */
  def spreadScan(s: SparkSession, dir: String,
                 df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cpus = s.sparkContext.defaultParallelism
    if (inputBytes(dir) < cpus.toLong * (128L << 20))
      df.repartition(cpus)
    else df
  }

  // (r14 note: a derived spark.sql.files.maxPartitionBytes /
  // openCostInBytes dial was measured and REVERTED — the gate tables
  // are one parquet ROW GROUP per file, Spark's atomic scan unit, so
  // smaller splits only mint empty tasks; scan-side parallelism for
  // CPU-heavy derivations comes from [[spreadScan]] instead.)

  /** The exact conf map `build` applies — factored out so specs pin
    * the policy without fighting getOrCreate session reuse.
    *
    * Coalescing must NOT undo the partitions dial (the round-9 sf10
    * find): with Spark's default `parallelismFirst = true`, AQE
    * ignores the advisory size and coalesces any stage whose total
    * shuffle bytes < cpus × 64 MiB down toward the cpu count — which
    * re-created the measured-bad 32-partition aggregation shape at
    * runtime and OOM'd q138's zone build at sf10 (671 s then
    * UNABLE_TO_ACQUIRE_MEMORY) despite the derived 1024. The dial
    * exists because per-task AGGREGATION STATE, not shuffle-read
    * bytes, is what outgrows the heap — a 2 MiB compressed shuffle
    * slice can expand to 20–60 MiB of hash-map state. So:
    * parallelismFirst = false and the advisory target = the same
    * 2 MiB the input-bytes rule uses; undersized stages still
    * coalesce (floor = 1 MiB default minPartitionSize), state-heavy
    * stages keep their partitions.
    *
    * The last three entries declare what every session of the app
    * carries, `newSession()` included, with nothing installed at run
    * time: the engine's functions, optimizer rule and planner strategy
    * ([[graft.functions.GraftExtensions]]), the cap-bound WARN
    * ([[CapListener]]), and nanosAsLong, so `events.ts` (INT64 nanos,
    * which Spark's reader rejects) reads as a long that
    * [[graft.Tables.load]] rebuilds as a timestamp.
    *
    * The two `spark.sql.codegen.` entries let a long-lived session
    * compile each generated class once per JVM. Spark keys its
    * generated-class cache by the code's text and sizes it once, from
    * the session conf, when the cache is first used; neither entry
    * changes the code that runs or the answers, only whether a compile
    * repeats. Measured with `graft.Bench` (two passes over the query
    * registry in one JVM) at sf0.01 on a 4-core box, all answers equal:
    *  - `cache.maxEntries=4096`: at Spark's default of 100 entries the
    *    passes compiled 7,148 then 5,924 classes, against a registry
    *    working set of ~3,500 distinct classes, so a warm session kept
    *    recompiling what it had evicted. 4096 is the next power of two
    *    above that set. With both entries: 3,523 then 16 compiles, and
    *    summed query time 106.3 → 101.4 s (pass 1) and 66.4 → 44.4 s
    *    (pass 2); `dash_mix`'s `run_s` fell 22%. The cost is memory:
    *    heap after GC 216 → 324 MB, metaspace 210 → 239 MB.
    *  - `useIdInClassName=false`: whole-stage code otherwise names its
    *    class `…Stage<N>` after its codegen-stage position, so the same
    *    pipeline at another position is new text and a new compile.
    *    With 4096 entries but ids kept, the passes compiled 4,393 then
    *    997: more distinct classes than the bound. The id stays in the
    *    code's comment. */
  def confFor(sfDir: String, cpus: Int): Map[String, String] = {
    val parts = derivedPartitions(sfDir, cpus)
    Map(
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> parts.toString,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        TargetBytesPerPartition.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.extensions" -> classOf[graft.functions.GraftExtensions].getName,
      "spark.sql.queryExecutionListeners" -> classOf[CapListener].getName,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.sql.codegen.useIdInClassName" -> "false",
    )
  }

  /** The one cpu-count source: `SPARK_GRAFT_CPUS` when set, else the
    * processors this JVM sees. */
  def cpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def cpusFrom(env: Option[String]): Int =
    env.map(_.trim).filter(_.nonEmpty).map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Build (or reuse) the local session sized for sfDir — the only
    * session builder in the program, tests and tools included, so
    * every plan and timing is taken under the conf that ships. Logs at
    * WARN: a quieter level would hide the [[CapListener]] WARN. */
  def build(sfDir: String, cpus: Int = Sessions.cpus): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    confFor(sfDir, cpus).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
