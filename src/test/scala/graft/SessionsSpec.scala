package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.util.Sessions

/** Pins the shared shuffle-sizing policy (round-8 judge item #2:
  * "codify the shuffle-partition rule in code, not env var"). The
  * derived values below are the ones the sf1/sf10 probes MEASURED as
  * good (PLANS.md sf10 sections) — a drift here silently changes the
  * scale story of every probe and bench run.
  */
class SessionsSpec extends AnyFunSuite {
  private val MiB = 1L << 20

  test("floor: small inputs use the cpu count (power-of-two rounded)") {
    assert(Sessions.partitionsForBytes(0L, 32) === 32)
    assert(Sessions.partitionsForBytes(18 * MiB, 32) === 32) // ~sf0.1
    assert(Sessions.partitionsForBytes(2 * MiB, 4) === 4)    // ~sf0.01
  }

  test("scale: sf1-sized dir derives 128, sf10-sized derives 1024") {
    // target/sf1 ≈ 189 MB compressed → 91 raw → 128;
    // target/sf10 ≈ 1.88 GB compressed → 897 raw → 1024 (the setting
    // every sf10 probe ran at).
    assert(Sessions.partitionsForBytes(189230187L, 32) === 128)
    assert(Sessions.partitionsForBytes(1880312139L, 32) === 1024)
  }

  test("cap: partition count never exceeds 4096") {
    assert(Sessions.partitionsForBytes(100L * 1024 * MiB, 32) === 4096)
  }

  test("monotone in bytes, floor respected at every size") {
    val sizes = Seq(0L, MiB, 64 * MiB, 512 * MiB, 8192 * MiB)
    val parts = sizes.map(Sessions.partitionsForBytes(_, 32))
    assert(parts === parts.sorted)
    assert(parts.forall(_ >= 32))
    // all powers of two
    assert(parts.forall(p => Integer.bitCount(p) == 1))
  }

  test("conf: AQE coalescing enabled with initialPartitionNum = derived") {
    val conf = Sessions.confFor("/nonexistent-dir", 32)
    assert(conf("spark.sql.adaptive.enabled") === "true")
    assert(conf("spark.sql.adaptive.coalescePartitions.enabled") === "true")
    assert(conf("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      === conf("spark.sql.shuffle.partitions"))
    assert(conf("spark.sql.shuffle.partitions") === "32")
  }

  test("conf: coalescing cannot undo the partitions dial (round-9 " +
    "sf10 find — parallelismFirst would re-create the 32-partition " +
    "aggregation shape the dial exists to prevent)") {
    val conf = Sessions.confFor("/nonexistent-dir", 32)
    assert(conf("spark.sql.adaptive.coalescePartitions.parallelismFirst")
      === "false")
    // advisory target = the same 2 MiB the input-bytes rule uses
    assert(conf("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      === (2L << 20).toString)
  }

  test("conf: every session declares the engine's extension, the cap " +
    "listener and nanosAsLong at build, as fixed values") {
    val conf = Sessions.confFor("/nonexistent-dir", 32)
    assert(conf("spark.sql.extensions") === "graft.functions.GraftExtensions")
    assert(conf("spark.sql.queryExecutionListeners") === "graft.util.CapListener")
    assert(conf("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("conf: every session sizes the generated-class cache to the " +
    "query registry and names whole-stage classes by their code, as " +
    "fixed values") {
    val conf = Sessions.confFor("/nonexistent-dir", 32)
    assert(conf("spark.sql.codegen.cache.maxEntries") === "4096")
    assert(conf("spark.sql.codegen.useIdInClassName") === "false")
  }

  test("inputBytes sums regular files recursively") {
    val dir = SparkSpec.tempDir("sessions-spec")
    val sub = java.nio.file.Files.createDirectory(dir.resolve("t.parquet"))
    java.nio.file.Files.write(sub.resolve("part-0"), new Array[Byte](1000))
    java.nio.file.Files.write(dir.resolve("x"), new Array[Byte](24))
    assert(Sessions.inputBytes(dir.toString) === 1024L)
    assert(Sessions.inputBytes(dir.resolve("missing").toString) === 0L)
  }
}
