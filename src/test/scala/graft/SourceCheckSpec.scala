package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.util.Sessions

/** One session builder, one cpu source: outside `util/Sessions.scala`
  * no main or test source may build a SparkSession or read the cpu
  * env var, so every entry point, tool and suite plans under the conf
  * that the bench times. One loop policy: outside
  * `util/Checkpoints.scala` no main source gates AQE or frees a
  * checkpoint, so every round-materializing loop goes through
  * `Checkpoints.iterate`. One zone store: outside `util/Scratch.scala`
  * no main source picks a temp location, and outside
  * `SparkSpec.tempDir` no test creates a temp dir. One parquet read:
  * outside `Tables.scala` no main source reads parquet the plain way,
  * so every such read reuses `Tables.read`'s inferred schema. One
  * declared session: nothing installs a function, rule, strategy,
  * listener or conf into a live session, so every session carries
  * what `Sessions.build` declared and nothing a call path added. One
  * epoch store: outside `sinks/SwapPublish.scala` no main source spells
  * the `<dir>/epoch=N` layout or its staging and backup siblings, so
  * every epoch-keeping module lists, reads, publishes, squashes and
  * fences through it. One connected-components operator: the one
  * union-find in `src/main` is `Dedup.connectedComponents`' driver
  * branch, so no caller keeps a private small-graph fold. One root:
  * outside `util/Checkpoints.scala` no main source calls
  * `.localCheckpoint(` or `.checkpoint(`, so every in-query, loop and
  * per-batch root honours the durability dial. One def per zone: each
  * `Scratch.memo`/`memoZone` name (an interpolated name by its literal
  * prefix) is spelled at exactly one call site in `src/main`, so no
  * memo key can be built by two bodies. One codegen policy: outside
  * `util/Sessions.scala` no main source names a `spark.sql.codegen.`
  * conf, so the generated-class cache is sized once, for every
  * session. One record per query: no main source holds a query or
  * oracle map literal, so each query's run and oracle are one
  * `Query` record and cannot drift apart. */
class SourceCheckSpec extends SparkSpec {
  private val root = Paths.get(sys.props("user.dir"))
  private val sessions = root.resolve("src/main/scala/graft/util/Sessions.scala")
  private val checkpoints =
    root.resolve("src/main/scala/graft/util/Checkpoints.scala")
  private val scratch = root.resolve("src/main/scala/graft/util/Scratch.scala")
  private val sparkSpec = root.resolve("src/test/scala/graft/SparkSpec.scala")
  private val tables = root.resolve("src/main/scala/graft/Tables.scala")
  // this spec names every pattern it checks, so it is exempt from all
  private val self = root.resolve("src/test/scala/graft/SourceCheckSpec.scala")

  private lazy val sources: Seq[Path] = Seq("src/main", "src/test").flatMap { d =>
    val s = Files.walk(root.resolve(d))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private def offenders(needle: String): Seq[String] =
    sources.filterNot(p => p == sessions || p == self)
      .filter(p => Files.readString(p).contains(needle))
      .map(root.relativize(_).toString)

  test("sources are found, Sessions and this spec among them") {
    assert(Seq(sessions, checkpoints, scratch, sparkSpec, tables, self)
      .forall(sources.contains))
  }

  test("SparkSession.builder appears only in util/Sessions.scala") {
    val bad = offenders("SparkSession.builder")
    assert(bad.isEmpty, s"build sessions through Sessions.build: $bad")
  }

  test("SPARK_GRAFT_CPUS is read only in util/Sessions.scala") {
    val bad = offenders("SPARK_GRAFT_CPUS")
    assert(bad.isEmpty, s"take the cpu count from Sessions.cpus: $bad")
  }

  test("withAqeOff and Checkpoints.free appear in src/main only in util/Checkpoints.scala") {
    val main = root.resolve("src/main")
    val bad = for {
      needle <- Seq("withAqeOff", "Checkpoints.free")
      p <- sources
      if p.startsWith(main) && p != checkpoints &&
        Files.readString(p).contains(needle)
    } yield s"${root.relativize(p)}: $needle"
    assert(bad.isEmpty, s"run the loop through Checkpoints.iterate: $bad")
  }

  test(".localCheckpoint( and .checkpoint( appear in src/main only in util/Checkpoints.scala") {
    val main = root.resolve("src/main")
    val bad = for {
      needle <- Seq(".localCheckpoint(", ".checkpoint(")
      p <- sources
      if p.startsWith(main) && p != checkpoints &&
        Files.readString(p).contains(needle)
    } yield s"${root.relativize(p)}: $needle"
    assert(bad.isEmpty, s"root through Checkpoints.root or scoped: $bad")
    assert(Files.readString(checkpoints).contains(".localCheckpoint("))
  }

  test("every Scratch.memo/memoZone name is spelled at one call site in src/main") {
    val main = root.resolve("src/main")
    val call = """Scratch\.memo(?:Zone)?\(\s*[^,()]+,\s*s?"([^"$]*)""".r
    val sites = for {
      p <- sources if p.startsWith(main)
      m <- call.findAllMatchIn(Files.readString(p))
    } yield m.group(1) -> root.relativize(p).toString
    val byName = sites.groupBy(_._1)
    assert(Seq("span-tokens", "pair-bands", "shingles-").forall(byName.contains),
      s"the call pattern must find the engine's memo sites: ${byName.keySet}")
    val dup = byName.collect { case (n, at) if at.size > 1 => s"$n: ${at.map(_._2)}" }
    assert(dup.isEmpty, s"define each shared zone in one def: $dup")
  }

  test("the union-find def find( appears in src/main only in Dedup.connectedComponents") {
    val main = root.resolve("src/main")
    val dedup = main.resolve("scala/graft/dedup/Dedup.scala")
    val bad = sources
      .filter(p => p.startsWith(main) && p != dedup &&
        Files.readString(p).contains("def find("))
      .map(root.relativize(_).toString)
    assert(bad.isEmpty, s"label small graphs through connectedComponents: $bad")
    val text = Files.readString(dedup)
    val start = text.indexOf("private[graft] def connectedComponents(")
    val end = text.indexOf("\n  /**", start)
    val at = text.indexOf("def find(")
    assert(start >= 0 && at > start && at < end &&
      text.indexOf("def find(", at + 1) < 0,
      "Dedup.scala's one def find( must sit in connectedComponents")
  }

  test("temp locations in src/main come only from util/Scratch.scala") {
    val main = root.resolve("src/main")
    val examples = main.resolve("scala/graft/examples")
    val bad = for {
      p <- sources if p.startsWith(main) && p != scratch
      needle <- "java.io.tmpdir" +:
        (if (p.startsWith(examples)) Nil else Seq("createTempDirectory"))
      if Files.readString(p).contains(needle)
    } yield s"${root.relativize(p)}: $needle"
    assert(bad.isEmpty, s"allocate engine-owned dirs through Scratch.zone: $bad")
  }

  test("createTempDirectory appears in src/test only in SparkSpec.tempDir") {
    val test = root.resolve("src/test")
    val bad = sources
      .filter(p => p.startsWith(test) && p != sparkSpec && p != self &&
        Files.readString(p).contains("createTempDirectory"))
      .map(root.relativize(_).toString)
    assert(bad.isEmpty, s"take test dirs from SparkSpec.tempDir: $bad")
  }

  test("the plain .read.parquet( appears in src/main only in Tables.scala") {
    val main = root.resolve("src/main/scala/graft")
    val exempt = Seq("examples", "tools").map(main.resolve)
    val plain = """\.read\s*\.parquet\(""".r
    val bad = sources
      .filter(p => p.startsWith(main) && p != tables &&
        !exempt.exists(p.startsWith) &&
        plain.findFirstIn(Files.readString(p)).isDefined)
      .map(root.relativize(_).toString)
    assert(bad.isEmpty, s"read parquet through Tables.read: $bad")
  }

  test("no source installs a function, rule or strategy into a live session") {
    val bad = for {
      needle <- Seq("registerFunction", "extraStrategies", "extraOptimizations",
        "experimental.extra", "GraftFunctions.register", "DotFusion.install",
        "TopK.install", "registerCapListener")
      p <- sources if p != self && Files.readString(p).contains(needle)
    } yield s"${root.relativize(p)}: $needle"
    assert(bad.isEmpty, s"declare extensions in Sessions.confFor: $bad")
  }

  test("listenerManager.register appears only in tools/Probe.scala; " +
    "a session conf.set( in src/main only there and in util/Checkpoints.scala") {
    val probe = root.resolve("src/main/scala/graft/tools/Probe.scala")
    val bad = for {
      (needle, scope, allowed) <- Seq(
        ("listenerManager.register", root.resolve("src"), Seq(probe)),
        ("conf.set(", root.resolve("src/main"), Seq(probe, checkpoints)))
      p <- sources
      if p.startsWith(scope) && p != self && !allowed.contains(p) &&
        Files.readString(p).contains(needle)
    } yield s"${root.relativize(p)}: $needle"
    assert(bad.isEmpty, s"declare listeners and confs in Sessions.confFor: $bad")
    assert(Files.readString(probe).contains("listenerManager.register"))
  }

  test("spark.sql.codegen. appears in src/main only in util/Sessions.scala") {
    val main = root.resolve("src/main")
    val bad = sources
      .filter(p => p.startsWith(main) && p != sessions &&
        Files.readString(p).contains("spark.sql.codegen."))
      .map(root.relativize(_).toString)
    assert(bad.isEmpty, s"declare codegen confs in Sessions.confFor: $bad")
    assert(Files.readString(sessions).contains("spark.sql.codegen."))
  }

  test("the epoch layout is spelled in src/main only in sinks/SwapPublish.scala") {
    val main = root.resolve("src/main")
    val store = main.resolve("scala/graft/sinks/SwapPublish.scala")
    val bad = for {
      p <- sources if p.startsWith(main) && p != store
      needle <- Seq("epoch=$", "\"epoch=\"", ".staging-$", ".backup-$")
      if Files.readString(p).contains(needle)
    } yield s"${root.relativize(p)}: $needle"
    assert(bad.isEmpty, s"go through the SwapPublish epoch store: $bad")
    assert(Files.readString(store).contains(".backup-$"))
  }

  test("no query or oracle map literal in src/main: modules list Query records") {
    val main = root.resolve("src/main")
    val entry = main.resolve("scala/graft/SparkEntry.scala")
    val bad = for {
      p <- sources if p.startsWith(main)
      needle <- Seq("DataFrame] = Map(", "val oracle: Map", "val queries: Map")
      // SparkEntry.scala derives the two views from the records
      if (p != entry || needle.endsWith("Map(")) && Files.readString(p).contains(needle)
    } yield s"${root.relativize(p)}: $needle"
    assert(bad.isEmpty, s"list one Query(name, run, oracle) per query: $bad")
    assert(Files.readString(entry).contains("val oracle: Map"))
  }

  test("Sessions.cpus honours SPARK_GRAFT_CPUS, else the processor count") {
    val procs = Runtime.getRuntime.availableProcessors
    assert(Sessions.cpusFrom(Some("3")) === 3)
    assert(Sessions.cpusFrom(Some(" 6 ")) === 6)
    assert(Sessions.cpusFrom(None) === procs)
    assert(Sessions.cpusFrom(Some("")) === procs)
    assert(Sessions.cpus === sys.env.get("SPARK_GRAFT_CPUS").map(_.trim)
      .filter(_.nonEmpty).map(_.toInt)
      .getOrElse(procs))
  }

  test("the test session is the production one: Sessions.build at Sessions.cpus") {
    assert(spark.sparkContext.master === s"local[${Sessions.cpus}]")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst")
      === "false")
  }
}
