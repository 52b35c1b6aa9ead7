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
  * every epoch-keeping module lists, writes and publishes through it. One connected-components operator: the one
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
  * `Query` record and cannot drift apart. No surface without a
  * caller: every public member of `src/main` is named somewhere in
  * `src/main` or `perfbench/src` outside its own declaration, and
  * every object is named by another of those files or has a `main`,
  * so code that only specs run is `private[graft]` (a reference or a
  * seam) or on [[SourceCheckSpec.Allowed]] with its reason. */
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

  /** `text` with comments blanked (strings kept, so an interpolated
    * name counts as a use); with `blankStrings` string literals are
    * blanked too. Blanking keeps every newline, so lines stay lines. */
  private def stripped(text: String, blankStrings: Boolean): String = {
    val out = new StringBuilder(text.length)
    def blank(from: Int, to: Int): Unit =
      (from until to).foreach(k => out += (if (text(k) == '\n') '\n' else ' '))
    var i = 0
    while (i < text.length) {
      if (text.startsWith("//", i)) {
        val j = { val n = text.indexOf('\n', i); if (n < 0) text.length else n }
        blank(i, j); i = j
      } else if (text.startsWith("/*", i)) {
        var depth = 1; var j = i + 2
        while (j < text.length && depth > 0) {
          if (text.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (text.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(i, j); i = j
      } else if (text.startsWith("\"\"\"", i)) {
        var j = text.indexOf("\"\"\"", i + 3)
        j = if (j < 0) text.length else j + 3
        while (j < text.length && text(j) == '"') j += 1
        if (blankStrings) blank(i, j) else out ++= text.substring(i, j)
        i = j
      } else if (text(i) == '"') {
        var j = i + 1
        while (j < text.length && text(j) != '"' && text(j) != '\n')
          j += (if (text(j) == '\\') 2 else 1)
        j = math.min(j + 1, text.length)
        if (blankStrings) blank(i, j) else out ++= text.substring(i, j)
        i = j
      } else if (text(i) == '\'' && i + 2 < text.length &&
          (text(i + 2) == '\'' || text(i + 1) == '\\')) {
        val j = text.indexOf('\'', i + 2) + 1
        blank(i, j); i = j
      } else { out += text(i); i += 1 }
    }
    out.toString
  }

  /** Every program source (`src/main`, `perfbench/src`), comments
    * blanked. */
  private lazy val program: Seq[(Path, String)] =
    Seq("src/main", "perfbench/src").flatMap { d =>
      val s = Files.walk(root.resolve(d))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }.map(p => p -> stripped(Files.readString(p), blankStrings = false))

  private val ident = """[A-Za-z_][A-Za-z0-9_]*""".r

  private lazy val tokenCounts: Map[String, Int] =
    program.flatMap { case (_, t) => ident.findAllIn(t) }
      .groupBy(identity).map { case (k, v) => k -> v.size }

  private lazy val fileTokens: Seq[(Path, Set[String])] =
    program.map { case (p, t) => p -> ident.findAllIn(t).toSet }

  /** Public member-level `def`/`val`/`var`s of `src/main`, as
    * (top-level owner, member): declared at the two-space indent of a
    * column-0 object, class or trait, with no `private`, `protected`
    * or `override` modifier. */
  private lazy val publicMembers: Seq[(String, String)] = {
    val owner = """^(?:(?:final|case|sealed|abstract|private\S*)\s+)*(?:object|class|trait)\s+(\w+)""".r
    val member = """^  ((?:\w+(?:\[\w+\])?\s+)*)(?:def|val|var)\s+([A-Za-z_][A-Za-z0-9_]*)""".r
    for {
      (p, _) <- program if p.startsWith(root.resolve("src/main"))
      code = stripped(Files.readString(p), blankStrings = true)
      (o, m) <- code.linesIterator.foldLeft(
          (Option.empty[String], List.empty[(String, String)])) {
        case ((cur, acc), line) => line match {
          case owner.unanchored(n) => (Some(n), acc)
          case member.unanchored(mods, n)
              if !mods.split("\\s+").exists(x =>
                x.startsWith("private") || x.startsWith("protected") ||
                  x == "override") && n != "main" =>
            (cur, cur.map(o => (o, n) :: acc).getOrElse(acc))
          case _ => (cur, acc)
        }
      }._2.reverse
    } yield (o, m)
  }

  /** Top-level, non-private objects of `src/main` with their files. */
  private lazy val objects: Seq[(Path, String)] = {
    val obj = """(?m)^(?:(?:final|case)\s+)*object\s+(\w+)""".r
    for {
      (p, _) <- program if p.startsWith(root.resolve("src/main"))
      m <- obj.findAllMatchIn(stripped(Files.readString(p), blankStrings = true))
    } yield p -> m.group(1)
  }

  test("the surface scan finds the engine's members and objects") {
    assert(publicMembers.contains(("Streams", "fileStream")) &&
      publicMembers.contains(("SparkEntry", "queries")) &&
      publicMembers.contains(("Warehouse", "jdbcWriter")),
      s"member scan: ${publicMembers.take(20)}")
    assert(!publicMembers.exists(_._2 == "holds"),
      "private[graft] members are not public surface")
    assert(Seq("Streams", "SparkEntry", "Warehouse", "Dedup")
      .forall(objects.map(_._2).contains), s"object scan: $objects")
    // the allowlist names only what is still declared
    val declared = publicMembers.map { case (o, m) => s"$o.$m" }.toSet ++
      objects.map(_._2)
    val stale = SourceCheckSpec.Allowed.keySet.diff(declared)
    assert(stale.isEmpty, s"allowlist entries no longer declared: $stale")
  }

  test("every public member of src/main is named outside its declaration") {
    val bad = publicMembers.filter { case (o, m) =>
      tokenCounts.getOrElse(m, 0) < 2 &&
        !SourceCheckSpec.Allowed.contains(s"$o.$m")
    }.map { case (o, m) => s"$o.$m" }
    assert(bad.isEmpty, "public members no program code names (delete " +
      s"them, or make a spec's reference or seam private[graft]): $bad")
  }

  test("every object in src/main is named by another file or has a main") {
    val bad = objects.filter { case (p, o) =>
      !fileTokens.exists { case (q, ts) => q != p && ts.contains(o) } &&
        !Files.readString(p).contains("def main(") &&
        !SourceCheckSpec.Allowed.contains(o)
    }.map { case (p, o) => s"${root.relativize(p)}: $o" }
    assert(bad.isEmpty, s"objects only specs run: $bad")
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

object SourceCheckSpec {

  /** Public surface with no caller in the program, kept on purpose. */
  val Allowed: Map[String, String] = Map(
    "Warehouse" -> "SURVEY S4/S5/S8/C4/C5: the reference's warehouse edges",
    "Warehouse.tableStats" -> "SURVEY C5: table health (files, bytes, rows)",
    "Warehouse.describeTable" -> "SURVEY S5: catalog introspection",
    "Warehouse.executeScript" -> "SURVEY S8: multi-statement SQL execution",
    "Warehouse.probe" -> "SURVEY C4: the SELECT 1 connectivity probe",
    "Warehouse.jdbcWriter" -> "SURVEY S4: the JDBC warehouse sink",
    "XxHash64" -> "the production DedupHash, Dedup's default `hash` argument",
    // warehouse layout and ingest edges a deployment calls around the
    // pipeline (COVERAGE §2.8 and the extension table); no query uses
    // them, each is pinned by its own suite
    "Bucketing" -> "layout edge: bucketed co-located join (BucketingSpec)",
    "Bucketing.writeBucketed" -> "layout edge: the bucketBy+sortBy write",
    "Bucketing.coLocatedJoin" -> "layout edge: the shuffle-free equi-join",
    "Compact" -> "layout edge: small-file compaction (CompactSpec)",
    "ZOrder" -> "layout edge: z-order clustering write (ZOrderSpec)",
    "IncrementalAgg" -> "view edge: mergeable aggregate refresh (IncrementalAggSpec)",
    "KafkaShaped" -> "ingest edge: Kafka-shaped source and exactly-once sink (KafkaShapedSpec)",
    "KafkaShaped.WireSchema" -> "ingest edge: the Kafka source's wire schema",
    "KafkaShaped.deadLetterSplit" -> "ingest edge: decode with dead-letter routing",
    "KafkaShaped.simulatedTopic" -> "ingest edge: the file-backed topic",
    "ImageCodec.encodePng" -> "codec edge: lossless PNG write, decode's inverse (ImageCodecSpec)",
    "SkewJoin.recommendSalt" -> "operator advice: the measured salting regime map (SkewStressSpec)")
}
