package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

import graft.SparkEntry
import graft.dedup.Dedup
import graft.ingest.CsvIngest
import graft.ops
import graft.pipeline.Pipeline
import graft.text.{CorpusStats, TextAnalysis}
import graft.util.Scratch

/** What a workload run needs: the session, its generated inputs, a
  * private work dir, the `oncePerDir` zone root and the tracer. */
final class Env(val spark: SparkSession, val data: String, val work: Path,
                val zoneRoot: Path, val tracer: Tracer) {
  def span[T](name: String, req: Int = -1)(body: => T): T =
    tracer.span(name, req)(body)

  private var untimedNs = 0L
  /** Nanoseconds spent in [[untimed]] so far. */
  def untimedTotal: Long = untimedNs

  /** Answer checks and clean-up inside a pass: kept out of its wall time
    * and traced under the `check` layer. */
  def untimed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try span(s"check.$name")(body) finally untimedNs += System.nanoTime() - t0
  }

  /** Drop every zone built so far, so the next pass pays for its own. */
  def resetZones(): Unit = {
    Scratch.clear(spark)
    Env.deleteTree(zoneRoot)
  }
}

object Env {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
}

/** One pass of a workload is its whole chain of timed calls; it returns
  * the answers the caller checks once the pass is over. */
trait Workload {
  /** Untimed set-up work of a long-lived workload (default: none). */
  def warmup(): Unit = ()
  /** Answers stored during set-up, for the caller to check. */
  def setupAnswers: Seq[Map[String, Any]] = Nil
  def pass(block: Int): Map[String, Any]
  /** Timed calls (requests) per pass. */
  def opsPerPass: Int
}

/** The reference's daily DAG: three CSV drops into the raw zone table
  * (the third one evolves its schema), the empty-input gate, the
  * cleaning transform, the observed materialize with its audit recount,
  * and the summary of the written table. */
final class EltTaxi(env: Env) extends Workload {
  private val spark = env.spark
  private val drops = (1 to 3).map(i => s"${env.data}/drop_$i.csv")
  private val table = "raw.taxi_trips_raw"
  val opsPerPass: Int = drops.size + 5

  def pass(block: Int): Map[String, Any] = {
    val root = env.work.resolve(s"elt-$block")
    val zone = root.resolve("zone").toString
    val out = root.resolve("analytics/taxi_trips_cleaned.parquet")
    val ingested = drops.map { p =>
      env.span("ingest.CsvIngest.ingest")(
        CsvIngest.ingest(spark, p, table, zone))
    }
    val raw = env.span("ingest.CsvIngest.readZoneTable")(
      CsvIngest.readZoneTable(spark, zone, table))
    val rawRows = env.span("pipeline.Pipeline.qualityGate")(
      Pipeline.qualityGate(raw, table))
    val cleaned = env.span("ops.TaxiTransform.transform")(
      ops.TaxiTransform.transform(raw))
    val written = env.span("pipeline.Pipeline.materializeObserved")(
      Pipeline.materializeObserved(spark, cleaned, out.toString, auditRecount = true))
    val summary = env.span("ops.TaxiTransform.summary")(
      ops.TaxiTransform.summary(spark.read.parquet(out.toString)).head())
    env.untimed("elt") {
      val answers = Map(
        "raw_rows" -> rawRows,
        "written_rows" -> written,
        "summary" -> summary.schema.fieldNames.map(f => f -> summary.getAs[Any](f)).toMap,
        "ddl_stmts" -> ingested.map(_.evolution.ddl.size).sum,
        "created_table" -> ingested.head.evolution.createdTable,
        "added_columns" -> ingested.tail.flatMap(_.evolution.addedColumns.map(_.name)),
        "out_bytes" -> Env.treeBytes(out))
      Env.deleteTree(root)
      answers
    }
  }
}

/** The `examples.CurateDemo` funnel, operator by operator. Each per-doc
  * gate's surviving doc ids are stored as that operator's output table,
  * so every operator is timed on its own and the stage join reads
  * stored outputs, as a task DAG would. */
final class CurateCorpus(env: Env) extends Workload {
  private val spark = env.spark
  private val dir = env.data
  val opsPerPass: Int = 12

  def pass(block: Int): Map[String, Any] = {
    val out = env.work.resolve(s"curate-$block")
    def path(name: String) = out.resolve(name).toString
    def gate(span: String, name: String)(df: => DataFrame): Unit =
      env.span(span)(
        df.select("doc_id").write.parquet(path(s"gates/$name")))

    gate("text.TextAnalysis.langId", "lang")(
      TextAnalysis.langId(spark, dir).where(col("lang_pred") === "en"))
    gate("text.TextAnalysis.qualityScore", "quality")(
      TextAnalysis.qualityScore(spark, dir).where(col("quality") >= 0.3))
    gate("text.TextAnalysis.repetition", "repetition")(
      TextAnalysis.repetition(spark, dir).where(col("dup_2gram_ratio") <= 0.5))
    gate("dedup.Dedup.dedupClusters", "survivors")(
      Dedup.dedupClusters(spark, dir).where(col("keep")))
    gate("ops.Blocklist.bloomScrub", "unblocked")(
      ops.Blocklist.bloomScrub(spark, dir).where(col("keep")))
    gate("text.CorpusStats.linearQuality", "linear")(
      CorpusStats.linearQuality(spark, dir).where(col("keep")))
    val gates = Seq("lang", "quality", "repetition", "survivors", "unblocked", "linear")
    env.span("bench.stageWrite") {
      gates.foldLeft(graft.Tables.load(spark, dir, "documents")) { (df, g) =>
        df.join(spark.read.parquet(path(s"gates/$g")), "doc_id")
      }.write.parquet(path("stage1/documents.parquet"))
    }
    // cross-doc boilerplate floor on the staged (deduped) set, written
    // as the curated documents table
    env.span("text.CorpusStats.dupGramFraction") {
      val lowBoiler = CorpusStats.dupGramFraction(spark, path("stage1"))
        .where(col("dup_fraction") < 0.5)
      spark.read.parquet(path("stage1/documents.parquet"))
        .join(lowBoiler.select("doc_id"), "doc_id")
        .write.parquet(path("documents.parquet"))
    }
    val curated = spark.read.parquet(path("documents.parquet"))
    env.span("dedup.Dedup.leakageSafeSplit") {
      Dedup.leakageSafeSplit(spark, dir).join(curated.select("doc_id"), "doc_id")
        .write.parquet(path("split"))
    }
    val (kept, trainRows, sampleRows) =
      env.span("ops.Sampling.stratifiedSample") {
        val kept = curated.count()
        val train = curated.join(spark.read.parquet(path("split"))
          .where(col("split") === "train").select("doc_id"), "doc_id")
        val sample = ops.Sampling.stratifiedSample(train,
          target = math.max(1, (kept / 10).toInt))
        (kept, train.count(), sample.count())
      }
    env.span("text.TextAnalysis.decontaminate")(
      TextAnalysis.decontaminate(spark, dir).where(!col("kept")).count())
    val shardTokens = env.span("text.CorpusStats.shardManifest") {
      val m = CorpusStats.shardManifest(spark, out.toString).agg(sum(col("n_tokens"))).head()
      if (m.isNullAt(0)) -1L else m.getLong(0)
    }
    // the inputs of CurateDemo's invariants
    env.untimed("curate") {
      val total = graft.Tables.load(spark, dir, "documents").count()
      val toks = TextAnalysis.tokenStats(spark, dir)
        .join(curated.select("doc_id"), "doc_id")
        .agg(sum(col("n_tokens"))).head()
      val answers = Map(
        "total_docs" -> total, "kept" -> kept,
        "curated_tokens" -> (if (toks.isNullAt(0)) -1L else toks.getLong(0)),
        "shard_tokens" -> shardTokens,
        "train_rows" -> trainRows, "sample_rows" -> sampleRows)
      Env.deleteTree(out)
      answers
    }
  }
}

/** The Metabase side: one client, one request in flight, replaying a
  * fixed Zipf-skewed sequence of warehouse queries. Each request is the
  * `Bench.timeOne` shape: construct, force the executed plan, `noop`
  * write.
  *
  * A BI session is long-lived, so set-up warms the JVM by running every
  * query of the sequence once, most popular first, with its answer
  * written for the oracle check; a query that built zones runs once more,
  * so the answer read back from its zones is checked too. The zones are
  * dropped before timing. A timed request shares the verdict of its
  * query's answer on the same zone path: storing the answers of the timed
  * requests would re-execute each of them. */
final class DashMix(env: Env, ranked: Seq[String], sequence: Seq[String])
    extends Workload {
  private val spark = env.spark
  private val fns = SparkEntry.queries
  private val answers = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
  val opsPerPass: Int = sequence.size
  override def setupAnswers: Seq[Map[String, Any]] = answers.toSeq

  private def failure(e: Throwable) = s"${e.getClass.getSimpleName}: ${e.getMessage}"

  override def warmup(): Unit = {
    val dir = env.work.resolve("results")
    def answer(name: String, tag: String): Boolean = {
      val (error, s) = env.tracer.spanOf("check.answer") {
        try {
          fns(name)(spark, env.data).coalesce(1).write.parquet(dir.resolve(tag).toString)
          None
        } catch { case e: Throwable => Some(failure(e)) }
      }
      answers += Map("name" -> name, "built_zone" -> s.builtZone, "error" -> error.orNull,
        "result" -> (if (error.isEmpty) tag else null))
      s.builtZone
    }
    ranked.filter(sequence.toSet).foreach { n =>
      if (answer(n, s"$n-first")) answer(n, s"$n-again")
    }
  }

  def request(name: String, i: Int, block: Int): Map[String, Any] = {
    val (error, s) = env.tracer.spanOf("query.request", req = i) {
      try {
        val df = env.span("query.construct")(fns(name)(spark, env.data))
        env.span("query.plan")(df.queryExecution.executedPlan)
        env.span("query.exec")(df.write.format("noop").mode("overwrite").save())
        None
      } catch { case e: Throwable => Some(failure(e)) }
    }
    Map("block" -> block, "i" -> i, "name" -> name, "total_ms" -> s.durS * 1e3,
      "built_zone" -> s.builtZone, "error" -> error.orNull)
  }

  def pass(block: Int): Map[String, Any] =
    Map("requests" -> sequence.zipWithIndex.map { case (n, i) => request(n, i, block) })
}

object DashMix {
  /** Modules whose oracle-checked queries make up the dashboard pool. */
  private val modules: Seq[(Map[String, _], Map[String, String])] = Seq(
    ops.CoreParity.queries -> ops.CoreParity.oracle,
    ops.Relational.queries -> ops.Relational.oracle,
    ops.SqlSurface.queries -> ops.SqlSurface.oracle,
    ops.EventOps.queries -> ops.EventOps.oracle,
    ops.Wave2.queries -> ops.Wave2.oracle,
    ops.Wave3.queries -> ops.Wave3.oracle,
    ops.Extras.queries -> ops.Extras.oracle,
    ops.Quality.queries -> ops.Quality.oracle,
    ops.Sampling.queries -> ops.Sampling.oracle)

  private val corpusTables = "(?i)\\b(documents|embeddings)\\b".r

  /** name -> oracle SQL of every pool query that reads only the
    * warehouse tables. */
  def pool: Map[String, String] = {
    val entries = SparkEntry.queries
    modules.flatMap { case (qs, oracle) =>
      qs.keys.filter(n => oracle.contains(n) && entries.contains(n))
        .map(n => n -> oracle(n))
    }.filter { case (_, sql) => corpusTables.findFirstIn(sql).isEmpty }.toMap
  }

  /** Popularity ranks, most popular first: fixed by name (a CRC32
    * order), the same for every seed. */
  def ranked(names: Iterable[String]): Seq[String] = {
    def crc(s: String) = { val c = new java.util.zip.CRC32; c.update(s.getBytes("UTF-8")); c.getValue }
    names.toSeq.sortBy(s => (crc(s), s))
  }

  /** Request counts per rank are the largest-remainder rounding of the
    * Zipf(1) shares of [[ranked]], and the order is one fixed shuffle of
    * that multiset. Both are the same for every seed (the seed varies the
    * warehouse data): a request's latency depends on what ran before it,
    * such as which query builds a shared zone first, and runs of different
    * seeds must compare like with like. */
  def sequence(ranked: Seq[String], n: Int): Seq[String] = {
    val w = ranked.indices.map(k => 1.0 / (k + 1))
    val exact = w.map(_ * n / w.sum)
    val base = exact.map(_.toInt).toArray
    ranked.indices.sortBy(k => (-(exact(k) - base(k)), k))
      .take(n - base.sum).foreach(k => base(k) += 1)
    val seq = ranked.zip(base).flatMap { case (q, c) => Seq.fill(c)(q) }
    new scala.util.Random(0L).shuffle(seq)
  }
}
