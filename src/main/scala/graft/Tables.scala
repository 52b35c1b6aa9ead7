package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet-table loader for the engine's zone/table layout, and the
  * one plain parquet read ([[read]]).
  *
  * The reference keeps relational tables in named Postgres schemas
  * (`raw` / `analytics`, reference `sql/init.sql:2-3`); the Spark-native
  * equivalent is a directory of parquet tables (`<dir>/<table>.parquet`).
  * At cluster scale each table would be a partitioned parquet dataset
  * (or catalog table) — the read path is identical.
  *
  * Schema reuse: a plain `spark.read.parquet(path)` infers the schema
  * from a parquet footer in a one-task Spark job, on every call. A
  * catalog (the reference's Postgres) answers that from metadata, so
  * [[read]] keeps one JVM-wide entry per qualified path and reuses
  * its schema while the key still matches. The key covers every input
  * of the inference: the (file, length, mtime) of every file under the
  * path, from one recursive listing, and every set reader conf
  * ([[ReaderConfs]]). A changed file, an overwrite or a conf flip is
  * a miss that infers again and replaces the path's entry, so the map
  * holds one entry per distinct path; [[graft.util.Scratch.clear]]
  * drops the entries under the zones it deletes.
  *
  * Only schemas are shared, never relations: a hit is a fresh
  * `spark.read.schema(s).parquet(path)` with fresh attribute ids. A
  * shared `DataFrame` would hand both sides of `load(t).join(load(t))`
  * the same attribute ids, and the self-join would not resolve.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table. Column pruning + predicate pushdown happen at the
    * parquet scan automatically because callers stay declarative.
    *
    * Timestamp normalization: the testdata parquet stores timestamps as
    * NTZ (and `events.ts` as nanoseconds, which Spark's vectorized
    * reader rejects outright). All engine code works in session-UTC
    * `TimestampType`, so we (a) read nanos as long via the legacy conf
    * and rebuild a micros timestamp, and (b) cast NTZ columns to LTZ —
    * identity under the UTC session this engine mandates. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") return loadEvents(spark, dir)
    normalizeTimestamps(read(spark, s"$dir/$name.parquet"))
  }

  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    // nanosAsLong is on in every session (graft.util.Sessions.confFor)
    val df = read(spark, s"$dir/events.parquet")
    // Two generator layouts exist: INT64 nanoseconds (reads as LONG
    // under nanosAsLong; truncate to micros with integer `div` —
    // double division would lose precision at 1e18 magnitude, and
    // DuckDB truncates ns the same way) or native timestamp[us]
    // (nothing to convert). Dispatch on the OBSERVED schema instead
    // of assuming one writer.
    val converted = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => df
    }
    normalizeTimestamps(converted)
  }

  /** Read parquet, inferring the schema of a single path at most once
    * per key (see the object doc). Several paths read as one relation
    * are not memoized: their key would be the path list, which grows
    * with every epoch a maintenance table publishes. A path that cannot
    * be listed falls through to the plain read, so its error is
    * Spark's own. */
  def read(spark: SparkSession, paths: String*): DataFrame = paths match {
    case Seq(path) =>
      listing(spark, path) match {
        case None => spark.read.parquet(path)
        case Some((key, files)) =>
          val confs = readerConfs(spark)
          val known = inferred.get(key)
          if (known != null && known.files == files && known.confs == confs)
            spark.read.schema(known.schema).parquet(path)
          else {
            val df = spark.read.parquet(path)
            inferred.put(key, Inferred(files, confs, df.schema))
            df
          }
      }
    case _ => spark.read.parquet(paths: _*)
  }

  /** Drop the entries at or under `dirs`, which the caller deletes. */
  private[graft] def forget(spark: SparkSession, dirs: Iterable[String]): Unit = {
    val roots = dirs.map(qualify(spark, _)).toSeq
    inferred.keySet.removeIf(k => roots.exists(r => k == r || k.startsWith(s"$r/"))): Unit
  }

  /** True while [[read]] holds a schema for `path`. */
  private[graft] def holds(spark: SparkSession, path: String): Boolean =
    inferred.containsKey(qualify(spark, path))

  /** Conf prefixes the inferred schema depends on: the parquet
    * reader's own confs (binaryAsString, inferTimestampNTZ, mergeSchema,
    * nanosAsLong, …), file-source confs (ignoreCorruptFiles, …), and the
    * partition-directory inference inputs (type inference, case
    * sensitivity, the time zone and timestamp type partition values
    * parse under). */
  private val ReaderConfs = Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.",
    "spark.sql.files.", "spark.sql.sources.", "spark.sql.caseSensitive",
    "spark.sql.session.timeZone", "spark.sql.timestampType")

  private final case class Inferred(files: Seq[(String, Long, Long)],
                                    confs: Map[String, String],
                                    schema: StructType)
  private val inferred = new ConcurrentHashMap[String, Inferred]()

  private def readerConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) => ReaderConfs.exists(k.startsWith) }

  private def qualify(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  /** (qualified path, sorted (file, length, mtime) of every file under
    * it), or None when the path cannot be listed. */
  private def listing(spark: SparkSession, path: String)
      : Option[(String, Seq[(String, Long, Long)])] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      val files = Vector.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some((fs.makeQualified(p).toString, files.result().sorted))
    } catch { case _: java.io.IOException => None }

  private def normalizeTimestamps(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType)
    ntz.foldLeft(df) { (d, f) =>
      d.withColumn(f.name, col(f.name).cast(TimestampType))
    }
  }
}
