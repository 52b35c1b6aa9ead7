package graft.util

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.{FileSourceScanExec, WholeStageCodegenExec}

import graft.SparkSpec

/** A long-lived session compiles each generated class once: the class
  * cache outlasts more than Spark's default 100 distinct classes, and
  * a whole-stage pipeline reuses its class at any codegen-stage
  * position ([[Sessions.confFor]]'s `spark.sql.codegen.` entries).
  * Compiles are read from Spark's JVM-wide `CodegenMetrics` count; a
  * cache hit adds nothing to it. Each case tags its code with a fresh
  * literal, so no earlier suite has compiled the same text. */
class CodegenReuseSpec extends SparkSpec {

  private def compiling[T](f: => T): (T, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = f
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  test("a query re-run after more than 100 other compiles compiles nothing") {
    val tag = System.nanoTime
    def run(i: Int) = spark.range(0, 64).selectExpr(s"id * $i + $tag AS v").collect()
    val (first, cold) = compiling(run(1))
    assert(cold >= 1)
    val (_, between) = compiling((2 to 151).foreach(run(_)))
    assert(between > 100, "the other queries must compile more than 100 classes")
    val (again, warm) = compiling(run(1))
    assert(warm === 0L)
    assert(again.toSeq === first.toSeq)
  }

  test("one scan-filter-project pipeline at two codegen-stage positions compiles one class") {
    val dir = SparkSpec.tempDir("codegen-reuse").resolve("t").toString
    spark.range(0, 1000).selectExpr("id", "id % 7 AS k").write.parquet(dir)
    val tag = System.nanoTime
    val pipeline = spark.read.parquet(dir).filter("k < 3").selectExpr(s"id + $tag AS v")
    val other = spark.range(0, 10).selectExpr(s"id - $tag AS v")
    val both = other.union(pipeline)
    def scanStage(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec
            if w.collectFirst { case s: FileSourceScanExec => s }.isDefined =>
          w.codegenStageId
      }.head
    assert(scanStage(pipeline) === 1)
    assert(scanStage(both) === 2)

    other.collect()
    val (alone, cold) = compiling(pipeline.collect())
    assert(cold >= 1)
    val (union, second) = compiling(both.collect())
    assert(second === 0L, "the pipeline at stage 2 must reuse its stage-1 class")
    assert(union.length === 10 + alone.length)
  }
}
