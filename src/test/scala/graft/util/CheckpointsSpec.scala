package graft.util

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Dedup
import graft.sim.Spectral

/** The durability dial: with `graft.checkpoint.dir` set, iterative
  * loops must root each round on RELIABLE checkpoints (files in the
  * configured dir — what survives executor loss on a preemptible
  * cluster), free superseded rounds' files, and produce the same
  * answers as local mode. [[Checkpoints.iterate]] owns that round
  * policy, including the loud round cap. Every temp root is deleted. */
class CheckpointsSpec extends SparkSpec {

  private def rddDirs(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("rdd-"))
      .toSeq

  /** Run `f` with the dial pointed at a fresh temp dir; afterwards the
    * dial is unset and the dir deleted with its contents. */
  private def withDial(prefix: String)(f: Path => Unit): Unit = {
    val dir = Files.createTempDirectory(prefix)
    spark.conf.set(Checkpoints.DirKey, dir.toString)
    try f(dir)
    finally {
      spark.conf.unset(Checkpoints.DirKey)
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      finally s.close()
    }
  }

  test("root() writes reliable checkpoint files when the dir is set") {
    withDial("graft-ckpt") { dir =>
      val rooted = Checkpoints.root(
        spark.range(100).toDF("a").withColumn("b", col("a") + 1))
      assert(rooted.count() == 100)
      assert(rddDirs(dir).nonEmpty,
        "reliable mode must materialize rdd-* checkpoint dirs")
      // freeing a superseded checkpoint deletes its files
      Checkpoints.free(rooted)
      assert(rddDirs(dir).isEmpty,
        "free() must delete the reliable checkpoint files")
    }
  }

  test("re-pointing the dir takes effect even when it is a substring") {
    // regression: a substring containment test ignored a re-point
    // from .../ckpt to .../ck (the new dir is a substring of the old)
    withDial("graft-repoint") { base =>
      val oldDir = base.resolve("ckpt"); val newDir = base.resolve("ck")
      Files.createDirectories(oldDir); Files.createDirectories(newDir)
      spark.conf.set(Checkpoints.DirKey, oldDir.toString)
      Checkpoints.free(Checkpoints.root(spark.range(5).toDF("a")))
      spark.conf.set(Checkpoints.DirKey, newDir.toString)
      val rooted = Checkpoints.root(spark.range(5).toDF("a"))
      assert(rooted.count() == 5)
      assert(rddDirs(newDir).nonEmpty,
        "checkpoints must land in the re-pointed dir, not the old one")
      Checkpoints.free(rooted)
    }
  }

  test("root() stays executor-local when the dir is unset") {
    spark.conf.unset(Checkpoints.DirKey)
    val rooted = Checkpoints.root(spark.range(10).toDF("a"))
    assert(rooted.count() == 10)
    assert(rooted.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
    Checkpoints.free(rooted)
  }

  test("connected components under the reliable dial: same labels, bounded files") {
    import spark.implicits._
    withDial("graft-ckpt-cc") { dir =>
      val rnd = new scala.util.Random(7)
      val ids = rnd.shuffle((0L until 200L).toVector)
      val edges = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("a", "b")
      val labels = Dedup.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.size == 200 && labels.values.forall(_ == 0L),
        "reliable mode must not change the fixpoint")
      // every superseded round's files were freed — only the live
      // final edge set may keep its checkpoint on disk
      assert(rddDirs(dir).sizeIs <= 1,
        s"superseded rounds must be freed, found ${rddDirs(dir)}")
    }
  }

  test("bfs under the reliable dial: same distances, bounded files") {
    import spark.implicits._
    // SpectralSpec's path 0-1-2-3-4-5, seed at 0; BfsRounds = 4
    val es = (0L to 4L).map(i => (i, i + 1))
    val und = es.toDF("src", "dst")
      .union(es.map(_.swap).toDF("src", "dst"))
    val d0 = (0L to 5L).map(i =>
      (i, if (i == 0L) Some(0L) else None)).toDF("id", "d")
    withDial("graft-ckpt-bfs") { dir =>
      val got = Spectral.bfsIterate(d0, und).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toMap
      assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L,
        4L -> 4L, 5L -> -1L), s"distances: $got")
      assert(rddDirs(dir).nonEmpty,
        "bfs rounds must root on reliable checkpoint files")
      assert(rddDirs(dir).sizeIs <= 1,
        s"superseded rounds must be freed, found ${rddDirs(dir)}")
    }
  }

  test("iterate fails loudly past the round cap, naming the loop") {
    val err = intercept[RuntimeException] {
      // the row count doubles every round: never stable
      Checkpoints.iterate("doubling", spark.range(1).toDF("a"),
        Checkpoints.UntilStable(3))((df, _) => Some(df.union(df)))
    }
    assert(err.getMessage.contains("doubling") &&
      err.getMessage.contains("3 rounds"), err.getMessage)
  }

  test("iterate runs exactly n fixed rounds, fewer when the step ends it") {
    var steps = 0
    val out = Checkpoints.iterate("fixed", spark.range(3).toDF("a"),
      Checkpoints.Rounds(4)) { (df, _) =>
      steps += 1
      Some(df.select((col("a") + 1).as("a")))
    }
    assert(steps == 4)
    assert(out.collect().map(_.getLong(0)).toSet == Set(4L, 5L, 6L))
    steps = 0
    Checkpoints.iterate("early", spark.range(3).toDF("a"),
      Checkpoints.Rounds(4), keep = false) { (df, _) =>
      steps += 1
      if (steps == 2) None else Some(df)
    }
    assert(steps == 2)
  }
}
