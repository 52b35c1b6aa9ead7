package graft.util

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Dedup
import graft.sim.Spectral
import graft.sinks.IndexMaintain

/** The durability dial: with `graft.checkpoint.dir` set, iterative
  * loops must root each round on RELIABLE checkpoints (files in the
  * configured dir — what survives executor loss on a preemptible
  * cluster), free superseded rounds' files, and produce the same
  * answers as local mode. [[Checkpoints.iterate]] owns that round
  * policy, including the loud round cap and a one-job count per
  * round. In-query roots and per-batch roots ([[Checkpoints.scoped]])
  * follow the same dial; a batch frees its roots. Every temp root is
  * deleted. */
class CheckpointsSpec extends SparkSpec {

  private def rddDirs(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("rdd-"))
      .toSeq

  /** Run `f` with the dial pointed at a fresh temp dir; afterwards the
    * dial is unset and the dir deleted with its contents. */
  private def withDial(prefix: String)(f: Path => Unit): Unit = {
    val dir = SparkSpec.tempDir(prefix)
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
      // the loop, forced: a 199-edge graph is otherwise labelled on
      // the driver and roots no round
      val labels = Dedup.connectedComponents(edges, 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.size == 200 && labels.values.forall(_ == 0L),
        "reliable mode must not change the fixpoint")
      assert(rddDirs(dir).nonEmpty,
        "the loop's rounds must root on reliable checkpoint files")
      // every superseded round's files were freed — only the live
      // final edge set may keep its checkpoint on disk
      assert(rddDirs(dir).sizeIs <= 1,
        s"superseded rounds must be freed, found ${rddDirs(dir)}")
    }
  }

  test("iterateAbove: at the bound it collects and frees its root; " +
    "above it runs no more jobs than iterate, from that root") {
    // four partitions of 2-3 rows: a bound of 10 gives each a share of
    // 2, so two partitions exceed it and are collected separately
    val init = spark.range(0, 10, 1, 4).toDF("id")
    val stop = Checkpoints.UntilStable(5)
    val step: (DataFrame, Int) => Option[DataFrame] =
      (df, _) => Some(df.where(col("id") < 3))
    withDial("graft-ckpt-above") { dir =>
      for (bound <- Seq(10L, 1000L)) {
        val small = Checkpoints.iterateAbove("above", init, bound, stop)(step)
        assert(small.left.toOption.map(_.map(_.getLong(0)).sorted.toSeq)
          .contains(0L until 10L), s"bound $bound: $small")
        assert(rddDirs(dir).isEmpty, "the collected root must be freed")
      }
    }
    val (viaIterate, iterJobs) = jobsDuring(
      Checkpoints.iterate("plain", init, stop)(step).collect())
    val (viaAbove, aboveJobs) = jobsDuring(
      Checkpoints.iterateAbove("above", init, 9, stop)(step)
        .map(_.collect()).toOption.get)
    assert(viaAbove.map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L))
    assert(viaIterate.map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L))
    assert(aboveJobs.size <= iterJobs.size,
      s"the bound check must cost no job: $aboveJobs vs $iterJobs")
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

  test("a counted round launches one job for its count") {
    // the same roots either way; UntilStable adds the first count and
    // round 1's count, and the step's plan is stable at round 1
    val init = spark.range(0, 50, 1, 4).toDF("a")
    val step: (DataFrame, Int) => Option[DataFrame] =
      (df, _) => Some(df.select(col("a")))
    val (plain, plainJobs) = jobsDuring(
      Checkpoints.iterate("plain", init, Checkpoints.Rounds(1))(step))
    val (counted, countedJobs) = jobsDuring(
      Checkpoints.iterate("counted", init, Checkpoints.UntilStable(3))(step))
    assert(countedJobs.size - plainJobs.size == 2,
      s"two counts must cost two jobs: $countedJobs vs $plainJobs")
    assert(plain.count() == 50 && counted.count() == 50)
    Seq(plain, counted).foreach(Checkpoints.free)
  }

  test("an in-query root under the reliable dial: same rows, rdd-* files") {
    // local mode first: the knn-graph zone it builds is memoized under
    // the default scratch root, not under the dial's dir
    val local = Spectral.assortativity(spark, sf()).collect().toSeq
    withDial("graft-ckpt-assort") { dir =>
      val reliable = Spectral.assortativity(spark, sf()).collect().toSeq
      assert(reliable == local)
      assert(rddDirs(dir).nonEmpty,
        "q289's undirected edge root must write reliable checkpoint files")
    }
  }

  test("a maintenance batch under the reliable dial: same state, roots freed") {
    val docs = graft.Tables.load(spark, sf(), "documents")
    def state(): Set[Seq[Any]] = {
      val root = SparkSpec.tempDir("graft-ckpt-idx").toString + "/zone"
      IndexMaintain.init(spark, root, docs.where(col("doc_id") < 40),
        blockSize = 8)
      IndexMaintain.applyBatch(spark, root,
        docs.where(col("doc_id") >= 40), blockSize = 8)
      IndexMaintain.read(spark, root).collect().map(_.toSeq).toSet
    }
    val local = state()
    withDial("graft-ckpt-idx-dial") { dir =>
      assert(state() == local)
      assert(spark.sparkContext.getCheckpointDir
          .exists(_.contains(dir.getFileName.toString)),
        "applyBatch must root through the reliable dial")
      assert(rddDirs(dir).isEmpty,
        s"applyBatch must free its roots, found ${rddDirs(dir)}")
    }
  }
}
