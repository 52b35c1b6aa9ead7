package graft.functions

import java.util.concurrent.atomic.AtomicInteger

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.{SparkSpec, Tables}
import graft.plans.{TopK, TopKPerGroupExec}
import graft.util.{Caps, Sessions}

/** What `Sessions.build` declares, every session of the app carries
  * with no call installing anything: the built session and a
  * `newSession()` of it (fresh function registry, optimizer, planner
  * and listener manager) both resolve the engine's functions, plan
  * the top-k strategy, fuse the float HOF spelling and log a cap
  * bound once per over-cap query. */
class GraftExtensionsSpec extends SparkSpec {

  private def sessions: Seq[(String, SparkSession)] = {
    val built = Sessions.build(sf())
    Seq("built" -> built, "newSession" -> built.newSession())
  }

  test("float_dot, int8_dot and nfc_normalize resolve in spark.sql") {
    sessions.foreach { case (name, s) =>
      val r = s.sql(
        "SELECT float_dot(array(1.0f, 2.0f), array(3.0f, 4.0f)), " +
          "int8_dot(array(CAST(1 AS TINYINT), CAST(-2 AS TINYINT)), " +
          "array(CAST(3 AS TINYINT), CAST(4 AS TINYINT))), " +
          "nfc_normalize('e\u0301')").collect().head
      assert(r.getDouble(0) == 11.0, name)
      assert(r.getLong(1) == -5L, name)
      assert(r.getString(2) == "\u00e9", name)
    }
  }

  test("TopK.topKPerGroup plans TopKPerGroupExec") {
    sessions.foreach { case (name, s) =>
      val df = TopK.topKPerGroup(
        Tables.load(s, sf(), "orders")
          .select("o_custkey", "o_orderkey", "o_totalprice"),
        Seq("o_custkey"), "o_totalprice", "o_orderkey", 2)
      val plan = df.queryExecution.sparkPlan
      assert(plan.collectFirst { case e: TopKPerGroupExec => e }.isDefined,
        s"$name:\n$plan")
    }
  }

  test("the float HOF spelling fuses into FloatDot") {
    sessions.foreach { case (name, s) =>
      // parquet-backed: a local relation would be folded before fusion
      val d = Tables.load(s, sf(), "embeddings")
        .select(expr("aggregate(zip_with(embedding, embedding, (x, y) -> x * y), " +
          "cast(0 as double), (acc, v) -> acc + v)").as("d"))
      val plan = d.queryExecution.optimizedPlan
      assert(plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[FloatDot]))),
        s"$name:\n$plan")
    }
  }

  test("the cap listener logs once per over-cap observed query") {
    val warns = new AtomicInteger(0)
    val appender = new AbstractAppender("graft-extensions-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("graft.cap.extensions-spec."))
          warns.incrementAndGet(): Unit
    }
    appender.start()
    val logger = LogManager.getLogger("graft.util.Caps").asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    try {
      sessions.zipWithIndex.foreach { case ((name, s), i) =>
        // five rows, every bucket over a cap of 1
        Caps.observeOvercap(s.range(5).withColumn("sz", lit(10)), "sz", 1,
          "extensions-spec").collect()
        // the listener runs on the listener bus, after collect returns
        eventually(timeout(30.seconds)) { assert(warns.get == i + 1, name) }
        Thread.sleep(1000)
        assert(warns.get == i + 1, s"$name: a query was logged twice")
      }
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }
}
