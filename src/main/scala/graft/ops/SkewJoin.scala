package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule, Tables}
import graft.util.Exact

/** Salted equi-join — the manual skew dial for hot join keys.
  *
  * A shuffle join sends EVERY row of a key to one reducer; a hot key
  * (the celebrity customer, the null-ish default id) turns that
  * reducer into the job's critical path, and when the key's rows
  * exceed one executor's memory the job dies rather than finishes
  * slowly. Salting fans each left-side key out over `salt` sub-keys
  * and replicates the right side once per sub-key: the hot key's rows
  * spread over `salt` reducers, and the answer is IDENTICAL to the
  * plain join — salting changes the shuffle layout, never the result
  * (the q101 oracle is the plain join).
  *
  * When to reach for it: AQE's skew-join split handles most
  * post-shuffle skew automatically, but it can only split what it can
  * re-plan — a build side too big to broadcast joining a fact with one
  * pathological key still needs the explicit salt. Cost model: the
  * right side inflates ×`salt`, so salt the FACT side and keep the
  * replicated side the smaller one.
  */
object SkewJoin extends QueryModule {

  /** Equi-join `left` ⋈ `right` on `keys`, left side salted into
    * `salt` sub-keys. Inner and left_outer semantics supported (the
    * replicated side must be the non-preserved side for outer joins —
    * a right-side-preserved join would count replicated unmatched rows
    * `salt` times). */
  def saltedEquiJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                     salt: Int = 16,
                     joinType: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "salted join requires at least one key column")
    require(salt > 1, "salt must exceed 1 to spread anything")
    // normalize like Spark's own JoinType parsing so every spelling of
    // a SUPPORTED type ("LEFT", "leftouter", "left outer") is accepted
    val jt = joinType.toLowerCase(java.util.Locale.ROOT)
      .replace("_", "").replace(" ", "")
    require(Set("inner", "left", "leftouter").contains(jt),
      s"replicated-right salting supports inner/left joins only, got " +
        s"'$joinType' (right-preserved joins would duplicate unmatched " +
        "right rows)")
    require(!left.columns.contains("_salt") && !right.columns.contains("_salt"),
      "inputs already carry a '_salt' column — rename it before salting")
    // per-row salt: any uniform spread works — the join result is
    // salt-invariant by construction (each left row meets exactly the
    // one replica of each matching right row that carries its salt)
    val sl = left.withColumn("_salt",
      pmod(monotonically_increasing_id(), lit(salt.toLong)))
    val sr = right.withColumn("_salt",
      explode(sequence(lit(0L), lit(salt.toLong - 1))))
    sl.join(sr, keys :+ "_salt", joinType).drop("_salt")
  }

  /** Advisory dial derived from the MEASURED salting regime map
    * (records/skew_salted_r11.jsonl, local[4] vs local[32]) — so the
    * 100 TB operator doesn't salt blindly:
    *
    *   - AGGREGATES: don't salt for wall time. Map-side partial
    *     aggregation collapses a hot GROUP to one row per input
    *     partition BEFORE the shuffle — measured a tie at 90% skew.
    *     (The two-level spelling stays layout insurance where a
    *     group's pre-aggregation rows genuinely land on one reducer,
    *     e.g. collect_list.)
    *   - JOINS (reduce-heavy, no broadcast): salting pays only when
    *     the hot key strands cores the plain plan cannot use. The
    *     hot reducer drains `hotShare` of the output on ONE core
    *     while the rest share the remainder; on a small box the
    *     map side keeps every core busy anyway and the salt's
    *     overhead (right side replicated ×salt, wider shuffle key)
    *     buys nothing — measured: NO win at 4 cores, 2.7× at 32
    *     cores, same 95%-hot distribution. The measured break-even
    *     sits where the hot key holds ≳ 8 core-equivalents of work.
    *
    * Returns the salt to use, or None when the plain join (plus AQE)
    * is the right call. `hotShare` is the hottest key's fraction of
    * fact-side rows — from a stats pass or a Misra-Gries heavy-hitter
    * sketch ([[graft.text.Sketches]]), never a guess. */
  def recommendSalt(cores: Int, partitions: Int,
                    hotShare: Double): Option[Int] = {
    require(cores >= 1 && partitions >= 1,
      "need positive cores/partitions")
    require(hotShare >= 0.0 && hotShare <= 1.0,
      s"hotShare=$hotShare is not a fraction")
    val strandedCores = hotShare * cores
    if (strandedCores < 8.0) None
    else {
      // enough sub-keys to bring the hot reducer down to a balanced
      // core-share (next power of two ≥ stranded cores); more only
      // inflates the replicated side. Sub-keys need partitions > salt
      // or they re-collide (the suite's 16-partitions/8-salt floor) —
      // cap at partitions/2.
      val want = math.ceil(strandedCores).toInt
      val salt = Integer.highestOneBit(math.max(2, want - 1)) * 2
      Some(math.min(salt, math.max(2, partitions / 2)))
    }
  }

  /** q101: salted fact-to-dim join under a per-brand revenue
    * aggregate; the oracle is the PLAIN join+aggregate — identical
    * answers is the entire contract of the technique. */
  def saltedJoinRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
    val part = Tables.load(s, dir, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    saltedEquiJoin(li, part, Seq("l_partkey"), salt = 8)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        Exact.dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount"))
          .as("revenue"))
      .orderBy("p_brand")
  }

  lazy val records: Seq[Query] = Seq(
    Query("q101_salted_join", saltedJoinRevenue(_, _),
      (s"""SELECT p_brand, count(*) AS n,
        |  ${Exact.sqlDsumProd("l_extendedprice", "(1.0 - l_discount)")} AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)))
}
