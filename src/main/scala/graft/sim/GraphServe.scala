package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.MergeOnRead
import graft.util.Checkpoints

/** SERVED kNN-graph zone with incremental maintenance — the q155
  * exact graph as a persisted artifact that ingest batches fold into
  * WITHOUT re-scoring the standing corpus against itself (the
  * IndexMaintain / IvfServe.applyBatch discipline, applied to the
  * ANN graph that feeds semantic dedup (q156), graph serving (q198)
  * and the triangle census (q203)).
  *
  * Layout: two [[MergeOnRead]] zones under one root — `codes`
  * (vec_id → int8 code + scale, keyed by vec_id) and `graph`
  * (anchor top-k rows, keyed by (query_id, rank)). Time travel and
  * compaction come from the zone layer for free.
  *
  * The fold is exact, not approximate: top-k over (corpus ∪ batch)
  * for an old anchor equals top-k over (its stored top-k ∪ its
  * batch scores) — candidates outside the stored top-k were already
  * beaten by all k stored neighbors and no candidate ever improves.
  * So a batch costs O(|batch| · corpus) scoring (the exact-mode
  * contract — the banded path bounds this at true scale) but
  * rewrites only anchors a batch vector actually entered, plus the
  * batch anchors' own rows: O(changed · k) delta rows, never a
  * corpus-wide graph rewrite. Maintained ≡ rebuilt bit-identically
  * (GraphServeSpec).
  */
object GraphServe {

  private def codesRoot(root: String) = s"$root/codes"
  private def graphRoot(root: String) = s"$root/graph"

  /** (query_id, neighbor_id, qdot, approx_cos) for every (anchor ∈
    * `anchors`) × (candidate ∈ `cands`), self-pairs excluded. */
  private def score(anchors: DataFrame, cands: DataFrame): DataFrame =
    cands
      .select(col("vec_id"), col("q_vec"), col("q_scale"))
      .join(anchors.select(col("vec_id").as("query_id"),
        col("q_vec").as("qq"), col("q_scale").as("qs")),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Similarity.int8DotCol(col("q_vec"), col("qq")).as("qdot"),
        col("q_scale"), col("qs"))
      .select(col("query_id"), col("neighbor_id"), col("qdot"),
        (col("qdot").cast("double") * col("q_scale").cast("double") *
          col("qs").cast("double") / lit(16129.0)).as("approx_cos"))

  private def graphOf(codes: DataFrame, k: Int): DataFrame =
    Similarity.rankTopK(score(codes, codes), k, scoreCol = "approx_cos")

  /** Build both zones from an initial embedding relation. */
  def build(s: SparkSession, emb: DataFrame, root: String,
            k: Int = Similarity.GraphK): Unit = {
    val codes = Similarity.quantize(emb)
      .select(col("vec_id"), col("q_vec"), col("q_scale"))
    MergeOnRead.init(s, codesRoot(root), codes)
    MergeOnRead.init(s, graphRoot(root),
      graphOf(readCodes(s, root), k))
  }

  private def readCodes(s: SparkSession, root: String): DataFrame =
    MergeOnRead.read(s, codesRoot(root), Seq("vec_id"))

  /** The served graph view (reconciled across epochs). */
  def read(s: SparkSession, root: String): DataFrame =
    MergeOnRead.read(s, graphRoot(root), Seq("query_id", "rank"))
      .select(col("query_id"), col("neighbor_id"), col("qdot"),
        col("approx_cos"), col("rank"))
      .orderBy("query_id", "rank")

  /** Fold a batch of new vectors into both zones. */
  def applyBatch(s: SparkSession, root: String, batch: DataFrame,
                 k: Int = Similarity.GraphK): Unit = Checkpoints.scoped { rooted =>
    val newCodes = rooted(Similarity.quantize(batch)
      .select(col("vec_id"), col("q_vec"), col("q_scale")))
    val oldCodes = rooted(readCodes(s, root))
    val oldGraph = rooted(MergeOnRead.read(s, graphRoot(root),
        Seq("query_id", "rank"))
      .select(col("query_id"), col("neighbor_id"), col("qdot"),
        col("approx_cos")))
    // batch candidates scored against every old anchor (old × batch)
    val oldXnew = rooted(score(oldCodes, newCodes))
    // an old anchor changes iff some batch candidate beats its
    // CURRENT k-th entry under the rank order (or it has fewer than
    // k neighbors) — the exact no-other-anchor-changes argument is in
    // the scaladoc
    // rank order is (cos DESC, id ASC) ⟺ lexicographic on
    // (−cos, id) ASC — so the rank-k (worst) stored entry is the MAX
    // of that struct
    val kth = oldGraph.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_edges"),
        max(struct(negate(col("approx_cos")).as("nc"),
          col("neighbor_id").as("nid"))).as("worst"))
      .select(col("query_id"), col("n_edges"),
        negate(col("worst").getField("nc")).as("kcos"),
        col("worst").getField("nid").as("kid"))
    val changedIds = oldXnew.join(kth, Seq("query_id"), "left")
      .where(col("n_edges").isNull || col("n_edges") < k ||
        col("approx_cos") > col("kcos") ||
        (col("approx_cos") === col("kcos") &&
          col("neighbor_id") < col("kid")))
      .select(col("query_id")).distinct()
    val changedRows = Similarity.rankTopK(
      oldGraph.unionByName(oldXnew)
        .join(changedIds, Seq("query_id")),
      k, scoreCol = "approx_cos")
    // batch anchors score the whole updated corpus
    val allCodes = oldCodes.unionByName(newCodes)
    val newRows = Similarity.rankTopK(
      score(newCodes, allCodes), k, scoreCol = "approx_cos")
    MergeOnRead.merge(s, graphRoot(root),
      changedRows.unionByName(newRows), Seq("query_id", "rank"))
    MergeOnRead.merge(s, codesRoot(root), newCodes, Seq("vec_id"))
  }
}
