package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list, by iterative
  * min-label propagation with pointer jumping.
  *
  * The fixpoint is the exact per-component minimum node id — deterministic
  * regardless of iteration strategy — so SQL oracles can pin it with a
  * recursive transitive closure. Every round is declarative (joins +
  * aggregates over the edge partitioning); there is no driver-side graph,
  * so the loop runs unchanged on a 1000-executor cluster.
  *
  * Round structure:
  *   - label(n) starts as min(n, min neighbour) — the first propagation is
  *     folded into the node-set aggregate (same single shuffle a distinct
  *     node list would cost, one fewer fixpoint round);
  *   - each round takes the min over: own label, min neighbour label, and
  *     the CURRENT label of the label (pointer jumping — every label value
  *     is itself a node, so the self-join always hits). Plain neighbour-min
  *     propagation needs O(diameter) rounds — a 100-node duplication chain
  *     is 100 shuffles; with the jump the label chain halves every round,
  *     O(log diameter). Labels only ever decrease and are bounded below by
  *     the component minimum, so the acceleration cannot change the
  *     converged result.
  *
  * Each round ends in localCheckpoint(eager): the round's result is
  * materialized and becomes a LEAF plan. Without the cut the logical plan
  * references the previous round's labels three times (directly, via the
  * neighbour aggregate, via the jump), so the plan TRIPLES per round —
  * Catalyst re-optimizes an exponentially growing tree, and any block
  * evicted under storage pressure re-derives the whole multi-round lineage
  * (measured on the dedup corpus: 26-43 s late in a full bench sweep vs
  * ~4 s with a flat plan). On a real cluster the same cut is
  * df.checkpoint(reliable dir) every round or two — standard
  * iterative-algorithm hygiene (GraphX does exactly this).
  *
  * A round's checkpoint is unpersisted as soon as the next round is
  * materialized from it, and the session's [[graft.Store]] owns the last
  * one, which the result reads: `Store.clear` releases it.
  */
object Components {

  /** The checkpointed RDD a round's plan reads: its blocks are the round's
    * only copy. */
  private def checkpoint(round: DataFrame): Seq[RDD[_]] =
    round.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }

  /** Label every node of the undirected graph given as an edge list.
    *
    * @param pairs edge list; undirected (symmetrized internally), self
    *              loops and duplicates tolerated
    * @param src   column holding one endpoint (any orderable type shared
    *              with `dst`; node ids must be totally ordered)
    * @param dst   column holding the other endpoint
    * @param checkpointDir when set, each round's lineage cut is a RELIABLE
    *              checkpoint into this directory instead of
    *              localCheckpoint. localCheckpoint stores blocks only on
    *              the executors that computed them — correct and fast on
    *              local[32], but on a real cluster a lost executor loses
    *              its blocks with no lineage left to recompute them, so a
    *              long fixpoint over 100 TB of edges wants the cut on
    *              durable storage (HDFS/object store), exactly like
    *              GraphX's PeriodicCheckpointer. Same converged result
    *              either way; the flag only moves where the cut lives.
    * @return one row per distinct endpoint: (node_id, label), where label
    *         is the minimum node id of the containing component
    */
  def labels(pairs: DataFrame, src: String, dst: String,
      checkpointDir: Option[String] = None): DataFrame = {
    val cut: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        val sc = pairs.sparkSession.sparkContext
        sc.setCheckpointDir(dir)
        df => df.checkpoint()
      case None => df => df.localCheckpoint()
    }
    // serialized storage: the edge list is re-scanned every fixpoint round,
    // and a deserialized cache is the first eviction victim under a
    // full-sweep memory profile — compact batches survive pressure and the
    // extra decode cost is trivial next to the per-round join
    val edges = pairs
      .select(col(src).as("__cc_src"), col(dst).as("__cc_dst"))
      .union(pairs.select(col(dst).as("__cc_src"), col(src).as("__cc_dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    var labels = cut(edges
      .groupBy(col("__cc_src"))
      .agg(least(col("__cc_src"), min(col("__cc_dst"))).as("label"))
      .select(col("__cc_src").as("node_id"), col("label")))
    var converged = false
    while (!converged) {
      val nbrMin = edges
        .join(
          labels.select(col("node_id").as("__cc_dst"), col("label").as("nbr_label")),
          Seq("__cc_dst"))
        .groupBy(col("__cc_src").as("node_id"))
        .agg(min("nbr_label").as("nbr_min"))
      val jump = labels.select(col("node_id").as("label"), col("label").as("__lbl2"))
      // carry the previous label through so convergence is a filter on the
      // materialized (checkpointed) result, not an extra join per round
      val next = cut(labels.join(nbrMin, Seq("node_id"), "left")
        .join(jump, Seq("label"))
        .select(col("node_id"),
          least(col("__lbl2"),
            least(col("label"), coalesce(col("nbr_min"), col("label"))))
            .as("label"),
          col("label").as("__prev")))
      converged = next.filter(col("label") =!= col("__prev")).count() == 0L
      // `next` is materialized and cut: nothing reads this round again
      checkpoint(labels).foreach(_.unpersist(blocking = false))
      labels = next.drop("__prev")
    }
    // the loop is done: nothing re-derives from the edge cache. The
    // returned labels stay live (leaf plan over the final round's blocks)
    // until the session's Store is cleared.
    edges.unpersist()
    graft.Store.own(pairs.sparkSession, checkpoint(labels))
    labels
  }
}
