package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DataFrame-only connected components: min-label hooking plus a
  * pointer-doubling shortcut (Shiloach–Vishkin style), the
  * GraphX-free CC shape for dedup-cluster labeling.
  *
  * Each round:
  *  1. hook — `label ← min(label, neighbors' labels)`: one join with
  *     the adjacency list + one partial-aggregating groupBy, both
  *     hashed on the node id so rounds reuse the same partitioning;
  *  2. shortcut — `label ← label(label)`: one self-join that halves
  *     the height of every label-pointer chain.
  * The shortcut is what turns O(diameter) rounds (plain single-hop
  * propagation) into O(log diameter) — on a 100 TB near-dup graph a
  * chained component A~B~C~… is exactly the case that shows up, and
  * PropertySpec pins the round bound on a path graph.
  *
  * `localCheckpoint` EVERY round, taken before the convergence
  * count: the eager checkpoint is the round's single full
  * evaluation and the count then reads the cached blocks — the
  * prior every-other-round scheme made the count evaluate the raw
  * plan and the next odd round's checkpoint re-evaluate it (~1.5
  * full evaluations per round vs exactly 1 now). The loop exits at
  * the exact fixpoint, so labels equal the transitive closure (each
  * node → min node id of its component).
  *
  * Checkpoint blocks are freed AS THE LOOP RUNS: once round N's
  * checkpoint has materialized, round N-1's snapshot has no remaining
  * references and is unpersisted immediately — peak checkpoint
  * storage is the adjacency plus two label tables (the round being
  * built and its predecessor), independent of round count. On exit
  * the result is the last round's snapshot (already materialized, so
  * no extra job) and only the adjacency is freed. Without this, each
  * invocation would retain O(rounds) of checkpoint blocks for the
  * life of the session — in a long-running
  * session (or a many-query benchmark) the accumulated storage
  * squeezes execution memory for every query that follows.
  */
object ConnectedComponents {

  /** Drops the block-manager blocks behind a localCheckpoint'ed
    * DataFrame. After this the DataFrame is NOT recomputable (the
    * checkpoint truncated its lineage) — only call on snapshots no
    * downstream plan references. */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Labels for `nodes` (column `id`) over undirected `edges`
    * (columns `src`, `dst`, either orientation), plus the number of
    * rounds the loop ran. Isolated nodes label themselves. */
  def minLabelWithRounds(nodes: DataFrame, edges: DataFrame): (DataFrame, Int) = {
    // Pre-partition the adjacency on the per-round join key BEFORE
    // checkpointing: localCheckpoint preserves the physical
    // outputPartitioning in its LogicalRDD, so every round's
    // adj ⋈ labels probe sees the (typically larger) adjacency side
    // already hashed on `dst` and skips re-shuffling it — one fewer
    // exchange of the edge list per round, every round.
    val adj = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("dst"))
      .localCheckpoint()
    var labels = nodes.select(col("id"))
      .withColumn("label", col("id")).localCheckpoint()
    var changed = 1L
    var round = 0
    while (changed > 0) {
      val nbMin = adj
        .join(labels.select(col("id").as("dst"), col("label").as("dl")),
          Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("dl")).as("nb"))
      // carry the old label through so the convergence check is a
      // filter on the update pass, not a second join
      val hooked = labels.join(nbMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nb"), col("label"))).as("label"))
      // shortcut: labels are node ids, so label(label) is a lookup of
      // the label column keyed by itself
      val nextRaw = hooked.join(
          labels.select(col("label").as("ll"), col("id").as("label")),
          Seq("label"), "left")
        .select(col("id"), col("old"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
      // checkpoint FIRST (the round's one full evaluation), then run
      // the convergence count over the cached blocks — counting the
      // raw plan and checkpointing it afterwards would evaluate the
      // round twice (eager localCheckpoint re-runs the plan)
      val next = nextRaw.localCheckpoint()
      changed = next.filter(col("label") =!= col("old")).count()
      // `next` is fully materialized (eager checkpoint) and the
      // convergence count has run, so the previous round's snapshot
      // has no remaining references — free it NOW, keeping live
      // storage at adjacency + two label tables regardless of how
      // many rounds the graph needs.
      freeCheckpoint(labels)
      labels = next.select(col("id"), col("label"))
      round += 1
    }
    // The last round's snapshot carries the result; the adjacency is
    // freed now, so a CC call leaves behind one label table's storage.
    freeCheckpoint(adj)
    (labels, round)
  }

  /** Labels only (see [[minLabelWithRounds]]). */
  def minLabel(nodes: DataFrame, edges: DataFrame): DataFrame =
    minLabelWithRounds(nodes, edges)._1
}
