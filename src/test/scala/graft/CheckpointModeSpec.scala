package graft

import org.apache.spark.sql.functions._

/** The iterative-loop checkpoint switch (Engine.loopCheckpoint):
  * `spark.graft.checkpoint.reliable=true` swaps every driver-orchestrated
  * loop from localCheckpoint to reliable checkpoint() — results must be
  * identical in both modes (the toggle is an execution concern, not a
  * semantic one).
  */
class CheckpointModeSpec extends SparkSuite {

  private def withReliable[A](body: => A): A = {
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try body
    finally spark.conf.unset("spark.graft.checkpoint.reliable")
  }

  test("connectedComponents agrees across checkpoint modes") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("id1", "id2")
    // force the DISTRIBUTED loop (the checkpoint-mode subject) — the
    // adaptive union-find path would otherwise swallow this tiny graph
    def run(): Map[Long, Long] =
      ext.Dedup.connectedComponents(edges, forceDistributed = true).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run()
    val reliable = withReliable(run())
    assert(local == reliable)
    assert(reliable(3L) == 1L && reliable(22L) == 20L)
  }

  test("BFS hops and pagerank agree across checkpoint modes") {
    // the graph cache is keyed by dir only, so both runs would otherwise
    // share one edge index — that is fine (the index is mode-agnostic
    // data); the loops themselves re-checkpoint per run
    val localBfs = ops.Graph.qBfsHops(tables).collect().toSeq
    val localPr = ops.Graph.qPagerank(tables).collect().toSeq
    val (relBfs, relPr) = withReliable {
      (ops.Graph.qBfsHops(tables).collect().toSeq,
        ops.Graph.qPagerank(tables).collect().toSeq)
    }
    assert(localBfs == relBfs)
    assert(localPr == relPr)
    // reliable mode actually wrote checkpoint files
    assert(spark.sparkContext.getCheckpointDir.nonEmpty)
  }

  // every remaining driver-orchestrated loop operator, exercised in BOTH
  // modes — the 100 TB lineage-truncation posture is tested per operator,
  // not asserted once. Results must be identical: the toggle changes
  // where intermediate frames persist, never what they contain.
  private def bothModes(name: String)(run: => Seq[org.apache.spark.sql.Row])
      : Unit =
    test(s"$name agrees across checkpoint modes") {
      val local = run
      val reliable = withReliable(run)
      assert(local == reliable, s"$name diverged between checkpoint modes")
      assert(local.nonEmpty)
    }

  bothModes("SSSP")(ops.Graph.qSssp(tables).collect().toSeq)
  bothModes("HITS")(ops.Graph.qHits(tables).collect().toSeq)
  bothModes("label propagation")(ops.Graph.qLabelProp(tables).collect().toSeq)
  bothModes("k-core")(ops.Graph.qKcore(tables).collect().toSeq)
  bothModes("personalized pagerank")(ops.Graph.qPpr(tables).collect().toSeq)
  bothModes("modularity")(ops.Graph.qModularity(tables).collect().toSeq)
  bothModes("hierarchy flatten")(
    ops.Graph.qHierarchyFlatten(tables).collect().toSeq)
  bothModes("Lloyd's IVF index")(ext.Similarity.qKnnIvf(tables).collect().toSeq)
  bothModes("BPE merges")(ext.TextAnalysis.qBpeMerges(tables).collect().toSeq)
  bothModes("dedup funnel connected components")(
    ext.Dedup.qDedupPipeline(tables).collect().toSeq)
}
