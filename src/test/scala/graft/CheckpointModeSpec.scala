package graft

import org.apache.spark.sql.functions._

/** The iterative-loop checkpoint switch (Engine.loopCheckpoint):
  * `spark.graft.checkpoint.reliable=true` swaps every driver-orchestrated
  * loop from localCheckpoint to reliable checkpoint() — results must be
  * identical in both modes (the toggle is an execution concern, not a
  * semantic one). Also the session cache the loops' shared facts live in
  * ([[Engine.DirCache]]).
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
    // both runs share one session-cached edge index, keyed on (session,
    // dir) — that is fine (the index is mode-agnostic data); BFS and
    // PageRank are not cached, so their loops re-checkpoint per run
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

  /** The `rdd-N` directories under the reliable checkpoint directory. */
  private def reliableCheckpoints(): Set[String] =
    spark.sparkContext.getCheckpointDir.toSeq.flatMap { d =>
      Option(new java.io.File(new java.net.URI(d)).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("rdd-")).map(_.getName)
    }.toSet

  // every remaining driver-orchestrated loop operator, exercised in BOTH
  // modes — the 100 TB lineage-truncation posture is tested per operator,
  // not asserted once. Results must be identical: the toggle changes
  // where intermediate frames persist, never what they contain. The data
  // caches are reset before each run, so a cached operator's loop runs
  // in each mode instead of serving the other mode's frame.
  private def bothModes(name: String)(run: => Seq[org.apache.spark.sql.Row])
      : Unit =
    test(s"$name agrees across checkpoint modes") {
      Engine.resetDataCaches()
      val local = run
      Engine.resetDataCaches()
      val before = reliableCheckpoints()
      val reliable = withReliable(run)
      assert(local == reliable, s"$name diverged between checkpoint modes")
      assert(local.nonEmpty)
      assert((reliableCheckpoints() -- before).nonEmpty,
        s"$name wrote no reliable checkpoint")
    }

  test("DirCache builds once per (session, dir, k) and frees every frame it drops") {
    val sc = spark.sparkContext
    def rddIds(v: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)) =
      Seq(v._1, v._2).flatMap(_.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }).toSet
    def live(ids: Set[Int]): Set[Int] = ids.intersect(sc.getPersistentRDDs.keySet)
    var builds = 0
    val pair = new Engine.DirCache((t, k) => {
      builds += 1
      (Engine.loopCheckpoint(spark.range(k + 1).toDF("x")),
        Engine.loopCheckpoint(spark.range(3).toDF("y")))
    })
    val a = Tables(spark, "/dircache/a")
    val b = Tables(spark, "/dircache/b")
    val first = pair(a, 1)
    val firstIds = rddIds(first)
    assert(firstIds.size == 2 && live(firstIds) == firstIds)
    assert((pair(a, 1) eq first) && builds == 1)
    // a key change (dir, then k) frees the superseded value's frames
    val second = pair(b, 1)
    assert(builds == 2 && live(firstIds).isEmpty)
    val third = pair(b, 2)
    assert(builds == 3 && live(rddIds(second)).isEmpty)
    assert(third._1.count() == 3L)
    // a reset frees every frame of a multi-frame value; the next call rebuilds
    val thirdIds = rddIds(third)
    assert(live(thirdIds) == thirdIds)
    Engine.resetDataCaches()
    assert(live(thirdIds).isEmpty)
    pair(b, 2)
    assert(builds == 4)
    // a frameless value: built once, dropped by a reset
    var plainBuilds = 0
    val plain = new Engine.DirCache((t, _) => { plainBuilds += 1; Seq(t.dir) })
    assert(plain(a) == Seq(a.dir) && plain(a) == Seq(a.dir) && plainBuilds == 1)
    Engine.resetDataCaches()
    assert(plain(a) == Seq(a.dir) && plainBuilds == 2)
    Engine.resetDataCaches()
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
  bothModes("logistic regression training")(
    ext.Classifier.qLrTrain(tables).collect().toSeq)
  bothModes("ordered funnel steps")(ops.Events.qFunnelSteps(tables).collect().toSeq)
}
