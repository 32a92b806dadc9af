package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Unified scale-stress harness (diagnostic main, like [[Profile]] /
  * [[Explain]]): one entry point fronting the three stress legs that were
  * separate mains through round 9 (`StressScale` / `StressStream` /
  * `StressAdversarial`), sharing ONE session and ONE manifest-guarded
  * corpus materialization:
  *
  *   runMain graft.Stress <sfDir> <factor> [mode ...]
  *
  * modes ⊆ {batch, stream, adversarial} (default: all three, in that
  * order). The plain `factor`× corpus is inflated once per (sfDir,
  * factor) and REUSED by the batch and stream legs — a manifest
  * (`manifest.json`: sfDir, factor, variant) is written next to the
  * parquet, and a stale dir from a prior run with different args is
  * re-inflated instead of silently measured (the round-9 advisory: the
  * old exists()-check reused whatever corpus happened to be on disk).
  * The adversarial leg's corpus is a deliberately different construction
  * (threshold-adjacent near-dups + hot boilerplate) and carries its own
  * manifest under the same guard.
  *
  * == batch leg ==
  * Union-multiplies documents/embeddings into a `factor`× corpus with
  * salted ids and runs the scale-critical paths — the dedup funnel,
  * FORCED-distributed connected components, SemDeDup cell capping, and
  * the IVF-PQ index/search/recall family — recording per-stage wall
  * seconds and row counts as JSON lines.
  *
  * Replica design: replica 0 is the original; ODD replicas append a
  * replica-marker token (near-duplicates — they survive exact dedup and
  * stress banding, verify, and the component loop); EVEN replicas > 0
  * copy the text verbatim (exact duplicates — they stress the md5
  * keep-one stage and prove the funnel's exact-before-near ordering
  * collapses them before any banding). Embeddings replicate verbatim
  * under salted ids, multiplying every IVF cell's population by
  * `factor` — exactly the pressure that trips `maxCell` sub-blocking.
  * The inflation itself is scale-shaped: a broadcast crossJoin against a
  * `factor`-row frame (map-side fan-out, no shuffle until the write).
  *
  * == stream leg ==
  * Replays the `factor`× corpus through the three scale-critical drains —
  * incremental-ingest dedup (BOTH index plans — broadcast, and shuffled
  * with `spark.sql.autoBroadcastJoinThreshold=-1` — verdict-compared),
  * streaming semantic dedup, and IVF ingest
  * maintenance — as a REAL multi-microbatch backlog, recording
  * per-microbatch wall time, input rows, and state-store rows via a
  * StreamingQueryListener. Landing-zone design: the graded drains read
  * the driver testdata layout (one single-file parquet per table, so ONE
  * microbatch), so this leg re-cuts each table into a directory of
  * `chunks` single-file parquets. [[Tables]] reads that directory whole
  * for a drain's static side and streams it one file per microbatch, so
  * the stream side sees a `chunks`-deep backlog. Chunking key
  * `pmod(id, chunks)` interleaves originals and replicas across
  * microbatches — each batch carries fresh docs, exact dups, and
  * near-dups of docs from OTHER batches, the adversarial arrival order
  * for cross-batch state.
  *
  * == adversarial leg ==
  * The plain corpus makes near-dup recall easy — replica pairs sit far
  * above the 0.7 jaccard threshold, where the 8×4 banding's miss bound
  * (1-j⁴)⁸ is negligible. This leg builds the corpus the banding finds
  * HARD and measures what survives: a DENSE THRESHOLD-ADJACENT BAND
  * (replica r keeps the first (0.78 + 0.01·r) fraction of its words and
  * pads back to length with unique junk tokens — kept fraction f gives
  * 3-gram jaccard ≈ f/(2-f) ∈ [0.64, 0.77]) plus HOT BOILERPLATE (30%
  * of doc families append one shared 40-word string, flooding gram
  * buckets). Ground truth is [[graft.ext.Dedup.jaccardGroundTruth]] —
  * ppjoin prefix filtering + exact verify, full recall BY CONSTRUCTION —
  * so banded recall is measured, not argued, at a scale where brute
  * n²/2 verification is unaffordable. Results and analysis: SCALE.md.
  */
object Stress {

  /** Build (or reuse) a stress corpus at `outDir`: the manifest records
    * (sfDir, factor, variant), and `build` runs only when the manifest is
    * absent or mismatched — so a dir left by a prior run with DIFFERENT
    * args can never be silently measured as the requested corpus.
    */
  private def ensureCorpus(
      spark: SparkSession, sfDir: String, factor: Int, outDir: String,
      variant: String)(build: => Unit): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val mPath = new Path(s"$outDir/manifest.json")
    val want =
      s"""{"sfDir":"$sfDir","factor":$factor,"variant":"$variant"}"""
    val have =
      if (!fs.exists(mPath)) None
      else scala.util.Try {
        val in = fs.open(mPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      }.toOption
    if (have.contains(want)) {
      println(s"""{"stress":"corpus_reuse","dir":"$outDir"}""")
    } else {
      build
      val out = fs.create(mPath, true)
      try out.write(want.getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Union-multiply sfDir's documents/embeddings into a `factor`× corpus
    * at outDir (replica design in the object doc).
    */
  private[graft] def inflate(
      spark: SparkSession, sfDir: String, factor: Int, outDir: String): Unit = {
    val reps = broadcast(
      spark.range(factor).select(col("id").as("rep")))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("rep") * maxDoc).as("doc_id"),
        when(col("rep") % 2 === 1,
          concat(col("text"), lit(" rep"), col("rep")))
          .otherwise(col("text")).as("text"),
        col("lang"), col("source"),
        (col("n_chars") + when(col("rep") % 2 === 1,
          length(concat(lit(" rep"), col("rep")))).otherwise(lit(0L)))
          .as("n_chars"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    emb.crossJoin(reps)
      .select((col("vec_id") + col("rep") * maxVec).as("vec_id"),
        col("embedding"), col("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val modes =
      if (args.length > 2) args.drop(2).toSeq
      else Seq("batch", "stream", "adversarial")
    val bad = modes.filterNot(Set("batch", "stream", "adversarial"))
    require(bad.isEmpty, s"unknown stress modes: $bad")
    val outDir = s"/tmp/graft_stress${factor}x"
    val advDir = s"/tmp/graft_stress_adv${factor}x"
    val spark = Engine.local()
    spark.sparkContext.setLogLevel("ERROR")
    // one plain-corpus build serves both the batch and stream legs
    if (modes.exists(m => m == "batch" || m == "stream"))
      ensureCorpus(spark, sfDir, factor, outDir, "plain") {
        inflate(spark, sfDir, factor, outDir)
      }
    modes.foreach {
      case "batch" => batchLeg(spark, outDir, factor)
      case "stream" => streamLeg(spark, outDir, chunks = 8)
      case "adversarial" => advLeg(spark, sfDir, factor, advDir)
    }
    spark.stop()
  }

  /** Batch scale leg (the round-8/9 `StressScale` body). */
  private def batchLeg(
      spark: SparkSession, outDir: String, factor: Int): Unit = {
    val t = Tables(spark, outDir)
    val nDocs = t.documents.count()
    val nVecs = t.embeddings.count()
    println(s"""{"stress":"inflate","factor":$factor,"docs":$nDocs,"vecs":$nVecs}""")

    def timed(name: String)(f: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val df = f
      // full final plan, not a count-optimized rewrite (see Bench)
      val n = df.queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"stress":"$name","sec":$sec%.2f,"rows":$n}""")
      df
    }

    timed("dedup_exact")(ext.Dedup.qDedupExact(t))
    val funnel = timed("dedup_pipeline")(ext.Dedup.qDedupPipeline(t))
    funnel.orderBy("source").collect().take(5)
      .foreach(r => println(s"  funnel: $r"))
    val clusters = timed("dedup_clusters_dist")(
      ext.Dedup.qDedupClusters(t, forceDistributed = true))
    val maxGroup = clusters.agg(max("n_members")).head().getLong(0)
    println(s"""{"stress":"cc_max_group","value":$maxGroup}""")
    timed("dedup_cost_model")(ext.Dedup.qDedupCostModel(t))
      .collect().foreach(r => println(s"  cost: $r"))
    val sem = timed("semdedup")(ext.Similarity.qSemDedup(t))
    val pruned = sem.filter(col("keep") === 0).count()
    println(s"""{"stress":"semdedup_pruned","value":$pruned}""")
    timed("knn_ivfpq")(ext.Similarity.qKnnIvfPq(t))
    timed("ivfpq_recall")(ext.Similarity.qIvfPqRecall(t))
      .collect().foreach(r => println(s"  recall: $r"))
  }

  /** Streaming scale leg (the round-9 `StressStream` body). */
  private def streamLeg(
      spark: SparkSession, outDir: String, chunks: Int): Unit = {
    // a 10x multi-microbatch backlog legitimately outruns the graded
    // drains' 10-minute bound
    spark.conf.set("spark.graft.drain.timeoutMs", "2400000")
    // disk-backed state is the at-scale posture this harness measures:
    // the incdedup candidate state on the 10x tiny-vocab corpus is ~20M
    // pair rows (~GBs), which the default in-memory HDFSBackedStateStore
    // cannot hold in a bench-sized heap — exactly the regime where a
    // real deployment runs RocksDB (StreamsSpec runs drains under it too)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val providerBefore = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)

    // landing zone: each table is a directory of `chunks` single-file
    // pieces, the whole table for the static sides and a backlog of
    // `chunks` microbatches for the stream sides
    val land = s"$outDir/stream"
    fs.delete(new Path(land), true)
    def cutChunks(table: String, key: String): Unit = {
      val df = spark.read.parquet(s"$outDir/$table.parquet")
      for (i <- 0 until chunks) {
        val tmp = s"$land/_tmp_${table}_$i"
        df.filter(pmod(col(key), lit(chunks)) === i)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.globStatus(new Path(s"$tmp/part-*.parquet"))(0).getPath
        val dest = new Path(s"$land/$table.parquet/chunk_$i.parquet")
        fs.mkdirs(dest.getParent)
        fs.rename(part, dest)
        fs.delete(new Path(tmp), true)
      }
    }
    cutChunks("documents", "doc_id")
    cutChunks("embeddings", "vec_id")
    println(s"""{"stress":"landing","chunks":$chunks,"dir":"$land"}""")
    val t = Tables(spark, land)

    // per-microbatch progress: one JSON line per trigger with wall ms and
    // total state-store rows, labeled with the drain under measurement
    @volatile var label = ""
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = {}
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val st = Option(p.stateOperators)
          .map(_.map(_.numRowsTotal).sum).getOrElse(0L)
        val ms = Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(-1L)
        progress.add(
          s"""{"stress":"$label","batch":${p.batchId},""" +
            s""""in_rows":${p.numInputRows},"trigger_ms":$ms,""" +
            s""""state_rows":$st}""")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = {}
    }
    spark.streams.addListener(listener)

    def timed(name: String)(f: => DataFrame): Seq[String] = {
      label = name
      val t0 = System.nanoTime()
      val rows = f.collect()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(2000) // listener events are async; let the tail land
      while (!progress.isEmpty) println(s"  ${progress.poll()}")
      println(f"""{"stress":"$name","sec":$sec%.2f,"rows":${rows.length}}""")
      rows.map(_.toString).sorted.toSeq
    }

    try {
      // incremental-ingest dedup, BOTH index plans: the broadcast gram
      // index (executor-resident, zero per-batch shuffle) vs the 100 TB
      // shuffled-hash fallback Engine.joinIndex picks once the index's
      // estimate passes the broadcast threshold (-1 forces it) — verdicts
      // must be identical
      val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
      val thresholdBefore = spark.conf.get(thresholdKey)
      spark.conf.set(thresholdKey, "1g")
      val vb = timed("incdedup_broadcast")(
        streaming.Streams.drainIncrementalDedup(t))
      spark.conf.set(thresholdKey, "-1")
      val vs = timed("incdedup_shuffle")(
        streaming.Streams.drainIncrementalDedup(t))
      spark.conf.set(thresholdKey, thresholdBefore)
      println(s"""{"stress":"incdedup_verdicts_identical","value":${vb == vs},""" +
        s""""pairs":${vb.size}}""")

      timed("semdedup_stream")(streaming.Streams.drainSemDedup(t))
      timed("ivf_ingest_stream")(streaming.Streams.drainIvfIngest(t))
    } finally {
      spark.streams.removeListener(listener)
      spark.conf.unset("spark.graft.drain.timeoutMs")
      providerBefore match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  /** Adversarial-recall leg (the round-9 `StressAdversarial` body). */
  private def advLeg(
      spark: SparkSession, sfDir: String, factor: Int, advDir: String): Unit = {
    ensureCorpus(spark, sfDir, factor, advDir, "adversarial") {
      val reps = broadcast(
        spark.range(factor).select(col("id").as("rep")))
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
      val boiler = (0 until 40).map(i => s"zzboiler$i").mkString(" ")
      // replica body: rep 0 keeps the text; rep r >= 1 keeps the first
      // floor((0.78+0.01r)·L) words and pads back to L with per-(doc,rep)
      // junk tokens — all map-side higher-order functions, no shuffle
      val w = graft.ext.Dedup.words(col("text"))
      val keptN = greatest(lit(3),
        floor((lit(0.78) + lit(0.01) * col("rep")) * size(w)).cast("int"))
      val junk = transform(
        sequence(lit(1), greatest(lit(0), size(w) - keptN)),
        i => concat(lit("zzj"), col("doc_id"), lit("r"), col("rep"),
          lit("x"), i))
      val body = when(col("rep") === 0, col("text"))
        .otherwise(array_join(concat(slice(w, lit(1), keptN), junk), " "))
      val hot = pmod(col("doc_id"), lit(10)) < 3
      docs.crossJoin(reps)
        .select(
          (col("doc_id") + col("rep") * maxDoc).as("doc_id"),
          when(hot, concat(body, lit(" " + boiler))).otherwise(body)
            .as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$advDir/documents.parquet")
      // the similarity stages only read documents, but Tables is a
      // full-dir contract — link the embeddings through unchanged
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .write.mode("overwrite").parquet(s"$advDir/embeddings.parquet")
    }

    val t = Tables(spark, advDir)
    val nDocs = t.documents.count()
    println(s"""{"stress":"adv_inflate","factor":$factor,"docs":$nDocs}""")

    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"""{"stress":"$name","sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      r
    }

    val gt = timed("ground_truth") {
      val g = Engine.loopCheckpoint(graft.ext.Dedup.jaccardGroundTruth(t))
      g.count()
      g
    }
    val eng = timed("banded_minhash") {
      val e = Engine.loopCheckpoint(graft.ext.Dedup.qDedupMinhash(t))
      e.count()
      e
    }
    // recall per jaccard band, computed distributively (no driver sets):
    // every ground-truth pair left-joined against the banded survivors
    val bands = gt
      .join(eng.select(col("id1"), col("id2"), lit(1L).as("hit")),
        Seq("id1", "id2"), "left")
      .withColumn("band",
        when(col("jaccard") < 0.75, "0.70-0.75")
          .when(col("jaccard") < 0.80, "0.75-0.80")
          .when(col("jaccard") < 0.90, "0.80-0.90")
          .otherwise("0.90+"))
      .groupBy("band")
      .agg(count(lit(1)).as("true_pairs"),
        sum(coalesce(col("hit"), lit(0L))).as("found"))
      .withColumn("recall",
        round(col("found").cast("double") / col("true_pairs"), 4))
      .orderBy("band")
    bands.collect().foreach { r =>
      println(s"""{"stress":"recall_band","band":"${r.getString(0)}",""" +
        s""""true_pairs":${r.getLong(1)},"found":${r.getLong(2)},""" +
        s""""recall":${r.getDouble(3)}}""")
    }
    // sanity both directions: the banded pipeline's verify is exact, so
    // every banded pair must exist in the ground truth (precision 1.0)
    val extra = eng.join(gt.select("id1", "id2"), Seq("id1", "id2"),
      "left_anti").count()
    println(s"""{"stress":"banded_pairs_outside_ground_truth","value":$extra}""")
    graft.Engine.freeCheckpoint(gt)
    graft.Engine.freeCheckpoint(eng)
  }
}
