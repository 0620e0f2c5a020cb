package graft

import graft.io.Io

/** Dev harness for the scale-posture experiment: time the index builds
  * and the heavy corpus-wide queries on an ARBITRARY dataset dir — in
  * particular a perturbed N× replica of sf0.1 (devtools/scalegen.py) —
  * so the "would this hold at 10× the data" claims in ENGINE.md rest on
  * measured ratios, not plan reading alone. Not part of the driver
  * contract (Bench is); only touches the documents/embeddings tables so
  * a replica dataset does not need the TPC-H-ish relations.
  *
  * Usage: `java ... graft.ScaleProbe <datasetDir> [appends-only[:text|:vec]]`
  * → one JSON line of seconds per step, builds forced cold (warehouse
  * invalidated first; `BuildTool <dir> -cold <family>` re-times one
  * build alone). `appends-only` skips the primary-dir build and query
  * timings and probes just the append paths (the copy-side builds still
  * run — appends need prior artifacts); the `:text` / `:vec` suffix
  * restricts to the document chain (sig → textdup → funnel → freq →
  * keywords) or the vector chain (neardup, ivf), halving the copy-build
  * cost when iterating on one side.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mode = args.lift(1).getOrElse("")
    val appendsOnly = mode.startsWith("appends-only")
    val chain = mode.split(':').lift(1).getOrElse("all")
    val spark = Sessions.local()
    def contractLine(head: Seq[(String, String)],
        steps: Seq[(String, Double)]): String =
      (head.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" } ++
        steps.map { case (k, v) =>
          s"${Json.str(k)}:${math.rint(v * 1000) / 1000}" })
        .mkString("{", ",", "}")
    // `ivfk:<k>` prices the quantizer-geometry knob at scale: cold-build
    // the k-variant index + model, then time its probe-1 serve next to
    // the oracle-pinned k=8 serve on the same corpus (the declared v05
    // pins k=8 for oracle stability; a 100 TB deployment runs k ~ sqrt n
    // and this mode is the measurement behind that claim in ENGINE.md)
    if (mode.startsWith("ivfk:")) {
      val k = mode.stripPrefix("ivfk:").toInt
      ops.Warehouse.invalidate("ivf", dir)
      ops.Warehouse.invalidate("kmeans", dir)
      ops.SimOps.clearIvfCaches()
      val b8 = timed(ops.SimOps.buildIvf(spark, dir))
      val s8 = timed { ops.SimOps.simIvf(spark, dir).count(); () }
      val bk = timed { ops.SimOps.ivfIndexK(spark, dir, k).count(); () }
      val sk = timed { ops.SimOps.simIvfK(spark, dir, k).count(); () }
      println(contractLine(Seq("dir" -> dir, "mode" -> mode),
        Seq("ivf_build_k8" -> b8, "v05_serve_k8" -> s8,
          s"ivf_build_k$k" -> bk, s"v05_serve_k$k" -> sk)))
      spark.stop()
      return
    }
    // `skew` prices the KEY-SKEW corpus shape (r15 verdict #6) through
    // the keyed text operators: a derived corpus where one source holds
    // 90% of the documents and one term appears in EVERY document, the
    // two hot keys a web crawl actually produces (one dominant domain,
    // stopwords). Each step reports the max shuffle-read rows any task
    // absorbed ([[Skew]]) — the straggler number. Reading the
    // numbers: per-source/lang censuses partial-aggregate (hot key
    // cost = one row per partition), t23's hot-term rows co-locate in
    // ONE task of the df shuffle-hash JOIN at this corpus size (below
    // AQE's 256 MB skew-split threshold; above it the join splits,
    // which is exactly why the r16 rework chose a join over a window —
    // a window partition can never split), and the funnel's per-doc
    // flags key on doc_id/md5, blind to both hot keys.
    if (mode == "skew") {
      val tmp = java.nio.file.Files.createTempDirectory("graft-skew-ds").toString
      import org.apache.spark.sql.functions.{col, concat, lit, when}
      Io.parquet(spark, s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(col("text"), lit(" zzhot")).as("text"), col("lang"),
          when(col("doc_id") % 10 =!= 0, lit("srcHot"))
            .otherwise(concat(lit("src"), col("doc_id") % 100)).as("source"),
          (col("n_chars") + 6).as("n_chars"))
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      def sk(name: String, fn: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame): (String, Double) = {
        val m = Skew.maxTaskShuffleRows(spark) { fn(spark, tmp).count(); () }
        spark.catalog.clearCache()
        name -> m.toDouble
      }
      val steps = Seq(
        sk("t18_source_mixture_max_task_rows", ops.TextOps.sourceMixture),
        sk("t23_doc_keywords_max_task_rows", ops.TextOps.docKeywords),
        sk("t24_mixture_rebalance_max_task_rows", ops.TextOps.mixtureRebalance),
        sk("t26_quota_sample_max_task_rows", ops.TextOps.quotaSample),
        sk("x06_train_val_split_max_task_rows", ops.Multimodal.trainValSplit),
        sk("t17_curation_funnel_max_task_rows", ops.TextOps.curationFunnel))
      println(contractLine(Seq("dir" -> dir, "mode" -> mode), steps))
      ops.Warehouse.invalidateDataset(tmp)
      spark.stop()
      return
    }
    // an unrecognized suffix must fail fast, not silently probe nothing
    // (an `appends-only:vce` typo would otherwise run the corpus copy,
    // emit a zero-step contract line and exit 0)
    require(Set("all", "text", "vec").contains(chain),
      s"unknown chain suffix '$chain' (expected :text or :vec)")
    if (appendsOnly) {
      println(contractLine(Seq("dir" -> dir, "mode" -> mode),
        probeAppends(spark, dir, chain)))
      spark.stop()
      return
    }
    ops.Warehouse.invalidateDataset(dir)
    val builds = replicaFamilies(TextChain ++ VecChain)
      .map(f => f.field -> timed(f.build(spark, dir)))
    def q(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      val t = timed { fn(spark, dir).count(); () }
      spark.catalog.clearCache()
      t
    }
    val queries = Seq(
      "t06_dedup_minhash" -> q(ops.TextOps.dedupMinhash),
      "t08_ngram_jaccard" -> q(ops.TextOps.ngramJaccard),
      "t11_dedup_components" -> q(ops.TextOps.dedupComponents),
      "t14_decontaminate" -> q(ops.TextOps.decontaminate),
      "t15_sequence_pack" -> q(ops.TextOps.sequencePack),
      "t17_curation_funnel" -> q(ops.TextOps.curationFunnel),
      "t20_freq_bucket" -> q(ops.TextOps.freqBucket),
      "t23_doc_keywords" -> q(ops.TextOps.docKeywords),
      "v01_sim_topk" -> q(ops.SimOps.simTopk),
      "v05_sim_ivf" -> q(ops.SimOps.simIvf),
      "v06_embed_neardup" -> q(ops.SimOps.embedNearDup),
      "v14_embed_keep" -> q(ops.SimOps.embedKeep),
      "x07_media_dedup" -> q(ops.Multimodal.mediaDedup))
    // ---- append-cost probe (r10): a FIXED-size batch against corpora
    // of different sizes — the O(batch) incremental-maintenance claim
    // is "these numbers stay ~flat between 1x and 8x data". Runs on a
    // hard-linked copy of the text/vector tables (appends mutate the
    // corpus dir; the probe must not touch the shared testdata).
    // per-task straggler counters for the window-heavy serves (r15 #8):
    // max shuffle-read rows any task absorbed — a skew regression (or a
    // re-introduced key-partitioned window) jumps this number at scale
    // before it is a wall-time mystery
    val skew = Seq(
      "t23_max_task_shuffle_rows" -> Skew.maxTaskShuffleRows(spark) {
        ops.TextOps.docKeywords(spark, dir).count(); () }.toDouble,
      "v16_max_task_shuffle_rows" -> Skew.maxTaskShuffleRows(spark) {
        ops.SimOps.adcTopk(spark, dir).count(); () }.toDouble,
      // t26's single-task mass must be the (source, u16) census — bounded
      // at nsrc·2^16 regardless of corpus size — never the corpus itself
      "t26_max_task_shuffle_rows" -> Skew.maxTaskShuffleRows(spark) {
        ops.TextOps.quotaSample(spark, dir).count(); () }.toDouble)
    val appends = probeAppends(spark, dir)
    println(contractLine(Seq("dir" -> dir), builds ++ queries ++ skew ++ appends))
    spark.stop()
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** The families a replica dataset can build. It carries only the
    * documents and embeddings tables, so cube, gcache and gtiff are out.
    * Each chain is in dependency order. */
  private val TextChain = Seq("sig", "textdup", "funnel", "freq", "keywords")
  private val VecChain = Seq("neardup", "ivf")

  private def replicaFamilies(names: Seq[String]): Seq[Families.Family] =
    names.map(n => Families.byName(n).getOrElse(sys.error(s"unknown family '$n'")))

  private def probeAppends(spark: org.apache.spark.sql.SparkSession,
      dir: String, chain: String = "all"): Seq[(String, Double)] = {
    val text = chain == "all" || chain == "text"
    val vec = chain == "all" || chain == "vec"
    ops.Prof.resetDegraded()
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val tmpDs = java.nio.file.Files.createTempDirectory("graft-probe-ds").toString
    for (t <- Seq("documents.parquet", "embeddings.parquet")) {
      // the copy is always a DIRECTORY of part files (appends land as
      // additional files), whether the source is a single parquet file
      // (the generated testdata shape) or already a directory
      val to = java.nio.file.Paths.get(tmpDs, t)
      java.nio.file.Files.createDirectories(to)
      def link(f: java.nio.file.Path, name: String): Unit = {
        val dst = to.resolve(name)
        try java.nio.file.Files.createLink(dst, f)
        catch { case _: Exception => java.nio.file.Files.copy(f, dst); () }
        ()
      }
      val src = java.nio.file.Paths.get(dir, t)
      if (java.nio.file.Files.isRegularFile(src)) link(src, "part-00000.parquet")
      else {
        val st = java.nio.file.Files.list(src)
        try st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .foreach(f => link(f, f.getFileName.toString))
        finally st.close()
      }
    }
    // cold artifact builds on the copy (untimed here — the build costs
    // are measured above on the primary dir)
    replicaFamilies((if (text) TextChain else Nil) ++ (if (vec) VecChain else Nil))
      .foreach(_.build(spark, tmpDs))
    // fixed-size batches: 200 docs (half exact copies, half perturbed),
    // 40 vectors (small enough that bandBits stays put at the 1x corpus
    // — a geometry flip would measure a full rebuild, not an append)
    val docs = Io.parquet(spark, s"$tmpDs/documents.parquet")
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    docs.filter(col("doc_id") < 200)
      .select((col("doc_id") + maxId + 1).as("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" apx"), col("doc_id"))).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("append").parquet(s"$tmpDs/documents.parquet")
    val batchDocs = Io.parquet(spark, s"$tmpDs/documents.parquet")
      .filter(col("doc_id") > maxId)
    val emb = Io.parquet(spark, s"$tmpDs/embeddings.parquet")
    val maxV = emb.agg(max("vec_id")).head.getLong(0)
    emb.filter(col("vec_id") < 40)
      .select((col("vec_id") + maxV + 1).as("vec_id"),
        when(col("vec_id") % 2 === 0, col("embedding"))
          .otherwise(reverse(col("embedding"))).as("embedding"),
        col("label"))
      .write.mode("append").parquet(s"$tmpDs/embeddings.parquet")
    val batchVec = Io.parquet(spark, s"$tmpDs/embeddings.parquet")
      .filter(col("vec_id") > maxV)
    // per-OUTPUT accounting (r13): an append whose wall time grows with
    // scale is only judgeable next to its emitted-pair count — at 100×
    // duplicate density each new doc has ~10× more TRUE duplicates, so
    // a flat cost-per-emitted-pair is the correct asymptotic shape even
    // when the wall clock rises. The artifact pair tables are
    // result-sized, so the counts are cheap scans.
    def pairCount(table: String): Double =
      ops.Warehouse.latest(table, tmpDs)
        .map(p => Io.parquet(spark, s"$p/pairs").count().toDouble)
        .getOrElse(-1.0)
    val tdPre = if (text) pairCount("textdup") else -1.0
    val ndPre = if (vec) pairCount("neardup") else -1.0
    val out =
      (if (text) Seq(
        "sig_append" -> timed(ops.TextOps.appendToSigIndex(spark, tmpDs, batchDocs)),
        "textdup_append" -> timed(ops.TextOps.appendToTextDup(spark, tmpDs, batchDocs)),
        "funnel_append" -> timed(ops.TextOps.appendToFunnel(spark, tmpDs, batchDocs)),
        "freq_append" -> timed(ops.TextOps.appendToFreq(spark, tmpDs, batchDocs)),
        "keywords_append" -> timed(ops.TextOps.appendToKeywords(spark, tmpDs, batchDocs)))
      else Seq.empty) ++
      (if (vec) Seq(
        "neardup_append" -> timed(ops.SimOps.appendToNearDup(spark, tmpDs, batchVec)),
        "ivf_append" -> timed(ops.SimOps.appendToIvf(spark, tmpDs, batchVec)))
      else Seq.empty)
    val outCounts =
      (if (text) Seq("textdup_append_pairs" -> (pairCount("textdup") - tdPre))
       else Seq.empty) ++
      (if (vec) Seq("neardup_append_pairs" -> (pairCount("neardup") - ndPre))
       else Seq.empty)
    // let any staged (off-critical-path) compaction settle before the
    // sweep — its wall time is deliberately NOT in any append step
    ops.Warehouse.awaitStagedCompactions()
    ops.Warehouse.invalidateDataset(tmpDs)
    // degradation census (Prof): every safe fallback the appends took —
    // a healthy probe reports 0; a nonzero count means the steady state
    // pays a full-recompute path per batch. `append_rebuilds` counts
    // every append that rebuilt, deliberate policy rebuilds included.
    // …and beside it the staged-compaction miss counter: a soak where
    // staging persistently fails would otherwise only show as backstop
    // latency (the synchronous slack-2 rewrite riding an append)
    out ++ outCounts ++ Seq(
      "degraded" -> ops.Prof.degradedTotal.toDouble,
      "append_rebuilds" -> ops.Warehouse.appendCensus
        .collect { case (t, n) if t.taken == "rebuild" => n }.sum.toDouble,
      "stage_misses" -> ops.Warehouse.stageMisses.get().toDouble)
  }
}
