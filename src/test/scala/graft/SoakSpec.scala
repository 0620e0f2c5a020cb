package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.ops.{SimOps, TextOps, Warehouse}

/** Round-13 long-soak: ~50 sequential micro-batch appends through the
  * streaming maintenance path. The carry+append contract adds O(1)
  * files per table per batch, so WITHOUT compaction the soak would
  * leave each artifact table with ~50+ part files — scan planning and
  * the row-group pruning the freq crossing probe / funnel epoch delta
  * depend on degrade with exactly that growth. With the budget set low
  * the soak must (a) stay row-identical to a from-scratch rebuild at
  * the final corpus version, and (b) plateau every append-maintained
  * table's file count under the budget. */
class SoakSpec extends SparkSpecBase {

  private def partsOf(dir: String, sub: String = ""): Int =
    Warehouse.partFileCount(java.nio.file.Paths.get(
      if (sub.isEmpty) dir else s"$dir/$sub"))

  /** Every maintenance call since `before` took the incremental path,
    * exactly `n` per family: a soak that silently rebuilds per batch
    * would still pass its rebuild-equality locks. */
  private def allIncremental(before: Map[Warehouse.Taken, Long], n: Int,
      families: String*): Unit = {
    val calls = MaintainSpec.since(before)
    assert(calls == families.map(f => Warehouse.Taken(f, "incremental") -> n.toLong).toMap,
      s"soak appends took: $calls")
  }

  test("50-batch text-chain soak: append==rebuild, compaction bounds every table's file count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val budget = 8
    val prevBudget = sys.props.get("graft.compact.maxFiles")
    sys.props("graft.compact.maxFiles") = budget.toString
    val ds = java.nio.file.Files.createTempDirectory("graft-soak-text").toString
    graft.ops.Prof.resetDegraded()
    try {
      val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      base.write.parquet(s"$ds/documents.parquet")
      TextOps.clearSigCache()
      TextOps.clearTextDupCache()
      TextOps.clearFunnelCache()
      TextOps.clearFreqCache()
      TextOps.clearKeywordsCache()
      TextOps.buildFunnel(spark, ds) // builds sig + textdup transitively
      TextOps.buildFreq(spark, ds)
      TextOps.buildKeywords(spark, ds)
      val census0 = Warehouse.appendCensus
      // stream rows reference a source doc: copy=true ships its exact
      // text (cross-batch exact-dup + banding pair), else a perturbed
      // unique text — every batch grows pairs/, verify/, hashes/,
      // post/ and scores/ by at least one file
      val input = MemoryStream[(Long, Long, Boolean)]
      val q = input.toDF().toDF("doc_id", "src_id", "copy")
        .writeStream.outputMode(OutputMode.Append)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val docs = batch.join(
              base.select(col("doc_id").as("src_id"), col("text"),
                col("lang"), col("source"), col("n_chars")), "src_id")
            .select(col("doc_id"),
              when(col("copy"), col("text"))
                .otherwise(concat(col("text"), lit(" zq"), col("doc_id"))).as("text"),
              col("lang"), col("source"), col("n_chars"))
          if (!docs.isEmpty) {
            docs.write.mode("append").parquet(s"$ds/documents.parquet")
            TextOps.appendToSigIndex(spark, ds, docs)
            TextOps.appendToTextDup(spark, ds, docs)
            TextOps.appendToFunnel(spark, ds, docs)
            TextOps.appendToFreq(spark, ds, docs)
            TextOps.appendToKeywords(spark, ds, docs)
          }
          ()
        }
        .start()
      try {
        for (i <- 0 until 50) {
          input.addData(
            (10000L + 2 * i, (i * 7L) % 500L, true),
            (10001L + 2 * i, (i * 11L) % 500L, false))
          q.processAllAvailable()
        }
      } finally q.stop()
      // drain any in-flight staged compactions, then run ONE more batch:
      // the textdup carry ADOPTS the staged compacted copies, so the
      // plateau below observes the steady-state post-adoption counts
      // (the rewrite itself never rode an append's critical path)
      Warehouse.awaitStagedCompactions()
      val extraSrc = base.filter(col("doc_id") < 2)
        .select((col("doc_id") + 30000).as("doc_id"),
          concat(col("text"), lit(" zfin"), col("doc_id")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      extraSrc.write.mode("append").parquet(s"$ds/documents.parquet")
      val extra = spark.read.parquet(s"$ds/documents.parquet")
        .filter(col("doc_id") >= 30000)
      TextOps.appendToSigIndex(spark, ds, extra)
      TextOps.appendToTextDup(spark, ds, extra)
      TextOps.appendToFunnel(spark, ds, extra)
      TextOps.appendToFreq(spark, ds, extra)
      TextOps.appendToKeywords(spark, ds, extra)
      allIncremental(census0, 51, "sig", "textdup", "funnel", "freq", "keywords")
      // --- file-count plateau after 51 batches. The bound is
      // size-floor (1 at these byte sizes) + budget + one batch's
      // files: the sync compaction trigger sits at floor + budget, and
      // the staged-adoption tables land at floor + O(batch) — without
      // compaction sig alone would carry 50+ files.
      val bound = budget + 3
      val sig = Warehouse.latest("sig", ds).get
      val td = Warehouse.latest("textdup", ds).get
      val fn = Warehouse.latest("funnel", ds).get
      val fq = Warehouse.latest("freq", ds).get
      val kw = Warehouse.latest("keywords", ds).get
      val counts = Seq(
        "sig" -> partsOf(sig),
        "textdup/pairs" -> partsOf(td, "pairs"),
        "textdup/pairbk" -> partsOf(td, "pairbk"),
        "textdup/verify" -> partsOf(td, "verify"),
        "textdup/nearpairs" -> partsOf(td, "nearpairs"),
        "textdup/simhash" -> partsOf(td, "simhash"),
        "funnel/hashes" -> partsOf(fn, "hashes"),
        "freq/post" -> partsOf(fq, "post"),
        "freq/scores" -> partsOf(fq, "scores"),
        "keywords/tf" -> partsOf(kw, "tf"))
      for ((name, n) <- counts)
        assert(n <= bound, s"$name carries $n part files after the soak (bound $bound)")
      // no append ever took a degraded fallback (epoch reads/carries
      // all healthy) — the census the probes also print
      assert(graft.ops.Prof.degradedTotal == 0,
        s"appends degraded: ${graft.ops.Prof.degraded}")
      // …and every staged (off-path) compaction attempt succeeded: a
      // persistent staging failure would silently demote the soak to
      // the synchronous backstop (correct, but the spike the staging
      // path exists to keep off appends)
      assert(Warehouse.stageMisses.get() == 0,
        s"staged compactions missed ${Warehouse.stageMisses.get()} times")
      // at least one table must have actually compacted (soak is long
      // enough that the budget was crossed, not merely approached)
      assert(counts.exists(_._2 < 5),
        s"no table shows a compacted (low) file count: $counts")
      // --- the soaked chain equals a from-scratch build at the final
      // corpus version (compaction rewrote files, never rows)
      def snap() = (
        TextOps.dedupMinhash(spark, ds).collect(),
        TextOps.ngramJaccard(spark, ds).collect(),
        TextOps.dedupComponents(spark, ds).collect(),
        TextOps.funnelIndex(spark, ds).orderBy("stage", "doc_id").collect(),
        TextOps.freqBucket(spark, ds).collect(),
        TextOps.nearPairs(spark, ds).orderBy("doc_a", "doc_b").collect(),
        TextOps.docKeywords(spark, ds).collect())
      val (p1, j1, c1, f1, b1, n1, k1) = snap()
      TextOps.clearSigCache()
      TextOps.clearTextDupCache()
      TextOps.clearFunnelCache()
      TextOps.clearFreqCache()
      TextOps.clearKeywordsCache()
      Warehouse.invalidate("sig", ds)
      Warehouse.invalidate("textdup", ds)
      Warehouse.invalidate("funnel", ds)
      Warehouse.invalidate("freq", ds)
      Warehouse.invalidate("keywords", ds)
      val (p2, j2, c2, f2, b2, n2, k2) = snap()
      assert(p1.sameElements(p2), "soaked pairs drifted from rebuild")
      assert(j1.sameElements(j2), "soaked verify drifted from rebuild")
      assert(c1.sameElements(c2), "soaked components drifted from rebuild")
      assert(f1.sameElements(f2), "soaked funnel drifted from rebuild")
      assert(b1.sameElements(b2), "soaked freq buckets drifted from rebuild")
      assert(n1.sameElements(n2), "soaked nearpairs drifted from rebuild")
      assert(k1.sameElements(k2), "soaked keywords drifted from rebuild")
    } finally {
      prevBudget match {
        case Some(v) => sys.props("graft.compact.maxFiles") = v
        case None => sys.props.remove("graft.compact.maxFiles")
      }
      Warehouse.invalidateDataset(ds)
    }
  }

  test("30-batch near-dup soak: members/ and pair tables stay under budget, manifest == rebuild") {
    // the members/ table is the r13 addition that makes the append
    // O(batch-hit buckets); it carries by hard link + one batch file
    // per append, so it is exactly the table a long soak must show
    // plateauing — and its row set must survive 30 carries + however
    // many compaction rewrites bit-identically
    val budget = 8
    val prevBudget = sys.props.get("graft.compact.maxFiles")
    sys.props("graft.compact.maxFiles") = budget.toString
    val ds = java.nio.file.Files.createTempDirectory("graft-soak-nd").toString
    try {
      val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      base.write.parquet(s"$ds/embeddings.parquet")
      SimOps.clearNearDupCache()
      SimOps.buildNearDup(spark, ds)
      val census0 = Warehouse.appendCensus
      for (i <- 0 until 30) {
        // one exact copy (a guaranteed cross-batch pair in the same
        // buckets) + one fresh vector per batch
        val batch = base.filter(col("vec_id") === (i * 13L) % 500L)
          .select((col("vec_id") + 10000L + 2 * i).as("vec_id"),
            col("embedding"), col("label"))
          .unionByName(base.filter(col("vec_id") === (i * 17L + 1) % 500L)
            .select((col("vec_id") + 10001L + 2 * i).as("vec_id"),
              reverse(col("embedding")).as("embedding"), col("label")))
        batch.write.mode("append").parquet(s"$ds/embeddings.parquet")
        SimOps.appendToNearDup(spark, ds, batch)
      }
      allIncremental(census0, 30, "neardup")
      val nd = Warehouse.latest("neardup", ds).get
      val counts = Seq(
        "neardup/members" -> partsOf(nd, "members"),
        "neardup/pairs" -> partsOf(nd, "pairs"),
        "neardup/pairbk" -> partsOf(nd, "pairbk"))
      // bound = size floor (1 at these byte sizes) + budget: the
      // compaction trigger sits a full budget above the floor so a
      // large table's rewrite buys ~budget appends
      for ((name, n) <- counts)
        assert(n <= budget + 1, s"$name carries $n part files after the soak (bound ${budget + 1})")
      assert(counts.exists(_._2 < 5),
        s"no table shows a compacted (low) file count: $counts")
      def snaps() = (
        SimOps.embedNearDup(spark, ds).collect(),
        SimOps.embedKeep(spark, ds).collect(),
        spark.read.parquet(s"${Warehouse.latest("neardup", ds).get}/members")
          .select("band", "key", "vec_id")
          .collect().map(_.mkString("|")).sorted)
      val (p1, k1, m1) = snaps()
      SimOps.clearNearDupCache()
      Warehouse.invalidate("neardup", ds)
      val (p2, k2, m2) = snaps()
      assert(p1.sameElements(p2), "soaked near-dup pairs drifted from rebuild")
      assert(k1.sameElements(k2), "soaked keep set drifted from rebuild")
      assert(m1.sameElements(m2), "soaked members/ drifted from the rebuild's bucket membership")
    } finally {
      prevBudget match {
        case Some(v) => sys.props("graft.compact.maxFiles") = v
        case None => sys.props.remove("graft.compact.maxFiles")
      }
      Warehouse.invalidateDataset(ds)
    }
  }

  test("30-batch ivf soak: per-cell file counts stay under budget, index == frozen-model rebuild") {
    val budget = 8
    val prevBudget = sys.props.get("graft.compact.maxFiles")
    sys.props("graft.compact.maxFiles") = budget.toString
    val ds = java.nio.file.Files.createTempDirectory("graft-soak-ivf").toString
    try {
      val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      base.write.parquet(s"$ds/embeddings.parquet")
      SimOps.clearIvfCaches()
      SimOps.buildIvf(spark, ds)
      val census0 = Warehouse.appendCensus
      // 30 tiny batches (60 vectors on 500 — inside the MaxIvfGrowth
      // contract, so the model stays frozen and every batch takes the
      // assignment-only append); each lands one file per touched cell
      for (i <- 0 until 30) {
        val batch = base.filter(col("vec_id").isin((i * 13L) % 500L, (i * 17L + 1) % 500L))
          .select((col("vec_id") + 10000L + 2 * i).as("vec_id"),
            reverse(col("embedding")).as("embedding"), col("label"))
        spark.read.parquet(s"$ds/embeddings.parquet").unionByName(batch)
          .write.mode("overwrite").parquet(s"$ds/embeddings2.parquet")
        spark.read.parquet(s"$ds/embeddings2.parquet")
          .write.mode("overwrite").parquet(s"$ds/embeddings.parquet")
        SimOps.clearIvfCaches()
        SimOps.appendToIvf(spark, ds, batch)
      }
      allIncremental(census0, 30, "ivf")
      val ivf = Warehouse.latest("ivf", ds).get
      val cells = java.nio.file.Paths.get(ivf, "cells")
      val leafCounts = {
        val l = java.nio.file.Files.list(cells)
        try { import scala.jdk.CollectionConverters._
          l.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
            .map(p => p.getFileName.toString -> Warehouse.partFileCount(p)).toList }
        finally l.close()
      }
      assert(leafCounts.nonEmpty, "no cell dirs in the soaked inverted file")
      // floor(1) + budget — see the near-dup soak's bound note
      for ((cell, n) <- leafCounts)
        assert(n <= budget + 1, s"cell $cell carries $n part files after the soak (bound ${budget + 1})")
      assert(leafCounts.exists(_._2 < 5),
        s"no cell shows a compacted (low) file count: $leafCounts")
      def snaps() = (
        SimOps.ivfIndexQ(spark, ds).collect(),
        SimOps.simIvf(spark, ds).collect())
      val (i1, v1) = snaps()
      SimOps.clearIvfCaches()
      Warehouse.invalidate("ivf", ds)
      val (i2, v2) = snaps()
      assert(i1.sameElements(i2), "soaked inverted file drifted from full assignment")
      assert(v1.sameElements(v2), "v05 over the soaked index drifted")
    } finally {
      prevBudget match {
        case Some(v) => sys.props("graft.compact.maxFiles") = v
        case None => sys.props.remove("graft.compact.maxFiles")
      }
      Warehouse.invalidateDataset(ds)
    }
  }

  test("30-batch pixel-chain soak: cube/cache file counts plateau, chain == rebuild") {
    // the pixel chain's appends (cube, granule cache, geotiff frames)
    // had per-append rebuild-equality rows (IncrementalSpec) but no
    // long-soak coverage: without compaction the cube table and every
    // cache tile leaf gain one file per micro-batch forever
    val budget = 8
    val prevBudget = sys.props.get("graft.compact.maxFiles")
    sys.props("graft.compact.maxFiles") = budget.toString
    val ds = java.nio.file.Files.createTempDirectory("graft-soak-px").toString
    try {
      val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      val start = "1995-12-31"
      li.filter(col("l_shipdate") <= lit(start))
        .write.parquet(s"$ds/lineitem.parquet")
      graft.ops.Pipeline.clearCubeCache()
      graft.ops.Pipeline.clearGranuleCacheCache()
      graft.ops.Export.clearGtiffCache()
      graft.ops.Pipeline.buildCube(spark, ds)
      graft.ops.Pipeline.buildGranuleCache(spark, ds)
      graft.ops.Export.buildGeoTiffFrames(spark, ds)
      val census0 = Warehouse.appendCensus
      // 30 strictly-later monthly batches (the cube/cache append
      // contract: appended dates follow the prior corpus)
      val b0 = java.time.LocalDate.parse("1996-01-01")
      var prevS = start
      for (i <- 1 to 30) {
        val nextS = b0.plusMonths(i.toLong).minusDays(1).toString
        li.filter(col("l_shipdate") > lit(prevS) &&
            col("l_shipdate") <= lit(nextS))
          .write.mode("append").parquet(s"$ds/lineitem.parquet")
        graft.ops.Pipeline.clearCubeCache()
        graft.ops.Pipeline.clearGranuleCacheCache()
        graft.ops.Export.clearGtiffCache()
        val batchRaw = graft.ops.Pixels.pixels(spark, ds)
          .filter(col("date") > lit(prevS) && col("date") <= lit(nextS))
        graft.ops.Pipeline.appendToCube(spark, ds, batchRaw)
        graft.ops.Pipeline.appendToGranuleCache(spark, ds, batchRaw)
        graft.ops.Export.appendToGeoTiffFrames(spark, ds)
        prevS = nextS
      }
      allIncremental(census0, 30, "cube", "gcache", "gtiff")
      // --- file-count plateau: floor (1 at these byte sizes) + budget
      val cube = Warehouse.latest("cube", ds).get
      val gc = Warehouse.latest("gcache", ds).get
      val cubeN = partsOf(cube, "cube")
      assert(cubeN <= budget + 1,
        s"cube carries $cubeN part files after the soak (bound ${budget + 1})")
      val leaves = {
        val l = java.nio.file.Files.list(java.nio.file.Paths.get(gc, "cache"))
        try { import scala.jdk.CollectionConverters._
          l.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
            .map(p => p.getFileName.toString -> Warehouse.partFileCount(p))
            .toList }
        finally l.close()
      }
      assert(leaves.nonEmpty, "no tile dirs in the soaked granule cache")
      for ((tile, n) <- leaves)
        assert(n <= budget + 1,
          s"cache $tile carries $n part files after the soak (bound ${budget + 1})")
      assert(cubeN < 5 || leaves.exists(_._2 < 5),
        s"nothing shows a compacted (low) file count: cube=$cubeN $leaves")
      // --- the soaked chain equals a from-scratch build at the final
      // corpus version (p05 summary, p08 cache round trip, x08 frames)
      def snap() = (
        graft.ops.Pipeline.pipelineSummaryQ(spark, ds).collect(),
        graft.ops.Pipeline.pipelineCachedQ(spark, ds).collect(),
        graft.ops.Export.sinkManifestQ(spark, ds).collect())
      val (s1, c1, f1) = snap()
      graft.ops.Pipeline.clearCubeCache()
      graft.ops.Pipeline.clearGranuleCacheCache()
      graft.ops.Export.clearGtiffCache()
      Warehouse.invalidate("cube", ds)
      Warehouse.invalidate("gcache", ds)
      Warehouse.invalidate("gtiff", ds)
      val (s2, c2, f2) = snap()
      assert(s1.sameElements(s2), "soaked cube summary drifted from rebuild")
      assert(c1.sameElements(c2), "soaked cache round trip drifted from rebuild")
      assert(f1.sameElements(f2), "soaked frame manifest drifted from rebuild")
    } finally {
      prevBudget match {
        case Some(v) => sys.props("graft.compact.maxFiles") = v
        case None => sys.props.remove("graft.compact.maxFiles")
      }
      Warehouse.invalidateDataset(ds)
    }
  }
}
