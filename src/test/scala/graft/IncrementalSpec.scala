package graft

import org.apache.spark.sql.functions._
import graft.ops.{Pipeline, TextOps, Warehouse}

/** Round-9 incremental maintenance: the funnel, the text near-dup
  * manifest and the merged cube update from a batch instead of
  * rebuilding, and every updater's result is row-identical to a full
  * rebuild at the new corpus version. */
class IncrementalSpec extends SparkSpecBase {

  private def tmpDs(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Base corpus: the sf0.001 documents table copied into a mutable
    * dataset dir this suite owns. */
  private def seedDocs(ds: String) = {
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base.write.mode("overwrite").parquet(s"$ds/documents.parquet")
    base
  }

  /** A batch of appended documents with every interesting shape:
    * EXACT copies of prior docs (stage-1 hash drops + est_jaccard-1.0
    * banding pairs), a batch-internal exact-dup pair, and fresh
    * unique docs. All ids exceed the prior corpus (monotonic
    * append). */
  private def makeBatch(base: org.apache.spark.sql.DataFrame) = {
    val copies = base.filter(col("doc_id").isin(3L, 17L, 42L))
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val twinText = concat(col("text"), lit(" twin mark"))
    val twin = base.filter(col("doc_id") === 5L)
      .select(lit(1200L).as("doc_id"), twinText.as("text"), col("lang"),
        col("source"), col("n_chars"))
    val twin2 = base.filter(col("doc_id") === 5L)
      .select(lit(1201L).as("doc_id"), twinText.as("text"), col("lang"),
        col("source"), col("n_chars"))
    val fresh = base.filter(col("doc_id").isin(100L, 101L))
      .select((col("doc_id") + 1300L).as("doc_id"),
        concat(col("text"), lit(" zq"), col("doc_id")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    copies.unionByName(twin).unionByName(twin2).unionByName(fresh)
  }

  /** Run one append and assert the path it took: a lock of "append ==
    * rebuild" proves nothing unless the append really ran incrementally. */
  private def expect(family: String, taken: String = "incremental",
      cause: String = "")(f: => Unit): Unit = {
    val (t, _) = MaintainSpec.taken(family)(f)
    assert(t == Warehouse.Taken(family, taken, cause), s"$family append took $t")
  }

  private def resetTextCaches(): Unit = {
    TextOps.clearSigCache()
    TextOps.clearTextDupCache()
    TextOps.clearFunnelCache()
  }

  test("appendToTextDup + appendToFunnel == full rebuild at the new corpus version") {
    val ds = tmpDs("graft-inc-text")
    val base = seedDocs(ds)
    resetTextCaches()
    TextOps.buildSigIndex(spark, ds)
    TextOps.buildTextDup(spark, ds)
    TextOps.buildFunnel(spark, ds)
    // inject a fabricated prior pair whose members share NO band
    // bucket: the incremental recheck must drop it (the cap-crossing
    // death path, exercised without a 4096-member bucket)
    val priorDup = Warehouse.latest("textdup", ds).get
    import spark.implicits._
    Seq((100L, 101L, 0.875)).toDF("doc_a", "doc_b", "est_jaccard")
      .write.mode("append").parquet(s"$priorDup/pairs")
    // The recheck only runs when the batch actually pushes a bucket
    // over the cap (otherwise the fast path carries the prior pair
    // files wholesale — see the fast-path test below). Stage a REAL
    // crossing without 4096 members: pick a SINGLETON band bucket of a
    // copied doc (its batch copy re-hits every one of its buckets; a
    // singleton has no other member whose mining could diverge) and
    // poison its census count to sit exactly at the cap.
    val sig = spark.read.parquet(Warehouse.latest("sig", ds).get)
    val sizesRows = spark.read.parquet(s"$priorDup/sizes")
      .as[(Int, String, Long)].collect()
    val sizesMap = sizesRows.map { case (b, k, n) => ((b, k), n) }.toMap
    val poison = Seq(3L, 17L, 42L).flatMap { id =>
      val r = sig.filter(col("doc_id") === id).head()
      (0 until 4).map(b =>
        (b, r.getAs[String](s"s${2 * b}") + r.getAs[String](s"s${2 * b + 1}")))
    }.find(k => sizesMap.getOrElse(k, 0L) == 1L)
      .getOrElse(fail("no singleton bucket among the copied docs"))
    sizesRows.toSeq.map { case (b, k, n) =>
      (b, k, if ((b, k) == poison) TextOps.MaxBucketMembers.toLong else n) }
      .toDF("band", "key", "n_members")
      .write.mode("overwrite").parquet(s"$priorDup/sizes")
    val batch = makeBatch(base)
    base.unionByName(batch).write.mode("overwrite")
      .parquet(s"$ds/documents.parquet")
    expect("sig")(TextOps.appendToSigIndex(spark, ds, batch))
    expect("textdup")(TextOps.appendToTextDup(spark, ds, batch))
    expect("funnel")(TextOps.appendToFunnel(spark, ds, batch))
    def snap() = (
      TextOps.dedupMinhash(spark, ds).collect(),
      TextOps.ngramJaccard(spark, ds).collect(),
      TextOps.dedupComponents(spark, ds).collect(),
      TextOps.componentAudit(spark, ds).collect(),
      TextOps.funnelIndex(spark, ds).orderBy("stage", "doc_id").collect())
    def nearSnap() = TextOps.nearPairs(spark, ds)
      .orderBy("doc_a", "doc_b").collect()
    val (p1, v1, c1, a1, f1) = snap()
    val n1 = nearSnap()
    // the batch's exact copies band as est-1.0 pairs but are
    // byte-identical — nearpairs must exclude them
    assert(n1.length < p1.length,
      "exact-copy pairs leaked into nearpairs (or none were banded)")
    // the cross-batch copy pairs surfaced with exact-dup estimates
    for (id <- Seq(3L, 17L, 42L))
      assert(p1.exists(r => r.getLong(0) == id && r.getLong(1) == id + 1000L
          && r.getDouble(2) == 1.0),
        s"cross-batch copy pair ($id, ${id + 1000L}) missing")
    // the fabricated no-shared-bucket pair died in the recheck
    assert(!p1.exists(r => r.getLong(0) == 100L && r.getLong(1) == 101L),
      "recheck kept a prior pair whose members share no under-cap bucket")
    // full rebuild from scratch at the same corpus version
    resetTextCaches()
    Warehouse.invalidate("sig", ds)
    Warehouse.invalidate("textdup", ds)
    Warehouse.invalidate("funnel", ds)
    val (p2, v2, c2, a2, f2) = snap()
    assert(p1.sameElements(p2), s"pairs drifted: ${p1.length} vs ${p2.length}")
    assert(v1.sameElements(v2), s"verify drifted: ${v1.length} vs ${v2.length}")
    assert(c1.sameElements(c2), s"components drifted: ${c1.length} vs ${c2.length}")
    assert(a1.sameElements(a2), "component audit drifted")
    assert(f1.sameElements(f2), s"funnel stages drifted: ${f1.length} vs ${f2.length}")
    assert(n1.sameElements(nearSnap()),
      s"nearpairs drifted from rebuild: ${n1.length} rows")
    Warehouse.invalidateDataset(ds)
  }

  test("pure-add funnel append takes the epoch delta path and still equals a full rebuild") {
    // no staged death: the textdup append carries its pair-state epoch,
    // the funnel append sees it match its recorded pairsepoch and takes
    // the batch-bounded stage-2 delta (no full pair join) — the batch's
    // near-dup twins must still drop at stage 2 exactly as a rebuild
    // derives, and every other stage must match row-for-row
    val ds = tmpDs("graft-inc-funnel-delta")
    val base = seedDocs(ds)
    resetTextCaches()
    TextOps.buildSigIndex(spark, ds)
    TextOps.buildTextDup(spark, ds)
    TextOps.buildFunnel(spark, ds)
    val batch = makeBatch(base)
    base.unionByName(batch).write.mode("overwrite")
      .parquet(s"$ds/documents.parquet")
    // Pin the delta path actually ENGAGING, not falling back (the full
    // path is also rebuild-identical, so output equality alone is
    // vacuous): engagement requires the funnel's build-recorded
    // pairsepoch to equal the textdup epoch AT APPEND TIME, i.e. the
    // build epochs match and the pure-add textdup append carries its
    // epoch unchanged. A broken carry or a renamed epoch table fails
    // here before it silently degrades the append to the full join.
    def epochOf(fam: String, table: String): String = spark.read.parquet(
      s"${Warehouse.latest(fam, ds).get}/$table").head().getString(0)
    val e0 = epochOf("textdup", "epoch")
    assert(e0 == epochOf("funnel", "pairsepoch"),
      "funnel build did not record the textdup epoch")
    expect("sig")(TextOps.appendToSigIndex(spark, ds, batch))
    expect("textdup")(TextOps.appendToTextDup(spark, ds, batch))
    assert(epochOf("textdup", "epoch") == e0,
      "pure-add textdup append bumped the epoch — funnel delta would disengage")
    expect("funnel")(TextOps.appendToFunnel(spark, ds, batch))
    assert(epochOf("funnel", "pairsepoch") == e0,
      "funnel append did not carry the incorporated epoch forward")
    val f1 = TextOps.funnelIndex(spark, ds).orderBy("stage", "doc_id").collect()
    resetTextCaches()
    Warehouse.invalidate("sig", ds)
    Warehouse.invalidate("textdup", ds)
    Warehouse.invalidate("funnel", ds)
    val f2 = TextOps.funnelIndex(spark, ds).orderBy("stage", "doc_id").collect()
    assert(f1.sameElements(f2),
      s"delta-path funnel stages drifted: ${f1.length} vs ${f2.length}")
    Warehouse.invalidateDataset(ds)
  }

  test("funnel append == rebuild on degenerate shapes: null texts and sub-shingle twins") {
    // the pinned-survivor build and the incremental updater
    // (k3new/k4new/k5new) take different evaluation routes; the
    // degenerate docs from the mining-dispatch spec (null texts never
    // shingle, <3-token twins dedup at stage 1) must not let the
    // routes diverge at the edges — in the BASE corpus and the batch
    import spark.implicits._
    val ds = tmpDs("graft-inc-degen")
    val base0 = seedDocs(ds)
    val degenBase = Seq(
      (2001L, null.asInstanceOf[String], "en", "web", 0L),
      (2002L, "tiny doc", "en", "web", 8L),
      (2003L, "tiny doc", "en", "web", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val base = base0.unionByName(degenBase)
    base.write.mode("overwrite").parquet(s"$ds/documents.parquet")
    resetTextCaches()
    TextOps.buildSigIndex(spark, ds)
    TextOps.buildTextDup(spark, ds)
    TextOps.buildFunnel(spark, ds)
    // batch: a fresh null text, a THIRD tiny twin (cross-batch exact
    // dup of a degenerate group), and an exact copy of a normal doc
    val batch = Seq(
      (3001L, null.asInstanceOf[String], "en", "web", 0L),
      (3002L, "tiny doc", "en", "web", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(base0.filter(col("doc_id") === 7L)
        .select(lit(3003L).as("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars")))
    base.unionByName(batch).write.mode("overwrite")
      .parquet(s"$ds/documents.parquet")
    expect("sig")(TextOps.appendToSigIndex(spark, ds, batch))
    expect("textdup")(TextOps.appendToTextDup(spark, ds, batch))
    expect("funnel")(TextOps.appendToFunnel(spark, ds, batch))
    val f1 = TextOps.funnelIndex(spark, ds).orderBy("stage", "doc_id").collect()
    // the degenerate batch docs actually flowed: the twin and the null
    // text both die at stage 1 (exact dedup), never re-entering
    val k1 = f1.filter(_.getString(0) == "01_exact_dedup").map(_.getLong(1)).toSet
    assert(!k1.contains(3002L), "third tiny twin survived exact dedup")
    assert(!k1.contains(3003L), "cross-batch exact copy survived exact dedup")
    resetTextCaches()
    Warehouse.invalidate("sig", ds)
    Warehouse.invalidate("textdup", ds)
    Warehouse.invalidate("funnel", ds)
    val f2 = TextOps.funnelIndex(spark, ds).orderBy("stage", "doc_id").collect()
    assert(f1.sameElements(f2),
      s"degenerate-shape funnel append drifted from rebuild: " +
        s"${f1.length} vs ${f2.length}; " +
        s"extra=${(f1.map(_.toString).toSet -- f2.map(_.toString)).take(5)} " +
        s"missing=${(f2.map(_.toString).toSet -- f1.map(_.toString)).take(5)}")
    Warehouse.invalidateDataset(ds)
  }

  test("appendToTextDup fast path: no cap crossing carries pairs/pairbk/verify by file") {
    val ds = tmpDs("graft-inc-textfast")
    val base = seedDocs(ds)
    resetTextCaches()
    TextOps.buildSigIndex(spark, ds)
    TextOps.buildTextDup(spark, ds)
    val prior = Warehouse.latest("textdup", ds).get
    def firstPart(sub: String): String = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(prior, sub))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("part-")).toSeq.head
      } finally st.close()
    }
    val (pp, pb, pv) = (firstPart("pairs"), firstPart("pairbk"), firstPart("verify"))
    val batch = makeBatch(base)
    base.unionByName(batch).write.mode("overwrite")
      .parquet(s"$ds/documents.parquet")
    expect("sig")(TextOps.appendToSigIndex(spark, ds, batch))
    expect("textdup")(TextOps.appendToTextDup(spark, ds, batch))
    val incDir = Warehouse.latest("textdup", ds).get
    assert(incDir != prior, "append produced no new textdup version")
    for ((sub, f) <- Seq("pairs" -> pp, "pairbk" -> pb, "verify" -> pv))
      assert(java.nio.file.Files.exists(
          java.nio.file.Paths.get(incDir, sub, f)),
        s"no-crossing append did not carry $sub by file")
    def snap() = (
      TextOps.dedupMinhash(spark, ds).collect(),
      TextOps.ngramJaccard(spark, ds).collect(),
      TextOps.dedupComponents(spark, ds).collect())
    val (p1, v1, c1) = snap()
    resetTextCaches()
    Warehouse.invalidate("sig", ds)
    Warehouse.invalidate("textdup", ds)
    val (p2, v2, c2) = snap()
    assert(p1.sameElements(p2), s"fast-path pairs drifted: ${p1.length} vs ${p2.length}")
    assert(v1.sameElements(v2), s"fast-path verify drifted: ${v1.length} vs ${v2.length}")
    assert(c1.sameElements(c2), s"fast-path components drifted: ${c1.length} vs ${c2.length}")
    Warehouse.invalidateDataset(ds)
  }

  test("appendToFunnel: batch exact-dups drop at stage 1, survivors flow through the gates") {
    val ds = tmpDs("graft-inc-funnel")
    val base = seedDocs(ds)
    resetTextCaches()
    TextOps.buildFunnel(spark, ds)
    val batch = makeBatch(base)
    base.unionByName(batch).write.mode("overwrite")
      .parquet(s"$ds/documents.parquet")
    expect("sig")(TextOps.appendToSigIndex(spark, ds, batch))
    expect("textdup")(TextOps.appendToTextDup(spark, ds, batch))
    expect("funnel")(TextOps.appendToFunnel(spark, ds, batch))
    val stages = TextOps.funnelIndex(spark, ds).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // exact copies of prior docs lose stage 1 to the prior keeper
    for (id <- Seq(1003L, 1017L, 1042L))
      assert(!stages("01_exact_dedup").contains(id), s"copy $id survived exact dedup")
    // the batch-internal twin pair keeps only its lowest id at stage 1
    assert(stages("01_exact_dedup").contains(1200L), "lower twin lost stage 1")
    assert(!stages("01_exact_dedup").contains(1201L), "higher twin survived stage 1")
    // fresh unique docs reach stage 1
    for (id <- Seq(1400L, 1401L))
      assert(stages("01_exact_dedup").contains(id), s"fresh doc $id lost stage 1")
    Warehouse.invalidateDataset(ds)
  }

  test("appendToFunnel falls back to a full rebuild when the batch would extend the eval head") {
    // prior corpus of 10 docs (all inside the doc_id < EvalDocs eval
    // range); the batch lands at ids 10-14, still < EvalDocs — it would
    // GROW the decontamination eval set, so the incremental path must
    // decline and the result must still equal a from-scratch build
    val ds = tmpDs("graft-inc-evalhead")
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 10L)
    base.write.mode("overwrite").parquet(s"$ds/documents.parquet")
    resetTextCaches()
    TextOps.buildFunnel(spark, ds)
    // batch doc 12 shares a long n-gram run with prior doc 2 (an eval
    // doc): a buggy incremental would self-match it against the eval
    // set and drop it; the full build keeps every eval-head doc
    val batch = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id").between(30L, 33L))
      .select((col("doc_id") - 20L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    base.unionByName(batch).write.mode("overwrite")
      .parquet(s"$ds/documents.parquet")
    expect("sig")(TextOps.appendToSigIndex(spark, ds, batch))
    expect("textdup")(TextOps.appendToTextDup(spark, ds, batch))
    expect("funnel", "rebuild", "eval-head")(TextOps.appendToFunnel(spark, ds, batch))
    val inc = TextOps.funnelIndex(spark, ds).orderBy("stage", "doc_id").collect()
    resetTextCaches()
    Warehouse.invalidate("sig", ds)
    Warehouse.invalidate("textdup", ds)
    Warehouse.invalidate("funnel", ds)
    val full = TextOps.funnelIndex(spark, ds).orderBy("stage", "doc_id").collect()
    assert(inc.sameElements(full),
      s"eval-head append diverged from full rebuild: ${inc.length} vs ${full.length}")
    Warehouse.invalidateDataset(ds)
  }

  test("appendToCube rejects a partial-granule batch for an already-seen date") {
    // the prior build holds HALF of the newest date's rows (its
    // granules may even be fully QC-dropped); appending the other half
    // must NOT compute batch-slice verdicts — the date guard sends it
    // to the full-rebuild fallback and the result equals a from-scratch
    // build
    val ds = tmpDs("graft-inc-cube-part")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    // the corpus ends on the newest date with rows on BOTH sides of the
    // split (sf0.001's last date has only high line numbers: holding
    // those back would leave the prior without the date at all, and the
    // batch would be a valid strictly-newer append)
    val lo = col("l_linenumber") < 4
    val lastDate = li.groupBy(to_date(col("l_shipdate")).as("d"))
      .agg(max(lo.cast("int")).as("lo"), max((!lo).cast("int")).as("hi"))
      .filter(col("lo") === 1 && col("hi") === 1)
      .agg(max("d")).head().getDate(0).toString
    val corpus = li.filter(to_date(col("l_shipdate")) <= lit(lastDate))
    val heldBack = col("l_shipdate").cast("date") === lit(lastDate) && !lo
    corpus.filter(!heldBack).write.mode("overwrite").parquet(s"$ds/lineitem.parquet")
    Pipeline.clearCubeCache()
    Pipeline.buildCube(spark, ds)
    val prior = Warehouse.latest("cube", ds).get
    assert(spark.read.parquet(s"$prior/meta").head().getString(1) == lastDate,
      "the prior must already hold part of the batch's date")
    corpus.write.mode("overwrite").parquet(s"$ds/lineitem.parquet")
    Pipeline.clearCubeCache()
    val batchRaw = graft.ops.Pixels.pixels(spark, ds)
      .filter(col("date") === lit(lastDate) &&
        col("px_id") % 8 >= 4)
    expect("cube", "rebuild", "seen-date")(Pipeline.appendToCube(spark, ds, batchRaw))
    val incDir = Warehouse.latest("cube", ds).get
    assert(incDir != prior, "append produced no new cube version")
    def snap() = Pipeline.cubeIndex(spark, ds)
      .select(col("date"), col("y"), col("x"),
        graft.ops.Num.r6(col("ndvi")).as("ndvi"),
        graft.ops.Num.r6(col("evi")).as("evi"),
        col("num_granules_merged"))
      .orderBy("date", "y", "x").collect()
    val viaAppend = snap()
    Pipeline.clearCubeCache()
    Warehouse.invalidate("cube", ds)
    assert(snap().sameElements(viaAppend),
      "partial-granule append diverged from the full rebuild")
    Warehouse.invalidateDataset(ds)
  }

  test("appendToGranuleCache == full rebuild; prior tile tree carries by file; p08 serves it") {
    val ds = tmpDs("graft-inc-gcache")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val cutoff = "1998-06-01"
    li.filter(col("l_shipdate") <= lit(cutoff))
      .write.mode("overwrite").parquet(s"$ds/lineitem.parquet")
    Pipeline.clearGranuleCacheCache()
    Pipeline.buildGranuleCache(spark, ds)
    val prior = Warehouse.latest("gcache", ds).get
    // remember one prior data file (inside a tile partition dir)
    val carried = {
      val base = java.nio.file.Paths.get(prior, "cache")
      val st = java.nio.file.Files.walk(base)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala
          .filter(f => f.getFileName.toString.startsWith("part-"))
          .map(base.relativize(_).toString).toSeq.head
      } finally st.close()
    }
    li.write.mode("overwrite").parquet(s"$ds/lineitem.parquet")
    Pipeline.clearGranuleCacheCache()
    val batchRaw = graft.ops.Pixels.pixels(spark, ds)
      .filter(col("date") > lit(cutoff))
    expect("gcache")(Pipeline.appendToGranuleCache(spark, ds, batchRaw))
    val incDir = Warehouse.latest("gcache", ds).get
    assert(incDir != prior, "append produced no new gcache version")
    assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(incDir, "cache", carried)),
      "incremental gcache did not carry the prior tile tree by file")
    def rows() = Pipeline.granuleCacheIndex(spark, ds)
      .orderBy("tile_id", "time", "y", "x").collect()
    def p08() = Pipeline.pipelineCachedQ(spark, ds).collect()
    val (incRows, incP08) = (rows(), p08())
    assert(incRows.exists(_.getDate(2).toString > cutoff),
      "no appended dates in the cache")
    Pipeline.clearGranuleCacheCache()
    Warehouse.invalidate("gcache", ds)
    assert(rows().sameElements(incRows),
      "incremental granule cache drifted from the full rebuild")
    assert(p08().sameElements(incP08),
      "p08 over the incremental cache drifted from the full rebuild")
    Warehouse.invalidateDataset(ds)
  }

  test("appendToIvf: frozen centroids, batch-only assignment == full rebuild with the same model") {
    import graft.ops.SimOps
    val ds = tmpDs("graft-inc-ivf")
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base.write.mode("overwrite").parquet(s"$ds/embeddings.parquet")
    SimOps.clearIvfCaches()
    SimOps.buildIvf(spark, ds)
    val priorIvf = Warehouse.latest("ivf", ds).get
    val priorModel = SimOps.kmeansModelQ(spark, ds).collect()
    // remember one prior inverted-file data file (inside a cell dir)
    val carried = {
      val cells = java.nio.file.Paths.get(priorIvf, "cells")
      val st = java.nio.file.Files.walk(cells)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-"))
          .map(cells.relativize(_).toString).toSeq.head
      } finally st.close()
    }
    // a small batch (copies + reversed vectors) stays well inside the
    // MaxIvfGrowth contract, so the append must NOT retrain
    val batch = base.filter(col("vec_id").isin(7L, 11L, 401L))
      .select((col("vec_id") + 1000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"), col("label"))
    base.unionByName(batch).write.mode("overwrite")
      .parquet(s"$ds/embeddings.parquet")
    SimOps.clearIvfCaches()
    expect("ivf")(SimOps.appendToIvf(spark, ds, batch))
    val incIvf = Warehouse.latest("ivf", ds).get
    assert(incIvf != priorIvf, "append produced no new ivf version")
    assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(incIvf, "cells", carried)),
      "incremental ivf did not carry the prior cells by file")
    // the model is FROZEN: v08 at the new corpus version serves the
    // prior centroids bit-for-bit (no Lloyd re-run)
    assert(SimOps.kmeansModelQ(spark, ds).collect().sameElements(priorModel),
      "appendToIvf retrained inside the growth contract")
    def snaps() = (
      SimOps.ivfIndexQ(spark, ds).collect(),
      SimOps.simIvf(spark, ds).collect(),
      SimOps.simIvfProbe2(spark, ds).collect(),
      SimOps.ivfRecall(spark, ds).collect())
    val (i1, v1, p1, r1) = snaps()
    assert(i1.length == base.count() + 3,
      s"inverted file has ${i1.length} vectors")
    // full rebuild of the inverted file at the SAME frozen model (the
    // kmeans copy persists at this corpus version): row-identical
    SimOps.clearIvfCaches()
    Warehouse.invalidate("ivf", ds)
    val (i2, v2, p2, r2) = snaps()
    assert(i1.sameElements(i2), "appended inverted file drifted from full assignment")
    assert(v1.sameElements(v2), "v05 over the appended index drifted")
    assert(p1.sameElements(p2), "v07 over the appended index drifted")
    assert(r1.sameElements(r2), "v10 over the appended index drifted")
    // growth beyond the contract RETRAINS: a batch tripling the corpus
    // routes to the full build, whose meta records a fresh training set
    val big = base.select((col("vec_id") + 5000L).as("vec_id"),
      reverse(col("embedding")).as("embedding"), col("label"))
    spark.read.parquet(s"$ds/embeddings.parquet").unionByName(big)
      .write.mode("overwrite").parquet(s"$ds/embeddings2.parquet")
    spark.read.parquet(s"$ds/embeddings2.parquet")
      .write.mode("overwrite").parquet(s"$ds/embeddings.parquet")
    SimOps.clearIvfCaches()
    expect("ivf", "rebuild", "growth")(SimOps.appendToIvf(spark, ds, big))
    val meta = spark.read.parquet(s"${Warehouse.latest("ivf", ds).get}/meta")
      .select("n_vectors", "trained_n").head()
    assert(meta.getLong(0) == meta.getLong(1),
      s"growth past MaxIvfGrowth did not retrain: $meta")
    Warehouse.invalidateDataset(ds)
  }

  test("appendToFreq: class-stable batch carries prior scores by file == full rebuild") {
    val ds = tmpDs("graft-inc-freq")
    val base = seedDocs(ds)
    TextOps.clearFreqCache()
    TextOps.buildFreq(spark, ds)
    val prior = Warehouse.latest("freq", ds).get
    val carried = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(prior, "scores"))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("part-")).toSeq.head
      } finally st.close()
    }
    // a TINY batch: every token count grows by far less than a power
    // of two on the sf0.001 vocabulary, so the class guard holds and
    // prior scores must carry by file
    val batch = base.filter(col("doc_id").isin(5L, 9L))
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    base.unionByName(batch).write.mode("overwrite")
      .parquet(s"$ds/documents.parquet")
    TextOps.clearFreqCache()
    expect("freq")(TextOps.appendToFreq(spark, ds, batch))
    val incDir = Warehouse.latest("freq", ds).get
    assert(incDir != prior, "append produced no new freq version")
    assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(incDir, "scores", carried)),
      "class-stable append did not carry the prior scores by file")
    def snap() = (
      TextOps.freqBucket(spark, ds).collect(),
      TextOps.freqBucketApprox(spark, ds).collect())
    val (b1, a1) = snap()
    assert(b1.exists(_.getLong(0) == 1005L), "appended doc missing from t20")
    TextOps.clearFreqCache()
    Warehouse.invalidate("freq", ds)
    val (b2, a2) = snap()
    assert(b1.sameElements(b2), "incremental freq scores drifted from full rebuild")
    assert(a1.sameElements(a2), "t21 over the incremental freq artifact drifted")
    Warehouse.invalidateDataset(ds)
  }

  test("appendToKeywords: O(batch) tf carry + additive df merge == full rebuild") {
    import spark.implicits._
    val ds = tmpDs("graft-inc-kw")
    val base = seedDocs(ds)
    TextOps.clearKeywordsCache()
    TextOps.buildKeywords(spark, ds)
    val prior = Warehouse.latest("keywords", ds).get
    val carried = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(prior, "tf"))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("part-")).toSeq.head
      } finally st.close()
    }
    // batch shapes: a copy of a prior doc (every one of its terms' df
    // grows by 1), a fresh doc with batch-unique terms (fresh df rows),
    // and a null-text doc (N grows with zero census rows — the
    // explode_outer contract)
    val copy = base.filter(col("doc_id") === 7L)
      .select(lit(2000L).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
    val extra = Seq(
      (2001L, "zqx zqx unique marker", "en", "srcK", 21L),
      (2002L, null.asInstanceOf[String], "en", "srcK", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch = copy.unionByName(extra)
    base.unionByName(batch).write.mode("overwrite")
      .parquet(s"$ds/documents.parquet")
    TextOps.clearKeywordsCache()
    expect("keywords")(TextOps.appendToKeywords(spark, ds, batch))
    val incDir = Warehouse.latest("keywords", ds).get
    assert(incDir != prior, "append produced no new keywords version")
    assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(incDir, "tf", carried)),
      "append did not carry the prior tf census by file")
    // df and N are GLOBAL: the appended copy must reprice the prior
    // doc's served rows through the merged census, and the whole serve
    // must equal a from-scratch rebuild bit-for-bit
    val inc = TextOps.docKeywords(spark, ds).collect()
    assert(inc.exists(_.getLong(0) == 2001L), "appended doc missing from t23")
    assert(!inc.exists(_.getLong(0) == 2002L),
      "null-text doc must carry no keyword rows")
    TextOps.clearKeywordsCache()
    Warehouse.invalidate("keywords", ds)
    val full = TextOps.docKeywords(spark, ds).collect()
    assert(inc.sameElements(full),
      "incremental keywords drifted from full rebuild")
    val n = spark.read.parquet(
      s"${Warehouse.latest("keywords", ds).get}/meta").head().getLong(0)
    assert(n == base.count() + 3,
      s"meta N must count the null-text appended doc: $n")
    Warehouse.invalidateDataset(ds)
  }

  test("appendToFreq reprices a class crossing in O(affected) via corr/, still == full rebuild") {
    import spark.implicits._
    val ds = tmpDs("graft-inc-freqx")
    // corpus where token 'zq' appears exactly 3 times (class 2); the
    // batch adds one more 'zq' -> count 4 -> class 3: the prior docs
    // containing 'zq' reprice through the corrections path (prior
    // scores STILL carry by file — no rebuild), and the served result
    // must equal a from-scratch build bit-for-bit
    val base = Seq(
      (0L, "alpha bravo zq charlie", "en", "srcF", 22L),
      (1L, "delta zq echo foxtrot", "en", "srcF", 21L),
      (2L, "golf hotel india zq", "en", "srcF", 19L),
      (3L, "juliet kilo lima mike", "en", "srcF", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    base.write.mode("overwrite").parquet(s"$ds/documents.parquet")
    TextOps.clearFreqCache()
    TextOps.buildFreq(spark, ds)
    val prior = Warehouse.latest("freq", ds).get
    val carried = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(prior, "scores"))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("part-")).toSeq.head
      } finally st.close()
    }
    val batch = Seq((10L, "november zq oscar papa", "en", "srcF", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    base.unionByName(batch).write.mode("overwrite")
      .parquet(s"$ds/documents.parquet")
    TextOps.clearFreqCache()
    expect("freq")(TextOps.appendToFreq(spark, ds, batch))
    val incDir = Warehouse.latest("freq", ds).get
    assert(incDir != prior, "crossing append produced no new freq version")
    assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(incDir, "scores", carried)),
      "crossing append rebuilt instead of repricing incrementally")
    val corr = spark.read.parquet(s"$incDir/corr")
      .as[(Long, Long)].collect().toMap
    // exactly the three 'zq' docs gain a +1-class correction
    assert(corr == Map(0L -> 1L, 1L -> 1L, 2L -> 1L),
      s"unexpected correction set: $corr")
    val inc = TextOps.freqBucket(spark, ds).collect()
    TextOps.clearFreqCache()
    Warehouse.invalidate("freq", ds)
    val full = TextOps.freqBucket(spark, ds).collect()
    assert(inc.sameElements(full),
      "class-crossing append diverged from the full rebuild")
    Warehouse.invalidateDataset(ds)
  }

  test("appendToFreq compacts via full rebuild past the crossed-token cap") {
    import spark.implicits._
    val ds = tmpDs("graft-inc-freqcap")
    val base = Seq(
      (0L, "alpha bravo zq charlie", "en", "srcF", 22L),
      (1L, "delta zq echo foxtrot", "en", "srcF", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    base.write.mode("overwrite").parquet(s"$ds/documents.parquet")
    TextOps.clearFreqCache()
    TextOps.buildFreq(spark, ds)
    val prior = Warehouse.latest("freq", ds).get
    // two more 'zq' take its count from 2 to 4, crossing from class 2
    // (bit length of 2) to class 3 — one crossed token
    val batch = Seq((10L, "november zq oscar zq", "en", "srcF", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    base.unionByName(batch).write.mode("overwrite")
      .parquet(s"$ds/documents.parquet")
    TextOps.clearFreqCache()
    // cap forced to zero: ANY crossing routes to the compaction rebuild
    sys.props("graft.freq.maxCrossed") = "0"
    try expect("freq", "rebuild", "crossed-cap")(TextOps.appendToFreq(spark, ds, batch))
    finally sys.props -= "graft.freq.maxCrossed"
    val incDir = Warehouse.latest("freq", ds).get
    assert(incDir != prior, "capped append produced no new freq version")
    assert(!java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(incDir, "corr")),
      "compaction rebuild should fold corrections away")
    val inc = TextOps.freqBucket(spark, ds).collect()
    TextOps.clearFreqCache()
    Warehouse.invalidate("freq", ds)
    val full = TextOps.freqBucket(spark, ds).collect()
    assert(inc.sameElements(full),
      "capped (rebuild) append diverged from the full rebuild")
    Warehouse.invalidateDataset(ds)
  }

  test("appendToGeoTiffFrames carries prior frames by file; x08 == full rebuild") {
    val ds = tmpDs("graft-inc-gtiff")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val cutoff = "1998-06-01"
    li.filter(col("l_shipdate") <= lit(cutoff))
      .write.mode("overwrite").parquet(s"$ds/lineitem.parquet")
    Pipeline.clearCubeCache()
    graft.ops.Export.clearGtiffCache()
    graft.ops.Export.buildGeoTiffFrames(spark, ds)
    val prior = Warehouse.latest("gtiff", ds).get
    val carried = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(prior))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".tif")).toSeq.min
      } finally st.close()
    }
    val carriedBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(prior, carried))
    li.write.mode("overwrite").parquet(s"$ds/lineitem.parquet")
    Pipeline.clearCubeCache()
    graft.ops.Export.clearGtiffCache()
    val batchRaw = graft.ops.Pixels.pixels(spark, ds)
      .filter(col("date") > lit(cutoff))
    expect("cube")(Pipeline.appendToCube(spark, ds, batchRaw))
    expect("gtiff")(graft.ops.Export.appendToGeoTiffFrames(spark, ds))
    val incDir = Warehouse.latest("gtiff", ds).get
    assert(incDir != prior, "append produced no new gtiff version")
    // the prior frame carried byte-identically (a file copy, no re-encode)
    assert(java.util.Arrays.equals(carriedBytes,
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(incDir, carried))),
      s"prior frame $carried was re-encoded or dropped")
    def x08() = graft.ops.Export.sinkManifestQ(spark, ds).collect()
    val inc = x08()
    assert(inc.exists(_.getString(0) > cutoff), "no appended frames in x08")
    graft.ops.Export.clearGtiffCache()
    Warehouse.invalidate("gtiff", ds)
    assert(x08().sameElements(inc),
      "incremental frame dir drifted from the full rebuild")
    Warehouse.invalidateDataset(ds)
  }

  test("appendToCube == full rebuild; prior date partitions carry by file") {
    val ds = tmpDs("graft-inc-cube")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val cutoff = "1998-06-01"
    li.filter(col("l_shipdate") <= lit(cutoff))
      .write.mode("overwrite").parquet(s"$ds/lineitem.parquet")
    Pipeline.clearCubeCache()
    Pipeline.buildCube(spark, ds)
    val prior = Warehouse.latest("cube", ds).get
    val carriedName = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(prior, "cube"))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("part-")).toSeq.head
      } finally st.close()
    }
    // regenerate the corpus with the newer dates appended
    li.write.mode("overwrite").parquet(s"$ds/lineitem.parquet")
    Pipeline.clearCubeCache()
    val batchRaw = graft.ops.Pixels.pixels(spark, ds)
      .filter(col("date") > lit(cutoff))
    expect("cube")(Pipeline.appendToCube(spark, ds, batchRaw))
    def snap() = Pipeline.cubeIndex(spark, ds)
      .select(col("date"), col("y"), col("x"),
        graft.ops.Num.r6(col("ndvi")).as("ndvi"),
        graft.ops.Num.r6(col("evi")).as("evi"),
        col("num_granules_merged"))
      .orderBy("date", "y", "x").collect()
    val inc = snap()
    val incDir = Warehouse.latest("cube", ds).get
    assert(incDir != prior, "append did not produce a new cube version")
    assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(incDir, "cube", carriedName)),
      "incremental cube did not carry the prior version's data files")
    // new dates actually landed
    assert(inc.exists(_.getDate(0).toString > cutoff), "no appended dates in cube")
    // full rebuild at the same version
    Pipeline.clearCubeCache()
    Warehouse.invalidate("cube", ds)
    val full = snap()
    assert(inc.sameElements(full),
      s"incremental cube drifted: ${inc.length} vs ${full.length} rows")
    Warehouse.invalidateDataset(ds)
  }
}
