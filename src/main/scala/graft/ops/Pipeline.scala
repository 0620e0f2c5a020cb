package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Io

/** The reference's end-to-end dataflow (SURVEY.md §3.1,
  * pipeline.py:128-187) composed from the engine's operators into one
  * declarative DAG: pixel scan → band math + masking → per-granule QC
  * gate → scene-level quality filter → same-day merge → chronological
  * cube → abrupt-drop event detection → sinks.
  *
  * Each stage is the already-tested operator; this object only wires
  * them, which is the point — the reference's imperative pipeline
  * becomes plan composition, and Catalyst sees the whole thing at once
  * (filter pushdown through every stage, one shuffle per keyed
  * aggregation, the scene-level window on a relation with one row per
  * scene).
  */
object Pipeline {

  /** `cube` is chronologically sorted for the sinks (the reference
    * writes its cube time-ordered, pipeline.py:167-187); `cubeRaw` is
    * the SAME relation before that presentation sort. Downstream
    * aggregation (p05 summary, the event day-series) must consume
    * `cubeRaw`: Catalyst keeps a sort under an aggregate when the agg
    * functions are float (EliminateSorts only drops order-irrelevant
    * integral aggs), so deriving from `cube` pays a range-partitioning
    * exchange + global sort of the full merged cube that the next
    * groupBy immediately destroys. */
  final case class Result(cube: DataFrame, cubeRaw: DataFrame,
      sceneStats: DataFrame, events: DataFrame)

  /** Stage 1 — scan + indices + masks + per-granule QC gate
    * (processor.py:165-301, 280-292): aggregate, filter, semi-join
    * survivors back to the pixel relation. This is exactly the relation
    * the reference persists as its granule cache (processor.py:349-366).
    *
    * Since r17 the one-shot [[run]] no longer goes through this +
    * [[fromGated]] (it derives the scene gate from the granule census
    * and scans the fact relation exactly twice — see [[run]]); this
    * form remains for [[runAndWrite]], which persists it through
    * `Export.writeGranuleCache` and feeds the rest of the DAG from the
    * cache — one fact scan, like the reference — and for the
    * incremental batch gates. A measured parquet materialization of
    * this stage cost MORE at sf0.1 than the recompute it saved (r4),
    * which is why the serve paths stay declarative. */
  private[graft] def gatedPixels(spark: SparkSession, dir: String): DataFrame =
    gateOf(Pixels.pixels(spark, dir))

  /** Stage 1 over an arbitrary raw pixel relation — QC is per-granule,
    * so gating a batch alone yields the batch's slice of the full
    * corpus's gated relation (what [[appendToCube]] relies on). */
  private[graft] def gateOf(raw: DataFrame): DataFrame = {
    val px = PixelOps.withIndices(raw)
    val gatedGranules = Quality.granuleQcOf(raw)
      .filter(col("contamination_pct") <= Quality.MaxContaminationPct &&
        col("valid_pct") >= Quality.MinValidPct)
      .select("tile_id", "time")
    px.join(gatedGranules, Seq("tile_id", "time"), "left_semi")
  }

  /** Stages 2-5 from an already-gated pixel relation (any source: the
    * live [[gatedPixels]] plan or a granule-cache read-back). Needs
    * columns (tile_id, time, date, y, x, ndvi_c, evi_c). */
  private[graft] def fromGated(gated: DataFrame): Result = {
    // 3. scene-level quality filter (quality.py:29-91): the pipeline's
    //    keep rule is the hard valid-share arm only (skip entirely when
    //    < 3 scenes, quality.py:19-21); the full neighbor-aware verdict
    //    is q04's relation, not a cube gate
    val scenes = scenesOf(gated)
    val keepScenes = scenes
      .withColumn("n_scenes", count(lit(1)).over(Window.partitionBy()))
      .withColumn("valid_share", lit(100.0) * col("n_valid") / col("n_total"))
      .filter(col("n_scenes") < 3 || col("valid_share") >= 40.0)
      .select("time")
    stages45(gated.join(keepScenes, Seq("time"), "left_semi"), scenes)
  }

  /** The pixel-level per-scene stats relation (stage 3's input). */
  private def scenesOf(gated: DataFrame): DataFrame =
    gated.groupBy("time")
      .agg(avg("ndvi_c").as("ndvi_mean"),
        stddev_pop(col("ndvi_c")).as("ndvi_std"),
        count(col("ndvi_c")).as("n_valid"),
        count(lit(1)).as("n_total"))

  /** Stages 4-5 over the fully gated+scene-filtered pixel relation
    * (shared by [[fromGated]] and [[run]]; `scenes` only populates the
    * lazy Result field). */
  private def stages45(filtered: DataFrame, scenes: DataFrame): Result = {
    // 4. same-day merge (merger.py:56-93); chronological order applied
    //    only on the sink-facing relation (see Result scaladoc)
    val cubeRaw = filtered
      .groupBy(col("date"), col("y"), col("x"))
      .agg(avg("ndvi_c").as("ndvi"), avg("evi_c").as("evi"),
        countDistinct("tile_id", "time").as("num_granules_merged"))
      .withColumn("time", col("date").cast("timestamp"))
    val cube = cubeRaw.orderBy("time", "y", "x")

    // 5. scene series + event detection (quality.py:105-181) over the
    //    merged cube's daily means
    val daySeries = cubeRaw.groupBy(col("date").as("day"))
      .agg(avg("ndvi").as("vmean"))
    val events = Events.detectDrops(daySeries,
      dropThreshold = PipeDropThreshold,
      recoveryThreshold = PipeRecoveryThreshold)

    Result(cube, cubeRaw, scenes, events)
  }

  /** Run the full flow over the testdata pixel relation as ONE
    * declarative DAG (the oracle-gated p05/p06 form).
    *
    * r17: the scene-level keep rule derives from the GRANULE census
    * instead of a second pixel-level aggregation. The rule only reads
    * integer counts per scene — n_valid (non-NULL clipped NDVI) and
    * n_total over the gated pixels — and both are exact sums of the
    * per-granule counts the QC aggregate already computes
    * (n_valid_ndvi, total), restricted to passing granules. So the
    * composed plan scans the fact relation TWICE (QC census + the
    * pixel pass that feeds the cube) instead of three times: the old
    * shape re-derived the whole scan → indices → semi-join subtree
    * once for the scene stats and once for the cube (guide §2.4 /
    * §1.2 — remove a full pass). The kept-scene SET is bit-identical:
    * integer counts, same 100.0 * n_valid / n_total double, same
    * global n_scenes < 3 branch (PipelineSpec locks run == fromGated
    * row-for-row). Result.sceneStats keeps the pixel-level spelling —
    * it is lazy and nothing in the composed cube consumes it. */
  def run(spark: SparkSession, dir: String): Result = {
    val raw = Pixels.pixels(spark, dir)
    val pass = Quality.granuleQcOf(raw)
      .filter(col("contamination_pct") <= Quality.MaxContaminationPct &&
        col("valid_pct") >= Quality.MinValidPct)
    // scene-level stats via windows over the GRANULE census (never a
    // second census lineage — that would re-scan the fact relation),
    // then both gates fused into one kept-granule set: a granule
    // survives iff it passes QC and its scene passes the valid-share
    // rule, so ONE semi-join gates the pixel relation
    val wT = Window.partitionBy("time")
    val keepGranules = pass
      .withColumn("n_valid_t", sum("n_valid_ndvi").over(wT))
      .withColumn("n_total_t", sum("total").over(wT))
      .withColumn("first_in_scene",
        row_number().over(wT.orderBy("tile_id")) === 1)
      .withColumn("n_scenes",
        sum(when(col("first_in_scene"), 1L).otherwise(0L))
          .over(Window.partitionBy()))
      .filter(col("n_scenes") < 3 ||
        lit(100.0) * col("n_valid_t") / col("n_total_t") >= 40.0)
      .select("tile_id", "time")
    val filtered = PixelOps.withIndices(raw)
      .join(keepGranules, Seq("tile_id", "time"), "left_semi")
    // the lazy sceneStats field keeps its pixel-level spelling over the
    // QC-gated (pre-scene-filter) relation; nothing in the composed
    // cube consumes it
    stages45(filtered, scenesOf(PixelOps.withIndices(raw)
      .join(pass.select("tile_id", "time"), Seq("tile_id", "time"),
        "left_semi")))
  }

  /** Run and persist through the standard sinks (pipeline.py:167-187),
    * including per-date GeoTIFF frames on the reference grid
    * (arcgis.py:60-101: export follows the cube write).
    *
    * Production shape: stage 1 lands in the granule cache first
    * (processor.py:349-366) and every downstream stage reads the cache
    * — the fact relation is scanned ONCE no matter how many branches
    * consume the gated pixels, and a later incremental run anti-joins
    * against the same cache (m03). */
  def runAndWrite(spark: SparkSession, dir: String, outDir: String): Result = {
    val cacheDir = s"$outDir/granule_cache"
    Export.writeGranuleCache(
      gatedPixels(spark, dir)
        .select("tile_id", "time", "date", "y", "x", "ndvi_c", "evi_c"),
      cacheDir)
    // tile_id is a partition column in the cache layout; read-back
    // type inference narrows it, so restore the long key
    val cached = Io.parquet(spark, cacheDir)
      .select(col("tile_id").cast("long"), col("time"), col("date"),
        col("y"), col("x"), col("ndvi_c"), col("evi_c"))
    val r = fromGated(cached)
    Export.writeCube(r.cube, s"$outDir/cube")
    Export.writeEventsJson(r.events, s"$outDir/events")
    Export.writeIndexJson(spark, r.cube, s"$outDir/index")
    Export.writeStyleJson(spark, s"$outDir/style")
    Export.writeGeoTiffs(r.cube, s"$outDir/geotiffs", Resample.SrcGrid)
    r
  }

  private val cubeCache = new BuildCache[String]

  /** Materialized merged cube — the reference's saved PRIMARY OUTPUT
    * (pipeline.py:175-176 writes the combined dataset; every consumer
    * then opens the saved file: visualize_dataset.py:30, arcgis.py:20).
    * Built once per corpus version by running the full
    * scan → mask → gate → filter → merge DAG; the post-cube analyses
    * (p05 summary, p06 detection) serve from it exactly as the
    * reference's consumers read the written cube, instead of
    * re-deriving the whole lifecycle per query. Parquet round-trips
    * the merged doubles exactly, and the p05/p06 oracles still
    * re-derive the complete lifecycle in DuckDB, so the composition
    * stays hash-gated end to end. (Contrast with stage 1: caching the
    * GATED PIXEL relation measured slower than recompute — see
    * [[gatedPixels]] — but the merged cube is orders of magnitude
    * smaller than the pixel relation it summarizes.) */
  private[graft] def cubeIndex(s: SparkSession, d: String): DataFrame = {
    val path = cubeCache.get(
      s"$d@${BuildCache.version(d, "lineitem.parquet")}") {
      Warehouse.getOrBuild("cube", d, "lineitem.parquet") { tmp =>
        val r = run(s, d)
        Warehouse.writeParquet(r.cubeRaw, s"$tmp/cube")
        // meta/ records what the incremental updater needs, derived
        // from the GRANULE census (pre-gate): the gated scene count
        // (the keep rule's global <3 branch) and the newest date over
        // ALL granules — including QC- or valid-share-dropped ones that
        // never produced cube rows — so the append guard rejects any
        // batch touching an already-seen date (a partial-granule append
        // would otherwise compute batch-slice QC verdicts and silently
        // diverge from a full rebuild)
        val qc = Quality.granuleQc(s, d)
        val pass = col("contamination_pct") <= Quality.MaxContaminationPct &&
          col("valid_pct") >= Quality.MinValidPct
        val m = qc.agg(
          countDistinct(when(pass, col("time"))).as("n_scenes"),
          max(date_format(col("time"), "yyyy-MM-dd")).as("max_date")).head()
        writeCubeMeta(s, tmp.toString, m.getLong(0),
          Option(m.getString(1)).getOrElse("0000-00-00"))
      }
    }
    Io.parquet(s, s"$path/cube")
  }

  private def writeCubeMeta(s: SparkSession, dir: String,
      nScenes: Long, maxDate: String): Unit = {
    import s.implicits._
    Warehouse.writeParquet(
      Seq((nScenes, maxDate)).toDF("n_scenes", "max_date"), s"$dir/meta")
  }

  /** INCREMENTAL cube maintenance — the merged-cube analog of
    * TextOps.appendToSigIndex for a corpus that grows by WHOLE NEW
    * DATES (the reference's resumable pipeline only ever appends newer
    * acquisitions, processor.py:342-356). Every stage of the §3.1 DAG
    * is per-granule (QC), per-scene (the valid-share keep rule, once
    * the global scene count is ≥ 3) or per-(date,y,x) group, so a
    * batch of strictly-newer dates merges into cube rows INDEPENDENT
    * of the prior corpus: the prior version's cube parquet carries
    * over untouched and only the batch runs the gate → filter → merge
    * stages. Falls back to the full build when no prior artifact (or a
    * pre-meta layout) exists, when the prior corpus had fewer than 3
    * scenes (the keep rule's global branch could then flip for prior
    * scenes), or when the batch violates the append-only-by-date
    * contract. `appendedRaw` must be exactly the raw pixel rows added
    * since the prior version. */
  def appendToCube(s: SparkSession, d: String, appendedRaw: DataFrame): Unit =
    Warehouse.maintain("cube", d)(buildCube(s, d)) { prior =>
      val m = Io.parquet(s, s"$prior/meta").select("n_scenes", "max_date").head()
      if (m.getLong(0) < 3) throw Warehouse.Rebuild("few-scenes")
      appendToCubeIncremental(s, d, appendedRaw, prior, m.getLong(0), m.getString(1))
    }

  private def appendToCubeIncremental(s: SparkSession, d: String,
      batchRaw: DataFrame, prior: String, priorScenes: Long,
      priorMaxDate: String): Unit = {
    Warehouse.getOrBuild("cube", d, "lineitem.parquet") { tmp =>
      // granule census FIRST, pinned: the gate's semi-join, the meta
      // update and the contract guard all consume it, so the batch
      // pays ONE QC aggregation pass (the sibling updaters' pin
      // discipline)
      val (qc, qcPin) = Checkpoints.pin(
        // drop the scene-gate census column before the eager pin: the
        // batch paths never read it, and a pin materializes ALL columns
        // (pruning stops at a localCheckpoint)
        Quality.granuleQcOf(batchRaw).drop("n_valid_ndvi"))
      try {
        val pass = col("contamination_pct") <= Quality.MaxContaminationPct &&
          col("valid_pct") >= Quality.MinValidPct
        val mrow = qc.agg(
          count(lit(1)).as("n_granules"),
          min(date_format(col("time"), "yyyy-MM-dd")).as("dmin"),
          max(date_format(col("time"), "yyyy-MM-dd")).as("dmax"),
          countDistinct(when(pass, col("time"))).as("n_pass")).head()
        val nGran = mrow.getLong(0)
        // contract check against ALL batch granules (pre-QC): a batch
        // touching an already-seen date — even one that never produced
        // cube rows — would compute partial-granule verdicts, so it
        // declines to the full rebuild instead
        if (nGran > 0L && mrow.getString(1) <= priorMaxDate)
          throw Warehouse.Rebuild("seen-date")
        Warehouse.copyData(s"$prior/cube", tmp.resolve("cube"))
        if (nGran > 0) {
          val (gated, gPin) = Checkpoints.pin(
            PixelOps.withIndices(batchRaw).join(
              qc.filter(pass).select("tile_id", "time"),
              Seq("tile_id", "time"), "left_semi"))
          try {
            // global scene count = prior (>= 3) + batch, so the keep
            // rule reduces to the per-scene valid-share branch for
            // every batch scene — identical to the full rebuild
            val keep = gated.groupBy("time")
              .agg(count(col("ndvi_c")).as("n_valid"),
                count(lit(1)).as("n_total"))
              .filter(lit(100.0) * col("n_valid") / col("n_total") >= 40.0)
              .select("time")
            gated.join(keep, Seq("time"), "left_semi")
              .groupBy(col("date"), col("y"), col("x"))
              .agg(avg("ndvi_c").as("ndvi"), avg("evi_c").as("evi"),
                countDistinct("tile_id", "time").as("num_granules_merged"))
              .withColumn("time", col("date").cast("timestamp"))
              .write.mode("append").parquet(s"$tmp/cube")
          } finally Checkpoints.release(gPin)
        }
        // file-count hygiene (the same contract as the text/vector
        // chains): the carry+append cube gains O(1) files per batch;
        // past its size floor + budget it rewrites date-sorted, so the
        // date min/max stats the serve-side range filters prune on stay
        // tight across thousands of micro-batches
        Warehouse.compactIfNeeded(s, tmp.resolve("cube"), Seq("date"))
        writeCubeMeta(s, tmp.toString, priorScenes + mrow.getLong(3),
          if (nGran > 0 && mrow.getString(2) > priorMaxDate) mrow.getString(2)
          else priorMaxDate)
      } finally Checkpoints.release(qcPin)
    }
    ()
  }

  /** Explicit build step (the cube-write half of the production
    * lifecycle); queries build lazily on first use, [[graft.Bench]]'s
    * warm-up runs it up front so query timings measure serving. */
  def buildCube(s: SparkSession, d: String): Unit = {
    cubeIndex(s, d)
    ()
  }

  /** Test hook: drop the per-dataset cube cache. */
  private[graft] def clearCubeCache(): Unit = cubeCache.clear()

  private val granuleCacheCache = new BuildCache[String]

  /** Materialized granule cache — STAGE 1 of the production lifecycle
    * ([[runAndWrite]]'s first write, the reference's per-granule `.nc`
    * cache, processor.py:349-366): the gated pixel relation landed
    * through [[Export.writeGranuleCache]]'s tile-partitioned,
    * date-sorted zstd layout, built once per corpus version in the
    * warehouse. The
    * read-back restores the partition-narrowed tile_id key exactly as
    * [[runAndWrite]] does. */
  private[graft] def granuleCacheIndex(s: SparkSession, d: String): DataFrame = {
    val path = granuleCacheCache.get(
      s"$d@${BuildCache.version(d, "lineitem.parquet")}") {
      Warehouse.getOrBuild("gcache", d, "lineitem.parquet") { tmp =>
        Export.writeGranuleCache(
          gatedPixels(s, d)
            .select("tile_id", "time", "date", "y", "x", "ndvi_c", "evi_c"),
          s"$tmp/cache")
        // meta: newest date over ALL granules (pre-QC), the same
        // append-only-by-date guard key the cube records — a date whose
        // granules were all QC-dropped left no cache rows but must
        // still block later partial appends
        val maxDate = Quality.granuleQc(s, d)
          .agg(max(date_format(col("time"), "yyyy-MM-dd"))).head().getString(0)
        writeGcacheMeta(s, tmp.toString, Option(maxDate).getOrElse("0000-00-00"))
      }
    }
    Io.parquet(s, s"$path/cache")
      .select(col("tile_id").cast("long"), col("time"), col("date"),
        col("y"), col("x"), col("ndvi_c"), col("evi_c"))
  }

  private def writeGcacheMeta(s: SparkSession, dir: String,
      maxDate: String): Unit = {
    import s.implicits._
    Warehouse.writeParquet(Seq(Tuple1(maxDate)).toDF("max_date"), s"$dir/meta")
  }

  /** INCREMENTAL granule-cache maintenance — the artifact this engine
    * keeps that is closest in spirit to the reference's resumable
    * per-granule cache (processor.py:342-356: completed granules are
    * never re-processed, new acquisitions append). The cache holds the
    * STAGE-1 relation (per-granule QC gate, no cross-granule rule at
    * all), so a batch of strictly-newer dates appends cleanly: the
    * prior partitioned tree carries over by file and only the batch
    * runs scan → indices → QC gate, landing as additional date-sorted
    * files inside the existing tile partitions (row-group pruning is
    * per file, so the probe behavior is unchanged). Falls back to the
    * full build on a missing/pre-meta prior or a batch that touches an
    * already-seen date (partial-granule QC would diverge). */
  def appendToGranuleCache(s: SparkSession, d: String,
      batchRaw: DataFrame): Unit =
    Warehouse.maintain("gcache", d)(buildGranuleCache(s, d)) { prior =>
      appendToGranuleCacheIncremental(s, d, batchRaw, prior, Io.parquet(
        s, s"$prior/meta").select("max_date").head().getString(0))
    }

  private def appendToGranuleCacheIncremental(s: SparkSession, d: String,
      batchRaw: DataFrame, prior: String, priorMaxDate: String): Unit = {
    Warehouse.getOrBuild("gcache", d, "lineitem.parquet") { tmp =>
      val (qc, qcPin) = Checkpoints.pin(
        // drop the scene-gate census column before the eager pin: the
        // batch paths never read it, and a pin materializes ALL columns
        // (pruning stops at a localCheckpoint)
        Quality.granuleQcOf(batchRaw).drop("n_valid_ndvi"))
      try {
        val mrow = qc.agg(count(lit(1)).as("n"),
          min(date_format(col("time"), "yyyy-MM-dd")).as("dmin"),
          max(date_format(col("time"), "yyyy-MM-dd")).as("dmax")).head()
        val nGran = mrow.getLong(0)
        // appended dates must follow the prior cache
        if (nGran > 0L && mrow.getString(1) <= priorMaxDate)
          throw Warehouse.Rebuild("seen-date")
        Warehouse.copyTree(s"$prior/cache", tmp.resolve("cache"))
        if (nGran > 0) {
          val pass = col("contamination_pct") <= Quality.MaxContaminationPct &&
            col("valid_pct") >= Quality.MinValidPct
          Export.writeGranuleCache(
            PixelOps.withIndices(batchRaw)
              .join(qc.filter(pass).select("tile_id", "time"),
                Seq("tile_id", "time"), "left_semi")
              .select("tile_id", "time", "date", "y", "x", "ndvi_c", "evi_c"),
            s"$tmp/cache", mode=org.apache.spark.sql.SaveMode.Append)
        }
        // per-tile file hygiene: appends land one file per touched tile
        // per batch; over-budget leaves rewrite date-sorted at the
        // sink's zstd codec so the carried tree keeps its layout
        Warehouse.compactTreeIfNeeded(s, tmp.resolve("cache"),
          Seq("date"), Some("zstd"))
        writeGcacheMeta(s, tmp.toString,
          if (nGran > 0 && mrow.getString(2) > priorMaxDate) mrow.getString(2)
          else priorMaxDate)
      } finally Checkpoints.release(qcPin)
    }
    ()
  }

  /** Explicit build step for the granule cache; p08 builds lazily on
    * first use, [[graft.Bench]]'s warm-up runs it up front so the p08
    * timing measures the cached-serve path. */
  def buildGranuleCache(s: SparkSession, d: String): Unit = {
    granuleCacheIndex(s, d)
    ()
  }

  /** Test hook: drop the per-dataset granule-cache memo. */
  private[graft] def clearGranuleCacheCache(): Unit = granuleCacheCache.clear()

  /** The §3.1 lifecycle as a DECLARED query: per-date summary of the
    * merged cube after the FULL scan → mask → granule-gate → scene-
    * filter → same-day-merge DAG. Every stage was already oracle-checked
    * in isolation (q01/q02, q03, m02); this entry puts their COMPOSITION
    * under the hash gate, so a wiring regression (a dropped semi-join, a
    * filter applied pre-gate) fails correctness, not just a spec. */
  private def summaryOf(cube: DataFrame): DataFrame =
    cube.groupBy(col("date"))
      .agg(count(lit(1)).as("n_cells"),
        sum("num_granules_merged").as("n_granules"),
        Num.r6(avg("ndvi")).as("ndvi_mean"),
        Num.r6(avg("evi")).as("evi_mean"))
      .select(date_format(col("date"), "yyyy-MM-dd").as("day"),
        col("n_cells"), col("n_granules"), col("ndvi_mean"), col("evi_mean"))
      .orderBy("day")

  val pipelineSummaryQ: (SparkSession, String) => DataFrame = (s, d) =>
    summaryOf(cubeIndex(s, d))

  /** The SAME §3.1 summary as p05 but LIVE — the one-shot composed
    * scan → gate → filter → merge DAG with no cube cache, declared as
    * its own query (same oracle) so the full composition keeps a
    * wall-time number of its own next to p05's served cost. The pair
    * makes the build/serve trade explicit in every BENCH artifact:
    * p07 ≈ cube_build + p05. */
  val pipelineLiveQ: (SparkSession, String) => DataFrame = (s, d) =>
    summaryOf(run(s, d).cubeRaw)

  /** p08 — the granule-cache ROUND TRIP under the oracle: stage 1 is
    * written through the production cache sink and read back
    * ([[granuleCacheIndex]] — exactly [[runAndWrite]]'s path), stages
    * 2-5 run [[fromGated]] on the read-back relation, and the summary
    * must hash-match the same oracle as p05/p07. A cache-layout
    * regression (a dropped column, a partition-type narrowing, a lossy
    * codec) now fails correctness, not just PipelineSpec — the
    * reference's cache is load-bearing (processor.py:342-356 serves
    * cached granules on every resume), so the write→read cycle belongs
    * under the gate. */
  val pipelineCachedQ: (SparkSession, String) => DataFrame = (s, d) =>
    summaryOf(fromGated(granuleCacheIndex(s, d)).cubeRaw)

  /** Shared CTE prefix of the composed oracles: the q01 QC body, the
    * gate thresholds, the scene-level valid-share filter, and the m02
    * merge, chained exactly as [[run]] wires them — ends at the `cube`
    * relation both p05 and p06 consume. */
  private[graft] val cubeCtes: String = {
    val f = Pixels.Sql0
    s"""WITH qc AS (
       |${Quality.qcSqlBody}
       |), gated AS (
       |  SELECT p.* FROM pixels p
       |  WHERE EXISTS (SELECT 1 FROM qc
       |    WHERE qc.tile_id = p.tile_id AND qc.time = p.time
       |      AND qc.contamination_pct <= ${Quality.MaxContaminationPct}
       |      AND qc.valid_pct >= ${Quality.MinValidPct})
       |), scenes AS (
       |  SELECT time,
       |    count(${f.ndviClipped}) AS n_valid,
       |    count(*) AS n_total
       |  FROM gated GROUP BY time
       |), keep AS (
       |  SELECT time FROM scenes
       |  WHERE (SELECT count(*) FROM scenes) < 3
       |     OR 100.0 * n_valid / n_total >= 40.0
       |), filtered AS (
       |  SELECT g.* FROM gated g
       |  WHERE EXISTS (SELECT 1 FROM keep k WHERE k.time = g.time)
       |), cube AS (
       |  SELECT date, y, x,
       |    avg(${f.ndviClipped}) AS ndvi,
       |    avg(${f.eviClipped}) AS evi,
       |    count(DISTINCT (tile_id, time)) AS num_granules_merged
       |  FROM filtered GROUP BY date, y, x
       |)""".stripMargin
  }

  val pipelineSummarySql: String =
    Pixels.withPixels(
      s"""$cubeCtes
         |SELECT strftime(date, '%Y-%m-%d') AS day,
         |  count(*) AS n_cells,
         |  CAST(sum(num_granules_merged) AS BIGINT) AS n_granules,
         |  0.0 + round(avg(ndvi), 6) AS ndvi_mean,
         |  0.0 + round(avg(evi), 6) AS evi_mean
         |FROM cube GROUP BY date
         |ORDER BY day""".stripMargin)

  /** Event-detection thresholds [[run]] feeds to Events.detectDrops —
    * the reference pair (settings.py:24-26) on the synthetic NDVI
    * scale. */
  private val PipeDropThreshold = -0.05
  private val PipeRecoveryThreshold = 0.03

  /** The DETECTION stage of the §3.1 DAG under the hash gate: the
    * abrupt-drop events [[run]] raises from the merged cube's daily
    * means. With p05 gating scan → mask → gate → filter → merge, this
    * entry chains the event classifier on top, so the lifecycle is
    * oracle-checked end to end — a threshold, window, or wiring
    * regression in detection now fails correctness, not just
    * PipelineSpec. */
  val pipelineEventsQ: (SparkSession, String) => DataFrame = (s, d) => {
    val daySeries = cubeIndex(s, d).groupBy(col("date").as("day"))
      .agg(avg("ndvi").as("vmean"))
    Events.detectDrops(daySeries,
      dropThreshold = PipeDropThreshold,
      recoveryThreshold = PipeRecoveryThreshold)
  }

  val pipelineEventsSql: String =
    Pixels.withPixels(
      s"""$cubeCtes, ds AS (
         |  SELECT date AS day, avg(ndvi) AS vmean FROM cube GROUP BY date
         |), ws AS (
         |  SELECT day, vmean,
         |    lag(vmean) OVER (ORDER BY day) AS prev_mean,
         |    lead(vmean) OVER (ORDER BY day) AS next_mean
         |  FROM ds
         |)
         |SELECT strftime(day, '%Y-%m-%d') AS date,
         |  0.0 + round(prev_mean, 6) AS value_before,
         |  0.0 + round(vmean, 6) AS value_during,
         |  0.0 + round(next_mean, 6) AS value_after,
         |  0.0 + round(vmean - prev_mean, 6) AS drop,
         |  CASE WHEN next_mean IS NULL THEN 'recent_event'
         |       WHEN next_mean - vmean > $PipeRecoveryThreshold THEN 'transient_anomaly'
         |       ELSE 'possible_fire_or_harvest' END AS type
         |FROM ws
         |WHERE vmean - prev_mean < $PipeDropThreshold
         |ORDER BY date""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p05_pipeline_summary" -> pipelineSummaryQ,
    "p06_pipeline_events" -> pipelineEventsQ,
    "p07_pipeline_live" -> pipelineLiveQ,
    "p08_pipeline_cached" -> pipelineCachedQ)

  val oracle: Map[String, String] = Map(
    "p05_pipeline_summary" -> pipelineSummarySql,
    "p06_pipeline_events" -> pipelineEventsSql,
    "p07_pipeline_live" -> pipelineSummarySql,
    "p08_pipeline_cached" -> pipelineSummarySql)
}
