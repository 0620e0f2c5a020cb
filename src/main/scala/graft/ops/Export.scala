package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sink operators (SURVEY.md §2.2; reference pipeline.py:173-187,
  * arcgis.py:30-175): the cube sink, per-granule cache sink, export-side
  * nodata fill + downsample, events JSON, and the dataset index /
  * style metadata records.
  *
  * Format mapping: the reference's zlib-NetCDF / LZW-GeoTIFF become
  * zstd Parquet partitioned by date — columnar + compressed + partition-
  * prunable, which is the cloud-scale analog (SURVEY.md §1.3). A true
  * GeoTIFF encoder would slot into a foreachPartition writer without
  * changing any of these shapes.
  *
  * Scale posture: every sink partitions by date (bounded daily volume),
  * so writers parallelize per partition and downstream readers prune on
  * the time predicate. Nothing collects to the driver except the
  * single-row index record.
  */
object Export {

  /** Cube sink — pipeline.py:175-176: date-partitioned zstd parquet. */
  def writeCube(cube: DataFrame, out: String): Unit =
    cube
      .withColumn("p_date", to_date(col("time")))
      .repartition(col("p_date"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("p_date")
      .option("compression", "zstd")
      .parquet(out)

  /** True NetCDF-3 cube sink — the container pipeline.py:175-176
    * writes and every reference consumer opens directly (arcgis.py:20,
    * visualize_dataset.py:30): dims (time, y, x), CF-style coordinate
    * variables from the grid affine (pixel centers), float32 ndvi/evi
    * with _FillValue −9999, time in days since 1970-01-01. The codec is
    * the dependency-free [[Netcdf]] writer (classic CDF-1, auto CDF-2
    * past 2 GiB; classic is uncompressed by spec — the reference's
    * zlib encoding is a NetCDF-4/HDF5 feature).
    *
    * Scale posture: frame rasters build distributed ([[dateFrames]]
    * co-locates by date), then STREAM to the single-file container in
    * date order via `toLocalIterator` — one fetched partition on the
    * driver at a time, like [[writeGif]]. A single `.nc` is inherently
    * one ordered file; the parquet [[writeCube]] stays the 100 TB
    * path, this sink is the toolchain-compatibility container for
    * export-scale cubes. */
  def writeNetcdf(cube: DataFrame, outPath: String, grid: GridSpec,
      title: String = "graft NDVI/EVI cube"): Unit = {
    import Netcdf._
    val (w, h) = (grid.width, grid.height)
    val spark = cube.sparkSession
    import spark.implicits._
    val dates = cube
      .select(date_format(col("time"), "yyyy-MM-dd").as("d"))
      .distinct().orderBy("d").as[String].collect()
    val frames = dateFrames(cube)
      .mapPartitions { rows =>
        val acc = scala.collection.mutable.LinkedHashMap
          .empty[String, (Array[Float], Array[Float])]
        rows.foreach { r =>
          val (nd, ev) = acc.getOrElseUpdate(r.getString(0),
            (Array.fill(w * h)(-9999f), Array.fill(w * h)(-9999f)))
          val idx = r.getInt(1) * w + r.getInt(2)
          def put(a: Array[Float], c: Int): Unit = if (!r.isNullAt(c)) {
            val v = r.getDouble(c)
            if (!v.isNaN) a(idx) = v.toFloat
          }
          put(nd, 3); put(ev, 4)
        }
        def be(a: Array[Float]): Array[Byte] = {
          val bb = java.nio.ByteBuffer.allocate(a.length * 4)
          a.foreach(bb.putFloat)
          bb.array()
        }
        acc.iterator.map { case (d, (nd, ev)) => (d, be(nd), be(ev)) }
      }
      .orderBy("_1")
    def coords(n: Int, origin: Double, step: Double): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(n * 8)
      (0 until n).foreach(i => bb.putDouble(origin + (i + 0.5) * step))
      bb.array()
    }
    val schema = Schema(
      dims = Seq(("time", 0), ("y", h), ("x", w)),
      gatts = Seq("title" -> TextAtt(title),
        "Conventions" -> TextAtt("CF-1.6"), "crs" -> TextAtt("EPSG:4326")),
      vars = Seq(
        NcVar("time", Seq(0), NcInt, Seq(
          "units" -> TextAtt("days since 1970-01-01"),
          "calendar" -> TextAtt("proleptic_gregorian"))),
        NcVar("y", Seq(1), NcDouble, Seq(
          "standard_name" -> TextAtt("latitude"),
          "units" -> TextAtt("degrees_north"))),
        NcVar("x", Seq(2), NcDouble, Seq(
          "standard_name" -> TextAtt("longitude"),
          "units" -> TextAtt("degrees_east"))),
        NcVar("ndvi", Seq(0, 1, 2), NcFloat, Seq(
          "_FillValue" -> FloatAtt(Array(-9999f)),
          "long_name" -> TextAtt("normalized difference vegetation index"))),
        NcVar("evi", Seq(0, 1, 2), NcFloat, Seq(
          "_FillValue" -> FloatAtt(Array(-9999f)),
          "long_name" -> TextAtt("enhanced vegetation index")))))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outPath).toAbsolutePath.getParent)
    val out = new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(outPath)))
    try {
      import scala.jdk.CollectionConverters._
      Netcdf.write(out, schema, dates.length,
        fixed = Map(
          "y" -> coords(h, grid.north, grid.pxLat),
          "x" -> coords(w, grid.west, grid.pxLon)),
        records = frames.toLocalIterator().asScala.map { case (d, nd, ev) =>
          val t = java.nio.ByteBuffer.allocate(4)
            .putInt(java.time.LocalDate.parse(d).toEpochDay.toInt)
          Seq(t.array(), nd, ev)
        })
    } finally out.close()
  }

  /** NetCDF cube SOURCE — the read half of [[writeNetcdf]]
    * (src_netcdf_read, SURVEY §2.1: the reference opens its own `.nc`
    * everywhere — processor.py:349, arcgis.py:20,
    * visualize_dataset.py:30): parse the classic container with the
    * dependency-free [[Netcdf]] codec and surface the cube as the
    * engine's long-form relation (date, y, x, ndvi, evi), fill −9999 →
    * NULL per the engine-wide missing-value rule (SURVEY §7.4).
    *
    * Scale posture: a single `.nc` container is inherently one
    * driver-read file (that is why [[writeCube]]'s parquet stays the
    * 100 TB path), but decode fans out one task per time slice, so
    * only the raw bytes pass through the driver — Spark never sees an
    * undistributed row collection. */
  def readNetcdf(spark: SparkSession, path: String): DataFrame = {
    val p = Netcdf.read(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)))
    def dim(n: String): Int = p.s.dims.find(_._1 == n).map(_._2)
      .getOrElse(sys.error(s"not a graft cube container: missing dim $n"))
    val (h, w) = (dim("y"), dim("x"))
    Seq("time", "ndvi", "evi").foreach(v => require(p.data.contains(v),
      s"not a graft cube container: missing variable $v"))
    // Shape/type guard: the byte-level decode below reads int32 for
    // time and float32 over (time, y, x) for the indices — a container
    // that merely NAMES these variables but types or shapes them
    // differently would decode garbage, not fail. Reject it here.
    def dimNames(v: Netcdf.NcVar): Seq[String] = v.dimIds.map(p.s.dims(_)._1)
    Seq(("time", Netcdf.NcInt, Seq("time")),
        ("ndvi", Netcdf.NcFloat, Seq("time", "y", "x")),
        ("evi", Netcdf.NcFloat, Seq("time", "y", "x"))).foreach {
      case (n, tpe, shape) =>
        val v = p.s.vars.find(_.name == n).getOrElse(
          sys.error(s"not a graft cube container: missing variable $n"))
        require(v.tpe == tpe && dimNames(v) == shape,
          s"not a graft cube container: $n has type ${v.tpe} over " +
            s"(${dimNames(v).mkString(",")}), expected $tpe over " +
            s"(${shape.mkString(",")})")
    }
    val tb = java.nio.ByteBuffer.wrap(p.data("time"))
    val days = Array.fill(p.numRecs)(tb.getInt())
    val nd = p.data("ndvi")
    val ev = p.data("evi")
    val slab = h * w * 4
    val slices = (0 until p.numRecs).map { t =>
      (days(t),
        java.util.Arrays.copyOfRange(nd, t * slab, (t + 1) * slab),
        java.util.Arrays.copyOfRange(ev, t * slab, (t + 1) * slab))
    }
    import spark.implicits._
    spark.sparkContext
      .parallelize(slices, math.max(1, math.min(p.numRecs, 32)))
      .flatMap { case (day, ndb, evb) =>
        val nb = java.nio.ByteBuffer.wrap(ndb)
        val eb = java.nio.ByteBuffer.wrap(evb)
        for (y <- 0 until h; x <- 0 until w) yield {
          val n = nb.getFloat()
          val e = eb.getFloat()
          (day, y, x,
            if (n == -9999f) None else Some(n),
            if (e == -9999f) None else Some(e))
        }
      }
      .toDF("epoch_day", "y", "x", "ndvi", "evi")
      .select(expr("date_add(DATE '1970-01-01', epoch_day)").as("date"),
        col("y"), col("x"), col("ndvi"), col("evi"))
  }

  /** Per-granule cache sink — processor.py:358-366 (cache probe at
    * :349-356): tile-partitioned, date-sorted zstd parquet;
    * invalidation is per-TILE overwrite (the m03 anti-join decides
    * granule-level skips on keys, not directories). */
  def writeGranuleCache(granule: DataFrame, cacheDir: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    granule
      .withColumn("p_date", to_date(col("time")))
      // Partition DIRECTORIES by tile only: a fixed (tile, day) dir
      // layout is the classic small-files trap — this corpus alone
      // spans ~2.5k distinct days, i.e. ~10k directories whose
      // listing/commit cost dwarfs the data (measured 27 s vs <2 s at
      // sf0.001). Days sort WITHIN each tile's files instead, so a
      // (tile, day) probe prunes to one row group via parquet min/max
      // stats — the same skip behavior as directory pruning at a
      // bounded file count; the reference's per-(tile,day) `.nc` file
      // (processor.py:342-344) is this layout's degenerate case.
      // RANGE-partition on (tile, day) so a big tile's history splits
      // across tasks (a hash-on-tile repartition caps write parallelism
      // at the tile count), and lead the sort with tile_id: the
      // partitioned-write planner requires an ordering by the partition
      // column and ELIMINATES any user sort that does not satisfy it —
      // a (p_date, time)-only sort is silently dropped and the
      // row-group pruning claim with it.
      .repartitionByRange(col("tile_id"), col("p_date"))
      .sortWithinPartitions("tile_id", "p_date", "time")
      .write.mode(mode)
      .partitionBy("tile_id")
      .option("compression", "zstd")
      .parquet(cacheDir)

  /** Export-side projection — arcgis.py:52-92: optional stride
    * downsample (with grid reindex) and NaN→−9999 fill. */
  def exportFrame(cube: DataFrame, downsample: Int = 1): DataFrame = {
    val base =
      if (downsample == 1) cube
      else cube.filter(Indices.downsample(col("y"), col("x"), downsample))
        .withColumn("y", expr(s"y div $downsample").cast("int"))
        .withColumn("x", expr(s"x div $downsample").cast("int"))
    base
      .withColumn("ndvi", Indices.nodataFill(col("ndvi")))
      .withColumn("evi", Indices.nodataFill(col("evi")))
  }

  /** GeoTIFF sink — arcgis.py:60-92: one 2-band (NDVI, EVI) float32
    * GeoTIFF per date frame, nodata −9999, band descriptions and
    * per-band date/variable tags, georeferenced by the grid affine.
    *
    * Scale posture: frames are co-located by a date repartition, so each
    * task encodes and writes only whole files — the standard
    * `foreachPartition` object-store writer shape (here the target is a
    * directory path; swapping in a cloud filesystem stream changes one
    * line). A frame is width×height float32 ×2 — megabytes, not a
    * driver-side collect. `lzw = true` writes TIFF compression 5 for
    * byte-level parity with the reference's `compress='lzw'`
    * (arcgis.py:76); the Deflate default is the documented equivalent. */
  def writeGeoTiffs(cube: DataFrame, outDir: String, grid: GridSpec,
      lzw: Boolean = false): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val (w, h) = (grid.width, grid.height)
    cube
      .select(date_format(col("time"), "yyyy-MM-dd").as("d"),
        col("y"), col("x"), col("time"),
        col("ndvi").cast("float").as("ndvi"), col("evi").cast("float").as("evi"))
      // A date can hold several scenes per cell (pre-merge input): keep
      // the LATEST scene's values deterministically — the reference
      // writes one file per timestamp named by its date, so later
      // same-day timestamps overwrite earlier ones (arcgis.py:55-67).
      // Without this the writer's last-row-wins would follow shuffle
      // order.
      .groupBy("d", "y", "x")
      .agg(expr("max_by(named_struct('ndvi', ndvi, 'evi', evi), time)").as("v"))
      .select(col("d"), col("y"), col("x"),
        col("v.ndvi").as("ndvi"), col("v.evi").as("evi"))
      .repartition(col("d"))
      .sortWithinPartitions("d", "y", "x")
      .foreachPartition { (rows: Iterator[Row]) =>
        var cur: String = null
        var ndvi: Array[Float] = null
        var evi: Array[Float] = null
        def flush(): Unit = if (cur != null) {
          val bytes = GeoTiff.encode(grid, cur,
            Seq("NDVI" -> ndvi, "EVI" -> evi), lzw = lzw)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"$cur.tif"), bytes)
        }
        rows.foreach { r =>
          val d = r.getString(0)
          if (d != cur) {
            flush(); cur = d
            ndvi = Array.fill(w * h)(GeoTiff.Nodata)
            evi = Array.fill(w * h)(GeoTiff.Nodata)
          }
          val (y, x) = (r.getInt(1), r.getInt(2))
          require(y >= 0 && y < h && x >= 0 && x < w,
            s"cell ($y, $x) outside the ${w}x$h export grid")
          val idx = y * w + x
          if (!r.isNullAt(3)) ndvi(idx) = r.getFloat(3)
          if (!r.isNullAt(4)) evi(idx) = r.getFloat(4)
        }
        flush()
      }
  }

  /** Frame-byte budget for the image sinks (override:
    * `graft.maxFrameBytes`; default 256 MiB). Each rendered frame
    * materializes one w×h buffer per date — a palette byte per pixel
    * for GIF, an RGBA int per pixel for PNG — in a single task (and,
    * for GIF, streamed through the one driver-side writer a GIF's
    * ordered byte format requires). A 100× cube pushed through
    * undownsampled would OOM that single buffer, so the sinks fail
    * fast BEFORE running any job, naming the remedy: the frame AREA
    * must shrink first ([[GridSpec.downsample]] / filter_downsample),
    * which is also what an animation of a raster IS at scale. */
  private def requireFrameBudget(sink: String, w: Int, h: Int,
      bytesPerPx: Int): Unit = {
    val budget = sys.props.get("graft.maxFrameBytes").flatMap(_.toLongOption)
      .getOrElse(256L << 20)
    val need = w.toLong * h.toLong * bytesPerPx
    require(need <= budget,
      s"$sink frame ${w}x$h needs $need bytes per frame, over " +
        s"graft.maxFrameBytes=$budget — downsample the cube/grid first " +
        "(GridSpec.downsample, the reference's frame-export path) or " +
        "raise the budget")
  }

  /** PNG frame sink — visualize_dataset.py:343-355 (export_all_frames):
    * one colormapped RGBA frame per date per variable, NDVI normalized
    * over (−0.2, 1.0) and EVI over (−0.2, 2.0) through the RdYlGn
    * colormap (visualize_dataset.py:102, 119), missing cells
    * transparent (matplotlib's masked-pixel default). Same
    * `foreachPartition` whole-file writer shape as [[writeGeoTiffs]]:
    * frames co-locate by date, each task encodes complete files, and
    * the pixel→color mapping runs on the executors. */
  def writePngFrames(cube: DataFrame, outDir: String, grid: GridSpec): Unit = {
    requireFrameBudget("png", grid.width, grid.height, bytesPerPx = 4)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val (w, h) = (grid.width, grid.height)
    dateFrames(cube)
      .foreachPartition { (rows: Iterator[Row]) =>
        var cur: String = null
        var ndvi: Array[Double] = null
        var evi: Array[Double] = null
        def rgba(v: Double, vmin: Double, vmax: Double): Int =
          if (v.isNaN) 0
          else 0xff000000 | Raster.RdYlGn(math.min(
            Raster.colorIndex(v, vmin, vmax), 254))
        def flush(): Unit = if (cur != null) {
          Seq(("ndvi", ndvi, 1.0), ("evi", evi, 2.0)).foreach {
            case (name, vals, vmax) =>
              val px = vals.map(rgba(_, -0.2, vmax))
              java.nio.file.Files.write(
                java.nio.file.Paths.get(outDir, s"${name}_$cur.png"),
                Raster.Png.encode(w, h, px))
          }
        }
        rows.foreach { r =>
          val d = r.getString(0)
          if (d != cur) {
            flush(); cur = d
            ndvi = Array.fill(w * h)(Double.NaN)
            evi = Array.fill(w * h)(Double.NaN)
          }
          val idx = r.getInt(1) * w + r.getInt(2)
          if (!r.isNullAt(3)) ndvi(idx) = r.getDouble(3)
          if (!r.isNullAt(4)) evi(idx) = r.getDouble(4)
        }
        flush()
      }
  }

  /** Animated-GIF sink — visualize_dataset.py:357-414 (create_gif):
    * the chronological NDVI frame sequence as one looping GIF89a, PIL's
    * `duration=500` ms → 50 cs per frame, `loop=0` forever
    * (visualize_dataset.py:398-404). The per-frame work — same-day
    * dedup, pixel→palette-index mapping — runs distributed; the
    * palette-index rasters (w×h BYTES per date, already
    * colormap-quantized) STREAM back in date order via
    * `toLocalIterator` — the driver holds one fetched partition of
    * frames at a time, not the series — and the encoder writes each
    * frame's blocks straight to the file, since a GIF is one ordered
    * stream. A long series therefore cannot OOM the driver; the frame
    * AREA is still [[exportFrame]]-downsampled first at scale, which is
    * also what a GIF of a raster IS. */
  def writeGif(cube: DataFrame, outPath: String, grid: GridSpec,
      variable: String = "ndvi", vmin: Double = -0.2, vmax: Double = 1.0,
      delayCs: Int = 50): Unit = {
    requireFrameBudget("gif", grid.width, grid.height, bytesPerPx = 1)
    val (w, h) = (grid.width, grid.height)
    val spark = cube.sparkSession
    import spark.implicits._
    val frames = dateFrames(cube)
      .select(col("d"), col("y"), col("x"),
        col(variable).cast("double").as("v"))
      .mapPartitions { rows =>
        val acc = scala.collection.mutable.LinkedHashMap.empty[String, Array[Byte]]
        rows.foreach { r =>
          val arr = acc.getOrElseUpdate(r.getString(0),
            Array.fill(w * h)(255.toByte)) // nodata index
          if (!r.isNullAt(3))
            arr(r.getInt(1) * w + r.getInt(2)) =
              Raster.colorIndex(r.getDouble(3), vmin, vmax).toByte
        }
        acc.iterator
      }
      // total order across partitions (range partitioning), so the
      // partition-by-partition local iterator yields dates in order
      .orderBy("_1")
    val palette = Raster.RdYlGn :+ 0xffffff // 255 = nodata, white background
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outPath).toAbsolutePath.getParent)
    val out = new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(outPath)))
    try {
      import scala.jdk.CollectionConverters._
      Raster.Gif.encodeTo(out, w, h, palette,
        frames.toLocalIterator().asScala
          .map { case (_, idx) => Raster.Gif.Frame(idx, delayCs) })
    } finally out.close()
  }

  /** Shared frame preparation for the image sinks: same-day dedup
    * (latest scene wins, like [[writeGeoTiffs]]) and date co-location
    * so each task holds whole frames in (y, x) order. */
  private def dateFrames(cube: DataFrame): DataFrame =
    cube
      .select(date_format(col("time"), "yyyy-MM-dd").as("d"),
        col("y"), col("x"), col("time"),
        col("ndvi").cast("double").as("ndvi"),
        col("evi").cast("double").as("evi"))
      .groupBy("d", "y", "x")
      .agg(expr("max_by(named_struct('ndvi', ndvi, 'evi', evi), time)").as("v"))
      .select(col("d"), col("y"), col("x"),
        col("v.ndvi").as("ndvi"), col("v.evi").as("evi"))
      .repartition(col("d"))
      .sortWithinPartitions("d", "y", "x")

  /** Events sink — pipeline.py:167-171: one JSON file of event records. */
  def writeEventsJson(events: DataFrame, out: String): Unit =
    events.coalesce(1).write.mode(SaveMode.Overwrite).json(out)

  /** Dataset index record — arcgis.py:103-153: crs, transform, dims,
    * bounds, center (midpoint fallback math at arcgis.py:107-117),
    * band descriptors, nodata, date list. */
  def indexRecord(spark: SparkSession, cube: DataFrame,
      crs: String = "EPSG:4326",
      transform: Seq[Double] = Seq(0.00027, 0.0, 0.0, 0.0, -0.00027, 0.0)): DataFrame = {
    val dims = cube.agg(
      (max("y") + 1).cast("int").as("height"),
      (max("x") + 1).cast("int").as("width"),
      countDistinct("time").as("n_times"),
      sort_array(collect_set(date_format(col("time"), "yyyy-MM-dd"))).as("dates"))
    dims.select(
      lit(crs).as("crs"),
      lit(transform.toArray).as("transform"),
      col("height"), col("width"), col("n_times"), col("dates"),
      lit(-9999.0).as("nodata"),
      array(lit("ndvi"), lit("evi")).as("bands"),
      ((lit(0.0) + col("width") * transform.head) / 2.0).as("center_lon"),
      ((lit(0.0) + col("height") * transform(4)) / 2.0).as("center_lat"))
  }

  def writeIndexJson(spark: SparkSession, cube: DataFrame, out: String): Unit =
    indexRecord(spark, cube).coalesce(1).write.mode(SaveMode.Overwrite).json(out)

  /** Fixed 6-class NDVI color-ramp style — arcgis.py:155-175. */
  def styleRecords(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (-1.0, 0.0, "water_or_nodata", "#0000FF"),
      (0.0, 0.2, "bare_soil", "#A52A2A"),
      (0.2, 0.4, "sparse_vegetation", "#FFFF00"),
      (0.4, 0.6, "moderate_vegetation", "#9ACD32"),
      (0.6, 0.8, "dense_vegetation", "#008000"),
      (0.8, 1.0, "very_dense_vegetation", "#006400")
    ).toDF("lo", "hi", "label", "color")
  }

  def writeStyleJson(spark: SparkSession, out: String): Unit =
    styleRecords(spark).coalesce(1).write.mode(SaveMode.Overwrite).json(out)

  /** Packed-shard sink: materialize the t15 token-budget assignment as a
    * shard-partitioned parquet corpus (`shard_id=N/` directories), the
    * layout a training dataloader consumes — each shard is one
    * self-contained unit of ~PackBudget tokens, and the t15 manifest is
    * its table of contents. Partition pruning on shard_id gives a loader
    * O(1) access to any shard; the assignment is deterministic
    * (doc_id-ordered prefix sum), so a re-run reproduces byte-identical
    * shard membership. */
  def writePackedShards(spark: SparkSession, d: String, out: String): Unit =
    graft.Tables.documents(spark, d)
      .join(TextOps.packAssignments(spark, d).select("doc_id", "shard_id"),
        "doc_id")
      .write.mode(SaveMode.Overwrite).partitionBy("shard_id").parquet(out)

  /** The full curate→pack→ship composition: run the t17 funnel, pack
    * ONLY the surviving documents (offsets recompute over the survivor
    * set, keeping shards budget-dense after the drops), and write the
    * shard-partitioned curated corpus — the artifact a training job
    * actually reads. */
  def writeCuratedShards(spark: SparkSession, d: String, out: String): Unit = {
    val raw = graft.Tables.documents(spark, d)
    val curated = raw.join(
      TextOps.funnelIndex(spark, d)
        .filter(col("stage") === "05_decontaminated").select("doc_id"),
      "doc_id")
    // the raw corpus id span bounds the survivors' span, so the range
    // width stays scale-safe without evaluating the funnel twice
    val width = TextOps.packRangeFor(TextOps.maxDocId(raw))
    curated
      .join(TextOps.packAssignmentsOf(curated, width)
        .select("doc_id", "shard_id"), "doc_id")
      .write.mode(SaveMode.Overwrite).partitionBy("shard_id").parquet(out)
  }

  // ---------------------------------------------------------------- x08
  private val gtiffCache = new BuildCache[String]

  /** Per-corpus-version GeoTIFF frame directory: the merged cube
    * written through [[writeGeoTiffs]] with LZW on (arcgis.py:67-78
    * writes exactly this layout), one `<date>.tif` per cube day, kept
    * as a warehouse artifact so the sink runs once per corpus version
    * and x08 measures the READ-BACK contract. */
  private[graft] def geoTiffFramesIndex(s: SparkSession, d: String): String =
    gtiffCache.get(s"$d@${BuildCache.version(d, "lineitem.parquet")}") {
      Warehouse.getOrBuild("gtiff", d, "lineitem.parquet") { tmp =>
        java.nio.file.Files.createDirectories(tmp)
        writeGeoTiffs(Pipeline.cubeIndex(s, d), tmp.toString,
          Resample.SrcGrid, lzw = true)
      }
    }

  /** Explicit build step ([[graft.Bench]] runs it up front and reports
    * `gtiff_build`, so x08 measures serving). */
  def buildGeoTiffFrames(s: SparkSession, d: String): Unit = {
    geoTiffFramesIndex(s, d)
    ()
  }

  /** Test hook: drop the per-dataset frame-dir memo. */
  private[graft] def clearGtiffCache(): Unit = gtiffCache.clear()

  /** INCREMENTAL frame-sink maintenance — frames are `<date>.tif`, a
    * pure per-date function of that date's cube rows, and the cube
    * itself appends only strictly-newer dates (Pipeline.appendToCube's
    * guard) — so the prior version's frames carry over BY FILE and only
    * dates newer than the newest carried frame encode. Run after
    * [[graft.ops.Pipeline.appendToCube]] for the same batch; the new
    * frame set derives from the prior artifact's own file names, so no
    * separate batch argument (or meta table) is needed. Falls back to
    * the idempotent full build on a missing prior or any failure. */
  def appendToGeoTiffFrames(s: SparkSession, d: String): Unit =
    Warehouse.maintain("gtiff", d)(buildGeoTiffFrames(s, d)) { prior =>
      Warehouse.getOrBuild("gtiff", d, "lineitem.parquet") { tmp =>
        java.nio.file.Files.createDirectories(tmp)
        Warehouse.copyData(prior, tmp)
        val st = java.nio.file.Files.list(java.nio.file.Paths.get(prior))
        val maxPrior =
          try {
            import scala.jdk.CollectionConverters._
            st.iterator().asScala.map(_.getFileName.toString)
              .filter(_.endsWith(".tif"))
              .map(_.stripSuffix(".tif")).maxOption
          } finally st.close()
        val cube = Pipeline.cubeIndex(s, d)
        writeGeoTiffs(
          maxPrior.fold(cube)(mx => cube.filter(col("date") > lit(mx))),
          tmp.toString, Resample.SrcGrid, lzw = true)
      }
      ()
    }

  /** x08 — the GeoTIFF SINK under the oracle (VERDICT r8 #8): decode
    * every written frame back and declare, per frame, the parsed header
    * geometry (width/height, physical strip count, compression tag) and
    * the decoded-value census (non-nodata count + mean per band). The
    * oracle re-derives the census from the cube CTEs and pins the
    * header fields to the fixed grid/codec contract — so an encoder
    * regression (wrong strip chunking, a broken LZW table, a dropped
    * nodata fill, float corruption) fails CORRECTNESS, not only the
    * codec specs. Means compare at float32: the file stores float32, so
    * the oracle casts to REAL before averaging — both sides then sum
    * identical values.
    *
    * Scale posture: one task decodes one frame file (binaryFile packs
    * small files per task); nothing corpus-sized reaches the driver. */
  val sinkManifestQ: (SparkSession, String) => DataFrame = (s, d) => {
    import s.implicits._
    val dir = geoTiffFramesIndex(s, d)
    s.read.format("binaryFile").option("pathGlobFilter", "*.tif").load(dir)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .map { case (path, bytes) =>
        val dec = GeoTiff.decode(bytes)
        val frame = path.split('/').last.stripSuffix(".tif")
        def census(a: Array[Float]): (Long, Option[Double]) = {
          var n = 0L; var sum = 0.0
          a.foreach { v =>
            if (v != GeoTiff.Nodata) { n += 1; sum += v.toDouble } }
          (n, if (n == 0) None else Some(sum / n))
        }
        val (nN, mN) = census(dec.bands.head)
        val (nE, mE) = census(dec.bands(1))
        (frame, dec.width, dec.height, dec.nStrips, dec.compression,
          nN, mN, nE, mE)
      }
      .toDF("frame", "width", "height", "n_strips", "compression",
        "n_ndvi", "mean_ndvi", "n_evi", "mean_evi")
      .select(col("frame"), col("width"), col("height"), col("n_strips"),
        col("compression"),
        col("n_ndvi"), Num.r6(col("mean_ndvi")).as("mean_ndvi"),
        col("n_evi"), Num.r6(col("mean_evi")).as("mean_evi"))
      .orderBy("frame")
  }

  /** The x08 oracle: census from the same cube CTEs p05 gates on;
    * header fields pinned to the grid/codec contract the writer is
    * required to emit (32×32 frames, 2 bands × 1 strip under the
    * 64-row chunking, LZW tag 5). */
  val sinkManifestSql: String = Pixels.withPixels(
    s"""${Pipeline.cubeCtes}
       |SELECT strftime(date, '%Y-%m-%d') AS frame,
       |  CAST(${Resample.SrcGrid.width} AS INT) AS width,
       |  CAST(${Resample.SrcGrid.height} AS INT) AS height,
       |  CAST(${2 * ((Resample.SrcGrid.height + GeoTiff.RowsPerStrip - 1)
                / GeoTiff.RowsPerStrip)} AS INT) AS n_strips,
       |  CAST(${GeoTiff.CompLzw} AS INT) AS compression,
       |  CAST(count(ndvi) AS BIGINT) AS n_ndvi,
       |  0.0 + round(avg(CAST(ndvi AS REAL)), 6) AS mean_ndvi,
       |  CAST(count(evi) AS BIGINT) AS n_evi,
       |  0.0 + round(avg(CAST(evi AS REAL)), 6) AS mean_evi
       |FROM cube GROUP BY date
       |ORDER BY frame""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("x08_sink_manifest" -> sinkManifestQ)

  val oracle: Map[String, String] =
    Map("x08_sink_manifest" -> sinkManifestSql)
}
