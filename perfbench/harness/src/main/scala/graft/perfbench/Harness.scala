package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Families, Sessions, SparkEntry}
import graft.ops

/** The benchmark's single-process, closed-loop client: one caller, each
  * call issued only after the previous one returned, against
  * `Sessions.local()`. It times calls into the program's public entry
  * points from outside — `SparkEntry.queries` functions, `Families.all`
  * builds and the `appendTo*` maintenance entry points — and writes
  * what it measured to `<out>/result.json` for `perfbench/run.py`, which
  * checks outputs and prints the metrics.
  *
  * A query call is `fn(spark, dir)` (construction, including any eager
  * driver jobs) followed by a full `write.format("noop")`
  * materialization, which keeps every projected column and the final
  * ORDER BY (a `count()` lets Catalyst prune both).
  *
  * Arguments are `key=value`: `workload`, `data`, `out`, `trace`
  * (0 | 1), `run` (run id) and `check` (comma list of queries whose
  * results are dumped, untimed, for the oracle check). Workloads:
  *
  *  - `serve`: the `queries` (comma list), in the order given, after the
  *    `warmq` queries ran once, untimed, on the tiny `warm` dataset.
  *    Untimed output checks run on `data`.
  *  - `maintain`: cold builds of every `Families.all` family in
  *    registry order, then `nbatches` batches from `batches/<i>/`, each
  *    landed in the corpus, sent through every `appendTo*` entry point
  *    and followed by the `serve` queries (comma list).
  *  - `oracle-sql`: write `SparkEntry.oracleSql` as JSON and exit. */
object Harness {
  type Q = (SparkSession, String) => DataFrame

  /** The program's query modules, named as in `SparkEntry.queries`. */
  val Modules: Seq[(String, Map[String, Q])] = Seq(
    "relational" -> ops.Relational.queries, "pixelops" -> ops.PixelOps.queries,
    "quality" -> ops.Quality.queries, "merge" -> ops.Merge.queries,
    "stats" -> ops.Stats.queries, "meta" -> ops.Meta.queries,
    "events" -> ops.Events.queries, "textops" -> ops.TextOps.queries,
    "simops" -> ops.SimOps.queries, "multimodal" -> ops.Multimodal.queries,
    "resample" -> ops.Resample.queries, "pipeline" -> ops.Pipeline.queries,
    "export" -> ops.Export.queries)

  private val moduleOf: Map[String, String] =
    Modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** The maintained families with an `appendTo*` entry point, in the
    * order a batch goes through them (sig → textdup → funnel, cube →
    * gtiff are dependencies). */
  val AppendFamilies: Seq[String] = Seq("sig", "textdup", "funnel", "freq",
    "keywords", "ivf", "neardup", "cube", "gcache", "gtiff")

  final case class Call(kind: String, name: String, layer: String,
      batch: Int, seconds: Double, constructS: Double, error: Option[String],
      builds: Int, ledger: Option[Ledger])

  def main(args: Array[String]): Unit = {
    val o = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }
      .toMap
    val out = Paths.get(o("out"))
    Files.createDirectories(out)
    if (o("workload") == "oracle-sql") {
      Files.write(out.resolve("oracle_sql.json"), SparkEntry.oracleSql.toSeq
        .sortBy(_._1).map { case (k, v) => Json.str(k) + ":" + Json.str(v) }
        .mkString("{", ",\n", "}\n").getBytes("UTF-8"))
      return
    }
    val spans = new Spans(o.getOrElse("run", "run"))
    val gc0 = gcSeconds()
    val (spark, startS) = spans("session.start") { timed(Sessions.local()) }
    val tracer = if (o.getOrElse("trace", "0") == "1") Some(new Tracer(spark)) else None
    val data = o("data")
    // untimed warm-up: the serve workload runs its `warmq` queries once on
    // the tiny `warm` dataset; the maintain workload one tiny job, so the
    // first timed call does not pay the session's first-job cost
    val (_, warmS) = spans("session.warmup") { timed {
      val warmq = o.getOrElse("warmq", "").split(',').filter(_.nonEmpty)
      if (warmq.isEmpty) warmup(spark, data)
      else warmq.foreach { n =>
        try SparkEntry.queries(n)(spark, o("warm")).write.format("noop")
          .mode("overwrite").save()
        catch { case scala.util.control.NonFatal(_) => () }
        finally spark.catalog.clearCache()
      }
    } }
    val run = new Run(spark, tracer, spans)
    val checkNames = o.getOrElse("check", "").split(',').filter(_.nonEmpty).toSeq
    val extra = mutable.LinkedHashMap.empty[String, String]
    o("workload") match {
      case "serve" =>
        val qs = o("queries").split(',').filter(_.nonEmpty).toSeq
        spans("timed") {
          run.startClock()
          qs.foreach(n => run.query("query", n, SparkEntry.queries(n), data, -1))
        }
      case "maintain" =>
        val batchRoot = Paths.get(o("batches"))
        val nBatches = o("nbatches").toInt
        val serve = o("serve").split(',').filter(_.nonEmpty).toSeq
        val changes = mutable.ArrayBuffer.empty[String]
        spans("timed") {
          run.startClock()
          Families.all.foreach { f => f.cold(data); run.build(f, data) }
          for (b <- 0 until nBatches) spans(s"batch.$b") {
            val before = tableFiles(data)
            ingest(batchRoot.resolve(b.toString), data, b)
            run.appendBatch(batchRoot.resolve(b.toString).toString, data, b)
            changes += tableChanges(before, tableFiles(data))
            serve.foreach(n => run.query("serve", n, SparkEntry.queries(n), data, b))
          }
        }
        extra("batches") = changes.mkString("[", ",\n", "]")
        extra("max_files") = ops.Warehouse.maxFilesPerTable.toString
    }
    // outputs for the oracle check, untimed and outside every ledger
    val dumped = spans("check") {
      checkNames.filter(run.succeeded).filter { n =>
        try {
          SparkEntry.queries(n)(spark, data).coalesce(1).write.mode("overwrite")
            .parquet(out.resolve("results").resolve(n).toString)
          true
        } catch { case e: Throwable =>
          run.fail(n, describe(e)); false
        } finally spark.catalog.clearCache()
      }
    }
    ops.Warehouse.awaitStagedCompactions()
    extra("staged") = stagedTables().map(Json.str).mkString("[", ",", "]")
    val whBytes = diskBytes(ops.Warehouse.root)
    val gcS = gcSeconds() - gc0
    val rss = peakRssMb()
    val fields = mutable.LinkedHashMap[String, String](
      "session_start_s" -> Json.num(startS),
      "warmup_s" -> Json.num(warmS),
      "first_call_ms" -> run.firstCallMs.toString,
      "warehouse_bytes" -> whBytes.toString,
      "gc_s" -> Json.num(gcS),
      "trace_drain_s" -> Json.num(tracer.map(_.drainS).getOrElse(0.0)),
      "peak_rss_mb" -> Json.num(rss),
      "stage_misses" -> ops.Warehouse.stageMisses.get().toString,
      "degraded" -> ops.Prof.degradedTotal.toString,
      "checked" -> dumped.map(Json.str).mkString("[", ",", "]"),
      "calls" -> run.callsJson) ++ extra
    spans.write(out.resolve("spans.jsonl"))
    Files.write(out.resolve("result.json"),
      fields.map { case (k, v) => Json.str(k) + ":" + v }
        .mkString("{", ",\n", "}\n").getBytes("UTF-8"))
    spark.stop()
  }

  /** One run's calls, timed from outside the program. */
  final class Run(spark: SparkSession, tracer: Option[Tracer], spans: Spans) {
    private val calls = mutable.ArrayBuffer.empty[Call]
    private val failed = mutable.Set.empty[String]
    var firstCallMs = 0L

    def startClock(): Unit = firstCallMs = System.currentTimeMillis()

    def succeeded(name: String): Boolean = !failed(name)
    def fail(name: String, why: String): Unit = {
      failed += name
      calls += Call("check", name, moduleOf.getOrElse(name, "other"), -1,
        0.0, 0.0, Some(why), 0, None)
    }

    private def measure(kind: String, name: String, layer: String, batch: Int)(
        f: => Double): Unit = {
      spans(s"$kind.$name") {
        tracer.foreach(_.begin(s"$kind:$name:$batch"))
        val b0 = ops.Warehouse.buildsRun.get()
        val t0 = System.nanoTime()
        val (constructS, err) =
          try (f, None)
          catch { case e: Throwable => (0.0, Some(describe(e))) }
        val s = (System.nanoTime() - t0) / 1e9
        val ledger = tracer.map(_.end())
        if (err.isDefined) failed += name
        calls += Call(kind, name, layer, batch, s, constructS, err,
          ops.Warehouse.buildsRun.get() - b0, ledger)
      }
      spark.catalog.clearCache()
    }

    def query(kind: String, name: String, fn: Q, dir: String, batch: Int): Unit =
      measure(kind, name, moduleOf.getOrElse(name, "other"), batch) {
        val t0 = System.nanoTime()
        val df = spans("construct") { fn(spark, dir) }
        val c = (System.nanoTime() - t0) / 1e9
        spans("materialize") { df.write.format("noop").mode("overwrite").save() }
        c
      }

    def build(f: Families.Family, dir: String): Unit =
      measure("build", f.name, f.name, -1) {
        f.build(spark, dir); 0.0
      }

    /** One batch through every `appendTo*` entry point: documents to the
      * text chain, vectors to ivf and neardup, the batch's fact rows (as
      * pixels) to cube and the granule cache, then the frame sink. */
    def appendBatch(batchDir: String, dir: String, b: Int): Unit = {
      lazy val docs = spark.read.parquet(s"$batchDir/documents.parquet")
      lazy val vecs = spark.read.parquet(s"$batchDir/embeddings.parquet")
      lazy val raw = ops.Pixels.pixels(spark, batchDir)
      def ap(fam: String)(f: => Unit): Unit =
        measure("append", fam, fam, b) { f; 0.0 }
      AppendFamilies.foreach {
        case "sig" => ap("sig")(ops.TextOps.appendToSigIndex(spark, dir, docs))
        case "textdup" => ap("textdup")(ops.TextOps.appendToTextDup(spark, dir, docs))
        case "funnel" => ap("funnel")(ops.TextOps.appendToFunnel(spark, dir, docs))
        case "freq" => ap("freq")(ops.TextOps.appendToFreq(spark, dir, docs))
        case "keywords" => ap("keywords")(ops.TextOps.appendToKeywords(spark, dir, docs))
        case "ivf" => ap("ivf")(ops.SimOps.appendToIvf(spark, dir, vecs))
        case "neardup" => ap("neardup")(ops.SimOps.appendToNearDup(spark, dir, vecs))
        case "cube" => ap("cube")(ops.Pipeline.appendToCube(spark, dir, raw))
        case "gcache" => ap("gcache")(ops.Pipeline.appendToGranuleCache(spark, dir, raw))
        case "gtiff" => ap("gtiff")(ops.Export.appendToGeoTiffFrames(spark, dir))
      }
    }

    private def callJson(c: Call): String = {
      val l = c.ledger.map { g =>
        s""","ledger":{"jobs":${g.jobs},"task_s":${Json.num(g.taskS)},""" +
          s""""scan_bytes":${g.scanBytes},"scan_rows":${g.scanRows},""" +
          s""""shuffle_bytes":${g.shuffleBytes},"max_task_shuffle_rows":${g.maxTaskShuffleRows},""" +
          s""""plan_s":${Json.num(g.planS)},"exec_s":${Json.num(g.execS)},""" +
          s""""write_bytes":${g.writeBytes},"files_written":${g.filesWritten}}"""
      }.getOrElse("")
      s"""{"kind":${Json.str(c.kind)},"name":${Json.str(c.name)},""" +
        s""""layer":${Json.str(c.layer)},"batch":${c.batch},""" +
        s""""s":${Json.num(c.seconds)},"construct_s":${Json.num(c.constructS)},""" +
        s""""builds":${c.builds},"error":${c.error.map(Json.str).getOrElse("null")}$l}"""
    }
    def callsJson: String = calls.map(callJson).mkString("[\n", ",\n", "]")
  }

  /** One tiny job and one scan of the data. */
  private def warmup(spark: SparkSession, data: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$data/region.parquet").write.format("noop")
      .mode("overwrite").save()
  }

  /** Land a batch in the corpus the way an upstream writer would: its
    * files join the table directories. */
  private def ingest(batch: Path, data: String, b: Int): Unit =
    Seq("documents", "embeddings", "lineitem").foreach { t =>
      Files.copy(batch.resolve(s"$t.parquet"),
        Paths.get(data, s"$t.parquet", f"part-b$b%05d.parquet"))
    }

  /** Part files (by inode) of every table of the latest artifact of each
    * append family. */
  private def tableFiles(data: String): Map[String, Set[AnyRef]] = (for {
    fam <- AppendFamilies
    art <- ops.Warehouse.latest(fam, data).toSeq
    (table, dir) <- tables(Paths.get(art))
  } yield (if (table.isEmpty) fam else s"$fam/$table") -> partInodes(dir)).toMap

  private def tables(art: Path): Seq[(String, Path)] = {
    val kids = {
      val l = Files.list(art)
      try l.iterator().asScala.toList.sortBy(_.toString) finally l.close()
    }
    (if (ops.Warehouse.partFileCount(art) > 0) Seq("" -> art) else Nil) ++
      kids.filter(Files.isDirectory(_)).map(k => k.getFileName.toString -> k)
  }

  private def partInodes(dir: Path): Set[AnyRef] = {
    val w = Files.walk(dir)
    try w.iterator().asScala.filter(f => Files.isRegularFile(f) &&
      f.getFileName.toString.startsWith("part-"))
      .map(f => Files.getAttribute(f, "unix:ino")).toSet
    finally w.close()
  }

  /** What one batch did to each maintained table: its part-file counts
    * before and after, and whether every file was rewritten (no file
    * carried over by hard link), which is what a compaction does. */
  private def tableChanges(before: Map[String, Set[AnyRef]],
      after: Map[String, Set[AnyRef]]): String =
    after.toSeq.sortBy(_._1).map { case (t, now) =>
      val was = before.getOrElse(t, Set.empty)
      s"""{"table":${Json.str(t)},"files_before":${was.size},""" +
        s""""files_after":${now.size},"rewritten":${was.nonEmpty && (was & now).isEmpty}}"""
    }.mkString("[", ",", "]")

  /** Tables with a finished staged (off-path) compaction copy. */
  private def stagedTables(): Seq[String] = {
    val root = ops.Warehouse.root
    if (!Files.isDirectory(root)) return Nil
    val l = Files.list(root)
    val staged = try l.iterator().asScala.toList
      .filter(_.getFileName.toString.endsWith(".compact-staged"))
    finally l.close()
    staged.flatMap { d =>
      val fam = d.getFileName.toString.takeWhile(_ != '@')
      tables(d).map { case (t, _) => s"$fam/$t" }
    }.sorted
  }

  /** Bytes on disk under `root`, each hard-linked file counted once. */
  private def diskBytes(root: Path): Long = {
    if (!Files.isDirectory(root)) return 0L
    val seen = mutable.Set.empty[AnyRef]
    val w = Files.walk(root)
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      if (seen.add(Files.getAttribute(f, "unix:ino"))) Files.size(f) else 0L
    }.sum
    finally w.close()
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  private def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .replaceAll("\\s+", " ").take(300)
}
