package graft

import org.apache.spark.sql.SparkSession

/** The warehouse artifact families — the engine's CREATE INDEX surface
  * (see ops.Warehouse): each with its build entry point and its
  * cold-reset (in-JVM memo clears + the warehouse keys to invalidate).
  *
  * ONE registry feeds every measurement surface — [[Bench]]'s build
  * timings and settle re-runs, the perfbench maintain workload, and the
  * `BuildTool` and `ScaleProbe` developer mains in the test sources —
  * so a new family, or an extra invalidation key like ivf's paired
  * `kmeans` model, is spelled exactly once. A second hand-maintained
  * copy is how a `-cold` flag silently measures a warm build.
  *
  * Registry ORDER is build order and it matters: textdup consumes sig's
  * signature table and funnel consumes textdup's pair table, so running
  * in order keeps each timing scoped to its own stage (a later build
  * never absorbs an earlier dependency's cost). ivf runs first so the
  * warm-up's janino/encoder compilation (Bench warms it explicitly)
  * stays out of the other families' numbers.
  */
object Families {
  final case class Family(name: String,
      clearCaches: () => Unit,
      invalidateKeys: Seq[String],
      build: (SparkSession, String) => Unit,
      sweepExtra: String => Unit = _ => ()) {
    /** The artifact field / gate key (`<name>_build`). */
    def field: String = name + "_build"
    /** Reset to a true cold state for `dir`: drop in-JVM memos AND the
      * persisted warehouse versions, so the next build is a real one. */
    def cold(dir: String): Unit = {
      clearCaches()
      invalidateKeys.foreach(ops.Warehouse.invalidate(_, dir))
      sweepExtra(dir)
    }
  }

  val all: Seq[Family] = Seq(
    Family("ivf", () => ops.SimOps.clearIvfCaches(), Seq("ivf", "kmeans"),
      (s, d) => ops.SimOps.buildIvf(s, d)),
    // the v15 k ~ sqrt(n) family: cold-reset sweeps every ivf/kmeans
    // family EXCEPT the default ivf's — `ivf@default` and its model,
    // keyed `kmeans@k8-s100` — so neither a settle re-run's v05 serve
    // nor the next appendToIvf (which freezes that model) rebuilds
    Family("ivfauto", () => ops.SimOps.clearIvfCaches(), Seq.empty,
      (s, d) => ops.SimOps.buildIvfAuto(s, d),
      d => {
        ops.Warehouse.invalidateNonDefault("ivf", d)
        ops.Warehouse.invalidateNonDefault("kmeans", d,
          ops.SimOps.DefaultKmeansParams)
      }),
    Family("sig", () => ops.TextOps.clearSigCache(), Seq("sig"),
      (s, d) => ops.TextOps.buildSigIndex(s, d)),
    Family("textdup", () => ops.TextOps.clearTextDupCache(), Seq("textdup"),
      (s, d) => ops.TextOps.buildTextDup(s, d)),
    Family("funnel", () => ops.TextOps.clearFunnelCache(), Seq("funnel"),
      (s, d) => ops.TextOps.buildFunnel(s, d)),
    Family("freq", () => ops.TextOps.clearFreqCache(), Seq("freq"),
      (s, d) => ops.TextOps.buildFreq(s, d)),
    Family("keywords", () => ops.TextOps.clearKeywordsCache(), Seq("keywords"),
      (s, d) => ops.TextOps.buildKeywords(s, d)),
    Family("neardup", () => ops.SimOps.clearNearDupCache(), Seq("neardup"),
      (s, d) => ops.SimOps.buildNearDup(s, d)),
    Family("cube", () => ops.Pipeline.clearCubeCache(), Seq("cube"),
      (s, d) => ops.Pipeline.buildCube(s, d)),
    Family("gcache", () => ops.Pipeline.clearGranuleCacheCache(), Seq("gcache"),
      (s, d) => ops.Pipeline.buildGranuleCache(s, d)),
    Family("gtiff", () => ops.Export.clearGtiffCache(), Seq("gtiff"),
      (s, d) => ops.Export.buildGeoTiffFrames(s, d)))

  def byName(n: String): Option[Family] = all.find(_.name == n)

  /** Regex alternation of every family name — [[BenchGate.parseBuilds]]'
    * parse-side allowlist, generated so it cannot drift from the
    * registry. (Names are append-only: historical artifacts only carry
    * fields for families that still exist.) */
  def nameAlternation: String = all.map(_.name).mkString("|")
}
