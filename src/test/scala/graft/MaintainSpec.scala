package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.ops.{Prof, SimOps, Warehouse}

object MaintainSpec {
  /** The maintenance decisions recorded since the census was `before`. */
  def since(before: Map[Warehouse.Taken, Long]): Map[Warehouse.Taken, Long] =
    Warehouse.appendCensus
      .map { case (t, n) => t -> (n - before.getOrElse(t, 0L)) }.filter(_._2 > 0)

  /** Run `f` and return the one maintenance decision it recorded for
    * `family` (with `f`'s result) — how a spec knows which path ran. */
  def taken[A](family: String)(f: => A): (Warehouse.Taken, A) = {
    val before = Warehouse.appendCensus
    val a = f
    val calls = since(before).filter(_._1.family == family)
    assert(calls.values.sum == 1, s"expected one $family maintenance call, saw $calls")
    (calls.head._1, a)
  }
}

/** The one append-or-rebuild policy ([[Warehouse.maintain]]): every
  * call records the path it took, a deliberate rebuild names its cause,
  * and only a failed incremental path counts as a degradation. */
class MaintainSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"

  test("maintain records no-prior, incremental, a named Rebuild and a failure") {
    val ds = Files.createTempDirectory("graft-maintain").toString
    Files.write(Paths.get(ds, "documents.parquet"), Array[Byte](1))
    def build(): String = Warehouse.getOrBuild("maintprobe", ds, "documents.parquet") { tmp =>
      Files.createDirectories(tmp)
      Files.write(tmp.resolve("data.bin"), Array[Byte](1))
      ()
    }
    def bump(i: Int): Unit = {
      Files.write(Paths.get(ds, "documents.parquet"), Array.fill[Byte](i + 2)(1))
      ()
    }
    try {
      Prof.resetDegraded()
      val (t0, _) = MaintainSpec.taken("maintprobe")(
        Warehouse.maintain("maintprobe", ds)(build())(_ => fail("no prior yet")))
      assert(t0 == Warehouse.Taken("maintprobe", "rebuild", "no-prior"))
      bump(1)
      val (t1, dir1) = MaintainSpec.taken("maintprobe")(
        Warehouse.maintain[String]("maintprobe", ds)(fail("rebuilt")) { prior =>
          Warehouse.getOrBuild("maintprobe", ds, "documents.parquet") { tmp =>
            Warehouse.copyData(prior, tmp)
          }
        })
      assert(t1 == Warehouse.Taken("maintprobe", "incremental"))
      assert(Files.exists(Paths.get(dir1, "data.bin")), "incremental body did not carry")
      bump(2)
      val (t2, _) = MaintainSpec.taken("maintprobe")(
        Warehouse.maintain("maintprobe", ds)(build())(_ => throw Warehouse.Rebuild("policy")))
      assert(t2 == Warehouse.Taken("maintprobe", "rebuild", "policy"))
      assert(Prof.degradedTotal == 0, s"a policy rebuild degraded: ${Prof.degraded}")
      bump(3)
      val (t3, _) = MaintainSpec.taken("maintprobe")(
        Warehouse.maintain("maintprobe", ds)(build()) { prior =>
          throw new java.nio.file.NoSuchFileException(prior)
        })
      assert(t3 == Warehouse.Taken("maintprobe", "rebuild",
        "java.nio.file.NoSuchFileException"))
      assert(Prof.degraded == Map(
        "maintprobe:append:java.nio.file.NoSuchFileException" -> 1L),
        s"a failed incremental path must count once: ${Prof.degraded}")
    } finally {
      Prof.resetDegraded()
      Warehouse.invalidateDataset(ds)
    }
  }

  test("cold builds of every family keep the default ivf model: appendToIvf stays incremental") {
    // the ivfauto cold reset sweeps non-default ivf/kmeans params; the
    // default ivf's model is keyed kmeans@k8-s100, so a sweep that only
    // spares `default` deletes it and the next append retrains
    val ds = Files.createTempDirectory("graft-maintain-families").toString
    try {
      for (t <- Seq("documents", "lineitem"))
        Files.copy(Paths.get(s"$sf/$t.parquet"),
          Paths.get(ds, s"$t.parquet"))
      val base = spark.read.parquet(s"$sf/embeddings.parquet")
      base.write.parquet(s"$ds/embeddings.parquet")
      Families.all.foreach { f => f.cold(ds); f.build(spark, ds) }
      assert(Warehouse.latest("kmeans", ds, SimOps.DefaultKmeansParams).isDefined,
        "a family's cold reset deleted the default ivf's kmeans model")
      val batch = base.filter(col("vec_id").isin(7L, 11L))
        .select((col("vec_id") + 1000L).as("vec_id"),
          reverse(col("embedding")).as("embedding"), col("label"))
      base.unionByName(batch).write.mode("overwrite")
        .parquet(s"$ds/embeddings2.parquet")
      spark.read.parquet(s"$ds/embeddings2.parquet")
        .write.mode("overwrite").parquet(s"$ds/embeddings.parquet")
      SimOps.clearIvfCaches()
      val (t, _) = MaintainSpec.taken("ivf")(SimOps.appendToIvf(spark, ds, batch))
      assert(t == Warehouse.Taken("ivf", "incremental"))
      assert(Warehouse.latest("kmeans", ds, SimOps.DefaultKmeansParams).isDefined)
    } finally {
      Families.all.foreach(_.clearCaches())
      Warehouse.invalidateDataset(ds)
    }
  }

  test("src/main falls back from a NonFatal catch to a build only inside maintain") {
    // a handler that catches NonFatal and calls a build* entry point is
    // the hand-rolled append fallback maintain replaced: it hides a
    // broken incremental path behind a rebuild nobody counts
    val fallback = """(?s)case\s+(?:scala\.util\.control\.)?NonFatal\([^)]*\)\s*=>[^}]*?\b(?:build[A-Z]\w*|fullBuild)\s*\(""".r
    val old = """try appendToFreqIncremental(s, d, appended, prior)
      |catch { case scala.util.control.NonFatal(_) => buildFreq(s, d) }""".stripMargin
    assert(fallback.findFirstIn(old).isDefined, "the lint misses the pattern it bans")
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val offenders = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .flatMap { f =>
        val text = Files.readString(f)
        fallback.findAllMatchIn(text).map { m =>
          s"$f:${text.take(m.start).count(_ == '\n') + 1}" }
      }
    assert(offenders.isEmpty, "NonFatal → build fallback outside Warehouse.maintain:\n" +
      offenders.mkString("\n"))
  }
}
