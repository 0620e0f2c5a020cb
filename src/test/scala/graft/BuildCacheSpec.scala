package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.BuildCache

/** The session build memo behind the sig/funnel/IVF/cube artifacts:
  * once-per-key builds, failure retry, version-marker invalidation. */
class BuildCacheSpec extends AnyFunSuite {

  test("builds once per key, concurrent callers await the same result") {
    val c = new BuildCache[String]
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(
      Future.sequence((1 to 8).map(_ => Future(c.get("k") {
        built.incrementAndGet()
        Thread.sleep(50)
        "artifact"
      }))), 30.seconds)
    assert(results.forall(_ == "artifact"))
    assert(built.get() == 1, s"built ${built.get()} times for one key")
  }

  test("a failed build clears its slot so the next caller retries") {
    val c = new BuildCache[String]
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    intercept[RuntimeException] {
      c.get("k") { attempts.incrementAndGet(); sys.error("boom") }
    }
    // the failure must not be memoized
    assert(c.get("k") { attempts.incrementAndGet(); "ok" } == "ok")
    assert(attempts.get() == 2)
  }

  test("distinct keys build independently; clear() forgets everything") {
    val c = new BuildCache[Int]
    assert(c.get("a")(1) == 1 && c.get("b")(2) == 2)
    assert(c.get("a")(99) == 1, "memo ignored for an existing key")
    c.clear()
    assert(c.get("a")(99) == 99, "clear() did not drop the memo")
  }

  test("version marker changes when the dataset file changes") {
    val dir = java.nio.file.Files.createTempDirectory("bc-ver")
    val f = dir.resolve("data.parquet")
    java.nio.file.Files.write(f, "one".getBytes)
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(1000000L))
    val v1 = BuildCache.version(dir.toString, "data.parquet")
    // same content timestamp -> same marker
    assert(BuildCache.version(dir.toString, "data.parquet") == v1)
    // regeneration (newer mtime, different size) -> different marker
    java.nio.file.Files.write(f, "regenerated".getBytes)
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(2000000L))
    assert(BuildCache.version(dir.toString, "data.parquet") != v1)
    // a directory of part files versions too (one level deep)
    val d2 = dir.resolve("table.parquet")
    java.nio.file.Files.createDirectory(d2)
    java.nio.file.Files.write(d2.resolve("part-0"), "p0".getBytes)
    val vd = BuildCache.version(dir.toString, "table.parquet")
    assert(vd != "0:0")
    // a missing source fails loudly rather than keying as a constant
    intercept[java.io.UncheckedIOException] {
      BuildCache.version(dir.toString, "nope.parquet")
    }
  }
}
