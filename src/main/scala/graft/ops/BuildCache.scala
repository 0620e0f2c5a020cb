package graft.ops

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap}

/** Once-per-key build memo for session-scoped build artifacts (the
  * materialized signature table, the IVF inverted file, the trained
  * quantizer): the first caller installs a future and runs the build
  * OUTSIDE any map lock, so concurrent callers — and unrelated keys
  * hashing to the same bin — never serialize behind a running Spark job
  * the way `computeIfAbsent(build)` does; they just await the future.
  * A failed build removes its future, so the next caller retries.
  *
  * Cache keys should include [[BuildCache.version]] of the source
  * dataset: a dataset regenerated in-process then gets a fresh key and
  * rebuilds automatically, instead of serving stale artifacts until
  * someone remembers the clear hook.
  */
final class BuildCache[T] {
  private val m = new ConcurrentHashMap[String, CompletableFuture[T]]()

  def get(key: String)(build: => T): T = {
    val fresh = new CompletableFuture[T]()
    val prior = m.putIfAbsent(key, fresh)
    if (prior != null) prior.join()
    else
      try { val v = build; fresh.complete(v); v }
      catch {
        case e: Throwable =>
          m.remove(key, fresh)
          fresh.completeExceptionally(e)
          throw e
      }
  }

  /** Test hook: drop every memoized build. */
  def clear(): Unit = m.clear()
}

object BuildCache {
  /** Version marker of `<d>/<file>`: newest last-modified millis plus
    * total byte size (one level deep for a directory of part files).
    * An unreadable source throws: a constant marker for every failure
    * would key one stale artifact as the answer for any source that
    * cannot be read. */
  def version(d: String, file: String): String = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(d, file)
    try {
      if (Files.isDirectory(p)) {
        import scala.jdk.CollectionConverters._
        val st = Files.list(p)
        val children = try st.iterator().asScala.toList finally st.close()
        val mt = (p :: children).map(f => Files.getLastModifiedTime(f).toMillis).max
        val sz = children.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
        s"$mt:$sz"
      } else s"${Files.getLastModifiedTime(p).toMillis}:${Files.size(p)}"
    } catch { case e: java.io.IOException =>
      throw new java.io.UncheckedIOException(s"cannot version build source $p", e)
    }
  }
}
