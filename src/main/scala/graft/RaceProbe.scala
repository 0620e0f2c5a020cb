package graft

/** Two-process warehouse race probe (devtools/racecheck.py spawns
  * pairs of these against one cold key): exercises the CROSS-JVM
  * completion protocol for real — the in-process WarehouseSpec race
  * cannot produce two distinct PIDs. No SparkSession — the warehouse
  * protocol is pure filesystem. Modes:
  *
  *  - `build [holdMs]` — a deliberately slow
  *    [[graft.ops.Warehouse.getOrBuild]] (default 2000 ms) so two
  *    builders are in-flight simultaneously and the loser exercises
  *    the rename-adoption path (ENOTEMPTY handling).
  *  - `append [holdMs]` — the incremental-updater shape: adopt
  *    [[graft.ops.Warehouse.latest]] as the carry prior, WAIT (default
  *    2000 ms — long enough for a concurrent builder to complete the
  *    new version and PRUNE the prior), then copy the prior's data
  *    files through [[graft.ops.Warehouse.maintain]], the policy every
  *    appendTo* uses; a mid-copy prune surfaces as an exception and
  *    must route to a fresh full build that adopts the racing winner.
  *    Prints `fellback=1` when the prune actually hit (a failure-caused
  *    rebuild counted by [[graft.ops.Prof.degradedTotal]]), so the
  *    harness can assert the path ran.
  *
  * Each prints one parseable line; the harness asserts both processes
  * land on the same completed artifact. */
object RaceProbe {
  def main(args: Array[String]): Unit = {
    val ds = args(0)
    val mode = if (args.length > 1) args(1) else "build"
    val holdMs = if (args.length > 2) args(2).toLong else 2000L
    mode match {
      case "build" =>
        var bStart = 0L
        var bEnd = 0L
        val dir = ops.Warehouse.getOrBuild("race2p", ds, "documents.parquet") { tmp =>
          bStart = System.currentTimeMillis()
          java.nio.file.Files.createDirectories(tmp)
          Thread.sleep(holdMs) // hold the build open so the processes overlap
          java.nio.file.Files.write(tmp.resolve("data.bin"), Array[Byte](1, 2, 3))
          bEnd = System.currentTimeMillis()
          ()
        }
        // the build window lets the harness PROVE the two processes were
        // in-flight simultaneously — a fast-path reuse (manifest already
        // complete) reports 0/0 and the harness retries the round
        println(s"RACE_RESULT pid=${ProcessHandle.current.pid} dir=$dir " +
          s"built=${ops.Warehouse.buildsRun.get()} start=$bStart end=$bEnd")
      case "append" =>
        def fullBuild(): String =
          ops.Warehouse.getOrBuild("race2p", ds, "documents.parquet") { tmp =>
            java.nio.file.Files.createDirectories(tmp)
            java.nio.file.Files.write(tmp.resolve("data.bin"), Array[Byte](1, 2, 3))
            ()
          }
        val dir = ops.Warehouse.maintain("race2p", ds)(fullBuild()) { prior =>
          ops.Warehouse.getOrBuild("race2p", ds, "documents.parquet") { tmp =>
            // the window in which the racing builder completes the
            // NEW version and prunes `prior` out from under us
            Thread.sleep(holdMs)
            ops.Warehouse.copyData(prior, tmp)
            if (!java.nio.file.Files.exists(tmp.resolve("data.bin")))
              throw new java.nio.file.NoSuchFileException(
                s"$prior vanished mid-carry")
            ()
          }
        }
        // maintain counts the failed carry (and only it) as a degradation
        val fellBack = ops.Prof.degradedTotal
        println(s"APPEND_RESULT pid=${ProcessHandle.current.pid} dir=$dir " +
          s"fellback=$fellBack")
      case other => sys.error(s"unknown RaceProbe mode $other")
    }
  }
}
