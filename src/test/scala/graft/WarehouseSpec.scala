package graft

import org.apache.spark.sql.functions._
import graft.ops.{TextOps, Warehouse}

/** The persistent build-artifact warehouse: cross-session reuse,
  * version-keyed invalidation, stale-version pruning, and the
  * empty-relation parquet write the audit tables depend on. */
class WarehouseSpec extends SparkSpecBase {

  /** Run `body` with the warehouse rooted at a fresh temp dir, restoring
    * the default root afterwards so other suites are untouched. */
  private def withTempRoot[T](body: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val prev = sys.props.get("graft.warehouse")
    sys.props("graft.warehouse") = root
    try body(root)
    finally prev match {
      case Some(v) => sys.props("graft.warehouse") = v
      case None => sys.props -= "graft.warehouse"
    }
  }

  /** A small standalone documents dataset the suite can mutate without
    * touching the shared testdata. */
  private def writeDocs(dir: String, salt: String): Unit = {
    import spark.implicits._
    (0L until 6L).map(i =>
      (i, s"alpha bravo charlie delta echo foxtrot golf $salt doc$i",
        "en", "srcW", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("a fresh process reuses a completed artifact instead of rebuilding") {
    withTempRoot { root =>
      val ds = java.nio.file.Files.createTempDirectory("graft-wh-ds").toString
      writeDocs(ds, "one")
      TextOps.clearSigCache()
      val first = TextOps.sigIndex(spark, ds).orderBy("doc_id").collect()
      val builds = Warehouse.buildsRun.get()
      // simulate a fresh process: the in-JVM memo is gone, the
      // warehouse is not
      TextOps.clearSigCache()
      val again = TextOps.sigIndex(spark, ds).orderBy("doc_id").collect()
      assert(Warehouse.buildsRun.get() == builds,
        "a completed artifact was rebuilt on re-open")
      assert(again.sameElements(first), "reused artifact drifted")
      val names = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        val dirs = names.iterator().asScala.map(_.getFileName.toString).toSeq
        assert(dirs.exists(_.startsWith("sig@")), s"no sig artifact in $dirs")
        assert(dirs.forall(d => !d.contains(".tmp-")), s"tmp litter: $dirs")
      } finally names.close()
    }
  }

  test("a regenerated source invalidates by key and prunes the stale version") {
    withTempRoot { root =>
      val ds = java.nio.file.Files.createTempDirectory("graft-wh-ds").toString
      writeDocs(ds, "one")
      TextOps.clearSigCache()
      TextOps.sigIndex(spark, ds).count()
      val builds = Warehouse.buildsRun.get()
      // regenerate the corpus: new content => new version marker
      writeDocs(ds, "two-regenerated")
      TextOps.clearSigCache()
      val sig2 = TextOps.sigIndex(spark, ds)
      assert(sig2.count() == 6)
      assert(Warehouse.buildsRun.get() == builds + 1,
        "regenerated source did not trigger a rebuild")
      val names = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        val sigDirs = names.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("sig@")).toSeq
        assert(sigDirs.size == 1,
          s"stale artifact version not pruned: $sigDirs")
      } finally names.close()
    }
  }

  test("concurrent builders of one key converge on a single artifact, no tmp litter") {
    withTempRoot { root =>
      val ds = java.nio.file.Files.createTempDirectory("graft-wh-race").toString
      writeDocs(ds, "race")
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      def build(): String =
        Warehouse.getOrBuild("race", ds, "documents.parquet") { tmp =>
          java.nio.file.Files.createDirectories(tmp)
          barrier.await() // both builders in-flight simultaneously
          java.nio.file.Files.write(tmp.resolve("data.bin"), Array[Byte](1, 2, 3))
          Thread.sleep(50)
        }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val fa = pool.submit(() => build())
        val fb = pool.submit(() => build())
        val (a, b) = (fa.get(), fb.get())
        // both callers land on the SAME completed artifact — the move
        // loser adopted the winner rather than erroring or duplicating
        assert(a == b, s"racing builders diverged: $a vs $b")
        assert(java.nio.file.Files.exists(
          java.nio.file.Paths.get(a, "_MANIFEST.json")), "no manifest")
        assert(java.nio.file.Files.exists(
          java.nio.file.Paths.get(a, "data.bin")), "artifact data missing")
        val names = java.nio.file.Files.list(java.nio.file.Paths.get(root))
        try {
          import scala.jdk.CollectionConverters._
          val dirs = names.iterator().asScala.map(_.getFileName.toString).toSeq
          assert(dirs.count(_.startsWith("race@")) == 1,
            s"duplicate artifacts: $dirs")
          assert(dirs.forall(d => !d.contains(".tmp-")), s"tmp litter: $dirs")
        } finally names.close()
      } finally pool.shutdown()
    }
  }

  test("latest orders priors by recorded source version, not mtime; prune spares in-flight tmp dirs") {
    withTempRoot { root =>
      val ds = java.nio.file.Files.createTempDirectory("graft-wh-lat").toString
      writeDocs(ds, "one")
      val d1 = Warehouse.getOrBuild("lat", ds, "documents.parquet") { tmp =>
        java.nio.file.Files.createDirectories(tmp)
        java.nio.file.Files.write(tmp.resolve("data.bin"), Array[Byte](1))
        ()
      }
      val name1 = java.nio.file.Paths.get(d1).getFileName.toString
      // craft a decoy prior: an OLDER recorded source version wearing a
      // NEWER manifest mtime and built_ms (a restored backup / clock
      // skew) — mtime ordering would wrongly crown it the carry prior
      val cut = name1.lastIndexOf(s"@v${Warehouse.LayoutVersion}-")
      assert(cut > 0, s"unexpected artifact name $name1")
      val decoyName =
        name1.substring(0, cut) + s"@v${Warehouse.LayoutVersion}-1000000000000-1"
      val decoy = java.nio.file.Paths.get(root, decoyName)
      java.nio.file.Files.createDirectories(decoy)
      java.nio.file.Files.write(decoy.resolve("data.bin"), Array[Byte](9))
      java.nio.file.Files.write(decoy.resolve("_MANIFEST.json"),
        (s"""{"table":"lat","dataset":"$ds","source":"documents.parquet",""" +
          s""""params":"","version":"1000000000000-1","layout":${Warehouse.LayoutVersion},""" +
          s""""built_ms":${System.currentTimeMillis() + 10000000L}}""")
          .getBytes("UTF-8"))
      java.nio.file.Files.setLastModifiedTime(decoy.resolve("_MANIFEST.json"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + 3600000L))
      assert(Warehouse.latest("lat", ds).contains(d1),
        s"latest picked the mtime decoy over the newer source version")
      // an in-flight tmp dir of another process that has ALREADY landed
      // its manifest (the window just before its atomic rename) — a
      // prune triggered by a newer build must not sweep it
      val tmp = java.nio.file.Paths.get(root, name1 + ".tmp-99999-1")
      java.nio.file.Files.createDirectories(tmp)
      java.nio.file.Files.write(tmp.resolve("_MANIFEST.json"),
        "{}".getBytes("UTF-8"))
      writeDocs(ds, "two-regenerated")
      Warehouse.getOrBuild("lat", ds, "documents.parquet") { t =>
        java.nio.file.Files.createDirectories(t)
        java.nio.file.Files.write(t.resolve("data.bin"), Array[Byte](2))
        ()
      }
      assert(java.nio.file.Files.exists(tmp.resolve("_MANIFEST.json")),
        "prune swept another process's in-flight tmp build")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(d1)),
        "stale completed version survived prune")
      assert(!java.nio.file.Files.exists(decoy),
        "stale decoy version survived prune")
    }
  }

  test("latest never adopts a prior from a superseded LayoutVersion") {
    withTempRoot { root =>
      val ds = java.nio.file.Files.createTempDirectory("graft-wh-layout").toString
      writeDocs(ds, "one")
      val d1 = Warehouse.getOrBuild("lay", ds, "documents.parquet") { tmp =>
        java.nio.file.Files.createDirectories(tmp)
        java.nio.file.Files.write(tmp.resolve("data.bin"), Array[Byte](1))
        ()
      }
      assert(Warehouse.latest("lay", ds).contains(d1))
      // rewrite the artifact under the PREVIOUS layout's name: its build
      // semantics predate the current code, so the incremental updaters
      // must not adopt it as a carry prior — a v(N-1) cube meta, for
      // example, encodes the exact keying flaw the vN bump fixed
      val name1 = java.nio.file.Paths.get(d1).getFileName.toString
      val oldName = name1.replace(s"@v${Warehouse.LayoutVersion}-",
        s"@v${Warehouse.LayoutVersion - 1}-")
      assert(oldName != name1, s"layout marker missing from $name1")
      java.nio.file.Files.move(java.nio.file.Paths.get(d1),
        java.nio.file.Paths.get(root, oldName))
      assert(Warehouse.latest("lay", ds).isEmpty,
        "latest adopted a superseded-layout artifact as the carry prior")
    }
  }

  test("an unreadable source fails the build loudly instead of keying as a constant") {
    withTempRoot { root =>
      val ds = java.nio.file.Files.createTempDirectory("graft-wh-nosrc").toString
      val builds = Warehouse.buildsRun.get()
      var ran = false
      val e = intercept[java.io.UncheckedIOException] {
        Warehouse.getOrBuild("nosrc", ds, "documents.parquet") { tmp =>
          ran = true
          java.nio.file.Files.createDirectories(tmp)
          ()
        }
      }
      assert(e.getMessage.contains("documents.parquet"), e.getMessage)
      assert(!ran, "the build ran under a key no source version backs")
      assert(Warehouse.buildsRun.get() == builds)
      assert(new java.io.File(root).list().isEmpty,
        "an artifact landed for an unreadable source")
    }
  }

  test("writeParquet keeps an empty relation readable with its schema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-wh-empty").toString
    val empty = Seq.empty[(Int, String, Long)].toDF("band", "key", "n_members")
    Warehouse.writeParquet(empty, s"$dir/audit")
    val back = spark.read.parquet(s"$dir/audit")
    assert(back.count() == 0)
    assert(back.schema.fieldNames.toSeq == Seq("band", "key", "n_members"),
      back.schema.treeString)
  }

  test("appending an embedding batch updates the near-dup manifest incrementally == full rebuild") {
    import spark.implicits._
    val ds = java.nio.file.Files.createTempDirectory("graft-nd-inc").toString
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base.write.mode("overwrite").parquet(s"$ds/embeddings.parquet")
    ops.SimOps.clearNearDupCache()
    ops.SimOps.buildNearDup(spark, ds)
    // batch: three EXACT copies of existing vectors (guaranteed
    // cross-batch cosine-1 pairs in the same buckets) + two fresh ones
    val copies = base.filter(col("vec_id").isin(7L, 11L, 13L))
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"), col("label"))
    val fresh = base.filter(col("vec_id").isin(401L, 402L))
      .select((col("vec_id") + 2000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"), col("label"))
    val appended = copies.unionByName(fresh)
    base.unionByName(appended).write.mode("overwrite")
      .parquet(s"$ds/embeddings.parquet")
    ops.SimOps.appendToNearDup(spark, ds, appended)
    val inc = ops.SimOps.embedNearDup(spark, ds).collect()
    val incKeep = ops.SimOps.embedKeep(spark, ds).collect()
    // the carried members/ table (what the NEXT append's candidate
    // mining reads) must hold exactly the rebuild's row set — a miss
    // here silently loses future pairs, which pairs-equality today
    // cannot catch
    def membersRows(): Array[String] = {
      val p = ops.Warehouse.latest("neardup", ds).get
      spark.read.parquet(s"$p/members")
        .select("band", "key", "vec_id")
        .collect().map(_.mkString("|")).sorted
    }
    val incMembers = membersRows()
    // the cross-batch exact-copy pairs surfaced
    for (id <- Seq(7L, 11L, 13L))
      assert(inc.exists(r => r.getLong(0) == id && r.getLong(1) == id + 1000L),
        s"cross-batch copy pair ($id, ${id + 1000L}) missing")
    // row-identical to a from-scratch build at the new corpus version
    ops.SimOps.clearNearDupCache()
    ops.Warehouse.invalidate("neardup", ds)
    val full = ops.SimOps.embedNearDup(spark, ds).collect()
    assert(inc.sameElements(full),
      s"incremental manifest drifted: ${inc.length} vs ${full.length} pairs")
    assert(ops.SimOps.embedKeep(spark, ds).collect().sameElements(incKeep),
      "v14 over the incremental manifest drifted from the full rebuild")
    assert(incMembers.sameElements(membersRows()),
      "append-maintained members/ drifted from the rebuild's bucket membership")
    ops.Warehouse.invalidateDataset(ds)
  }

  test("near-dup serve paths scan the warehouse artifact, not the live lineage") {
    val sf = "/root/testdata/sf0.001"
    ops.SimOps.clearNearDupCache()
    val builds = Warehouse.buildsRun.get()
    val idx = ops.SimOps.nearDupIndex(spark, sf)
    val pairs = ops.SimOps.embedNearDup(spark, sf)
    val audit = ops.SimOps.embedBucketAudit(spark, sf)
    val keep = ops.SimOps.embedKeep(spark, sf)
    // v06 and v12 must read ONLY artifact files; v14's anti-join scans
    // the corpus plus the artifact
    assert(pairs.inputFiles.nonEmpty &&
      pairs.inputFiles.forall(_.contains(java.nio.file.Paths.get(idx).getFileName.toString)),
      s"v06 reads outside the artifact: ${pairs.inputFiles.toSeq}")
    assert(audit.inputFiles.forall(_.contains("neardup@")),
      s"v12 reads outside the artifact: ${audit.inputFiles.toSeq}")
    assert(keep.inputFiles.exists(_.contains("neardup@")),
      "v14 does not consume the pair artifact")
    // serving again triggers no rebuild
    ops.SimOps.embedNearDup(spark, sf).count()
    ops.SimOps.embedKeep(spark, sf).count()
    assert(Warehouse.buildsRun.get() <= builds + 1,
      "near-dup manifest rebuilt on a second serve")
    // the pair table and the survivor set stay consistent: no kept
    // vector is any pair's dup_id
    import spark.implicits._
    val dups = pairs.select("dup_id").as[Long].collect().toSet
    val kept = keep.select("vec_id").as[Long].collect().toSet
    assert(kept.intersect(dups).isEmpty, "a dropped vector survived v14")
  }

  test("compaction trigger arithmetic holds at size floors far above 1") {
    // the steady-state contract on synthetic sizes (soaks only exercise
    // floor = 1): a table of N × budget × 128 MB has floor N × budget;
    // it triggers only when parts exceed floor + budget (so a rewrite —
    // which lands AT the floor — buys ~budget appends of headroom), and
    // a just-rewritten table (parts == floor) never re-triggers.
    val budget = Warehouse.maxFilesPerTable
    val blk = Warehouse.TargetFileBytes
    for (n <- Seq(1, 3, 17)) {
      val bytes = n.toLong * budget * blk
      val floor = Warehouse.sizeFloor(bytes)
      assert(floor == n * budget, s"floor($n×budget×128MB) = $floor")
      assert(!Warehouse.needsCompactionAt(floor.toLong, bytes),
        s"a freshly rewritten table (parts == floor $floor) re-triggered")
      assert(!Warehouse.needsCompactionAt(floor.toLong + budget, bytes),
        s"parts == floor + budget must NOT trigger (boundary exclusive)")
      assert(Warehouse.needsCompactionAt(floor.toLong + budget + 1, bytes),
        s"parts == floor + budget + 1 must trigger at floor $floor")
    }
    // small-table regime: the floor clamps to 1 and the bare-budget
    // guard still applies (the soak plateau's measured behavior)
    assert(Warehouse.sizeFloor(0L) == 1 && Warehouse.sizeFloor(1L) == 1)
    assert(!Warehouse.needsCompactionAt(budget.toLong, 1L))
    assert(Warehouse.needsCompactionAt(budget.toLong + 2, 1L))
    // slack widens the trigger multiplicatively on the budget term —
    // the synchronous backstop behind staged compaction (slack = 2)
    assert(!Warehouse.needsCompactionAt(budget.toLong + 2, 1L, slack = 2))
    assert(Warehouse.needsCompactionAt(2L * budget + 2, 1L, slack = 2))
    // partial last block rounds the floor UP, never down
    assert(Warehouse.sizeFloor(blk + 1) == 2)
  }
}
