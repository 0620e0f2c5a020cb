package graft

import org.apache.spark.sql.functions._
import graft.ops.SimOps

/** Similarity-search consistency: the native codegen'd graft_cosine
  * expression agrees with the relational DECIMAL-sum pipeline on both
  * values (to float tolerance) and the resulting top-k ranking. */
class SimSpec extends SparkSpecBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("graft_cosine matches hand-computed cosine") {
    val df = Seq(
      (Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
      (Array(1.0f, 2.0f, 2.0f), Array(2.0f, 4.0f, 4.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(-1.0f, 0.0f, 0.0f))
    ).toDF("a", "b")
    val got = df.selectExpr("graft_cosine(a, b)").as[Double].collect().toSeq
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1) - 0.0) < 1e-12)
    assert(math.abs(got(2) - 1.0) < 1e-12)
    assert(math.abs(got(3) + 1.0) < 1e-12)
  }

  test("graft_cosine null semantics: NULL array, zero vector, length mismatch") {
    val df = Seq(
      (Some(Array(1.0f, 1.0f)), Some(Array(0.0f, 0.0f))), // zero norm
      (None, Some(Array(1.0f, 1.0f)))                     // null input
    ).toDF("a", "b")
    val got = df.selectExpr("graft_cosine(a, b)").as[Option[Double]].collect().toSeq
    assert(got == Seq(None, None))
    val mismatch = Seq((Array(1.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .selectExpr("graft_cosine(a, b)").as[Option[Double]].collect().toSeq
    assert(mismatch == Seq(None))
  }

  test("graft_dot_exact edge semantics: unrepresentable products skip, zero terms -> NULL") {
    // matches: exact value on ordinary input
    val plain = Seq((Array(1.5, 2.0), Array(2.0, -3.0))).toDF("a", "b")
      .selectExpr("graft_dot_exact(a, b)").as[Double].collect().head
    assert(math.abs(plain - (-3.0)) < 1e-15)
    // a product the (38,18) cast cannot represent — non-finite (1e300²)
    // or ≥1e20 finite (1e30·1e30 stays finite but needs >38 digits) —
    // contributes nothing, like the relational non-ANSI cast→NULL→SUM-skip
    val overflow = Seq(
      (Array(1e300, 1.0), Array(1e300, 1.0)),  // Inf product + 1.0
      (Array(1e30, 2.0), Array(1e30, 3.0))     // 1e60 product + 6.0
    ).toDF("a", "b").selectExpr("graft_dot_exact(a, b)").as[Double].collect()
    assert(overflow(0) == 1.0 && overflow(1) == 6.0)
    // SUM over zero contributing rows is NULL: empty arrays, and a pair
    // whose only product is unrepresentable
    val empty = Seq((Array.empty[Double], Array.empty[Double]),
      (Array(1e300), Array(1e300))).toDF("a", "b")
      .selectExpr("graft_dot_exact(a, b)").as[Option[Double]].collect().toSeq
    assert(empty == Seq(None, None))
  }

  test("native top-k ranking agrees with the relational DECIMAL pipeline on testdata") {
    val rel = SimOps.simTopk(spark, sf)
      .select("qid", "rk", "cid").as[(Long, Int, Long)].collect().toSeq
    val nat = SimOps.simTopkNative(spark, sf)
      .select("qid", "rk", "cid").as[(Long, Int, Long)].collect().toSeq
    assert(rel == nat)
  }

  test("IVF nprobe=2 recall dominates nprobe=1 pointwise") {
    // probing a second cell can only ADD candidates, so for every query
    // the rank-r cosine under nprobe=2 is >= the rank-r cosine under
    // nprobe=1 (and the result is at least as long per query)
    val p1 = SimOps.simIvf(spark, sf)
      .select("qid", "rk", "cosine").as[(Long, Int, Double)].collect()
      .map { case (q, r, c) => (q, r) -> c }.toMap
    val p2 = SimOps.simIvfProbe2(spark, sf)
      .select("qid", "rk", "cosine").as[(Long, Int, Double)].collect()
      .map { case (q, r, c) => (q, r) -> c }.toMap
    assert(p1.nonEmpty && p2.keySet.size >= p1.keySet.size)
    p1.foreach { case ((q, r), c1) =>
      val c2 = p2.getOrElse((q, r),
        fail(s"query $q lost its rank-$r hit under nprobe=2"))
      assert(c2 >= c1 - 1e-9, s"recall regressed for ($q, $r): $c2 < $c1")
    }
  }

  test("trained k-means: centroids move off their seeds; within-cell cosine beats cross-cell") {
    import graft.ops.Num
    val emb = Tables.embeddings(spark, sf)
    val f = SimOps.flat(emb)
    val n = SimOps.norms(f)
    val cent = SimOps.trainCentroids(emb, f).toSeq.toDF("cell", "i", "c")
    // training actually learned something: at least one component left
    // its seed value
    val seeds = f.filter(col("vec_id").between(100, 107))
      .select(col("vec_id").as("cell"), col("i"), col("v").as("c0"))
    val moved = cent.join(seeds, Seq("cell", "i"))
      .filter(abs(col("c") - col("c0")) > 1e-9).count()
    assert(moved > 0, "training left every centroid at its seed")
    // vector-to-centroid cosines for every (vector, cell) pair
    val dots = f.join(cent, Seq("i"))
      .groupBy("vec_id", "cell").agg(Num.xsumHi(col("v") * col("c")).as("dot"))
    val cn = cent.groupBy("cell")
      .agg(sqrt(Num.xsumHi(col("c") * col("c"))).as("cnrm"))
    val cos = dots.join(n, "vec_id").join(cn, "cell")
      .select(col("vec_id"), col("cell"),
        (col("dot") / (col("nrm") * col("cnrm"))).as("cos"))
    val own = SimOps.cellRanks(f, n, cent).filter(col("arn") === 1)
      .select(col("vec_id"), col("cell").as("own_cell"))
    val j = cos.join(own, "vec_id")
    // assignment is the argmax: own-cell cosine is each vector's max
    val viol = j.groupBy("vec_id")
      .agg(max("cos").as("best"),
        max(when(col("cell") === col("own_cell"), col("cos"))).as("own"))
      .filter(col("own") < col("best") - 1e-12).count()
    assert(viol == 0, s"$viol vectors assigned to a non-max cell")
    // and the clustering invariant: mean cosine to the OWN trained
    // centroid strictly exceeds the mean cosine to the other centroids
    val (ownAvg, otherAvg) = j.agg(
        avg(when(col("cell") === col("own_cell"), col("cos"))),
        avg(when(col("cell") =!= col("own_cell"), col("cos"))))
      .as[(Double, Double)].head()
    assert(ownAvg > otherAvg,
      s"within-cell cosine $ownAvg does not beat cross-cell $otherAvg")
  }

  test("IVF build/serve split: index cached, no corpus pass per query, no leaked blocks") {
    SimOps.clearIvfCaches()
    // drop the persisted artifacts too: this test asserts on a REAL
    // build (pins taken and released), not a warehouse reuse
    ops.Warehouse.invalidate("ivf", sf)
    ops.Warehouse.invalidate("kmeans", sf)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // first call trains the model AND materializes the inverted file
    assert(SimOps.simIvf(spark, sf).count() > 0)
    // the build step releases every checkpoint pin it took
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"IVF build leaked persistent RDD blocks: $leaked")
    // the index is built once: a second lookup serves the same files
    val files1 = SimOps.ivfIndex(spark, sf).inputFiles.toSet
    val files2 = SimOps.ivfIndex(spark, sf).inputFiles.toSet
    assert(files1.nonEmpty && files1 == files2, "inverted file rebuilt per query")
    // a second IVF query runs NO corpus-wide assignment: its only
    // embeddings scans are pruned to the query vectors at the source
    val p = SimOps.simIvfProbe2(spark, sf).queryExecution.sparkPlan.toString
    assert(p.contains("ivf@"),
      s"serve plan does not read the materialized inverted file:\n$p")
    val corpusScans = p.split('\n').filter(l =>
      l.contains("FileScan") && l.contains("embeddings.parquet") &&
        !l.contains("LessThan(vec_id,20)"))
    assert(corpusScans.isEmpty,
      s"serve plan scans the full corpus:\n${corpusScans.mkString("\n")}\nin:\n$p")
  }

  test("materialized inverted file equals the live exact assignment, one cell per vector") {
    val inv = SimOps.ivfIndexQ(spark, sf)
      .as[(Long, Long)].collect()
    val emb = Tables.embeddings(spark, sf)
    assert(inv.length == emb.count(), "index does not cover the corpus")
    assert(inv.map(_._1).distinct.length == inv.length,
      "a vector is assigned to more than one cell")
    // serving from the parquet index is bit-identical to ranking live
    // against the trained centroids (rank-1 with the cell tie-break)
    val f = SimOps.flat(emb)
    val live = SimOps.cellRanks(f, SimOps.norms(f), SimOps.trainedModel(spark, sf))
      .filter(col("arn") === 1)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(inv.toMap == live, "index drifted from the live assignment")
  }

  test("IVF recall@3 equals the driver-side intersection of served and exact top-3") {
    val exact = SimOps.simTopk(spark, sf).filter(col("rk") <= 3)
      .select("qid", "cid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val served = SimOps.simIvf(spark, sf)
      .select("qid", "cid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = SimOps.ivfRecall(spark, sf)
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == exact.keySet, "recall census lost a query vector")
    got.foreach { case (qid, r) =>
      val expected = math.round(1e6 *
        exact(qid).intersect(served.getOrElse(qid, Set.empty)).size / 3.0) / 1e6
      assert(r == expected, s"qid $qid: recall $r, expected $expected")
      assert(r >= 0.0 && r <= 1.0)
    }
    // collapse floor: a correct argmax index must serve SOME true
    // neighbors across the query set (observed mean ~0.2 at nprobe=1)
    assert(got.values.sum > 0.0, "index served zero true neighbors")
  }

  test("int8 quantization error is bounded by half a quantization step") {
    val census = SimOps.quantizeError(spark, sf)
      .as[(Int, Double, Double)].collect()
    assert(census.length == 10, "expected one census row per label")
    // per element |v - deq| <= 0.5 * m/127; the census max is bounded by
    // the corpus-wide largest scale (6dp rounding absorbed by the slack)
    val maxScale = Tables.embeddings(spark, sf)
      .select(max(expr("array_max(transform(embedding, x -> abs(x)))")))
      .as[Float].head()
    val bound = 0.5 * maxScale / 127.0 + 1e-6
    census.foreach { case (label, avgErr, maxErr) =>
      assert(avgErr >= 0 && avgErr <= maxErr,
        s"label $label: avg $avgErr above max $maxErr")
      assert(maxErr <= bound, s"label $label: max err $maxErr above $bound")
    }
  }

  test("quantizer size and seed rule are parameters of the trainer") {
    // a 4-cell model seeded from vectors 200-203, next to the default
    // 8-cell/100-107 model, out of the same parameterized trainer
    val m4 = SimOps.trainedModel(spark, sf, k = 4, seedLo = 200)
    val cells4 = m4.select("cell").distinct().as[Long].collect().toSet
    assert(m4.count() == 4 * 64, "k=4 model is not 4 cells x 64 dims")
    assert(cells4 == Set(200L, 201L, 202L, 203L), s"wrong seed cells: $cells4")
    val m8 = SimOps.trainedModel(spark, sf)
    assert(m8.count() == 8 * 64)
    assert(m8.select("cell").distinct().as[Long].collect().toSet ==
      (100L to 107L).toSet)
    // training is deterministic: a fresh (uncached, un-warehoused) run
    // reproduces the k=4 model bit for bit
    val snap = m4.orderBy("cell", "i").collect()
    SimOps.clearIvfCaches()
    ops.Warehouse.invalidate("kmeans", sf)
    val again = SimOps.trainedModel(spark, sf, k = 4, seedLo = 200)
      .orderBy("cell", "i").collect()
    assert(snap.sameElements(again), "k=4 training is not deterministic")
  }

  test("IVF geometry is a parameter end to end: k=16 index partitions the corpus, serve stays exact") {
    // the 100 TB scaling knob (ENGINE.md): the declared v05 pins k=8
    // for oracle stability, but nothing hard-wires it — the k-variant
    // index must partition the corpus across its own seed cells and
    // the k-variant serve must return the same exact-cosine contract
    val inv16 = SimOps.ivfIndexK(spark, sf, 16)
    val nVec = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(inv16.count() == nVec, "k=16 inverted file lost rows")
    assert(inv16.select("vec_id").distinct().count() == nVec,
      "k=16 inverted file duplicated a vector")
    val cells = inv16.select("cell").distinct().as[Long].collect().toSet
    assert(cells.subsetOf((100L to 115L).toSet) && cells.size > 8,
      s"k=16 cells are not the 16 seeded ids: $cells")
    val served = SimOps.simIvfK(spark, sf, 16).collect()
    val qids = served.map(_.getLong(0)).distinct
    assert(qids.length == 20, s"expected 20 query ids, got ${qids.length}")
    served.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getInt(1)).sorted.sameElements(1 to rows.length) &&
        rows.length <= 3, s"qid $q ranks malformed")
    }
    // served cosines match an independently spelled double recompute
    import org.apache.spark.sql.functions.col
    val pairs = served.map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSeq
      .toDF("qid", "cid", "served")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val gap = pairs
      .join(emb.select(col("vec_id").as("qid"), col("embedding").as("ea")), "qid")
      .join(emb.select(col("vec_id").as("cid"), col("embedding").as("eb")), "cid")
      .selectExpr("""abs(served -
        aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, v) -> a + v)
        / (sqrt(aggregate(transform(ea, x -> CAST(x AS DOUBLE) * x), 0D, (a, v) -> a + v))
         * sqrt(aggregate(transform(eb, x -> CAST(x AS DOUBLE) * x), 0D, (a, v) -> a + v)))) AS g""")
      .agg(org.apache.spark.sql.functions.max("g")).head.getDouble(0)
    assert(gap < 5e-7, s"k=16 served cosine drifted from exact: $gap")
  }

  test("v17 IVF-ADC composition is k-generic: integer rank order, exact cosine annotation") {
    // the composed serve at a non-default quantizer size: ranks must be
    // contiguous per query, the compressed scan's integer key must be
    // the actual order, and the exact-cosine annotation must match an
    // independently spelled double recompute (the k=16 v05 contract)
    val served = SimOps.simIvfAdcK(spark, sf, 16).collect()
    val qids = served.map(_.getLong(0)).distinct
    assert(qids.nonEmpty && qids.forall(_ < 20), s"bad qids: ${qids.toSeq}")
    served.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).sameElements(1 to rows.length) &&
        rows.length <= SimOps.AdcTopK, s"qid $q ranks malformed")
      val dots = sorted.map(_.getLong(3))
      assert(dots.zip(dots.tail).forall { case (a, b) => a >= b },
        s"qid $q adc_dot not non-increasing: ${dots.toSeq}")
    }
    import org.apache.spark.sql.functions.col
    val pairs = served.map(r => (r.getLong(0), r.getLong(2), r.getDouble(4)))
      .toSeq.toDF("qid", "cid", "served")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val gap = pairs
      .join(emb.select(col("vec_id").as("qid"), col("embedding").as("ea")), "qid")
      .join(emb.select(col("vec_id").as("cid"), col("embedding").as("eb")), "cid")
      .selectExpr("""abs(served -
        aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, v) -> a + v)
        / (sqrt(aggregate(transform(ea, x -> CAST(x AS DOUBLE) * x), 0D, (a, v) -> a + v))
         * sqrt(aggregate(transform(eb, x -> CAST(x AS DOUBLE) * x), 0D, (a, v) -> a + v)))) AS g""")
      .agg(org.apache.spark.sql.functions.max("g")).head.getDouble(0)
    assert(gap < 5e-7, s"v17 served cosine drifted from exact: $gap")
  }

  test("bounded-sample training == training on the modular sample as its own corpus") {
    // trainStride math: everything at or below the target trains whole
    assert(SimOps.trainStride(100) == 1L)
    assert(SimOps.trainStride(SimOps.TrainSampleTarget) == 1L)
    assert(SimOps.trainStride(2 * SimOps.TrainSampleTarget) == 2L)
    assert(SimOps.trainStride(200000) == 97L)
    // Equivalence lock for the sampled path (corpus > target => stride
    // 2 here): Lloyd's over the full corpus with the modular sample
    // must produce bit-identical centroids to Lloyd's run on the
    // pre-filtered sample AS ITS OWN corpus (whose stride is 1, i.e.
    // the un-sampled lineage). A drifting filter — wrong predicate,
    // missed seeds, sample leaking into the mean denominators — breaks
    // the equality.
    val n = (2 * SimOps.TrainSampleTarget + 300).toInt
    def mkEmb(ids: Seq[Int]) = ids.toDF("id").select(
      col("id").cast("long").as("vec_id"),
      expr("""transform(sequence(1, 64),
             |  j -> CAST(sin(vec_id * 1.7 + j * 0.61) AS FLOAT))"""
        .stripMargin).as("embedding"))
    val full = mkEmb(0 until n)
    val stride = SimOps.trainStride(n.toLong)
    assert(stride == 2L, s"stride at n=$n: $stride")
    val sampleIds = (0 until n).filter(i => i % stride == 0 ||
      (i >= SimOps.KmeansSeedLo && i < SimOps.KmeansSeedLo + SimOps.KmeansK))
    // stride = floor(n/target), so the sample lands in [target, 2*target)
    assert(sampleIds.size < 2 * SimOps.TrainSampleTarget,
      s"sample not bounded: ${sampleIds.size}")
    val sample = mkEmb(sampleIds)
    def train(emb: org.apache.spark.sql.DataFrame): Array[(Long, Long, Double)] =
      SimOps.trainCentroids(emb, SimOps.flat(emb)).sortBy(r => (r._1, r._2))
    val viaSampling = train(full)
    val viaSampleCorpus = train(sample)
    assert(viaSampling.length == SimOps.KmeansK * 64)
    assert(viaSampling.sameElements(viaSampleCorpus),
      "sampled training diverged from training on the sample corpus")
  }

  test("LSH candidates are a subset of the brute-force universe, same bucket only") {
    val lsh = SimOps.simLsh(spark, sf).select("qid", "cid").as[(Long, Long)].collect().toSet
    val topkAll = SimOps.simTopk(spark, sf).select("qid").distinct().count()
    assert(lsh.nonEmpty)
    assert(topkAll > 0)
    // every LSH pair shares the sign-bucket of dims (1, 8, 22)
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        (when(element_at(col("embedding"), 1) > 0f, 4).otherwise(0)
          + when(element_at(col("embedding"), 8) > 0f, 2).otherwise(0)
          + when(element_at(col("embedding"), 22) > 0f, 1).otherwise(0)).as("bucket"))
      .as[(Long, Int)].collect().toMap
    lsh.foreach { case (q, c) => assert(emb(q) == emb(c), s"pair ($q,$c) crosses buckets") }
  }

  test("embed keep-first ships exactly the corpus minus higher-id pair members") {
    val dropped = SimOps.embedNearDup(spark, sf)
      .select("dup_id").as[Long].collect().toSet
    val kept = SimOps.embedKeep(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    val all = Tables.embeddings(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == all -- dropped,
      s"survivor set drifted: ${(kept -- (all -- dropped)).take(5)} extra, " +
        s"${((all -- dropped) -- kept).take(5)} missing")
    assert(dropped.nonEmpty, "fixture has no near-dup pairs to cut")
  }

  test("residual census covers the inverted file; errors sit inside the int8 bound") {
    val res = SimOps.residualError(spark, sf)
      .as[(Long, Long, Double, Double)].collect()
    assert(res.nonEmpty)
    val cellCounts = SimOps.ivfIndex(spark, sf)
      .groupBy("cell").count().as[(Long, Long)].collect().toMap
    res.foreach { case (cell, nComp, avgErr, maxErr) =>
      // every member vector contributes its 64 residual components
      // (vectors with an all-zero residual would drop out — none do)
      assert(nComp == cellCounts(cell) * 64,
        s"cell $cell: $nComp components for ${cellCounts(cell)} members")
      assert(avgErr >= 0 && maxErr >= avgErr,
        s"cell $cell: avg $avgErr max $maxErr")
    }
    assert(res.map(_._1).toSet == cellCounts.keySet,
      "census cells differ from the inverted file's")
    // residuals are centered by construction, so int8 error against the
    // residual max-abs must stay under half a step of the LARGEST
    // per-vector residual scale in the cell — recompute that scale
    // independently from the index + model
    val cent = SimOps.trainedModel(spark, sf)
    val scale = SimOps.ivfIndex(spark, sf)
      .select(col("cell"), col("vec_id"), posexplode(col("embedding")))
      .select(col("cell"), col("vec_id"), (col("pos") + 1).as("i"),
        col("col").cast("double").as("v"))
      .join(cent, Seq("cell", "i"))
      .groupBy("cell", "vec_id").agg(max(abs(col("v") - col("c"))).as("m"))
      .groupBy("cell").agg(max("m").as("mmax"))
      .as[(Long, Double)].collect().toMap
    res.foreach { case (cell, _, _, maxErr) =>
      assert(maxErr <= scale(cell) / 254.0 + 1e-9,
        s"cell $cell: max err $maxErr exceeds half-step ${scale(cell) / 254.0}")
    }
  }

  test("auto-geometry IVF re-derives k at rebuild after corpus growth; serves stay green") {
    // the auto family's warehouse key EMBEDS k = autoK(n), so a corpus
    // that grows past a geometry boundary cannot keep serving the stale
    // cell count: the next build derives the new k and retrains, and
    // the old-k artifact coexists untouched (the migration posture)
    val ds = java.nio.file.Files.createTempDirectory("graft-ivfauto-grow").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    emb.write.mode("overwrite").parquet(s"$ds/embeddings.parquet")
    try {
      val n0 = emb.count()
      val k0 = SimOps.autoK(n0)
      SimOps.clearIvfCaches()
      SimOps.buildIvfAuto(spark, ds)
      assert(graft.ops.Warehouse.latest("ivf", ds,
          s"k$k0-s${SimOps.KmeansSeedLo}").isDefined,
        s"auto build at n=$n0 did not land under the k$k0 family")
      // grow the corpus 4x (high-id replicas keep the vec_id<20 query
      // side fixed); autoK(4n) = 2*autoK(n) crosses a geometry boundary
      (1 to 3).map(j => emb.withColumn("vec_id", col("vec_id") + lit(j * 100000L)))
        .reduce(_ unionByName _)
        .write.mode("append").parquet(s"$ds/embeddings.parquet")
      val n1 = spark.read.parquet(s"$ds/embeddings.parquet").count()
      val k1 = SimOps.autoK(n1)
      assert(k1 > k0, s"4x growth must flip the geometry ($k0 -> $k1)")
      SimOps.clearIvfCaches()
      SimOps.buildIvfAuto(spark, ds)
      // the post-growth artifact trained k1 centroids on k1 seeds and
      // partitioned the grown corpus across them
      val km = spark.read.parquet(graft.ops.Warehouse.latest("kmeans", ds,
        s"k$k1-s${SimOps.KmeansSeedLo}").getOrElse(
          fail(s"no k$k1 kmeans artifact after the growth rebuild")).toString)
      val kmCells = km.select("cell").distinct().count()
      assert(kmCells == k1, s"post-growth model holds $kmCells centroids, want $k1")
      val inv = SimOps.ivfIndexK(spark, ds, k1)
      assert(inv.count() == n1, "post-growth inverted file lost rows")
      val cells = inv.select("cell").distinct().as[Long].collect().toSet
      val seedRange = (SimOps.KmeansSeedLo.toLong until
        (SimOps.KmeansSeedLo + k1).toLong).toSet
      assert(cells.subsetOf(seedRange) && cells.size > k0,
        s"post-growth cells are not the k1 seed ids: ${cells.size} cells")
      // the stale-k artifact coexists — a deployment can re-point
      // serves without a flag day
      assert(graft.ops.Warehouse.latest("ivf", ds,
          s"k$k0-s${SimOps.KmeansSeedLo}").isDefined,
        "growth rebuild destroyed the prior-geometry artifact")
      // v15 serve on the grown corpus: 20 query ids, dense ranks, and
      // served cosines match an independently spelled double recompute
      val served = SimOps.simIvfAuto(spark, ds).collect()
      assert(served.map(_.getLong(0)).distinct.length == 20,
        s"expected 20 query ids, got ${served.map(_.getLong(0)).distinct.length}")
      served.groupBy(_.getLong(0)).foreach { case (q, rows) =>
        assert(rows.map(_.getInt(1)).sorted.sameElements(1 to rows.length) &&
          rows.length <= 3, s"qid $q ranks malformed after re-geometry")
      }
      val pairs = served.map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSeq
        .toDF("qid", "cid", "served")
      val grown = spark.read.parquet(s"$ds/embeddings.parquet")
      val gap = pairs
        .join(grown.select(col("vec_id").as("qid"), col("embedding").as("ea")), "qid")
        .join(grown.select(col("vec_id").as("cid"), col("embedding").as("eb")), "cid")
        .selectExpr("""abs(served -
          aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, v) -> a + v)
          / (sqrt(aggregate(transform(ea, x -> CAST(x AS DOUBLE) * x), 0D, (a, v) -> a + v))
           * sqrt(aggregate(transform(eb, x -> CAST(x AS DOUBLE) * x), 0D, (a, v) -> a + v)))) AS g""")
        .agg(org.apache.spark.sql.functions.max("g")).head.getDouble(0)
      assert(gap < 5e-7, s"post-growth served cosine drifted from exact: $gap")
    } finally {
      graft.ops.Warehouse.invalidateDataset(ds)
      SimOps.clearIvfCaches()
    }
  }

  test("IVF builds on a corpus without seed vectors fail with a named error") {
    // the shape of an 8x scalegen replica of a 100-vector base: ids
    // 0..99 plus offsets of 5000, so no vec_id falls in the seed range
    val ds = java.nio.file.Files.createTempDirectory("graft-ivf-noseed").toString
    val base = Tables.embeddings(spark, sf).filter(col("vec_id") < 100)
    (0 until 8).map(j => base.withColumn("vec_id", col("vec_id") + lit(j * 5000L)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$ds/embeddings.parquet")
    try {
      val builds: Seq[(String, () => Unit)] = Seq(
        "ivf" -> (() => SimOps.buildIvf(spark, ds)),
        "ivfauto" -> (() => SimOps.buildIvfAuto(spark, ds)),
        "appendToIvf" -> (() => SimOps.appendToIvf(spark, ds,
          Tables.embeddings(spark, ds).limit(0))),
        "v05" -> (() => { SimOps.simIvf(spark, ds).collect(); () }))
      for ((name, run) <- builds) {
        SimOps.clearIvfCaches()
        val e = intercept[SimOps.MissingSeedVectors](run())
        assert(e.getMessage.contains(s"vec_id ${SimOps.KmeansSeedLo}.."),
          s"$name: ${e.getMessage}")
      }
      assert(graft.ops.Warehouse.latest("ivf", ds).isEmpty,
        "a failed IVF build left an artifact")
    } finally {
      graft.ops.Warehouse.invalidateDataset(ds)
      SimOps.clearIvfCaches()
    }
  }

  test("ADC top-k: int8-representable codes, integer ranking matches a hand scorer, zero vectors excluded") {
    // forged corpus: 3 query-range vectors (ids < 20), 2 candidates
    // past the query range, one zero vector that must vanish entirely
    val vecs: Seq[(Long, Array[Float], Int)] = Seq(
      (0L, Array(1.0f, 0.2f, -0.4f, 0.0f), 0),
      (1L, Array(-0.3f, 0.9f, 0.1f, 0.5f), 0),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f), 0), // zero vector
      (30L, Array(0.9f, 0.3f, -0.3f, 0.1f), 1),
      (31L, Array(-0.2f, 1.0f, 0.2f, 0.4f), 1))
    val dir = java.nio.file.Files.createTempDirectory("graft-adc").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // the contract, re-derived outside Spark: unit-normalize (norm via
    // exact DECIMAL accumulation of the float->double squares), code =
    // round-half-up(v * 127 / nrm) — int8-representable since nrm >= |v|
    def codes(v: Array[Float]): Array[Long] = {
      val nsq = v.map(x => BigDecimal(x.toDouble).pow(2)).sum
      val nrm = math.sqrt(nsq.toDouble)
      v.map(x => BigDecimal(x.toDouble * 127.0 / nrm)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }
    val byId = vecs.map(v => v._1 -> v._2).toMap
    def adc(q: Long, c: Long): Long =
      codes(byId(q)).zip(codes(byId(c))).map { case (a, b) => a * b }.sum

    val out = SimOps.adcTopk(spark, dir)
      .as[(Long, Int, Long, Long, Double)].collect().toSeq
    // the zero vector is neither a query nor a candidate
    assert(!out.exists(r => r._1 == 2L || r._3 == 2L),
      "zero vector leaked into the ADC serve")
    // queries 0 and 1 rank candidates {the other query, 30, 31}
    assert(out.map(_._1).distinct.sorted == Seq(0L, 1L))
    out.foreach { case (qid, _, cid, dot, cos) =>
      assert(dot == adc(qid, cid),
        s"($qid,$cid) integer dot $dot != hand-derived ${adc(qid, cid)}")
      assert(codes(byId(cid)).forall(c => c >= -127 && c <= 127),
        s"candidate $cid codes exceed int8 range")
      assert(cos >= -1.000001 && cos <= 1.000001)
    }
    // per-query ranking follows (dot desc, cid asc) over ALL non-self
    // nonzero candidates — the top-3 the scan serves is the true top-3
    for (qid <- Seq(0L, 1L)) {
      val cands = Seq(0L, 1L, 30L, 31L).filter(_ != qid)
      val want = cands.map(c => (c, adc(qid, c)))
        .sortBy { case (c, dot) => (-dot, c) }.take(3).map(_._1)
      val got = out.filter(_._1 == qid).sortBy(_._2).map(_._3)
      assert(got == want, s"qid $qid served $got, hand ranking $want")
    }
  }
}
