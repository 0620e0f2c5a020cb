package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Io

/** Above-sf0.1 correctness envelope for the dedup/ANN families whose
  * DuckDB oracle is corpus-quadratic ON THE ORACLE SIDE (banding
  * self-joins, all-pairs dots): instead of re-deriving the full result
  * in a second engine, assert the LINEAR-side invariants the served
  * artifacts must satisfy at any scale — pair canonicality, sampled
  * est-vs-exact Jaccard (the exact side recomputed here from raw
  * documents through an INDEPENDENT spelling, not the build's own
  * jaccardOfShingles), component labels = min member id, component/edge
  * consistency, funnel census sums, tercile partition order, served
  * cosine exactness against a fresh recompute, and IVF partition
  * totality. A carried-file append that drifted from what a fresh
  * rebuild would produce, a banding bug that emits non-canonical pairs,
  * or a probe path that mis-ranks served cosines all fail here — at a
  * corpus size where the quadratic oracle cannot run.
  *
  * Usage: `java ... graft.ScaleInvariants <datasetDir>` → one
  * check.py-style line per invariant (`name OK/FAIL detail`), summary
  * line, exit 1 on any FAIL. devtools/sf1.sh appends the output to
  * CORRECTNESS_SF1.txt so the sf1 snapshot carries a row per t/v
  * family alongside the oracle-checked families.
  */
object ScaleInvariants {

  /** Sampled pairs for the est-vs-exact recompute: enough for a
    * systematic-distortion signal, small enough that the exact side is
    * sample-sized at any corpus. */
  val SamplePairs = 256

  /** Per-check sink: runs a name + thunk returning (ok, detail),
    * records the outcome and prints a check.py-style line. A thrown
    * check is a FAIL with the exception as detail, never an abort of
    * the remaining checks. */
  private[graft] final class Collector(spark: SparkSession) {
    var results = Vector.empty[(String, Boolean, String)]
    def fails: Seq[String] = results.collect { case (n, false, d) => s"$n: $d" }
    def apply(name: String)(f: => (Boolean, String)): Unit = {
      val (ok, detail) =
        try f
        catch { case e: Throwable =>
          (false, s"threw ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(160))
        }
      results :+= ((name, ok, detail))
      println(f"$name%-28s ${if (ok) "OK  " else "FAIL"} $detail")
      spark.catalog.clearCache()
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local()
    val collector = new Collector(spark)

    runChecks(spark, dir, collector)

    val fails = collector.fails.size
    println(s"== invariants: ${if (fails == 0) "all ok" else s"$fails FAIL"}")
    spark.stop()
    if (fails > 0) sys.exit(1)
  }

  /** The checks themselves, apart from `main` so a spec can run them
    * in-process against sf0.001 and assert zero failures. */
  private[graft] def runChecks(spark: SparkSession, dir: String,
      check: Collector): Unit = {
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)

    // ---- t06: mined near-dup pairs are canonical and unique ----------
    val pairs = ops.TextOps.dedupMinhash(spark, dir)
      .select("doc_a", "doc_b", "est_jaccard")
    check("inv_t06_pairs_canonical") {
      val n = pairs.count()
      val bad = pairs.filter(col("doc_a") >= col("doc_b") ||
        col("est_jaccard") < 0 || col("est_jaccard") > 1).count()
      val dups = n - pairs.select("doc_a", "doc_b").distinct().count()
      (bad == 0 && dups == 0, s"pairs=$n non_canonical=$bad dup_rows=$dups")
    }

    // ---- t06/t08: sampled est-vs-exact Jaccard ----------------------
    // Exact side recomputed HERE from the raw documents — split/slide
    // trigrams, set semantics via distinct — deliberately not the
    // build's own shingles()/jaccardOfShingles lineage, so a carried
    // verify/ file that drifted from the text would disagree.
    check("inv_t08_est_vs_exact") {
      val nPairsAll = pairs.count()
      if (nPairsAll == 0) (true, "pairs=0 (vacuous)")
      else {
      val sample = pairs
        .orderBy(abs(hash(col("doc_a"), col("doc_b"))), col("doc_a"), col("doc_b"))
        .limit(SamplePairs)
      val ids = sample.select(col("doc_a").as("doc_id"))
        .unionByName(sample.select(col("doc_b").as("doc_id"))).distinct()
      val tri = docs.join(broadcast(ids), "doc_id")
        .select(col("doc_id"), explode(expr(
          """array_distinct(transform(
            |  sequence(1, greatest(size(split(text, ' ')) - 2, 1)),
            |  g -> concat_ws(' ', try_element_at(split(text, ' '), g),
            |                      try_element_at(split(text, ' '), g + 1),
            |                      try_element_at(split(text, ' '), g + 2))))"""
            .stripMargin)).as("s"))
      val sizes = tri.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = sample
        .join(tri.select(col("doc_id").as("doc_a"), col("s")), "doc_a")
        .join(tri.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ni"))
      val stored = ops.TextOps.ngramJaccard(spark, dir)
      val scored = sample
        .join(inter, Seq("doc_a", "doc_b"), "left").na.fill(0L, Seq("ni"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .withColumn("exact",
          col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
        .join(stored.select(col("doc_a"), col("doc_b"),
          col("jaccard").as("stored")), Seq("doc_a", "doc_b"))
        .select(
          max(abs(col("exact") - col("stored"))).as("store_gap"),
          avg(abs(col("exact") - col("est_jaccard"))).as("est_mae"),
          max(abs(col("exact") - col("est_jaccard"))).as("est_max"),
          count(lit(1)).as("n"))
        .head()
      val (storeGap, estMae, estMax, n) = (scored.getDouble(0),
        scored.getDouble(1), scored.getDouble(2), scored.getLong(3))
      // stored verify/ must match an independent recompute to rounding
      // (r6 rounds to 6 decimals); MinHash est is an 8-permutation
      // estimate whose per-pair deviation concentrates ~ sqrt(J(1-J)/8)
      // — the bounds catch systematic distortion, not sampling noise
      (n == math.min(SamplePairs, nPairsAll) && storeGap <= 1e-6 &&
        estMae <= 0.2 && estMax <= 0.8,
        f"n=$n stored_gap=$storeGap%.2e est_mae=$estMae%.3f est_max=$estMax%.3f")
      }
    }

    // ---- t11: component labels are the min member id -----------------
    val comp = Io.parquet(spark,
      s"${ops.TextOps.textDupIndex(spark, dir)}/comp")
    check("inv_t11_label_is_min") {
      val badLabel = comp.groupBy("comp").agg(min(col("id")).as("mn"))
        .filter(col("comp") =!= col("mn")).count()
      val dupIds = comp.count() - comp.select("id").distinct().count()
      (badLabel == 0 && dupIds == 0,
        s"components=${comp.select("comp").distinct().count()} " +
          s"bad_labels=$badLabel dup_ids=$dupIds")
    }

    // ---- t11: every >=0.5 pair's endpoints share a component ---------
    check("inv_t11_edges_connected") {
      val edges = pairs.filter(col("est_jaccard") >= ops.TextOps.FunnelJaccard)
      val crossing = edges
        .join(comp.select(col("id").as("doc_a"), col("comp").as("ca")), "doc_a")
        .join(comp.select(col("id").as("doc_b"), col("comp").as("cb")), "doc_b")
        .filter(col("ca") =!= col("cb")).count()
      (crossing == 0, s"edges=${edges.count()} crossing=$crossing")
    }

    // ---- t17/t19: funnel census sums ---------------------------------
    check("inv_t17_funnel_census") {
      val census = ops.TextOps.curationFunnel(spark, dir)
        .orderBy("stage").collect().map(r => r.getString(0) -> r.getLong(1))
      val monotone = census.sliding(2).forall {
        case Array((_, a), (_, b)) => b <= a
        case _ => true
      }
      val total = census.headOption.map(_._2).getOrElse(-1L)
      val nDocs = docs.count()
      val curated = ops.TextOps.curatedDocs(spark, dir).count()
      val last = census.lastOption.map(_._2).getOrElse(-1L)
      (monotone && total == nDocs && curated == last,
        s"stages=${census.length} total=$total docs=$nDocs " +
          s"monotone=$monotone curated=$curated stage5=$last")
    }

    // ---- t20: tercile buckets partition the corpus in score order ----
    check("inv_t20_tercile_partition") {
      val fb = ops.TextOps.freqBucket(spark, dir)
      val byB = fb.groupBy("bucket").agg(count(lit(1)).as("n"),
        min("score").as("mn"), max("score").as("mx"))
        .collect().map(r => r.getString(0) -> (r.getLong(1),
          r.getDouble(2), r.getDouble(3))).toMap
      val n = fb.count()
      val nDocs = docs.count()
      val covered = byB.values.map(_._1).sum
      // cut-based bucketing: every head score >= every middle score >=
      // every tail score (buckets may be empty only from the tail up)
      val ordered =
        byB.get("head").forall(h => byB.get("middle").forall(_._3 <= h._2)) &&
        byB.get("middle").forall(m => byB.get("tail").forall(_._3 <= m._2))
      (n == nDocs && covered == nDocs && ordered,
        s"rows=$n docs=$nDocs buckets=${byB.view.mapValues(_._1).toMap} " +
          s"ordered=$ordered")
    }

    // ---- t21: sketch cutoffs inside the declared exact window --------
    check("inv_t21_sketch_in_bound") {
      val r = ops.TextOps.freqBucketApprox(spark, dir)
        .select("head_in_bound", "mid_in_bound").head()
      (r.getBoolean(0) && r.getBoolean(1),
        s"head_in_bound=${r.getBoolean(0)} mid_in_bound=${r.getBoolean(1)}")
    }

    // ---- v06: served pair cosines match a fresh exact recompute ------
    check("inv_v06_cosine_exact") {
      val served = ops.SimOps.embedNearDup(spark, dir)
        .select("keep_id", "dup_id", "cosine")
      val nPairs = served.count()
      if (nPairs == 0) (true, "pairs=0 (vacuous)")
      else {
      val sample = served
        .orderBy(abs(hash(col("keep_id"), col("dup_id"))),
          col("keep_id"), col("dup_id"))
        .limit(SamplePairs)
      val withVecs = sample
        .join(emb.select(col("vec_id").as("keep_id"),
          col("embedding").as("ea")), "keep_id")
        .join(emb.select(col("vec_id").as("dup_id"),
          col("embedding").as("eb")), "dup_id")
        .withColumn("z", explode(arrays_zip(col("ea"), col("eb"))))
        .groupBy("keep_id", "dup_id", "cosine")
        .agg(
          sum(col("z.ea").cast("double") * col("z.eb").cast("double")).as("dot"),
          sum(col("z.ea").cast("double") * col("z.ea").cast("double")).as("na"),
          sum(col("z.eb").cast("double") * col("z.eb").cast("double")).as("nb"))
        .withColumn("fresh", col("dot") / (sqrt(col("na")) * sqrt(col("nb"))))
      val agg = withVecs.select(
        max(abs(col("fresh") - col("cosine"))).as("gap"),
        min("cosine").as("mn"), count(lit(1)).as("n")).head()
      val (gap, mn, n) = (agg.getDouble(0), agg.getDouble(1), agg.getLong(2))
      // r6 rounding + double-vs-DECIMAL accumulation: 1e-5 headroom.
      // The pair table's mining threshold is UNROUNDED cosine > 0.4, but
      // the stored column is r6(cosine) — a legitimately mined pair with
      // exact cosine in (0.4, 0.4000005) stores exactly 0.400000, so the
      // stored-side bound is >= 0.4, not > 0.4.
      (n == math.min(SamplePairs, nPairs) && gap <= 1e-5 && mn >= 0.4,
        f"pairs=$nPairs sampled=$n max_gap=$gap%.2e min_cosine=$mn%.4f")
      }
    }

    // ---- v05: IVF-served cosines are exact on their candidates -------
    check("inv_v05_served_exact") {
      val served = ops.SimOps.simIvf(spark, dir).select("qid", "cid", "cosine")
      val withVecs = served
        .join(emb.select(col("vec_id").as("qid"), col("embedding").as("ea")), "qid")
        .join(emb.select(col("vec_id").as("cid"), col("embedding").as("eb")), "cid")
        .withColumn("z", explode(arrays_zip(col("ea"), col("eb"))))
        .groupBy("qid", "cid", "cosine")
        .agg(
          sum(col("z.ea").cast("double") * col("z.eb").cast("double")).as("dot"),
          sum(col("z.ea").cast("double") * col("z.ea").cast("double")).as("na"),
          sum(col("z.eb").cast("double") * col("z.eb").cast("double")).as("nb"))
        .withColumn("fresh", col("dot") / (sqrt(col("na")) * sqrt(col("nb"))))
      val agg = withVecs.select(
        max(abs(col("fresh") - col("cosine"))).as("gap"),
        count(lit(1)).as("n")).head()
      (agg.getLong(1) > 0 && agg.getDouble(0) <= 1e-5,
        f"served=${agg.getLong(1)} max_gap=${agg.getDouble(0)}%.2e")
    }

    // ---- v09: the inverted file partitions the corpus ----------------
    check("inv_v09_ivf_partition") {
      val cells = ops.SimOps.ivfIndex(spark, dir)
      val n = cells.count()
      val nd = cells.select("vec_id").distinct().count()
      val nEmb = emb.count()
      (n == nEmb && nd == nEmb,
        s"rows=$n distinct=$nd embeddings=$nEmb " +
          s"cells=${cells.select("cell").distinct().count()}")
    }

    // ---- v10: recall@3 is well-formed, probe2 dominates probe1 -------
    check("inv_v10_recall_sane") {
      // recall@3 against the exact top-3, for both probe widths: the
      // probed cell set at nprobe=2 is a superset of nprobe=1's, so
      // per-query recall must dominate POINTWISE — a probe path that
      // mis-ranks cells or drops candidates breaks the dominance before
      // it shows in any mean. (Same property SimSpec locks at sf0.001;
      // asserted here at envelope scale where the clustering is real.)
      // pin the exact brute-force top-3 (the expensive relation here):
      // it anchors BOTH recall branches of the single final action, and
      // unpinned each branch re-executes the full corpus ranking
      val (exact, exPin) = ops.Checkpoints.pin(
        ops.SimOps.simTopk(spark, dir)
          .filter(col("rk") <= 3).select("qid", "cid"))
      try {
      def recallOf(served: DataFrame): DataFrame =
        exact.join(
            broadcast(served.select(col("qid"), col("cid"), lit(1).as("hit"))),
            Seq("qid", "cid"), "left")
          .groupBy("qid")
          .agg((count(col("hit")).cast("double") / 3).as("recall3"))
      val r1 = recallOf(ops.SimOps.simIvf(spark, dir))
      val r2 = recallOf(ops.SimOps.simIvfProbe2(spark, dir))
      val j = r1.withColumnRenamed("recall3", "rc1")
        .join(r2.withColumnRenamed("recall3", "rc2"), Seq("qid"))
      val agg = j.agg(
        count(lit(1)).as("n"),
        sum(when(col("rc1") < 0 || col("rc1") > 1 ||
          col("rc2") < 0 || col("rc2") > 1, 1).otherwise(0)).as("bad"),
        sum(when(col("rc2") < col("rc1"), 1).otherwise(0)).as("dominated"),
        avg("rc1").as("m1"), avg("rc2").as("m2")).head()
      val (n, bad, dom) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
      (n == 20 && bad == 0 && dom == 0,
        f"queries=$n out_of_range=$bad probe2_below_probe1=$dom " +
          f"mean1=${agg.getDouble(3)}%.3f mean2=${agg.getDouble(4)}%.3f")
      } finally ops.Checkpoints.release(exPin)
    }

    // ---- t09/t05: exact-dedup keep set is consistent ----------------
    check("inv_t09_exact_dedup") {
      val kept = ops.TextOps.dedupKeepFirst(spark, dir)
      val nKept = kept.count()
      val nTexts = docs.select(md5(col("text"))).distinct().count()
      (nKept == nTexts, s"kept=$nKept distinct_texts=$nTexts")
    }

    // ---- t22: chunk geometry accounts for every token ---------------
    // Integer-exact re-derivation from the raw text: per doc the window
    // COUNT must match the stride arithmetic (1 + ⌊(n−1)/stride⌋ — so
    // the last start is ≤ n and the tail is never dropped), and per
    // CHUNK the slice length must be exactly min(ChunkTokens,
    // n − start + 1) — which also proves the final window reaches token
    // n, i.e. full coverage. (Note the penultimate window can be SHORT
    // too when the tail is shallow, so no per-doc token-mass constant
    // exists; the per-chunk identity is the invariant.)
    check("inv_t22_chunk_accounting") {
      val want = docs.filter(col("text").isNotNull)
        .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      val perChunk = ops.TextOps.chunkWindows(spark, dir)
        .join(want, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (col("n").isNull || col("chunk_start").isNull ||
            col("chunk_start") =!= lit(1) +
              col("chunk_idx") * ops.TextOps.ChunkStride ||
            col("n_chunk_tokens") =!= least(lit(ops.TextOps.ChunkTokens),
              col("n") - col("chunk_start") + 1)).as("bad_chunk"),
          col("chunk_idx"), col("n"))
      val perDoc = perChunk.groupBy("doc_id", "n").agg(
        count(lit(1)).as("chunks"),
        sum(col("bad_chunk").cast("long")).as("bad_chunks"))
        .select((col("bad_chunks") > 0 ||
          col("chunks") =!= lit(1) + floor(
            (col("n") - 1).cast("long") / ops.TextOps.ChunkStride))
          .as("bad"))
      val agg = perDoc.agg(count(lit(1)).as("n"),
        sum(col("bad").cast("long")).as("bad")).head()
      (agg.getLong(1) == 0 && agg.getLong(0) > 0,
        s"docs=${agg.getLong(0)} geometry_mismatches=${agg.getLong(1)}")
    }

    // ---- t23: served keyword ranks re-derive from raw text -----------
    // For a hashed sample of documents, recompute the integer ranking
    // triple (tf desc, df asc, term asc) from the raw corpus — tf from
    // the sampled docs' text, df from a full corpus pass restricted to
    // the sampled vocabulary, N from a fresh count — and assert the
    // served artifact rows (term, tf, df AND the rounded tfidf
    // annotation) agree exactly at every rank. A carried tf/ file that
    // drifted from the text, a df merge that lost an increment, or a
    // stale meta N all fail here.
    check("inv_t23_keyword_ranks") {
      import org.apache.spark.sql.expressions.Window
      val served = ops.TextOps.docKeywords(spark, dir)
      val ids = served.select("doc_id").distinct()
        .orderBy(abs(hash(col("doc_id"))), col("doc_id"))
        .limit(SamplePairs)
      val tfF = docs.join(broadcast(ids), "doc_id")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("ftf"))
      val vocab = tfF.select("term").distinct()
      val dfF = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .join(broadcast(vocab), "term")
        .distinct()
        .groupBy("term").agg(count(lit(1)).as("fdf"))
      val n = docs.count()
      val w = Window.partitionBy("doc_id")
        .orderBy(col("ftf").desc, col("fdf").asc, col("term").asc)
      val freshR = tfF.join(dfF, "term")
        .withColumn("rnk", row_number().over(w).cast("int"))
        .filter(col("rnk") <= ops.TextOps.KeywordTopK)
        .select(col("doc_id"), col("rnk"), col("term").as("fterm"),
          col("ftf"), col("fdf"),
          round(col("ftf").cast("double") *
            log(lit((n + 1).toDouble) / (col("fdf") + 1).cast("double")), 6)
            .as("ftfidf"))
      val sj = served.join(broadcast(ids), "doc_id")
        .join(freshR, Seq("doc_id", "rnk"), "full_outer")
      val agg = sj.agg(count(lit(1)).as("n"),
        sum((col("term").isNull || col("fterm").isNull ||
          col("term") =!= col("fterm") || col("tf") =!= col("ftf") ||
          col("df") =!= col("fdf") ||
          col("tfidf") =!= col("ftfidf")).cast("long")).as("bad")).head()
      (agg.getLong(0) > 0 && agg.getLong(1) == 0,
        s"sampled_rows=${agg.getLong(0)} rank_mismatches=${agg.getLong(1)}")
    }

    // ---- t24: keep verdicts re-derive from a fresh census ------------
    // The source census (src_tokens, nsrc, tot) recomputes here from
    // the raw documents and every doc's verdict is re-decided by the
    // integer predicate against the OUTPUT's own u16 — plus the
    // downsample-only contract: a source at or under its equal share
    // keeps every document.
    check("inv_t24_rebalance_exact") {
      val out = ops.TextOps.mixtureRebalance(spark, dir)
      // non-null-text guard + DECIMAL(38,0) product: the t24 census and
      // keep-predicate spellings (legacy sizeOfNull would shift a
      // null-text source by -1; the triple BIGINT product can exceed
      // Int64 at extreme postures and must not wrap here either)
      val per = docs.groupBy("source")
        .agg(sum(when(col("text").isNotNull,
          size(split(col("text"), " ")).cast("long"))).as("st"))
      val census = per.agg(sum("st").as("tot"), count(lit(1)).as("nsrc")).head()
      val (tot, nsrc) = (census.getLong(0), census.getLong(1))
      val joined = out.join(broadcast(per), "source")
        .select(col("source"), col("kept"),
          (col("kept") =!= (col("u16").cast("decimal(38,0)") * nsrc *
            col("st") < lit(65536L).cast("decimal(38,0)") * tot)).as("bad"),
          (col("st") * nsrc <= tot).as("under_budget"))
      val agg = joined.agg(count(lit(1)).as("n"),
        sum(col("bad").cast("long")).as("bad"),
        sum((col("under_budget") && !col("kept")).cast("long")).as("lost"))
        .head()
      (agg.getLong(1) == 0 && agg.getLong(2) == 0 && agg.getLong(0) > 0,
        s"docs=${agg.getLong(0)} verdict_mismatches=${agg.getLong(1)} " +
          s"under_budget_losses=${agg.getLong(2)}")
    }

    // ---- v16: served ADC dots re-derive bit-exactly; cosines fresh ---
    // Codes rebuild here through the IN-ROW spelling (a DECIMAL(32,18)
    // HOF accumulator with the norm bound once as a lambda variable) —
    // deliberately NOT the serve's flatten-aggregate lineage, so the
    // two bit-identical derivations check each other: the integer dot
    // must match EXACTLY (codes are integers — any drift in norm
    // accumulation or rounding flips a whole unit), and the
    // exact-cosine annotation is checked against a fresh double
    // recomputation like inv_v05.
    check("inv_v16_adc_exact") {
      val served = ops.SimOps.adcTopk(spark, dir)
      val codes = emb
        .select(col("vec_id"), col("embedding"), element_at(expr(
          """transform(array(sqrt(CAST(aggregate(embedding, CAST(0 AS DECIMAL(32,18)),
            |    (acc, x) -> CAST(acc + CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
            |      AS DECIMAL(32,18)) AS DECIMAL(32,18))) AS DOUBLE))),
            |  nrm -> CASE WHEN nrm > 0D THEN
            |    transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / nrm, 0) AS BIGINT))
            |  END)""".stripMargin), 1).as("code"))
        .filter(col("code").isNotNull)
      val fresh = served
        .join(codes.select(col("vec_id").as("qid"), col("code").as("qc"),
          col("embedding").as("ea")), "qid")
        .join(codes.select(col("vec_id").as("cid"), col("code").as("cc"),
          col("embedding").as("eb")), "cid")
        .withColumn("fresh_dot", expr(
          "aggregate(zip_with(cc, qc, (a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
        .withColumn("fresh_cos", expr(
          """aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, v) -> a + v)
            | / (sqrt(aggregate(transform(ea, x -> CAST(x AS DOUBLE) * x), 0D, (a, v) -> a + v))
            |  * sqrt(aggregate(transform(eb, x -> CAST(x AS DOUBLE) * x), 0D, (a, v) -> a + v)))"""
            .stripMargin))
      val agg = fresh.agg(count(lit(1)).as("n"),
        sum((col("adc_dot") =!= col("fresh_dot")).cast("long")).as("bad"),
        max(abs(col("cosine") - col("fresh_cos"))).as("gap")).head()
      (agg.getLong(0) > 0 && agg.getLong(1) == 0 && agg.getDouble(2) <= 1e-5,
        f"served=${agg.getLong(0)} dot_mismatches=${agg.getLong(1)} " +
          f"cos_gap=${agg.getDouble(2)}%.2e")
    }

    // ---- t26: quota sample is EXACTLY the quota smallest per source --
    // Three claims, all linear: (1) every source keeps exactly `quota`
    // rows whose ranks are a permutation of 1..quota; (2) the kept u16
    // re-derives through the oracle's hex-digit spelling (not the
    // serve's conv()), so the salted-hash contract is pinned from a
    // second lineage; (3) NO unkept document orders strictly below its
    // source's kept maximum under (u16, doc_id) — with (1) this proves
    // the census-threshold selection found the true per-source quota
    // smallest without any per-source sort having run.
    check("inv_t26_quota_exact") {
      def hexd(i: Int) =
        "(instr('0123456789abcdef', substring(md5(CAST(concat(CAST(" +
          s"doc_id AS STRING), ':quota-v1') AS BINARY)), $i, 1)) - 1)"
      val u16b = expr(s"CAST((((${hexd(1)} * 16 + ${hexd(2)}) * 16 + " +
        s"${hexd(3)}) * 16 + ${hexd(4)}) AS INT)")
      val out = ops.TextOps.quotaSample(spark, dir)
      val quota = out.agg(max("quota")).head().getLong(0)
      val badPer = out.groupBy("source").agg(count(lit(1)).as("n"),
          countDistinct("rn").as("dr"), max("rn").as("mr"), min("rn").as("lo"))
        .filter(col("n") =!= quota || col("dr") =!= quota ||
          col("mr") =!= quota || col("lo") =!= 1L).count()
      val tagged = docs.select(col("doc_id"), col("source"), u16b.as("u16b"))
      val bad16 = out.join(tagged.select("doc_id", "u16b"), "doc_id")
        .filter(col("u16") =!= col("u16b")).count()
      val maxKept = out.groupBy("source")
        .agg(max(struct(col("u16"), col("doc_id"))).as("mx"))
      val belowUnkept = tagged.join(broadcast(maxKept), "source")
        .join(out.select(col("doc_id"), lit(1).as("k")), Seq("doc_id"), "left")
        .filter(col("k").isNull &&
          struct(col("u16b").as("u16"), col("doc_id")) < col("mx"))
        .count()
      val kept = out.count()
      (quota > 0 && kept > 0 && badPer == 0 && bad16 == 0 && belowUnkept == 0,
        s"quota=$quota kept=$kept per_source_bad=$badPer " +
          s"u16_respell_mismatches=$bad16 below_max_unkept=$belowUnkept")
    }

    // ---- v17: IVF-pruned ADC recall against the full-scan ADC ---------
    // The composed tier prunes v16's candidate set to the probed cells;
    // its recall@k against v16's full-scan choices must meet the bar of
    // v07's recall@3 against the exact ranking — v17 probes the same
    // ~¼ corpus fraction (⌈k/4⌉ of k cells) as v07's 2-of-8, so this is
    // equal-work pruning judged by the same yardstick, with the finer
    // k ≈ √n quantizer expected to prune better, not worse. A probe
    // path that mis-ranks cells, a code kernel that drifts inside the
    // probed set, or a geometry regression all show up as a recall
    // drop below a bar that scales with the corpus's own clustering.
    check("inv_v17_ivf_adc_recall") {
      val full = ops.SimOps.adcTopk(spark, dir).select("qid", "cid")
      val pruned = ops.SimOps.simIvfAdc(spark, dir)
        .select(col("qid"), col("cid"), lit(1).as("hit"))
      val m17 = full.join(broadcast(pruned), Seq("qid", "cid"), "left")
        .groupBy("qid")
        .agg((count(col("hit")).cast("double") / ops.SimOps.AdcTopK).as("rc"))
        .agg(avg("rc")).head.getDouble(0)
      val exact = ops.SimOps.simTopk(spark, dir)
        .filter(col("rk") <= 3).select("qid", "cid")
      val served7 = ops.SimOps.simIvfProbe2(spark, dir)
        .select(col("qid"), col("cid"), lit(1).as("hit"))
      val m7 = exact.join(broadcast(served7), Seq("qid", "cid"), "left")
        .groupBy("qid")
        .agg((count(col("hit")).cast("double") / 3).as("rc"))
        .agg(avg("rc")).head.getDouble(0)
      (m17 >= m7,
        f"mean_recall_v17_vs_v16=$m17%.3f bar_v07_vs_exact=$m7%.3f")
    }

    // ---- e03: the seeded threshold-crossing days classify into all
    // three branches with their exact planned values (scalegen seeds
    // six days after the source's last day under user 999983 — means
    // 50,40,50,45,44.8,40 — so the event chain's oracle-shaped row is
    // non-vacuous at every scalegen'd scale; replication preserves
    // per-day means, so the expectation is scale-invariant). On an
    // unseeded corpus (raw testdata) the check records a skip. -------
    check("inv_e03_branches") {
      val ev = Tables.events(spark, dir)
      val seeded = ev.filter(col("user_id") === 999983L)
      if (seeded.isEmpty) (true, "unseeded corpus - skipped")
      else {
        val base = seeded.agg(min(to_date(col("ts")))).head.getDate(0)
          .toLocalDate
        def day(off: Int): String =
          base.plusDays(off.toLong).toString
        val want = Map(
          day(1) -> ("transient_anomaly", -10.0),
          day(3) -> ("possible_fire_or_harvest", -5.0),
          day(5) -> ("recent_event", -4.8))
        val got = ops.Events.abruptDrops(spark, dir)
          .filter(col("date") >= day(0) && col("date") <= day(5))
          .select("date", "type", "drop")
          .collect()
          .map(r => r.getString(0) -> ((r.getString(1), r.getDouble(2))))
          .toMap
        val ok = got.size == want.size && want.forall { case (dt, (ty, dr)) =>
          got.get(dt).exists { case (gty, gdr) =>
            gty == ty && math.abs(gdr - dr) < 1e-9 }
        }
        (ok, s"seeded_window_rows=${got.size} want=3 " +
          s"branches=${got.values.map(_._1).toSeq.sorted.mkString("+")}")
      }
    }
  }
}
