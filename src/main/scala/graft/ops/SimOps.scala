package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Num._
import graft.io.Io

/** Similarity search over the `embeddings` table (`array<float>`, dim 64;
  * SURVEY.md §2.11 ext_sim_topk): brute-force cosine top-k as the
  * correctness baseline, a sign-bit LSH-bucketed variant as the scale
  * path, and label-level similarity statistics.
  *
  * Determinism: dot products and norms accumulate in DECIMAL(38,18)
  * (ops/Num.xsumHi) — order-independent and bit-identical across engines,
  * so the ranking (ORDER BY cosine DESC) cannot flip on a last-ulp
  * difference between Spark and the DuckDB oracle.
  *
  * Scale posture: the query side is broadcast (small k×dim relation), so
  * the big corpus scan never shuffles for the join; per-pair partial
  * aggregation combines map-side. The LSH variant prunes the candidate
  * space by sign-bucket equality before any arithmetic — the standard
  * random-hyperplane trick with coordinate hyperplanes.
  */
object SimOps {

  type Q = (SparkSession, String) => DataFrame

  /** Flattened (vec_id, i, v) oracle relation; i is 1-based, v double.
    * SQL-only: the Spark side works on the packed arrays throughout. */
  private val flatSql: String =
    """SELECT vec_id, g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS v
      |FROM embeddings,
      |LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g""".stripMargin

  private val normsSql: String =
    s"""SELECT vec_id, sqrt(${xsumHiSql("v * v")}) AS nrm FROM f GROUP BY vec_id"""

  /** Oracle CTEs: DECIMAL-exact cosine of all (query, corpus) pairs for
    * queries `vec_id < nq`. */
  private def cosinesSql(nq: Int): String =
    s"""f AS (
       |$flatSql
       |), n AS (
       |$normsSql
       |), q AS (SELECT vec_id AS qid, i, v AS qv FROM f WHERE vec_id < $nq
       |), dots AS (
       |  SELECT q.qid, f.vec_id AS cid, ${xsumHiSql("q.qv * f.v")} AS dot
       |  FROM f JOIN q ON f.i = q.i AND f.vec_id <> q.qid
       |  GROUP BY q.qid, f.vec_id
       |), cos AS (
       |  SELECT dots.qid, dots.cid, dots.dot / (nq.nrm * nc.nrm) AS cosine
       |  FROM dots JOIN n nq ON dots.qid = nq.vec_id
       |            JOIN n nc ON dots.cid = nc.vec_id
       |)""".stripMargin

  /** DECIMAL-exact cosine over a candidate-pair relation carrying the two
    * packed arrays as `ea`/`eb`: zip, explode, accumulate dot and both
    * norms in DECIMAL(38,18) — the same float→double→decimal element
    * values the oracle sums, so the result is bit-identical to the
    * relational form at any parallelism. Run this on PRUNED pairs only;
    * the native graft_cosine prune upstream is what keeps the exploded
    * row count proportional to survivors, not the corpus. */
  private def exactCosine(pairs: DataFrame, keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    pairs
      .select(keys :+ explode(arrays_zip(col("ea"), col("eb"))).as("z"): _*)
      .select(keys :+ col("z.ea").cast("double").as("va")
        :+ col("z.eb").cast("double").as("vb"): _*)
      .groupBy(keys: _*)
      .agg(
        xsumHi(col("va") * col("vb")).as("dot"),
        xsumHi(col("va") * col("va")).as("na"),
        xsumHi(col("vb") * col("vb")).as("nb"))
      .withColumn("cosine", col("dot") / (sqrt(col("na")) * sqrt(col("nb"))))
      .drop("dot", "na", "nb")
  }

  // ---------------------------------------------------------------- v01
  /** Brute-force cosine top-5 per query vector (first 20 vectors).
    *
    * Two-stage exact top-k: the codegen'd native cosine ranks all
    * candidates in one broadcast pass over the packed arrays (the v04
    * hot path), a 3-candidate margin absorbs any double-vs-DECIMAL
    * rank jitter (accumulation gap ~1e-15 — a flip past the margin
    * would need 4 candidates within that gap), and the DECIMAL-exact
    * re-rank of the survivors reproduces the oracle's ranking bit for
    * bit. The corpus is never exploded dim× — only survivors are. */
  val simTopk: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val emb = Par.widen(Tables.embeddings(s, d))
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("ea"))
    val wN = Window.partitionBy("qid").orderBy(col("ncos").desc, col("cid").asc)
    val cand = emb.select(col("vec_id").as("cid"), col("embedding").as("eb"))
      .crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("ncos", expr("graft_cosine(ea, eb)"))
      .withColumn("nrk", row_number().over(wN))
      .filter(col("nrk") <= 8)
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid").asc)
    exactCosine(cand.select("qid", "cid", "ea", "eb"), Seq("qid", "cid"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("rk"), col("cid"), r6(col("cosine")).as("cosine"))
      .orderBy("qid", "rk")
  }

  val simTopkSql: String =
    s"""WITH ${cosinesSql(20)}
       |SELECT qid, rk, cid, 0.0 + round(cosine, 6) AS cosine FROM (
       |  SELECT qid, cid, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rk
       |  FROM cos) t
       |WHERE rk <= 5
       |ORDER BY qid, rk""".stripMargin

  // ---------------------------------------------------------------- v02
  /** Sign-bit LSH top-3: bucket on the signs of coordinates (1, 8, 22) —
    * three coordinate hyperplanes — and rank only within the bucket. */
  val simLsh: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // Same two-stage shape as v01/v05: prune to the query's sign bucket,
    // rank with the native cosine over packed arrays (margin past k),
    // DECIMAL-exact re-rank of survivors only.
    val emb = Par.widen(Tables.embeddings(s, d))
    val bucketed = emb.select(col("vec_id"), col("embedding"),
      (when(element_at(col("embedding"), 1) > 0f, 4).otherwise(0)
        + when(element_at(col("embedding"), 8) > 0f, 2).otherwise(0)
        + when(element_at(col("embedding"), 22) > 0f, 1).otherwise(0)).as("bucket"))
    val q = bucketed.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("bucket"), col("embedding").as("ea"))
    val wN = Window.partitionBy("qid").orderBy(col("ncos").desc, col("cid").asc)
    val cand = bucketed.select(col("vec_id").as("cid"), col("bucket"), col("embedding").as("eb"))
      .join(broadcast(q), Seq("bucket"))
      .filter(col("cid") =!= col("qid"))
      .withColumn("ncos", expr("graft_cosine(ea, eb)"))
      .withColumn("nrk", row_number().over(wN))
      .filter(col("nrk") <= 6)
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid").asc)
    exactCosine(cand.select("qid", "cid", "ea", "eb"), Seq("qid", "cid"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("cid"), r6(col("cosine")).as("cosine"))
      .orderBy("qid", "rk")
  }

  val simLshSql: String =
    s"""WITH b AS (
       |  SELECT vec_id,
       |    (CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END)
       |    + (CASE WHEN embedding[8] > 0 THEN 2 ELSE 0 END)
       |    + (CASE WHEN embedding[22] > 0 THEN 1 ELSE 0 END) AS bucket
       |  FROM embeddings
       |), f0 AS (
       |$flatSql
       |), f AS (SELECT f0.vec_id, f0.i, f0.v, b.bucket FROM f0 JOIN b ON f0.vec_id = b.vec_id
       |), n AS (SELECT vec_id, sqrt(${xsumHiSql("v * v")}) AS nrm FROM f0 AS f GROUP BY vec_id
       |), q AS (SELECT vec_id AS qid, bucket, i, v AS qv FROM f WHERE vec_id < 20
       |), dots AS (
       |  SELECT q.qid, f.vec_id AS cid, ${xsumHiSql("q.qv * f.v")} AS dot
       |  FROM f JOIN q ON f.bucket = q.bucket AND f.i = q.i AND f.vec_id <> q.qid
       |  GROUP BY q.qid, f.vec_id
       |), cos AS (
       |  SELECT dots.qid, dots.cid, dots.dot / (nq.nrm * nc.nrm) AS cosine
       |  FROM dots JOIN n nq ON dots.qid = nq.vec_id
       |            JOIN n nc ON dots.cid = nc.vec_id
       |)
       |SELECT qid, rk, cid, 0.0 + round(cosine, 6) AS cosine FROM (
       |  SELECT qid, cid, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rk
       |  FROM cos) t
       |WHERE rk <= 3
       |ORDER BY qid, rk""".stripMargin

  // ---------------------------------------------------------------- v03
  /** Near-duplicate / similarity statistics per label pair (embedding
    * cosine near-dup shape): pair counts and max/avg cosine, plus the
    * count above a near-dup threshold.
    *
    * One codegen'd pass: the small query side (50 vectors + labels) is
    * broadcast against the packed corpus arrays and `graft_cosine`
    * evaluates per pair — no 64× posexplode, no (qid, cid) shuffle of
    * n·q·dim rows; the only exchange is the 100-group label aggregate,
    * map-side combined. Stats need every pair, so there is no prune
    * stage; determinism rests on the same contract v04 proved against
    * v01's DECIMAL oracle: the native double accumulation sits ~1e-15
    * from the oracle's exact cosine, far inside round-to-6 and the 0.35
    * threshold gap observed in the data. */
  val labelSimStats: Q = (s, d) => {
    val emb = Par.widen(Tables.embeddings(s, d))
    val q = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("label").as("label_a"),
        col("embedding").as("ea"))
    emb.select(col("vec_id").as("cid"), col("label").as("label_b"),
        col("embedding").as("eb"))
      .crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("ncos", expr("graft_cosine(ea, eb)"))
      .groupBy("label_a", "label_b")
      .agg(count(lit(1)).as("n_pairs"),
        r6(avg("ncos")).as("avg_cos"),
        r6(max("ncos")).as("max_cos"),
        sum(when(col("ncos") > 0.35, 1L).otherwise(0L)).as("n_near_dup"))
      .orderBy("label_a", "label_b")
  }

  val labelSimStatsSql: String =
    s"""WITH ${cosinesSql(50)}
       |SELECT la.label AS label_a, lb.label AS label_b,
       |  count(*) AS n_pairs,
       |  0.0 + round(avg(cosine), 6) AS avg_cos,
       |  0.0 + round(max(cosine), 6) AS max_cos,
       |  CAST(sum(CASE WHEN cosine > 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup
       |FROM cos
       |JOIN embeddings la ON cos.qid = la.vec_id
       |JOIN embeddings lb ON cos.cid = lb.vec_id
       |GROUP BY la.label, lb.label
       |ORDER BY label_a, label_b""".stripMargin

  // ---------------------------------------------------------------- v04
  /** Native-expression top-5: same semantics as v01 but through the
    * codegen'd graft_cosine Catalyst expression over the packed float
    * arrays — no explode, no join-key shuffle, one scan. This pure-native
    * scan is the bench/spec variant: SimSpec asserts its ranking agrees
    * with v01's DECIMAL pipeline. The declared v04 query entry is
    * [[simTopkNativeExact]], which hardens it with the same margin +
    * exact re-rank as v01 so the oracle hash cannot flip on a cosine
    * within ~1e-15 of a 6th-decimal rounding boundary. */
  val simTopkNative: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val emb = Par.widen(Tables.embeddings(s, d))
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid").asc)
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        expr("graft_cosine(qe, embedding)").as("cosine"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("rk"), col("cid"), r6(col("cosine")).as("cosine"))
      .orderBy("qid", "rk")
  }

  /** Oracle-declared form of the native path: hardening v04 with v01's
    * margin + DECIMAL-exact re-rank makes it the SAME two-stage plan, so
    * it is deliberately an alias rather than a copy — v01 already IS the
    * native prune + exact re-rank since round 3. The pure one-scan
    * native variant stays [[simTopkNative]], spec-compared against this
    * plan by SimSpec (ranking agreement) and available as the
    * no-re-rank latency reference. */
  val simTopkNativeExact: Q = simTopk

  // ------------------------------------------------------ IVF training
  /** Iterations of Lloyd's k-means behind the IVF index — fixed for
    * oracle reproducibility. */
  val KmeansIters = 2

  /** Default quantizer size (cells) and the seed rule: the k seed
    * centroids are corpus vectors `KmeansSeedLo .. KmeansSeedLo+k-1`
    * (cell id = seed vec_id). Both are arguments of [[trainCentroids]] /
    * [[kmeansCtes]]; the declared v05/v07/v08 queries pin the defaults
    * so their oracles stay stable, and SimSpec trains at a second k to
    * prove the quantizer is parameterized, not hard-wired. */
  val KmeansK = 8
  val KmeansSeedLo = 100
  /** Warehouse params of the default quantizer's `kmeans` family (the
    * v05/v07/v08 model, which an ivf append freezes). */
  private[graft] val DefaultKmeansParams = s"k$KmeansK-s$KmeansSeedLo"

  /** Quantizer training-sample target: Lloyd's trains on roughly this
    * many vectors REGARDLESS of corpus size (the faiss posture — a
    * coarse quantizer needs a representative sample, not the corpus;
    * tens-of-thousands of training points per centroid add nothing).
    * The sample is the deterministic modular slice `vec_id % stride ==
    * 0` (plus the k seed vectors), spelled identically in the DuckDB
    * oracle ([[kmeansCtes]]), so both engines train on the exact same
    * set and the trained model stays bit-identical cross-engine.
    * Corpora at or below the target train on everything (stride 1) —
    * all driver-gated SFs are below it, so their hashes are unchanged.
    * This is what makes training O(1) in the corpus at 100 TB: only
    * the one-pass cell ASSIGNMENT (and the serve path) remain linear. */
  val TrainSampleTarget = 2048L

  /** The seed rule found none of vectors `seedLo .. seedLo+k-1` in the
    * corpus (e.g. a replica whose ids skip that range), so there is no
    * quantizer to train: a named failure instead of an index error deep
    * in the assignment, and instead of an index with no cells. */
  final class MissingSeedVectors(seedLo: Int, k: Int) extends IllegalStateException(
    s"IVF training needs at least one seed vector (vec_id $seedLo..${seedLo + k - 1}); " +
      "the corpus has none")

  /** Modular sampling stride for a corpus of `nVec` vectors. */
  private[graft] def trainStride(nVec: Long): Long =
    math.max(1L, nVec / TrainSampleTarget)

  /** THE training-sample membership predicate: modular slice plus the k
    * seed vectors. Single spelling shared by [[trainCentroids]] and the
    * [[trainedRows]] pre-flatten sample (and mirrored verbatim by the
    * DuckDB oracle) so the trained model and the sample the hash-locked
    * v08 compare reproduces can never drift apart. */
  private def samplePredicate(stride: Long, seedLo: Int, k: Int) =
    (col("vec_id") % stride === 0) ||
      col("vec_id").between(seedLo, seedLo + k - 1)

  /** Flattened (vec_id, i, v) relation — the Spark mirror of [[flatSql]]
    * (i 1-based long, v the exact float→double element value). */
  private[graft] def flat(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("i"),
        col("col").cast("double").as("v"))

  /** Exact L2 norms per vector (DECIMAL-accumulated, like [[normsSql]]). */
  private[graft] def norms(f: DataFrame): DataFrame =
    f.groupBy("vec_id").agg(sqrt(xsumHi(col("v") * col("v"))).as("nrm"))

  /** Deterministic Lloyd's k-means over the flattened corpus: seed
    * centroids are corpus vectors 100-107 (cell id = seed vec_id), each
    * iteration assigns every vector to its max-cosine centroid and
    * re-centers each cell on the member mean, rounded to 6 decimals.
    *
    * Every arithmetic step is order-independent and spelled identically
    * in the oracle ([[kmeansCtes]]): dots/norms accumulate in
    * DECIMAL(38,18), the cosine is one double formula over those exact
    * sums, assignment ranks with a row_number cell tie-break, and the
    * mean is exact-sum / count rounded via r6 — so DuckDB reproduces the
    * trained model bit for bit (v08 hashes all k×dim components). A cell
    * that loses all members keeps its previous centroid (coalesce), the
    * deterministic empty-cell rule both engines share.
    *
    * Scale posture (r16): the model is k×dim — DRIVER-sized by design —
    * so the centroids live on the driver between rounds and each round
    * is exactly ONE distributed job: the in-row [[exactAssign]] winner
    * projection over the sample (shuffle-free — the same two-stage
    * native-prune → exact-DECIMAL rule the corpus assignment uses),
    * its vec→cell result broadcast onto the pinned flattened sample,
    * and one map-side-combined (cell, i) mean aggregate collected back.
    * The r15 fused form instead window-ranked the margin candidates
    * distributively — three extra exchanges, two window sorts and an
    * eager checkpoint per round, all over model-bounded data. The
    * empty-cell rule (keep the previous centroid) and the r6 rounding
    * now apply on the driver through [[Num.r6d]], the exact replica of
    * Spark's Round(_, 6) — bit-identity with the oracle's chain is
    * unchanged (v08 hashes all k×dim components). */
  private[graft] def trainCentroids(emb: DataFrame, f: DataFrame,
      iters: Int = KmeansIters, k: Int = KmeansK,
      seedLo: Int = KmeansSeedLo, knownStride: Long = -1L): Array[(Long, Long, Double)] = {
    // Bounded training sample (see [[TrainSampleTarget]]): Lloyd's
    // rounds iterate over the modular slice, not the corpus, so
    // training cost is O(sample) at any scale. The filters run over
    // the already-pinned flat checkpoint — a map-side prune, no
    // re-derivation. stride == 1 (small corpora) keeps the exact
    // pre-sampling lineage. A caller that already sampled (trainedRows)
    // passes knownStride=1 so no count job re-runs on the sample.
    val stride =
      if (knownStride > 0) knownStride else trainStride(emb.count())
    val (embT, fT) =
      if (stride == 1L) (emb, f)
      else {
        val keep = samplePredicate(stride, seedLo, k)
        (emb.filter(keep), f.filter(keep))
      }
    import emb.sparkSession.implicits._
    var centRows: Array[(Long, Long, Double)] =
      f.filter(col("vec_id").between(seedLo, seedLo + k - 1))
        .select(col("vec_id").as("cell"), col("i"), col("v").as("c"))
        .as[(Long, Long, Double)].collect()
    // with no seed vector the model has no cell, and the assignment's
    // argmax would index an empty candidate array
    if (centRows.isEmpty) throw new MissingSeedVectors(seedLo, k)
    for (it <- 1 to iters) Prof.tt("ivf")(s"round-$it") {
      // winners is sample-sized (≤ TrainSampleTarget + k rows) — safe
      // to broadcast at any corpus scale by construction
      val winners = exactAssign(embT, centRows).select("vec_id", "cell")
      val upd = fT.join(broadcast(winners), "vec_id")
        .groupBy("cell", "i")
        .agg((xsumHi(col("v")) / count(lit(1))).as("cnew"))
        .as[(Long, Long, Double)].collect()
      val updMap = upd.map { case (c, i, v) => ((c, i), v) }.toMap
      // r6(coalesce(cnew, c)) of the r15 relational spelling, on the
      // driver: r6 applies to BOTH branches (a cell keeping its seed
      // gets rounded too — seeds are raw corpus doubles)
      centRows = centRows.map { case (c, i, old) =>
        (c, i, Num.r6d(updMap.getOrElse((c, i), old))) }
    }
    centRows
  }

  /** How many native-ranked cells per vector enter the exact re-rank in
    * [[exactAssign]]: the true exact argmax falls outside the top-3
    * only if four cells sit within the native prune's error (~1e-7,
    * float-cast centroids + double accumulation) of each other — orders
    * of magnitude below any real quantizer's cell separation. */
  private val AssignMargin = 3

  /** Corpus→cell argmax, two-stage exact — the v01 pattern applied to
    * quantization, with BOTH stages in-row. Stage 1 (prune): the
    * codegen'd graft_cosine ranks all k cells per vector over PACKED
    * float arrays and keeps the top [[AssignMargin]]. Stage 2 (exact):
    * the surviving candidates re-rank inside the same row through the
    * element-wise DECIMAL(38,18) dot/norm arithmetic the oracle
    * computes — `aggregate(zip_with(...))` over the packed doubles is
    * the in-row spelling of `xsumHi(v * c)` (identical per-element
    * double product, identical decimal cast and exact order-independent
    * decimal accumulation, identical final Decimal→double), and the
    * driver-side cell norms replicate `sqrt(xsumHi(c*c))` exactly (the
    * [[fusedUpdate]] dec() replica, v08 hash-locked). The
    * (-cos, cell)-ascending struct sort matches row_number(cos desc,
    * cell asc) bit for bit, so the whole assignment is ONE shuffle-free
    * projection over the corpus — the flattened form paid a corpus ×
    * margin explode-join plus dot aggregation, norm joins and a ranking
    * window (four exchanges; the dominant term of the sf1 IVF build).
    * Returns (vec_id, embedding, cell) so the caller writes the
    * inverted file without re-joining the corpus. */
  private def exactAssign(emb: DataFrame,
      centRows: Array[(Long, Long, Double)]): DataFrame = {
    import emb.sparkSession.implicits._
    val byCell = centRows.groupBy(_._1).toSeq.sortBy(_._1)
    // per cell: float-packed components (stage-1 native prune),
    // full-precision doubles (stage-2 exact dot) and the exact cell
    // norm (Num.exactNorm — the shared decimal-contract replica) —
    // one broadcast row carries the whole model
    val cents = byCell.map { case (cell, rs) =>
      val comps = rs.sortBy(_._2).map(_._3)
      (cell, comps.map(_.toFloat), comps, Num.exactNorm(comps))
    }
    val centsRow = Seq(Tuple1(cents)).toDF("cents")
    // The per-row exact re-rank is CPU-bound (margin × dim BigDecimal
    // ops through the Double.toString cast the decimal contract pins) —
    // spread a narrow scan before it (Par.widen; no-op on a real
    // cluster's many-split corpus scan).
    Par.widen(emb).select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centsRow))
      // the vector norm is cell-independent: project it once per row
      // (sqrt of the exact decimal sum of squares, the norms(f) form)
      .withColumn("nrm", expr("sqrt(graft_dot_exact(embedding, embedding))"))
      .select(col("vec_id"), col("embedding"), expr(
        s"""element_at(array_sort(transform(
           |  slice(array_sort(transform(cents,
           |    s -> struct(-graft_cosine(embedding, s._2) AS nneg,
           |                s._1 AS cell, s._3 AS cd, s._4 AS cnrm))),
           |    1, $AssignMargin),
           |  t -> struct(
           |    -(graft_dot_exact(embedding, t.cd) / (nrm * t.cnrm)) AS negcos,
           |    t.cell AS cell))), 1).cell""".stripMargin).as("cell"))
  }

  /** Train-once / serve-many: the trained quantizer is MODEL-sized
    * (k × dim, independent of corpus size), so after one training pass
    * per dataset the 512 components are collected and every subsequent
    * IVF query (v05, v07, v08 in the same session) serves from the
    * cached model instead of re-running Lloyd's — exactly the contract
    * of a production ANN index, where training is a build step and
    * queries load the model. The collected values round-trip exactly
    * (no re-computation, no drift), so results are identical to the
    * train-inline form at any call order. */
  private val modelCache = new BuildCache[Array[(Long, Long, Double)]]

  /** Cache key for a per-dataset build artifact: path + corpus version
    * marker (regeneration invalidates) + any trainer params. */
  private def embKey(d: String, extra: String = ""): String =
    s"$d@${BuildCache.version(d, "embeddings.parquet")}$extra"

  /** Per-(dataset, file-version) corpus row count. Several build steps
    * need |corpus| (training stride, IVF meta, near-dup band geometry);
    * memoizing by the dataset's version marker collapses them to one
    * footer-count job per dataset version — a regenerated or appended
    * embeddings file changes the marker and re-counts. */
  private val countCache = new BuildCache[Long]
  private[graft] def corpusCount(s: SparkSession, d: String): Long =
    countCache.get(embKey(d, "|n"))(Tables.embeddings(s, d).count())

  /** Train on an already-pinned flattened sample — the shared core of
    * [[trainedModel]] and [[ivfIndex]]'s one-pass build. (r16: the
    * model rows come back driver-side from the loop itself; no final
    * snapshot to collect or release.) */
  private def trainAndCollect(s: SparkSession, emb: DataFrame, f: DataFrame,
      k: Int, seedLo: Int): Array[(Long, Long, Double)] =
    // emb is already the bounded sample (trainedRows sampled before the
    // flatten); a sample never re-samples, so pin stride 1 instead of
    // paying a count job just to re-derive it
    trainCentroids(emb, f, KmeansIters, k, seedLo, knownStride = 1L)

  /** Collected model rows for (dataset, k, seed): the persisted
    * artifact is a (cell, i, c) parquet in the [[Warehouse]] — a fresh
    * process LOADS the trained quantizer instead of re-running Lloyd's —
    * and the in-JVM memo keeps the collected copy so per-query consumers
    * don't re-read it. The bounded training sample ([[trainStride]]) is
    * taken BEFORE the flatten, so the pinned flat/norms checkpoints the
    * Lloyd rounds re-read are sample-sized at any corpus scale — the
    * corpus is never flattened (the in-row [[exactAssign]] removed the
    * only other consumer). */
  private def trainedRows(s: SparkSession, d: String,
      k: Int = KmeansK, seedLo: Int = KmeansSeedLo): Array[(Long, Long, Double)] =
    modelCache.get(embKey(d, s"|$k|$seedLo")) {
      val path = Warehouse.getOrBuild("kmeans", d, "embeddings.parquet",
        s"k$k-s$seedLo") { tmp =>
        // checkpoint the flattened SAMPLE + norms once: every Lloyd round
        // (and nothing else) re-reads them; pins taken HERE — and the
        // final centroid snapshot — are released once the model rows
        // land, so training leaves NOTHING in the BlockManager.
        // (trainCentroids re-derives the stride on the sample and gets 1
        // — a sample never needs re-sampling — so the trained rows are
        // identical to sampling inside the loop, the oracle's spelling.)
        val emb = Tables.embeddings(s, d)
        val stride = trainStride(corpusCount(s, d))
        // widen the sample scan so the flatten/pin — and every Lloyd
        // round that re-reads the checkpoint's partitioning — runs at
        // cluster parallelism instead of the narrow file's task count
        val embT = Par.widen(
          if (stride == 1L) emb
          else emb.filter(samplePredicate(stride, seedLo, k)))
        val (f, fPin) = Checkpoints.pin(flat(embT))
        try {
          import s.implicits._
          Warehouse.writeParquet(
            trainAndCollect(s, embT, f, k, seedLo)
              .toSeq.toDF("cell", "i", "c"),
            tmp.toString)
        } finally Checkpoints.release(fPin)
      }
      import s.implicits._
      Io.parquet(s, path).select("cell", "i", "c")
        .as[(Long, Long, Double)].collect()
    }

  private[graft] def trainedModel(s: SparkSession, d: String,
      k: Int = KmeansK, seedLo: Int = KmeansSeedLo): DataFrame = {
    import s.implicits._
    trainedRows(s, d, k, seedLo).toSeq.toDF("cell", "i", "c")
  }

  /** Build-time inverted file: every corpus vector's trained cell,
    * MATERIALIZED once per dataset as a parquet index table laid out by
    * cell (`partitionBy("cell")`), carrying the packed embedding so the
    * serve path never rejoins the corpus. This is the half of an IVF
    * index that [[trainedModel]]'s centroids don't cover — the
    * inverted file IS the index, and it belongs to the build step: a
    * query must not re-derive the corpus→cell assignment (a full-corpus
    * posexplode + dot-product pass) to probe a handful of cells.
    *
    * At 100 TB this is exactly a production vector index layout: one
    * build job writes the cell-partitioned table, queries read only the
    * probed cells (partition pruning on the cell key), and the centroid
    * model broadcasts. Parquet round-trips longs and float arrays
    * exactly, so serving from the index is bit-identical to serving
    * from the live assignment. */
  private val indexCache = new BuildCache[String]

  private[graft] def ivfIndex(s: SparkSession, d: String): DataFrame = {
    val path = indexCache.get(embKey(d)) {
      Warehouse.getOrBuild("ivf", d, "embeddings.parquet") { tmp =>
        // training pins its own SAMPLE-sized flat/norms (trainedRows);
        // the corpus→cell assignment is in-row over the packed arrays
        // (exactAssign), so the build never flattens the corpus — a
        // warehoused model makes the whole build one projection + write
        def tt[A](name: String)(f: => A): A = Prof.tt("ivf")(name)(f)
        val emb = Tables.embeddings(s, d)
        val rows = tt("train")(trainedRows(s, d))
        // REBALANCE(cell) before the partitioned write (guide §6 file
        // sizing): the assignment is a pure projection, so without it
        // every scan partition writes a file into every cell dir
        // (32 × k tiny files at sf0.1 — measured 1.3-1.8× on every
        // cell-pruned v-serve). AQE sizes the rebalance to the
        // advisory target and splits oversized cells, so at 100 TB
        // each cell lands as ~64 MB files instead of one-per-task.
        tt("assign-write")(exactAssign(emb, rows)
          .select("cell", "vec_id", "embedding")
          .hint("rebalance", "cell")
          .write.mode("overwrite").partitionBy("cell")
          .parquet(tmp.resolve("cells").toString))
        // trained_n records the CORPUS SIZE AT TRAINING TIME (the
        // quantizer itself fits on a bounded modular sample of it,
        // [[trainStride]]) — it is the frozen-centroid append
        // contract's drift denominator (MaxIvfGrowth: appends past
        // that multiple of the corpus-as-trained trigger a retrain),
        // NOT the Lloyd's sample size
        val nVec = corpusCount(s, d)
        writeIvfMeta(s, tmp.toString, nVec, nVec)
      }
    }
    // partition-column type inference narrows cell to int; restore long
    Io.parquet(s, s"$path/cells").withColumn("cell", col("cell").cast("long"))
  }

  /** [[ivfIndex]] at an EXPLICIT quantizer size — the geometry knob a
    * 100 TB deployment turns. The declared v05/v07/v08/v09/v10 queries
    * pin k = [[KmeansK]] for oracle stability, which makes the probe-1
    * serve scan ~n/8 vectors — fine at the gated SFs, linear at scale.
    * The faiss posture is k ≈ √n so the probed fraction shrinks as the
    * corpus grows, and nothing in the engine hard-wires 8: training,
    * assignment, the inverted file and the serve plan are all
    * k-generic. This entry point builds the k-variant index under its
    * own warehouse family (`ivf@k<k>-s<seed>@…` — [[Warehouse.latest]]
    * prefixes on params, so the default family's append carry can
    * never adopt it) and is exercised by SimSpec at a second k and by
    * ScaleProbe's `ivfk:<k>` mode at the 100× corpus (measured: see
    * ENGINE.md scale experiment). */
  private[graft] def ivfIndexK(s: SparkSession, d: String, k: Int): DataFrame = {
    if (k == KmeansK) return ivfIndex(s, d)
    val path = indexCache.get(embKey(d, s"|ivfk$k")) {
      Warehouse.getOrBuild("ivf", d, "embeddings.parquet",
        s"k$k-s$KmeansSeedLo") { tmp =>
        val rows = trainedRows(s, d, k)
        exactAssign(Tables.embeddings(s, d), rows)
          .select("cell", "vec_id", "embedding")
          .hint("rebalance", "cell") // guide §6 — see ivfIndex
          .write.mode("overwrite").partitionBy("cell")
          .parquet(tmp.resolve("cells").toString)
        val nVec = corpusCount(s, d)
        writeIvfMeta(s, tmp.toString, nVec, nVec)
      }
    }
    Io.parquet(s, s"$path/cells").withColumn("cell", col("cell").cast("long"))
  }

  /** `meta/` table of the IVF artifact: the corpus size and the size of
    * the corpus the quantizer was TRAINED on — the append contract's
    * drift denominator ([[MaxIvfGrowth]]). */
  private def writeIvfMeta(s: SparkSession, dir: String,
      n: Long, trainedN: Long): Unit = {
    import s.implicits._
    Warehouse.writeParquet(
      Seq((n, trainedN)).toDF("n_vectors", "trained_n"), s"$dir/meta")
  }

  /** Explicit build step (CREATE INDEX analog): trains the quantizer
    * and materializes the inverted file for `d` if not already built.
    * Queries trigger the build lazily on first use; a production
    * deployment — and [[graft.Bench]]'s warm-up — runs it up front so
    * query timings measure serving, not index construction. */
  def buildIvf(s: SparkSession, d: String): Unit = {
    ivfIndex(s, d)
    // warm the query-batch cell ranking memo ([[rankedCells]]): it is
    // build/serve COORDINATION state (collected once per dataset
    // version, shared by every nprobe consumer), so a production
    // deployment — and the bench — pays it with the index build, not
    // inside whichever serve query happens to run first (measured at
    // sf0.1: v05, alphabetically first of the IVF serves, absorbed the
    // whole family's ranking collect)
    rankedCells(s, d)
    ()
  }

  /** Explicit build step for the v15 auto-geometry family: trains and
    * materializes the k ≈ √n index ([[autoK]]) under its own warehouse
    * params. The default-k artifact is untouched — both families
    * coexist, which is exactly the migration posture a production
    * re-geometry needs. */
  def buildIvfAuto(s: SparkSession, d: String): Unit = {
    val k = autoK(corpusCount(s, d))
    ivfIndexK(s, d, k)
    // same ranking-memo warm-up as [[buildIvf]], at this family's k
    rankedCells(s, d, k)
    ()
  }

  /** Growth bound of the frozen-centroid append contract: once the
    * corpus exceeds this multiple of the size the quantizer was trained
    * on, [[appendToIvf]] declines the incremental path and the full
    * build RETRAINS — the standard IVF posture (assignment quality
    * degrades as the corpus drifts from the training distribution, but
    * slowly; re-running Lloyd's per micro-batch would also re-shuffle
    * every historic vector's cell, invalidating the whole inverted
    * file). */
  val MaxIvfGrowth = 1.5

  /** INCREMENTAL IVF maintenance — the last artifact family to gain an
    * append path (its full build is the steepest-scaling one: Lloyd's
    * training + a corpus-wide assignment). Model contract: centroids
    * are pinned to the corpus version they were TRAINED on; an append
    * FREEZES them by copying the prior `kmeans` artifact to the new
    * corpus version's key, then assigns ONLY the appended vectors
    * against the frozen centroids (batch-sized posexplode + k dot
    * products) and appends their rows to the cell-partitioned inverted
    * file — prior cells carry by file. v05/v07/v08/v09/v10 then serve
    * the frozen model + appended file transparently. Once the corpus
    * outgrows the training set by [[MaxIvfGrowth]], or on any failure,
    * the idempotent full build retrains from scratch.
    *
    * Row-identical to a full rebuild AT THE SAME (frozen) centroids —
    * per-vector assignment is independent, so batch-only assignment
    * composes exactly (spec-asserted). `appended` must be exactly the
    * vectors added since the prior version. */
  def appendToIvf(s: SparkSession, d: String, appended: DataFrame): Unit =
    Warehouse.maintain("ivf", d)(buildIvf(s, d)) { prior =>
      val m = Io.parquet(s, s"$prior/meta")
        .select("n_vectors", "trained_n").head()
      val (n, trainedN) = (m.getLong(0) + appended.count(), m.getLong(1))
      if (n > trainedN * MaxIvfGrowth) throw Warehouse.Rebuild("growth")
      appendToIvfIncremental(s, d, appended, n, trainedN, prior)
    }

  private def appendToIvfIncremental(s: SparkSession, d: String,
      appended: DataFrame, n: Long, trainedN: Long, prior: String): Unit = {
    // freeze the model FIRST: the prior version's trained centroids
    // copy to the new corpus version's kmeans key, so every consumer
    // (the v08 serve, this assignment, even a later full ivf rebuild at
    // this corpus version) shares one pinned quantizer; the retrain
    // path above is the only way centroids change
    val priorKm = Warehouse.latest("kmeans", d, DefaultKmeansParams)
      .getOrElse(throw new IllegalStateException(
        s"no prior kmeans artifact to freeze for $d"))
    Warehouse.getOrBuild("kmeans", d, "embeddings.parquet",
      DefaultKmeansParams) { tmp => Warehouse.copyData(priorKm, tmp) }
    Warehouse.getOrBuild("ivf", d, "embeddings.parquet") { tmp =>
      Warehouse.copyTree(s"$prior/cells", tmp.resolve("cells"))
      val rows = trainedRows(s, d) // loads the frozen copy at this version
      // batch-sized in-row assignment — the corpus never re-scans
      exactAssign(appended, rows)
        .select("cell", "vec_id", "embedding")
        .hint("rebalance", "cell") // guide §6 — see ivfIndex
        .write.mode("append").partitionBy("cell")
        .parquet(tmp.resolve("cells").toString)
      // each append lands one file per touched cell; past the per-cell
      // file budget the cell dir rewrites in place (rows unchanged)
      Warehouse.compactTreeIfNeeded(s, tmp.resolve("cells"))
      writeIvfMeta(s, tmp.toString, n, trainedN)
    }
    ()
  }

  /** Test hook: drop the per-dataset model/index caches so a spec can
    * exercise the build path deterministically. */
  private[graft] def clearIvfCaches(): Unit = {
    modelCache.clear()
    indexCache.clear()
    rankedCache.clear()
    // the corpus-count memo too: a cold-build measurement must pay the
    // count job the production cold path pays
    countCache.clear()
  }

  /** Collected query-batch probe-cell ranking — (qid, cell, arn) for
    * the ≤20 query vectors against the trained k-cell quantizer,
    * memoized per (dataset version, k, seed). The ranking runs over the
    * QUERY vectors only: the vec_id<20 filter sits below the
    * flat/norms/dot pipeline, so its posexplode and DECIMAL
    * accumulation touch ≤20 rows — per-vector arithmetic is
    * independent, so the ranks (and the oracle hash) are identical to
    * ranking the whole corpus and keeping 20 rows, at none of the cost.
    * ONE collect (all k ranks per query) serves every nprobe consumer —
    * v05 (arn ≤ 1), v07 (arn ≤ 2) and v10's recall composition, which
    * previously re-ranked + re-collected per serve construction (3×
    * the round-trips in its one metric). The memo keys on the dataset
    * version marker, so an appended/regenerated corpus re-ranks. */
  private val rankedCache = new BuildCache[Seq[(Long, Long, Long)]]
  private def rankedCells(s: SparkSession, d: String, k: Int = KmeansK,
      seedLo: Int = KmeansSeedLo): Seq[(Long, Long, Long)] =
    rankedCache.get(embKey(d, s"|ranks|$k|$seedLo")) {
      import s.implicits._
      val qemb = Tables.embeddings(s, d).filter(col("vec_id") < 20)
      val qf = flat(qemb)
      val qn = norms(qf)
      cellRanks(qf, qn, trainedModel(s, d, k, seedLo))
        .select(col("vec_id"), col("cell"), col("arn").cast("long"))
        .as[(Long, Long, Long)].collect().toSeq
    }

  /** Relational max-cosine cell ranking against a trained centroid
    * relation — the same exact-DECIMAL arithmetic as the oracle, so the
    * assignment cannot flip on accumulation order. Returns
    * (vec_id, cell, arn). */
  private[graft] def cellRanks(f: DataFrame, n: DataFrame, cent: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cn = cent.groupBy("cell").agg(sqrt(xsumHi(col("c") * col("c"))).as("cnrm"))
    val dots = f.join(broadcast(cent), Seq("i"))
      .groupBy("vec_id", "cell").agg(xsumHi(col("v") * col("c")).as("dot"))
    val wA = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("cell").asc)
    dots.join(n, "vec_id").join(broadcast(cn), "cell")
      .select(col("vec_id"), col("cell"),
        (col("dot") / (col("nrm") * col("cnrm"))).as("cos"))
      .withColumn("arn", row_number().over(wA))
      .select("vec_id", "cell", "arn")
  }

  /** Oracle CTE chain for [[trainCentroids]]: c0 (seeds) through
    * c`iters`, one (cn, d, a, u, c+1) block per Lloyd iteration, all
    * arithmetic spelled exactly as the Spark side computes it. Assumes
    * CTEs `f` and `n` are already defined. */
  private def kmeansCtes(iters: Int, k: Int = KmeansK,
      seedLo: Int = KmeansSeedLo, seedHiSql: Option[String] = None): String = {
    // the seed range's upper bound is the ONLY place k enters the CTE
    // chain (every Lloyd round is data-driven over the seeded cells);
    // `seedHiSql` lets the v15 auto-geometry oracle spell it as a
    // corpus-derived scalar instead of a literal
    val hi = seedHiSql.getOrElse((seedLo + k - 1).toString)
    // tm/ft/nt: the bounded modular training sample ([[trainStride]]) —
    // the Lloyd rounds below iterate over ft, not f, so the oracle's
    // training chain is sample-sized exactly like the engine's. Corpora
    // at or below TrainSampleTarget get stride 1 (ft == f).
    val sb = new StringBuilder(
      s"""tm AS (
         |  SELECT CAST(greatest(1, count(*) // $TrainSampleTarget) AS BIGINT) AS m
         |  FROM embeddings
         |), ft AS (
         |  SELECT f.vec_id, f.i, f.v FROM f, tm
         |  WHERE f.vec_id % tm.m = 0 OR f.vec_id BETWEEN $seedLo AND $hi
         |), nt AS (
         |  SELECT n.vec_id, n.nrm FROM n, tm
         |  WHERE n.vec_id % tm.m = 0 OR n.vec_id BETWEEN $seedLo AND $hi
         |), c0 AS (
         |  SELECT vec_id AS cell, i, v AS c FROM f WHERE vec_id BETWEEN $seedLo AND $hi
         |)""".stripMargin)
    for (t <- 0 until iters) {
      sb.append(s""", cn$t AS (
         |  SELECT cell, sqrt(${xsumHiSql("c * c")}) AS cnrm FROM c$t GROUP BY cell
         |), d$t AS (
         |  SELECT ft.vec_id, c$t.cell, ${xsumHiSql(s"ft.v * c$t.c")} AS dot
         |  FROM ft JOIN c$t ON ft.i = c$t.i
         |  GROUP BY ft.vec_id, c$t.cell
         |), a$t AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT d$t.vec_id, d$t.cell,
         |      row_number() OVER (PARTITION BY d$t.vec_id
         |        ORDER BY d$t.dot / (nt.nrm * cn$t.cnrm) DESC, d$t.cell ASC) AS arn
         |    FROM d$t JOIN nt ON d$t.vec_id = nt.vec_id
         |             JOIN cn$t ON d$t.cell = cn$t.cell) r$t
         |  WHERE arn = 1
         |), u$t AS (
         |  SELECT a$t.cell, ft.i, ${xsumHiSql("ft.v")} / count(*) AS cnew
         |  FROM ft JOIN a$t ON ft.vec_id = a$t.vec_id
         |  GROUP BY a$t.cell, ft.i
         |), c${t + 1} AS (
         |  SELECT p.cell, p.i, 0.0 + round(coalesce(u$t.cnew, p.c), 6) AS c
         |  FROM c$t p LEFT JOIN u$t ON p.cell = u$t.cell AND p.i = u$t.i
         |)""".stripMargin)
    }
    sb.toString
  }

  // ---------------------------------------------------------------- v05
  /** IVF ANN over TRAINED centroids, parameterized on `nprobe`: Lloyd's
    * k-means ([[trainCentroids]], seeded from vectors 100-107) builds
    * the coarse quantizer, every vector is assigned to its max-cosine
    * trained cell, and each query searches its `nprobe` nearest cells —
    * the inverted-file scale path with a real trainable index. Cell
    * assignment uses the exact relational cosine (bit-identical to the
    * oracle); candidates get the native-rank margin + DECIMAL-exact
    * re-rank. A corpus vector lives in exactly one cell, so the probe
    * join cannot duplicate a (qid, cid) pair.
    *
    * Build/serve split: [[trainedModel]] (centroids) and [[ivfIndex]]
    * (the cell-partitioned inverted file) run ONCE per dataset; a query
    * only ranks probe cells for its own ≤20 vectors and joins the
    * probed cells of the index — no corpus-wide pass per query. */
  private def simIvfN(nprobe: Int): Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val inv = ivfIndex(s, d) // builds model + index together on a cold cache
    // The (qid → probed cell) map is DRIVER STATE ([[rankedCells]] —
    // ≤ queries × k rows, collected once per dataset version like the
    // centroid model) so the probed cell set reaches the inverted-file
    // scan as a LITERAL partition filter. The broadcast-join spelling
    // left cell pruning to runtime DPP, and the executed plan showed
    // dynamicpruningexpression(true) — DPP dropped, every cell scanned.
    // Invisible at the gated SFs (the file is MBs), a full index scan
    // per query batch at 100 TB; static isin pruning is deterministic
    // at any scale and PlanShapeSpec pins it.
    // NOTE: constructing this DataFrame therefore RUNS Spark jobs on a
    // cold ranking memo (build/serve coordination, not lazy plan
    // assembly), and the probed cells freeze into the plan — a Q built
    // before an index/corpus refresh serves the pre-refresh cells, the
    // same contract as the frozen `inv` artifact scan it joins.
    val qemb = emb.filter(col("vec_id") < 20)
    val ranked = rankedCells(s, d).filter(_._3 <= nprobe)
      .map(r => (r._1, r._2))
    val qprobe = ranked.toDF("qid", "cell")
      .join(qemb.select(col("vec_id").as("qid"), col("embedding").as("ea")), "qid")
    val wN = Window.partitionBy("qid").orderBy(col("ncos").desc, col("cid").asc)
    val cand = inv.filter(col("cell").isin(ranked.map(_._2).distinct: _*))
      .select(col("vec_id").as("cid"), col("cell"), col("embedding").as("eb"))
      .join(broadcast(qprobe), Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .withColumn("ncos", expr("graft_cosine(ea, eb)"))
      .withColumn("nrk", row_number().over(wN))
      .filter(col("nrk") <= 6)
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid").asc)
    exactCosine(cand.select("qid", "cid", "ea", "eb"), Seq("qid", "cid"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("cid"), r6(col("cosine")).as("cosine"))
      .orderBy("qid", "rk")
  }

  /** [[simIvfN]]'s plan at an explicit quantizer size — the serve half
    * of [[ivfIndexK]]. Same two-stage shape (codegen'd graft_cosine
    * prune over the probed cells, DECIMAL-exact re-rank, top-3), only
    * the model and inverted file swap; SimSpec locks its structure and
    * served-cosine exactness at a non-default k. */
  private[graft] def simIvfK(s: SparkSession, d: String, k: Int,
      nprobe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val inv = ivfIndexK(s, d, k)
    val qemb = emb.filter(col("vec_id") < 20)
    // literal probed-cell partition pruning + eager-collect memo
    // semantics — see [[simIvfN]]/[[rankedCells]]
    val ranked = rankedCells(s, d, k).filter(_._3 <= nprobe)
      .map(r => (r._1, r._2))
    val qprobe = ranked.toDF("qid", "cell")
      .join(qemb.select(col("vec_id").as("qid"), col("embedding").as("ea")), "qid")
    val wN = Window.partitionBy("qid").orderBy(col("ncos").desc, col("cid").asc)
    val cand = inv.filter(col("cell").isin(ranked.map(_._2).distinct: _*))
      .select(col("vec_id").as("cid"), col("cell"), col("embedding").as("eb"))
      .join(broadcast(qprobe), Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .withColumn("ncos", expr("graft_cosine(ea, eb)"))
      .withColumn("nrk", row_number().over(wN))
      .filter(col("nrk") <= 6)
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid").asc)
    exactCosine(cand.select("qid", "cid", "ea", "eb"), Seq("qid", "cid"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("cid"), r6(col("cosine")).as("cosine"))
      .orderBy("qid", "rk")
  }

  /** Oracle CTEs ranking every vector's cosine against the FINAL trained
    * centroids (`cnf` cell norms, `df` dots, `acr` ranked) — the exact
    * arithmetic [[cellRanks]] computes. Assumes `f`, `n` and the k-means
    * chain (through c[[KmeansIters]]) are in scope; shared by the v05/v07
    * serve oracles and the v09 inverted-file oracle. */
  private def assignRankCtes: String =
    s"""cnf AS (
       |  SELECT cell, sqrt(${xsumHiSql("c * c")}) AS cnrm
       |  FROM c$KmeansIters GROUP BY cell
       |), df AS (
       |  SELECT f.vec_id, cf.cell, ${xsumHiSql("f.v * cf.c")} AS dot
       |  FROM f JOIN c$KmeansIters cf ON f.i = cf.i
       |  GROUP BY f.vec_id, cf.cell
       |), acr AS (
       |  SELECT df.vec_id, df.cell,
       |    row_number() OVER (PARTITION BY df.vec_id
       |      ORDER BY df.dot / (n.nrm * cnf.cnrm) DESC, df.cell ASC) AS arn
       |  FROM df JOIN n ON df.vec_id = n.vec_id
       |          JOIN cnf ON df.cell = cnf.cell
       |)""".stripMargin

  /** Oracle template for [[simIvfN]]: the identical k-means chain, cell
    * ranking (exact DECIMAL cosines, row_number with the cell
    * tie-break) and top-3. */
  private def simIvfNSql(nprobe: Int): String =
    simIvfServeSql(nprobe, "", kmeansCtes(KmeansIters))

  /** Float-pruned assignment CTEs for LARGE-k oracles (the v15/v17
    * auto-geometry chains). The exact [[assignRankCtes]] `df` computes
    * DECIMAL dots for every (vector, cell) pair — n·k·dim rows, which
    * at the 100× corpus and k = 447 is ~5.7G intermediate rows and
    * exhausted DuckDB's temp disk twice (CORRECTNESS_SCALE100 r15).
    * The corpus-wide ranking is only consumed at arn = 1 (the
    * assignment), so this chain prunes candidates per vector with a
    * native double `list_dot_product` ranking over the packed lists
    * (dot/cnrm orders identically to cosine — the per-vector norm is
    * constant across its cells) and DECIMAL-reranks only the
    * top-[[AssignPruneMargin]] survivors: the v01 two-stage margin
    * contract spelled in SQL — a flipped assignment would need
    * [[AssignPruneMargin]] cells inside the ~1e-13 double-vs-DECIMAL
    * accumulation gap. Query vectors (< 20) rank ALL cells exactly
    * (`qacr`), so any nprobe stays available to the serve CTEs.
    * Intermediate volume drops from n·k·dim rows to n·k narrow prune
    * rows + n·margin·dim DECIMAL rows. */
  private val AssignPruneMargin = 4

  private def assignRankPrunedCtes: String =
    s"""cnf AS (
       |  SELECT cell, sqrt(${xsumHiSql("c * c")}) AS cnrm
       |  FROM c$KmeansIters GROUP BY cell
       |), cv AS (
       |  SELECT cell, list(c ORDER BY i) AS cv
       |  FROM c$KmeansIters GROUP BY cell
       |), pr AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, cc.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), cc.cv)
       |                   / cc.cnrm DESC, cc.cell ASC) AS prn
       |    FROM embeddings e CROSS JOIN
       |      (SELECT cv.cell, cv.cv, cnf.cnrm FROM cv JOIN cnf USING (cell)) cc
       |  ) z WHERE prn <= $AssignPruneMargin
       |), df AS (
       |  SELECT f.vec_id, pr.cell, ${xsumHiSql("f.v * cf.c")} AS dot
       |  FROM pr JOIN f ON f.vec_id = pr.vec_id
       |          JOIN c$KmeansIters cf ON cf.cell = pr.cell AND cf.i = f.i
       |  GROUP BY f.vec_id, pr.cell
       |), acr AS (
       |  SELECT df.vec_id, df.cell,
       |    row_number() OVER (PARTITION BY df.vec_id
       |      ORDER BY df.dot / (n.nrm * cnf.cnrm) DESC, df.cell ASC) AS arn
       |  FROM df JOIN n ON df.vec_id = n.vec_id
       |          JOIN cnf ON df.cell = cnf.cell
       |), qdf AS (
       |  SELECT f.vec_id, cf.cell, ${xsumHiSql("f.v * cf.c")} AS dot
       |  FROM f JOIN c$KmeansIters cf ON f.i = cf.i
       |  WHERE f.vec_id < 20
       |  GROUP BY f.vec_id, cf.cell
       |), qacr AS (
       |  SELECT qdf.vec_id, qdf.cell,
       |    row_number() OVER (PARTITION BY qdf.vec_id
       |      ORDER BY qdf.dot / (n.nrm * cnf.cnrm) DESC, qdf.cell ASC) AS arn
       |  FROM qdf JOIN n ON qdf.vec_id = n.vec_id
       |           JOIN cnf ON qdf.cell = cnf.cell
       |)""".stripMargin

  /** The serve half of the IVF oracle over an arbitrary k-means CTE
    * chain — shared by the literal-k v05/v07 oracles (exact
    * assignment) and the v15 auto-geometry oracle (float-pruned
    * assignment; `pruned = true`). */
  private def simIvfServeSql(nprobe: Int, prefix: String,
      kctes: String, pruned: Boolean = false): String = {
    val (actes, qsrc) =
      if (pruned) (assignRankPrunedCtes, "qacr")
      else (assignRankCtes, "acr")
    s"""WITH ${prefix}f AS (
       |$flatSql
       |), n AS (
       |$normsSql
       |), $kctes, $actes, assign AS (
       |  SELECT vec_id, cell FROM acr WHERE arn = 1
       |), qcells AS (
       |  SELECT vec_id AS qid, cell FROM $qsrc
       |  WHERE vec_id < 20 AND arn <= $nprobe
       |), fc AS (
       |  SELECT f.vec_id, f.i, f.v, assign.cell
       |  FROM f JOIN assign ON f.vec_id = assign.vec_id
       |), q AS (
       |  SELECT qc.qid, qc.cell, f.i, f.v AS qv
       |  FROM qcells qc JOIN f ON f.vec_id = qc.qid
       |), dots AS (
       |  SELECT q.qid, fc.vec_id AS cid, ${xsumHiSql("q.qv * fc.v")} AS dot
       |  FROM fc JOIN q ON fc.cell = q.cell AND fc.i = q.i AND fc.vec_id <> q.qid
       |  GROUP BY q.qid, fc.vec_id
       |), cos AS (
       |  SELECT dots.qid, dots.cid, dots.dot / (nq.nrm * nc.nrm) AS cosine
       |  FROM dots JOIN n nq ON dots.qid = nq.vec_id
       |            JOIN n nc ON dots.cid = nc.vec_id
       |)
       |SELECT qid, rk, cid, 0.0 + round(cosine, 6) AS cosine FROM (
       |  SELECT qid, cid, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rk
       |  FROM cos) t
       |WHERE rk <= 3
       |ORDER BY qid, rk""".stripMargin
  }

  val simIvf: Q = simIvfN(1)
  val simIvfSql: String = simIvfNSql(1)

  // ---------------------------------------------------------------- v15
  /** k ≈ √n auto-geometry (the faiss IVF posture): the probed fraction
    * of the corpus shrinks as it grows instead of staying n/k. Clamped
    * below by the oracle-pinned default and above by a centroid-table
    * sanity bound; round-to-nearest is exact on both engines (√n is
    * never a .5 boundary for integer n). */
  private[graft] def autoK(n: Long): Int =
    math.max(KmeansK.toLong,
      math.min(4096L, math.round(math.sqrt(n.toDouble)))).toInt

  private val AutoKSql: String =
    s"CAST(greatest($KmeansK, least(4096, round(sqrt(count(*)), 0))) AS BIGINT)"

  /** v15 — the auto-geometry IVF serve as a DECLARED query: the same
    * sample-trained quantizer, inverted file and two-stage probe-1
    * serve as v05, at k = [[autoK]](corpus size) instead of the pinned
    * default. The oracle derives k from the same corpus count in SQL
    * (kk CTE → the seed range's upper bound), so the scale-right
    * geometry — training, assignment, cell pruning — is hash-gated at
    * every scale factor, not probe-measured only. The index builds
    * under its own warehouse family (`ivf@k<k>-…`), so it coexists
    * with the default-k artifact. */
  val simIvfAuto: Q = (s, d) => simIvfK(s, d, autoK(corpusCount(s, d)))

  val simIvfAutoSql: String = simIvfServeSql(1,
    s"kk AS (SELECT $AutoKSql AS k FROM embeddings), ",
    kmeansCtes(KmeansIters,
      seedHiSql = Some(s"$KmeansSeedLo - 1 + (SELECT k FROM kk)")),
    pruned = true)

  // ---------------------------------------------------------------- v07
  /** IVF ANN with nprobe=2 — the recall knob of the inverted-file path:
    * the query searches its TWO nearest centroid cells, trading ~2×
    * candidate arithmetic for recall on queries near a cell boundary.
    * Same pipeline as v05 ([[simIvfN]]), one parameter apart. */
  val simIvfProbe2: Q = simIvfN(2)
  val simIvfProbe2Sql: String = simIvfNSql(2)

  // ---------------------------------------------------------------- v08
  /** The trained IVF quantizer itself as a declared relation: every
    * (cell, dimension, component) of the k-means model after
    * [[KmeansIters]] Lloyd iterations. Hash-matching this against the
    * DuckDB oracle proves the ENTIRE training loop — seeding, exact
    * cosine assignment, member means, empty-cell carry-over — reproduces
    * bit-for-bit outside Spark, which is what makes v05/v07 a real
    * trainable index rather than an IVF-shaped query. */
  val kmeansModelQ: Q = (s, d) =>
    trainedModel(s, d).orderBy("cell", "i")

  val kmeansModelSql: String =
    s"""WITH f AS (
       |$flatSql
       |), n AS (
       |$normsSql
       |), ${kmeansCtes(KmeansIters)}
       |SELECT cell, i, c FROM c$KmeansIters
       |ORDER BY cell, i""".stripMargin

  // ---------------------------------------------------------------- v09
  /** The materialized inverted file itself as a declared relation: every
    * corpus vector's trained cell, READ BACK from the cell-partitioned
    * parquet index [[ivfIndex]] writes at build time. v08 oracle-gates
    * the quantizer (centroids); this gates the OTHER half of the index —
    * the corpus→cell assignment — and, because the Spark side serves
    * from the materialized table rather than the live assignment plan,
    * a hash match also proves the index round-trips losslessly through
    * its parquet layout (partition-column cell included). Together
    * v08+v09 pin the complete build artifact the v05/v07 serve path
    * depends on. */
  val ivfIndexQ: Q = (s, d) =>
    ivfIndex(s, d).select(col("vec_id"), col("cell")).orderBy("vec_id")

  val ivfIndexSql: String =
    s"""WITH f AS (
       |$flatSql
       |), n AS (
       |$normsSql
       |), ${kmeansCtes(KmeansIters)}, $assignRankCtes
       |SELECT vec_id, cell FROM acr WHERE arn = 1
       |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- v10
  /** Recall@3 of the served IVF index against the exact brute-force
    * ranking — the ANN quality metric, declared as data: per query
    * vector, the fraction of the true top-3 neighbors the nprobe=1
    * serve path returns. An index rebuild, a quantizer change, or a
    * probe-path bug shows up here as a recall drop BEFORE it ships —
    * the eval harness a production vector store runs after every build.
    * Both inputs are themselves oracle-gated (v01 exact, v05 served),
    * so this gates their composition: the join and the per-query census.
    * Observed on the synthetic corpus: mean recall@3 ≈ 0.2–0.3 at
    * nprobe=1 (random embeddings cluster weakly — exactly why the
    * nprobe recall knob exists; v07 doubles the probed cells).
    *
    * Scale posture: both sides are (queries × 3) rows — the corpus-sized
    * work happens once inside the two already-measured pipelines; the
    * metric join is broadcast-trivial. */
  val ivfRecall: Q = (s, d) => {
    val exact = simTopk(s, d).filter(col("rk") <= 3).select("qid", "cid")
    val served = simIvf(s, d).select(col("qid"), col("cid"), lit(1).as("hit"))
    exact.join(broadcast(served), Seq("qid", "cid"), "left")
      .groupBy("qid")
      .agg(r6(count(col("hit")).cast("double") / 3).as("recall3"))
      .orderBy("qid")
  }

  val ivfRecallSql: String =
    s"""WITH f AS (
       |$flatSql
       |), n AS (
       |$normsSql
       |), ${kmeansCtes(KmeansIters)}, $assignRankCtes, assign AS (
       |  SELECT vec_id, cell FROM acr WHERE arn = 1
       |), qcells AS (
       |  SELECT vec_id AS qid, cell FROM acr WHERE vec_id < 20 AND arn <= 1
       |), fc AS (
       |  SELECT f.vec_id, f.i, f.v, assign.cell
       |  FROM f JOIN assign ON f.vec_id = assign.vec_id
       |), qv AS (
       |  SELECT qc.qid, qc.cell, f.i, f.v AS qv
       |  FROM qcells qc JOIN f ON f.vec_id = qc.qid
       |), dotsi AS (
       |  SELECT qv.qid, fc.vec_id AS cid, ${xsumHiSql("qv.qv * fc.v")} AS dot
       |  FROM fc JOIN qv ON fc.cell = qv.cell AND fc.i = qv.i AND fc.vec_id <> qv.qid
       |  GROUP BY qv.qid, fc.vec_id
       |), cosi AS (
       |  SELECT dotsi.qid, dotsi.cid, dotsi.dot / (nq.nrm * nc.nrm) AS cosine
       |  FROM dotsi JOIN n nq ON dotsi.qid = nq.vec_id
       |             JOIN n nc ON dotsi.cid = nc.vec_id
       |), ivf AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |      row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rk
       |    FROM cosi) t
       |  WHERE rk <= 3
       |), qe AS (
       |  SELECT vec_id AS qid, i, v AS qv FROM f WHERE vec_id < 20
       |), dotse AS (
       |  SELECT qe.qid, f.vec_id AS cid, ${xsumHiSql("qe.qv * f.v")} AS dot
       |  FROM f JOIN qe ON f.i = qe.i AND f.vec_id <> qe.qid
       |  GROUP BY qe.qid, f.vec_id
       |), cose AS (
       |  SELECT dotse.qid, dotse.cid, dotse.dot / (nq.nrm * nc.nrm) AS cosine
       |  FROM dotse JOIN n nq ON dotse.qid = nq.vec_id
       |             JOIN n nc ON dotse.cid = nc.vec_id
       |), exact AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |      row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rk
       |    FROM cose) t
       |  WHERE rk <= 3
       |)
       |SELECT exact.qid,
       |  0.0 + round(CAST(count(ivf.cid) AS DOUBLE) / 3, 6) AS recall3
       |FROM exact LEFT JOIN ivf ON exact.qid = ivf.qid AND exact.cid = ivf.cid
       |GROUP BY exact.qid
       |ORDER BY exact.qid""".stripMargin

  // ---------------------------------------------------------------- v11
  /** Int8 scalar-quantization error census — the embedding-compression
    * prep a serving stack runs before shipping a vector index: each
    * vector is quantized to int8 against its own max-abs scale
    * (q = round(v·127/m), dequantized q·m/127), and the per-label
    * mean/max reconstruction error says whether 8-bit serving is safe
    * for that slice of the corpus.
    *
    * Determinism: round() ties go away from zero in BOTH engines, the
    * per-element error is one fixed IEEE-double formula, and the mean
    * accumulates via DECIMAL(38,18) sums — so the census hash-matches at
    * any parallelism. Zero vectors (m = 0) are excluded identically on
    * both sides.
    *
    * Scale posture (r16): the whole per-vector census is the in-row
    * [[graft.functions.Q8Err]] pass (exact per-row decimal partials,
    * reduced by a map-side-combined label aggregate) — the corpus never
    * flattens; the r15 plan paid a corpus×dim explode, a per-vector max
    * join-back and a label join (three corpus exchanges). Equivalence
    * locked by SimSpec's census test and the v11 oracle hash. */
  val quantizeError: Q = (s, d) => {
    val emb = Par.widen(Tables.embeddings(s, d))
    emb.select(col("label"),
        org.apache.spark.sql.GraftPlanBridge.exprColumn(
          graft.functions.Q8Err(Seq(
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("embedding")),
            pinned = true)).as("q"))
      .filter(col("q").isNotNull)
      .groupBy("label")
      .agg(r6(sum(col("q.dsum")).cast("double") / sum(col("q.n"))).as("avg_err"),
        r6(max(col("q.dmax"))).as("max_err"))
      .orderBy("label")
  }

  val quantizeErrorSql: String =
    s"""WITH f AS (
       |$flatSql
       |), m AS (
       |  SELECT vec_id, max(abs(v)) AS m FROM f GROUP BY vec_id
       |), e AS (
       |  SELECT f.vec_id,
       |    abs(f.v - round(f.v * 127.0 / m.m) * m.m / 127.0) AS err
       |  FROM f JOIN m ON f.vec_id = m.vec_id
       |  WHERE m.m > 0
       |)
       |SELECT emb.label,
       |  0.0 + round(${xsumHiSql("e.err")} / count(*), 6) AS avg_err,
       |  0.0 + round(max(e.err), 6) AS max_err
       |FROM e JOIN embeddings emb ON e.vec_id = emb.vec_id
       |GROUP BY emb.label
       |ORDER BY emb.label""".stripMargin

  // ---------------------------------------------------------------- v13
  /** Residual-quantization error census — the residual half of an
    * IVF-PQ index: each corpus vector subtracts its assigned TRAINED
    * centroid (the coarse step v05/v07 serve from), the residual
    * int8-quantizes by max-abs (the v11 scalar scheme), and the census
    * reports per-cell mean/max reconstruction error — the number an
    * index operator reads to size code books. Composes the two
    * verified pieces: the assignment is the inverted file's, the
    * quantization formula is v11's, and the oracle re-derives BOTH
    * from scratch (full Lloyd chain + assignment + residual) so the
    * composition is hash-checked end to end.
    *
    * Scale posture: the model broadcasts (k×dim) as per-cell packed
    * arrays and the residual, per-vector scale and int8 round-trip all
    * compute IN ROW over the packed inverted file — the corpus never
    * flattens or shuffles; the only exchange is the final k-cell
    * census aggregate, partial-combined map-side. */
  val residualError: Q = (s, d) => {
    import s.implicits._
    val inv = ivfIndex(s, d)
    // model-sized centroid arrays (ordered by component index, the
    // [[exactAssign]] packing) broadcast once; the whole residual +
    // int8-roundtrip error is then an IN-ROW projection over the packed
    // inverted file — the flattened form paid a corpus×64 explode, a
    // vec_id join, a per-vector max aggregation and a join BACK (three
    // corpus-wide exchanges); this form's only exchange is the final
    // k-cell aggregate, with partial aggregation map-side.
    val cents = trainedRows(s, d).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (cell, rs) => (cell, rs.sortBy(_._2).map(_._3)) }
    // the inverted file's partition-discovered `cell` infers as int;
    // cast the driver-built long side to match explicitly rather than
    // riding the implicit numeric coercion (which blocks stats-based
    // pruning and is fragile to partition-inference config)
    val centsDf = cents.toDF("cell", "cd")
      .select(col("cell").cast("int").as("cell"), col("cd"))
    // r16: the residual subtraction, per-vector scale, int8 round-trip
    // AND the exact decimal error partials all run in the one native
    // Q8Err pass — the r15 form still exploded the err array (a
    // Generate plus three interpreted HOF lambdas per row) before its
    // census aggregate
    Par.widen(inv.select(col("cell"), col("embedding")))
      .join(broadcast(centsDf), "cell")
      .select(col("cell"),
        org.apache.spark.sql.GraftPlanBridge.exprColumn(
          graft.functions.Q8Err(Seq(
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("embedding"),
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("cd")),
            pinned = true)).as("q"))
      .filter(col("q").isNotNull)
      .groupBy("cell")
      .agg(sum(col("q.n")).as("n_components"),
        r6(sum(col("q.dsum")).cast("double") / sum(col("q.n"))).as("avg_err"),
        r6(max(col("q.dmax"))).as("max_err"))
      .orderBy("cell")
  }

  val residualErrorSql: String =
    s"""WITH f AS (
       |$flatSql
       |), n AS (
       |$normsSql
       |), ${kmeansCtes(KmeansIters)}, $assignRankCtes, assign AS (
       |  SELECT vec_id, cell FROM acr WHERE arn = 1
       |), r AS (
       |  SELECT assign.cell, f.vec_id, f.i, f.v - c.c AS r
       |  FROM f JOIN assign ON f.vec_id = assign.vec_id
       |         JOIN c$KmeansIters c ON c.cell = assign.cell AND c.i = f.i
       |), m AS (
       |  SELECT vec_id, max(abs(r)) AS m FROM r GROUP BY vec_id
       |), e AS (
       |  SELECT r.cell,
       |    abs(r.r - round(r.r * 127.0 / m.m) * m.m / 127.0) AS err
       |  FROM r JOIN m ON r.vec_id = m.vec_id
       |  WHERE m.m > 0
       |)
       |SELECT cell, count(*) AS n_components,
       |  0.0 + round(${xsumHiSql("err")} / count(*), 6) AS avg_err,
       |  0.0 + round(max(err), 6) AS max_err
       |FROM e GROUP BY cell
       |ORDER BY cell""".stripMargin

  // ---------------------------------------------------------------- v06
  /** Bits per near-dup LSH band, derived from corpus size so buckets
    * stay population-bounded at ANY scale: the smallest b with
    * 2^b >= ceil(n / 64) (i.e. ~64 expected members per bucket when the
    * sign-bits split evenly), floored at 4. Integer-exact — bit-length
    * of ceil(n/64) - 1 — so the DuckDB oracle reproduces it without a
    * float log2 whose last ulp could flip a ceil() at a power of two. */
  private[graft] def bandBits(n: Long): Int = {
    val m = (n + 63) / 64
    math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, m - 1)))
  }

  /** Near-dup LSH geometry: [[NearDupBands]] independent bands, each
    * keyed by the sign pattern of [[bandBits]] coordinates (band b, bit
    * j reads coordinate (b·16 + j·3) mod 64, 1-based) — coordinate
    * hyperplanes, OR'd across bands, so recall does not collapse as the
    * per-band key narrows. A band bucket larger than
    * [[MaxNearDupBucket]] is dropped from candidate generation (its
    * O(|bucket|²) pair fan-out would swamp one reducer) and surfaced by
    * the declared v12 audit instead — the t06/t12 contract. */
  val NearDupBands = 4
  val MaxNearDupBucket = 4096

  /** Driver budget for the append's distinct batch bucket-key pull
    * (the isin literal the members/ row-group pruning runs on):
    * ≥ 16k appended vectors in one batch (4 bands × 4k+ keys) is a
    * bulk backfill, not a micro-batch — it routes to the full rebuild
    * via [[appendToNearDup]]'s fallback. */
  private[graft] val MaxBatchKeys = 65536

  /** (vec_id, label, embedding, band, key) — one row per vector per
    * band; `bits` comes from [[bandBits]]. */
  private def nearDupBuckets(emb: DataFrame, bits: Int): DataFrame = {
    val keyOf = (b: Int) => concat((0 until bits).map { j =>
      val coord = (b * 16 + j * 3) % 64 + 1
      when(element_at(col("embedding"), coord) > 0f, lit("1")).otherwise(lit("0"))
    }: _*)
    emb.select(col("vec_id"), col("label"), col("embedding"),
        explode(array((0 until NearDupBands).map(b =>
          struct(lit(b).as("band"), keyOf(b).as("key"))): _*)).as("bk"))
      .select(col("vec_id"), col("label"), col("embedding"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** The verified near-dup pair relation from a bucketed lineage —
    * the build-time body shared by the pair table and (historically)
    * the live v06 plan.
    *
    * Cap enforcement + prune: both joins SHUFFLED on the (band, key)
    * bucket key — neither side is ever broadcast, so the corpus can be
    * arbitrarily large; each reducer sees one bucket's members and the
    * codegen'd native cosine evaluates per pair with no explode. The
    * 1e-9 epsilon guard dwarfs the double-vs-DECIMAL accumulation gap
    * (~1e-15), so no true near-dup can be pruned; false survivors die
    * in the exact stage below. A pair sharing several band buckets is
    * collapsed once by the keyed dropDuplicates AFTER the cosine cut,
    * so the dedup exchange only carries survivors. Verify stage:
    * DECIMAL-exact cosine on the handful of survivors only — the same
    * element values (float → double → decimal(38,18)) the oracle
    * accumulates, so the >0.4 cut is bit-identical. */
  private def nearDupPairs(bucketed: DataFrame, sizes: DataFrame): DataFrame =
    exactVerify(dedupCands(nearDupCandExpansion(bucketed, sizes)))

  /** The candidate expansion KEEPING its bucket key — the build
    * persists (band, key, keep_id, dup_id) as `pairbk/` so the
    * incremental recheck ("does this prior pair still share an
    * under-cap bucket?") is a pair-sized anti-join against the audit
    * census instead of a corpus-sized membership re-derivation. */
  private def nearDupCandExpansion(bucketed: DataFrame,
      sizes: DataFrame): DataFrame = {
    val ok = bucketed.join(
      sizes.filter(col("n_members") <= MaxNearDupBucket).hint("shuffle_hash"),
      Seq("band", "key"))
    ok
      .join(ok.select(col("band"), col("key"), col("vec_id").as("dup_id"),
        col("label").as("label_b"), col("embedding").as("eb"))
        .hint("shuffle_hash"), Seq("band", "key"))
      .filter(col("vec_id") < col("dup_id"))
      .filter(expr("graft_cosine(embedding, eb)") > 0.4 - 1e-9)
      .select(col("band"), col("key"), col("vec_id").as("keep_id"),
        col("dup_id"), (col("label") === col("label_b")).as("same_label"),
        col("embedding").as("ea"), col("eb"))
  }

  /** A pair sharing several band buckets collapses once before the
    * exact verify, so the dedup exchange only carries survivors. */
  private def dedupCands(exp: DataFrame): DataFrame =
    exp.dropDuplicates("keep_id", "dup_id")
      .select("keep_id", "dup_id", "same_label", "ea", "eb")

  /** DECIMAL-exact verify stage over candidate pairs carrying
    * (keep_id, dup_id, same_label, ea, eb) — shared by the full build
    * and the incremental updater. */
  private def exactVerify(cands: DataFrame): DataFrame =
    cands
      .select(col("keep_id"), col("dup_id"), col("same_label"),
        explode(arrays_zip(col("ea"), col("eb"))).as("z"))
      .select(col("keep_id"), col("dup_id"), col("same_label"),
        col("z.ea").cast("double").as("va"), col("z.eb").cast("double").as("vb"))
      .groupBy("keep_id", "dup_id", "same_label")
      .agg(
        xsumHi(col("va") * col("vb")).as("dot"),
        xsumHi(col("va") * col("va")).as("na"),
        xsumHi(col("vb") * col("vb")).as("nb"))
      .select(col("keep_id"), col("dup_id"),
        (col("dot") / (sqrt(col("na")) * sqrt(col("nb")))).as("cosine"),
        col("same_label"))
      .filter(col("cosine") > 0.4)
      .select(col("keep_id"), col("dup_id"), r6(col("cosine")).as("cosine"),
        col("same_label"))

  /** Build-time near-dup manifest, materialized ONCE per corpus version
    * as the warehouse artifact `neardup@…` holding two tables:
    * `pairs/` — the verified pair list (keep_id, dup_id, cosine,
    * same_label) — and `audit/` — every band bucket the
    * [[MaxNearDupBucket]] cap dropped from candidate generation. The
    * three consumers (v06 pairs, v12 audit, v14 survivor anti-join)
    * each re-derived the whole bucket+verify lineage per query — and
    * re-ran the emb.count() geometry probe — before this; now one build
    * writes the manifest a dedup pipeline ships anyway, and the serve
    * paths are artifact scans. */
  private val nearDupCache = new BuildCache[String]

  private[graft] def nearDupIndex(s: SparkSession, d: String): String =
    nearDupCache.get(embKey(d)) {
      Warehouse.getOrBuild("neardup", d, "embeddings.parquet") { tmp =>
        def tt[A](name: String)(f: => A): A = Prof.tt("neardup")(name)(f)
        val emb = Par.widen(Tables.embeddings(s, d))
        // the one corpus count (bandBits geometry sizing) runs at build
        // time, not per query — and shares the per-version count memo
        // with the ivf/kmeans builds
        val n = corpusCount(s, d)
        val bits = bandBits(n)
        // pin the banded projection once: the 4-band hyperplane hashing
        // over the packed embedding arrays is the expensive per-vector
        // work, and THREE consumers read it (the size census plus both
        // sides of the candidate self-join) — unpinned, each re-runs
        // the banding over the corpus
        val (bucketed, bPin) = tt("pin-buckets")(
          Checkpoints.pin(nearDupBuckets(emb, bits)))
        try {
        writeNearDupMeta(s, tmp.toString, n, bits)
        // the FULL size census persists (`sizes/`): the NEXT append
        // merges batch-key counts into it instead of re-bucketing the
        // grown corpus — what makes incremental maintenance O(batch)
        tt("sizes")(Warehouse.writeParquet(
          bucketed.groupBy("band", "key").agg(count(lit(1)).as("n_members")),
          s"$tmp/sizes"))
        // the bucket MEMBERSHIP persists too (`members/`, vectors
        // co-located with their band keys — the inverted-file layout),
        // range-sorted on (band, key) so every part file carries tight
        // key min/max: the append's member fetch becomes a row-group-
        // pruned artifact scan over the batch-hit buckets instead of
        // re-bucketing the grown corpus (the last O(corpus) append
        // term — pin-members was 3.3 s of the 7.2 s append at the 100×
        // probe and the only step that grew 1×→100×). Storage is
        // NearDupBands× the embedding table — the standard
        // posting-list-with-payload trade (freq's `post/` for tokens,
        // IVF's `cells/` for centroids).
        tt("members")(Warehouse.writeParquet(
          bucketed.repartitionByRange(col("band"), col("key"))
            .sortWithinPartitions("band", "key"),
          s"$tmp/members"))
        val sizes = Io.parquet(s, s"$tmp/sizes")
        tt("audit")(Warehouse.writeParquet(
          sizes.filter(col("n_members") > MaxNearDupBucket)
            .select("band", "key", "n_members"),
          s"$tmp/audit"))
        val (exp, ePin) = tt("pin-exp")(
          Checkpoints.pin(nearDupCandExpansion(bucketed, sizes)))
        try {
          tt("pairs")(
            Warehouse.writeParquet(exactVerify(dedupCands(exp)), s"$tmp/pairs"))
          // pairbk records every under-cap bucket each VERIFIED pair
          // shares (buckets only die, never revive, so the mine-time
          // list covers all future survival witnesses)
          tt("pairbk")(Warehouse.writeParquet(
            exp.select("band", "key", "keep_id", "dup_id")
              .join(Io.parquet(s, s"$tmp/pairs").select("keep_id", "dup_id"),
                Seq("keep_id", "dup_id"), "left_semi"),
            s"$tmp/pairbk"))
        } finally Checkpoints.release(ePin)
        } finally Checkpoints.release(bPin)
      }
    }

  /** `meta/` table of the near-dup artifact: the corpus size and band
    * bit-width the manifest was built with — what the incremental
    * updater reads to detect a geometry change. */
  private def writeNearDupMeta(s: SparkSession, dir: String,
      n: Long, bits: Int): Unit = {
    import s.implicits._
    Warehouse.writeParquet(
      Seq((n, bits)).toDF("n_vectors", "bits"), s"$dir/meta")
  }

  /** INCREMENTAL near-dup maintenance — the embedding analog of
    * TextOps.appendToSigIndex for an append-only corpus. A full rebuild
    * re-joins the WHOLE corpus against itself inside every bucket; the
    * updater instead:
    *
    *  1. buckets the BATCH only (a per-vector function), merges its
    *     key counts into the persisted size census, and fetches the
    *     members of batch-hit under-cap buckets from the key-sorted
    *     `members/` table by row-group-pruned scan — every step is
    *     O(batch-hit buckets), no corpus scan anywhere;
    *  2. generates candidates only for pairs INVOLVING an appended
    *     vector (batch-side × fetched-members bucket join instead of
    *     corpus × corpus) and exact-verifies them;
    *  3. rechecks the PRIOR pair list against the new bucket sizes —
    *     appends only grow buckets, so an old pair dies exactly when
    *     every bucket it shared crossed [[MaxNearDupBucket]]; the
    *     recheck is a pair-list-sized join, and verified cosines carry
    *     over unchanged.
    *
    * The result is row-identical to a full rebuild at the new corpus
    * version (spec-asserted). Falls back to the full build when no
    * prior artifact exists or the corpus growth changed [[bandBits]]
    * (different bucket keys — nothing to carry over). `appended` must
    * be exactly the vectors added since the prior version. */
  /** Datasets whose persisted n_vectors has been reconciled against
    * the real corpus this session — the accumulated-count drift guard
    * runs once per (JVM, dataset), not per micro-batch. */
  private val nearDupReconciled =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def appendToNearDup(s: SparkSession, d: String, appended: DataFrame): Unit =
    Warehouse.maintain("neardup", d)(buildNearDup(s, d)) { prior =>
      val m = Io.parquet(s, s"$prior/meta").select("n_vectors", "bits").head()
      // corpus size = prior meta + batch size: the artifact already
      // persists n_vectors, so the append path runs a batch-sized
      // count, never a corpus-wide one. The accumulation contract
      // (every batch applied exactly once) is reconciled against the
      // REAL corpus row count the first time this session adopts the
      // meta — a parquet-footer metadata read, no data scan — and a
      // mismatch (missed/overlapping batch, restored backup) routes
      // to the full rebuild before the geometry can silently drift.
      val n = m.getLong(0) + Prof.tt("neardup+")("batch-count")(appended.count())
      if (nearDupReconciled.add(d) &&
          Prof.tt("neardup+")("reconcile")(Tables.embeddings(s, d).count()) != n)
        throw Warehouse.Rebuild("reconcile")
      // a grown corpus can change the band geometry: different bucket
      // keys, nothing to carry over
      val bits = bandBits(n)
      if (m.getInt(1) != bits) throw Warehouse.Rebuild("band-bits")
      appendToNearDupIncremental(s, d, appended, n, bits, prior)
    }

  private def appendToNearDupIncremental(s: SparkSession, d: String,
      appended: DataFrame, n: Long, bits: Int,
      prior: String): Unit = {
    def tt[A](name: String)(f: => A): A = Prof.tt("neardup+")(name)(f)
    Warehouse.getOrBuild("neardup", d, "embeddings.parquet") { tmp =>
      // Batch-side bucketing is a pure per-vector function — O(batch),
      // no corpus scan. The census then MERGES the batch's bucket
      // counts into the persisted `sizes/` table (a result-sized
      // columnar pass) instead of re-bucketing the grown corpus per
      // append — at streaming cadence that re-derivation was the one
      // remaining O(corpus) term in the chain.
      val batchBuckets = nearDupBuckets(appended, bits)
      val bc = batchBuckets.groupBy("band", "key").agg(count(lit(1)).as("b_n"))
      writeNearDupMeta(s, tmp.toString, n, bits)
      // census merge without a bucket-keyed exchange (the TextOps
      // pattern): broadcast-left-join the batch counts over the
      // persisted census, union the brand-new buckets (batch keys
      // minus the batch-key-sized matched set)
      val priorSizes = Io.parquet(s, s"$prior/sizes")
      val grown = priorSizes.join(broadcast(bc), Seq("band", "key"), "left")
        .select(col("band"), col("key"),
          (col("n_members") + coalesce(col("b_n"), lit(0L))).as("n_members"))
      val matched = priorSizes
        .join(broadcast(bc.select("band", "key")), Seq("band", "key"), "left_semi")
        .select("band", "key")
      val freshBuckets = bc.join(matched, Seq("band", "key"), "left_anti")
        .select(col("band"), col("key"), col("b_n").as("n_members"))
      tt("sizes")(Warehouse.writeParquet(
        grown.unionByName(freshBuckets), s"$tmp/sizes"))
      val sizes = Io.parquet(s, s"$tmp/sizes")
      tt("audit")(Warehouse.writeParquet(
        sizes.filter(col("n_members") > MaxNearDupBucket)
          .select("band", "key", "n_members"),
        s"$tmp/audit"))
      val audit = Io.parquet(s, s"$tmp/audit").select("band", "key")
      // Mining: a new pair always involves an appended vector, and
      // every bucket containing one is batch-hit — the corpus side
      // needs the members of batch-hit under-cap buckets ONLY. The key
      // set is batch-derived (≤ 4 keys per appended vector, a
      // micro-batch bound, never corpus-scaled), so broadcasting it
      // keeps the corpus bucket projection a map-side-pruned scan with
      // no corpus-wide exchange.
      val hitKeys = sizes.join(broadcast(bc.select("band", "key")),
          Seq("band", "key"))
        .filter(col("n_members") <= MaxNearDupBucket)
        .select("band", "key")
      // Member fetch is O(batch-hit buckets), not O(corpus): the
      // persisted `members/` table is key-sorted, so the literal isin
      // over the batch's key set (≤ NearDupBands keys per appended
      // vector — micro-batch-bounded) prunes at the parquet row-group
      // level before the exact (band, key) semi-join; the batch's own
      // members union in from the per-vector banding. A pre-members
      // artifact vintage throws on the read and the caller's fallback
      // runs the full (idempotent) rebuild once, minting the table.
      // collected size guard (the micro-batch contract is not a bound):
      // the limit caps the driver pull AND the isin literal the scan
      // prunes on; an over-budget batch (a bulk backfill routed through
      // the append path) declines to the idempotent full rebuild —
      // which such a batch deserves
      val batchKeys = bc.select("key").distinct()
        .limit(MaxBatchKeys + 1).collect().map(_.getString(0))
      if (batchKeys.length > MaxBatchKeys) throw Warehouse.Rebuild("batch-keys")
      val priorMembers = Io.parquet(s, s"$prior/members")
      val (members, mPin) = tt("pin-members")(Checkpoints.pin(
        priorMembers.filter(col("key").isin(batchKeys.toSeq: _*))
          .join(broadcast(hitKeys), Seq("band", "key"), "left_semi")
          .unionByName(batchBuckets
            .join(broadcast(hitKeys), Seq("band", "key"), "left_semi")
            .select(priorMembers.columns.map(col).toSeq: _*))))
      try {
        // members/ itself carries by hard link + one batch-sized file
        // per append; the file-count budget compacts in place (same
        // contract as textdup's pairs/verify tables)
        tt("members") {
          Warehouse.copyData(s"$prior/members", tmp.resolve("members"))
          batchBuckets.select(priorMembers.columns.map(col).toSeq: _*)
            .write.mode("append").parquet(s"$tmp/members")
          Warehouse.compactIfNeeded(s, tmp.resolve("members"),
            Seq("band", "key"))
          ()
        }
        // candidates involving >= 1 appended member, canonical
        // lower-id-first; both-new pairs arrive twice and collapse in
        // the keyed dropDuplicates
        val newIds = appended.select(col("vec_id")).distinct()
        val exp = members.join(newIds, Seq("vec_id"), "left_semi")
          .join(members.select(col("band"), col("key"), col("vec_id").as("vb"),
            col("label").as("label_b"), col("embedding").as("embb")),
            Seq("band", "key"))
          .filter(col("vec_id") =!= col("vb"))
          .filter(expr("graft_cosine(embedding, embb)") > 0.4 - 1e-9)
          .select(col("band"), col("key"),
            when(col("vec_id") < col("vb"), col("vec_id")).otherwise(col("vb"))
              .as("keep_id"),
            when(col("vec_id") < col("vb"), col("vb")).otherwise(col("vec_id"))
              .as("dup_id"),
            (col("label") === col("label_b")).as("same_label"),
            when(col("vec_id") < col("vb"), col("embedding")).otherwise(col("embb"))
              .as("ea"),
            when(col("vec_id") < col("vb"), col("embb")).otherwise(col("embedding"))
              .as("eb"))
        val newPairs = exactVerify(dedupCands(exp))
        // prior pairs survive iff SOME recorded shared bucket is still
        // under cap (appends only grow buckets, so the mine-time
        // `pairbk/` list covers every possible survival witness);
        // pair-table-sized, no corpus membership re-derivation
        val priorPairs = Io.parquet(s, s"$prior/pairs")
        val priorPairbk = Io.parquet(s, s"$prior/pairbk")
        val aliveBk = priorPairbk.join(audit, Seq("band", "key"), "left_anti")
        val surviving = priorPairs.join(
          aliveBk.select("keep_id", "dup_id").dropDuplicates("keep_id", "dup_id"),
          Seq("keep_id", "dup_id"), "left_semi")
        tt("pairs")(Warehouse.writeParquet(
          surviving.unionByName(newPairs), s"$tmp/pairs"))
        val pairs = Io.parquet(s, s"$tmp/pairs")
        tt("pairbk")(Warehouse.writeParquet(
          priorPairbk.join(pairs.select("keep_id", "dup_id"),
              Seq("keep_id", "dup_id"), "left_semi")
            .unionByName(exp.select("band", "key", "keep_id", "dup_id")
              .join(pairs.select("keep_id", "dup_id"),
                Seq("keep_id", "dup_id"), "left_semi")
              .dropDuplicates("band", "key", "keep_id", "dup_id")),
          s"$tmp/pairbk"))
      } finally Checkpoints.release(mPin)
    }
    ()
  }

  /** The LIVE pair lineage the build materializes — exposed so the
    * plan lock (PlanShapeSpec) keeps asserting the scale contract on
    * the BUILD plan now that v06 itself serves from the artifact. */
  private[graft] def nearDupPairsPlan(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val bucketed = nearDupBuckets(emb, bandBits(emb.count()))
    val sizes = bucketed.groupBy("band", "key")
      .agg(count(lit(1)).as("n_members"))
    nearDupPairs(bucketed, sizes)
  }

  /** Explicit build step for the near-dup manifest; queries build
    * lazily on first use, [[graft.Bench]]'s warm-up runs it up front so
    * v06/v12/v14 timings measure serving. */
  def buildNearDup(s: SparkSession, d: String): Unit = {
    nearDupIndex(s, d)
    ()
  }

  /** Test hook: drop the per-dataset near-dup manifest cache. */
  private[graft] def clearNearDupCache(): Unit = {
    nearDupCache.clear()
    countCache.clear()
  }

  /** Embedding-cosine near-duplicate pairs over the WHOLE corpus:
    * banded sign-LSH ([[nearDupBuckets]]) prunes to same-band-bucket
    * pairs before any arithmetic, then the DECIMAL-exact cosine keeps
    * pairs above the near-dup threshold, keyed keeper-first (lower
    * vec_id). This is the dedup-mining shape (emit the pair list for a
    * downstream keep/drop pass) where v02/v05 are the query-time ANN
    * shapes. Scale posture: bucket count grows with the corpus
    * ([[bandBits]]), so expected per-bucket pair fan-out is constant —
    * not n²/16 — and the [[MaxNearDupBucket]] cap bounds the worst
    * (skewed) bucket, with drops declared via the v12 audit. Serves
    * from the materialized [[nearDupIndex]] pair table; parquet
    * round-trips (long, long, double, boolean) exactly, so the hash is
    * identical to the live lineage. */
  val embedNearDup: Q = (s, d) =>
    Io.parquet(s, s"${nearDupIndex(s, d)}/pairs")
      .orderBy("keep_id", "dup_id")

  /** Oracle CTEs shared by v06 and the v12 audit: the banded sign-key
    * relation `bk` (vec_id, band, key), built from the same integer
    * bit-length geometry as [[bandBits]]/[[nearDupBuckets]]. */
  private val nearDupBucketsSql: String =
    s"""params AS (
       |  SELECT CAST(greatest(4, length(bin(greatest(1,
       |    (count(*) + 63) // 64 - 1)))) AS INT) AS bits
       |  FROM embeddings
       |), f0 AS (
       |$flatSql
       |), pos AS (
       |  SELECT CAST(b.band AS INT) AS band, j.j,
       |    CAST(((b.band * 16 + j.j * 3) % 64) + 1 AS INT) AS coord
       |  FROM (SELECT unnest(generate_series(0, 3)) AS band) b
       |  CROSS JOIN params
       |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, params.bits - 1)) AS j) j
       |), bk AS (
       |  SELECT f0.vec_id, pos.band,
       |    string_agg(CASE WHEN f0.v > 0 THEN '1' ELSE '0' END, ''
       |      ORDER BY pos.j) AS key
       |  FROM f0 JOIN pos ON f0.i = pos.coord
       |  GROUP BY f0.vec_id, pos.band
       |)""".stripMargin

  val embedNearDupSql: String =
    s"""WITH $nearDupBucketsSql
       |, sizes AS (
       |  SELECT band, key, count(*) AS n_members FROM bk GROUP BY band, key
       |), okb AS (
       |  SELECT bk.vec_id, bk.band, bk.key FROM bk
       |  JOIN sizes USING (band, key) WHERE sizes.n_members <= 4096
       |), pairs AS (
       |  SELECT DISTINCT a.vec_id AS keep_id, c.vec_id AS dup_id
       |  FROM okb a JOIN okb c
       |    ON a.band = c.band AND a.key = c.key AND a.vec_id < c.vec_id
       |), n AS (SELECT vec_id, sqrt(${xsumHiSql("v * v")}) AS nrm FROM f0 AS f GROUP BY vec_id
       |), dots AS (
       |  SELECT p.keep_id, p.dup_id, ${xsumHiSql("a.v * c.v")} AS dot
       |  FROM pairs p
       |  JOIN f0 a ON a.vec_id = p.keep_id
       |  JOIN f0 c ON c.vec_id = p.dup_id AND c.i = a.i
       |  GROUP BY p.keep_id, p.dup_id
       |), cos AS (
       |  SELECT dots.keep_id, dots.dup_id,
       |    dots.dot / (na.nrm * nb.nrm) AS cosine
       |  FROM dots JOIN n na ON dots.keep_id = na.vec_id
       |            JOIN n nb ON dots.dup_id = nb.vec_id
       |)
       |SELECT keep_id, dup_id, 0.0 + round(cosine, 6) AS cosine,
       |  la.label = lb.label AS same_label
       |FROM cos
       |JOIN embeddings la ON cos.keep_id = la.vec_id
       |JOIN embeddings lb ON cos.dup_id = lb.vec_id
       |WHERE cosine > 0.4
       |ORDER BY keep_id, dup_id""".stripMargin

  // ---------------------------------------------------------------- v14
  /** The deduped embedding set itself — v06 emits the near-dup PAIR
    * list; this materializes what a pipeline ships downstream (the t09
    * keep-first analog for embeddings): every vector that is not the
    * higher-id member of some near-dup pair survives. The rule is the
    * greedy lower-id-wins cut over the pair graph (NOT transitive
    * closure — 1~2, 2~3 drops both 2 and 3), spelled identically in
    * both engines. One distinct + one anti-join past v06's lineage;
    * the anti-join keys on vec_id, so nothing corpus-derived
    * broadcasts beyond v06's own model-sized exchanges. Serves from
    * the materialized [[nearDupIndex]] pair table: one distinct + one
    * anti-join past an artifact SCAN, no lineage re-derivation. */
  val embedKeep: Q = (s, d) => {
    val drops = Io.parquet(s, s"${nearDupIndex(s, d)}/pairs")
      .select(col("dup_id").as("vec_id")).distinct()
    Tables.embeddings(s, d).select("vec_id", "label")
      .join(drops, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  val embedKeepSql: String =
    s"""WITH nd AS (
       |$embedNearDupSql
       |)
       |SELECT e.vec_id, e.label FROM embeddings e
       |WHERE e.vec_id NOT IN (SELECT dup_id FROM nd)
       |ORDER BY e.vec_id""".stripMargin

  // ---------------------------------------------------------------- v12
  /** Audit companion of v06 (the t12 contract for the embedding side):
    * every near-dup band bucket whose membership exceeds
    * [[MaxNearDupBucket]] — i.e. every bucket v06 silently dropped from
    * candidate generation. Non-empty output at scale is the signal to
    * widen [[bandBits]] or route the hot bucket through a dedicated
    * pass; empty output proves the cap changed nothing. Serves from
    * the materialized [[nearDupIndex]] audit table (schema-bearing
    * even when empty — Warehouse.writeParquet). */
  val embedBucketAudit: Q = (s, d) =>
    Io.parquet(s, s"${nearDupIndex(s, d)}/audit")
      .orderBy("band", "key")

  val embedBucketAuditSql: String =
    s"""WITH $nearDupBucketsSql
       |SELECT band, key, count(*) AS n_members
       |FROM bk GROUP BY band, key
       |HAVING count(*) > 4096
       |ORDER BY band, key""".stripMargin

  // ---------------------------------------------------------------- v16
  /** ADC results per query. */
  val AdcTopK = 3

  /** SQ8 asymmetric-distance (ADC) top-k serve — the memory-bound ANN
    * path a 100 TB serving tier actually runs: every vector unit-
    * normalizes and int8-quantizes at the FIXED scale 127 (unit coords
    * live in [-1,1], so no per-vector scale enters the score), and the
    * scan ranks candidates by the pure-INTEGER code dot product
    * (≈ cosine·127²) — a 4× smaller corpus resident set than float32
    * and exact cross-engine ranking (no float enters the ORDER BY; ties
    * break by cid). The exact DECIMAL cosine of each surviving pair is
    * annotated by the v01 rerank machinery, so the output shows both
    * what the compressed scan chose and what those choices truly score.
    * Complements v10: that measures IVF pruning recall, this exercises
    * the compressed-code scoring kernel itself.
    *
    * Determinism: the code formula round(v·127/nrm) is v11's (one fixed
    * IEEE-double expression, half-up ties in both engines) with the
    * norm DECIMAL-accumulated like every norm in this family; from the
    * codes on, everything is integer until the exact rerank. Zero
    * vectors are excluded identically on both sides (nrm > 0).
    *
    * Scale posture (r16): the quantize step is ONE native in-row pass —
    * [[graft.functions.Sq8Code]] computes the exact DECIMAL norm and the
    * codes in a single loop per row, so the corpus never flattens,
    * aggregates or joins for its norms. The r15 history that led here:
    * the SQL-HOF in-row norm was measured 2.6× WORSE than the flatten
    * (13.5 vs 5.1 s at the 100× corpus — interpreted per-element decimal
    * lambdas lose to a codegen'd explode), which is a statement about
    * CodegenFallback HOFs, not about in-row evaluation; the native
    * expression removes the interpretation overhead AND the flatten's
    * two corpus-sized exchanges (guide §2.4/§4). Equivalence to both
    * prior spellings is locked by Sq8Spec and the oracle hashes. The
    * 20-query code set broadcasts, the candidate scoring loop is the
    * codegen'd [[graft.functions.AdcDot]] (was an interpreted
    * zip_with/aggregate lambda per pair), the integer top-k caps locally
    * (WindowGroupLimit) before the one qid exchange, and only the
    * ≤ k·queries survivor pairs explode for the DECIMAL rerank.
    * inv_v16 re-derives the codes through the HOF spelling, so two
    * bit-identical lineages still check each other at scale. */
  /** SQ8 codes at the fixed scale 127 over ANY (vec_id, embedding, …)
    * relation — the codegen'd in-row spelling ([[graft.functions.Sq8Code]]):
    * one native loop per row computes the exact DECIMAL norm and the
    * codes, returning NULL for the zero-norm/no-element rows the
    * nrm > 0 gate excluded, so the quantize step is a pure projection.
    * Replaces the r15 flatten → DECIMAL norm → join-back plan (and its
    * two corpus-sized exchanges); bit-identical by the ExactDot decimal
    * contract — see Sq8Code's scaladoc, the Sq8Spec equivalence lock,
    * and OPTIMIZATION_r16.md §v16. Extra columns carry through —
    * [[simIvfAdcK]] feeds the cell-pruned inverted file through this,
    * so even the projection touches probed rows only. */
  private def sq8Codes(emb: DataFrame): DataFrame =
    emb.withColumn("code", org.apache.spark.sql.GraftPlanBridge.exprColumn(
        graft.functions.Sq8Code(
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("embedding"),
          pinned = true)))
      .filter(col("code").isNotNull)

  /** The pure-integer ADC dot of two SQ8 code arrays (≈ cosine·127²) —
    * the codegen'd [[graft.functions.AdcDot]] multiply-accumulate; runs
    * queries × candidates times, the hottest loop of the ADC serve. */
  private val AdcDotExpr = "graft_adc_dot(code, qcode)"

  val adcTopk: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val emb = Par.widen(Tables.embeddings(s, d))
    val codes = sq8Codes(emb).select("vec_id", "embedding", "code")
    // the query side quantizes a PRE-filtered scan: the pinned Sq8Code
    // blocks predicate pushdown through its projection (by design — see
    // its scaladoc), so the vec_id < 20 prune must sit below it
    val q = sq8Codes(Tables.embeddings(s, d).filter(col("vec_id") < 20))
      .select(col("vec_id").as("qid"), col("embedding").as("ea"),
        col("code").as("qcode"))
    val w = Window.partitionBy("qid").orderBy(col("adc_dot").desc, col("cid").asc)
    val top = codes
      .select(col("vec_id").as("cid"), col("embedding").as("eb"), col("code"))
      .crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("adc_dot", expr(AdcDotExpr))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= AdcTopK)
    exactCosine(top.select("qid", "rk", "cid", "adc_dot", "ea", "eb"),
        Seq("qid", "rk", "cid", "adc_dot"))
      .select(col("qid"), col("rk"), col("cid"), col("adc_dot"),
        r6(col("cosine")).as("cosine"))
      .orderBy("qid", "rk")
  }

  val adcTopkSql: String =
    s"""WITH ${cosinesSql(20)},
       |c AS (
       |  SELECT f.vec_id, f.i,
       |    CAST(round(f.v * 127.0 / n.nrm) AS BIGINT) AS q
       |  FROM f JOIN n ON f.vec_id = n.vec_id WHERE n.nrm > 0
       |), qc AS (
       |  SELECT vec_id AS qid, i, q AS qq FROM c WHERE vec_id < 20
       |), adc AS (
       |  SELECT qc.qid, c.vec_id AS cid, CAST(sum(qc.qq * c.q) AS BIGINT) AS adc_dot
       |  FROM c JOIN qc ON c.i = qc.i AND c.vec_id <> qc.qid
       |  GROUP BY qc.qid, c.vec_id
       |), top AS (
       |  SELECT qid, cid, adc_dot,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc_dot DESC, cid ASC) AS rk
       |  FROM adc
       |)
       |SELECT t.qid, CAST(t.rk AS INT) AS rk, t.cid, t.adc_dot,
       |  0.0 + round(cos.cosine, 6) AS cosine
       |FROM top t JOIN cos ON cos.qid = t.qid AND cos.cid = t.cid
       |WHERE t.rk <= $AdcTopK
       |ORDER BY t.qid, t.rk""".stripMargin

  // ---------------------------------------------------------------- v17
  /** Probe width of the IVF-ADC serve: ⌈k/4⌉ cells of the k-cell
    * quantizer — the same ~¼ probed-corpus fraction as v07's 2-of-8
    * default geometry, so inv_v17's recall bar (≥ v07's recall@3
    * against the exact ranking) compares equal candidate work. */
  private[graft] def adcNprobe(k: Int): Int = math.max(1, (k + 3) / 4)

  /** [[simIvfAdc]] at an explicit quantizer size — SimSpec exercises a
    * non-default k to prove the composition is k-generic. */
  private[graft] def simIvfAdcK(s: SparkSession, d: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val inv = ivfIndexK(s, d, k)
    val ranked = rankedCells(s, d, k).filter(_._3 <= adcNprobe(k))
      .map(r => (r._1, r._2))
    val qcodes = sq8Codes(Tables.embeddings(s, d).filter(col("vec_id") < 20))
    val qprobe = ranked.toDF("qid", "cell")
      .join(qcodes.select(col("vec_id").as("qid"),
        col("embedding").as("ea"), col("code").as("qcode")), "qid")
    val probed = inv.filter(col("cell").isin(ranked.map(_._2).distinct: _*))
    val w = Window.partitionBy("qid").orderBy(col("adc_dot").desc, col("cid").asc)
    val top = sq8Codes(probed)
      .select(col("vec_id").as("cid"), col("cell"),
        col("embedding").as("eb"), col("code"))
      .join(broadcast(qprobe), Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .withColumn("adc_dot", expr(AdcDotExpr))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= AdcTopK)
    exactCosine(top.select("qid", "rk", "cid", "adc_dot", "ea", "eb"),
        Seq("qid", "rk", "cid", "adc_dot"))
      .select(col("qid"), col("rk"), col("cid"), col("adc_dot"),
        r6(col("cosine")).as("cosine"))
      .orderBy("qid", "rk")
  }

  /** IVF-ADC — the composed ANN serving tier (the faiss IVF-PQ posture
    * SURVEY §2.11 cites): v15's auto-geometry quantizer picks each
    * query's [[adcNprobe]] probe cells, v16's SQ8 codes rank the
    * candidates INSIDE those cells by the pure-integer ADC dot (no
    * float in the ORDER BY; ties by cid), and the DECIMAL-exact rerank
    * annotates the survivors. v15 proves the pruning tier and v16 the
    * scoring kernel; this declares their composition — what a real
    * 100 TB vector store actually serves.
    *
    * Scale posture: the probed-cell set reaches the inverted-file read
    * as a LITERAL partition filter (the v05 lesson — runtime DPP
    * dropped to a full index scan; PlanShapeSpec pins the scan), and
    * since r16 the SQ8 quantize is the in-row [[graft.functions.Sq8Code]]
    * projection (no norm flatten, so the artifact is scanned ONCE), so
    * the serve touches probed cells only: at k ≈ √n, nprobe = ⌈k/4⌉,
    * per-query work is ~n/4 codegen'd integer code dots
    * ([[graft.functions.AdcDot]]) over a 4× smaller resident set than
    * float32, shrinking as the quantizer regrows. Query codes
    * broadcast; the integer top-k caps locally (WindowGroupLimit)
    * before the one qid exchange; only ≤ k·queries survivor pairs
    * explode for the DECIMAL rerank. */
  val simIvfAdc: Q = (s, d) => simIvfAdcK(s, d, autoK(corpusCount(s, d)))

  val simIvfAdcSql: String = {
    val nprobeSql = "greatest(1, ((SELECT k FROM kk) + 3) // 4)"
    s"""WITH kk AS (SELECT $AutoKSql AS k FROM embeddings), f AS (
       |$flatSql
       |), n AS (
       |$normsSql
       |), ${kmeansCtes(KmeansIters,
            seedHiSql = Some(s"$KmeansSeedLo - 1 + (SELECT k FROM kk)"))},
       |$assignRankPrunedCtes, assign AS (
       |  SELECT vec_id, cell FROM acr WHERE arn = 1
       |), qcells AS (
       |  SELECT vec_id AS qid, cell FROM qacr
       |  WHERE vec_id < 20 AND arn <= $nprobeSql
       |), c AS (
       |  SELECT f.vec_id, f.i,
       |    CAST(round(f.v * 127.0 / n.nrm) AS BIGINT) AS q
       |  FROM f JOIN n ON f.vec_id = n.vec_id WHERE n.nrm > 0
       |), ccell AS (
       |  SELECT c.vec_id, assign.cell, c.i, c.q
       |  FROM c JOIN assign ON c.vec_id = assign.vec_id
       |), qcode AS (
       |  SELECT qc.qid, qc.cell, c.i, c.q AS qv
       |  FROM qcells qc JOIN c ON c.vec_id = qc.qid
       |), adc AS (
       |  SELECT qcode.qid, ccell.vec_id AS cid,
       |    CAST(sum(qcode.qv * ccell.q) AS BIGINT) AS adc_dot
       |  FROM ccell JOIN qcode ON ccell.cell = qcode.cell
       |    AND ccell.i = qcode.i AND ccell.vec_id <> qcode.qid
       |  GROUP BY qcode.qid, ccell.vec_id
       |), topa AS (
       |  SELECT qid, cid, adc_dot,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY adc_dot DESC, cid ASC) AS rk
       |  FROM adc
       |), sdots AS (
       |  SELECT t.qid, t.cid, ${xsumHiSql("fa.v * fb.v")} AS dot
       |  FROM topa t JOIN f fa ON fa.vec_id = t.qid
       |              JOIN f fb ON fb.vec_id = t.cid AND fb.i = fa.i
       |  WHERE t.rk <= $AdcTopK
       |  GROUP BY t.qid, t.cid
       |)
       |SELECT t.qid, CAST(t.rk AS INT) AS rk, t.cid, t.adc_dot,
       |  0.0 + round(s.dot / (na.nrm * nb.nrm), 6) AS cosine
       |FROM topa t JOIN sdots s ON s.qid = t.qid AND s.cid = t.cid
       |JOIN n na ON t.qid = na.vec_id
       |JOIN n nb ON t.cid = nb.vec_id
       |WHERE t.rk <= $AdcTopK
       |ORDER BY t.qid, t.rk""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "v17_ivf_adc" -> simIvfAdc,
    "v16_adc_topk" -> adcTopk,
    "v06_embed_neardup" -> embedNearDup,
    "v01_sim_topk" -> simTopk,
    "v02_sim_lsh" -> simLsh,
    "v03_label_sim_stats" -> labelSimStats,
    "v04_sim_topk_native" -> simTopkNativeExact,
    "v05_sim_ivf" -> simIvf,
    "v07_sim_ivf_probe2" -> simIvfProbe2,
    "v08_kmeans_model" -> kmeansModelQ,
    "v09_ivf_index" -> ivfIndexQ,
    "v10_ivf_recall" -> ivfRecall,
    "v11_quantize_error" -> quantizeError,
    "v12_embed_bucket_audit" -> embedBucketAudit,
    "v13_residual_error" -> residualError,
    "v14_embed_keep" -> embedKeep,
    "v15_sim_ivf_auto" -> simIvfAuto)

  val oracle: Map[String, String] = Map(
    "v17_ivf_adc" -> simIvfAdcSql,
    "v16_adc_topk" -> adcTopkSql,
    "v08_kmeans_model" -> kmeansModelSql,
    "v06_embed_neardup" -> embedNearDupSql,
    "v01_sim_topk" -> simTopkSql,
    "v02_sim_lsh" -> simLshSql,
    "v03_label_sim_stats" -> labelSimStatsSql,
    "v04_sim_topk_native" -> simTopkSql,
    "v05_sim_ivf" -> simIvfSql,
    "v07_sim_ivf_probe2" -> simIvfProbe2Sql,
    "v09_ivf_index" -> ivfIndexSql,
    "v10_ivf_recall" -> ivfRecallSql,
    "v11_quantize_error" -> quantizeErrorSql,
    "v12_embed_bucket_audit" -> embedBucketAuditSql,
    "v13_residual_error" -> residualErrorSql,
    "v14_embed_keep" -> embedKeepSql,
    "v15_sim_ivf_auto" -> simIvfAutoSql)
}
