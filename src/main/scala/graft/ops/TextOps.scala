package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Num._
import graft.io.Io

/** Training-data text pipeline operators over `documents` (SURVEY.md §2.11
  * north-star set): exact + near dedup (MinHash/LSH, SimHash, n-gram
  * Jaccard), text statistics / quality scoring, stopword language-ID
  * heuristic, token counting, and rolling document fingerprints.
  *
  * Scale posture: everything is expressed as explode → keyed aggregate →
  * (for LSH) band-bucket self-join, so no stage ever materializes a
  * cross-join. MinHash banding bounds the candidate-pair set (O(n) with
  * data-dependent constant) before the exact-Jaccard verify stage — the
  * standard shape for 100 TB near-dedup. All hashing is md5-based so the
  * DuckDB oracle reproduces signatures bit-for-bit.
  */
object TextOps {

  type Q = (SparkSession, String) => DataFrame

  private val Seeds = 0 until 8
  private val Stop1 = "the"
  private val Stop2 = "a"

  /** Guard on the in-row LSH pair expansion (t06/t08): a band bucket with
    * more members than this is dropped from candidate generation instead
    * of expanding O(|bucket|²) pairs inside one aggregation row with an
    * unbounded collect_list buffer. Band keys are 32-hex MinHash
    * fragments, so natural buckets are near-dup clusters orders of
    * magnitude below the cap; a corpus that trips it (degenerate /
    * adversarial keys) should route through the streaming self-join form
    * instead. Dropped buckets are observable via [[oversizedBandBuckets]]
    * — run it as the audit companion when mining candidates at scale. */
  val MaxBucketMembers = 4096

  /** The 4 × (band, key) structs of a MinHash signature row (2 sigs per
    * band), shared by t06 / t08 banding and the bucket audit. */
  private[graft] def bandStructs =
    array((0 until 4).map(b => struct(lit(b).as("band"),
      concat(col(s"s${2 * b}"), col(s"s${2 * b + 1}")).as("key"))): _*)

  /** Audit relation for [[MaxBucketMembers]]: every band bucket whose
    * member count exceeds the pair-expansion cap, with its size. */
  private[graft] def oversizedBandBuckets(sig: DataFrame,
      cap: Int = MaxBucketMembers): DataFrame =
    sig.select(explode(bandStructs).as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.key").as("key"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > cap)

  /** Word tokens (single-space separated corpus). */
  private[graft] def toks = split(col("text"), " ")

  /** `size(toks)` without materializing the token array: splitting on a
    * single literal space always yields (number of spaces) + 1 parts, so
    * the counting-only paths char-count instead of allocating — and then
    * discarding — every token substring (r16: the packer/census hot
    * paths tokenized whole corpora just to count). Bit-identical to
    * `size(split(text, ' '))` on this engine: NULL text → NULL (Spark 4
    * size-of-null), '' → 1 (one empty part), consecutive/trailing spaces
    * produce empty parts on both spellings (split keeps them at
    * limit -1). Locked by TextAggSpec's count-equivalence test. */
  private[graft] def nToksCheap =
    length(col("text")) - length(expr("replace(text, ' ', '')")) + lit(1)

  // ---------------------------------------------------------------- t01
  /** Per-document text statistics + quality score. */
  val textStats: Q = (s, d) => {
    val doc = Par.widen(Tables.documents(s, d))
    doc.select(
        col("doc_id"), col("lang"), col("n_chars"),
        size(toks).as("n_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("n_alpha_tokens"),
        size(expr(s"filter(split(text, ' '), x -> x = '$Stop1')")).as("n_stop1"),
        size(expr(s"filter(split(text, ' '), x -> x = '$Stop2')")).as("n_stop2"),
        length(col("text")).as("n_chars_obs"),
        r6(length(expr("replace(text, ' ', '')")).cast("double") / size(toks))
          .as("avg_token_len"))
      .withColumn("stopword_ratio",
        r6((col("n_stop1") + col("n_stop2")).cast("double") / col("n_tokens")))
      .orderBy("doc_id")
  }

  val textStatsSql: String =
    s"""SELECT doc_id, lang, n_chars,
       |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS n_alpha_tokens,
       |  CAST(len(list_filter(string_split(text, ' '), x -> x = '$Stop1')) AS INT) AS n_stop1,
       |  CAST(len(list_filter(string_split(text, ' '), x -> x = '$Stop2')) AS INT) AS n_stop2,
       |  CAST(length(text) AS INT) AS n_chars_obs,
       |  0.0 + round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |        / len(string_split(text, ' ')), 6) AS avg_token_len,
       |  0.0 + round(CAST(len(list_filter(string_split(text, ' '), x -> x = '$Stop1'))
       |      + len(list_filter(string_split(text, ' '), x -> x = '$Stop2')) AS DOUBLE)
       |        / len(string_split(text, ' ')), 6) AS stopword_ratio
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t02
  /** Stopword-frequency language-ID heuristic (the reference-free n-gram
    * approach): score English function-word density, predict, compare to
    * the labeled lang. */
  val langId: Q = (s, d) => {
    val doc = Par.widen(Tables.documents(s, d))
    doc.select(
        col("doc_id"), col("lang"),
        r6((size(expr(s"filter(split(text, ' '), x -> x = '$Stop1')"))
          + size(expr(s"filter(split(text, ' '), x -> x = '$Stop2')"))).cast("double")
          / size(toks)).as("en_score"))
      .withColumn("predicted", when(col("en_score") >= 0.04, lit("en")).otherwise(lit("unknown")))
      .withColumn("is_correct", col("predicted") === col("lang"))
      .orderBy("doc_id")
  }

  val langIdSql: String =
    s"""SELECT doc_id, lang, en_score,
       |  CASE WHEN en_score >= 0.04 THEN 'en' ELSE 'unknown' END AS predicted,
       |  (CASE WHEN en_score >= 0.04 THEN 'en' ELSE 'unknown' END) = lang AS is_correct
       |FROM (
       |  SELECT doc_id, lang,
       |    0.0 + round(CAST(len(list_filter(string_split(text, ' '), x -> x = '$Stop1'))
       |        + len(list_filter(string_split(text, ' '), x -> x = '$Stop2')) AS DOUBLE)
       |          / len(string_split(text, ' ')), 6) AS en_score
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t03
  /** BPE-ish token counting: alpha runs, digit runs, and punctuation
    * singletons as separate tokens. */
  val tokenCount: Q = (s, d) => {
    val doc = Par.widen(Tables.documents(s, d))
    doc.select(
        col("doc_id"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("n_bpeish"),
        size(toks).as("n_whitespace"),
        col("n_chars"))
      .orderBy("doc_id")
  }

  val tokenCountSql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_bpeish,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_whitespace,
      |  n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t04
  /** Rolling-hash document fingerprint: min-md5 over character 8-grams
    * (1-permutation MinHash / winnowing-style sketch). */
  val fingerprint: Q = (s, d) => {
    // Whole computation stays inside the row: build the 8-gram array,
    // hash each gram, min-reduce and distinct-count with array HOFs.
    // The equivalent explode + groupBy(min, countDistinct) form shuffles
    // every gram TWICE (count-distinct adds an Expand ×2) — measured
    // 2.2 s vs sub-second for this per-row kernel at sf0.1, and at 100×
    // the explode form's shuffle grows with total text volume while this
    // form shuffles nothing but the final order.
    val doc = Par.widen(Tables.documents(s, d))
    doc.select(col("doc_id"), expr(
        """transform(sequence(1, greatest(length(text) - 7, 1)),
          |  g -> substring(text, g, 8))""".stripMargin).as("grams"))
      .select(col("doc_id"),
        expr("array_min(transform(grams, g -> md5(CAST(g AS BINARY))))").as("fp"),
        expr("size(array_distinct(grams))").cast("long").as("n_shingles"))
      .orderBy("doc_id")
  }

  val fingerprintSql: String =
    """SELECT doc_id, min(md5(sh)) AS fp, count(DISTINCT sh) AS n_shingles
      |FROM (
      |  SELECT doc_id, substring(text, g.g, 8) AS sh
      |  FROM documents,
      |  LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 7, 1))) AS g) g)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t05
  /** Exact dedup summary per source (hash-groupBy on md5(text)). */
  val dedupExact: Q = (s, d) => {
    val doc = Par.widen(Tables.documents(s, d))
    doc.select(col("source"), col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("h").as("n_unique"),
        (count(lit(1)) - countDistinct("h")).as("n_dup_docs"))
      .orderBy("source")
  }

  val dedupExactSql: String =
    """SELECT source, count(*) AS n_docs,
      |  count(DISTINCT md5(text)) AS n_unique,
      |  count(*) - count(DISTINCT md5(text)) AS n_dup_docs
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ------------------------------------------------------- minhash infra
  /** Word-3gram shingles relation: (doc_id, s). Build the shingle array
    * inside one row with `transform`, THEN explode only the strings — an
    * explode(sequence) carrying the token array would copy the whole
    * array into every exploded row (O(tokens²) bytes per doc).
    * try_element_at: NULL (not an ANSI error) past the end, matching
    * DuckDB's out-of-range list index — short docs yield NULL shingles
    * that min() skips on both sides. */
  private[graft] def shingles(doc: DataFrame): DataFrame =
    doc.select(col("doc_id"), toks.as("ts"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, greatest(size(ts) - 2, 1)),
          |  g -> concat(try_element_at(ts, g), ' ',
          |              try_element_at(ts, g + 1), ' ',
          |              try_element_at(ts, g + 2)))""".stripMargin)).as("s"))

  private val shinglesSql: String =
    """SELECT doc_id, ts[g.g] || ' ' || ts[g.g+1] || ' ' || ts[g.g+2] AS s
      |FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 2, 1))) AS g) g""".stripMargin

  /** 8-permutation MinHash signature per doc. One md5 per shingle; the 8
    * "permutations" are overlapping 16-hex-char windows of the digest
    * (md5 bits are independent enough for LSH banding, and this costs 1/8
    * of eight seeded hashes — the difference between 2M and 16M digest
    * computations per 5k docs). */
  private def sigCols: Seq[(Int, String)] = Seeds.map(i => (i, s"s$i"))

  private[graft] def signatures(doc: DataFrame): DataFrame = {
    // In-row NATIVE form (r16): one graft_minhash8 loop per row hashes
    // every shingle once and tracks all eight window minima — still a
    // single shuffle-free projection, but without the r15 spelling's
    // NINE interpreted HOF evaluations per document (one transform
    // building the md5 array + 8 array_min(transform(substring))
    // passes). Short/NULL-text docs keep their row with all-NULL
    // signature columns, exactly like the HOF form (OOB shingles were
    // NULL and array_min skipped them). Locked against the one-pass
    // MinHashAgg aggregator lineage by TextAggSpec's signature test.
    val m = org.apache.spark.sql.GraftPlanBridge.exprColumn(
      graft.functions.MinHash8(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("text"),
        pinned = true)).as("mh")
    doc.select(col("doc_id"), m)
      .select(col("doc_id") +: sigCols.map { case (_, n) =>
        col(s"mh.$n").as(n)
      }: _*)
  }

  private val signaturesSql: String =
    s"""SELECT doc_id, ${sigCols.map { case (i, n) =>
         s"min(substring(md5(s), ${i * 2 + 1}, 16)) AS $n" }.mkString(", ")}
       |FROM sh GROUP BY doc_id""".stripMargin

  /** Build-time MinHash signature table — the dedup half of the engine's
    * index-build story (SimOps.ivfIndex is the ANN half): signatures are
    * a pure function of the corpus, consumed by SIX declared queries
    * (t06/t08 candidates, t11 components, t12/t13 audits, the t17
    * funnel), so one build job materializes them as parquet and every
    * dedup query serves from the table instead of re-hashing ~2M
    * shingles each. NOT a Spark .cache(): an InMemoryRelation columnar
    * build measured 5× worse than recomputing (see the r4 note in
    * ENGINE.md); a parquet write is paid once per dataset and reads back
    * in ~0.1 s. Parquet round-trips the hex strings exactly, so serving
    * from the index is bit-identical to the live lineage. At 100 TB this
    * is the standard shape: the signature table is O(corpus rows) but
    * ~100 bytes/doc, rebuilt only when the corpus version changes. */
  private val sigCache = new BuildCache[String]

  private[graft] def sigIndex(s: SparkSession, d: String): DataFrame = {
    // keyed on the corpus version marker, built outside any map lock
    // (BuildCache): regenerating the dataset in-process invalidates
    // automatically, and a concurrent first use never blocks unrelated
    // callers behind the parquet-write job. The artifact itself lives
    // in the WAREHOUSE (not a session temp dir), so a fresh process
    // reuses the completed table instead of rebuilding it.
    val path = sigCache.get(
      s"$d@${BuildCache.version(d, "documents.parquet")}") {
      Warehouse.getOrBuild("sig", d, "documents.parquet") { tmp =>
        // REBALANCE before the write (guide §6): the signature table is
        // a pure projection of the widened corpus, so it would land one
        // tiny file per task (32 × ~20 KB at sf0.1 — every sig-served
        // query then pays a 32-split scan). The rebalance shuffles only
        // the ~100-byte signature rows and AQE sizes the output files
        // to the advisory target at any scale.
        Warehouse.writeParquet(
          signatures(Par.widen(Tables.documents(s, d))).hint("rebalance"),
          tmp.toString)
      }
    }
    Io.parquet(s, path)
  }

  /** Explicit build step (the dedup CREATE INDEX analog); queries build
    * lazily on first use, [[graft.Bench]]'s warm-up runs it up front so
    * query timings measure serving. */
  def buildSigIndex(s: SparkSession, d: String): Unit = {
    sigIndex(s, d)
    ()
  }

  /** Test hook: drop the per-dataset signature index cache. */
  private[graft] def clearSigCache(): Unit = sigCache.clear()

  /** INCREMENTAL signature maintenance — the production path for an
    * append-only corpus (the streaming ingest:
    * [[graft.streaming.StreamOps.curateDocs]] emits an append-only
    * curated feed; the reference's resumable cache likewise only ever
    * ADDS granules, processor.py:342-356). A MinHash signature is a
    * pure per-document function — corpus-independent — so corpus
    * growth appends signature rows: the prior artifact's parquet files
    * carry over UNTOUCHED (an O(carried-bytes) file copy, no re-hash of
    * ~2M shingles per historic doc) and only the appended documents
    * hash, landing as extra files under the NEW corpus version's key.
    * Every dedup query then serves the updated table through the normal
    * [[sigIndex]] path. Falls back to a full build when no prior
    * version exists. `appended` must be exactly the documents added
    * since the prior version — the caller's append manifest (a
    * streaming sink's new-files batch). */
  def appendToSigIndex(s: SparkSession, d: String, appended: DataFrame): Unit =
    Warehouse.maintain("sig", d)(buildSigIndex(s, d)) { prior =>
      Warehouse.getOrBuild("sig", d, "documents.parquet") { tmp =>
        Warehouse.copyData(prior, tmp)
        signatures(appended).write.mode("append").parquet(tmp.toString)
        Warehouse.compactIfNeeded(s, tmp, Seq("doc_id"))
        ()
      }
      ()
    }

  // ---------------------------------------------------------------- t06
  /** The t06 pair relation (doc_a, doc_b, est_jaccard), unordered — the
    * mining stage of [[textDupIndex]].
    *
    * Single-pass banding: explode (band,key) structs from one signature
    * lineage, collect each bucket's (doc_id, full signature) members,
    * and emit ordered pairs from inside the bucket row — the WHOLE
    * build touches the corpus once, with no self-join and no sig
    * re-join for the estimate (signatures ride along in the pair).
    * Bucket arrays are bounded by [[MaxBucketMembers]]: a degenerate
    * band key would otherwise expand O(|bucket|²) pairs in-row; capped
    * buckets drop out (audit via oversizedBandBuckets) and a corpus
    * that trips the cap wants the t08-style self-join form back, which
    * streams instead of collecting. */
  private def minhashPairTable(sig: DataFrame): DataFrame =
    pairsOfBuckets(sigBuckets(sig))

  /** The aggregated bucket relation `(band, key, ms: array<(doc_id,
    * sg)>)` every banding consumer derives from — ONE definition so
    * the plan-shape hook and the build lineage cannot drift. */
  private def sigBuckets(sig: DataFrame): DataFrame = {
    val sigArr = array(Seeds.map(i => col(s"s$i")): _*)
    sig.select(col("doc_id"), sigArr.as("sg"), explode(bandStructs).as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.key").as("key"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sg"))))
        .as("ms"))
  }

  /** The per-doc banded projection of a signature relation:
    * `(doc_id, sg, band, key)` — the exploded form [[sigBuckets]]
    * aggregates; the incremental updater derives it for the BATCH
    * alone (a pure per-document function) and, pruned to batch-hit
    * buckets, for the corpus side of the candidate join. */
  private def bandsOf(sig: DataFrame): DataFrame = {
    val sigArr = array(Seeds.map(i => col(s"s$i")): _*)
    sig.select(col("doc_id"), sigArr.as("sg"), explode(bandStructs).as("bk"))
      .select(col("doc_id"), col("sg"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  // ------------------------------------------- exact-dup clique contraction
  /** Sentinel for the md5 of a NULL text — never 32 hex chars, so it
    * cannot collide with a real digest; NULL-text docs then group
    * together exactly like the verify fast path's null-safe h_a <=> h_b. */
  private val NullTextKey = "~null-text~"

  /** Exact-duplicate group census: one row per distinct text —
    * `(h, rep, gsize, trivial)` where `rep` is the group's minimum
    * doc_id and `trivial` marks the <3-token degenerate (its single
    * shingle is NULL; identical texts share the flag). Byte-identical
    * documents share their shingle set, their MinHash signature and
    * therefore every band bucket, so the ENTIRE near-dup mining problem
    * factors through this census: mine over one representative per
    * group and expand doc-level pairs back through the membership
    * table. On a replica-dominated corpus (the realistic crawl shape —
    * 500k docs / ~5k distinct texts at the 100× probe) that removes the
    * quadratic replica pair mass from every mining stage; on an
    * all-unique corpus it degrades to one extra corpus-keyed
    * aggregation. */
  private[graft] def groupCensus(doc: DataFrame): DataFrame =
    doc.select(col("doc_id"),
        coalesce(md5(col("text").cast("binary")), lit(NullTextKey)).as("h"),
        coalesce(nToksCheap < 3, lit(true)).as("trivial"))
      .groupBy("h")
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("gsize"),
        max(col("trivial")).as("trivial"))

  /** Membership of REPLICATED groups only (gsize ≥ 2): `(doc_id, rep)`.
    * Result-sized — the docs that actually have byte-identical siblings
    * — so the doc-level pair expansion joins against this, never the
    * whole corpus. */
  private def memberOf(doc: DataFrame, groups: DataFrame): DataFrame =
    doc.select(col("doc_id"),
        coalesce(md5(col("text").cast("binary")), lit(NullTextKey)).as("h"))
      .join(groups.filter(col("gsize") > 1).select("h", "rep")
        .hint("shuffle_hash"), "h")
      .select("doc_id", "rep")

  /** Representative-level weighted bucket relation `(band, key, ms, w)`:
    * [[sigBuckets]] over the group representatives' signatures, with
    * `w` = the bucket's DOC-level population (sum of member group
    * sizes — a group is in a bucket iff its representative is, since
    * identical texts band identically). `w` is what the bucket cap and
    * the `sizes/` census mean at doc granularity; `ms` is rep-level,
    * so the in-row pair expansion is replica-free. */
  private def repBuckets(sig: DataFrame, groups: DataFrame): DataFrame = {
    val sigArr = array(Seeds.map(i => col(s"s$i")): _*)
    sig.join(groups.select(col("rep").as("doc_id"), col("gsize"))
        .hint("shuffle_hash"), "doc_id")
      .select(col("doc_id"), sigArr.as("sg"), col("gsize"),
        explode(bandStructs).as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.key").as("key"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sg"))))
        .as("ms"), sum(col("gsize")).as("w"))
  }

  /** [[pairExpansion]] over the weighted rep buckets: cross-group
    * candidate pairs need ≥ 2 representatives in the bucket, and the
    * cap applies to the DOC-level weight — exactly the buckets the
    * uncontracted expansion would have mined. */
  private def repPairExpansion(wb: DataFrame): DataFrame =
    pairRows(wb.filter(size(col("ms")) > 1 && col("w") <= MaxBucketMembers))

  /** In-row pair expansion from the aggregated bucket relation,
    * KEEPING the bucket key on every emitted pair row — the build
    * persists (band, key, doc_a, doc_b) as the `pairbk/` side table so
    * the incremental recheck ("does this prior pair still share an
    * under-cap bucket?") is a pair-sized anti-join against the audit
    * census instead of a corpus-sized membership re-derivation. */
  private def pairExpansion(buckets: DataFrame): DataFrame =
    pairRows(buckets
      .filter(size(col("ms")) > 1 && size(col("ms")) <= MaxBucketMembers))

  /** The shared in-row expansion projection over an already-filtered
    * bucket relation — doc-level ([[pairExpansion]]) and rep-level
    * ([[repPairExpansion]]) mining emit identical shapes. */
  private def pairRows(buckets: DataFrame): DataFrame =
    buckets
      .select(col("band"), col("key"), explode(expr(
        // est_jaccard computes IN-ROW here instead of carrying both
        // 8-long signature arrays on every expanded pair: the pinned
        // expansion (result-sized — 28.7M rows at the 100× probe) drops
        // from 20 columns to 5, which is most of the pin's checkpoint
        // volume. Same value as [[estJaccard]]: matches/8 is an exact
        // binary fraction, `if(x = y,...)` counts null sig slots as
        // non-matches like the element_at spelling, and coalesce maps
        // an all-null signature to the 0.0 the old code produced.
        s"""flatten(transform(ms, (a, i) ->
           |  transform(slice(ms, i + 2, size(ms)), b ->
           |    struct(a.doc_id AS doc_a, b.doc_id AS doc_b,
           |      round(coalesce(aggregate(zip_with(a.sg, b.sg,
           |          (x, y) -> if(x = y, 1, 0)), 0, (acc, v) -> acc + v),
           |        0) / ${Seeds.size}.0D, 6) AS est_jaccard))))""".stripMargin)).as("p"))
      .select(col("band"), col("key"),
        col("p.doc_a"), col("p.doc_b"), col("p.est_jaccard"))

  /** Signature-estimated Jaccard per matching-sig count — shared by
    * the build expansion and the incremental candidate join. */
  private def estJaccard: org.apache.spark.sql.Column = {
    val matches = Seeds.map(i =>
      when(element_at(col("sga"), i + 1) === element_at(col("sgb"), i + 1), 1)
        .otherwise(0)).reduce(_ + _)
    r6(matches.cast("double") / Seeds.size)
  }

  /** Pair relation (doc_a, doc_b, est_jaccard) from the expansion —
    * a pair sharing several buckets collapses once (the signatures are
    * per-doc, so a pair's est_jaccard is identical in every bucket it
    * shares and the distinct lands on one row per pair). */
  private def pairsOfExpansion(exp: DataFrame): DataFrame =
    exp.select(col("doc_a"), col("doc_b"), col("est_jaccard")).distinct()

  private def pairsOfBuckets(buckets: DataFrame): DataFrame =
    pairsOfExpansion(pairExpansion(buckets))

  /** MinHash+LSH near-dup candidates: 4 bands × 2 rows; a band collision
    * makes a candidate pair; estimated Jaccard = matching sigs / 8.
    * Serves from the [[textDupIndex]] pair artifact — the mining ran at
    * build time, once per corpus version. */
  val dedupMinhash: Q = (s, d) =>
    Io.parquet(s, s"${textDupIndex(s, d)}/pairs")
      .orderBy("doc_a", "doc_b")

  // ------------------------------------------------- textdup manifest
  private val textDupCache = new BuildCache[String]

  /** Materialized text near-dup manifest — the text-family analog of
    * SimOps' embedding `neardup` artifact, and the curation-manifest
    * posture of SURVEY §2.11 ext_dedup_minhash: candidate mining,
    * exact verification, connected-component clustering and the bucket
    * audit are one BUILD per corpus version, and the four declared
    * consumers (t06 pairs, t08 verify, t11/t13 clusters, t12 audit)
    * plus the t17 funnel's near-dup stage serve from result-sized
    * artifact scans instead of re-deriving the banding + verify +
    * iterative-CC lineage per query (~5.9 s/run across the four at
    * sf0.1 before this existed).
    *
    * Artifact layout under `textdup@…`:
    *  - `pairs/`  (doc_a, doc_b, est_jaccard) — every under-cap banded
    *    pair with its signature-estimated Jaccard;
    *  - `verify/` (doc_a, doc_b, jaccard) — exact n-gram Jaccard over
    *    the same pair set;
    *  - `nearpairs/` (doc_a, doc_b, est_jaccard) — the pairs whose
    *    sides are NOT byte-identical (md5(text) differs): the only
    *    pairs that can ever drop an exact-dedup survivor, so the
    *    funnel's stage-2 join reads this subset;
    *  - `comp/`   (id, comp) — min-label connected components of the
    *    est_jaccard ≥ 0.5 pair graph;
    *  - `audit/`  (band, key, n_members) — the over-cap band buckets
    *    dropped from mining.
    *
    * Each downstream table derives from pinned result-sized relations,
    * not the live banding lineage, so the corpus-sized scans run
    * exactly once per build. At 100 TB every table here is
    * result-sized (pairs scale with the near-dup rate, labels with
    * candidate docs, audit with degenerate keys — all ≪ corpus).
    *
    * The build DISPATCHES ON THE EXACT-DUP GROUP CENSUS
    * ([[groupCensus]], one md5 groupBy — paid by both paths since the
    * census also decides within-group pair semantics):
    *
    *  - **Replica-dominated corpus** (distinct texts ≤
    *    [[RepMineMaxFraction]] × docs — the crawl-with-mirrors shape):
    *    mine over CLIQUE REPRESENTATIVES. Byte-identical documents
    *    share shingles, signatures and buckets, so banding, the
    *    Jaccard verification and connected components run on one doc
    *    per distinct text, and the doc-level artifact rows expand back
    *    through the replicated-group membership at write time —
    *    within-group pairs carry est/jaccard 1.0 (0.0 for the <3-token
    *    degenerate) by definition, cross-group pairs replicate their
    *    rep pair's values. The quadratic replica pair mass never
    *    reaches the miner.
    *  - **Mostly-unique corpus** (distinct texts ≈ docs): mine at DOC
    *    level with the byte-identical verify fast path. Here the
    *    contraction buys nothing (reps ≈ docs) while its membership
    *    expansions add ~3 pair-table-sized shuffle joins — measured 2×
    *    slower (735 vs 377 s) on the 100× probe corpus, whose 500k
    *    docs hold 499.2k distinct texts.
    *
    * Both spellings are row-identical (oracle-hashed at sf0.01/sf1,
    * invariant-checked at 100×, spec-locked against each other on
    * forced corpora of both shapes; the append path always mines
    * uncontracted, so IncrementalSpec's append == rebuild equality
    * crosses spellings whenever the build contracted). */
  private[graft] def textDupIndex(s: SparkSession, d: String): String =
    textDupCache.get(s"$d@${BuildCache.version(d, "documents.parquet")}") {
      Warehouse.getOrBuild("textdup", d, "documents.parquet") { tmp =>
        def tt[A](name: String)(f: => A): A = Prof.tt("textdup")(name)(f)
        val sig = sigIndex(s, d)
        val docs = Tables.documents(s, d)
        val (groups, gPin) = tt("pin-groups")(Checkpoints.pin(groupCensus(docs)))
        try {
          // coalesce: sum() over an EMPTY census is SQL-null, and an
          // empty corpus must degrade to the (trivially empty)
          // doc-level mine, not NPE on getLong
          val cen = groups.agg(count(lit(1)).as("reps"),
            coalesce(sum("gsize"), lit(0L)).as("docs")).head()
          // `graft.textdup.mine` = rep|doc pins one arm (operational /
          // measurement override — how the dispatch's two sides are
          // priced against each other on one corpus); default `auto`
          // dispatches on the census. Both arms are row-identical
          // (spec-locked), so the knob can never change results.
          val contract = sys.props.getOrElse("graft.textdup.mine", "auto") match {
            case "rep" => true
            case "doc" => false
            case _ => contractionPays(cen.getLong(0), cen.getLong(1))
          }
          if (contract) mineRepLevel(s, tmp.toString, sig, docs, groups)
          else mineDocLevel(s, tmp.toString, sig, docs)
        } finally Checkpoints.release(gPin)
        // per-doc 16-bit SimHash (t07 serves from this table): a pure
        // per-document function, so appends extend it by file like the
        // signature table. REBALANCE before the write (guide §6): the
        // r16 projection form landed one ~5 KB file per widened task
        // (32 at sf0.1) and t07's serve regressed 2.2× paying the
        // per-file scan overhead; the rebalance shuffles only the
        // 12-byte (doc_id, simhash) rows and AQE sizes the files.
        tt("simhash")(Warehouse.writeParquet(
          simhashDoc(Par.widen(Tables.documents(s, d))).hint("rebalance"),
          s"$tmp/simhash"))
        writeEpoch(s, tmp.toString, "epoch")
      }
    }

  /** Dispatch threshold for [[mineRepLevel]]: contract only when at
    * least half the corpus is absorbed into byte-identical groups.
    * The contraction's fixed overhead is ~3 extra pair-table-sized
    * shuffle joins (the membership expansions of pairs/verify/pairbk),
    * so it needs the rep-level pair mass to shrink materially below
    * the doc-level one to pay; at reps/docs = 0.5 clique-free pair
    * mass already shrinks ~4× while the expansions stay output-sized.
    * Measured endpoints on the 100× corpus shape: reps/docs ≈ 1.0 →
    * contraction LOSES 2× (735 vs 377 s); replica-heavy test corpora →
    * wins by the replica pair mass. */
  private[graft] val RepMineMaxFraction = 0.5

  /** The dispatch predicate behind [[textDupIndex]]'s mining choice,
    * extracted so the threshold semantics are spec-pinned: contract
    * iff at least half the corpus is absorbed into byte-identical
    * groups. */
  private[graft] def contractionPays(distinctTexts: Long, docs: Long): Boolean =
    distinctTexts <= RepMineMaxFraction * docs

  /** Rep-level (contracted) mining — see [[textDupIndex]]. `groups` is
    * the pinned exact-dup census; artifacts land row-identical to
    * [[mineDocLevel]]. */
  private[graft] def mineRepLevel(s: SparkSession, tmp: String, sig: DataFrame,
      docs: DataFrame, groups: DataFrame): Unit = {
    def tt[A](name: String)(f: => A): A = Prof.tt("textdup")(name)(f)
    val (mem, mPin) = tt("pin-mem")(Checkpoints.pin(memberOf(docs, groups)))
    try {
      // ONE rep-level banding scan feeds the audit, the FULL
      // doc-weighted size census (`sizes/` — what makes the NEXT
      // append O(batch): it merges batch-key counts into this
      // table instead of re-exploding the grown signature table)
      // and the mining
      val (wb, bPin) = tt("pin-buckets")(Checkpoints.pin(repBuckets(sig, groups)))
      try {
        // sizes/ and audit/ derive from ONE projection of the pinned
        // census, not a read-back of the just-written table (see
        // mineDocLevel)
        val sizesRel =
          wb.select(col("band"), col("key"), col("w").as("n_members"))
        tt("sizes")(Warehouse.writeParquet(sizesRel, s"$tmp/sizes"))
        tt("audit")(Warehouse.writeParquet(
          sizesRel.filter(col("n_members") > MaxBucketMembers),
          s"$tmp/audit"))
        // rep-level mining, KEEPING the bucket key: `pairbk/`
        // records every under-cap bucket each mined pair shares,
        // so an append can settle pair death (every recorded
        // bucket crossed the cap) without re-deriving corpus
        // membership
        val (rexp, ePin) = tt("pin-exp")(Checkpoints.pin(
          repPairExpansion(wb)
            .select(col("band"), col("key"), col("doc_a").as("rep_a"),
              col("doc_b").as("rep_b"), col("est_jaccard"))))
        try {
          val repPairs = rexp
            .select("rep_a", "rep_b", "est_jaccard").distinct()
          // rep pairs connect DISTINCT texts by construction, so
          // each pays the true shingle intersection exactly once —
          // the old byte-identical fast path is now structural
          // (replica pairs never reach the miner at all)
          val rp = repPairs.select(col("rep_a").as("doc_a"),
            col("rep_b").as("doc_b"))
          val repVer = jaccardOfShingles(rp, candShingles(docs, rp))
            .select(col("doc_a").as("rep_a"), col("doc_b").as("rep_b"),
              col("jaccard"))
          // groups qualifying for WITHIN-group pairs: ≥2 members
          // sharing ≥1 under-cap bucket (a group is in a bucket
          // iff its rep is)
          val qb = wb.filter(col("w") <= MaxBucketMembers)
            .select(col("band"), col("key"),
              explode(col("ms.doc_id")).as("rep"))
          val withinQ = groups.filter(col("gsize") > 1)
            .join(qb.select("rep").distinct().hint("shuffle_hash"),
              Seq("rep"), "left_semi")
            .select(col("rep"), col("trivial"))
          val memQ = mem.join(withinQ.select("rep").hint("shuffle_hash"),
            Seq("rep"), "left_semi")
          val (withinX, wPin) = tt("pin-within")(Checkpoints.pin(
            memQ.select(col("rep"), col("doc_id").as("doc_a"))
              .join(memQ.select(col("rep"), col("doc_id").as("doc_b"))
                .hint("shuffle_hash"), Seq("rep"))
              .filter(col("doc_a") < col("doc_b"))
              .join(withinQ.hint("shuffle_hash"), Seq("rep"))
              .select(col("rep"), col("doc_a"), col("doc_b"),
                when(col("trivial"), lit(0.0)).otherwise(lit(1.0))
                  .as("est_jaccard"),
                when(col("trivial"), lit(0.0)).otherwise(lit(1.0))
                  .as("jaccard"))))
          try {
            // cross-group doc pairs: replicate each rep pair over
            // both groups' members (singleton groups pass through
            // as their rep); least/greatest restores doc_a < doc_b,
            // which group interleaving does not preserve
            val ma = mem.select(col("rep").as("rep_a"),
              col("doc_id").as("da"))
            val mb = mem.select(col("rep").as("rep_b"),
              col("doc_id").as("db"))
            val (crossX, xPin) = tt("pin-cross")(Checkpoints.pin(
              repPairs
                .join(repVer.hint("shuffle_hash"),
                  Seq("rep_a", "rep_b"), "left")
                .join(ma.hint("shuffle_hash"), Seq("rep_a"), "left")
                .join(mb.hint("shuffle_hash"), Seq("rep_b"), "left")
                .select(
                  least(coalesce(col("da"), col("rep_a")),
                    coalesce(col("db"), col("rep_b"))).as("doc_a"),
                  greatest(coalesce(col("da"), col("rep_a")),
                    coalesce(col("db"), col("rep_b"))).as("doc_b"),
                  col("rep_a"), col("rep_b"),
                  col("est_jaccard"), col("jaccard"))))
            try {
              tt("pairs")(Warehouse.writeParquet(
                crossX.select("doc_a", "doc_b", "est_jaccard")
                  .unionByName(
                    withinX.select("doc_a", "doc_b", "est_jaccard")),
                s"$tmp/pairs"))
              // nearpairs/: exactly the cross-group (not
              // byte-identical) pairs — the funnel's stage-2 drop
              // join consumes THIS subset (a byte-identical pair
              // can never drop: its doc_b already lost exact
              // dedup — see [[nearPairs]])
              tt("nearpairs")(Warehouse.writeParquet(
                crossX.select("doc_a", "doc_b", "est_jaccard"),
                s"$tmp/nearpairs"))
              // a rep pair with no verify row (a shingle-less side
              // drops out of the packed-set inner join) stays
              // absent from verify/ exactly as it did uncontracted
              tt("verify")(Warehouse.writeParquet(
                crossX.filter(col("jaccard").isNotNull)
                  .select("doc_a", "doc_b", "jaccard")
                  .unionByName(
                    withinX.select("doc_a", "doc_b", "jaccard")),
                s"$tmp/verify"))
              tt("pairbk")(Warehouse.writeParquet(
                rexp.select("band", "key", "rep_a", "rep_b")
                  .join(crossX.select("rep_a", "rep_b",
                      "doc_a", "doc_b").hint("shuffle_hash"),
                    Seq("rep_a", "rep_b"))
                  .select("band", "key", "doc_a", "doc_b")
                  .unionByName(
                    qb.join(withinX.hint("shuffle_hash"), Seq("rep"))
                      .select("band", "key", "doc_a", "doc_b")),
                s"$tmp/pairbk"))
            } finally Checkpoints.release(xPin)
          } finally Checkpoints.release(wPin)
          // components at REP level (the contraction's second win:
          // the CC edge set drops from doc pairs to distinct-text
          // pairs), then expand: a qualifying non-degenerate
          // replicated group is a clique — a self-edge keeps an
          // isolated one in the vertex set — so its members adopt
          // the rep's component; labels stay min member ids
          // because each group's min IS its rep
          val crossEdges = repPairs.filter(col("est_jaccard") >= 0.5)
            .select(col("rep_a").as("src"), col("rep_b").as("dst"))
          val selfEdges = withinQ.filter(!col("trivial"))
            .select(col("rep").as("src"), col("rep").as("dst"))
          tt("comp") {
            val ccRep = connectedComponents(
              crossEdges.unionByName(selfEdges))
            Warehouse.writeParquet(
              ccRep.join(mem.select(col("rep").as("id"), col("doc_id"))
                  .hint("shuffle_hash"), Seq("id"), "left")
                .select(coalesce(col("doc_id"), col("id")).as("id"),
                  col("comp")),
              s"$tmp/comp")
          }
        } finally Checkpoints.release(ePin)
      } finally Checkpoints.release(bPin)
    } finally Checkpoints.release(mPin)
  }

  /** Doc-level (uncontracted) mining with the byte-identical verify
    * fast path — see [[textDupIndex]]. One banding scan feeds the
    * audit, the FULL size census (`sizes/` — what makes the NEXT
    * append O(batch): it merges batch-key counts into this table
    * instead of re-exploding the grown signature table) and the
    * mining; every downstream table derives from the tmp-materialized
    * `pairs` parquet, not the live banding lineage, so the corpus-sized
    * mining scan runs exactly once per build. */
  private[graft] def mineDocLevel(s: SparkSession, tmp: String, sig: DataFrame,
      docs: DataFrame): Unit = {
    def tt[A](name: String)(f: => A): A = Prof.tt("textdup")(name)(f)
    val (buckets, bPin) = tt("pin-buckets")(Checkpoints.pin(sigBuckets(sig)))
    try {
      // audit/ is exactly the over-cap slice of sizes/ — both derive
      // from ONE projection of the pinned buckets (no read-back of the
      // just-written table, one Spark job less per build; r17)
      val sizesRel = buckets.select(col("band"), col("key"),
        size(col("ms")).cast("long").as("n_members"))
      tt("sizes")(Warehouse.writeParquet(sizesRel, s"$tmp/sizes"))
      tt("audit")(Warehouse.writeParquet(
        sizesRel.filter(col("n_members") > MaxBucketMembers),
        s"$tmp/audit"))
      // pair expansion keeps its bucket key: `pairbk/` records every
      // under-cap bucket each mined pair shares, so an append can
      // settle pair death (every recorded bucket crossed the cap)
      // without re-deriving corpus membership
      val (exp, ePin) = tt("pin-exp")(Checkpoints.pin(pairExpansion(buckets)))
      try {
        tt("pairs")(Warehouse.writeParquet(pairsOfExpansion(exp), s"$tmp/pairs"))
        tt("pairbk")(Warehouse.writeParquet(
          exp.select("band", "key", "doc_a", "doc_b"), s"$tmp/pairbk"))
      } finally Checkpoints.release(ePin)
    } finally Checkpoints.release(bPin)
    val pairs = Io.parquet(s, s"$tmp/pairs")
    // exact-content fast path first (see [[fingerprintTagged]]):
    // byte-identical pairs decide in-row; only the genuinely-near
    // remainder shingles + intersects. The tag pins because both
    // split sides consume it; the near shingles pin because the
    // Jaccard reads them three ways (sizes + both intersection
    // sides) — and they are NEAR-pair-sized, not
    // all-candidate-sized.
    val (tagged, tPin) = tt("pin-tag")(Checkpoints.pin(fingerprintTagged(docs, pairs)))
    try {
      tt("verify") {
        val near = nearOfTagged(tagged)
        val (csh, sPin) = Checkpoints.pin(candShingles(docs, near))
        try Warehouse.writeParquet(
          jaccardOfShingles(near, csh).unionByName(exactOfTagged(tagged)),
          s"$tmp/verify")
        finally Checkpoints.release(sPin)
      }
      // nearpairs/: the same tag, kept as an artifact — the funnel's
      // stage-2 drop join consumes THIS subset instead of the full
      // pair table (a byte-identical pair can never drop: its doc_b
      // shares doc_a's md5 group, so it already lost exact dedup —
      // see [[nearPairs]]). Its own profile label so the per-stage
      // rows stay comparable with mineRepLevel and the append path.
      tt("nearpairs")(Warehouse.writeParquet(
        tagged.filter(!(col("h_a") <=> col("h_b")))
          .select("doc_a", "doc_b", "est_jaccard"),
        s"$tmp/nearpairs"))
    } finally Checkpoints.release(tPin)
    val edges = pairs.filter(col("est_jaccard") >= 0.5)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    tt("comp")(Warehouse.writeParquet(connectedComponents(edges), s"$tmp/comp"))
  }

  /** Pair-state watermark of the textdup artifact: a fresh unique value
    * on every FULL build and on every append that KILLED a prior pair
    * (cap crossing); pure-add appends carry it untouched. A downstream
    * consumer that recorded the epoch it last incorporated (the funnel's
    * `pairsepoch/`) can therefore prove "every pair change since my
    * prior state is an ADDITION with doc_b above my high-water id" and
    * take a batch-bounded delta path instead of re-joining the whole
    * pair table. The epoch is a MAINTENANCE marker, not data: append and
    * rebuild produce identical pair/verify/comp tables but distinct
    * epochs, which only changes the consumer's PLAN, never its output. */
  private def writeEpoch(s: SparkSession, dir: String, table: String,
      value: String = java.util.UUID.randomUUID().toString): Unit = {
    import s.implicits._
    Warehouse.writeParquet(Seq(value).toDF("epoch"), s"$dir/$table")
  }

  /** The recorded epoch, or None for a pre-epoch artifact vintage
    * (consumers then take their full-recompute path). A PRESENT but
    * unreadable epoch also degrades to None (the safe full path), but
    * with a stderr warning — a persistent infra error (permissions,
    * corruption) would otherwise permanently and invisibly disable the
    * delta optimization. */
  private def readEpoch(s: SparkSession, path: String,
      table: String): Option[String] =
    try Some(Io.parquet(s, s"$path/$table").head().getString(0))
    catch { case scala.util.control.NonFatal(e) =>
      if (java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(path, table))) {
        Prof.degrade("funnel", "epoch-read")
        System.err.println(
          s"graft: epoch table $path/$table exists but failed to read " +
            s"($e) — consumer takes its full-recompute path")
      }
      None
    }

  /** Explicit build step for the near-dup manifest (the dedup CREATE
    * INDEX analog); queries build lazily on first use, [[graft.Bench]]
    * runs it up front so query timings measure serving. */
  def buildTextDup(s: SparkSession, d: String): Unit = {
    textDupIndex(s, d)
    ()
  }

  /** Test hook: drop the per-dataset near-dup manifest cache. */
  private[graft] def clearTextDupCache(): Unit = textDupCache.clear()

  /** Plan-shape hook: the live REP-level mining lineage `textdup_build`
    * executes (PlanShapeSpec locks it to the sig-artifact scan, the
    * rep-keyed census join, and in-row pair expansion — never a banded
    * self-join). */
  private[graft] def minhashPairsPlan(s: SparkSession, d: String): DataFrame =
    repPairExpansion(
        repBuckets(sigIndex(s, d), groupCensus(Tables.documents(s, d))))
      .select("doc_a", "doc_b", "est_jaccard").distinct()

  /** Plan-shape hook: the live rep-level verify lineage `textdup_build`
    * executes (PlanShapeSpec locks it broadcast-free — every relation
    * in it is corpus-derived). */
  private[graft] def jaccardVerifyPlan(s: SparkSession, d: String): DataFrame = {
    val rp = minhashPairsPlan(s, d).select("doc_a", "doc_b")
    jaccardOfShingles(rp, candShingles(Tables.documents(s, d), rp))
  }

  /** INCREMENTAL text near-dup maintenance — the text analog of
    * SimOps.appendToNearDup, run after [[appendToSigIndex]] has landed
    * the grown signature table. A full rebuild re-pairs the WHOLE
    * corpus inside every band bucket; the updater instead:
    *
    *  1. re-derives the per-doc banding and bucket sizes over the
    *     grown signature table (one artifact scan + one keyed count —
    *     the O(n) part that cannot be skipped, since any bucket may
    *     have grown);
    *  2. mines candidate pairs only where ≥ 1 member is appended
    *     (batch-side × corpus-side bucket join) and exact-verifies
    *     just those pairs' n-gram Jaccard;
    *  3. rechecks the PRIOR pair list against the new bucket sizes —
    *     appends only grow buckets, so an old pair dies exactly when
    *     every bucket it shared crossed [[MaxBucketMembers]]; both the
    *     signature-estimated and the verified exact Jaccard carry over
    *     unchanged (they are pure per-pair functions);
    *  4. recomputes the cluster labels from the UPDATED pair graph —
    *     connected components are global, but the input is the
    *     result-sized pair table, not the corpus.
    *
    * Row-identical to a full rebuild at the new corpus version
    * (spec-asserted). Text banding has no corpus-dependent geometry
    * (4 fixed bands), so unlike the embedding family there is no
    * bandBits fallback — only a missing prior forces the full build. */
  def appendToTextDup(s: SparkSession, d: String, appended: DataFrame): Unit =
    Warehouse.maintain("textdup", d)(buildTextDup(s, d))(
      appendToTextDupIncremental(s, d, appended, _))

  /** Sort keys of the textdup artifact's append-maintained tables —
    * doc_b carries the high-water min/max stats the funnel's epoch
    * delta prunes on; shared by the carry, the synchronous backstop
    * and the staged off-path compaction. */
  private val TextDupTableKeys = Seq(
    "pairs" -> Seq("doc_b"), "pairbk" -> Seq("doc_b"),
    "verify" -> Seq("doc_b"), "nearpairs" -> Seq("doc_b"),
    "simhash" -> Seq("doc_id"))

  private def appendToTextDupIncremental(s: SparkSession, d: String,
      appended: DataFrame, prior: String): Unit = {
    // tables whose file count crossed the budget THIS append: they are
    // staged for background compaction after the artifact completes,
    // so the rewrite never rides the append's critical path
    val toStage = scala.collection.mutable.ListBuffer.empty[(String, Seq[String])]
    val dir = Warehouse.getOrBuild("textdup", d, "documents.parquet") { tmp =>
      // stage wall times print under -Dgraft.buildProfile (same hook as
      // the full build)
      def tt[A](name: String)(f: => A): A = Prof.tt("textdup+")(name)(f)
      // Batch-side banding is a pure per-document function — O(batch),
      // no corpus scan. The census then MERGES the batch's bucket
      // counts into the persisted `sizes/` table (one result-sized
      // columnar pass) instead of re-exploding the grown signature
      // table per append — at streaming cadence that re-derivation was
      // the one remaining O(corpus) term in the incremental chain.
      val batchBands = bandsOf(signatures(appended))
      val bc = batchBands.groupBy("band", "key").agg(count(lit(1)).as("b_n"))
      // census merge WITHOUT a bucket-keyed exchange: the grown side is
      // a map-side broadcast-left-join scan of the persisted census
      // (batch keys broadcast), and the brand-new buckets are the
      // batch keys minus the (batch-key-sized) matched set — a
      // full_outer here would shuffle the whole O(buckets) table per
      // append
      val priorSizes = Io.parquet(s, s"$prior/sizes")
      val grown = priorSizes.join(broadcast(bc), Seq("band", "key"), "left")
        .select(col("band"), col("key"),
          (col("n_members") + coalesce(col("b_n"), lit(0L))).as("n_members"))
      val matched = priorSizes
        .join(broadcast(bc.select("band", "key")), Seq("band", "key"), "left_semi")
        .select("band", "key")
      val freshBuckets = bc.join(matched, Seq("band", "key"), "left_anti")
        .select(col("band"), col("key"), col("b_n").as("n_members"))
      tt("sizes")(Warehouse.writeParquet(grown.unionByName(freshBuckets), s"$tmp/sizes"))
      val sizes = Io.parquet(s, s"$tmp/sizes")
      tt("audit")(Warehouse.writeParquet(
        sizes.filter(col("n_members") > MaxBucketMembers), s"$tmp/audit"))
      val audit = Io.parquet(s, s"$tmp/audit").select("band", "key")
      // Mining: a new pair always involves an appended doc, and every
      // bucket containing an appended doc is batch-hit — so the corpus
      // side needs the members of batch-hit under-cap buckets ONLY.
      // The key set is batch-derived (≤ 4 keys per appended doc, a
      // micro-batch bound, never corpus-scaled), so broadcasting it
      // keeps the signature-artifact scan map-side pruned: one
      // shuffle-free columnar pass instead of a corpus-wide exchange.
      val hitKeys = sizes.join(broadcast(bc.select("band", "key")),
          Seq("band", "key"))
        .filter(col("n_members") <= MaxBucketMembers)
        .select("band", "key")
      val (members, mPin) = tt("pin-members")(Checkpoints.pin(
        bandsOf(sigIndex(s, d)).join(broadcast(hitKeys), Seq("band", "key"))))
      try {
        val newIds = appended.select(col("doc_id")).distinct()
        val exp = members.join(newIds, Seq("doc_id"), "left_semi")
          .join(members.select(col("band"), col("key"),
            col("doc_id").as("db"), col("sg").as("sgb0")), Seq("band", "key"))
          .filter(col("doc_id") =!= col("db"))
          .select(col("band"), col("key"),
            when(col("doc_id") < col("db"), col("doc_id")).otherwise(col("db"))
              .as("doc_a"),
            when(col("doc_id") < col("db"), col("db")).otherwise(col("doc_id"))
              .as("doc_b"),
            when(col("doc_id") < col("db"), col("sg")).otherwise(col("sgb0"))
              .as("sga"),
            when(col("doc_id") < col("db"), col("sgb0")).otherwise(col("sg"))
              .as("sgb"))
        // pinned: newPairs feeds the pair write, the fresh-doc set and
        // the verify candidates — one batch-sized block, released below
        val (newPairs, npPin) = tt("pin-newpairs")(Checkpoints.pin(exp
          .dropDuplicates("doc_a", "doc_b")
          .select(col("doc_a"), col("doc_b"), estJaccard.as("est_jaccard"))))
        try {
        // A prior pair dies ONLY when this batch pushes one of its
        // recorded buckets over the cap (appends only grow buckets, and
        // `pairbk/` — written at mine time — covers every bucket a pair
        // ever shared). The set of buckets the batch pushes over is a
        // subset of the batch-hit buckets, so one map-side probe decides
        // between the file-carried fast path (the overwhelmingly common
        // case: pairs/pairbk/verify carry O(files) by hard link and only
        // batch rows are written — a result-sized union-rewrite here was
        // the dominant term of the 10× append probe) and the
        // row-filtering slow path.
        val priorPairs = Io.parquet(s, s"$prior/pairs")
        val priorPairbk = Io.parquet(s, s"$prior/pairbk")
        val newlyCrossed = priorSizes.join(broadcast(bc), Seq("band", "key"))
          .filter(col("n_members") <= MaxBucketMembers &&
            col("n_members") + col("b_n") > MaxBucketMembers)
        val anyCross = tt("cross-probe")(newlyCrossed.limit(1).count() > 0)
        // Prior pairs survive iff SOME recorded shared bucket is still
        // under cap; a pair none of whose recorded buckets survives the
        // audit died on a cap crossing. Pair-table-sized, no corpus
        // membership re-derivation — and only evaluated when the probe
        // saw an actual crossing.
        lazy val alivePairKeys = priorPairbk
          .join(audit, Seq("band", "key"), "left_anti")
          .select("doc_a", "doc_b").dropDuplicates("doc_a", "doc_b")
        if (!anyCross) {
          tt("pairs") {
            Warehouse.carryTable(prior, "pairs", tmp.resolve("pairs"))
            newPairs.write.mode("append").parquet(s"$tmp/pairs")
          }
          tt("pairbk") {
            Warehouse.carryTable(prior, "pairbk", tmp.resolve("pairbk"))
            exp.select("band", "key", "doc_a", "doc_b")
              .dropDuplicates("band", "key", "doc_a", "doc_b")
              .write.mode("append").parquet(s"$tmp/pairbk")
          }
        } else {
          val surviving = priorPairs.join(alivePairKeys,
            Seq("doc_a", "doc_b"), "left_semi")
          tt("pairs")(Warehouse.writeParquet(surviving.unionByName(newPairs), s"$tmp/pairs"))
          tt("pairbk")(Warehouse.writeParquet(
            priorPairbk.join(Io.parquet(s, s"$tmp/pairs").select("doc_a", "doc_b"),
                Seq("doc_a", "doc_b"), "left_semi")
              .unionByName(exp.select("band", "key", "doc_a", "doc_b")
                .dropDuplicates("band", "key", "doc_a", "doc_b")),
            s"$tmp/pairbk"))
        }
        val pairs = Io.parquet(s, s"$tmp/pairs")
        // verified Jaccards carry for surviving pairs (shingle sets are
        // per-doc); only the fresh pairs verify. The fresh set IS
        // newPairs — every prior pair was verified at its own mine time
        // and text pairs never resurrect — so the verify stage is
        // batch-bounded: its documents scan broadcast-prunes to the
        // fresh pairs' members before shingling (an anti-join against
        // the O(pairs) prior verify table would shuffle two
        // result-sized relations per append instead)
        val freshDocs = newPairs.select(col("doc_a").as("doc_id"))
          .unionByName(newPairs.select(col("doc_b").as("doc_id"))).distinct()
        val (newVerify, newNear) = verifyAndNear(
          Tables.documents(s, d)
            .join(broadcast(freshDocs), Seq("doc_id"), "left_semi"),
          newPairs)
        if (!anyCross) {
          tt("verify") {
            Warehouse.carryTable(prior, "verify", tmp.resolve("verify"))
            newVerify.write.mode("append").parquet(s"$tmp/verify")
          }
          // nearpairs extends like pairs/verify: carried files top out
          // at the prior high-water doc_b, so the funnel's epoch-delta
          // min/max pruning keeps working across appends
          tt("nearpairs") {
            Warehouse.carryTable(prior, "nearpairs", tmp.resolve("nearpairs"))
            newNear.write.mode("append").parquet(s"$tmp/nearpairs")
          }
        } else {
          val survVerify = Io.parquet(s, s"$prior/verify")
            .join(pairs.select("doc_a", "doc_b").hint("shuffle_hash"),
              Seq("doc_a", "doc_b"), "left_semi")
          tt("verify")(Warehouse.writeParquet(survVerify.unionByName(newVerify), s"$tmp/verify"))
          val survNear = Io.parquet(s, s"$prior/nearpairs")
            .join(pairs.select("doc_a", "doc_b").hint("shuffle_hash"),
              Seq("doc_a", "doc_b"), "left_semi")
          tt("nearpairs")(Warehouse.writeParquet(survNear.unionByName(newNear), s"$tmp/nearpairs"))
        }
        // Cluster labels maintain INCREMENTALLY: the change set is the
        // freshly mined edges plus the prior edges the bucket-cap
        // recheck killed; every untouched component's labels carry from
        // the prior artifact and propagation re-runs only over the
        // affected subgraph (see incrementalComponents — this was the
        // last corpus-growing term in the append).
        val newEdges = newPairs.filter(col("est_jaccard") >= 0.5)
        tt("comp") {
          val priorC = Io.parquet(s, s"$prior/comp")
          val comp =
            if (!anyCross)
              // no prior edge died: pure-add delta — merge components
              // by driver union-find over batch-bounded super-edges,
              // no subgraph propagation (see [[mergeComponents]]); the
              // full updated edge table backs the over-budget fallback
              mergeComponents(priorC, newEdges
                .select(col("doc_a").as("src"), col("doc_b").as("dst")),
                Some(pairs.filter(col("est_jaccard") >= 0.5)
                  .select(col("doc_a").as("src"), col("doc_b").as("dst"))))
            else {
              val deadEdges = priorPairs.filter(col("est_jaccard") >= 0.5)
                .join(alivePairKeys, Seq("doc_a", "doc_b"), "left_anti")
              val changedNodes = newEdges.select(col("doc_a").as("id"))
                .unionByName(newEdges.select(col("doc_b").as("id")))
                .unionByName(deadEdges.select(col("doc_a").as("id")))
                .unionByName(deadEdges.select(col("doc_b").as("id")))
                .distinct()
              val edges = pairs.filter(col("est_jaccard") >= 0.5)
                .select(col("doc_a").as("src"), col("doc_b").as("dst"))
              incrementalComponents(priorC, edges, changedNodes)
            }
          Warehouse.writeParquet(comp, s"$tmp/comp")
        }
        // pure-add appends carry the pair-state watermark untouched (a
        // consumer's recorded epoch stays valid); a cap-crossing append
        // killed pairs, so it bumps the epoch like a full build — as
        // does a pre-epoch prior vintage (fresh value, consumers take
        // their full path once)
        if (!anyCross)
          try Warehouse.copyData(s"$prior/epoch", tmp.resolve("epoch"))
          catch { case scala.util.control.NonFatal(e) =>
            // degrading to a fresh epoch is SAFE (consumers take their
            // full path once) but must not be silent — a persistent
            // copy failure would permanently disable the funnel delta
            Prof.degrade("textdup", "epoch-carry")
            System.err.println(
              s"graft: epoch carry from $prior failed ($e) — " +
                "writing a fresh epoch; funnel takes its full path once")
            writeEpoch(s, tmp.toString, "epoch") }
        else writeEpoch(s, tmp.toString, "epoch")
        } finally Checkpoints.release(npPin)
      } finally Checkpoints.release(mPin)
      // the per-doc simhash table extends exactly like the signature
      // artifact: carry the prior files, hash only the batch
      tt("simhash")(Warehouse.carryTable(prior, "simhash", tmp.resolve("simhash")))
      tt("simhash-batch")(simhashDoc(appended).write.mode("append").parquet(s"$tmp/simhash"))
      // file-count hygiene: the carry+append tables gain O(1) files per
      // micro-batch. Over-budget tables are STAGED for background
      // compaction (scheduled below, once the artifact completes) and
      // the NEXT append adopts the compacted copy at carry time — the
      // rewrite leaves the append's critical path. The synchronous
      // compactIfNeeded here is only the 2×-slack backstop for a
      // pathological run where staging never catches up (appends
      // arriving faster than the stager rewrites): the file-count
      // bound stays floor + 2×budget in the worst case.
      tt("compact") {
        for ((t, keys) <- TextDupTableKeys) {
          Warehouse.compactIfNeeded(s, tmp.resolve(t), keys, slack = 2)
          if (Warehouse.needsCompaction(tmp.resolve(t))) toStage += ((t, keys))
        }
      }
    }
    for ((t, keys) <- toStage)
      Warehouse.scheduleStagedCompaction(s, dir, t, keys)
    ()
  }

  /** INCREMENTAL funnel maintenance — run after [[appendToSigIndex]]
    * and [[appendToTextDup]] for the same batch. Contract: the corpus
    * is append-only with MONOTONIC doc_ids (the streaming feed's
    * shape), so prior docs' stage membership can only ever GROW:
    *
    *  - exact dedup keeps the LOWEST doc_id per hash — appended docs
    *    (all higher-id) can never displace a prior keeper, so prior
    *    stage-1 membership stands; a batch doc joins iff its hash is
    *    unseen in `hashes/` and it is the lowest batch id for it;
    *  - the near-dup drop rule (lose to a lower-id stage-1 survivor)
    *    is recomputed WHOLE from the updated pair table — pair death
    *    on a bucket-cap crossing can RESURRECT a previously-dropped
    *    prior doc, and mined pairs only ever connect old→new or
    *    new→new, so prior survivors never start losing;
    *  - quality / repetition / decontamination are pure per-doc flags
    *    against a FIXED eval set (doc_id < [[EvalDocs]], the corpus
    *    head), evaluated only for docs whose membership is new (batch
    *    survivors plus any resurrected priors) via one semi-join-pruned
    *    pass over the documents table.
    *
    * Row-identical to a full rebuild (spec-asserted, including a
    * cap-crossing resurrection case). Falls back to the full build on
    * a missing/pre-layout prior or a non-monotonic batch. */
  def appendToFunnel(s: SparkSession, d: String, appended: DataFrame): Unit =
    Warehouse.maintain("funnel", d)(buildFunnel(s, d))(
      appendToFunnelIncremental(s, d, appended, _))

  private def appendToFunnelIncremental(s: SparkSession, d: String,
      appended: DataFrame, prior: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    Warehouse.getOrBuild("funnel", d, "documents.parquet") { tmp =>
      val priorStages = Io.parquet(s, s"$prior/stages")
      val priorHashes = Io.parquet(s, s"$prior/hashes")
      val priorMax = priorHashes.agg(max("doc_id")).head().getLong(0)
      val batchMin = appended.agg(min("doc_id")).head().getLong(0)
      // appended doc_ids must exceed the prior corpus
      if (batchMin <= priorMax) throw Warehouse.Rebuild("non-monotonic")
      // the decontamination eval set is the corpus HEAD (doc_id <
      // EvalDocs): a batch landing inside that range would GROW the
      // eval set and silently change prior docs' stage-5 verdicts —
      // only a full rebuild re-evaluates them
      if (batchMin < EvalDocs) throw Warehouse.Rebuild("eval-head")
      val batchHashes = appended.select(col("doc_id"),
        md5(col("text").cast("binary")).as("h"))
      // the hash table is a pure per-doc function of an append-only
      // corpus: carry the prior version's files untouched (hard-linked,
      // O(files)) and land only the batch rows as extra files — a
      // union-rewrite would stream the whole corpus-sized table through
      // Spark per append
      Warehouse.copyData(s"$prior/hashes", tmp.resolve("hashes"))
      batchHashes.write.mode("append").parquet(s"$tmp/hashes")
      Warehouse.compactIfNeeded(s, tmp.resolve("hashes"), Seq("doc_id"))
      def stage(n: String): DataFrame =
        priorStages.filter(col("stage") === n).select("doc_id")
      val s0 = stage("00_total").unionByName(appended.select("doc_id"))
      // batch doc joins stage 1 iff its hash is unseen in the prior
      // corpus and it is the lowest batch id carrying it. Two
      // batch-broadcast passes instead of one corpus-keyed exchange:
      // an anti-join against the corpus side would shuffle every prior
      // hash per append; semi-joining the CORPUS against the broadcast
      // batch keys is a map-side-pruned scan whose result is
      // batch-bounded, and the anti-join against that result broadcasts
      // too.
      // NULL-SAFE hash equality (<=>): md5(NULL text) is NULL, and the
      // build's window/groupBy semantics put all null-hash docs in ONE
      // group — a plain-equality join would never match them, so a
      // batch null-text doc would silently re-enter stage 1 even when
      // the prior corpus already holds the null group's keeper
      val seenH = priorHashes.select("h")
        .join(broadcast(batchHashes.select(col("h").as("bh"))),
          col("h") <=> col("bh"), "left_semi")
        .distinct()
      val k1new = batchHashes
        .join(broadcast(seenH.select(col("h").as("ph"))),
          col("h") <=> col("ph"), "left_anti")
        .withColumn("m", min("doc_id").over(Window.partitionBy("h")))
        .filter(col("doc_id") === col("m")).select("doc_id")
      val k1 = stage("01_exact_dedup").unionByName(k1new)
      val tdPath = textDupIndex(s, d)
      // stage 2 only ever needs the genuinely-near subset (byte-identical
      // pairs can't drop an exact-dedup survivor — see [[nearPairs]])
      val pairs = Io.parquet(s, s"$tdPath/nearpairs")
      val tdEpoch = readEpoch(s, tdPath, "epoch")
      val k2 =
        if (tdEpoch.isDefined &&
            tdEpoch == readEpoch(s, prior, "pairsepoch")) {
          // matching epochs prove every pair change since the prior
          // funnel state is an ADDITION: additions carry the canonical
          // LARGER id as doc_b, and every doc id above the prior
          // high-water mark is a batch doc — so new drops can only hit
          // BATCH docs and prior stage-2 membership is untouched. The
          // doc_b > priorMax scan prunes to the appended pair files by
          // parquet min/max stats (carried files top out at priorMax),
          // and both membership joins broadcast the batch-bounded side,
          // replacing the per-append join over the FULL pair table
          // (28.7M rows at the 100× probe) with O(batch) work.
          val bp = pairs.filter(col("doc_b") > priorMax &&
            col("est_jaccard") >= FunnelJaccard).select("doc_a", "doc_b")
          val dropperA = k1.join(
            broadcast(bp.select(col("doc_a").as("doc_id")).distinct()),
            Seq("doc_id"), "left_semi")
          val drop2new = bp.join(
            broadcast(dropperA.select(col("doc_id").as("doc_a"))), "doc_a")
            .select(col("doc_b").as("doc_id")).distinct()
          stage("02_near_dedup").unionByName(
            k1new.join(broadcast(drop2new), Seq("doc_id"), "left_anti"))
        } else {
          // epoch changed (pair deaths, rebuild, or pre-epoch vintage):
          // stage 2 drops recompute whole from the UPDATED pair table —
          // a pair-table-sized join, and the only stage where prior
          // membership can grow (resurrection on pair death)
          val drop2 = pairs.filter(col("est_jaccard") >= FunnelJaccard)
            .join(k1.select(col("doc_id").as("doc_a")), "doc_a")
            .select(col("doc_b").as("doc_id")).distinct()
          k1.join(drop2, Seq("doc_id"), "left_anti")
        }
      // per-doc flags are needed only where membership is new: batch
      // survivors plus resurrected priors — one pruned documents pass
      val newEval = k2.join(stage("02_near_dedup"), Seq("doc_id"), "left_anti")
      val docsNew = Tables.documents(s, d)
        .join(newEval.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
      val k3new = qualityFlags(docsNew).filter(col("keep")).select("doc_id")
      val k3 = stage("03_quality").unionByName(k3new)
      val k4new = k3new.join(
        repetitionStats(docsNew).filter(col("repetitive")).select("doc_id"),
        Seq("doc_id"), "left_anti")
      val k4 = stage("04_repetition").unionByName(k4new)
      val ev = ngrams(Tables.documents(s, d), DecontamN)
        .filter(col("doc_id") < EvalDocs).select("s").distinct()
      // mirror the full build's training-side filter: eval-head docs
      // (doc_id < EvalDocs) are the eval SET, never decontamination
      // candidates — without this a resurrected eval-head doc would
      // self-match its own n-grams and wrongly drop from stage 5
      val contaminated = ngrams(docsNew.filter(col("doc_id") >= EvalDocs),
          DecontamN)
        .join(broadcast(ev), "s").select("doc_id").distinct()
      val k5new = k4new.join(contaminated, Seq("doc_id"), "left_anti")
      val k5 = stage("05_decontaminated").unionByName(k5new)
      Warehouse.writeParquet(
        FunnelStageNames.zip(Seq(s0, k1, k2, k3, k4, k5))
          .map { case (st, df) => df.select(lit(st).as("stage"), col("doc_id")) }
          .reduce(_ unionByName _),
        s"$tmp/stages")
      tdEpoch.foreach(writeEpoch(s, tmp.toString, "pairsepoch", _))
    }
    ()
  }

  val dedupMinhashSql: String = {
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, s${2 * b} || s${2 * b + 1} AS key FROM sig").mkString("\nUNION ALL\n")
    val matches = Seeds.map(i => s"(CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH sh AS (
       |$shinglesSql
       |), sig AS (
       |$signaturesSql
       |), bands AS (
       |$bandSelects
       |), ok AS (
       |  SELECT band, key FROM bands GROUP BY band, key
       |  HAVING count(*) <= $MaxBucketMembers
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |  JOIN ok ON ok.band = a.band AND ok.key = a.key
       |)
       |SELECT cand.doc_a, cand.doc_b,
       |  0.0 + round(CAST($matches AS DOUBLE) / ${Seeds.size}, 6) AS est_jaccard
       |FROM cand
       |JOIN sig a ON cand.doc_a = a.doc_id
       |JOIN sig b ON cand.doc_b = b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- t07
  /** Per-document 16-bit SimHash: token-weighted signed bit votes from
    * md5 hex digits — a pure per-document function, computed once at
    * [[textDupIndex]] build time (the `simhash/` table) and EXTENDED
    * per append batch like the signature table.
    *
    * Deliberately the explode + keyed-aggregate form, NOT the in-row
    * array-fold form that t04/t06 use: the 16 per-bit votes would need
    * 16 interpreted HOF passes per document (measured 1.7× slower than
    * this shuffle at sf0.1), while the (doc, token) exchange is modest
    * and the codegen'd aggregate combines map-side. */
  private[graft] def simhashDoc(doc: DataFrame): DataFrame =
    // r16: ZERO exchanges — the whole tokenize → md5 → nibble-vote →
    // bit-pack pass runs in the one native graft_simhash16 loop per
    // row, so the table is a pure projection (the r15 form exploded
    // every token occurrence and aggregated back on doc_id; its own
    // r9 improvement had already removed the per-(doc, token) weight
    // exchange). NULL-text docs produced no exploded rows, so the
    // NULL filter keeps the row set identical. Oracle (dedupSimhashSql)
    // still computes the weighted relational form — identical totals,
    // hash-identical results; TextAggSpec locks the two Spark
    // spellings against each other.
    doc.select(col("doc_id"),
        org.apache.spark.sql.GraftPlanBridge.exprColumn(
          graft.functions.SimHash16(
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("text"),
            pinned = true)).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Equal-simhash buckets with >1 doc are near-dup candidates. Serves
    * from the [[textDupIndex]] per-doc table — the last text query that
    * re-scanned the corpus per run before r10; the serve path is one
    * map-side-combined aggregate over the ~8-byte-per-doc artifact. */
  val dedupSimhash: Q = (s, d) =>
    Io.parquet(s, s"${textDupIndex(s, d)}/simhash")
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("simhash")

  val dedupSimhashSql: String = {
    val bits = (0 until 16).map { j =>
      s"""(CASE WHEN sum(w * (CASE WHEN substring(h, ${j + 1}, 1)
         | IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0
         | THEN ${1 << j} ELSE 0 END)""".stripMargin.replaceAll("\n", " ")
    }.mkString(" + ")
    s"""WITH tw AS (
       |  SELECT doc_id, tok, count(*) AS w, md5(tok) AS h
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY doc_id, tok
       |), sh AS (
       |  SELECT doc_id, $bits AS simhash FROM tw GROUP BY doc_id
       |)
       |SELECT simhash, count(*) AS n_docs, min(doc_id) AS first_doc
       |FROM sh GROUP BY simhash HAVING count(*) > 1
       |ORDER BY simhash""".stripMargin
  }

  // ---------------------------------------------------------------- t08
  /** The t08 verify relation (doc_a, doc_b, jaccard), unordered — the
    * exact n-gram Jaccard over the candidate pair set, the verify stage
    * of [[textDupIndex]].
    *
    * Only candidate docs' shingles matter for the verify stage — the
    * semi-join prunes the 2M-row shingle relation down to the candidate
    * docs BEFORE any wide join. Every relation here derives from the
    * corpus, so NOTHING here may broadcast: candidate volume scales
    * with the corpus near-dup rate (30-50% of docs on web-scale data),
    * and a broadcast that fits at sf0.1 is a driver OOM at 100 TB.
    * Each join carries an equi key already; shuffle_hash pins the
    * strategy so AQE cannot swap a small runtime side back to broadcast
    * (PlanShapeSpec locks the executed BUILD plan broadcast-free). */
  /** The candidate members' distinct shingle relation (doc_id, s) — the
    * expensive half of the verify stage, split out so the full build can
    * [[Checkpoints.pin]] it: [[jaccardOfShingles]] consumes it THREE
    * times (per-doc sizes + both sides of the intersection join), and
    * without a pin each consumer re-runs the semi-join + shingle explode
    * + distinct exchange. */
  private[graft] def candShingles(doc: DataFrame, cand: DataFrame): DataFrame = {
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
    // prune the DOCUMENTS to candidate members BEFORE shingling: the
    // semi-join does not push through the explode on its own, and
    // shingling the whole corpus to then discard non-candidates is the
    // difference between O(candidates) and O(corpus) work per verify —
    // exactly what the incremental append (batch-sized candidate sets)
    // must not pay
    shingles(
        doc.join(candDocs.hint("shuffle_hash"), Seq("doc_id"), "left_semi"))
      .distinct()
  }

  /** Exact-content tag per candidate pair: md5(text) of both sides plus
    * whether the A side has no REAL shingle (<3 tokens → its single
    * shingle is NULL and can never intersect; identical texts share the
    * flag). Byte-identical pairs — the BULK of the pair set on any
    * corpus where exact dups dominate near-dups (28.7M of the 100×
    * probe's pairs connect exact replicas) — have their Jaccard decided
    * by definition: identical texts ⇒ identical shingle sets ⇒ 1.0, or
    * 0.0 for the no-real-shingle degenerate (the NULL shingle counts
    * toward both set sizes but never matches — join-on-NULL semantics,
    * same as the slow path and the oracle). Only the genuinely-near
    * remainder pays the shingle-set intersection. */
  private def fingerprintTagged(doc: DataFrame, cand: DataFrame): DataFrame = {
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
    // candidate-pruned scan; one md5 + token count per member, map-side.
    // NULL text degrades like the slow path: md5(NULL) = NULL pairs
    // null-safely below, and coalesce marks it trivial (its one shingle
    // is NULL), so both sides of the split agree with the intersection.
    val fp = doc.join(candDocs.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"),
        coalesce(nToksCheap < 3, lit(true)).as("trivial"))
    cand.hint("shuffle_hash")
      .join(fp.select(col("doc_id").as("doc_a"), col("h").as("h_a"),
        col("trivial").as("tr_a")).hint("shuffle_hash"), "doc_a")
      .join(fp.select(col("doc_id").as("doc_b"), col("h").as("h_b"))
        .hint("shuffle_hash"), "doc_b")
  }

  /** Verify rows decided by the exact-content fast path (Jaccard 1 by
    * definition, 0 for the no-real-shingle degenerate). */
  private def exactOfTagged(tagged: DataFrame): DataFrame =
    tagged.filter(col("h_a") <=> col("h_b"))
      .select(col("doc_a"), col("doc_b"),
        when(col("tr_a"), lit(0.0)).otherwise(lit(1.0)).as("jaccard"))

  /** The genuinely-near remainder — the only pairs that pay the
    * shingle-set intersection. */
  private def nearOfTagged(tagged: DataFrame): DataFrame =
    tagged.filter(!(col("h_a") <=> col("h_b"))).select("doc_a", "doc_b")

  private[graft] def jaccardVerifyTable(doc: DataFrame, cand: DataFrame): DataFrame = {
    val tagged = fingerprintTagged(doc, cand)
    val near = nearOfTagged(tagged)
    jaccardOfShingles(near, candShingles(doc, near))
      .unionByName(exactOfTagged(tagged))
  }

  /** One tagging pass → (verify rows, genuinely-near pair subset with
    * est_jaccard) — the append-path form of the build's split: the
    * near subset lands in `nearpairs/` so the funnel's stage-2 join
    * stays pruned across appends. `cand` must carry est_jaccard. */
  private def verifyAndNear(doc: DataFrame,
      cand: DataFrame): (DataFrame, DataFrame) = {
    val tagged = fingerprintTagged(doc, cand)
    val near = nearOfTagged(tagged)
    (jaccardOfShingles(near, candShingles(doc, near))
        .unionByName(exactOfTagged(tagged)),
      tagged.filter(!(col("h_a") <=> col("h_b")))
        .select("doc_a", "doc_b", "est_jaccard"))
  }

  /** The `nearpairs/` table of the current textdup artifact: every
    * under-cap banded pair whose sides are NOT byte-identical. The
    * funnel's stage-2 drop rule ("doc_b loses to a ≥[[FunnelJaccard]]
    * pair whose doc_a survived exact dedup") reads THIS subset: for a
    * byte-identical pair, doc_b shares doc_a's md5 group and
    * doc_a < doc_b, so doc_b is never its group's min — it already
    * lost stage 1 and the anti-join against it is a no-op. Excluding
    * those pairs is therefore output-invariant (spec-asserted against
    * the full-pair form) while shrinking the stage-2 input by the
    * exact-replica pair mass that dominates any real corpus. */
  private[graft] def nearPairs(s: SparkSession, d: String): DataFrame =
    Io.parquet(s, s"${textDupIndex(s, d)}/nearpairs")

  private[graft] def jaccardOfShingles(cand: DataFrame, sh: DataFrame): DataFrame = {
    // Pack each candidate doc's distinct shingle set into ONE row, then
    // intersect IN-ROW per pair: |∩| = size(array_intersect) over the
    // distinct sets — integer-identical to the exploded
    // join-on-(doc, shingle) + pair-keyed count it replaces, which
    // materialized pairs × shingles rows (~135M at sf1, the dominant
    // verify term) through two joins and a corpus-rate-sized hash
    // aggregate. Two pair-keyed joins remain; rows are fatter (one
    // packed set each side) but 500× fewer, and nothing broadcasts —
    // candidate volume scales with the corpus near-dup rate.
    // The size counts ALL shingle rows (a <3-token doc's NULL shingle
    // counts toward its set size but can never match — join-on-NULL
    // semantics), while collect_list skips exactly those NULLs.
    val packed = sh.groupBy("doc_id").agg(
      count(lit(1)).as("n"), collect_list(col("s")).as("ss"))
    cand.hint("shuffle_hash")
      .join(packed.select(col("doc_id").as("doc_a"), col("n").as("n_a"),
        col("ss").as("ss_a")).hint("shuffle_hash"), "doc_a")
      .join(packed.select(col("doc_id").as("doc_b"), col("n").as("n_b"),
        col("ss").as("ss_b")).hint("shuffle_hash"), "doc_b")
      .withColumn("n_inter",
        size(array_intersect(col("ss_a"), col("ss_b"))).cast("long"))
      .select(col("doc_a"), col("doc_b"),
        r6(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
  }

  /** Exact n-gram Jaccard verify over the MinHash candidate pairs (the
    * LSH-candidates → exact-verify pipeline shape). Serves from the
    * [[textDupIndex]] verify artifact. */
  val ngramJaccard: Q = (s, d) =>
    Io.parquet(s, s"${textDupIndex(s, d)}/verify")
      .orderBy("doc_a", "doc_b")

  val ngramJaccardSql: String = {
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, s${2 * b} || s${2 * b + 1} AS key FROM sig").mkString("\nUNION ALL\n")
    s"""WITH sh0 AS (
       |$shinglesSql
       |), sig AS (
       |  SELECT doc_id, ${sigCols.map { case (i, n) =>
           s"min(substring(md5(s), ${i * 2 + 1}, 16)) AS $n" }.mkString(", ")}
       |  FROM sh0 GROUP BY doc_id
       |), bands AS (
       |$bandSelects
       |), ok AS (
       |  SELECT band, key FROM bands GROUP BY band, key
       |  HAVING count(*) <= $MaxBucketMembers
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |  JOIN ok ON ok.band = a.band AND ok.key = a.key
       |), sh AS (SELECT DISTINCT doc_id, s FROM sh0
       |), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
       |), inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
       |  GROUP BY c.doc_a, c.doc_b
       |)
       |SELECT c.doc_a AS doc_a, c.doc_b AS doc_b,
       |  0.0 + round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
       |        / (sa.n + sb.n - coalesce(i.n_inter, 0)), 6) AS jaccard
       |FROM cand c
       |LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
       |JOIN sizes sa ON c.doc_a = sa.doc_id
       |JOIN sizes sb ON c.doc_b = sb.doc_id
       |ORDER BY c.doc_a, c.doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- t09
  /** Dedup materialized: the kept corpus after exact dedup — keep the
    * lowest doc_id per distinct text (row_number over the hash group).
    * This is the query a training-data pipeline actually ships; t05 is
    * the audit summary. */
  val dedupKeepFirst: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // r17: project (and hash) BEFORE the exchange (guide §2.3) — the
    // r16 spelling round-robin-shuffled the full corpus TEXT just to
    // spread a cheap md5; now the only corpus exchange is the window's
    // hash(h) shuffle of ~50-byte rows. At scale the scan is already
    // wide, so the dropped widen was a no-op there anyway.
    val doc = Tables.documents(s, d)
    val w = Window.partitionBy("h").orderBy("doc_id")
    doc.select(col("doc_id"), col("source"), col("n_chars"),
        md5(col("text").cast("binary")).as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  val dedupKeepFirstSql: String =
    """SELECT doc_id, source, n_chars FROM (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |  FROM documents) t
      |WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t10
  /** Composite quality score + keep/drop decision — the filter a
    * training-data pipeline runs after the raw stats: length and
    * stopword-density components (capped at 1), a digit-density
    * component, a punctuation-density penalty, combined into one score
    * and bucketed. Pure per-row expressions — one codegen span, no
    * shuffle before the final sort. */
  val qualityScore: Q = (s, d) =>
    qualityFlags(Par.widen(Tables.documents(s, d))).orderBy("doc_id")

  /** The t10 per-document flags over an arbitrary doc relation — a
    * pure per-row function, so the incremental funnel can evaluate
    * just the docs whose stage membership is new. */
  private[graft] def qualityFlags(doc: DataFrame): DataFrame = {
    val nToks = nToksCheap.cast("double")
    val stopRatio = (size(expr(s"filter(split(text, ' '), x -> x = '$Stop1')"))
      + size(expr(s"filter(split(text, ' '), x -> x = '$Stop2')"))).cast("double") / nToks
    val digitRatio = size(expr("regexp_extract_all(text, '[0-9]', 0)")).cast("double") /
      length(col("text"))
    val punctRatio = size(expr("regexp_extract_all(text, '[^a-z0-9 ]', 0)")).cast("double") /
      length(col("text"))
    val score = (least(col("n_chars") / 500.0, lit(1.0)) * 0.4
      + least(stopRatio / 0.06, lit(1.0)) * 0.4
      + (lit(1.0) - least(digitRatio / 0.2, lit(1.0))) * 0.2) *
      when(punctRatio > 0.1, 0.5).otherwise(1.0)
    doc.select(col("doc_id"),
        r6(stopRatio).as("stop_ratio"),
        r6(digitRatio).as("digit_ratio"),
        r6(punctRatio).as("punct_ratio"),
        r6(score).as("quality"))
      .withColumn("bucket",
        when(col("quality") >= 0.8, "high")
          .when(col("quality") >= 0.5, "medium").otherwise("low"))
      .withColumn("keep", col("bucket") =!= "low")
  }

  /** Inner relation of the t10 oracle — (doc_id, stop_ratio,
    * digit_ratio, punct_ratio, quality), all rounded; shared with the
    * t17 funnel's quality gate. */
  private def qualitySqlBody: String =
    s"""SELECT doc_id,
       |    0.0 + round(stop_ratio, 6) AS stop_ratio,
       |    0.0 + round(digit_ratio, 6) AS digit_ratio,
       |    0.0 + round(punct_ratio, 6) AS punct_ratio,
       |    0.0 + round((least(n_chars / 500.0, 1.0) * 0.4
       |      + least(stop_ratio / 0.06, 1.0) * 0.4
       |      + (1.0 - least(digit_ratio / 0.2, 1.0)) * 0.2)
       |      * (CASE WHEN punct_ratio > 0.1 THEN 0.5 ELSE 1.0 END), 6) AS quality
       |  FROM (
       |    SELECT doc_id, n_chars,
       |      CAST(len(list_filter(string_split(text, ' '), x -> x = '$Stop1'))
       |         + len(list_filter(string_split(text, ' '), x -> x = '$Stop2')) AS DOUBLE)
       |        / len(string_split(text, ' ')) AS stop_ratio,
       |      CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text) AS digit_ratio,
       |      CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE) / length(text) AS punct_ratio
       |    FROM documents)""".stripMargin

  val qualityScoreSql: String =
    s"""SELECT doc_id, stop_ratio, digit_ratio, punct_ratio, quality,
       |  CASE WHEN quality >= 0.8 THEN 'high'
       |       WHEN quality >= 0.5 THEN 'medium' ELSE 'low' END AS bucket,
       |  (CASE WHEN quality >= 0.8 THEN 'high'
       |        WHEN quality >= 0.5 THEN 'medium' ELSE 'low' END) <> 'low' AS keep
       |FROM (
       |  $qualitySqlBody)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t11
  /** Near-dup CLUSTERS: the MinHash candidate pairs above a similarity
    * floor form an undirected graph; iterative min-label propagation
    * finds its connected components — the keeper-assignment step a dedup
    * pipeline runs after candidate mining (t06) and verification (t08),
    * completing for near-dups what t09 materializes for exact dups.
    *
    * Scale posture: each round is one keyed shuffle (neighbor-min per
    * node) and the loop converges in O(component diameter) rounds —
    * the standard big-graph CC; near-dup components are shallow
    * (duplicate clusters, not social graphs), so a handful of rounds.
    * `localCheckpoint` pins each round's result so the t06 lineage and
    * the growing iteration chain are not re-evaluated per round.
    * Deterministic: labels are minima, independent of scheduling. */
  /** Iterative min-label connected components over an undirected edge
    * list (src, dst): each round sends every node's current label to its
    * neighbors and keeps the minimum — one keyed shuffle per round,
    * O(component diameter) rounds, results pinned per round with
    * `localCheckpoint` so the input lineage and the iteration chain are
    * never re-evaluated. Returns (id, comp) for every node that appears
    * in an edge. */
  /** Convergence bound for [[connectedComponents]]: min-label propagation
    * finishes in O(component diameter) rounds, and near-dup components
    * are shallow (duplicate clusters, not social graphs). A loop still
    * changing labels past this bound means a pathological chain-shaped
    * graph — at scale that is hours of silent Spark jobs, so the loop
    * fails loudly instead (the t06 bucket-cap pattern applied to the
    * iteration dimension). Audit the survivors with
    * [[oversizedComponents]] before trusting keeper assignment. */
  val MaxPropagationRounds = 50

  private[graft] def connectedComponents(e0: DataFrame,
      maxRounds: Int = MaxPropagationRounds): DataFrame = {
    val (edges, edgesPin) = Checkpoints.pin(e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst"))))
    try {
      var (comp, pin) = Checkpoints.pin(
        edges.select(col("src").as("id")).distinct()
          .withColumn("comp", col("id")))
      var changed = 1L
      var rounds = 0
      while (changed > 0) Prof.tt("cc")(s"round-${rounds + 1}") {
        require(rounds < maxRounds,
          s"connected components still propagating after $maxRounds rounds — " +
            "component diameter exceeds the near-dup posture; raise maxRounds " +
            "deliberately or pre-split the graph")
        rounds += 1
        // carry each node's OWN label through the same aggregation that
        // takes the neighbor minimum: convergence detection is then a
        // filter-count on the pinned round result instead of a second
        // keyed join-shuffle per round. Every dst is also a src (the
        // edge list is symmetrized above), so `prev` is never null.
        val msgs = edges.join(comp, edges("src") === comp("id"))
          .select(col("dst").as("id"), col("comp"), lit(false).as("self"))
        val (next, nextPin) = Checkpoints.pin(
          comp.withColumn("self", lit(true)).unionByName(msgs)
            .groupBy("id")
            .agg(min(col("comp")).as("comp"),
              min(when(col("self"), col("comp"))).as("prev")))
        changed = next.filter(col("comp") =!= col("prev")).count()
        // the superseded round's block is dead once `next` is pinned and
        // compared; release it so the loop holds ONE node-sized block,
        // not one per round
        Checkpoints.release(pin)
        comp = next.select("id", "comp")
        pin = nextPin
      }
      // the label table outlives this loop (its consumer's action runs
      // later), so swap the final pin for a parquet round-trip — at
      // scale, CC labels are a table you persist anyway
      try Checkpoints.materialize(comp, "graft-cc-labels")
      finally Checkpoints.release(pin)
    } finally Checkpoints.release(edgesPin)
  }

  /** INCREMENTAL companion to [[connectedComponents]]: maintain the
    * (id, comp) label table under an edge DELTA instead of re-running
    * label propagation over the whole pair graph per append — the one
    * append-maintenance term that still grew with corpus size at the
    * 10× probe (pairs are result-sized but scale ~linearly with the
    * corpus, so a full per-append recompute is O(corpus), not O(batch)).
    *
    * `changedNodes` must contain every endpoint of every ADDED or
    * DELETED edge (one `id` column); `edges` is the FULL updated edge
    * list (doc_a < doc_b as src/dst, one row per undirected edge).
    *
    * Membership can only change in a component holding a changed
    * endpoint: an added edge merges the components at its two ends
    * (both endpoints changed ⇒ both components affected), a deleted
    * edge can split only the component that held it (endpoints
    * changed ⇒ affected), and no surviving prior edge crosses from an
    * affected into an untouched component. So untouched components'
    * prior labels CARRY verbatim and propagation re-runs only over the
    * affected subgraph — batch-frontier-bounded. An edge belongs to
    * that subgraph iff its src is an affected/changed node (its dst
    * then is too, by the same argument), so one semi-join extracts it.
    *
    * When a merge cascade drags in more than a quarter of the labeled
    * corpus (or an absolute bound that keeps the node-set broadcast
    * honest), the bookkeeping approaches the full recompute's cost and
    * the maintenance declines to [[connectedComponents]] over the whole
    * edge list. Labels stay exact either way: a component's label is
    * its min member id, which carried components keep (membership
    * unchanged) and recomputed ones re-derive. */
  private[graft] def incrementalComponents(priorComp: DataFrame,
      edges: DataFrame, changedNodes: DataFrame): DataFrame = {
    // the common streaming micro-batch mines NO qualifying edges: no
    // endpoint changed, every label carries verbatim — skip the two
    // count jobs and the (empty-subgraph) propagation loop outright.
    // isEmpty is a limit-1 action on the batch-bounded change set.
    if (changedNodes.isEmpty) return priorComp
    // labels of prior components holding a changed endpoint — the
    // change set is batch-bounded, so the label lookups broadcast and
    // the prior-label scans stay map-side
    val affected = priorComp
      .join(broadcast(changedNodes), Seq("id"), "left_semi")
      .select("comp").distinct()
    val affNodes = priorComp
      .join(broadcast(affected), Seq("comp"), "left_semi").select("id")
    val nAffected = affNodes.count()
    val nPrior = priorComp.count()
    if (nAffected * 4L > nPrior || nAffected > 20000000L)
      connectedComponents(edges)
    else {
      val seed = affNodes.unionByName(changedNodes).distinct()
      val sub = edges.join(broadcast(seed.withColumnRenamed("id", "src")),
        Seq("src"), "left_semi")
      // the iterative loop runs over the affected subgraph only; its
      // result is parquet-materialized (outlives this call), and the
      // carried rows are a map-side-pruned scan of the prior artifact
      val fresh = connectedComponents(sub)
      val carried = priorComp.join(broadcast(affected), Seq("comp"), "left_anti")
      fresh.unionByName(carried.select("id", "comp"))
    }
  }

  /** Driver-side union-find with union-by-min: roots are the minimum id
    * of their set, so a merged group's root IS its min-label. The edge
    * list is batch-bounded by contract (distinct component super-edges
    * of one append batch), never corpus-sized. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** ADD-ONLY companion to [[incrementalComponents]] — the common
    * streaming append (no cap crossing, so no prior edge dies). Added
    * edges can only MERGE components, and a merge needs no label
    * propagation at all: contract each added edge to a SUPER-EDGE
    * between its endpoints' groups (the prior component label for known
    * nodes, the node's own id for first-edge nodes — labels are min
    * member ids, so a group's id doubles as its label candidate), run
    * union-find over the batch-bounded distinct super-edges on the
    * driver, and rewrite affected labels through one broadcast map.
    *
    * Per append this costs two map-side corpus scans (the semi-join
    * label lookup and the relabel write) and zero corpus shuffles —
    * where the subgraph-propagation path pays two count jobs plus an
    * iterative CC whose frontier at high duplicate density is the whole
    * touched CLUSTER set (measured at the 100× probe: ~2M-edge
    * subgraphs for a 200-doc batch, the dominant append term).
    * Labels stay exactly [[connectedComponents]]' fixpoint: untouched
    * components carry verbatim, merged ones take the min over merged
    * groups, first-edge nodes enter with their union root. */
  /** Collected super-edge budget: the driver pull is O(distinct group
    * pairs) by construction, but an adversarial batch (bulk backfill
    * routed through the pure-add path, every edge bridging two distinct
    * groups) could still inflate it — past this bound the caller falls
    * back to the distributed [[incrementalComponents]] instead of
    * silently stalling the driver. 4M pairs ≈ 64 MB of longs. */
  private[graft] val MaxSuperEdges = 4000000

  /** `allEdges` is the FULL updated edge table, evaluated only on the
    * guard fallback (the by-name thunk costs nothing on the normal
    * path); when absent the guard falls back by throwing, which the
    * appendToTextDup wrapper turns into the idempotent full rebuild. */
  private[graft] def mergeComponents(priorComp: DataFrame,
      added: DataFrame, allEdges: => Option[DataFrame] = None,
      maxSuper: Int = MaxSuperEdges): DataFrame = {
    val s = priorComp.sparkSession
    import s.implicits._
    if (added.isEmpty) return priorComp
    val ends = added.select(col("src").as("id"))
      .unionByName(added.select(col("dst").as("id"))).distinct()
    // group label per touched endpoint: the prior component label for
    // known nodes, the node's own id for first-edge nodes (labels are
    // min member ids, so a group's id doubles as its label candidate).
    // Semi-join the corpus-sized label table against the broadcast
    // batch ids (map-side-pruned scan, batch-bounded result), never
    // the reverse.
    val known = priorComp.join(broadcast(ends), Seq("id"), "left_semi")
    // pin the endpoint→group lookup ONCE: it feeds three subplans (both
    // super-edge contraction sides and the first-edge-node relabel), and
    // each broadcast subplan would otherwise re-run the corpus-sized
    // label scan — the append pays exactly TWO corpus scans (this pin
    // and the relabel write below), same contract as before
    val (lab, labPin) = Checkpoints.pin(ends.join(known, Seq("id"), "left")
      .select(col("id"), col("comp"),
        coalesce(col("comp"), col("id")).as("g")))
    try {
      // contract each added edge to its endpoints' GROUP pair and
      // distinct IN SPARK before any driver pull: a batch doc matching
      // thousands of priors in one cluster contributes ONE super-edge,
      // not thousands of raw rows. Self-pairs (both endpoints already in
      // one group) are union-find no-ops and drop here too.
      val superDf = added
        .join(broadcast(lab.select(col("id").as("src"), col("g").as("ga"))), "src")
        .join(broadcast(lab.select(col("id").as("dst"), col("g").as("gb"))), "dst")
        .filter(col("ga") =!= col("gb"))
        .select("ga", "gb").distinct()
      // collected size guard (the contract says batch-bounded, but a
      // contract is not a bound): the limit caps what the driver ever
      // materializes; an over-budget batch takes the distributed
      // subgraph path over the full edge table when the caller supplied
      // it, else throws — appendToTextDup turns that into the
      // idempotent full rebuild
      val superEdges = superDf.limit(maxSuper + 1)
        .as[(Long, Long)].collect().toSeq
      if (superEdges.length > maxSuper) {
        allEdges match {
          case Some(edges) =>
            return incrementalComponents(priorComp, edges, ends)
          case None => sys.error(
            s"mergeComponents: super-edges exceed the $maxSuper " +
              "driver budget and no distributed fallback was supplied")
        }
      }
      val root = unionFind(superEdges)
      // first-edge nodes enter with their union root. Collected
      // driver-side: every fresh node appears in ≥1 super-edge (its id
      // is not a prior member, so it can never equal a known group
      // label), so the pull is bounded by 2× the already-guarded
      // super-edge count — and the returned lineage then references
      // only driver-local rows + the priorComp scan, outliving the pin.
      val freshRows = lab.filter(col("comp").isNull)
        .select(col("id"), col("g")).as[(Long, Long)].collect()
        .map { case (id, g) => (id, root.getOrElse(g, g)) }.toSeq
      // only groups whose label CHANGES need rewriting — typically the
      // few clusters the batch merged
      val remap = root.toSeq.filter { case (g, r) => g != r }
        .toDF("comp", "newcomp")
      val carried = priorComp.join(broadcast(remap), Seq("comp"), "left")
        .select(col("id"), coalesce(col("newcomp"), col("comp")).as("comp"))
      carried.unionByName(freshRows.toDF("id", "comp"))
    } finally Checkpoints.release(labPin)
  }

  /** Audit companion to [[connectedComponents]] (mirror of
    * [[oversizedBandBuckets]]): components whose member count exceeds a
    * cap — a giant near-dup component usually means boilerplate/template
    * text chaining unrelated docs together, and its keeper assignment
    * deserves review rather than blind keep-min. */
  private[graft] def oversizedComponents(comp: DataFrame, cap: Int): DataFrame =
    comp.groupBy("comp").agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > cap)

  /** Near-dup clusters served from the [[textDupIndex]] label table:
    * the iterative CC ran once at build time; the serve path is a
    * label-table-sized aggregation over the artifact scan. */
  val dedupComponents: Q = (s, d) =>
    Io.parquet(s, s"${textDupIndex(s, d)}/comp").groupBy("comp")
      .agg(count(lit(1)).as("n_members"),
        concat_ws("+", array_sort(collect_list(col("id").cast("string"))))
          .as("members"))
      .select(col("comp").as("keeper_id"), col("n_members"), col("members"))
      .orderBy("keeper_id")

  val dedupComponentsSql: String = {
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, s${2 * b} || s${2 * b + 1} AS key FROM sig").mkString("\nUNION ALL\n")
    val matches = Seeds.map(i => s"(CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH RECURSIVE sh AS (
       |$shinglesSql
       |), sig AS (
       |$signaturesSql
       |), bands AS (
       |$bandSelects
       |), ok AS (
       |  SELECT band, key FROM bands GROUP BY band, key
       |  HAVING count(*) <= $MaxBucketMembers
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |  JOIN ok ON ok.band = a.band AND ok.key = a.key
       |), pairs AS (
       |  SELECT cand.doc_a, cand.doc_b
       |  FROM cand
       |  JOIN sig a ON cand.doc_a = a.doc_id
       |  JOIN sig b ON cand.doc_b = b.doc_id
       |  WHERE CAST($matches AS DOUBLE) / ${Seeds.size} >= 0.5
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs
       |), reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |), comp AS (
       |  SELECT src AS id, least(src, min(dst)) AS comp
       |  FROM reach GROUP BY src
       |)
       |SELECT comp AS keeper_id, count(*) AS n_members,
       |  string_agg(CAST(id AS VARCHAR), '+' ORDER BY CAST(id AS VARCHAR)) AS members
       |FROM comp
       |GROUP BY comp
       |ORDER BY keeper_id""".stripMargin
  }

  // ---------------------------------------------------------------- t13
  /** Membership cap for [[componentAudit]]: a near-dup component larger
    * than this is almost certainly boilerplate/template text chaining
    * unrelated documents, not a genuine duplicate cluster. */
  val MaxComponentMembers = 8

  /** [[oversizedComponents]] as a declared query (the t12 pattern
    * applied to the clustering dimension): every connected component of
    * the near-dup graph whose membership exceeds [[MaxComponentMembers]].
    * Empty on a healthy corpus — and declared precisely so that the
    * giant-component failure mode surfaces as oracle-checked audit DATA
    * (schema + hash gated even at zero rows), not as a silently wrong
    * keeper assignment downstream. */
  val componentAudit: Q = (s, d) =>
    oversizedComponents(
        Io.parquet(s, s"${textDupIndex(s, d)}/comp"), MaxComponentMembers)
      .select(col("comp").as("comp_id"), col("n_members"))
      .orderBy("comp_id")

  val componentAuditSql: String = {
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, s${2 * b} || s${2 * b + 1} AS key FROM sig").mkString("\nUNION ALL\n")
    val matches = Seeds.map(i => s"(CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH RECURSIVE sh AS (
       |$shinglesSql
       |), sig AS (
       |$signaturesSql
       |), bands AS (
       |$bandSelects
       |), ok AS (
       |  SELECT band, key FROM bands GROUP BY band, key
       |  HAVING count(*) <= $MaxBucketMembers
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |  JOIN ok ON ok.band = a.band AND ok.key = a.key
       |), pairs AS (
       |  SELECT cand.doc_a, cand.doc_b
       |  FROM cand
       |  JOIN sig a ON cand.doc_a = a.doc_id
       |  JOIN sig b ON cand.doc_b = b.doc_id
       |  WHERE CAST($matches AS DOUBLE) / ${Seeds.size} >= 0.5
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs
       |), reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |), comp AS (
       |  SELECT src AS id, least(src, min(dst)) AS comp
       |  FROM reach GROUP BY src
       |)
       |SELECT comp AS comp_id, CAST(count(*) AS BIGINT) AS n_members
       |FROM comp
       |GROUP BY comp
       |HAVING count(*) > $MaxComponentMembers
       |ORDER BY comp_id""".stripMargin
  }

  // ---------------------------------------------------------------- t12
  /** The [[MaxBucketMembers]] escape hatch as a first-class audit query:
    * every LSH band bucket whose membership exceeds the pair-expansion
    * cap — exactly the buckets t06/t08 drop from candidate generation.
    * Empty on a healthy corpus (band keys are 32-hex MinHash fragments);
    * the point of declaring it is that the 100 TB degenerate-key guard
    * is itself oracle-checked, so a cap or key-distribution regression
    * surfaces as data in the audit, not as a silent executor OOM. */
  val bucketAudit: Q = (s, d) =>
    Io.parquet(s, s"${textDupIndex(s, d)}/audit")
      .orderBy("band", "key")

  val bucketAuditSql: String = {
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, s${2 * b} || s${2 * b + 1} AS key FROM sig").mkString("\nUNION ALL\n")
    s"""WITH sh AS (
       |$shinglesSql
       |), sig AS (
       |$signaturesSql
       |), bands AS (
       |$bandSelects
       |)
       |SELECT band, key, count(*) AS n_members
       |FROM bands
       |GROUP BY band, key
       |HAVING count(*) > $MaxBucketMembers
       |ORDER BY band, key""".stripMargin
  }

  // ---------------------------------------------------------------- t14
  /** Eval docs for the decontamination audit: the held-out set is the
    * first [[EvalDocs]] documents (a stand-in for a benchmark/eval
    * suite shipped beside the corpus). */
  val EvalDocs = 20

  /** N-gram width for contamination matching. Real pipelines use ~13
    * whitespace tokens (the GPT-3/Gopher rule); this corpus draws from a
    * ~30-word synthetic vocabulary, so 4-grams sit at the same
    * discrimination point (3-grams collide on 76% of documents by
    * chance, 4-grams on ~7% — genuine overlap, not noise). */
  val DecontamN = 4

  /** Exploded (doc_id, s) n-grams of width `n`; documents shorter than
    * `n` tokens contribute nothing (filtered BEFORE `sequence`, which
    * would otherwise generate a descending [1, 0] range). */
  private[graft] def ngrams(doc: DataFrame, n: Int): DataFrame = {
    val cat = (0 until n).map(j => s"try_element_at(ts, g + $j)")
      .mkString(", ' ', ")
    doc.select(col("doc_id"), toks.as("ts"))
      .filter(size(col("ts")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ts) - ${n - 1}), g -> concat($cat))")).as("s"))
  }

  /** Train/eval decontamination audit — the benchmark-leakage check a
    * training pipeline runs before a corpus ships: any training document
    * sharing a [[DecontamN]]-gram with a held-out eval document is
    * contaminated, reported with how many distinct n-grams leak and how
    * many eval documents it collides with.
    *
    * Scale posture: the eval n-gram set is EVAL-sized (thousands of
    * docs), not corpus-sized, so it broadcasts; the 100 TB training side
    * streams through the broadcast join with no shuffle before the final
    * per-doc aggregate (map-side combined). This is the one dedup-family
    * op whose join is legitimately broadcast — the build side is bounded
    * by the eval suite, never by the corpus. */
  val decontaminate: Q = (s, d) => {
    val g = ngrams(Par.widen(Tables.documents(s, d)), DecontamN)
    val ev = g.filter(col("doc_id") < EvalDocs)
      .select(col("doc_id").as("eval_id"), col("s")).distinct()
    g.filter(col("doc_id") >= EvalDocs)
      .join(broadcast(ev), "s")
      .groupBy("doc_id")
      .agg(countDistinct("s").as("n_hits"),
        countDistinct("eval_id").as("n_eval_docs"))
      .orderBy("doc_id")
  }

  /** Oracle CTEs (g, ev, hits) behind the contamination audit; shared
    * with the t17 funnel's decontamination gate. */
  private def decontamCtes: String = {
    val cat = (0 until DecontamN).map(j => s"ts[g.g+$j]").mkString(" || ' ' || ")
    s"""g AS (
       |  SELECT doc_id, $cat AS s
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |  LATERAL (SELECT unnest(generate_series(1, len(ts) - ${DecontamN - 1})) AS g) g
       |  WHERE len(ts) >= $DecontamN
       |), ev AS (
       |  SELECT DISTINCT doc_id AS eval_id, s FROM g WHERE doc_id < $EvalDocs
       |), hits AS (
       |  SELECT g.doc_id, g.s, ev.eval_id
       |  FROM g JOIN ev ON g.s = ev.s
       |  WHERE g.doc_id >= $EvalDocs
       |)""".stripMargin
  }

  val decontaminateSql: String =
    s"""WITH $decontamCtes
       |SELECT doc_id, count(DISTINCT s) AS n_hits,
       |  count(DISTINCT eval_id) AS n_eval_docs
       |FROM hits GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t15
  /** Token budget per packed training shard. */
  val PackBudget = 2048L

  /** Cardinality target for the per-range totals relation — the only
    * unpartitioned window in the packer runs over at most this many
    * rows, at ANY corpus scale. */
  val PackTargetRanges = 1000L * 1000

  /** Coarse range width for the distributed prefix sum, DERIVED from
    * the corpus id span: doc_ids in [0, maxId] grouped into ranges of
    * this width touch at most [[PackTargetRanges]] ranges (10^11 docs →
    * 10^6 ranges of width ~10^5), so the range-totals window is
    * genuinely file-count-sized everywhere. Floored at 64 so small
    * corpora keep multi-document ranges. The shard assignment is
    * invariant to the width (the prefix sum composes identically at any
    * split — proven by the naive-window equality spec at two widths). */
  private[graft] def packRangeFor(maxId: Long): Long =
    math.max(64L, maxId / PackTargetRanges + 1)

  /** Largest doc_id of a corpus (0 when empty) — the cheap,
    * column-pruned scan that sizes [[packRangeFor]]. */
  private[graft] def maxDocId(docs: DataFrame): Long =
    docs.agg(coalesce(max("doc_id"), lit(0L))).head.getLong(0)

  /** Sequence packing — assign documents, in doc_id order, to fixed
    * token-budget training shards (each doc goes wholly into the shard
    * where its cumulative token offset falls), and emit the shard
    * manifest. This is the sample-packing step that turns a deduped
    * corpus into fixed-size training chunks.
    *
    * Scale posture: a naive `sum(tok) OVER (ORDER BY doc_id)` is a
    * single-reducer global window — the classic scale trap. This is the
    * two-level distributed prefix sum instead: per-range token totals
    * (≤ [[PackTargetRanges]] rows by construction of [[packRangeFor]])
    * take the only unpartitioned window; range offsets broadcast back;
    * the per-document cumulative sum runs partitioned BY RANGE. At
    * 100 TB the ranges relation stays ≤ 10^6 rows and every
    * corpus-sized stage shuffles on its own bounded key. The oracle
    * spells the single-window form — same associative sum, same
    * result. */
  /** Per-document shard assignment behind t15 — (doc_id, tok, shard_id)
    * via the two-level prefix sum; also feeds the packed-shard sink
    * ([[graft.ops.Export.writePackedShards]]). */
  private[graft] def packAssignments(s: SparkSession, d: String): DataFrame = {
    // max(doc_id) runs on the RAW narrow scan — column-pruned, no
    // exchange. r16: no Par.widen here any more — the packer's per-row
    // work is a char count (nToksCheap), so round-robin-shuffling the
    // full text just to spread it would move corpus bytes for nothing;
    // the only corpus exchange left is the narrow (doc_id, tok, rng)
    // shuffle the range-partitioned window needs.
    val docs = Tables.documents(s, d)
    packAssignmentsOf(docs, packRangeFor(maxDocId(docs)))
  }

  /** The two-level prefix-sum packer over ANY (doc_id, text) relation —
    * t15 packs the raw corpus; the curated-shard sink packs the t19
    * survivor set (offsets recompute over the survivors, so shards stay
    * budget-dense after curation drops documents). `rangeWidth` comes
    * from [[packRangeFor]] on the caller's id span (any upper bound on
    * the relation's ids works — the assignment is width-invariant). */
  private[graft] def packAssignmentsOf(docs: DataFrame,
      rangeWidth: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(col("doc_id"),
      nToksCheap.cast("long").as("tok"),
      expr(s"doc_id div $rangeWidth").as("rng"))
    val wR = Window.orderBy("rng")
    val offs = t.groupBy("rng").agg(sum("tok").as("rtok"))
      .select(col("rng"), (sum("rtok").over(wR) - col("rtok")).as("roff"))
    val wD = Window.partitionBy("rng").orderBy("doc_id")
    t.join(broadcast(offs), "rng")
      .select(col("doc_id"), col("tok"),
        (col("roff") + sum("tok").over(wD) - col("tok")).as("gstart"))
      .select(col("doc_id"), col("tok"),
        floor(col("gstart") / PackBudget).as("shard_id"))
  }

  val sequencePack: Q = (s, d) =>
    packAssignments(s, d)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard_id")

  val sequencePackSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents
       |), p AS (
       |  SELECT doc_id, tok,
       |    CAST(floor(CAST(sum(tok) OVER (ORDER BY doc_id) - tok AS DOUBLE)
       |               / $PackBudget) AS BIGINT) AS shard_id
       |  FROM t
       |)
       |SELECT shard_id, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM p GROUP BY shard_id
       |ORDER BY shard_id""".stripMargin

  // ---------------------------------------------------------------- t16
  /** Repetition thresholds (the Gopher-rule shape: a document whose
    * n-gram mass concentrates in repeats is boilerplate/spam): flag when
    * more than 30% of trigram occurrences are repeats of an
    * already-seen trigram, or the single most frequent bigram accounts
    * for more than 18% of bigram occurrences. */
  val DupTrigramMax = 0.30
  val TopBigramMax = 0.18

  /** Repetition-based quality filter — duplicate-trigram fraction and
    * top-bigram concentration per document, with the keep/drop verdict.
    * Complements t10's length/punctuation/stopword score with the
    * repetition dimension real filter stacks (Gopher, C4) apply.
    *
    * Scale posture (r16): ONE in-row native census —
    * [[graft.functions.RepStats]] tokenizes and hash-counts each
    * document's grams in a single native loop, so the gate is a pure
    * projection with zero exchanges (the r15 plan exploded every gram
    * and paid two token-count-sized keyed exchanges). The r15 scaladoc's
    * measured 3.7× rejection of the in-row spelling was about
    * interpreted HOF lambdas (named_struct updates per gram), not
    * in-row evaluation — the native expression removes the
    * interpretation AND the shuffles; equivalence to the explode form
    * is locked by TextAggSpec and the t16/t17/t19 oracle hashes. */
  val repetitionScore: Q = (s, d) =>
    repetitionStats(Par.widen(Tables.documents(s, d)))

  private[graft] def repetitionStats(doc: DataFrame): DataFrame = {
    // pinned RepStats: evaluated exactly once per row; the null gate
    // and every derived column consume the projected struct attribute
    // (see the Sq8Code pushdown/inlining rationale)
    val st = doc.select(col("doc_id"),
        org.apache.spark.sql.GraftPlanBridge.exprColumn(
          graft.functions.RepStats(
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("text"),
            pinned = true)).as("rs"))
      .filter(col("rs").isNotNull)
    val dupFrac =
      (col("rs.n_tri") - col("rs.n_tri_d")).cast("double") / col("rs.n_tri")
    val topFrac = col("rs.top_big").cast("double") / col("rs.n_big")
    st.select(col("doc_id"), r6(dupFrac).as("dup_trigram_frac"),
        r6(topFrac).as("top_bigram_frac"),
        (dupFrac > DupTrigramMax || topFrac > TopBigramMax).as("repetitive"))
      .orderBy("doc_id")
  }

  /** Oracle CTEs (t3, t2, tri, big) behind the repetition stats; shared
    * with the t17 funnel's repetition gate. */
  private def repetitionCtes: String =
    """t3 AS (
      |  SELECT doc_id, ts[g.g] || ' ' || ts[g.g+1] || ' ' || ts[g.g+2] AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |  LATERAL (SELECT unnest(generate_series(1, len(ts) - 2)) AS g) g
      |  WHERE len(ts) >= 3
      |), t2 AS (
      |  SELECT doc_id, ts[g.g] || ' ' || ts[g.g+1] AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |  LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS g) g
      |  WHERE len(ts) >= 2
      |), tri AS (
      |  SELECT doc_id, count(*) AS n_tri, count(DISTINCT s) AS n_tri_d
      |  FROM t3 GROUP BY doc_id
      |), bigc AS (
      |  SELECT doc_id, s, count(*) AS n FROM t2 GROUP BY doc_id, s
      |), big AS (
      |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_big, max(n) AS top_big
      |  FROM bigc GROUP BY doc_id
      |)""".stripMargin

  val repetitionScoreSql: String =
    s"""WITH $repetitionCtes
       |SELECT tri.doc_id,
       |  0.0 + round(CAST(n_tri - n_tri_d AS DOUBLE) / n_tri, 6) AS dup_trigram_frac,
       |  0.0 + round(CAST(top_big AS DOUBLE) / n_big, 6) AS top_bigram_frac,
       |  (CAST(n_tri - n_tri_d AS DOUBLE) / n_tri > $DupTrigramMax
       |   OR CAST(top_big AS DOUBLE) / n_big > $TopBigramMax) AS repetitive
       |FROM tri JOIN big ON tri.doc_id = big.doc_id
       |ORDER BY tri.doc_id""".stripMargin

  // ---------------------------------------------------------------- t17
  /** Near-dup threshold the funnel drops at (estimated Jaccard from the
    * 8-permutation signature, the t06/t11 edge rule). */
  val FunnelJaccard = 0.5

  /** Driver budget for broadcasting a funnel-stage survivor id set into
    * the stage-3/4/5 semi-joins (doc_id-only rows, ~8 bytes each — 4M
    * ids ≈ 32 MB, the MaxSuperEdges/MaxBatchKeys budget class). Under
    * it the corpus streams map-side through the semi-join and its text
    * payload never shuffles; over it the join falls back to
    * shuffle-hash, which stays correct at any survivor cardinality. */
  private[graft] val FunnelSemiBroadcastMaxIds = 4L << 20

  /** The complete curation funnel as one declared relation — the
    * LLM-data analog of p05's pipeline summary: per-stage survivor
    * counts for exact dedup (keep lowest doc_id per md5), near-dup drop
    * (lose to a lower-id stage-1 survivor in a ≥[[FunnelJaccard]]
    * banding pair — the single-pass pairwise rule; t11's connected
    * components is the transitive variant), the t10 quality gate
    * (medium+high buckets), the t16 repetition gate (short docs with no
    * trigrams pass), and the t14 decontamination gate. Hash-gating the
    * six counts proves the COMPOSITION of the whole text family, not
    * just each filter alone.
    *
    * Scale posture: every stage is a doc_id set refined by semi/anti
    * joins against per-doc flags that are themselves map-side-combined
    * aggregates or pure projections — no stage joins two corpus-sized
    * relations on a non-key, and the stage census is a six-row union. */
  /** Dispatch threshold for the pinned-survivor funnel spelling:
    * evaluate stages 3-5 over materialized stage-2 survivors only when
    * near-dedup absorbed at least half the corpus. The pin
    * localCheckpoints full survivor doc rows INCLUDING the text
    * payload, so on a low-duplicate corpus (k2 ≈ docs) it would
    * materialize a corpus-sized text table in the BlockManager for
    * zero flag-work saved — the same corpus-shape failure mode the
    * mining dispatch ([[RepMineMaxFraction]]) guards against. Above
    * the threshold the build falls back to full-scan flag evaluation
    * (one corpus pass per flag relation, nothing survivor-pinned),
    * which is membership-identical because every flag is per-doc. */
  private[graft] val FunnelPinMaxFraction = 0.5

  /** The dispatch predicate behind [[funnelStages]]'s stage-3-5 route,
    * extracted so the threshold semantics are spec-pinned. */
  private[graft] def funnelPinPays(survivors: Long, docs: Long): Boolean =
    survivors <= FunnelPinMaxFraction * docs

  /** `pin` wraps each refined stage relation with an eager checkpoint
    * (both callers pass one): stage k+1 derives from k's MATERIALIZED
    * rows and the six-way union write reads each stage once instead of
    * re-deriving its chain per branch. No identity default — the
    * pinned-survivor arm's broadcast decision and shape dispatch
    * COUNT the pinned stages (a local-block pass), which on a lazy
    * relation would silently recompute the whole stage chain per
    * count and, without the checkpoint barrier, regress stages 3-5 to
    * the measured-bad pushed-down plan. `pinArm` forces one stage-3-5
    * arm (the arm-equality spec); by default [[funnelPinPays]] picks. */
  private[graft] def funnelStages(s: SparkSession, d: String,
      pin: DataFrame => DataFrame,
      pinArm: Option[Boolean] = None): Seq[(String, DataFrame)] = {
    import org.apache.spark.sql.expressions.Window
    // pins are EAGER (localCheckpoint), so timing each one attributes
    // the build's `stages` step to the stage that actually computed
    def tp(name: String)(df: DataFrame): DataFrame =
      Prof.tt("funnel")(name)(pin(df))
    val doc = Par.widen(Tables.documents(s, d))
    // k1 projects (doc_id, md5) BEFORE its exchange (guide §2.3, the
    // t09 shape): the window's hash(h) shuffle carries ~40-byte rows
    // instead of round-robining the full corpus text first (r17)
    val k1 = tp("k1-exact")(Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .withColumn("m", min("doc_id").over(Window.partitionBy("h")))
      .filter(col("doc_id") === col("m")).select("doc_id"))
    // nearpairs, not the full pair table: a byte-identical pair's
    // doc_b already lost exact dedup (shared md5 group, higher id), so
    // only genuinely-near pairs can drop — output-invariant
    // (spec-asserted) and the join input shrinks by the exact-replica
    // pair mass that dominates the 100× probe's 28.7M pairs
    val drop2 = nearPairs(s, d).filter(col("est_jaccard") >= FunnelJaccard)
      .join(k1.select(col("doc_id").as("doc_a")), "doc_a")
      .select(col("doc_b").as("doc_id")).distinct()
    val k2 = tp("k2-near")(k1.join(drop2, Seq("doc_id"), "left_anti"))
    // Stage-3-5 route is SHAPE-DISPATCHED ([[funnelPinPays]]): the
    // pinned-survivor arm only pays when near-dedup actually shrank
    // the corpus. Both counts are cheap — k2 is pinned (local-block
    // pass) and the corpus count is a column-pruned metadata scan.
    val nDocs = doc.select("doc_id").count()
    val k2n = k2.count()
    // both arms are membership-identical (spec-locked)
    val usePin = pinArm.getOrElse(funnelPinPays(k2n, nDocs))
    val (k3, k4, k5) = if (usePin) {
      // Stages 3-5 evaluate their per-doc flags over SURVIVORS ONLY —
      // k3 inner-joins the quality gate and k4/k5 anti-join repetitive /
      // contaminated sets, so docs already dropped can never re-enter
      // and restricting each flag relation's input to the prior stage is
      // membership-identical (the incremental updater at k3new/k4new/
      // k5new has always evaluated batch-only docs the same way). The
      // win is the per-doc flag work: the repetition trigram/bigram and
      // decontamination 4-gram explodes multiply rows by tokens-per-doc,
      // and after near-dedup most of a duplicate-heavy corpus is gone
      // (500k docs → 17.8k stage-2 survivors at the 100× probe).
      //
      // The restriction must go through a PIN, not a bare semi-join:
      // declaratively, `qualityFlags(doc ⋈ k2).filter(keep)` lets
      // Catalyst push the flag predicate through the join back onto the
      // corpus scan (filter pushdown has no expression-cost model, and
      // the regex/explode flags are exactly the expensive-predicate ×
      // selective-join case where pushdown HURTS — measured: the joined
      // spelling still paid the full 500k-doc regex pass, k3 ≈ 27 s).
      // The eager checkpoint is the optimization barrier: survivor docs
      // materialize ONCE (one corpus scan — broadcast semi-join under
      // [[FunnelSemiBroadcastMaxIds]] ids so the text payload never
      // shuffles, shuffle-hash fallback above it), and every later
      // stage's flag relation derives from the pinned survivor rows,
      // paying zero further corpus scans.
      // survivor id sets are pinned (tp), so their counts are
      // local-block passes and an under-budget set broadcasts —
      // doc_id-only rows, driver-budgeted like MaxBatchKeys; over it,
      // shuffle-hash stays correct at any cardinality
      def restrictTo(base: DataFrame, survivors: DataFrame, n: Long): DataFrame =
        if (n <= FunnelSemiBroadcastMaxIds)
          base.join(broadcast(survivors), Seq("doc_id"), "left_semi")
        else base.join(survivors.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
      val docsK2 = tp("k2-docs")(restrictTo(doc, k2, k2n))
      val k3 = tp("k3-quality")(
        qualityFlags(docsK2).filter(col("keep")).select("doc_id"))
      // survivor-sized ⋈ survivor-sized: derive later stages' doc views
      // from the pinned k2 docs, never the corpus
      val docsK3 = restrictTo(docsK2, k3, k3.count())
      val k4 = tp("k4-repetition")(k3.join(
        repetitionStats(docsK3).filter(col("repetitive")).select("doc_id"),
        Seq("doc_id"), "left_anti"))
      // the eval n-gram set stays FULL-corpus-head (doc_id < EvalDocs is
      // the eval suite whether or not those docs survive curation — and
      // its scan prunes to the head row groups by the pushed id filter);
      // the training side restricts to k4 and mirrors the >= EvalDocs
      // filter exactly like [[decontaminate]] and the incremental
      // updater do
      val ev = ngrams(doc.filter(col("doc_id") < EvalDocs), DecontamN)
        .select("s").distinct()
      val contaminated = ngrams(
          restrictTo(docsK2, k4, k4.count()).filter(col("doc_id") >= EvalDocs),
          DecontamN)
        .join(broadcast(ev), "s").select("doc_id").distinct()
      val k5 = tp("k5-decontam")(k4.join(contaminated, Seq("doc_id"), "left_anti"))
      (k3, k4, k5)
    } else {
      // Low-duplicate corpus: survivors ≈ corpus, so pinning them would
      // double-store the text payload for no flag work saved. Evaluate
      // each per-doc flag over the corpus scan directly (the pre-pin
      // spelling) and refine the id sets by semi/anti joins.
      val k3 = tp("k3-quality")(k2.join(
        qualityFlags(doc).filter(col("keep")).select("doc_id"), "doc_id"))
      val k4 = tp("k4-repetition")(k3.join(
        repetitionStats(doc).filter(col("repetitive")).select("doc_id"),
        Seq("doc_id"), "left_anti"))
      val k5 = tp("k5-decontam")(k4.join(
        decontaminate(s, d).select("doc_id"), Seq("doc_id"), "left_anti"))
      (k3, k4, k5)
    }
    FunnelStageNames.zip(Seq(doc.select("doc_id"), k1, k2, k3, k4, k5))
  }

  /** Funnel stage labels in order — the fixed census row set: t17 must
    * emit all six rows even when a stage strands zero survivors (the
    * oracle's UNION ALL of counts always yields six), so the serve path
    * left-joins these labels rather than trusting groupBy to cover
    * them. */
  private[graft] val FunnelStageNames = Seq("00_total", "01_exact_dedup",
    "02_near_dedup", "03_quality", "04_repetition", "05_decontaminated")

  private val funnelCache = new BuildCache[String]

  /** Materialized funnel-stage membership table `(stage, doc_id)`,
    * built once per corpus version — the curation analog of the
    * signature table: the t17 census, the t19 membership and the
    * curated-shard sink all serve from it instead of re-deriving the
    * five-stage near-dup/quality/decontamination lineage per query
    * (the t17 union census alone evaluates six count branches over
    * that lineage). Parquet round-trips (string, long) exactly, so
    * serving from the index is bit-identical to the live derivation.
    * At 100 TB the table is O(6 × corpus) rows of ~20 bytes — the
    * standard curation-manifest artifact a pipeline materializes
    * anyway, rebuilt only when the corpus version changes. */
  private[graft] def funnelIndex(s: SparkSession, d: String): DataFrame = {
    val path = funnelCache.get(
      s"$d@${BuildCache.version(d, "documents.parquet")}") {
      Warehouse.getOrBuild("funnel", d, "documents.parquet") { tmp =>
        def tt[A](name: String)(f: => A): A = Prof.tt("funnel")(name)(f)
        // each stage eagerly checkpoints so its successor — and the
        // six-branch union write — reads materialized rows instead of
        // re-deriving the chain per branch; every pin is released once
        // the table is written (the k-means/t11 loop discipline)
        val pins = scala.collection.mutable.ListBuffer.empty[org.apache.spark.rdd.RDD[_]]
        try {
          // REBALANCE before the write (guide §6): the six-branch union
          // inherits every pinned stage's partitioning (99 tiny files
          // at sf0.1/32 cores — t17/t19 serves pay the per-file scan
          // overhead); the rebalance shuffles only ~20-byte
          // (stage, doc_id) rows and AQE sizes the output files.
          tt("stages")(Warehouse.writeParquet(
            funnelStages(s, d, pin = { df =>
                val (out, p) = Checkpoints.pin(df)
                pins += p
                out
              })
              .map { case (st, df) => df.select(lit(st).as("stage"), col("doc_id")) }
              .reduce(_ unionByName _)
              .hint("rebalance"),
            s"$tmp/stages"))
        } finally pins.foreach(Checkpoints.release)
        // hashes/ side table: what the INCREMENTAL updater joins a
        // batch against to settle exact-dedup membership without
        // re-hashing the historic corpus
        // rebalanced like sig/simhash (guide §6): a pure projection
        // would land one small file per scan task at scale
        tt("hashes")(Warehouse.writeParquet(
          Tables.documents(s, d).select(col("doc_id"),
            md5(col("text").cast("binary")).as("h"))
            .hint("rebalance"),
          s"$tmp/hashes"))
        // the textdup pair-state epoch this stage table incorporated —
        // an append whose current epoch still matches can prove the
        // pair delta is pure-add and skip the full-pair stage-2 join
        readEpoch(s, textDupIndex(s, d), "epoch")
          .foreach(writeEpoch(s, tmp.toString, "pairsepoch", _))
      }
    }
    Io.parquet(s, s"$path/stages")
  }

  /** Explicit build step (the curation CREATE INDEX analog); queries
    * build lazily on first use, [[graft.Bench]]'s warm-up runs it up
    * front so query timings measure serving. */
  def buildFunnel(s: SparkSession, d: String): Unit = {
    funnelIndex(s, d)
    ()
  }

  /** Test hook: drop the per-dataset funnel index cache. */
  private[graft] def clearFunnelCache(): Unit = funnelCache.clear()

  val curationFunnel: Q = (s, d) => {
    import s.implicits._
    // left-join the fixed stage labels so an emptied stage still yields
    // its n_docs=0 row (groupBy alone would drop it; the oracle's UNION
    // ALL census never does)
    val counts = funnelIndex(s, d)
      .groupBy("stage").agg(count(lit(1)).as("cnt"))
    FunnelStageNames.toDF("stage")
      .join(counts, Seq("stage"), "left")
      .select(col("stage"), coalesce(col("cnt"), lit(0L)).as("n_docs"))
      .orderBy("stage")
  }

  /** Oracle CTE chain through the k5 survivor set, shared by t17/t19. */
  private def funnelCtes: String = {
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, s${2 * b} || s${2 * b + 1} AS key FROM sig").mkString("\nUNION ALL\n")
    val matches = Seeds.map(i => s"(CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH sh AS (
       |$shinglesSql
       |), sig AS (
       |$signaturesSql
       |), bands AS (
       |$bandSelects
       |), ok AS (
       |  SELECT band, key FROM bands GROUP BY band, key
       |  HAVING count(*) <= $MaxBucketMembers
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |  JOIN ok ON ok.band = a.band AND ok.key = a.key
       |), est AS (
       |  SELECT cand.doc_a, cand.doc_b,
       |    CAST($matches AS DOUBLE) / ${Seeds.size} AS est
       |  FROM cand
       |  JOIN sig a ON cand.doc_a = a.doc_id
       |  JOIN sig b ON cand.doc_b = b.doc_id
       |), k1 AS (
       |  SELECT d.doc_id
       |  FROM documents d
       |  JOIN (SELECT md5(text) AS h, min(doc_id) AS m
       |        FROM documents GROUP BY md5(text)) g
       |    ON md5(d.text) = g.h AND d.doc_id = g.m
       |), drop2 AS (
       |  SELECT DISTINCT e.doc_b AS doc_id
       |  FROM est e JOIN k1 ON e.doc_a = k1.doc_id
       |  WHERE e.est >= $FunnelJaccard
       |), k2 AS (
       |  SELECT doc_id FROM k1
       |  WHERE doc_id NOT IN (SELECT doc_id FROM drop2)
       |), q AS (
       |  $qualitySqlBody
       |), k3 AS (
       |  SELECT k2.doc_id FROM k2 JOIN q ON k2.doc_id = q.doc_id
       |  WHERE q.quality >= 0.5
       |), $repetitionCtes, rep AS (
       |  SELECT tri.doc_id FROM tri JOIN big ON tri.doc_id = big.doc_id
       |  WHERE CAST(n_tri - n_tri_d AS DOUBLE) / n_tri > $DupTrigramMax
       |     OR CAST(top_big AS DOUBLE) / n_big > $TopBigramMax
       |), k4 AS (
       |  SELECT doc_id FROM k3
       |  WHERE doc_id NOT IN (SELECT doc_id FROM rep)
       |), $decontamCtes, cont AS (
       |  SELECT DISTINCT doc_id FROM hits
       |), k5 AS (
       |  SELECT doc_id FROM k4
       |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)
       |)""".stripMargin
  }

  val curationFunnelSql: String =
    s"""$funnelCtes
       |SELECT '00_total' AS stage, count(*) AS n_docs FROM documents
       |UNION ALL SELECT '01_exact_dedup', count(*) FROM k1
       |UNION ALL SELECT '02_near_dedup', count(*) FROM k2
       |UNION ALL SELECT '03_quality', count(*) FROM k3
       |UNION ALL SELECT '04_repetition', count(*) FROM k4
       |UNION ALL SELECT '05_decontaminated', count(*) FROM k5
       |ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------- t19
  /** The curated corpus itself — the funnel's final survivor set joined
    * back to its metadata. t17 gates the per-stage counts; this gates
    * the actual MEMBERSHIP the pipeline ships downstream (the relation a
    * dataloader or the packed-shard sink consumes), so a filter change
    * that keeps counts stable but swaps documents still breaks the hash.
    * Output is metadata-only (doc_id, source, lang, n_chars): the text
    * payload stays in the store, exactly like the multimodal manifests
    * prune their binary columns. */
  val curatedDocs: Q = (s, d) =>
    funnelIndex(s, d)
      .filter(col("stage") === "05_decontaminated").select("doc_id")
      .join(Tables.documents(s, d).select("doc_id", "source", "lang", "n_chars"),
        "doc_id")
      .orderBy("doc_id")

  val curatedDocsSql: String =
    s"""$funnelCtes
       |SELECT k5.doc_id, d.source, d.lang, d.n_chars
       |FROM k5 JOIN documents d ON k5.doc_id = d.doc_id
       |ORDER BY k5.doc_id""".stripMargin

  // ---------------------------------------------------------------- t18
  /** Source-mixture census and sampling weights — the data-mixing step
    * that follows curation: per source, document and token counts, the
    * source's share of the token budget, and the repeat/sampling weight
    * that would equalize the mixture (target = uniform across sources;
    * weight = total/(n_sources · source_tokens), >1 means upsample).
    *
    * Scale posture: one map-side-combined groupBy(source); the analytic
    * windows run UNPARTITIONED but over the already-aggregated
    * source-count-sized relation (the p05 pattern), never the corpus. */
  val sourceMixture: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // NULL-text guard: SQL sum skips NULLs — the census counts non-null
    // texts only so both engines agree on any corpus (the t24 rule);
    // nToksCheap yields NULL on NULL text so the guard is belt-and-braces
    val per = Tables.documents(s, d).groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("text").isNotNull, nToksCheap.cast("long")))
          .as("n_tokens"))
    val all = Window.partitionBy()
    per
      .withColumn("tot", sum("n_tokens").over(all))
      .withColumn("nsrc", count(lit(1)).over(all))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        r6(col("n_tokens").cast("double") / col("tot")).as("token_share"),
        r6(col("tot").cast("double") / (col("nsrc") * col("n_tokens")))
          .as("mix_weight"))
      .orderBy("source")
  }

  val sourceMixtureSql: String =
    """WITH per AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |)
      |SELECT source, n_docs, n_tokens,
      |  0.0 + round(CAST(n_tokens AS DOUBLE)
      |    / CAST(sum(n_tokens) OVER () AS BIGINT), 6) AS token_share,
      |  0.0 + round(CAST(sum(n_tokens) OVER () AS DOUBLE)
      |    / (count(*) OVER () * n_tokens), 6) AS mix_weight
      |FROM per
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t20
  /** CCNet-style head/middle/tail corpus bucketing by a frequency-class
    * surprisal proxy. CCNet buckets documents by LM perplexity
    * terciles; with no LM in this environment the proxy is each
    * token's corpus-frequency CLASS — the bit length of its count,
    * i.e. floor(log2 c)+1, integer-exact in BOTH engines where a float
    * log() could drift an ulp — and a document scores the mean class
    * of its tokens (common vocabulary → high class → "head"). Tercile
    * cutoffs come from exact interpolating percentiles (the s04
    * convention), not an ntile window, so no corpus-sized relation
    * passes through one reducer beyond the documented exact-percentile
    * aggregate — whose 100 TB replacement is declared by t21's
    * bounded-error approx twin ([[freqBucketApprox]]).
    *
    * Scale posture: one explode → (token) keyed count, one
    * token-keyed SHUFFLED join back (corpus-derived on both sides —
    * pinned shuffle_hash, never broadcast, the t08 discipline), one
    * doc-keyed mean, and a two-value cutoff broadcast. */
  // ------------------------------------------------- freq artifact
  private val freqCache = new BuildCache[String]

  /** Token frequency-class (bit-length of the corpus count) per token
    * of a counts relation — the t20/t21 surprisal proxy. */
  private def tokenKlass(counts: DataFrame): DataFrame =
    counts.select(col("w"), length(bin(col("c"))).cast("int").as("klass"))

  /** The live per-doc score lineage over an arbitrary (doc_id, w)
    * token relation against a (w, c) count relation: corpus-derived on
    * both sides, so the class join is pinned shuffled (never
    * broadcast — vocabulary scales with the corpus). */
  private def scoresOf(toks: DataFrame, counts: DataFrame): DataFrame =
    toks.join(tokenKlass(counts).hint("shuffle_hash"), "w")
      .groupBy("doc_id").agg(avg("klass").as("score"))

  /** Materialized frequency-score artifact `freq@…` — the corpus pass
    * t20 AND t21 each re-derived per run (token explode + corpus-keyed
    * frequency join, the only per-query corpus JOIN left in the text
    * family). Tables:
    *  - `counts/` (w, c) — the token census (what the incremental
    *    append merges batch counts into, the sizes/ pattern);
    *  - `scores/` (doc_id, isum, len) — each doc's INTEGER class sum
    *    and token count. Stored as integers (not the divided double)
    *    so a class-crossing correction can add exactly: serving
    *    divides isum/len the same way `avg` does (double sums of
    *    integers below 2^53 are exact), so the served score is
    *    bit-identical to the live avg(klass) lineage;
    *  - `post/` (w, doc_id, mult) — the inverted postings, written
    *    range-partitioned and SORTED by token so a crossed-token probe
    *    prunes to its row groups (the tile/day discipline). This is
    *    what makes crossings repricable in O(affected) instead of
    *    forcing a corpus rebuild — at a real Zipf vocabulary a batch
    *    crosses SOME rare token's power of two almost every append,
    *    so a rebuild fallback would dominate at scale;
    *  - `corr/` (doc_id, dsum) — pending integer corrections from
    *    class crossings, folded into isum at serve time and compacted
    *    away by the next full rebuild.
    * At 100 TB counts/scores/corr are result-sized (vocabulary + one
    * row per document); post/ is the corpus's distinct (token, doc)
    * pairs — the standard inverted-index artifact, built once,
    * appended O(batch), probed via row-group pruning. */
  private[graft] def freqIndex(s: SparkSession, d: String): String =
    freqCache.get(s"$d@${BuildCache.version(d, "documents.parquet")}") {
      Warehouse.getOrBuild("freq", d, "documents.parquet") { tmp =>
        val (tkg, pin) = Checkpoints.pin(Par.widen(Tables.documents(s, d))
          .select(col("doc_id"), explode(toks).as("w"))
          .groupBy("w", "doc_id").agg(count(lit(1)).as("mult")))
        try {
          Warehouse.writeParquet(tkg.repartitionByRange(col("w"))
            .sortWithinPartitions("w"), s"$tmp/post")
          Warehouse.writeParquet(
            tkg.groupBy("w").agg(sum("mult").as("c")), s"$tmp/counts")
          val klass = tokenKlass(Io.parquet(s, s"$tmp/counts"))
          Warehouse.writeParquet(
            tkg.join(klass.hint("shuffle_hash"), "w")
              .groupBy("doc_id")
              .agg(sum(col("mult") * col("klass")).as("isum"),
                sum("mult").as("len")), s"$tmp/scores")
        } finally Checkpoints.release(pin)
      }
    }

  /** Served per-doc scores: the integer base plus any pending crossing
    * corrections, divided exactly as `avg` would — bit-identical to
    * the live lineage at any correction depth. */
  private def freqScores(s: SparkSession, d: String): DataFrame = {
    val idx = freqIndex(s, d)
    val base = Io.parquet(s, s"$idx/scores")
    val corrDir = java.nio.file.Paths.get(idx, "corr")
    val summed =
      if (java.nio.file.Files.isDirectory(corrDir)) {
        // corrections are bounded (appendToFreqIncremental compacts by
        // full rebuild past CorrCap), so this join broadcasts under AQE
        val corr = Io.parquet(s, corrDir.toString)
          .groupBy("doc_id").agg(sum("dsum").as("dsum"))
        base.join(corr, Seq("doc_id"), "left")
          .select(col("doc_id"),
            (col("isum") + coalesce(col("dsum"), lit(0L))).as("isum"),
            col("len"))
      } else base
    summed.select(col("doc_id"),
      (col("isum").cast("double") / col("len").cast("double")).as("score"))
  }

  /** Explicit build step; queries build lazily on first use,
    * [[graft.Bench]]'s warm-up runs it up front so t20/t21 timings
    * measure serving. */
  def buildFreq(s: SparkSession, d: String): Unit = {
    freqIndex(s, d)
    ()
  }

  /** Test hook: drop the per-dataset freq-artifact cache. */
  private[graft] def clearFreqCache(): Unit = freqCache.clear()

  /** Plan-shape hook: the live scores lineage `freq_build` executes
    * (TextAggSpec locks the token-class join shuffled — its build side
    * scales with the vocabulary, never broadcast). */
  private[graft] def freqScoresPlan(s: SparkSession, d: String): DataFrame = {
    val tk = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks).as("w"))
    scoresOf(tk, tk.groupBy("w").agg(count(lit(1)).as("c")))
  }

  /** INCREMENTAL freq maintenance. A document's score depends on the
    * GLOBAL class of each token it contains, so corpus growth could in
    * principle reprice every prior document — but the class is a
    * COUNT BIT-LENGTH: it moves only when a token's count crosses a
    * power of two, and appends only grow counts. The updater merges
    * the batch's token counts into the persisted census (map-side, the
    * sizes/ pattern); prior `scores/` and `post/` files always carry by
    * hard link and only the batch docs score fresh (against the
    * batch-vocabulary slice of the merged census).
    *
    * When a batch-hit token DOES cross a power of two, the prior docs
    * containing it reprice EXACTLY and in O(affected): the crossed
    * tokens (few — each is one census row) probe the token-sorted
    * `post/` postings via row-group pruning, and each affected doc
    * gains one integer `corr/` row (mult × class-delta), folded into
    * its isum at serve time. Integer arithmetic means the corrected
    * score is bit-identical to a from-scratch rebuild — spec-asserted,
    * including a crossing case. Only a DEGENERATE batch routes to the
    * idempotent full rebuild (a compaction): more crossed tokens than
    * `graft.freq.maxCrossed` (default 4096 — a batch re-classing that
    * much of the vocabulary is a corpus-scale event, not an append) or
    * a pending-correction set past CorrCap (serve-side broadcast
    * bound), plus any unexpected failure. */
  def appendToFreq(s: SparkSession, d: String, appended: DataFrame): Unit =
    Warehouse.maintain("freq", d)(buildFreq(s, d))(
      appendToFreqIncremental(s, d, appended, _))

  /** File count for a sorted batch-posting append: one file for a
    * normal micro-batch (tiny-file accumulation is the enemy — post/
    * gains one file per append), widening only when the incoming batch
    * itself arrived in many input splits (a bulk load). Derived from
    * the physical split count, no extra Spark job. */
  private def appendSortFiles(batch: DataFrame): Int =
    math.max(1, math.min(8, batch.rdd.getNumPartitions / 4))

  /** Crossed-token cap for one append (override: `graft.freq.maxCrossed`). */
  private def maxCrossed: Int =
    sys.props.get("graft.freq.maxCrossed").flatMap(_.toIntOption).getOrElse(4096)

  /** Pending corrections past this many rows (or 5% of the corpus)
    * compact via full rebuild, keeping the serve-side fold broadcastable. */
  private val CorrCapRows = 65536L

  private def appendToFreqIncremental(s: SparkSession, d: String,
      appended: DataFrame, prior: String): Unit = {
    Warehouse.getOrBuild("freq", d, "documents.parquet") { tmp =>
      import s.implicits._
      val (btg, pin) = Checkpoints.pin(
        appended.select(col("doc_id"), explode(toks).as("w"))
          .groupBy("w", "doc_id").agg(count(lit(1)).as("mult")))
      try {
        val bc = btg.groupBy("w").agg(sum("mult").as("b_c"))
        val priorCounts = Io.parquet(s, s"$prior/counts")
        // batch-hit tokens whose class (count bit-length) grew, with
        // the integer class delta — driver-collected (bounded by the
        // batch vocabulary and capped) so the postings probe below can
        // push the token list into parquet row-group pruning
        val crossed = priorCounts.join(broadcast(bc), "w")
          .select(col("w"), (length(bin(col("c") + col("b_c"))) -
            length(bin(col("c")))).cast("int").as("dk"))
          .filter(col("dk") > 0).collect()
        if (crossed.length > maxCrossed) throw Warehouse.Rebuild("crossed-cap")
        val grown = priorCounts.join(broadcast(bc), Seq("w"), "left")
          .select(col("w"), (col("c") + coalesce(col("b_c"), lit(0L))).as("c"))
        val matched = priorCounts
          .join(broadcast(bc.select("w")), Seq("w"), "left_semi").select("w")
        val freshW = bc.join(matched, Seq("w"), "left_anti")
          .select(col("w"), col("b_c").as("c"))
        Warehouse.writeParquet(grown.unionByName(freshW), s"$tmp/counts")
        // prior scores, postings, and pending corrections carry by file
        Warehouse.copyData(s"$prior/scores", tmp.resolve("scores"))
        Warehouse.copyData(s"$prior/post", tmp.resolve("post"))
        val priorCorr = java.nio.file.Paths.get(prior, "corr")
        val hasPriorCorr = java.nio.file.Files.isDirectory(priorCorr)
        if (hasPriorCorr)
          Warehouse.copyData(priorCorr.toString, tmp.resolve("corr"))
        if (crossed.nonEmpty) {
          // the pending-correction row count only feeds the compaction
          // bound below, so the (common) no-crossing append never pays
          // this job
          val priorCorrRows =
            if (hasPriorCorr) Io.parquet(s, priorCorr.toString).count()
            else 0L
          // reprice ONLY the prior docs containing a crossed token:
          // the isin pushdown prunes the token-sorted postings to the
          // crossed tokens' row groups — O(affected), never O(corpus)
          val words = crossed.map(_.getString(0)).toSeq
          val dkDf = crossed.map(r => (r.getString(0), r.getInt(1).toLong))
            .toSeq.toDF("w", "dk")
          val corr = Io.parquet(s, s"$prior/post")
            .filter(col("w").isin(words: _*))
            .join(broadcast(dkDf), "w")
            .groupBy("doc_id").agg(sum(col("mult") * col("dk")).as("dsum"))
            .persist()
          try {
            val affected = corr.count()
            val priorDocs = Io.parquet(s, s"$prior/scores").count()
            if (priorCorrRows + affected > math.max(CorrCapRows, priorDocs / 20))
              throw Warehouse.Rebuild("corr-cap")
            corr.write.mode("append").parquet(s"$tmp/corr")
          } finally { corr.unpersist(); () }
        }
        // only the batch docs score fresh, against the batch-vocabulary
        // slice of the merged census (post-crossing classes, so no
        // correction rows apply to them)
        val batchKlass = tokenKlass(Io.parquet(s, s"$tmp/counts")
          .join(broadcast(bc.select("w")), Seq("w"), "left_semi"))
        btg.join(batchKlass, "w")
          .groupBy("doc_id")
          .agg(sum(col("mult") * col("klass")).as("isum"),
            sum("mult").as("len"))
          .write.mode("append").parquet(s"$tmp/scores")
        // keep every appended file token-sorted like the full build's
        // repartitionByRange(w) layout: the crossing probe's isin prunes
        // post/ by row-group min/max on w, and an unsorted batch file
        // spans the whole token range — after many streaming appends the
        // probe would degrade from O(affected) back to O(corpus). The
        // sort is batch-sized (one small exchange of the batch postings).
        btg.select("w", "doc_id", "mult")
          .repartitionByRange(appendSortFiles(appended), col("w"))
          .sortWithinPartitions("w")
          .write.mode("append").parquet(s"$tmp/post")
        // past the file budget the carried tables rewrite in place:
        // post/ re-sorts GLOBALLY on w, restoring the tight per-file
        // token ranges the crossing probe's row-group pruning wants
        // (per-batch files each span their own batch's vocabulary)
        Warehouse.compactIfNeeded(s, tmp.resolve("post"), Seq("w"))
        Warehouse.compactIfNeeded(s, tmp.resolve("scores"), Seq("doc_id"))
        Warehouse.compactIfNeeded(s, tmp.resolve("corr"), Seq("doc_id"))
      } finally Checkpoints.release(pin)
    }
    ()
  }

  val freqBucket: Q = (s, d) => {
    // serves from the freq artifact: the corpus token pass ran at
    // build time; the cutoff aggregate and the bucket projection run
    // over the doc-count-sized scores table
    val scores = freqScores(s, d)
    val cuts = scores.agg(
      expr("percentile(score, 0.6666666666666666)").as("c_head"),
      expr("percentile(score, 0.3333333333333333)").as("c_mid"))
    scores.crossJoin(broadcast(cuts))
      .select(col("doc_id"), r6(col("score")).as("score"),
        when(col("score") >= col("c_head"), "head")
          .when(col("score") >= col("c_mid"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  val freqBucketSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
       |), k AS (
       |  SELECT w, CAST(length(bin(count(*))) AS INT) AS klass
       |  FROM toks GROUP BY w
       |), scores AS (
       |  SELECT doc_id, avg(klass) AS score
       |  FROM toks JOIN k USING (w) GROUP BY doc_id
       |), cuts AS (
       |  SELECT quantile_cont(score, 0.6666666666666666) AS c_head,
       |         quantile_cont(score, 0.3333333333333333) AS c_mid
       |  FROM scores
       |)
       |SELECT doc_id, 0.0 + round(score, 6) AS score,
       |  CASE WHEN score >= c_head THEN 'head'
       |       WHEN score >= c_mid THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM scores, cuts
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t21
  /** The 100 TB path for t20's cutoffs. t20 derives its tercile
    * cutoffs from exact interpolating percentiles, which accumulate a
    * value-count map on ONE final aggregator — correct and
    * DuckDB-hash-exact, but a memory hazard at 10¹¹ documents. This
    * twin derives the same cutoffs from the mergeable one-pass
    * `approx_percentile` sketch (partials combine map-side; nothing
    * corpus-sized reaches a single reducer) and declares the s06-style
    * error contract: the sketch cutoff must land inside the exact
    * ±0.05-QUANTILE window, asserted as a boolean the oracle pins to
    * TRUE. Sketch values are engine-specific, so the DECLARED columns
    * are the exact cutoffs plus the bound verdicts — the gate checks
    * the contract; the sketch plan is the scale path. */
  val freqBucketApprox: Q = (s, d) => {
    // serves from the freq artifact: BOTH passes (the cutoff/sketch
    // aggregate and the window-population count) are scans of the
    // doc-count-sized scores table — before r10 each run re-executed
    // the token explode + frequency join TWICE
    val scores = freqScores(s, d)
    val cuts = scores.agg(
      count(lit(1)).as("n_docs"),
      r6(expr("percentile(score, 0.6666666666666666)")).as("c_head_exact"),
      r6(expr("percentile(score, 0.3333333333333333)")).as("c_mid_exact"),
      expr("approx_percentile(score, 0.6666666666666666, 1000)").as("ah"),
      expr("approx_percentile(score, 0.3333333333333333, 1000)").as("am"),
      expr("percentile(score, 0.6166666666666666)").as("hlo"),
      expr("percentile(score, 0.7166666666666666)").as("hhi"),
      expr("percentile(score, 0.2833333333333333)").as("mlo"),
      expr("percentile(score, 0.3833333333333333)").as("mhi"))
    // The ±0.05-quantile window endpoints are INTERPOLATED values; on a
    // tiny corpus the window can lie strictly inside a gap between two
    // consecutive scores, so the sketch (which returns actual elements)
    // could never land inside it and the verdict would flip on a
    // healthy sketch. A second pass counts the actual elements in each
    // window: an EMPTY window excuses the check (vacuously in-bound),
    // a populated one asserts for real — well-defined at every n.
    scores.crossJoin(broadcast(cuts))
      .groupBy("n_docs", "c_head_exact", "c_mid_exact",
        "ah", "am", "hlo", "hhi", "mlo", "mhi")
      .agg(
        sum(when(col("score").between(col("hlo"), col("hhi")), 1)
          .otherwise(0)).as("n_in_head_win"),
        sum(when(col("score").between(col("mlo"), col("mhi")), 1)
          .otherwise(0)).as("n_in_mid_win"))
      .select(col("n_docs"), col("c_head_exact"), col("c_mid_exact"),
        (col("n_in_head_win") === 0 ||
          col("ah").between(col("hlo"), col("hhi"))).as("head_in_bound"),
        (col("n_in_mid_win") === 0 ||
          col("am").between(col("mlo"), col("mhi"))).as("mid_in_bound"))
      .orderBy("n_docs")
  }

  val freqBucketApproxSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      |), k AS (
      |  SELECT w, CAST(length(bin(count(*))) AS INT) AS klass
      |  FROM toks GROUP BY w
      |), scores AS (
      |  SELECT doc_id, avg(klass) AS score
      |  FROM toks JOIN k USING (w) GROUP BY doc_id
      |)
      |SELECT count(*) AS n_docs,
      |  0.0 + round(quantile_cont(score, 0.6666666666666666), 6) AS c_head_exact,
      |  0.0 + round(quantile_cont(score, 0.3333333333333333), 6) AS c_mid_exact,
      |  TRUE AS head_in_bound,
      |  TRUE AS mid_in_bound
      |FROM scores
      |ORDER BY n_docs""".stripMargin

  // ---------------------------------------------------------------- t22
  /** Context-window chunking geometry: [[ChunkTokens]]-token windows
    * every [[ChunkStride]] tokens (8-token overlap), the shape a
    * fixed-context trainer slices documents into. */
  val ChunkTokens = 32
  val ChunkStride = 24

  /** Overlapping token-window chunking — split each document into
    * sliding [[ChunkTokens]]-token windows advancing by [[ChunkStride]]
    * (the context-length preprocessing step between curation and
    * sequence packing; t15 packs whole docs into shard budgets, this
    * splits docs that exceed the context into overlapping training
    * windows). The tail window is shorter by construction and kept —
    * dropping remainder tokens would silently lose corpus mass.
    *
    * Scale posture: the whole computation is per-row array work
    * (sequence → slice inside one transform, then posexplode), so the
    * only exchange is the output ORDER BY — chunking 100 TB is an
    * embarrassingly parallel map with output ~(corpus tokens / stride)
    * rows, and the explode multiplies rows only by docs' window counts,
    * never tokens. */
  val chunkWindows: Q = (s, d) => {
    val doc = Par.widen(Tables.documents(s, d))
    doc.select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, size(t), $ChunkStride), st -> struct(
           |  st AS chunk_start,
           |  size(slice(t, st, $ChunkTokens)) AS n_chunk_tokens,
           |  array_join(slice(t, st, $ChunkTokens), ' ') AS chunk_text))"""
          .stripMargin)))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
        col("col.chunk_start"), col("col.n_chunk_tokens"),
        col("col.chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  val chunkWindowsSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), win AS (
       |  SELECT doc_id, t,
       |    unnest(generate_series(1, len(t), $ChunkStride)) AS st
       |  FROM tok
       |)
       |SELECT doc_id, CAST((st - 1) // $ChunkStride AS INT) AS chunk_idx,
       |  CAST(st AS INT) AS chunk_start,
       |  CAST(len(t[st:st + ${ChunkTokens - 1}]) AS INT) AS n_chunk_tokens,
       |  array_to_string(t[st:st + ${ChunkTokens - 1}], ' ') AS chunk_text
       |FROM win
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- t23
  /** Keywords kept per document. */
  val KeywordTopK = 3

  // ----------------------------------------------- keywords artifact
  private val keywordsCache = new BuildCache[String]

  /** The one-corpus-pass (doc_id, term, tf) census behind the keywords
    * artifact. `explode_outer` keeps a (doc, NULL-term) row per
    * null-text document, so the corpus DOC COUNT (the idf N) derives
    * from this same pass — no second scan, no driver-side
    * `documents.count()` job per query construction (the r15 wart). */
  private def tfCensus(doc: DataFrame): DataFrame =
    doc.select(col("doc_id"), explode_outer(toks).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** Plan-shape hook: the pre-pin census lineage [[keywordsIndex]]
    * executes — PlanShapeSpec locks it to one corpus scan, one explode,
    * and a map-side-combined (doc_id, term) aggregate. */
  private[graft] def keywordsCensusPlan(s: SparkSession, d: String): DataFrame =
    tfCensus(Tables.documents(s, d))

  /** Materialized keyword artifact `keywords@…` — the corpus token pass
    * t23 re-derived per run until r16. Tables:
    *  - `tf/` (doc_id, term, tf) — the doc-term census, per-doc STATIC
    *    (an append never changes a prior document's term frequencies),
    *    so appends extend it by file carry + batch rows;
    *  - `df/` (term, df) — the document-frequency census, computed as a
    *    map-side-combined `groupBy(term).count()` over the PINNED
    *    census: the term exchange moves one row per term per partition
    *    (partial aggregation), never the doc-term rows — the r15
    *    `count().over(Window.partitionBy(term))` spelling physically
    *    shuffled every (doc, term) row of a term to one partition,
    *    ~n_docs rows for the hottest Zipfian term, a straggler/spill at
    *    web scale that no AQE rule can split (a window needs its whole
    *    partition in one task). Additively mergeable: new docs only ADD
    *    membership, so an append grows df by the batch census (the
    *    freq `counts/` pattern);
    *  - `meta/` (n_docs) — the idf N, merged by addition.
    * At 100 TB df/meta are vocabulary-/unit-sized; tf/ is the corpus's
    * distinct (doc, term) pairs — the standard forward-index artifact,
    * built once in ONE corpus scan (the pin is the optimization
    * barrier: tf and df both read the materialized census, where the
    * declarative two-aggregate spelling re-scanned the corpus because
    * the pruned df aggregate never canonicalizes equal to the tf side
    * and ReuseExchange misses — ENGINE.md Catalyst lesson, r15). */
  private[graft] def keywordsIndex(s: SparkSession, d: String): String =
    keywordsCache.get(s"$d@${BuildCache.version(d, "documents.parquet")}") {
      Warehouse.getOrBuild("keywords", d, "documents.parquet") { tmp =>
        def tt[A](name: String)(f: => A): A = Prof.tt("keywords")(name)(f)
        val (tf, pin) = tt("tf-census")(
          Checkpoints.pin(tfCensus(Par.widen(Tables.documents(s, d)))))
        try {
          tt("tf-write")(Warehouse.writeParquet(
            tf.filter(col("term").isNotNull), s"$tmp/tf"))
          tt("df-write")(Warehouse.writeParquet(
            tf.filter(col("term").isNotNull)
              .groupBy("term").agg(count(lit(1)).as("df")), s"$tmp/df"))
          // local-block pass over the pin; explode_outer above is what
          // makes this the FULL corpus count, null-text docs included
          val n = tt("meta")(tf.select("doc_id").distinct().count())
          import s.implicits._
          Warehouse.writeParquet(Seq(n).toDF("n_docs"), s"$tmp/meta")
        } finally Checkpoints.release(pin)
      }
    }

  /** Explicit build step; queries build lazily on first use,
    * [[graft.Bench]]'s warm-up runs it up front so the t23 timing
    * measures serving. */
  def buildKeywords(s: SparkSession, d: String): Unit = {
    keywordsIndex(s, d)
    ()
  }

  /** Test hook: drop the per-dataset keywords-artifact cache. */
  private[graft] def clearKeywordsCache(): Unit = keywordsCache.clear()

  /** INCREMENTAL keywords maintenance — O(batch) everywhere except the
    * vocabulary-sized df merge (the freq `counts/` discipline): prior
    * `tf/` rows carry by hard link and only the batch docs' census
    * appends; `df/` grows additively (appends only add documents, so a
    * term's document frequency grows by exactly the count of batch
    * docs containing it); `meta/` adds the batch doc count. Because
    * the t23 serve joins tf against the CURRENT df/meta, prior docs'
    * served rows reprice automatically — df and N are global, but they
    * enter only the join and the idf annotation, never the stored
    * census, so no correction machinery is needed (contrast freq's
    * class crossings). `appended` must be exactly the docs added since
    * the prior version; any failure routes to the idempotent full
    * rebuild. */
  def appendToKeywords(s: SparkSession, d: String, appended: DataFrame): Unit =
    Warehouse.maintain("keywords", d)(buildKeywords(s, d))(
      appendToKeywordsIncremental(s, d, appended, _))

  private def appendToKeywordsIncremental(s: SparkSession, d: String,
      appended: DataFrame, prior: String): Unit = {
    Warehouse.getOrBuild("keywords", d, "documents.parquet") { tmp =>
      import s.implicits._
      val (btf, pin) = Checkpoints.pin(tfCensus(appended))
      try {
        Warehouse.copyData(s"$prior/tf", tmp.resolve("tf"))
        btf.filter(col("term").isNotNull)
          .write.mode("append").parquet(s"$tmp/tf")
        val bdf = btf.filter(col("term").isNotNull)
          .groupBy("term").agg(count(lit(1)).as("b_df"))
        val priorDf = Io.parquet(s, s"$prior/df")
        val grown = priorDf.join(broadcast(bdf), Seq("term"), "left")
          .select(col("term"),
            (col("df") + coalesce(col("b_df"), lit(0L))).as("df"))
        val matched = priorDf
          .join(broadcast(bdf.select("term")), Seq("term"), "left_semi")
          .select("term")
        val freshT = bdf.join(matched, Seq("term"), "left_anti")
          .select(col("term"), col("b_df").as("df"))
        Warehouse.writeParquet(grown.unionByName(freshT), s"$tmp/df")
        val nPrior = Io.parquet(s, s"$prior/meta").head().getLong(0)
        val nBatch = btf.select("doc_id").distinct().count()
        Warehouse.writeParquet(
          Seq(nPrior + nBatch).toDF("n_docs"), s"$tmp/meta")
        // appends land one tf file per batch; past the file budget the
        // table rewrites doc-sorted in place
        Warehouse.compactIfNeeded(s, tmp.resolve("tf"), Seq("doc_id"))
      } finally Checkpoints.release(pin)
    }
    ()
  }

  /** Per-document salient terms — the top-[[KeywordTopK]] terms by
    * in-doc burst (term frequency), rarest-corpus-wide on ties, term
    * text as the final tiebreak, annotated with the smoothed tf-idf
    * score tf·ln((N+1)/(df+1)). The RANKING key is deliberately the
    * integer triple (tf desc, df asc, term asc), not the float tf-idf
    * product: a cross-engine ORDER BY on a transcendental (ln differs
    * by ulps between libm and the JVM) is exactly the t20 lesson — rank
    * on integers, report the float. (Consequence: a rank-1 term can
    * carry a lower tf-idf than rank-2 when a rarer term appears less
    * often; the triple is the documented contract.)
    *
    * Scale posture: serves from the [[keywordsIndex]] artifact — the
    * corpus token pass ran at build time; a query touches only the
    * doc-term census. df joins back PINNED shuffle-hash on term (the
    * t08/t20 discipline — vocabulary scales with the corpus, never
    * broadcast; unlike the r15 term-partitioned Window, a shuffled
    * JOIN on the Zipfian term key is AQE-skew-splittable, since a hash
    * join never needs a key's full stream side in one task), then the
    * rank window exchanges once on doc_id — high-cardinality, skew-free
    * — where WindowGroupLimit caps each group at top-k before the
    * sort. The idf N is artifact metadata (a one-row driver read, the
    * rankedCells pattern), not a per-query corpus job. */
  val docKeywords: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val idx = keywordsIndex(s, d)
    val tf = Io.parquet(s, s"$idx/tf")
    val dfRel = Io.parquet(s, s"$idx/df")
    val n = Io.parquet(s, s"$idx/meta").head().getLong(0)
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfRel.hint("shuffle_hash"), "term")
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= KeywordTopK)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"),
        r6(col("tf").cast("double") *
          log(lit((n + 1).toDouble) / (col("df") + 1).cast("double")))
          .as("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  val docKeywordsSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |  GROUP BY doc_id, term
       |), df AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), n AS (SELECT count(*) AS n FROM documents),
       |ranked AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    0.0 + round(CAST(tf.tf AS DOUBLE)
       |      * ln((n.n + 1.0) / (df.df + 1.0)), 6) AS tfidf,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rnk
       |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
       |)
       |SELECT doc_id, CAST(rnk AS INT) AS rnk, term, tf, df, tfidf
       |FROM ranked WHERE rnk <= $KeywordTopK
       |ORDER BY doc_id, rnk""".stripMargin

  // ---------------------------------------------------------------- t24
  /** Mixture rebalance — APPLY t18's equalizing weights as a
    * deterministic document sampler (the step between the mixture
    * census and shard writing): per source, keep-probability
    * min(1, equal-share/actual-share) of documents, decided by a salted
    * md5 16-bit uniform per doc (the x06 split spelling widened to four
    * hex digits). Downsample-only: over-budget sources shed documents,
    * under-budget sources keep everything (upsampling is a repeat
    * factor at shard-write time, t18's mix_weight). The keep predicate
    * is INTEGER-exact — u16·nsrc·src_tokens < 2¹⁶·total_tokens — so
    * both engines decide every document identically; no float
    * probability ever compares against the hash. The triple product is
    * evaluated in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): three
    * BIGINTs can exceed Int64 at extreme corpus postures (u16 < 2¹⁶ is
    * fixed, so overflow needs nsrc·src_tokens ≥ ~1.4e14 — real at
    * 100 TB), and Spark's non-ANSI Int64 would wrap silently where
    * DuckDB raises; the widened form is exact to 10³⁸ on both engines.
    * The census sums token counts over NON-NULL texts only (explicit
    * guard): Spark's legacy sizeOfNull makes size(split(NULL)) = -1,
    * while SQL `sum` skips NULLs — without the guard a null-text doc
    * would silently shift src_tokens by -1 on one engine only.
    *
    * Scale posture: ONE map-side-combined groupBy(source) census whose
    * totals ride an unpartitioned window over the source-count-sized
    * relation (the t18 pattern — a separate `per.agg(sum)` spelling
    * recomputes the census lineage, i.e. a third corpus scan, because
    * nothing reuses the exchange), the weight table broadcasts onto the
    * corpus scan, and the kept verdict is a per-row projection —
    * sampling 100 TB is one map pass over the corpus plus the census
    * pass, like x06. */
  val mixtureRebalance: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // r16: no Par.widen — the census is a char count and the tag pass
    // an md5 over a ~20-char key string; neither justifies round-robin
    // shuffling the corpus text, and without it the tag side is a pure
    // scan → broadcast-join → project (zero corpus exchanges)
    val doc = Tables.documents(s, d)
    val all = Window.partitionBy()
    val per = doc.groupBy("source")
      .agg(sum(when(col("text").isNotNull, nToksCheap.cast("long")))
        .as("src_tokens"))
      .withColumn("tot", sum("src_tokens").over(all))
      .withColumn("nsrc", count(lit(1)).over(all))
    doc.select(col("doc_id"), col("source"),
        expr("CAST(conv(substring(md5(CAST(concat(CAST(doc_id AS STRING), " +
          "':mix-v1') AS BINARY)), 1, 4), 16, 10) AS BIGINT)").as("u16"))
      .join(broadcast(per), "source")
      .select(col("doc_id"), col("source"), col("u16").cast("int").as("u16"),
        r6(col("tot").cast("double") / (col("nsrc") * col("src_tokens")))
          .as("mix_weight"),
        (col("u16").cast("decimal(38,0)") * col("nsrc") * col("src_tokens")
          < lit(65536L).cast("decimal(38,0)") * col("tot")).as("kept"))
      .orderBy("doc_id")
  }

  val mixtureRebalanceSql: String = {
    def hexd(i: Int) =
      "(instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR) " +
        s"|| ':mix-v1'), $i, 1)) - 1)"
    val u16 =
      s"(((${hexd(1)} * 16 + ${hexd(2)}) * 16 + ${hexd(3)}) * 16 + ${hexd(4)})"
    s"""WITH per AS (
       |  SELECT source,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS src_tokens
       |  FROM documents GROUP BY source
       |), tot AS (
       |  SELECT CAST(sum(src_tokens) AS BIGINT) AS tot, count(*) AS nsrc
       |  FROM per
       |), tagged AS (
       |  SELECT d.doc_id, d.source, CAST($u16 AS BIGINT) AS u16,
       |    per.src_tokens, tot.tot, tot.nsrc
       |  FROM documents d JOIN per ON d.source = per.source CROSS JOIN tot
       |)
       |SELECT doc_id, source, CAST(u16 AS INT) AS u16,
       |  0.0 + round(CAST(tot AS DOUBLE) / (nsrc * src_tokens), 6)
       |    AS mix_weight,
       |  (CAST(u16 AS HUGEINT) * nsrc * src_tokens
       |     < CAST(65536 AS HUGEINT) * tot) AS kept
       |FROM tagged
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t25
  /** The span-SIZE expression of t22's window geometry, per doc: the
    * windows never tokenize, slice or materialize anything —
    * size(slice(t, st, C)) == least(C, n − st + 1) for every start the
    * sequence generates (1 ≤ st ≤ n), so one char-count per doc plus
    * integer geometry is the whole explode. NULL text yields no spans
    * (NULL n → NULL sequence → NULL transform → empty posexplode,
    * exactly the t22 rule). Shared by the t25 packer's explode branch;
    * [[chunkTokTotal]] is the closed form of this expression's sum. */
  private def chunkSpanSizes: org.apache.spark.sql.Column =
    expr(s"transform(sequence(1, n, $ChunkStride), " +
      s"st -> least($ChunkTokens, n - st + 1))")

  /** Closed form of a document's TOTAL chunk-span tokens — the sum the
    * posexplode in [[chunkSpans]] produces, as pure integer arithmetic
    * over the token count `n` (so the range-totals branch of the t25
    * packer never explodes; r17, guide §2.3 aggregate-before-shuffle).
    * With K spans (`sequence(1, n, S)`) of which F are full (value C,
    * those with st ≤ n−C+1) and the rest the arithmetic tail n−jS for
    * j in [F, K): sum = F·C + (K−F)·n − S·Σj. NULL n (NULL text) stays
    * NULL — such docs produce no spans, and sum() skips NULLs.
    * Spec-locked against the explode spelling by TextAggSpec's
    * "t25 closed-form chunk-token total" case. */
  private[graft] def chunkTokTotal(nCol: String): org.apache.spark.sql.Column = {
    val S = ChunkStride
    val C = ChunkTokens
    val n = s"CAST($nCol AS BIGINT)"
    val k = s"(($n - 1) DIV $S + 1)"
    val f = s"(CASE WHEN $n >= $C THEN ($n - $C) DIV $S + 1 ELSE 0 END)"
    // (k−1+f)·(k−f) is always even: the factors differ in parity
    expr(s"$f * $C + ($k - $f) * $n - $S * ((($k - 1 + $f) * ($k - $f)) DIV 2)")
  }

  /** Chunk→pack composition — t22's overlapping context windows fed
    * through t15's packer: the actual training-prep chain (split long
    * documents into fixed-context windows, then pack the windows into
    * [[PackBudget]]-token shards in (doc_id, chunk_idx) order) as ONE
    * declared relation. The per-op oracles prove each stage alone; this
    * hash-gates their WIRING — a chunk-geometry change that silently
    * shifts every downstream shard boundary, or a packer that drops the
    * short tail windows, shows up here and nowhere else.
    *
    * Scale posture: the chunk side is t22's zero-shuffle per-row map
    * (token counts only — the window text never materializes); the
    * pack side is the t15 two-level distributed prefix sum generalized
    * to the (doc_id, chunk_idx) composite order — per-range totals
    * (ranges keyed on doc_id div [[packRangeFor]] width, ≤
    * [[PackTargetRanges]] rows at any corpus) take the only
    * unpartitioned window, range offsets broadcast back, and the
    * per-chunk cumulative sum runs partitioned BY RANGE. The oracle
    * spells the single-window form — same associative sum, same
    * result. */
  val chunkPack: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val rangeWidth = packRangeFor(maxDocId(docs))
    // r17, two structural changes (guide §2.3/§2.4):
    // 1. The range-totals branch sums the CLOSED FORM of each doc's
    //    span tokens ([[chunkTokTotal]], spec-locked to the explode
    //    sum) — no Generate on that branch, so at scale its map-side
    //    partials aggregate corpus rows, not corpus×chunks rows, and
    //    only range-sized rows shuffle.
    // 2. The main branch hash-clusters the NARROW (doc_id, n, rng)
    //    projection on rng BEFORE the explode; the spans are generated
    //    inside the already-clustered partitions and the per-range
    //    window adds no shuffle. r16 widened round-robin first and then
    //    paid a second, span-row-sized exchange for the window — ~C/S×
    //    more rows than the doc-level exchange this replaces.
    val baseRaw = docs.select(col("doc_id"), nToksCheap.as("n"),
      expr(s"doc_id div $rangeWidth").as("rng"))
    val base = baseRaw.repartition(col("rng"))
    val wR = Window.orderBy("rng")
    // the totals branch aggregates its own UN-shuffled copy map-side
    // (partials in the scan tasks), so only range-sized rows move on
    // this branch
    val offs = baseRaw.groupBy("rng")
      .agg(sum(chunkTokTotal("n")).as("rtok"))
      .select(col("rng"), (sum("rtok").over(wR) - col("rtok")).as("roff"))
    val t = base
      .select(col("doc_id"), col("rng"), posexplode(chunkSpanSizes))
      .select(col("doc_id"), col("rng"), col("pos").cast("int").as("chunk_idx"),
        col("col").cast("long").as("tok"))
    val wD = Window.partitionBy("rng").orderBy("doc_id", "chunk_idx")
    t.join(broadcast(offs), "rng")
      .select(col("doc_id"), col("tok"),
        (col("roff") + sum("tok").over(wD) - col("tok")).as("gstart"))
      .select(col("doc_id"), col("tok"),
        floor(col("gstart") / PackBudget).as("shard_id"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_chunks"), sum("tok").as("tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard_id")
  }

  val chunkPackSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), win AS (
       |  SELECT doc_id, CAST((st - 1) // $ChunkStride AS INT) AS chunk_idx,
       |    CAST(len(t[st:st + ${ChunkTokens - 1}]) AS BIGINT) AS tok
       |  FROM (SELECT doc_id, t,
       |          unnest(generate_series(1, len(t), $ChunkStride)) AS st
       |        FROM tok)
       |), p AS (
       |  SELECT doc_id, tok,
       |    CAST(floor(CAST(sum(tok) OVER (ORDER BY doc_id, chunk_idx)
       |                    - tok AS DOUBLE) / $PackBudget) AS BIGINT) AS shard_id
       |  FROM win
       |)
       |SELECT shard_id, count(*) AS n_chunks, CAST(sum(tok) AS BIGINT) AS tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM p GROUP BY shard_id
       |ORDER BY shard_id""".stripMargin

  // ---------------------------------------------------------------- t26
  /** Quota sampling — keep EXACTLY `quota` documents per source, where
    * quota = the smallest source's document count (the count-equalizing
    * counterpart to t24's token-proportional rebalance: t24 keeps an
    * expected fraction, this keeps an exact number — the "at most N
    * documents per domain" budget every mixture spec ultimately ships).
    * The kept set is deterministic and engine-identical: per source, the
    * quota smallest documents under the total order (u16, doc_id), with
    * u16 the salted-md5 16-bit uniform (t24's spelling, salt quota-v1).
    *
    * Scale posture — exact per-group selection WITHOUT a per-group
    * corpus sort. The oracle's obvious spelling
    * (`row_number() OVER (PARTITION BY source ORDER BY u16, doc_id)`)
    * puts an entire source — possibly most of the corpus under the
    * hot-source skew shape — into ONE window task, the exact failure
    * t23's r15 grade named. Instead, two-phase distributed selection:
    * (1) a map-side-combined (source, u16) histogram census — at most
    * 2^16 rows per source regardless of corpus size — augmented IN ONE
    * LINEAGE (census-sized windows, never a self-join that would
    * recompute the corpus scan) with per-source cumulative counts, the
    * global quota, the threshold bucket t where the quota lands, and
    * the residual r (how many boundary-bucket docs still fit), then
    * filtered to the kept buckets (u16 ≤ t); (2) ONE broadcast of that
    * augmented census back onto the corpus as an inner (source, u16)
    * join — u16 < t rows keep outright, and only the boundary bucket
    * (expected n_src/2^16 rows per source) pays a doc_id ranking, in
    * (source, u16) cells that stay bounded under ANY source skew. The
    * per-source output rank is reconstructed exactly as
    * census-below(u16) + in-bucket rank, so the full sort order is
    * verified without ever sorting a source in one task. Corpus cost:
    * the census scan + the tag scan (the t24 shape). The rejected
    * one-window-per-source spelling lives on as the DuckDB oracle. */
  val quotaSample: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // r17: ONE corpus exchange instead of three. The narrow
    // (doc_id, source, u16) projection is hash-clustered on
    // (source, u16) up front, which the boundary-bucket window
    // Window.partitionBy(source, u16) consumes directly (guide §2.4 —
    // no second corpus shuffle); the census branch aggregates its own
    // un-shuffled copy map-side, so it only moves census-sized rows
    // (it deliberately does NOT share the repartition exchange: the
    // inner join's pushed isnotnull(source) may not be applied to the
    // census — a NULL-source group must still count toward the global
    // quota minimum — so the two subtrees can never canonicalize
    // equal). r16's spelling round-robin-widened BOTH lineages and
    // paid the window exchange on top. The md5 tag runs in the scan
    // tasks: at scale the scan is already wide (the widen this
    // replaces degrades to a no-op there), and the (source, u16) key
    // space (2^16 per source) spreads any source skew exactly as
    // before.
    val taggedRaw = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        expr("CAST(conv(substring(md5(CAST(concat(CAST(doc_id AS STRING), " +
          "':quota-v1') AS BINARY)), 1, 4), 16, 10) AS BIGINT)")
          .cast("int").as("u16"))
    val tagged = taggedRaw.repartition(col("source"), col("u16"))
    // (source, u16) histogram: every window below runs on THIS
    // census-sized relation (≤ 2^16 rows per source by construction)
    val wSrc = Window.partitionBy("source")
    val wCum = wSrc.orderBy("u16")
    val aug = taggedRaw.groupBy("source", "u16").agg(count(lit(1)).as("n"))
      .withColumn("below", sum("n").over(wCum) - col("n"))
      .withColumn("src_total", sum("n").over(wSrc))
      .withColumn("quota", min("src_total").over(Window.partitionBy()))
      .withColumn("is_thresh", col("below") < col("quota") &&
        col("quota") <= col("below") + col("n"))
      .withColumn("t", max(when(col("is_thresh"), col("u16"))).over(wSrc))
      .withColumn("resid",
        max(when(col("is_thresh"), col("quota") - col("below"))).over(wSrc))
      .filter(col("u16") <= col("t"))
      .select("source", "u16", "below", "t", "resid", "quota")
    val wBucket = Window.partitionBy("source", "u16").orderBy("doc_id")
    tagged.join(broadcast(aug), Seq("source", "u16"))
      .withColumn("brn", row_number().over(wBucket))
      .filter(col("u16") < col("t") || col("brn") <= col("resid"))
      .select(col("doc_id"), col("source"), col("u16"),
        (col("below") + col("brn")).cast("long").as("rn"),
        col("quota").cast("long").as("quota"))
      .orderBy("doc_id")
  }

  val quotaSampleSql: String = {
    def hexd(i: Int) =
      "(instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR) " +
        s"|| ':quota-v1'), $i, 1)) - 1)"
    val u16 =
      s"(((${hexd(1)} * 16 + ${hexd(2)}) * 16 + ${hexd(3)}) * 16 + ${hexd(4)})"
    s"""WITH tagged AS (
       |  SELECT doc_id, source, CAST($u16 AS INT) AS u16 FROM documents
       |), per AS (
       |  SELECT source, count(*) AS c FROM tagged GROUP BY source
       |), q AS (
       |  SELECT CAST(min(c) AS BIGINT) AS quota FROM per
       |), ranked AS (
       |  SELECT doc_id, source, u16,
       |    row_number() OVER (PARTITION BY source ORDER BY u16, doc_id) AS rn
       |  FROM tagged
       |)
       |SELECT r.doc_id, r.source, r.u16, CAST(r.rn AS BIGINT) AS rn, q.quota
       |FROM ranked r CROSS JOIN q
       |WHERE r.rn <= q.quota
       |ORDER BY r.doc_id""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "t26_quota_sample" -> quotaSample,
    "t25_chunk_pack" -> chunkPack,
    "t22_chunk_windows" -> chunkWindows,
    "t23_doc_keywords" -> docKeywords,
    "t24_mixture_rebalance" -> mixtureRebalance,
    "t21_freq_bucket_approx" -> freqBucketApprox,
    "t20_freq_bucket" -> freqBucket,
    "t19_curated_docs" -> curatedDocs,
    "t18_source_mixture" -> sourceMixture,
    "t17_curation_funnel" -> curationFunnel,
    "t16_repetition_score" -> repetitionScore,
    "t15_sequence_pack" -> sequencePack,
    "t14_decontaminate" -> decontaminate,
    "t13_component_audit" -> componentAudit,
    "t12_bucket_audit" -> bucketAudit,
    "t11_dedup_components" -> dedupComponents,
    "t10_quality_score" -> qualityScore,
    "t09_dedup_keep_first" -> dedupKeepFirst,
    "t01_text_stats" -> textStats,
    "t02_lang_id" -> langId,
    "t03_token_count" -> tokenCount,
    "t04_fingerprint" -> fingerprint,
    "t05_dedup_exact" -> dedupExact,
    "t06_dedup_minhash" -> dedupMinhash,
    "t07_dedup_simhash" -> dedupSimhash,
    "t08_ngram_jaccard" -> ngramJaccard)

  val oracle: Map[String, String] = Map(
    "t26_quota_sample" -> quotaSampleSql,
    "t25_chunk_pack" -> chunkPackSql,
    "t22_chunk_windows" -> chunkWindowsSql,
    "t23_doc_keywords" -> docKeywordsSql,
    "t24_mixture_rebalance" -> mixtureRebalanceSql,
    "t21_freq_bucket_approx" -> freqBucketApproxSql,
    "t20_freq_bucket" -> freqBucketSql,
    "t19_curated_docs" -> curatedDocsSql,
    "t18_source_mixture" -> sourceMixtureSql,
    "t17_curation_funnel" -> curationFunnelSql,
    "t16_repetition_score" -> repetitionScoreSql,
    "t15_sequence_pack" -> sequencePackSql,
    "t14_decontaminate" -> decontaminateSql,
    "t13_component_audit" -> componentAuditSql,
    "t12_bucket_audit" -> bucketAuditSql,
    "t11_dedup_components" -> dedupComponentsSql,
    "t10_quality_score" -> qualityScoreSql,
    "t09_dedup_keep_first" -> dedupKeepFirstSql,
    "t01_text_stats" -> textStatsSql,
    "t02_lang_id" -> langIdSql,
    "t03_token_count" -> tokenCountSql,
    "t04_fingerprint" -> fingerprintSql,
    "t05_dedup_exact" -> dedupExactSql,
    "t06_dedup_minhash" -> dedupMinhashSql,
    "t07_dedup_simhash" -> dedupSimhashSql,
    "t08_ngram_jaccard" -> ngramJaccardSql)
}
