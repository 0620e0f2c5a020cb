package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.MinHashAgg
import graft.ops.TextOps
import graft.ops.Num.r6

/** The one-pass MinHash Aggregator produces bit-identical signatures to
  * the 8-aggregate SQL form (same md5 windows, same minima) — across
  * partitionings, which exercises merge(). */
class TextAggSpec extends SparkSpecBase {
  import spark.implicits._
  import TextAggSpec._

  private val sf = "/root/testdata/sf0.001"

  test("Aggregator signatures equal the SQL-form signatures on testdata") {
    val doc = Tables.documents(spark, sf)
    val sqlForm = TextOps.signatures(doc)
      .select(col("doc_id"), array((0 until MinHashAgg.K).map(i => col(s"s$i")): _*).as("sig"))
      .as[(Long, Seq[String])].collect().toMap
    val aggForm = TextOps.shingles(doc)
      .repartition(7) // force non-trivial partial/merge path
      .groupBy("doc_id")
      .agg(udaf(MinHashAgg).apply(col("s")).as("sig"))
      .as[(Long, Seq[String])].collect().toMap
    assert(aggForm.keySet == sqlForm.keySet)
    aggForm.foreach { case (id, sig) =>
      assert(sig == sqlForm(id), s"doc $id signature mismatch")
    }
  }

  test("nToksCheap == size(split(text, ' ')) on every edge shape") {
    // the r16 counting-only paths (packer, chunk spans, source censuses,
    // trivial gates) char-count instead of tokenizing; this pins the
    // bit-identity incl. NULL, empty, all-space and multi-space texts
    val texts: Seq[String] = Seq(
      null, "", " ", "   ", "a", "a b", "a b  c", " leading", "trailing ",
      "a\tb", "x" * 500, ("w " * 99).trim, "a  ", "  a")
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select(col("doc_id"), size(split(col("text"), " ")).as("viaSplit"),
        TextOps.nToksCheap.as("viaChars"))
    val bad = df.filter(!(col("viaSplit") <=> col("viaChars"))).collect()
    assert(bad.isEmpty, s"token-count spellings diverge: ${bad.toSeq}")
  }

  test("native repetition census == the explode/aggregate spelling") {
    // the r16 in-row RepStats vs the r15 relational lineage, over the
    // real corpus plus adversarial shapes (null, short, empty-token,
    // repeated-gram, multi-space texts)
    val extra = Seq(
      (9001L, null.asInstanceOf[String]), (9002L, ""), (9003L, "a"),
      (9004L, "a b"), (9005L, "a b c"), (9006L, "a a a a a a"),
      (9007L, "a  b  a  b"), (9008L, " x y "), (9009L, "a b a b a b"))
      .toDF("doc_id", "text")
    val doc = Tables.documents(spark, sf).select("doc_id", "text")
      .unionByName(extra)
    val a = TextOps.repetitionStats(doc).collect().toSeq
    val b = repetitionStatsRelational(doc).collect().toSeq
    assert(a == b, s"repetition spellings diverge:\n native=${a.take(5)}\n rel=${b.take(5)}")
    assert(a.exists(_.getLong(0) >= 9001L))
  }

  test("native simhash == the explode/aggregate spelling") {
    val extra = Seq(
      (9001L, null.asInstanceOf[String]), (9002L, ""), (9003L, "a"),
      (9004L, "a b a b"), (9005L, " x y "), (9006L, "a  b"),
      (9007L, "unicode éß tokens"))
      .toDF("doc_id", "text")
    val doc = Tables.documents(spark, sf).select("doc_id", "text")
      .unionByName(extra)
    val a = TextOps.simhashDoc(doc).orderBy("doc_id").collect().toSeq
    val b = simhashDocRelational(doc).orderBy("doc_id").collect().toSeq
    assert(a == b, s"simhash spellings diverge:\n native=${a.take(5)}\n rel=${b.take(5)}")
  }

  test("band-bucket audit flags buckets past the pair-expansion cap") {
    // 6 docs share one degenerate signature (every band key collides),
    // 2 docs are distinct: with cap=5 the audit reports exactly the 4
    // degenerate (band, key) buckets at 6 members each, nothing else.
    val dup = (1L to 6L).map(i => (i, "aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"))
    val solo = Seq((7L, "a7", "b7", "c7", "d7", "e7", "f7", "g7", "h7"),
      (8L, "a8", "b8", "c8", "d8", "e8", "f8", "g8", "h8"))
    val sig = (dup ++ solo)
      .toDF("doc_id", "s0", "s1", "s2", "s3", "s4", "s5", "s6", "s7")
    val over = TextOps.oversizedBandBuckets(sig, cap = 5)
      .as[(Int, String, Long)].collect().toSeq.sorted
    assert(over.map(_._1) == Seq(0, 1, 2, 3), s"wrong bands flagged: $over")
    assert(over.forall(_._3 == 6L), s"wrong member counts: $over")
    // below the cap nothing is flagged
    assert(TextOps.oversizedBandBuckets(sig, cap = 6).count() == 0L)
  }

  test("label propagation merges chains transitively and keeps islands apart") {
    // chain 1-2-3-4 (diameter 3 → several rounds), plus two disjoint
    // pairs; labels must converge to the component minimum
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (11L, 10L), (20L, 21L))
      .toDF("src", "dst")
    val comp = TextOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L),
      s"wrong components: $comp")
  }

  test("label propagation fails loudly past the round bound") {
    // a 6-node chain has diameter 5: with maxRounds=2 the loop must
    // refuse to keep iterating instead of silently running long
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      TextOps.connectedComponents(chain, maxRounds = 2).collect()
    }
    assert(e.getMessage.contains("still propagating"), e.getMessage)
    // the same graph converges under the default bound
    val comp = TextOps.connectedComponents(chain).as[(Long, Long)].collect()
    assert(comp.forall(_._2 == 1L), s"chain did not converge: ${comp.toSeq}")
  }

  test("connected components releases every checkpoint block it pins") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    val comp = TextOps.connectedComponents(edges)
    // the result outlives the loop (parquet-materialized, not pinned):
    // consuming it works even though all loop blocks are gone
    assert(comp.count() == 6L)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"CC loop leaked persistent RDD blocks: $leaked")
  }

  test("incremental components match a full recompute under adds, merges and deletes") {
    // untouched ballast (a 21-edge path) keeps the affected fraction
    // under the decline threshold so the incremental path actually runs
    val ballast = (100L to 120L).map(i => (i, i + 1))
    val priorEdges = (ballast ++ Seq((1L, 2L), (10L, 11L), (20L, 21L)))
      .toDF("src", "dst")
    val priorComp = TextOps.connectedComponents(priorEdges)
    // delta: 2-3 extends {1,2} with the new node 3; 11-20 merges
    // {10,11} and {20,21}; the 1-2 edge DIES and orphans node 1
    val edges = (ballast ++ Seq((2L, 3L), (10L, 11L), (20L, 21L), (11L, 20L)))
      .toDF("src", "dst")
    val changed = Seq(1L, 2L, 3L, 11L, 20L).toDF("id")
    val inc = TextOps.incrementalComponents(priorComp, edges, changed)
      .as[(Long, Long)].collect().toMap
    val full = TextOps.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(inc == full, s"inc=$inc full=$full")
    // node 1 lost its only edge -> absent from the label table; 2-3 is
    // its own component; the merge converges on min label 10; the
    // ballast labels carried verbatim
    assert(!inc.contains(1L))
    assert(inc(3L) == 2L && inc(21L) == 10L && inc(120L) == 100L, s"inc=$inc")
  }

  test("incremental components decline to a full recompute on a large merge cascade") {
    val priorComp = TextOps.connectedComponents(
      Seq((1L, 2L), (10L, 11L), (20L, 21L)).toDF("src", "dst"))
    // every component is dragged into one merge — the affected fraction
    // is 100%, the maintenance declines, and the labels are still exact
    val edges = Seq((1L, 2L), (10L, 11L), (20L, 21L), (2L, 10L), (11L, 20L))
      .toDF("src", "dst")
    val changed = Seq(2L, 10L, 11L, 20L).toDF("id")
    val inc = TextOps.incrementalComponents(priorComp, edges, changed)
      .as[(Long, Long)].collect().toMap
    assert(inc == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 1L, 21L -> 1L), s"inc=$inc")
  }

  test("add-only component merge equals a full recompute: extend, chain-merge, first-edge nodes") {
    val priorEdges = (Seq((1L, 2L), (10L, 11L), (20L, 21L), (30L, 31L)) ++
      (100L to 120L).map(i => (i, i + 1))).toDF("src", "dst")
    val priorComp = TextOps.connectedComponents(priorEdges)
    // batch 200-203: 200 joins {1,2}; 201 CHAINS {10,11} and {20,21}
    // through itself (a transitive merge union-find must close); 202-203
    // are first-edge nodes forming their own pair; 204 attaches to the
    // edgeless corpus doc 50 (also a first-edge node, and the min)
    val added = Seq((2L, 200L), (11L, 201L), (201L, 20L), (202L, 203L),
      (50L, 204L)).toDF("src", "dst")
    val inc = TextOps.mergeComponents(priorComp, added)
      .as[(Long, Long)].collect().toMap
    val full = TextOps.connectedComponents(
      priorEdges.unionByName(added)).as[(Long, Long)].collect().toMap
    assert(inc == full, s"inc=$inc full=$full")
    assert(inc(200L) == 1L && inc(201L) == 10L && inc(21L) == 10L &&
      inc(203L) == 202L && inc(204L) == 50L && inc(120L) == 100L, s"inc=$inc")
  }

  test("add-only merge contracts to distinct super-edges; over-budget falls back distributed or loud") {
    val priorEdges = Seq((1L, 2L), (10L, 11L), (20L, 21L)).toDF("src", "dst")
    val priorComp = TextOps.connectedComponents(priorEdges)
    // a batch doc matching MANY members of two clusters: raw edges are
    // 4, but they contract to just 2 distinct super-edges ({1},{10}
    // bridged through 200) — under a budget of 2 the driver path runs
    val added = Seq((1L, 200L), (2L, 200L), (10L, 200L), (11L, 200L))
      .toDF("src", "dst")
    val full = TextOps.connectedComponents(priorEdges.unionByName(added))
      .as[(Long, Long)].collect().toMap
    val inc = TextOps.mergeComponents(priorComp, added, None, maxSuper = 2)
      .as[(Long, Long)].collect().toMap
    assert(inc == full, s"inc=$inc full=$full")
    // budget 1 (< the 2 super-edges): with the full edge table supplied
    // the distributed subgraph path takes over, labels still exact
    val allEdges = priorEdges.unionByName(added)
    val fb = TextOps.mergeComponents(priorComp, added, Some(allEdges),
        maxSuper = 1)
      .as[(Long, Long)].collect().toMap
    assert(fb == full, s"fb=$fb full=$full")
    // without a fallback the guard fails loudly, never a silent stall
    val e = intercept[RuntimeException] {
      TextOps.mergeComponents(priorComp, added, None, maxSuper = 1).collect()
    }
    assert(e.getMessage.contains("driver budget"), e.getMessage)
  }

  test("verify fast path == full intersection on identical, short and near pairs") {
    // docs: 1/2 byte-identical (>=3 tokens, Jaccard exactly 1); 3 a near
    // variant of 1; 4/5 identical SHORT docs (<3 tokens -> single NULL
    // shingle, Jaccard 0 by join-on-NULL semantics); 6 short and
    // different; 7 shares a prefix with 1 but differs
    val doc = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "alpha beta gamma delta zeta"),
      (4L, "tiny doc"),
      (5L, "tiny doc"),
      (6L, "other short"),
      (7L, "alpha beta gamma other tail")).toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L), (4L, 5L), (4L, 6L), (2L, 3L),
      (1L, 7L), (3L, 7L)).toDF("doc_a", "doc_b")
    val fast = TextOps.jaccardVerifyTable(doc, cand)
      .as[(Long, Long, Double)].collect().toSet
    val slow = jaccardVerifySlow(doc, cand)
      .as[(Long, Long, Double)].collect().toSet
    assert(fast == slow, s"fast=$fast slow=$slow")
    val m = fast.map(r => (r._1, r._2) -> r._3).toMap
    assert(m((1L, 2L)) == 1.0 && m((4L, 5L)) == 0.0 && m((4L, 6L)) == 0.0)
    assert(m((1L, 3L)) > 0 && m((1L, 3L)) < 1, s"near pair got ${m((1L, 3L))}")
  }

  test("nearpairs artifact is exactly the pairs whose texts differ") {
    val idx = TextOps.textDupIndex(spark, sf)
    val pairs = spark.read.parquet(s"$idx/pairs")
      .as[(Long, Long, Double)].collect().toSet
    val near = spark.read.parquet(s"$idx/nearpairs")
      .as[(Long, Long, Double)].collect().toSet
    // independent ground truth: driver-side md5 comparison per pair
    val md = java.security.MessageDigest.getInstance("MD5")
    val hash = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect()
      .map { case (id, t) =>
        id -> (if (t == null) null
               else md.digest(t.getBytes("UTF-8")).toSeq) }.toMap
    val expected = pairs.filter(p => hash(p._1) != hash(p._2))
    assert(near == expected,
      s"nearpairs drifted: extra=${near -- expected} missing=${expected -- near}")
    // (sf0.001 bands no byte-identical pair, so near == pairs here; the
    // subset SHRINKING under exact dups is exercised by IncrementalSpec's
    // synthetic corpora and measured at the sf10 probe)
  }

  test("funnel stage-2 from nearpairs equals the full-pair drop rule") {
    // the output-invariance claim behind serving stage 2 from the
    // nearpairs subset: a byte-identical pair's doc_b already lost
    // exact dedup, so recomputing the drop set from the FULL pair
    // table must yield the same stage-2 membership
    val idx = TextOps.textDupIndex(spark, sf)
    val stages = TextOps.funnelIndex(spark, sf)
    def members(st: String): Set[Long] = stages
      .filter(col("stage") === st).select("doc_id").as[Long].collect().toSet
    val k1 = members("01_exact_dedup")
    val dropFull = spark.read.parquet(s"$idx/pairs")
      .filter(col("est_jaccard") >= TextOps.FunnelJaccard)
      .as[(Long, Long, Double)].collect()
      .collect { case (a, b, _) if k1.contains(a) => b }.toSet
    assert(members("02_near_dedup") == k1 -- dropFull,
      "nearpairs-served stage 2 drifted from the full-pair drop rule")
  }

  test("add-only component merge with no added edges returns the prior labels unchanged") {
    val priorComp = TextOps.connectedComponents(
      Seq((1L, 2L)).toDF("src", "dst"))
    val out = TextOps.mergeComponents(priorComp,
      Seq.empty[(Long, Long)].toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L))
  }

  test("incremental components with an empty change set carry every prior label") {
    val priorEdges = Seq((1L, 2L), (10L, 11L)).toDF("src", "dst")
    val priorComp = TextOps.connectedComponents(priorEdges)
    val inc = TextOps.incrementalComponents(priorComp, priorEdges,
      spark.emptyDataset[Long].toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(inc == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L), s"inc=$inc")
  }

  test("component audit flags components past the membership cap") {
    // one 4-member component, one pair: cap=3 flags only the big one
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    val comp = TextOps.connectedComponents(edges)
    val over = TextOps.oversizedComponents(comp, cap = 3)
      .as[(Long, Long)].collect().toSeq
    assert(over == Seq((1L, 4L)), s"wrong components flagged: $over")
    assert(TextOps.oversizedComponents(comp, cap = 4).count() == 0L)
  }

  test("ngrams: width-n windows only, short documents contribute nothing") {
    val doc = Seq((1L, "a b c d e"), (2L, "x y z"), (3L, "p q r s"))
      .toDF("doc_id", "text")
    val g = TextOps.ngrams(doc, 4).as[(Long, String)].collect().toSet
    assert(g == Set((1L, "a b c d"), (1L, "b c d e"), (3L, "p q r s")),
      s"wrong 4-grams: $g")
  }

  test("decontamination agrees with a driver-side recomputation on testdata") {
    // independent ground truth: re-derive every doc's 4-gram set with
    // plain Scala string windows and intersect against the eval set
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    def grams(t: String): Set[(String, Int)] = {
      val ts = t.split(" ")
      (0 to ts.length - TextOps.DecontamN)
        .map(i => (ts.slice(i, i + TextOps.DecontamN).mkString(" "), 0)).toSet
    }
    val evalGrams = docs.filter(_._1 < TextOps.EvalDocs)
      .flatMap { case (id, t) => grams(t).map(g => (g._1, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = docs.filter(_._1 >= TextOps.EvalDocs).flatMap { case (id, t) =>
      val hits = grams(t).map(_._1).filter(evalGrams.contains)
      if (hits.isEmpty) None
      else Some((id, hits.size.toLong, hits.flatMap(evalGrams).size.toLong))
    }.sortBy(_._1).toSeq
    val got = TextOps.decontaminate(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expected, s"decontamination mismatch:\n got $got\n exp $expected")
    assert(got.forall(_._1 >= TextOps.EvalDocs), "an eval doc leaked into the audit")
  }

  test("repetition score: hand-computed fractions, verdict on both thresholds") {
    // "a b a b a b": trigrams {aba, bab, aba, bab} -> dup 2/4 = 0.5;
    //                bigrams {ab x3, ba x2} -> top 3/5 = 0.6  => repetitive
    // "q w e r t y u": all grams distinct -> dup 0, top 1/6    => clean
    val doc = Seq((1L, "a b a b a b"), (2L, "q w e r t y u"))
      .toDF("doc_id", "text")
    val got = TextOps.repetitionStats(doc)
      .as[(Long, Double, Double, Boolean)].collect().toSeq
    assert(got == Seq((1L, 0.5, 0.6, true), (2L, 0.0, 0.166667, false)),
      s"wrong repetition stats: $got")
  }

  test("signature index: built once, bit-identical to the live lineage") {
    TextOps.clearSigCache()
    val cols = "doc_id" +: (0 until 8).map(i => s"s$i")
    val live = TextOps.signatures(Tables.documents(spark, sf))
      .select(cols.map(col): _*).orderBy("doc_id").collect()
    val idx = TextOps.sigIndex(spark, sf)
      .select(cols.map(col): _*).orderBy("doc_id").collect()
    assert(idx.sameElements(live), "index drifted from the live signatures")
    // built once: a second lookup serves the same parquet files
    val f1 = TextOps.sigIndex(spark, sf).inputFiles.toSet
    val f2 = TextOps.sigIndex(spark, sf).inputFiles.toSet
    assert(f1.nonEmpty && f1 == f2, "signature table rebuilt per query")
  }

  test("curation funnel: stages shrink monotonically from known anchors") {
    val stages = TextOps.curationFunnel(spark, sf)
      .as[(String, Long)].collect().toSeq
    assert(stages.map(_._1) == Seq("00_total", "01_exact_dedup",
      "02_near_dedup", "03_quality", "04_repetition", "05_decontaminated"))
    val counts = stages.map(_._2)
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"a funnel stage grew: $stages")
    assert(counts.last > 0, "funnel drained the whole corpus")
    // anchors: total is the corpus, stage 1 is the distinct-hash count
    val doc = Tables.documents(spark, sf)
    assert(counts.head == doc.count())
    val distinctHashes = doc
      .select(md5(col("text").cast("binary"))).distinct().count()
    assert(counts(1) == distinctHashes,
      s"exact-dedup stage ${counts(1)} != $distinctHashes distinct hashes")
  }

  test("curated corpus membership matches the funnel census, excludes contaminated docs") {
    val ids = TextOps.curatedDocs(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    val census = TextOps.curationFunnel(spark, sf)
      .as[(String, Long)].collect().toMap
    assert(ids.size.toLong == census("05_decontaminated"),
      s"${ids.size} curated docs vs census ${census("05_decontaminated")}")
    val contaminated = TextOps.decontaminate(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    assert(ids.intersect(contaminated).isEmpty,
      "a contaminated document survived curation")
  }

  test("pinned-survivor and full-scan funnel arms land identical stage memberships") {
    // funnelStages dispatches stages 3-5 between the pinned-survivor
    // and the full-scan spellings on the k2 census (FunnelPinMaxFraction);
    // this pins them membership-identical on BOTH corpus shapes,
    // including the degenerate docs either arm can receive (null texts
    // never shingle; sub-shingle twins dedup at stage 1)
    val base = spark.read.parquet(s"$sf/documents.parquet")
    val degenerates = Seq(
      (90001L, null.asInstanceOf[String], "en", "web", 0L),
      (90002L, null.asInstanceOf[String], "en", "web", 0L),
      (90003L, "tiny doc", "en", "web", 8L),
      (90004L, "tiny doc", "en", "web", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val replicaHeavy = (0 until 4).map(k =>
        base.select((col("doc_id") + lit(k * 10000L)).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars")))
      .reduce(_ unionByName _).unionByName(degenerates)
    val mostlyUnique = base.unionByName(degenerates)
    for ((label, corpus) <- Seq("replica-heavy" -> replicaHeavy,
        "mostly-unique" -> mostlyUnique)) {
      val ds = java.nio.file.Files
        .createTempDirectory(s"graft-funnelarm-$label").toString
      corpus.write.mode("overwrite").parquet(s"$ds/documents.parquet")
      try {
        val arms = Seq(true, false).map { arm =>
          val pins = scala.collection.mutable.ListBuffer.empty[org.apache.spark.rdd.RDD[_]]
          try arm -> TextOps.funnelStages(spark, ds, pin = { df =>
              val (out, p) = ops.Checkpoints.pin(df)
              pins += p
              out
            }, pinArm = Some(arm))
            .flatMap { case (st, df) =>
              df.select("doc_id").collect().map(r => s"$st,${r.getLong(0)}") }
            .sorted
          finally pins.foreach(ops.Checkpoints.release)
        }
        assert(arms(0)._2 == arms(1)._2,
          s"$label funnel arms drifted: pinned=${arms(0)._2.size} " +
            s"full-scan=${arms(1)._2.size} rows; " +
            s"extra=${(arms(0)._2.toSet -- arms(1)._2.toSet).take(3)} " +
            s"missing=${(arms(1)._2.toSet -- arms(0)._2.toSet).take(3)}")
      } finally {
        ops.Warehouse.invalidateDataset(ds)
        TextOps.clearFunnelCache()
        TextOps.clearTextDupCache()
        TextOps.clearSigCache()
      }
    }
  }

  test("textdup build degrades gracefully on an empty corpus") {
    // the mining dispatch's census agg sums over ZERO groups (SQL null):
    // it must coalesce to the (trivially empty) doc-level mine, not NPE
    val dir = java.nio.file.Files.createTempDirectory("graft-textdup-empty").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    TextOps.clearTextDupCache()
    TextOps.clearSigCache()
    TextOps.buildTextDup(spark, dir)
    assert(TextOps.dedupMinhash(spark, dir).count() == 0,
      "empty corpus must yield an empty near-dup table")
    ops.Warehouse.invalidateDataset(dir)
  }

  test("funnel census emits all six stages even when a stage empties") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel-empty").toString
    // all-digit, stopword-free shorts: every doc lands in the 'low'
    // quality bucket, so stages 03..05 strand zero survivors — the
    // census must still emit their rows with n_docs = 0 (the oracle's
    // UNION ALL census always yields six rows)
    val docs = (0L until 4L).map(i =>
      (i, s"${i}11 ${i}22 ${i}33 ${i}44 ${i}55", "en", "srcX", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextOps.curationFunnel(spark, dir)
      .as[(String, Long)].collect().toSeq
    assert(rows.map(_._1) == Seq("00_total", "01_exact_dedup",
      "02_near_dedup", "03_quality", "04_repetition", "05_decontaminated"),
      s"missing stage rows: $rows")
    val m = rows.toMap
    assert(m("00_total") == 4 && m("01_exact_dedup") == 4, s"anchors: $rows")
    assert(m("03_quality") == 0 && m("04_repetition") == 0 &&
      m("05_decontaminated") == 0, s"expected emptied stages: $rows")
    // don't leave throwaway-corpus artifacts in the shared warehouse
    ops.Warehouse.invalidateDataset(dir)
  }

  test("appending a doc batch updates the sig table incrementally; dedup matches a full rebuild") {
    import spark.implicits._
    def docsDF(rows: Seq[(Long, String)]) =
      rows.map { case (i, t) => (i, t, "en", "srcI", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-sig-inc").toString
    val base = (0L until 8L).map(i =>
      (i, s"alpha bravo charlie delta echo foxtrot golf hotel india doc$i"))
    docsDF(base).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    TextOps.clearSigCache()
    TextOps.buildSigIndex(spark, dir)
    val priorFiles = TextOps.sigIndex(spark, dir).inputFiles
      .map(_.split('/').last).toSet
    // corpus grows: doc 9 duplicates doc 2's text EXACTLY, so the
    // cross-batch duplicate must surface in the dedup queries
    val appended = Seq(
      (8L, "juliet kilo lima mike november oscar papa quebec romeo doc8"),
      (9L, base(2)._2))
    docsDF(base ++ appended).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    TextOps.appendToSigIndex(spark, dir, docsDF(appended))
    // truly incremental: the prior version's part files carried over
    // byte-for-byte (same names), plus new files for the batch
    val incFiles = TextOps.sigIndex(spark, dir).inputFiles
      .map(_.split('/').last).toSet
    assert(priorFiles.subsetOf(incFiles) && incFiles.size > priorFiles.size,
      s"not incremental: prior $priorFiles vs updated $incFiles")
    val incSig = TextOps.sigIndex(spark, dir).orderBy("doc_id").collect()
    val incT06 = TextOps.dedupMinhash(spark, dir).collect()
    val incT05 = TextOps.dedupExact(spark, dir).collect()
    // from-scratch rebuild over the grown corpus must agree exactly
    TextOps.clearSigCache()
    ops.Warehouse.invalidate("sig", dir)
    val fullSig = TextOps.sigIndex(spark, dir).orderBy("doc_id").collect()
    assert(incSig.sameElements(fullSig),
      "incrementally maintained signatures drifted from a full rebuild")
    assert(TextOps.dedupMinhash(spark, dir).collect().sameElements(incT06),
      "t06 over the incremental table drifted from the full rebuild")
    assert(TextOps.dedupExact(spark, dir).collect().sameElements(incT05),
      "t05 over the incremental table drifted from the full rebuild")
    // the cross-batch exact duplicate is visible
    assert(incT05.exists(r => r.getLong(3) > 0),
      s"cross-batch duplicate not detected: ${incT05.mkString(";")}")
    ops.Warehouse.invalidateDataset(dir)
  }

  test("funnel index build releases every stage pin") {
    TextOps.clearFunnelCache()
    // drop the persisted artifact too, so this exercises a REAL build
    ops.Warehouse.invalidate("funnel", sf)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    TextOps.buildFunnel(spark, sf)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"funnel build leaked checkpoint blocks: ${after -- before}")
  }

  test("freq-class buckets: terciles ordered head >= middle >= tail, all populated") {
    val rows = TextOps.freqBucket(spark, sf)
      .as[(Long, Double, String)].collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    val byBucket = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    // head and tail always populate; the middle tercile can collapse
    // when the cutoff order statistics tie on a small, tie-heavy corpus
    assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")) &&
      byBucket.contains("head") && byBucket.contains("tail"),
      s"buckets: ${byBucket.keySet}")
    // every head score >= every middle score >= every tail score —
    // the cutoffs are order statistics, so the buckets must be
    // score-separated, not just labeled
    val mids = byBucket.getOrElse("middle", Array.empty[Double])
    if (mids.nonEmpty) {
      assert(byBucket("head").min >= mids.max)
      assert(mids.min >= byBucket("tail").max)
    } else assert(byBucket("head").min >= byBucket("tail").max)
    // the proxy points the right way: the doc made of the most common
    // vocabulary lands in head, not tail
    val top = rows.maxBy(_._2)
    assert(top._3 == "head")
  }

  test("freq BUILD never broadcasts the corpus-derived token-class relation") {
    // t20/t21 serve from the freq artifact since r10, so the scale
    // contract moves to the BUILD plan (what freq_build executes): the
    // token->class equi-join must stay shuffled — its build side
    // scales with the vocabulary
    val df = TextOps.freqScoresPlan(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"token-class join not shuffled:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"token-class relation broadcasts:\n$p")
  }

  test("t20/t21 serve from the freq artifact: no token explode at query time") {
    for (q <- Seq("t20_freq_bucket", "t21_freq_bucket_approx")) {
      val df = SparkEntry.queries(q)(spark, sf)
      assert(df.inputFiles.nonEmpty && df.inputFiles.forall(_.contains("freq@")),
        s"$q does not serve from the freq artifact: ${df.inputFiles.toSeq.take(3)}")
      val p = df.queryExecution.sparkPlan.toString
      assert(!p.contains("Generate"),
        s"$q re-derives the token lineage at query time:\n$p")
    }
  }

  test("sequence packing: two-level prefix sum equals the naive global window; totals preserved") {
    import org.apache.spark.sql.expressions.Window
    val manifest = TextOps.sequencePack(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // naive single-window form (the oracle's shape) computed inline
    val naive = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("tok"))
      .withColumn("gstart", sum("tok").over(Window.orderBy("doc_id")) - col("tok"))
      .select(col("doc_id"), col("tok"),
        floor(col("gstart") / TextOps.PackBudget).as("shard_id"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(manifest == naive, "two-level prefix sum drifted from the naive form")
    // the assignment is range-width INVARIANT: a second, coprime width
    // (17) re-proves the prefix sum composes identically at any split —
    // which is what licenses deriving the width from corpus size
    val alt = TextOps.packAssignmentsOf(
        Tables.documents(spark, sf), rangeWidth = 17L)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(alt == naive, "packing changed under a different range width")
    // and the derived width keeps the ranges relation bounded: ~64 docs
    // per range below the floor, ≤ PackTargetRanges ranges at any scale
    assert(TextOps.packRangeFor(0L) == 64L)
    assert(TextOps.packRangeFor(100L * 1000 * 1000 * 1000) == 100001L)
    val spanned = 100L * 1000 * 1000 * 1000
    assert(spanned / TextOps.packRangeFor(spanned) + 1 <= TextOps.PackTargetRanges)
    // shards are contiguous from 0 and conserve docs and tokens
    assert(manifest.map(_._1) == (0L until manifest.length).toSeq)
    val (nd, nt) = Tables.documents(spark, sf)
      .select(count(lit(1)), sum(size(split(col("text"), " ")).cast("long")))
      .as[(Long, Long)].head()
    assert(manifest.map(_._2).sum == nd, "docs lost or duplicated across shards")
    assert(manifest.map(_._3).sum == nt, "tokens lost or duplicated across shards")
  }

  test("source mixture: shares sum to one, weights equalize the token budget") {
    val rows = TextOps.sourceMixture(spark, sf)
      .as[(String, Long, Long, Double, Double)].collect()
    assert(rows.length > 1)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4,
      s"token shares sum to ${rows.map(_._4).sum}")
    // weight * source_tokens is the same equalized slice for every source
    val slices = rows.map(r => r._5 * r._3)
    assert(slices.max - slices.min < slices.max * 1e-4,
      s"weights do not equalize the mixture: ${slices.toSeq}")
  }

  test("Aggregator handles empty input and null shingles") {
    val sigs = Seq((1L, Option.empty[String]), (1L, Some("a b c")))
      .toDF("doc_id", "s")
      .groupBy("doc_id")
      .agg(udaf(MinHashAgg).apply(col("s")).as("sig"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sigs(1L).forall(_ != null)) // the non-null shingle fills all windows
    assert(sigs(1L).length == MinHashAgg.K)
  }

  test("rep-level and doc-level mining land identical artifacts on both corpus shapes") {
    // the textdup build dispatches between the two spellings on the
    // exact-dup census (RepMineMaxFraction); this pins them
    // row-identical on BOTH shapes — including the degenerate groups
    // the dispatch can hand either spelling: null texts (one md5-less
    // clique) and <3-token twins (trivial group, Jaccard 0 by
    // NULL-shingle join semantics)
    val base = spark.read.parquet(s"$sf/documents.parquet")
    val degenerates = Seq(
      (90001L, null.asInstanceOf[String], "en", "web", 0L),
      (90002L, null.asInstanceOf[String], "en", "web", 0L),
      (90003L, "tiny doc", "en", "web", 8L),
      (90004L, "tiny doc", "en", "web", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val replicaHeavy = (0 until 4).map(k =>
        base.select((col("doc_id") + lit(k * 10000L)).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars")))
      .reduce(_ unionByName _).unionByName(degenerates)
    val mostlyUnique = base.unionByName(degenerates)
    for ((label, corpus) <- Seq("replica-heavy" -> replicaHeavy,
        "mostly-unique" -> mostlyUnique)) {
      val ds = java.nio.file.Files
        .createTempDirectory(s"graft-mine-$label").toString
      corpus.write.mode("overwrite").parquet(s"$ds/documents.parquet")
      try {
        TextOps.buildSigIndex(spark, ds)
        val sig = TextOps.sigIndex(spark, ds)
        val docs = Tables.documents(spark, ds)
        val rep = java.nio.file.Files
          .createTempDirectory("graft-mine-rep").toString
        val doc = java.nio.file.Files
          .createTempDirectory("graft-mine-doc").toString
        TextOps.mineRepLevel(spark, rep, sig, docs,
          TextOps.groupCensus(docs))
        TextOps.mineDocLevel(spark, doc, sig, docs)
        for (t <- Seq("pairs", "verify", "nearpairs", "pairbk", "sizes",
            "audit", "comp")) {
          val ra = spark.read.parquet(s"$rep/$t").collect()
            .map(_.toString).sorted.toSeq
          val rb = spark.read.parquet(s"$doc/$t").collect()
            .map(_.toString).sorted.toSeq
          assert(ra == rb,
            s"$label/$t drifted: rep=${ra.size} doc=${rb.size} rows; " +
              s"extra=${(ra.toSet -- rb.toSet).take(3)} " +
              s"missing=${(rb.toSet -- ra.toSet).take(3)}")
        }
        // the replica-heavy shape must actually yield replica pairs, or
        // the equality above is vacuous for the contraction's hard part
        if (label == "replica-heavy")
          assert(spark.read.parquet(s"$rep/pairs").count() >
            spark.read.parquet(s"$rep/nearpairs").count(),
            "no byte-identical pairs were mined on the replica-heavy corpus")
      } finally {
        ops.Warehouse.invalidateDataset(ds)
        TextOps.clearTextDupCache()
      }
    }
  }

  test("t25 closed-form chunk-token total equals the explode sum at every n") {
    import spark.implicits._
    // every boundary shape: n < stride, n == stride, stride < n < C,
    // n == C, the full/partial mix, exact multiples, and large n
    val ns = ((1 to 130) ++ Seq(1000, 4097, 65536, 999999)).map(_.toLong)
    val df = ns.toDF("n")
    val got = df.select(col("n"), TextOps.chunkTokTotal("n").as("closed"),
        expr(s"aggregate(transform(sequence(1, n, ${TextOps.ChunkStride}), " +
          s"st -> CAST(least(${TextOps.ChunkTokens}, n - st + 1) AS BIGINT)), " +
          "0L, (a, x) -> a + x)").as("explode"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (n, c, e) =>
      assert(c == e, s"closed-form chunk total drifted at n=$n: $c != $e")
    }
    // NULL n (NULL text) must stay NULL so sum() skips it
    val nulls = Seq[Option[Long]](None).toDF("n")
      .select(TextOps.chunkTokTotal("n")).collect()
    assert(nulls.head.isNullAt(0), "closed form must be NULL on NULL n")
  }
}

/** The reference spellings the native and fast-path operators are
  * checked against: independent lineages of the same result, kept out
  * of the engine because nothing but these equality tests runs them. */
object TextAggSpec {

  /** The r15 explode/aggregate spelling of [[TextOps.simhashDoc]]. */
  def simhashDocRelational(doc: DataFrame): DataFrame = {
    val highHex = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val bits = (0 until 16).map { j =>
      when(sum(when(substring(col("h"), j + 1, 1).isin(highHex: _*), 1)
        .otherwise(-1)) > 0, 1 << j).otherwise(0)
    }.reduce(_ + _)
    doc.select(col("doc_id"), explode(TextOps.toks).as("tok"))
      .withColumn("h", md5(col("tok").cast("binary")))
      .groupBy("doc_id").agg(bits.as("simhash"))
  }

  /** The pre-fast-path verify form of [[TextOps.jaccardVerifyTable]]:
    * EVERY candidate pair pays the shingle intersection. */
  def jaccardVerifySlow(doc: DataFrame, cand: DataFrame): DataFrame =
    TextOps.jaccardOfShingles(cand, TextOps.candShingles(doc, cand))

  /** The r15 explode/aggregate spelling of [[TextOps.repetitionStats]]
    * (the inv_v16 pattern: two spellings, one truth). */
  def repetitionStatsRelational(doc: DataFrame): DataFrame = {
    val tri = TextOps.ngrams(doc, 3).groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"), countDistinct("s").as("n_tri_d"))
    val big = TextOps.ngrams(doc, 2).groupBy("doc_id", "s")
      .agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_big"), max("n").as("top_big"))
    val dupFrac = (col("n_tri") - col("n_tri_d")).cast("double") / col("n_tri")
    val topFrac = col("top_big").cast("double") / col("n_big")
    tri.join(big, "doc_id")
      .select(col("doc_id"), r6(dupFrac).as("dup_trigram_frac"),
        r6(topFrac).as("top_bigram_frac"),
        (dupFrac > TextOps.DupTrigramMax || topFrac > TextOps.TopBigramMax)
          .as("repetitive"))
      .orderBy("doc_id")
  }
}
