package graft

import org.apache.spark.sql.functions._
import graft.ops.{SimOps, TextOps}

/** Declared per-task spread bounds for the window-heavy serves'
  * exchanges (r15 verdict #8): no task may absorb more than HALF of
  * the keyed relation it shuffles. Single-task absorption is the
  * regression this pins — a re-introduced key-partitioned window on a
  * Zipfian key (the r15 t23 `weak`), a dropped partial aggregation, or
  * a join that silently de-pins to a plan funneling one side through
  * one task. ScaleProbe prints the same counter at the 100× corpus and
  * under the `skew` corpus shape; this spec keeps it honest per
  * commit. */
class SkewSpec extends SparkSpecBase {

  private val d = "/root/testdata/sf0.001"

  /** The spec session runs 2 shuffle partitions and AQE coalescing —
    * both legitimately concentrate a tiny exchange into one task by
    * SIZE, which is not the thing a skew regression changes. Measure
    * at the production partition count with coalescing off so the
    * bound tests KEY spread: a healthy exchange spreads the relation
    * ~uniformly over 32 buckets (max well under half), while a
    * key-partitioned window on a hot key or a de-pinned join funnels
    * everything through one. ScaleProbe's counters keep production
    * settings: at envelope scale the advisory size keeps many tasks
    * and the counter reflects deployment truth. */
  private def atProductionSpread[A](f: => A): A = {
    val coal = "spark.sql.adaptive.coalescePartitions.enabled"
    val parts = "spark.sql.shuffle.partitions"
    val (prevC, prevP) = (spark.conf.get(coal), spark.conf.get(parts))
    spark.conf.set(coal, "false")
    spark.conf.set(parts, "32")
    try f finally { spark.conf.set(coal, prevC); spark.conf.set(parts, prevP) }
  }

  test("t23 serve: no task absorbs more than half the doc-term relation") {
    val tfRows = Tables.documents(spark, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .distinct().count()
    val m = atProductionSpread(Skew.maxTaskShuffleRows(spark) {
      TextOps.docKeywords(spark, d).count(); ()
    })
    assert(m > 0, "no shuffle-read rows observed — counter not wired")
    assert(m <= tfRows / 2,
      s"a t23 task absorbed $m of $tfRows doc-term rows — " +
        "the exchange has regressed toward single-task absorption")
  }

  test("v16 serve: no task absorbs more than half the flattened corpus") {
    val flatRows = Tables.embeddings(spark, d)
      .selectExpr("CAST(sum(size(embedding)) AS BIGINT) AS n")
      .head().getLong(0)
    val m = atProductionSpread(Skew.maxTaskShuffleRows(spark) {
      SimOps.adcTopk(spark, d).count(); ()
    })
    assert(m > 0, "no shuffle-read rows observed — counter not wired")
    assert(m <= flatRows / 2,
      s"a v16 task absorbed $m of $flatRows flattened rows — " +
        "the norm aggregate has regressed toward single-task absorption")
  }
}
