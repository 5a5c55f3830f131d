package graft

import org.apache.spark.sql.functions._

import graft.core.PrefixScan

/** The r12 memoization contract of [[graft.core.PrefixScan.exclusive]]:
  * re-deriving the same scan returns the SAME result frame (so every
  * downstream plan containing it stays plan-equal across benchmark
  * reps — the checkpointOnce-memo prerequisite), while different
  * inputs, sort columns, or weight sets build fresh.
  */
class PrefixScanSpec extends SparkSpec {
  import spark.implicits._

  private def base = (1 to 100).map(i => (i, 1L)).toDF("v", "w")

  test("exclusive: memo returns the identical frame for an identical scan") {
    val (a, ta) = PrefixScan.exclusive(base, "v", Seq("w"), "psspec-memo")
    val (b, tb) = PrefixScan.exclusive(base, "v", Seq("w"), "psspec-memo")
    assert(a eq b, "same (plan, sortCol, weights) must hit the memo")
    assert(ta.toSeq == tb.toSeq && ta.head == 100L)
    assert(!(ta eq tb), "totals are cloned per call (callers may mutate)")
    // and the memo hit is still actionable and correct
    val row = b.orderBy("v").collect()(9)
    assert(row.getAs[Long]("cum_w_below") == 9L)
  }

  test("exclusive: different sort/weights/input build fresh scans") {
    val df = (1 to 50).map(i => (i, 51 - i, 2L)).toDF("x", "y", "w")
    val (a, _) = PrefixScan.exclusive(df, "x", Seq("w"), "psspec-fresh")
    val (b, _) = PrefixScan.exclusive(df, "y", Seq("w"), "psspec-fresh")
    assert(!(a eq b), "different sortCol must not collide in the memo")
    val df2 = (1 to 60).map(i => (i, 1L)).toDF("v", "w")
    val (c, tc) = PrefixScan.exclusive(df2, "v", Seq("w"), "psspec-fresh")
    assert(tc.head == 60L)
    assert(!(a eq c))
  }

  test("exclusive: per-method scans equal the partitioned running-sum window") {
    // q290's AUC tail: several methods whose raw scores tie heavily,
    // pre-aggregated to one row per (method, score) — the shape that
    // replaced Window.partitionBy(method) with one scan per method
    val raw = for (m <- Seq("cn", "jaccard", "adamic_adar"); i <- 0 until 300)
      yield (m, ((i * 37 + m.length) % 23) / 2.0, (i * 13 + m.length) % 3 / 2)
    val byScore = raw.toDF("method", "score", "pos")
      .groupBy("method", "score").agg(
        sum(col("pos")).cast("long").as("np"),
        sum(lit(1) - col("pos")).cast("long").as("nn"))
    val methods = raw.map(_._1).distinct
    val viaScan = methods.map { m =>
      PrefixScan.exclusive(byScore.where(col("method") === m), "score",
        Seq("np", "nn"), s"psspec-window.$m")._1
        .select("method", "score", "cum_np_below", "cum_nn_below")
    }.reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("method")
      .orderBy("score")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val viaWindow = byScore.select(col("method"), col("score"),
      coalesce(sum("np").over(w), lit(0L)).as("cum_np_below"),
      coalesce(sum("nn").over(w), lit(0L)).as("cum_nn_below"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("method", "score").collect().map(_.toSeq).toSeq
    val a = rows(viaScan)
    assert(a.length == byScore.count() && a.length > 3 * 5)
    assert(a == rows(viaWindow))
  }

  // NOTE deliberately untested here: memo hits after Caches.releaseAll
  // recompute through intact lineage (the scan result is a lazy RDD
  // chain, not a checkpoint). Calling releaseAll mid-suite would yank
  // OTHER suites' checkpoint blocks under the shared session — the
  // exact single-threaded-session-boundary contract releaseAll
  // documents — so that property stays covered by Verify/Bench, whose
  // per-query teardown exercises it 325 times per run.
}
