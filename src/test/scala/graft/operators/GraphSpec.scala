package graft.operators

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Independent driver-side mirror of the exact integer iteration. */
  private def ref(edges: Seq[(String, String)], iters: Int,
                  q: Long): Map[String, Long] = {
    val e = edges.distinct
    val outd = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val c = nodes.size.toLong
    var r = nodes.map(n => n -> q / c).toMap
    for (_ <- 1 to iters) {
      val in = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      for ((s, d) <- e) in(d) += r(s) * 85 / (100 * outd(s))
      r = nodes.map(n => n -> ((q * 15 / 100) / c + in(n))).toMap
    }
    r
  }

  private val edges = Seq(
    ("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("d", "a"),
    ("a", "b") // duplicate edge: must count once
  )

  test("pageRank == exact integer reference; duplicate edges collapse") {
    val df = edges.toDF("src", "dst")
    // 1 and 3 take the lazy path, 6 the eager per-round path
    for (iters <- Seq(1, 3, 6)) {
      val got = Graph.pageRank(df, "src", "dst", iterations = iters)
        .as[(String, Long)].collect().toMap
      assert(got == ref(edges, iters, 1L << 40), s"iters=$iters")
    }
    // both modes agree bit-for-bit on the same chain length
    val lazy3 = Graph.pageRank(df, "src", "dst", iterations = 3,
      eagerEveryRound = Some(false)).as[(String, Long)].collect().toMap
    val eager3 = Graph.pageRank(df, "src", "dst", iterations = 3,
      eagerEveryRound = Some(true)).as[(String, Long)].collect().toMap
    assert(lazy3 == eager3)
  }

  test("pageRank: dangling-node mass leaks, hub accumulates, determinism") {
    // d has no in-edges: rank falls to the base term after round 1
    val df = edges.toDF("src", "dst")
    val got = Graph.pageRank(df, "src", "dst", iterations = 2)
      .as[(String, Long)].collect().toMap
    val q = 1L << 40
    assert(got("d") == (q * 15 / 100) / 4)
    // the a↔b 2-cycle holds nearly all mass; 'd' (no in-edges) is last
    assert(got("a") > got("c") && got("b") > got("c") && got("c") > got("d"))
    // repartitioned input produces identical bits (integer sums are
    // aggregation-order-free)
    val shuffled = Graph.pageRank(df.repartition(7), "src", "dst", iterations = 2)
      .as[(String, Long)].collect().toMap
    assert(shuffled == got)
  }

  test("pageRank plan: no cartesian; edges meet ranks in equi-joins") {
    val df = edges.toDF("src", "dst")
    val plan = Graph.pageRank(df, "src", "dst", iterations = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // nested-loop joins may appear ONLY as the single-row node-count
    // broadcast (the Search stats idiom) — every BNLJ line must be a
    // broadcast with no join condition, never a data-data pairing
    plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .foreach(l => assert(l.contains("BuildRight") || l.contains("BuildLeft"), l))
    // the src-keyed rank join is a hash/sort-merge equi-join
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("pageRank: edgesDistinct skips the re-shuffle but not the answer") {
    val dd = edges.distinct.toDF("src", "dst")
    val got = Graph.pageRank(dd, "src", "dst", iterations = 3,
      edgesDistinct = true).as[(String, Long)].collect().toMap
    assert(got == ref(edges, 3, 1L << 40))
    // and a WRONG promise is observable, not silently absorbed: a
    // duplicated (b,c) row skews b's mass 2:1 toward c instead of 1:1
    // between a and c
    val dup = edges.distinct :+ ("b", "c")
    val wrong = Graph.pageRank(dup.toDF("src", "dst"), "src", "dst",
      iterations = 3, edgesDistinct = true).as[(String, Long)].collect().toMap
    assert(wrong != ref(edges, 3, 1L << 40))
  }

  test("pageRank guards") {
    val df = edges.toDF("src", "dst")
    intercept[IllegalArgumentException] {
      Graph.pageRank(df, "src", "dst", iterations = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRank(df, "src", "dst", scaleBits = 60)
    }
    // NULL endpoints are not edges and not nodes
    val withNulls = (edges.map { case (s, d) => (Option(s), Option(d)) } ++
      Seq((Option.empty[String], Some("a")), (Some("a"), Option.empty[String])))
      .toDF("src", "dst")
    val got = Graph.pageRank(withNulls, "src", "dst", iterations = 2)
      .as[(String, Long)].collect().toMap
    assert(got == ref(edges, 2, 1L << 40))
  }
}
