package graft.operators

import graft.SparkSpec

/** Pins triangle counting (degree-ordered node-iterator) and the degree
  * distribution on graphs whose answers are computable by hand.
  */
class GraphMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def tri(edges: Seq[(Long, Long)]): Long =
    Graph.triangleCount(edges.toDF("s", "d"), "s", "d")
      .collect().head.getLong(0)

  test("triangle counts on canonical shapes") {
    // K4: C(4,3) = 4 triangles
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(tri(k4) == 4L)
    // a path has none; a star has none (hub wedges never close)
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == 0L)
    assert(tri(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))) == 0L)
    // triangle + pendant edge: exactly 1
    assert(tri(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))) == 1L)
    // empty graph: one row, zero
    assert(tri(Seq.empty) == 0L)
  }

  test("input normalization: duplicates, reversed edges, self-loops, nulls") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 2L)).toDF("s", "d")
      .unionByName(Seq((Some(4L), None: Option[Long])).toDF("s", "d"))
    assert(Graph.triangleCount(messy, "s", "d").collect().head.getLong(0) == 1L)
  }

  test("two triangles sharing an edge count as two") {
    assert(tri(Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))) == 2L)
  }

  test("degree distribution with singleton-free node universe") {
    // star 1-(2,3,4): hub degree 3, leaves degree 1
    val got = Graph.degreeDistribution(
        Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("s", "d"), "s", "d")
      .orderBy("degree").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 3L), (3L, 1L)))
  }

  test("clustering coefficients: triangle+pendant graph, hand-computed ppm") {
    // triangle {1,2,3} + pendant 3-4: node 3 has d=3, T=1 → 2·1e6/6;
    // nodes 1,2 have d=2, T=1 → 1e6; node 4 has d=1 → 0
    val got = Graph.clusteringCoefficients(
        Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("s", "d"), "s", "d")
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 1000000L),
      (2L, 2L, 1L, 1000000L),
      (3L, 3L, 1L, 333333L),
      (4L, 1L, 0L, 0L)))
  }

  test("hub-heavy graph agrees with the naive SQL closed form") {
    // deterministic pseudo-random graph with a hub: every node i links to
    // i+1, i+2; node 0 links to all — compare against a brute-force count
    val edges = ((1L to 40L).flatMap(i => Seq((i, i + 1), (i, i + 2))) ++
      (1L to 41L).map(i => (0L, i))).toDF("s", "d")
    edges.createOrReplaceTempView("gm_edges")
    val naive = spark.sql("""
      WITH e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                 FROM gm_edges WHERE s <> d)
      SELECT CAST(count(*) AS BIGINT) AS n FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""").collect().head.getLong(0)
    assert(Graph.triangleCount(edges, "s", "d").collect().head.getLong(0) == naive)
    assert(naive > 0)
  }

  test("plan-capture hook creates a missing directory and writes one plan") {
    val root = java.nio.file.Files.createTempDirectory("gm_plans")
    val dir = root.resolve("a").resolve("b")
    sys.props("graft.plan.capture.dir") = dir.toString
    try {
      assert(tri(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))) == 1L)
      val plans = dir.toFile.listFiles().map(_.getName)
        .filter(n => n.startsWith("withTriangles_") && n.endsWith(".txt"))
      assert(plans.length == 1)
    } finally sys.props -= "graft.plan.capture.dir"
  }
}
