package graft.operators

import graft.SparkSpec
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class IndexRootSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String) = s"IndexRootSpec.$name.${System.nanoTime}"

  test("a table built twice under one (kind, key) runs its upstream once") {
    val acc = spark.sparkContext.longAccumulator("indexroot-upstream")
    val tick = udf { (x: Long) => acc.add(1); x }.asNondeterministic()
    val key = fresh("twice")
    var builds = 0
    def build() = { builds += 1; spark.range(0, 50, 1, 2).select(tick(col("id")).as("id")) }
    val a = IndexRoot.table("spec", key)(build())
    val b = IndexRoot.table("spec", key)(build())
    assert(a.count() == 50 && b.as[Long].collect().sorted.toSeq == (0L until 50L))
    assert(builds == 1 && acc.value == 50L)
    // both serve the persisted copy, not the upstream plan
    assert(b.inputFiles.nonEmpty && b.inputFiles.forall(_.contains("/spec/")))
  }

  test("a build may call the memo for other keys") {
    // a mapping function that inserts into its own ConcurrentHashMap
    // fails with "Recursive update" once an insert lands in its bin or
    // resizes the table; a thousand nested keys make that certain
    val key = fresh("nested")
    val sum = IndexRoot.once("spec", key) {
      (0 until 1000).map(i => IndexRoot.once("spec", s"$key.$i")(i)).sum
    }
    assert(sum == 499500)
    val outer = IndexRoot.table("spec", s"$key.outer")(
      IndexRoot.table("spec", s"$key.inner")(spark.range(3).toDF("id"))
        .select((col("id") + 1).as("id")))
    assert(outer.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("a build that throws leaves nothing memoized") {
    val key = fresh("throws")
    intercept[IllegalStateException](
      IndexRoot.once[Int]("spec", key)(throw new IllegalStateException("first build")))
    assert(IndexRoot.once("spec", key)(7) == 7)
    intercept[IllegalStateException](
      IndexRoot.table("spec", key)(throw new IllegalStateException("first build")))
    assert(IndexRoot.table("spec", key)(spark.range(4).toDF("id")).count() == 4)
  }

  test("the *For accessors key their memo on the text column") {
    // one frame, one cacheKey, two text columns: the second call must
    // build its own artifact, not serve the first column's
    val df = Seq((1L,
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi",
      "one two three four five six seven eight nine ten eleven twelve thirteen"))
      .toDF("id", "a", "b")
    val key = fresh("cols")
    def rows(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
    def differs(f: String => DataFrame): Unit = {
      val (a, b) = (rows(f("a")), rows(f("b")))
      assert(a.nonEmpty && b.nonEmpty && a != b)
    }
    differs(Dedup.simhashTableFor(df, key, "id", _))
    differs(Dedup.ngramSetsFor(df, key, "id", _))
    differs(Dedup.winnowPostingsFor(df, key, "id", _))
    differs(Curation.benchGramsFor(df, key, _))
    differs(TextStats.gramCountsFor(df, key, _))
  }

  test("IndexRoot.path is called only from operators/KeyDigest.scala") {
    val root = Paths.get("src/main/scala/graft/operators")
    val callers = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter((p: Path) => Files.readString(p).contains("IndexRoot.path("))
      .toSeq
    assert(callers.forall(_ == root.resolve("KeyDigest.scala")),
      s"IndexRoot.path outside KeyDigest.scala: $callers")
  }
}
