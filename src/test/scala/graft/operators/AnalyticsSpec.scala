package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("pivotCounts zero-fills absent cells and matches conditional aggregation") {
    val df = Seq(("a", "x"), ("a", "x"), ("a", "y"), ("b", "y"))
      .toDF("row", "piv")
    val got = Analytics.pivotCounts(df, Seq("row"), "piv", Seq("x", "y", "z"))
      .as[(String, Long, Long, Long)].collect().sorted.toSeq
    // "z" never occurs; "b"/"x" absent — both must be 0, not null
    assert(got == Seq(("a", 2L, 1L, 0L), ("b", 0L, 1L, 0L)))
  }

  test("pivotCounts requires explicit values (no discovery scan)") {
    val df = Seq(("a", "x")).toDF("row", "piv")
    intercept[IllegalArgumentException] {
      Analytics.pivotCounts(df, Seq("row"), "piv", Seq.empty)
    }
  }

  test("rollupAgg emits every prefix level with the grouping-id convention") {
    val df = Seq((2024, "F", 10L), (2024, "O", 20L), (2025, "F", 5L))
      .toDF("yr", "st", "v")
    val got = Analytics.rollupAgg(df, Seq("yr", "st"), Seq(sum("v").as("s")))
      .as[(Option[Int], Option[String], Long, Int)].collect().toSet
    assert(got == Set(
      (Some(2024), Some("F"), 10L, 0), (Some(2024), Some("O"), 20L, 0),
      (Some(2025), Some("F"), 5L, 0),
      (Some(2024), None, 30L, 1), (Some(2025), None, 5L, 1),
      (None, None, 35L, 3)))
    // cube adds the (None, st) margins rollup omits
    val cube = Analytics.cubeAgg(df, Seq("yr", "st"), Seq(sum("v").as("s")))
      .as[(Option[Int], Option[String], Long, Int)].collect().toSet
    assert(cube.contains((None, Some("F"), 15L, 2)))
    assert(cube.contains((None, Some("O"), 20L, 2)))
    assert((cube -- got).forall(_._4 == 2))
  }

  test("rollupAgg distinguishes a rolled-up NULL from a data NULL via gid") {
    val df = Seq((Some(2024), 1L), (None, 2L)).toDF("yr", "v")
    val got = Analytics.rollupAgg(df, Seq("yr"), Seq(sum("v").as("s")))
      .as[(Option[Int], Long, Int)].collect().toSet
    // the NULL data group (gid 0) and the grand total (gid 1) both have
    // yr = NULL — only gid tells them apart
    assert(got == Set((Some(2024), 1L, 0), (None, 2L, 0), (None, 3L, 1)))
  }

  test("retentionCohorts counts each user once per active offset day") {
    val ev = Seq(
      // user 1: first on day 0, active days 0 (twice), 1, 3
      (1L, "2024-01-01 08:00:00"), (1L, "2024-01-01 20:00:00"),
      (1L, "2024-01-02 12:00:00"), (1L, "2024-01-04 09:00:00"),
      // user 2: first on day 0, active days 0, 1
      (2L, "2024-01-01 10:00:00"), (2L, "2024-01-02 10:00:00"),
      // user 3: first on day 1, active day 1 only
      (3L, "2024-01-02 23:00:00")
    ).toDF("user_id", "s").withColumn("ts", to_timestamp(col("s")))
    val got = Analytics.retentionCohorts(ev, "user_id", "ts")
      .as[(java.sql.Date, Int, Long)].collect()
      .map { case (c, k, n) => (c.toString, k, n) }.toSet
    assert(got == Set(
      ("2024-01-01", 0, 2L), ("2024-01-01", 1, 2L), ("2024-01-01", 3, 1L),
      ("2024-01-02", 0, 1L)))
  }

  test("retentionCohorts == a driver reference on random event streams") {
    val rng = new scala.util.Random(23)
    val evs = (0 until 3000).map { _ =>
      (rng.nextInt(80).toLong, // user
        java.sql.Timestamp.valueOf(f"2024-01-${rng.nextInt(28) + 1}%02d " +
          f"${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:00"))
    }
    val got = Analytics.retentionCohorts(
        evs.toDF("user_id", "ts").repartition(7), "user_id", "ts")
      .as[(java.sql.Date, Int, Long)].collect()
      .map { case (c, k, n) => (c.toString, k) -> n }.toMap
    val expected = {
      val firstDay = evs.groupBy(_._1).view
        .mapValues(_.map(_._2.toLocalDateTime.toLocalDate).min).toMap
      evs.map { case (u, ts) =>
        val d = ts.toLocalDateTime.toLocalDate
        val cohort = firstDay(u)
        (u, cohort.toString,
          java.time.temporal.ChronoUnit.DAYS.between(cohort, d).toInt)
      }.distinct
        .groupBy { case (_, c, k) => (c, k) }.view.mapValues(_.size.toLong).toMap
    }
    assert(got == expected)
    assert(got.keys.exists(_._2 > 0)) // real retention offsets, not all k=0
  }

  test("timeSeriesStats: frame-bounded moving sum, null-first delta, composite entity") {
    val df = Seq(
      ("u1", 1L, 10L), ("u1", 2L, 30L), ("u1", 3L, 20L), ("u1", 4L, 40L),
      ("u2", 1L, 5L)
    ).toDF("u", "seq", "v")
    val got = Analytics.timeSeriesStats(df, Seq("u"), Seq("seq"), col("v"), 3)
      .select("u", "seq", "mov_sum", "delta")
      .as[(String, Long, Long, Option[Long])].collect().toSet
    assert(got == Set(
      ("u1", 1L, 10L, None), ("u1", 2L, 40L, Some(20L)),
      ("u1", 3L, 60L, Some(-10L)), ("u1", 4L, 90L, Some(20L)),
      ("u2", 1L, 5L, None)))
  }

  test("flagOutliers matches the floating-point |x-mean| > k*stddev_pop reference") {
    val rng = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      (i.toLong, (i % 5).toLong, rng.nextInt(2000).toLong)
    }
    val df = rows.toDF("id", "g", "v")
    val got = Analytics.flagOutliers(df, Seq("g"), col("v"), kNum = 3, kDen = 2)
      .filter(col("outlier") === 1).select("id").as[Long].collect().toSet
    val expected = rows.groupBy(_._2).flatMap { case (_, rs) =>
      val vs = rs.map(_._3.toDouble)
      val mean = vs.sum / vs.size
      val sd = math.sqrt(vs.map(x => (x - mean) * (x - mean)).sum / vs.size)
      rs.filter(r => math.abs(r._3 - mean) > 1.5 * sd).map(_._1)
    }.toSet
    assert(got == expected && got.nonEmpty)
  }

  test("outlier flags keep NULL-group rows and drop nothing") {
    val df = Seq(
      (1L, Some("a"), 10L), (2L, Some("a"), 11L), (3L, None, 5L), (4L, None, 500L),
      (5L, None, 6L)
    ).toDF("id", "g", "v")
    // k = 1: a 3-row group's max attainable z is (n-1)/sqrt(n) ~ 1.15,
    // so any larger k could never flag inside the null group
    val z = Analytics.flagOutliers(df, Seq("g"), col("v"), 1, 1)
    assert(z.count() == 5) // the null group survives the join back
    // the null group IS a group: its own stats flag its own outlier
    val zNull = z.filter(col("g").isNull).select("id", "outlier")
      .as[(Long, Int)].collect().toMap
    assert(zNull(4L) == 1 && zNull(3L) == 0 && zNull(5L) == 0)
    val t = Analytics.tukeyOutliers(df, Seq("g"), col("v"), k = 1.5)
    assert(t.count() == 5)
  }

  test("weighted samplers drop NULL keys/weights instead of ranking them") {
    val df = Seq(
      (Some(1L), Some(10L), "a"), (Some(2L), Some(10L), "a"),
      (None, Some(10L), "a"), (Some(4L), None, "a"), (Some(5L), Some(10L), "a")
    ).toDF("id", "w", "g")
    val flat = Sampling.weightedSample(df, 10, col("w"), col("id"))
      .select("id").as[Option[Long]].collect().toSet
    assert(flat == Set(Some(1L), Some(2L), Some(5L)))
    val strat = Sampling.stratifiedWeightedSample(df, Seq("g"), 10, col("w"), col("id"))
      .select("id").as[Option[Long]].collect().toSet
    assert(strat == flat)
  }

  test("flagOutliers counts only non-null values: null values inflate nothing") {
    // group stats must come from the 4 non-null values (mean 10, sd≈0 tail
    // vs the 100 spike); a count(*)-style n of 5 would inflate the n·x−sum
    // algebra and mis-flag every row of the group
    val df = Seq(
      (1L, "a", Some(9L)), (2L, "a", Some(10L)), (3L, "a", Some(11L)),
      (4L, "a", Some(100L)), (5L, "a", None)
    ).toDF("id", "g", "v")
    val got = Analytics.flagOutliers(df, Seq("g"), col("v"), kNum = 3, kDen = 2)
      .select("id", "n", "outlier").as[(Long, Long, Int)].collect().toSet
    // reference over non-null values: mean 32.5, sd_pop ~ 39.0 => only 100
    // exceeds 1.5*sd; the null-valued row joins back with outlier 0
    val vs = Seq(9.0, 10.0, 11.0, 100.0)
    val mean = vs.sum / vs.size
    val sd = math.sqrt(vs.map(x => (x - mean) * (x - mean)).sum / vs.size)
    val expect = Set(
      (1L, 4L, if (math.abs(9 - mean) > 1.5 * sd) 1 else 0),
      (2L, 4L, if (math.abs(10 - mean) > 1.5 * sd) 1 else 0),
      (3L, 4L, if (math.abs(11 - mean) > 1.5 * sd) 1 else 0),
      (4L, 4L, if (math.abs(100 - mean) > 1.5 * sd) 1 else 0),
      (5L, 4L, 0))
    assert(got == expect)
    assert(got.exists(_._3 == 1)) // the spike does flag
  }

  test("flagOutliers never flags groups of one; stats table joins back n") {
    val df = Seq((1L, "a", 100L), (2L, "b", 5L), (3L, "b", 5L))
      .toDF("id", "g", "v")
    val got = Analytics.flagOutliers(df, Seq("g"), col("v"), 3, 1)
      .select("id", "n", "outlier").as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 1L, 0), (2L, 2L, 0), (3L, 2L, 0)))
  }

  test("weightedSample excludes non-positive weights and is partitioning-independent") {
    val df = (1L to 500L).map(i => (i, if (i % 100 == 0) 0L else i % 7 + 1))
      .toDF("id", "w")
    val a = Sampling.weightedSample(df, 40, col("w"), col("id"))
      .select("id").as[Long].collect().toSeq
    val b = Sampling.weightedSample(df.repartition(13), 40, col("w"), col("id"))
      .select("id").as[Long].collect().toSeq
    assert(a == b)
    assert(a.size == 40 && a.forall(_ % 100 != 0))
  }

  test("weightedSample favors heavy rows (A-ES proportionality sanity)") {
    // 1000 rows, 10 of them with 100x the weight of the rest: the heavy
    // rows must be strongly over-represented in a 100-row sample
    val df = (1L to 1000L).map(i => (i, if (i <= 10) 1000L else 10L))
      .toDF("id", "w")
    val got = Sampling.weightedSample(df, 100, col("w"), col("id"))
      .select("id").as[Long].collect()
    assert(got.count(_ <= 10) >= 6, s"heavy rows sampled: ${got.count(_ <= 10)}")
  }

  test("weightedSample == the exact driver-side A-ES reference") {
    val rows = (1L to 300L).map(i => (i, i % 13 + 1))
    val df = rows.toDF("id", "w")
    val got = Sampling.weightedSample(df, 25, col("w"), col("id"))
      .select("id").as[Long].collect().toSeq
    def u(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = md.take(4).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
    }
    val expected = rows
      .map { case (id, w) => (math.log(u(id)) / w, id) }
      .sortBy { case (key, id) => (-key, id) }
      .take(25).map(_._2)
    assert(got == expected)
  }

  test("tukeyOutliers flags exactly the rows outside dyadic Q1/Q3 fences") {
    // group a: 1..12 plus a far outlier; group b: tight cluster, none flagged
    val rows = (1L to 12L).map(v => ("a", v)) ++ Seq(("a", 1000L)) ++
      (50L to 55L).map(v => ("b", v))
    val df = rows.zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
      .toDF("id", "g", "v")
    val flagged = Analytics.tukeyOutliers(df, Seq("g"), col("v"), k = 1.5)
      .filter(col("outlier") === 1)
      .select("g", "v").as[(String, Long)].collect().toSet
    // driver reference with exact-interpolation quantiles
    def quantile(vs: Seq[Double], p: Double): Double = {
      val s = vs.sorted; val pos = p * (s.size - 1)
      val lo = pos.toInt; val frac = pos - lo
      if (lo + 1 < s.size) s(lo) + (s(lo + 1) - s(lo)) * frac else s(lo)
    }
    val expected = rows.groupBy(_._1).flatMap { case (g, rs) =>
      val vs = rs.map(_._2.toDouble)
      val (q1, q3) = (quantile(vs, 0.25), quantile(vs, 0.75))
      rs.filter(r => r._2 < q1 - 1.5 * (q3 - q1) || r._2 > q3 + 1.5 * (q3 - q1))
        .map(r => (g, r._2))
    }.toSet
    assert(flagged == expected && flagged.contains(("a", 1000L)))
    assert(!flagged.exists(_._1 == "b"))
  }

  test("stratifiedWeightedSample == per-stratum weightedSample, window-free") {
    val df = (1L to 600L).map(i => (i, Seq("a", "b", "c")(i.toInt % 3), i % 9 + 1))
      .toDF("id", "g", "w")
    val got = Sampling.stratifiedWeightedSample(df, Seq("g"), 7, col("w"), col("id"))
      .as[(Long, String, Long)].collect().sorted.toSeq
    val expected = Seq("a", "b", "c").flatMap { g =>
      Sampling.weightedSample(df.filter(col("g") === g), 7, col("w"), col("id"))
        .as[(Long, String, Long)].collect()
    }.sorted.toSeq
    assert(got == expected && got.size == 21)
    val plan = Sampling.stratifiedWeightedSample(df, Seq("g"), 7, col("w"), col("id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && !plan.contains("Window"), plan)
  }

  test("negativePairs == driver reference; no self-pairs; partitioning-independent") {
    val corpus = (0L until 400L).map(i => Tuple1(i)).toDF("id")
    val anchors = corpus.filter(col("id") % 40 === 0)
    val got = Sampling.negativePairs(anchors, "id", corpus, "id", k = 4, nBuckets = 16)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val gotRep = Sampling.negativePairs(
        anchors.repartition(7), "id", corpus.repartition(5), "id", 4, 16)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(got == gotRep)
    assert(got.forall { case (a, _, n) => a != n })
    // 10 anchors x 4 slots, every bucket populated at 400/16 = 25 rows
    assert(got.size == 40)
    // exact driver reference with the same md5 arithmetic
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
    def h8(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)
    val candB = (0L until 400L).groupBy(c => h8(c.toString) % 16)
    val expected = (for {
      a <- 0L until 400L if a % 40 == 0
      i <- 0L until 4L
    } yield {
      val b = h8(s"$a:$i") % 16
      val c = candB.getOrElse(b, Seq.empty).filter(_ != a)
        .minBy(c => (md5hex(s"$a:$i:$c"), c))
      (a, i, c)
    }).sorted.toSeq
    assert(got == expected)
  }

  test("weightedSample plans as TakeOrdered (no shuffle of the data)") {
    val df = (1L to 100L).map(i => (i, i % 5 + 1)).toDF("id", "w")
    val plan = Sampling.weightedSample(df, 10, col("w"), col("id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("salientTerms equals the window formulation and stays window-free") {
    val docs = Seq(
      (1L, "apple apple apple zebra common common"),
      (2L, "common zebra zebra banana"),
      (3L, "common apple")
    ).toDF("doc_id", "text")
    val toks = docs.select(col("doc_id").as("id"),
      explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
    val tf = toks.groupBy("id", "token").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("id").orderBy(col("tf").desc, col("df"), col("token"))
    val expected = tf.join(dfq, "token")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 2)
      .select("id", "token", "tf", "df", "rank")
      .as[(Long, String, Long, Long, Long)].collect().sorted.toSeq
    val got = TextStats.salientTerms(docs, "doc_id", "text", k = 2)
      .as[(Long, String, Long, Long, Long)].collect().sorted.toSeq
    assert(got == expected)
    // rarity breaks the tf tie: doc 2's tf-1 candidates are banana (df 1)
    // and common (df 3) — the rarer banana takes rank 2 behind zebra (tf 2)
    val doc2 = got.filter(_._1 == 2L).sortBy(_._5).map(_._2)
    assert(doc2 == Seq("zebra", "banana"))
    val plan = TextStats.salientTerms(docs, "doc_id", "text", 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    // the skew-split is output-identical across EVERY head boundary: the
    // whole vocabulary in the head (pure broadcast path), none of it
    // (pure tail join), and a boundary straddling the df order — all
    // must equal the default. Exercises the head/tail partition property
    // plus the deterministic (df desc, token) boundary.
    for (h <- Seq(1, 2, 3, 1000)) {
      val split = TextStats.salientTerms(docs, "doc_id", "text", k = 2,
          headTokens = h)
        .as[(Long, String, Long, Long, Long)].collect().sorted.toSeq
      assert(split == expected, s"headTokens=$h")
    }
  }

  test("clusterKeywords equals the window formulation; unassigned docs feed df only") {
    val docs = Seq(
      (1L, "apple apple apple zebra common common"),
      (2L, "common zebra zebra banana"),
      (3L, "common apple"),
      (4L, "kiwi kiwi unassigned")  // no cluster row: df contributor only
    ).toDF("doc_id", "text")
    val asg = Seq((1L, 0), (2L, 1), (3L, 0)).toDF("vec_id", "__cluster")
    val got = TextStats.clusterKeywords(docs, "doc_id", "text",
        asg, "vec_id", "__cluster", k = 2)
      .as[(Int, String, Long, Long, Long)].collect().sorted.toSeq
    // window mirror over the same inputs
    val toks = docs.select(col("doc_id").as("id"),
      explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
    val tf = toks.groupBy("id", "token").agg(count(lit(1)).as("__tf"))
    val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val ctf = tf.join(asg.withColumnRenamed("vec_id", "id"), "id")
      .groupBy("__cluster", "token").agg(sum("__tf").as("tf"))
    val w = Window.partitionBy("__cluster")
      .orderBy(col("tf").desc, col("df"), col("token"))
    val expected = ctf.join(dfq, "token")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 2)
      .select(col("__cluster").as("cluster"), col("token"), col("tf"),
        col("df"), col("rank"))
      .as[(Int, String, Long, Long, Long)].collect().sorted.toSeq
    assert(got == expected)
    // cluster 0 owns apple (tf 4); the rarity tie-break inherits (common
    // tf 3 over zebra tf 1); kiwi appears in NO cluster but its doc
    // still counts toward every df
    val c0 = got.filter(_._1 == 0).sortBy(_._5).map(_._2)
    assert(c0 == Seq("apple", "common"))
    assert(got.forall(_._2 != "kiwi"))
    val plan = TextStats.clusterKeywords(docs, "doc_id", "text",
        asg, "vec_id", "__cluster", k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && !plan.contains("Window"), plan)
  }

  test("standardize: exact z algebra, zero-variance and NULL conventions") {
    val df = Seq(
      ("g", Some(1L)), ("g", Some(2L)), ("g", Some(3L)),
      ("g", Option.empty[Long]),            // NULL value: z NULL, n unaffected
      ("const", Some(5L)), ("const", Some(5L)),  // zero variance: z = 0
      ("single", Some(7L))                  // n = 1: z = 0
    ).toDF("g", "v")
    val got = Analytics.standardize(df, Seq("g"), col("v"))
      .select("g", "v", "z").as[(String, Option[Long], Option[Double])]
      .collect()
    val gRows = got.filter(_._1 == "g").map(r => r._2 -> r._3).toMap
    // n=3, S=6, Sq=14 -> nSq - S^2 = 6; z(x) = (3x-6)/sqrt(6)
    assert(gRows(Some(1L)).contains(-3.0 / math.sqrt(6.0)))
    assert(gRows(Some(2L)).contains(0.0))
    assert(gRows(Some(3L)).contains(3.0 / math.sqrt(6.0)))
    assert(gRows(None).isEmpty)
    assert(got.filter(_._1 == "const").forall(_._3.contains(0.0)))
    assert(got.filter(_._1 == "single").forall(_._3.contains(0.0)))
  }

  test("robustStandardize: median/MAD algebra, outlier immunity, degenerate groups") {
    val df = Seq(
      ("g", Some(1L)), ("g", Some(2L)), ("g", Some(3L)), ("g", Some(4L)),
      ("g", Some(1000000L)),            // the outlier
      ("g", Option.empty[Long]),
      ("const", Some(5L)), ("const", Some(5L)), ("const", Some(9L))
    ).toDF("g", "v")
    val got = Analytics.robustStandardize(df, Seq("g"), col("v"))
      .select("g", "v", "robust_z")
      .as[(String, Option[Long], Option[Double])].collect()
    val gRows = got.filter(_._1 == "g").map(r => r._2 -> r._3).toMap
    // median = 3, deviations (2,1,0,1,999997) -> MAD = 1
    assert(gRows(Some(3L)).contains(0.0))
    assert(gRows(Some(1L)).contains(-2.0))
    assert(gRows(Some(4L)).contains(1.0))
    assert(gRows(Some(1000000L)).contains(999997.0))
    assert(gRows(None).isEmpty)
    // vs standardize: the outlier inflates stddev so inliers' |z| < 1,
    // while robust_z keeps them at honest scale
    val z = Analytics.standardize(df.filter(col("v").isNotNull), Seq("g"), col("v"))
      .filter(col("g") === "g" && col("v") === 1L)
      .select("z").as[Double].head()
    assert(math.abs(z) < 1.0 && gRows(Some(1L)).get.abs == 2.0)
    // zero-MAD group (majority at the median): every member 0
    assert(got.filter(_._1 == "const").forall(_._3.contains(0.0)))
  }

  test("percentileRank == percent_rank window semantics, no data-row window") {
    val df = Seq(
      ("g", Some(10L)), ("g", Some(10L)), ("g", Some(20L)), ("g", Some(30L)),
      ("g", Option.empty[Long]),
      ("solo", Some(5L))
    ).toDF("g", "v")
    val got = Analytics.percentileRank(df, Seq("g"), col("v"))
      .select("g", "v", "pct_ppm")
      .as[(String, Option[Long], Option[Long])].collect()
    val gRows = got.filter(_._1 == "g").map(r => r._2 -> r._3).toMap
    // n=4 (nulls excluded): ties share min rank
    assert(gRows(Some(10L)).contains(0L))
    assert(gRows(Some(20L)).contains(2L * 1000000L / 3L))
    assert(gRows(Some(30L)).contains(1000000L))
    assert(gRows(None).isEmpty)
    assert(got.filter(_._1 == "solo").head._3.contains(0L))
    // the window runs over the distinct-value table, not data rows: plan
    // shows an aggregate BELOW the window
    val big = (1 to 1000).map(i => ("g", i % 7)).toDF("g", "v")
    val wRef = big.withColumn("p",
        org.apache.spark.sql.functions.percent_rank().over(
          org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy("v")))
      .select(col("v"), floor(col("p") * 1000000).cast("long").as("ppm"))
      .distinct().as[(Int, Long)].collect().toMap
    val ours = Analytics.percentileRank(big, Seq("g"), col("v"))
      .select(col("v").cast("int"), col("pct_ppm")).distinct()
      .as[(Int, Long)].collect().toMap
    assert(ours == wRef)
    // quantile buckets: value-deterministic (ties share a bucket), top
    // value lands in bucket k-1, k > distinct values still caps at k-1
    val bucketed = Analytics.percentileRank(big, Seq("g"), col("v"),
        buckets = Some(4))
      .select(col("v").cast("int"), col("bucket")).distinct()
      .as[(Int, Long)].collect().toMap
    assert(bucketed.size == 7)                 // one bucket per value: no tie splits
    assert(bucketed(0) == 0L && bucketed(6) == 3L)
    assert(bucketed.values.forall(b => b >= 0 && b <= 3))
  }

  test("winsorize clips to exact dyadic fences, NULLs stay NULL") {
    val df = ((1L to 64L).map(v => ("g", Some(v))) :+ ("g", Option.empty[Long]))
      .toDF("g", "v")
    val got = Analytics.winsorize(df, Seq("g"), col("v"),
        pLo = 0.25, pHi = 0.75)
      .select("v", "winsorized").as[(Option[Long], Option[Double])]
      .collect().toMap
    // exact interpolation over 1..64: p25 = 1 + 63*0.25 = 16.75, p75 = 48.25
    assert(got(Some(1L)).contains(16.75))
    assert(got(Some(16L)).contains(16.75))
    assert(got(Some(17L)).contains(17.0))   // inside the band: untouched
    assert(got(Some(48L)).contains(48.0))
    assert(got(Some(49L)).contains(48.25))
    assert(got(Some(64L)).contains(48.25))
    assert(got(None).isEmpty)               // NULL never clips to the floor
  }
}
