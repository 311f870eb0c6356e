package graft.tools

import graft.LocalSession
import org.apache.spark.sql.functions._

/** Trains the committed quality-model weights fixture
  * (`src/test/resources/golden/quality_weights`) — a fastText-style
  * logistic regression over hashed unigram+bigram counts, labeled by the
  * heuristic quality score (≥ 0.5 → positive), trained with plain
  * deterministic full-batch gradient descent and QUANTIZED to Q16
  * fixed-point longs (the [[graft.operators.TextStats.modelQualityScore]]
  * serving format: bucket = -1 row is the bias).
  *
  * The model's job in the battery is to be a REAL committed artifact with
  * exact integer serving semantics, not to be a good classifier — though
  * the training accuracy is printed and asserted > 0.8 so the fixture
  * stays meaningful.
  *
  * Run: `sbt "Test/runMain graft.tools.QualityTrain"` (then commit).
  */
object QualityTrain {

  def hashBucket(feature: String, nBuckets: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(feature.getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    (java.lang.Long.parseLong(hex, 16) % nBuckets).toInt
  }

  def featureBuckets(text: String, nBuckets: Int): Array[Int] = {
    if (text == null) return Array.empty
    val toks = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
    val feats = toks.iterator ++
      toks.iterator.zip(toks.iterator.drop(1)).map { case (a, b) => s"$a $b" }
    feats.map(hashBucket(_, nBuckets)).toArray
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("src/test/resources/golden/quality_weights")
    val nBuckets = args.lift(2).map(_.toInt).getOrElse(1024)
    val spark = LocalSession(8)
    import spark.implicits._
    val rows: Array[(String, Int)] = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .select(col("text"),
        (graft.functions.TextFunctions.qualityScore(col("text")) >= 0.5).cast("int"))
      .as[(String, Int)].collect()

    val xs: Array[Array[Int]] = rows.map(r => featureBuckets(r._1, nBuckets))
    val ys: Array[Int] = rows.map(_._2)
    val w = new Array[Double](nBuckets)
    var bias = 0.0
    val lr = 0.5
    val epochs = 400
    val n = xs.length
    for (_ <- 0 until epochs) {
      val gw = new Array[Double](nBuckets)
      var gb = 0.0
      var i = 0
      while (i < n) {
        var z = bias
        xs(i).foreach(b => z += w(b))
        val p = 1.0 / (1.0 + math.exp(-z))
        val g = p - ys(i)
        gb += g
        xs(i).foreach(b => gw(b) += g)
        i += 1
      }
      var j = 0
      while (j < nBuckets) { w(j) -= lr * gw(j) / n; j += 1 }
      bias -= lr * gb / n
    }
    val acc = xs.zip(ys).count { case (x, y) =>
      val z = bias + x.map(w(_)).sum
      (if (z >= 0) 1 else 0) == y
    }.toDouble / n
    println(f"[quality-train] n=$n accuracy=$acc%.3f bias=$bias%.4f")
    require(acc > 0.8, s"fixture would be meaningless: training accuracy $acc")

    def q16(v: Double): Long = math.round(v * 65536.0)
    val table = ((-1L, q16(bias)) +:
      (0 until nBuckets).map(b => (b.toLong, q16(w(b)))))
      .toDF("bucket", "w_q16")
    table.coalesce(1).write.mode("overwrite").parquet(out)
    println(s"[quality-train] wrote ${nBuckets + 1} weights to $out")
    spark.stop()
  }
}
