package graft.tools

import graft.LocalSession

/** Learns the committed BPE merges fixture
  * (`src/main/resources/graft/bpe/merges_en.txt`) from the test corpus —
  * the classic single-node BPE learner (Sennrich et al. 2016): count
  * pretoken frequencies, then repeatedly merge the most frequent adjacent
  * symbol pair (ties broken lexicographically, so the table is
  * deterministic for a given corpus).
  *
  * Run: `sbt "Test/runMain graft.tools.BpeTrain"` (then commit the file).
  */
object BpeTrain {

  def learn(wordCounts: Map[String, Long], nMerges: Int): Seq[(String, String)] = {
    // distinct word → (mutable symbol seq, count)
    var words: Array[(Array[String], Long)] = wordCounts.toArray.sortBy(_._1).map {
      case (w, c) => (w.toCharArray.map(String.valueOf), c)
    }
    val merges = Vector.newBuilder[(String, String)]
    var k = 0
    var done = false
    while (k < nMerges && !done) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + c
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        val (best, cnt) = pairCounts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        if (cnt < 2) done = true
        else {
          merges += best
          words = words.map { case (syms, c) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
                out += syms(i) + syms(i + 1); i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.toArray, c)
          }
          k += 1
        }
      }
    }
    merges.result()
  }

  /** Pass `--bytes` as the 4th arg to learn over the [[graft.functions.ByteLevel]]
    * remapped corpus (the GPT-2 byte-level alphabet) — writes
    * `merges_en_bytes.txt` by default in that mode.
    */
  def main(args: Array[String]): Unit = {
    val byteLevel = args.contains("--bytes")
    val pos = args.filterNot(_ == "--bytes")
    val sfDir = pos.headOption.getOrElse("/root/testdata/sf0.01")
    val out = pos.lift(1).getOrElse(
      if (byteLevel) "src/main/resources/graft/bpe/merges_en_bytes.txt"
      else "src/main/resources/graft/bpe/merges_en.txt")
    val nMerges = pos.lift(2).map(_.toInt).getOrElse(512)
    val spark = LocalSession(8)
    import spark.implicits._
    val pat = java.util.regex.Pattern.compile(graft.functions.TextFunctions.bpePattern)
    val counts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").as[String].collect()
      .iterator.flatMap { t =>
        val m = pat.matcher(t)
        val ws = Iterator.continually(if (m.find()) Some(m.group()) else None)
          .takeWhile(_.isDefined).map(_.get)
        ws.filterNot(_.forall(Character.isWhitespace))
          .map(w => if (byteLevel) graft.functions.ByteLevel.encode(w) else w)
      }
      .foldLeft(Map.empty[String, Long])((acc, w) => acc.updated(w, acc.getOrElse(w, 0L) + 1))
    val merges = learn(counts, nMerges)
    val p = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(p.getParent)
    // TAB-separated: symbols contain spaces (space-prefixed pretokens)
    val body = "# BPE merges learned from the test corpus by graft.tools.BpeTrain\n" +
      merges.map { case (a, b) => s"$a\t$b" }.mkString("", "\n", "\n")
    java.nio.file.Files.writeString(p, body)
    println(s"wrote ${merges.size} merges to $out")
    spark.stop()
  }
}
