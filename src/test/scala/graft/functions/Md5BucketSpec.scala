package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Pins [[Md5Bucket]] bit-identical to the SQL chain it replaces —
  * `conv(substring(md5(s), 1, 8), 16, 10) % width` — because every
  * committed golden fixture and DuckDB oracle mirror recomputes THAT
  * chain from the same strings. A divergence here silently re-keys
  * every sampler, split, CMS bucket, and quality-model feature hash.
  */
class Md5BucketSpec extends SparkSpec {

  import spark.implicits._

  // adversarial corpus: ascii, unicode (multi-byte UTF-8), empty string,
  // separators that appear in the repo's "a:b"/"l@p" item conventions,
  // long strings, digits-only (the conv-parse shape)
  private val corpus = Seq(
    "", "a", "hello world", "item:3", "7@19:2", "0", "00000000",
    "ffffffff", "café über", "日本語の文",
    "😀emoji", "x" * 4096, "-1", ":", "a:b:c",
    "line\nbreak", "tab\tsep", "quote\"'q")

  test("md5_bucket matches the conv(substring(md5)) chain for every width") {
    val df = corpus.toDF("s").cache()
    for (width <- Seq(1L, 2L, 7L, 64L, 1024L, 4294967296L)) {
      val got = df.select(col("s"),
          Md5Bucket.column(col("s"), width).as("native"),
          (conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long") %
            width).as("chain"))
        .collect()
      got.foreach { r =>
        assert(r.getLong(1) == r.getLong(2),
          s"width=$width s=${r.getString(0)}: native=${r.getLong(1)} chain=${r.getLong(2)}")
      }
    }
  }

  test("hash values over the unit domain match the repo's pinned examples") {
    // direct compute() calls so the interpreted path is exercised even if
    // codegen covers the DataFrame path
    val v = Md5Bucket.compute(UTF8String.fromString("hello world"), 1L << 32)
    val expected = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex("hello world").substring(0, 8), 16)
    assert(v == expected)
    assert(v >= 0L && v < (1L << 32))
    assert(Md5Bucket.compute(UTF8String.fromString("anything"), 1L) == 0L)
  }

  test("null propagates; width < 1 fails loud") {
    val df = Seq(Some("a"), None).toDF("s")
    val rows = df.select(Md5Bucket.column(col("s"), 16L).as("b")).collect()
    assert(rows.exists(r => !r.isNullAt(0)) && rows.exists(_.isNullAt(0)))
    intercept[IllegalArgumentException] {
      graft.functions.Md5Bucket(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("s")), 0L)
    }
  }

  test("non-string input is a type-check failure, not a silent cast") {
    val err = intercept[Exception] {
      Seq(1L).toDF("n").select(Md5Bucket.column(col("n"), 8L)).collect()
    }
    assert(err.getMessage.contains("md5_bucket"))
  }

  test("Sampling.hashLong call sites are unchanged: assignSplit fractions are stable") {
    // the split assignment for a fixed corpus is a committed contract
    // (golden fixtures + DuckDB oracles recompute it); re-derive via the
    // raw chain and compare end-to-end through the public operator
    val docs = (1 to 400).map(i => (i.toLong, s"doc $i body")).toDF("doc_id", "text")
    val got = graft.operators.Sampling
      .assignSplit(docs, col("doc_id"), Seq(("train", 0.9), ("test", 0.1)))
      .select("doc_id", "split")
    val want = docs.select(col("doc_id"),
      when(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long").cast("double") / lit(4294967296.0) < 0.9, "train")
        .otherwise("test").as("split"))
    val diff = got.as("g").join(want.as("w"), "doc_id")
      .filter(col("g.split") =!= col("w.split")).count()
    assert(diff == 0L)
  }
}
