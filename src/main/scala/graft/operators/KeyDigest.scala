package graft.operators

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.DataFrame

/** md5 hex of a cache key, for deriving on-disk memo paths and table
  * names. ONE shared definition: every per-JVM memo (minhash/simhash/
  * ngram/winnow index tables, IVF/PQ artifacts, z-ordered copies,
  * bucketed tables) must key its directory on the FULL cache key — a
  * 32-bit `hashCode` name lets two distinct keys collide and silently
  * share (and overwrite) one artifact.
  */
private[graft] object KeyDigest {
  def apply(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
}

/** Base directory for every build-once persisted index artifact (minhash
  * signature/band tables, IVF/PQ layouts, z-ordered copies, dedup index
  * families), and the one per-JVM memo that builds them ([[IndexRoot.once]],
  * [[IndexRoot.table]]).
  *
  * CLUSTER CONTRACT: the root must be visible to every executor —
  * `spark.read.parquet(root/…)` runs ON the executors. Set
  * `spark.graft.indexDir` to shared storage (HDFS, S3, NFS) on a real
  * cluster. The `java.io.tmpdir` fallback is node-local and therefore
  * only valid in local mode, where driver and executors share one
  * machine — on a non-local master with the conf unset these helpers
  * fail fast instead of producing unreadable-from-executors paths.
  */
private[graft] object IndexRoot {
  val ConfKey = "spark.graft.indexDir"

  def apply(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.getOption(ConfKey).map(_.stripSuffix("/")).getOrElse {
      require(spark.sparkContext.isLocal,
        s"$ConfKey is unset on a non-local master: the java.io.tmpdir " +
          "default is node-local, so executors could not read the index — " +
          "set it to a shared filesystem path (hdfs://, s3a://, NFS)")
      System.getProperty("java.io.tmpdir").stripSuffix("/") + "/graft_index"
    }

  /** Full artifact path under the root: `root/<kind>/<digest-of-key>`. */
  def path(spark: org.apache.spark.sql.SparkSession, kind: String, key: String): String =
    s"${apply(spark)}/$kind/${KeyDigest(key)}"

  /** `build` once per JVM and (kind, key); later calls return the first
    * result. `key` must fold in EVERY parameter that changes the result:
    * two calls that differ only in a parameter left out of the key share
    * the first call's artifact. A build that throws leaves no entry, so
    * the next call builds again.
    */
  def once[A](kind: String, key: String)(build: => A): A =
    memoized("value", kind, key)(build)

  /** [[once]] for a table artifact: the built frame is written as parquet
    * under [[path]] (partitioned by `partitionBy`) and the frame read back
    * from there is returned, so every later query in the JVM reads the
    * persisted copy instead of re-running `build`'s plan.
    */
  def table(kind: String, key: String, partitionBy: String*)(build: => DataFrame): DataFrame =
    tableWrittenBy(kind, key) { (df, to) =>
      val w = df.write.mode("overwrite")
      (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).parquet(to)
    }(build)

  /** [[table]] written by the caller's `write(frame, path)`, for layouts a
    * plain parquet write does not give (a z-ordered file order).
    */
  def tableWrittenBy(kind: String, key: String)(write: (DataFrame, String) => Unit)
                    (build: => DataFrame): DataFrame =
    memoized("table", kind, key) {
      val df = build
      val to = path(df.sparkSession, kind, key)
      write(df, to)
      df.sparkSession.read.parquet(to)
    }

  /** The map stores only this holder; the build runs in `value`, outside
    * `computeIfAbsent`, because builds nest (a curated corpus forces the
    * minhash index inside its own build) and a mapping function that
    * updates its own `ConcurrentHashMap` fails with "Recursive update".
    */
  private final class Entry[A](private[this] var build: () => A) {
    lazy val value: A = { val v = build(); build = null; v }
  }

  // a value and a table under one (kind, key) are separate entries
  private val memo = new ConcurrentHashMap[(String, String, String), Entry[_]]()

  private def memoized[A](form: String, kind: String, key: String)(build: => A): A = {
    val k = (form, kind, key)
    val entry = memo.computeIfAbsent(k, _ => new Entry(() => build)).asInstanceOf[Entry[A]]
    try entry.value
    catch { case t: Throwable => memo.remove(k, entry); throw t }
  }
}
