package graft.operators

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import scala.jdk.CollectionConverters._

/** A local filesystem under the scheme `failrename` whose rename of a
  * source named `*__<FailingRenameFs.failTag>_tmp` returns false.
  */
class FailingRenameFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failrename:///")
  override def getScheme: String = "failrename"
  override def rename(src: Path, dst: Path): Boolean =
    if (src.getName.endsWith(s"__${FailingRenameFs.failTag}_tmp")) false
    else super.rename(src, dst)
}
object FailingRenameFs { @volatile var failTag = "" }

class PathCommitSpec extends SparkSpec {

  private def localFs: FileSystem =
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  private def dirWith(fs: FileSystem, dir: Path, file: String): Unit = {
    fs.mkdirs(dir)
    fs.create(new Path(dir, file), true).close()
  }

  private def names(fs: FileSystem, dir: Path): Set[String] =
    fs.listStatus(dir).map(_.getPath.getName).toSet

  test("swap replaces the directory, returns the stage's value and leaves no sibling") {
    val base = Files.createTempDirectory("pathcommit").toString
    val fs = localFs
    val root = new Path(base, "t")
    dirWith(fs, root, "old-file")
    val got = PathCommit.swap(spark, root.toString + "/", "x") { tmp =>
      dirWith(fs, new Path(tmp), "new-file"); 7
    }
    assert(got == 7)
    assert(names(fs, root) == Set("new-file"))
    assert(names(fs, new Path(base)) == Set("t"))
    // an absent path is bootstrapped, and no marker means nothing to resume
    val fresh = new Path(base, "u")
    PathCommit.swap(spark, fresh.toString, "x")(tmp => dirWith(fs, new Path(tmp), "f"))
    assert(names(fs, fresh) == Set("f"))
    assert(!PathCommit.resume(spark, fresh.toString, "x"))
  }

  test("a stage that throws leaves the original in place and nothing to resume") {
    val base = Files.createTempDirectory("pathcommit").toString
    val fs = localFs
    val root = new Path(base, "t")
    dirWith(fs, root, "old-file")
    intercept[RuntimeException] {
      PathCommit.swap(spark, root.toString, "x") { tmp =>
        dirWith(fs, new Path(tmp), "partial"); throw new RuntimeException("crash")
      }
    }
    assert(names(fs, root) == Set("old-file"))
    assert(!PathCommit.resume(spark, root.toString, "x"))
    // the next attempt replaces the stale stage rather than adding to it
    PathCommit.swap(spark, root.toString, "x")(tmp => dirWith(fs, new Path(tmp), "f"))
    assert(names(fs, root) == Set("f"))
  }

  test("a failed rename rolls the original back, clears the marker and throws") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failrename.impl", classOf[FailingRenameFs].getName)
    conf.setBoolean("fs.failrename.impl.disable.cache", true)
    try {
      val base = Files.createTempDirectory("pathcommit").toString
      val root = new Path(s"failrename://$base/t")
      val fs = root.getFileSystem(conf)
      dirWith(fs, root, "old-file")
      FailingRenameFs.failTag = "x"
      intercept[IllegalStateException] {
        PathCommit.swap(spark, root.toString, "x")(tmp => dirWith(fs, new Path(tmp), "f"))
      }
      assert(names(fs, root) == Set("old-file"))
      assert(!fs.exists(new Path(s"${root}__x_marker")))
      assert(!fs.exists(new Path(s"${root}__x_old")))
      FailingRenameFs.failTag = ""
      PathCommit.swap(spark, root.toString, "x")(tmp => dirWith(fs, new Path(tmp), "f"))
      assert(names(fs, root) == Set("f"))
    } finally {
      FailingRenameFs.failTag = ""
      conf.unset("fs.failrename.impl")
      conf.unset("fs.failrename.impl.disable.cache")
    }
  }

  test("batchDirs parses __batch_id=N directories and skips the rest") {
    val base = new Path(Files.createTempDirectory("pathcommit").toString)
    val fs = localFs
    Seq("__batch_id=-1", "__batch_id=3", "__batch_id=x", "other=1")
      .foreach(d => fs.mkdirs(new Path(base, d)))
    fs.create(new Path(base, "__batch_id=4"), true).close() // a file, not a dir
    assert(PathCommit.batchDirs(fs, base).map(_._2).toSet == Set(-1L, 3L))
  }

  private def mainSourcesContaining(needle: String) = {
    val root = Paths.get("src/main/scala")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map(root.relativize(_).toString).toSeq.sorted
  }

  test("Hadoop renames happen only in operators/PathCommit.scala (and battery crash states)") {
    val callers = mainSourcesContaining(".rename(").filterNot(_.startsWith("graft/battery/"))
    assert(callers == Seq("graft/operators/PathCommit.scala"),
      s".rename( outside PathCommit.scala: $callers")
  }

  test("__batch_id= directories are parsed only in operators/PathCommit.scala") {
    assert(mainSourcesContaining("\"__batch_id=\"") == Seq("graft/operators/PathCommit.scala"))
    Seq("compactIndex", "compactGuarded", "swapRefit", "resumeRefit").foreach { old =>
      assert(mainSourcesContaining(old).isEmpty, s"$old is back")
    }
  }

  test("the __batch_id loop-path layout is written and read only through PathCommit") {
    val allowed = Set("graft/operators/PathCommit.scala",
      "graft/streaming/ChangeStreams.scala", "graft/streaming/EventStreams.scala")
    val writers = mainSourcesContaining("partitionOverwriteMode")
    assert(writers.toSet.subsetOf(allowed), s"partitionOverwriteMode outside $allowed: $writers")
    Seq("def readHistory", "def pathExists", "def hasData").foreach { d =>
      assert(mainSourcesContaining(d).isEmpty, s"$d is back")
    }
    // a per-batch path is written through writeBatch, never appended to
    Seq("mode(\"append\")", "SaveMode.Append", "__feed_tmp").foreach { w =>
      val found = mainSourcesContaining(w).filterNot(_.startsWith("graft/battery/"))
      assert(found.isEmpty, s"$w outside battery/: $found")
    }
  }
}
