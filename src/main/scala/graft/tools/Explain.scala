package graft.tools

import graft.{LocalSession, Queries}

/** Dev tool: print the formatted physical plan (and optionally time) of one
  * battery query. Usage: runMain graft.tools.Explain <queryName> [sfDir] [time]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = LocalSession(LocalSession.envCpus(8))
    val df = Queries.all.collectFirst { case (`name`, q) => q.run(spark, sfDir) }.get
    df.explain("formatted")
    if (args.contains("time")) {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"ELAPSED ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
