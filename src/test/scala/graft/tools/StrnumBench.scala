package graft.tools

import graft.LocalSession
import org.apache.spark.sql.functions._

/** Micro-benchmark: DECIMAL(38,18) vs NumericStringSortKey as the ordering
  * field of the argmax-row aggregate (the q_argmin_strnum hot path).
  * Run: sbt 'Test/runMain graft.tools.StrnumBench'
  */
object StrnumBench {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(32)
    val df = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity").cast("int").cast("string").as("qty_str"))
      .cache()
    df.count()
    def run(useKey: Boolean): Double = {
      val ord =
        if (useKey) org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.NumericStringSortKey(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("qty_str"))))
        else col("qty_str").try_cast("decimal(38,18)")
      val rowStruct = struct(df.columns.map(col): _*)
      val ordStruct = struct(ord.as("__ord"), col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("qty_str"))
      val t0 = System.nanoTime()
      df.groupBy("l_returnflag")
        .agg(graft.functions.ArgExtremum.argRow(rowStruct, ordStruct, isMax = true).as("r"))
        .select("r.*").count()
      (System.nanoTime() - t0) / 1e9
    }
    run(useKey = false); run(useKey = true) // warm both paths
    val dec = (1 to 5).map(_ => run(useKey = false))
    val key = (1 to 5).map(_ => run(useKey = true))
    println(f"decimal ord: ${dec.sorted.apply(2)}%.3f s (median of 5)")
    println(f"sortkey ord: ${key.sorted.apply(2)}%.3f s (median of 5)")
    spark.stop()
  }
}
