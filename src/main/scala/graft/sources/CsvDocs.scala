package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV ingestion with the [[JsonlDocs]] contract — explicit schema (no
  * inference pass), PERMISSIVE corrupt-row capture with the raw line
  * preserved for replay, persisted parse (the same corrupt-record query
  * contract), splittable parallel scan. A row is corrupt when it cannot
  * parse INTO THE SCHEMA (e.g. a non-numeric id for a BIGINT column) —
  * the type contract is part of ingestion, not a downstream surprise.
  */
object CsvDocs {
  import JsonlDocs.CorruptCol

  /** The clean and quarantine splits are [[JsonlDocs.clean]] and
    * [[JsonlDocs.quarantine]].
    */
  def read(spark: SparkSession, path: String, schema: StructType,
           header: Boolean = false): DataFrame = {
    require(!schema.fieldNames.contains(CorruptCol),
      s"schema must not already contain $CorruptCol")
    spark.read
      .schema(schema.add(CorruptCol, "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .option("header", header.toString)
      .csv(path)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }
}
