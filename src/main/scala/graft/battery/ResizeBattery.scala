package graft

import graft.operators.Multimodal

/** One family section of the LLM-data-pipeline extension
  * battery (split out of ExtQueries.scala at round 19 — no
  * behavior change; see [[ExtQueries.all]] for the union).
  */
private[graft] object ResizeBattery {
  import Queries.{Q, table}


  val queries: Seq[(String, Q)] = Seq(
    // Resize planning over REAL-decoded dimensions: fit into a 32×32 box
    // (payload dims reach 64×48, so both axes actually downscale), aspect
    // preserved, no upscaling. Oracle applies the same IEEE arithmetic to
    // the same arithmetic dimensions.
    "q_mm_resize" -> Q(
      (s, dir) => Multimodal.resizeToFit(
        Multimodal.decodeFeatures(
          Multimodal.withImagePayload(
            table(s, dir, "documents").select("doc_id"), "doc_id"), "doc_id"),
        targetW = 32, targetH = 32)
        .select("media_id", "width", "height", "resized_width", "resized_height"),
      Some("""
        WITH d AS (SELECT doc_id AS media_id,
                     CAST(8 + doc_id % 57 AS INT) AS width,
                     CAST(8 + doc_id % 41 AS INT) AS height
                   FROM documents)
        SELECT media_id, width, height,
          CAST(greatest(floor(width * least(32.0 / width, 32.0 / height, 1.0)), 1) AS INT)
            AS resized_width,
          CAST(greatest(floor(height * least(32.0 / width, 32.0 / height, 1.0)), 1) AS INT)
            AS resized_height
        FROM d""")),
  )
}
