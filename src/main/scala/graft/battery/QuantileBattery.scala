package graft

/** One family section of the LLM-data-pipeline extension
  * battery (split out of ExtQueries.scala at round 19 — no
  * behavior change; see [[ExtQueries.all]] for the union).
  */
private[graft] object QuantileBattery {
  import Queries.{Q, table}


  val queries: Seq[(String, Q)] = Seq(
    // EXACT integer equal-width histogram of document lengths: bucket
    // boundaries via integer division only, so both engines bucket
    // identically (no float-boundary wobble).
    "q_histogram" -> Q(
      (s, dir) => graft.operators.Profile.histogram(
        table(s, dir, "documents"), "n_chars", nBuckets = 16),
      Some("""
        WITH s AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents)
        SELECT ((n_chars - mn) * 16) // (mx - mn + 1) AS bucket,
          count(*) AS cnt, min(n_chars) AS lo, max(n_chars) AS hi
        FROM documents, s GROUP BY 1""")),

    // Per-language length quantiles (exact interpolation for the oracle;
    // production default is the t-digest sketch). Quartile fractions of
    // integer inputs are exact dyadics, so Spark's percentile and DuckDB's
    // quantile_cont agree bit-for-bit.
    "q_group_quantiles" -> Q(
      (s, dir) => graft.operators.Profile.groupQuantiles(
        table(s, dir, "documents"), Seq("lang"), "n_chars",
        probs = Seq(0.25, 0.5, 0.75), exact = true),
      BatteryUtil.groupQuantilesOracle),
  )
}
