package graft

import graft.model.RuleJson
import graft.rules.{RuleEvaluator, RuleSetExecutor}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The correctness/bench query battery for the rule-engine surface
  * (SURVEY §2). Each entry exercises one operator family end-to-end: rule
  * JSON → parse → validate → compile to Column → execute, and carries an
  * equivalent DuckDB SQL oracle.
  */
object Queries {

  final case class Q(run: (SparkSession, String) => DataFrame, sql: Option[String])

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** Session-scoped temp ROOT for every battery row that needs scratch
    * storage (index/out dirs of the ingest loops, ANN index builds, BM25
    * compaction, sketch streams): ONE directory per JVM, deleted
    * recursively on exit (best effort, never following symlinks). Before
    * this, each row call left its own `/tmp/graft_*` dir behind — a day
    * of local benching accumulated 1.4k+ of them. A battery run now
    * leaves exactly one root while alive and zero after the JVM exits
    * (the parquet under it only needs to outlive the row's
    * materialization, which ends with the run).
    */
  private lazy val tempRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_session_")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)))
    root
  }

  /** A fresh scratch dir under [[tempRoot]] — the drop-in replacement
    * for `Files.createTempDirectory("graft_…")` in battery rows.
    */
  private[graft] def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(tempRoot, prefix).toString

  /** Canonical post-read events schema: `ts` is a micros TIMESTAMP. */
  private[graft] val eventsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING")

  /** Legacy read schema for TIMESTAMP(NANOS) files: `ts` arrives as the raw
    * nanos BIGINT (paired with the `nanosAsLong` reader option below).
    */
  private[graft] val eventsNanosSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "event_id BIGINT, ts BIGINT, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING")

  /** True iff the parquet file(s) at `path` annotate `ts` as
    * TIMESTAMP(NANOS). The unit is read from the parquet footer — NOT
    * assumed — because the test-data generator has emitted both nanos and
    * micros variants across rounds; memoized per resolved path (a footer
    * open per query construction would be wasted driver IO).
    */
  private val tsUnitCache =
    new java.util.concurrent.ConcurrentHashMap[String, Boolean]()

  private[graft] def eventsTsIsNanos(spark: SparkSession, path: String): Boolean = {
    val hconf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    // `path` may be a single file or a directory of part files; the unit
    // is uniform within one dataset, so one footer decides.
    val status =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p)
          .filter(f => f.getPath.getName.endsWith(".parquet") &&
            !f.getPath.getName.startsWith("_"))
          .headOption.getOrElse(
            throw new IllegalArgumentException(s"no parquet part files under $path"))
      else fs.getFileStatus(p)
    // Cache key includes the probed file's length + mtime: the test-data
    // generator regenerates files IN PLACE mid-round and has flipped the
    // ts unit between rounds, so a path-only memo could serve a stale
    // unit to a long-lived JVM (micros file read as nanos ⇒ timestamps
    // compressed 1000×, or a hard vectorized-reader failure the other
    // way). A regenerated file changes mtime (and usually length), which
    // keys a fresh footer probe; the stat above is paid anyway.
    val key = s"${status.getPath}|${status.getLen}|${status.getModificationTime}"
    tsUnitCache.computeIfAbsent(key, { _ =>
      import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(status.getPath, hconf))
      try {
        val schema = reader.getFileMetaData.getSchema
        schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        }
      } finally reader.close()
    })
  }

  /** Events reader robust to the generator's timestamp unit. MICROS/MILLIS
    * files read natively (explicit TIMESTAMP schema, so an
    * isAdjustedToUTC=false footer still lands on TimestampType rather than
    * inferred NTZ); TIMESTAMP(NANOS) files — which the vectorized reader
    * otherwise rejects — read nanos-as-long and convert losslessly to
    * micros (the generator emits micro-aligned values). The nanosAsLong
    * flag rides as a READER option (merged into this relation's scan-side
    * hadoop conf only) instead of a session-conf mutation, so no other
    * battery query sees it; the explicit schema skips the footer inference
    * step, which only consults the session conf.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsFrom(spark, s"$dir/events.parquet")

  def eventsFrom(spark: SparkSession, path: String): DataFrame =
    if (eventsTsIsNanos(spark, path))
      spark.read
        .option("spark.sql.legacy.parquet.nanosAsLong", "true")
        .schema(eventsNanosSchema)
        .parquet(path)
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else
      spark.read.schema(eventsSchema).parquet(path)

  /** Streaming twin of [[eventsFrom]] (file-source requires a directory).
    * The unit probe goes through the Hadoop FS API so non-local
    * directories (hdfs://, s3a://) resolve the same way the batch reader
    * does.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    if (eventsTsIsNanos(spark, dir))
      spark.readStream
        .schema(eventsNanosSchema)
        .option("spark.sql.legacy.parquet.nanosAsLong", "true")
        .parquet(dir)
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else
      spark.readStream.schema(eventsSchema).parquet(dir)
  }

  /** PINNED CLUSTERED LABEL CORPUS — the vote-regime fixture
    * ([[graft.tools.LabelVoteSweep]]'s `clustered` mode, shared so the
    * battery row, the sweep, and the golden mirror all read the same
    * bytes): 200 families × 10 members, 64-dim, UNIT-NORMALIZED members
    * jittered 0.08 around a per-family Gaussian base, label = family
    * mod 7 — real cluster structure (true top-k at cosine ≈ 0.99), the
    * regime [[graft.operators.LshTuning.forVote]]'s collision-loss model
    * is stated for. Deterministic (fixed `scala.util.Random` seeds) and
    * SF-independent, so one committed golden gates it at every SF.
    */
  private[graft] def clusteredLabelCorpus(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until 2000).map { i =>
      val fam = i / 10
      val base = {
        val r = new scala.util.Random(7000 + fam)
        Array.fill(64)(r.nextGaussian())
      }
      val j = new scala.util.Random(i)
      val v = base.map(x => x + 0.08 * j.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / n).toFloat).toSeq, fam % 7)
    }.toDF("vec_id", "embedding", "label")
  }

  /** Evaluate a rule-JSON string against a table. */
  private def rule(tableName: String, json: String,
                   params: Map[String, Any] = Map.empty)
                  (spark: SparkSession, dir: String): DataFrame =
    RuleEvaluator(table(spark, dir, tableName), RuleJson.parseRule(json), params)

  // --- §2.2 comparison family -------------------------------------------------

  private val comparisonQueries: Seq[(String, Q)] = Seq(
    "q_equal" -> Q(
      rule("customer",
        """{"Name":"eq","Conditions":{"Conditions":[
             {"Property":"c_mktsegment","Operator":"Equal","Value":"BUILDING"}]}}"""),
      Some("SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'")),

    "q_notequal" -> Q(
      rule("customer",
        """{"Conditions":{"Conditions":[
             {"Property":"c_mktsegment","Operator":"NotEqual","Value":"BUILDING"}]}}"""),
      Some("SELECT * FROM customer WHERE c_mktsegment <> 'BUILDING'")),

    "q_gt" -> Q(
      rule("customer",
        """{"Conditions":{"Conditions":[
             {"Property":"c_acctbal","Operator":"GreaterThan","Value":5000}]}}"""),
      Some("SELECT * FROM customer WHERE c_acctbal > 5000")),

    "q_gte" -> Q(
      rule("part",
        """{"Conditions":{"Conditions":[
             {"Property":"p_size","Operator":"GreaterThanOrEqual","Value":30}]}}"""),
      Some("SELECT * FROM part WHERE p_size >= 30")),

    "q_lt" -> Q(
      rule("part",
        """{"Conditions":{"Conditions":[
             {"Property":"p_retailprice","Operator":"LessThan","Value":1200}]}}"""),
      Some("SELECT * FROM part WHERE p_retailprice < 1200")),

    "q_lte" -> Q(
      rule("supplier",
        """{"Conditions":{"Conditions":[
             {"Property":"s_acctbal","Operator":"LessThanOrEqual","Value":5000}]}}"""),
      Some("SELECT * FROM supplier WHERE s_acctbal <= 5000")),

    // Numeric lift: a string property under an ordered comparison is compared
    // as DECIMAL(38,18) (reference decimal.Parse semantics, SURVEY §2.2).
    "q_numeric_lift" -> Q(
      (s, dir) => {
        val df = table(s, dir, "nation")
          .withColumn("nk_str", col("n_nationkey").cast("string"))
        RuleEvaluator(df, RuleJson.parseRule(
          """{"Conditions":{"Conditions":[
               {"Property":"nk_str","Operator":"GreaterThan","Value":"10"}]}}"""))
      },
      Some("""SELECT *, CAST(n_nationkey AS VARCHAR) AS nk_str FROM nation
             WHERE CAST(CAST(n_nationkey AS VARCHAR) AS DECIMAL(38,18)) > CAST('10' AS DECIMAL(38,18))""")),
  )

  // --- §2.2 membership + string methods ---------------------------------------

  private val stringQueries: Seq[(String, Q)] = Seq(
    "q_in" -> Q(
      rule("customer",
        """{"Conditions":{"Conditions":[
             {"Property":"c_mktsegment","Operator":"In","Value":["BUILDING","AUTOMOBILE"]}]}}"""),
      Some("SELECT * FROM customer WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')")),

    "q_notin" -> Q(
      rule("customer",
        """{"Conditions":{"Conditions":[
             {"Property":"c_mktsegment","Operator":"NotIn","Value":["BUILDING","AUTOMOBILE"]}]}}"""),
      Some("SELECT * FROM customer WHERE c_mktsegment NOT IN ('BUILDING','AUTOMOBILE')")),

    // JSON numeric array elements on an int column — a superset of the
    // reference, which only reads array elements as strings (SURVEY §2.7.6).
    "q_in_coerce" -> Q(
      rule("part",
        """{"Conditions":{"Conditions":[
             {"Property":"p_size","Operator":"In","Value":[5,10,15]}]}}"""),
      Some("SELECT * FROM part WHERE p_size IN (5,10,15)")),

    "q_contains" -> Q(
      rule("part",
        """{"Conditions":{"Conditions":[
             {"Property":"p_name","Operator":"Contains","Value":"bolt"}]}}"""),
      Some("SELECT * FROM part WHERE contains(p_name, 'bolt')")),

    "q_notcontains" -> Q(
      rule("part",
        """{"Conditions":{"Conditions":[
             {"Property":"p_name","Operator":"NotContains","Value":"bolt"}]}}"""),
      Some("SELECT * FROM part WHERE NOT contains(p_name, 'bolt')")),

    "q_startswith" -> Q(
      rule("part",
        """{"Conditions":{"Conditions":[
             {"Property":"p_name","Operator":"StartsWith","Value":"large"}]}}"""),
      Some("SELECT * FROM part WHERE p_name LIKE 'large%'")),

    "q_endswith" -> Q(
      rule("part",
        """{"Conditions":{"Conditions":[
             {"Property":"p_name","Operator":"EndsWith","Value":"widget"}]}}"""),
      Some("SELECT * FROM part WHERE p_name LIKE '%widget'")),
  )

  // --- §2.2 null / emptiness family (on a derived nullable/empty column) ------

  private def docsWithMaybe(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").withColumn("maybe",
      when(col("n_chars") % 7 === 0, lit(null).cast("string"))
        .when(col("n_chars") % 5 === 0, lit(""))
        .otherwise(col("source")))

  private val maybeSql =
    "CASE WHEN n_chars % 7 = 0 THEN NULL WHEN n_chars % 5 = 0 THEN '' ELSE source END"

  private def maybeRule(op: String)(s: SparkSession, dir: String): DataFrame =
    RuleEvaluator(docsWithMaybe(s, dir), RuleJson.parseRule(
      s"""{"Conditions":{"Conditions":[
            {"Property":"maybe","Operator":"$op","Value":null}]}}"""))

  private val nullQueries: Seq[(String, Q)] = Seq(
    "q_null" -> Q(maybeRule("Null"),
      Some(s"SELECT *, $maybeSql AS maybe FROM documents WHERE ($maybeSql) IS NULL")),
    "q_notnull" -> Q(maybeRule("NotNull"),
      Some(s"SELECT *, $maybeSql AS maybe FROM documents WHERE ($maybeSql) IS NOT NULL")),
    "q_empty" -> Q(maybeRule("Empty"),
      Some(s"SELECT *, $maybeSql AS maybe FROM documents WHERE ($maybeSql) IS NULL OR ($maybeSql) = ''")),
    "q_notempty" -> Q(maybeRule("NotEmpty"),
      Some(s"SELECT *, $maybeSql AS maybe FROM documents WHERE ($maybeSql) IS NOT NULL AND ($maybeSql) <> ''")),
    "q_nullorempty" -> Q(maybeRule("NullOrEmpty"),
      Some(s"SELECT *, $maybeSql AS maybe FROM documents WHERE ($maybeSql) IS NULL OR ($maybeSql) = ''")),
    "q_notnullorempty" -> Q(maybeRule("NotNullOrEmpty"),
      Some(s"SELECT *, $maybeSql AS maybe FROM documents WHERE ($maybeSql) IS NOT NULL AND ($maybeSql) <> ''")),
  )

  // --- §2.2 regex-count + If + Dynamic* families -------------------------------

  // `q_dynamic_equal` / `q_sql_tvf_params`: the parameter resolves to MACHINERY
  private val machineryOracle =
    Some("SELECT * FROM customer WHERE c_mktsegment = 'MACHINERY'")

  private val advancedQueries: Seq[(String, Q)] = Seq(
    "q_regex_gt" -> Q(
      rule("events",
        """{"Conditions":{"Conditions":[
             {"Property":"props","Operator":"ContainIfCountIsGreater",
              "Value":{"Target":"[02468]","Threshold":"1"}}]}}"""),
      Some("SELECT * FROM events WHERE len(regexp_extract_all(props, '[02468]')) > 1")),

    "q_regex_lt" -> Q(
      rule("events",
        """{"Conditions":{"Conditions":[
             {"Property":"props","Operator":"ContainIfCountIsLess",
              "Value":{"Target":"[0-9]","Threshold":2}}]}}"""),
      Some("SELECT * FROM events WHERE len(regexp_extract_all(props, '[0-9]')) < 2")),

    "q_regex_must" -> Q(
      rule("events",
        """{"Conditions":{"Conditions":[
             {"Property":"props","Operator":"MustContainIfCountIsGreater",
              "Value":{"Target":"[0-9]","Required":"K","Threshold":"1"}}]}}"""),
      Some("""SELECT * FROM events WHERE len(regexp_extract_all(props, '[0-9]')) > 1
             AND contains(lower(props), lower('K'))""")),

    "q_if" -> Q(
      rule("orders",
        """{"Conditions":{"Conditions":[
             {"Property":"o_orderstatus","Operator":"If",
              "Value":{"Check":{"Property":"o_orderstatus","Operator":"Equal","Value":"F"},
                       "Then":{"Property":"o_totalprice","Operator":"GreaterThan","Value":150000}}}]}}"""),
      Some("SELECT * FROM orders WHERE (o_orderstatus <> 'F') OR (o_totalprice > 150000)")),

    "q_bool_tree" -> Q(
      rule("customer",
        """{"Conditions":{"LogicalOperator":"AND","Conditions":[
             {"Property":"c_mktsegment","Operator":"Equal","Value":"BUILDING"}],
           "Groups":[{"LogicalOperator":"OR","Negate":true,"Conditions":[
             {"Property":"c_acctbal","Operator":"GreaterThan","Value":8000},
             {"Property":"c_nationkey","Operator":"LessThan","Value":5}]}]}}"""),
      Some("""SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'
             AND NOT (c_acctbal > 8000 OR c_nationkey < 5)""")),

    "q_empty_rule" -> Q(
      rule("region", """{"Name":"empty","Conditions":{"Conditions":[]}}"""),
      Some("SELECT * FROM region")),

    "q_dynamic_equal" -> Q(
      rule("customer",
        """{"Conditions":{"Conditions":[
             {"Property":"c_mktsegment","Operator":"DynamicEqual","Value":null}]}}""",
        Map("c_mktsegment" -> "MACHINERY")),
      machineryOracle),

    "q_dynamic_guard" -> Q(
      rule("region",
        """{"Conditions":{"Conditions":[
             {"Property":"r_name","Operator":"DynamicNotNullOrEmpty","Value":null}]}}""",
        Map("r_name" -> "x")),
      Some("SELECT * FROM region")),

    "q_dynamic_empty" -> Q(
      rule("region",
        """{"Conditions":{"Conditions":[
             {"Property":"r_name","Operator":"DynamicEmpty","Value":null}]}}""",
        Map("r_name" -> "x")),
      Some("SELECT * FROM region WHERE FALSE")),

    // blank-string param -> IsNullOrWhiteSpace(constant) folds to TRUE
    "q_dynamic_blank" -> Q(
      rule("region",
        """{"Conditions":{"Conditions":[
             {"Property":"r_name","Operator":"DynamicNullOrEmpty","Value":null}]}}""",
        Map("r_name" -> "   ")),
      Some("SELECT * FROM region")),

    // non-empty param -> NotEmpty(constant) folds to TRUE
    "q_dynamic_notempty" -> Q(
      rule("nation",
        """{"Conditions":{"Conditions":[
             {"Property":"n_name","Operator":"DynamicNotEmpty","Value":null}]}}""",
        Map("n_name" -> "x")),
      Some("SELECT * FROM nation")),
  )

  // --- §2.4 group-by + argmin/argmax/count -------------------------------------

  // `q_argmax` / `q_sql_tvf`: the argmax row per priority of the open orders
  private val argmaxOracle =
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM
             (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey DESC, o_custkey DESC, o_orderstatus DESC,
                        o_orderdate DESC) rn FROM orders WHERE o_orderstatus = 'O') t
             WHERE rn = 1""")

  private val aggQueries: Seq[(String, Q)] = Seq(
    // argmin row per group; ties broken by the full row (ascending).
    "q_argmin" -> Q(
      rule("customer",
        """{"Conditions":{"Conditions":[]},
           "GroupBy":["c_mktsegment"],
           "Aggregation":{"AggregateProperty":"c_acctbal","AggregateFunction":"Min"}}"""),
      Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM
             (SELECT *, row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY c_acctbal, c_custkey, c_name, c_nationkey) rn FROM customer) t
             WHERE rn = 1""")),

    "q_argmax" -> Q(
      rule("orders",
        """{"Conditions":{"Conditions":[
             {"Property":"o_orderstatus","Operator":"Equal","Value":"O"}]},
           "GroupBy":["o_orderpriority"],
           "Aggregation":{"AggregateProperty":"o_totalprice","AggregateFunction":"Max"}}"""),
      argmaxOracle),

    // String-typed aggregate property orders NUMERICALLY ("10" > "9"):
    // legacy ConvertToDecimal semantics, AggregationEngine.cs:75-87.
    "q_argmin_strnum" -> Q(
      (s, dir) => {
        val df = table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            col("l_quantity").cast("int").cast("string").as("qty_str"))
        RuleEvaluator(df, RuleJson.parseRule(
          """{"Conditions":{"Conditions":[]},
             "GroupBy":["l_returnflag"],
             "Aggregation":{"AggregateProperty":"qty_str","AggregateFunction":"Max"}}"""))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag, qty_str FROM
             (SELECT *, row_number() OVER (PARTITION BY l_returnflag
               ORDER BY CAST(qty_str AS DECIMAL(38,18)) DESC, l_orderkey DESC, l_linenumber DESC,
                        l_returnflag DESC, qty_str DESC) rn
              FROM (SELECT l_orderkey, l_linenumber, l_returnflag,
                      CAST(CAST(FLOOR(l_quantity) AS INTEGER) AS VARCHAR) AS qty_str FROM lineitem)) t
             WHERE rn = 1""")),

    // Multi-key Count (legacy engine: AggregationEngine.cs:12-25,45-46).
    "q_groupcount" -> Q(
      (s, dir) => rule("lineitem",
        """{"Conditions":{"Conditions":[]},
           "GroupBy":["l_returnflag","l_linestatus"],
           "Aggregation":{"AggregateProperty":"l_orderkey","AggregateFunction":"Count"}}""")(s, dir)
        .withColumnRenamed("count", "cnt"),
      Some("SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem GROUP BY 1, 2")),

    // Empty GroupBy ⇒ grand aggregate (legacy engine, AggregationEngine.cs:17-25).
    "q_global_count" -> Q(
      (s, dir) => rule("orders",
        """{"Conditions":{"Conditions":[
             {"Property":"o_orderstatus","Operator":"Equal","Value":"F"}]},
           "GroupBy":[],
           "Aggregation":{"AggregateProperty":"o_orderkey","AggregateFunction":"Count"}}""")(s, dir)
        .withColumnRenamed("count", "cnt"),
      Some("SELECT count(*) AS cnt FROM orders WHERE o_orderstatus = 'F'")),

    "q_global_min" -> Q(
      rule("supplier",
        """{"Conditions":{"Conditions":[]},
           "GroupBy":[],
           "Aggregation":{"AggregateProperty":"s_acctbal","AggregateFunction":"Min"}}"""),
      Some("""SELECT * FROM supplier
             ORDER BY s_acctbal, s_suppkey, s_name, s_nationkey LIMIT 1""")),
  )

  // --- §2.5 multi-rule UNION DISTINCT ------------------------------------------

  // `q_union_rules` / `q_sql_tvf_rules`
  private val unionRulesOracle =
      Some("""SELECT * FROM customer WHERE c_acctbal > 9000
             UNION SELECT * FROM customer WHERE c_mktsegment = 'MACHINERY'""")

  private val ruleSetQueries: Seq[(String, Q)] = Seq(
    // Two filter-only rules fuse into ONE scan (OR of predicates) + distinct.
    "q_union_rules" -> Q(
      (s, dir) => RuleSetExecutor.executeAll(table(s, dir, "customer"), Seq(
        RuleJson.parseRule(
          """{"Conditions":{"Conditions":[
               {"Property":"c_acctbal","Operator":"GreaterThan","Value":9000}]}}"""),
        RuleJson.parseRule(
          """{"Conditions":{"Conditions":[
               {"Property":"c_mktsegment","Operator":"Equal","Value":"MACHINERY"}]}}"""))),
      unionRulesOracle),

    // Filter rule + aggregating rule (argmin rows) unioned and deduped.
    "q_union_mixed" -> Q(
      (s, dir) => RuleSetExecutor.executeAll(table(s, dir, "customer"), Seq(
        RuleJson.parseRule(
          """{"Conditions":{"Conditions":[
               {"Property":"c_acctbal","Operator":"GreaterThan","Value":9500}]}}"""),
        RuleJson.parseRule(
          """{"Conditions":{"Conditions":[]},
             "GroupBy":["c_mktsegment"],
             "Aggregation":{"AggregateProperty":"c_acctbal","AggregateFunction":"Min"}}"""))),
      Some("""SELECT * FROM customer WHERE c_acctbal > 9500
             UNION
             SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM
               (SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal, c_custkey, c_name, c_nationkey) rn FROM customer) t
             WHERE rn = 1""")),
  )

  // The KMV TVF rows' two overlapping corpora (doc_id % 3 <> 0 vs
  // doc_id % 2 = 0) as the views docs_a_v / docs_b_v.
  private def kmvViews(s: SparkSession, dir: String): Unit = {
    graft.functions.GraftFunctions.register(s)
    val docs = table(s, dir, "documents")
    docs.filter(col("doc_id") % 3 =!= 0).createOrReplaceTempView("docs_a_v")
    docs.filter(col("doc_id") % 2 === 0).createOrReplaceTempView("docs_b_v")
  }

  private val sqlSurfaceQueries: Seq[(String, Q)] = Seq(
    // The SAME engine through the SQL-only table-valued function surface:
    // evaluate_rule splices the library's logical plan into a spark.sql
    // query at analysis time. Rule = filter + group-by + argmax row, i.e.
    // the deepest engine path, gated end-to-end through SQL.
    "q_sql_tvf" -> Q(
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        table(s, dir, "orders").createOrReplaceTempView("orders_v")
        s.sql("""SELECT * FROM evaluate_rule('orders_v',
          '{"Conditions":{"Conditions":[
              {"Property":"o_orderstatus","Operator":"Equal","Value":"O"}]},
            "GroupBy":["o_orderpriority"],
            "Aggregation":{"AggregateProperty":"o_totalprice","AggregateFunction":"Max"}}')""")
      },
      argmaxOracle),

    // externalParams through SQL: the optional third TVF argument is a
    // JSON object resolved by the Dynamic* operator family — the same
    // param path the library's evaluate(…, externalParams) takes.
    "q_sql_tvf_params" -> Q(
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        table(s, dir, "customer").createOrReplaceTempView("customer_v")
        s.sql("""SELECT * FROM evaluate_rule('customer_v',
          '{"Conditions":{"Conditions":[
              {"Property":"c_mktsegment","Operator":"DynamicEqual","Value":null}]}}',
          '{"c_mktsegment":"MACHINERY"}')""")
      },
      machineryOracle),

    // Multi-rule UNION DISTINCT through the evaluate_rules TVF.
    "q_sql_tvf_rules" -> Q(
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        table(s, dir, "customer").createOrReplaceTempView("customer_v")
        s.sql("""SELECT * FROM evaluate_rules('customer_v',
          '[{"Conditions":{"Conditions":[
               {"Property":"c_acctbal","Operator":"GreaterThan","Value":9000}]}},
            {"Conditions":{"Conditions":[
               {"Property":"c_mktsegment","Operator":"Equal","Value":"MACHINERY"}]}}]')""")
      },
      unionRulesOracle),

    // EXTENSION-TIER TVFs: the pipeline operators behind plain SQL —
    // same analysis-time plan-splice machinery as evaluate_rule, so each
    // row is gated against the SAME oracle as its DataFrame-API twin
    // (identical plan → identical bits).
    "q_sql_tvf_drift" -> Q(
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        val docs = table(s, dir, "documents")
        docs.filter(col("doc_id") % 3 === 0).createOrReplaceTempView("docs_old_v")
        docs.filter(col("doc_id") % 3 =!= 0).createOrReplaceTempView("docs_new_v")
        s.sql("SELECT * FROM graft_drift('docs_old_v', 'docs_new_v', 'source')")
      },
      BatteryUtil.driftOracle),

    "q_sql_tvf_dedup" -> Q(
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        table(s, dir, "documents").createOrReplaceTempView("documents_v")
        s.sql("""SELECT * FROM
          graft_dedup_pairs('documents_v', 'doc_id', 'text', 'simhash', 3)""")
      },
      BatteryUtil.golden("q_dedup_simhash")),

    "q_sql_tvf_quality" -> Q(
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        table(s, dir, "documents").createOrReplaceTempView("documents_v")
        s.sql("SELECT * FROM graft_quality('documents_v', 'doc_id', 'text')")
      },
      // the q_quality_rules oracle at the DEFAULT thresholds
      // (minTokens 50, maxTokens 100000; the rest are shared defaults)
      BatteryUtil.qualityRulesOracle(minTokens = 50, maxTokens = 100000)),

    // KMV sketch estimates behind SQL: overlap between two named views
    // and per-slice distinct estimates — gated against the SAME oracles
    // as the q_kmv_* DataFrame rows (exact sketch algebra: building the
    // per-lang sketch directly equals building per-(lang,part) and
    // merging, so the distinct row shares q_kmv_distinct's oracle).
    "q_sql_tvf_overlap" -> Q(
      (s, dir) => {
        kmvViews(s, dir)
        s.sql("SELECT * FROM graft_overlap('docs_a_v', 'docs_b_v', 'text', 256)")
      },
      BatteryUtil.kmvOverlapOracle),

    "q_sql_tvf_distinct" -> Q(
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        table(s, dir, "documents").createOrReplaceTempView("documents_v")
        s.sql("SELECT * FROM graft_distinct('documents_v', 'text', 'lang', 64)")
      },
      BatteryUtil.kmvDistinctOracle),

    // Set-difference TVF: graft_difference over the same two views as
    // q_sql_tvf_overlap — directional "how much of A is NOT in B" for
    // SQL users; shares q_kmv_diff's oracle arithmetic.
    "q_sql_tvf_diff" -> Q(
      (s, dir) => {
        kmvViews(s, dir)
        s.sql("SELECT * FROM graft_difference('docs_a_v', 'docs_b_v', 'text', 256)")
      },
      BatteryUtil.kmvDiffOracle),

    // Label propagation behind SQL: graft_knn_label over the
    // every-10th-vector query/seed split — shares q_knn_label's oracle
    // (the TVF splices the library's exact plan, so the quantized-dot
    // rank and vote are bit-identical).
    "q_sql_tvf_knn" -> Q(
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        val emb = table(s, dir, "embeddings")
        emb.filter(col("vec_id") % 10 === 0).createOrReplaceTempView("emb_q_v")
        emb.filter(col("vec_id") % 10 =!= 0).createOrReplaceTempView("emb_s_v")
        s.sql("SELECT * FROM graft_knn_label('emb_q_v', 'emb_s_v', " +
          "'vec_id', 'embedding', 'label', 5)")
      },
      BatteryUtil.knnLabelOracle),

    // Per-group quantiles behind SQL: graft_quantiles in exact mode —
    // shares q_group_quantiles' oracle (same plan via the TVF splice).
    "q_sql_tvf_quantiles" -> Q(
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        table(s, dir, "documents").createOrReplaceTempView("documents_qv")
        s.sql("SELECT * FROM graft_quantiles('documents_qv', 'n_chars', " +
          "'lang', 'exact')")
      },
      BatteryUtil.groupQuantilesOracle),

    // AS-OF join behind SQL (Spark SQL has no ASOF; DuckDB does — the
    // TVF closes exactly that gap): each purchase gets the user's latest
    // prior click. Shares q_asof_join's oracle.
    "q_sql_tvf_asof" -> Q(
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        val ev = events(s, dir)
        ev.filter(col("event_type") === "purchase")
          .createOrReplaceTempView("ev_purchase_v")
        ev.filter(col("event_type") === "click")
          .createOrReplaceTempView("ev_click_v")
        s.sql("SELECT * FROM graft_asof('ev_purchase_v', 'ev_click_v', " +
          "'user_id', 'ts', 'ts')")
      },
      BatteryUtil.asofOracle),

    // Gap sessionization behind SQL. Shares q_events_session's oracle.
    "q_sql_tvf_session" -> Q(
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        events(s, dir).createOrReplaceTempView("events_sess_v")
        s.sql("SELECT * FROM graft_sessionize('events_sess_v', 30)")
      },
      BatteryUtil.eventsSessionOracle),
  )

  private val tagQueries: Seq[(String, Q)] = Seq(
    // One-scan rule-hit tagging: every rule becomes a boolean column.
    "q_rule_tags" -> Q(
      (s, dir) => RuleSetExecutor.tagAll(
        table(s, dir, "customer").select("c_custkey", "c_acctbal", "c_mktsegment"),
        Seq(
          RuleJson.parseRule(
            """{"Name":"big_balance","Conditions":{"Conditions":[
                 {"Property":"c_acctbal","Operator":"GreaterThan","Value":9000}]}}"""),
          RuleJson.parseRule(
            """{"Name":"machinery","Conditions":{"Conditions":[
                 {"Property":"c_mktsegment","Operator":"Equal","Value":"MACHINERY"}]}}"""))),
      Some("""SELECT c_custkey, c_acctbal, c_mktsegment,
               c_acctbal > 9000 AS big_balance,
               c_mktsegment = 'MACHINERY' AS machinery,
               (c_acctbal > 9000 OR c_mktsegment = 'MACHINERY') AS "__matched_any"
             FROM customer""")),
  )

  def engineQueries: Seq[(String, Q)] =
    comparisonQueries ++ stringQueries ++ nullQueries ++ advancedQueries ++
      aggQueries ++ ruleSetQueries ++ sqlSurfaceQueries ++ tagQueries

  def all: Seq[(String, Q)] = engineQueries ++ ExtQueries.all
}
