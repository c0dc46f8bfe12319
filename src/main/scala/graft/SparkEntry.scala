package graft
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Normalize, PromptRender, SimilarityFunctions => SF}
import graft.operators._
import graft.pipeline.LinkagePipeline

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data ops), with a DuckDB-equivalent oracle
  * in `oracleSql` wherever the semantics are expressible in ANSI SQL.
  * Custom-expression ops (Jaro-Winkler, SimHash, MinHash, fingerprints) are
  * rows-only here and exactness-tested in ScalaTest instead.
  *
  * The symbolic ER rows (every step recomputed by the oracle in SQL) share
  * one fixture, spelled once below; each piece has a frozen SQL mirror in
  * `oracleSql` that must change with it:
  *  - [[bandKey]]/[[tokenKey]] and [[symKeys]], the two-family key scheme
  *    (`b|lang|n_chars/5`, `t|<first two tokens>`): the `keys` CTE of
  *    [[metablockCte]] and of the q_er_blocking_eval, q_er_metablock_filter,
  *    q_er_skew_census (band family), q_er_pipeline_sym, q_inc_link,
  *    q_inc_unlink, q_er_cluster_diag and q_dd_resolve oracles;
  *  - [[pages60]], the 60-char corpus: their `pages` CTE
  *    (`doc_id AS url, substr(text, 1, 60) AS text, lang, n_chars`);
  *  - [[levAccept]]/[[acceptAndCluster]], the lev ratio >= 0.4 accept and
  *    its closure: the `accepted` and recursive `reach` CTEs of the
  *    q_er_pipeline_sym, q_inc_link and q_er_cluster_diag oracles;
  *  - [[chainEdges]], the same-lang |n_chars diff| <= 1 chain graph: the
  *    `e` CTE of the q_er_cc oracle, the `t1` CTE of q_er_canopy's and the
  *    edge CTE of [[ccPivotOracle]];
  *  - [[bandGold]] and [[symClusterings]], the (lang, n_chars/10) band gold
  *    and the first-two-tokens prediction: the `gold` CTEs of the
  *    q_er_blocking_eval, q_er_progressive, q_er_cluster_eval and
  *    q_er_cluster_ari oracles.
  */
object SparkEntry {

  /** Round-robin fan-out of a small base frame to the session's core count.
    * The battery tables are single-row-group parquet files: they scan as
    * ONE partition, and because the pair-join sides broadcast at these
    * sizes, the expensive per-pair/per-row kernel work downstream never
    * crosses an exchange and would run inside that single scan task
    * (measured: q_er_mutual_best's 315k-pair lev stage spent 4.4 s on one
    * core). Guide §2.5's "repartition immediately after the read" case.
    * Scale-adaptive (defaultParallelism), never a literal constant; cost
    * is one tiny shuffle of the base rows. Production-scale inputs scan
    * wide and take their parallelism from real exchanges — hence this
    * lives at the query layer, not inside operators.
    */
  private def fan(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The coarse band key of the symbolic scheme: b|lang|floor(n_chars/5).
    * /5, not /50: a fixed-range attribute band grows linearly with the
    * corpus, so the wide band made q_er_pipeline_sym pay ~700k pairs at
    * sf0.1; the tight band keeps pairs ~45k there while still producing
    * real multi-node clusters at sf0.01.
    */
  private def bandKey: Column =
    concat_ws("|", lit("b"), col("lang"), floor(col("n_chars") / 5).cast("long")).as("key")

  /** The content key of the symbolic scheme: t|<first two space tokens>. */
  private def tokenKey: Column =
    concat_ws("|", lit("t"), array_join(slice(split(col("text"), " "), 1, 2), " ")).as("key")

  /** Two-family symbolic blocking keys (url, key), band family first, over
    * a frame with lang, n_chars, text and the id column `url`.
    */
  private[graft] def symKeys(p: DataFrame, url: String = "url"): DataFrame = {
    def u = if (url == "url") col(url) else col(url).as("url")
    p.select(u, bandKey).unionAll(p.select(u, tokenKey))
  }

  /** The 60-char corpus: (`id`, text cut to 60 chars, lang, n_chars). */
  private[graft] def pages60(s: SparkSession, dir: String, id: Column = col("doc_id").as("url")): DataFrame =
    t(s, dir, "documents").select(id, substring(col("text"), 1, 60).as("text"), col("lang"), col("n_chars"))

  /** Candidate pairs (urlA, urlB) scored by lev ratio against `texts`
    * (url, text) and kept at score >= 0.4: (urlA, urlB, score).
    */
  private def levAccept(pairs: DataFrame, texts: DataFrame): DataFrame = pairs
    .join(texts.select(col("url").as("urlA"), col("text").as("t_a")), "urlA")
    .join(texts.select(col("url").as("urlB"), col("text").as("t_b")), "urlB")
    .select(col("urlA"), col("urlB"), Normalize.levRatio(col("t_a"), col("t_b")).as("score"))
    .where(col("score") >= 0.4)

  /** Block `keys` at `cap`, accept by [[levAccept]] and close the
    * accepted edges: (accepted, CC assignments (url, cluster_id)). The
    * edges are materialized once: every caller reads them again after CC
    * (diagnostics, best scores), and each un-materialized read would
    * recompute the quadratic pair join and the lev kernel.
    */
  private[graft] def acceptAndCluster(keys: DataFrame, texts: DataFrame, cap: Int): (DataFrame, DataFrame) = {
    val accepted = graft.util.Checkpoints.serializedLocal(
      levAccept(graft.operators.Blocker.pairs(keys, maxBlockSize = cap), texts)
    )
    (accepted, ConnectedComponents.run(accepted.select(col("urlA").as("src"), col("urlB").as("dst"))))
  }

  /** The chain graph over nodes (id, lang, n_chars): same lang, |n_chars
    * diff| <= 1, both orientations, as (src, dst). An EQUI-join: b emits
    * keys nc_b-1, nc_b, nc_b+1 and a joins on its own n_chars, so exactly
    * one of b's three keys matches per qualifying pair (no post-filter, no
    * dedup), and the join key (lang, n_chars) is high-cardinality instead
    * of per-lang quadratic.
    */
  private def chainEdges(nodes: DataFrame): DataFrame = {
    val a = nodes.select(col("id").as("src"), col("lang"), col("n_chars"))
    val b = nodes
      .select(col("id").as("dst"), col("lang").as("lang_b"), col("n_chars").as("nc_b"))
      .select(col("dst"), col("lang_b"), explode(array(col("nc_b") - 1, col("nc_b"), col("nc_b") + 1)).as("nc_key"))
    a.join(b, col("lang") === col("lang_b") && col("n_chars") === col("nc_key") && col("src") =!= col("dst"))
      .select("src", "dst")
  }

  /** Band-rule gold pairs over documents `d`: same (lang,
    * floor(n_chars/10)), as (url_a, url_b) with url_a < url_b.
    */
  private def bandGold(d: DataFrame): DataFrame = {
    val g = d.select(col("doc_id").as("u"), col("lang"), floor(col("n_chars") / 10).as("band"))
    g.select(col("u").as("url_a"), col("lang"), col("band"))
      .join(g.select(col("u").as("url_b"), col("lang"), col("band")), Seq("lang", "band"))
      .where(col("url_a") < col("url_b"))
      .select("url_a", "url_b")
  }

  /** The symbolic clustering pair: predicted (url, cluster_id = first two
    * tokens) and gold (url, gold_id = lang|floor(n_chars/10)).
    */
  private def symClusterings(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = t(s, dir, "documents")
    val pred = d.select(
      col("doc_id").as("url"),
      array_join(slice(split(col("text"), " "), 1, 2), " ").as("cluster_id")
    )
    val gold = d.select(
      col("doc_id").as("url"),
      concat_ws("|", col("lang"), floor(col("n_chars") / 10).cast("long")).as("gold_id")
    )
    (pred, gold)
  }

  /** [[symKeys]] over documents, optionally plus an id-mod-7 partition
    * family — the meta-blocking battery rows' shared input. Output:
    * (url = doc_id, key).
    */
  private def metablockKeys(s: SparkSession, dir: String, withP: Boolean = false): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
    val two = symKeys(d, "doc_id")
    if (!withP) two
    else
      two.unionAll(
        d.select(
          col("doc_id").as("url"),
          concat_ws("|", lit("p"), pmod(col("doc_id"), lit(7)).cast("long")).as("key")
        )
      )
  }

  /** Oracle-side mirror of [[metablockKeys]] + purge — shared CTE prefix of
    * the meta-blocking oracles (keys, post-purge kept set, block counts per
    * doc, total block count).
    */
  private def metablockCte(cap: Int, withP: Boolean = false, recursive: Boolean = false): String = {
    val with0 = if (recursive) "WITH RECURSIVE" else "WITH"
    val pFam =
      if (!withP) ""
      else
        """
          |    UNION ALL
          |    SELECT doc_id AS url, concat_ws('|', 'p', CAST(doc_id % 7 AS BIGINT)) AS key
          |    FROM documents""".stripMargin
    s"""$with0 keys AS (
       |  SELECT DISTINCT url, key FROM (
       |    SELECT doc_id AS url,
       |           concat_ws('|', 'b', lang, CAST(floor(n_chars / 5) AS BIGINT)) AS key
       |    FROM documents
       |    UNION ALL
       |    SELECT doc_id AS url,
       |           concat_ws('|', 't', array_to_string((string_split(text, ' '))[1:2], ' ')) AS key
       |    FROM documents$pFam)),
       |sizes AS (SELECT key, count(*) AS block_n FROM keys GROUP BY key),
       |kept AS (SELECT k.url, k.key FROM keys k JOIN sizes s ON s.key = k.key
       |         WHERE s.block_n <= $cap),
       |nb AS (SELECT url, count(*) AS nb FROM kept GROUP BY url),
       |tot AS (SELECT count(DISTINCT key) AS n_total FROM kept),
       |edges AS (
       |  SELECT a.url AS url_a, b.url AS url_b, count(*) AS cbs
       |  FROM kept a JOIN kept b ON a.key = b.key AND a.url < b.url
       |  GROUP BY 1, 2),
       |we AS (
       |  SELECT e.url_a, e.url_b, CAST(e.cbs AS BIGINT) AS cbs,
       |         e.cbs::DOUBLE / (na.nb + nbb.nb - e.cbs) AS js
       |  FROM edges e
       |  JOIN nb na ON na.url = e.url_a
       |  JOIN nb nbb ON nbb.url = e.url_b) """.stripMargin
  }

  /** Shared input of the Fellegi–Sunter battery rows (q_er_fs_score /
    * q_er_fs_explain): (lang, n_chars/50) block-key pairs scored by
    * scorePairs over lang/source/band with literal m-probabilities and
    * prior 0.3 — one construction, two projections.
    */
  private def fsScoredPairs(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.FellegiSunter
    // materialized once: scorePairs scans its doc frame ~7 times (global-u
    // collect, per-field u-tables, both pair-join sides) and each
    // un-materialized scan re-paid the fan() exchange on top of the read
    val d = graft.util.Checkpoints.serializedLocal(
      fan(
        t(s, dir, "documents").select(
          col("doc_id"),
          col("lang"),
          col("source"),
          floor(col("n_chars") / 20).cast("long").as("band"),
          concat_ws("|", col("lang"), floor(col("n_chars") / 50).cast("long")).as("key")
        )
      )
    )
    val pairs = d
      .select(col("doc_id").as("id_a"), col("key"))
      .join(d.select(col("doc_id").as("id_b"), col("key")), Seq("key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    FellegiSunter.scorePairs(
      pairs,
      d.select("doc_id", "lang", "source", "band"),
      "doc_id",
      Seq(
        FellegiSunter.FieldParams("lang", 0.95),
        FellegiSunter.FieldParams("source", 0.6),
        FellegiSunter.FieldParams("band", 0.85)
      ),
      prior = 0.3
    )
  }

  /** Shared synthetic recrawl stream of the q_rc_* battery rows: each doc
    * becomes 1 + (doc_id % 3) captures at distinct epoch-long timestamps;
    * doc_id % 4 == 0 pages change text per capture. Mirrored verbatim by
    * [[recrawlCapsCte]] on the oracle side.
    */
  private def recrawlCaps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"), explode(sequence(lit(0L), pmod(col("doc_id"), lit(3)))).as("c"))
      .select(
        col("doc_id").as("url"),
        (lit(1700000000L) + col("c") * 86400L + pmod(col("doc_id"), lit(5))).as("warc_ts"),
        concat(
          col("text"),
          when(pmod(col("doc_id"), lit(4)) === 0 && col("c") > 0, concat(lit(" v"), col("c").cast("string")))
            .otherwise(lit(""))
        ).as("text")
      )

  /** Answer-format literal shared by the template-rendering queries and
    * their oracles (the reference takes answer_format from the caller —
    * generator.py:119,155 — so any fixed literal is faithful).
    */
  private val promptAnswerFormat = """Return JSON: {"task_id": str, "ranking": [ids]}"""

  /** Embed arbitrary text (templates, examples, preambles — newlines and
    * all) as a DuckDB string literal.
    */
  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Oracle-side mirror of [[promptTasks]] (shared CTE prefix). */
  private val promptTaskSql: String =
    "WITH d AS (" +
      "SELECT doc_id, source, lang," +
      " (string_split(text, ' '))[1] AS tok1," +
      " (string_split(text, ' '))[2] AS tok2," +
      " array_to_string((string_split(text, ' '))[1:3], ' ') AS t3" +
      " FROM documents), " +
      "r AS (" +
      "SELECT doc_id," +
      " 'task-' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS task_id," +
      " '|title|source|' || chr(10) || '|' || t3 || '|' || source || '|' AS tbl," +
      " tok2 AS mention," +
      " '<id: Q' || doc_id || '; name: ' || coalesce(tok1, 'None') || '; description: ' ||" +
      " CASE WHEN doc_id % 3 = 0 THEN 'N.A.' ELSE 'desc ' || lang END ||" +
      " '; types: ' || lang || '>,' ||" +
      " '<id: Q' || (doc_id + 1) || '; name: ' || coalesce(tok2, 'None') ||" +
      " '; description: N.A.; types: film>' AS cands" +
      " FROM d) "

  /** Shared task frame for the template-rendering queries: per document a
    * task id, a 2-row pipe table, the mention (2nd token) and an
    * angle-format candidate pair planting the reference's null edge cases
    * (null type name dropped, null description -> N.A., doc_id%3 flips
    * which candidate has a real description).
    */
  private def promptTasks(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val d = t(s, dir, "documents").select(
      col("doc_id"),
      col("source"),
      col("lang"),
      try_element_at(toks, lit(1)).as("tok1"),
      try_element_at(toks, lit(2)).as("tok2"),
      array_join(slice(toks, 1, 3), " ").as("t3")
    )
    val cands = array(
      struct(
        concat(lit("Q"), col("doc_id")).as("id"),
        col("tok1").as("name"),
        when(col("doc_id") % 3 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("desc "), col("lang")))
          .as("description"),
        array(
          struct(lit("T1").as("id"), col("lang").as("name")),
          struct(lit("T2").as("id"), lit(null).cast("string").as("name"))
        ).as("types")
      ),
      struct(
        concat(lit("Q"), col("doc_id") + 1).as("id"),
        col("tok2").as("name"),
        lit(null).cast("string").as("description"),
        array(struct(lit("T3").as("id"), lit("film").as("name"))).as("types")
      )
    )
    d.select(
      col("doc_id"),
      concat(lit("task-"), lpad(col("doc_id").cast("string"), 6, "0")).as("task_id"),
      PromptRender
        .tablePipe(array(array(lit("title"), lit("source")), array(col("t3"), col("source"))))
        .as("tbl"),
      col("tok2").as("mention"),
      PromptRender.candidatesAngle(cands).as("cands")
    )
  }

  /** Flagship: full record-linkage pipeline (block -> score -> cluster) over
    * a web-page-shaped corpus derived deterministically from the sf0.001
    * documents table. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pages = docs.select(
      concat(lit("https://"), col("source"), lit(".example.org/doc/"), col("doc_id")).as("url"),
      col("text"),
      col("lang")
    )
    LinkagePipeline.run(pages)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans / aggregations (S1/S7, A1-A6) ----
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("cnt")
        )
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q_s7_count" -> ((s, dir) => t(s, dir, "lineitem").agg(count(lit(1)).as("n"))),
    "q_s5_slice" -> ((s, dir) =>
      t(s, dir, "orders")
        .where(col("o_orderkey") >= 100 && col("o_orderkey") < 200)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy("o_orderkey")),

    // ---- projections / filters (P2, P4, P7) ----
    "q_p2_distinct_mentions" -> ((s, dir) =>
      t(s, dir, "documents")
        .where(col("lang").isNotNull && length(trim(col("text"))) > 0)
        .select("lang", "source")
        .distinct()
        .orderBy("lang", "source")),
    "q_p4_nonempty_filter" -> ((s, dir) =>
      t(s, dir, "documents")
        .where(length(trim(col("text"))) > 0)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")),
    "q_p7_nan_scrub" -> ((s, dir) =>
      t(s, dir, "events")
        .select(
          col("event_id"),
          when(lower(col("event_type")).isin("nan", "null") || col("event_type").isNull, lit(null))
            .otherwise(col("event_type"))
            .as("etype")
        )
        .groupBy("etype")
        .agg(count(lit(1)).as("n"))
        .orderBy("etype")),

    // ---- joins (J1, J3, J5, J7) ----
    "q_j1_result_merge" -> ((s, dir) => {
      val o = t(s, dir, "orders").where(col("o_orderkey") < 2000)
      val li = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(round(sum("l_quantity"), 4).as("sum_qty"), count(lit(1)).as("n_lines"))
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left")
        .select(
          col("o_orderkey"),
          round(col("o_totalprice"), 2).as("total"),
          coalesce(col("sum_qty"), lit(0.0)).as("sum_qty"),
          coalesce(col("n_lines"), lit(0L)).as("n_lines")
        )
        .orderBy("o_orderkey")
    }),
    "q_j3_cache_split" -> ((s, dir) => {
      // cache-miss split: customers with no urgent order = "misses"
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),
    "q_j5_forced_topk" -> ((s, dir) => {
      // forced ids first (urgent orders), then by price, truncate to 3/customer
      val w = Window
        .partitionBy("o_custkey")
        .orderBy(
          when(col("o_orderpriority") === "1-URGENT", 0).otherwise(1).asc,
          col("o_totalprice").desc,
          col("o_orderkey").asc
        )
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3 && col("o_custkey") < 200)
        .select("o_custkey", "rk", "o_orderkey", "o_orderpriority")
        .orderBy("o_custkey", "rk")
    }),

    // ---- windows / sorts / top-k (W1, W5, W6) ----
    "q_w1_ranking_sort" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 5 && col("o_custkey") < 100)
        .select(col("o_custkey"), col("rk"), col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy("o_custkey", "rk")
    }),
    "q_w5_seq" -> ((s, dir) =>
      // W5 battery row runs the production two-pass sequencer (range
      // partition + driver offsets), not a single-partition global window —
      // the oracle's row_number() is the semantic spec, not the plan.
      graft.util.DeterministicSeq
        .assign(t(s, dir, "documents").select("doc_id"), "doc_id")
        .select(col("doc_id"), col("seq"))
        .orderBy("doc_id")),
    "q_w6_cursor_page" -> ((s, dir) =>
      t(s, dir, "events")
        .where(col("event_id") > 5000)
        .orderBy("event_id")
        .limit(100)
        .select("event_id", "user_id", "event_type")),
    "q_w7_job_claim" -> ((s, dir) => {
      // W7: oldest-queued-job claim over a jobs table derived from events —
      // one min(struct) aggregation + broadcast apply, no global sort/window
      val jobs = t(s, dir, "events")
        .where(col("event_id") <= 200)
        .select(
          concat(lit("job-"), lpad(col("event_id").cast("string"), 6, "0")).as("job_id"),
          when(col("event_id") % 3 === 0, "queued")
            .when(col("event_id") % 3 === 1, "running")
            .otherwise("done")
            .as("status"),
          (col("event_id") * 7 % 1000).as("created_at"),
          lit(null).cast("long").as("started_at"),
          lit(null).cast("long").as("finished_at"),
          lit(null).cast("string").as("error")
        )
      JobQueue
        .claimNext(jobs, lit(424242L))
        .select("job_id", "status", "created_at", "started_at")
        .orderBy("job_id")
    }),

    // ---- scalar functions (F3, F4, F6, F8, F11, F14) ----
    "q_f3_wsnorm" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Normalize.wsNorm(substring(col("text"), 1, 40)).as("norm"))
        .orderBy("doc_id")),
    "q_f4_idnorm" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          Normalize
            .idNorm(concat(lit("http://kb.org/entity/"), col("source"), lit(":E"), col("doc_id")))
            .as("norm_id")
        )
        .orderBy("doc_id")),
    "q_f6_taskid" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), concat_ws("-", col("source"), col("doc_id"), col("lang")).as("task_id"))
        .orderBy("doc_id")),
    "q_f8_regex_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(
          col("event_id"),
          regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long").as("k")
        )
        .groupBy("k")
        .agg(count(lit(1)).as("n"))
        .orderBy("k")),
    "q_f11_sha_cache_key" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), sha2(concat_ws("|", col("source"), col("text")), 256).as("cache_key"))
        .orderBy("doc_id")),
    "q_f14_confidence_band" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), Normalize.confidenceBand(Normalize.clamp01(col("value") / 500.0)).as("band"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"))
        .orderBy("band")),
    "q_f16_prompt_render" -> ((s, dir) => {
      // F16: candidate-text + table rendering as pure string projections.
      // Candidates derive from the documents row; nulls/empties are planted
      // deterministically so every reference edge path (null name -> "None",
      // null desc -> variant default, empty type name kept, desc-or-name
      // fallback) is exercised and oracled.
      val d = t(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("lang")).as("lang2"),
        col("source"),
        when(col("doc_id") % 5 === 0, lit(""))
          .when(col("doc_id") % 11 === 0, lit(null))
          .otherwise(substring(col("text"), 1, 20))
          .as("frag")
      )
      val cands = array(
        struct(
          concat(lit("Q"), col("doc_id")).as("id"),
          col("source").as("name"),
          col("frag").as("description"),
          array(struct(lit("T1").as("id"), col("lang2").as("name"))).as("types")
        ),
        struct(
          concat(lit("R"), col("doc_id")).as("id"),
          col("lang2").as("name"),
          lit(null).cast("string").as("description"),
          array(
            struct(lit("T2").as("id"), lit("").as("name")),
            struct(lit("T3").as("id"), col("source").as("name"))
          ).as("types")
        )
      )
      d.select(
        col("doc_id"),
        PromptRender.candidatesAngle(cands).as("angle"),
        PromptRender.candidatesCompact(cands).as("compact"),
        PromptRender.candidatesTableLlama(cands).as("tablellama"),
        PromptRender
          .tablePipe(array(array(lit("lang"), lit("source")), array(col("lang2"), col("source"))))
          .as("table_txt")
      ).orderBy("doc_id")
    }),
    "q_f16_few_shot" -> ((s, dir) =>
      // F16+: the SHIPPED few_shot template + examples payload (vendored
      // byte-identical from the reference package — PromptTemplates)
      // rendered per row via renderTemplate; the oracle replays the same
      // literal replaces over the same embedded template text
      promptTasks(s, dir)
        .select(
          col("task_id"),
          PromptRender
            .renderTemplate(
              lit(graft.functions.PromptTemplates.template("few_shot")),
              Seq(
                "[EXAMPLES]" -> lit(graft.functions.PromptTemplates.examples),
                "[TABLE]" -> col("tbl"),
                "[ENTITY MENTION]" -> col("mention"),
                "[CANDIDATES]" -> col("cands"),
                "[ANSWER_FORMAT]" -> lit(promptAnswerFormat)
              )
            )
            .as("prompt")
        )
        .orderBy("task_id")),
    "q_f16_multi" -> ((s, dir) => {
      // F16+: batched multi-task prompt assembly (generate_multi_prompt) —
      // 25 batches of ~20 tasks each, one hash-agg shuffle, blocks ordered
      // by the task seq inside each batch
      val tasks = promptTasks(s, dir).select(
        (col("doc_id") % 25).as("batch_id"),
        col("doc_id").as("seq"),
        PromptRender.taskBlock(col("task_id"), col("tbl"), col("mention"), col("cands")).as("block")
      )
      PromptRender
        .assembleMultiPrompt(tasks, "batch_id", "seq", "block", "angle", promptAnswerFormat)
        .orderBy("batch_id")
    }),

    // ---- aggregations (A2, A4, A5, A7) ----
    "q_a2_progress_counters" -> ((s, dir) =>
      t(s, dir, "events")
        .agg(
          countDistinct("user_id").as("processed_rows"),
          count(lit(1)).as("processed_cells")
        )),
    "q_a4_dedup_rank" -> ((s, dir) => {
      val w = Window.partitionBy(upper(col("lang"))).orderBy("doc_id")
      t(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("lang"), col("doc_id").as("first_doc"))
        .orderBy("lang")
    }),
    "q_a5_score_census" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"), when(col("value") < 50.0, lit(null)).otherwise(col("value")).as("score"))
        .groupBy("event_type")
        .agg(
          sum(when(col("score").isNotNull, 1L).otherwise(0L)).as("numeric_scores"),
          sum(when(col("score").isNull, 1L).otherwise(0L)).as("null_scores")
        )
        .orderBy("event_type")),
    "q_a7_pairwise_eval" -> ((s, dir) => {
      // pairwise P/R/F1 WITHIN blocking keys through the eval operator
      // (SURVEY A7): predicted clusters = (key, source); gold-positive pairs
      // = within-key pairs in the same fine n_chars band. Every join is
      // keyed — no all-pairs sweep (the pre-round-3 cartesian battery plan
      // certified the plan you would NOT run at scale).
      val d = t(s, dir, "documents").select(
        lpad(col("doc_id").cast("string"), 6, "0").as("url"),
        concat_ws("|", col("lang"), floor(col("n_chars") / 50)).as("key"),
        col("source"),
        floor(col("n_chars") / 10).as("band")
      )
      val assignments = d.select(col("url"), concat_ws("#", col("key"), col("source")).as("cluster_id"))
      val a = d.select(col("url").as("url_a"), col("key"), col("band"))
      val b = d.select(col("url").as("url_b"), col("key"), col("band").as("band_b"))
      val gold = a
        .join(b, Seq("key"))
        .where(col("url_a") < col("url_b"))
        .select(col("url_a"), col("url_b"), (col("band") === col("band_b")).as("label"))
      graft.eval.PairwiseEval.metricsDf(assignments, gold)
    }),

    "q_f_canonical_url" -> ((s, dir) => {
      // canonical-url normalization (the CLI's first blocking strategy):
      // four tracked variants per doc built row-locally — scheme swap,
      // www., tracking params, mobile host + trailing slash — must
      // collapse to ONE canonical key; the oracle replays the regex chain
      // in RE2 (patterns chosen to agree with Java)
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val base = concat(col("source"), lit(".example.org/p/"), col("doc_id"))
      d.select(
        col("doc_id"),
        explode(
          array(
            concat(lit("http://"), base),
            concat(lit("https://www."), base),
            concat(lit("http://"), base, lit("?utm_source=feed&ref=1")),
            concat(lit("https://m."), base, lit("/"))
          )
        ).as("url")
      )
        .select(col("doc_id"), Normalize.canonicalUrl(col("url")).as("canonical"))
        .groupBy("doc_id")
        .agg(countDistinct(col("canonical")).as("n_canonical"), min("canonical").as("canonical"))
        .orderBy("doc_id")
    }),
    "q_er_blocking_eval" -> ((s, dir) => {
      // blocking-quality report (reduction ratio / pairs completeness /
      // pairs quality) for the two-family symbolic key scheme against a
      // band-rule gold — the feasibility numbers an operator reads BEFORE
      // paying for a scoring run. Candidate volume comes from block-size
      // counts only (the quadratic set is never materialized); coverage is
      // two keyed joins of the gold set against the key table.
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      graft.eval.BlockingEval.metricsDf(symKeys(d, "doc_id"), bandGold(d))
    }),

    "q_er_metablock_wep" -> ((s, dir) => {
      // meta-blocking weighted-edge pruning: the two-family key scheme's
      // blocking graph, edges weighted by common-block count, pruned at the
      // global mean (Papadakis TKDE'14). Weight column is cbs (INTEGER) so
      // the mean is an exact integer-sum division — bit-identical in both
      // engines; js rides along rounded as a diagnostic. Three key families
      // (the id-mod partition family makes 2-block co-occurrence common, so
      // the mean threshold prunes a rich graph, not a degenerate one).
      val e = graft.operators.MetaBlocking.edges(
        graft.operators.MetaBlocking.purge(metablockKeys(s, dir, withP = true), 80)
      )
      graft.operators.MetaBlocking
        .wep(e, "cbs")
        .select(col("url_a"), col("url_b"), col("cbs"), round(col("js"), 6).as("js"))
        .orderBy("url_a", "url_b")
    }),
    "q_er_metablock_cnp" -> ((s, dir) => {
      // cardinality node pruning: each node keeps its top-2 edges by
      // (js desc, neighbor asc); an edge survives on either endpoint's vote.
      // js values are exact small-denominator rationals (identical IEEE
      // doubles in Spark and DuckDB), so ranks and ties replay exactly.
      val e = graft.operators.MetaBlocking.edges(
        graft.operators.MetaBlocking.purge(metablockKeys(s, dir), 60)
      )
      graft.operators.MetaBlocking
        .cnp(e, 2, "js")
        .select(col("url_a"), col("url_b"), col("cbs"), round(col("js"), 6).as("js"))
        .orderBy("url_a", "url_b")
    }),
    "q_er_progressive" -> ((s, dir) => {
      // pay-as-you-go resolution: rank the weighted blocking-graph edges
      // best-evidence-first (two-phase seq, no global window) and report
      // gold recall at comparison budgets. Oracle replays the rank
      // (row_number over js desc, cbs desc, pair id) and every budget sum.
      val e = graft.operators.MetaBlocking.edges(
        graft.operators.MetaBlocking.purge(metablockKeys(s, dir), 60)
      )
      graft.operators.MetaBlocking
        .progressiveRecall(
          graft.operators.MetaBlocking.progressive(e, "js"),
          bandGold(t(s, dir, "documents")),
          Seq(100L, 500L, 2000L, 100000L)
        )
        .orderBy("budget")
    }),
    "q_er_metablock_filter" -> ((s, dir) => {
      // block filtering (EDBT'16): three key families, purge at 100, each
      // doc keeps its ceil(0.5 * nBlocks) smallest blocks (size asc, key
      // asc). Fully discrete output; the oracle replays the ranking.
      graft.operators.MetaBlocking
        .filterBlocks(
          graft.operators.MetaBlocking.purge(metablockKeys(s, dir, withP = true), 100),
          0.5
        )
        .orderBy("url", "key")
    }),

    // ---- ER core (J7, J8 / north rule) ----
    "q_er_block_pairs" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), concat_ws("|", col("lang"), floor(col("n_chars") / 50)).as("key"))
      val a = d.select(col("doc_id").as("id_a"), col("key"))
      val b = d.select(col("doc_id").as("id_b"), col("key"))
      a.join(b, Seq("key"))
        .where(col("id_a") < col("id_b"))
        .groupBy("key")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("key")
    }),
    "q_er_skew_census" -> ((s, dir) => {
      // pre-flight skew census: the 15 heaviest blocks of a two-family key
      // scheme with exact raw-pair cost and the salt plan the run would
      // apply (cap 6 so the lang-only family actually salts); one
      // hash-agg + take-ordered, <= topN rows out, (n desc, key) ties
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      val keys = d
        .select(col("doc_id").as("url"), bandKey)
        .unionAll(
          d.select(col("doc_id").as("url"), concat_ws("|", lit("l"), col("lang")).as("key"))
        )
      graft.operators.Blocker.skewCensus(keys, maxBlockSize = 6, topN = 15)
    }),
    "q_er_fs_pipeline" -> ((s, dir) => {
      // the round-5 operators composed end-to-end: meta-blocking (purge ->
      // weighted edges -> CNP prune) feeds Fellegi-Sunter TF-adjusted
      // scoring, matches at posterior >= 0.8 become edges, connected
      // components assign clusters, singletons backfill. Every stage is
      // replayed engine-free by the oracle (CC as a recursive CTE).
      // materialized once: scorePairs scans its doc frame ~7 times (global-u
      // collect, per-field u-tables, both pair-join sides) plus the final
      // singleton backfill below
      val d = graft.util.Checkpoints.serializedLocal(
        t(s, dir, "documents").select(
          col("doc_id"),
          col("lang"),
          col("source"),
          floor(col("n_chars") / 20).cast("long").as("band")
        )
      )
      import graft.operators.{FellegiSunter, MetaBlocking}
      val pruned = MetaBlocking.cnp(
        MetaBlocking.edges(MetaBlocking.purge(metablockKeys(s, dir), 60)),
        2,
        "js"
      )
      val scored = FellegiSunter.scorePairs(
        pruned.select(col("url_a").as("id_a"), col("url_b").as("id_b")),
        d,
        "doc_id",
        Seq(
          FellegiSunter.FieldParams("lang", 0.95),
          FellegiSunter.FieldParams("source", 0.6),
          FellegiSunter.FieldParams("band", 0.85)
        ),
        prior = 0.3
      )
      val edges = scored
        .where(col("match_p") >= 0.8)
        .select(
          lpad(col("id_a").cast("string"), 6, "0").as("src"),
          lpad(col("id_b").cast("string"), 6, "0").as("dst")
        )
      val assign = graft.operators.ConnectedComponents.run(edges)
      d.select(lpad(col("doc_id").cast("string"), 6, "0").as("url"))
        .join(assign, Seq("url"), "left")
        .select(col("url"), coalesce(col("cluster_id"), col("url")).as("cluster_id"))
        .orderBy("url")
    }),
    "q_er_cluster_eval" -> ((s, dir) => {
      // cluster-level evaluation (B-cubed + V-measure) of a symbolic
      // predicted clustering (first-2-tokens key) against a band-rule gold
      // — all contingency-cell algebra, replayed engine-free by the oracle.
      val (pred, gold) = symClusterings(s, dir)
      graft.eval.ClusterEval.metricsDf(pred, gold)
    }),
    "q_er_cluster_ari" -> ((s, dir) => {
      // Adjusted Rand Index of the same symbolic pred/gold pair as
      // q_er_cluster_eval — exact integer pair combinatorics down to two
      // final divisions, replayed verbatim by the oracle.
      val (pred, gold) = symClusterings(s, dir)
      graft.eval.ClusterEval.ariDf(pred, gold)
    }),
    "q_er_survivorship" -> ((s, dir) => {
      // golden-record survivorship over symbolic (lang, n_chars/25)
      // clusters: mode-of-source (ties -> smallest value), longest text
      // fragment (ties -> smallest), latest-by-pseudo-timestamp source
      // (ts = pmod(xxhash64(doc_id), 97); ties -> largest value), min/max
      // n_chars. The oracle replays every rule as a window argmin/argmax
      // and the ts via the closed-form xxhash64 CTE.
      import graft.operators.Survivorship
      import graft.operators.Survivorship._
      val d = t(s, dir, "documents").select(
        col("doc_id"),
        concat_ws("|", col("lang"), floor(col("n_chars") / 25).cast("long")).as("cluster"),
        col("source"),
        substring(col("text"), 1, 30).as("frag"),
        pmod(xxhash64(col("doc_id")), lit(97L)).as("ts"),
        col("n_chars")
      )
      Survivorship
        .golden(
          d,
          "cluster",
          Seq(
            Rule("source", Mode),
            Rule("frag", Longest, as = "frag_long"),
            Rule("source", Latest("ts"), as = "source_latest"),
            Rule("n_chars", MinValue, as = "nc_min"),
            Rule("n_chars", MaxValue, as = "nc_max")
          )
        )
        .orderBy("cluster")
    }),
    "q_er_fs_levels" -> ((s, dir) => {
      // Splink-style multi-level comparisons: frag ladder exact > first-8
      // prefix > else, n_chars ladder |diff|<=2 > else; pairs from the
      // (lang, n_chars/50) block key. Purely row-local CASE chains after
      // the two id fetch-joins; the oracle replays the ladders verbatim.
      import graft.operators.FellegiSunter
      import graft.operators.FellegiSunter.{Comparison, Level}
      val d = t(s, dir, "documents").select(
        col("doc_id"),
        substring(col("text"), 1, 30).as("frag"),
        col("n_chars"),
        concat_ws("|", col("lang"), floor(col("n_chars") / 50).cast("long")).as("key")
      )
      val pairs = d
        .select(col("doc_id").as("id_a"), col("key"))
        .join(d.select(col("doc_id").as("id_b"), col("key")), Seq("key"))
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      FellegiSunter
        .scoreLevels(
          pairs,
          d.select("doc_id", "frag", "n_chars"),
          "doc_id",
          Seq(
            Comparison(
              "frag",
              Seq(
                Level("exact", (a, b) => a === b, m = 0.6, u = 0.001),
                Level("prefix8", (a, b) => substring(a, 1, 8) === substring(b, 1, 8), m = 0.3, u = 0.01),
                FellegiSunter.elseLevel(m = 0.1, u = 0.989)
              )
            ),
            Comparison(
              "n_chars",
              Seq(
                Level("within2", (a, b) => abs(a - b) <= 2, m = 0.8, u = 0.05),
                FellegiSunter.elseLevel(m = 0.2, u = 0.95)
              )
            )
          ),
          prior = 0.3
        )
        .select(
          col("id_a"),
          col("id_b"),
          col("gamma_frag"),
          round(col("w_frag"), 6).as("w_frag"),
          col("gamma_n_chars"),
          round(col("w_n_chars"), 6).as("w_n_chars"),
          round(col("match_weight"), 6).as("match_weight"),
          round(col("match_p"), 6).as("match_p")
        )
        .orderBy("id_a", "id_b")
    }),
    "q_er_fs_score" -> ((s, dir) => {
      // Fellegi-Sunter pair scoring with term-frequency adjustment: pairs
      // from the (lang, n_chars/50) block key; fields lang/source/band with
      // literal m-probabilities, u from value frequencies. The oracle
      // replays frequencies, TF tables, both likelihood branches, and the
      // posterior sigmoid engine-free.
      fsScoredPairs(s, dir)
        .select(
          col("id_a"),
          col("id_b"),
          round(col("w_lang"), 6).as("w_lang"),
          round(col("w_source"), 6).as("w_source"),
          round(col("w_band"), 6).as("w_band"),
          round(col("match_weight"), 6).as("match_weight"),
          round(col("match_p"), 6).as("match_p")
        )
        .orderBy("id_a", "id_b")
    }),
    "q_er_fs_explain" -> ((s, dir) => {
      // Splink-style waterfall audit over the q_er_fs_score pair frame:
      // step 0 = prior, then lang/source/band evidence with the running
      // posterior — the oracle replays every weight, the left-to-right
      // cumulative fold (same IEEE addition order) and the per-step sigmoid
      graft.operators.FellegiSunter
        .explain(fsScoredPairs(s, dir), Seq("lang", "source", "band"), prior = 0.3)
        .select(
          col("id_a"),
          col("id_b"),
          col("step"),
          col("field"),
          round(col("weight"), 6).as("weight"),
          round(col("cum_weight"), 6).as("cum_weight"),
          round(col("cum_p"), 6).as("cum_p")
        )
        .orderBy("id_a", "id_b", "step")
    }),
    "q_eval_reliability" -> ((s, dir) => {
      // reliability-diagram bins over a dyadic-grid posterior: p =
      // (7·doc_id mod 17)/16 is exactly representable (k/2^4), so every
      // per-bin sum is order-free and the raw doubles ship UNROUNDED —
      // bit-identical across engines; the label rule makes the score
      // calibrated by construction (P(y) tracks p), so the gaps are small
      // but nonzero. One aggregation to <= 10 rows; nothing collected.
      val d = t(s, dir, "documents").select(
        (pmod(col("doc_id") * 7, lit(17)).cast("double") / 16.0).as("p"),
        (pmod(col("doc_id") * 5, lit(16)) < pmod(col("doc_id") * 7, lit(17))).as("y")
      )
      graft.eval.Calibration.reliability(d, "p", "y", bins = 10).orderBy("bin")
    }),
    "q_eval_calibration" -> ((s, dir) => {
      // one-row ECE / MCE / Brier summary over the same dyadic-grid frame;
      // ECE accumulates |positives - sum_p| per bin BEFORE any division
      // (exact on the grid), so the summary doubles are bit-stable too
      val d = t(s, dir, "documents").select(
        (pmod(col("doc_id") * 7, lit(17)).cast("double") / 16.0).as("p"),
        (pmod(col("doc_id") * 5, lit(16)) < pmod(col("doc_id") * 7, lit(17))).as("y")
      )
      graft.eval.Calibration.metricsDf(d, "p", "y", bins = 10)
    }),
    "q_er_pr_curve" -> ((s, dir) => {
      // threshold-sweep PR curve over lev-ratio-scored consecutive-id pairs;
      // gold = same lang. Scores are exact rationals (1 - lev/maxlen), so
      // floor(score*100) buckets are bit-identical engine and oracle.
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), substring(col("text"), 1, 40).as("frag"))
      val a = d.select(col("doc_id").as("id_a"), col("lang").as("lang_a"), col("frag").as("frag_a"))
      val b = d.select(
        (col("doc_id") - 1).as("id_a"),
        col("lang").as("lang_b"),
        col("frag").as("frag_b")
      )
      val scored = a
        .join(b, "id_a")
        .select(
          Normalize.levRatio(col("frag_a"), col("frag_b")).as("score"),
          when(col("lang_a") === col("lang_b"), true).otherwise(false).as("label")
        )
      graft.eval.PrCurve.sweep(scored, "score", "label", 100).orderBy(col("thr_bucket").desc)
    }),
    "q_er_active" -> ((s, dir) => {
      // active-learning uncertainty batch over blocked pairs scored by an
      // exact-rational agreement fraction (agreeing fields / 3) — the rank
      // key |p - 0.5| is the same IEEE double on both sides, and ids break
      // the plateau ties, so the top-k cut replays engine-free.
      val d = t(s, dir, "documents").select(
        col("doc_id"),
        col("lang"),
        col("source"),
        floor(col("n_chars") / 20).cast("long").as("band"),
        concat_ws("|", col("lang"), floor(col("n_chars") / 50).cast("long")).as("key")
      )
      val pairs = d
        .select(
          col("doc_id").as("id_a"),
          col("lang").as("lang_a"),
          col("source").as("source_a"),
          col("band").as("band_a"),
          col("key")
        )
        .join(
          d.select(
            col("doc_id").as("id_b"),
            col("lang").as("lang_b"),
            col("source").as("source_b"),
            col("band").as("band_b"),
            col("key")
          ),
          Seq("key")
        )
        .where(col("id_a") < col("id_b"))
      val agree = Seq(("lang_a", "lang_b"), ("source_a", "source_b"), ("band_a", "band_b"))
        .map { case (x, y) => when(col(x) === col(y), 1).otherwise(0) }
        .reduce(_ + _)
      val scored = pairs.select(col("id_a"), col("id_b"), (agree.cast("double") / 3.0).as("p"))
      graft.operators.ActiveLearning
        .uncertaintyBatch(scored, "p", 200)
        .select(
          col("id_a"),
          col("id_b"),
          round(col("p"), 6).as("p"),
          round(col("uncertainty"), 6).as("uncertainty")
        )
        .orderBy("id_a", "id_b")
    }),
    "q_er_sorted_neighborhood" -> ((s, dir) => {
      // sorted-neighborhood blocking: window 4 over the first-20-chars sort
      // key; the oracle recomputes rank (row_number over the same composite
      // order) and the rank-distance join engine-free
      val d = t(s, dir, "documents")
        .select(col("doc_id").as("url"), substring(col("text"), 1, 20).as("sk"))
      graft.operators.SortedNeighborhood
        .pairs(d, col("sk"), 4)
        .orderBy("urlA", "urlB")
    }),
    "q_er_canopy" -> ((s, dir) => {
      // canopy clustering: T2 = same (lang, n_chars) — an equality rule, so
      // the T2 graph is a disjoint union of CLIQUES and the greedy-MIS
      // center set the engine's general peeling computes reduces to
      // "min-(xxhash64,id) per (lang, n_chars) group" — which is exactly
      // what the oracle recomputes engine-free (plus the T1 membership
      // join). T1 = same lang, n_chars within 1.
      val d = t(s, dir, "documents").select(col("doc_id").as("id"), col("lang"), col("n_chars"))
      val t2 = d
        .select(col("id").as("src"), col("lang"), col("n_chars"))
        .join(
          d.select(col("id").as("dst"), col("lang").as("l2"), col("n_chars").as("n2")),
          col("lang") === col("l2") && col("n_chars") === col("n2") && col("src") =!= col("dst")
        )
        .select("src", "dst")
      graft.operators.Canopy.canopies(d.select("id"), chainEdges(d), t2).orderBy("id", "canopy")
    }),
    "q_er_ppjoin" -> ((s, dir) => {
      // prefix-filtered set-similarity join (SSJoin/PPJoin): candidates
      // only from shared rare-prefix tokens, then exact-Jaccard verify.
      // Prefix filtering is LOSSLESS, so the brute-force all-pairs oracle
      // is an equality check of the whole operator, not an approximation.
      // Sets are 3-token SHINGLES of the leading text: the synthetic
      // corpus's ~50-word vocabulary has no rare unigrams (prefix blocks
      // degenerate quadratic — measured 57 s at sf0.1), while the shingle
      // space is vocab^3 — which is also the faithful stand-in for real
      // web text's Zipfian tail.
      val d = t(s, dir, "documents")
        .select(
          col("doc_id"),
          array_distinct(
            Normalize.shingles(slice(split(col("text"), " "), 1, 15), 3)
          ).as("toks")
        )
      graft.operators.SimilarityJoin
        .prefixJaccardJoin(d, "doc_id", "toks", 0.6)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),
    "q_er_exact_dedup" -> ((s, dir) => {
      val keyed = t(s, dir, "documents")
        .select(col("doc_id"), array_join(slice(split(col("text"), " "), 1, 5), " ").as("dup_key"))
      keyed
        .groupBy("dup_key")
        .agg(count(lit(1)).as("n"), min("doc_id").as("canonical"))
        .where(col("n") > 1)
        .orderBy("dup_key")
    }),
    "q_er_lev_score" -> ((s, dir) => {
      val d = fan(t(s, dir, "documents").select(col("doc_id"), substring(col("text"), 1, 60).as("frag")))
      val a = d.select(col("doc_id").as("id_a"), col("frag").as("frag_a"))
      val b = d.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"), col("frag").as("frag_b"))
      a.join(b, "id_a")
        .select(
          col("id_a"),
          col("id_b"),
          levenshtein(col("frag_a"), col("frag_b")).cast("long").as("lev"),
          round(Normalize.levRatio(col("frag_a"), col("frag_b")), 6).as("lev_ratio")
        )
        .orderBy("id_a")
    }),
    "q_er_suffix_block" -> ((s, dir) => {
      // suffix blocking (Aizawa-Oyama): every >=6-char suffix of the
      // leading token, longest-first, capped at 4 per doc. Row-local key
      // emission; the oracle replays tokenization, the start range, and
      // the cap via unnest(list_transform(range(...))).
      val pages = t(s, dir, "documents")
        .select(col("doc_id").cast("string").as("url"), col("text"))
      graft.operators
        .SuffixBlocking(minSuffixLen = 6, maxSuffixes = 4)
        .keys(pages)
        .orderBy("url", "key")
    }),
    "q_er_dl_score" -> ((s, dir) => {
      // TRUE Damerau-Levenshtein (codegen kernel) on consecutive-id pairs,
      // next to plain levenshtein, plus a planted adjacent-swap column
      // (first two chars of frag_a transposed) where DL pays 1 and
      // levenshtein pays 2. Oracle = DuckDB's damerau_levenshtein builtin
      // (probed true-DL, not OSA: CA->ABC = 2).
      val d = t(s, dir, "documents").select(col("doc_id"), substring(col("text"), 1, 40).as("frag"))
      val a = d.select(col("doc_id").as("id_a"), col("frag").as("frag_a"))
      val b = d.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"), col("frag").as("frag_b"))
      val swap = concat(
        substring(col("frag_a"), 2, 1),
        substring(col("frag_a"), 1, 1),
        substring(col("frag_a"), 3, 38)
      )
      a.join(b, "id_a")
        .select(
          col("id_a"),
          col("id_b"),
          SF.damerau_levenshtein(col("frag_a"), col("frag_b")).cast("long").as("dl"),
          levenshtein(col("frag_a"), col("frag_b")).cast("long").as("lev"),
          SF.damerau_levenshtein(col("frag_a"), swap).cast("long").as("dl_swap")
        )
        .orderBy("id_a")
    }),
    "q_er_jw_score" -> ((s, dir) => {
      // custom Catalyst expression — exactness covered by ScalaTest; rows-only here
      val d = t(s, dir, "documents").select(col("doc_id"), substring(col("text"), 1, 30).as("frag"))
      val a = d.select(col("doc_id").as("id_a"), col("frag").as("frag_a"))
      val b = d.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"), col("frag").as("frag_b"))
      a.join(b, "id_a")
        .select(col("id_a"), col("id_b"), round(SF.jaro_winkler(col("frag_a"), col("frag_b")), 6).as("jw"))
        .orderBy("id_a")
    }),
    "q_er_token_sim" -> ((s, dir) => {
      // token-set comparators (Splink-style name/title fields): hashed
      // distinct-set jaccard/dice/overlap plus Monge-Elkan with the JW
      // inner kernel over the first 8 tokens. DuckDB's builtin
      // jaro_winkler_similarity matches the engine kernel exactly (probed
      // 0/2000 token pairs off), so the oracle replays everything with
      // list functions; the Monge-Elkan outer mean folds in array order
      // on both sides.
      val tk = t(s, dir, "documents").select(col("doc_id"), split(col("text"), " ").as("toks"))
      val a = tk.select(col("doc_id").as("id_a"), col("toks").as("ta"))
      val b = tk.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"), col("toks").as("tb"))
      a.join(b, "id_a")
        .select(
          col("id_a"),
          col("id_b"),
          round(SF.token_jaccard(col("ta"), col("tb")), 6).as("jaccard"),
          round(SF.token_dice(col("ta"), col("tb")), 6).as("dice"),
          round(SF.token_overlap(col("ta"), col("tb")), 6).as("overlap"),
          round(SF.monge_elkan_jw(slice(col("ta"), 1, 8), slice(col("tb"), 1, 8)), 6)
            .as("monge_elkan")
        )
        .orderBy("id_a")
    }),
    "q_rc_latest" -> ((s, dir) => {
      // recrawl canonicalization: each doc becomes 1 + (doc_id % 3)
      // captures at distinct epoch-long timestamps; doc_id % 4 == 0 pages
      // change text per capture. latestSnapshot must pick the newest
      // capture per url — the oracle replays the synthesis and the argmax.
      // Timestamps travel as BIGINT epochs (no timestamp-tz driver trap);
      // text ships as sha256.
      graft.operators.Recrawl
        .latestSnapshot(recrawlCaps(s, dir))
        .select(col("url"), col("warc_ts"), sha2(col("text"), 256).as("sha"))
        .orderBy("url")
    }),
    "q_rc_census" -> ((s, dir) => {
      // per-url capture census over the same synthetic recrawl stream:
      // capture count, DISTINCT text versions, span, stability flag
      graft.operators.Recrawl.changeCensus(recrawlCaps(s, dir)).orderBy("url")
    }),
    "q_er_link_tables" -> ((s, dir) => {
      // two-table link_only: A = even doc_ids, B = odd; cross-table-only
      // candidate pairs through LinkTables.candidatePairs (intra-table
      // pairs are never generated), lev-ratio accept at 0.3 — the oracle
      // replays the cross join + kernel engine-free. NOT fan()ed: unlike
      // q_er_mutual_best (same base shape, kernel-stage-bound, 8.0 -> 1.4 s
      // with fan), this query's lev runs after candidatePairs' groupBy
      // exchange — fan only added per-stage task overhead (measured +0.8 s)
      val d = t(s, dir, "documents").select(
        col("doc_id"),
        substring(col("text"), 1, 40).as("frag"),
        concat_ws("|", col("lang"), floor(col("n_chars") / 50).cast("long")).as("key")
      )
      val ka = d.where(pmod(col("doc_id"), lit(2)) === 0).select(col("doc_id").as("url"), col("key"))
      val kb = d.where(pmod(col("doc_id"), lit(2)) === 1).select(col("doc_id").as("url"), col("key"))
      val frags = d.select(col("doc_id"), col("frag"))
      graft.operators.LinkTables
        .candidatePairs(ka, kb, maxBlockSize = 100000)
        .join(frags.select(col("doc_id").as("url_a"), col("frag").as("fa")), "url_a")
        .join(frags.select(col("doc_id").as("url_b"), col("frag").as("fb")), "url_b")
        .select(col("url_a"), col("url_b"), Normalize.levRatio(col("fa"), col("fb")).as("score"))
        .where(col("score") >= 0.3)
        .select(col("url_a"), col("url_b"), round(col("score"), 6).as("score"))
        .orderBy("url_a", "url_b")
    }),
    "q_er_mutual_best" -> ((s, dir) => {
      // one-to-one assignment (symmetric best match, single round) over
      // lev-scored block pairs: each doc pairs with its best partner only
      // if the preference is MUTUAL (ties -> smaller partner id). Lev
      // ratios are exact rationals, so each engine's argmax selection
      // replays identically; the oracle recomputes the round engine-free.
      val d = fan(
        t(s, dir, "documents").select(
          col("doc_id"),
          substring(col("text"), 1, 40).as("frag"),
          concat_ws("|", col("lang"), floor(col("n_chars") / 50).cast("long")).as("key")
        )
      )
      val pr = d
        .select(col("doc_id").as("u"), col("key"), col("frag").as("fa"))
        .join(d.select(col("doc_id").as("v"), col("key"), col("frag").as("fb")), Seq("key"))
        .where(col("u") < col("v"))
        .select(col("u"), col("v"), Normalize.levRatio(col("fa"), col("fb")).as("score"))
      graft.operators.Assignment
        .matchRound(pr)
        .select(col("u").as("id_a"), col("v").as("id_b"), round(col("score"), 6).as("score"))
        .orderBy("id_a")
    }),
    "q_er_cluster_diag" -> ((s, dir) => {
      // per-cluster over-merge audit (ClusterEval.diagnostics) over the
      // symbolic lev-ratio pipeline: n_members / n_edges / density /
      // weakest and strongest internal links, every value a single
      // division or min/max of exact-rational scores — the oracle replays
      // the closure AND the diagnostics engine-free
      val pages = pages60(s, dir)
      val texts = pages.select("url", "text")
      val (accepted, clusters) = acceptAndCluster(symKeys(pages), texts, 100000)
      // materialized once: diagnostics reads its assignment frame twice
      // (member counts + the edge-side cluster attach), and each
      // un-materialized read replays the CC star-forest map-back join
      val assigns = graft.util.Checkpoints.serializedLocal(
        texts
          .select("url")
          .join(clusters, Seq("url"), "left")
          .select(col("url"), coalesce(col("cluster_id"), col("url")).as("cluster_id"))
      )
      graft.eval.ClusterEval
        .diagnostics(assigns, accepted)
        .select(
          col("cluster_id"),
          col("n_members"),
          col("n_edges"),
          col("density"),
          round(col("min_score"), 6).as("min_score"),
          round(col("max_score"), 6).as("max_score")
        )
        .orderBy("cluster_id")
    }),
    "q_er_cc" -> ((s, dir) => {
      // connected components over a real chain graph: same lang, adjacent n_chars
      val nodes = t(s, dir, "documents")
        .select(lpad(col("doc_id").cast("string"), 6, "0").as("id"), col("lang"), col("n_chars"))
      val assign = ConnectedComponents.run(chainEdges(nodes))
      // include isolated nodes as their own cluster
      nodes
        .select(col("id"))
        .join(assign.withColumnRenamed("url", "id"), Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
        .orderBy("id")
    }),
    "q_er_ccpivot" -> ((s, dir) => {
      // correlation clustering (parallel-pivot KwikCluster) over the SAME
      // chain graph q_er_cc closes transitively — the hairball-guard
      // alternative. Deterministic xxhash64 ranks; the oracle replays every
      // peeling round engine-free (unrolled CTE stages + poison row).
      val nodes = t(s, dir, "documents").select(col("doc_id").as("id"), col("lang"), col("n_chars"))
      graft.operators.CorrelationClustering
        .pivot(chainEdges(nodes))
        .select(col("id"), col("pivot").as("pivot_id"))
        .orderBy("id")
    }),
    "q_stream_dedup" -> ((s, dir) => {
      // Streaming incremental dedup driven END-TO-END inside the battery:
      // the documents table replayed as a file-source STREAM, keyed by the
      // exact-dedup 5-token prefix, flatMapGroupsWithState first-seen-wins
      // (StreamingDedup.dedupByKey), AvailableNow trigger -> parquet sink,
      // snapshot read back. With maxFilesPerTrigger unset the file source
      // takes all available files in ONE micro-batch, so the canonical per
      // key is the global argmin(ts, url) — which is what the oracle
      // recomputes (ts derives deterministically from doc_id; multi-batch
      // replays would make the canonical arrival-order-dependent, which is
      // exactly the semantics StreamingSpec covers separately).
      import s.implicits._
      val src = s.readStream
        .schema(t(s, dir, "documents").schema)
        // glob, not the bare file path: the file-stream source requires its
        // basePath to be a DIRECTORY (the testdata tables are single files)
        .parquet(s"$dir/documents*")
      val keyed = src
        .select(
          concat_ws(" ", slice(split(col("text"), " "), 1, 5)).as("key"),
          lpad(col("doc_id").cast("string"), 6, "0").as("url"),
          timestamp_seconds(lit(1700000000L) + col("doc_id") % 7).as("ts")
        )
        .as[graft.streaming.StreamingDedup.PageKeyed]
      val outDir = java.nio.file.Files.createTempDirectory("graft-qstream").toString
      val q = graft.streaming.StreamingDedup
        .dedupByKey(keyed)
        .writeStream
        .format("parquet")
        .option("path", s"$outDir/out")
        .option("checkpointLocation", s"$outDir/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try require(q.awaitTermination(300000), "q_stream_dedup: stream did not finish within 300s")
      finally q.stop()
      s.read.parquet(s"$outDir/out").select("url", "key", "canonical", "is_first").orderBy("url")
    }),
    "q_stream_link_finalize" -> ((s, dir) => {
      // StreamingLinkage end-to-end in the battery: 150 documents replayed
      // as a TWO-micro-batch file stream (two part files +
      // maxFilesPerTrigger=1), bootstrap v0 + O(delta) increment v1, then
      // the W5 FINALIZE pass stamps the deterministic seq onto the
      // committed snapshot. Linkage preserves the input row set regardless
      // of what clusters form, so (url, seq) is fully symbolic: seq must
      // equal row_number over url order of the streamed-in urls.
      import s.implicits._
      val docs = t(s, dir, "documents")
        .where(col("doc_id") < 150)
        .select(lpad(col("doc_id").cast("string"), 6, "0").as("url"), col("text"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-qslink").toString
      // two appends of one part file each -> two micro-batches
      docs.where(col("url") < "000075").coalesce(1).write.mode("append").parquet(s"$tmp/in")
      docs.where(col("url") >= "000075").coalesce(1).write.mode("append").parquet(s"$tmp/in")
      val src = s.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$tmp/in")
      val q = graft.streaming.StreamingLinkage.run(
        src,
        s"$tmp/store",
        s"$tmp/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow()
      )
      try require(q.awaitTermination(300000), "q_stream_link_finalize: stream did not finish within 300s")
      finally q.stop()
      require(
        graft.streaming.StreamingLinkage.currentVersion(s, s"$tmp/store").contains(1),
        "expected bootstrap + one increment (two micro-batches)"
      )
      val finalDir = graft.streaming.StreamingLinkage.finalizeSeq(s, s"$tmp/store")
      s.read.parquet(finalDir).select("url", "seq").orderBy("url")
    }),
    "q_er_pipeline" -> ((s, dir) => {
      // full linkage pipeline over documents-derived pages (rows-only check)
      val pages = t(s, dir, "documents").select(
        concat(lit("https://"), col("source"), lit(".example.org/doc/"), col("doc_id")).as("url"),
        col("text"),
        col("lang")
      )
      LinkagePipeline.run(pages).select("url", "cluster_id", "status", "seq").orderBy("url")
    }),
    "q_er_pipeline_sym" -> ((s, dir) => {
      // FULLY SYMBOLIC end-to-end linkage: the production operator chain —
      // Blocker.pairs (oriented, deduped, SALTED) -> pairwise scoring ->
      // threshold -> ConnectedComponents.run -> assemblePredictions tail
      // with the deterministic seq — under a Levenshtein-ratio scorer, so
      // the DuckDB oracle recomputes EVERY stage engine-free (q_er_pipeline
      // keeps the production JW/Lev/TF-IDF kernels and its golden-fixture
      // determinism pin; THIS query is the end-to-end independence check).
      // maxBlockSize = 4 so Blocker.saltOversized ACTUALLY ENGAGES on the
      // sf0.01 oracle corpus (6 blocks of 5-8 rows split into #s# salt
      // sub-buckets; at the production cap of 1000 no 500-doc block is
      // oversized and the salt formula would go unchecked) — the oracle
      // recomputes pmod(xxhash64(url), ceil(n/4)) per oversized block, so
      // both the pair-capping recall LOSS and the sub-bucket pair survival
      // are verified engine-free. urls are the raw BIGINT doc_ids: Spark's
      // xxhash64 over a long has a closed form the oracle re-derives in
      // HUGEINT arithmetic (same chain as q_ann_ivf's codebook sample).
      val pages = pages60(s, dir)
      val texts = pages.select(col("url"), col("text"))
      val (accepted, clusters) = acceptAndCluster(symKeys(pages), texts, 4)
      LinkagePipeline
        .assemblePredictions(texts, clusters, accepted)
        .select("url", "cluster_id", "status", "seq")
        .orderBy("url")
    }),
    "q_inc_link" -> ((s, dir) => {
      // INCREMENTAL linkage, oracle-checked against the full-union rerun:
      // base = doc_id % 4 != 0 is linked normally, the delta (% 4 == 0)
      // then links through operators/IncrementalLinkage (hot-block index
      // prune -> candidatePairs skipping old-old -> contracted CC ->
      // merge-map relabel). The symbolic config makes the equivalence
      // EXACT (contract conditions 1-3: per-doc keys, salt-free cap,
      // corpus-independent lev-ratio scorer), so the DuckDB oracle
      // recomputes the UNION closure engine-free — the oracle checks the
      // incremental == rerun theorem itself, not a replay of the
      // incremental steps.
      val pages = pages60(s, dir)
      val texts = pages.select("url", "text")
      val base = pages.where(pmod(col("url"), lit(4)) =!= 0)
      val delta = pages.where(pmod(col("url"), lit(4)) === 0)

      // ---- base run (plays the already-committed production run) ----
      val baseKeys = symKeys(base)
      val (baseAcc, baseClusters) = acceptAndCluster(baseKeys, texts, 100000)
      // snapshot: read twice (contractAndCluster + the relabel) — without
      // it each reference replays the base CC map-back joins
      val baseStore = graft.util.Checkpoints.serializedLocal(
        LinkagePipeline
          .freshRows(base.select("url", "text"), baseClusters, LinkagePipeline.bestScores(baseAcc))
          .drop("text")
      )

      // ---- incremental step: link()'s contract, relabel and fresh rows ----
      val deltaKeys = symKeys(delta)
      val oldHot = baseKeys.join(deltaKeys.select("key").distinct(), Seq("key"), "left_semi")
      // snapshot: consumed by contractAndCluster AND the best-score frame —
      // un-materialized, the delta pair join + lev kernel would run twice
      val accInc = graft.util.Checkpoints.serializedLocal(
        levAccept(
          graft.operators.IncrementalLinkage.candidatePairs(deltaKeys, oldHot, maxBlockSize = 100000),
          texts
        )
      )
      val cl = graft.operators.IncrementalLinkage
        .contractAndCluster(accInc, baseStore.select("url", "cluster_id"))
      val bestNew = LinkagePipeline.bestScores(accInc)
      val cols = Seq("url", "cluster_id", "status").map(col)
      val oldOut = IncrementalLinkage.relabel(baseStore, cl.mergeMap, bestNew).select(cols: _*)
      val newOut = LinkagePipeline.freshRows(delta.select("url", "text"), cl.assignments, bestNew).select(cols: _*)
      graft.util.DeterministicSeq
        .assign(oldOut.unionByName(newOut), "url")
        .select("url", "cluster_id", "status", "seq")
        .orderBy("url")
    }),
    "q_inc_unlink" -> ((s, dir) => {
      // DECREMENTAL linkage, oracle-checked against the full reduced
      // rerun: a symbolic base run commits predictions over ALL docs, then
      // every doc_id % 5 == 0 is deleted through the PRODUCTION
      // IncrementalLinkage.remove (affected clusters -> survivor pairs at
      // reduced hot-block sizes -> rescore under the subtracted reduced
      // IDF -> member-level CC -> store rewrite -> reseq). The lev-only
      // scorer is corpus-independent (contract condition 3 exact), cap
      // 100000 keeps salting out (condition 2), keys are per-doc
      // (condition 1) — so remove == rerun EXACTLY and the DuckDB oracle
      // recomputes the REDUCED closure engine-free: it checks the
      // decremental theorem itself, not a replay of the removal steps.
      import graft.operators.{Blocker, ConnectedComponents, IncrementalLinkage, PairScorer}
      val W = PairScorer.Weights(jw = 0.0, lev = 1.0, cosine = 0.0, threshold = 0.4)
      val symCfg = LinkagePipeline.Config(weights = W, maxBlockSize = 100000)
      val pages = pages60(s, dir)
      val keys = symKeys(pages)
      val texts = pages.select("url", "text")
      // base run through the production scoring path (the same score the
      // removal's survivor-pair rescore recomputes)
      val (idfDf, nDocs) = PairScorer.idfArtifact(texts)
      val (feats, releaseFeats) = PairScorer.featuresWithIdf(texts, Seq((idfDf, nDocs)))
      // one materialization of the scored edge set (the production run()'s
      // acceptedCk move): CC and assemblePredictions otherwise each replay
      // the pair join + all three scoring kernels
      val accepted = graft.util.Checkpoints.serializedLocal(
        PairScorer.threshold(
          PairScorer.score(Blocker.pairs(keys, maxBlockSize = 100000), feats, W),
          W
        )
      )
      val clusters = ConnectedComponents.run(
        accepted.select(col("urlA").as("src"), col("urlB").as("dst"))
      )
      // materialize the base store once: remove() reads basePredictions ~6
      // times (tombstone semi-join, affected/members, untouched, changedOld,
      // unaffectedAssign) — in production those reads hit a parquet store;
      // un-materialized here each one replayed the assemble tail's window
      // pass + joins
      val basePred = graft.util.Checkpoints.serializedLocal(
        LinkagePipeline.assemblePredictions(texts, clusters, accepted)
      )
      releaseFeats()
      val out = IncrementalLinkage.remove(
        pages.where(pmod(col("url"), lit(5)) === 0).select("url"),
        basePred,
        IncrementalLinkage.Index(keys, idfDf, nDocs),
        symCfg
      )
      out.predictions.select("url", "cluster_id", "status", "seq").orderBy("url")
    }),

    // ---- dedup family (training-data ops) ----
    "q_dd_ngram_jaccard" -> ((s, dir) => {
      // hashed shingle sets (native kernel): identical values to the string
      // intersect/union (DuckDB oracle) with zero shingle-string
      // materialization and a token-array shuffle instead of an n-times
      // bigger gram-array shuffle
      val d = t(s, dir, "documents").select(col("doc_id"), split(col("text"), " ").as("toks"))
      val a = d.select(col("doc_id").as("id_a"), col("toks").as("t_a"))
      val b = d.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"), col("toks").as("t_b"))
      a.join(b, "id_a")
        .select(
          col("id_a"),
          col("id_b"),
          round(SF.ngram_jaccard(col("t_a"), col("t_b"), 3), 6).as("jaccard")
        )
        .orderBy("id_a")
    }),
    "q_dd_minhash_pairs" -> ((s, dir) => {
      // MinHash-LSH candidate pairs over documents (custom expression; rows-only)
      val d = fan(
        t(s, dir, "documents").select(
          concat(lit("doc:"), lpad(col("doc_id").cast("string"), 6, "0")).as("url"),
          col("text")
        )
      )
      Blocker
        .pairs(MinHashBlocking(3, 16, 8).keys(d).select("url", "key"), 1000)
        .select(col("urlA"), col("urlB"))
        .orderBy("urlA", "urlB")
    }),
    "q_dd_line_dedup" -> ((s, dir) => {
      // C4/CCNet-style line-level boilerplate removal: lines = deterministic
      // 10-word chunks (the synthetic corpus has no newlines); any line
      // appearing in more than one document is dropped from ALL of them,
      // order of the survivors preserved (Dedup.lineDedup — keyed on the
      // 8-byte line hash, no broadcast, no cartesian)
      val lines = graft.operators.TextAnalysis.tokenChunks(split(col("text"), " "), 10)
      val docs = t(s, dir, "documents").select(col("doc_id"), lines.as("lines"))
      graft.operators.Dedup
        .lineDedup(docs, "doc_id", "lines", maxDocFreq = 1)
        .orderBy("doc_id")
    }),
    "q_dd_span_dedup" -> ((s, dir) => {
      // exact duplicated-SPAN removal (Lee et al. 2022 ExactSubstr, windowed
      // relaxation — Dedup.spanDedup): every 8-word window occurring twice+
      // anywhere in the corpus is removed from ALL its positions. A shared
      // boilerplate sentence is planted row-locally on doc_id % 7 == 0 so
      // the battery exercises real cross-doc span removal at every sf (the
      // organic corpus also contributes duplicated windows); the DuckDB
      // oracle recomputes window formation, corpus frequency, offset
      // expansion and the rebuild engine-free by grouping window STRINGS
      // (equal strings <=> equal xxhash64 up to a 2^-64 collision).
      val pages = t(s, dir, "documents").select(
        col("doc_id"),
        when(
          pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" the quick brown fox jumps over the lazy dog end"))
        ).otherwise(col("text")).as("text")
      )
      graft.operators.Dedup
        .spanDedup(
          pages.select(col("doc_id"), split(col("text"), " ").as("words")),
          idCol = "doc_id",
          wordsCol = "words",
          windowWords = 8,
          minFreq = 2
        )
        .orderBy("doc_id")
    }),
    "q_corpus_build" -> ((s, dir) => {
      // the training-data FLAGSHIP: one chain through five library
      // operators — html:binary -> text (TextAnalysis.htmlText), quality
      // gate (Curation.qualityGate, keeps only passing docs), exact dedup
      // (Dedup.exact keeps the min-id copy of each planted boilerplate
      // text, doc_id % 11 == 0), span dedup (Dedup.spanDedup, 8-word
      // windows over the survivors), leakage-safe split
      // (Curation.hashSplit). Every stage's math is replayed engine-free
      // in ONE DuckDB oracle; the final text ships as a sha256 so rows
      // stay small.
      val boiler = "this fixed boilerplate sentence repeats across many pages and contains " +
        "exactly thirty distinct common words so the quality gate accepts every copy while " +
        "exact dedup must collapse them to one"
      val src = fan(
        t(s, dir, "documents").select(
          col("doc_id"),
          when(pmod(col("doc_id"), lit(11)) === 0, lit(boiler)).otherwise(col("text")).as("raw")
        )
      )
      // stage 1: extraction from the binary page. Materialized once: every
      // downstream stage references its predecessor 2-3x (gate join-back,
      // dedup join-back, spanDedup's 3 base reads), so un-materialized the
      // regex-chain extraction re-ran multiplicatively (~8x) through the
      // chain.
      val pages = graft.util.Checkpoints.serializedLocal(
        src.select(
          col("doc_id"),
          graft.operators.TextAnalysis
            .htmlText(encode(concat(lit("<body><p>"), col("raw"), lit("</p></body>")), "UTF-8"))
            .as("text")
        )
      )
      // stage 2: quality gate — only keepers continue
      val gated = graft.util.Checkpoints.serializedLocal(
        graft.operators.Curation
          .qualityGate(
            pages.select(col("doc_id"), split(col("text"), " ").as("toks")),
            minTokens = 30,
            maxTokens = 200,
            minDistinctRatio = 0.3,
            maxTopBigramFrac = 0.1,
            maxDupTrigramFrac = 0.2
          )
          .where(col("keep"))
          .select("doc_id")
          .join(pages, Seq("doc_id"))
      )
      // stage 3: exact dedup — keep the min-id copy of each text
      val deduped = graft.util.Checkpoints.serializedLocal(
        graft.operators.Dedup
          .exact(gated, "doc_id", sha2(col("text"), 256))
          .where(col("doc_id") === col("canonical"))
          .select("doc_id")
          .join(gated, Seq("doc_id"))
      )
      // stage 4: span-level exact-substring dedup over the survivors
      val cleaned = graft.operators.Dedup.spanDedup(
        deduped.select(col("doc_id"), split(col("text"), " ").as("words")),
        idCol = "doc_id",
        wordsCol = "words",
        windowWords = 8,
        minFreq = 2
      )
      // stage 5: leakage-safe split
      graft.operators.Curation
        .hashSplit(cleaned, Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1), keyCol = "doc_id")
        .select(
          col("doc_id"),
          col("split"),
          col("n_words"),
          col("n_removed"),
          sha2(col("text_clean"), 256).as("sha")
        )
        .orderBy("doc_id")
    }),
    "q_emb_quantize" -> ((s, dir) => {
      // symmetric int8 embedding quantization (4x storage/shuffle at 100 TB
      // of vectors): explicit floor(x/scale + 0.5) rounding so the oracle
      // replays it bit-for-bit; per-coordinate reconstruction error must be
      // <= scale/2 by construction (checked per row)
      val F = graft.functions.EmbeddingFunctions
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .withColumn("qv", F.quantizeInt8(col("embedding")))
        .select(
          col("vec_id"),
          col("qv.scale").as("scale"),
          // codes travel the battery as a canonical comma-join (the driver's
          // pandas compare errors on bare array columns); the library keeps
          // the int8 array form
          array_join(transform(col("qv.q"), x => x.cast("string")), ",").as("q"),
          aggregate(
            zip_with(
              F.dequantizeInt8(col("qv")),
              transform(col("embedding"), x => x.cast("double")),
              (a, b) => abs(a - b)
            ),
            lit(0.0),
            (m, x) => greatest(m, x)
          ).as("max_err")
        )
        .withColumn("ok", col("max_err") <= col("scale") / 2)
        .orderBy("vec_id")
    }),
    "q_dd_resolve" -> ((s, dir) => {
      // near-dup resolution (the drop list): two symbolic key families
      // produce duplicate pairs, Dedup.resolve closes them transitively
      // (checkpointed CC), picks the longest-text/min-id canonical per
      // cluster, and emits keep/drop; the oracle replays closure with a
      // recursive CTE and the canonical rule with a window
      val pages = pages60(s, dir, col("doc_id"))
      // content family first, unlike symKeys: the pairs below are
      // distinct(), so the family order cannot change the result
      val keys = pages
        .select(col("doc_id").as("url"), tokenKey)
        .unionAll(pages.select(col("doc_id").as("url"), bandKey))
      val a = keys.select(col("url").as("urlA"), col("key"))
      val b = keys.select(col("url").as("urlB"), col("key"))
      val pairs = a.join(b, Seq("key")).where(col("urlA") < col("urlB")).select("urlA", "urlB").distinct()
      graft.operators.Dedup.resolve(pages, pairs, "doc_id", "text").orderBy("doc_id")
    }),
    "q_dd_simhash" -> ((s, dir) =>
      // SimHash fingerprint + hamming-near pairs on adjacent ids (rows-only)
      t(s, dir, "documents")
        .select(col("doc_id"), SF.simhash64(split(col("text"), " ")).as("simhash"))
        .orderBy("doc_id")),
    "q_dd_embedding_neardup" -> ((s, dir) => {
      // embedding-cosine near-dup through the SCALE plan (multi-table
      // sign-LSH bucketing + exact-cosine verify, Dedup.embeddingNearDupApprox
      // — no all-pairs join). Near-dups are planted deterministically from
      // the table itself (first coordinate scaled by 1.05 -> cos >= 0.9998
      // with the original; max natural pair cosine at this sf is ~0.51), so
      // at threshold 0.95 the LSH result provably equals the exact all-pairs
      // answer and the DuckDB oracle stays fully symbolic.
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val perturbed = e.select(
        (col("vec_id") + 1000000L).as("vec_id"),
        concat(
          array(element_at(col("v"), 1) * 1.05),
          slice(col("v"), 2, 1000000)
        ).as("v")
      )
      Dedup
        .embeddingNearDupApprox(e.unionAll(perturbed), "vec_id", "v", threshold = 0.95)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }),
    "q_dd_semdedup" -> ((s, dir) => {
      // SemDeDup end-to-end: k-means cells (bit-stable trainer) -> within-
      // cell cosine pairs -> resolve to a keep/drop list. EXACT copies are
      // planted (vec_id + 1000000): an identical vector shares its
      // original's cell under ANY codebook, cos = 1 >= 0.9, and max natural
      // pair cosine at this sf is ~0.51 — so the pair set is exactly the
      // planted copies and the oracle stays fully symbolic.
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val planted = e
        .where(col("vec_id") < 30)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("v"))
      val corpus = e.unionAll(planted)
      val pairs = Dedup.semDedupPairs(corpus, "vec_id", "v", tau = 0.9, nList = 16)
      Dedup
        .resolve(
          corpus.select(col("vec_id"), lit("").as("text")),
          pairs.select("id_a", "id_b"),
          "vec_id",
          "text"
        )
        .orderBy("vec_id")
    }),

    // ---- similarity search ----
    "q_ann_topk_int8" -> ((s, dir) => {
      // the QUANTIZED search path: cosine top-5 ranked entirely in int8
      // integer space (scales cancel in cosine — 1/4 the bytes on the
      // broadcast/fetch side at corpus scale); the oracle replays the
      // quantization chain and the integer dot/norm ranking
      val F = graft.functions.EmbeddingFunctions
      val e = fan(t(s, dir, "embeddings").select(col("vec_id"), F.quantizeInt8(col("embedding")).as("qv")))
      graft.operators.SimilaritySearch
        .bruteForceTopKInt8(e.where(col("vec_id") < 20), e.where(col("vec_id") >= 20), "vec_id", "qv", 5)
        .select("qid", "rk", "neighbor")
        .orderBy("qid", "rk")
    }),
    "q_ann_topk" -> ((s, dir) => {
      // brute-force cosine top-5 neighbors for the first 20 vectors
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("v").as("qv"))
      val scored = q
        .join(e.where(col("vec_id") >= 20), lit(true))
        .withColumn("cos", SimilaritySearch.cosine(col("qv"), col("v")))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
      scored
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("vec_id").as("neighbor"))
        .orderBy("qid", "rk")
    }),
    "q_ann_lsh" -> ((s, dir) => {
      // sign-LSH bucket census via the native kernel (hyperplanes cached per
      // JVM, one codegen'd dot-product loop per bit — golden-fixture oracle)
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      e.select(col("vec_id"), SF.sign_lsh(col("v"), 8, 0).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("vec_id").as("min_vec"))
        .orderBy("bucket")
    }),

    "q_ann_ivf" -> ((s, dir) => {
      // IVF-bucketed ANN top-3 (deterministic hash-sampled codebook;
      // fully symbolic DuckDB oracle — xxhash64 + assignment re-derived)
      val e = t(s, dir, "embeddings")
      SimilaritySearch
        .ivfTopK(
          e.where(col("vec_id") < 20),
          e.where(col("vec_id") >= 20),
          "vec_id",
          "embedding",
          k = 3,
          nList = 32,
          nProbe = 8
        )
        .select(col("qid"), col("rk"), col("neighbor"))
        .orderBy("qid", "rk")
    }),
    "q_ann_ivf_trained" -> ((s, dir) => {
      // IVF with a TRAINED spherical-k-means codebook (trainIvf). The oracle
      // is fully symbolic: queries are exact copies of the first 20 corpus
      // vectors (vec_id + 1000000), and an identical vector lands in the
      // same IVF cell as its original under ANY codebook — so trained top-1
      // recovers the original with certainty (max natural pair cosine in
      // this table is far below 1), independent of fp summation jitter in
      // the k-means means.
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val codebook = SimilaritySearch.trainIvf(e, "vec_id", "v", nList = 16, maxIters = 5)
      val planted = e
        .where(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("v"))
      SimilaritySearch
        .ivfTopK(planted, e, "vec_id", "v", k = 1, nList = 16, nProbe = 1, codebook = Some(codebook))
        .select(col("qid"), col("rk"), col("neighbor"))
        .orderBy("qid")
    }),

    // ---- text analysis ----
    "q_txt_quality" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"),
          round(col("n_chars").cast("double") / size(toks), 6).as("chars_per_token")
        )
        .orderBy("doc_id")
    }),
    // ---- corpus curation (training-data ops) ----
    "q_cur_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: every 97th doc plays the eval set; flag
      // corpus docs sharing any distinct 5-gram with it (benchmark grams
      // broadcast; only hit grams survive to the by-id aggregation)
      val d = t(s, dir, "documents")
      graft.operators.Curation
        .decontaminate(d, d.where(pmod(col("doc_id"), lit(97)) === 0), n = 5)
        .orderBy("doc_id")
    }),
    "q_cur_quota_sample" -> ((s, dir) => {
      // deterministic stratified sampling: at most 3 docs per (lang,
      // source), picked by xxhash64(doc_id) rank — the oracle re-derives
      // the hash in HUGEINT arithmetic (same chain as q_ann_ivf)
      val d = t(s, dir, "documents").select("doc_id", "lang", "source")
      graft.operators.Curation.quotaSample(d, Seq("lang", "source"), 3).orderBy("doc_id")
    }),
    "q_cur_split" -> ((s, dir) => {
      // leakage-safe deterministic train/valid/test split: the split unit
      // is a symbolic dedup cluster (3 consecutive ids share cluster_key),
      // so near-duplicates always co-travel into one split; 80/10/10 cut
      // at 10000 hash buckets — row-local, zero exchanges, growth-stable.
      // The oracle replays pmod(xxhash64(cluster_key), 10000) in HUGEINT.
      val d = t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") - pmod(col("doc_id"), lit(3))).as("cluster_key"))
      graft.operators.Curation
        .hashSplit(d, Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1), keyCol = "cluster_key")
        .orderBy("doc_id")
    }),
    "q_cur_quality_gate" -> ((s, dir) => {
      // keep/drop gate with reason codes: doc_id % 3 == 0 docs get their
      // text doubled row-locally (plants repetitive_trigram + too_long +
      // low_diversity), thresholds chosen so the battery exercises a mix
      // of reasons; raw split tokens shared with the oracle
      val d = t(s, dir, "documents").select(
        col("doc_id"),
        split(
          when(pmod(col("doc_id"), lit(3)) === 0, concat(col("text"), lit(" "), col("text")))
            .otherwise(col("text")),
          " "
        ).as("toks")
      )
      graft.operators.Curation
        .qualityGate(
          d,
          minTokens = 30,
          maxTokens = 200,
          minDistinctRatio = 0.3,
          maxTopBigramFrac = 0.1,
          maxDupTrigramFrac = 0.2
        )
        // battery output: reason order is pinned by the gate, so the
        // comma-join is canonical; the driver's pandas compare cannot sort
        // a bare array column (r4 red), and the library API keeps the array
        .withColumn("reasons", concat_ws(",", col("reasons")))
        .orderBy("doc_id")
    }),
    "q_cur_mix_weights" -> ((s, dir) => {
      // temperature-scaled training-mixture weights per source (alpha=0.7
      // upsamples small sources): one tiny agg + scalar normalizer —
      // the corpus is read once, never reshuffled
      val d = t(s, dir, "documents")
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.operators.Curation.mixWeights(d, "source", "n_tokens", alpha = 0.7).orderBy("source")
    }),
    "q_cur_redact_pii" -> ((s, dir) => {
      // synthetic text carries no PII — inject a deterministic email +
      // phone per row, redact, and let the oracle replay both regexes
      val d = t(s, dir, "documents").select(
        col("doc_id"),
        concat(col("text"), lit(" contact-"), col("doc_id"), lit("@example.com tel 0123 456 789"))
          .as("text")
      )
      graft.operators.Curation.redactPii(d).orderBy("doc_id")
    }),
    "q_cur_dsir_weights" -> ((s, dir) => {
      // DSIR importance weighting (Xie et al. 2023): raw corpus = all
      // documents, target = the src0/src1 slice; logw = n_tok *
      // (lp_mean_target - lp_mean_raw) over hashed-unigram models. The
      // oracle rebuilds BOTH models and every mean from the same FNV fold
      // (ASCII corpus — same scope note as q_txt_winnow).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      graft.operators.DataSelection
        .importanceWeights(docs, docs.where(col("source").isin("src0", "src1")), buckets = 4096)
        .select(
          col("doc_id"),
          col("n_tok"),
          round(col("lp_target"), 6).as("lp_target"),
          round(col("lp_raw"), 6).as("lp_raw"),
          round(col("logw"), 6).as("logw")
        )
        .orderBy("doc_id")
    }),
    "q_cur_dsir_sample" -> ((s, dir) => {
      // Gumbel top-k importance resampling, seed 7: the oracle replays the
      // unigram models, the xxhash64(doc_id + 7) noise fold, u = ((h >>> 11)
      // + 0.5) / 2^53, g = -ln(-ln u), and the top-50 cut engine-free.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      val w = graft.operators.DataSelection
        .importanceWeights(docs, docs.where(col("source").isin("src0", "src1")), buckets = 4096)
      graft.operators.DataSelection
        .gumbelTopK(w, "doc_id", 50, seed = 7L)
        .select(col("doc_id"), round(col("logw"), 6).as("logw"), round(col("gumbel_key"), 6).as("gumbel_key"))
        .orderBy("doc_id")
    }),
    "q_cur_dsir_bigram" -> ((s, dir) => {
      // DSIR over the paper's hashed-BIGRAM feature space: same target
      // slice, adjacent-pair features "t1 t2". The oracle rebuilds the
      // bigram arrays, both models and the weights engine-free.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      graft.operators.DataSelection
        .importanceWeightsBigram(docs, docs.where(col("source").isin("src0", "src1")), buckets = 4096)
        .select(col("doc_id"), col("n_tok"), round(col("logw"), 6).as("logw"))
        .orderBy("doc_id")
    }),
    "q_cur_c4_filters" -> ((s, dir) => {
      // C4 line+page heuristics over decorated 10-token pseudo-lines (the
      // corpus has no punctuation, so chunk i gains '.' when i%3==0, a
      // ' javascript' suffix when i%7==0, and a page-killing
      // ' lorem ipsum.' when i%11==0 — first-match chain, replayed
      // verbatim by the oracle's CASE).
      import graft.operators.{Curation, TextAnalysis}
      val lines0 = TextAnalysis.tokenChunks(split(col("text"), " "), 10)
      val lines = element_at(
        transform(
          array(lines0),
          ls =>
            transform(
              ls,
              (l, i) =>
                when(pmod(i, lit(3)) === 0, concat(l, lit(".")))
                  .when(pmod(i, lit(7)) === 0, concat(l, lit(" javascript")))
                  .when(pmod(i, lit(11)) === 0, concat(l, lit(" lorem ipsum.")))
                  .otherwise(l)
            )
        ),
        1
      )
      val docs = t(s, dir, "documents").select(col("doc_id"), lines.as("lines"))
      Curation
        .c4LineFilters(docs, minWordsPerLine = 5, minLines = 3)
        .orderBy("doc_id")
    }),
    "q_cur_kl_drift" -> ((s, dir) => {
      // distribution-drift monitor: KL(target‖raw) / KL(raw‖target) /
      // total-variation between the src0/src1 slice and the full corpus
      // over the same hashed-unigram space as DSIR (buckets=4096),
      // exact over ALL buckets via the closed-form never-seen remainder.
      // The oracle rebuilds both models from the FNV fold and replays the
      // smoothed sums + remainder verbatim.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      graft.operators.DataSelection.klDrift(
        docs,
        docs.where(col("source").isin("src0", "src1")),
        split(col("text"), " "),
        buckets = 4096
      )
    }),
    "q_cur_pack" -> ((s, dir) => {
      // GPT-style concat-and-chop sequence packing: deterministic
      // pseudo-shuffle order (xxhash64 of doc_id, id tie-break), global
      // token-stream positions from the two-phase range-partition cumsum
      // (no global window), 2048-token packs. The oracle replays the hash,
      // the order, the running sum and the pack cuts engine-free.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.operators.Curation
        .packSequences(
          docs,
          "doc_id",
          xxhash64(col("doc_id")),
          size(split(col("text"), " ")).cast("long"),
          budget = 2048
        )
        .select(col("doc_id"), col("n_tokens"), col("start_pos"), col("pack_id"), col("pack_offset"), col("pack_id_end"))
        .orderBy("doc_id")
    }),
    "q_cur_token_budget" -> ((s, dir) => {
      // token-budget prefix cut over the same pseudo-shuffled stream as
      // q_cur_pack: keep docs fitting entirely inside the first 10000
      // tokens. The oracle replays hash order, running sum, and the cut.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.operators.Curation
        .takeTokenBudget(
          docs,
          "doc_id",
          xxhash64(col("doc_id")),
          size(split(col("text"), " ")).cast("long"),
          budget = 10000
        )
        .select(col("doc_id"), col("n_tokens"), col("start_pos"))
        .orderBy("doc_id")
    }),
    "q_txt_unigram_lp" -> ((s, dir) => {
      // unigram-LM quality scoring (the KenLM-perplexity stand-in): model
      // = one bounded hashed-bucket aggregation (collected + broadcast),
      // scoring = row-local codegen kernel. The oracle rebuilds the model
      // and every doc's count-weighted mean log p(bucket) from the same
      // FNV fold the engine uses (ASCII corpus — same scope note as
      // q_txt_winnow).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val (model, total) = graft.operators.TextAnalysis.unigramModel(docs, buckets = 4096)
      graft.operators.TextAnalysis
        .unigramLogProb(docs, model, total, buckets = 4096)
        .select(col("doc_id"), round(col("lp_mean"), 6).as("lp_mean"))
        .orderBy("doc_id")
    }),

    "q_html_extract" -> ((s, dir) => {
      // north-rule html:binary -> text extraction: each doc's text is
      // wrapped row-locally into a full HTML page (head/title, style block,
      // attributes, a comment, entities in the body, a script whose content
      // contains a bare '<'), extracted with TextAnalysis.htmlText, and
      // checked against the expected body — the per-row "byte-identical
      // extracted text per url" invariant, oracle-replayed in RE2.
      val body = concat(col("text"), lit(" A &amp; B &lt;ok&gt;"))
      val html = concat(
        lit(
          "<html><head><title>T</title><style>p {color: red}</style></head>" +
            "<body class=\"main\"><!-- note --><p>"
        ),
        body,
        lit("</p><script type=\"text/javascript\">var x = 1 < 2;</script></body></html>")
      )
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          graft.operators.TextAnalysis.htmlText(encode(html, "UTF-8")).as("text_extracted"),
          col("text")
        )
        .select(
          col("doc_id"),
          col("text_extracted"),
          (col("text_extracted") === concat(col("text"), lit(" A & B <ok>"))).as("ok")
        )
        .orderBy("doc_id")
    }),
    "q_txt_winnow" -> ((s, dir) =>
      // winnowing fingerprints (MOSS): distinct minima of 5-windows over
      // the 4-gram FNV hash stream; the oracle replays the per-char FNV
      // fold, the k-gram fold, signed conversion, window minima and the
      // distinct-sort — fully symbolic. Raw split tokens shared with the
      // oracle (one tokenization).
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          SF.winnow(split(col("text"), " "), 4, 5).as("fp")
        )
        // fingerprints are already distinct-sorted, so the comma-join is a
        // canonical string (the driver's pandas compare errors on bare
        // array columns); the library API keeps the array form
        .select(
          col("doc_id"),
          array_join(transform(col("fp"), x => x.cast("string")), ",").as("fingerprints"),
          size(col("fp")).cast("long").as("n_fp")
        )
        .orderBy("doc_id")),
    "q_txt_langid" -> ((s, dir) => {
      // stopword-vote language id heuristic (here: english function words)
      val toks = split(col("text"), " ")
      val hits = size(filter(toks, t => t.isin("the", "a", "of", "and", "to", "in")))
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          when(hits.cast("double") / size(toks) >= 0.02, "en").otherwise("unk").as("lang_pred")
        )
        .groupBy("lang_pred")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang_pred")
    }),
    "q_txt_token_count" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("ws_tokens"))
        .orderBy("doc_id")),
    "q_txt_repetition" -> ((s, dir) => {
      // Gopher repetition filters (top-bigram / duplicate-trigram
      // fractions), row-local kernel. Every 3rd doc gets its text doubled
      // so the duplicate fractions are exercised away from zero; the
      // oracle recomputes exact gram counts via unnest + group by.
      val txt = when(col("doc_id") % 3 === 0, concat(col("text"), lit(" "), col("text")))
        .otherwise(col("text"))
      // raw split, not tokensOf: the oracle's string_split must see the
      // SAME tokens (tokensOf lowercases + collapses whitespace)
      val r = graft.operators.TextAnalysis.repetitionSignalsTokens(split(txt, " "))
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          r.getField("n_bigrams").as("n_bigrams"),
          r.getField("top_bigram_frac").as("top_bigram_frac"),
          r.getField("dup_trigram_frac").as("dup_trigram_frac")
        )
        .orderBy("doc_id")
    }),
    "q_txt_gopher_rep" -> ((s, dir) => {
      // Gopher duplicate-line filters over 2-token pseudo-lines (the
      // corpus has no newlines); every 4th doc's text is doubled so the
      // duplicate fractions are exercised away from zero. The oracle
      // recomputes exact per-line occurrence counts via unnest + group by
      // (sorted-predecessor repeats == sum(cnt - 1) per distinct line).
      val txt = when(col("doc_id") % 4 === 0, concat(col("text"), lit(" "), col("text")))
        .otherwise(col("text"))
      val sig = graft.operators.TextAnalysis.duplicateLineSignals(
        graft.operators.TextAnalysis.tokenChunks(split(txt, " "), 2)
      )
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          sig.getField("n_lines").as("n_lines"),
          sig.getField("dup_line_frac").as("dup_line_frac"),
          sig.getField("dup_line_char_frac").as("dup_line_char_frac")
        )
        .orderBy("doc_id")
    }),
    "q_txt_url_canon" -> ((s, dir) => {
      // RFC-3986-style URL normalization over six deterministic messy
      // variants (case, default/explicit ports, tracking params, param
      // order, fragments, bare host, non-URL passthrough); the oracle
      // re-derives the whole rule chain in SQL string functions.
      val v = col("doc_id") % 6
      val id50 = col("doc_id") % 50
      val url = when(
        v === 0,
        concat(
          lit("HTTP://Example"),
          id50,
          lit(".COM:80/path/"),
          col("doc_id"),
          lit("?utm_source=x&b=2&a=1#frag")
        )
      )
        .when(v === 1, concat(lit("https://CDN.Site"), id50, lit(".org:443/a/b")))
        .when(
          v === 2,
          concat(lit("https://site"), id50, lit(".net:8443/x?gclid=1&z=9&y="), col("doc_id") % 7)
        )
        .when(v === 3, concat(lit("http://Host"), id50, lit(".com/x/y?fbclid=abc&utm_medium=m")))
        .when(v === 4, concat(lit("http://Bare"), id50, lit(".com")))
        .otherwise(concat(lit("plain-text no url "), col("doc_id")))
      t(s, dir, "documents")
        .select(col("doc_id"), url.as("url"), Normalize.urlNormalize(url).as("canon"))
        .orderBy("doc_id")
    }),
    "q_txt_fingerprint" -> ((s, dir) =>
      // rolling-hash document fingerprint via the FUSED shingle+minhash
      // kernel (no shingle strings materialized; golden-fixture oracle)
      t(s, dir, "documents")
        .select(col("doc_id"), SF.minhash_shingles(split(col("text"), " "), 4, 4).as("fp"))
        .select(col("doc_id"), element_at(col("fp"), 1).as("fp0"))
        .orderBy("doc_id")),

    // ---- decision semantics as a data-plane operator (F9/F15/J4/W4) ----
    "q_decision" -> ((s, dir) => {
      // deterministic LLM-payload cases crafted from doc_id (m = doc_id % 8
      // selects the semantic branch); the oracle recomputes every output
      // symbolically in SQL — an independent check of the decision rules
      val d = t(s, dir, "documents").select(col("doc_id"), (col("doc_id") % 8).as("m"))
      val id0 = concat(lit("E"), col("doc_id"))
      val id1 = concat(lit("E"), col("doc_id") + 1)
      val id2 = concat(lit("E"), col("doc_id") + 2)
      val xid = concat(lit("X"), col("doc_id"))
      val resp = when(
        col("m") === 0, // HIGH accept; sorts desc; X-id not in candidates
        concat(
          lit("""{"candidate_ranking":[{"id":""""), xid,
          lit("""","score":0.35},{"id":""""), id0,
          lit("""","score":0.92}],"nil_score":0.1,"explanation":"ok"}""")
        )
      ).when(
        col("m") === 1, // MEDIUM -> NIL, scores wiped
        concat(lit("""{"candidate_ranking":[{"id":""""), id0, lit("""","score":0.55}],"explanation":"ok"}"""))
      ).when(
        col("m") === 2, // nil_score dominates a HIGH score
        concat(
          lit("""{"candidate_ranking":[{"id":""""), id0,
          lit("""","score":0.8}],"nil_score":0.95,"explanation":"ok"}""")
        )
      ).when(
        col("m") === 3, // NIL entry flips nil mode
        concat(
          lit("""{"candidate_ranking":[{"id":"NIL","score":0.2},{"id":""""), id0,
          lit("""","score":null}],"explanation":"ok"}""")
        )
      ).when(
        col("m") === 4, // all-null scores: input order preserved
        concat(
          lit("""{"candidate_ranking":[{"id":""""), id1,
          lit("""","score":null},{"id":""""), id0,
          lit("""","score":null}],"explanation":"ok"}""")
        )
      ).when(col("m") === 5, lit("not json")) // invalid JSON -> error
        .when(
          col("m") === 6, // unexpected top-level key -> error
          lit("""{"candidate_ranking":[],"answer":"Q42","explanation":"x"}""")
        )
        .otherwise( // m=7: out-of-range score -> error
          concat(lit("""{"candidate_ranking":[{"id":""""), id0, lit("""","score":1.5}],"explanation":"x"}"""))
        )
      def cand(id: Column) = struct(
        id.as("id"),
        concat(lit("name-"), id).as("name"),
        lit("desc").as("description"),
        array(struct(lit("T1").as("id"), lit("thing").as("name"))).as("types")
      )
      val input = d.select(
        concat(lit("task-"), lpad(col("doc_id").cast("string"), 6, "0")).as("task_id"),
        resp.as("response"),
        array(cand(id0), cand(id1), cand(id2)).as("candidates")
      )
      DecisionOps
        .run(input, "task_id", "response", "candidates", requestedTopK = 3)
        .select(
          col("task_id"),
          col("predicted_id"),
          col("nil_score"),
          col("explanation"),
          col("error"),
          array_join(transform(col("ranking"), e => e.getField("id")), ",").as("ranking_ids"),
          try_element_at(col("ranking"), lit(1)).getField("score").as("top_score"),
          size(col("ranking")).cast("long").as("n_ranking"),
          try_element_at(filter(col("ranking"), e => e.getField("matched")), lit(1))
            .getField("id")
            .as("matched_id"),
          array_join(transform(col("ranking"), e => e.getField("name")), ",").as("names_csv")
        )
        .orderBy("task_id")
    }),

    // ---- cursor codec (F12) + run-log read (S10) ----
    "q_f12_cursor" -> ((s, dir) => {
      val enc = graft.functions.Cursor
        .encode(concat(lit("job-"), col("user_id")), col("event_id"))
      t(s, dir, "events")
        .where(col("event_id") < 200)
        .select(col("event_id"), enc.as("cursor"))
        .withColumn("decoded_job", graft.functions.Cursor.decode(col("cursor")).getField("job_id"))
        .withColumn("decoded_seq", graft.functions.Cursor.decode(col("cursor")).getField("seq"))
        .orderBy("event_id")
    }),
    "q_s10_runlog" -> ((s, dir) => {
      // append-only run-log read semantics: latest entry per key by the
      // monotone seq (result_store.py:92-103; RunLog sink writes, this is
      // the queryable read path)
      val w = Window.partitionBy("user_id").orderBy(col("event_id").desc)
      t(s, dir, "events")
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1)
        .select(col("user_id"), col("event_id").as("last_seq"), col("event_type").as("last_type"))
        .orderBy("user_id")
    }),

    // ---- gold-data evaluation (the reference's labeled fixture) ----
    "q_eval_gold" -> ((s, dir) => {
      // the reference's real 30-row gold fixture through the full harness
      // (gt-excluded mentions -> blocking -> scoring -> top-1 decision),
      // symbolic-scoring form so DuckDB recomputes every step independently
      val table = graft.eval.GoldEval.loadTable(s)
      val proc = graft.eval.GoldEval.processingFrame(table)
      val mentions = graft.eval.GoldEval.mentionVariants(proc)
      val entities = graft.eval.GoldEval.entityTable(table)
      val linked = graft.eval.GoldEval.linkLev(mentions, entities)
      val gold = table.select(col("title").as("row_key"), col("title_QID").as("gold_id"))
      linked
        .join(mentions.select("url", "row_key"), "url")
        .join(gold, "row_key")
        .select(
          col("url"),
          col("predicted_id"),
          col("gold_id"),
          (col("predicted_id") === col("gold_id")).as("correct")
        )
        .orderBy("url")
    }),

    // ---- multimodal plumbing ----
    "q_mm_binary_meta" -> ((s, dir) =>
      // binary column plumbing: bytes -> typed metadata (decode stubbed as
      // deterministic byte stats; real decoders plug into the same shape)
      t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .select(
          col("doc_id"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          substring(hex(col("payload")), 1, 8).as("magic")
        )
        .orderBy("doc_id")),
    "q_mm_resize" -> ((s, dir) => {
      // jpeg-magic-prefixed payloads through the REAL multimodal chain:
      // DecodeMeta (codegen'd expression) -> Multimodal.resizePlan
      // (aspect-preserving fit into 256x256, never upscale, short side
      // clamped to 1px). The stub decode's FNV-1a-derived dimensions are
      // recomputed byte-exactly by the DuckDB oracle, so width/height/
      // out_w/out_h/scale are all verified engine-free.
      val pages = t(s, dir, "documents").select(
        col("doc_id"),
        concat(unhex(lit("FFD8FFE0")), col("text").cast("binary")).as("payload")
      )
      val meta = graft.operators.Multimodal.decodeMeta(pages, "doc_id", "payload")
      graft.operators.Multimodal
        .resizePlan(meta, "doc_id", 256, 256)
        .withColumn("scale", round(col("scale"), 6))
        .orderBy("doc_id")
    })
  )

  /** DuckDB-runnable oracles; keys must alias every computed column to the
    * same name as the Spark result. Omitted keys get a rows-only check.
    *
    * Custom-kernel queries (MinHash, SimHash, sign-LSH, the full pipeline)
    * have no ANSI-SQL equivalent: they oracle against golden parquet
    * fixtures under /root/repo/golden/ generated ONCE from the
    * ScalaTest-verified kernels at sf0.01 (`graft.GoldenGen`) — the oracle
    * then checks cross-run/cross-parallelism determinism byte-for-byte.
    */
  /** Golden-fixture root — overridable so the correctness compare works in
    * any checkout (-Dgraft.golden.dir=... or GRAFT_GOLDEN_DIR=...).
    */
  val goldenDir: String = sys.props
    .get("graft.golden.dir")
    .orElse(sys.env.get("GRAFT_GOLDEN_DIR"))
    .getOrElse("/root/repo/golden")

  /** DuckDB CTE stages replaying Spark's xxhash64 of a BIGINT column in
    * HUGEINT mod-2^64 arithmetic: emits `hx0..hx4` plus `hashes(<id>, h)`
    * over CTE `from` (which must expose column `<id>`). Same chain the
    * q_ann_ivf / q_er_pipeline_sym / q_cur_quota_sample oracles inline;
    * new oracles that replay hash-derived bucketing use this builder.
    */
  /** Shared DSIR oracle prefix: both hashed-unigram models (target =
    * src0/src1 slice, raw = all documents, 4096 buckets) and the per-doc
    * weight frame `w(doc_id, n_tok, lp_target, lp_raw, logw)`, rebuilt from
    * the same FNV token fold the engine's TermFreqs kernel uses.
    */
  /** Shared Fellegi–Sunter oracle prefix (mirrors [[fsScoredPairs]]): the
    * (lang, n_chars/50) pair frame plus per-field global-u, TF-table and
    * log-likelihood-weight CTEs, ending with `w(id_a, id_b, w_lang,
    * w_source, w_band)` — q_er_fs_score selects it directly, q_er_fs_explain
    * unpivots it into waterfall steps.
    */
  private val fsWeightsCte: String =
    """WITH d AS (
      |  SELECT doc_id, lang, source, CAST(floor(n_chars / 20) AS BIGINT) AS band,
      |         concat_ws('|', lang, CAST(floor(n_chars / 50) AS BIGINT)) AS key
      |  FROM documents),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |      FROM d a JOIN d b ON a.key = b.key AND a.doc_id < b.doc_id),
      |ul AS (SELECT sum(n*n)::DOUBLE / (sum(n)::DOUBLE * sum(n)) AS u
      |       FROM (SELECT count(*) AS n FROM d WHERE lang IS NOT NULL GROUP BY lang)),
      |us AS (SELECT sum(n*n)::DOUBLE / (sum(n)::DOUBLE * sum(n)) AS u
      |       FROM (SELECT count(*) AS n FROM d WHERE source IS NOT NULL GROUP BY source)),
      |ub AS (SELECT sum(n*n)::DOUBLE / (sum(n)::DOUBLE * sum(n)) AS u
      |       FROM (SELECT count(*) AS n FROM d WHERE band IS NOT NULL GROUP BY band)),
      |tl AS (SELECT lang AS v, count(*)::DOUBLE / (SELECT count(*) FROM d WHERE lang IS NOT NULL) AS u
      |       FROM d WHERE lang IS NOT NULL GROUP BY lang),
      |ts AS (SELECT source AS v, count(*)::DOUBLE / (SELECT count(*) FROM d WHERE source IS NOT NULL) AS u
      |       FROM d WHERE source IS NOT NULL GROUP BY source),
      |tb AS (SELECT band AS v, count(*)::DOUBLE / (SELECT count(*) FROM d WHERE band IS NOT NULL) AS u
      |       FROM d WHERE band IS NOT NULL GROUP BY band),
      |w AS (
      |  SELECT p.id_a, p.id_b,
      |    CASE WHEN a.lang IS NULL OR b.lang IS NULL THEN 0.0
      |         WHEN a.lang = b.lang THEN ln(0.95::DOUBLE / tl.u)
      |         ELSE ln((1.0 - 0.95::DOUBLE) / (1.0 - ul.u)) END AS w_lang,
      |    CASE WHEN a.source IS NULL OR b.source IS NULL THEN 0.0
      |         WHEN a.source = b.source THEN ln(0.6::DOUBLE / ts.u)
      |         ELSE ln((1.0 - 0.6::DOUBLE) / (1.0 - us.u)) END AS w_source,
      |    CASE WHEN a.band IS NULL OR b.band IS NULL THEN 0.0
      |         WHEN a.band = b.band THEN ln(0.85::DOUBLE / tb.u)
      |         ELSE ln((1.0 - 0.85::DOUBLE) / (1.0 - ub.u)) END AS w_band
      |  FROM p
      |  JOIN d a ON a.doc_id = p.id_a
      |  JOIN d b ON b.doc_id = p.id_b
      |  LEFT JOIN tl ON tl.v = a.lang
      |  LEFT JOIN ts ON ts.v = a.source
      |  LEFT JOIN tb ON tb.v = a.band, ul, us, ub)""".stripMargin

  /** Oracle-side mirror of [[recrawlCaps]]: the shared `caps` CTE of the
    * q_rc_* oracles.
    */
  private val recrawlCapsCte: String =
    """WITH caps AS (
      |  SELECT doc_id AS url,
      |         1700000000 + u.c * 86400 + doc_id % 5 AS ts,
      |         text || CASE WHEN doc_id % 4 = 0 AND u.c > 0
      |                      THEN ' v' || CAST(u.c AS VARCHAR) ELSE '' END AS text
      |  FROM documents, unnest(generate_series(0, doc_id % 3)) AS u(c))""".stripMargin

  private val dsirCte: String =
    """WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS t FROM documents),
      |th AS (
      |  SELECT doc_id, source,
      |    list_reduce(
      |      list_prepend(14695981039346656037::HUGEINT,
      |        list_transform(range(1, length(t) + 1), i -> ord(substr(t, i, 1))::HUGEINT)),
      |      (h, c) -> (xor(h, c) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS th
      |  FROM tok),
      |bk AS (SELECT doc_id, source, CAST((th // 2) % 4096 AS BIGINT) AS b FROM th),
      |mt AS (SELECT b, count(*) AS c FROM bk WHERE source IN ('src0', 'src1') GROUP BY b),
      |tt AS (SELECT sum(c) AS total FROM mt),
      |mr AS (SELECT b, count(*) AS c FROM bk GROUP BY b),
      |tr AS (SELECT sum(c) AS total FROM mr),
      |sc AS (
      |  SELECT bk.doc_id,
      |    ln((coalesce(mt.c, 0) + 1.0) / (tt.total + 4096.0)) AS lpt,
      |    ln((mr.c + 1.0) / (tr.total + 4096.0)) AS lpr
      |  FROM bk
      |  LEFT JOIN mt ON mt.b = bk.b
      |  JOIN mr ON mr.b = bk.b, tt, tr),
      |w AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |         avg(lpt) AS lp_target, avg(lpr) AS lp_raw,
      |         count(*) * (avg(lpt) - avg(lpr)) AS logw
      |  FROM sc GROUP BY doc_id) """.stripMargin

  /** Unrolled engine-free replay of CorrelationClustering.pivot (the
    * min-neighbor-defers KwikCluster peeling) over the q_er_cc chain-graph
    * edge rule: per round, the min-rank live neighbor per node (row_number
    * over the re-derived xxhash64 ranks), new pivots (rank below min
    * neighbor), claims (min neighbor is any pivot so far), then the live-
    * edge shrink (decided a-side, clustered b-side). Rounds past
    * convergence are empty no-ops; if the last stage still has live edges
    * a poison row (-1, -count) mismatches loudly instead of silently
    * truncating the peeling.
    */
  private def ccPivotOracle(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH e0 AS MATERIALIZED (
        |  SELECT a.doc_id AS a, b.doc_id AS b FROM documents a JOIN documents b
        |  ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 1 AND a.doc_id <> b.doc_id),
        |ids AS MATERIALIZED (SELECT DISTINCT a AS id FROM e0),
        |""".stripMargin
    )
    sb.append(xxhash64Cte("id", "ids"))
    // every round references the previous one three times — without
    // MATERIALIZED hints DuckDB inlines the chain exponentially
    sb.append(",\nhs AS MATERIALIZED (SELECT id, h FROM hashes)")
    for (r <- 0 until rounds) {
      val pallPrev = if (r > 0) s" UNION SELECT p FROM pall${r - 1}" else ""
      sb.append(s""",
        |mn$r AS MATERIALIZED (
        |  SELECT a, ha, b AS mb, hb AS mh FROM (
        |    SELECT e.a, ha.h AS ha, e.b, hb.h AS hb,
        |           row_number() OVER (PARTITION BY e.a ORDER BY hb.h, e.b) AS rn
        |    FROM e$r e JOIN hs ha ON ha.id = e.a JOIN hs hb ON hb.id = e.b)
        |  WHERE rn = 1),
        |piv$r AS MATERIALIZED (SELECT a AS p FROM mn$r WHERE ha < mh OR (ha = mh AND a < mb)),
        |pall$r AS MATERIALIZED (SELECT p FROM piv$r$pallPrev),
        |cl$r AS MATERIALIZED (SELECT m.a AS id, m.mb AS pivot_id FROM mn$r m JOIN pall$r p ON p.p = m.mb),
        |asg$r AS MATERIALIZED (SELECT p AS id, p AS pivot_id FROM piv$r UNION ALL SELECT id, pivot_id FROM cl$r),
        |e${r + 1} AS MATERIALIZED (
        |  SELECT e.a, e.b FROM e$r e
        |  WHERE NOT EXISTS (SELECT 1 FROM asg$r x WHERE x.id = e.a)
        |    AND NOT EXISTS (SELECT 1 FROM cl$r y WHERE y.id = e.b))""".stripMargin)
    }
    val unionAll = (0 until rounds).map(r => s"SELECT id, pivot_id FROM asg$r").mkString(" UNION ALL ")
    sb.append(s""",
      |allasg AS ($unionAll),
      |single AS (
      |  SELECT id, id AS pivot_id FROM ids
      |  WHERE NOT EXISTS (SELECT 1 FROM allasg w WHERE w.id = ids.id)),
      |poison AS (
      |  SELECT CAST(-1 AS BIGINT) AS id, -CAST(count(*) AS BIGINT) AS pivot_id
      |  FROM e$rounds HAVING count(*) > 0)
      |SELECT id, pivot_id FROM (
      |  SELECT * FROM allasg UNION ALL SELECT * FROM single UNION ALL SELECT * FROM poison)
      |ORDER BY id""".stripMargin)
    sb.toString
  }

  private def xxhash64Cte(id: String, from: String): String =
    s"""hx0 AS (
       |  SELECT $id,
       |    (((($id::HUGEINT // 4294967296) * 14029467366897019727::HUGEINT % 4294967296) * 4294967296
       |      + ($id::HUGEINT % 4294967296) * 14029467366897019727::HUGEINT)
       |     % 18446744073709551616::HUGEINT) AS lp2
       |  FROM $from),
       |hx1 AS (
       |  SELECT $id,
       |    ((((((lp2 * 2147483648::HUGEINT + lp2 // 8589934592) % 18446744073709551616::HUGEINT) // 4294967296)
       |        * 11400714785074694791::HUGEINT % 4294967296) * 4294967296
       |      + (((lp2 * 2147483648::HUGEINT + lp2 // 8589934592) % 18446744073709551616::HUGEINT) % 4294967296)
       |        * 11400714785074694791::HUGEINT)
       |     % 18446744073709551616::HUGEINT) AS k1
       |  FROM hx0),
       |hx2 AS (
       |  SELECT $id,
       |    (((((xor(2870177450012600311::HUGEINT, k1) * 134217728::HUGEINT
       |         + xor(2870177450012600311::HUGEINT, k1) // 137438953472) % 18446744073709551616::HUGEINT // 4294967296)
       |        * 11400714785074694791::HUGEINT % 4294967296) * 4294967296
       |      + ((xor(2870177450012600311::HUGEINT, k1) * 134217728::HUGEINT
       |          + xor(2870177450012600311::HUGEINT, k1) // 137438953472) % 18446744073709551616::HUGEINT % 4294967296)
       |        * 11400714785074694791::HUGEINT
       |      + 9650029242287828579::HUGEINT)
       |     % 18446744073709551616::HUGEINT) AS h0
       |  FROM hx1),
       |hx3 AS (
       |  SELECT $id,
       |    (((xor(h0, h0 // 8589934592) // 4294967296) * 14029467366897019727::HUGEINT % 4294967296) * 4294967296
       |     + (xor(h0, h0 // 8589934592) % 4294967296) * 14029467366897019727::HUGEINT)
       |    % 18446744073709551616::HUGEINT AS h1
       |  FROM hx2),
       |hx4 AS (
       |  SELECT $id,
       |    (((xor(h1, h1 // 536870912) // 4294967296) * 1609587929392839161::HUGEINT % 4294967296) * 4294967296
       |     + (xor(h1, h1 // 536870912) % 4294967296) * 1609587929392839161::HUGEINT)
       |    % 18446744073709551616::HUGEINT AS h2
       |  FROM hx3),
       |hashes AS (
       |  SELECT $id,
       |    CASE WHEN xor(h2, h2 // 4294967296) >= 9223372036854775808::HUGEINT
       |         THEN (xor(h2, h2 // 4294967296) - 18446744073709551616::HUGEINT)::BIGINT
       |         ELSE xor(h2, h2 // 4294967296)::BIGINT END AS h
       |  FROM hx4)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        | round(avg(l_discount), 6) AS avg_disc, count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_s7_count" -> "SELECT count(*) AS n FROM lineitem",
    "q_s5_slice" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE o_orderkey >= 100 AND o_orderkey < 200 ORDER BY o_orderkey""".stripMargin,
    "q_p2_distinct_mentions" ->
      """SELECT DISTINCT lang, source FROM documents
        |WHERE lang IS NOT NULL AND length(trim(text)) > 0 ORDER BY lang, source""".stripMargin,
    "q_p4_nonempty_filter" ->
      """SELECT lang, count(*) AS n_docs FROM documents
        |WHERE length(trim(text)) > 0 GROUP BY lang ORDER BY lang""".stripMargin,
    "q_p7_nan_scrub" ->
      """SELECT CASE WHEN event_type IS NULL OR lower(event_type) IN ('nan','null')
        | THEN NULL ELSE event_type END AS etype, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_j1_result_merge" ->
      """SELECT o.o_orderkey, round(o.o_totalprice, 2) AS total,
        | coalesce(li.sum_qty, 0.0) AS sum_qty, coalesce(li.n_lines, 0) AS n_lines
        |FROM orders o LEFT JOIN (
        |  SELECT l_orderkey, round(sum(l_quantity), 4) AS sum_qty, count(*) AS n_lines
        |  FROM lineitem GROUP BY 1) li ON o.o_orderkey = li.l_orderkey
        |WHERE o.o_orderkey < 2000 ORDER BY o.o_orderkey""".stripMargin,
    "q_j3_cache_split" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_j5_forced_topk" ->
      """SELECT o_custkey, rk, o_orderkey, o_orderpriority FROM (
        |  SELECT o_custkey, o_orderkey, o_orderpriority,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY
        |      CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END ASC,
        |      o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders)
        |WHERE rk <= 3 AND o_custkey < 200 ORDER BY o_custkey, rk""".stripMargin,
    "q_w1_ranking_sort" ->
      """SELECT o_custkey, rk, o_orderkey, price FROM (
        |  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders)
        |WHERE rk <= 5 AND o_custkey < 100 ORDER BY o_custkey, rk""".stripMargin,
    "q_w5_seq" ->
      "SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS seq FROM documents ORDER BY doc_id",
    "q_w6_cursor_page" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_id > 5000 ORDER BY event_id LIMIT 100""".stripMargin,
    "q_w7_job_claim" ->
      """WITH jobs AS (
        |  SELECT 'job-' || lpad(CAST(event_id AS VARCHAR), 6, '0') AS job_id,
        |    CASE WHEN event_id % 3 = 0 THEN 'queued'
        |         WHEN event_id % 3 = 1 THEN 'running' ELSE 'done' END AS status,
        |    (event_id * 7) % 1000 AS created_at
        |  FROM events WHERE event_id <= 200),
        |oldest AS (
        |  SELECT job_id FROM jobs WHERE status = 'queued'
        |  ORDER BY created_at, job_id LIMIT 1)
        |SELECT j.job_id,
        |  CASE WHEN o.job_id IS NOT NULL THEN 'running' ELSE j.status END AS status,
        |  j.created_at,
        |  CASE WHEN o.job_id IS NOT NULL THEN CAST(424242 AS BIGINT) ELSE NULL END AS started_at
        |FROM jobs j LEFT JOIN oldest o ON j.job_id = o.job_id
        |ORDER BY j.job_id""".stripMargin,
    // F16 recomputed symbolically: every rendered string rebuilt with ANSI
    // concat from the same planted null/empty columns — exercises null name
    // -> "None", null desc -> "N.A."/"None", dropped null type names, kept
    // empty type names, desc-or-name fallback, ws normalization
    "q_f16_prompt_render" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang2,
        |    source,
        |    CASE WHEN doc_id % 5 = 0 THEN ''
        |         WHEN doc_id % 11 = 0 THEN NULL
        |         ELSE substr(text, 1, 20) END AS frag
        |  FROM documents)
        |SELECT doc_id,
        |  '<id: Q' || doc_id || '; name: ' || source || '; description: ' ||
        |    coalesce(frag, 'N.A.') || '; types: ' || coalesce(lang2, '') ||
        |    '>,<id: R' || doc_id || '; name: ' || coalesce(lang2, 'None') ||
        |    '; description: N.A.; types: ,' || source || '>' AS angle,
        |  'CANDIDATES (ID | TYPE | DESCRIPTION):' || chr(10) ||
        |    '- Q' || doc_id || ' | ' || coalesce(lang2, 'N.A.') || ' | ' ||
        |    coalesce(nullif(regexp_replace(trim(coalesce(nullif(frag, ''), source)), '\s+', ' ', 'g'), ''), 'N.A.') ||
        |    chr(10) ||
        |    '- R' || doc_id || ' | ' || source || ' | ' ||
        |    coalesce(nullif(regexp_replace(trim(lang2), '\s+', ' ', 'g'), ''), 'N.A.') AS compact,
        |  '<' || source || ' [DESCRIPTION] ' || coalesce(frag, 'None') ||
        |    ' [TYPE] ' || coalesce(lang2, '') ||
        |    '>,<' || coalesce(lang2, 'None') ||
        |    ' [DESCRIPTION] None [TYPE] ,' || source || '>' AS tablellama,
        |  '|lang|source|' || chr(10) || '|' || coalesce(lang2, 'None') || '|' || source || '|' AS table_txt
        |FROM d ORDER BY doc_id""".stripMargin,
    // template rendering / multi-prompt assembly: the vendored template,
    // examples payload and preamble are embedded as SQL literals (no
    // stripMargin — the texts contain '|') and the oracle replays the same
    // literal replaces / ordered string_agg engine-free
    "q_f16_few_shot" ->
      (promptTaskSql +
        s"SELECT task_id, replace(replace(replace(replace(replace(" +
        s"${sqlLit(graft.functions.PromptTemplates.template("few_shot"))}," +
        s"'[EXAMPLES]', ${sqlLit(graft.functions.PromptTemplates.examples)})," +
        "'[TABLE]', tbl), '[ENTITY MENTION]', coalesce(mention, 'None'))," +
        "'[CANDIDATES]', cands)," +
        s"'[ANSWER_FORMAT]', ${sqlLit(promptAnswerFormat)}) AS prompt " +
        "FROM r ORDER BY task_id"),
    "q_f16_multi" ->
      (promptTaskSql +
        ", b AS (SELECT doc_id % 25 AS batch_id, doc_id AS seq," +
        " '### Task' || chr(10) || 'TASK_ID: \"' || task_id || '\"' || chr(10) ||" +
        " 'TABLE_ROW:' || chr(10) || tbl || chr(10) ||" +
        " 'ENTITY_MENTION:' || chr(10) ||" +
        " CASE WHEN mention IS NULL OR mention = '' THEN 'N.A.' ELSE mention END || chr(10) ||" +
        " 'CANDIDATES:' || chr(10) || cands || chr(10) AS block FROM r) " +
        s"SELECT batch_id, ${sqlLit(PromptRender.multiPromptPreamble("angle"))} ||" +
        " string_agg(block, chr(10) ORDER BY seq) || chr(10) ||" +
        s" ${sqlLit(promptAnswerFormat)} AS prompt " +
        "FROM b GROUP BY batch_id ORDER BY batch_id"),
    "q_f3_wsnorm" ->
      """SELECT doc_id, coalesce(nullif(regexp_replace(trim(substr(text, 1, 40)), '\s+', ' ', 'g'), ''), 'N.A.') AS norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_f4_idnorm" ->
      """SELECT doc_id, regexp_extract(regexp_extract('http://kb.org/entity/' || source || ':E' || doc_id,
        | '([^/]*)$', 1), '([^:]*)$', 1) AS norm_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_f6_taskid" ->
      """SELECT doc_id, source || '-' || doc_id || '-' || lang AS task_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_f8_regex_extract" ->
      """SELECT CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_f11_sha_cache_key" ->
      """SELECT doc_id, sha256(source || '|' || text) AS cache_key
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_f14_confidence_band" ->
      """SELECT CASE WHEN least(1.0, greatest(0.0, value / 500.0)) >= 0.70 THEN 'HIGH'
        |  WHEN least(1.0, greatest(0.0, value / 500.0)) >= 0.40 THEN 'MEDIUM'
        |  ELSE 'LOW' END AS band, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_a2_progress_counters" ->
      "SELECT count(DISTINCT user_id) AS processed_rows, count(*) AS processed_cells FROM events",
    "q_a4_dedup_rank" ->
      """SELECT lang, first_doc FROM (
        |  SELECT lang, doc_id AS first_doc,
        |    row_number() OVER (PARTITION BY upper(lang) ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY lang""".stripMargin,
    "q_a5_score_census" ->
      """SELECT event_type,
        | CAST(sum(CASE WHEN value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS numeric_scores,
        | CAST(sum(CASE WHEN value < 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS null_scores
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_a7_pairwise_eval" ->
      """WITH d AS (
        |  SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS url,
        |    concat_ws('|', lang, CAST(floor(n_chars / 50) AS BIGINT)) AS key,
        |    source, floor(n_chars / 10) AS band
        |  FROM documents),
        |m AS (
        |  SELECT
        |   CAST(sum(CASE WHEN a.source = b.source AND a.band = b.band THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |   CAST(sum(CASE WHEN a.source = b.source AND a.band <> b.band THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |   CAST(sum(CASE WHEN a.source <> b.source AND a.band = b.band THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM d a JOIN d b ON a.key = b.key AND a.url < b.url)
        |SELECT tp, fp, fn,
        |  CASE WHEN tp + fp = 0 THEN 1.0 ELSE round(tp / (tp + fp), 6) END AS precision,
        |  CASE WHEN tp + fn = 0 THEN 1.0 ELSE round(tp / (tp + fn), 6) END AS recall,
        |  CASE WHEN tp + fp = 0 AND tp + fn = 0 THEN 1.0 WHEN tp = 0 THEN 0.0
        |    ELSE round(2.0 * tp / (2 * tp + fp + fn), 6) END AS f1
        |FROM m""".stripMargin,
    "q_f_canonical_url" ->
      """WITH urls AS (
        |  SELECT doc_id, unnest([
        |    'http://' || source || '.example.org/p/' || doc_id,
        |    'https://www.' || source || '.example.org/p/' || doc_id,
        |    'http://' || source || '.example.org/p/' || doc_id || '?utm_source=feed&ref=1',
        |    'https://m.' || source || '.example.org/p/' || doc_id || '/'
        |  ]) AS url FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      lower(trim(url)),
        |      '^[a-z][a-z0-9+.-]*://', ''),
        |      '^(www\.|m\.)', ''),
        |      '[?#].*$', ''),
        |      '/+$', '') AS canonical
        |  FROM urls)
        |SELECT doc_id, CAST(count(DISTINCT canonical) AS BIGINT) AS n_canonical,
        |       min(canonical) AS canonical
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_er_blocking_eval" ->
      """WITH keys AS (
        |  SELECT DISTINCT url, key FROM (
        |    SELECT doc_id AS url,
        |           concat_ws('|', 'b', lang, CAST(floor(n_chars / 5) AS BIGINT)) AS key
        |    FROM documents
        |    UNION ALL
        |    SELECT doc_id AS url,
        |           concat_ws('|', 't', array_to_string((string_split(text, ' '))[1:2], ' ')) AS key
        |    FROM documents)),
        |blocks AS (SELECT key, count(*) AS n FROM keys GROUP BY key),
        |cand AS (SELECT CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT) AS candidates FROM blocks),
        |nd AS (SELECT count(DISTINCT url) AS n_docs FROM keys),
        |gold AS (
        |  SELECT a.doc_id AS url_a, b.doc_id AS url_b
        |  FROM documents a JOIN documents b
        |    ON a.lang = b.lang AND floor(a.n_chars / 10) = floor(b.n_chars / 10)
        |   AND a.doc_id < b.doc_id),
        |gc AS (SELECT count(*) AS gold_pairs FROM gold),
        |cov AS (
        |  SELECT count(*) AS covered FROM (
        |    SELECT DISTINCT g.url_a, g.url_b
        |    FROM gold g
        |    JOIN keys ka ON ka.url = g.url_a
        |    JOIN keys kb ON kb.url = g.url_b AND kb.key = ka.key))
        |SELECT n_docs, candidates, gold_pairs, covered,
        |  CASE WHEN n_docs < 2 THEN 1.0
        |       ELSE round(1.0 - candidates::DOUBLE / (n_docs * (n_docs - 1) // 2), 6) END AS reduction_ratio,
        |  CASE WHEN gold_pairs = 0 THEN 1.0
        |       ELSE round(covered::DOUBLE / gold_pairs, 6) END AS pairs_completeness,
        |  CASE WHEN candidates = 0 THEN 1.0
        |       ELSE round(covered::DOUBLE / candidates, 6) END AS pairs_quality
        |FROM cand, nd, gc, cov""".stripMargin,
    // meta-blocking: shared CTE rebuilds keys -> purge -> weighted edges
    // engine-free; WEP threshold is an exact integer-sum mean (cbs), CNP
    // ranks js (small-denominator rationals — identical IEEE doubles).
    "q_er_metablock_wep" ->
      (metablockCte(80, withP = true) +
        """, m AS (SELECT avg(cbs) AS w_mean FROM we)
          |SELECT url_a, url_b, cbs, round(js, 6) AS js
          |FROM we, m WHERE cbs >= w_mean ORDER BY url_a, url_b""".stripMargin),
    "q_er_metablock_cnp" ->
      (metablockCte(60) +
        """, incid AS (
          |  SELECT url_a AS node, url_b AS other, js FROM we
          |  UNION ALL
          |  SELECT url_b AS node, url_a AS other, js FROM we),
          |topk AS (
          |  SELECT least(node, other) AS url_a, greatest(node, other) AS url_b
          |  FROM (SELECT node, other, js,
          |          row_number() OVER (PARTITION BY node ORDER BY js DESC, other ASC) AS rk
          |        FROM incid)
          |  WHERE rk <= 2)
          |SELECT e.url_a, e.url_b, e.cbs, round(e.js, 6) AS js
          |FROM we e
          |WHERE EXISTS (SELECT 1 FROM topk t WHERE t.url_a = e.url_a AND t.url_b = e.url_b)
          |ORDER BY url_a, url_b""".stripMargin),
    "q_er_progressive" ->
      (metablockCte(60) +
        """, rk AS (
          |  SELECT url_a, url_b,
          |         row_number() OVER (ORDER BY js DESC, cbs DESC, url_a, url_b) AS rank
          |  FROM we),
          |gold AS (
          |  SELECT a.doc_id AS url_a, b.doc_id AS url_b
          |  FROM documents a JOIN documents b
          |    ON a.lang = b.lang AND floor(a.n_chars / 10) = floor(b.n_chars / 10)
          |   AND a.doc_id < b.doc_id),
          |gt AS (SELECT greatest(count(*), 1) AS total FROM gold),
          |hits AS (SELECT rk.rank FROM rk JOIN gold g ON g.url_a = rk.url_a AND g.url_b = rk.url_b),
          |budgets(budget) AS (VALUES (100), (500), (2000), (100000))
          |SELECT CAST(b.budget AS BIGINT) AS budget,
          |       CAST((SELECT count(*) FROM hits h WHERE h.rank <= b.budget) AS BIGINT) AS gold_hits,
          |       round((SELECT count(*) FROM hits h WHERE h.rank <= b.budget)::DOUBLE / gt.total, 6) AS recall
          |FROM budgets b, gt ORDER BY budget""".stripMargin),
    "q_er_metablock_filter" ->
      """WITH keys AS (
        |  SELECT DISTINCT url, key FROM (
        |    SELECT doc_id AS url,
        |           concat_ws('|', 'b', lang, CAST(floor(n_chars / 5) AS BIGINT)) AS key
        |    FROM documents
        |    UNION ALL
        |    SELECT doc_id AS url,
        |           concat_ws('|', 't', array_to_string((string_split(text, ' '))[1:2], ' ')) AS key
        |    FROM documents
        |    UNION ALL
        |    SELECT doc_id AS url, concat_ws('|', 'p', CAST(doc_id % 7 AS BIGINT)) AS key
        |    FROM documents)),
        |sizes AS (SELECT key, count(*) AS block_n FROM keys GROUP BY key),
        |kept AS (SELECT k.url, k.key, s.block_n FROM keys k JOIN sizes s ON s.key = k.key
        |         WHERE s.block_n <= 100),
        |rk AS (
        |  SELECT url, key,
        |         row_number() OVER (PARTITION BY url ORDER BY block_n ASC, key ASC) AS rk,
        |         count(*) OVER (PARTITION BY url) AS n_blocks
        |  FROM kept)
        |SELECT url, key FROM rk
        |WHERE rk <= greatest(1, CAST(ceil(0.5::DOUBLE * n_blocks) AS BIGINT))
        |ORDER BY url, key""".stripMargin,
    // the composition flagship replayed engine-free end-to-end: two-family
    // keys -> purge -> weighted edges -> CNP(k=2, js) -> Fellegi-Sunter
    // TF-adjusted weights -> posterior >= 0.8 edges -> transitive closure
    // (recursive CTE) -> min-label clusters with singleton backfill
    "q_er_fs_pipeline" ->
      (metablockCte(60, recursive = true) +
        """, incid AS (
          |  SELECT url_a AS node, url_b AS other, js FROM we
          |  UNION ALL
          |  SELECT url_b AS node, url_a AS other, js FROM we),
          |topk AS (
          |  SELECT least(node, other) AS url_a, greatest(node, other) AS url_b
          |  FROM (SELECT node, other, js,
          |          row_number() OVER (PARTITION BY node ORDER BY js DESC, other ASC) AS rk
          |        FROM incid)
          |  WHERE rk <= 2),
          |pr AS (
          |  SELECT e.url_a AS id_a, e.url_b AS id_b FROM we e
          |  WHERE EXISTS (SELECT 1 FROM topk t WHERE t.url_a = e.url_a AND t.url_b = e.url_b)),
          |dd AS (SELECT doc_id, lang, source, CAST(floor(n_chars / 20) AS BIGINT) AS band
          |       FROM documents),
          |ul AS (SELECT sum(n*n)::DOUBLE / (sum(n)::DOUBLE * sum(n)) AS u
          |       FROM (SELECT count(*) AS n FROM dd WHERE lang IS NOT NULL GROUP BY lang)),
          |us AS (SELECT sum(n*n)::DOUBLE / (sum(n)::DOUBLE * sum(n)) AS u
          |       FROM (SELECT count(*) AS n FROM dd WHERE source IS NOT NULL GROUP BY source)),
          |ub AS (SELECT sum(n*n)::DOUBLE / (sum(n)::DOUBLE * sum(n)) AS u
          |       FROM (SELECT count(*) AS n FROM dd WHERE band IS NOT NULL GROUP BY band)),
          |tl AS (SELECT lang AS v, count(*)::DOUBLE / (SELECT count(*) FROM dd WHERE lang IS NOT NULL) AS u
          |       FROM dd WHERE lang IS NOT NULL GROUP BY lang),
          |ts AS (SELECT source AS v, count(*)::DOUBLE / (SELECT count(*) FROM dd WHERE source IS NOT NULL) AS u
          |       FROM dd WHERE source IS NOT NULL GROUP BY source),
          |tb AS (SELECT band AS v, count(*)::DOUBLE / (SELECT count(*) FROM dd WHERE band IS NOT NULL) AS u
          |       FROM dd WHERE band IS NOT NULL GROUP BY band),
          |wts AS (
          |  SELECT p.id_a, p.id_b,
          |    CASE WHEN a.lang IS NULL OR b.lang IS NULL THEN 0.0
          |         WHEN a.lang = b.lang THEN ln(0.95::DOUBLE / tl.u)
          |         ELSE ln((1.0 - 0.95::DOUBLE) / (1.0 - ul.u)) END AS w_lang,
          |    CASE WHEN a.source IS NULL OR b.source IS NULL THEN 0.0
          |         WHEN a.source = b.source THEN ln(0.6::DOUBLE / ts.u)
          |         ELSE ln((1.0 - 0.6::DOUBLE) / (1.0 - us.u)) END AS w_source,
          |    CASE WHEN a.band IS NULL OR b.band IS NULL THEN 0.0
          |         WHEN a.band = b.band THEN ln(0.85::DOUBLE / tb.u)
          |         ELSE ln((1.0 - 0.85::DOUBLE) / (1.0 - ub.u)) END AS w_band
          |  FROM pr p
          |  JOIN dd a ON a.doc_id = p.id_a
          |  JOIN dd b ON b.doc_id = p.id_b
          |  LEFT JOIN tl ON tl.v = a.lang
          |  LEFT JOIN ts ON ts.v = a.source
          |  LEFT JOIN tb ON tb.v = a.band, ul, us, ub),
          |me AS (
          |  SELECT lpad(CAST(id_a AS VARCHAR), 6, '0') AS src,
          |         lpad(CAST(id_b AS VARCHAR), 6, '0') AS dst
          |  FROM wts
          |  WHERE 1.0 / (1.0 + exp(-(ln(0.3::DOUBLE / (1.0 - 0.3::DOUBLE))
          |        + (w_lang + w_source + w_band)))) >= 0.8),
          |e2 AS (SELECT src, dst FROM me UNION SELECT dst, src FROM me),
          |nodes AS (SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS id FROM documents),
          |reach(src, dst) AS (
          |  SELECT id, id FROM nodes
          |  UNION
          |  SELECT r.src, e2.dst FROM reach r JOIN e2 ON r.dst = e2.src)
          |SELECT src AS url, min(dst) AS cluster_id FROM reach GROUP BY src ORDER BY src""".stripMargin),
    "q_er_cluster_eval" ->
      """WITH d AS (
        |  SELECT doc_id AS url,
        |         array_to_string((string_split(text, ' '))[1:2], ' ') AS cluster_id,
        |         concat_ws('|', lang, CAST(floor(n_chars / 10) AS BIGINT)) AS gold_id
        |  FROM documents),
        |cell AS (SELECT cluster_id, gold_id, count(*) AS n_cg FROM d GROUP BY 1, 2),
        |cs AS (SELECT cluster_id, sum(n_cg) AS n_c FROM cell GROUP BY 1),
        |gs AS (SELECT gold_id, sum(n_cg) AS n_g FROM cell GROUP BY 1),
        |a AS (
        |  SELECT sum(cell.n_cg) AS n,
        |         sum(cell.n_cg * cell.n_cg / cs.n_c) AS p_sum,
        |         sum(cell.n_cg * cell.n_cg / gs.n_g) AS r_sum,
        |         -sum(cell.n_cg * ln(cell.n_cg / cs.n_c)) AS hgc_n,
        |         -sum(cell.n_cg * ln(cell.n_cg / gs.n_g)) AS hcg_n
        |  FROM cell
        |  JOIN cs ON cs.cluster_id = cell.cluster_id
        |  JOIN gs ON gs.gold_id = cell.gold_id),
        |hc AS (SELECT -sum(n_c * ln(n_c)) AS hc_part FROM cs),
        |hg AS (SELECT -sum(n_g * ln(n_g)) AS hg_part FROM gs),
        |m AS (
        |  SELECT CAST(a.n AS BIGINT) AS n_docs,
        |         a.p_sum / a.n AS p, a.r_sum / a.n AS r,
        |         a.hgc_n / a.n AS hgc, a.hcg_n / a.n AS hcg,
        |         (hc.hc_part + a.n * ln(a.n)) / a.n AS hcx,
        |         (hg.hg_part + a.n * ln(a.n)) / a.n AS hgx
        |  FROM a, hc, hg),
        |m2 AS (
        |  SELECT n_docs, p, r,
        |         CASE WHEN p + r = 0.0 THEN 0.0 ELSE 2.0 * p * r / (p + r) END AS f1,
        |         CASE WHEN hgx <= 0.0 THEN 1.0 ELSE 1.0 - hgc / hgx END AS hom,
        |         CASE WHEN hcx <= 0.0 THEN 1.0 ELSE 1.0 - hcg / hcx END AS com
        |  FROM m)
        |SELECT n_docs, round(p, 6) AS b3_precision, round(r, 6) AS b3_recall,
        |       round(f1, 6) AS b3_f1, round(hom, 6) AS homogeneity,
        |       round(com, 6) AS completeness,
        |       round(CASE WHEN hom + com = 0.0 THEN 0.0
        |                  ELSE 2.0 * hom * com / (hom + com) END, 6) AS v_measure
        |FROM m2""".stripMargin,
    "q_er_cluster_ari" ->
      """WITH d AS (
        |  SELECT doc_id AS url,
        |         array_to_string((string_split(text, ' '))[1:2], ' ') AS cluster_id,
        |         concat_ws('|', lang, CAST(floor(n_chars / 10) AS BIGINT)) AS gold_id
        |  FROM documents),
        |cell AS (SELECT cluster_id, gold_id, count(*) AS n_cg FROM d GROUP BY 1, 2),
        |i AS (SELECT CAST(sum(n_cg * (n_cg - 1) // 2) AS BIGINT) AS idx,
        |             CAST(sum(n_cg) AS BIGINT) AS n FROM cell),
        |aa AS (SELECT CAST(sum(n_c * (n_c - 1) // 2) AS BIGINT) AS a
        |       FROM (SELECT sum(n_cg) AS n_c FROM cell GROUP BY cluster_id)),
        |bb AS (SELECT CAST(sum(n_g * (n_g - 1) // 2) AS BIGINT) AS b
        |       FROM (SELECT sum(n_cg) AS n_g FROM cell GROUP BY gold_id)),
        |m AS (SELECT n, n * (n - 1) // 2 AS np, idx::DOUBLE AS i,
        |             a::DOUBLE AS a, b::DOUBLE AS b FROM i, aa, bb)
        |SELECT n AS n_docs,
        |  round(CASE WHEN np = 0 THEN 1.0
        |             WHEN (a + b) / 2.0 - a * b / np::DOUBLE = 0.0 THEN 1.0
        |             ELSE (i - a * b / np::DOUBLE)
        |                  / ((a + b) / 2.0 - a * b / np::DOUBLE) END, 6) AS ari
        |FROM m""".stripMargin,
    "q_er_survivorship" -> {
      """WITH d0 AS (
        |  SELECT doc_id, concat_ws('|', lang, CAST(floor(n_chars / 25) AS BIGINT)) AS cluster,
        |         source, substr(text, 1, 30) AS frag, n_chars
        |  FROM documents),
        |""".stripMargin + xxhash64Cte("doc_id", "documents") + """,
        |d AS (SELECT d0.*, ((h % 97) + 97) % 97 AS ts
        |      FROM d0 JOIN hashes USING (doc_id)),
        |base AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
        |                min(n_chars) AS nc_min, max(n_chars) AS nc_max
        |         FROM d GROUP BY 1),
        |ms AS (SELECT cluster, source FROM (
        |  SELECT cluster, source,
        |         row_number() OVER (PARTITION BY cluster ORDER BY cnt DESC, source ASC) AS rn
        |  FROM (SELECT cluster, source, count(*) AS cnt FROM d
        |        WHERE source IS NOT NULL GROUP BY 1, 2)) WHERE rn = 1),
        |lf AS (SELECT cluster, frag AS frag_long FROM (
        |  SELECT cluster, frag,
        |         row_number() OVER (PARTITION BY cluster ORDER BY length(frag) DESC, frag ASC) AS rn
        |  FROM d WHERE frag IS NOT NULL) WHERE rn = 1),
        |ls AS (SELECT cluster, source AS source_latest FROM (
        |  SELECT cluster, source,
        |         row_number() OVER (PARTITION BY cluster ORDER BY ts DESC, source DESC) AS rn
        |  FROM d WHERE source IS NOT NULL AND ts IS NOT NULL) WHERE rn = 1)
        |SELECT base.cluster, base.n_members, ms.source, lf.frag_long,
        |       ls.source_latest, base.nc_min, base.nc_max
        |FROM base
        |LEFT JOIN ms USING (cluster) LEFT JOIN lf USING (cluster)
        |LEFT JOIN ls USING (cluster)
        |ORDER BY cluster""".stripMargin
    },
    "q_er_fs_levels" ->
      """WITH d AS (
        |  SELECT doc_id, substr(text, 1, 30) AS frag, n_chars,
        |         concat_ws('|', lang, CAST(floor(n_chars / 50) AS BIGINT)) AS key
        |  FROM documents),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.frag AS fa, b.frag AS fb,
        |             a.n_chars AS na, b.n_chars AS nb
        |      FROM d a JOIN d b ON a.key = b.key AND a.doc_id < b.doc_id),
        |g AS (
        |  SELECT id_a, id_b,
        |    CASE WHEN fa IS NULL OR fb IS NULL THEN -1
        |         WHEN fa = fb THEN 2
        |         WHEN substr(fa, 1, 8) = substr(fb, 1, 8) THEN 1
        |         ELSE 0 END AS gamma_frag,
        |    CASE WHEN fa IS NULL OR fb IS NULL THEN 0.0
        |         WHEN fa = fb THEN ln(0.6 / 0.001)
        |         WHEN substr(fa, 1, 8) = substr(fb, 1, 8) THEN ln(0.3 / 0.01)
        |         ELSE ln(0.1 / 0.989) END AS w_frag,
        |    CASE WHEN na IS NULL OR nb IS NULL THEN -1
        |         WHEN abs(na - nb) <= 2 THEN 1 ELSE 0 END AS gamma_n_chars,
        |    CASE WHEN na IS NULL OR nb IS NULL THEN 0.0
        |         WHEN abs(na - nb) <= 2 THEN ln(0.8 / 0.05)
        |         ELSE ln(0.2 / 0.95) END AS w_n_chars
        |  FROM p)
        |SELECT id_a, id_b, gamma_frag, round(w_frag, 6) AS w_frag,
        |       gamma_n_chars, round(w_n_chars, 6) AS w_n_chars,
        |       round(w_frag + w_n_chars, 6) AS match_weight,
        |       round(1.0 / (1.0 + exp(-(ln(0.3 / 0.7) + (w_frag + w_n_chars)))), 6) AS match_p
        |FROM g ORDER BY id_a, id_b""".stripMargin,
    "q_er_fs_score" ->
      (fsWeightsCte +
        """
          |SELECT id_a, id_b, round(w_lang, 6) AS w_lang, round(w_source, 6) AS w_source,
          |  round(w_band, 6) AS w_band,
          |  round(w_lang + w_source + w_band, 6) AS match_weight,
          |  round(1.0 / (1.0 + exp(-(ln(0.3::DOUBLE / (1.0 - 0.3::DOUBLE))
          |    + (w_lang + w_source + w_band)))), 6) AS match_p
          |FROM w ORDER BY id_a, id_b""".stripMargin),
    // waterfall: same weight CTEs as q_er_fs_score, unpivoted to one row
    // per evidence step with the left-assoc cumulative fold and sigmoid
    "q_er_fs_explain" ->
      (fsWeightsCte +
        """,
        |steps AS (
        |  SELECT id_a, id_b, 0 AS step, 'prior' AS field, 0.0 AS weight, 0.0 AS cum FROM w
        |  UNION ALL SELECT id_a, id_b, 1, 'lang', w_lang, w_lang FROM w
        |  UNION ALL SELECT id_a, id_b, 2, 'source', w_source, w_lang + w_source FROM w
        |  UNION ALL SELECT id_a, id_b, 3, 'band', w_band, w_lang + w_source + w_band FROM w)
        |SELECT id_a, id_b, CAST(step AS BIGINT) AS step, field,
        |  round(weight, 6) AS weight, round(cum, 6) AS cum_weight,
        |  round(1.0 / (1.0 + exp(-(ln(0.3::DOUBLE / (1.0 - 0.3::DOUBLE)) + cum))), 6) AS cum_p
        |FROM steps ORDER BY id_a, id_b, step""".stripMargin),
    // dyadic-grid scores (k/16) make every sum exact in any order, so the
    // doubles ship unrounded; positives CAST (DuckDB sum -> HUGEINT trap)
    "q_eval_reliability" ->
      """WITH s AS (
        |  SELECT ((doc_id * 7) % 17) / 16.0 AS p,
        |         ((doc_id * 5) % 16) < ((doc_id * 7) % 17) AS y
        |  FROM documents),
        |b AS (
        |  SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin, count(*) AS n,
        |         sum(p) AS sum_p,
        |         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS positives
        |  FROM s GROUP BY 1)
        |SELECT bin, n, sum_p, positives, sum_p / n AS mean_p,
        |       positives::DOUBLE / n AS frac_pos,
        |       abs(positives::DOUBLE / n - sum_p / n) AS abs_gap
        |FROM b ORDER BY bin""".stripMargin,
    "q_eval_calibration" ->
      """WITH s AS (
        |  SELECT ((doc_id * 7) % 17) / 16.0 AS p,
        |         ((doc_id * 5) % 16) < ((doc_id * 7) % 17) AS y
        |  FROM documents),
        |b AS (
        |  SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin, count(*) AS n,
        |         sum(p) AS sum_p,
        |         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |         sum((p - CASE WHEN y THEN 1.0 ELSE 0.0 END)
        |             * (p - CASE WHEN y THEN 1.0 ELSE 0.0 END)) AS sq
        |  FROM s GROUP BY 1)
        |SELECT CAST(sum(n) AS BIGINT) AS n, sum(sq) / sum(n) AS brier,
        |       sum(abs(pos::DOUBLE - sum_p)) / sum(n) AS ece,
        |       max(abs(pos::DOUBLE / n - sum_p / n)) AS mce
        |FROM b""".stripMargin,
    // lev-ratio scores are exact rationals -> floor(score*100) buckets are
    // bit-identical; cumulative sums replayed over the bounded bucket frame
    "q_er_pr_curve" ->
      """WITH p AS (
        |  SELECT CASE WHEN greatest(length(substr(a.text,1,40)), length(substr(b.text,1,40))) = 0
        |              THEN 1.0
        |              ELSE 1.0 - levenshtein(substr(a.text,1,40), substr(b.text,1,40))::DOUBLE /
        |                greatest(length(substr(a.text,1,40)), length(substr(b.text,1,40))) END AS score,
        |         coalesce(a.lang = b.lang, false) AS label
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
        |pb AS (
        |  SELECT CAST(floor(score * 100) AS BIGINT) AS thr_bucket,
        |         sum(CASE WHEN label THEN 1 ELSE 0 END) AS pos, count(*) AS n
        |  FROM p WHERE score IS NOT NULL GROUP BY 1),
        |c AS (
        |  SELECT thr_bucket,
        |    sum(pos) OVER (ORDER BY thr_bucket DESC) AS tp,
        |    sum(n - pos) OVER (ORDER BY thr_bucket DESC) AS fp,
        |    sum(pos) OVER () AS total_pos
        |  FROM pb)
        |SELECT thr_bucket, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  CAST(total_pos - tp AS BIGINT) AS fn,
        |  round(tp::DOUBLE / greatest(tp + fp, 1), 6) AS precision,
        |  round(tp::DOUBLE / greatest(total_pos, 1), 6) AS recall,
        |  round(2.0 * tp::DOUBLE / greatest(2 * tp + fp + (total_pos - tp), 1), 6) AS f1
        |FROM c ORDER BY thr_bucket DESC""".stripMargin,
    // the uncertainty rank key |p - 0.5| is an exact-rational-derived double
    // (identical IEEE ops both sides); ids break the plateau ties
    "q_er_active" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source, CAST(floor(n_chars / 20) AS BIGINT) AS band,
        |         concat_ws('|', lang, CAST(floor(n_chars / 50) AS BIGINT)) AS key
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    ((CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END) +
        |     (CASE WHEN a.source = b.source THEN 1 ELSE 0 END) +
        |     (CASE WHEN a.band = b.band THEN 1 ELSE 0 END))::DOUBLE / 3.0 AS p
        |  FROM d a JOIN d b ON a.key = b.key AND a.doc_id < b.doc_id),
        |r AS (
        |  SELECT id_a, id_b, p, abs(p - 0.5) AS u,
        |    row_number() OVER (ORDER BY abs(p - 0.5) ASC, id_a ASC, id_b ASC) AS rk
        |  FROM p)
        |SELECT id_a, id_b, round(p, 6) AS p, round(u, 6) AS uncertainty
        |FROM r WHERE rk <= 200 ORDER BY id_a, id_b""".stripMargin,
    "q_er_block_pairs" ->
      """SELECT key, count(*) AS n_pairs FROM (
        |  SELECT a.key
        |  FROM (SELECT doc_id, concat_ws('|', lang, CAST(floor(n_chars / 50) AS BIGINT)) AS key FROM documents) a
        |  JOIN (SELECT doc_id, concat_ws('|', lang, CAST(floor(n_chars / 50) AS BIGINT)) AS key FROM documents) b
        |    ON a.key = b.key AND a.doc_id < b.doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // census arithmetic replayed in integer math; (n desc, key) order pins
    // the top-15 cut deterministically in both engines
    "q_er_skew_census" ->
      """WITH d AS (SELECT doc_id AS url, lang, n_chars FROM documents),
        |keys AS (
        |  SELECT url, concat_ws('|', 'b', lang, CAST(floor(n_chars / 5) AS BIGINT)) AS key FROM d
        |  UNION ALL
        |  SELECT url, concat_ws('|', 'l', lang) AS key FROM d),
        |g AS (SELECT key, CAST(count(*) AS BIGINT) AS n FROM keys GROUP BY key),
        |c AS (
        |  SELECT key, n,
        |    CAST(n * (n - 1) // 2 AS BIGINT) AS raw_pairs,
        |    CAST(CASE WHEN n > 6 THEN ceil(n / 6.0) ELSE 1 END AS BIGINT) AS b
        |  FROM g)
        |SELECT key, n, raw_pairs, b AS n_buckets,
        |  CAST((n % b) * (((n // b) + 1) * (n // b) // 2)
        |     + (b - (n % b)) * ((n // b) * ((n // b) - 1) // 2) AS BIGINT) AS capped_pairs
        |FROM c ORDER BY n DESC, key LIMIT 15""".stripMargin,
    // the streamed first-seen-wins snapshot recomputed engine-free: one
    // micro-batch => canonical per key is the global argmin(ts, url)
    "q_stream_dedup" ->
      """WITH k AS (
        |  SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS url,
        |         array_to_string((string_split(text, ' '))[1:5], ' ') AS key,
        |         1700000000 + doc_id % 7 AS ts
        |  FROM documents),
        |c AS (SELECT key, list(url ORDER BY ts, url)[1] AS canonical FROM k GROUP BY key)
        |SELECT k.url, k.key, c.canonical, (k.url = c.canonical) AS is_first
        |FROM k JOIN c ON c.key = k.key ORDER BY k.url""".stripMargin,
    // linkage preserves the input row set, and the W5 finalize orders by
    // url — so the stamped seq over ANY committed store is exactly the
    // dense row_number over the streamed-in urls, engine-free
    "q_stream_link_finalize" ->
      """WITH u AS (
        |  SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS url
        |  FROM documents WHERE doc_id < 150)
        |SELECT url, CAST(row_number() OVER (ORDER BY url) AS BIGINT) AS seq
        |FROM u ORDER BY url""".stripMargin,
    // T2 is an equality rule -> its graph is a union of cliques -> the
    // greedy rank-order MIS the engine peels out is per-group argmin
    // (xxhash64, id); membership = T1 edges into the center set + self +
    // uncovered backfill. xxhash64 re-derived in HUGEINT arithmetic.
    "q_er_canopy" ->
      s"""WITH d AS (SELECT doc_id AS id, lang, n_chars FROM documents),
         |ids AS (SELECT id FROM d),
         |${xxhash64Cte("id", "ids")},
         |grp AS (SELECT d.id, d.lang, d.n_chars, hh.h FROM d JOIN hashes hh ON hh.id = d.id),
         |ctr AS (
         |  SELECT id FROM (
         |    SELECT id, row_number() OVER (PARTITION BY lang, n_chars ORDER BY h, id) AS rn
         |    FROM grp) WHERE rn = 1),
         |t1 AS (
         |  SELECT a.id AS a, b.id AS b FROM d a JOIN d b
         |  ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 1 AND a.id <> b.id),
         |mem AS (
         |  SELECT id, id AS canopy FROM ctr
         |  UNION
         |  SELECT t1.a AS id, t1.b AS canopy FROM t1 JOIN ctr ON ctr.id = t1.b),
         |unc AS (
         |  SELECT id, id AS canopy FROM ids
         |  WHERE NOT EXISTS (SELECT 1 FROM mem m WHERE m.id = ids.id))
         |SELECT id, canopy FROM (SELECT * FROM mem UNION ALL SELECT * FROM unc)
         |ORDER BY id, canopy""".stripMargin,
    // brute-force all-pairs Jaccard — an EQUALITY oracle for the prefix-
    // filtered join (prefix filtering is lossless by the pigeonhole bound)
    "q_er_ppjoin" ->
      """WITH tk AS (
        |  SELECT doc_id, (string_split(text, ' '))[1:15] AS t FROM documents),
        |d AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS toks
        |  FROM tk WHERE len(t) >= 3),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.toks, b.toks))::DOUBLE /
        |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(jaccard, 6) AS jaccard
        |FROM p WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin,
    "q_er_exact_dedup" ->
      """SELECT dup_key, count(*) AS n, min(doc_id) AS canonical FROM (
        |  SELECT doc_id, array_to_string((string_split(text, ' '))[1:5], ' ') AS dup_key FROM documents)
        |GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin,
    "q_er_lev_score" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(levenshtein(substr(a.text,1,60), substr(b.text,1,60)) AS BIGINT) AS lev,
        | round(1.0 - levenshtein(substr(a.text,1,60), substr(b.text,1,60))::DOUBLE /
        |   greatest(length(substr(a.text,1,60)), length(substr(b.text,1,60))), 6) AS lev_ratio
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1 ORDER BY id_a""".stripMargin,
    "q_er_suffix_block" ->
      """WITH tok AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS url,
        |         coalesce(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                              x -> length(x) > 0)[1], '') AS t0
        |  FROM documents),
        |s AS (
        |  SELECT url,
        |    unnest(list_transform(range(1, least(length(t0) - 5, 4) + 1),
        |                          i -> 'x:' || substr(t0, i, length(t0)))) AS key
        |  FROM tok WHERE length(t0) >= 6)
        |SELECT url, key FROM s ORDER BY url, key""".stripMargin,
    "q_er_dl_score" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 40) AS frag FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(damerau_levenshtein(a.frag, b.frag) AS BIGINT) AS dl,
        |  CAST(levenshtein(a.frag, b.frag) AS BIGINT) AS lev,
        |  CAST(damerau_levenshtein(a.frag,
        |    substr(a.frag, 2, 1) || substr(a.frag, 1, 1) || substr(a.frag, 3)) AS BIGINT) AS dl_swap
        |FROM d a JOIN d b ON b.doc_id = a.doc_id + 1 ORDER BY id_a""".stripMargin,
    "q_er_cc" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS id, lang, n_chars FROM documents),
        |e AS (
        |  SELECT a.id AS src, b.id AS dst FROM nodes a JOIN nodes b
        |  ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 1 AND a.id <> b.id),
        |reach(src, dst) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
        |SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src ORDER BY src""".stripMargin,
    // every peeling round replayed engine-free (see ccPivotOracle)
    "q_er_ccpivot" -> ccPivotOracle(25),
    // the whole pipeline recomputed engine-free: blocking-key union ->
    // per-block salting (pmod(xxhash64(url), ceil(n/cap)) sub-buckets, the
    // production Blocker.saltOversized formula — Spark's xxhash64(bigint) is
    // re-derived in HUGEINT arithmetic, same chain as q_ann_ivf) ->
    // oriented+deduped candidate pairs -> lev-ratio scoring -> threshold ->
    // transitive closure (recursive CTE) -> singleton backfill -> dense seq.
    // concat_ws (NULL-skipping) on BOTH sides so a null lang/n_chars/text
    // puts a doc in the same degenerate block in engine and oracle alike.
    "q_er_pipeline_sym" ->
      """WITH RECURSIVE pages AS (
        |  SELECT doc_id AS url, substr(text, 1, 60) AS text,
        |         lang, n_chars FROM documents),
        |keys AS (
        |  SELECT url, concat_ws('|', 'b', lang, CAST(floor(n_chars / 5) AS BIGINT)) AS key FROM pages
        |  UNION ALL
        |  SELECT url, concat_ws('|', 't', array_to_string((string_split(text, ' '))[1:2], ' ')) AS key FROM pages),
        |hx0 AS (
        |  SELECT url,
        |    ((((url::HUGEINT // 4294967296) * 14029467366897019727::HUGEINT % 4294967296) * 4294967296
        |      + (url::HUGEINT % 4294967296) * 14029467366897019727::HUGEINT)
        |     % 18446744073709551616::HUGEINT) AS lp2
        |  FROM pages),
        |hx1 AS (
        |  SELECT url,
        |    ((((((lp2 * 2147483648::HUGEINT + lp2 // 8589934592) % 18446744073709551616::HUGEINT) // 4294967296)
        |        * 11400714785074694791::HUGEINT % 4294967296) * 4294967296
        |      + (((lp2 * 2147483648::HUGEINT + lp2 // 8589934592) % 18446744073709551616::HUGEINT) % 4294967296)
        |        * 11400714785074694791::HUGEINT)
        |     % 18446744073709551616::HUGEINT) AS k1
        |  FROM hx0),
        |hx2 AS (
        |  SELECT url,
        |    (((((xor(2870177450012600311::HUGEINT, k1) * 134217728::HUGEINT
        |         + xor(2870177450012600311::HUGEINT, k1) // 137438953472) % 18446744073709551616::HUGEINT // 4294967296)
        |        * 11400714785074694791::HUGEINT % 4294967296) * 4294967296
        |      + ((xor(2870177450012600311::HUGEINT, k1) * 134217728::HUGEINT
        |          + xor(2870177450012600311::HUGEINT, k1) // 137438953472) % 18446744073709551616::HUGEINT % 4294967296)
        |        * 11400714785074694791::HUGEINT
        |      + 9650029242287828579::HUGEINT)
        |     % 18446744073709551616::HUGEINT) AS h0
        |  FROM hx1),
        |hx3 AS (
        |  SELECT url,
        |    (((xor(h0, h0 // 8589934592) // 4294967296) * 14029467366897019727::HUGEINT % 4294967296) * 4294967296
        |     + (xor(h0, h0 // 8589934592) % 4294967296) * 14029467366897019727::HUGEINT)
        |    % 18446744073709551616::HUGEINT AS h1
        |  FROM hx2),
        |hx4 AS (
        |  SELECT url,
        |    (((xor(h1, h1 // 536870912) // 4294967296) * 1609587929392839161::HUGEINT % 4294967296) * 4294967296
        |     + (xor(h1, h1 // 536870912) % 4294967296) * 1609587929392839161::HUGEINT)
        |    % 18446744073709551616::HUGEINT AS h2
        |  FROM hx3),
        |hashes AS (
        |  SELECT url,
        |    CASE WHEN xor(h2, h2 // 4294967296) >= 9223372036854775808::HUGEINT
        |         THEN (xor(h2, h2 // 4294967296) - 18446744073709551616::HUGEINT)::BIGINT
        |         ELSE xor(h2, h2 // 4294967296)::BIGINT END AS h
        |  FROM hx4),
        |blocks AS (SELECT key, count(*) AS bn FROM keys GROUP BY key),
        |skeys AS (
        |  SELECT k.url,
        |    CASE WHEN b.bn > 4 THEN
        |      k.key || '#s#' ||
        |      CAST(((h.h % CAST(ceil(b.bn / 4.0) AS BIGINT)) + CAST(ceil(b.bn / 4.0) AS BIGINT))
        |           % CAST(ceil(b.bn / 4.0) AS BIGINT) AS VARCHAR)
        |    ELSE k.key END AS key
        |  FROM keys k JOIN blocks b ON b.key = k.key JOIN hashes h ON h.url = k.url),
        |pairs AS (
        |  SELECT DISTINCT a.url AS url_a, b.url AS url_b
        |  FROM skeys a JOIN skeys b ON a.key = b.key AND a.url < b.url),
        |accepted AS (
        |  SELECT url_a, url_b FROM pairs
        |  JOIN pages pa ON pa.url = url_a JOIN pages pb ON pb.url = url_b
        |  WHERE (CASE WHEN greatest(length(pa.text), length(pb.text)) = 0 THEN 1.0
        |         ELSE 1.0 - levenshtein(pa.text, pb.text)::DOUBLE /
        |              greatest(length(pa.text), length(pb.text)) END) >= 0.4),
        |e AS (
        |  SELECT url_a AS src, url_b AS dst FROM accepted
        |  UNION ALL SELECT url_b, url_a FROM accepted),
        |reach(src, dst) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        |assign AS (SELECT src AS url, min(dst) AS cluster_id FROM reach GROUP BY src)
        |SELECT p.url, coalesce(a.cluster_id, p.url) AS cluster_id,
        |       CASE WHEN a.cluster_id IS NOT NULL THEN 'linked' ELSE 'nil' END AS status,
        |       row_number() OVER (ORDER BY p.url) AS seq
        |FROM pages p LEFT JOIN assign a ON a.url = p.url
        |ORDER BY p.url""".stripMargin,
    "q_er_sorted_neighborhood" ->
      """WITH ranked AS (
        |  SELECT doc_id AS url,
        |         row_number() OVER (ORDER BY
        |           substr(text, 1, 20) NULLS FIRST, CAST(doc_id AS VARCHAR)) AS rk
        |  FROM documents)
        |SELECT least(a.url, b.url) AS urlA, greatest(a.url, b.url) AS urlB
        |FROM ranked a JOIN ranked b ON b.rk > a.rk AND b.rk <= a.rk + 3
        |ORDER BY urlA, urlB""".stripMargin,
    // The oracle for the INCREMENTAL path is the FULL-UNION closure: under
    // the contract's conditions (per-doc keys, salt-free cap, corpus-
    // independent lev-ratio scorer) incremental == rerun EXACTLY, so
    // recomputing the union run engine-free checks the equivalence theorem
    // itself — not a replay of the incremental steps.
    "q_inc_link" ->
      """WITH RECURSIVE pages AS (
        |  SELECT doc_id AS url, substr(text, 1, 60) AS text,
        |         lang, n_chars FROM documents),
        |keys AS (
        |  SELECT url, concat_ws('|', 'b', lang, CAST(floor(n_chars / 5) AS BIGINT)) AS key FROM pages
        |  UNION ALL
        |  SELECT url, concat_ws('|', 't', array_to_string((string_split(text, ' '))[1:2], ' ')) AS key FROM pages),
        |pairs AS (
        |  SELECT DISTINCT a.url AS url_a, b.url AS url_b
        |  FROM keys a JOIN keys b ON a.key = b.key AND a.url < b.url),
        |accepted AS (
        |  SELECT url_a, url_b FROM pairs
        |  JOIN pages pa ON pa.url = url_a JOIN pages pb ON pb.url = url_b
        |  WHERE (CASE WHEN greatest(length(pa.text), length(pb.text)) = 0 THEN 1.0
        |         ELSE 1.0 - levenshtein(pa.text, pb.text)::DOUBLE /
        |              greatest(length(pa.text), length(pb.text)) END) >= 0.4),
        |e AS (
        |  SELECT url_a AS src, url_b AS dst FROM accepted
        |  UNION ALL SELECT url_b, url_a FROM accepted),
        |reach(src, dst) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        |assign AS (SELECT src AS url, min(dst) AS cluster_id FROM reach GROUP BY src)
        |SELECT p.url, coalesce(a.cluster_id, p.url) AS cluster_id,
        |       CASE WHEN a.cluster_id IS NOT NULL THEN 'linked' ELSE 'nil' END AS status,
        |       row_number() OVER (ORDER BY p.url) AS seq
        |FROM pages p LEFT JOIN assign a ON a.url = p.url
        |ORDER BY p.url""".stripMargin,
    // decremental theorem check: the oracle is a FULL rerun closure over
    // the reduced corpus (doc_id % 5 <> 0); the lev kernel runs on the
    // ws-normalized 120-char cap exactly as PairScorer.features computes it
    "q_inc_unlink" ->
      """WITH RECURSIVE pages AS (
        |  SELECT doc_id AS url, substr(text, 1, 60) AS text,
        |         substr(regexp_replace(trim(substr(text, 1, 60)), '\s+', ' ', 'g'), 1, 120) AS cap,
        |         lang, n_chars
        |  FROM documents WHERE doc_id % 5 <> 0),
        |keys AS (
        |  SELECT url, concat_ws('|', 'b', lang, CAST(floor(n_chars / 5) AS BIGINT)) AS key FROM pages
        |  UNION ALL
        |  SELECT url, concat_ws('|', 't', array_to_string((string_split(text, ' '))[1:2], ' ')) AS key FROM pages),
        |pairs AS (
        |  SELECT DISTINCT a.url AS url_a, b.url AS url_b
        |  FROM keys a JOIN keys b ON a.key = b.key AND a.url < b.url),
        |accepted AS (
        |  SELECT url_a, url_b FROM pairs
        |  JOIN pages pa ON pa.url = url_a JOIN pages pb ON pb.url = url_b
        |  WHERE (CASE WHEN greatest(length(pa.cap), length(pb.cap)) = 0 THEN 1.0
        |         ELSE 1.0 - levenshtein(pa.cap, pb.cap)::DOUBLE /
        |              greatest(length(pa.cap), length(pb.cap)) END) >= 0.4),
        |e AS (
        |  SELECT url_a AS src, url_b AS dst FROM accepted
        |  UNION ALL SELECT url_b, url_a FROM accepted),
        |reach(src, dst) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        |assign AS (SELECT src AS url, min(dst) AS cluster_id FROM reach GROUP BY src)
        |SELECT p.url, coalesce(a.cluster_id, p.url) AS cluster_id,
        |       CASE WHEN a.cluster_id IS NOT NULL THEN 'linked' ELSE 'nil' END AS status,
        |       row_number() OVER (ORDER BY p.url) AS seq
        |FROM pages p LEFT JOIN assign a ON a.url = p.url
        |ORDER BY p.url""".stripMargin,
    // exact all-pairs recompute of the LSH-bucketed Spark plan: the planted
    // perturbed copies are the only pairs above 0.95 (max natural pair
    // ~0.51), and identical-up-to-epsilon vectors always share LSH buckets,
    // so approximate == exact here BY CONSTRUCTION — the symbolic oracle
    // stays an independent check
    "q_dd_embedding_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    list_concat([embedding[1]::DOUBLE * 1.05], (embedding::DOUBLE[])[2:])
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM e a JOIN e b
        |ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) > 0.95
        |ORDER BY id_a, id_b""".stripMargin,
    // fully symbolic (see the query comment): the only cos >= 0.9 pairs are
    // the planted exact copies, each sharing its original's k-means cell
    // with certainty, so resolve keeps the original (min id, equal lengths)
    "q_dd_semdedup" ->
      """SELECT vec_id, cluster_id, canonical, keep FROM (
        |  SELECT vec_id, vec_id AS cluster_id, vec_id AS canonical, true AS keep FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, vec_id, vec_id, false FROM embeddings WHERE vec_id < 30)
        |ORDER BY vec_id""".stripMargin,
    "q_dd_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |   len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 ORDER BY id_a""".stripMargin,
    "q_dd_line_dedup" ->
      """WITH lined AS (
        |  SELECT doc_id,
        |    list_transform(range(CAST(ceil(len(string_split(text, ' ')) / 10.0) AS BIGINT)),
        |      i -> array_to_string(list_slice(string_split(text, ' '), i*10 + 1, i*10 + 10), ' ')) AS lines
        |  FROM documents),
        |expl AS (
        |  SELECT doc_id, unnest(lines) AS line, unnest(range(1, len(lines) + 1)) AS ord FROM lined),
        |freq AS (
        |  SELECT line FROM (SELECT DISTINCT line, doc_id FROM expl) GROUP BY line HAVING count(*) <= 1),
        |kept AS (SELECT e.doc_id, e.ord, e.line FROM expl e JOIN freq f USING (line))
        |SELECT l.doc_id, coalesce(string_agg(k.line, ' ' ORDER BY k.ord), '') AS text_clean
        |FROM lined l LEFT JOIN kept k USING (doc_id) GROUP BY l.doc_id ORDER BY doc_id""".stripMargin,
    "q_corpus_build" ->
      s"""WITH src AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 0
         |      THEN 'this fixed boilerplate sentence repeats across many pages and contains exactly thirty distinct common words so the quality gate accepts every copy while exact dedup must collapse them to one'
         |      ELSE text END AS raw
         |  FROM documents),
         |pages AS (
         |  SELECT doc_id,
         |    trim(regexp_replace(regexp_replace(
         |      '<body><p>' || raw || '</p></body>',
         |      '(?s)<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')) AS text
         |  FROM src),
         |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM pages),
         |g AS (
         |  SELECT doc_id, len(toks) AS n,
         |    round(len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1), 6) AS distinct_ratio,
         |    greatest(len(toks) - 1, 0) AS n_bi, greatest(len(toks) - 2, 0) AS n_tri,
         |    list_transform(range(1, greatest(len(toks), 1)),
         |      i -> toks[i] || chr(31) || toks[i+1]) AS bis,
         |    list_transform(range(1, greatest(len(toks) - 1, 1)),
         |      i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2]) AS tris
         |  FROM t),
         |bc AS (
         |  SELECT doc_id, gram, count(*) AS c
         |  FROM (SELECT doc_id, unnest(bis) AS gram FROM g) GROUP BY 1, 2),
         |btop AS (SELECT doc_id, max(c) AS top FROM bc GROUP BY 1),
         |tc AS (
         |  SELECT doc_id, gram, count(*) AS c
         |  FROM (SELECT doc_id, unnest(tris) AS gram FROM g) GROUP BY 1, 2),
         |tdup AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup FROM tc GROUP BY 1),
         |m AS (
         |  SELECT g.doc_id, g.n AS n_tokens, g.distinct_ratio,
         |    round(coalesce(btop.top, 0)::DOUBLE / greatest(g.n_bi, 1), 6) AS top_bigram_frac,
         |    round(coalesce(tdup.dup, 0)::DOUBLE / greatest(g.n_tri, 1), 6) AS dup_trigram_frac
         |  FROM g LEFT JOIN btop ON btop.doc_id = g.doc_id LEFT JOIN tdup ON tdup.doc_id = g.doc_id),
         |keepers AS (
         |  SELECT doc_id FROM m
         |  WHERE n_tokens >= 30 AND n_tokens <= 200 AND distinct_ratio >= 0.3
         |    AND top_bigram_frac <= 0.1 AND dup_trigram_frac <= 0.2),
         |gated AS (SELECT p.doc_id, p.text FROM pages p JOIN keepers USING (doc_id)),
         |ded AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY text) AS canon FROM gated)
         |  WHERE doc_id = canon),
         |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM ded),
         |words AS (
         |  SELECT doc_id, u.i - 1 AS idx, w[u.i] AS word
         |  FROM w, unnest(generate_series(1, len(w))) AS u(i)),
         |wins AS (
         |  SELECT doc_id, u.o AS off, array_to_string(w[u.o + 1 : u.o + 8], ' ') AS win
         |  FROM w, unnest(generate_series(0, len(w) - 8)) AS u(o)),
         |dup AS (SELECT win FROM wins GROUP BY win HAVING count(*) >= 2),
         |removed AS (
         |  SELECT DISTINCT wins.doc_id, wins.off + u.s AS idx
         |  FROM wins JOIN dup USING (win), unnest(generate_series(0, 7)) AS u(s)),
         |kept AS (
         |  SELECT wd.doc_id, wd.idx, wd.word FROM words wd
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM removed r WHERE r.doc_id = wd.doc_id AND r.idx = wd.idx)),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |         string_agg(word, ' ' ORDER BY idx) AS text_clean
         |  FROM kept GROUP BY doc_id),
         |clean AS (
         |  SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_words,
         |    CAST(len(w.w) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
         |    coalesce(a.text_clean, '') AS text_clean
         |  FROM w LEFT JOIN agg a USING (doc_id)),
         |ids AS (SELECT doc_id AS id FROM clean),
         |${xxhash64Cte("id", "ids")},
         |b AS (SELECT id, ((h % 10000) + 10000) % 10000 AS bucket FROM hashes)
         |SELECT c.doc_id,
         |  CASE WHEN b.bucket < 8000 THEN 'train'
         |       WHEN b.bucket < 9000 THEN 'valid'
         |       ELSE 'test' END AS split,
         |  c.n_words, c.n_removed, sha256(c.text_clean) AS sha
         |FROM clean c JOIN b ON b.id = c.doc_id ORDER BY c.doc_id""".stripMargin,
    // replay: token count -> xxhash64(doc_id) order (id tie-break) ->
    // running token sum -> 2048-token pack cuts. The window sum is HUGEINT
    // in DuckDB -> CAST; `//` on non-negative BIGINTs == Spark's `div`.
    "q_cur_dsir_weights" ->
      (dsirCte +
        """SELECT doc_id, n_tok, round(lp_target, 6) AS lp_target,
          |       round(lp_raw, 6) AS lp_raw, round(logw, 6) AS logw
          |FROM w ORDER BY doc_id""".stripMargin),
    "q_cur_dsir_sample" ->
      (dsirCte +
        s""", ids AS (SELECT doc_id, doc_id + 7 AS id FROM documents),
           |${xxhash64Cte("id", "ids")},
           |g AS (
           |  SELECT i.doc_id,
           |    -ln(-ln((((CASE WHEN hh.h < 0
           |                    THEN hh.h::HUGEINT + 18446744073709551616::HUGEINT
           |                    ELSE hh.h::HUGEINT END) // 2048)::DOUBLE + 0.5)
           |             / 9007199254740992.0)) AS gum
           |  FROM hashes hh JOIN ids i ON i.id = hh.id),
           |k AS (
           |  SELECT w.doc_id, w.logw, w.logw + g.gum AS gumbel_key,
           |         row_number() OVER (ORDER BY (w.logw + g.gum) DESC, w.doc_id ASC) AS rk
           |  FROM w JOIN g ON g.doc_id = w.doc_id)
           |SELECT doc_id, round(logw, 6) AS logw, round(gumbel_key, 6) AS gumbel_key
           |FROM k WHERE rk <= 50 ORDER BY doc_id""".stripMargin),
    "q_cur_c4_filters" ->
      """WITH lined AS (
        |  SELECT doc_id,
        |    list_transform(range(CAST(ceil(len(string_split(text, ' ')) / 10.0) AS BIGINT)),
        |      i -> (
        |        CASE WHEN i % 3 = 0
        |               THEN array_to_string(list_slice(string_split(text, ' '), i*10 + 1, i*10 + 10), ' ') || '.'
        |             WHEN i % 7 = 0
        |               THEN array_to_string(list_slice(string_split(text, ' '), i*10 + 1, i*10 + 10), ' ') || ' javascript'
        |             WHEN i % 11 = 0
        |               THEN array_to_string(list_slice(string_split(text, ' '), i*10 + 1, i*10 + 10), ' ') || ' lorem ipsum.'
        |             ELSE array_to_string(list_slice(string_split(text, ' '), i*10 + 1, i*10 + 10), ' ')
        |        END)) AS lines
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    len(lines) AS n_lines,
        |    list_filter(lines, l ->
        |      substr(trim(l), length(trim(l)), 1) IN ('.', '!', '?', '"')
        |      AND len(list_filter(regexp_split_to_array(trim(l), '\s+'), w -> length(w) > 0)) >= 5
        |      AND NOT contains(lower(l), 'javascript')) AS kept,
        |    len(list_filter(lines, l -> contains(lower(l), 'lorem ipsum'))) > 0
        |      OR len(list_filter(lines, l -> contains(lower(l), '{'))) > 0 AS blocked
        |  FROM lined)
        |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        |       CAST(len(kept) AS BIGINT) AS n_kept,
        |       array_to_string(kept, ' ') AS text_clean,
        |       (len(kept) >= 3 AND NOT blocked) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "q_cur_kl_drift" ->
      (dsirCte +
        """, obs AS (
          |  SELECT (coalesce(mt.c, 0) + 1.0) / (tt.total + 4096.0) AS pt,
          |         (coalesce(mr.c, 0) + 1.0) / (tr.total + 4096.0) AS pr
          |  FROM mt FULL OUTER JOIN mr ON mr.b = mt.b, tt, tr),
          |ag AS (
          |  SELECT CAST(count(*) AS BIGINT) AS observed,
          |         coalesce(sum(pt * ln(pt / pr)), 0.0) AS kltr,
          |         coalesce(sum(pr * ln(pr / pt)), 0.0) AS klrt,
          |         coalesce(sum(abs(pt - pr)), 0.0) AS l1
          |  FROM obs)
          |SELECT CAST(4096 AS BIGINT) AS n_buckets, observed,
          |  round(kltr + (4096.0 - observed)
          |    * ((1.0 / (tt.total + 4096.0))
          |       * ln((1.0 / (tt.total + 4096.0)) / (1.0 / (tr.total + 4096.0)))), 6)
          |    AS kl_target_raw,
          |  round(klrt + (4096.0 - observed)
          |    * ((1.0 / (tr.total + 4096.0))
          |       * ln((1.0 / (tr.total + 4096.0)) / (1.0 / (tt.total + 4096.0)))), 6)
          |    AS kl_raw_target,
          |  round((l1 + (4096.0 - observed)
          |    * abs(1.0 / (tt.total + 4096.0) - 1.0 / (tr.total + 4096.0))) / 2.0, 6) AS tv
          |FROM ag, tt, tr""".stripMargin),
    "q_cur_dsir_bigram" ->
      """WITH tks AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
        |tok AS (
        |  SELECT doc_id, source,
        |    unnest(CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
        |                ELSE list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1]) END) AS t
        |  FROM tks),
        |th AS (
        |  SELECT doc_id, source,
        |    list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(range(1, length(t) + 1), i -> ord(substr(t, i, 1))::HUGEINT)),
        |      (h, c) -> (xor(h, c) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS th
        |  FROM tok),
        |bk AS (SELECT doc_id, source, CAST((th // 2) % 4096 AS BIGINT) AS b FROM th),
        |mt AS (SELECT b, count(*) AS c FROM bk WHERE source IN ('src0', 'src1') GROUP BY b),
        |tt AS (SELECT sum(c) AS total FROM mt),
        |mr AS (SELECT b, count(*) AS c FROM bk GROUP BY b),
        |tr AS (SELECT sum(c) AS total FROM mr),
        |sc AS (
        |  SELECT bk.doc_id,
        |    ln((coalesce(mt.c, 0) + 1.0) / (tt.total + 4096.0)) AS lpt,
        |    ln((mr.c + 1.0) / (tr.total + 4096.0)) AS lpr
        |  FROM bk
        |  LEFT JOIN mt ON mt.b = bk.b
        |  JOIN mr ON mr.b = bk.b, tt, tr),
        |ag AS (
        |  SELECT doc_id, count(*) AS n_tok,
        |         count(*) * (avg(lpt) - avg(lpr)) AS logw
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(ag.n_tok, 0) AS BIGINT) AS n_tok,
        |       round(coalesce(ag.logw, 0.0), 6) AS logw
        |FROM documents d LEFT JOIN ag USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "q_cur_pack" ->
      s"""WITH d AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n, doc_id AS id
         |  FROM documents),
         |${xxhash64Cte("id", "d")},
         |o AS (
         |  SELECT d.doc_id, d.n, h.h AS k
         |  FROM d JOIN hashes h ON h.id = d.doc_id),
         |c AS (
         |  SELECT doc_id, n,
         |    CAST(coalesce(sum(n) OVER (ORDER BY k, CAST(doc_id AS VARCHAR)
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
         |  FROM o)
         |SELECT doc_id, n AS n_tokens, start AS start_pos,
         |  start // 2048 AS pack_id, start % 2048 AS pack_offset,
         |  greatest(start // 2048, (start + n - 1) // 2048) AS pack_id_end
         |FROM c ORDER BY doc_id""".stripMargin,
    "q_cur_token_budget" ->
      s"""WITH d AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n, doc_id AS id
         |  FROM documents),
         |${xxhash64Cte("id", "d")},
         |o AS (
         |  SELECT d.doc_id, d.n, h.h AS k
         |  FROM d JOIN hashes h ON h.id = d.doc_id),
         |c AS (
         |  SELECT doc_id, n,
         |    CAST(coalesce(sum(n) OVER (ORDER BY k, CAST(doc_id AS VARCHAR)
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
         |  FROM o)
         |SELECT doc_id, n AS n_tokens, start AS start_pos
         |FROM c WHERE start + n <= 10000 ORDER BY doc_id""".stripMargin,
    // rebuild the hashed-unigram model (per-token FNV fold over code
    // points — exact on the ASCII corpus, same scope note as q_txt_winnow;
    // bucket = (h >>> 1) % 4096 == unsigned-HUGEINT // 2 % 4096), then
    // each doc's mean log p(bucket) with add-one smoothing over buckets
    "q_txt_unigram_lp" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(range(1, length(t) + 1), i -> ord(substr(t, i, 1))::HUGEINT)),
        |      (h, c) -> (xor(h, c) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS th
        |  FROM tok),
        |bk AS (SELECT doc_id, CAST((th // 2) % 4096 AS BIGINT) AS b FROM th),
        |m AS (SELECT b, count(*) AS c FROM bk GROUP BY b),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM m),
        |lp AS (SELECT m.b, ln((m.c + 1.0) / (tot.total + 4096.0)) AS lp FROM m, tot)
        |SELECT d.doc_id, round(coalesce(avg(lp.lp), 0.0), 6) AS lp_mean
        |FROM documents d
        |LEFT JOIN bk ON bk.doc_id = d.doc_id
        |LEFT JOIN lp ON lp.b = bk.b
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    "q_emb_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |s AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
        |q AS (
        |  SELECT vec_id, v, scale,
        |    list_transform(v, x ->
        |      CASE WHEN scale = 0 THEN 0
        |           ELSE CAST(greatest(-127, least(127, floor(x / scale + 0.5))) AS BIGINT) END) AS q
        |  FROM s),
        |d AS (
        |  SELECT vec_id, scale, q,
        |    list_max(list_transform(range(1, len(q) + 1),
        |      i -> abs(q[i]::DOUBLE * scale - v[i]))) AS max_err
        |  FROM q)
        |SELECT vec_id, scale,
        |       array_to_string(list_transform(q, x -> x::VARCHAR), ',') AS q,
        |       max_err, max_err <= scale / 2 AS ok
        |FROM d ORDER BY vec_id""".stripMargin,
    "q_dd_resolve" ->
      """WITH RECURSIVE pages AS (
        |  SELECT doc_id AS url, substr(text, 1, 60) AS text, lang, n_chars FROM documents),
        |keys AS (
        |  SELECT url, concat_ws('|', 't', array_to_string((string_split(text, ' '))[1:2], ' ')) AS key FROM pages
        |  UNION ALL
        |  SELECT url, concat_ws('|', 'b', lang, CAST(floor(n_chars / 5) AS BIGINT)) AS key FROM pages),
        |pairs AS (
        |  SELECT DISTINCT a.url AS url_a, b.url AS url_b
        |  FROM keys a JOIN keys b ON a.key = b.key AND a.url < b.url),
        |e AS (SELECT url_a AS src, url_b AS dst FROM pairs
        |      UNION SELECT url_b, url_a FROM pairs),
        |reach AS (
        |  SELECT src, src AS dst FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        |assign AS (SELECT src AS url, min(dst) AS cluster_id FROM reach GROUP BY src),
        |m AS (
        |  SELECT p.url AS doc_id, coalesce(a.cluster_id, p.url) AS cluster_id,
        |         length(p.text) AS len
        |  FROM pages p LEFT JOIN assign a ON a.url = p.url),
        |c AS (
        |  SELECT cluster_id, doc_id AS canonical FROM (
        |    SELECT cluster_id, doc_id,
        |           row_number() OVER (PARTITION BY cluster_id ORDER BY len DESC, doc_id ASC) AS rn
        |    FROM m) WHERE rn = 1)
        |SELECT m.doc_id, m.cluster_id, c.canonical, m.doc_id = c.canonical AS keep
        |FROM m JOIN c USING (cluster_id) ORDER BY m.doc_id""".stripMargin,
    "q_dd_span_dedup" ->
      """WITH pages AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN text || ' the quick brown fox jumps over the lazy dog end'
        |      ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM pages),
        |words AS (
        |  SELECT doc_id, u.i - 1 AS idx, w[u.i] AS word
        |  FROM t, unnest(generate_series(1, len(w))) AS u(i)),
        |wins AS (
        |  SELECT doc_id, u.o AS off, array_to_string(w[u.o + 1 : u.o + 8], ' ') AS win
        |  FROM t, unnest(generate_series(0, len(w) - 8)) AS u(o)),
        |dup AS (SELECT win FROM wins GROUP BY win HAVING count(*) >= 2),
        |removed AS (
        |  SELECT DISTINCT wins.doc_id, wins.off + u.s AS idx
        |  FROM wins JOIN dup USING (win), unnest(generate_series(0, 7)) AS u(s)),
        |kept AS (
        |  SELECT wd.doc_id, wd.idx, wd.word FROM words wd
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM removed r WHERE r.doc_id = wd.doc_id AND r.idx = wd.idx)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         string_agg(word, ' ' ORDER BY idx) AS text_clean
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_words,
        |  CAST(len(t.w) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(a.text_clean, '') AS text_clean
        |FROM t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_ann_topk_int8" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |s AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
        |q AS (
        |  SELECT vec_id,
        |    list_transform(v, x ->
        |      CASE WHEN scale = 0 THEN 0
        |           ELSE CAST(greatest(-127, least(127, floor(x / scale + 0.5))) AS BIGINT) END) AS q
        |  FROM s),
        |p AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS neighbor,
        |    list_reduce(list_transform(range(1, len(a.q) + 1), i -> a.q[i] * b.q[i]), (x, y) -> x + y) AS dot,
        |    list_reduce(list_transform(a.q, x -> x * x), (x, y) -> x + y) AS na,
        |    list_reduce(list_transform(b.q, x -> x * x), (x, y) -> x + y) AS nb
        |  FROM q a JOIN q b ON a.vec_id < 20 AND b.vec_id >= 20)
        |SELECT qid, rk, neighbor FROM (
        |  SELECT qid, neighbor, row_number() OVER (PARTITION BY qid ORDER BY
        |    CASE WHEN na = 0 OR nb = 0 THEN 0.0
        |         ELSE dot::DOUBLE / sqrt((na * nb)::DOUBLE) END DESC, neighbor ASC) AS rk
        |  FROM p)
        |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "q_ann_topk" ->
      """SELECT qid, rk, neighbor FROM (
        |  SELECT q.vec_id AS qid, e.vec_id AS neighbor,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id ASC) AS rk
        |  FROM embeddings q JOIN embeddings e ON q.vec_id < 20 AND e.vec_id >= 20)
        |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "q_cur_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 3),
        |    i -> array_to_string(list_slice(t, i, i + 4), ' ')))) AS g
        |  FROM toks WHERE len(t) >= 5),
        |bg AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
        |agg AS (
        |  SELECT g.doc_id, count(*) AS n_grams, count(bg.g) AS n_hits
        |  FROM g LEFT JOIN bg ON g.g = bg.g GROUP BY g.doc_id)
        |SELECT d.doc_id, coalesce(a.n_grams, 0) AS n_grams, coalesce(a.n_hits, 0) AS n_hits,
        |       coalesce(a.n_hits, 0) >= 1 AS contaminated
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_cur_quota_sample" ->
      """WITH hx0 AS (
        |  SELECT doc_id,
        |    ((((doc_id::HUGEINT // 4294967296) * 14029467366897019727::HUGEINT % 4294967296) * 4294967296
        |      + (doc_id::HUGEINT % 4294967296) * 14029467366897019727::HUGEINT)
        |     % 18446744073709551616::HUGEINT) AS lp2
        |  FROM documents),
        |hx1 AS (
        |  SELECT doc_id,
        |    ((((((lp2 * 2147483648::HUGEINT + lp2 // 8589934592) % 18446744073709551616::HUGEINT) // 4294967296)
        |        * 11400714785074694791::HUGEINT % 4294967296) * 4294967296
        |      + (((lp2 * 2147483648::HUGEINT + lp2 // 8589934592) % 18446744073709551616::HUGEINT) % 4294967296)
        |        * 11400714785074694791::HUGEINT)
        |     % 18446744073709551616::HUGEINT) AS k1
        |  FROM hx0),
        |hx2 AS (
        |  SELECT doc_id,
        |    (((((xor(2870177450012600311::HUGEINT, k1) * 134217728::HUGEINT
        |         + xor(2870177450012600311::HUGEINT, k1) // 137438953472) % 18446744073709551616::HUGEINT // 4294967296)
        |        * 11400714785074694791::HUGEINT % 4294967296) * 4294967296
        |      + ((xor(2870177450012600311::HUGEINT, k1) * 134217728::HUGEINT
        |          + xor(2870177450012600311::HUGEINT, k1) // 137438953472) % 18446744073709551616::HUGEINT % 4294967296)
        |        * 11400714785074694791::HUGEINT
        |      + 9650029242287828579::HUGEINT)
        |     % 18446744073709551616::HUGEINT) AS h0
        |  FROM hx1),
        |hx3 AS (
        |  SELECT doc_id,
        |    (((xor(h0, h0 // 8589934592) // 4294967296) * 14029467366897019727::HUGEINT % 4294967296) * 4294967296
        |     + (xor(h0, h0 // 8589934592) % 4294967296) * 14029467366897019727::HUGEINT)
        |    % 18446744073709551616::HUGEINT AS h1
        |  FROM hx2),
        |hx4 AS (
        |  SELECT doc_id,
        |    (((xor(h1, h1 // 536870912) // 4294967296) * 1609587929392839161::HUGEINT % 4294967296) * 4294967296
        |     + (xor(h1, h1 // 536870912) % 4294967296) * 1609587929392839161::HUGEINT)
        |    % 18446744073709551616::HUGEINT AS h2
        |  FROM hx3),
        |hashes AS (
        |  SELECT doc_id,
        |    CASE WHEN xor(h2, h2 // 4294967296) >= 9223372036854775808::HUGEINT
        |         THEN (xor(h2, h2 // 4294967296) - 18446744073709551616::HUGEINT)::BIGINT
        |         ELSE xor(h2, h2 // 4294967296)::BIGINT END AS h
        |  FROM hx4),
        |ranked AS (
        |  SELECT d.doc_id, d.lang, d.source,
        |         row_number() OVER (PARTITION BY d.lang, d.source ORDER BY h.h, d.doc_id) AS rk
        |  FROM documents d JOIN hashes h ON h.doc_id = d.doc_id)
        |SELECT doc_id, lang, source FROM ranked WHERE rk <= 3
        |ORDER BY doc_id""".stripMargin,
    "q_cur_split" ->
      s"""WITH ck AS (SELECT DISTINCT doc_id - (doc_id % 3) AS id FROM documents),
         |${xxhash64Cte("id", "ck")},
         |b AS (SELECT id, ((h % 10000) + 10000) % 10000 AS bucket FROM hashes)
         |SELECT d.doc_id, d.doc_id - (d.doc_id % 3) AS cluster_key,
         |  CASE WHEN b.bucket < 8000 THEN 'train'
         |       WHEN b.bucket < 9000 THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM documents d JOIN b ON b.id = d.doc_id - (d.doc_id % 3)
         |ORDER BY d.doc_id""".stripMargin,
    "q_cur_quality_gate" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(CASE WHEN doc_id % 3 = 0 THEN text || ' ' || text ELSE text END, ' ') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, len(toks) AS n,
        |    round(len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1), 6) AS distinct_ratio,
        |    greatest(len(toks) - 1, 0) AS n_bi, greatest(len(toks) - 2, 0) AS n_tri,
        |    list_transform(range(1, greatest(len(toks), 1)),
        |      i -> toks[i] || chr(31) || toks[i+1]) AS bis,
        |    list_transform(range(1, greatest(len(toks) - 1, 1)),
        |      i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2]) AS tris
        |  FROM t),
        |bc AS (
        |  SELECT doc_id, gram, count(*) AS c
        |  FROM (SELECT doc_id, unnest(bis) AS gram FROM g) GROUP BY 1, 2),
        |btop AS (SELECT doc_id, max(c) AS top FROM bc GROUP BY 1),
        |tc AS (
        |  SELECT doc_id, gram, count(*) AS c
        |  FROM (SELECT doc_id, unnest(tris) AS gram FROM g) GROUP BY 1, 2),
        |tdup AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup FROM tc GROUP BY 1),
        |m AS (
        |  SELECT g.doc_id, CAST(g.n AS BIGINT) AS n_tokens, g.distinct_ratio,
        |    round(coalesce(btop.top, 0)::DOUBLE / greatest(g.n_bi, 1), 6) AS top_bigram_frac,
        |    round(coalesce(tdup.dup, 0)::DOUBLE / greatest(g.n_tri, 1), 6) AS dup_trigram_frac
        |  FROM g LEFT JOIN btop ON btop.doc_id = g.doc_id LEFT JOIN tdup ON tdup.doc_id = g.doc_id),
        |r AS (
        |  SELECT *, list_filter([
        |      CASE WHEN n_tokens IS NULL THEN 'no_text' END,
        |      CASE WHEN n_tokens < 30 THEN 'too_short' END,
        |      CASE WHEN n_tokens > 200 THEN 'too_long' END,
        |      CASE WHEN distinct_ratio < 0.3 THEN 'low_diversity' END,
        |      CASE WHEN top_bigram_frac > 0.1 THEN 'repetitive_bigram' END,
        |      CASE WHEN dup_trigram_frac > 0.2 THEN 'repetitive_trigram' END
        |    ], x -> x IS NOT NULL) AS reasons
        |  FROM m)
        |SELECT doc_id, n_tokens, distinct_ratio, top_bigram_frac, dup_trigram_frac,
        |       coalesce(array_to_string(reasons, ','), '') AS reasons, len(reasons) = 0 AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_cur_mix_weights" ->
      """WITH s AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |m AS (SELECT source, n_docs, n_tokens, pow(n_tokens::DOUBLE, 0.7) AS mass FROM s)
        |SELECT source, n_docs, n_tokens,
        |       round(mass / (SELECT sum(mass) FROM m), 6) AS weight
        |FROM m ORDER BY source""".stripMargin,
    "q_cur_redact_pii" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    text || ' contact-' || doc_id || '@example.com tel 0123 456 789',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9][0-9 ()+-]{6,}[0-9]', '<PHONE>', 'g') AS text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_txt_quality" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        | round(n_chars::DOUBLE / len(string_split(text, ' ')), 6) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id, text,
        |    '<html><head><title>T</title><style>p {color: red}</style></head>'
        |    || '<body class="main"><!-- note --><p>'
        |    || text || ' A &amp; B &lt;ok&gt;'
        |    || '</p><script type="text/javascript">var x = 1 < 2;</script></body></html>' AS html
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(
        |                regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g'),
        |                '(?is)<head\b[^>]*>.*?</head>', ' ', 'g'),
        |              '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
        |            '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
        |          '(?s)<[^>]*>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |      '\s+', ' ', 'g')) AS text_extracted
        |  FROM h)
        |SELECT doc_id, text_extracted,
        |       text_extracted = (text || ' A & B <ok>') AS ok
        |FROM x ORDER BY doc_id""".stripMargin,
    // ORACLE SCOPE NOTE: this replay folds FNV-1a over CODE POINTS
    // (ord(substr(t,i,1))) while the engine's SimKernels.fnv64 folds UTF-8
    // BYTES — identical iff every token is ASCII (code point == byte).
    // The synthetic documents table is ASCII by construction, so the oracle
    // is exact here; it is NOT a general non-ASCII replay (DuckDB has no
    // per-byte iteration primitive to express one).
    "q_txt_winnow" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    list_transform(toks, t ->
        |      list_reduce(
        |        list_prepend(14695981039346656037::HUGEINT,
        |          list_transform(range(1, length(t) + 1), i -> ord(substr(t, i, 1))::HUGEINT)),
        |        (h, c) -> (xor(h, c) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)) AS th
        |  FROM tok),
        |hs0 AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(th) - 2, 1)), p ->
        |      list_reduce(list_prepend(14695981039346656037::HUGEINT, th[p:p+3]),
        |        (h, c) -> (xor(h, c) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)) AS hs0
        |  FROM th),
        |hs AS (
        |  SELECT doc_id,
        |    list_transform(hs0, f ->
        |      CASE WHEN f >= 9223372036854775808::HUGEINT
        |           THEN (f - 18446744073709551616::HUGEINT)::BIGINT
        |           ELSE f::BIGINT END) AS hs
        |  FROM hs0),
        |sel AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hs) = 0 THEN hs
        |         WHEN len(hs) <= 5 THEN [list_min(hs)]
        |         ELSE list_transform(range(1, len(hs) - 3), q -> list_min(hs[q:q+4])) END AS sel
        |  FROM hs)
        |SELECT doc_id,
        |       coalesce(
        |         array_to_string(list_transform(list_sort(list_distinct(sel)), x -> x::VARCHAR), ','),
        |         '') AS fingerprints,
        |       CAST(len(list_distinct(sel)) AS BIGINT) AS n_fp
        |FROM sel ORDER BY doc_id""".stripMargin,
    "q_txt_langid" ->
      """SELECT lang_pred, count(*) AS n FROM (
        |  SELECT CASE WHEN len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','of','and','to','in')))::DOUBLE / len(string_split(text, ' ')) >= 0.02
        |   THEN 'en' ELSE 'unk' END AS lang_pred
        |  FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_txt_token_count" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // exact gram counting (unnest + group by) recomputes the row-local
    // hash-counting kernel engine-free
    "q_txt_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(CASE WHEN doc_id % 3 = 0 THEN text || ' ' || text ELSE text END, ' ') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    greatest(len(toks) - 1, 0) AS n_bi, greatest(len(toks) - 2, 0) AS n_tri,
        |    list_transform(range(1, greatest(len(toks), 1)),
        |      i -> toks[i] || chr(31) || toks[i+1]) AS bis,
        |    list_transform(range(1, greatest(len(toks) - 1, 1)),
        |      i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2]) AS tris
        |  FROM t),
        |bc AS (
        |  SELECT doc_id, gram, count(*) AS c
        |  FROM (SELECT doc_id, unnest(bis) AS gram FROM g) GROUP BY 1, 2),
        |btop AS (SELECT doc_id, max(c) AS top FROM bc GROUP BY 1),
        |tc AS (
        |  SELECT doc_id, gram, count(*) AS c
        |  FROM (SELECT doc_id, unnest(tris) AS gram FROM g) GROUP BY 1, 2),
        |tdup AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup FROM tc GROUP BY 1)
        |SELECT g.doc_id, CAST(g.n_bi AS BIGINT) AS n_bigrams,
        |  round(coalesce(btop.top, 0)::DOUBLE / greatest(g.n_bi, 1), 6) AS top_bigram_frac,
        |  round(coalesce(tdup.dup, 0)::DOUBLE / greatest(g.n_tri, 1), 6) AS dup_trigram_frac
        |FROM g LEFT JOIN btop ON btop.doc_id = g.doc_id LEFT JOIN tdup ON tdup.doc_id = g.doc_id
        |ORDER BY g.doc_id""".stripMargin,
    // exact per-line occurrence counts (unnest + group by): repeats per
    // distinct line = cnt - 1, chars likewise — recomputes the row-local
    // sorted-predecessor kernel engine-free
    "q_txt_gopher_rep" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(CASE WHEN doc_id % 4 = 0 THEN text || ' ' || text ELSE text END, ' ') AS tk
        |  FROM documents),
        |ln AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, CAST(ceil(len(tk) / 2.0) AS BIGINT)),
        |      i -> array_to_string(tk[(i*2+1):(i*2+2)], ' '))) AS line
        |  FROM t),
        |g AS (SELECT doc_id, line, count(*) AS c, length(line) AS len FROM ln GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
        |    sum(c - 1) AS dup_cnt, sum((c - 1) * len) AS dup_chars, sum(c * len) AS tot_chars
        |  FROM g GROUP BY doc_id)
        |SELECT doc_id, n_lines,
        |  round(dup_cnt::DOUBLE / greatest(n_lines, 1), 6) AS dup_line_frac,
        |  round(dup_chars::DOUBLE / greatest(tot_chars, 1), 6) AS dup_line_char_frac
        |FROM agg ORDER BY doc_id""".stripMargin,
    // the whole normalization rule chain re-derived in SQL string functions
    "q_txt_url_canon" ->
      """WITH u0 AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6
        |      WHEN 0 THEN 'HTTP://Example' || (doc_id % 50) || '.COM:80/path/' || doc_id || '?utm_source=x&b=2&a=1#frag'
        |      WHEN 1 THEN 'https://CDN.Site' || (doc_id % 50) || '.org:443/a/b'
        |      WHEN 2 THEN 'https://site' || (doc_id % 50) || '.net:8443/x?gclid=1&z=9&y=' || (doc_id % 7)
        |      WHEN 3 THEN 'http://Host' || (doc_id % 50) || '.com/x/y?fbclid=abc&utm_medium=m'
        |      WHEN 4 THEN 'http://Bare' || (doc_id % 50) || '.com'
        |      ELSE 'plain-text no url ' || doc_id END AS url
        |  FROM documents),
        |p1 AS (SELECT doc_id, url, split_part(url, '#', 1) AS nofrag FROM u0),
        |p2 AS (
        |  SELECT *, lower(split_part(nofrag, '://', 1)) AS scheme,
        |    CASE WHEN strpos(nofrag, '://') > 0
        |         THEN substr(nofrag, strpos(nofrag, '://') + 3) ELSE '' END AS rest
        |  FROM p1),
        |p3 AS (SELECT *, split_part(split_part(rest, '/', 1), '?', 1) AS hostport FROM p2),
        |p4 AS (SELECT *, substr(rest, length(hostport) + 1) AS afterhost FROM p3),
        |p5 AS (
        |  SELECT *, split_part(afterhost, '?', 1) AS path,
        |    CASE WHEN strpos(afterhost, '?') > 0
        |         THEN substr(afterhost, strpos(afterhost, '?') + 1) ELSE '' END AS query,
        |    lower(split_part(hostport, ':', 1)) AS host,
        |    CASE WHEN strpos(hostport, ':') > 0
        |         THEN substr(hostport, strpos(hostport, ':') + 1) ELSE '' END AS port
        |  FROM p4),
        |p6 AS (
        |  SELECT *,
        |    CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
        |                               OR (scheme = 'https' AND port = '443'))
        |         THEN ':' || port ELSE '' END AS portpart,
        |    coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'),
        |      x -> x <> '' AND substr(split_part(x, '=', 1), 1, 4) <> 'utm_'
        |           AND split_part(x, '=', 1) NOT IN ('gclid', 'fbclid', 'msclkid'))), '&'), '') AS sortedq,
        |    CASE WHEN path = '' THEN '/' ELSE path END AS pathpart
        |  FROM p5)
        |SELECT doc_id, url,
        |  CASE WHEN strpos(nofrag, '://') = 0 THEN trim(url)
        |       ELSE scheme || '://' || host || portpart || pathpart ||
        |            (CASE WHEN sortedq = '' THEN '' ELSE '?' || sortedq END) END AS canon
        |FROM p6 ORDER BY doc_id""".stripMargin,
    "q_mm_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | upper(substr(hex(encode(text)), 1, 8)) AS magic
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Byte-exact engine-free recomputation of the stub decoder's FNV-1a
    // dimension derivation (functions/Media.scala MediaKernels.decode):
    // h = fnv1a64(first 256 payload bytes), width = 64 + h mod 1024,
    // height = 64 + (h >>> 16) mod 1024 — mod-2^64 arithmetic in HUGEINT,
    // bytes pulled from the hex expansion of the jpeg-magic-prefixed
    // payload. The resize math then mirrors Multimodal.resizePlan with the
    // same IEEE association (scale computed first, then width*scale).
    "q_mm_resize" ->
      """WITH RECURSIVE src AS (
        |  SELECT doc_id,
        |    'ffd8ffe0' || substr(lower(hex(encode(text))), 1, 504) AS hx,
        |    least(4 + octet_length(encode(text)), 256) AS n
        |  FROM documents),
        |fnv(doc_id, i, n, hx, h) AS (
        |  SELECT doc_id, 0, n, hx, 14695981039346656037::HUGEINT FROM src
        |  UNION ALL
        |  SELECT doc_id, i + 1, n, hx,
        |    (xor(h, CAST((strpos('0123456789abcdef', substr(hx, 2*i + 1, 1)) - 1) * 16
        |                 + strpos('0123456789abcdef', substr(hx, 2*i + 2, 1)) - 1 AS HUGEINT))
        |     * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT
        |  FROM fnv WHERE i < n),
        |dims AS (
        |  SELECT doc_id,
        |    CAST(64 + h % 1024 AS INT) AS width,
        |    CAST(64 + (h // 65536) % 1024 AS INT) AS height
        |  FROM fnv WHERE i = n),
        |scaled AS (
        |  SELECT doc_id, width, height,
        |    least(256.0 / width, 256.0 / height, 1.0) AS scale
        |  FROM dims)
        |SELECT doc_id, width, height,
        |  CAST(greatest(floor(width * scale), 1) AS INT) AS out_w,
        |  CAST(greatest(floor(height * scale), 1) AS INT) AS out_h,
        |  round(scale, 6) AS scale
        |FROM scaled ORDER BY doc_id""".stripMargin,
    // Fully SYMBOLIC textbook Jaro-Winkler — an engine-independent
    // reimplementation of the greedy-matching algorithm as a recursive CTE
    // (NOT duckdb's jaro_winkler_similarity, which deviates from the
    // textbook algorithm on 250/499 rows at sf0.01). The fold over source
    // positions carries the matched-character masks as 0/1 strings; the
    // transposition count compares the in-order matched characters of both
    // sides; prefix boost only above the 0.7 threshold, capped at 4.
    // Arithmetic is written with the same association as the Scala kernel
    // (SimKernels.jaroWinkler) so IEEE doubles agree to the last bit.
    // set sims replayed on string distinct-sets (hash collisions are 2^-64,
    // the ngram_jaccard precedent); Monge-Elkan uses DuckDB's builtin JW
    // (probed identical to the engine kernel) with the same fold order
    "q_er_token_sim" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.toks AS ta, b.toks AS tb
        |  FROM tk a JOIN tk b ON b.doc_id = a.doc_id + 1),
        |s AS (
        |  SELECT id_a, id_b,
        |    len(list_intersect(list_distinct(ta), list_distinct(tb))) AS inter,
        |    len(list_distinct(ta)) AS da, len(list_distinct(tb)) AS db,
        |    ta[1:8] AS ma, tb[1:8] AS mb
        |  FROM p)
        |SELECT id_a, id_b,
        |  round(CASE WHEN da + db - inter = 0 THEN 0.0
        |        ELSE inter::DOUBLE / (da + db - inter) END, 6) AS jaccard,
        |  round(CASE WHEN da + db = 0 THEN 0.0
        |        ELSE 2.0 * inter / (da + db) END, 6) AS dice,
        |  round(CASE WHEN least(da, db) = 0 THEN 0.0
        |        ELSE inter::DOUBLE / least(da, db) END, 6) AS overlap,
        |  round(CASE WHEN len(ma) = 0 THEN 0.0
        |        ELSE list_sum(list_transform(ma, x ->
        |               list_max(list_transform(mb, y -> jaro_winkler_similarity(x, y)))))
        |             / len(ma) END, 6) AS monge_elkan
        |FROM s ORDER BY id_a""".stripMargin,
    // capture synthesis + argmax-by-ts replayed engine-free (ts are
    // distinct per url by construction, so the argmax is unambiguous)
    "q_rc_latest" ->
      (recrawlCapsCte +
        """,
        |latest AS (
        |  SELECT url, CAST(max(ts) AS BIGINT) AS warc_ts,
        |         list(text ORDER BY ts DESC)[1] AS text
        |  FROM caps GROUP BY url)
        |SELECT url, warc_ts, sha256(text) AS sha FROM latest ORDER BY url""".stripMargin),
    "q_rc_census" ->
      (recrawlCapsCte +
        """
        |SELECT url, CAST(count(*) AS BIGINT) AS n_captures,
        |       CAST(count(DISTINCT text) AS BIGINT) AS n_versions,
        |       CAST(min(ts) AS BIGINT) AS first_ts, CAST(max(ts) AS BIGINT) AS last_ts,
        |       count(DISTINCT text) = 1 AS stable
        |FROM caps GROUP BY url ORDER BY url""".stripMargin),
    // cross-table-only pair generation + lev accept replayed engine-free
    "q_er_link_tables" ->
      """WITH d AS (
        |  SELECT doc_id, substr(text, 1, 40) AS frag,
        |         concat_ws('|', lang, CAST(floor(n_chars / 50) AS BIGINT)) AS key
        |  FROM documents)
        |SELECT a.doc_id AS url_a, b.doc_id AS url_b,
        |  round(CASE WHEN greatest(length(a.frag), length(b.frag)) = 0 THEN 1.0
        |        ELSE 1.0 - levenshtein(a.frag, b.frag)::DOUBLE /
        |             greatest(length(a.frag), length(b.frag)) END, 6) AS score
        |FROM d a JOIN d b ON a.key = b.key AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |WHERE (CASE WHEN greatest(length(a.frag), length(b.frag)) = 0 THEN 1.0
        |       ELSE 1.0 - levenshtein(a.frag, b.frag)::DOUBLE /
        |            greatest(length(a.frag), length(b.frag)) END) >= 0.3
        |ORDER BY url_a, url_b""".stripMargin,
    // symmetric-best-match round replayed engine-free: per-node argmax on
    // exact-rational lev scores, min-partner tie-break, mutuality join
    "q_er_mutual_best" ->
      """WITH d AS (
        |  SELECT doc_id, substr(text, 1, 40) AS frag,
        |         concat_ws('|', lang, CAST(floor(n_chars / 50) AS BIGINT)) AS key
        |  FROM documents),
        |pr AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v,
        |    CASE WHEN greatest(length(a.frag), length(b.frag)) = 0 THEN 1.0
        |         ELSE 1.0 - levenshtein(a.frag, b.frag)::DOUBLE /
        |              greatest(length(a.frag), length(b.frag)) END AS score
        |  FROM d a JOIN d b ON a.key = b.key AND a.doc_id < b.doc_id),
        |dir AS (SELECT u, v, score FROM pr UNION ALL SELECT v, u, score FROM pr),
        |bs AS (SELECT u, max(score) AS best_s FROM dir GROUP BY u),
        |best AS (
        |  SELECT dir.u, min(dir.v) AS bp
        |  FROM dir JOIN bs ON bs.u = dir.u AND dir.score = bs.best_s GROUP BY dir.u),
        |m AS (
        |  SELECT x.u AS id_a, x.bp AS id_b FROM best x JOIN best y
        |  ON x.bp = y.u AND y.bp = x.u AND x.u < x.bp)
        |SELECT m.id_a, m.id_b, round(pr.score, 6) AS score
        |FROM m JOIN pr ON pr.u = m.id_a AND pr.v = m.id_b
        |ORDER BY id_a""".stripMargin,
    // closure + diagnostics replayed engine-free; density is one exact
    // division, min/max select identically-computed rationals
    "q_er_cluster_diag" ->
      """WITH RECURSIVE pages AS (
        |  SELECT doc_id AS url, substr(text, 1, 60) AS text, lang, n_chars FROM documents),
        |keys AS (
        |  SELECT url, concat_ws('|', 'b', lang, CAST(floor(n_chars / 5) AS BIGINT)) AS key FROM pages
        |  UNION ALL
        |  SELECT url, concat_ws('|', 't', array_to_string((string_split(text, ' '))[1:2], ' ')) AS key FROM pages),
        |prs AS (
        |  SELECT DISTINCT a.url AS url_a, b.url AS url_b
        |  FROM keys a JOIN keys b ON a.key = b.key AND a.url < b.url),
        |accepted AS (
        |  SELECT url_a, url_b,
        |    CASE WHEN greatest(length(pa.text), length(pb.text)) = 0 THEN 1.0
        |         ELSE 1.0 - levenshtein(pa.text, pb.text)::DOUBLE /
        |              greatest(length(pa.text), length(pb.text)) END AS score
        |  FROM prs
        |  JOIN pages pa ON pa.url = url_a JOIN pages pb ON pb.url = url_b
        |  WHERE (CASE WHEN greatest(length(pa.text), length(pb.text)) = 0 THEN 1.0
        |         ELSE 1.0 - levenshtein(pa.text, pb.text)::DOUBLE /
        |              greatest(length(pa.text), length(pb.text)) END) >= 0.4),
        |e AS (
        |  SELECT url_a AS src, url_b AS dst FROM accepted
        |  UNION ALL SELECT url_b, url_a FROM accepted),
        |reach(src, dst) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        |assign AS (SELECT src AS url, min(dst) AS cluster_id FROM reach GROUP BY src),
        |memb AS (
        |  SELECT p.url, coalesce(a.cluster_id, p.url) AS cid
        |  FROM pages p LEFT JOIN assign a ON a.url = p.url),
        |m AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members FROM memb GROUP BY cid),
        |eg AS (
        |  SELECT mb.cid, CAST(count(*) AS BIGINT) AS n_edges, min(score) AS mn, max(score) AS mx
        |  FROM accepted ac JOIN memb mb ON mb.url = ac.url_a GROUP BY 1)
        |SELECT m.cid AS cluster_id, m.n_members,
        |  CAST(coalesce(eg.n_edges, 0) AS BIGINT) AS n_edges,
        |  CASE WHEN m.n_members > 1
        |       THEN coalesce(eg.n_edges, 0) * 2.0 / (m.n_members * (m.n_members - 1)) END AS density,
        |  round(eg.mn, 6) AS min_score, round(eg.mx, 6) AS max_score
        |FROM m LEFT JOIN eg ON eg.cid = m.cid ORDER BY cluster_id""".stripMargin,
    "q_er_jw_score" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         substr(a.text, 1, 30) AS sa, substr(b.text, 1, 30) AS sb
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |),
        |rec AS (
        |  SELECT id_a, id_b, sa, sb,
        |         length(sa) AS la, length(sb) AS lb,
        |         greatest(greatest(length(sa), length(sb)) // 2 - 1, 0) AS w,
        |         0 AS i, repeat('0', length(sb)) AS bmask, '' AS amask
        |  FROM pairs
        |  UNION ALL
        |  SELECT id_a, id_b, sa, sb, la, lb, w, i + 1,
        |         CASE WHEN j IS NULL THEN bmask
        |              ELSE substr(bmask, 1, j) || '1' || substr(bmask, j + 2) END,
        |         amask || CASE WHEN j IS NULL THEN '0' ELSE '1' END
        |  FROM (
        |    SELECT *,
        |      list_filter(range(greatest(0, i - w), least(lb - 1, i + w) + 1),
        |                  x -> substr(bmask, x + 1, 1) = '0'
        |                   AND substr(sb, x + 1, 1) = substr(sa, i + 1, 1))[1] AS j
        |    FROM rec WHERE i < la
        |  )
        |),
        |fin AS (SELECT * FROM rec WHERE i = la),
        |calc AS (
        |  SELECT id_a, id_b, la, lb, sa, sb,
        |    CAST(length(replace(amask, '0', '')) AS DOUBLE) AS m,
        |    list_transform(list_filter(range(0, la), x -> substr(amask, x+1, 1) = '1'),
        |                   x -> substr(sa, x+1, 1)) AS achars,
        |    list_transform(list_filter(range(0, lb), x -> substr(bmask, x+1, 1) = '1'),
        |                   x -> substr(sb, x+1, 1)) AS bchars
        |  FROM fin
        |),
        |jaro AS (
        |  SELECT id_a, id_b, la, lb, sa, sb, m,
        |    CASE WHEN m = 0 THEN 0.0 ELSE
        |      (m/la + m/lb + (m - CAST(length(list_filter(range(1, CAST(m AS INT) + 1),
        |          k -> achars[k] <> bchars[k])) AS DOUBLE) / 2.0) / m) / 3.0
        |    END AS j
        |  FROM calc
        |),
        |jwv AS (
        |  SELECT id_a, id_b,
        |    CASE
        |      WHEN la = 0 AND lb = 0 THEN 1.0
        |      WHEN la = 0 OR lb = 0 THEN 0.0
        |      WHEN j <= 0.7 THEN j
        |      ELSE j + list_max(list_filter(range(0, least(4, la, lb) + 1),
        |               p -> substr(sa, 1, p) = substr(sb, 1, p))) * 0.1 * (1.0 - j)
        |    END AS jw
        |  FROM jaro
        |)
        |SELECT id_a, id_b, round(jw, 6) AS jw FROM jwv ORDER BY id_a""".stripMargin,
    "q_decision" ->
      """WITH base AS (
        |  SELECT doc_id, doc_id % 8 AS m,
        |    'E' || doc_id AS id0, 'E' || (doc_id + 1) AS id1,
        |    'E' || (doc_id + 2) AS id2, 'X' || doc_id AS xid
        |  FROM documents)
        |SELECT
        |  'task-' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS task_id,
        |  CASE WHEN m = 0 THEN id0 ELSE 'NIL' END AS predicted_id,
        |  CASE WHEN m = 0 THEN CAST(0.1 AS DOUBLE) WHEN m = 2 THEN CAST(0.95 AS DOUBLE) END AS nil_score,
        |  CASE WHEN m <= 4 THEN 'ok'
        |       ELSE 'LLM response did not include an explanation.' END AS explanation,
        |  CASE WHEN m = 5 THEN 'LLM response must be valid JSON. Received: not json'
        |       WHEN m = 6 THEN 'LLM response must not contain unexpected top-level keys. Found: answer'
        |       WHEN m = 7 THEN 'score must be within [0, 1]. Received 1.5 for id ' || id0 || '.'
        |  END AS error,
        |  CASE WHEN m = 0 THEN id0 || ',' || xid || ',' || id1
        |       WHEN m = 4 THEN id1 || ',' || id0 || ',' || id2
        |       ELSE id0 || ',' || id1 || ',' || id2 END AS ranking_ids,
        |  CASE WHEN m = 0 THEN CAST(0.92 AS DOUBLE) END AS top_score,
        |  CAST(3 AS BIGINT) AS n_ranking,
        |  CASE WHEN m = 0 THEN id0 END AS matched_id,
        |  CASE WHEN m = 0 THEN 'name-' || id0 || ',,name-' || id1
        |       WHEN m = 4 THEN 'name-' || id1 || ',name-' || id0 || ',name-' || id2
        |       ELSE 'name-' || id0 || ',name-' || id1 || ',name-' || id2 END AS names_csv
        |FROM base ORDER BY task_id""".stripMargin,
    "q_f12_cursor" ->
      """SELECT event_id,
        | rtrim(replace(replace(to_base64(encode('{"job_id": "job-' || user_id || '", "seq": ' || event_id || '}')),
        |   '+', '-'), '/', '_'), '=') AS cursor,
        | 'job-' || user_id AS decoded_job,
        | CAST(event_id AS BIGINT) AS decoded_seq
        |FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin,
    // the whole gold harness recomputed symbolically: variants, gt-excluded
    // mention frame, the two blocking keys, lev-ratio scoring, top-1-or-NIL
    // decision, gold join-back — an engine-independent end-to-end check of
    // the evaluation pipeline on the reference's own labeled data
    "q_eval_gold" ->
      s"""WITH t AS (SELECT title, title_QID FROM read_csv('${graft.eval.GoldEval.defaultGoldCsv}', header=true, all_varchar=true)),
        |m AS (
        |  SELECT 'm:v0:' || title AS url, title AS text, title AS row_key FROM t
        |  UNION ALL
        |  SELECT 'm:v1:' || title, ' ' || replace(title, ' ', '  ') || ' ', title FROM t
        |  UNION ALL
        |  SELECT 'm:v2:' || title,
        |    substr(title, 1, length(title) - 2) || substr(title, length(title), 1) || substr(title, length(title) - 1, 1),
        |    title
        |  FROM t
        |  WHERE len(string_split(regexp_replace(trim(lower(title)), '\\s+', ' ', 'g'), ' ')) >= 2
        |    AND length(title) >= 4 AND substr(title, length(title) - 1, 2) NOT LIKE '% %'),
        |e AS (SELECT title_QID AS entity_id, title AS label FROM t
        |      UNION ALL SELECT 'X' || title_QID, title || ' II' FROM t),
        |corpus AS (SELECT url, text FROM m UNION ALL SELECT 'kb:' || entity_id, label FROM e),
        |norm AS (SELECT url, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS nt FROM corpus),
        |keys AS (
        |  SELECT DISTINCT url, key FROM (
        |    SELECT url, 'n:' || nt AS key FROM norm
        |    UNION ALL
        |    SELECT url, 'ft:' || string_split(nt, ' ')[1] FROM norm)),
        |pairs AS (
        |  SELECT DISTINCT a.url AS urlA, b.url AS urlB
        |  FROM keys a JOIN keys b ON a.key = b.key AND a.url < b.url
        |  WHERE a.url LIKE 'kb:%' AND b.url LIKE 'm:%'),
        |scored AS (
        |  SELECT p.urlA, p.urlB,
        |    CASE WHEN greatest(length(na.nt), length(nb.nt)) = 0 THEN 1.0
        |      ELSE 1.0 - levenshtein(na.nt, nb.nt)::DOUBLE / greatest(length(na.nt), length(nb.nt))
        |    END AS score
        |  FROM pairs p JOIN norm na ON na.url = p.urlA JOIN norm nb ON nb.url = p.urlB),
        |top AS (
        |  SELECT urlB AS url, urlA, score,
        |    row_number() OVER (PARTITION BY urlB ORDER BY score DESC, urlA ASC) AS rn
        |  FROM scored)
        |SELECT m.url,
        |  coalesce(CASE WHEN top.score >= 0.5 THEN substr(top.urlA, 4) ELSE 'NIL' END, 'NIL') AS predicted_id,
        |  t.title_QID AS gold_id,
        |  coalesce(CASE WHEN top.score >= 0.5 THEN substr(top.urlA, 4) ELSE 'NIL' END, 'NIL') = t.title_QID AS correct
        |FROM m
        |LEFT JOIN (SELECT * FROM top WHERE rn = 1) top ON top.url = m.url
        |JOIN t ON t.title = m.row_key
        |ORDER BY m.url""".stripMargin,
    "q_s10_runlog" ->
      """SELECT user_id, last_seq, last_type FROM (
        |  SELECT user_id, event_id AS last_seq, event_type AS last_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // MinHash-LSH candidate pairs recomputed SYMBOLICALLY: per-token FNV-1a,
    // order-sensitive 3-token shingle fold, 16 family mixes (the 64x64-bit
    // multiply mod 2^64 done by 32-bit split so INT128 never overflows),
    // signed minima, and band keys as VALUE pairs (band hash ids don't
    // matter for pair generation). Engine-independent end-to-end.
    // Known, accepted divergences that CANNOT occur at this sf: (1) Spark
    // salt-splits bands over 1000 urls (oracle doesn't — max block here is
    // tiny); (2) an xxhash64 collision between two band values would merge
    // Spark blocks the oracle keeps apart (~n^2/2^65 per band).
    "q_dd_minhash_pairs" ->
      """WITH tok AS (
        |  SELECT 'doc:' || lpad(doc_id::VARCHAR, 6, '0') AS url,
        |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |th AS (
        |  SELECT url,
        |    list_transform(toks, t ->
        |      list_reduce(
        |        list_prepend(14695981039346656037::HUGEINT,
        |          list_transform(range(1, length(t) + 1), i -> ord(substr(t, i, 1))::HUGEINT)),
        |        (h, c) -> (xor(h, c) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)) AS ths
        |  FROM tok),
        |shs AS (
        |  SELECT url,
        |    list_transform(range(1, len(ths) - 1), w ->
        |      list_reduce(list_prepend(14695981039346656037::HUGEINT, ths[w:w+2]),
        |        (h, c) -> (xor(h, c) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)) AS shs
        |  FROM th WHERE len(ths) >= 3),
        |mixed AS (
        |  SELECT url,
        |    list_transform(range(1, 17), s ->
        |      list_min(list_transform(
        |        list_transform(shs, h ->
        |          ((xor(h, (11400714819323198485::HUGEINT * s) % 18446744073709551616::HUGEINT) // 4294967296)
        |             * 18397679294719823053::HUGEINT % 4294967296) * 4294967296
        |          + (xor(h, (11400714819323198485::HUGEINT * s) % 18446744073709551616::HUGEINT) % 4294967296)
        |             * 18397679294719823053::HUGEINT),
        |        m -> CASE WHEN m % 18446744073709551616::HUGEINT >= 9223372036854775808::HUGEINT
        |               THEN (m % 18446744073709551616::HUGEINT - 18446744073709551616::HUGEINT)::BIGINT
        |               ELSE (m % 18446744073709551616::HUGEINT)::BIGINT END))) AS sig
        |  FROM shs),
        |bands AS (
        |  SELECT url, b.b, [sig[2 * b.b + 1], sig[2 * b.b + 2]] AS bk
        |  FROM mixed CROSS JOIN range(0, 8) b(b))
        |SELECT DISTINCT a.url AS urlA, b.url AS urlB
        |FROM bands a JOIN bands b ON a.b = b.b AND a.bk = b.bk AND a.url < b.url
        |ORDER BY urlA, urlB""".stripMargin,
    // SimHash recomputed SYMBOLICALLY (engine-independent, no fixture):
    // FNV-1a 64 per token via HUGEINT-mod-2^64 list_reduce over codepoints
    // (the corpus is ASCII, so codepoint == UTF-8 byte), then the bit-wise
    // sign-majority, then two's-complement back to BIGINT. Verified to match
    // the native kernel on all rows at sf0.01 — one LSH-family kernel is
    // therefore cross-checked end-to-end outside the engine.
    "q_dd_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(range(1, length(t) + 1), i -> ord(substr(t, i, 1))::HUGEINT)),
        |      (h, c) -> (xor(h, c) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT
        |    ) AS h
        |  FROM tok),
        |bits AS (
        |  SELECT doc_id, r.k,
        |    sum(CASE WHEN (h // (1::HUGEINT << r.k::INT)) % 2 = 1 THEN 1 ELSE -1 END) AS cnt
        |  FROM th CROSS JOIN range(0, 64) r(k)
        |  GROUP BY doc_id, r.k)
        |SELECT doc_id,
        |  sum(CASE WHEN cnt > 0 THEN
        |    CASE WHEN k = 63 THEN -9223372036854775808::HUGEINT ELSE (1::HUGEINT << k::INT) END
        |    ELSE 0::HUGEINT END)::BIGINT AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // fused 4-shingle MinHash slot 0 recomputed SYMBOLICALLY (same FNV +
    // family-mix arithmetic as q_dd_minhash_pairs, raw single-space
    // tokenization mirroring the Spark query); empty/short docs pin to
    // Long.MaxValue like the kernel
    "q_txt_fingerprint" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    list_transform(toks, t ->
        |      list_reduce(
        |        list_prepend(14695981039346656037::HUGEINT,
        |          list_transform(range(1, length(t) + 1), i -> ord(substr(t, i, 1))::HUGEINT)),
        |        (h, c) -> (xor(h, c) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)) AS ths
        |  FROM tok)
        |SELECT doc_id,
        |  CASE WHEN len(ths) < 4 THEN 9223372036854775807
        |  ELSE (
        |    SELECT min(CASE WHEN hv >= 9223372036854775808::HUGEINT
        |        THEN (hv - 18446744073709551616::HUGEINT)::BIGINT ELSE hv::BIGINT END)
        |    FROM (
        |      SELECT (((a // 4294967296) * 18397679294719823053::HUGEINT % 4294967296) * 4294967296
        |             + (a % 4294967296) * 18397679294719823053::HUGEINT) % 18446744073709551616::HUGEINT AS hv
        |      FROM (
        |        SELECT xor(
        |          list_reduce(list_prepend(14695981039346656037::HUGEINT, ths[w:w+3]),
        |            (h, c) -> (xor(h, c) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT),
        |          11400714819323198485::HUGEINT) AS a
        |        FROM unnest(range(1, len(ths) - 2)) u(w)))
        |  ) END AS fp0
        |FROM th ORDER BY doc_id""".stripMargin,
    // sign-LSH recomputed SYMBOLICALLY, float math included: the splitmix64
    // hyperplane generator runs as staged HUGEINT mod-2^64 arithmetic (the
    // two 64x64 multiplies via 32-bit split), plane scaling (h>>>11)/2^53*2-1
    // is exact power-of-two float math, and the dot product accumulates in
    // the kernel's element order via list_reduce — bit-identical doubles,
    // so the sign bits (and buckets) match exactly.
    "q_ann_lsh" ->
      """WITH pl0 AS (
        |  SELECT p.p, i.i,
        |    (p.p * 2654435769::HUGEINT + i.i + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS x0
        |  FROM range(0, 8) p(p) CROSS JOIN range(0, 64) i(i)),
        |pl1 AS (
        |  SELECT p, i,
        |    (((xor(x0, x0 // 1073741824) // 4294967296) * 13787848793156543929::HUGEINT % 4294967296) * 4294967296
        |     + (xor(x0, x0 // 1073741824) % 4294967296) * 13787848793156543929::HUGEINT)
        |    % 18446744073709551616::HUGEINT AS x1
        |  FROM pl0),
        |pl2 AS (
        |  SELECT p, i,
        |    (((xor(x1, x1 // 134217728) // 4294967296) * 10723151780598845931::HUGEINT % 4294967296) * 4294967296
        |     + (xor(x1, x1 // 134217728) % 4294967296) * 10723151780598845931::HUGEINT)
        |    % 18446744073709551616::HUGEINT AS x2
        |  FROM pl1),
        |plw AS (
        |  SELECT p, list((xor(x2, x2 // 2147483648) // 2048)::DOUBLE / 9007199254740992.0 * 2.0 - 1.0 ORDER BY i) AS ws
        |  FROM pl2 GROUP BY p),
        |vec AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |dots AS (
        |  SELECT vec_id, p,
        |    list_reduce(list_transform(range(1, 65), i -> v[i] * ws[i]), (a, b) -> a + b) AS dot
        |  FROM vec CROSS JOIN plw),
        |buckets AS (
        |  SELECT vec_id, sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
        |  FROM dots GROUP BY vec_id)
        |SELECT bucket, count(*) AS n, min(vec_id) AS min_vec
        |FROM buckets GROUP BY bucket ORDER BY bucket""".stripMargin,
    // Fully SYMBOLIC IVF: the deterministic hash-stride codebook sample,
    // max-cosine assignment, nProbe probing and top-k rank are all
    // recomputed engine-free. Spark's xxhash64(bigint) (xxh64 of the 8-byte
    // long, seed 42) is re-derived in HUGEINT arithmetic mod 2^64 — mulmod
    // splits the 64-bit operand into 32-bit halves so the 128-bit
    // intermediate fits HUGEINT (same pattern as the sign-LSH oracle's
    // splitmix64). Cosines accumulate per-index in kernel order
    // (list_reduce), so doubles — and therefore the (cos DESC, id ASC)
    // rankings — are bit-identical to the NearestCentroids/DenseCosine
    // expressions.
    "q_ann_ivf" ->
      """WITH
        |hx0 AS (
        |  SELECT vec_id,
        |    ((((vec_id::HUGEINT // 4294967296) * 14029467366897019727::HUGEINT % 4294967296) * 4294967296
        |      + (vec_id::HUGEINT % 4294967296) * 14029467366897019727::HUGEINT)
        |     % 18446744073709551616::HUGEINT) AS lp2
        |  FROM embeddings WHERE vec_id >= 20),
        |hx1 AS (
        |  SELECT vec_id,
        |    ((((((lp2 * 2147483648::HUGEINT + lp2 // 8589934592) % 18446744073709551616::HUGEINT) // 4294967296)
        |        * 11400714785074694791::HUGEINT % 4294967296) * 4294967296
        |      + (((lp2 * 2147483648::HUGEINT + lp2 // 8589934592) % 18446744073709551616::HUGEINT) % 4294967296)
        |        * 11400714785074694791::HUGEINT)
        |     % 18446744073709551616::HUGEINT) AS k1
        |  FROM hx0),
        |hx2 AS (
        |  SELECT vec_id,
        |    (((((xor(2870177450012600311::HUGEINT, k1) * 134217728::HUGEINT
        |         + xor(2870177450012600311::HUGEINT, k1) // 137438953472) % 18446744073709551616::HUGEINT // 4294967296)
        |        * 11400714785074694791::HUGEINT % 4294967296) * 4294967296
        |      + ((xor(2870177450012600311::HUGEINT, k1) * 134217728::HUGEINT
        |          + xor(2870177450012600311::HUGEINT, k1) // 137438953472) % 18446744073709551616::HUGEINT % 4294967296)
        |        * 11400714785074694791::HUGEINT
        |      + 9650029242287828579::HUGEINT)
        |     % 18446744073709551616::HUGEINT) AS h0
        |  FROM hx1),
        |hx3 AS (
        |  SELECT vec_id,
        |    (((xor(h0, h0 // 8589934592) // 4294967296) * 14029467366897019727::HUGEINT % 4294967296) * 4294967296
        |     + (xor(h0, h0 // 8589934592) % 4294967296) * 14029467366897019727::HUGEINT)
        |    % 18446744073709551616::HUGEINT AS h1
        |  FROM hx2),
        |hx4 AS (
        |  SELECT vec_id,
        |    (((xor(h1, h1 // 536870912) // 4294967296) * 1609587929392839161::HUGEINT % 4294967296) * 4294967296
        |     + (xor(h1, h1 // 536870912) % 4294967296) * 1609587929392839161::HUGEINT)
        |    % 18446744073709551616::HUGEINT AS h2
        |  FROM hx3),
        |hashes AS (
        |  SELECT vec_id,
        |    CASE WHEN xor(h2, h2 // 4294967296) >= 9223372036854775808::HUGEINT
        |         THEN (xor(h2, h2 // 4294967296) - 18446744073709551616::HUGEINT)::BIGINT
        |         ELSE xor(h2, h2 // 4294967296)::BIGINT END AS h
        |  FROM hx4),
        |corpus AS (SELECT vec_id AS neighbor, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 20),
        |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20),
        |stride AS (SELECT greatest((SELECT count(*) FROM corpus) // 32, 1) AS s),
        |cents AS (
        |  SELECT row_number() OVER (ORDER BY c.neighbor) - 1 AS ci, c.cv
        |  FROM corpus c JOIN hashes hh ON hh.vec_id = c.neighbor
        |  WHERE ((hh.h % (SELECT s FROM stride)) + (SELECT s FROM stride)) % (SELECT s FROM stride) = 0
        |  ORDER BY c.neighbor LIMIT 32),
        |ccos AS (
        |  SELECT c.neighbor, ct.ci,
        |    CASE WHEN sqrt(list_reduce(list_transform(range(1, 65), i -> c.cv[i] * c.cv[i]), (a, b) -> a + b))
        |            * sqrt(list_reduce(list_transform(range(1, 65), i -> ct.cv[i] * ct.cv[i]), (a, b) -> a + b)) = 0
        |         THEN 0.0
        |         ELSE list_reduce(list_transform(range(1, 65), i -> c.cv[i] * ct.cv[i]), (a, b) -> a + b)
        |              / (sqrt(list_reduce(list_transform(range(1, 65), i -> c.cv[i] * c.cv[i]), (a, b) -> a + b))
        |                 * sqrt(list_reduce(list_transform(range(1, 65), i -> ct.cv[i] * ct.cv[i]), (a, b) -> a + b)))
        |    END AS cos
        |  FROM corpus c CROSS JOIN cents ct),
        |assigned AS (
        |  SELECT neighbor, ci AS cell FROM (
        |    SELECT neighbor, ci, row_number() OVER (PARTITION BY neighbor ORDER BY cos DESC, ci ASC) AS rn
        |    FROM ccos) WHERE rn = 1),
        |qcos AS (
        |  SELECT qq.qid, ct.ci,
        |    CASE WHEN sqrt(list_reduce(list_transform(range(1, 65), i -> qq.qv[i] * qq.qv[i]), (a, b) -> a + b))
        |            * sqrt(list_reduce(list_transform(range(1, 65), i -> ct.cv[i] * ct.cv[i]), (a, b) -> a + b)) = 0
        |         THEN 0.0
        |         ELSE list_reduce(list_transform(range(1, 65), i -> qq.qv[i] * ct.cv[i]), (a, b) -> a + b)
        |              / (sqrt(list_reduce(list_transform(range(1, 65), i -> qq.qv[i] * qq.qv[i]), (a, b) -> a + b))
        |                 * sqrt(list_reduce(list_transform(range(1, 65), i -> ct.cv[i] * ct.cv[i]), (a, b) -> a + b)))
        |    END AS cos
        |  FROM q qq CROSS JOIN cents ct),
        |probed AS (
        |  SELECT qid, ci AS cell FROM (
        |    SELECT qid, ci, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, ci ASC) AS rn
        |    FROM qcos) WHERE rn <= 8),
        |cands AS (
        |  SELECT p.qid, a.neighbor
        |  FROM probed p JOIN assigned a ON a.cell = p.cell),
        |final_cos AS (
        |  SELECT cd.qid, cd.neighbor,
        |    CASE WHEN sqrt(list_reduce(list_transform(range(1, 65), i -> qq.qv[i] * qq.qv[i]), (a, b) -> a + b))
        |            * sqrt(list_reduce(list_transform(range(1, 65), i -> c.cv[i] * c.cv[i]), (a, b) -> a + b)) = 0
        |         THEN 0.0
        |         ELSE list_reduce(list_transform(range(1, 65), i -> qq.qv[i] * c.cv[i]), (a, b) -> a + b)
        |              / (sqrt(list_reduce(list_transform(range(1, 65), i -> qq.qv[i] * qq.qv[i]), (a, b) -> a + b))
        |                 * sqrt(list_reduce(list_transform(range(1, 65), i -> c.cv[i] * c.cv[i]), (a, b) -> a + b)))
        |    END AS cos
        |  FROM cands cd JOIN q qq ON qq.qid = cd.qid JOIN corpus c ON c.neighbor = cd.neighbor)
        |SELECT qid, rk, neighbor FROM (
        |  SELECT qid, neighbor, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor ASC) AS rk
        |  FROM final_cos) WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,
    // symbolic: planted identical copies are recovered with certainty (see query)
    "q_ann_ivf_trained" ->
      """SELECT vec_id + 1000000 AS qid, 1::BIGINT AS rk, vec_id AS neighbor
        |FROM embeddings WHERE vec_id < 20 ORDER BY qid""".stripMargin,
    "q_er_pipeline" ->
      s"SELECT url, cluster_id, status, seq FROM read_parquet('$goldenDir/q_er_pipeline/*.parquet') ORDER BY url"
  )
}
