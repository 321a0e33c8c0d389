package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Scalars
import graft.operators._

/** Driver contract — one entry per implemented operator (SURVEY.md §2 + the
  * LLM-pipeline extensions), each with DuckDB oracle SQL where the semantics
  * are ANSI-SQL-expressible. Non-SQL ops (LSH candidates, stateful faithful
  * decimation, stubs) are registered without oracle → rows-only check, and
  * carry unit tests instead (SURVEY §5).
  *
  * Determinism contract with the oracle: every output column is either a
  * count, a picked input value (lexicographic struct min/max with explicit
  * tie-breaks), an exact-decimal sum cast to double, or a single IEEE
  * division of exact values — bit-identical between Spark and DuckDB.
  */
object SparkEntry {

  /** Flagship A2 banded day-bin extents on sf0.001 (driver smoke-checks
    * rows>0) — the reference's entire display is this query's output
    * (trend-o-meter:17-64,153-163). */
  def entry(spark: SparkSession): DataFrame =
    TrendOps.bandedExtents(series(spark, "/root/testdata/sf0.001"))

  // ---- shared SQL fragments (DuckDB dialect) -------------------------------

  /** Single source of truth for every tunable that appears in BOTH the Spark
    * plans and the oracle SQL — the oracle strings interpolate from here, so
    * changing a default cannot desynchronize the two sides silently. */
  private val P = TrendParams.default

  /** events → canonical series relation; mirrors Tables.metricSeries with
    * exact integer epoch-second math (epoch_ns // 1e9 == ts div 1e9). */
  private val SERIES =
    "series AS (SELECT event_id, user_id, event_type AS metric, epoch_ns(ts)//1000000000 AS e, value, props FROM events)"

  private val ANCHORS =
    "anchors AS (SELECT metric, max(e) AS anchor_e FROM series GROUP BY metric)"

  /** Newest-N-per-metric bound for the faithful-decimation oracle slice —
    * shared by the Spark query and the recursive-CTE oracle so the two
    * sides cannot disagree about which rows are in scope. */
  private val F1_SLICE_N = 300

  /** Root for Spark-side oracle exports: when a pipeline's GENERATION
    * stage is not SQL-expressible (xxhash64 signatures, hyperplane
    * buckets, iterative centroids) but its VERIFY/rerank/cluster stage is,
    * the query exports the generation stage's output and the oracle
    * recomputes the downstream stage over exactly those rows — the same
    * split a production pipeline audits. Verify runs before the oracle
    * compare, so an export always precedes its reader; each export reads
    * itself back so the Spark side provably consumes the exported rows.
    *
    * PER-RUN (round-6 ADVICE): a fixed shared /tmp root let concurrent or
    * back-to-back runs (sf0.001 then sf0.01) overwrite each other's
    * exports, so the DuckDB compare could silently read a DIFFERENT run's
    * rows. [[Verify]] points the root at a sibling of its out dir before
    * running any query; [[oracleSql]] is a `def` that interpolates the
    * CURRENT root and Verify dumps oracle_sql.json AFTER the queries have
    * run, so each run's SQL travels with its own exports. The default
    * keeps ad-hoc/spec runs working. */
  @volatile private var oracleExportRoot: String = "/tmp/graft_oracle_export"

  /** When false, [[exportForOracle]] is an identity passthrough: Bench
    * disables exports so the registered queries measure the PRODUCTION
    * operators, not the gate plumbing (round-6 VERDICT item 5). */
  @volatile private var oracleExportEnabled: Boolean = true

  def configureOracleExport(root: String, enabled: Boolean): Unit = {
    oracleExportRoot = root
    oracleExportEnabled = enabled
  }

  private def exportGlob(name: String): String =
    s"$oracleExportRoot/$name/*.parquet"

  /** Shared band-verify oracle for the hour-grain HLL tier (batch a26 and
    * its streaming twin differ only in which export carries the
    * estimates): exact NDV per (metric, hour) from the series, estimate
    * from the export, the 5%-floor-2 verdict re-derived. */
  private def hllTierBandOracle(glob: String): String =
    s"""WITH $SERIES,
       |ex AS (SELECT metric, (e // 3600) * 3600 AS bucket_start,
       |         count(DISTINCT user_id) AS exact_users
       |       FROM series GROUP BY 1, 2),
       |ap AS (SELECT metric, bucket_start, approx_users
       |       FROM read_parquet('$glob'))
       |SELECT ex.metric, ex.bucket_start, ex.exact_users, ap.approx_users,
       |       abs(ap.approx_users - ex.exact_users) <=
       |         greatest(0.05 * ex.exact_users, 2.0) AS bound_ok
       |FROM ex JOIN ap USING (metric, bucket_start)""".stripMargin

  /** Shared exact-Jaccard verify oracle body: rebuilds the planted-variant
    * corpus ([[withPlantedVariants]] nDrop=3 in SQL), re-shingles both
    * sides of every exported (doc_a, doc_b) candidate, and recomputes
    * |∩|/|∪| with the same >= 0.6 gate — parameterized by export name so
    * the batch and streaming candidate generators face the identical
    * verify replay. */
  private def minhashVerifyOracle(name: String): String =
    s"""WITH docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id,
       |         array_to_string(w[1:GREATEST(len(w)-3, 1)], ' ') AS text
       |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
       |        FROM documents WHERE doc_id % 50 = 0)),
       |t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM docs),
       |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
       |         THEN list_transform(generate_series(1, len(w)-2),
       |                             i -> array_to_string(w[i:i+2], ' '))
       |         ELSE [array_to_string(w, ' ')] END) AS s FROM t),
       |p AS (SELECT doc_a, doc_b FROM read_parquet('${exportGlob(name)}')),
       |j AS (SELECT p.doc_a, p.doc_b,
       |        CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |          len(list_distinct(a.s || b.s)) AS jaccard
       |      FROM p JOIN sh a ON a.doc_id = p.doc_a
       |             JOIN sh b ON b.doc_id = p.doc_b)
       |SELECT doc_a, doc_b, jaccard
       |FROM j WHERE jaccard >= 0.6""".stripMargin

  /** Shared embedding cosine-verify oracle body (exact cosine from the
    * exported va/vb vectors, >= 0.95 gate on the unrounded value) —
    * parameterized by export name so the batch and streaming LSH gates
    * face the identical verify replay. */
  private def embeddingVerifyOracle(name: String): String =
    s"""WITH p AS (SELECT vec_a, vec_b,
       |             CAST(va AS DOUBLE[]) AS va, CAST(vb AS DOUBLE[]) AS vb
       |           FROM read_parquet('${exportGlob(name)}')),
       |s AS (SELECT vec_a, vec_b,
       |        list_dot_product(va, vb) /
       |          (sqrt(list_dot_product(va, va)) *
       |           sqrt(list_dot_product(vb, vb))) AS score
       |      FROM p)
       |SELECT vec_a, vec_b, score
       |FROM s WHERE score >= 0.95""".stripMargin

  /** Shared SimHash Hamming-verify oracle body (bit_count over XOR of the
    * exported signatures) — parameterized by export name so the batch and
    * streaming block generators face the identical verify replay. */
  private def simhashVerifyOracle(name: String): String =
    s"""SELECT doc_a, doc_b,
       |       CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
       |FROM read_parquet('${exportGlob(name)}')
       |WHERE bit_count(xor(sig_a, sig_b)) <= 3""".stripMargin

  /** Shared ANN-rerank oracle body: exact cosine top-5 over an exported
    * (q_id, c_id) candidate list, [[SimilarityOps.rerankTopK]]'s contract
    * (score DESC / c_id tie-break). The score is compared RAW under the
    * bit-deterministic dot-product contract — `vecDot` (Spark) and
    * `list_dot_product` (DuckDB) are the same left-to-right fold, so the
    * doubles are bit-identical with no rounding applied on either side. */
  private def annRerankOracle(name: String): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |p AS (SELECT q_id, c_id FROM read_parquet('${exportGlob(name)}')),
       |s AS (SELECT p.q_id, p.c_id,
       |        list_dot_product(qe.v, ce.v) /
       |          (sqrt(list_dot_product(qe.v, qe.v)) *
       |           sqrt(list_dot_product(ce.v, ce.v))) AS score
       |      FROM p JOIN e qe ON qe.vec_id = p.q_id
       |             JOIN e ce ON ce.vec_id = p.c_id),
       |r AS (SELECT q_id, c_id, score,
       |        row_number() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, c_id) AS rk FROM s)
       |SELECT q_id, rk, c_id, score FROM r WHERE rk <= 5""".stripMargin

  /** `model = true` marks a model-sized export (centroids, parameters —
    * rows ~ nClusters, never data-sized): those coalesce to one file.
    * Data-shaped exports (edge/candidate lists) write partitioned — a
    * single-task write of a full edge list would be a funnel at 100×, and
    * the oracle's `read_parquet` glob reads a directory of parts as
    * happily as one file. */
  private def exportForOracle(df: DataFrame, name: String,
                              model: Boolean = false): DataFrame =
    if (!oracleExportEnabled) df
    else {
      val path = s"$oracleExportRoot/$name"
      (if (model) df.coalesce(1) else df).write.mode("overwrite").parquet(path)
      df.sparkSession.read.parquet(path)
    }

  /** In-engine sanity floors for ann_recall's band verdict (re-derived in
    * the DuckDB oracle with the same constants), as INTEGER hit totals
    * per method over the 8 queries × 5 slots = 40 exact pairs. The
    * fixture embeddings are random, so genuine approximate recall is
    * modest by construction (measured sf0.01: lsh 4/40, ivf 36/40,
    * ivf_kmeans 34/40) — the floors catch a collapsed index (empty
    * candidates, broken bucketing), while the exact per-query recall
    * VALUES under the hash are the strong cross-engine check. */
  private val AnnLshMinHits = 1L
  private val AnnIvfMinHits = 20L

  /** Full-scan log-free BM25 (terms spark/join/vector, k=15) — ONE body,
    * three registry keys: the scan leg (`text_bm25`), the inverted-index
    * serving leg (`search_index_bm25`), and the post-delete serving leg
    * (`search_index_delete`, whose corpus is the WHERE-surviving docs)
    * must all reproduce it bit-exactly. */
  private def bm25Oracle(where: String, textExpr: String = "text"): String =
    s"""WITH t AS (SELECT doc_id, string_split_regex($textExpr, '\\s+') AS w FROM documents$where),
      |d AS (SELECT doc_id,
      |        CAST(len(w) AS DOUBLE) AS dl,
      |        CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS tf0,
      |        CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE) AS tf1,
      |        CAST(len(list_filter(w, x -> x = 'vector')) AS DOUBLE) AS tf2
      |      FROM t),
      |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
      |        CAST(SUM(CAST(dl AS BIGINT)) AS DOUBLE) AS sumdl,
      |        CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
      |        CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
      |        CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
      |      FROM d),
      |sc AS (SELECT doc_id,
      |  (((n - df0) + 0.5) / (df0 + 0.5)) *
      |    ((tf0 * (1.2 + 1.0)) / (tf0 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n))))
      |+ (((n - df1) + 0.5) / (df1 + 0.5)) *
      |    ((tf1 * (1.2 + 1.0)) / (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n))))
      |+ (((n - df2) + 0.5) / (df2 + 0.5)) *
      |    ((tf2 * (1.2 + 1.0)) / (tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n))))
      |  AS score FROM d, s)
      |SELECT doc_id, score FROM (
      |  SELECT doc_id, score FROM sc
      |  WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 15) q""".stripMargin

  private lazy val BM25_ORACLE = bm25Oracle("")

  /** [[bm25Oracle]] generalized to an arbitrary term list and k, with the
    * RANK in the output — the ranked-OR-retrieval check: row order itself
    * is pinned (score DESC, doc_id ASC), not just the (doc, score) set.
    * Same log-free expression tree, one tf/df slot per term. */
  private def bm25RankOracle(terms: Seq[String], k: Int,
                             exclude: Seq[String] = Nil): String = {
    // AND-NOT: docs containing ANY excluded term drop BEFORE the LIMIT
    // (an excluded doc must not consume a rank slot) — mirrors
    // SearchIndex.topkExcluding's anti-join placement
    val exPred =
      if (exclude.isEmpty) ""
      else "\n      |      AND doc_id NOT IN (SELECT doc_id FROM t WHERE " +
        exclude.map(t => s"len(list_filter(w, x -> x = '$t')) > 0")
          .mkString(" OR ") + ")"
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(w, x -> x = '$t')) AS DOUBLE) AS tf$i"
    }.mkString(",\n      |        ")
    val dfs = terms.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
      .mkString(",\n      |        ")
    val slots = terms.indices.map(i =>
      s"(((n - df$i) + 0.5) / (df$i + 0.5)) *\n      |    " +
        s"((tf$i * (1.2 + 1.0)) / (tf$i + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n))))")
      .mkString("\n      |+ ")
    s"""WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents),
      |d AS (SELECT doc_id,
      |        CAST(len(w) AS DOUBLE) AS dl,
      |        $tfs
      |      FROM t),
      |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
      |        CAST(SUM(CAST(dl AS BIGINT)) AS DOUBLE) AS sumdl,
      |        $dfs
      |      FROM d),
      |sc AS (SELECT doc_id,
      |  $slots
      |  AS score FROM d, s)
      |SELECT doc_id, score,
      |       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
      |FROM (SELECT doc_id, score FROM sc
      |      WHERE score > 0$exPred ORDER BY score DESC, doc_id LIMIT $k) q""".stripMargin
  }

  /** Direct 1h aggregation over raw events — the check both tier producers
    * (batch a24 and the streaming replay) must reproduce by composing their
    * 1m tier. ONE string, two registry keys: the legs share their oracle. */
  private lazy val ROLLUP_TIER_ORACLE =
    s"""WITH $SERIES
       |SELECT metric, CAST(FLOOR(e/3600.0) AS BIGINT)*3600 AS bucket_start, count(*) AS n,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) /
       |         CAST(count(*) AS DOUBLE) AS mean_val,
       |       min(value) AS min_val, max(value) AS max_val
       |FROM series GROUP BY 1, 2""".stripMargin

  /** Trained-quality scoring check — features from text via the
    * text_quality-proven arithmetic forms, logit via `list_dot_product`
    * against the exported weight model. ONE string, two keys: the batch
    * scorer and its streaming-gate replay face the identical check. */
  private lazy val QUALITY_SCORE_ORACLE: String =
    s"""WITH w AS (SELECT wv FROM read_parquet('${exportGlob("quality_weights")}')),
       |t AS (SELECT doc_id,
       |        len(string_split_regex(text, '\\s+')) AS n,
       |        len(list_filter(string_split_regex(text, '\\s+'),
       |            x -> x IN ('the','a','of','and','to','in'))) AS stop_hits,
       |        length(text) AS chars,
       |        length(text) - length(regexp_replace(text, '[\\.,;:!?]', '', 'g')) AS punct
       |      FROM documents),
       |f AS (SELECT doc_id,
       |        [1.0,
       |         LEAST(CAST(n AS DOUBLE)/100.0, 1.0),
       |         CAST(stop_hits AS DOUBLE)/n,
       |         CAST(punct AS DOUBLE)/chars,
       |         (CAST(chars - (n - 1) AS DOUBLE)/n)/10.0] AS x
       |      FROM t)
       |SELECT doc_id, list_dot_product(x, w.wv) AS logit,
       |       list_dot_product(x, w.wv) > 0.0 AS keep
       |FROM f CROSS JOIN w""".stripMargin

  /** Unrolled 4-iteration integer PageRank over the content-hash link
    * graph — the recursive-CTE-free replay of `GraphOps.pageRank` (DuckDB
    * disallows aggregation in a recursive term, and the iteration count is
    * a compile-time constant anyway, so each round is its own CTE stage
    * with the same integral `//` steps). */
  private lazy val PAGERANK_ORACLE: String = {
    def stage(prev: String, out: String): String =
      s"""$out AS (SELECT n.node_id,
         |  CAST(((1000000000000 * 15) // (100 * st.n)) + COALESCE(s.cin, 0) AS BIGINT) AS pr
         |FROM nodes n CROSS JOIN st LEFT JOIN (
         |  -- SUM(BIGINT) widens to HUGEINT in DuckDB; every rank is < 1e12
         |  -- so the narrowing cast is lossless and keeps the column int64.
         |  SELECT e.dst AS node_id, SUM((p.pr * 85) // (100 * e.outdeg)) AS cin
         |  FROM e JOIN $prev p ON p.node_id = e.src GROUP BY e.dst) s USING (node_id))""".stripMargin
    s"""WITH st AS (SELECT count(*) AS n FROM documents),
       |e0 AS (SELECT d.doc_id AS src,
       |         CAST('0x' || substr(md5(d.text || '#' || t.t), 1, 12) AS BIGINT) % st.n AS dst
       |       FROM documents d CROSS JOIN st
       |            CROSS JOIN (SELECT unnest(range(3)) AS t) t),
       |deg AS (SELECT src, count(*) AS outdeg FROM e0 GROUP BY src),
       |e AS (SELECT e0.src, e0.dst, deg.outdeg FROM e0 JOIN deg USING (src)),
       |nodes AS (SELECT DISTINCT x AS node_id
       |          FROM (SELECT src AS x FROM e0 UNION ALL SELECT dst FROM e0)),
       |pr0 AS (SELECT node_id, (1000000000000 // st.n) AS pr FROM nodes CROSS JOIN st),
       |${stage("pr0", "it1")},
       |${stage("it1", "it2")},
       |${stage("it2", "it3")},
       |${stage("it3", "it4")}
       |SELECT node_id, pr FROM it4""".stripMargin
  }

  /** Exact global term counts, top-20 — the check both heavy-hitter
    * producers (batch a34 sketch and its streaming replay twin) must
    * reproduce. ONE string, two registry keys. */
  private lazy val A34_TOPK_ORACLE =
    """WITH t AS (SELECT unnest(string_split_regex(text, '\s+')) AS term FROM documents),
      |f AS (SELECT term, count(*) AS approx_count FROM t GROUP BY 1),
      |r AS (SELECT term, approx_count,
      |        row_number() OVER (ORDER BY approx_count DESC, term) AS rk FROM f)
      |SELECT rk, term, approx_count FROM r WHERE rk <= 20""".stripMargin

  /** Shared by audio_energy and its streaming twin: windows replayed
    * from the planted sample formula (exact BIGINT arithmetic). */
  private lazy val AUDIO_ENERGY_ORACLE =
    """WITH d AS (SELECT doc_id,
      |  CAST(400 + doc_id % 600 AS INTEGER) AS n FROM documents),
      |w AS (SELECT doc_id, n,
      |  unnest(generate_series(0, (n - 1) // 160)) AS widx FROM d),
      |s AS (SELECT doc_id, widx,
      |  (doc_id * 31 + unnest(generate_series(widx * 160,
      |     least(widx * 160 + 159, n - 1))) * 7) % 4096 - 2048 AS v
      |  FROM w)
      |SELECT doc_id, CAST(widx AS INTEGER) AS window_idx,
      |  CAST(count(*) AS INTEGER) AS window_len,
      |  CAST(SUM(v * v) AS BIGINT) AS energy,
      |  CAST(MAX(ABS(v)) AS INTEGER) AS peak
      |FROM s GROUP BY 1, 2""".stripMargin

  /** Shared by rollup_view_incremental and its streaming-ingest twin:
    * the maintained view must equal a from-scratch day rollup. */
  private lazy val ROLLUP_VIEW_ORACLE =
    s"""WITH $SERIES
       |SELECT metric, e // 86400 AS day, count(*) AS cnt,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
       |  min(value) AS min_val, max(value) AS max_val,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS mean_val
       |FROM series GROUP BY 1, 2""".stripMargin

  /** Shared by video_frame_sample and its streaming twin: stride-2 frame
    * samples replayed from the planted byte arithmetic. */
  private lazy val VIDEO_FRAME_ORACLE =
    """WITH d AS (SELECT doc_id,
      |  CAST(4 + doc_id % 5 AS INTEGER) AS w,
      |  CAST(3 + doc_id % 4 AS INTEGER) AS h,
      |  CAST(3 + doc_id % 6 AS INTEGER) AS n FROM documents),
      |f AS (SELECT doc_id, w*h*3 AS s,
      |  unnest(generate_series(0, n - 1, 2)) AS fi FROM d),
      |b AS (SELECT doc_id, fi,
      |  (doc_id*13 + fi*17 + unnest(generate_series(0, s - 1))*5) % 251 AS v
      |  FROM f)
      |SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
      |  CAST(count(*) AS INTEGER) AS frame_len,
      |  CAST(SUM(v) AS BIGINT) AS byte_sum,
      |  CAST(MAX(v) AS INTEGER) AS max_byte
      |FROM b GROUP BY doc_id, fi""".stripMargin

  /** Shared by funnel_steps and its streaming twin: EXISTS-a-chain per
    * depth as self-joins — non-decreasing times, completion window binds
    * t_k - t_1 (intermediate windows are implied by monotonicity). */
  private lazy val FUNNEL_ORACLE =
    s"""WITH $SERIES,
       |s1 AS (SELECT user_id, e FROM series WHERE metric = 'view'),
       |s2 AS (SELECT user_id, e FROM series WHERE metric = 'click'),
       |s3 AS (SELECT user_id, e FROM series WHERE metric = 'purchase'),
       |u1 AS (SELECT DISTINCT user_id FROM s1),
       |u2 AS (SELECT DISTINCT a.user_id FROM s1 a
       |       JOIN s2 b ON b.user_id = a.user_id
       |        AND b.e >= a.e AND b.e - a.e <= 600),
       |u3 AS (SELECT DISTINCT a.user_id FROM s1 a
       |       JOIN s2 b ON b.user_id = a.user_id AND b.e >= a.e
       |       JOIN s3 c ON c.user_id = a.user_id
       |        AND c.e >= b.e AND c.e - a.e <= 600)
       |SELECT 1 AS step_idx, 'view' AS step,
       |       (SELECT count(*) FROM u1) AS users
       |UNION ALL
       |SELECT 2, 'click', (SELECT count(*) FROM u2)
       |UNION ALL
       |SELECT 3, 'purchase', (SELECT count(*) FROM u3)""".stripMargin

  /** Exactness-regime quantile-tier oracle — ONE string, two keys (batch
    * a35 + streaming twin): exact 1-based ceil(phi*n)-rank sample per
    * (metric, hour), rank multiply forced through DOUBLE so both engines
    * round phi*n with the same IEEE product. */
  private lazy val A35_QUANTILE_ORACLE =
    s"""WITH $SERIES,
       |b AS (SELECT metric, CAST(FLOOR(e/3600.0) AS BIGINT)*3600 AS bucket_start, value FROM series),
       |w AS (SELECT metric, bucket_start, value,
       |        row_number() OVER (PARTITION BY metric, bucket_start ORDER BY value) AS rn,
       |        count(*) OVER (PARTITION BY metric, bucket_start) AS n
       |      FROM b),
       |q AS (SELECT metric, bucket_start,
       |        max(CASE WHEN rn = GREATEST(1, CAST(CEIL(CAST(0.5 AS DOUBLE)*n) AS BIGINT)) THEN value END) AS p50,
       |        max(CASE WHEN rn = GREATEST(1, CAST(CEIL(CAST(0.95 AS DOUBLE)*n) AS BIGINT)) THEN value END) AS p95,
       |        max(CASE WHEN rn = GREATEST(1, CAST(CEIL(CAST(0.99 AS DOUBLE)*n) AS BIGINT)) THEN value END) AS p99
       |      FROM w GROUP BY 1, 2)
       |SELECT metric, bucket_start, p50, p95, p99 FROM q""".stripMargin

  /** CUSUM oracle — ONE string, two keys: exact decimal arithmetic is
    * associative, so [[graft.operators.TrendOps.cusumChunked]] is
    * bit-identical to the sequential [[graft.operators.TrendOps.cusum]]
    * and both registrations share this compare. */
  private lazy val A20_CUSUM_ORACLE =
    s"""WITH $SERIES,
       |d AS (SELECT metric, event_id, e, CAST(value AS DECIMAL(18,2)) AS vd FROM series),
       |w AS (SELECT metric, event_id, e,
       |        count(*) OVER (PARTITION BY metric) AS n,
       |        sum(vd) OVER (PARTITION BY metric) AS total,
       |        CAST(row_number() OVER o AS BIGINT) AS k,
       |        sum(vd) OVER (o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM d WINDOW o AS (PARTITION BY metric ORDER BY e, event_id)),
       |s AS (SELECT metric, event_id, e, n, n * cum - k * total AS scaled FROM w)
       |SELECT metric, event_id, e,
       |       CAST(CAST(scaled AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS cusum,
       |       abs(scaled) > n * CAST(50.00 AS DECIMAL(18,2)) AS breach
       |FROM s""".stripMargin

  /** Derivative oracle — ONE string, two keys (same associativity argument
    * for [[graft.operators.TrendOps.derivativeChunked]]). */
  private lazy val A27_DERIVATIVE_ORACLE =
    s"""WITH $SERIES,
       |d AS (SELECT metric, event_id, e, CAST(value AS DECIMAL(18,2)) AS vd FROM series),
       |w AS (SELECT metric, event_id, e, vd,
       |        lag(vd) OVER o AS pv, lag(e) OVER o AS pe
       |      FROM d WINDOW o AS (PARTITION BY metric ORDER BY e, event_id))
       |SELECT metric, event_id, e,
       |       CAST(CAST(vd - pv AS VARCHAR) AS DOUBLE) / CAST(e - pe AS DOUBLE) AS slope
       |FROM w WHERE pe IS NOT NULL AND e != pe""".stripMargin

  /** Disjoint-band CASE generated from [[TrendParams.dayBins]] — the same
    * bins (and the same strict `>` boundary) as [[TrendOps.bandExpr]]. */
  private val BAND_CASE =
    P.dayBins.sorted
      .map(b => s"WHEN s.e > a.anchor_e - ${b}*86400 THEN $b")
      .mkString("CASE ", "\n     ", " END")

  /** A3 completeness-gate fragment (threshold from [[TrendParams]]). */
  private val IS_COMPLETE =
    s"CEIL((g.last_e - g.first_e)/3600.0) > ${P.minDataHoursToRenderBin} AS is_complete"

  /** Shared tail of every extents oracle: hash agg per (metric, day_bin) +
    * deterministic argmin/argmax tie-break (min ts for min, max ts for max). */
  private val EXTENTS_TAIL =
    s"""agg AS (SELECT metric, day_bin, count(*) AS slice_len,
       |               min(value) AS min_val, max(value) AS max_val,
       |               min(e) AS first_e, max(e) AS last_e
       |        FROM banded WHERE day_bin IS NOT NULL GROUP BY 1, 2),
       |mn AS (SELECT b.metric, b.day_bin, min(b.e) AS min_ts FROM banded b
       |       JOIN agg g ON b.metric = g.metric AND b.day_bin = g.day_bin
       |        AND b.value = g.min_val GROUP BY 1, 2),
       |mx AS (SELECT b.metric, b.day_bin, max(b.e) AS max_ts FROM banded b
       |       JOIN agg g ON b.metric = g.metric AND b.day_bin = g.day_bin
       |        AND b.value = g.max_val GROUP BY 1, 2)
       |SELECT g.metric, g.day_bin, g.slice_len, g.min_val, mn.min_ts,
       |       g.max_val, mx.max_ts, g.first_e, g.last_e,
       |       $IS_COMPLETE
       |FROM agg g
       |JOIN mn ON g.metric = mn.metric AND g.day_bin = mn.day_bin
       |JOIN mx ON g.metric = mx.metric AND g.day_bin = mx.day_bin""".stripMargin

  /** Driver-boundary guard: the harness may invoke `entry`/`queries` with a
    * session it built itself (not [[GraftSession]]). Three confs are load-
    * bearing for oracle parity: `nanosAsLong` (a TIMESTAMP(NANOS) `ts`
    * generation is otherwise rejected outright), NTZ inference off (a
    * naive-micros `ts` generation must read as plain TIMESTAMP so its
    * wall-clock is taken as UTC, matching DuckDB's naive reading), and a
    * UTC session timezone (from_unixtime rendering and to_timestamp
    * literals must match DuckDB's naive-UTC comparisons). Every query is
    * routed through this via the [[queries]] wrapper, so TPC-H readers are
    * covered too. */
  private def guarded(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s
  }

  private def series(s: SparkSession, dir: String): DataFrame =
    Tables.metricSeries(guarded(s), dir)

  /** The shared corpus-append fixture: docs 300+ are the fresh batch,
    * docs 0..49 replay under offset ids (exact dups of the <300 corpus),
    * and doc 300 replays once within the batch under id 20000. Used by
    * `dedup_incremental` and its streaming twin so both face the same
    * planted dups. */
  private def incrementalBatchFixture(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") >= 300)
      .unionByName(docs.where(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + lit(10000L)))
      .unionByName(docs.where(col("doc_id") === 300)
        .withColumn("doc_id", lit(20000L)))

  /** Build the three-version snapshot-store lifecycle the snapshot_*
    * queries read from: v1 = docs below 300, v2 = append of the rest,
    * v3 = compaction. One fresh store per query invocation (unique temp
    * root) keeps every run bit-deterministic. */
  private def buildSnapshotFixture(s: SparkSession, dir: String, root: String): Unit = {
    val docs = Tables.documents(s, dir).select("doc_id", "lang", "source")
    sources.SnapshotStore.append(docs.where(col("doc_id") < 300), root)
    sources.SnapshotStore.append(docs.where(col("doc_id") >= 300), root)
    sources.SnapshotStore.compact(s, root)
  }

  /** Tie-free slice of the series: rows whose (metric, second) is unique.
    * The typed streaming twins ([[graft.streaming.StreamOps]] derivative /
    * cusum / ewma) carry no event_id to break same-second ties the way
    * the batch windows do, so their exact-parity contract — and their
    * CORRECTNESS rows — are defined over this slice; tie behavior stays
    * pinned by the batch oracles (a27/a20/a14) and StreamingSpec. */
  private def uniqueSeries(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("metric", "e")
    series(s, dir)
      .withColumn("__c", count(lit(1)).over(w))
      .where(col("__c") === 1)
      .drop("__c")
  }

  /** One-slot registry for pipeline_tokenize's persisted intermediate:
    * each invocation frees the previous invocation's blocks, bounding a
    * long-lived session at one live copy. */
  private val tokenizeCache =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** SQL twin of [[uniqueSeries]] (requires the `series` CTE in scope). */
  private val UNIQUE_SERIES =
    """useries AS (SELECT metric, e, value FROM (
      |        SELECT metric, e, value, count(*) OVER (PARTITION BY metric, e) AS c
      |        FROM series) WHERE c = 1)""".stripMargin

  /** The PUBLISH-side gate fixture: a 1-in-20 events slice (disjoint from
    * the subscribe fixture's `% 20 = 3` slice) encoded to the wire shape
    * the topiclog sink carries — `channel` = event_type, `value` = the
    * same to_json message [[graft.sources.TopicLogFixture]] uses, plus an
    * event-time `ts` so the streaming twin can be replay-sliced. */
  private def publishEncodedEvents(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsRaw(guarded(s), dir)
    val e = Tables.tsEpochSeconds(raw)
    raw.where(pmod(col("event_id"), lit(20)) === 7)
      .select(timestamp_seconds(e).as("ts"),
        col("event_type").as("channel"),
        to_json(struct(
          col("event_id").as("id"), e.as("e"),
          col("user_id").as("uid"),
          col("value").cast("string").as("v"))).as("value"))
  }

  /** Publish-gate epilogue: the read-back must detach from the temp log
    * root before it is deleted (eager localCheckpoint), like the replay
    * harness does. */
  private def decodePublishedLog(s: SparkSession, root: java.nio.file.Path): DataFrame =
    try
      graft.sources.TopicLogFixture.decodeEvents(
          s.read.format("topiclog").option("path", root.toString).load())
        .localCheckpoint(true)
    finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(root.toFile)
    }

  // ---- queries -------------------------------------------------------------

  /** Gate eps for the a35 quantile tier and its streaming twin: below
    * 1/(2N) at every fixture scale, so no GK sample ever compresses away
    * (the documented exactness regime both oracle rows rely on). */
  private val QTIER_EPS = 1e-9

  /** Shared a35 downstream (batch tier + streaming twin): union-merge the
    * per-(metric, minute) GK sketches into hour buckets and serve
    * p50/p95/p99 from the merged summaries. Input: (metric, minute LONG
    * epoch-seconds, sk). */
  private def quantileHoursFromMinuteTier(minuteSk: DataFrame): DataFrame =
    minuteSk
      .withColumn("bucket_start", floor(col("minute") / lit(3600.0)).cast("long") * 3600)
      .groupBy("metric", "bucket_start")
      .agg(QuantileSketch.merged(col("sk"), QTIER_EPS).as("sk"))
      .select(col("metric"), col("bucket_start"),
        QuantileSketch.quantile(col("sk"), QTIER_EPS, 0.5).as("p50"),
        QuantileSketch.quantile(col("sk"), QTIER_EPS, 0.95).as("p95"),
        QuantileSketch.quantile(col("sk"), QTIER_EPS, 0.99).as("p99"))

  /** Shared a34 downstream (batch sketch + streaming twin): union-merge the
    * per-group MG summaries into one global summary, explode, rank top-20
    * (count desc, term asc). The ranked relation is model-sized (≤ cap
    * rows), never the term stream. */
  private def topkFromSummaries(perGroup: DataFrame): DataFrame =
    perGroup.agg(HeavyHitters.merged(col("sk"), cap = 256).as("sk"))
      .select(explode(col("sk")).as("t"))
      .select(col("t.term").as("term"), col("t.count").as("approx_count"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("approx_count").desc, col("term"))).cast("long"))
      .where(col("rk") <= 20)
      .select("rk", "term", "approx_count")

  /** Every 50th document plus a variant with the last `nDrop` tokens
    * removed — the planted near-duplicates the LSH/dedup queries detect
    * (the base corpus is fully distinct). */
  private def withPlantedVariants(documents: DataFrame, nDrop: Int): DataFrame = {
    val docs = documents.select("doc_id", "text")
    docs.unionByName(docs.where(col("doc_id") % 50 === 0)
      .select(
        (col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), lit(1),
          greatest(size(TextOps.tokens(col("text"))) - nDrop, lit(1)))).as("text")))
  }

  private val viewSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Register a per-call UNIQUE temp view, run the SQL against it, then
    * drop the view (analysis is eager, so the returned frame keeps its
    * resolved plan) — query functions stay pure: no fixed global view
    * names to race on under concurrent execution, nothing leaked into the
    * caller's session catalog. */
  private def withTempView(df: DataFrame, prefix: String)(sql: String => String): DataFrame = {
    val name = s"${prefix}_${viewSeq.incrementAndGet()}"
    df.createOrReplaceTempView(name)
    try df.sparkSession.sql(sql(name))
    finally df.sparkSession.catalog.dropTempView(name)
  }

  /** Re-aggregate a 1-minute tier `(metric, b1m, n, sv, mn, mx)` into the 1h
    * tier — count/sum/min/max merge associatively, which is the a24
    * compositionality contract. ONE shared composer for both tier producers
    * (batch `a24_rollup_tier`, streaming `stream_tier_parity`) so the two
    * legs cannot desynchronize from the shared oracle. */
  private def composeHourTier(t1m: DataFrame): DataFrame =
    t1m
      .withColumn("bucket_start", floor(col("b1m") / lit(3600.0)).cast("long") * 3600)
      .groupBy("metric", "bucket_start")
      .agg(sum("n").as("n"), sum("sv").as("sv"),
        min("mn").as("min_val"), max("mx").as("max_val"))
      .select(col("metric"), col("bucket_start"), col("n"),
        (col("sv").cast("double") / col("n").cast("double")).as("mean_val"),
        col("min_val"), col("max_val"))

  /** Every registered query, each wrapped in the driver-boundary [[guarded]]
    * conf normalization (ADVICE r2: TPC-H entries previously bypassed it). */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries.map { case (name, f) =>
      name -> ((s: SparkSession, dir: String) => f(guarded(s), dir))
    }

  private val baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1: bounded newest-first scan (the reference's LRANGE limit).
    "s1_bounded_scan" -> ((s, dir) =>
      series(s, dir)
        .orderBy(col("e").desc, col("event_id").desc)
        .limit(TrendParams.default.maxListQueryLength)
        .select("event_id", "metric", "e", "value")),

    // S3 as a first-class DataSource V2: subscribe → parse → typed rows.
    // The fixture plays the sensors (materializes a 1-in-20 events slice
    // as per-event-type channel logs of JSON lines); the graded surface is
    // the `topiclog` READ + from_json decode, oracled against DuckDB on
    // the original parquet. See graft.sources.TopicLog.
    "s3_pubsub_roundtrip" -> ((s, dir) => {
      val root = graft.sources.TopicLogFixture.eventsLog(
        s, dir, s"$oracleExportRoot/_topiclog_fixture")
      graft.sources.TopicLogFixture.decodeEvents(
        s.read.format("topiclog").option("path", root)
          .option("pattern", "*").load())
    }),

    // The same subscription as a genuine micro-batched STREAM: byte-capped
    // triggers through the DSv2 offset path, checkpointed, decoded with
    // the identical expressions — shares the batch roundtrip's oracle.
    "stream_pubsub_parity" -> ((s, dir) => {
      val root = graft.sources.TopicLogFixture.eventsLog(
        s, dir, s"$oracleExportRoot/_topiclog_fixture")
      graft.streaming.StreamReplay.pubsubReplay(s, root)
    }),

    // The PUBLISH half of the loop (reference C2 response PUBLISH
    // trend-o-meter:247-248, cmdlog LPUSH :253-262, and the sensors' own
    // publishes): a disjoint events slice encoded to wire JSON, written
    // through the DSv2 topiclog BATCH write (distributed staged segments +
    // ordered driver splice), subscribed back, decoded — a green hash row
    // proves the sink's append path loses and duplicates nothing.
    "pubsub_publish_roundtrip" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_pub_batch_")
      publishEncodedEvents(s, dir).drop("ts").write.format("topiclog")
        .mode("append").option("path", root.toString).save()
      decodePublishedLog(s, root)
    }),

    // Same wire rows driven through a genuine checkpointed STREAMING
    // write: multiple epochs, per-epoch staged commits, epoch markers —
    // then subscribed back batch-side. Shares the batch publish oracle.
    "stream_pubsub_sink_parity" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_pub_stream_")
      graft.streaming.StreamReplay.topicPublishReplay(
        publishEncodedEvents(s, dir), root.toString)
      decodePublishedLog(s, root)
    }),

    // A2+A3 flagship: banded day-bin extents with completeness gate.
    "a2_banded_extents" -> ((s, dir) => TrendOps.bandedExtents(series(s, dir))),

    // Same contract through the fused single-pass Aggregator (UDAF
    // extension point); shares the flagship's oracle.
    "a2_banded_extents_fused" -> ((s, dir) => TrendOps.bandedExtentsFused(series(s, dir))),

    // Cumulative ("minMaxSince"-as-named) variant: trailing windows overlap.
    "a2_cumulative_extents" -> ((s, dir) => TrendOps.bandedExtentsCumulative(series(s, dir))),

    // The reference's full cold-start lifecycle (SURVEY §3.1) as ONE
    // declarative plan: F1 decimation → A2/A3 extents. (M3's cull is
    // subsumed — the horizon equals the largest band; S1's 14400-sample
    // bound is a source concern, exercised by s1_bounded_scan.)
    "pipeline_cold_start" -> ((s, dir) =>
      TrendOps.bandedExtents(
        TrendOps.decimateBucketized(series(s, dir),
            TrendParams.default.minSampleGapSeconds.toLong)
          .select(col("event_id"), col("metric"), col("e"), col("value")))),

    // A1: whole-series argmin/argmax per metric.
    "a1_argminmax" -> ((s, dir) => TrendOps.argMinMax(series(s, dir))),

    // A5: rolling mean of the newest N samples per metric (§2.6 param).
    "a5_rolling_mean" -> ((s, dir) =>
      TrendOps.rollingMean(series(s, dir), TrendParams.default.currentValueSamples)),

    // F1 (bucketized): newest sample per (metric, gap bucket) (§2.6 param).
    "f1_decimate" -> ((s, dir) =>
      TrendOps.decimateBucketized(series(s, dir),
        TrendParams.default.minSampleGapSeconds.toLong)),

    // F1 (faithful): reference anchored-gap decimation — a stateful scan
    // with no single-statement SQL form, PROMOTED (round 16) from
    // rows-only to a full oracle via the export-the-leg technique: the
    // kept rows export, and the oracle re-derives the anchored-gap
    // chain's DEFINING properties set-wise over the whole series (the
    // f1_decimate_verify SQL — seed = series argmax, every gap strict,
    // no skipped eligible row, chain exhausted, containment), filtering
    // out any violating metric. Hash-match ⟺ the export IS the unique
    // chain. The bounded slice below additionally carries a sequential
    // recursive-CTE replay of the exact semantics.
    "f1_decimate_faithful" -> ((s, dir) =>
      exportForOracle(
        TrendOps.decimateFaithful(series(s, dir),
          TrendParams.default.minSampleGapSeconds).toDF(),
        "f1_decimate_full")),

    // Chain-property verify for the FULL faithful decimation (the slice
    // oracle replays newest-300 only): the kept rows export, and DuckDB
    // re-validates the anchored-gap chain with disjoint-interval violation
    // joins over the whole series — seed = series argmax, every gap
    // strict, no skipped eligible row, chain exhausted at the tail, and
    // containment of every kept row. No sequential replay, so this stays
    // affordable at any SF; green only if the export IS the unique chain.
    "f1_decimate_verify" -> ((s, dir) =>
      exportForOracle(
        TrendOps.decimateFaithful(series(s, dir),
          TrendParams.default.minSampleGapSeconds).toDF(),
        "f1_decimate_verify")),

    // F1 (faithful, gated slice): the same operator over the newest
    // F1_SLICE_N rows per metric, where a DuckDB recursive-CTE replay of
    // the sequential anchored-gap chain IS affordable (~2.7 s at sf0.01 vs
    // 35 s over the full fixture — COVERAGE F1). The slice is itself
    // newest-anchored, so the chain the oracle walks starts from the exact
    // row the full scan starts from — this checks the operator's real
    // semantics (seed row, strict >, last-KEPT anchoring, tie order), not
    // a simplification.
    "f1_decimate_faithful_slice" -> ((s, dir) => {
      val newestFirst =
        Window.partitionBy("metric").orderBy(col("e").desc, col("event_id").desc)
      val sliced = series(s, dir)
        .withColumn("rn", row_number().over(newestFirst))
        .where(col("rn") <= F1_SLICE_N).drop("rn")
      TrendOps.decimateFaithful(sliced,
        TrendParams.default.minSampleGapSeconds).toDF()
    }),

    // M3: retention cull to the max-day-bin horizon, summarized per metric.
    "m3_retention" -> ((s, dir) =>
      TrendOps.retentionCull(series(s, dir), TrendParams.default.retentionSeconds)
        .groupBy("metric")
        .agg(count(lit(1)).as("retained"),
          min("e").as("first_e"), max("e").as("last_e"))),

    // A6: per-window message/byte rates per metric (§2.6 param).
    "a6_rate" -> ((s, dir) =>
      TrendOps.rateMetrics(series(s, dir), TrendParams.default.rateWindowSeconds.toLong)),

    // A4 (batch analogue): micro-batch mean per metric (§2.6 param).
    "a4_batch_mean" -> ((s, dir) =>
      TrendOps.microBatchMean(series(s, dir), TrendParams.default.microBatchSeconds.toLong)),

    // A7 (batch analogue): gap-based sessionization per user (§2.6 param).
    "a7_sessions" -> ((s, dir) =>
      TrendOps.sessionize(series(s, dir), TrendParams.default.sessionGapSeconds)),

    // Sketch aggregates (HLL++ distinct, approx percentile) next to exact
    // counterparts — BAND-ORACLED (r14, the a26 technique): the
    // engine-specific estimates ride to the oracle via export; the exact
    // NDV and the approx-median's RANK are re-derived independently in
    // both engines, and both band verdicts land under the hash. Spark
    // hard-fails out-of-band pre-export. NDV band = 15% floor 2 (3σ for
    // rsd = 0.05); median band = tie-sound INTERVAL test (see the
    // rank-band comment at the rk aggregate below) with slack
    // n/1000 + 1 (percentile_approx accuracy 10000 ⇒ rank error ≤ n/10000).
    "a9_sketch_stats" -> ((s, dir) => {
      val sr = series(s, dir)
      val st = TrendOps.sketchStats(sr).localCheckpoint(true)
      val ap = st.select("metric", "approx_users", "p50_approx")
      val ex = sr.groupBy("metric").agg(
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
      // TIE-SOUND rank band: the sketch's guarantee is that SOME
      // occurrence of the returned value sits within the rank slack of
      // the target — so the test is interval INTERSECTION, not a
      // max-rank distance (le alone over-counts duplicates of the
      // returned value and would hard-fail a correct sketch on a
      // tie-heavy metric): lt < target + slack AND le >= target − slack.
      val rk = sr.join(broadcast(ap.select("metric", "p50_approx")), "metric")
        .groupBy("metric")
        .agg(count(when(col("value") <= col("p50_approx"), 1)).as("le"),
          count(when(col("value") < col("p50_approx"), 1)).as("lt"))
      val verdict = ap.join(ex, "metric").join(rk, "metric")
        .withColumn("__t", ceil(col("n") / lit(2.0)).cast("long"))
        .withColumn("__s", expr("n div 1000") + lit(1L))
        .select(col("metric"), col("exact_users"), col("approx_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            greatest(col("exact_users") * lit(0.15), lit(2.0))).as("ndv_ok"),
          col("p50_approx"),
          (col("lt") < col("__t") + col("__s") &&
            col("le") >= col("__t") - col("__s")).as("p50_rank_ok"))
        .localCheckpoint(true)
      verdict.collect().foreach { r =>
        require(r.getAs[Boolean]("ndv_ok") && r.getAs[Boolean]("p50_rank_ok"),
          s"sketch estimate outside its band: $r")
      }
      exportForOracle(ap, "a9_approx", model = true)
      verdict
    }),

    // a9's GK leg made ORACLE-CHECKABLE via the a35 technique (round-10
    // verdict item 8): the same mergeable GK summary, built per metric in
    // the exactness regime (eps 1e-9 < 1/(2N) at every fixture scale), so
    // each queried percentile is the exact ceil(phi*n)-rank SAMPLE — a
    // picked value, no arithmetic, bit-comparable across engines. This
    // splits a9 the way minhash splits candidates/verify: the HLL leg
    // stays rows-only on a9_sketch_stats (register-hash estimates are
    // engine-specific), the quantile leg faces SQL here.
    "a9_sketch_verify" -> ((s, dir) =>
      series(s, dir).groupBy("metric")
        .agg(QuantileSketch.summary(col("value"), QTIER_EPS).as("sk"))
        .select(col("metric"),
          QuantileSketch.quantile(col("sk"), QTIER_EPS, 0.5).as("p50_sketch"),
          QuantileSketch.quantile(col("sk"), QTIER_EPS, 0.9).as("p90_sketch"),
          QuantileSketch.quantile(col("sk"), QTIER_EPS, 0.99).as("p99_sketch"))),

    // Exact percentiles per metric (interpolated median/tail).
    "a10_percentiles" -> ((s, dir) =>
      series(s, dir).groupBy("metric").agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        expr("percentile(value, 0.99)").as("p99"))),

    // Time-weighted mean per metric (interval-weighted — the correct
    // average for irregular sampling).
    "a12_time_weighted_mean" -> ((s, dir) => TrendOps.timeWeightedMean(series(s, dir))),

    // Resample to a 1-minute grid with forward fill (gap repair — the
    // timeseries resampling op), summarized per metric for the gate:
    // grid size, observed points, filled points, picked endpoint values.
    "a13_resample_ffill" -> ((s, dir) =>
      TrendOps.resampleFfill(series(s, dir), TrendParams.default.minSampleGapSeconds.toLong)
        .groupBy("metric")
        .agg(
          count(lit(1)).as("grid_points"),
          count(col("value")).as("observed"),
          count(col("filled")).as("non_null_filled"),
          min("t").as("first_t"), max("t").as("last_t"),
          max(struct(col("t"), col("filled"))).getField("filled").as("last_filled"))),

    // Outlier detection: samples beyond 3 standard deviations of their
    // metric's mean, summarized per metric. Mean/stddev come from exact
    // decimal sums (same determinism pattern as a11), broadcast back to the
    // scan — the fact table is never shuffled.
    "a16_outliers" -> ((s, dir) => {
      val sr = series(s, dir)
      val v = col("value").cast("decimal(18,2)")
      val stats = sr.groupBy("metric").agg(
        count(lit(1)).cast("double").as("sn"),
        sum(v).cast("double").as("sv"),
        sum(v * v).cast("double").as("svv"))
        // a singleton group has no sample variance: filter BEFORE the
        // (sn - 1) division, which ANSI mode refuses as 0/0 (same guard
        // a25_corr_matrix carries)
        .where(col("sn") >= 2)
        .select(col("metric"), (col("sv") / col("sn")).as("mu"),
          sqrt((col("svv") - col("sv") * col("sv") / col("sn")) / (col("sn") - 1)).as("sd"))
      sr.join(broadcast(stats), "metric")
        .where(abs(col("value") - col("mu")) > col("sd") * 3)
        .groupBy("metric")
        .agg(count(lit(1)).as("n_outliers"),
          min("value").as("min_out"), max("value").as("max_out"))
    }),

    // Resample with linear interpolation (full grid — the gap values are
    // the interesting output).
    "a17_resample_linear" -> ((s, dir) =>
      TrendOps.resampleLinear(series(s, dir), TrendParams.default.minSampleGapSeconds.toLong)),

    // EWMA per metric. The sequential recurrence is replayed bit-exactly by
    // a DuckDB recursive CTE (one iteration per series position), so this
    // is oracle-checked despite being a stateful scan on the Spark side.
    "a14_ewma" -> ((s, dir) => TrendOps.ewma(series(s, dir), alpha = 0.2).toDF()),

    // Holt double-exponential smoothing (level + trend + one-step
    // forecast) — the a14 contract at second order: the recursive-CTE
    // oracle replays the identical expression tree in the identical
    // (e, event_id) order, so the compare is bit-exact.
    "a36_holt" -> ((s, dir) =>
      TrendOps.holt(series(s, dir), alpha = 0.3, beta = 0.1).toDF()),

    // Time-chunked parallel EWMA — the batch hot-metric scale path
    // (parallelism = metric × day-chunk instead of metric). The oracle
    // replays the SAME three-pass chunked order (in-chunk affine folds,
    // per-metric carry combine, per-chunk re-fold) via recursive CTEs, so
    // the match is bit-exact like a14.
    "a14_ewma_chunked" -> ((s, dir) =>
      TrendOps.ewmaChunked(series(s, dir), alpha = 0.2,
        chunkSpanSeconds = 86400L).toDF()),

    // Fixed-width value histogram per metric.
    "a15_histogram" -> ((s, dir) =>
      series(s, dir)
        .groupBy(col("metric"), floor(col("value") / 50).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"), min("value").as("lo"), max("value").as("hi"))),

    // X1-X9 scalar layer in one projection (X7 = real JSON decode).
    "x_scalars" -> ((s, dir) => {
      val df = series(s, dir).where(col("event_id") % 97 === 0)
      val rounded = Scalars.renderRounded(col("value"))
      val kStr = get_json_object(col("props"), "$.k")
      df.select(
        col("event_id"),
        Scalars.deVoweled(col("metric")).as("metric_abbrev"),
        Scalars.unixToIso(col("e")).as("iso"),
        rounded.as("rounded"),
        Scalars.renderLast2(col("value")).as("last2"),
        Scalars.fixedWidth(rounded, 8).as("fixed"),
        Scalars.labelCell(col("metric"), 10).as("label"),
        Scalars.propsK(col("props")).as("k"),
        Scalars.toBool(kStr).as("k_bool"))
    }),

    // TPC-H Q2 shape: min-cost supplier per part within a region. The
    // observed (part, supplier) pairs from lineitem stand in for partsupp
    // (the fixture has no partsupp table — same surrogate as q11/q16/q20);
    // "supply cost" is the minimum observed line price, kept as an exact
    // DECIMAL so the correlated-min equality is bit-exact in both engines.
    // Scale posture: the dim chain (supplier⋈nation⋈region), the
    // qualifying-part set, and the per-part min relation are all
    // model-sized and broadcast; the only shuffle on the fact path is the
    // (partkey, suppkey) pre-aggregate. The correlated min is computed
    // AFTER restricting to qualifying parts — the part filter commutes
    // with the per-part min, and doing so shrinks both legs. The sort key
    // (acctbal DESC, n_name, s_name, p_partkey, s_suppkey) is a total
    // order (rows are unique on (p_partkey, s_suppkey)), so LIMIT 100 is
    // deterministic; at sf0.01 the pre-limit set is 155 rows, so the
    // limit genuinely binds.
    "q2_min_cost_supplier" -> ((s, dir) => {
      val euro = Tables.supplier(s, dir)
        .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir).where(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val parts = Tables.part(s, dir)
        .where(col("p_type") === "STANDARD" && col("p_size") <= 25)
        .select("p_partkey")
      val ps = Tables.lineitem(s, dir)
        .groupBy("l_partkey", "l_suppkey")
        .agg(min(col("l_extendedprice").cast("decimal(18,2)")).as("cost_dec"))
      val pse = ps
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(euro), col("l_suppkey") === col("s_suppkey"))
      val mn = pse.groupBy(col("p_partkey").as("mk"))
        .agg(min(col("cost_dec")).as("min_dec"))
      pse.join(broadcast(mn),
          col("p_partkey") === col("mk") && col("cost_dec") === col("min_dec"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"), col("s_suppkey"))
        .limit(100)
        .select(col("s_acctbal").cast("double").as("acctbal"), col("s_name"),
          col("n_name"), col("p_partkey"), col("s_suppkey"),
          col("cost_dec").cast("double").as("supply_cost"))
    }),

    // TPC-H Q1-shaped pricing summary (exact-decimal revenue).
    "q1_pricing" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n_rows"),
          // l_quantity is integer-valued (verified on the fixtures), so the
          // double sum is order-exact — allowed by the determinism contract.
          sum("l_quantity").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(8,2)")))
            .cast("double").as("sum_disc_price"))
        .withColumn("avg_qty", col("sum_qty") / col("n_rows"))),

    // 3-way join (broadcastable dims) → revenue per market segment/status.
    // countDistinct plans an Expand (2× rows into the shuffle), but the
    // measured alternative — a per-orderkey pre-aggregate feeding a plain
    // count — was ~25% SLOWER at sf0.1 (the 150k-key partial-agg shuffle
    // costs more than Expand's doubled-but-tiny-grouped stream), so the
    // Expand formulation stands.
    "q_mktseg_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(
          count(lit(1)).as("n_items"),
          countDistinct("o_orderkey").as("n_orders"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(8,2)")))
            .cast("double").as("revenue"))),

    // TPC-H Q3 shape: shipping-priority — segment filter, 3-way join,
    // top-10 revenue. Decimal-exact revenue for the oracle.
    "q3_shipping_priority" -> ((s, dir) =>
      RelationalOps.topK(
        Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
          .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
          .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
          .where(col("o_orderdate") < to_timestamp(lit("1998-03-15 00:00:00")) &&
            col("l_shipdate") > to_timestamp(lit("1995-03-15 00:00:00")))
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(8,2)")))
            .cast("double").as("revenue")),
        10, col("revenue").desc, col("l_orderkey").asc)),

    // TPC-H Q5 shape: local-supplier volume — 6-way join through the full
    // star (region→nation→customer/supplier→orders→lineitem), revenue per
    // nation. The small dims must broadcast (PlanAudit asserts).
    "q5_local_volume" -> ((s, dir) =>
      Tables.region(s, dir).where(col("r_name") === "ASIA")
        .join(Tables.nation(s, dir), col("r_regionkey") === col("n_regionkey"))
        .join(Tables.customer(s, dir), col("n_nationkey") === col("c_nationkey"))
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(8,2)")))
            .cast("double").as("revenue"))),

    // TPC-H Q7 shape: trade volume between nation PAIRS — the same
    // dimension joined twice under different roles (customer nation vs
    // supplier nation), both broadcast.
    "q7_nation_pairs" -> ((s, dir) => {
      val custNation = Tables.nation(s, dir)
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      val suppNation = Tables.nation(s, dir)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(custNation, col("c_nationkey") === col("cn_key"))
        .join(suppNation, col("s_nationkey") === col("sn_key"))
        .where(col("cust_nation") =!= col("supp_nation"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(8,2)")))
            .cast("double").as("volume"))
    }),

    // TPC-H Q14 shape: promo revenue share — lineitem ⋈ part with a month
    // filter, conditional aggregation (part broadcast).
    "q14_promo_revenue" -> ((s, dir) => {
      val disc = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount").cast("decimal(8,2)"))
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .where(col("l_shipdate") >= to_timestamp(lit("1996-09-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1996-10-01 00:00:00")))
        .agg(
          count(lit(1)).as("n_items"),
          sum(when(col("p_type") === "PROMO", disc)).cast("double").as("promo_revenue"),
          sum(disc).cast("double").as("total_revenue"))
        .withColumn("promo_pct", col("promo_revenue") / col("total_revenue") * 100)
    }),

    // TPC-H Q4 shape: order-priority checking. The fixtures carry no
    // commit/receipt dates, so the existential predicate is "some line of
    // the order was returned" — the plan (date-windowed orders, semi-join
    // to lineitem, priority count) is Q4's.
    "q4_order_priority" -> ((s, dir) => {
      val returned = Tables.lineitem(s, dir)
        .where(col("l_returnflag") === "R").select("l_orderkey")
      Tables.orders(s, dir)
        .where(col("o_orderdate") >= to_timestamp(lit("1996-07-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1996-10-01 00:00:00")))
        .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    }),

    // TPC-H Q6 shape: forecast-revenue-change — the pure scan-filter-agg
    // query. All three predicates must reach the parquet scan as
    // PushedFilters; revenue = price × discount (not 1−discount).
    "q6_forecast_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= to_timestamp(lit("1997-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01 00:00:00")) &&
          col("l_discount") >= 0.02 && col("l_discount") <= 0.04 &&
          col("l_quantity") < 24)
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            col("l_discount").cast("decimal(8,2)"))
            .cast("double").as("revenue"))),

    // TPC-H Q8 shape: national market share — one nation's slice of a
    // region's yearly volume for one part type. The share is a division of
    // the two already-exact doubles (IEEE-identical on both engines).
    "q8_market_share" -> ((s, dir) => {
      val vol = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount").cast("decimal(8,2)"))
      Tables.region(s, dir).where(col("r_name") === "AMERICA")
        .join(Tables.nation(s, dir)
          .select(col("n_nationkey").as("cn_key"), col("n_regionkey")),
          col("r_regionkey") === col("n_regionkey"))
        .join(Tables.customer(s, dir), col("cn_key") === col("c_nationkey"))
        .join(Tables.orders(s, dir)
          .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
            col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00"))),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.part(s, dir).where(col("p_type") === "ECONOMY"),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.nation(s, dir)
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")),
          col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          coalesce(sum(when(col("supp_nation") === "NATION_5", vol))
            .cast("double"), lit(0.0)).as("nation_volume"),
          sum(vol).cast("double").as("total_volume"))
        .withColumn("mkt_share", col("nation_volume") / col("total_volume"))
    }),

    // TPC-H Q9 shape: product-type profit. The fixtures have no
    // ps_supplycost, so cost = retail price × quantity — the join tree
    // (part-name filter fanning through lineitem to supplier nation and
    // order year) and exact-decimal profit arithmetic are Q9's.
    "q9_product_profit" -> ((s, dir) => {
      val amount = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount").cast("decimal(8,2)")) -
        col("p_retailprice").cast("decimal(18,2)") *
          col("l_quantity").cast("decimal(10,0)")
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).where(col("p_name").contains("widget")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(count(lit(1)).as("n_items"),
          sum(amount).cast("double").as("sum_profit"))
    }),

    // TPC-H Q10 shape: returned-item reporting — top 20 customers by
    // returned revenue in one quarter, nation attached.
    "q10_returned_items" -> ((s, dir) =>
      RelationalOps.topK(
        Tables.customer(s, dir)
          .join(Tables.orders(s, dir)
            .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
              col("o_orderdate") < to_timestamp(lit("1996-04-01 00:00:00"))),
            col("c_custkey") === col("o_custkey"))
          .join(Tables.lineitem(s, dir).where(col("l_returnflag") === "R"),
            col("o_orderkey") === col("l_orderkey"))
          .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
          .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(8,2)")))
            .cast("double").as("revenue")),
        20, col("revenue").desc, col("c_custkey").asc)),

    // TPC-H Q11 shape: important-stock identification. No partsupp table,
    // so "stock value" = shipped price×quantity per part from one nation's
    // suppliers; the HAVING-vs-global-scalar comparison (part value above
    // 1/1000 of the total) is Q11's. Both sides of the threshold compare
    // are the identical exact decimals cast to double, so the boolean is
    // engine-independent.
    "q11_part_value" -> ((s, dir) => {
      val value = col("l_extendedprice").cast("decimal(18,2)") *
        col("l_quantity").cast("decimal(10,0)")
      val perPart = Tables.lineitem(s, dir)
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.nation(s, dir).where(col("n_name") === "NATION_3"),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(sum(value).as("value_dec"))
      val total = perPart.agg(sum(col("value_dec")).as("total_dec"))
      perPart.crossJoin(broadcast(total)) // one-row scalar, broadcast
        .where(col("value_dec").cast("double") * 1000 >
          col("total_dec").cast("double"))
        .select(col("l_partkey"), col("value_dec").cast("double").as("part_value"))
    }),

    // TPC-H Q12 shape: priority classification per category. No shipmode
    // column, so the category is the return flag; the conditional
    // high/low-priority counts over a ship-year window are Q12's.
    "q12_return_priority" -> ((s, dir) => {
      val high = col("o_orderpriority") === "1-URGENT" ||
        col("o_orderpriority") === "2-HIGH"
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= to_timestamp(lit("1997-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01 00:00:00")))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
          count(when(high, lit(1))).as("high_line_count"),
          count(when(!high, lit(1))).as("low_line_count"))
    }),

    // TPC-H Q13 shape: customer order-count distribution — the LEFT OUTER
    // join whose unmatched side must survive as count 0, then a second
    // aggregation over the counts.
    "q13_order_distribution" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).where(col("o_orderpriority") =!= "5-LOW"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))),

    // TPC-H Q15 shape: top supplier by quarterly revenue — the scalar
    // MAX subquery equality, kept exact by comparing the decimals
    // themselves (ties would all surface, deterministically).
    "q15_top_supplier" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= to_timestamp(lit("1997-07-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1997-10-01 00:00:00")))
        .groupBy("l_suppkey")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(8,2)"))).as("rev_dec"))
      val mx = rev.agg(max(col("rev_dec")).as("max_dec"))
      rev.crossJoin(broadcast(mx)) // one-row scalar, broadcast
        .where(col("rev_dec") === col("max_dec"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("rev_dec").cast("double").as("total_revenue"))
    }),

    // TPC-H Q16 shape: supplier count per part attribute. The observed
    // (part, supplier) pairs from lineitem stand in for partsupp; the
    // NOT-IN complaint exclusion becomes an anti-join on negative-balance
    // suppliers.
    "q16_supplier_parts" -> ((s, dir) =>
      Tables.lineitem(s, dir).select("l_partkey", "l_suppkey").distinct()
        .join(Tables.supplier(s, dir).where(col("s_acctbal") < 0)
          .select("s_suppkey"),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(Tables.part(s, dir).where(col("p_brand") =!= "Brand#1" &&
          col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49)),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))),

    // TPC-H Q17 shape: small-quantity-order revenue — the correlated
    // per-part average, expressed as integer cross-multiplication
    // (qty < avg/5  ⇔  5·qty·cnt < sum) so the threshold boolean is exact
    // integer arithmetic on both engines.
    "q17_small_quantity" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        col("l_extendedprice"))
      val stats = li.groupBy(col("l_partkey").as("agg_partkey"))
        .agg(sum("qty").as("sum_qty"), count(lit(1)).as("cnt_qty"))
      li.join(Tables.part(s, dir)
          .where(col("p_brand") === "Brand#3" && col("p_type") === "SMALL"),
          col("l_partkey") === col("p_partkey"))
        .join(stats, col("l_partkey") === col("agg_partkey"))
        .where(col("qty") * col("cnt_qty") * 5 < col("sum_qty"))
        .agg(count(lit(1)).as("n_items"),
          (sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") /
            7.0).as("avg_yearly"))
    }),

    // TPC-H Q19 shape: disjunctive join predicates — three OR'd
    // brand/size/quantity bands that Catalyst must still push through the
    // part join (common-factor extraction).
    "q19_disjunctive" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#14" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(8,2)")))
            .cast("double").as("revenue"))),

    // TPC-H Q20 shape: suppliers holding stock of flagged parts — the
    // nested-IN pipeline (parts by name prefix → shipped volume per
    // supplier×part above threshold → suppliers of one nation), all
    // semi-joins.
    "q20_part_suppliers" -> ((s, dir) => {
      val shipped = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).where(col("p_name").startsWith("red"))
          .select("p_partkey"),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
        .where(col("sum_qty") > 50)
        .select("l_suppkey")
      Tables.supplier(s, dir)
        .join(Tables.nation(s, dir).where(col("n_name") === "NATION_1"),
          col("s_nationkey") === col("n_nationkey"))
        .join(shipped, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    }),

    // TPC-H Q21 shape: suppliers who kept multi-supplier orders waiting.
    // No receipt/commit dates, so "late" = returned; the EXISTS (another
    // supplier on the order) + NOT EXISTS (another supplier also late)
    // self-join pair on lineitem is Q21's.
    "q21_suppliers_waiting" -> ((s, dir) => {
      val l1 = Tables.lineitem(s, dir).where(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o1"), col("l_suppkey").as("sk1"))
      val l2 = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o2"), col("l_suppkey").as("sk2"))
      val l3 = Tables.lineitem(s, dir).where(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o3"), col("l_suppkey").as("sk3"))
      val base = l1
        .join(Tables.orders(s, dir).where(col("o_orderstatus") === "F")
          .select("o_orderkey"), col("o1") === col("o_orderkey"), "left_semi")
        .join(l2, col("o1") === col("o2") && col("sk1") =!= col("sk2"),
          "left_semi")
        .join(l3, col("o1") === col("o3") && col("sk1") =!= col("sk3"),
          "left_anti")
      RelationalOps.topK(
        base.join(Tables.supplier(s, dir), col("sk1") === col("s_suppkey"))
          .groupBy("s_suppkey", "s_name")
          .agg(count(lit(1)).as("numwait")),
        20, col("numwait").desc, col("s_suppkey").asc)
    }),

    // TPC-H Q22 shape: idle positive balances — customers above the
    // segment-pool's positive average with no RECENT orders (anti-join
    // against the 1998+ order window; the fixture has no customer with
    // zero lifetime orders, so TPC-H's "no orders at all" form would be
    // vacuously empty — "idle since 1998" keeps the anti-join live at
    // every SF: 3 rows at sf0.01, 15 at sf1). The average compare is
    // cross-multiplied into exact decimal×count arithmetic.
    "q22_idle_balance" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
        .where(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY"))
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").as("bal"))
      val stats = cust.where(col("bal") > 0)
        .agg(sum("bal").as("sum_bal"), count(lit(1)).as("cnt_bal"))
      cust.crossJoin(broadcast(stats)) // one-row scalar, broadcast
        .where(col("bal") * col("cnt_bal") > col("sum_bal"))
        .join(Tables.orders(s, dir)
          .where(col("o_orderdate") >= to_timestamp(lit("1998-01-01 00:00:00")))
          .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("numcust"),
          sum("bal").cast("double").as("totacctbal"))
    }),

    // §2.7 co-located join via storage bucketing: both fact tables are
    // written bucketed on the join key (LayoutOps.writeBucketed), so the
    // fact-to-fact join plans with ZERO shuffle exchanges beneath it —
    // only the final small status agg exchanges. The merge hint keeps the
    // plan on the sort-merge path (a broadcast would also skip the
    // shuffle, but by SIZE, which 100 TB fact tables don't have). The
    // `colocated` column is pinned from the executed plan exactly like
    // rollup_view_answer's used_view: a plan that re-shuffles either
    // fact side fails the oracle hash.
    "q_bucketed_join" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_bkt").toString
      try {
        Tables.writeBucketed(
          Tables.orders(s, dir).select("o_orderkey", "o_orderstatus"),
          "graft_bkt_orders", 8, "o_orderkey", Some(s"$root/orders"))
        Tables.writeBucketed(
          Tables.lineitem(s, dir)
            .select("l_orderkey", "l_extendedprice", "l_discount"),
          "graft_bkt_lineitem", 8, "l_orderkey", Some(s"$root/lineitem"))
        val joined = s.table("graft_bkt_lineitem").hint("merge")
          .join(s.table("graft_bkt_orders").hint("merge"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1) - col("l_discount").cast("decimal(8,2)")))
              .cast("double").as("revenue"))
        val plan = joined.queryExecution.executedPlan.toString
        val colocated =
          (plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")) &&
            !plan.contains("Exchange hashpartitioning(l_orderkey") &&
            !plan.contains("Exchange hashpartitioning(o_orderkey")
        joined.withColumn("colocated", lit(colocated)).localCheckpoint(true)
      } finally {
        s.sql("DROP TABLE IF EXISTS graft_bkt_orders")
        s.sql("DROP TABLE IF EXISTS graft_bkt_lineitem")
        sources.SnapshotStore.deleteTree(root)
      }
    }),

    // Top-10 customers by total order value.
    "q_top_customers" -> ((s, dir) =>
      RelationalOps.topK(
        Tables.orders(s, dir)
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .groupBy("c_custkey", "c_name")
          .agg(
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_spend")),
        10, col("total_spend").desc, col("c_custkey").asc)),

    // Rollup over returnflag × linestatus.
    "q_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"))),

    // Cube (all grouping sets).
    "q_cube" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"))),

    // lag/lead/rank window functions per customer.
    "q_window_lag" -> ((s, dir) => {
      val byDate = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val byPrice = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir).select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag("o_totalprice", 1).over(byDate).as("prev_price"),
        lead("o_totalprice", 1).over(byDate).as("next_price"),
        rank().over(byPrice).cast("long").as("price_rank"))
    }),

    // Range join: clicks within 5 minutes before each purchase, per user
    // (equi-key on user + range predicate — the scalable range-join shape).
    "q_range_join" -> ((s, dir) => {
      val sr = series(s, dir)
      val p = sr.where(col("metric") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("e").as("p_e"))
      val c = sr.where(col("metric") === "click")
        .select(col("user_id").as("c_user"), col("e").as("c_e"), col("event_id").as("c_id"))
      p.join(c, col("user_id") === col("c_user") &&
          col("c_e") >= col("p_e") - 300 && col("c_e") <= col("p_e"), "left")
        .groupBy("purchase_id", "user_id", "p_e")
        .agg(count(col("c_id")).as("n_clicks_5m"))
    }),

    // SCD2 temporal join: a two-version dimension per metric (cut at the
    // series' integer midpoint — both engines derive it exactly), each
    // event enriched with the version valid at its own time, aggregated
    // per (metric, version). Half-open intervals pin the boundary event
    // to the NEW version on both sides.
    "q_scd2_join" -> ((s, dir) => {
      val sr = series(s, dir).select("metric", "e", "value")
      val bounds = sr.agg(
        expr("min(e) + (max(e) - min(e)) div 2").as("cut"))
      val metrics = sr.select("metric").distinct()
        .withColumnRenamed("metric", "dim_metric")
      val dim = metrics.crossJoin(broadcast(bounds))
        .select(col("dim_metric"), lit(0L).as("valid_from"),
          col("cut").as("valid_to"), lit("v1").as("tag"))
        .unionByName(metrics.crossJoin(broadcast(bounds))
          .select(col("dim_metric"), col("cut").as("valid_from"),
            lit(Long.MaxValue).as("valid_to"), lit("v2").as("tag")))
      RelationalOps.temporalJoin(sr, dim, "metric", "dim_metric", "e")
        .groupBy("metric", "tag")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_val"))
    }),

    // RANGE-frame window: trailing-1-hour moving count/sum/mean per metric
    // (event-time range frame, not row frame — ties on e included wholly,
    // so the result is order-independent and oracle-deterministic).
    "q_window_range" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("metric").orderBy(col("e"))
        .rangeBetween(-3600L, org.apache.spark.sql.expressions.Window.currentRow)
      series(s, dir).select(
        col("metric"), col("event_id"), col("e"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("sum_1h"))
        .withColumn("mean_1h", col("sum_1h") / col("n_1h"))
    }),

    // Ranking window: top-3 orders per priority.
    "q_window_rank" -> ((s, dir) =>
      RelationalOps.topNPerGroup(
        Tables.orders(s, dir), 3,
        Seq(col("o_orderpriority")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc))
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")),

    // SQL-parser surface: the same engine through spark.sql (ANSI text in,
    // Catalyst plan out) — the reference has no query language at all.
    "q_sql_agg" -> ((s, dir) =>
      withTempView(Tables.lineitem(s, dir), "lineitem_v")(v => s"""
        |SELECT l_returnflag, count(*) AS n_rows, sum(l_quantity) AS sum_qty,
        |       count(DISTINCT l_suppkey) AS n_suppliers
        |FROM $v GROUP BY l_returnflag""".stripMargin)),

    // Scalar subquery: orders within 10% of the maximum order value —
    // the subquery result is a broadcast scalar, not a join.
    "q_scalar_subquery" -> ((s, dir) =>
      withTempView(Tables.orders(s, dir), "orders_sq")(v => s"""
        |SELECT o_orderkey, o_custkey, o_totalprice FROM $v
        |WHERE o_totalprice > (SELECT max(o_totalprice) FROM $v) * 0.9""".stripMargin)),

    // Top-K scan.
    "q_topk" -> ((s, dir) =>
      RelationalOps.topK(
        Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber", "l_extendedprice"),
        25, col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)),

    // Skew-salted join in the gate (round-9 VERDICT item 2): a derived key
    // collapses ~90% of orders onto one hot value, the dim is one row per
    // key, and the join runs through RelationalOps.saltedJoin. The oracle
    // is the PLAIN join SQL — salting must be a pure physical rewrite
    // (result == plain inner equi-join, row for row); ScaleGate's
    // `skew_join` row times salted vs plain on the same skewed fixture.
    "q_skew_join" -> ((s, dir) => {
      def sk(c: Column) = when(pmod(c, lit(100L)) < 90, lit(0L))
        .otherwise(pmod(c, lit(100L))).as("sk")
      val big = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), sk(col("o_custkey")))
      val dim = Tables.customer(s, dir)
        .select(sk(col("c_custkey")))
        .groupBy("sk").agg(count(lit(1)).as("dim_customers"))
      RelationalOps.saltedJoin(big, dim, "sk", salts = 16)
        .groupBy("sk")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"),
          max(col("dim_customers")).as("dim_customers"))
    }),

    // Bloom-pre-filtered join (manual runtime row-level filtering, for the
    // 100 TB shape where the dim is too big to broadcast but its KEY SET
    // fits a bloom filter): the selective part dim's keys ride a
    // distributed-built bloom to the lineitem scan, so non-matching fact
    // rows die BEFORE the join's exchange. The oracle is the PLAIN join
    // SQL — bloom false positives are re-verified by the join, so the
    // pre-filter must be a pure physical optimization.
    "q_bloom_join" -> ((s, dir) => {
      val dim = Tables.part(s, dir).where(col("p_brand") === "Brand#13")
        .select("p_partkey", "p_brand")
      val fact = Tables.lineitem(s, dir).select("l_partkey", "l_extendedprice")
      RelationalOps.bloomFilteredJoin(fact, dim, "l_partkey", "p_partkey")
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"))
    }),

    // ANALYZE-style single-pass column profile over lineitem's join keys
    // and flags — the stats layer the engine's own scale knobs consume
    // (bloom sizing, broadcast thresholds, z-order plane scaling).
    // Integer/string columns only: double min/max string rendering is not
    // oracle-portable (shortest-roundtrip printers differ).
    "table_profile" -> ((s, dir) =>
      RelationalOps.tableProfile(Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus"))),

    // The scale-default profile (round-10 verdict item 5): identical
    // shape, approx_count_distinct in ONE single-scan aggregate — the
    // documented 100 TB swap as shipped code. Rows-only (HLL estimates
    // are engine-specific); the ±2·rsd error bound vs exact NDV is pinned
    // by unit test, the single-scan/Expand-free plan by PlanAudit.
    // The sketch-NDV profile under the approx-surface contract (the
    // ann_recall/audience_overlap technique): exact NDV rides beside the
    // EXPORTED estimate, the band verdict derives independently in both
    // engines, and Spark hard-fails an out-of-band estimate before
    // anything exports — a full hash oracle, not a rows-only row.
    "table_profile_scale" -> ((s, dir) => {
      val rsd = 0.05
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_returnflag", "l_linestatus")
      val prof = RelationalOps.tableProfileApprox(Tables.lineitem(s, dir),
        cols)
      val exact = cols.map { c =>
        Tables.lineitem(s, dir)
          .agg(countDistinct(col(c)).as("exact_nd"))
          .select(lit(c).as("col_name"), col("exact_nd"))
      }.reduce(_ unionByName _)
      val joined = prof.join(exact, "col_name").localCheckpoint(true)
      joined.collect().foreach { r =>
        val a = r.getAs[Long]("n_distinct_approx")
        val e = r.getAs[Long]("exact_nd")
        require(math.abs(a - e) <= math.max(2 * rsd * e, 2.0),
          s"profile NDV estimate outside its band on " +
            s"${r.getAs[String]("col_name")}: approx=$a exact=$e")
      }
      exportForOracle(joined.select("col_name", "n_distinct_approx"),
        "tps_approx", model = true)
      joined.select(col("col_name"), col("n_rows"), col("n_nonnull"),
        col("min_repr"), col("max_repr"), col("exact_nd"),
        col("n_distinct_approx"),
        (abs(col("n_distinct_approx") - col("exact_nd")) <=
          greatest(col("exact_nd") * lit(2 * rsd), lit(2.0))).as("bound_ok"))
    }),

    // Error-bound verify twin for the approx profile: per column, the
    // EXACT NDV (DuckDB recomputes it — the hash-checked half) alongside
    // the exported HLL estimate, plus the |approx−exact| ≤
    // max(2·rsd·exact, 2) verdict BOTH engines derive from their own
    // exact count (bit-equal only when the exacts agree). The query
    // additionally hard-fails if its own estimate breaks the band — an
    // HLL defect reds the row as MISSING rather than shipping a false.
    "table_profile_scale_verify" -> ((s, dir) => {
      val rsd = 0.05
      val df = Tables.lineitem(s, dir)
      val per = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus").map { c =>
          df.agg(countDistinct(col(c)).as("exact_ndv"),
              approx_count_distinct(col(c), rsd).cast("long").as("approx_ndv"))
            .select(lit(c).as("col_name"), col("exact_ndv"), col("approx_ndv"))
        }.reduce(_ unionByName _).localCheckpoint(true)
      per.collect().foreach { r =>
        val (e, a) = (r.getLong(1), r.getLong(2))
        require(math.abs(a - e) <= math.max(2 * rsd * e, 2.0),
          s"approx_count_distinct outside its band on ${r.getString(0)}: " +
            s"approx=$a exact=$e rsd=$rsd")
      }
      exportForOracle(per.select("col_name", "approx_ndv"),
        "profile_approx", model = true)
      per.select(col("col_name"), col("exact_ndv"), col("approx_ndv"),
        (abs(col("approx_ndv") - col("exact_ndv")) <=
          greatest(col("exact_ndv") * lit(2 * rsd), lit(2.0))).as("bound_ok"))
    }),

    // Set operations: EXCEPT + INTERSECT, tagged.
    "q_setops" -> ((s, dir) => {
      def keys(status: String) =
        Tables.orders(s, dir).where(col("o_orderstatus") === status)
          .select(col("o_custkey").as("k"))
      keys("O").except(keys("F")).withColumn("tag", lit("open_not_f"))
        .unionByName(keys("O").intersect(keys("F")).withColumn("tag", lit("open_and_f")))
    }),

    // As-of join: each purchase ← newest click at-or-before it, per user.
    "q_asof_join" -> ((s, dir) => {
      val sr = series(s, dir)
      val purchases = sr.where(col("metric") === "purchase")
        .select("event_id", "user_id", "e", "value")
      val clicks = sr.where(col("metric") === "click")
        .select("event_id", "user_id", "e", "value")
      RelationalOps.asOfJoin(purchases, clicks, "user_id", "e", "e", "event_id")
        .select(
          col("event_id").as("purchase_id"), col("user_id"),
          col("e").as("purchase_e"),
          col("__asof.event_id").as("click_id"),
          col("__asof.e").as("click_e"),
          col("__asof.value").as("click_val"))
    }),

    // Exact dedup groups over normalized text.
    "dedup_exact" -> ((s, dir) => DedupOps.exactDedupGroups(Tables.documents(s, dir))),

    // Incremental (corpus-append) dedup — the daily-ingest shape: docs
    // 0..299 are the standing corpus; the "new batch" is docs 300+ plus
    // planted exact replays (docs 0..49 re-ingested under new ids, and doc
    // 300 twice within the batch). Replays must all die against the corpus
    // key set; the within-batch copy must lose to min doc_id.
    "dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.incrementalDedup(
          incrementalBatchFixture(docs), docs.where(col("doc_id") < 300))
        .select("doc_id", "lang", "source")
    }),

    // Streaming twin of dedup_incremental: the same planted batch replayed
    // as a real checkpointed stream through the ingest gate
    // (watermark-bounded in-stream state + corpus-key bloom pre-gate with
    // exact anti-join reconciliation of the suspects).
    // Parity surface = the kept KEY SET (one survivor per in-stream key,
    // corpus keys absent) — deterministic at any scale; which doc wins a
    // same-micro-batch dup is an arbitrary in-batch pick, so the min-id
    // winner contract is pinned by StreamingSpec's controlled-arrival
    // test instead.
    "stream_incrdedup_parity" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.streaming.StreamReplay.incrementalDedupReplay(
        incrementalBatchFixture(docs).select("doc_id", "text"),
        docs.where(col("doc_id") < 300))
    }),

    // Streaming twin of quality_train_score: train batch-side, export the
    // SAME weight model, then score the document stream through a real
    // checkpointed replay — the stateless scoring map is the identical
    // expression, so the appended emissions face the identical oracle.
    "stream_quality_parity" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = QualityModel.trainLogistic(docs)
      val back = exportForOracle(
          s.createDataFrame(Seq(Tuple1(w.toSeq))).toDF("wv"),
          "quality_weights", model = true)
        .head.getSeq[Double](0).toArray
      graft.streaming.StreamReplay.qualityScoreReplay(
        docs.select("doc_id", "text"), back)
    }),

    // Near-dup via MinHash LSH over planted variants (the base corpus is
    // fully distinct) — banded buckets, candidate pairs, exact-Jaccard
    // verify. Not SQL-expressible → rows-only + unit tests.
    // minhash_neardup and neardup_groups MUST use the same nDrop so the
    // pair-generation and grouping queries see the same planted pairs —
    // which is why all three share [[withPlantedVariants]].
    "minhash_neardup" -> ((s, dir) =>
      DedupOps.nearDupPairs(
        withPlantedVariants(Tables.documents(s, dir), nDrop = 3),
        k = 64, bands = 16, minJaccard = 0.6)),

    // SimHash near-dup with Hamming<=3 pigeonhole blocking (rows-only —
    // the fused production path; its VERIFY stage is oracle-checked by
    // simhash_verify below).
    "simhash_neardup" -> ((s, dir) =>
      DedupOps.simHashPairs(
        withPlantedVariants(Tables.documents(s, dir), nDrop = 1), maxHamming = 3)),

    // SimHash Hamming VERIFY stage, export-oracled: the signature/blocking
    // stage is xxhash64-based (not SQL-expressible), so the candidate set
    // (doc_a, doc_b, sig_a, sig_b) exports and DuckDB recomputes
    // XOR + popcount + threshold over exactly those rows — a wrong Hamming
    // distance or dropped/kept pair on either side fails the compare.
    "simhash_verify" -> ((s, dir) =>
      DedupOps.hammingPairs(
        exportForOracle(
          DedupOps.simHashCandidates(
            withPlantedVariants(Tables.documents(s, dir), nDrop = 1), maxHamming = 3),
          "simhash_cands"),
        maxHamming = 3)),

    // MinHash-LSH Jaccard VERIFY stage, export-oracled (same split as
    // simhash_verify): the banded-signature candidate generation is
    // xxhash64-based (rows-only forever), but the exact-Jaccard verify that
    // gates the pairs is set algebra over trigram shingles — the candidate
    // (doc_a, doc_b) list exports and DuckDB rebuilds the same planted
    // corpus, re-shingles both sides, and recomputes |∩|/|∪| with the same
    // >= 0.6 gate over exactly those candidates. Same nDrop/k/bands as
    // minhash_neardup, so the verified stage is the production one.
    "minhash_verify" -> ((s, dir) =>
      DedupOps.jaccardForPairs(
        exportForOracle(
          DedupOps.minHashCandidates(
            withPlantedVariants(Tables.documents(s, dir), nDrop = 3),
            k = 64, bands = 16),
          "minhash_cands"),
        withPlantedVariants(Tables.documents(s, dir), nDrop = 3))
        .where(col("jaccard") >= 0.6)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))),

    // Near-dup clusters: MinHash-LSH pairs → connected components (min-label
    // propagation) — the grouping stage a real dedup pipeline runs after
    // pair generation. The LSH pair source is not SQL-expressible (xxhash64
    // signatures; edges stay pinned by unit tests), so the query EXPORTS its
    // edge list and the oracle replays only the clustering stage: a
    // recursive CTE over the exact same edges must reproduce the same
    // (label, size, max) per component. Clustering is read back from the
    // export so both sides provably consume one edge set.
    // Near-dup REMOVAL — the decision stage after detect → group: every
    // doc whose component label is not its own id drops (representative =
    // min doc of the cluster); singletons keep themselves. Same export-
    // oracle pattern as neardup_groups (own edge export name so the two
    // queries' edge sets cannot shadow each other in one run): DuckDB
    // replays the clustering AND the keep decision over the same edges.
    "neardup_keep" -> ((s, dir) => {
      val docs = withPlantedVariants(Tables.documents(s, dir), nDrop = 3)
        .select("doc_id")
      val labels = DedupOps.nearDupGroups(
        exportForOracle(
          DedupOps.nearDupPairs(
            withPlantedVariants(Tables.documents(s, dir), nDrop = 3),
            k = 64, bands = 16, minJaccard = 0.6)
            .select("doc_a", "doc_b"),
          "neardup_keep_edges"))
      docs.join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("label"),
          (coalesce(col("label"), col("doc_id")) === col("doc_id")).as("kept"))
    }),

    // Quality-aware removal: same detect -> group pipeline, but the
    // cluster representative is the HIGHEST-quality member (ties to the
    // lowest doc_id) — keep the best copy, not the smallest id. The edge
    // set exports; DuckDB replays clustering AND recomputes the quality
    // formula (the proven text_quality expression) over the same planted
    // corpus, so the whole decision is oracle-gated.
    "neardup_keep_quality" -> ((s, dir) => {
      val corpus = withPlantedVariants(Tables.documents(s, dir), nDrop = 3)
      val scores = corpus.select(col("doc_id"),
        TextOps.qualityScore(col("text")).as("score"))
      val labels = DedupOps.nearDupGroups(
        exportForOracle(
          DedupOps.nearDupPairs(corpus, k = 64, bands = 16, minJaccard = 0.6)
            .select("doc_a", "doc_b"),
          "neardup_q_edges"))
      DedupOps.nearDupKeepBy(labels, scores)
    }),

    "neardup_groups" -> ((s, dir) =>
      DedupOps.nearDupGroups(
        exportForOracle(
          DedupOps.nearDupPairs(
            withPlantedVariants(Tables.documents(s, dir), nDrop = 3),
            k = 64, bands = 16, minJaccard = 0.6)
            .select("doc_a", "doc_b"),
          "neardup_edges"))
        .groupBy("label")
        .agg(count(lit(1)).as("cluster_size"), max("doc_id").as("max_doc_id"))),

    // Leakage-safe split: assignment keyed by near-dup CLUSTER (connected
    // component of the LSH+verify pairs), so a train document can never
    // have an eval near-twin — the contamination a content-hash split
    // can't rule out. Oracle replays edges -> CC labels -> md5-threshold
    // over the group key; the split arithmetic is dataset_split's.
    "split_leakage_safe" -> ((s, dir) => {
      val corpus = withPlantedVariants(Tables.documents(s, dir), nDrop = 3)
      val labels = DedupOps.nearDupGroups(
        exportForOracle(
          DedupOps.nearDupPairs(corpus, k = 64, bands = 16, minJaccard = 0.6)
            .select("doc_a", "doc_b"),
          "leakage_edges"))
      CurationOps.leakageSafeSplit(corpus, labels)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("grp")).as("n_groups"),
          min("doc_id").as("min_doc_id"))
    }),

    // BPE tokenizer training (Sennrich subword merges): iterative
    // most-frequent-pair merging over the capped word-frequency table —
    // vocab-sized iterations, one-row argmax collects (the GD/k-means
    // model posture). The oracle replays the ENTIRE run: a recursive CTE
    // applies the exported merges step by step and re-derives each
    // step's argmax under the same tie-break, so a single wrong merge,
    // wrong order, or wrong count reddens the row.
    "bpe_train" -> ((s, dir) =>
      exportForOracle(
        BpeOps.train(Tables.documents(s, dir).select("text"),
          numMerges = 20, vocabCap = 800),
        "bpe_merges", model = true).localCheckpoint(true)),

    // Production-vocab-scale training run: 256 merges under the SAME
    // full training-replay oracle. The corpus sees ONE Spark job no
    // matter how many merges (the loop is driver-local over the capped
    // model-sized frequency table), so 256 rules cost what 20 did minus
    // the per-merge job launches — the shape a real 32k-merge tokenizer
    // needs. The synthetic documents draw from ~31 distinct words (raw-
    // word training exhausts at ~89 rules), so this trains on the
    // adjacent-bigram COMPOUND corpus (`left_right` words) — hundreds of
    // distinct long words, deterministically rebuilt by the oracle.
    "bpe_train_large" -> ((s, dir) => {
      val tks = filter(TextOps.tokens(col("text")),
        t => length(t) > lit(0))
      val compounds = when(size(tks) >= 2,
        transform(sequence(lit(1), size(tks) - 1),
          i => concat(element_at(tks, i), lit("_"), element_at(tks, i + 1))))
        .otherwise(array().cast("array<string>"))
      // the compounds are whitespace-free, so exploding them IS the
      // tokenization — no array_join → regex-resplit round trip over the
      // corpus (guide §4: expression choice; measured ~2 s of the pass)
      val compoundWords = Tables.documents(s, dir)
        .select(explode(compounds).as("word"))
      exportForOracle(
        BpeOps.trainFromWords(compoundWords, numMerges = 256, vocabCap = 800),
        "bpe_merges_large", model = true).localCheckpoint(true)
    }),

    // Encoding with the learned rules: per-doc char/word/BPE-token counts
    // and the compression ratio (the token-budget pricing surface). The
    // merge chain applies to DISTINCT words once; the oracle re-encodes
    // every word from the exported rules through the same literal-replace
    // semantics.
    "bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val merges = BpeOps.train(docs, numMerges = 20, vocabCap = 800)
        .collect().sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      BpeOps.encode(docs, merges)
    }),

    // End-to-end curation pipeline as ONE declarative plan: quality score →
    // language gate → exact dedup → content-hash split → per-(lang, split)
    // summary. Every stage is individually oracle-checked elsewhere; this
    // query oracle-checks their composition.
    "pipeline_curation" -> ((s, dir) => {
      val scored = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"), col("text"),
        TextOps.qualityScore(col("text")).as("q"),
        TextOps.langGuess(col("text")).as("lg"))
      val gated = scored.where(col("q") >= 0.5 && col("lg") === "en")
        .select("doc_id", "lang", "text")
      CurationOps.withSplit(DedupOps.exactDedup(gated))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))
    }),

    // Exact n-gram Jaccard for an explicit pair list (the near-dup verify
    // stage surfaced standalone and oracle-checked): adjacent doc pairs,
    // trigram-shingle set similarity.
    "text_jaccard_adjacent" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val pairs = docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
      DedupOps.jaccardForPairs(pairs, docs)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
    }),

    // Text stats per (lang, source).
    "text_stats" -> ((s, dir) =>
      Tables.documents(s, dir)
        // tokenize once per row BEFORE the aggregate: two aggregate
        // expressions over tokenCount(text) would re-split the largest
        // column twice per row (no cross-aggregate subexpression reuse)
        .withColumn("__n_tokens", TextOps.tokenCount(col("text")))
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          sum(col("__n_tokens").cast("long")).as("total_tokens"),
          max(col("__n_tokens")).as("max_tokens"),
          min("doc_id").as("min_doc_id"))),

    // Per-doc quality/language analysis.
    "text_quality" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.meanTokenLen(col("text")).as("mean_token_len"),
        TextOps.stopwordRatio(col("text")).as("stop_ratio"),
        TextOps.punctRatio(col("text")).as("punct_ratio"),
        TextOps.qualityScore(col("text")).as("quality"),
        TextOps.langGuess(col("text")).as("lang_guess"))),

    // PII redaction over deterministically-planted contact info (the base
    // corpus is synthetic and PII-free, so the op's effect is visible).
    "text_clean" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.redactPii(
          concat(col("text"), lit(" contact: user@example.com or +1 (555) 123-4567 ok")))
          .as("cleaned"))),

    // Language-ID evaluation: confusion counts of the heuristic guess
    // against the ground-truth lang column — the eval stage of a pipeline.
    "text_lang_confusion" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang"), TextOps.langGuess(col("text")).as("lang_guess"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))),

    // Top-5 terms per language by document frequency (explode → aggregate →
    // rank): the wide-explode + two-level aggregation shape at gate scale.
    "text_top_terms" -> ((s, dir) => {
      val df = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"), explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
        .groupBy("lang", "term")
        .agg(countDistinct("doc_id").as("doc_freq"))
      RelationalOps.topNPerGroup(df, 5,
        Seq(col("lang")), Seq(col("doc_freq").desc, col("term").asc))
        .select("lang", "rk", "term", "doc_freq")
    }),

    // Versioned snapshot store (manifest-published parquet, the
    // single-writer lakehouse core): three queries drive the full
    // lifecycle — append v1/v2, compact to v3 — against one fresh store
    // each, and every read surface (time travel BELOW the compaction,
    // incremental between versions, post-compaction latest) faces a plain
    // documents-table oracle, because logical content is exactly what the
    // store must preserve.
    "snapshot_timetravel" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_snap").toString
      try {
        buildSnapshotFixture(s, dir, root)
        sources.SnapshotStore.read(s, root, version = 1).localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    "snapshot_incremental" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_snap").toString
      try {
        buildSnapshotFixture(s, dir, root)
        // what arrived after v1, read without touching v1's directories
        // (to = 2: the compaction above introduces a directory without
        // introducing rows, which incremental() documents as the caller's
        // cut-off decision)
        sources.SnapshotStore.incremental(s, root, fromExclusive = 1, to = 2)
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Row-level DELETE (right-to-be-forgotten) via dir-level copy-on-write:
    // the store is built from per-language appends, the 'de' docs are
    // deleted, and the final content faces the plain-SQL filter — the
    // oracle can't see versions or rewrites, only whether the surviving
    // relation is exactly the non-matching rows.
    "snapshot_delete" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_snapdel").toString
      try {
        buildSnapshotFixture(s, dir, root)
        sources.SnapshotStore.deleteWhere(s, root, col("lang") === "de")
        sources.SnapshotStore.read(s, root, mergeSchema = true)
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // MERGE/upsert by key: every doc_id divisible by 10 gets its source
    // replaced with a literal tag, five brand-new synthetic keys insert;
    // the oracle rebuilds the merged relation with SQL set logic.
    "snapshot_upsert" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_snapups").toString
      try {
        import s.implicits._
        buildSnapshotFixture(s, dir, root)
        val docs = Tables.documents(s, dir).select("doc_id", "lang", "source")
        val batch = docs.where(col("doc_id") % 10 === 0)
          .withColumn("source", lit("patched"))
          .unionByName((1L to 5L).map(i => (1000000L + i, "xx", "inserted"))
            .toDF("doc_id", "lang", "source"))
        sources.SnapshotStore.upsert(s, batch, root, Seq("doc_id"))
        sources.SnapshotStore.read(s, root, mergeSchema = true)
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    "snapshot_compact_read" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_snap").toString
      try {
        buildSnapshotFixture(s, dir, root)
        sources.SnapshotStore.read(s, root).localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Net change feed across a delete + upsert: the store is seeded by two
    // appends (v1/v2), the 'de' docs are deleted (v3) and every doc_id
    // divisible by 10 is patched / five new keys inserted (v4); the feed
    // over (v2, v4] must report exactly the NET row diff — an update is a
    // delete(old)+insert(new) pair, rows a CoW rewrite merely carried
    // between directories cancel, and a de∩(%10) doc reports its original
    // row once as a delete and its patched row once as an insert.
    "snapshot_changes" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_snapcdf").toString
      try {
        import s.implicits._
        val docs = Tables.documents(s, dir).select("doc_id", "lang", "source")
        sources.SnapshotStore.append(docs.where(col("doc_id") < 300), root)
        sources.SnapshotStore.append(docs.where(col("doc_id") >= 300), root)
        sources.SnapshotStore.deleteWhere(s, root, col("lang") === "de")
        val batch = docs.where(col("doc_id") % 10 === 0)
          .withColumn("source", lit("patched"))
          .unionByName((1L to 5L).map(i => (1000000L + i, "xx", "inserted"))
            .toDF("doc_id", "lang", "source"))
        sources.SnapshotStore.upsert(s, batch, root, Seq("doc_id"))
        sources.SnapshotStore.changes(s, root, fromExclusive = 2)
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // File-skipping read: appends carry per-file min/max stats of doc_id
    // (range-partitioned so files have tight spans), and the range read
    // plans only the overlapping files from the manifest stats — the
    // lakehouse data-skipping core. The oracle is the plain filtered
    // table: skipping must be invisible to results.
    "snapshot_skip_read" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_skip").toString
      try {
        val docs = Tables.documents(s, dir).select("doc_id", "lang", "source")
        sources.SnapshotStore.appendWithStats(
          docs.where(col("doc_id") < 300).repartitionByRange(4, col("doc_id")),
          root, Seq("doc_id"))
        sources.SnapshotStore.appendWithStats(
          docs.where(col("doc_id") >= 300).repartitionByRange(4, col("doc_id")),
          root, Seq("doc_id"))
        sources.SnapshotStore.readWhere(s, root, "doc_id", 100L, 220L)
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Bloom point-lookup read: appends are HASH-partitioned (every file
    // spans the whole doc_id domain, so min/max stats cannot prune) and
    // carry per-file blooms; the equality read plans only the files whose
    // bloom admits the key. The oracle is the plain point SELECT —
    // skipping must be invisible to results.
    "snapshot_bloom_read" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_bloom").toString
      try {
        val docs = Tables.documents(s, dir).select("doc_id", "lang", "source")
        sources.SnapshotStore.appendWithBloom(
          docs.where(col("doc_id") < 300).repartition(4, col("doc_id")),
          root, "doc_id")
        sources.SnapshotStore.appendWithBloom(
          docs.where(col("doc_id") >= 300).repartition(4, col("doc_id")),
          root, "doc_id")
        sources.SnapshotStore.readEq(s, root, "doc_id", 123L)
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Incrementally-maintained rollup view (IVM): the series arrives in
    // THREE source versions (e % 3 slices, so the same (metric, day)
    // keys straddle every version), each refresh aggregates ONLY its
    // delta, and a mid-lifecycle view compaction folds the partials.
    // The final merged view must equal a from-scratch day rollup of the
    // whole series — that is the IVM exactness contract, and decimal
    // partial sums are what make it bit-true in any merge order.
    "rollup_view_incremental" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_ivm").toString
      try {
        val src = s"$root/src"; val view = s"$root/view"
        val se = series(s, dir).select("metric", "e", "value")
        sources.SnapshotStore.append(se.where(col("e") % 3 === 0), src)
        sources.RollupView.refresh(s, src, view)
        sources.SnapshotStore.append(se.where(col("e") % 3 === 1), src)
        sources.RollupView.refresh(s, src, view)
        sources.RollupView.compact(s, view)
        sources.SnapshotStore.append(se.where(col("e") % 3 === 2), src)
        sources.RollupView.refresh(s, src, view)
        sources.RollupView.read(s, view)
          .select(col("metric"), col("day"), col("cnt"),
            col("vsum").cast("double").as("sum_val"),
            col("vmin").as("min_val"), col("vmax").as("max_val"),
            (col("vsum").cast("double") / col("cnt")).as("mean_val"))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Retraction IVM: the maintained rollup absorbs a source DELETE
    // incrementally (dirty-group recompute + tombstones, never a
    // rebuild — RollupView takes the retraction path because the delete
    // commit's manifest kind is row churn). Deleting ALL 'click' rows
    // vanishes whole groups (tombstone leg); deleting even-second 'view'
    // rows dirties groups that keep rows (recompute leg, min/max
    // re-derived); the later slice-2 append revives 'click' groups
    // through the ordinary O(delta) path. The final view faces a
    // from-scratch rollup of exactly the surviving + late rows.
    "rollup_view_retract" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_ivmr").toString
      try {
        val src = s"$root/src"; val view = s"$root/view"
        val se = series(s, dir).select("metric", "e", "value")
        sources.SnapshotStore.append(se.where(col("e") % 3 === 0), src)
        sources.RollupView.refresh(s, src, view)
        sources.SnapshotStore.append(se.where(col("e") % 3 === 1), src)
        sources.RollupView.refresh(s, src, view)
        sources.SnapshotStore.deleteWhere(s, src,
          col("metric") === "click" ||
            (col("metric") === "view" && col("e") % 2 === 0))
        sources.RollupView.refresh(s, src, view)
        sources.SnapshotStore.append(se.where(col("e") % 3 === 2), src)
        sources.RollupView.refresh(s, src, view)
        sources.RollupView.read(s, view)
          .select(col("metric"), col("day"), col("cnt"),
            col("vsum").cast("double").as("sum_val"),
            col("vmin").as("min_val"), col("vmax").as("max_val"),
            (col("vsum").cast("double") / col("cnt")).as("mean_val"))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // HLL-sketch maintained NDV view through the SAME commit lifecycle as
    // rollup_view_retract (append, append, retraction delete, append —
    // every maintenance path of the shared IVM engine runs), answering
    // "distinct users per (metric, day)" from stored mergeable sketches.
    // Approx-surface contract: exact NDV (computed from the final source
    // both engines) rides next to the exported estimate, the band verdict
    // derives independently on each side, and Spark hard-fails an
    // out-of-band estimate before anything exports (lgK 12 → ~1.6% RSE;
    // the 5% band is ~3σ with an absolute floor of 2).
    "ndv_rollup_answer" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_ndv").toString
      try {
        val src = s"$root/src"; val view = s"$root/view"
        val se = series(s, dir).select("metric", "e", "user_id")
        sources.SnapshotStore.append(se.where(col("e") % 3 === 0), src)
        sources.NdvView.refresh(s, src, view)
        sources.SnapshotStore.append(se.where(col("e") % 3 === 1), src)
        sources.NdvView.refresh(s, src, view)
        sources.SnapshotStore.deleteWhere(s, src,
          col("metric") === "click" ||
            (col("metric") === "view" && col("e") % 2 === 0))
        sources.NdvView.refresh(s, src, view)
        sources.SnapshotStore.append(se.where(col("e") % 3 === 2), src)
        sources.NdvView.refresh(s, src, view)
        val exact = sources.SnapshotStore.read(s, src)
          .groupBy(col("metric"), expr("e div 86400").as("day"))
          .agg(countDistinct(col("user_id")).as("exact_users"))
        val joined = sources.NdvView.read(s, view)
          .join(exact, Seq("metric", "day"))
          .localCheckpoint(true)
        joined.collect().foreach { r =>
          val a = r.getAs[Long]("approx_users")
          val e = r.getAs[Long]("exact_users")
          require(math.abs(a - e) <= math.max(0.05 * e, 2.0),
            s"ndv estimate outside its band for ${r.getAs[String]("metric")}/" +
              s"${r.getAs[Long]("day")}: approx=$a exact=$e")
        }
        exportForOracle(joined.select("metric", "day", "approx_users"),
          "ndv_approx", model = true)
        joined.select(col("metric"), col("day"),
          col("exact_users"), col("approx_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            greatest(col("exact_users") * lit(0.05), lit(2.0))).as("bound_ok"))
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // The Catalyst SERVING leg of the NDV view: the user-shaped
    // datasketches distinct-count aggregate over the REGISTERED source —
    // `hll_sketch_estimate(hll_sketch_agg(user_id, lgK))` grouped
    // (metric, day) — is answered from the maintained sketch view by
    // RollupRewriteRule (used_view pinned TRUE from the analyzed plan's
    // scan roots, so a declined rewrite fails the hash), and the answer
    // is bit-equal to the single-pass aggregate because register-max
    // union is associative. Exact NDV + the band verdict ride along
    // under the approx-surface contract.
    "ndv_view_answer" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_ndva").toString
      try {
        val src = s"$root/src"; val view = s"$root/nview"
        val se = series(s, dir).select("metric", "e", "user_id")
        sources.SnapshotStore.append(se.where(col("e") % 2 === 0), src)
        sources.NdvView.refresh(s, src, view)
        sources.SnapshotStore.append(se.where(col("e") % 2 === 1), src)
        sources.NdvView.refresh(s, src, view)
        graft.plans.MaterializedRollups.enableNdv(src, view)
        try {
          val agg = sources.SnapshotStore.read(s, src)
            .groupBy(col("metric"), expr("e div 86400").as("day"))
            .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, " +
              s"${sources.NdvView.LgK}))").as("approx_users"))
          val usedView = graft.plans.PlanProbe.scansOnly(agg, "/nview")
          val exact = sources.SnapshotStore.read(s, src)
            .groupBy(col("metric"), expr("e div 86400").as("day"))
            .agg(countDistinct(col("user_id")).as("exact_users"))
          val joined = agg.join(exact, Seq("metric", "day"))
            .localCheckpoint(true)
          joined.collect().foreach { r =>
            val a = r.getAs[Long]("approx_users")
            val e = r.getAs[Long]("exact_users")
            require(math.abs(a - e) <= math.max(0.05 * e, 2.0),
              s"served ndv estimate outside its band: approx=$a exact=$e")
          }
          exportForOracle(joined.select("metric", "day", "approx_users"),
            "ndva_approx", model = true)
          joined.select(col("metric"), col("day"),
              col("exact_users"), col("approx_users"),
              (abs(col("approx_users") - col("exact_users")) <=
                greatest(col("exact_users") * lit(0.05), lit(2.0))).as("bound_ok"))
            .withColumn("used_view", lit(usedView))
        } finally graft.plans.MaterializedRollups.disable(src)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Materialized-view REWRITE: the canonical day rollup is asked of the
    // SOURCE store, and the registered RollupRewriteRule answers it from
    // the fresh maintained view (a Catalyst post-hoc resolution rule —
    // O(groups) instead of O(table)). `used_view` is derived from the
    // analyzed plan's actual scan roots and faces the oracle as TRUE, so
    // a silently-declined rewrite fails the hash even though the values
    // would still be right.
    "rollup_view_answer" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_mva").toString
      try {
        val src = s"$root/src"; val view = s"$root/view"
        val se = series(s, dir).select("metric", "e", "value")
        sources.SnapshotStore.append(se.where(col("e") % 2 === 0), src)
        sources.RollupView.refresh(s, src, view)
        sources.SnapshotStore.append(se.where(col("e") % 2 === 1), src)
        sources.RollupView.refresh(s, src, view)
        graft.plans.MaterializedRollups.enable(src, view)
        try {
          val agg = sources.SnapshotStore.read(s, src)
            .groupBy(col("metric"), expr("e div 86400").as("day"))
            .agg(count(lit(1)).as("cnt"),
              sum(col("value").cast("decimal(18,2)")).as("vsum"),
              min(col("value")).as("min_val"), max(col("value")).as("max_val"))
          val usedView = graft.plans.PlanProbe.scansOnly(agg, "/view")
          agg.select(col("metric"), col("day"), col("cnt"),
              col("vsum").cast("double").as("sum_val"),
              col("min_val"), col("max_val"),
              (col("vsum").cast("double") / col("cnt")).as("mean_val"))
            .withColumn("used_view", lit(usedView))
            .localCheckpoint(true)
        } finally graft.plans.MaterializedRollups.disable(src)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // The HOUR-grain twin of rollup_view_answer: a second maintained view
    // over the same source serves `e div 3600` groupings (each grain is
    // its own O(delta)-refreshed view — hour partials are never regrouped
    // into day answers or vice versa; the rewrite serves only the exact
    // stored shape). Same used_view pin from the analyzed plan.
    "rollup_view_answer_hour" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_mvah").toString
      try {
        val src = s"$root/src"; val view = s"$root/view"
        val se = series(s, dir).select("metric", "e", "value")
        sources.SnapshotStore.append(se.where(col("e") % 2 === 0), src)
        sources.RollupView.refresh(s, src, view, sources.RollupView.Hour)
        sources.SnapshotStore.append(se.where(col("e") % 2 === 1), src)
        sources.RollupView.refresh(s, src, view, sources.RollupView.Hour)
        graft.plans.MaterializedRollups.enable(src, view, sources.RollupView.Hour)
        try {
          val agg = sources.SnapshotStore.read(s, src)
            .groupBy(col("metric"), expr("e div 3600").as("hour"))
            .agg(count(lit(1)).as("cnt"),
              sum(col("value").cast("decimal(18,2)")).as("vsum"),
              min(col("value")).as("min_val"), max(col("value")).as("max_val"))
          val usedView = graft.plans.PlanProbe.scansOnly(agg, "/view")
          agg.select(col("metric"), col("hour"), col("cnt"),
              col("vsum").cast("double").as("sum_val"),
              col("min_val"), col("max_val"),
              (col("vsum").cast("double") / col("cnt")).as("mean_val"))
            .withColumn("used_view", lit(usedView))
            .localCheckpoint(true)
        } finally graft.plans.MaterializedRollups.disable(src)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // VIEW-OVER-VIEW: a maintained day-grain ROLLUP whose SOURCE is a
    // maintained JOIN view's store — the two-tier warehouse. Upstream
    // APPEND refreshes land as `append` commits the rollup absorbs on
    // its O(Δ) incremental path; an upstream CHURN rewrites the join
    // view once (published as its own compaction) and the rollup takes
    // its honest rebuild — both tiers' cursors compose with no special
    // plumbing (a JoinView store IS a SnapshotStore). The final partials
    // must equal the SQL day rollup over the replayed, dim-restricted
    // join.
    "rollup_over_join_view" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_vov").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"
        val jv = s"$root/jview"; val rv = s"$root/rollup"
        val se = series(s, dir).select("metric", "e", "value")
        // the dim restricts the rollup to three metric families — a real
        // enrichment join, not a pass-through
        val dim = se.select(col("metric").as("m2")).distinct()
          .where(col("m2").isin("click", "view", "purchase"))
        def refreshBoth(): Unit = {
          sources.JoinView.refreshKeys(s, l, r, jv, Seq("metric"), Seq("m2"))
          sources.RollupView.refresh(s, jv, rv)
        }
        sources.SnapshotStore.append(se.where(col("e") % 2 === 0), l)
        sources.SnapshotStore.append(dim, r)
        refreshBoth() // bootstrap both tiers
        sources.SnapshotStore.append(se.where(col("e") % 2 === 1), l)
        refreshBoth() // upstream append → downstream O(Δ) append
        sources.SnapshotStore.deleteWhere(s, l, col("value") > 150.0)
        // upstream churn → the join view's compaction-publish RECORDS its
        // O(Δ) feed → the downstream rollup absorbs it through the
        // RETRACTION path (keyed replace — pinned here), never a rebuild
        refreshBoth()
        require(sources.SnapshotStore.manifestOp(rv,
          sources.SnapshotStore.currentVersion(rv)).contains("upsert"),
          "tier-2 must absorb recorded upstream churn as a keyed replace")
        sources.RollupView.read(s, rv)
          .select(col("metric"), col("day"), col("cnt"),
            col("vsum").cast("double").as("sum_val"),
            col("vmin").as("min_val"), col("vmax").as("max_val"))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // The THIRD composition, free from the shared engine: an NDV view
    // (HLL sketch instance of the rollup IVM engine) maintained over a
    // join view's store. The recorded-feed path lives in refreshWith, so
    // an upstream CHURN absorbs downstream by dirty-group RE-SKETCH +
    // keyed replace (op pinned — sketches cannot retract; recompute-the-
    // dirty-group is the monotone answer), never a rebuild. Band oracle
    // against exact distinct counts over the final join state.
    "ndv_over_join_view" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_vovn").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"
        val jv = s"$root/jview"; val nv = s"$root/nview"
        val se = series(s, dir).select("metric", "e", "user_id")
        val dim = se.select(col("metric").as("m2")).distinct()
          .where(col("m2").isin("click", "view", "purchase"))
        def refreshBoth(): Unit = {
          sources.JoinView.refreshKeys(s, l, r, jv, Seq("metric"), Seq("m2"))
          sources.NdvView.refresh(s, jv, nv)
        }
        sources.SnapshotStore.append(se.where(col("e") % 2 === 0), l)
        sources.SnapshotStore.append(dim, r)
        refreshBoth() // bootstrap both tiers
        sources.SnapshotStore.append(se.where(col("e") % 2 === 1), l)
        refreshBoth() // upstream append → downstream O(Δ) sketch append
        sources.SnapshotStore.deleteWhere(s, l, col("user_id") % 7 === 0)
        refreshBoth() // upstream churn → recorded feed → dirty re-sketch
        require(sources.SnapshotStore.manifestOp(nv,
          sources.SnapshotStore.currentVersion(nv)).contains("upsert"),
          "the ndv tier must absorb recorded upstream churn by " +
            "dirty-group re-sketch, not a rebuild")
        val est = sources.NdvView.read(s, nv)
          .select("metric", "day", "approx_users")
        val exact = sources.SnapshotStore.read(s, jv)
          .groupBy(col("metric"), expr("e div 86400").as("day"))
          .agg(countDistinct(col("user_id")).as("exact_users"))
        val joined = est.join(exact, Seq("metric", "day"))
          .localCheckpoint(true)
        joined.collect().foreach { x =>
          val a = x.getAs[Long]("approx_users")
          val e = x.getAs[Long]("exact_users")
          require(math.abs(a - e) <= math.max(0.05 * e, 2.0),
            s"composed ndv estimate outside its band: approx=$a exact=$e")
        }
        exportForOracle(joined.select("metric", "day", "approx_users"),
          "vovn_approx", model = true)
        joined.select(col("metric"), col("day"), col("exact_users"),
          col("approx_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            greatest(col("exact_users") * lit(0.05), lit(2.0)))
            .as("bound_ok"))
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // The SECOND view-over-view composition (r18 ask-4): an AGG-JOIN MV
    // whose LEFT source is a maintained JoinView's store, joined against
    // a fresh nation dim — composition is a property of the store
    // contract, not a rollup accident. Op kinds pinned per tier:
    // upstream append → tier-2 absorbs on the delta-join path (append);
    // upstream churn (the join view's compaction-publish) → tier-2 takes
    // the honest rebuild (AggJoinView's churn algebra needs per-SOURCE
    // dirty keys, not view-row diffs — the rollup tier is the recorded-
    // feed consumer). Content faces a full three-table SQL replay.
    "agg_join_over_join_view" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_vov2").toString
      try {
        val or = s"$root/O"; val cr = s"$root/C"; val nr = s"$root/N"
        val jv = s"$root/jview"; val av = s"$root/aggview"
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val c = Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment", "c_nationkey")
        def refreshBoth(): Unit = {
          sources.JoinView.refreshKeys(s, or, cr, jv,
            Seq("o_custkey"), Seq("c_custkey"))
          sources.AggJoinView.refreshKeys(s, jv, nr, av,
            Seq("c_nationkey"), Seq("n_nationkey"),
            Seq("n_name", "c_mktsegment"), Seq("o_totalprice"))
        }
        sources.SnapshotStore.append(o.where(col("o_orderkey") % 2 === 0), or)
        sources.SnapshotStore.append(c, cr)
        sources.SnapshotStore.append(
          Tables.nation(s, dir).select("n_nationkey", "n_name"), nr)
        refreshBoth() // bootstrap both tiers
        sources.SnapshotStore.append(o.where(col("o_orderkey") % 2 =!= 0), or)
        refreshBoth() // upstream append → tier-2 O(Δ) delta-join append
        require(sources.SnapshotStore.manifestOp(av,
          sources.SnapshotStore.currentVersion(av)).contains("append"),
          "tier-2 must absorb an upstream append on the delta path")
        sources.SnapshotStore.deleteWhere(s, or, col("o_orderkey") % 5 === 0)
        refreshBoth() // upstream churn → tier-2 honest rebuild (pinned)
        require(sources.SnapshotStore.manifestOp(av,
          sources.SnapshotStore.currentVersion(av)).contains("compact"),
          "tier-2 agg-join must rebuild across an upstream rewrite")
        sources.AggJoinView.read(s, av)
          .select(col("n_name"), col("c_mktsegment"), col("cnt"),
            col("sum_o_totalprice").cast("double").as("revenue"))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Declarative data-expectations gate: six rules over lineitem — four
    // row-level checks folded into ONE conditional aggregate over ONE
    // scan, a uniqueness check (key-grouped count), and referential
    // integrity against orders (anti-join). Two rules are chosen to FAIL
    // on the clean data (discount cap, returnflag set) so both report
    // polarities face the oracle.
    "data_expectations" -> ((s, dir) => {
      import graft.operators.ValidationOps._
      graft.operators.ValidationOps.validate(Tables.lineitem(s, dir), Seq(
        NotNull("l_shipdate"),
        InRange("l_discount", 0.0, 0.05),
        InSet("l_returnflag", Seq("A", "N")),
        MatchesRegex("l_linestatus", "[OF]"),
        Unique(Seq("l_orderkey", "l_linenumber")),
        RefIn("l_orderkey", Tables.orders(s, dir), "o_orderkey")))
    }),

    // Streaming-IVM twin of rollup_view_incremental: the series arrives
    // as a REAL checkpointed stream, each micro-batch appended to the
    // source store (epoch-idempotent) and the view refreshed against the
    // new version inside the same trigger. The maintained view faces the
    // SAME from-scratch-rollup oracle — the streaming materialized view
    // must be indistinguishable from a batch recompute.
    "stream_rollup_view_parity" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_sivm").toString
      try {
        val src = s"$root/src"; val view = s"$root/view"
        graft.streaming.StreamReplay.snapshotIngestReplay(
          series(s, dir).select("metric", "e", "value"), src, view)
        sources.RollupView.read(s, view)
          .select(col("metric"), col("day"), col("cnt"),
            col("vsum").cast("double").as("sum_val"),
            col("vmin").as("min_val"), col("vmax").as("max_val"),
            (col("vsum").cast("double") / col("cnt")).as("mean_val"))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // CDC-apply parity: a stream of keyed change batches — inserts AND
    // updates re-emitting earlier event_ids with patched values — lands
    // in the snapshot store as epoch-idempotent upserts (first batch
    // bootstraps the table) through a REAL checkpointed micro-batch
    // stream, with the maintained rollup refreshed inside each trigger
    // (the update batch rewrites directories, so the view exercises the
    // retraction path under streaming). The final view faces a
    // from-scratch rollup of the last-writer-wins content.
    "stream_cdc_upsert_parity" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_cdc").toString
      try {
        val src = s"$root/src"; val view = s"$root/view"
        val se = series(s, dir).select("event_id", "metric", "e", "value")
        val b0 = se.where(col("e") % 3 === 0).withColumn("__batch", lit(0))
        val updates = se.where(col("e") % 3 === 0 && col("event_id") % 5 === 0)
          .withColumn("value", col("value") + lit(1000.0))
        val b1 = se.where(col("e") % 3 === 1).unionByName(updates)
          .withColumn("__batch", lit(1))
        val b2 = se.where(col("e") % 3 === 2).withColumn("__batch", lit(2))
        graft.streaming.StreamReplay.cdcUpsertReplay(
          b0.unionByName(b1).unionByName(b2), Seq("event_id"), src, view)
        sources.RollupView.read(s, view)
          .select(col("metric"), col("day"), col("cnt"),
            col("vsum").cast("double").as("sum_val"),
            col("vmin").as("min_val"), col("vmax").as("max_val"),
            (col("vsum").cast("double") / col("cnt")).as("mean_val"))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // The NDV view maintained by the SAME checkpointed CDC stream:
    // per-trigger keyed upsert + sketch-view refresh. The second batch
    // RE-ATTRIBUTES every 5th slice-0 event to a new synthetic user —
    // a monotone sketch cannot forget the old user, so the update MUST
    // drive the dirty-group re-sketch path, and the final estimates are
    // band-verified against exact NDV over the last-writer-wins content
    // (replayed in SQL on the oracle side).
    "stream_ndv_view_parity" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_ndvcdc").toString
      try {
        val src = s"$root/src"; val view = s"$root/view"
        val se = series(s, dir).select("event_id", "metric", "e", "user_id")
        val b0 = se.where(col("e") % 3 === 0).withColumn("__batch", lit(0))
        val updates = se.where(col("e") % 3 === 0 && col("event_id") % 5 === 0)
          .withColumn("user_id", col("user_id") + lit(1000000000L))
        val b1 = se.where(col("e") % 3 === 1).unionByName(updates)
          .withColumn("__batch", lit(1))
        val b2 = se.where(col("e") % 3 === 2).withColumn("__batch", lit(2))
        graft.streaming.StreamReplay.cdcUpsertReplay(
          b0.unionByName(b1).unionByName(b2), Seq("event_id"), src, view,
          (sp, sr, vr) => sources.NdvView.refresh(sp, sr, vr))
        val exact = sources.SnapshotStore.read(s, src)
          .groupBy(col("metric"), expr("e div 86400").as("day"))
          .agg(countDistinct(col("user_id")).as("exact_users"))
        val joined = sources.NdvView.read(s, view)
          .join(exact, Seq("metric", "day"))
          .localCheckpoint(true)
        joined.collect().foreach { r =>
          val a = r.getAs[Long]("approx_users")
          val e = r.getAs[Long]("exact_users")
          require(math.abs(a - e) <= math.max(0.05 * e, 2.0),
            s"streamed ndv estimate outside its band: approx=$a exact=$e")
        }
        exportForOracle(joined.select("metric", "day", "approx_users"),
          "ndvcdc_approx", model = true)
        joined.select(col("metric"), col("day"),
          col("exact_users"), col("approx_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            greatest(col("exact_users") * lit(0.05), lit(2.0))).as("bound_ok"))
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Blocked fuzzy title matching (entity-resolution dedup): prefix/suffix
    // union blocking + exact integer Levenshtein verify over 5-token
    // titles, with planted first-char-substituted (suffix block catches)
    // and appended-char (prefix block catches) variants — candidate
    // generation AND verdicts replay exactly in SQL.
    "fuzzy_title_pairs" -> ((s, dir) => {
      val titles = Tables.documents(s, dir).select(col("doc_id").as("id"),
        array_join(slice(TextOps.tokens(col("text")), 1, 5), " ").as("s"))
      val subVar = titles.where(col("id") % 100 === 0)
        .select((col("id") + 2000000).as("id"),
          concat(lit("X"), substring(col("s"), 2, 1 << 24)).as("s"))
      val appVar = titles.where(col("id") % 100 === 50)
        .select((col("id") + 2000000).as("id"), concat(col("s"), lit("q")).as("s"))
      DedupOps.fuzzySelfPairs(
        titles.unionByName(subVar).unionByName(appVar),
        maxDist = 2, blockLen = 4)
    }),

    // Corpus bigram LM scoring (perplexity-filter analog): add-one-smoothed
    // rational bigram probabilities, exact-decimal per-doc mean — the whole
    // model (the corpus' own count tables) and scoring re-derive in SQL,
    // no export needed.
    "text_bigram_lm" -> ((s, dir) =>
      SearchOps.bigramLmScores(Tables.documents(s, dir))),

    // Trained quality scoring: logistic GD over the bit-exact text feature
    // vector (weak-supervision labels from the proven heuristic),
    // fitted weights export as the model, scoring runs with the read-back
    // doubles — DuckDB recomputes every feature from text and every logit
    // via list_dot_product (training, like Lloyd, stays outside the
    // oracle; scoring and keep decisions are pinned bit-for-bit).
    "quality_train_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = QualityModel.trainLogistic(docs)
      val back = exportForOracle(
          s.createDataFrame(Seq(Tuple1(w.toSeq))).toDF("wv"),
          "quality_weights", model = true)
        .head.getSeq[Double](0).toArray
      QualityModel.score(docs, back)
    }),

    // Overlapping token-window chunking (RAG / pretraining context prep):
    // window=64, stride=48, tail start clamped to n-window. Map-only.
    "text_chunk" -> ((s, dir) =>
      CurationOps.chunkDocuments(
        Tables.documents(s, dir).select("doc_id", "text"),
        window = 64, stride = 48)),

    // Token budgets: whitespace + BPE-ish regex counts.
    "text_tokens" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("ws_tokens"),
        TextOps.bpeishTokenCount(col("text")).as("bpeish_tokens"))),

    // Length-weighted PPS sample: longer docs kept proportionally more
    // often (content-hash coin — deterministic, partition-independent).
    "sample_pps" -> ((s, dir) =>
      CurationOps.ppsSample(
        Tables.documents(s, dir).select("doc_id", "lang", "n_chars"),
        "n_chars", refWeight = 4000.0, baseFraction = 0.8, seed = 7L)),

    // Temperature-flattened language mixture (τ = 1/2, reference 75 = the
    // zh count): en (218 docs) is downsampled ~0.59×, zh keeps exactly
    // (p = 1 boundary), es/de/fr keep all (p > 1) — exercises both coin
    // branches on a genuinely skewed group column.
    "sample_temperature" -> ((s, dir) =>
      CurationOps.temperatureSample(
        Tables.documents(s, dir).select("doc_id", "lang"),
        groupCol = "lang", refCount = 75L, seed = 11L)),

    // Deterministic content-hash train/eval split, summarized per lang.
    "dataset_split" -> ((s, dir) =>
      CurationOps.withSplit(Tables.documents(s, dir))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))),

    // Seeded stratified sample — content-hash Bernoulli per stratum, so the
    // same (seed, doc_id) decision reproduces in ANSI SQL: oracle-checked.
    "sample_stratified" -> ((s, dir) =>
      CurationOps.stratifiedSample(
        Tables.documents(s, dir).select("doc_id", "lang"),
        "lang", Map("en" -> 0.1, "de" -> 0.5, "fr" -> 0.5), seed = 42L)),

    // Exact dedup keeping surviving rows (min doc_id per normalized text).
    "dedup_keep" -> ((s, dir) =>
      DedupOps.exactDedup(Tables.documents(s, dir)).select("doc_id", "lang", "source")),

    // Semi/anti joins: customers with vs without an urgent order — the
    // EXISTS / NOT EXISTS surface (left_semi/left_anti in the plan).
    "q_semi_anti" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val urgent = Tables.orders(s, dir).where(col("o_orderpriority") === "1-URGENT")
      cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey").as("k")).withColumn("tag", lit("has_urgent"))
        .unionByName(
          cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
            .select(col("c_custkey").as("k")).withColumn("tag", lit("no_urgent")))
    }),

    // Pivot: order counts per priority × status as columns.
    "q_pivot" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("O", "F", "P"))),

    // Explicit GROUPING SETS (rollup/cube generalization) via the SQL
    // parser surface.
    "q_grouping_sets" -> ((s, dir) =>
      withTempView(Tables.lineitem(s, dir), "lineitem_gs")(v => s"""
        |SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       sum(l_quantity) AS sum_qty
        |FROM $v
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)),

    // Deterministic second-moment stats per metric: variance/stddev of
    // value and covariance/correlation against day-of-week (weekly
    // seasonality probe). All inputs are exact decimal/integer sums; the
    // final arithmetic is the same single IEEE expression on both engines,
    // so the result is bit-deterministic (unlike builtin var_samp/corr,
    // whose merge order varies with partitioning).
    // Equi-depth (quantile-bucketed) histogram per metric — the
    // value-distribution view a fixed-width histogram (a15) distorts for
    // skewed data: ntile assigns equal-count buckets over the total
    // (value, event_id) order, so bucket edges ARE the empirical
    // quantiles. Exact row partitioning, no arithmetic to diverge.
    // Skew contract: the exact total order sorts each metric in ONE
    // window task (the decimateFaithful/ewma posture) — at 100 TB use
    // the sketch path (a9/a10 percentile_approx) and keep this as the
    // exact-verification form.
    "a29_equidepth_hist" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("metric").orderBy(col("value"), col("event_id"))
      series(s, dir)
        .withColumn("bucket", ntile(10).over(w).cast("long"))
        .groupBy("metric", "bucket")
        .agg(count(lit(1)).as("n"), min("value").as("lo"), max("value").as("hi"))
    }),

    // Higher-moment screen (skewness/kurtosis per metric) from EXACT
    // decimal power sums — the a11 determinism contract extended to 4th
    // order: value casts to decimal(7,2) so v^4 stays inside exact
    // decimal precision in BOTH engines (no precision-cap rounding), the
    // four sums are exact integers, and every double op below is the
    // identical expression tree on both sides (sqrt, *, / only — no pow).
    "a28_moments" -> ((s, dir) => {
      val v = col("value").cast("decimal(7,2)")
      val n = col("n")
      series(s, dir).groupBy("metric").agg(
          count(lit(1)).cast("double").as("n"),
          sum(v).cast("double").as("s1"),
          sum(v * v).cast("double").as("s2"),
          sum(v * v * v).cast("double").as("s3"),
          sum(v * v * v * v).cast("double").as("s4"))
        .where(n >= 2)
        .withColumn("mean_v", col("s1") / n)
        .withColumn("m2", col("s2") / n - col("mean_v") * col("mean_v"))
        .withColumn("m3", col("s3") / n -
          lit(3.0) * col("mean_v") * (col("s2") / n) +
          lit(2.0) * col("mean_v") * col("mean_v") * col("mean_v"))
        .withColumn("m4", col("s4") / n -
          lit(4.0) * col("mean_v") * (col("s3") / n) +
          lit(6.0) * col("mean_v") * col("mean_v") * (col("s2") / n) -
          lit(3.0) * col("mean_v") * col("mean_v") * col("mean_v") * col("mean_v"))
        .where(col("m2") > 0)
        .select(col("metric"), n.cast("long").as("n"), col("mean_v"), col("m2"),
          (col("m3") / (sqrt(col("m2")) * col("m2"))).as("skew_v"),
          (col("m4") / (col("m2") * col("m2")) - lit(3.0)).as("kurtosis_v"))
    }),

    "a11_dispersion" -> ((s, dir) => {
      val v = col("value").cast("decimal(18,2)")
      val dow = expr("((e div 86400) + 4) % 7").cast("decimal(18,0)")
      val n = col("n")
      series(s, dir).groupBy("metric").agg(
        count(lit(1)).cast("double").as("n"),
        sum(v).cast("double").as("sum_v"),
        sum(v * v).cast("double").as("sum_vv"),
        sum(dow).cast("double").as("sum_d"),
        sum(dow * dow).cast("double").as("sum_dd"),
        sum(v * dow).cast("double").as("sum_vd"))
      // singleton-variance guard (see a16/a25): a one-sample metric has no
      // (n - 1) denominator
      .where(col("n") >= 2)
      .select(
        col("metric"),
        n.cast("long").as("n"),
        (col("sum_v") / n).as("mean_v"),
        ((col("sum_vv") - col("sum_v") * col("sum_v") / n) / (n - 1)).as("var_v"),
        sqrt((col("sum_vv") - col("sum_v") * col("sum_v") / n) / (n - 1)).as("stddev_v"),
        ((col("sum_vd") - col("sum_v") * col("sum_d") / n) / (n - 1)).as("cov_vd"),
        ((col("sum_vd") - col("sum_v") * col("sum_d") / n) /
          sqrt((col("sum_vv") - col("sum_v") * col("sum_v") / n) *
            (col("sum_dd") - col("sum_d") * col("sum_d") / n))).as("corr_vd"))
    }),

    // Document fingerprints (bag-of-words md5 + min-shingle rolling hash).
    "doc_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.bowFingerprint(col("text")).as("bow_fp"),
        TextOps.minShingleFingerprint(col("text")).as("min_shingle_fp"))),

    // Brute-force cosine top-5 for query vectors (exact baseline).
    "ann_topk_brute" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.bruteTopK(emb.where(col("vec_id") < 8), emb, 5)
    }),

    // LSH-bucketed approximate top-5 (scale path; rows-only, recall vs
    // brute pinned by unit test).
    "ann_topk_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.lshTopK(emb.where(col("vec_id") < 8), emb, 5)
    }),

    // IVF coarse-quantized approximate top-5 (rows-only; score parity with
    // brute force pinned by unit test).
    "ann_topk_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.ivfTopK(emb.where(col("vec_id") < 8), emb, 5)
    }),

    // Product-quantization encode (the memory tier between SQ8 and raw
    // floats: m=8 subspaces × k=16 codes over dim 64). Codebooks train
    // in-query (Lloyd-L2, deterministic), export as the model, and the
    // encode runs with the READ-BACK doubles; the oracle replays argmin-L2
    // as argmax list_dot_product over the exported AUGMENTED centroids
    // (bias −½‖c‖² is model data) with the same lower-code tie-break.
    "pq_encode" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val trained = SimilarityOps.pqTrain(emb, m = 8, k = 16, updates = 1)
      val back = SimilarityOps.pqModelFromRows(
        exportForOracle(SimilarityOps.pqModelToDf(s, trained), "pq_codebook",
          model = true).collect())
      SimilarityOps.pqEncodeLong(emb, back)
    }),

    // PQ retrieval end-to-end: encode → reconstruct → approximate cosine
    // top-15 → EXACT rerank to top-5, every stage SQL-replicable from the
    // exported codebook (encode by argmax over cv_aug, reconstruction by
    // ordered flatten of cv, both scoring stages by list_dot_product) —
    // the whole serving chain faces the oracle, not just the rerank.
    "pq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val trained = SimilarityOps.pqTrain(emb, m = 8, k = 16, updates = 1)
      val back = SimilarityOps.pqModelFromRows(
        exportForOracle(SimilarityOps.pqModelToDf(s, trained), "pq_codebook",
          model = true).collect())
      SimilarityOps.pqTopK(emb.where(col("vec_id") < 8), emb, back,
        k = 5, rerankFactor = 3)
    }),

    // Johnson–Lindenstrauss projection (the dim-reduction front of an ANN
    // stack): the deterministic Gaussian matrix exports as the model, the
    // projection runs with the read-back doubles, and DuckDB recomputes
    // every component via list_dot_product. Long format (vec_id, dim_idx,
    // value) keeps the compare off list columns.
    "embedding_project" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val p = SimilarityOps.projectionMatrix(dim = 64, outDim = 16)
      val back = exportForOracle(
          s.createDataFrame(p.toSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) })
            .toDF("dim_idx", "pv"),
          "jl_projection", model = true)
        .orderBy("dim_idx").collect().map(_.getSeq[Double](1).toArray)
      SimilarityOps.projectEmbeddings(emb, back)
        .select(col("vec_id"), posexplode(col("proj")))
        .toDF("vec_id", "dim_idx", "value")
    }),

    // IVF-PQ retrieval end-to-end (the composition serving billion-vector
    // indexes: coarse probe prunes to nprobe lists, product-quantized
    // RESIDUALS reconstruct candidates from 4+m bytes): both model
    // relations (coarse centroids + residual codebooks) export, the query
    // encodes/serves with the read-back doubles, and DuckDB replays the
    // whole chain — coarse assign, residual, PQ encode, reconstruction,
    // probing, approximate screen, exact rerank — bit-for-bit.
    "ann_topk_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val trained = SimilarityOps.ivfPqTrain(emb, nlist = 8, m = 8, pqK = 16)
      val coarseBack = SimilarityOps.pqModelFromRows(
        exportForOracle(SimilarityOps.pqModelToDf(s, trained.coarse),
          "ivfpq_coarse", model = true).collect())
      val pqBack = SimilarityOps.pqModelFromRows(
        exportForOracle(SimilarityOps.pqModelToDf(s, trained.pq),
          "ivfpq_codebook", model = true).collect())
      SimilarityOps.ivfPqTopK(emb.where(col("vec_id") < 8), emb,
        SimilarityOps.IvfPqModel(coarseBack, pqBack),
        k = 5, nprobe = 3, rerankFactor = 3)
    }),

    // ANN exact-rerank legs, export-oracled: candidate GENERATION is
    // hash-based (hyperplane buckets / coarse quantizer — legitimately
    // rows-only), but the rerank is SQL — the probed (q_id, c_id) lists
    // export and DuckDB recomputes cosine top-k (same rounding and c_id
    // tie-break) over exactly those candidates. Same parameters as the
    // fused ann_topk_* queries, so the verified rerank is the one the
    // production paths fuse in.
    "ann_rerank_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.rerankTopK(
        exportForOracle(
          SimilarityOps.lshCandidates(emb.where(col("vec_id") < 8), emb),
          "ann_cands_lsh"),
        emb, 5)
    }),

    "ann_rerank_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.rerankTopK(
        exportForOracle(
          SimilarityOps.ivfCandidates(emb.where(col("vec_id") < 8), emb),
          "ann_cands_ivf"),
        emb, 5)
    }),

    // Recall@k EVALUATION stage, export-oracled: the exact and approximate
    // top-k lists export (the list CONTENTS stay pinned by ann_topk_brute's
    // oracle and the rerank legs above), and DuckDB independently replays
    // the recall computation — left join on (q_id, c_id), hit-count / k —
    // over exactly those lists. A query whose approx set misses everything
    // must still report 0.0, which the LEFT join preserves on both sides.
    "ann_recall_verify" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.where(col("vec_id") < 8)
      val exact = exportForOracle(
        SimilarityOps.bruteTopK(qs, emb, 5).select("q_id", "c_id"),
        "recall_exact")
      val lsh = exportForOracle(
        SimilarityOps.lshTopK(qs, emb, 5).select("q_id", "c_id"),
        "recall_lsh")
      val ivf = exportForOracle(
        SimilarityOps.ivfTopK(qs, emb, 5, nlist = 32, nprobe = 8)
          .select("q_id", "c_id"),
        "recall_ivf")
      SimilarityOps.recallAtK(lsh, exact).withColumn("method", lit("lsh"))
        .unionByName(
          SimilarityOps.recallAtK(ivf, exact).withColumn("method", lit("ivf")))
        .select(col("method"), col("q_id"), col("recall"))
    }),

    // Int8 (SQ8) embedding quantization — the 4× memory cut a quantized
    // ANN index stores. Encode is bit-reproducible (exact max, one pinned
    // IEEE rounding expression), so codes and scales are fully
    // oracle-checked; codes serialize to CSV for full-content compare.
    "embedding_quantize" -> ((s, dir) =>
      SimilarityOps.quantizeInt8(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("scale"),
          array_join(transform(col("q"), _.cast("string")), ",").as("q_csv"))),

    // Retrieval over the QUANTIZED index: brute cosine top-5 where both
    // sides score against the dequantized reconstruction — the parity
    // contract for serving from int8 codes. Fully SQL-expressible, so
    // the whole quantize → dequantize → score → rank chain is
    // oracle-checked.
    "ann_topk_quantized" -> ((s, dir) => {
      val dq = SimilarityOps.dequantizeInt8(
        SimilarityOps.quantizeInt8(Tables.embeddings(s, dir)))
      SimilarityOps.bruteTopK(dq.where(col("vec_id") < 8), dq, 5)
    }),

    // Embedding near-duplicates via LSH buckets over planted twins
    // (rows-only — the fused production path; its VERIFY stage is
    // oracle-checked by embedding_verify below).
    "embedding_neardup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val twins = emb.where(col("vec_id") % 100 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
      SimilarityOps.embeddingNearDupPairs(emb.unionByName(twins), minCosine = 0.95)
    }),

    // Embedding near-dup cosine VERIFY stage, export-oracled: the
    // hyperplane-bucket candidate generation is hash-based (rows-only), but
    // the cosine gate is arithmetic — the candidate pairs export WITH their
    // vectors, and DuckDB recomputes the cosine from va/vb (which also
    // cross-checks the staged norms na/nb through the score) with the same
    // >= 0.95 gate. Same planted twins and LSH parameters as
    // embedding_neardup, so the verified stage is the production one.
    "embedding_verify" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val twins = emb.where(col("vec_id") % 100 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
      SimilarityOps.cosineVerifyPairs(
        exportForOracle(
          SimilarityOps.embeddingCandidatePairs(emb.unionByName(twins)),
          "embneardup_cands"),
        minCosine = 0.95)
    }),

    // The embedding member of the streaming dedup-at-ingest family
    // replayed: the candidate pairs the TTL-bucket LSH gate emitted
    // re-attach their vectors/norms (batch-identical staging), export,
    // and DuckDB replays the exact-cosine verify over exactly those
    // pairs — embedding_verify's oracle body over the streamed set.
    "stream_embedding_verify" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val twins = emb.where(col("vec_id") % 100 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
      val corpus = emb.unionByName(twins)
      val staged = corpus.select(col("vec_id"), col("embedding").as("v"))
        .withColumn("vn", SimilarityOps.norm(col("v")))
      val withVecs = graft.streaming.StreamReplay.embeddingNearDupReplay(corpus)
        .join(staged.select(col("vec_id").as("vec_a"), col("v").as("va"),
          col("vn").as("na")), "vec_a")
        .join(staged.select(col("vec_id").as("vec_b"), col("v").as("vb"),
          col("vn").as("nb")), "vec_b")
        .select("vec_a", "vec_b", "va", "vb", "na", "nb")
      SimilarityOps.cosineVerifyPairs(
        exportForOracle(withVecs, "stream_emb_cands"), minCosine = 0.95)
    }),

    // Multimodal: oracle-checkable payload metadata.
    // Audio modality (the WAV sibling of the multimodal_* image path):
    // real RIFF/WAVE PCM payloads decoded back by chunk scan; header
    // metadata and hop-window energy/peak features, both replayed by the
    // oracle from the planted sample arithmetic — the whole
    // encode->decode->window-aggregate loop faces SQL.
    "audio_meta" -> ((s, dir) =>
      graft.operators.AudioOps.audioMeta(
        graft.operators.AudioOps.withAudioPayload(Tables.documents(s, dir))).toDF()),

    "audio_energy" -> ((s, dir) =>
      graft.operators.AudioOps.windowEnergy(
        graft.operators.AudioOps.withAudioPayload(Tables.documents(s, dir))).toDF()),

    // Streaming twin of audio_energy: the same render -> real WAV decode
    // -> hop-window fold over a checkpointed stream (stateless append,
    // the quality-gate posture); faces audio_energy's oracle verbatim.
    "stream_audio_parity" -> ((s, dir) =>
      graft.streaming.StreamReplay.audioFeaturesReplay(
        Tables.documents(s, dir).select("doc_id"))),

    // Video modality (the RIFF/AVI third leg of the multimodal triple):
    // real AVI containers — MainAVIHeader/AVIStreamHeader/BITMAPINFOHEADER
    // tree plus a movi frame run — walked back by chunk scan; header
    // metadata and every-2nd-frame byte features, both replayed by the
    // oracle from the planted container/frame arithmetic (byte_len pins
    // the encoder's exact chunk layout).
    "video_meta" -> ((s, dir) =>
      graft.operators.VideoOps.videoMeta(
        graft.operators.VideoOps.withVideoPayload(Tables.documents(s, dir))).toDF()),

    "video_frame_sample" -> ((s, dir) =>
      graft.operators.VideoOps.frameSample(
        graft.operators.VideoOps.withVideoPayload(Tables.documents(s, dir)),
        stride = 2).toDF()),

    // Streaming twin of video_frame_sample: the same render -> container
    // walk -> frame sampling over a checkpointed stream; shares the
    // oracle verbatim.
    "stream_video_parity" -> ((s, dir) =>
      graft.streaming.StreamReplay.videoFeaturesReplay(
        Tables.documents(s, dir).select("doc_id"))),

    "multimodal_meta" -> ((s, dir) => MultimodalOps.mediaMeta(Tables.documents(s, dir))),

    // Multimodal: REAL codec round trip — encode each doc as an actual
    // PNG/JPEG (planted dims = f(doc_id)), decode the container headers
    // back. The oracle recomputes format/dims/channels/byte_len in SQL, so
    // a green row proves the whole encode→parse pipeline.
    "multimodal_decode" -> ((s, dir) =>
      MultimodalOps.decodeMeta(
        MultimodalOps.withMediaPayload(Tables.documents(s, dir))).toDF()),

    // Frame sampling over real decoded pixels: every 8th pixel row, max 8
    // frames/doc; frame geometry (count, index, band length) is
    // oracle-checked, band content pinned by unit tests.
    "multimodal_frames" -> ((s, dir) =>
      MultimodalOps.sampleFrames(
        MultimodalOps.withMediaPayload(Tables.documents(s, dir))).toDF()
        .select(col("doc_id"), col("frame_idx"), col("frame_len"))),

    // Nearest-neighbor 16x16 thumbnail on real decoded pixels, re-encoded
    // as a real PNG; the stored-block PNG closed form makes the output
    // length oracle-checkable, pixel selection pinned by unit tests.
    "multimodal_resize" -> ((s, dir) =>
      MultimodalOps.resizeThumb(
        MultimodalOps.withMediaPayload(Tables.documents(s, dir))).toDF()
        .select(col("doc_id"), col("src_width"), col("src_height"),
          col("channels"), col("thumb_len"))),

    // Gopher-style n-gram repetition quality signals, one custom-Expression
    // loop per row (map-only at any scale — no n-gram explode/shuffle):
    // fraction of characters in the most frequent 2-gram, fraction of
    // characters covered by duplicated 5-grams.
    "text_repetition" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).as("chars"),
          graft.functions.TextExpressions
            .ngramRepetition(TextOps.tokens(col("text")), 2).as("r2"),
          graft.functions.TextExpressions
            .ngramRepetition(TextOps.tokens(col("text")), 5).as("r5"))
        .select(col("doc_id"),
          col("r2.top_gram").as("top_2gram"),
          col("r2.top_freq").cast("int").as("top_2gram_freq"),
          (col("r2.top_chars").cast("double") / col("chars")).as("top_2gram_frac"),
          (col("r5.dup_chars").cast("double") / col("chars")).as("dup_5gram_frac"))),

    // Cross-document duplicated spans: 5-grams present in >= 2 distinct docs
    // (per-doc-distinct explode, then ONE shuffle keyed by the gram — the
    // duplicated-passage detection shape that scales; never doc x doc).
    "text_dup_spans" -> ((s, dir) => {
      val grams = Tables.documents(s, dir).select(
        col("doc_id"),
        explode(array_distinct(graft.functions.TextExpressions
          .wordShingles(TextOps.tokens(col("text")), 5))).as("gram"))
      RelationalOps.topK(
        grams.groupBy("gram")
          .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
          .where(col("n_docs") >= 2),
        20, col("n_docs").desc, col("gram").asc)
    }),

    // Train/eval decontamination: train docs sharing an 8-gram with any
    // eval doc (content-hash split, so exact dups never straddle splits —
    // hits here are the planted near-duplicates).
    "decontaminate" -> ((s, dir) =>
      CurationOps.decontaminate(Tables.documents(s, dir).select("doc_id", "text"), n = 8)),

    // Duplicated-passage REMOVAL (the cleanup step text_dup_spans only
    // detects): drop every token covered by a cross-doc duplicated 5-gram,
    // reassemble survivors in position order. Gram-keyed shuffle, never
    // doc x doc; fully SQL-expressible, so the whole strip (coverage,
    // counts, reassembled text) is oracle-checked.
    "text_strip_dup_spans" -> ((s, dir) =>
      CurationOps.stripDupSpans(
        Tables.documents(s, dir).select("doc_id", "text"), n = 5)),

    // Frequency vocabulary: top-20 tokens by (count DESC, token ASC) — a
    // total order, so vocabulary and ids are deterministic.
    "text_vocab" -> ((s, dir) =>
      CurationOps.buildVocab(Tables.documents(s, dir), maxSize = 20)),

    // Percentile length screen: docs inside the exact [p10, p90] token-
    // count band (one broadcast stats row, map-side filter — no shuffle
    // of the corpus).
    "length_filter" -> ((s, dir) =>
      CurationOps.lengthFilter(Tables.documents(s, dir).select("doc_id", "text"))),

    // End-to-end tokenization pipeline as ONE declarative chain: strip
    // cross-doc duplicated passages, fit the vocabulary on the CLEANED
    // text (the order a real pipeline uses — dup boilerplate must not
    // dominate the vocab), encode the cleaned text against it. Each stage
    // is individually oracle-checked above; this query oracle-checks
    // their composition (the oracle chains the same three SQL stages).
    "pipeline_tokenize" -> ((s, dir) => {
      // The cleaned relation feeds TWO passes (vocab fit + encode) — a
      // model-fit-then-apply shape, so it materializes ONCE (the vocab
      // collect below forces it) instead of running the strip per
      // consumer. persist + a one-slot registry rather than
      // localCheckpoint: the registry unpersists the PREVIOUS
      // invocation's blocks, so a long-lived session holds exactly one
      // live copy instead of growing storage without bound (round-7
      // verdict item; asserted in TrendOpsSpec).
      // Guard: the cached frame may belong to a PREVIOUS SparkSession in
      // this JVM (tests, sequential mains) — unpersisting against a
      // stopped context throws and would abort this invocation before any
      // work runs; a dead session's blocks are already gone anyway.
      Option(tokenizeCache.getAndSet(null)).foreach { prev =>
        if (!prev.sparkSession.sparkContext.isStopped) prev.unpersist()
      }
      val cleaned = CurationOps.stripDupSpans(
          Tables.documents(s, dir).select("doc_id", "text"), n = 5)
        .select(col("doc_id"), col("clean_text").as("text"))
        .persist()
      tokenizeCache.set(cleaned)
      val vocab = CurationOps.buildVocab(cleaned, maxSize = 20)
        .collect().map(r => r.getAs[String]("tok") -> r.getAs[Long]("token_id")).toMap
      CurationOps.encodeTokens(cleaned, vocab)
        .select(col("doc_id"), col("n_tokens"),
          size(filter(col("token_ids"), x => x === -1L)).cast("long").as("n_oov"),
          array_join(transform(col("token_ids"), _.cast("string")), ",").as("ids_csv"))
    }),

    // Token-id encoding against the fitted vocabulary (text → ids, the
    // step before sequence packing). The vocab collect is MODEL-sized (20
    // rows — the kmeans-centroids pattern); the encode itself is one
    // map-literal transform per row, no join/shuffle. maxSize=20 < the
    // corpus' distinct-token count, so the OOV path is exercised too. The
    // id sequence serializes to CSV so the oracle compares full content.
    "text_encode_ids" -> ((s, dir) => {
      val vocab = CurationOps.buildVocab(Tables.documents(s, dir), maxSize = 20)
        .collect().map(r => r.getAs[String]("tok") -> r.getAs[Long]("token_id")).toMap
      CurationOps.encodeTokens(Tables.documents(s, dir).select("doc_id", "text"), vocab)
        .select(col("doc_id"), col("n_tokens"),
          size(filter(col("token_ids"), x => x === -1L)).cast("long").as("n_oov"),
          array_join(transform(col("token_ids"), _.cast("string")), ",").as("ids_csv"))
    }),

    // Per-source document quota (domain balancing): keep at most 10 docs
    // per source, selection ordered by content hash so the surviving set is
    // deterministic, not scan-order luck.
    "quota_per_source" -> ((s, dir) =>
      CurationOps.quotaPerGroup(Tables.documents(s, dir), "source", 10)
        .select(col("source"), col("rk").cast("long").as("rk"), col("doc_id"))),

    // Per-vector L2 norms via the codegen vec_dot Expression (exact
    // float->double widening; sequential fold matches DuckDB's
    // list_dot_product bit-exactly).
    "embedding_norms" -> ((s, dir) =>
      Tables.embeddings(s, dir).select(
        col("vec_id"), col("label"),
        SimilarityOps.norm(col("embedding")).as("l2_norm"))),

    // Per-label centroid cohesion + outlier flag: integer-quantized
    // components make the centroid sums exact (order-independent); the
    // cosine rides the pinned vecDot <-> list_dot_product contract.
    "embedding_dispersion" -> ((s, dir) =>
      // 0.05 splits this corpus (~25% flagged) — a threshold above the
      // observed max would make the flag vacuously uniform.
      SimilarityOps.labelDispersion(Tables.embeddings(s, dir), outlierBelow = 0.05)),

    // Large-volume orders (TPC-H Q18 shape): HAVING on an aggregate, then
    // join the survivors back to orders/customer. The filtered aggregate is
    // tiny, so AQE broadcasts it into both joins.
    "q18_big_orders" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir).groupBy("l_orderkey")
        .agg(sum("l_quantity").as("sum_qty")).where(col("sum_qty") > 150)
      RelationalOps.topK(
        Tables.orders(s, dir)
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_totalprice").as("total_price"), col("sum_qty")),
        20, col("total_price").desc, col("o_orderkey").asc)
    }),

    // ANN index-accuracy evaluation: recall@5 of the LSH and IVF paths
    // against the exact brute-force ranking — BAND-ORACLED (r15, the
    // a9/a26 technique): the approx neighbor PAIRS (the only
    // engine-specific part — LSH/IVF are not SQL-expressible) ride to
    // the oracle via export; the brute-force top-5 (already pinned
    // bit-exact by ann_topk_brute) and the recall = hits/5 scalar are
    // re-derived independently in DuckDB, and the recall VALUES plus the
    // recall >= floor verdicts land under the hash. Spark hard-fails a
    // floor breach pre-export. Floor: random fixture embeddings make
    // genuine approximate recall modest — the hash equality on exact
    // recall values is the strong check; the floor catches collapse.
    "ann_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.where(col("vec_id") < 8)
      val exact = SimilarityOps.bruteTopK(qs, emb, 5).localCheckpoint(true)
      // kmeans-refined coarse quantizer rides the same nlist/nprobe so
      // the two IVF legs are apples-to-apples: refinement swaps only the
      // centroid MODEL (plan stays the list equi-join) and balances the
      // lists, so recall must not regress vs the raw seeds (asserted in
      // DedupSimilaritySpec).
      val approx = Seq(
        ("lsh", SimilarityOps.lshTopK(qs, emb, 5)),
        ("ivf", SimilarityOps.ivfTopK(qs, emb, 5, nlist = 32, nprobe = 8)),
        ("ivf_kmeans", SimilarityOps.ivfTopK(qs, emb, 5, nlist = 32,
          nprobe = 8, refineIters = 2)))
        .map { case (m, df) =>
          df.select(lit(m).as("method"), col("q_id"), col("c_id"))
        }.reduce(_ unionByName _)
        // pin: this subtree feeds three recall legs plus the hits join —
        // and with export disabled (Bench) there is no read-back to pin it
        .localCheckpoint(true)
      val ap = exportForOracle(approx, "ann_approx", model = true)
      val perQ = Seq("lsh", "ivf", "ivf_kmeans").map { m =>
        SimilarityOps.recallAtK(ap.where(col("method") === m), exact)
          .withColumn("method", lit(m))
      }.reduce(_ unionByName _)
      // the floor verdict compares INTEGER hit totals per method (exact
      // in both engines — a float mean of hits/5 values could round
      // differently across summation orders at the boundary)
      val hits = ap.join(exact.select("q_id", "c_id"),
          Seq("q_id", "c_id"), "left_semi")
        .groupBy("method").agg(count(lit(1)).as("__hits"))
      val out = perQ.join(broadcast(hits), Seq("method"), "left")
        .withColumn("recall_ok", coalesce(col("__hits"), lit(0L)) >=
          when(col("method") === "lsh", lit(AnnLshMinHits))
            .otherwise(lit(AnnIvfMinHits)))
        .select("method", "q_id", "recall", "recall_ok")
        .localCheckpoint(true)
      out.collect().foreach(r => require(r.getAs[Boolean]("recall_ok"),
        s"ANN recall hits below the method floor: $r"))
      out
    }),

    // Ranked retrieval: log-free BM25 over the corpus for a fixed term set
    // (rational-function scoring — bit-reproducible in ANSI SQL). Map-only
    // scoring + one broadcast single-row stats agg + TakeOrdered top-k.
    "text_bm25" -> ((s, dir) =>
      SearchOps.bm25(Tables.documents(s, dir), Seq("spark", "join", "vector"), k = 15)
        .select(col("doc_id"), col("score"))),

    // BM25 served from the PERSISTED inverted index (SearchIndex): one
    // corpus pass at ingest, then term lookups touch only bloom-pruned
    // posting files — never the corpus. The served score replays the
    // full-scan expression tree bit-exactly, so this query runs against
    // text_bm25's unchanged full-scan DuckDB oracle: a lossy index, a
    // wrong df, or a drifted stats row all fail the hash.
    "search_index_bm25" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_sidx").toString
      try {
        val idx = s"$root/idx"
        sources.SearchIndex.index(s, Tables.documents(s, dir), idx)
        sources.SearchIndex.bm25(s, idx, Seq("spark", "join", "vector"), k = 15)
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // The INCREMENTAL leg of the inverted index: two doc_id-disjoint
    // batches indexed separately (postings + additive stats rows), then a
    // conjunctive containment probe — the decontamination lookup shape —
    // served from the grown index. The oracle replays the containment
    // over the full corpus in DuckDB, so a lost posting, a double-counted
    // stats row, or a bloom false NEGATIVE (a file wrongly skipped)
    // fails the hash.
    // IN-PLACE document RE-INDEX — the update path: index the corpus,
    // then reindex a slice with mutated text (longer docs, shifted term
    // frequencies) under one epoch; served BM25 afterwards must be
    // bit-equal to a from-scratch index of the UPDATED corpus — the
    // oracle replays the full scan over the mutated text in DuckDB, so
    // a stale posting, a half-applied delete, or a drifted stats delta
    // all fail the hash.
    "search_index_update" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_supd").toString
      try {
        val idx = s"$root/idx"
        val docs = Tables.documents(s, dir)
        sources.SearchIndex.indexEpoch(s, docs, idx, epochId = 0L)
        sources.SearchIndex.reindexEpoch(s,
          docs.where(col("doc_id") % 9 === 4)
            .withColumn("text", concat(col("text"), lit(" spark"))),
          idx, epochId = 1L)
        sources.SearchIndex.bm25(s, idx, Seq("spark", "join", "vector"), k = 15)
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // RANKED OR retrieval served from the index — the actual retrieval
    // shape: top-k docs for "any of these terms", BM25-scored, with the
    // rank itself under the hash (the bm25 legs pin the (doc, score)
    // SET; this leg pins the ORDER and the deterministic tie-break —
    // score DESC, doc_id ASC — plus the absent-term +0.0 contract, all
    // against a full-scan DuckDB replay with ROW_NUMBER).
    "search_index_topk" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_stopk").toString
      try {
        val idx = s"$root/idx"
        sources.SearchIndex.index(s, Tables.documents(s, dir), idx)
        sources.SearchIndex.topkAny(
          s, idx, Seq("data", "vector", "nosuchterm"), k = 10)
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Ranked AND-NOT retrieval — "matching X, excluding docs containing
    // any of Y" as ONE served query (the routine curation filter): the
    // exclusion set is the union of Y's bloom-pruned postings,
    // anti-joined BEFORE the top-k cut so excluded docs never consume a
    // rank slot. The oracle replays the full-scan BM25 with the same
    // pre-LIMIT NOT IN, so a leaked excluded doc, a wrongly-consumed
    // slot, or a rank drift all fail the hash.
    "search_index_andnot" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_sxnot").toString
      try {
        val idx = s"$root/idx"
        sources.SearchIndex.index(s, Tables.documents(s, dir), idx)
        sources.SearchIndex.topkExcluding(
          s, idx, Seq("data", "vector"), Seq("spark"), k = 10)
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    "search_index_and" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_sand").toString
      try {
        val idx = s"$root/idx"
        val docs = Tables.documents(s, dir)
        sources.SearchIndex.index(s, docs.where(col("doc_id") % 2 === 0), idx)
        sources.SearchIndex.index(s, docs.where(col("doc_id") % 2 =!= 0), idx)
        sources.SearchIndex.containingAll(s, idx, Seq("spark", "data"))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // POSITIONAL phrase probe served from the index — the strict
    // decontamination shape (verbatim n-gram match, not bag-of-words):
    // each phrase word's bloom-pruned postings explode to (doc, pos−i)
    // anchors; an occurrence is an anchor present in every leg. The
    // oracle replays the identical positional logic over the corpus in
    // DuckDB (unnest WITH ORDINALITY), so a lost position, an unsorted
    // pos array, or an off-by-one anchor all fail the hash.
    "search_index_phrase" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_sphr").toString
      try {
        val idx = s"$root/idx"
        sources.SearchIndex.index(s, Tables.documents(s, dir), idx)
        sources.SearchIndex.containingPhrase(s, idx, Seq("table", "value"))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Right-to-be-forgotten propagated to the SERVING index: CoW posting
    // delete + ONE negative stats row, after which served BM25 must be
    // bit-equal to an index rebuilt on the surviving corpus — the oracle
    // is the same full-scan BM25 body restricted to surviving docs, so a
    // stale N, an unrecovered token mass, or a surviving posting all
    // fail the hash.
    "search_index_delete" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_sdel").toString
      try {
        val idx = s"$root/idx"
        sources.SearchIndex.index(s, Tables.documents(s, dir), idx)
        sources.SearchIndex.deleteDocsWhere(s, idx, col("doc_id") % 7 === 3)
        sources.SearchIndex.bm25(s, idx, Seq("spark", "join", "vector"), k = 15)
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // STREAMING maintenance parity for the search index: documents
    // arrive through a real checkpointed file stream, every micro-batch
    // lands via the epoch-idempotent indexEpoch (replayed triggers are
    // no-ops; stats can never drift from postings), and BM25 served
    // from the stream-grown index must hit the SAME full-scan oracle as
    // the batch build — one oracle body, now four keys.
    "stream_search_index_parity" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_ssix").toString
      try {
        val idx = s"$root/idx"
        graft.streaming.StreamReplay.searchIndexIngestReplay(
          Tables.documents(s, dir), idx)
        sources.SearchIndex.bm25(s, idx, Seq("spark", "join", "vector"), k = 15)
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Full index LIFECYCLE under one oracle: two epoch-stamped ingest
    // batches → right-to-be-forgotten delete → maintenance compaction
    // (re-cluster + re-bloom + stats fold) → serve. Every maintenance
    // step must be invisible to the answer — the oracle is the plain
    // full-scan BM25 over the surviving corpus.
    "search_index_lifecycle" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_slcy").toString
      try {
        val idx = s"$root/idx"
        val docs = Tables.documents(s, dir)
        sources.SearchIndex.indexEpoch(s, docs.where(col("doc_id") % 2 === 0),
          idx, epochId = 0L)
        sources.SearchIndex.indexEpoch(s, docs.where(col("doc_id") % 2 =!= 0),
          idx, epochId = 1L)
        sources.SearchIndex.deleteDocsWhere(s, idx, col("doc_id") % 5 === 2)
        sources.SearchIndex.compactIndex(s, idx)
        sources.SearchIndex.bm25(s, idx, Seq("spark", "join", "vector"), k = 15)
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Incrementally maintained JOIN view (delta-join IVM — the
    // denormalization half; RollupView owns the aggregate half): orders
    // and lineitem arrive in interleaved appends (left-only, right-only
    // delta paths both taken: Δ(L⋈R) = ΔL⋈R_new ∪ L_old⋈ΔR with the
    // standing side bloom-prefiltered by the delta's keys), then a
    // source DELETE drives the dirty-key retraction rewrite. The final
    // view content must equal the plain SQL join over the surviving
    // sources — the oracle replays exactly that.
    "join_view_answer" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_jv").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/V"
        val o = Tables.orders(s, dir); val li = Tables.lineitem(s, dir)
        def refresh(): Unit =
          sources.JoinView.refresh(s, l, r, v, "o_orderkey", "l_orderkey")
        sources.SnapshotStore.append(o.where(col("o_orderkey") % 2 === 0), l)
        sources.SnapshotStore.append(li.where(col("l_orderkey") % 3 === 0), r)
        refresh() // bootstrap
        sources.SnapshotStore.append(o.where(col("o_orderkey") % 2 =!= 0), l)
        refresh() // left-only delta
        sources.SnapshotStore.append(li.where(col("l_orderkey") % 3 =!= 0), r)
        refresh() // right-only delta
        sources.SnapshotStore.deleteWhere(s, l, col("o_orderkey") % 7 === 3)
        refresh() // retraction rewrite
        sources.JoinView.read(s, v)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("l_linenumber"), col("l_partkey"), col("l_quantity"))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // STREAMING maintenance parity for the join view: lineitem drips in
    // through a real checkpointed file stream (orders stands), each
    // trigger appending epoch-stamped rows and refreshing the view via
    // the right-only delta path. The stream-grown view must equal the
    // plain SQL join — same oracle family as the batch leg.
    "stream_join_view_parity" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_sjv").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/V"
        sources.SnapshotStore.append(Tables.orders(s, dir), l)
        graft.streaming.StreamReplay.joinViewIngestReplay(
          Tables.lineitem(s, dir), "l_orderkey", l, r, v,
          "o_orderkey", "l_orderkey")
        sources.JoinView.read(s, v)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("l_linenumber"), col("l_partkey"), col("l_quantity"))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // The Catalyst SERVING leg of the join view — transparent
    // denormalization: a USER-shaped inner equi-join of the two
    // registered stores' current snapshots (with a side filter between
    // scan and join, which commutes with an inner join and re-applies to
    // view rows) is answered from the maintained JoinView by
    // JoinRewriteRule. used_view is pinned from the analyzed plan's scan
    // roots, so a declined rewrite fails the hash; the values face the
    // plain SQL join oracle.
    "join_view_serve" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_jvs").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/view"
        sources.SnapshotStore.append(Tables.orders(s, dir), l)
        sources.SnapshotStore.append(Tables.lineitem(s, dir), r)
        sources.JoinView.refresh(s, l, r, v, "o_orderkey", "l_orderkey")
        graft.plans.MaterializedJoins.enable(l, r, v, "o_orderkey", "l_orderkey")
        try {
          val lf = sources.SnapshotStore.read(s, l)
            .where(col("o_orderpriority") === "1-URGENT")
          val rf = sources.SnapshotStore.read(s, r)
          val q = lf.join(rf, lf("o_orderkey") === rf("l_orderkey"))
          val usedView = graft.plans.PlanProbe.scansOnly(q, "/view")
          q.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
              col("l_linenumber"), col("l_partkey"), col("l_quantity"))
            .withColumn("used_view", lit(usedView))
            .localCheckpoint(true)
        } finally graft.plans.MaterializedJoins.disable(l)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Git-like BRANCHES on the snapshot store: fork the table mid-history
    // (one manifest write, zero data copied), let main and the branch
    // diverge (main gains a third batch; the branch runs a candidate
    // deletion pass), read BOTH — isolation means each side equals its
    // own lifecycle replayed in SQL. The union with a src tag puts both
    // worlds under one hash.
    "snapshot_branch_read" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_br").toString
      try {
        val li = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        sources.SnapshotStore.append(li.where(col("l_orderkey") % 3 === 0), root)
        sources.SnapshotStore.append(li.where(col("l_orderkey") % 3 === 1), root)
        val br = sources.SnapshotStore.createBranch(root, "candidate")
        sources.SnapshotStore.append(li.where(col("l_orderkey") % 3 === 2), root)
        sources.SnapshotStore.deleteWhere(s, br, col("l_orderkey") % 5 === 0)
        sources.SnapshotStore.read(s, root).withColumn("src", lit("main"))
          .unionByName(
            sources.SnapshotStore.read(s, br).withColumn("src", lit("branch")))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Branch DIFF — the review step before keeping or discarding a fork:
    // main gains a batch the branch never saw; the branch deletes rows
    // and appends a mutated batch. The net content diff (multiset EXCEPT
    // both ways, side-tagged) must equal the divergence replayed in SQL.
    "snapshot_branch_diff" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_brd").toString
      try {
        val li = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        sources.SnapshotStore.append(li.where(col("l_orderkey") % 3 === 0), root)
        sources.SnapshotStore.append(li.where(col("l_orderkey") % 3 === 1), root)
        val br = sources.SnapshotStore.createBranch(root, "candidate")
        sources.SnapshotStore.append(li.where(col("l_orderkey") % 3 === 2), root)
        sources.SnapshotStore.deleteWhere(s, br, col("l_orderkey") % 5 === 0)
        sources.SnapshotStore.append(
          li.where(col("l_orderkey") % 3 === 2)
            .withColumn("l_quantity", col("l_quantity") + lit(100.0)), br)
        sources.SnapshotStore.diff(s, root, br).localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Branch MERGE lifecycle: fork, run a curation pass on the fork
    // (deletion + mutated re-append), fast-forward merge back by
    // reference (one manifest write, zero bytes copied), read main —
    // which must now equal the branch's lifecycle replayed in SQL.
    "snapshot_branch_merge" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_brm").toString
      try {
        val li = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        sources.SnapshotStore.append(li.where(col("l_orderkey") % 2 === 0), root)
        sources.SnapshotStore.append(li.where(col("l_orderkey") % 2 =!= 0), root)
        val br = sources.SnapshotStore.createBranch(root, "curation")
        sources.SnapshotStore.deleteWhere(s, br, col("l_quantity") > 40.0)
        sources.SnapshotStore.append(
          li.where(col("l_quantity") > 40.0)
            .withColumn("l_quantity", lit(40.0)), br)
        sources.SnapshotStore.mergeBranch(s, root, "curation")
        sources.SnapshotStore.read(s, root).localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // MAINTAINED APPROXIMATE-QUANTILE view — the deterministic mergeable
    // quantile summary (fixed-bin histogram) that closes the one
    // documented IVM decline: bootstrap freezes per-metric bin edges,
    // a delta appends bin-count partials O(Δ), a source DELETE appends
    // NEGATIVE partials straight off the change feed (counts retract by
    // arithmetic — no dirty-group recompute, the property GK/KLL lack),
    // and served estimates are pure arithmetic over (counts, edges) —
    // so the oracle hashes the ESTIMATES exactly (stronger than a band):
    // DuckDB replays the identical binning + cumulative-interpolation
    // expression tree over the surviving source and the exported edges.
    "quantile_view_answer" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_qv").toString
      try {
        val src = s"$root/src"; val v = s"$root/view"
        val sr = series(s, dir).select("metric", "e", "value")
        sources.SnapshotStore.append(sr.where(col("e") % 2 === 0), src)
        sources.QuantileView.refresh(s, src, v) // bootstrap: freeze edges
        sources.SnapshotStore.append(sr.where(col("e") % 2 =!= 0), src)
        sources.QuantileView.refresh(s, src, v) // O(Δ) delta partials
        sources.SnapshotStore.deleteWhere(s, src, col("e") % 5 === 0)
        sources.QuantileView.refresh(s, src, v) // churn: NEGATIVE partials
        exportForOracle(sources.QuantileView.edgesFor(s, v),
          "qview_edges", model = true)
        sources.QuantileView.quantiles(s, v, Seq(0.5, 0.9, 0.99))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // QUANTILE-over-JOIN MV: approximate percentiles of a measure per
    // dim attribute (p50/p90/p99 order total per market segment) as a
    // maintained view — QuantileView's deterministic fixed-bin signed
    // counts composed with AggJoinView's join-delta machinery under
    // GLOBAL frozen edges (per-group edges would break the signed
    // arithmetic when churn moves a row between groups). Deltas AND
    // churn (a delete plus a group-MOVING dim upsert) stay pure
    // arithmetic appends; the estimates hash EXACTLY in the oracle's
    // replay of the same binning + interpolation under the exported
    // frozen edges (the quantile_view_answer technique, lifted to the
    // join).
    "quantile_join_view_answer" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_qjv").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/view"
        val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        def refresh(): Unit = sources.MultiQuantileJoinView.refresh(s,
          Seq(l, r), v,
          Seq(sources.MultiAggJoinView.Edge(0, Seq("c_custkey"), Seq("o_custkey"))),
          Seq("c_mktsegment"), "o_totalprice")
        sources.SnapshotStore.append(c, l)
        sources.SnapshotStore.append(o.where(col("o_orderkey") % 2 === 0), r)
        refresh() // bootstrap: freeze global edges, bin once
        sources.SnapshotStore.append(o.where(col("o_orderkey") % 2 =!= 0), r)
        refresh() // O(Δ) delta partials
        sources.SnapshotStore.deleteWhere(s, r, col("o_orderkey") % 5 === 0)
        sources.SnapshotStore.upsert(s,
          c.where(col("c_custkey") % 10 === 0)
            .withColumn("c_mktsegment", lit("MOVED")), l, Seq("c_custkey"))
        refresh() // churn: ± legs, group mass transfers, ONE append
        sources.MultiQuantileJoinView.compact(s, v)
        exportForOracle(sources.MultiQuantileJoinView.edgesFor(s, v)
          .select("lo", "w", "bins"), "qjview_edges", model = true)
        sources.MultiQuantileJoinView.quantiles(s, v, Seq(0.5, 0.9, 0.99))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // STREAMING maintenance of the quantile-over-join MV: customers
    // stand, orders drip through a checkpointed file stream, every
    // trigger binning its delta-join rows as signed counts inside the
    // trigger (the in-envelope append path under replay-idempotent
    // packed epochs; the first trigger freezes the edges, later triggers
    // either bin inside them or pay the refreeze rebuild — both
    // idempotent). The stream-grown estimates must hash-match the
    // oracle's replay under the exported FINAL edges.
    "stream_quantile_join_parity" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_sqjv").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/view"
        sources.SnapshotStore.append(
          Tables.customer(s, dir).select("c_custkey", "c_mktsegment"), l)
        graft.streaming.StreamReplay.viewIngestReplay(
          Tables.orders(s, dir).where(col("o_orderkey") % 2 === 0)
            .select("o_orderkey", "o_custkey", "o_totalprice"),
          "o_orderkey", r,
          sp => sources.MultiQuantileJoinView.refresh(sp, Seq(l, r), v,
            Seq(sources.MultiAggJoinView.Edge(0, Seq("c_custkey"), Seq("o_custkey"))),
            Seq("c_mktsegment"), "o_totalprice"))
        exportForOracle(sources.MultiQuantileJoinView.edgesFor(s, v)
          .select("lo", "w", "bins"), "sqjv_edges", model = true)
        sources.MultiQuantileJoinView.quantiles(s, v, Seq(0.5, 0.9))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // STREAMING maintenance of the N-WAY quantile MV: customer + nation
    // stand, the FACT drips through a checkpointed file stream, every
    // trigger folding its telescoped signed-bin delta term inside the
    // trigger (the first trigger freezes the edges over the 3-way join;
    // later triggers bin inside them or pay the idempotent refreeze —
    // replay-idempotent under the N-way cursor stamps). The stream-grown
    // estimates must hash-match the oracle's replay under the exported
    // FINAL edges.
    "stream_quantile_join_multiway_parity" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_smqj").toString
      try {
        val or = s"$root/O"; val cr = s"$root/C"; val nr = s"$root/N"
        val v = s"$root/view"
        val roots = Seq(or, cr, nr)
        val edges = Seq(
          sources.MultiAggJoinView.Edge(0, Seq("o_custkey"), Seq("c_custkey")),
          sources.MultiAggJoinView.Edge(1, Seq("c_nationkey"), Seq("n_nationkey")))
        sources.SnapshotStore.append(
          Tables.customer(s, dir).select("c_custkey", "c_nationkey"), cr)
        sources.SnapshotStore.append(
          Tables.nation(s, dir).select("n_nationkey", "n_name"), nr)
        graft.streaming.StreamReplay.viewIngestReplay(
          Tables.orders(s, dir).where(col("o_orderkey") % 4 === 0)
            .select("o_orderkey", "o_custkey", "o_totalprice"),
          "o_orderkey", or,
          sp => sources.MultiQuantileJoinView.refresh(sp, roots, v, edges,
            Seq("n_name"), "o_totalprice"))
        exportForOracle(sources.MultiQuantileJoinView.edgesFor(s, v)
          .select("lo", "w", "bins"), "smqj_edges", model = true)
        sources.MultiQuantileJoinView.quantiles(s, v, Seq(0.5, 0.9))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // QUANTILE SERVING ARM (the r18 ask-1 hole closed): a user-shaped
    // percentile_approx aggregate over the REGISTERED series store is
    // answered from the maintained view's O(bins) read — the table scan
    // leaves the plan (used_view pins it). Serving is the registry's
    // EXPLICIT approximation opt-in: the served estimate is the view's
    // deterministic fixed-bin interpolation (≤ 2·w of exact), NOT
    // percentile_approx's GK answer — which is exactly what makes the
    // oracle STRONGER here: DuckDB replays the identical binning +
    // interpolation under the exported frozen edges and the estimates
    // hash EXACTLY (GK's answer could only ever band-match).
    "quantile_view_serve" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_qvs").toString
      try {
        val src = s"$root/src"; val v = s"$root/qview"
        sources.SnapshotStore.append(
          series(s, dir).select("metric", "e", "value"), src)
        sources.QuantileView.refresh(s, src, v)
        graft.plans.MaterializedQuantiles.enable(src, v)
        try {
          val q = sources.SnapshotStore.read(s, src)
            .groupBy(col("metric"), expr("e div 86400").as("bucket"))
            .agg(percentile_approx(col("value"), lit(0.5), lit(1000))
              .as("p50"),
              percentile_approx(col("value"), lit(0.9), lit(1000))
                .as("p90"))
          val usedView = graft.plans.PlanProbe.scansOnly(q, "/qview")
          exportForOracle(sources.QuantileView.edgesFor(s, v),
            "qvs_edges", model = true)
          q.withColumn("used_view", lit(usedView)).localCheckpoint(true)
        } finally graft.plans.MaterializedQuantiles.disable(src)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // The JOIN quantile serving arm: percentile-per-dim-attribute over a
    // registered customer⋈orders is answered from the quantile view's
    // O(bins) counts — the fact×dim join AND the GK aggregate leave the
    // plan. Same explicit-opt-in + exact-hash-replay contract as the
    // single-table serve.
    "quantile_join_view_serve" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_qjvs").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/view"
        sources.SnapshotStore.append(
          Tables.customer(s, dir).select("c_custkey", "c_mktsegment"), l)
        sources.SnapshotStore.append(Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice"), r)
        val edges =
          Seq(sources.MultiAggJoinView.Edge(0, Seq("c_custkey"), Seq("o_custkey")))
        sources.MultiQuantileJoinView.refresh(s, Seq(l, r), v, edges,
          Seq("c_mktsegment"), "o_totalprice")
        graft.plans.MaterializedMultiJoins.enableQuantile(Seq(l, r), v, edges,
          Seq("c_mktsegment"), "o_totalprice")
        try {
          val lf = sources.SnapshotStore.read(s, l)
          val rf = sources.SnapshotStore.read(s, r)
          val q = lf.join(rf, lf("c_custkey") === rf("o_custkey"))
            .groupBy("c_mktsegment")
            .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(1000))
              .as("p50"),
              percentile_approx(col("o_totalprice"), lit(0.9), lit(1000))
                .as("p90"))
          val usedView = graft.plans.PlanProbe.scansOnly(q, "/view")
          exportForOracle(sources.MultiQuantileJoinView.edgesFor(s, v)
            .select("lo", "w", "bins"), "qjvs_edges", model = true)
          q.withColumn("used_view", lit(usedView)).localCheckpoint(true)
        } finally graft.plans.MaterializedMultiJoins.disableView(v)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // CATALYST serving of the N-WAY quantile MV: percentile_approx over
    // the full 3-way tree, grouped by the snowflake-leaf attribute, is
    // answered from MultiQuantileJoinView's O(bins) read through the
    // QuantileRewriteRule's multiway arm (the shared MultiTreeMatch
    // plan matcher) — the whole join TREE and the GK aggregate leave the
    // plan. Estimates replay exact-hash under the exported edges.
    "quantile_join_view_multiway_serve" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_mqjs").toString
      try {
        val or = s"$root/O"; val cr = s"$root/C"; val nr = s"$root/N"
        val v = s"$root/view"
        val roots = Seq(or, cr, nr)
        val edges = Seq(
          sources.MultiAggJoinView.Edge(0, Seq("o_custkey"), Seq("c_custkey")),
          sources.MultiAggJoinView.Edge(1, Seq("c_nationkey"), Seq("n_nationkey")))
        sources.SnapshotStore.append(Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice"), or)
        sources.SnapshotStore.append(
          Tables.customer(s, dir).select("c_custkey", "c_nationkey"), cr)
        sources.SnapshotStore.append(
          Tables.nation(s, dir).select("n_nationkey", "n_name"), nr)
        sources.MultiQuantileJoinView.refresh(s, roots, v, edges,
          Seq("n_name"), "o_totalprice")
        graft.plans.MaterializedMultiJoins.enableQuantile(roots, v, edges,
          Seq("n_name"), "o_totalprice")
        try {
          val of = sources.SnapshotStore.read(s, or)
          val cf = sources.SnapshotStore.read(s, cr)
          val nf = sources.SnapshotStore.read(s, nr)
          val q = of.join(cf, of("o_custkey") === cf("c_custkey"))
            .join(nf, cf("c_nationkey") === nf("n_nationkey"))
            .groupBy("n_name")
            .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(1000))
              .as("p50"),
              percentile_approx(col("o_totalprice"), lit(0.9), lit(1000))
                .as("p90"))
          val usedView = graft.plans.PlanProbe.scansOnly(q, "/view")
          exportForOracle(sources.MultiQuantileJoinView.edgesFor(s, v)
            .select("lo", "w", "bins"), "mqjs_edges", model = true)
          q.withColumn("used_view", lit(usedView)).localCheckpoint(true)
        } finally graft.plans.MaterializedMultiJoins.disable(v)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // STALE quantile-join serving (the r18 ask-5 residual): the view's
    // cursor lags a gap holding an order APPEND (shifted key copies —
    // same values, deterministically in-envelope) AND a group-MOVING
    // customer churn, and the rewrite still serves — compensated on the
    // fly from stored counts plus the gap's SIGNED delta counts (counts
    // retract: the one view family whose stale path is sound over churn,
    // which the monotone sketch views must decline). Estimates replay
    // exact-hash in the oracle under the exported bootstrap-frozen edges.
    "quantile_join_view_stale" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_qjvt").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/view"
        val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        sources.SnapshotStore.append(c, l)
        sources.SnapshotStore.append(o, r)
        val edges =
          Seq(sources.MultiAggJoinView.Edge(0, Seq("c_custkey"), Seq("o_custkey")))
        sources.MultiQuantileJoinView.refresh(s, Seq(l, r), v, edges,
          Seq("c_mktsegment"), "o_totalprice")
        val stamp = sources.SnapshotStore.lastEpoch(v)
        graft.plans.MaterializedMultiJoins.enableQuantile(Seq(l, r), v, edges,
          Seq("c_mktsegment"), "o_totalprice", serveStale = true)
        try {
          // the gap, NO refresh: append shifted-key copies of the %3
          // orders (values repeat the observed set — cannot escape the
          // frozen envelope) and MOVE every %10 customer's segment
          sources.SnapshotStore.append(
            o.where(col("o_orderkey") % 3 === 0)
              .withColumn("o_orderkey", col("o_orderkey") + 10000000L), r)
          sources.SnapshotStore.upsert(s,
            c.where(col("c_custkey") % 10 === 0)
              .withColumn("c_mktsegment", lit("MOVED")), l, Seq("c_custkey"))
          val lf = sources.SnapshotStore.read(s, l)
          val rf = sources.SnapshotStore.read(s, r)
          val q = lf.join(rf, lf("c_custkey") === rf("o_custkey"))
            .groupBy("c_mktsegment")
            .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(1000))
              .as("p50"),
              percentile_approx(col("o_totalprice"), lit(0.9), lit(1000))
                .as("p90"))
          val usedView = graft.plans.PlanProbe.scansAny(q, "/view")
          require(sources.SnapshotStore.lastEpoch(v) == stamp,
            "compensated serving must not move the view's cursor")
          exportForOracle(sources.MultiQuantileJoinView.edgesFor(s, v)
            .select("lo", "w", "bins"), "qjvt_edges", model = true)
          q.withColumn("used_view", lit(usedView)).localCheckpoint(true)
        } finally graft.plans.MaterializedMultiJoins.disableView(v)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Quantile over an N-WAY JOIN TREE — the last cell of the
    // {agg, ndv, quantile} × {1, 2, N}-table MV matrix: signed bin
    // counts under ONE global freeze folded through the telescoped
    // per-table delta terms (MultiAggJoinView's identity), so fact
    // deltas, snowflake-leaf appends, and MIXED append+churn gaps all
    // stay pure arithmetic — ONE stamped append per refresh, never a
    // dirty-group recompute. The oracle replays the identical binning +
    // interpolation over the final 3-way join under the exported edges.
    "quantile_join_view_multiway" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_mqjv").toString
      try {
        val or = s"$root/O"; val cr = s"$root/C"; val nr = s"$root/N"
        val v = s"$root/view"
        val roots = Seq(or, cr, nr)
        val edges = Seq(
          sources.MultiAggJoinView.Edge(0, Seq("o_custkey"), Seq("c_custkey")),
          sources.MultiAggJoinView.Edge(1, Seq("c_nationkey"), Seq("n_nationkey")))
        // HALF the orders universe and 3 refreshes (the family-budget
        // sizing rationale: per-refresh fixed stage overhead dominates
        // at sf0.1; the scalable posture is ScaleGate's `mqjoin` row,
        // and the spec drives every path on small data)
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .where(col("o_orderkey") % 2 === 0)
        val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
        val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
        val natType = c.schema("c_nationkey").dataType
        def refresh(): Unit = sources.MultiQuantileJoinView.refresh(
          s, roots, v, edges, Seq("n_name"), "o_totalprice")
        sources.SnapshotStore.append(o.where(col("o_orderkey") % 4 === 0), or)
        sources.SnapshotStore.append(c, cr)
        sources.SnapshotStore.append(n.where(col("n_nationkey") < 20), nr)
        refresh() // bootstrap: freeze global edges over the 3-way join
        // ONE mixed append gap: a fact delta AND the snowflake-LEAF
        // delta (previously-unmatched customers join in) — two positive
        // telescoped terms in one stamped append
        sources.SnapshotStore.append(o.where(col("o_orderkey") % 4 =!= 0), or)
        sources.SnapshotStore.append(n.where(col("n_nationkey") >= 20), nr)
        refresh()
        sources.SnapshotStore.deleteWhere(s, or, col("o_orderkey") % 5 === 0)
        sources.SnapshotStore.upsert(s,
          c.where(col("c_custkey") % 10 === 0)
            .withColumn("c_nationkey", lit(0).cast(natType)), cr,
          Seq("c_custkey"))
        refresh() // mixed churn: ± legs + mass transfer, ONE append
        sources.MultiQuantileJoinView.compact(s, v)
        exportForOracle(sources.MultiQuantileJoinView.edgesFor(s, v)
          .select("lo", "w", "bins"), "mqjv_edges", model = true)
        sources.MultiQuantileJoinView.quantiles(s, v, Seq(0.5, 0.9, 0.99))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // STALE N-way quantile serving: a MIXED gap (fact append +
    // group-moving dim churn) lands AFTER the last refresh and
    // the answer comes from compensatedQuantiles — stored counts merged
    // with the gap's telescoped signed terms under the SAME frozen
    // edges, bit-equal to refresh-then-serve, while the view's cursor
    // stays untouched. The oracle replays the final state under the
    // exported (bootstrap-frozen) edges.
    "quantile_join_view_multiway_stale" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_mqjt").toString
      try {
        val or = s"$root/O"; val cr = s"$root/C"; val nr = s"$root/N"
        val v = s"$root/view"
        val roots = Seq(or, cr, nr)
        val edges = Seq(
          sources.MultiAggJoinView.Edge(0, Seq("o_custkey"), Seq("c_custkey")),
          sources.MultiAggJoinView.Edge(1, Seq("c_nationkey"), Seq("n_nationkey")))
        // half the orders universe — the family-budget sizing rationale
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .where(col("o_orderkey") % 2 === 0)
        val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
        val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
        val natType = c.schema("c_nationkey").dataType
        sources.SnapshotStore.append(o.where(col("o_orderkey") % 4 === 0), or)
        sources.SnapshotStore.append(c, cr)
        sources.SnapshotStore.append(n, nr)
        sources.MultiQuantileJoinView.refresh(s, roots, v, edges,
          Seq("n_name"), "o_totalprice")
        val stamp = sources.SnapshotStore.lastEpoch(v)
        // the gap, NO refresh: the fact APPENDS while a %10 customer
        // band moves nation (dim CHURN — the group-mass-transfer leg
        // that monotone summaries must decline) — all inside the frozen
        // envelope; fact-delete retraction is the answer query's leg
        sources.SnapshotStore.append(o.where(col("o_orderkey") % 4 =!= 0), or)
        sources.SnapshotStore.upsert(s,
          c.where(col("c_custkey") % 10 === 0)
            .withColumn("c_nationkey", lit(0).cast(natType)), cr,
          Seq("c_custkey"))
        val comp = sources.MultiQuantileJoinView.compensatedQuantiles(
          s, roots, v, edges, Seq("n_name"), "o_totalprice",
          Seq(0.5, 0.9, 0.99))
        require(comp.nonEmpty,
          "an in-envelope mixed gap must compensate without a refresh")
        require(sources.SnapshotStore.lastEpoch(v) == stamp,
          "compensated serving must not move the view's cursor")
        exportForOracle(sources.MultiQuantileJoinView.edgesFor(s, v)
          .select("lo", "w", "bins"), "mqjt_edges", model = true)
        comp.get.localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // SCHEMA-EVOLUTION lifecycle on the snapshot store: append a narrow
    // era, append a WIDENED era (adds o_orderstatus), run a keyed upsert
    // whose widened batch touches BOTH eras (its CoW rewrites span
    // pre- and post-evolution directories), then read with mergeSchema —
    // pre-evolution survivors must read the added column as NULL, the
    // upserted and post-evolution rows carry real values, nothing is
    // silently dropped. The oracle replays the whole lifecycle in SQL.
    "snapshot_schema_evolve" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_sev").toString
      try {
        val o = Tables.orders(s, dir)
        val narrow = o.select("o_orderkey", "o_totalprice")
        val wide = o.select("o_orderkey", "o_totalprice", "o_orderstatus")
        sources.SnapshotStore.append(narrow.where(col("o_orderkey") % 2 === 0), root)
        sources.SnapshotStore.append(wide.where(col("o_orderkey") % 2 =!= 0), root)
        sources.SnapshotStore.upsert(s,
          wide.where(col("o_orderkey") % 7 === 3)
            .withColumn("o_totalprice", col("o_totalprice") + lit(100.0)),
          root, Seq("o_orderkey"))
        sources.SnapshotStore.read(s, root, mergeSchema = true)
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Branch REBASE lifecycle — the diverged-branch reconciliation: fork,
    // let the parent move (a new batch the branch never saw) WHILE the
    // branch runs a curation pass (CoW delete + capped re-append of its
    // fork-time content), rebase the branch onto the moved head (pure
    // manifest surgery: parent's append + branch's curation compose,
    // zero bytes copied), fast-forward merge through the rebase base,
    // read main — which must equal both lifecycles replayed in SQL.
    "snapshot_branch_rebase" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_brr").toString
      try {
        val li = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        sources.SnapshotStore.append(li.where(col("l_orderkey") % 3 === 0), root)
        sources.SnapshotStore.append(li.where(col("l_orderkey") % 3 === 1), root)
        val br = sources.SnapshotStore.createBranch(root, "curation")
        sources.SnapshotStore.deleteWhere(s, br, col("l_quantity") > 40.0)
        sources.SnapshotStore.append(
          li.where(col("l_orderkey") % 3 =!= 2 && col("l_quantity") > 40.0)
            .withColumn("l_quantity", lit(40.0)), br)
        sources.SnapshotStore.append(li.where(col("l_orderkey") % 3 === 2), root)
        sources.SnapshotStore.rebaseBranch(s, root, "curation")
        sources.SnapshotStore.mergeBranch(s, root, "curation")
        sources.SnapshotStore.read(s, root).localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // KEY-GRANULAR branch rebase — the row-level escalation of the dir
    // conflict: fork, BOTH sides CoW-delete DISJOINT row sets out of the
    // SAME fork-time directories (dir-granular reconciliation must
    // refuse), the branch also appends a re-keyed slice, then
    // rebaseBranch(keys = l_orderkey) replays the branch's net row
    // changes onto the parent's current content and the merge
    // fast-forwards. Main must equal both curation passes composed.
    "snapshot_branch_rebase_rows" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_brw").toString
      try {
        val li = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        sources.SnapshotStore.append(li, root)
        val br = sources.SnapshotStore.createBranch(root, "curation")
        sources.SnapshotStore.deleteWhere(s, br, col("l_orderkey") % 7 === 1)
        sources.SnapshotStore.append(
          li.where(col("l_orderkey") % 7 === 3)
            .withColumn("l_orderkey", col("l_orderkey") + lit(10000000L)), br)
        sources.SnapshotStore.deleteWhere(s, root, col("l_orderkey") % 7 === 2)
        sources.SnapshotStore.rebaseBranch(s, root, "curation",
          keys = Seq("l_orderkey"))
        sources.SnapshotStore.mergeBranch(s, root, "curation")
        sources.SnapshotStore.read(s, root).localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // KEY-GRANULAR rebase ACROSS SCHEMA EVOLUTION: the branch WIDENS
    // (appends a batch carrying a new column) while both sides CoW the
    // same fork-time dirs on disjoint keys — rebase(keys) composes by
    // null-filling the narrow (parent) side per the store's own
    // additive-evolution contract; only the both-sides-exclusive
    // (rename) signature refuses. Main must equal both passes composed,
    // pre-evolution survivors reading the added column as NULL.
    "snapshot_branch_rebase_evolve" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_bre").toString
      try {
        val li = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        sources.SnapshotStore.append(li, root)
        val br = sources.SnapshotStore.createBranch(root, "curation")
        sources.SnapshotStore.deleteWhere(s, br, col("l_orderkey") % 7 === 1)
        sources.SnapshotStore.append( // the WIDENED batch: adds l_src
          li.where(col("l_orderkey") % 7 === 3)
            .withColumn("l_orderkey", col("l_orderkey") + lit(10000000L))
            .withColumn("l_src", lit("branch")), br)
        sources.SnapshotStore.deleteWhere(s, root, col("l_orderkey") % 7 === 2)
        sources.SnapshotStore.rebaseBranch(s, root, "curation",
          keys = Seq("l_orderkey"))
        sources.SnapshotStore.mergeBranch(s, root, "curation")
        sources.SnapshotStore.read(s, root, mergeSchema = true)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
            "l_src")
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // COMPOSITE-key join view: two column families of lineitem keyed
    // (orderkey, linenumber), maintained through bootstrap + left/right
    // deltas + a retraction that deletes SOME lines of an order while
    // its sibling lines survive (the dirty-key granularity proof: a
    // single-key view would retract the whole order). The key pair is
    // NOT unique in the fixture, so this also pins multiset join
    // maintenance — duplicate key groups cross-product identically in
    // the view and the SQL replay.
    "join_view_composite" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_jvc").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/V"
        // a quarter of lineitem: this query re-exercises join_view_answer's
        // maintenance paths (which runs full-size) with composite keys +
        // multiset semantics on top — the path evidence doesn't need the
        // full table twice, and the view's duplicate-key cross products
        // already amplify the compared row count
        val li = Tables.lineitem(s, dir).where(col("l_orderkey") % 4 === 1)
        val lf = li.select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice")
        val rf = li.select(col("l_orderkey").as("r_orderkey"),
          col("l_linenumber").as("r_linenumber"),
          col("l_returnflag"), col("l_discount"))
        def refresh(): Unit = sources.JoinView.refreshKeys(s, l, r, v,
          Seq("l_orderkey", "l_linenumber"),
          Seq("r_orderkey", "r_linenumber"))
        sources.SnapshotStore.append(lf.where(col("l_orderkey") % 2 === 0), l)
        sources.SnapshotStore.append(rf.where(col("r_orderkey") % 2 === 0), r)
        refresh() // bootstrap
        sources.SnapshotStore.append(lf.where(col("l_orderkey") % 2 =!= 0), l)
        refresh() // left-only composite delta
        sources.SnapshotStore.append(rf.where(col("r_orderkey") % 2 =!= 0), r)
        refresh() // right-only composite delta
        sources.SnapshotStore.deleteWhere(s, l, col("l_quantity") > 45.0)
        refresh() // per-line retraction: sibling lines of the order survive
        sources.JoinView.read(s, v).localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // LEFT-OUTER join view lifecycle — the fact-to-optional-dim shape
    // maintained incrementally: bootstrap with genuinely unmatched
    // customers (null-extended), a left delta (pure append), a right
    // delta whose MATCH ARRIVAL converts standing null rows to matched
    // rows (retract + append, published as the view's own rewrite), and
    // a two-sided churn whose recompute re-null-extends a customer whose
    // orders were all deleted. The final view must equal the plain SQL
    // LEFT JOIN of the surviving source states.
    "join_view_outer" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_jvo").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/V"
        val c = Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment", "c_acctbal")
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        def refresh(): Unit = sources.JoinView.refresh(
          s, l, r, v, "c_custkey", "o_custkey", "left_outer")
        sources.SnapshotStore.append(c.where(col("c_custkey") % 2 === 0), l)
        sources.SnapshotStore.append(o.where(col("o_custkey") % 3 === 0), r)
        refresh() // bootstrap: unmatched customers null-extend
        sources.SnapshotStore.append(c.where(col("c_custkey") % 2 =!= 0), l)
        refresh() // left-only delta: pure O(Δ) append
        sources.SnapshotStore.append(o.where(col("o_custkey") % 3 =!= 0), r)
        refresh() // match arrival: null rows retract as their orders land
        sources.SnapshotStore.deleteWhere(s, r, col("o_orderkey") % 5 === 0)
        sources.SnapshotStore.deleteWhere(s, l, col("c_custkey") % 11 === 7)
        refresh() // churn: dirty-key recompute re-null-extends
        sources.JoinView.read(s, v).localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // STREAMING maintenance of the LEFT-OUTER join view — the
    // match-arrival torture: customers stand (most initially unmatched →
    // null-extended at bootstrap), orders drip through a checkpointed
    // file stream, and every trigger's right batch converts standing
    // null rows as their orders land (the refresh alternates pure O(Δ)
    // appends with conversion rewrites). The stream-grown view must
    // equal the plain SQL LEFT JOIN.
    "stream_join_view_outer_parity" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_sjvo").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/V"
        sources.SnapshotStore.append(Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment", "c_acctbal"), l)
        graft.streaming.StreamReplay.joinViewIngestReplay(
          Tables.orders(s, dir)
            .select("o_orderkey", "o_custkey", "o_totalprice"),
          "o_orderkey", l, r, v, "c_custkey", "o_custkey",
          how = "left_outer")
        sources.JoinView.read(s, v).localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Catalyst SERVING of the left-outer view: a USER-shaped left join
    // (with a LEFT-side filter, the only side that commutes with ⟕) is
    // answered from the maintained view — used_view pinned from the
    // analyzed plan's scan roots so a declined rewrite fails the hash.
    "join_view_outer_serve" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_jvos").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/view"
        sources.SnapshotStore.append(Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment", "c_acctbal"), l)
        sources.SnapshotStore.append(Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice"), r)
        sources.JoinView.refresh(
          s, l, r, v, "c_custkey", "o_custkey", "left_outer")
        graft.plans.MaterializedJoins.enable(
          l, r, v, "c_custkey", "o_custkey", "left_outer")
        try {
          val lf = sources.SnapshotStore.read(s, l)
            .where(col("c_mktsegment") === "BUILDING")
          val rf = sources.SnapshotStore.read(s, r)
          val q = lf.join(rf, lf("c_custkey") === rf("o_custkey"), "left_outer")
          val usedView = graft.plans.PlanProbe.scansOnly(q, "/view")
          q.withColumn("used_view", lit(usedView)).localCheckpoint(true)
        } finally graft.plans.MaterializedJoins.disable(l)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // FULL-outer join-view lifecycle: bootstrap with unmatched rows on
    // BOTH sides, a left delta converting standing null-LEFT rows (the
    // ΔL-direction match arrival the left-outer view never needs), a
    // right delta converting null-RIGHT rows, then churn on both sides —
    // a customer delete re-null-extends its surviving orders as
    // unmatched-RIGHT rows (retargeted by the coalesce survivor key).
    "join_view_full_outer" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_jvf").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/V"
        val c = Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment", "c_acctbal")
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        def refresh(): Unit = sources.JoinView.refresh(
          s, l, r, v, "c_custkey", "o_custkey", "full_outer")
        sources.SnapshotStore.append(c.where(col("c_custkey") % 2 === 0), l)
        sources.SnapshotStore.append(o.where(col("o_custkey") % 3 === 0), r)
        refresh() // bootstrap: both sides carry null-extended rows
        sources.SnapshotStore.append(c.where(col("c_custkey") % 2 =!= 0), l)
        refresh() // ΔL match arrival: unmatched-right orders convert
        sources.SnapshotStore.append(o.where(col("o_custkey") % 3 =!= 0), r)
        refresh() // ΔR match arrival: null-extended customers convert
        sources.SnapshotStore.deleteWhere(s, r, col("o_orderkey") % 5 === 0)
        sources.SnapshotStore.deleteWhere(s, l, col("c_custkey") % 11 === 7)
        refresh() // churn: deleted customers re-null-extend their orders
        sources.JoinView.read(s, v).localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // STREAMING maintenance of the FULL-outer join view: most customers
    // stand, orders drip through a checkpointed file stream (each right
    // batch both converts standing null-right rows AND null-extends its
    // own unmatched rows — the full-only delta term), then ONE batch left
    // delta converts the stream-accumulated unmatched-right rows. The
    // stream-grown view must equal the plain SQL FULL JOIN.
    "stream_join_view_full_parity" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_sjvf").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/V"
        val c = Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment", "c_acctbal")
        sources.SnapshotStore.append(c.where(col("c_custkey") % 7 =!= 3), l)
        graft.streaming.StreamReplay.joinViewIngestReplay(
          Tables.orders(s, dir)
            .select("o_orderkey", "o_custkey", "o_totalprice"),
          "o_orderkey", l, r, v, "c_custkey", "o_custkey",
          how = "full_outer")
        sources.SnapshotStore.append(c.where(col("c_custkey") % 7 === 3), l)
        sources.JoinView.refresh(
          s, l, r, v, "c_custkey", "o_custkey", "full_outer")
        sources.JoinView.read(s, v).localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Catalyst SERVING of the full-outer view: a USER-shaped full join
    // (no side filters — neither commutes with ⟗) is answered from the
    // maintained view — used_view pinned from the analyzed plan's scan
    // roots so a declined rewrite fails the hash.
    "join_view_full_serve" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_jvfs").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/view"
        sources.SnapshotStore.append(Tables.customer(s, dir)
          .where(col("c_custkey") % 11 =!= 7)
          .select("c_custkey", "c_mktsegment", "c_acctbal"), l)
        sources.SnapshotStore.append(Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice"), r)
        sources.JoinView.refresh(
          s, l, r, v, "c_custkey", "o_custkey", "full_outer")
        graft.plans.MaterializedJoins.enable(
          l, r, v, "c_custkey", "o_custkey", "full_outer")
        try {
          val lf = sources.SnapshotStore.read(s, l)
          val rf = sources.SnapshotStore.read(s, r)
          val q = lf.join(rf, lf("c_custkey") === rf("o_custkey"), "full_outer")
          val usedView = graft.plans.PlanProbe.scansOnly(q, "/view")
          q.withColumn("used_view", lit(usedView)).localCheckpoint(true)
        } finally graft.plans.MaterializedJoins.disable(l)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // AGGREGATE-OVER-JOIN maintained view (the star-schema MV) —
    // count/sum partials over the delta-join identity, composed through
    // the full lifecycle: bootstrap with both sides partial, a left-only
    // delta, a right-only delta, then churn on BOTH feeds retracted by
    // PURE ARITHMETIC (negative partials off the change feeds — no view
    // rewrite), and a compaction folding the signed residue. The merged
    // groups must equal the SQL GROUP BY over the full join replay.
    "agg_join_view_answer" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_ajv").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/V"
        val c = Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment", "c_acctbal")
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        def refresh(): Unit = sources.AggJoinView.refresh(
          s, l, r, v, "c_custkey", "o_custkey",
          Seq("c_mktsegment", "o_orderstatus"), Seq("o_totalprice"))
        sources.SnapshotStore.append(c.where(col("c_custkey") % 2 === 0), l)
        sources.SnapshotStore.append(o.where(col("o_custkey") % 3 === 0), r)
        refresh() // bootstrap: full join folded once
        sources.SnapshotStore.append(c.where(col("c_custkey") % 2 =!= 0), l)
        refresh() // left-only delta: ΔL⋈R_new folded positive
        sources.SnapshotStore.append(o.where(col("o_custkey") % 3 =!= 0), r)
        refresh() // right-only delta: L_old⋈ΔR folded positive
        sources.SnapshotStore.deleteWhere(s, r, col("o_orderkey") % 5 === 0)
        sources.SnapshotStore.deleteWhere(s, l, col("c_custkey") % 11 === 7)
        refresh() // two-sided churn: ±partials in ONE append, no rewrite
        sources.AggJoinView.compact(s, v) // fold the signed residue
        sources.AggJoinView.read(s, v)
          .select(col("c_mktsegment"), col("o_orderstatus"),
            col("cnt").as("n_orders"),
            col("sum_o_totalprice").cast("double").as("revenue"))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // EXTENTS aggregate-over-join MV (min/max next to count/sum): the
    // append legs stay O(Δ) folds (min/max are insert-monotone); the
    // churn leg deletes per-group MAXIMA on the fact side plus a dim-side
    // key slice — arithmetic cannot un-derive an extremum, so the dirty
    // GROUPS re-aggregate whole from the current join and REPLACE by
    // group key (tombstoning emptied groups). Merged groups must equal
    // the SQL GROUP BY with min/max over the surviving join.
    "agg_join_view_extents" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_ajx").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/V"
        val c = Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment", "c_acctbal")
        // half the fact universe: the 15-group star shape makes ANY churn
        // dirty most groups, so the recompute is honestly O(join x dirty
        // fraction) — halving the facts keeps every lifecycle path at
        // half the bench cost (the scalable key-grouped posture is
        // ScaleGate's `aggjoinx` row)
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .where(col("o_orderkey") % 2 === 0)
        def refresh(): Unit = sources.AggJoinView.refreshKeys(
          s, l, r, v, Seq("c_custkey"), Seq("o_custkey"),
          Seq("c_mktsegment", "o_orderstatus"), Seq("o_totalprice"),
          extents = true)
        sources.SnapshotStore.append(c.where(col("c_custkey") % 2 === 0), l)
        sources.SnapshotStore.append(o.where(col("o_custkey") % 3 === 0), r)
        refresh() // bootstrap with extents
        sources.SnapshotStore.append(c.where(col("c_custkey") % 2 =!= 0), l)
        sources.SnapshotStore.append(o.where(col("o_custkey") % 3 =!= 0), r)
        refresh() // two-sided append delta: min/max fold O(Δ)
        sources.SnapshotStore.deleteWhere(s, r, col("o_totalprice") > 400000.0)
        sources.SnapshotStore.deleteWhere(s, l, col("c_custkey") % 11 === 7)
        refresh() // extremum churn: dirty-group recompute + keyed replace
        sources.AggJoinView.compact(s, v)
        sources.AggJoinView.read(s, v)
          .select(col("c_mktsegment"), col("o_orderstatus"),
            col("cnt").as("n_orders"),
            col("sum_o_totalprice").cast("double").as("revenue"),
            col("min_o_totalprice").as("min_price"),
            col("max_o_totalprice").as("max_price"))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Catalyst SERVING of the aggregate-over-join MV: a USER-shaped
    // `customer JOIN orders GROUP BY segment, status` with count/decimal-
    // sum aggregates (and a grouping-column filter, the only kind that
    // commutes through join AND aggregation) is answered from the
    // O(groups) maintained partials — used_view pinned from the analyzed
    // plan's scan roots so a declined rewrite fails the hash.
    "agg_join_view_serve" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_ajvs").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/view"
        sources.SnapshotStore.append(Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment", "c_acctbal"), l)
        sources.SnapshotStore.append(Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"), r)
        sources.AggJoinView.refresh(s, l, r, v, "c_custkey", "o_custkey",
          Seq("c_mktsegment", "o_orderstatus"), Seq("o_totalprice"))
        graft.plans.MaterializedAggJoins.enable(l, r, v,
          "c_custkey", "o_custkey",
          Seq("c_mktsegment", "o_orderstatus"), Seq("o_totalprice"))
        try {
          val lf = sources.SnapshotStore.read(s, l)
            .where(col("c_mktsegment") === "BUILDING")
          val rf = sources.SnapshotStore.read(s, r)
          val q = lf.join(rf, lf("c_custkey") === rf("o_custkey"))
            .groupBy("c_mktsegment", "o_orderstatus")
            .agg(count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
              // avg served as stored-sum ÷ cnt with Average's own decimal
              // arithmetic (see MultiAggJoinRewriteRule) — the oracle replays
              // the half-up rounding in exact integer micro-units
              avg(col("o_totalprice").cast("decimal(18,2)")).as("ap"))
          val usedView = graft.plans.PlanProbe.scansOnly(q, "/view")
          q.select(col("c_mktsegment"), col("o_orderstatus"), col("n_orders"),
              col("rev").cast("double").as("revenue"),
              col("ap").cast("double").as("avg_price"))
            .withColumn("used_view", lit(usedView))
            .localCheckpoint(true)
        } finally graft.plans.MaterializedAggJoins.disable(l)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // STALE-compensated serving of the aggregate-over-join MV — round-16
    // items 1 and 2 COMPOSED: both sources gained append-only commits
    // after the last refresh; the user-shaped join+GROUP BY is answered
    // as stored partials merged with the gap's delta-join rows folded on
    // the fly (O(partials + Δ join)), instead of declining. used_view
    // pins the view stayed in the plan; values face the CURRENT sources.
    "agg_join_view_stale_serve" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_ajss").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/view"
        val c = Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment", "c_acctbal")
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        sources.SnapshotStore.append(c.where(col("c_custkey") % 2 === 0), l)
        sources.SnapshotStore.append(o.where(col("o_custkey") % 3 === 0), r)
        sources.AggJoinView.refresh(s, l, r, v, "c_custkey", "o_custkey",
          Seq("c_mktsegment", "o_orderstatus"), Seq("o_totalprice"))
        graft.plans.MaterializedAggJoins.enable(l, r, v,
          "c_custkey", "o_custkey",
          Seq("c_mktsegment", "o_orderstatus"), Seq("o_totalprice"),
          serveStale = true)
        try {
          // the gap: append-only commits on BOTH sides, NO refresh
          sources.SnapshotStore.append(c.where(col("c_custkey") % 2 =!= 0), l)
          sources.SnapshotStore.append(o.where(col("o_custkey") % 3 =!= 0), r)
          val lf = sources.SnapshotStore.read(s, l)
          val rf = sources.SnapshotStore.read(s, r)
          val q = lf.join(rf, lf("c_custkey") === rf("o_custkey"))
            .groupBy("c_mktsegment", "o_orderstatus")
            .agg(count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
          val usedView = graft.plans.PlanProbe.scansAny(q, "/view")
          q.select(col("c_mktsegment"), col("o_orderstatus"), col("n_orders"),
              col("rev").cast("double").as("revenue"))
            .withColumn("used_view", lit(usedView))
            .localCheckpoint(true)
        } finally graft.plans.MaterializedAggJoins.disable(l)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // MULTI-WAY (snowflake) aggregate-over-join MV — AggJoinView
    // generalized to a fact + N-dim join TREE (lineitem × part ×
    // supplier × nation-via-supplier × orders, the q9_product_profit
    // shape), composed through the full lifecycle: bootstrap with a
    // partial fact and a partial snowflake LEAF, a fact-only delta, a
    // leaf-only delta (previously-unmatched rows join in), then CHURN on
    // the fact (delete) AND a mid-tree dim (supplier upsert that MOVES
    // rows between nation groups) retracted by the telescoped arithmetic
    // (per-table ± terms in ONE append — no view rewrite), a late fact
    // append, and a compaction folding the signed residue. The merged
    // groups must equal the SQL GROUP BY over the full 5-way replay.
    "agg_join_view_multiway" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_majv").toString
      try {
        val fr = s"$root/F"; val pr = s"$root/P"; val sr = s"$root/S"
        val nr = s"$root/N"; val or = s"$root/O"; val v = s"$root/V"
        val roots = Seq(fr, pr, sr, nr, or)
        val edges = Seq(
          sources.MultiAggJoinView.Edge(0, Seq("l_partkey"), Seq("p_partkey")),
          sources.MultiAggJoinView.Edge(0, Seq("l_suppkey"), Seq("s_suppkey")),
          sources.MultiAggJoinView.Edge(2, Seq("s_nationkey"), Seq("n_nationkey")),
          sources.MultiAggJoinView.Edge(0, Seq("l_orderkey"), Seq("o_orderkey")))
        val groups = Seq("n_name", "o_orderpriority")
        val measures = Seq("l_extendedprice")
        def refresh(): Unit = sources.MultiAggJoinView.refresh(
          s, roots, v, edges, groups, measures)
        // quarter the fact universe (the extents-MV sizing rationale):
        // the 5-way lifecycle runs every maintenance path — six
        // refreshes over a five-table tree — and the scalable posture is
        // ScaleGate's `maggjoin` row (flat at 10x on the full fixture)
        val f = Tables.lineitem(s, dir).where(col("l_orderkey") % 4 === 0)
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice")
        sources.SnapshotStore.append(f.where(col("l_orderkey") % 3 === 0), fr)
        sources.SnapshotStore.append(
          Tables.part(s, dir).select("p_partkey", "p_brand"), pr)
        sources.SnapshotStore.append(
          Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"), sr)
        sources.SnapshotStore.append(Tables.nation(s, dir)
          .select("n_nationkey", "n_name")
          .where(col("n_nationkey") < 20), nr)
        sources.SnapshotStore.append(
          Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"), or)
        refresh() // bootstrap: full 5-way join folded once
        // ONE multi-table append gap: the fact delta AND the
        // snowflake-LEAF delta (unmatched rows join in) fold as two
        // telescoped terms in one stamped append (refresh count sized to
        // the family budget; the per-table paths are spec-pinned)
        sources.SnapshotStore.append(f.where(col("l_orderkey") % 3 === 1), fr)
        sources.SnapshotStore.append(Tables.nation(s, dir)
          .select("n_nationkey", "n_name")
          .where(col("n_nationkey") >= 20), nr)
        refresh()
        sources.SnapshotStore.deleteWhere(s, fr, col("l_quantity") > 45)
        sources.SnapshotStore.upsert(s,
          Tables.supplier(s, dir).where(col("s_suppkey") % 10 === 0)
            .select(col("s_suppkey"), lit(0).as("s_nationkey")), sr,
          Seq("s_suppkey"))
        refresh() // fact churn + group-MOVING dim churn: ± terms, one append
        sources.SnapshotStore.append(f.where(col("l_orderkey") % 3 === 2), fr)
        refresh() // late fact delta after churn
        sources.MultiAggJoinView.compact(s, v) // fold the signed residue
        sources.MultiAggJoinView.read(s, v)
          .select(col("n_name"), col("o_orderpriority"),
            col("cnt").as("n_items"),
            col("sum_l_extendedprice").cast("double").as("revenue"))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // EXTENTS multi-way MV (min/max beside count/sum over the 5-way
    // tree): append legs stay the O(Δ) telescoped folds (min/max are
    // insert-monotone); the churn gap — a fact delete of per-group
    // maxima AND a nation append in ONE gap — pays the dirty-GROUP
    // recompute, REPLACING by group key beside the append-moved table's
    // delta term in ONE atomic publish (upsertAndAppendEpoch). Merged
    // groups must equal the SQL GROUP BY with min/max over the replay.
    "agg_join_view_multiway_extents" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_majx").toString
      try {
        val fr = s"$root/F"; val pr = s"$root/P"; val sr = s"$root/S"
        val nr = s"$root/N"; val or = s"$root/O"; val v = s"$root/V"
        val roots = Seq(fr, pr, sr, nr, or)
        val edges = Seq(
          sources.MultiAggJoinView.Edge(0, Seq("l_partkey"), Seq("p_partkey")),
          sources.MultiAggJoinView.Edge(0, Seq("l_suppkey"), Seq("s_suppkey")),
          sources.MultiAggJoinView.Edge(2, Seq("s_nationkey"), Seq("n_nationkey")),
          sources.MultiAggJoinView.Edge(0, Seq("l_orderkey"), Seq("o_orderkey")))
        val groups = Seq("n_name", "o_orderpriority")
        def refresh(): Unit = sources.MultiAggJoinView.refresh(
          s, roots, v, edges, groups, Seq("l_extendedprice"), extents = true)
        // eighth of the fact universe: the extents churn recomputes the
        // dirty groups whole — honest O(dirty rows); ScaleGate's
        // `maggjoinx` row carries the scale posture
        val f = Tables.lineitem(s, dir).where(col("l_orderkey") % 8 === 0)
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
        sources.SnapshotStore.append(f.where(col("l_orderkey") % 3 === 0), fr)
        sources.SnapshotStore.append(
          Tables.part(s, dir).select("p_partkey", "p_brand"), pr)
        sources.SnapshotStore.append(
          Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"), sr)
        sources.SnapshotStore.append(Tables.nation(s, dir)
          .select("n_nationkey", "n_name")
          .where(col("n_nationkey") < 20), nr)
        sources.SnapshotStore.append(
          Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"), or)
        refresh() // bootstrap with min/max partials
        sources.SnapshotStore.append(f.where(col("l_orderkey") % 3 =!= 0), fr)
        refresh() // fact delta: extents fold O(Δ)
        // the MIXED gap: extremum churn (heavy line items vanish) AND the
        // snowflake leaf grows — one refresh, one atomic publish
        sources.SnapshotStore.deleteWhere(s, fr,
          col("l_extendedprice") > 80000.0)
        sources.SnapshotStore.append(Tables.nation(s, dir)
          .select("n_nationkey", "n_name")
          .where(col("n_nationkey") >= 20), nr)
        refresh()
        sources.MultiAggJoinView.compact(s, v)
        sources.MultiAggJoinView.read(s, v)
          .select(col("n_name"), col("o_orderpriority"),
            col("cnt").as("n_items"),
            col("sum_l_extendedprice").cast("double").as("revenue"),
            col("min_l_extendedprice").as("min_price"),
            col("max_l_extendedprice").as("max_price"))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Catalyst SERVING of the multi-way MV: a USER-shaped 5-table inner
    // join — written in a DIFFERENT join order than the registration
    // (inner joins commute; the rule matches the flattened tree) — with
    // count/decimal-sum/avg aggregates and a grouping-column filter is
    // answered from the O(groups) partials; the whole join tree leaves
    // the plan (used_view pinned from the analyzed scan roots).
    "agg_join_view_multiway_serve" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_majs").toString
      try {
        val fr = s"$root/F"; val pr = s"$root/P"; val sr = s"$root/S"
        val nr = s"$root/N"; val or = s"$root/O"; val v = s"$root/view"
        val roots = Seq(fr, pr, sr, nr, or)
        val edges = Seq(
          sources.MultiAggJoinView.Edge(0, Seq("l_partkey"), Seq("p_partkey")),
          sources.MultiAggJoinView.Edge(0, Seq("l_suppkey"), Seq("s_suppkey")),
          sources.MultiAggJoinView.Edge(2, Seq("s_nationkey"), Seq("n_nationkey")),
          sources.MultiAggJoinView.Edge(0, Seq("l_orderkey"), Seq("o_orderkey")))
        sources.SnapshotStore.append(Tables.lineitem(s, dir)
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice"), fr)
        sources.SnapshotStore.append(
          Tables.part(s, dir).select("p_partkey", "p_brand"), pr)
        sources.SnapshotStore.append(
          Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"), sr)
        sources.SnapshotStore.append(
          Tables.nation(s, dir).select("n_nationkey", "n_name"), nr)
        sources.SnapshotStore.append(
          Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"), or)
        sources.MultiAggJoinView.refresh(s, roots, v, edges,
          Seq("n_name", "o_orderpriority"), Seq("l_extendedprice"))
        graft.plans.MaterializedMultiJoins.enable(roots, v, edges,
          Seq("n_name", "o_orderpriority"), Seq("l_extendedprice"))
        try {
          val f = sources.SnapshotStore.read(s, fr)
          val p = sources.SnapshotStore.read(s, pr)
          val su = sources.SnapshotStore.read(s, sr)
          val n = sources.SnapshotStore.read(s, nr)
            .where(col("n_name") =!= "CHINA")
          val o = sources.SnapshotStore.read(s, or)
          // dims-first order, snowflake leg pre-joined — NOT the
          // registration's table order
          val sn = su.join(n, su("s_nationkey") === n("n_nationkey"))
          val q = f.join(o, f("l_orderkey") === o("o_orderkey"))
            .join(sn, f("l_suppkey") === sn("s_suppkey"))
            .join(p, f("l_partkey") === p("p_partkey"))
            .groupBy("n_name", "o_orderpriority")
            .agg(count(lit(1)).as("n_items"),
              sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"),
              avg(col("l_extendedprice").cast("decimal(18,2)")).as("ap"))
          val usedView = graft.plans.PlanProbe.scansOnly(q, "/view")
          q.select(col("n_name"), col("o_orderpriority"), col("n_items"),
              col("rev").cast("double").as("revenue"),
              col("ap").cast("double").as("avg_price"))
            .withColumn("used_view", lit(usedView))
            .localCheckpoint(true)
        } finally graft.plans.MaterializedMultiJoins.disable(v)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // STALE-compensated serving of the multi-way MV: append-only gaps on
    // the fact AND the snowflake leaf, no refresh — the user-shaped
    // 5-way aggregate is answered as stored partials merged with the
    // telescoped Δ terms folded on the fly. Values face the CURRENT
    // sources; used_view pins the view stayed in the plan.
    "agg_join_view_multiway_stale" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_majt").toString
      try {
        val fr = s"$root/F"; val pr = s"$root/P"; val sr = s"$root/S"
        val nr = s"$root/N"; val or = s"$root/O"; val v = s"$root/view"
        val roots = Seq(fr, pr, sr, nr, or)
        val edges = Seq(
          sources.MultiAggJoinView.Edge(0, Seq("l_partkey"), Seq("p_partkey")),
          sources.MultiAggJoinView.Edge(0, Seq("l_suppkey"), Seq("s_suppkey")),
          sources.MultiAggJoinView.Edge(2, Seq("s_nationkey"), Seq("n_nationkey")),
          sources.MultiAggJoinView.Edge(0, Seq("l_orderkey"), Seq("o_orderkey")))
        // quarter the fact universe — the sibling lifecycle's sizing
        // (family budget): the compensated-read semantics are
        // data-size-blind and ScaleGate's `maggjoin` row owns the scale posture
        val f = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
          .where(col("l_orderkey") % 4 === 0)
        sources.SnapshotStore.append(f.where(col("l_orderkey") % 3 === 0), fr)
        sources.SnapshotStore.append(
          Tables.part(s, dir).select("p_partkey", "p_brand"), pr)
        sources.SnapshotStore.append(
          Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"), sr)
        sources.SnapshotStore.append(Tables.nation(s, dir)
          .select("n_nationkey", "n_name")
          .where(col("n_nationkey") < 20), nr)
        sources.SnapshotStore.append(
          Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"), or)
        sources.MultiAggJoinView.refresh(s, roots, v, edges,
          Seq("n_name", "o_orderpriority"), Seq("l_extendedprice"))
        graft.plans.MaterializedMultiJoins.enable(roots, v, edges,
          Seq("n_name", "o_orderpriority"), Seq("l_extendedprice"),
          serveStale = true)
        try {
          // the gap: append-only commits on fact AND leaf, NO refresh
          sources.SnapshotStore.append(f.where(col("l_orderkey") % 3 =!= 0), fr)
          sources.SnapshotStore.append(Tables.nation(s, dir)
            .select("n_nationkey", "n_name")
            .where(col("n_nationkey") >= 20), nr)
          val ff = sources.SnapshotStore.read(s, fr)
          val p = sources.SnapshotStore.read(s, pr)
          val su = sources.SnapshotStore.read(s, sr)
          val n = sources.SnapshotStore.read(s, nr)
          val o = sources.SnapshotStore.read(s, or)
          val q = ff.join(p, ff("l_partkey") === p("p_partkey"))
            .join(su, ff("l_suppkey") === su("s_suppkey"))
            .join(n, su("s_nationkey") === n("n_nationkey"))
            .join(o, ff("l_orderkey") === o("o_orderkey"))
            .groupBy("n_name", "o_orderpriority")
            .agg(count(lit(1)).as("n_items"),
              sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
          val usedView = graft.plans.PlanProbe.scansAny(q, "/view")
          q.select(col("n_name"), col("o_orderpriority"), col("n_items"),
              col("rev").cast("double").as("revenue"))
            .withColumn("used_view", lit(usedView))
            .localCheckpoint(true)
        } finally graft.plans.MaterializedMultiJoins.disable(v)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // DISTINCT-COUNT over a join, maintained (NdvView's HLL partials
    // composed with AggJoinView's delta machinery): unique users per
    // (segment, status) across customer⋈orders through the full
    // lifecycle — bootstrap, left delta, right delta, churn (dirty-group
    // re-sketch + atomic keyed replace), compaction. Register-max union
    // keeps the maintained estimate bit-equal to a single-pass sketch;
    // the approx-surface contract rides exact NDV + band verdict beside
    // the exported estimate (Spark hard-fails out-of-band pre-export).
    "agg_join_view_ndv" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_ajn").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/V"
        val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus")
        // the distinct column is the join key itself — registered by its
        // LEFT spelling (right keys are dropped from the view shape); the
        // rewrite normalizes a user's hll(o_custkey) onto it
        def refresh(): Unit = sources.MultiNdvJoinView.refresh(
          s, Seq(l, r), v, Seq(sources.MultiAggJoinView.Edge(0, Seq("c_custkey"), Seq("o_custkey"))),
          Seq("c_mktsegment", "o_orderstatus"), "c_custkey")
        sources.SnapshotStore.append(c.where(col("c_custkey") % 2 === 0), l)
        sources.SnapshotStore.append(o.where(col("o_custkey") % 3 === 0), r)
        refresh() // bootstrap
        sources.SnapshotStore.append(c.where(col("c_custkey") % 2 =!= 0), l)
        refresh() // left delta: ΔL⋈R sketches append
        sources.SnapshotStore.append(o.where(col("o_custkey") % 3 =!= 0), r)
        refresh() // right delta
        sources.SnapshotStore.deleteWhere(s, r, col("o_orderkey") % 7 === 0)
        refresh() // churn: dirty groups re-sketch + atomic replace
        sources.MultiNdvJoinView.compact(s, v)
        val lf = sources.SnapshotStore.read(s, l)
        val rf = sources.SnapshotStore.read(s, r)
        val exact = lf.join(rf, lf("c_custkey") === rf("o_custkey"))
          .groupBy("c_mktsegment", "o_orderstatus")
          .agg(countDistinct(col("o_custkey")).as("exact_users"))
        val joined = sources.MultiNdvJoinView.read(s, v)
          .join(exact, Seq("c_mktsegment", "o_orderstatus"))
          .localCheckpoint(true)
        joined.collect().foreach { x =>
          val a = x.getAs[Long]("approx_c_custkey")
          val e = x.getAs[Long]("exact_users")
          require(math.abs(a - e) <= math.max(0.05 * e, 2.0),
            s"ndv-join estimate outside its band: approx=$a exact=$e")
        }
        exportForOracle(joined.select(col("c_mktsegment"),
          col("o_orderstatus"), col("approx_c_custkey").as("approx_users")),
          "ajn_approx", model = true)
        joined.select(col("c_mktsegment"), col("o_orderstatus"),
          col("exact_users"),
          col("approx_c_custkey").as("approx_users"),
          (abs(col("approx_c_custkey") - col("exact_users")) <=
            greatest(col("exact_users") * lit(0.05), lit(2.0))).as("bound_ok"))
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Catalyst SERVING of the distinct-count-over-join MV: the
    // user-shaped datasketches aggregate over the registered join —
    // hll_sketch_estimate(hll_sketch_agg(o_custkey, lgK)) grouped
    // (segment, status) — is answered from the stored sketches
    // (used_view pinned), bit-equal to the single-pass aggregate; exact
    // NDV + band verdict ride along per the approx-surface contract.
    "agg_join_view_ndv_serve" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_ajns").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/view"
        sources.SnapshotStore.append(
          Tables.customer(s, dir).select("c_custkey", "c_mktsegment"), l)
        sources.SnapshotStore.append(Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus"), r)
        sources.MultiNdvJoinView.refresh(s, Seq(l, r), v,
          Seq(sources.MultiAggJoinView.Edge(0, Seq("c_custkey"), Seq("o_custkey"))),
          Seq("c_mktsegment", "o_orderstatus"), "c_custkey")
        graft.plans.MaterializedMultiJoins.enableNdv(Seq(l, r), v,
          Seq(sources.MultiAggJoinView.Edge(0, Seq("c_custkey"), Seq("o_custkey"))),
          Seq("c_mktsegment", "o_orderstatus"), "c_custkey")
        try {
          val lf = sources.SnapshotStore.read(s, l)
          val rf = sources.SnapshotStore.read(s, r)
          val q = lf.join(rf, lf("c_custkey") === rf("o_custkey"))
            .groupBy("c_mktsegment", "o_orderstatus")
            .agg(expr("hll_sketch_estimate(hll_sketch_agg(o_custkey, " +
              s"${sources.NdvView.LgK}))").as("approx_users"))
          val usedView = graft.plans.PlanProbe.scansOnly(q, "/view")
          val exact = lf.join(rf, lf("c_custkey") === rf("o_custkey"))
            .groupBy("c_mktsegment", "o_orderstatus")
            .agg(countDistinct(col("o_custkey")).as("exact_users"))
          val joined = q.join(exact, Seq("c_mktsegment", "o_orderstatus"))
            .localCheckpoint(true)
          joined.collect().foreach { x =>
            val a = x.getAs[Long]("approx_users")
            val e = x.getAs[Long]("exact_users")
            require(math.abs(a - e) <= math.max(0.05 * e, 2.0),
              s"served ndv-join estimate outside its band: approx=$a exact=$e")
          }
          exportForOracle(joined.select(col("c_mktsegment"),
            col("o_orderstatus"), col("approx_users")),
            "ajns_approx", model = true)
          joined.select(col("c_mktsegment"), col("o_orderstatus"),
            col("exact_users"), col("approx_users"),
            (abs(col("approx_users") - col("exact_users")) <=
              greatest(col("exact_users") * lit(0.05), lit(2.0)))
              .as("bound_ok"))
            .withColumn("used_view", lit(usedView))
        } finally graft.plans.MaterializedAggJoins.disable(l)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // DISTINCT-COUNT over the N-way join TREE, maintained — the MV
    // matrix's last cell (the two-table ndv view's HLL partials x MultiAggJoinView's
    // telescoped terms): unique customers per (nation, status) across
    // orders⋈customer⋈nation through the full lifecycle — bootstrap,
    // fact delta, snowflake-leaf delta, a MIXED gap (fact append + a
    // group-MOVING customer churn in ONE atomic publish), an orders
    // delete (dirty-group re-sketch), compaction. Register-max union
    // keeps the maintained estimate bit-equal to a single-pass sketch;
    // the approx-surface contract rides exact NDV + band verdict beside
    // the exported estimate. The tree is 3 tables, not 5, on purpose:
    // the serving matcher is table-count-blind and the lifecycle lane's
    // budget (BENCH_LOCAL.md) prices fixtures by commit count.
    "agg_join_view_multiway_ndv" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_mjn").toString
      try {
        val or = s"$root/O"; val cr = s"$root/C"; val nr = s"$root/N"
        val v = s"$root/V"
        val roots = Seq(or, cr, nr)
        val edges = Seq(
          sources.MultiAggJoinView.Edge(0, Seq("o_custkey"), Seq("c_custkey")),
          sources.MultiAggJoinView.Edge(1, Seq("c_nationkey"), Seq("n_nationkey")))
        val groups = Seq("n_name", "o_orderstatus")
        def refresh(): Unit = sources.MultiNdvJoinView.refresh(
          s, roots, v, edges, groups, "o_custkey")
        // quarter the fact universe (the lifecycle-lane budget,
        // BENCH_LOCAL.md): the coarse-group churn honestly re-sketches
        // every dirty group; ScaleGate's `mndvjoin` row carries the flat-at-scale
        // posture on banded groups
        val o = Tables.orders(s, dir).where(col("o_orderkey") % 4 === 0)
          .select("o_orderkey", "o_custkey", "o_orderstatus")
        sources.SnapshotStore.append(o.where(col("o_orderkey") % 3 === 0), or)
        sources.SnapshotStore.append(
          Tables.customer(s, dir).select("c_custkey", "c_nationkey"), cr)
        sources.SnapshotStore.append(Tables.nation(s, dir)
          .select("n_nationkey", "n_name")
          .where(col("n_nationkey") < 15), nr)
        refresh() // bootstrap: full 3-way join sketched once
        // ONE multi-table append gap: the fact delta AND the
        // snowflake-LEAF delta (unmatched customers join in) fold as two
        // telescoped sketch terms in one stamped append (refresh count
        // sized to the family budget; each term's path is also pinned
        // separately by the spec)
        sources.SnapshotStore.append(o.where(col("o_orderkey") % 3 === 1), or)
        sources.SnapshotStore.append(Tables.nation(s, dir)
          .select("n_nationkey", "n_name")
          .where(col("n_nationkey") >= 15), nr)
        refresh()
        // the MIXED gap: a fact APPEND and a group-MOVING customer churn
        // land in ONE refresh — dirty-group re-sketch replaces beside the
        // non-dirty append terms in one atomic publish
        sources.SnapshotStore.append(o.where(col("o_orderkey") % 3 === 2), or)
        sources.SnapshotStore.upsert(s,
          Tables.customer(s, dir).where(col("c_custkey") % 10 === 0)
            .select(col("c_custkey"), lit(0).as("c_nationkey")), cr,
          Seq("c_custkey"))
        refresh()
        sources.SnapshotStore.deleteWhere(s, or, col("o_orderkey") % 7 === 0)
        refresh() // fact churn: dirty groups re-sketch + atomic replace
        sources.MultiNdvJoinView.compact(s, v)
        val Seq(of, cf, nf) = roots.map(sources.SnapshotStore.read(s, _))
        val exact = of.join(cf, of("o_custkey") === cf("c_custkey"))
          .join(nf, cf("c_nationkey") === nf("n_nationkey"))
          .groupBy("n_name", "o_orderstatus")
          .agg(countDistinct(col("o_custkey")).as("exact_users"))
        val joined = sources.MultiNdvJoinView.read(s, v)
          .join(exact, Seq("n_name", "o_orderstatus"))
          .localCheckpoint(true)
        joined.collect().foreach { x =>
          val a = x.getAs[Long]("approx_o_custkey")
          val e = x.getAs[Long]("exact_users")
          require(math.abs(a - e) <= math.max(0.05 * e, 2.0),
            s"n-way ndv estimate outside its band: approx=$a exact=$e")
        }
        exportForOracle(joined.select(col("n_name"),
          col("o_orderstatus"), col("approx_o_custkey").as("approx_users")),
          "mjn_approx", model = true)
        joined.select(col("n_name"), col("o_orderstatus"),
          col("exact_users"),
          col("approx_o_custkey").as("approx_users"),
          (abs(col("approx_o_custkey") - col("exact_users")) <=
            greatest(col("exact_users") * lit(0.05), lit(2.0))).as("bound_ok"))
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Catalyst SERVING of the distinct-count-over-tree MV: the
    // user-shaped datasketches aggregate over the registered 3-way join
    // — written leaf-first, NOT the registration's order (the flattened-
    // tree matcher is order-blind) — is answered from the stored
    // sketches; the whole join tree leaves the plan (used_view pinned).
    "agg_join_view_multiway_ndv_serve" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_mjns").toString
      try {
        val or = s"$root/O"; val cr = s"$root/C"; val nr = s"$root/N"
        val v = s"$root/view"
        val roots = Seq(or, cr, nr)
        val edges = Seq(
          sources.MultiAggJoinView.Edge(0, Seq("o_custkey"), Seq("c_custkey")),
          sources.MultiAggJoinView.Edge(1, Seq("c_nationkey"), Seq("n_nationkey")))
        val groups = Seq("n_name", "o_orderstatus")
        sources.SnapshotStore.append(Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus"), or)
        sources.SnapshotStore.append(
          Tables.customer(s, dir).select("c_custkey", "c_nationkey"), cr)
        sources.SnapshotStore.append(
          Tables.nation(s, dir).select("n_nationkey", "n_name"), nr)
        sources.MultiNdvJoinView.refresh(s, roots, v, edges, groups,
          "o_custkey")
        graft.plans.MaterializedMultiJoins.enableNdv(roots, v, edges,
          groups, "o_custkey")
        try {
          val Seq(of, cf, nf) = roots.map(sources.SnapshotStore.read(s, _))
          val cn = cf.join(nf, cf("c_nationkey") === nf("n_nationkey"))
          val q = of.join(cn, of("o_custkey") === cn("c_custkey"))
            .groupBy("n_name", "o_orderstatus")
            .agg(expr("hll_sketch_estimate(hll_sketch_agg(o_custkey, " +
              s"${sources.NdvView.LgK}))").as("approx_users"))
          val usedView = graft.plans.PlanProbe.scansOnly(q, "/view")
          val exact = of.join(cf, of("o_custkey") === cf("c_custkey"))
            .join(nf, cf("c_nationkey") === nf("n_nationkey"))
            .groupBy("n_name", "o_orderstatus")
            .agg(countDistinct(col("o_custkey")).as("exact_users"))
          val joined = q.join(exact, Seq("n_name", "o_orderstatus"))
            .localCheckpoint(true)
          joined.collect().foreach { x =>
            val a = x.getAs[Long]("approx_users")
            val e = x.getAs[Long]("exact_users")
            require(math.abs(a - e) <= math.max(0.05 * e, 2.0),
              s"served n-way ndv estimate outside its band: approx=$a exact=$e")
          }
          exportForOracle(joined.select(col("n_name"),
            col("o_orderstatus"), col("approx_users")),
            "mjns_approx", model = true)
          joined.select(col("n_name"), col("o_orderstatus"),
            col("exact_users"), col("approx_users"),
            (abs(col("approx_users") - col("exact_users")) <=
              greatest(col("exact_users") * lit(0.05), lit(2.0)))
              .as("bound_ok"))
            .withColumn("used_view", lit(usedView))
        } finally graft.plans.MaterializedMultiJoins.disable(v)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // STALE n-way NDV serving (the r18 ask-5 residual): the view's
    // cursor lags append-only gaps on the fact AND the snowflake leaf,
    // and the datasketches shape still serves — stored sketches unioned
    // with the telescoped gap-term sketches on the fly
    // (MultiNdvJoinView.compensatedRead through the flattened-tree
    // matcher's stale arm). Register-max union keeps even the
    // COMPENSATED estimate bit-equal to a single-pass sketch of the
    // current tree; exact NDV rides beside it and the oracle re-derives
    // the band verdict. used_view pins the compensated plan.
    "agg_join_view_multiway_ndv_stale" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_mjnt").toString
      try {
        val or = s"$root/O"; val cr = s"$root/C"; val nr = s"$root/N"
        val v = s"$root/view"
        val roots = Seq(or, cr, nr)
        val edges = Seq(
          sources.MultiAggJoinView.Edge(0, Seq("o_custkey"), Seq("c_custkey")),
          sources.MultiAggJoinView.Edge(1, Seq("c_nationkey"), Seq("n_nationkey")))
        val groups = Seq("n_name", "o_orderstatus")
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderstatus")
        sources.SnapshotStore.append(o.where(col("o_orderkey") % 3 === 0), or)
        sources.SnapshotStore.append(
          Tables.customer(s, dir).select("c_custkey", "c_nationkey"), cr)
        sources.SnapshotStore.append(Tables.nation(s, dir)
          .select("n_nationkey", "n_name")
          .where(col("n_nationkey") < 20), nr)
        sources.MultiNdvJoinView.refresh(s, roots, v, edges, groups,
          "o_custkey")
        graft.plans.MaterializedMultiJoins.enableNdv(roots, v, edges,
          groups, "o_custkey", serveStale = true)
        try {
          // the gap, NO refresh: fact append AND leaf append
          sources.SnapshotStore.append(o.where(col("o_orderkey") % 3 =!= 0), or)
          sources.SnapshotStore.append(Tables.nation(s, dir)
            .select("n_nationkey", "n_name")
            .where(col("n_nationkey") >= 20), nr)
          val Seq(of, cf, nf) = roots.map(sources.SnapshotStore.read(s, _))
          val q = of.join(cf, of("o_custkey") === cf("c_custkey"))
            .join(nf, cf("c_nationkey") === nf("n_nationkey"))
            .groupBy("n_name", "o_orderstatus")
            .agg(expr("hll_sketch_estimate(hll_sketch_agg(o_custkey, " +
              s"${sources.NdvView.LgK}))").as("approx_users"))
          val usedView = graft.plans.PlanProbe.scansAny(q, "/view")
          val exact = of.join(cf, of("o_custkey") === cf("c_custkey"))
            .join(nf, cf("c_nationkey") === nf("n_nationkey"))
            .groupBy("n_name", "o_orderstatus")
            .agg(countDistinct(col("o_custkey")).as("exact_users"))
          val joined = q.join(exact, Seq("n_name", "o_orderstatus"))
            .localCheckpoint(true)
          joined.collect().foreach { x =>
            val a = x.getAs[Long]("approx_users")
            val e = x.getAs[Long]("exact_users")
            require(math.abs(a - e) <= math.max(0.05 * e, 2.0),
              s"stale-served n-way ndv estimate outside its band: " +
                s"approx=$a exact=$e")
          }
          exportForOracle(joined.select(col("n_name"),
            col("o_orderstatus"), col("approx_users")),
            "mjnt_approx", model = true)
          joined.select(col("n_name"), col("o_orderstatus"),
            col("exact_users"), col("approx_users"),
            (abs(col("approx_users") - col("exact_users")) <=
              greatest(col("exact_users") * lit(0.05), lit(2.0)))
              .as("bound_ok"))
            .withColumn("used_view", lit(usedView))
        } finally graft.plans.MaterializedMultiJoins.disable(v)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // STREAMING maintenance of the NDV-over-join MV (the r16 ask-2
    // residual): customers stand, orders drip through a checkpointed
    // file stream, every trigger folding its delta-join SKETCHES inside
    // the trigger (the register-max append path under replay-idempotent
    // packed epochs). The stream-grown estimates must band-match exact
    // NDV over the full join.
    "stream_agg_join_ndv_parity" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_sajn").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/V"
        sources.SnapshotStore.append(
          Tables.customer(s, dir).select("c_custkey", "c_mktsegment"), l)
        graft.streaming.StreamReplay.viewIngestReplay(
          Tables.orders(s, dir).where(col("o_orderkey") % 2 === 0)
            .select("o_orderkey", "o_custkey", "o_orderstatus"),
          "o_orderkey", r,
          sp => sources.MultiNdvJoinView.refresh(sp, Seq(l, r), v,
            Seq(sources.MultiAggJoinView.Edge(0, Seq("c_custkey"), Seq("o_custkey"))),
            Seq("c_mktsegment", "o_orderstatus"), "c_custkey"))
        val lf = sources.SnapshotStore.read(s, l)
        val rf = sources.SnapshotStore.read(s, r)
        val exact = lf.join(rf, lf("c_custkey") === rf("o_custkey"))
          .groupBy("c_mktsegment", "o_orderstatus")
          .agg(countDistinct(col("o_custkey")).as("exact_users"))
        val joined = sources.MultiNdvJoinView.read(s, v)
          .join(exact, Seq("c_mktsegment", "o_orderstatus"))
          .localCheckpoint(true)
        joined.collect().foreach { x =>
          val a = x.getAs[Long]("approx_c_custkey")
          val e = x.getAs[Long]("exact_users")
          require(math.abs(a - e) <= math.max(0.05 * e, 2.0),
            s"streamed ndv-join estimate outside its band: approx=$a exact=$e")
        }
        exportForOracle(joined.select(col("c_mktsegment"),
          col("o_orderstatus"), col("approx_c_custkey").as("approx_users")),
          "sajn_approx", model = true)
        joined.select(col("c_mktsegment"), col("o_orderstatus"),
          col("exact_users"),
          col("approx_c_custkey").as("approx_users"),
          (abs(col("approx_c_custkey") - col("exact_users")) <=
            greatest(col("exact_users") * lit(0.05), lit(2.0))).as("bound_ok"))
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // STREAMING maintenance of the MULTI-WAY MV with the SNOWFLAKE LEAF
    // dripping: the fact and inner dims stand while NATION arrives
    // through a checkpointed file stream — every trigger's telescoped
    // leaf-delta term runs the semi-join CASCADE (Δnation → supplier →
    // fact/part/orders) under replay-idempotent packed epochs. The
    // stream-grown groups must equal the SQL GROUP BY over the 5-way join.
    "stream_agg_join_multiway_dim_parity" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_smjd").toString
      try {
        val fr = s"$root/F"; val pr = s"$root/P"; val sr = s"$root/S"
        val nr = s"$root/N"; val or = s"$root/O"; val v = s"$root/V"
        val roots = Seq(fr, pr, sr, nr, or)
        val edges = Seq(
          sources.MultiAggJoinView.Edge(0, Seq("l_partkey"), Seq("p_partkey")),
          sources.MultiAggJoinView.Edge(0, Seq("l_suppkey"), Seq("s_suppkey")),
          sources.MultiAggJoinView.Edge(2, Seq("s_nationkey"), Seq("n_nationkey")),
          sources.MultiAggJoinView.Edge(0, Seq("l_orderkey"), Seq("o_orderkey")))
        sources.SnapshotStore.append(
          Tables.lineitem(s, dir).where(col("l_orderkey") % 4 === 0)
            .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice"),
          fr)
        sources.SnapshotStore.append(
          Tables.part(s, dir).select("p_partkey", "p_brand"), pr)
        sources.SnapshotStore.append(
          Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"), sr)
        sources.SnapshotStore.append(
          Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"), or)
        graft.streaming.StreamReplay.viewIngestReplay(
          Tables.nation(s, dir).select("n_nationkey", "n_name"),
          "n_nationkey", nr,
          sp => sources.MultiAggJoinView.refresh(sp, roots, v, edges,
            Seq("n_name", "o_orderpriority"), Seq("l_extendedprice")),
          slices = 5)
        sources.MultiAggJoinView.read(s, v)
          .select(col("n_name"), col("o_orderpriority"),
            col("cnt").as("n_items"),
            col("sum_l_extendedprice").cast("double").as("revenue"))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // STREAMING maintenance of the MULTI-WAY MV: four dims stand, the
    // FACT drips through a checkpointed file stream, every trigger
    // folding its telescoped fact-delta term inside the trigger (the
    // per-table append path under replay-idempotent packed epochs). The
    // stream-grown groups must equal the SQL GROUP BY over the 5-way join.
    "stream_agg_join_multiway_parity" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_smaj").toString
      try {
        val fr = s"$root/F"; val pr = s"$root/P"; val sr = s"$root/S"
        val nr = s"$root/N"; val or = s"$root/O"; val v = s"$root/V"
        val roots = Seq(fr, pr, sr, nr, or)
        val edges = Seq(
          sources.MultiAggJoinView.Edge(0, Seq("l_partkey"), Seq("p_partkey")),
          sources.MultiAggJoinView.Edge(0, Seq("l_suppkey"), Seq("s_suppkey")),
          sources.MultiAggJoinView.Edge(2, Seq("s_nationkey"), Seq("n_nationkey")),
          sources.MultiAggJoinView.Edge(0, Seq("l_orderkey"), Seq("o_orderkey")))
        sources.SnapshotStore.append(
          Tables.part(s, dir).select("p_partkey", "p_brand"), pr)
        sources.SnapshotStore.append(
          Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"), sr)
        sources.SnapshotStore.append(
          Tables.nation(s, dir).select("n_nationkey", "n_name"), nr)
        sources.SnapshotStore.append(
          Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"), or)
        graft.streaming.StreamReplay.viewIngestReplay(
          Tables.lineitem(s, dir).where(col("l_orderkey") % 2 === 0)
            .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice"),
          "l_orderkey", fr,
          sp => sources.MultiAggJoinView.refresh(sp, roots, v, edges,
            Seq("n_name", "o_orderpriority"), Seq("l_extendedprice")))
        sources.MultiAggJoinView.read(s, v)
          .select(col("n_name"), col("o_orderpriority"),
            col("cnt").as("n_items"),
            col("sum_l_extendedprice").cast("double").as("revenue"))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // STREAMING maintenance of the EXTENTS agg-join MV: same checkpointed
    // drip as stream_agg_join_view_parity, with min/max partials folding
    // per trigger (the insert-monotone append path under replay-idempotent
    // epochs). Groups must equal the SQL GROUP BY with min/max.
    "stream_agg_join_extents_parity" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_sajx").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/V"
        sources.SnapshotStore.append(Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment", "c_acctbal"), l)
        graft.streaming.StreamReplay.viewIngestReplay(
          Tables.orders(s, dir)
            .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
          "o_orderkey", r,
          sp => sources.AggJoinView.refreshKeys(sp, l, r, v,
            Seq("c_custkey"), Seq("o_custkey"),
            Seq("c_mktsegment", "o_orderstatus"), Seq("o_totalprice"),
            extents = true))
        sources.AggJoinView.read(s, v)
          .select(col("c_mktsegment"), col("o_orderstatus"),
            col("cnt").as("n_orders"),
            col("sum_o_totalprice").cast("double").as("revenue"),
            col("min_o_totalprice").as("min_price"),
            col("max_o_totalprice").as("max_price"))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // STREAMING maintenance of the aggregate-over-join MV: customers
    // stand, orders drip through a checkpointed file stream, every
    // trigger folding its delta-join partials inside the trigger (the
    // right-delta path under replay-idempotent epochs). The stream-grown
    // groups must equal the SQL GROUP BY over the full join.
    "stream_agg_join_view_parity" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_sajv").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/V"
        sources.SnapshotStore.append(Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment", "c_acctbal"), l)
        graft.streaming.StreamReplay.viewIngestReplay(
          Tables.orders(s, dir)
            .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
          "o_orderkey", r,
          sp => sources.AggJoinView.refresh(sp, l, r, v,
            "c_custkey", "o_custkey",
            Seq("c_mktsegment", "o_orderstatus"), Seq("o_totalprice")))
        sources.AggJoinView.read(s, v)
          .select(col("c_mktsegment"), col("o_orderstatus"),
            col("cnt").as("n_orders"),
            col("sum_o_totalprice").cast("double").as("revenue"))
          .localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // DELTA-COMPENSATED (stale-view) serving — the lambda-architecture
    // read path: both sources gained append-only commits AFTER the last
    // refresh, and the registration opted into stale serving, so the
    // user-shaped join is answered as view ∪ ΔL⋈R_new ∪ L_old⋈ΔR
    // (fresh answers at O(view + Δ)) instead of declining. used_view
    // pins that the plan still reads the maintained view; the values
    // face the CURRENT sources' join in SQL.
    "join_view_stale_serve" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_jvss").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/view"
        val o = Tables.orders(s, dir); val li = Tables.lineitem(s, dir)
        sources.SnapshotStore.appendWithStats(
          o.where(col("o_orderkey") % 2 === 0)
            .repartitionByRange(col("o_orderkey")), l, Seq("o_orderkey"))
        sources.SnapshotStore.appendWithStats(
          li.where(col("l_orderkey") % 3 === 0)
            .repartitionByRange(col("l_orderkey")), r, Seq("l_orderkey"))
        sources.JoinView.refresh(s, l, r, v, "o_orderkey", "l_orderkey")
        graft.plans.MaterializedJoins.enable(l, r, v,
          "o_orderkey", "l_orderkey", serveStale = true)
        try {
          // the gap: append-only commits on BOTH sides, NO refresh
          sources.SnapshotStore.appendWithStats(
            o.where(col("o_orderkey") % 2 =!= 0)
              .repartitionByRange(col("o_orderkey")), l, Seq("o_orderkey"))
          sources.SnapshotStore.appendWithStats(
            li.where(col("l_orderkey") % 3 =!= 0)
              .repartitionByRange(col("l_orderkey")), r, Seq("l_orderkey"))
          val lf = sources.SnapshotStore.read(s, l)
          val rf = sources.SnapshotStore.read(s, r)
          val q = lf.join(rf, lf("o_orderkey") === rf("l_orderkey"))
          val usedView = graft.plans.PlanProbe.scansAny(q, "/view")
          q.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
              col("l_linenumber"), col("l_partkey"), col("l_quantity"))
            .withColumn("used_view", lit(usedView))
            .localCheckpoint(true)
        } finally graft.plans.MaterializedJoins.disable(l)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Stale-serving for a LEFT-OUTER join view — the one-sided union
    // case: while the RIGHT source is unchanged, L_new ⟕ R = view ∪
    // (ΔL ⟕ R) is a pure union (no standing row's match status can
    // move), so a LEFT-side-only append gap serves compensated; the
    // spec pins that any right-side gap still declines (conversion).
    // The gap's unmatched new orders null-extend exactly like the
    // view's own maintenance — the oracle replays the full ⟕.
    "join_view_stale_outer" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_jvso").toString
      try {
        val l = s"$root/L"; val r = s"$root/R"; val v = s"$root/view"
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val li = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        sources.SnapshotStore.appendWithStats(
          o.where(col("o_orderkey") % 2 === 0)
            .repartitionByRange(col("o_orderkey")), l, Seq("o_orderkey"))
        sources.SnapshotStore.appendWithStats(
          li.where(col("l_orderkey") % 3 === 0)
            .repartitionByRange(col("l_orderkey")), r, Seq("l_orderkey"))
        sources.JoinView.refresh(s, l, r, v, "o_orderkey", "l_orderkey",
          "left_outer")
        graft.plans.MaterializedJoins.enable(l, r, v,
          "o_orderkey", "l_orderkey", "left_outer", serveStale = true)
        try {
          // the gap: a LEFT-side-only append (odd orders — some match
          // standing lineitems, some null-extend), NO refresh
          sources.SnapshotStore.appendWithStats(
            o.where(col("o_orderkey") % 2 =!= 0)
              .repartitionByRange(col("o_orderkey")), l, Seq("o_orderkey"))
          val lf = sources.SnapshotStore.read(s, l)
          val rf = sources.SnapshotStore.read(s, r)
          val q = lf.join(rf, lf("o_orderkey") === rf("l_orderkey"),
            "left_outer")
          val usedView = graft.plans.PlanProbe.scansAny(q, "/view")
          q.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
              col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
              col("l_quantity"))
            .withColumn("used_view", lit(usedView))
            .localCheckpoint(true)
        } finally graft.plans.MaterializedJoins.disable(l)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Stale-serving for the ROLLUP view: the source gained an
    // append-only gap after the last refresh; the canonical day-rollup
    // aggregate is answered as stored partials ∪ Δ-partials (one merge
    // groupBy) instead of declining — count/sum/min/max are all
    // insert-monotone, so the compensated merge is exact.
    "rollup_view_stale_serve" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_mvss").toString
      try {
        val src = s"$root/src"; val view = s"$root/view"
        val se = series(s, dir).select("metric", "e", "value")
        sources.SnapshotStore.append(se.where(col("e") % 2 === 0), src)
        sources.RollupView.refresh(s, src, view)
        graft.plans.MaterializedRollups.enable(src, view, serveStale = true)
        try {
          sources.SnapshotStore.append(se.where(col("e") % 2 === 1), src)
          val agg = sources.SnapshotStore.read(s, src)
            .groupBy(col("metric"), expr("e div 86400").as("day"))
            .agg(count(lit(1)).as("cnt"),
              sum(col("value").cast("decimal(18,2)")).as("vsum"),
              min(col("value")).as("min_val"), max(col("value")).as("max_val"))
          val usedView = graft.plans.PlanProbe.scansAny(agg, "/view")
          agg.select(col("metric"), col("day"), col("cnt"),
              col("vsum").cast("double").as("sum_val"),
              col("min_val"), col("max_val"),
              (col("vsum").cast("double") / col("cnt")).as("mean_val"))
            .withColumn("used_view", lit(usedView))
            .localCheckpoint(true)
        } finally graft.plans.MaterializedRollups.disable(src)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Stale-serving for the NDV view: append-only gap after the last
    // refresh; the sketch-shaped distinct-count aggregate is answered as
    // stored sketches ∪ the gap rows' sketches unioned on the fly —
    // register-max union keeps even the COMPENSATED estimate bit-equal
    // to refresh-then-read (asserted in-engine via the same band gate as
    // ndv_view_answer; the verdict re-derives in SQL over the exported
    // estimates). used_view pins that the rewrite actually served.
    "ndv_view_stale_serve" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_ndvss").toString
      try {
        val src = s"$root/src"; val view = s"$root/nview"
        val se = series(s, dir).select("metric", "e", "user_id")
        sources.SnapshotStore.append(se.where(col("e") % 2 === 0), src)
        sources.NdvView.refresh(s, src, view)
        graft.plans.MaterializedRollups.enableNdv(src, view,
          serveStale = true)
        try {
          // the gap: an append-only commit, NO refresh
          sources.SnapshotStore.append(se.where(col("e") % 2 === 1), src)
          val agg = sources.SnapshotStore.read(s, src)
            .groupBy(col("metric"), expr("e div 86400").as("day"))
            .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, " +
              s"${sources.NdvView.LgK}))").as("approx_users"))
          val usedView = graft.plans.PlanProbe.scansAny(agg, "/nview")
          val exact = sources.SnapshotStore.read(s, src)
            .groupBy(col("metric"), expr("e div 86400").as("day"))
            .agg(countDistinct(col("user_id")).as("exact_users"))
          val joined = agg.join(exact, Seq("metric", "day"))
            .localCheckpoint(true)
          joined.collect().foreach { r =>
            val a = r.getAs[Long]("approx_users")
            val e = r.getAs[Long]("exact_users")
            require(math.abs(a - e) <= math.max(0.05 * e, 2.0),
              s"compensated ndv estimate outside its band: approx=$a exact=$e")
          }
          exportForOracle(joined.select("metric", "day", "approx_users"),
            "ndvss_approx", model = true)
          joined.select(col("metric"), col("day"),
              col("exact_users"), col("approx_users"),
              (abs(col("approx_users") - col("exact_users")) <=
                greatest(col("exact_users") * lit(0.05), lit(2.0))).as("bound_ok"))
            .withColumn("used_view", lit(usedView))
        } finally graft.plans.MaterializedRollups.disable(src)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // Stale-serving for the QUANTILE view — the one engine where the
    // lambda read path covers CHURN too (bin counts retract by
    // arithmetic): the gap holds an append (values ⊆ the bootstrap's
    // observed set, so the frozen envelope provably holds at any SF) AND
    // a CoW delete, no refresh; compensatedQuantiles merges the stored
    // partials with the gap's SIGNED counts under the SAME frozen edges
    // — bit-equal to refresh-then-serve, hashed exactly against the SQL
    // replay of the full lifecycle under the exported edges.
    "quantile_view_stale" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_qvss").toString
      try {
        val src = s"$root/src"; val v = s"$root/view"
        val sr = series(s, dir).select("metric", "e", "value")
        sources.SnapshotStore.append(sr.where(col("e") % 2 === 0), src)
        sources.QuantileView.refresh(s, src, v) // bootstrap: freeze edges
        // the gap — NO refresh: shifted re-append (every value already
        // inside the freeze) + churn delete
        sources.SnapshotStore.append(
          sr.where(col("e") % 2 === 0)
            .withColumn("e", col("e") + lit(86400L)), src)
        sources.SnapshotStore.deleteWhere(s, src, col("e") % 7 === 0)
        val out = sources.QuantileView.compensatedQuantiles(
          s, src, v, Seq(0.5, 0.9, 0.99)).getOrElse(
          sys.error("churn-gap quantile compensation unexpectedly declined"))
        require(sources.SnapshotStore.lastEpoch(v).contains(1L),
          "view must still be stale — compensation must not refresh")
        exportForOracle(sources.QuantileView.edgesFor(s, v),
          "qvss_edges", model = true)
        out.localCheckpoint(true)
      } finally sources.SnapshotStore.deleteTree(root)
    }),

    // OHLC candlestick bars per metric/day — the downsampled trend-display
    // rendering (open/close picked deterministically at bucket boundaries).
    "a18_ohlc" -> ((s, dir) => TrendOps.ohlcBars(series(s, dir), 86400L)),

    // Diurnal (hour-of-day) seasonality profile per metric.
    "a19_diurnal" -> ((s, dir) => TrendOps.diurnalProfile(series(s, dir))),

    // CUSUM changepoint screen per metric (exact-arithmetic breach flag).
    // Portable-rounding rule: the cusum double is one division of an exact
    // decimal by an integer, bit-identical across engines (a14_ewma
    // contract) — compare RAW; a round(DOUBLE, n) on a tie-edge value
    // diverges between Spark (BigDecimal HALF_UP) and DuckDB
    // (scaled-double) rounding.
    "a20_cusum" -> ((s, dir) =>
      TrendOps.cusum(series(s, dir), threshold = 50.0)
        .select(col("metric"), col("event_id"), col("e"),
          col("cusum"), col("breach"))),

    // Time-chunked CUSUM: exact decimal arithmetic is associative, so the
    // chunked decomposition is bit-identical to a20 and SHARES its oracle
    // (one string, two keys — the stream_tier_parity pattern).
    "a20_cusum_chunked" -> ((s, dir) =>
      TrendOps.cusumChunked(series(s, dir), threshold = 50.0)
        .select(col("metric"), col("event_id"), col("e"),
          col("cusum"), col("breach"))),

    // Per-metric discrete derivative (rate of change between consecutive
    // samples) — slope alerts / trend arrows. Raw double: exact-decimal
    // numerator ÷ integer Δt is bit-deterministic (see a20 note).
    "a27_derivative" -> ((s, dir) =>
      TrendOps.derivative(series(s, dir))
        .select(col("metric"), col("event_id"), col("e"), col("slope"))),

    // Time-chunked derivative: boundary rows re-keyed to the successor
    // chunk replace the cross-chunk lag; exact slope math makes it
    // bit-identical to a27 (shared oracle).
    "a27_derivative_chunked" -> ((s, dir) =>
      TrendOps.derivativeChunked(series(s, dir))
        .select(col("metric"), col("event_id"), col("e"), col("slope"))),

    // Data-quality gap report: sampling holes longer than the engine's
    // min-sample-gap parameter.
    "a22_gap_report" -> ((s, dir) =>
      TrendOps.gapReport(series(s, dir), P.minSampleGapSeconds.toLong)),

    // Rollup-tier compositionality: the 1h tier computed by RE-AGGREGATING
    // the 1m tier (count/sum/min/max all merge associatively) must
    // hash-match the oracle's direct 1h aggregation over raw events — the
    // correctness property behind tiered retention / continuous
    // aggregates, where old raw data is dropped and queries read rollups.
    "a24_rollup_tier" -> ((s, dir) =>
      composeHourTier(series(s, dir)
        .withColumn("b1m", floor(col("e") / lit(60.0)).cast("long") * 60)
        .groupBy("metric", "b1m")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("sv"),
          min("value").as("mn"), max("value").as("mx")))),

    // Late-data BACKFILL MERGE: the 1m tier is first built WITHOUT the
    // late rows (every 97th event), then the late slice's own tier
    // partials merge in by key — counts/sums/min/max combine
    // associatively, so the backfill touches only union-able partials,
    // never the raw history. The composed hourly view must hash-match
    // the direct aggregation over everything (a24's oracle, shared
    // verbatim) — the correctness property that makes out-of-order
    // backfill safe at a scale where recomputing raw is off the table.
    "a32_tier_backfill" -> ((s, dir) => {
      val sr = series(s, dir)
      def t1m(df: DataFrame) = df
        .withColumn("b1m", floor(col("e") / lit(60.0)).cast("long") * 60)
        .groupBy("metric", "b1m")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("sv"),
          min("value").as("mn"), max("value").as("mx"))
      val isLate = col("event_id") % 97 === 0
      val merged = t1m(sr.where(!isLate)).unionByName(t1m(sr.where(isLate)))
        .groupBy("metric", "b1m")
        .agg(sum("n").as("n"), sum("sv").cast("decimal(28,2)").as("sv"),
          min("mn").as("mn"), max("mx").as("mx"))
      composeHourTier(merged)
    }),

    // Tiered-retention COMPACTED READ: rows older than the horizon exist
    // only as the 1m rollup tier (the M3 storage policy applied), recent
    // rows stay raw as singleton tiles, and the hourly query composes
    // over the HYBRID layout. It must hash-match the direct hourly
    // aggregation over full raw — a24 proves tier compositionality; this
    // proves the raw/tier BOUNDARY stitches, including the hour that
    // spans it (n/sv/mn/mx all merge associatively across the seam).
    "compacted_read" -> ((s, dir) => {
      val sr = series(s, dir)
      // storage-policy cutoff: one scalar read (model-sized, the params
      // pattern — not a data collect)
      val cutoff = sr.agg(max("e")).head().getLong(0) - 7L * 86400L
      val oldTier = sr.where(col("e") < cutoff)
        .withColumn("b1m", floor(col("e") / lit(60.0)).cast("long") * 60)
        .groupBy("metric", "b1m")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("sv"),
          min("value").as("mn"), max("value").as("mx"))
      val recentRaw = sr.where(col("e") >= cutoff)
        .select(col("metric"),
          (floor(col("e") / lit(60.0)).cast("long") * 60).as("b1m"),
          lit(1L).as("n"),
          col("value").cast("decimal(18,2)").as("sv"),
          col("value").as("mn"), col("value").as("mx"))
      composeHourTier(oldTier.unionByName(recentRaw))
    }),

    // Streaming-parity leg of the a24 contract: the SAME 1h tier, but with
    // the 1m tier produced by a real Structured Streaming run —
    // [[graft.streaming.StreamOps.minuteTierStream]] replayed over the
    // events fixture as a multi-micro-batch file stream
    // ([[graft.streaming.StreamReplay]]) — instead of a batch aggregation.
    // Shares a24's oracle SQL verbatim, so a green row proves the streaming
    // state path (watermark, update-mode incremental merge, keyed upsert
    // sink) bit-matches both the batch engine and DuckDB.
    "stream_tier_parity" -> ((s, dir) =>
      composeHourTier(
        graft.streaming.StreamReplay.minuteTierReplay(
          series(s, dir).select("metric", "e", "value"))
          .withColumn("b1m", col("minute_start").cast("long"))
          .select("metric", "b1m", "n", "sv", "mn", "mx"))),

    // The typed stateful twins replayed through the same harness, each
    // facing a plain-SQL oracle over the tie-free slice (the twins'
    // documented exact-parity domain — see [[uniqueSeries]]): a green row
    // proves checkpointed flatMapGroupsWithState state carries the exact
    // recurrence across micro-batch boundaries.
    "stream_derivative_parity" -> ((s, dir) =>
      graft.streaming.StreamReplay.derivativeReplay(
        uniqueSeries(s, dir).select("metric", "e", "value"))),

    "stream_cusum_parity" -> ((s, dir) =>
      graft.streaming.StreamReplay.cusumReplay(
        uniqueSeries(s, dir).select("metric", "e", "value"),
        target = 50.0, threshold = 500.0)),

    "stream_ewma_parity" -> ((s, dir) =>
      graft.streaming.StreamReplay.ewmaReplay(
        uniqueSeries(s, dir).select("metric", "e", "value"), alpha = 0.2)),

    // Daily OHLC bars maintained by the streaming windowed aggregation
    // (update-mode upsert, like the 1m tier) — the candlestick view a
    // live display reads. Tie-free slice: stream open/close pick by
    // min/max(struct(ts, value)) with no event_id tie-break.
    "stream_ohlc_parity" -> ((s, dir) =>
      graft.streaming.StreamReplay.ohlcReplay(
        uniqueSeries(s, dir).select("metric", "e", "value"))
        .select(col("metric"), col("bar_start").cast("long").as("bar_start"),
          col("n"), col("open"), col("high"), col("low"), col("close"))),

    // Dedup-at-ingest gate driven by a real checkpointed stream: the
    // replayed candidate pairs EXPORT (same pattern as minhash_verify)
    // and the exact-Jaccard verify that gates them is oracle-replayed by
    // DuckDB over exactly those pairs — a hard row for the streaming
    // TTL-bucket state path, not just the batch-parity test.
    "stream_neardup_verify" -> ((s, dir) => {
      val corpus = withPlantedVariants(Tables.documents(s, dir), nDrop = 3)
      DedupOps.jaccardForPairs(
        exportForOracle(
          graft.streaming.StreamReplay.nearDupCandidatesReplay(
            corpus.select("doc_id", "text"), k = 64, bands = 16),
          "stream_neardup_cands"),
        corpus)
        .where(col("jaccard") >= 0.6)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
    }),

    // SimHash sibling of stream_neardup_verify: the streamed match set
    // re-attaches the (map-only, batch-identical) signatures, exports,
    // and DuckDB recomputes bit_count(xor) <= 3 over exactly those rows.
    "stream_simhash_verify" -> ((s, dir) => {
      val corpus = withPlantedVariants(Tables.documents(s, dir), nDrop = 1)
      val sigs = DedupOps.simHashSignatures(corpus)
      val withSigs = graft.streaming.StreamReplay.simHashPairsReplay(
          corpus.select("doc_id", "text"), maxHamming = 3)
        .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
        .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
        .select("doc_a", "doc_b", "sig_a", "sig_b")
      DedupOps.hammingPairs(
        exportForOracle(withSigs, "stream_simhash_cands"), maxHamming = 3)
    }),

    // Streaming anchored-gap decimation (F4's keep/drop gate) replayed —
    // the stream scans oldest→newest (arrival order), so it faces its own
    // ascending recursive-CTE oracle; the batch faithful op's
    // newest→oldest chain keeps its separate slice oracle.
    "stream_decimate_parity" -> ((s, dir) =>
      graft.streaming.StreamReplay.decimateReplay(
        uniqueSeries(s, dir).select("metric", "e", "value"),
        TrendParams.default.minSampleGapSeconds)
        .select("metric", "e", "value")),

    // A4+F4 exact reference semantics (gap-triggered micro-batch mean)
    // replayed: buffered raw-double sum, mean emitted by the triggering
    // sample — the recursive-CTE oracle replays the identical
    // accumulation order (the ewma contract).
    "stream_gapmean_parity" -> ((s, dir) =>
      graft.streaming.StreamReplay.gapTriggeredMeanReplay(
        uniqueSeries(s, dir).select("metric", "e", "value"),
        TrendParams.default.minSampleGapSeconds)),

    // Stream-stream interval join replayed: purchases pick up the same
    // user's trailing hour of views. Output is order-independent, so the
    // FULL series replays and faces a plain SQL range join.
    "stream_interval_join" -> ((s, dir) =>
      graft.streaming.StreamReplay.intervalJoinReplay(
        series(s, dir).select("metric", "e", "value", "user_id"),
        leftMetric = "purchase", rightMetric = "view", windowSeconds = 3600)
        .select(col("source"), col("ts").cast("long").as("e"), col("value"),
          col("r_ts").cast("long").as("r_e"), col("r_value"))),

    // Gap-alert timers replayed: the CLOSED alerts (the next sample
    // arrived and measured the hole) are deterministic and equal the
    // batch a22 lag-gaps on any input, ties included; OPEN alerts depend
    // on where the watermark stood when the timer fired (slice-layout
    // detail, pinned by StreamingSpec) and are filtered out of the gate.
    "stream_gap_alert_parity" -> ((s, dir) =>
      graft.streaming.StreamReplay.samplesReplay(
          series(s, dir).select("metric", "e", "value"), rocksDb = true) { df =>
        graft.streaming.StreamOps.gapAlertStream(
          df.as(org.apache.spark.sql.Encoders.product[graft.streaming.StreamSample]),
          P.minSampleGapSeconds.toLong).toDF()
      }.where(!col("open")).select("metric", "gap_start", "gap_end")),

    // At-least-once transport hygiene replayed: every sample delivered
    // TWICE (the doubled union), the watermarked dedup state must emit
    // each (source, metric, ts) key once. Tie-free slice so the surviving
    // value per key is well-defined.
    "stream_dedup_parity" -> ((s, dir) => {
      val u = uniqueSeries(s, dir).select("metric", "e", "value")
      graft.streaming.StreamReplay.samplesReplay(u.unionByName(u)) { df =>
        graft.streaming.StreamOps.dedupStream(df, watermark = "3650 days")
      }.select(col("metric"), col("ts").cast("long").as("e"), col("value"))
    }),

    // Stream-static broadcast enrichment replayed: per-metric display
    // labels (the X1 deVoweled renderer) joined onto the live stream —
    // every micro-batch maps with a broadcast hash lookup, no state.
    "stream_enrich_parity" -> ((s, dir) => {
      val dim = series(s, dir).select("metric").distinct()
        .withColumn("label", Scalars.deVoweled(col("metric")))
      graft.streaming.StreamReplay.samplesReplay(
          series(s, dir).select("metric", "e", "value")) { df =>
        graft.streaming.StreamOps.enrichStream(df, dim, "metric")
      }.select(col("metric"), col("ts").cast("long").as("e"), col("value"),
        col("label"))
    }),

    // Pairwise correlation matrix across metrics, aligned on 60s-bucket
    // sums ([[TrendOps.corrMatrix]] — which ENFORCES its O(m²) metric cap).
    // maxMetrics is plumbed EXPLICITLY, sized to the fixture contract
    // (TESTDATA events carry a handful of event types; 64 leaves wide
    // headroom without inheriting a silent default) — a wider corpus must
    // change this registration deliberately, not trip a hidden default.
    "a25_corr_matrix" -> ((s, dir) =>
      TrendOps.corrMatrix(series(s, dir), maxMetrics = 64)),

    // Lag-1..3 autocorrelation per metric (periodicity/persistence screen)
    // — exact decimal sums, one final double combine (the a25 contract).
    "a30_autocorr" -> ((s, dir) => TrendOps.autocorr(series(s, dir), maxLag = 3)),

    // Robust median/MAD outlier screen (heavy-tail-safe twin of a16) —
    // picked order statistics, exact until one final double comparison.
    "a31_mad_outliers" -> ((s, dir) => TrendOps.madOutliers(series(s, dir), k = 3.0)),

    // Top day-over-day movers across all metrics — the dashboard headline.
    "a33_top_movers" -> ((s, dir) => TrendOps.topMovers(series(s, dir), topK = 10)),

    // Flatline screen over precision-quantized values (stuck sensor).
    "a23_flatline" -> ((s, dir) =>
      TrendOps.flatlineRuns(
        series(s, dir).withColumn("value", round(col("value"), 0)), minRun = 2L)),

    // LTOB shape-preserving display downsample (hourly buckets).
    "f6_ltob" -> ((s, dir) => TrendOps.ltobDownsample(series(s, dir), 3600L)),

    // As-of join with a staleness bound: clicks older than 1h are no match.
    "q_asof_tolerance" -> ((s, dir) => {
      val sr = series(s, dir)
      val purchases = sr.where(col("metric") === "purchase")
        .select("event_id", "user_id", "e", "value")
      val clicks = sr.where(col("metric") === "click")
        .select("event_id", "user_id", "e", "value")
      RelationalOps.asOfJoin(purchases, clicks, "user_id", "e", "e", "event_id",
          toleranceSeconds = Some(3600L))
        .select(
          col("event_id").as("purchase_id"), col("user_id"),
          col("e").as("purchase_e"),
          col("__asof.event_id").as("click_id"),
          col("__asof.e").as("click_e"),
          col("__asof.value").as("click_val"))
    }),

    // Mergeable-sketch tiering: per-minute HLL sketches of distinct users,
    // UNIONED up to the hour — the distinct-count analogue of a24's
    // compositional rollup (plain distinct counts don't merge; sketches
    // do, which is why tiered retention keeps sketches, not counts).
    // Register-wise max is associative and order-independent, so the
    // unioned estimate is EXACTLY the direct hourly sketch's estimate
    // (pinned by test); rows-only because DuckDB's HLL is a different
    // implementation with different estimates.
    "a26_hll_tier" -> ((s, dir) => {
      val sr = series(s, dir)
      val minuteSk = sr
        .withColumn("minute", floor(col("e") / lit(60.0)).cast("long") * 60)
        .groupBy("metric", "minute")
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      val approx = minuteSk
        .withColumn("bucket_start", floor(col("minute") / lit(3600.0)).cast("long") * 3600)
        .groupBy("metric", "bucket_start")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("approx_users"))
      // approx-surface contract (r13): the tier estimate rides next to the
      // exact hour NDV, band verdict derived independently both engines,
      // Spark hard-fails out-of-band pre-export — promotes this from
      // rows-only to a full hash row.
      val exact = sr
        .withColumn("bucket_start", floor(col("e") / lit(3600.0)).cast("long") * 3600)
        .groupBy("metric", "bucket_start")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      val joined = approx.join(exact, Seq("metric", "bucket_start"))
        .localCheckpoint(true)
      joined.collect().foreach { r =>
        val a = r.getAs[Long]("approx_users")
        val e = r.getAs[Long]("exact_users")
        require(math.abs(a - e) <= math.max(0.05 * e, 2.0),
          s"hll tier estimate outside its band: approx=$a exact=$e")
      }
      exportForOracle(joined.select("metric", "bucket_start", "approx_users"),
        "a26_approx", model = true)
      joined.select(col("metric"), col("bucket_start"),
        col("exact_users"), col("approx_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          greatest(col("exact_users") * lit(0.05), lit(2.0))).as("bound_ok"))
    }),

    // Cohort retention: first-event-day cohorts x day offset, active
    // users + rate per cell — one map-side-combined day-set per user
    // (bounded by the horizon, not event count), two shuffles total.
    "cohort_retention" -> ((s, dir) =>
      TrendOps.cohortRetention(series(s, dir), maxOffsetDays = 30)),

    // Windowed funnel (view -> click -> purchase within 10 minutes): the
    // anchor-propagation DP — one user-keyed shuffle, O(K) fold state —
    // against an oracle that enumerates the chains as a K-way self-join
    // (exactly the blowup the DP avoids; EXISTS semantics make the two
    // formulations provably equal).
    "funnel_steps" -> ((s, dir) =>
      TrendOps.windowFunnel(series(s, dir),
        Seq("view", "click", "purchase"), windowSeconds = 600L)),

    // Streaming twin of funnel_steps: the same anchor DP as keyed stream
    // state (O(K) per user), replayed through a real checkpointed stream;
    // the per-user max emission composes through the SAME count shape and
    // faces funnel_steps's oracle verbatim — cross-batch anchor carry is
    // exactly what the parity proves.
    "stream_funnel_parity" -> ((s, dir) =>
      TrendOps.funnelCounts(
        graft.streaming.StreamReplay.funnelReplay(
          series(s, dir).select("metric", "e", "user_id"),
          Seq("view", "click", "purchase"), windowSeconds = 600L),
        Seq("view", "click", "purchase"))),

    // HLL set operations (audience overlap): union via register-wise
    // hll_union, intersection by inclusion-exclusion, Jaccard derived —
    // one pass over the facts, then an m-row broadcast self-join.
    // Rows-only (Spark's DataSketches estimates aren't reproducible in
    // DuckDB); the exact twin below is the oracle surface, and
    // TrendOpsSpec prices the estimate error against it.
    // BAND-ORACLED (r16, the a26/a9/ann_recall technique): the sketch
    // pair matrix exports its HLL estimates; DuckDB re-derives the EXACT
    // overlap matrix from the series and replays the same band verdicts
    // over the exported estimates — the estimates and verdicts all land
    // under the hash. In-engine requires mirror the bands (a collapsed
    // sketch fails loudly even with export disabled). Bands: one-sketch
    // estimates (union) get the HLL lgK=12 3σ envelope (5%, floor 2);
    // the inclusion-exclusion intersection stacks three estimates'
    // errors (10% of |A|+|B|, floor 6).
    "audience_overlap" -> ((s, dir) => {
      val sr = series(s, dir)
      val sk = exportForOracle(
        TrendOps.audienceOverlapSketch(sr)
          .select("metric_a", "metric_b", "est_union", "est_intersection"),
        "overlap_sketch", model = true)
      val joined = TrendOps.audienceOverlapExact(sr)
        .join(sk, Seq("metric_a", "metric_b"))
        .localCheckpoint(true)
      joined.collect().foreach { r =>
        val eu = r.getAs[Long]("union_users")
        val au = r.getAs[Double]("est_union")
        require(math.abs(au - eu) <= math.max(0.05 * eu, 2.0),
          s"union estimate outside its band: $r")
        val ei = r.getAs[Long]("inter_users")
        val ai = r.getAs[Double]("est_intersection")
        val ab = r.getAs[Long]("users_a") + r.getAs[Long]("users_b")
        require(math.abs(ai - ei) <= math.max(0.10 * ab, 6.0),
          s"intersection estimate outside its band: $r")
      }
      joined.select(col("metric_a"), col("metric_b"),
        col("users_a"), col("users_b"), col("inter_users"), col("union_users"),
        col("est_union"), col("est_intersection"),
        (abs(col("est_union") - col("union_users")) <=
          greatest(col("union_users") * lit(0.05), lit(2.0))).as("union_ok"),
        (abs(col("est_intersection") - col("inter_users")) <=
          greatest((col("users_a") + col("users_b")) * lit(0.10), lit(6.0)))
          .as("inter_ok"))
    }),

    // Exact twin: same matrix from real distinct-user sets (the honest
    // shuffle the sketch path avoids) — fully SQL-expressible.
    "audience_overlap_verify" -> ((s, dir) =>
      TrendOps.audienceOverlapExact(series(s, dir))),

    // a34: heavy-hitters sketch tier (round-9 VERDICT item 4) — top terms
    // via mergeable Misra–Gries summaries in the a26 tier shape: per-lang
    // partial sketches, union-merged to a global summary, top-20 out.
    // Each task ships one O(cap) summary, so at 100 TB the shuffle is
    // O(partitions × cap), not O(distinct terms) like exact text_top_terms
    // (ScaleGate's `topk_shuffle` row bounds the shuffle bytes). The oracle is the
    // EXACT count SQL: the fixture vocabulary (31 terms) is far below
    // cap=256, so no eviction fires anywhere and MG counts are exact by
    // construction; eviction and merge bounds are pinned by
    // HeavyHittersSpec. The final window ranks the 31-row merged summary —
    // model-sized, never the term stream.
    "a34_topk_sketch" -> ((s, dir) =>
      topkFromSummaries(
        Tables.documents(s, dir)
          .select(col("lang"), explode(TextOps.tokens(col("text"))).as("term"))
          .groupBy("lang")
          .agg(HeavyHitters.summary(col("term"), cap = 256).as("sk")))),

    // a34's streaming twin: the SAME per-lang MG summaries maintained
    // incrementally by a checkpointed update-mode stream (the aggregation
    // state IS the sketch, merged per micro-batch with the PODS'12
    // combine), replayed over the sliced corpus and upserted by last
    // emission — then the identical merge+rank downstream. Shares a34's
    // exact-count oracle: below cap the cross-batch merge is pointwise
    // addition, so the streamed counts are exact regardless of how the
    // slices cut the corpus. A green row proves sketch state carries
    // exactly across micro-batch boundaries.
    "stream_topk_parity" -> ((s, dir) =>
      topkFromSummaries(
        graft.streaming.StreamReplay.topTermsReplay(
          Tables.documents(s, dir).select("doc_id", "lang", "text"),
          cap = 256))),

    // a26's streaming twin (closing the tier-twin family: a24 counts, a34
    // frequencies, a35 quantiles, a26 distincts): per-(metric, minute) HLL
    // sketches maintained as streaming aggregation state, replayed,
    // upserted, then composed to hourly estimates by the identical batch
    // downstream. Rows-only like a26 (DuckDB's HLL is a different
    // implementation) — but register-max is order-independent, so the
    // streamed tier composes to BIT-EQUAL estimates vs batch a26, pinned
    // by the StreamingSpec parity test.
    "stream_hll_parity" -> ((s, dir) => {
      val sr = series(s, dir)
      val approx = graft.streaming.StreamReplay.hllTierReplay(
          sr.select("metric", "e", "user_id"))
        .withColumn("bucket_start",
          floor(col("minute_start").cast("long") / lit(3600.0)).cast("long") * 3600)
        .groupBy("metric", "bucket_start")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("approx_users"))
      // same band-verified promotion as batch a26 — the streamed minute
      // sketches must land inside the same bound around the same exact NDV
      val exact = sr
        .withColumn("bucket_start", floor(col("e") / lit(3600.0)).cast("long") * 3600)
        .groupBy("metric", "bucket_start")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      val joined = approx.join(exact, Seq("metric", "bucket_start"))
        .localCheckpoint(true)
      joined.collect().foreach { r =>
        val a = r.getAs[Long]("approx_users")
        val e = r.getAs[Long]("exact_users")
        require(math.abs(a - e) <= math.max(0.05 * e, 2.0),
          s"streamed hll estimate outside its band: approx=$a exact=$e")
      }
      exportForOracle(joined.select("metric", "bucket_start", "approx_users"),
        "hllstream_approx", model = true)
      joined.select(col("metric"), col("bucket_start"),
        col("exact_users"), col("approx_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          greatest(col("exact_users") * lit(0.05), lit(2.0))).as("bound_ok"))
    }),

    // a35: quantile sketch tier — the third sketch-tier member (a26 = HLL
    // distinct, a34 = MG frequency): per-minute GK summaries union-merged
    // to hours, p50/p95/p99 served from the STORED sketches with the raw
    // samples gone — quantiles don't merge associatively the way
    // count/sum/min/max do, so tiered retention must keep a mergeable
    // summary, not the percentile. Gate eps = 1e-9 < 1/(2N) at fixture
    // scale: the compress band is below one rank, no sample is ever
    // dropped, and each query returns the exact ceil(phi*N)-rank sample —
    // deterministic and SQL-expressible (the a34 below-cap story for
    // quantiles). Production eps (1e-2…1e-4) trades that for O(1/eps)
    // memory; those bounds are pinned by QuantileSketchSpec.
    "a35_quantile_tier" -> ((s, dir) =>
      quantileHoursFromMinuteTier(
        series(s, dir)
          .withColumn("minute", floor(col("e") / lit(60.0)).cast("long") * 60)
          .groupBy("metric", "minute")
          .agg(QuantileSketch.summary(col("value"), QTIER_EPS).as("sk")))),

    // a35's streaming twin, completing the tier-twin symmetry (a24 →
    // stream_tier, a34 → stream_topk, a35 → this): the per-minute GK
    // sketches are maintained as STREAMING AGGREGATION STATE (the buffer
    // is the mergeable summary), replayed over the sliced fixture,
    // upserted by last emission, then composed to hours by the identical
    // batch downstream. Shares a35's oracle verbatim — in the exactness
    // regime the cross-batch sketch merge is lossless, so a green row
    // proves sketch state carries exactly across micro-batch boundaries.
    "stream_quantile_parity" -> ((s, dir) =>
      quantileHoursFromMinuteTier(
        graft.streaming.StreamReplay.quantileTierReplay(
            series(s, dir).select("metric", "e", "value"), QTIER_EPS)
          .select(col("metric"),
            col("minute_start").cast("long").as("minute"), col("sk")))),

    // Seasonality-adjusted anomaly screen: a16's z-score against the
    // (metric, hour-of-day) diurnal baseline instead of the global mean —
    // a value normal at peak hour is anomalous at 3am. Baselines are a
    // 120-row broadcast; same exact-decimal-sum determinism as a16.
    "a21_seasonal_anomaly" -> ((s, dir) => {
      val sr = series(s, dir).withColumn("hour_of_day",
        (pmod(col("e"), lit(86400L)) / lit(3600L)).cast("int"))
      val v = col("value").cast("decimal(18,2)")
      val stats = sr.groupBy("metric", "hour_of_day").agg(
        count(lit(1)).cast("double").as("sn"),
        sum(v).cast("double").as("sv"),
        sum(v * v).cast("double").as("svv"))
        // same singleton-variance guard as a16/a25
        .where(col("sn") >= 2)
        .select(col("metric"), col("hour_of_day"),
          (col("sv") / col("sn")).as("mu"),
          sqrt((col("svv") - col("sv") * col("sv") / col("sn")) / (col("sn") - 1)).as("sd"))
      sr.join(broadcast(stats), Seq("metric", "hour_of_day"))
        .where(abs(col("value") - col("mu")) > col("sd") * 3)
        .groupBy("metric", "hour_of_day")
        .agg(count(lit(1)).as("n_anomalies"),
          min("value").as("min_v"), max("value").as("max_v"))
    }),

    // Sequence packing: concat-and-chunk training-stream layout.
    "pack_sequences" -> ((s, dir) =>
      CurationOps.packSequences(Tables.documents(s, dir), 2048L, 8)),

    // Deterministic corpus shuffle: content-hash sharded layout for
    // training-order randomization (map-side shard + per-shard rank — no
    // global sort).
    "shuffle_shards" -> ((s, dir) =>
      CurationOps.shuffleShards(Tables.documents(s, dir), nShards = 8)),

    // Z-order (Morton) clustering key over the two lineitem join keys —
    // the sort key a 2-d-prunable clustered write uses. Exported for every
    // row so the oracle pins the full bit-interleave construction; the
    // layout write + measured footer-pruning win live in LayoutOpsSpec.
    "layout_zorder" -> ((s, dir) =>
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        LayoutOps.zValue(col("l_partkey"), col("l_suppkey")).as("zval"))),

    // Top-5 TF-IDF keywords per document (log-free rational scoring).
    "text_tfidf" -> ((s, dir) =>
      SearchOps.tfidfTopTerms(Tables.documents(s, dir), 5)),

    // Lloyd's k-means over embeddings, ASSIGNMENT stage export-oracled:
    // the iterative model fit is not one SQL statement (determinism +
    // planted-cluster behavior stay pinned by unit tests), but the final
    // assignment is — the fitted centroids (a model: nClusters × dim
    // doubles) export, the Spark side assigns with the READ-BACK model,
    // and DuckDB recomputes argmax-dot with the same lower-cluster-id
    // tie-break per vector. rounds = 3 keeps the pre-rename output
    // (2 centroid updates + fused final assignment; see kmeansAssign's
    // doc for the iters→rounds semantics note).
    "kmeans_assign" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = SimilarityOps.kmeansCentroids(emb, nClusters = 8, updates = 2)
      val centDf = s.createDataFrame(
        cents.toSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) })
        .toDF("cluster_id", "cv")
      val model = exportForOracle(centDf, "kmeans_centroids", model = true)
        .orderBy("cluster_id").collect()
        .map(_.getSeq[Double](1).toArray)
      SimilarityOps.assignVectors(emb, model)
    }),

    // SemDeDup (Abbas et al. 2023): semantic near-dedup — kmeans clusters
    // ARE the candidate blocks, exact cosine runs within-cluster only, a
    // vector with any lower-id tau-neighbor in its cluster drops. Planted
    // scaled twins guarantee live duplicate pairs at every SF; the fitted
    // centroid model and the twin rows export, and DuckDB replays
    // assignment (argmax-dot, lower-cluster tie-break), the within-cluster
    // self-join, the exact-cosine gate, and the anti-join — the full keep
    // decision re-derived end-to-end.
    "semdedup_keep" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val twins = exportForOracle(
        emb.where(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 2000000).as("vec_id"),
            transform(col("embedding"), x => x * lit(1.0005f)).as("embedding")),
        "semdedup_twins", model = true)
      val corpus = emb.unionByName(twins)
      val cents = SimilarityOps.kmeansCentroids(corpus, nClusters = 16, updates = 2)
      val centDf = s.createDataFrame(
        cents.toSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) })
        .toDF("cluster_id", "cv")
      val model = exportForOracle(centDf, "semdedup_centroids", model = true)
        .orderBy("cluster_id").collect()
        .map(_.getSeq[Double](1).toArray)
      SimilarityOps.semanticKeep(corpus, model, tau = 0.96)
    }),

    // Connected components with a DuckDB-replicable edge set: the LSH pair
    // sources can't be expressed in SQL (xxhash64 signatures), so the
    // grouping operator itself gets its oracle here — adjacent-doc shingle
    // Jaccard >= 0.01 as edges, min-label components via label propagation
    // on the Spark side vs a recursive CTE on the oracle side.
    "neardup_cc" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val pairs = docs.select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
      val edges = DedupOps.jaccardForPairs(pairs, docs)
        .where(col("jaccard") >= 0.01)
        .select("doc_a", "doc_b")
      DedupOps.nearDupGroups(edges)
    }),

    // Fixed-point graph analytics: 4 damped PageRank iterations in exact
    // long micro-units over the content-hash link graph (both engines
    // derive the SAME edges from md5 hex — the shuffle_shards parse
    // precedent), so the DuckDB replay of the unrolled iterations matches
    // every rank bit-for-bit.
    "graph_pagerank" -> ((s, dir) =>
      GraphOps.pageRank(
        GraphOps.hashLinkGraph(Tables.documents(s, dir).select("doc_id", "text")),
        iters = 4)),

    // Analytic-window breadth: quartile bucket, percent_rank, cume_dist and
    // running first per metric — all rational functions of ranks/counts, so
    // fully oracle-checkable.
    "q_window_stats" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("metric").orderBy(col("e"), col("event_id"))
      series(s, dir).select(
        col("metric"), col("event_id"), col("e"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        first("value").over(w).as("first_val"))
    }),

    // Cheapest supplier per part observed in lineitem: the argmin-without-
    // join pattern (lexicographic min(struct) — one aggregate shuffle; the
    // oracle uses the equivalent agg + join-back formulation).
    "q_cheapest_supplier" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_partkey")
        .agg(min(struct(
          col("l_extendedprice").cast("decimal(18,2)").as("p"),
          col("l_suppkey").as("s"))).as("m"))
        .select(col("l_partkey"),
          col("m.p").cast("double").as("min_price"),
          col("m.s").as("supp")))
  )

  // ---- oracle SQL ----------------------------------------------------------
  //
  // PORTABLE-ROUNDING RULE (r9): never `round(DOUBLE, n>0)` on a compare
  // surface. Spark rounds via BigDecimal HALF_UP on the double's exact
  // binary expansion; DuckDB rounds via scaled-double arithmetic — on a
  // tie-edge value (x.xxxxxx5, common when values derive from /100
  // decimals) the two land on different digits (a27_derivative, r7/r8).
  // Instead, every double emitted for compare is BIT-DETERMINISTIC — an
  // exact int/int or decimal/int division, or an identical-order IEEE
  // expression tree on both sides (the a14_ewma contract: +,-,*,/,sqrt are
  // correctly rounded per IEEE 754, so same inputs + same tree = same
  // bits) — and compared RAW. Scale-0 rounding (`round(v, 0)` /
  // `ROUND(value)`) remains allowed: both engines resolve it exactly
  // (half-away-from-zero on the exactly-representable double), no scaling
  // step involved. Transcendentals (ln/exp/pow) are banned from compare
  // surfaces outright — bm25/tfidf use log-free rational scoring for this
  // reason.

  /** A `def`, not a `lazy val`: export-reading entries interpolate
    * [[oracleExportRoot]], which Verify repoints per run before dumping
    * this map — caching would freeze the default path into every run. The
    * fused-Aggregator flagship shares the built-ins flagship's oracle
    * (identical output contract). */
  def oracleSql: Map[String, String] =
    baseOracle + ("a2_banded_extents_fused" -> baseOracle("a2_banded_extents"))

  /** Full BPE training replay against an exported merge table at `glob`:
    * base vocab rebuilt from documents with the same cap/tie-break,
    * states advanced by applying the EXPORTED merges (literal delimiter-
    * wrapped replace — identical leftmost-nonoverlapping semantics in
    * both engines), each step's argmax re-derived from the replayed
    * state. Equality with Spark's export means every learned rule was
    * the true argmax at its step. Shared by the 20-merge gate entry and
    * the 256-merge production-scale twin (which swaps `wordsSrc` for the
    * compound-bigram derivation). */
  private def bpeTrainReplaySql(glob: String,
      wordsSrc: String =
        """SELECT unnest(string_split_regex(text, '\s+')) AS word
          |         FROM documents""".stripMargin): String =
    s"""WITH RECURSIVE
       |m AS (SELECT step, lhs, rhs FROM read_parquet('$glob')),
       |wf AS (SELECT word, count(*) AS freq FROM (
       |         $wordsSrc)
       |       WHERE length(word) > 0 AND NOT contains(word, chr(1))
       |       GROUP BY 1
       |       QUALIFY row_number() OVER (ORDER BY freq DESC, word ASC) <= 800),
       |st AS (
       |  SELECT 1 AS step,
       |         regexp_replace(word, '(.)', chr(1) || '\\1' || chr(1), 'g') AS w,
       |         freq
       |  FROM wf
       |  UNION ALL
       |  SELECT st.step + 1,
       |         replace(st.w, chr(1) || m.lhs || chr(1) || chr(1) || m.rhs || chr(1),
       |                 chr(1) || m.lhs || m.rhs || chr(1)),
       |         st.freq
       |  FROM st JOIN m ON m.step = st.step
       |),
       |sy AS (SELECT step, string_split(trim(w, chr(1)), chr(1) || chr(1)) AS s,
       |              freq FROM st),
       |pr AS (SELECT step, s[i] AS lhs, s[i + 1] AS rhs, freq
       |       FROM (SELECT step, s, freq,
       |               unnest(generate_series(1, len(s) - 1)) AS i
       |             FROM sy WHERE len(s) >= 2)),
       |pc AS (SELECT step, lhs, rhs, CAST(SUM(freq) AS BIGINT) AS pair_freq
       |       FROM pr GROUP BY 1, 2, 3),
       |best AS (SELECT step, lhs, rhs, pair_freq FROM pc
       |         QUALIFY row_number() OVER (PARTITION BY step
       |           ORDER BY pair_freq DESC, lhs ASC, rhs ASC) = 1)
       |SELECT b.step, b.lhs, b.rhs, b.pair_freq
       |FROM best b WHERE b.step <= (SELECT max(step) FROM m)""".stripMargin

  /** Also a `def` (not a val): the export-reading entries below must see
    * the export root CURRENT at dump time, not at object init. */
  private def baseOracle: Map[String, String] = Map(
    "a2_banded_extents" ->
      s"""WITH $SERIES, $ANCHORS,
         |banded AS (SELECT s.*, $BAND_CASE AS day_bin
         |           FROM series s JOIN anchors a USING (metric)),
         |$EXTENTS_TAIL""".stripMargin,

    "pipeline_cold_start" ->
      s"""WITH $SERIES,
         |d0 AS (SELECT metric, e, event_id, value,
         |  row_number() OVER (PARTITION BY metric, CAST(FLOOR(e/${P.minSampleGapSeconds}) AS BIGINT)
         |                     ORDER BY e DESC, event_id DESC) AS rn
         |  FROM series),
         |dec AS (SELECT metric, e, event_id, value FROM d0 WHERE rn = 1),
         |anchors AS (SELECT metric, max(e) AS anchor_e FROM dec GROUP BY metric),
         |banded AS (SELECT s.*, $BAND_CASE AS day_bin
         |           FROM dec s JOIN anchors a USING (metric)),
         |$EXTENTS_TAIL""".stripMargin,

    "a2_cumulative_extents" ->
      s"""WITH $SERIES, $ANCHORS,
         |banded AS (SELECT s.*, b.day_bin
         |           FROM series s JOIN anchors a USING (metric)
         |           CROSS JOIN (VALUES ${P.dayBins.map(b => s"($b)").mkString(",")}) AS b(day_bin)
         |           WHERE s.e > a.anchor_e - b.day_bin*86400),
         |$EXTENTS_TAIL""".stripMargin,

    "a1_argminmax" ->
      s"""WITH $SERIES,
         |agg AS (SELECT metric, count(*) AS n, min(value) AS min_val,
         |               max(value) AS max_val FROM series GROUP BY 1),
         |mn AS (SELECT s.metric, min(s.e) AS min_ts FROM series s
         |       JOIN agg g ON s.metric = g.metric AND s.value = g.min_val GROUP BY 1),
         |mx AS (SELECT s.metric, max(s.e) AS max_ts FROM series s
         |       JOIN agg g ON s.metric = g.metric AND s.value = g.max_val GROUP BY 1)
         |SELECT g.metric, g.n, g.min_val, mn.min_ts, g.max_val, mx.max_ts
         |FROM agg g JOIN mn ON g.metric = mn.metric JOIN mx ON g.metric = mx.metric""".stripMargin,

    "a5_rolling_mean" ->
      s"""WITH $SERIES,
         |ranked AS (SELECT metric, value,
         |  row_number() OVER (PARTITION BY metric ORDER BY e DESC, event_id DESC) AS rn
         |  FROM series)
         |SELECT metric, count(*) AS n_samples,
         |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
         |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS mean_val
         |FROM ranked WHERE rn <= ${P.currentValueSamples} GROUP BY metric""".stripMargin,

    "f1_decimate" ->
      s"""WITH $SERIES,
         |b AS (SELECT metric, CAST(FLOOR(e/${P.minSampleGapSeconds}) AS BIGINT) AS bucket, e, event_id, value,
         |  row_number() OVER (PARTITION BY metric, CAST(FLOOR(e/${P.minSampleGapSeconds}) AS BIGINT)
         |                     ORDER BY e DESC, event_id DESC) AS rn
         |  FROM series)
         |SELECT metric, bucket*${P.minSampleGapSeconds.toLong} AS bucket_start, e, event_id, value FROM b WHERE rn = 1""".stripMargin,

    "m3_retention" ->
      s"""WITH $SERIES, $ANCHORS
         |SELECT s.metric, count(*) AS retained, min(s.e) AS first_e, max(s.e) AS last_e
         |FROM series s JOIN anchors a USING (metric)
         |WHERE s.e > a.anchor_e - ${P.retentionSeconds} GROUP BY 1""".stripMargin,

    "a6_rate" ->
      s"""WITH $SERIES
         |SELECT metric, CAST(FLOOR(e/${P.rateWindowSeconds}.0) AS BIGINT)*${P.rateWindowSeconds} AS w_start,
         |       count(*) AS msgs, CAST(SUM(strlen(props)) AS BIGINT) AS bytes,
         |       count(*)/${P.rateWindowSeconds}.0 AS msgs_per_sec,
         |       CAST(SUM(strlen(props)) AS BIGINT)/${P.rateWindowSeconds}.0 AS bytes_per_sec
         |FROM series GROUP BY 1, 2""".stripMargin,

    "a4_batch_mean" ->
      s"""WITH $SERIES
         |SELECT metric, CAST(FLOOR(e/${P.microBatchSeconds}.0) AS BIGINT)*${P.microBatchSeconds} AS w_start,
         |       count(*) AS n,
         |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
         |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS mean_val
         |FROM series GROUP BY 1, 2""".stripMargin,

    "a7_sessions" ->
      s"""WITH $SERIES,
         |lagged AS (SELECT user_id, e, event_id,
         |  lag(e) OVER (PARTITION BY user_id ORDER BY e, event_id) AS prev_e
         |  FROM series),
         |flagged AS (SELECT *, CASE WHEN prev_e IS NULL OR e - prev_e > ${P.sessionGapSeconds}
         |                           THEN 1 ELSE 0 END AS is_new FROM lagged),
         |sessions AS (SELECT user_id, e,
         |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY e, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
         |  FROM flagged)
         |SELECT user_id, session_idx, min(e) AS session_start, max(e) AS session_end,
         |       count(*) AS n_events
         |FROM sessions GROUP BY 1, 2""".stripMargin,

    // Mirrors Spark's Percentile formula EXPLICITLY instead of
    // quantile_cont: pos = p*(n-1) in double, result = (ceil(pos)-pos)*v_lo
    // + (pos-floor(pos))*v_hi — the same IEEE expression tree on both
    // engines — with BOTH of Spark's short-circuits: integer pos, and
    // v_lo = v_hi (the straddled positions land on the same distinct key,
    // where Spark returns the value raw while the formula evaluated in
    // doubles can come back 1 ulp off). quantile_cont computes the same
    // value through a different operation order; it matched at the gate
    // fixtures but drifted 1 ulp at sf1 (200k-row series), so the oracle
    // is structural, not coincidental (round-10 scale finding).
    "a10_percentiles" ->
      s"""WITH $SERIES,
         |w AS (SELECT metric, value,
         |        CAST(row_number() OVER (PARTITION BY metric ORDER BY value) AS BIGINT) - 1 AS idx,
         |        count(*) OVER (PARTITION BY metric) AS n
         |      FROM series),
         |pos AS (SELECT metric, n,
         |        CAST(0.5 AS DOUBLE)*CAST(n-1 AS DOUBLE) AS q50,
         |        CAST(0.9 AS DOUBLE)*CAST(n-1 AS DOUBLE) AS q90,
         |        CAST(0.99 AS DOUBLE)*CAST(n-1 AS DOUBLE) AS q99
         |      FROM (SELECT DISTINCT metric, n FROM w)),
         |v AS (SELECT w.metric,
         |        max(CASE WHEN idx = CAST(FLOOR(q50) AS BIGINT) THEN value END) AS lo50,
         |        max(CASE WHEN idx = CAST(CEIL(q50) AS BIGINT) THEN value END) AS hi50,
         |        max(CASE WHEN idx = CAST(FLOOR(q90) AS BIGINT) THEN value END) AS lo90,
         |        max(CASE WHEN idx = CAST(CEIL(q90) AS BIGINT) THEN value END) AS hi90,
         |        max(CASE WHEN idx = CAST(FLOOR(q99) AS BIGINT) THEN value END) AS lo99,
         |        max(CASE WHEN idx = CAST(CEIL(q99) AS BIGINT) THEN value END) AS hi99
         |      FROM w JOIN pos ON w.metric = pos.metric GROUP BY 1)
         |SELECT p.metric,
         |  CASE WHEN FLOOR(q50) = CEIL(q50) OR lo50 = hi50 THEN lo50
         |       ELSE (CEIL(q50)-q50)*lo50 + (q50-FLOOR(q50))*hi50 END AS p50,
         |  CASE WHEN FLOOR(q90) = CEIL(q90) OR lo90 = hi90 THEN lo90
         |       ELSE (CEIL(q90)-q90)*lo90 + (q90-FLOOR(q90))*hi90 END AS p90,
         |  CASE WHEN FLOOR(q99) = CEIL(q99) OR lo99 = hi99 THEN lo99
         |       ELSE (CEIL(q99)-q99)*lo99 + (q99-FLOOR(q99))*hi99 END AS p99
         |FROM pos p JOIN v ON p.metric = v.metric""".stripMargin,

    // The EWMA recurrence replayed one series position per recursive
    // iteration. Bit-parity with the Spark fold holds because both sides
    // evaluate the identical double expression in the identical order:
    // `0.2*x + (1-0.2)*prev` oldest→newest per metric, (e, event_id)
    // tie-break — and 1-0.2 rounds to the same double as the 0.8 literal
    // on both engines (verified exact over the full sf0.01 series).
    "a14_ewma" ->
      s"""WITH RECURSIVE $SERIES,
         |o AS (SELECT metric, e, value,
         |        CAST(row_number() OVER (PARTITION BY metric ORDER BY e, event_id) AS BIGINT) AS rn
         |      FROM series),
         |r AS (
         |  SELECT metric, rn, e, value, value AS ewma FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.metric, o.rn, o.e, o.value, 0.2 * o.value + (1 - 0.2) * r.ewma
         |  FROM r JOIN o ON o.metric = r.metric AND o.rn = r.rn + 1
         |)
         |SELECT metric, e, value, ewma FROM r""".stripMargin,

    // Holt recurrence replayed one position per recursive step; the
    // trend row re-states the level expression verbatim (the CTE cannot
    // name a same-row computed column) — identical tokens, identical
    // bits. Seed: level = x1, trend = 0.
    "a36_holt" ->
      s"""WITH RECURSIVE $SERIES,
         |o AS (SELECT metric, e, value,
         |        CAST(row_number() OVER (PARTITION BY metric ORDER BY e, event_id) AS BIGINT) AS rn
         |      FROM series),
         |r AS (
         |  SELECT metric, rn, e, value, value AS level,
         |         CAST(0 AS DOUBLE) AS trend
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.metric, o.rn, o.e, o.value,
         |         0.3*o.value + (1 - 0.3)*(r.level + r.trend),
         |         0.1*((0.3*o.value + (1 - 0.3)*(r.level + r.trend)) - r.level)
         |           + (1 - 0.1)*r.trend
         |  FROM r JOIN o ON o.metric = r.metric AND o.rn = r.rn + 1
         |)
         |SELECT metric, e, value, level, trend, level + trend AS forecast
         |FROM r""".stripMargin,

    // The time-chunked EWMA replayed in the same three-pass order the
    // Spark operator uses: (1) per-(metric, day-chunk) affine folds
    // (a = Π(1−α), b = fold(α·x + (1−α)·b, 0), bseed = seeded fold),
    // (2) per-metric carry combine over chunk summaries (state ← a·state + b,
    // first chunk bseed), (3) per-chunk re-fold from the carry-in. Every
    // double expression matches the Spark side token-for-token in the same
    // order, so the compare is bit-exact (the a14 contract, chunked).
    "a14_ewma_chunked" ->
      s"""WITH RECURSIVE $SERIES,
         |o AS (SELECT metric, e, value,
         |        CAST(FLOOR(e/86400) AS BIGINT) AS c,
         |        CAST(row_number() OVER (
         |          PARTITION BY metric, CAST(FLOOR(e/86400) AS BIGINT)
         |          ORDER BY e, event_id) AS BIGINT) AS rn
         |      FROM series),
         |f AS (
         |  -- CAST pins the recursive column to DOUBLE: a bare 1.0*(1-0.2)
         |  -- base case would type `a` as a low-scale DECIMAL and round on
         |  -- every recursive multiply.
         |  SELECT metric, c, rn, CAST(1 AS DOUBLE)*(1 - 0.2) AS a,
         |         0.2*value + (1 - 0.2)*0.0 AS b, value AS bseed
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.metric, o.c, o.rn, f.a*(1 - 0.2),
         |         0.2*o.value + (1 - 0.2)*f.b, 0.2*o.value + (1 - 0.2)*f.bseed
         |  FROM f JOIN o ON o.metric = f.metric AND o.c = f.c AND o.rn = f.rn + 1
         |),
         |s AS (SELECT metric, c, a, b, bseed FROM f
         |      QUALIFY row_number() OVER (PARTITION BY metric, c ORDER BY rn DESC) = 1),
         |ck AS (SELECT *, CAST(row_number() OVER (PARTITION BY metric ORDER BY c) AS BIGINT) AS k FROM s),
         |carry AS (
         |  SELECT metric, c, k, bseed AS state FROM ck WHERE k = 1
         |  UNION ALL
         |  SELECT n.metric, n.c, n.k, n.a*carry.state + n.b
         |  FROM carry JOIN ck n ON n.metric = carry.metric AND n.k = carry.k + 1
         |),
         |ci AS (SELECT n.metric, n.c, p.state AS carry_in
         |       FROM ck n LEFT JOIN carry p ON p.metric = n.metric AND p.k = n.k - 1),
         |fin AS (
         |  SELECT o.metric, o.c, o.rn, o.e, o.value,
         |         CASE WHEN ci.carry_in IS NULL THEN o.value
         |              ELSE 0.2*o.value + (1 - 0.2)*ci.carry_in END AS ewma
         |  FROM o JOIN ci ON ci.metric = o.metric AND ci.c = o.c
         |  WHERE o.rn = 1
         |  UNION ALL
         |  SELECT o.metric, o.c, o.rn, o.e, o.value, 0.2*o.value + (1 - 0.2)*fin.ewma
         |  FROM fin JOIN o ON o.metric = fin.metric AND o.c = fin.c AND o.rn = fin.rn + 1
         |)
         |SELECT metric, e, value, ewma FROM fin""".stripMargin,

    "a15_histogram" ->
      s"""WITH $SERIES
         |SELECT metric, CAST(FLOOR(value/50) AS BIGINT) AS bucket,
         |       count(*) AS n, min(value) AS lo, max(value) AS hi
         |FROM series GROUP BY 1, 2""".stripMargin,

    "a17_resample_linear" ->
      s"""WITH $SERIES,
         |b0 AS (SELECT metric, CAST(FLOOR(e/${P.minSampleGapSeconds}) AS BIGINT)*${P.minSampleGapSeconds.toLong} AS t, value,
         |  row_number() OVER (PARTITION BY metric, CAST(FLOOR(e/${P.minSampleGapSeconds}) AS BIGINT)
         |                     ORDER BY e DESC, event_id DESC) AS rn
         |  FROM series),
         |b AS (SELECT metric, t, value FROM b0 WHERE rn = 1),
         |bounds AS (SELECT metric,
         |  CAST(FLOOR(min(e)/${P.minSampleGapSeconds}) AS BIGINT)*${P.minSampleGapSeconds.toLong} AS lo,
         |  CAST(FLOOR(max(e)/${P.minSampleGapSeconds}) AS BIGINT)*${P.minSampleGapSeconds.toLong} AS hi
         |  FROM series GROUP BY 1),
         |grid AS (SELECT metric, unnest(generate_series(lo, hi, ${P.minSampleGapSeconds.toLong})) AS t FROM bounds),
         |j AS (SELECT g.metric, g.t, b.value FROM grid g
         |      LEFT JOIN b ON g.metric = b.metric AND g.t = b.t),
         |w AS (SELECT *,
         |  last_value(value IGNORE NULLS) OVER wb AS pv,
         |  last_value(CASE WHEN value IS NOT NULL THEN t END IGNORE NULLS) OVER wb AS pt,
         |  first_value(value IGNORE NULLS) OVER wf AS nv,
         |  first_value(CASE WHEN value IS NOT NULL THEN t END IGNORE NULLS) OVER wf AS nt
         |  FROM j WINDOW
         |    wb AS (PARTITION BY metric ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    wf AS (PARTITION BY metric ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT metric, t, value,
         |  CASE WHEN value IS NOT NULL THEN value
         |       WHEN pv IS NULL THEN nv
         |       WHEN nv IS NULL THEN pv
         |       ELSE pv + (nv - pv) * ((t - pt) / (nt - pt)) END AS interp
         |FROM w""".stripMargin,

    "a16_outliers" ->
      s"""WITH $SERIES,
         |st AS (SELECT metric, CAST(count(*) AS DOUBLE) AS sn,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS svv
         |  FROM series GROUP BY 1),
         |wide AS (SELECT s.metric, s.value, sv/sn AS mu,
         |                sqrt((svv - sv*sv/sn)/(sn - 1)) AS sd
         |         FROM series s JOIN st ON s.metric = st.metric
         |         WHERE sn >= 2)
         |SELECT metric, count(*) AS n_outliers,
         |       min(value) AS min_out, max(value) AS max_out
         |FROM wide WHERE abs(value - mu) > sd * 3 GROUP BY 1""".stripMargin,

    "a12_time_weighted_mean" ->
      s"""WITH $SERIES,
         |l AS (SELECT metric, e, value,
         |  lead(e) OVER (PARTITION BY metric ORDER BY e, event_id) AS next_e
         |  FROM series)
         |SELECT metric, count(*) AS n_intervals,
         |  CAST(SUM(CAST(next_e - e AS DECIMAL(18,0))) AS DOUBLE) AS total_secs,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(next_e - e AS DECIMAL(18,0))) AS DOUBLE) AS weighted_sum,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(next_e - e AS DECIMAL(18,0))) AS DOUBLE) /
         |    CAST(SUM(CAST(next_e - e AS DECIMAL(18,0))) AS DOUBLE) AS twa
         |FROM l WHERE next_e IS NOT NULL GROUP BY metric""".stripMargin,

    "a13_resample_ffill" ->
      s"""WITH $SERIES,
         |b0 AS (SELECT metric, CAST(FLOOR(e/${P.minSampleGapSeconds}) AS BIGINT)*${P.minSampleGapSeconds.toLong} AS t, value,
         |  row_number() OVER (PARTITION BY metric, CAST(FLOOR(e/${P.minSampleGapSeconds}) AS BIGINT)
         |                     ORDER BY e DESC, event_id DESC) AS rn
         |  FROM series),
         |b AS (SELECT metric, t, value FROM b0 WHERE rn = 1),
         |bounds AS (SELECT metric,
         |  CAST(FLOOR(min(e)/${P.minSampleGapSeconds}) AS BIGINT)*${P.minSampleGapSeconds.toLong} AS lo,
         |  CAST(FLOOR(max(e)/${P.minSampleGapSeconds}) AS BIGINT)*${P.minSampleGapSeconds.toLong} AS hi
         |  FROM series GROUP BY 1),
         |grid AS (SELECT metric, unnest(generate_series(lo, hi, ${P.minSampleGapSeconds.toLong})) AS t FROM bounds),
         |r AS (SELECT g.metric, g.t, b.value,
         |  last_value(b.value IGNORE NULLS) OVER (PARTITION BY g.metric ORDER BY g.t) AS filled
         |  FROM grid g LEFT JOIN b ON g.metric = b.metric AND g.t = b.t)
         |SELECT metric, count(*) AS grid_points, count(value) AS observed,
         |       count(filled) AS non_null_filled,
         |       min(t) AS first_t, max(t) AS last_t,
         |       arg_max(filled, t) AS last_filled
         |FROM r GROUP BY metric""".stripMargin,

    "x_scalars" ->
      s"""WITH $SERIES
         |SELECT event_id,
         |  regexp_replace(metric, '[aeiouy]', '', 'g') AS metric_abbrev,
         |  strftime(make_timestamp(e*1000000), '%Y-%m-%d %H:%M:%S') AS iso,
         |  CAST(ROUND(value) AS BIGINT) AS rounded,
         |  lpad(CAST(CAST(ROUND(value) AS BIGINT) % 100 AS VARCHAR), 2, '0') AS last2,
         |  lpad(CAST(CAST(ROUND(value) AS BIGINT) AS VARCHAR), 8, ' ') AS fixed,
         |  rpad(metric, 10, '.') AS label,
         |  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k,
         |  CASE WHEN regexp_matches(json_extract_string(props, '$$.k'), '^-?[0-9]+$$')
         |       THEN regexp_matches(json_extract_string(props, '$$.k'), '[1-9]')
         |       ELSE json_extract_string(props, '$$.k') = 'true' END AS k_bool
         |FROM series WHERE event_id % 97 = 0""".stripMargin,

    "s1_bounded_scan" ->
      s"""WITH $SERIES
         |SELECT event_id, metric, e, value FROM series
         |ORDER BY e DESC, event_id DESC LIMIT ${P.maxListQueryLength}""".stripMargin,

    // The pub/sub roundtrip's oracle reads the SOURCE rows the fixture
    // sliced: a green hash row proves the channel-log write → subscribe →
    // JSON decode path loses nothing (ids, epoch seconds, and the
    // double-valued payload all bit-exact).
    "s3_pubsub_roundtrip" ->
      """SELECT event_type, event_id, epoch_ns(ts)//1000000000 AS e,
        |  user_id, value
        |FROM events WHERE event_id % 20 = 3""".stripMargin,

    // Streaming twin consumes the same fixture through the micro-batch
    // offset path; emissions are append-mode passthrough, so the oracle is
    // identical to the batch roundtrip's.
    "stream_pubsub_parity" ->
      """SELECT event_type, event_id, epoch_ns(ts)//1000000000 AS e,
        |  user_id, value
        |FROM events WHERE event_id % 20 = 3""".stripMargin,

    // The publish gates' oracle reads the SOURCE rows the sink was fed: a
    // green hash row proves encode → staged-segment write → ordered splice
    // → subscribe → decode is lossless and duplicate-free (the streaming
    // twin additionally crosses epoch-commit boundaries).
    "pubsub_publish_roundtrip" ->
      """SELECT event_type, event_id, epoch_ns(ts)//1000000000 AS e,
        |  user_id, value
        |FROM events WHERE event_id % 20 = 7""".stripMargin,

    "stream_pubsub_sink_parity" ->
      """SELECT event_type, event_id, epoch_ns(ts)//1000000000 AS e,
        |  user_id, value
        |FROM events WHERE event_id % 20 = 7""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q_window_lag" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
        |  lead(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price,
        |  rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
        |FROM orders""".stripMargin,

    // SCD2: the same two-version dimension derived in SQL; half-open
    // validity intervals, boundary event lands in v2 on both sides.
    "q_scd2_join" ->
      s"""WITH $SERIES,
         |b AS (SELECT min(e) + (max(e) - min(e)) // 2 AS cut FROM series),
         |m AS (SELECT DISTINCT metric FROM series),
         |d AS (SELECT m.metric AS dim_metric, 0 AS valid_from, b.cut AS valid_to,
         |             'v1' AS tag FROM m, b
         |      UNION ALL
         |      SELECT m.metric, b.cut, 9223372036854775807, 'v2' FROM m, b)
         |SELECT s.metric, d.tag, count(*) AS n,
         |       CAST(SUM(CAST(s.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
         |FROM series s JOIN d ON d.dim_metric = s.metric
         |  AND s.e >= d.valid_from AND s.e < d.valid_to
         |GROUP BY 1, 2""".stripMargin,

    "q_range_join" ->
      s"""WITH $SERIES,
         |p AS (SELECT event_id AS purchase_id, user_id, e AS p_e FROM series WHERE metric = 'purchase'),
         |c AS (SELECT user_id AS c_user, e AS c_e, event_id AS c_id FROM series WHERE metric = 'click')
         |SELECT p.purchase_id, p.user_id, p.p_e, count(c.c_id) AS n_clicks_5m
         |FROM p LEFT JOIN c ON p.user_id = c.c_user AND c.c_e BETWEEN p.p_e - 300 AND p.p_e
         |GROUP BY 1, 2, 3""".stripMargin,

    "q2_min_cost_supplier" ->
      """WITH euro AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |ps AS (
        |  SELECT l_partkey, l_suppkey,
        |         MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost_dec
        |  FROM lineitem GROUP BY 1, 2),
        |pse AS (
        |  SELECT p_partkey, l_suppkey, cost_dec, s_name, s_acctbal, n_name
        |  FROM ps
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN euro ON l_suppkey = s_suppkey
        |  WHERE p_type = 'STANDARD' AND p_size <= 25),
        |mn AS (SELECT p_partkey AS mk, MIN(cost_dec) AS min_dec
        |       FROM pse GROUP BY 1)
        |SELECT CAST(s_acctbal AS DOUBLE) AS acctbal, s_name, n_name,
        |       p_partkey, l_suppkey AS s_suppkey,
        |       CAST(cost_dec AS DOUBLE) AS supply_cost
        |FROM pse JOIN mn ON p_partkey = mk AND cost_dec = min_dec
        |ORDER BY acctbal DESC, n_name, s_name, p_partkey, s_suppkey
        |LIMIT 100""".stripMargin,

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       sum(l_quantity) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS sum_disc_price,
        |       sum(l_quantity)/count(*) AS avg_qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin,

    "q_mktseg_revenue" ->
      """SELECT c_mktsegment, o_orderstatus, count(*) AS n_items,
        |       count(DISTINCT o_orderkey) AS n_orders,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_local_volume" ->
      """SELECT n_name, count(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
        |FROM region
        |JOIN nation ON r_regionkey = n_regionkey
        |JOIN customer ON n_nationkey = c_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1""".stripMargin,

    "q7_nation_pairs" ->
      """SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
        |       count(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS volume
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE cn.n_name != sn.n_name
        |GROUP BY 1, 2""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT count(*) AS n_items,
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |           THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (1 - CAST(l_discount AS DECIMAL(8,2))) END) AS DOUBLE) AS promo_revenue,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS total_revenue,
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |           THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (1 - CAST(l_discount AS DECIMAL(8,2))) END) AS DOUBLE) /
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) * 100 AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin,

    // ---- r13: oracles for the full TPC-H family (q4..q22). Same
    // portable-compare rules as q1/q3/q5/q7/q14/q18: exact DECIMAL sums
    // cast to DOUBLE only at the surface, cross-multiplied thresholds,
    // pre-join filters kept in subqueries/ON where outer-join semantics
    // depend on it, deterministic ORDER BY ... LIMIT tie-breaks.

    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT count(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount >= 0.02 AND l_discount <= 0.04
        |  AND l_quantity < 24""".stripMargin,

    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  COALESCE(CAST(SUM(CASE WHEN sn.n_name = 'NATION_5'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(8,2))) END) AS DOUBLE), 0.0)
        |    AS nation_volume,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS total_volume,
        |  COALESCE(CAST(SUM(CASE WHEN sn.n_name = 'NATION_5'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(8,2))) END) AS DOUBLE), 0.0) /
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS mkt_share
        |FROM region
        |JOIN nation cn ON r_regionkey = cn.n_regionkey
        |JOIN customer ON cn.n_nationkey = c_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,

    "q9_product_profit" ->
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  count(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             (1 - CAST(l_discount AS DECIMAL(8,2))) -
        |           CAST(p_retailprice AS DECIMAL(18,2)) *
        |             CAST(l_quantity AS DECIMAL(10,0))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE contains(p_name, 'widget')
        |GROUP BY 1, 2""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q11_part_value" ->
      """WITH per_part AS (
        |  SELECT l_partkey,
        |         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             CAST(l_quantity AS DECIMAL(10,0))) AS value_dec
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3'
        |  GROUP BY 1),
        |total AS (SELECT SUM(value_dec) AS total_dec FROM per_part)
        |SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
        |FROM per_part CROSS JOIN total
        |WHERE CAST(value_dec AS DOUBLE) * 1000 > CAST(total_dec AS DOUBLE)""".stripMargin,

    "q12_return_priority" ->
      """SELECT l_returnflag,
        |  COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |        THEN 1 END) AS high_line_count,
        |  COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |        THEN 1 END) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,

    "q13_order_distribution" ->
      """WITH per_cust AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT OUTER JOIN (SELECT * FROM orders
        |                   WHERE o_orderpriority <> '5-LOW') o
        |    ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT c_count, COUNT(*) AS custdist FROM per_cust GROUP BY 1""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             (1 - CAST(l_discount AS DECIMAL(8,2)))) AS rev_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-07-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
        |  GROUP BY 1),
        |mx AS (SELECT MAX(rev_dec) AS max_dec FROM rev)
        |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
        |FROM rev CROSS JOIN mx
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_dec = max_dec""".stripMargin,

    "q16_supplier_parts" ->
      """SELECT p_brand, p_type, p_size,
        |       COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
        |  AND NOT EXISTS (SELECT 1 FROM supplier
        |                  WHERE s_acctbal < 0 AND s_suppkey = l_suppkey)
        |GROUP BY 1, 2, 3""".stripMargin,

    "q17_small_quantity" ->
      """WITH li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |                   l_extendedprice FROM lineitem),
        |stats AS (SELECT l_partkey AS agg_partkey,
        |                 CAST(SUM(qty) AS BIGINT) AS sum_qty,
        |                 COUNT(*) AS cnt_qty
        |          FROM li GROUP BY 1)
        |SELECT COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |    AS avg_yearly
        |FROM li
        |JOIN part ON l_partkey = p_partkey
        |JOIN stats ON l_partkey = agg_partkey
        |WHERE p_brand = 'Brand#3' AND p_type = 'SMALL'
        |  AND qty * cnt_qty * 5 < sum_qty""".stripMargin,

    "q19_disjunctive" ->
      """SELECT count(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q20_part_suppliers" ->
      """WITH shipped AS (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE EXISTS (SELECT 1 FROM part
        |                WHERE p_partkey = l_partkey AND p_name LIKE 'red%')
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 50)
        |SELECT s_suppkey, s_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_1'
        |  AND EXISTS (SELECT 1 FROM shipped WHERE l_suppkey = s_suppkey)""".stripMargin,

    "q21_suppliers_waiting" ->
      """SELECT s_suppkey, s_name, COUNT(*) AS numwait
        |FROM lineitem l1
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F')
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin,

    "q22_idle_balance" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_mktsegment,
        |         CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        |  FROM customer
        |  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')),
        |stats AS (SELECT SUM(bal) AS sum_bal, COUNT(*) AS cnt_bal
        |          FROM cust WHERE bal > 0)
        |SELECT c_mktsegment, COUNT(*) AS numcust,
        |       CAST(SUM(bal) AS DOUBLE) AS totacctbal
        |FROM cust CROSS JOIN stats
        |WHERE bal * cnt_bal > sum_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
        |GROUP BY 1""".stripMargin,

    "q_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue,
        |  TRUE AS colocated
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    "q_top_customers" ->
      """SELECT c_custkey, c_name, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY total_spend DESC, c_custkey LIMIT 10""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q_window_range" ->
      s"""WITH $SERIES
         |SELECT metric, event_id, e,
         |  count(*) OVER w AS n_1h,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) / (count(*) OVER w) AS mean_1h
         |FROM series
         |WINDOW w AS (PARTITION BY metric ORDER BY e
         |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_window_rank" ->
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM r WHERE rk <= 3""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT max(o_totalprice) FROM orders) * 0.9""".stripMargin,

    "q_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 25""".stripMargin,

    // Plain-join replay of the salted join: if salting leaked or dropped a
    // row, the hot key's n_orders/revenue would not reconcile.
    "q_skew_join" ->
      """WITH big AS (SELECT o_orderkey, o_totalprice,
        |       CASE WHEN o_custkey % 100 < 90 THEN 0
        |            ELSE o_custkey % 100 END AS sk FROM orders),
        |dim AS (SELECT CASE WHEN c_custkey % 100 < 90 THEN 0
        |               ELSE c_custkey % 100 END AS sk,
        |        count(*) AS dim_customers FROM customer GROUP BY 1)
        |SELECT b.sk AS sk, count(*) AS n_orders,
        |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |            AS VARCHAR) AS DOUBLE) AS revenue,
        |       max(d.dim_customers) AS dim_customers
        |FROM big b JOIN dim d USING (sk) GROUP BY b.sk""".stripMargin,

    // Plain-join replay of the bloom-pre-filtered join: any bloom false
    // NEGATIVE (impossible by construction) or dropped row would break
    // the per-brand counts.
    "q_bloom_join" ->
      """SELECT p_brand, count(*) AS n_items,
        |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |            AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#13'
        |GROUP BY p_brand""".stripMargin,

    "q_sql_agg" ->
      """SELECT l_returnflag, count(*) AS n_rows, sum(l_quantity) AS sum_qty,
        |       count(DISTINCT l_suppkey) AS n_suppliers
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // Column-profile replay: one UNION ALL leg per profiled column, the
    // same count / exact-NDV / string-rendered min-max per leg.
    "table_profile" -> Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_returnflag", "l_linestatus")
      .map(c => s"""SELECT '$c' AS col_name, count(*) AS n_rows,
        |  count($c) AS n_nonnull, count(DISTINCT $c) AS n_distinct,
        |  CAST(min($c) AS VARCHAR) AS min_repr,
        |  CAST(max($c) AS VARCHAR) AS max_repr FROM lineitem""".stripMargin)
      .mkString("\nUNION ALL\n"),

    "q_setops" ->
      """SELECT k, 'open_not_f' AS tag FROM (
        |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
        |  EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |UNION ALL
        |SELECT k, 'open_and_f' AS tag FROM (
        |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
        |  INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin,

    "q_asof_join" ->
      s"""WITH $SERIES,
         |u AS (
         |  SELECT user_id, e AS t, 1 AS side, CAST(NULL AS BIGINT) AS tb,
         |         event_id AS p_id, e AS p_e,
         |         CAST(NULL AS BIGINT) AS c_id, CAST(NULL AS BIGINT) AS c_e,
         |         CAST(NULL AS DOUBLE) AS c_val
         |  FROM series WHERE metric = 'purchase'
         |  UNION ALL
         |  SELECT user_id, e, 0, event_id, NULL, NULL, event_id, e, value
         |  FROM series WHERE metric = 'click'),
         |w AS (SELECT *,
         |  last_value(c_id IGNORE NULLS) OVER win AS click_id,
         |  last_value(c_e IGNORE NULLS) OVER win AS click_e,
         |  last_value(c_val IGNORE NULLS) OVER win AS click_val
         |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY t, side, tb NULLS LAST
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT p_id AS purchase_id, user_id, p_e AS purchase_e,
         |       click_id, click_e, click_val
         |FROM w WHERE side = 1""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS dup_key,
        |       count(*) AS n_copies, min(doc_id) AS rep_doc_id
        |FROM documents GROUP BY 1""".stripMargin,

    // Incremental-dedup replay: same corpus/batch split, same planted
    // replays, anti-join on the same normalized-text key, min-doc_id
    // within-batch claim.
    "dedup_incremental" ->
      """WITH batch AS (
        |  SELECT doc_id, text, lang, source FROM documents WHERE doc_id >= 300
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text, lang, source
        |  FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT 20000 AS doc_id, text, lang, source
        |  FROM documents WHERE doc_id = 300),
        |keyed AS (
        |  SELECT *, md5(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS kk
        |  FROM batch),
        |kept AS (
        |  SELECT * FROM keyed
        |  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY kk))
        |SELECT doc_id, lang, source FROM kept
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents c WHERE c.doc_id < 300
        |  AND md5(trim(lower(regexp_replace(c.text, '\s+', ' ', 'g')))) = kept.kk)""".stripMargin,

    // Streaming ingest-gate twin: the deterministic parity surface is the
    // kept KEY SET — every distinct in-stream key not in the corpus,
    // exactly once.
    "stream_incrdedup_parity" ->
      """WITH batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 300
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text
        |  FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT 20000 AS doc_id, text
        |  FROM documents WHERE doc_id = 300)
        |SELECT DISTINCT md5(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS dup_key
        |FROM batch b
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents c WHERE c.doc_id < 300
        |  AND md5(trim(lower(regexp_replace(c.text, '\s+', ' ', 'g'))))
        |      = md5(trim(lower(regexp_replace(b.text, '\s+', ' ', 'g')))))""".stripMargin,

    "dedup_keep" ->
      """WITH k AS (SELECT md5(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS kk,
        |                  min(doc_id) AS keep
        |           FROM documents GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.source FROM documents d JOIN k ON d.doc_id = k.keep""".stripMargin,

    "sample_pps" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE CAST(FLOOR(0.8 * (CAST(n_chars AS DOUBLE) / 4000.0) * 65536) AS BIGINT) >= 65536
        |   OR (CAST(FLOOR(0.8 * (CAST(n_chars AS DOUBLE) / 4000.0) * 65536) AS BIGINT) > 0
        |       AND substring(md5(CAST(7 AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 4) <
        |           printf('%04x', CAST(FLOOR(0.8 * (CAST(n_chars AS DOUBLE) / 4000.0) * 65536) AS BIGINT)))""".stripMargin,

    // Temperature mixture replay: same per-group count, same
    // sqrt(ref/n) double expression, same floor(p*65536) coin as the
    // Spark side (floor of a bit-identical double has no tie surface).
    "sample_temperature" ->
      """WITH n AS (SELECT lang, CAST(count(*) AS BIGINT) AS ng FROM documents GROUP BY 1),
        |p AS (SELECT d.doc_id, d.lang,
        |        CAST(FLOOR(1.0 * (sqrt(CAST(75 AS DOUBLE) / CAST(n.ng AS DOUBLE)) / 1.0) * 65536) AS BIGINT) AS coin
        |      FROM documents d JOIN n ON d.lang IS NOT DISTINCT FROM n.lang)
        |SELECT doc_id, lang FROM p
        |WHERE coin >= 65536
        |   OR (coin > 0
        |       AND substring(md5(CAST(11 AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 4) <
        |           printf('%04x', coin))""".stripMargin,

    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(CAST(42 AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE lang WHEN 'en' THEN '1999' WHEN 'de' THEN '8000' WHEN 'fr' THEN '8000' END""".stripMargin,

    "q_semi_anti" ->
      """SELECT c_custkey AS k, 'has_urgent' AS tag FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |UNION ALL
        |SELECT c_custkey AS k, 'no_urgent' AS tag FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |       count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
        |       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
        |       count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
        |FROM orders GROUP BY 1""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,

    // Two DuckDB-specific constructions keep the power sums bit-exact:
    // (1) the square widens to DECIMAL(19,4) explicitly — DuckDB caps a
    // (14,4)x(7,2) product at width 18 (int64), which overflows on v^3;
    // width 19 forces int128 arithmetic. (2) the wide sums convert to
    // DOUBLE via VARCHAR: DuckDB's direct int128-decimal→double cast is
    // off by ulps (measured), while string→double parsing is correctly
    // rounded — matching Spark's BigDecimal.doubleValue. The association
    // differs from the Spark side (v2*v2 vs ((v*v)*v)*v) but both are
    // exact integer arithmetic over the same rationals.
    "a29_equidepth_hist" ->
      s"""WITH $SERIES,
         |b AS (SELECT metric, value,
         |        ntile(10) OVER (PARTITION BY metric ORDER BY value, event_id) AS bucket
         |      FROM series)
         |SELECT metric, bucket, count(*) AS n, min(value) AS lo, max(value) AS hi
         |FROM b GROUP BY 1, 2""".stripMargin,

    "a28_moments" ->
      s"""WITH $SERIES,
         |m0 AS (SELECT metric, CAST(value AS DECIMAL(7,2)) AS vd,
         |         CAST(CAST(value AS DECIMAL(7,2)) * CAST(value AS DECIMAL(7,2))
         |              AS DECIMAL(19,4)) AS v2
         |       FROM series),
         |m AS (SELECT metric, CAST(count(*) AS DOUBLE) AS n,
         |  CAST(CAST(SUM(vd) AS VARCHAR) AS DOUBLE) AS s1,
         |  CAST(CAST(SUM(v2) AS VARCHAR) AS DOUBLE) AS s2,
         |  CAST(CAST(SUM(v2 * vd) AS VARCHAR) AS DOUBLE) AS s3,
         |  CAST(CAST(SUM(v2 * v2) AS VARCHAR) AS DOUBLE) AS s4
         |  FROM m0 GROUP BY metric),
         |c AS (SELECT metric, n, s1 / n AS mean_v, s2, s3, s4 FROM m WHERE n >= 2),
         |d AS (SELECT metric, n, mean_v,
         |        s2 / n - mean_v * mean_v AS m2,
         |        s3 / n - 3.0 * mean_v * (s2 / n) +
         |          2.0 * mean_v * mean_v * mean_v AS m3,
         |        s4 / n - 4.0 * mean_v * (s3 / n) +
         |          6.0 * mean_v * mean_v * (s2 / n) -
         |          3.0 * mean_v * mean_v * mean_v * mean_v AS m4
         |      FROM c)
         |SELECT metric, CAST(n AS BIGINT) AS n, mean_v, m2,
         |       m3 / (sqrt(m2) * m2) AS skew_v,
         |       m4 / (m2 * m2) - 3.0 AS kurtosis_v
         |FROM d WHERE m2 > 0""".stripMargin,

    "a11_dispersion" ->
      s"""WITH $SERIES,
         |m AS (SELECT metric, CAST(count(*) AS DOUBLE) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_vv,
         |  CAST(SUM(CAST((e//86400 + 4) % 7 AS DECIMAL(18,0))) AS DOUBLE) AS sum_d,
         |  CAST(SUM(CAST((e//86400 + 4) % 7 AS DECIMAL(18,0)) *
         |           CAST((e//86400 + 4) % 7 AS DECIMAL(18,0))) AS DOUBLE) AS sum_dd,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2)) *
         |           CAST((e//86400 + 4) % 7 AS DECIMAL(18,0))) AS DOUBLE) AS sum_vd
         |  FROM series GROUP BY metric)
         |SELECT metric, CAST(n AS BIGINT) AS n,
         |  sum_v / n AS mean_v,
         |  (sum_vv - sum_v * sum_v / n) / (n - 1) AS var_v,
         |  sqrt((sum_vv - sum_v * sum_v / n) / (n - 1)) AS stddev_v,
         |  (sum_vd - sum_v * sum_d / n) / (n - 1) AS cov_vd,
         |  (sum_vd - sum_v * sum_d / n) /
         |    sqrt((sum_vv - sum_v * sum_v / n) * (sum_dd - sum_d * sum_d / n)) AS corr_vd
         |FROM m WHERE n >= 2""".stripMargin,

    "pipeline_curation" ->
      """WITH scored AS (SELECT doc_id, lang, text,
        |  len(string_split_regex(text, '\s+')) AS n,
        |  len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x IN ('the','a','of','and','to','in'))) AS stop_hits,
        |  length(text) AS chars,
        |  length(text) - length(regexp_replace(text, '[\.,;:!?]', '', 'g')) AS punct
        |  FROM documents),
        |gated AS (SELECT doc_id, lang, text FROM scored
        |  WHERE GREATEST(0.0, LEAST(n/100.0, 1.0) * (1.0 - CAST(punct AS DOUBLE)/chars)) >= 0.5
        |    AND (CASE WHEN stop_hits >= 3 THEN 'en'
        |              WHEN length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) > length(text)/10
        |              THEN 'other' ELSE 'und' END) = 'en'),
        |keyed AS (SELECT doc_id, lang, text,
        |  min(doc_id) OVER (PARTITION BY md5(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))))) AS keep
        |  FROM gated),
        |surviving AS (SELECT doc_id, lang, text FROM keyed WHERE doc_id = keep)
        |SELECT lang, CASE WHEN md5(text) < 'e6' THEN 'train' ELSE 'eval' END AS split,
        |       count(*) AS n_docs, min(doc_id) AS min_doc_id
        |FROM surviving GROUP BY 1, 2""".stripMargin,

    "text_jaccard_adjacent" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
        |         THEN list_transform(generate_series(1, len(w)-2),
        |                             i -> array_to_string(w[i:i+2], ' '))
        |         ELSE [array_to_string(w, ' ')] END) AS s FROM t)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        len(list_distinct(a.s || b.s)) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 2 = 0""".stripMargin,

    "text_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |       CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS total_tokens,
        |       CAST(MAX(len(string_split_regex(text, '\s+'))) AS INT) AS max_tokens,
        |       min(doc_id) AS min_doc_id
        |FROM documents GROUP BY 1, 2""".stripMargin,

    // Morton-code replay: the identical magic-number bit-spread chain
    // (|<<8 &0x00FF00FF, |<<4 &0x0F0F0F0F, |<<2 &0x33333333, |<<1
    // &0x55555555) in DuckDB's BIGINT bitwise algebra — integer-exact on
    // both engines, no rounding surface.
    "layout_zorder" ->
      """WITH m AS (SELECT l_orderkey, l_linenumber,
        |  (l_partkey & 65535) AS x0, (l_suppkey & 65535) AS y0 FROM lineitem),
        |a AS (SELECT l_orderkey, l_linenumber,
        |  ((x0 | (x0 << 8)) & 16711935) AS x1,
        |  ((y0 | (y0 << 8)) & 16711935) AS y1 FROM m),
        |b AS (SELECT l_orderkey, l_linenumber,
        |  ((x1 | (x1 << 4)) & 252645135) AS x2,
        |  ((y1 | (y1 << 4)) & 252645135) AS y2 FROM a),
        |c AS (SELECT l_orderkey, l_linenumber,
        |  ((x2 | (x2 << 2)) & 858993459) AS x3,
        |  ((y2 | (y2 << 2)) & 858993459) AS y3 FROM b),
        |d AS (SELECT l_orderkey, l_linenumber,
        |  ((x3 | (x3 << 1)) & 1431655765) AS x4,
        |  ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM c)
        |SELECT l_orderkey, l_linenumber, (x4 | (y4 << 1)) AS zval FROM d""".stripMargin,

    "shuffle_shards" ->
      """WITH k AS (SELECT doc_id,
        |             md5('42#' || CAST(doc_id AS VARCHAR)) AS key
        |           FROM documents),
        |s AS (SELECT doc_id, key,
        |        CAST('0x' || substring(key, 1, 15) AS BIGINT) % 8 AS shard
        |      FROM k)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard
        |         ORDER BY key, doc_id) AS BIGINT) AS shard_pos
        |FROM s""".stripMargin,

    "text_quality" ->
      """WITH t AS (SELECT doc_id, text,
        |  len(string_split_regex(text, '\s+')) AS n,
        |  len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x IN ('the','a','of','and','to','in'))) AS stop_hits,
        |  length(text) AS chars,
        |  length(text) - length(regexp_replace(text, '[\.,;:!?]', '', 'g')) AS punct
        |  FROM documents)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  CAST(chars - (n - 1) AS DOUBLE)/n AS mean_token_len,
        |  CAST(stop_hits AS DOUBLE)/n AS stop_ratio,
        |  CAST(punct AS DOUBLE)/chars AS punct_ratio,
        |  GREATEST(0.0, LEAST(n/100.0, 1.0) * (1.0 - CAST(punct AS DOUBLE)/chars)) AS quality,
        |  CASE WHEN stop_hits >= 3 THEN 'en'
        |       WHEN length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) > length(text)/10
        |       THEN 'other' ELSE 'und' END AS lang_guess
        |FROM t""".stripMargin,

    // Trained-quality scoring replay: every feature recomputed from text
    // with the text_quality-proven arithmetic forms, logit via
    // list_dot_product against the exported weight model, keep = logit>0.
    // ONE string, two keys: the streaming gate replays the identical
    // scoring over the same weights, so it faces the same check.
    "quality_train_score" -> QUALITY_SCORE_ORACLE,
    "stream_quality_parity" -> QUALITY_SCORE_ORACLE,

    "text_clean" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text || ' contact: user@example.com or +1 (555) 123-4567 ok',
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[+]?[0-9][0-9 ()+.-]{6,}[0-9]', '<NUM>', 'g') AS cleaned
        |FROM documents""".stripMargin,

    "text_lang_confusion" ->
      """WITH t AS (SELECT doc_id, lang,
        |  len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x IN ('the','a','of','and','to','in'))) AS stop_hits,
        |  length(text) AS chars, text FROM documents)
        |SELECT lang,
        |  CASE WHEN stop_hits >= 3 THEN 'en'
        |       WHEN length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) > chars/10
        |       THEN 'other' ELSE 'und' END AS lang_guess,
        |  count(*) AS n_docs, min(doc_id) AS min_doc_id
        |FROM t GROUP BY 1, 2""".stripMargin,

    // The sketch rows compare against EXACT occurrence counts — sound
    // because the fixture vocabulary is far below the sketch cap, so
    // Misra–Gries provably never evicts (see the a34 registration note).
    // The streaming twin faces the SAME SQL: below cap the cross-batch
    // state merge is pointwise addition, so the replayed counts are exact
    // however the slices cut the corpus.
    "a34_topk_sketch" -> A34_TOPK_ORACLE,
    "stream_topk_parity" -> A34_TOPK_ORACLE,

    // Exactness-regime quantile tier (see the a35 registration): with the
    // gate's eps no GK sample ever compresses away, so each queried
    // percentile is the exact 1-based ceil(phi*n) rank sample (min/max
    // clamps at the extremes coincide with the ceil formula for these
    // phis). The rank multiply is forced through DOUBLE so both engines
    // round phi*n with the same IEEE product — a DECIMAL phi literal would
    // ceil differently exactly when the double product lands a hair above
    // an integer. ONE string, two keys: the streaming twin composes the
    // replayed minute sketches through the identical downstream, and the
    // lossless cross-batch merge makes the two legs bit-equal.
    "a35_quantile_tier" -> A35_QUANTILE_ORACLE,
    "stream_quantile_parity" -> A35_QUANTILE_ORACLE,

    // a26 + its streaming twin, band-verified (r13): exact hour NDV
    // re-derived here, estimate from each leg's export, band verdict
    // re-derived with the same arithmetic.
    "a26_hll_tier" -> hllTierBandOracle(exportGlob("a26_approx")),
    "stream_hll_parity" -> hllTierBandOracle(exportGlob("hllstream_approx")),

    // a9 band-verified (r14, the a26 technique): exact NDV and the
    // approx-median's rank re-derived here from the series; estimates
    // come from the export; both band verdicts re-derived with the same
    // integer/double arithmetic as the Spark side.
    "a9_sketch_stats" ->
      s"""WITH $SERIES,
         |ap AS (SELECT metric, approx_users, p50_approx
         |       FROM read_parquet('${exportGlob("a9_approx")}')),
         |ex AS (SELECT metric, count(DISTINCT user_id) AS exact_users,
         |         count(*) AS n FROM series GROUP BY 1),
         |rk AS (SELECT s.metric,
         |         count(CASE WHEN s.value <= ap.p50_approx THEN 1 END) AS le,
         |         count(CASE WHEN s.value < ap.p50_approx THEN 1 END) AS lt
         |       FROM series s JOIN ap ON s.metric = ap.metric GROUP BY 1)
         |SELECT ex.metric, ex.exact_users, ap.approx_users,
         |       abs(ap.approx_users - ex.exact_users) <=
         |         greatest(0.15 * ex.exact_users, 2.0) AS ndv_ok,
         |       ap.p50_approx,
         |       (rk.lt < CAST(CEIL(ex.n / 2.0) AS BIGINT) + (ex.n // 1000 + 1)
         |        AND rk.le >= CAST(CEIL(ex.n / 2.0) AS BIGINT) - (ex.n // 1000 + 1))
         |         AS p50_rank_ok
         |FROM ex JOIN ap USING (metric) JOIN rk USING (metric)""".stripMargin,

    // a9's GK leg, whole-metric grain (see the a35 note above for the
    // exactness-regime rank convention and the forced-DOUBLE multiply).
    "a9_sketch_verify" ->
      s"""WITH $SERIES,
         |w AS (SELECT metric, value,
         |        row_number() OVER (PARTITION BY metric ORDER BY value) AS rn,
         |        count(*) OVER (PARTITION BY metric) AS n
         |      FROM series)
         |SELECT metric,
         |  max(CASE WHEN rn = GREATEST(1, CAST(CEIL(CAST(0.5 AS DOUBLE)*n) AS BIGINT)) THEN value END) AS p50_sketch,
         |  max(CASE WHEN rn = GREATEST(1, CAST(CEIL(CAST(0.9 AS DOUBLE)*n) AS BIGINT)) THEN value END) AS p90_sketch,
         |  max(CASE WHEN rn = GREATEST(1, CAST(CEIL(CAST(0.99 AS DOUBLE)*n) AS BIGINT)) THEN value END) AS p99_sketch
         |FROM w GROUP BY 1""".stripMargin,

    "text_top_terms" ->
      """WITH w AS (SELECT lang, doc_id, unnest(list_distinct(string_split_regex(text, '\s+'))) AS term
        |           FROM documents),
        |f AS (SELECT lang, term, count(DISTINCT doc_id) AS doc_freq FROM w GROUP BY 1, 2),
        |r AS (SELECT lang, term, doc_freq,
        |  row_number() OVER (PARTITION BY lang ORDER BY doc_freq DESC, term) AS rk FROM f)
        |SELECT lang, rk, term, doc_freq FROM r WHERE rk <= 5""".stripMargin,

    // Mirrors chunkDocuments' start convention in integer math: starts
    // i*stride clamped to n-window, chunk count (max(n-w,0)+s-1)//s + 1.
    "text_chunk" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |nn AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM t),
        |st AS (
        |  SELECT doc_id, w, n, CAST(i AS INT) AS chunk_idx,
        |    LEAST(i * 48, GREATEST(n - 64, 0)) AS begin_token
        |  FROM nn, UNNEST(generate_series(0, (GREATEST(n - 64, 0) + 47) // 48)) AS u(i))
        |SELECT doc_id, chunk_idx, begin_token,
        |  LEAST(64, n - begin_token) AS n_tokens,
        |  array_to_string(w[begin_token + 1 : begin_token + LEAST(64, n - begin_token)], ' ') AS chunk_text
        |FROM st""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(text, '\s+')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS bpeish_tokens
        |FROM documents""".stripMargin,

    "dataset_split" ->
      """SELECT lang,
        |  CASE WHEN md5(text) < 'e6' THEN 'train' ELSE 'eval' END AS split,
        |  count(*) AS n_docs, min(doc_id) AS min_doc_id
        |FROM documents GROUP BY 1, 2""".stripMargin,

    // Full BPE training replay: base vocab rebuilt from documents with
    // the same cap/tie-break, states advanced by applying the EXPORTED
    // merges (literal delimiter-wrapped replace — identical leftmost-
    // nonoverlapping semantics in both engines), each step's argmax
    // re-derived from the replayed state. Output = the recomputed merge
    // table; equality with Spark's export means every learned rule was
    // the true argmax at its step.
    // Approx-profile error bound: exact NDV recomputed here (the real
    // check), the HLL estimate read from the export, the band verdict
    // derived from THIS engine's exact counts — agreement requires the
    // exacts to match and the estimate to sit inside the band both ways.
    // full-profile band oracle: every EXACT statistic (row/non-null
    // counts, min/max reprs, exact NDV) recomputes in SQL; the estimate
    // comes from the export; the band verdict re-derives on both sides
    "table_profile_scale" ->
      (s"""WITH a AS (SELECT col_name, n_distinct_approx
         |           FROM read_parquet('${exportGlob("tps_approx")}')),
         |n AS (SELECT count(*) AS n_rows FROM lineitem),
         |e AS (
         |""".stripMargin +
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus").map(c =>
          s"  SELECT '$c' AS col_name, count($c) AS n_nonnull, " +
            s"count(DISTINCT $c) AS exact_nd, CAST(min($c) AS VARCHAR) AS " +
            s"min_repr, CAST(max($c) AS VARCHAR) AS max_repr FROM lineitem")
          .mkString("", "\n  UNION ALL\n", ")\n") +
        """SELECT e.col_name, n.n_rows, e.n_nonnull, e.min_repr, e.max_repr,
          |       e.exact_nd, a.n_distinct_approx,
          |       abs(a.n_distinct_approx - e.exact_nd) <=
          |         greatest(0.1 * e.exact_nd, 2.0) AS bound_ok
          |FROM e CROSS JOIN n JOIN a ON e.col_name = a.col_name""".stripMargin),

    "table_profile_scale_verify" ->
      s"""WITH a AS (SELECT col_name, approx_ndv
         |           FROM read_parquet('${exportGlob("profile_approx")}')),
         |e AS (
         |  SELECT 'l_orderkey' AS col_name,
         |         count(DISTINCT l_orderkey) AS exact_ndv FROM lineitem
         |  UNION ALL SELECT 'l_partkey', count(DISTINCT l_partkey) FROM lineitem
         |  UNION ALL SELECT 'l_suppkey', count(DISTINCT l_suppkey) FROM lineitem
         |  UNION ALL SELECT 'l_linenumber', count(DISTINCT l_linenumber) FROM lineitem
         |  UNION ALL SELECT 'l_returnflag', count(DISTINCT l_returnflag) FROM lineitem
         |  UNION ALL SELECT 'l_linestatus', count(DISTINCT l_linestatus) FROM lineitem)
         |SELECT e.col_name, e.exact_ndv, a.approx_ndv,
         |       abs(a.approx_ndv - e.exact_ndv) <=
         |         greatest(0.1 * e.exact_ndv, 2.0) AS bound_ok
         |FROM e JOIN a USING (col_name)""".stripMargin,

    "bpe_train" -> bpeTrainReplaySql(exportGlob("bpe_merges")),

    // The 256-merge production-scale run replays through the IDENTICAL
    // recursion; only the glob and the word derivation differ — the
    // adjacent-bigram compound corpus is rebuilt in SQL from the same
    // whitespace split (empty tokens filtered BEFORE pairing, exactly
    // like the Spark side's filtered transform).
    "bpe_train_large" -> bpeTrainReplaySql(exportGlob("bpe_merges_large"),
      """SELECT s[i] || '_' || s[i + 1] AS word
        |         FROM (SELECT s, unnest(generate_series(1, len(s) - 1)) AS i
        |               FROM (SELECT list_filter(string_split_regex(text, '\s+'),
        |                       t -> length(t) > 0) AS s
        |                     FROM documents)
        |               WHERE len(s) >= 2)""".stripMargin),

    // Encode replay: every distinct word re-encoded from the exported
    // rules (same recursion, same replace semantics), token counts
    // joined back onto the doc word multiset.
    "bpe_encode" ->
      s"""WITH RECURSIVE
         |m AS (SELECT step, lhs, rhs FROM read_parquet('${exportGlob("bpe_merges")}')),
         |dw AS (SELECT doc_id, word FROM (
         |         SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
         |         FROM documents)
         |       WHERE length(word) > 0 AND NOT contains(word, chr(1))),
         |uw AS (SELECT DISTINCT word FROM dw),
         |st AS (
         |  SELECT 1 AS step, word,
         |         regexp_replace(word, '(.)', chr(1) || '\\1' || chr(1), 'g') AS w
         |  FROM uw
         |  UNION ALL
         |  SELECT st.step + 1, st.word,
         |         replace(st.w, chr(1) || m.lhs || chr(1) || chr(1) || m.rhs || chr(1),
         |                 chr(1) || m.lhs || m.rhs || chr(1))
         |  FROM st JOIN m ON m.step = st.step
         |),
         |fin AS (SELECT word, w FROM st
         |        WHERE step = (SELECT COALESCE(max(step), 0) + 1 FROM m)),
         |tok AS (SELECT word,
         |          len(string_split(trim(w, chr(1)), chr(1) || chr(1))) AS wt
         |        FROM fin)
         |SELECT dw.doc_id, count(*) AS n_words,
         |       CAST(SUM(length(dw.word)) AS BIGINT) AS n_chars,
         |       CAST(SUM(t.wt) AS BIGINT) AS n_tokens,
         |       CAST(SUM(length(dw.word)) AS DOUBLE) /
         |         CAST(SUM(t.wt) AS DOUBLE) AS chars_per_token
         |FROM dw JOIN tok t ON t.word = dw.word
         |GROUP BY 1""".stripMargin,

    // Cluster-keyed split replay: rebuild the planted corpus, CC-label
    // the exported near-dup edges (the neardup_groups recursion),
    // default unlabeled docs to their own id, split on md5 of the group
    // key, aggregate per split.
    "split_leakage_safe" ->
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id
         |  FROM documents WHERE doc_id % 50 = 0),
         |e0 AS (SELECT doc_a AS src, doc_b AS dst
         |       FROM read_parquet('${exportGlob("leakage_edges")}')),
         |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         |cc AS (SELECT src AS doc_id, src AS label FROM e
         |       UNION
         |       SELECT e.dst AS doc_id, cc.label
         |       FROM cc JOIN e ON e.src = cc.doc_id WHERE cc.label < e.dst),
         |lab AS (SELECT doc_id, min(label) AS label FROM cc GROUP BY doc_id),
         |g AS (SELECT d.doc_id, COALESCE(lab.label, d.doc_id) AS grp
         |      FROM docs d LEFT JOIN lab ON lab.doc_id = d.doc_id)
         |SELECT CASE WHEN md5(CAST(grp AS VARCHAR)) < 'e6'
         |            THEN 'train' ELSE 'eval' END AS split,
         |  count(*) AS n_docs, count(DISTINCT grp) AS n_groups,
         |  min(doc_id) AS min_doc_id
         |FROM g GROUP BY 1""".stripMargin,

    "doc_fingerprint" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents)
        |SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS bow_fp,
        |  list_min(list_transform(generate_series(1, GREATEST(len(w) - 2, 1)),
        |    i -> md5(array_to_string(w[i:i+2], ' ')))) AS min_shingle_fp
        |FROM t""".stripMargin,

    // SQ8 quantization replay: exact per-vector max, scale = max/127,
    // codes via the same pinned floor(x/scale + 0.5) IEEE expression.
    "embedding_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e)
        |SELECT vec_id, scale,
        |       array_to_string(CASE WHEN scale = 0
        |         THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
        |         END, ',') AS q_csv
        |FROM m""".stripMargin,

    // Quantized-retrieval replay: the same quantize, then dequantize
    // (code · scale) and brute cosine top-5 over the reconstructions —
    // identical chain to the Spark side, end to end in SQL.
    "ann_topk_quantized" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
        |dq AS (SELECT vec_id, CASE WHEN scale = 0
        |         THEN list_transform(v, x -> 0.0)
        |         ELSE list_transform(v, x -> floor(x / scale + 0.5) * scale)
        |         END AS v FROM m),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM dq WHERE vec_id < 8),
        |s AS (SELECT q_id, dq.vec_id AS c_id,
        |  list_dot_product(qv, v) /
        |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS score
        |  FROM q, dq WHERE dq.vec_id != q_id),
        |r AS (SELECT q_id, c_id, score,
        |  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rk FROM s)
        |SELECT q_id, rk, c_id, score FROM r WHERE rk <= 5""".stripMargin,

    "graph_pagerank" -> PAGERANK_ORACLE,

    // JL projection replay: every projected component recomputed as
    // list_dot_product against the exported matrix row.
    "embedding_project" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |p AS (SELECT dim_idx, pv FROM read_parquet('${exportGlob("jl_projection")}'))
         |SELECT vec_id, dim_idx, list_dot_product(v, pv) AS value
         |FROM e CROSS JOIN p""".stripMargin,

    // Snapshot-store replays: the store must preserve logical content
    // exactly, so each read surface faces the plain table it should equal.
    "snapshot_timetravel" ->
      "SELECT doc_id, lang, source FROM documents WHERE doc_id < 300",
    "snapshot_incremental" ->
      "SELECT doc_id, lang, source FROM documents WHERE doc_id >= 300",
    "snapshot_compact_read" ->
      "SELECT doc_id, lang, source FROM documents",
    "snapshot_delete" ->
      "SELECT doc_id, lang, source FROM documents WHERE lang IS DISTINCT FROM 'de'",
    "snapshot_bloom_read" ->
      "SELECT doc_id, lang, source FROM documents WHERE doc_id = 123",
    "snapshot_upsert" ->
      """SELECT doc_id, lang, source FROM documents WHERE doc_id % 10 <> 0
        |UNION ALL
        |SELECT doc_id, lang, 'patched' AS source FROM documents WHERE doc_id % 10 = 0
        |UNION ALL
        |SELECT 1000000 + r AS doc_id, 'xx' AS lang, 'inserted' AS source
        |FROM generate_series(1, 5) t(r)""".stripMargin,

    // The net (v2, v4] diff of the delete+upsert lifecycle: 'de' docs not
    // caught by the upsert report as plain deletes; every %10 doc reports
    // its original row as a delete and its patched row as an insert
    // (including the de∩%10 docs, whose delete-then-reinsert collapses to
    // exactly that same pair); the five synthetic keys are pure inserts.
    "snapshot_changes" ->
      """SELECT doc_id, lang, source, 'delete' AS _change_type
        |FROM documents WHERE lang = 'de' AND doc_id % 10 <> 0
        |UNION ALL
        |SELECT doc_id, lang, source, 'delete' AS _change_type
        |FROM documents WHERE doc_id % 10 = 0
        |UNION ALL
        |SELECT doc_id, lang, 'patched' AS source, 'insert' AS _change_type
        |FROM documents WHERE doc_id % 10 = 0
        |UNION ALL
        |SELECT 1000000 + r AS doc_id, 'xx' AS lang, 'inserted' AS source,
        |  'insert' AS _change_type
        |FROM generate_series(1, 5) t(r)""".stripMargin,

    // Data-expectations gate: one UNION leg per rule, counts replayed
    // with FILTER aggregates; rule names must match ValidationOps's
    // naming verbatim (they are compare keys).
    "data_expectations" ->
      """SELECT 'not_null(l_shipdate)' AS rule,
        |  count(*) FILTER (WHERE l_shipdate IS NULL) AS violated_rows,
        |  count(*) AS checked_rows,
        |  count(*) FILTER (WHERE l_shipdate IS NULL) = 0 AS pass
        |FROM lineitem
        |UNION ALL
        |SELECT 'in_range(l_discount, 0.0, 0.05)',
        |  count(*) FILTER (WHERE l_discount IS NOT NULL
        |                     AND (l_discount < 0.0 OR l_discount > 0.05)),
        |  count(*),
        |  count(*) FILTER (WHERE l_discount IS NOT NULL
        |                     AND (l_discount < 0.0 OR l_discount > 0.05)) = 0
        |FROM lineitem
        |UNION ALL
        |SELECT 'in_set(l_returnflag)',
        |  count(*) FILTER (WHERE l_returnflag IS NOT NULL
        |                     AND l_returnflag NOT IN ('A', 'N')),
        |  count(*),
        |  count(*) FILTER (WHERE l_returnflag IS NOT NULL
        |                     AND l_returnflag NOT IN ('A', 'N')) = 0
        |FROM lineitem
        |UNION ALL
        |SELECT 'matches_regex(l_linestatus)',
        |  count(*) FILTER (WHERE l_linestatus IS NOT NULL
        |                     AND NOT regexp_full_match(l_linestatus, '(?:[OF])')),
        |  count(*),
        |  count(*) FILTER (WHERE l_linestatus IS NOT NULL
        |                     AND NOT regexp_full_match(l_linestatus, '(?:[OF])')) = 0
        |FROM lineitem
        |UNION ALL
        |SELECT 'unique(l_orderkey, l_linenumber)',
        |  CAST(COALESCE(SUM(n) FILTER (WHERE n > 1), 0) AS BIGINT),
        |  CAST(COALESCE(SUM(n), 0) AS BIGINT),
        |  COALESCE(SUM(n) FILTER (WHERE n > 1), 0) = 0
        |FROM (SELECT count(*) AS n FROM lineitem
        |      GROUP BY l_orderkey, l_linenumber)
        |UNION ALL
        |SELECT 'ref_in(l_orderkey)',
        |  count(*) FILTER (WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
        |  count(*),
        |  count(*) FILTER (WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0
        |FROM lineitem l WHERE l_orderkey IS NOT NULL""".stripMargin,

    // Cohort retention: distinct active days per user, cohort = min day,
    // one count per (cohort, offset) cell; rate is one double division.
    "cohort_retention" ->
      s"""WITH $SERIES,
         |ud AS (SELECT DISTINCT user_id, e // 86400 AS day FROM series),
         |c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1),
         |sz AS (SELECT cohort_day, count(*) AS cohort_users FROM c GROUP BY 1),
         |j AS (SELECT c.cohort_day, ud.day - c.cohort_day AS day_offset
         |      FROM ud JOIN c ON ud.user_id = c.user_id
         |      WHERE ud.day - c.cohort_day <= 30)
         |SELECT j.cohort_day, j.day_offset, count(*) AS active_users,
         |       sz.cohort_users,
         |       CAST(count(*) AS DOUBLE) / sz.cohort_users AS retention
         |FROM j JOIN sz ON sz.cohort_day = j.cohort_day
         |GROUP BY 1, 2, sz.cohort_users""".stripMargin,

    // Funnel: EXISTS-a-chain replayed as self-joins per depth. Chain
    // times are non-decreasing; the completion window binds t_k - t_1.
    // The streaming twin shares the oracle verbatim (same counts, same
    // steps — the replay must land bit-equal).
    "funnel_steps" -> FUNNEL_ORACLE,
    "stream_funnel_parity" -> FUNNEL_ORACLE,

    // Audience overlap, exact leg: distinct-user sets per metric, pairwise
    // intersections by user equi-join, every pair present (zero-overlap
    // pairs included via the left join onto the full pair frame).
    // band oracle: exact matrix re-derived from the series, the exported
    // sketch estimates joined in, both band verdicts replayed with the
    // same arithmetic as the Spark side — estimates AND verdicts hashed
    "audience_overlap" ->
      s"""WITH $SERIES,
         |mu AS (SELECT DISTINCT metric, user_id FROM series),
         |c AS (SELECT metric, count(*) AS users FROM mu GROUP BY 1),
         |i AS (SELECT a.metric AS metric_a, b.metric AS metric_b, count(*) AS iu
         |      FROM mu a JOIN mu b ON a.user_id = b.user_id AND a.metric < b.metric
         |      GROUP BY 1, 2),
         |ex AS (SELECT ca.metric AS metric_a, cb.metric AS metric_b,
         |         ca.users AS users_a, cb.users AS users_b,
         |         CAST(COALESCE(i.iu, 0) AS BIGINT) AS inter_users,
         |         CAST(ca.users + cb.users - COALESCE(i.iu, 0) AS BIGINT)
         |           AS union_users
         |       FROM c ca JOIN c cb ON ca.metric < cb.metric
         |       LEFT JOIN i ON i.metric_a = ca.metric AND i.metric_b = cb.metric),
         |ap AS (SELECT metric_a, metric_b, est_union, est_intersection
         |       FROM read_parquet('${exportGlob("overlap_sketch")}'))
         |SELECT ex.metric_a, ex.metric_b, users_a, users_b,
         |       inter_users, union_users, est_union, est_intersection,
         |       abs(est_union - union_users) <=
         |         greatest(union_users * 0.05, 2.0) AS union_ok,
         |       abs(est_intersection - inter_users) <=
         |         greatest((users_a + users_b) * 0.10, 6.0) AS inter_ok
         |FROM ex JOIN ap USING (metric_a, metric_b)""".stripMargin,

    "audience_overlap_verify" ->
      s"""WITH $SERIES,
         |mu AS (SELECT DISTINCT metric, user_id FROM series),
         |c AS (SELECT metric, count(*) AS users FROM mu GROUP BY 1),
         |i AS (SELECT a.metric AS metric_a, b.metric AS metric_b, count(*) AS iu
         |      FROM mu a JOIN mu b ON a.user_id = b.user_id AND a.metric < b.metric
         |      GROUP BY 1, 2)
         |SELECT ca.metric AS metric_a, cb.metric AS metric_b,
         |  ca.users AS users_a, cb.users AS users_b,
         |  COALESCE(i.iu, 0) AS inter_users,
         |  ca.users + cb.users - COALESCE(i.iu, 0) AS union_users
         |FROM c ca JOIN c cb ON ca.metric < cb.metric
         |LEFT JOIN i ON i.metric_a = ca.metric AND i.metric_b = cb.metric""".stripMargin,

    // File skipping must not change results: plain filtered table.
    "snapshot_skip_read" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE doc_id BETWEEN 100 AND 220""".stripMargin,

    // IVM exactness: the incrementally-maintained view equals a
    // from-scratch rollup of the full series (decimal sums keep the
    // partial merges exact; mean is one double division on both sides).
    // The streaming-ingest twin shares the oracle verbatim.
    "rollup_view_incremental" -> ROLLUP_VIEW_ORACLE,
    "stream_rollup_view_parity" -> ROLLUP_VIEW_ORACLE,

    // CDC-apply oracle: last-writer-wins content — the batch-1 updates
    // patch the even-slice rows whose event_id % 5 = 0 (same key, same
    // metric/e, value + 1000; both engines do the identical IEEE double
    // add before the decimal cast) — rolled up from scratch.
    "stream_cdc_upsert_parity" ->
      s"""WITH $SERIES,
         |final AS (
         |  SELECT metric, e,
         |    CASE WHEN e % 3 = 0 AND event_id % 5 = 0
         |         THEN value + 1000 ELSE value END AS value
         |  FROM series
         |)
         |SELECT metric, e // 86400 AS day, count(*) AS cnt,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
         |  min(value) AS min_val, max(value) AS max_val,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS mean_val
         |FROM final GROUP BY 1, 2""".stripMargin,

    // Streamed-NDV oracle: last-writer-wins re-attribution replayed in
    // SQL (the +1e9 offset cannot collide with fixture user ids), exact
    // NDV from it, estimate from the export, band verdict re-derived.
    "stream_ndv_view_parity" ->
      s"""WITH $SERIES,
         |final AS (
         |  SELECT metric, e,
         |    CASE WHEN e % 3 = 0 AND event_id % 5 = 0
         |         THEN user_id + 1000000000 ELSE user_id END AS user_id
         |  FROM series
         |),
         |ex AS (SELECT metric, e // 86400 AS day,
         |         count(DISTINCT user_id) AS exact_users
         |       FROM final GROUP BY 1, 2),
         |ap AS (SELECT metric, day, approx_users
         |       FROM read_parquet('${exportGlob("ndvcdc_approx")}'))
         |SELECT ex.metric, ex.day, ex.exact_users, ap.approx_users,
         |       abs(ap.approx_users - ex.exact_users) <=
         |         greatest(0.05 * ex.exact_users, 2.0) AS bound_ok
         |FROM ex JOIN ap USING (metric, day)""".stripMargin,

    // MV-rewrite oracle: the same from-scratch rollup, plus used_view
    // TRUE — the rewrite must actually have served the view.
    "rollup_view_answer" ->
      s"""WITH $SERIES
         |SELECT metric, e // 86400 AS day, count(*) AS cnt,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
         |  min(value) AS min_val, max(value) AS max_val,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS mean_val,
         |  TRUE AS used_view
         |FROM series GROUP BY 1, 2""".stripMargin,

    "rollup_view_answer_hour" ->
      s"""WITH $SERIES
         |SELECT metric, e // 3600 AS hour, count(*) AS cnt,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
         |  min(value) AS min_val, max(value) AS max_val,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS mean_val,
         |  TRUE AS used_view
         |FROM series GROUP BY 1, 2""".stripMargin,

    // two-tier replay: the day rollup over the dim-restricted join's
    // FINAL state (both halves landed before the value churn, so the
    // delete strips matching rows everywhere)
    "rollup_over_join_view" ->
      s"""WITH $SERIES,
         |j AS (SELECT metric, e, value FROM series
         |      WHERE metric IN ('click', 'view', 'purchase')
         |        AND NOT (value > 150.0))
         |SELECT metric, e // 86400 AS day, count(*) AS cnt,
         |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_val,
         |  min(value) AS min_val, max(value) AS max_val
         |FROM j GROUP BY 1, 2""".stripMargin,

    // the third composition's band replay: exact distinct users per
    // (metric, day) over the final join state (three metric families,
    // the %7 user delete applied), the maintained two-tier estimate from
    // the export, band verdict re-derived on both sides
    "ndv_over_join_view" ->
      s"""WITH $SERIES,
         |j AS (SELECT metric, e, user_id FROM series
         |      WHERE metric IN ('click', 'view', 'purchase')
         |        AND NOT (user_id % 7 = 0)),
         |ex AS (SELECT metric, e // 86400 AS day,
         |         count(DISTINCT user_id) AS exact_users
         |       FROM j GROUP BY 1, 2),
         |ap AS (SELECT metric, day, approx_users
         |       FROM read_parquet('${exportGlob("vovn_approx")}'))
         |SELECT ex.metric, ex.day, ex.exact_users, ap.approx_users,
         |       abs(ap.approx_users - ex.exact_users) <=
         |         greatest(0.05 * ex.exact_users, 2.0) AS bound_ok
         |FROM ex JOIN ap USING (metric, day)""".stripMargin,

    // the second composition's replay: the full three-table join over
    // the final state (the %5 delete applied) — the two maintained tiers
    // must be indistinguishable from the from-scratch aggregate
    "agg_join_over_join_view" ->
      """SELECT n_name, c_mktsegment, count(*) AS cnt,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
        |         AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |     JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderkey % 5 != 0
        |GROUP BY 1, 2""".stripMargin,

    // Retraction-IVM oracle: a from-scratch rollup of exactly the rows
    // that survive the lifecycle — the delete fired while slices 0/1 were
    // in the store (so it strips only their matching rows), slice 2
    // arrived afterwards and survives whole.
    "rollup_view_retract" ->
      s"""WITH $SERIES,
         |final AS (
         |  SELECT metric, e, value FROM series
         |  WHERE e % 3 <= 1
         |    AND NOT (metric = 'click' OR (metric = 'view' AND e % 2 = 0))
         |  UNION ALL
         |  SELECT metric, e, value FROM series WHERE e % 3 = 2
         |)
         |SELECT metric, e // 86400 AS day, count(*) AS cnt,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
         |  min(value) AS min_val, max(value) AS max_val,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS mean_val
         |FROM final GROUP BY 1, 2""".stripMargin,

    // NDV-view oracle: the same final-content replay as rollup_view_retract
    // gives the EXACT distinct count per group; the estimate comes from the
    // Spark export (the sketch itself is not SQL-expressible), and the band
    // verdict re-derives here with the same arithmetic — an out-of-band or
    // missing group fails the hash compare.
    "ndv_rollup_answer" ->
      s"""WITH $SERIES,
         |final AS (
         |  SELECT metric, e, user_id FROM series
         |  WHERE e % 3 <= 1
         |    AND NOT (metric = 'click' OR (metric = 'view' AND e % 2 = 0))
         |  UNION ALL
         |  SELECT metric, e, user_id FROM series WHERE e % 3 = 2
         |),
         |ex AS (SELECT metric, e // 86400 AS day,
         |         count(DISTINCT user_id) AS exact_users
         |       FROM final GROUP BY 1, 2),
         |ap AS (SELECT metric, day, approx_users
         |       FROM read_parquet('${exportGlob("ndv_approx")}'))
         |SELECT ex.metric, ex.day, ex.exact_users, ap.approx_users,
         |       abs(ap.approx_users - ex.exact_users) <=
         |         greatest(0.05 * ex.exact_users, 2.0) AS bound_ok
         |FROM ex JOIN ap USING (metric, day)""".stripMargin,

    // Serving-leg oracle: both append slices together are the whole
    // series, so exact NDV derives from it directly; the estimate comes
    // from the export, and used_view must be TRUE — a declined rewrite
    // on the Spark side fails the hash here.
    "ndv_view_answer" ->
      s"""WITH $SERIES,
         |ex AS (SELECT metric, e // 86400 AS day,
         |         count(DISTINCT user_id) AS exact_users
         |       FROM series GROUP BY 1, 2),
         |ap AS (SELECT metric, day, approx_users
         |       FROM read_parquet('${exportGlob("ndva_approx")}'))
         |SELECT ex.metric, ex.day, ex.exact_users, ap.approx_users,
         |       abs(ap.approx_users - ex.exact_users) <=
         |         greatest(0.05 * ex.exact_users, 2.0) AS bound_ok,
         |       TRUE AS used_view
         |FROM ex JOIN ap USING (metric, day)""".stripMargin,

    // Fuzzy-match replay: same title derivation, same planted variants,
    // same prefix/suffix blocking union, same integer levenshtein gate.
    "fuzzy_title_pairs" ->
      """WITH t0 AS (SELECT doc_id AS id,
        |        array_to_string(string_split_regex(text, '\s+')[1:5], ' ') AS s
        |      FROM documents),
        |t AS (SELECT id, s FROM t0
        |      UNION ALL SELECT id + 2000000, 'X' || substr(s, 2)
        |        FROM t0 WHERE id % 100 = 0
        |      UNION ALL SELECT id + 2000000, s || 'q'
        |        FROM t0 WHERE id % 100 = 50),
        |b AS (SELECT id, s, 1 AS bt, substr(s, 1, 4) AS bk FROM t
        |      UNION ALL SELECT id, s, 2, substr(reverse(s), 1, 4) FROM t),
        |c AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b, a.s AS s_a, b2.s AS s_b
        |      FROM b a JOIN b b2 ON a.bt = b2.bt AND a.bk = b2.bk AND a.id < b2.id)
        |SELECT id_a, id_b, CAST(levenshtein(s_a, s_b) AS INT) AS dist
        |FROM c WHERE levenshtein(s_a, s_b) <= 2""".stripMargin,

    // Bigram-LM replay: the count tables, the smoothed rational, and the
    // exact-decimal mean all re-derive from text — generate_series(1, 0)
    // is empty, matching the Spark side's short-doc guard.
    "text_bigram_lm" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
        |uni AS (SELECT tkn, count(*) AS c1
        |        FROM (SELECT unnest(w) AS tkn FROM t) GROUP BY tkn),
        |vc AS (SELECT count(*) AS vocab FROM uni),
        |pr AS (SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS bg
        |       FROM (SELECT doc_id, w,
        |               unnest(generate_series(1, len(w) - 1)) AS i FROM t)),
        |bgc AS (SELECT bg, count(*) AS c2 FROM pr GROUP BY bg),
        |s AS (SELECT doc_id, CAST(c2 + 1 AS DOUBLE) / (c1 + vocab) AS p
        |      FROM pr JOIN bgc USING (bg)
        |           JOIN uni ON uni.tkn = pr.w1 CROSS JOIN vc)
        |SELECT doc_id,
        |  CAST(SUM(CAST(p AS DECIMAL(28,12))) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS lm_score,
        |  count(*) AS n_bigrams
        |FROM s GROUP BY doc_id""".stripMargin,

    // PQ encode replay over the exported codebook model: per (vector,
    // subspace), argmax of list_dot_product against the AUGMENTED
    // centroids (= argmin L2; the −½‖c‖² bias ships in cv_aug), ties to
    // the lower code — TopCentroids' exact contract.
    "pq_encode" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cb AS (SELECT sub_idx, code, cv_aug
         |       FROM read_parquet('${exportGlob("pq_codebook")}')),
         |sub AS (SELECT vec_id, j, list_append(list_slice(v, j*8+1, j*8+8), 1.0) AS xa
         |        FROM e CROSS JOIN (SELECT unnest(range(8)) AS j) js),
         |s AS (SELECT vec_id, j, code,
         |        row_number() OVER (PARTITION BY vec_id, j
         |          ORDER BY list_dot_product(xa, cv_aug) DESC, code) AS rk
         |      FROM sub JOIN cb ON cb.sub_idx = j)
         |SELECT vec_id, CAST(j AS INT) AS sub_idx, CAST(code AS INT) AS code
         |FROM s WHERE rk = 1""".stripMargin,

    // Full PQ retrieval replay: encode (as above), reconstruct by ordered
    // flatten of the plain centroids, approximate cosine top-15 over the
    // reconstructions, then exact cosine rerank to top-5 — stage for stage
    // the Spark chain, same scores bit-for-bit and same (score DESC, c_id)
    // tie-breaks at both cuts.
    "pq_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cb AS (SELECT sub_idx, code, cv, cv_aug
         |       FROM read_parquet('${exportGlob("pq_codebook")}')),
         |sub AS (SELECT vec_id, j, list_append(list_slice(v, j*8+1, j*8+8), 1.0) AS xa
         |        FROM e CROSS JOIN (SELECT unnest(range(8)) AS j) js),
         |enc AS (SELECT vec_id, j, code FROM (
         |          SELECT vec_id, j, code,
         |            row_number() OVER (PARTITION BY vec_id, j
         |              ORDER BY list_dot_product(xa, cv_aug) DESC, code) AS rk
         |          FROM sub JOIN cb ON cb.sub_idx = j) WHERE rk = 1),
         |recon AS (SELECT enc.vec_id, flatten(list(cb.cv ORDER BY enc.j)) AS rv
         |          FROM enc JOIN cb ON cb.sub_idx = enc.j AND cb.code = enc.code
         |          GROUP BY enc.vec_id),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
         |ap AS (SELECT q_id, r.vec_id AS c_id,
         |         list_dot_product(qv, rv) /
         |           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(rv, rv))) AS s
         |       FROM q, recon r WHERE r.vec_id != q_id),
         |cand AS (SELECT q_id, c_id FROM (SELECT q_id, c_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY s DESC, c_id) AS rk
         |         FROM ap) WHERE rk <= 15),
         |x AS (SELECT cand.q_id, cand.c_id,
         |        list_dot_product(eq.v, ec.v) /
         |          (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))) AS score
         |      FROM cand JOIN e eq ON eq.vec_id = cand.q_id
         |                JOIN e ec ON ec.vec_id = cand.c_id),
         |r AS (SELECT q_id, c_id, score,
         |        row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, c_id) AS rk FROM x)
         |SELECT q_id, rk, c_id, score FROM r WHERE rk <= 5""".stripMargin,

    // IVF-PQ replay, stage for stage: coarse argmin-L2 assignment via the
    // augmented argmax (the coarse quantizer is a 1-subspace PQ model, so
    // its oracle form is exactly pq_encode's), residual by element-wise
    // subtract against the exported coarse MEAN, residual PQ encode,
    // reconstruction = coarse + ordered flatten of residual centroids,
    // nprobe=3 L2 probing per query, approximate top-15 screen, exact
    // cosine rerank to top-5 — all scores bit-for-bit.
    "ann_topk_ivfpq" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |co AS (SELECT code AS list_id, cv, cv_aug
         |       FROM read_parquet('${exportGlob("ivfpq_coarse")}')),
         |cb AS (SELECT sub_idx, code, cv, cv_aug
         |       FROM read_parquet('${exportGlob("ivfpq_codebook")}')),
         |asg AS (SELECT vec_id, list_id FROM (
         |    SELECT e.vec_id, co.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_dot_product(list_append(e.v, 1.0), co.cv_aug) DESC,
         |                 co.list_id) AS rk
         |    FROM e CROSS JOIN co) WHERE rk = 1),
         |resid AS (SELECT e.vec_id, a.list_id,
         |    list_transform(generate_series(1, 64), i -> e.v[i] - co.cv[i]) AS r
         |  FROM e JOIN asg a ON a.vec_id = e.vec_id
         |         JOIN co ON co.list_id = a.list_id),
         |sub AS (SELECT vec_id, list_id, j,
         |    list_append(list_slice(r, j*8+1, j*8+8), 1.0) AS xa
         |  FROM resid CROSS JOIN (SELECT unnest(range(8)) AS j) js),
         |enc AS (SELECT vec_id, list_id, j, code FROM (
         |    SELECT s.vec_id, s.list_id, s.j, cb.code,
         |      row_number() OVER (PARTITION BY s.vec_id, s.j
         |        ORDER BY list_dot_product(s.xa, cb.cv_aug) DESC, cb.code) AS rk
         |    FROM sub s JOIN cb ON cb.sub_idx = s.j) WHERE rk = 1),
         |pqr AS (SELECT vec_id, list_id, flatten(list(cb.cv ORDER BY enc.j)) AS pv
         |    FROM enc JOIN cb ON cb.sub_idx = enc.j AND cb.code = enc.code
         |    GROUP BY vec_id, list_id),
         |recon AS (SELECT p.vec_id, p.list_id,
         |    list_transform(generate_series(1, 64), i -> co.cv[i] + p.pv[i]) AS rv
         |  FROM pqr p JOIN co ON co.list_id = p.list_id),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
         |probe AS (SELECT q_id, list_id FROM (
         |    SELECT q.q_id, co.list_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY list_dot_product(list_append(q.qv, 1.0), co.cv_aug) DESC,
         |                 co.list_id) AS rk
         |    FROM q CROSS JOIN co) WHERE rk <= 3),
         |ap AS (SELECT q.q_id, r.vec_id AS c_id,
         |    list_dot_product(q.qv, r.rv) /
         |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(r.rv, r.rv))) AS s
         |  FROM q JOIN probe pb ON pb.q_id = q.q_id
         |         JOIN recon r ON r.list_id = pb.list_id
         |  WHERE r.vec_id != q.q_id),
         |cand AS (SELECT q_id, c_id FROM (SELECT q_id, c_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY s DESC, c_id) AS rk
         |  FROM ap) WHERE rk <= 15),
         |x AS (SELECT cand.q_id, cand.c_id,
         |        list_dot_product(eq.v, ec.v) /
         |          (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))) AS score
         |      FROM cand JOIN e eq ON eq.vec_id = cand.q_id
         |                JOIN e ec ON ec.vec_id = cand.c_id),
         |r2 AS (SELECT q_id, c_id, score,
         |        row_number() OVER (PARTITION BY q_id
         |          ORDER BY score DESC, c_id) AS rk FROM x)
         |SELECT q_id, rk, c_id, score FROM r2 WHERE rk <= 5""".stripMargin,

    // ann_recall band-verified (r15, the a9/a26 technique): the exact
    // brute-force top-5 re-derived here (the ann_topk_brute body), the
    // approx neighbor pairs from the export, recall = hits/5 and the
    // floor verdict re-computed with the same arithmetic as the Spark
    // side. count(ap.c_id) counts only matched (non-null) hits.
    "ann_recall" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
         |s AS (SELECT q_id, e.vec_id AS c_id,
         |  list_dot_product(qv, v) /
         |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS score
         |  FROM q, e WHERE e.vec_id != q_id),
         |ex AS (SELECT q_id, c_id FROM (
         |  SELECT q_id, c_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rk
         |  FROM s) WHERE rk <= 5),
         |ap AS (SELECT method, q_id, c_id
         |       FROM read_parquet('${exportGlob("ann_approx")}')),
         |m AS (SELECT DISTINCT method FROM ap),
         |g AS (SELECT m.method, ex.q_id,
         |        count(ap.c_id) AS hits, count(*) AS slots
         |      FROM ex CROSS JOIN m
         |      LEFT JOIN ap ON ap.method = m.method AND ap.q_id = ex.q_id
         |                  AND ap.c_id = ex.c_id
         |      GROUP BY 1, 2)
         |SELECT method, q_id,
         |  CAST(hits AS DOUBLE) / CAST(slots AS DOUBLE) AS recall,
         |  SUM(hits) OVER (PARTITION BY method) >=
         |    CASE WHEN method = 'lsh' THEN 1 ELSE 20 END AS recall_ok
         |FROM g""".stripMargin,

    "ann_topk_brute" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
        |s AS (SELECT q_id, e.vec_id AS c_id,
        |  list_dot_product(qv, v) /
        |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS score
        |  FROM q, e WHERE e.vec_id != q_id),
        |r AS (SELECT q_id, c_id, score,
        |  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rk FROM s)
        |SELECT q_id, rk, c_id, score FROM r WHERE rk <= 5""".stripMargin,

    // Audio round trip: canonical 44-byte header + 2 bytes/sample, the
    // planted count n = 400 + id%600, and 125 us/sample (1e6/8000 exact).
    "audio_meta" ->
      """SELECT doc_id,
        |  CAST(44 + 2 * (400 + doc_id % 600) AS INTEGER) AS byte_len,
        |  8000 AS sample_rate, 1 AS channels, 16 AS bits,
        |  CAST(400 + doc_id % 600 AS INTEGER) AS n_samples,
        |  CAST((400 + doc_id % 600) * 125 AS BIGINT) AS duration_us
        |FROM documents""".stripMargin,

    // Window energies replayed from the planted sample formula
    // v(i) = (id*31 + i*7) % 4096 - 2048 — exact BIGINT arithmetic on
    // both sides; the Spark leg computes from the DECODED bytes. The
    // streaming twin shares the oracle verbatim.
    "stream_audio_parity" -> AUDIO_ENERGY_ORACLE,

    // Video header replay: every field is closed-form in doc_id, and
    // byte_len pins the encoder's exact RIFF tree (12-byte RIFF head +
    // 200-byte hdrl + 12-byte movi head + per-frame 8-byte chunk heads
    // with word alignment) — a layout drift breaks the hash.
    "video_meta" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(4 + doc_id % 5 AS INTEGER) AS width,
        |  CAST(3 + doc_id % 4 AS INTEGER) AS height,
        |  CAST(3 + doc_id % 6 AS INTEGER) AS n_frames,
        |  CAST(20000 + (doc_id % 5) * 20000 AS INTEGER) AS us_per_frame
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(224 + n_frames * (8 + width*height*3 + (width*height*3) % 2)
        |       AS INTEGER) AS byte_len,
        |  width, height, n_frames, us_per_frame,
        |  CAST(n_frames AS BIGINT) * us_per_frame AS duration_us
        |FROM d""".stripMargin,

    // Frame features replayed from the planted byte formula
    // v(doc,f,i) = (doc*13 + f*17 + i*5) % 251 over every-2nd-frame
    // samples — exact integer arithmetic both sides; the Spark leg walks
    // the REAL container to find each frame's byte extent first. The
    // streaming twin shares the oracle verbatim.
    "video_frame_sample" -> VIDEO_FRAME_ORACLE,
    "stream_video_parity" -> VIDEO_FRAME_ORACLE,
    "audio_energy" -> AUDIO_ENERGY_ORACLE,

    "multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |       md5(text) AS payload_md5
        |FROM documents""".stripMargin,

    // Real-codec round trip: the oracle recomputes the planted dims
    // (w = 8 + id%57, h = 8 + (id/57)%57), channel plan (JPEG id%3==0 →
    // 3 comps; PNG even→gray, odd→RGB) and the exact container sizes —
    // JPEG header stream is 41 bytes, stored-block PNG is
    // 68 + h·(1 + w·ch) bytes — independently of the Scala encoder.
    "multimodal_decode" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(8 + doc_id % 57 AS INTEGER) AS w,
        |  CAST(8 + (doc_id // 57) % 57 AS INTEGER) AS h,
        |  CASE WHEN doc_id % 3 = 0 THEN 3
        |       WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 41
        |            ELSE 68 + h * (1 + w * ch) END AS INTEGER) AS byte_len,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image/jpeg' ELSE 'image/png' END AS format,
        |  w AS width, h AS height, CAST(ch AS INTEGER) AS channels
        |FROM d""".stripMargin,

    // Frame geometry for the PNG docs: frames at pixel rows 0,8,16,...
    // capped at 8, each one w·ch bytes wide.
    "multimodal_frames" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(8 + doc_id % 57 AS INTEGER) AS w,
        |  CAST(8 + (doc_id // 57) % 57 AS INTEGER) AS h,
        |  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
        |  FROM documents WHERE doc_id % 3 <> 0)
        |SELECT doc_id,
        |  CAST(unnest(generate_series(0, least(7, (h - 1) // 8))) AS INTEGER) AS frame_idx,
        |  CAST(w * ch AS INTEGER) AS frame_len
        |FROM d""".stripMargin,

    // Thumbnail contract for the PNG docs: source dims/channels survive,
    // output is a 16x16 stored-block PNG → 68 + 16·(1 + 16·ch) bytes.
    "multimodal_resize" ->
      """SELECT doc_id,
        |  CAST(8 + doc_id % 57 AS INTEGER) AS src_width,
        |  CAST(8 + (doc_id // 57) % 57 AS INTEGER) AS src_height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INTEGER) AS channels,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 340 ELSE 852 END AS INTEGER) AS thumb_len
        |FROM documents WHERE doc_id % 3 <> 0""".stripMargin,

    "text_repetition" ->
      """WITH t AS (SELECT doc_id, length(text) AS chars,
        |                  string_split_regex(text, '\s+') AS w FROM documents),
        |g2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-1),
        |                 i -> array_to_string(w[i:i+1], ' '))) AS g FROM t),
        |c2 AS (SELECT doc_id, g, count(*) AS f FROM g2 GROUP BY 1, 2),
        |top2 AS (SELECT doc_id, g, f,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY f DESC, g) AS rk FROM c2),
        |g5 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-4),
        |                 i -> array_to_string(w[i:i+4], ' '))) AS g FROM t),
        |c5 AS (SELECT doc_id,
        |         CAST(SUM(CASE WHEN f >= 2 THEN f * length(g) ELSE 0 END) AS BIGINT) AS dup_chars
        |       FROM (SELECT doc_id, g, count(*) AS f FROM g5 GROUP BY 1, 2) GROUP BY 1)
        |SELECT t.doc_id,
        |  COALESCE(p.g, '') AS top_2gram,
        |  CAST(COALESCE(p.f, 0) AS INT) AS top_2gram_freq,
        |  CAST(COALESCE(p.f * length(p.g), 0) AS DOUBLE) / t.chars AS top_2gram_frac,
        |  CAST(COALESCE(c5.dup_chars, 0) AS DOUBLE) / t.chars AS dup_5gram_frac
        |FROM t
        |LEFT JOIN (SELECT * FROM top2 WHERE rk = 1) p USING (doc_id)
        |LEFT JOIN c5 USING (doc_id)""".stripMargin,

    "text_dup_spans" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 5
        |        THEN list_transform(generate_series(1, len(w)-4),
        |                            i -> array_to_string(w[i:i+4], ' '))
        |        ELSE [array_to_string(w, ' ')] END)) AS gram FROM t)
        |SELECT gram, count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM g GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY n_docs DESC, gram LIMIT 20""".stripMargin,

    // Duplicated-passage removal: token/gram position algebra replayed in
    // list comprehensions — coverage = union of [start, start+span) over
    // duplicated-gram occurrences (span = 5, or the whole doc for the
    // short-doc shingle fallback); survivors string_agg in position order.
    "text_strip_dup_spans" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
        |tok AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)),
        |          i -> {'pos': i-1, 'tok': w[i]}), recursive := true) FROM t),
        |g0 AS (SELECT doc_id, len(w) AS nw, unnest(CASE WHEN len(w) >= 5
        |         THEN list_transform(generate_series(1, len(w)-4),
        |                i -> {'start': i-1, 'gram': array_to_string(w[i:i+4], ' ')})
        |         ELSE [{'start': 0, 'gram': array_to_string(w, ' ')}] END,
        |         recursive := true) FROM t),
        |g AS (SELECT doc_id, start, gram, LEAST(5, nw) AS span FROM g0),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT doc_id, pos FROM (
        |          SELECT g.doc_id, g.start + unnest(range(g.span)) AS pos
        |          FROM g JOIN dup USING (gram))),
        |kept AS (SELECT tok.doc_id, tok.pos, tok.tok, cov.pos IS NULL AS keep
        |         FROM tok LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.pos = tok.pos)
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       COALESCE(string_agg(CASE WHEN keep THEN tok END, ' ' ORDER BY pos), '') AS clean_text
        |FROM kept GROUP BY doc_id""".stripMargin,

    // Composition oracle: the same three proven stage bodies (strip →
    // vocab-on-clean → encode) chained as CTEs. A doc stripped to nothing
    // re-tokenizes as one empty token (split semantics both sides), which
    // the encode maps to OOV — covered by the fully-stripped fixture docs.
    "pipeline_tokenize" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
        |stok AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)),
        |          i -> {'pos': i-1, 'tok': w[i]}), recursive := true) FROM t),
        |g0 AS (SELECT doc_id, len(w) AS nw, unnest(CASE WHEN len(w) >= 5
        |         THEN list_transform(generate_series(1, len(w)-4),
        |                i -> {'start': i-1, 'gram': array_to_string(w[i:i+4], ' ')})
        |         ELSE [{'start': 0, 'gram': array_to_string(w, ' ')}] END,
        |         recursive := true) FROM t),
        |g AS (SELECT doc_id, start, gram, LEAST(5, nw) AS span FROM g0),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT doc_id, pos FROM (
        |          SELECT g.doc_id, g.start + unnest(range(g.span)) AS pos
        |          FROM g JOIN dup USING (gram))),
        |cleaned AS (SELECT stok.doc_id,
        |       COALESCE(string_agg(CASE WHEN cov.pos IS NULL THEN stok.tok END,
        |                           ' ' ORDER BY stok.pos), '') AS text
        |       FROM stok LEFT JOIN cov ON cov.doc_id = stok.doc_id AND cov.pos = stok.pos
        |       GROUP BY stok.doc_id),
        |ct AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM cleaned),
        |tok AS (SELECT unnest(w) AS tok FROM ct),
        |v0 AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
        |v AS (SELECT tok, row_number() OVER (ORDER BY n DESC, tok) - 1 AS token_id
        |      FROM v0 ORDER BY n DESC, tok LIMIT 20),
        |e AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)),
        |        i -> {'pos': i-1, 'tok': w[i]}), recursive := true) FROM ct),
        |j AS (SELECT e.doc_id, e.pos, COALESCE(v.token_id, -1) AS id
        |      FROM e LEFT JOIN v ON v.tok = e.tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids_csv
        |FROM j GROUP BY doc_id""".stripMargin,

    "length_filter" ->
      """WITH t AS (SELECT doc_id,
        |             CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |b AS (SELECT quantile_cont(n_tokens, 0.1) AS lo,
        |             quantile_cont(n_tokens, 0.9) AS hi FROM t)
        |SELECT doc_id, n_tokens FROM t, b
        |WHERE n_tokens >= lo AND n_tokens <= hi""".stripMargin,

    "text_vocab" ->
      """WITH t AS (SELECT string_split_regex(text, '\s+') AS w FROM documents),
        |tok AS (SELECT unnest(w) AS tok FROM t),
        |v0 AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok)
        |SELECT row_number() OVER (ORDER BY n DESC, tok) - 1 AS token_id, tok, n
        |FROM v0 ORDER BY n DESC, tok LIMIT 20""".stripMargin,

    // Token-id encoding replay: DuckDB refits the same top-20 vocabulary
    // (same total order), explodes tokens WITH positions, joins ids, and
    // reassembles the CSV in position order — OOV = -1 on both sides.
    "text_encode_ids" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
        |tok AS (SELECT unnest(w) AS tok FROM t),
        |v0 AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
        |v AS (SELECT tok, row_number() OVER (ORDER BY n DESC, tok) - 1 AS token_id
        |      FROM v0 ORDER BY n DESC, tok LIMIT 20),
        |e AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)),
        |        i -> {'pos': i-1, 'tok': w[i]}), recursive := true) FROM t),
        |j AS (SELECT e.doc_id, e.pos, COALESCE(v.token_id, -1) AS id
        |      FROM e LEFT JOIN v ON v.tok = e.tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids_csv
        |FROM j GROUP BY doc_id""".stripMargin,

    "decontaminate" ->
      """WITH t AS (SELECT doc_id,
        |             CASE WHEN md5(text) < 'e6' THEN 'train' ELSE 'eval' END AS split,
        |             string_split_regex(text, '\s+') AS w FROM documents),
        |g AS (SELECT doc_id, split, unnest(list_distinct(CASE WHEN len(w) >= 8
        |        THEN list_transform(generate_series(1, len(w)-7),
        |                            i -> array_to_string(w[i:i+7], ' '))
        |        ELSE [array_to_string(w, ' ')] END)) AS gram FROM t),
        |e AS (SELECT DISTINCT gram FROM g WHERE split = 'eval')
        |SELECT doc_id, count(*) AS n_shared_grams
        |FROM g JOIN e USING (gram) WHERE split = 'train' GROUP BY 1""".stripMargin,

    "quota_per_source" ->
      """WITH r AS (SELECT source, doc_id,
        |  row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rk
        |  FROM documents)
        |SELECT source, rk, doc_id FROM r WHERE rk <= 10""".stripMargin,

    "embedding_norms" ->
      """SELECT vec_id, label,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                        CAST(embedding AS DOUBLE[]))) AS l2_norm
        |FROM embeddings""".stripMargin,

    // Centroid cohesion replay: same integer quantization (scale-0 round
    // is the portable op), same exact per-(label, dim) sums, same pinned
    // dot-product fold, same final double expression order.
    "embedding_dispersion" ->
      """WITH q AS (SELECT vec_id, label,
        |        list_transform(CAST(embedding AS DOUBLE[]),
        |                       x -> round(x * 1000000.0)) AS xv
        |      FROM embeddings),
        |c0 AS (SELECT label, generate_subscripts(xv, 1) AS dim, unnest(xv) AS x FROM q),
        |c1 AS (SELECT label, dim, SUM(x) AS s FROM c0 GROUP BY 1, 2),
        |cent AS (SELECT label, list(s ORDER BY dim) AS cv FROM c1 GROUP BY label),
        |d AS (SELECT q.vec_id, q.label,
        |        list_dot_product(q.xv, q.xv) AS dxx,
        |        list_dot_product(cent.cv, cent.cv) AS dcc,
        |        list_dot_product(q.xv, cent.cv) AS dxc
        |      FROM q JOIN cent ON q.label = cent.label)
        |SELECT vec_id, label,
        |  CASE WHEN dxx > 0 AND dcc > 0
        |       THEN dxc / (sqrt(dxx) * sqrt(dcc)) END AS cos_centroid,
        |  coalesce(CASE WHEN dxx > 0 AND dcc > 0
        |       THEN dxc / (sqrt(dxx) * sqrt(dcc)) END < 0.05, TRUE) AS is_outlier
        |FROM d""".stripMargin,

    "q18_big_orders" ->
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |             FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150)
        |SELECT c_name, c_custkey, o_orderkey, o_totalprice AS total_price, sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_price DESC, o_orderkey LIMIT 20""".stripMargin,

    "text_bm25" -> BM25_ORACLE,

    // Index-served BM25 must equal the full scan bit-for-bit — ONE oracle
    // string, two registry keys (the ROLLUP_TIER_ORACLE pattern).
    "search_index_bm25" -> BM25_ORACLE,

    "search_index_and" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents)
        |SELECT doc_id FROM t
        |WHERE len(list_filter(w, x -> x = 'spark')) > 0
        |  AND len(list_filter(w, x -> x = 'data')) > 0""".stripMargin,

    // Positional replay: 1-based subscripts vs the index's 0-based
    // positions cancel in the anchor arithmetic (both legs shift).
    "search_index_phrase" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS term, generate_subscripts(w, 1) AS pos FROM t),
        |l0 AS (SELECT doc_id, pos AS anchor FROM tok WHERE term = 'table'),
        |l1 AS (SELECT doc_id, pos - 1 AS anchor FROM tok WHERE term = 'value')
        |SELECT doc_id, count(*) AS nhits
        |FROM l0 JOIN l1 USING (doc_id, anchor) GROUP BY 1""".stripMargin,

    "search_index_delete" -> bm25Oracle(" WHERE doc_id % 7 != 3"),

    "search_index_topk" ->
      bm25RankOracle(Seq("data", "vector", "nosuchterm"), 10),

    "search_index_andnot" ->
      bm25RankOracle(Seq("data", "vector"), 10, exclude = Seq("spark")),

    "search_index_update" -> bm25Oracle("",
      "CASE WHEN doc_id % 9 = 4 THEN text || ' spark' ELSE text END"),

    "stream_search_index_parity" -> BM25_ORACLE,

    "search_index_lifecycle" -> bm25Oracle(" WHERE doc_id % 5 != 2"),

    "join_view_answer" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       l_linenumber, l_partkey, l_quantity
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey % 7 != 3""".stripMargin,

    "stream_join_view_parity" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       l_linenumber, l_partkey, l_quantity
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin,

    "join_view_serve" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       l_linenumber, l_partkey, l_quantity, TRUE AS used_view
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    // (l_orderkey, l_linenumber) is NOT unique in the fixture (45832
    // distinct of 60000 at sf0.01) — the oracle replays the actual
    // multiset join, duplicate key groups cross-producting exactly as
    // the view maintains them.
    "join_view_composite" ->
      """WITH lf AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |                   l_extendedprice
        |            FROM lineitem
        |            WHERE l_orderkey % 4 = 1 AND l_quantity <= 45.0),
        |rf AS (SELECT l_orderkey AS r_orderkey,
        |              l_linenumber AS r_linenumber,
        |              l_returnflag, l_discount
        |       FROM lineitem WHERE l_orderkey % 4 = 1)
        |SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |       l_returnflag, l_discount
        |FROM lf JOIN rf ON l_orderkey = r_orderkey
        |                AND l_linenumber = r_linenumber""".stripMargin,

    // the final source states replayed in SQL: customers minus the
    // churned slice, LEFT JOIN orders minus the deleted slice — null
    // rows (c with no surviving o) included under the same hash
    "join_view_outer" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |           WHERE c_custkey % 11 != 7),
        |o AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |      WHERE o_orderkey % 5 != 0)
        |SELECT c_custkey, c_mktsegment, c_acctbal,
        |       o_orderkey, o_custkey, o_totalprice
        |FROM c LEFT JOIN o ON c_custkey = o_custkey""".stripMargin,

    "join_view_outer_serve" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |       o_orderkey, o_custkey, o_totalprice, TRUE AS used_view
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |WHERE c_mktsegment = 'BUILDING'""".stripMargin,

    "stream_join_view_outer_parity" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |       o_orderkey, o_custkey, o_totalprice
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey""".stripMargin,

    // the final source states replayed in SQL: customers minus the
    // churned slice FULL JOIN orders minus the deleted slice — null rows
    // on BOTH sides (c with no surviving o, o whose c churned out)
    // included under the same hash
    "join_view_full_outer" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |           WHERE c_custkey % 11 != 7),
        |o AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |      WHERE o_orderkey % 5 != 0)
        |SELECT c_custkey, c_mktsegment, c_acctbal,
        |       o_orderkey, o_custkey, o_totalprice
        |FROM c FULL JOIN o ON c_custkey = o_custkey""".stripMargin,

    "stream_join_view_full_parity" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |       o_orderkey, o_custkey, o_totalprice
        |FROM customer FULL JOIN orders ON c_custkey = o_custkey""".stripMargin,

    "join_view_full_serve" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |           WHERE c_custkey % 11 != 7)
        |SELECT c_custkey, c_mktsegment, c_acctbal,
        |       o_orderkey, o_custkey, o_totalprice, TRUE AS used_view
        |FROM c FULL JOIN orders ON c_custkey = o_custkey""".stripMargin,

    // the surviving source states' join re-aggregated in SQL — the
    // star-schema MV's content after bootstrap, both deltas, the
    // arithmetic churn retraction, and a compaction
    "agg_join_view_answer" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment FROM customer
        |           WHERE c_custkey % 11 != 7),
        |o AS (SELECT o_custkey, o_orderstatus, o_totalprice FROM orders
        |      WHERE o_orderkey % 5 != 0)
        |SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
        |         AS revenue
        |FROM c JOIN o ON c_custkey = o_custkey
        |GROUP BY 1, 2""".stripMargin,

    "agg_join_view_extents" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment FROM customer
        |           WHERE c_custkey % 11 != 7),
        |o AS (SELECT o_custkey, o_orderstatus, o_totalprice FROM orders
        |      WHERE o_orderkey % 2 = 0 AND NOT (o_totalprice > 400000.0))
        |SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
        |         AS revenue,
        |       min(o_totalprice) AS min_price,
        |       max(o_totalprice) AS max_price
        |FROM c JOIN o ON c_custkey = o_custkey
        |GROUP BY 1, 2""".stripMargin,

    // avg replay: Spark's avg(DECIMAL(18,2)) rounds HALF_UP at scale 6
    // (through a scale-12 intermediate — equivalent to direct scale-6
    // rounding whenever cnt ≤ 10^6, since the value's distance to a
    // half-boundary is 0 or ≥ 1/(2·cnt); group counts here are orders of
    // magnitude below that). Replayed in EXACT integer micro-units:
    // cents = per-value half-up cast (the sum oracles' contract),
    // micro = round_half_up(cents·10^4 / cnt) = (2x + y) // (2y), and
    // micro/1e6 is the same correctly-rounded double Spark's
    // decimal(22,6) → double cast produces.
    "agg_join_view_serve" ->
      """SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
        |         AS revenue,
        |       CAST((2 * SUM(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
        |                     AS HUGEINT)) * 10000 + count(*))
        |            // (2 * count(*)) AS DOUBLE) / 1000000.0 AS avg_price,
        |       TRUE AS used_view
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2""".stripMargin,

    "stream_agg_join_view_parity" ->
      """SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
        |         AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1, 2""".stripMargin,

    "stream_agg_join_extents_parity" ->
      """SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
        |         AS revenue,
        |       min(o_totalprice) AS min_price,
        |       max(o_totalprice) AS max_price
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1, 2""".stripMargin,

    "agg_join_view_stale_serve" ->
      """SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue,
        |       TRUE AS used_view
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1, 2""".stripMargin,

    // multi-way MV lifecycle replay: the fact's final state is slices
    // 0/1 minus the quantity delete plus the late slice 2 (the delete
    // ran before slice 2 landed, so slice 2's heavy rows SURVIVE);
    // supplier's final state applies the upsert as a CASE; dims replay
    // whole. The 5-way GROUP BY over that state is the view's content.
    "agg_join_view_multiway" ->
      """WITH f AS (SELECT l_orderkey, l_partkey, l_suppkey, l_extendedprice
        |           FROM lineitem
        |           WHERE l_orderkey % 4 = 0
        |             AND (l_orderkey % 3 = 2 OR NOT (l_quantity > 45))),
        |s AS (SELECT s_suppkey,
        |             CASE WHEN s_suppkey % 10 = 0 THEN 0
        |                  ELSE s_nationkey END AS s_nationkey
        |      FROM supplier)
        |SELECT n_name, o_orderpriority, count(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE)
        |         AS revenue
        |FROM f JOIN part ON l_partkey = p_partkey
        |       JOIN s ON l_suppkey = s_suppkey
        |       JOIN nation ON s_nationkey = n_nationkey
        |       JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin,

    // extents replay: the delete ran after both fact slices landed, so
    // the surviving fact is the eighth-universe minus the heavy rows
    "agg_join_view_multiway_extents" ->
      """WITH f AS (SELECT l_orderkey, l_partkey, l_suppkey, l_extendedprice
        |           FROM lineitem
        |           WHERE l_orderkey % 8 = 0
        |             AND NOT (l_extendedprice > 80000.0))
        |SELECT n_name, o_orderpriority, count(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE)
        |         AS revenue,
        |       min(l_extendedprice) AS min_price,
        |       max(l_extendedprice) AS max_price
        |FROM f JOIN part ON l_partkey = p_partkey
        |       JOIN supplier ON l_suppkey = s_suppkey
        |       JOIN nation ON s_nationkey = n_nationkey
        |       JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin,

    "stream_agg_join_multiway_parity" ->
      """SELECT n_name, o_orderpriority, count(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE)
        |         AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |       JOIN supplier ON l_suppkey = s_suppkey
        |       JOIN nation ON s_nationkey = n_nationkey
        |       JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_orderkey % 2 = 0
        |GROUP BY 1, 2""".stripMargin,

    // the avg replay follows agg_join_view_serve's exact integer
    // micro-unit derivation (see its comment)
    "agg_join_view_multiway_serve" ->
      """SELECT n_name, o_orderpriority, count(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE)
        |         AS revenue,
        |       CAST((2 * SUM(CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100
        |                     AS HUGEINT)) * 10000 + count(*))
        |            // (2 * count(*)) AS DOUBLE) / 1000000.0 AS avg_price,
        |       TRUE AS used_view
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |       JOIN supplier ON l_suppkey = s_suppkey
        |       JOIN nation ON s_nationkey = n_nationkey
        |       JOIN orders ON l_orderkey = o_orderkey
        |WHERE n_name != 'CHINA'
        |GROUP BY 1, 2""".stripMargin,

    // ndv-over-join lifecycle replay: exact distinct customers per
    // (segment, status) over the surviving orders (the %7 delete), the
    // estimate from the export, band verdict re-derived on both sides
    "agg_join_view_ndv" ->
      s"""WITH o AS (SELECT o_custkey, o_orderstatus FROM orders
         |           WHERE o_orderkey % 7 != 0),
         |ex AS (SELECT c_mktsegment, o_orderstatus,
         |         count(DISTINCT o_custkey) AS exact_users
         |       FROM customer JOIN o ON c_custkey = o_custkey
         |       GROUP BY 1, 2),
         |ap AS (SELECT c_mktsegment, o_orderstatus, approx_users
         |       FROM read_parquet('${exportGlob("ajn_approx")}'))
         |SELECT ex.c_mktsegment, ex.o_orderstatus, ex.exact_users,
         |       ap.approx_users,
         |       abs(ap.approx_users - ex.exact_users) <=
         |         greatest(0.05 * ex.exact_users, 2.0) AS bound_ok
         |FROM ex JOIN ap USING (c_mktsegment, o_orderstatus)""".stripMargin,

    "agg_join_view_ndv_serve" ->
      s"""WITH ex AS (SELECT c_mktsegment, o_orderstatus,
         |         count(DISTINCT o_custkey) AS exact_users
         |       FROM customer JOIN orders ON c_custkey = o_custkey
         |       GROUP BY 1, 2),
         |ap AS (SELECT c_mktsegment, o_orderstatus, approx_users
         |       FROM read_parquet('${exportGlob("ajns_approx")}'))
         |SELECT ex.c_mktsegment, ex.o_orderstatus, ex.exact_users,
         |       ap.approx_users,
         |       abs(ap.approx_users - ex.exact_users) <=
         |         greatest(0.05 * ex.exact_users, 2.0) AS bound_ok,
         |       TRUE AS used_view
         |FROM ex JOIN ap USING (c_mktsegment, o_orderstatus)""".stripMargin,

    // ndv-over-TREE lifecycle replay: exact distinct customers per
    // (nation, status) over the surviving orders (the %7 delete ran
    // after every third landed) against the upserted customers (the %10
    // nation move), the estimate from the export, band verdict
    // re-derived on both sides
    "agg_join_view_multiway_ndv" ->
      s"""WITH o AS (SELECT o_custkey, o_orderstatus FROM orders
         |           WHERE o_orderkey % 4 = 0 AND o_orderkey % 7 != 0),
         |c AS (SELECT c_custkey,
         |             CASE WHEN c_custkey % 10 = 0 THEN 0
         |                  ELSE c_nationkey END AS c_nationkey
         |      FROM customer),
         |ex AS (SELECT n_name, o_orderstatus,
         |         count(DISTINCT o_custkey) AS exact_users
         |       FROM o JOIN c ON o_custkey = c_custkey
         |              JOIN nation ON c_nationkey = n_nationkey
         |       GROUP BY 1, 2),
         |ap AS (SELECT n_name, o_orderstatus, approx_users
         |       FROM read_parquet('${exportGlob("mjn_approx")}'))
         |SELECT ex.n_name, ex.o_orderstatus, ex.exact_users,
         |       ap.approx_users,
         |       abs(ap.approx_users - ex.exact_users) <=
         |         greatest(0.05 * ex.exact_users, 2.0) AS bound_ok
         |FROM ex JOIN ap USING (n_name, o_orderstatus)""".stripMargin,

    "agg_join_view_multiway_ndv_serve" ->
      s"""WITH ex AS (SELECT n_name, o_orderstatus,
         |         count(DISTINCT o_custkey) AS exact_users
         |       FROM orders JOIN customer ON o_custkey = c_custkey
         |              JOIN nation ON c_nationkey = n_nationkey
         |       GROUP BY 1, 2),
         |ap AS (SELECT n_name, o_orderstatus, approx_users
         |       FROM read_parquet('${exportGlob("mjns_approx")}'))
         |SELECT ex.n_name, ex.o_orderstatus, ex.exact_users,
         |       ap.approx_users,
         |       abs(ap.approx_users - ex.exact_users) <=
         |         greatest(0.05 * ex.exact_users, 2.0) AS bound_ok,
         |       TRUE AS used_view
         |FROM ex JOIN ap USING (n_name, o_orderstatus)""".stripMargin,

    // the stale n-way ndv serve: exact distinct customers over the FULL
    // post-gap tree (the %3 fact complement and the >=20 nations landed
    // without a refresh), the compensated estimate from the export,
    // band verdict re-derived; used_view TRUE pins the compensated plan
    "agg_join_view_multiway_ndv_stale" ->
      s"""WITH ex AS (SELECT n_name, o_orderstatus,
         |         count(DISTINCT o_custkey) AS exact_users
         |       FROM orders JOIN customer ON o_custkey = c_custkey
         |              JOIN nation ON c_nationkey = n_nationkey
         |       GROUP BY 1, 2),
         |ap AS (SELECT n_name, o_orderstatus, approx_users
         |       FROM read_parquet('${exportGlob("mjnt_approx")}'))
         |SELECT ex.n_name, ex.o_orderstatus, ex.exact_users,
         |       ap.approx_users,
         |       abs(ap.approx_users - ex.exact_users) <=
         |         greatest(0.05 * ex.exact_users, 2.0) AS bound_ok,
         |       TRUE AS used_view
         |FROM ex JOIN ap USING (n_name, o_orderstatus)""".stripMargin,

    // the streamed ndv-join parity: exact distinct customers per
    // (segment, status) over the dripped half of orders, the stream-grown
    // estimate from the export, band verdict re-derived on both sides
    "stream_agg_join_ndv_parity" ->
      s"""WITH o AS (SELECT o_custkey, o_orderstatus FROM orders
         |           WHERE o_orderkey % 2 = 0),
         |ex AS (SELECT c_mktsegment, o_orderstatus,
         |         count(DISTINCT o_custkey) AS exact_users
         |       FROM customer JOIN o ON c_custkey = o_custkey
         |       GROUP BY 1, 2),
         |ap AS (SELECT c_mktsegment, o_orderstatus, approx_users
         |       FROM read_parquet('${exportGlob("sajn_approx")}'))
         |SELECT ex.c_mktsegment, ex.o_orderstatus, ex.exact_users,
         |       ap.approx_users,
         |       abs(ap.approx_users - ex.exact_users) <=
         |         greatest(0.05 * ex.exact_users, 2.0) AS bound_ok
         |FROM ex JOIN ap USING (c_mktsegment, o_orderstatus)""".stripMargin,

    // the leaf-drip parity faces the full 5-way join over the quartered
    // fact — the dripped nation slices must converge to all 25 nations
    "stream_agg_join_multiway_dim_parity" ->
      """SELECT n_name, o_orderpriority, count(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE)
        |         AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |       JOIN supplier ON l_suppkey = s_suppkey
        |       JOIN nation ON s_nationkey = n_nationkey
        |       JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_orderkey % 4 = 0
        |GROUP BY 1, 2""".stripMargin,

    // delta-compensated N-way serving: the answer faces the CURRENT
    // sources (full fact, all 25 nations); used_view TRUE pins the plan
    // kept the maintained view
    "agg_join_view_multiway_stale" ->
      """SELECT n_name, o_orderpriority, count(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue,
        |       TRUE AS used_view
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |       JOIN supplier ON l_suppkey = s_suppkey
        |       JOIN nation ON s_nationkey = n_nationkey
        |       JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_orderkey % 4 = 0
        |GROUP BY 1, 2""".stripMargin,

    // delta-compensated serving: the answer is the CURRENT sources'
    // join (the view lags, the compensation closes the gap exactly);
    // used_view TRUE pins that the plan still read the maintained view
    "join_view_stale_serve" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       l_linenumber, l_partkey, l_quantity, TRUE AS used_view
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin,

    // the full current ⟕ (all orders, the standing third of lineitem) —
    // unmatched orders null-extend
    "join_view_stale_outer" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       l_orderkey, l_linenumber, l_partkey, l_quantity,
        |       TRUE AS used_view
        |FROM orders LEFT JOIN (SELECT * FROM lineitem
        |                       WHERE l_orderkey % 3 = 0) li
        |ON o_orderkey = li.l_orderkey""".stripMargin,

    "rollup_view_stale_serve" ->
      s"""WITH $SERIES
         |SELECT metric, e // 86400 AS day, count(*) AS cnt,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
         |  min(value) AS min_val, max(value) AS max_val,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS mean_val,
         |  TRUE AS used_view
         |FROM series GROUP BY 1, 2""".stripMargin,

    // exact NDV from the FULL series (the post-gap source), the exported
    // compensated estimates, the same band verdict, used_view TRUE
    "ndv_view_stale_serve" ->
      s"""WITH $SERIES,
         |ex AS (SELECT metric, e // 86400 AS day,
         |         count(DISTINCT user_id) AS exact_users
         |       FROM series GROUP BY 1, 2),
         |ap AS (SELECT metric, day, approx_users
         |       FROM read_parquet('${exportGlob("ndvss_approx")}'))
         |SELECT ex.metric, ex.day, ex.exact_users, ap.approx_users,
         |       abs(ap.approx_users - ex.exact_users) <=
         |         greatest(0.05 * ex.exact_users, 2.0) AS bound_ok,
         |       TRUE AS used_view
         |FROM ex JOIN ap USING (metric, day)""".stripMargin,

    // the compensated estimates replayed exactly: the post-gap source
    // (even-e rows ∪ their +1-day shifted copies, minus the e%7 delete)
    // binned under the exported BOOTSTRAP-frozen edges — identical
    // expression tree to quantile_view_answer's replay
    "quantile_view_stale" ->
      s"""WITH $SERIES,
         |src AS (SELECT metric, e, value FROM (
         |          SELECT metric, e, value FROM series WHERE e % 2 = 0
         |          UNION ALL
         |          SELECT metric, e + 86400 AS e, value FROM series
         |          WHERE e % 2 = 0)
         |        WHERE NOT (e % 7 = 0)),
         |ed AS (SELECT metric, lo, w, bins
         |       FROM read_parquet('${exportGlob("qvss_edges")}')),
         |b AS (SELECT src.metric, src.e // 86400 AS bucket,
         |        LEAST(ed.bins - 1, GREATEST(0,
         |          CAST(FLOOR((src.value - ed.lo) / ed.w) AS INT))) AS bin
         |      FROM src JOIN ed USING (metric)),
         |c AS (SELECT metric, bucket, bin, CAST(count(*) AS BIGINT) AS cnt
         |      FROM b GROUP BY 1, 2, 3),
         |cm AS (SELECT metric, bucket, bin, cnt,
         |         CAST(SUM(cnt) OVER (PARTITION BY metric, bucket
         |           ORDER BY bin) AS BIGINT) AS cum,
         |         CAST(SUM(cnt) OVER (PARTITION BY metric, bucket)
         |           AS BIGINT) AS n
         |       FROM c),
         |p AS (SELECT cm.*, CAST(u.phi AS DOUBLE) AS phi
         |      FROM cm, UNNEST([0.5, 0.9, 0.99]) AS u(phi)),
         |sel AS (SELECT metric, bucket, bin, cnt, cum, n, phi,
         |          phi * CAST(n AS DOUBLE) AS t FROM p)
         |SELECT sel.metric, sel.bucket, sel.phi,
         |       ed.lo + ed.w * sel.bin +
         |         ed.w * ((sel.t - CAST(sel.cum - sel.cnt AS DOUBLE)) /
         |           CAST(sel.cnt AS DOUBLE)) AS est
         |FROM sel JOIN ed ON sel.metric = ed.metric
         |WHERE (CAST(sel.cum AS DOUBLE) >= sel.t
         |       AND CAST(sel.cum - sel.cnt AS DOUBLE) < sel.t)
         |   OR (sel.t = 0.0 AND sel.cum = sel.cnt)""".stripMargin,

    "snapshot_branch_read" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |       'main' AS src
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |       'branch' AS src
        |FROM lineitem
        |WHERE l_orderkey % 3 != 2 AND l_orderkey % 5 != 0""".stripMargin,

    "snapshot_branch_merge" ->
      """SELECT l_orderkey, l_linenumber, l_partkey,
        |       CASE WHEN l_quantity > 40.0 THEN 40.0 ELSE l_quantity END
        |         AS l_quantity
        |FROM lineitem""".stripMargin,

    // the maintained histogram's estimates replayed exactly: bin the
    // SURVIVING source under the exported frozen edges (same clamped
    // integer bin), cumulative counts per (metric, day), linear
    // interpolation inside the selected bin — identical expression tree,
    // identical double arithmetic, hashed directly
    "quantile_view_answer" ->
      s"""WITH $SERIES,
         |src AS (SELECT metric, e, value FROM series WHERE NOT (e % 5 = 0)),
         |ed AS (SELECT metric, lo, w, bins
         |       FROM read_parquet('${exportGlob("qview_edges")}')),
         |b AS (SELECT src.metric, src.e // 86400 AS bucket,
         |        LEAST(ed.bins - 1, GREATEST(0,
         |          CAST(FLOOR((src.value - ed.lo) / ed.w) AS INT))) AS bin
         |      FROM src JOIN ed USING (metric)),
         |c AS (SELECT metric, bucket, bin, CAST(count(*) AS BIGINT) AS cnt
         |      FROM b GROUP BY 1, 2, 3),
         |cm AS (SELECT metric, bucket, bin, cnt,
         |         CAST(SUM(cnt) OVER (PARTITION BY metric, bucket
         |           ORDER BY bin) AS BIGINT) AS cum,
         |         CAST(SUM(cnt) OVER (PARTITION BY metric, bucket)
         |           AS BIGINT) AS n
         |       FROM c),
         |p AS (SELECT cm.*, CAST(u.phi AS DOUBLE) AS phi
         |      FROM cm, UNNEST([0.5, 0.9, 0.99]) AS u(phi)),
         |sel AS (SELECT metric, bucket, bin, cnt, cum, n, phi,
         |          phi * CAST(n AS DOUBLE) AS t FROM p)
         |SELECT sel.metric, sel.bucket, sel.phi,
         |       ed.lo + ed.w * sel.bin +
         |         ed.w * ((sel.t - CAST(sel.cum - sel.cnt AS DOUBLE)) /
         |           CAST(sel.cnt AS DOUBLE)) AS est
         |FROM sel JOIN ed ON sel.metric = ed.metric
         |WHERE (CAST(sel.cum AS DOUBLE) >= sel.t
         |       AND CAST(sel.cum - sel.cnt AS DOUBLE) < sel.t)
         |   OR (sel.t = 0.0 AND sel.cum = sel.cnt)""".stripMargin,

    // quantile-over-join replay: the SAME binning + interpolation under
    // the exported frozen edges, over the final join state (the %5
    // delete and the %10 segment move applied) — estimates hash EXACTLY
    "quantile_join_view_answer" ->
      s"""WITH c AS (SELECT c_custkey,
         |             CASE WHEN c_custkey % 10 = 0 THEN 'MOVED'
         |                  ELSE c_mktsegment END AS c_mktsegment
         |           FROM customer),
         |o AS (SELECT o_custkey, o_totalprice FROM orders
         |      WHERE o_orderkey % 5 != 0),
         |ed AS (SELECT lo, w, bins
         |       FROM read_parquet('${exportGlob("qjview_edges")}')),
         |b AS (SELECT c.c_mktsegment,
         |        LEAST(ed.bins - 1, GREATEST(0,
         |          CAST(FLOOR((o.o_totalprice - ed.lo) / ed.w) AS INT))) AS bin
         |      FROM o JOIN c ON o_custkey = c_custkey CROSS JOIN ed
         |      WHERE o.o_totalprice IS NOT NULL),
         |cnts AS (SELECT c_mktsegment, bin, CAST(count(*) AS BIGINT) AS cnt
         |         FROM b GROUP BY 1, 2),
         |cm AS (SELECT c_mktsegment, bin, cnt,
         |         CAST(SUM(cnt) OVER (PARTITION BY c_mktsegment
         |           ORDER BY bin) AS BIGINT) AS cum,
         |         CAST(SUM(cnt) OVER (PARTITION BY c_mktsegment)
         |           AS BIGINT) AS n
         |       FROM cnts),
         |p AS (SELECT cm.*, CAST(u.phi AS DOUBLE) AS phi
         |      FROM cm, UNNEST([0.5, 0.9, 0.99]) AS u(phi)),
         |sel AS (SELECT *, phi * CAST(n AS DOUBLE) AS t FROM p)
         |SELECT sel.c_mktsegment, sel.phi,
         |       ed.lo + ed.w * sel.bin +
         |         ed.w * ((sel.t - CAST(sel.cum - sel.cnt AS DOUBLE)) /
         |           CAST(sel.cnt AS DOUBLE)) AS est
         |FROM sel CROSS JOIN ed
         |WHERE (CAST(sel.cum AS DOUBLE) >= sel.t
         |       AND CAST(sel.cum - sel.cnt AS DOUBLE) < sel.t)
         |   OR (sel.t = 0.0 AND sel.cum = sel.cnt)""".stripMargin,

    // the SERVED single-table quantiles replayed exactly: bin the full
    // series under the exported frozen edges, interpolate, pivot to the
    // user query's wide (p50, p90) shape; used_view TRUE pins that the
    // Spark side actually served from the view (a declined rewrite
    // exports false and hash-fails)
    "quantile_view_serve" ->
      s"""WITH $SERIES,
         |ed AS (SELECT metric, lo, w, bins
         |       FROM read_parquet('${exportGlob("qvs_edges")}')),
         |b AS (SELECT series.metric, series.e // 86400 AS bucket,
         |        LEAST(ed.bins - 1, GREATEST(0,
         |          CAST(FLOOR((series.value - ed.lo) / ed.w) AS INT))) AS bin
         |      FROM series JOIN ed USING (metric)),
         |c AS (SELECT metric, bucket, bin, CAST(count(*) AS BIGINT) AS cnt
         |      FROM b GROUP BY 1, 2, 3),
         |cm AS (SELECT metric, bucket, bin, cnt,
         |         CAST(SUM(cnt) OVER (PARTITION BY metric, bucket
         |           ORDER BY bin) AS BIGINT) AS cum,
         |         CAST(SUM(cnt) OVER (PARTITION BY metric, bucket)
         |           AS BIGINT) AS n
         |       FROM c),
         |p AS (SELECT cm.*, CAST(u.phi AS DOUBLE) AS phi
         |      FROM cm, UNNEST([0.5, 0.9]) AS u(phi)),
         |sel AS (SELECT metric, bucket, bin, cnt, cum, n, phi,
         |          phi * CAST(n AS DOUBLE) AS t FROM p),
         |est AS (SELECT sel.metric, sel.bucket, sel.phi,
         |          ed.lo + ed.w * sel.bin +
         |            ed.w * ((sel.t - CAST(sel.cum - sel.cnt AS DOUBLE)) /
         |              CAST(sel.cnt AS DOUBLE)) AS est
         |        FROM sel JOIN ed ON sel.metric = ed.metric
         |        WHERE (CAST(sel.cum AS DOUBLE) >= sel.t
         |               AND CAST(sel.cum - sel.cnt AS DOUBLE) < sel.t)
         |           OR (sel.t = 0.0 AND sel.cum = sel.cnt))
         |SELECT metric, bucket,
         |       MAX(CASE WHEN phi = 0.5 THEN est END) AS p50,
         |       MAX(CASE WHEN phi = 0.9 THEN est END) AS p90,
         |       TRUE AS used_view
         |FROM est GROUP BY 1, 2""".stripMargin,

    // the SERVED join quantiles replayed exactly over the full
    // the N-way quantile MV's replay: the identical clamped binning +
    // cumulative selection + interpolation over the FINAL 3-way join
    // (orders %5-deleted, %10 customers moved to nation 0) under the
    // exported frozen edges — bit-equal arithmetic both sides
    "quantile_join_view_multiway" ->
      s"""WITH c AS (SELECT c_custkey,
         |             CASE WHEN c_custkey % 10 = 0 THEN 0
         |                  ELSE c_nationkey END AS c_nationkey
         |           FROM customer),
         |o AS (SELECT o_custkey, o_totalprice FROM orders
         |      WHERE o_orderkey % 2 = 0 AND o_orderkey % 5 != 0),
         |ed AS (SELECT lo, w, bins
         |       FROM read_parquet('${exportGlob("mqjv_edges")}')),
         |b AS (SELECT n.n_name,
         |        LEAST(ed.bins - 1, GREATEST(0,
         |          CAST(FLOOR((o.o_totalprice - ed.lo) / ed.w) AS INT))) AS bin
         |      FROM o JOIN c ON o_custkey = c_custkey
         |      JOIN nation n ON c.c_nationkey = n.n_nationkey
         |      CROSS JOIN ed
         |      WHERE o.o_totalprice IS NOT NULL),
         |cnts AS (SELECT n_name, bin, CAST(count(*) AS BIGINT) AS cnt
         |         FROM b GROUP BY 1, 2),
         |cm AS (SELECT n_name, bin, cnt,
         |         CAST(SUM(cnt) OVER (PARTITION BY n_name
         |           ORDER BY bin) AS BIGINT) AS cum,
         |         CAST(SUM(cnt) OVER (PARTITION BY n_name)
         |           AS BIGINT) AS n
         |       FROM cnts),
         |p AS (SELECT cm.*, CAST(u.phi AS DOUBLE) AS phi
         |      FROM cm, UNNEST([0.5, 0.9, 0.99]) AS u(phi)),
         |sel AS (SELECT *, phi * CAST(n AS DOUBLE) AS t FROM p)
         |SELECT sel.n_name, sel.phi,
         |       ed.lo + ed.w * sel.bin +
         |         ed.w * ((sel.t - CAST(sel.cum - sel.cnt AS DOUBLE)) /
         |           CAST(sel.cnt AS DOUBLE)) AS est
         |FROM sel CROSS JOIN ed
         |WHERE (CAST(sel.cum AS DOUBLE) >= sel.t
         |       AND CAST(sel.cum - sel.cnt AS DOUBLE) < sel.t)
         |   OR (sel.t = 0.0 AND sel.cum = sel.cnt)""".stripMargin,

    // the stale N-way serve replays the SAME final state (the gap's
    // append + delete + dim move applied) under the bootstrap-frozen
    // exported edges — compensation must be bit-equal to
    // refresh-then-serve
    "quantile_join_view_multiway_stale" ->
      s"""WITH c AS (SELECT c_custkey,
         |             CASE WHEN c_custkey % 10 = 0 THEN 0
         |                  ELSE c_nationkey END AS c_nationkey
         |           FROM customer),
         |o AS (SELECT o_custkey, o_totalprice FROM orders
         |      WHERE o_orderkey % 2 = 0),
         |ed AS (SELECT lo, w, bins
         |       FROM read_parquet('${exportGlob("mqjt_edges")}')),
         |b AS (SELECT n.n_name,
         |        LEAST(ed.bins - 1, GREATEST(0,
         |          CAST(FLOOR((o.o_totalprice - ed.lo) / ed.w) AS INT))) AS bin
         |      FROM o JOIN c ON o_custkey = c_custkey
         |      JOIN nation n ON c.c_nationkey = n.n_nationkey
         |      CROSS JOIN ed
         |      WHERE o.o_totalprice IS NOT NULL),
         |cnts AS (SELECT n_name, bin, CAST(count(*) AS BIGINT) AS cnt
         |         FROM b GROUP BY 1, 2),
         |cm AS (SELECT n_name, bin, cnt,
         |         CAST(SUM(cnt) OVER (PARTITION BY n_name
         |           ORDER BY bin) AS BIGINT) AS cum,
         |         CAST(SUM(cnt) OVER (PARTITION BY n_name)
         |           AS BIGINT) AS n
         |       FROM cnts),
         |p AS (SELECT cm.*, CAST(u.phi AS DOUBLE) AS phi
         |      FROM cm, UNNEST([0.5, 0.9, 0.99]) AS u(phi)),
         |sel AS (SELECT *, phi * CAST(n AS DOUBLE) AS t FROM p)
         |SELECT sel.n_name, sel.phi,
         |       ed.lo + ed.w * sel.bin +
         |         ed.w * ((sel.t - CAST(sel.cum - sel.cnt AS DOUBLE)) /
         |           CAST(sel.cnt AS DOUBLE)) AS est
         |FROM sel CROSS JOIN ed
         |WHERE (CAST(sel.cum AS DOUBLE) >= sel.t
         |       AND CAST(sel.cum - sel.cnt AS DOUBLE) < sel.t)
         |   OR (sel.t = 0.0 AND sel.cum = sel.cnt)""".stripMargin,

    // customer⋈orders under the exported frozen edges, pivoted wide
    "quantile_join_view_serve" ->
      s"""WITH o AS (SELECT o_custkey, o_totalprice FROM orders),
         |ed AS (SELECT lo, w, bins
         |       FROM read_parquet('${exportGlob("qjvs_edges")}')),
         |b AS (SELECT c_mktsegment,
         |        LEAST(ed.bins - 1, GREATEST(0,
         |          CAST(FLOOR((o.o_totalprice - ed.lo) / ed.w) AS INT))) AS bin
         |      FROM o JOIN customer ON o_custkey = c_custkey CROSS JOIN ed
         |      WHERE o.o_totalprice IS NOT NULL),
         |cnts AS (SELECT c_mktsegment, bin, CAST(count(*) AS BIGINT) AS cnt
         |         FROM b GROUP BY 1, 2),
         |cm AS (SELECT c_mktsegment, bin, cnt,
         |         CAST(SUM(cnt) OVER (PARTITION BY c_mktsegment
         |           ORDER BY bin) AS BIGINT) AS cum,
         |         CAST(SUM(cnt) OVER (PARTITION BY c_mktsegment)
         |           AS BIGINT) AS n
         |       FROM cnts),
         |p AS (SELECT cm.*, CAST(u.phi AS DOUBLE) AS phi
         |      FROM cm, UNNEST([0.5, 0.9]) AS u(phi)),
         |sel AS (SELECT *, phi * CAST(n AS DOUBLE) AS t FROM p),
         |est AS (SELECT sel.c_mktsegment, sel.phi,
         |          ed.lo + ed.w * sel.bin +
         |            ed.w * ((sel.t - CAST(sel.cum - sel.cnt AS DOUBLE)) /
         |              CAST(sel.cnt AS DOUBLE)) AS est
         |        FROM sel CROSS JOIN ed
         |        WHERE (CAST(sel.cum AS DOUBLE) >= sel.t
         |               AND CAST(sel.cum - sel.cnt AS DOUBLE) < sel.t)
         |           OR (sel.t = 0.0 AND sel.cum = sel.cnt))
         |SELECT c_mktsegment,
         |       MAX(CASE WHEN phi = 0.5 THEN est END) AS p50,
         |       MAX(CASE WHEN phi = 0.9 THEN est END) AS p90,
         |       TRUE AS used_view
         |FROM est GROUP BY 1""".stripMargin,

    // the N-way Catalyst serve's replay: same binning + interpolation
    // over the full 3-way join under the exported edges, pivoted wide,
    // used_view re-derived as the constant the serve asserted
    "quantile_join_view_multiway_serve" ->
      s"""WITH o AS (SELECT o_custkey, o_totalprice FROM orders),
         |ed AS (SELECT lo, w, bins
         |       FROM read_parquet('${exportGlob("mqjs_edges")}')),
         |b AS (SELECT n.n_name,
         |        LEAST(ed.bins - 1, GREATEST(0,
         |          CAST(FLOOR((o.o_totalprice - ed.lo) / ed.w) AS INT))) AS bin
         |      FROM o JOIN customer ON o_custkey = c_custkey
         |      JOIN nation n ON c_nationkey = n_nationkey
         |      CROSS JOIN ed
         |      WHERE o.o_totalprice IS NOT NULL),
         |cnts AS (SELECT n_name, bin, CAST(count(*) AS BIGINT) AS cnt
         |         FROM b GROUP BY 1, 2),
         |cm AS (SELECT n_name, bin, cnt,
         |         CAST(SUM(cnt) OVER (PARTITION BY n_name
         |           ORDER BY bin) AS BIGINT) AS cum,
         |         CAST(SUM(cnt) OVER (PARTITION BY n_name)
         |           AS BIGINT) AS n
         |       FROM cnts),
         |p AS (SELECT cm.*, CAST(u.phi AS DOUBLE) AS phi
         |      FROM cm, UNNEST([0.5, 0.9]) AS u(phi)),
         |sel AS (SELECT *, phi * CAST(n AS DOUBLE) AS t FROM p),
         |est AS (SELECT sel.n_name, sel.phi,
         |          ed.lo + ed.w * sel.bin +
         |            ed.w * ((sel.t - CAST(sel.cum - sel.cnt AS DOUBLE)) /
         |              CAST(sel.cnt AS DOUBLE)) AS est
         |        FROM sel CROSS JOIN ed
         |        WHERE (CAST(sel.cum AS DOUBLE) >= sel.t
         |               AND CAST(sel.cum - sel.cnt AS DOUBLE) < sel.t)
         |           OR (sel.t = 0.0 AND sel.cum = sel.cnt))
         |SELECT n_name,
         |       MAX(CASE WHEN phi = 0.5 THEN est END) AS p50,
         |       MAX(CASE WHEN phi = 0.9 THEN est END) AS p90,
         |       TRUE AS used_view
         |FROM est GROUP BY 1""".stripMargin,

    // the STALE-compensated join quantiles replayed exactly over the
    // post-gap state (shifted-copy appends + the %10 segment move) under
    // the exported BOOTSTRAP-frozen edges — the signed-retraction
    // compensation is bit-equal to refresh-then-serve, so the replay is
    // the same expression tree as the fresh serve, just over more rows
    "quantile_join_view_stale" ->
      s"""WITH c AS (SELECT c_custkey,
         |             CASE WHEN c_custkey % 10 = 0 THEN 'MOVED'
         |                  ELSE c_mktsegment END AS c_mktsegment
         |           FROM customer),
         |o AS (SELECT o_custkey, o_totalprice FROM orders
         |      UNION ALL
         |      SELECT o_custkey, o_totalprice FROM orders
         |      WHERE o_orderkey % 3 = 0),
         |ed AS (SELECT lo, w, bins
         |       FROM read_parquet('${exportGlob("qjvt_edges")}')),
         |b AS (SELECT c.c_mktsegment,
         |        LEAST(ed.bins - 1, GREATEST(0,
         |          CAST(FLOOR((o.o_totalprice - ed.lo) / ed.w) AS INT))) AS bin
         |      FROM o JOIN c ON o_custkey = c_custkey CROSS JOIN ed
         |      WHERE o.o_totalprice IS NOT NULL),
         |cnts AS (SELECT c_mktsegment, bin, CAST(count(*) AS BIGINT) AS cnt
         |         FROM b GROUP BY 1, 2),
         |cm AS (SELECT c_mktsegment, bin, cnt,
         |         CAST(SUM(cnt) OVER (PARTITION BY c_mktsegment
         |           ORDER BY bin) AS BIGINT) AS cum,
         |         CAST(SUM(cnt) OVER (PARTITION BY c_mktsegment)
         |           AS BIGINT) AS n
         |       FROM cnts),
         |p AS (SELECT cm.*, CAST(u.phi AS DOUBLE) AS phi
         |      FROM cm, UNNEST([0.5, 0.9]) AS u(phi)),
         |sel AS (SELECT *, phi * CAST(n AS DOUBLE) AS t FROM p),
         |est AS (SELECT sel.c_mktsegment, sel.phi,
         |          ed.lo + ed.w * sel.bin +
         |            ed.w * ((sel.t - CAST(sel.cum - sel.cnt AS DOUBLE)) /
         |              CAST(sel.cnt AS DOUBLE)) AS est
         |        FROM sel CROSS JOIN ed
         |        WHERE (CAST(sel.cum AS DOUBLE) >= sel.t
         |               AND CAST(sel.cum - sel.cnt AS DOUBLE) < sel.t)
         |           OR (sel.t = 0.0 AND sel.cum = sel.cnt))
         |SELECT c_mktsegment,
         |       MAX(CASE WHEN phi = 0.5 THEN est END) AS p50,
         |       MAX(CASE WHEN phi = 0.9 THEN est END) AS p90,
         |       TRUE AS used_view
         |FROM est GROUP BY 1""".stripMargin,

    // the streamed quantile-join parity: the same binning + interpolation
    // under the stream's FINAL frozen edges over the dripped half
    // the stream-grown N-way estimates replayed under the exported
    // FINAL edges — the identical binning over the dripped fact's final
    // state joined through the standing tree
    "stream_quantile_join_multiway_parity" ->
      s"""WITH o AS (SELECT o_custkey, o_totalprice FROM orders
         |           WHERE o_orderkey % 4 = 0),
         |ed AS (SELECT lo, w, bins
         |       FROM read_parquet('${exportGlob("smqj_edges")}')),
         |b AS (SELECT n.n_name,
         |        LEAST(ed.bins - 1, GREATEST(0,
         |          CAST(FLOOR((o.o_totalprice - ed.lo) / ed.w) AS INT))) AS bin
         |      FROM o JOIN customer ON o_custkey = c_custkey
         |      JOIN nation n ON c_nationkey = n_nationkey
         |      CROSS JOIN ed
         |      WHERE o.o_totalprice IS NOT NULL),
         |cnts AS (SELECT n_name, bin, CAST(count(*) AS BIGINT) AS cnt
         |         FROM b GROUP BY 1, 2),
         |cm AS (SELECT n_name, bin, cnt,
         |         CAST(SUM(cnt) OVER (PARTITION BY n_name
         |           ORDER BY bin) AS BIGINT) AS cum,
         |         CAST(SUM(cnt) OVER (PARTITION BY n_name)
         |           AS BIGINT) AS n
         |       FROM cnts),
         |p AS (SELECT cm.*, CAST(u.phi AS DOUBLE) AS phi
         |      FROM cm, UNNEST([0.5, 0.9]) AS u(phi)),
         |sel AS (SELECT *, phi * CAST(n AS DOUBLE) AS t FROM p)
         |SELECT sel.n_name, sel.phi,
         |       ed.lo + ed.w * sel.bin +
         |         ed.w * ((sel.t - CAST(sel.cum - sel.cnt AS DOUBLE)) /
         |           CAST(sel.cnt AS DOUBLE)) AS est
         |FROM sel CROSS JOIN ed
         |WHERE (CAST(sel.cum AS DOUBLE) >= sel.t
         |       AND CAST(sel.cum - sel.cnt AS DOUBLE) < sel.t)
         |   OR (sel.t = 0.0 AND sel.cum = sel.cnt)""".stripMargin,

    "stream_quantile_join_parity" ->
      s"""WITH o AS (SELECT o_custkey, o_totalprice FROM orders
         |           WHERE o_orderkey % 2 = 0),
         |ed AS (SELECT lo, w, bins
         |       FROM read_parquet('${exportGlob("sqjv_edges")}')),
         |b AS (SELECT c_mktsegment,
         |        LEAST(ed.bins - 1, GREATEST(0,
         |          CAST(FLOOR((o.o_totalprice - ed.lo) / ed.w) AS INT))) AS bin
         |      FROM o JOIN customer ON o_custkey = c_custkey CROSS JOIN ed
         |      WHERE o.o_totalprice IS NOT NULL),
         |cnts AS (SELECT c_mktsegment, bin, CAST(count(*) AS BIGINT) AS cnt
         |         FROM b GROUP BY 1, 2),
         |cm AS (SELECT c_mktsegment, bin, cnt,
         |         CAST(SUM(cnt) OVER (PARTITION BY c_mktsegment
         |           ORDER BY bin) AS BIGINT) AS cum,
         |         CAST(SUM(cnt) OVER (PARTITION BY c_mktsegment)
         |           AS BIGINT) AS n
         |       FROM cnts),
         |p AS (SELECT cm.*, CAST(u.phi AS DOUBLE) AS phi
         |      FROM cm, UNNEST([0.5, 0.9]) AS u(phi)),
         |sel AS (SELECT *, phi * CAST(n AS DOUBLE) AS t FROM p)
         |SELECT sel.c_mktsegment, sel.phi,
         |       ed.lo + ed.w * sel.bin +
         |         ed.w * ((sel.t - CAST(sel.cum - sel.cnt AS DOUBLE)) /
         |           CAST(sel.cnt AS DOUBLE)) AS est
         |FROM sel CROSS JOIN ed
         |WHERE (CAST(sel.cum AS DOUBLE) >= sel.t
         |       AND CAST(sel.cum - sel.cnt AS DOUBLE) < sel.t)
         |   OR (sel.t = 0.0 AND sel.cum = sel.cnt)""".stripMargin,

    // null-fill semantics pinned: era-1 rows (even keys, not upserted)
    // read the evolved column as NULL; upserted rows (%7=3, both eras)
    // carry the widened batch's values
    "snapshot_schema_evolve" ->
      """SELECT o_orderkey,
        |       CASE WHEN o_orderkey % 7 = 3 THEN o_totalprice + 100.0
        |            ELSE o_totalprice END AS o_totalprice,
        |       CASE WHEN o_orderkey % 7 = 3 OR o_orderkey % 2 != 0
        |            THEN o_orderstatus ELSE NULL END AS o_orderstatus
        |FROM orders""".stripMargin,

    // both lifecycles composed: the branch capped quantities over the
    // fork-time slices (%3 in 0,1); the parent's post-fork slice (%3=2)
    // rode through the rebase untouched
    "snapshot_branch_rebase" ->
      """SELECT l_orderkey, l_linenumber, l_partkey,
        |       CASE WHEN l_orderkey % 3 != 2 AND l_quantity > 40.0
        |            THEN 40.0 ELSE l_quantity END AS l_quantity
        |FROM lineitem""".stripMargin,

    // the two disjoint curation passes composed row-level: branch
    // deleted %7=1, parent deleted %7=2, branch appended a re-keyed
    // %7=3 slice — all over the same fork-time directories
    "snapshot_branch_rebase_rows" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        |FROM lineitem
        |WHERE l_orderkey % 7 != 1 AND l_orderkey % 7 != 2
        |UNION ALL
        |SELECT l_orderkey + 10000000, l_linenumber, l_partkey, l_quantity
        |FROM lineitem
        |WHERE l_orderkey % 7 = 3""".stripMargin,

    // evolution-composing rebase: pre-evolution survivors null-fill the
    // branch-added column; the branch's widened batch carries it
    "snapshot_branch_rebase_evolve" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |       CAST(NULL AS VARCHAR) AS l_src
        |FROM lineitem
        |WHERE l_orderkey % 7 != 1 AND l_orderkey % 7 != 2
        |UNION ALL
        |SELECT l_orderkey + 10000000, l_linenumber, l_partkey, l_quantity,
        |       'branch' AS l_src
        |FROM lineitem
        |WHERE l_orderkey % 7 = 3""".stripMargin,

    "snapshot_branch_diff" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |       'left_only' AS _diff_side
        |FROM lineitem
        |WHERE (l_orderkey % 3 != 2 AND l_orderkey % 5 = 0)
        |   OR l_orderkey % 3 = 2
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_partkey,
        |       l_quantity + 100.0 AS l_quantity, 'right_only' AS _diff_side
        |FROM lineitem
        |WHERE l_orderkey % 3 = 2""".stripMargin,

    "a18_ohlc" ->
      s"""WITH $SERIES,
         |b AS (SELECT metric, CAST(FLOOR(e/86400.0) AS BIGINT)*86400 AS bucket_start, e, value FROM series),
         |g AS (SELECT metric, bucket_start, count(*) AS n,
         |             max(value) AS high, min(value) AS low,
         |             min(e) AS first_e, max(e) AS last_e
         |      FROM b GROUP BY 1, 2),
         |o AS (SELECT b.metric, b.bucket_start, min(b.value) AS open
         |      FROM b JOIN g ON b.metric = g.metric AND b.bucket_start = g.bucket_start
         |                   AND b.e = g.first_e GROUP BY 1, 2),
         |c AS (SELECT b.metric, b.bucket_start, max(b.value) AS close
         |      FROM b JOIN g ON b.metric = g.metric AND b.bucket_start = g.bucket_start
         |                   AND b.e = g.last_e GROUP BY 1, 2)
         |SELECT g.metric, g.bucket_start, g.n, o.open, g.high, g.low, c.close
         |FROM g
         |JOIN o ON g.metric = o.metric AND g.bucket_start = o.bucket_start
         |JOIN c ON g.metric = c.metric AND g.bucket_start = c.bucket_start""".stripMargin,

    "a19_diurnal" ->
      s"""WITH $SERIES
         |SELECT metric, CAST((((e % 86400) + 86400) % 86400) // 3600 AS INT) AS hour_of_day,
         |       count(*) AS n,
         |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS mean_val,
         |       min(value) AS min_val, max(value) AS max_val
         |FROM series GROUP BY 1, 2""".stripMargin,

    "q_window_stats" ->
      s"""WITH $SERIES
         |SELECT metric, event_id, e,
         |  ntile(4) OVER w AS quartile,
         |  percent_rank() OVER w AS pct_rank,
         |  cume_dist() OVER w AS cume,
         |  first_value(value) OVER w AS first_val
         |FROM series
         |WINDOW w AS (PARTITION BY metric ORDER BY e, event_id)""".stripMargin,

    // Same exact-arithmetic shape as the Spark side: n·cusum stays in
    // decimal, the breach compare is exact, and the reported double is one
    // division at the end.
    "a27_derivative" -> A27_DERIVATIVE_ORACLE,
    // The chunked twin is bit-identical by exact-arithmetic associativity:
    // same oracle string, second key (the stream_tier_parity pattern).
    "a27_derivative_chunked" -> A27_DERIVATIVE_ORACLE,

    "a20_cusum" -> A20_CUSUM_ORACLE,
    "a20_cusum_chunked" -> A20_CUSUM_ORACLE,

    // Direct 1h aggregation over raw events — the Spark side must reproduce
    // this by composing its 1m tier (batch leg AND streaming-replay leg).
    "a24_rollup_tier" -> ROLLUP_TIER_ORACLE,
    "stream_tier_parity" -> ROLLUP_TIER_ORACLE,
    // Backfill-merge is associativity-exact against the same direct
    // aggregation: third key, same oracle string.
    "a32_tier_backfill" -> ROLLUP_TIER_ORACLE,
    // The compacted hybrid (old 1m tier + recent raw) must reproduce the
    // direct hourly aggregation over full raw — same oracle, third leg.
    "compacted_read" -> ROLLUP_TIER_ORACLE,

    // Streaming-twin parity oracles over the tie-free slice. Same
    // portable-rounding posture as a27/a20/a14: exact decimal or integer
    // arithmetic up to ONE final division / identical-order double
    // recurrence, compared raw.
    "stream_derivative_parity" ->
      s"""WITH $SERIES, $UNIQUE_SERIES,
         |d AS (SELECT metric, e, value, CAST(value AS DECIMAL(18,2)) AS vd FROM useries),
         |w AS (SELECT metric, e, value, vd,
         |        lag(vd) OVER o AS pv, lag(e) OVER o AS pe
         |      FROM d WINDOW o AS (PARTITION BY metric ORDER BY e))
         |SELECT metric, e, value,
         |       CAST(CAST(vd - pv AS VARCHAR) AS DOUBLE) / CAST(e - pe AS DOUBLE) AS slope
         |FROM w WHERE pe IS NOT NULL""".stripMargin,

    "stream_cusum_parity" ->
      s"""WITH $SERIES, $UNIQUE_SERIES,
         |w AS (SELECT metric, e, value,
         |        sum(CAST(value AS DECIMAL(18,2)) - CAST(50.00 AS DECIMAL(18,2)))
         |          OVER (PARTITION BY metric ORDER BY e
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS acc
         |      FROM useries)
         |SELECT metric, e, value, CAST(CAST(acc AS VARCHAR) AS DOUBLE) AS cusum,
         |       abs(acc) > CAST(500.00 AS DECIMAL(18,2)) AS breach
         |FROM w""".stripMargin,

    // The EWMA recurrence replayed one position per recursive iteration —
    // the a14 oracle's proven identical-expression contract, minus the
    // event_id tie-break (the slice is tie-free).
    "stream_ewma_parity" ->
      s"""WITH RECURSIVE $SERIES, $UNIQUE_SERIES,
         |o AS (SELECT metric, e, value,
         |        CAST(row_number() OVER (PARTITION BY metric ORDER BY e) AS BIGINT) AS rn
         |      FROM useries),
         |r AS (
         |  SELECT metric, rn, e, value, value AS ewma FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.metric, o.rn, o.e, o.value, 0.2 * o.value + (1 - 0.2) * r.ewma
         |  FROM r JOIN o ON o.metric = r.metric AND o.rn = r.rn + 1
         |)
         |SELECT metric, e, value, ewma FROM r""".stripMargin,

    // The streaming anchored-gap chain replayed ascending, one position
    // per recursive iteration: state is the last KEPT second (mark); the
    // first row per metric seeds as kept, and each later row keeps iff
    // strictly more than the gap from the mark — exactly the
    // decimateStream recurrence. Integer arithmetic throughout.
    "stream_decimate_parity" ->
      s"""WITH RECURSIVE $SERIES, $UNIQUE_SERIES,
         |o AS (SELECT metric, e, value,
         |        CAST(row_number() OVER (PARTITION BY metric ORDER BY e) AS BIGINT) AS rn
         |      FROM useries),
         |r AS (
         |  SELECT metric, rn, e, value, e AS mark, true AS kept FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.metric, o.rn, o.e, o.value,
         |         CASE WHEN abs(o.e - r.mark) > ${P.minSampleGapSeconds}
         |              THEN o.e ELSE r.mark END AS mark,
         |         abs(o.e - r.mark) > ${P.minSampleGapSeconds} AS kept
         |  FROM r JOIN o ON o.metric = r.metric AND o.rn = r.rn + 1
         |)
         |SELECT metric, e, value FROM r WHERE kept""".stripMargin,

    // Closed gap alerts are exactly the batch lag-gaps (a22's shape,
    // without the derived gap_secs column).
    "stream_gap_alert_parity" ->
      s"""WITH $SERIES,
         |d AS (SELECT metric, lag(e) OVER (PARTITION BY metric ORDER BY e, event_id) AS prev_e, e
         |      FROM series)
         |SELECT metric, prev_e AS gap_start, e AS gap_end
         |FROM d WHERE prev_e IS NOT NULL AND e - prev_e > ${P.minSampleGapSeconds.toLong}""".stripMargin,

    // Doubled delivery in, exactly the unique rows out.
    "stream_dedup_parity" ->
      s"""WITH $SERIES, $UNIQUE_SERIES
         |SELECT metric, e, value FROM useries""".stripMargin,

    // Broadcast-enriched stream: per-metric deVoweled label (X1) on
    // every row.
    "stream_enrich_parity" ->
      s"""WITH $SERIES
         |SELECT metric, e, value,
         |       regexp_replace(metric, '[aeiouy]', '', 'g') AS label
         |FROM series""".stripMargin,

    // Gap-triggered mean: the recursive CTE carries the exact
    // (mark, sum, n) state — buffered raw-double sum in the identical
    // left-to-right order, ONE double division at each emission. The
    // first row per metric always triggers (unseeded), matching the
    // stream's seed path.
    "stream_gapmean_parity" ->
      s"""WITH RECURSIVE $SERIES, $UNIQUE_SERIES,
         |o AS (SELECT metric, e, value,
         |        CAST(row_number() OVER (PARTITION BY metric ORDER BY e) AS BIGINT) AS rn
         |      FROM useries),
         |r AS (
         |  SELECT metric, rn, e, value, CAST(e AS DOUBLE) AS mark,
         |         CAST(0 AS DOUBLE) AS acc, CAST(0 AS BIGINT) AS n,
         |         value AS mean_val, CAST(1 AS BIGINT) AS out_n, true AS emitted
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.metric, o.rn, o.e, o.value,
         |         CASE WHEN abs(o.e - r.mark) > ${P.minSampleGapSeconds}
         |              THEN CAST(o.e AS DOUBLE) ELSE r.mark END,
         |         CASE WHEN abs(o.e - r.mark) > ${P.minSampleGapSeconds}
         |              THEN CAST(0 AS DOUBLE) ELSE r.acc + o.value END,
         |         CASE WHEN abs(o.e - r.mark) > ${P.minSampleGapSeconds}
         |              THEN CAST(0 AS BIGINT) ELSE r.n + 1 END,
         |         (r.acc + o.value) / CAST(r.n + 1 AS DOUBLE),
         |         r.n + 1,
         |         abs(o.e - r.mark) > ${P.minSampleGapSeconds}
         |  FROM r JOIN o ON o.metric = r.metric AND o.rn = r.rn + 1
         |)
         |SELECT metric, e, mean_val, out_n AS n FROM r WHERE emitted""".stripMargin,

    // Range-join oracle for the stream-stream interval join: same-user
    // purchases x trailing-hour views, raw values carried through — no
    // arithmetic to diverge.
    "stream_interval_join" ->
      s"""WITH $SERIES
         |SELECT CAST(l.user_id AS VARCHAR) AS source, l.e, l.value,
         |       r.e AS r_e, r.value AS r_value
         |FROM series l JOIN series r
         |  ON l.user_id = r.user_id
         | AND r.e >= l.e - 3600 AND r.e <= l.e
         |WHERE l.metric = 'purchase' AND r.metric = 'view'""".stripMargin,

    // Daily-bar twin of the a18 oracle over the tie-free slice (first_e /
    // last_e are unique per bar there, matching the stream's
    // struct-ordered open/close picks).
    "stream_ohlc_parity" ->
      s"""WITH $SERIES, $UNIQUE_SERIES,
         |b AS (SELECT metric, CAST(FLOOR(e/86400.0) AS BIGINT)*86400 AS bar_start, e, value
         |      FROM useries),
         |g AS (SELECT metric, bar_start, count(*) AS n,
         |             max(value) AS high, min(value) AS low,
         |             min(e) AS first_e, max(e) AS last_e
         |      FROM b GROUP BY 1, 2),
         |o AS (SELECT b.metric, b.bar_start, min(b.value) AS open
         |      FROM b JOIN g ON b.metric = g.metric AND b.bar_start = g.bar_start
         |                   AND b.e = g.first_e GROUP BY 1, 2),
         |c AS (SELECT b.metric, b.bar_start, max(b.value) AS close
         |      FROM b JOIN g ON b.metric = g.metric AND b.bar_start = g.bar_start
         |                   AND b.e = g.last_e GROUP BY 1, 2)
         |SELECT g.metric, g.bar_start, g.n, o.open, g.high, g.low, c.close
         |FROM g JOIN o ON g.metric = o.metric AND g.bar_start = o.bar_start
         |       JOIN c ON g.metric = c.metric AND g.bar_start = c.bar_start""".stripMargin,

    "a25_corr_matrix" ->
      s"""WITH $SERIES,
         |b AS (SELECT metric, CAST(FLOOR(e/60.0) AS BIGINT)*60 AS bucket,
         |        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
         |      FROM series GROUP BY 1, 2),
         |p AS (SELECT l.metric AS ma, r.metric AS mb,
         |        CAST(count(*) AS DOUBLE) AS n,
         |        CAST(CAST(SUM(l.x) AS VARCHAR) AS DOUBLE) AS sx,
         |        CAST(CAST(SUM(r.x) AS VARCHAR) AS DOUBLE) AS sy,
         |        CAST(CAST(SUM(l.x * r.x) AS VARCHAR) AS DOUBLE) AS sxy,
         |        CAST(CAST(SUM(l.x * l.x) AS VARCHAR) AS DOUBLE) AS sxx,
         |        CAST(CAST(SUM(r.x * r.x) AS VARCHAR) AS DOUBLE) AS syy
         |      FROM b l JOIN b r ON l.bucket = r.bucket AND l.metric < r.metric
         |      GROUP BY 1, 2),
         |v AS (SELECT *, sxx - sx * sx / n AS vx, syy - sy * sy / n AS vy FROM p)
         |SELECT ma, mb, CAST(n AS BIGINT) AS n_buckets,
         |       (sxy - sx * sy / n) / sqrt(vx * vy) AS corr
         |FROM v WHERE n >= 2 AND vx > 0 AND vy > 0""".stripMargin,

    // Top movers replay: day-grain decimal means, adjacent-day lag, global
    // |delta| top-K with the (metric, day) tie-break that pins WHICH rows
    // survive the limit.
    "a33_top_movers" ->
      s"""WITH $SERIES,
         |d AS (SELECT metric, CAST(FLOOR(e/86400.0) AS BIGINT)*86400 AS day,
         |        count(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS sv
         |      FROM series GROUP BY 1, 2),
         |m AS (SELECT metric, day, CAST(sv AS DOUBLE)/CAST(n AS DOUBLE) AS mean_val FROM d),
         |p AS (SELECT *, lag(mean_val) OVER w AS prev_mean, lag(day) OVER w AS prev_day
         |      FROM m WINDOW w AS (PARTITION BY metric ORDER BY day))
         |SELECT metric, day, mean_val, prev_mean, mean_val - prev_mean AS delta
         |FROM p WHERE prev_day = day - 86400
         |ORDER BY abs(mean_val - prev_mean) DESC, metric, day LIMIT 10""".stripMargin,

    // Robust MAD screen replay: the same PICKED lower-median order
    // statistics (rank (n+1) div 2 over (value|dev, event_id)), exact
    // decimals end-to-end, one final double comparison against the ONE
    // Scala-folded k·1.4826 constant (madThreshold), shipped as its
    // round-trip string so both engines compare the identical double.
    // Decimal→double conversions go via VARCHAR (the a28 contract).
    "a31_mad_outliers" ->
      s"""WITH $SERIES,
         |q AS (SELECT metric, event_id, e, value,
         |        CAST(value AS DECIMAL(18,2)) AS vd FROM series),
         |r1 AS (SELECT *, row_number() OVER (PARTITION BY metric ORDER BY vd, event_id) AS rn,
         |         count(*) OVER (PARTITION BY metric) AS n FROM q),
         |med AS (SELECT metric, vd AS med FROM r1 WHERE rn = (n + 1) // 2),
         |d AS (SELECT q.metric, q.event_id, q.e, q.value, q.vd, med.med,
         |        abs(q.vd - med.med) AS dev
         |      FROM q JOIN med USING (metric)),
         |r2 AS (SELECT *, row_number() OVER (PARTITION BY metric ORDER BY dev, event_id) AS rn,
         |         count(*) OVER (PARTITION BY metric) AS n FROM d),
         |mad AS (SELECT metric, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
         |SELECT d.metric, d.event_id, d.e, d.value,
         |       CAST(CAST(d.med AS VARCHAR) AS DOUBLE) AS med,
         |       CAST(CAST(mad.mad AS VARCHAR) AS DOUBLE) AS mad
         |FROM d JOIN mad USING (metric)
         |WHERE mad.mad > 0
         |  AND CAST(CAST(d.dev AS VARCHAR) AS DOUBLE) >
         |      CAST('${graft.operators.TrendOps.madThreshold(3.0)}' AS DOUBLE)
         |        * CAST(CAST(mad.mad AS VARCHAR) AS DOUBLE)""".stripMargin,

    // Lag-k autocorrelation: lagged pairs over the (e, event_id) total
    // order, six exact DECIMAL aggregates per (metric, lag), then the
    // identical double combine as a25 (division/sqrt AFTER the guards).
    // Sums convert via VARCHAR (the a28 contract): DuckDB's direct
    // wide-decimal→double cast is two-step (int128→double, then /10^s)
    // and diverges by ulps once the scaled sum exceeds 2^53; the string
    // parse is correctly rounded like Spark's BigDecimal.doubleValue.
    "a30_autocorr" ->
      s"""WITH $SERIES,
         |u AS (${(1 to 3).map(k =>
              s"""SELECT metric, $k AS lag, CAST(value AS DECIMAL(18,2)) AS x,
                 |  lag(CAST(value AS DECIMAL(18,2)), $k) OVER (PARTITION BY metric ORDER BY e, event_id) AS xp
                 |FROM series""".stripMargin).mkString("\nUNION ALL\n")}),
         |p AS (SELECT metric, lag,
         |        CAST(count(*) AS DOUBLE) AS n,
         |        CAST(CAST(SUM(xp) AS VARCHAR) AS DOUBLE) AS sx,
         |        CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sy,
         |        CAST(CAST(SUM(xp * x) AS VARCHAR) AS DOUBLE) AS sxy,
         |        CAST(CAST(SUM(xp * xp) AS VARCHAR) AS DOUBLE) AS sxx,
         |        CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS syy
         |      FROM u WHERE xp IS NOT NULL GROUP BY 1, 2),
         |v AS (SELECT *, sxx - sx * sx / n AS vx, syy - sy * sy / n AS vy FROM p)
         |SELECT metric, lag, CAST(n AS BIGINT) AS n_pairs,
         |       (sxy - sx * sy / n) / sqrt(vx * vy) AS acf
         |FROM v WHERE n >= 2 AND vx > 0 AND vy > 0""".stripMargin,

    "a22_gap_report" ->
      s"""WITH $SERIES,
         |d AS (SELECT metric, lag(e) OVER (PARTITION BY metric ORDER BY e, event_id) AS prev_e, e
         |      FROM series)
         |SELECT metric, prev_e AS gap_start, e AS gap_end, e - prev_e AS gap_secs
         |FROM d WHERE prev_e IS NOT NULL AND e - prev_e > ${P.minSampleGapSeconds.toLong}""".stripMargin,

    "a23_flatline" ->
      s"""WITH $SERIES,
         |q AS (SELECT metric, event_id, e, round(value, 0) AS value FROM series),
         |d AS (SELECT metric, event_id, e, value,
         |        CASE WHEN lag(value) OVER w IS NULL
         |               OR value <> lag(value) OVER w THEN 1 ELSE 0 END AS chg
         |      FROM q WINDOW w AS (PARTITION BY metric ORDER BY e, event_id)),
         |r AS (SELECT metric, e, value,
         |        sum(chg) OVER (PARTITION BY metric ORDER BY e, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
         |      FROM d),
         |g AS (SELECT metric, run_id, count(*) AS n,
         |        min(e) AS run_start, max(e) AS run_end, min(value) AS value
         |      FROM r GROUP BY 1, 2)
         |SELECT metric, n, run_start, run_end, value FROM g WHERE n >= 2""".stripMargin,

    "f6_ltob" ->
      s"""WITH $SERIES,
         |n AS (SELECT metric, event_id, e, value,
         |        lag(e) OVER w AS prev_e, lag(value) OVER w AS prev_v,
         |        lead(e) OVER w AS next_e, lead(value) OVER w AS next_v
         |      FROM series WINDOW w AS (PARTITION BY metric ORDER BY e, event_id)),
         |a AS (SELECT metric, event_id, e, value, CAST(FLOOR(e/3600.0) AS BIGINT)*3600 AS bucket_start,
         |        CASE WHEN prev_e IS NULL OR next_e IS NULL THEN CAST('inf' AS DOUBLE)
         |             ELSE abs((prev_e - next_e) * (value - prev_v) -
         |                      (prev_e - e) * (next_v - prev_v)) END AS area
         |      FROM n),
         |r AS (SELECT metric, bucket_start, e, value,
         |        row_number() OVER (PARTITION BY metric, bucket_start
         |          ORDER BY area DESC, e, event_id) AS rk
         |      FROM a)
         |SELECT metric, bucket_start, e, value FROM r WHERE rk = 1""".stripMargin,

    "q_asof_tolerance" ->
      s"""WITH $SERIES,
         |u AS (
         |  SELECT user_id, e AS t, 1 AS side, CAST(NULL AS BIGINT) AS tb,
         |         event_id AS p_id, e AS p_e,
         |         CAST(NULL AS BIGINT) AS c_id, CAST(NULL AS BIGINT) AS c_e,
         |         CAST(NULL AS DOUBLE) AS c_val
         |  FROM series WHERE metric = 'purchase'
         |  UNION ALL
         |  SELECT user_id, e, 0, event_id, NULL, NULL, event_id, e, value
         |  FROM series WHERE metric = 'click'),
         |w AS (SELECT *,
         |  last_value(c_id IGNORE NULLS) OVER win AS click_id,
         |  last_value(c_e IGNORE NULLS) OVER win AS click_e,
         |  last_value(c_val IGNORE NULLS) OVER win AS click_val
         |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY t, side, tb NULLS LAST
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT p_id AS purchase_id, user_id, p_e AS purchase_e,
         |       CASE WHEN t - click_e <= 3600 THEN click_id END AS click_id,
         |       CASE WHEN t - click_e <= 3600 THEN click_e END AS click_e,
         |       CASE WHEN t - click_e <= 3600 THEN click_val END AS click_val
         |FROM w WHERE side = 1""".stripMargin,

    // SimHash Hamming-verify oracle over the Spark-exported candidate set
    // (see the simhash_verify query comment): pure bit arithmetic — a
    // single XOR + popcount + threshold that DuckDB evaluates independently
    // over the same (sig_a, sig_b) pairs.
    "simhash_verify" -> simhashVerifyOracle("simhash_cands"),
    "stream_simhash_verify" -> simhashVerifyOracle("stream_simhash_cands"),

    // MinHash Jaccard-verify oracle over the Spark-exported candidate set:
    // DuckDB rebuilds the SAME planted corpus (every 50th doc + a variant
    // with the last 3 tokens dropped), re-shingles both sides of each
    // exported candidate pair (trigram shingles, whole-text fallback below
    // 3 tokens — the proven text_jaccard_adjacent construction), and
    // recomputes |∩|/|∪| with the engine's >= 0.6 gate on the unrounded
    // value.
    "minhash_verify" -> minhashVerifyOracle("minhash_cands"),
    // Same verify replay, but over the pairs the STREAMING TTL-bucket
    // gate emitted — the exported set is the only thing that differs.
    "stream_neardup_verify" -> minhashVerifyOracle("stream_neardup_cands"),

    // Embedding near-dup cosine-verify oracle: the exported candidate pairs
    // carry their vectors, so DuckDB recomputes the cosine entirely from
    // va/vb (list_dot_product on cast-to-double arrays — the proven parity
    // contract) and applies the same >= 0.95 gate on the unrounded value.
    "embedding_verify" -> embeddingVerifyOracle("embneardup_cands"),
    // Same verify replay over the pairs the STREAMING LSH gate emitted.
    "stream_embedding_verify" -> embeddingVerifyOracle("stream_emb_cands"),

    // ANN rerank oracles over the Spark-exported candidate lists: cosine
    // via list_dot_product on cast-to-double vectors (the proven
    // ann_topk_brute parity contract), row_number with the engine's
    // (score DESC, c_id) tie-break, round to 6.
    "ann_rerank_lsh" -> annRerankOracle("ann_cands_lsh"),
    "ann_rerank_ivf" -> annRerankOracle("ann_cands_ivf"),

    // Recall@k oracle over the Spark-exported exact + approximate top-k
    // lists: per-method LEFT join replay of the hit-count / k computation.
    "ann_recall_verify" ->
      s"""WITH e AS (SELECT q_id, c_id FROM read_parquet('${exportGlob("recall_exact")}')),
         |l AS (SELECT q_id, c_id FROM read_parquet('${exportGlob("recall_lsh")}')),
         |i AS (SELECT q_id, c_id FROM read_parquet('${exportGlob("recall_ivf")}'))
         |SELECT 'lsh' AS method, e.q_id,
         |       CAST(count(l.c_id) AS DOUBLE) / count(*) AS recall
         |FROM e LEFT JOIN l ON l.q_id = e.q_id AND l.c_id = e.c_id
         |GROUP BY e.q_id
         |UNION ALL
         |SELECT 'ivf' AS method, e.q_id,
         |       CAST(count(i.c_id) AS DOUBLE) / count(*) AS recall
         |FROM e LEFT JOIN i ON i.q_id = e.q_id AND i.c_id = e.c_id
         |GROUP BY e.q_id""".stripMargin,

    // k-means assignment oracle over the Spark-exported centroid MODEL:
    // nearest centroid = argmax dot (TopCentroids' contract), ties to the
    // lower cluster_id — exactly row_number ordered by (score DESC,
    // cluster_id).
    "kmeans_assign" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT cluster_id, cv FROM read_parquet('${exportGlob("kmeans_centroids")}')),
         |s AS (SELECT vec_id, cluster_id, list_dot_product(e.v, c.cv) AS score
         |      FROM e CROSS JOIN c),
         |r AS (SELECT vec_id, cluster_id,
         |        row_number() OVER (PARTITION BY vec_id
         |          ORDER BY score DESC, cluster_id) AS rk FROM s)
         |SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id
         |FROM r WHERE rk = 1""".stripMargin,

    // SemDeDup keep-set oracle: the full decision chain re-derived — the
    // planted-twin corpus rebuilt from the twin export, assignment over
    // the exported centroid model (argmax dot, lower-cluster tie-break:
    // kmeans_assign's proven form), within-cluster (a < b) pairs, the
    // exact-cosine >= tau gate with the SAME evaluation shape as the
    // Spark side (dot / (sqrt(dot)·sqrt(dot)), left-to-right folds both
    // engines), and the final NOT-IN anti-join.
    "semdedup_keep" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |           UNION ALL
         |           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM read_parquet('${exportGlob("semdedup_twins")}')),
         |c AS (SELECT cluster_id, cv FROM read_parquet('${exportGlob("semdedup_centroids")}')),
         |s AS (SELECT e.vec_id, e.v, c.cluster_id,
         |        list_dot_product(e.v, c.cv) AS score
         |      FROM e CROSS JOIN c),
         |asg AS (SELECT vec_id, v, cluster_id FROM (
         |          SELECT vec_id, v, cluster_id,
         |            row_number() OVER (PARTITION BY vec_id
         |              ORDER BY score DESC, cluster_id) AS rk
         |          FROM s) WHERE rk = 1),
         |p AS (SELECT b.vec_id AS dropped
         |      FROM asg a JOIN asg b
         |        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
         |      WHERE list_dot_product(a.v, b.v) /
         |              (sqrt(list_dot_product(a.v, a.v)) *
         |               sqrt(list_dot_product(b.v, b.v))) >= 0.96)
         |SELECT vec_id FROM e
         |WHERE vec_id NOT IN (SELECT dropped FROM p)""".stripMargin,

    // Faithful anchored-gap decimation over the newest-N-per-metric slice:
    // the recursive CTE walks the kept chain exactly as the reference's
    // sequential scan does — seed at the newest row, then repeatedly take
    // the newest remaining row strictly more than the gap below the last
    // KEPT timestamp (LATERAL … ORDER BY e DESC, event_id DESC LIMIT 1).
    "f1_decimate_faithful_slice" ->
      s"""WITH RECURSIVE $SERIES,
         |sl AS (SELECT metric, e, value, event_id,
         |         row_number() OVER (PARTITION BY metric
         |           ORDER BY e DESC, event_id DESC) AS rn
         |       FROM series QUALIFY rn <= $F1_SLICE_N),
         |k AS (
         |  SELECT metric, e, value, event_id FROM sl WHERE rn = 1
         |  UNION ALL
         |  SELECT n.metric, n.e, n.value, n.event_id
         |  FROM k, LATERAL (SELECT s.metric, s.e, s.value, s.event_id
         |                   FROM sl s
         |                   WHERE s.metric = k.metric
         |                     AND s.e < k.e - ${P.minSampleGapSeconds}
         |                   ORDER BY s.e DESC, s.event_id DESC LIMIT 1) n
         |)
         |SELECT metric, e, value, event_id FROM k""".stripMargin,

    // The FULL faithful decimation, promoted to a hash oracle: same
    // set-wise chain validation as f1_decimate_verify below, over this
    // query's own export. Hash-match ⟺ no metric violates any chain
    // property ⟺ the export is the unique anchored-gap chain.
    "f1_decimate_faithful" ->
      s"""WITH $SERIES,
         |k AS (SELECT metric, e, value, event_id
         |      FROM read_parquet('${exportGlob("f1_decimate_full")}')),
         |ord AS (SELECT *,
         |    row_number() OVER (PARTITION BY metric ORDER BY e DESC, event_id DESC) AS rk,
         |    row_number() OVER (PARTITION BY metric ORDER BY e ASC, event_id ASC) AS rka
         |  FROM k),
         |pairs AS (SELECT p.metric, p.e AS pe, n.e AS ne, n.event_id AS nid
         |          FROM ord p JOIN ord n ON n.metric = p.metric AND n.rk = p.rk + 1),
         |stop AS (SELECT metric, e, event_id FROM series
         |         QUALIFY row_number() OVER (PARTITION BY metric ORDER BY e DESC, event_id DESC) = 1),
         |v1 AS (SELECT t.metric FROM ord t JOIN stop s ON t.metric = s.metric
         |       WHERE t.rk = 1 AND (t.e != s.e OR t.event_id != s.event_id)),
         |v2 AS (SELECT metric FROM pairs WHERE NOT (ne < pe - ${P.minSampleGapSeconds})),
         |v3 AS (SELECT DISTINCT p.metric FROM series s JOIN pairs p
         |       ON s.metric = p.metric
         |      AND ((s.e > p.ne AND s.e < p.pe - ${P.minSampleGapSeconds})
         |           OR (s.e = p.ne AND s.event_id > p.nid))),
         |v4 AS (SELECT DISTINCT s.metric FROM series s JOIN ord b
         |       ON s.metric = b.metric AND b.rka = 1
         |      AND s.e < b.e - ${P.minSampleGapSeconds}),
         |v5 AS (SELECT t.metric FROM k t LEFT JOIN series s
         |       ON s.metric = t.metric AND s.e = t.e
         |      AND s.event_id = t.event_id AND s.value = t.value
         |       WHERE s.metric IS NULL),
         |bad AS (SELECT metric FROM v1 UNION SELECT metric FROM v2
         |        UNION SELECT metric FROM v3 UNION SELECT metric FROM v4
         |        UNION SELECT metric FROM v5),
         |v6 AS (SELECT DISTINCT s.metric FROM series s
         |       WHERE s.metric NOT IN (SELECT metric FROM k))
         |SELECT metric, e, value, event_id FROM k
         |WHERE metric NOT IN (SELECT metric FROM bad)
         |UNION ALL
         |SELECT metric, CAST(-1 AS BIGINT) AS e, CAST(0 AS DOUBLE) AS value,
         |       CAST(-1 AS BIGINT) AS event_id FROM v6""".stripMargin,

    // Full-series chain validation of the exported faithful decimation:
    // instead of a sequential replay (unaffordable beyond the slice), the
    // anchored-gap chain's DEFINING properties are checked set-wise —
    // consecutive-kept intervals are disjoint, so each is one violation
    // join. Any violating metric drops out of the result and fails the
    // compare against the Spark export.
    "f1_decimate_verify" ->
      s"""WITH $SERIES,
         |k AS (SELECT metric, e, value, event_id
         |      FROM read_parquet('${exportGlob("f1_decimate_verify")}')),
         |ord AS (SELECT *,
         |    row_number() OVER (PARTITION BY metric ORDER BY e DESC, event_id DESC) AS rk,
         |    row_number() OVER (PARTITION BY metric ORDER BY e ASC, event_id ASC) AS rka
         |  FROM k),
         |pairs AS (SELECT p.metric, p.e AS pe, n.e AS ne, n.event_id AS nid
         |          FROM ord p JOIN ord n ON n.metric = p.metric AND n.rk = p.rk + 1),
         |stop AS (SELECT metric, e, event_id FROM series
         |         QUALIFY row_number() OVER (PARTITION BY metric ORDER BY e DESC, event_id DESC) = 1),
         |v1 AS (SELECT t.metric FROM ord t JOIN stop s ON t.metric = s.metric
         |       WHERE t.rk = 1 AND (t.e != s.e OR t.event_id != s.event_id)),
         |v2 AS (SELECT metric FROM pairs WHERE NOT (ne < pe - ${P.minSampleGapSeconds})),
         |v3 AS (SELECT DISTINCT p.metric FROM series s JOIN pairs p
         |       ON s.metric = p.metric
         |      AND ((s.e > p.ne AND s.e < p.pe - ${P.minSampleGapSeconds})
         |           OR (s.e = p.ne AND s.event_id > p.nid))),
         |v4 AS (SELECT DISTINCT s.metric FROM series s JOIN ord b
         |       ON s.metric = b.metric AND b.rka = 1
         |      AND s.e < b.e - ${P.minSampleGapSeconds}),
         |v5 AS (SELECT t.metric FROM k t LEFT JOIN series s
         |       ON s.metric = t.metric AND s.e = t.e
         |      AND s.event_id = t.event_id AND s.value = t.value
         |       WHERE s.metric IS NULL),
         |bad AS (SELECT metric FROM v1 UNION SELECT metric FROM v2
         |        UNION SELECT metric FROM v3 UNION SELECT metric FROM v4
         |        UNION SELECT metric FROM v5),
         |v6 AS (SELECT DISTINCT s.metric FROM series s
         |       WHERE s.metric NOT IN (SELECT metric FROM k))
         |SELECT metric, e, value, event_id FROM k
         |WHERE metric NOT IN (SELECT metric FROM bad)
         |UNION ALL
         |SELECT metric, CAST(-1 AS BIGINT) AS e, CAST(0 AS DOUBLE) AS value,
         |       CAST(-1 AS BIGINT) AS event_id FROM v6""".stripMargin,

    // Clustering-stage oracle over the Spark-exported LSH edge list (see
    // the neardup_groups query comment): the same recursive-CTE component
    // labeling as neardup_cc, but over exactly the edges the Spark side
    // clustered — so a wrong label, size, or representative in the
    // distributed min-label/pointer-jump loop fails here.
    // Near-dup keep/drop decision replayed over the exported edge set:
    // same recursive-CTE clustering, then the representative test per doc
    // of the SAME planted corpus the Spark side built.
    "neardup_keep" ->
      s"""WITH RECURSIVE
         |docs AS (SELECT doc_id FROM documents
         |         UNION ALL
         |         SELECT doc_id + 1000000 FROM documents WHERE doc_id % 50 = 0),
         |e0 AS (SELECT doc_a AS src, doc_b AS dst
         |       FROM read_parquet('${exportGlob("neardup_keep_edges")}')),
         |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         |cc AS (SELECT src AS doc_id, src AS label FROM e
         |       UNION
         |       SELECT e.dst AS doc_id, cc.label
         |       FROM cc JOIN e ON e.src = cc.doc_id WHERE cc.label < e.dst),
         |lab AS (SELECT doc_id, min(label) AS label FROM cc GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(lab.label, d.doc_id) AS label,
         |       COALESCE(lab.label, d.doc_id) = d.doc_id AS kept
         |FROM docs d LEFT JOIN lab ON lab.doc_id = d.doc_id""".stripMargin,

    // Clustering replay over the exported edges PLUS the quality formula
    // recomputed in SQL (the proven text_quality expression) over the
    // same planted corpus: the representative is row_number 1 by
    // (score DESC, doc_id) within each component.
    "neardup_keep_quality" ->
      s"""WITH RECURSIVE
         |docs AS (SELECT doc_id, text FROM documents
         |         UNION ALL
         |         SELECT doc_id + 1000000 AS doc_id,
         |                array_to_string(w[1:GREATEST(len(w)-3, 1)], ' ') AS text
         |         FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
         |               FROM documents WHERE doc_id % 50 = 0)),
         |q AS (SELECT doc_id,
         |        GREATEST(0.0,
         |          LEAST(len(string_split_regex(text, '\\s+'))/100.0, 1.0) *
         |          (1.0 - CAST(length(text) -
         |                 length(regexp_replace(text, '[\\.,;:!?]', '', 'g'))
         |                 AS DOUBLE)/length(text))) AS score
         |      FROM docs),
         |e0 AS (SELECT doc_a AS src, doc_b AS dst
         |       FROM read_parquet('${exportGlob("neardup_q_edges")}')),
         |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         |cc AS (SELECT src AS doc_id, src AS label FROM e
         |       UNION
         |       SELECT e.dst AS doc_id, cc.label
         |       FROM cc JOIN e ON e.src = cc.doc_id WHERE cc.label < e.dst),
         |lab AS (SELECT doc_id, min(label) AS label FROM cc GROUP BY doc_id),
         |f AS (SELECT q.doc_id, COALESCE(lab.label, q.doc_id) AS label, q.score
         |      FROM q LEFT JOIN lab ON lab.doc_id = q.doc_id),
         |r AS (SELECT doc_id, label, score,
         |        row_number() OVER (PARTITION BY label
         |          ORDER BY score DESC, doc_id) AS rk FROM f)
         |SELECT doc_id, label, score, rk = 1 AS kept FROM r""".stripMargin,

    "neardup_groups" ->
      s"""WITH RECURSIVE
         |e0 AS (SELECT doc_a AS src, doc_b AS dst
         |       FROM read_parquet('${exportGlob("neardup_edges")}')),
         |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         |cc AS (SELECT src AS doc_id, src AS label FROM e
         |       UNION
         |       SELECT e.dst AS doc_id, cc.label
         |       FROM cc JOIN e ON e.src = cc.doc_id WHERE cc.label < e.dst),
         |lab AS (SELECT doc_id, min(label) AS label FROM cc GROUP BY doc_id)
         |SELECT label, count(*) AS cluster_size, max(doc_id) AS max_doc_id
         |FROM lab GROUP BY label""".stripMargin,

    // Recursive-CTE connected components: only labels smaller than the
    // destination propagate (the component minimum out-propagates every
    // other label), UNION dedups the accumulated (node, label) set, and the
    // final min per node is the component id.
    "neardup_cc" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
        |         THEN list_transform(generate_series(1, len(w)-2),
        |                             i -> array_to_string(w[i:i+2], ' '))
        |         ELSE [array_to_string(w, ' ')] END) AS s FROM t),
        |e0 AS (SELECT a.doc_id AS src, b.doc_id AS dst
        |       FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |       WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |             len(list_distinct(a.s || b.s)) >= 0.01),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |cc AS (SELECT src AS doc_id, src AS label FROM e
        |       UNION
        |       SELECT e.dst AS doc_id, cc.label
        |       FROM cc JOIN e ON e.src = cc.doc_id WHERE cc.label < e.dst)
        |SELECT doc_id, min(label) AS label FROM cc GROUP BY doc_id""".stripMargin,

    "a21_seasonal_anomaly" ->
      s"""WITH $SERIES,
         |h AS (SELECT metric, CAST((((e % 86400) + 86400) % 86400) // 3600 AS INT) AS hour_of_day, value FROM series),
         |st AS (SELECT metric, hour_of_day, CAST(count(*) AS DOUBLE) AS sn,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS svv
         |  FROM h GROUP BY 1, 2),
         |wide AS (SELECT h.metric, h.hour_of_day, h.value, sv/sn AS mu,
         |                sqrt((svv - sv*sv/sn)/(sn - 1)) AS sd
         |         FROM h JOIN st ON h.metric = st.metric AND h.hour_of_day = st.hour_of_day
         |         WHERE sn >= 2)
         |SELECT metric, hour_of_day, count(*) AS n_anomalies,
         |       min(value) AS min_v, max(value) AS max_v
         |FROM wide WHERE abs(value - mu) > sd * 3 GROUP BY 1, 2""".stripMargin,

    "pack_sequences" ->
      """WITH t AS (SELECT doc_id, doc_id % 8 AS grp,
        |             CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT doc_id, grp, n_tokens,
        |        CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |      FROM t)
        |SELECT doc_id, grp, CAST(start_offset // 2048 AS BIGINT) AS bin, start_offset, n_tokens
        |FROM c""".stripMargin,

    // tf·N exact integer product, ONE double division — bit-reproducible.
    "text_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
        |              FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (SELECT doc_id, tf.term,
        |         CAST(tf * n.n AS DOUBLE) / CAST(df AS DOUBLE) AS score
        |       FROM tf JOIN idf ON tf.term = idf.term CROSS JOIN n),
        |r AS (SELECT doc_id, term, score,
        |        CAST(row_number() OVER (PARTITION BY doc_id
        |          ORDER BY score DESC, term) AS BIGINT) AS rk
        |      FROM sc)
        |SELECT doc_id, rk, term, score FROM r WHERE rk <= 5""".stripMargin,

    "q_cheapest_supplier" ->
      """WITH m AS (SELECT l_partkey,
        |             min(CAST(l_extendedprice AS DECIMAL(18,2))) AS mp
        |           FROM lineitem GROUP BY 1)
        |SELECT l.l_partkey, CAST(m.mp AS DOUBLE) AS min_price,
        |       min(l.l_suppkey) AS supp
        |FROM lineitem l
        |JOIN m ON l.l_partkey = m.l_partkey
        |      AND CAST(l.l_extendedprice AS DECIMAL(18,2)) = m.mp
        |GROUP BY 1, 2""".stripMargin
  )
}
