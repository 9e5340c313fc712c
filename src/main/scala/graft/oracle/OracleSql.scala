package graft.oracle

/** DuckDB oracle SQL, one val per q_* key (SURVEY.md §2 / §7.3).
  *
  * Discipline shared with the Spark side:
  *  - money sums:   CAST(CAST(SUM(CAST(expr AS DECIMAL(28,s))) AS VARCHAR) AS DOUBLE) with
  *    cast scale s ≥ the expression's true decimal scale (see ops/Util)
  *  - averages:     decimal-sum→double / COUNT(*)
  *  - every query ends in a total ORDER BY over a provably unique key
  *    set with explicit NULLS FIRST/LAST (Spark ASC default is NULLS
  *    FIRST, DuckDB's is NULLS LAST — always spell it out), and every
  *    computed column is aliased identically on both sides (the driver
  *    sorts columns by name before hashing).
  */
object OracleSql {

  /** Collapse authored SQL to one whitespace-normalized line. */
  private def n(sql: String): String = sql.replaceAll("\\s+", " ").trim

  val qAggGroupby: String = n("""
    SELECT l_returnflag, l_linestatus,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
      CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
      CAST(CAST(SUM(CAST(l_discount AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")

  // ---- §2.4 aggregations ----

  val qAggGlobal: String = n("""
    SELECT COUNT(*) AS n,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      MIN(l_extendedprice) AS min_price,
      MAX(l_extendedprice) AS max_price,
      COUNT(DISTINCT l_suppkey) AS n_supp
    FROM lineitem""")

  val qAggDistinct: String = n("""
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")

  val qAggMultidistinct: String = n("""
    SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
      COUNT(DISTINCT l_partkey) AS n_part, COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")

  val qAggHaving: String = n("""
    SELECT o_custkey, COUNT(*) AS n_orders,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total_price
    FROM orders GROUP BY o_custkey
    HAVING COUNT(*) >= 15 ORDER BY o_custkey""")

  val qAggStats: String = n("""
    SELECT event_type, COUNT(*) AS n,
      MIN(value) AS min_value, MAX(value) AS max_value,
      CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_value,
      round(stddev_samp(value), 4) AS std_value,
      round(var_samp(value), 4) AS var_value
    FROM events GROUP BY event_type ORDER BY event_type""")

  // ROW_NUMBER over (value DESC, event_id DESC) rather than arg_max:
  // DuckDB's arg_max(event_id, value) has unspecified tie-breaking, the
  // window picks the same (max value, max event_id) Spark's max_by-with-
  // struct-tiebreak does even if a user's max value is duplicated.
  val qAggArgmax: String = n("""
    SELECT user_id, best_event, max_value FROM (
      SELECT user_id, event_id AS best_event, value AS max_value,
        ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY value DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1 ORDER BY user_id""")

  val qAggCollectSorted: String = n("""
    SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), '|') AS types
    FROM events GROUP BY user_id ORDER BY user_id""")

  val qAggRollup: String = n("""
    SELECT r_name, n_name, COUNT(*) AS n_cust,
      CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")

  val qAggCube: String = n("""
    SELECT l_returnflag, l_linestatus,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")

  val qAggGroupingSets: String = n("""
    SELECT r_name, n_name, COUNT(*) AS n_cust,
      (CASE WHEN r_name IS NULL THEN 2 ELSE 0 END
       + CASE WHEN n_name IS NULL THEN 1 ELSE 0 END) AS gid
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
    ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")

  val qAggPercentileExact: String = n("""
    SELECT event_type,
      round(quantile_cont(value, 0.5), 4) AS p50,
      round(quantile_cont(value, 0.95), 4) AS p95
    FROM events GROUP BY event_type ORDER BY event_type""")

  // ---- §2.8 scalar functions ----

  val qFnString: String = n("""
    SELECT p_partkey,
      upper(p_name) AS uname,
      lower(p_type) AS ltype,
      substring(p_name, 1, 5) AS prefix,
      length(p_name) AS name_len,
      trim(concat('  ', p_name, '  ')) AS trimmed,
      concat_ws('|', p_brand, p_type) AS brand_type,
      regexp_replace(p_name, ' ', '_', 'g') AS snake,
      regexp_extract(p_name, '^(\w+)', 1) AS first_word
    FROM part ORDER BY p_partkey""")

  val qFnDate: String = n("""
    SELECT event_id,
      date_trunc('hour', ts) AS hour_ts,
      CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
      date_part('year', ts) AS y,
      date_part('month', ts) AS m,
      date_part('day', ts) AS d,
      date_part('dow', ts) + 1 AS dow1,
      date_diff('day', CAST(ts AS DATE), DATE '2024-12-31') AS days_left,
      ts + INTERVAL 36 HOUR AS ts_plus
    FROM events ORDER BY event_id""")

  val qFnMath: String = n("""
    SELECT p_partkey,
      abs(p_retailprice - 950) AS abs_diff,
      ceil(p_retailprice) AS ceil_price,
      floor(p_retailprice) AS floor_price,
      round(sqrt(p_retailprice), 4) AS sqrt_price,
      round(ln(p_retailprice), 4) AS ln_price,
      round(exp(p_retailprice / 1000), 4) AS exp_scaled,
      round(pow(p_retailprice, 1.5), 2) AS pow_price,
      p_partkey % 7 AS key_mod,
      CAST(sign(p_retailprice - 950) AS DOUBLE) AS sign_diff
    FROM part ORDER BY p_partkey""")

  val qFnConditional: String = n("""
    SELECT o_orderkey,
      CASE WHEN o_totalprice > 300000 THEN 'high'
           WHEN o_totalprice > 150000 THEN 'mid'
           ELSE 'low' END AS tier,
      CASE WHEN o_orderstatus = 'O' THEN 'open' ELSE 'closed' END AS state,
      NULLIF(o_orderpriority, '4-NOT SPECIFIED') AS prio,
      greatest(o_totalprice, 100000.0) AS floor100k,
      least(o_totalprice, 100000.0) AS cap100k
    FROM orders ORDER BY o_orderkey""")

  val qFnCast: String = n("""
    SELECT o_orderkey,
      CAST(o_orderkey AS VARCHAR) AS key_str,
      CAST(CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS VARCHAR) AS DOUBLE) AS price_dec,
      CAST(trunc(o_totalprice) AS BIGINT) AS price_int,
      CAST(o_orderdate AS VARCHAR) AS date_str,
      CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS date_only,
      TIMESTAMP '2024-03-15 12:30:00' AS fixed_ts
    FROM orders ORDER BY o_orderkey""")

  val qFnArray: String = n("""
    SELECT doc_id,
      len(string_split(text, ' ')) AS n_tokens,
      list_contains(string_split(text, ' '), 'key') AS has_key,
      array_to_string(list_slice(string_split(text, ' '), 1, 5), '|') AS first5,
      array_to_string(list_sort(list_distinct(string_split(text, ' '))), '|') AS vocab,
      len(list_distinct(string_split(text, ' '))) AS n_distinct
    FROM documents ORDER BY doc_id""")

  val qFnArrayHof: String = n("""
    SELECT vec_id,
      round(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                        (a, b) -> a + b), 4) AS vec_sum,
      round(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                        (a, b) -> a + b), 4) AS norm_sq,
      round(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * 2.0),
                        (a, b) -> a + b), 4) AS doubled_sum,
      len(list_filter(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x > 0)) AS n_pos
    FROM embeddings ORDER BY vec_id""")

  val qFnMap: String = n("""
    SELECT event_id,
      event_type AS mtype,
      CAST(user_id AS VARCHAR) AS muid,
      'type|uid' AS mkeys,
      CAST(json_extract_string(props, '$.k') AS INT) AS k_via_map
    FROM events ORDER BY event_id""")

  val qFnJson: String = n("""
    SELECT event_id,
      CAST(json_extract_string(props, '$.k') AS INT) AS k,
      concat('{"event_type":"', event_type, '","k":',
             json_extract_string(props, '$.k'), '}') AS json_out
    FROM events ORDER BY event_id""")

  // ---- §2.9 time-series composites ----

  val qTsTumbling: String = n("""
    SELECT date_trunc('hour', ts) AS bucket, event_type, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sum_value,
      MIN(value) AS min_value, MAX(value) AS max_value
    FROM events GROUP BY bucket, event_type
    ORDER BY bucket, event_type""")

  val qTsDownsampleOhlc: String = n("""
    SELECT date_trunc('hour', ts) AS bucket,
      arg_min(value, ts) AS open, MAX(value) AS high,
      MIN(value) AS low, arg_max(value, ts) AS close,
      COUNT(*) AS n
    FROM events GROUP BY bucket ORDER BY bucket""")

  val qTsRate: String = n("""
    SELECT event_id, user_id,
      (value - LAG(value, 1) OVER w)
        / ((epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w) / 1000000.0) AS rate
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id""")

  val qTsCounterReset: String = n("""
    SELECT event_id, user_id,
      round(CASE WHEN value - LAG(value, 1) OVER w < 0 THEN value
                 ELSE value - LAG(value, 1) OVER w END, 6) AS increase
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id""")

  val qTsAnomaly: String = n("""
    SELECT event_id, user_id, value, round(zraw, 4) AS z FROM (
      SELECT event_id, user_id, value, n20, sd,
        (value - mu) / sd AS zraw
      FROM (
        SELECT event_id, user_id, value,
          COUNT(value) OVER f AS n20,
          CAST(CAST(SUM(CAST(value AS DECIMAL(28,2))) OVER f AS VARCHAR) AS DOUBLE)
            / COUNT(value) OVER f AS mu,
          sqrt(greatest((CAST(CAST(SUM(CAST(value * value AS DECIMAL(28,4))) OVER f AS VARCHAR) AS DOUBLE)
                - CAST(CAST(SUM(CAST(value AS DECIMAL(28,2))) OVER f AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(SUM(CAST(value AS DECIMAL(28,2))) OVER f AS VARCHAR) AS DOUBLE)
                  / COUNT(value) OVER f)
               / (COUNT(value) OVER f - 1), 0.0)) AS sd
        FROM events
        WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)) inner_t) t
    WHERE n20 >= 5 AND sd > 0 AND abs(zraw) > 3
    ORDER BY event_id""")

  val qTsGapfill: String = n("""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS cnt
      FROM events GROUP BY 1),
    bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
      FROM events),
    axis AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds)
    SELECT axis.bucket AS bucket, COALESCE(cnt, 0) AS n
    FROM axis LEFT JOIN hourly ON axis.bucket = hourly.bucket
    ORDER BY bucket""")

  val qTsSessionize: String = n("""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
             THEN 1 ELSE 0 END AS newsess
      FROM events),
    sessioned AS (
      SELECT user_id, ts,
        CAST(SUM(newsess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS sess
      FROM flagged)
    SELECT user_id, sess, COUNT(*) AS n_events, MIN(ts) AS session_start,
      (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS duration_s
    FROM sessioned GROUP BY user_id, sess ORDER BY user_id, sess""")

  val qTsSessionConcurrency: String = n("""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
             THEN 1 ELSE 0 END AS newsess
      FROM events),
    sessioned AS (
      SELECT user_id, ts,
        CAST(SUM(newsess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS sess
      FROM flagged),
    sess AS (
      SELECT user_id, sess,
        epoch_us(MIN(ts)) // 3600000000 AS h_lo,
        epoch_us(MAX(ts)) // 3600000000 AS h_hi
      FROM sessioned GROUP BY user_id, sess),
    hours AS (
      SELECT user_id, unnest(range(h_lo, h_hi + 1)) AS hour FROM sess)
    SELECT hour, COUNT(*) AS live_sessions,
      COUNT(DISTINCT user_id) AS live_users
    FROM hours GROUP BY hour ORDER BY hour ASC NULLS FIRST""")

  val qTsRetention: String = n("""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events)
    SELECT a.day AS day, COUNT(*) AS retained
    FROM days a JOIN days b
      ON a.user_id = b.user_id AND b.day = a.day + INTERVAL 1 DAY
    GROUP BY a.day ORDER BY day""")

  // ---- §2.11 LLM-pipeline text/dedup/vector ops ----

  val qDedupExact: String = n("""
    SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS norm_hash,
      MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
    FROM documents GROUP BY norm_hash ORDER BY keep_id""")

  val qDedupProfile: String = n("""
    WITH g AS (
      SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS h,
        COUNT(*) AS n_copies,
        CAST(SUM(n_chars) AS BIGINT) AS tot_chars,
        arg_min(n_chars, doc_id) AS keep_chars
      FROM documents GROUP BY 1)
    SELECT n_copies, COUNT(*) AS n_groups,
      CAST(SUM(tot_chars) AS BIGINT) AS sum_chars,
      CAST(SUM(tot_chars - keep_chars) AS BIGINT) AS chars_saved
    FROM g GROUP BY n_copies ORDER BY n_copies ASC NULLS FIRST""")

  val qDedupJaccard: String = n("""
    WITH toks AS (
      SELECT doc_id, lang, n_chars,
        list_distinct(string_split(text, ' ')) AS tk
      FROM documents)
    SELECT a_id, b_id, jaccard FROM (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
              / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
      FROM toks a JOIN toks b
        ON a.doc_id < b.doc_id AND a.lang = b.lang
       AND abs(a.n_chars - b.n_chars) <= 25) t
    WHERE jaccard >= 0.6 ORDER BY a_id, b_id""")

  val qSimSearchTopk: String = n("""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, round(dot / (sqrt(nv) * sqrt(nq)), 4) AS sim FROM (
      SELECT vec_id,
        list_reduce(list_transform(generate_series(1, 64),
          i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (a, b) -> a + b) AS dot,
        list_reduce(list_transform(generate_series(1, 64),
          i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (a, b) -> a + b) AS nv,
        list_reduce(list_transform(generate_series(1, 64),
          i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (a, b) -> a + b) AS nq
      FROM embeddings, q) t
    ORDER BY sim DESC, vec_id LIMIT 10""")

  val qSimKnnJoin: String = n("""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
      FROM embeddings),
    nv AS (
      SELECT vec_id, dv,
        sqrt(list_reduce(list_transform(dv, x -> x * x), (a, b) -> a + b)) AS nrm
      FROM v)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      round(list_reduce(list_transform(generate_series(1, 64),
              i -> a.dv[i] * b.dv[i]), (x, y) -> x + y)
            / (a.nrm * b.nrm), 4) AS sim
    FROM nv a JOIN nv b ON a.vec_id < b.vec_id
    ORDER BY sim DESC, a_id, b_id LIMIT 20""")

  val qTextStats: String = n("""
    SELECT lang, source, COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM documents GROUP BY lang, source ORDER BY lang, source""")

  val qTextTf: String = n("""
    SELECT token, COUNT(*) AS n FROM (
      SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) t
    WHERE token <> ''
    GROUP BY token ORDER BY n DESC, token LIMIT 50""")

  val qMultimodalJoin: String = n("""
    WITH j AS (
      SELECT lang, n_chars,
        round(list_reduce(list_transform(embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b), 4) AS norm_sq
      FROM documents JOIN embeddings ON doc_id = vec_id
      WHERE label < 5)
    SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      CAST(CAST(SUM(CAST(norm_sq AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_norm
    FROM j GROUP BY lang ORDER BY lang""")

  // ---- §2.5 windows ----

  val qWinRownumber: String = n("""
    SELECT o_custkey, rn, o_orderkey, o_orderdate FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
        ROW_NUMBER() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 3 ORDER BY o_custkey, rn""")

  val qWinRank: String = n("""
    SELECT p_partkey, p_brand, p_retailprice,
      RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC)
    ORDER BY p_partkey""")

  val qWinLagDelta: String = n("""
    SELECT event_id, user_id,
      value - LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events ORDER BY event_id""")

  val qWinMovingAvg: String = n("""
    SELECT event_id, user_id,
      CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS VARCHAR) AS DOUBLE)
        / COUNT(*) OVER w AS ma5
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    ORDER BY event_id""")

  val qWinRangeFrame: String = n("""
    SELECT event_id, user_id,
      CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS VARCHAR) AS DOUBLE) AS trailing_sum
    FROM (SELECT *, CAST(FLOOR(epoch(ts)) AS BIGINT) AS epoch_s FROM events) t
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    ORDER BY event_id""")

  val qWinNtileCume: String = n("""
    SELECT o_orderkey, o_orderpriority,
      NTILE(4) OVER w AS nt, CUME_DIST() OVER w AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderkey""")

  val qWinFirstLast: String = n("""
    SELECT o_orderkey, o_custkey,
      FIRST_VALUE(o_totalprice) OVER w AS first_price,
      LAST_VALUE(o_totalprice) OVER w AS last_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY o_orderkey""")

  // ---- §2.1 scans ----

  val qScanParquet: String = n("""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem ORDER BY l_orderkey, l_linenumber""")

  val qScanPushdown: String = n("""
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1995-06-30 00:00:00' AND l_quantity < 10
    ORDER BY l_orderkey, l_linenumber""")

  val qScanJsonCol: String = n("""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events ORDER BY event_id""")

  val qSinkParquet: String = n("""
    SELECT * FROM nation ORDER BY n_nationkey""")

  // ---- §2.2 projection / filter ----

  val qProjectExpr: String = n("""
    SELECT l_orderkey, l_linenumber,
      l_extendedprice * (1 - l_discount) AS revenue,
      CONCAT(l_orderkey, '-', l_linenumber) AS line_id
    FROM lineitem ORDER BY l_orderkey, l_linenumber""")

  val qFilterConj: String = n("""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE (o_totalprice > 150000 AND o_orderstatus = 'O')
       OR (NOT (o_orderpriority = '1-URGENT') AND o_totalprice < 20000)
    ORDER BY o_orderkey""")

  val qFilterIn: String = n("""
    SELECT p_partkey, p_brand, p_size FROM part
    WHERE p_size IN (1, 5, 9, 23, 36, 42, 49)
      AND p_brand IN ('Brand#1', 'Brand#7', 'Brand#13', 'Brand#20', 'Brand#22', 'Brand#5')
    ORDER BY p_partkey""")

  val qFilterLike: String = n("""
    SELECT p_partkey, p_name, p_type FROM part
    WHERE p_name LIKE '%bolt%' OR regexp_matches(p_type, '^(ECO|PRO)')
    ORDER BY p_partkey""")

  val qFilterBetween: String = n("""
    SELECT event_id, ts, value FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
      AND value BETWEEN 50 AND 150
    ORDER BY event_id""")

  val qFilterNullSemantics: String = n("""
    SELECT l_orderkey, l_linenumber,
      COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS flag,
      (NULLIF(l_returnflag, 'A') IS NOT DISTINCT FROM NULLIF(l_linestatus, 'F')) AS nse
    FROM lineitem WHERE l_linenumber <= 3
    ORDER BY l_orderkey, l_linenumber""")

  // ---- §2.3 joins ----

  val qJoinBroadcast: String = n("""
    SELECT r_name, n_name,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total_price,
      COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")

  val qJoinSortmerge: String = n("""
    SELECT o_orderkey, l_linenumber, o_totalprice, l_extendedprice
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ORDER BY o_orderkey, l_linenumber""")

  val qJoinLeftOuter: String = n("""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total_price
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey ORDER BY c_custkey""")

  val qJoinFullOuter: String = n("""
    SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey, n_cust, n_supp
    FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey) c
    FULL JOIN (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey) s
      ON c.c_nationkey = s.s_nationkey
    ORDER BY nationkey""")

  val qJoinSemi: String = n("""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    ORDER BY c_custkey""")

  val qJoinAnti: String = n("""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    ORDER BY c_custkey""")

  val qJoinThetaRange: String = n("""
    SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
           a.p_retailprice AS a_price, b.p_retailprice AS b_price
    FROM part a JOIN part b
      ON a.p_partkey < b.p_partkey
     AND abs(a.p_retailprice - b.p_retailprice) <= 1.0
    ORDER BY a_key, b_key""")

  val qJoinAsof: String = n("""
    SELECT event_id, user_id, ts, prev_value FROM (
      SELECT event_id, user_id, ts, event_type,
        LAST_VALUE(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_value
      FROM events) t
    WHERE event_type = 'error' ORDER BY event_id""")

  val qJoinCross: String = n("""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    ORDER BY r_name, n_name""")

  // ---- §2.6 sort / top-k ----

  val qSortMulti: String = n("""
    SELECT o_orderkey, NULLIF(o_orderpriority, '4-NOT SPECIFIED') AS prio, o_totalprice
    FROM orders
    ORDER BY prio ASC NULLS LAST, o_totalprice DESC, o_orderkey ASC""")

  val qTopkGlobal: String = n("""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""")

  val qTopkPerGroup: String = n("""
    SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        ROW_NUMBER() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders) t
    WHERE rn <= 3 ORDER BY o_custkey, rn""")

  // ---- §2.7 set operations ----

  val qUnionAll: String = n("""
    SELECT c_name AS name, c_nationkey AS nationkey, c_acctbal AS acctbal FROM customer
    UNION ALL
    SELECT s_name AS name, s_nationkey AS nationkey, s_acctbal AS acctbal FROM supplier
    ORDER BY name""")

  val qUnionDistinct: String = n("""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    ORDER BY nationkey""")

  val qIntersect: String = n("""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 0
    ORDER BY nationkey""")

  val qExcept: String = n("""
    SELECT DISTINCT l_orderkey AS orderkey FROM lineitem
    EXCEPT
    SELECT o_orderkey AS orderkey FROM orders WHERE o_orderstatus <> 'F'
    ORDER BY orderkey""")

  val qDedupNgram: String = n("""
    WITH d AS (
      SELECT doc_id, lang, n_chars,
        list_distinct(list_transform(range(len(string_split(text, ' ')) - 1),
          i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 2), ' '))) AS gr
      FROM documents)
    SELECT a_id, b_id, jaccard FROM (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        round(CASE WHEN len(list_distinct(list_concat(a.gr, b.gr))) > 0
              THEN CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.gr, b.gr)))
              ELSE 0.0 END, 4) AS jaccard
      FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        AND abs(a.n_chars - b.n_chars) <= 25) t
    WHERE jaccard >= 0.5
    ORDER BY a_id, b_id""")

  // source format (CSV/JSONL roundtrip) is an execution detail; doubles
  // roundtrip exactly through Spark's shortest-representation text form
  val qSourceCsv: String = n("""
    SELECT s_nationkey, COUNT(*) AS n_supp,
      CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total_bal
    FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""")

  val qSourceJsonl: String = n("""
    SELECT c_nationkey, COUNT(*) AS n_cust,
      CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total_bal
    FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""")

  // bucketed layout is an execution detail; values match the plain join
  val qJoinBucketed: String = n("""
    SELECT o_orderkey, COUNT(*) AS n_lines,
      CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderkey ORDER BY o_orderkey""")

  // salted-join result == plain-join result (the salt is an execution
  // detail; the oracle runs the unsalted SQL)
  val qJoinSkewSalted: String = n("""
    SELECT o_orderpriority, COUNT(*) AS n_lines,
      CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority ASC NULLS FIRST""")

  // the partitioned layout is an execution detail; values must match a
  // straight filtered aggregate
  val qSinkPartitioned: String = n("""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total_price
    FROM orders WHERE o_orderstatus <> 'P'
    GROUP BY o_orderstatus ORDER BY o_orderstatus ASC NULLS FIRST""")

  // ---- §2.11 extensions: text analysis / embedding dedup / multimodal ----

  val qTextLangid: String = n("""
    WITH s AS (
      SELECT lang,
        len(list_filter(string_split(lower(text), ' '),
            t -> t IN ('stream','merge','hash','row')))     AS s_de,
        len(list_filter(string_split(lower(text), ' '),
            t -> t IN ('the','a','table','order')))          AS s_en,
        len(list_filter(string_split(lower(text), ' '),
            t -> t IN ('agg','scan','group','slow')))        AS s_es,
        len(list_filter(string_split(lower(text), ' '),
            t -> t IN ('query','batch','data','key')))       AS s_fr,
        len(list_filter(string_split(lower(text), ' '),
            t -> t IN ('join','small','customer','value')))  AS s_zh
      FROM documents),
    p AS (
      SELECT lang,
        CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh' END AS pred_lang
      FROM s)
    SELECT lang, pred_lang, COUNT(*) AS n_docs
    FROM p GROUP BY lang, pred_lang
    ORDER BY lang ASC NULLS FIRST, pred_lang ASC NULLS FIRST""")

  val qTextQuality: String = n("""
    WITH d AS (
      SELECT source,
        floor((
          0.4::DOUBLE * (len(list_distinct(tk)) / n_words) +
          0.3::DOUBLE * least(((n_chars - n_words + 1.0::DOUBLE) / n_words) / 8.0::DOUBLE, 1.0::DOUBLE) +
          0.3::DOUBLE * (1.0::DOUBLE - (len(list_filter(tk, t -> t = 'the' OR t = 'a')) / n_words))
        ) * 1000000.0::DOUBLE + 0.5::DOUBLE) / 1000000.0::DOUBLE AS quality
      FROM (
        SELECT source, n_chars, string_split(lower(text), ' ') AS tk,
          CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS n_words
        FROM documents) t)
    SELECT source, COUNT(*) AS n_docs,
      CAST(CAST(SUM(CAST(quality AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_quality,
      CAST(SUM(CASE WHEN quality < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low
    FROM d GROUP BY source ORDER BY source ASC NULLS FIRST""")

  val qTextTokens: String = n("""
    SELECT doc_id,
      CAST(len(rtk) AS BIGINT) AS n_tokens,
      CAST(list_reduce(list_prepend(0,
        list_transform(rtk, t -> CAST(ceil(length(t) / 4.0::DOUBLE) AS BIGINT))),
        (a, b) -> a + b) AS BIGINT) AS n_pieces
    FROM (
      SELECT doc_id,
        regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS rtk
      FROM documents) t
    ORDER BY doc_id""")

  val qTextFingerprint: String = n("""
    WITH f AS (
      SELECT doc_id,
        CASE WHEN len(tk) >= 3 THEN
          list_aggregate(list_transform(range(len(tk) - 2),
            i -> md5(array_to_string(list_slice(tk, i + 1, i + 3), ' '))), 'min')
        ELSE md5(text) END AS fp
      FROM (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents) t)
    SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
    FROM f GROUP BY fp HAVING COUNT(*) >= 2
    ORDER BY fp ASC NULLS FIRST""")

  val qDedupEmbed: String = n("""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
      FROM embeddings),
    nv AS (
      SELECT vec_id, dv,
        sqrt(list_reduce(list_transform(dv, x -> x * x), (a, b) -> a + b)) AS nrm
      FROM v)
    SELECT a_id, b_id, sim FROM (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        round(list_reduce(list_transform(generate_series(1, 64),
                i -> a.dv[i] * b.dv[i]), (x, y) -> x + y)
              / (a.nrm * b.nrm), 4) AS sim
      FROM nv a JOIN nv b ON a.vec_id < b.vec_id) t
    WHERE sim >= 0.4
    ORDER BY a_id, b_id""")

  val qMultimodalFrames: String = n("""
    SELECT doc_id,
      CAST(unnest(range(0, 1 + doc_id % 24, 4)) AS BIGINT) AS frame_idx,
      CAST(16 + doc_id % 32 AS BIGINT) AS width
    FROM documents ORDER BY doc_id, frame_idx""")

  // Mirrors the PNG fixture generator (Multimodal.renderPng): w in
  // 16..47, h in 16..39, gray(x,y) = (x + 7y + doc_id) mod 251. Spark
  // reads these off the DECODED raster; the oracle computes them in
  // closed form — per row y the x-sum of (c+x) mod 251 wraps at most
  // once (c ≤ 250, w ≤ 47), so it is w*c + w(w-1)/2 − 251·max(0, c+w−251).
  val qMultimodalDecode: String = n("""
    WITH dims AS (
      SELECT doc_id, lang,
             16 + doc_id % 32 AS w,
             16 + (doc_id * 7) % 24 AS h
      FROM documents),
    rows_ AS (
      SELECT doc_id, w, (7 * t.y + doc_id) % 251 AS c
      FROM dims, generate_series(0, 38) t(y) WHERE t.y < h),
    px AS (
      SELECT doc_id,
             CAST(SUM(w * c + w * (w - 1) // 2
                      - 251 * GREATEST(0, c + w - 251)) AS BIGINT) AS px_sum
      FROM rows_ GROUP BY doc_id)
    SELECT d.doc_id, d.lang,
           CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
           px.px_sum, CAST(1 + d.doc_id % 24 AS BIGINT) AS n_frames
    FROM dims d JOIN px USING (doc_id)
    ORDER BY d.doc_id""")

  // ---- round 4 additions ----

  val qTsSax: String = n("""
    WITH t AS (
      SELECT user_id, value,
        NTILE(8) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seg
      FROM events),
    p AS (
      SELECT user_id, seg,
        floor(CAST(CAST(SUM(CAST(value AS DECIMAL(28,2))) AS VARCHAR) AS DOUBLE) / COUNT(*)
              * 10000 + 0.5) / 10000.0 AS m
      FROM t GROUP BY user_id, seg),
    l AS (
      SELECT user_id, seg,
        CASE WHEN m < 25 THEN 'a' WHEN m < 50 THEN 'b'
             WHEN m < 75 THEN 'c' ELSE 'd' END AS letter
      FROM p),
    w AS (
      SELECT user_id, string_agg(letter, '' ORDER BY seg) AS sax
      FROM l GROUP BY user_id)
    SELECT sax, COUNT(*) AS n_users, MIN(user_id) AS example_user
    FROM w GROUP BY sax ORDER BY n_users DESC, sax""")

  val qTsPaa: String = n("""
    WITH t AS (
      SELECT user_id, value,
        NTILE(8) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seg
      FROM events)
    SELECT user_id, seg, COUNT(*) AS n,
      floor(CAST(CAST(SUM(CAST(value AS DECIMAL(28,2))) AS VARCHAR) AS DOUBLE) / COUNT(*)
            * 10000 + 0.5) / 10000.0 AS seg_mean
    FROM t GROUP BY user_id, seg ORDER BY user_id, seg""")

  val qTextPmi: String = n("""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    uni AS (
      SELECT w, COUNT(*) AS cw FROM (
        SELECT unnest(t) AS w FROM toks) x WHERE w <> '' GROUP BY w),
    nn AS (SELECT CAST(SUM(cw) AS BIGINT) AS nn FROM uni),
    bg AS (
      SELECT bg, COUNT(*) AS cb FROM (
        SELECT unnest(list_transform(range(len(t) - 1),
          i -> array_to_string(list_slice(t, i + 1, i + 2), ' '))) AS bg
        FROM toks) x
      GROUP BY bg HAVING COUNT(*) >= 5)
    SELECT b.bg, b.cb,
      round(ln(CAST(n.nn AS DOUBLE) * b.cb / (u1.cw * u2.cw)), 4) AS pmi
    FROM bg b
    JOIN uni u1 ON split_part(b.bg, ' ', 1) = u1.w
    JOIN uni u2 ON split_part(b.bg, ' ', 2) = u2.w
    CROSS JOIN nn n
    ORDER BY pmi DESC, bg LIMIT 20""")

  val qAggBenford: String = n("""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
                         AS VARCHAR), 1, 1) AS INT) AS digit
      FROM events WHERE value > 0),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM c)
    SELECT digit, n, CAST(1000 * n // nn AS BIGINT) AS observed_pm,
      CAST(CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 124
           WHEN 4 THEN 96 WHEN 5 THEN 79 WHEN 6 THEN 66 WHEN 7 THEN 57
           WHEN 8 THEN 51 ELSE 45 END AS BIGINT) AS benford_pm
    FROM c CROSS JOIN t ORDER BY digit""")

  // Mirrors graft.sources.TelemetrySource's pure-integer generator.
  val qSourceDsv2: String = n("""
    SELECT s AS series_id, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(CAST((s * 131 + i * 7) % 10000 AS DOUBLE) / 100.0
               AS DECIMAL(28,2))) AS VARCHAR) AS DOUBLE) AS total
    FROM generate_series(8, 23) t(s), generate_series(0, 99) u(i)
    GROUP BY s ORDER BY s""")

  val qSourceDsv2Limit: String = n("""
    SELECT CAST(1234 AS BIGINT) AS n""")

  // Mirrors the V2-write round-trip: the store table's content is
  // exactly merge(orders, updates) ∪ late-delta, so the readback
  // aggregate restates in SQL what the connector committed.
  val qSourceDsv2Write: String = n("""
    WITH updates AS (
      SELECT o_orderkey AS u_key, 'X' AS u_status,
        o_totalprice * 1.1 AS u_price
      FROM orders WHERE o_orderkey % 97 = 0),
    merged AS (
      SELECT COALESCE(o.o_orderkey, u.u_key) AS okey,
        COALESCE(u.u_status, o.o_orderstatus) AS status,
        COALESCE(u.u_price, o.o_totalprice) AS price
      FROM orders o FULL OUTER JOIN updates u ON o.o_orderkey = u.u_key),
    stored AS (
      SELECT * FROM merged
      UNION ALL
      SELECT o_orderkey, 'L', o_totalprice
      FROM orders WHERE o_orderkey % 89 = 0)
    SELECT status, COUNT(*) AS n_rows,
      CAST(CAST(SUM(CAST(price AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total_price
    FROM stored GROUP BY status ORDER BY status""")

  val qSourceDsv2Agg: String = n("""
    SELECT COUNT(*) AS n,
      MIN(s) AS min_sid, MAX(s) AS max_sid,
      MIN(i) AS min_idx, MAX(i) AS max_idx,
      MIN(1704067200000000 + i * 60000000) AS min_ts,
      MAX(1704067200000000 + i * 60000000) AS max_ts
    FROM generate_series(8, 23) t(s), generate_series(0, 99) u(i)""")

  val qTsCompressGorilla: String = n("""
    WITH t AS (
      SELECT user_id, ts, event_id,
        epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w AS dus
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    d AS (
      SELECT user_id, ts, event_id, dus // 1000000 AS d FROM t),
    dd AS (
      SELECT user_id,
        d - LAG(d, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dod
      FROM d),
    b AS (
      SELECT user_id,
        CASE WHEN dod IS NULL THEN 64
             WHEN dod = 0 THEN 1
             WHEN dod BETWEEN -63 AND 64 THEN 7
             WHEN dod BETWEEN -255 AND 256 THEN 9
             WHEN dod BETWEEN -2047 AND 2048 THEN 12
             ELSE 32 END AS bits
      FROM dd)
    SELECT user_id, COUNT(*) AS n_samples,
      CAST(SUM(bits) AS BIGINT) AS enc_bits,
      COUNT(*) * 64 AS raw_bits,
      CAST(1000 * CAST(SUM(bits) AS BIGINT) // (COUNT(*) * 64) AS BIGINT) AS ratio_pm
    FROM b GROUP BY user_id ORDER BY user_id""")

  val qAggMad: String = n("""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1)
    SELECT e.event_type, COUNT(*) AS n, round(MAX(m.med), 4) AS med,
      round(quantile_cont(abs(e.value - m.med), 0.5), 4) AS mad
    FROM events e JOIN med m USING (event_type)
    GROUP BY e.event_type ORDER BY e.event_type""")

  val qEmbedOutliers: String = n("""
    WITH cent AS (
      SELECT label, i - 1 AS pos, COUNT(*) AS n,
        CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824.0)
                 AS BIGINT)) AS BIGINT) AS c_fp
      FROM embeddings, generate_series(1, 64) t(i)
      GROUP BY label, i),
    cvecs AS (
      SELECT label,
        list(CAST(c_fp AS DOUBLE) / (CAST(n AS DOUBLE) * 1073741824.0)
             ORDER BY pos) AS cvec
      FROM cent GROUP BY label),
    d AS (
      SELECT e.label, e.vec_id,
        round(list_reduce(list_transform(generate_series(1, 64),
          i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
               * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])),
          (a, b) -> a + b), 4) AS d2
      FROM embeddings e JOIN cvecs c USING (label)),
    r AS (
      SELECT label, vec_id, d2,
        ROW_NUMBER() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id) AS rn
      FROM d)
    SELECT label, rn, vec_id, d2 FROM r WHERE rn <= 5 ORDER BY label, rn""")

  val qEmbedPrototypes: String = n("""
    WITH cent AS (
      SELECT label, i - 1 AS pos, COUNT(*) AS n,
        CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824.0)
                 AS BIGINT)) AS BIGINT) AS c_fp
      FROM embeddings, generate_series(1, 64) t(i)
      GROUP BY label, i),
    cvecs AS (
      SELECT label,
        list(CAST(c_fp AS DOUBLE) / (CAST(n AS DOUBLE) * 1073741824.0)
             ORDER BY pos) AS cvec
      FROM cent GROUP BY label),
    d AS (
      SELECT e.label, e.vec_id,
        round(list_reduce(list_transform(generate_series(1, 64),
          i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
               * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])),
          (a, b) -> a + b), 4) AS d2
      FROM embeddings e JOIN cvecs c USING (label)),
    r AS (
      SELECT label, vec_id, d2,
        ROW_NUMBER() OVER (PARTITION BY label ORDER BY d2 ASC, vec_id) AS rn
      FROM d)
    SELECT label, rn, vec_id, d2 FROM r WHERE rn <= 5 ORDER BY label, rn""")

  val qAggEntropy: String = n("""
    WITH cells AS (
      SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2),
    tot AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1)
    SELECT c.user_id, MAX(t.n) AS n_events,
      CAST(CAST(-SUM(CAST(round(ln(CAST(c.c AS DOUBLE) / t.n), 4) AS DECIMAL(18,4))
                * c.c) AS VARCHAR) AS DOUBLE) / MAX(t.n) AS entropy
    FROM cells c JOIN tot t USING (user_id)
    GROUP BY c.user_id ORDER BY c.user_id""")

  val qGraphDegreeDist: String = n("""
    WITH RECURSIVE toks AS (
      SELECT doc_id, lang, n_chars,
        list_distinct(string_split(text, ' ')) AS tk
      FROM documents),
    pairs AS (
      SELECT a_id, b_id FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
        FROM toks a JOIN toks b
          ON a.doc_id < b.doc_id AND a.lang = b.lang
         AND abs(a.n_chars - b.n_chars) <= 25) t
      WHERE jaccard >= 0.6),
    deg AS (
      SELECT id, COUNT(*) AS degree FROM (
        SELECT a_id AS id FROM pairs
        UNION ALL SELECT b_id AS id FROM pairs) t
      GROUP BY id)
    SELECT degree, COUNT(*) AS n_nodes FROM deg
    GROUP BY degree ORDER BY degree""")

  val qPipelineMix: String = n("""
    WITH t AS (
      SELECT doc_id, lang,
        len(string_split(lower(text), ' ')) AS wc,
        n_chars - len(string_split(lower(text), ' ')) + 1 AS sumlen,
        len(list_distinct(string_split(lower(text), ' '))) AS dk
      FROM documents),
    p AS (
      SELECT doc_id, lang, wc FROM t
      WHERE wc BETWEEN 20 AND 90
        AND sumlen * 10 >= wc * 38 AND sumlen * 10 <= wc * 46
        AND dk * 10 >= wc * 5),
    r AS (
      SELECT lang, wc,
        SUM(wc) OVER (PARTITION BY lang
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        CASE WHEN lang = 'en' THEN 20000 ELSE 10000 END AS budget
      FROM p)
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(wc) AS BIGINT) AS tokens_kept,
      CAST(MAX(budget) AS BIGINT) AS budget,
      CAST(1000 * CAST(SUM(wc) AS BIGINT) // MAX(budget) AS BIGINT) AS util_pm
    FROM r WHERE cum <= budget
    GROUP BY lang ORDER BY lang""")

  val qTextBigramLm: String = n("""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    dbf AS (
      SELECT doc_id, unnest(list_transform(range(len(t) - 1),
        i -> array_to_string(list_slice(t, i + 1, i + 2), ' '))) AS bg
      FROM toks),
    dbc AS (SELECT doc_id, bg, COUNT(*) AS c FROM dbf GROUP BY doc_id, bg),
    bf AS (SELECT bg, CAST(SUM(c) AS BIGINT) AS bf FROM dbc GROUP BY bg),
    cf AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(bf) AS BIGINT) AS cf
           FROM bf GROUP BY 1),
    lp AS (
      SELECT bg, round(ln(CAST(bf.bf AS DOUBLE) / cf.cf), 4) AS logp
      FROM bf JOIN cf ON split_part(bf.bg, ' ', 1) = cf.w1)
    SELECT d.doc_id, CAST(SUM(d.c) AS BIGINT) AS n_bigrams,
      CAST(CAST(-SUM(CAST(lp.logp AS DECIMAL(18,4)) * d.c) AS VARCHAR) AS DOUBLE)
        / SUM(d.c) AS xent2
    FROM dbc d JOIN lp USING (bg)
    GROUP BY d.doc_id ORDER BY d.doc_id ASC NULLS FIRST""")

  val qDedupUrl: String = n("""
    WITH raw AS (
      SELECT doc_id, n_chars,
        concat(
          CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'http://' END,
          'site-', CAST(doc_id // 40 AS VARCHAR),
          CASE WHEN (doc_id // 4) % 3 = 0 THEN '.com'
               WHEN (doc_id // 4) % 3 = 1 THEN '.org' ELSE '.net' END,
          '/page-', CAST(doc_id // 4 AS VARCHAR),
          CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
          CASE WHEN doc_id % 2 = 1 THEN '?utm_campaign=crawl&session=9' ELSE '' END,
          CASE WHEN doc_id % 8 = 2 THEN '#fragment' ELSE '' END) AS u
      FROM documents),
    canon AS (
      SELECT doc_id, n_chars,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower(u),
          '^https?://', ''), '^www\.', ''), '[?#].*$', ''), '/$', '') AS url
      FROM raw)
    SELECT url, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM canon GROUP BY url ORDER BY keep_id""")

  val qSampleReservoir: String = n("""
    SELECT lang, rk, doc_id, n_chars FROM (
      SELECT lang, doc_id, n_chars,
        ROW_NUMBER() OVER (PARTITION BY lang
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents) t
    WHERE rk <= 10 ORDER BY lang, rk""")

  val qTsIrate: String = n("""
    WITH ranked AS (
      SELECT user_id, value, epoch_us(ts) AS t,
        ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    last2 AS (
      SELECT user_id,
        MAX(CASE WHEN rn = 1 THEN value END) AS v_last,
        MAX(CASE WHEN rn = 2 THEN value END) AS v_prev,
        MAX(CASE WHEN rn = 1 THEN t END) AS t_last,
        MAX(CASE WHEN rn = 2 THEN t END) AS t_prev
      FROM ranked WHERE rn <= 2 GROUP BY user_id)
    SELECT user_id,
      round((CASE WHEN v_last < v_prev THEN v_last ELSE v_last - v_prev END)
            / ((t_last - t_prev) / 1000000.0), 4) AS irate
    FROM last2
    WHERE v_prev IS NOT NULL AND t_last > t_prev
    ORDER BY user_id""")

  // Mirrors renderPng + 2x average pooling over the generator's grid:
  // pooled pixel (i,j) = (sum of the 2x2 block) // 4, odd edges
  // truncated; Spark computes the same off the DECODED raster.
  val qMultimodalAudio: String = n("""
    WITH g AS (
      SELECT CAST(t.i AS BIGINT) AS i FROM generate_series(0, 318) t(i)),
    d AS (SELECT doc_id, 256 + doc_id % 64 AS n FROM documents),
    s AS (
      SELECT d.doc_id, d.n, g.i,
        ((g.i * (d.doc_id + 3)) % 2001) - 1000 AS v
      FROM d JOIN g ON g.i < d.n),
    z AS (
      SELECT doc_id, n, v,
        LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      FROM s)
    SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
      CAST(MAX(n) AS BIGINT) AS n_samples,
      CAST(SUM(v) AS BIGINT) AS sum_amp,
      CAST(MIN(v) AS BIGINT) AS min_amp,
      CAST(MAX(v) AS BIGINT) AS max_amp,
      CAST(SUM(CASE WHEN pv IS NOT NULL
                     AND ((pv < 0 AND v >= 0) OR (pv >= 0 AND v < 0))
                    THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
    FROM z GROUP BY doc_id ORDER BY doc_id""")

  val qMultimodalVideo: String = n("""
    WITH d AS (
      SELECT doc_id, 8 + doc_id % 8 AS w, 8 + (doc_id * 3) % 8 AS h,
             4 + doc_id % 12 AS nf
      FROM documents),
    px AS (
      SELECT d.doc_id,
        CAST(SUM((x.i + 3 * y.i + 5 * f.i + d.doc_id) % 251) AS BIGINT) AS px_sum
      FROM d
      JOIN generate_series(0, 14) f(i) ON f.i < d.nf AND f.i % 2 = 0
      JOIN generate_series(0, 15) y(i) ON y.i < d.h
      JOIN generate_series(0, 15) x(i) ON x.i < d.w
      GROUP BY 1)
    SELECT d.doc_id, CAST(d.w AS BIGINT) AS width,
      CAST(d.h AS BIGINT) AS height, CAST(d.nf AS BIGINT) AS n_frames,
      CAST((d.nf + 1) // 2 AS BIGINT) AS n_sampled, p.px_sum
    FROM d JOIN px p ON d.doc_id = p.doc_id
    ORDER BY d.doc_id ASC NULLS FIRST""")

  val qMultimodalResize: String = n("""
    WITH dims AS (
      SELECT doc_id, 16 + doc_id % 32 AS w, 16 + (doc_id * 7) % 24 AS h
      FROM documents),
    px AS (
      SELECT d.doc_id, x.x // 2 AS i, y.y // 2 AS j,
             (x.x + 7 * y.y + d.doc_id) % 251 AS v
      FROM dims d, generate_series(0, 46) x(x), generate_series(0, 38) y(y)
      WHERE x.x < 2 * (w // 2) AND y.y < 2 * (h // 2)),
    pooled AS (
      SELECT doc_id, i, j, SUM(v) // 4 AS pv
      FROM px GROUP BY doc_id, i, j)
    SELECT d.doc_id,
      CAST(d.w // 2 AS BIGINT) AS rw, CAST(d.h // 2 AS BIGINT) AS rh,
      CAST(SUM(p.pv) AS BIGINT) AS pooled_sum
    FROM dims d JOIN pooled p USING (doc_id)
    GROUP BY d.doc_id, d.w, d.h
    ORDER BY d.doc_id""")

  // ---- §2.11 extensions (round 3): pipeline composites ----

  val qAggMode: String = n("""
    WITH counts AS (
      SELECT c.c_nationkey, o.o_orderpriority, COUNT(*) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2)
    SELECT c_nationkey, o_orderpriority AS mode_priority, n
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
            ORDER BY n DESC, o_orderpriority) AS rn FROM counts) t
    WHERE rn = 1 ORDER BY c_nationkey""")

  val qSampleHash: String = n("""
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
    ORDER BY doc_id""")

  val qSampleSplit: String = n("""
    WITH t AS (
      SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
                  ELSE 'test' END AS split, lang, n_chars, doc_id
      FROM documents)
    SELECT split, lang, COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM t GROUP BY split, lang ORDER BY split, lang""")

  val qTextGopher: String = n("""
    WITH t AS (
      SELECT source,
        len(string_split(lower(text), ' ')) AS wc,
        n_chars - len(string_split(lower(text), ' ')) + 1 AS sumlen,
        len(list_distinct(string_split(lower(text), ' '))) AS dk
      FROM documents),
    r AS (
      SELECT source,
        CASE WHEN wc BETWEEN 20 AND 90 THEN 1 ELSE 0 END AS p_wc,
        CASE WHEN sumlen * 10 >= wc * 38 AND sumlen * 10 <= wc * 46 THEN 1 ELSE 0 END AS p_mwl,
        CASE WHEN dk * 10 >= wc * 5 THEN 1 ELSE 0 END AS p_rep
      FROM t)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(p_wc * p_mwl * p_rep) AS BIGINT) AS n_pass,
      CAST(SUM(1 - p_wc) AS BIGINT) AS n_fail_wordcount,
      CAST(SUM(1 - p_mwl) AS BIGINT) AS n_fail_wordlen,
      CAST(SUM(1 - p_rep) AS BIGINT) AS n_fail_repetition
    FROM r GROUP BY source ORDER BY source""")

  val qEmbedCentroid: String = n("""
    SELECT label, i - 1 AS pos, COUNT(*) AS n,
      CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824.0) AS BIGINT)) AS BIGINT) AS c_fp
    FROM embeddings, generate_series(1, 64) t(i)
    GROUP BY label, i ORDER BY label, pos""")

  val qAggPivot: String = n("""
    SELECT o_orderstatus,
      COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_urgent,
      COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS n_high,
      COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS n_medium,
      COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS n_notspec,
      COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS n_low
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")

  val qAggUnpivot: String = n("""
    WITH w AS (
      SELECT l_returnflag,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sum_price
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM w
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, sum_price AS val FROM w
    ORDER BY l_returnflag, metric""")

  val qAggCorr: String = n("""
    WITH m AS (
      SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sx,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sy,
        CAST(CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sxy,
        CAST(CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sxx,
        CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      round((n * sxy - sx * sy)
            / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_price_qty,
      round((sxy - sx * sy / n) / (n - 1), 4) AS covar_samp
    FROM m ORDER BY l_returnflag""")

  val qUpsertSnapshot: String = n("""
    WITH updates AS (
      SELECT o_orderkey AS u_key, 'X' AS u_status,
        o_totalprice * 1.1 AS u_price
      FROM orders WHERE o_orderkey % 97 = 0),
    merged AS (
      SELECT COALESCE(o.o_orderkey, u.u_key) AS okey,
        COALESCE(u.u_status, o.o_orderstatus) AS status,
        COALESCE(u.u_price, o.o_totalprice) AS price
      FROM orders o FULL OUTER JOIN updates u ON o.o_orderkey = u.u_key)
    SELECT status, COUNT(*) AS n_orders,
      CAST(CAST(SUM(CAST(price AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total_price
    FROM merged GROUP BY status ORDER BY status""")

  // MERGE INTO's full-outer-coalesce twin: matched keys (every 97th
  // order) take the update, the negative-keyed insert batch lands as
  // new rows, everything else carries over — exactly the table image
  // the group-based ReplaceData publishes.
  val qSqlMergeInto: String = n("""
    WITH upd AS (
      SELECT o_orderkey AS u_key, 'X' AS u_status,
        o_totalprice * 1.1 AS u_price
      FROM orders WHERE o_orderkey % 97 = 0
      UNION ALL
      SELECT -o_orderkey - 1, 'N', o_totalprice
      FROM orders WHERE o_orderkey % 103 = 0),
    merged AS (
      SELECT COALESCE(o.o_orderkey, u.u_key) AS okey,
        COALESCE(u.u_status, o.o_orderstatus) AS status,
        COALESCE(u.u_price, o.o_totalprice) AS price
      FROM orders o FULL OUTER JOIN upd u ON o.o_orderkey = u.u_key)
    SELECT status, COUNT(*) AS n_rows,
      CAST(CAST(SUM(CAST(price AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total_price
    FROM merged GROUP BY status ORDER BY status""")

  /** File-backed MERGE target (q_sql_merge_file): the storage backend
    * must not change a single row, so the oracle is the identical
    * full-outer-coalesce twin. */
  val qSqlMergeFile: String = qSqlMergeInto

  val qFnRegex: String = n("""
    SELECT doc_id,
      regexp_extract(text, '^([a-z]+)', 1) AS first_word,
      length(regexp_replace(text, '[aeiou]', '', 'g')) AS n_after_devowel,
      CASE WHEN regexp_matches(text, 'join( [a-z]+)? join') THEN 1 ELSE 0 END AS near_dup_joins
    FROM documents ORDER BY doc_id""")

  val qTsInterpolate: String = n("""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket,
        CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS v
      FROM events GROUP BY 1, 2),
    bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
      FROM events),
    users AS (SELECT DISTINCT user_id FROM events),
    axis AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
      FROM users, bounds),
    j AS (
      SELECT a.user_id, a.bucket, h.v
      FROM axis a LEFT JOIN hourly h ON a.user_id = h.user_id AND a.bucket = h.bucket),
    w AS (
      SELECT user_id, bucket, v,
        last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
        first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY bucket
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
      FROM j)
    SELECT user_id, bucket,
      floor((CASE WHEN v IS NOT NULL THEN v
                  WHEN pv IS NULL THEN nv
                  WHEN nv IS NULL THEN pv
                  ELSE pv + (nv - pv) * CAST(date_diff('hour', pb, bucket) AS DOUBLE)
                                       / CAST(date_diff('hour', pb, nb) AS DOUBLE)
             END) * 10000) / 10000.0 AS v
    FROM w ORDER BY user_id, bucket""")

  val qSqlScalarSubquery: String = n("""
    SELECT l_returnflag, COUNT(*) AS n_above
    FROM lineitem
    WHERE l_quantity > (SELECT CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE)
                               / COUNT(*) FROM lineitem)
    GROUP BY l_returnflag ORDER BY l_returnflag""")

  val qSqlCorrelated: String = n("""
    SELECT c_custkey, c_nationkey, c_acctbal
    FROM customer c
    WHERE c_acctbal > (SELECT CAST(CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE)
                              / COUNT(*)
                       FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
    ORDER BY c_custkey""")

  val qSqlRecursive: String = n("""
    WITH RECURSIVE nk(k) AS (
      SELECT CAST(MIN(n_nationkey) AS INT) FROM nation
      UNION ALL
      SELECT k + 1 FROM nk WHERE k < (SELECT MAX(n_nationkey) FROM nation)
    )
    SELECT nk.k, n.n_name
    FROM nk JOIN nation n ON n.n_nationkey = nk.k
    ORDER BY nk.k""")

  val qTextTfidf: String = n("""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM toks
      WHERE token <> '' GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS nd FROM documents)
    SELECT doc_id, token, round(tf * round(ln(nd * 1.0 / df), 4), 4) AS tfidf
    FROM tf JOIN df USING (token) CROSS JOIN n
    ORDER BY tfidf DESC, doc_id, token LIMIT 30""")

  val qTextKeywordExtract: String = n("""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM toks
      WHERE token <> '' GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS nd FROM documents),
    scored AS (
      SELECT doc_id, token, round(tf * round(ln(nd * 1.0 / df), 4), 4) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, token, tfidf,
        CAST(row_number() OVER (PARTITION BY doc_id
          ORDER BY tfidf DESC, token) AS INT) AS rk
      FROM scored)
    SELECT doc_id, rk, token, tfidf FROM ranked WHERE rk <= 3
    ORDER BY doc_id ASC NULLS FIRST, rk ASC NULLS FIRST""")

  val qTsVarianceRatio: String = n("""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS x
      FROM events GROUP BY 1, 2),
    d AS (
      SELECT event_type, x,
        x - LAG(x, 1) OVER win AS d1,
        x - LAG(x, 5) OVER win AS d5
      FROM daily
      WINDOW win AS (PARTITION BY event_type ORDER BY day)),
    mo AS (
      SELECT event_type,
        CAST(COUNT(d1) AS BIGINT) AS m1, CAST(SUM(d1) AS BIGINT) AS s1,
        CAST(SUM(CAST(d1 AS DECIMAL(38,0)) * d1) AS DECIMAL(38,0)) AS q1,
        CAST(COUNT(d5) AS BIGINT) AS m5, CAST(SUM(d5) AS BIGINT) AS s5,
        CAST(SUM(CAST(d5 AS DECIMAL(38,0)) * d5) AS DECIMAL(38,0)) AS q5
      FROM d GROUP BY 1)
    SELECT event_type, m1, m5,
      CASE WHEN m1 > 0 AND m5 > 0
           AND m1 * q1 - CAST(s1 AS DECIMAL(38,0)) * s1 > 0
           THEN round((CAST(CAST(m5 * q5 - CAST(s5 AS DECIMAL(38,0)) * s5 AS VARCHAR) AS DOUBLE)
                       * CAST(m1 AS DOUBLE) * CAST(m1 AS DOUBLE))
                / (5.0 * CAST(CAST(m1 * q1 - CAST(s1 AS DECIMAL(38,0)) * s1 AS VARCHAR) AS DOUBLE)
                   * CAST(m5 AS DOUBLE) * CAST(m5 AS DOUBLE)), 6)
           ELSE NULL END AS vr
    FROM mo ORDER BY event_type ASC NULLS FIRST""")

  val qAggCramersV: String = n("""
    WITH cells AS (
      SELECT event_type,
        (epoch_us(ts) // 86400000000) % 7 AS dow,
        COUNT(*) AS obs
      FROM events GROUP BY 1, 2),
    t AS (
      SELECT event_type, dow, CAST(obs AS BIGINT) AS obs,
        CAST(SUM(obs) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
        CAST(SUM(obs) OVER (PARTITION BY dow) AS BIGINT) AS ct,
        CAST(SUM(obs) OVER () AS BIGINT) AS n
      FROM cells),
    f AS (
      SELECT n, event_type, dow,
        CAST(floor(
          (CAST(obs AS DOUBLE) * CAST(n AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
          * (CAST(obs AS DOUBLE) * CAST(n AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
          * 1000000 + 0.5) AS BIGINT) AS term_fp
      FROM t),
    g AS (
      SELECT MAX(n) AS n,
        CAST(COUNT(DISTINCT event_type) AS BIGINT) AS r,
        CAST(COUNT(DISTINCT dow) AS BIGINT) AS c,
        CAST(SUM(term_fp) AS BIGINT) AS chi2_fp
      FROM f)
    SELECT n, r, c, chi2_fp,
      CAST(floor(sqrt(
        (CAST(chi2_fp AS DOUBLE) / 1000000.0)
        / (CAST(n AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE)))
        * 1000000 + 0.5) AS BIGINT) AS v_fp
    FROM g""")

  val qWinRollingCorr: String = n("""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    j AS (
      SELECT x.day, CAST(x.n AS BIGINT) AS x, CAST(y.n AS BIGINT) AS y
      FROM (SELECT day, n FROM daily WHERE event_type = 'click') x
      JOIN (SELECT day, n FROM daily WHERE event_type = 'view') y USING (day)),
    m AS (
      SELECT day, x, y,
        ROW_NUMBER() OVER wr AS rn,
        CAST(SUM(x) OVER w AS BIGINT) AS sx,
        CAST(SUM(y) OVER w AS BIGINT) AS sy,
        CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
        CAST(SUM(y * y) OVER w AS BIGINT) AS syy,
        CAST(SUM(x * y) OVER w AS BIGINT) AS sxy
      FROM j
      WINDOW wr AS (ORDER BY day),
             w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT day, x, y,
      CASE WHEN (14 * sxx - sx * sx) > 0 AND (14 * syy - sy * sy) > 0
           THEN round(CAST(14 * sxy - sx * sy AS DOUBLE)
                / (sqrt(CAST(14 * sxx - sx * sx AS DOUBLE))
                   * sqrt(CAST(14 * syy - sy * sy AS DOUBLE))), 6)
           ELSE NULL END AS corr14
    FROM m WHERE rn >= 14 ORDER BY day""")

  val qAbCuped: String = n("""
    WITH u AS (
      SELECT user_id,
        substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7' AS isa,
        CAST(SUM(CASE WHEN epoch_us(ts) // 86400000000 < 19905
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS x,
        CAST(SUM(CASE WHEN epoch_us(ts) // 86400000000 >= 19905
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    g AS (
      SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx,
        CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM u),
    v AS (
      SELECT isa, COUNT(*) AS n_users, CAST(SUM(x) AS BIGINT) AS sxv,
        CAST(SUM(y) AS BIGINT) AS syv
      FROM u GROUP BY 1),
    c AS (
      SELECT isa, n_users, sxv, syv, n, sx,
        (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta
      FROM v CROSS JOIN g
      WHERE (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0)
    SELECT CASE WHEN isa THEN 'A' ELSE 'B' END AS arm,
      CAST(n_users AS BIGINT) AS n_users,
      round(CAST(syv AS DOUBLE) / CAST(n_users AS DOUBLE) / 100.0, 6) AS mean_post,
      round(theta, 6) AS theta,
      round((CAST(syv AS DOUBLE) / CAST(n_users AS DOUBLE)
             - theta * (CAST(sxv AS DOUBLE) / CAST(n_users AS DOUBLE)
                        - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0, 6) AS mean_adj
    FROM c ORDER BY arm""")

  val qTsTheilSen: String = n("""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS y
      FROM events GROUP BY 1, 2),
    pairs AS (
      SELECT a.event_type,
        CASE WHEN b.y >= a.y THEN ((b.y - a.y) * 1000000) // (b.day - a.day)
             ELSE -(((a.y - b.y) * 1000000) // (b.day - a.day)) END AS slope_fp
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day),
    r AS (
      SELECT event_type, slope_fp,
        row_number() OVER (PARTITION BY event_type ORDER BY slope_fp) AS rn,
        COUNT(*) OVER (PARTITION BY event_type) AS np
      FROM pairs)
    SELECT event_type, CAST(MAX(np) AS BIGINT) AS n_pairs,
      CAST(SUM(slope_fp * (CASE WHEN rn = (np + 1) // 2 THEN 1 ELSE 0 END
                         + CASE WHEN rn = np // 2 + 1 THEN 1 ELSE 0 END)) AS BIGINT)
        AS slope_x2_fp
    FROM r GROUP BY event_type
    ORDER BY event_type ASC NULLS FIRST""")

  val qTsHampel: String = n("""
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*) AS x
      FROM events GROUP BY 1),
    med AS (
      SELECT d.day, d.x, quantile_cont(n.x, 0.5) AS med
      FROM daily d JOIN daily n ON n.day BETWEEN d.day - 3 AND d.day + 3
      GROUP BY d.day, d.x),
    mad AS (
      SELECT m.day, m.x, m.med,
        quantile_cont(abs(CAST(n.x AS DOUBLE) - m.med), 0.5) AS mad
      FROM med m JOIN daily n ON n.day BETWEEN m.day - 3 AND m.day + 3
      GROUP BY m.day, m.x, m.med),
    f AS (
      SELECT day, x AS n_events, CAST(2 * med AS BIGINT) AS med_x2,
        CAST(4 * mad AS BIGINT) AS mad_x4
      FROM mad)
    SELECT day, n_events, med_x2, mad_x4,
      5000 * abs(4 * n_events - 2 * med_x2) > 22239 * mad_x4 AS is_outlier
    FROM f ORDER BY day ASC NULLS FIRST""")

  val qAbKs: String = n("""
    WITH d AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS vfp,
        CAST(SUM(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
                      THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        CAST(SUM(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
                      THEN 0 ELSE 1 END) AS BIGINT) AS cb
      FROM events GROUP BY 1),
    c AS (
      SELECT vfp, ca, cb,
        CAST(SUM(ca) OVER (ORDER BY vfp
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
        CAST(SUM(cb) OVER (ORDER BY vfp
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b,
        CAST(SUM(ca) OVER () AS BIGINT) AS n1,
        CAST(SUM(cb) OVER () AS BIGINT) AS n2
      FROM d),
    m AS (
      SELECT n1, n2,
        MAX(abs(cum_a * n2 - cum_b * n1)) AS d_num
      FROM c GROUP BY n1, n2)
    SELECT n1, n2, d_num,
      round(CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS ks
    FROM m""")

  val qGraph2hop: String = n("""
    WITH toks AS (
      SELECT doc_id, lang, n_chars,
        list_distinct(string_split(text, ' ')) AS tk
      FROM documents),
    pairs AS MATERIALIZED (
      SELECT a_id, b_id FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
        FROM toks a JOIN toks b
          ON a.doc_id < b.doc_id AND a.lang = b.lang
         AND abs(a.n_chars - b.n_chars) <= 25) t
      WHERE jaccard >= 0.6),
    edges AS MATERIALIZED (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION ALL SELECT b_id, a_id FROM pairs),
    deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
    hop2 AS (
      SELECT DISTINCT e1.u AS u, e2.v AS w
      FROM edges e1 JOIN edges e2 ON e1.v = e2.u
      WHERE e1.u <> e2.v),
    strict2 AS (
      SELECT h.u, COUNT(*) AS n_2hop FROM hop2 h
      WHERE NOT EXISTS (
        SELECT 1 FROM edges e WHERE e.u = h.u AND e.v = h.w)
      GROUP BY h.u)
    SELECT d.u, CAST(d.deg AS BIGINT) AS deg,
      CAST(COALESCE(s.n_2hop, 0) AS BIGINT) AS n_2hop
    FROM deg d LEFT JOIN strict2 s ON d.u = s.u
    ORDER BY d.u ASC NULLS FIRST""")

  val qGraphClustercoef: String = n("""
    WITH toks AS (
      SELECT doc_id, lang, n_chars,
        list_distinct(string_split(text, ' ')) AS tk
      FROM documents),
    pairs AS MATERIALIZED (
      SELECT a_id, b_id FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
        FROM toks a JOIN toks b
          ON a.doc_id < b.doc_id AND a.lang = b.lang
         AND abs(a.n_chars - b.n_chars) <= 25) t
      WHERE jaccard >= 0.6),
    edges AS MATERIALIZED (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION ALL SELECT b_id, a_id FROM pairs),
    deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
    tri AS (
      SELECT e1.u, COUNT(*) AS tri
      FROM edges e1 JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v
      JOIN pairs p ON p.a_id = e1.v AND p.b_id = e2.v
      GROUP BY e1.u)
    SELECT d.u AS doc_id, CAST(d.deg AS BIGINT) AS deg,
      CAST(COALESCE(t.tri, 0) AS BIGINT) AS tri,
      CAST(CASE WHEN d.deg >= 2
        THEN (20000 * COALESCE(t.tri, 0)) // (d.deg * (d.deg - 1))
        ELSE 0 END AS BIGINT) AS cc_fp
    FROM deg d LEFT JOIN tri t ON d.u = t.u
    ORDER BY doc_id ASC NULLS FIRST""")

  val qGraphAssortativity: String = n("""
    WITH toks AS (
      SELECT doc_id, lang, n_chars,
        list_distinct(string_split(text, ' ')) AS tk
      FROM documents),
    pairs AS MATERIALIZED (
      SELECT a_id, b_id FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
        FROM toks a JOIN toks b
          ON a.doc_id < b.doc_id AND a.lang = b.lang
         AND abs(a.n_chars - b.n_chars) <= 25) t
      WHERE jaccard >= 0.6),
    edges AS MATERIALIZED (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION ALL SELECT b_id, a_id FROM pairs),
    deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    dd AS (
      SELECT du.d AS du, dv.d AS dv
      FROM edges e
      JOIN deg du ON e.u = du.u
      JOIN deg dv ON e.v = dv.u),
    mo AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
        CAST(SUM(du) AS BIGINT) AS sx, CAST(SUM(dv) AS BIGINT) AS sy,
        CAST(SUM(du * dv) AS BIGINT) AS sxy,
        CAST(SUM(du * du) AS BIGINT) AS sxx,
        CAST(SUM(dv * dv) AS BIGINT) AS syy
      FROM dd)
    SELECT m,
      CASE WHEN CAST(CAST(CAST(m AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS VARCHAR) AS DOUBLE) > 0
            AND CAST(CAST(CAST(m AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy AS VARCHAR) AS DOUBLE) > 0
      THEN
      round(CAST(CAST(CAST(m AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS VARCHAR) AS DOUBLE)
        / sqrt(CAST(CAST(CAST(m AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS VARCHAR) AS DOUBLE)
             * CAST(CAST(CAST(m AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy AS VARCHAR) AS DOUBLE)), 6)
      ELSE NULL END
        AS assort
    FROM mo""")

  val qWinBollinger: String = n("""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        CAST(SUM(CAST(floor(value + 0.5) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, day, x,
        row_number() OVER win AS rn,
        CAST(COUNT(*) OVER winf AS BIGINT) AS n,
        CAST(SUM(x) OVER winf AS BIGINT) AS s,
        CAST(SUM(x * x) OVER winf AS BIGINT) AS q
      FROM daily
      WINDOW win AS (PARTITION BY event_type ORDER BY day),
             winf AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT event_type, day, x, s, q,
      CAST(n * x - s AS HUGEINT) * (n * x - s)
        > 4 * (CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s) AS breakout
    FROM w WHERE rn >= 14
    ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""")

  val qWinRsi: String = n("""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        CAST(SUM(CAST(floor(value + 0.5) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    d AS (
      SELECT event_type, day, x,
        x - LAG(x, 1) OVER win AS d,
        row_number() OVER win AS rn
      FROM daily
      WINDOW win AS (PARTITION BY event_type ORDER BY day)),
    g AS (
      SELECT event_type, day, x, rn,
        CAST(SUM(CASE WHEN d > 0 THEN d ELSE 0 END) OVER winf AS BIGINT) AS gain,
        CAST(SUM(CASE WHEN d < 0 THEN -d ELSE 0 END) OVER winf AS BIGINT) AS loss
      FROM d
      WINDOW winf AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT event_type, day, x, gain, loss,
      CAST(CASE WHEN gain + loss > 0 THEN (10000 * gain) // (gain + loss)
                ELSE 5000 END AS BIGINT) AS rsi_fp
    FROM g WHERE rn >= 15
    ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""")

  val qTsMkTrend: String = n("""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS y
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT a.event_type,
        CAST(SUM(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
                      ELSE 0 END) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
      GROUP BY 1),
    nd AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY 1),
    ties AS (
      SELECT event_type,
        CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_corr
      FROM (SELECT event_type, y, COUNT(*) AS t FROM daily GROUP BY 1, 2) tt
      GROUP BY 1),
    v AS (
      SELECT n.event_type, n.n_days, s.s_stat,
        n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - t.tie_corr AS var18
      FROM nd n
      JOIN s ON s.event_type = n.event_type
      JOIN ties t ON t.event_type = n.event_type)
    SELECT event_type, n_days, s_stat, CAST(var18 AS BIGINT) AS var18,
      CASE WHEN s_stat <> 0 AND var18 > 0
           THEN round((CAST(s_stat AS DOUBLE) - CAST(sign(s_stat) AS DOUBLE))
                      / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6)
           ELSE 0.0 END AS z
    FROM v ORDER BY event_type ASC NULLS FIRST""")

  val qTsRunsTest: String = n("""
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*) AS x
      FROM events GROUP BY 1),
    med AS (
      SELECT CAST(2 * quantile_cont(x, 0.5) AS BIGINT) AS med_x2 FROM daily),
    s1 AS (
      SELECT day, CASE WHEN 2 * x > med_x2 THEN 1 ELSE -1 END AS sgn
      FROM daily, med WHERE 2 * x <> med_x2),
    ch AS (
      SELECT sgn,
        CASE WHEN LAG(sgn, 1) OVER (ORDER BY day) IS NULL
               OR LAG(sgn, 1) OVER (ORDER BY day) <> sgn
             THEN 1 ELSE 0 END AS chg
      FROM s1),
    agg AS (
      SELECT CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(chg) AS BIGINT) AS runs
      FROM ch)
    SELECT n1, n2, runs,
      CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1 AND 2 * n1 * n2 > n1 + n2
           THEN round(CAST((n1 + n2) * runs - (n1 + n2) - 2 * n1 * n2 AS DOUBLE)
                / sqrt(CAST(2 * n1 * n2 AS DOUBLE)
                       * CAST(2 * n1 * n2 - n1 - n2 AS DOUBLE)
                       / CAST(n1 + n2 - 1 AS DOUBLE)), 6)
           ELSE 0.0 END AS z
    FROM agg""")

  val qTsCrossCorr: String = n("""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    x AS (SELECT day, n AS x FROM daily WHERE event_type = 'click'),
    y AS (SELECT day AS yday, n AS y FROM daily WHERE event_type = 'view'),
    l AS (SELECT CAST(range AS BIGINT) AS lg FROM range(-7, 8)),
    j AS (
      SELECT l.lg, x.x, y.y
      FROM x CROSS JOIN l JOIN y ON y.yday = x.day + l.lg),
    mo AS (
      SELECT lg, CAST(COUNT(*) AS BIGINT) AS m,
        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
        CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM j GROUP BY lg)
    SELECT lg AS "lag", m,
      CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
           THEN round(CAST(m * sxy - sx * sy AS DOUBLE)
                / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
                   * sqrt(CAST(m * syy - sy * sy AS DOUBLE))), 6)
           ELSE NULL END AS r
    FROM mo ORDER BY lg ASC NULLS FIRST""")

  val qAggTheilIndex: String = n("""
    WITH cells AS (
      SELECT event_type, user_id, COUNT(*) AS c FROM events GROUP BY 1, 2),
    tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nu,
        CAST(SUM(c) AS BIGINT) AS tot
      FROM cells GROUP BY 1)
    SELECT c.event_type, MAX(t.nu) AS n_users, MAX(t.tot) AS n_events,
      CAST(CAST(SUM(CAST(round(ln(CAST(c.c AS DOUBLE) * CAST(t.nu AS DOUBLE)
                             / CAST(t.tot AS DOUBLE)), 4) AS DECIMAL(18,4))
               * c.c) AS VARCHAR) AS DOUBLE) / MAX(t.tot) AS theil
    FROM cells c JOIN tot t USING (event_type)
    GROUP BY c.event_type ORDER BY c.event_type ASC NULLS FIRST""")

  val qTextHapax: String = n("""
    WITH w AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents),
    cnt AS (
      SELECT doc_id, token, COUNT(*) AS c FROM w
      WHERE token <> '' GROUP BY 1, 2),
    d AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        CAST(COUNT(*) AS BIGINT) AS n_types,
        CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      FROM cnt GROUP BY 1)
    SELECT doc_id, n_tokens, n_types, n_hapax,
      CAST((10000 * n_types) // n_tokens AS BIGINT) AS ttr_fp,
      CAST((10000 * n_hapax) // n_types AS BIGINT) AS hapax_fp
    FROM d ORDER BY doc_id ASC NULLS FIRST""")

  val qMultimodalPhash: String = n("""
    WITH dims AS (
      SELECT doc_id, 16 + doc_id % 32 AS w, 16 + (doc_id * 7) % 24 AS h
      FROM documents),
    px AS (
      SELECT d.doc_id, d.w, d.h,
        ((y.y * 8) // d.h) * 8 + (x.x * 8) // d.w AS k,
        (x.x + 7 * y.y + d.doc_id) % 251 AS v
      FROM dims d, generate_series(0, 46) x(x), generate_series(0, 38) y(y)
      WHERE x.x < d.w AND y.y < d.h),
    blk AS (
      SELECT doc_id, w, h, k, CAST(SUM(v) AS BIGINT) AS s,
        CAST(COUNT(*) AS BIGINT) AS a
      FROM px GROUP BY 1, 2, 3, 4),
    tot AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS st FROM blk GROUP BY 1),
    bits AS (
      SELECT b.doc_id, b.w, b.h, b.k,
        CASE WHEN b.s * (b.w * b.h) > t.st * b.a THEN 1 ELSE 0 END AS bit
      FROM blk b JOIN tot t USING (doc_id))
    SELECT doc_id, CAST(MAX(w) AS BIGINT) AS w, CAST(MAX(h) AS BIGINT) AS h,
      CAST(SUM(CASE WHEN k < 32 THEN bit * (CAST(1 AS BIGINT) << k)
               ELSE 0 END) AS BIGINT) AS hash_lo,
      CAST(SUM(CASE WHEN k >= 32 THEN bit * (CAST(1 AS BIGINT) << (k - 32))
               ELSE 0 END) AS BIGINT) AS hash_hi,
      CAST(SUM(bit) AS BIGINT) AS n_bits
    FROM bits GROUP BY doc_id ORDER BY doc_id ASC NULLS FIRST""")

  val qMultimodalNeardup: String = n("""
    WITH dims AS (
      SELECT doc_id, 16 + doc_id % 32 AS w, 16 + (doc_id * 7) % 24 AS h
      FROM documents),
    px AS (
      SELECT d.doc_id, d.w, d.h,
        ((y.y * 8) // d.h) * 8 + (x.x * 8) // d.w AS k,
        (x.x + 7 * y.y + d.doc_id) % 251 AS v
      FROM dims d, generate_series(0, 46) x(x), generate_series(0, 38) y(y)
      WHERE x.x < d.w AND y.y < d.h),
    blk AS (
      SELECT doc_id, w, h, k, CAST(SUM(v) AS BIGINT) AS s,
        CAST(COUNT(*) AS BIGINT) AS a
      FROM px GROUP BY 1, 2, 3, 4),
    tot AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS st FROM blk GROUP BY 1),
    bits AS (
      SELECT b.doc_id, b.k,
        CASE WHEN b.s * (b.w * b.h) > t.st * b.a THEN 1 ELSE 0 END AS bit
      FROM blk b JOIN tot t USING (doc_id)),
    hashes AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN k < 32 THEN bit * (CAST(1 AS BIGINT) << k)
                 ELSE 0 END) AS BIGINT) AS lo,
        CAST(SUM(CASE WHEN k >= 32 THEN bit * (CAST(1 AS BIGINT) << (k - 32))
                 ELSE 0 END) AS BIGINT) AS hi
      FROM bits GROUP BY doc_id)
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
           AS BIGINT) AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
    ORDER BY a_id ASC NULLS FIRST, b_id ASC NULLS FIRST""")

  val qWinRollingSlope: String = n("""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS x
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, day, x,
        row_number() OVER win AS rn,
        CAST(COUNT(*) OVER winf AS BIGINT) AS n,
        CAST(SUM(day) OVER winf AS BIGINT) AS st,
        CAST(SUM(x) OVER winf AS BIGINT) AS sy,
        CAST(SUM(day * day) OVER winf AS BIGINT) AS stt,
        CAST(SUM(CAST(day AS DECIMAL(38,0)) * x) OVER winf
             AS DECIMAL(38,0)) AS sty
      FROM daily
      WINDOW win AS (PARTITION BY event_type ORDER BY day),
             winf AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT event_type, day, x,
      CASE WHEN n * stt - st * st > 0
           THEN round(CAST(CAST(n * sty - CAST(st AS DECIMAL(38,0)) * sy AS VARCHAR) AS DOUBLE)
                / CAST(n * stt - st * st AS DOUBLE), 6)
           ELSE NULL END AS slope14
    FROM w WHERE rn >= 14
    ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""")

  val qTsKendallTau: String = n("""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    d AS (
      SELECT x.day, x.n AS x, y.n AS y
      FROM (SELECT day, n FROM daily WHERE event_type = 'click') x
      JOIN (SELECT day, n FROM daily WHERE event_type = 'view') y USING (day)),
    p AS (
      SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
      FROM d a JOIN d b ON a.day < b.day),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n0,
        CAST(SUM(CASE WHEN (x1 - x2) * (y1 - y2) > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS nc,
        CAST(SUM(CASE WHEN (x1 - x2) * (y1 - y2) < 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS nd,
        CAST(SUM(CASE WHEN x1 = x2 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN y1 = y2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      FROM p)
    SELECT n0, nc, nd, n1, n2,
      CASE WHEN n0 > n1 AND n0 > n2
           THEN round(CAST(nc - nd AS DOUBLE)
                / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE)), 6)
           ELSE NULL END AS tau_b
    FROM agg""")

  val qAggJsd: String = n("""
    WITH cells AS (
      SELECT event_type,
        CAST(SUM(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
                      THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        CAST(SUM(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
                      THEN 0 ELSE 1 END) AS BIGINT) AS cb
      FROM events GROUP BY event_type),
    t AS (
      SELECT event_type, ca, cb,
        CAST(SUM(ca) OVER () AS BIGINT) AS na,
        CAST(SUM(cb) OVER () AS BIGINT) AS nb
      FROM cells),
    lp AS (
      SELECT na, nb, ca, cb,
        CASE WHEN ca > 0
             THEN round(ln(CAST(2 * ca * nb AS DOUBLE)
                           / CAST(ca * nb + cb * na AS DOUBLE)), 4)
             ELSE 0.0 END AS lpa,
        CASE WHEN cb > 0
             THEN round(ln(CAST(2 * cb * na AS DOUBLE)
                           / CAST(ca * nb + cb * na AS DOUBLE)), 4)
             ELSE 0.0 END AS lpb
      FROM t)
    SELECT na, nb, COUNT(*) AS n_types,
      CASE WHEN na > 0 AND nb > 0 THEN
      round(0.5 * (CAST(CAST(SUM(CAST(lpa AS DECIMAL(18,4)) * ca) AS VARCHAR) AS DOUBLE)
                     / CAST(na AS DOUBLE)
                   + CAST(CAST(SUM(CAST(lpb AS DECIMAL(18,4)) * cb) AS VARCHAR) AS DOUBLE)
                     / CAST(nb AS DOUBLE)), 6)
      ELSE NULL END AS jsd
    FROM lp GROUP BY na, nb""")

  val qEmbedDimStats: String = n("""
    WITH c AS (
      SELECT i - 1 AS pos,
        CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824.0) AS BIGINT) AS xfp
      FROM embeddings, generate_series(1, 64) t(i)),
    m AS (
      SELECT pos, COUNT(*) AS n, CAST(SUM(xfp) AS BIGINT) AS s_fp,
        SUM(CAST(xfp AS HUGEINT) * CAST(xfp AS HUGEINT)) AS q_fp
      FROM c GROUP BY pos),
    r AS (
      SELECT pos, n,
        floor((CAST(s_fp AS DOUBLE) / (CAST(n AS DOUBLE) * 1073741824.0))
              * 1000000.0 + 0.5) / 1000000.0 AS mean,
        floor(((CAST(q_fp AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(s_fp AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(s_fp AS DOUBLE) / CAST(n AS DOUBLE)))
                / (1073741824.0::DOUBLE * 1073741824.0::DOUBLE))
              * 1000000.0 + 0.5) / 1000000.0 AS variance
      FROM m)
    SELECT pos, n, mean, variance, variance < 0.000001 AS collapsed
    FROM r ORDER BY pos ASC NULLS FIRST""")

  val qEmbedSilhouette: String = n("""
    WITH cent AS (
      SELECT label, i - 1 AS pos, COUNT(*) AS n,
        CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824.0)
                 AS BIGINT)) AS BIGINT) AS c_fp
      FROM embeddings, generate_series(1, 64) t(i)
      GROUP BY label, i),
    cvecs AS (
      SELECT label AS clabel,
        list(CAST(c_fp AS DOUBLE) / (CAST(n AS DOUBLE) * 1073741824.0)
             ORDER BY pos) AS cvec
      FROM cent GROUP BY label),
    d AS (
      SELECT e.vec_id, e.label, c.clabel,
        round(list_reduce(list_transform(generate_series(1, 64),
          i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
               * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])),
          (a, b) -> a + b), 4) AS d2
      FROM embeddings e CROSS JOIN cvecs c),
    ab AS (
      SELECT vec_id, label,
        MIN(CASE WHEN clabel = label THEN d2 END) AS a,
        MIN(CASE WHEN clabel <> label THEN d2 END) AS b
      FROM d GROUP BY 1, 2),
    sil AS (
      SELECT label,
        CASE WHEN greatest(a, b) > 0 THEN round((b - a) / greatest(a, b), 4)
             ELSE 0.0 END AS sil
      FROM ab)
    SELECT label, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(sil AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mean_sil
    FROM sil GROUP BY label ORDER BY label ASC NULLS FIRST""")

  val qAggWinsorizedMean: String = n("""
    WITH pct AS (
      SELECT event_type, round(quantile_cont(value, 0.05), 4) AS p05,
        round(quantile_cont(value, 0.95), 4) AS p95
      FROM events GROUP BY 1)
    SELECT e.event_type, COUNT(*) AS n, MAX(p.p05) AS p05, MAX(p.p95) AS p95,
      round(CAST(CAST(SUM(CAST(round(least(greatest(e.value, p.p05), p.p95), 4)
                     AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE), 4) AS wmean
    FROM events e JOIN pct p USING (event_type)
    GROUP BY e.event_type ORDER BY e.event_type ASC NULLS FIRST""")

  val qAbAnova: String = n("""
    WITH g AS (
      SELECT event_type, COUNT(*) AS n_g,
        CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s_g,
        CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)
                 * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS ss_g
      FROM events GROUP BY 1),
    g2 AS (
      SELECT *, CAST((CAST(s_g AS HUGEINT) * s_g) // n_g AS BIGINT) AS t_g
      FROM g),
    t AS (
      SELECT COUNT(*) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
        CAST(SUM(s_g) AS BIGINT) AS s, CAST(SUM(ss_g) AS BIGINT) AS ss,
        CAST(SUM(t_g) AS BIGINT) AS t FROM g2),
    f AS (
      SELECT k, n,
        CAST(t - (CAST(s AS HUGEINT) * s) // n AS BIGINT) AS ssb_fp,
        CAST(ss - t AS BIGINT) AS ssw_fp
      FROM t)
    SELECT k, n, ssb_fp, ssw_fp,
      round((CAST(ssb_fp AS DOUBLE) / CAST(k - 1 AS DOUBLE))
            / (CAST(ssw_fp AS DOUBLE) / CAST(n - k AS DOUBLE)), 6) AS f_stat,
      round(CAST(ssb_fp AS DOUBLE) / CAST(ssb_fp + ssw_fp AS DOUBLE), 6) AS eta_sq
    FROM f""")

  val qAbMannwhitney: String = n("""
    WITH d AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS vfp,
        CAST(SUM(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
                      THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        COUNT(*) AS ct
      FROM events GROUP BY 1),
    c AS (
      SELECT vfp, ca, ct,
        COALESCE(CAST(SUM(ct) OVER (ORDER BY vfp
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum
      FROM d),
    t AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n1,
        CAST(SUM(ct - ca) AS BIGINT) AS n2,
        CAST(SUM(ca * (2 * cum + ct + 1)) AS BIGINT) AS r2,
        CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS ties
      FROM c),
    u AS (SELECT n1, n2, r2 - n1 * (n1 + 1) AS u_x2, ties FROM t)
    SELECT n1, n2, u_x2, ties,
      round((CAST(u_x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
            / (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                * (CAST(n1 + n2 + 1 AS DOUBLE)
                   - CAST(ties AS DOUBLE)
                     / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))))), 6) AS z
    FROM u""")

  // 2-core peel stated as 10 UNROLLED rounds (DuckDB's recursive CTE
  // cannot express iterative DELETION — the working table only grows);
  // rounds past the fixpoint are identities, so bounded unrolling and
  // Spark's early-stopping loop agree by construction.
  val qGraph2core: String = n("""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang, n_chars,
        list_distinct(string_split(text, ' ')) AS tk
      FROM documents),
    pairs AS MATERIALIZED (
      SELECT a_id, b_id FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
        FROM toks a JOIN toks b
          ON a.doc_id < b.doc_id AND a.lang = b.lang
         AND abs(a.n_chars - b.n_chars) <= 25) t
      WHERE jaccard >= 0.6),
    e0 AS MATERIALIZED (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION ALL SELECT b_id, a_id FROM pairs),
    k1 AS MATERIALIZED (SELECT u FROM e0 GROUP BY u HAVING COUNT(*) >= 2),
    e1 AS MATERIALIZED (
      SELECT e.u, e.v FROM e0 e
      JOIN k1 a ON e.u = a.u JOIN k1 b ON e.v = b.u),
    k2 AS MATERIALIZED (SELECT u FROM e1 GROUP BY u HAVING COUNT(*) >= 2),
    e2 AS MATERIALIZED (
      SELECT e.u, e.v FROM e1 e
      JOIN k2 a ON e.u = a.u JOIN k2 b ON e.v = b.u),
    k3 AS MATERIALIZED (SELECT u FROM e2 GROUP BY u HAVING COUNT(*) >= 2),
    e3 AS MATERIALIZED (
      SELECT e.u, e.v FROM e2 e
      JOIN k3 a ON e.u = a.u JOIN k3 b ON e.v = b.u),
    k4 AS MATERIALIZED (SELECT u FROM e3 GROUP BY u HAVING COUNT(*) >= 2),
    e4 AS MATERIALIZED (
      SELECT e.u, e.v FROM e3 e
      JOIN k4 a ON e.u = a.u JOIN k4 b ON e.v = b.u),
    k5 AS MATERIALIZED (SELECT u FROM e4 GROUP BY u HAVING COUNT(*) >= 2),
    e5 AS MATERIALIZED (
      SELECT e.u, e.v FROM e4 e
      JOIN k5 a ON e.u = a.u JOIN k5 b ON e.v = b.u),
    k6 AS MATERIALIZED (SELECT u FROM e5 GROUP BY u HAVING COUNT(*) >= 2),
    e6 AS MATERIALIZED (
      SELECT e.u, e.v FROM e5 e
      JOIN k6 a ON e.u = a.u JOIN k6 b ON e.v = b.u),
    k7 AS MATERIALIZED (SELECT u FROM e6 GROUP BY u HAVING COUNT(*) >= 2),
    e7 AS MATERIALIZED (
      SELECT e.u, e.v FROM e6 e
      JOIN k7 a ON e.u = a.u JOIN k7 b ON e.v = b.u),
    k8 AS MATERIALIZED (SELECT u FROM e7 GROUP BY u HAVING COUNT(*) >= 2),
    e8 AS MATERIALIZED (
      SELECT e.u, e.v FROM e7 e
      JOIN k8 a ON e.u = a.u JOIN k8 b ON e.v = b.u),
    k9 AS MATERIALIZED (SELECT u FROM e8 GROUP BY u HAVING COUNT(*) >= 2),
    e9 AS MATERIALIZED (
      SELECT e.u, e.v FROM e8 e
      JOIN k9 a ON e.u = a.u JOIN k9 b ON e.v = b.u),
    k10 AS MATERIALIZED (SELECT u FROM e9 GROUP BY u HAVING COUNT(*) >= 2),
    e10 AS MATERIALIZED (
      SELECT e.u, e.v FROM e9 e
      JOIN k10 a ON e.u = a.u JOIN k10 b ON e.v = b.u)
    SELECT u AS doc_id, COUNT(*) AS core_degree
    FROM e10 GROUP BY u ORDER BY doc_id""")

  val qGraphLinkpred: String = n("""
    WITH toks AS (
      SELECT doc_id, lang, n_chars,
        list_distinct(string_split(text, ' ')) AS tk
      FROM documents),
    pairs AS (
      SELECT a_id, b_id FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
        FROM toks a JOIN toks b
          ON a.doc_id < b.doc_id AND a.lang = b.lang
         AND abs(a.n_chars - b.n_chars) <= 25) t
      WHERE jaccard >= 0.6),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION ALL SELECT b_id, a_id FROM pairs),
    deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    cand AS (
      SELECT e1.u AS u, e2.v AS w, COUNT(*) AS cn
      FROM edges e1 JOIN edges e2 ON e1.v = e2.u
      WHERE e1.u < e2.v
      GROUP BY 1, 2),
    nonadj AS (
      SELECT c.u, c.w, CAST(c.cn AS BIGINT) AS cn FROM cand c
      WHERE NOT EXISTS (
        SELECT 1 FROM pairs p WHERE p.a_id = c.u AND p.b_id = c.w))
    SELECT n.u, n.w, n.cn,
      CAST(d1.d AS BIGINT) AS du, CAST(d2.d AS BIGINT) AS dw,
      (10000 * n.cn) // (CAST(d1.d AS BIGINT) + CAST(d2.d AS BIGINT) - n.cn) AS jacc_fp
    FROM nonadj n
    JOIN deg d1 ON d1.u = n.u
    JOIN deg d2 ON d2.u = n.w
    ORDER BY jacc_fp DESC, n.u, n.w LIMIT 30""")

  val qGraphBfs: String = n("""
    WITH RECURSIVE toks AS (
      SELECT doc_id, lang, n_chars,
        list_distinct(string_split(text, ' ')) AS tk
      FROM documents),
    pairs AS (
      SELECT a_id, b_id FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
        FROM toks a JOIN toks b
          ON a.doc_id < b.doc_id AND a.lang = b.lang
         AND abs(a.n_chars - b.n_chars) <= 25) t
      WHERE jaccard >= 0.6),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION ALL SELECT b_id, a_id FROM pairs),
    b(id, dist) AS (
      SELECT DISTINCT u, CAST(0 AS BIGINT) FROM edges WHERE u % 100 = 0
      UNION
      SELECT e.u, b.dist + 1 FROM b JOIN edges e ON e.v = b.id
      WHERE b.dist < 20)
    SELECT id AS doc_id, MIN(dist) AS dist FROM b GROUP BY id
    ORDER BY doc_id""")

  val qDedupCluster: String = n("""
    WITH RECURSIVE toks AS (
      SELECT doc_id, lang, n_chars,
        list_distinct(string_split(text, ' ')) AS tk
      FROM documents),
    pairs AS (
      SELECT a_id, b_id FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
        FROM toks a JOIN toks b
          ON a.doc_id < b.doc_id AND a.lang = b.lang
         AND abs(a.n_chars - b.n_chars) <= 25) t
      WHERE jaccard >= 0.6),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION ALL SELECT b_id, a_id FROM pairs),
    walk(id, lab) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, w.lab FROM walk w JOIN edges e ON e.u = w.id),
    labels AS (SELECT id, MIN(lab) AS cluster_id FROM walk GROUP BY id),
    sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY cluster_id)
    SELECT l.id AS doc_id, l.cluster_id, s.cluster_size
    FROM labels l JOIN sizes s USING (cluster_id)
    ORDER BY doc_id""")

  // q_graph_cc_star computes the identical component-min labeling by a
  // different distributed algorithm (large/small-star vs union-find contraction)
  // — one truth, two implementations, literally one oracle. (Defined
  // after qDedupCluster: object vals initialize in declaration order.)
  val qGraphCcStar: String = qDedupCluster

  val qDedupEditdist: String = n("""
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      CAST(levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) AS BIGINT) AS lev
    FROM documents a JOIN documents b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 5
    WHERE levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) <= 25
    ORDER BY a_id ASC NULLS FIRST, b_id ASC NULLS FIRST""")

  val qScanMergeSchema: String = n("""
    SELECT lang, COUNT(*) AS n_rows,
      CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) > '7'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_new_schema,
      CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) > '7'
                    THEN n_chars ELSE 0 END) AS BIGINT) AS sum_chars
    FROM documents GROUP BY lang
    ORDER BY lang ASC NULLS FIRST""")

  val qSinkCompact: String = n("""
    SELECT event_type, COUNT(*) AS n_events,
      CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sum_value,
      CAST(64 AS BIGINT) AS n_files_before,
      CAST(1 AS BIGINT) AS compaction_ok
    FROM events GROUP BY event_type
    ORDER BY event_type ASC NULLS FIRST""")

  val qScanDpp: String = n("""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderstatus IN (
      SELECT DISTINCT o_orderstatus FROM orders WHERE o_totalprice > 400000.0)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus ASC NULLS FIRST""")

  val qFnTry: String = n("""
    SELECT event_id,
      TRY_CAST(substr(props, 7, 2) AS INT) AS k2,
      value / nullif(CAST(floor(value) AS BIGINT) % 7, 0) AS safe_rate
    FROM events WHERE event_id < 2000
    ORDER BY event_id ASC NULLS FIRST""")

  val qJoinAsofNearest: String = n("""
    WITH w AS (
      SELECT event_id, user_id, ts, event_type,
        last_value(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p_ts,
        last_value(CASE WHEN event_type = 'error' THEN event_id END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p_id,
        first_value(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n_ts,
        first_value(CASE WHEN event_type = 'error' THEN event_id END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n_id
      FROM events),
    c AS (
      SELECT *, epoch_us(ts) - epoch_us(p_ts) AS d_prev,
             epoch_us(n_ts) - epoch_us(ts) AS d_next
      FROM w WHERE event_type = 'click')
    SELECT event_id, user_id,
      CASE WHEN p_ts IS NOT NULL AND (n_ts IS NULL OR d_prev <= d_next)
           THEN p_id ELSE n_id END AS err_id,
      CASE WHEN p_ts IS NOT NULL AND (n_ts IS NULL OR d_prev <= d_next)
           THEN d_prev ELSE d_next END AS delta_us
    FROM c
    WHERE (CASE WHEN p_ts IS NOT NULL AND (n_ts IS NULL OR d_prev <= d_next)
                THEN p_id ELSE n_id END) IS NOT NULL
    ORDER BY event_id ASC NULLS FIRST""")

  val qAggWeightedAvg: String = n("""
    SELECT l_returnflag, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE)
        / CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS wavg_price
    FROM lineitem GROUP BY l_returnflag
    ORDER BY l_returnflag ASC NULLS FIRST""")

  val qWinCumsum: String = n("""
    SELECT event_id, user_id,
      CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
        AS running_total
    FROM events
    ORDER BY event_id ASC NULLS FIRST""")

  val qAggReagg: String = n("""
    SELECT event_type,
      COUNT(*) AS n_events,
      CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sum_value,
      MIN(value) AS min_value,
      MAX(value) AS max_value,
      COUNT(DISTINCT date_trunc('day', ts)) AS n_days
    FROM events GROUP BY event_type
    ORDER BY event_type ASC NULLS FIRST""")

  val qAggBoolean: String = n("""
    SELECT event_type,
      CAST(count_if(value > 250) AS BIGINT) AS n_over,
      bool_and(value > 0) AS all_positive,
      bool_or(value > 450) AS any_extreme,
      COUNT(*) AS n
    FROM events GROUP BY event_type
    ORDER BY event_type ASC NULLS FIRST""")

  val qWinPercentRank: String = n("""
    SELECT p_partkey, p_brand, p_retailprice,
      percent_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS pr
    FROM part
    ORDER BY p_partkey ASC NULLS FIRST""")

  val qTsHistogramQuantile: String = n("""
    WITH h AS (
      SELECT event_type, least(CAST(floor(value) AS BIGINT) // 50, 9) AS bucket,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    c AS (
      SELECT event_type, bucket, n,
        CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
      FROM h),
    x AS (
      SELECT c.*, q, q * total AS tq
      FROM c CROSS JOIN
        (SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS q) qs),
    f AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, q ORDER BY bucket) AS rn
      FROM x WHERE cum >= tq)
    SELECT event_type, q,
      bucket * 50 + CAST(50.0 AS DOUBLE) * (tq - (cum - n)) / n AS p_est
    FROM f WHERE rn = 1
    ORDER BY event_type ASC NULLS FIRST, q ASC NULLS FIRST""")

  val qTextDiversity: String = n("""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents),
    cnt AS (SELECT doc_id, t, COUNT(*) AS c FROM tok WHERE t <> '' GROUP BY 1, 2),
    agg AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok, COUNT(*) AS n_distinct,
             CAST(SUM(c * c) AS BIGINT) AS sum_c2
      FROM cnt GROUP BY doc_id)
    SELECT doc_id, n_tok, n_distinct,
      1.0 - sum_c2 / CAST(n_tok * n_tok AS DOUBLE) AS simpson
    FROM agg ORDER BY doc_id ASC NULLS FIRST""")

  val qTextRarity: String = n("""
    WITH toks AS (
      SELECT doc_id, source, unnest(list_distinct(string_split(lower(text), ' '))) AS token
      FROM documents),
    t AS (SELECT doc_id, source, token FROM toks WHERE token <> ''),
    df AS (SELECT token, COUNT(*) AS df FROM t GROUP BY token),
    nd AS (SELECT COUNT(*) AS nd FROM documents),
    per_doc AS (
      SELECT t.doc_id, t.source,
        COUNT(*) AS n_tok,
        CAST(SUM(CASE WHEN df.df * 20 <= nd.nd THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
      FROM t JOIN df USING (token) CROSS JOIN nd
      GROUP BY t.doc_id, t.source),
    scored AS (
      SELECT source, (1000 * n_rare) // n_tok AS score FROM per_doc)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN score >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      CAST(SUM(score) AS BIGINT) AS sum_score
    FROM scored GROUP BY source
    ORDER BY source ASC NULLS FIRST""")

  val qSqlLateral: String = n("""
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) o
    ORDER BY c.c_custkey ASC NULLS FIRST, o.o_orderkey ASC NULLS FIRST""")

  val qTsUptime: String = n("""
    WITH u AS (
      SELECT user_id,
        COUNT(DISTINCT date_trunc('hour', ts)) AS n_active_hours,
        MIN(date_trunc('hour', ts)) AS lo,
        MAX(date_trunc('hour', ts)) AS hi
      FROM events GROUP BY user_id)
    SELECT user_id, n_active_hours,
      (epoch_us(hi) - epoch_us(lo)) // 3600000000 + 1 AS span_hours,
      n_active_hours * 100.0 /
        ((epoch_us(hi) - epoch_us(lo)) // 3600000000 + 1) AS uptime_pct
    FROM u ORDER BY user_id ASC NULLS FIRST""")

  val qTsHeatmap: String = n("""
    SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
      CAST(hour(ts) AS BIGINT) AS hod,
      COUNT(*) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_value
    FROM events GROUP BY 1, 2
    ORDER BY dow ASC NULLS FIRST, hod ASC NULLS FIRST""")

  val qTsSeasonality: String = n("""
    SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_value
    FROM events GROUP BY 1, 2
    ORDER BY event_type ASC NULLS FIRST, hod ASC NULLS FIRST""")

  val qTsDodWow: String = n("""
    WITH d AS (
      SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    bounds AS (
      SELECT date_trunc('day', MIN(ts)) AS lo, date_trunc('day', MAX(ts)) AS hi
      FROM events),
    spine AS (
      SELECT t.event_type, gs.day
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
                  FROM bounds) gs),
    dense AS (
      SELECT s.event_type, s.day, COALESCE(d.n, 0) AS n
      FROM spine s LEFT JOIN d ON d.event_type = s.event_type AND d.day = s.day)
    SELECT event_type, day, n,
      n - LAG(n, 1) OVER w AS dod,
      n - LAG(n, 7) OVER w AS wow,
      (n - LAG(n, 1) OVER w) * 100.0 / nullif(LAG(n, 1) OVER w, 0) AS dod_pct
    FROM dense
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""")

  val qTsSloBurn: String = n("""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS hour,
        COUNT(*) AS n_events,
        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err
      FROM events GROUP BY 1)
    SELECT hour, n_events, n_err,
      n_err * 100.0 / n_events AS burn_rate,
      CAST(CASE WHEN n_err * 100 > n_events THEN 1 ELSE 0 END AS BIGINT) AS burning
    FROM h ORDER BY hour ASC NULLS FIRST""")

  val qEmbedQuantize: String = n("""
    WITH x AS (
      SELECT label, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS xd
      FROM embeddings),
    sc AS (
      SELECT label, xd,
        greatest(list_max(list_transform(xd, e -> abs(e))), 1e-12) / 127.0 AS scale
      FROM x),
    e AS (
      SELECT label, scale,
        list_reduce(list_transform(xd, v ->
          abs(greatest(least(floor(v / scale + 0.5), 127.0), -127.0) * scale - v)),
          (a, b) -> a + b) AS qerr,
        len(list_filter(xd, v ->
          abs(greatest(least(floor(v / scale + 0.5), 127.0), -127.0)) = 127.0)) AS n_sat
      FROM sc)
    SELECT label, COUNT(*) AS n_vecs,
      CAST(SUM(CAST(floor(qerr * 1e9) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1e9 AS avg_err,
      CAST(SUM(CAST(floor(scale * 1e9) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1e9 AS avg_scale,
      CAST(SUM(n_sat) AS BIGINT) AS n_saturated
    FROM e GROUP BY label
    ORDER BY label ASC NULLS FIRST""")

  val qSampleStratified: String = n("""
    WITH t AS (
      SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
    r AS (
      SELECT doc_id, lang,
        CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h ASC, doc_id ASC) AS BIGINT) AS rk,
        COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM t)
    SELECT doc_id, lang, rk FROM r WHERE rk <= ceil(n_lang / 10.0)
    ORDER BY lang ASC NULLS FIRST, rk ASC NULLS FIRST""")

  val qPipelineCurate: String = n("""
    WITH k1 AS (
      SELECT doc_id, lang, text, n_chars,
        ROW_NUMBER() OVER (
          PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
          ORDER BY doc_id) > 1 AS exact_dup
      FROM documents),
    surv AS (SELECT * FROM k1 WHERE NOT exact_dup),
    toks AS (
      SELECT doc_id, lang, n_chars, list_distinct(string_split(text, ' ')) AS tk
      FROM surv),
    nd AS (
      SELECT DISTINCT b_id AS doc_id FROM (
        SELECT b.doc_id AS b_id,
          round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
        FROM toks a JOIN toks b
          ON a.doc_id < b.doc_id AND a.lang = b.lang
         AND abs(a.n_chars - b.n_chars) <= 25) t
      WHERE jaccard >= 0.6),
    q AS (
      SELECT doc_id,
        len(string_split(lower(text), ' ')) AS wc,
        n_chars - len(string_split(lower(text), ' ')) + 1 AS sumlen,
        len(list_distinct(string_split(lower(text), ' '))) AS dk
      FROM documents),
    qp AS (
      SELECT doc_id,
        (wc BETWEEN 20 AND 90) AND sumlen * 10 >= wc * 38
          AND sumlen * 10 <= wc * 46 AND dk * 10 >= wc * 5 AS q_pass
      FROM q),
    lab AS (
      SELECT k1.doc_id, k1.lang, k1.exact_dup,
        COALESCE(nd.doc_id IS NOT NULL, FALSE) AS near_dup,
        qp.q_pass,
        CASE WHEN substr(md5(CAST(k1.doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
             WHEN substr(md5(CAST(k1.doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
             ELSE 'test' END AS split
      FROM k1 LEFT JOIN nd ON nd.doc_id = k1.doc_id
      JOIN qp ON qp.doc_id = k1.doc_id)
    SELECT split, lang, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN exact_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
      CAST(SUM(CASE WHEN near_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
      CAST(SUM(CASE WHEN NOT exact_dup AND NOT near_dup AND NOT q_pass
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_fail,
      CAST(SUM(CASE WHEN NOT exact_dup AND NOT near_dup AND q_pass
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM lab GROUP BY split, lang
    ORDER BY split ASC NULLS FIRST, lang ASC NULLS FIRST""")

  val qTextContamination: String = n("""
    WITH t AS (
      SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS b,
             string_split(text, ' ') AS tk
      FROM documents WHERE len(string_split(text, ' ')) >= 8),
    g0 AS (
      SELECT doc_id, b,
        list_transform(range(1, len(tk) - 6),
                       i -> md5(array_to_string(tk[i:i+7], ' '))) AS grams
      FROM t),
    g AS (
      SELECT DISTINCT doc_id, b, gram
      FROM (SELECT doc_id, b, unnest(grams) AS gram FROM g0) z),
    tr AS (SELECT doc_id AS train_id, gram FROM g WHERE b <= 'b'),
    te AS (SELECT doc_id AS test_id, gram FROM g WHERE b > 'd'),
    hits AS (SELECT test_id, train_id, gram FROM te JOIN tr USING (gram)),
    pairs AS (SELECT test_id, train_id, COUNT(*) AS shared FROM hits GROUP BY 1, 2),
    worst AS (
      SELECT test_id, train_id AS worst_train_doc, shared AS worst_overlap
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY test_id
              ORDER BY shared DESC, train_id ASC) AS rn FROM pairs) x
      WHERE rn = 1),
    tot AS (
      SELECT test_id, COUNT(DISTINCT train_id) AS n_train_docs,
             COUNT(DISTINCT gram) AS n_shared_grams
      FROM hits GROUP BY 1)
    SELECT tot.test_id AS doc_id, n_train_docs, n_shared_grams,
           worst_train_doc, worst_overlap
    FROM tot JOIN worst USING (test_id)
    ORDER BY doc_id ASC NULLS FIRST""")

  val qAggHistogram: String = n("""
    WITH h AS (
      SELECT event_type,
        least(CAST(floor(value) AS BIGINT) // 50, 9) AS bucket,
        COUNT(*) AS n_events,
        CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2)
    SELECT event_type, bucket, bucket * 50 AS lo, n_events, sum_value,
      CAST(SUM(n_events) OVER (PARTITION BY event_type ORDER BY bucket
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_events
    FROM h
    ORDER BY event_type ASC NULLS FIRST, bucket ASC NULLS FIRST""")

  val qFnBitwise: String = n("""
    SELECT event_id,
      event_id & 255 AS band,
      event_id | 4096 AS bor,
      xor(event_id, user_id) AS bxor,
      event_id << 3 AS shl,
      event_id >> 2 AS shr,
      CAST(bit_count(event_id) AS INT) AS nbits
    FROM events WHERE event_id < 2000
    ORDER BY event_id ASC NULLS FIRST""")

  val qTsFunnel: String = n("""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS tk, MIN(ts) AS t1
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS tk, MIN(p.t1) AS t1
      FROM events e JOIN s1 p ON e.user_id = p.user_id
      WHERE e.event_type = 'view' AND e.ts >= p.tk GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS tk, MIN(p.t1) AS t1
      FROM events e JOIN s2 p ON e.user_id = p.user_id
      WHERE e.event_type = 'click' AND e.ts >= p.tk GROUP BY e.user_id),
    s4 AS (
      SELECT e.user_id, MIN(e.ts) AS tk, MIN(p.t1) AS t1
      FROM events e JOIN s3 p ON e.user_id = p.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= p.tk GROUP BY e.user_id)
    SELECT '1_signup' AS stage, COUNT(*) AS n_users,
      CAST(CAST(SUM(CAST((epoch_us(tk) - epoch_us(t1)) / 1000000.0 AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
        / COUNT(*) / 3600.0 AS avg_hours FROM s1
    UNION ALL
    SELECT '2_view', COUNT(*),
      CAST(CAST(SUM(CAST((epoch_us(tk) - epoch_us(t1)) / 1000000.0 AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
        / COUNT(*) / 3600.0 FROM s2
    UNION ALL
    SELECT '3_click', COUNT(*),
      CAST(CAST(SUM(CAST((epoch_us(tk) - epoch_us(t1)) / 1000000.0 AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
        / COUNT(*) / 3600.0 FROM s3
    UNION ALL
    SELECT '4_purchase', COUNT(*),
      CAST(CAST(SUM(CAST((epoch_us(tk) - epoch_us(t1)) / 1000000.0 AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
        / COUNT(*) / 3600.0 FROM s4
    ORDER BY stage ASC NULLS FIRST""")

  val qTextPii: String = n("""
    WITH inj AS (
      SELECT lang,
        CASE
          WHEN doc_id % 4 = 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
          WHEN doc_id % 4 = 1 THEN text || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          WHEN doc_id % 4 = 2 THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                                       || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          ELSE text END AS text_pii
      FROM documents),
    p AS (
      SELECT lang,
        len(regexp_extract_all(text_pii, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS n_email,
        len(regexp_extract_all(text_pii, '555-[0-9]{4}')) AS n_phone,
        length(text_pii) - length(regexp_replace(
          regexp_replace(text_pii, '555-[0-9]{4}', '<PHONE>', 'g'),
          '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g')) AS chars_removed
      FROM inj)
    SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_pii,
      CAST(SUM(n_email) AS BIGINT) AS n_emails,
      CAST(SUM(n_phone) AS BIGINT) AS n_phones,
      CAST(SUM(chars_removed) AS BIGINT) AS chars_removed
    FROM p GROUP BY lang ORDER BY lang ASC NULLS FIRST""")

  val qTextRepetition: String = n("""
    WITH tk AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    bi AS (
      SELECT doc_id, source,
        unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM tk),
    c AS (SELECT doc_id, source, bigram, COUNT(*) AS n FROM bi GROUP BY 1, 2, 3),
    d AS (SELECT doc_id, source, MAX(n) AS top_n, SUM(n) AS n_bi,
            SUM(CASE WHEN n >= 2 THEN n ELSE 0 END) AS n_dup
          FROM c GROUP BY 1, 2)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN top_n * 1000 >= n_bi * 180 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
      CAST(SUM(1000 * top_n // n_bi) AS BIGINT) AS sum_top_scaled,
      CAST(SUM(1000 * n_dup // n_bi) AS BIGINT) AS sum_dup_scaled
    FROM d GROUP BY source ORDER BY source ASC NULLS FIRST""")

  val qSampleWeighted: String = n("""
    WITH k AS (
      SELECT lang, n_chars,
        CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <=
          CASE lang WHEN 'de' THEN '7' WHEN 'en' THEN 'f'
                    WHEN 'es' THEN '3' WHEN 'fr' THEN '1' ELSE '0' END
        THEN 1 ELSE 0 END AS kept
      FROM documents)
    SELECT lang, COUNT(*) AS n_total,
      CAST(SUM(kept) AS BIGINT) AS n_kept,
      CAST(SUM(CASE WHEN kept = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
      1000 * CAST(SUM(kept) AS BIGINT) // COUNT(*) AS rate_scaled
    FROM k GROUP BY lang ORDER BY lang ASC NULLS FIRST""")

  val qSqlNamedWindow: String = n("""
    SELECT l_returnflag, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(delta AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sum_delta,
      CAST(MAX(rn) AS BIGINT) AS max_lines
    FROM (
      SELECT l_returnflag,
        ROW_NUMBER() OVER w AS rn,
        l_quantity - LAG(l_quantity, 1, 0.0) OVER w AS delta
      FROM lineitem
      WINDOW w AS (PARTITION BY l_orderkey
        ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice))
    GROUP BY l_returnflag
    ORDER BY l_returnflag ASC NULLS FIRST""")

  val qSampleUpsample: String = n("""
    WITH d AS (SELECT doc_id, source FROM documents),
    cnt AS (
      SELECT source, COUNT(*) AS n_s,
        CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1073741824) AS BIGINT) AS w_fp
      FROM d GROUP BY source),
    stats AS (
      SELECT SUM(w_fp) AS sum_w_fp, SUM(n_s) AS n_total FROM cnt),
    rates AS (
      SELECT source, n_s,
        least(4, greatest(1, CAST(floor(
          CAST(w_fp AS DOUBLE) / CAST(sum_w_fp AS DOUBLE)
            * CAST(n_total AS DOUBLE) / CAST(n_s AS DOUBLE) + 0.5)
          AS BIGINT))) AS repeat_factor
      FROM cnt, stats),
    up AS (
      SELECT d.source, r.repeat_factor,
        unnest(range(1, r.repeat_factor + 1)) AS epoch
      FROM d JOIN rates r ON d.source = r.source)
    SELECT source, MAX(repeat_factor) AS repeat_factor,
      CAST(COUNT(DISTINCT epoch) AS BIGINT) AS n_epochs,
      COUNT(*) AS n_upsampled
    FROM up GROUP BY source
    ORDER BY source ASC NULLS FIRST""")

  val qTextPerplexityBuckets: String = n("""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents),
    dtf AS (
      SELECT doc_id, token, COUNT(*) AS c FROM toks
      WHERE token <> '' GROUP BY doc_id, token),
    tf AS (SELECT token, CAST(SUM(c) AS BIGINT) AS tf FROM dtf GROUP BY token),
    nn AS (SELECT CAST(SUM(tf) AS BIGINT) AS nn FROM tf),
    lp AS (
      SELECT token, round(ln(CAST(tf AS DOUBLE) / nn), 4) AS logp
      FROM tf CROSS JOIN nn),
    x AS (
      SELECT d.doc_id, CAST(SUM(d.c) AS BIGINT) AS n_tokens,
        CAST(CAST(-SUM(CAST(lp.logp AS DECIMAL(18,4)) * d.c) AS VARCHAR) AS DOUBLE)
          / SUM(d.c) AS xent
      FROM dtf d JOIN lp USING (token)
      GROUP BY d.doc_id),
    b AS (
      SELECT doc.lang, x.n_tokens, x.xent,
        NTILE(3) OVER (PARTITION BY doc.lang ORDER BY x.xent, x.doc_id) AS bucket
      FROM x JOIN documents doc USING (doc_id))
    SELECT lang, bucket, COUNT(*) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      MIN(xent) AS min_xent, MAX(xent) AS max_xent
    FROM b GROUP BY lang, bucket
    ORDER BY lang ASC NULLS FIRST, bucket ASC NULLS FIRST""")

  val qTextChunk: String = n("""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS tk,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents),
    k AS (
      SELECT doc_id, tk, n,
        CASE WHEN n <= 64 THEN 1 ELSE 1 + (n - 17) // 48 END AS n_chunks
      FROM d),
    u AS (SELECT doc_id, tk, n, unnest(range(n_chunks)) AS i FROM k),
    c AS (
      SELECT doc_id, tk, n, CAST(i AS BIGINT) AS chunk_id,
        CAST(i AS BIGINT) * 48 AS start
      FROM u)
    SELECT doc_id, chunk_id,
      least(n - start, 64) AS chunk_tokens,
      md5(array_to_string(list_slice(tk, start + 1, least(start + 64, n)), ' '))
        AS chunk_hash
    FROM c
    ORDER BY doc_id ASC NULLS FIRST, chunk_id ASC NULLS FIRST""")

  val qTextLineDedup: String = n("""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS tk,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents),
    u AS (
      SELECT doc_id, tk, n, CAST(unnest(range((n + 7) // 8)) AS BIGINT) AS line_id
      FROM d),
    l AS (
      SELECT doc_id,
        md5(array_to_string(
          list_slice(tk, line_id * 8 + 1, least(line_id * 8 + 8, n)), ' ')) AS lh
      FROM u),
    c AS (SELECT lh, COUNT(*) AS cnt FROM l GROUP BY 1)
    SELECT doc_id, COUNT(*) AS n_lines,
      CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
      CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) * 10000 // COUNT(*)
        AS dup_ratio_fp
    FROM l JOIN c USING (lh)
    GROUP BY doc_id
    ORDER BY doc_id ASC NULLS FIRST""")

  val qSampleDsir: String = n("""
    WITH dtc AS (
      SELECT doc_id, source, token, COUNT(*) AS c FROM (
        SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS token
        FROM documents) z
      WHERE token <> '' GROUP BY 1, 2, 3),
    b AS (
      SELECT doc_id, source, substr(md5(token), 1, 2) AS bkt,
        CAST(SUM(c) AS BIGINT) AS c
      FROM dtc GROUP BY 1, 2, 3),
    tgt AS (
      SELECT bkt, CAST(SUM(c) AS BIGINT) AS ct FROM b
      WHERE source IN ('src0', 'src1', 'src2', 'src3') GROUP BY 1),
    pool AS (
      SELECT * FROM b WHERE source NOT IN ('src0', 'src1', 'src2', 'src3')),
    raw AS (SELECT bkt, CAST(SUM(c) AS BIGINT) AS cr FROM pool GROUP BY 1),
    nt AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt FROM tgt),
    nr AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr FROM raw),
    lr AS (
      SELECT r.bkt,
        CAST(round(ln(
          (CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE) * CAST(nr.nr + 256 AS DOUBLE))
          / (CAST(r.cr + 1 AS DOUBLE) * CAST(nt.nt + 256 AS DOUBLE)))
          * 10000, 0) AS BIGINT) AS lr_fp
      FROM raw r LEFT JOIN tgt t USING (bkt) CROSS JOIN nt CROSS JOIN nr),
    scored AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        CAST(SUM(c * lr_fp) AS BIGINT) AS score_fp
      FROM pool JOIN lr USING (bkt) GROUP BY 1),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id ASC) AS rk,
        COUNT(*) OVER () AS n
      FROM scored)
    SELECT doc_id, n_tokens, score_fp FROM ranked WHERE rk * 5 <= n
    ORDER BY doc_id ASC NULLS FIRST""")

  val qTextSourceOverlap: String = n("""
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS tk
      FROM documents WHERE len(string_split(text, ' ')) >= 8),
    g0 AS (
      SELECT source,
        unnest(list_transform(range(1, len(tk) - 6),
          i -> md5(array_to_string(tk[i:i+7], ' ')))) AS gram
      FROM t),
    g AS (SELECT DISTINCT source, gram FROM g0),
    sizes AS (SELECT source, COUNT(*) AS n_grams FROM g GROUP BY 1),
    common AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      FROM g a JOIN g b USING (gram) WHERE a.source < b.source
      GROUP BY 1, 2)
    SELECT src_a, src_b, n_common,
      sa.n_grams AS n_a, sb.n_grams AS n_b,
      n_common * 10000 // (sa.n_grams + sb.n_grams - n_common) AS jaccard_fp,
      n_common * 10000 // sa.n_grams AS contain_a_fp
    FROM common
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    ORDER BY src_a ASC NULLS FIRST, src_b ASC NULLS FIRST""")

  val qPipelineTokenBudget: String = n("""
    WITH d AS (
      SELECT doc_id, source,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents),
    w AS (
      SELECT source, doc_id, n_tokens,
        CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rk,
        CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      FROM d)
    SELECT source, doc_id, rk, n_tokens, cum_tokens
    FROM w WHERE cum_tokens <= 800
    ORDER BY source ASC NULLS FIRST, rk ASC NULLS FIRST""")

  val qPipelinePack: String = n("""
    WITH t AS (
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
        CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS start_pos
      FROM t)
    SELECT doc_id, n_tokens, start_pos,
      start_pos // 256 AS seq_first,
      (start_pos + n_tokens - 1) // 256 AS seq_last,
      start_pos % 256 AS offset_in_seq,
      (start_pos + n_tokens - 1) // 256 - start_pos // 256 + 1 AS n_seqs
    FROM c
    ORDER BY doc_id ASC NULLS FIRST""")

  val qSampleTemperature: String = n("""
    WITH d AS (
      SELECT doc_id, source,
        CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
          AS DOUBLE) / 16777216.0 AS u
      FROM documents),
    cnt AS (
      SELECT source, COUNT(*) AS n_s,
        CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1073741824) AS BIGINT) AS w_fp
      FROM d GROUP BY source),
    stats AS (
      SELECT SUM(w_fp) AS sum_w_fp, SUM(n_s) AS n_total FROM cnt),
    rates AS (
      SELECT source, n_s,
        least(1.0, CAST(w_fp AS DOUBLE) / CAST(sum_w_fp AS DOUBLE)
          * (CAST(n_total AS DOUBLE) / 2.0) / CAST(n_s AS DOUBLE)) AS a_s
      FROM cnt, stats)
    SELECT d.source, MAX(r.n_s) AS n_total,
      CAST(SUM(CASE WHEN d.u < r.a_s THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      1000 * CAST(SUM(CASE WHEN d.u < r.a_s THEN 1 ELSE 0 END) AS BIGINT)
        // MAX(r.n_s) AS rate_scaled
    FROM d JOIN rates r ON d.source = r.source
    GROUP BY d.source
    ORDER BY d.source ASC NULLS FIRST""")

  val qSqlPipe: String = n("""
    SELECT l_returnflag, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sum_disc
    FROM lineitem
    WHERE l_quantity > 10
    GROUP BY l_returnflag
    ORDER BY l_returnflag ASC NULLS FIRST""")

  val qProfileColumns: String = n("""
    WITH src AS (SELECT *, nullif(o_orderstatus, 'F') AS status_nf FROM orders)
    SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
      CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      COUNT(DISTINCT o_orderkey) AS n_distinct,
      CAST(MIN(o_orderkey) AS DOUBLE) AS min_d, CAST(MAX(o_orderkey) AS DOUBLE) AS max_d,
      CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s FROM src
    UNION ALL
    SELECT 'o_custkey', COUNT(*),
      CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      COUNT(DISTINCT o_custkey),
      CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE),
      CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM src
    UNION ALL
    SELECT 'o_totalprice', COUNT(*),
      CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      COUNT(DISTINCT o_totalprice),
      CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE),
      CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM src
    UNION ALL
    SELECT 'o_orderdate', COUNT(*),
      CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      COUNT(DISTINCT o_orderdate),
      CAST(epoch_us(MIN(o_orderdate)) AS DOUBLE), CAST(epoch_us(MAX(o_orderdate)) AS DOUBLE),
      CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM src
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*),
      CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      COUNT(DISTINCT o_orderstatus),
      CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      MIN(o_orderstatus), MAX(o_orderstatus) FROM src
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*),
      CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      COUNT(DISTINCT o_orderpriority),
      CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      MIN(o_orderpriority), MAX(o_orderpriority) FROM src
    UNION ALL
    SELECT 'status_nf', COUNT(*),
      CAST(SUM(CASE WHEN status_nf IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      COUNT(DISTINCT status_nf),
      CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      MIN(status_nf), MAX(status_nf) FROM src
    ORDER BY col_name ASC NULLS FIRST""")

  val qJoinBloom: String = n("""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    GROUP BY o_orderpriority ORDER BY o_orderpriority ASC NULLS FIRST""")

  val qTsChangepoint: String = n("""
    WITH d AS (
      SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT event_type, day, n,
        SUM(n) OVER (PARTITION BY event_type ORDER BY day) AS s1,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS n1,
        SUM(n) OVER (PARTITION BY event_type) AS stot,
        COUNT(*) OVER (PARTITION BY event_type) AS ntot
      FROM d),
    c AS (
      SELECT event_type, day, s1, n1, stot, ntot - n1 AS n2,
        abs(s1 * (ntot - n1) - (stot - s1) * n1) AS diff
      FROM s WHERE ntot - n1 > 0),
    sc AS (
      SELECT event_type, day, s1, n1, stot, n2,
        (1000 * diff) // (n1 * n2) AS score,
        ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY (1000 * diff) // (n1 * n2) DESC, day ASC) AS rn
      FROM c)
    SELECT event_type, day AS cp_day,
      CAST(score AS BIGINT) AS score_scaled,
      CAST((1000 * s1) // n1 AS BIGINT) AS mean_before_scaled,
      CAST((1000 * (stot - s1)) // n2 AS BIGINT) AS mean_after_scaled
    FROM sc WHERE rn = 1 ORDER BY event_type ASC NULLS FIRST""")

  val qAggQuantileBands: String = n("""
    SELECT event_type, COUNT(*) AS n,
      round(quantile_cont(value, 0.10), 4) AS p10,
      round(quantile_cont(value, 0.25), 4) AS p25,
      round(quantile_cont(value, 0.50), 4) AS p50,
      round(quantile_cont(value, 0.75), 4) AS p75,
      round(quantile_cont(value, 0.90), 4) AS p90,
      round(quantile_cont(value, 0.75), 4)
        - round(quantile_cont(value, 0.25), 4) AS iqr
    FROM events GROUP BY event_type
    ORDER BY event_type ASC NULLS FIRST""")

  val qTextNovelty: String = n("""
    WITH toks AS (
      SELECT doc_id, token, COUNT(*) AS c FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents) t
      WHERE token <> '' GROUP BY 1, 2),
    fd AS (
      SELECT token, MIN(doc_id) AS first_doc FROM toks GROUP BY 1)
    SELECT t.doc_id, COUNT(*) AS n_types,
      CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
           AS BIGINT) AS n_first_seen,
      CAST((10000 * SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END))
           // COUNT(*) AS BIGINT) AS novelty_fp
    FROM toks t JOIN fd f USING (token)
    GROUP BY t.doc_id ORDER BY t.doc_id ASC NULLS FIRST""")

  val qEmbedInterdist: String = n("""
    WITH cent AS (
      SELECT label, i - 1 AS pos, COUNT(*) AS n,
        CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824.0)
                 AS BIGINT)) AS BIGINT) AS c_fp
      FROM embeddings, generate_series(1, 64) t(i)
      GROUP BY label, i),
    cvecs AS (
      SELECT label,
        list(CAST(c_fp AS DOUBLE) / (CAST(n AS DOUBLE) * 1073741824.0)
             ORDER BY pos) AS cvec
      FROM cent GROUP BY label)
    SELECT a.label AS label_a, b.label AS label_b,
      round(list_reduce(list_transform(generate_series(1, 64),
        i -> (a.cvec[i] - b.cvec[i]) * (a.cvec[i] - b.cvec[i])),
        (x, y) -> x + y), 4) AS d2
    FROM cvecs a JOIN cvecs b ON a.label < b.label
    ORDER BY label_a ASC NULLS FIRST, label_b ASC NULLS FIRST""")

  val qAbPower: String = n("""
    WITH e AS (
      SELECT event_type,
        substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7' AS isa,
        CAST(floor(value * 1e6) AS BIGINT) AS vfp,
        CAST(floor(value * value * 1e6) AS BIGINT) AS vvfp
      FROM events),
    m AS (
      SELECT event_type, isa, COUNT(*) AS n, SUM(vfp) AS sx, SUM(vvfp) AS sxx
      FROM e GROUP BY 1, 2),
    w AS (
      SELECT event_type,
        MAX(CASE WHEN isa THEN n END) AS n_a,
        MAX(CASE WHEN isa THEN sx END) AS sxa,
        MAX(CASE WHEN isa THEN sxx END) AS sxxa,
        MAX(CASE WHEN NOT isa THEN n END) AS n_b,
        MAX(CASE WHEN NOT isa THEN sx END) AS sxb,
        MAX(CASE WHEN NOT isa THEN sxx END) AS sxxb
      FROM m GROUP BY 1),
    c AS (
      SELECT event_type, n_a, n_b,
        CAST(sxa AS DOUBLE) / 1e6 / CAST(n_a AS DOUBLE) AS mean_a,
        CAST(sxb AS DOUBLE) / 1e6 / CAST(n_b AS DOUBLE) AS mean_b,
        CAST(sxxa AS DOUBLE) AS sxxa_d, CAST(sxxb AS DOUBLE) AS sxxb_d
      FROM w),
    v AS (
      SELECT event_type, n_a, n_b, mean_a, mean_b,
        (sxxa_d / 1e6 - mean_a * mean_a * CAST(n_a AS DOUBLE))
          / (CAST(n_a AS DOUBLE) - 1) AS var_a,
        (sxxb_d / 1e6 - mean_b * mean_b * CAST(n_b AS DOUBLE))
          / (CAST(n_b AS DOUBLE) - 1) AS var_b
      FROM c WHERE n_a >= 2 AND n_b >= 2),
    p AS (
      SELECT event_type, n_a, n_b, mean_a, mean_b,
        ((CAST(n_a AS DOUBLE) - 1) * var_a + (CAST(n_b AS DOUBLE) - 1) * var_b)
          / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2) AS sp2
      FROM v)
    SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      round(mean_a - mean_b, 6) AS delta,
      CAST(ceil(2.0 * sp2 * power(1.959964 + 0.841621, 2)
           / ((mean_a - mean_b) * (mean_a - mean_b))) AS BIGINT) AS n_required
    FROM p WHERE sp2 > 0 AND mean_a <> mean_b
    ORDER BY event_type ASC NULLS FIRST""")

  val qAbTest: String = n("""
    WITH e AS (
      SELECT event_type,
        substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7' AS isa,
        CAST(floor(value * 1e6) AS BIGINT) AS vfp,
        CAST(floor(value * value * 1e6) AS BIGINT) AS vvfp
      FROM events),
    m AS (
      SELECT event_type, isa, COUNT(*) AS n, SUM(vfp) AS sx, SUM(vvfp) AS sxx
      FROM e GROUP BY 1, 2),
    w AS (
      SELECT event_type,
        MAX(CASE WHEN isa THEN n END) AS n_a,
        MAX(CASE WHEN isa THEN sx END) AS sxa,
        MAX(CASE WHEN isa THEN sxx END) AS sxxa,
        MAX(CASE WHEN NOT isa THEN n END) AS n_b,
        MAX(CASE WHEN NOT isa THEN sx END) AS sxb,
        MAX(CASE WHEN NOT isa THEN sxx END) AS sxxb
      FROM m GROUP BY 1),
    c AS (
      SELECT event_type, n_a, n_b,
        CAST(sxa AS DOUBLE) / 1e6 / CAST(n_a AS DOUBLE) AS mean_a,
        CAST(sxb AS DOUBLE) / 1e6 / CAST(n_b AS DOUBLE) AS mean_b,
        CAST(sxxa AS DOUBLE) AS sxxa_d, CAST(sxxb AS DOUBLE) AS sxxb_d
      FROM w),
    v AS (
      SELECT event_type, n_a, n_b, mean_a, mean_b,
        (sxxa_d / 1e6 - mean_a * mean_a * CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1) AS var_a,
        (sxxb_d / 1e6 - mean_b * mean_b * CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1) AS var_b
      FROM c)
    SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
      round((mean_a - mean_b) /
        sqrt(var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE)), 6) AS t_stat
    FROM v
    WHERE n_a >= 2 AND n_b >= 2
      AND (var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE)) > 0
    ORDER BY event_type ASC NULLS FIRST""")

  val qSeqPattern: String = n("""
    WITH ch AS (
      SELECT user_id, ts, event_id,
        CASE event_type WHEN 'signup' THEN 's' WHEN 'view' THEN 'v'
          WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p' ELSE 'o' END AS ch
      FROM events),
    j AS (
      SELECT user_id, COUNT(*) AS n_events,
        string_agg(ch, '' ORDER BY ts ASC, event_id ASC) AS journey
      FROM ch GROUP BY user_id)
    SELECT user_id, n_events,
      (length(journey) - length(replace(journey, 'vcp', ''))) // 3 AS n_vcp,
      (length(journey) - length(replace(journey, 'vp', ''))) // 2 AS n_vp
    FROM j ORDER BY user_id ASC NULLS FIRST""")

  val qExceptAll: String = n("""
    SELECT l_orderkey AS orderkey FROM lineitem
    EXCEPT ALL
    SELECT o_orderkey AS orderkey FROM orders
    ORDER BY orderkey""")

  val qIntersectAll: String = n("""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 5000
    INTERSECT ALL
    SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 0
    ORDER BY nationkey""")

  val qAggPercentileWeighted: String = n("""
    WITH w AS (
      SELECT event_type, event_id, value, 1 + user_id % 3 AS wt FROM events),
    c AS (
      SELECT event_type, event_id, value, wt,
        SUM(wt) OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS cumw,
        SUM(wt) OVER (PARTITION BY event_type) AS totw
      FROM w),
    q AS (
      SELECT event_type, value, totw,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS rn
      FROM c WHERE 2 * cumw >= totw)
    SELECT event_type, CAST(totw AS BIGINT) AS total_weight, value AS wmedian
    FROM q WHERE rn = 1 ORDER BY event_type ASC NULLS FIRST""")

  val qTextUrls: String = n("""
    WITH raw AS (
      SELECT lang, n_chars,
        CASE WHEN doc_id % 2 = 0 THEN 'https://WWW.' ELSE 'https://www.' END
          || source
          || CASE WHEN doc_id % 3 = 0 THEN '.com'
                  WHEN doc_id % 3 = 1 THEN '.org' ELSE '.net' END
          || '/' || lang || '/' || CAST(doc_id AS VARCHAR)
          || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
          || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&ref=42' ELSE '' END
          AS url
      FROM documents),
    c AS (
      SELECT lang, n_chars,
        regexp_extract(
          regexp_replace(regexp_replace(lower(url), '\?.*$', ''), '/$', ''),
          '^https://([a-z0-9.]+)/', 1) AS host
      FROM raw),
    h AS (
      SELECT lang, n_chars, host,
        regexp_extract(host, '\.([a-z]+)$', 1) AS tld
      FROM c)
    SELECT host, tld, COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      COUNT(DISTINCT lang) AS n_langs
    FROM h GROUP BY host, tld ORDER BY host ASC NULLS FIRST""")

  val qWinMovingMedian: String = n("""
    WITH w AS (
      SELECT event_id, user_id, value,
        median(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                            ROWS BETWEEN 10 PRECEDING AND 10 FOLLOWING) AS med21,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn,
        COUNT(*) OVER (PARTITION BY user_id) AS cnt
      FROM events)
    SELECT event_id, user_id, med21 FROM w
    WHERE rn >= 11 AND rn <= cnt - 10 ORDER BY event_id ASC NULLS FIRST""")

  // Holt recursion stated as a RECURSIVE CTE, not list_reduce: DuckDB
  // 1.0's list_reduce updates a struct accumulator IN PLACE field by
  // field (the 't' lambda sees the already-updated 'l'), silently
  // diverging from Spark's functional `aggregate` — measured on this
  // exact recursion. The CTE's plain SELECT has no such aliasing.
  val qAggHhi: String = n("""
    WITH c AS (
      SELECT event_type, user_id, COUNT(*) AS x
      FROM events GROUP BY 1, 2)
    SELECT event_type, COUNT(*) AS n_users,
      CAST(SUM(x) AS BIGINT) AS total_events,
      CAST(SUM(x * x) AS BIGINT) AS sum_sq,
      (1000000 * CAST(SUM(x * x) AS BIGINT))
        // (CAST(SUM(x) AS BIGINT) * CAST(SUM(x) AS BIGINT)) AS hhi_ppm
    FROM c GROUP BY event_type ORDER BY event_type""")

  val qWinSmaCrossover: String = n("""
    WITH b AS (
      SELECT event_type, ts, event_id,
        ROW_NUMBER() OVER w AS rn,
        SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
          OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS s5,
        SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
          OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS s20
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
    f AS (
      SELECT event_type, ts, event_id,
        CASE WHEN 4 * s5 > s20 THEN 1 ELSE 0 END AS above
      FROM b WHERE rn >= 20),
    g AS (
      SELECT event_type, above,
        LAG(above, 1) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev
      FROM f)
    SELECT event_type, COUNT(*) AS n_rows,
      CAST(COALESCE(SUM(CASE WHEN above = 1 AND prev = 0 THEN 1 ELSE 0 END), 0)
           AS BIGINT) AS golden_crosses,
      CAST(COALESCE(SUM(CASE WHEN above = 0 AND prev = 1 THEN 1 ELSE 0 END), 0)
           AS BIGINT) AS death_crosses
    FROM g GROUP BY event_type ORDER BY event_type""")

  // CUSUM recursion as a recursive CTE (the q_ts_holt pattern: max()
  // inside the recursion is not window-expressible on either engine).
  val qTsCusum: String = n("""
    WITH RECURSIVE d AS (
      SELECT event_type,
        epoch_us(date_trunc('day', ts)) // 86400000000 AS day,
        COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    t AS (
      SELECT event_type, COUNT(*) AS n_days, CAST(SUM(n) AS BIGINT) AS total
      FROM d GROUP BY 1),
    e AS (
      SELECT d.event_type, d.day,
        CAST(d.n AS BIGINT) * t.n_days - t.total AS dev,
        ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day) AS rn
      FROM d JOIN t USING (event_type)),
    r AS (
      SELECT event_type, rn,
        GREATEST(dev, CAST(0 AS BIGINT)) AS s,
        GREATEST(dev, CAST(0 AS BIGINT)) AS mx,
        CASE WHEN GREATEST(dev, CAST(0 AS BIGINT)) > 0 THEN day
             ELSE CAST(-1 AS BIGINT) END AS mxd
      FROM e WHERE rn = 1
      UNION ALL
      SELECT e.event_type, e.rn,
        GREATEST(r.s + e.dev, CAST(0 AS BIGINT)),
        GREATEST(r.mx, GREATEST(r.s + e.dev, CAST(0 AS BIGINT))),
        CASE WHEN GREATEST(r.s + e.dev, CAST(0 AS BIGINT)) > r.mx
             THEN e.day ELSE r.mxd END
      FROM r JOIN e ON e.event_type = r.event_type AND e.rn = r.rn + 1),
    lastrn AS (SELECT event_type, MAX(rn) AS mx_rn FROM e GROUP BY 1)
    SELECT r.event_type AS event_type, t.n_days, t.total,
      r.mx AS peak, r.mxd AS peak_day, r.s AS final_s
    FROM r
    JOIN lastrn ON r.event_type = lastrn.event_type AND r.rn = lastrn.mx_rn
    JOIN t ON t.event_type = r.event_type
    ORDER BY r.event_type""")

  val qTsBurstiness: String = n("""
    WITH g AS (
      SELECT user_id,
        epoch_us(ts) // 1000000
          - LAG(epoch_us(ts) // 1000000, 1)
              OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
      FROM events),
    m AS (
      SELECT user_id, COUNT(*) AS n_gaps,
        CAST(SUM(d) AS BIGINT) AS sum_s, CAST(SUM(d * d) AS BIGINT) AS sum_s2
      FROM g WHERE d IS NOT NULL GROUP BY user_id
      HAVING COUNT(*) >= 2)
    SELECT user_id, n_gaps, sum_s,
      CASE WHEN sum_s = 0 THEN CAST(0 AS BIGINT)
           ELSE CAST(floor(
             (sqrt(CAST(n_gaps * sum_s2 - sum_s * sum_s AS DOUBLE))
                - CAST(sum_s AS DOUBLE))
             / (sqrt(CAST(n_gaps * sum_s2 - sum_s * sum_s AS DOUBLE))
                + CAST(sum_s AS DOUBLE))
             * 10000 + 0.5) AS BIGINT) END AS burst_fp
    FROM m ORDER BY user_id""")

  val qTsHolt: String = n("""
    WITH RECURSIVE e AS (
      SELECT user_id,
        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS x
      FROM events),
    r AS (
      SELECT user_id, rn, x AS l, CAST(0 AS BIGINT) AS t FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn,
        (e.x + r.l + r.t) >> 1,
        (((e.x + r.l + r.t) >> 1) - r.l + r.t) >> 1
      FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1),
    last AS (SELECT user_id, MAX(rn) AS mx FROM e GROUP BY user_id)
    SELECT r.user_id AS user_id, r.l AS level_fp, r.t AS trend_fp,
      r.l + r.t AS forecast_fp
    FROM r JOIN last ON r.user_id = last.user_id AND r.rn = last.mx
    ORDER BY r.user_id""")

  /** Holt–Winters: the recursive CTE carries the 7 seasonal slots as
    * columns s0..s6; SD (current slot), L (new level) and the per-slot
    * updates are generated by interpolation so the inlined integer
    * expressions are guaranteed identical everywhere they repeat. */
  val qTsHoltWinters: String = {
    val SD = "(CASE e.dow WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2" +
      " WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 ELSE r.s6 END)"
    val L = s"((e.x - $SD + r.l + r.t) >> 1)"
    val sks = (0 to 6).map(k =>
      s"CASE WHEN e.dow = $k THEN (e.x - $L + $SD) >> 1 ELSE r.s$k END").mkString(", ")
    val zeros = (0 to 6).map(k => s"CAST(0 AS BIGINT) AS s$k").mkString(", ")
    n(s"""
    WITH RECURSIVE d AS (
      SELECT event_type,
        epoch_us(date_trunc('day', ts)) // 86400000000 AS day,
        COUNT(*) * 256 AS x
      FROM events GROUP BY 1, 2),
    e AS (
      SELECT event_type, day, day % 7 AS dow, x,
        row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM d),
    r AS (
      SELECT event_type, rn, x AS l, CAST(0 AS BIGINT) AS t, $zeros
      FROM e WHERE rn = 1
      UNION ALL
      SELECT e.event_type, e.rn, $L, (($L) - r.l + r.t) >> 1, $sks
      FROM r JOIN e ON e.event_type = r.event_type AND e.rn = r.rn + 1),
    lastd AS (
      SELECT event_type, MAX(rn) AS mx, MAX(day) AS last_day,
        COUNT(*) AS n_days
      FROM e GROUP BY event_type)
    SELECT r.event_type AS event_type, lastd.n_days AS n_days,
      r.l AS level_fp, r.t AS trend_fp,
      r.s0 + r.s1 + r.s2 + r.s3 + r.s4 + r.s5 + r.s6 AS seas_sum_fp,
      r.l + r.t + (CASE (lastd.last_day + 1) % 7
        WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3
        WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 ELSE r.s6 END) AS forecast_fp
    FROM r JOIN lastd ON r.event_type = lastd.event_type AND r.rn = lastd.mx
    ORDER BY r.event_type ASC NULLS FIRST""")
  }

  val qTsEwma: String = n("""
    WITH e AS (
      SELECT event_id, user_id, ts, CAST(floor(value * 1e6) AS BIGINT) AS xfp
      FROM events),
    w AS (
      SELECT event_id, user_id,
        xfp * 32768
        + lag(xfp, 1) OVER win * 16384
        + lag(xfp, 2) OVER win * 8192
        + lag(xfp, 3) OVER win * 4096
        + lag(xfp, 4) OVER win * 2048
        + lag(xfp, 5) OVER win * 1024
        + lag(xfp, 6) OVER win * 512
        + lag(xfp, 7) OVER win * 256
        + lag(xfp, 8) OVER win * 128
        + lag(xfp, 9) OVER win * 64
        + lag(xfp, 10) OVER win * 32
        + lag(xfp, 11) OVER win * 16
        + lag(xfp, 12) OVER win * 8
        + lag(xfp, 13) OVER win * 4
        + lag(xfp, 14) OVER win * 2
        + lag(xfp, 15) OVER win * 1 AS num,
        ROW_NUMBER() OVER win AS rn
      FROM e
      WINDOW win AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
    SELECT event_id, user_id, CAST(num AS DOUBLE) / 65535000000.0 AS ewma
    FROM w WHERE rn >= 16 ORDER BY event_id ASC NULLS FIRST""")

  val qJoinStar: String = n("""
    SELECT r_name, COUNT(*) AS n_orders,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name ASC NULLS FIRST""")

  val qGraphPagerank: String = n("""
    WITH toks AS (
      SELECT doc_id, lang, n_chars,
        list_distinct(string_split(text, ' ')) AS tk
      FROM documents),
    pairs AS (
      SELECT a_id, b_id FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
        FROM toks a JOIN toks b
          ON a.doc_id < b.doc_id AND a.lang = b.lang
         AND abs(a.n_chars - b.n_chars) <= 25) t
      WHERE jaccard >= 0.6),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION ALL SELECT b_id, a_id FROM pairs),
    deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    r0 AS (SELECT u AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
    r1 AS (SELECT e.v AS id, 150000 + (850000 * SUM(r.r // g.d)) // 1000000 AS r
           FROM edges e JOIN r0 r ON e.u = r.id JOIN deg g ON g.u = e.u GROUP BY e.v),
    r2 AS (SELECT e.v AS id, 150000 + (850000 * SUM(r.r // g.d)) // 1000000 AS r
           FROM edges e JOIN r1 r ON e.u = r.id JOIN deg g ON g.u = e.u GROUP BY e.v),
    r3 AS (SELECT e.v AS id, 150000 + (850000 * SUM(r.r // g.d)) // 1000000 AS r
           FROM edges e JOIN r2 r ON e.u = r.id JOIN deg g ON g.u = e.u GROUP BY e.v),
    r4 AS (SELECT e.v AS id, 150000 + (850000 * SUM(r.r // g.d)) // 1000000 AS r
           FROM edges e JOIN r3 r ON e.u = r.id JOIN deg g ON g.u = e.u GROUP BY e.v),
    r5 AS (SELECT e.v AS id, 150000 + (850000 * SUM(r.r // g.d)) // 1000000 AS r
           FROM edges e JOIN r4 r ON e.u = r.id JOIN deg g ON g.u = e.u GROUP BY e.v)
    SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_fp FROM r5
    ORDER BY doc_id ASC NULLS FIRST""")

  val qAggStringAgg: String = n("""
    WITH r AS (
      SELECT c_nationkey, c_name,
        ROW_NUMBER() OVER (PARTITION BY c_nationkey
          ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
      FROM customer)
    SELECT c_nationkey, COUNT(*) AS n_top,
      string_agg(c_name, '|' ORDER BY rk ASC) AS top_names
    FROM r WHERE rk <= 3 GROUP BY c_nationkey
    ORDER BY c_nationkey ASC NULLS FIRST""")

  val qWinStreak: String = n("""
    WITH days AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
    isl AS (
      SELECT user_id, day,
        day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day ASC) AS island
      FROM days),
    g AS (SELECT user_id, island, COUNT(*) AS len FROM isl GROUP BY 1, 2)
    SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_streak,
      COUNT(*) AS n_streaks
    FROM g GROUP BY user_id ORDER BY user_id ASC NULLS FIRST""")

  /** The ORC round-trip must be a lossless carrier, so the oracle reads
    * the same rows from the parquet fixture directly. */
  val qSourceOrc: String = n("""
    SELECT p_brand, COUNT(*) AS n_parts,
      CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total_price
    FROM part WHERE p_size >= 10
    GROUP BY p_brand ORDER BY p_brand ASC NULLS FIRST""")

  /** Verbatim twin of the Spark-side FILTER-clause SQL. */
  val qAggFiltered: String = n("""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
      COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
      CAST(CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(28,4)))
                    FILTER (WHERE o_totalprice > 100000), 0) AS VARCHAR) AS DOUBLE) AS high_value_total
    FROM orders GROUP BY o_orderpriority
    ORDER BY o_orderpriority ASC NULLS FIRST""")

  /** Plain inequality overlap join over the same session/incident CTEs —
    * DuckDB's optimizer handles the fixture scale; the Spark side's
    * bucket-and-replicate is the declared at-scale equivalent (emit-once
    * rule makes the row sets identical, not merely equal-cardinality). */
  val qJoinInterval: String = n("""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
             THEN 1 ELSE 0 END AS newsess
      FROM events),
    sessioned AS (
      SELECT user_id, ts,
        CAST(SUM(newsess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS sess
      FROM flagged),
    sessions AS (
      SELECT user_id, sess, MIN(epoch_us(ts)) AS s_lo, MAX(epoch_us(ts)) AS s_hi
      FROM sessioned GROUP BY user_id, sess),
    incidents AS (
      SELECT date_trunc('day', ts) AS inc_day,
        MIN(epoch_us(ts)) AS i_lo, MAX(epoch_us(ts)) AS i_hi
      FROM events WHERE event_type = 'error' GROUP BY 1)
    SELECT s.user_id, s.sess, i.inc_day,
      (least(s.s_hi, i.i_hi) - greatest(s.s_lo, i.i_lo)) / 1000000.0 AS overlap_s
    FROM sessions s JOIN incidents i
      ON s.s_lo <= i.i_hi AND i.i_lo <= s.s_hi
    ORDER BY s.user_id ASC NULLS FIRST, s.sess ASC NULLS FIRST,
             i.inc_day ASC NULLS FIRST""")

  /** Per-token log-probs rounded to 4dp BEFORE accumulation (libm `ln`
    * can differ by 1 ulp cross-engine); the per-doc weighted sum runs
    * on the exact decimal path; one mirrored final division. */
  val qTextUnigramLm: String = n("""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents),
    dtf AS (
      SELECT doc_id, token, COUNT(*) AS c FROM toks
      WHERE token <> '' GROUP BY doc_id, token),
    tf AS (SELECT token, CAST(SUM(c) AS BIGINT) AS tf FROM dtf GROUP BY token),
    nn AS (SELECT CAST(SUM(tf) AS BIGINT) AS nn FROM tf),
    lp AS (
      SELECT token, round(ln(CAST(tf AS DOUBLE) / nn), 4) AS logp
      FROM tf CROSS JOIN nn)
    SELECT d.doc_id, CAST(SUM(d.c) AS BIGINT) AS n_tokens,
      CAST(CAST(-SUM(CAST(lp.logp AS DECIMAL(18,4)) * d.c) AS VARCHAR) AS DOUBLE)
        / SUM(d.c) AS xent
    FROM dtf d JOIN lp USING (token)
    GROUP BY d.doc_id ORDER BY d.doc_id ASC NULLS FIRST""")

  /** The bitmap rollup is EXACT, so the oracle is the direct distinct —
    * stating the lossless-merge property as the graded result. */
  val qAggBitmapDistinct: String = n("""
    SELECT event_type,
      CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    ORDER BY event_type ASC NULLS FIRST""")

  /** Layout must not change results — the oracle states the day-window
    * aggregate straight from the fixture. */
  val qSinkZorder: String = n("""
    SELECT event_type, COUNT(*) AS n_events,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-11' AND ts < TIMESTAMP '2024-01-21'
    GROUP BY event_type ORDER BY event_type ASC NULLS FIRST""")

  val qTextContainment: String = n("""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tk
      FROM documents WHERE len(string_split(text, ' ')) >= 8),
    g0 AS (
      SELECT doc_id,
        list_transform(range(1, len(tk) - 6),
                       i -> md5(array_to_string(tk[i:i+7], ' '))) AS grams
      FROM t),
    g AS (
      SELECT DISTINCT doc_id, gram
      FROM (SELECT doc_id, unnest(grams) AS gram FROM g0) z),
    sizes AS (SELECT doc_id, COUNT(*) AS n_a FROM g GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
      FROM g a JOIN g b USING (gram)
      WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
    SELECT a_id, b_id, n_a, shared, 1000 * shared // n_a AS containment_pm
    FROM shared JOIN sizes ON sizes.doc_id = shared.a_id
    WHERE 1000 * shared // n_a >= 500
    ORDER BY a_id ASC NULLS FIRST, b_id ASC NULLS FIRST""")

  /** All moments are exact integer sums; slope/intercept/forecast are
    * short mirrored IEEE chains (the q_agg_corr discipline). */
  val qTsForecastLinreg: String = n("""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS y
      FROM events GROUP BY 1, 2),
    m AS (SELECT MIN(day) AS d0 FROM daily),
    dd AS (SELECT event_type, day - d0 AS x, y FROM daily CROSS JOIN m),
    s AS (
      SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, MAX(x) AS mx
      FROM dd GROUP BY 1),
    k AS (
      SELECT event_type, n, mx, sx, sy,
        CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) AS slope
      FROM s),
    k2 AS (
      SELECT event_type, n, mx, slope,
        (CAST(sy AS DOUBLE) - slope * sx) / n AS intercept
      FROM k)
    SELECT event_type, CAST(n AS BIGINT) AS n_days, slope, intercept,
      intercept + slope * (mx + 7) AS forecast_7d
    FROM k2 ORDER BY event_type ASC NULLS FIRST""")

  /** Identical moment chain as the Spark side — explicit multiplication
    * order, `m2*sqrt(m2)` not `pow`, round at 6dp. */
  val qAggSkewKurt: String = n("""
    WITH s AS (
      SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS s1,
        CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS s2,
        CAST(CAST(SUM(CAST(l_quantity * l_quantity * l_quantity AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS s3,
        CAST(CAST(SUM(CAST(l_quantity * l_quantity * l_quantity * l_quantity AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS s4
      FROM lineitem GROUP BY l_returnflag),
    k AS (SELECT l_returnflag, n, s1, s2, s3, s4, s1 / n AS mean FROM s),
    c AS (
      SELECT l_returnflag, n, mean,
        s2 / n - mean * mean AS m2,
        s3 / n - 3.0 * mean * (s2 / n) + 2.0 * mean * mean * mean AS m3,
        s4 / n - 4.0 * mean * (s3 / n) + 6.0 * mean * mean * (s2 / n)
          - 3.0 * mean * mean * mean * mean AS m4
      FROM k)
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      round(mean, 6) AS mean_qty,
      round(m3 / (m2 * sqrt(m2)), 6) AS skew_qty,
      round(m4 / (m2 * m2) - 3.0, 6) AS kurt_qty
    FROM c ORDER BY l_returnflag ASC NULLS FIRST""")

  /** Mirror of the bucket-anchor LTTB pick — the ranked area is an
    * exact integer (denominators cleared by cross-multiplication). */
  val qTsDownsampleLttb: String = n("""
    WITH e AS (
      SELECT event_type, event_id, value,
        epoch_us(ts) // 86400000000 AS day,
        epoch_us(ts) // 60000000 AS x1,
        CAST(floor(value * 1000 + 0.5) AS BIGINT) AS y1
      FROM events),
    daily AS (
      SELECT event_type, day, CAST(SUM(y1) AS BIGINT) AS sd, COUNT(*) AS nd
      FROM e GROUP BY 1, 2),
    anchors AS (
      SELECT event_type, day,
        LAG(sd) OVER w AS s0, LAG(nd) OVER w AS n0,
        LAG(day) OVER w * 1440 + 720 AS x0,
        LEAD(sd) OVER w AS s2, LEAD(nd) OVER w AS n2,
        LEAD(day) OVER w * 1440 + 720 AS x2
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    cand AS (
      SELECT e.event_type, e.day, e.event_id, e.value,
        abs(
          CAST(e.x1 - a.x0 AS HUGEINT) * (CAST(a.s2 AS HUGEINT) * a.n0 - CAST(a.s0 AS HUGEINT) * a.n2)
          - CAST(a.x2 - a.x0 AS HUGEINT) * (CAST(e.y1 AS HUGEINT) * a.n0 - a.s0) * a.n2
        ) AS area_h
      FROM e JOIN anchors a USING (event_type, day)
      WHERE a.n0 IS NOT NULL AND a.n2 IS NOT NULL),
    r AS (
      SELECT event_type, day, event_id, value, area_h,
        ROW_NUMBER() OVER (PARTITION BY event_type, day
                           ORDER BY area_h DESC, event_id ASC) AS rn
      FROM cand)
    SELECT event_type, day, event_id, value, CAST(area_h AS DOUBLE) AS area
    FROM r WHERE rn = 1
    ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""")

  /** The corrupt file must contribute nothing — oracle states the
    * aggregate from the intact fixture. */
  val qScanCorrupt: String = n("""
    SELECT n_regionkey, COUNT(*) AS n_nations
    FROM nation GROUP BY n_regionkey
    ORDER BY n_regionkey ASC NULLS FIRST""")

  val qJoinAsofTolerance: String = n("""
    WITH t AS (
      SELECT event_id, user_id, ts, event_type,
        LAST_VALUE(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
          OVER w AS prev_value,
        LAST_VALUE(CASE WHEN event_type <> 'error' THEN ts END IGNORE NULLS)
          OVER w AS p_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    a AS (
      SELECT event_id, user_id, prev_value, p_ts,
        (epoch_us(ts) - epoch_us(p_ts)) // 1000000 AS age_s
      FROM t WHERE event_type = 'error')
    SELECT event_id, user_id,
      CASE WHEN age_s <= 600 THEN prev_value END AS fresh_value,
      CASE WHEN p_ts IS NOT NULL AND age_s > 600 THEN 1 ELSE 0 END AS stale
    FROM a ORDER BY event_id ASC NULLS FIRST""")

  val qTsStickiness: String = n("""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day, COUNT(DISTINCT user_id) AS n_active
      FROM events GROUP BY 1),
    firsts AS (
      SELECT user_id, MIN(date_trunc('day', ts)) AS day FROM events GROUP BY 1),
    news AS (SELECT day, COUNT(*) AS n_new FROM firsts GROUP BY 1),
    j AS (
      SELECT d.day, CAST(n_active AS BIGINT) AS dau,
        CAST(SUM(COALESCE(n_new, 0)) OVER (ORDER BY d.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      FROM d LEFT JOIN news ON news.day = d.day)
    SELECT day, dau, cum_users, 1000 * dau // cum_users AS stickiness_pm
    FROM j ORDER BY day ASC NULLS FIRST""")

  val qTsBurnMultiwindow: String = n("""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n_events,
        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err
      FROM events GROUP BY 1),
    w AS (
      SELECT hour, n_events, n_err,
        CAST(SUM(n_events) OVER win AS BIGINT) AS n6,
        CAST(SUM(n_err) OVER win AS BIGINT) AS err6
      FROM h WINDOW win AS (ORDER BY hour ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
    SELECT hour, n_events, n_err, n6, err6,
      CASE WHEN n_err * 50 > n_events AND err6 * 100 > n6 THEN 1 ELSE 0 END AS page
    FROM w ORDER BY hour ASC NULLS FIRST""")

  /** Same pair CTE as qDedupCluster; each triangle enumerated once via
    * the canonical x<y<z wedge + closing-edge join. */
  val qGraphTriangles: String = n("""
    WITH toks AS (
      SELECT doc_id, lang, n_chars,
        list_distinct(string_split(text, ' ')) AS tk
      FROM documents),
    pairs AS (
      SELECT a_id, b_id FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
        FROM toks a JOIN toks b
          ON a.doc_id < b.doc_id AND a.lang = b.lang
         AND abs(a.n_chars - b.n_chars) <= 25) t
      WHERE jaccard >= 0.6),
    tri AS (
      SELECT p1.a_id AS x, p1.b_id AS y, p2.b_id AS z
      FROM pairs p1
      JOIN pairs p2 ON p2.a_id = p1.b_id
      JOIN pairs p3 ON p3.a_id = p1.a_id AND p3.b_id = p2.b_id),
    nodes AS (
      SELECT x AS doc_id FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri)
    SELECT doc_id, COUNT(*) AS n_triangles
    FROM nodes GROUP BY doc_id ORDER BY doc_id ASC NULLS FIRST""")

  val qSqlExists: String = n("""
    SELECT c_nationkey, COUNT(*) AS n_cust,
      COUNT(CASE WHEN EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT') THEN 1 END) AS n_urgent,
      COUNT(CASE WHEN NOT EXISTS (
        SELECT 1 FROM orders o2
        WHERE o2.o_custkey = c.c_custkey) THEN 1 END) AS n_orderless
    FROM customer c
    GROUP BY c_nationkey
    ORDER BY c_nationkey ASC NULLS FIRST""")

  val qWinRunningDistinct: String = n("""
    WITH f AS (
      SELECT event_id, user_id, ts,
        CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id) = 1
             THEN 1 ELSE 0 END AS is_first
      FROM events)
    SELECT event_id, user_id,
      CAST(SUM(is_first) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS n_types_seen
    FROM f ORDER BY event_id ASC NULLS FIRST""")

  /** payload = UTF-8 bytes of text, and DuckDB md5(VARCHAR) hashes
    * exactly those bytes — digest parity without blob md5 support. */
  val qMultimodalDedup: String = n("""
    SELECT md5(text) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
      CAST(MIN(octet_length(encode(text))) AS BIGINT) AS n_bytes,
      CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes
    FROM documents GROUP BY md5(text)
    ORDER BY keep_id ASC NULLS FIRST""")

  val qTsTopMovers: String = n("""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    d AS (
      SELECT event_type, day, n,
        LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
      FROM daily)
    SELECT event_type, day, n, prev_n, n - prev_n AS delta
    FROM d WHERE prev_n IS NOT NULL
    ORDER BY abs(n - prev_n) DESC, event_type ASC, day ASC LIMIT 10""")

  val qJoinNullSafe: String = n("""
    WITH nat AS (
      SELECT n_nationkey, n_name,
        CASE WHEN n_regionkey = 2 THEN NULL ELSE n_regionkey END AS rk
      FROM nation),
    reg AS (
      SELECT r_name,
        CASE WHEN r_regionkey = 2 THEN NULL ELSE r_regionkey END AS rk2
      FROM region)
    SELECT n_nationkey, n_name, r_name, rk IS NULL AS via_null_bucket
    FROM nat JOIN reg ON rk IS NOT DISTINCT FROM rk2
    ORDER BY n_nationkey ASC NULLS FIRST""")

  val qTsPercentOfTotal: String = n("""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2)
    SELECT day, event_type, n,
      CAST(SUM(n) OVER (PARTITION BY day) AS BIGINT) AS day_total,
      1000 * n // CAST(SUM(n) OVER (PARTITION BY day) AS BIGINT) AS share_pm
    FROM daily
    ORDER BY day ASC NULLS FIRST, event_type ASC NULLS FIRST""")

  /** first/last types via ROW_NUMBER over the same total (ts, id)
    * order as the Spark min_by/max_by struct (the q_agg_argmax
    * discipline — arg_min's tie rule is unspecified). */
  val qAggUserLifecycle: String = n("""
    WITH w AS (
      SELECT user_id, event_type,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn_a,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events),
    f AS (SELECT user_id, event_type AS first_type FROM w WHERE rn_a = 1),
    l AS (SELECT user_id, event_type AS last_type FROM w WHERE rn_d = 1),
    g AS (
      SELECT user_id, MIN(ts) AS first_seen, MAX(ts) AS last_seen,
        COUNT(*) AS n_events,
        (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 86400000000 AS lifetime_days
      FROM events GROUP BY 1)
    SELECT g.user_id, first_seen, last_seen, first_type, last_type,
           n_events, lifetime_days
    FROM g JOIN f USING (user_id) JOIN l USING (user_id)
    ORDER BY g.user_id ASC NULLS FIRST""")

  val qTsWauRolling: String = n("""
    WITH pairs AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
    b AS (SELECT MAX(day) AS maxd FROM pairs),
    w AS (
      SELECT user_id, day + o AS window_day
      FROM pairs CROSS JOIN (SELECT unnest(range(7)) AS o) t)
    SELECT window_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
    FROM w CROSS JOIN b WHERE window_day <= maxd
    GROUP BY window_day ORDER BY window_day ASC NULLS FIRST""")

  val qAggOutlierIqr: String = n("""
    WITH f AS (
      SELECT event_type,
        round(quantile_cont(value, 0.25), 4) AS q1,
        round(quantile_cont(value, 0.75), 4) AS q3
      FROM events GROUP BY event_type),
    f2 AS (
      SELECT event_type, q1, q3, round(q3 + 1.5 * (q3 - q1), 4) AS thr_hi FROM f)
    SELECT e.event_type, MIN(q1) AS q1, MIN(q3) AS q3, MIN(thr_hi) AS thr_hi,
      CAST(SUM(CASE WHEN value > thr_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      MAX(CASE WHEN value > thr_hi THEN value END) AS worst
    FROM events e JOIN f2 USING (event_type)
    GROUP BY e.event_type ORDER BY e.event_type ASC NULLS FIRST""")

  val qTsErrorBudget: String = n("""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, COUNT(*) AS n_events,
        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err
      FROM events GROUP BY 1),
    c AS (
      SELECT day, n_events, n_err,
        CAST(SUM(n_events) OVER w AS BIGINT) AS cum_events,
        CAST(SUM(n_err) OVER w AS BIGINT) AS cum_err
      FROM daily WINDOW w AS (ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT day, n_events, n_err, cum_events, cum_err,
      cum_events - cum_err * 100 AS budget_left_scaled,
      CASE WHEN cum_events - cum_err * 100 < 0 THEN 1 ELSE 0 END AS exhausted
    FROM c ORDER BY day ASC NULLS FIRST""")

  /** The bound parameters inlined — binding must be invisible. */
  val qSqlParameterized: String = n("""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 50000
    GROUP BY o_orderpriority ORDER BY o_orderpriority ASC NULLS FIRST""")

  /** Direct full aggregate — the merge-losslessness proof for the
    * incremental rollup (same statement as qAggReagg's). */
  val qRollupIncremental: String = n("""
    SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n_events,
      CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""")

  val qTsApdex: String = n("""
    SELECT event_type, COUNT(*) AS total,
      CAST(SUM(CASE WHEN value <= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS sat,
      CAST(SUM(CASE WHEN value > 50.0 AND value <= 200.0 THEN 1 ELSE 0 END) AS BIGINT) AS tol,
      1000 * (2 * CAST(SUM(CASE WHEN value <= 50.0 THEN 1 ELSE 0 END) AS BIGINT)
              + CAST(SUM(CASE WHEN value > 50.0 AND value <= 200.0 THEN 1 ELSE 0 END) AS BIGINT))
        // (2 * COUNT(*)) AS apdex_pm
    FROM events GROUP BY event_type
    ORDER BY event_type ASC NULLS FIRST""")

  val qTsTransitionMatrix: String = n("""
    WITH t AS (
      SELECT user_id, event_type,
        LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type, COUNT(*) AS n
    FROM t WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    ORDER BY prev_type ASC NULLS FIRST, event_type ASC NULLS FIRST""")

  /** Second-resolution holds (mirrored `div 1000000`): µs holds would
    * push the decimal sum past 2^53, where decimal→double CAST rounds
    * differently per engine. */
  val qTsTwap: String = n("""
    WITH t AS (
      SELECT user_id, value, epoch_us(ts) AS us,
        LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
      FROM events),
    h AS (
      SELECT user_id, value, (next_us - us) // 1000000 AS hold_s
      FROM t WHERE next_us IS NOT NULL)
    SELECT user_id, COUNT(*) AS n_holds,
      CAST(SUM(hold_s) AS BIGINT) AS span_s,
      CAST(CAST(SUM(CAST(value AS DECIMAL(18,4)) * hold_s) AS VARCHAR) AS DOUBLE)
        / CAST(SUM(hold_s) AS BIGINT) AS twap
    FROM h GROUP BY user_id ORDER BY user_id ASC NULLS FIRST""")

  val qAggGini: String = n("""
    WITH c AS (SELECT user_id, COUNT(*) AS x FROM events GROUP BY 1),
    r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, user_id) AS i FROM c),
    s AS (
      SELECT COUNT(*) AS n_users, CAST(SUM(x) AS BIGINT) AS total_events,
        CAST(SUM((2 * i - 1) * x) AS BIGINT) AS wsum
      FROM r)
    SELECT n_users, total_events,
      CAST((CAST(wsum - total_events * n_users AS HUGEINT) * 1000000)
        // (CAST(n_users AS HUGEINT) * total_events) AS BIGINT) AS gini_ppm
    FROM s""")

  val qTsCohortMatrix: String = n("""
    WITH uw AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
    cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY 1)
    SELECT cohort_week, week - cohort_week AS week_offset,
      CAST(COUNT(DISTINCT uw.user_id) AS BIGINT) AS n_active
    FROM uw JOIN cohort ON cohort.user_id = uw.user_id
    GROUP BY cohort_week, week - cohort_week
    ORDER BY cohort_week ASC NULLS FIRST, week_offset ASC NULLS FIRST""")

  val qWinRankChange: String = n("""
    WITH weekly AS (
      SELECT user_id, epoch_us(ts) // 604800000000 AS week, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    b AS (SELECT MAX(week) AS wmax FROM weekly),
    ranked AS (
      SELECT user_id, week, n,
        ROW_NUMBER() OVER (PARTITION BY week ORDER BY n DESC, user_id ASC) AS rnk
      FROM weekly CROSS JOIN b WHERE week >= wmax - 1),
    cur AS (
      SELECT user_id, rnk AS rank_now, n AS n_now
      FROM ranked CROSS JOIN b WHERE week = wmax),
    prev AS (
      SELECT user_id, rnk AS rank_prev
      FROM ranked CROSS JOIN b WHERE week = wmax - 1)
    SELECT user_id, rank_now, n_now, rank_prev, rank_prev - rank_now AS moved
    FROM cur JOIN prev USING (user_id)
    ORDER BY rank_now ASC NULLS FIRST, user_id ASC NULLS FIRST""")

  val qAggTypedSummary: String = n("""
    SELECT event_type, COUNT(*) AS n, MIN(value) AS min_value,
      MAX(value) AS max_value,
      CAST(SUM(CAST(floor(value * 10000) AS BIGINT)) AS DOUBLE)
        / CAST(10000 AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    ORDER BY event_type ASC NULLS FIRST""")

  val qSqlBroadcastHint: String = n("""
    SELECT n.n_name, COUNT(*) AS n_cust,
      CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name ORDER BY n.n_name ASC NULLS FIRST""")

  /** Forward-as-of window twin: FIRST_VALUE over the following frame
    * (CURRENT ROW inclusion is harmless — the error row itself is NULL
    * in the CASE, and fixture timestamps are unique). */
  val qJoinAsofNativeFwd: String = n("""
    SELECT event_id, user_id, ts, next_value FROM (
      SELECT event_id, user_id, ts, event_type,
        FIRST_VALUE(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_value
      FROM events) t
    WHERE event_type = 'error' ORDER BY event_id ASC NULLS FIRST""")

  /** The expected post-overwrite table: only 'P' doubled (×2 exact on
    * any double), every other partition untouched. */
  val qSinkDynamicOverwrite: String = n("""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
      CAST(CAST(SUM(CAST(o_totalprice * (CASE WHEN o_orderstatus = 'P' THEN 2 ELSE 1 END)
                    AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total_price
    FROM orders GROUP BY o_orderstatus
    ORDER BY o_orderstatus ASC NULLS FIRST""")

  val qTsOutageIntervals: String = n("""
    WITH h AS (
      SELECT epoch_us(ts) // 3600000000 AS h, COUNT(*) AS c FROM events GROUP BY 1),
    b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM h),
    axis AS (SELECT unnest(generate_series(lo, hi)) AS h FROM b),
    f AS (SELECT axis.h, CAST(COALESCE(c, 0) AS BIGINT) AS c
          FROM axis LEFT JOIN h USING (h)),
    t AS (SELECT COUNT(*) AS nh, CAST(SUM(c) AS BIGINT) AS total FROM f),
    quiet AS (
      SELECT f.h FROM f CROSS JOIN t WHERE c * nh * 2 < total),
    isl AS (
      SELECT h, h - ROW_NUMBER() OVER (ORDER BY h) AS isl FROM quiet)
    SELECT MIN(h) AS start_hour, MAX(h) AS end_hour, COUNT(*) AS n_hours
    FROM isl GROUP BY isl
    ORDER BY start_hour ASC NULLS FIRST""")

  /** Per-token logs rounded at 4dp BEFORE the decimal moment sums;
    * slope chain mirrors qTsForecastLinreg / qAggCorr. */
  val qTextZipf: String = n("""
    WITH counts AS (
      SELECT token, COUNT(*) AS c FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) z
      WHERE token <> '' GROUP BY token),
    ranked AS (
      SELECT round(ln(CAST(r AS DOUBLE)), 4) AS x,
             round(ln(CAST(c AS DOUBLE)), 4) AS y
      FROM (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) AS r
            FROM counts) t
      WHERE r <= 1000),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(CAST(SUM(CAST(x AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sx,
        CAST(CAST(SUM(CAST(y AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sy,
        CAST(CAST(SUM(CAST(x * y AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS sxy,
        CAST(CAST(SUM(CAST(x * x AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS sxx
      FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_tokens_fit,
      round(-((n * sxy - sx * sy) / (n * sxx - sx * sx)), 4) AS zipf_s
    FROM m""")

  val qTsAutocorr: String = n("""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS x
      FROM events GROUP BY 1, 2),
    p AS (
      SELECT event_type, x,
        LEAD(x) OVER (PARTITION BY event_type ORDER BY day) AS y
      FROM daily),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        CAST(SUM(x * y) AS DOUBLE) AS sxy,
        CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM p WHERE y IS NOT NULL GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
      round((n * sxy - sx * sy)
            / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS autocorr_lag1
    FROM m ORDER BY event_type ASC NULLS FIRST""")

  val qAggExpHistogram: String = n("""
    WITH e AS (
      SELECT event_type, CAST(floor(value) AS BIGINT) AS v FROM events),
    h AS (
      SELECT event_type,
        CASE WHEN v >= 512 THEN 10 WHEN v >= 256 THEN 9 WHEN v >= 128 THEN 8
             WHEN v >= 64 THEN 7 WHEN v >= 32 THEN 6 WHEN v >= 16 THEN 5
             WHEN v >= 8 THEN 4 WHEN v >= 4 THEN 3 WHEN v >= 2 THEN 2
             WHEN v >= 1 THEN 1 ELSE 0 END AS bucket,
        COUNT(*) AS n
      FROM e GROUP BY 1, 2),
    c AS (
      SELECT event_type, bucket, n,
        CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
      FROM h)
    SELECT event_type, bucket,
      CAST(CASE WHEN bucket = 0 THEN 0 ELSE 1 << (bucket - 1) END AS BIGINT) AS lo,
      n, cum,
      CASE WHEN cum * 2 >= total AND (cum - n) * 2 < total THEN 1 ELSE 0 END AS is_p50,
      CASE WHEN cum * 100 >= total * 99 AND (cum - n) * 100 < total * 99
           THEN 1 ELSE 0 END AS is_p99
    FROM c ORDER BY event_type ASC NULLS FIRST, bucket ASC NULLS FIRST""")

  /** Bytes stated straight from the fixture — the blob round-trip must
    * be lossless. */
  val qSourceBinaryfile: String = n("""
    SELECT doc_id % 10 AS bucket, COUNT(*) AS n_files,
      CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes
    FROM documents GROUP BY 1
    ORDER BY bucket ASC NULLS FIRST""")

  val qTsSeasonalDetrended: String = n("""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS y
      FROM events GROUP BY 1, 2),
    m0 AS (SELECT MIN(day) AS d0 FROM daily),
    dd AS (SELECT event_type, day, day - d0 AS x, y FROM daily CROSS JOIN m0),
    s AS (
      SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM dd GROUP BY 1),
    k AS (
      SELECT event_type, n, sx, sy,
        CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) AS slope
      FROM s),
    k2 AS (
      SELECT event_type, slope,
        (CAST(sy AS DOUBLE) - slope * sx) / n AS intercept
      FROM k),
    r AS (
      SELECT dd.event_type, dd.day % 7 AS dow_class,
        CAST(floor((y - (intercept + slope * x)) * 1000000) AS BIGINT) AS resid_fp
      FROM dd JOIN k2 ON k2.event_type = dd.event_type)
    SELECT event_type, dow_class, COUNT(*) AS n_days,
      CAST(SUM(resid_fp) AS DOUBLE) / (COUNT(*) * 1000000) AS avg_resid
    FROM r GROUP BY event_type, dow_class
    ORDER BY event_type ASC NULLS FIRST, dow_class ASC NULLS FIRST""")

  val qAggParetoShare: String = n("""
    WITH c AS (SELECT user_id, COUNT(*) AS x FROM events GROUP BY 1),
    r AS (
      SELECT x,
        ROW_NUMBER() OVER (ORDER BY x DESC, user_id ASC) AS r,
        CAST(SUM(x) OVER (ORDER BY x DESC, user_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumx,
        COUNT(*) OVER () AS n_users,
        CAST(SUM(x) OVER () AS BIGINT) AS total_events
      FROM c)
    SELECT n_users, total_events, cumx AS top20_events,
      1000 * cumx // total_events AS share_pm
    FROM r WHERE r = (n_users + 4) // 5""")

  /** PRF rollup over the SAME confusion CTEs as qTextLangid. */
  val qTextLangidPrf: String = n("""
    WITH s AS (
      SELECT lang,
        len(list_filter(string_split(lower(text), ' '),
            t -> t IN ('stream','merge','hash','row')))     AS s_de,
        len(list_filter(string_split(lower(text), ' '),
            t -> t IN ('the','a','table','order')))          AS s_en,
        len(list_filter(string_split(lower(text), ' '),
            t -> t IN ('agg','scan','group','slow')))        AS s_es,
        len(list_filter(string_split(lower(text), ' '),
            t -> t IN ('query','batch','data','key')))       AS s_fr,
        len(list_filter(string_split(lower(text), ' '),
            t -> t IN ('join','small','customer','value')))  AS s_zh
      FROM documents),
    p AS (
      SELECT lang,
        CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh' END AS pred_lang
      FROM s),
    cm AS (SELECT lang, pred_lang, COUNT(*) AS n_docs FROM p GROUP BY 1, 2),
    rt AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS row_n FROM cm GROUP BY 1),
    tp AS (SELECT lang, CAST(n_docs AS BIGINT) AS tp FROM cm WHERE lang = pred_lang),
    ct AS (SELECT pred_lang AS lang, CAST(SUM(n_docs) AS BIGINT) AS col_n
           FROM cm GROUP BY 1),
    j AS (
      SELECT rt.lang, COALESCE(tp.tp, 0) AS tp,
        COALESCE(ct.col_n, 0) - COALESCE(tp.tp, 0) AS fp,
        rt.row_n - COALESCE(tp.tp, 0) AS fn
      FROM rt LEFT JOIN tp ON tp.lang = rt.lang
              LEFT JOIN ct ON ct.lang = rt.lang)
    SELECT lang, tp, fp, fn,
      1000 * tp // nullif(tp + fp, 0) AS prec_pm,
      1000 * tp // nullif(tp + fn, 0) AS rec_pm,
      2000 * tp // nullif(2 * tp + fp + fn, 0) AS f1_pm
    FROM j ORDER BY lang ASC NULLS FIRST""")

  /** Same md5 arm rule as qAbTest; 3σ bound squared to integers. */
  val qAbSrm: String = n("""
    WITH a AS (
      SELECT event_type,
        CAST(SUM(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
                      THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      FROM events GROUP BY event_type)
    SELECT event_type, n_a, n_b, n_a - n_b AS delta,
      CASE WHEN (n_a - n_b) * (n_a - n_b) > (n_a + n_b) * 9
           THEN 1 ELSE 0 END AS srm_flag
    FROM a ORDER BY event_type ASC NULLS FIRST""")

  val qAuditReferential: String = n("""
    WITH j AS (
      SELECT d.doc_id, e.vec_id
      FROM documents d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id)
    SELECT CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL THEN 'matched'
                WHEN vec_id IS NULL THEN 'doc_only'
                ELSE 'vector_only' END AS disposition,
      COUNT(*) AS n
    FROM j GROUP BY 1 ORDER BY disposition ASC NULLS FIRST""")

  val qTsFreshness: String = n("""
    WITH per AS (
      SELECT event_type, MAX(ts) AS last_seen, COUNT(*) AS n_events
      FROM events GROUP BY 1),
    g AS (SELECT MAX(last_seen) AS newest FROM per)
    SELECT event_type, last_seen, n_events,
      (epoch_us(newest) - epoch_us(last_seen)) // 1000000 AS staleness_s,
      CASE WHEN (epoch_us(newest) - epoch_us(last_seen)) // 1000000 > 3600
           THEN 1 ELSE 0 END AS stale
    FROM per CROSS JOIN g
    ORDER BY event_type ASC NULLS FIRST""")

  val qTextVocabGrowth: String = n("""
    WITH d AS (
      SELECT doc_id, NTILE(10) OVER (ORDER BY doc_id) AS decile FROM documents),
    f AS (
      SELECT token, MIN(doc_id) AS doc_id FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents) z
      WHERE token <> '' GROUP BY token),
    np AS (
      SELECT decile, COUNT(*) AS new_tokens
      FROM f JOIN d ON d.doc_id = f.doc_id GROUP BY decile),
    dp AS (SELECT decile, COUNT(*) AS n_docs FROM d GROUP BY decile),
    j AS (
      SELECT dp.decile, dp.n_docs,
        CAST(COALESCE(np.new_tokens, 0) AS BIGINT) AS new_tokens
      FROM dp LEFT JOIN np ON np.decile = dp.decile)
    SELECT decile, n_docs, new_tokens,
      CAST(SUM(n_docs) OVER win AS BIGINT) AS docs_cum,
      CAST(SUM(new_tokens) OVER win AS BIGINT) AS vocab_cum
    FROM j WINDOW win AS (ORDER BY decile
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY decile ASC NULLS FIRST""")

  /** Same interval CTEs as qTsOutageIntervals + the MTTR/MTBF rollup. */
  val qTsMttr: String = n("""
    WITH h AS (
      SELECT epoch_us(ts) // 3600000000 AS h, COUNT(*) AS c FROM events GROUP BY 1),
    b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM h),
    axis AS (SELECT unnest(generate_series(lo, hi)) AS h FROM b),
    f AS (SELECT axis.h, CAST(COALESCE(c, 0) AS BIGINT) AS c
          FROM axis LEFT JOIN h USING (h)),
    t AS (SELECT COUNT(*) AS nh, CAST(SUM(c) AS BIGINT) AS total FROM f),
    quiet AS (
      SELECT f.h FROM f CROSS JOIN t WHERE c * nh * 2 < total),
    isl AS (
      SELECT h, h - ROW_NUMBER() OVER (ORDER BY h) AS isl FROM quiet),
    iv AS (
      SELECT MIN(h) AS start_hour, COUNT(*) AS n_hours
      FROM isl GROUP BY isl),
    g AS (
      SELECT n_hours,
        LEAD(start_hour) OVER (ORDER BY start_hour) - start_hour AS gap
      FROM iv)
    SELECT COUNT(*) AS n_incidents,
      CAST(SUM(n_hours) AS BIGINT) AS total_quiet_hours,
      1000 * CAST(SUM(n_hours) AS BIGINT) // COUNT(*) AS mttr_mh,
      1000 * CAST(SUM(gap) AS BIGINT) // nullif(COUNT(gap), 0) AS mtbf_mh
    FROM g""")

  val qTsRetentionCurve: String = n("""
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
    f AS (SELECT user_id, MIN(day) AS d0 FROM ud GROUP BY 1),
    nu AS (SELECT COUNT(*) AS n_users FROM f)
    SELECT day - d0 AS offset_d,
      CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS n_active, n_users,
      1000 * CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) // n_users AS retention_pm
    FROM ud JOIN f ON f.user_id = ud.user_id CROSS JOIN nu
    GROUP BY day - d0, n_users
    ORDER BY offset_d ASC NULLS FIRST""")

  val qAggLtvDeciles: String = n("""
    WITH pu AS (
      SELECT user_id,
        CAST(SUM(CAST(value AS DECIMAL(28,4))) * 10000 AS BIGINT) AS ltv_fp
      FROM events GROUP BY user_id),
    d AS (
      SELECT ltv_fp, NTILE(10) OVER (ORDER BY ltv_fp, user_id) AS decile,
        CAST(SUM(ltv_fp) OVER () AS BIGINT) AS total_fp
      FROM pu)
    SELECT decile, COUNT(*) AS n_users,
      CAST(CAST(SUM(ltv_fp) AS BIGINT) AS DOUBLE)
        / CAST(10000 AS DOUBLE) AS decile_value,
      1000 * CAST(SUM(ltv_fp) AS BIGINT) // MAX(total_fp) AS share_pm
    FROM d GROUP BY decile ORDER BY decile ASC NULLS FIRST""")

  val qWinDrawdown: String = n("""
    WITH c AS (
      SELECT user_id, ts, event_id,
        SUM(CAST(value AS DECIMAL(28,4)))
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM events),
    r AS (
      SELECT user_id,
        MAX(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - cum AS dd
      FROM c)
    SELECT user_id, COUNT(*) AS n_events,
      CAST(MAX(dd) AS DOUBLE) AS max_drawdown
    FROM r GROUP BY user_id ORDER BY user_id ASC NULLS FIRST""")

  val qTsPeaks: String = n("""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS x
      FROM events GROUP BY 1, 2),
    d AS (
      SELECT event_type, day, x,
        LAG(x) OVER w AS prev, LEAD(x) OVER w AS next,
        COUNT(*) OVER (PARTITION BY event_type) AS n_days,
        CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS total
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
    SELECT event_type, day, x AS n_events, prev, next
    FROM d
    WHERE prev IS NOT NULL AND next IS NOT NULL
      AND x > prev AND x > next AND x * n_days > total
    ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""")

  val qAuditSequenceGaps: String = n("""
    WITH g AS (
      SELECT event_id,
        LAG(event_id) OVER (ORDER BY event_id) AS prev
      FROM events),
    gg AS (
      SELECT COUNT(*) AS n_gaps,
        MAX(event_id - prev - 1) AS widest_gap
      FROM g WHERE prev IS NOT NULL AND event_id - prev > 1),
    s AS (
      SELECT MIN(event_id) AS min_id, MAX(event_id) AS max_id,
        COUNT(*) AS n_rows
      FROM events)
    SELECT min_id, max_id, n_rows,
      max_id - min_id + 1 - n_rows AS missing,
      CAST(COALESCE(n_gaps, 0) AS BIGINT) AS n_gaps,
      CAST(COALESCE(widest_gap, 0) AS BIGINT) AS widest_gap
    FROM s CROSS JOIN gg""")

  val qWinNthValue: String = n("""
    SELECT c_custkey, c_nationkey, c_acctbal, rn, second_bal,
      c_acctbal - second_bal AS gap_to_second
    FROM (
      SELECT c_custkey, c_nationkey, c_acctbal,
        ROW_NUMBER() OVER w AS rn,
        nth_value(c_acctbal, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND UNBOUNDED FOLLOWING) AS second_bal
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
    ) t WHERE rn <= 3
    ORDER BY c_nationkey ASC NULLS FIRST, rn ASC NULLS FIRST""")

  val qTextDupSpans: String = n("""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tk
      FROM documents WHERE len(string_split(text, ' ')) >= 8),
    g0 AS (
      SELECT doc_id,
        list_transform(range(1, len(tk) - 6),
                       i -> md5(array_to_string(tk[i:i+7], ' '))) AS grams
      FROM t),
    g AS (
      SELECT DISTINCT doc_id, gram
      FROM (SELECT doc_id, unnest(grams) AS gram FROM g0) z),
    df AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram)
    SELECT doc_id,
      COUNT(*) AS n_spans,
      CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
      1000 * CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) // COUNT(*)
        AS dup_pm
    FROM g JOIN df USING (gram)
    GROUP BY doc_id ORDER BY doc_id ASC NULLS FIRST""")

  val qDedupSubstring: String = n("""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tk
      FROM documents WHERE len(string_split(text, ' ')) >= 8),
    p AS (
      SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i FROM t),
    g AS (
      SELECT doc_id, i - 1 AS pos,
        md5(array_to_string(tk[i:i+7], ' ')) AS gram
      FROM p),
    c AS (SELECT gram, COUNT(*) AS c FROM g GROUP BY gram),
    d AS (SELECT doc_id, pos FROM g JOIN c USING (gram) WHERE c > 1),
    isl AS (
      SELECT doc_id, pos,
        pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM d)
    SELECT doc_id, MIN(pos) AS span_start,
      MAX(pos) - MIN(pos) + 8 AS span_tokens
    FROM isl GROUP BY doc_id, isl
    HAVING MAX(pos) - MIN(pos) + 8 >= 50
    ORDER BY doc_id ASC NULLS FIRST, span_start ASC NULLS FIRST""")

  val qTsAttribution: String = n("""
    WITH w AS (
      SELECT event_id, user_id, ts, event_type, value,
        LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                        THEN event_type END IGNORE NULLS)
          OVER win AS lt,
        LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                        THEN ts END IGNORE NULLS)
          OVER win AS lt_ts
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    p AS (
      SELECT CASE WHEN lt_ts IS NOT NULL
                   AND epoch_us(ts) - epoch_us(lt_ts) <= 604800000000
                  THEN lt ELSE 'none' END AS channel, value
      FROM w WHERE event_type = 'purchase')
    SELECT channel, COUNT(*) AS n_conversions,
      CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS attributed_value
    FROM p GROUP BY channel ORDER BY channel ASC NULLS FIRST""")

  val qWinSeasonalNaiveError: String = n("""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        COUNT(*) AS x
      FROM events GROUP BY 1, 2),
    d AS (
      SELECT event_type, x,
        ROW_NUMBER() OVER win AS rn,
        abs(x - LAG(x, 1) OVER win) AS e1,
        abs(x - LAG(x, 7) OVER win) AS e7
      FROM daily
      WINDOW win AS (PARTITION BY event_type ORDER BY day)),
    m AS (
      SELECT event_type, COUNT(*) AS n_days,
        CAST(SUM(e1) AS BIGINT) AS sae1, CAST(SUM(e7) AS BIGINT) AS sae7
      FROM d WHERE rn > 7 GROUP BY event_type)
    SELECT event_type, n_days, sae1, sae7,
      CASE WHEN sae1 > 0
           THEN round(CAST(sae7 AS DOUBLE) / CAST(sae1 AS DOUBLE), 6)
           ELSE NULL END AS mase
    FROM m ORDER BY event_type ASC NULLS FIRST""")

  val qTsRfm: String = n("""
    WITH p AS (
      SELECT user_id,
        epoch_us(max(ts)) // 86400000000 AS last_day,
        COUNT(*) AS f,
        SUM(CAST(value AS DECIMAL(28,4))) AS m
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    sc AS (
      SELECT m,
        NTILE(5) OVER (ORDER BY last_day, user_id) AS r_score,
        NTILE(5) OVER (ORDER BY f, user_id) AS f_score,
        NTILE(5) OVER (ORDER BY m, user_id) AS m_score
      FROM p)
    SELECT r_score, f_score, m_score,
      COUNT(*) AS n_users,
      CAST(SUM(m) AS DOUBLE) AS segment_value
    FROM sc GROUP BY 1, 2, 3
    ORDER BY r_score ASC NULLS FIRST, f_score ASC NULLS FIRST,
             m_score ASC NULLS FIRST""")

  val qCdcScd2: String = n("""
    WITH w AS (
      SELECT user_id, ts, event_id, event_type,
        CASE WHEN LAG(event_type) OVER win IS DISTINCT FROM event_type
             THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
    r AS (
      SELECT user_id, event_type, ts,
        CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS version
      FROM w),
    g AS (
      SELECT user_id, version, MIN(event_type) AS state,
        epoch_us(MIN(ts)) AS valid_from_us, COUNT(*) AS n_events
      FROM r GROUP BY user_id, version)
    SELECT user_id, version, state, valid_from_us,
      LEAD(valid_from_us) OVER win2 AS valid_to_us,
      n_events,
      LEAD(valid_from_us) OVER win2 IS NULL AS is_current
    FROM g
    WINDOW win2 AS (PARTITION BY user_id ORDER BY version)
    ORDER BY user_id ASC NULLS FIRST, version ASC NULLS FIRST""")

  val qAbDiffInDiff: String = n("""
    WITH e AS (
      SELECT event_type, value,
        epoch_us(ts) // 86400000000 AS day,
        substring(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7' AS isa
      FROM events),
    c AS (SELECT (min(day) + max(day) + 1) // 2 AS cut FROM e),
    cells AS (
      SELECT event_type, isa, day >= cut AS post,
        COUNT(*) AS n, SUM(CAST(value AS DECIMAL(28,4))) AS sv
      FROM e, c GROUP BY 1, 2, 3),
    g AS (
      SELECT event_type,
        MAX(CASE WHEN isa AND NOT post THEN n END) AS n_a_pre,
        MAX(CASE WHEN isa AND NOT post THEN sv END) AS s_a_pre,
        MAX(CASE WHEN isa AND post THEN n END) AS n_a_post,
        MAX(CASE WHEN isa AND post THEN sv END) AS s_a_post,
        MAX(CASE WHEN NOT isa AND NOT post THEN n END) AS n_b_pre,
        MAX(CASE WHEN NOT isa AND NOT post THEN sv END) AS s_b_pre,
        MAX(CASE WHEN NOT isa AND post THEN n END) AS n_b_post,
        MAX(CASE WHEN NOT isa AND post THEN sv END) AS s_b_post
      FROM cells GROUP BY event_type)
    SELECT event_type, n_a_pre, n_a_post, n_b_pre, n_b_post,
      CASE WHEN n_a_pre > 0 AND n_a_post > 0 AND n_b_pre > 0 AND n_b_post > 0
           THEN round(
             (CAST(s_b_post AS DOUBLE) / n_b_post
                - CAST(s_b_pre AS DOUBLE) / n_b_pre)
             - (CAST(s_a_post AS DOUBLE) / n_a_post
                - CAST(s_a_pre AS DOUBLE) / n_a_pre), 6)
           ELSE NULL END AS did
    FROM g ORDER BY event_type ASC NULLS FIRST""")

  val qSampleBalanced: String = n("""
    WITH d AS (
      SELECT doc_id, lang,
        ROW_NUMBER() OVER (PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
          AS rk
      FROM documents),
    k AS (
      SELECT MIN(n) AS k
      FROM (SELECT COUNT(*) AS n FROM documents GROUP BY lang) z)
    SELECT doc_id, lang, rk
    FROM d, k WHERE rk <= k
    ORDER BY lang ASC NULLS FIRST, rk ASC NULLS FIRST""")

  val qTsGrowthAccounting: String = n("""
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      FROM events),
    t AS (
      SELECT user_id, day,
        MIN(day) OVER (PARTITION BY user_id) AS first_day,
        LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day
      FROM ud),
    d AS (
      SELECT day, COUNT(*) AS active,
        CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
          AS n_new,
        CAST(SUM(CASE WHEN prev_day = day - 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_retained,
        CAST(SUM(CASE WHEN prev_day IS NOT NULL AND prev_day < day - 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      FROM t GROUP BY day)
    SELECT day, active, n_new, n_retained, n_resurrected,
      CASE WHEN LAG(day) OVER w = day - 1
           THEN LAG(active) OVER w - n_retained END AS n_churned
    FROM d WINDOW w AS (ORDER BY day)
    ORDER BY day ASC NULLS FIRST""")

  val qTsP95Trend: String = n("""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        round(quantile_cont(value, 0.95), 4) AS p95, COUNT(*) AS n
      FROM events GROUP BY 1, 2)
    SELECT event_type, day, p95, n,
      CASE WHEN LAG(p95, 7) OVER w > 0
           THEN round(p95 / LAG(p95, 7) OVER w, 6) END AS p95_wow
    FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""")

  val qSqlGroupbyAll: String = n("""
    SELECT l_returnflag, l_linestatus,
      COUNT(*) AS n_rows,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ALL
    ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")

  val qTsTopTalkers: String = n("""
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS day, user_id,
        COUNT(*) AS n_events
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT day, user_id, n_events,
        ROW_NUMBER() OVER (PARTITION BY day
                           ORDER BY n_events DESC, user_id) AS rk
      FROM daily)
    SELECT day, rk, user_id, n_events FROM r WHERE rk <= 3
    ORDER BY day ASC NULLS FIRST, rk ASC NULLS FIRST""")

  val qTsAlertSuppress: String = n("""
    WITH e AS (
      SELECT user_id, ts, event_id,
        epoch_us(ts) - LAG(epoch_us(ts))
          OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events WHERE event_type = 'error'),
    d AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
        COUNT(*) AS n_raw,
        CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800000000
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_fired
      FROM e GROUP BY 1)
    SELECT day, n_raw, n_fired,
      1000 * (n_raw - n_fired) // n_raw AS suppressed_pm
    FROM d ORDER BY day ASC NULLS FIRST""")

  val qEmbedNormDrift: String = n("""
    WITH x AS (
      SELECT vec_id, unnest(embedding) AS e FROM embeddings),
    sq AS (
      SELECT vec_id,
        CAST(SUM(CAST(floor(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)
                            * 1099511627776.0) AS BIGINT)) AS BIGINT) AS sq_fp
      FROM x GROUP BY vec_id),
    p AS (
      SELECT CAST((CAST(1000000000 AS HUGEINT)
                     * abs(CAST(sq_fp AS HUGEINT) - 1099511627776))
                    // 1099511627776 AS BIGINT) AS ppb
      FROM sq),
    b AS (
      SELECT LEAST(ppb // 25, 15) AS bucket, ppb FROM p)
    SELECT bucket, COUNT(*) AS n_vecs,
      MIN(ppb) AS min_ppb, MAX(ppb) AS max_ppb
    FROM b GROUP BY bucket ORDER BY bucket ASC NULLS FIRST""")

  val qMultimodalIntegrity: String = n("""
    WITH a AS (
      SELECT lang,
        substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS corrupt
      FROM documents)
    SELECT lang, COUNT(*) AS n_assets,
      COUNT(*) AS n_magic_ok,
      COUNT(*) AS n_ihdr_ok,
      CAST(SUM(CASE WHEN corrupt THEN 0 ELSE 1 END) AS BIGINT)
        AS n_trailer_ok,
      1000 * CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT)
        // COUNT(*) AS corrupt_pm
    FROM a GROUP BY lang ORDER BY lang ASC NULLS FIRST""")

  val qAuditKeySkew: String = n("""
    WITH ks AS (
      SELECT 'user_id' AS key_col, CAST(user_id AS VARCHAR) AS k
      FROM events
      UNION ALL
      SELECT 'event_type', event_type FROM events
      UNION ALL
      SELECT 'day', CAST(epoch_us(ts) // 86400000000 AS VARCHAR)
      FROM events),
    c AS (
      SELECT key_col, k, COUNT(*) AS n FROM ks GROUP BY key_col, k),
    p AS (
      SELECT key_col, COUNT(*) AS n_keys,
        CAST(SUM(n) AS BIGINT) AS n_rows,
        CAST(MAX(n) AS BIGINT) AS max_key_rows,
        SUM(CAST(n AS HUGEINT) * n) AS sum_sq
      FROM c GROUP BY key_col)
    SELECT key_col, n_keys, n_rows, max_key_rows,
      1000000 * max_key_rows // n_rows AS max_share_ppm,
      CAST(1000000 * sum_sq // (CAST(n_rows AS HUGEINT) * n_rows)
           AS BIGINT) AS hhi_ppm
    FROM p ORDER BY key_col ASC NULLS FIRST""")

  val qDedupIncremental: String = n("""
    WITH inc AS (
      SELECT doc_id, lang, n_chars, text,
        md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS h
      FROM documents
      WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'),
    cor AS (
      SELECT doc_id, lang, n_chars, text,
        md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS h
      FROM documents
      WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> 'f'),
    ex AS (
      SELECT DISTINCT i.doc_id FROM inc i JOIN cor c ON i.h = c.h),
    it AS (
      SELECT doc_id, lang, n_chars,
        list_distinct(string_split(text, ' ')) AS tk FROM inc),
    ct AS (
      SELECT doc_id, lang, n_chars,
        list_distinct(string_split(text, ' ')) AS tk FROM cor),
    nr AS (
      SELECT DISTINCT i.doc_id
      FROM it i JOIN ct c
        ON i.lang = c.lang AND abs(i.n_chars - c.n_chars) <= 25
      WHERE round(CAST(len(list_intersect(i.tk, c.tk)) AS DOUBLE)
                  / len(list_distinct(list_concat(i.tk, c.tk))), 4) >= 0.6)
    SELECT i.doc_id, i.lang,
      CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
           WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
           ELSE 'novel' END AS disposition
    FROM inc i
    LEFT JOIN ex ON i.doc_id = ex.doc_id
    LEFT JOIN nr ON i.doc_id = nr.doc_id
    ORDER BY i.doc_id ASC NULLS FIRST""")

  val qTextMixDrift: String = n("""
    WITH lt AS (SELECT lang, COUNT(*) AS cl FROM documents GROUP BY lang),
    grid AS (
      SELECT s.source, lt.lang, lt.cl
      FROM (SELECT DISTINCT source FROM documents) s CROSS JOIN lt),
    cnt AS (
      SELECT source, lang, COUNT(*) AS n
      FROM documents GROUP BY source, lang),
    cells AS (
      SELECT g.source, g.lang,
        COALESCE(c.n, 0) AS ca, g.cl - COALESCE(c.n, 0) AS cb
      FROM grid g LEFT JOIN cnt c
        ON g.source = c.source AND g.lang = c.lang),
    wn AS (
      SELECT source, lang, ca, cb,
        SUM(ca) OVER (PARTITION BY source) AS na,
        SUM(cb) OVER (PARTITION BY source) AS nb
      FROM cells),
    lp AS (
      SELECT source, na, nb, ca, cb,
        CASE WHEN ca > 0 THEN round(ln(
          CAST(2 * ca * nb AS DOUBLE) / CAST(ca * nb + cb * na AS DOUBLE)), 4)
          ELSE 0.0 END AS lpa,
        CASE WHEN cb > 0 THEN round(ln(
          CAST(2 * cb * na AS DOUBLE) / CAST(ca * nb + cb * na AS DOUBLE)), 4)
          ELSE 0.0 END AS lpb
      FROM wn),
    agg AS (
      SELECT source, na, nb, COUNT(*) AS n_langs,
        SUM(CAST(lpa AS DECIMAL(18,4)) * ca) AS s1,
        SUM(CAST(lpb AS DECIMAL(18,4)) * cb) AS s2
      FROM lp GROUP BY source, na, nb)
    SELECT source, CAST(na AS BIGINT) AS n_docs, n_langs,
      CASE WHEN na > 0 AND nb > 0 THEN
        round(0.5 * (CAST(s1 AS DOUBLE) / CAST(na AS DOUBLE)
                     + CAST(s2 AS DOUBLE) / CAST(nb AS DOUBLE)), 6)
        ELSE NULL END AS jsd
    FROM agg ORDER BY source ASC NULLS FIRST""")

  val qSinkTimetravel: String = n("""
    WITH v1 AS (
      SELECT o_orderstatus AS status, COUNT(*) AS n
      FROM orders GROUP BY 1),
    m AS (
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 97 = 0 THEN 'X' ELSE o_orderstatus END AS status
      FROM orders),
    v2 AS (SELECT status, COUNT(*) AS n FROM m GROUP BY 1)
    SELECT COALESCE(v1.status, v2.status) AS status,
      CAST(COALESCE(v1.n, 0) AS BIGINT) AS n_prev,
      CAST(COALESCE(v2.n, 0) AS BIGINT) AS n_cur,
      CAST(COALESCE(v2.n, 0) - COALESCE(v1.n, 0) AS BIGINT) AS delta_n
    FROM v1 FULL OUTER JOIN v2 ON v1.status = v2.status
    ORDER BY status ASC NULLS FIRST""")

  val qSqlUnpivot: String = n("""
    WITH u AS (
      SELECT l_returnflag, 'qty' AS metric, l_quantity AS val FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'price', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'disc', l_discount FROM lineitem)
    SELECT l_returnflag, metric, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(val AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS total
    FROM u GROUP BY l_returnflag, metric
    ORDER BY l_returnflag ASC NULLS FIRST, metric ASC NULLS FIRST""")

  val qDedupShardAudit: String = n("""
    WITH g AS (
      SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS h,
        COUNT(*) AS n_copies,
        COUNT(DISTINCT substring(md5(CAST(doc_id AS VARCHAR)), 1, 1))
          AS n_shards
      FROM documents GROUP BY h)
    SELECT COUNT(*) AS n_groups,
      CAST(SUM(CASE WHEN n_shards = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_single_shard_groups,
      CAST(SUM(CASE WHEN n_shards > 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_cross_shard_groups,
      CAST(SUM(n_copies - 1) AS BIGINT) AS dups_removed_global,
      CAST(SUM(n_copies - n_shards) AS BIGINT) AS dups_removed_shard_local,
      CAST(SUM(CASE WHEN n_shards > 1 THEN n_shards - 1 ELSE 0 END) AS BIGINT)
        AS dups_leaked
    FROM g""")

  val qMultimodalVad: String = n("""
    WITH d AS (SELECT doc_id, 256 + doc_id % 64 AS n FROM documents),
    smp AS (
      SELECT d.doc_id, g.i AS i,
        abs(((g.i * (d.doc_id + 3)) % 2001) - 1000) AS av
      FROM d CROSS JOIN (SELECT unnest(generate_series(0, 318)) AS i) g
      WHERE g.i < 64 * (d.n // 64)),
    fr AS (
      SELECT doc_id, i // 64 AS f, SUM(av) AS e
      FROM smp GROUP BY doc_id, i // 64),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_frames,
        CAST(SUM(CASE WHEN e > 32000 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_speech,
        CAST(MAX(e) AS BIGINT) AS max_frame_abs
      FROM fr GROUP BY doc_id)
    SELECT doc_id, n_frames, n_speech,
      1000 * n_speech // n_frames AS speech_pm, max_frame_abs
    FROM agg ORDER BY doc_id ASC NULLS FIRST""")

  val qEmbedSplitDrift: String = n("""
    WITH e AS (
      SELECT vec_id, embedding,
        CASE WHEN substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) <= 'b'
               THEN 'train'
             WHEN substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) <= 'd'
               THEN 'val'
             ELSE 'test' END AS split
      FROM embeddings),
    m AS (
      SELECT split, i - 1 AS pos, COUNT(*) AS n,
        CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824.0)
                 AS BIGINT)) AS BIGINT) AS s_fp
      FROM e, generate_series(1, 64) t(i)
      GROUP BY split, i),
    mm AS (
      SELECT split, pos,
        CAST(s_fp AS DOUBLE) / (CAST(n AS DOUBLE) * 1073741824.0) AS mean
      FROM m),
    d AS (
      SELECT o.split,
        CAST(floor(abs(o.mean - t.mean) * 1e9) AS BIGINT) AS dfp
      FROM mm o JOIN (SELECT pos, mean FROM mm WHERE split = 'train') t
        USING (pos)
      WHERE o.split <> 'train')
    SELECT split, COUNT(*) AS n_dims,
      CAST(SUM(dfp * dfp) AS BIGINT) AS sum_sq_fp,
      MAX(dfp) AS max_fp
    FROM d GROUP BY split ORDER BY split ASC NULLS FIRST""")

  val qTsFunnelTime: String = n("""
    WITH w AS (
      SELECT user_id, ts, event_type,
        MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
          OVER (PARTITION BY user_id) AS s_us
      FROM events),
    c AS (
      SELECT user_id, MIN(epoch_us(ts)) - MIN(s_us) AS t2c_us
      FROM w
      WHERE event_type = 'purchase' AND epoch_us(ts) > s_us
      GROUP BY user_id)
    SELECT COUNT(*) AS n_converted,
      round(quantile_cont(t2c_us, 0.5), 4) AS p50_us,
      round(quantile_cont(t2c_us, 0.95), 4) AS p95_us,
      CAST(MAX(t2c_us) AS BIGINT) AS max_us
    FROM c""")

  val qAggPowerCurve: String = n("""
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      FROM events),
    u AS (SELECT user_id, COUNT(*) AS active_days FROM ud GROUP BY user_id)
    SELECT active_days, COUNT(*) AS n_users
    FROM u GROUP BY active_days ORDER BY active_days ASC NULLS FIRST""")

  val qJoinScd2AsOf: String = n("""
    WITH t AS (
      SELECT user_id, ts, event_id, event_type
      FROM events WHERE event_type IN ('click', 'view')),
    w AS (
      SELECT user_id, ts, event_id, event_type,
        CASE WHEN LAG(event_type) OVER win IS DISTINCT FROM event_type
             THEN 1 ELSE 0 END AS chg
      FROM t
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
    r AS (
      SELECT user_id, event_type, ts,
        CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS version
      FROM w),
    g AS (
      SELECT user_id, version, MIN(event_type) AS state,
        epoch_us(MIN(ts)) AS valid_from_us
      FROM r GROUP BY user_id, version),
    h AS (
      SELECT user_id, state, valid_from_us,
        LEAD(valid_from_us) OVER (PARTITION BY user_id ORDER BY version)
          AS valid_to_us
      FROM g),
    f AS (
      SELECT user_id, event_type, epoch_us(ts) AS us
      FROM events WHERE event_type IN ('purchase', 'error', 'signup'))
    SELECT h.state, f.event_type, COUNT(*) AS n_events,
      COUNT(DISTINCT f.user_id) AS n_users
    FROM f JOIN h
      ON f.user_id = h.user_id
     AND f.us >= h.valid_from_us
     AND (h.valid_to_us IS NULL OR f.us < h.valid_to_us)
    GROUP BY h.state, f.event_type
    ORDER BY state ASC NULLS FIRST, event_type ASC NULLS FIRST""")

  val qTextTokenLenDist: String = n("""
    WITH t AS (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS token
      FROM documents),
    c AS (
      SELECT lang, LEAST(length(token), 15) AS token_len, COUNT(*) AS n
      FROM t WHERE token <> '' GROUP BY 1, 2)
    SELECT lang, token_len, n,
      CAST(1000 * n // SUM(n) OVER (PARTITION BY lang) AS BIGINT)
        AS share_pm
    FROM c
    ORDER BY lang ASC NULLS FIRST, token_len ASC NULLS FIRST""")

  val qAggRoundValues: String = n("""
    WITH c AS (
      SELECT event_type,
        CAST(floor(value * 100 + 0.5) AS BIGINT) AS c100
      FROM events)
    SELECT event_type, COUNT(*) AS n,
      CAST(SUM(CASE WHEN c100 % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_whole,
      CAST(SUM(CASE WHEN c100 % 1000 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_tens,
      1000 * CAST(SUM(CASE WHEN c100 % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        // COUNT(*) AS whole_pm,
      1000 * CAST(SUM(CASE WHEN c100 % 1000 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        // COUNT(*) AS tens_pm
    FROM c GROUP BY event_type ORDER BY event_type ASC NULLS FIRST""")

  val qFnVariant: String = n("""
    WITH k AS (
      SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
    SELECT k // 10 AS bucket, COUNT(*) AS n,
      CAST(SUM(k) AS BIGINT) AS sum_k
    FROM k GROUP BY 1 ORDER BY bucket ASC NULLS FIRST""")

  val qTsInterarrival: String = n("""
    WITH g AS (
      SELECT event_type,
        epoch_us(ts) - LAG(epoch_us(ts))
          OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
          AS gap_us
      FROM events)
    SELECT event_type, COUNT(*) AS n_gaps,
      round(quantile_cont(gap_us, 0.5), 4) AS p50_us,
      round(quantile_cont(gap_us, 0.95), 4) AS p95_us,
      MAX(gap_us) AS max_us
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type ASC NULLS FIRST""")
}
