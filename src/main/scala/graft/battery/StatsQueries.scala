package graft
package battery

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.fixtures.TpchGraph
import graft.ext.{Clustering, Corpus, Events, Factorize, Privacy, Regression, Similarity, Stats}

import BatteryFixtures._

/** Statistics and ML: event analytics, time series, tests, profiling
  * and model fitting, each with a closed-form DuckDB twin.
  */
object StatsQueries extends Family("stats") {

  private val olsGramSql =
    """WITH q AS (SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
      |    CAST(round(l_discount * 100) AS BIGINT) AS x2,
      |    CAST(round(l_extendedprice) AS BIGINT) AS y FROM lineitem),
      |g AS (SELECT count(*)::HUGEINT AS n,
      |  sum(x1)::HUGEINT AS sx1, sum(x2)::HUGEINT AS sx2, sum(y)::HUGEINT AS sy,
      |  sum(x1*x1)::HUGEINT AS sx1x1, sum(x2*x2)::HUGEINT AS sx2x2,
      |  sum(x1*x2)::HUGEINT AS sx1x2, sum(x1*y)::HUGEINT AS sx1y,
      |  sum(x2*y)::HUGEINT AS sx2y, sum(y*y)::HUGEINT AS syy FROM q)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // extension: ordered funnel — users completing signup → view →
    // purchase in strict time order (greedy earliest-match, exact)
    QuerySpec("q_funnel", { (s, d) =>
      import graft.ext.Events
      Events.funnel(TpchGraph.eventsTable(s, d), "user_id", "ts", "event_type",
        Seq("signup", "view", "purchase")).orderBy("step")
    },
      // funnel: chained conditional mins per user, strict time order
      """WITH u0 AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |u1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN u0 ON u0.user_id = e.user_id
        |  WHERE e.event_type = 'view' AND e.ts > u0.t GROUP BY 1),
        |u2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN u1 ON u1.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > u1.t GROUP BY 1)
        |SELECT 1 AS step, 'signup' AS event_type,
        |  (SELECT count(*) FROM u0) AS n_users
        |UNION ALL SELECT 2, 'view', (SELECT count(*) FROM u1)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM u2)
        |ORDER BY step""".stripMargin),

    // extension: cohort retention — weekly first-activity cohorts ×
    // activity offsets, exact user counts
    QuerySpec("q_retention", { (s, d) =>
      import graft.ext.Events
      Events.cohortRetention(TpchGraph.eventsTable(s, d), "user_id", "ts",
        periodDays = 7, maxOffset = 10)
        .orderBy("cohort_period", "period_offset")
    },
      // weekly cohorts: floor(epoch/604800); truncation-vs-fraction cannot
      // flip the floor (no integer fits strictly between x and x+1)
      """WITH act AS (SELECT DISTINCT user_id AS u,
        |    CAST(floor(epoch(ts) / 604800) AS BIGINT) AS p FROM events),
        |coh AS (SELECT u, min(p) AS cohort FROM act GROUP BY 1)
        |SELECT coh.cohort AS cohort_period, act.p - coh.cohort AS period_offset,
        |  count(*) AS n_users
        |FROM act JOIN coh ON act.u = coh.u
        |WHERE act.p - coh.cohort <= 10
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // extension: market-basket pair mining — co-purchased part pairs
    // within orders (support >= 3), confidence and lift from exact counts
    QuerySpec("q_itemsets", { (s, d) =>
      import graft.ext.Association
      Association.pairSupport(t(s, d)("lineitem"),
        "l_orderkey", "l_partkey", minSupport = 3, topK = 20)
    },
      // basket pair mining: unordered pairs within an order, exact supports;
      // confidence/lift mirror ((pair*N)/((a)*(b))) parenthesization
      """WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem WHERE l_partkey IS NOT NULL),
        |bd AS (SELECT b, i FROM it
        |  QUALIFY count(*) OVER (PARTITION BY b) <= 1000),
        |nb AS (SELECT count(DISTINCT b) AS n FROM it),
        |sup AS (SELECT i, count(*) AS s FROM it GROUP BY 1),
        |p AS (SELECT x.i AS a, y.i AS b2, count(*) AS pair_sup
        |  FROM bd x JOIN bd y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2)
        |SELECT p.a, p.b2 AS b, p.pair_sup, sa.s AS sup_a, sb.s AS sup_b,
        |  round(CAST(p.pair_sup AS DOUBLE) / sa.s, 4) AS confidence,
        |  round(CAST(p.pair_sup AS DOUBLE) * nb.n /
        |    (CAST(sa.s AS DOUBLE) * sb.s), 4) AS lift
        |FROM p JOIN sup sa ON sa.i = p.a JOIN sup sb ON sb.i = p.b2
        |CROSS JOIN nb WHERE p.pair_sup >= 3
        |ORDER BY p.pair_sup DESC, p.a, p.b2 LIMIT 20""".stripMargin),

    // extension: common session-path mining over the event stream (30-min
    // gap sessions, first 3 steps, top-20 flows)
    QuerySpec("q_event_paths", { (s, d) =>
      import graft.ext.Events
      Events.sessionPaths(TpchGraph.eventsTable(s, d), "user_id", "ts",
        "event_type", "event_id", gapMinutes = 30, maxSteps = 3, topK = 20)
    },
      """WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    event_type FROM events),
        |y AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS prev FROM x),
        |z AS (SELECT *, sum(CASE WHEN prev IS NULL OR
        |      epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess FROM y),
        |s AS (SELECT *, row_number() OVER (PARTITION BY user_id, sess
        |    ORDER BY ts, event_id) AS step FROM z),
        |p AS (SELECT user_id, sess, string_agg(event_type, '>' ORDER BY step)
        |    AS path FROM s WHERE step <= 3 GROUP BY 1, 2)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin),

    // extension: recency-weighted engagement — time-decayed value sums per
    // user (24 h half-life, micro-unit-quantized contributions)
    QuerySpec("q_decayed_sum", { (s, d) =>
      import graft.ext.Events
      Events.decayedSum(TpchGraph.eventsTable(s, d), "user_id", "ts", "value",
        halfLifeHours = 24.0)
        .select(col("user_id"), col("n_events").cast("long").as("n_events"),
          col("decayed_value"))
        .orderBy("user_id")
    },
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |    value FROM events),
        |m AS (SELECT max(tus) AS tmax FROM e),
        |q AS (SELECT user_id,
        |    CAST(round(value * pow(2.0, -(tmax - tus) / 86400000000.0)
        |      * 1000000.0) AS BIGINT) AS qv
        |  FROM e CROSS JOIN m)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(CAST(sum(qv) AS DOUBLE) / 1000000.0, 4) AS decayed_value
        |FROM q GROUP BY 1 ORDER BY user_id""".stripMargin),

    // extension: distributed fixed-point Lloyd k-means — integer
    // micro-unit coordinates, md5-seeded init, plan-literal centroids
    QuerySpec("q_kmeans", { (s, d) =>
      graft.ext.Clustering.kmeansFixed(t(s, d)("embeddings"), "vec_id",
        "embedding", k = 5, dim = 12, rounds = 3).orderBy("vec_id")
    },
      // unrolled-CTE replay of the fixed-point Lloyd rounds
      graft.ext.Clustering.kmeansOracleSql(
      "embeddings", "vec_id", "embedding", k = 5, dim = 12, rounds = 3)),

    // extension: one-pass column profile (row/null/distinct counts,
    // stringified min/max) — the admit-a-new-table data-quality gate
    QuerySpec("q_profile", { (s, d) =>
      Corpus.profile(
        t(s, d)("orders")
          .withColumn("o_totalprice", col("o_totalprice").cast("decimal(18,2)")),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "o_totalprice"))
        .orderBy("column")
    }, {
      val perCol = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "o_totalprice").map { c =>
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value FROM o""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
         |    CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice FROM orders)
         |$perCol
         |ORDER BY "column"""".stripMargin
    }),

    // extension: regular-grid resample + forward fill (6 h steps over each
    // user's activity span; last observation per bucket wins)
    QuerySpec("q_resample_fill", { (s, d) =>
      val ev = TpchGraph.eventsTable(s, d).where(col("user_id") < 20)
      Events.resampleFill(ev, "user_id", "ts", "value", "event_id",
        stepSeconds = 21600L)
        .select(col("user_id"), col("bucket_ts"),
          round(col("value"), 4).as("value"))
        .orderBy("user_id", "bucket_ts")
    },
      """WITH obs AS (SELECT user_id AS k, epoch_us(ts) // 21600000000 AS b,
        |    value, ts, event_id
        |  FROM events WHERE user_id < 20),
        |pick AS (SELECT k, b, value FROM (SELECT k, b, value,
        |      row_number() OVER (PARTITION BY k, b
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM obs)
        |  WHERE rn = 1),
        |span AS (SELECT k, min(b) AS b0, max(b) AS b1 FROM pick GROUP BY 1),
        |grid AS (SELECT k, unnest(generate_series(b0, b1)) AS b FROM span)
        |SELECT g.k AS user_id, g.b * 21600 AS bucket_ts,
        |  round(last_value(p.value IGNORE NULLS) OVER (PARTITION BY g.k
        |    ORDER BY g.b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
        |    AS value
        |FROM grid g LEFT JOIN pick p ON p.k = g.k AND p.b = g.b
        |ORDER BY user_id, bucket_ts""".stripMargin),

    // extension: per-dimension embedding drift monitor between snapshots
    QuerySpec("q_embed_drift", { (s, d) =>
      val emb = t(s, d)("embeddings")
      Similarity.embeddingDrift(emb.where(col("label") < 5),
        emb.where(col("label") >= 5), "embedding", dim = 16)
        .orderBy("dim")
    },
      """WITH sides AS (SELECT CASE WHEN label < 5 THEN 'ref' ELSE 'new' END
        |    AS side, embedding FROM embeddings),
        |lf AS (SELECT side, i AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS q
        |  FROM sides, LATERAL (SELECT unnest(generate_series(1, 16)) AS i) u),
        |ag AS (SELECT dim,
        |    CAST(sum(CASE WHEN side = 'ref' THEN q END) AS BIGINT) AS sr,
        |    CAST(count(CASE WHEN side = 'ref' THEN 1 END) AS BIGINT) AS nr,
        |    CAST(sum(CASE WHEN side = 'new' THEN q END) AS BIGINT) AS sn,
        |    CAST(count(CASE WHEN side = 'new' THEN 1 END) AS BIGINT) AS nn
        |  FROM lf GROUP BY 1)
        |SELECT CAST(dim AS INTEGER) AS dim,
        |  round(CAST(sr AS DOUBLE) / nr / 1000000, 4) AS mean_ref,
        |  round(CAST(sn AS DOUBLE) / nn / 1000000, 4) AS mean_new,
        |  round(abs(CAST(sr AS DOUBLE) / nr - CAST(sn AS DOUBLE) / nn) / 1000000, 4)
        |    AS abs_shift
        |FROM ag ORDER BY dim""".stripMargin),

    // extension: sparse equi-width histogram (optimizer-stats shape)
    QuerySpec("q_histogram", { (s, d) =>
      Corpus.histogramEquiWidth(t(s, d)("lineitem"), "l_extendedprice",
        nBins = 20).orderBy("bin")
    },
      """WITH st AS (SELECT CAST(min(l_extendedprice) AS DOUBLE) AS mn,
        |    CAST(max(l_extendedprice) AS DOUBLE) AS mx
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |b AS (SELECT CAST(CASE WHEN mx = mn THEN 0
        |    ELSE least(floor((CAST(l_extendedprice AS DOUBLE) - mn) /
        |      ((mx - mn) / 20)), 19) END AS INTEGER) AS bin, mn, mx
        |  FROM lineitem, st WHERE l_extendedprice IS NOT NULL)
        |SELECT bin,
        |  round(mn + CAST(bin AS DOUBLE) * ((mx - mn) / 20), 4) AS bin_lo,
        |  round(mn + CAST(bin + 1 AS DOUBLE) * ((mx - mn) / 20), 4) AS bin_hi,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM b GROUP BY bin, mn, mx ORDER BY bin""".stripMargin),

    // extension: all-integer trailing-window spike detection (hourly
    // event-type volumes vs 3× the trailing-24h mean)
    QuerySpec("q_spike_detect", { (s, d) =>
      Events.spikeDetect(TpchGraph.eventsTable(s, d), "event_type", "ts",
        stepSeconds = 3600L, trail = 24, num = 3L, den = 1L)
        .orderBy("event_type", "bucket_ts")
    },
      """WITH c AS (SELECT event_type AS k, epoch_us(ts) // 3600000000 AS b,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT k, min(b) AS b0, max(b) AS b1 FROM c GROUP BY 1),
        |grid AS (SELECT k, unnest(generate_series(b0, b1)) AS b FROM span),
        |g AS (SELECT grid.k, grid.b, coalesce(c.cnt, 0) AS cnt
        |  FROM grid LEFT JOIN c ON c.k = grid.k AND c.b = grid.b),
        |wfn AS (SELECT k, b, cnt,
        |    CAST(coalesce(sum(cnt) OVER (PARTITION BY k ORDER BY b
        |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS trail_sum,
        |    row_number() OVER (PARTITION BY k ORDER BY b) AS rn FROM g)
        |SELECT k AS event_type, b * 3600 AS bucket_ts, cnt, trail_sum,
        |  (rn > 24 AND cnt * 1 * 24 > 3 * trail_sum) AS spike
        |FROM wfn ORDER BY event_type, bucket_ts""".stripMargin),

    // extension: k-anonymity / l-diversity release profile over the
    // (nation, segment) quasi-identifier with account balance sensitive
    QuerySpec("q_k_anonymity", { (s, d) =>
      graft.ext.Privacy.kAnonymityProfile(t(s, d)("customer"),
        Seq("c_nationkey", "c_mktsegment"), "c_acctbal", k = 10)
    },
      """WITH cls AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS sz,
        |    CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(sz) AS BIGINT) AS n_rows,
        |  min(sz) AS min_class_size,
        |  CAST(coalesce(sum(CASE WHEN sz < 10 THEN sz END), 0) AS BIGINT)
        |    AS n_rows_below_k,
        |  round(CAST(coalesce(sum(CASE WHEN sz < 10 THEN sz END), 0) AS DOUBLE)
        |    / sum(sz), 4) AS pct_rows_below_k,
        |  min(l) AS min_l_diversity
        |FROM cls""".stripMargin),

    // extension: lag-24 autocorrelation of hourly event-type volumes —
    // the daily-seasonality detector feeding spike baselines
    QuerySpec("q_autocorr", { (s, d) =>
      Events.lagAutocorr(TpchGraph.eventsTable(s, d), "event_type", "ts",
        stepSeconds = 3600L, lag = 24).orderBy("event_type")
    },
      """WITH c AS (SELECT event_type AS k, epoch_us(ts) // 3600000000 AS b,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT k, min(b) AS b0, max(b) AS b1 FROM c GROUP BY 1),
        |grid AS (SELECT k, unnest(generate_series(b0, b1)) AS b FROM span),
        |g AS (SELECT grid.k, grid.b, coalesce(c.cnt, 0) AS x
        |  FROM grid LEFT JOIN c ON c.k = grid.k AND c.b = grid.b),
        |pairs AS (SELECT a.k, a.x, y.x AS y
        |  FROM g a JOIN g y ON y.k = a.k AND y.b = a.b + 24),
        |ag AS (SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM pairs GROUP BY 1)
        |SELECT k AS event_type, n_pairs,
        |  CASE WHEN n_pairs * sxx - sx * sx <= 0 OR n_pairs * syy - sy * sy <= 0
        |    THEN 0.0
        |    ELSE round(CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))), 4) END AS autocorr
        |FROM ag ORDER BY event_type""".stripMargin),

    // extension: conversion-window funnel (greedy first-qualifying
    // occurrence, the product-analytics contract)
    QuerySpec("q_funnel_within", { (s, d) =>
      Events.funnelWithin(TpchGraph.eventsTable(s, d), "user_id", "ts",
        "event_type", Seq("signup", "click", "purchase"), windowHours = 72L)
        .orderBy("step")
    },
      // greedy windowed chain, 72 h = 259200000000 us
      """WITH ev AS (SELECT user_id AS u, epoch_us(ts) AS t, event_type AS ty
        |  FROM events),
        |s1 AS (SELECT u, min(t) AS t FROM ev WHERE ty = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.u, min(e.t) AS t FROM ev e JOIN s1 p ON p.u = e.u
        |  WHERE e.ty = 'click' AND e.t > p.t AND e.t <= p.t + 259200000000
        |  GROUP BY 1),
        |s3 AS (SELECT e.u, min(e.t) AS t FROM ev e JOIN s2 p ON p.u = e.u
        |  WHERE e.ty = 'purchase' AND e.t > p.t AND e.t <= p.t + 259200000000
        |  GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS INT) AS step, 'signup' AS event_type,
        |    CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
        |  UNION ALL SELECT CAST(2 AS INT), 'click',
        |    CAST((SELECT count(*) FROM s2) AS BIGINT)
        |  UNION ALL SELECT CAST(3 AS INT), 'purchase',
        |    CAST((SELECT count(*) FROM s3) AS BIGINT))
        |ORDER BY step""".stripMargin),

    // extension: linear multi-touch attribution of purchase value over
    // view/click touches in a 24 h lookback; '(none)' holds untouched
    QuerySpec("q_attribution", { (s, d) =>
      Events.linearAttribution(TpchGraph.eventsTable(s, d), "user_id", "ts",
        "event_type", "value", "event_id", Seq("view", "click"), "purchase",
        lookbackHours = 24L)
        .orderBy("channel")
    },
      """WITH touches AS (SELECT user_id AS u, epoch_us(ts) AS tts,
        |    event_type AS channel
        |  FROM events WHERE event_type IN ('view', 'click')),
        |convs AS (SELECT user_id AS u, epoch_us(ts) AS pts, value,
        |    event_id AS pid
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.pid, c.value, t.tts, t.channel
        |  FROM convs c LEFT JOIN touches t
        |  ON t.u = c.u AND t.tts <= c.pts AND t.tts > c.pts - 86400000000),
        |pc AS (SELECT pid,
        |    CAST(sum(CASE WHEN tts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n
        |  FROM j GROUP BY 1),
        |sh AS (SELECT
        |    CASE WHEN j.tts IS NOT NULL THEN j.channel ELSE '(none)' END
        |      AS channel,
        |    CAST(round(CASE WHEN pc.n > 0 THEN j.value * 1000000 / pc.n
        |      ELSE j.value * 1000000 END, 0) AS BIGINT) AS share
        |  FROM j JOIN pc USING (pid))
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
        |  round(CAST(sum(share) AS DOUBLE) / 1000000, 4) AS attributed
        |FROM sh GROUP BY 1 ORDER BY channel""".stripMargin),

    // extension: RFM scoring against exact global quintile thresholds
    QuerySpec("q_rfm", { (s, d) =>
      Events.rfmScores(TpchGraph.eventsTable(s, d), "user_id", "ts", "value")
        .orderBy("user_id")
    },
      """WITH mx AS (SELECT max(epoch_us(ts)) AS tmax FROM events),
        |pu AS (SELECT user_id,
        |    CAST(floor((mx.tmax - max(epoch_us(ts))) / 86400000000.0) AS BIGINT)
        |      AS recency_days,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS mc
        |  FROM events, mx GROUP BY user_id, mx.tmax),
        |th AS (SELECT
        |    quantile_cont(CAST(recency_days AS DOUBLE), [0.2, 0.4, 0.6, 0.8])
        |      AS tr,
        |    quantile_cont(CAST(frequency AS DOUBLE), [0.2, 0.4, 0.6, 0.8])
        |      AS tf,
        |    quantile_cont(CAST(mc AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS tm
        |  FROM pu)
        |SELECT user_id, recency_days, frequency,
        |  round(CAST(mc AS DOUBLE) / 100, 2) AS monetary,
        |  CAST(1 + (CAST(recency_days AS DOUBLE) < tr[1])::INT
        |    + (CAST(recency_days AS DOUBLE) < tr[2])::INT
        |    + (CAST(recency_days AS DOUBLE) < tr[3])::INT
        |    + (CAST(recency_days AS DOUBLE) < tr[4])::INT AS INT) AS r_score,
        |  CAST(1 + (CAST(frequency AS DOUBLE) > tf[1])::INT
        |    + (CAST(frequency AS DOUBLE) > tf[2])::INT
        |    + (CAST(frequency AS DOUBLE) > tf[3])::INT
        |    + (CAST(frequency AS DOUBLE) > tf[4])::INT AS INT) AS f_score,
        |  CAST(1 + (CAST(mc AS DOUBLE) > tm[1])::INT
        |    + (CAST(mc AS DOUBLE) > tm[2])::INT
        |    + (CAST(mc AS DOUBLE) > tm[3])::INT
        |    + (CAST(mc AS DOUBLE) > tm[4])::INT AS INT) AS m_score
        |FROM pu, th ORDER BY user_id""".stripMargin),

    // extension: Benford first-digit screen over order totals
    QuerySpec("q_benford", { (s, d) =>
      Corpus.benfordProfile(t(s, d)("orders"), "o_totalprice")
        .orderBy("digit")
    }, Corpus.benfordOracleSql(
      "SELECT o_totalprice AS x FROM orders")),

    // extension: first-order Markov transition matrix of event types
    QuerySpec("q_markov", { (s, d) =>
      Events.transitionMatrix(TpchGraph.eventsTable(s, d), "user_id", "ts",
        "event_type", "event_id")
        .orderBy("from_type", "to_type")
    },
      """WITH seq AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events),
        |tr AS (SELECT prev AS from_type, event_type AS to_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM tr
        |  GROUP BY 1)
        |SELECT tr.from_type, to_type, n,
        |  round(CAST(n AS DOUBLE) / tot, 4) AS prob
        |FROM tr JOIN tot USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin),

    // extension: lead-lag cross-correlation, click volume vs purchase
    // volume, hourly buckets, lags −6..6
    QuerySpec("q_xcorr", { (s, d) =>
      Events.crossCorrelation(TpchGraph.eventsTable(s, d), "ts", "event_type",
        "click", "purchase", stepSeconds = 3600L, maxLag = 6)
        .orderBy("lag")
    },
      """WITH ca AS (SELECT epoch_us(ts) // 3600000000 AS b,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |cb AS (SELECT epoch_us(ts) // 3600000000 AS b,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |span AS (SELECT min(b) AS b0, max(b) AS b1 FROM
        |  (SELECT b FROM ca UNION ALL SELECT b FROM cb)),
        |grid AS (SELECT unnest(generate_series(b0, b1)) AS b FROM span),
        |fa AS (SELECT g.b, coalesce(ca.cnt, 0) AS x
        |  FROM grid g LEFT JOIN ca ON ca.b = g.b),
        |fb AS (SELECT g.b, coalesce(cb.cnt, 0) AS y
        |  FROM grid g LEFT JOIN cb ON cb.b = g.b),
        |lags AS (SELECT unnest(generate_series(-6, 6)) AS lag),
        |pairs AS (SELECT l.lag, a.x, y.y
        |  FROM lags l JOIN fa a ON TRUE JOIN fb y ON y.b = a.b + l.lag),
        |ag AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM pairs GROUP BY 1)
        |SELECT CAST(lag AS INT) AS lag, n_pairs,
        |  CASE WHEN n_pairs * sxx - sx * sx <= 0 OR n_pairs * syy - sy * sy <= 0
        |    THEN 0.0
        |    ELSE round(CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))), 4) END AS xcorr
        |FROM ag ORDER BY lag""".stripMargin),

    // extension: missingness-pattern profile over synthesized nulls
    QuerySpec("q_null_patterns", { (s, d) =>
      Corpus.nullPatterns(
        t(s, d)("orders")
          .withColumn("o_orderstatus", nullif(col("o_orderstatus"), lit("F")))
          .withColumn("o_orderpriority",
            nullif(col("o_orderpriority"), lit("1-URGENT"))),
        Seq("o_orderkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("pattern")
    },
      """WITH o AS (SELECT o_orderkey,
        |    nullif(o_orderstatus, 'F') AS st,
        |    nullif(o_orderpriority, '1-URGENT') AS pr
        |  FROM orders)
        |SELECT (CASE WHEN o_orderkey IS NULL THEN '1' ELSE '0' END ||
        |        CASE WHEN st IS NULL THEN '1' ELSE '0' END ||
        |        CASE WHEN pr IS NULL THEN '1' ELSE '0' END) AS pattern,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM o GROUP BY 1 ORDER BY pattern""".stripMargin),

    // extension: declarative data-quality rule suite (Deequ/dbt-tests
    // shape) — the batch admission gate
    QuerySpec("q_dq_checks", { (s, d) =>
      import graft.ext.Quality
      import graft.ext.Quality._
      Quality.check(t(s, d)("orders"), Seq(
        NotNull("o_custkey"),
        Unique(Seq("o_orderkey")),
        InSet("o_orderstatus", Seq("F", "O", "P")),
        InRange("o_totalprice", 0.0, 1e7),
        ForeignKey(Seq("o_custkey"), t(s, d)("customer"), Seq("c_custkey"))))
        .orderBy("rule")
    },
      """SELECT rule, n_violations, n_violations <= 0 AS pass FROM (
        |  SELECT 'not_null(o_custkey)' AS rule,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violations FROM orders
        |  UNION ALL
        |  SELECT 'unique(o_orderkey)',
        |    CAST(coalesce(sum(n - 1), 0) AS BIGINT) FROM
        |    (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
        |  UNION ALL
        |  SELECT 'in_set(o_orderstatus)',
        |    CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END)
        |      AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'in_range(o_totalprice)',
        |    CAST(sum(CASE WHEN o_totalprice IS NOT NULL
        |      AND (o_totalprice < 0 OR o_totalprice > 10000000) THEN 1 ELSE 0
        |      END) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'foreign_key(o_custkey)', CAST(count(*) AS BIGINT)
        |  FROM orders o WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |ORDER BY rule""".stripMargin),

    // extension: two-proportion z-test — even-user treatment vs odd-user
    // control, conversion = any purchase
    QuerySpec("q_ab_test", { (s, d) =>
      graft.ext.Stats.twoProportionZ(TpchGraph.eventsTable(s, d), "user_id",
        "event_type", "purchase", col("user_id") % 2 === 0)
    },
      """WITH users AS (SELECT DISTINCT user_id AS u, (user_id % 2 = 0) AS g
        |  FROM events),
        |conv AS (SELECT DISTINCT user_id AS u FROM events
        |  WHERE event_type = 'purchase'),
        |f AS (SELECT users.u, users.g,
        |    CASE WHEN conv.u IS NOT NULL THEN 1 ELSE 0 END AS c
        |  FROM users LEFT JOIN conv ON conv.u = users.u),
        |ag AS (SELECT
        |    CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
        |    CAST(sum(CASE WHEN g THEN c ELSE 0 END) AS BIGINT) AS x_treat,
        |    CAST(sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl,
        |    CAST(sum(CASE WHEN NOT g THEN c ELSE 0 END) AS BIGINT) AS x_ctrl
        |  FROM f)
        |SELECT n_treat, x_treat, n_ctrl, x_ctrl,
        |  round(CAST(x_treat AS DOUBLE) / n_treat, 4) AS rate_treat,
        |  round(CAST(x_ctrl AS DOUBLE) / n_ctrl, 4) AS rate_ctrl,
        |  round(CAST(x_treat AS DOUBLE) / n_treat -
        |    CAST(x_ctrl AS DOUBLE) / n_ctrl, 4) AS lift,
        |  CASE WHEN sqrt(CAST(x_treat + x_ctrl AS DOUBLE) / (n_treat + n_ctrl) *
        |      (1.0 - CAST(x_treat + x_ctrl AS DOUBLE) / (n_treat + n_ctrl)) *
        |      (1.0 / n_treat + 1.0 / n_ctrl)) = 0 THEN 0.0
        |    ELSE round((CAST(x_treat AS DOUBLE) / n_treat -
        |      CAST(x_ctrl AS DOUBLE) / n_ctrl) /
        |      sqrt(CAST(x_treat + x_ctrl AS DOUBLE) / (n_treat + n_ctrl) *
        |      (1.0 - CAST(x_treat + x_ctrl AS DOUBLE) / (n_treat + n_ctrl)) *
        |      (1.0 / n_treat + 1.0 / n_ctrl)), 4) END AS z
        |FROM ag""".stripMargin),

    // extension: UCB1 arm ranking over event-type reward streams
    QuerySpec("q_ucb", { (s, d) =>
      graft.ext.Stats.ucbScores(TpchGraph.eventsTable(s, d), "event_type",
        "value").orderBy("arm")
    },
      """WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS N FROM events),
        |arms AS (SELECT event_type AS arm, CAST(count(*) AS BIGINT) AS n_pulls,
        |    CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS BIGINT) AS rq
        |  FROM events GROUP BY 1)
        |SELECT arm, n_pulls,
        |  round(CAST(rq AS DOUBLE) / n_pulls / 1000000, 4) AS mean_reward,
        |  round(CAST(rq AS DOUBLE) / n_pulls / 1000000 +
        |    sqrt(2.0 * CAST(CAST(round(ln(CAST(N AS DOUBLE)) * 1000000, 0)
        |      AS BIGINT) AS DOUBLE) / 1000000 / n_pulls), 4) AS ucb
        |FROM arms, tot ORDER BY arm""".stripMargin),

    // extension: chi-square independence of lang × source (+ Cramér's V)
    QuerySpec("q_chi2", { (s, d) =>
      graft.ext.Stats.chiSquare(t(s, d)("documents"), "lang", "source")
    },
      """WITH cells AS (SELECT lang AS a, source AS b,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2),
        |rm AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
        |cm AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |    CAST(count(DISTINCT a) AS BIGINT) AS da,
        |    CAST(count(DISTINCT b) AS BIGINT) AS db
        |  FROM cells),
        |q AS (SELECT CAST(round(
        |    (o - CAST(ra AS DOUBLE) * cb / n) * (o - CAST(ra AS DOUBLE) * cb / n)
        |      / (CAST(ra AS DOUBLE) * cb / n) * 1000000, 0) AS BIGINT) AS cq
        |  FROM cells JOIN rm USING (a) JOIN cm USING (b), tot)
        |SELECT tot.n AS n_obs, (da - 1) * (db - 1) AS dof,
        |  round(CAST((SELECT sum(cq) FROM q) AS DOUBLE) / 1000000, 4) AS chi2,
        |  round(sqrt(CAST((SELECT sum(cq) FROM q) AS DOUBLE) / 1000000 /
        |    CAST(n * least(da - 1, db - 1) AS DOUBLE)), 4) AS cramers_v
        |FROM tot""".stripMargin),

    // extension: histogram split finding (the XGBoost/LightGBM kernel)
    // — best Gini split per lineitem feature for predicting returns
    QuerySpec("q_best_split", { (s, d) =>
      graft.ext.Tree.bestSplits(t(s, d)("lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"),
        col("l_returnflag") === "R", nBins = 16)
        .orderBy("feature")
    },
      // histogram split replay: identical binning, cumulative class counts,
      // micro-quantized weighted Gini, (gini, bin) argmin
      """WITH m AS (
        |  SELECT CAST(l_returnflag = 'R' AS BIGINT) AS y, 'l_quantity' AS f,
        |    CAST(l_quantity AS DOUBLE) AS v FROM lineitem
        |  UNION ALL SELECT CAST(l_returnflag = 'R' AS BIGINT),
        |    'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
        |  UNION ALL SELECT CAST(l_returnflag = 'R' AS BIGINT), 'l_discount',
        |    CAST(l_discount AS DOUBLE) FROM lineitem),
        |m2 AS (SELECT * FROM m WHERE v IS NOT NULL AND y IS NOT NULL),
        |st AS (SELECT f, min(v) AS mn, max(v) AS mx FROM m2 GROUP BY 1),
        |h AS (SELECT m2.f,
        |    CAST(CASE WHEN mx = mn THEN 0
        |      ELSE least(floor((v - mn) / ((mx - mn) / 16)), 15) END AS INT)
        |      AS bin,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
        |  FROM m2 JOIN st USING (f) GROUP BY 1, 2),
        |cum AS (SELECT f, bin,
        |    CAST(sum(n) OVER (PARTITION BY f ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nl,
        |    CAST(sum(pos) OVER (PARTITION BY f ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pl,
        |    CAST(sum(n) OVER (PARTITION BY f) AS BIGINT) AS nt,
        |    CAST(sum(pos) OVER (PARTITION BY f) AS BIGINT) AS pt
        |  FROM h),
        |sc AS (SELECT f, bin, nt, CAST(round((
        |    (CAST(nl AS DOUBLE) / nt) * (1.0
        |      - (CAST(pl AS DOUBLE) / nl) * (CAST(pl AS DOUBLE) / nl)
        |      - (CAST(nl - pl AS DOUBLE) / nl) * (CAST(nl - pl AS DOUBLE) / nl))
        |    + (CAST(nt - nl AS DOUBLE) / nt) * (1.0
        |      - (CAST(pt - pl AS DOUBLE) / (nt - nl)) *
        |        (CAST(pt - pl AS DOUBLE) / (nt - nl))
        |      - (CAST((nt - nl) - (pt - pl) AS DOUBLE) / (nt - nl)) *
        |        (CAST((nt - nl) - (pt - pl) AS DOUBLE) / (nt - nl)))
        |    ) * 1000000, 0) AS BIGINT) AS gq
        |  FROM cum WHERE nl < nt),
        |best AS (SELECT f, bin, gq, nt FROM (
        |    SELECT f, bin, gq, nt,
        |      row_number() OVER (PARTITION BY f ORDER BY gq, bin) AS rn
        |    FROM sc) WHERE rn = 1)
        |SELECT b.f AS feature, b.bin AS split_bin,
        |  round(st.mn + CAST(b.bin + 1 AS DOUBLE) * ((st.mx - st.mn) / 16), 4)
        |    AS split_value,
        |  round(CAST(b.gq AS DOUBLE) / 1000000, 4) AS weighted_gini,
        |  b.nt AS n_rows
        |FROM best b JOIN st ON st.f = b.f
        |ORDER BY feature""".stripMargin),

    // extension: Pareto revenue concentration — customers bucketed into
    // spend deciles by exact percentile thresholds (no global window),
    // each decile's share of total revenue in exact integer cents
    QuerySpec("q_pareto", { (s, d) =>
      val rev = t(s, d)("orders").groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("_c"))
      val qs = Array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
      val th = rev.agg(percentile(col("_c"), lit(qs)).as("_t"))
      val decile = (1 to 9).map(i =>
        when(col("_c").cast("double") > element_at(col("_t"), i), 1)
          .otherwise(0)).reduce(_ + _) + 1
      val bucketed = rev.crossJoin(broadcast(th))
        .withColumn("decile", decile.cast("int"))
      val tot = bucketed.agg(sum(col("_c")).as("_tot"))
      bucketed.groupBy("decile")
        .agg(count(lit(1)).as("n_customers"), sum(col("_c")).as("_dc"))
        .crossJoin(broadcast(tot))
        .select(col("decile"), col("n_customers"),
          round(col("_dc").cast("double") / col("_tot"), 4).as("rev_share"))
        .orderBy("decile")
    },
      """WITH rev AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS c
        |  FROM orders GROUP BY 1),
        |th AS (SELECT quantile_cont(CAST(c AS DOUBLE),
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS t FROM rev),
        |b AS (SELECT c, CAST(1 + (CAST(c AS DOUBLE) > t[1])::INT
        |    + (CAST(c AS DOUBLE) > t[2])::INT + (CAST(c AS DOUBLE) > t[3])::INT
        |    + (CAST(c AS DOUBLE) > t[4])::INT + (CAST(c AS DOUBLE) > t[5])::INT
        |    + (CAST(c AS DOUBLE) > t[6])::INT + (CAST(c AS DOUBLE) > t[7])::INT
        |    + (CAST(c AS DOUBLE) > t[8])::INT + (CAST(c AS DOUBLE) > t[9])::INT
        |    AS INT) AS decile
        |  FROM rev, th),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tc FROM b)
        |SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
        |  round(CAST(sum(c) AS DOUBLE) / tc, 4) AS rev_share
        |FROM b, tot GROUP BY decile, tc ORDER BY decile""".stripMargin),

    // extension: order-to-ship latency quantiles per priority class
    QuerySpec("q_ship_latency", { (s, d) =>
      val j = t(s, d)("orders").join(t(s, d)("lineitem"),
        col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority"),
          ((unix_micros(col("l_shipdate").cast("timestamp")) -
            unix_micros(col("o_orderdate").cast("timestamp"))) /
            lit(86400000000.0)).as("_days"))
      j.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          round(percentile(col("_days"), lit(0.5)), 2).as("p50_days"),
          round(percentile(col("_days"), lit(0.9)), 2).as("p90_days"))
        .orderBy("o_orderpriority")
    },
      """WITH j AS (SELECT o.o_orderpriority,
        |    (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)) / 86400000000.0
        |      AS days
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |  round(quantile_cont(days, 0.5), 2) AS p50_days,
        |  round(quantile_cont(days, 0.9), 2) AS p90_days
        |FROM j GROUP BY 1 ORDER BY o_orderpriority""".stripMargin),

    // extension: Herfindahl-Hirschman supplier concentration per part —
    // per-supplier share² quantized to micro-units before the sum
    QuerySpec("q_hhi", { (s, d) =>
      val li = t(s, d)("lineitem").where(col("l_partkey") < 20)
      val bySupp = li.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("_q"))
      val byPart = bySupp.groupBy("l_partkey")
        .agg(sum(col("_q")).as("_tot"), count(lit(1)).as("n_suppliers"))
      bySupp.join(byPart, Seq("l_partkey"))
        .withColumn("_h_q", round((col("_q").cast("double") / col("_tot")) *
          (col("_q").cast("double") / col("_tot")) * 1e6, 0).cast("long"))
        .groupBy(col("l_partkey"), col("n_suppliers"))
        .agg(round(sum(col("_h_q")).cast("double") / 1e6, 4).as("hhi"))
        .select("l_partkey", "n_suppliers", "hhi")
        .orderBy("l_partkey")
    },
      """WITH bs AS (SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem WHERE l_partkey < 20 GROUP BY 1, 2),
        |bp AS (SELECT l_partkey, CAST(sum(q) AS BIGINT) AS tot,
        |    CAST(count(*) AS BIGINT) AS n_suppliers
        |  FROM bs GROUP BY 1),
        |hq AS (SELECT bs.l_partkey, bp.n_suppliers,
        |    CAST(round((CAST(bs.q AS DOUBLE) / bp.tot) *
        |      (CAST(bs.q AS DOUBLE) / bp.tot) * 1000000, 0) AS BIGINT) AS h
        |  FROM bs JOIN bp USING (l_partkey))
        |SELECT l_partkey, n_suppliers,
        |  round(CAST(sum(h) AS DOUBLE) / 1000000, 4) AS hhi
        |FROM hq GROUP BY 1, 2 ORDER BY l_partkey""".stripMargin),

    // extension: funnel step latencies — exact quantiles of the time
    // between consecutive resolved funnel steps
    QuerySpec("q_funnel_latency", { (s, d) =>
      val ev = TpchGraph.eventsTable(s, d)
        .select(col("user_id").as("_u"), unix_micros(col("ts")).as("_t"),
          col("event_type").as("_ty"))
      val s0 = ev.where(col("_ty") === "signup")
        .groupBy("_u").agg(min(col("_t")).as("_t0"))
      val s1 = ev.where(col("_ty") === "view").join(s0, Seq("_u"))
        .where(col("_t") > col("_t0"))
        .groupBy("_u").agg(min(col("_t")).as("_t1"), first(col("_t0")).as("_t0"))
      val s2 = ev.where(col("_ty") === "purchase")
        .join(s1.select("_u", "_t1"), Seq("_u"))
        .where(col("_t") > col("_t1"))
        .groupBy("_u").agg(min(col("_t")).as("_t2"), first(col("_t1")).as("_t1"))
      def lat(df: DataFrame, a: String, b: String, label: String) = df
        .select(((col(b) - col(a)) / lit(1000000.0)).as("_lat"))
        .agg(count(lit(1)).as("n_users"),
          round(percentile(col("_lat"), lit(0.5)), 2).as("p50_s"),
          round(percentile(col("_lat"), lit(0.9)), 2).as("p90_s"))
        .select(lit(label).as("step_pair"), col("n_users"), col("p50_s"),
          col("p90_s"))
      lat(s1, "_t0", "_t1", "signup>view")
        .unionAll(lat(s2, "_t1", "_t2", "view>purchase"))
        .orderBy("step_pair")
    },
      """WITH ev AS (SELECT user_id AS u, epoch_us(ts) AS t, event_type AS ty
        |  FROM events),
        |s0 AS (SELECT u, min(t) AS t0 FROM ev WHERE ty = 'signup' GROUP BY 1),
        |s1 AS (SELECT e.u, min(e.t) AS t1, min(s0.t0) AS t0 FROM ev e
        |  JOIN s0 ON s0.u = e.u WHERE e.ty = 'view' AND e.t > s0.t0
        |  GROUP BY 1),
        |s2 AS (SELECT e.u, min(e.t) AS t2, min(s1.t1) AS t1 FROM ev e
        |  JOIN s1 ON s1.u = e.u WHERE e.ty = 'purchase' AND e.t > s1.t1
        |  GROUP BY 1),
        |l1 AS (SELECT (t1 - t0) / 1000000.0 AS lat FROM s1),
        |l2 AS (SELECT (t2 - t1) / 1000000.0 AS lat FROM s2)
        |SELECT * FROM (
        |  SELECT 'signup>view' AS step_pair, CAST(count(*) AS BIGINT) AS n_users,
        |    round(quantile_cont(lat, 0.5), 2) AS p50_s,
        |    round(quantile_cont(lat, 0.9), 2) AS p90_s FROM l1
        |  UNION ALL
        |  SELECT 'view>purchase', CAST(count(*) AS BIGINT),
        |    round(quantile_cont(lat, 0.5), 2), round(quantile_cont(lat, 0.9), 2)
        |  FROM l2)
        |ORDER BY step_pair""".stripMargin),

    // extension: cohort LTV curve — cumulative revenue per signup-week
    // cohort by week offset (the unit-economics payback view); exact cents
    QuerySpec("q_cohort_ltv", { (s, d) =>
      val ev = TpchGraph.eventsTable(s, d).where(col("value").isNotNull)
      val period = floor(unix_timestamp(col("ts")) / lit(604800L)).cast("long")
      val base = ev.select(col("user_id").as("u"), period.as("p"),
        round(col("value") * 100).cast("long").as("v"))
      val cohorts = base.groupBy("u").agg(min("p").as("c"))
      val spend = base.join(cohorts, Seq("u"))
        .groupBy(col("c").as("cohort_week"),
          (col("p") - col("c")).as("week_offset"))
        .agg(sum("v").as("_cents"),
          count_distinct(col("u")).as("n_users"))
      val w = Window.partitionBy("cohort_week").orderBy("week_offset")
      val sizes = cohorts.groupBy(col("c").as("cohort_week"))
        .agg(count(lit(1)).as("cohort_size"))
      spend.withColumn("_cum", sum(col("_cents")).over(w))
        .join(broadcast(sizes), Seq("cohort_week"))
        .select(col("cohort_week"), col("week_offset"), col("n_users"),
          col("cohort_size"),
          round(col("_cum").cast("double") / col("cohort_size") / 100.0, 4)
            .as("cum_ltv_per_user"))
        .orderBy("cohort_week", "week_offset")
    },
      """WITH base AS (SELECT user_id AS u,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 604800) AS BIGINT) AS p,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |coh AS (SELECT u, min(p) AS c FROM base GROUP BY 1),
        |spend AS (SELECT coh.c AS cohort_week, base.p - coh.c AS week_offset,
        |    CAST(sum(v) AS BIGINT) AS cents,
        |    CAST(count(DISTINCT base.u) AS BIGINT) AS n_users
        |  FROM base JOIN coh ON base.u = coh.u GROUP BY 1, 2),
        |sz AS (SELECT c AS cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
        |  FROM coh GROUP BY 1)
        |SELECT s.cohort_week, s.week_offset, s.n_users, sz.cohort_size,
        |  round(CAST(sum(s.cents) OVER (PARTITION BY s.cohort_week
        |      ORDER BY s.week_offset ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    / sz.cohort_size / 100.0, 4) AS cum_ltv_per_user
        |FROM spend s JOIN sz ON s.cohort_week = sz.cohort_week
        |ORDER BY 1, 2""".stripMargin),

    // extension: exact functional-dependency discovery with the g3
    // almost-FD error (min rows to delete for the FD to hold) — the
    // data-driven half of relational schema inference (catalog-driven half:
    // q_infer_3nf)
    QuerySpec("q_fd_mine", { (s, d) =>
      import graft.infer.Dependencies
      Dependencies.functionalDeps(t(s, d)("orders"),
          Seq(("o_orderkey", "o_custkey"), ("o_custkey", "o_orderpriority")))
        .unionByName(Dependencies.functionalDeps(t(s, d)("customer"),
          Seq(("c_custkey", "c_mktsegment"), ("c_nationkey", "c_mktsegment"))))
        .unionByName(Dependencies.functionalDeps(t(s, d)("lineitem"),
          Seq(("l_orderkey", "l_suppkey"))))
        .orderBy("determinant", "dependent")
    }, {
      def fd(tbl: String, det: String, dep: String): String =
        s"""SELECT '$det' AS determinant, '$dep' AS dependent,
           |  CAST(count(*) AS BIGINT) AS distinct_lhs,
           |  CAST(sum(_ndep) AS BIGINT) AS distinct_pairs,
           |  CAST(sum(_rows) AS BIGINT) AS n_rows,
           |  CAST(sum(_rows - _keep) AS BIGINT) AS g3_violations,
           |  sum(_ndep) = count(*) AS holds
           |FROM (SELECT _lhs, count(*) AS _ndep, sum(_n) AS _rows,
           |        max(_n) AS _keep
           |      FROM (SELECT $det AS _lhs, $dep AS _rhs, count(*) AS _n
           |            FROM $tbl GROUP BY 1, 2) GROUP BY 1)""".stripMargin
      Seq(
        fd("orders", "o_orderkey", "o_custkey"),
        fd("orders", "o_custkey", "o_orderpriority"),
        fd("customer", "c_custkey", "c_mktsegment"),
        fd("customer", "c_nationkey", "c_mktsegment"),
        fd("lineitem", "l_orderkey", "l_suppkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY 1, 2")
    }),

    // extension: inclusion-dependency (FK candidate) discovery — exact
    // distinct containment of child column in parent column, incl. one
    // deliberately-partial candidate (p_size ⊄ n_nationkey)
    QuerySpec("q_inclusion_dep", { (s, d) =>
      import graft.infer.Dependencies
      Dependencies.inclusionDeps(Seq(
        (t(s, d)("lineitem"), "l_partkey", "lineitem",
          t(s, d)("part"), "p_partkey", "part"),
        (t(s, d)("lineitem"), "l_suppkey", "lineitem",
          t(s, d)("supplier"), "s_suppkey", "supplier"),
        (t(s, d)("orders"), "o_custkey", "orders",
          t(s, d)("customer"), "c_custkey", "customer"),
        (t(s, d)("customer"), "c_nationkey", "customer",
          t(s, d)("nation"), "n_nationkey", "nation"),
        (t(s, d)("part"), "p_size", "part",
          t(s, d)("nation"), "n_nationkey", "nation")))
        .orderBy("child", "parent")
    }, {
      def ind(ct: String, cc: String, pt: String, pc: String): String =
        s"""SELECT '$ct.$cc' AS child, '$pt.$pc' AS parent,
           |  (SELECT CAST(count(DISTINCT CAST($cc AS BIGINT)) AS BIGINT)
           |     FROM $ct WHERE $cc IS NOT NULL) AS child_distinct,
           |  (SELECT CAST(count(*) AS BIGINT) FROM
           |     (SELECT DISTINCT CAST($cc AS BIGINT) AS v FROM $ct
           |        WHERE $cc IS NOT NULL)
           |     WHERE v IN (SELECT CAST($pc AS BIGINT) FROM $pt
           |        WHERE $pc IS NOT NULL)) AS contained,
           |  round((SELECT count(*) FROM
           |     (SELECT DISTINCT CAST($cc AS BIGINT) AS v FROM $ct
           |        WHERE $cc IS NOT NULL)
           |     WHERE v IN (SELECT CAST($pc AS BIGINT) FROM $pt
           |        WHERE $pc IS NOT NULL))::DOUBLE /
           |    (SELECT count(DISTINCT CAST($cc AS BIGINT)) FROM $ct
           |        WHERE $cc IS NOT NULL), 6) AS containment""".stripMargin
      Seq(
        ind("lineitem", "l_partkey", "part", "p_partkey"),
        ind("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ind("orders", "o_custkey", "customer", "c_custkey"),
        ind("customer", "c_nationkey", "nation", "n_nationkey"),
        ind("part", "p_size", "nation", "n_nationkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY 1, 2")
    }),

    // extension: difference-in-differences (treatment = odd user ids,
    // post = second half of the observation window) — 2×2 cell means from
    // exact cents, one fixed estimate expression
    QuerySpec("q_did", { (s, d) =>
      val ev = TpchGraph.eventsTable(s, d)
      graft.ext.Stats.diffInDiff(
        ev.select(col("value"),
          (col("user_id") % 2 === 1).as("treated"),
          (floor(unix_timestamp(col("ts")) / lit(86400L)) >= 19738)
            .as("post")),
        "treated", "post", "value")
        .orderBy("treated", "post")
    },
      """WITH base AS (SELECT value, user_id % 2 = 1 AS treated,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) >= 19738 AS post
        |  FROM events WHERE value IS NOT NULL),
        |cells AS (SELECT treated, post, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
        |  FROM base GROUP BY 1, 2),
        |m AS (SELECT treated, post, n,
        |    round(CAST(s AS DOUBLE) / n / 100.0, 4) AS mean_value,
        |    CAST(s AS DOUBLE) / n / 100.0 AS mm FROM cells),
        |did AS (SELECT round(
        |    (max(CASE WHEN treated AND post THEN mm END)
        |      - max(CASE WHEN treated AND NOT post THEN mm END))
        |  - (max(CASE WHEN NOT treated AND post THEN mm END)
        |      - max(CASE WHEN NOT treated AND NOT post THEN mm END)), 4) AS did
        |  FROM m)
        |SELECT treated, post, n, mean_value, did.did
        |FROM m, did ORDER BY treated, post""".stripMargin),

    // extension: distributed Poisson bootstrap SE of the mean order value
    // (md5-derived Poisson(1) weights per replicate — reproducible, no
    // resampling shuffle; replicate means micro-quantized before the
    // across-replicate variance)
    QuerySpec("q_bootstrap", { (s, d) =>
      graft.ext.Stats.poissonBootstrapSE(t(s, d)("orders"),
        "o_orderkey", "o_totalprice", b = 32)
    },
      """WITH base AS (SELECT CAST(o_orderkey AS VARCHAR) AS id,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
        |  WHERE o_totalprice IS NOT NULL),
        |reps AS (SELECT id, v, b
        |  FROM base, (SELECT unnest(generate_series(0, 31)) AS b)),
        |uni AS (SELECT v, b,
        |    CAST(list_sum(list_transform(generate_series(1, 12), i ->
        |      CAST(strpos('0123456789abcdef',
        |        substring(md5(id || ':' || CAST(b AS VARCHAR)), i, 1)) - 1 AS BIGINT)
        |      * CAST(16 ** (12 - i) AS BIGINT))) AS DOUBLE) / (16.0 ** 12) AS u
        |  FROM reps),
        |wts AS (SELECT v, b, CAST(CASE
        |    WHEN u < 0.36787944117144233 THEN 0
        |    WHEN u < 0.7357588823428847 THEN 1
        |    WHEN u < 0.9196986029286058 THEN 2
        |    WHEN u < 0.9810118431238462 THEN 3
        |    WHEN u < 0.9963401531726563 THEN 4
        |    WHEN u < 0.9994058151824183 THEN 5
        |    ELSE 6 END AS BIGINT) AS w FROM uni),
        |pr AS (SELECT b, CAST(sum(w * v) AS BIGINT) AS ws,
        |    CAST(sum(w) AS BIGINT) AS ww
        |  FROM wts GROUP BY 1 HAVING sum(w) > 0),
        |fl AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS fs
        |  FROM base),
        |rf AS (SELECT CAST(round(CAST(fs AS DOUBLE) / n * 100) AS BIGINT) AS r
        |  FROM fl),
        |pm AS (SELECT CAST(round(CAST(ws AS DOUBLE) / ww * 100) AS BIGINT) - rf.r
        |    AS dq FROM pr, rf),
        |rs AS (SELECT CAST(count(*) AS BIGINT) AS nb, CAST(sum(dq) AS BIGINT) AS sm,
        |    CAST(sum(dq * dq) AS BIGINT) AS sm2 FROM pm)
        |SELECT n, rs.nb AS b_reps,
        |  round(CAST(fs AS DOUBLE) / n / 100.0, 4) AS mean_value,
        |  round(sqrt((CAST(sm2 AS DOUBLE) - CAST(sm AS DOUBLE) * sm / nb)
        |    / (nb - 1)) / 1e4, 4) AS bootstrap_se
        |FROM fl, rs""".stripMargin),

    // extension: robust seasonal anomalies — per-(type, weekday) exact
    // median baseline + MAD bands over daily cent totals
    QuerySpec("q_robust_seasonal", { (s, d) =>
      graft.ext.Events.robustSeasonalAnomalies(TpchGraph.eventsTable(s, d),
        "event_type", "ts", "value", k = 3.0)
        .orderBy("event_type", "day")
    },
      """WITH daily AS (SELECT event_type AS t,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |dw AS (SELECT t, day, x, CAST((day + 4) % 7 AS INT) AS dow FROM daily),
        |med AS (SELECT t, dow, quantile_cont(x::DOUBLE, 0.5) AS m
        |  FROM dw GROUP BY 1, 2),
        |j AS (SELECT dw.t, dw.day, dw.dow, dw.x, med.m
        |  FROM dw JOIN med ON dw.t = med.t AND dw.dow = med.dow),
        |mad AS (SELECT t, dow, quantile_cont(abs(x - m), 0.5) AS md
        |  FROM j GROUP BY 1, 2)
        |SELECT j.t AS event_type, j.day, j.dow,
        |  j.x / 100.0 AS value,
        |  j.m / 100.0 AS baseline,
        |  (j.x - j.m) / 100.0 AS deviation,
        |  (abs(j.x - j.m) > mad.md * 3.0 OR (mad.md = 0.0 AND j.x <> j.m))
        |    AS anomaly
        |FROM j JOIN mad ON j.t = mad.t AND j.dow = mad.dow
        |ORDER BY 1, 2""".stripMargin),

    // extension: seasonal-naive forecast evaluation (MAE/SMAPE/MASE over
    // daily value totals — the baseline yardstick, exact cents)
    QuerySpec("q_forecast_eval", { (s, d) =>
      graft.ext.Events.seasonalNaiveEval(TpchGraph.eventsTable(s, d),
        "ts", "value", season = 7)
    },
      """WITH daily AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400)
        |      AS BIGINT) AS d,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |lg AS (SELECT d, x, lag(x, 7) OVER (ORDER BY d) AS f,
        |    lag(x, 1) OVER (ORDER BY d) AS p FROM daily),
        |sc AS (SELECT
        |    CASE WHEN f IS NOT NULL THEN abs(x - f) END AS ae,
        |    CASE WHEN f IS NOT NULL THEN CAST(round(CAST(abs(x - f) AS DOUBLE)
        |      * 2e6 / (abs(x) + abs(f))) AS BIGINT) END AS smq,
        |    CASE WHEN p IS NOT NULL THEN abs(x - p) END AS n1
        |  FROM lg)
        |SELECT CAST(count(ae) AS BIGINT) AS n_scored,
        |  round(avg(ae) / 100.0, 4) AS mae,
        |  round(CAST(sum(smq) AS DOUBLE) / count(smq) / 1e6, 6) AS smape,
        |  round((CAST(sum(ae) AS DOUBLE) / count(ae)) /
        |    (CAST(sum(n1) AS DOUBLE) / count(n1)), 4) AS mase
        |FROM sc""".stripMargin),

    // extension: Apdex SLA score per order priority over order→ship
    // latency days (T = 30)
    QuerySpec("q_apdex", { (s, d) =>
      val li = t(s, d)("lineitem"); val o = t(s, d)("orders")
      val lat = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("o_orderpriority"),
          (datediff(col("l_shipdate"), col("o_orderdate")))
            .cast("double").as("lat_days"))
      graft.ext.Events.apdex(lat, "o_orderpriority", "lat_days", 30.0)
        .orderBy("o_orderpriority")
    },
      """WITH lat AS (SELECT o_orderpriority,
        |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) AS DOUBLE) AS lat_days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN lat_days <= 30.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS satisfied,
        |  CAST(sum(CASE WHEN lat_days > 30.0 AND lat_days <= 120.0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS tolerating,
        |  round((sum(CASE WHEN lat_days <= 30.0 THEN 1 ELSE 0 END)
        |    + CAST(sum(CASE WHEN lat_days > 30.0 AND lat_days <= 120.0
        |        THEN 1 ELSE 0 END) AS DOUBLE) / 2) / count(*), 4) AS apdex
        |FROM lat WHERE lat_days IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // extension: Bradley-Terry preference ratings (the RLHF pairwise-
    // comparison model) over supplier price-competition outcomes — exact
    // integer MM rounds, oracle replays the FULL training
    QuerySpec("q_bradley_terry", { (s, d) =>
      val li = t(s, d)("lineitem")
      val ps = li.groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .agg(min(col("l_extendedprice")).as("pr"))
      val pairs = ps.as("x").join(ps.as("y"),
          col("x.pk") === col("y.pk") && col("x.sk") < col("y.sk"))
        .select(col("x.sk").as("ia"), col("y.sk").as("ib"),
          (col("x.pr") <= col("y.pr")).cast("long").as("wa"))
      val matches = pairs.groupBy(col("ia").as("item_a"), col("ib").as("item_b"))
        .agg(sum("wa").as("wins_a"), sum(lit(1L) - col("wa")).as("wins_b"))
      graft.ext.Stats.bradleyTerry(matches, rounds = 8)
        .orderBy(col("rating_micro").desc, col("item"))
    }, (graft.ext.Stats.bradleyTerryOracleSql(
      """SELECT ia AS item_a, ib AS item_b,
        |    CAST(sum(wa) AS BIGINT) AS wins_a,
        |    CAST(sum(1 - wa) AS BIGINT) AS wins_b
        |  FROM (SELECT x.sk AS ia, y.sk AS ib,
        |      CASE WHEN x.pr <= y.pr THEN 1 ELSE 0 END AS wa
        |    FROM (SELECT l_partkey AS pk, l_suppkey AS sk,
        |        min(l_extendedprice) AS pr FROM lineitem GROUP BY 1, 2) x
        |    JOIN (SELECT l_partkey AS pk, l_suppkey AS sk,
        |        min(l_extendedprice) AS pr FROM lineitem GROUP BY 1, 2) y
        |      ON x.pk = y.pk AND x.sk < y.sk)
        |  GROUP BY 1, 2""".stripMargin, rounds = 8) +
      "\nORDER BY 2 DESC, 1")),

    // extension: log-rank test — do odd-id users convert faster than
    // even-id users, censoring-corrected (the test over two KM curves)
    QuerySpec("q_logrank", { (s, d) =>
      graft.ext.Events.logRank(TpchGraph.eventsTable(s, d), "user_id", "ts",
        "event_type", "signup", "purchase", col("user_id") % 2 === 1)
    },
      """WITH base AS (SELECT user_id AS u,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS d,
        |    event_type AS t,
        |    CAST(user_id % 2 = 1 AS INT) AS g FROM events),
        |su AS (SELECT u, min(d) AS s, min(g) AS g FROM base WHERE t = 'signup'
        |  GROUP BY 1),
        |cv AS (SELECT b.u, min(b.d) - min(su.s) AS dur
        |  FROM base b JOIN su ON b.u = su.u
        |  WHERE b.t = 'purchase' AND b.d >= su.s GROUP BY 1),
        |mx AS (SELECT max(d) AS m FROM base),
        |users AS (SELECT su.g, coalesce(cv.dur, mx.m - su.s) AS t,
        |    cv.dur IS NOT NULL AS ev
        |  FROM su LEFT JOIN cv ON su.u = cv.u, mx),
        |tbl AS (SELECT t,
        |    CAST(sum(CASE WHEN ev AND g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN ev AND g <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
        |    CAST(sum(CASE WHEN g <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS a2
        |  FROM users GROUP BY 1),
        |tot AS (SELECT
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1t,
        |    CAST(sum(CASE WHEN g <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2t,
        |    CAST(sum(CASE WHEN ev AND g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS e1,
        |    CAST(sum(CASE WHEN ev AND g <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS e2
        |  FROM users),
        |rk AS (SELECT tbl.t, d1, d2,
        |    tot.n1t - coalesce(sum(a1) OVER (ORDER BY tbl.t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
        |    tot.n2t - coalesce(sum(a2) OVER (ORDER BY tbl.t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n2
        |  FROM tbl, tot),
        |terms AS (SELECT
        |    CAST(round((CAST(d1 AS DOUBLE) -
        |      CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2)) * 1e9) AS BIGINT) AS oe,
        |    CAST(round((CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2)) *
        |      (CAST(n2 AS DOUBLE) / (n1 + n2)) *
        |      ((CAST(n1 + n2 AS DOUBLE) - (d1 + d2)) / (n1 + n2 - 1)) * 1e9)
        |      AS BIGINT) AS v
        |  FROM rk WHERE d1 + d2 > 0 AND n1 + n2 > 1),
        |sums AS (SELECT CAST(sum(oe) AS BIGINT) AS soe,
        |    CAST(sum(v) AS BIGINT) AS sv FROM terms)
        |SELECT tot.n1t AS n1, tot.n2t AS n2, tot.e1 AS events1, tot.e2 AS events2,
        |  round(soe / 1e9, 4) AS o_minus_e,
        |  round((CAST(soe AS DOUBLE) / 1e9) * (soe / 1e9) / (sv / 1e9), 4) AS chi2
        |FROM tot, sums""".stripMargin),

    // extension: Kaplan-Meier time-to-conversion survival (right-censored
    // at the observation horizon; micro-nat quantized running product)
    QuerySpec("q_kaplan_meier", { (s, d) =>
      graft.ext.Events.kaplanMeier(TpchGraph.eventsTable(s, d),
        "user_id", "ts", "event_type", "signup", "purchase")
        .orderBy("t")
    },
      """WITH base AS (SELECT user_id AS u,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS d,
        |    event_type AS t FROM events),
        |su AS (SELECT u, min(d) AS s FROM base WHERE t = 'signup' GROUP BY 1),
        |cv AS (SELECT b.u, min(b.d) - min(su.s) AS dur
        |  FROM base b JOIN su ON b.u = su.u
        |  WHERE b.t = 'purchase' AND b.d >= su.s GROUP BY 1),
        |mx AS (SELECT max(d) AS m FROM base),
        |users AS (SELECT su.u, coalesce(cv.dur, mx.m - su.s) AS t,
        |    cv.dur IS NOT NULL AS ev
        |  FROM su LEFT JOIN cv ON su.u = cv.u, mx),
        |tbl AS (SELECT t, CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM users GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM users),
        |wn AS (SELECT tbl.t, tbl.d, tbl.c,
        |    tot.n - coalesce(sum(tbl.d + tbl.c) OVER (ORDER BY tbl.t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM tbl, tot),
        |lq AS (SELECT t, d, c, n_risk,
        |    CASE WHEN d = 0 THEN 0
        |      WHEN d < n_risk THEN CAST(round(ln(1.0 - CAST(d AS DOUBLE) / n_risk) * 1e6) AS BIGINT)
        |      ELSE CAST(-1000000000000 AS BIGINT) END AS l FROM wn)
        |SELECT t, d, c, CAST(n_risk AS BIGINT) AS n_risk,
        |  round(exp(CAST(sum(l) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
        |    AS DOUBLE) / 1e6), 4) AS surv
        |FROM lq ORDER BY t""".stripMargin),

    // extension: nearest-centroid (Rocchio) classification confusion
    // matrix over the labeled embeddings — the label-separability report
    QuerySpec("q_centroid_confusion", { (s, d) =>
      Similarity.centroidConfusion(t(s, d)("embeddings"), "label", "embedding")
        .select(col("true_label").cast("long").as("true_label"),
          col("pred_label").cast("long").as("pred_label"), col("n"))
        .orderBy("true_label", "pred_label")
    },
      """WITH cent AS (SELECT label AS cl, d,
        |    round(avg(CAST(embedding[d] AS DOUBLE)), 6) AS c
        |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, 64)) AS d) u
        |  GROUP BY 1, 2),
        |carr AS (SELECT cl, list(c ORDER BY d) AS cv FROM cent GROUP BY 1),
        |sc AS (SELECT e.vec_id, e.label AS tl, c.cl,
        |    round(list_sum(list_transform(generate_series(1, 64),
        |        i -> CAST(e.embedding[i] AS DOUBLE) * cv[i])) /
        |      (sqrt(list_sum(list_transform(generate_series(1, 64),
        |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) *
        |       sqrt(list_sum(list_transform(generate_series(1, 64),
        |        i -> cv[i] * cv[i])))), 6) AS cos
        |  FROM embeddings e, carr c),
        |best AS (SELECT vec_id, tl, cl FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cl) = 1)
        |SELECT CAST(tl AS BIGINT) AS true_label, CAST(cl AS BIGINT) AS pred_label,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM best GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // extension: item-item collaborative filtering — per-item top-5
    // neighbors by co-occurrence cosine over order baskets
    QuerySpec("q_item_cf", { (s, d) =>
      graft.ext.Association.itemNeighbors(
        t(s, d)("lineitem").where(col("l_orderkey") % 5 === 0),
        "l_orderkey", "l_partkey", k = 5, minPairSup = 2)
        .orderBy("item", "rank")
    },
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem WHERE l_orderkey % 5 = 0),
        |sup AS (SELECT i, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY 1),
        |co AS (SELECT x.i AS item, y.i AS neighbor, CAST(count(*) AS BIGINT) AS co
        |  FROM items x JOIN items y ON x.b = y.b AND x.i <> y.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sc AS (SELECT co.item, co.neighbor, co.co,
        |    round(CAST(co.co AS DOUBLE) /
        |      sqrt(CAST(a.n AS DOUBLE) * b.n), 6) AS cos
        |  FROM co JOIN sup a ON a.i = co.item JOIN sup b ON b.i = co.neighbor)
        |SELECT item, CAST(row_number() OVER w AS BIGINT) AS rank, neighbor, co, cos
        |FROM sc WINDOW w AS (PARTITION BY item ORDER BY cos DESC, neighbor)
        |QUALIFY row_number() OVER w <= 5
        |ORDER BY item, rank""".stripMargin),

    // extension: PSI distribution drift between a baseline and current
    // sample (equi-width bins from the baseline, Laplace-smoothed shares,
    // nano-quantized contributions — order-free total)
    QuerySpec("q_psi", { (s, d) =>
      val ev = TpchGraph.eventsTable(s, d).where(col("value").isNotNull)
      graft.ext.Stats.psi(
        ev.where(col("event_id") % 10 =!= 0),
        ev.where(col("event_id") % 10 === 0), "value", nBins = 10)
        .orderBy("bin")
    },
      """WITH ev AS (SELECT event_id, value FROM events WHERE value IS NOT NULL),
        |base AS (SELECT value FROM ev WHERE event_id % 10 <> 0),
        |cur AS (SELECT value FROM ev WHERE event_id % 10 = 0),
        |st AS (SELECT min(value) AS lo, max(value) AS hi FROM base),
        |bb AS (SELECT CASE WHEN hi = lo THEN 0 ELSE
        |    least(greatest(CAST(floor((value - lo) * 10 / (hi - lo)) AS INT), 0), 9)
        |  END AS bin FROM base, st),
        |cb AS (SELECT CASE WHEN hi = lo THEN 0 ELSE
        |    least(greatest(CAST(floor((value - lo) * 10 / (hi - lo)) AS INT), 0), 9)
        |  END AS bin FROM cur, st),
        |bins AS (SELECT CAST(unnest(generate_series(0, 9)) AS INT) AS bin),
        |nb AS (SELECT bins.bin, CAST(coalesce(x.cnt, 0) AS BIGINT) AS n_base
        |  FROM bins LEFT JOIN (SELECT bin, count(*) AS cnt FROM bb GROUP BY 1) x
        |    ON bins.bin = x.bin),
        |nc AS (SELECT bins.bin, CAST(coalesce(x.cnt, 0) AS BIGINT) AS n_cur
        |  FROM bins LEFT JOIN (SELECT bin, count(*) AS cnt FROM cb GROUP BY 1) x
        |    ON bins.bin = x.bin),
        |tb AS (SELECT CAST(sum(n_base) AS BIGINT) AS t FROM nb),
        |tc AS (SELECT CAST(sum(n_cur) AS BIGINT) AS t FROM nc),
        |j AS (SELECT nb.bin, n_base, n_cur,
        |    CAST(n_base + 1 AS DOUBLE) / (tb.t + 10) AS p,
        |    CAST(n_cur + 1 AS DOUBLE) / (tc.t + 10) AS q
        |  FROM nb JOIN nc ON nb.bin = nc.bin, tb, tc),
        |k AS (SELECT bin, n_base, n_cur, p, q,
        |    CAST(round((p - q) * ln(p / q) * 1e9) AS BIGINT) AS cq FROM j),
        |tot AS (SELECT CAST(sum(cq) AS BIGINT) AS pq FROM k)
        |SELECT bin, n_base, n_cur, round(p, 6) AS p, round(q, 6) AS q,
        |  round(cq / 1e9, 6) AS contrib, round(tot.pq / 1e9, 6) AS psi_total
        |FROM k, tot ORDER BY bin""".stripMargin),

    // extension: CUSUM drift detection — cumulative deviation of daily
    // totals from the long-run mean, exact scaled-integer comparisons
    QuerySpec("q_cusum", { (s, d) =>
      graft.ext.Events.cusumDrift(
        TpchGraph.eventsTable(s, d).where(col("value").isNotNull),
        "event_type", "ts", "value", theta = 2)
        .orderBy("event_type", "day")
    },
      """WITH daily AS (SELECT event_type AS t,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x_cents
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT t, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x_cents) AS BIGINT) AS s FROM daily GROUP BY 1),
        |wd AS (SELECT d.t, d.day, d.x_cents, tot.n, tot.s,
        |    sum(d.x_cents) OVER (PARTITION BY d.t ORDER BY d.day
        |      ROWS UNBOUNDED PRECEDING) AS prefix,
        |    row_number() OVER (PARTITION BY d.t ORDER BY d.day) AS idx
        |  FROM daily d JOIN tot ON d.t = tot.t)
        |SELECT t AS event_type, day, x_cents,
        |  round(CAST(n * prefix - idx * s AS DOUBLE) / n / 100.0, 2) AS dev_value,
        |  abs(n * prefix - idx * s) > 2 * abs(s) AS drift
        |FROM wd ORDER BY 1, 2""".stripMargin),

    // extension: day-of-week seasonality index per event type (mean per
    // weekday over overall mean, exact cents to one divide)
    QuerySpec("q_seasonality", { (s, d) =>
      graft.ext.Events.seasonalityIndex(
        TpchGraph.eventsTable(s, d).where(col("value").isNotNull),
        "event_type", "ts", "value")
        .orderBy("event_type", "dow")
    },
      """WITH base AS (SELECT event_type AS t,
        |    CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS INT) AS dow,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |pd AS (SELECT t, dow, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(v) AS BIGINT) AS s_dow FROM base GROUP BY 1, 2),
        |pt AS (SELECT t, CAST(count(*) AS BIGINT) AS n_t,
        |    CAST(sum(v) AS BIGINT) AS s_t FROM base GROUP BY 1)
        |SELECT pd.t AS event_type, pd.dow, pd.n_events,
        |  round(CAST(pd.s_dow AS DOUBLE) / pd.n_events / 100.0, 2) AS mean_value,
        |  round(CAST(pd.s_dow AS DOUBLE) * pt.n_t /
        |    (pd.n_events * CAST(pt.s_t AS DOUBLE)), 6) AS season_index
        |FROM pd JOIN pt ON pd.t = pt.t ORDER BY 1, 2""".stripMargin),

    // extension: one-scan covariance/correlation matrix over embedding
    // dims — micro-unit integer product sums (order-free exact), cells
    // exploded from the single aggregated row; the PCA sufficient statistic
    QuerySpec("q_embed_cov", { (s, d) =>
      graft.ext.Stats.covarianceMatrix(t(s, d)("embeddings"), "embedding",
        dims = 8)
        .orderBy("dim_i", "dim_j")
    },
      graft.ext.Stats.covarianceMatrixOracleSql("embeddings", "embedding", 8)),

    // extension: distributed linear regression — ONE partial-aggregated
    // Gram-matrix pass (ten integer sums cross the exchange, nothing else),
    // exact BigInt normal-equation solve on the driver, OLS + ridge from
    // the same sufficient statistics. y = extendedprice (whole dollars),
    // x1 = quantity, x2 = discount (percent points).
    QuerySpec("q_ols", { (s, d) =>
      val li = t(s, d)("lineitem").select(
        round(col("l_quantity")).cast("long").as("x1"),
        round(col("l_discount") * 100).cast("long").as("x2"),
        round(col("l_extendedprice")).cast("long").as("y"))
      val g = Regression.gram2(li, "x1", "x2", "y")
      val models = Seq(
        ("ols", Regression.solve2(g)),
        ("ridge", Regression.solve2(g, BigInt(20) * g.n * g.n)))
      import s.implicits._
      models.map { case (m, (b0, b1, b2, r2)) =>
        (m, b0, b1, b2, r2, g.n.toLong)
      }.toDF("model", "_b0", "_b1", "_b2", "_r2", "n")
        .select(col("model"),
          round(col("_b0"), 4).as("b0"), round(col("_b1"), 4).as("b1"),
          round(col("_b2"), 4).as("b2"), round(col("_r2"), 6).as("r2"),
          col("n"))
        .orderBy("model")
    },
      s"""$olsGramSql,
         |${Regression.solve2Sql("0::HUGEINT", "0")},
         |${Regression.solve2Sql("20::HUGEINT*n*n", "1")}
         |SELECT * FROM (
         |  SELECT 'ols' AS model, round(b0, 4) AS b0, round(b1, 4) AS b1,
         |    round(b2, 4) AS b2, round(r2, 6) AS r2, n::BIGINT AS n FROM m0
         |  UNION ALL
         |  SELECT 'ridge', round(b0, 4), round(b1, 4), round(b2, 4),
         |    round(r2, 6), n::BIGINT FROM m1)
         |ORDER BY model""".stripMargin),

    // extension: grid-bucketed DBSCAN over the first two embedding dims —
    // eps-neighbors via a 3×3 cell-keyed join (bounded by local density,
    // never all-pairs), core/border/noise roles, clusters = hash-min
    // connected components of the core graph
    QuerySpec("q_dbscan", { (s, d) =>
      Clustering.dbscanGrid(t(s, d)("embeddings"), "vec_id", "embedding",
        eps = 50000L, minPts = 10)
        .orderBy("vec_id")
    }, Clustering.dbscanOracleSql(
      "embeddings", "vec_id", "embedding", eps = 50000L, minPts = 10)),

    // extension: Holt double exponential smoothing (level + trend) per
    // event type over daily value totals — exact rational-coefficient
    // integer recurrence, parallel across series, one array fold per
    // series; 7-day-ahead linear forecast
    QuerySpec("q_holt", { (s, d) =>
      Events.holtSmooth(
        TpchGraph.eventsTable(s, d).where(col("value").isNotNull),
        "event_type", "ts", "value", horizon = 7)
        .orderBy("event_type")
    }, Events.holtOracleSql(
      "(SELECT * FROM events WHERE value IS NOT NULL)",
      "event_type", "CAST(ts AS TIMESTAMP)", "value", horizon = 7)),

    // extension: isotonic (PAV) calibration of return probability against
    // the discount level — minimax identity over the bin table, so the
    // sequential pool-adjacent-violators scan becomes joins/aggregates
    QuerySpec("q_isotonic", { (s, d) =>
      Stats.isotonicCalibration(
        t(s, d)("lineitem").select(
          round(col("l_discount") * 100).cast("long").as("disc_pct"),
          (col("l_returnflag") === "R").cast("int").as("ret")),
        "disc_pct", "ret")
        .orderBy("score")
    }, Stats.isotonicOracleSql("lineitem",
      "CAST(round(l_discount * 100) AS BIGINT)",
      "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END")),

    // extension: differentially-private histogram release — per-type event
    // counts + inverse-CDF Laplace noise (ε = 0.5) from the house
    // md5-uniform, reproducible and engine-replicable
    QuerySpec("q_dp_histogram", { (s, d) =>
      Privacy.dpNoisyCounts(TpchGraph.eventsTable(s, d), "event_type",
        epsilonX10 = 5)
        .orderBy("event_type")
    }, Privacy.dpNoisyCountsOracleSql(
      "events", "event_type", epsilonX10 = 5)),

    // extension: rank-1 ALS over the customer×part demand matrix — two
    // exact-integer alternations, factors stay distributed; output is the
    // reconstruction RMSE + matrix shape
    QuerySpec("q_als", { (s, d) =>
      val ratings = t(s, d)("orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, d)("lineitem").select(
          col("l_orderkey").as("o_orderkey"), col("l_partkey"),
          col("l_quantity")), Seq("o_orderkey"))
        .groupBy(col("o_custkey").as("u"), col("l_partkey").as("i"))
        .agg(max(round(col("l_quantity")).cast("long")).as("r"))
      val (x, yf) = Factorize.als1(ratings, "u", "i", "r", rounds = 2)
      Factorize.als1Rmse(ratings, "u", "i", "r", x, yf)
        .crossJoin(broadcast(x.agg(count(lit(1)).as("n_users"))))
        .crossJoin(broadcast(yf.agg(count(lit(1)).as("n_items"))))
        .select(col("n_ratings"), col("n_users"), col("n_items"), col("rmse"))
    },
      s"""${Factorize.als1OracleSql(
            """SELECT o.o_custkey AS u, l.l_partkey AS i,
              |  max(CAST(round(l.l_quantity) AS BIGINT)) AS r
              |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
              |GROUP BY 1, 2""".stripMargin, rounds = 2)},
         |nu AS (SELECT count(*)::BIGINT AS n_users FROM x2),
         |ni AS (SELECT count(*)::BIGINT AS n_items FROM y2)
         |SELECT n_ratings, n_users, n_items, rmse
         |FROM metrics CROSS JOIN nu CROSS JOIN ni""".stripMargin),

    // extension: leave-one-out target encoding of part id against the
    // return flag — leakage-free smoothed category feature as one exact
    // integer ratio per row
    QuerySpec("q_target_encode", { (s, d) =>
      Stats.targetEncodeLoo(
        t(s, d)("lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), (col("l_returnflag") === "R").cast("int").as("ret")),
        "l_partkey", "ret", m = 20)
        .select(col("l_orderkey"), col("l_linenumber"), col("enc"))
        .orderBy("l_orderkey", "l_linenumber")
    }, (Stats.targetEncodeLooSql("lineitem", "l_partkey",
      "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END", m = 20,
      cols = Seq("l_orderkey", "l_linenumber")) + "\nORDER BY 1, 2")),

    // extension: Theil–Sen robust daily-revenue trend per event type —
    // median of per-series pairwise slopes, deterministic median pick
    QuerySpec("q_theilsen", { (s, d) =>
      val daily = TpchGraph.eventsTable(s, d).where(col("value").isNotNull)
        .select(col("event_type").as("_g"),
          floor(unix_timestamp(col("ts")) / lit(86400L)).cast("long").as("x"),
          round(col("value") * 100).cast("long").as("_v"))
        .groupBy("_g", "x").agg(sum("_v").as("y"))
      Stats.theilSenSlope(daily, "_g", "x", "y")
        .withColumnRenamed("_g", "event_type")
        .orderBy("event_type")
    },
      s"""SELECT _g AS event_type, n_pairs, ts_slope FROM (
         |${Stats.theilSenOracleSql(
             """SELECT event_type AS _g,
               |  CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS x,
               |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
               |FROM events WHERE value IS NOT NULL GROUP BY 1, 2""".stripMargin)}
         |) ORDER BY 1""".stripMargin),

    // extension: SAX-style symbolic series words — PAA segment means over
    // exact cents, per-series equi-width alphabet, engine-exact
    QuerySpec("q_sax", { (s, d) =>
      Events.saxWords(
        TpchGraph.eventsTable(s, d).where(col("value").isNotNull),
        "event_type", "ts", "value", segments = 6, alphabet = 4)
        .orderBy("event_type")
    }, (Events.saxOracleSql(
      "(SELECT * FROM events WHERE value IS NOT NULL)",
      "event_type", "CAST(ts AS TIMESTAMP)", "value",
      segments = 6, alphabet = 4) + "\nORDER BY 1")),

    // extension: Poisson GLM (log link) of orders-per-customer against
    // nation — the count-data face of the regression family: one profile
    // aggregate, exact-integer Newton steps on the driver
    QuerySpec("q_poisson_glm", { (s, d) =>
      val cnt = t(s, d)("orders").groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("y"))
      val data = t(s, d)("customer")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("x"))
        .join(cnt, Seq("c_custkey"), "left")
        .select(col("x"), coalesce(col("y"), lit(0L)).as("y"))
      Regression.poissonGlm(data, "x", "y", rounds = 3)
        .orderBy("x")
    }, Regression.poissonGlmOracleSql(
      """SELECT CAST(c.c_nationkey AS BIGINT) AS x,
        |  coalesce(o.y, 0)::BIGINT AS y
        |FROM customer c LEFT JOIN (SELECT o_custkey, count(*)::BIGINT AS y
        |  FROM orders GROUP BY 1) o ON o.o_custkey = c.c_custkey""".stripMargin,
      rounds = 3)),

    // extension: least-squares gradient boosting (3 stump rounds, lr 0.5)
    // on extendedprice — integer predictions keep residuals exact across
    // rounds; per-round stump + decreasing quantized training SSE
    QuerySpec("q_lsboost", { (s, d) =>
      graft.ext.Tree.lsBoost(t(s, d)("lineitem"),
        Seq("l_quantity", "l_discount"), col("l_extendedprice"),
        nBins = 16, rounds = 3, lrPct = 50)
        .orderBy("round")
    }, graft.ext.Tree.lsBoostOracleSql("lineitem",
      Seq("l_quantity", "l_discount"), "l_extendedprice",
      nBins = 16, rounds = 3, lrPct = 50)),

    // extension: single change-point per series by binary segmentation —
    // argmax of the exact variance-reduction objective over boundaries
    QuerySpec("q_changepoint", { (s, d) =>
      Events.changePoint(
        TpchGraph.eventsTable(s, d).where(col("value").isNotNull),
        "event_type", "ts", "value")
        .orderBy("event_type")
    }, Events.changePointOracleSql(
      "(SELECT * FROM events WHERE value IS NOT NULL)",
      "event_type", "CAST(ts AS TIMESTAMP)", "value")),

    // extension: split-conformal next-day interval on the per-type daily
    // revenue trend — distribution-free 90% coverage from the calibration
    // quantile of absolute fit residuals
    QuerySpec("q_conformal", { (s, d) =>
      val daily = TpchGraph.eventsTable(s, d).where(col("value").isNotNull)
        .select(col("event_type").as("g"),
          floor(unix_timestamp(col("ts")) / lit(86400L)).cast("long").as("x"),
          round(col("value") * 100).cast("long").as("_v"))
        .groupBy("g", "x")
        .agg(((sum("_v") - pmod(sum("_v"), lit(100L))) / lit(100L))
          .cast("long").as("y"))
      Stats.conformalNextInterval(daily, "g", "x", "y", alphaPct = 10)
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type")
    },
      s"""SELECT g AS event_type, n_obs, x_star, yhat, lo, hi, conf_pct FROM (
         |${Stats.conformalOracleSql(
             """SELECT event_type AS g,
               |  CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS x,
               |  ((sum(CAST(round(value * 100) AS BIGINT))
               |    - (sum(CAST(round(value * 100) AS BIGINT)) % 100)) / 100)::BIGINT AS y
               |FROM events WHERE value IS NOT NULL GROUP BY 1, 2""".stripMargin,
             alphaPct = 10)}
         |) ORDER BY 1""".stripMargin),

    // extension: dominant covariance eigenvector by integer power
    // iteration — one sufficient-statistics pass, exact BigInt driver
    // iteration with norm-free renormalization (no sqrt, no eigensolver)
    QuerySpec("q_power_iter", { (s, d) =>
      Stats.powerIteration(t(s, d)("embeddings"), "embedding",
        dims = 8, iters = 3)
        .orderBy("dim_i")
    }, Stats.powerIterationOracleSql("embeddings", "embedding",
      dims = 8, iters = 3)),

    // extension: bounded-radius Local Outlier Factor over the same
    // eps-cell candidate join as q_dbscan — staged integer quantization
    // (milli-distances, 10¹²-unit lrd, milli-unit factor)
    QuerySpec("q_lof", { (s, d) =>
      Clustering.lofGrid(t(s, d)("embeddings"), "vec_id", "embedding",
        eps = 50000L, minNbrs = 5)
        .orderBy("vec_id")
    }, Clustering.lofOracleSql("embeddings", "vec_id", "embedding",
      eps = 50000L, minNbrs = 5)),

    // extension: depth-2 decision-tree training — two levels of the
    // histogram split method + leaf class counts, splits ride the plan as
    // broadcast 1/2-row frames
    QuerySpec("q_tree2", { (s, d) =>
      graft.ext.Tree.depth2Tree(t(s, d)("lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"),
        col("l_returnflag") === "R", nBins = 16)
        .orderBy("node")
    }, graft.ext.Tree.depth2TreeOracleSql("lineitem",
      Seq("l_quantity", "l_extendedprice", "l_discount"),
      "CAST(l_returnflag = 'R' AS BIGINT)", nBins = 16)),

    // extension: per-group classical OLS over the same daily series as
    // q_theilsen — five integer sufficient statistics per group, no joins
    QuerySpec("q_groupreg", { (s, d) =>
      val daily = TpchGraph.eventsTable(s, d).where(col("value").isNotNull)
        .select(col("event_type"),
          floor(unix_timestamp(col("ts")) / lit(86400L)).cast("long").as("x"),
          round(col("value") * 100).cast("long").as("_v"))
        .groupBy("event_type", "x").agg(sum("_v").as("y"))
      Stats.groupedOls(daily, "event_type", "x", "y")
        .orderBy("event_type")
    },
      s"""SELECT g AS event_type, n_obs, slope, intercept, r2 FROM (
         |${Stats.groupedOlsOracleSql(
             """SELECT event_type AS g,
               |  CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS x,
               |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
               |FROM events WHERE value IS NOT NULL GROUP BY 1, 2""".stripMargin)}
         |) ORDER BY 1""".stripMargin),

    // extension: logistic regression (binomial GLM, logit link) of the
    // return probability against the discount level — the Platt-scaling /
    // propensity face of the GLM family; ONE profile aggregate, exact
    // BigInt IRLS on the driver, micro-quantized sigmoids
    QuerySpec("q_logit_glm", { (s, d) =>
      Regression.logitGlm(
        t(s, d)("lineitem").select(
          round(col("l_discount") * 100).cast("long").as("x"),
          (col("l_returnflag") === "R").cast("long").as("y")),
        "x", "y", rounds = 3)
        .orderBy("x")
    }, Regression.logitGlmOracleSql(
      """SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
        |  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |FROM lineitem""".stripMargin,
      rounds = 3)),

    // extension: k-fold cross-validated OLS (price ~ quantity) — per-fold
    // training stats are total − fold (one aggregate pass), per-fold solves
    // on the driver, one broadcast-scored eval pass; leakage-free by
    // construction, folds stable under reruns (md5 draw)
    QuerySpec("q_cv_folds", { (s, d) =>
      Regression.cvFoldOls(
        t(s, d)("lineitem").select(
          concat(col("l_orderkey"), lit("-"), col("l_linenumber")).as("k"),
          round(col("l_quantity")).cast("long").as("x"),
          round(col("l_extendedprice")).cast("long").as("y")),
        "k", "x", "y", k = 5)
        .orderBy("fold")
    }, Regression.cvFoldOlsSql(
      """SELECT l_orderkey || '-' || l_linenumber AS key,
        |  CAST(round(l_quantity) AS BIGINT) AS x,
        |  CAST(round(l_extendedprice) AS BIGINT) AS y
        |FROM lineitem""".stripMargin,
      k = 5)),

    // extension: two-sample Kolmogorov–Smirnov drift test — click vs
    // purchase value distributions in exact integer cents; D's numerator
    // is an exact integer over the distinct-value domain
    QuerySpec("q_ks_test", { (s, d) =>
      Stats.ksTest(
        TpchGraph.eventsTable(s, d).where(col("value").isNotNull)
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("cents")),
        "event_type", "cents", "click", "purchase")
    }, Stats.ksTestOracleSql(
      """SELECT event_type AS g,
        |  CAST(round(value * 100) AS BIGINT) AS v
        |FROM events WHERE value IS NOT NULL
        |  AND event_type IN ('click', 'purchase')""".stripMargin,
      "click", "purchase")),

    // extension: mutual information / entropy profile of brand ×
    // return-flag — the information-theoretic effect size next to q_chi2's
    // independence test; nano-quantized nats, exact integer sums
    QuerySpec("q_mutual_info", { (s, d) =>
      Stats.mutualInfo(
        t(s, d)("lineitem").select("l_partkey", "l_returnflag")
          .join(broadcast(t(s, d)("part").select("p_partkey", "p_brand")),
            col("l_partkey") === col("p_partkey")),
        "p_brand", "l_returnflag")
    }, Stats.mutualInfoOracleSql(
      """SELECT p.p_brand AS a, l.l_returnflag AS b
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey""".stripMargin)),

    // extension: ATT by exact stratified matching — effect of a deep
    // discount (≥ 5%) on line revenue, controlling for quantity strata;
    // common-support drop, micro-quantized control means, one division
    QuerySpec("q_att_matching", { (s, d) =>
      Stats.attMatched(
        t(s, d)("lineitem").select(
          (col("l_discount") >= 0.05).as("treat"),
          round(col("l_extendedprice") * 100).cast("long").as("price_c"),
          round(col("l_quantity")).cast("long").as("qty")),
        "treat", "price_c", "qty")
    }, Stats.attMatchedOracleSql(
      """SELECT CAST(round(l_quantity) AS BIGINT) AS x,
        |  l_discount >= 0.05 AS t,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |FROM lineitem""".stripMargin)),

    // extension: discrete AdaBoost (2 stump rounds) predicting returns
    // from quantity/price/discount — integer odds-ratio weights keep the
    // weighted round exactly replayable; per-round stump + alpha +
    // ensemble training error
    QuerySpec("q_adaboost", { (s, d) =>
      graft.ext.Tree.adaBoost2(t(s, d)("lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"),
        col("l_returnflag") === "R", nBins = 16)
        .orderBy("round")
    }, (graft.ext.Tree.adaBoost2OracleSql("lineitem",
      Seq("l_quantity", "l_extendedprice", "l_discount"),
      "l_returnflag = 'R'", nBins = 16) + "\nORDER BY round")),

    // extension: Holt–Winters additive triple smoothing — level + trend +
    // 7-slot weekly seasonality per event type, exact integer recurrence,
    // 7-day-ahead forecast including the seasonal component
    QuerySpec("q_holt_winters", { (s, d) =>
      graft.ext.Events.holtWinters(
        TpchGraph.eventsTable(s, d).where(col("value").isNotNull),
        "event_type", "ts", "value", horizon = 7)
        .orderBy("event_type")
    }, graft.ext.Events.holtWintersOracleSql(
      "(SELECT * FROM events WHERE value IS NOT NULL)",
      "event_type", "CAST(ts AS TIMESTAMP)", "value", horizon = 7)),

    // extension: lift / gains table over the q_logit_glm propensity —
    // discount levels ranked by fitted return probability, per-level lift
    // vs the base rate and cumulative capture of responders; exact counts,
    // one division per output value
    QuerySpec("q_lift_curve", { (s, d) =>
      val cells = t(s, d)("lineitem")
        .groupBy(round(col("l_discount") * 100).cast("long").as("x"))
        .agg(count(lit(1)).as("n"),
          sum((col("l_returnflag") === "R").cast("long")).as("pos"))
      val glm = Regression.logitGlm(
        t(s, d)("lineitem").select(
          round(col("l_discount") * 100).cast("long").as("x"),
          (col("l_returnflag") === "R").cast("long").as("y")),
        "x", "y", rounds = 3).select(col("x"), col("p_hat"))
      val tot = cells.agg(sum("n").as("nt"), sum("pos").as("post"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("p_hat").desc, col("x"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      // ratios round half-up via EXACT integer arithmetic
      // ((num·2e4 + den) div 2·den) — engines disagree on double
      // round(x, 4) exactly at a decimal tie (Spark rounds the shortest
      // decimal rendering, DuckDB the binary value)
      def r4(num: org.apache.spark.sql.Column,
          den: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        Stats.halfUpQ4(num, den) / lit(10000.0)
      cells.join(broadcast(glm), Seq("x")).crossJoin(broadcast(tot))
        .withColumn("cum_pos", sum(col("pos")).over(w))
        .withColumn("cum_n", sum(col("n")).over(w))
        .select(col("x"), col("n"), col("pos"), col("p_hat"),
          r4(col("pos") * col("nt"), col("n") * col("post")).as("lift"),
          r4(col("cum_pos"), col("post")).as("cum_capture"),
          r4(col("cum_n"), col("nt")).as("cum_frac"))
        .orderBy(col("p_hat").desc, col("x"))
    }, {
      val glmSql = Regression.logitGlmOracleSql(
        """SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
          |  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
          |FROM lineitem""".stripMargin,
        rounds = 3)
      s"""WITH cells AS (SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
         |    count(*)::BIGINT AS n,
         |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT
         |      AS pos
         |  FROM lineitem GROUP BY 1),
         |glm AS (SELECT x, p_hat FROM ($glmSql) g),
         |tot AS (SELECT sum(n)::BIGINT AS nt, sum(pos)::BIGINT AS post
         |  FROM cells),
         |cum AS (SELECT c.x, c.n, c.pos, g.p_hat, t.nt, t.post,
         |    sum(c.pos) OVER (ORDER BY g.p_hat DESC, c.x
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
         |    sum(c.n) OVER (ORDER BY g.p_hat DESC, c.x
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
         |  FROM cells c JOIN glm g ON g.x = c.x CROSS JOIN tot t)
         |SELECT x, n, pos, p_hat,
         |  ((pos * nt * 20000 + n * post) // (n * post * 2)) / 10000.0
         |    AS lift,
         |  ((cum_pos * 20000 + post) // (post * 2)) / 10000.0
         |    AS cum_capture,
         |  ((cum_n * 20000 + nt) // (nt * 2)) / 10000.0 AS cum_frac
         |FROM cum ORDER BY p_hat DESC, x""".stripMargin
    }),

    // extension: ACF + PACF profile (lags 1..5) of daily revenue per
    // event type — the ARIMA order-identification pair; exact integer
    // autocovariances, bit-identical Durbin–Levinson in fixed-order
    // doubles
    QuerySpec("q_pacf", { (s, d) =>
      val daily = TpchGraph.eventsTable(s, d).where(col("value").isNotNull)
        .select(col("event_type"),
          floor(unix_timestamp(col("ts")) / lit(86400L)).cast("long").as("day"),
          round(col("value") * 100).cast("long").as("_v"))
        .groupBy("event_type", "day").agg(sum("_v").as("cents"))
      graft.ext.Events.acfPacf(daily, "event_type", "day", "cents", maxLag = 5)
        .orderBy("event_type", "lag")
    }, (graft.ext.Events.acfPacfOracleSql(
      """SELECT event_type AS k, day AS t, cents AS x FROM (
        |  SELECT event_type,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS day,
        |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2)""".stripMargin,
      maxLag = 5, keyAlias = "event_type") + "\nORDER BY event_type, lag")),

    // extension: exact Shapley decomposition of the 2-feature OLS —
    // for a linear model φᵢ(row) = bᵢ·(xᵢ − x̄ᵢ) IS the Shapley value,
    // so mean |φᵢ| = |b_q|·Σ|n·xᵢ − Sᵢ| / (n²·1e6) is exact-integer up
    // to one division; per-feature attribution share
    QuerySpec("q_shapley_ols", { (s, d) =>
      val li = t(s, d)("lineitem").select(
        round(col("l_quantity")).cast("long").as("x1"),
        round(col("l_discount") * 100).cast("long").as("x2"),
        round(col("l_extendedprice")).cast("long").as("y"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val g = Regression.gram2(li, "x1", "x2", "y")
      val (_, b1, b2, _) = Regression.solve2(g)
      def q6(v: Double) = BigDecimal(v * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
      val (b1q, b2q) = (q6(b1), q6(b2))
      val absRow = li.agg(
        sum(abs(lit(g.n.toLong) * col("x1") - lit(g.sx1.toLong))).as("d1"),
        sum(abs(lit(g.n.toLong) * col("x2") - lit(g.sx2.toLong))).as("d2"))
        .head()
      li.unpersist(blocking = false)
      val c1 = b1q.abs * BigInt(absRow.getAs[Long]("d1"))
      val c2 = b2q.abs * BigInt(absRow.getAs[Long]("d2"))
      val den = g.n * g.n * BigInt(1000000)
      def r6(v: Double) = BigDecimal(v)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      def contrib(c: BigInt) = r6(c.toDouble / den.toDouble)
      def share(c: BigInt) = r6(c.toDouble / (c1 + c2).toDouble)
      import s.implicits._
      Seq(
        ("x1_quantity", r6(b1), contrib(c1), share(c1)),
        ("x2_discount_pct", r6(b2), contrib(c2), share(c2)))
        .toDF("feature", "b", "mean_abs_contrib", "share")
        .orderBy("feature")
    }, (
      """WITH q AS (SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
        |    CAST(round(l_discount * 100) AS BIGINT) AS x2,
        |    CAST(round(l_extendedprice) AS BIGINT) AS y FROM lineitem),
        |g AS (SELECT count(*)::HUGEINT AS n,
        |  sum(x1)::HUGEINT AS sx1, sum(x2)::HUGEINT AS sx2, sum(y)::HUGEINT AS sy,
        |  sum(x1*x1)::HUGEINT AS sx1x1, sum(x2*x2)::HUGEINT AS sx2x2,
        |  sum(x1*x2)::HUGEINT AS sx1x2, sum(x1*y)::HUGEINT AS sx1y,
        |  sum(x2*y)::HUGEINT AS sx2y, sum(y*y)::HUGEINT AS syy FROM q),
        |""".stripMargin +
      Regression.solve2Sql("0::HUGEINT", "0") +
      """,
        |bq AS (SELECT CAST(round(b1 * 1e6, 0) AS HUGEINT) AS b1q,
        |    CAST(round(b2 * 1e6, 0) AS HUGEINT) AS b2q, b1, b2 FROM m0),
        |ad AS (SELECT sum(abs(g.n * q.x1 - g.sx1))::HUGEINT AS d1,
        |    sum(abs(g.n * q.x2 - g.sx2))::HUGEINT AS d2
        |  FROM q CROSS JOIN g),
        |cc AS (SELECT abs(bq.b1q) * ad.d1 AS c1, abs(bq.b2q) * ad.d2 AS c2,
        |    bq.b1, bq.b2, (g.n * g.n * 1000000::HUGEINT) AS den
        |  FROM bq CROSS JOIN ad CROSS JOIN g)
        |SELECT 'x1_quantity' AS feature, round(b1, 6) AS b,
        |  round(c1::DOUBLE / den::DOUBLE, 6) AS mean_abs_contrib,
        |  round(c1::DOUBLE / (c1 + c2)::DOUBLE, 6) AS share FROM cc
        |UNION ALL
        |SELECT 'x2_discount_pct', round(b2, 6),
        |  round(c2::DOUBLE / den::DOUBLE, 6),
        |  round(c2::DOUBLE / (c1 + c2)::DOUBLE, 6) FROM cc
        |ORDER BY feature""".stripMargin)),

    // extension: sequential-pattern support mining — for every ordered
    // event-type pair (a, b): in how many users does b occur AFTER some
    // a? Per-user (type → min/max ts) profile, a 25-cell per-user type
    // self-join, exact support counts + support share
    QuerySpec("q_seq_support", { (s, d) =>
      val prof = TpchGraph.eventsTable(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(unix_micros(col("ts"))).as("first_us"),
          max(unix_micros(col("ts"))).as("last_us"))
      val nUsers = TpchGraph.eventsTable(s, d)
        .agg(count_distinct(col("user_id")).as("n_users"))
      prof.as("x").join(prof.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") =!= col("y.event_type") &&
            col("y.last_us") > col("x.first_us"))
        .groupBy(col("x.event_type").as("a"), col("y.event_type").as("b"))
        .agg(count(lit(1)).as("support"))
        .crossJoin(broadcast(nUsers))
        .select(col("a"), col("b"), col("support"),
          round(col("support").cast("double") / col("n_users").cast("double"),
            4).as("support_frac"))
        .orderBy("a", "b")
    },
      """WITH prof AS (SELECT user_id, event_type,
        |    min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY 1, 2),
        |nu AS (SELECT count(DISTINCT user_id)::BIGINT AS n_users FROM events)
        |SELECT x.event_type AS a, y.event_type AS b,
        |  count(*)::BIGINT AS support,
        |  round(count(*)::DOUBLE / nu.n_users::DOUBLE, 4) AS support_frac
        |FROM prof x JOIN prof y ON y.user_id = x.user_id
        |  AND y.event_type <> x.event_type AND y.last_us > x.first_us
        |CROSS JOIN nu
        |GROUP BY 1, 2, nu.n_users ORDER BY 1, 2""".stripMargin),

    // extension: classifier fairness profile across market segments —
    // "urgent priority predicts a return" as the model under audit;
    // selection rate / TPR / FPR per segment + demographic-parity gap,
    // all exact-integer half-up rates
    QuerySpec("q_fairness", { (s, d) =>
      val ret = t(s, d)("lineitem").where(col("l_returnflag") === "R")
        .select(col("l_orderkey")).distinct()
      val o = t(s, d)("orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("p"))
        .join(ret, col("o_orderkey") === col("l_orderkey"), "left")
        .withColumn("y", col("l_orderkey").isNotNull)
      val c = t(s, d)("customer").select("c_custkey", "c_mktsegment")
      Stats.fairnessProfile(
        o.join(c, col("o_custkey") === col("c_custkey")),
        "c_mktsegment", "p", "y")
        .orderBy("c_mktsegment")
    }, (Stats.fairnessProfileSql(
      """SELECT c.c_mktsegment AS grp,
        |  o.o_orderpriority IN ('1-URGENT', '2-HIGH') AS p,
        |  EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R') AS y
        |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey""".stripMargin,
      groupAlias = "c_mktsegment") + "\nORDER BY c_mktsegment")),

    // extension: AR(2) Yule–Walker fit + one-step forecast of daily
    // revenue per event type — the model-fitting leg after q_pacf
    // identifies the order; bit-identical fixed-order doubles over the
    // same exact integer autocovariances
    QuerySpec("q_ar2_forecast", { (s, d) =>
      val daily = TpchGraph.eventsTable(s, d).where(col("value").isNotNull)
        .select(col("event_type"),
          floor(unix_timestamp(col("ts")) / lit(86400L)).cast("long").as("day"),
          round(col("value") * 100).cast("long").as("_v"))
        .groupBy("event_type", "day").agg(sum("_v").as("cents"))
      graft.ext.Events.ar2Forecast(daily, "event_type", "day", "cents")
        .orderBy("event_type")
    }, (graft.ext.Events.ar2ForecastOracleSql(
      """SELECT event_type AS k, day AS t, cents AS x FROM (
        |  SELECT event_type,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS day,
        |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2)""".stripMargin,
      keyAlias = "event_type") + "\nORDER BY event_type")),

    // extension: IPW average treatment effect — the ATE companion to
    // q_att_matching over the same (discount, quantity-stratum) design;
    // exact stratum propensities, micro-quantized arm means, one division
    QuerySpec("q_ipw_ate", { (s, d) =>
      Stats.ateIpw(
        t(s, d)("lineitem").select(
          (col("l_discount") >= 0.05).as("treat"),
          round(col("l_extendedprice") * 100).cast("long").as("price_c"),
          round(col("l_quantity")).cast("long").as("qty")),
        "treat", "price_c", "qty")
    }, Stats.ateIpwOracleSql(
      """SELECT CAST(round(l_quantity) AS BIGINT) AS x,
        |  l_discount >= 0.05 AS t,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |FROM lineitem""".stripMargin)),

    // extension: inter-event burstiness per event type — B = (σ−μ)/(σ+μ)
    // over integer-second gaps (B→−1 periodic, 0 Poisson, →1 bursty);
    // exact integer gap sums, one fixed-order sqrt expression
    QuerySpec("q_burstiness", { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("ts"), col("event_id"))
      val gaps = TpchGraph.eventsTable(s, d)
        .withColumn("_us", unix_micros(col("ts")))
        .withColumn("_prev", lag(col("_us"), 1).over(w))
        .where(col("_prev").isNotNull)
        .select(col("event_type"),
          (((col("_us") - col("_prev")) -
            pmod(col("_us") - col("_prev"), lit(1000000L))) /
            lit(1000000L)).cast("long").as("gap_s"))
      gaps.groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"), sum("gap_s").as("_sg"),
          sum(col("gap_s") * col("gap_s")).as("_sgg"))
        .select(col("event_type"), col("n_gaps"),
          round((col("_sg").cast("double") / col("n_gaps")), 2).as("mean_gap_s"),
          round(
            (sqrt(col("_sgg").cast("double") / col("n_gaps") -
              (col("_sg").cast("double") / col("n_gaps")) *
                (col("_sg").cast("double") / col("n_gaps"))) -
              col("_sg").cast("double") / col("n_gaps")) /
            (sqrt(col("_sgg").cast("double") / col("n_gaps") -
              (col("_sg").cast("double") / col("n_gaps")) *
                (col("_sg").cast("double") / col("n_gaps"))) +
              col("_sg").cast("double") / col("n_gaps")), 4)
            .plus(lit(0.0)).as("burstiness"))
        .orderBy("event_type")
    },
      """WITH g AS (SELECT event_type,
        |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id)) // 1000000 AS gap_s
        |  FROM events),
        |a AS (SELECT event_type, count(*)::BIGINT AS n_gaps,
        |    sum(gap_s)::BIGINT AS sg, sum(gap_s * gap_s)::BIGINT AS sgg
        |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_gaps,
        |  round(sg::DOUBLE / n_gaps, 2) AS mean_gap_s,
        |  round((sqrt(sgg::DOUBLE / n_gaps - (sg::DOUBLE / n_gaps)
        |      * (sg::DOUBLE / n_gaps)) - sg::DOUBLE / n_gaps)
        |    / (sqrt(sgg::DOUBLE / n_gaps - (sg::DOUBLE / n_gaps)
        |      * (sg::DOUBLE / n_gaps)) + sg::DOUBLE / n_gaps), 4) + 0.0
        |    AS burstiness
        |FROM a ORDER BY event_type""".stripMargin),

    // extension: Markov conditional entropy of the event stream —
    // H(next | current) = H(pair) − H(current) over per-user transition
    // pairs; how predictable is the next action? (composes q_mutual_info's
    // machinery on the q_markov pair construction)
    QuerySpec("q_markov_entropy", { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = TpchGraph.eventsTable(s, d)
        .withColumn("_prev", lag(col("event_type"), 1).over(w))
        .where(col("_prev").isNotNull)
        .select(col("_prev").as("cur"), col("event_type").as("nxt"))
      Stats.mutualInfo(pairs, "cur", "nxt")
        .select(col("n"), col("n_cells"),
          col("h_a").as("h_cur"), col("h_b").as("h_next"),
          col("h_ab").as("h_pair"), col("mi"),
          round(col("h_ab") - col("h_a"), 6).as("h_next_given_cur"))
    }, {
      val inner = Stats.mutualInfoOracleSql(
        """SELECT prev AS a, event_type AS b FROM (
          |  SELECT event_type, lag(event_type) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id) AS prev
          |  FROM events) s WHERE prev IS NOT NULL""".stripMargin)
      s"""SELECT n, n_cells, h_a AS h_cur, h_b AS h_next, h_ab AS h_pair,
         |  mi, round(h_ab - h_a, 6) AS h_next_given_cur
         |FROM ($inner) g""".stripMargin
    }),

    // extension: Brier score + skill of the q_logit_glm propensity —
    // probability-forecast quality vs the base-rate predictor; the
    // quantized p makes every squared error an exact integer
    QuerySpec("q_brier", { (s, d) =>
      val glm = Regression.logitGlm(
        t(s, d)("lineitem").select(
          round(col("l_discount") * 100).cast("long").as("x"),
          (col("l_returnflag") === "R").cast("long").as("y")),
        "x", "y", rounds = 3).select(col("x"), col("p_hat"))
      val rows = t(s, d)("lineitem").select(
        round(col("l_discount") * 100).cast("long").as("x"),
        (col("l_returnflag") === "R").cast("long").as("y"))
      val scored = rows.join(broadcast(glm), Seq("x"))
        .withColumn("p_q", round(col("p_hat") * 10000).cast("long"))
      val agg = scored.agg(count(lit(1)).as("n"), sum("y").as("sy"),
        sum((col("p_q") - col("y") * 10000) *
          (col("p_q") - col("y") * 10000)).as("se"))
      val withBase = agg
        .withColumn("p0_q",
          round(col("sy").cast("double") / col("n") * 10000).cast("long"))
      val base = scored.crossJoin(broadcast(withBase.select("p0_q")))
        .agg(sum((col("p0_q") - col("y") * 10000) *
          (col("p0_q") - col("y") * 10000)).as("se0"))
      withBase.crossJoin(broadcast(base))
        .select(col("n"),
          round(col("se").cast("double") /
            (col("n") * lit(100000000L)).cast("double"), 6).as("brier"),
          round(col("se0").cast("double") /
            (col("n") * lit(100000000L)).cast("double"), 6).as("brier_base"),
          round(lit(1.0) - col("se").cast("double") /
            col("se0").cast("double"), 4).as("brier_skill"))
    }, {
      val glmSql = Regression.logitGlmOracleSql(
        """SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
          |  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
          |FROM lineitem""".stripMargin,
        rounds = 3)
      s"""WITH glm AS (SELECT x, p_hat FROM ($glmSql) g),
         |rows_ AS (SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
         |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         |  FROM lineitem),
         |scored AS (SELECT r.x, r.y,
         |    CAST(round(g.p_hat * 10000) AS BIGINT) AS p_q
         |  FROM rows_ r JOIN glm g ON g.x = r.x),
         |agg AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
         |    sum((p_q - y * 10000) * (p_q - y * 10000))::BIGINT AS se
         |  FROM scored),
         |wb AS (SELECT *, CAST(round(sy::DOUBLE / n * 10000) AS BIGINT)
         |    AS p0_q FROM agg),
         |base AS (SELECT sum((wb.p0_q - s.y * 10000)
         |    * (wb.p0_q - s.y * 10000))::BIGINT AS se0
         |  FROM scored s CROSS JOIN wb)
         |SELECT wb.n,
         |  round(wb.se::DOUBLE / (wb.n * 100000000)::DOUBLE, 6) AS brier,
         |  round(base.se0::DOUBLE / (wb.n * 100000000)::DOUBLE, 6)
         |    AS brier_base,
         |  round(1.0 - wb.se::DOUBLE / base.se0::DOUBLE, 4) AS brier_skill
         |FROM wb CROSS JOIN base""".stripMargin
    }),

    // extension: IPF raking of the (event_type × weekday) cell table —
    // rows rake to uniform shares, columns preserve their observed
    // totals; exact integer scaling passes, unrolled oracle
    QuerySpec("q_ipf_rake", { (s, d) =>
      Stats.ipfRake(
        TpchGraph.eventsTable(s, d).select(col("event_type"),
          dayofweek(col("ts")).as("dow")),
        "event_type", "dow", rounds = 2)
        .orderBy("event_type", "dow")
    }, (Stats.ipfRakeOracleSql(
      """SELECT event_type AS r, CAST(dayofweek(ts) + 1 AS VARCHAR) AS c
        |FROM events""".stripMargin,
      rounds = 2, scale = 1000L,
      rowAlias = "event_type", colAlias = "dow")
      + "\nORDER BY event_type, dow")),

    // extension: winsorized mean per group — the outlier-robust location
    // estimate (clamp to the exact 5th/95th percentile cents, then an
    // exact integer mean); thresholds from ONE percentile aggregate,
    // clamped sums are order-free integers
    QuerySpec("q_winsorized_mean", { (s, d) =>
      val li = t(s, d)("lineitem").select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val thr = li.groupBy("l_returnflag")
        .agg(round(percentile(col("cents"), lit(0.05))).cast("long").as("lo_c"),
          round(percentile(col("cents"), lit(0.95))).cast("long").as("hi_c"))
      li.join(broadcast(thr), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("lo_c"), col("hi_c"),
          col("cents"),
          greatest(col("lo_c"), least(col("hi_c"), col("cents"))).as("w_c"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          max("lo_c").as("_lo"), max("hi_c").as("_hi"),
          sum("w_c").as("_sw"), sum("cents").as("_sr"))
        .select(col("l_returnflag"), col("n"),
          round(col("_lo") / 100.0, 2).as("lo"),
          round(col("_hi") / 100.0, 2).as("hi"),
          round(col("_sw").cast("double") / col("n") / 100.0, 2)
            .as("winsorized_mean"),
          round(col("_sr").cast("double") / col("n") / 100.0, 2)
            .as("raw_mean"))
        .orderBy("l_returnflag")
    },
      """WITH li AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |thr AS (SELECT l_returnflag,
        |    CAST(round(quantile_cont(cents::DOUBLE, 0.05)) AS BIGINT) AS lo_c,
        |    CAST(round(quantile_cont(cents::DOUBLE, 0.95)) AS BIGINT) AS hi_c
        |  FROM li GROUP BY 1),
        |w AS (SELECT li.l_returnflag, thr.lo_c, thr.hi_c, li.cents,
        |    greatest(thr.lo_c, least(thr.hi_c, li.cents)) AS w_c
        |  FROM li JOIN thr USING (l_returnflag))
        |SELECT l_returnflag, count(*)::BIGINT AS n,
        |  round(max(lo_c) / 100.0, 2) AS lo,
        |  round(max(hi_c) / 100.0, 2) AS hi,
        |  round(sum(w_c)::DOUBLE / count(*) / 100.0, 2) AS winsorized_mean,
        |  round(sum(cents)::DOUBLE / count(*) / 100.0, 2) AS raw_mean
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin),

    // extension: moment-based skewness + excess kurtosis per group —
    // the profiling stats beside mean/median/mode/MAD; four EXACT integer
    // raw-moment sums (decimal(38) / HUGEINT) cross the exchange, central
    // moments and the two ratios are fixed-order double expressions
    QuerySpec("q_skew_kurtosis", { (s, d) =>
      val c = round(col("l_extendedprice")).cast("long").cast("decimal(38,0)")
      val agg = t(s, d)("lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(c).as("s1"), sum(c * c).as("s2"),
          sum(c * c * c).as("s3"), sum(c * c * c * c).as("s4"))
      val n = col("n").cast("double")
      val mu = col("s1").cast("double") / n
      val m2 = col("s2").cast("double") / n - mu * mu
      val m3 = col("s3").cast("double") / n -
        lit(3.0) * mu * (col("s2").cast("double") / n) +
        lit(2.0) * mu * mu * mu
      val m4 = col("s4").cast("double") / n -
        lit(4.0) * mu * (col("s3").cast("double") / n) +
        lit(6.0) * mu * mu * (col("s2").cast("double") / n) -
        lit(3.0) * mu * mu * mu * mu
      agg.select(col("l_returnflag"), col("n"),
          round(mu, 2).as("mean"),
          round(sqrt(m2), 2).as("stddev"),
          round(m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)), 4).as("skewness"),
          round(m4 / (m2 * m2) - lit(3.0), 4).as("kurtosis_excess"))
        .orderBy("l_returnflag")
    },
      """WITH src AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice) AS HUGEINT) AS c FROM lineitem),
        |a AS (SELECT l_returnflag, count(*)::BIGINT AS n,
        |    sum(c)::HUGEINT AS s1, sum(c*c)::HUGEINT AS s2,
        |    sum(c*c*c)::HUGEINT AS s3, sum(c*c*c*c)::HUGEINT AS s4
        |  FROM src GROUP BY 1),
        |m AS (SELECT l_returnflag, n,
        |    s1::DOUBLE / n::DOUBLE AS mu,
        |    s2::DOUBLE / n::DOUBLE AS r2,
        |    s3::DOUBLE / n::DOUBLE AS r3,
        |    s4::DOUBLE / n::DOUBLE AS r4
        |  FROM a),
        |cm AS (SELECT l_returnflag, n, mu,
        |    r2 - mu * mu AS m2,
        |    r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
        |    r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
        |      - 3.0 * mu * mu * mu * mu AS m4
        |  FROM m)
        |SELECT l_returnflag, n, round(mu, 2) AS mean,
        |  round(sqrt(m2), 2) AS stddev,
        |  round(m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)), 4) AS skewness,
        |  round(m4 / (m2 * m2) - 3.0, 4) AS kurtosis_excess
        |FROM cm ORDER BY l_returnflag""".stripMargin)
  )
}
