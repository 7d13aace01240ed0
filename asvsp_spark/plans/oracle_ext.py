"""DuckDB oracle SQL for the extended operators (operators/grouping.py,
operators/ranges.py, streaming sq6/sq7).

Dialect notes, same stance as the other oracle modules: integer-cents
aggregates (`CAST(round(x*100) AS BIGINT)`), fixed-point rounding
(`round(x * 10^d) / 10^d.0`), INT casts where Spark's function returns
int, and `epoch_us(CAST(ts AS TIMESTAMP))` for any sub-second time
arithmetic (DuckDB reads the parquet TIMESTAMP_NANOS at nanosecond
precision; the cast truncates to the same microseconds Spark sees under
the nanosAsLong shim, so both engines compare identical integers).
"""

from __future__ import annotations

ORACLE_EXT: dict[str, str] = {}

ORACLE_EXT["cube_revenue_nation_year"] = """
WITH base AS (
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INT) AS yr,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
)
SELECT nation, yr,
       CAST(GROUPING(nation, yr) AS BIGINT) AS gid,
       CAST(sum(cents) AS BIGINT) / 100.0 AS revenue,
       count(*) AS n_orders
FROM base
GROUP BY CUBE (nation, yr)
"""

ORACLE_EXT["priority_percentiles"] = """
WITH d AS (
    SELECT o_orderpriority,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
)
SELECT o_orderpriority, count(*) AS n_orders,
       round(quantile_cont(cents, 0.25) / 100.0 * 10000) / 10000.0 AS p25,
       round(quantile_cont(cents, 0.5) / 100.0 * 10000) / 10000.0 AS median,
       round(quantile_cont(cents, 0.9) / 100.0 * 10000) / 10000.0 AS p90
FROM d GROUP BY 1
"""

ORACLE_EXT["events_after_order"] = """
WITH ev AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(round(value * 100) AS BIGINT) AS v
    FROM events
)
SELECT o.o_orderkey, o.o_custkey AS user_id,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_day,
       count(e.ts) AS n_events,
       round(coalesce(sum(e.v), 0) / 100.0 * 100) / 100.0
           AS event_value_sum
FROM orders o
LEFT JOIN ev e
  ON e.user_id = o.o_custkey
 AND e.ts >= o.o_orderdate
 AND e.ts < o.o_orderdate + INTERVAL 7 DAY
GROUP BY 1, 2, 3
"""

# Snapshot diff: the synthetic 'new' snapshot's membership/changes are
# pure key arithmetic, so the oracle states the expected classification
# directly (the engine computes it via fingerprint full-outer join).
ORACLE_EXT["snapshot_diff_orders"] = """
WITH o AS (
    SELECT o_orderkey % 13 = 0 AS removed_,
           -- the synthetic snapshot bumps o_totalprice by 1.0 on %5
           -- keys, but NULL + 1.0 is still NULL: a NULL-price key's
           -- value genuinely does not change, and the engine's
           -- null-safe comparison correctly reports it unchanged
           o_orderkey % 5 = 0 AND o_totalprice IS NOT NULL AS changed_,
           o_orderkey % 17 = 0 AS added_src
    FROM orders
)
SELECT status, n_keys FROM (
    SELECT 'removed' AS status, count(*) AS n_keys FROM o WHERE removed_
    UNION ALL
    SELECT 'changed', count(*) FROM o WHERE NOT removed_ AND changed_
    UNION ALL
    SELECT 'unchanged', count(*) FROM o WHERE NOT removed_ AND NOT changed_
    UNION ALL
    SELECT 'added', count(*) FROM o WHERE added_src
) WHERE n_keys > 0
"""

ORACLE_EXT["top_terms_per_lang"] = r"""
WITH t AS (
    SELECT lang, unnest(regexp_split_to_array(trim(text, ' '), '\s+')) AS term
    FROM documents
),
c AS (SELECT lang, term, count(*) AS tf FROM t GROUP BY 1, 2),
r AS (
    SELECT lang, term, tf,
           CAST(row_number() OVER (PARTITION BY lang
                                   ORDER BY tf DESC, term) AS INT) AS rk
    FROM c
)
SELECT lang, term, tf, rk FROM r WHERE rk <= 10
"""

ORACLE_EXT["embedding_quantize_int8"] = """
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
m AS (
    SELECT vec_id, e,
           list_max(list_transform(e, x -> abs(x))) AS amax
    FROM v
)
SELECT vec_id,
       array_to_string(
           CASE WHEN amax > 0
                THEN list_transform(e, x -> CAST(greatest(-127.0,
                         least(127.0, round(x / (amax / 127.0)))) AS INT))
                ELSE list_transform(e, x -> 0) END, ',') AS q8,
       round(amax / 127.0 * 1000000000) / 1000000000.0 AS scale
FROM m
"""

ORACLE_EXT["inactive_customers"] = """
SELECT c.c_custkey, c.c_name, c.c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND year(o.o_orderdate) = 2001)
"""

ORACLE_EXT["repeat_buyer_segments"] = """
SELECT c.c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_totalprice > 200000.0)
GROUP BY 1
"""

# Pearson r from exact integer moments over centi-quantized hourly
# averages — the same six sums, the same one-shot formula.
ORACLE_EXT["type_correlation"] = """
WITH s AS (
    SELECT date_trunc('hour', ts) AS hr, event_type,
           CAST(round(sum(CAST(round(value * 100) AS BIGINT))
                / count(*)) AS BIGINT) AS v
    FROM events GROUP BY 1, 2
),
p AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.v AS x, b.v AS y
    FROM s a JOIN s b ON a.hr = b.hr AND a.event_type < b.event_type
),
m AS (
    SELECT type_a, type_b, count(*) AS n,
           sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
           sum(x * x) AS sx2, sum(y * y) AS sy2
    FROM p GROUP BY 1, 2
)
SELECT type_a, type_b, n AS n_hours,
       round((n * sxy - sx * sy)
             / (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE))
                * sqrt(CAST(n * sy2 - sy * sy AS DOUBLE))) * 1000000)
           / 1000000.0 AS pearson_r
FROM m
"""

ORACLE_EXT["doc_length_histogram"] = """
SELECT CAST(floor(length(text) / 500) * 500 AS BIGINT) AS bucket_lo,
       count(*) AS n_docs,
       CAST(min(length(text)) AS INT) AS min_chars,
       CAST(max(length(text)) AS INT) AS max_chars
FROM documents GROUP BY 1
"""

# Deterministic k-per-group sample: md5 exists in both engines, so the
# exact membership (not just the size) hash-matches.
ORACLE_EXT["sample_k_per_group"] = """
WITH h AS (
    SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR) || 's42') AS h
    FROM documents
),
r AS (
    SELECT doc_id, lang,
           CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
                AS INT) AS rk
    FROM h
)
SELECT doc_id, lang, rk FROM r WHERE rk <= 10
"""

ORACLE_EXT["pivot_daily_type"] = """
WITH d AS (
    SELECT CAST(ts AS DATE) AS day, event_type,
           CAST(round(value * 100) AS BIGINT) AS v
    FROM events
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(round(sum(CASE WHEN event_type = 'click' THEN v END)
            / count(CASE WHEN event_type = 'click' THEN 1 END)) AS BIGINT) / 100.0 AS avg_click,
       CAST(round(sum(CASE WHEN event_type = 'error' THEN v END)
            / count(CASE WHEN event_type = 'error' THEN 1 END)) AS BIGINT) / 100.0 AS avg_error,
       CAST(round(sum(CASE WHEN event_type = 'purchase' THEN v END)
            / count(CASE WHEN event_type = 'purchase' THEN 1 END)) AS BIGINT) / 100.0 AS avg_purchase,
       CAST(round(sum(CASE WHEN event_type = 'signup' THEN v END)
            / count(CASE WHEN event_type = 'signup' THEN 1 END)) AS BIGINT) / 100.0 AS avg_signup,
       CAST(round(sum(CASE WHEN event_type = 'view' THEN v END)
            / count(CASE WHEN event_type = 'view' THEN 1 END)) AS BIGINT) / 100.0 AS avg_view
FROM d GROUP BY day
"""

ORACLE_EXT["unpivot_daily_type"] = """
WITH d AS (
    SELECT CAST(ts AS DATE) AS day, event_type,
           CAST(round(value * 100) AS BIGINT) AS v
    FROM events
)
SELECT strftime(day, '%Y-%m-%d') AS day, event_type,
       CAST(round(sum(v) / count(*)) AS BIGINT) / 100.0 AS avg_value
FROM d
WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
GROUP BY day, event_type
-- a group whose values are all NULL pivots to a NULL cell, and the
-- engine's unpivot DROPS NULL cells (UNPIVOT's EXCLUDE NULLS default,
-- documented in grouping.unpivot_daily_type) — mirror it (r10 events
-- edge probe)
HAVING sum(v) IS NOT NULL
"""

# VARIANT decode: the oracle reads the same JSON through DuckDB's json
# functions (json_extract + cast), groups by the raw event_type (the
# Spark side re-derives it through a nested $.m.t variant traversal —
# identical values by construction), and pins schema_of_variant's
# inference output as the literal Spark reports for {"k": <int>}.
ORACLE_EXT["variant_props_decode"] = """
WITH d AS (
    -- json_valid guards mirror the engine's try_parse_json: a
    -- malformed or NULL payload decodes to NULL everywhere but still
    -- counts as an event (r10 events edge probe — the unguarded
    -- json_extract errors on malformed text exactly like the old
    -- FAILFAST parse_json did)
    SELECT event_type AS etype, user_id,
           CASE WHEN json_valid(props)
                THEN CAST(json_extract(props, '$.k') AS BIGINT) END AS k,
           CASE WHEN json_valid(props)
                THEN CAST(json_extract(props, '$.retry') AS BIGINT)
           END AS retry,
           -- schema_of_variant mirror for the props CONTRACT (flat
           -- objects with integer-or-null members): keys ASCII-sorted,
           -- json-null -> VOID, integer -> BIGINT. A key listed by
           -- json_keys whose extract is NULL IS a json null (presence
           -- is established) — the two-arg json_type form returns SQL
           -- NULL inside list_transform (DuckDB lambda-correlation
           -- trap), so the IS NULL route is the reliable one; the
           -- COALESCE closes array_to_string-on-[]-is-NULL (trap #8)
           -- for '{}'. Nested/typed payloads are outside the schema
           -- pin's charter (the engine handles them; the corpus
           -- contract never emits them).
           CASE WHEN json_valid(props) AND json_type(props) = 'OBJECT'
                THEN 'OBJECT<' || COALESCE(array_to_string(
                     list_transform(list_sort(json_keys(props)),
                         k -> k || ': ' ||
                              CASE WHEN json_extract(props, '$.' || k)
                                        IS NULL
                                   THEN 'VOID' ELSE 'BIGINT' END),
                     ', '), '') || '>'
           END AS sch
    FROM events
)
SELECT etype,
       count(*) AS n_events,
       CAST(sum(k) AS BIGINT) AS k_sum,
       CAST(max(k) AS BIGINT) AS k_max,
       count(CASE WHEN k != 0 THEN 1 END) AS k_nonzero,
       count(*) - count(retry) AS n_missing_retry,
       count(DISTINCT user_id) AS n_users,
       max(sch) AS props_schema
FROM d GROUP BY etype
"""

# Dedup clustering: min-reachable-id connected components over the exact
# jaccard near-dup edges, via recursive-CTE reachability (tractable at
# oracle scale; the engine's star contraction computes the identical
# fixpoint).
_JACCARD_EDGES = """
    WITH sh AS (
        SELECT doc_id AS doc,
               list_distinct(list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        FROM (SELECT doc_id, regexp_split_to_array(trim(text, ' '), '\\s+') AS toks
              FROM documents)
    ),
    nonempty AS (SELECT doc, shingles FROM sh WHERE len(shingles) > 0),
    sz AS (SELECT doc, len(shingles) AS n_sh FROM nonempty),
    post AS (SELECT doc, unnest(shingles) AS s FROM nonempty),
    inter AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_inter
        FROM post a JOIN post b ON a.s = b.s AND a.doc < b.doc
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b FROM inter
    JOIN sz sa ON sa.doc = doc_a
    JOIN sz sb ON sb.doc = doc_b
    WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.3
"""

_DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE
edges AS ({_JACCARD_EDGES}),
sym AS (SELECT doc_a AS u, doc_b AS v FROM edges
        UNION SELECT doc_b, doc_a FROM edges),
r AS (
    SELECT u AS doc, u AS reach FROM (SELECT DISTINCT u FROM sym)
    UNION
    SELECT r.doc, s.v FROM r JOIN sym s ON s.u = r.reach
),
cc AS (SELECT doc, min(reach) AS component FROM r GROUP BY doc),
assigned AS (
    SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN cc ON cc.doc = d.doc_id
),
sizes AS (SELECT cluster_id, count(*) AS cluster_size
          FROM assigned GROUP BY 1)
SELECT a.doc_id, a.cluster_id, s.cluster_size,
       a.doc_id = a.cluster_id AS is_keeper
FROM assigned a JOIN sizes s USING (cluster_id)
"""

ORACLE_EXT["dedup_components"] = _DEDUP_COMPONENTS_SQL

# Stream-stream attribution join under single-batch drain: the watermark
# drops nothing (it only advances between batches), so the oracle is the
# plain time-range self-join. epoch_us() comparisons mirror Spark's
# microsecond timestamps exactly.
ORACLE_EXT["sq6_attribution_join"] = """
SELECT c.event_id AS conv_event_id,
       e.event_id AS eng_event_id,
       c.user_id AS user_id,
       c.event_type AS conv_type,
       e.event_type AS eng_type,
       strftime(CAST(c.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS conv_time,
       epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(e.ts AS TIMESTAMP))
           AS lag_micros,
       CAST(round(c.value * 100) AS BIGINT) / 100.0 AS conv_value
FROM events e
JOIN events c
  ON c.user_id = e.user_id
 AND e.event_type IN ('click', 'view')
 AND c.event_type IN ('purchase', 'signup')
 AND epoch_us(CAST(c.ts AS TIMESTAMP)) >= epoch_us(CAST(e.ts AS TIMESTAMP))
 AND epoch_us(CAST(c.ts AS TIMESTAMP))
     <= epoch_us(CAST(e.ts AS TIMESTAMP)) + 3600000000
"""

# Streaming sessionization (append mode): the batch gaps-and-islands
# sessionize, emitting only sessions FINALIZED by the watermark — session
# end (last event + 30min gap) at or before max(ts) - 2h. Session merge
# uses a STRICT > on the gap (an event at exactly last_ts+gap merges).
ORACLE_EXT["sq8_session_windows"] = """
WITH e AS (
    SELECT user_id, ts, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           CAST(round(value * 100) AS BIGINT) AS v
    FROM events
),
flagged AS (
    SELECT *, CASE WHEN lag(us) OVER w IS NULL
                     OR us - lag(us) OVER w > 1800000000
                   THEN 1 ELSE 0 END AS new_s
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
sess AS (
    SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
),
m AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS mx FROM events)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       CAST(round(sum(v) / count(*)) AS BIGINT) / 100.0 AS avg_value,
       max(us) - min(us) AS dwell_us
FROM sess, m
GROUP BY user_id, sid, m.mx
HAVING max(us) + 1800000000 <= m.mx - 7200000000
"""

# Bounded-state streaming dedup (sq7b): the engine's 3-batch harness
# (events -> future sentinel -> full replay at mx+7h) makes the
# watermark-eviction boundary deterministic — replays of events older
# than mx-4h re-emit (state evicted at the sentinel batch's commit),
# newer ones stay suppressed. The oracle states that expected output
# directly: events + the sentinel + one replay per pre-(mx-4h) event.
ORACLE_EXT["sq7b_dedup_within_watermark"] = """
WITH m AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mx FROM events),
base AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
allr AS (
    SELECT event_id, ts FROM base WHERE ts IS NOT NULL
    UNION ALL
    SELECT CAST(-1 AS BIGINT), mx + INTERVAL 8 HOUR FROM m
    UNION ALL
    -- replay re-stamps EVERY record at mx+7h; rows whose state was
    -- evicted (ts < mx-4h) re-emit, and NULL-ts rows (never delivered
    -- by the stream reader, so no state exists) emit too
    SELECT b.event_id, m.mx + INTERVAL 7 HOUR
    FROM base b, m WHERE b.ts < m.mx - INTERVAL 4 HOUR OR b.ts IS NULL
)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n_events,
       CAST(sum(event_id) AS BIGINT) AS id_sum
FROM allr GROUP BY 1
"""

# Streaming NEAR-dup dedup (sq15): sq7b's 3-batch eviction harness,
# content-keyed. The band key is the 4-hash single-band MinHash of each
# doc's distinct 3-gram shingles under the engine's seeded-md5 slicing
# family (same construction as _minhash_sql in oracle_text.py); docs
# with no shingles key by 'e'||doc_id. Event time = BASE + (md5(key) %
# 72) hours; batch-2's commit evicts keys in buckets <= max_bucket - 4
# (watermark in effect = batch-1 max - 2h, expiry = ts + 2h, and the
# eviction comparison is NON-STRICT: expiry == watermark evicts —
# sq7b's microsecond-organic timestamps could never expose that
# boundary, this harness's hour-quantized buckets pin it empirically);
# batch 3 replays every doc at BASE+79h under doc_id+1e6 — evicted
# keys re-emit, live keys (and the sentinel) stay suppressed. Output
# is per kept-row hour: count + key checksum, survivor-invariant by
# construction.
def _sq15_sql() -> str:
    from asvsp_spark.streaming.queries import (SQ15_ID_OFFSET,
                                               SQ15_REPLAY_HOURS,
                                               SQ15_SENTINEL_HOURS,
                                               SQ15_SENTINEL_TEXT)

    def mins(src: str) -> str:
        return " || '_' || ".join(
            f"min(('0x' || substr(md5('0|' || {src}), {1 + 8 * t}, 8))"
            "::BIGINT)" for t in range(4))

    return rf"""
WITH tk AS (
    SELECT doc_id AS doc,
           regexp_split_to_array(trim(text, ' '), '\s+') AS t
    FROM documents
),
sh AS (
    -- COALESCE to []: NULL text gives t = NULL, so the transform is
    -- NULL and a bare len(shingles) = 0 branch would match NEITHER arm
    -- — the doc would silently vanish from the oracle while the engine
    -- keys it 'e'||id (with_doc_band_key's r9 fix). Empty-list'ing it
    -- routes NULL-text docs through the same len=0 branch as sub-3-
    -- token docs, mirroring the engine exactly (r10 ADVICE finding).
    SELECT doc, COALESCE(list_distinct(list_transform(range(1, len(t) - 1),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])), []) AS shingles
    FROM tk
),
post AS (SELECT doc, unnest(shingles) AS s FROM sh
         WHERE len(shingles) > 0),
sig AS (SELECT doc, {mins('s')} AS band_key FROM post GROUP BY doc),
k1 AS (
    SELECT band_key FROM sig
    UNION ALL
    SELECT 'e' || CAST(doc AS VARCHAR) FROM sh WHERE len(shingles) = 0
),
b1 AS (SELECT DISTINCT band_key FROM k1),
bh AS (SELECT band_key,
              ('0x' || substr(md5(band_key), 1, 8))::BIGINT % 72
                  AS bucket
       FROM b1),
mx AS (SELECT max(bucket) AS mxh FROM bh),
sent AS (
    SELECT {mins('s')} AS band_key
    FROM (SELECT unnest(list_distinct(list_transform(
              range(1, len(t) - 1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
          FROM (SELECT regexp_split_to_array(
                    trim('{SQ15_SENTINEL_TEXT}', ' '), '\s+') AS t))
),
live AS (SELECT band_key FROM bh, mx WHERE bucket > mxh - 4),
k3 AS (
    SELECT band_key FROM sig
    UNION ALL
    SELECT 'e' || CAST(doc + {SQ15_ID_OFFSET} AS VARCHAR)
    FROM sh WHERE len(shingles) = 0
),
em3 AS (
    SELECT DISTINCT band_key FROM k3
    WHERE band_key NOT IN (SELECT band_key FROM live)
      AND band_key <> (SELECT band_key FROM sent)
),
allr AS (
    SELECT bucket AS h, band_key FROM bh
    UNION ALL
    SELECT {SQ15_SENTINEL_HOURS} AS h, band_key FROM sent
    UNION ALL
    SELECT {SQ15_REPLAY_HOURS} AS h, band_key FROM em3
)
SELECT strftime(TIMESTAMP '2001-01-01 00:00:00' + h * INTERVAL 1 HOUR,
                '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n_kept,
       CAST(sum(('0x' || substr(md5(band_key), 1, 8))::BIGINT % 1000003)
            AS BIGINT) AS key_checksum
FROM allr GROUP BY h
"""


ORACLE_EXT["sq15_neardup_dedup"] = _sq15_sql()

# Streaming dedup of a doubled feed == plain aggregation of the original
# events (the engine side proves the cross-batch dedup state removed the
# 100%-duplicate second micro-batch).
ORACLE_EXT["sq7_dedup_hourly"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n_events,
       CAST(round(sum(CAST(round(value * 100) AS BIGINT)) / count(*))
            AS BIGINT) / 100.0 AS avg_value
FROM events WHERE ts IS NOT NULL GROUP BY 1
"""

# ---- relevance / vocabulary scoring (operators/relevance.py) ----
# Tokenization mirror: regexp_split_to_array(trim(text, ' '), '\s+') ==
# Spark F.split(F.trim(text, ' '), '\s+'). Scores round to 4 decimals after
# all float math; every rank orders by the ROUNDED score + lexical
# tie-break so both engines rank identical values.

ORACLE_EXT["top_bigrams"] = r"""
WITH toks AS (
    SELECT regexp_split_to_array(trim(text, ' '), '\s+') AS t FROM documents
),
bg AS (
    SELECT unnest(list_transform(range(1, len(t)),
                  i -> t[i] || ' ' || t[i+1])) AS bigram
    FROM toks
),
counts AS (SELECT bigram, count(*) AS tf FROM bg GROUP BY 1),
r AS (
    SELECT bigram, tf,
           CAST(row_number() OVER (ORDER BY tf DESC, bigram) AS INT) AS rk
    FROM counts
)
SELECT bigram, tf, rk FROM r WHERE rk <= 20
"""

ORACLE_EXT["tfidf_top_terms"] = r"""
WITH toks AS (
    SELECT doc_id, lang,
           unnest(regexp_split_to_array(trim(text, ' '), '\s+')) AS term
    FROM documents
),
tf AS (SELECT lang, term, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT lang, term, tf, df,
           round(tf * ln(n_docs * 1.0 / df) * 10000) / 10000.0 AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
),
r AS (
    SELECT lang, term, tf, df, tfidf,
           CAST(row_number() OVER (PARTITION BY lang
                                   ORDER BY tfidf DESC, term) AS INT) AS rk
    FROM scored
)
SELECT lang, term, tf, df, tfidf, rk FROM r WHERE rk <= 10
"""

# k1=1.2, b=0.75, query terms = ('spark','join','vector','stream');
# idf floored positive via ln(1 + ...) exactly as the engine side.
ORACLE_EXT["bm25_search"] = r"""
WITH dl AS (
    SELECT doc_id, len(regexp_split_to_array(trim(text, ' '), '\s+')) AS dl
    FROM documents
),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text, ' '), '\s+')) AS term
    FROM documents
),
hits AS (
    SELECT doc_id, term, count(*) AS tf FROM toks
    WHERE term IN ('spark', 'join', 'vector', 'stream')
    GROUP BY 1, 2
),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1),
idf AS (
    SELECT term, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
    FROM df CROSS JOIN stats
),
per AS (
    SELECT h.doc_id,
           i.idf * h.tf * (1.2 + 1.0)
           / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)) AS contrib
    FROM hits h
    JOIN idf i USING (term)
    JOIN dl d USING (doc_id)
    CROSS JOIN stats s
),
scored AS (
    SELECT doc_id,
           round(sum(contrib) * 10000) / 10000.0 AS bm25,
           count(*) AS n_terms_matched
    FROM per GROUP BY 1
),
r AS (
    SELECT doc_id, bm25, n_terms_matched,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rk
    FROM scored
)
SELECT doc_id, bm25, n_terms_matched, rk FROM r WHERE rk <= 20
"""


# ---- dedup representative: same CC fixpoint, then elect the longest doc
# (token count desc, doc_id asc) per cluster ----
ORACLE_EXT["dedup_representative"] = f"""
WITH RECURSIVE
edges AS ({_JACCARD_EDGES}),
sym AS (SELECT doc_a AS u, doc_b AS v FROM edges
        UNION SELECT doc_b, doc_a FROM edges),
r AS (
    SELECT u AS doc, u AS reach FROM (SELECT DISTINCT u FROM sym)
    UNION
    SELECT r.doc, s.v FROM r JOIN sym s ON s.u = r.reach
),
cc AS (SELECT doc, min(reach) AS component FROM r GROUP BY doc),
assigned AS (
    SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN cc ON cc.doc = d.doc_id
),
sizes AS (SELECT cluster_id, count(*) AS cluster_size
          FROM assigned GROUP BY 1),
tok AS (
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text, ' '), '\\s+')) AS INT)
           AS n_tokens
    FROM documents
),
j AS (
    SELECT a.doc_id, a.cluster_id, s.cluster_size, t.n_tokens
    FROM assigned a
    JOIN sizes s USING (cluster_id)
    JOIN tok t USING (doc_id)
),
rk AS (
    SELECT *, row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY n_tokens DESC, doc_id) AS rn
    FROM j
)
SELECT cluster_id, doc_id AS rep_doc_id, cluster_size,
       n_tokens AS rep_tokens
FROM rk WHERE rn = 1
"""

# Spark side: operators/skew.py key_skew_report (registry: events
# .user_id, top_k=10). Keys are string-cast in BOTH engines so the
# rank tie-break is the same lexicographic order; the median is the
# exact interpolated percentile over integer per-key counts
# (quantile_cont <-> Spark percentile — the proven
# priority_percentiles pairing), rounded after all float math.
ORACLE_EXT["key_skew_report"] = """
WITH c AS (
    SELECT COALESCE(CAST(user_id AS VARCHAR), '<null>') AS key,
           count(*) AS n_rows
    FROM events GROUP BY 1
),
s AS (
    SELECT count(*) AS n_keys, sum(n_rows) AS total_rows,
           quantile_cont(n_rows, 0.5) AS med
    FROM c
),
t AS (
    SELECT key, n_rows,
           row_number() OVER (ORDER BY n_rows DESC, key) AS rank,
           sum(n_rows) OVER (ORDER BY n_rows DESC, key
                             ROWS UNBOUNDED PRECEDING) AS cum
    FROM c
)
SELECT CAST(rank AS INT) AS rank, key, n_rows,
       round(n_rows / s.total_rows * 1000000) / 1000000.0 AS share,
       round(cum / s.total_rows * 1000000) / 1000000.0 AS cum_share,
       s.n_keys,
       round(s.med * 1000000) / 1000000.0 AS median_key_rows,
       round(n_rows / s.med * 1000000) / 1000000.0 AS skew_vs_median
FROM t, s WHERE rank <= 10
"""

# Spark side: streaming/queries.py sq12_drift_hourly — tumbling-hour
# mix vs the static full-period baseline. Single-batch drain semantics:
# the 1h window is date_trunc('hour', ts) and the 2h watermark drops
# nothing, so the oracle is the plain full-history per-hour formula.
ORACLE_EXT["sq12_drift_hourly"] = """
WITH c AS (
    SELECT date_trunc('hour', ts) AS ws,
           COALESCE(CAST(event_type AS VARCHAR), '<null>') AS key,
           count(*) AS c
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
b AS (SELECT COALESCE(CAST(event_type AS VARCHAR), '<null>') AS key,
             count(*) AS cb FROM events GROUP BY 1),
t AS (SELECT count(*) AS ct FROM events),
j AS (
    SELECT c.ws, c.c, b.cb, t.ct,
           sum(c.c) OVER (PARTITION BY c.ws) AS w_tot
    FROM c JOIN b USING (key) CROSS JOIN t
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(sum(c) AS BIGINT) AS n_events,
       CAST(count(*) AS INT) AS n_types,
       round(sum((c / w_tot) * ln((c / w_tot) / (cb / ct)))
             * 1000000) / 1000000.0 AS kl_nats,
       round((sum(abs(c / w_tot - cb / ct)) + 1.0 - sum(cb / ct)) / 2.0
             * 1000000) / 1000000.0 AS tvd
FROM j GROUP BY 1
"""

# Spark side: operators/drift.py distribution_drift (registry: events,
# event_type per day). Same share tables, same KL/TVD formulas; the
# absent-category mass enters TVD as 1 - sum(q_present), so no dense
# grid is built in either engine.
ORACLE_EXT["distribution_drift_daily"] = """
WITH c AS (
    SELECT CAST(ts AS DATE) AS day,
           COALESCE(CAST(event_type AS VARCHAR), '<null>') AS key,
           count(*) AS c
    FROM events GROUP BY 1, 2
),
b AS (SELECT key, sum(c) AS cb FROM c GROUP BY 1),
t AS (SELECT sum(cb) AS ct FROM b),
j AS (
    SELECT c.day, c.c, b.cb, t.ct,
           sum(c.c) OVER (PARTITION BY c.day) AS day_tot
    FROM c JOIN b USING (key) CROSS JOIN t
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(sum(c) AS BIGINT) AS n_events,
       CAST(count(*) AS INT) AS n_types,
       round(sum((c / day_tot) * ln((c / day_tot) / (cb / ct)))
             * 1000000) / 1000000.0 AS kl_nats,
       round((sum(abs(c / day_tot - cb / ct)) + 1.0 - sum(cb / ct)) / 2.0
             * 1000000) / 1000000.0 AS tvd
FROM j GROUP BY 1
"""

# Spark side: registry cohort_retention — distinct (customer, month),
# min-month cohort, join back, matrix groupBy + window denominator.
# midx = year*12 + month - 1 keeps offsets calendar-correct across
# year boundaries; both engines do the identical integer arithmetic.
ORACLE_EXT["cohort_retention"] = """
WITH act AS (
    SELECT DISTINCT o_custkey AS c,
           year(o_orderdate) * 12 + month(o_orderdate) - 1 AS midx
    FROM orders
),
first AS (
    SELECT c, min(midx) AS first_midx FROM act GROUP BY 1
),
mat AS (
    SELECT f.first_midx, a.midx - f.first_midx AS months_since,
           count(*) AS n_active
    FROM act a JOIN first f ON a.c = f.c
    GROUP BY 1, 2
)
SELECT CAST(first_midx // 12 * 100 + first_midx % 12 + 1 AS INT)
           AS cohort_ym,
       CAST(months_since AS INT) AS months_since,
       n_active,
       round(n_active / (max(CASE WHEN months_since = 0 THEN n_active END)
                         OVER (PARTITION BY first_midx)) * 1000000)
           / 1000000.0 AS retention
FROM mat
"""

ORACLE_EXT["customer_retention_setops"] = """
WITH y0 AS (SELECT DISTINCT o_custkey FROM orders
            WHERE year(o_orderdate) = 2000),
y1 AS (SELECT DISTINCT o_custkey FROM orders
       WHERE year(o_orderdate) = 2001)
SELECT 'retained' AS cohort, count(*) AS n_customers
FROM (SELECT * FROM y0 INTERSECT SELECT * FROM y1)
UNION ALL
SELECT 'churned', count(*)
FROM (SELECT * FROM y0 EXCEPT SELECT * FROM y1)
UNION ALL
SELECT 'new', count(*)
FROM (SELECT * FROM y1 EXCEPT SELECT * FROM y0)
"""

# GROUPING(region, nation) bit order matches Spark grouping_id()
# (leftmost grouping column = most significant bit).
ORACLE_EXT["rollup_revenue_region_nation"] = """
WITH base AS (
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
)
SELECT region, nation,
       CAST(GROUPING(region, nation) AS BIGINT) AS gid,
       CAST(sum(cents) AS BIGINT) / 100.0 AS revenue,
       count(*) AS n_orders
FROM base
GROUP BY ROLLUP (region, nation)
"""

ORACLE_EXT["nation_revenue_distribution"] = """
WITH rev AS (
    SELECT n.n_name AS nation,
           sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
           AS revenue_cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1
)
SELECT nation,
       CAST(revenue_cents AS BIGINT) / 100.0 AS revenue,
       percent_rank() OVER (ORDER BY revenue_cents NULLS LAST, nation NULLS LAST) AS pct_rank,
       cume_dist() OVER (ORDER BY revenue_cents NULLS LAST, nation NULLS LAST) AS cume_dist
FROM rev
"""

# Ordering key = zero-padded (epoch_us, event_id) string -> tie-free;
# epoch_us(CAST(ts AS TIMESTAMP)) truncates nanos to the same micros
# Spark sees (dialect note at module top). first_type struct-wraps the
# arg: DuckDB's plain arg_min SKIPS rows whose arg is NULL (returning
# the next type up the ordering) where Spark's min_by returns the NULL
# event_type of the true first row — the r10 events fuzzer caught the
# divergence on a NULL-type first event. The one-field struct is never
# NULL itself, so no row is skipped; .v unwraps after the aggregate.
# (The twin port shims this form back to plain min_by, whose NULL-arg
# semantics are already Spark's.)
ORACLE_EXT["user_day_bookends"] = """
WITH ev AS (
    SELECT user_id, event_id, event_type,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
           lpad(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR), 20, '0')
           || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord
    FROM events
)
SELECT user_id, day,
       arg_min(event_id, ord) AS first_event_id,
       arg_max(event_id, ord) AS last_event_id,
       arg_min({'v': event_type}, ord).v AS first_type,
       count(*) AS n_events
FROM ev GROUP BY 1, 2
"""


# Left-outer stream-stream attribution under single-batch drain: matched
# rows emit in-batch; null rows emit at the final no-data batch for every
# unmatched engagement whose join horizon (eng_ts + 1h) fell behind the
# final watermark. The watermark is the MIN across the two watermark
# nodes (multipleWatermarkPolicy=min), and each side filters BEFORE
# withWatermark — so it derives from min(max eng ts, max conv ts) - 2h,
# NOT the global max ts. Unmatched engagements above the horizon stay in
# state when the drain terminates and do not emit.
ORACLE_EXT["sq6b_attribution_left"] = """
WITH m AS (
    SELECT least(
        (SELECT max(CAST(ts AS TIMESTAMP)) FROM events
         WHERE event_type IN ('click', 'view')),
        (SELECT max(CAST(ts AS TIMESTAMP)) FROM events
         WHERE event_type IN ('purchase', 'signup'))) AS mx
),
eng AS (
    SELECT event_id AS eng_event_id, user_id,
           CAST(ts AS TIMESTAMP) AS eng_ts, event_type AS eng_type
    FROM events WHERE event_type IN ('click', 'view')
),
conv AS (
    SELECT event_id AS conv_event_id, user_id,
           CAST(ts AS TIMESTAMP) AS conv_ts, event_type AS conv_type
    FROM events WHERE event_type IN ('purchase', 'signup')
),
matched AS (
    SELECT e.eng_event_id, e.user_id, e.eng_type,
           strftime(e.eng_ts, '%Y-%m-%d %H:%M:%S') AS eng_time,
           c.conv_event_id, c.conv_type,
           epoch_us(c.conv_ts) - epoch_us(e.eng_ts) AS lag_micros
    FROM eng e
    JOIN conv c ON c.user_id = e.user_id
     AND c.conv_ts >= e.eng_ts
     AND c.conv_ts <= e.eng_ts + INTERVAL 1 HOUR
),
unmatched AS (
    SELECT e.eng_event_id, e.user_id, e.eng_type,
           strftime(e.eng_ts, '%Y-%m-%d %H:%M:%S') AS eng_time,
           CAST(NULL AS BIGINT) AS conv_event_id,
           CAST(NULL AS VARCHAR) AS conv_type,
           CAST(NULL AS BIGINT) AS lag_micros
    FROM eng e, m
    WHERE NOT EXISTS (
        SELECT 1 FROM conv c
        WHERE c.user_id = e.user_id
          AND c.conv_ts >= e.eng_ts
          AND c.conv_ts <= e.eng_ts + INTERVAL 1 HOUR)
      AND e.eng_ts + INTERVAL 1 HOUR < m.mx - INTERVAL 2 HOUR
)
SELECT * FROM matched UNION ALL SELECT * FROM unmatched
"""

# Chained hourly -> daily streaming aggregation, append mode end-to-end:
# the drained output is exactly the COMPLETE days (day end <= final
# watermark mx - 2h); every hour of such a day is necessarily complete
# too, so the batch equivalent aggregates all events of those days.
ORACLE_EXT["sq9_hourly_daily_chain"] = """
WITH m AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mx FROM events),
e AS (
    SELECT CAST(ts AS TIMESTAMP) AS ts, event_type,
           CAST(round(value * 100) AS BIGINT) AS centi
    FROM events
),
h AS (
    SELECT date_trunc('hour', ts) AS hr, event_type,
           count(*) AS n, sum(centi) AS centi
    FROM e GROUP BY 1, 2
),
d AS (
    SELECT date_trunc('day', hr) AS day, event_type,
           CAST(sum(n) AS BIGINT) AS n_events,
           count(*) AS n_hours,
           CAST(max(n) AS BIGINT) AS max_hourly_events,
           CAST(sum(centi) AS BIGINT) AS sum_centi
    FROM h GROUP BY 1, 2
)
SELECT strftime(day, '%Y-%m-%d') AS day, event_type,
       n_events, n_hours, max_hourly_events,
       sum_centi / 100.0 AS sum_value
FROM d, m
WHERE day + INTERVAL 1 DAY <= mx - INTERVAL 2 HOUR
"""

# ---- lineitem fact analytics (plans/lineitem_queries.py). Integer-unit
# mirror: cents (1e-2), pct (1e-2); products exact in 1e-4 / 1e-6 units.

ORACLE_EXT["q11_pricing_summary"] = """
WITH li AS (
    SELECT l_returnflag, l_linestatus,
           CAST(l_quantity AS BIGINT) AS qty,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
           CAST(round(l_discount * 100) AS BIGINT) AS disc,
           CAST(round(l_tax * 100) AS BIGINT) AS tax
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
),
agg AS (
    SELECT l_returnflag, l_linestatus,
           CAST(sum(qty) AS BIGINT) AS sum_qty,
           CAST(sum(cents) AS BIGINT) AS base_cents,
           CAST(sum(cents * (100 - disc)) AS BIGINT) AS disc_e4,
           CAST(sum(cents * (100 - disc) * (100 + tax)) AS BIGINT)
               AS charge_e6,
           CAST(sum(disc) AS BIGINT) AS disc_pct_sum,
           count(*) AS count_order
    FROM li GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus, sum_qty,
       base_cents / 100.0 AS sum_base_price,
       disc_e4 / 10000.0 AS sum_disc_price,
       charge_e6 / 1000000.0 AS sum_charge,
       round(sum_qty * 1.0 / count_order * 10000) / 10000.0 AS avg_qty,
       round(base_cents * 1.0 / count_order / 100.0 * 10000) / 10000.0
           AS avg_price,
       round(disc_pct_sum * 1.0 / count_order / 100.0 * 1000000) / 1000000.0
           AS avg_disc,
       count_order
FROM agg
"""

ORACLE_EXT["q12_late_shipments"] = """
SELECT CAST(year(l_shipdate) AS INT) AS ship_yr,
       o_orderpriority,
       count(*) AS n_late_lines,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           / 100.0 AS late_revenue
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
      > 90
GROUP BY 1, 2
"""

ORACLE_EXT["q13_supplier_margin_topk"] = """
WITH rev AS (
    SELECT l_suppkey,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS BIGINT) AS rev_e4,
           count(*) AS n_lines
    FROM lineitem GROUP BY 1
),
topk AS (
    SELECT *, CAST(row_number() OVER (ORDER BY rev_e4 DESC, l_suppkey NULLS LAST)
                   AS INT) AS rk
    FROM rev
)
SELECT rk, l_suppkey AS suppkey, s_name AS supplier, n_name AS nation,
       rev_e4 / 10000.0 AS revenue, n_lines
FROM topk
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE rk <= 10
"""

# Spark side: operators/diff.py scd2_intervals (registry scd2_user_state).
ORACLE_EXT["scd2_user_state"] = """
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts NULLS LAST, event_id NULLS LAST) AS prev_state,
           -- lag of a constant is NULL only on the FIRST row: it
           -- distinguishes "no previous event" from "previous state
           -- was NULL", exactly like the engine's _has_prev column —
           -- the bare prev_state IS NULL test split consecutive
           -- NULL-state events into separate runs where the engine's
           -- null-safe comparison collapses them (r10 events fuzzer)
           lag(1) OVER (PARTITION BY user_id
                        ORDER BY ts NULLS LAST, event_id NULLS LAST) AS has_prev
    FROM events
),
runs AS (
    SELECT user_id, event_type AS state, ts AS valid_from, event_id
    FROM ordered
    WHERE has_prev IS NULL OR event_type IS DISTINCT FROM prev_state
),
closed AS (
    SELECT user_id, state, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from NULLS LAST, event_id NULLS LAST) AS valid_to
    FROM runs
)
SELECT user_id, state,
       strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(valid_to, '%Y-%m-%d %H:%M:%S') AS valid_to,
       (valid_to IS NULL) AS is_current
FROM closed
"""

# Spark side: operators/sketches.py heavy_hitters — integer cross-
# multiplied threshold (count * 1000 >= n * 7), no float rounding.
ORACLE_EXT["heavy_hitters_users"] = """
-- NULL keys excluded on BOTH sides of the threshold (rows and n):
-- the engine's documented contract (sketches.heavy_hitters na.drop —
-- NULL is a data-quality count, not a frequency key; r10 events edge
-- probe caught the oracle counting the NULL group)
SELECT user_id, count(*) AS n_occurrences
FROM events WHERE user_id IS NOT NULL
GROUP BY 1
HAVING count(*) * 1000
    >= (SELECT count(*) FROM events WHERE user_id IS NOT NULL) * 7
"""

# Spark side: registry _skew_join_demo (operators/skew.py salted_join).
# One SQL serves both entries — salting is a physical rewrite, the
# result multiset is identical by construction, and the bench delta
# between the two entries is the skew measurement. The checksum mirrors
# Spark's conv(substring(md5(key|cents|w),1,8),16,10) via DuckDB's
# hex-cast, reduced mod 1000003 before summing so the hot group's
# checksum stays inside signed-64 at any SF (a raw digest sum
# crosses 2^63 around sf75).
_SKEW_JOIN_SQL = """
WITH big AS (
    SELECT CASE WHEN l_orderkey % 1000 < 950 THEN 0
                ELSE l_orderkey % 1000 END AS skew_key,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
    FROM lineitem
),
dim AS (
    SELECT i AS skew_key, i % 7 + 1 AS w FROM range(1000) t(i)
    UNION ALL
    SELECT 0, i + 100 FROM range(9) t(i)
),
j AS (SELECT b.skew_key, b.cents, d.w
      FROM big b JOIN dim d ON b.skew_key = d.skew_key)
SELECT skew_key,
       count(*) AS n_rows,
       CAST(sum(cents * w) AS BIGINT) AS weighted_cents,
       CAST(sum(('0x' || substr(md5(skew_key || '|' || COALESCE(cents::VARCHAR, 'null') || '|' || w),
                                1, 8))::BIGINT % 1000003) AS BIGINT) AS checksum
FROM j
GROUP BY 1
HAVING CAST(sum(('0x' || substr(md5(skew_key || '|' || COALESCE(cents::VARCHAR, 'null') || '|' || w),
                                1, 8))::BIGINT % 1000003) AS BIGINT) IS NOT NULL
"""

ORACLE_EXT["skew_join_plain"] = _SKEW_JOIN_SQL
ORACLE_EXT["skew_join_salted"] = _SKEW_JOIN_SQL

# Spark side: operators/validate.py check_suite (registry
# data_quality_report — orders/lineitem/documents/events + two FK
# checks). Every metric is round(ratio-of-exact-counts * 1e6) / 1e6
# with a COALESCE(0) on empty denominators, mirroring _frac; the FK
# orphan fraction left-joins non-null child keys against distinct
# non-null parent keys in both engines.
_DQ_FRAC = "round(COALESCE(CAST({v} AS DOUBLE) / NULLIF(CAST({d} AS DOUBLE), 0), 0) * 1000000) / 1000000.0"


def _dq_frac(v: str, d: str) -> str:
    return _DQ_FRAC.format(v=v, d=d)


ORACLE_EXT["data_quality_report"] = f"""
WITH o AS (
    SELECT count(*) AS n,
           sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS cust_null,
           count(o_orderkey) AS ok_nn,
           count(DISTINCT o_orderkey) AS ok_d,
           count(o_orderstatus) AS st_nn,
           sum(CASE WHEN o_orderstatus IS NOT NULL
                    AND o_orderstatus NOT IN ('O', 'F', 'P')
                    THEN 1 ELSE 0 END) AS st_bad,
           count(o_totalprice) AS tp_nn,
           sum(CASE WHEN o_totalprice IS NOT NULL
                    AND (o_totalprice < 0.0 OR o_totalprice > 10000000.0)
                    THEN 1 ELSE 0 END) AS tp_bad
    FROM orders
),
ofk AS (
    SELECT count(*) AS n,
           sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS orphans
    FROM (SELECT o_custkey AS k FROM orders WHERE o_custkey IS NOT NULL) c
    LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer
               WHERE c_custkey IS NOT NULL) p USING (k)
),
l AS (
    SELECT count(l_quantity) AS q_nn,
           sum(CASE WHEN l_quantity IS NOT NULL
                    AND (l_quantity < 1.0 OR l_quantity > 50.0)
                    THEN 1 ELSE 0 END) AS q_bad,
           count(l_returnflag) AS rf_nn,
           sum(CASE WHEN l_returnflag IS NOT NULL
                    AND l_returnflag NOT IN ('A', 'N', 'R')
                    THEN 1 ELSE 0 END) AS rf_bad
    FROM lineitem
),
lfk AS (
    SELECT count(*) AS n,
           sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS orphans
    FROM (SELECT l_orderkey AS k FROM lineitem
          WHERE l_orderkey IS NOT NULL) c
    LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders
               WHERE o_orderkey IS NOT NULL) p USING (k)
),
d AS (
    SELECT count(*) AS n,
           count(doc_id) AS id_nn,
           count(DISTINCT doc_id) AS id_d,
           count(lang) AS lg_nn,
           sum(CASE WHEN lang IS NOT NULL
                    AND NOT regexp_matches(lang, '^[a-z]{{2}}$')
                    THEN 1 ELSE 0 END) AS lg_bad,
           sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS tx_null
    FROM documents
),
e AS (
    SELECT count(*) AS n,
           sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS uid_null,
           count(event_type) AS et_nn,
           sum(CASE WHEN event_type IS NOT NULL
                    AND event_type NOT IN ('click', 'signup', 'error',
                                           'view', 'purchase')
                    THEN 1 ELSE 0 END) AS et_bad
    FROM events
),
rows_out AS (
    SELECT 'orders' AS "table", 'not_null(o_custkey)' AS "check",
           'o_custkey' AS "column",
           {_dq_frac('cust_null', 'n')} AS metric, 0.0 AS threshold FROM o
    UNION ALL
    SELECT 'orders', 'unique(o_orderkey)', 'o_orderkey',
           {_dq_frac('ok_nn - ok_d', 'ok_nn')}, 0.0 FROM o
    UNION ALL
    SELECT 'orders', 'in_set(o_orderstatus)', 'o_orderstatus',
           {_dq_frac('st_bad', 'st_nn')}, 0.0 FROM o
    UNION ALL
    SELECT 'orders', 'in_range(o_totalprice,0.0,10000000.0)',
           'o_totalprice', {_dq_frac('tp_bad', 'tp_nn')}, 0.0 FROM o
    UNION ALL
    SELECT 'orders', 'min_rows', '', CAST(n AS DOUBLE), 1.0 FROM o
    UNION ALL
    SELECT 'orders', 'foreign_key(o_custkey->c_custkey)', 'o_custkey',
           {_dq_frac('orphans', 'n')}, 0.0 FROM ofk
    UNION ALL
    SELECT 'lineitem', 'in_range(l_quantity,1.0,50.0)', 'l_quantity',
           {_dq_frac('q_bad', 'q_nn')}, 0.0 FROM l
    UNION ALL
    SELECT 'lineitem', 'in_set(l_returnflag)', 'l_returnflag',
           {_dq_frac('rf_bad', 'rf_nn')}, 0.0 FROM l
    UNION ALL
    SELECT 'lineitem', 'foreign_key(l_orderkey->o_orderkey)',
           'l_orderkey', {_dq_frac('orphans', 'n')}, 0.0 FROM lfk
    UNION ALL
    SELECT 'documents', 'unique(doc_id)', 'doc_id',
           {_dq_frac('id_nn - id_d', 'id_nn')}, 0.0 FROM d
    UNION ALL
    SELECT 'documents', 'matches(lang)', 'lang',
           {_dq_frac('lg_bad', 'lg_nn')}, 0.0 FROM d
    UNION ALL
    SELECT 'documents', 'not_null(text)', 'text',
           {_dq_frac('tx_null', 'n')}, 0.0 FROM d
    UNION ALL
    SELECT 'events', 'not_null(user_id)', 'user_id',
           {_dq_frac('uid_null', 'n')}, 0.0 FROM e
    UNION ALL
    SELECT 'events', 'in_set(event_type)', 'event_type',
           {_dq_frac('et_bad', 'et_nn')}, 0.0 FROM e
)
SELECT "table", "check", "column", metric, threshold,
       CASE WHEN "check" = 'min_rows' THEN metric >= threshold
            ELSE metric <= threshold END AS passed,
       'error' AS severity
FROM rows_out
"""

# Spark side: streaming/queries.py sq13_contract_hourly — per-hour
# contract-violation fractions with a pass verdict. Single-batch drain
# semantics: 1h tumbling window == date_trunc('hour', ts), the 2h
# watermark drops nothing, denominators are per-window counts (>= 1 by
# construction). Same round(x*1e6)/1e6 contract as the batch suite.
ORACLE_EXT["sq13_contract_hourly"] = """
WITH w AS (
    SELECT date_trunc('hour', ts) AS ws,
           count(*) AS n_events,
           sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS nu,
           sum(CASE WHEN event_type IS NOT NULL
                    AND event_type NOT IN ('click', 'error', 'purchase',
                                           'signup', 'view')
                    THEN 1 ELSE 0 END) AS bt,
           sum(CASE WHEN value > 200.0 THEN 1 ELSE 0 END) AS hi
    FROM events WHERE ts IS NOT NULL GROUP BY 1
),
f AS (
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           n_events,
           round(CAST(nu AS DOUBLE) / n_events * 1000000) / 1000000.0
               AS null_user_frac,
           round(CAST(bt AS DOUBLE) / n_events * 1000000) / 1000000.0
               AS bad_type_frac,
           round(CAST(hi AS DOUBLE) / n_events * 1000000) / 1000000.0
               AS outlier_frac
    FROM w
)
SELECT window_start, CAST(n_events AS BIGINT) AS n_events,
       null_user_frac, bad_type_frac, outlier_frac,
       (null_user_frac <= 0.0 AND bad_type_frac <= 0.0
        AND outlier_frac <= 0.05) AS passed
FROM f
"""

# Decimal log-linear histogram sketch (operators/sketches.py
# value_histogram / histogram_percentiles): the bucket assignment is
# pure BIGINT/string arithmetic — abs-cents digit count picks the
# decade (10^m via '1' || repeat('0', m), never float pow), the bucket
# lower bound is a - a % 10^m, negatives mirror to -(lo + 10^m) — and
# the percentile rule is integer cross-multiplication (cum*100 >=
# P*total), so DuckDB reproduces the whole sketch bit-for-bit.
ORACLE_EXT["sketch_value_percentiles"] = """
WITH c AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
    FROM events WHERE value IS NOT NULL
),
pwed AS (
    SELECT event_type, cents,
           CAST('1' || repeat('0', greatest(
                length(CAST(abs(cents) AS VARCHAR)) - 2, 0)) AS BIGINT)
               AS pw,
           abs(cents) - abs(cents) % CAST('1' || repeat('0', greatest(
                length(CAST(abs(cents) AS VARCHAR)) - 2, 0)) AS BIGINT)
               AS lo
    FROM c
),
b AS (
    SELECT event_type,
           CASE WHEN cents > 999999999999999999
                    THEN 1000000000000000000
                WHEN cents < -999999999999999999
                    THEN -2000000000000000000
                WHEN cents = 0 THEN 0
                WHEN cents > 0 THEN lo
                ELSE -(lo + pw) END AS bucket_lo,
           count(*) AS cnt
    FROM pwed GROUP BY 1, 2
),
w AS (
    SELECT event_type, bucket_lo,
           sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket_lo
                          ROWS UNBOUNDED PRECEDING) AS cum,
           sum(cnt) OVER (PARTITION BY event_type) AS total
    FROM b
),
agg AS (
    SELECT event_type,
           CAST(max(total) AS BIGINT) AS n_values,
           CAST(min(CASE WHEN cum * 100 >= total * 50
                         THEN bucket_lo END) AS BIGINT) AS p50_cents,
           CAST(min(CASE WHEN cum * 100 >= total * 90
                         THEN bucket_lo END) AS BIGINT) AS p90_cents,
           CAST(min(CASE WHEN cum * 100 >= total * 99
                         THEN bucket_lo END) AS BIGINT) AS p99_cents
    FROM w GROUP BY 1
)
SELECT event_type, n_values, p50_cents, p90_cents, p99_cents,
       p50_cents / 100.0 AS p50, p90_cents / 100.0 AS p90,
       p99_cents / 100.0 AS p99
FROM agg
"""

# Streaming hourly quantile monitor (sq14): hour-bucket window
# equivalence (a drained tumbling window == GROUP BY date_trunc hour),
# then the identical decimal-bucket + integer-cross-multiplied
# percentile rule as sketch_value_percentiles.
ORACLE_EXT["sq14_value_percentiles_hourly"] = """
WITH c AS (
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
pwed AS (
    SELECT window_start, cents,
           CAST('1' || repeat('0', greatest(
                length(CAST(abs(cents) AS VARCHAR)) - 2, 0)) AS BIGINT)
               AS pw,
           abs(cents) - abs(cents) % CAST('1' || repeat('0', greatest(
                length(CAST(abs(cents) AS VARCHAR)) - 2, 0)) AS BIGINT)
               AS lo
    FROM c
),
b AS (
    SELECT window_start,
           CASE WHEN cents > 999999999999999999
                    THEN 1000000000000000000
                WHEN cents < -999999999999999999
                    THEN -2000000000000000000
                WHEN cents = 0 THEN 0
                WHEN cents > 0 THEN lo
                ELSE -(lo + pw) END AS bucket_lo,
           count(*) AS cnt
    FROM pwed GROUP BY 1, 2
),
w AS (
    SELECT window_start, bucket_lo,
           sum(cnt) OVER (PARTITION BY window_start ORDER BY bucket_lo
                          ROWS UNBOUNDED PRECEDING) AS cum,
           sum(cnt) OVER (PARTITION BY window_start) AS total
    FROM b
),
agg AS (
    SELECT window_start,
           CAST(max(total) AS BIGINT) AS n_values,
           CAST(min(CASE WHEN cum * 100 >= total * 50
                         THEN bucket_lo END) AS BIGINT) AS p50_cents,
           CAST(min(CASE WHEN cum * 100 >= total * 90
                         THEN bucket_lo END) AS BIGINT) AS p90_cents,
           CAST(min(CASE WHEN cum * 100 >= total * 99
                         THEN bucket_lo END) AS BIGINT) AS p99_cents
    FROM w GROUP BY 1
)
SELECT window_start, n_values, p50_cents, p90_cents, p99_cents,
       p50_cents / 100.0 AS p50, p90_cents / 100.0 AS p90,
       p99_cents / 100.0 AS p99
FROM agg
"""

# Join fan-out report: per-key left x right products over the two
# count tables, totals from one aggregate, top-k with cumulative share.
ORACLE_EXT["join_fanout_report"] = """
WITH lc AS (
    SELECT l_partkey AS key, count(*) AS n_left
    FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1
),
rc AS (
    SELECT l_partkey AS key, count(*) AS n_right
    FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1
),
both_sides AS (
    SELECT lc.key, n_left, n_right,
           CAST(n_left * n_right AS BIGINT) AS out_rows
    FROM lc JOIN rc ON lc.key = rc.key
),
ranked AS (
    SELECT key, n_left, n_right, out_rows,
           row_number() OVER (ORDER BY out_rows DESC, key) AS rank,
           sum(out_rows) OVER (ORDER BY out_rows DESC, key
                               ROWS UNBOUNDED PRECEDING) AS cum_rows,
           sum(out_rows) OVER () AS total
    FROM both_sides
)
SELECT CAST(rank AS INT) AS rank, key,
       CAST(n_left AS BIGINT) AS n_left,
       CAST(n_right AS BIGINT) AS n_right, out_rows,
       round(out_rows / total * 1000000) / 1000000.0 AS share,
       round(cum_rows / total * 1000000) / 1000000.0 AS cum_share,
       CAST(total AS BIGINT) AS total_out_rows
FROM ranked WHERE rank <= 10
"""

# S11 collector: the oracle REGENERATES the synthetic pages in pure SQL
# via the engine's single cross-engine hash contract (md5-slice,
# plans/base.py md5_slice_long) — hashlib writes the page files, DuckDB
# reproduces the identical rows from range() + md5, so the comparison
# proves the DataSource fetch/parse/project path end-to-end without a
# file ever crossing engines. Types array is 1-indexed in DuckDB.
ORACLE_EXT["http_collect_rollup"] = """
WITH idx AS (
    SELECT p.range AS p, i.range AS i
    FROM range(0, 24) p CROSS JOIN range(0, 500) i
),
r AS (
    SELECT p * 500 + i AS event_id,
           ('0x' || substr(md5('u|' || p || '|' || i), 1, 8))::BIGINT
               % 1000 AS user_id,
           ['click', 'error', 'purchase', 'signup', 'view']
               [('0x' || substr(md5('t|' || p || '|' || i), 1, 8))::BIGINT
                % 5 + 1] AS event_type,
           ('0x' || substr(md5('v|' || p || '|' || i), 1, 8))::BIGINT
               % 100000 AS cents
    FROM idx
)
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(cents) AS BIGINT) / 100.0 AS value_sum,
       CAST(sum(cents % 100) AS BIGINT) AS k_sum,
       count(DISTINCT user_id) AS n_users,
       min(event_id) AS first_event,
       max(event_id) AS last_event
FROM r GROUP BY event_type
"""
