"""DuckDB oracle SQL for the training-data pipeline operators
(dedup, text analysis, embedding similarity).

Dialect shims: DuckDB regexp_replace needs the 'g' flag to replace all
matches (Spark always does); list indexing is 1-based; len()/count()
return BIGINT (cast where Spark yields INT); range(a, b) is
exclusive-stop and empty when b <= a.
"""

from __future__ import annotations

ORACLE_TEXT: dict[str, str] = {}

# Every DuckDB trim/rtrim in the oracle SQL carries an EXPLICIT ' '
# charset: DuckDB's default trim strips Unicode Zs (NBSP, ideographic
# space, ...) while Spark's F.trim strips ASCII 0x20 only — a
# NBSP-edged document tokenized differently between engines until the
# r10 adversarial property suite caught it (tests/
# test_regex_parity_properties.py).
# Case folding is ASCII-only translate, NOT lower(): DuckDB's utf8proc
# lower() does simple 1:1 mapping while Spark's Java toLowerCase applies
# contextual/multi-codepoint rules (final sigma, Turkish İ) — see
# functions/text.py lower_ascii (r10 property-suite finding)
_LOWER_ASCII = ("translate({}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', "
                "'abcdefghijklmnopqrstuvwxyz')")
_CANON = r"regexp_replace(trim(text, ' '), '\s+', ' ', 'g')"
_FP = "md5(" + _LOWER_ASCII.format(_CANON) + ")"

ORACLE_TEXT["dedup_exact"] = f"""
SELECT {_FP} AS fp, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""

_SHINGLES = r"""
    SELECT doc_id AS doc,
           list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
    FROM (SELECT doc_id, regexp_split_to_array(trim(text, ' '), '\s+') AS toks
          FROM documents)
"""

ORACLE_TEXT["jaccard_pairs"] = f"""
WITH sh AS ({_SHINGLES}),
nonempty AS (SELECT doc, shingles FROM sh WHERE len(shingles) > 0),
sz AS (SELECT doc, len(shingles) AS n_sh FROM nonempty),
post AS (SELECT doc, unnest(shingles) AS s FROM nonempty),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_inter
    FROM post a JOIN post b ON a.s = b.s AND a.doc < b.doc
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter,
       CAST(sa.n_sh AS INT) AS n_a, CAST(sb.n_sh AS INT) AS n_b,
       round(n_inter / (sa.n_sh + sb.n_sh - n_inter) * 1000000) / 1000000.0 AS jaccard
FROM inter
JOIN sz sa ON sa.doc = doc_a
JOIN sz sb ON sb.doc = doc_b
WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.3
"""

_STOPLIST = "('the','a','of','and','is','in','to')"

ORACLE_TEXT["text_quality"] = rf"""
WITH t AS (
    SELECT doc_id, text,
           regexp_split_to_array(trim(text, ' '), '\s+') AS toks
    FROM documents
),
m AS (
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_filter(toks, x -> x IN {_STOPLIST})) AS INT) AS n_stop
    FROM t
)
SELECT doc_id, n_chars, n_tokens, n_stop,
       round(n_stop / n_tokens * 1000000) / 1000000.0 AS stopword_ratio,
       round((least(n_tokens, 500) / 500.0 + n_stop / n_tokens) / 2 * 1000000) / 1000000.0
           AS quality_score
FROM m
"""

_LANG_COUNTS = r"""
    SELECT doc_id,
           CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS INT) AS s_en,
           CAST(len(list_filter(toks, x -> x IN ('la','el','de','y','es'))) AS INT) AS s_es,
           CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS INT) AS s_de,
           CAST(len(list_filter(toks, x -> x IN ('le','la','de','et','est'))) AS INT) AS s_fr,
           CAST(len(list_filter(toks, x -> x IN ('的','是','了','在','和'))) AS INT) AS s_zh
    FROM (SELECT doc_id, regexp_split_to_array(trim(text, ' '), '\s+') AS toks
          FROM documents)
"""

ORACLE_TEXT["lang_id"] = f"""
WITH c AS ({_LANG_COUNTS}),
b AS (SELECT *, greatest(s_en, s_es, s_de, s_fr, s_zh) AS best FROM c)
SELECT doc_id,
       CASE WHEN s_en = best AND best > 0 THEN 'en'
            WHEN s_es = best AND best > 0 THEN 'es'
            WHEN s_de = best AND best > 0 THEN 'de'
            WHEN s_fr = best AND best > 0 THEN 'fr'
            WHEN s_zh = best AND best > 0 THEN 'zh'
            ELSE 'und' END AS lang_pred
FROM b
"""

ORACLE_TEXT["doc_fingerprint"] = f"""
SELECT doc_id, {_FP} AS fp FROM documents
"""

# Single-scan merge of text_quality + lang_id + doc_fingerprint — one
# pass over the corpus computes the full per-document profile (the three
# originals remain registered individually; this is the driver-checked
# superset entry).
ORACLE_TEXT["text_profile"] = rf"""
WITH t AS (
    SELECT doc_id, text,
           regexp_split_to_array(trim(text, ' '), '\s+') AS toks
    FROM documents
),
m AS (
    SELECT doc_id, text,
           CAST(length(text) AS INT) AS n_chars,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_filter(toks, x -> x IN {_STOPLIST})) AS INT) AS n_stop,
           CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS INT) AS s_en,
           CAST(len(list_filter(toks, x -> x IN ('la','el','de','y','es'))) AS INT) AS s_es,
           CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS INT) AS s_de,
           CAST(len(list_filter(toks, x -> x IN ('le','la','de','et','est'))) AS INT) AS s_fr,
           CAST(len(list_filter(toks, x -> x IN ('的','是','了','在','和'))) AS INT) AS s_zh
    FROM t
),
b AS (SELECT *, greatest(s_en, s_es, s_de, s_fr, s_zh) AS best FROM m)
SELECT doc_id, n_chars, n_tokens, n_stop,
       round(n_stop / n_tokens * 1000000) / 1000000.0 AS stopword_ratio,
       round((least(n_tokens, 500) / 500.0 + n_stop / n_tokens) / 2 * 1000000) / 1000000.0
           AS quality_score,
       CASE WHEN s_en = best AND best > 0 THEN 'en'
            WHEN s_es = best AND best > 0 THEN 'es'
            WHEN s_de = best AND best > 0 THEN 'de'
            WHEN s_fr = best AND best > 0 THEN 'fr'
            WHEN s_zh = best AND best > 0 THEN 'zh'
            ELSE 'und' END AS lang_pred,
       {_FP} AS fp
FROM b
"""

ORACLE_TEXT["media_features"] = """
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS media_type,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       substring(hex(encode(text)), 1, 16) AS head_hex,
       md5(text) AS digest
FROM documents
"""

ORACLE_TEXT["embedding_stats"] = """
SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
       round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) * 1000000) / 1000000.0
           AS norm_l2
FROM embeddings
"""

ORACLE_TEXT["cosine_dup_pairs"] = """
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.e, b.e)
             / sqrt(list_dot_product(a.e, a.e))
             / sqrt(list_dot_product(b.e, b.e)) * 1000000) / 1000000.0
           AS cos_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e)
      / sqrt(list_dot_product(a.e, a.e))
      / sqrt(list_dot_product(b.e, b.e)) >= 0.45
"""

ORACLE_TEXT["cosine_topk"] = """
WITH q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
    FROM embeddings WHERE vec_id < 10
),
c AS (
    SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
    FROM embeddings
),
s AS (
    SELECT query_id, neighbor_id,
           round(list_dot_product(qv, cv)
                 / sqrt(list_dot_product(qv, qv))
                 / sqrt(list_dot_product(cv, cv)) * 1000000) / 1000000.0 AS cos_sim
    FROM c CROSS JOIN q
    WHERE neighbor_id <> query_id
),
r AS (
    SELECT *, CAST(rank() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rnk
    FROM s
)
SELECT query_id, neighbor_id, cos_sim, rnk FROM r WHERE rnk <= 5
"""

# ivf_topk with n_probe >= n_centroids probes every cell, so its output
# EQUALS brute-force cosine_topk (operators/similarity.py ivf_topk
# docstring + unit test) — the full-probe registry entry shares the
# brute-force oracle and earns the IVF machinery a hash row.
ORACLE_TEXT["ivf_topk_full_probe"] = ORACLE_TEXT["cosine_topk"]


# Spark side: operators/similarity.py ivf_topk (registry defaults:
# k=5, n_queries=10, n_probe=4, kc=floor(sqrt(N)), 2 Lloyd iterations).
# Oracle-paired since r8: the quantizer is deterministic exact-integer
# training (ivf_centroids) — micro-unit vectors, farthest-point
# seeding from the md5-rank-smallest id (sequential by nature, so a
# RECURSIVE CTE replays it one selection per level, the
# packing_best_fit_bins pattern), exact BIGINT squared distances with
# lower-cell ties, centroid = integer round-half-away-from-zero of
# sum/count (no IEEE quotient anywhere) — so this SQL replays the
# ENTIRE training, the full-corpus assignment, the probe ranking and
# the final exact-cosine top-k bit-identically. The md5 sample gate
# mirrors ivf_topk's n > 2*40*kc rule (never fires at fixture scale;
# the WHERE keeps the contract honest anyway). Lloyd's empty-cell drop
# keeps the original cell ids here where numpy compacts them — only
# the RELATIVE order ever matters (tie-breaks and rank), and
# compaction preserves it.
def _ivf_sql(k: int = 5, n_queries: int = 10, n_probe: int = 4,
             iters: int = 2) -> str:
    d2 = ("list_sum(list_transform(range(1, len({v}) + 1), "
          "d -> ({v}[d] - {c}[d]) * ({v}[d] - {c}[d])))")
    parts = [rf"""
WITH RECURSIVE p AS (
    SELECT count(*) AS n,
           CAST(greatest(2, floor(sqrt(count(*)))) AS BIGINT) AS kc
    FROM embeddings
),
pp AS (SELECT n, kc, greatest(2, n // (40 * kc)) AS denom,
              (n > 2 * 40 * kc) AS sampled FROM p),
ei AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(round(x * 1000000) AS BIGINT)) AS v
    FROM embeddings
),
train AS (
    SELECT ei.vec_id, ei.v FROM ei, pp
    WHERE NOT pp.sampled
       OR ('0x' || substr(md5(CAST(ei.vec_id AS VARCHAR)), 1, 8))::BIGINT
          % pp.denom = 0
),
fsel(lvl, ids) AS (
    SELECT 1, [(SELECT vec_id FROM train
                ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                          || '|ivfseed'), 1, 8))::BIGINT, vec_id
                LIMIT 1)]
    UNION ALL
    SELECT f.lvl + 1, list_append(f.ids, (
        SELECT vec_id FROM (
            SELECT s.vec_id,
                   (SELECT min({d2.format(v='s.v', c='t.v')})
                    FROM train t
                    WHERE list_contains(f.ids, t.vec_id)) AS md
            FROM train s WHERE NOT list_contains(f.ids, s.vec_id))
        ORDER BY md DESC, vec_id LIMIT 1))
    FROM fsel f, pp
    WHERE f.lvl < least(pp.kc, (SELECT count(*) FROM train))
),
ford AS (SELECT ids FROM fsel ORDER BY lvl DESC LIMIT 1),
fx AS (SELECT unnest(list_transform(range(1, len(ids) + 1),
              i -> {{'i': i, 'sid': ids[i]}}), recursive := true)
       FROM ford),
c0 AS (
    SELECT CAST(fx.i - 1 AS INT) AS cell, t.v AS c
    FROM fx JOIN train t ON t.vec_id = fx.sid
)"""]
    mean_cv = ("CAST(CASE WHEN sum(val) >= 0 "
               "THEN (2 * sum(val) + count(*)) // (2 * count(*)) "
               "ELSE -((-2 * sum(val) + count(*)) // (2 * count(*))) "
               "END AS BIGINT)")
    for i in range(1, iters + 1):
        parts.append(f""",
a{i} AS (
    SELECT t.vec_id, t.v, c.cell,
           {d2.format(v='t.v', c='c.c')} AS d2
    FROM train t CROSS JOIN c{i - 1} c
),
b{i} AS (
    SELECT vec_id, v, cell FROM a{i}
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2, cell) = 1
),
c{i} AS (
    SELECT cell, list(cv ORDER BY d) AS c FROM (
        SELECT cell, d, {mean_cv} AS cv
        FROM (SELECT cell,
                     unnest(list_transform(range(1, len(v) + 1),
                            d -> {{'d': d, 'val': v[d]}}),
                            recursive := true)
              FROM b{i})
        GROUP BY cell, d)
    GROUP BY cell
)""")
    parts.append(f""",
af AS (
    SELECT ei.vec_id, ei.e, c.cell,
           {d2.format(v='ei.v', c='c.c')} AS d2
    FROM ei CROSS JOIN c{iters} c
),
asn AS (
    SELECT vec_id, e, cell FROM af
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2, cell) = 1
),
q AS (SELECT vec_id AS query_id, e AS qe, v AS qv FROM ei
      WHERE vec_id < {n_queries}),
pq AS (
    SELECT q.query_id, q.qe, c.cell,
           {d2.format(v='q.qv', c='c.c')} AS d2
    FROM q CROSS JOIN c{iters} c
),
probes AS (
    SELECT query_id, qe, cell FROM pq
    QUALIFY rank() OVER (PARTITION BY query_id
                         ORDER BY d2, cell) <= {n_probe}
),
s AS (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           round(list_dot_product(p.qe, a.e)
                 / sqrt(list_dot_product(p.qe, p.qe))
                 / sqrt(list_dot_product(a.e, a.e)) * 1000000)
               / 1000000.0 AS cos_sim
    FROM probes p JOIN asn a USING (cell)
    WHERE a.vec_id <> p.query_id
),
r AS (
    SELECT *, CAST(rank() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id)
                   AS INT) AS rnk
    FROM s
)
SELECT query_id, neighbor_id, cos_sim, rnk FROM r WHERE rnk <= {k}
""")
    return "".join(parts)


ORACLE_TEXT["ivf_topk"] = _ivf_sql()


# Spark side: operators/similarity.py pq_rerank_topk (registry
# defaults: k=5, n_queries=10, m=8, k_codes=16, shortlist=50, 2 Lloyd
# iterations). The _ivf_sql training replay extended per SUBSPACE: the
# farthest-point seeding recursion carries ``sub`` as a data dimension
# (one recursive CTE, 8 rows per level, each advancing its own
# subspace's chosen set — seed 1 is the same md5-rank-smallest id for
# every subspace because the seeding hash is on the id, exactly like
# the numpy loop slicing one collected sample), the Lloyd CTEs group by
# (sub, code), corpus encoding is the per-(vec_id, sub) integer argmin
# with lower-code ties, ADC sums the queries' per-(sub, code) exact
# integer partials, rank keeps shortlist ties, and the final exact
# cosine rerank over ORIGINAL double vectors copies cosine_topk's
# formula verbatim. Empty-code drops: numpy compacts labels, this SQL
# keeps originals — relabeling is order-preserving and both the
# tie-breaks and the enc↔lut joins are within-engine, so outputs match.
def _pq_sql(k: int = 5, n_queries: int = 10, m: int = 8,
            k_codes: int = 16, shortlist: int = 50, iters: int = 2) -> str:
    d2 = ("list_sum(list_transform(range(1, len({v}) + 1), "
          "d -> ({v}[d] - {c}[d]) * ({v}[d] - {c}[d])))")
    target = 40 * k_codes
    parts = [rf"""
WITH RECURSIVE p AS (SELECT count(*) AS n FROM embeddings),
pp AS (SELECT n, greatest(2, n // {target}) AS denom,
              (n > {2 * target}) AS sampled FROM p),
ei AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(round(x * 1000000) AS BIGINT)) AS v
    FROM embeddings
),
dims AS (SELECT CAST(max(len(v)) // {m} AS INT) AS ds FROM ei),
train AS (
    SELECT ei.vec_id, ei.v FROM ei, pp
    WHERE NOT pp.sampled
       OR ('0x' || substr(md5(CAST(ei.vec_id AS VARCHAR)), 1, 8))::BIGINT
          % pp.denom = 0
),
subs AS (SELECT CAST(s AS INT) AS sub FROM range({m}) r(s)),
tsub AS (
    SELECT s.sub, t.vec_id,
           list_slice(t.v, s.sub * d.ds + 1, s.sub * d.ds + d.ds) AS v
    FROM train t CROSS JOIN subs s CROSS JOIN dims d
),
fsel(lvl, sub, ids) AS (
    SELECT 1, s.sub, [(SELECT vec_id FROM train
                ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                          || '|ivfseed'), 1, 8))::BIGINT, vec_id
                LIMIT 1)]
    FROM subs s
    UNION ALL
    SELECT f.lvl + 1, f.sub, list_append(f.ids, (
        SELECT vec_id FROM (
            SELECT s.vec_id,
                   (SELECT min({d2.format(v='s.v', c='t.v')})
                    FROM tsub t
                    WHERE t.sub = f.sub
                      AND list_contains(f.ids, t.vec_id)) AS md
            FROM tsub s WHERE s.sub = f.sub
              AND NOT list_contains(f.ids, s.vec_id))
        ORDER BY md DESC, vec_id LIMIT 1))
    FROM fsel f
    WHERE f.lvl < least({k_codes}, (SELECT count(*) FROM train))
),
ford AS (SELECT sub, ids FROM fsel
         QUALIFY row_number() OVER (PARTITION BY sub
                                    ORDER BY lvl DESC) = 1),
fx AS (SELECT sub, unnest(list_transform(range(1, len(ids) + 1),
              i -> {{'i': i, 'sid': ids[i]}}), recursive := true)
       FROM ford),
c0 AS (
    SELECT fx.sub, CAST(fx.i - 1 AS INT) AS code, t.v AS c
    FROM fx JOIN tsub t ON t.vec_id = fx.sid AND t.sub = fx.sub
)"""]
    mean_cv = ("CAST(CASE WHEN sum(val) >= 0 "
               "THEN (2 * sum(val) + count(*)) // (2 * count(*)) "
               "ELSE -((-2 * sum(val) + count(*)) // (2 * count(*))) "
               "END AS BIGINT)")
    for i in range(1, iters + 1):
        parts.append(f""",
a{i} AS (
    SELECT t.sub, t.vec_id, t.v, c.code,
           {d2.format(v='t.v', c='c.c')} AS d2
    FROM tsub t JOIN c{i - 1} c ON c.sub = t.sub
),
b{i} AS (
    SELECT sub, vec_id, v, code FROM a{i}
    QUALIFY row_number() OVER (PARTITION BY sub, vec_id
                               ORDER BY d2, code) = 1
),
c{i} AS (
    SELECT sub, code, list(cv ORDER BY d) AS c FROM (
        SELECT sub, code, d, {mean_cv} AS cv
        FROM (SELECT sub, code,
                     unnest(list_transform(range(1, len(v) + 1),
                            d -> {{'d': d, 'val': v[d]}}),
                            recursive := true)
              FROM b{i})
        GROUP BY sub, code, d)
    GROUP BY sub, code
)""")
    parts.append(f""",
esub AS (
    SELECT s.sub, ei.vec_id,
           list_slice(ei.v, s.sub * d.ds + 1, s.sub * d.ds + d.ds) AS v
    FROM ei CROSS JOIN subs s CROSS JOIN dims d
),
enc AS (
    SELECT sub, vec_id, code FROM (
        SELECT t.sub, t.vec_id, c.code,
               {d2.format(v='t.v', c='c.c')} AS d2
        FROM esub t JOIN c{iters} c ON c.sub = t.sub)
    QUALIFY row_number() OVER (PARTITION BY sub, vec_id
                               ORDER BY d2, code) = 1
),
lut AS (
    SELECT t.vec_id AS query_id, t.sub, c.code,
           {d2.format(v='t.v', c='c.c')} AS d_part
    FROM esub t JOIN c{iters} c ON c.sub = t.sub
    WHERE t.vec_id < {n_queries}
),
sc AS (
    SELECT l.query_id, e.vec_id AS neighbor_id,
           sum(l.d_part) AS approx_dist
    FROM enc e JOIN lut l ON l.sub = e.sub AND l.code = e.code
    WHERE e.vec_id <> l.query_id
    GROUP BY 1, 2
),
short AS (
    SELECT query_id, neighbor_id FROM sc
    QUALIFY rank() OVER (PARTITION BY query_id
                         ORDER BY approx_dist, neighbor_id) <= {shortlist}
),
rr AS (
    SELECT sh.query_id, sh.neighbor_id,
           round(list_dot_product(q.e, n.e)
                 / sqrt(list_dot_product(q.e, q.e))
                 / sqrt(list_dot_product(n.e, n.e)) * 1000000)
               / 1000000.0 AS cos_sim
    FROM short sh
    JOIN ei q ON q.vec_id = sh.query_id
    JOIN ei n ON n.vec_id = sh.neighbor_id
),
r AS (
    SELECT *, CAST(rank() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id)
                   AS INT) AS rnk
    FROM rr
)
SELECT query_id, neighbor_id, cos_sim, rnk FROM r WHERE rnk <= {k}
""")
    return "".join(parts)


# shortlist=100 matches the registry entry (recall 0.86 vs 0.62 at 50
# on the fixture; constant cost in corpus size)
ORACLE_TEXT["pq_rerank_topk"] = _pq_sql(shortlist=100)


# Spark side: operators/similarity.py ivfpq_rerank_topk (registry
# defaults: k=5, n_queries=10, n_probe=4, kc=floor(sqrt(N)), m=8,
# k_codes=16, shortlist=50, 2 Lloyd iterations). _ivf_sql's cell
# training and _pq_sql's per-subspace codebook training COMPOSED in one
# WITH RECURSIVE (two independent seeding recursions, each with its own
# md5 sample gate), then the three FAISS stages: probe ranks cells by
# the quantizer's integer metric, the ADC scan scores only probed-cell
# members' (sub, code) triples against the per-query exact-BIGINT LUT,
# and exact cosine (cosine_topk's formula verbatim) reranks the
# shortlist. PQ codes are over the RAW vectors (non-residual);
# build_ivfpq_index persists exactly these cells and codes, so
# query_ivfpq_index over it returns this twin's rows.
def _ivfpq_sql(k: int = 5, n_queries: int = 10, n_probe: int = 4,
               m: int = 8, k_codes: int = 16, shortlist: int = 50,
               iters: int = 2) -> str:
    d2 = ("list_sum(list_transform(range(1, len({v}) + 1), "
          "d -> ({v}[d] - {c}[d]) * ({v}[d] - {c}[d])))")
    tq = 40 * k_codes
    parts = [rf"""
WITH RECURSIVE p AS (
    SELECT count(*) AS n,
           CAST(greatest(2, floor(sqrt(count(*)))) AS BIGINT) AS kc
    FROM embeddings
),
ppi AS (SELECT n, kc, greatest(2, n // (40 * kc)) AS denom,
               (n > 2 * 40 * kc) AS sampled FROM p),
ppq AS (SELECT n, greatest(2, n // {tq}) AS denom,
               (n > {2 * tq}) AS sampled FROM p),
ei AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(round(x * 1000000) AS BIGINT)) AS v
    FROM embeddings
),
dims AS (SELECT CAST(max(len(v)) // {m} AS INT) AS ds FROM ei),
traini AS (
    SELECT ei.vec_id, ei.v FROM ei, ppi
    WHERE NOT ppi.sampled
       OR ('0x' || substr(md5(CAST(ei.vec_id AS VARCHAR)), 1, 8))::BIGINT
          % ppi.denom = 0
),
trainq AS (
    SELECT ei.vec_id, ei.v FROM ei, ppq
    WHERE NOT ppq.sampled
       OR ('0x' || substr(md5(CAST(ei.vec_id AS VARCHAR)), 1, 8))::BIGINT
          % ppq.denom = 0
),
subs AS (SELECT CAST(s AS INT) AS sub FROM range({m}) r(s)),
tsub AS (
    SELECT s.sub, t.vec_id,
           list_slice(t.v, s.sub * d.ds + 1, s.sub * d.ds + d.ds) AS v
    FROM trainq t CROSS JOIN subs s CROSS JOIN dims d
),
fseli(lvl, ids) AS (
    SELECT 1, [(SELECT vec_id FROM traini
                ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                          || '|ivfseed'), 1, 8))::BIGINT, vec_id
                LIMIT 1)]
    UNION ALL
    SELECT f.lvl + 1, list_append(f.ids, (
        SELECT vec_id FROM (
            SELECT s.vec_id,
                   (SELECT min({d2.format(v='s.v', c='t.v')})
                    FROM traini t
                    WHERE list_contains(f.ids, t.vec_id)) AS md
            FROM traini s WHERE NOT list_contains(f.ids, s.vec_id))
        ORDER BY md DESC, vec_id LIMIT 1))
    FROM fseli f, ppi
    WHERE f.lvl < least(ppi.kc, (SELECT count(*) FROM traini))
),
fordi AS (SELECT ids FROM fseli ORDER BY lvl DESC LIMIT 1),
fxi AS (SELECT unnest(list_transform(range(1, len(ids) + 1),
               i -> {{'i': i, 'sid': ids[i]}}), recursive := true)
        FROM fordi),
ci0 AS (
    SELECT CAST(fxi.i - 1 AS INT) AS cell, t.v AS c
    FROM fxi JOIN traini t ON t.vec_id = fxi.sid
),
fselq(lvl, sub, ids) AS (
    SELECT 1, s.sub, [(SELECT vec_id FROM trainq
                ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                          || '|ivfseed'), 1, 8))::BIGINT, vec_id
                LIMIT 1)]
    FROM subs s
    UNION ALL
    SELECT f.lvl + 1, f.sub, list_append(f.ids, (
        SELECT vec_id FROM (
            SELECT s.vec_id,
                   (SELECT min({d2.format(v='s.v', c='t.v')})
                    FROM tsub t
                    WHERE t.sub = f.sub
                      AND list_contains(f.ids, t.vec_id)) AS md
            FROM tsub s WHERE s.sub = f.sub
              AND NOT list_contains(f.ids, s.vec_id))
        ORDER BY md DESC, vec_id LIMIT 1))
    FROM fselq f
    WHERE f.lvl < least({k_codes}, (SELECT count(*) FROM trainq))
),
fordq AS (SELECT sub, ids FROM fselq
          QUALIFY row_number() OVER (PARTITION BY sub
                                     ORDER BY lvl DESC) = 1),
fxq AS (SELECT sub, unnest(list_transform(range(1, len(ids) + 1),
               i -> {{'i': i, 'sid': ids[i]}}), recursive := true)
        FROM fordq),
cq0 AS (
    SELECT fxq.sub, CAST(fxq.i - 1 AS INT) AS code, t.v AS c
    FROM fxq JOIN tsub t ON t.vec_id = fxq.sid AND t.sub = fxq.sub
)"""]
    mean_cv = ("CAST(CASE WHEN sum(val) >= 0 "
               "THEN (2 * sum(val) + count(*)) // (2 * count(*)) "
               "ELSE -((-2 * sum(val) + count(*)) // (2 * count(*))) "
               "END AS BIGINT)")
    for i in range(1, iters + 1):
        parts.append(f""",
ia{i} AS (
    SELECT t.vec_id, t.v, c.cell,
           {d2.format(v='t.v', c='c.c')} AS d2
    FROM traini t CROSS JOIN ci{i - 1} c
),
ib{i} AS (
    SELECT vec_id, v, cell FROM ia{i}
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2, cell) = 1
),
ci{i} AS (
    SELECT cell, list(cv ORDER BY d) AS c FROM (
        SELECT cell, d, {mean_cv} AS cv
        FROM (SELECT cell,
                     unnest(list_transform(range(1, len(v) + 1),
                            d -> {{'d': d, 'val': v[d]}}),
                            recursive := true)
              FROM ib{i})
        GROUP BY cell, d)
    GROUP BY cell
),
qa{i} AS (
    SELECT t.sub, t.vec_id, t.v, c.code,
           {d2.format(v='t.v', c='c.c')} AS d2
    FROM tsub t JOIN cq{i - 1} c ON c.sub = t.sub
),
qb{i} AS (
    SELECT sub, vec_id, v, code FROM qa{i}
    QUALIFY row_number() OVER (PARTITION BY sub, vec_id
                               ORDER BY d2, code) = 1
),
cq{i} AS (
    SELECT sub, code, list(cv ORDER BY d) AS c FROM (
        SELECT sub, code, d, {mean_cv} AS cv
        FROM (SELECT sub, code,
                     unnest(list_transform(range(1, len(v) + 1),
                            d -> {{'d': d, 'val': v[d]}}),
                            recursive := true)
              FROM qb{i})
        GROUP BY sub, code, d)
    GROUP BY sub, code
)""")
    parts.append(f""",
asn AS (
    SELECT vec_id, cell FROM (
        SELECT ei.vec_id, c.cell,
               {d2.format(v='ei.v', c='c.c')} AS d2
        FROM ei CROSS JOIN ci{iters} c)
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2, cell) = 1
),
esub AS (
    SELECT s.sub, ei.vec_id,
           list_slice(ei.v, s.sub * d.ds + 1, s.sub * d.ds + d.ds) AS v
    FROM ei CROSS JOIN subs s CROSS JOIN dims d
),
enc AS (
    SELECT sub, vec_id, code FROM (
        SELECT t.sub, t.vec_id, c.code,
               {d2.format(v='t.v', c='c.c')} AS d2
        FROM esub t JOIN cq{iters} c ON c.sub = t.sub)
    QUALIFY row_number() OVER (PARTITION BY sub, vec_id
                               ORDER BY d2, code) = 1
),
probes AS (
    SELECT query_id, cell FROM (
        SELECT q.vec_id AS query_id, c.cell,
               {d2.format(v='q.v', c='c.c')} AS d2
        FROM ei q CROSS JOIN ci{iters} c
        WHERE q.vec_id < {n_queries})
    QUALIFY rank() OVER (PARTITION BY query_id
                         ORDER BY d2, cell) <= {n_probe}
),
lut AS (
    SELECT t.vec_id AS query_id, t.sub, c.code,
           {d2.format(v='t.v', c='c.c')} AS d_part
    FROM esub t JOIN cq{iters} c ON c.sub = t.sub
    WHERE t.vec_id < {n_queries}
),
sc AS (
    SELECT pr.query_id, e.vec_id AS neighbor_id,
           sum(l.d_part) AS approx_dist
    FROM enc e
    JOIN asn a ON a.vec_id = e.vec_id
    JOIN probes pr ON pr.cell = a.cell
    JOIN lut l ON l.query_id = pr.query_id
              AND l.sub = e.sub AND l.code = e.code
    WHERE e.vec_id <> pr.query_id
    GROUP BY 1, 2
),
short AS (
    SELECT query_id, neighbor_id FROM sc
    QUALIFY rank() OVER (PARTITION BY query_id
                         ORDER BY approx_dist, neighbor_id) <= {shortlist}
),
rr AS (
    SELECT sh.query_id, sh.neighbor_id,
           round(list_dot_product(q.e, n.e)
                 / sqrt(list_dot_product(q.e, q.e))
                 / sqrt(list_dot_product(n.e, n.e)) * 1000000)
               / 1000000.0 AS cos_sim
    FROM short sh
    JOIN ei q ON q.vec_id = sh.query_id
    JOIN ei n ON n.vec_id = sh.neighbor_id
),
r AS (
    SELECT *, CAST(rank() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id)
                   AS INT) AS rnk
    FROM rr
)
SELECT query_id, neighbor_id, cos_sim, rnk FROM r WHERE rnk <= {k}
""")
    return "".join(parts)


ORACLE_TEXT["ivfpq_rerank_topk"] = _ivfpq_sql()


# Spark side: operators/similarity.py semantic_dedup_report
# (registry: threshold 3/10, kc=floor(sqrt(N)), 2 Lloyd iterations,
# max_keep_refs=10000). _ivf_sql's training replay (same kc and sample
# gate), then the SemDeDup greedy as a second recursion: each cell
# advances one member per level in ascending vec_id order, and a member
# is DROPPED iff some already-kept member of its cell satisfies the
# exact-rational cosine test
#   dot > 0 AND den^2 * dot^2 >= num^2 * |x|^2 * |y|^2
# in HUGEINT (the python twin uses arbitrary-precision ints) — no float
# anywhere in the decision. Two label conventions reconciled: numpy
# compacts cell labels after every Lloyd empty-cell drop, the SQL keeps
# originals — one dense_rank relabel at the end is identical because
# compaction is order-preserving. kept is capped to the first
# max_keep_refs keepers (list_slice), mirroring the reference-buffer
# cap.
def _semantic_dedup_sql(threshold_num: int = 9, threshold_den: int = 10,
                        iters: int = 2,
                        max_keep_refs: int = 10_000) -> str:
    d2 = ("list_sum(list_transform(range(1, len({v}) + 1), "
          "d -> ({v}[d] - {c}[d]) * ({v}[d] - {c}[d])))")
    tn2 = threshold_num * threshold_num
    td2 = threshold_den * threshold_den
    parts = [rf"""
WITH RECURSIVE p AS (
    SELECT count(*) AS n,
           CAST(greatest(2, floor(sqrt(count(*)))) AS BIGINT) AS kc
    FROM embeddings
),
pp AS (SELECT n, kc, greatest(2, n // (40 * kc)) AS denom,
              (n > 2 * 40 * kc) AS sampled FROM p),
ei AS MATERIALIZED (
    SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(round(x * 1000000) AS BIGINT)) AS v
    FROM embeddings
),
train AS MATERIALIZED (
    SELECT ei.vec_id, ei.v FROM ei, pp
    WHERE NOT pp.sampled
       OR ('0x' || substr(md5(CAST(ei.vec_id AS VARCHAR)), 1, 8))::BIGINT
          % pp.denom = 0
),
fsel(lvl, ids) AS (
    SELECT 1, [(SELECT vec_id FROM train
                ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                          || '|ivfseed'), 1, 8))::BIGINT, vec_id
                LIMIT 1)]
    UNION ALL
    SELECT f.lvl + 1, list_append(f.ids, (
        SELECT vec_id FROM (
            SELECT s.vec_id,
                   (SELECT min({d2.format(v='s.v', c='t.v')})
                    FROM train t
                    WHERE list_contains(f.ids, t.vec_id)) AS md
            FROM train s WHERE NOT list_contains(f.ids, s.vec_id))
        ORDER BY md DESC, vec_id LIMIT 1))
    FROM fsel f, pp
    WHERE f.lvl < least(pp.kc, (SELECT count(*) FROM train))
),
ford AS (SELECT ids FROM fsel ORDER BY lvl DESC LIMIT 1),
fx AS (SELECT unnest(list_transform(range(1, len(ids) + 1),
              i -> {{'i': i, 'sid': ids[i]}}), recursive := true)
       FROM ford),
c0 AS (
    SELECT CAST(fx.i - 1 AS INT) AS cell, t.v AS c
    FROM fx JOIN train t ON t.vec_id = fx.sid
)"""]
    mean_cv = ("CAST(CASE WHEN sum(val) >= 0 "
               "THEN (2 * sum(val) + count(*)) // (2 * count(*)) "
               "ELSE -((-2 * sum(val) + count(*)) // (2 * count(*))) "
               "END AS BIGINT)")
    for i in range(1, iters + 1):
        parts.append(f""",
a{i} AS (
    SELECT t.vec_id, t.v, c.cell,
           {d2.format(v='t.v', c='c.c')} AS d2
    FROM train t CROSS JOIN c{i - 1} c
),
b{i} AS (
    SELECT vec_id, v, cell FROM a{i}
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2, cell) = 1
),
c{i} AS (
    SELECT cell, list(cv ORDER BY d) AS c FROM (
        SELECT cell, d, {mean_cv} AS cv
        FROM (SELECT cell,
                     unnest(list_transform(range(1, len(v) + 1),
                            d -> {{'d': d, 'val': v[d]}}),
                            recursive := true)
              FROM b{i})
        GROUP BY cell, d)
    GROUP BY cell
)""")
    parts.append(f""",
cr AS (
    SELECT CAST(dense_rank() OVER (ORDER BY cell) - 1 AS INT) AS cell, c
    FROM c{iters}
),
mem AS MATERIALIZED (
    -- MATERIALIZED is load-bearing: DuckDB inlines plain CTEs into the
    -- recursive term, re-running the ENTIRE training pipeline once per
    -- recursion level (measured 37 s for a ~30-level greedy at 500
    -- vectors with zero conflict pairs; 0.1 s materialized)
    SELECT vec_id, v, cell,
           list_sum(list_transform(range(1, len(v) + 1),
                    d -> v[d] * v[d])) AS nsq,
           row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
    FROM (
        SELECT ei.vec_id, ei.v, c.cell,
               {d2.format(v='ei.v', c='c.c')} AS d2
        FROM ei CROSS JOIN cr c
        QUALIFY row_number() OVER (PARTITION BY ei.vec_id
                                   ORDER BY d2, c.cell) = 1)
),
prs AS MATERIALIZED (
    -- every within-cell ordered pair at/above the rational threshold,
    -- computed ONCE set-based (recomputing dots inside the recursion
    -- measured ~40 s at 500 vectors); dot via list_zip because DuckDB
    -- lambdas cannot capture correlated columns, but plain function
    -- args can — list_sum of the BIGINT products is HUGEINT, exact
    SELECT cell, i, j FROM (
        SELECT a.cell, a.vec_id AS i, b.vec_id AS j,
               a.nsq AS ni, b.nsq AS nj,
               list_sum(list_transform(list_zip(a.v, b.v),
                        z -> z[1] * z[2])) AS dot
        FROM mem a JOIN mem b
          ON b.cell = a.cell AND a.vec_id < b.vec_id)
    WHERE dot > 0
      AND CAST({td2} AS HUGEINT) * dot * dot
          >= CAST({tn2} AS HUGEINT) * (CAST(ni AS HUGEINT) * nj)
),
cfl AS MATERIALIZED (
    -- per-member list of its earlier in-cell conflicts, so the greedy
    -- recursion is PURE list expressions (a correlated EXISTS inside
    -- the recursive term silently stopped matching past ~1000 input
    -- rows on duckdb 1.0 — zero drops despite thousands of prs pairs,
    -- caught by the python cross-check; list_has_any has no subquery
    -- to mis-decorrelate)
    SELECT m.cell, m.vec_id, m.rn,
           coalesce(p.lst, CAST([] AS BIGINT[])) AS confl
    FROM mem m LEFT JOIN (SELECT cell, j, list(i) AS lst
                          FROM prs GROUP BY cell, j) p
      ON p.cell = m.cell AND p.j = m.vec_id
),
g(cell, rn, kept) AS (
    SELECT cell, CAST(0 AS BIGINT), CAST([] AS BIGINT[])
    FROM (SELECT DISTINCT cell FROM mem)
    UNION ALL
    SELECT g.cell, g.rn + 1,
           CASE WHEN list_has_any(
                    m.confl, list_slice(g.kept, 1, {max_keep_refs}))
           THEN g.kept
           ELSE list_append(g.kept, m.vec_id) END
    FROM g JOIN cfl m ON m.cell = g.cell AND m.rn = g.rn + 1
),
fin AS (
    SELECT cell, kept FROM g
    QUALIFY row_number() OVER (PARTITION BY cell ORDER BY rn DESC) = 1
),
rep AS (
    SELECT m.cell, count(*) AS n_vectors,
           CAST(sum(CASE WHEN list_contains(f.kept, m.vec_id)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_keepers,
           min(m.vec_id) AS first_id
    FROM mem m JOIN fin f ON f.cell = m.cell
    GROUP BY m.cell
)
SELECT cell, n_vectors, n_keepers, first_id,
       round((1 - n_keepers / CAST(n_vectors AS DOUBLE)) * 1000000)
           / 1000000.0 AS drop_frac
FROM rep
""")
    return "".join(parts)


# threshold 3/10 matches the registry entry: this synthetic corpus's
# cosines top out at ~0.6, so the SemDeDup-typical 0.9+ never fires a
# drop and the hash row would not exercise the greedy at all; at 3/10
# the scan drops ~28% of vectors at every SF. The rational threshold
# is a knob, the greedy semantics are not.
ORACLE_TEXT["semantic_dedup_report"] = _semantic_dedup_sql(3, 10)

# Spark side: functions/text.py repetition_features — pure array exprs.
# DuckDB lists are 1-based (Spark subscripts 0-based; both build the same
# trigram strings); integer-count divisions keep ratios bit-identical.
ORACLE_TEXT["doc_repetition"] = r"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(trim(text, ' '), '\s+') AS toks
    FROM documents
),
g AS (
    SELECT doc_id, toks,
           CASE WHEN len(toks) >= 3 THEN
               list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
           ELSE [] END AS tri
    FROM t
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INT) AS n_unique_tokens,
       CAST(len(tri) AS INT) AS n_trigrams,
       CAST(len(list_distinct(tri)) AS INT) AS n_unique_trigrams,
       round((CASE WHEN len(toks) > 0
              THEN 1.0 - len(list_distinct(toks)) / len(toks)
              ELSE 0.0 END) * 1000000) / 1000000.0 AS dup_token_ratio,
       round((CASE WHEN len(tri) > 0
              THEN 1.0 - len(list_distinct(tri)) / len(tri)
              ELSE 0.0 END) * 1000000) / 1000000.0 AS dup_trigram_ratio
FROM g
"""

# Spark side: operators/vocab.py bpe_merge_table (registry: 16 merges,
# min_pair_count=2). The oracle replays the identical deterministic
# iterations with a SINGLE-ROW recursive CTE: the whole vocabulary rides
# in one list-of-structs column, each recursion level computes the
# argmax pair via a LATERAL unnest + GROUP BY (pairs ride tab-joined
# for the count, but the tie-break ORDERs BY the split-out (l, r)
# columns — the same tuple order Spark's orderBy(l, r) applies, immune
# to symbols carrying sub-tab control characters), and
# the greedy left-to-right non-overlapping within-word merge is the
# doubled-space replace trick: double every separator, replace
# ' l  r ' -> ' lr ' (replace() scans left-to-right, and each match
# leaves the neighbouring single separators intact), then collapse.
ORACLE_TEXT["bpe_merge_table"] = r"""
WITH RECURSIVE uni AS (
    SELECT w, count(*) AS f
    FROM (SELECT unnest(regexp_split_to_array(trim(text, ' '), '\s+')) AS w
          FROM documents)
    WHERE w <> ''
    GROUP BY 1
),
st AS (
    SELECT 0 AS iter,
           list({'s': rtrim(regexp_replace(w, '(.)', '\1 ', 'g'), ' '),
                 'f': f}) AS words,
           CAST([] AS STRUCT(l VARCHAR, r VARCHAR, cnt BIGINT)[]) AS merges
    FROM uni
    UNION ALL
    SELECT st.iter + 1,
           list_transform(st.words, w -> {'s': trim(replace(replace(
               ' ' || replace(w.s, ' ', '  ') || ' ',
               ' ' || b.l || '  ' || b.r || ' ',
               ' ' || b.l || b.r || ' '), '  ', ' '), ' '), 'f': w.f}),
           list_append(st.merges, b)
    FROM st, LATERAL (
        SELECT {'l': split_part(bg, chr(9), 1),
                'r': split_part(bg, chr(9), 2), 'cnt': cnt} AS b
        FROM (
            SELECT bg, sum(f) AS cnt
            FROM (
                SELECT unnest(CASE WHEN len(t) >= 2 THEN
                        list_transform(range(1, len(t)),
                                       i -> t[i] || chr(9) || t[i+1])
                    ELSE [] END) AS bg, f
                FROM (SELECT string_split(w.s, ' ') AS t, w.f AS f
                      FROM unnest(st.words) AS u(w))
            ) GROUP BY bg
        ) ORDER BY cnt DESC, split_part(bg, chr(9), 1),
                   split_part(bg, chr(9), 2) LIMIT 1
    ) AS lat(b)
    WHERE st.iter < 16 AND b.cnt >= 2
),
final AS (
    SELECT merges FROM st
    WHERE iter = (SELECT max(iter) FROM st)
)
SELECT CAST(u.m['rank'] AS INT) AS rank,
       u.m.l AS "left", u.m.r AS "right",
       u.m.l || u.m.r AS merged,
       u.m.cnt AS pair_count
FROM final,
     unnest(list_transform(range(1, len(final.merges) + 1),
            k -> {'rank': k, 'l': final.merges[k].l,
                  'r': final.merges[k].r,
                  'cnt': final.merges[k].cnt})) AS u(m)
"""

# Spark side: functions/text.py token_entropy — a shuffle-free
# array_sort + aggregate fold computing H = ln(N) - sum(c ln c)/N. The
# oracle uses the classic unnest + GROUP BY counts; identical formula,
# both engines round to 6 decimals after all float math (the float sum
# runs over <= a few dozen O(1) terms, so cross-engine summation-order
# error ~1e-15 sits far from the 5e-7 rounding boundary).
ORACLE_TEXT["token_entropy"] = r"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(trim(text, ' '), '\s+') AS toks
    FROM documents
),
c AS (
    SELECT doc_id, tok, count(*) AS c
    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
    GROUP BY 1, 2
),
s AS (
    SELECT doc_id, sum(c * ln(c)) AS run_sum
    FROM c GROUP BY 1
)
SELECT t.doc_id,
       CAST(len(t.toks) AS INT) AS n_tokens,
       CAST(len(list_distinct(t.toks)) AS INT) AS n_unique_tokens,
       round((CASE WHEN len(t.toks) > 0
              THEN ln(len(t.toks)) - s.run_sum / len(t.toks)
              ELSE 0.0 END) * 1000000) / 1000000.0 AS token_entropy,
       round((CASE WHEN len(list_distinct(t.toks)) > 1
              THEN (ln(len(t.toks)) - s.run_sum / len(t.toks))
                   / ln(len(list_distinct(t.toks)))
              ELSE 0.0 END) * 1000000) / 1000000.0 AS norm_entropy
FROM t LEFT JOIN s ON s.doc_id = t.doc_id
"""
# ^ a NULL-text doc has no unnested rows, so the LEFT join (not inner)
# keeps it with entropy 0.0 exactly as the Spark side does; the current
# testdata carries no NULL texts — shape-robustness only.

# Spark side: registry label_centroids — posexplode + groupBy(label, dim).
# unnest() calls zip in DuckDB, giving (value, 1-based ordinal) pairs.
ORACLE_TEXT["label_centroids"] = """
WITH e AS (
    SELECT label,
           unnest(embedding) AS v,
           unnest(range(1, len(embedding) + 1)) AS i
    FROM embeddings
)
SELECT label, CAST(i - 1 AS INT) AS dim,
       count(*) AS n_vectors,
       round(avg(v) * 1000000) / 1000000.0 AS mean_val
FROM e
GROUP BY 1, 2
"""

# Spark side: operators/dedup.py minhash_signatures / minhash_lsh_pairs
# (registry call: n=3, threshold=0.3, num_hashes=16, bands=8,
# max_bucket=500). The seeded-md5 slicing family
# h_{4j+t}(s) = int(md5(j||'|'||s)[8t:8t+8 hex]) is bit-identical here:
# ('0x'||substr(md5(..),..))::BIGINT is DuckDB's hex->int, matching
# Spark's conv(substring(md5(..),..),16,10). The banded candidate
# generation (with the <=500 hot-bucket cap) and the exact full-set
# Jaccard verification are both mirrored, so the LSH operator's OUTPUT
# is deterministic and hash-checkable even though its recall vs
# jaccard_pairs is < 1 by design.
def _minhash_sql(num_hashes: int = 16, bands: int = 8,
                 max_bucket: int = 500, threshold: float = 0.3) -> str:
    rows = num_hashes // bands

    def h(i: int) -> str:
        j, t = divmod(i, 4)
        return (f"('0x' || substr(md5('{j}|' || s), {1 + 8 * t}, 8))"
                "::BIGINT")

    mins = ",\n           ".join(
        f"min({h(i)}) AS mh_{i}" for i in range(num_hashes))
    keys = ",\n        ".join(
        "'{b}_' || {parts}".format(
            b=bi, parts=" || '_' || ".join(
                f"mh_{bi * rows + r}" for r in range(rows)))
        for bi in range(bands))
    return f"""
WITH sh AS ({_SHINGLES}),
nonempty AS (SELECT doc, shingles FROM sh WHERE len(shingles) > 0),
post AS (SELECT doc, unnest(shingles) AS s FROM nonempty),
sig AS (
    SELECT doc,
           {mins}
    FROM post GROUP BY doc
),
bands AS (
    SELECT doc, unnest([
        {keys}
    ]) AS band_key
    FROM sig
),
cold AS (SELECT band_key FROM bands GROUP BY 1
         HAVING count(*) <= {max_bucket}),
bk AS (SELECT doc, band_key FROM bands
       WHERE band_key IN (SELECT band_key FROM cold)),
cand AS (
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
    FROM bk a JOIN bk b ON a.band_key = b.band_key AND a.doc < b.doc
),
sz AS (SELECT doc, len(shingles) AS n_sh FROM nonempty),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_inter
    FROM post a JOIN post b ON a.s = b.s AND a.doc < b.doc
    GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       round(i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) * 1000000)
           / 1000000.0 AS jaccard
FROM cand c
JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN sz sa ON sa.doc = c.doc_a
JOIN sz sb ON sb.doc = c.doc_b
WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) >= {threshold}
"""


ORACLE_TEXT["minhash_lsh_pairs"] = _minhash_sql()


# Spark side: operators/dedup.py simhash64 / simhash_pairs (registry
# call: max_hamming=3, 4x16-bit bands). Token hash = first two 32-bit
# slices of md5 hex (same construction as _minhash_sql); per-bit
# conditional-sum votes, sign-packed into one BIGINT. Bit gymnastics
# proven equivalent to the JVM: DuckDB's >> on a negative BIGINT
# sign-extends exactly like Java's >> (the & 65535 mask makes both
# logical), bit 63 is the precomputed Long.MIN literal (1<<63 overflows
# DuckDB's checked shift), and bit_count/xor agree with
# java.lang.Long.bitCount / ^.
def _simhash_sql(max_hamming: int = 3) -> str:
    votes = ",\n           ".join(
        f"sum(CASE WHEN (h_{'lo' if b < 32 else 'hi'} >> {b % 32}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(64))
    packs = []
    for b in range(64):
        bit = ("(-9223372036854775807 - 1)" if b == 63
               else f"(1::BIGINT << {b})")
        packs.append(f"CASE WHEN v_{b} > 0 THEN {bit} ELSE 0::BIGINT END")
    pack = "\n             | ".join(packs)
    keys = ",\n        ".join(
        f"'{i}_' || ((simhash >> {i * 16}) & 65535)" for i in range(4))
    return rf"""
WITH toks AS (
    SELECT doc_id AS doc,
           unnest(regexp_split_to_array(trim(text, ' '), '\s+')) AS t
    FROM documents
),
h AS (
    SELECT doc,
           ('0x' || substr(md5(t), 1, 8))::BIGINT AS h_lo,
           ('0x' || substr(md5(t), 9, 8))::BIGINT AS h_hi
    FROM toks
),
votes AS (
    SELECT doc,
           {votes}
    FROM h GROUP BY doc
),
sig AS (
    SELECT doc,
           ({pack}) AS simhash
    FROM votes
),
bands AS (
    SELECT doc, simhash, unnest([
        {keys}
    ]) AS band_key
    FROM sig
),
pairs AS (
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
                    a.simhash AS sim_a, b.simhash AS sim_b
    FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc < b.doc
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM pairs
WHERE bit_count(xor(sim_a, sim_b)) <= {max_hamming}
"""


ORACLE_TEXT["simhash_pairs"] = _simhash_sql()


# Spark side: operators/similarity.py lsh_bucketed_topk (registry
# lsh_topk: k=5, n_queries=10, n_planes=8). The Rademacher plane signs
# are md5-derived per (plane, dim) entry, so DuckDB rebuilds the exact
# sign sketch; the multi-probe (exact bucket + all Hamming-1 flips),
# cosine scoring and rank window are all mirrored. Sign decisions use
# strict > 0 on a sum of products — float addition order differs
# between numpy matmul and list_sum, but a sign flip needs |proj|
# within accumulated ULP error (~1e-13 relative), vanishingly rare on
# real embeddings.
def _lsh_topk_sql(k: int = 5, n_queries: int = 10,
                  n_planes: int = 8) -> str:
    def proj(j: int) -> str:
        sign = (f"CASE WHEN (('0x' || substr(md5('{j}|' || (d - 1)), 1, 8))"
                "::BIGINT & 1) = 1 THEN 1.0 ELSE -1.0 END")
        return (f"list_sum(list_transform(range(1, len(e) + 1), "
                f"d -> e[d] * {sign}))")

    bucket = "\n             + ".join(
        f"CASE WHEN {proj(j)} > 0 THEN {1 << j} ELSE 0 END"
        for j in range(n_planes))
    flips = ", ".join(f"xor(bucket, {1 << j})" for j in range(n_planes))
    return f"""
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
b AS (
    SELECT vec_id, e,
           ({bucket}) AS bucket
    FROM v
),
probes AS (
    SELECT vec_id AS query_id,
           unnest([bucket, {flips}]) AS bucket
    FROM b WHERE vec_id < {n_queries}
),
cand AS (
    SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
    FROM probes p JOIN b c ON c.bucket = p.bucket
    WHERE c.vec_id <> p.query_id
),
s AS (
    SELECT query_id, neighbor_id,
           round(list_dot_product(q.e, c.e)
                 / sqrt(list_dot_product(q.e, q.e))
                 / sqrt(list_dot_product(c.e, c.e)) * 1000000)
               / 1000000.0 AS cos_sim
    FROM cand
    JOIN v q ON q.vec_id = cand.query_id
    JOIN v c ON c.vec_id = cand.neighbor_id
),
r AS (
    SELECT *, CAST(rank() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id)
                   AS INT) AS rnk
    FROM s
)
SELECT query_id, neighbor_id, cos_sim, rnk FROM r WHERE rnk <= {k}
"""


ORACLE_TEXT["lsh_topk"] = _lsh_topk_sql()

# Spark side: operators/dedup.py winnow_fingerprints / winnow_pairs.
# md5 hex strings compare lexicographically the same in both engines;
# DuckDB list slicing is 1-based inclusive (hs[i+1:i+w] = w elements).
ORACLE_TEXT["winnow_pairs"] = r"""
WITH t AS (
    SELECT doc_id AS doc, regexp_split_to_array(trim(text, ' '), '\s+') AS toks
    FROM documents
),
kg AS (
    SELECT doc,
           CASE WHEN len(toks) >= 3 THEN
               list_transform(range(1, len(toks) - 1),
                   i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
           ELSE [] END AS hs
    FROM t
),
fp AS (
    SELECT doc,
           CASE WHEN len(hs) >= 4 THEN
               list_distinct(list_transform(range(0, len(hs) - 3),
                   i -> list_min(hs[i+1:i+4])))
           WHEN len(hs) > 0 THEN [list_min(hs)]
           ELSE [] END AS fps
    FROM kg
),
post0 AS (SELECT doc, unnest(fps) AS fp_h FROM fp),
-- mirror the operator's max_df=1000 hot-fingerprint cap: boilerplate
-- fingerprints leave the sketch entirely (candidates, counts AND sizes)
hot AS (SELECT fp_h FROM post0 GROUP BY 1 HAVING count(*) > 1000),
post AS (SELECT doc, fp_h FROM post0
         WHERE fp_h NOT IN (SELECT fp_h FROM hot)),
sz AS (SELECT doc, CAST(count(*) AS INT) AS n_fp FROM post GROUP BY doc),
shared AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_shared
    FROM post a JOIN post b ON a.fp_h = b.fp_h AND a.doc < b.doc
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared, sa.n_fp AS n_a, sb.n_fp AS n_b,
       round(n_shared / least(sa.n_fp, sb.n_fp) * 1000000) / 1000000.0
           AS containment
FROM shared
JOIN sz sa ON sa.doc = doc_a
JOIN sz sb ON sb.doc = doc_b
WHERE n_shared / least(sa.n_fp, sb.n_fp) >= 0.5
"""

# Spark side: operators/sampling.py hash_stratified_sample (registry
# stratified_sample_docs; salt=42, DEFAULT_FRACTIONS). The md5-slice
# bucket makes the EXACT sampled row set cross-engine — int(frac*1e6)
# mirrors Spark's truncation.
ORACLE_TEXT["stratified_sample_docs"] = """
WITH d AS (
    SELECT doc_id, lang, source,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|42'), 1, 8))
               ::BIGINT % 1000000 AS bucket
    FROM documents
),
fr(lang, thresh) AS (VALUES
    ('en', 500000), ('de', 300000), ('fr', 300000),
    ('es', 300000), ('it', 300000))
SELECT doc_id, d.lang, source
FROM d JOIN fr ON d.lang = fr.lang
WHERE bucket < thresh
"""

# Spark side: operators/sampling.py mixture_rebalance (md5-rank quotas).
ORACLE_TEXT["mixture_rebalance"] = """
WITH tg(lang, t_s) AS (VALUES
    ('en', 0.4), ('es', 0.15), ('de', 0.15), ('fr', 0.15), ('zh', 0.15)),
d AS (
    SELECT doc_id, documents.lang, t_s,
           md5(CAST(doc_id AS VARCHAR) || 'mix42') AS h
    FROM documents JOIN tg ON documents.lang = tg.lang
),
counts AS (SELECT lang, count(*) AS n_s, max(t_s) AS t_s FROM d GROUP BY 1),
m AS (SELECT min(n_s / t_s) AS m_total FROM counts),
quotas AS (SELECT lang, CAST(floor(m_total * t_s) AS BIGINT) AS quota
           FROM counts CROSS JOIN m),
ranked AS (
    SELECT doc_id, lang, h,
           row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
    FROM d
)
SELECT r.doc_id, r.lang, CAST(r.rk AS INT) AS rk, CAST(q.quota AS INT) AS quota
FROM ranked r JOIN quotas q USING (lang)
WHERE r.rk <= q.quota
"""

# Spark side: operators/relevance.py unigram_logprob_score.
ORACLE_TEXT["unigram_logprob_score"] = r"""
WITH toks AS (
    SELECT doc_id, lang,
           unnest(regexp_split_to_array(trim(text, ' '), '\s+')) AS tok
    FROM documents
),
model AS (SELECT lang, tok, count(*) AS c_lt FROM toks GROUP BY 1, 2),
totals AS (SELECT lang, sum(c_lt) AS c_l FROM model GROUP BY 1)
SELECT t.doc_id, t.lang, CAST(count(*) AS INT) AS n_tokens,
       round(avg(ln(c_lt / c_l)) * 1000000) / 1000000.0 AS avg_logprob
FROM toks t
JOIN model USING (lang, tok)
JOIN totals USING (lang)
GROUP BY 1, 2
"""

# Spark side: registry funnel_daily (conditional-min ordered funnel).
ORACLE_TEXT["funnel_daily"] = """
WITH per_user AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events GROUP BY 1, 2
),
flags AS (
    SELECT day,
           (t_view IS NOT NULL) AS s1,
           (t_view IS NOT NULL AND t_click IS NOT NULL
            AND t_click >= t_view) AS s2,
           (t_view IS NOT NULL AND t_click IS NOT NULL
            AND t_click >= t_view AND t_signup IS NOT NULL
            AND t_signup >= t_click) AS s3,
           (t_view IS NOT NULL AND t_click IS NOT NULL
            AND t_click >= t_view AND t_signup IS NOT NULL
            AND t_signup >= t_click AND t_purchase IS NOT NULL
            AND t_purchase >= t_signup) AS s4
    FROM per_user
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after,
       CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_after,
       CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_after,
       round((CASE WHEN sum(CASE WHEN s1 THEN 1 ELSE 0 END) > 0
              THEN sum(CASE WHEN s4 THEN 1 ELSE 0 END)
                   / sum(CASE WHEN s1 THEN 1 ELSE 0 END)
              ELSE 0.0 END) * 1000000) / 1000000.0 AS conversion
FROM flags
GROUP BY day
"""

# Spark side: registry quality_filter_report (p25 percentile gate).
ORACLE_TEXT["quality_filter_report"] = rf"""
WITH t AS (
    SELECT doc_id, lang, regexp_split_to_array(trim(text, ' '), '\s+') AS toks
    FROM documents
),
m AS (
    SELECT doc_id, lang,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_filter(toks, x -> x IN {_STOPLIST})) AS INT) AS n_stop
    FROM t
),
s AS (
    SELECT doc_id, lang,
           round((least(n_tokens, 500) / 500.0 + n_stop / n_tokens) / 2
                 * 1000000) / 1000000.0 AS q
    FROM m
),
th AS (SELECT lang, quantile_cont(q, 0.25) AS p25_raw FROM s GROUP BY 1)
SELECT s.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN q >= p25_raw THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(max(p25_raw) * 1000000) / 1000000.0 AS p25,
       round(sum(CASE WHEN q >= p25_raw THEN 1 ELSE 0 END)
             / count(*) * 1000000) / 1000000.0 AS kept_frac,
       round(sum(CASE WHEN q >= p25_raw THEN q END)
             / sum(CASE WHEN q >= p25_raw THEN 1 ELSE 0 END)
             * 1000000) / 1000000.0 AS avg_kept_q
FROM s JOIN th USING (lang)
GROUP BY 1
"""

# Spark side: operators/dedup.py decontaminate_report — corpus = docs
# with doc_id % 37 != 0, benchmark = the rest; n_hits counts the
# corpus doc's DISTINCT trigrams seen anywhere in the benchmark.
ORACLE_TEXT["decontaminate_report"] = r"""
WITH sh AS (
    SELECT doc_id AS doc,
           list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               AS shingles
    FROM (SELECT doc_id, regexp_split_to_array(trim(text, ' '), '\s+') AS toks
          FROM documents)
),
corpus AS (SELECT doc, unnest(shingles) AS s FROM sh WHERE doc % 37 != 0),
bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc % 37 = 0),
hits AS (
    SELECT doc, count(*) AS n_hits
    FROM corpus WHERE s IN (SELECT s FROM bench)
    GROUP BY doc
)
SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
       COALESCE(h.n_hits, 0) >= 1 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 37 != 0) d
LEFT JOIN hits h ON h.doc = d.doc_id
"""

# Spark side: operators/packing.py packing_stats — per-(shard, bin)
# contiguous-packing rollup; shard = pmod(xxhash64(doc_id), 4) is not
# reproducible in DuckDB, so the registered query passes a precomputed
# doc_id % 4 shard via a view-free formulation mirrored here.
ORACLE_TEXT["packing_bins"] = r"""
WITH t AS (
    SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard,
           len(regexp_split_to_array(trim(text, ' '), '\s+')) AS n_tokens
    FROM documents
),
off AS (
    SELECT doc_id, shard, n_tokens,
           COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start_offset
    FROM t
)
SELECT shard, CAST(FLOOR(start_offset / 256.0) AS BIGINT) AS bin_id,
       count(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc,
       round(SUM(n_tokens) / 256.0 * 1000000) / 1000000.0 AS utilization
FROM off
GROUP BY 1, 2
"""

# Spark side: registry incremental_dedup_report — two-phase incremental
# exact dedup (even ids bootstrap the store, odd ids dedup against it);
# the funnel reduces to fingerprint set algebra.
ORACLE_TEXT["incremental_dedup_report"] = f"""
WITH f AS (
    SELECT doc_id, doc_id % 2 = 0 AS even, {_FP} AS fp FROM documents
),
b1 AS (SELECT fp, count(*) AS c FROM f WHERE even GROUP BY 1),
b2 AS (SELECT fp, count(*) AS c FROM f WHERE NOT even GROUP BY 1)
SELECT 1 AS phase,
       CAST((SELECT COALESCE(sum(c), 0) FROM b1) AS BIGINT) AS n_batch,
       CAST((SELECT COALESCE(sum(c), 0) - count(*) FROM b1) AS BIGINT)
           AS within_batch_dupes,
       CAST(0 AS BIGINT) AS known_dupes,
       CAST((SELECT count(*) FROM b1) AS BIGINT) AS fresh
UNION ALL
SELECT 2,
       CAST((SELECT COALESCE(sum(c), 0) FROM b2) AS BIGINT),
       CAST((SELECT COALESCE(sum(c), 0) - count(*) FROM b2) AS BIGINT),
       -- EXISTS, not IN/NOT IN: the engine's store check is a
       -- null-UNSAFE left_anti join (a NULL fingerprint — NULL text —
       -- never matches the store, so it is always fresh and never
       -- known), while `fp NOT IN (...)` yields NULL for a NULL fp
       -- (dropping it from fresh) and a NULL IN THE STORE would poison
       -- NOT IN for every row (r10 NULL-corpus probe)
       CAST((SELECT count(*) FROM b2
             WHERE EXISTS (SELECT 1 FROM b1 WHERE b1.fp = b2.fp))
            AS BIGINT),
       CAST((SELECT count(*) FROM b2
             WHERE NOT EXISTS (SELECT 1 FROM b1 WHERE b1.fp = b2.fp))
            AS BIGINT)
"""

# Spark side: registry leakage_split_report — exact-duplicate clusters
# (min doc_id per canonical fingerprint), split by the first two hex
# chars of md5(cluster || salt) against cumulative 256ths boundaries
# (0.8 -> 204 = 'cc', 0.9 -> 230 = 'e6'); md5-hex comparison is
# engine-portable, so exact split membership matches bit-for-bit.
ORACLE_TEXT["leakage_split_report"] = f"""
WITH fp AS (SELECT doc_id, {_FP} AS fp FROM documents),
cl AS (SELECT doc_id,
              min(doc_id) OVER (PARTITION BY fp) AS cluster_id
       FROM fp),
spl AS (SELECT doc_id, cluster_id,
               CASE WHEN substring(md5(CAST(cluster_id AS VARCHAR)
                                       || 'split42'), 1, 2) < 'cc'
                         THEN 'train'
                    WHEN substring(md5(CAST(cluster_id AS VARCHAR)
                                       || 'split42'), 1, 2) < 'e6'
                         THEN 'valid'
                    ELSE 'test' END AS split
        FROM cl)
SELECT split, count(*) AS n_docs,
       count(DISTINCT cluster_id) AS n_clusters
FROM spl GROUP BY 1
"""

# Spark side: registry token_length_histogram — per-(lang, log2-bucket)
# token-length distribution; CASTs mirror Spark's long count/sum and
# int bucket/min/max types.
ORACLE_TEXT["token_length_histogram"] = r"""
WITH t AS (
    SELECT lang,
           CAST(len(regexp_split_to_array(trim(text, ' '), '\s+')) AS INT)
               AS n_tokens
    FROM documents
)
SELECT lang,
       CAST(floor(log2(greatest(n_tokens, 1))) AS INT) AS bucket_log2,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(min(n_tokens) AS INT) AS min_tokens,
       CAST(max(n_tokens) AS INT) AS max_tokens
FROM t GROUP BY 1, 2
"""

# Spark side: registry chunk_documents — fixed token windows with
# overlap (stride = 24, chunk = 32); DuckDB list slicing is 1-based
# inclusive like Spark's slice(start, length) start.
ORACLE_TEXT["chunk_documents"] = r"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(trim(text, ' '), '\s+') AS toks
    FROM documents
),
n AS (
    SELECT doc_id, toks,
           CAST(floor((greatest(len(toks) - 8, 1) + 23) / 24) AS INT)
               AS n_chunks
    FROM t
),
c AS (
    SELECT doc_id, toks, CAST(unnest(range(0, n_chunks)) AS INT)
               AS chunk_id
    FROM n
)
SELECT doc_id, chunk_id,
       chunk_id * 24 AS start_tok,
       CAST(len(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS INT)
           AS n_tokens,
       array_to_string(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')
           AS chunk_text
FROM c
"""

# Spark side: operators/relevance.py bigram_backoff_score — Stupid
# Backoff (alpha 0.4) trained on even doc_ids, scored over all docs
# with >= 1 bigram. DuckDB zips the two shifted slices positionally
# (multiple unnest in one SELECT).
ORACLE_TEXT["bigram_backoff_score"] = r"""
WITH t AS (
    SELECT doc_id, lang, doc_id % 2 = 0 AS tr,
           regexp_split_to_array(trim(text, ' '), '\s+') AS toks
    FROM documents
),
pairs AS (
    SELECT doc_id, lang, tr,
           unnest(toks[1:len(toks)-1]) AS prev,
           unnest(toks[2:len(toks)]) AS tok
    FROM t
),
c2 AS (SELECT lang, prev, tok, count(*) AS c2 FROM pairs
       WHERE tr GROUP BY 1, 2, 3),
toks1 AS (SELECT lang, unnest(toks) AS tok FROM t WHERE tr),
c1 AS (SELECT lang, tok, count(*) AS c1 FROM toks1 GROUP BY 1, 2),
nv AS (SELECT lang, sum(c1) AS n_l, count(*) AS v_l FROM c1 GROUP BY 1),
s AS (
    SELECT p.doc_id, p.lang,
           CASE WHEN b.c2 IS NOT NULL THEN b.c2 / cp.c1
                ELSE 0.4 * (COALESCE(ct.c1, 0) + 1) / (nv.n_l + nv.v_l)
           END AS s
    FROM pairs p
    LEFT JOIN c2 b ON b.lang = p.lang AND b.prev = p.prev
                   AND b.tok = p.tok
    LEFT JOIN c1 cp ON cp.lang = p.lang AND cp.tok = p.prev
    LEFT JOIN c1 ct ON ct.lang = p.lang AND ct.tok = p.tok
    JOIN nv ON nv.lang = p.lang
)
SELECT doc_id, lang, CAST(count(*) AS INT) AS n_bigrams,
       round(avg(ln(s)) * 1000000) / 1000000.0 AS avg_logprob
FROM s GROUP BY 1, 2
"""

# Spark side: operators/relevance.py dsir_weights / dsir_resample
# (registry: n=2 bigrams, n_buckets=10000, target = lang 'en',
# keep_frac=0.4, salt 'dsir42'). Feature hash and Gumbel uniform both
# use the md5-slice construction; DuckDB's integer '/' returns DOUBLE,
# matching Spark's always-double '/'.
_DSIR_W = r"""
WITH toks AS (
    SELECT doc_id AS doc, lang = 'en' AS is_target,
           regexp_split_to_array(trim(text, ' '), '\s+') AS toks
    FROM documents
),
grams AS (
    SELECT doc, is_target,
           unnest(CASE WHEN len(toks) >= 2 THEN
               list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i+1])
           ELSE [] END) AS g
    FROM toks
),
feats AS (
    SELECT doc, is_target,
           ('0x' || substr(md5(g), 1, 8))::BIGINT % 10000 AS b
    FROM grams
),
counts AS (
    SELECT b, count(*) AS c_raw,
           sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_tgt
    FROM feats GROUP BY 1
),
totals AS (SELECT sum(c_raw) AS t_raw, sum(c_tgt) AS t_tgt FROM counts),
model AS (
    SELECT b, ln((c_tgt + 1) / (t_tgt + 10000))
              - ln((c_raw + 1) / (t_raw + 10000)) AS lr
    FROM counts CROSS JOIN totals
),
w AS (
    SELECT doc AS doc_id, CAST(count(*) AS INT) AS n_grams,
           round(sum(lr) * 1000000) / 1000000.0 AS log_weight
    FROM feats JOIN model USING (b)
    GROUP BY 1
)
"""

ORACLE_TEXT["dsir_weights"] = _DSIR_W + "SELECT * FROM w"

ORACLE_TEXT["dsir_sample"] = _DSIR_W + """,
g AS (
    SELECT *,
           round((log_weight + (-ln(-ln(
               ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|dsir42'),
                  1, 8))::BIGINT % 1000000) + 0.5) / 1000000.0
           )))) * 1000000) / 1000000.0 AS k
    FROM w
),
r AS (
    SELECT *, row_number() OVER (ORDER BY k DESC, doc_id) AS rk FROM g
),
n AS (SELECT count(*) AS n_scored FROM g)
SELECT doc_id, n_grams, log_weight, CAST(rk AS INT) AS rk
FROM r CROSS JOIN n
WHERE rk <= floor(0.4 * n_scored)
"""

# Spark side: operators/dedup.py dup_spans (registry: window=8,
# min_docs=2). Window hashes are 64-bit md5-hex slices of the joined
# 8-token window; islands merge flagged positions whose gap <= window.
# Kept as a WITH-prefix constant so dedup_spans_removed can extend it.
_DUP_SPANS_CTE = r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text, ' '), '\s+') AS t
    FROM documents
),
wins AS (
    SELECT doc_id, unnest(CASE WHEN len(t) >= 8 THEN
        list_transform(range(1, len(t) - 8 + 2),
            i -> {'p': i,
                  'h': substr(md5(list_aggregate(t[i:i+7],
                                                 'string_agg', ' ')),
                              1, 16)})
    ELSE [] END, recursive := true)
    FROM toks
),
hot AS (
    SELECT h FROM (SELECT DISTINCT h, doc_id FROM wins)
    GROUP BY h HAVING count(*) >= 2
),
pos AS (SELECT DISTINCT doc_id, p FROM wins JOIN hot USING (h)),
isl AS (
    SELECT doc_id, p,
           CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 8
                THEN 0 ELSE 1 END AS brk
    FROM pos
),
grp AS (
    SELECT doc_id, p,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS g
    FROM isl
),
spans AS (
    SELECT doc_id, CAST(min(p) AS INT) AS span_start,
           CAST(max(p) + 8 - 1 AS INT) AS span_end,
           CAST(count(*) AS INT) AS n_windows
    FROM grp GROUP BY doc_id, g
)
"""

ORACLE_TEXT["dup_spans"] = _DUP_SPANS_CTE + "SELECT * FROM spans"

# Spark side: operators/dedup.py dup_substring_runs /
# dup_substring_table (registry: window=8, min_count=2). Differences
# from _DUP_SPANS_CTE above: hot thresholds total OCCURRENCES (no
# per-doc distinct — within-doc repeats count every site), islands are
# STRICTLY consecutive (p - row_number() grouping, not gap <= window),
# and each run is fingerprinted with the full md5 of its space-joined
# token text (the verification pass; 1-based inclusive DuckDB slices
# mirror Spark's slice(toks, p1, p2 - p1 + 8)).
_DUP_SUBSTR_WINS = r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text, ' '), '\s+') AS t
    FROM documents
),
wins AS (
    SELECT doc_id, unnest(CASE WHEN len(t) >= 8 THEN
        list_transform(range(1, len(t) - 8 + 2),
            i -> {'p': i,
                  'h': substr(md5(list_aggregate(t[i:i+7],
                                                 'string_agg', ' ')),
                              1, 16)})
    ELSE [] END, recursive := true)
    FROM toks
)"""

_DUP_SUBSTR_CTE = _DUP_SUBSTR_WINS + r""",
hot AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
flag AS (
    SELECT doc_id, p,
           p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
    FROM wins WHERE h IN (SELECT h FROM hot)
),
runs AS (
    SELECT doc_id, min(p) AS p1, max(p) AS p2
    FROM flag GROUP BY doc_id, grp
),
occ AS (
    SELECT r.doc_id,
           CAST(r.p1 AS INT) AS span_start,
           CAST(r.p2 + 8 - 1 AS INT) AS span_end,
           md5(list_aggregate(k.t[r.p1 : r.p2 + 7],
                              'string_agg', ' ')) AS fp,
           CAST(r.p2 - r.p1 + 8 AS INT) AS n_tokens
    FROM runs r JOIN toks k USING (doc_id)
)"""

ORACLE_TEXT["dup_substring_runs"] = _DUP_SUBSTR_CTE + """
SELECT doc_id, span_start, span_end, fp, n_tokens FROM occ
"""

ORACLE_TEXT["dup_substring_table"] = _DUP_SUBSTR_CTE + """
SELECT fp, n_tokens,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occurrences
FROM occ GROUP BY fp, n_tokens HAVING count(*) >= 2
"""

# Spark side: operators/dedup.py line_dedup_docs (registry: delimiter
# '\s+the\s+' — the fixture corpus has no newlines — joiner '\n').
# Keep-first within each doc: a line survives iff its FIRST index is
# its own; DuckDB lambda indexes are 1-based (Spark's 0-based — the
# Spark side compares against i + 1).
ORACLE_TEXT["line_dedup_docs"] = r"""
WITH l AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+the\s+'),
                       x -> trim(x, ' ') <> '') AS lines
    FROM documents
),
k AS (
    SELECT doc_id, lines,
           list_filter(lines,
                       (x, i) -> list_position(lines, x) = i) AS kept
    FROM l
)
SELECT doc_id,
       -- empty-vs-NULL split (both r10 fuzz/probe catches): a doc with
       -- no non-blank LINES empties to '' like the engine (DuckDB's
       -- array_to_string returns NULL on an empty list where Spark's
       -- array_join returns '' — oracle-trap #8), but a NULL-TEXT doc
       -- passes through as NULL (lines itself is NULL; the engine's
       -- split(NULL) propagates)
       CASE WHEN lines IS NULL THEN NULL
            ELSE COALESCE(array_to_string(kept, chr(10)), '') END AS text,
       CAST(len(lines) AS INT) AS n_lines,
       CAST(len(lines) - len(kept) AS INT) AS n_removed
FROM k
"""

# Spark side: registry incremental_substring_runs — two-phase
# incremental substring dedup (even doc_ids bootstrap the window-count
# store, odd ids detect against store + own counts). Hot for the odd
# delta = odd occurrences + even-store occurrences >= 2; runs and
# fingerprints over the odd documents only, same assembly as above.
ORACLE_TEXT["incremental_substring_runs"] = _DUP_SUBSTR_WINS + r""",
odd AS (SELECT doc_id, p, h FROM wins WHERE doc_id % 2 = 1),
ev  AS (SELECT h, count(*) AS n FROM wins
        WHERE doc_id % 2 = 0 GROUP BY h),
oc  AS (SELECT h, count(*) AS n FROM odd GROUP BY h),
hot AS (SELECT oc.h FROM oc LEFT JOIN ev ON ev.h = oc.h
        WHERE oc.n + coalesce(ev.n, 0) >= 2),
flag AS (
    SELECT doc_id, p,
           p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
    FROM odd WHERE h IN (SELECT h FROM hot)
),
runs AS (
    SELECT doc_id, min(p) AS p1, max(p) AS p2
    FROM flag GROUP BY doc_id, grp
)
SELECT r.doc_id,
       CAST(r.p1 AS INT) AS span_start,
       CAST(r.p2 + 8 - 1 AS INT) AS span_end,
       md5(list_aggregate(k.t[r.p1 : r.p2 + 7],
                          'string_agg', ' ')) AS fp,
       CAST(r.p2 - r.p1 + 8 AS INT) AS n_tokens
FROM runs r JOIN toks k USING (doc_id)
"""

# Spark side: operators/dedup.py remove_dup_spans applied to the
# dup_spans report — every flagged 1-based token position is dropped,
# unflagged docs pass through with 0 removed.
ORACLE_TEXT["dedup_spans_removed"] = _DUP_SPANS_CTE + r""",
sp AS (
    SELECT doc_id,
           list({'s': span_start, 'e': span_end}) AS spans
    FROM spans GROUP BY doc_id
),
kept AS (
    SELECT t.doc_id, sp.doc_id IS NULL AS untouched, d.text AS orig,
           [t.t[i] FOR i IN range(1, len(t.t) + 1)
            IF sp.doc_id IS NULL OR len(list_filter(sp.spans,
                s -> i >= s.s AND i <= s.e)) = 0] AS kt,
           len(t.t) AS n_all
    FROM toks t
    LEFT JOIN sp ON t.doc_id = sp.doc_id
    JOIN documents d ON d.doc_id = t.doc_id
)
SELECT doc_id,
       -- unflagged docs pass through byte-identical; flagged docs are
       -- rebuilt (DuckDB array_to_string([]) is NULL; Spark concat_ws '')
       CASE WHEN untouched THEN orig
            ELSE coalesce(array_to_string(kt, ' '), '') END AS text,
       CAST(CASE WHEN untouched THEN 0
            ELSE n_all - len(kt) END AS INT) AS n_tokens_removed
FROM kept
"""

# Spark side: operators/dedup.py remove_dup_substring_runs over the
# dup_substring_runs report (registry: keep='first') — per fingerprint
# the smallest (doc_id, span_start) occurrence survives, every other
# occurrence's span is stripped; the removal surgery is the same list
# comprehension as dedup_spans_removed. row_number rn=1 here equals
# Spark's partial-aggregatable min(struct(doc, span_start)) because
# (doc_id, span_start) is unique within a fingerprint (runs are
# disjoint per doc).
ORACLE_TEXT["dedup_substring_removed"] = _DUP_SUBSTR_CTE + r""",
losers AS (
    SELECT doc_id, span_start, span_end FROM (
        SELECT doc_id, span_start, span_end,
               row_number() OVER (PARTITION BY fp
                                  ORDER BY doc_id, span_start) AS rn
        FROM occ) WHERE rn > 1
),
sp AS (
    SELECT doc_id,
           list({'s': span_start, 'e': span_end}) AS spans
    FROM losers GROUP BY doc_id
),
kept AS (
    SELECT t.doc_id, sp.doc_id IS NULL AS untouched, d.text AS orig,
           [t.t[i] FOR i IN range(1, len(t.t) + 1)
            IF sp.doc_id IS NULL OR len(list_filter(sp.spans,
                s -> i >= s.s AND i <= s.e)) = 0] AS kt,
           len(t.t) AS n_all
    FROM toks t
    LEFT JOIN sp ON t.doc_id = sp.doc_id
    JOIN documents d ON d.doc_id = t.doc_id
)
SELECT doc_id,
       CASE WHEN untouched THEN orig
            ELSE coalesce(array_to_string(kt, ' '), '') END AS text,
       CAST(CASE WHEN untouched THEN 0
            ELSE n_all - len(kt) END AS INT) AS n_tokens_removed
FROM kept
"""

# Spark side: operators/sharding.py shard_assignments / shard_manifest
# (registry: n_shards=16, salt 'shard42'; manifest entry uses the
# token-balanced LPT mode). pk is the 64-bit md5-hex permutation key,
# compared lexicographically in both engines.
ORACLE_TEXT["shard_assignments"] = r"""
WITH d AS (
    SELECT doc_id,
           len(regexp_split_to_array(trim(text, ' '), '\s+')) AS n_tokens,
           substr(md5(CAST(doc_id AS VARCHAR) || '|shard42'), 1, 16) AS pk
    FROM documents
),
s AS (
    SELECT doc_id, n_tokens, pk,
           CAST(('0x' || substr(pk, 1, 8))::BIGINT % 16 AS INT) AS shard
    FROM d
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY pk, doc_id)
            AS INT) AS pos_in_shard,
       CAST(n_tokens AS INT) AS n_tokens
FROM s
"""

ORACLE_TEXT["shard_manifest_lpt"] = r"""
WITH d AS (
    SELECT doc_id,
           len(regexp_split_to_array(trim(text, ' '), '\s+')) AS n_tokens
    FROM documents
),
r AS (
    SELECT doc_id, n_tokens,
           row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rk
    FROM d
),
a AS (SELECT CAST((rk - 1) % 16 AS INT) AS shard, n_tokens FROM r)
SELECT shard, CAST(count(*) AS INT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(max(n_tokens) AS INT) AS max_doc_tokens
FROM a GROUP BY shard
"""

# Spark side: functions/text.py subword_tokens (GPT-2-style pre-token
# classes, Java/RE2-intersection pattern — leftmost-first alternation
# matches identically) via the token_budget_stats registry entry.
ORACLE_TEXT["token_budget_stats"] = r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text, ' '), '\s+')) AS INT)
           AS n_ws_tokens,
       CAST(len(regexp_extract_all(text,
           '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))
           AS INT) AS n_subword_tokens,
       round(len(regexp_extract_all(text,
           '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))
           / len(regexp_split_to_array(trim(text, ' '), '\s+'))
           * 1000000) / 1000000.0 AS subword_per_ws
FROM documents
"""

# Spark side: operators/relevance.py pmi_collocations (registry:
# min_pair_count=5, top_k=50). N_pairs = N_tokens - N_docs (each doc
# with t tokens has t-1 adjacent pairs); PMI in nats, round_fixed(6).
ORACLE_TEXT["pmi_collocations"] = r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text, ' '), '\s+') AS t
    FROM documents
),
uni AS (
    SELECT w, count(*) AS n_w
    FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1
),
tot AS (SELECT sum(n_w) AS n_tokens,
               -- count(text): NULL-text docs carry no pairs
               (SELECT count(text) FROM documents) AS n_docs
        FROM uni),
pairs AS (
    SELECT bg, count(*) AS n_pair
    FROM (
        SELECT unnest(CASE WHEN len(t) >= 2 THEN
            list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
        ELSE [] END) AS bg
        FROM toks)
    GROUP BY 1 HAVING count(*) >= 5
),
sc AS (
    SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
           n_pair
    FROM pairs
),
scored AS (
    SELECT w1, w2, CAST(n_pair AS INT) AS n_pair,
           round(ln((n_pair / (t.n_tokens - t.n_docs))
                    / ((u1.n_w / t.n_tokens) * (u2.n_w / t.n_tokens)))
                 * 1000000) / 1000000.0 AS pmi
    FROM sc
    JOIN uni u1 ON u1.w = sc.w1
    JOIN uni u2 ON u2.w = sc.w2
    CROSS JOIN tot t
),
r AS (
    SELECT *, CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS INT)
              AS rk
    FROM scored
)
SELECT w1, w2, n_pair, pmi, rk FROM r WHERE rk <= 50
"""

# Spark side: operators/packing.py pack_whole_docs(method='best_fit')
# via packing_stats (registry: budget=256, n_shards=4, shard=doc_id%4).
# Best-fit-decreasing is sequential within a shard (each placement
# depends on all prior ones) — no plain SQL expression reproduces it,
# but a RECURSIVE CTE carries the per-shard remaining-capacity list
# step by step: one recursion level per placement, all shards advancing
# in lockstep. Tie rule matches numpy argmin (first/lowest bin among
# equally tight fits) via list_position of the min. Recursion depth =
# max docs per shard — fine at the driver's sf0.01 oracle scale.
ORACLE_TEXT["packing_best_fit_bins"] = r"""
WITH RECURSIVE d AS (
    SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard,
           CAST(len(regexp_split_to_array(trim(text, ' '), '\s+')) AS BIGINT)
               AS tok
    FROM documents
),
ordered AS (
    SELECT *, row_number() OVER (PARTITION BY shard
                                 ORDER BY tok DESC, doc_id) AS rn
    FROM d
),
state AS (
    SELECT shard, CAST(0 AS BIGINT) AS i,
           CAST([] AS BIGINT[]) AS rem,
           CAST([] AS STRUCT(doc BIGINT, tok BIGINT, bin BIGINT)[])
               AS placed
    FROM (SELECT DISTINCT shard FROM ordered)
    UNION ALL
    SELECT s.shard, s.i + 1,
        CASE
          WHEN o.tok >= 256 THEN list_append(s.rem, CAST(0 AS BIGINT))
          WHEN list_min(list_filter(s.rem, r -> r >= o.tok)) IS NULL
            THEN list_append(s.rem, 256 - o.tok)
          ELSE list_transform(range(1, len(s.rem) + 1),
               k -> CASE WHEN k = list_position(s.rem,
                        list_min(list_filter(s.rem, r -> r >= o.tok)))
                    THEN s.rem[k] - o.tok ELSE s.rem[k] END)
        END AS rem,
        list_append(s.placed, {'doc': o.doc_id, 'tok': o.tok,
            'bin': CASE
               WHEN o.tok >= 256 THEN len(s.rem)
               WHEN list_min(list_filter(s.rem, r -> r >= o.tok)) IS NULL
                 THEN len(s.rem)
               ELSE list_position(s.rem,
                    list_min(list_filter(s.rem, r -> r >= o.tok))) - 1
            END}) AS placed
    FROM state s JOIN ordered o ON o.shard = s.shard AND o.rn = s.i + 1
),
final AS (
    SELECT shard, placed FROM state s
    WHERE i = (SELECT max(rn) FROM ordered o WHERE o.shard = s.shard)
),
rows_ AS (
    SELECT shard, u.p.doc AS doc_id, u.p.tok AS n_tokens,
           u.p.bin AS bin_id
    FROM final, unnest(final.placed) AS u(p)
)
SELECT CAST(shard AS INT) AS shard, CAST(bin_id AS BIGINT) AS bin_id,
       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc,
       round(sum(n_tokens) / 256 * 1000000) / 1000000.0 AS utilization
FROM rows_ GROUP BY 1, 2
"""

# Spark side: operators/multimodal.py attach_synthetic_media +
# decode_image_raw (registry: max_side=16). The RAWI payload's pixel
# bytes are md5-chained (_det_bytes), so DuckDB regenerates the exact
# byte stream as concatenated md5 hex blocks and reproduces the binary
# decode: dims from the header arithmetic, nearest-neighbor decimation
# counts, and the full-image mean — binary parsing, oracle-paired.
ORACLE_TEXT["media_image_decode"] = r"""
WITH img AS (
    SELECT doc_id, 8 + doc_id % 25 AS w, 6 + doc_id % 19 AS h
    FROM documents WHERE doc_id % 3 = 0
),
px AS (
    SELECT doc_id, w, h,
           substr(list_aggregate(
               list_transform(
                   range(0, CAST(ceil(w * h / 16.0) AS BIGINT)),
                   k -> md5(doc_id || '|px|' || k)),
               'string_agg', ''), 1, w * h * 2) AS hx
    FROM img
),
m AS (
    SELECT doc_id, w, h,
           list_sum(list_transform(range(0, w * h),
               i -> ('0x' || substr(hx, 1 + 2 * i, 2))::BIGINT))
           / (w * h) AS mean_raw
    FROM px
)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(ceil(w / ceil(w / 16.0)) AS INT) AS out_width,
       CAST(ceil(h / ceil(h / 16.0)) AS INT) AS out_height,
       round(mean_raw * 1000000) / 1000000.0 AS mean_intensity
FROM m
"""

# Spark side: operators/multimodal.py frame_sample_raw (registry:
# every_n=4). Same md5-chained regeneration; frame digest is md5 of
# the frame's lowercase hex (DuckDB md5 is VARCHAR-only).
ORACLE_TEXT["media_frame_sample"] = r"""
WITH vid AS (
    SELECT doc_id, 4 + doc_id % 13 AS nf, 8 AS w, 6 AS h
    FROM documents WHERE doc_id % 3 = 2
),
px AS (
    SELECT doc_id, nf, w, h,
           substr(list_aggregate(
               list_transform(
                   range(0, CAST(ceil(nf * w * h / 16.0) AS BIGINT)),
                   k -> md5(doc_id || '|vx|' || k)),
               'string_agg', ''), 1, nf * w * h * 2) AS hx
    FROM vid
),
fr AS (
    SELECT doc_id, w, h, hx,
           unnest(list_transform(range(0, nf, 4), f -> f)) AS idx
    FROM px
),
fx AS (
    SELECT doc_id, CAST(idx AS INT) AS frame_idx,
           substr(hx, 1 + idx * w * h * 2, w * h * 2) AS fhx,
           w * h AS n
    FROM fr
)
SELECT doc_id, frame_idx,
       round(list_sum(list_transform(range(0, n),
             i -> ('0x' || substr(fhx, 1 + 2 * i, 2))::BIGINT)) / n
             * 1000000) / 1000000.0 AS frame_mean,
       md5(fhx) AS frame_digest
FROM fx
"""

# Cross-source overlap matrix: per-source DISTINCT shingle sets (the
# same per-doc trigram arrays as jaccard_pairs, keyed by source and
# deduped across the source's docs), exact pairwise intersections via
# the posting self-join, and a complete matrix (zero-overlap pairs
# kept) from the tiny size table's self-pairing.
ORACLE_TEXT["source_overlap_matrix"] = r"""
WITH perdoc AS (
    SELECT source AS src,
           list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               AS shingles
    FROM (SELECT source, regexp_split_to_array(trim(text, ' '), '\s+') AS toks
          FROM documents)
),
post AS (
    SELECT DISTINCT src, s
    FROM (SELECT src, unnest(shingles) AS s FROM perdoc)
),
sz AS (SELECT src, count(*) AS n_sh FROM post GROUP BY 1),
inter AS (
    SELECT a.src AS source_a, b.src AS source_b, count(*) AS nc
    FROM post a JOIN post b ON a.s = b.s AND a.src < b.src
    GROUP BY 1, 2
),
pairs AS (
    SELECT a.src AS source_a, b.src AS source_b,
           a.n_sh AS n_a, b.n_sh AS n_b
    FROM sz a JOIN sz b ON a.src < b.src
)
SELECT p.source_a, p.source_b,
       CAST(p.n_a AS BIGINT) AS n_a, CAST(p.n_b AS BIGINT) AS n_b,
       CAST(coalesce(i.nc, 0) AS BIGINT) AS n_common,
       round(coalesce(i.nc, 0)
             / (p.n_a + p.n_b - coalesce(i.nc, 0)) * 1000000)
           / 1000000.0 AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.source_a = p.source_a AND i.source_b = p.source_b
"""

# Token-budget mixing plan: the per-stratum targets are driver-side
# integer literals (10k budget x 0.4/0.2/0.2/0.1/0.1 shares), the
# supply is the same subword pre-token count as token_budget_stats,
# and the epoch arithmetic is pure integer (% identity), so the whole
# plan hash-matches.
ORACLE_TEXT["token_budget_mixing_plan"] = r"""
WITH t AS (
    SELECT source,
           CASE source WHEN 'src0' THEN 4000 WHEN 'src1' THEN 2000
                WHEN 'src2' THEN 2000 WHEN 'src3' THEN 1000
                WHEN 'src4' THEN 1000 END AS target,
           len(regexp_extract_all(text,
               '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))
               AS n_tok
    FROM documents
    WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
),
a AS (
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(max(target) AS BIGINT) AS target_tokens
    FROM t GROUP BY 1
    HAVING sum(n_tok) > 0
)
SELECT source, n_docs, n_tokens, target_tokens,
       round(target_tokens / n_tokens * 1000000) / 1000000.0 AS epochs,
       CAST((target_tokens - target_tokens % n_tokens) / n_tokens
            AS BIGINT) AS n_full_epochs,
       CAST(target_tokens % n_tokens AS BIGINT) AS remainder_tokens,
       target_tokens > n_tokens AS oversampled
FROM a
"""

# Exact weighted sampling: the Efraimidis-Spirakis key is the max of w
# independent md5-slice draws per row (max of w uniforms ~ U^(1/w)),
# so membership is a pure integer function of (doc_id, unit, salt) —
# DuckDB replays the identical draws and the exact per-language top-5
# sets hash-match. range(0, w) is exclusive-stop = w draws.
ORACLE_TEXT["weighted_sample_docs"] = r"""
WITH d AS (
    SELECT doc_id, lang, CAST(doc_id % 5 + 1 AS INT) AS weight
    FROM documents
),
keyed AS (
    SELECT doc_id, lang, weight,
           list_max(list_transform(range(0, weight),
               r -> ('0x' || substr(md5(doc_id || '|' || r || '|ws42'),
                                    1, 8))::BIGINT)) AS key
    FROM d
)
SELECT doc_id, lang, weight, CAST(rk AS INT) AS sample_rank
FROM (
    SELECT doc_id, lang, weight,
           row_number() OVER (PARTITION BY lang
                              ORDER BY key DESC, doc_id) AS rk
    FROM keyed
)
WHERE rk <= 5
"""

# Curriculum shard plan: hash-mode shard membership (n_shards=8), but
# pos_in_shard orders within each shard by (n_chars ASC, pk, doc_id) —
# the within-shard easy-to-hard schedule.
ORACLE_TEXT["curriculum_shards"] = r"""
WITH d AS (
    SELECT doc_id, n_chars,
           len(regexp_split_to_array(trim(text, ' '), '\s+')) AS n_tokens,
           substr(md5(CAST(doc_id AS VARCHAR) || '|shard42'), 1, 16) AS pk
    FROM documents
),
s AS (
    SELECT doc_id, n_chars, n_tokens, pk,
           CAST(('0x' || substr(pk, 1, 8))::BIGINT % 8 AS INT) AS shard
    FROM d
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard
                               ORDER BY n_chars, pk, doc_id)
            AS INT) AS pos_in_shard,
       CAST(n_tokens AS INT) AS n_tokens
FROM s
"""

# Spark side: operators/dedup.py paragraph_dedup (registry: delimiter
# '\s+the\s+' on the newline-free synthetic corpus, joiner '\n\n').
# Keep-first = row_number over (doc_id, pos) per segment hash, which is
# exactly Spark's min(struct(doc, pos)); whitespace-only segments are
# dropped on both engines before hashing.
ORACLE_TEXT["paragraph_dedup_docs"] = r"""
WITH segs0 AS (
    SELECT doc_id,
           generate_subscripts(
               regexp_split_to_array(text, '\s+the\s+'), 1) - 1 AS pos,
           unnest(regexp_split_to_array(text, '\s+the\s+')) AS seg
    FROM documents
),
segs AS (
    SELECT doc_id, pos, seg, md5(seg) AS h
    FROM segs0 WHERE trim(seg, ' ') <> ''
),
flagged AS (
    SELECT doc_id, pos, seg,
           row_number() OVER (PARTITION BY h
                              ORDER BY doc_id, pos) = 1 AS keep
    FROM segs
),
rebuilt AS (
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN keep THEN seg END,
                               e'\n\n' ORDER BY pos), '') AS text2,
           count(*) AS n_segments,
           count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_removed
    FROM flagged GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(r.text2, '') AS text,
       CAST(coalesce(r.n_segments, 0) AS INT) AS n_segments,
       CAST(coalesce(r.n_removed, 0) AS INT) AS n_removed
FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
"""

# Spark side: operators/dedup.py boundary_overlap_pairs (registry: k=3,
# max_df=64). Both sides df-capped on the 16-byte boundary hash before
# the join; exact text equality re-verifies each hash match.
# Shared WITH-prefix for boundary_overlap_pairs and stitch_report (the
# stitch oracle must walk EXACTLY the pair set the detector emits).
_BOUNDARY_CTE = r"""
WITH RECURSIVE toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text, ' '), '\s+') AS t
    FROM documents
),
ends AS (
    SELECT doc_id,
           array_to_string(t[1:3], ' ') AS head,
           array_to_string(t[len(t) - 2 : len(t)], ' ') AS tail
    FROM toks WHERE len(t) >= 3
),
hashed AS (
    SELECT doc_id, head, tail,
           substr(md5(head), 1, 16) AS hh,
           substr(md5(tail), 1, 16) AS th
    FROM ends
),
hd AS (SELECT hh FROM hashed GROUP BY hh HAVING count(*) <= 64),
td AS (SELECT th FROM hashed GROUP BY th HAVING count(*) <= 64),
bheads AS (
    SELECT h.doc_id AS right_id, h.hh AS bh, h.head AS bt
    FROM hashed h JOIN hd ON h.hh = hd.hh
),
btails AS (
    SELECT h.doc_id AS left_id, h.th AS bh, h.tail AS tt
    FROM hashed h JOIN td ON h.th = td.th
),
bpairs AS (
    SELECT t.left_id, h.right_id, t.tt AS boundary_text
    FROM btails t JOIN bheads h ON t.bh = h.bh
    WHERE t.left_id <> h.right_id AND t.tt = h.bt
)"""

ORACLE_TEXT["boundary_overlap_pairs"] = _BOUNDARY_CTE + """
SELECT left_id, right_id, boundary_text FROM bpairs
"""

# Spark side: operators/dedup.py stitch_documents (registry: k=3,
# max_df=64, max_chain=16) — unambiguous chains walked head-to-tail by
# a recursive CTE; each continuation drops its first 3 tokens, empty
# parts are skipped, exactly as the applyInPandas assembler does.
# Chains longer than max_chain surface as refused=true with text=''
# (r7: flagged rows replaced the mid-job raise).
ORACLE_TEXT["stitch_report"] = _BOUNDARY_CTE + r""",
uniq AS (
    SELECT left_id, right_id FROM bpairs
    WHERE left_id IN (SELECT left_id FROM bpairs
                      GROUP BY 1 HAVING count(*) = 1)
      AND right_id IN (SELECT right_id FROM bpairs
                       GROUP BY 1 HAVING count(*) = 1)
),
chain_heads AS (
    SELECT left_id AS head FROM uniq
    WHERE left_id NOT IN (SELECT right_id FROM uniq)
),
walk AS (
    SELECT head AS chain_id, head AS cur, 1 AS pos FROM chain_heads
    UNION ALL
    SELECT w.chain_id, u.right_id, w.pos + 1
    FROM walk w JOIN uniq u ON u.left_id = w.cur
),
parts AS (
    SELECT w.chain_id, w.cur, w.pos,
           CASE WHEN w.pos = 1 THEN d.text
                ELSE array_to_string(
                    regexp_split_to_array(trim(d.text, ' '), '\s+')[4:],
                    ' ')
           END AS part
    FROM walk w JOIN documents d ON d.doc_id = w.cur
)
SELECT chain_id,
       string_agg(CAST(cur AS VARCHAR), ',' ORDER BY pos) AS doc_ids,
       CASE WHEN count(*) > 16 THEN ''
            ELSE string_agg(CASE WHEN part <> '' THEN part END,
                            ' ' ORDER BY pos)
       END AS text,
       CAST(count(*) AS INT) AS n_docs,
       count(*) > 16 AS refused
FROM parts GROUP BY chain_id
"""

# Spark side: registry incremental_paragraph_report — two-phase
# incremental paragraph dedup (even doc_ids bootstrap the segment-hash
# store, odd ids dedup against it), reproduced with segment-hash set
# algebra on the same '\s+the\s+' segmentation.
ORACLE_TEXT["incremental_paragraph_report"] = r"""
WITH segs AS (
    SELECT doc_id, md5(seg) AS h,
           doc_id % 2 = 0 AS ph1
    FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(text, '\s+the\s+')) AS seg
          FROM documents)
    WHERE trim(seg, ' ') <> ''
),
p1 AS (SELECT count(*) AS n, count(DISTINCT h) AS d FROM segs WHERE ph1),
p2 AS (SELECT count(*) AS n, count(DISTINCT h) AS d
       FROM segs WHERE NOT ph1),
known2 AS (
    SELECT count(DISTINCT s2.h) AS k
    FROM (SELECT DISTINCT h FROM segs WHERE NOT ph1) s2
    JOIN (SELECT DISTINCT h FROM segs WHERE ph1) s1 ON s1.h = s2.h
)
SELECT 1 AS phase, n AS n_segments, n - d AS within_batch_repeats,
       0::BIGINT AS known_segments, d AS fresh_segments
FROM p1
UNION ALL
SELECT 2, p2.n, p2.n - p2.d, known2.k, p2.d - known2.k
FROM p2, known2
"""

# Spark side: operators/vocab.py vocab_coverage (registry: pcts
# 50/90/95/99). Rank tiebreak (freq DESC, word ASC) and the integer
# cutoff (cum*100 >= pct*total) are bit-identical across engines.
ORACLE_TEXT["vocab_coverage"] = r"""
WITH words AS (
    SELECT unnest(regexp_split_to_array(trim(text, ' '), '\s+')) AS word
    FROM documents
),
freq AS (
    SELECT word, count(*) AS freq FROM words
    WHERE length(word) > 0 GROUP BY word
),
ranked AS (
    SELECT freq,
           row_number() OVER (ORDER BY freq DESC, word ASC) AS rank,
           CAST(sum(freq) OVER (ORDER BY freq DESC, word ASC
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
    FROM freq
),
total AS (SELECT CAST(sum(freq) AS BIGINT) AS total_tokens FROM freq),
levels AS (SELECT unnest([50, 90, 95, 99]) AS pct)
SELECT pct,
       CAST(min(rank) AS INT) AS vocab_size,
       CAST(arg_min(cum, rank) AS BIGINT) AS tokens_covered,
       CAST(min(total_tokens) AS BIGINT) AS total_tokens
FROM ranked, total, levels
WHERE cum * 100 >= pct * total_tokens
GROUP BY pct
"""

# Spark side: operators/grouping.py corpus_datacard — the one-scan
# dataset-card table. Quality formula = the canonical
# quality_score_expr mirror; percentiles interpolate over exact integer
# token counts; dup_rate is an exact rational.
ORACLE_TEXT["corpus_datacard"] = rf"""
WITH per_doc AS (
    SELECT source, lang,
           len(toks) AS nt,
           len(list_filter(toks, x -> x IN {_STOPLIST})) AS ns,
           md5(translate(regexp_replace(trim(text, ' '), '\s+', ' ', 'g'),
               'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
               'abcdefghijklmnopqrstuvwxyz')) AS fp
    FROM (SELECT source, lang, text,
                 regexp_split_to_array(trim(text, ' '), '\s+') AS toks
          FROM documents)
),
q AS (
    SELECT source, lang, nt, fp,
           CAST(round((least(nt, 500) / 500.0 + ns / nt) / 2 * 1000000)
                AS BIGINT) AS qi
    FROM per_doc
)
SELECT source, lang,
       count(*) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       round(avg(nt) * 100) / 100.0 AS avg_doc_tokens,
       round(quantile_cont(nt, 0.5) * 10000) / 10000.0 AS p50_tokens,
       round(quantile_cont(nt, 0.95) * 10000) / 10000.0 AS p95_tokens,
       count(DISTINCT fp) AS distinct_docs,
       round((1.0 - count(DISTINCT fp) / count(*)) * 1000000)
           / 1000000.0 AS dup_rate,
       round(avg(qi) / 1000000.0 * 10000) / 10000.0 AS avg_quality
FROM q GROUP BY source, lang
"""

# Spark side: operators/similarity.py jl_project (registry: 64 -> 16,
# seed 42, vec_id < 100). The ±1 matrix is the same pure md5 function
# of (seed, i, j) in both engines, and each component sums j ascending
# so the doubles are bit-identical before the 6dp round.
def _jl_sql(in_dim: int, out_dim: int, seed: int) -> str:
    import hashlib

    def sign(i: int, j: int) -> str:
        d = hashlib.md5(f"jl|{seed}|{i}|{j}".encode()).hexdigest()
        return "+" if int(d[0], 16) % 2 == 0 else "-"

    comps = []
    for i in range(out_dim):
        terms = " ".join(
            f"{sign(i, j)} CAST(embedding[{j + 1}] AS DOUBLE)"
            for j in range(in_dim))
        comps.append(
            f"round((({terms.lstrip('+ ')}) * (1.0 / sqrt({out_dim}.0)))"
            f" * 1000000) / 1000000.0")
    arr = ",\n           ".join(
        f"CAST(round(({c}) * 1000000) AS BIGINT)" for c in comps)
    return (
        "SELECT vec_id,\n"
        f"       array_to_string([{arr}], ',') AS proj_u\n"
        "FROM embeddings WHERE vec_id < 100"
    )


ORACLE_TEXT["jl_projection"] = _jl_sql(64, 16, 42)

# Spark side: operators/dedup.py minhash_calibration (registry:
# defaults — 16 hashes, 8 bands, max_bucket 500, no threshold filter).
# Same sig/band/cold/candidate construction as _minhash_sql; the
# estimate is integer micro-units (matches * 1e6/num_hashes), the
# exact Jaccard rounds once per pair, and every average is an exact
# integer sum divided once — identical doubles in both engines.
def _minhash_calibration_sql(num_hashes: int = 16, bands: int = 8,
                             max_bucket: int = 500) -> str:
    rows = num_hashes // bands

    def h(i: int) -> str:
        j, t = divmod(i, 4)
        return (f"('0x' || substr(md5('{j}|' || s), {1 + 8 * t}, 8))"
                "::BIGINT")

    mins = ",\n           ".join(
        f"min({h(i)}) AS mh_{i}" for i in range(num_hashes))
    keys = ",\n        ".join(
        "'{b}_' || {parts}".format(
            b=bi, parts=" || '_' || ".join(
                f"mh_{bi * rows + r}" for r in range(rows)))
        for bi in range(bands))
    match_sum = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes))
    unit = 1_000_000 // num_hashes
    return f"""
WITH sh AS ({_SHINGLES}),
nonempty AS (SELECT doc, shingles FROM sh WHERE len(shingles) > 0),
post AS (SELECT doc, unnest(shingles) AS s FROM nonempty),
sig AS (
    SELECT doc,
           {mins}
    FROM post GROUP BY doc
),
bands AS (
    SELECT doc, unnest([
        {keys}
    ]) AS band_key
    FROM sig
),
cold AS (SELECT band_key FROM bands GROUP BY 1
         HAVING count(*) <= {max_bucket}),
bk AS (SELECT doc, band_key FROM bands
       WHERE band_key IN (SELECT band_key FROM cold)),
cand AS (
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
    FROM bk a JOIN bk b ON a.band_key = b.band_key AND a.doc < b.doc
),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_inter
    FROM post a JOIN post b ON a.s = b.s AND a.doc < b.doc
    GROUP BY 1, 2
),
sz AS (SELECT doc, len(shingles) AS n_sh FROM nonempty),
per_pair AS (
    -- LEFT JOIN + coalesce: an LSH candidate pair whose shingle sets
    -- are disjoint (pure min-hash collision) has no inter row but the
    -- Spark side still emits it with n_inter=0 in decile 0 — an INNER
    -- join here would silently drop it and understate decile-0 error
    SELECT c.doc_a, c.doc_b,
           ({match_sum}) * {unit} AS est_u,
           CAST(round(coalesce(i.n_inter, 0) * 1000000
                / (sa2.n_sh + sb2.n_sh - coalesce(i.n_inter, 0)))
                AS BIGINT) AS j_u,
           CAST(least(9, floor(coalesce(i.n_inter, 0) * 10
                               / (sa2.n_sh + sb2.n_sh
                                  - coalesce(i.n_inter, 0))))
                AS INT) AS j_bucket
    FROM cand c
    JOIN sig sa ON sa.doc = c.doc_a
    JOIN sig sb ON sb.doc = c.doc_b
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sz sa2 ON sa2.doc = c.doc_a
    JOIN sz sb2 ON sb2.doc = c.doc_b
)
SELECT j_bucket,
       count(*) AS n_pairs,
       round(CAST(sum(est_u) AS BIGINT) / count(*) / 1000000.0 * 10000)
           / 10000.0 AS avg_est,
       round(CAST(sum(j_u) AS BIGINT) / count(*) / 1000000.0 * 10000)
           / 10000.0 AS avg_exact,
       round(CAST(sum(abs(est_u - j_u)) AS BIGINT) / count(*)
             / 1000000.0 * 10000) / 10000.0 AS avg_abs_err
FROM per_pair GROUP BY j_bucket
"""


ORACLE_TEXT["minhash_calibration"] = _minhash_calibration_sql()


# Spark side: operators/classify.py nb_quality_scores (registry
# quality_classifier_scores, oracle-paired since r9). Full training
# replay: heuristic-extreme labels (the quality_filter_report
# machinery) gated to a deterministic md5 training sample past 2x
# train_cap=10000 docs (the ANN _md5_sample_gate construction),
# labeled unigram+bigram OCCURRENCE counts, top-2048 vocabulary (ties
# to the smaller gram), exact-integer multinomial-NB centered-odds
# weights (scale 1000) via the shared round-half-away integer formula
# (no transcendental log -> no ulp drift), int64 count scoring, and
# the calibrated decision cut = k-th smallest labeled-sample score
# (k = #negative sampled docs, ties by doc id). DuckDB's integer sums
# promote to HUGEINT where the Spark side guards loudly; final
# columns cast back to BIGINT.
def _nb_quality_sql(train_cap: int = 10_000) -> str:
    """Parameterized on train_cap so the md5-sampled training path
    (gate fires past 2x the cap) can be oracle-verified end-to-end on
    a small corpus (r10: verdict item 3) — the registered default
    replays the engine's default cap."""
    return rf"""
WITH t AS (
    SELECT doc_id, lang, regexp_split_to_array(trim(text, ' '), '\s+') AS toks
    FROM documents WHERE text IS NOT NULL
),
g AS (
    SELECT doc_id, lang,
           toks || list_transform(range(1, len(toks)),
               i -> toks[i] || ' ' || toks[i+1]) AS grams,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_filter(toks, x -> x IN {_STOPLIST})) AS INT)
               AS n_stop
    FROM t
),
q AS (
    SELECT *, round((least(n_tokens, 500) / 500.0 + n_stop / n_tokens) / 2
                    * 1000000) / 1000000.0 AS q
    FROM g
),
th AS (SELECT lang, quantile_cont(q, 0.25) AS lo,
              quantile_cont(q, 0.75) AS hi
       FROM q GROUP BY 1),
lab0 AS (
    SELECT q.doc_id, q.grams,
           CASE WHEN q.q >= th.hi THEN 1 WHEN q.q <= th.lo THEN 0 END
               AS label
    FROM q JOIN th USING (lang)
    WHERE q.q >= th.hi OR q.q <= th.lo
),
gate AS (SELECT count(*) AS n, greatest(2, count(*) // {train_cap}) AS denom,
                (count(*) > {2 * train_cap}) AS sampled
         FROM lab0),
lab AS (
    SELECT lab0.* FROM lab0, gate
    WHERE NOT gate.sampled
       OR ('0x' || substr(md5(CAST(lab0.doc_id AS VARCHAR)), 1, 8))::BIGINT
          % gate.denom = 0
),
inst AS (SELECT doc_id, label, unnest(grams) AS term FROM lab),
tot AS (
    SELECT CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS ta,
           CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS tb
    FROM inst
),
cnt AS (
    SELECT term,
           CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
           CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b
    FROM inst GROUP BY term
),
vocab AS (SELECT term, a, b FROM cnt ORDER BY (a + b) DESC, term ASC
          LIMIT 2048),
w AS (
    SELECT term,
           CAST(CASE WHEN s >= 0 THEN (2*s + d) // (2*d)
                ELSE -((-2*s + d) // (2*d)) END AS BIGINT) AS w
    FROM (SELECT term,
                 1000 * ((a + 1) * (tb + 2048)
                         - (b + 1) * (ta + 2048)) AS s,
                 (a + 1) * (tb + 2048) + (b + 1) * (ta + 2048) AS d
          FROM vocab, tot)
),
sc AS (
    SELECT doc_id, CAST(sum(w.w) AS BIGINT) AS score_micro,
           CAST(count(*) AS BIGINT) AS n_hits
    FROM (SELECT doc_id, unnest(grams) AS term FROM g) dt
    JOIN w USING (term)
    GROUP BY doc_id
),
allsc AS (
    SELECT g.doc_id, g.lang,
           COALESCE(sc.n_hits, 0) AS n_hits,
           COALESCE(sc.score_micro, 0) AS score_micro
    FROM g LEFT JOIN sc USING (doc_id)
),
ranked AS (
    SELECT a2.score_micro,
           row_number() OVER (ORDER BY a2.score_micro, a2.doc_id) AS r
    FROM allsc a2 JOIN (SELECT doc_id FROM lab) lb USING (doc_id)
),
nneg AS (SELECT CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS k FROM lab),
-- COALESCE mirrors the engine's degenerate branch: k = 0 (no negative
-- labels) -> cut = int64-min -> predicted = 1 everywhere
thr AS (SELECT COALESCE(
            (SELECT score_micro FROM ranked, nneg WHERE r = k),
            -9223372036854775807) AS cut)
SELECT a2.doc_id, a2.lang, a2.n_hits, a2.score_micro,
       CAST(a2.score_micro > thr.cut AS INT) AS predicted
FROM allsc a2, thr
ORDER BY a2.doc_id
"""


ORACLE_TEXT["quality_classifier_scores"] = _nb_quality_sql()


# Spark side: registry gopher_quality_report (functions/text.py
# gopher_features — Rae et al. 2021 Gopher rules). Every count is a
# plain integer and every flag a cross-multiplied integer comparison,
# so no rounding contract is needed anywhere. Regex counts stay inside
# the Java-regex/RE2 common subset ((^|\n) groups, no lookahead).
ORACLE_TEXT["gopher_quality_report"] = rf"""
WITH t AS (
    SELECT doc_id, text,
           regexp_split_to_array(trim(text, ' '), '\s+') AS toks
    FROM documents WHERE text IS NOT NULL
),
c AS (
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(toks, w -> len(w)))
                AS BIGINT) AS sum_word_len,
           CAST(len(list_filter(toks,
                w -> regexp_matches(w, '[A-Za-z]')))
                AS BIGINT) AS n_alpha_words,
           CAST(len(list_intersect(list_distinct(toks),
                ['the','a','of','and','is','in','to']))
                AS BIGINT) AS n_stop_distinct,
           CAST(len(regexp_extract_all(text, '#'))
                + len(regexp_extract_all(text, '\.\.\.|…'))
                AS BIGINT) AS n_symbols,
           CAST(len(regexp_extract_all(text, '\n')) + 1
                AS BIGINT) AS n_lines,
           CAST(len(regexp_extract_all(text, '(^|\n)[ \t]*[-*•]'))
                AS BIGINT) AS n_bullet_lines,
           CAST(len(regexp_extract_all(text, '(\.\.\.|…)[ \t]*(\n|$)'))
                AS BIGINT) AS n_ellipsis_end
    FROM t
)
SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_stop_distinct,
       n_symbols, n_lines, n_bullet_lines, n_ellipsis_end,
       CAST(n_words >= 50 AND n_words <= 100000 AS INT) AS f_word_count,
       CAST(3 * n_words <= sum_word_len
            AND sum_word_len <= 10 * n_words AS INT) AS f_mean_word_len,
       CAST(10 * n_symbols <= n_words AS INT) AS f_symbol_ratio,
       CAST(10 * n_bullet_lines <= 9 * n_lines AS INT) AS f_bullet_lines,
       CAST(10 * n_ellipsis_end <= 3 * n_lines AS INT) AS f_ellipsis_end,
       CAST(5 * n_alpha_words >= 4 * n_words AS INT) AS f_alpha_words,
       CAST(n_stop_distinct >= 2 AS INT) AS f_stopwords,
       CAST(n_words >= 50 AND n_words <= 100000
            AND 3 * n_words <= sum_word_len
            AND sum_word_len <= 10 * n_words
            AND 10 * n_symbols <= n_words
            AND 10 * n_bullet_lines <= 9 * n_lines
            AND 10 * n_ellipsis_end <= 3 * n_lines
            AND 5 * n_alpha_words >= 4 * n_words
            AND n_stop_distinct >= 2 AS INT) AS gopher_pass
FROM c
ORDER BY doc_id
"""


# Spark side: registry c4_quality_report (functions/text.py
# c4_line_keep_expr / c4_features — Raffel et al. 2020 C4 rules).
# Kept line = >= 5 whitespace words AND terminal-punctuation ending;
# sentence count over the kept lines joined with '\n'; page gates on
# 'lorem ipsum' (lowercased) and '{'. Pure integers + 0/1 flags.
ORACLE_TEXT["c4_quality_report"] = rf"""
WITH s AS (
    SELECT doc_id,
           CASE WHEN doc_id % 17 = 0 THEN rp || '{{'
                WHEN doc_id % 23 = 0 THEN rp || chr(10) || 'lorem ipsum'
                ELSE rp END AS text
    FROM (SELECT doc_id,
                 regexp_replace(text, '((\S+\s+){{6}}\S+)\s+',
                                '\1.' || chr(10), 'g') AS rp
          FROM documents WHERE text IS NOT NULL)
),
t AS (
    SELECT doc_id, text, string_split(text, chr(10)) AS lines
    FROM s
),
k AS (
    SELECT doc_id, text, lines,
           list_filter(lines,
               l -> len(regexp_split_to_array(trim(l, ' '), '\s+')) >= 5
                    AND regexp_matches(l, '[.!?"][ \t]*$')) AS kept
    FROM t
),
c AS (
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept_lines,
           CAST(len(regexp_extract_all(
               list_aggregate(kept, 'string_agg', chr(10)), '[.!?]'))
               AS BIGINT) AS n_sentences,
           CAST(contains(translate(text,
                    'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                    'abcdefghijklmnopqrstuvwxyz'),
                'lorem ipsum') AS INT) AS has_lorem,
           CAST(contains(text, '{{') AS INT) AS has_brace
    FROM k
)
SELECT doc_id, n_lines, n_kept_lines,
       COALESCE(n_sentences, 0) AS n_sentences, has_lorem, has_brace,
       CAST(COALESCE(n_sentences, 0) >= 3 AS INT) AS f_min_sentences,
       CAST(COALESCE(n_sentences, 0) >= 3 AND has_lorem = 0
            AND has_brace = 0 AS INT) AS c4_pass
FROM c
ORDER BY doc_id
"""
