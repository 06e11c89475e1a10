"""DuckDB oracle SQL twins for the query catalog.

Each string is ANSI-ish SQL the driver runs in DuckDB over the same
parquet tables (pre-registered views). Column names/aliases match the
Spark plans in catalog.py exactly; doubles are rounded identically;
hashes are md5 (hex-identical across engines).
"""

from collections.abc import Callable

ORACLES: dict[str, str] = {}

ORACLES["kg_node_merge_u1"] = """
SELECT CAST(c_custkey AS VARCHAR) AS id,
       CAST(CASE WHEN c_acctbal > 500 THEN 2000 ELSE 1000 END AS BIGINT) AS lastupdated,
       CAST(CASE WHEN c_acctbal <= 800 THEN 1000 ELSE 2000 END AS BIGINT) AS firstseen_epoch,
       ROUND(CASE WHEN c_acctbal > 500 THEN c_acctbal + 100 ELSE c_acctbal END, 2)::DOUBLE AS bal
FROM customer
WHERE c_acctbal <= 800 OR c_acctbal > 500
"""

ORACLES["kg_typed_index_scan"] = """
SELECT 'Customer' AS label,
       CAST(c_custkey AS VARCHAR) AS id,
       CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
FROM customer
WHERE c_acctbal <= 800 AND CAST(ROUND(c_acctbal * 100) AS BIGINT) > 75000
UNION ALL
SELECT 'Vip' AS label,
       CAST(c_custkey AS VARCHAR) AS id,
       CAST(ROUND((c_acctbal + 100) * 100) AS BIGINT) AS bal_cents
FROM customer
WHERE c_acctbal > 500 AND CAST(ROUND((c_acctbal + 100) * 100) AS BIGINT) > 75000
"""

ORACLES["kg_cleanup_stale_c1"] = """
SELECT n.n_name AS n_name, COUNT(*) AS n_stale
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n.n_name
"""

ORACLES["kg_link_exact_j2"] = """
SELECT 'U' || CAST(u.user_id AS VARCHAR) AS src,
       'C' || CAST(c.c_custkey AS VARCHAR) AS dst,
       'ACTS_AS' AS rel_label
FROM (SELECT DISTINCT user_id FROM events) u
JOIN customer c ON u.user_id = c.c_custkey
"""

ORACLES["kg_link_ignorecase_j3"] = """
WITH dim(seg) AS (VALUES ('Building'), ('mACHINERY'), ('AutoMobile'))
SELECT c.c_custkey AS c_custkey, d.seg AS seg
FROM customer c JOIN dim d ON lower(c.c_mktsegment) = lower(d.seg)
"""

ORACLES["kg_link_fuzzy_j4"] = """
WITH dim(frag) AS (VALUES ('econ'), ('Stand'), ('LARG'), ('med'))
SELECT p.p_partkey AS p_partkey, d.frag AS frag
FROM part p JOIN dim d ON strpos(lower(p.p_type), lower(d.frag)) > 0
"""

ORACLES["kg_link_one_to_many_j5"] = """
WITH vocab(word, word_id) AS (VALUES ('spark', 1), ('join', 2), ('merge', 3)),
w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
SELECT w.doc_id AS doc_id, v.word AS word, v.word_id AS word_id
FROM w JOIN vocab v ON w.word = v.word
"""

ORACLES["kg_matchlink_j7"] = """
SELECT 'S' || CAST(s.s_suppkey AS VARCHAR) AS src,
       'P' || CAST(p.p_partkey AS VARCHAR) AS dst,
       COUNT(*) AS n,
       'SUPPLIES' AS rel_label
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1, 2
"""

ORACLES["kg_cc_canonical"] = """
SELECT CAST(n_nationkey AS BIGINT) AS id,
       CAST(MIN(n_nationkey) OVER (PARTITION BY n_regionkey) AS BIGINT) AS component
FROM nation
"""

ORACLES["kg_var_length_path_j8"] = """
SELECT 'N' || CAST(c_nationkey AS VARCHAR) AS node
FROM customer WHERE c_custkey < 10
UNION
SELECT 'R' || CAST(n.n_regionkey AS VARCHAR) AS node
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_custkey < 10
"""

ORACLES["kg_exposure_analysis_n1"] = """
WITH eu AS (SELECT r_regionkey FROM region WHERE r_name = 'EUROPE')
SELECT 'R' || CAST(r_regionkey AS VARCHAR) AS id, 'seed' AS via FROM eu
UNION ALL
SELECT 'N' || CAST(n_nationkey AS VARCHAR) AS id, 'seed->HAS_NATION' AS via
FROM nation WHERE n_regionkey IN (SELECT r_regionkey FROM eu)
UNION ALL
SELECT 'C' || CAST(c_custkey AS VARCHAR) AS id, 'seed->HAS_NATION->HAS_CUSTOMER' AS via
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE n.n_regionkey IN (SELECT r_regionkey FROM eu)
"""

ORACLES["kg_policy_eval_j6"] = """
WITH pol(pid, rx) AS (VALUES
  ('pol1', '(?i)^PROM.*$'),
  ('pol2', '(?i)^.?CONOMY$'),
  ('pol3', '(?i)^S.*$'),
  ('pol4', '(?i)^.*dium$'))
SELECT pol.pid AS pid, p.p_partkey AS p_partkey, p.p_type AS p_type
FROM part p JOIN pol ON regexp_matches(p.p_type, pol.rx)
"""

# Full statement-list Allow/Deny resolution, replicated step for step:
# reference-exact wildcard compile (escape '.', *->.*, ?->.?, (?i)
# fullmatch), action/notaction applicability, resource/notresource
# match, first-determined-permission via arg_min, deny-before-allow at
# a permission via bool_or, any-policy-deny override at the end.
ORACLES["kg_policy_allow_deny"] = r"""
WITH stmts(principal_id, policy_id, statement_idx, effect, action, notaction, resource, notresource) AS (
  VALUES
  ('admin','admin-pol',0,'Allow',['read:*'],NULL,['*'],NULL),
  ('reader','reader-allow',0,'Allow',['read:Object'],NULL,['PROM*'],NULL),
  ('reader','reader-deny',0,'Deny',['*'],NULL,['*BRASS'],NULL),
  ('negator','neg-pol',0,'Allow',NULL,['read:*'],['*'],NULL),
  ('notres','notres-pol',0,'Allow',['read:*'],NULL,['*'],['STANDARD*']),
  ('ordered','ord-deny',0,'Deny',['write:Object'],NULL,['*'],NULL),
  ('ordered','ord-allow',0,'Allow',['read:Object'],NULL,['ECONOMY*'],NULL)
),
perms(perm_idx, permission) AS (VALUES (0, 'write:Object'), (1, 'read:Object')),
res AS (SELECT DISTINCT p_type AS resource_arn FROM part),
sp AS (
  SELECT s.*, p.perm_idx, p.permission
  FROM stmts s, perms p
  WHERE (s.action IS NULL OR len(list_filter(s.action,
           c -> regexp_full_match(p.permission,
                '(?i)^' || replace(replace(replace(c, '.', '\.'), '*', '.*'), '?', '.?') || '$'))) > 0)
    AND NOT (s.notaction IS NOT NULL AND len(list_filter(s.notaction,
           c -> regexp_full_match(p.permission,
                '(?i)^' || replace(replace(replace(c, '.', '\.'), '*', '.*'), '?', '.?') || '$'))) > 0)
),
matched AS (
  SELECT sp.principal_id, sp.policy_id, r.resource_arn, sp.perm_idx,
         CASE WHEN sp.effect = 'Deny' THEN 1 ELSE 0 END AS deny
  FROM sp, res r
  WHERE sp.resource IS NOT NULL AND len(list_filter(sp.resource,
          c -> regexp_full_match(r.resource_arn,
               '(?i)^' || replace(replace(replace(c, '.', '\.'), '*', '.*'), '?', '.?') || '$'))) > 0
    AND NOT (sp.notresource IS NOT NULL AND len(list_filter(sp.notresource,
          c -> regexp_full_match(r.resource_arn,
               '(?i)^' || replace(replace(replace(c, '.', '\.'), '*', '.*'), '?', '.?') || '$'))) > 0)
),
per_perm AS (
  SELECT principal_id, policy_id, resource_arn, perm_idx, MAX(deny) AS deny_here
  FROM matched GROUP BY 1, 2, 3, 4
),
det AS (
  SELECT principal_id, policy_id, resource_arn,
         arg_min(deny_here, perm_idx) AS denied
  FROM per_perm GROUP BY 1, 2, 3
)
SELECT principal_id, resource_arn
FROM det
GROUP BY principal_id, resource_arn
HAVING bool_or(denied = 1) = false AND bool_or(denied = 0)
"""

ORACLES["kg_mention_triples"] = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS obj FROM documents)
SELECT doc_id AS doc_id, 'mentions' AS pred, obj AS obj, COUNT(*) AS n_mentions
FROM toks
WHERE obj IN ('spark', 'join', 'merge', 'filter', 'scan', 'hash')
GROUP BY doc_id, obj
"""

ORACLES["kg_bigram_triples"] = """
WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents WHERE len(string_split(text, ' ')) >= 2),
p AS (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM t)
SELECT toks[i] AS subj, toks[i + 1] AS obj, COUNT(*) AS n, 'precedes' AS pred
FROM p
WHERE toks[i] IN ('spark', 'join', 'merge', 'filter')
GROUP BY 1, 2
"""

ORACLES["agg_events_a1"] = """
SELECT user_id AS user_id, event_type AS event_type, COUNT(*) AS times_used,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_used
FROM events GROUP BY user_id, event_type
"""

ORACLES["agg_pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)::DOUBLE AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)::DOUBLE AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)::DOUBLE AS sum_disc_price,
       ROUND(AVG(l_discount), 4)::DOUBLE AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["agg_cube_rollup"] = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2)::DOUBLE AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

ORACLES["window_running_total"] = """
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)::DOUBLE
         AS running_total
FROM orders WHERE o_custkey < 50
"""

ORACLES["agg_salted_skew"] = """
SELECT CASE WHEN event_type IN ('click','view','error') THEN 'hot'
            ELSE event_type END AS hot_key,
       COUNT(event_id) AS n,
       ROUND(SUM(value), 2)::DOUBLE AS total,
       MIN(user_id) AS first_user
FROM events GROUP BY 1
"""

# Point-in-interval join: events vs their user's 8h-gap session
# intervals. Oracle = the straightforward BETWEEN theta-join over
# independently re-derived sessions (DuckDB plans IEJoin); the Spark
# side is the bucketized equi-join, so a green hash proves the
# bucket-explode + exact-filter formulation equals the range join.
ORACLES["join_interval"] = """
WITH b AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 28800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM b
),
g AS (
  SELECT user_id, session_seq, MIN(ts) AS lo, MAX(ts) AS hi
  FROM s GROUP BY user_id, session_seq
)
SELECT e.event_id AS event_id, e.user_id AS user_id,
       CAST(g.session_seq AS BIGINT) AS session_seq
FROM events e
JOIN g ON e.user_id = g.user_id AND e.ts BETWEEN g.lo AND g.hi
"""

# Semi-structured extraction: typed JSON field per event type;
# missing/malformed keys are NULL in both engines.
ORACLES["events_json_props"] = """
SELECT event_type AS event_type,
       COUNT(*) AS n,
       SUM(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
       ROUND(AVG(json_extract(props, '$.k')::BIGINT), 4)::DOUBLE AS avg_k,
       SUM(CASE WHEN json_extract(props, '$.k') IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_missing
FROM events
GROUP BY event_type
"""

# Exact grouped percentiles: Spark percentile() and DuckDB
# quantile_cont() share the linear-interpolation definition, so the
# values hash-match with no tolerance.
ORACLES["agg_percentiles"] = """
SELECT event_type AS event_type,
       COUNT(*) AS n,
       ROUND(quantile_cont(value, 0.5), 4)::DOUBLE AS p50,
       ROUND(quantile_cont(value, 0.95), 4)::DOUBLE AS p95,
       ROUND(quantile_cont(value, 0.99), 4)::DOUBLE AS p99
FROM events
GROUP BY event_type
"""

# Gap-based sessionization: lag boundary flag -> running-sum session
# number -> per-session aggregates, 8h gap (strictly greater breaks).
# Durations are exact integer microseconds (no float rounding).
ORACLES["agg_sessionize"] = """
WITH b AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 28800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM b
)
SELECT user_id AS user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us,
       ROUND(SUM(value), 2)::DOUBLE AS sum_value
FROM s
GROUP BY user_id, session_seq
"""

ORACLES["agg_dedup_lastwins_a2"] = """
SELECT user_id AS user_id, event_type AS last_event_type,
       ROUND(value, 2)::DOUBLE AS last_value
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
WHERE rn = 1
"""

ORACLES["agg_window_topk_o1"] = """
SELECT o_orderpriority, o_orderkey, ROUND(o_totalprice, 2)::DOUBLE AS o_totalprice,
       CAST(rn AS BIGINT) AS rn
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
WHERE rn <= 3
"""

ORACLES["join_multihop_j8"] = """
SELECT n.n_name AS n_name,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)::DOUBLE AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""

# As-of join: DuckDB's NATIVE ASOF JOIN is the twin for the Spark
# union-tag + carry-forward-window formulation — the strongest kind of
# oracle (independent algorithm, engine-native semantics). Equal
# timestamps match (>=); unmatched clicks keep NULL payload.
ORACLES["join_asof"] = """
WITH e AS (SELECT * FROM events)
SELECT c.event_id AS click_id, c.user_id AS user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
       v.event_id AS view_id,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
       v.value AS view_value
FROM (SELECT * FROM e WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM e WHERE event_type = 'view') v
  ON c.user_id = v.user_id AND c.ts >= v.ts
"""

ORACLES["join_semi_anti"] = """
SELECT n.n_name AS n_name, COUNT(*) AS n_without_orders
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
GROUP BY n.n_name
"""

ORACLES["set_union_x1"] = """
SELECT 'C' || CAST(c_custkey AS VARCHAR) AS entity FROM customer WHERE c_acctbal > 900
UNION
SELECT 'C' || CAST(user_id AS VARCHAR) AS entity FROM events WHERE event_type = 'signup'
"""

ORACLES["set_drift_x2"] = """
WITH s AS (SELECT o_orderkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
     e AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 50)
SELECT o_orderkey, 'added' AS change FROM (SELECT * FROM e EXCEPT ALL SELECT * FROM s)
UNION ALL
SELECT o_orderkey, 'removed' AS change FROM (SELECT * FROM s EXCEPT ALL SELECT * FROM e)
"""

ORACLES["incremental_watermark_s2"] = """
WITH hwm AS (SELECT MAX(ts) AS hwm FROM events
             WHERE event_type = 'signup' AND ts < TIMESTAMP '2024-01-15')
SELECT e.event_id AS event_id, e.user_id AS user_id
FROM events e, hwm
WHERE e.ts > hwm.hwm AND e.event_type = 'signup'
"""

ORACLES["dedup_exact"] = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS group_size
FROM documents GROUP BY md5(text)
"""

# MinHash-LSH with the md5 hash family, replicated step for step:
# distinct char-3-gram shingles -> 8 minhashes (min md5 of "i:shingle")
# -> 4 bands of 2 -> band-key self-join -> pair dedup -> exact Jaccard
# verify at 0.6.
ORACLES["dedup_minhash_lsh"] = """
WITH d AS (
  SELECT doc_id,
         list_distinct([substr(lower(text), i, 3)
                        FOR i IN generate_series(1, greatest(len(text) - 2, 1))]) AS sh
  FROM documents
),
sg AS (
  SELECT doc_id, sh,
         [list_min([md5(CAST(h AS VARCHAR) || ':' || s) FOR s IN sh])
          FOR h IN generate_series(0, 7)] AS sig
  FROM d
),
bd AS (
  SELECT doc_id,
         unnest([md5(CAST(b AS VARCHAR) || '|' || sig[2 * b + 1] || '|' || sig[2 * b + 2])
                 FOR b IN generate_series(0, 3)]) AS band_key
  FROM sg
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bd a JOIN bd b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT c.id_a AS id_a, c.id_b AS id_b,
       ROUND(len(list_intersect(da.sh, db.sh))::DOUBLE
             / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 4)::DOUBLE AS jaccard
FROM cand c
JOIN d da ON da.doc_id = c.id_a
JOIN d db ON db.doc_id = c.id_b
WHERE ROUND(len(list_intersect(da.sh, db.sh))::DOUBLE
            / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 4) >= 0.6
"""

# C4-style PII scrub: inject a deterministic email+URL+IPv4 per doc,
# then replicate the redaction chain (email -> url -> ipv4, global
# replace) in RE2. md5(redacted) makes any regex-semantics divergence
# between Java regex and RE2 flip the hash. Counts are taken on the
# progressively-redacted text, same as pii_counts.
ORACLES["text_redact_pii"] = """
WITH t AS (
  SELECT doc_id,
         'contact u' || doc_id || '@ex.org or https://s' || (doc_id % 50)
         || '.example/a?x=1 ip 10.' || (doc_id % 256) || '.0.'
         || ((doc_id * 7) % 256) || ' ' || text AS tt
  FROM documents
),
r1 AS (
  SELECT doc_id,
         len(regexp_extract_all(tt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
         regexp_replace(tt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<PII>', 'g') AS t1
  FROM t
),
r2 AS (
  SELECT doc_id, n_email,
         len(regexp_extract_all(t1, 'https?://\\S+')) AS n_url,
         regexp_replace(t1, 'https?://\\S+', '<PII>', 'g') AS t2
  FROM r1
),
r3 AS (
  SELECT doc_id, n_email, n_url,
         len(regexp_extract_all(t2, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ipv4,
         regexp_replace(t2, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<PII>', 'g') AS t3
  FROM r2
)
SELECT doc_id AS doc_id,
       CAST(n_email AS BIGINT) AS n_email,
       CAST(n_url AS BIGINT) AS n_url,
       CAST(n_ipv4 AS BIGINT) AS n_ipv4,
       md5(t3) AS redacted_md5,
       CAST(len(t3) AS BIGINT) AS n_chars_redacted
FROM r3
"""

# Bottom-k containment sketch (k=16 smallest md5s of the distinct word
# 4-grams). The twin re-derives the coordinated sample bit-exactly:
# candidates share a bottom-k hash, K = bottom-k of the sketch union,
# containment(A in B) = |K∩skA∩skB| / |K∩skA|. The Spark side's
# max_bucket hot-hash cap (100000) never fires at gate scale, so the
# uncapped twin is exact here.
ORACLES["dedup_containment"] = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id,
         list_distinct([array_to_string(list_slice(toks, i, i + 3), ' ')
                        FOR i IN generate_series(1, greatest(len(toks) - 3, 1))]) AS sh
  FROM t
),
sk AS (
  SELECT doc_id, list_slice(list_sort([md5(s) FOR s IN sh]), 1, 16) AS sk
  FROM g
),
h AS (SELECT doc_id, unnest(sk) AS h FROM sk),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM h a JOIN h b ON a.h = b.h AND a.doc_id < b.doc_id
),
p AS (
  SELECT c.id_a, c.id_b, sa.sk AS ska, sb.sk AS skb,
         list_slice(list_sort(list_distinct(list_concat(sa.sk, sb.sk))), 1, 16) AS ku
  FROM cand c
  JOIN sk sa ON sa.doc_id = c.id_a
  JOIN sk sb ON sb.doc_id = c.id_b
),
m AS (
  SELECT id_a, id_b,
         len(list_intersect(list_intersect(ku, ska), skb)) AS nboth,
         len(list_intersect(ku, ska)) AS na,
         len(list_intersect(ku, skb)) AS nb,
         len(ku) AS nk
  FROM p
)
SELECT id_a AS id_a, id_b AS id_b,
       COALESCE(ROUND(nboth / NULLIF(na, 0), 4), 0.0)::DOUBLE AS containment_ab,
       COALESCE(ROUND(nboth / NULLIF(nb, 0), 4), 0.0)::DOUBLE AS containment_ba,
       ROUND(nboth / nk, 4)::DOUBLE AS jaccard_est
FROM m
WHERE greatest(COALESCE(ROUND(nboth / NULLIF(na, 0), 4), 0.0),
               COALESCE(ROUND(nboth / NULLIF(nb, 0), 4), 0.0)) >= 0.5
"""

ORACLES["dedup_ngram_jaccard"] = """
WITH d AS (
  SELECT doc_id, lang,
         list_distinct([substr(lower(text), i, 3)
                        FOR i IN generate_series(1, greatest(len(text) - 2, 1))]) AS sh
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)::DOUBLE AS jaccard
FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) >= 0.6
"""

def _mis_oracle_sql(rounds: int = 8, mod: int = 1) -> str:
    """Twin for ``dedup_retention_mis``: the ngram-Jaccard pair graph
    (same CTE spelling as the ``dedup_ngram_jaccard`` oracle) then
    ``rounds`` unrolled fixed-priority MIS rounds — per round a node
    joins the keep set iff its ``pri:id`` sort key (md5 hex is fixed
    32 chars, so string concat comparison == (pri, id) lexicographic)
    beats every still-active neighbor's, and winners' neighbors
    retire. Fixed priorities make the fixpoint the greedy MIS of the
    priority order, so extra rounds are no-ops; if ``rounds`` were
    ever too few the leftover actives would surface as kept=false
    mismatches, not silent agreement. Chained CTEs are MATERIALIZED
    per the module's anti-inlining idiom. ``mod`` mirrors the gate's
    above-driver-scale doc_id%mod universe restriction (1 = all
    docs at sf0.01)."""
    key_a = "a.pri || ':' || lpad(a.id::VARCHAR, 20, '0')"
    key_b = "b.pri || ':' || lpad(b.id::VARCHAR, 20, '0')"
    parts = [
        f"""pgd AS MATERIALIZED (
  SELECT doc_id, lang,
         list_distinct([substr(lower(text), i, 3)
                        FOR i IN generate_series(1, greatest(len(text) - 2, 1))]) AS sh
  FROM documents WHERE doc_id % {mod} = 0),
pg AS MATERIALIZED (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM pgd a JOIN pgd b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) >= 0.6),
und AS MATERIALIZED (
  SELECT src, dst FROM pg UNION SELECT dst AS src, src AS dst FROM pg),
a0 AS MATERIALIZED (
  SELECT doc_id AS id, md5(doc_id::VARCHAR) AS pri
  FROM documents WHERE doc_id % {mod} = 0)"""
    ]
    for i in range(rounds):
        parts.append(
            f"""w{i} AS MATERIALIZED (
  SELECT a.id FROM a{i} a
  LEFT JOIN (
    SELECT u.src AS id, MIN({key_b}) AS mn
    FROM und u JOIN a{i} b ON b.id = u.dst
    GROUP BY u.src) m ON m.id = a.id
  WHERE m.mn IS NULL OR ({key_a}) < m.mn),
a{i + 1} AS MATERIALIZED (
  SELECT a.id, a.pri FROM a{i} a
  WHERE a.id NOT IN (SELECT id FROM w{i})
    AND a.id NOT IN (SELECT u.dst FROM und u JOIN w{i} w ON w.id = u.src))"""
        )
    kept_union = "\n  UNION ALL ".join(f"SELECT id FROM w{i}" for i in range(rounds))
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
kept AS MATERIALIZED ({kept_union})
SELECT a.id AS doc_id, (a.id IN (SELECT id FROM kept)) AS kept
FROM a0 a ORDER BY a.id
"""
    )


# Excision twin: same coverage rule (token i cut iff a repeated-gram
# start lies in [i-4, i]) replayed as a DuckDB list comprehension;
# md5(clean_text) makes the verdict byte-exact.
ORACLES["dedup_excise_repeated"] = """
WITH t AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g0 AS MATERIALIZED (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS pos
  FROM t),
g AS MATERIALIZED (
  SELECT doc_id, pos, array_to_string(toks[pos:pos + 4], ' ') AS gram
  FROM g0),
rep AS MATERIALIZED (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
hits AS MATERIALIZED (
  SELECT g.doc_id, list_sort(list(DISTINCT g.pos)) AS starts
  FROM g JOIN rep USING (gram) GROUP BY g.doc_id),
m AS MATERIALIZED (
  SELECT t.doc_id, len(t.toks) AS n_tokens,
         COALESCE(h.starts, []::BIGINT[]) AS starts, t.toks
  FROM t LEFT JOIN hits h ON h.doc_id = t.doc_id),
k AS (
  SELECT doc_id, n_tokens,
         [toks[i] FOR i IN generate_series(1, len(toks))
          IF len(list_filter(starts, s -> s <= i AND i < s + 5)) = 0] AS kept
  FROM m)
SELECT doc_id, n_tokens, n_tokens - len(kept) AS n_removed,
       md5(COALESCE(array_to_string(kept, ' '), '')) AS clean_md5
FROM k ORDER BY doc_id
"""


# Per-doc quality features and score (the expression of
# operators/textstats.py::text_quality), shared by the text_quality and
# domain_quality twins. Spark computes it independently.
_QUALITY_CTES = """
f AS (
  SELECT doc_id, source,
         CAST(len(text) AS BIGINT) AS n_chars_calc,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct,
         len(list_filter(string_split(text, ' '),
             t -> t IN ('the','a','of','and','is','to','in','that','it','with',
                        'was','for','on','as','are','at','be'))) AS stop
  FROM documents
),
r AS (
  SELECT doc_id, source, n_chars_calc, n_tokens,
         ROUND((n_chars_calc - (n_tokens - 1)) / n_tokens, 4)::DOUBLE AS avg_token_len,
         ROUND(punct / n_chars_calc, 4)::DOUBLE AS punct_ratio,
         ROUND(stop / n_tokens, 4)::DOUBLE AS stopword_ratio
  FROM f
),
q AS (
  SELECT *,
         ROUND(least(n_tokens / 100.0, 1.0) * 0.5
               + least(stopword_ratio * 5.0, 1.0) * 0.4
               + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.1, 4)::DOUBLE
           AS quality_score
  FROM r
)"""

ORACLES["text_quality"] = f"""
WITH {_QUALITY_CTES}
SELECT doc_id, n_chars_calc, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
       quality_score
FROM q
"""

ORACLES["text_langid"] = """
WITH c AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','is','to','in','that','it','with'))) AS BIGINT) AS lid_en,
    CAST(len(list_filter(string_split(text,' '), t -> t IN ('der','die','das','und','ist','nicht','ein','mit','von','zu'))) AS BIGINT) AS lid_de,
    CAST(len(list_filter(string_split(text,' '), t -> t IN ('el','la','los','las','es','un','una','con','por','que'))) AS BIGINT) AS lid_es,
    CAST(len(list_filter(string_split(text,' '), t -> t IN ('le','la','les','est','une','des','dans','pour','pas','avec'))) AS BIGINT) AS lid_fr,
    CAST(len(list_filter(string_split(text,' '), t -> t IN ('de','shi','le','zai','you','wo','ta','men','zhe','bu'))) AS BIGINT) AS lid_zh
  FROM documents
)
SELECT doc_id, lid_en, lid_de, lid_es, lid_fr, lid_zh,
  CASE WHEN lid_en >= lid_de AND lid_en >= lid_es AND lid_en >= lid_fr AND lid_en >= lid_zh THEN 'en'
       WHEN lid_de >= lid_es AND lid_de >= lid_fr AND lid_de >= lid_zh THEN 'de'
       WHEN lid_es >= lid_fr AND lid_es >= lid_zh THEN 'es'
       WHEN lid_fr >= lid_zh THEN 'fr'
       ELSE 'zh' END AS lang_pred
FROM c
"""

ORACLES["text_fingerprint"] = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       list_min([md5(array_to_string(list_slice(toks, i, i + 4), ' '))
                 FOR i IN generate_series(1, greatest(len(toks) - 4, 1))]) AS fingerprint
FROM t
"""

ORACLES["text_token_count"] = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(list_aggregate([CAST(ceil(len(w) / 4.0) AS BIGINT)
                            FOR w IN regexp_split_to_array(trim(text), '\\s+')], 'sum')
            + len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS bpe_tokens
FROM documents
"""

# Gopher-style repetition signals. The Spark side computes the
# top-word share with a per-row sorted-run fold; the twin uses the
# straightforward unnest+group formulation — same values, and the
# hash gate proves the shuffle-free fold equals the textbook plan.
ORACLES["text_repetition"] = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id, toks,
         [array_to_string(list_slice(toks, i, i + 4), ' ')
          FOR i IN generate_series(1, greatest(len(toks) - 4, 1))] AS sh
  FROM t
),
w AS (SELECT doc_id, unnest(toks) AS word FROM t),
m AS (SELECT doc_id, max(n) AS mx
      FROM (SELECT doc_id, word, COUNT(*) AS n FROM w GROUP BY doc_id, word)
      GROUP BY doc_id),
r AS (
  SELECT g.doc_id AS doc_id,
         CAST(len(g.toks) AS BIGINT) AS n_tokens,
         ROUND(1.0 - len(list_distinct(g.toks)) / len(g.toks), 4)::DOUBLE AS dup_word_frac,
         ROUND(1.0 - len(list_distinct(g.sh)) / len(g.sh), 4)::DOUBLE AS dup_ngram_frac,
         ROUND(m.mx / len(g.toks), 4)::DOUBLE AS top_word_frac
  FROM g JOIN m ON g.doc_id = m.doc_id
)
SELECT doc_id, n_tokens, dup_word_frac, dup_ngram_frac, top_word_frac,
       (top_word_frac > 0.2 OR dup_ngram_frac > 0.2) AS repetitive
FROM r
"""

# Benchmark 4-gram decontamination: docs sharing any word 4-gram with
# the benchmark slice (doc_id % 97 = 0) are removed (4 = the collision
# scale of the synthetic ~40-word vocabulary; natural text uses ~13).
# Short docs contribute their whole text as one gram
# (greatest(...,1)), same as word_shingles.
ORACLES["text_decontaminate"] = """
WITH t AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id,
         list_distinct([array_to_string(list_slice(toks, i, i + 3), ' ')
                        FOR i IN generate_series(1, greatest(len(toks) - 3, 1))]) AS sh
  FROM t
),
bg AS (SELECT DISTINCT unnest(sh) AS gram FROM g WHERE doc_id % 97 = 0),
bad AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT doc_id, unnest(sh) AS gram FROM g WHERE doc_id % 97 <> 0) c
  JOIN bg ON c.gram = bg.gram
)
SELECT t.doc_id AS doc_id, t.lang AS lang, t.n_chars AS n_chars
FROM t
WHERE t.doc_id % 97 <> 0 AND t.doc_id NOT IN (SELECT doc_id FROM bad)
"""

# Full curation funnel (repetition -> decontamination -> sampling) as
# conditional aggregation per lang; every gate re-derived exactly
# (textbook top-word plan, 4-gram contamination join, md5 bucket).
ORACLES["curation_funnel"] = """
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
           FROM documents WHERE doc_id % 97 <> 0),
g AS (
  SELECT doc_id, lang, toks,
         [array_to_string(list_slice(toks, i, i + 4), ' ')
          FOR i IN generate_series(1, greatest(len(toks) - 4, 1))] AS sh
  FROM t
),
w AS (SELECT doc_id, unnest(toks) AS word FROM t),
m AS (SELECT doc_id, max(n) AS mx
      FROM (SELECT doc_id, word, COUNT(*) AS n FROM w GROUP BY doc_id, word)
      GROUP BY doc_id),
bt AS (SELECT doc_id, string_split(text, ' ') AS toks
       FROM documents WHERE doc_id % 97 = 0),
bg AS (SELECT DISTINCT unnest([array_to_string(list_slice(toks, i, i + 3), ' ')
                               FOR i IN generate_series(1, greatest(len(toks) - 3, 1))]) AS gram
       FROM bt),
bad AS (
  -- contamination is the 4-gram rule (i+3), NOT the repetition gate's
  -- 5-gram shingles in g.sh
  SELECT DISTINCT c.doc_id
  FROM (SELECT doc_id,
               unnest(list_distinct([array_to_string(list_slice(toks, i, i + 3), ' ')
                                     FOR i IN generate_series(1, greatest(len(toks) - 3, 1))])) AS gram
        FROM t) c
  JOIN bg ON c.gram = bg.gram
),
f AS (
  SELECT g.doc_id, g.lang,
         NOT (ROUND(m.mx / len(g.toks), 4) > 0.12
              OR ROUND(1.0 - len(list_distinct(g.sh)) / len(g.sh), 4) > 0.2) AS ok_rep,
         g.doc_id IN (SELECT doc_id FROM bad) AS cont,
         ('0x' || substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 AS bucket
  FROM g JOIN m ON g.doc_id = m.doc_id
)
SELECT lang,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN ok_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       CAST(SUM(CASE WHEN ok_rep AND NOT cont THEN 1 ELSE 0 END) AS BIGINT) AS n_decontaminated,
       CAST(SUM(CASE WHEN ok_rep AND NOT cont
                 AND bucket < (CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.25 ELSE 1.0 END) * 1000
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM f GROUP BY lang
"""

# Deterministic stratified sampling: md5-bucket membership re-derived
# bit-exactly (first 8 md5 hex digits -> int, mod 1000), en kept at
# 50%, zh at 25%, everything else whole.
ORACLES["sample_stratified"] = """
WITH b AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 AS bucket
  FROM documents
)
SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket
FROM b
WHERE bucket < (CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.25 ELSE 1.0 END) * 1000
"""

# 32-bit md5-family SimHash replicated step for step: bit j = high bit
# of md5 hex nibble j, majority over distinct char-3-gram shingles;
# pigeonhole chunk blocking (4 chunks of 8 bits); Hamming <= 3 verify.
ORACLES["dedup_simhash"] = """
WITH d AS (
  SELECT doc_id,
         list_distinct([substr(lower(text), i, 3)
                        FOR i IN generate_series(1, greatest(len(text) - 2, 1))]) AS sh
  FROM documents
),
fp AS (
  SELECT doc_id,
         array_to_string([CASE WHEN 2 * len(list_filter(sh,
                 s -> substr(md5(s), j, 1) IN ('8','9','a','b','c','d','e','f'))) >= len(sh)
                 THEN '1' ELSE '0' END
                 FOR j IN generate_series(1, 32)], '') AS f
  FROM d
),
ch AS (
  SELECT doc_id, f, ci, substr(f, ci * 8 + 1, 8) AS cv
  FROM fp, (SELECT unnest(generate_series(0, 3)) AS ci)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.f AS fa, b.f AS fb
  FROM ch a JOIN ch b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(len(list_filter(generate_series(1, 32),
                j -> substr(fa, j, 1) <> substr(fb, j, 1))) AS BIGINT) AS hamming
FROM cand
WHERE len(list_filter(generate_series(1, 32),
          j -> substr(fa, j, 1) <> substr(fb, j, 1))) <= 3
"""


def _hyperplane_topk_oracle(dim: int = 64, bits: int = 8, seed: int = 42, k: int = 5) -> str:
    """Generated twin of hyperplane_lsh_topk: the deterministic planes
    are embedded as DOUBLE[] literals (repr round-trips exactly), the
    bucket is the concatenated projection signs, candidates share the
    query's bucket. Sign parity verified empirically: min |projection|
    ~1e-4 on this data vs ~1e-13 float-summation error."""
    from cartography_spark.operators.similarity import _planes

    planes = _planes(dim, bits, seed)
    bit_exprs = " || ".join(
        "(CASE WHEN list_dot_product(v, ["
        + ", ".join(repr(float(x)) for x in p)
        + "]) >= 0 THEN '1' ELSE '0' END)"
        for p in planes
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {bit_exprs} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 8),
s AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.qv, c.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))), 4)::DOUBLE AS score
  FROM q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, score
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank FROM s) t
WHERE rank <= {k}
"""


ORACLES["sim_lsh_topk"] = _hyperplane_topk_oracle()

# IVF twin: centroids = 16 lowest-id vectors; corpus assigned to its 1
# nearest centroid, queries probe 4 (rank by -dot/norm then cid, the
# exact sort key assign_ivf_buckets uses); equi-join on list id.
ORACLES["sim_ivf_topk"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
casg AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY -list_dot_product(e.v, c.cv) / sqrt(list_dot_product(e.v, e.v)), c.cid) AS rn
    FROM e, cents c) t WHERE rn <= 1
),
qasg AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY -list_dot_product(e.v, c.cv) / sqrt(list_dot_product(e.v, e.v)), c.cid) AS rn
    FROM e, cents c WHERE e.vec_id < 8) t WHERE rn <= 4
),
s AS (
  SELECT DISTINCT q.vec_id AS query_id, ca.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.v, ca.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(ca.v, ca.v))), 4)::DOUBLE AS score
  FROM qasg q JOIN casg ca ON q.cid = ca.cid AND ca.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, score
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank FROM s) t
WHERE rank <= 5
"""

ORACLES["text_dedup_survivors"] = """
SELECT doc_id, lang
FROM (SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents) t
WHERE rn = 1
"""

ORACLES["web_source_stats"] = """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       COUNT(DISTINCT lang) AS n_langs,
       ROUND(AVG(len(text)), 2)::DOUBLE AS avg_chars,
       ROUND(1.0 - COUNT(DISTINCT md5(text)) / COUNT(*), 4)::DOUBLE AS dup_rate
FROM documents GROUP BY source
"""

# Filter-funnel twin: langid + quality formulas identical to the
# text_langid / text_quality oracles, composed into per-source
# survivor counts (en -> quality>=0.5 -> exact-unique).
ORACLES["text_quality_funnel"] = """
WITH c AS (
  SELECT doc_id, source, text,
    len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','is','to','in','that','it','with'))) AS lid_en,
    len(list_filter(string_split(text,' '), t -> t IN ('der','die','das','und','ist','nicht','ein','mit','von','zu'))) AS lid_de,
    len(list_filter(string_split(text,' '), t -> t IN ('el','la','los','las','es','un','una','con','por','que'))) AS lid_es,
    len(list_filter(string_split(text,' '), t -> t IN ('le','la','les','est','une','des','dans','pour','pas','avec'))) AS lid_fr,
    len(list_filter(string_split(text,' '), t -> t IN ('de','shi','le','zai','you','wo','ta','men','zhe','bu'))) AS lid_zh,
    CAST(len(text) AS BIGINT) AS n_chars,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct,
    len(list_filter(string_split(text, ' '),
        t -> t IN ('the','a','of','and','is','to','in','that','it','with',
                   'was','for','on','as','are','at','be'))) AS stop
  FROM documents
),
f AS (
  SELECT doc_id, source, text,
    CASE WHEN lid_en >= lid_de AND lid_en >= lid_es AND lid_en >= lid_fr AND lid_en >= lid_zh THEN 'en'
         WHEN lid_de >= lid_es AND lid_de >= lid_fr AND lid_de >= lid_zh THEN 'de'
         WHEN lid_es >= lid_fr AND lid_es >= lid_zh THEN 'es'
         WHEN lid_fr >= lid_zh THEN 'fr'
         ELSE 'zh' END AS lang_pred,
    ROUND(least(n_tokens / 100.0, 1.0) * 0.5
          + least(ROUND(stop / n_tokens, 4) * 5.0, 1.0) * 0.4
          + (1.0 - least(ROUND(punct / n_chars, 4) * 10.0, 1.0)) * 0.1, 4) AS q,
    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1 AS uniq
  FROM c
)
SELECT source,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       CAST(SUM(CASE WHEN lang_pred = 'en' AND q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(SUM(CASE WHEN lang_pred = 'en' AND q >= 0.5 AND uniq THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
FROM f GROUP BY source
"""

# IVF-blocked near-dup twin: same centroid assignment sort key as
# sim_ivf_topk, nprobe=2 on every vector, candidates share a list.
ORACLES["sim_ivf_near_dup"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
asg AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY -list_dot_product(e.v, c.cv) / sqrt(list_dot_product(e.v, e.v)), c.cid) AS rn
    FROM e, cents c) t WHERE rn <= 2
)
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)::DOUBLE AS cosine
FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.45
"""

ORACLES["sim_topk_brute"] = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
s AS (
  SELECT q.query_id, c.neighbor_id,
         ROUND(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.cv AS DOUBLE[]), CAST(c.cv AS DOUBLE[])))), 4)::DOUBLE AS score
  FROM q, c WHERE c.neighbor_id <> q.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, score
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank FROM s) t
WHERE rank <= 5
"""

# Sign-bit coordinate-LSH blocked near-dup, replicated step for step:
# the bucket keys are "<set>|<sign bits of seeded coordinate subset>" —
# no float arithmetic in the key, so both engines block identically;
# candidates = pair shares >=1 bucket; exact-cosine verify at 0.45.
# Generated from the same coord_plane_dims(64, 4, 12, seed=7) the Spark
# query uses.
def _near_dup_lsh_oracle(dim: int = 64, bits: int = 4, sets: int = 12, seed: int = 7) -> str:
    from cartography_spark.operators.similarity import coord_plane_dims

    dims = coord_plane_dims(dim, bits, sets, seed)
    keys = []
    for s, ds in enumerate(dims):
        bit_exprs = " || ".join(
            f"(CASE WHEN v[{d + 1}] >= 0 THEN '1' ELSE '0' END)" for d in ds
        )
        keys.append(f"'{s}|' || {bit_exprs}")
    key_array = "[" + ", ".join(keys) + "]"
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
k AS (SELECT vec_id, v, unnest({key_array}) AS bucket FROM e),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM k a JOIN k b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.id_a AS id_a, c.id_b AS id_b,
       ROUND(list_dot_product(ea.v, eb.v)
             / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 4)::DOUBLE AS cosine
FROM cand c
JOIN e ea ON ea.vec_id = c.id_a
JOIN e eb ON eb.vec_id = c.id_b
WHERE ROUND(list_dot_product(ea.v, eb.v)
            / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 4) >= 0.45
"""


ORACLES["sim_embedding_near_dup"] = _near_dup_lsh_oracle()

# Entity-linking twin (round-3 gap close — this query was rows-only):
# the md5 MinHash-LSH blocking replicated exactly as in
# dedup_minhash_lsh (8 hashes, 4 bands of 2, char-3-grams, Jaccard
# verify at 0.6), then the iterative large-star/small-star connected
# components replaced by a WITH RECURSIVE transitive closure —
# canonical_id = min id reachable, identical by definition. Cluster
# sizes count every doc in the component (docs in no pair are
# singletons and filtered by cluster_size > 1 on both sides).
ORACLES["kg_entity_linking"] = """
WITH RECURSIVE d AS (
  SELECT doc_id,
         list_distinct([substr(lower(text), i, 3)
                        FOR i IN generate_series(1, greatest(len(text) - 2, 1))]) AS sh
  FROM documents
),
sg AS (
  SELECT doc_id,
         [list_min([md5(CAST(h AS VARCHAR) || ':' || s) FOR s IN sh])
          FOR h IN generate_series(0, 7)] AS sig
  FROM d
),
bd AS (
  SELECT doc_id,
         unnest([md5(CAST(b AS VARCHAR) || '|' || sig[2 * b + 1] || '|' || sig[2 * b + 2])
                 FOR b IN generate_series(0, 3)]) AS band_key
  FROM sg
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bd a JOIN bd b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN d da ON da.doc_id = c.id_a
  JOIN d db ON db.doc_id = c.id_b
  WHERE ROUND(len(list_intersect(da.sh, db.sh))::DOUBLE
              / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 4) >= 0.6
),
-- MATERIALIZED: the recursive term below references e2 every iteration;
-- without it DuckDB re-inlines (and re-runs) the whole MinHash pipeline
-- per recursion step
e2 AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(id, comp) AS (
  SELECT DISTINCT a, a FROM e2
  UNION
  -- propagate only DECREASING labels: a label >= the receiving node can
  -- never be its component min (the true min m is < every other member,
  -- so m's propagation is never pruned) — this cuts the closure from
  -- O(sum component^2) rows to near-linear on near-dup families
  SELECT e2.b, reach.comp FROM reach JOIN e2 ON e2.a = reach.id
  WHERE reach.comp < e2.b
),
canon AS (SELECT id, MIN(comp) AS canonical_id FROM reach GROUP BY id)
SELECT canonical_id, COUNT(*) AS cluster_size
FROM canon
GROUP BY canonical_id
HAVING COUNT(*) > 1
ORDER BY cluster_size DESC, canonical_id
"""

# Cross-frame (incremental) LSH join twin: the left band frame is the
# new batch (doc_id % 10 = 0), the right the full corpus; same md5
# minhash construction as dedup_minhash_lsh, pairs keep left/right
# orientation (id_l from the new side) and exclude same-doc collisions.
ORACLES["kg_incremental_link_pairs"] = """
WITH d AS (
  SELECT doc_id,
         list_distinct([substr(lower(text), i, 3)
                        FOR i IN generate_series(1, greatest(len(text) - 2, 1))]) AS sh
  FROM documents
),
sg AS (
  SELECT doc_id,
         [list_min([md5(CAST(h AS VARCHAR) || ':' || s) FOR s IN sh])
          FOR h IN generate_series(0, 7)] AS sig
  FROM d
),
bd AS (
  SELECT doc_id,
         unnest([md5(CAST(b AS VARCHAR) || '|' || sig[2 * b + 1] || '|' || sig[2 * b + 2])
                 FOR b IN generate_series(0, 3)]) AS band_key
  FROM sg
),
lb AS (SELECT * FROM bd WHERE doc_id % 10 = 0),
cand AS (
  SELECT DISTINCT l.doc_id AS id_l, r.doc_id AS id_r
  FROM lb l JOIN bd r ON l.band_key = r.band_key AND l.doc_id <> r.doc_id
)
SELECT c.id_l AS id_l, c.id_r AS id_r,
       ROUND(len(list_intersect(da.sh, db.sh))::DOUBLE
             / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 4)::DOUBLE AS jaccard
FROM cand c
JOIN d da ON da.doc_id = c.id_l
JOIN d db ON db.doc_id = c.id_r
WHERE ROUND(len(list_intersect(da.sh, db.sh))::DOUBLE
            / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 4) >= 0.6
"""

# Flagship KG pipeline twin (round 4, VERDICT #1): composes the
# kg_mention_triples extraction CTE with the doc-source join and the
# weight/n_docs edge aggregation — the driver now value-hashes the
# headline query end to end. SUM is cast back to BIGINT to match
# Spark's long (DuckDB SUM(BIGINT) widens to HUGEINT).
ORACLES["kg_flagship_pipeline"] = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS obj FROM documents),
mentions AS (
  SELECT doc_id, obj, COUNT(*) AS n_mentions
  FROM toks
  WHERE obj IN ('spark', 'join', 'merge', 'filter', 'scan', 'hash', 'sort', 'agg')
  GROUP BY doc_id, obj
)
SELECT d.source AS source, m.obj AS obj,
       SUM(m.n_mentions)::BIGINT AS weight, COUNT(*) AS n_docs
FROM mentions m JOIN documents d USING (doc_id)
GROUP BY d.source, m.obj
"""

# Multimodal fake-codec twin (round 4, VERDICT #2): the codec's
# metadata is pure md5 arithmetic over the payload bytes
# (functions/multimodal.py:_fake_decode_row) — md5 + hex->int + xor
# replicate it byte-exactly. strlen() is BYTE length in DuckDB, the
# octet count of the utf-8 payload Spark's encode() produces.
ORACLES["multimodal_features"] = """
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS kind,
         strlen(text)::BIGINT AS byte_len,
         md5(text) AS digest
  FROM documents
),
x AS (
  SELECT media_id, kind, byte_len, digest,
         ('0x' || substr(digest, 1, 8))::BIGINT AS a,
         ('0x' || substr(digest, 9, 8))::BIGINT AS b
  FROM m
)
SELECT media_id, kind, byte_len, digest,
       CASE WHEN kind IN ('image', 'video') THEN 64 + a % 1920 ELSE 0 END::BIGINT AS width,
       CASE WHEN kind IN ('image', 'video') THEN 64 + b % 1080 ELSE 0 END::BIGINT AS height,
       CASE WHEN kind IN ('audio', 'video') THEN 500 + xor(a, b) % 600000 ELSE 0 END::BIGINT
         AS duration_ms
FROM x
"""


# ---------------------------------------------------------------------------
# Generator-twin oracle for kg_pages_e2e (round 4): the synthesized
# pages corpus is a pure function of (seed=42, page id) via a
# splitmix64-style mixer (sources/pages.py), so DuckDB can re-derive
# the planted (subj, pred, obj) picks DIRECTLY — no html, no regex.
# A green hash row therefore proves the entire Spark chain
# (html synth -> boilerplate-stripping extraction -> sentence-pattern
# triple extraction -> aggregation) emits exactly the ground-truth
# triples: the north rule's P = R = 1.0, driver-visible.
#
# The mixer is re-implemented in SQL (UBIGINT xor/shift + HUGEINT
# mul-mod-2^64 via 32-bit limb decomposition, since a 64x64 product
# overflows HUGEINT); the Zipf CDF constants are embedded as exact
# round-trip float literals. Built programmatically below to keep the
# six mix() expansions readable.
# ---------------------------------------------------------------------------


_SM_GOLDEN = 0x9E3779B97F4A7C15
_SM_C2 = 0xBF58476D1CE4E5B9
_SM_C3 = 0x94D049BB133111EB
_SM_M64 = 1 << 64


def _sql_mm(a: str, b: int) -> str:
    # (a * b) mod 2^64 with 32-bit limbs, all intermediates < 2^97.
    return (
        f"((({a}) % 4294967296) * {b % 4294967296}"
        f" + (((({a}) // 4294967296) * {b % 4294967296}"
        f" + (({a}) % 4294967296) * {b // 4294967296}) % 4294967296)"
        f" * 4294967296) % 18446744073709551616"
    )


def _sql_mix(x: str, k: int, out: str) -> str:
    # Columns computing mix(x, k) -> `out` via lateral alias refs.
    kg = (k * _SM_GOLDEN) % _SM_M64
    return (
        f"CAST((({x})::HUGEINT + {kg}) % 18446744073709551616 AS UBIGINT) AS {out}_z1, "
        f"xor({out}_z1, {out}_z1 >> 30) AS {out}_t1, "
        f"CAST({_sql_mm(f'{out}_t1::HUGEINT', _SM_C2)} AS UBIGINT) AS {out}_z2, "
        f"xor({out}_z2, {out}_z2 >> 27) AS {out}_t2, "
        f"CAST({_sql_mm(f'{out}_t2::HUGEINT', _SM_C3)} AS UBIGINT) AS {out}_z3, "
        f"xor({out}_z3, {out}_z3 >> 31) AS {out}"
    )


def _sql_pick(raw: str, out: str, cdf_vals, n: int) -> str:
    # np.searchsorted(cdf, u, 'left') == count of cdf entries < u;
    # u = float64(raw) / float64(2^64 - 1) (the divisor rounds to 2^64).
    cdf = "[" + ", ".join(repr(float(v)) for v in cdf_vals) + "]"
    return (
        f"least(len(list_filter({cdf}, c -> c < "
        f"(CAST({raw} AS DOUBLE) / CAST(18446744073709551615 AS DOUBLE)))), {n - 1}) AS {out}"
    )


def _triples_ctes(n_pages: int, seed: int) -> str:
    """CTE chain ending in ``tr(i, subj, pred, obj)`` — one row per
    planted sentence of pages 0..n_pages-1 at ``seed``, replicating
    sources/pages.py::_page_batch's splitmix picks limb-exactly.
    Shared by the e2e extraction gates and the temporal-fact gates
    (which additionally tag each page's crawl batch off ``i``)."""
    from cartography_spark.sources.pages import ENTITIES, PREDICATES, _ENTITY_CDF

    mix = _sql_mix
    ents = "[" + ", ".join(f"'{e}'" for e in ENTITIES) + "]"
    preds = "[" + ", ".join(f"'{p}'" for p in PREDICATES) + "]"
    n_ent = len(ENTITIES)

    def pick(raw: str, out: str) -> str:
        return _sql_pick(raw, out, _ENTITY_CDF, n_ent)

    return f"""ids AS (SELECT unnest(generate_series(0, {n_pages - 1}))::UBIGINT AS i),
k AS (SELECT i, {mix('i', seed, 'key')} FROM ids),
ns AS (SELECT i, key, {mix('key', 2, 'nk')} FROM k),
pairs AS (SELECT i, key, unnest(generate_series(0, CAST(3 + nk % 10 AS BIGINT) - 1)) AS si
          FROM ns),
skt AS (SELECT i, si, {mix('(key::HUGEINT + si + 1) % 18446744073709551616', 7, 'sk')} FROM pairs),
raw AS (SELECT i, si, {mix('sk', 1, 's_raw')}, {mix('sk', 2, 'o_raw')}, {mix('sk', 3, 'p_raw')}
        FROM skt),
picks AS (SELECT i, {pick('s_raw', 's_i')}, {pick('o_raw', 'o_i0')},
                 CASE WHEN o_i0 = s_i THEN (o_i0 + 1) % {n_ent} ELSE o_i0 END AS o_i,
                 CAST(p_raw % {len(PREDICATES)} AS BIGINT) AS p_i
          FROM raw),
tr AS (SELECT i, ({ents})[s_i + 1] AS subj,
              replace(({preds})[p_i + 1], ' ', '_') AS pred,
              ({ents})[o_i + 1] AS obj
       FROM picks)"""


def _pages_e2e_oracle_sql(n_pages: int = 500, seed: int = 42) -> str:
    return f"""
WITH {_triples_ctes(n_pages, seed)}
SELECT subj, pred, obj, COUNT(*) AS n
FROM tr GROUP BY subj, pred, obj
ORDER BY n DESC, subj, pred, obj
LIMIT 100
"""


def _fact_snaps_ctes(n_pages: int, seed: int) -> str:
    """Extends :func:`_triples_ctes` with ``snaps(crawl_id, subj,
    pred, obj)`` — distinct crawl-tagged fact assertions, where the
    crawl batch is re-derived ARITHMETICALLY from the page id
    (even -> crawl 1 / 2025-01-01, odd -> crawl 2 / 2025-02-01, the
    generator's plant) while Spark derives it from warc_ts boundaries
    — so a green hash also pins the timestamp-batch invariant."""
    return f"""{_triples_ctes(n_pages, seed)},
snaps AS (SELECT DISTINCT CAST(1 + i % 2 AS INT) AS crawl_id, subj, pred, obj FROM tr)"""


def _fact_intervals_oracle_sql(n_pages: int = 500, seed: int = 42) -> str:
    # Classic window-function gaps-and-islands — deliberately a
    # DIFFERENT algorithm than Spark's one-shuffle array-HOF split, so
    # the gate cross-checks the islands semantics, not the code.
    return f"""
WITH {_fact_snaps_ctes(n_pages, seed)},
rn AS (SELECT *, row_number() OVER (PARTITION BY subj, pred, obj ORDER BY crawl_id) AS rn
       FROM snaps),
iv AS (SELECT subj, pred, obj,
              MIN(crawl_id) AS valid_from, MAX(crawl_id) AS valid_to
       FROM rn GROUP BY subj, pred, obj, crawl_id - rn),
mx AS (SELECT MAX(crawl_id) AS m FROM snaps)
SELECT subj, pred, obj, valid_from, valid_to,
       CASE WHEN valid_to = m THEN 1 ELSE 0 END AS is_current
FROM iv, mx
ORDER BY subj, pred, obj, valid_from
"""


def _fact_churn_oracle_sql(n_pages: int = 500, seed: int = 42) -> str:
    return f"""
WITH {_fact_snaps_ctes(n_pages, seed)},
mx AS (SELECT MAX(crawl_id) AS m FROM snaps),
trans AS (SELECT unnest(generate_series(2, (SELECT m FROM mx)))::INT AS crawl_id),
curr AS (SELECT t.crawl_id, s.subj, s.pred, s.obj
         FROM trans t JOIN snaps s ON s.crawl_id = t.crawl_id),
prevs AS (SELECT t.crawl_id, s.subj, s.pred, s.obj
          FROM trans t JOIN snaps s ON s.crawl_id = t.crawl_id - 1),
ar AS (SELECT c.crawl_id,
              SUM(CASE WHEN p.subj IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_added,
              SUM(CASE WHEN p.subj IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_retained
       FROM curr c LEFT JOIN prevs p
         ON p.crawl_id = c.crawl_id AND p.subj = c.subj
        AND p.pred = c.pred AND p.obj = c.obj
       GROUP BY c.crawl_id),
rm AS (SELECT p.crawl_id,
              SUM(CASE WHEN c.subj IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_removed
       FROM prevs p LEFT JOIN curr c
         ON c.crawl_id = p.crawl_id AND c.subj = p.subj
        AND c.pred = p.pred AND c.obj = p.obj
       GROUP BY p.crawl_id)
SELECT t.crawl_id,
       COALESCE(ar.n_added, 0) AS n_added,
       COALESCE(rm.n_removed, 0) AS n_removed,
       COALESCE(ar.n_retained, 0) AS n_retained
FROM trans t
LEFT JOIN ar ON ar.crawl_id = t.crawl_id
LEFT JOIN rm ON rm.crawl_id = t.crawl_id
ORDER BY t.crawl_id
"""


# Round 5 (VERDICT #5): second, larger extraction gate — 4 000 pages,
# independent seed — so the driver's value-hash check covers the
# html->text->triples chain at 8x the r4 gate's scale.
ORACLES["kg_pages_e2e_large"] = _pages_e2e_oracle_sql(4000, 7)


# ---------------------------------------------------------------------------
# Web link-graph family (round 5 day-5): the generator plants 1..3
# deterministic footer outlinks per page (sources/pages.py::
# _link_targets); Spark extracts them from the html bytes
# (functions/weblinks.py) while the twin re-derives the PLANTED links
# directly from the splitmix chain — no html, no regex. A green hash
# therefore proves href extraction == ground-truth plant, the link-graph
# analog of the pages-e2e text gate.
# ---------------------------------------------------------------------------


def _links_ctes(n_pages: int, seed: int) -> str:
    """CTE chain ending in ``links(i, src_host, dst_host, tid, anch)``
    — one
    row per planted outlink of pages 0..n_pages-1 at ``seed``,
    replicating sources/pages.py::_link_targets limb-exactly."""
    from cartography_spark.sources.pages import (
        DOMAINS,
        ENTITIES,
        LINK_UNIVERSE,
        MAX_LINKS,
        _DOMAIN_CDF,
        _ENTITY_CDF,
    )

    mix = _sql_mix
    doms = "[" + ", ".join(f"'{d}'" for d in DOMAINS) + "]"
    ents = "[" + ", ".join(f"'{e}'" for e in ENTITIES) + "]"

    def pickdom(raw: str, out: str) -> str:
        return _sql_pick(raw, out, _DOMAIN_CDF, len(DOMAINS))

    def pickent(raw: str, out: str) -> str:
        return _sql_pick(raw, out, _ENTITY_CDF, len(ENTITIES))

    return f"""ids AS (SELECT unnest(generate_series(0, {n_pages - 1}))::UBIGINT AS i),
k AS (SELECT i, {mix('i', seed, 'key')} FROM ids),
srcraw AS (SELECT i, key, {mix('key', 1, 'sdraw')} FROM k),
srcd AS (SELECT i, key, {pickdom('sdraw', 'sd')} FROM srcraw),
lk AS (SELECT i, key, sd, {mix('key', 8, 'lk')} FROM srcd),
slots AS (SELECT i, key, sd,
                 unnest(generate_series(0, CAST(1 + lk % {MAX_LINKS} AS BIGINT) - 1)) AS t
          FROM lk),
tkx AS (SELECT i, sd, t,
               {mix('(key::HUGEINT + t + 1) % 18446744073709551616', 11, 'tk')}
        FROM slots),
tidx AS (SELECT i, sd, tk, CAST(tk % {LINK_UNIVERSE} AS UBIGINT) AS tid FROM tkx),
tkeyx AS (SELECT i, sd, tk, tid, {mix('tid', seed, 'tkey')} FROM tidx),
trawx AS (SELECT i, sd, tk, tid, {mix('tkey', 1, 'traw')} FROM tkeyx),
tdx AS (SELECT i, sd, tk, tid, {pickdom('traw', 'td')} FROM trawx),
anrx AS (SELECT i, sd, tid, td, {mix('tk', 3, 'araw')} FROM tdx),
anpx AS (SELECT i, sd, tid, td, {pickent('araw', 'ai')} FROM anrx),
links AS (SELECT i, ({doms})[sd + 1] AS src_host, ({doms})[td + 1] AS dst_host, tid,
                 ({ents})[ai + 1] AS anch
          FROM anpx)"""


def _link_graph_oracle_sql(n_pages: int = 500, seed: int = 42) -> str:
    return f"""
WITH {_links_ctes(n_pages, seed)}
SELECT src_host, dst_host, COUNT(*) AS n_links
FROM links GROUP BY src_host, dst_host
"""


def _crawl_frontier_oracle_sql(n_pages: int = 500, seed: int = 42) -> str:
    # In-crawl iff tid < n_pages: a planted dst url is BUILT through the
    # target page's own (seed, id) chain, so it string-equals the
    # target's real url exactly when the target is in the crawl — the
    # twin derives membership arithmetically where Spark runs the real
    # url equi-join, making the url-consistency claim itself the gate.
    return f"""
WITH {_links_ctes(n_pages, seed)}
SELECT src_host,
       SUM(CASE WHEN tid < {n_pages} THEN 1 ELSE 0 END)::BIGINT AS n_internal,
       SUM(CASE WHEN tid < {n_pages} THEN 0 ELSE 1 END)::BIGINT AS n_frontier
FROM links GROUP BY src_host
"""


def _host_pagerank_oracle_sql(n_pages: int = 500, seed: int = 42) -> str:
    graph_ctes = f"""{_links_ctes(n_pages, seed)},
edges AS MATERIALIZED (
  SELECT src_host AS src, dst_host AS dst, COUNT(*)::DOUBLE AS weight
  FROM links GROUP BY src_host, dst_host),
nodes AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))"""
    return _pagerank_oracle_sql(graph_ctes, weighted=True)


def _pagerank_oracle_sql(
    graph_ctes: str | None = None,
    iters: int = 5,
    damping: float = 0.85,
    weighted: bool = False,
    seed_pred: str | None = None,
) -> str:
    """Unrolled power-iteration PageRank twin.

    ``graph_ctes`` supplies the ``nodes(id)`` and ``edges(src, dst[,
    weight])`` CTE bodies (defaults to the entity membership graph of
    ``kg_pagerank``); the builder appends the same update rule as
    ``operators/graphrank.py::pagerank`` — r'(v) = (1-d)/N +
    d*(sum contribs + dangling/N), contribution r(u)·w/W(u) when
    ``weighted`` — as one chained CTE per iteration (DuckDB's recursive
    CTEs can't aggregate over the recursive term, so the fixed
    iteration count is unrolled programmatically). Every chained CTE is
    AS MATERIALIZED — DuckDB inlines plain CTEs at each reference, and
    r{i} references r{i-1} three times (contrib join, dangling scan,
    carry), so without materialization the plan blows up ~3^iters
    (measured: 163 s -> 5.8 s on the mention graph). All literals are
    ::DOUBLE so DuckDB's decimal-literal typing can't diverge from
    Spark's double math; the final ROUND(6) absorbs summation-order
    ulps."""
    d = f"{damping!r}::DOUBLE"
    if graph_ctes is None:
        graph_ctes = """nodes AS (
  SELECT 'C' || c_custkey AS id FROM customer
  UNION ALL SELECT 'S' || s_suppkey FROM supplier
  UNION ALL SELECT 'N' || n_nationkey FROM nation
  UNION ALL SELECT 'R' || r_regionkey FROM region),
edges AS (
  SELECT 'C' || c_custkey AS src, 'N' || c_nationkey AS dst FROM customer
  UNION ALL SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
  UNION ALL SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation)"""
    if weighted:
        od = "od AS MATERIALIZED (SELECT src AS id, SUM(weight::DOUBLE) AS out_w FROM edges GROUP BY src)"
        contrib = "SUM(r.pr * e.weight::DOUBLE / o.out_w)"
    else:
        od = "od AS MATERIALIZED (SELECT src AS id, COUNT(*) AS outdeg FROM edges GROUP BY src)"
        contrib = "SUM(r.pr / o.outdeg)"
    if seed_pred is None:
        pvec = ""
        r0 = "r0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE / (SELECT n FROM params) AS pr FROM nodes)"
    else:
        # Personalized teleport: p = 1/|S| on seeds, 0 elsewhere. The
        # (1-d) literal is pre-computed in Python so the SQL constant
        # is bit-identical to Spark's F.lit(1.0 - damping).
        pvec = f""",
pvec AS MATERIALIZED (
  SELECT id, CASE WHEN {seed_pred}
                  THEN 1.0::DOUBLE / (SELECT COUNT(*)::DOUBLE FROM nodes WHERE {seed_pred})
                  ELSE 0.0::DOUBLE END AS p
  FROM nodes)"""
        r0 = "r0 AS MATERIALIZED (SELECT id, p AS pr FROM pvec)"
    head = f"""
WITH {graph_ctes},
params AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
{od}{pvec},
{r0}"""
    one_minus_d = f"{(1.0 - damping)!r}::DOUBLE"
    steps = []
    for i in range(1, iters + 1):
        p, c = f"r{i - 1}", f"r{i}"
        if seed_pred is None:
            update = f"""(1.0::DOUBLE - {d}) / (SELECT n FROM params)
         + {d} * (COALESCE(c.contrib, 0.0::DOUBLE)
                  + (SELECT dm FROM d{i}) / (SELECT n FROM params))"""
            ptail = ""
        else:
            update = f"""{one_minus_d} * pv.p
         + {d} * (COALESCE(c.contrib, 0.0::DOUBLE)
                  + (SELECT dm FROM d{i}) * pv.p)"""
            ptail = " JOIN pvec pv ON pv.id = r.id"
        steps.append(f""",
c{i} AS MATERIALIZED (
  SELECT e.dst AS id, {contrib} AS contrib
  FROM {p} r JOIN edges e ON r.id = e.src JOIN od o ON r.id = o.id
  GROUP BY e.dst),
d{i} AS MATERIALIZED (
  SELECT COALESCE(SUM(r.pr), 0.0::DOUBLE) AS dm
  FROM {p} r LEFT JOIN od o ON r.id = o.id WHERE o.id IS NULL),
{c} AS MATERIALIZED (
  SELECT r.id,
         {update} AS pr
  FROM {p} r LEFT JOIN c{i} c ON r.id = c.id{ptail})""")
    return (
        head
        + "".join(steps)
        + f"\nSELECT id, ROUND(pr, 6) AS pagerank FROM r{iters}\n"
    )


ORACLES["kg_pagerank"] = _pagerank_oracle_sql()

# Weighted PageRank over the EXTRACTED mention graph — the e2e
# composition gate: tokenize -> vocab mentions -> bipartite
# source<->term edges weighted by mention counts -> 5 power
# iterations. The mention derivation is the flagship twin's; the rank
# unroll is the shared builder with the weighted contribution rule.
_MENTION_GRAPH_CTES = """toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS obj FROM documents),
doc_mentions AS MATERIALIZED (
  SELECT doc_id, obj, COUNT(*) AS n
  FROM toks
  WHERE obj IN ('spark', 'join', 'merge', 'filter', 'scan', 'hash', 'sort', 'agg')
  GROUP BY doc_id, obj),
fwd AS MATERIALIZED (
  SELECT d.source AS src, m.obj AS dst, SUM(m.n)::DOUBLE AS weight
  FROM doc_mentions m JOIN documents d USING (doc_id)
  GROUP BY d.source, m.obj),
edges AS MATERIALIZED (
  SELECT src, dst, weight FROM fwd
  UNION ALL SELECT dst, src, weight FROM fwd),
nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges)"""

ORACLES["kg_pagerank_weighted"] = _pagerank_oracle_sql(
    _MENTION_GRAPH_CTES, weighted=True
)

# Personalized PageRank on the membership graph, teleport concentrated
# on the region nodes — seed-relative salience ("which entities matter
# near these hubs"), same unrolled builder with the reset-vector rule.
ORACLES["kg_pagerank_personalized"] = _pagerank_oracle_sql(
    seed_pred="id LIKE 'R%'"
)

def _host_scc_ctes(n_pages: int, seed: int) -> str:
    """Extends :func:`_links_ctes` with ``sccs(id, scc)`` — the exact
    SCCs of the planted host graph, computed ALGORITHM-INDEPENDENTLY
    as a recursive transitive closure plus a mutual-reachability
    min-aggregate (v and w share an SCC iff v ->* w and w ->* v).
    Spark runs FW-BW min-label coloring instead, so a green hash
    cross-checks SCC *semantics*, not a re-implementation. The closure
    is quadratic in hosts — fine for the 20-domain plant; at scale
    only the Spark side runs.

    ``lmat`` materializes the host projection of the generated links
    before the DISTINCT/filter — without it DuckDB re-inlines the
    whole splitmix generator chain per host-column reference under
    this spelling and the plan goes super-linear (>120 s vs 0.3 s
    measured; same family as the plain-CTE ~3^iters blowup documented
    at :func:`_pagerank_oracle_sql`).

    Edges are weight-thresholded (n_links >= n_pages/100) exactly like
    the Spark gate's ``_host_graph_frames`` — the raw plant is one
    giant SCC, the backbone keeps the decomposition non-trivial."""
    thr = max(2, n_pages // 100)
    return f"""{_links_ctes(n_pages, seed)},
lmat AS MATERIALIZED (SELECT src_host, dst_host FROM links),
hedges AS MATERIALIZED (
  SELECT src_host AS src, dst_host AS dst FROM lmat
  WHERE src_host <> dst_host
  GROUP BY src_host, dst_host HAVING COUNT(*) >= {thr}),
hnodes AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT src_host AS id FROM lmat UNION ALL SELECT dst_host FROM lmat)),
reach AS MATERIALIZED (
  WITH RECURSIVE r(src, dst) AS (
    SELECT src, dst FROM hedges
    UNION
    SELECT r.src, e.dst FROM r JOIN hedges e ON e.src = r.dst
  ) SELECT src, dst FROM r),
mutual AS (
  SELECT id AS a, id AS b FROM hnodes
  UNION
  SELECT r1.src AS a, r1.dst AS b
  FROM reach r1 JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src),
sccs AS MATERIALIZED (SELECT a AS id, MIN(b) AS scc FROM mutual GROUP BY a)"""


def _host_scc_oracle_sql(n_pages: int = 500, seed: int = 42) -> str:
    return f"""
WITH {_host_scc_ctes(n_pages, seed)}
SELECT id, scc FROM sccs ORDER BY id
"""


def _bowtie_oracle_sql(n_pages: int = 500, seed: int = 42) -> str:
    # CORE = largest SCC (ties -> min scc id); IN reaches it, OUT is
    # reached from it, OTHER is the rest — same deterministic split as
    # operators/graphrank.py::bowtie_regions, derived from the closure.
    return f"""
WITH {_host_scc_ctes(n_pages, seed)},
core AS MATERIALIZED (
  SELECT scc FROM (
    SELECT scc, COUNT(*) AS c FROM sccs GROUP BY scc
    ORDER BY c DESC, scc ASC LIMIT 1)),
core_ids AS MATERIALIZED (
  SELECT id FROM sccs WHERE scc = (SELECT scc FROM core))
SELECT n.id,
       CASE
         WHEN n.id IN (SELECT id FROM core_ids) THEN 'CORE'
         WHEN EXISTS (SELECT 1 FROM reach r
                      WHERE r.src = n.id
                        AND r.dst IN (SELECT id FROM core_ids)) THEN 'IN'
         WHEN EXISTS (SELECT 1 FROM reach r
                      WHERE r.dst = n.id
                        AND r.src IN (SELECT id FROM core_ids)) THEN 'OUT'
         ELSE 'OTHER'
       END AS region
FROM hnodes n ORDER BY n.id
"""


def _condensation_oracle_sql(n_pages: int = 500, seed: int = 42) -> str:
    """Twin for ``web_scc_condensation``: condensation edges from the
    closure-derived sccs, longest-path levels via a recursive walk
    seeded at EVERY component at 0 (max over all walks ending at v ==
    1 + max over predecessors, by induction — the same fixpoint
    ``dag_levels`` computes frontier-style). The walk terminates
    because the condensation is acyclic by construction."""
    return f"""
WITH {_host_scc_ctes(n_pages, seed)},
cedges AS MATERIALIZED (
  SELECT DISTINCT s1.scc AS src, s2.scc AS dst
  FROM hedges e
  JOIN sccs s1 ON s1.id = e.src
  JOIN sccs s2 ON s2.id = e.dst
  WHERE s1.scc <> s2.scc),
cnodes AS MATERIALIZED (SELECT DISTINCT scc AS id FROM sccs),
lvl AS MATERIALIZED (
  WITH RECURSIVE l(id, level) AS (
    SELECT id, 0 FROM cnodes
    UNION ALL
    SELECT e.dst, l.level + 1 FROM l JOIN cedges e ON e.src = l.id
  ) SELECT id, MAX(level) AS level FROM l GROUP BY id)
SELECT z.scc, z.n_hosts, l.level
FROM (SELECT scc, COUNT(*) AS n_hosts FROM sccs GROUP BY scc) z
JOIN lvl l ON l.id = z.scc
ORDER BY z.scc
"""


def _redirect_oracle_sql(n_pages: int = 500, seed: int = 42) -> str:
    """Twin for ``web_redirect_resolution``: re-derives each page's
    url (domain = the generator's Zipf pick over mix(mix(i, seed), 1),
    limb-identical to ``_page_batch``), plants the same redirect map
    arithmetically, then resolves by walking chains ONE hop per
    recursion step with a depth cap well above the longest acyclic
    chain (3) — cyclic walks never reach a terminal row, so
    ``final IS NULL`` is the cycle verdict. Spark resolves the same
    map by pointer doubling: a different algorithm, so a green hash
    pins terminal, hop-count, and cycle semantics."""
    from cartography_spark.sources.pages import DOMAINS, _DOMAIN_CDF

    mix = _sql_mix
    doms = "[" + ", ".join(f"'{d}'" for d in DOMAINS) + "]"
    pick = _sql_pick("draw", "d", _DOMAIN_CDF, len(DOMAINS))
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n_pages - 1}))::UBIGINT AS i),
uk AS (SELECT i, {mix('i', seed, 'k1')} FROM ids),
ud AS (SELECT i, {mix('k1', 1, 'draw')} FROM uk),
udom AS (SELECT i, {pick} FROM ud),
urls AS MATERIALIZED (
  SELECT i::BIGINT AS pid,
         'https://' || ({doms})[d + 1] || '/page/' || i::VARCHAR AS url
  FROM udom),
redir AS MATERIALIZED (
  SELECT s.url AS src, t.url AS dst
  FROM (SELECT pid, url,
               CASE WHEN pid % 1000 = 7 THEN pid + 1
                    WHEN pid % 1000 = 8 THEN pid - 1
                    WHEN pid % 10 IN (1, 2, 3) THEN pid + 1 END AS dpid
        FROM urls) s
  JOIN urls t ON t.pid = s.dpid),
walk AS MATERIALIZED (
  WITH RECURSIVE w(src, cur, hops) AS (
    SELECT src, dst, 1 FROM redir
    UNION ALL
    SELECT w.src, r.dst, w.hops + 1
    FROM w JOIN redir r ON r.src = w.cur
    WHERE w.hops < 10
  ) SELECT src, cur, hops FROM w),
term AS MATERIALIZED (
  SELECT w.src, w.cur AS final, w.hops FROM walk w
  WHERE w.cur NOT IN (SELECT src FROM redir))
SELECT r.src, t.final, t.hops, (t.final IS NULL) AS is_cycle
FROM (SELECT DISTINCT src FROM redir) r
LEFT JOIN term t ON t.src = r.src
ORDER BY r.src
"""


def _fetch_schedule_oracle_sql(n_pages: int = 500, seed: int = 42) -> str:
    """Twin for ``web_fetch_schedule``: the frontier is derived
    ARITHMETICALLY (tid odd — outside the even-id crawled batch — or
    tid beyond the synthesized range; a planted dst url string-equals
    a real crawled url exactly when its target is a synthesized page,
    the url-consistency claim ``web_crawl_frontier`` already gates)
    where Spark runs the real url anti-join; the window twin replays
    the same (inlinks desc, url asc) per-host packing."""
    return f"""
WITH {_links_ctes(n_pages, seed)},
fr AS MATERIALIZED (
  SELECT dst_host, tid FROM links
  WHERE tid % 2 = 1 OR tid >= {n_pages}),
f AS MATERIALIZED (
  SELECT 'https://' || dst_host || '/page/' || tid::VARCHAR AS url,
         dst_host AS host, COUNT(*) AS n_inlinks
  FROM fr GROUP BY 1, 2)
SELECT url, host, n_inlinks,
       ((ROW_NUMBER() OVER (PARTITION BY host
                            ORDER BY n_inlinks DESC, url ASC)) - 1) // 2
         AS fetch_round
FROM f ORDER BY url
"""


def _hits_oracle_sql(iters: int = 5) -> str:
    """Unrolled HITS twin for ``kg_hits`` over the membership graph:
    per iteration, authority = in-link hub sum then L2-normalize, hub =
    out-link authority sum then L2-normalize — the exact update order
    of ``operators/graphrank.py::hits``. Every CTE MATERIALIZED (see
    _pagerank_oracle_sql); the zero-norm guard matches the operator's
    CASE so an edgeless graph yields 0.0, not NULL/inf."""
    head = """
WITH nodes AS (
  SELECT 'C' || c_custkey AS id FROM customer
  UNION ALL SELECT 'S' || s_suppkey FROM supplier
  UNION ALL SELECT 'N' || n_nationkey FROM nation
  UNION ALL SELECT 'R' || r_regionkey FROM region),
edges AS MATERIALIZED (
  SELECT 'C' || c_custkey AS src, 'N' || c_nationkey AS dst FROM customer
  UNION ALL SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
  UNION ALL SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation),
s0 AS MATERIALIZED (
  SELECT id, 1.0::DOUBLE AS hub, 1.0::DOUBLE AS authority FROM nodes)"""
    steps = []
    for i in range(1, iters + 1):
        p = f"s{i - 1}"
        steps.append(f""",
ar{i} AS MATERIALIZED (
  SELECT e.dst AS id, SUM(s.hub) AS a
  FROM {p} s JOIN edges e ON s.id = e.src GROUP BY e.dst),
an{i} AS MATERIALIZED (
  SELECT s.id, s.hub, COALESCE(a.a, 0.0::DOUBLE) AS authority
  FROM {p} s LEFT JOIN ar{i} a ON s.id = a.id),
aq{i} AS MATERIALIZED (SELECT sqrt(SUM(authority * authority)) AS n FROM an{i}),
a{i} AS MATERIALIZED (
  SELECT id, hub,
         CASE WHEN (SELECT n FROM aq{i}) = 0.0 THEN 0.0::DOUBLE
              ELSE authority / (SELECT n FROM aq{i}) END AS authority
  FROM an{i}),
hr{i} AS MATERIALIZED (
  SELECT e.src AS id, SUM(s.authority) AS h
  FROM a{i} s JOIN edges e ON s.id = e.dst GROUP BY e.src),
hn{i} AS MATERIALIZED (
  SELECT s.id, COALESCE(h.h, 0.0::DOUBLE) AS hub, s.authority
  FROM a{i} s LEFT JOIN hr{i} h ON s.id = h.id),
hq{i} AS MATERIALIZED (SELECT sqrt(SUM(hub * hub)) AS n FROM hn{i}),
s{i} AS MATERIALIZED (
  SELECT id,
         CASE WHEN (SELECT n FROM hq{i}) = 0.0 THEN 0.0::DOUBLE
              ELSE hub / (SELECT n FROM hq{i}) END AS hub,
         authority
  FROM hn{i})""")
    return (
        head
        + "".join(steps)
        + f"""
SELECT id, ROUND(hub, 6) AS hub, ROUND(authority, 6) AS authority
FROM s{iters}
"""
    )


ORACLES["kg_hits"] = _hits_oracle_sql()


def _kcore_oracle_sql(k: int = 3, rounds: int = 6) -> str:
    """Unrolled peeling twin for ``kg_kcore``: each round keeps only
    edges whose BOTH endpoints had degree >= k in the previous round's
    edge set — identical to the operator's anti-join peel (dropping a
    node drops its edges; a converged round is the identity, so a fixed
    round count compares exactly whether or not the peel has converged).
    Every CTE is MATERIALIZED (see _pagerank_oracle_sql on DuckDB's
    per-reference CTE inlining)."""
    head = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
u0 AS MATERIALIZED (
  SELECT DISTINCT least('D' || doc_id, term) AS lo,
                  greatest('D' || doc_id, term) AS hi
  FROM toks
  WHERE term IN ('spark', 'join', 'merge', 'filter', 'scan', 'hash', 'sort', 'agg'))"""
    steps = []
    for i in range(1, rounds + 1):
        p = f"u{i - 1}"
        steps.append(f""",
g{i} AS MATERIALIZED (
  SELECT id, COUNT(*) AS deg FROM (
    SELECT lo AS id FROM {p} UNION ALL SELECT hi FROM {p})
  GROUP BY id),
u{i} AS MATERIALIZED (
  SELECT e.lo, e.hi
  FROM {p} e JOIN g{i} a ON a.id = e.lo JOIN g{i} b ON b.id = e.hi
  WHERE a.deg >= {k} AND b.deg >= {k})""")
    return (
        head
        + "".join(steps)
        + f"""
SELECT id, COUNT(*) AS deg FROM (
  SELECT lo AS id FROM u{rounds} UNION ALL SELECT hi FROM u{rounds})
GROUP BY id
"""
    )


ORACLES["kg_kcore"] = _kcore_oracle_sql()


def _shortest_paths_oracle_sql(
    graph_ctes: str,
    seed_pred: str,
    rounds: int,
    weighted: bool = False,
    round_dist: bool = False,
) -> str:
    """Unrolled min-relaxation twin for ``shortest_paths``: round i's
    distance CTE is "min over (carry d_{i-1}, relax every edge out of
    d_{i-1})" — textbook Bellman-Ford with a fixed round count, which
    the operator's frontier form equals exactly (a node re-relaxes only
    after improving, and min over the same candidate set is the same
    min; see the operator docstring). ``graph_ctes`` must define
    ``nodes(id)`` and ``edges(src, dst[, cost])``. Unweighted distances
    are BIGINT hop counts; weighted are DOUBLE running sums (exact for
    integer-valued costs). Every chained CTE MATERIALIZED (see
    _pagerank_oracle_sql on DuckDB's per-reference inlining)."""
    step_cost = "r.dist + e.cost::DOUBLE" if weighted else "r.dist + 1"
    zero = "0.0::DOUBLE" if weighted else "0::BIGINT"
    head = f"""
WITH {graph_ctes},
d0 AS MATERIALIZED (SELECT id, {zero} AS dist FROM nodes WHERE {seed_pred})"""
    steps = []
    for i in range(1, rounds + 1):
        p = f"d{i - 1}"
        steps.append(f""",
d{i} AS MATERIALIZED (
  SELECT id, MIN(dist) AS dist FROM (
    SELECT id, dist FROM {p}
    UNION ALL
    SELECT e.dst AS id, {step_cost} AS dist
    FROM {p} r JOIN edges e ON r.id = e.src) u
  GROUP BY id)""")
    out = "ROUND(dist, 6) AS dist" if round_dist else "dist"
    return head + "".join(steps) + f"\nSELECT id, {out} FROM d{rounds}\n"


# BFS hop distances from the region seeds over the REVERSED membership
# graph (region -> nation -> member): integer-exact bounded
# reachability, the quantitative form of the exposure walks.
ORACLES["kg_bfs_distances"] = _shortest_paths_oracle_sql(
    graph_ctes="""nodes AS (
  SELECT 'C' || c_custkey AS id FROM customer
  UNION ALL SELECT 'S' || s_suppkey FROM supplier
  UNION ALL SELECT 'N' || n_nationkey FROM nation
  UNION ALL SELECT 'R' || r_regionkey FROM region),
edges AS MATERIALIZED (
  SELECT 'N' || c_nationkey AS src, 'C' || c_custkey AS dst FROM customer
  UNION ALL SELECT 'N' || s_nationkey, 'S' || s_suppkey FROM supplier
  UNION ALL SELECT 'R' || n_regionkey, 'N' || n_nationkey FROM nation)""",
    seed_pred="id LIKE 'R%'",
    rounds=3,
)

# Weighted cheapest-mention-path costs from the 'spark' term over the
# EXTRACTED doc<->term bipartite graph (edge cost = mention count) —
# the tokenize->build->traverse chain in one gate; costs are
# integer-valued doubles so both engines' running sums are bit-equal.
ORACLES["kg_weighted_paths"] = _shortest_paths_oracle_sql(
    graph_ctes="""toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS obj FROM documents),
doc_mentions AS MATERIALIZED (
  SELECT doc_id, obj, COUNT(*) AS n
  FROM toks
  WHERE obj IN ('spark', 'join', 'merge', 'filter', 'scan', 'hash', 'sort', 'agg')
  GROUP BY doc_id, obj),
fwd AS MATERIALIZED (
  SELECT 'D' || doc_id AS src, obj AS dst, n::DOUBLE AS cost FROM doc_mentions),
edges AS MATERIALIZED (
  SELECT src, dst, cost FROM fwd
  UNION ALL SELECT dst, src, cost FROM fwd),
nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges)""",
    seed_pred="id = 'spark'",
    rounds=4,
    weighted=True,
    round_dist=True,
)


def _label_propagation_oracle_sql(iters: int = 3) -> str:
    """Unrolled synchronous-LPA twin for ``kg_label_propagation`` over
    the triangle-closing entity graph: per iteration, neighbor-label
    counts over the symmetrized undirected edge set, then the
    (count desc, label asc) ROW_NUMBER pick — the exact deterministic
    tie-break order of ``operators/graphrank.py::label_propagation``;
    nodes with no neighbors carry their own label through the COALESCE.
    """
    head = """
WITH raw AS (
  SELECT 'C' || c_custkey AS x, 'N' || c_nationkey AS y FROM customer
  UNION ALL SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
  UNION ALL SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
  UNION ALL SELECT 'C' || c_custkey, 'R' || n_regionkey
            FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL SELECT 'S' || s_suppkey, 'R' || n_regionkey
            FROM supplier JOIN nation ON s_nationkey = n_nationkey),
und AS MATERIALIZED (
  SELECT DISTINCT least(x, y) AS lo, greatest(x, y) AS hi
  FROM raw WHERE x <> y),
sym AS MATERIALIZED (
  SELECT lo AS src, hi AS dst FROM und
  UNION ALL SELECT hi, lo FROM und),
nodes AS (
  SELECT 'C' || c_custkey AS id FROM customer
  UNION ALL SELECT 'S' || s_suppkey FROM supplier
  UNION ALL SELECT 'N' || n_nationkey FROM nation
  UNION ALL SELECT 'R' || r_regionkey FROM region),
l0 AS MATERIALIZED (SELECT id, id AS label FROM nodes)"""
    steps = []
    for i in range(1, iters + 1):
        p = f"l{i - 1}"
        steps.append(f""",
c{i} AS MATERIALIZED (
  SELECT e.dst AS id, l.label, COUNT(*) AS c
  FROM {p} l JOIN sym e ON l.id = e.src
  GROUP BY e.dst, l.label),
p{i} AS MATERIALIZED (
  SELECT id, label FROM (
    SELECT id, label,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, label ASC) AS rn
    FROM c{i}) t
  WHERE rn = 1),
l{i} AS MATERIALIZED (
  SELECT l.id, COALESCE(p.label, l.label) AS label
  FROM {p} l LEFT JOIN p{i} p ON l.id = p.id)""")
    return head + "".join(steps) + f"\nSELECT id, label FROM l{iters}\n"


ORACLES["kg_label_propagation"] = _label_propagation_oracle_sql()

# PMI / NPMI over co-mentioned vocabulary entities: distinct (doc,
# term) incidences, doc-keyed pair self-join (a < b), integer counts
# into one final ln — the relation-mining association gate.
ORACLES["kg_entity_pmi"] = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS obj FROM documents),
inc AS MATERIALIZED (
  SELECT DISTINCT doc_id AS doc, obj AS term
  FROM toks
  WHERE obj IN ('spark', 'join', 'merge', 'filter', 'scan', 'hash', 'sort', 'agg')),
n AS (SELECT COUNT(DISTINCT doc) AS n FROM inc),
dfq AS MATERIALIZED (SELECT term, COUNT(*) AS n FROM inc GROUP BY term),
co AS MATERIALIZED (
  SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_pair
  FROM inc a JOIN inc b ON a.doc = b.doc AND a.term < b.term
  GROUP BY a.term, b.term)
SELECT term_a, term_b, n_pair,
       ROUND(ln(n_pair * (SELECT n FROM n) / (da.n * db.n)), 6) AS pmi,
       ROUND(CASE WHEN n_pair = (SELECT n FROM n) THEN 1.0
                  ELSE ln(n_pair * (SELECT n FROM n) / (da.n * db.n))
                       / ln((SELECT n FROM n) / n_pair) END, 6) AS npmi
FROM co
JOIN dfq da ON da.term = co.term_a
JOIN dfq db ON db.term = co.term_b
"""


# Count-Min heavy hitters: d=4 x w=64 counters over per-user event
# rows, min-of-probes estimate beside exact counts — integer-exact on
# both engines, every bucket an md5 re-derivation.
ORACLES["sketch_count_min"] = """
WITH vals AS (
  SELECT CAST(user_id AS VARCHAR) AS v FROM events WHERE user_id IS NOT NULL),
counters AS MATERIALIZED (
  SELECT r AS row,
         ('0x' || substr(md5('cm' || CAST(r AS VARCHAR) || '|' || v), 1, 8))::BIGINT
           % 64 AS bucket,
         COUNT(*) AS cnt
  FROM vals CROSS JOIN (VALUES (0), (1), (2), (3)) t(r)
  GROUP BY row, bucket),
cand AS MATERIALIZED (SELECT DISTINCT v FROM vals),
probes AS (
  SELECT v, r AS row,
         ('0x' || substr(md5('cm' || CAST(r AS VARCHAR) || '|' || v), 1, 8))::BIGINT
           % 64 AS bucket
  FROM cand CROSS JOIN (VALUES (0), (1), (2), (3)) t(r)),
est AS (
  SELECT v, MIN(COALESCE(c.cnt, 0)) AS est
  FROM probes p LEFT JOIN counters c ON p.row = c.row AND p.bucket = c.bucket
  GROUP BY v),
ex AS (SELECT v, COUNT(*) AS exact FROM vals GROUP BY v)
SELECT est.v AS user_id, est.est AS est, ex.exact AS exact
FROM est JOIN ex USING (v)
"""


# Efraimidis-Spirakis weighted sample: exponential-race key
# -ln((h+1)/2^32)/w re-derived per doc, k smallest per source with the
# (key asc, doc_id asc) tie-break — selection-identical on both
# engines (keys are continuous md5 draws; a flip needs a sub-ulp tie).
ORACLES["sample_weighted"] = """
WITH sized AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS w FROM documents),
keyed AS (
  SELECT source, doc_id,
         -ln(((('0x' || substr(md5('ws' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               + 1)) / 4294967296.0) / w AS key
  FROM sized)
SELECT source, doc_id, CAST(rn AS INT) AS sample_rank
FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY key ASC, doc_id ASC) AS rn
  FROM keyed) t
WHERE rn <= 3
"""


# Unigram-LM quality scores: corpus-trained counts (one token shuffle)
# with add-1 smoothing over V+1 types; (c+1.0)/(N+V) is exact-integer
# double division into one ln per type; the per-doc SUM's summation
# order is the only cross-engine float surface (round absorbs it).
ORACLES["text_lm_quality"] = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
counts AS MATERIALIZED (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
tot AS (SELECT SUM(c) AS n, COUNT(*) + 1 AS v FROM counts),
scored AS (
  SELECT t.doc_id,
         ln((COALESCE(c.c, 0) + 1.0) / (SELECT n + v FROM tot)) AS lp
  FROM toks t LEFT JOIN counts c USING (tok)),
agg AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(lp) AS s
  FROM scored GROUP BY doc_id)
SELECT doc_id, n_tokens,
       ROUND(s / n_tokens, 6) AS avg_logprob,
       ROUND(exp(-(s / n_tokens)), 4) AS ppl
FROM agg
"""

# Repeated 5-gram spans across documents: positional gram stream (one
# row per token), gram-keyed aggregate with distinct-doc filter —
# integer-exact.
ORACLES["dedup_repeated_ngrams"] = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
grams AS (
  SELECT doc_id, array_to_string(l[i:i+4], ' ') AS gram
  FROM toks, LATERAL unnest(generate_series(1, len(l) - 5 + 1)) t(i)
  WHERE len(l) >= 5)
SELECT gram,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occurrences
FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
"""


# URL canonicalization: the twin re-derives BOTH the variant
# construction (CASE doc_id % 3) and every normalization rule
# (fragment, case, default port, trailing slashes, tracking-param
# filter + lexicographic re-sort) with independent string primitives.
ORACLES["web_canonical_urls"] = """
WITH urls AS (
  SELECT CASE doc_id % 3
    WHEN 0 THEN 'HTTPS://Site' || CAST(doc_id // 3 % 7 AS VARCHAR)
                || '.Example.org:443/page/' || CAST(doc_id // 3 AS VARCHAR)
                || '/?utm_source=feed&b=2&a=1#top'
    WHEN 1 THEN 'https://site' || CAST(doc_id // 3 % 7 AS VARCHAR)
                || '.example.org/page/' || CAST(doc_id // 3 AS VARCHAR)
                || '?a=1&b=2&fbclid=abc'
    ELSE 'https://site' || CAST(doc_id // 3 % 7 AS VARCHAR)
         || '.example.org/page/' || CAST(doc_id // 3 AS VARCHAR)
         || '//?b=2&a=1'
  END AS url
  FROM documents),
comps AS (
  SELECT url,
         string_split(string_split(url, '#')[1], '?')[1] AS base,
         CASE WHEN len(string_split(string_split(url, '#')[1], '?')) > 1
              THEN string_split(string_split(url, '#')[1], '?')[2]
              ELSE '' END AS query
  FROM urls),
norm AS (
  SELECT url,
    lower(regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(
      lower(regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)', 1)),
      ':(80|443)$', '') AS host,
    regexp_replace(
      regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]+(/.*)?$', 1),
      '/+$', '') AS path,
    list_sort(list_filter(string_split(query, '&'),
      x -> x <> '' AND NOT starts_with(x, 'utm_')
           AND NOT string_split(x, '=')[1] IN ('fbclid', 'gclid', 'ref'))) AS params
  FROM comps),
canon AS (
  SELECT url,
         scheme || '://' || host || path ||
         CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&')
              ELSE '' END AS canonical_url
  FROM norm)
SELECT canonical_url, COUNT(*) AS n_urls, COUNT(DISTINCT url) AS n_distinct_raw
FROM canon GROUP BY canonical_url
"""


# Entity context windows: positions from one unnest, vocab IN filter,
# two edge-safe list slices (center excluded) — per-mention provenance.
ORACLES["kg_entity_contexts"] = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
px AS (
  SELECT doc_id, l, i AS pos, l[i] AS entity
  FROM toks, LATERAL unnest(generate_series(1, len(l))) t(i)
  WHERE l[i] IN ('spark', 'join', 'merge', 'filter', 'scan', 'hash', 'sort', 'agg'))
SELECT doc_id AS id, pos, entity,
       array_to_string(
         list_concat(l[greatest(pos - 2, 1):pos - 1],
                     l[pos + 1:least(pos + 2, len(l))]), ' ') AS context
FROM px
"""


# Bloom pre-filter vs exact membership: 256-bit / 3-hash filter over
# the benchmark subset, probed per doc — no false negatives, the FP
# rows ARE part of the hashed answer.
ORACLES["sketch_bloom_decontaminate"] = """
WITH bench AS (SELECT text AS v FROM documents WHERE doc_id % 17 = 0),
bits AS MATERIALIZED (
  SELECT DISTINCT
    ('0x' || substr(md5('bf' || CAST(i AS VARCHAR) || '|' || v), 1, 8))::BIGINT
      % 256 AS bit
  FROM bench CROSS JOIN (VALUES (0), (1), (2)) t(i)),
probes AS (
  SELECT doc_id, i,
    ('0x' || substr(md5('bf' || CAST(i AS VARCHAR) || '|' || text), 1, 8))::BIGINT
      % 256 AS bit
  FROM documents CROSS JOIN (VALUES (0), (1), (2)) t(i)),
agg AS (
  SELECT doc_id,
         SUM(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) = 3 AS maybe_member
  FROM probes p LEFT JOIN bits b ON p.bit = b.bit
  GROUP BY doc_id),
ex AS (
  SELECT doc_id, text IN (SELECT v FROM bench) AS exact_member FROM documents)
SELECT a.doc_id, a.maybe_member, e.exact_member
FROM agg a JOIN ex e USING (doc_id)
"""


# Single-pass table profile: per-column counts + typed min/max
# (timestamps as epoch micros so no render-format surface).
ORACLES["profile_events"] = """
SELECT 'event_id' AS col_name, COUNT(*) AS n_rows,
       SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       COUNT(DISTINCT event_id) AS n_distinct,
       MIN(event_id)::DOUBLE AS min_num, MAX(event_id)::DOUBLE AS max_num,
       NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str
FROM events
UNION ALL
SELECT 'ts', COUNT(*), SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)::BIGINT,
       COUNT(DISTINCT ts),
       epoch_us(MIN(ts))::DOUBLE, epoch_us(MAX(ts))::DOUBLE, NULL, NULL
FROM events
UNION ALL
SELECT 'user_id', COUNT(*), SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT,
       COUNT(DISTINCT user_id),
       MIN(user_id)::DOUBLE, MAX(user_id)::DOUBLE, NULL, NULL
FROM events
UNION ALL
SELECT 'event_type', COUNT(*), SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)::BIGINT,
       COUNT(DISTINCT event_type),
       NULL::DOUBLE, NULL::DOUBLE, MIN(event_type), MAX(event_type)
FROM events
UNION ALL
SELECT 'value', COUNT(*), SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT,
       COUNT(DISTINCT value),
       MIN(value), MAX(value), NULL, NULL
FROM events
"""



# Mixture plan: per-stratum availability vs literal target shares,
# T = min(available/share) over targeted strata, rate = share*T/avail.
ORACLES["sample_mixture_plan"] = """
WITH t(stratum, share) AS (VALUES ('src0', 0.2::DOUBLE), ('src1', 0.2::DOUBLE), ('src2', 0.2::DOUBLE), ('src3', 0.023529411764705882::DOUBLE), ('src4', 0.023529411764705882::DOUBLE), ('src5', 0.023529411764705882::DOUBLE), ('src6', 0.023529411764705882::DOUBLE), ('src7', 0.023529411764705882::DOUBLE), ('src8', 0.023529411764705882::DOUBLE), ('src9', 0.023529411764705882::DOUBLE), ('src10', 0.023529411764705882::DOUBLE), ('src11', 0.023529411764705882::DOUBLE), ('src12', 0.023529411764705882::DOUBLE), ('src13', 0.023529411764705882::DOUBLE), ('src14', 0.023529411764705882::DOUBLE), ('src15', 0.023529411764705882::DOUBLE), ('src16', 0.023529411764705882::DOUBLE), ('src17', 0.023529411764705882::DOUBLE), ('src18', 0.023529411764705882::DOUBLE), ('src19', 0.023529411764705882::DOUBLE)),
stats AS (
  SELECT d.source AS stratum, COUNT(*) AS n_rows,
         SUM(len(string_split(d.text, ' ')))::DOUBLE AS available
  FROM documents d GROUP BY d.source),
j AS (
  SELECT s.stratum, s.n_rows, s.available, COALESCE(t.share, 0.0) AS target_share
  FROM stats s LEFT JOIN t ON t.stratum = s.stratum),
tm AS (SELECT MIN(available / target_share) AS tmax FROM j WHERE target_share > 0)
SELECT stratum, n_rows, available,
       ROUND(target_share, 6) AS target_share,
       ROUND(CASE WHEN target_share > 0
                  THEN target_share * (SELECT tmax FROM tm) / available
                  ELSE 0.0 END, 6) AS rate,
       ROUND(CASE WHEN target_share > 0
                  THEN target_share * (SELECT tmax FROM tm)
                  ELSE 0.0 END, 4) AS planned
FROM j
"""

# Percentile-rank calibration of an integer score: PERCENT_RANK over
# (source, n_tokens) — exact rational, bit-stable ordering.
ORACLES["text_quality_calibrated"] = """
SELECT doc_id, source, n_tokens,
       ROUND(PERCENT_RANK() OVER (PARTITION BY source ORDER BY n_tokens), 6)
         AS pct_rank
FROM (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
  FROM documents) x
"""


# Session token sequences: same gap rule/numbering as agg_sessionize,
# tokens joined in (ts, token) order — string_agg with the identical
# ORDER BY tie-break.
ORACLES["agg_session_sequences"] = """
WITH b AS (
  SELECT user_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 28800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM b
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       COUNT(*) AS n_events,
       string_agg(event_type, ' ' ORDER BY ts, event_type) AS sequence
FROM s
GROUP BY user_id, session_seq
"""


# Top-3 related entities per entity by NPMI over the symmetric pair
# closure — same counts/ln as kg_entity_pmi, (npmi desc, related asc)
# ROW_NUMBER tie-break.
ORACLES["kg_related_entities"] = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS obj FROM documents),
inc AS MATERIALIZED (
  SELECT DISTINCT doc_id AS doc, obj AS term
  FROM toks
  WHERE obj IN ('spark', 'join', 'merge', 'filter', 'scan', 'hash', 'sort', 'agg')),
n AS (SELECT COUNT(DISTINCT doc) AS n FROM inc),
dfq AS MATERIALIZED (SELECT term, COUNT(*) AS n FROM inc GROUP BY term),
co AS MATERIALIZED (
  SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_pair
  FROM inc a JOIN inc b ON a.doc = b.doc AND a.term < b.term
  GROUP BY a.term, b.term),
scored AS (
  SELECT term_a, term_b, n_pair,
         CASE WHEN n_pair = (SELECT n FROM n) THEN 1.0
              ELSE ln(n_pair * (SELECT n FROM n) / (da.n * db.n))
                   / ln((SELECT n FROM n) / n_pair) END AS npmi
  FROM co JOIN dfq da ON da.term = co.term_a JOIN dfq db ON db.term = co.term_b),
sym AS (
  SELECT term_a AS entity, term_b AS related, n_pair, npmi FROM scored
  UNION ALL
  SELECT term_b, term_a, n_pair, npmi FROM scored)
SELECT entity, related, n_pair, ROUND(npmi, 6) AS npmi, CAST(rank AS INT) AS rank
FROM (
  SELECT entity, related, n_pair, npmi,
         ROW_NUMBER() OVER (PARTITION BY entity
                            ORDER BY npmi DESC, related ASC) AS rank
  FROM sym) t
WHERE rank <= 3
"""

# Log2-binned degree histogram: bin = length(bin(deg)) - 1, no floats.
ORACLES["kg_degree_histogram"] = """
WITH edges AS (
  SELECT 'C' || c_custkey AS src, 'N' || c_nationkey AS dst FROM customer
  UNION ALL SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
  UNION ALL SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation),
outd AS (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY src),
ind AS (SELECT dst AS id, COUNT(*) AS deg FROM edges GROUP BY dst)
SELECT 'out' AS direction, log2_bin, COUNT(*) AS n_nodes
FROM (SELECT length(bin(deg)) - 1 AS log2_bin FROM outd) x GROUP BY log2_bin
UNION ALL
SELECT 'in', log2_bin, COUNT(*)
FROM (SELECT length(bin(deg)) - 1 AS log2_bin FROM ind) y GROUP BY log2_bin
"""


# KMV cross-source overlap: bottom-128 md5 sketches of each source's
# word-3-gram shingle set, pairwise union-bottom-k Jaccard estimate
# BESIDE the exact Jaccard (zero-intersection pairs kept via the left
# join) — sketch error is part of the hashed answer.
ORACLES["kmv_source_overlap"] = """
WITH toks AS (SELECT source, string_split(text, ' ') AS l FROM documents),
sh AS MATERIALIZED (
  SELECT DISTINCT source, array_to_string(l[i:i+2], ' ') AS s
  FROM toks, LATERAL unnest(generate_series(1, greatest(len(l) - 2, 1))) t(i)),
hd AS MATERIALIZED (
  SELECT DISTINCT source, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h FROM sh),
sk AS MATERIALIZED (
  SELECT source, h FROM (
    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hd) x
  WHERE rn <= 128),
pairs AS (
  SELECT a.source AS ga, b.source AS gb
  FROM (SELECT DISTINCT source FROM sk) a, (SELECT DISTINCT source FROM sk) b
  WHERE a.source < b.source),
m AS MATERIALIZED (
  SELECT p.ga, p.gb, s.h,
         MAX(CASE WHEN s.source = p.ga THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN s.source = p.gb THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN sk s ON s.source IN (p.ga, p.gb)
  GROUP BY p.ga, p.gb, s.h),
bot AS (
  SELECT ga, gb, in_a, in_b FROM (
    SELECT ga, gb, in_a, in_b,
           ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
    FROM m) y
  WHERE rn <= 128),
est AS (
  SELECT ga, gb, SUM(in_a * in_b) / COUNT(*) AS je FROM bot GROUP BY ga, gb),
inter AS (
  SELECT a.source AS ga, b.source AS gb, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
  GROUP BY a.source, b.source),
sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source)
SELECT e.ga AS group_a, e.gb AS group_b,
       ROUND(e.je, 6) AS jaccard_est,
       ROUND(COALESCE(i.i, 0) / (sa.n + sb.n - COALESCE(i.i, 0)), 6)
         AS jaccard_exact
FROM est e
LEFT JOIN inter i ON i.ga = e.ga AND i.gb = e.gb
JOIN sizes sa ON sa.source = e.ga
JOIN sizes sb ON sb.source = e.gb
"""


def _hll_oracle_sql(p: int = 8) -> str:
    """HLL twin for ``sketch_hll_distinct``: md5 32-bit hash, top-p
    register index via >>, integer-exact rank from length(bin(.)),
    max-register fold, the shared alpha*m^2 literal (imported from the
    operator so both engines divide by the SAME double), and the
    linear-counting small-range branch — per event_type, for event_id
    (raw branch) and user_id (linear branch) beside exact counts."""
    from cartography_spark.operators.sketches import _alpha

    m = 2**p
    shift = 32 - p
    am2 = f"{_alpha(m) * m * m!r}::DOUBLE"
    parts = []
    for metric in ("event_id", "user_id"):
        parts.append(f"""
SELECT event_type, '{metric}' AS metric,
       ROUND(CASE WHEN {am2} / sum_inv <= {2.5 * m!r} AND v > 0
                  THEN {float(m)!r} * ln({float(m)!r} / v)
                  ELSE {am2} / sum_inv END, 4) AS approx,
       exact
FROM (
  SELECT event_type,
         SUM(power(0.5, rank)) + ({m} - COUNT(*)) AS sum_inv,
         {m} - COUNT(*) AS v
  FROM (
    SELECT event_type, h >> {shift} AS bucket,
           MAX(CASE WHEN h % {2**shift} = 0 THEN {shift + 1}
                    ELSE {shift + 1} - length(bin(h % {2**shift})) END) AS rank
    FROM (
      SELECT event_type,
             ('0x' || substr(md5(CAST({metric} AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM events WHERE {metric} IS NOT NULL) hashed
    GROUP BY event_type, bucket) regs
  GROUP BY event_type) folded
JOIN (
  SELECT event_type, COUNT(DISTINCT {metric}) AS exact
  FROM events GROUP BY event_type) ex USING (event_type)""")
    return "\nUNION ALL\n".join(parts) + "\n"


ORACLES["sketch_hll_distinct"] = _hll_oracle_sql()


_MENTION_BIPARTITE_CTES = """toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS obj FROM documents),
doc_mentions AS MATERIALIZED (
  SELECT doc_id, obj, COUNT(*) AS n
  FROM toks
  WHERE obj IN ('spark', 'join', 'merge', 'filter', 'scan', 'hash', 'sort', 'agg')
  GROUP BY doc_id, obj),
fwd AS MATERIALIZED (
  SELECT 'D' || doc_id AS src, obj AS dst FROM doc_mentions),
e AS MATERIALIZED (
  SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd)"""


def _hyperball_oracle_sql(rounds: int = 2, p: int = 6) -> str:
    """Unrolled HyperBall twin for ``kg_hyperball_reach``: per-node HLL
    registers seeded from md5(id), one max-merge CTE per round (carry
    UNION ALL pull-from-out-neighbors, then GROUP BY max), and the
    shared estimator fold — alpha*m^2 imported from the operator so
    both engines divide the SAME double. Register rows per node are
    capped at 2^p, so even the unrolled twin stays small."""
    from cartography_spark.operators.sketches import _alpha

    m = 2**p
    shift = 32 - p
    am2 = f"{_alpha(m) * m * m!r}::DOUBLE"
    head = f"""
WITH {_MENTION_BIPARTITE_CTES},
ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM e),
nodes AS MATERIALIZED (
  SELECT DISTINCT id FROM (SELECT src AS id FROM ed UNION ALL SELECT dst FROM ed) u),
r0 AS MATERIALIZED (
  SELECT id, h >> {shift} AS bucket,
         MAX(CASE WHEN h % {2**shift} = 0 THEN {shift + 1}
                  ELSE {shift + 1} - length(bin(h % {2**shift})) END) AS rank
  FROM (SELECT id, ('0x' || substr(md5(id), 1, 8))::BIGINT AS h FROM nodes) x
  GROUP BY id, bucket)"""
    steps = []
    for i in range(1, rounds + 1):
        prev = f"r{i - 1}"
        steps.append(f""",
r{i} AS MATERIALIZED (
  SELECT id, bucket, MAX(rank) AS rank FROM (
    SELECT id, bucket, rank FROM {prev}
    UNION ALL
    SELECT e.src AS id, r.bucket, r.rank
    FROM ed e JOIN {prev} r ON e.dst = r.id) u
  GROUP BY id, bucket)""")
    return (
        head
        + "".join(steps)
        + f"""
SELECT id,
       ROUND(CASE WHEN {am2} / sum_inv <= {2.5 * m!r} AND v > 0
                  THEN {float(m)!r} * ln({float(m)!r} / v)
                  ELSE {am2} / sum_inv END, 4) AS approx_reach
FROM (
  SELECT id,
         SUM(power(0.5, rank)) + ({m} - COUNT(*)) AS sum_inv,
         {m} - COUNT(*) AS v
  FROM r{rounds} GROUP BY id) f
"""
    )


ORACLES["kg_hyperball_reach"] = _hyperball_oracle_sql()


def _neighborhood_fn_oracle_sql(max_r: int = 3, p: int = 6) -> str:
    """Per-round mean-ball-size twin for ``kg_neighborhood_function``:
    the hyperball register rounds plus, per round, the shared estimator
    fold and a global AVG — the neighborhood function curve N(0..R)."""
    from cartography_spark.operators.sketches import _alpha

    m = 2**p
    shift = 32 - p
    am2 = f"{_alpha(m) * m * m!r}::DOUBLE"
    head = f"""
WITH {_MENTION_BIPARTITE_CTES},
ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM e),
nodes AS MATERIALIZED (
  SELECT DISTINCT id FROM (SELECT src AS id FROM ed UNION ALL SELECT dst FROM ed) u),
r0 AS MATERIALIZED (
  SELECT id, h >> {shift} AS bucket,
         MAX(CASE WHEN h % {2**shift} = 0 THEN {shift + 1}
                  ELSE {shift + 1} - length(bin(h % {2**shift})) END) AS rank
  FROM (SELECT id, ('0x' || substr(md5(id), 1, 8))::BIGINT AS h FROM nodes) x
  GROUP BY id, bucket)"""
    est = (
        f"""SELECT id,
         CASE WHEN {am2} / sum_inv <= {2.5 * m!r} AND v > 0
              THEN {float(m)!r} * ln({float(m)!r} / v)
              ELSE {am2} / sum_inv END AS est
  FROM (
    SELECT id, SUM(power(0.5, rank)) + ({m} - COUNT(*)) AS sum_inv,
           {m} - COUNT(*) AS v
    FROM r{{i}} GROUP BY id) x"""
    )
    steps, finals = [], [f"SELECT 0 AS r, ROUND(AVG(est), 4) AS avg_reach FROM f0"]
    for i in range(1, max_r + 1):
        prev = f"r{i - 1}"
        steps.append(f""",
r{i} AS MATERIALIZED (
  SELECT id, bucket, MAX(rank) AS rank FROM (
    SELECT id, bucket, rank FROM {prev}
    UNION ALL
    SELECT e.src AS id, r.bucket, r.rank
    FROM ed e JOIN {prev} r ON e.dst = r.id) u
  GROUP BY id, bucket)""")
        finals.append(
            f"SELECT {i} AS r, ROUND(AVG(est), 4) AS avg_reach FROM f{i}"
        )
    folds = "".join(
        f",\nf{i} AS MATERIALIZED (\n  {est.format(i=i)})" for i in range(max_r + 1)
    )
    return head + "".join(steps) + folds + "\n" + "\nUNION ALL ".join(finals) + "\n"


ORACLES["kg_neighborhood_function"] = _neighborhood_fn_oracle_sql()


def _harmonic_oracle_sql(max_r: int = 3, p: int = 6) -> str:
    """HyperBall harmonic-centrality twin: the register rounds and
    per-round per-node estimator folds of _neighborhood_fn_oracle_sql,
    then H(v) = sum over r of (est_r - est_{r-1}) / r with plain
    division (one IEEE rounding, matching the operator)."""
    from cartography_spark.operators.sketches import _alpha

    m = 2**p
    shift = 32 - p
    am2 = f"{_alpha(m) * m * m!r}::DOUBLE"
    head = f"""
WITH {_MENTION_BIPARTITE_CTES},
ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM e),
nodes AS MATERIALIZED (
  SELECT DISTINCT id FROM (SELECT src AS id FROM ed UNION ALL SELECT dst FROM ed) u),
r0 AS MATERIALIZED (
  SELECT id, h >> {shift} AS bucket,
         MAX(CASE WHEN h % {2**shift} = 0 THEN {shift + 1}
                  ELSE {shift + 1} - length(bin(h % {2**shift})) END) AS rank
  FROM (SELECT id, ('0x' || substr(md5(id), 1, 8))::BIGINT AS h FROM nodes) x
  GROUP BY id, bucket)"""
    est = (
        f"""SELECT id,
         CASE WHEN {am2} / sum_inv <= {2.5 * m!r} AND v > 0
              THEN {float(m)!r} * ln({float(m)!r} / v)
              ELSE {am2} / sum_inv END AS est
  FROM (
    SELECT id, SUM(power(0.5, rank)) + ({m} - COUNT(*)) AS sum_inv,
           {m} - COUNT(*) AS v
    FROM r{{i}} GROUP BY id) x"""
    )
    steps = []
    for i in range(1, max_r + 1):
        prev = f"r{i - 1}"
        steps.append(f""",
r{i} AS MATERIALIZED (
  SELECT id, bucket, MAX(rank) AS rank FROM (
    SELECT id, bucket, rank FROM {prev}
    UNION ALL
    SELECT e.src AS id, r.bucket, r.rank
    FROM ed e JOIN {prev} r ON e.dst = r.id) u
  GROUP BY id, bucket)""")
    folds = "".join(
        f",\nf{i} AS MATERIALIZED (\n  {est.format(i=i)})" for i in range(max_r + 1)
    )
    terms = " + ".join(
        f"(f{i}.est - f{i - 1}.est) / {float(i)!r}" for i in range(1, max_r + 1)
    )
    joins = " ".join(f"JOIN f{i} USING (id)" for i in range(1, max_r + 1))
    return (
        head
        + "".join(steps)
        + folds
        + f"\nSELECT id, ROUND({terms}, 4) AS harmonic\nFROM f0 {joins}\n"
    )


ORACLES["kg_harmonic_centrality"] = _harmonic_oracle_sql()



def _random_walks_oracle_sql(
    walk_len: int = 3,
    num_walks: int = 1,
    seed: str = "walk",
    skipgram_window: int | None = None,
) -> str:
    """Unrolled deterministic-walk twin for ``kg_random_walks``: the
    dst-sorted adjacency index and every per-step md5 draw are
    re-derived hex-identically (the shared md5-pick idiom), one chained
    CTE per step; walkers at dangling nodes drop out via the inner
    join, exactly like ``operators/embedding.py::random_walks``."""
    wvals = ", ".join(f"({w})" for w in range(num_walks))
    head = f"""
WITH {_MENTION_BIPARTITE_CTES},
adj AS MATERIALIZED (
  SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
  FROM (SELECT DISTINCT src, dst FROM e) t),
od AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM adj GROUP BY src),
starts AS MATERIALIZED (
  SELECT DISTINCT id FROM (SELECT src AS id FROM adj UNION ALL SELECT dst FROM adj) u),
s0 AS MATERIALIZED (
  SELECT id || '#' || CAST(w AS VARCHAR) AS walk, id AS cur
  FROM starts CROSS JOIN (VALUES {wvals}) v(w))"""
    steps = []
    for t in range(1, walk_len + 1):
        p = f"s{t - 1}"
        steps.append(f""",
s{t} AS MATERIALIZED (
  SELECT p.walk, a.dst AS cur
  FROM {p} p
  JOIN od o ON p.cur = o.src
  JOIN adj a ON a.src = p.cur
   AND a.idx = ('0x' || substr(md5('{seed}' || p.walk || ':{t}'), 1, 8))::BIGINT
                % o.outdeg)""")
    finals = "\n  UNION ALL ".join(
        f"SELECT walk, {t} AS step, cur AS id FROM s{t}" for t in range(walk_len + 1)
    )
    if skipgram_window is None:
        return head + "".join(steps) + "\n" + finals + "\n"
    return (
        head
        + "".join(steps)
        + f""",
corpus AS MATERIALIZED (
  {finals})
SELECT a.id AS center, b.id AS context, b.step - a.step AS offset
FROM corpus a JOIN corpus b ON a.walk = b.walk
WHERE b.step <> a.step AND abs(b.step - a.step) <= {skipgram_window}
"""
    )


ORACLES["kg_random_walks"] = _random_walks_oracle_sql()

# Skip-gram (center, context, offset) pairs within a ±2 window over
# the SAME walk corpus — the word2vec layout DeepWalk trains on.
ORACLES["kg_skipgram_pairs"] = _random_walks_oracle_sql(skipgram_window=2)

def _node2vec_oracle_sql(
    walk_len: int = 3,
    p: float = 2.0,
    q: float = 0.5,
    num_walks: int = 1,
    seed: str = "n2v",
) -> str:
    """Unrolled second-order node2vec twin for ``kg_node2vec_walks``:
    per step, the candidate fan-out, the (prev, x) edge-existence LEFT
    join, the dst-sorted cumulative weight profile, and the md5 uniform
    draw u = (h+1)/2^32 — first x with cum > u*tot wins. With p, q
    powers of two every cumsum is a dyadic rational, exact in double on
    both engines."""
    ret_w, far_w = repr(1.0 / p), repr(1.0 / q)
    wvals = ", ".join(f"({w})" for w in range(num_walks))
    head = f"""
WITH {_MENTION_BIPARTITE_CTES},
ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM e),
nodes AS MATERIALIZED (
  SELECT DISTINCT id FROM (SELECT src AS id FROM ed UNION ALL SELECT dst FROM ed) u),
s0 AS MATERIALIZED (
  SELECT id || '#' || CAST(w AS VARCHAR) AS walk,
         NULL::VARCHAR AS prev, id AS cur
  FROM nodes CROSS JOIN (VALUES {wvals}) v(w))"""
    steps = []
    for t in range(1, walk_len + 1):
        prev = f"s{t - 1}"
        steps.append(f""",
c{t} AS MATERIALIZED (
  SELECT s.walk, s.prev, s.cur, a.dst AS x
  FROM {prev} s JOIN ed a ON a.src = s.cur),
w{t} AS MATERIALIZED (
  SELECT c.walk, c.cur, c.x,
         CASE WHEN c.prev IS NULL THEN 1.0::DOUBLE
              WHEN c.x = c.prev THEN {ret_w}::DOUBLE
              WHEN d.src IS NOT NULL THEN 1.0::DOUBLE
              ELSE {far_w}::DOUBLE END AS alpha
  FROM c{t} c LEFT JOIN ed d ON d.src = c.prev AND d.dst = c.x),
k{t} AS MATERIALIZED (
  SELECT walk, cur, x,
         SUM(alpha) OVER (PARTITION BY walk) AS tot,
         SUM(alpha) OVER (PARTITION BY walk ORDER BY x
                          ROWS UNBOUNDED PRECEDING) AS cum,
         ((('0x' || substr(md5('{seed}' || walk || ':{t}'), 1, 8))::BIGINT + 1))
           / 4294967296.0 AS u
  FROM w{t}),
s{t} AS MATERIALIZED (
  SELECT walk, prev, cur FROM (
    SELECT walk, cur AS prev, x AS cur,
           ROW_NUMBER() OVER (PARTITION BY walk ORDER BY x) AS rn
    FROM k{t} WHERE cum > u * tot) z
  WHERE rn = 1)""")
    finals = "\n  UNION ALL ".join(
        f"SELECT walk, {t} AS step, cur AS id FROM s{t}" for t in range(walk_len + 1)
    )
    return head + "".join(steps) + "\n" + finals + "\n"


ORACLES["kg_node2vec_walks"] = _node2vec_oracle_sql()


# Filtered TransE negatives over the extracted mention triples: k=2
# md5-drawn object corruptions per triple against the ent-sorted
# dictionary, minus true-triple collisions — every draw re-derived
# hex-identically.
ORACLES["kg_negative_samples"] = f"""
WITH {_MENTION_BIPARTITE_CTES},
t AS MATERIALIZED (
  SELECT 'D' || doc_id AS subj, 'mentions' AS pred, obj FROM doc_mentions),
ents AS MATERIALIZED (
  SELECT ent, ROW_NUMBER() OVER (ORDER BY ent) - 1 AS eidx
  FROM (SELECT DISTINCT obj AS ent FROM t) x),
drawn AS MATERIALIZED (
  SELECT subj, pred, obj, j,
         ('0x' || substr(md5('neg' || subj || '|' || pred || '|' || obj || '|'
                              || CAST(j AS VARCHAR)), 1, 8))::BIGINT
           % (SELECT COUNT(*) FROM ents) AS pick
  FROM t CROSS JOIN (VALUES (0), (1)) v(j)),
corrupted AS MATERIALIZED (
  SELECT d.subj, d.pred, e.ent AS neg_obj, d.j
  FROM drawn d JOIN ents e ON d.pick = e.eidx)
SELECT c.subj, c.pred, c.neg_obj, c.j
FROM corrupted c
LEFT JOIN t ON t.subj = c.subj AND t.pred = c.pred AND t.obj = c.neg_obj
WHERE t.subj IS NULL
"""

# Deterministic shard shuffle: md5-bucket shard + full-digest order
# re-derived hex-identically (same idiom as sample_stratified); the
# ROW_NUMBER tie-break chain (digest, doc_id) is pinned on both sides.
ORACLES["shard_shuffle"] = """
WITH h AS (
  SELECT doc_id, lang,
         md5('epoch0' || CAST(doc_id AS VARCHAR)) AS digest
  FROM documents),
s AS (
  SELECT doc_id, lang, digest,
         CAST(('0x' || substr(digest, 1, 8))::BIGINT % 8 AS INT) AS shard
  FROM h)
SELECT doc_id, lang, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY digest, doc_id)
            - 1 AS BIGINT) AS position
FROM s
"""

def _random_projection_oracle_sql(
    out_dim: int = 8, in_dim: int = 64, seed: str = "rp"
) -> str:
    """JL sign-projection twin: one list_dot_product per output dim
    against the SAME literal sign rows the Spark builder emits
    (projection_signs is the shared pure function), scaled by the same
    pre-computed 1/sqrt(out_dim) literal. list_dot_product on DOUBLE[]
    matches the Spark fold bit-for-bit modulo summation ulps (the
    sim_topk_brute precedent); ROUND(6) absorbs them."""
    import math

    from cartography_spark.operators.similarity import projection_signs

    signs = projection_signs(out_dim, in_dim, seed)
    scale = f"{1.0 / math.sqrt(out_dim)!r}::DOUBLE"
    cols = ",\n       ".join(
        f"ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"[{', '.join(f'{v!r}::DOUBLE' for v in signs[j])}]) * {scale}, 6) AS p{j}"
        for j in range(out_dim)
    )
    return f"SELECT vec_id,\n       {cols}\nFROM embeddings\n"


ORACLES["sim_random_projection"] = _random_projection_oracle_sql()

# Rolling 3-event window per user: identical frame spec both engines
# (ROWS 2 PRECEDING, (ts, event_id) total order). The float sum rounds;
# min/max/count are exact.
ORACLES["agg_rolling_window"] = """
SELECT event_id, user_id,
       ROUND(SUM(value) OVER w, 6) AS roll_sum,
       MIN(value) OVER w AS roll_min,
       MAX(value) OVER w AS roll_max,
       COUNT(*) OVER w AS roll_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""

# Deterministic 90/5/5 split: the md5 bucket (denom 1e6) against the
# same pre-rounded INTEGER thresholds the builder computes — no float
# comparison for the engines to disagree on.
ORACLES["sample_split"] = """
SELECT doc_id, lang,
       CASE WHEN b < 900000 THEN 'train'
            WHEN b < 950000 THEN 'valid'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 1000000 AS b
  FROM documents)
"""

# BM25 against a fixed 3-term query. The float constants (2.2 = k1+1,
# 0.25 = 1-b) are pre-computed so both engines evaluate the identical
# expression; per-doc sums span <= 3 terms, and ROUND(6) absorbs
# engine-side summation ulps (incl. the corpus-mean avgdl).
ORACLES["text_bm25"] = """
WITH lens AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
  FROM documents),
stats AS (
  SELECT AVG(dl) AS avgdl, CAST(COUNT(*) AS DOUBLE) AS n FROM lens),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM toks WHERE term IN ('spark', 'hash', 'merge')
  GROUP BY doc_id, term),
idf AS (
  SELECT term,
         ln(((SELECT n FROM stats) - COUNT(*) + 0.5::DOUBLE)
            / (COUNT(*) + 0.5::DOUBLE) + 1.0::DOUBLE) AS idf
  FROM tf GROUP BY term)
SELECT t.doc_id,
       ROUND(SUM(i.idf * (t.tf * 2.2::DOUBLE)
                 / (t.tf + 1.2::DOUBLE
                    * (0.25::DOUBLE
                       + 0.75::DOUBLE * l.dl / (SELECT avgdl FROM stats)))),
             6) AS score
FROM tf t JOIN idf i USING (term) JOIN lens l USING (doc_id)
GROUP BY t.doc_id
"""

# Inverted index: distinct (term, doc) pairs -> full df + the 16
# smallest doc_ids as an ordered list, comma-joined like the Spark side.
# list() with ORDER BY inside the aggregate is DuckDB's sorted collect;
# the cap filter runs on the same ROW_NUMBER the Spark window computes.
ORACLES["text_postings"] = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
pairs AS (
  SELECT DISTINCT term, doc_id FROM toks WHERE term <> ''),
ranked AS (
  SELECT term, doc_id,
         ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
  FROM pairs),
capped AS (
  SELECT term, array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
  FROM ranked WHERE rn <= 16 GROUP BY term),
alldf AS (
  SELECT term, COUNT(*) AS df FROM pairs GROUP BY term)
SELECT f.term, f.df, c.postings
FROM alldf f JOIN capped c USING (term)
"""

# Independent triangle formulation: id-ordered 3-way self-join (the
# Spark side orients by DEGREE — a different total order producing the
# same triangle set, so the green hash cross-checks the orientation
# trick against the textbook enumeration).
ORACLES["kg_triangles"] = """
WITH raw AS (
  SELECT 'C' || c_custkey AS x, 'N' || c_nationkey AS y FROM customer
  UNION ALL SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
  UNION ALL SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
  UNION ALL SELECT 'C' || c_custkey, 'R' || n_regionkey
            FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL SELECT 'S' || s_suppkey, 'R' || n_regionkey
            FROM supplier JOIN nation ON s_nationkey = n_nationkey),
und AS (
  SELECT DISTINCT least(x, y) AS lo, greatest(x, y) AS hi
  FROM raw WHERE x <> y),
tri AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM und e1
  JOIN und e2 ON e2.lo = e1.hi
  JOIN und e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
corners AS (
  SELECT a AS id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri)
SELECT id, COUNT(*) AS triangles FROM corners GROUP BY id
"""

# Sequence packing: DuckDB computes the global cumsum in ONE window
# (fine at oracle scale); the Spark side decomposes it into the
# two-pass distributed scan — the green hash is the proof that the
# decomposition (per-partition cumsum + broadcast partition offsets)
# equals the sequential scan. Integer-exact throughout.
ORACLES["pack_sequences"] = """
WITH sized AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
scanned AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) - n_tokens AS start_offset
  FROM sized)
SELECT doc_id, n_tokens, start_offset,
       start_offset // 512 AS bin,
       start_offset % 512 AS bin_offset,
       CASE WHEN n_tokens = 0 THEN 0
            ELSE ((start_offset + n_tokens - 1) // 512)
                 - (start_offset // 512) + 1 END AS n_bins_spanned
FROM scanned
"""

# Clustering coefficient: degree + triangle corners over the SAME
# edge set as kg_triangles (independent id-ordered enumeration), with
# the single float op (2T / deg(deg-1)) done identically in both
# engines on exact integers — ROUND(6) absorbs nothing here, it just
# matches the Spark column's declared rounding.
ORACLES["kg_clustering_coeff"] = """
WITH raw AS (
  SELECT 'C' || c_custkey AS x, 'N' || c_nationkey AS y FROM customer
  UNION ALL SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
  UNION ALL SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
  UNION ALL SELECT 'C' || c_custkey, 'R' || n_regionkey
            FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL SELECT 'S' || s_suppkey, 'R' || n_regionkey
            FROM supplier JOIN nation ON s_nationkey = n_nationkey),
und AS (
  SELECT DISTINCT least(x, y) AS lo, greatest(x, y) AS hi
  FROM raw WHERE x <> y),
deg AS (
  SELECT id, COUNT(*) AS deg FROM (
    SELECT lo AS id FROM und UNION ALL SELECT hi FROM und)
  GROUP BY id),
tri AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM und e1
  JOIN und e2 ON e2.lo = e1.hi
  JOIN und e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
tcount AS (
  SELECT id, COUNT(*) AS triangles FROM (
    SELECT a AS id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri)
  GROUP BY id)
SELECT d.id, d.deg, COALESCE(t.triangles, 0) AS triangles,
       ROUND(CASE WHEN d.deg < 2 THEN 0.0::DOUBLE
                  ELSE 2.0::DOUBLE * COALESCE(t.triangles, 0)
                       / (d.deg * (d.deg - 1)) END, 6) AS coeff
FROM deg d LEFT JOIN tcount t USING (id)
"""

ORACLES["text_tfidf"] = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM tok WHERE term <> '' GROUP BY doc_id, term),
idf AS (
  SELECT term,
         ln((1.0::DOUBLE + (SELECT COUNT(*) FROM documents))
            / (1.0::DOUBLE + COUNT(*))) + 1.0::DOUBLE AS idf
  FROM tf GROUP BY term),
scored AS (
  SELECT t.doc_id, t.term, t.tf * i.idf AS s
  FROM tf t JOIN idf i USING (term)),
ranked AS (
  SELECT doc_id, term, s,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, term ASC)
           AS term_rank
  FROM scored)
SELECT doc_id, term, ROUND(s, 6) AS score, CAST(term_rank AS INT) AS term_rank
FROM ranked WHERE term_rank <= 3
"""


def _fact_fusion_oracle_sql(n_pages: int = 500, seed: int = 42) -> str:
    """Generator-twin fact fusion: re-derives the planted triples AND
    each page's domain (the fusion ``source``) from the splitmix
    chain, then runs the two voting rounds in plain SQL with
    ROW_NUMBER argmaxes — a different argmax mechanism than Spark's
    partial-aggregated struct-min, so a green hash cross-checks the
    voting spec, not the implementation. Weighted votes are ROUND 6
    BEFORE the argmax on both sides (cross-engine float order can
    never flip a winner)."""
    from cartography_spark.sources.pages import DOMAINS, _DOMAIN_CDF

    doms = "[" + ", ".join(f"'{d}'" for d in DOMAINS) + "]"
    return f"""
WITH {_triples_ctes(n_pages, seed)},
dr AS (SELECT i, {_sql_mix('key', 1, 'sdraw')} FROM k),
dpick AS (SELECT i, {_sql_pick('sdraw', 'sd', _DOMAIN_CDF, len(DOMAINS))} FROM dr),
dom AS (SELECT i, ({doms})[sd + 1] AS source FROM dpick),
claims AS (SELECT DISTINCT d.source, t.subj, t.pred, t.obj
           FROM tr t JOIN dom d USING (i)),
v0 AS (SELECT subj, pred, obj, COUNT(*) AS votes
       FROM claims GROUP BY subj, pred, obj),
win0 AS (SELECT subj, pred, obj FROM (
           SELECT subj, pred, obj,
                  ROW_NUMBER() OVER (PARTITION BY subj, pred
                                     ORDER BY votes DESC, obj) AS rn
           FROM v0) WHERE rn = 1),
acc AS (SELECT c.source,
               (SUM(CASE WHEN c.obj = w.obj THEN 1 ELSE 0 END) + 1.0)
                 / (COUNT(*) + 2.0) AS acc
        FROM claims c JOIN win0 w ON c.subj = w.subj AND c.pred = w.pred
        GROUP BY c.source),
v1 AS (SELECT c.subj, c.pred, c.obj,
              ROUND(SUM(a.acc), 6) AS wvote, COUNT(*) AS src_votes
       FROM claims c JOIN acc a USING (source)
       GROUP BY c.subj, c.pred, c.obj),
win1 AS (SELECT subj, pred, obj, wvote, src_votes FROM (
           SELECT subj, pred, obj, wvote, src_votes,
                  ROW_NUMBER() OVER (PARTITION BY subj, pred
                                     ORDER BY wvote DESC, obj) AS rn
           FROM v1) WHERE rn = 1),
tot AS (SELECT subj, pred, SUM(wvote) AS total FROM v1 GROUP BY subj, pred),
nsrc AS (SELECT subj, pred, COUNT(DISTINCT source) AS n_sources
         FROM claims GROUP BY subj, pred)
SELECT w.subj, w.pred, w.obj, nsrc.n_sources, w.src_votes,
       ROUND(w.wvote, 6) AS weight,
       ROUND(w.wvote / t.total, 6) AS confidence
FROM win1 w
JOIN tot t ON w.subj = t.subj AND w.pred = t.pred
JOIN nsrc ON w.subj = nsrc.subj AND w.pred = nsrc.pred
"""


def _bpe_oracle_sql(k: int = 6) -> str:
    """Unrolled BPE merge learning over the documents vocabulary.
    Merge application uses a match-run PARITY rule over the original
    symbol list (position p merges iff it matches (L, R) and an odd
    p - last-non-match-position — i.e. an even number of consecutive
    matches precede it in its run), which equals the greedy
    left-to-right scan Spark folds with — a genuinely different
    algorithm, so agreement pins the merge semantics. Every chained
    CTE is AS MATERIALIZED (DuckDB inlines plain CTEs per reference —
    the k-round chain would blow up 3^k, the PLANS.md day-3
    pagerank-twin finding)."""
    parts = [
        """wf AS MATERIALIZED (
  SELECT word, COUNT(*) AS freq FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word),
w0 AS MATERIALIZED (
  SELECT word, freq,
         list_transform(generate_series(1, length(word)),
                        i -> substring(word, i, 1)) AS syms
  FROM wf)"""
    ]
    for r in range(1, k + 1):
        p = f"w{r - 1}"
        parts.append(f"""p{r} AS MATERIALIZED (
  SELECT z[1] AS lft, z[2] AS rgt, SUM(freq) AS cnt
  FROM (SELECT freq,
               unnest(list_zip(syms[:length(syms) - 1], syms[2:])) AS z
        FROM {p})
  GROUP BY 1, 2),
b{r} AS MATERIALIZED (
  SELECT lft, rgt, cnt FROM p{r} ORDER BY cnt DESC, lft, rgt LIMIT 1),
mt{r} AS (
  SELECT word, freq, syms, b.lft, b.rgt,
         list_transform(generate_series(1, greatest(length(syms) - 1, 0)),
                        q -> syms[q] = b.lft AND syms[q + 1] = b.rgt) AS mt
  FROM {p} LEFT JOIN b{r} b ON TRUE),
dc{r} AS (
  SELECT word, freq, syms, lft, rgt,
         list_transform(generate_series(1, greatest(length(syms) - 1, 0)),
           q -> mt[q] AND (q - coalesce(list_max(
                  list_filter(generate_series(1, q - 1),
                              x -> NOT mt[x])), 0)) % 2 = 1) AS dec
  FROM mt{r}),
w{r} AS MATERIALIZED (
  SELECT word, freq,
         CASE WHEN lft IS NULL THEN syms ELSE
           flatten(list_transform(generate_series(1, length(syms)), q ->
             CASE WHEN q < length(syms) AND dec[q] THEN [lft || rgt]
                  WHEN q > 1 AND coalesce(dec[q - 1], FALSE) THEN []
                  ELSE [syms[q]] END))
         END AS syms
  FROM dc{r})""")
    rules = "\nUNION ALL\n".join(
        f"SELECT {r} AS merge_rank, lft, rgt, cnt::BIGINT AS pair_count,"
        f" lft || rgt AS merged FROM b{r}"
        for r in range(1, k + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + rules


ORACLES["bpe_merge_rules"] = _bpe_oracle_sql()


# DSIR importance resampling (operators/dsir.py): hashed unigram+bigram
# bucket models (md5 -> first-8-hex -> mod B, byte-identical to Spark's
# conv(substring(md5...))), Laplace(+1) smoothing, per-doc summed
# log-likelihood ratio. ROUND 6 after the sums; selection thresholds
# the ROUNDED per-feature average on both sides.
_DSIR_BUCKETS = 256
ORACLES["dsir_selection"] = f"""
WITH tok AS (
  SELECT doc_id, source,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
  FROM documents),
grams AS (
  SELECT doc_id, source,
         unnest(toks || list_transform(
           list_zip(toks[:length(toks) - 1], toks[2:]),
           z -> z[1] || ' ' || z[2])) AS gram
  FROM tok),
bkt AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(gram), 1, 8))::BIGINT % {_DSIR_BUCKETS}
              AS BIGINT) AS bucket,
         COUNT(*) AS n
  FROM grams GROUP BY doc_id, source, bucket),
allb AS (SELECT unnest(generate_series(0, {_DSIR_BUCKETS - 1})) AS bucket),
rawc AS (SELECT bucket, SUM(n) AS cnt FROM bkt GROUP BY bucket),
tgtc AS (SELECT bucket, SUM(n) AS cnt FROM bkt WHERE source = 'src0'
         GROUP BY bucket),
praw AS (
  SELECT a.bucket,
         ln((COALESCE(r.cnt, 0) + 1.0)
            / ((SELECT SUM(cnt) FROM rawc) + {_DSIR_BUCKETS})) AS logp
  FROM allb a LEFT JOIN rawc r USING (bucket)),
ptgt AS (
  SELECT a.bucket,
         ln((COALESCE(t.cnt, 0) + 1.0)
            / ((SELECT COALESCE(SUM(cnt), 0) FROM tgtc)
               + {_DSIR_BUCKETS})) AS logp
  FROM allb a LEFT JOIN tgtc t USING (bucket)),
ratio AS (
  SELECT p.bucket, t.logp - p.logp AS llr_b
  FROM praw p JOIN ptgt t USING (bucket)),
sc AS (
  SELECT b.doc_id, SUM(b.n) AS n_features, SUM(b.n * r.llr_b) AS llr
  FROM bkt b JOIN ratio r USING (bucket) GROUP BY b.doc_id)
SELECT doc_id, n_features::BIGINT AS n_features, ROUND(llr, 6) AS llr,
       ROUND(llr / n_features, 6) AS avg_llr,
       ROUND(llr / n_features, 6) > 0 AS selected
FROM sc
"""


def _anchor_text_oracle_sql(n_pages: int = 500, seed: int = 42) -> str:
    """Generator-twin anchor-text dictionary: per linked-to url, the
    consensus anchor (count desc, anchor asc), re-deriving urls AND
    anchor entity picks from the splitmix chain while Spark regexes
    them out of the html bytes — a green hash pins the anchor plant,
    the two-group extraction, and the argmax spec at once."""
    return f"""
WITH {_links_ctes(n_pages, seed)},
urls AS (SELECT 'https://' || dst_host || '/page/' || CAST(tid AS BIGINT)
                  AS dst_url,
                anch
         FROM links),
pa AS (SELECT dst_url, anch, COUNT(*) AS n FROM urls GROUP BY dst_url, anch),
top AS (SELECT dst_url, anch AS top_anchor, n AS n_top FROM (
          SELECT dst_url, anch, n,
                 ROW_NUMBER() OVER (PARTITION BY dst_url
                                    ORDER BY n DESC, anch) AS rn
          FROM pa) WHERE rn = 1),
tot AS (SELECT dst_url, SUM(n) AS n_inlinks, COUNT(*) AS n_anchors
        FROM pa GROUP BY dst_url)
SELECT t.dst_url, t.top_anchor, t.n_top, o.n_inlinks::BIGINT AS n_inlinks, o.n_anchors
FROM top t JOIN tot o USING (dst_url)
"""


# Domain quality with empirical-Bayes shrinkage
# (operators/curation.py::domain_quality): per-doc quality_score is the
# text_quality expression; domain means shrink toward the corpus mean
# with pseudo-count k=20. ROUND 6 after every float aggregate.
ORACLES["domain_quality"] = f"""
WITH {_QUALITY_CTES},
d AS (
  SELECT source AS domain, COUNT(*) AS n_docs, AVG(quality_score) AS raw
  FROM q GROUP BY source
),
g AS (SELECT AVG(quality_score) AS gm FROM q)
SELECT d.domain AS source, d.n_docs,
       ROUND(d.raw, 6) AS raw_mean,
       ROUND((d.n_docs * d.raw + 20.0 * g.gm) / (d.n_docs + 20.0), 6)
         AS shrunk_score
FROM d CROSS JOIN g
"""


# ---------------------------------------------------------------------------
# Page-count-keyed twins. These gates run the catalog at
# ``catalog._pages_n(sf_dir)`` pages (DRIVER_PAGES at the driver's sf0.01
# gate, 50k x sf above it), so their oracle is a builder of that count.
# ORACLES serves each at DRIVER_PAGES; scripts/check_oracle.py rebuilds
# the same builders at its own sf dir's count, so a gate cannot be green
# in one and stale in the other. Every builder's seed defaults to the
# catalog's 42. catalog.py imports DRIVER_PAGES, so the driver scale is
# written once.
# ---------------------------------------------------------------------------
DRIVER_PAGES = 500
SF_KEYED_ORACLES: dict[str, Callable[[int], str]] = {
    "kg_pages_e2e": _pages_e2e_oracle_sql,
    "kg_fact_intervals": _fact_intervals_oracle_sql,
    "kg_fact_churn": _fact_churn_oracle_sql,
    "kg_fact_fusion": _fact_fusion_oracle_sql,
    "web_link_graph": _link_graph_oracle_sql,
    "web_crawl_frontier": _crawl_frontier_oracle_sql,
    # Weighted PageRank over the EXTRACTED host link graph: the full
    # html -> href extraction -> host aggregation -> rank chain in one
    # gate; the twin regenerates the planted links and runs the same
    # unrolled power iteration.
    "web_host_pagerank": _host_pagerank_oracle_sql,
    # The Broder-bowtie audit over the EXTRACTED host graph. The twin
    # re-derives the planted links AND computes SCC/regions via a
    # recursive closure — a different algorithm than Spark's FW-BW
    # coloring, so the gate cross-checks mutual-reachability semantics
    # end to end.
    "web_host_scc": _host_scc_oracle_sql,
    "web_bowtie": _bowtie_oracle_sql,
    # Both twins walk/close step-by-step where Spark pointer-doubles /
    # frontier-iterates — algorithm-independent checks of the chain
    # terminal and DAG-level semantics.
    "web_redirect_resolution": _redirect_oracle_sql,
    "web_scc_condensation": _condensation_oracle_sql,
    "web_fetch_schedule": _fetch_schedule_oracle_sql,
    "web_anchor_text": _anchor_text_oracle_sql,
    # MIS retention restricts its doc universe to a doc_id % 5 slice
    # above the driver scale (catalog.py::dedup_retention_mis).
    "dedup_retention_mis": lambda n_pages: _mis_oracle_sql(
        mod=1 if n_pages <= DRIVER_PAGES else 5
    ),
}
ORACLES.update({gate: build(DRIVER_PAGES) for gate, build in SF_KEYED_ORACLES.items()})
