"""DuckDB oracle SQL for the query registry (driver correctness
gate).  Tables are pre-registered views: region nation customer
supplier part orders lineitem events documents embeddings.

Column names/aliases match queries.py exactly; aggregate arithmetic
uses the same DECIMAL casts so value-hashes agree bit-for-bit.
Queries with engine-specific hashing (xxhash64) or join-order-free
candidate sets have no oracle (driver records rows-only).

Only this module writes ORACLES, and it imports no query module:
the parameters a query shares with its oracle live in pages.py."""

from .pages import ANCHOR_CAP, BL_MIN_DOCS, N_ROBOT_HOSTS, PR_DAMP, PR_ITER

_LANGS = ["de", "en", "es", "fr", "nl", "pt"]
_MARKERS = {
    "en": (" the ", " and ", " of "),
    "de": (" der ", " und ", " die "),
    "fr": (" le ", " et ", " la "),
    "es": (" el ", " y ", " los "),
    "pt": (" o ", " e ", " dos "),
    "nl": (" de ", " en ", " het "),
}


def _occ(pat):
    p = pat.replace("'", "''")
    return ("CAST(floor((length(padded) - length(replace(padded, '%s', "
            "''))) / %d) AS INT)" % (p, len(pat)))


def _lang_pieces():
    """The four SQL fragments of the lang-id formula over a `padded`
    source column — the ONE definition both the registered lang_id
    oracle and the quality_features oracle build from (r8
    review: two hand-maintained copies could silently drift)."""
    score_cols = []
    for lang in _LANGS:
        parts = " + ".join(_occ(p) for p in _MARKERS[lang])
        score_cols.append("(%s) AS s_%s" % (parts, lang))
    ranks = ", ".join("s_%s * 100 - %d AS r_%s" % (l, i, l)
                      for i, l in enumerate(_LANGS))
    conds = []
    for l in _LANGS:
        others = " AND ".join("r_%s >= r_%s" % (l, o)
                              for o in _LANGS if o != l)
        conds.append("WHEN %s THEN '%s'" % (others, l))
    case = "CASE " + " ".join(conds) + " END"
    greatest = "greatest(%s)" % ", ".join("s_%s" % l for l in _LANGS)
    return ", ".join(score_cols), ranks, case, greatest


def _lang_sql():
    scores, ranks, case, greatest = _lang_pieces()
    return """
WITH s AS (
  SELECT doc_id, {scores}
  FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS padded
        FROM documents)),
r AS (SELECT doc_id, {ranks}, {greatest} AS lang_score FROM s)
SELECT doc_id, {case} AS lang_pred, lang_score FROM r
""".format(scores=scores, ranks=ranks, greatest=greatest, case=case)


_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is",
              "on", "for", "with", "as", "at", "by")


def _quality_sql():
    occ = " + ".join(_occ(" %s " % w) for w in _STOPWORDS)
    return """
WITH b AS (
  SELECT doc_id, text, length(text) AS n_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
           AS n_words,
         length(text) -
           length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         ' ' || lower(text) || ' ' AS padded
  FROM documents),
s AS (SELECT doc_id, n_chars, n_words, n_punct, ({occ}) AS stop_hits
      FROM b)
SELECT doc_id, n_chars, n_words, n_punct,
       round(n_punct / greatest(n_chars, 1), 6) AS punct_ratio,
       round(stop_hits / greatest(n_words, 1), 6) AS stopword_ratio,
       round(n_chars / greatest(n_words, 1), 6) AS chars_per_word
FROM s
""".format(occ=occ)


_SHINGLE_CTE = """
words AS (
  SELECT doc_id,
         regexp_split_to_array(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
           AS ws
  FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3 THEN
           list_distinct([array_to_string(ws[i:i+2], ' ')
                          FOR i IN range(1, len(ws) - 1)])
         ELSE [array_to_string(ws, ' ')] END AS shingles
  FROM words),
u AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh)
"""

def _lang_name_values():
    from ..core.iso639 import ISO_639_1
    return ", ".join("('%s', '%s')" % (k, v)
                     for k, v in sorted(ISO_639_1.items()))


ORACLES = {
    "extract_text": """
SELECT doc_id,
       'Doc ' || CAST(doc_id AS VARCHAR) || ' ' || text AS text_extracted
FROM documents""",

    "extract_title": """
SELECT doc_id, 'Doc ' || CAST(doc_id AS VARCHAR) || ' ' AS title_text
FROM documents""",

    "count_links": """
SELECT doc_id, CAST(doc_id % 5 + 1 AS BIGINT) AS n_links FROM documents""",

    "element_histogram": """
SELECT name, CAST(total AS BIGINT) AS total FROM (
  SELECT 'html' AS name, COUNT(*) AS total FROM documents UNION ALL
  SELECT 'head', COUNT(*) FROM documents UNION ALL
  SELECT 'title', COUNT(*) FROM documents UNION ALL
  SELECT 'body', COUNT(*) FROM documents UNION ALL
  SELECT 'p', COUNT(*) FROM documents UNION ALL
  SELECT 'a', SUM(doc_id % 5 + 1) FROM documents)""",

    "pricing_summary": """
SELECT l_returnflag, l_linestatus,
  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6)
    AS sum_qty,
  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 6)
    AS sum_base_price,
  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 (CAST(1 AS DECIMAL(18,2)) -
                  CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6)
    AS sum_disc_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""",

    "top_customers": """
WITH rev AS (
  SELECT o_custkey,
         round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE), 6) AS revenue,
         COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey)
SELECT c_custkey, c_name, c_mktsegment, revenue, n_orders
FROM rev JOIN customer ON rev.o_custkey = customer.c_custkey
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20""",

    "segment_order_priority": """
SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n,
       round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 6) AS total
FROM orders JOIN customer ON orders.o_custkey = customer.c_custkey
GROUP BY c_mktsegment, o_orderpriority""",

    "events_hourly": """
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events,
       round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
         AS sum_value
FROM events GROUP BY 1, 2""",

    "top_event_per_user": """
WITH r AS (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id ASC) AS rn
  FROM events)
SELECT user_id, event_id, event_type, round(value, 6) AS value
FROM r WHERE rn = 1""",

    "source_stats": """
SELECT source, lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY source, lang""",

    "resume_filter": """
SELECT doc_id, n_chars FROM documents WHERE doc_id % 10 <> 0""",

    "dedup_newest": """
WITH r AS (
  SELECT user_id, event_id, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id, event_id, ts AS last_ts FROM r WHERE rn = 1""",

    "lang_id": _lang_sql(),

    "quality": _quality_sql(),

    "token_count": """
SELECT doc_id,
  CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
    AS ws_tokens,
  CAST(length(regexp_replace(text, '[A-Za-z]+|[0-9]+', '#', 'g')) -
       length(regexp_replace(
         regexp_replace(text, '[A-Za-z]+|[0-9]+', '#', 'g'),
         '[^\\s]', '', 'g')) AS INT) AS subword_tokens
FROM documents""",

    "fingerprint": """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
FROM documents""",

    "dedup_exact": """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
         AS content_hash,
       MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_dups
FROM documents
GROUP BY 1""",

    "minhash_signatures": "WITH " + _SHINGLE_CTE + """
SELECT doc_id,
       min(md5('0:' || shingle)) AS h0,
       min(md5('1:' || shingle)) AS h1,
       min(md5('2:' || shingle)) AS h2,
       min(md5('3:' || shingle)) AS h3
FROM u GROUP BY doc_id""",

    "knn_cosine": """
WITH e AS (SELECT vec_id,
                  list_transform(CAST(embedding AS DOUBLE[]),
                                 x -> x) AS emb
           FROM embeddings WHERE embedding IS NOT NULL),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 8),
scored AS (
  SELECT q.q_id, e.vec_id AS n_id,
         round(list_dot_product(q.q_emb, e.emb) /
               (sqrt(list_dot_product(q.q_emb, q.q_emb)) *
                sqrt(list_dot_product(e.emb, e.emb))), 6) AS cos
  FROM e, q WHERE e.vec_id <> q.q_id),
r AS (SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, n_id ASC) AS rank
      FROM scored)
SELECT q_id, CAST(rank AS INT) AS rank, n_id, cos
FROM r WHERE rank <= 5""",

    "local_supplier_volume": """
SELECT r_name, n_name,
       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (CAST(1 AS DECIMAL(18,2)) -
                       CAST(l_discount AS DECIMAL(18,2))))
                  AS DOUBLE), 6) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY r_name, n_name""",

    "sessionize": """
WITH o AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL OR
                   ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
       round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
         AS sum_value
FROM s GROUP BY user_id, sid""",

    "props_extract": """
SELECT CAST(props->>'$.k' AS INT) AS k, COUNT(*) AS n
FROM events
WHERE CAST(props->>'$.k' AS INT) IS NOT NULL
GROUP BY 1""",

    "lang_name": """
WITH lut(lang, lang_name) AS (VALUES %s)
SELECT d.lang, lut.lang_name, COUNT(*) AS n_docs
FROM documents d LEFT JOIN lut ON d.lang = lut.lang
GROUP BY d.lang, lut.lang_name""" % _lang_name_values(),

    "xsd_numbers": """
WITH l AS (SELECT doc_id,
  CASE WHEN doc_id % 5 = 0 THEN 'NaN'
       WHEN doc_id % 5 = 1 THEN '-INF'
       WHEN doc_id % 5 = 2 THEN '.' || CAST(doc_id % 100 AS VARCHAR)
       WHEN doc_id % 5 = 3 THEN CAST(doc_id % 7 AS VARCHAR) || '.5e1'
       ELSE CAST(doc_id % 1000 AS VARCHAR) END AS lex
  FROM documents)
SELECT doc_id, lex, round(CAST(lex AS DOUBLE), 6) AS value
FROM l WHERE lex <> 'NaN'""",
}

ORACLES["salted_source_stats"] = """
SELECT source, COUNT(doc_id) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MAX(n_chars) AS max_chars
FROM documents GROUP BY source"""


# full 12-hash signature CTE (shared by the LSH-family oracles)
_SIG12_CTE = """
sig AS (SELECT doc_id, min(md5('0:' || shingle)) AS h0,
       min(md5('1:' || shingle)) AS h1,
       min(md5('2:' || shingle)) AS h2,
       min(md5('3:' || shingle)) AS h3,
       min(md5('4:' || shingle)) AS h4,
       min(md5('5:' || shingle)) AS h5,
       min(md5('6:' || shingle)) AS h6,
       min(md5('7:' || shingle)) AS h7,
       min(md5('8:' || shingle)) AS h8,
       min(md5('9:' || shingle)) AS h9,
       min(md5('10:' || shingle)) AS h10,
       min(md5('11:' || shingle)) AS h11 FROM u GROUP BY doc_id)"""

# r4 skew-guarded pair semantics, mirroring dedup.minhash_lsh_pairs:
# identical-signature groups collapse to star edges (rep, member);
# only distinct-signature representatives are banded; each (band,
# key) bucket keeps the MAX_LSH_BUCKET smallest reps.
_LSH_PAIR_CTES = """
wr AS (
  SELECT doc_id, h0, h1, h2, h3, h4, h5, h6, h7, h8, h9, h10, h11,
         min(doc_id) OVER (PARTITION BY h0, h1, h2, h3, h4, h5, h6,
                           h7, h8, h9, h10, h11) AS rep
  FROM sig),
star AS (SELECT rep AS doc_a, doc_id AS doc_b FROM wr
         WHERE doc_id <> rep),
reps AS (SELECT * FROM wr WHERE doc_id = rep),
banded AS (
  SELECT doc_id, 0 AS band, md5(h0 || '|' || h1 || '|' || h2) AS key
  FROM reps UNION ALL
  SELECT doc_id, 1, md5(h3 || '|' || h4 || '|' || h5) FROM reps UNION ALL
  SELECT doc_id, 2, md5(h6 || '|' || h7 || '|' || h8) FROM reps UNION ALL
  SELECT doc_id, 3, md5(h9 || '|' || h10 || '|' || h11) FROM reps),
buckets AS (
  SELECT band, key, (list_sort(list(doc_id)))[1:%(cap)d] AS ids
  FROM banded GROUP BY band, key HAVING count(*) >= 2),
capped AS (SELECT band, key, unnest(ids) AS doc_id FROM buckets),
rpairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
pairs AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT doc_a, doc_b FROM star
    UNION ALL SELECT doc_a, doc_b FROM rpairs))"""


def _lsh_cap():
    from .dedup import MAX_LSH_BUCKET
    return MAX_LSH_BUCKET


_LSH_PAIR_CTES = _LSH_PAIR_CTES % {"cap": _lsh_cap()}

ORACLES["minhash_lsh_pairs"] = ("WITH " + _SHINGLE_CTE + "," +
                                _SIG12_CTE + "," + _LSH_PAIR_CTES + """
SELECT doc_a, doc_b FROM pairs""")

ORACLES["lsh_bucket_stats"] = ("WITH " + _SHINGLE_CTE + "," +
                               _SIG12_CTE + "," + _LSH_PAIR_CTES + """,
sizes AS (SELECT band, key, count(*) AS sz
          FROM banded GROUP BY band, key)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(CASE WHEN sz >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_multi,
       CAST(max(sz) AS BIGINT) AS max_bucket_size,
       CAST(sum(CASE WHEN sz > %(cap)d THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overflow_buckets,
       CAST(sum(CASE WHEN sz > %(cap)d THEN sz - %(cap)d ELSE 0 END)
            AS BIGINT) AS n_dropped_reps,
       CAST((SELECT count(*) FROM wr WHERE doc_id <> rep) AS BIGINT)
         AS n_star_members
FROM sizes GROUP BY band""" % {"cap": _lsh_cap()})

ORACLES["ngram_jaccard"] = ("WITH " + _SHINGLE_CTE + "," +
                            _SIG12_CTE + "," + _LSH_PAIR_CTES + """,
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
  FROM pairs p
  JOIN u ua ON ua.doc_id = p.doc_a
  JOIN u ub ON ub.doc_id = p.doc_b AND ub.shingle = ua.shingle
  GROUP BY p.doc_a, p.doc_b),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM u GROUP BY doc_id)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.n_inter AS DOUBLE) /
             (sa.n_sh + sb.n_sh - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b""")

def _lsh_bucket_expr(emb_expr, dim=64, n_planes=6, seed=1234):
    """Sign-bit bucket id as explicit SQL over literal hyperplanes.

    The plane components are Python-computed (similarity.
    hyperplane_values) and injected as repr() literals into this SQL;
    similarity.lsh_signature uses the same doubles.  The dot product
    here is a left-associated explicit sum and numpy's is a matmul,
    so the two sum in different orders: they agree because no dot on
    the gate corpora lies within float-reorder error (~1e-15) of zero
    — the smallest |dot| at sf0.001/0.01/0.1 with 6 or 8 planes is
    8.6e-6 (sf0.1; 8.1e-5 at sf0.001).
    tests/test_spark_ops.py::test_lsh_signature_matches_duckdb pins
    the buckets at sf0.001."""
    from .similarity import hyperplane_values
    planes = hyperplane_values(dim, n_planes, seed)
    terms = []
    for h, plane in enumerate(planes):
        dot = " + ".join("%s[%d] * (%r)" % (emb_expr, i + 1, v)
                         for i, v in enumerate(plane))
        terms.append("(CASE WHEN (%s) >= 0 THEN %d ELSE 0 END)"
                     % (dot, 2 ** h))
    return " + ".join(terms)


_COS = ("round(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * "
        "sqrt(list_dot_product({b}, {b}))), 6)")

# Every embedding oracle's e-CTE excludes NULL-embedding rows AND
# rebuilds the list with an identity list_transform: a NULL vector
# can never produce a pair (its cosine is NULL on both engines), but
# DuckDB's vectorized list_inner_product rejects execution blocks
# whose CHILD validity mask still carries the NULLs a parquet scan
# materializes for NULL-list rows — and the row filter alone does
# not clear that mask; the identity transform materializes a fresh
# child buffer (probed; executemany-backed tables never hit it —
# found by the r8 session-5 randomized differential).
# Value-identical on any corpus; robust on crawl-shaped ones.
ORACLES["embedding_dups"] = """
WITH e AS (SELECT vec_id,
                  list_transform(CAST(embedding AS DOUBLE[]),
                                 x -> x) AS emb
           FROM embeddings WHERE embedding IS NOT NULL),
s AS (SELECT vec_id, emb, %s AS bucket FROM e)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       %s AS cos
FROM s a JOIN s b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE %s >= 0.2""" % (_lsh_bucket_expr("emb"),
                      _COS.format(a="a.emb", b="b.emb"),
                      _COS.format(a="a.emb", b="b.emb"))

ORACLES["embedding_dup_recall"] = """
WITH e AS (SELECT vec_id,
                  list_transform(CAST(embedding AS DOUBLE[]),
                                 x -> x) AS emb
           FROM embeddings WHERE embedding IS NOT NULL),
s AS (SELECT vec_id, emb, %(bucket)s AS bucket FROM e),
exact AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM e a JOIN e b ON a.vec_id < b.vec_id
          WHERE %(cosab)s >= 0.2),
lsh AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM s a JOIN s b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE %(cosab)s >= 0.2),
pr AS (SELECT vec_id, emb, bucket FROM s
       UNION ALL SELECT vec_id, emb, xor(bucket, 1) FROM s
       UNION ALL SELECT vec_id, emb, xor(bucket, 2) FROM s
       UNION ALL SELECT vec_id, emb, xor(bucket, 4) FROM s),
probed AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           FROM pr a JOIN s b
             ON a.bucket = b.bucket AND a.vec_id < b.vec_id
           WHERE %(cosab)s >= 0.2),
hit_l AS (SELECT x.vec_a FROM exact x
          JOIN lsh l ON x.vec_a = l.vec_a AND x.vec_b = l.vec_b),
hit_p AS (SELECT x.vec_a FROM exact x
          JOIN probed p ON x.vec_a = p.vec_a AND x.vec_b = p.vec_b),
ne AS (SELECT count(*) AS n FROM exact)
SELECT 'lsh' AS method,
       CAST((SELECT n FROM ne) AS BIGINT) AS n_exact,
       CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_pairs,
       CAST((SELECT count(*) FROM hit_l) AS BIGINT) AS n_hit,
       CASE WHEN (SELECT n FROM ne) = 0 THEN 0.0
            ELSE round(CAST((SELECT count(*) FROM hit_l) AS DOUBLE) /
                       (SELECT n FROM ne), 6) END AS recall
UNION ALL
SELECT 'lsh_probed',
       CAST((SELECT n FROM ne) AS BIGINT),
       CAST((SELECT count(*) FROM probed) AS BIGINT),
       CAST((SELECT count(*) FROM hit_p) AS BIGINT),
       CASE WHEN (SELECT n FROM ne) = 0 THEN 0.0
            ELSE round(CAST((SELECT count(*) FROM hit_p) AS DOUBLE) /
                       (SELECT n FROM ne), 6) END""" % {
    "bucket": _lsh_bucket_expr("emb"),
    "cosab": _COS.format(a="a.emb", b="b.emb"),
}

ORACLES["knn_lsh"] = """
WITH e AS (SELECT vec_id,
                  list_transform(CAST(embedding AS DOUBLE[]),
                                 x -> x) AS emb
           FROM embeddings WHERE embedding IS NOT NULL),
s AS (SELECT vec_id, emb, %s AS bucket FROM e),
q AS (SELECT vec_id AS q_id, emb AS q_emb, bucket AS q_bucket
      FROM s WHERE vec_id < 8),
scored AS (
  SELECT q.q_id, s.vec_id AS n_id, %s AS cos
  FROM s JOIN q ON s.bucket = q.q_bucket AND s.vec_id <> q.q_id),
r AS (SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, n_id ASC) AS rank
      FROM scored)
SELECT q_id, CAST(rank AS INT) AS rank, n_id, cos
FROM r WHERE rank <= 5""" % (_lsh_bucket_expr("emb"),
                             _COS.format(a="q.q_emb", b="s.emb"))

ORACLES["knn_ivf"] = """
WITH e AS (SELECT vec_id,
                  list_transform(CAST(embedding AS DOUBLE[]),
                                 x -> x) AS emb
           FROM embeddings WHERE embedding IS NOT NULL),
c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
             emb AS centroid
      FROM e ORDER BY vec_id LIMIT 16),
asg AS (
  SELECT vec_id, emb, cid FROM (
    SELECT e.vec_id, e.emb, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos_ec} DESC, c.cid ASC) AS rn
    FROM e, c) WHERE rn = 1),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 8),
probes AS (
  SELECT q_id, q_emb, cid FROM (
    SELECT q.q_id, q.q_emb, c.cid,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {cos_qc} DESC, c.cid ASC) AS rn
    FROM q, c) WHERE rn <= 4),
scored AS (
  SELECT p.q_id, a.vec_id AS n_id, {cos_qa} AS cos
  FROM asg a JOIN probes p ON a.cid = p.cid
  WHERE a.vec_id <> p.q_id),
r AS (SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, n_id ASC) AS rank
      FROM scored)
SELECT q_id, CAST(rank AS INT) AS rank, n_id, cos
FROM r WHERE rank <= 5""".format(
    cos_ec=_COS.format(a="e.emb", b="c.centroid"),
    cos_qc=_COS.format(a="q.q_emb", b="c.centroid"),
    cos_qa=_COS.format(a="p.q_emb", b="a.emb"))

ORACLES["subtree_text"] = """
SELECT doc_id, text AS text_subtree FROM documents WHERE text <> ''"""

ORACLES["rolling_hash"] = """
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(
             list_filter(
               regexp_split_to_array(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                 ''),
               c -> c <> ''),
             c -> CAST(ascii(c) AS BIGINT))),
         (acc, x) -> (acc * 31 + x) % 1000000007) AS rhash
FROM documents"""

ORACLES["main_content"] = """
SELECT doc_id,
       CASE WHEN length(trim(text)) > 0 AND
                 len(regexp_split_to_array(trim(text), '\\s+')) >= 3
            THEN trim(text) ELSE '' END AS text_main
FROM documents"""

ORACLES["pdf_text"] = """
SELECT doc_id,
       CASE WHEN substr(text, 1, 400) = '' THEN NULL
            ELSE substr(text, 1, 400) END AS pdf_text,
       'Doc ' || CAST(doc_id AS VARCHAR) AS pdf_title,
       1 AS n_pages
FROM documents"""

ORACLES["text_spans"] = """
SELECT doc_id,
  CAST(48 + length(CAST(doc_id AS VARCHAR)) AS INT) AS start_pos,
  CAST(48 + length(CAST(doc_id AS VARCHAR)) +
       length(replace(replace(text, '&', '&amp;'), '<', '&lt;'))
       AS INT) AS end_pos
FROM documents WHERE text <> ''"""

ORACLES["metrics_rollup"] = """
SELECT COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT event_type) AS n_types,
       round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
         AS sum_value
FROM events"""

ORACLES["part_stats"] = """
SELECT p_brand, COUNT(*) AS n_parts,
       round(CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2)))
                  AS DOUBLE), 6) AS sum_price,
       MAX(p_size) AS max_size
FROM part GROUP BY p_brand"""

ORACLES["sitemap_parse"] = """
SELECT doc_id, CAST(doc_id % 4 + 1 AS BIGINT) AS n_urls,
       'https://ex.org/d/' || CAST(doc_id AS VARCHAR) || '/0'
         AS first_loc
FROM documents"""

ORACLES["value_quantiles"] = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       COUNT(*) AS n
FROM events GROUP BY event_type"""


ORACLES["simhash"] = """
WITH words AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))
           AS w
  FROM documents),
h AS (SELECT doc_id, md5(w) AS h FROM words),
s AS (SELECT doc_id,
       SUM(CASE WHEN substr(h, 1, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b0,
       SUM(CASE WHEN substr(h, 2, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b1,
       SUM(CASE WHEN substr(h, 3, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b2,
       SUM(CASE WHEN substr(h, 4, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b3,
       SUM(CASE WHEN substr(h, 5, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b4,
       SUM(CASE WHEN substr(h, 6, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b5,
       SUM(CASE WHEN substr(h, 7, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b6,
       SUM(CASE WHEN substr(h, 8, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b7,
       SUM(CASE WHEN substr(h, 9, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b8,
       SUM(CASE WHEN substr(h, 10, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b9,
       SUM(CASE WHEN substr(h, 11, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b10,
       SUM(CASE WHEN substr(h, 12, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b11,
       SUM(CASE WHEN substr(h, 13, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b12,
       SUM(CASE WHEN substr(h, 14, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b13,
       SUM(CASE WHEN substr(h, 15, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b14,
       SUM(CASE WHEN substr(h, 16, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b15,
       SUM(CASE WHEN substr(h, 17, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b16,
       SUM(CASE WHEN substr(h, 18, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b17,
       SUM(CASE WHEN substr(h, 19, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b18,
       SUM(CASE WHEN substr(h, 20, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b19,
       SUM(CASE WHEN substr(h, 21, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b20,
       SUM(CASE WHEN substr(h, 22, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b21,
       SUM(CASE WHEN substr(h, 23, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b22,
       SUM(CASE WHEN substr(h, 24, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b23,
       SUM(CASE WHEN substr(h, 25, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b24,
       SUM(CASE WHEN substr(h, 26, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b25,
       SUM(CASE WHEN substr(h, 27, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b26,
       SUM(CASE WHEN substr(h, 28, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b27,
       SUM(CASE WHEN substr(h, 29, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b28,
       SUM(CASE WHEN substr(h, 30, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b29,
       SUM(CASE WHEN substr(h, 31, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b30,
       SUM(CASE WHEN substr(h, 32, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b31
      FROM h GROUP BY doc_id)
SELECT doc_id, CASE WHEN b0 > 0 THEN CAST(1 AS BIGINT) ELSE 0 END + CASE WHEN b1 > 0 THEN CAST(2 AS BIGINT) ELSE 0 END + CASE WHEN b2 > 0 THEN CAST(4 AS BIGINT) ELSE 0 END + CASE WHEN b3 > 0 THEN CAST(8 AS BIGINT) ELSE 0 END + CASE WHEN b4 > 0 THEN CAST(16 AS BIGINT) ELSE 0 END + CASE WHEN b5 > 0 THEN CAST(32 AS BIGINT) ELSE 0 END + CASE WHEN b6 > 0 THEN CAST(64 AS BIGINT) ELSE 0 END + CASE WHEN b7 > 0 THEN CAST(128 AS BIGINT) ELSE 0 END + CASE WHEN b8 > 0 THEN CAST(256 AS BIGINT) ELSE 0 END + CASE WHEN b9 > 0 THEN CAST(512 AS BIGINT) ELSE 0 END + CASE WHEN b10 > 0 THEN CAST(1024 AS BIGINT) ELSE 0 END + CASE WHEN b11 > 0 THEN CAST(2048 AS BIGINT) ELSE 0 END + CASE WHEN b12 > 0 THEN CAST(4096 AS BIGINT) ELSE 0 END + CASE WHEN b13 > 0 THEN CAST(8192 AS BIGINT) ELSE 0 END + CASE WHEN b14 > 0 THEN CAST(16384 AS BIGINT) ELSE 0 END + CASE WHEN b15 > 0 THEN CAST(32768 AS BIGINT) ELSE 0 END + CASE WHEN b16 > 0 THEN CAST(65536 AS BIGINT) ELSE 0 END + CASE WHEN b17 > 0 THEN CAST(131072 AS BIGINT) ELSE 0 END + CASE WHEN b18 > 0 THEN CAST(262144 AS BIGINT) ELSE 0 END + CASE WHEN b19 > 0 THEN CAST(524288 AS BIGINT) ELSE 0 END + CASE WHEN b20 > 0 THEN CAST(1048576 AS BIGINT) ELSE 0 END + CASE WHEN b21 > 0 THEN CAST(2097152 AS BIGINT) ELSE 0 END + CASE WHEN b22 > 0 THEN CAST(4194304 AS BIGINT) ELSE 0 END + CASE WHEN b23 > 0 THEN CAST(8388608 AS BIGINT) ELSE 0 END + CASE WHEN b24 > 0 THEN CAST(16777216 AS BIGINT) ELSE 0 END + CASE WHEN b25 > 0 THEN CAST(33554432 AS BIGINT) ELSE 0 END + CASE WHEN b26 > 0 THEN CAST(67108864 AS BIGINT) ELSE 0 END + CASE WHEN b27 > 0 THEN CAST(134217728 AS BIGINT) ELSE 0 END + CASE WHEN b28 > 0 THEN CAST(268435456 AS BIGINT) ELSE 0 END + CASE WHEN b29 > 0 THEN CAST(536870912 AS BIGINT) ELSE 0 END + CASE WHEN b30 > 0 THEN CAST(1073741824 AS BIGINT) ELSE 0 END + CASE WHEN b31 > 0 THEN CAST(2147483648 AS BIGINT) ELSE 0 END AS simhash FROM s"""

ORACLES["dedup_components"] = ("WITH RECURSIVE " + _SHINGLE_CTE + "," +
                               _SIG12_CTE + "," + _LSH_PAIR_CTES + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach(src, node) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src)
SELECT src AS doc_id, MIN(node) AS component
FROM reach GROUP BY src""")


_MEDIA_CTE = """
m AS (SELECT doc_id,
             CAST(doc_id AS VARCHAR) || ':' ||
             md5(CAST(doc_id AS VARCHAR)) AS s
      FROM documents),
p AS (SELECT doc_id, s || md5(s) AS payload,
             CASE WHEN doc_id % 3 = 0 THEN 'audio'
                  WHEN doc_id % 3 = 1 THEN 'image'
                  ELSE 'video' END AS kind
      FROM m)
"""

ORACLES["media_image_features"] = "WITH " + _MEDIA_CTE + """
SELECT doc_id,
  CASE WHEN kind = 'image'
       THEN CAST(64 + (ascii(substr(payload, 1, 1)) * 7) % 1920 AS INT)
       END AS width,
  CASE WHEN kind = 'image'
       THEN CAST(64 + (ascii(substr(payload, 2, 1)) * 7) % 1080 AS INT)
       END AS height,
  CAST(length(payload) AS INT) AS n_bytes,
  CASE WHEN kind = 'image' THEN 'ok' ELSE 'skipped' END AS status
FROM p"""

ORACLES["media_frame_sample"] = "WITH " + _MEDIA_CTE + """
SELECT doc_id, CAST(i AS INT) AS frame_idx,
       CAST(i * 1000 AS INT) AS ts_ms,
       'frame:m' || CAST(doc_id AS VARCHAR) || ':' ||
         CAST(i AS VARCHAR) AS frame,
       'ok' AS status
FROM (SELECT doc_id,
             unnest(range(0, least(8, 1 + length(payload) % 8))) AS i
      FROM p WHERE kind IN ('image', 'video'))"""

ORACLES["media_audio_features"] = "WITH " + _MEDIA_CTE + """
SELECT doc_id,
  CASE WHEN kind = 'audio'
       THEN CAST(1000 + ascii(substr(payload, 1, 1)) * 37 AS INT)
       END AS duration_ms,
  CASE WHEN kind = 'audio'
       THEN CAST(list_aggregate(
              list_transform(
                list_filter(regexp_split_to_array(
                              substr(payload, 1, 52), ''),
                            c -> c <> ''),
                c -> ascii(c)), 'sum') * 16 AS INT)
       END AS n_samples,
  CASE WHEN kind = 'audio' THEN 'ok' ELSE 'skipped' END AS status
FROM p"""


ORACLES["serialize_roundtrip"] = """
SELECT doc_id,
  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
  ' </title></head><body>' ||
  CASE WHEN text = '' THEN '<p/>'
       ELSE '<p>' ||
            replace(replace(replace(text, '&', '&amp;'),
                            '<', '&lt;'), '>', '&gt;') ||
            '</p>' END ||
  '</body></html>' AS xml_out
FROM documents"""


ORACLES["esis_dump"] = r"""
SELECT doc_id,
  '(html' || chr(10) || '(head' || chr(10) || '(title' || chr(10) ||
  '-Doc ' || CAST(doc_id AS VARCHAR) || ' ' || chr(10) ||
  ')title' || chr(10) || ')head' || chr(10) ||
  '(body' || chr(10) || '(p' || chr(10) ||
  CASE WHEN text = '' THEN ''
       ELSE '-' || replace(replace(replace(text, '\', '\\'),
                                   chr(10), '\n'), chr(9), '\t') ||
            chr(10) END ||
  ')p' || chr(10) || ')body' || chr(10) || ')html' || chr(10) ||
  'C' || chr(10) AS esis
FROM documents"""

ORACLES["c14n"] = """
SELECT doc_id,
  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
  ' </title></head><body><p>' ||
  replace(replace(replace(replace(text, '&', '&amp;'),
                          '<', '&lt;'), '>', '&gt;'),
          chr(13), '&#xD;') ||
  '</p></body></html>' AS c14n
FROM documents"""


ORACLES["ann_recall"] = """
WITH exact AS (%s),
lsh AS (%s),
ivf AS (%s),
base AS (SELECT q_id, COUNT(*) AS k FROM exact GROUP BY q_id),
lhit AS (SELECT e.q_id, COUNT(*) AS lsh_hits
         FROM exact e JOIN lsh l ON e.q_id = l.q_id AND e.n_id = l.n_id
         GROUP BY e.q_id),
ihit AS (SELECT e.q_id, COUNT(*) AS ivf_hits
         FROM exact e JOIN ivf i ON e.q_id = i.q_id AND e.n_id = i.n_id
         GROUP BY e.q_id)
SELECT b.q_id,
       round(coalesce(lsh_hits, 0) / b.k, 6) AS lsh_recall,
       round(coalesce(ivf_hits, 0) / b.k, 6) AS ivf_recall
FROM base b
LEFT JOIN lhit ON b.q_id = lhit.q_id
LEFT JOIN ihit ON b.q_id = ihit.q_id""" % (
    ORACLES["knn_cosine"], ORACLES["knn_lsh"], ORACLES["knn_ivf"])


# ---------------------------------------------------------------------
# round-3 corpus-hygiene operators (spark/datafilters.py)
# ---------------------------------------------------------------------

_NORM_WORDS = """
words AS (
  SELECT doc_id, text,
         regexp_split_to_array(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
           AS ws
  FROM documents)"""

ORACLES["contamination"] = "WITH " + _NORM_WORDS + """,
g AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(ws) >= 5 THEN
             [array_to_string(ws[i:i+4], ' ')
              FOR i IN range(1, len(ws) - 3)]
           ELSE [] END)) AS gram
  FROM words),
bench AS (SELECT DISTINCT gram AS bgram FROM g WHERE doc_id % 97 = 0),
train AS (SELECT * FROM g WHERE doc_id % 97 <> 0),
hits AS (
  SELECT t.doc_id, count(b.bgram) AS n_hits
  FROM train t LEFT JOIN bench b ON t.gram = b.bgram
  GROUP BY t.doc_id)
SELECT d.doc_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_contaminated,
       CAST(coalesce(h.n_hits, 0) > 0 AS INT) AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % 97 <> 0"""

ORACLES["repetition_stats"] = "WITH " + _NORM_WORDS + """,
feat AS (
  SELECT doc_id, ws,
         string_split(text, chr(10)) AS lns,
         CASE WHEN len(ws) >= 3 THEN
           [array_to_string(ws[i:i+2], ' ')
            FOR i IN range(1, len(ws) - 1)]
         ELSE [] END AS g3
  FROM words)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_words,
       CASE WHEN len(ws) > 0 THEN
         round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)
               / len(ws), 6) ELSE 0.0 END AS dup_word_frac,
       CASE WHEN len(lns) > 0 THEN
         round(1.0 - CAST(len(list_distinct(lns)) AS DOUBLE)
               / len(lns), 6) ELSE 0.0 END AS dup_line_frac,
       CASE WHEN len(g3) > 0 THEN
         round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)
               / len(g3), 6) ELSE 0.0 END AS dup_3gram_frac
FROM feat"""

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IP = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
_PII_PHONE = ("\\+[0-9]{1,3}[- ][0-9]{3,4}[- ][0-9]{3,6}"
              "|\\([0-9]{3}\\) ?[0-9]{3}[-. ][0-9]{4}"
              "|\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b")

ORACLES["pii_scrub"] = """
WITH staged AS (
  SELECT doc_id, text,
         regexp_replace(text, '%(email)s', '<EMAIL>', 'g') AS t1
  FROM documents),
staged2 AS (
  SELECT doc_id, text, t1,
         regexp_replace(t1, '%(ip)s', '<IP>', 'g') AS t2
  FROM staged)
SELECT doc_id,
       regexp_replace(t2, '%(phone)s', '<PHONE>', 'g') AS scrubbed,
       CAST(len(regexp_extract_all(text, '%(email)s')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(t1, '%(ip)s')) AS BIGINT)
         AS n_ips,
       CAST(len(regexp_extract_all(t2, '%(phone)s')) AS BIGINT)
         AS n_phones
FROM staged2""" % {"email": _PII_EMAIL, "ip": _PII_IP,
                    "phone": _PII_PHONE}

ORACLES["url_dedup"] = """
WITH u AS (
  SELECT doc_id,
         'HTTPS://Host' || CAST(doc_id % 50 AS VARCHAR) ||
         '.Example.ORG:443/path/' || CAST(doc_id % 200 AS VARCHAR) ||
         CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
         CASE WHEN doc_id % 2 = 0 THEN
           '?id=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_source=feed'
         ELSE '' END ||
         CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
  FROM documents),
c AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(
           regexp_replace(regexp_replace(
             lower(regexp_extract(url, '^[^/]+//[^/]+', 0)),
             '^(https://[^:/]+):443$', '\\1'),
             '^(http://[^:/]+):80$', '\\1') ||
           regexp_replace(url, '^[^/]+//[^/]+', ''),
           '#.*$', ''), '&utm_[^&#]*', ''),
           '/\\?', '?'), '/$', '')
           AS url_canon
  FROM u)
SELECT url_canon,
       CAST(count(*) AS BIGINT) AS n_aliases,
       min(doc_id) AS keep_doc_id
FROM c GROUP BY url_canon"""


# ---------------------------------------------------------------------
# crawl-pipeline surface (r8); fix_text is rows-only (no entry here,
# like compression_ratio)
# ---------------------------------------------------------------------

ORACLES["outlinks"] = """
SELECT doc_id, CAST(i AS INT) AS link_ord,
       '/r/' || i || '?x=' || doc_id || '#f' AS href,
       'https://d' || (doc_id % 13) || '.example/r/' || i ||
         '?x=' || doc_id AS target,
       'ref ' || i AS anchor, FALSE AS nofollow
FROM documents, unnest(range(0, doc_id % 5 + 1)) AS t(i)
UNION ALL
SELECT doc_id, CAST(doc_id % 5 + 1 AS INT),
       'https://h' || (doc_id % 7) || '.example/z',
       'https://h' || (doc_id % 7) || '.example/z', 'x', FALSE
FROM documents
UNION ALL
SELECT doc_id, CAST(doc_id % 5 + 2 AS INT), '/nf',
       'https://d' || (doc_id % 13) || '.example/nf', 'nf', TRUE
FROM documents
UNION ALL
SELECT doc_id, CAST(doc_id % 5 + 3 AS INT), 'javascript:void(0)',
       NULL, 'js', FALSE
FROM documents
"""


ORACLES["host_graph"] = """
SELECT 'd' || (doc_id % 13) || '.example' AS src_host,
       'h' || (doc_id % 7) || '.example' AS dst_host,
       COUNT(*) AS n
FROM documents GROUP BY 1, 2
"""


def _pagerank_oracle_sql(n_iter=PR_ITER, d=PR_DAMP):
    """Unrolled power iteration (DuckDB recursive CTEs cannot carry
    the per-step aggregate, so each iteration is its own CTE — the
    SQL is generated, semantics identical to links.pagerank)."""
    parts = ["""
WITH e AS (
  SELECT 'h' || (doc_id % 7) AS src, 'h' || ((doc_id * 3 + 1) % 7)
           AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM documents GROUP BY 1, 2),
outw AS (SELECT src, SUM(w) AS w_out FROM e GROUP BY src),
frac AS (SELECT e.src, e.dst, e.w / outw.w_out AS frac
         FROM e JOIN outw ON e.src = outw.src),
nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM nodes),
r0 AS (SELECT host, 1.0 / nn.c AS rank FROM nodes, nn)"""]
    for i in range(1, n_iter + 1):
        p, r = i - 1, i
        parts.append("""
c%d AS (SELECT frac.dst, SUM(frac.frac * r%d.rank) AS contrib
        FROM frac JOIN r%d ON frac.src = r%d.host GROUP BY frac.dst),
d%d AS (SELECT COALESCE(SUM(r%d.rank), 0.0) AS dang
        FROM r%d LEFT JOIN outw ON r%d.host = outw.src
        WHERE outw.src IS NULL),
r%d AS (SELECT nodes.host,
               (1.0 - %r) / nn.c + %r *
                 (COALESCE(c%d.contrib, 0.0) + d%d.dang / nn.c) AS rank
        FROM nodes LEFT JOIN c%d ON nodes.host = c%d.dst,
             nn, d%d)""" % (r, p, p, p, r, p, p, p, r, d, d,
                            r, r, r, r, r))
    return (",".join(parts) +
            "\nSELECT host, round(rank, 9) AS rank FROM r%d" % n_iter)


ORACLES["pagerank_hosts"] = _pagerank_oracle_sql()


# SQL twin of pages.line_docs (text + shared footer + lang line).
_LINEDOC_SQL_T = ("text || chr(10) || 'Shared footer.' || chr(10) "
                  "|| lang")


ORACLES["boilerplate_lines"] = """
WITH src AS (SELECT doc_id, %s AS t FROM documents),
ln AS (
  SELECT doc_id, trim(parts[i]) AS line
  FROM (SELECT doc_id, string_split(t, chr(10)) AS parts FROM src),
       unnest(range(1, len(parts) + 1)) AS u(i)
  WHERE trim(parts[i]) <> '')
SELECT line, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_total
FROM ln GROUP BY line HAVING COUNT(DISTINCT doc_id) >= %d
""" % (_LINEDOC_SQL_T, BL_MIN_DOCS)


ORACLES["strip_boilerplate"] = """
WITH src AS (SELECT doc_id, %s AS t FROM documents),
ln AS (
  SELECT doc_id, i, parts[i] AS line, trim(parts[i]) AS key
  FROM (SELECT doc_id, string_split(t, chr(10)) AS parts FROM src),
       unnest(range(1, len(parts) + 1)) AS u(i)),
bl AS (
  SELECT key FROM ln WHERE key <> ''
  GROUP BY key HAVING COUNT(DISTINCT doc_id) >= %d),
kept AS (
  SELECT ln.* FROM ln LEFT JOIN bl ON ln.key = bl.key
  WHERE bl.key IS NULL),
rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS text_clean,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM ln GROUP BY doc_id)
SELECT src.doc_id,
       COALESCE(rebuilt.text_clean, '') AS text_clean,
       CAST(COALESCE(tot.n_lines, 0) - COALESCE(rebuilt.n_kept, 0)
            AS INT) AS n_lines_removed
FROM src
LEFT JOIN rebuilt ON src.doc_id = rebuilt.doc_id
LEFT JOIN tot ON src.doc_id = tot.doc_id
""" % (_LINEDOC_SQL_T, BL_MIN_DOCS)


ORACLES["robots_allowed"] = """
SELECT 'https://r' || (doc_id %% 5) || '.example/' ||
         CASE WHEN doc_id %% 3 = 0 THEN 'private/x' ELSE 'pub/x' END ||
         '?id=' || doc_id AS url,
       CASE WHEN doc_id %% 5 >= %d THEN TRUE
            WHEN doc_id %% 3 = 0 THEN FALSE ELSE TRUE END AS allowed,
       CASE WHEN doc_id %% 5 >= %d THEN NULL
            ELSE CAST((doc_id %% 5) + 0.5 AS DOUBLE) END AS crawl_delay
FROM documents
""" % (N_ROBOT_HOSTS, N_ROBOT_HOSTS)


_GOPHER_STOP_SQL = " + ".join(
    "CASE WHEN padded LIKE '%% %s %%' THEN 1 ELSE 0 END" % w
    for w in ("the", "be", "to", "of", "and", "that", "have", "with"))


ORACLES["gopher_quality"] = """
WITH b AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
s AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(trim(text), '\\s+'),
                x -> x <> '') AS words,
    regexp_split_to_array(text, '\\r?\\n') AS lines,
    CAST((length(text) - length(replace(text, '#', ''))) +
         (length(text) - length(replace(text, '...', ''))) / 3 +
         (length(text) - length(replace(text, '…', ''))) AS INT)
      AS n_symbols,
    ' ' || regexp_replace(lower(text), '\\s+', ' ', 'g') || ' '
      AS padded
  FROM b),
g AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS n_words,
    CAST(greatest(len(words), 1) AS DOUBLE) AS wden,
    CAST(greatest(len(lines), 1) AS DOUBLE) AS lden,
    CAST(COALESCE(list_sum(list_transform(words, x -> length(x))), 0)
         AS DOUBLE) AS wchars,
    CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
         AS DOUBLE) AS n_alpha,
    CAST(len(list_filter(lines, x -> list_contains(
      ['•','‣','▪','●','◦','⁃','*','-'],
      substr(ltrim(x), 1, 1)))) AS DOUBLE) AS n_bullet,
    CAST(len(list_filter(lines, x -> rtrim(x) LIKE '%...'
         OR rtrim(x) LIKE '%…')) AS DOUBLE) AS n_ellipsis,
    n_symbols,
    CAST({stop} AS INT) AS n_stop_hits
  FROM s),
r AS (
  SELECT doc_id, n_words,
    round(wchars / wden, 6) AS mean_word_len,
    round(n_symbols / wden, 6) AS symbol_ratio,
    round(n_bullet / lden, 6) AS bullet_frac,
    round(n_ellipsis / lden, 6) AS ellipsis_frac,
    round(n_alpha / wden, 6) AS alpha_word_frac,
    n_stop_hits
  FROM g)
SELECT *,
  CAST(CASE WHEN n_words BETWEEN 50 AND 100000
             AND mean_word_len BETWEEN 3.0 AND 10.0
             AND symbol_ratio <= 0.1
             AND bullet_frac <= 0.9
             AND ellipsis_frac <= 0.3
             AND alpha_word_frac >= 0.8
             AND n_stop_hits >= 2
       THEN 1 ELSE 0 END AS INT) AS gopher_pass
FROM r
""".format(stop=_GOPHER_STOP_SQL)


ORACLES["c4_clean"] = """
WITH b AS (SELECT doc_id, coalesce(%s, '') AS text FROM documents),
s AS (SELECT doc_id, text, regexp_split_to_array(text, '\\r?\\n') AS lines
      FROM b),
k AS (SELECT doc_id, text, len(lines) AS n_lines,
  list_filter(lines, l ->
    (rtrim(l) LIKE '%%.' OR rtrim(l) LIKE '%%!' OR
     rtrim(l) LIKE '%%?' OR rtrim(l) LIKE '%%"')
    AND len(list_filter(regexp_split_to_array(trim(l), '\\s+'),
                        x -> x <> '')) >= 5
    AND NOT contains(lower(l), 'javascript')) AS kept
  FROM s)
SELECT doc_id, CAST(n_lines AS INT) AS n_lines,
  CAST(len(kept) AS INT) AS n_kept,
  array_to_string(kept, chr(10)) AS text_clean,
  CAST(CASE WHEN len(kept) >= 3
             AND NOT contains(lower(text), 'lorem ipsum')
             AND NOT contains(text, '{') THEN 1 ELSE 0 END AS INT)
    AS c4_keep
FROM k
""" % _LINEDOC_SQL_T


ORACLES["page_meta"] = """
SELECT 'https://m' || (doc_id % 13) || '.example/p/' || doc_id AS url,
       'T ' || doc_id AS title,
       'D ' || doc_id AS meta_description,
       CASE WHEN doc_id % 3 = 0 THEN 'OG ' || doc_id END AS og_title,
       CASE WHEN doc_id % 2 = 0
            THEN 'https://c.example/' || doc_id END AS canonical,
       'en-US' AS html_lang
FROM documents
"""


ORACLES["feed_entries"] = """
SELECT 'feed://' || doc_id AS url, CAST(j AS INT) AS entry_ord,
       'E ' || doc_id || '-' || j AS title,
       'https://b' || (doc_id % 7) || '.example/p/' || j AS link,
       'urn:' || doc_id || ':' || j AS guid,
       '2026-01-0' || ((j % 9) + 1) AS published
FROM documents, unnest(range(1, doc_id % 4 + 2)) AS t(j)
"""


ORACLES["markdown"] = """
SELECT 'md://' || doc_id AS url,
       '# H ' || doc_id || chr(10) || chr(10) ||
       'P ' || doc_id || ' with **bold** and [L](https://x/' ||
         doc_id || ').' || chr(10) || chr(10) ||
       '- i1' || chr(10) || '- i2 ' || doc_id AS markdown,
       CAST(0 AS INT) AS n_errors,
       'ok' AS status
FROM documents
"""


ORACLES["url_filter"] = """
WITH u AS (
  SELECT doc_id,
         'https://h' || (doc_id % 11) || '.site' || (doc_id % 3) ||
           '.example' ||
           CASE WHEN doc_id % 7 = 0 THEN '/login/' ELSE '/p/' END ||
           doc_id AS url,
         CASE WHEN doc_id % 11 = 0 AND doc_id % 3 = 0 THEN 'host'
              WHEN doc_id % 3 = 1 THEN 'suffix'
              WHEN doc_id % 7 = 0 THEN 'path' END AS reason
  FROM documents)
SELECT url, reason AS url_block_reason,
       CAST(CASE WHEN reason IS NULL THEN 1 ELSE 0 END AS INT)
         AS url_keep
FROM u
"""


ORACLES["jsonld"] = """
SELECT 'ld://' || doc_id AS url, CAST(1 AS INT) AS block_ord,
       '{"@type": "Article", "headline": "H ' || doc_id || '"}'
         AS jsonld,
       CAST(1 AS INT) AS is_valid,
       'Article' AS schema_type
FROM documents
UNION ALL
SELECT 'ld://' || doc_id, CAST(2 AS INT), '{broken',
       CAST(0 AS INT), NULL
FROM documents WHERE doc_id % 5 = 0
"""


ORACLES["anchor_texts"] = """
WITH links AS (%s),
l AS (SELECT target, trim(anchor) AS anchor FROM links
      WHERE target IS NOT NULL AND length(trim(anchor)) > 0),
pairs AS (SELECT target, anchor, COUNT(*) AS n FROM l GROUP BY 1, 2),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY target
                               ORDER BY n DESC, anchor) AS rn
  FROM pairs)
SELECT target AS url, CAST(SUM(n) AS BIGINT) AS n_anchors,
       COUNT(*) AS n_distinct_anchors,
       array_to_string(
         list_sort(array_agg(anchor) FILTER (WHERE rn <= %d)), '||')
         AS anchors_joined
FROM ranked GROUP BY target
""" % (ORACLES["outlinks"], ANCHOR_CAP)


# ---------------------------------------------------------------------
# training-data pipeline (r9)
# ---------------------------------------------------------------------

def _quality_features_oracle(src=_LINEDOC_SQL_T):
    # src: SQL expression for the text column (default: the
    # line-ified shape; corpus_keep reuses this oracle over plain
    # `text`).
    # COLUMN-NAME TRAP: both borrowed fragments hardcode a source
    # column named `padded`, but they mean DIFFERENT strings — the
    # gopher stop-hits read the \s+-normalized text, the lang marker
    # counts the raw ' '||lower(text)||' '.  Here `padded` is the
    # lang string and the gopher fragment is rewritten to `gpadded`
    # (caught by the oracle gate: nl-vs-de flips on docs whose text
    # ends '\nde').
    scores, ranks, case, greatest = _lang_pieces()
    return """
WITH b AS (SELECT doc_id, coalesce({src}, '') AS text,
                  {src} AS rawtext FROM documents),
s AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(trim(text), '\\s+'),
                x -> x <> '') AS words,
    regexp_split_to_array(text, '\\r?\\n') AS lines,
    CAST((length(text) - length(replace(text, '#', ''))) +
         (length(text) - length(replace(text, '...', ''))) / 3 +
         (length(text) - length(replace(text, '…', ''))) AS INT)
      AS n_symbols,
    ' ' || regexp_replace(lower(text), '\\s+', ' ', 'g') || ' '
      AS gpadded,
    ' ' || lower(rawtext) || ' ' AS padded,
    (NOT contains(lower(text), 'lorem ipsum')
     AND NOT contains(text, '{{')) AS c4_page_ok
  FROM b),
g AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS n_words,
    CAST(greatest(len(words), 1) AS DOUBLE) AS wden,
    CAST(greatest(len(lines), 1) AS DOUBLE) AS lden,
    CAST(COALESCE(list_sum(list_transform(words, x -> length(x))), 0)
         AS DOUBLE) AS wchars,
    CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
         AS DOUBLE) AS n_alpha,
    CAST(len(list_filter(lines, x -> list_contains(
      ['•','‣','▪','●','◦','⁃','*','-'],
      substr(ltrim(x), 1, 1)))) AS DOUBLE) AS n_bullet,
    CAST(len(list_filter(lines, x -> rtrim(x) LIKE '%...'
         OR rtrim(x) LIKE '%…')) AS DOUBLE) AS n_ellipsis,
    n_symbols,
    CAST({stop} AS INT) AS n_stop_hits,
    CAST(len(list_filter(lines, l ->
      (rtrim(l) LIKE '%.' OR rtrim(l) LIKE '%!' OR
       rtrim(l) LIKE '%?' OR rtrim(l) LIKE '%"')
      AND len(list_filter(regexp_split_to_array(trim(l), '\\s+'),
                          x -> x <> '')) >= 5
      AND NOT contains(lower(l), 'javascript'))) AS INT) AS n_kept,
    c4_page_ok,
    {scores}
  FROM s),
r AS (
  SELECT doc_id, n_words,
    round(wchars / wden, 6) AS mean_word_len,
    round(n_symbols / wden, 6) AS symbol_ratio,
    round(n_bullet / lden, 6) AS bullet_frac,
    round(n_ellipsis / lden, 6) AS ellipsis_frac,
    round(n_alpha / wden, 6) AS alpha_word_frac,
    n_stop_hits, n_kept, c4_page_ok,
    {ranks}, {greatest} AS lang_score
  FROM g)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
  ellipsis_frac, alpha_word_frac, n_stop_hits,
  CAST(CASE WHEN n_words BETWEEN 50 AND 100000
             AND mean_word_len BETWEEN 3.0 AND 10.0
             AND symbol_ratio <= 0.1
             AND bullet_frac <= 0.9
             AND ellipsis_frac <= 0.3
             AND alpha_word_frac >= 0.8
             AND n_stop_hits >= 2
       THEN 1 ELSE 0 END AS INT) AS gopher_pass,
  n_kept,
  CAST(CASE WHEN n_kept >= 3 AND c4_page_ok THEN 1 ELSE 0 END AS INT)
    AS c4_keep,
  {case} AS lang_pred, lang_score
FROM r
""".format(src=src,
           stop=_GOPHER_STOP_SQL.replace('padded', 'gpadded'), scores=scores,
           ranks=ranks, case=case, greatest=greatest)


ORACLES["quality_features"] = _quality_features_oracle()


# Spark keys grams by xxhash64 (8-byte shuffle rows — the scale
# path); the oracle groups by the gram STRING.  Value-identical
# unless a 64-bit collision mis-tags a position (~#grams/2^64).
ORACLES["dup_ngram_frac"] = """
WITH w AS (
  SELECT doc_id,
    regexp_split_to_array(
      regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ',
                     'g'), ' ') AS words
  FROM documents),
g AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 8
      THEN list_transform(range(1, len(words) - 6),
                          i -> array_to_string(words[i:i+7], ' '))
      ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM w),
cnts AS (
  SELECT doc_id, gram, count(*) AS c
  FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
  GROUP BY doc_id, gram),
dup AS (SELECT gram FROM cnts GROUP BY gram HAVING count(*) > 1),
nd AS (SELECT doc_id, sum(c) AS n_dup FROM cnts
       WHERE gram IN (SELECT gram FROM dup) GROUP BY doc_id),
nt AS (SELECT doc_id, sum(c) AS n_grams FROM cnts GROUP BY doc_id)
SELECT d.doc_id,
  CAST(coalesce(nt.n_grams, 0) AS BIGINT) AS n_grams,
  round(coalesce(nd.n_dup, 0) /
        greatest(coalesce(nt.n_grams, 0), 1), 6) AS dup_ngram_frac
FROM documents d
LEFT JOIN nt USING (doc_id)
LEFT JOIN nd USING (doc_id)
"""


# Wraps the registered simhash oracle as a CTE, then replicates
# the star / band / cap / verify semantics of dedup.simhash_pairs
# (row_number cap = the list_sort slice; bit_count(xor) = the
# banded Hamming verify; both engines' bit_count cast to INT —
# DuckDB's returns TINYINT).
ORACLES["simhash_pairs"] = """
WITH sim AS ({simhash}),
wr AS (SELECT doc_id, simhash,
              min(doc_id) OVER (PARTITION BY simhash) AS rep
       FROM sim),
star AS (SELECT rep AS doc_a, doc_id AS doc_b, CAST(0 AS INT) AS hamming
         FROM wr WHERE doc_id <> rep),
reps AS (SELECT doc_id, simhash FROM wr WHERE doc_id = rep),
banded AS (
  SELECT doc_id, simhash, (simhash >> (8 * t.i)) & 255 AS key, t.i AS band
  FROM reps, range(4) t(i)),
ranked AS (
  SELECT band, key, doc_id, simhash,
         row_number() OVER (PARTITION BY band, key
                            ORDER BY doc_id) AS rn,
         count(*) OVER (PARTITION BY band, key) AS sz
  FROM banded),
capped AS (SELECT band, key, doc_id, simhash FROM ranked
           WHERE rn <= {cap} AND sz >= 2),
rpairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
SELECT DISTINCT doc_a, doc_b, hamming FROM (
  SELECT * FROM star UNION ALL SELECT * FROM rpairs)
""".format(simhash=ORACLES["simhash"], cap=_lsh_cap())


# DuckDB list slices are 1-based inclusive and clamp at the array
# end, mirroring Spark's F.slice(w, start, length) exactly; empty /
# whitespace-only docs produce zero chunk rows on both engines
# (range(0,0) unnests to nothing; Spark guards the descending
# sequence(0,-1) trap).
ORACLES["doc_chunks"] = """
WITH t AS (
  SELECT doc_id,
    regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g')
      AS stripped
  FROM documents),
w AS (
  SELECT doc_id,
    CASE WHEN length(stripped) = 0
         THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(stripped, '\\s+') END AS words
  FROM t),
c AS (
  SELECT doc_id, words,
         unnest(range(0, CAST(ceil(len(words) / 32.0) AS BIGINT)))
           AS i
  FROM w)
SELECT doc_id, CAST(i AS INT) AS chunk_id,
  CAST(len(words[(i*32+1):(i*32+32)]) AS INT) AS n_tokens,
  array_to_string(words[(i*32+1):(i*32+32)], ' ') AS chunk_text
FROM c
"""


# Same md5-hex permutation on both engines (Spark md5(encode(s,
# 'utf-8')) == DuckDB md5(VARCHAR), lowercase hex), doc_id
# tie-break, identical row_number semantics.
ORACLES["stratified_sample"] = """
WITH r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT)
           AS sample_rank
  FROM documents)
SELECT doc_id, source, sample_rank FROM r WHERE sample_rank <= 10
"""


# Per-doc CTE mirrors the registered quality oracle's b/s stages
# (same trim/split/punct/stop-hit formulas — shared _occ fragments,
# no drift), then integer-sums per source with one terminal
# division per ratio.  Sums are CAST to BIGINT before fetch:
# DuckDB sum(int) returns HUGEINT and DECIMAL cells are
# driver-unsafe.
ORACLES["host_quality"] = """
WITH b AS (
  SELECT doc_id, source, text, length(text) AS n_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
           AS n_words,
         length(text) -
           length(regexp_replace(text, '[.,!?;:]', '', 'g'))
           AS n_punct,
         ' ' || lower(text) || ' ' AS padded
  FROM documents),
s AS (SELECT source, n_chars, n_words, n_punct, ({occ}) AS stop_hits
      FROM b),
g AS (
  SELECT source,
         count(*) AS n_docs,
         CAST(sum(n_words) AS BIGINT) AS sw,
         CAST(sum(n_chars) AS BIGINT) AS sc,
         CAST(sum(n_punct) AS BIGINT) AS sp,
         CAST(sum(stop_hits) AS BIGINT) AS ss,
         CAST(sum(CASE WHEN n_words < 30 THEN 1 ELSE 0 END)
              AS BIGINT) AS nshort
  FROM s GROUP BY source)
SELECT source,
  CAST(n_docs AS BIGINT) AS n_docs,
  sw AS n_words,
  round(sw / n_docs, 6) AS mean_doc_words,
  round(sp / greatest(sc, 1), 6) AS punct_ratio,
  round(ss / greatest(sw, 1), 6) AS stopword_ratio,
  round(nshort / n_docs, 6) AS short_doc_frac
FROM g
""".format(occ=" + ".join(_occ(" %s " % w) for w in _STOPWORDS))


# Wraps the registered dedup_components recursive-CTE oracle as
# a named subquery (DuckDB allows WITH RECURSIVE inside a CTE
# body), adds cluster sizes, and left-joins onto the doc base —
# singletons coalesce to themselves with size 1.
ORACLES["dedup_keep"] = """
WITH comp AS ({comp}),
sz AS (SELECT component, count(*) AS csize FROM comp
       GROUP BY component)
SELECT d.doc_id,
  CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS component,
  CAST(coalesce(s.csize, 1) AS BIGINT) AS cluster_size,
  CAST(CASE WHEN coalesce(c.component, d.doc_id) = d.doc_id
       THEN 1 ELSE 0 END AS INT) AS keep
FROM documents d
LEFT JOIN comp c ON d.doc_id = c.doc_id
LEFT JOIN sz s ON c.component = s.component
""".format(comp=ORACLES["dedup_components"])


# Identical running-sum window on both engines (ROWS UNBOUNDED
# PRECEDING .. 1 PRECEDING, doc_id order within source); integer
# token counts make the cumulative sum exact.
ORACLES["pack_sequences"] = """
WITH per AS (
  SELECT doc_id, source,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+'))
              END AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS before
  FROM per)
SELECT doc_id, source, n_tokens,
       CAST(floor(before / 128) AS BIGINT) AS seq_id,
       CAST(before % 128 AS BIGINT) AS seq_offset
FROM c
"""


# The top-k CUT is part of the contract: both engines order by
# (count DESC, gram ASC) so boundary ties resolve identically and
# the 50-row SETS hash-match.
ORACLES["vocab_ngrams"] = """
WITH w AS (
  SELECT doc_id,
    regexp_split_to_array(
      regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ',
                     'g'), ' ') AS words
  FROM documents),
g AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 2
      THEN list_transform(range(1, len(words)),
                          i -> array_to_string(words[i:i+1], ' '))
      ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM w),
u AS (SELECT doc_id, unnest(grams) AS gram FROM g)
SELECT gram,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM u GROUP BY gram
ORDER BY n_occurrences DESC, gram
LIMIT 50
"""


# Determinism: both engines fold ln(count) terms over a SORTED list
# (sort_array+F.aggregate vs list_sort+list_reduce, same 0.0 seed
# via list_prepend) — identical IEEE addition order, so the only
# cross-engine noise is a possible 1-ulp ln() divergence, absorbed
# by round(.,6) and pinned by this gate on the fixed corpus.
ORACLES["unigram_logprob"] = """
WITH w AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(
      regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ',
                     'g'), ' '), x -> x <> '') AS words
  FROM documents),
u AS (SELECT doc_id, unnest(words) AS word FROM w),
f AS (SELECT word, count(*) AS c FROM u GROUP BY word),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM f),
perdoc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
         list_sort(list(ln(CAST(c AS DOUBLE)))) AS lns
  FROM u JOIN f USING (word) GROUP BY doc_id),
s AS (
  SELECT doc_id, n,
         n * ln(CAST((SELECT t FROM tot) AS DOUBLE)) -
           list_reduce(list_prepend(0.0, lns), (a, b) -> a + b)
           AS nll
  FROM perdoc)
SELECT d.doc_id, CAST(coalesce(s.n, 0) AS BIGINT) AS n_words,
  round(coalesce(s.nll / greatest(s.n, 1), 0.0), 6) AS mean_nll
FROM documents d LEFT JOIN s USING (doc_id)
"""


# No float accumulation anywhere: score is one int*ln(int/int)
# expression per (source, term) row; the (score DESC, term ASC)
# row_number makes the per-host cut deterministic on both engines.
ORACLES["tfidf_top_terms"] = """
WITH w AS (
  SELECT doc_id, source,
    list_filter(regexp_split_to_array(
      regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ',
                     'g'), ' '), x -> x <> '') AS words
  FROM documents),
pos AS (SELECT source, unnest(words) AS term FROM w),
tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS tf
       FROM pos GROUP BY source, term),
dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM tf GROUP BY term),
ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n
       FROM documents),
s AS (
  SELECT source, term, tf, df,
         round(tf * ln(CAST((SELECT n FROM ns) AS DOUBLE) /
                       CAST(df AS DOUBLE)), 6) AS score
  FROM tf JOIN dfx USING (term)),
r AS (
  SELECT source, term, tf, df, score,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY score DESC, term) AS INT) AS rank
  FROM s)
SELECT source, term, tf, df, score, rank FROM r WHERE rank <= 5
"""


# Nests the dedup_keep oracle and the quality_features oracle
# (re-parametrized over plain `text` instead of the
# line-ified shape) as CTEs and joins on doc_id.
ORACLES["corpus_keep"] = """
WITH dk AS ({dk}),
qf AS ({qf})
SELECT d.doc_id, dk.keep AS keep_dedup, qf.gopher_pass, qf.c4_keep,
  qf.lang_pred,
  CAST(CASE WHEN dk.keep = 1 AND qf.gopher_pass = 1
             AND qf.c4_keep = 1 THEN 1 ELSE 0 END AS INT) AS keep
FROM documents d
JOIN dk ON d.doc_id = dk.doc_id
JOIN qf ON d.doc_id = qf.doc_id
""".format(dk=ORACLES["dedup_keep"],
           qf=_quality_features_oracle(src="text"))


# Spark keys grams by xxhash64 (8-byte shuffle rows); the oracle
# groups by the gram STRING — value-identical modulo the documented
# 64-bit collision odds (same note as dup_ngram_frac).  NULL text
# behaves as empty on both sides (per-doc transformation: no
# cross-doc evidence to poison, unlike dedup_keep).  Matching runs
# on the normalized lowercase words; emission uses the parallel
# original-case owords array (identical token boundaries).
ORACLES["dedup_spans"] = """
WITH w AS (
  SELECT doc_id,
    CASE WHEN length(trim(coalesce(text, ''))) = 0
         THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(
                regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                ' ')
    END AS words,
    CASE WHEN length(trim(coalesce(text, ''))) = 0
         THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\\s+')
    END AS owords
  FROM documents),
gp AS (
  SELECT doc_id, words,
         unnest(range(1, greatest(len(words) - 6, 1))) AS pos
  FROM w),
g AS (
  SELECT doc_id, pos,
         array_to_string(words[pos:pos+7], ' ') AS gram
  FROM gp),
dupg AS (
  SELECT gram FROM (
    SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram)
  WHERE nd >= 2),
cov AS (
  SELECT DISTINCT g.doc_id, g.pos + r.k AS j
  FROM g JOIN dupg USING (gram), range(8) r(k)),
wip AS (
  SELECT doc_id, owords,
         unnest(range(1, len(owords) + 1)) AS j
  FROM w),
wi AS (
  SELECT doc_id, j, owords[j] AS word
  FROM wip),
kept AS (
  SELECT wi.doc_id, wi.j, wi.word
  FROM wi LEFT JOIN cov ON wi.doc_id = cov.doc_id AND wi.j = cov.j
  WHERE cov.j IS NULL),
per AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
         string_agg(word, ' ' ORDER BY j) AS kept_text
  FROM kept GROUP BY doc_id)
SELECT d.doc_id,
  CAST(len(w.words) AS INT) AS n_words,
  CAST(coalesce(per.n_kept, 0) AS INT) AS n_kept,
  coalesce(per.kept_text, '') AS kept_text
FROM documents d
JOIN w USING (doc_id)
LEFT JOIN per USING (doc_id)
"""


# Same md5-hex permutation trick as stratified_sample; the shard
# bucket parses the first 8 hex digits (F.conv base 16 on Spark,
# CAST('0x…') on DuckDB — both yield the same uint32, % 8 of a
# non-negative value matches pmod).
ORACLES["shard_assign"] = """
WITH k AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS key
  FROM documents),
s AS (
  SELECT doc_id, key,
         CAST(CAST(concat('0x', substr(key, 1, 8)) AS BIGINT) % 8
              AS INT) AS shard
  FROM k)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard
                               ORDER BY key, doc_id) AS INT)
         AS shard_pos
FROM s
"""


# Wraps the registered embedding_dups oracle (same threshold /
# planes) as the pair CTE, then the dedup_keep recursive-reach /
# size / keep shape over the embeddings base.
ORACLES["semdedup_keep"] = """
WITH RECURSIVE p AS ({dups}),
edges AS (SELECT vec_a AS src, vec_b AS dst FROM p
          UNION SELECT vec_b, vec_a FROM p),
reach(src, node) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src),
comp AS (SELECT src AS vec_id, MIN(node) AS component
         FROM reach GROUP BY src),
sz AS (SELECT component, count(*) AS csize FROM comp
       GROUP BY component)
SELECT e.vec_id,
  CAST(coalesce(c.component, e.vec_id) AS BIGINT) AS component,
  CAST(coalesce(s.csize, 1) AS BIGINT) AS cluster_size,
  CAST(CASE WHEN coalesce(c.component, e.vec_id) = e.vec_id
       THEN 1 ELSE 0 END AS INT) AS keep
FROM embeddings e
LEFT JOIN comp c ON e.vec_id = c.vec_id
LEFT JOIN sz s ON c.component = s.component
""".format(dups=ORACLES["embedding_dups"])


# Same md5-hex uint32 parse on both engines (the shard_assign
# pairing); the weight sum folds over a SORTED list on both sides;
# sigmoid's exp() is the accepted 1-ulp surface under round(.,6)
# (the unigram_logprob precedent).
ORACLES["classifier_score"] = """
WITH w AS (
  SELECT doc_id, list_filter(regexp_split_to_array(
      regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ',
                     'g'), ' '), x -> x <> '') AS words
  FROM documents),
pos AS (SELECT doc_id, unnest(words) AS term FROM w),
vocab AS (
  SELECT term,
         CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT) AS h
  FROM (SELECT DISTINCT term FROM pos)),
wt AS (SELECT term, h / 4294967295.0 - 0.5 AS weight
       FROM vocab WHERE h % 2 = 0),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         CAST(count(weight) AS BIGINT) AS n_hits,
         list_sort(list_filter(list(weight),
                               x -> x IS NOT NULL)) AS ws
  FROM pos LEFT JOIN wt USING (term) GROUP BY doc_id),
s AS (
  SELECT doc_id, n_words, n_hits,
         0.25 + list_reduce(list_prepend(0.0, ws), (a, b) -> a + b)
              / greatest(n_words, 1) AS z
  FROM per)
SELECT d.doc_id,
  coalesce(s.n_words, 0) AS n_words,
  coalesce(s.n_hits, 0) AS n_hits,
  coalesce(round(1.0 / (1.0 + exp(-s.z)), 6),
           round(1.0 / (1.0 + exp(-0.25)), 6)) AS score
FROM documents d LEFT JOIN s USING (doc_id)
"""
