"""The r9 training-data registry keys: their oracle gate (the exact
check_correctness compare at sf0.001, kept under this test's ids;
tests/test_registry.py gates the rest of the registry), planted
semantics and cross-engine differentials."""

import pytest

GATED = ("quality_features", "dup_ngram_frac", "simhash_pairs",
         "doc_chunks", "stratified_sample", "host_quality", "dedup_keep",
         "pack_sequences", "vocab_ngrams", "unigram_logprob",
         "tfidf_top_terms", "corpus_keep", "dedup_spans", "shard_assign",
         "semdedup_keep", "classifier_score")


def _kernel_quality_features(spark, sf_dir):
    """The crawl job's Python-kernel quality form over the
    quality_features input."""
    from packages_sgml_spark.spark.pages import line_docs
    from packages_sgml_spark.spark.queries import _t
    from packages_sgml_spark.spark.textops import quality_features_arrow
    return quality_features_arrow(line_docs(_t(spark, sf_dir,
                                               "documents")))


# inputs gated against a registry key's oracle with no registry key of
# their own: name -> (oracle key, query)
UNREGISTERED = {"quality_features_arrow": ("quality_features",
                                           _kernel_quality_features)}


def _query_and_oracle(name):
    from packages_sgml_spark.spark.oracles import ORACLES
    from packages_sgml_spark.spark.queries import QUERIES
    if name in UNREGISTERED:
        key, query = UNREGISTERED[name]
        return query, ORACLES[key]
    return QUERIES[name], ORACLES[name]


@pytest.mark.parametrize("name", GATED + tuple(UNREGISTERED))
def test_staged_r9_query_matches_oracle(oracle_gate, name):
    oracle_gate(name, *_query_and_oracle(name))


def test_registry_still_frozen_at_70():
    """The 16 r9 keys are added on top of the 70-key registry: taking
    them out leaves exactly the 70 keys it had before."""
    import __spark_entry__ as E
    live = set(E.queries())
    assert len(GATED) == len(set(GATED)) == 16
    assert set(GATED) <= live
    assert len(live - set(GATED)) == 70


def test_staged_r9_keys_do_not_collide():
    """Each r9 key is registered once with its own oracle, and the
    gate-only inputs in UNREGISTERED take no registry name."""
    import __spark_entry__ as E
    import test_staged_r8
    live_q = E.queries()
    live_o = E.oracle_sql()
    assert not set(GATED) & set(test_staged_r8.GATED + ("fix_text",))
    assert set(GATED) <= set(live_o) <= set(live_q)
    assert not set(UNREGISTERED) & set(live_q)


def test_doc_chunks_planted_semantics(spark):
    """Planted chunk boundaries: exact-multiple docs get no ragged
    tail, ragged docs do, sub-chunk docs yield one chunk, empty and
    whitespace-only docs yield zero chunks, and concatenating a
    doc's chunks reproduces its whitespace-normalized text."""
    from packages_sgml_spark.spark.textops import doc_chunks
    docs = spark.createDataFrame(
        [(1, " ".join("w%d" % i for i in range(8))),   # exact 2 chunks
         (2, " ".join("w%d" % i for i in range(9))),   # ragged tail of 1
         (3, "a b"),                                   # single short chunk
         (4, ""),                                      # empty: no chunks
         (5, "   \n\t ")],                             # ws-only: no chunks
        "doc_id long, text string")
    rows = {(r.doc_id, r.chunk_id): r
            for r in doc_chunks(docs, chunk_size=4).collect()}
    keys = sorted(rows)
    assert keys == [(1, 0), (1, 1), (2, 0), (2, 1), (2, 2), (3, 0)]
    assert [rows[k].n_tokens for k in keys] == [4, 4, 4, 4, 1, 2]
    assert rows[(2, 2)].chunk_text == "w8"
    glued = " ".join(rows[(1, i)].chunk_text for i in (0, 1))
    assert glued == " ".join("w%d" % i for i in range(8))
    assert rows[(3, 0)].chunk_text == "a b"


def test_stratified_sample_planted_semantics(spark):
    """Quota semantics: each stratum emits min(k, n_docs) rows with
    ranks exactly 1..min(k, n), and the selection is deterministic
    across runs (md5 order, no rand())."""
    from pyspark.sql import functions as F

    from packages_sgml_spark.spark.datafilters import stratified_sample
    docs = spark.createDataFrame(
        [(i, "big") for i in range(20)] +
        [(100 + i, "small") for i in range(3)],
        "doc_id long, source string").withColumn(
            "text", F.lit("x"))
    out1 = sorted(map(tuple, stratified_sample(
        docs, k=5).collect()))
    out2 = sorted(map(tuple, stratified_sample(
        docs, k=5).collect()))
    assert out1 == out2
    by_src = {}
    for doc_id, src_, rk in out1:
        by_src.setdefault(src_, []).append((rk, doc_id))
    assert sorted(rk for rk, _ in by_src["big"]) == [1, 2, 3, 4, 5]
    assert sorted(rk for rk, _ in by_src["small"]) == [1, 2, 3]
    assert {d for _, d in by_src["small"]} == {100, 101, 102}


def test_host_quality_planted_semantics(spark):
    """Planted host contrast: a host of short stopword-free docs vs a
    host of long stopword-rich punctuated ones — the rollup must
    separate them on every axis, with exact integer-sum ratios."""
    from packages_sgml_spark.spark.textops import host_quality
    good = "the cat and the dog sat on a mat in the sun . " * 5
    docs = spark.createDataFrame(
        [(1, "bad.example", "zz qq"),
         (2, "bad.example", "xx yy ww"),
         (3, "good.example", good.strip()),
         (4, "good.example", good.strip())],
        "doc_id long, source string, text string")
    rows = {r.source: r for r in host_quality(
        docs, short_words=10).collect()}
    bad, goodr = rows["bad.example"], rows["good.example"]
    assert bad.n_docs == 2 and bad.n_words == 5
    assert bad.short_doc_frac == 1.0 and goodr.short_doc_frac == 0.0
    assert bad.stopword_ratio == 0.0
    assert goodr.stopword_ratio > 0.4
    assert goodr.punct_ratio > 0.0 and bad.punct_ratio == 0.0
    assert goodr.mean_doc_words == goodr.n_words / 2


def test_dedup_keep_planted_semantics(spark):
    """Planted clusters: two exact-dup groups + distinct singletons.
    Exactly one keep (the min doc_id) per cluster, singletons keep
    themselves, cluster_size counts every member, and the kept set
    plus components partition the corpus."""
    from packages_sgml_spark.spark.dedup import dedup_keep
    a = "alpha beta gamma delta epsilon zeta eta theta " * 6
    b = "one two three four five six seven eight nine ten " * 6
    docs = spark.createDataFrame(
        [(1, a), (2, a), (7, a),
         (3, b), (9, b),
         (4, "solitary document with completely unique words " * 6),
         (5, "another standalone text nothing like the others " * 6)],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in dedup_keep(docs).collect()}
    assert len(rows) == 7
    assert [rows[i].component for i in (1, 2, 7)] == [1, 1, 1]
    assert [rows[i].cluster_size for i in (1, 2, 7)] == [3, 3, 3]
    assert [rows[i].keep for i in (1, 2, 7)] == [1, 0, 0]
    assert [rows[i].component for i in (3, 9)] == [3, 3]
    assert [rows[i].keep for i in (3, 9)] == [1, 0]
    for i in (4, 5):
        assert (rows[i].component, rows[i].cluster_size,
                rows[i].keep) == (i, 1, 1)


def test_pack_sequences_planted_semantics(spark):
    """Planted stream: 3 docs of 6/6/6 tokens at budget 10 — the
    second doc straddles the first cut (starts in seq 0 at offset
    6), the third starts in seq 1 at offset 2; empty docs occupy
    zero tokens and inherit the running offset."""
    from packages_sgml_spark.spark.textops import pack_sequences
    six = "t1 t2 t3 t4 t5 t6"
    docs = spark.createDataFrame(
        [(1, "h", six), (2, "h", six), (3, "h", six),
         (4, "h", ""), (5, "h", six)],
        "doc_id long, source string, text string")
    rows = {r.doc_id: (r.n_tokens, r.seq_id, r.seq_offset)
            for r in pack_sequences(docs, budget=10).collect()}
    assert rows[1] == (6, 0, 0)
    assert rows[2] == (6, 0, 6)     # straddles the seq-0/1 cut
    assert rows[3] == (6, 1, 2)
    assert rows[4] == (0, 1, 8)     # empty doc: zero-width span
    assert rows[5] == (6, 1, 8)


def test_vocab_ngrams_planted_semantics(spark):
    """Planted counts: a bigram repeated within AND across docs must
    report raw occurrences and distinct-doc frequency separately,
    and boundary ties must cut by gram order."""
    from packages_sgml_spark.spark.textops import vocab_ngrams
    docs = spark.createDataFrame(
        [(1, "red fox red fox red fox"),   # "red fox" x3, "fox red" x2
         (2, "red fox jumps"),
         (3, "b a b a"),                   # "b a" x2, "a b" x1
         (4, "zz top")],
        "doc_id long, text string")
    rows = [(r.gram, r.n_occurrences, r.n_docs)
            for r in vocab_ngrams(docs, n=2, top_k=3).collect()]
    assert rows[0] == ("red fox", 4, 2)
    # ties at 2 occurrences: "b a" and "fox red" — gram order keeps
    # "b a" first and cuts "fox red" out of top_k=3
    assert rows[1] == ("b a", 2, 1)
    assert rows[2] == ("fox red", 2, 1)
    rows2 = vocab_ngrams(docs, n=2, top_k=2).collect()
    assert [r.gram for r in rows2] == ["red fox", "b a"]


def test_unigram_logprob_planted_semantics(spark):
    """Planted distribution: a doc of corpus-common words must score
    a LOWER mean NLL than a doc of corpus-unique words; a
    single-repeated-word doc scores exactly ln(total/count); empty
    docs score 0 with 0 words."""
    import math

    from packages_sgml_spark.spark.datafilters import unigram_logprob
    docs = spark.createDataFrame(
        [(1, "common common common common"),
         (2, "common common rare1 rare2"),
         (3, "unique1 unique2 unique3 unique4"),
         (4, "")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in unigram_logprob(docs).collect()}
    total = 12  # 6x common + 2 rare + 4 unique
    assert rows[4].n_words == 0 and rows[4].mean_nll == 0.0
    assert rows[1].mean_nll == round(math.log(total / 6), 6)
    assert rows[3].mean_nll == round(math.log(total / 1), 6)
    assert rows[1].mean_nll < rows[2].mean_nll < rows[3].mean_nll


def test_tfidf_top_terms_planted_semantics(spark):
    """Planted idf contrast: a term unique to one host must outrank
    a globally common term there, df counts HOSTS not occurrences,
    and ubiquitous terms score exactly 0."""
    import math

    from packages_sgml_spark.spark.textops import tfidf_top_terms
    docs = spark.createDataFrame(
        [(1, "h1", "shared shared quux quux quux"),
         (2, "h1", "shared"),
         (3, "h2", "shared shared shared zorp"),
         (4, "h3", "shared")],
        "doc_id long, source string, text string")
    rows = [(r.source, r.term, r.tf, r.df, r.score, r.rank)
            for r in tfidf_top_terms(docs, top_k=2).collect()]
    by_host = {}
    for t in rows:
        by_host.setdefault(t[0], []).append(t[1:])
    assert by_host["h1"][0] == (
        "quux", 3, 1, round(3 * math.log(3.0), 6), 1)
    assert by_host["h1"][1] == ("shared", 3, 3, 0.0, 2)
    assert by_host["h2"][0] == (
        "zorp", 1, 1, round(math.log(3.0), 6), 1)
    assert by_host["h3"] == [("shared", 1, 3, 0.0, 1)]


def test_corpus_keep_planted_semantics(spark):
    """Planted full-stack contrast: a clean English doc passes every
    gate; its exact duplicate fails ONLY dedup; a word-soup doc
    fails quality but survives dedup; the final keep is the AND."""
    from packages_sgml_spark.spark.datafilters import corpus_keep
    good = "\n".join(
        ["The quick brown fox jumps over the lazy dog and then "
         "runs back to the barn with a bone that it found near "
         "the old oak tree by the river."] * 4)
    soup = "zq wx kv jn " * 20
    docs = spark.createDataFrame(
        [(1, good), (2, good), (3, soup.strip())],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in corpus_keep(docs).collect()}
    assert (rows[1].keep_dedup, rows[1].gopher_pass,
            rows[1].c4_keep, rows[1].keep) == (1, 1, 1, 1)
    assert rows[1].lang_pred == "en"
    assert (rows[2].keep_dedup, rows[2].keep) == (0, 0)
    assert (rows[2].gopher_pass, rows[2].c4_keep) == (1, 1)
    assert rows[3].keep_dedup == 1 and rows[3].gopher_pass == 0
    assert rows[3].keep == 0


def test_null_text_cross_engine_differential(spark, check_correctness):
    """Regression for the two r8 session-4 review catches — a corpus
    with NULL-text docs (failed extractions, a real crawl shape the
    NULL-free sf gates cannot see) must hash-match the oracle:
    (a) lang_pred fell through NULL struct ranks to 'pt' on the
    Spark side only; (b) Spark's minhash folded NULL text to the
    empty-doc signature, clustering failed extractions WITH empty
    pages — the SQL pipeline instead star-collapses NULL docs into
    a cluster of their own (a first singleton-based fix diverged
    the other way on multi-NULL corpora, caught right here)."""
    import duckdb

    from packages_sgml_spark.spark.datafilters import corpus_keep
    from packages_sgml_spark.spark.oracles import ORACLES
    h = check_correctness
    rows = [(10, "h1", ""), (11, "h2", None), (12, "h3", "  "),
            (13, "h1", "ab"), (14, "h2", None),
            (5, "h3", "a solitary document with unique words " * 8)]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, source VARCHAR, "
        "text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?,?,?)", rows)
    df = corpus_keep(docs)
    cols = df.columns
    srows = [tuple(r) for r in df.collect()]
    cur = con.execute(ORACLES["corpus_keep"])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    assert len(srows) == len(orows) == 6
    assert h.table_hash(cols, srows) == h.table_hash(ocols, orows), (
        sorted(srows), sorted(orows))
    by_id = {r[0]: r for r in srows}
    # NULL-text docs: ONE cluster of their own (min doc_id kept),
    # never merged with the ''/'  ' cluster; lang_pred NULL
    assert by_id[11][1] == 1 and by_id[14][1] == 0
    assert by_id[11][4] is None and by_id[14][4] is None
    # empty-string docs cluster separately: 10 kept, 12 dropped
    assert by_id[10][1] == 1 and by_id[12][1] == 0


def test_dedup_spans_planted_semantics(spark):
    """Planted removal semantics: a cross-doc duplicated 8-gram cuts
    its words from EVERY copy; a gram repeated only WITHIN one doc is
    untouched (cross-doc definition, same dup set as dup_ngram_frac);
    sub-8-word docs, empty docs, and NULL text pass through; kept
    words reassemble in document order across a removed gap —
    PRESERVING their original case (matching is case-insensitive,
    emission is not; session-5 review catch)."""
    from packages_sgml_spark.spark.datafilters import dedup_spans
    boiler = "all rights reserved contact us terms of service"  # 8 w
    docs = spark.createDataFrame(
        [(1, "Intro words HERE " + boiler + " unique tail one"),
         (2, boiler + " different ending text"),
         (3, "short doc no grams"),
         (4, ""),
         (5, None),
         # 8-gram repeated twice inside ONE doc only: not cross-doc
         (6, "w1 w2 w3 w4 w5 w6 w7 w8 w1 w2 w3 w4 w5 w6 w7 w8")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in dedup_spans(docs).collect()}
    assert rows[1].n_words == 14 and rows[1].n_kept == 6
    assert rows[1].kept_text == "Intro words HERE unique tail one"
    assert rows[2].n_words == 11 and rows[2].n_kept == 3
    assert rows[2].kept_text == "different ending text"
    assert rows[3].n_kept == 4
    assert rows[3].kept_text == "short doc no grams"
    assert rows[4].n_words == 0 and rows[4].kept_text == ""
    assert rows[5].n_words == 0 and rows[5].kept_text == ""
    assert rows[6].n_kept == 16, "within-doc-only dup must survive"


def test_shard_assign_planted_semantics(spark):
    """Shard ranks are contiguous 1..n_shard per shard, every doc is
    assigned exactly once, shard ids stay in range, and the whole
    assignment is deterministic across runs (md5 order, no rand())."""
    from packages_sgml_spark.spark.datafilters import shard_assign
    docs = spark.createDataFrame(
        [(i, "t%d" % i) for i in range(60)],
        "doc_id long, text string")
    out = shard_assign(docs, n_shards=4)
    rows = [(r.doc_id, r.shard, r.shard_pos) for r in out.collect()]
    assert len(rows) == 60
    assert {r[0] for r in rows} == set(range(60))
    assert all(0 <= r[1] < 4 for r in rows)
    by_shard = {}
    for _, s, p in rows:
        by_shard.setdefault(s, []).append(p)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), s
    again = [(r.doc_id, r.shard, r.shard_pos)
             for r in shard_assign(docs, n_shards=4).collect()]
    assert sorted(rows) == sorted(again)


def test_semdedup_keep_planted_semantics(spark, check_correctness):
    """Hand-built embeddings: identical vectors cluster via the
    exact-dup star collapse (min vec_id kept), an orthogonal vector
    stays a kept singleton, and the two collapse-ineligible shapes —
    all-zero vectors (cos = 0/0, which DuckDB folds to NULL) and
    NULL embeddings — stay singletons on BOTH engines (the star
    collapse must not invent edges the oracle's cosine never
    passes).  Cross-engine: the full result hash-matches the registered
    oracle on this adversarial corpus."""
    import duckdb

    from packages_sgml_spark.spark.oracles import ORACLES
    from packages_sgml_spark.spark.similarity import semdedup_keep
    h = check_correctness
    e1 = [1.0] + [0.0] * 63
    e2 = [0.0, 1.0] + [0.0] * 62
    zero = [0.0] * 64
    rows_in = [(1, e1), (2, e1), (7, e2), (8, zero), (9, zero),
               (10, None), (11, None), (12, e1)]
    emb = spark.createDataFrame(
        rows_in, "vec_id long, embedding array<double>")
    rows = {r.vec_id: r
            for r in semdedup_keep(emb, threshold=0.2).collect()}
    assert (rows[1].component, rows[1].cluster_size,
            rows[1].keep) == (1, 3, 1)
    assert (rows[2].component, rows[2].keep) == (1, 0)
    assert (rows[12].component, rows[12].keep) == (1, 0)
    assert (rows[7].component, rows[7].cluster_size,
            rows[7].keep) == (7, 1, 1)
    for v in (8, 9, 10, 11):
        assert (rows[v].component, rows[v].cluster_size,
                rows[v].keep) == (v, 1, 1), v
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings(vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO embeddings VALUES (?,?)", rows_in)
    cur = con.execute(ORACLES["semdedup_keep"])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    srows = [tuple(r) for r in
             semdedup_keep(emb, threshold=0.2).collect()]
    assert len(srows) == len(orows) == 8
    assert h.table_hash(["vec_id", "component", "cluster_size",
                         "keep"], srows) == h.table_hash(ocols, orows)


def test_classifier_score_planted_semantics(spark):
    """Hand-computed linear-classifier scores: weights derive from
    md5 exactly as the registered query builds them, so a small corpus's
    scores are computable in Python; OOV-only docs score exactly
    sigmoid(bias); empty and NULL docs score sigmoid(bias) with
    n_words=0; and every in-vocab occurrence counts (not distinct
    terms)."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from packages_sgml_spark.spark.textops import classifier_score

    def h(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16)

    def wt(t):
        return h(t) / 4294967295.0 - 0.5

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, ""), (3, None)],
        "doc_id long, text string")
    vocab = [t for t in ("alpha", "beta") if h(t) % 2 == 0]
    oov = [t for t in ("alpha", "beta") if h(t) % 2 == 1]
    weights = spark.createDataFrame(
        [(t, wt(t)) for t in vocab], "term string, weight double")
    rows = {r.doc_id: r for r in
            classifier_score(docs, weights, bias=0.25).collect()}
    counts = {"alpha": 2, "beta": 1}
    ws = sorted(wt(t) for t in vocab for _ in range(counts[t]))
    acc = 0.0
    for x in ws:
        acc += x
    z = 0.25 + acc / 3
    assert rows[1].n_words == 3
    assert rows[1].n_hits == sum(counts[t] for t in vocab)
    assert rows[1].score == round(1.0 / (1.0 + math.exp(-z)), 6)
    sb = round(1.0 / (1.0 + math.exp(-0.25)), 6)
    for d in (2, 3):
        assert (rows[d].n_words, rows[d].n_hits) == (0, 0)
        assert rows[d].score == sb
    # OOV-only doc: full n_words, zero hits, sigmoid(bias)
    if oov:
        docs2 = spark.createDataFrame(
            [(9, " ".join(oov * 2))], "doc_id long, text string")
        r9 = classifier_score(docs2, weights, bias=0.25).collect()[0]
        assert (r9.n_hits, r9.score) == (0, sb)


def test_classifier_score_duplicate_weights_guard(spark):
    """A weights export with a repeated term must not multiply
    occurrence rows (which would inflate n_words/n_hits and shift
    every score): duplicates resolve deterministically to
    max(weight) per term."""
    from packages_sgml_spark.spark.textops import classifier_score
    docs = spark.createDataFrame(
        [(1, "alpha alpha beta")], "doc_id long, text string")
    clean = spark.createDataFrame(
        [("alpha", 0.3)], "term string, weight double")
    dup = spark.createDataFrame(
        [("alpha", 0.1), ("alpha", 0.3), ("alpha", -0.2)],
        "term string, weight double")
    want = classifier_score(docs, clean, bias=0.0).collect()[0]
    got = classifier_score(docs, dup, bias=0.0).collect()[0]
    assert (want.n_words, want.n_hits) == (3, 2)
    assert tuple(want) == tuple(got)


def test_randomized_cross_engine_differential(spark, check_correctness):
    """Deterministic pseudo-random corpora (seeded, reproducible)
    through the FULL driver-exact compare for EVERY r9 key,
    covering shapes the sf tables and planted tests don't braid
    together: mixed case, digits/punctuation tokens, cross-doc
    repeated phrases at random offsets, tab/CRLF whitespace runs,
    empty/NULL/whitespace-only docs, single-word docs — plus a
    synthetic embeddings table with exact-duplicate groups, a zero
    vector and a NULL vector for the embedding-side keys.  The
    corpus is FIXED by seed, so any failure is deterministic (not
    flake) and any pass is a permanent regression pin."""
    import random

    import duckdb

    h = check_correctness
    rng = random.Random(0xC0FFEE)
    vocab = (["the", "And", "data", "X9", "12.5", "web-scale",
              "loss,", "eta!", "Mixed", "case"] +
             ["tok%d" % i for i in range(40)])
    phrases = [" ".join(rng.choice(vocab) for _ in range(9))
               for _ in range(3)]
    rows = []
    for d in range(40):
        r = rng.random()
        if r < 0.08:
            text = rng.choice([None, "", "   \t ", "one"])
        else:
            words = [rng.choice(vocab)
                     for _ in range(rng.randrange(3, 40))]
            if r < 0.55:
                at = rng.randrange(0, len(words))
                words[at:at] = rng.choice(phrases).split()
            sep = rng.choice([" ", "  ", "\t", "\r\n", "\n"])
            text = sep.join(words)
        rows.append((d, "h%d" % (d % 3), text,
                     rng.choice(["en", "de", "fr"])))
    docs_path = None
    import tempfile, os as _os
    with tempfile.TemporaryDirectory() as td:
        docs_path = _os.path.join(td, "documents.parquet")
        spark.createDataFrame(
            rows,
            "doc_id long, source string, text string, lang string") \
            .coalesce(1).write.parquet(docs_path)
        e1 = [1.0 + i * 0.25 for i in range(64)]
        e2 = [((i * 37) % 19) - 9.0 for i in range(64)]
        vecs = []
        for v in range(30):
            if v in (7, 8):
                emb = None
            elif v in (9, 10, 11):
                emb = [0.0] * 64
            elif v % 3 == 0:
                emb = e1 if v % 2 == 0 else e2
            else:
                emb = [((v * 131 + i * 1009) % 997) - 498.0
                       for i in range(64)]
            vecs.append((v, emb))
        emb_path = _os.path.join(td, "embeddings.parquet")
        spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>") \
            .coalesce(1).write.parquet(emb_path)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            "read_parquet('%s/*.parquet')" % docs_path)
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            "read_parquet('%s/*.parquet')" % emb_path)
        n_expect = {"dedup_spans": 40, "classifier_score": 40,
                    "dup_ngram_frac": 40, "dedup_keep": 40,
                    "corpus_keep": 40, "quality_features": 40,
                    "quality_features_arrow": 40,
                    "shard_assign": 40, "unigram_logprob": 40,
                    "semdedup_keep": 30}
        for name in sorted(GATED) + sorted(UNREGISTERED):
            query, oracle = _query_and_oracle(name)
            df = query(spark, td)
            cols = df.columns
            srows = [tuple(x) for x in df.collect()]
            cur = con.execute(oracle)
            ocols = [x[0] for x in cur.description]
            orows = cur.fetchall()
            assert len(srows) == len(orows), (
                name, len(srows), len(orows))
            if name in n_expect:
                assert len(srows) == n_expect[name], name
            assert h.table_hash(cols, srows) == \
                h.table_hash(ocols, orows), name


def test_stream_quality_matches_batch(spark, tmp_path):
    """The fused quality projection is stateless, so it must stream
    UNCHANGED: an availableNow file-source stream over the same docs
    produces row-identical results to the batch operator, and a
    second file arriving later is picked up exactly once by the
    checkpoint."""
    from packages_sgml_spark.spark.streaming import stream_quality
    from packages_sgml_spark.spark.textops import quality_features
    docs1 = spark.createDataFrame(
        [(1, "The quick brown fox jumps over the lazy dog near "
             "the old oak tree by the river bank today."),
         (2, ""), (3, None), (4, "zq wx " * 30)],
        "doc_id long, text string")
    d = str(tmp_path / "stream_docs")
    sink = str(tmp_path / "quality_sink")
    ckpt = str(tmp_path / "ckpt")
    docs1.coalesce(1).write.parquet(d)

    def run_once():
        sdf = stream_quality(spark, d, "doc_id long, text string")
        q = (sdf.writeStream.format("parquet")
             .option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(120)
        return {r.doc_id: tuple(r) for r in
                spark.read.parquet(sink).collect()}

    got = run_once()
    want = {r.doc_id: tuple(r) for r in
            quality_features(spark.read.parquet(d)).collect()}
    assert got == want and len(got) == 4

    # late-arriving file: same checkpoint -> exactly-once pickup,
    # earlier rows not reprocessed, the new row present
    spark.createDataFrame(
        [(9, "another late document with plain words here")],
        "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(d)
    got2 = run_once()
    assert set(got2) == {1, 2, 3, 4, 9}
    assert len(spark.read.parquet(sink).collect()) == 5
    for k, v in got.items():
        assert got2[k] == v
