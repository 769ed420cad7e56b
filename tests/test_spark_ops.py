"""Spark-layer integration tests: extraction, node queries, dedup,
checkpoint/resume, streaming, multimodal plumbing.

Marked slow-ish (one shared local session); scale-correctness of the
full registry is covered by tools/check_correctness.py."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="testdata absent")


def test_extract_golden_rows(spark):
    """Reference Test/ corpus rows through the Spark extraction path:
    status ok and per-url text matches a direct core parse."""
    from packages_sgml_spark.spark.pages import golden_pages
    from packages_sgml_spark.spark.extract import extract
    from packages_sgml_spark.core.golden import parse_test_file
    from packages_sgml_spark.core.dom import extract_text

    pages = golden_pages(spark)
    ex = extract(pages, dialect="sgml", nodes=False)
    got = {r.url: r.text_extracted for r in ex.collect()}
    assert len(got) >= 46
    # full corpus: Spark path matches a direct core parse per url
    import os
    for fn in sorted(os.listdir("/root/reference/Test")):
        if not fn.endswith((".sgml", ".xml")):
            continue
        dom, _ = parse_test_file("/root/reference/Test/" + fn)
        assert got["test://sgml/" + fn] == extract_text(dom), fn


def test_streaming_extract(spark, tmp_path):
    from packages_sgml_spark.spark.pages import docs_as_pages
    from packages_sgml_spark.spark.streaming import stream_extract

    docs = spark.read.parquet(SF + "/documents.parquet").limit(25)
    pages = docs_as_pages(docs)
    in_dir = str(tmp_path / "in")
    pages.write.parquet(in_dir)
    schema = spark.read.parquet(in_dir).schema
    q = (stream_extract(spark, in_dir, schema)
         .select("url", "text_extracted", "n_errors", "status")
         .writeStream.format("memory").queryName("q_stream_t")
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.awaitTermination(120)
    res = spark.table("q_stream_t")
    assert res.count() == 25
    assert res.filter(F.col("status") == "ok").count() == 25


def synthetic_media(spark, n=100):
    """Deterministic fake media table (media_id, kind, payload, mime):
    every third row audio, the rest image."""
    return spark.range(n).select(
        F.concat(F.lit("m"), F.col("id").cast("string")).alias("media_id"),
        F.when(F.col("id") % 3 == 0, "audio").otherwise("image")
         .alias("kind"),
        F.encode(F.repeat(F.concat(F.lit("px"),
                                   F.col("id").cast("string")), 32),
                 "utf-8").alias("payload"),
        F.lit("image/fake").alias("mime"))


def test_multimodal_plumbing(spark):
    from packages_sgml_spark.spark.multimodal import image_features
    media = synthetic_media(spark, 30)
    feats = image_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 30
    ok = [r for r in rows if r.status == "ok"]
    skipped = [r for r in rows if r.status == "skipped"]
    assert len(ok) == 20 and len(skipped) == 10   # audio rows skipped
    assert all(len(r.features) == 16 for r in ok)
    assert all(64 <= r.width < 1984 for r in ok)
    # round-3 contract: fake=False is a REAL PNG decode now — garbage
    # raises MediaDecodeError (the Spark caller maps it to
    # status=decode_error), real PNGs decode (test_media_decode.py)
    from packages_sgml_spark.core.media import MediaDecodeError
    from packages_sgml_spark.spark.multimodal import _decode_impl
    with pytest.raises(MediaDecodeError):
        _decode_impl(b"xx", fake=False)


def test_minhash_finds_near_dups(spark):
    """Planted near-duplicates are recovered by LSH + verified by
    jaccard."""
    from packages_sgml_spark.spark import dedup
    base = ("the quick brown fox jumps over the lazy dog and runs "
            "far away into the deep dark forest tonight")
    rows = [(1, base), (2, base + " extra"), (3, "completely different "
             "text about spark dataframes and shuffle partitions here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(docs)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got
    jac = dedup.ngram_jaccard(docs, pairs).collect()
    for r in jac:
        if (r.doc_a, r.doc_b) == (1, 2):
            assert r.jaccard > 0.7


def test_named_subtree_text(spark):
    from packages_sgml_spark.spark.pages import docs_as_pages
    from packages_sgml_spark.spark.extract import extract
    from packages_sgml_spark.spark.nodes import (
        explode_nodes, named_subtree_text)
    docs = spark.read.parquet(SF + "/documents.parquet").limit(15)
    ex = extract(docs_as_pages(docs), dialect="html5")
    nodes = explode_nodes(ex)
    st = named_subtree_text(nodes, "body")
    rows = {r.url: r.text_subtree for r in st.collect()}
    full = {r.url: r.text_extracted
            for r in ex.select("url", "text_extracted").collect()}
    assert len(rows) == 15
    for url, t in rows.items():
        # body subtree text == full text minus the title prefix
        assert full[url].endswith(t)
        assert full[url].startswith("Doc ")


def test_parallelism_determinism(spark):
    """FIXTURES.md §5: the engine must produce identical results at
    different parallelism (partitioning) levels — extraction output
    is row-deterministic regardless of partition layout."""
    from packages_sgml_spark.spark.pages import synthetic_pages
    from packages_sgml_spark.spark.extract import extract

    pages = synthetic_pages(spark, 300)
    a = extract(pages.repartition(2), dialect="html5", nodes=False) \
        .select("url", "text_extracted", "n_errors")
    b = extract(pages.repartition(16), dialect="html5", nodes=False) \
        .select("url", "text_extracted", "n_errors")
    ra = sorted((r.url, r.text_extracted, r.n_errors) for r in a.collect())
    rb = sorted((r.url, r.text_extracted, r.n_errors) for r in b.collect())
    assert ra == rb


def test_ivf_recall(spark):
    """IVF approximate knn recalls most of the exact top-5."""
    from packages_sgml_spark.spark import similarity
    emb = spark.read.parquet(SF + "/embeddings.parquet") \
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    exact = similarity.knn_bruteforce(emb, list(range(4)), k=5)
    approx = similarity.ivf_knn(emb, list(range(4)), k=5,
                                n_centroids=8, nprobe=4)
    ex = {(r.q_id, r.n_id) for r in exact.collect()}
    ap = {(r.q_id, r.n_id) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.5, recall


def test_dom_json_path(spark):
    """extract(dom_json=True) matches a direct core parse's JSON."""
    from packages_sgml_spark.spark.pages import golden_pages
    from packages_sgml_spark.spark.extract import extract
    from packages_sgml_spark.core.golden import parse_test_file, TEST_DIR
    from packages_sgml_spark.core.dom import dom_to_json
    import os
    pages = golden_pages(spark).limit(10)
    ex = extract(pages, dialect="sgml", dom_json=True, nodes=False)
    got = {r.url: r.dom_json for r in ex.collect()}
    for url, dj in got.items():
        fn = url.rsplit("/", 1)[-1]
        dom, _ = parse_test_file(os.path.join(TEST_DIR, fn))
        assert dj == dom_to_json(dom), fn


def test_streaming_checkpoint_resume(spark, tmp_path):
    """Structured Streaming exactly-once resume: a second availableNow
    run over the same checkpoint processes only newly-arrived files
    (north-rule streaming resumability)."""
    from packages_sgml_spark.spark.pages import docs_as_pages
    from packages_sgml_spark.spark.extract import extract

    docs = spark.read.parquet(SF + "/documents.parquet")
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs_as_pages(docs.filter("doc_id < 30")).write.mode("append") \
        .parquet(in_dir)
    schema = spark.read.parquet(in_dir).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        sdf = extract(stream, dialect="html5", nodes=False) \
            .select("url", "text_extracted")
        q = (sdf.writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == 30
    # new arrivals, then resume from the same checkpoint
    docs_as_pages(docs.filter("doc_id >= 30 and doc_id < 50")) \
        .write.mode("append").parquet(in_dir)
    run_once()
    out = spark.read.parquet(out_dir)
    assert out.count() == 50
    assert out.select("url").distinct().count() == 50   # exactly-once


def test_golden_compare_join(spark):
    """The golden-equality broadcast join over the full Test corpus:
    zero mismatches between the Spark extraction path and the
    core-parser-derived golden table."""
    from packages_sgml_spark.spark.pages import (
        golden_pages, golden_table, golden_compare)
    from packages_sgml_spark.spark.extract import extract

    pages = golden_pages(spark)
    ex = extract(pages, dialect="sgml", nodes=False)
    golden = golden_table(spark)
    mism = golden_compare(ex, golden)
    rows = mism.collect()
    assert rows == [], rows[:3]
    # note: Spark demotes broadcast hints on full_outer joins (SMJ);
    # with how='inner'/'left' the hint holds


def test_multimodal_frames_and_audio(spark):
    from packages_sgml_spark.spark.multimodal import (
        video_frame_sample, audio_features)
    media = synthetic_media(spark, 24)
    frames = video_frame_sample(media).collect()
    assert len(frames) > 0
    per = {}
    for r in frames:
        per.setdefault(r.media_id, []).append(r.frame_idx)
    for mid, idxs in per.items():
        assert idxs == sorted(idxs)         # ordered frame explode
    audio = audio_features(media).collect()
    ok = [r for r in audio if r.status == "ok"]
    assert len(ok) == 8                      # the kind=='audio' third
    assert all(len(r.mfcc) == 13 for r in ok)


def test_dedup_components_planted(spark):
    from packages_sgml_spark.spark.dedup import dedup_components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (4, 8), (8, 6)],
        "doc_a long, doc_b long")
    comp = {r.doc_id: r.component
            for r in dedup_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7, 4: 4, 8: 4, 6: 4}
    # a near-dup chain of n edited page versions (v0-v1, v1-v2, ...)
    # is ONE component however long it is: propagation runs until no
    # label moves (a 12-round cap split a 14-chain in two and a
    # 20-chain into 8)
    for n in (14, 20):
        pairs = spark.createDataFrame(
            [(100 + i, 101 + i) for i in range(n - 1)],
            "doc_a long, doc_b long")
        comp = {r.doc_id: r.component
                for r in dedup_components(pairs).collect()}
        assert comp == {100 + i: 100 for i in range(n)}, n


def test_compression_ratio_planted(spark):
    """Planted expected values: the pandas-UDF zlib ratio equals a
    direct Python zlib computation (no SQL oracle is possible, so
    this is the value-level gate for the registry entry)."""
    import zlib
    from packages_sgml_spark.spark.textops import compression_ratio
    texts = ["abc " * 200, "the quick brown fox", "", None,
             "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa", "x"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string")
    got = {r.doc_id: r.zratio for r in compression_ratio(docs).collect()}
    for i, t in enumerate(texts):
        if not t:
            assert got[i] is None, (i, got[i])
        else:
            raw = t.encode("utf-8")
            exp = round(len(zlib.compress(raw, 6)) / len(raw), 6)
            assert got[i] == exp, (i, got[i], exp)


def test_simhash_planted_properties(spark):
    """Planted-truth properties of simhash_md5: identical text ->
    identical signature; near-identical -> small hamming distance;
    disjoint vocabulary -> large distance."""
    from packages_sgml_spark.spark.dedup import simhash_md5
    base = ("the quick brown fox jumps over the lazy dog "
            "while the rain falls on the quiet empty street") * 3
    near = base.replace("quiet", "busy")
    far = ("zebra xylophone quartz jackdaw vex nymph waltz "
           "fjord glyph sphinx") * 6
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, far)],
        "doc_id long, text string")

    def ham(a, b):
        return bin(a ^ b).count("1")

    sig = {r.doc_id: r.simhash for r in simhash_md5(docs).collect()}
    assert sig[0] == sig[1]
    assert ham(sig[0], sig[2]) <= 6, ham(sig[0], sig[2])
    assert ham(sig[0], sig[3]) > ham(sig[0], sig[2])


def test_simhash_pairs_planted_vs_bruteforce(spark):
    """simhash_pairs equals the brute-force reference on a planted
    corpus: star edges (rep=min doc_id, hamming 0) for identical
    signatures, plus every distinct-rep pair with bit_count(xor) <= 3
    (the 4x8-bit pigeonhole is exact at that radius, and the bucket
    cap never binds at this scale)."""
    from packages_sgml_spark.spark.dedup import (simhash_md5,
                                                 simhash_pairs)
    base = ("the quick brown fox jumps over the lazy dog "
            "while the rain falls on the quiet empty street") * 3
    near = base.replace("quiet", "alpha")      # hamming 1 from base
    mid = base.replace("quiet", "stone")       # hamming 3 from base
    off = base.replace("quiet", "busy")        # hamming 5: beyond radius
    far = ("zebra xylophone quartz jackdaw vex nymph waltz "
           "fjord glyph sphinx") * 6
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, far), (4, base),
         (5, mid), (6, off)],
        "doc_id long, text string")
    sig = {r.doc_id: r.simhash for r in simhash_md5(docs).collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    rep = {d: min(e for e in sig if sig[e] == sig[d]) for d in sig}
    expect = {(rep[d], d, 0) for d in sig if rep[d] != d}
    reps = sorted(set(rep.values()))
    expect |= {(a, b, ham(sig[a], sig[b]))
               for i, a in enumerate(reps) for b in reps[i + 1:]
               if ham(sig[a], sig[b]) <= 3}
    got = {(r.doc_a, r.doc_b, r.hamming)
           for r in simhash_pairs(docs).collect()}
    assert got == expect, (sorted(got), sorted(expect))
    # the planted corpus exercises both branches
    assert any(h == 0 for _, _, h in got)
    assert any(h > 0 for _, _, h in got), sorted(
        (ham(sig[a], sig[b]), a, b)
        for i, a in enumerate(reps) for b in reps[i + 1:])


def test_embedding_lsh_pairs_subset_of_exact(spark):
    """The registered LSH-bucketed near-dup path returns a subset of
    the exact all-pairs result (identical cos values), with usable
    recall at the gate threshold."""
    from packages_sgml_spark.spark import similarity
    emb = spark.read.parquet(SF + "/embeddings.parquet") \
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    exact = {(r.vec_a, r.vec_b): r.cos for r in
             similarity.embedding_near_dups(emb, threshold=0.2)
             .collect()}
    lsh = {(r.vec_a, r.vec_b): r.cos for r in
           similarity.embedding_near_dups(emb, threshold=0.2,
                                          use_lsh=True, dim=64,
                                          n_planes=6).collect()}
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k], (k, v, exact[k])
    assert len(lsh) / max(len(exact), 1) >= 0.05, \
        (len(lsh), len(exact))


def test_knn_lsh_recall_vs_exact(spark):
    from packages_sgml_spark.spark import similarity
    emb = spark.read.parquet(SF + "/embeddings.parquet") \
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    ex = {(r.q_id, r.n_id) for r in
          similarity.knn_bruteforce(emb, list(range(4)), k=5).collect()}
    ap = {(r.q_id, r.n_id) for r in
          similarity.knn_lsh(emb, list(range(4)), dim=64, k=5,
                             n_planes=4).collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.3, recall


def test_ivf_lloyd_derives_dim(spark):
    """Lloyd refinement derives the embedding width from the data —
    regression for the round-1 range(64) hardcode; exercised with an
    8-dim table so the hardcode would null out components."""
    from packages_sgml_spark.spark.similarity import (
        ivf_assign, ivf_centroids)
    import math
    rows = [(i, [math.sin(i * 8 + j) for j in range(8)])
            for i in range(40)]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<double>")
    cents = ivf_centroids(emb, k=4, iterations=1).collect()
    assert len(cents) == 4
    for r in cents:
        assert len(r.centroid) == 8
        assert all(c is not None for c in r.centroid), r
    asg = ivf_assign(emb, ivf_centroids(emb, k=4, iterations=1))
    assert asg.count() == 40


def test_knn_ivf_seeds_skip_null_embeddings(spark, tmp_path,
                                           check_correctness):
    """IVF seeds are the lowest vec_ids WITH an embedding, as the
    knn_ivf oracle's e CTE seeds them: on a table whose vec_id 0 is
    NULL, the rows of queries 1-7 equal DuckDB's (query 0, a NULL
    vector, is kept by the engine and dropped by the oracle)."""
    import random
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from packages_sgml_spark.spark.oracles import ORACLES
    from packages_sgml_spark.spark.queries import QUERIES
    rng = random.Random(60)
    vecs = [None] + [[rng.uniform(-1, 1) for _ in range(8)]
                     for _ in range(59)]
    path = tmp_path / "embeddings.parquet"
    pq.write_table(pa.table({
        "vec_id": pa.array(range(60), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32()))}), path)
    df = QUERIES["knn_ivf"](spark, str(tmp_path))
    got = [tuple(r) for r in df.collect() if r.q_id != 0]
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                "read_parquet('%s')" % path)
    cur = con.execute(ORACLES["knn_ivf"])
    want = cur.fetchall()
    assert {r[0] for r in want} == set(range(1, 8))
    h = check_correctness.table_hash
    assert h(df.columns, got) == h([d[0] for d in cur.description],
                                   want), (sorted(got), sorted(want))


def test_embedding_near_dups_exact_reads_float_as_double(spark):
    """The exact all-pairs path scores array<float> input in doubles,
    as the numpy paths read it: its rows equal those of the
    array<double> cast."""
    from packages_sgml_spark.spark import similarity as S
    emb = spark.read.parquet(SF + "/embeddings.parquet")
    as_double = emb.withColumn(
        "embedding", F.col("embedding").cast("array<double>"))

    def rows(e):
        return sorted(tuple(r) for r in
                      S.embedding_near_dups(e, threshold=0.2).collect())
    got = rows(emb)
    assert got and got == rows(as_double)


def test_extract_element_text_matches_dom_path(spark):
    """The stop-condition title fast path returns exactly what the
    full-DOM child-text path returns, over both the synthesized pages
    and the reference golden corpus (where a title exists)."""
    from packages_sgml_spark.core.parser import (
        FirstElementTextParser, ParserOptions, SGMLParser)
    from packages_sgml_spark.core.dom import Element
    import os

    def dom_first_text(dom, name):
        stack = list(reversed(dom))
        while stack:
            n = stack.pop()
            if not isinstance(n, Element):
                continue
            if n.name == name:
                parts = []
                sub = list(n.content)
                i = 0
                while i < len(sub):
                    c = sub[i]
                    if isinstance(c, str):
                        parts.append(c)
                    elif isinstance(c, Element):
                        sub[i + 1:i + 1] = list(c.content)
                    i += 1
                return "".join(parts)
            stack.extend(reversed(n.content))
        return None

    cases = [b"<html><head><title>A <b>bold</b> title </title>"
             b"</head><body><p>body</p></body></html>",
             b"<html><body><p>no title here</p></body></html>",
             b"<title>implied &amp; decoded</title><p>x",
             b"<TITLE>case folded</TITLE>"]
    for fn in sorted(os.listdir("/root/reference/Test")):
        if fn.endswith((".sgml", ".xml")):
            with open("/root/reference/Test/" + fn, "rb") as f:
                cases.append(f.read())
    n_checked = 0
    for html in cases:
        fast = FirstElementTextParser(
            ParserOptions(dialect="html5", encoding="utf-8",
                          max_errors=-1, quiet=True), target="title")
        fast.parse(html)
        full = SGMLParser(ParserOptions(dialect="html5",
                                        encoding="utf-8",
                                        max_errors=-1, quiet=True))
        dom, _ = full.parse(html)
        assert fast.text() == dom_first_text(dom, "title"), html[:80]
        n_checked += 1
    assert n_checked >= 50


def _links_outlinks(pages):
    from packages_sgml_spark.spark.links import outlinks
    return outlinks(pages)


def _templates_node_fingerprints(pages):
    from packages_sgml_spark.spark.templates import (node_fingerprints,
                                                     with_host)
    return node_fingerprints(with_host(pages))


def _templates_strip(pages):
    from packages_sgml_spark.spark.templates import (
        extract_text_without_templates)
    return extract_text_without_templates(pages, set())


# every public page sink, with its output shape: "status" (one row per
# page), "drop" (bad pages yield no rows) or "fold" (per-task counts)
PAGE_SINKS = [
    ("extract", "status"), ("extract_text_only", "status"),
    ("extract_text_quality", "status"),
    ("extract_markdown", "status"), ("extract_element_text", "status"),
    ("serialize_pages", "status"), ("esis_pages", "status"),
    ("c14n_pages", "status"), ("extract_main", "status"),
    ("extract_nodes_rows", "drop"), ("extract_name_count", "drop"),
    ("outlinks", "drop"), ("node_fingerprints", "drop"),
    ("extract_text_without_templates", "drop"),
    ("extract_tag_counts", "fold"),
]


def _page_sink_fn(name):
    from packages_sgml_spark.spark import extract as ex
    return {"outlinks": _links_outlinks,
            "node_fingerprints": _templates_node_fingerprints,
            "extract_text_without_templates": _templates_strip,
            }.get(name) or getattr(ex, name)


@pytest.fixture(scope="module")
def guard_pages(spark):
    from packages_sgml_spark.spark.extract import MAX_HTML_BYTES
    big = b"<p>" + b"x" * (MAX_HTML_BYTES + 1)
    good = [("u1", b"<html><head><title>T</title></head><body><p>one "
                   b"two three four <a href='http://x.org/a'>link</a>"
                   b"</p></body></html>"),
            ("u5", b"<p>no title</p>")]
    schema = "url string, html binary"
    return (spark.createDataFrame(
        good + [("u2", b""), ("u3", None), ("u4", big)], schema),
        spark.createDataFrame(good, schema))


@pytest.mark.parametrize("name,shape", PAGE_SINKS,
                         ids=[n for n, _ in PAGE_SINKS])
def test_page_sink_size_guard_and_statuses(guard_pages, name, shape):
    """All page sinks share the per-page guards.  Status-row sinks
    give empty/NULL html 'empty' and html over MAX_HTML_BYTES
    'too_large', with a NULL value and n_errors 1; drop-style and
    fold sinks give those pages no rows."""
    pages, good = guard_pages
    sink = _page_sink_fn(name)
    rows = sink(pages).collect()
    if shape == "fold":
        def totals(rs):
            out = {}
            for r in rs:
                out[r.name] = out.get(r.name, 0) + r.n
            return out
        assert totals(rows) == totals(sink(good).collect()) != {}
        return
    if shape == "drop":
        assert {"u1"} <= {r.url for r in rows} <= {"u1", "u5"}
        return
    got = {r.url: r for r in rows}
    assert sorted(got) == ["u1", "u2", "u3", "u4", "u5"]
    assert got["u1"].status == "ok"
    assert got["u5"].status == ("not_found"
                                if name == "extract_element_text"
                                else "ok")
    assert got["u2"].status == got["u3"].status == "empty"
    assert got["u4"].status == "too_large"
    value = rows[0].__fields__[1]
    for u in ("u2", "u3", "u4"):
        assert got[u][value] is None, u
    if "n_errors" in rows[0].__fields__:
        assert got["u2"].n_errors == 0 and got["u4"].n_errors == 1
    if name == "extract_element_text":
        assert got["u1"].element_text == "T"


def test_extract_text_quality_matches_extract(guard_pages):
    """extract_text_quality's text and per-page meta equal
    extract(nodes=False)'s, and every row, status rows included,
    carries core.quality.features of its text (NULL text gives
    features(None)); quality=False ships the text columns only."""
    from packages_sgml_spark.core.quality import FIELDS, features
    from packages_sgml_spark.spark.extract import (TEXT_META_SCHEMA,
                                                   extract,
                                                   extract_text_quality)
    pages, _good = guard_pages
    meta = TEXT_META_SCHEMA.fieldNames()
    names = [name for name, _ in FIELDS]
    want = {r.url: tuple(r[c] for c in meta)
            for r in extract(pages, nodes=False).collect()}
    rows = extract_text_quality(pages).collect()
    assert rows[0].__fields__ == meta + names
    assert {r.url: tuple(r[c] for c in meta) for r in rows} == want
    for r in rows:
        assert tuple(r[n] for n in names) == features(r.text_extracted)
    assert {r.url for r in rows if r.text_extracted is None} == {
        "u2", "u3", "u4"}
    plain = extract_text_quality(pages, quality=False)
    assert plain.columns == meta
    assert {r.url: tuple(r) for r in plain.collect()} == want


def test_page_sink_exception_status_driver_side():
    """A per-page function that raises yields status 'exception' in
    every status-row schema (the message stays in parse_errors where
    the schema has it) and no rows in the drop shape — driven through
    the sinks' batch generator on the driver, no Spark job."""
    import pandas as pd
    from packages_sgml_spark.spark.extract import (
        EXTRACT_SCHEMA, MAIN_SCHEMA, MARKDOWN_SCHEMA, NODE_ROWS_SCHEMA,
        _page_batches, _text_schema)

    def boom(html, opts, key):
        raise ValueError("boom")

    def batch():
        return iter([pd.DataFrame({"url": ["u1", "u2"],
                                   "html": [b"<p>x", b""]})])

    for schema in (EXTRACT_SCHEMA, MARKDOWN_SCHEMA, MAIN_SCHEMA,
                   _text_schema("esis")):
        out = pd.concat(list(_page_batches(batch(), schema, boom)))
        assert out["status"].tolist() == ["exception", "empty"]
        assert out["url"].tolist() == ["u1", "u2"]
        assert out[schema.fieldNames()[1]].isna().all()
        if "n_errors" in out:
            assert out["n_errors"].tolist() == [1, 0]
    out = next(_page_batches(batch(), EXTRACT_SCHEMA, boom))
    assert out["parse_errors"].tolist() == [
        [{"severity": "error", "line": 0,
          "message": "parser exception: boom"}], []]
    assert list(_page_batches(batch(), NODE_ROWS_SCHEMA, boom)) == []


def test_shared_parser_options_unchanged_by_parsing():
    """Page sinks build one ParserOptions per dialect per task and
    share it across pages, so parsing must never write to it."""
    from packages_sgml_spark.core.esis import ESISParser
    from packages_sgml_spark.core.markdown import MarkdownParser
    from packages_sgml_spark.core.parser import (
        FirstElementTextParser, NodeTableParser, SGMLParser,
        TagCountParser, TextOnlyParser)
    from packages_sgml_spark.spark.extract import (
        _extract_options, _options, _quiet_options)
    corpus = [b"<!DOCTYPE html><html><head><title>T &amp; U</title>"
              b"<script>if (a < b) x();</script></head><body>"
              b"<p>one<p>two &nbsp; <a href=x rel=nofollow>l</a>"
              b"<ul><li>a<li>b</ul><table><tr><td>c</table>",
              b"<?xml version='1.0'?><r xmlns:a='u1'><a:x k='v'>t</a:x>"
              b"<y/><![CDATA[<z>]]></r>",
              b"<div><b>unclosed <i>soup</div></b> &bogus; \xff\xfe",
              b"\x00\x01 not markup at all"]
    for opts in (_extract_options("html5"), _extract_options("xml"),
                 _options("html5"), _quiet_options("html5"),
                 _quiet_options("xml", keep_prefix=True)):
        before = dict(vars(opts))
        for cls in (TextOnlyParser, MarkdownParser, NodeTableParser,
                    SGMLParser, TagCountParser, FirstElementTextParser,
                    ESISParser):
            for html in corpus:
                cls(opts).parse(html)
        assert vars(opts) == before, opts.dialect


def test_spread_semantics(spark):
    from pyspark.sql import functions as F
    from packages_sgml_spark.spark.util import spread
    want = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000, numPartitions=1).select(
        F.col("id").alias("doc_id"))
    assert spread(narrow, "doc_id").rdd.getNumPartitions() == want
    wide = spark.range(1000, numPartitions=want + 4)
    assert spread(wide).rdd.getNumPartitions() == want + 4  # no-op
    # rows preserved exactly
    assert sorted(r.doc_id for r in spread(narrow, "doc_id")
                  .collect()) == list(range(1000))


def test_spread_repartitions_join_over_one_file_scan(spark, tmp_path):
    """A broadcast join over a one-file scan is one partition wide, and
    spread repartitions it, however large Catalyst estimates the join
    (the estimate is not the scan width)."""
    from pyspark.sql import functions as F
    from packages_sgml_spark.spark.util import spread
    want = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "docs")
    spark.range(2000).select(F.col("id").alias("doc_id"),
                             F.col("id").cast("string").alias("text")) \
        .coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)
    keep = spark.range(0, 2000, 2).select(F.col("id").alias("doc_id"))
    kept = docs.join(F.broadcast(keep), "doc_id")
    assert kept.rdd.getNumPartitions() == 1
    out = spread(kept, "doc_id")
    assert out.rdd.getNumPartitions() == want
    assert sorted(r.doc_id for r in out.collect()) == \
        list(range(0, 2000, 2))


def test_contamination_planted(spark):
    """A doc sharing a 5-gram with the benchmark subset (doc_id % 97
    == 0) is flagged; an unrelated doc is not; benchmark members are
    excluded; gram-less short docs get an explicit clean row (the
    output covers the full non-benchmark universe)."""
    from packages_sgml_spark.spark.datafilters import contamination
    bench_text = ("the quick brown fox jumps over the lazy dog "
                  "while rain falls softly")
    rows = [
        (0, bench_text),                                  # benchmark
        (1, "intro words then the quick brown fox jumps over "
            "something else"),                            # contaminated
        (2, "totally unrelated content about spark shuffle "
            "partitions and arrow batches here"),         # clean
        (3, "tiny doc"),                                  # <5 words: clean row
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in contamination(docs).collect()}
    assert 0 not in out                 # benchmark member excluded
    assert out[3].contaminated == 0 and out[3].n_contaminated == 0
    assert out[1].contaminated == 1 and out[1].n_contaminated >= 1
    assert out[2].contaminated == 0 and out[2].n_contaminated == 0
    assert set(out) == {1, 2, 3}        # full non-benchmark universe


def test_repetition_stats_planted(spark):
    from packages_sgml_spark.spark.datafilters import repetition_stats
    rows = [
        (1, "unique words only here today"),
        (2, "spam spam spam spam"),
        (3, "line\nline\nother"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert out[1].dup_word_frac == 0.0
    assert out[2].dup_word_frac == 0.75          # 1 distinct of 4
    assert out[2].dup_3gram_frac == 0.5          # 1 distinct of 2
    assert out[3].dup_line_frac == round(1 - 2 / 3, 6)


def test_pii_scrub_planted(spark):
    from packages_sgml_spark.spark.datafilters import pii_scrub
    rows = [(1, "mail bob@example.com or admin@sub.domain.org, "
                "host 192.168.0.1, call +1 555 123456 now")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = pii_scrub(docs).collect()[0]
    assert r.n_emails == 2 and r.n_ips == 1 and r.n_phones == 1
    assert "<EMAIL>" in r.scrubbed and "<IP>" in r.scrubbed \
        and "<PHONE>" in r.scrubbed
    assert "bob@" not in r.scrubbed and "192.168" not in r.scrubbed


def test_tag_count_parser_matches_node_table():
    """r4 counting path: TagCountParser's per-name counts equal the
    DOM node table's element counts exactly (explicit + implied
    begins == element nodes), including tag soup, implied html/head/
    body, EMPTY elements, and undefined tags."""
    import collections
    from packages_sgml_spark.core.dom import flatten_nodes
    from packages_sgml_spark.core.parser import (
        ParserOptions, SGMLParser, TagCountParser)
    docs = [
        b"<html><head><title>t</title></head><body><p>a<p>b</body>",
        b"<ul><li>one<li>two</ul><p>x<br>y<img src=q>",
        b"no tags at all",
        b"<table><tr><td>a<td>b<tr><td>c</table>",
        b"<zzz><yyy>soup</zzz>",
        b"<div>" * 30 + b"deep" + b"</div>" * 30,
        b"<p>&amp; text <script>1<2</script> tail",
    ]
    for d in docs:
        ps = SGMLParser(ParserOptions(dialect="html5",
                                      encoding="utf-8", max_errors=-1))
        dom, _ = ps.parse(d)
        nodes = flatten_nodes(dom, ps.elem_spans, ps.data_spans)
        want = collections.Counter(
            nd["name"] for nd in nodes if nd["kind"] == "element")
        pc = TagCountParser(ParserOptions(dialect="html5",
                                          encoding="utf-8",
                                          max_errors=-1))
        pc.parse(d)
        assert pc.counts == want, d


def test_embedding_multiprobe_recall_monotone(spark):
    """r4: Hamming-1 multi-probe must produce a SUPERSET of the
    primary-bucket pairs (recall monotone in probes), and the recall
    query reports both methods consistently."""
    from pyspark.sql import functions as F
    from packages_sgml_spark.spark import similarity
    import random
    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)])
            for i in range(60)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    plain = {(r.vec_a, r.vec_b) for r in similarity.embedding_near_dups(
        emb, threshold=0.2, use_lsh=True).collect()}
    probed = {(r.vec_a, r.vec_b) for r in similarity.embedding_near_dups(
        emb, threshold=0.2, use_lsh=True, n_probes=3).collect()}
    assert plain <= probed
    rec = {r.method: r for r in similarity.embedding_dup_recall(
        emb, threshold=0.2).collect()}
    assert rec["lsh_probed"].recall >= rec["lsh"].recall
    assert rec["lsh"].n_hit == len(plain)
    assert rec["lsh_probed"].n_hit == len(probed)


def test_registry_oracle_reconciliation():
    """Every registered query has an oracle except the documented
    rows-only set, and no oracle is orphaned (round-3 review: the
    gate file silently missed three registered queries — keep the
    registry and oracle maps reconciled at the source)."""
    from packages_sgml_spark.spark.queries import QUERIES
    from packages_sgml_spark.spark.oracles import ORACLES
    # zlib has no DuckDB twin; fix_text's mojibake repair likewise
    # (both are planted-truth pytested instead)
    ROWS_ONLY = {"compression_ratio", "fix_text"}
    missing = set(QUERIES) - set(ORACLES) - ROWS_ONLY
    orphans = set(ORACLES) - set(QUERIES)
    assert not missing, "queries without oracle: %s" % sorted(missing)
    assert not orphans, "oracles without query: %s" % sorted(orphans)


def test_minhash_lsh_megacluster_guard(spark):
    """r4 skew guard (round-3 review 'What's wrong #2'): a corpus
    where 30% of 50k docs are byte-identical must complete with the
    whole cluster collapsing to star edges BEFORE banding — no task
    ever materializes the 15k-member clique (the classic crawl-dedup
    OOM) — and the bucket cap stays untouched for distinct content."""
    from pyspark.sql import functions as F
    from packages_sgml_spark.spark import dedup
    n = 50_000
    boiler = F.lit("identical boilerplate page body repeated "
                   "verbatim across the whole crawl frontier")
    uniq = F.concat(*[F.concat(F.lit(c), F.col("id").cast("string"),
                               F.lit(" ")) for c in "uvwxyz"])
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 3, boiler).otherwise(uniq)
        .alias("text"))
    stats = {r.band: r for r in dedup.lsh_bucket_stats(docs).collect()}
    # the 15k-doc cluster collapsed to one rep: 14999 star members
    assert stats[0].n_star_members == 15_000 - 1
    # distinct-content reps hash to distinct buckets: no overflow,
    # no bucket anywhere near the cluster size
    for r in stats.values():
        assert r.n_overflow_buckets == 0 and r.n_dropped_reps == 0
        assert r.max_bucket_size <= dedup.MAX_LSH_BUCKET
    pairs = dedup.minhash_lsh_pairs(docs)
    agg = pairs.agg(
        F.count("*").alias("n"),
        F.sum((F.col("doc_a") == 0).cast("long")).alias("to_rep"),
        F.countDistinct("doc_b").alias("nb")).collect()[0]
    # exactly the star: every identical doc paired once with rep 0
    assert agg.n == 14_999 and agg.to_rep == 14_999 and agg.nb == 14_999


def test_pii_scrub_us_phone_forms(spark):
    """r4 broadening: US (NNN) NNN-NNNN and dashed/dotted forms are
    scrubbed; digit runs inside longer numbers are not (word
    boundaries); dotted phones are NOT eaten by the IPv4 stage (an
    IPv4 needs four octets)."""
    from packages_sgml_spark.spark.datafilters import pii_scrub
    rows = [
        (1, "call (555) 123-4567 or (555)987-6543 today"),
        (2, "alt 555-123-4567 and 555.123.4567 forms"),
        (3, "order id 12345-678-90123 is not a phone"),
        (4, "ip 10.0.0.1 then dotted 555.123.4567"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert out[1].n_phones == 2 and "123-4567" not in out[1].scrubbed
    assert out[2].n_phones == 2
    assert out[3].n_phones == 0 and "12345-678-90123" in out[3].scrubbed
    assert out[4].n_ips == 1 and out[4].n_phones == 1


def test_canonicalize_url_anchored_port(spark):
    """r4 advice fix: the default-port strip is anchored to the
    scheme://host prefix — ':443/' inside a query string survives, a
    slash-less https host still loses its port, and http :80 is
    handled too."""
    from packages_sgml_spark.spark.datafilters import canonicalize_url
    from pyspark.sql import functions as F
    rows = [(1, "https://h.org/p?next=https://x:443/y"),
            (2, "HTTPS://H.org:443"),
            (3, "HTTP://h.org:80/a"),
            (4, "https://h.org:8443/a")]
    out = [r.c for r in spark.createDataFrame(rows, "i long, url string")
           .select(canonicalize_url(F.col("url")).alias("c"))
           .orderBy("i").collect()]
    assert out[0] == "https://h.org/p?next=https://x:443/y"
    assert out[1] == "https://h.org"
    assert out[2] == "http://h.org/a"
    assert out[3] == "https://h.org:8443/a"   # non-default port kept


def test_url_dedup_planted(spark):
    """URL canonicalization: aliases (case, :443, fragment, utm
    params, trailing slash) collapse; keep_doc_id = min alias."""
    from packages_sgml_spark.spark.datafilters import (
        canonicalize_url, url_dedup)
    from pyspark.sql import functions as F
    urls = spark.createDataFrame(
        [(1, "HTTPS://A.Example.ORG:443/x/?id=1&utm_source=f#frag"),
         (2, "https://a.example.org/x?id=1")],
        "doc_id long, url string")
    canon = urls.select(canonicalize_url(F.col("url")).alias("c")) \
        .collect()
    # the '/?'->'?' stage collapses slash-before-query aliases too
    assert canon[0].c == canon[1].c == "https://a.example.org/x?id=1"
    docs = spark.createDataFrame(
        [(i,) for i in (7, 607)], "doc_id long")   # 7 % 200 == 607 % 200?
    # 607 % 200 = 7: same path; 607 % 50 = 7 == 7 % 50: same host;
    # parity/frag/slash flags differ -> still same canonical? 7%3=1,
    # 607%3=1 (no slash both); 7%2=1, 607%2=1 (no params); 7%5=2,
    # 607%5=2 (no frag).  Identical messy urls -> 1 canon, 2 aliases.
    out = url_dedup(docs).collect()
    assert len(out) == 1
    assert out[0].n_aliases == 2 and out[0].keep_doc_id == 7


def test_count_links_counting_path_matches_node_table(spark):
    """r5: extract_name_count (in-worker <a> begin counting, no node
    structs) must equal the node-table filter-then-groupBy row for
    row on the synthesized linked corpus — including the absent-row
    semantics for documents with zero links."""
    from packages_sgml_spark.spark.pages import docs_as_pages
    from packages_sgml_spark.spark.extract import (
        extract, extract_name_count)
    from packages_sgml_spark.spark.nodes import explode_nodes

    docs = spark.read.parquet(SF + "/documents.parquet").limit(80)
    pages = docs_as_pages(docs, links=True)

    nodes = explode_nodes(extract(pages, dialect="html5", nodes=True))
    want = {(r.url, r.n) for r in
            nodes.filter((F.col("kind") == "element") &
                         (F.col("name") == "a"))
            .groupBy("url").agg(F.count("*").alias("n")).collect()}
    got = {(r.url, r.n) for r in
           extract_name_count(pages, name="a",
                              dialect="html5").collect()}
    assert got == want and len(got) == 80   # every doc gets >=1 link


def test_extract_name_count_guards(spark):
    """Empty / oversized / unparseable rows contribute nothing; docs
    without the target name are omitted."""
    from packages_sgml_spark.spark.extract import (
        MAX_HTML_BYTES, extract_name_count)
    rows = [("u1", b"<p><a href=x>1</a><a href=y>2</a>"),
            ("u2", b"<p>no links here"),
            ("u3", b""),
            ("u4", None),
            ("u5", b"x" * (MAX_HTML_BYTES + 1))]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = {(r.url, r.n) for r in
           extract_name_count(pages, name="a").collect()}
    assert got == {("u1", 2)}


def test_embedding_dup_recall_sampled(spark):
    """r5: sample_frac restricts exact AND LSH sides to the same
    deterministic slice — planted duplicate pairs inside the sample
    are found, recall stays defined, and frac=1 equals the unsampled
    run exactly."""
    import random
    from packages_sgml_spark.spark.similarity import (
        embedding_dup_recall)
    rng = random.Random(11)
    rows = []
    for i in range(80):
        v = [rng.uniform(-1, 1) for _ in range(32)]
        rows.append((i, v))
        rows.append((i + 1000, list(v)))   # exact dup partner
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    full = {r.method: r for r in embedding_dup_recall(
        emb, threshold=0.99, dim=32).collect()}
    frac1 = {r.method: r for r in embedding_dup_recall(
        emb, threshold=0.99, dim=32, sample_frac=1.0).collect()}
    assert {m: (r.n_exact, r.n_pairs, r.n_hit)
            for m, r in full.items()} == \
        {m: (r.n_exact, r.n_pairs, r.n_hit) for m, r in frac1.items()}
    samp = {r.method: r for r in embedding_dup_recall(
        emb, threshold=0.99, dim=32, sample_frac=0.5).collect()}
    # the sampled slice is smaller but non-trivial, and identical
    # vectors bucket together -> recall 1.0 for surviving dup pairs
    assert 0 < samp["lsh"].n_exact < full["lsh"].n_exact
    assert samp["lsh"].recall == 1.0
    # deterministic: same call twice -> same numbers
    samp2 = {r.method: r for r in embedding_dup_recall(
        emb, threshold=0.99, dim=32, sample_frac=0.5).collect()}
    assert {m: tuple(r) for m, r in samp.items()} == \
        {m: tuple(r) for m, r in samp2.items()}


def test_embedding_bucket_stats(spark):
    """Histogram invariants: sum(n_vecs) == corpus size; bucket count
    consistency; identical vectors share a bucket."""
    import random
    from packages_sgml_spark.spark.similarity import (
        embedding_bucket_stats)
    rng = random.Random(3)
    base = [rng.uniform(-1, 1) for _ in range(32)]
    rows = [(i, list(base)) for i in range(10)] + \
        [(100 + i, [rng.uniform(-1, 1) for _ in range(32)])
         for i in range(50)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    hist = embedding_bucket_stats(emb, dim=32).collect()
    assert sum(r.n_vecs for r in hist) == 60
    assert sum(r.bucket_size * r.n_buckets for r in hist) == 60
    assert max(r.bucket_size for r in hist) >= 10   # the planted clump


def test_emb_matrix_null_length_rule():
    """The one NULL/length rule of the similarity kernel: a row is
    valid iff it is non-NULL, of the scored length and free of NULL
    elements; invalid rows decode to zeros.  Sliced arrays too."""
    import pyarrow as pa
    from packages_sgml_spark.spark.similarity import _emb_matrix
    arr = pa.array([[9.0, 9.0], [1.0, 2.0], None, [1.0, None],
                    [3.0, 4.0, 5.0], [6.0, 7.0], []],
                   type=pa.list_(pa.float64())).slice(1)
    E, valid = _emb_matrix(arr, 2)
    assert valid.tolist() == [True, False, False, False, True, False]
    assert E.tolist() == [[1.0, 2.0], [0.0, 0.0], [0.0, 0.0],
                          [0.0, 0.0], [6.0, 7.0], [0.0, 0.0]]
    E3, valid3 = _emb_matrix(arr, 3)
    assert valid3.tolist() == [False, False, False, True, False, False]
    assert E3[3].tolist() == [3.0, 4.0, 5.0]
    E, valid = _emb_matrix(arr.slice(4, 1), 2)
    assert valid.tolist() == [True] and E.tolist() == [[6.0, 7.0]]
    assert _emb_matrix(arr.slice(0, 0), 2)[0].shape == (0, 2)


def test_similarity_float_input_matches_cast(spark):
    """The embeddings table's own array<float> column goes through
    every numpy pass as is: the LSH near-dup pairs, the semantic
    dedup keep and the bucket histogram equal their results on the
    array<double> cast (regression: the LSH signature pass passed the
    float column through under an array<double> schema and the JVM
    failed reading it)."""
    from packages_sgml_spark.spark import similarity as S
    raw = spark.read.parquet(SF + "/embeddings.parquet")
    assert raw.schema["embedding"].dataType.simpleString() == \
        "array<float>"
    cast = raw.withColumn("embedding",
                          F.col("embedding").cast("array<double>"))

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for f in (lambda e: S.embedding_near_dups(e, threshold=0.2,
                                              use_lsh=True),
              lambda e: S.semdedup_keep(e, threshold=0.2),
              S.embedding_bucket_stats):
        want = rows(f(cast))
        assert want and rows(f(raw)) == want


def _ref_cos(a, b):
    """The zip_with rule: cos is NULL unless both vectors are
    non-NULL, NULL-element free and of the same length."""
    import math
    if a is None or b is None or len(a) != len(b) or \
            None in a or None in b:
        return None
    d = sum(x * y for x, y in zip(a, b))
    return round(d / (math.sqrt(sum(x * x for x in a)) *
                      math.sqrt(sum(y * y for y in b))), 6)


def test_knn_null_and_ragged_queries(spark):
    """A NULL-embedding query keeps its k rows (cos NULL, ranked by
    n_id) instead of being dropped; a ragged query scores NULL
    against every other length instead of raising, and a real cos
    against a corpus row of its own length.  knn_lsh puts invalid
    vectors in bucket 0 and ranks the same way inside the bucket."""
    import random
    from packages_sgml_spark.spark import similarity as S
    rng = random.Random(17)
    vecs = {0: None, 1: [rng.uniform(-1, 1) for _ in range(5)],
            20: [rng.uniform(-1, 1) for _ in range(5)],
            21: [0.5, None] + [0.25] * 6}
    vecs.update({i: [rng.uniform(-1, 1) for _ in range(8)]
                 for i in range(2, 16)})
    emb = spark.createDataFrame(sorted(vecs.items()),
                                "vec_id long, embedding array<double>")
    planes = S.hyperplane_values(8, 1)

    def bucket(v):
        if v is None or len(v) != 8 or None in v:
            return 0
        return sum(1 << h for h, p in enumerate(planes)
                   if sum(x * y for x, y in zip(v, p)) >= 0)

    def expect(qs, k, same_bucket):
        out = {}
        for q in qs:
            cand = [(n, _ref_cos(vecs[q], v)) for n, v in vecs.items()
                    if n != q and (not same_bucket or
                                   bucket(v) == bucket(vecs[q]))]
            cand.sort(key=lambda t: (t[1] is None, -(t[1] or 0), t[0]))
            out[q] = cand[:k]
        return out

    def got(df):
        out = {}
        for r in sorted(df.collect(), key=lambda r: (r.q_id, r.rank)):
            out.setdefault(r.q_id, []).append((r.n_id, r.cos))
        return out

    def same(g, e):
        assert set(g) == set(e), (g, e)
        for q in e:
            assert [n for n, _ in g[q]] == [n for n, _ in e[q]], q
            for (_, c), (_, ce) in zip(g[q], e[q]):
                assert (c is None) == (ce is None), (q, c, ce)
                assert c is None or abs(c - ce) < 2e-6, (q, c, ce)

    qs = [0, 1, 2, 21]
    e = expect(qs, 4, False)
    assert all(c is None for _, c in e[0]) and \
        [n for n, _ in e[0]] == [1, 2, 3, 4]
    assert e[1][0][0] == 20 and e[1][0][1] is not None
    same(got(S.knn_bruteforce(emb, qs, k=4)), e)
    same(got(S.knn_lsh(emb, qs, dim=8, k=4, n_planes=1)),
         expect(qs, 4, True))


def test_embedding_near_dups_blocked_hot_bucket(spark):
    """Hot buckets are scored in blocks of BLOCK rows: with one plane
    every bucket holds more than one block, and the LSH pairs equal
    the exact all-pairs result restricted to same-bucket pairs, cos
    values included."""
    import random
    from packages_sgml_spark.spark import similarity as S
    rng = random.Random(23)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)])
            for i in range(2600)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    bucket = dict(S.lsh_signature(emb, 16, 1)
                  .select("vec_id", "bucket").collect())
    sizes = [sum(1 for b in bucket.values() if b == x) for x in (0, 1)]
    assert min(sizes) > S.BLOCK, sizes
    exact = {(r.vec_a, r.vec_b): r.cos for r in
             S.embedding_near_dups(emb, threshold=0.7).collect()}
    lsh = {(r.vec_a, r.vec_b): r.cos for r in
           S.embedding_near_dups(emb, threshold=0.7, use_lsh=True,
                                 dim=16, n_planes=1).collect()}
    want = {p: c for p, c in exact.items()
            if bucket[p[0]] == bucket[p[1]]}
    assert len(want) > 1000
    assert lsh == want


@pytest.mark.parametrize("n_planes", [6, 8])
def test_lsh_signature_matches_duckdb(spark, n_planes):
    """The LSH reference: the numpy signature's buckets equal the
    DuckDB oracle's SQL sign sums (oracles._lsh_bucket_expr) on every
    sf0.001 vector, the array<float> column read as is."""
    import duckdb
    from packages_sgml_spark.spark.oracles import _lsh_bucket_expr
    from packages_sgml_spark.spark.similarity import lsh_signature
    path = SF + "/embeddings.parquet"
    got = dict(lsh_signature(spark.read.parquet(path), 64, n_planes)
               .select("vec_id", "bucket").collect())
    want = dict(duckdb.connect().execute(
        "SELECT vec_id, %s FROM (SELECT vec_id, CAST(embedding AS "
        "DOUBLE[]) AS emb FROM read_parquet('%s'))"
        % (_lsh_bucket_expr("emb", 64, n_planes), path)).fetchall())
    assert len(got) == 500 and got == want
    assert len(set(got.values())) > 1


def test_extract_survives_poison_documents(spark):
    """r5: adversarial binaries through the FULL Spark extract path —
    random bytes, bogus UTF-16, lone-surrogate char refs (&#xD800;),
    CESU-8-style ED-xx-xx sequences, 3000-deep nesting, entity
    storms, NUL prefixes.  Every row must come back classified; a
    single surrogate leaking into text_extracted used to kill the
    whole Arrow task (safe_chr now clamps surrogates to U+FFFD)."""
    import random
    rng = random.Random(31337)
    rows = []
    for i in range(60):
        r = rng.random()
        if r < 0.2:
            payload = bytes(rng.randrange(256)
                            for _ in range(rng.randrange(0, 300)))
        elif r < 0.35:
            payload = b"\xff\xfe" + bytes(rng.randrange(256)
                                          for _ in range(101))
        elif r < 0.5:
            payload = b"<div>" * 3000 + b"deep"
        elif r < 0.65:
            payload = b"<p>" + b"&#xD800;&#xDF4D;" * 50
        elif r < 0.8:
            payload = b"<![CDATA[" + bytes(rng.randrange(256)
                                           for _ in range(150)) + \
                b"<p>\xed\xbd\x8d tail"
        else:
            payload = b"\x00" * 50 + b"<p>nul prefix"
        rows.append(("garbage://%d" % i, bytearray(payload)))
    pages = spark.createDataFrame(rows, "url string, html binary")
    from packages_sgml_spark.spark.queries import ensure_workers
    from packages_sgml_spark.spark.extract import extract
    ensure_workers(spark)
    for nodes in (False, True):
        out = extract(pages, dialect="html5", nodes=nodes)
        assert out.count() == 60
        # and the strings actually are valid unicode scalar values
        for row in out.select("text_extracted").collect():
            if row.text_extracted is not None:
                row.text_extracted.encode("utf-8")


def test_extract_nodes_rows_matches_explode(spark):
    """r5: the columnar flat-node-row extraction must equal
    explode_nodes(extract(nodes=True)) row for row, including attrs
    maps, spans and absent-row semantics for failed docs."""
    from packages_sgml_spark.spark.pages import docs_as_pages
    from packages_sgml_spark.spark.extract import (
        MAX_HTML_BYTES, extract, extract_nodes_rows)
    from packages_sgml_spark.spark.nodes import explode_nodes

    docs = spark.read.parquet(SF + "/documents.parquet").limit(60)
    pages = docs_as_pages(docs, links=True)
    # plus guard rows
    extra = spark.createDataFrame(
        [("u-empty", b""), ("u-null", None),
         ("u-big", b"x" * (MAX_HTML_BYTES + 1)),
         ("u-soup", b"<zzz><p>a<p>b &#x42; <a href=q>l</a>")],
        "url string, html binary")
    pages = pages.select("url", "html").unionByName(extra)

    def key(r):
        return (r.url, r.node_id, r.parent_id, r.ord, r.kind, r.name,
                tuple(sorted((r.attrs or {}).items())), r.text,
                r.subtree_end, r.start_pos, r.end_pos)

    want = sorted(map(key, explode_nodes(
        extract(pages, dialect="html5", nodes=True)).collect()))
    got = sorted(map(key, extract_nodes_rows(
        pages, dialect="html5").collect()))
    assert got == want and len(got) > 500


def test_synthetic_pages_unique_links_deterministic(spark):
    """The unique-links bench corpus (r6): every <a href> distinct
    within and across documents, deterministic across builds, and the
    extract path parses it identically to a driver-local parse."""
    from pyspark.sql import functions as F
    from packages_sgml_spark.spark.pages import synthetic_pages
    a = synthetic_pages(spark, 50, scale=2, unique_links=True)
    b = synthetic_pages(spark, 50, scale=2, unique_links=True)
    ra = sorted((r.url, bytes(r.html)) for r in a.collect())
    rb = sorted((r.url, bytes(r.html)) for r in b.collect())
    assert ra == rb
    import re
    hrefs = []
    for _u, html in ra:
        hrefs.extend(re.findall(rb'href="([^"]+)"', html))
    assert len(hrefs) == len(set(hrefs)) > 100   # all distinct
    # extract parity: Spark worker vs driver-local parse
    import pandas as pd
    from packages_sgml_spark.spark.extract import (extract,
                                                   extract_batch_iter)
    from packages_sgml_spark.spark.queries import ensure_workers
    ensure_workers(spark)
    got = {r.url: r.text_extracted for r in
           extract(a, dialect="html5", nodes=False).collect()}
    local = pd.DataFrame(ra[:10], columns=["url", "html"])
    want = {}
    for pdf in extract_batch_iter(iter([local]), "html5", False, False):
        want.update(zip(pdf["url"], pdf["text_extracted"]))
    assert len(want) == 10
    for u, _html in ra[:10]:
        assert got[u] == want[u], u
