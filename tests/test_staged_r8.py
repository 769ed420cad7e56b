"""The r8 crawl-pipeline registry keys: their oracle gate (the exact
check_correctness compare at sf0.001, kept under this test's ids;
tests/test_registry.py gates the rest of the registry) and the
planted-truth check of the rows-only fix_text key."""

import pytest

SF_DIR = "/root/testdata/sf0.001"

GATED = ("outlinks", "host_graph", "pagerank_hosts", "boilerplate_lines",
         "strip_boilerplate", "robots_allowed", "gopher_quality",
         "anchor_texts", "c4_clean", "page_meta", "feed_entries",
         "markdown", "jsonld", "url_filter")


@pytest.mark.parametrize("name", GATED)
def test_staged_query_matches_oracle(oracle_gate, name):
    oracle_gate(name)


def test_registry_frozen_at_r8_count():
    """The r8 crawl-surface block is 15 keys (the 14 gated ones plus
    the rows-only fix_text), all live in the one registry table."""
    import __spark_entry__ as E
    r8 = set(GATED) | {"fix_text"}
    assert len(GATED) == len(set(GATED)) == 14 and len(r8) == 15
    assert r8 <= set(E.queries())


def test_staged_keys_registered_exactly():
    """Every r8 key is live with its oracle wired (the driver's
    function is the registry's, behind the conf step); fix_text is
    rows-only, registered with no oracle, like compression_ratio."""
    import __spark_entry__ as E
    from packages_sgml_spark.spark.oracles import ORACLES
    from packages_sgml_spark.spark.queries import QUERIES
    live_q = E.queries()
    live_o = E.oracle_sql()
    for k in GATED + ("fix_text",):
        assert live_q[k].__wrapped__ is QUERIES[k], k
    for k in GATED:
        assert live_o[k] == ORACLES[k], k
    assert "fix_text" in live_q and "fix_text" not in live_o
    assert set(live_q) - set(live_o) == {"fix_text", "compression_ratio"}


def test_staged_fix_text_inverse(spark):
    """fix_text has no SQL oracle; its gate is the planted inverse
    property — repairing deterministically mis-decoded text recovers
    the original (NFC-composed) byte-for-byte."""
    import unicodedata
    from packages_sgml_spark.spark.queries import QUERIES
    got = {r.doc_id: r for r in
           QUERIES["fix_text"](spark, SF_DIR).collect()}
    import duckdb as d
    orig = dict(d.sql(
        "SELECT doc_id, text FROM read_parquet('%s/documents.parquet')"
        % SF_DIR).fetchall())
    assert set(got) == set(orig) and got
    for doc_id, text in orig.items():
        r = got[doc_id]
        want = text + " — café № %d…" % doc_id
        assert r.text_fixed == unicodedata.normalize("NFC", want)
        assert r.n_passes == 1 and r.changed == 1
