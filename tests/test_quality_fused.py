"""quality_features (the r8 fused crawl-job quality sidecar) must be
value-identical to the 3-join composition of the registered queries
it replaces — same rows, same column names, exact value equality
(the fused projection reuses the registered queries' expression
builders, so any drift is a refactor bug).

quality_features_arrow (the Python kernel core.quality in one
mapInArrow, used by the crawl job) must in turn be value-identical
to the JVM quality_features, and so must the kernel called on the
driver: the planted rows below trip every way a naive Python port
differs from Spark's string semantics."""

import math

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _planted(spark):
    """Edge-heavy corpus: NULL text, empty text, whitespace-only,
    CRLF lines, repeated stopwords (replace-count greedy semantics),
    bullets, ellipses, braces, lorem ipsum, javascript lines,
    multi-space runs, non-ASCII words — plus the Spark-semantics
    traps of PLANTED_SEMANTICS (rows 13-19)."""
    rows = [
        (1, None),
        (2, ""),
        (3, "   \t  \n  "),
        (4, "The the THE the the dog. And of la le el der und.\r\n"
            "Second line with five words here.\r\n{ code }"),
        (5, "• bullet one\n• bullet two\nplain line ends properly "
            "with the and of words."),
        (6, "lorem ipsum dolor sit amet. This line has plenty of "
            "words to keep.\nAnother good line with many words in "
            "it."),
        (7, "word " * 200 + "the of and to in."),
        (8, "ellipsis line one...\nellipsis line two…\n"
            "A normal sentence with the usual words."),
        (9, "javascript required to view. This page needs "
            "javascript enabled for all of the content."),
        (10, "la  le   el    der\n\n\nund de det "
             "καλημέρα мир 你好. the."),
        (11, "de de de de de en en het o e dos."),
        (12, "x. " * 60),
    ] + [(doc_id, text) for doc_id, (text, _) in
         sorted(PLANTED_SEMANTICS.items())]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


_CR_LINES = ("First line ends with a full stop.\r"
             "Second line also ends with one.\r"
             "Third line ends with dots...  \r")

# doc_id -> (text, {feature: JVM value}) for rows where a naive
# Python port of quality_features goes wrong; the comment names the
# naive result
PLANTED_SEMANTICS = {
    # ltrim strips ' ' only: lstrip() would count 2 bullets (0.666667)
    13: ("\t• x\n\t• y\nplain", {"bullet_frac": 0.0}),
    # rtrim strips ' ' only: rstrip() would give 0.666667
    14: ("dots...\t\ndots...\nx", {"ellipsis_frac": 0.333333}),
    # Java \s is ASCII: str.split() gives 5 words
    15: ("a\u00a0b c\u2028d e", {"n_words": 3}),
    # \x0b is Java \s, \x1c is not: str.split() gives 4 words
    16: ("a\x0bb c\x1cd", {"n_words": 3}),
    # 1/128 = 0.0078125 rounds HALF_UP: round() gives 0.007812
    17: (" ".join(["w"] * 127) + " #x", {"n_words": 128,
                                         "symbol_ratio": 0.007813}),
    # a lone \r ends no line (one line, no ellipsis, no C4 keep);
    # splitlines() would see 3 lines
    18: (_CR_LINES, {"ellipsis_frac": 0.0, "n_kept": 0}),
    # full-Unicode lower (İ -> i + U+0307, final sigma), per-word
    # stopwords, non-overlapping marker counts
    19: ("İstanbul THE WITH ΣΟΣ the of",
         {"n_words": 6, "n_stop_hits": 3, "lang_pred": "en",
          "lang_score": 3}),
}


def _documents(spark):
    return (spark.read.parquet(SF_DIR + "/documents.parquet")
            .select("doc_id", "text"))


def _composed(docs):
    from packages_sgml_spark.spark.datafilters import c4_clean
    from packages_sgml_spark.spark.textops import (gopher_quality,
                                                   lang_id_stopwords)
    return (gopher_quality(docs)
            .join(c4_clean(docs).select("doc_id", "n_kept",
                                        "c4_keep"), "doc_id")
            .join(lang_id_stopwords(docs), "doc_id"))


def _assert_equal(fused_df, comp_df):
    assert fused_df.columns == [
        "doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "bullet_frac", "ellipsis_frac", "alpha_word_frac",
        "n_stop_hits", "gopher_pass", "n_kept", "c4_keep",
        "lang_pred", "lang_score"]
    fused = {r["doc_id"]: r.asDict() for r in fused_df.collect()}
    comp = {r["doc_id"]: r.asDict() for r in comp_df.collect()}
    assert set(fused) == set(comp)
    for doc_id, f in fused.items():
        c = comp[doc_id]
        for k, v in f.items():
            cv = c[k]
            if isinstance(v, float) and isinstance(cv, float):
                assert (math.isclose(v, cv, rel_tol=0, abs_tol=0)
                        or (math.isnan(v) and math.isnan(cv))), \
                    (doc_id, k, v, cv)
            else:
                assert v == cv, (doc_id, k, v, cv)


def test_fused_equals_composition_planted(spark):
    from packages_sgml_spark.spark.textops import quality_features
    docs = _planted(spark)
    _assert_equal(quality_features(docs), _composed(docs))


def test_fused_equals_composition_documents(spark):
    from packages_sgml_spark.spark.textops import quality_features
    docs = _documents(spark)
    _assert_equal(quality_features(docs), _composed(docs))


@pytest.mark.parametrize("corpus", [_planted, _documents],
                         ids=["planted", "documents"])
def test_arrow_and_driver_kernel_equal_fused(spark, corpus):
    """quality_features_arrow gives the JVM form's schema and rows,
    and so does core.quality.features called on the driver (no
    Python worker)."""
    from packages_sgml_spark.core.quality import FIELDS, features
    from packages_sgml_spark.spark.textops import (
        quality_features, quality_features_arrow)
    docs = corpus(spark)
    arrow, jvm = quality_features_arrow(docs), quality_features(docs)
    assert arrow.schema == jvm.schema
    _assert_equal(arrow, jvm)
    texts = dict(docs.select("doc_id", "text").collect())
    rows = jvm.collect()
    assert len(rows) == len(texts)
    for r in rows:
        want = tuple(r[name] for name, _ in FIELDS)
        assert features(texts[r["doc_id"]]) == want, r["doc_id"]


def test_kernel_pins_spark_semantics():
    """The JVM values of the planted traps, checked against the
    kernel without Spark; each trap really trips the naive port."""
    from packages_sgml_spark.core.quality import FIELDS, features, round6
    names = [name for name, _ in FIELDS]
    for doc_id, (text, want) in PLANTED_SEMANTICS.items():
        got = dict(zip(names, features(text)))
        for k, v in want.items():
            assert got[k] == v, (doc_id, k, got[k], v)
    assert len(PLANTED_SEMANTICS[15][0].split()) == 5
    assert len(PLANTED_SEMANTICS[16][0].split()) == 4
    assert round(1 / 128, 6) == 0.007812 and round6(1 / 128) == 0.007813
    assert len(_CR_LINES.splitlines()) == 3
    # NULL text: NULL lang, "" everywhere else
    assert features(None) == features("")[:-2] + (None, None)


@pytest.mark.parametrize("form", ["quality_features",
                                  "quality_features_arrow"])
def test_fused_plan_shape(spark, form):
    """The whole point: one scan, zero shuffles after the spread —
    no join operator anywhere in either plan.  The kernel's plan is
    one Python map node, with no Generate."""
    from packages_sgml_spark.spark import textops
    plan = getattr(textops, form)(_documents(spark))._jdf \
        .queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    if form == "quality_features_arrow":
        assert plan.count("MapInArrow") == 1, plan
        assert "Generate" not in plan, plan
