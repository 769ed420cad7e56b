"""Text-analysis operators for training-data pipelines over the
`documents` table: language-ID, quality scoring, token counting,
fingerprinting.

All are pure Spark SQL expressions (JVM-side, whole-stage codegen;
no Python in the hot path) and each has an exact ANSI-SQL oracle in
__spark_entry__.oracle_sql().  The one exception among the SQL-able
operators is quality_features_arrow, the same features as
quality_features computed by the Python kernel core.quality in one
mapInArrow.  The crawl job computes the features in its parse pass
(warc.warc_text_quality) and uses quality_features_arrow only
to side text rows of earlier launches that have no quality row.
(fix_text and compression_ratio are pandas UDFs too, because codec
and zlib work has no Spark builtin.)"""

from pyspark.sql import DataFrame, functions as F

from ..core.quality import (GOPHER_BULLETS, GOPHER_STOPWORDS,
                            LANG_MARKERS)

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is",
             "on", "for", "with", "as", "at", "by")


def _count_occurrences(col, pat):
    """occurrences of literal `pat` in col, SQL-expressible:
    (len(x) - len(replace(x, pat, ''))) / len(pat)."""
    return ((F.length(col) - F.length(F.replace(col, F.lit(pat),
                                                F.lit("")))) /
            len(pat)).cast("int")


def _count_occurrences_rx(col, pat):
    """Same count as _count_occurrences (left-to-right non-overlapping
    occurrences of literal `pat`), via regexp_count on the escaped
    literal: no per-count copy of the document string gets allocated.
    r8 A/B on a 1.9 GB corpus: the 18 lang-id marker counts 10.7 s ->
    6.4 s, identical value hash.  (Replace-based stays faster for the
    1-3 char n_symbols counts, so both helpers live on.)"""
    import re as _re
    return F.regexp_count(col, F.lit(_re.escape(pat))).cast("int")


def _lang_cols(padded):
    """(lang_pred, lang_score) Column pair over ' '+lower(text)+' ' —
    non-overlapping marker-occurrence counts (replace-count
    semantics, computed via regexp_count), ties broken by
    language-code order.  Shared by lang_id_stopwords and the fused
    quality_features so the two can never drift.  (A token-greedy
    HOF-aggregate rewrite with identical semantics was A/B'd 4.6x
    SLOWER than the scans — HigherOrderFunction lambdas don't
    codegen; see NOTES-ROUND8.)

    NULL text -> (NULL, NULL), matching the oracle's CASE-chain SQL
    semantics: with every score NULL, array_max's struct compare
    used to fall through the NULL rank to the lang FIELD and return
    'pt' (max language code) on the Spark side only — a divergence
    no NULL-free gate corpus can see (r8 session-4 review)."""
    scores = []
    for lang, pats in sorted(LANG_MARKERS.items()):
        score = None
        for p in pats:
            c = _count_occurrences_rx(padded, p)
            score = c if score is None else (score + c)
        scores.append(F.struct(score.alias("score"),
                               F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*[
        F.struct((s["score"] * 100 -
                  F.lit(i)).alias("rank"), s["lang"].alias("lang"))
        for i, s in enumerate(scores)]))
    lang_score = F.greatest(*[s["score"] for s in scores])
    return [F.when(lang_score.isNotNull(), best["lang"])
             .alias("lang_pred"),
            lang_score.alias("lang_score")]


def lang_id_stopwords(docs: DataFrame) -> DataFrame:
    """Best-scoring language by marker-token occurrence counts.
    Ties break by language code order (deterministic)."""
    from .util import spread
    docs = spread(docs, "doc_id")
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    return docs.select("doc_id", *_lang_cols(padded))


def _quality_base_cols(text):
    """(n_chars, n_words, n_punct, stop_hits) Columns — the per-doc
    measures of the registered `quality` oracle's b/s stages, shared
    by quality_score and host_quality so the per-doc and per-host
    formulas can never drift (r8 session-4 review: the two carried
    hand-maintained copies)."""
    n_chars = F.length(text)
    words = F.split(F.trim(text), r"\s+")
    n_words = F.when(F.length(F.trim(text)) == 0, F.lit(0)) \
               .otherwise(F.size(words))
    n_punct = F.length(text) - F.length(
        F.regexp_replace(text, r"[.,!?;:]", ""))
    lower = F.lower(text)
    stop_hits = None
    for w in STOPWORDS:
        c = _count_occurrences_rx(
            F.concat(F.lit(" "), lower, F.lit(" ")), " %s " % w)
        stop_hits = c if stop_hits is None else (stop_hits + c)
    return n_chars, n_words, n_punct, stop_hits


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality features: length, punctuation density,
    stopword ratio, mean word length."""
    from .util import spread
    docs = spread(docs, "doc_id")
    n_chars, n_words, n_punct, stop_hits = _quality_base_cols(
        F.col("text"))
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        n_punct.alias("n_punct"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
         .alias("punct_ratio"),
        F.round(stop_hits / F.greatest(n_words, F.lit(1)), 6)
         .alias("stopword_ratio"),
        F.round(n_chars / F.greatest(n_words, F.lit(1)), 6)
         .alias("chars_per_word"),
    )


def gopher_quality(docs: DataFrame) -> DataFrame:
    """Gopher-rule quality signals + overall pass flag — the standard
    LLM-corpus document filter (Rae et al. 2021, appendix A1.1):
    word count in [50, 100000]; mean word length in [3, 10];
    symbol-to-word ratio (#, ...) <= 0.1; <= 90% of lines starting
    with a bullet char; <= 30% of lines ending in an ellipsis;
    >= 80% of words containing an alphabetic char; >= 2 of the 8
    required stopwords present.  Pure Spark SQL (JVM codegen, one
    narrow projection, zero shuffle) so at 100 TB the filter costs
    exactly one scan.  Char-membership tests are used instead of
    regexes wherever possible so the DuckDB oracle mirrors the
    semantics without regex-dialect drift."""
    from .util import spread
    docs = spread(docs, "doc_id")
    text = F.coalesce(F.col("text"), F.lit(""))
    step = docs.select("doc_id", *_gopher_step_cols(text))
    sig = step.select("doc_id", *_gopher_final_cols())
    return sig.withColumn("gopher_pass", _gopher_pass().cast("int"))


def _gopher_step_cols(text):
    """Stage-1 Columns for the Gopher rules: the shared array splits
    (materialized once so the stage-2 expressions reference them by
    name) + whole-text symbol counts."""
    return [
        F.filter(F.split(F.trim(text), r"\s+"),
                 lambda w: w != "").alias("words"),
        F.split(text, "\r?\n").alias("lines"),   # CRLF-safe
        (_count_occurrences(text, "#") +
         _count_occurrences(text, "...") +
         _count_occurrences(text, "…")).alias("n_symbols"),
    ]


def _gopher_final_cols():
    """Stage-2 Gopher signal Columns over the stage-1 names.  Two r8
    rewrites, both value-identical to the r7 formulas (the DuckDB
    oracle is unchanged and stays hash-green): mean word length via
    length(array_join) instead of a per-element aggregate lambda, and
    the 8 stopword hits via array_contains on lowered words instead
    of a whole-text regexp_replace(\\s+) rebuild + 8 instr scans.
    Rejected by A/B on a 1.9 GB corpus (see NOTES-ROUND8): per-word
    translate() for the alpha test (1.5x slower than rlike), per-word
    8x whole-text rlike stop hits (2x slower), and a fully split-free
    regex core with lookaround token patterns (7.6x slower -- java
    regex backtracks at every position)."""
    words, lines = F.col("words"), F.col("lines")
    n_words = F.size(words)
    wden = F.greatest(n_words, F.lit(1)).cast("double")
    lden = F.greatest(F.size(lines), F.lit(1)).cast("double")
    mean_wl = F.length(F.array_join(words, "")) / wden
    alpha_frac = (F.size(F.filter(
        words, lambda w: w.rlike("[A-Za-z]"))) / wden)
    bullets = F.array(*[F.lit(b) for b in GOPHER_BULLETS])
    bullet_frac = (F.size(F.filter(
        lines, lambda l: F.array_contains(
            bullets, F.substring(F.ltrim(l), 1, 1)))) / lden)
    ellipsis_frac = (F.size(F.filter(
        lines, lambda l: F.endswith(F.rtrim(l), F.lit("...")) |
        F.endswith(F.rtrim(l), F.lit("…")))) / lden)
    lwords = F.transform(words, F.lower)
    stop_hits = None
    for w in GOPHER_STOPWORDS:
        hit = F.array_contains(lwords, w).cast("int")
        stop_hits = hit if stop_hits is None else (stop_hits + hit)
    return [
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(F.col("n_symbols") / wden, 6).alias("symbol_ratio"),
        F.round(bullet_frac, 6).alias("bullet_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_frac"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.alias("n_stop_hits"),
    ]


def _gopher_pass():
    """Overall Gopher keep flag over the named signal columns."""
    return (F.col("n_words").between(50, 100000) &
            F.col("mean_word_len").between(3.0, 10.0) &
            (F.col("symbol_ratio") <= 0.1) &
            (F.col("bullet_frac") <= 0.9) &
            (F.col("ellipsis_frac") <= 0.3) &
            (F.col("alpha_word_frac") >= 0.8) &
            (F.col("n_stop_hits") >= 2))


def quality_features(docs: DataFrame) -> DataFrame:
    """Fused quality sidecar for the crawl pipeline: Gopher signals +
    C4 line stats + stopword lang-id computed in ONE narrow
    projection over one scan of the text — no joins, the word/line
    splits shared across the three rule families.  Output columns are
    exactly the crawl job's former 3-join composition
    (gopher_quality ⋈ c4_clean[n_kept, c4_keep] ⋈
    lang_id_stopwords), value-identical by construction: every
    expression comes from the same builders the registered queries
    use (pinned by tests/test_quality_fused.py).  c4's text_clean is
    deliberately NOT produced — the sidecar wants flags, not a second
    copy of the corpus; use c4_clean for the cleaned text itself.

    Callers: curate's corpus_keep, streaming.stream_quality and the
    registered `quality_features` key use this JVM form; it is also the
    reference the Python kernel is tested against.  The crawl job
    computes the same features with the Python kernel in its parse
    pass, and repairs orphaned text rows with quality_features_arrow.
    Curate stays on the JVM because it starts no Python workers:
    switching it to the kernel raised its peak RSS from 3030 to
    ~3620 MB (+19.5%) for no wall-time gain."""
    from .datafilters import c4_line_keep
    from .util import spread
    docs = spread(docs, "doc_id")
    text = F.coalesce(F.col("text"), F.lit(""))
    step = docs.select(
        "doc_id",
        *_gopher_step_cols(text),
        # lang-id evidence string: raw (non-coalesced) text, exactly
        # like lang_id_stopwords
        F.concat(F.lit(" "), F.lower(F.col("text")),
                 F.lit(" ")).alias("lpad"),
        # c4 page-level vetoes need the whole text; evaluate here so
        # stage 2 never touches the full string again
        (~F.contains(F.lower(text), F.lit("lorem ipsum")) &
         ~F.contains(text, F.lit("{"))).alias("c4_page_ok"))
    sig = step.select(
        "doc_id",
        *_gopher_final_cols(),
        F.size(F.filter(F.col("lines"), c4_line_keep))
         .alias("n_kept"),
        "c4_page_ok",
        *_lang_cols(F.col("lpad")))
    return sig.select(
        "doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "bullet_frac", "ellipsis_frac", "alpha_word_frac",
        "n_stop_hits",
        _gopher_pass().cast("int").alias("gopher_pass"),
        "n_kept",
        ((F.col("n_kept") >= 3) & F.col("c4_page_ok"))
        .cast("int").alias("c4_keep"),
        "lang_pred", "lang_score")


def quality_features_arrow(docs: DataFrame) -> DataFrame:
    """quality_features computed by the per-document Python kernel
    core.quality.features in ONE mapInArrow: same spread, same 13
    columns, names, types and values (tests/test_quality_fused.py,
    the quality_features oracle gate and the crawl-job parity test pin it to
    the JVM form).

    Callers: jobs/crawl_job.py only, to repair orphans: text rows of
    earlier launches that have no quality row (a crash between the
    text and quality commits).  The crawl's own pages get the same
    kernel in the parse pass (warc.warc_text_quality), so their
    text crosses the Arrow boundary once.  Curate's corpus_keep,
    stream_quality and the registered key keep quality_features: the
    JVM-only curate job would have to start Python workers for it,
    which raised its peak RSS from 3030 to ~3620 MB (+19.5%) for no
    wall-time gain."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from ..core.quality import FIELDS, features
    from .pageloop import arrow_batch
    from .util import spread
    docs = spread(docs, "doc_id")
    key = docs.schema["doc_id"].dataType.simpleString()
    fields = ["%s %s" % field for field in FIELDS]
    arrow_fields = to_arrow_schema(StructType.fromDDL(", ".join(fields)))

    def batches(it):
        # the features built from buffers (no pandas), the key passed
        # through
        for b in it:
            if b.num_rows:
                yield arrow_batch(
                    [features(t) for t in b.column(1).to_pylist()],
                    arrow_fields).add_column(0, "doc_id", b.column(0))

    return docs.select("doc_id", "text").mapInArrow(
        batches, ", ".join(["doc_id " + key] + fields))


def fix_text(docs: DataFrame, nfc=True) -> DataFrame:
    """Mojibake repair + Unicode NFC (core/textnorm.py): undoes
    UTF-8-mis-decoded-as-Latin-1/CP1252 text — the most common crawl
    encoding defect — with a deterministic marker-gated round-trip,
    then composes to NFC.  One Arrow-batched pandas UDF (bytes-level
    codec work has no Spark builtin), narrow, zero shuffle;
    idempotent, so re-running a pipeline stage is safe.  Output:
    (doc_id, text_fixed, n_passes, changed)."""
    import pandas as pd
    from .util import spread
    docs = spread(docs, "doc_id")

    @F.pandas_udf("text_fixed string, n_passes int, changed int")
    def _fix(texts: pd.Series) -> pd.DataFrame:
        from ..core.textnorm import normalize_text
        rows = [normalize_text(t if isinstance(t, str) else "",
                               nfc=nfc) for t in texts]
        return pd.DataFrame(rows, columns=["text_fixed", "n_passes",
                                           "changed"])

    out = docs.select("doc_id", _fix("text").alias("o"))
    return out.select("doc_id", "o.text_fixed", "o.n_passes",
                      "o.changed")


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + a BPE-ish subword proxy: tokens of
    letter-runs/digit-runs/single-other obtained by counting regex
    boundaries (SQL-expressible)."""
    from .util import spread
    docs = spread(docs, "doc_id")
    text = F.col("text")
    trimmed = F.trim(text)
    ws_tokens = F.when(F.length(trimmed) == 0, F.lit(0)) \
                 .otherwise(F.size(F.split(trimmed, r"\s+")))
    # subword proxy: count of [A-Za-z]+|[0-9]+|[^A-Za-z0-9\s] matches
    stripped = F.regexp_replace(text, r"[A-Za-z]+|[0-9]+", "#")
    subword = (F.length(stripped) -
               F.length(F.regexp_replace(stripped, r"[^\s]", "")))
    return docs.select(
        "doc_id", ws_tokens.alias("ws_tokens"),
        subword.cast("int").alias("subword_tokens"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of the blank-normalized lowercase
    text (rolling-hash analog, deterministic + oracle-friendly)."""
    from .util import spread
    docs = spread(docs, "doc_id")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select(
        "doc_id", F.md5(F.encode(norm, "utf-8")).alias("fp"))


def rolling_hash(docs: DataFrame, base=31, mod=1000000007) -> DataFrame:
    """Polynomial rolling hash (Rabin-Karp style) over the chars of
    the blank-normalized text — pure SQL fold (F.aggregate), exactly
    reproducible in the DuckDB oracle via list_reduce."""
    from .util import spread
    docs = spread(docs, "doc_id")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    chars = F.filter(F.split(norm, ""), lambda c: c != "")
    codes = F.transform(chars, lambda c: F.ascii(c).cast("long"))
    h = F.aggregate(codes, F.lit(0).cast("long"),
                    lambda acc, x: (acc * base + x) % mod)
    return docs.select("doc_id", h.alias("rhash"))


def compression_ratio(docs: DataFrame) -> DataFrame:
    """zlib compression ratio per document — a standard crawl-quality
    signal (low ratio = repetitive/templated text).  Arrow-batched
    pandas UDF (no per-row Python dispatch); no SQL oracle (zlib is
    not expressible in SQL) -> rows-only check."""
    from .util import spread
    docs = spread(docs, "doc_id")
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def zratio(texts: pd.Series) -> pd.Series:
        import zlib

        def one(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return None
            return round(len(zlib.compress(raw, 6)) / len(raw), 6)

        return texts.map(one)

    return docs.select("doc_id", zratio("text").alias("zratio"))


def doc_chunks(docs: DataFrame, chunk_size: int = 512) -> DataFrame:
    """Fixed-size training-sequence chunking: split each document's
    whitespace tokens into consecutive chunk_size-word windows —
    (doc_id, chunk_id, n_tokens, chunk_text), the shape a
    sequence-packing / pretraining-shard writer consumes.

    Scale shape: a single narrow generate+project stage — no shuffle
    at all (chunk rows stay in their parent doc's partition), so the
    operator is embarrassingly parallel at any corpus size.  The
    words array is materialized once per doc in a prior projection
    (multi-reference keeps CollapseProject from re-running the
    regexp split per chunk row — the word_ngram_arr lesson), and the
    explode carries only (doc_id, words, chunk_id) until the slice
    projects each row down to its own window.

    Empty/whitespace-only docs produce zero chunks (sequence() on a
    0-word doc would emit a DESCENDING [0,-1] range — guarded).
    Edges are stripped of ALL whitespace (F.trim strips only 0x20:
    a '\\n\\t'-only doc survives trim and would chunk to empty
    tokens, and a leading newline would inject an empty first
    word)."""
    from .util import spread
    docs = spread(docs, "doc_id")
    text = F.col("text")
    stripped = F.regexp_replace(text, r"^\s+|\s+$", "")
    words = F.when(F.length(stripped) == 0,
                   F.array().cast("array<string>")) \
             .otherwise(F.split(stripped, r"\s+"))
    wd = docs.select("doc_id", words.alias("w"))
    n = F.size("w")
    idx = F.sequence(
        F.lit(0), (F.ceil(n / F.lit(float(chunk_size)))).cast("int") - 1)
    ch = wd.select(
        "doc_id", "w",
        F.explode(F.when(n > 0, idx)
                  .otherwise(F.array().cast("array<int>")))
         .alias("chunk_id"))
    sl = F.slice(F.col("w"), F.col("chunk_id") * chunk_size + 1,
                 chunk_size)
    return ch.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(sl).cast("int").alias("n_tokens"),
        F.concat_ws(" ", sl).alias("chunk_text"))


def host_quality(docs: DataFrame, short_words: int = 30) -> DataFrame:
    """Host-level (per-source) quality rollup — the domain-filter
    signal a crawl curator thresholds before ever looking at single
    pages: doc count, total/mean words, corpus-level punctuation and
    stopword densities, and the fraction of short documents.

    Exactness at scale: every aggregate is an INTEGER sum (chars,
    words, punct, stop-hits, short-doc count) with ONE division at
    the end — float partial sums would make the result depend on
    partition combine order, which the driver's hash-exact oracle
    compare (and any reproducible-pipeline contract) cannot
    tolerate.  One hash-shuffle on source with map-side partial
    aggregation; source cardinality is tiny relative to docs, so the
    reduce side is trivially sized."""
    from .util import spread
    docs = spread(docs, "doc_id")
    n_chars, n_words, n_punct, stop_hits = _quality_base_cols(
        F.col("text"))
    per = docs.select(
        "source", n_chars.alias("nc"), n_words.alias("nw"),
        n_punct.alias("np"), stop_hits.alias("sh"))
    g = per.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("nw").alias("sw"),
        F.sum("nc").alias("sc"),
        F.sum("np").alias("sp"),
        F.sum("sh").alias("ss"),
        F.sum(F.when(F.col("nw") < short_words, 1).otherwise(0))
         .alias("nshort"))
    return g.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("sw").cast("bigint").alias("n_words"),
        F.round(F.col("sw") / F.col("n_docs"), 6)
         .alias("mean_doc_words"),
        F.round(F.col("sp") / F.greatest(F.col("sc"), F.lit(1)), 6)
         .alias("punct_ratio"),
        F.round(F.col("ss") / F.greatest(F.col("sw"), F.lit(1)), 6)
         .alias("stopword_ratio"),
        F.round(F.col("nshort") / F.col("n_docs"), 6)
         .alias("short_doc_frac"))


def pack_sequences(docs: DataFrame, budget: int = 2048) -> DataFrame:
    """Concatenate-and-cut sequence packing — where each document's
    tokens land when a pretraining shard writer concatenates a
    source's docs (doc_id order) into one token stream and cuts it
    every `budget` tokens:

      seq_id     = which packed sequence the doc STARTS in
      seq_offset = token offset of the doc inside that sequence
      (docs may straddle a cut — exactly how real packers split a
      document across two training sequences; the (seq_id,
      seq_offset, n_tokens) triple is the span record a loader needs)

    Scale shape: one running-sum window per source — Spark executes
    ROWS UNBOUNDED PRECEDING frames streaming (no buffering), so the
    cost is the per-source sort; sources are host-sized partitions,
    the same skew note as stratified_sample."""
    from pyspark.sql import Window
    from .util import spread
    docs = spread(docs, "doc_id")
    text = F.col("text")
    trimmed = F.trim(text)
    n_tokens = F.when(F.length(trimmed) == 0, F.lit(0)) \
                .otherwise(F.size(F.split(trimmed, r"\s+")))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    per = docs.select("doc_id", "source",
                      n_tokens.cast("bigint").alias("n_tokens"))
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return per.select(
        "doc_id", "source", "n_tokens",
        F.floor(before / budget).cast("bigint").alias("seq_id"),
        (before % budget).cast("bigint").alias("seq_offset"))


def vocab_ngrams(docs: DataFrame, n: int = 2, top_k: int = 50) -> DataFrame:
    """Corpus-level top-k word-n-gram counts — the merge-candidate
    sweep a BPE-ish vocab induction runs each round, and a corpus
    census (boilerplate phrases, contamination hot spots) on its own:
    (gram, n_occurrences, n_docs), ordered deterministically by
    count desc then gram so the top-k CUT is reproducible — ties at
    the boundary never depend on partition order.

    Scale shape: explode once over the lowercased word stream, one
    hash-shuffle groupBy (count + distinct-doc count collapse
    map-side), then a global top-k which Spark executes as
    TakeOrderedAndProject — per-partition heaps of k, only
    k x partitions rows ever leave the executors."""
    from .dedup import norm_words, word_ngram_arr
    from .util import spread
    docs = spread(docs, "doc_id")
    wd = docs.select("doc_id", norm_words(F.col("text")).alias("w"))
    grams = wd.select("doc_id",
                      F.explode(word_ngram_arr(F.col("w"), n))
                       .alias("gram"))
    counts = grams.groupBy("gram").agg(
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    return (counts
            .orderBy(F.col("n_occurrences").desc(), F.col("gram"))
            .limit(top_k))


def tfidf_top_terms(docs: DataFrame, top_k: int = 5) -> DataFrame:
    """Characteristic terms per source — tf-idf with sources as the
    "documents" of the idf: tf = occurrences of the word on the
    host, df = number of hosts using it, score = tf * ln(N/df).
    (source, term, tf, df, score) for the top_k terms per source,
    ranked (score DESC, term ASC) so the cut is deterministic.

    Scale shape: explode once; groupBy(source, word) — the SAME
    aggregate feeds both tf and (grouped again by word, counting
    rows) df, so the corpus is scanned and shuffled once; df joins
    back word-keyed (AQE-sized: #distinct words rows, not corpus
    rows); top-k per source is a host-partitioned window over the
    (source, word) aggregate — tiny relative to positions.  Scores
    are a single int*ln(int/int) expression per row: no float
    accumulation anywhere, so cross-engine exactness rests only on
    one ln() call, pinned by the gate corpus."""
    from pyspark.sql import Window
    from .dedup import norm_words
    from .util import spread
    docs = spread(docs, "doc_id")
    w = norm_words(F.col("text"))
    pos = (docs.select("source",
                       F.explode(F.filter(w, lambda x: x != ""))
                        .alias("term")))
    tf = pos.groupBy("source", "term").agg(
        F.count("*").cast("bigint").alias("tf"))
    df_ = tf.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"))
    n_sources = docs.select("source").agg(
        F.countDistinct("source").cast("bigint").alias("ns"))
    scored = (tf.join(df_.hint("shuffle_hash"), "term")
              .crossJoin(n_sources)
              .withColumn(
                  "score",
                  F.round(F.col("tf") *
                          F.log(F.col("ns").cast("double") /
                                F.col("df").cast("double")), 6)))
    rank = F.row_number().over(
        Window.partitionBy("source")
        .orderBy(F.col("score").desc(), F.col("term")))
    return (scored.withColumn("rank", rank.cast("int"))
            .filter(F.col("rank") <= top_k)
            .select("source", "term", "tf", "df", "score", "rank"))


def classifier_score(docs: DataFrame, weights: DataFrame,
                     bias: float = 0.0) -> DataFrame:
    """Linear text classifier scoring — the model-based quality
    filter slot of a training pipeline (the fastText-style
    classifiers of CCNet/RefinedWeb/FineWeb, reduced to the part a
    query engine owns: the model is INPUT, the scoring pass is the
    operator).  ``weights`` is a (term, weight) table — a trained
    model's exported unigram weights — and every doc scores

      z     = bias + sum(weight per word OCCURRENCE, OOV = 0)
                     / max(n_words, 1)
      score = round(sigmoid(z), 6)

    Output (doc_id, n_words, n_hits, score); n_hits counts
    in-vocabulary occurrences so consumers can gate on coverage.
    A weights table with a duplicated term resolves to max(weight)
    per term (deterministic; a join against raw duplicates would
    multiply occurrence rows and corrupt all three outputs).

    Determinism contract (the unigram_logprob rules): the weight sum
    is a FOLD OVER A SORTED ARRAY (float SUM aggregates are
    shuffle-order dependent and can never hash-match an oracle);
    sigmoid's exp() is the one cross-engine 1-ulp surface, absorbed
    by the terminal round(., 6) — same accepted risk as logprob's
    ln().

    Scale shape: one explode; the word->weight join carries an
    explicit shuffle_hash hint on the WEIGHTS side (the §17
    generate-stats rule: unhinted, Catalyst's garbage estimate of
    the exploded positions can broadcast the corpus-sized position
    stream; and a web-scale vocab is itself too big to force-
    broadcast — shuffled-hash streams positions against
    per-partition vocab slices, AQE skew-splitting hot words); then
    one per-doc fold, arrays bounded by doc length."""
    from .dedup import norm_words
    from .util import spread
    docs = spread(docs, "doc_id")
    w = F.filter(norm_words(F.coalesce(F.col("text"), F.lit(""))),
                 lambda x: x != "")
    words = docs.select("doc_id", w.alias("w"))
    pos = words.select("doc_id", F.explode("w").alias("term"))
    # duplicate-term guard (review catch): the join computes
    # n_words/n_hits/z AFTER it, so a weights export with a repeated
    # term would silently multiply occurrence rows and shift every
    # score in the corpus.  max() resolves duplicates
    # DETERMINISTICALLY (order-independent, unlike first() or a
    # float sum) and unique terms pass through untouched.
    weights = weights.groupBy("term").agg(
        F.max("weight").alias("weight"))
    hits = (pos.join(weights.hint("shuffle_hash"), "term", "left")
            .groupBy("doc_id")
            .agg(F.count("*").alias("nw"),
                 F.count("weight").alias("nh"),
                 F.sort_array(F.collect_list("weight")).alias("ws")))
    z = (F.lit(bias) +
         F.aggregate("ws", F.lit(0.0), lambda a, x: a + x) /
         F.greatest(F.col("nw"), F.lit(1)))
    scored = hits.select(
        "doc_id", "nw", "nh",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
         .alias("score"))
    base = docs.select("doc_id")
    # merge hint: scored is one row per doc (corpus cardinality) and
    # sits under an aggregate-over-generate chain, so the static
    # estimate is garbage — unhinted, Catalyst broadcast it (the
    # dedup_spans catch, lighter rows, same 10^12-doc OOM class)
    return (base.join(scored.hint("merge"), "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("nw"), F.lit(0))
                     .cast("bigint").alias("n_words"),
                    F.coalesce(F.col("nh"), F.lit(0))
                     .cast("bigint").alias("n_hits"),
                    F.coalesce(F.col("score"), F.round(
                        F.lit(1.0) / (F.lit(1.0) +
                                      F.exp(F.lit(-bias))), 6))
                     .alias("score")))
