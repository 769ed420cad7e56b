"""Corpus-hygiene operators for training-data pipelines: benchmark
contamination detection, within-document repetition statistics
(Gopher/MassiveText-style quality rules), and PII scrubbing.

All pure Spark SQL (JVM, whole-stage codegen — zero Python in the hot
path) with exact DuckDB oracles in spark/oracles.py.

Scale design:
- contamination: the benchmark side is tiny by construction (eval
  sets); its n-gram table broadcast-joins against the corpus n-gram
  explode — one scan of the corpus, no corpus-side shuffle besides
  the per-doc count aggregate on doc_id (the natural key, no skew).
- repetition: entirely per-row higher-order functions — a narrow map.
- pii_scrub: regexp functions per row — a narrow map.
"""

from pyspark.sql import DataFrame, functions as F

from .dedup import norm_words, word_ngram_arr

CONTAM_N = 5          # words per contamination shingle
BENCH_MOD = 97        # doc_id % BENCH_MOD == 0 -> benchmark member

# n-gram construction shares dedup.word_ngram_arr (linear zip_with
# over a MATERIALIZED words column — see its docstring for the
# quadratic captured-lambda trap the r4 soak exposed)


def contamination(docs: DataFrame, n=CONTAM_N,
                  bench_mod=BENCH_MOD) -> DataFrame:
    """Flag training documents sharing any word n-gram with a
    benchmark set (decontamination pass).  The benchmark here is the
    deterministic doc_id % bench_mod == 0 subset — self-contained for
    the driver tables; swap in an eval-set table in production.

    Output: (doc_id, n_contaminated, contaminated) for EVERY
    non-benchmark doc — docs too short to form a single n-gram are
    reported with n_contaminated=0 (clean), not silently omitted, so
    consumers can join the result back onto the corpus without an
    absent-means-clean convention.

    Building the frame runs a Spark job: the benchmark n-gram set is
    a localCheckpoint(eager=True) snapshot of `docs` at call time."""
    from .util import spread
    docs = spread(docs, "doc_id")

    def grams_of(df, outer=False):
        # outer=True keeps gram-less (short) docs as one NULL-gram row
        # instead of dropping them — same single corpus scan, no extra
        # universe join (a NULL gram matches no benchmark gram, so the
        # doc aggregates to n_contaminated = 0)
        ex = F.explode_outer if outer else F.explode
        wd = df.select("doc_id",
                       norm_words(F.col("text")).alias("w"))
        return wd.select(
            "doc_id",
            ex(F.array_distinct(word_ngram_arr(F.col("w"), n)))
            .alias("gram"))

    # benchmark n-gram set: computed ONCE and materialized (it is
    # tiny — an eval set), so the main plan is a SINGLE corpus scan
    # joined against broadcast literals instead of the doubled
    # scan+shingle subtree a naive self-referencing grams frame
    # produces (the round-1 minhash bug class)
    bench = (grams_of(docs.filter(F.col("doc_id") % bench_mod == 0))
             .select(F.col("gram").alias("bgram")).distinct()
             .localCheckpoint(eager=True))
    train = grams_of(docs.filter(F.col("doc_id") % bench_mod != 0),
                     outer=True)
    hits = (train.join(F.broadcast(bench),
                       train.gram == bench.bgram, "left")
            .groupBy("doc_id")
            .agg(F.count(F.col("bgram")).alias("n_hits")))
    return hits.select(
        "doc_id",
        F.col("n_hits").cast("bigint").alias("n_contaminated"),
        (F.col("n_hits") > 0).cast("int").alias("contaminated"))


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Within-document repetition fractions (quality-filter features
    in the Gopher/MassiveText family), entirely per-row:

    - dup_word_frac:  1 - distinct_words / words
    - dup_line_frac:  1 - distinct_lines / lines   (split on \\n)
    - dup_3gram_frac: 1 - distinct word-3-grams / word-3-grams

    Empty docs report zeros."""
    from .util import spread
    docs = spread(docs, "doc_id")
    wd = docs.select(
        "doc_id",
        norm_words(F.col("text")).alias("w"),
        F.split(F.col("text"), "\n").alias("lines"))
    words = F.col("w")
    grams = word_ngram_arr(words, 3)

    def dup_frac(arr):
        n = F.size(arr)
        return F.when(n > 0, F.round(
            1.0 - F.size(F.array_distinct(arr)) / n, 6)) \
            .otherwise(F.lit(0.0))

    return wd.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_words"),
        dup_frac(words).alias("dup_word_frac"),
        dup_frac(F.col("lines")).alias("dup_line_frac"),
        dup_frac(grams).alias("dup_3gram_frac"))


# PII patterns — deliberately conservative and identical across
# engines (Java regex in Spark, RE2 in DuckDB: the subset below —
# classes, bounded repeats, \b, leftmost-first alternation — behaves
# the same in both).
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = ("\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b")
# international +CC forms, US (NNN) NNN-NNNN, and dashed/dotted
# NNN-NNN-NNNN / NNN.NNN.NNNN (word-bounded so digit runs inside
# longer numbers never match); bare space-separated digit triples are
# deliberately excluded (false-positive magnet on numeric prose)
PHONE_RE = ("\\+[0-9]{1,3}[- ][0-9]{3,4}[- ][0-9]{3,6}"
            "|\\([0-9]{3}\\) ?[0-9]{3}[-. ][0-9]{4}"
            "|\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b")


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Redact emails, IPv4 addresses and international phone numbers;
    report per-doc counts.  Redaction is sequential (email, then ip,
    then phone) and each count is computed on the text as it stood
    BEFORE that stage — so every count equals the number of tokens
    that stage inserted, even when patterns overlap (e.g. a phone-like
    prefix consumed by an email match is not double-counted).  The
    oracle applies the identical staging."""
    from .util import spread
    docs = spread(docs, "doc_id")
    t = F.col("text")
    # column-API regexp functions (not F.expr): SQL string literals
    # would re-process the pattern's backslash escapes
    after_email = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, IPV4_RE, "<IP>")
    scrubbed = F.regexp_replace(after_ip, PHONE_RE, "<PHONE>")
    n_email = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    n_ip = F.size(F.regexp_extract_all(after_email, F.lit(IPV4_RE),
                                       F.lit(0)))
    n_phone = F.size(F.regexp_extract_all(after_ip, F.lit(PHONE_RE),
                                          F.lit(0)))
    return docs.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        n_email.cast("bigint").alias("n_emails"),
        n_ip.cast("bigint").alias("n_ips"),
        n_phone.cast("bigint").alias("n_phones"))


def url_filter(docs: DataFrame, blocked_hosts=(),
               blocked_suffixes=(), blocked_path_rx=None,
               url_col="url") -> DataFrame:
    """URL-level corpus gate (the C4/CCNet blocklist stage): exact
    host match, domain-suffix match (``example.com`` blocks
    ``a.b.example.com`` but NOT ``notexample.com``), and an optional
    path regex.  Emits every input row with (url_keep, url_block_
    reason) — policy lists are caller inputs, the mechanism is the
    operator.  Suffix matching tests each host's suffix chain:
    small lists (<= 2000) ride a literal array + arrays_overlap —
    one narrow projection, zero shuffle; larger lists broadcast
    ONLY the blocklist against the exploded chain and join the
    resulting blocked-host set back with a plain key join (the
    host set is data-derived and unbounded — one popular blocked
    suffix is millions of distinct hosts — so it is never
    broadcast)."""
    u = F.col(url_col)
    host = F.lower(F.parse_url(u, F.lit("HOST")))
    path = F.parse_url(u, F.lit("PATH"))
    base = docs.withColumn("_host", host)
    # suffix chain: a.b.example.com -> [a.b.example.com,
    # b.example.com, example.com, com]
    parts = F.split(F.col("_host"), r"\.")
    chain = F.transform(
        F.sequence(F.lit(0), F.size(parts) - 1),
        lambda i: F.array_join(F.slice(parts, i + 1,
                                       F.size(parts)), "."))
    spark = docs.sparkSession
    blocked = set(h.lower() for h in blocked_hosts)
    suffixes = set(s.lower().lstrip(".") for s in blocked_suffixes)
    if len(suffixes) <= 2000:
        # small policy list: a literal array + arrays_overlap — one
        # narrow projection, no second scan, nothing broadcast
        if suffixes:
            lits = F.array(*[F.lit(s) for s in sorted(suffixes)])
            out = base.withColumn("_sfx_hit",
                                  F.arrays_overlap(chain, lits))
        else:
            out = base.withColumn("_sfx_hit", F.lit(False))
    else:
        # large blocklist: broadcast ONLY the blocklist (bounded);
        # the data-derived blocked-host set is joined back with a
        # plain key join — broadcasting it would be unbounded
        # (one popular blocked suffix = millions of distinct hosts)
        sfx = spark.createDataFrame(
            [(s,) for s in sorted(suffixes)], "sfx string")
        hit = (base.select("_host", F.explode(chain).alias("sfx"))
               .join(F.broadcast(sfx), "sfx")
               .select(F.col("_host").alias("_bh")).distinct())
        out = (base.join(hit, base["_host"] == hit["_bh"], "left")
               .withColumn("_sfx_hit", F.col("_bh").isNotNull())
               .drop("_bh"))
    reason = F.when(F.col("_host").isin(*sorted(blocked))
                    if blocked else F.lit(False), "host")
    reason = reason.when(F.col("_sfx_hit"), "suffix")
    if blocked_path_rx:
        reason = reason.when(path.rlike(blocked_path_rx), "path")
    return (out.withColumn("url_block_reason", reason)
            .withColumn("url_keep",
                        F.col("url_block_reason").isNull()
                        .cast("int"))
            .drop("_host", "_sfx_hit"))


def c4_line_keep(l):
    """C4 per-line keep predicate (shared by c4_clean and the fused
    quality_features sidecar): terminal punctuation, >= 5 words, no
    'javascript' mention.  The 5-word test is an anchored rlike —
    a word then four MANDATORY whitespace-separated words,
    short-circuiting at the fifth — instead of a per-line
    split+filter+size; value-identical (n whitespace-split words >= 5
    ⟺ the pattern matches: every \\s+ separator is required, so
    \\S+ runs cannot split one word into several) and ~2x faster on a
    1.9 GB corpus (r8 A/B).  The first cut of this pattern used
    `(?:\\s*\\S+){5}` — WRONG: the optional separator let any line
    with >= 5 non-space characters match; caught by the sf0.001
    oracle gate, pinned by a planted test."""
    r = F.rtrim(l)
    term = (F.endswith(r, F.lit(".")) | F.endswith(r, F.lit("!"))
            | F.endswith(r, F.lit("?"))
            | F.endswith(r, F.lit('"')))
    return (term & l.rlike(r"^\s*\S+(?:\s+\S+){4}") &
            ~F.contains(F.lower(l), F.lit("javascript")))


def c4_clean(docs: DataFrame) -> DataFrame:
    """C4-style line/page cleaning (Raffel et al. 2020 §2.2, the
    public rule set behind the C4 corpus): keep only lines that end
    in a terminal punctuation mark (. ! ? closing quote), have >= 5
    words, and don't mention javascript; then flag pages for removal
    when fewer than 3 lines survive, or the page contains "lorem
    ipsum" or a curly brace.  (The original's bad-words list is a
    policy input, not an algorithm — callers compose their own via an
    extra contains() filter.)  Output keeps EVERY input doc
    (absent-means-clean is banned here like in
    strip_boilerplate_lines): (doc_id, n_lines, n_kept, text_clean,
    c4_keep).  Pure Spark SQL over the line array — one narrow
    projection, zero shuffle, so the filter costs one scan at
    100 TB."""
    from .util import spread
    docs = spread(docs, "doc_id")
    text = F.coalesce(F.col("text"), F.lit(""))
    line_keep = c4_line_keep

    # \r?\n: CRLF corpora must not leave a trailing \r on every
    # line (rtrim strips spaces only; the terminal-punct test would
    # reject 100% of such docs)
    step = docs.select(
        "doc_id", text.alias("text"),
        F.split(text, "\r?\n").alias("lines"),
        F.filter(F.split(text, "\r?\n"), line_keep).alias("kept"))
    keep = ((F.size("kept") >= 3) &
            ~F.contains(F.lower("text"), F.lit("lorem ipsum")) &
            ~F.contains("text", F.lit("{")))
    return step.select(
        "doc_id",
        F.size("lines").alias("n_lines"),
        F.size("kept").alias("n_kept"),
        F.array_join("kept", "\n").alias("text_clean"),
        keep.cast("int").alias("c4_keep"))


def doc_lines(docs: DataFrame, id_col="doc_id",
              text_col="text") -> DataFrame:
    """One row per text line: (id, line_no, line) via
    posexplode(split) — JVM-side, document order preserved in
    line_no."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("line_no", "line"))


def boilerplate_lines(docs: DataFrame, min_docs=5, id_col="doc_id",
                      text_col="text") -> DataFrame:
    """Cross-document repeated lines (CCNet-style boilerplate mining:
    a line occurring verbatim in >= min_docs distinct documents is
    site furniture — cookie banners, 'All rights reserved', nav
    labels — not content).  Key is the TRIMMED line string itself:
    collision-free and oracle-exact; at petabyte scale swap the join
    key for xxhash64(line) to shrink the shuffle width (values
    byte-compared on the survivors).  One explode + one two-phase
    aggregate; uniform keys (no single line dominates after the
    distinct-per-doc cut).  Output: (line, n_docs, n_total)."""
    lines = doc_lines(docs, id_col, text_col).select(
        "doc_id", F.trim("line").alias("line"))
    lines = lines.where(F.col("line") != "")
    return (lines.groupBy("line")
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.count("*").alias("n_total"))
            .where(F.col("n_docs") >= min_docs))


def strip_boilerplate_lines(docs: DataFrame, min_docs=5,
                            id_col="doc_id", text_col="text",
                            mined: DataFrame = None) -> DataFrame:
    """Remove mined boilerplate lines from every document:
    (doc_id, text_clean, n_lines_removed).  Line rows anti-join the
    mined set (broadcast when the caller mined with a high
    min_docs — the mined frame is the small side; Catalyst/AQE
    decides), then documents reassemble with an order-preserving
    array_sort — the named_subtree_text pattern, no window.  Every
    input document appears in the output (absent-means-clean is
    banned in this module): a fully-boilerplate document comes back
    with text_clean='' and its removal count."""
    if mined is None:
        mined = boilerplate_lines(docs, min_docs, id_col, text_col)
    bl = mined.select(F.col("line").alias("bl_line"))
    lines = doc_lines(docs, id_col, text_col)
    keyed = lines.withColumn("line_key", F.trim("line"))
    kept = keyed.join(bl, keyed["line_key"] == bl["bl_line"],
                      "left_anti")
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.concat_ws(
                   "\n", F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("line_no", "line"))),
                       lambda s: s["line"])).alias("text_clean"),
                    F.count("*").alias("n_kept")))
    n_lines = (lines.groupBy("doc_id")
               .agg(F.count("*").alias("n_lines")))
    return (docs.select(F.col(id_col).alias("doc_id"))
            .join(rebuilt, "doc_id", "left")
            .join(n_lines, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("text_clean", F.lit("")).alias(
                        "text_clean"),
                    (F.coalesce("n_lines", F.lit(0)) -
                     F.coalesce("n_kept", F.lit(0)))
                    .cast("int").alias("n_lines_removed")))


def messy_urls(docs: DataFrame) -> DataFrame:
    """Deterministic crawl-style messy URLs from doc_id (mixed-case
    scheme/host, default port, duplicate-alias paths, tracking params,
    fragments) — SQL-reconstructable for the oracle."""
    d = F.col("doc_id")
    url = F.concat(
        F.lit("HTTPS://Host"), (d % 50).cast("string"),
        F.lit(".Example.ORG:443/path/"), (d % 200).cast("string"),
        F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 2 == 0,
               F.concat(F.lit("?id="), (d % 7).cast("string"),
                        F.lit("&utm_source=feed"))).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("#frag")).otherwise(F.lit("")))
    return docs.select("doc_id", url.alias("url"))


def canonicalize_url(col):
    """Crawl URL canonicalization, pure string/regex ops (identical
    semantics in Spark and DuckDB):
    1. lowercase the scheme://host[:port] prefix
    2. drop the scheme's default port from the PREFIX only
       (https :443, http :80) — anchored so a path/query containing
       ':443/' (e.g. ?next=https://x:443/y) is never touched, and a
       slash-less 'https://h:443' still loses its port
    3. drop the fragment
    4. drop utm_* tracking parameters (trailing '&utm_...' form)
    5. drop a terminal '/' and a '/' directly before the query
       string ('/path/?q' == '/path?q' — without this, slash aliases
       with query strings never collapse)"""
    c = col
    prefix = F.lower(F.regexp_extract(c, "^[^/]+//[^/]+", 0))
    prefix = F.regexp_replace(prefix, "^(https://[^:/]+):443$", "$1")
    prefix = F.regexp_replace(prefix, "^(http://[^:/]+):80$", "$1")
    rest = F.regexp_replace(c, "^[^/]+//[^/]+", "")
    c = F.concat(prefix, rest)
    c = F.regexp_replace(c, "#.*$", "")
    c = F.regexp_replace(c, "&utm_[^&#]*", "")
    c = F.regexp_replace(c, "/\\?", "?")
    c = F.regexp_replace(c, "/$", "")
    return c


def url_dedup(docs: DataFrame) -> DataFrame:
    """Canonical-URL dedup over the messy synthetic URL table:
    (url_canon, n_aliases, keep_doc_id) — one hash-groupBy shuffle on
    the canonical key (uniform by construction)."""
    from .util import spread
    urls = messy_urls(spread(docs, "doc_id"))
    canon = urls.select(
        "doc_id", canonicalize_url(F.col("url")).alias("url_canon"))
    return (canon.groupBy("url_canon")
            .agg(F.count("*").alias("n_aliases"),
                 F.min("doc_id").alias("keep_doc_id"))
            .select("url_canon",
                    F.col("n_aliases").cast("bigint").alias("n_aliases"),
                    "keep_doc_id"))


def dup_ngram_frac(docs: DataFrame, n: int = 8) -> DataFrame:
    """CROSS-document duplicated-n-gram fraction per doc — the
    exact-substring-dedup signal of the Lee et al. "Deduplicating
    Training Data" / RefinedWeb family, complementing
    repetition_stats (which is within-document only):

    - n_grams:        the doc's word-n-gram positions (norm_words)
    - dup_ngram_frac: fraction of those positions whose n-gram also
                      occurs in at least one OTHER document

    Docs with fewer than n words report n_grams=0, frac 0.0.

    Scale shape (explode ONCE — a groupBy+semi-join draft recomputed
    the whole explode three times, no ReusedExchange even with
    broadcasts off):
    - grams keyed by xxhash64: the shuffles carry 8 bytes per
      position, not the 8-word string (a collision mis-tagging a
      position is ~#distinct_grams/2^64);
    - partial-agg to (h, doc_id, c) — hot n-grams collapse map-side;
    - "appears in another doc" = lag/lead over (h ORDER BY doc_id):
      offset frames STREAM (OffsetWindowFunctionFrame, constant
      memory) — no count-over-partition buffering; the known caveat
      is the sort task for a mega-hot gram's h partition (boilerplate
      sentences), which spills but stragglers — acceptable because
      the partial agg already collapsed it to one row per doc;
    - one per-doc aggregation, then a left join onto the doc base.
    The DuckDB oracle groups by the gram STRING — value-identical
    modulo the collision odds."""
    from pyspark.sql import Window
    from .util import spread
    docs = spread(docs, "doc_id")
    wd = docs.select("doc_id", norm_words(F.col("text")).alias("w"))
    grams = wd.select(
        "doc_id", word_ngram_arr(F.col("w"), n).alias("g"))
    cnts = (grams.select("doc_id",
                         F.explode("g").alias("gram"))
            .select("doc_id", F.xxhash64("gram").alias("h"))
            .groupBy("h", "doc_id").agg(F.count("*").alias("c")))
    w = Window.partitionBy("h").orderBy("doc_id")
    tagged = cnts.withColumn(
        "dup", F.lag("doc_id", 1).over(w).isNotNull() |
               F.lead("doc_id", 1).over(w).isNotNull())
    per_doc = tagged.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.sum(F.when(F.col("dup"), F.col("c")).otherwise(0))
         .alias("n_dup"))
    base = docs.select("doc_id")
    return (base.join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("n_grams"), F.lit(0))
                 .cast("bigint").alias("n_grams"),
                F.round(F.coalesce(F.col("n_dup"), F.lit(0)) /
                        F.greatest(F.coalesce(F.col("n_grams"),
                                              F.lit(0)), F.lit(1)),
                        6).alias("dup_ngram_frac")))


def stratified_sample(docs: DataFrame, k: int = 10,
                      strata_col: str = "source") -> DataFrame:
    """Deterministic per-stratum quota sampling for data mixing:
    within each stratum (default: source/host) order docs by
    md5(doc_id) — a stable pseudo-random permutation both engines
    compute identically — and keep the first k, emitting
    (doc_id, source, sample_rank).  Re-running on the same corpus
    reproduces the same sample bit-for-bit (no rand()).

    Scale shape: one shuffle on the stratum key, then a per-stratum
    sort for row_number.  Strata are host-sized, so a mega-host sorts
    in one task; for tiny quotas over pathological hosts, pre-filter
    with a hash threshold first (keep only md5 < bound chosen so
    ~4k/host survive) — that Bernoulli pre-cut is stateless and
    shuffle-free, and it is the documented escape hatch rather than
    the default because it makes the quota approximate near the
    boundary."""
    from pyspark.sql import Window
    from .util import spread
    docs = spread(docs, "doc_id")
    key = F.md5(F.encode(F.col("doc_id").cast("string"), "utf-8"))
    w = Window.partitionBy(strata_col).orderBy(key.asc(),
                                               F.col("doc_id").asc())
    return (docs.select("doc_id", strata_col)
            .withColumn("sample_rank",
                        F.row_number().over(w).cast("int"))
            .filter(F.col("sample_rank") <= k)
            .select("doc_id", strata_col, "sample_rank"))


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Corpus-unigram negative-log-likelihood per doc — the CCNet /
    perplexity-style fluency filter reduced to its SQL-expressible
    core: score each doc by the mean -ln p(word) under the corpus's
    own unigram distribution (high = rare-word soup, low = natural
    prose).  (doc_id, n_words, mean_nll); 0-word docs score 0.

    Determinism contract: the per-doc sum of ln(count) terms is a
    FOLD OVER A SORTED ARRAY (sort_array + F.aggregate), not a float
    SUM aggregate — float addition is not associative, so a plain
    sum would depend on shuffle-fetch order and could never be
    hash-exact against the oracle (which folds a list_sort the same
    way).  mean_nll = (n*ln(total) - fold(ln c)) / n, rounded.

    Scale shape: one explode, one groupBy(word) for frequencies, one
    scalar total (exact integer sum, broadcast via crossJoin), one
    word-keyed join back, one groupBy(doc_id) collecting the doc's
    ln terms — docs are bounded, so the collected arrays are too.
    The word join carries an explicit shuffle_hash hint on the freq
    side: left unhinted, Catalyst's static size estimate of the
    exploded positions (garbage for a generate) chose
    BroadcastHashJoin BuildLeft — broadcasting the CORPUS-sized
    position stream and probing with the vocab (observed on the
    200k-doc probe: 25M-row broadcast, 24.8 s).  A broadcast of the
    freq side instead would be wrong at web scale too (distinct
    tokens grow into the billions); shuffle-hash builds the
    per-partition vocab slice and streams the skewed positions, with
    AQE skew-split as the hot-word guard."""
    from .util import spread
    docs = spread(docs, "doc_id")
    w = norm_words(F.col("text"))
    words = docs.select(
        "doc_id", F.filter(w, lambda x: x != "").alias("w"))
    pos = words.select("doc_id", F.explode("w").alias("word"))
    freq = pos.groupBy("word").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").cast("bigint").alias("t"))
    per = (pos.join(freq.hint("shuffle_hash"), "word")
           .groupBy("doc_id")
           .agg(F.count("*").cast("bigint").alias("n_words"),
                F.sort_array(F.collect_list(
                    F.log(F.col("c").cast("double")))).alias("lns")))
    scored = per.crossJoin(total).select(
        "doc_id", "n_words",
        (F.col("n_words") * F.log(F.col("t").cast("double")) -
         F.aggregate("lns", F.lit(0.0),
                     lambda acc, x: acc + x)).alias("nll"))
    base = docs.select("doc_id")
    return (base.join(scored, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("n_words"), F.lit(0))
                 .cast("bigint").alias("n_words"),
                F.round(F.coalesce(
                    F.col("nll") /
                    F.greatest(F.col("n_words"), F.lit(1)),
                    F.lit(0.0)), 6).alias("mean_nll")))


def corpus_keep(docs: DataFrame) -> DataFrame:
    """The shipped corpus decision — the whole filter stack a
    curator actually runs, composed in ONE Spark plan: near-dup
    dedup (MinHash-LSH + components, dedup_keep), Gopher document
    rules, C4 page rules, and language ID (quality_features), each
    surfaced as its own bit plus the final AND:

      (doc_id, keep_dedup, gopher_pass, c4_keep, lang_pred, keep)

    keep = keep_dedup AND gopher_pass AND c4_keep; lang_pred rides
    along unfiltered (which languages to ship is a mixing decision,
    not a quality one).

    Scale shape: both legs are per-doc rows keyed by doc_id, so the
    final join co-partitions on the same key the dedup leg already
    shuffled on; the quality leg is the fused single-projection
    quality_features (zero shuffle of its own).  Nothing here adds
    a pass over the corpus that the component operators didn't
    already make.

    Runs Spark jobs while the DataFrame is being built: the dedup
    leg's localCheckpoint(eager=True) materializations and its
    per-round take(1) convergence tests (dedup_keep) execute at call
    time, so a caller timing only the final write misses most of the
    cost: over a 1200-doc corpus in a fresh 4-core session, building
    this frame took ~14 s and writing it ~1.5 s."""
    from .dedup import dedup_keep
    from .textops import quality_features
    dk = dedup_keep(docs).select(
        "doc_id", F.col("keep").alias("keep_dedup"))
    qf = quality_features(docs).select(
        "doc_id", "gopher_pass", "c4_keep", "lang_pred")
    j = dk.join(qf, "doc_id")
    return j.select(
        "doc_id", "keep_dedup", "gopher_pass", "c4_keep",
        "lang_pred",
        ((F.col("keep_dedup") == 1) & (F.col("gopher_pass") == 1) &
         (F.col("c4_keep") == 1)).cast("int").alias("keep"))


def dedup_spans(docs: DataFrame, n: int = 8) -> DataFrame:
    """Exact-substring dedup REMOVAL — the materialized counterpart
    of dup_ngram_frac (which only measures): every word covered by a
    word-n-gram that also occurs in at least one OTHER document is
    cut, and the surviving words are reassembled in document order
    (the Lee et al. "Deduplicating Training Data" / RefinedWeb
    exact-substring pass, remove-all-copies variant — the paper
    notes keeping one copy vs none is a wash, and remove-all needs
    no global occurrence ordering):

      (doc_id, n_words, n_kept, kept_text)

    MATCHED over whitespace-normalized lowercase words (norm_words —
    the dedup family's shared tokenization, so the dup-gram set here
    is EXACTLY the set dup_ngram_frac counts) while kept_text EMITS
    the original-case tokens (whitespace is reflowed to single
    spaces, nothing else is mutated — a case-folded training corpus
    was the session-5 review catch).  NULL text behaves as empty
    (documented: this op is a per-doc transformation — unlike
    dedup_keep no cross-doc evidence is merged, so the NULL/empty
    distinction has nothing to poison; both emit n_words=0, '').

    Scale shape (all linear, nothing quadratic in doc length):
    - ONE gram explode with position; grams ride as xxhash64 (8-byte
      shuffle rows; a collision mis-cutting a span is
      ~#distinct_grams/2^64, same odds dup_ngram_frac documents);
    - dup-gram set = the dup_ngram_frac aggregation ((h, doc_id)
      partial-agg, then rows-per-h >= 2);
    - position tagging is a left-semi join of positions against the
      dup set, shuffle_hash-hinted: positions come straight out of a
      Generate, whose static size estimate is garbage — unhinted,
      Catalyst broadcasts the POSITION STREAM (the §17/r8 rule);
    - coverage = a RANGE window over dup STARTS: word j is covered
      iff any dup start lies in [j-n+1, j], so after LEFT-joining
      the words-with-index stream against the starts (shuffle_hash
      — both sides are generates), max(start_flag) OVER (PARTITION
      BY doc ORDER BY j RANGE n-1 PRECEDING) tags every word in one
      streaming pass.  An explode-each-start-to-its-n-indexes +
      distinct + join draft was A/B'd at the 100%-dup probe corpus:
      the xn covered-index expansion (190M rows there) made it
      1.7x SLOWER (48-53 s vs 29-30 s) with identical values —
      the window shape ships;
    - reassembly folds in ONE aggregate — n_words, n_kept and
      kept_text in the same pass (collect_list skips the covered
      rows' NULL structs); the per-doc collect is bounded by doc
      length, the same bound every per-doc collect in this module
      documents;
    - the final corpus x per-doc join is merge-hinted: BOTH sides
      are corpus-sized (per carries kept_text for nearly every doc),
      and Catalyst's static estimate under the aggregate-over-
      generate chain is garbage — unhinted it chose to BROADCAST
      the kept-text side (caught in this op's plan audit; the doc
      base is a doc_id-only pruned scan, so sort-merge is the plan
      that survives 100 TB).
    A per-doc HOF formulation (filter words by any-start-in-window)
    was rejected at design time: it is O(words x dup_starts) per doc
    — quadratic on exactly the boilerplate-heavy docs this operator
    exists to clean."""
    from .util import spread
    docs = spread(docs, "doc_id")
    txt = F.coalesce(F.col("text"), F.lit(""))
    empty = F.length(F.trim(txt)) == 0
    none_arr = F.array().cast("array<string>")
    wcol = F.when(empty, none_arr).otherwise(norm_words(txt))
    # original-case tokens: split(trim, \s+) produces EXACTLY the
    # same token boundaries as norm_words (which only lowercases and
    # collapses the same whitespace runs before splitting), so the
    # two arrays align index-for-index — matching stays
    # case-insensitive while the emitted text keeps its case
    # (a session-5 review catch: kept_text used to come back
    # lowercased, silently case-folding the shipped corpus)
    ocol = F.when(empty, none_arr) \
            .otherwise(F.split(F.trim(txt), r"\s+"))
    wd = docs.select("doc_id", wcol.alias("w"), ocol.alias("ow"))
    grams = wd.select("doc_id",
                      word_ngram_arr(F.col("w"), n).alias("g"))
    pos = (grams.select("doc_id",
                        F.posexplode("g").alias("p0", "gram"))
           .select("doc_id", (F.col("p0") + 1).alias("pos"),
                   F.xxhash64("gram").alias("h")))
    cnts = pos.groupBy("h", "doc_id").agg(F.count("*").alias("c"))
    dup_h = (cnts.groupBy("h").agg(F.count("*").alias("nd"))
             .filter(F.col("nd") >= 2).select("h"))
    dpos = (pos.join(dup_h.hint("shuffle_hash"), "h", "left_semi")
            .select("doc_id", F.col("pos").alias("j"),
                    F.lit(1).alias("s")))
    widx = (wd.select("doc_id",
                      F.posexplode("ow").alias("j0", "word"))
            .select("doc_id", (F.col("j0") + 1).alias("j"), "word"))
    tagged = widx.join(dpos.hint("shuffle_hash"),
                       ["doc_id", "j"], "left")
    from pyspark.sql import Window
    win = (Window.partitionBy("doc_id").orderBy("j")
           .rangeBetween(-(n - 1), 0))
    tagged = tagged.withColumn("cv", F.max("s").over(win))
    keep_struct = F.when(F.col("cv").isNull(),
                         F.struct("j", "word"))
    per = tagged.groupBy("doc_id").agg(
        F.count("*").alias("nw"),
        F.sum(F.when(F.col("cv").isNull(), 1).otherwise(0))
         .alias("nk"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(keep_struct)),
                lambda s: s["word"]), " ").alias("kt"))
    base = docs.select("doc_id")
    return (base.join(per.hint("merge"), "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("nw"), F.lit(0)).cast("int")
                     .alias("n_words"),
                    F.coalesce(F.col("nk"), F.lit(0)).cast("int")
                     .alias("n_kept"),
                    F.coalesce(F.col("kt"), F.lit(""))
                     .alias("kept_text")))


def shard_assign(docs: DataFrame, n_shards: int = 8) -> DataFrame:
    """Deterministic corpus shuffle into training shards — the write
    layout a training run actually consumes: every doc mapped to a
    shard and a position inside it,

      (doc_id, shard, shard_pos)

    with shard = md5-bucket of doc_id and shard_pos = rank of the
    doc's md5 inside its shard.  md5(doc_id) is a stable
    pseudo-random permutation BOTH engines compute identically (the
    stratified_sample trick) — re-running reproduces the same
    shuffle bit-for-bit, no rand() anywhere, and the order is
    decorrelated from crawl order (the point of shuffling: adjacent
    crawl docs are near-duplicates and same-host, poison for
    training batches).

    Scale shape: one shuffle on the shard key, one per-shard sort
    for row_number.  Shards are corpus_size / n_shards and the count
    is OURS to choose — at 100 TB you set n_shards so a shard's sort
    fits a task (the knob is the parameter, not a rewrite); md5
    bucketing keeps them uniform (no skew by construction, unlike
    host keys)."""
    from pyspark.sql import Window
    # no spread(): the per-shard window forces its own exchange on
    # the shard key, which both redistributes a pathological source
    # AND is the only shuffle the operator needs — a doc_id spread
    # in front was a second full-corpus shuffle for nothing (plan
    # audit, r8 session 5)
    key = F.md5(F.encode(F.col("doc_id").cast("string"), "utf-8"))
    shard = F.pmod(
        F.conv(F.substring(key, 1, 8), 16, 10).cast("bigint"),
        F.lit(n_shards)).cast("int")
    w = Window.partitionBy("shard").orderBy(F.col("key").asc(),
                                            F.col("doc_id").asc())
    return (docs.select("doc_id", key.alias("key"),
                        shard.alias("shard"))
            .withColumn("shard_pos",
                        F.row_number().over(w).cast("int"))
            .select("doc_id", "shard", "shard_pos"))
