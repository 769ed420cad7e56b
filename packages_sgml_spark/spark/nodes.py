"""Node-table query layer: the DataFrame analog of the reference's
xpath library (/root/reference/xpath.pl) over the flattened DOM
produced by extract().

Flattened rows: (url, node_id, parent_id, ord, kind, name, attrs,
text).  All operators are pure DataFrame ops (no UDFs): descendant
axes via self-joins on parent chains are avoided by precomputing the
ancestor path only when needed; the common axes below need only
groupBy/window/filter, which Catalyst pushes down and AQE sizes.
"""

from pyspark.sql import DataFrame, Window, functions as F


def explode_nodes(extracted: DataFrame) -> DataFrame:
    """extract() output -> one row per DOM node."""
    return (extracted
            .select("url", F.explode("nodes").alias("n"))
            .select("url", "n.node_id", "n.parent_id", "n.ord", "n.kind",
                    "n.name", "n.attrs", "n.text", "n.subtree_end",
                    "n.start_pos", "n.end_pos"))


def elements_named(nodes: DataFrame, name) -> DataFrame:
    """//name (descendant-or-self axis over the whole doc ==
    filter on the flattened table; xpath.pl:269-298 `//` semantics)."""
    return nodes.filter((F.col("kind") == "element") &
                        (F.col("name") == name))


def attr(nodes: DataFrame, name, attr_name, alias=None) -> DataFrame:
    """//name/@attr (xpath.pl:462-509)."""
    return (elements_named(nodes, name)
            .select("url", "node_id",
                    F.element_at("attrs", attr_name)
                    .alias(alias or attr_name)))


def child_text(nodes: DataFrame) -> DataFrame:
    """Direct-child text per element: element rows joined to their
    text children, concatenated in document order
    (xpath.pl text-of-node for flat elements)."""
    texts = (nodes.filter(F.col("kind").isin("text", "sdata", "ndata"))
             .select("url", F.col("parent_id").alias("node_id"),
                     "ord", "text"))
    agg = (texts.groupBy("url", "node_id")
           .agg(F.concat_ws(
               "", F.transform(
                   F.array_sort(F.collect_list(F.struct("ord", "text"))),
                   lambda s: s["text"])).alias("text_direct")))
    return agg


def page_meta(nodes: DataFrame) -> DataFrame:
    """HTML head metadata per document — the fields every crawl
    pipeline reads (title, meta description, og:title, canonical
    link, html@lang) — from flattened node rows in one pass.

    Shape: the four attr fields are ONE conditional aggregation over
    element rows (url-partitioned hash agg); the title text is the
    one structural lookup (text children of the first <title>),
    joined url-wise.  Docs that parsed to zero nodes contribute no
    row (same contract as extract()).  Absent fields are NULL."""
    el = nodes.filter(F.col("kind") == "element")
    a = F.col("attrs")
    name = F.col("name")

    def low(field):
        return F.lower(F.coalesce(F.element_at(a, field), F.lit("")))

    def pick(cond, field):
        # first-in-document occurrence (min over (node_id, value)
        # structs), NOT the lexicographically smallest value — pages
        # with duplicate canonical/og tags must resolve like a
        # crawler: first one wins
        v = F.element_at(a, field)
        return F.min(F.when(cond & v.isNotNull(),
                            F.struct(F.col("node_id").alias("n"),
                                     v.alias("v"))))["v"]

    metas = el.groupBy("url").agg(
        pick((name == "meta") & (low("name") == "description"),
             "content").alias("meta_description"),
        pick((name == "meta") & (low("property") == "og:title"),
             "content").alias("og_title"),
        pick((name == "link") & (low("rel") == "canonical"),
             "href").alias("canonical"),
        pick(name == "html", "lang").alias("html_lang"))
    # renamed join keys: titles and texts share nodes' lineage, and
    # unrenamed url would be an ambiguous self-join reference
    titles = el.filter(name == "title").select(
        F.col("url").alias("t_url"),
        F.col("node_id").alias("title_id"))
    texts = (nodes.filter(F.col("kind").isin("text", "sdata", "ndata"))
             .select("url", "parent_id", "ord", "text"))
    ttext = (texts.join(titles,
                        (texts["url"] == titles["t_url"]) &
                        (texts["parent_id"] == titles["title_id"]))
             .select("url", "title_id", "ord", "text"))
    per_title = (ttext.groupBy("url", "title_id")
                 .agg(F.concat_ws("", F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("ord", "text"))),
                     lambda s: s["text"])).alias("t")))
    first_title = (per_title.groupBy("url")
                   .agg(F.min(F.struct("title_id", "t"))["t"]
                        .alias("title")))
    return (metas.join(first_title, "url", "left")
            .select("url", "title", "meta_description", "og_title",
                    "canonical", "html_lang"))


def jsonld(nodes: DataFrame) -> DataFrame:
    """Structured data: <script type="application/ld+json"> blocks
    per page -> (url, block_ord, jsonld, is_valid, schema_type).
    The script body is declared-CDATA, so it arrives as one text
    child; validity and @type come from Spark's JVM-side JSON
    functions (no Python).  One renamed-key self-join + one window —
    url-co-partitioned throughout."""
    el = nodes.filter(F.col("kind") == "element")
    # media type compared before any ';' parameters — real pages ship
    # type="application/ld+json; charset=utf-8" and friends
    mtype = F.lower(F.trim(F.split(
        F.coalesce(F.element_at("attrs", "type"), F.lit("")),
        ";").getItem(0)))
    scripts = (el.filter(
        (F.col("name") == "script") &
        (mtype == "application/ld+json"))
        .select(F.col("url").alias("s_url"),
                F.col("node_id").alias("s_id")))
    texts = (nodes.filter(F.col("kind").isin("text", "sdata", "ndata"))
             .select("url", "parent_id", "ord", "text"))
    body = (texts.join(scripts,
                       (texts["url"] == scripts["s_url"]) &
                       (texts["parent_id"] == scripts["s_id"]))
            .groupBy("url", "s_id")
            .agg(F.concat_ws("", F.transform(
                F.array_sort(F.collect_list(F.struct("ord", "text"))),
                lambda s: s["text"])).alias("jsonld")))
    w = Window.partitionBy("url").orderBy("s_id")
    j = F.col("jsonld")
    return (body.withColumn("block_ord", F.row_number().over(w))
            .select("url", "block_ord", "jsonld",
                    F.try_parse_json(j).isNotNull().cast("int")
                    .alias("is_valid"),
                    F.get_json_object(j, "$['@type']")
                    .alias("schema_type")))


ATOM_NS = "http://www.w3.org/2005/Atom"


def feed_entries(nodes: DataFrame, flavor="atom") -> DataFrame:
    """RSS 2.0 / Atom feed entries from node rows: one row per
    <item>/<entry> with (url, entry_ord, title, link, guid,
    published).  Atom runs under the xmlns dialect, so element names
    arrive default-ns-qualified ('{ns}:local' — the r7 node-tape
    xmlns drain); the link is @href there, text content in RSS.

    Shape: entries -> direct children -> their text children, two
    renamed-key self-joins plus one pivot aggregation, all
    url-co-partitioned (AQE sizes them; per-url fan-out is bounded
    by feed size)."""
    if flavor == "atom":
        q = ATOM_NS + ":"
        entry_n, title_n, link_n = q + "entry", q + "title", q + "link"
        guid_n, pub_n = q + "id", q + "updated"
    else:
        entry_n, title_n, link_n = "item", "title", "link"
        guid_n, pub_n = "guid", "pubdate"
    el = nodes.filter(F.col("kind") == "element")
    entries = el.filter(F.col("name") == entry_n).select(
        F.col("url").alias("e_url"),
        F.col("node_id").alias("entry_id"))
    fields = [title_n, link_n, guid_n, pub_n]
    ch = (el.filter(F.lower("name").isin([f.lower() for f in fields]))
          .select(F.col("url").alias("c_url"),
                  F.col("node_id").alias("child_id"),
                  F.col("parent_id").alias("c_parent"),
                  F.lower("name").alias("c_name"),
                  F.element_at("attrs", "href").alias("href"),
                  F.lower(F.coalesce(F.element_at("attrs", "rel"),
                                     F.lit("alternate")))
                  .alias("link_rel")))
    ch = ch.join(entries, (ch["c_url"] == entries["e_url"]) &
                 (ch["c_parent"] == entries["entry_id"])) \
           .select("c_url", "child_id", "c_name", "href", "link_rel",
                   "entry_id")
    texts = (nodes.filter(F.col("kind").isin("text", "sdata", "ndata"))
             .select(F.col("url").alias("t_url"),
                     F.col("parent_id").alias("t_parent"),
                     "ord", "text"))
    joined = ch.join(texts, (ch["c_url"] == texts["t_url"]) &
                     (ch["child_id"] == texts["t_parent"]), "left")
    per_child = (joined.groupBy("c_url", "entry_id", "child_id",
                                "c_name", "href", "link_rel")
                 .agg(F.concat_ws("", F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("ord", "text"))),
                     lambda s: s["text"])).alias("t")))
    t = F.when(F.length("t") > 0, F.col("t"))

    def first_of(cond, val):
        # first-in-document (min over (child_id, value)), not the
        # lexicographically smallest value
        return F.min(F.when(cond & val.isNotNull(),
                            F.struct(F.col("child_id").alias("n"),
                                     val.alias("v"))))["v"]

    def pick(field_name):
        return first_of(F.col("c_name") == field_name.lower(), t)

    if flavor == "atom":
        # RFC 4287: the entry link is rel="alternate" (rel absent
        # defaults to alternate); self/enclosure/hub links must not
        # win just by sorting first
        is_link = F.col("c_name") == link_n.lower()
        link_val = F.coalesce(
            first_of(is_link & (F.col("link_rel") == "alternate"),
                     F.col("href")),
            first_of(is_link, F.col("href")))
    else:
        link_val = pick(link_n)
    agg = (per_child.groupBy("c_url", "entry_id")
           .agg(pick(title_n).alias("title"),
                link_val.alias("link"),
                pick(guid_n).alias("guid"),
                pick(pub_n).alias("published")))
    w = Window.partitionBy("c_url").orderBy("entry_id")
    return (agg.withColumn("entry_ord", F.row_number().over(w))
            .select(F.col("c_url").alias("url"), "entry_ord",
                    "title", "link", "guid", "published"))


def named_subtree_text(nodes: DataFrame, name) -> DataFrame:
    """Text of all descendants of each //name element
    (xpath.pl:584-620 `text`).

    node_id is pre-order and subtree_end marks one-past-the-last
    descendant, so "descendant" is a range predicate: a single
    url-partitioned join (no recursion, no iteration).  AQE sizes
    the shuffle; per-url fan-out is bounded by document size."""
    roots = (elements_named(nodes, name)
             .select("url", F.col("node_id").alias("root_id"),
                     F.col("subtree_end").alias("root_end")))
    texts = (nodes.filter(F.col("kind").isin("text", "sdata", "ndata"))
             .select("url", "node_id", "text"))
    joined = roots.join(texts, "url") \
        .filter((F.col("node_id") > F.col("root_id")) &
                (F.col("node_id") < F.col("root_end")))
    return (joined.groupBy("url", "root_id")
            .agg(F.concat_ws(
                "", F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("node_id", "text"))),
                    lambda s: s["text"])).alias("text_subtree")))
