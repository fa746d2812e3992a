"""Web-document text extraction, the stage between WARC ingest and the
corpus gates.

The reference's anecdotal workload — "word frequency lists for many
gigabytes of text" over lazily-read files (reference README.md:76,
mincemeat.py:313-316) — is, in every real pipeline, CommonCrawl WARC →
HTML → boilerplate-stripped text BEFORE any quality gate or dedup runs.
The repo already ingests WARC records (sources/python_datasource.py:488)
and runs every downstream corpus stage; this module adds the missing
middle: an HTML→text extractor, and the fused WARC→extract→lang-id→
quality-gate→dedup composite.

Extraction rules (documented once, implemented twice — Spark built-ins
here, DuckDB SQL in the oracles; both engines run the SAME regexes,
which stay inside the Java-regex ∩ RE2 common subset: no lookaround,
inline ``(?is)`` flags, ASCII ``\\s``):

1. Remove ``<script>…</script>``, ``<style>…</style>`` and HTML
   comments wholesale (dotall, case-insensitive).
2. Split on block-level tags (``p div h1-6 ul ol li nav aside footer
   header table tr th td br hr`` + document structure tags) — the
   delimiters vanish; inline markup (``<a> <b> <span>``) stays inside
   its block.
3. Per block: count ``<a `` occurrences (link-density signal) on the
   RAW block, then strip remaining tags, decode the six standard
   entities (``&lt; &gt; &quot; &#39; &nbsp;`` then ``&amp;`` LAST),
   collapse whitespace, trim.
4. Keep a block iff it has ≥ 5 words AND links*5 < words (the
   text-density/link-density boilerplate heuristic: nav items, footer
   link rows, and headings drop; body paragraphs survive — the same
   shape as jusText/trafilatura's density rules, reduced to a
   deterministic two-signal form).
5. The document body is the kept blocks joined by ``\\n``.

Scale shape: extraction is a chain of JVM ``regexp_replace`` / array
expressions inside whole-stage codegen — per-row CPU, no shuffle, no
Python. At 100 TB it runs scan-side at wire speed; the only shuffle in
the composite is the dedup hash-partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mincemeatpy_spark.lineage import truncate_lazy
from mincemeatpy_spark.operators.graph import (
    _PR_SCALE,
    _contrib,
    _degree,
    _hits_half,
    _pagerank,
)
from mincemeatpy_spark.registry import register
from mincemeatpy_spark.tables import t

# --- shared rule constants (Java regex ∩ RE2 common subset) -----------

_RE_DROP = r"(?is)<(?:script|style)\b[^>]*>.*?</(?:script|style)>|<!--.*?-->"
_RE_BLOCK = (
    r"(?i)</?(?:html|head|body|title|p|div|h[1-6]|ul|ol|li|nav|aside"
    r"|footer|header|table|tr|th|td|br|hr)\b[^>]*>"
)
_RE_TAG = r"<[^>]*>"
_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # LAST, so &amp;lt; decodes to &lt; not <
)
_MIN_WORDS = 5
_LINK_FACTOR = 5

# Deterministic in-plan HTML synthesis around each document's text —
# the fixture generator for both queries (documents.parquet carries no
# markup; verified corpus-wide: no '<', '&', CR/LF/TAB/VT in any text
# at sf0.001/0.01/0.1).  One SQL fragment evaluated by BOTH engines
# (Spark F.expr and the DuckDB oracle — `STRING` is a valid cast alias
# in both), so the synthesized inputs are identical by construction.
# Shape variation by doc_id exercises every rule: script (÷3), comment
# (÷4), entity-bearing kept paragraph (÷5≡2), nav/aside link items,
# link-dense footer.
_HTML_SYNTH_SQL = (
    "'<html><head><title>Doc ' || CAST(doc_id AS STRING) || '</title>"
    "<style>body{margin:0;color:#222}</style>'"
    " || CASE WHEN doc_id % 3 = 0 THEN "
    "'<script type=\"text/javascript\">var t=1;function f(x){return x*t;}"
    "</script>' ELSE '' END"
    " || '</head><body>'"
    " || CASE WHEN doc_id % 4 = 1 THEN "
    "'<!-- build 20260101 rev ' || CAST(doc_id AS STRING) || ' -->' "
    "ELSE '' END"
    " || '<nav><ul><li><a href=\"/\">Home</a></li>"
    "<li><a href=\"/about\">About</a></li>"
    "<li><a href=\"/contact\">Contact</a></li></ul></nav>'"
    " || '<div id=\"main\"><h1>Doc ' || CAST(doc_id AS STRING) || "
    "'</h1><p>' || text || '</p>'"
    # cross-site related links: a link-dense block (dropped from the
    # extracted body by rule 4) that gives every page 2 deterministic
    # OUTLINKS for the link-graph query — site topology varies per doc.
    " || '<p class=\"rel\">See <a href=\"http://site' || "
    "CAST(doc_id % 7 AS STRING) || '.example/p/' || "
    "CAST(doc_id % 13 AS STRING) || '\">related</a> and "
    "<a href=\"http://site' || CAST((doc_id * 3) % 7 AS STRING) || "
    "'.example/p/' || CAST(doc_id % 11 AS STRING) || "
    "'\">more</a></p>'"
    " || CASE WHEN doc_id % 5 = 2 THEN "
    "'<p>Tags &amp; entities &lt;escaped&gt; stay &quot;decoded&quot;"
    "&nbsp;in the extracted body text.</p>' ELSE '' END"
    " || '</div><aside><ul><li><a href=\"/t/1\">Trending topic one</a>"
    "</li><li><a href=\"/t/2\">Trending topic two</a></li></ul></aside>'"
    " || '<footer><p><a href=\"/tos\">Terms</a> | "
    "<a href=\"/privacy\">Privacy</a> | copyright 2026</p></footer>"
    "</body></html>'"
)


def _kept_blocks(html_col: F.Column) -> F.Column:
    """The expensive half of the extraction (rules 1-4): the kept-block
    struct array ``array<struct<t,wc,links>>``.  One evaluation of this
    tree does ALL the regex work; everything downstream is cheap array
    access over it."""
    cleaned = F.regexp_replace(html_col, _RE_DROP, "")
    blocks = F.split(cleaned, _RE_BLOCK, -1)

    def _block_struct(b: F.Column) -> F.Column:
        txt = F.regexp_replace(b, _RE_TAG, "")
        for ent, rep in _ENTITIES:
            txt = F.replace(txt, F.lit(ent), F.lit(rep))
        txt = F.trim(F.regexp_replace(txt, r"\s+", " "))
        wc = (
            F.when(txt == "", F.lit(0))
            .otherwise(F.size(F.split(txt, " ", -1)))
        )
        links = F.size(F.split(b, "<a ", -1)) - F.lit(1)
        return F.struct(
            txt.alias("t"), wc.alias("wc"), links.alias("links")
        )

    structs = F.transform(blocks, _block_struct)
    return F.filter(
        structs,
        lambda s: (s["wc"] >= _MIN_WORDS)
        & (s["links"] * _LINK_FACTOR < s["wc"]),
    )


def _body_cols_from(kept: F.Column) -> dict[str, F.Column]:
    """Rule-5 output columns over a kept-blocks array column — cheap
    array ops, intended to run over a MATERIALIZED ``_kept_blocks``
    projection column."""
    return {
        "body": F.array_join(F.transform(kept, lambda s: s["t"]), "\n"),
        "n_blocks": F.size(kept).cast("bigint"),
        "n_words": F.aggregate(
            kept, F.lit(0), lambda a, s: a + s["wc"]
        ).cast("bigint"),
    }


def extract_text_cols(html_col: F.Column) -> dict[str, F.Column]:
    """HTML→text extraction as pure Spark built-ins (rules 1-5 above).
    Returns {'body', 'n_blocks', 'n_words'} columns — composable into
    any plan with zero shuffle and zero Python.

    NOTE (r13 optimization round): each returned column embeds the FULL
    extraction tree, so selecting several of them — or filtering on one
    — re-evaluates the regex pipeline per column/predicate (higher-order
    functions run interpreted; no runtime CSE).  Batch consumers should
    use :func:`extracted_df`, which materializes the kept-block array as
    its own projection and derives the outputs from it (one tree per
    row, measured ~4x less per-row CPU on the web composites).  This
    column form remains for single-column and STREAMING consumers."""
    kept = _kept_blocks(html_col)
    return _body_cols_from(kept)


def extracted_df(
    docs: DataFrame, keep: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """(keep..., body, n_blocks, n_words) from a DataFrame with an
    ``html`` column, with the extraction tree evaluated ONCE per row:
    projection 1 materializes the kept-block array, projection 2
    derives the three outputs from that column (cost-aware
    CollapseProject keeps the two apart because the array column is
    non-cheap and referenced three times).  Guide §1.2: fix the
    per-task work — the old shape evaluated the tree once per output
    column and once per pushed-down gate predicate."""
    kept = docs.select(*keep, _kept_blocks(F.col("html")).alias("_kept"))
    cols = _body_cols_from(F.col("_kept"))
    return kept.select(
        *keep,
        cols["body"].alias("body"),
        cols["n_blocks"].alias("n_blocks"),
        cols["n_words"].alias("n_words"),
    )


def _oracle_extract_cte(source_sql: str) -> str:
    """DuckDB CTE chain implementing rules 1-5 over ``source_sql``
    (must yield (doc_id, html)); ends with table ``extracted``
    (doc_id, body, n_blocks, n_words)."""
    # the entity-decode + tag-strip + collapse of ONE block
    txt = (
        "trim(regexp_replace("
        "replace(replace(replace(replace(replace(replace("
        f"regexp_replace(b, '{_RE_TAG}', '', 'g'),"
        "'&lt;','<'),'&gt;','>'),'&quot;','\"'),'&#39;',''''),"
        "'&nbsp;',' '),'&amp;','&'),"
        "'\\s+', ' ', 'g'))"
    )
    return f"""
        src AS ({source_sql}),
        blocks AS (
            SELECT doc_id,
                   string_split_regex(
                       regexp_replace(html, '{_RE_DROP}', '', 'g'),
                       '{_RE_BLOCK}') AS bs
            FROM src
        ),
        scored AS (
            SELECT doc_id,
                   list_transform(list_transform(bs,
                       b -> {{'t': {txt},
                              'links': len(string_split(b, '<a ')) - 1}}),
                       s -> {{'t': s.t, 'links': s.links,
                              'wc': CASE WHEN s.t = '' THEN 0
                                    ELSE len(string_split(s.t, ' ')) END}})
                       AS ss
            FROM blocks
        ),
        kept AS (
            SELECT doc_id,
                   list_filter(ss, s -> s.wc >= {_MIN_WORDS}
                                    AND s.links * {_LINK_FACTOR} < s.wc)
                       AS ks
            FROM scored
        ),
        extracted AS (
            SELECT doc_id,
                   array_to_string(list_transform(ks, s -> s.t), chr(10))
                       AS body,
                   CAST(len(ks) AS BIGINT) AS n_blocks,
                   CAST(coalesce(list_sum(list_transform(ks, s -> s.wc)), 0)
                        AS BIGINT) AS n_words
            FROM kept
        )
    """


@register(
    "text_html_extract",
    oracle=f"""
        WITH {_oracle_extract_cte(
            f"SELECT doc_id, {_HTML_SYNTH_SQL} AS html FROM documents"
        )}
        SELECT doc_id, body, n_blocks, n_words FROM extracted
        """,
    category="text",
    doc="HTML→text boilerplate removal — the step every CommonCrawl "
    "pipeline runs between WARC and the quality gate (reference "
    "README.md:76 generalized).  Deterministic synthetic HTML is built "
    "in-plan around each document (script/style/comment blocks, "
    "nav/aside link lists, a link-dense footer, an entity-bearing "
    "paragraph), then extracted by tag-class regex removal, "
    "block-level segmentation, per-block entity decoding, and a "
    "two-signal text/link-density keep rule.  Everything is JVM "
    "regexp/array codegen — per-row CPU, zero shuffle, zero Python: "
    "at 100 TB this runs scan-side at wire speed.",
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out (r13 optimization round): the sf0.1 fixture is ONE parquet
    # row group, so the whole regex extraction otherwise runs as a
    # single task; the round-robin repartition of the narrow (doc_id,
    # text) scan unlocks every core and is a no-op on wide scans at
    # production scale (guide §2.5/§6 input-split rule).
    from mincemeatpy_spark.tables import fan_out

    docs = fan_out(
        spark, t(spark, sf_dir, "documents").select("doc_id", "text"), sf_dir
    ).select("doc_id", F.expr(_HTML_SYNTH_SQL).alias("html"))
    # r13 optimization round: one extraction tree per row (the old
    # single-select form embedded it once per output column = 3x).
    return extracted_df(docs)


# --- the fused CommonCrawl-shaped composite ----------------------------

_WEB_CAP = 400  # staged records; bounded like source_warc_datasource
_Q_GATE = 0.25  # quality floor, same composite score as text_quality_score
_STOPWORDS_EN = ("the", "a", "and", "of", "to", "in", "is")


def _stage_web_warc(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Stage the first _WEB_CAP documents as a WARC file whose payloads
    are the SYNTHESIZED HTML pages (fixture write, bounded by the
    scan-pushed ``doc_id < 400`` filter — the _stage_warc pattern at
    sources/python_datasource.py).  Returns (path, max record size)."""
    import hashlib
    import os

    from mincemeatpy_spark.sources.readers import _scratch

    path = _scratch(sf_dir, "docs_web_warc")
    os.makedirs(path, exist_ok=True)
    # Version the staged file by the synthesis rules: if the fragment
    # changes in a later round, the staging must regenerate — a
    # same-path stale fixture would silently feed old pages (the
    # fixture-staleness rule stream_ops._stage_single_file pins).
    ver = hashlib.sha256(
        f"{_HTML_SYNTH_SQL}|{_WEB_CAP}".encode()
    ).hexdigest()[:12]
    fpath = os.path.join(path, f"web-{ver}.warc")
    if os.path.exists(fpath):
        # ADVICE r12: a missing or partially-written sidecar next to an
        # existing WARC must restage, not raise — fall through to
        # regeneration on any read/parse failure.
        try:
            with open(fpath + ".maxrec") as f:
                return fpath, int(f.read())
        except (OSError, ValueError):
            pass
    rows = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _WEB_CAP)
        .select("doc_id", F.expr(_HTML_SYNTH_SQL).alias("html"))
        .collect()
    )
    maxrec = 0
    buf = bytearray()
    for row in sorted(rows, key=lambda r: r.doc_id):
        payload = row.html.encode("utf-8")
        rec = (
            b"WARC/1.0\r\n"
            + f"WARC-Record-ID: {row.doc_id}\r\n".encode()
            + f"Content-Length: {len(payload)}\r\n".encode()
            + b"\r\n"
            + payload
            + b"\r\n\r\n"
        )
        maxrec = max(maxrec, len(rec))
        buf += rec
    tmp = fpath + ".tmp"
    with open(tmp, "wb") as f:
        f.write(buf)
    # Sidecar FIRST and via tmp+rename (ADVICE r12): the WARC's own
    # os.replace publishes the pair, so a reader that sees the WARC
    # always sees a complete sidecar.
    side_tmp = fpath + ".maxrec.tmp"
    with open(side_tmp, "w") as f:
        f.write(str(maxrec))
    os.replace(side_tmp, fpath + ".maxrec")
    os.replace(tmp, fpath)
    return fpath, maxrec


def _web_gated_ctes(source_where: str) -> str:
    """CTE chain from the document source through extraction, lang-ID
    and the quality gate, ending at ``gated`` (doc_id, body, n_words,
    predicted_lang, quality — already quality-filtered); shared by the
    composite oracles (``source_where`` bounds the document set,
    '' = all)."""
    return f"""
        {_oracle_extract_cte(
            f"SELECT doc_id, {_HTML_SYNTH_SQL} AS html FROM documents "
            + source_where
        )},
        lang AS (
            SELECT doc_id, body, n_words,
                   string_split(body, ' ') AS words
            FROM extracted
            WHERE n_words > 0
        ),
        scored2 AS (
            SELECT doc_id, body, n_words,
                   len(list_filter(words,
                       w -> w IN ('the','a','and','of','to','in','is')))
                       AS h_en,
                   len(list_filter(words,
                       w -> w IN ('le','la','et','de','un','une','est')))
                       AS h_fr,
                   len(list_filter(words,
                       w -> w IN ('der','die','das','und','ein','ist','zu')))
                       AS h_de,
                   len(list_filter(words,
                       w -> w IN ('the','a','and','of','to','in','is')))::DOUBLE
                       / len(words) AS stop_ratio,
                   len(list_distinct(words))::DOUBLE / len(words)
                       AS uniq_ratio
            FROM lang
        ),
        gated AS (
            SELECT * FROM (
                SELECT doc_id, body, n_words,
                       CASE WHEN h_en >= h_fr AND h_en >= h_de THEN 'en'
                            WHEN h_fr >= h_de THEN 'fr'
                            ELSE 'de' END AS predicted_lang,
                       round(0.5 * stop_ratio + 0.3 * uniq_ratio
                             + 0.2 * least(n_words / 100.0, 1.0), 6)
                           AS quality
                FROM scored2
            ) WHERE quality >= {_Q_GATE}
        )"""


def _web_oracle(source_where: str) -> str:
    """The composite's lang-ID → gate → dedup oracle over the extract
    CTE chain; ``source_where`` bounds the document set ('' = all)."""
    return f"""
        WITH {_web_gated_ctes(source_where)}
        SELECT doc_id, predicted_lang, quality, n_words,
               substring(sha256(body), 1, 16) AS body_sha
        FROM gated
        QUALIFY doc_id = min(doc_id)
                             OVER (PARTITION BY sha256(body))
        """


@register(
    "pipeline_web_corpus",
    oracle=_web_oracle(f"WHERE doc_id < {_WEB_CAP}"),
    category="text",
    doc="The CommonCrawl composite, one fused plan: WARC byte-range "
    "source (record-boundary resync, O(1) planning) → HTML→text "
    "extraction (JVM regex codegen) → stopword lang-ID → composite "
    "quality gate → exact dedup (sha256 of the extracted body, "
    "min-doc_id winner via a partition-window min — ONE shuffle in "
    "the whole pipeline, keyed on the 256-bit digest, so at 100 TB "
    "the shuffle carries (doc_id, digest, 3 scalars), never the "
    "bodies-squared of a naive self-join).  The oracle replays the "
    "identical rules in DuckDB from the documents table.",
)
def pipeline_web_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mincemeatpy_spark.sources.python_datasource import (
        _make_warc_source_class,
    )

    fpath, maxrec = _stage_web_warc(spark, sf_dir)
    spark.dataSource.register(_make_warc_source_class())
    pages = (
        spark.read.format("mincemeat_warc")
        .option("path", fpath)
        .option("splits", "8")
        .option("maxrec", str(maxrec))
        .load()
        .withColumnRenamed("text", "html")
    )
    # r13: one extraction tree per row; the n_words > 0 pre-filter now
    # rides inside _web_gated's fenced gate (equivalent conjunction).
    extracted = extracted_df(pages).drop("n_blocks")
    return _web_corpus_tail(extracted)


@register(
    "pipeline_web_corpus_inplan",
    oracle=_web_oracle(""),
    category="text",
    doc="The composite's UNCAPPED twin: the identical lang-ID → gate → "
    "dedup tail over in-plan synthesized pages for EVERY document (no "
    "staged WARC, no row cap) — so the composite has a soak that "
    "actually scales with the corpus (the WARC form stages a bounded "
    "fixture, flat by design).  Same single digest-keyed shuffle; at "
    "100 TB this plan shape and the WARC-sourced one are identical "
    "from the extraction stage down.",
)
def pipeline_web_corpus_inplan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mincemeatpy_spark.tables import fan_out

    # fan_out: parallelize synthesis+extraction off the single-row-group
    # fixture scan (no-op on wide scans; see text_html_extract).
    docs = fan_out(
        spark, t(spark, sf_dir, "documents").select("doc_id", "text"), sf_dir
    ).select("doc_id", F.expr(_HTML_SYNTH_SQL).alias("html"))
    # r13: one extraction tree per row; n_words > 0 rides in the gate.
    extracted = extracted_df(docs).drop("n_blocks")
    return _web_corpus_tail(extracted)


def _web_corpus_tail(extracted: DataFrame) -> DataFrame:
    """lang-ID → quality gate → digest dedup over (doc_id, body,
    n_words) — shared by the WARC-sourced and in-plan composites."""
    return _web_dedup(_web_gated(extracted))


def _web_dedup(gated: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Exact dedup on the body digest (min-doc_id winner via a
    partition-window min — the composite's ONE shuffle, keyed on the
    256-bit digest)."""
    from pyspark.sql import Window

    # r13: hash once — the digest materializes as one column used for
    # both the window key and the body_sha prefix (the old shape
    # evaluated sha2(body) twice per row).
    hashed = gated.withColumn("_sha", F.sha2(F.col("body"), 256))
    w = Window.partitionBy("_sha")
    return (
        hashed.withColumn("body_sha", F.substring(F.col("_sha"), 1, 16))
        .withColumn("min_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("min_id"))
        .select(
            "doc_id", "predicted_lang", "quality",
            *extra_cols, "n_words", "body_sha",
        )
    )


def _web_gated(extracted: DataFrame) -> DataFrame:
    """lang-ID + quality gate over (doc_id, body, n_words) — the input
    may still carry n_words = 0 rows; the gate filter drops them (the
    old shape pre-filtered, an equivalent conjunction).  Returns the
    quality-filtered (doc_id, body, n_words, predicted_lang, quality).

    r13 optimization-round restructure (identical rows and columns):
    the word array materializes as its own projection (the old shape
    re-split the body five times — three stopword filters + two size
    calls), the hit counts/ratios and the score chain as further
    projections, and the gate runs through ``fenced_filter`` so
    Catalyst cannot push it down and re-inline the body-extraction +
    scoring trees into a scan-side predicate (measured: the composite's
    scan Filter carried THREE full copies of the extraction tree)."""
    from mincemeatpy_spark.lineage import fenced_filter

    wd = extracted.withColumn("_words", F.split(F.col("body"), " ", -1))
    w = F.col("_words")
    n_words_d = F.size(w).cast("double")
    counted = wd.select(
        "doc_id",
        "body",
        "n_words",
        F.size(F.filter(w, lambda x: x.isin(*_STOPWORDS_EN))).alias("h_en"),
        F.size(
            F.filter(
                w,
                lambda x: x.isin("le", "la", "et", "de", "un", "une", "est"),
            )
        ).alias("h_fr"),
        F.size(
            F.filter(
                w,
                lambda x: x.isin(
                    "der", "die", "das", "und", "ein", "ist", "zu"
                ),
            )
        ).alias("h_de"),
        (F.size(F.array_distinct(w)).cast("double") / n_words_d).alias(
            "uniq_ratio"
        ),
        n_words_d.alias("_nw_d"),
    )
    scored = counted.select(
        "doc_id",
        "body",
        "n_words",
        "h_en",
        "h_fr",
        "h_de",
        (F.col("h_en").cast("double") / F.col("_nw_d")).alias("stop_ratio"),
        "uniq_ratio",
    )
    gated = scored.select(
        "doc_id",
        "body",
        "n_words",
        F.when(
            (F.col("h_en") >= F.col("h_fr"))
            & (F.col("h_en") >= F.col("h_de")),
            "en",
        )
        .when(F.col("h_fr") >= F.col("h_de"), "fr")
        .otherwise("de")
        .alias("predicted_lang"),
        F.round(
            0.5 * F.col("stop_ratio")
            + 0.3 * F.col("uniq_ratio")
            + 0.2 * F.least(F.col("n_words") / 100.0, F.lit(1.0)),
            6,
        ).alias("quality"),
    )
    return fenced_filter(
        gated,
        (F.col("n_words") > 0) & (F.col("quality") >= _Q_GATE),
    )


# Hosts of a page's absolute links: one pattern, spelled identically for
# both engines.
_RE_HREF_HOST = 'href="http://([^"/]+)'


def _href_hosts(html_sql: str) -> str:
    """``regexp_extract_all`` of every absolute link's host in the HTML
    that SQL expression ``html_sql`` yields (Spark and DuckDB alike)."""
    return f"regexp_extract_all({html_sql}, '{_RE_HREF_HOST}', 1)"


@register(
    "web_link_graph",
    oracle=f"""
        SELECT source AS src_site, u.dst AS dst_site,
               CAST(count(*) AS BIGINT) AS n_links,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages
        FROM (
            SELECT doc_id, source, {_href_hosts(_HTML_SYNTH_SQL)} AS hosts
            FROM documents
        ), UNNEST(hosts) AS u(dst)
        GROUP BY source, u.dst
        """,
    category="text",
    doc="Outlink/link-graph extraction — the crawl-graph primitive every "
    "web-corpus pipeline derives (PageRank seeds, host-level spam "
    "scores, crawl frontier sizing): absolute hrefs parsed from the "
    "synthesized pages with one JVM regexp_extract_all, exploded, and "
    "rolled up to (source site, destination host) edge weights.  "
    "Scan-side regex + one aggregation exchange on the edge key; at "
    "100 TB the shuffle carries (src, dst, partial counts) only — the "
    "map-side combine collapses per-page duplicate edges before the "
    "wire.  The in-plan page synthesis plants two deterministic "
    "cross-site links per page (doc_id mod arithmetic), so the edge "
    "distribution is known and the oracle replays it exactly.",
)
def web_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (r13: a fan_out here was A/B-measured 0.40 s -> 0.61 s and
    # reverted — one regexp_extract_all does not dominate the shuffle.)
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_HTML_SYNTH_SQL).alias("html")
    )
    return (
        docs.select(
            "doc_id",
            F.col("source").alias("src_site"),
            F.explode(F.expr(_href_hosts("html"))).alias("dst_site"),
        )
        .groupBy("src_site", "dst_site")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_links"),
            F.countDistinct("doc_id").cast("bigint").alias("n_pages"),
        )
    )


# --- host-level crawl-graph PageRank ------------------------------------

_PR_ITERS = 3


def _host_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted host→host edge list ``(src, dst, w)`` from the
    synthesized pages: each page lives on host ``site(doc_id mod
    5).example`` (five crawled hosts) and its absolute outlinks target
    ``site0-6.example`` — so ``site5``/``site6`` receive links but host
    no crawled pages: the DANGLING frontier hosts every real crawl graph
    has, exercising the dangling-mass correction on real structure.  One
    scan-side regexp_extract_all + one edge-key aggregation; at 100 TB
    the shuffle carries (src, dst, partial count) only."""
    # (r13: fan_out reverted here for the same A/B reason as
    # web_link_graph — the single regex is lighter than the shuffle.)
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_HTML_SYNTH_SQL).alias("html")
    )
    return (
        docs.select(
            F.concat(
                F.lit("site"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(".example"),
            ).alias("src"),
            F.explode(F.expr(_href_hosts("html"))).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )


def _host_nodes(edges: DataFrame) -> DataFrame:
    """``node``: every host that links or is linked to."""
    return (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
        .transform(truncate_lazy)
    )


# SQL twin of _host_edges and _host_nodes: the CTEs ``pages``,
# ``edges`` and ``nodes`` (column ``h``) that every host-graph oracle
# starts from.
_HOST_GRAPH_SQL = f"""
        pages AS (
            SELECT doc_id,
                   'site' || CAST(doc_id % 5 AS VARCHAR) || '.example'
                       AS src,
                   {_href_hosts(_HTML_SYNTH_SQL)} AS hosts
            FROM documents
        ),
        edges AS MATERIALIZED (
            SELECT src, u.dst, CAST(count(*) AS BIGINT) AS w
            FROM pages, UNNEST(hosts) AS u(dst)
            GROUP BY src, u.dst
        ),
        nodes AS MATERIALIZED (
            SELECT DISTINCT h FROM (
                SELECT src AS h FROM edges
                UNION ALL SELECT dst FROM edges)
        )"""


def _host_pagerank_oracle(iters: int, tail: str | None = None) -> str:
    """Unrolled fixed-point weighted-PageRank recurrence (MATERIALIZED
    per round, the bpe_train_32merges DuckDB lesson: plain CTEs inline
    at each reference and re-evaluate exponentially in depth).
    ``tail`` overrides the final SELECT (default: the rank table) so
    derived queries — the frontier prioritizer — reuse the identical
    recurrence."""
    head = f"""{_HOST_GRAPH_SQL},
        nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
        outw AS MATERIALIZED (
            SELECT src, sum(w) AS ow FROM edges GROUP BY src
        ),
        r_0 AS MATERIALIZED (
            SELECT h, CAST({_PR_SCALE} // (SELECT n FROM nn) AS BIGINT)
                       AS r
            FROM nodes
        )"""
    rounds = ",".join(
        f"""
        contrib_{i} AS MATERIALIZED (
            SELECT e.dst AS h, SUM((r.r * e.w) // o.ow) AS s
            FROM edges e
            JOIN outw o ON o.src = e.src
            JOIN r_{i - 1} r ON r.h = e.src
            GROUP BY e.dst
        ),
        dang_{i} AS MATERIALIZED (
            SELECT COALESCE(SUM(r), 0) AS d FROM r_{i - 1}
            WHERE h NOT IN (SELECT src FROM outw)
        ),
        r_{i} AS MATERIALIZED (
            SELECT n.h,
                   CAST((15 * ({_PR_SCALE} // (SELECT n FROM nn))) // 100
                        + (85 * (COALESCE(c.s, 0)
                                 + ((SELECT d FROM dang_{i})
                                    // (SELECT n FROM nn)))) // 100
                        AS BIGINT) AS r
            FROM nodes n LEFT JOIN contrib_{i} c ON c.h = n.h
        )"""
        for i in range(1, iters + 1)
    )
    return f"WITH {head},{rounds} " + (
        tail or f"SELECT h AS host, r AS rank_scaled FROM r_{iters}"
    )


@register(
    "web_host_pagerank",
    oracle=_host_pagerank_oracle(_PR_ITERS),
    category="graph",
    doc="Host-level crawl-graph PageRank: the link-graph extraction "
    "FUSED with the iterative rank loop — "
    "extract hrefs scan-side → roll up weighted (src host, dst host) "
    "edges → three weighted power iterations with damping 0.85 and a "
    "broadcast dangling-mass correction (frontier hosts ``site5``/"
    "``site6`` receive rank but have no crawled pages; their mass "
    "redistributes uniformly each round).  The host-spam / crawl-"
    "prioritization step real web-corpus pipelines run between link "
    "extraction and the quality gate.  Integer fixed-point (1e-12 "
    "units, floor division) so all three iterations are bit-identical "
    "to the oracle's unrolled MATERIALIZED-CTE recurrence.  Per "
    "superstep: one edges⋈outw⋈ranks plan (rank side is node-scale — "
    "AQE broadcasts it while it fits, else a keyed shuffle), one "
    "inflow aggregation on dst, and a 1-row broadcast dangling "
    "aggregate; lineage truncated eagerly between supersteps so the "
    "plan stays O(1) deep (the kmeans_loop convention).  At 100 TB "
    "the per-iteration shuffle carries (dst, partial contribution) "
    "only — never bodies, never all-pairs.",
)
def web_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _host_edges(spark, sf_dir).transform(truncate_lazy)
    ranks = _pagerank(
        edges, _degree(edges, "src", "w"), _host_nodes(edges), _PR_ITERS, dangling=True
    )
    return ranks.select(F.col("node").alias("host"), F.col("r").alias("rank_scaled"))


# --- anchor-text corpus ------------------------------------------------

# Whole <a href="http://...">text</a> elements; host and anchor are
# re-extracted per element (regexp_extract_all yields one group per
# match, so paired captures need the two-step form in BOTH engines).
_RE_ANCHOR_ELEM = '(<a href="http://[^"]*"[^>]*>[^<]*</a>)'
_RE_ANCHOR_HOST = 'http://([^"/]+)'
_RE_ANCHOR_TEXT = ">([^<]*)<"


@register(
    "web_anchor_text",
    oracle=f"""
        WITH pairs AS (
            SELECT doc_id,
                   list_transform(
                       regexp_extract_all({_HTML_SYNTH_SQL},
                           '{_RE_ANCHOR_ELEM}', 1),
                       a -> {{'host': regexp_extract(a,
                                 '{_RE_ANCHOR_HOST}', 1),
                              'anchor': regexp_extract(a,
                                 '{_RE_ANCHOR_TEXT}', 1)}}) AS links
            FROM documents
        ),
        rolled AS (
            SELECT u.l.host AS dst_site, u.l.anchor AS anchor,
                   CAST(count(*) AS BIGINT) AS n_links,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages
            FROM pairs, UNNEST(links) AS u(l)
            GROUP BY u.l.host, u.l.anchor
        )
        SELECT dst_site, anchor, n_links, n_pages,
               CAST(row_number() OVER (
                   PARTITION BY dst_site
                   ORDER BY n_links DESC, anchor) AS BIGINT) AS anchor_rank
        FROM rolled
        """,
    category="text",
    doc="Anchor-text corpus extraction — the training signal every "
    "web-scale search/embedding pipeline harvests (the linking page's "
    "anchor words describe the TARGET document; anchor corpora train "
    "retrieval models and seed host descriptions).  Whole <a> "
    "elements are matched scan-side with one JVM regexp_extract_all, "
    "then host and anchor re-extracted per element inside a transform "
    "(paired capture groups need the two-step form — "
    "regexp_extract_all yields one group per match — and the oracle "
    "replays the identical two steps in DuckDB).  Rolled up to "
    "(destination host, anchor phrase) link/page counts with a "
    "per-host frequency rank.  Relative links carry no host and drop "
    "out by construction.  At 100 TB: per-row regex CPU, one "
    "edge-key aggregation exchange, one host-partitioned window — "
    "the shuffle carries (host, anchor, partial counts) only.",
)
def web_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # (r13: a fan_out here was measured 0.49 s -> 0.87 s and reverted —
    # the per-element regexes are lighter than the added shuffle.)
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_HTML_SYNTH_SQL).alias("html")
    )
    elems = F.expr(
        f"regexp_extract_all(html, '{_RE_ANCHOR_ELEM}', 1)"
    )
    pairs = docs.select(
        "doc_id", F.explode(elems).alias("a")
    ).select(
        "doc_id",
        F.regexp_extract(F.col("a"), _RE_ANCHOR_HOST, 1).alias("dst_site"),
        F.regexp_extract(F.col("a"), _RE_ANCHOR_TEXT, 1).alias("anchor"),
    )
    rolled = pairs.groupBy("dst_site", "anchor").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_links"),
        F.countDistinct("doc_id").cast("bigint").alias("n_pages"),
    )
    w = Window.partitionBy("dst_site").orderBy(
        F.col("n_links").desc(), "anchor"
    )
    return rolled.withColumn(
        "anchor_rank", F.row_number().over(w).cast("bigint")
    )


# --- crawl-frontier prioritization -------------------------------------

_FRONTIER_TAIL = f"""
        , fprio AS (
            SELECT e.dst AS h,
                   SUM((r.r * e.w) // o.ow) AS p,
                   COUNT(DISTINCT e.src) AS nref
            FROM edges e
            JOIN outw o ON o.src = e.src
            JOIN r_{_PR_ITERS} r ON r.h = e.src
            WHERE e.dst NOT IN (SELECT src FROM outw)
            GROUP BY e.dst
        )
        SELECT h AS host, CAST(p AS BIGINT) AS priority_scaled,
               CAST(nref AS BIGINT) AS n_referrers
        FROM fprio"""


@register(
    "web_frontier_priority",
    oracle=_host_pagerank_oracle(_PR_ITERS, tail=_FRONTIER_TAIL),
    category="graph",
    doc="Crawl-frontier prioritization — the scheduling step a crawler "
    "runs after ranking: FRONTIER hosts (linked-to but never crawled, "
    "i.e. no outgoing edges because no page of theirs is in the "
    "corpus) are scored by the PageRank mass that WOULD flow to them "
    "next iteration — sum over in-edges of (linker's converged rank × "
    "edge weight) / linker out-weight — plus a distinct-referrer "
    "count (the spam-resistance signal: one host linking 1000× ranks "
    "below 10 hosts linking once).  This is OPIC/backlink-count crawl "
    "ordering with PageRank mass (Cho & Garcia-Molina's crawl-"
    "ordering family), the exact decision function for 'which "
    "discovered-but-unfetched hosts do we spend the next crawl budget "
    "on'.  Reuses the web_host_pagerank recurrence verbatim (same "
    "unrolled MATERIALIZED-CTE oracle, tail swapped); the frontier "
    "restriction is a node-scale anti-join (never edge-scale) and the "
    "priority rollup is one dst-keyed aggregation.  At 100 TB: same "
    "per-superstep shape as PageRank + one final (dst, partial-sum, "
    "partial-distinct) exchange.",
)
def web_frontier_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = web_host_pagerank(spark, sf_dir).select(
        F.col("host").alias("node"), F.col("rank_scaled").alias("r")
    ).transform(truncate_lazy)
    edges = _host_edges(spark, sf_dir).transform(truncate_lazy)
    outw = _degree(edges, "src", "w")
    frontier_edges = edges.join(
        outw.select(F.col("src").alias("dst_src")),
        edges.dst == F.col("dst_src"),
        "left_anti",
    )
    return (
        _contrib(frontier_edges, outw, ranks)
        .groupBy("dst")
        .agg(
            F.sum("c").cast("bigint").alias("priority_scaled"),
            F.countDistinct("src").cast("bigint").alias("n_referrers"),
        )
        .select(
            F.col("dst").alias("host"), "priority_scaled", "n_referrers"
        )
    )


# --- HITS hubs & authorities -------------------------------------------

_HITS_ROUNDS = 2


def _hits_half_sql(name: str, score: str, frm: str, to: str) -> str:
    """SQL twin of ``_hits_half``: the CTEs ``{name}_raw`` and
    ``{name}``, scores ``(h, v)`` from ``score`` over the edges."""
    return f"""
        {name}_raw AS MATERIALIZED (
            SELECT e.{to} AS h, SUM(p.v * e.w) AS s
            FROM edges e JOIN {score} p ON p.h = e.{frm}
            GROUP BY e.{to}
        ),
        {name} AS MATERIALIZED (
            SELECT n.h,
                   CAST(COALESCE(x.s, 0)
                        // greatest((SELECT SUM(s) FROM {name}_raw)
                                    // {_PR_SCALE}, 1) AS BIGINT) AS v
            FROM nodes n LEFT JOIN {name}_raw x ON x.h = n.h
        )"""


def _hits_oracle(rounds: int) -> str:
    """Unrolled integer HITS recurrence: L1-normalized to _PR_SCALE via
    divide-the-total-first (a // max(A // SCALE, 1)) so every
    intermediate stays in int64 — a*SCALE would overflow."""
    halves = "".join(
        f"""{_hits_half_sql(f"a_{i}", f"h_{i - 1}", "src", "dst")},"""
        f"""{_hits_half_sql(f"h_{i}", f"a_{i}", "dst", "src")},"""
        for i in range(1, rounds + 1)
    )
    return f"""
        WITH {_HOST_GRAPH_SQL},
        h_0 AS MATERIALIZED (
            SELECT h, CAST({_PR_SCALE} AS BIGINT) AS v FROM nodes
        ),{halves.rstrip(",")}
        SELECT n.h AS host, a.v AS auth_scaled, hh.v AS hub_scaled
        FROM nodes n
        JOIN a_{rounds} a ON a.h = n.h
        JOIN h_{rounds} hh ON hh.h = n.h"""


@register(
    "web_hits_scores",
    oracle=_hits_oracle(_HITS_ROUNDS),
    category="graph",
    doc="HITS hubs & authorities over the crawl host graph (Kleinberg "
    "1999) — the complement to web_host_pagerank a link-analysis "
    "stage computes on the same edges: authorities (hosts good pages "
    "point AT — frontier hosts site5/site6 score here despite zero "
    "crawled pages) vs hubs (hosts whose pages point at good "
    "authorities).  Two full mutual-reinforcement rounds, weighted by "
    "link counts, L1-normalized each half-step to the 1e-12 fixed "
    "point by DIVIDING THE TOTAL FIRST (x // max(total // SCALE, 1) — "
    "x*SCALE would overflow int64 at corpus edge weights), so every "
    "value is bit-identical to the unrolled MATERIALIZED-CTE oracle.  "
    "Per half-step: one edge⋈score join keyed on the score side, one "
    "dst- (or src-) keyed aggregation, and a 1-row broadcast "
    "normalizer — the per-superstep shuffle carries (host, partial "
    "sum) only; lineage truncated between rounds (kmeans convention).",
)
def web_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _host_edges(spark, sf_dir).transform(truncate_lazy)
    nodes = _host_nodes(edges)
    hub = nodes.select("node", F.lit(_PR_SCALE).cast("bigint").alias("v"))
    for _ in range(_HITS_ROUNDS):
        auth = _hits_half(edges, nodes, hub, "src", "dst")
        hub = _hits_half(edges, nodes, auth, "dst", "src")
    return (
        nodes.join(auth.withColumnRenamed("v", "auth_scaled"), "node")
        .join(hub.withColumnRenamed("v", "hub_scaled"), "node")
        .select(F.col("node").alias("host"), "auth_scaled", "hub_scaled")
    )


# --- site-level template/boilerplate mining ----------------------------

# Entity-decode + tag-strip + collapse of one block (DuckDB spelling,
# identical to _oracle_extract_cte's `txt` fragment).
_ORACLE_BLOCK_TXT = (
    "trim(regexp_replace("
    "replace(replace(replace(replace(replace(replace("
    f"regexp_replace(b, '{_RE_TAG}', '', 'g'),"
    "'&lt;','<'),'&gt;','>'),'&quot;','\"'),'&#39;',''''),"
    "'&nbsp;',' '),'&amp;','&'),"
    "'\\s+', ' ', 'g'))"
)


@register(
    "site_template_blocks",
    oracle=f"""
        WITH pb AS (
            SELECT doc_id, source AS site,
                   list_distinct(list_filter(list_transform(
                       string_split_regex(
                           regexp_replace({_HTML_SYNTH_SQL},
                               '{_RE_DROP}', '', 'g'),
                           '{_RE_BLOCK}'),
                       b -> {_ORACLE_BLOCK_TXT}), x -> x <> '')) AS bs
            FROM documents
        ),
        per AS (
            SELECT site, u.b AS block,
                   CAST(count(*) AS BIGINT) AS n_pages
            FROM pb, UNNEST(bs) AS u(b)
            GROUP BY site, u.b
        ),
        sp AS (
            SELECT source AS site, CAST(count(*) AS BIGINT) AS site_pages
            FROM documents GROUP BY source
        )
        SELECT per.site, per.block, per.n_pages, sp.site_pages
        FROM per JOIN sp USING (site)
        WHERE 2 * per.n_pages >= sp.site_pages
        """,
    category="text",
    doc="Site-level template/boilerplate mining — the frequency-based "
    "detector behind jusText/boilerpipe-class extractors and CCNet's "
    "per-site dedup intuition: a block whose text appears on ≥ 50% of "
    "a SITE's pages is template (nav items, footers, trending "
    "sidebars), not content.  Per page: the SAME rule-1/2/3 block "
    "segmentation + normalization as text_html_extract (shared regex "
    "constants, so the two ops cannot drift), deduplicated WITHIN the "
    "page (array_distinct — a block repeated on one page is one "
    "vote), then rolled up to (site, block) page counts and gated "
    "against the site's page count.  On the synthesized corpus this "
    "provably recovers the planted chrome (Home/About/Contact nav "
    "items, trending sidebar, Terms|Privacy footer) while the per-doc "
    "title/body paragraphs stay below threshold — the oracle replays "
    "it exactly.  Scale shape: scan-side segmentation; ONE exchange "
    "keyed on (site, block text) with map-side combine (the shuffle "
    "carries the candidate template strings — bounded by distinct "
    "block texts, the table a production run materializes anyway); "
    "the per-site page count is a tiny agg joined back (AQE "
    "broadcasts at runtime, unhinted per rule 13).  The output IS the "
    "site-template table the extraction stage subtracts on the next "
    "crawl pass.",
)
def site_template_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mincemeatpy_spark.tables import fan_out

    docs = fan_out(
        spark,
        t(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        sf_dir,
    ).select("doc_id", "source", F.expr(_HTML_SYNTH_SQL).alias("html"))
    cleaned = F.regexp_replace(F.col("html"), _RE_DROP, "")
    blocks = F.split(cleaned, _RE_BLOCK, -1)

    def _block_text(b: F.Column) -> F.Column:
        txt = F.regexp_replace(b, _RE_TAG, "")
        for ent, rep in _ENTITIES:
            txt = F.replace(txt, F.lit(ent), F.lit(rep))
        return F.trim(F.regexp_replace(txt, r"\s+", " "))

    page_blocks = F.array_distinct(
        F.filter(F.transform(blocks, _block_text), lambda x: x != "")
    )
    per = (
        docs.select(
            "doc_id",
            F.col("source").alias("site"),
            F.explode(page_blocks).alias("block"),
        )
        .groupBy("site", "block")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pages"))
    )
    sp = (
        t(spark, sf_dir, "documents")
        .groupBy(F.col("source").alias("site"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("site_pages"))
    )
    return per.join(sp, "site").filter(
        2 * F.col("n_pages") >= F.col("site_pages")
    ).select("site", "block", "n_pages", "site_pages")
