"""Web-crawl curation plans: URL canonicalization / host-level dedup /
blocklist filtering, HTML→text extraction, and BPE token accounting —
the round-7 additions closing the crawl-pipeline staples (the steps a
real training-data pipeline runs BEFORE the text suite sees clean
``documents.text``).

URLs and HTML are constructed deterministically in-plan from doc_id /
text (the same non-vacuous pattern as ``mm_header_probe``): the oracle
recomputes the full build→canonicalize/extract round-trip in SQL, so a
hash match proves the Spark-side arithmetic, not a fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_spark.operators.bpe import (
    corpus_word_counts,
    doc_token_counts,
    train_bpe,
)
from python_etl_spark.operators.html import html_extract_col, html_links_col
from python_etl_spark.plans.common import (
    dmean,
    dmean_sql,
    fixture_root,
    register,
)
from python_etl_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ------------------------- URL construction -------------------------------
#
# Deterministic synthetic crawl URLs over the documents table: mixed
# case (scheme+host are case-insensitive per RFC 3986, paths are not),
# default ports, www prefixes, tracking queries, and fragments — the
# canonicalizer must strip all of it. Path = (doc_id // 4) % 40 is
# INDEPENDENT of host = doc_id % 4, so every host sees every path
# (true cross-host duplicates, and every robots rule shape fires).

_HOSTS = [
    "WWW.Example.COM",
    "news.example.com:443",
    "Blog.example.org",
    "cdn.example.net",
]

_URL_SQL = """
  'HTTPS://' || CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN 'WWW.Example.COM'
      WHEN 1 THEN 'news.example.com:443'
      WHEN 2 THEN 'Blog.example.org'
      ELSE 'cdn.example.net' END
  || '/docs/' || CAST((doc_id // 4) % 40 AS VARCHAR)
  || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed' ELSE '' END
  || CASE WHEN doc_id % 5 = 0 THEN '#sec2' ELSE '' END
"""

# canonicalization (identical string ops both engines):
#   1. cut fragment, 2. cut tracking-only query, 3. host = lowered
#   authority minus :443 default port minus www. prefix, 4. rebuild
#   https://host/path
_HOST_RE = "^[A-Za-z]+://([^/?#]+)"
_PATH_RE = "^[A-Za-z]+://[^/?#]+([^?#]*)"

_CANON_SQL = f"""
canon AS (
  SELECT doc_id,
    regexp_replace(
      regexp_replace(lower(regexp_extract(url, '{_HOST_RE}', 1)),
                     ':443$', ''),
      '^www\\.', '') AS host,
    regexp_extract(url, '{_PATH_RE}', 1) AS path
  FROM urls)
"""


def _urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    host = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(_HOSTS[0]))
        .when(F.col("doc_id") % 4 == 1, F.lit(_HOSTS[1]))
        .when(F.col("doc_id") % 4 == 2, F.lit(_HOSTS[2]))
        .otherwise(F.lit(_HOSTS[3]))
    )
    url = F.concat(
        F.lit("HTTPS://"),
        host,
        F.lit("/docs/"),
        ((F.col("doc_id") / 4).cast("long") % 40).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("?utm_source=feed")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#sec2")).otherwise(F.lit("")),
    )
    return docs.select("doc_id", url.alias("url"))


def _canonical(urls: DataFrame) -> DataFrame:
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract("url", _HOST_RE, 1)), ":443$", ""
        ),
        r"^www\.",
        "",
    )
    path = F.regexp_extract("url", _PATH_RE, 1)
    return urls.select("doc_id", host.alias("host"), path.alias("path"))


@register(
    "etl_url_host_dedup",
    oracle=f"""
WITH urls AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
{_CANON_SQL}
SELECT host, 'https://' || host || path AS canon_url,
  MIN(doc_id) AS keep_doc_id,
  CAST(COUNT(*) - 1 AS BIGINT) AS n_dups
FROM canon
GROUP BY host, path
""",
)
def etl_url_host_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + host/path-level keep-first dedup — the
    crawl-frontier staple: scheme/host case, default :443 port, www.
    prefix, tracking query, and fragment are all non-identity, so
    'HTTPS://WWW.Example.COM/docs/7?utm_source=feed#sec2' and
    'https://example.com/docs/7' are the same page. One shuffle (the
    keep-first groupBy on the canonical key); canonicalization itself
    is zero-shuffle codegen string ops. At 100 TB the canonical key is
    the natural hash-partition key — the dedup is the same
    hash-partitioned keep-first as dedup_exact."""
    c = _canonical(_urls(spark, sf_dir))
    return c.groupBy("host", "path").agg(
        F.min("doc_id").alias("keep_doc_id"),
        (F.count(F.lit(1)) - 1).cast("long").alias("n_dups"),
    ).select(
        "host",
        F.concat(F.lit("https://"), F.col("host"), F.col("path")).alias(
            "canon_url"
        ),
        "keep_doc_id",
        "n_dups",
    )


_BLOCKLIST = ["example.org", "cdn.example.net"]


@register(
    "etl_url_blocklist_filter",
    oracle=f"""
WITH urls AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
{_CANON_SQL},
bl AS (SELECT * FROM (VALUES ('example.org'), ('cdn.example.net'))
       AS t(domain))
SELECT c.doc_id, c.host, 'https://' || c.host || c.path AS canon_url
FROM canon c
WHERE NOT EXISTS (
  SELECT 1 FROM bl
  WHERE c.host = bl.domain OR c.host LIKE '%.' || bl.domain)
""",
)
def etl_url_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist filter with registered-domain suffix matching:
    blocking 'example.org' must drop 'blog.example.org' too (host
    equality OR dot-boundary suffix — plain LIKE '%example.org' would
    also kill 'notexample.org'). The blocklist rides as a broadcast
    anti join, so the fact side streams through one
    BroadcastNestedLoopJoin with zero shuffles — the correct shape for
    a list of 10^4 domains against 10^10 URLs; beyond that, flip to an
    equi anti join on the extracted registered domain."""
    c = _canonical(_urls(spark, sf_dir))
    bl = spark.createDataFrame([(d,) for d in _BLOCKLIST], "domain string")
    cond = (F.col("host") == F.col("domain")) | F.col("host").endswith(
        F.concat(F.lit("."), F.col("domain"))
    )
    return c.join(F.broadcast(bl), cond, "left_anti").select(
        "doc_id",
        "host",
        F.concat(F.lit("https://"), F.col("host"), F.col("path")).alias(
            "canon_url"
        ),
    )


_QUALITY_DOC_SQL = """
q AS (
  SELECT doc_id,
    LEAST(LEN(toks) / 200.0, 1.0) * 0.5
      + CAST(LEN(list_filter(toks, x -> x IN ({stop}))) AS DOUBLE)
        / LEN(toks) * 0.3
      + LEAST((CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) / LEN(toks))
              / 10.0, 1.0) * 0.2 AS quality
  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
        FROM documents))
"""


@register(
    "etl_host_quality_filter",
    oracle=None,  # assembled below (needs STOPWORDS + dmean twin)
)
def etl_host_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level quality curation — the crawl-pipeline step after
    per-document scoring: aggregate the text_quality_score signal per
    registered host and flag hosts whose midpoint-free mean falls
    below the corpus mean (drop-the-spam-domain rule). The corpus
    stat rides as a 1-row broadcast; the host aggregate is one
    partial-agg shuffle over (host, quality) — at 100 TB this is the
    same shape as any per-key rollup, and the quality expression is
    whole-stage-codegen (no Python)."""
    from python_etl_spark.functions.text import stopword_count, ws_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    n_words = F.size(toks)
    awl = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "double"
    ) / n_words
    quality = (
        F.least(n_words / F.lit(200.0), F.lit(1.0)) * F.lit(0.5)
        + stopword_count(toks).cast("double") / n_words * F.lit(0.3)
        + F.least(awl / F.lit(10.0), F.lit(1.0)) * F.lit(0.2)
    )
    scored = docs.select("doc_id", quality.alias("quality"))
    hosts = _canonical(_urls(spark, sf_dir)).select("doc_id", "host")
    per_host = (
        hosts.join(scored, "doc_id")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            dmean("quality").alias("mean_quality"),
        )
    )
    corpus = scored.agg(dmean("quality").alias("__corpus_mean"))
    return per_host.crossJoin(F.broadcast(corpus)).select(
        "host",
        "n_docs",
        "mean_quality",
        (F.col("mean_quality") >= F.col("__corpus_mean")).alias("is_kept"),
    )


from python_etl_spark.functions.text import STOPWORDS as _SW  # noqa: E402
from python_etl_spark.plans.common import ORACLES as _OR  # noqa: E402

_OR["etl_host_quality_filter"] = f"""
WITH urls AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
{_CANON_SQL},
{_QUALITY_DOC_SQL.format(stop=", ".join(f"'{w}'" for w in _SW))},
h AS (
  SELECT c.host, CAST(COUNT(*) AS BIGINT) AS n_docs,
    {dmean_sql('q.quality')} AS mean_quality
  FROM canon c JOIN q ON q.doc_id = c.doc_id
  GROUP BY c.host),
corpus AS (SELECT {dmean_sql('quality')} AS m FROM q)
SELECT h.host, h.n_docs, h.mean_quality,
  h.mean_quality >= corpus.m AS is_kept
FROM h, corpus
"""


# --------------------------- HTML extraction ------------------------------
#
# Deterministic synthetic pages: head with style+script (must be
# dropped), nav/footer made of links (boilerplate — link density ~0.9),
# an h1 and a body paragraph (the real text), an ad block on every 3rd
# doc (pure-link line) and an entity-bearing tail paragraph on every
# 7th. The oracle predicts the full extraction arithmetic from `text`.

_HTML_SQL = """
  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
  || '</title><style>p{margin:0}</style><script>var x=1;</script></head>'
  || '<body><nav><a href="/">home</a> <a href="/t">tags</a> '
  || '<a href="/a">about</a></nav>'
  || '<h1>' || upper(substr(text, 1, 10)) || '</h1>'
  || '<p>' || text || '</p>'
  || CASE WHEN doc_id % 3 = 0
       THEN '<div class="ad"><a href="/buy">buy now great offer</a></div>'
       ELSE '' END
  || CASE WHEN doc_id % 7 = 0 THEN '<p>tail &amp; more</p>' ELSE '' END
  || '<footer><a href="/p">privacy</a> <a href="/c">contact</a></footer>'
  || '</body></html>'
"""


def _html_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(
            "</title><style>p{margin:0}</style><script>var x=1;</script>"
            "</head><body>"
            '<nav><a href="/">home</a> <a href="/t">tags</a> '
            '<a href="/a">about</a></nav>'
            "<h1>"
        ),
        F.upper(F.substring("text", 1, 10)),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p>"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit('<div class="ad"><a href="/buy">buy now great offer</a>'
                  "</div>"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0, F.lit("<p>tail &amp; more</p>")
        ).otherwise(F.lit("")),
        F.lit(
            '<footer><a href="/p">privacy</a> <a href="/c">contact</a>'
            "</footer></body></html>"
        ),
    )
    return docs.select("doc_id", "text", html.alias("html"))


@register(
    "text_html_extract",
    oracle="""
SELECT doc_id,
  -- trim: the extractor whitespace-normalizes each line, so an h1
  -- whose 10-char prefix ends mid-space loses the trailing blank
  trim(upper(substr(text, 1, 10))) || chr(10) || text
    || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'tail & more' ELSE '' END
    AS extracted_text,
  CAST(CASE WHEN doc_id % 7 = 0 THEN 3 ELSE 2 END AS INT) AS n_kept,
  CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS INT) AS n_dropped,
  CAST(strlen(trim(upper(substr(text, 1, 10))) || chr(10) || text
    || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'tail & more' ELSE '' END)
    AS INT) AS n_extracted_chars
FROM documents
""",
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text extraction (operators/html.py): stdlib-parser Arrow
    UDF drops head/script/style, splits block-level lines, decodes
    entities, and kills boilerplate lines by link density (nav, footer,
    and the doc_id%3 ad block all exceed 0.5; the h1, the body
    paragraph, and the doc_id%7 entity tail survive). The oracle
    reconstructs the exact surviving text from `text` in SQL, so the
    hash check proves the whole parse→filter pipeline. Zero shuffles —
    a pure Arrow map stage, the 100 TB crawl-extraction shape."""
    h = _html_docs(spark, sf_dir)
    out = h.select(
        "doc_id", html_extract_col("html", max_link_density=0.5).alias("e")
    )
    return out.select(
        "doc_id",
        F.col("e.extracted_text").alias("extracted_text"),
        F.col("e.n_kept").alias("n_kept"),
        F.col("e.n_dropped").alias("n_dropped"),
        F.length("e.extracted_text").cast("int").alias("n_extracted_chars"),
    )


# ---------------------------- robots filter -------------------------------
#
# Per-host robots.txt (deterministic), parsed with the STDLIB
# urllib.robotparser — rule shapes: plain prefix Disallow, Allow
# override, empty Disallow (allow-all), blanket "Disallow: /".

_ROBOTS_TXT = {
    "example.com": "User-agent: *\nDisallow: /docs/3\n",
    "news.example.com": "User-agent: *\nAllow: /docs/12\nDisallow: /docs/1\n",
    "blog.example.org": "User-agent: *\nDisallow:\n",
    "cdn.example.net": "User-agent: *\nDisallow: /\n",
}


@register(
    "etl_robots_filter",
    oracle=f"""
WITH urls AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
{_CANON_SQL}
SELECT doc_id, host, path,
  CASE host
    WHEN 'example.com' THEN NOT path LIKE '/docs/3%'
    WHEN 'news.example.com'
      THEN (path LIKE '/docs/12%') OR NOT (path LIKE '/docs/1%')
    WHEN 'blog.example.org' THEN TRUE
    ELSE FALSE END AS allowed
FROM canon
""",
)
def etl_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt compliance filter — the crawl-politeness step: each
    host's robots rules (prefix Disallow, Allow override, empty
    Disallow, blanket block) are evaluated with the STDLIB
    urllib.robotparser inside an Arrow UDF over the DISTINCT
    (host, path) pairs (bounded by the URL space, not the corpus),
    and the verdicts broadcast-join back to the documents. The oracle
    re-derives every verdict from the rule semantics in SQL, so a
    hash match proves the parser integration end-to-end. At 100 TB
    the robots fetch+parse cost is O(#hosts) and the per-URL check is
    a broadcast-joined lookup."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    c = _canonical(_urls(spark, sf_dir))

    # no type annotations: postponed evaluation (future annotations)
    # would leave them as unresolvable strings for pyspark's inspector
    @pandas_udf("boolean", PandasUDFType.SCALAR)
    def allowed(host, path):
        from urllib.robotparser import RobotFileParser

        import pandas as pd

        parsers: dict[str, RobotFileParser] = {}

        def check(h, p):
            rp = parsers.get(h)
            if rp is None:
                rp = RobotFileParser()
                rp.parse(_ROBOTS_TXT.get(h, "").splitlines())
                parsers[h] = rp
            return bool(rp.can_fetch("*", f"https://{h}{p}"))

        return pd.Series(
            [check(h, p) for h, p in zip(host, path)]
        )

    pairs = c.select("host", "path").distinct().select(
        "host", "path", allowed("host", "path").alias("allowed")
    )
    return c.join(F.broadcast(pairs), ["host", "path"]).select(
        "doc_id", "host", "path", "allowed"
    )


# ----------------------------- link graph ---------------------------------
#
# Link pages: each document links to two OTHER hosts with arithmetic-
# determined paths — the deterministic stand-in for real outlinks, so
# the oracle can predict the whole parse -> canonicalize -> aggregate
# edge list.

_LINKS_SQL = """
links AS (
  SELECT doc_id,
    lower(CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN 'example.com' WHEN 1 THEN 'news.example.com'
      WHEN 2 THEN 'blog.example.org' ELSE 'cdn.example.net' END)
      AS src_host,
    lower(CASE CAST((doc_id + 1) % 4 AS INT)
      WHEN 0 THEN 'example.com' WHEN 1 THEN 'news.example.com'
      WHEN 2 THEN 'blog.example.org' ELSE 'cdn.example.net' END)
      AS dst1,
    lower(CASE CAST((doc_id + 2) % 4 AS INT)
      WHEN 0 THEN 'example.com' WHEN 1 THEN 'news.example.com'
      WHEN 2 THEN 'blog.example.org' ELSE 'cdn.example.net' END)
      AS dst2
  FROM documents)
"""

_CANON_HOSTS = [
    "example.com", "news.example.com", "blog.example.org", "cdn.example.net"
]


def _link_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")

    def pick(expr):
        c = F.when(expr == 0, F.lit(_CANON_HOSTS[0]))
        for i in (1, 2):
            c = c.when(expr == i, F.lit(_CANON_HOSTS[i]))
        return c.otherwise(F.lit(_CANON_HOSTS[3]))

    # the CASE arithmetic must mirror _LINKS_SQL exactly
    d1 = pick((F.col("doc_id") + 1) % 4)
    d2 = pick((F.col("doc_id") + 2) % 4)
    html = F.concat(
        F.lit("<body><p>"),
        F.substring("text", 1, 30),
        F.lit('</p><div class="rel"><a href="https://'),
        d1,
        F.lit("/docs/"),
        ((F.col("doc_id") * 7) % 40).cast("string"),
        F.lit('">rel1</a> <a href="https://'),
        d2,
        F.lit("/docs/"),
        ((F.col("doc_id") * 3) % 40).cast("string"),
        F.lit('">rel2</a></div>'
              '<script>var u="https://tracker.invalid/x";</script></body>'),
    )
    return docs.select("doc_id", pick(F.col("doc_id") % 4).alias("src_host"),
                       html.alias("html"))


@register(
    "etl_link_graph",
    oracle=f"""
WITH {_LINKS_SQL},
e AS (
  SELECT src_host, dst1 AS dst_host FROM links
  UNION ALL
  SELECT src_host, dst2 FROM links)
SELECT src_host, dst_host, CAST(COUNT(*) AS BIGINT) AS n_links
FROM e GROUP BY src_host, dst_host
""",
)
def etl_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link graph from HTML: Arrow-batched href extraction
    (operators/html.extract_links — body links only, the script-embedded
    URL must NOT leak in), host canonicalization via the same regexes as
    the URL suite, then one grouped count to (src_host, dst_host)
    edges. This is the crawl-frontier / PageRank input builder; at
    100 TB it is a map stage plus a single partial-agg shuffle whose key
    cardinality is |hosts|^2, not pages. The oracle predicts every edge
    from the page-construction arithmetic."""
    pages = _link_pages(spark, sf_dir)
    edges = pages.select(
        "src_host", F.explode(html_links_col("html")).alias("href")
    )
    dst = F.regexp_replace(
        F.lower(F.regexp_extract("href", _HOST_RE, 1)), r"^www\.", ""
    )
    return (
        edges.select("src_host", dst.alias("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_links"))
    )


# ----------------------------- BPE tokens ---------------------------------

_BPE_K = 24  # merges in the single-round checked twin
_BPE_TRAIN_MERGES = 32  # merges in the fully-trained variant

# Shared recursive-CTE block: single-round merge TRAINING (top-K
# adjacent symbol pairs of the initial char representation by corpus
# frequency, ties (count desc, pair lex)) and the rank-order-exhaustive
# leftmost APPLICATION — the same spec operators/bpe.py implements.
# Yields CTEs: per_doc(doc_id, w, n) and type_tokens(w, w_tokens).
_BPE_SQL_CTES = f"""
toks AS (
  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
  FROM documents
),
per_doc AS (
  SELECT doc_id, w, COUNT(*) AS n FROM toks WHERE w <> '' GROUP BY doc_id, w
),
types AS (
  SELECT w, SUM(n) AS c FROM per_doc GROUP BY w
),
syms AS (
  SELECT w, c, list_append(string_split(w, ''), '</w>') AS cs FROM types
),
pairs AS (
  SELECT cs[i] AS a, cs[i + 1] AS b, SUM(c) AS cnt
  FROM syms,
    (SELECT unnest(generate_series(1,
        (SELECT MAX(len(cs)) FROM syms))) AS i)
  WHERE i < len(cs)
  GROUP BY cs[i], cs[i + 1]
),
merges AS (
  SELECT a, b, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, a, b) AS INT) AS mr
  FROM pairs QUALIFY mr <= {_BPE_K}
),
apply AS (
  SELECT w,
    ' ' || array_to_string(list_append(string_split(w, ''), '</w>'), ' ')
        || ' ' AS s,
    1 AS r
  FROM types
  UNION ALL
  SELECT apply.w,
    CASE WHEN instr(s, ' ' || a || ' ' || b || ' ') > 0
      THEN substr(s, 1, instr(s, ' ' || a || ' ' || b || ' ') - 1)
           || ' ' || a || b || ' '
           || substr(s, instr(s, ' ' || a || ' ' || b || ' ')
                        + length(' ' || a || ' ' || b || ' '))
      ELSE s END,
    CASE WHEN instr(s, ' ' || a || ' ' || b || ' ') > 0
      THEN apply.r ELSE apply.r + 1 END
  FROM apply JOIN merges ON merges.mr = apply.r
  WHERE apply.r <= (SELECT MAX(mr) FROM merges)
),
type_tokens AS (
  SELECT w, CAST(length(s) - length(replace(s, ' ', '')) - 1 AS INT)
    AS w_tokens
  FROM apply
  WHERE r = (SELECT COALESCE(MAX(mr), 0) FROM merges) + 1
)"""
# ^ capped at the ACTUAL merge count, not _BPE_K: a corpus with fewer
# than _BPE_K distinct adjacent pairs yields a short merge table
# (ROW_NUMBER ranks are contiguous 1..#pairs), and a fixed K+1 exit
# rank would never be reached — empty oracle vs populated Spark side.
# MAX(mr) matches Spark's _single_round_merges limit exactly.


def _single_round_merges(docs: DataFrame) -> list[tuple[str, str]]:
    """Top-K adjacent symbol pairs of the initial char representation,
    weighted by word-type frequency, ties (count desc, pair lex) — the
    SQL-expressible merge table both checked BPE queries share. The
    collect is bounded model state: exactly K rows."""
    words = docs.select(
        F.explode(F.split("text", r"\s+", -1)).alias("w")
    ).where(F.col("w") != "")
    types = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    cs = F.concat(F.split("w", "", -1), F.array(F.lit("</w>")))
    pairs = (
        types.select("c", cs.alias("cs"))
        .select(
            "c",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(cs) - 1), "
                    "i -> struct(cs[i - 1] AS a, cs[i] AS b))"
                )
            ).alias("p"),
        )
        .groupBy("p.a", "p.b")
        .agg(F.sum("c").alias("cnt"))
        .orderBy(F.desc("cnt"), "a", "b")
        .limit(_BPE_K)
        .collect()
    )
    return [(r["a"], r["b"]) for r in pairs]


@register(
    "text_bpe_tokens_checked",
    oracle=f"""
WITH RECURSIVE
{_BPE_SQL_CTES}
SELECT p.doc_id,
  CAST(SUM(p.n) AS BIGINT) AS n_ws_tokens,
  CAST(SUM(p.n * t.w_tokens) AS BIGINT) AS n_bpe_tokens
FROM per_doc p JOIN type_tokens t ON t.w = p.w
GROUP BY p.doc_id
""",
)
def text_bpe_tokens_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_bpe_tokens' plan shape with the ITERATIVE merge training
    (not SQL-expressible: each round's pair counts depend on the
    previous merges) swapped for a single-round merge table — the top
    K adjacent symbol pairs of the initial char representation by
    corpus frequency, ties (count desc, pair lex) — which DuckDB CAN
    compute, and whose APPLICATION the oracle replays exactly with a
    recursive CTE (rank-order, exhaustive leftmost replacement — the
    same spec operators/bpe.py implements). Same plan shape as the
    trained variant: one corpus shuffle for (doc, word) counts, Arrow
    tokenization over the tiny distinct-types frame, broadcast join
    back, grouped sum — fully hash-checkable."""
    docs = _t(spark, sf_dir, "documents")
    merges = _single_round_merges(docs)
    out = doc_token_counts(docs, merges)
    return out.select("doc_id", "n_ws_tokens", "n_bpe_tokens")


@register(
    "etl_mixture_report_bpe",
    oracle=f"""
WITH RECURSIVE
{_BPE_SQL_CTES},
doc_tok AS (
  SELECT p.doc_id, CAST(SUM(p.n * t.w_tokens) AS BIGINT) AS n_bpe
  FROM per_doc p JOIN type_tokens t ON t.w = p.w
  GROUP BY p.doc_id),
g AS (
  SELECT d.lang, d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(dt.n_bpe) AS BIGINT) AS n_bpe_tokens
  FROM documents d JOIN doc_tok dt ON dt.doc_id = d.doc_id
  GROUP BY d.lang, d.source)
SELECT lang, source, n_docs, n_bpe_tokens,
  ROUND(n_bpe_tokens * 1.0 / SUM(n_bpe_tokens) OVER (), 6)
    AS token_share
FROM g
""",
)
def etl_mixture_report_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """etl_mixture_report with REAL tokenizer tokens: mixture budgets
    per (lang, source) counted in BPE tokens (single-round merge table
    so the whole thing stays hash-checkable) instead of whitespace
    words — the unit a training-data mixture is actually specified in.
    The unbounded share window runs over the |langs| x |sources|
    aggregate, never the corpus; the corpus itself is touched by the
    same single shuffle as text_bpe_tokens_checked plus one broadcast
    join of per-doc counts back to the (lang, source) labels."""
    docs = _t(spark, sf_dir, "documents")
    merges = _single_round_merges(docs)
    per_doc = doc_token_counts(docs, merges).select(
        "doc_id", F.col("n_bpe_tokens").alias("n_bpe")
    )
    g = (
        docs.select("doc_id", "lang", "source")
        .join(per_doc, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
        )
    )
    w = Window.partitionBy()
    return g.select(
        "lang",
        "source",
        "n_docs",
        "n_bpe_tokens",
        F.round(
            F.col("n_bpe_tokens") / F.sum("n_bpe_tokens").over(w), 6
        ).alias("token_share"),
    )


@register("text_bpe_tokens")  # rows-only: iterative training isn't SQL
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real mini-BPE token accounting: train 32 merges with the full
    iterative Sennrich loop (pair counts recomputed after every merge,
    deterministic tie-break) over the aggregated (word, count) type
    table, broadcast the merge table, tokenize distinct types with the
    Arrow UDF, and roll token counts up per document. Rows-only at the
    driver (the iterative training is not SQL-expressible); exactness
    is pytest-pinned against a pure-Python reference and the
    hash-checked `text_bpe_tokens_checked` twin covers the identical
    apply/rollup plan. The corpus is touched by ONE shuffle; training
    and tokenization run on the Zipf-bounded type table."""
    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe(corpus_word_counts(docs), _BPE_TRAIN_MERGES)
    out = doc_token_counts(docs, merges)
    return out.select("doc_id", "n_ws_tokens", "n_bpe_tokens")


# ----------------------------- WARC ingest --------------------------------
#
# The real crawl ingest path: the synthetic HTML pages are packed into
# genuine .warc.gz containers (per-record gzip members, HTTP response
# wrapping — the Common Crawl layout) ONCE per (session, sf_dir), then
# every WARC query starts from read_warc over those files, proving the
# container -> record -> payload pipeline end-to-end. The oracles
# replay the page-construction arithmetic straight from `documents`,
# so a hash match proves the WARC round-trip changed NOTHING.

_WARC_CACHE: set[str] = set()  # roots whose write finished


def _warc_dir(spark: SparkSession, sf_dir: str) -> str:
    """Session-scoped WARC materialization of the synthetic crawl,
    under ``fixture_root``: built once, reused by every WARC query in
    the session. ``_WARC_CACHE`` records that the write finished, so a
    half-written directory is rebuilt."""
    import os

    from python_etl_spark.sources.warc import write_warc

    out = fixture_root(spark, sf_dir, "warc")
    if out in _WARC_CACHE and os.path.isdir(out):
        return out
    pages = _html_docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://warc.example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("target_uri"),
        F.col("html").alias("body"),
    )
    # 8 containers: enough files that read_warc's one-task-per-file
    # parallelism is actually exercised at test scale
    write_warc(pages.repartition(8), out)
    _WARC_CACHE.add(out)
    return out


def _warc_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + HTML payload recovered FROM the WARC containers."""
    from python_etl_spark.sources.warc import read_warc

    recs = read_warc(spark, _warc_dir(spark, sf_dir))
    return recs.where(
        (F.col("warc_type") == "response") & (F.col("http_status") == 200)
    ).select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("payload").cast("string").alias("html"),
        F.length("payload").cast("long").alias("n_body_bytes"),
        "http_content_type",
        "is_truncated",
    )


@register(
    "etl_warc_ingest_stats",
    oracle=f"""
SELECT doc_id,
  CAST(octet_length(encode({_HTML_SQL})) AS BIGINT) AS n_body_bytes,
  'text/html; charset=utf-8' AS http_content_type,
  FALSE AS is_truncated
FROM documents
""",
)
def etl_warc_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl ingest from the actual container format: pages packed
    into .warc.gz (per-record gzip members, HTTP response framing),
    read back distributed (sources/warc.read_warc — one task per
    container, zero shuffles), doc identity recovered from the target
    URI, body length measured in BYTES on the recovered payload. The
    oracle computes the same byte length from the page-construction
    arithmetic, so a hash match proves the full pack→gzip→parse→HTTP
    strip round-trip is byte-faithful. At 100 TB this plan shape IS
    the Common Crawl ingest job: ~one task per 1 GB .warc.gz."""
    return _warc_docs(spark, sf_dir).select(
        "doc_id", "n_body_bytes", "http_content_type", "is_truncated"
    )


@register(
    "text_html_extract_warc",
    oracle="""
SELECT doc_id,
  trim(upper(substr(text, 1, 10))) || chr(10) || text
    || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'tail & more' ELSE '' END
    AS extracted_text,
  CAST(CASE WHEN doc_id % 7 = 0 THEN 3 ELSE 2 END AS INT) AS n_kept,
  CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS INT) AS n_dropped
FROM documents
""",
)
def text_html_extract_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl family running END-TO-END from WARC: containers →
    read_warc → HTTP body → HTML→text extraction (the same extractor
    text_html_extract hash-proves on in-plan HTML). Same oracle shape
    as text_html_extract — the WARC hop must be transparent. This is
    the full WARC → extract path of a production crawl pipeline; the
    extraction stays a pure Arrow map stage on top of the ingest map,
    still zero shuffles."""
    h = _warc_docs(spark, sf_dir)
    out = h.select(
        "doc_id", html_extract_col("html", max_link_density=0.5).alias("e")
    )
    return out.select(
        "doc_id",
        F.col("e.extracted_text").alias("extracted_text"),
        F.col("e.n_kept").alias("n_kept"),
        F.col("e.n_dropped").alias("n_dropped"),
    )


# --------------------------- encoding repair ------------------------------
#
# Deterministic synthetic mojibake over the (pure-ASCII) documents
# text: every doc gets an accented prefix; doc_id%3 docs get it
# utf-8→latin-1 DOUBLE-decoded once (cafÃ©), doc_id%9 docs twice
# (cafÃƒÂ©). The repair operator must fix exactly those, in exactly
# that many passes, and leave the clean accented prefix alone — the
# oracle predicts everything from the construction arithmetic.

_ENC_OK = "café "
_ENC_BAD1 = _ENC_OK.encode("utf-8").decode("latin-1")      # 6 chars
_ENC_BAD2 = _ENC_BAD1.encode("utf-8").decode("latin-1")    # 8 chars


@register(
    "text_encoding_repair",
    oracle=f"""
SELECT doc_id,
  'café ' || text AS repaired_text,
  CAST(CASE WHEN doc_id % 9 = 0 THEN 2
            WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT) AS n_passes,
  doc_id % 3 = 0 AS was_mojibake,
  CAST(strlen(text) + CASE WHEN doc_id % 9 = 0 THEN {len(_ENC_BAD2)}
       WHEN doc_id % 3 = 0 THEN {len(_ENC_BAD1)}
       ELSE {len(_ENC_OK)} END AS INT) AS n_chars_before,
  CAST(strlen(text) + {len(_ENC_OK)} AS INT) AS n_chars_after
FROM documents
""",
)
def text_encoding_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-style mojibake repair (operators/encoding.py): the
    latin-1/cp1252⇄utf-8 round-trip test finds double-encoded text and
    decodes it back, iterating to a fixpoint (the doc_id%9 rows need
    TWO passes); genuinely-clean accented text fails the utf-8
    round-trip and is untouched. The oracle predicts the repaired
    string, pass counts, and before/after char lengths from the
    corruption arithmetic — a hash match proves the operator undid
    exactly the planted corruption and nothing else. Zero shuffles:
    a pure Arrow map stage, the standard first step on raw web text
    (run before language ID — mojibake wrecks n-gram profiles)."""
    from python_etl_spark.operators.encoding import repair_mojibake_col

    docs = _t(spark, sf_dir, "documents")
    prefix = (
        F.when(F.col("doc_id") % 9 == 0, F.lit(_ENC_BAD2))
        .when(F.col("doc_id") % 3 == 0, F.lit(_ENC_BAD1))
        .otherwise(F.lit(_ENC_OK))
    )
    raw = docs.select(
        "doc_id", F.concat(prefix, F.col("text")).alias("raw_text")
    )
    fixed = raw.select(
        "doc_id",
        F.length("raw_text").cast("int").alias("n_chars_before"),
        repair_mojibake_col("raw_text").alias("r"),
    )
    return fixed.select(
        "doc_id",
        F.col("r.repaired").alias("repaired_text"),
        F.col("r.n_passes").alias("n_passes"),
        (F.col("r.n_passes") >= 1).alias("was_mojibake"),
        "n_chars_before",
        F.length("r.repaired").cast("int").alias("n_chars_after"),
    )


# ------------------ unigram-LM (SentencePiece-style) tokens ----------------
#
# The second real tokenizer family next to BPE: operators/unigram.py
# trains an EM-pruned unigram piece vocabulary over the same capped
# type table and segments by Viterbi. text_unigram_lm_tokens is the
# trained path (rows-only: EM + Viterbi DP are not SQL-expressible;
# exactness pytest-pinned, tests/test_web.py). The checked twin swaps
# Viterbi for GREEDY LONGEST-MATCH over a SQL-computable substring
# vocabulary, which a DuckDB recursive CTE replays exactly — the BPE
# checked-twin pattern.

_UNI_VOCAB = 256     # trained model size ([R] path)
_UNI_K = 64          # checked twin: substring-vocab head size
_UNI_MAXLEN = 4      # max piece length (both paths)
_UNI_MAXW = 16       # checked twin: word-length filter, keeps the SQL
#                      substring enumeration complete and the greedy
#                      recursion depth bounded (both engines filter
#                      identically, so parity is exact)


@register("text_unigram_lm_tokens")  # rows-only: EM/Viterbi isn't SQL
def text_unigram_lm_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM token accounting: seed substring
    vocabulary -> 2 EM rounds (Viterbi E-step over the capped type
    table, count-ranked pruning M-step) -> per-document piece counts.
    Plan shape identical to text_bpe_tokens: ONE corpus shuffle for
    (doc, word) counts, the Arrow tokenizer touches only DISTINCT
    types, broadcast join back, grouped sum — training state is
    bounded (capped type table in, <= vocab_size pieces out)."""
    from python_etl_spark.operators.unigram import (
        doc_piece_counts,
        train_unigram,
        viterbi_tokenize,
    )

    docs = _t(spark, sf_dir, "documents")
    model = train_unigram(
        corpus_word_counts(docs), _UNI_VOCAB, _UNI_MAXLEN, iters=2
    )
    out = doc_piece_counts(
        docs, lambda w: viterbi_tokenize(w, model, _UNI_MAXLEN)
    )
    return out.select("doc_id", "n_ws_tokens", "n_unigram_tokens")


def _greedy_vocab(docs: DataFrame) -> set[str]:
    """The SQL-expressible piece vocabulary: top-K substrings (length
    1..MAXLEN) of word types <= MAXW chars, weighted by corpus word
    count, ties (count desc, piece asc) — plus every single char (the
    greedy coverage floor). Two bounded collects (K rows + alphabet)."""
    words = docs.select(
        F.explode(F.split("text", r"\s+", -1)).alias("w")
    ).where((F.col("w") != "") & (F.length("w") <= _UNI_MAXW))
    types = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    subs = (
        types.select(
            "c",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, length(w)), i -> "
                    f"transform(sequence(1, least({_UNI_MAXLEN}, "
                    f"length(w) - i + 1)), l -> substr(w, i, l))))"
                )
            ).alias("p"),
        )
        .groupBy("p")
        .agg(F.sum("c").alias("n"))
    )
    head = subs.orderBy(F.desc("n"), F.asc("p")).limit(_UNI_K).collect()
    chars = subs.where(F.length("p") == 1).select("p").collect()
    return {r["p"] for r in head} | {r["p"] for r in chars}


_UNI_SQL_CTES = f"""
toks AS (
  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
  FROM documents),
fw AS (
  SELECT doc_id, w FROM toks
  WHERE w <> '' AND length(w) <= {_UNI_MAXW}),
per_doc AS (
  SELECT doc_id, w, COUNT(*) AS n FROM fw GROUP BY doc_id, w),
types AS (SELECT w, SUM(n) AS c FROM per_doc GROUP BY w),
subs AS (
  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS p, SUM(c) AS n
  FROM types, range(1, {_UNI_MAXW + 1}) r(i),
       range(1, {_UNI_MAXLEN + 1}) s(l)
  WHERE CAST(i AS INT) + CAST(l AS INT) - 1 <= length(w)
  GROUP BY 1),
headv AS (SELECT p FROM subs ORDER BY n DESC, p LIMIT {_UNI_K}),
vocab AS (
  SELECT DISTINCT p FROM (
    SELECT p FROM headv
    UNION
    SELECT p FROM subs WHERE length(p) = 1)),
seg AS (
  SELECT w, 1 AS pos, 0 AS ntok FROM types
  UNION ALL
  SELECT s.w,
    s.pos + (SELECT MAX(length(v.p)) FROM vocab v
             WHERE v.p = substr(s.w, s.pos, length(v.p))),
    s.ntok + 1
  FROM seg s WHERE s.pos <= length(s.w)),
fin AS (SELECT w, ntok FROM seg WHERE pos = length(w) + 1)"""


@register(
    "text_unigram_tokens_checked",
    oracle=f"""
WITH RECURSIVE
{_UNI_SQL_CTES}
SELECT p.doc_id,
  CAST(SUM(p.n) AS BIGINT) AS n_ws_tokens,
  CAST(SUM(p.n * t.ntok) AS BIGINT) AS n_piece_tokens
FROM per_doc p JOIN fin t ON t.w = p.w
GROUP BY p.doc_id
""",
)
def text_unigram_tokens_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_unigram_lm_tokens' plan shape with Viterbi swapped for
    GREEDY longest-match over a fixed substring vocabulary (top-K
    weighted substrings + all single chars — SQL-computable, unlike
    the EM model), whose segmentation the oracle replays with a
    recursive max-munch CTE. Words longer than {maxw} chars are
    filtered on BOTH sides so the SQL substring enumeration stays
    complete. Same 100 TB posture: one corpus shuffle, Arrow stage
    over distinct types only, broadcast join back.""".format(
        maxw=_UNI_MAXW
    )
    from python_etl_spark.operators.unigram import greedy_tokenize

    docs = _t(spark, sf_dir, "documents")
    vocab = _greedy_vocab(docs)
    fdocs = docs.select(
        "doc_id",
        F.array_join(
            F.filter(
                F.split("text", r"\s+", -1),
                lambda w: (w != "") & (F.length(w) <= _UNI_MAXW),
            ),
            " ",
        ).alias("text"),
    )
    from python_etl_spark.operators.unigram import doc_piece_counts

    out = doc_piece_counts(
        fdocs,
        lambda w: greedy_tokenize(w, vocab, _UNI_MAXLEN),
        out_col="n_piece_tokens",
    )
    return out.select("doc_id", "n_ws_tokens", "n_piece_tokens")


@register(
    "etl_mixture_report_unigram",
    oracle=f"""
WITH RECURSIVE
{_UNI_SQL_CTES},
doc_tok AS (
  SELECT p.doc_id, CAST(SUM(p.n * t.ntok) AS BIGINT) AS n_pieces
  FROM per_doc p JOIN fin t ON t.w = p.w
  GROUP BY p.doc_id),
g AS (
  SELECT d.lang, d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(dt.n_pieces) AS BIGINT) AS n_piece_tokens
  FROM documents d JOIN doc_tok dt ON dt.doc_id = d.doc_id
  GROUP BY d.lang, d.source)
SELECT lang, source, n_docs, n_piece_tokens,
  ROUND(n_piece_tokens * 1.0 / SUM(n_piece_tokens) OVER (), 6)
    AS token_share
FROM g
""",
)
def etl_mixture_report_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """etl_mixture_report RE-BASED on unigram pieces: mixture budgets
    per (lang, source) counted in greedy unigram-LM tokens (the
    SQL-replayable vocabulary, so the whole report stays
    hash-checkable) — the second real-tokenizer unit for mixture specs
    next to etl_mixture_report_bpe. Same plan: one corpus shuffle,
    Arrow stage over distinct types, per-doc counts broadcast back to
    the (lang, source) labels, share window over the tiny aggregate."""
    from python_etl_spark.operators.unigram import (
        doc_piece_counts,
        greedy_tokenize,
    )

    docs = _t(spark, sf_dir, "documents")
    vocab = _greedy_vocab(docs)
    fdocs = docs.select(
        "doc_id",
        F.array_join(
            F.filter(
                F.split("text", r"\s+", -1),
                lambda w: (w != "") & (F.length(w) <= _UNI_MAXW),
            ),
            " ",
        ).alias("text"),
    )
    per_doc = doc_piece_counts(
        fdocs,
        lambda w: greedy_tokenize(w, vocab, _UNI_MAXLEN),
        out_col="n_pieces",
    ).select("doc_id", "n_pieces")
    g = (
        docs.select("doc_id", "lang", "source")
        .join(per_doc, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_pieces").cast("long").alias("n_piece_tokens"),
        )
    )
    w = Window.partitionBy()
    return g.select(
        "lang",
        "source",
        "n_docs",
        "n_piece_tokens",
        F.round(
            F.col("n_piece_tokens") / F.sum("n_piece_tokens").over(w), 6
        ).alias("token_share"),
    )
