"""URL canonicalization and per-domain capping — the crawl-curation
stage between raw page ingest and dedup/mixing: normalize each page's
URL (so trivially-distinct aliases collapse), extract the registrable
domain, and cap the number of documents any one domain contributes to
a training mix (boilerplate farms / SEO mills otherwise dominate).

Everything is JVM-side SQL expressions (regexp + string functions —
whole-stage codegen, zero UDF), and every rule is mirrored 1:1 by a
DuckDB oracle (q_url_normalize / q_domain_cap), so the exact semantics
are hash-verified at three scale factors.

Normalization contract (applied in this order; chosen to match common
crawl-pipeline canonicalizers and documented here as THE spec):
  1. strip the fragment (``#...``);
  2. drop tracking query params (``utm_*``, ``fbclid``, ``gclid``) —
     any position, any count; a query left empty loses its ``?``;
  3. lowercase the scheme and authority (path/query case preserved);
  4. strip default ports (``:80`` for http, ``:443`` for https);
  5. collapse a bare-root trailing slash (``http://h/`` → ``http://h``).

Registrable domain: last two host labels, except for a built-in list
of common two-part public suffixes (``co.uk``-style) where it is the
last three.  This is the standard approximation when shipping without
the full Public Suffix List; swap REGISTRABLE_2PART for a PSL table
(broadcast join) in deployments that need exactness — the cap
operator is agnostic to how the domain column was derived.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .policy import share

TRACKING = r"(utm_[^=&#]*|fbclid|gclid)"

# common two-part public suffixes (approximation; see module docstring)
REGISTRABLE_2PART = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "or.jp", "ne.jp", "com.br", "com.cn", "com.mx", "co.in",
    "co.kr", "com.tr", "com.ar", "co.za", "com.sg", "com.hk",
)


def synth_messy_urls(docs: DataFrame, id_col: str = "doc_id",
                     source_col: str = "source") -> DataFrame:
    """Deterministic messy-URL column derived from (doc_id, source) —
    the driver-demo input for the normalizer (the testdata tables
    carry no URL column; per the task constraints the input is
    synthesized from the table itself, identically in Spark and in the
    DuckDB oracle via md5 hex digits).  Exercises every normalization
    rule: mixed-case scheme/host, default and non-default ports, root
    and real paths, tracking params in every position, fragments."""
    h = F.md5(F.concat(F.lit("u"), F.col(id_col).cast("string"))
              .cast("binary"))

    def d(i: int) -> Column:
        return F.substring(h, i, 1)

    sid = F.col(id_col).cast("string")
    scheme = F.when(d(1) < "8", F.lit("https")).otherwise(F.lit("HTTPS"))
    src = F.when(d(2) < "4", F.upper(F.col(source_col))) \
           .otherwise(F.col(source_col))
    suffix = (F.when(d(3) < "8", F.lit(".com"))
              .when(d(3) < "c", F.lit(".co.uk"))
              .otherwise(F.lit(".org")))
    port = (F.when(d(4) < "3", F.lit(":443"))
            .when(d(4) < "6", F.lit(":8080"))
            .otherwise(F.lit("")))
    path = (F.when(d(5) < "2", F.lit("/"))
            .when(d(5) < "4", F.lit(""))
            .otherwise(F.concat(F.lit("/Doc/"), sid)))
    query = (F.when(d(6) < "4", F.concat(F.lit("?utm_source=x&ref="), sid))
             .when(d(6) < "8",
                   F.concat(F.lit("?ref="), sid, F.lit("&utm_campaign=y")))
             .when(d(6) < "c", F.lit("?utm_only=1"))
             .otherwise(F.lit("")))
    frag = F.when(d(1) >= "c", F.lit("#sec")).otherwise(F.lit(""))
    return docs.withColumn("url", F.concat(scheme, F.lit("://"), src, suffix,
                                           port, path, query, frag))


def normalize_url(url: Column) -> Column:
    """The 5-step canonicalization above as one codegen'd expression.

    Regex discipline: end-of-string is `\\z` and match-anything is
    `[\\s\\S]*`, never `$` / `.*` — Java regex (Spark) lets `$` match
    before a trailing newline and RE2 (the DuckDB oracle) does not, so
    `$`-anchored rules would diverge on pathological newline-bearing
    inputs (found by cross-engine fuzzing; real URLs cannot contain
    raw newlines, but the operator must not care)."""
    x = F.regexp_replace(url, r"#[\s\S]*", "")                   # 1
    # 2: structural param filter — split the query on '&' and drop the
    # params NAMED utm_*/fbclid/gclid (anchored match).  A regex strip
    # was substring-confusable: '?xutm_a=1&b=2' lost part of the
    # NON-tracking param 'xutm_a' (review r5).  A query left empty
    # (or a bare '?') loses its '?'.
    base = F.regexp_extract(x, r"^([^?]*)", 1)
    query = F.regexp_extract(x, r"^[^?]*\?([\s\S]*)", 1)
    parts = F.filter(F.split(query, "&"),
                     lambda p: ~p.rlike("^" + TRACKING + "="))
    x = (F.when(F.length(query) == 0, base)
         .when(F.size(parts) == 0, base)
         .otherwise(F.concat(base, F.lit("?"), F.array_join(parts, "&"))))
    head = F.lower(F.regexp_extract(x, r"^([^/?#]*://[^/?#]*)", 1))  # 3
    tail = F.regexp_replace(x, r"^[^/?#]*://[^/?#]*", "")
    x = F.concat(head, tail)
    x = F.regexp_replace(x, r"^(http://[^/?#:]*):80(\z|[/?#][\s\S]*)", r"$1$2")   # 4
    x = F.regexp_replace(x, r"^(https://[^/?#:]*):443(\z|[/?#][\s\S]*)", r"$1$2")
    return F.regexp_replace(x, r"^(https?://[^/?#]*)/\z", r"$1")  # 5


def host_of(url_norm: Column) -> Column:
    """Authority minus port from an already-normalized URL."""
    return F.regexp_extract(url_norm, r"^[a-z]+://([^/:?#]*)", 1)


def registrable_domain(host: Column) -> Column:
    labels = F.split(host, r"[.]")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    last3 = F.concat_ws(".", F.element_at(labels, -3), F.element_at(labels, -2),
                        F.element_at(labels, -1))
    return (F.when(n <= 2, host)
            .when(last2.isin(*REGISTRABLE_2PART) & (n >= 3), last3)
            .otherwise(last2))


# demo public-suffix table for the driver query / tests — a real
# deployment loads the full Public Suffix List into the same
# one-column DataFrame (plain rules only; wildcard/exception rules
# are out of scope and documented unsupported)
PSL_DEMO = ("com", "org", "net", "io", "dev", "uk", "co.uk", "org.uk",
            "ac.uk", "au", "com.au", "jp", "co.jp", "br", "com.br")


def registrable_domain_exact(docs: DataFrame, psl: DataFrame,
                             host_col: str = "host",
                             out_col: str = "domain_exact") -> DataFrame:
    """Exact eTLD+1 by longest-suffix match against a public-suffix
    table — the drop-in replacement for the ``registrable_domain``
    approximation when PSL fidelity matters.

    Scale shape: the match runs on DISTINCT hosts only (a narrow
    host-column shuffle, cardinality ≪ corpus): each distinct host
    explodes its ≤ #labels candidate suffixes, broadcast-equi-joins the
    PSL (∼10k rows), and the longest match wins (min start index).
    The resulting host → domain mapping joins back on host (AQE picks
    the strategy; at crawl scale pre-bucket both sides by host).
    Hosts matching no PSL rule fall back to the two-label
    approximation; a host that IS a public suffix maps to NULL."""
    labels = F.split(F.col(host_col), r"[.]")
    n = F.size(labels)
    hosts = docs.select(host_col).where(F.col(host_col).isNotNull()).distinct()
    # candidate suffix starting at 1-based label i, exploded with its
    # 0-based position p (suffix at p starts at label p+1)
    cands = hosts.select(
        F.col(host_col),
        F.posexplode(
            F.transform(F.sequence(F.lit(1), n),
                        lambda i: F.concat_ws(
                            ".", F.slice(labels, i, n - i + 1))))
        .alias("pos", "suffix"))
    matched = (cands.join(F.broadcast(psl.select("suffix")), "suffix")
               .groupBy(host_col).agg(F.min("pos").alias("win")))
    mapping = hosts.join(matched, host_col, "left").select(
        F.col(host_col),
        F.when(F.col("win").isNull(),
               registrable_domain(F.col(host_col)))      # no rule: approx
        .when(F.col("win") == 0, F.lit(None))            # host IS a suffix
        .otherwise(F.concat_ws(".", F.slice(labels, F.col("win"),
                                            n - F.col("win") + 1)))
        .alias(out_col))
    return docs.join(mapping, host_col, "left")


def normalize_urls(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds url_norm / host / domain columns (all scan-stage scalars)."""
    out = pages.withColumn("url_norm", normalize_url(F.col(url_col)))
    out = out.withColumn("host", host_of(F.col("url_norm")))
    return out.withColumn("domain", registrable_domain(F.col("host")))


def domain_cap(docs: DataFrame, cap: int, domain_col: str = "domain",
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep at most ``cap`` documents per domain — deterministic and
    content-addressed: the survivors are the ``cap`` rows with the
    smallest (md5(text), id) per domain, so re-runs and repartitioning
    cannot change the selection.

    Scale shape (the reason this is not one global window): a global
    row_number() window shuffles AND sorts the ENTIRE corpus by
    domain.  Instead, pass 1 counts per domain (partial-aggregated
    hash-agg) and keeps only over-cap domains — a tiny set (the cap
    exists because heavy domains are rare); rows of under-cap domains
    pass through with NO sort, and the window runs only on the
    over-cap subset, selected by a broadcast semi-join.  At 100 TB the
    sorted fraction is the skewed tail, not the corpus."""
    if cap < 1:
        raise ValueError(f"domain_cap: cap must be >= 1, got {cap}")
    from pyspark.sql.window import Window
    # NULL domains form ONE capped group, like a SQL window's NULL
    # partition: equi-joins never match NULL keys, so without this
    # sentinel every NULL-domain row would slip through the left_anti
    # into the uncapped pass-through (review r5).  \x00 cannot appear
    # in a real registrable domain.
    dkey = F.coalesce(F.col(domain_col), F.lit("\x00")).alias("_dk")
    # cut ONCE: three plan branches (counts, cold pass-through, hot
    # window) would each re-run the upstream chain (r6: it tripled the
    # synth+regex chain in q_domain_cap/q_curation_web).  No floor:
    # callers floor raw scans (see curate_web_pages).
    keyed = share(docs.withColumn("_dk", dkey))
    counts = keyed.groupBy("_dk").agg(F.count("*").alias("_n"))
    hot = counts.where(F.col("_n") > cap).select("_dk")
    cold = keyed.join(F.broadcast(hot), "_dk", "left_anti")
    # coalesce: NULL texts must rank deterministically and identically
    # across engines (Spark sorts NULLS FIRST asc, DuckDB NULLS LAST)
    rank_key = [F.md5(F.coalesce(F.col(text_col), F.lit("")).cast("binary")),
                F.col(id_col)]
    w = Window.partitionBy("_dk").orderBy(*rank_key)
    hot_kept = (keyed.join(F.broadcast(hot), "_dk")
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") <= cap).drop("_rn"))
    return cold.unionByName(hot_kept.select(*cold.columns)).drop("_dk")
