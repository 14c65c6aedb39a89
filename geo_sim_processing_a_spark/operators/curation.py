"""End-to-end corpus curation: exact dedup -> quality filter ->
deterministic split, composed entirely from the oracle-verified
building blocks (dedup md5 aggregation, repetition_stats,
deterministic_split) — and itself ANSI-SQL-expressible, so the WHOLE
composition is hash-verified against DuckDB (q_curation).

Scale shape: the dedup representative is a groupBy(md5).min_by
aggregate — partial-aggregated map-side (a window row_number would
shuffle AND sort every row); repetition joins on the doc id; the split
is a scan-stage scalar.  One corpus-wide shuffle for the dedup, one
for the per-doc gram agg, one equi-join — no UDF anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import deterministic_split
from .text import repetition_stats


def curate_corpus(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", min_tokens: int = 20,
                  max_top_share: float = 0.12,
                  ngram_n: int = 3) -> DataFrame:
    """One call from raw corpus to training-ready rows:

    1. exact dedup — keep the min-id representative per distinct text
       (NULL texts group together as the NULL md5 key, like
       exact_dedup — and are then dropped by the min_tokens filter);
    2. quality filter — at least ``min_tokens`` (literal-space) tokens
       and a top-``ngram_n``-gram share at most ``max_top_share``
       (Gopher-style repetition rule; docs with fewer than ``ngram_n``
       tokens cannot be assessed and are dropped — subsumed by any
       ``min_tokens`` >= ``ngram_n``);
    3. deterministic content-addressed train/valid/test split.

    Returns the surviving rows with ``n_tokens``, ``top_share`` and
    ``split`` columns added."""
    reps = dedup_reps(docs, id_col, text_col)
    # materialize=False is structural, not size-tuned: dedup_reps is
    # Exchange-topped, so AQE ReusedExchange already shares the dedup
    # shuffle between the two consumers in _quality_and_split and a
    # checkpoint only buys blocked column pruning (A/B at sf0.1 AND a
    # 10x corpus: no-cut 1.42/3.83 s vs cut 1.59/4.26 s, count sink)
    return _quality_and_split(reps, id_col, text_col, min_tokens,
                              max_top_share, ngram_n, materialize=False)


def dedup_reps(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Exact-dedup representative rows: one partial-aggregated
    groupBy(md5).min_by — map-side combine, never a window sort over
    every row (plan-gated in tests/test_plans.py)."""
    rep_struct = F.struct(*[F.col(c) for c in docs.columns])
    return (docs
            .groupBy(F.md5(F.col(text_col).cast("binary")).alias("_text_md5"))
            .agg(F.min_by(rep_struct, F.col(id_col)).alias("_rep"))
            .select("_rep.*"))


def _quality_and_split(reps: DataFrame, id_col: str, text_col: str,
                       min_tokens: int, max_top_share: float,
                       ngram_n: int, split_col: str = None,
                       materialize: bool | None = None) -> DataFrame:
    """Steps 2-3 of the curation contract (shared by the exact, fuzzy
    and web front ends): token floor + repetition ceiling computed on
    ``text_col``, then the deterministic content-addressed split keyed
    on ``split_col`` (defaults to ``text_col``).

    ``materialize`` (None = auto via ``_is_big``) cuts the plan after
    the token count.  Without the cut the survivor frame's upstream
    executes once per consumer, so the two sides of the self-join agree
    only if that upstream is deterministic (unique ids for min_by,
    deterministic LSH canonicals): a sampled or otherwise
    non-deterministic ``reps`` must pass ``materialize=True``."""
    from .dedup import _is_big

    # materialize ONCE when the frame is worth it: the survivor frame
    # feeds BOTH the gram stats subtree and the join's probe side; as a
    # plan tree the whole upstream (dedup agg / LSH clustering /
    # web-synth chain) would otherwise execute twice (r6 plan audit:
    # q_curation_web replayed the documents scan 64x through stacked
    # re-references).  Size-conditional like the lm/search checkpoints:
    # the checkpoint blocks count-sink column pruning, so for a SMALL
    # exact-path frame (Exchange-topped dedup agg — ReusedExchange
    # already shares the shuffle) it costs more than the replay it
    # saves (r6 interleaved A/B, count sink, min of 3: exact 1.42 s
    # no-ckpt vs 1.59 ckpt; fuzzy 1.19 ckpt vs 1.49 no-ckpt — the
    # fuzzy/web inputs sit behind joins whose stats estimates are big,
    # so they keep the cut).  ``materialize``: None = auto via _is_big;
    # callers whose input is Exchange-topped (exact path) pass False —
    # there ReusedExchange already shares the expensive subtree and the
    # cut is structurally never worth it (A/B at two sizes in
    # curate_corpus)
    reps = reps.withColumn(
        "n_tokens", F.size(F.split(F.col(text_col), " ")).cast("long"))
    if materialize is None:
        materialize = _is_big(reps)
    if materialize:
        reps = reps.localCheckpoint(eager=False)
    rep = repetition_stats(reps, n=ngram_n, id_col=id_col,
                           text_col=text_col).select("doc_id", "top_share")
    out = (reps.join(rep, reps[id_col] == rep["doc_id"])
           .drop(rep["doc_id"])
           .where((F.col("n_tokens") >= min_tokens)
                  & (F.col("top_share") <= max_top_share)))
    return deterministic_split(out, col=split_col or text_col)


def curate_web_pages(pages: DataFrame, id_col: str = "doc_id",
                     url_col: str = "url", page_col: str = "page",
                     boiler_min_docs: int = 5, min_tokens: int = 20,
                     max_top_share: float = 0.12, ngram_n: int = 3,
                     cap_per_domain: int = 10,
                     boiler_keys: DataFrame = None) -> DataFrame:
    """The PRODUCTION web-curation composition, over real columns —
    (id, url, multi-line page text) as a crawl actually delivers them:

    1. URL canonicalization -> registrable domain (normalize_urls);
    2. line-level boilerplate strip: document-frequency >=
       ``boiler_min_docs`` over ``pages`` itself, or pass
       ``boiler_keys`` (boilerplate.boilerplate_keys over a reference
       corpus) for the streaming / incremental shape;
    3. PII redaction of the cleaned text;
    4. exact dedup on the REDACTED content (min-id survivor — docs that
       differed only in template lines or redacted spans collapse);
    5. quality: token floor + Gopher-style repetition ceiling (newlines
       normalized to spaces for token/gram stats);
    6. content-addressed per-domain cap (skew-aware domain_cap);
    7. deterministic content-addressed train/valid/test split.

    Returns one row per surviving doc:
    (id, domain, n_lines, n_dropped, n_tokens, top_share, split)."""
    from .boilerplate import boilerplate_keys as _bkeys
    from .boilerplate import strip_lines
    from .pii import redact_pii
    from .urls import domain_cap, normalize_urls

    # materialize the raw pages ONCE: four plan branches reference them
    # (url normalize, boilerplate frequency, line strip keyed + base) —
    # as a tree each branch would re-run the whole upstream synth/scan.
    # No repartition HERE: a floor after the synth chain would compute
    # the synth serially and then pay a fat shuffle — callers floor the
    # RAW input instead (curate_web_corpus does).
    pages = pages.localCheckpoint(eager=False)
    u = (normalize_urls(pages.select(id_col, url_col), url_col=url_col)
         .select(id_col, "domain"))                                # 1
    if boiler_keys is None:
        boiler_keys = _bkeys(pages, min_docs=boiler_min_docs,
                             id_col=id_col, page_col=page_col)
    cleaned = strip_lines(pages, boiler_keys, id_col=id_col,       # 2
                          page_col=page_col)
    red = redact_pii(cleaned, text_col="text_clean")               # 3
    rep_struct = F.struct(*[F.col(c) for c in red.columns])        # 4
    reps = (red
            .groupBy(F.md5(F.col("text_redacted").cast("binary"))
                     .alias("_md5"))
            .agg(F.min_by(rep_struct, F.col(id_col)).alias("_rep"))
            .select("_rep.*"))
    # domain is a pure function of the id: join it onto the SURVIVORS
    # only, after the corpus-wide dedup shuffle (identical result,
    # fewer shuffled bytes)
    reps = reps.join(u, id_col)
    stats = reps.withColumn(                                       # 5+7
        "stats_text", F.replace(F.col("text_redacted"),
                                F.lit("\n"), F.lit(" ")))
    q = _quality_and_split(stats, id_col, "stats_text", min_tokens,
                           max_top_share, ngram_n,
                           split_col="text_redacted")
    capped = domain_cap(q, cap=cap_per_domain, id_col=id_col,      # 6
                        text_col="text_redacted")
    return capped.select(id_col, "domain", "n_lines", "n_dropped",
                         "n_tokens", "top_share", "split")


def curate_web_corpus(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", source_col: str = "source",
                      boiler_min_docs: int = 5, min_tokens: int = 20,
                      max_top_share: float = 0.12, ngram_n: int = 3,
                      cap_per_domain: int = 10) -> DataFrame:
    """curate_web_pages over DETERMINISTICALLY SYNTHESIZED raw-web
    inputs (the testdata is single-line, URL-free and PII-free): messy
    URL from (id, source), multi-line page with template boilerplate
    and planted PII.  Every synth rule is mirrored in the DuckDB twin,
    so the ENTIRE composition is hash-verified end-to-end
    (q_curation_web at sf0.001/0.01/0.1)."""
    from .boilerplate import synth_pages_with_boilerplate
    from .dedup import _ensure_parallelism_if_big
    from .pii import synth_pii_text
    from .urls import synth_messy_urls

    # size-conditional floor on the RAW scan: for big inputs the
    # regex-heavy synth chain must parallelize before the pages
    # checkpoint pins the partitioning; for small inputs the floor's
    # task fan-out costs more than the serial synth (A/B in
    # _ensure_parallelism_if_big's docstring)
    d = _ensure_parallelism_if_big(docs.select(id_col, text_col, source_col))
    raw = synth_pages_with_boilerplate(
        synth_pii_text(synth_messy_urls(d, id_col=id_col,
                                        source_col=source_col),
                       id_col=id_col, text_col=text_col,
                       source_col=source_col),
        id_col=id_col, text_col="pii_text", source_col=source_col)
    return curate_web_pages(raw, id_col=id_col,
                            boiler_min_docs=boiler_min_docs,
                            min_tokens=min_tokens,
                            max_top_share=max_top_share,
                            ngram_n=ngram_n,
                            cap_per_domain=cap_per_domain)


def curate_corpus_fuzzy(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", min_tokens: int = 20,
                        max_top_share: float = 0.12, ngram_n: int = 3,
                        threshold: float = 0.5,
                        **near_dup_kwargs) -> DataFrame:
    """``curate_corpus`` with NEAR-duplicate dedup — what a production
    crawl pipeline actually runs: exact dedup collapses byte-equal
    copies first (inside near_dup_clusters, so mega-duplicate sets
    can't blow the LSH band buckets), MinHash-LSH + connected
    components cluster the near-dups, each cluster keeps its canonical
    (min-id) survivor, and the survivors flow through the same quality
    filter + deterministic split as the exact path.

    Not SQL-expressible (the LSH banding is the operator) — verified
    by the pinned golden oracle (q_curation_fuzzy) plus planted
    near-dup tests."""
    from .dedup import near_dup_clusters

    clusters = near_dup_clusters(docs, id_col=id_col, text_col=text_col,
                                 threshold=threshold, **near_dup_kwargs)
    keep = (clusters.where(F.col("is_canonical"))
            .select(F.col(id_col)))
    reps = docs.join(keep, id_col)
    return _quality_and_split(reps, id_col, text_col, min_tokens,
                              max_top_share, ngram_n)
