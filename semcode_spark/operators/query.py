"""BM25 top-k ranked retrieval.

Two paths, both DataFrame-planned:

1. ``bm25_topk`` — exhaustive scoring straight off the corpus (or a flat
   tf relation). This is the oracle-comparable path: broadcast the query
   terms, join postings, one hash agg, TakeOrderedAndProject. Mirrors
   the reference's retrieval orchestration (rag/pipeline.py:93-131) with
   the ANN probe (storage/milvus_store.py:135-148) replaced by a
   broadcast join.

2. ``wand_topk`` — the persisted block index path with block-max
   pruning: θ bootstrapped from each term's single best block, then only
   blocks whose upper bound can still reach θ's rounding bucket are
   decoded. The analog of IVF nprobe=16/128 cluster pruning
   (milvus_store.py:144), but lossless: tests assert pruned ==
   exhaustive.

Physical shape of (1): BroadcastExchange(query terms) → hash agg on
doc_id → TakeOrderedAndProject(k) — zero wide shuffles for small k
(partial top-k per partition, merged on the driver, SURVEY §3.2).

Job structure of (2) with pruning: job 1 collects the query terms' rows
from the tiny term_stats ⋈ term_bounds metadata tables (persisted in
serving mode — microseconds, never touches blocks); job 2 decodes one
block per term for θ; job 3 decodes survivors and takes the global
top-k. The per-term global bounds and best-block pointers are computed
once at BUILD time (index_build.write_term_bounds), not per query.

Rank identity: total order (round(score, d) desc, doc_id asc) — SURVEY
§7.3(b); d = cfg.bm25.rank_decimals.
"""

from __future__ import annotations

import json
import math
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from semcode_spark.config import DEFAULT, EngineConfig
from semcode_spark.functions.analyzers import analyze_query, analyzer
from semcode_spark.operators.index_build import (  # noqa: F401 (decode_postings re-exported)
    decode_positions_flat, decode_postings, filter_dead_postings,
    is_serving, live_forward, posting_blocks, posting_ids, posting_rows,
)
from semcode_spark.sources.tables import local_frame

TOPK_SCHEMA = "doc_id long, score double"
BATCH_SCHEMA = "query_id long, rank int, doc_id long, score double"


def idf_col(df_col, n_docs: float):
    """Lucene-style non-negative idf: ln((N - df + 0.5)/(df + 0.5) + 1)."""
    return F.log((F.lit(n_docs) - df_col + 0.5) / (df_col + 0.5) + 1.0)


def idf_py(df: float, n_docs: float) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def _bm25_w(avgdl: float, cfg: EngineConfig):
    """BM25's per-posting weight (the idf factor aside) over the
    ``tf`` and ``doc_len`` columns."""
    k1, b = cfg.bm25.k1, cfg.bm25.b
    return (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("doc_len") / avgdl))


# Plan inputs built on the driver (query terms, idfs, cuts, query ids)
# enter the plan as ONE SQL or JSON literal each. Every Column built in
# Python is at least one py4j round trip, so a per-entry literal would
# make plan building grow with the number of queries and terms.

def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal (the parser's default
    backslash escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _terms_in(terms) -> Column:
    """``term IN (...)`` over driver-side terms: still an In predicate,
    so a cold scan pushes it to parquet."""
    if not terms:
        return F.lit(False)
    return F.expr(f"term IN ({', '.join(map(_sql_str, terms))})")


def _lit_map(d: dict, value_type: str = "double") -> Column:
    """A literal ``map<string, value_type>`` column from a driver-side
    dict (keys become strings). The optimizer folds the JSON text into
    a map literal, and json writes each double's shortest round-trip
    repr, so the values arrive bit-exact."""
    return F.from_json(F.lit(json.dumps(d)), f"map<string,{value_type}>")


def _with_doc_len(index: dict, rows: DataFrame) -> DataFrame:
    """``rows`` with each doc's length: serving rows carry it already
    (and stay doc_id-partitioned, so the per-doc aggregate after them
    needs no exchange); cold rows join the docs table."""
    return rows if "doc_len" in rows.columns else rows.join(index["docs"], "doc_id")


def _restrict_ids(index: dict, rows: DataFrame, ids: DataFrame,
                  broadcast: bool) -> DataFrame:
    """``rows`` of the docs in the distinct ``ids`` frame. On a serving
    handle both sides are hash-partitioned by doc_id, so a shuffled hash
    join runs partition by partition with no exchange and no broadcast
    job; a cold handle broadcasts the ids while they are small."""
    if is_serving(index):
        return rows.join(ids.hint("shuffle_hash"), "doc_id")
    return rows.join(F.broadcast(ids) if broadcast else ids, "doc_id")


def _cut_pred(cuts: dict[str, float], avgdl: float) -> Column:
    """Blocks of the terms in ``cuts`` whose avgdl-corrected max_w
    reaches the term's cut (a -inf cut keeps every block of the term)."""
    adl_corr = F.greatest(F.lit(1.0), F.lit(avgdl) / F.col("avgdl_enc"))
    return _terms_in(sorted(cuts)) & (
        F.col("max_w") * adl_corr >= _lit_map(cuts)[F.col("term")])


def _resolve_k(k: int | None, cfg: EngineConfig) -> int:
    """``k``, or the configured default for None; a k that is not a
    positive int is a caller error."""
    if k is None:
        return cfg.bm25.default_k
    if isinstance(k, bool) or not isinstance(k, int) or k < 1:
        raise ValueError(f"k must be a positive int, got {k!r}")
    return k


def _check_prune(prune) -> None:
    """The plan choices: False (flat), True (static block-max filter),
    "auto" and "impact"."""
    if not (isinstance(prune, bool) or prune in ("auto", "impact")):
        raise ValueError(
            f'prune must be False, True, "auto" or "impact", got {prune!r}')


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    cfg: EngineConfig = DEFAULT,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exhaustive BM25 scores for every matching doc: (doc_id, score).

    Self-contained (computes tf/df/stats from the corpus): used for
    oracle comparison and as the reference result for WAND tests.
    Corpus stats stay IN the plan (broadcast 1-row aggregate) instead
    of a driver-side collect — the whole query is one Spark job.

    r6 shape (guide §2.4): per-doc query-term tf is computed NARROWLY
    (size(filter(tokens, == t)) per query term over the materialized
    token array) instead of exploding the whole corpus into the
    (term, doc_id) aggregate and post-filtering it — the old plan
    shuffled every distinct (term, doc) pair of the corpus twice (tf
    agg feeding both the df agg and the score join) to use a handful
    of terms. Now the only non-narrow work is the 1-row stats/df
    aggregate and the final per-doc score projection; per-term df rides
    in the same 1-row broadcast. Scores are the same per-term sums
    (absent terms contribute an exact +0.0), rank order unchanged."""
    from functools import reduce as _reduce

    toks = analyzer(cfg.index.analyzer)
    k1, b = cfg.bm25.k1, cfg.bm25.b
    terms = sorted(set(query_terms))
    if not terms:  # no term can match a doc
        return docs.select(F.col(id_col).alias("doc_id"),
                           F.lit(0.0).alias("score")).limit(0)

    def _eq(term: str):
        # closure factory, NOT a defaulted 2-arg lambda: F.filter gives
        # a two-argument lambda (element, index) — a `t=t` default
        # would be shadowed by the index column
        return lambda x: x == F.lit(term)

    from semcode_spark.sources.tables import spread

    base = spread(docs).select(
        F.col(id_col).alias("doc_id"), toks(F.col(text_col)).alias("_toks"))
    arr = F.col("_toks")
    proj = base.select(
        "doc_id", F.size(arr).alias("dl"),
        *[F.size(F.filter(arr, _eq(t))).alias(f"_tf{i}")
          for i, t in enumerate(terms)])
    stats = proj.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        F.avg("dl").alias("_avgdl"),
        *[F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
          for i in range(len(terms))])
    cand = proj.filter(_reduce(
        lambda a, c: a | c, [F.col(f"_tf{i}") > 0 for i in range(len(terms))]))
    matched = cand.join(F.broadcast(stats))  # 1-row corpus stats, no collect

    def contrib(i: int):
        tf = F.col(f"_tf{i}")
        idf = F.log((F.col("_n_docs") - F.col(f"_df{i}") + 0.5)
                    / (F.col(f"_df{i}") + 0.5) + 1.0)
        w = (tf * (k1 + 1.0)) / (
            tf + k1 * (1.0 - b + b * F.col("dl") / F.col("_avgdl")))
        return F.when(tf > 0, idf * w).otherwise(F.lit(0.0))

    score = _reduce(lambda a, c: a + c,
                    [contrib(i) for i in range(len(terms))])
    return matched.select("doc_id", score.alias("score"))


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k (doc_id, score) for a free-text query — exhaustive path."""
    k = _resolve_k(k, cfg)
    terms = analyze_query(cfg.index.analyzer, query)
    if not terms:
        raise ValueError("empty query")  # reference validates the same (api/main.py:203-206)
    scores = bm25_scores(docs, terms, cfg, id_col, text_col)
    return (
        scores.orderBy(F.round("score", cfg.bm25.rank_decimals).desc(),
                       F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", "score")
    )


# ----------------------------------------------------------- index path ----

def _query_terms(index: dict, query: str) -> list[str]:
    """Tokenize under the INDEX's analyzer (persisted in meta.json) —
    the build/query shared-kernel contract."""
    return list(dict.fromkeys(
        analyze_query(index.get("analyzer", "standard"), query)))


class TermMeta(NamedTuple):
    """Per-query-term metadata snapshot (term_stats ⋈ term_bounds)."""

    idfs: dict        # term -> idf (live df, net of replace deltas)
    ubs: dict         # term -> global upper-bound contribution
    best: dict        # term -> (group, salt, block_id) of the best block
    n_blocks: int     # total candidate blocks across the query terms
    blocks: dict      # term -> its candidate block count
    dfs: dict         # term -> live df
    hists: dict       # term -> merged (rank-ish, max_w) ladder, max_w
                      # descending — impact-prefix options (empty for
                      # pre-histogram indexes)


def _term_meta(
    spark: SparkSession, index: dict, terms: list[str],
    n_docs: float | None = None, avgdl: float | None = None,
) -> TermMeta:
    """Per-term idf, global upper bound, best-block pointer, block/df
    counts and the impact-prefix histogram, from term_stats ⋈
    term_bounds (metadata only — never touches posting blocks).

    In serving mode read_index pre-collects the whole term dictionary to
    the driver (the classic frontend-resident term-dictionary design) so
    this is a pure dict lookup; otherwise one tiny Spark job fetches the
    query terms' rows and memoizes them on the index handle.

    r6: ``n_docs``/``avgdl`` may be omitted — the 1-row corpus stats
    then ride the SAME metadata job (cross-joined onto the term rows)
    and are cached as index['_corpus_row'], saving one Spark job per
    cold query (a cold wand query was three driver jobs; the job floor,
    not decode volume, dominates single-query latency at sandbox
    scale)."""
    need_corpus = n_docs is None and "_corpus_row" not in index
    term_dict: dict | None = index.get("_term_dict")
    if term_dict is None:
        memo: dict = index.setdefault("_term_memo", {})
        missing = [t for t in terms if t not in memo]
        if missing:
            base = (
                index["term_bounds"].filter(_terms_in(missing))
                .join(index["term_stats"].select("term", "df"), "term")
            )
            if need_corpus:
                base = base.crossJoin(index["corpus"].select(
                    F.col("n_docs").alias("_corpus_n"),
                    F.col("avgdl").alias("_corpus_avgdl")))
            rows = base.collect()
            if need_corpus and rows:
                index["_corpus_row"] = {
                    "n_docs": rows[0]["_corpus_n"],
                    "avgdl": rows[0]["_corpus_avgdl"]}
                need_corpus = False
            for t in missing:
                memo.setdefault(t, [])
            for r in rows:
                memo[r["term"]].append(r)
        term_dict = memo
    if n_docs is None:
        if need_corpus or "_corpus_row" not in index:
            index["_corpus_row"] = index["corpus"].collect()[0]
        n_docs = float(index["_corpus_row"]["n_docs"])
        avgdl = float(index["_corpus_row"]["avgdl"])

    idfs: dict[str, float] = {}
    term_ubs: dict[str, float] = {}
    best: dict[str, tuple[int, int, int]] = {}
    term_blocks: dict[str, int] = {}
    dfs: dict[str, float] = {}
    hists: dict[str, list] = {}
    n_blocks = 0
    for t in terms:
        for r in term_dict.get(t, []):
            if t not in idfs:
                idfs[t] = idf_py(float(r["df"]), n_docs)
                dfs[t] = float(r["df"])
            corr = max(1.0, avgdl / r["avgdl_enc"])
            ub = idfs[t] * r["max_w"] * corr
            n_blocks += r["n_blocks"]
            term_blocks[t] = term_blocks.get(t, 0) + r["n_blocks"]
            if t not in term_ubs or ub > term_ubs[t]:
                term_ubs[t] = ub
                best[t] = (r["group"], r["best_salt"], r["best_block"])
            fields = r.asDict() if hasattr(r, "asDict") else r
            h = fields.get("w_hist")
            if h:
                hists.setdefault(t, []).append(list(h))
    # merge per-(group) histograms: ladder of (cum_rank, w) with w
    # strictly descending — the rank at w is the total block count with
    # max_w >= w across all groups/salts of the term
    merged: dict[str, list] = {}
    for t, hs in hists.items():
        pts = sorted({w for h in hs for _, w in h}, reverse=True)
        ladder = []
        for w in pts:
            rank = 0
            for h in hs:
                below = [r_ for r_, wv in h if wv >= w]
                rank += max(below) if below else 0
            if rank > 0:
                ladder.append((rank, w))
        merged[t] = ladder
    return TermMeta(idfs, term_ubs, best, n_blocks, term_blocks, dfs, merged)




def wand_topk(
    spark: SparkSession,
    index: dict[str, DataFrame],
    query: str,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
    prune: bool | str = "auto",
) -> DataFrame:
    """Top-k over the persisted block index with block-max pruning.

    Stage A (θ bootstrap): decode only each term's best block (pointer
    precomputed at build, term_bounds), score those docs exactly,
    θ = k-th best score so far.
    Stage B: keep a block of term t iff
        idf_t · max_w(block) + Σ_{t'≠t} idf_t' · max_w_global(t') ≥ θ_eff
    where θ_eff = (floor(θ·10^d + 0.5) − 0.5) / 10^d is the *lower edge
    of θ's rounding bucket* (d = cfg.bm25.rank_decimals). Final ranking
    is by round(score, d) then doc_id asc, so a doc whose raw score is
    ≤ θ but rounds into θ's bucket can still out-rank the k-th result
    via the doc_id tiebreak — pruning against raw θ would drop it
    (reachable: docs with identical (tf, doc_len) tie bit-exactly).
    Every posting block of any doc with round(score) ≥ round(θ) survives
    this filter, so surviving docs are scored *completely*; decode
    survivors, score exactly, global top-k.

    All candidate selection is DataFrame joins/filters; only the byte
    decode runs in Python (Arrow batches). Lossless by construction
    (verified vs bm25_topk in tests/test_wand.py, incl. the θ-tie
    adversarial corpus and doc-replacement tombstones).
    """
    k = _resolve_k(k, cfg)
    _check_prune(prune)
    terms = _query_terms(index, query)
    if not terms:
        raise ValueError("empty query")
    # stage 0 (metadata-only; dict lookup in serving mode, tiny job
    # otherwise — r6: the 1-row corpus stats ride the same job)
    meta = _term_meta(spark, index, terms)
    corpus = index["_corpus_row"]
    n_docs, avgdl = float(corpus["n_docs"]), float(corpus["avgdl"])
    idfs, term_ubs, best, n_blocks = meta.idfs, meta.ubs, meta.best, meta.n_blocks
    # query terms enter the plan as literals (IN list + idf map), not as
    # a broadcast-joined DataFrame: at a handful of terms per query the
    # broadcast exchange is pure per-query latency (~0.3-0.5 s/job on
    # the warm path for zero benefit)
    cand = _terms_in(terms)

    if prune == "auto":
        # auto = flat at sandbox scales (r4, measured — see BENCH/
        # BASELINE.md "static block-max pruning"): extra jobs cost
        # ~0.5 s each and the static per-term filter prunes ~nothing
        # (100% survivors at 91k candidate blocks; flat < pruned at
        # every reachable scale). Past impact_auto_min_blocks (r5) the
        # decode volume itself dominates the job floor and auto
        # switches to impact retrieval — the bounded-decode path —
        # provided the index carries the forward table it completes
        # from AND the impact-ordered layout (r6, advice: on a
        # doc_id-ordered index the block_id<depth bootstrap reads
        # arbitrary low-doc_id blocks, so θ_eff is weak and the
        # "bounded" path can degrade toward full decode + forward
        # overhead at exactly the scale the switch targets).
        # prune=True (static filter) stays available explicitly.
        if (n_blocks > cfg.bm25.impact_auto_min_blocks
                and index.get("forward") is not None
                and index.get("impact_layout")):
            prune = "impact"
        else:
            prune = False

    if prune == "impact":
        return wand_topk_impact(spark, index, query, k, cfg)

    if prune and term_ubs:
        total_ub = sum(term_ubs.values())
        theta_eff = _bootstrap_theta_eff(spark, index, idfs, best, k, cfg)
        if theta_eff is None:
            theta_eff = -1.0
        # job B: a block of term t survives iff its own bound plus the
        # other terms' global bounds could still reach θ's bucket —
        # rearranged to a per-term cutoff on the block's corrected
        # max_w so the filter is a literal map lookup, no joins:
        #   idf_t·max_w·corr ≥ θ_eff − (total_ub − term_ub_t)
        cutoffs = {
            t: (theta_eff - (total_ub - term_ubs[t])) / idfs[t]
            for t in term_ubs
        }
        rows = (
            _score_blocks(index, _cut_pred(cutoffs, avgdl), idfs, avgdl, cfg)
            .orderBy(F.round("score", cfg.bm25.rank_decimals).desc(),
                     F.col("doc_id").asc())
            .limit(k)
            .collect()
        )
        return local_frame(spark, rows, TOPK_SCHEMA)

    return (
        _score_blocks(index, cand, idfs, avgdl, cfg)
        .orderBy(F.round("score", cfg.bm25.rank_decimals).desc(),
                 F.col("doc_id").asc())
        .limit(k)
    )


def _best_block_pred(best: dict[str, tuple[int, int, int]]) -> Column:
    """Literal predicate selecting each term's build-time best block."""
    return F.expr(" OR ".join(
        f"(term = {_sql_str(t)} AND `group` = {int(g)} AND salt = {int(s)}"
        f" AND block_id = {int(b)})" for t, (g, s, b) in best.items()))


def _theta_slack(cfg: EngineConfig) -> float:
    """One full rounding bucket — the prune-safe θ margin (see
    _bootstrap_theta_eff for the proof sketch). Single definition so
    the single, static-pruned and batch paths cannot drift."""
    return 1.5 / (10 ** cfg.bm25.rank_decimals)


def _bootstrap_theta_eff(
    spark: SparkSession,
    index: dict,
    idfs: dict[str, float],
    best: dict[str, tuple[int, int, int]],
    k: int,
    cfg: EngineConfig,
) -> float | None:
    """θ bootstrap: decode each query term's single best block (pointer
    precomputed at build, term_bounds), score those docs exactly on the
    decoded rows, return the k-th best score MINUS one full rounding
    bucket — the prune-safe effective threshold. None when fewer than k
    docs were seen (no pruning possible).

    The 1.5/10^d slack: rank order is (round(score, d), doc_id), so a
    doc whose score rounds into θ's bucket with a smaller doc_id must
    survive; 1.5/10^d is provably safe under ANY rounding family with
    |round(x)−x| ≤ 0.5/10^d (JVM BigDecimal HALF_UP vs the
    floor(x·10^d+0.5) formula can disagree by an ulp at bucket edges —
    functions/rounding.py): if s ≤ θ − 1.5/10^d then round(s) ≤
    θ − 1/10^d < round(θ). Cost: at most one extra bucket decoded."""
    if not best:
        return None
    best_pred = _best_block_pred(best)
    avgdl = float(index["_corpus_row"]["avgdl"])
    theta_rows = (
        _score_blocks(index, best_pred, idfs, avgdl, cfg)
        .orderBy(F.round("score", cfg.bm25.rank_decimals).desc(),
                 F.col("doc_id").asc())
        .limit(k)
        .collect()
    )
    if len(theta_rows) < k:
        return None
    return theta_rows[-1]["score"] - _theta_slack(cfg)


def _forward_exact_scores(
    index: dict,
    idfs: dict[str, float],
    avgdl: float,
    cand_ids: DataFrame | None,
    broadcast: bool,
    cfg: EngineConfig,
) -> DataFrame:
    """(doc_id, score): EXACT BM25 over the live query terms from the
    forward table, optionally restricted to the distinct ``cand_ids``
    (see _restrict_ids for ``broadcast``). Shared by the θ bootstrap and
    the completion stage of impact retrieval."""
    fwd = live_forward(index).filter(_terms_in(sorted(idfs)))
    if cand_ids is not None:
        fwd = _restrict_ids(index, fwd, cand_ids, broadcast)
    return (
        _with_doc_len(index, fwd.withColumn("idf", _lit_map(idfs)[F.col("term")]))
        .groupBy("doc_id")
        .agg(F.sum(F.col("idf") * _bm25_w(avgdl, cfg)).alias("score"))
    )


def _common_term_regime(dfs: dict[str, float], n_docs: float) -> bool:
    """True when the query's posting mass is stopword-heavy (Σ df over
    half the corpus): only then does the partial-sum θ underestimate
    badly enough for the exact-completion bootstrap's extra forward
    pass to pay for itself — rare-term queries already plan ≤4% decode
    fractions from partial sums (measured r6, bench_impact.py)."""
    return sum(dfs.values()) >= 0.5 * n_docs


def _bootstrap_theta_eff_prefix(
    spark: SparkSession,
    index: dict,
    idfs: dict[str, float],
    k: int,
    cfg: EngineConfig,
    exact: bool = True,
) -> float | None:
    """Impact-mode θ bootstrap: take the docs of every query term's
    top-``impact_bootstrap_depth`` blocks (all salts/groups — in the
    impact layout those hold the terms' highest-weight postings) and
    score them EXACTLY from the forward table (r6). The k-th exact
    score of ANY doc subset lower-bounds the global k-th, so θ stays
    prune-safe — but exact completion is strictly tighter than the r5
    partial sums over the bootstrap blocks alone, which badly
    underestimated all-common-term (stopword) queries: every candidate
    carried only the prefix-block fraction of its true score, so θ_eff
    sat far below the real k-th cut and the planner decoded 0.45-0.63
    of the candidate blocks (r5 verdict "what's wrong" #2). Bootstrap
    ids are structurally bounded (depth × salts × groups × block_size
    per term — constant in corpus size), so the ids join is a
    broadcast. Falls back to partial-sum scoring when the index has no
    forward table (the impact path proper requires one; static-pruned
    callers may not)."""
    if not idfs:
        return None
    pred = (_terms_in(list(idfs))
            & (F.col("block_id") < cfg.bm25.impact_bootstrap_depth))
    avgdl = float(index["_corpus_row"]["avgdl"])
    if exact and index.get("forward") is not None:
        ids = posting_ids(index, pred).select("doc_id").distinct()
        scored = _forward_exact_scores(index, idfs, avgdl, ids, True, cfg)
    else:
        scored = _score_blocks(index, pred, idfs, avgdl, cfg)
    rows = (
        scored
        .orderBy(F.round("score", cfg.bm25.rank_decimals).desc(),
                 F.col("doc_id").asc())
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        return None
    return rows[-1]["score"] - _theta_slack(cfg)


def _impact_plan(meta: TermMeta, theta_eff: float) -> dict | None:
    """Minimum-decode plan meeting the lossless unseen-doc bound.

    Any doc appearing in NO decoded block has score ≤ B = Σ_t idf_t ·
    (max corrected max_w over t's undecoded blocks). Choose, per term,
    how much of its impact-ordered prefix to decode so that B < θ_eff
    while the decoded block count stays minimal: each term offers a
    ladder of options — decode nothing (tail bound = its global ub),
    decode down to a recorded histogram cut w (tail bound = idf·w;
    blocks ≈ the recorded rank), or decode everything (tail bound 0) —
    and a greedy steepest-bound-drop-per-block walk advances ladders
    until the bound clears. This is MaxScore's essential/non-essential
    term split (term-level ladder endpoints) generalized with
    impact-ordered block prefixes in between (the r4-refuted *static*
    filter compared each block against θ minus the OTHER terms' global
    bounds — provably unable to prune once any other term alone reaches
    θ; the joint bound here has no such term-by-term comparison).

    Returns {'skip': [...], 'cut': {term: w}, 'full': [...],
    'bound': B, 'est_blocks': int} or None when no pruning is possible
    (θ_eff ≤ 0, or the plan degenerates to decode-everything).

    ``est_blocks`` (and the greedy's per-step costs) come from the
    power-of-two-sampled histogram ranks, which LOWER-bound the true
    block count at a cut (true count can be up to ~2× the sampled rank,
    plus blocks the avgdl-corrected predicate admits beyond the
    raw-ranked count) — fine for steering the greedy, but decode-volume
    METRICS should use stats['exact'] (a real count of the planned
    blocks), which the bench does."""
    if theta_eff is None or theta_eff <= 0 or not meta.ubs:
        return None
    ladders: dict[str, list[tuple[float, float, float | None]]] = {}
    for t, ub in meta.ubs.items():
        idf = meta.idfs[t]
        steps: list[tuple[float, float, float | None]] = [(0.0, ub, math.inf)]
        for rank, w in meta.hists.get(t, []):
            tail = min(ub, idf * w)
            if tail < steps[-1][1]:
                steps.append((float(rank), tail, w))
        nb = float(meta.blocks.get(t, 0))
        steps.append((nb, 0.0, 0.0))
        ladders[t] = steps
    state = {t: 0 for t in ladders}
    bound = sum(l[0][1] for l in ladders.values())
    while bound >= theta_eff:
        pick, pick_gain = None, -1.0
        for t, l in sorted(ladders.items()):
            i = state[t]
            if i + 1 >= len(l):
                continue
            dcost = max(1.0, l[i + 1][0] - l[i][0])
            gain = (l[i][1] - l[i + 1][1]) / dcost
            if gain > pick_gain:
                pick, pick_gain = t, gain
        if pick is None:
            return None  # all ladders exhausted; cannot clear the bound
        i = state[pick]
        bound -= ladders[pick][i][1] - ladders[pick][i + 1][1]
        state[pick] = i + 1
    plan = {"skip": [], "cut": {}, "full": [], "bound": bound,
            "est_blocks": 0}
    for t, i in state.items():
        cost, _tail, w = ladders[t][i]
        plan["est_blocks"] += int(cost)
        if i == 0:
            plan["skip"].append(t)
        elif i == len(ladders[t]) - 1:
            plan["full"].append(t)
        else:
            plan["cut"][t] = w
    if not plan["skip"] and not plan["cut"]:
        return None  # degenerate: everything decoded — use the flat path
    return plan


def wand_topk_impact(
    spark: SparkSession,
    index: dict[str, DataFrame],
    query: str,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
    stats: dict | None = None,
) -> DataFrame:
    """Lossless top-k with BOUNDED decode volume — the serving path for
    corpora where a single term's posting list dwarfs the top-k working
    set (a df≈N/2 term at 10^12 docs is ~5·10^11 postings; the flat
    path decodes all of them, r4 verdict "What's wrong #3").

    Three stages, all DataFrame-planned:
      1. θ bootstrap (shared with prune=True): each term's best block →
         k-th best score → θ_eff one rounding bucket below.
      2. Candidate generation: _impact_plan picks, per term, skip /
         impact-prefix / full decode with Σ tail bounds < θ_eff — any
         doc in no decoded block provably misses every top-k bucket.
         Only the surviving blocks are decoded, and only their doc_ids
         (decode_doc_ids_only — the tf stream is never read).
      3. Exact completion: candidates join the FORWARD table (doc_id →
         term, tf; tombstone-filtered) restricted to the query terms,
         and BM25 is computed from forward rows alone — a skipped
         term's contribution to a candidate is never lost, and nothing
         is double-counted. The forward table is doc_id-range-clustered
         (index_build.write_forward), so at scale the broadcast
         candidate join prunes it at parquet row-group granularity
         (runtime bloom / min-max on doc_id) instead of scanning it.

    The analog of the reference's IVF probe scanning ~12.5% of lists
    (storage/milvus_store.py:144) — but lossless: rank-identical to
    bm25_topk by the θ-bucket argument (tests/test_wand.py).

    Requires the forward table (store_forward=True); raises otherwise —
    a silent fallback that decodes every skipped list would hide the
    100×-scale regression this path exists to prevent. Falls back to
    the flat decode only when no pruning is possible (θ unreachable or
    the plan degenerates), which is the correct choice at small scale.

    ``stats``: pass a dict to receive the decode-volume diagnostics
    (blocks_candidate, blocks_decoded, skipped/cut/full terms, θ_eff) —
    the bench's blocks-decoded/blocks-candidate metric.
    ``blocks_decoded`` is the PLAN's decode requirement — the volume an
    at-scale run decodes for candidate generation; when the sandbox
    cand_worthwhile gate skips the candidate join (``stats['cand_join']
    = False``) those blocks are not physically decoded in THIS run (the
    forward scan serves instead), so read the pair together.
    """
    k = _resolve_k(k, cfg)
    terms = _query_terms(index, query)
    if not terms:
        raise ValueError("empty query")
    if index.get("forward") is None:
        raise ValueError(
            "impact retrieval needs the forward table "
            "(IndexConfig(store_forward=True)): exact candidate "
            "completion reads (doc_id → term, tf) there instead of "
            "re-decoding skipped posting lists")
    meta = _term_meta(spark, index, terms)  # corpus row rides along (r6)
    corpus = index["_corpus_row"]
    n_docs, avgdl = float(corpus["n_docs"]), float(corpus["avgdl"])
    live = sorted(meta.idfs)

    def _flat() -> DataFrame:
        return (
            _score_blocks(index, _terms_in(terms), meta.idfs, avgdl, cfg)
            .orderBy(F.round("score", cfg.bm25.rank_decimals).desc(),
                     F.col("doc_id").asc())
            .limit(k)
        )

    theta_eff = _bootstrap_theta_eff_prefix(
        spark, index, meta.idfs, k, cfg,
        exact=_common_term_regime(meta.dfs, n_docs))
    plan = _impact_plan(meta, theta_eff) if theta_eff is not None else None
    if stats is not None:
        stats.update({
            "terms": live, "theta_eff": theta_eff,
            "blocks_candidate": meta.n_blocks,
            "skipped": sorted(plan["skip"]) if plan else [],
            "cut": dict(plan["cut"]) if plan else {},
            "full": sorted(plan["full"]) if plan else live,
            "blocks_decoded": plan["est_blocks"] if plan else meta.n_blocks,
        })
    if plan is None:
        return _flat()

    # --- candidate generation: decode ONLY the planned blocks, ids only
    cuts = {**dict.fromkeys(plan["full"], -math.inf), **plan["cut"]}
    if not cuts:  # everything skipped: top-k comes from bootstrap
        # impossible in practice (θ_eff < Σ ubs by construction), but a
        # degenerate plan must not decode the world
        return _flat()
    pred = _cut_pred(cuts, avgdl)
    if stats is not None and stats.get("exact"):
        stats["blocks_decoded"] = posting_blocks(index).filter(pred).count()
    # dead candidates are harmless (their forward rows are already
    # tombstone-filtered), so the candidate side skips the anti-join;
    # the size gates therefore count raw ids: live dfs + tombstones
    ids_ub = sum(meta.dfs[t] for t in live if t not in plan["skip"]) \
        + index.get("_n_tombstones", 0)

    # --- exact completion from the forward table. The candidate
    # restriction is itself an OPTIMIZATION: scoring every forward row
    # of the live terms is equally lossless (a doc outside the decoded
    # blocks scores < θ_eff and only trails the true top-k), so the
    # ids-decode + join is applied only while the candidate set can
    # actually SHRINK the forward read — when its upper bound
    # approaches the corpus (low-θ / stopword-heavy regimes at small
    # scale), the join is a pure extra shuffle and is skipped
    # (measured: 48→~5 s on the 24-query crossover batch).
    cand_worthwhile = ids_ub <= max(cfg.index.broadcast_ids_max,
                                    int(n_docs) // 4)
    if stats is not None:
        stats["cand_join"] = bool(cand_worthwhile)
    cand_ids = (posting_ids(index, pred).select("doc_id").distinct()
                if cand_worthwhile else None)
    rows = (
        _forward_exact_scores(index, meta.idfs, avgdl, cand_ids,
                              ids_ub <= cfg.index.broadcast_ids_max, cfg)
        .orderBy(F.round("score", cfg.bm25.rank_decimals).desc(),
                 F.col("doc_id").asc())
        .limit(k)
        .collect()
    )
    return local_frame(spark, rows, TOPK_SCHEMA)


def bm25_topk_conj(
    spark: SparkSession,
    index: dict[str, DataFrame],
    query: str,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Conjunctive (every-term-required) BM25 top-k from the block
    index — the classic AND/"must" query mode. One decode pass over the
    query terms' blocks; the all-terms requirement is a count-distinct
    HAVING inside the same scoring aggregate, so conjunctive ranking
    costs exactly one extra agg column over disjunctive scoring."""
    k = _resolve_k(k, cfg)
    terms = _query_terms(index, query)
    if not terms:
        raise ValueError("empty query")
    idfs = _term_meta(spark, index, terms).idfs  # corpus row rides (r6)
    avgdl = float(index["_corpus_row"]["avgdl"])
    postings = posting_rows(index, _terms_in(terms))
    return (
        _with_doc_len(index, postings.withColumn("idf", _lit_map(idfs)[F.col("term")]))
        .groupBy("doc_id")
        .agg(F.sum(F.col("idf") * _bm25_w(avgdl, cfg)).alias("score"),
             F.count_distinct(F.col("term")).alias("_nt"))
        .filter(F.col("_nt") == len(terms))
        .orderBy(F.round("score", cfg.bm25.rank_decimals).desc(),
                 F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", "score")
    )


def _rare_term_candidates(
    spark: SparkSession,
    index: dict[str, DataFrame],
    uniq: list[str],
    cfg: EngineConfig,
):
    """AND-prefilter for multi-term phrase surfaces: (candidates, can
    broadcast) — doc_ids of the RAREST phrase term, or (None, False)
    when the prefilter cannot pay for itself.

    Shrinks the slot-alignment (and, in phrase_topk, the scoring)
    shuffles to docs containing the rarest term. Candidates come from a
    doc_ids-only decode of that ONE term's blocks — a strict subset of
    the positional decode's blocks, never a second full pass over all
    of them (r3 decoded every phrase term's blocks twice here). Slot
    alignment itself enforces containment of the remaining terms, so a
    superset candidate set is correct — which also means the candidate
    side needs NO dead-postings filter (the positional rows it joins
    against are already tombstone-filtered; a superset that still lists
    dead ids keeps zero extra rows).

    Gates: fire only past the flat-vs-prune block threshold AND when
    the rarest term is selective enough to shrink anything (df < N/2 —
    an all-stopword phrase gains nothing). Broadcast the candidate side
    while its exact upper bound (the rarest term's df, known from
    metadata) fits cfg.index.broadcast_ids_max; shuffle-join above."""
    if len(uniq) < 2:
        return None, False
    meta = _term_meta(spark, index, uniq)  # corpus row rides along (r6)
    n_docs_idx = float(index["_corpus_row"]["n_docs"])
    if meta.n_blocks <= cfg.bm25.prune_min_blocks:
        return None, False
    # live dfs ride along in the term metadata (memoized / serving-mode
    # dict) — no separate term_stats collect job here
    dfr = meta.dfs
    if len(dfr) != len(uniq):
        return None, False
    rare = min(dfr, key=lambda t: (dfr[t], t))
    if dfr[rare] >= n_docs_idx / 2:
        return None, False
    cand = posting_ids(index, F.col("term") == rare).select("doc_id").distinct()
    # the candidate decode skips tombstone filtering (a superset is
    # correct — see above), so the broadcast bound must be the RAW id
    # count: live df (net of replace deltas) plus every tombstone, the
    # exact worst case after heavy replacement (r4 ADVICE #2)
    raw_ids_ub = dfr[rare] + index.get("_n_tombstones", 0)
    return cand, raw_ids_ub <= cfg.index.broadcast_ids_max


def phrase_match(
    spark: SparkSession,
    index: dict[str, DataFrame],
    phrase: str,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Docs containing the exact token phrase, answered FROM THE INDEX
    (positional postings) — never a corpus re-scan.

    Relational adjacency check: each phrase slot i contributes rows
    (doc_id, base = pos - i); a doc matches iff some base collects all
    L distinct slots. The per-slot offset is a literal map lookup
    (term → slot array; duplicate words in the phrase get multiple
    slots), so the plan is: prune postings to the phrase's terms
    (partition/predicate pushdown on the blocks scan) → positional
    decode of just those blocks → one hash aggregate. Cost scales with
    the phrase terms' postings, not the corpus.

    Requires an index built with store_positions=True (meta-gated);
    raises ValueError otherwise — a silent fallback to a corpus scan
    would hide a 100×-scale regression.

    Multi-term phrases first compute the AND candidate set (docs
    containing every phrase term) from the cheaper doc_ids-only decode
    and hash-filter the positional rows against it before the
    slot-alignment aggregate — for a phrase with one selective term the
    aggregate shrinks from Σ cf(term) token rows to the candidate docs'
    rows (broadcast when the candidate set is small, shuffle join
    otherwise; doc_ids are uniform hashes, so block-range skipping
    cannot help and is deliberately not attempted).
    """
    terms = analyze_query(index.get("analyzer", "standard"), phrase)
    if not terms:
        raise ValueError("empty phrase")
    if not index.get("positions_stored"):
        raise ValueError(
            "index stores no positions — build with "
            "IndexConfig(store_positions=True) to serve phrase queries")
    uniq = sorted(set(terms))
    slots: dict[str, list[int]] = {}
    for i, t in enumerate(terms):
        slots.setdefault(t, []).append(i)
    blocks = posting_blocks(index).filter(_terms_in(uniq))
    rows = filter_dead_postings(
        decode_positions_flat(blocks), index.get("tombstones"),
        index.get("_n_tombstones", 0))
    cand, bc = _rare_term_candidates(spark, index, uniq, cfg)
    if cand is not None:
        rows = rows.join(F.broadcast(cand) if bc else cand, "doc_id")
    slot_map = _lit_map(slots, "array<int>")
    aligned = rows.withColumn("slot", F.explode(slot_map[F.col("term")]))
    hits = (
        aligned.groupBy("doc_id", (F.col("pos") - F.col("slot")).alias("base"))
        .agg(F.count_distinct(F.col("slot")).alias("n_slots"))
        .filter(F.col("n_slots") == len(terms))
    )
    return hits.select("doc_id").distinct()


def phrase_topk(
    spark: SparkSession,
    index: dict[str, DataFrame],
    phrase: str,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """BM25-ranked exact-phrase search: top-k docs CONTAINING the phrase
    scored by BM25 over the phrase's terms — the classic quoted-query
    surface, entirely index-only with ONE positional decode: tf is the
    per-(term, doc) position count, so containment (slot alignment) and
    scoring both derive from the same decoded rows (persisted for the
    duration of the query, released before returning). Rank order is
    the engine-wide (round(score, d) desc, doc_id asc) total order."""
    k = _resolve_k(k, cfg)
    ordered = analyze_query(index.get("analyzer", "standard"), phrase)
    terms = list(dict.fromkeys(ordered))
    if not terms:
        raise ValueError("empty phrase")
    if not index.get("positions_stored"):
        raise ValueError(
            "index stores no positions — build with "
            "IndexConfig(store_positions=True) to serve phrase queries")
    idfs = _term_meta(spark, index, terms).idfs  # corpus row rides (r6)
    avgdl = float(index["_corpus_row"]["avgdl"])
    if not idfs:  # no phrase term exists in the vocabulary: no hits
        return local_frame(spark, [], TOPK_SCHEMA)

    blocks = posting_blocks(index).filter(_terms_in(terms))
    rows = filter_dead_postings(
        decode_positions_flat(blocks), index.get("tombstones"),
        index.get("_n_tombstones", 0))
    # same rarest-term AND-prefilter as phrase_match (r4): docs lacking
    # the rarest term can neither contain the phrase nor reach the
    # left_semi against hits, so pre-joining bounds BOTH the
    # slot-alignment and the scoring shuffles (and the persisted cache)
    # by min_df instead of Σ cf of the phrase terms
    cand, bc = _rare_term_candidates(spark, index, sorted(set(terms)), cfg)
    if cand is not None:
        rows = rows.join(F.broadcast(cand) if bc else cand, "doc_id")
    rows = rows.persist()
    try:
        slots: dict[str, list[int]] = {}
        for i, t in enumerate(ordered):
            slots.setdefault(t, []).append(i)
        slot_map = _lit_map(slots, "array<int>")
        hits = (
            rows.withColumn("slot", F.explode(slot_map[F.col("term")]))
            .groupBy("doc_id", (F.col("pos") - F.col("slot")).alias("base"))
            .agg(F.count_distinct(F.col("slot")).alias("n_slots"))
            .filter(F.col("n_slots") == len(ordered))
            .select("doc_id").distinct()
        )
        tf_rel = rows.groupBy("term", "doc_id").agg(
            F.count(F.lit(1)).alias("tf"))
        scored = (
            tf_rel.withColumn("idf", _lit_map(idfs)[F.col("term")])
            .join(index["docs"], "doc_id")
            .groupBy("doc_id").agg(
                F.sum(F.col("idf") * _bm25_w(avgdl, cfg)).alias("score"))
        )
        out = (
            scored.join(hits, "doc_id", "left_semi")
            .orderBy(F.round("score", cfg.bm25.rank_decimals).desc(),
                     F.col("doc_id").asc())
            .limit(k)
            .select("doc_id", "score")
            .collect()
        )
    finally:
        rows.unpersist()
    return local_frame(spark, out, TOPK_SCHEMA)


def phrase_topk_batch(
    spark: SparkSession,
    index: dict[str, DataFrame],
    queries: list[tuple[int, str, int]],
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Batched quoted-query retrieval: (query_id, rank, doc_id, score)
    for every (query_id, phrase, k) — phrase_topk's throughput twin,
    mirroring what bm25_topk_batch does for term queries (r4 verdict
    item 5: the single-phrase path pays the ~0.5 s Spark job floor per
    phrase; a 24-phrase workload deserves one job, not 24).

    Plan: ONE positional decode over the union of every phrase's terms
    (tombstone-filtered) → per-occurrence rows join the tiny broadcast
    (query_id, term, slot) relation → slot alignment per (query, doc,
    base) establishes containment → tf from the same decoded rows +
    literal idf map scores each (query, doc) over the query's terms →
    left-semi against that query's hits → per-query window top-k with
    per-query k. Like the single-phrase path, containment and scoring
    both come from the single decode pass; cost scales with the union
    of the phrases' postings, never the corpus or the phrase count.

    Per-phrase results are identical to phrase_topk (tests/test_phrase).
    """
    if not index.get("positions_stored"):
        raise ValueError(
            "index stores no positions — build with "
            "IndexConfig(store_positions=True) to serve phrase queries")
    # duplicate query_ids would merge both phrases' slot rows under one
    # id and silently corrupt the ns == n_slots containment join (r6,
    # advice) — reject up front
    if len({qid for qid, _, _ in queries}) != len(queries):
        raise ValueError("duplicate query_id in phrase batch")

    slot_rows: list[tuple[int, str, int]] = []
    meta_rows: list[tuple[int, int, int]] = []  # (qid, n_slots, k)
    all_terms: set[str] = set()
    for qid, phrase, k in queries:
        ordered = analyze_query(index.get("analyzer", "standard"), phrase)
        if not ordered:
            raise ValueError(f"empty phrase for query_id={qid}")
        meta_rows.append((qid, len(ordered), _resolve_k(k, cfg)))
        for i, t in enumerate(ordered):
            slot_rows.append((qid, t, i))
            all_terms.add(t)
    if not slot_rows:
        return local_frame(spark, [], BATCH_SCHEMA)
    slots_df = local_frame(spark, slot_rows, "query_id long, term string, slot int")
    qmeta = local_frame(spark, meta_rows, "query_id long, n_slots int, k int")
    terms = sorted(all_terms)
    idfs = _term_meta(spark, index, terms).idfs  # corpus row rides (r6)
    avgdl = float(index["_corpus_row"]["avgdl"])
    if not idfs:  # no phrase term exists in the vocabulary: no hits
        return local_frame(spark, [], BATCH_SCHEMA)

    blocks = posting_blocks(index).filter(_terms_in(terms))
    rows = filter_dead_postings(
        decode_positions_flat(blocks), index.get("tombstones"),
        index.get("_n_tombstones", 0)).persist()
    try:
        # containment: every slot of the phrase collects at one base
        aligned = rows.join(F.broadcast(slots_df), "term")
        hits = (
            aligned.groupBy("query_id", "doc_id",
                            (F.col("pos") - F.col("slot")).alias("base"))
            .agg(F.count_distinct(F.col("slot")).alias("ns"))
            .join(F.broadcast(qmeta.select("query_id", "n_slots")), "query_id")
            .filter(F.col("ns") == F.col("n_slots"))
            .select("query_id", "doc_id").distinct()
        )
        # scoring: tf = per-(term, doc) occurrence count from the SAME
        # decoded rows; per-query sum over that query's distinct terms
        tf_rel = rows.groupBy("term", "doc_id").agg(
            F.count(F.lit(1)).alias("tf"))
        qterms = slots_df.select("query_id", "term").distinct()
        scored = (
            tf_rel.join(F.broadcast(qterms), "term")
            .withColumn("idf", _lit_map(idfs)[F.col("term")])
            .join(index["docs"], "doc_id")
            .groupBy("query_id", "doc_id")
            .agg(F.sum(F.col("idf") * _bm25_w(avgdl, cfg)).alias("score"))
        )
        win = Window.partitionBy("query_id").orderBy(
            F.round("score", cfg.bm25.rank_decimals).desc(),
            F.col("doc_id").asc())
        out = (
            scored.join(hits, ["query_id", "doc_id"], "left_semi")
            .withColumn("rank", F.row_number().over(win))
            .join(F.broadcast(qmeta.select("query_id", "k")), "query_id")
            .filter(F.col("rank") <= F.col("k"))
            .select("query_id", "rank", "doc_id", "score")
            .collect()
        )
    finally:
        rows.unpersist()
    return local_frame(spark, out, BATCH_SCHEMA)


def highlight_topk(
    spark: SparkSession,
    index: dict[str, DataFrame],
    docs: DataFrame,
    query: str,
    k: int | None = None,
    window: int = 3,
    cfg: EngineConfig = DEFAULT,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k BM25 with a POSITION-driven snippet: the token window
    around each hit doc's first query-term occurrence — the serving
    surface behind highlighted search results (the reference truncates
    text blindly, rag/pipeline.py:226-238; position-aware windows need
    the positional index).

    (doc_id, score, first_pos, snippet): first_pos is the 0-based token
    position of the earliest occurrence of ANY query term, served from
    the positional postings (never a corpus token re-scan); snippet =
    tokens[max(0, first_pos−window) .. first_pos+window] of the doc,
    sliced relationally from the docs table (only the k hit docs are
    tokenized — the doc_id predicate prunes the corpus scan).

    Plan: k-row top-k (flat WAND) → positional decode of the query
    terms' blocks filtered to the k ids (literal isin) → min(pos) per
    doc → join the k docs' token arrays → slice. Cost ∝ query terms'
    positions + k docs, independent of corpus size."""
    from semcode_spark.functions.tokenize import tokens_col

    k = _resolve_k(k, cfg)
    terms = _query_terms(index, query)
    if not terms:
        raise ValueError("empty query")
    if not index.get("positions_stored"):
        raise ValueError(
            "index stores no positions — build with "
            "IndexConfig(store_positions=True) to serve highlights")
    top = wand_topk(spark, index, query, k, cfg, prune=False).collect()
    out_schema = ("doc_id long, score double, first_pos long, "
                  "snippet string")
    if not top:
        return local_frame(spark, [], out_schema)
    ids = [r["doc_id"] for r in top]
    scores = local_frame(spark, top, TOPK_SCHEMA)
    blocks = posting_blocks(index).filter(_terms_in(terms))
    first = (
        filter_dead_postings(
            decode_positions_flat(blocks), index.get("tombstones"),
            index.get("_n_tombstones", 0))
        .filter(F.col("doc_id").isin(ids))
        .groupBy("doc_id").agg(F.min("pos").alias("first_pos"))
    )
    toks = (docs.filter(F.col(id_col).isin(ids))
            .select(F.col(id_col).alias("doc_id"),
                    tokens_col(text_col).alias("_toks")))
    lo = F.greatest(F.lit(1), F.col("first_pos") + 1 - window)  # 1-based
    ln = (F.col("first_pos") + 1 + window) - lo + 1
    return (
        scores.join(first, "doc_id")
        .join(toks, "doc_id")
        .select(
            "doc_id", "score", "first_pos",
            F.concat_ws(" ", F.slice("_toks", lo, ln)).alias("snippet"))
        .orderBy(F.round("score", cfg.bm25.rank_decimals).desc(),
                 F.col("doc_id").asc())
    )


def suggest_terms(
    spark: SparkSession,
    index: dict[str, DataFrame],
    word: str,
    max_dist: int = 2,
    n: int = 10,
) -> DataFrame:
    """Did-you-mean: vocabulary terms within ``max_dist`` edits of
    ``word``, ranked by (distance asc, df desc, term asc) — the classic
    fuzzy-suggestion surface, served ENTIRELY from the index's term
    dictionary (term_stats aggregate; no corpus or postings access).

    The word is normalized through the index's analyzer first (a
    stemmed index suggests over stemmed vocabulary — same invariant as
    querying). A |length−len(word)| ≤ max_dist prefilter prunes the
    dictionary before the O(len²) edit-distance compare; both the
    filter and levenshtein are JVM codegen, and at web scale the term
    dictionary (~10^7 rows) is the SMALL relation of the whole engine,
    so this is a metadata-only job. (doc_id-free: term, dist, df.)"""
    terms = analyze_query(index.get("analyzer", "standard"), word)
    if not terms:
        raise ValueError("empty suggestion seed")
    t = terms[0]
    return (
        index["term_stats"]
        .filter(F.abs(F.length("term") - len(t)) <= max_dist)
        .withColumn("dist", F.levenshtein(F.col("term"), F.lit(t)))
        .filter(F.col("dist") <= max_dist)
        .orderBy(F.col("dist").asc(), F.col("df").desc(),
                 F.col("term").asc())
        .limit(n)
        .select("term", F.col("dist").cast("long").alias("dist"),
                F.col("df").cast("long").alias("df"))
    )


def vocab_top_terms(
    spark: SparkSession,
    index: dict[str, DataFrame],
    n: int = 20,
) -> DataFrame:
    """Vocabulary exploration: the n highest-df terms with their df/cf —
    a pure term-dictionary aggregate (segment partials summed on read),
    no postings decode. (term, df, cf), ordered (df desc, term asc)."""
    return (
        index["term_stats"]
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(n)
        .select("term", F.col("df").cast("long").alias("df"),
                F.col("cf").cast("long").alias("cf"))
    )


def facet_counts(
    spark: SparkSession,
    index: dict[str, DataFrame],
    docs: DataFrame,
    query: str,
    facet_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Search facets: how many docs matching the query (OR semantics —
    any term) fall in each bucket of ``facet_col`` (e.g. lang, source).
    The standard result-page sidebar aggregate.

    Plan: doc_ids-only decode of the query terms' blocks (partition-
    pruned scan, tombstone-filtered) → distinct matching ids → semi-
    shaped join against the corpus attribute column → count per bucket.
    The corpus scan reads TWO columns (id + facet — column pruning) and
    the join key is the already-deduplicated match set; cost ∝ matching
    docs, never the corpus row width. (facet, n), ordered (n desc,
    facet asc)."""
    terms = _query_terms(index, query)
    if not terms:
        raise ValueError("empty query")
    matches = (posting_rows(index, _terms_in(terms))
               .select("doc_id").distinct())
    return (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.col(facet_col).alias("facet"))
        .join(matches, "doc_id")
        .groupBy("facet")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("facet").asc())
    )


def query_with_fallback(
    spark: SparkSession,
    index: dict[str, DataFrame],
    query: str,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> tuple[list, str, list[str]]:
    """Degraded-result query path (reference rag/pipeline.py:54-79,
    219-249: retrieval errors are captured and the response degrades
    instead of failing). Ladder: pruned WAND → flat index scan → empty
    result with mode='degraded'. Returns (rows, mode, fallbacks);
    rows are (doc_id, score) Rows, mode ∈ {'pruned', 'flat',
    'degraded'}, and fallbacks records WHY each rung was abandoned
    ('<mode>: <error>' strings, empty on the happy path) — the analog
    of the reference's logged fallback reason + telemetry counter
    (rag/pipeline.py:75-79, api/telemetry.py:49-52). A degraded
    serving path that hides its cause is unobservable and undebuggable.

    Invalid input (empty query) still raises — that is a caller error,
    not a retrieval failure (reference api/main.py:203-206 validates
    before querying)."""
    k = _resolve_k(k, cfg)
    if not _query_terms(index, query):
        raise ValueError("empty query")
    fallbacks: list[str] = []
    try:
        return (wand_topk(spark, index, query, k, cfg, prune=True).collect(),
                "pruned", fallbacks)
    except ValueError:
        raise
    except Exception as e:  # noqa: BLE001 — rung failure, recorded below
        fallbacks.append(f"pruned: {type(e).__name__}: {e}")
    try:
        return (wand_topk(spark, index, query, k, cfg, prune=False).collect(),
                "flat", fallbacks)
    except Exception as e:  # noqa: BLE001
        fallbacks.append(f"flat: {type(e).__name__}: {e}")
        return [], "degraded", fallbacks


def bm25_topk_batch(
    spark: SparkSession,
    index: dict[str, DataFrame],
    queries: list[tuple[int, str, int]],
    cfg: EngineConfig = DEFAULT,
    prune: bool | str = "auto",
) -> DataFrame:
    """Batched top-k over the block index: (query_id, rank, doc_id, score)
    for every (query_id, text, k) — the throughput-oriented retrieval
    path (amortizes Spark's per-job floor across the whole query set).

    Plan: [optional θ-bootstrap job: decode only the UNION of the terms'
    build-time best blocks, score per query, collect each query's kth
    best] → one decode pass over the surviving blocks of the union of
    query terms → per-(query, doc) score agg → per-query window top-k.
    Scales with the size of the touched postings, never the corpus.
    Query terms, ids and k enter the plan as literals (_batch_topk), so
    on a serving handle the whole batch runs without a Python worker.

    Pruning is the batch generalization of wand_topk's block-max filter:
    a block of term t is kept iff ANY query containing t could still
    reach its θ bucket, i.e. max_w·corr ≥ min over q∋t of
    (θ_eff_q − (total_ub_q − ub_t)) / idf_t — a literal per-term map,
    no join. Per query q the survivor set is a superset of q's own
    single-query survivor set, so every doc in q's true rounded top-k is
    scored COMPLETELY; docs with a pruned block score < θ_eff_q and
    cannot displace the k fully-scored bootstrap docs (same argument as
    wand_topk, per query). Lossless: tests assert pruned == unpruned.
    """
    _check_prune(prune)
    if len({qid for qid, _, _ in queries}) != len(queries):
        raise ValueError("duplicate query_id in batch")
    q_terms = {qid: _query_terms(index, text) for qid, text, _ in queries}
    k_of = {qid: _resolve_k(k, cfg) for qid, _, k in queries}
    all_terms = sorted({t for ts in q_terms.values() for t in ts})
    if not all_terms:
        return local_frame(spark, [], BATCH_SCHEMA)

    meta = _term_meta(spark, index, all_terms)  # corpus row rides (r6)
    corpus = index["_corpus_row"]
    n_docs, avgdl = float(corpus["n_docs"]), float(corpus["avgdl"])
    idfs, term_ubs, best = meta.idfs, meta.ubs, meta.best
    if not idfs:  # no query term is in the vocabulary: no hits
        return local_frame(spark, [], BATCH_SCHEMA)
    if prune == "auto":
        # auto = flat at sandbox scales (r4, measured — see wand_topk
        # and BENCH/BASELINE.md): batched STATIC pruning is weaker
        # still (per-term cutoffs minimized over every query sharing
        # the term; 100% survivors at 45k/91k blocks). Past
        # impact_auto_min_blocks the batch switches to impact retrieval
        # (r5) — three jobs for the whole set, decode bounded by the
        # merged per-query plans — when the forward table exists and
        # the layout is impact-ordered (r6, advice: see wand_topk).
        prune = ("impact" if meta.n_blocks > cfg.bm25.impact_auto_min_blocks
                 and index.get("forward") is not None
                 and index.get("impact_layout") else False)
    if prune == "impact":
        return _bm25_topk_batch_impact(
            spark, index, q_terms, k_of, meta, n_docs, avgdl, cfg)

    pred = _terms_in(all_terms)
    if prune and term_ubs:
        # θ bootstrap for ALL queries in one job: each term's single
        # best block (build-time pointer), scored per query
        theta_rows = (
            _batch_topk(posting_rows(index, _best_block_pred(best)),
                        index, idfs, q_terms, k_of, avgdl, cfg)
            .groupBy("query_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.min("score").alias("kth"),
                F.max("k").alias("k"))
            .collect()
        )
        eps = _theta_slack(cfg)
        theta_eff = {r["query_id"]: (r["kth"] - eps if r["n"] >= r["k"]
                                     else -1e30) for r in theta_rows}
        for qid, _, _ in queries:
            theta_eff.setdefault(qid, -1e30)
        cutoffs: dict[str, float] = {}
        for qid, ts in q_terms.items():
            total_ub = sum(term_ubs.get(t, 0.0) for t in ts)
            for t in ts:
                if t not in term_ubs:
                    continue
                c = (theta_eff[qid] - (total_ub - term_ubs[t])) / idfs[t]
                if t not in cutoffs or c < cutoffs[t]:
                    cutoffs[t] = c
        pred = _cut_pred(cutoffs, avgdl)

    return (
        _batch_topk(posting_rows(index, pred), index, idfs, q_terms, k_of,
                    avgdl, cfg)
        .select("query_id", "rank", "doc_id", "score")
    )


def _batch_topk(
    rows: DataFrame,
    index: dict,
    idfs: dict[str, float],
    q_terms: dict[int, list[str]],
    k_of: dict[int, int],
    avgdl: float,
    cfg: EngineConfig,
) -> DataFrame:
    """Each query's top-k of the (term, doc_id, tf[, doc_len]) ``rows``:
    a row scores for every query holding its term. (query_id, rank,
    doc_id, score, k), rank ≤ k. The term → query-ids fan-out, the idfs
    and the per-query k are literal maps, so the plan reads no
    driver-built relation (one would cost a Python-worker stage per
    job). On serving rows the (query_id, doc_id) aggregate runs inside
    the doc_id partitions; only the per-query window shuffles."""
    qids_of: dict[str, list[int]] = {}
    for qid, ts in q_terms.items():
        for t in ts:
            if t in idfs:
                qids_of.setdefault(t, []).append(qid)
    by_term = _lit_map(qids_of, "array<bigint>")
    k_map = _lit_map(k_of, "int")
    win = Window.partitionBy("query_id").orderBy(
        F.round("score", cfg.bm25.rank_decimals).desc(), F.col("doc_id").asc())
    return (
        _with_doc_len(index, rows.withColumn("idf", _lit_map(idfs)[F.col("term")]))
        .withColumn("query_id", F.explode(by_term[F.col("term")]))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("idf") * _bm25_w(avgdl, cfg)).alias("score"))
        .withColumn("rank", F.row_number().over(win))
        .withColumn("k", k_map[F.col("query_id").cast("string")])
        .filter(F.col("rank") <= F.col("k"))
    )


def _meta_slice(meta: TermMeta, terms: list[str]) -> TermMeta:
    """meta restricted to one query's terms (for per-query planning)."""
    ts = [t for t in terms if t in meta.idfs]
    return TermMeta(
        {t: meta.idfs[t] for t in ts}, {t: meta.ubs[t] for t in ts},
        {t: meta.best[t] for t in ts},
        sum(meta.blocks.get(t, 0) for t in ts),
        {t: meta.blocks.get(t, 0) for t in ts},
        {t: meta.dfs[t] for t in ts},
        {t: meta.hists[t] for t in ts if t in meta.hists})


def _bm25_topk_batch_impact(
    spark: SparkSession,
    index: dict[str, DataFrame],
    q_terms: dict[int, list[str]],
    k_of: dict[int, int],
    meta: TermMeta,
    n_docs: float,
    avgdl: float,
    cfg: EngineConfig,
) -> DataFrame:
    """Batched impact retrieval: wand_topk_impact's bounded-decode plan
    amortized across the whole query set — THREE jobs total (θ
    bootstrap for every query at once, ONE ids-only decode of the
    merged planned blocks, one forward-completion scoring pass),
    instead of per-query jobs.

    Per-term decode decisions merge across queries conservatively: full
    if any query needs the term fully, else the MINIMUM cut over
    queries that cut it, else skip. The decoded set is therefore a
    superset of every query's own plan, so per query q any doc absent
    from q's decoded blocks scores < θ_eff_q (q's own joint tail
    bound). Scoring from the forward table may also score docs that
    are candidates only via ANOTHER query's blocks — harmless: such a
    doc's score for q is provably below q's θ bucket, so it cannot
    displace a true top-k member (it can only trail them). Lossless:
    tests assert impact == flat batch."""
    if index.get("forward") is None:
        raise ValueError(
            "impact retrieval needs the forward table "
            "(IndexConfig(store_forward=True))")
    live = sorted(meta.idfs)
    live_terms = _terms_in(live)

    # --- job 1: θ bootstrap for every query at once — the union of
    # every term's top-`impact_bootstrap_depth` impact blocks gives the
    # candidate ids, which are then scored EXACTLY from the forward
    # table per query (r6; see _bootstrap_theta_eff_prefix: the k-th
    # exact score of a doc subset still lower-bounds the global k-th,
    # and exact completion is far tighter than the r5 partial sums for
    # all-common-term queries — their θ sat so low the planner decoded
    # half the candidate blocks)
    best_pred = (live_terms
                 & (F.col("block_id") < cfg.bm25.impact_bootstrap_depth))
    # exact completion only when some query is stopword-heavy — the
    # extra forward pass buys nothing for rare-term-only batches, whose
    # partial-sum θ already plans ≤4% decode fractions
    any_common = any(
        _common_term_regime({t: meta.dfs[t] for t in ts if t in meta.dfs},
                            n_docs)
        for ts in q_terms.values())
    if any_common:
        boot_ids = posting_ids(index, best_pred).select("doc_id").distinct()
        boot = _restrict_ids(index, live_forward(index).filter(live_terms),
                             boot_ids, True)
    else:
        boot = posting_rows(index, best_pred)
    theta_rows = (
        _batch_topk(boot, index, meta.idfs, q_terms, k_of, avgdl, cfg)
        .groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.min("score").alias("kth"),
            F.max("k").alias("k"))
        .collect()
    )
    eps = _theta_slack(cfg)
    theta_eff = {r["query_id"]: (r["kth"] - eps if r["n"] >= r["k"]
                                 else None) for r in theta_rows}

    # --- per-query plans, merged per term: full > min-cut > skip
    decision: dict[str, tuple[str, float]] = {}  # term -> (kind, cut)

    def _need(t: str, kind: str, cut: float = 0.0) -> None:
        cur = decision.get(t)
        if kind == "full" or (cur is not None and cur[0] == "full"):
            decision[t] = ("full", 0.0)
        elif kind == "cut":
            if cur is None or cur[0] == "skip":
                decision[t] = ("cut", cut)
            else:
                decision[t] = ("cut", min(cur[1], cut))
        elif cur is None:
            decision[t] = ("skip", 0.0)

    for qid, ts in q_terms.items():
        sub = _meta_slice(meta, ts)
        plan = _impact_plan(sub, theta_eff.get(qid)) \
            if theta_eff.get(qid) is not None else None
        if plan is None:
            for t in sub.idfs:
                _need(t, "full")
            continue
        for t in plan["full"]:
            _need(t, "full")
        for t, cw in plan["cut"].items():
            _need(t, "cut", cw)
        for t in plan["skip"]:
            _need(t, "skip")

    # one term → cut map: a full term's -inf cut keeps every block, a
    # skipped term is absent
    cuts = {t: -math.inf if kind == "full" else cut
            for t, (kind, cut) in decision.items() if kind != "skip"}
    # every term skippable for every query: the bootstrap docs already
    # dominate every other doc; still score them exactly
    pred = _cut_pred(cuts, avgdl) if cuts else best_pred

    # --- job 2+3 (one action): ids-only decode of the merged planned
    # blocks → union candidate ids → forward completion, scored per
    # (query, doc) over each query's terms, per-query window top-k
    ids_ub = sum(meta.dfs[t] for t, d in decision.items()
                 if d[0] != "skip") + index.get("_n_tombstones", 0)
    fwd = live_forward(index).filter(live_terms)
    # candidate restriction only while it can shrink the forward read —
    # see wand_topk_impact: scoring every live-term forward row is
    # equally lossless, and a candidate set near the corpus makes the
    # ids-decode + join a pure extra shuffle
    if ids_ub <= max(cfg.index.broadcast_ids_max, int(n_docs) // 4):
        cand_ids = posting_ids(index, pred).select("doc_id").distinct()
        fwd = _restrict_ids(index, fwd, cand_ids,
                            ids_ub <= cfg.index.broadcast_ids_max)
    return (
        _batch_topk(fwd, index, meta.idfs, q_terms, k_of, avgdl, cfg)
        .select("query_id", "rank", "doc_id", "score")
    )


def _score_blocks(
    index: dict,
    pred,
    idfs: dict[str, float],
    avgdl: float,
    cfg: EngineConfig,
) -> DataFrame:
    """Live postings of the blocks matching ``pred`` (posting_rows),
    doc lengths joined, exact BM25 per doc. ``idfs`` (term → idf, a
    handful of query terms) enters the plan as a literal map — no
    broadcast exchange."""
    postings = posting_rows(index, pred)
    if not idfs:
        return postings.groupBy("doc_id").agg(
            F.lit(0.0).alias("score")).limit(0)
    joined = _with_doc_len(
        index, postings.withColumn("idf", _lit_map(idfs)[F.col("term")]))
    return joined.groupBy("doc_id").agg(
        F.sum(F.col("idf") * _bm25_w(avgdl, cfg)).alias("score"))
