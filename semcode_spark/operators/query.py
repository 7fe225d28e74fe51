"""BM25 top-k ranked retrieval.

Three paths, all DataFrame-planned:

1. ``bm25_topk`` — exhaustive scoring straight off the corpus (or a flat
   tf relation). This is the oracle-comparable path: broadcast the query
   terms, join postings, one hash agg, TakeOrderedAndProject. Mirrors
   the reference's retrieval orchestration (rag/pipeline.py:93-131) with
   the ANN probe (storage/milvus_store.py:135-148) replaced by a
   broadcast join.

2. ``wand_topk``, ``wand_topk_impact`` and ``bm25_topk_batch`` — the
   persisted block index, all three thin entry points over ONE planner
   (``_retrieve``) with two plans:

   - flat: read every posting of the query terms and score it;
   - impact: bound the decode. A θ bootstrap scores the docs of each
     term's top impact blocks, ``_impact_plan`` picks per term how much
     of its impact-ordered block prefix to decode so that no doc outside
     the decoded blocks can reach θ's rounding bucket, and the
     candidates are scored exactly from the forward table. The analog
     of IVF's nprobe (milvus_store.py:144), but lossless: tests assert
     impact == flat == exhaustive.

   ``prune="auto"`` picks flat below ``impact_auto_min_blocks``
   candidate blocks and impact above it. A batch shares every decode
   across its queries.

3. ``phrase_match``, ``phrase_topk`` and ``phrase_topk_batch`` — the
   positional index, thin entry points over ONE phrase planner
   (``_phrase``): slot alignment over the phrase terms' positions gives
   each query's containing docs (optionally prefiltered to the docs of
   each query's rarest term), and the ranked surfaces score the phrase
   terms' posting rows of those docs with the retrieval planner's
   ``_scores`` and ``_topk``.

Physical shape (both planners): one query scores per doc_id (hash agg)
and takes its top-k with TakeOrderedAndProject — a local top-k per
partition, merged on the driver (SURVEY §3.2; the shape of "Distributed
Similarity Joins over Top-K Rankings", EDBT 2020). On a serving handle
(postings cached hash-partitioned by doc_id) a flat query is one job
with no exchange. A batch scores per (query_id, doc_id) and ranks with
a per-query window.

Rank identity: total order (round(score, d) desc, doc_id asc) — SURVEY
§7.3(b); d = cfg.bm25.rank_decimals.
"""

from __future__ import annotations

import json
import math
from typing import Literal, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from semcode_spark.config import DEFAULT, EngineConfig
from semcode_spark.functions.analyzers import analyze_query, analyzer
from semcode_spark.operators.index_build import (
    bm25_weight, is_serving, live_forward, posting_ids, posting_positions,
    posting_rows,
)
from semcode_spark.sources.tables import local_frame

TOPK_SCHEMA = "doc_id long, score double"
BATCH_SCHEMA = "query_id long, rank int, doc_id long, score double"

# The plan choice of the retrieval planner: False (flat), "impact", or
# "auto" (flat or impact by the candidate block count, _resolve_plan).
Plan = Literal[False, "auto", "impact"]


def idf_col(df_col: Column, n_docs: float | Column) -> Column:
    """Lucene-style non-negative idf: ln((N - df + 0.5)/(df + 0.5) + 1);
    ``n_docs`` is a driver-side float or an in-plan column (idf_py is
    its driver-side twin)."""
    return F.log((F.lit(n_docs) - df_col + 0.5) / (df_col + 0.5) + 1.0)


def idf_py(df: float, n_docs: float) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


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


def _check_prune(prune: Plan) -> None:
    """The plan choices: False (flat), "impact" and "auto" (flat or
    impact by the candidate block count)."""
    if not (prune is False or prune in ("auto", "impact")):
        raise ValueError(
            f'prune must be False, "auto" or "impact", got {prune!r}')


def _check_query_ids(queries) -> None:
    """A batch's query ids are distinct ints. The plan carries them as
    bigint literals, where any other id would turn null and silently
    lose its rows."""
    ids = [q[0] for q in queries]
    for qid in ids:
        if isinstance(qid, bool) or not isinstance(qid, int) \
                or not -2 ** 63 <= qid < 2 ** 63:
            raise ValueError(
                f"query_id must be an int in the bigint range, got {qid!r}")
    if len(set(ids)) != len(ids):
        raise ValueError("duplicate query_id in batch")


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
        "doc_id", F.size(arr).alias("doc_len"),
        *[F.size(F.filter(arr, _eq(t))).alias(f"_tf{i}")
          for i, t in enumerate(terms)])
    stats = proj.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        F.avg("doc_len").alias("_avgdl"),
        *[F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
          for i in range(len(terms))])
    cand = proj.filter(_reduce(
        lambda a, c: a | c, [F.col(f"_tf{i}") > 0 for i in range(len(terms))]))
    matched = cand.join(F.broadcast(stats))  # 1-row corpus stats, no collect

    def contrib(i: int):
        idf = idf_col(F.col(f"_df{i}"), F.col("_n_docs"))
        w = bm25_weight(F.col("_avgdl"), cfg, tf=f"_tf{i}")
        return F.when(F.col(f"_tf{i}") > 0, idf * w).otherwise(F.lit(0.0))

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
    """Per-term idf, global upper bound, block/df counts and the
    impact-prefix ladder, from term_stats ⋈ term_bounds (metadata only
    — never touches posting blocks).

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
            term_ubs[t] = max(ub, term_ubs.get(t, ub))
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
    return TermMeta(idfs, term_ubs, n_blocks, term_blocks, dfs, merged)


def wand_topk(
    spark: SparkSession,
    index: dict[str, DataFrame],
    query: str,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
    prune: Plan = "auto",
    stats: dict | None = None,
) -> DataFrame:
    """Top-k (doc_id, score) over the persisted block index.

    ``prune`` picks the plan: False reads every posting of the query
    terms (flat), "impact" bounds the read (see wand_topk_impact),
    "auto" takes impact past ``cfg.bm25.impact_auto_min_blocks``
    candidate blocks on an impact-ordered index with a forward table,
    flat below. Both plans are lossless: rank-identical to bm25_topk
    (tests/test_wand.py, incl. the θ-tie adversarial corpus and
    doc-replacement tombstones). Pass a ``stats`` dict to receive the
    plan that ran under ``stats["plan"]`` ("flat" or "impact"), plus
    the impact plan's diagnostics (wand_topk_impact)."""
    _check_prune(prune)
    return _retrieve(spark, index, [(0, query, k)], cfg, prune, batch=False,
                     stats=stats)


def wand_topk_impact(
    spark: SparkSession,
    index: dict[str, DataFrame],
    query: str,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
    stats: dict | None = None,
) -> DataFrame:
    """``wand_topk(prune="impact")``: lossless top-k with BOUNDED decode
    volume — the serving path for corpora where a single term's posting
    list dwarfs the top-k working set (a df≈N/2 term at 10^12 docs is
    ~5·10^11 postings; the flat plan decodes all of them).

    The plan (_impact_rows): a θ bootstrap from each term's top impact
    blocks; _impact_plan's per-term skip / impact-prefix / full decode
    with Σ tail bounds < θ_eff, so any doc in no decoded block provably
    misses every top-k bucket; exact completion of the candidates from
    the FORWARD table (doc_id → term, tf; tombstone-filtered), so a
    skipped term's contribution is never lost. Requires the forward
    table (store_forward=True) and raises otherwise — a silent fallback
    that decodes every skipped list would hide the 100×-scale
    regression this plan exists to prevent. Uses the flat rows when no
    pruning is possible (θ unreachable or the plan degenerates), the
    right choice at small scale.

    ``stats``: pass a dict to receive the plan (``"plan"``) and the
    decode-volume diagnostics (blocks_candidate, blocks_decoded,
    skipped/cut/full terms, theta_eff, cand_join); with
    ``stats["exact"]`` set, blocks_decoded is a real count of the
    distinct (term, group, salt, block_id) blocks the plan reads
    instead of the histogram estimate.
    ``blocks_decoded`` is the PLAN's decode requirement; when the
    candidate join is skipped (``cand_join`` False) the forward scan
    serves instead, so read the pair together."""
    return _retrieve(spark, index, [(0, query, k)], cfg, "impact",
                     batch=False, stats=stats)


def _common_term_regime(dfs: dict[str, float], n_docs: float) -> bool:
    """True when the query's posting mass is stopword-heavy (Σ df over
    half the corpus): only then does the partial-sum θ underestimate
    badly enough for the exact-completion bootstrap's extra forward
    pass to pay for itself — rare-term queries already plan ≤4% decode
    fractions from partial sums (measured r6, bench_impact.py)."""
    return sum(dfs.values()) >= 0.5 * n_docs


def _impact_plan(meta: TermMeta, theta_eff: float | None):
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
    impact-ordered block prefixes in between; the bound is joint over
    the terms, never a per-term comparison against θ.

    Returns ``(cuts, est)`` or None when no pruning is possible (θ_eff
    unknown or ≤ 0, or the plan degenerates to decode-everything).
    ``cuts[t]`` is the lowest corrected max_w of t's blocks to decode:
    +inf skips the term, -inf decodes all of it (the _cut_pred map).
    ``est[t]`` is the planned block count from the power-of-two-sampled
    histogram ranks, which LOWER-bound the true count at a cut (up to
    ~2× the sampled rank, plus blocks the avgdl-corrected predicate
    admits) — fine for steering the greedy; decode-volume METRICS should
    use stats['exact'] (a real count of the planned blocks)."""
    if theta_eff is None or theta_eff <= 0 or not meta.ubs:
        return None
    ladders: dict[str, list[tuple[float, float, float]]] = {}
    for t, ub in meta.ubs.items():
        idf = meta.idfs[t]
        steps: list[tuple[float, float, float]] = [(0.0, ub, math.inf)]
        for rank, w in meta.hists.get(t, []):
            tail = min(ub, idf * w)
            if tail < steps[-1][1]:
                steps.append((float(rank), tail, w))
        steps.append((float(meta.blocks.get(t, 0)), 0.0, -math.inf))
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
    cuts = {t: ladders[t][i][2] for t, i in state.items()}
    if all(c == -math.inf for c in cuts.values()):
        return None  # degenerate: everything decoded — use the flat rows
    return cuts, {t: int(ladders[t][i][0]) for t, i in state.items()}


def bm25_topk_conj(
    spark: SparkSession,
    index: dict[str, DataFrame],
    query: str,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Conjunctive (every-term-required) BM25 top-k from the block
    index — the classic AND/"must" query mode. One read pass over the
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
        .agg(F.sum(F.col("idf") * bm25_weight(avgdl, cfg)).alias("score"),
             F.count_distinct(F.col("term")).alias("_nt"))
        .filter(F.col("_nt") == len(terms))
        .orderBy(F.round("score", cfg.bm25.rank_decimals).desc(),
                 F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", "score")
    )


def _check_positions(index: dict) -> None:
    """Phrase queries and highlights read positional postings. An index
    built without them raises: a silent fallback to a corpus scan would
    hide a 100×-scale regression."""
    if not index.get("positions_stored"):
        raise ValueError(
            "index stores no positions — build with "
            "IndexConfig(store_positions=True) to serve phrase queries "
            "and highlights")


def phrase_match(
    spark: SparkSession,
    index: dict[str, DataFrame],
    phrase: str,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Docs containing the exact token phrase, answered FROM THE INDEX
    (positional postings) — never a corpus re-scan: the containment set
    of the phrase planner (_phrase) for a batch of one, as (doc_id).
    Cost scales with the phrase terms' postings, not the corpus.

    Requires an index built with store_positions=True and raises
    ValueError otherwise; an empty phrase raises too."""
    return _phrase(spark, index, [(0, phrase, None)], cfg, batch=False,
                   ranked=False)


def phrase_topk(
    spark: SparkSession,
    index: dict[str, DataFrame],
    phrase: str,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """BM25-ranked exact-phrase search: top-k (doc_id, score) of the
    docs CONTAINING the phrase, scored by BM25 over the phrase's terms —
    the classic quoted-query surface, index-only. The phrase planner
    (_phrase) for a batch of one; rank order is the engine-wide
    (round(score, d) desc, doc_id asc) total order."""
    return _phrase(spark, index, [(0, phrase, k)], cfg, batch=False)


def phrase_topk_batch(
    spark: SparkSession,
    index: dict[str, DataFrame],
    queries: list[tuple[int, str, int]],
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Batched quoted-query retrieval: (query_id, rank, doc_id, score)
    for every (query_id, phrase, k) — phrase_topk's throughput twin, as
    bm25_topk_batch is wand_topk's: one positional read and one scoring
    pass for the whole set instead of Spark's per-job floor per phrase.
    Query ids are distinct ints; an empty phrase raises. Per phrase the
    answer equals phrase_topk's (tests/test_phrase.py)."""
    _check_query_ids(queries)
    return _phrase(spark, index, queries, cfg, batch=True)


def _phrase(
    spark: SparkSession,
    index: dict[str, DataFrame],
    queries: list[tuple[int, str, int | None]],
    cfg: EngineConfig,
    batch: bool,
    ranked: bool = True,
) -> DataFrame:
    """The phrase planner behind phrase_match, phrase_topk and
    phrase_topk_batch. A single phrase is a batch of one.

    Containment: each phrase slot i of query q contributes the rows
    (q, doc_id, base = pos - i) of its term's positions; a doc contains
    q's phrase iff some base collects all of q's slots. The slots ride a
    literal map term → [(query_id, slot)] (duplicate words get several
    slots), so the plan is one positional read of the phrases' terms →
    one explode → one hash aggregate. When every query passes the
    rarest-term gate (_phrase_candidates) the positional rows are first
    restricted to the docs holding some query's rarest term.

    Ranking (``ranked``): the phrase terms' posting rows of the
    containing docs, scored and cut by the retrieval planner's _scores
    and _topk — the stored tf is the position count, so nothing is
    recounted. ``batch`` False answers (doc_id[, score]), True answers
    (query_id, rank, doc_id, score)."""
    _check_positions(index)
    toks: dict[int, list[str]] = {}
    for qid, phrase, _ in queries:
        toks[qid] = analyze_query(index.get("analyzer", "standard"), phrase)
        if not toks[qid]:
            raise ValueError(f"empty phrase for query_id={qid}" if batch
                             else "empty phrase")
    k_of = {qid: _resolve_k(k, cfg) for qid, _, k in queries}
    q_terms = {qid: list(dict.fromkeys(ts)) for qid, ts in toks.items()}
    all_terms = sorted({t for ts in q_terms.values() for t in ts})
    if ranked:
        meta = _term_meta(spark, index, all_terms)  # corpus row rides (r6)
        if not meta.idfs:  # no phrase term is in the vocabulary: no hits
            return local_frame(spark, [], BATCH_SCHEMA if batch else TOPK_SCHEMA)

    slots: dict[str, list[dict]] = {}
    for qid, ts in toks.items():
        for i, t in enumerate(ts):
            slots.setdefault(t, []).append({"query_id": qid, "slot": i})
    rows = posting_positions(index, _terms_in(all_terms))
    cand, bc = _phrase_candidates(spark, index, q_terms, cfg)
    if cand is not None:
        rows = rows.join(F.broadcast(cand) if bc else cand, "doc_id")
    slot_map = _lit_map(slots, "array<struct<query_id:bigint,slot:int>>")
    n_slots = _lit_map({qid: len(ts) for qid, ts in toks.items()}, "int")
    hits = (
        rows.select("doc_id", "pos", F.inline(slot_map[F.col("term")]))
        .groupBy("query_id", "doc_id", F.expr("pos - slot AS base"))
        .agg(F.expr("count(DISTINCT slot) AS n"))
        .filter(F.col("n") == n_slots[F.col("query_id").cast("string")])
    )
    if not ranked:
        return hits.select("doc_id").distinct()
    live = posting_rows(index, _terms_in(sorted(meta.idfs)))
    scores = _scores(index, live.join(hits, "doc_id", "left_semi"),
                     meta.idfs, q_terms, cfg, batch)
    if batch:  # a doc holding another query's phrase only
        scores = scores.join(hits, ["query_id", "doc_id"], "left_semi")
    return _topk(scores, k_of, cfg)


def _phrase_candidates(
    spark: SparkSession,
    index: dict[str, DataFrame],
    q_terms: dict[int, list[str]],
    cfg: EngineConfig,
):
    """The phrase planner's AND-prefilter: (candidates, can broadcast)
    — the union over the queries of the doc_ids of each query's RAREST
    term, or (None, False) when the prefilter cannot pay for itself.

    A doc lacking q's rarest term cannot contain q's phrase, and slot
    alignment enforces the remaining terms, so a superset candidate set
    is correct — which is also why the candidate side reads doc_ids only
    (one term per query, a strict subset of the positional read's rows)
    and needs NO dead-postings filter (the positional rows it joins are
    already tombstone-filtered).

    Gates, per query and off for the whole set when ANY query fails
    one: at least 2 distinct terms, every term in the vocabulary, more
    than ``prune_min_blocks`` candidate blocks, and a rarest term
    selective enough to shrink anything (df < N/2 — an all-stopword
    phrase gains nothing). Broadcast the candidates while their exact
    upper bound (the rarest terms' dfs plus every tombstone: the ids are
    not tombstone-filtered) fits cfg.index.broadcast_ids_max."""
    if any(len(ts) < 2 for ts in q_terms.values()):
        return None, False
    meta = _term_meta(spark, index, sorted({t for ts in q_terms.values() for t in ts}))
    n_docs = float(index["_corpus_row"]["n_docs"])
    rares = set()
    for ts in q_terms.values():
        if any(t not in meta.dfs for t in ts) or \
                sum(meta.blocks[t] for t in ts) <= cfg.bm25.prune_min_blocks:
            return None, False
        rare = min(ts, key=lambda t: (meta.dfs[t], t))
        if meta.dfs[rare] >= n_docs / 2:
            return None, False
        rares.add(rare)
    cand = posting_ids(index, _terms_in(sorted(rares))).select("doc_id").distinct()
    raw_ids_ub = sum(meta.dfs[t] for t in rares) + index.get("_n_tombstones", 0)
    return cand, raw_ids_ub <= cfg.index.broadcast_ids_max


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

    Plan: k-row top-k (flat WAND) → positional rows of the query
    terms' blocks filtered to the k ids (literal isin) → min(pos) per
    doc → join the k docs' token arrays → slice. Cost ∝ query terms'
    positions + k docs, independent of corpus size."""
    from semcode_spark.functions.tokenize import tokens_col

    k = _resolve_k(k, cfg)
    terms = _query_terms(index, query)
    if not terms:
        raise ValueError("empty query")
    _check_positions(index)
    top = wand_topk(spark, index, query, k, cfg, prune=False).collect()
    out_schema = ("doc_id long, score double, first_pos long, "
                  "snippet string")
    if not top:
        return local_frame(spark, [], out_schema)
    ids = [r["doc_id"] for r in top]
    scores = local_frame(spark, top, TOPK_SCHEMA)
    first = (
        posting_positions(index, _terms_in(terms))
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

    Plan: doc_ids of the query terms' posting rows (partition-
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
    instead of failing). Ladder: the default plan (prune="auto") → flat
    index scan → empty result with mode='degraded'. Returns (rows, mode,
    fallbacks); rows are (doc_id, score) Rows, mode ∈ {'auto', 'flat',
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
    for mode, prune in (("auto", "auto"), ("flat", False)):
        try:
            return (wand_topk(spark, index, query, k, cfg, prune=prune).collect(),
                    mode, fallbacks)
        except ValueError:
            raise
        except Exception as e:  # noqa: BLE001 — rung failure, recorded
            fallbacks.append(f"{mode}: {type(e).__name__}: {e}")
    return [], "degraded", fallbacks


def bm25_topk_batch(
    spark: SparkSession,
    index: dict[str, DataFrame],
    queries: list[tuple[int, str, int]],
    cfg: EngineConfig = DEFAULT,
    prune: Plan = "auto",
    stats: dict | None = None,
) -> DataFrame:
    """Batched top-k over the block index: (query_id, rank, doc_id, score)
    for every (query_id, text, k) — the throughput-oriented retrieval
    path (amortizes Spark's per-job floor across the whole query set).
    Query ids are distinct ints; an empty or out-of-vocabulary query
    simply has no rows.

    Same planner and plans as wand_topk (``prune`` False, "auto" or
    "impact"), shared across the set: the flat plan is ONE read pass
    over the union of the query terms' blocks; the impact plan runs one
    θ bootstrap for every query at once and decodes the per-query plans
    merged per term (full if any query needs the term fully, else the
    lowest cut). Either way the rows score per (query, doc) over that
    query's terms and a per-query window takes each query's top k.
    Scales with the touched postings, never the corpus or the query
    count. Query terms, ids and k enter the plan as literals, so on a
    serving handle the whole batch runs without a Python worker. Per
    query, the answer equals wand_topk's (tests/test_wand.py). A
    ``stats`` dict receives what wand_topk's does, for the batch."""
    _check_prune(prune)
    _check_query_ids(queries)
    return _retrieve(spark, index, queries, cfg, prune, batch=True,
                     stats=stats)


def _retrieve(
    spark: SparkSession,
    index: dict[str, DataFrame],
    queries: list[tuple[int, str, int | None]],
    cfg: EngineConfig,
    prune: Plan,
    batch: bool,
    stats: dict | None = None,
) -> DataFrame:
    """The retrieval planner behind wand_topk, wand_topk_impact and
    bm25_topk_batch: resolves the plan (_resolve_plan; recorded as
    ``stats["plan"]`` when a stats dict is passed), builds the flat or
    the impact rows (term, doc_id, tf[, doc_len]), scores them and
    takes each query's top k. ``batch`` False is one query, answered as
    (doc_id, score) with no query-id fan-out and no window (an empty
    query raises); ``batch`` True answers (query_id, rank, doc_id,
    score)."""
    q_terms = {qid: _query_terms(index, text) for qid, text, _ in queries}
    k_of = {qid: _resolve_k(k, cfg) for qid, _, k in queries}
    all_terms = sorted({t for ts in q_terms.values() for t in ts})
    if not all_terms:
        if not batch:
            raise ValueError("empty query")
        return local_frame(spark, [], BATCH_SCHEMA)
    if prune == "impact" and index.get("forward") is None:
        raise ValueError(
            "impact retrieval needs the forward table "
            "(IndexConfig(store_forward=True)): exact candidate completion "
            "reads (doc_id → term, tf) there instead of re-reading "
            "skipped posting lists")
    meta = _term_meta(spark, index, all_terms)  # corpus row rides (r6)
    plan = _resolve_plan(index, meta, prune, cfg)
    if stats is not None:
        stats["plan"] = plan
    if not meta.idfs:  # no query term is in the vocabulary: no hits
        if stats is not None:  # and nothing to decode
            stats.update(terms=[], theta_eff=None, blocks_candidate=0,
                         blocks_decoded=0, skipped=[], cut={}, full=[],
                         cand_join=False)
        return local_frame(spark, [], BATCH_SCHEMA if batch else TOPK_SCHEMA)
    rows = (_impact_rows(index, q_terms, k_of, meta, cfg, batch, stats)
            if plan == "impact" else None)
    if rows is None:
        rows = posting_rows(index, _terms_in(all_terms))
    return _topk(_scores(index, rows, meta.idfs, q_terms, cfg, batch), k_of, cfg)


def _resolve_plan(index: dict, meta: TermMeta, prune: Plan,
                  cfg: EngineConfig) -> str:
    """The plan ``prune`` picks for queries with candidate blocks
    ``meta``: "flat" or "impact". "auto" is flat at sandbox scales (r4,
    measured: extra jobs cost ~0.5 s each); past impact_auto_min_blocks
    (r5) the read volume itself dominates the job floor and auto
    switches to impact — provided the index carries the forward table
    it completes from AND the impact-ordered layout (r6: on a
    doc_id-ordered index the block_id < depth bootstrap reads arbitrary
    low-doc_id blocks, so θ_eff is weak and the "bounded" plan can
    degrade toward a full read plus the forward overhead). The impact
    plan itself scores the flat rows when no query can prune."""
    if prune == "auto":
        return ("impact" if meta.n_blocks > cfg.bm25.impact_auto_min_blocks
                and index.get("forward") is not None
                and index.get("impact_layout") else "flat")
    return "impact" if prune == "impact" else "flat"


def _impact_rows(
    index: dict,
    q_terms: dict[int, list[str]],
    k_of: dict[int, int],
    meta: TermMeta,
    cfg: EngineConfig,
    batch: bool,
    stats: dict | None,
) -> DataFrame | None:
    """The impact plan's rows: forward rows of the live query terms,
    restricted to the candidates of the planned blocks; None when no
    query can prune (the caller scores the flat rows instead).

    One θ bootstrap job serves every query, then _impact_plan plans each
    query and the plans merge per term conservatively: full if any query
    needs the term fully, else the LOWEST cut, else skip. The decoded
    set is therefore a superset of every query's own plan, so per query
    q any doc absent from the decoded blocks scores < θ_eff_q. Scoring
    from the forward table may also score docs that are candidates only
    via ANOTHER query's blocks — harmless: such a doc's score for q is
    below q's θ bucket, so it can only trail the true top k."""
    corpus = index["_corpus_row"]
    n_docs, avgdl = float(corpus["n_docs"]), float(corpus["avgdl"])
    live = sorted(meta.idfs)
    live_terms = _terms_in(live)
    # θ bootstrap: the docs of every term's top-`impact_bootstrap_depth`
    # blocks (in the impact layout those hold its highest weights).
    # When some query is stopword-heavy they are scored EXACTLY from the
    # forward table (r6: partial sums over the bootstrap blocks left θ
    # so low the planner decoded half the candidate blocks); rare-term
    # queries keep the cheaper partial sums, which already plan ≤4%.
    boot_pred = live_terms & (F.col("block_id") < cfg.bm25.impact_bootstrap_depth)
    if any(_common_term_regime({t: meta.dfs[t] for t in ts if t in meta.dfs},
                               n_docs) for ts in q_terms.values()):
        boot_ids = posting_ids(index, boot_pred).select("doc_id").distinct()
        boot = _restrict_ids(index, live_forward(index).filter(live_terms),
                             boot_ids, True)
    else:
        boot = posting_rows(index, boot_pred)
    theta = _theta_effs(
        _topk(_scores(index, boot, meta.idfs, q_terms, cfg, batch), k_of, cfg),
        k_of, cfg)

    # per-term cut, merged over the queries' plans by min: -inf (full)
    # beats any cut, any cut beats +inf (skip)
    cut_of: dict[str, float] = {}
    est: dict[str, int] = {}
    pruned = False
    for qid, ts in q_terms.items():
        sub = _meta_slice(meta, ts)
        plan = _impact_plan(sub, theta.get(qid))
        pruned |= plan is not None
        cuts, q_est = plan or (dict.fromkeys(sub.idfs, -math.inf), sub.blocks)
        for t, c in cuts.items():
            cut_of[t] = min(cut_of.get(t, math.inf), c)
            est[t] = max(est.get(t, 0), q_est[t])
    cuts = {t: c for t, c in cut_of.items() if c < math.inf}
    # every term skippable for every query: the bootstrap docs already
    # dominate every other doc; still score them exactly
    pred = _cut_pred(cuts, avgdl) if cuts else boot_pred
    # dead candidates are harmless (their forward rows are already
    # tombstone-filtered), so the candidate side skips the anti-join;
    # the size gates therefore count raw ids: live dfs + tombstones
    ids_ub = sum(meta.dfs[t] for t in cuts) + index.get("_n_tombstones", 0)
    # the candidate restriction is itself an OPTIMIZATION: scoring every
    # live-term forward row is equally lossless, so the ids decode and
    # join run only while they can SHRINK the forward read (measured:
    # 48→~5 s on the 24-query crossover batch without them near N)
    cand_join = pruned and ids_ub <= max(cfg.index.broadcast_ids_max,
                                         int(n_docs) // 4)
    if stats is not None:
        stats.update({
            "terms": live, "theta_eff": min(theta.values(), default=None),
            "blocks_candidate": meta.n_blocks,
            "blocks_decoded": sum(est.values()),
            "skipped": sorted(t for t, c in cut_of.items() if c == math.inf),
            "cut": {t: c for t, c in cuts.items() if c > -math.inf},
            "full": sorted(t for t, c in cuts.items() if c == -math.inf),
            "cand_join": cand_join,
        })
        if stats.get("exact"):
            stats["blocks_decoded"] = (
                index["postings"].filter(pred)
                .select("term", "group", "salt", "block_id").distinct().count())
    if not pruned:
        return None
    fwd = live_forward(index).filter(live_terms)
    if cand_join:
        cand_ids = posting_ids(index, pred).select("doc_id").distinct()
        fwd = _restrict_ids(index, fwd, cand_ids,
                            ids_ub <= cfg.index.broadcast_ids_max)
    return fwd


def _scores(
    index: dict,
    rows: DataFrame,
    idfs: dict[str, float],
    q_terms: dict[int, list[str]],
    cfg: EngineConfig,
    batch: bool,
) -> DataFrame:
    """Exact BM25 of the (term, doc_id, tf[, doc_len]) ``rows``: per
    doc_id for one query, per (query_id, doc_id) for a batch, where a
    row scores for every query holding its term. The idfs and the
    term → query-ids fan-out are literal maps, so the plan reads no
    driver-built relation (one would cost a Python-worker stage per
    job). On serving rows the aggregate runs inside the doc_id
    partitions, with no exchange."""
    avgdl = float(index["_corpus_row"]["avgdl"])
    rows = _with_doc_len(index, rows.withColumn("idf", _lit_map(idfs)[F.col("term")]))
    keys = ["doc_id"]
    if batch:
        qids_of: dict[str, list[int]] = {}
        for qid, ts in q_terms.items():
            for t in ts:
                if t in idfs:
                    qids_of.setdefault(t, []).append(qid)
        by_term = _lit_map(qids_of, "array<bigint>")
        rows = rows.withColumn("query_id", F.explode(by_term[F.col("term")]))
        keys = ["query_id", "doc_id"]
    return rows.groupBy(*keys).agg(
        F.sum(F.col("idf") * bm25_weight(avgdl, cfg)).alias("score"))


def _topk(scores: DataFrame, k_of: dict[int, int], cfg: EngineConfig) -> DataFrame:
    """Each query's top k of ``scores`` in rank order: one query's
    (doc_id, score) through orderBy + limit (TakeOrderedAndProject), a
    batch's (query_id, rank, doc_id, score) through a per-query window,
    the per-query k a literal map."""
    order = (F.round("score", cfg.bm25.rank_decimals).desc(), F.col("doc_id").asc())
    if "query_id" not in scores.columns:
        (k,) = k_of.values()
        return scores.orderBy(*order).limit(k)
    return (
        scores.withColumn("rank", F.row_number().over(
            Window.partitionBy("query_id").orderBy(*order)))
        .filter(F.col("rank") <= _lit_map(k_of, "int")[
            F.col("query_id").cast("string")])
        .select("query_id", "rank", "doc_id", "score")
    )


def _theta_effs(top: DataFrame, k_of: dict[int, int],
                cfg: EngineConfig) -> dict[int, float]:
    """Each query's prune-safe threshold from its bootstrap top k
    ``top`` (one collect): the lowest score of the k minus 1.5 rounding
    buckets. A query with fewer than k bootstrap docs is absent (no
    pruning possible). The k-th score of ANY doc subset lower-bounds the
    global k-th, so the threshold is safe.

    The 1.5/10^d slack: rank order is (round(score, d), doc_id), so a
    doc whose score rounds into θ's bucket with a smaller doc_id must
    survive; 1.5/10^d is provably safe under ANY rounding family with
    |round(x)−x| ≤ 0.5/10^d (JVM BigDecimal HALF_UP vs the
    floor(x·10^d+0.5) formula can disagree by an ulp at bucket edges —
    functions/rounding.py): if s ≤ θ − 1.5/10^d then round(s) ≤
    θ − 1/10^d < round(θ). Cost: at most one extra bucket decoded."""
    if "query_id" in top.columns:
        seen = {r["query_id"]: (r["n"], r["kth"]) for r in top.groupBy("query_id")
                .agg(F.count(F.lit(1)).alias("n"), F.min("score").alias("kth"))
                .collect()}
    else:
        rows = top.collect()
        seen = {qid: (len(rows), min(r["score"] for r in rows))
                for qid in k_of if rows}
    slack = 1.5 / 10 ** cfg.bm25.rank_decimals
    return {qid: kth - slack for qid, (n, kth) in seen.items() if n >= k_of[qid]}


def _meta_slice(meta: TermMeta, terms: list[str]) -> TermMeta:
    """meta restricted to one query's terms (for per-query planning)."""
    ts = [t for t in terms if t in meta.idfs]
    return TermMeta(
        {t: meta.idfs[t] for t in ts}, {t: meta.ubs[t] for t in ts},
        sum(meta.blocks.get(t, 0) for t in ts),
        {t: meta.blocks.get(t, 0) for t in ts},
        {t: meta.dfs[t] for t in ts},
        {t: meta.hists[t] for t in ts if t in meta.hists})
