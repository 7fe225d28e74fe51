"""Engine configuration.

The reference centralizes knobs in pydantic-settings
(reference: settings.py:30-83 — embedding_batch_size=64,
upsert_batch_size=128, rag_max_context_sources=5, IVF nlist=128/nprobe=16).
We keep the same discipline as plain dataclasses + spark conf; no service
framework.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class BM25Config:
    """Textbook BM25 (Robertson/Sparck-Jones, Lucene-style non-negative idf).

    idf(t)   = ln( (N - df + 0.5) / (df + 0.5) + 1 )
    score(d) = Σ_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Tie-break for rank identity (SURVEY §7.3 hard part b): score desc,
    then doc_id asc — the reference inherits Milvus's ordering
    (storage/milvus_store.py:141-148); ours is explicit and total.
    """

    k1: float = 1.2
    b: float = 0.75
    default_k: int = 10  # reference default top_k (storage/milvus_store.py:135)
    # below this many candidate blocks a pre-aggregate shrink pass (the
    # phrase planner's rarest-term AND prefilter) costs more than the
    # aggregate it would shrink. A phrase batch takes the prefilter only
    # when every phrase passes this and the other gates. Phrase queries
    # only: the retrieval planner's prune="auto" switches on
    # impact_auto_min_blocks.
    prune_min_blocks: int = 20000
    # ranking compares scores rounded to this many decimals (then doc_id):
    # float sums over query terms are order-dependent at the ulp level
    # across implementations (engine hash agg vs oracle's sorted-term
    # sum), so raw-float ordering is not reproducible — rounded ordering
    # is (SURVEY §7.3 hard part c)
    rank_decimals: int = 9
    # prune="auto" switches from the flat decode to impact retrieval
    # (wand_topk_impact: MaxScore term skip + impact-prefix decode +
    # forward completion) once a query's candidate blocks exceed this.
    # Sizing: impact costs ~2 extra Spark jobs (~1 s floor on this
    # box); at ~10M postings/s decode throughput they repay once the
    # SKIPPABLE volume reaches ~10^7 postings ≈ 10^5 blocks — 5×10^5
    # (~6×10^7 candidate postings) adds margin for the measured ~40%
    # decode fraction. Below it, flat wins at every scale this sandbox
    # can reach (measured through 91k blocks, BENCH/BASELINE.md);
    # the threshold is unreachable here by construction — re-measure
    # the crossover on a real cluster before tuning it.
    impact_auto_min_blocks: int = 500_000
    # θ-bootstrap depth for impact retrieval: decode the top-`depth`
    # impact blocks of EVERY query term (all salts/groups). Deeper
    # bootstraps see more docs with fuller cross-term sums, so θ_eff
    # rises and the planner skips more: measured on the 45.5k-block
    # crossover corpus,
    # 24-query decode fraction 0.55 (depth 1) → 0.48 (2) → 0.32 (4) →
    # 0.31 (8) — 4 is the knee. Bootstrap decode volume is
    # depth × salts × groups blocks per term: constant in corpus size.
    impact_bootstrap_depth: int = 4


@dataclass(frozen=True)
class IndexConfig:
    """Layout knobs for the persisted inverted index.

    term_buckets: number of hash(term) buckets the postings shuffle
        repartitions into — the analog of Milvus nlist=128 clusters
        (reference: storage/milvus_store.py:78-82). At 100 TB this is the
        unit of parallel index build AND of checkpoint/resume; size it so
        one bucket's postings fit comfortably in one task (~256 MB-1 GB)
        AND keep it ≥4× the task-slot count — with buckets == slots the
        stage runs one task wave and the largest bucket is a straggler
        that bounds the whole stage (measured: flat wall 8→32 cores
        until buckets went 32→128).
    block_size: postings per block (one max_w bound each). 128 mirrors
        the reference's upsert batch (settings.py:76) and is the classic
        block-max WAND block size.
    hot_term_df_ratio: a term whose df exceeds ratio*N is "hot" and gets
        salted into `salt_factor` sub-keys at the shuffle to break skew
        (north_rule: explicit hot-term skew splitting).
    """

    term_buckets: int = 128
    block_size: int = 128
    hot_term_df_ratio: float = 0.05
    salt_factor: int = 8
    # largest id-set the engine will ship as a broadcast hash join
    # (phrase AND-prefilter candidates, replace-collision lookups).
    # 100k longs ≈ 1 MB serialized — comfortably inside Spark's default
    # 10 MB autoBroadcast norm; above it the same joins fall through to
    # a shuffle join, which is the correct plan for mega-batch
    # re-crawls (10^8-10^9 colliding ids) where an unconditional
    # broadcast would OOM every executor.
    broadcast_ids_max: int = 100_000
    token_pattern: str = "[^a-z0-9]+"  # split-pattern, shared with DuckDB oracle
    # lexical analyzer applied at build AND query time — the two must
    # share one analyzer or query terms miss the postings, the same
    # invariant as embedding the query with the model that embedded the
    # corpus (reference embeddings/providers.py:34-104). The name is
    # persisted in the index's meta.json and enforced on read/add.
    analyzer: str = "standard"  # standard | stop | stem | stop_stem
    # store per-posting token positions (a `positions array<int>`
    # column on each posting row) so phrase queries are answered from
    # the index instead of re-scanning the corpus. An index property
    # like the analyzer:
    # persisted in meta.json, enforced across add_segment, preserved by
    # compaction. Off by default — positions roughly double posting
    # bytes and add a collect_list to the build aggregate.
    store_positions: bool = False
    # persist the forward table (doc_id → term/tf[/positions], range-
    # clustered on doc_id) alongside the inverted postings. It buys
    # O(changed-docs) replace deltas (r3: 9.7 s → 1.4 s for a 1%
    # re-crawl) at ~20% build throughput — the right default for a
    # crawl corpus that re-ingests URLs, but an append-only corpus
    # shouldn't pay it: with store_forward=False, replace/compaction
    # read the postings store instead (correct, slower).
    # An index property persisted in meta.json, like the analyzer.
    store_forward: bool = True
    # impact-ordered block layout: within each (term, salt) run,
    # postings are assigned to blocks by DESCENDING idf-free BM25
    # weight (block 0 holds the term's top-`block_size` postings); the
    # rows of a block are stored in doc_id order as in the doc_id
    # layout, so every read path is unchanged. Block max_w then
    # decays monotonically with block rank — the property that lets
    # impact retrieval (query.wand_topk_impact) decode a bounded
    # prefix of each list instead of all of it. Purely a performance
    # property: queries on a mixed-layout index stay correct (every
    # bound is predicate-based on stored max_w, never on block order).
    # Persisted in meta.json; resume of a build must match (identity
    # of the resumed groups).
    impact_ordered: bool = False


@dataclass(frozen=True)
class EngineConfig:
    bm25: BM25Config = field(default_factory=BM25Config)
    index: IndexConfig = field(default_factory=IndexConfig)


DEFAULT = EngineConfig()
