"""Seeded benchmark inputs.

Everything the engine receives is derived from (workload, seed): the
crawled HTML pages (synth_web_pages, seeded), the 1% re-crawl slots and
the serve query stream. The same seed gives the same inputs; the engine
never sees the seed itself.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# Term pools of the serve query stream, over synth_web_pages' Zipf
# vocabulary w0..w19999 (low indexes are hot).
HOT_TERMS = [f"w{i}" for i in range(10)]
MID_RANGE = (10, 400)


@dataclass(frozen=True)
class Mix:
    """A workload's serve query mix.

    ``shapes`` is cycled in order; each shape lists the term categories
    of one query (0 hot, 1 mid-frequency, 2 rare tail, 3 out of
    vocabulary). A 24-query batch is three whole cycles, so every batch
    of every seed has the same composition and only the terms vary.
    """

    shapes: tuple[tuple[int, ...], ...]


MIXES = {
    # long posting lists: decode and impact pruning carry the cost
    "hot": Mix(((0, 1), (0, 1, 1), (0, 0, 1, 2), (1, 1), (0, 1, 2),
                (0, 1, 1, 1), (0, 2), (1, 1, 0))),
    # tiny candidate sets: Spark's per-job floor is nearly the whole cost
    "tail": Mix(((2,), (2, 3), (1, 2), (2,), (2, 3), (1,), (2, 2), (3, 2))),
}


@dataclass(frozen=True)
class Sizes:
    pages: int  # crawled HTML pages (~14 KB each); also the serve corpus
    recrawl_rounds: int  # 1% re-crawl rounds through add_segment
    batch: int  # queries per bm25_topk_batch call


FULL = Sizes(pages=500, recrawl_rounds=1, batch=24)
TINY = Sizes(pages=120, recrawl_rounds=1, batch=8)


def recrawl_slots(seed: int, n_pages: int, rounds: int) -> list[list[int]]:
    """doc_ids replaced in each re-crawl round: a seeded 1% sample."""
    rng = random.Random(seed * 7919 + 1)
    per = max(1, n_pages // 100)
    return [sorted(rng.sample(range(n_pages), per)) for _ in range(rounds)]


class QueryStream:
    """Seeded (text, k) generator for the serve phase.

    Terms are drawn per category (hot w0-w9, mid-frequency, rare tail,
    out-of-vocabulary) following the mix's shapes; every shape holds at
    least one indexed term, so no query is empty. Counts of each
    property are kept for the report.
    """

    def __init__(self, seed: int, mix: Mix, df: dict[str, int]):
        self.rng = random.Random(seed * 104729 + 3)
        self.mix = mix
        lo, hi = MID_RANGE
        self.mid = [f"w{i}" for i in range(lo, hi) if df.get(f"w{i}", 0) > 0]
        # rare tail: indexed terms seen in at most three documents
        self.tail = sorted((t for t, n in df.items() if n <= 3),
                           key=lambda t: int(t[1:]))
        self.issued = 0
        self.with_hot = 0
        self.with_oov = 0
        self.multi = 0

    def _term(self, cat: int) -> str:
        if cat == 0:
            return self.rng.choice(HOT_TERMS)
        if cat == 1:
            return self.rng.choice(self.mid)
        if cat == 2:
            return self.rng.choice(self.tail)
        return f"oov{self.rng.randrange(10**6)}x"

    def next(self) -> tuple[str, int]:
        shape = self.mix.shapes[self.issued % len(self.mix.shapes)]
        terms = list(dict.fromkeys(self._term(c) for c in shape))
        k = (5, 10, 15)[self.issued % 3]
        self.issued += 1
        self.with_hot += any(t in HOT_TERMS for t in terms)
        self.with_oov += any(t.startswith("oov") for t in terms)
        self.multi += len(terms) > 1
        return " ".join(terms), k

    def shares(self) -> dict[str, float]:
        n = max(1, self.issued)
        return {"queries": self.issued, "hot_share": self.with_hot / n,
                "oov_share": self.with_oov / n, "multi_term_share": self.multi / n}
