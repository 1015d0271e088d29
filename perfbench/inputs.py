"""Seeded input generation for the benchmark workloads.

Everything the program under test receives is derived here from the
workload seed, with ``random.Random(seed)`` only — the same seed gives
byte-identical inputs on any machine. The document rows imitate the shape
of the repository's ``documents`` tables (a 30-word vocabulary, 10-100
tokens, a ``lang`` mix, ~5% near-duplicates tagged ``dup``) so that the
synthetic pages corpus (``mediacrawler_spark.synth``) built from them has
the same structure the engine is tested on.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PLATFORMS = ["xhs", "tieba", "weibo", "zhihu", "douyin", "kuaishou", "bilibili"]
LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14

DOCS_DDL = "doc_id long, text string, lang string, source string, n_chars long"


def _texts(rng: random.Random, n: int) -> list[str]:
    """``n`` pairwise-distinct texts; about one in twenty is a near-copy of
    an earlier text with a ``dup`` token appended."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        if out and rng.random() < 0.05:
            text = rng.choice(out) + " dup"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        if text not in seen:
            seen.add(text)
            out.append(text)
    return out


def crawl_documents(seed: int, n_docs: int, id_space: int) -> list[tuple]:
    """``n_docs`` consecutive doc ids at a seed-chosen offset in
    ``id_space``.

    The doc id decides a page's platform, host, comment count and viral
    flag in ``synth``, so the seed moves the corpus structure, not only the
    words. Most of those are residues of the id (platform mod 7, seed
    pages mod 3, ...), which a consecutive block holds in equal shares
    whatever the offset: every seed then crawls about as many URLs, and the
    throughput figures vary with the program's speed rather than the
    sample's size."""
    rng = random.Random(f"crawl:{seed}")
    offset = rng.randrange(id_space - n_docs)
    texts = _texts(rng, n_docs)
    return [
        (i, t, rng.choice(LANGS), f"src{i % 5}", len(t))
        for i, t in enumerate(texts, start=offset)
    ]


@dataclass(frozen=True)
class AnalyticsCorpus:
    """``n_base`` distinct texts, each stored ``copies`` times under doc ids
    ``base_id + c * stride`` — the mirror duplication a crawl sees."""

    rows: list[tuple]
    n_base: int
    copies: int
    stride: int

    def copy_groups(self) -> list[list[int]]:
        """Doc ids of each base text's copies (the expected exact groups)."""
        groups: dict[int, list[int]] = {}
        for doc_id, *_ in self.rows:
            groups.setdefault(doc_id % self.stride, []).append(doc_id)
        return [sorted(g) for g in groups.values()]


def url_sets(seed: int, n_seen: int, n_cand: int) -> tuple[list[str], list[str]]:
    """A seen set and distinct frontier candidates, half of which were seen."""
    rng = random.Random(f"urls:{seed}")
    ids = rng.sample(range(50 * (n_seen + n_cand)), n_seen + n_cand // 2)
    urls = [f"https://h{i % 4}.{PLATFORMS[i % 7]}.example/explore/n{i}" for i in ids]
    seen = urls[:n_seen]
    cand = rng.sample(seen, n_cand - n_cand // 2) + urls[n_seen:]
    rng.shuffle(cand)
    return seen, cand


def analytics_corpus(seed: int, n_base: int, copies: int) -> AnalyticsCorpus:
    rng = random.Random(f"analytics:{seed}")
    stride = 1_000_000
    offset = rng.randrange(0, stride - n_base)
    texts = _texts(rng, n_base)
    rows = [
        (offset + b + c * stride, t, LANGS[b % len(LANGS)], f"src{b % 5}", len(t))
        for c in range(copies)
        for b, t in enumerate(texts)
    ]
    rng.shuffle(rows)
    return AnalyticsCorpus(rows, n_base, copies, stride)
