"""Correctness gates: pure functions over collected outputs.

Each gate returns a list of failure messages (empty means the output is
correct). They run outside the timed region; a failing gate counts the
timed call as failed.
"""

from __future__ import annotations

from collections import Counter
from itertools import combinations


def _set_diff(name: str, got: list, want: set) -> list[str]:
    errs = []
    got_set = set(got)
    if len(got_set) != len(got):
        errs.append(f"{name}: {len(got) - len(got_set)} duplicate rows")
    if got_set != want:
        errs.append(
            f"{name}: {len(got_set - want)} unexpected, {len(want - got_set)} missing "
            f"(got {len(got_set)}, want {len(want)})"
        )
    return errs


def check_crawl(seen: list, content: list, comments: list, sim) -> list[str]:
    """The crawl's seen set, content rows and comment rows (with their
    ordering keys) equal the sequential reference simulator's.

    ``seen`` holds URLs; ``content`` holds (note_id, ord_keyword, ord_page,
    ord_item_idx, ord_cursor_seq); ``comments`` holds (comment_id, note_id,
    parent_comment_id, ord_cursor_seq, ord_item_idx) — the tuple shapes of
    ``tests.reference_sim.SimResult``."""
    errs = _set_diff("seen", seen, sim.seen)
    errs += _set_diff("content", content, sim.content)
    errs += _set_diff("comments", comments, sim.comments)
    if not sim.seen:
        errs.append("seen: reference crawl is empty")
    return errs


def check_content_text(content: list, page_text: dict) -> list[str]:
    """Every content row's ``text`` is byte-identical to ``pages.text`` of
    its url. ``content`` holds (url, text)."""
    bad = [u for u, t in content if u not in page_text or page_text[u] != t]
    return [f"content text: {len(bad)} rows differ from pages.text"] if bad else []


def check_kernel(sample: list, kernel_py) -> list[str]:
    """``pages.text`` (the vectorized kernel's output) equals the row-wise
    reference kernel on ``sample`` — (html, text) pairs."""
    bad = sum(1 for html, text in sample if kernel_py(html) != text)
    return [f"text kernel: {bad} of {len(sample)} sampled pages differ"] if bad else []


def check_unseen(got: list, candidates: list, seen: list) -> list[str]:
    """The seen filter's output is exactly the candidates not yet seen."""
    return _set_diff("unseen", got, set(candidates) - set(seen))


def top_k_words_py(texts, k: int = 20) -> list[tuple[str, int]]:
    """Whitespace tokens, lower-cased; ties broken by word ascending."""
    counts = Counter(t.lower() for text in texts for t in text.split())
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def check_analytics(corpus, out: dict) -> list[str]:
    """Operator battery outputs against the generator's known structure.

    ``out`` holds collected rows: ``exact`` (fingerprint, n_dups,
    canonical_doc_id), ``minhash`` (doc_a, doc_b, jaccard), ``topk`` (word,
    freq), and the row counts ``simhash_rows`` and ``profile_rows``."""
    errs = []
    groups = corpus.copy_groups()
    exact = out["exact"]
    bad = [r for r in exact if r[1] != corpus.copies]
    if bad:
        errs.append(f"exact: {len(bad)} groups not of size {corpus.copies}")
    if len(exact) != len(groups):
        errs.append(f"exact: {len(exact)} groups, want {len(groups)}")
    canon = sorted(r[2] for r in exact)
    if canon != sorted(g[0] for g in groups):
        errs.append("exact: canonical doc ids are not each group's minimum")

    pairs = {(a, b): j for a, b, j in out["minhash"]}
    missing = 0
    for g in groups:
        for a, b in combinations(g, 2):
            if pairs.get((a, b)) != 1.0:
                missing += 1
    if missing:
        errs.append(f"minhash: {missing} exact-copy pairs absent or not at Jaccard 1.0")

    n_docs = len(corpus.rows)
    for name in ("simhash_rows", "profile_rows"):
        if out[name] != n_docs:
            errs.append(f"{name}: {out[name]}, want {n_docs}")
    want_topk = top_k_words_py(r[1] for r in corpus.rows)
    if [tuple(r) for r in out["topk"]] != want_topk:
        errs.append("topk: differs from the Counter reference")
    return errs
