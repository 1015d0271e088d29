"""The benchmark workloads.

Each workload is driven as a closed loop by one driver process: the next
timed call starts only after the previous one returned. A workload has

- ``setup()`` — inputs from the seed, handed to the program as DataFrames;
- ``call()`` — one timed call into the public API, returning its outputs
  and timings;
- ``check(out)`` — the correctness gate, run outside the timed region;
- ``report(calls)`` — the workload's named metrics over the timed calls;
- ``layer_counts(out)`` — per-layer row counts read from the program's own
  outputs after the timed part (traced runs only).
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from pyspark.sql import functions as F

from mediacrawler_spark import synth
from mediacrawler_spark.functions.text import extract_text_py, extract_text_udf
from mediacrawler_spark.operators import dedup, textstats, wordfreq
from mediacrawler_spark.operators import seen as seen_ops
from mediacrawler_spark.plans.crawl import CrawlEngine
from mediacrawler_spark.session import release_persisted

import gates
import inputs

# crawl_rounds: a fresh engine runs one politeness-bounded round, then a new
# engine resumes from the committed checkpoint: it scans the round markers,
# reads the seen log and rebuilds the result tables, with no round left to
# run. One round is what fits the run budget: every round costs ~10-15 s warm
# (~20 s cold) of fixed driver and job overhead on local[4] whatever its size.
ROUNDS = 1
WARMUP_PASSES = 2  # untimed battery passes in content_analytics' set-up
KERNEL_SAMPLE = 64  # fetched pages whose text is re-derived row by row


def _collect_tuples(df, cols) -> list[tuple]:
    return [tuple(r) for r in df.select(*cols).collect()]


def _dir_usage(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for d, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(d, f))
            n_files += 1
    return n_bytes, n_files


def _commit_time(ckpt: str, round_id: int) -> float:
    """When round ``round_id``'s frontier table committed (its job marker)."""
    d = os.path.join(ckpt, f"round={round_id:05d}", "deltas", "tbl=frontier")
    marker = os.path.join(d, "_SUCCESS")
    return os.path.getmtime(marker if os.path.exists(marker) else d)


class CrawlRounds:
    """The flagship search crawl under per-host politeness budgets: a fresh
    leg, then a resumed leg on a new engine."""

    name = "crawl_rounds"

    def __init__(self, spark, seed: int, scale: dict, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.n_docs = scale["crawl_docs"]
        self.id_space = scale["crawl_id_space"]
        self.ckpt = os.path.join(work, "ckpt")
        self.tracer = tracer
        self._sim = None

    def setup(self) -> dict:
        t0 = time.perf_counter()
        docs = self.spark.createDataFrame(
            inputs.crawl_documents(self.seed, self.n_docs, self.id_space), inputs.DOCS_DDL
        )
        # One round fetches only the seeds, so the corpus holds the page
        # kinds seeds point at: search and content pages, built as
        # synth.build_pages builds them (its other ten kinds, reachable from
        # round 1 on, would triple the set-up time).
        docs = docs.repartition(2 * self.spark.sparkContext.defaultParallelism, "doc_id")
        pages = synth.build_search_pages(docs).unionByName(synth.build_content_pages(docs))
        self.pages = pages.withColumn("text", extract_text_udf(F.col("html"))).select(
            "url", "warc_ts", "html", "text", "lang",
            "kind", "platform", "host", "note_id", "doc_id", "n_comments",
        ).persist()
        self.pages.count()
        # the search entry point plus a detail-mode seed list, so the one
        # round parses search and content pages alike
        self.seeds = synth.build_search_seeds(self.spark).unionByName(
            synth.build_seeds(self.spark, None, documents=docs))
        self.robots = synth.build_robots(self.spark)
        corpus_s = time.perf_counter() - t0
        # warm-up: one untimed fresh and resumed leg against a throwaway
        # checkpoint (a cold first leg runs 20-90% slower than warm ones)
        t0 = time.perf_counter()
        self._legs(self.ckpt + "-warmup")
        shutil.rmtree(self.ckpt + "-warmup", ignore_errors=True)
        return {"corpus_s": corpus_s, "warmup_s": time.perf_counter() - t0}

    def _engine(self, ckpt: str) -> CrawlEngine:
        return CrawlEngine(
            self.spark, self.pages, self.robots, checkpoint_dir=ckpt,
            crawl_creators=True,
        )

    def call(self) -> dict:
        return self._legs(self.ckpt)

    def _legs(self, ckpt: str) -> dict:
        shutil.rmtree(ckpt, ignore_errors=True)
        tr = self.tracer
        t0, w0 = time.perf_counter(), time.time()
        with tr.span("crawl.fresh_leg"):
            res = self._engine(ckpt).run(self.seeds, max_rounds=ROUNDS)
            with tr.span("crawl.result_counts"):
                n_fresh = res.seen.count()
        t1 = time.perf_counter()
        with tr.span("crawl.resume_leg"):
            res = self._engine(ckpt).run(self.seeds, max_rounds=ROUNDS, resume=True)
            with tr.span("crawl.result_counts"):
                n_seen = res.seen.count()
                n_content = res.content.count()
                n_comments = res.comments.count()
        t2 = time.perf_counter()

        commits = [_commit_time(ckpt, r) for r in range(ROUNDS)]
        state_bytes, state_files = _dir_usage(ckpt)
        return {
            "res": res,
            "wall_s": t2 - t0,
            "fresh_s": t1 - t0,
            "resume_s": t2 - t1,
            "n_fresh": n_fresh,
            "n_seen": n_seen,
            "n_content": n_content,
            "n_comments": n_comments,
            "round_s": [c - s for s, c in zip([w0] + commits, commits)],
            "state_bytes": state_bytes,
            "state_files": state_files,
        }

    def _reference(self):
        """Simulator result and the corpus' url -> (html, text), computed
        once per run."""
        if self._sim is None:
            from tests.reference_sim import simulate

            rows = self.pages.select("url", "html", "text").collect()
            self._page = {r.url: (r.html, r.text) for r in rows}
            self._sim = simulate(
                [{"url": r.url, "html": r.html} for r in rows],
                [r.asDict() for r in self.seeds.collect()],
                [r.asDict() for r in self.robots.collect()],
                max_rounds=ROUNDS, crawl_creators=True,
            )
        return self._sim, self._page

    def check(self, out: dict) -> list[str]:
        res = out["res"]
        sim, page = self._reference()
        seen = [r.url for r in res.seen.select("url").collect()]
        errs = gates.check_crawl(
            seen,
            _collect_tuples(res.content, [
                "note_id", "ord_keyword", "ord_page", "ord_item_idx", "ord_cursor_seq"]),
            _collect_tuples(res.comments, [
                "comment_id", "note_id", "parent_comment_id", "ord_cursor_seq", "ord_item_idx"]),
            sim,
        )
        errs += gates.check_content_text(
            _collect_tuples(res.content, ["url", "text"]),
            {u: t for u, (_, t) in page.items()},
        )
        fetched = sorted(u for u in set(seen) if u in page)
        sample = random.Random(self.seed).sample(fetched, min(KERNEL_SAMPLE, len(fetched)))
        errs += gates.check_kernel([page[u] for u in sample], extract_text_py)
        return errs

    def report(self, calls: list[dict]) -> dict:
        med = lambda k: statistics.median(c[k] for c in calls)  # noqa: E731
        # the fresh leg's seen set over its run() plus result count
        urls_per_s = statistics.median(c["n_fresh"] / c["fresh_s"] for c in calls)
        round_p50 = statistics.median(s for c in calls for s in c["round_s"])
        return {
            "items_per_s": urls_per_s,
            "step_p50_s": round_p50,
            # the workload's own names for the same and further figures
            "urls_per_s": urls_per_s,
            "round_p50_s": round_p50,
            "resume_s": med("resume_s"),
            "state_bytes_per_url": statistics.median(c["state_bytes"] / c["n_seen"] for c in calls),
            "urls_seen": med("n_seen"),
            "content_rows": med("n_content"),
            "comment_rows": med("n_comments"),
        }

    def layer_counts(self, out: dict) -> dict:
        res = out["res"]
        m = res.metrics.agg(
            F.sum("scheduled"), F.sum("parsed"), F.sum("failed")
        ).first()
        fetched = self.pages.join(res.seen.select("url"), on="url", how="left_semi")
        # the text kernel measured directly over this crawl's fetched html
        with self.tracer.span("text.kernel"):
            fetched.select(extract_text_udf(F.col("html")).alias("t")) \
                .write.format("noop").mode("overwrite").save()
        rows, bytes_in = fetched.agg(F.count("*"), F.sum(F.length("html"))).first()
        return {
            "crawl.rounds": ROUNDS,
            "scheduler.scheduled_rows": m[0] or 0,
            "scheduler.denied_rows": res.denied.count(),
            "extract.pages_parsed": m[1] or 0,
            "extract.fetch_misses": m[2] or 0,
            "text.rows": rows,
            "text.bytes_in": bytes_in or 0,
            "state.bytes": out["state_bytes"],
            "state.files": out["state_files"],
            "state.bytes_per_round": out["state_bytes"] / ROUNDS,
            "state.bytes_per_url": out["state_bytes"] / out["n_seen"],
            "crawl.resume_s": out["resume_s"],
        }


class ContentAnalytics:
    """The content operators the crawl never calls, over a corpus in which
    every text appears ``copies`` times, and the URL-seen filter (Bloom
    build plus prefiltered dedup) that the one-round crawl never reaches."""

    name = "content_analytics"

    def __init__(self, spark, seed: int, scale: dict, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.n_base = scale["analytics_base"]
        self.copies = scale["analytics_copies"]
        self.n_urls = scale["seen_urls"]
        self.tracer = tracer

    def _stage(self, rows, ddl, key):
        width = self.spark.sparkContext.defaultParallelism
        df = self.spark.createDataFrame(rows, ddl).repartition(width, key).persist()
        df.count()
        return df

    def _load(self) -> list:
        return [
            self._stage(self.corpus.rows, inputs.DOCS_DDL, "doc_id"),
            self._stage([(u,) for u in self.seen_urls], "url string", "url"),
            self._stage([(u,) for u in self.cand_urls], "url string", "url"),
        ]

    def setup(self) -> dict:
        self.corpus = inputs.analytics_corpus(self.seed, self.n_base, self.copies)
        self.seen_urls, self.cand_urls = inputs.url_sets(self.seed, self.n_urls, self.n_urls)
        t0 = time.perf_counter()
        frames = self._load()
        corpus_s = time.perf_counter() - t0
        self.docs, self.seen, self.cand = frames
        t0 = time.perf_counter()
        # the first pass runs ~40% slower than the third and later ones
        for _ in range(WARMUP_PASSES):
            self._battery()
        return {"corpus_s": corpus_s, "warmup_s": time.perf_counter() - t0}

    def _battery(self) -> dict:
        tr, docs, out = self.tracer, self.docs, {}
        with tr.span("dedup.exact"):
            out["exact"] = _collect_tuples(
                dedup.exact_dedup_groups(docs), ["fingerprint", "n_dups", "canonical_doc_id"])
        with tr.span("dedup.minhash"):
            out["minhash"] = _collect_tuples(
                dedup.minhash_near_dups(docs), ["doc_a", "doc_b", "jaccard"])
        with tr.span("dedup.simhash"):
            out["simhash_rows"] = len(dedup.simhash_signatures(docs).collect())
        with tr.span("wordfreq.topk"):
            out["topk"] = _collect_tuples(wordfreq.top_k_words(docs, k=20), ["word", "freq"])
        with tr.span("textstats.profile"):
            out["profile_rows"] = len(textstats.document_profile(docs).collect())
        with tr.span("seen.filter"):
            bloom = seen_ops.ShardedBloom.build(self.seen)
            unseen = seen_ops.unseen_bloom_prefiltered(self.cand, self.seen, bloom=bloom)
            out["unseen"] = [r.url for r in unseen.collect()]
        release_persisted()
        return out

    def call(self) -> dict:
        t0 = time.perf_counter()
        with self.tracer.span("analytics.pass"):
            out = self._battery()
        out["wall_s"] = time.perf_counter() - t0
        return out

    def check(self, out: dict) -> list[str]:
        return gates.check_analytics(self.corpus, out) + gates.check_unseen(
            out["unseen"], self.cand_urls, self.seen_urls)

    def report(self, calls: list[dict]) -> dict:
        pass_s = statistics.median(c["wall_s"] for c in calls)
        n = len(self.corpus.rows)
        return {
            "items_per_s": n / pass_s,
            "step_p50_s": pass_s,
            "docs_per_s": n / pass_s,
            "input_docs": n,
            "minhash_pairs": statistics.median(len(c["minhash"]) for c in calls),
        }

    def layer_counts(self, out: dict) -> dict:
        # LSH candidates are not among the operator's outputs; count them
        # once here, after the timed part
        cands = dedup.lsh_candidate_pairs(self.docs, hash_fn="xxhash64").count()
        release_persisted()
        return {
            "dedup.minhash_candidates": cands,
            "dedup.minhash_pairs": len(out["minhash"]),
        }


WORKLOADS = {w.name: w for w in (CrawlRounds, ContentAnalytics)}
