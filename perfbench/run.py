"""Crawl-engine benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see ``BENCHMARK.json`` for why
each exists):

- ``content_analytics`` — exact dedup, MinHash near-dups, SimHash, top-k
  words and document profiles over texts that each appear several times,
  and the URL-seen filter (Bloom build, prefiltered dedup);
- ``crawl_rounds``      — search-mode crawl under per-host politeness
  budgets: a fresh engine runs one round, then a new engine resumes from
  the committed checkpoint.

The load is a closed loop on ``local[4]``: timed calls follow each other
until ``--seconds`` of timed work is done (at least one call). Each call's
outputs go through the workload's correctness gate outside the timed
region; a call that raises or fails the gate counts in ``failed``.

Human-readable metric lines go to stdout first; the last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding
the ``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0`` and
its ``per_layer`` metrics with ``--trace 1``. A traced run wraps the
program's public layer functions and pyspark actions from this directory
(``spans.py``) and writes its spans to ``.bench_traces/``.

Everything the run writes (Spark scratch, checkpoints) stays under
``.bench_work/`` in the repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4

SCALES = {
    # crawl: 500 consecutive doc ids out of 5,000; analytics: 150 distinct texts x 4
    # copies, 5k seen URLs and 5k candidates
    "full": {"crawl_docs": 500, "crawl_id_space": 5000,
             "analytics_base": 150, "analytics_copies": 4, "seen_urls": 5000},
    # smoke-test size
    "tiny": {"crawl_docs": 50, "crawl_id_space": 500,
             "analytics_base": 40, "analytics_copies": 4, "seen_urls": 2000},
}

# units of the figures printed on the human-readable lines only
EXTRA_UNITS = {
    "urls_per_s": "URLs/s", "round_p50_s": "s",
    "resume_s": "s", "state_bytes_per_url": "B/URL", "urls_seen": "count",
    "content_rows": "count", "comment_rows": "count", "docs_per_s": "docs/s",
    "input_docs": "count", "minhash_pairs": "count", "error_rate": "ratio",
    "setup.session_s": "s", "setup.corpus_s": "s", "setup.warmup_s": "s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full")
    return p.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _prepare_env(work: str) -> None:
    """Python workers import the program from the repository root; every
    scratch directory Spark and Python use points into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no JVM performance-data file in the system temp directory (the
    # launcher JVM's included)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path[:0] = [ROOT, HERE]


def _session(work: str):
    from mediacrawler_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    spark = build_session(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def install_tracing(tracer, spark) -> None:
    """Wrap each layer's public entry points and the pyspark actions."""
    from mediacrawler_spark.operators import extract, scheduler, seen
    from mediacrawler_spark.plans.crawl import CrawlEngine

    def bloom_bytes(attrs, bloom):
        attrs["bytes"] = sum(b.nbytes for b in bloom.bitmaps.values())

    tracer.wrap(CrawlEngine, "run", "crawl.run")
    tracer.wrap(scheduler, "select_round", "scheduler.select_round")
    tracer.wrap(extract, "parse_round", "extract.parse_round")
    tracer.wrap(seen.ShardedBloom, "build", "seen.bloom_build", on_result=bloom_bytes)
    tracer.wrap(seen.ShardedBloom, "merge", "seen.bloom_merge", on_result=bloom_bytes)
    tracer.wrap(seen, "unseen_bloom_prefiltered", "seen.dedup_bloom")
    tracer.wrap(seen, "unseen_exact", "seen.dedup_exact")
    df = spark.range(1)
    for obj, attrs in ((df, ("count", "collect")), (df.write, ("parquet", "save"))):
        for attr in attrs:
            owner = next(c for c in type(obj).__mro__ if attr in c.__dict__)
            tracer.wrap(owner, attr, f"spark.{attr}", site=True)


def layer_metrics(tracer, n_calls: int) -> dict:
    """Per-layer times from the spans of the timed calls, per call."""
    from spans import covered

    per = lambda v: v / n_calls  # noqa: E731
    # the crawl loop's jobs are told apart by the calling function and the
    # source line of the action (its select job counts the scheduled batch
    # in _round; its parse job counts the seen delta in run)
    counts = tracer.named("spark.count")
    writes = [
        s for s in tracer.named("spark.parquet") + tracer.named("spark.save")
        if s.attrs.get("site") in ("_write_one", "_materialize")
    ]
    bloom = tracer.named("seen.bloom_build") + tracer.named("seen.bloom_merge")
    last_bloom = max(bloom, key=lambda s: s.end) if bloom else None
    return {
        "crawl.run_s": per(tracer.total("crawl.run")),
        "crawl.driver_self_s": per(sum(tracer.self_time(s) for s in tracer.named("crawl.run"))),
        "crawl.select_job_s": per(sum(s.dur for s in counts if s.attrs.get("site") == "_round")),
        "crawl.parse_job_s": per(sum(
            s.dur for s in counts
            if s.attrs.get("site") == "run" and "seen_delta" in s.attrs.get("line", "")
        )),
        "crawl.write_s": per(covered([(s.start, s.end) for s in writes])),
        "crawl.write_jobs": per(len(writes)),
        "crawl.result_count_s": per(tracer.total("crawl.result_counts")),
        "scheduler.calls": per(len(tracer.named("scheduler.select_round"))),
        "scheduler.plan_s": per(tracer.total("scheduler.select_round")),
        "extract.calls": per(len(tracer.named("extract.parse_round"))),
        "extract.plan_s": per(tracer.total("extract.parse_round")),
        "seen.bloom_build_s": per(tracer.total("seen.bloom_build")),
        "seen.bloom_builds": per(len(tracer.named("seen.bloom_build"))),
        "seen.bloom_merge_s": per(tracer.total("seen.bloom_merge")),
        "seen.bloom_merges": per(len(tracer.named("seen.bloom_merge"))),
        "seen.bloom_bytes": last_bloom.attrs["bytes"] if last_bloom else 0,
        "seen.dedup_plan_s": per(tracer.total("seen.dedup_bloom") + tracer.total("seen.dedup_exact")),
        "seen.prefiltered_dedups": per(len(tracer.named("seen.dedup_bloom"))),
        "seen.filter_s": per(tracer.total("seen.filter")),
        "dedup.exact_s": per(tracer.total("dedup.exact")),
        "dedup.minhash_s": per(tracer.total("dedup.minhash")),
        "dedup.simhash_s": per(tracer.total("dedup.simhash")),
        "wordfreq.topk_s": per(tracer.total("wordfreq.topk")),
        "textstats.profile_s": per(tracer.total("textstats.profile")),
    }


def run(args) -> tuple[dict, dict]:
    """Set up, drive the closed loop, gate every call; returns the result
    object and the human-readable figures."""
    spec = load_spec()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    spark = tracer = None
    try:
        _prepare_env(work)
        import workloads
        from procs import PeakRss, stop_spark
        from spans import Tracer

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}")
        tracer = Tracer(run_id, enabled=False)
        t0 = time.perf_counter()
        spark = _session(work)
        setup = {"session_s": time.perf_counter() - t0}
        wl = workloads.WORKLOADS[args.workload](
            spark, args.seed, SCALES[args.scale], work, tracer)
        setup.update(wl.setup())

        if args.trace:
            tracer.enabled = True
            install_tracing(tracer, spark)
        calls, attempted, failed, timed = [], 0, 0, 0.0
        with PeakRss(spark.sparkContext._gateway.proc.pid) as rss:
            while timed < args.seconds or not attempted:
                attempted += 1
                try:
                    with tracer.span("bench.call"):
                        out = wl.call()
                    errs = wl.check(out)
                except Exception:  # counted as failed; the loop stops
                    traceback.print_exc()
                    failed += 1
                    break
                if errs:
                    failed += 1
                    print(f"gate failed: {errs}", file=sys.stderr)
                calls.append(out)
                timed += out["wall_s"]
        if not calls:
            raise RuntimeError("no timed call completed")
        if args.trace:
            layers = layer_metrics(tracer, len(calls))
            layers.update(wl.layer_counts(calls[-1]))
            layers["text.kernel_s"] = tracer.total("text.kernel")
            tracer.restore()

        figures = wl.report(calls)
        figures.update({
            "setup_s": sum(setup.values()),
            "mem.peak_rss_mb": rss.peak / 2**20,
            "error_rate": failed / attempted,
            **{f"setup.{k}": v for k, v in setup.items()},
        })
        if args.trace:
            for k in ("setup.session_s", "setup.corpus_s", "setup.warmup_s",
                      "mem.peak_rss_mb"):
                layers[k] = figures[k]
            layers["trace.spans"] = len(tracer.spans)
            layers["trace.items_per_s"] = figures["items_per_s"]
            layers["trace.step_p50_s"] = figures["step_p50_s"]
            tracer.dump(os.path.join(ROOT, ".bench_traces", f"{run_id}.json"))
            wanted, values = spec["per_layer"], layers
        else:
            wanted, values = spec["end_to_end"], figures
    finally:
        if tracer is not None:
            tracer.restore()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by another run
            os.rmdir(os.path.dirname(work))

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        },
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    human = {k: (v, units.get(k) or EXTRA_UNITS[k]) for k, v in figures.items()}
    return result, human


def main(argv=None) -> int:
    args = parse_args(argv)
    result, human = run(args)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"calls {result['attempted']} failed {result['failed']}")
    for name, (value, unit) in human.items():
        print(f"  {name:<24} {value:>16.6g} {unit}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
