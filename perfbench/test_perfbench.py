"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The gate tests are pure Python. The smoke tests run every workload through
``run.py`` at the tiny scale (a few minutes in all) and check that every
metric ``BENCHMARK.json`` names is printed with its unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gates  # noqa: E402
import inputs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


# -- crawl gate ----------------------------------------------------------------
def _crawl_output():
    seen = ["https://h0.xhs.example/search/kw0?page=1", "https://h1.xhs.example/explore/n7"]
    content = [("n7", "kw0", 1, 3, 0)]
    comments = [("c1", "n7", None, 0, 1), ("c2", "n7", "c1", 1, 0)]
    sim = SimpleNamespace(seen=set(seen), content=set(content), comments=set(comments))
    return seen, content, comments, sim


def test_crawl_gate_accepts_reference_output():
    assert gates.check_crawl(*_crawl_output()) == []


def test_crawl_gate_rejects_dropped_url():
    seen, content, comments, sim = _crawl_output()
    errs = gates.check_crawl(seen[1:], content, comments, sim)
    assert errs and errs[0].startswith("seen: 0 unexpected, 1 missing")


def test_crawl_gate_rejects_duplicate_and_changed_ordering_key():
    seen, content, comments, sim = _crawl_output()
    assert gates.check_crawl(seen + seen[:1], content, comments, sim)
    assert gates.check_crawl(seen, [("n7", "kw0", 1, 4, 0)], comments, sim)
    assert gates.check_crawl(seen, content, comments[:1], sim)


def test_content_text_gate_rejects_flipped_byte():
    page_text = {"u1": "hello world", "u2": "你好"}
    assert gates.check_content_text([("u1", "hello world"), ("u2", "你好")], page_text) == []
    assert gates.check_content_text([("u1", "hello worle"), ("u2", "你好")], page_text)
    assert gates.check_content_text([("u3", "hello world")], page_text)


def test_kernel_gate_rejects_wrong_text():
    from mediacrawler_spark.functions.text import extract_text_py

    html = b"<html><script>var x=1;</script><p>body text</p></html>"
    assert gates.check_kernel([(html, extract_text_py(html))], extract_text_py) == []
    assert gates.check_kernel([(html, "body tex")], extract_text_py)


# -- analytics gate -------------------------------------------------------------
def _analytics_output(corpus):
    groups = corpus.copy_groups()
    exact = [(f"fp{g[0]}", len(g), g[0]) for g in groups]
    minhash = [(a, b, 1.0) for g in groups for i, a in enumerate(g) for b in g[i + 1:]]
    return {
        "exact": exact,
        "minhash": minhash,
        "topk": gates.top_k_words_py(r[1] for r in corpus.rows),
        "simhash_rows": len(corpus.rows),
        "profile_rows": len(corpus.rows),
    }


def test_analytics_gate_accepts_reference_output():
    corpus = inputs.analytics_corpus(3, 12, 4)
    assert gates.check_analytics(corpus, _analytics_output(corpus)) == []


@pytest.mark.parametrize("tamper", ["group_size", "drop_pair", "jaccard", "topk", "rows"])
def test_analytics_gate_rejects_tampered_output(tamper):
    corpus = inputs.analytics_corpus(3, 12, 4)
    out = _analytics_output(corpus)
    if tamper == "group_size":
        fp, n, canon = out["exact"][0]
        out["exact"][0] = (fp, n - 1, canon)
    elif tamper == "drop_pair":
        out["minhash"].pop()
    elif tamper == "jaccard":
        a, b, _ = out["minhash"][0]
        out["minhash"][0] = (a, b, 0.999999)
    elif tamper == "topk":
        w, n = out["topk"][0]
        out["topk"][0] = (w, n + 1)
    else:
        out["profile_rows"] -= 1
    assert gates.check_analytics(corpus, out)


def test_unseen_gate_rejects_seen_or_missing_url():
    seen, cand = inputs.url_sets(2, 40, 40)
    want = [u for u in cand if u not in set(seen)]
    assert len(want) == 20
    assert gates.check_unseen(want, cand, seen) == []
    assert gates.check_unseen(want[1:], cand, seen)
    assert gates.check_unseen(want + seen[:1], cand, seen)


# -- inputs ---------------------------------------------------------------------
def test_inputs_follow_the_seed():
    assert inputs.crawl_documents(5, 40, 400) == inputs.crawl_documents(5, 40, 400)
    assert inputs.crawl_documents(5, 40, 400) != inputs.crawl_documents(6, 40, 400)
    a = inputs.analytics_corpus(5, 30, 4)
    assert a.rows == inputs.analytics_corpus(5, 30, 4).rows
    assert a.rows != inputs.analytics_corpus(6, 30, 4).rows
    assert len({r[1] for r in a.rows}) == 30
    assert all(len(g) == 4 for g in a.copy_groups())


# -- end to end -----------------------------------------------------------------
def _run(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_tiny_prints_every_metric_with_unit(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", str(trace), "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if trace and workload == "crawl_rounds":
        # these spans are picked out by the engine's function names and
        # source text; a rename there must not read as a silent 0
        for name in ("crawl.select_job_s", "crawl.parse_job_s", "crawl.write_s",
                     "crawl.write_jobs", "crawl.result_count_s", "crawl.driver_self_s"):
            assert result["metrics"][name]["value"] > 0, name
    for m in SPEC["end_to_end"]:
        value = result["metrics"].get(m["name"], {}).get("value")
        assert value is None or value > 0
        # the human-readable lines name every end-to-end metric and its unit
        assert any(
            ln.split()[:1] == [m["name"]] and ln.split()[-1] == m["unit"] for ln in lines[:-1]
        ), m["name"]


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "crawl_rounds", "--seed", "1", "--seconds", "1",
             "--trace", "0", timeout=170)
    assert p.returncode != 0
    assert not p.stdout.strip()
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]
