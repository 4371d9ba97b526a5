"""Tests of the sync-tick benchmark itself.

The generator tests are fast. ``test_same_seed_repeats_counts`` runs the
benchmark twice per workload (a few minutes of Spark work).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.gen import NODE_LABELS, PackerRegistry, UpsertFeed, node_diff  # noqa: E402
from perfbench.workloads import WORKLOADS, tick_plan  # noqa: E402


def _pages(tmp_path, seed: int, name: str) -> str:
    gen = PackerRegistry(seed, 300)
    gen.churn(0.01, 0.001, 0.001)
    gen.write_pages(str(tmp_path / name))
    return (tmp_path / name / "pages.jsonl").read_text()


def test_packer_pages_repeat_per_seed(tmp_path):
    assert _pages(tmp_path, 7, "a") == _pages(tmp_path, 7, "b")
    assert _pages(tmp_path, 7, "a") != _pages(tmp_path, 8, "c")


def test_upsert_feed_repeats_per_seed():
    a, b = UpsertFeed(3, 100), UpsertFeed(3, 100)
    for _ in range(3):
        assert a.next_batch() == b.next_batch()


def test_churn_is_what_the_diff_expects():
    spread = WORKLOADS["small_spread_churn"]
    gen = PackerRegistry(11, spread.n_buckets)
    before = gen.node_tokens()
    churn = gen.churn(*spread.churn)
    diff = node_diff(before, gen.node_tokens())
    assert (churn.updated, churn.deleted, churn.created) == (20, 1, 1)
    assert diff["bucket"] == (churn.updated + churn.created, churn.deleted)
    assert diff["version"] == (churn.created, churn.deleted)
    assert set(diff) == set(NODE_LABELS)


def test_upsert_feed_half_new_half_redelivered():
    feed = UpsertFeed(5, 1000)
    _, first = feed.next_batch()
    assert first == 1000
    lines, creates = feed.next_batch()
    keys = [json.loads(line)["external_id"] for line in lines]
    assert len(set(keys)) == 1000 and len(feed.keys) == 1500
    assert 500 < creates < 1000  # 500 new plus about a quarter of 500


def test_tick_plan_alternates_when_traced():
    assert tick_plan(10, 20.0, trace=False) == [False]
    assert tick_plan(10, 3.3, trace=False) == [False] * 3
    assert tick_plan(10, 20.0, trace=True) == [False, True]


def _run(workload: str, seed: int) -> tuple[dict, list[dict]]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "10", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=400, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-1]), [json.loads(line) for line in out[:-1]]


def _counts(result: dict, details: list[dict]) -> dict:
    counts = {
        name: m["value"]
        for name, m in result["metrics"].items()
        if m["unit"] != "s" and name not in ("trace_overhead", "jvm.old_gen_peak_mb")
    }
    counts["written_bytes"] = [d["written_bytes"] for d in details if d["detail"] == "tick"]
    counts["store_bytes"] = next(d["store_bytes"] for d in details if d["detail"] == "checks")
    return counts


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_repeats_counts(workload):
    first, second = _run(workload, 5), _run(workload, 5)
    assert first[0]["correct"] and second[0]["correct"]
    a, b = _counts(*first), _counts(*second)
    assert a["tick.jobs"] > 0
    spans = sum(v for k, v in a.items() if k.endswith(".jobs") and not k.startswith("tick."))
    assert spans + a["tick.jobs_unattributed"] == a["tick.jobs"]
    assert a["tick.jobs_unattributed"] == 0
    assert a == b
