"""Checks of the benchmark's own machinery; no Spark session needed.

    python3 -m pytest perfbench -q

The planted reference must equal the O(n^2) oracle on small instances, so
``recall`` on the full-size inputs stays exact without an O(n^2) pass.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import eventlog  # noqa: E402
import inputs  # noqa: E402
from annoy_spark.config import DedupConfig  # noqa: E402
from annoy_spark.oracle import compute_oracle, jaccard, shingle_set  # noqa: E402

CFG = DedupConfig()
SMALL_ADVERSARIAL = {"near_family": 40, "exact_copies": 30, "chain_len": 14,
                     "large_pairs": 2, "large_unique": 2,
                     "large_tokens": 3_000}


def small_inputs():
    return {
        "mixed": inputs.mixed_corpus(400, seed=7),
        "adversarial": inputs.adversarial_corpus(7, SMALL_ADVERSARIAL),
    }


@pytest.fixture(scope="module", params=["mixed", "adversarial"])
def small(request):
    return small_inputs()[request.param]


def test_planted_pairs_equal_oracle_edges(small):
    ids = {(r.repo, r.path, r.commit): i
           for i, r in enumerate(small.itertuples(index=False))}
    oracle = compute_oracle(small, ids, CFG.shingle_k, CFG.jaccard_s)
    _, edges = inputs.reference(small, CFG.shingle_k, CFG.jaccard_s,
                                CFG.min_substring_len, with_edges=True)
    want = set(zip(oracle.edges["u"], oracle.edges["v"],
                   oracle.edges["kind"]))
    got = set(zip(edges["i"], edges["j"], edges["kind"]))
    assert len(want) > 50
    assert got == want


def _partition(labels) -> set[frozenset]:
    groups: dict = {}
    for i, c in enumerate(labels):
        groups.setdefault(c, set()).add(i)
    return {frozenset(g) for g in groups.values()}


def test_reference_components_equal_all_pairs_scan(small):
    """Family-restricted search == every pair checked for every link kind
    (exact, near, verbatim block)."""
    content = small["content"].tolist()
    sets = [shingle_set(c, CFG.shingle_k) for c in content]
    raw = [c.encode() for c in content]
    n = len(content)
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(n):
        for j in range(i + 1, n):
            if find(i) == find(j):
                continue
            if (raw[i] == raw[j]
                    or jaccard(sets[i], sets[j]) >= CFG.jaccard_s
                    or inputs.shares_block(raw[i], raw[j],
                                           CFG.min_substring_len)):
                parent[find(j)] = find(i)
    labels, _ = inputs.reference(small, CFG.shingle_k, CFG.jaccard_s,
                                 CFG.min_substring_len)
    assert _partition(labels) == _partition([find(i) for i in range(n)])
    assert len(set(labels)) < n


def test_inputs_are_a_function_of_the_seed():
    a, b = small_inputs(), small_inputs()
    for k in a:
        cols = list(a[k].columns)
        assert inputs.checksum(a[k], cols) == inputs.checksum(b[k], cols)
    other = inputs.mixed_corpus(400, seed=8)
    assert inputs.checksum(other, cols) != inputs.checksum(a["mixed"], cols)


def test_adversarial_mean_length_passes_slicing_break_even():
    pdf = inputs.adversarial_corpus(3)
    reps = pdf.drop_duplicates("content")["content"].str.encode("utf-8")
    margin = 2 * CFG.min_substring_len
    break_even = 4 * (2 * margin + CFG.substring_chunk)
    assert reps.str.len().mean() > break_even
    assert pdf["family"].value_counts().iloc[0] > CFG.band_group_cap


@pytest.mark.parametrize("run", [1999, 2000, 2001])
def test_shares_block_threshold(run):
    rng = np.random.default_rng(run)
    block = rng.integers(97, 123, size=run, dtype=np.uint8).tobytes()
    a = b"x" * 700 + block + b"y" * 300
    b = b"z" * 5 + block + b"w" * 1000
    assert inputs.shares_block(a, b, 2000) == (run >= 2000)
    assert inputs.shares_block(b, a, 2000) == (run >= 2000)


def test_pair_scores():
    ref = np.array([0, 0, 0, 1, 1, 2])
    got = np.array([5, 5, 6, 7, 7, 7])
    recall, precision = inputs.pair_scores(ref, got)
    # reference pairs: 3 + 1 = 4, co-clustered by got: (0,1) and (3,4)
    assert recall == pytest.approx(2 / 4)
    # got pairs: 1 + 3 = 4, of which the reference links (0,1) and (3,4)
    assert precision == pytest.approx(2 / 4)


def test_exact_top_k_matches_sort():
    rng = np.random.default_rng(0)
    items, q = rng.normal(size=(300, 8)), rng.normal(size=(5, 8))
    ids = np.arange(300) + 1000
    got = inputs.exact_top_k(items, ids, q, 10)
    iu = items / np.linalg.norm(items, axis=1, keepdims=True)
    for r in range(5):
        want = ids[np.argsort(-(iu @ q[r]), kind="stable")[:10]]
        assert list(got[r]) == list(want)


def test_eventlog_fold_on_recorded_log():
    """A log recorded from a two-group job (trimmed to the fields read),
    plus one failed task appended by hand."""
    lines = (HERE / "testdata" / "tiny_eventlog.jsonl").read_text() \
        .splitlines()
    lines.append(json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": 3,
        "Task Info": {"Launch Time": 1792206650540,
                      "Finish Time": 1792206650550, "Failed": True},
        "Task Metrics": {"Executor Run Time": 10}}))
    tasks, jobs = eventlog.read_tasks(lines)
    g = eventlog.fold(tasks, jobs)
    assert set(g) == {"band", "verify", ""}
    assert (g["band"].jobs, g["band"].tasks) == (2, 3)
    assert (g["verify"].jobs, g["verify"].tasks) == (2, 5)
    assert (g[""].jobs, g[""].tasks) == (1, 1)
    assert g["verify"].failed_tasks == 1 and g["band"].failed_tasks == 0
    assert g["band"].run_s == pytest.approx((2428 + 2427 + 233) / 1000)
    assert g["band"].shuffle_write_mb * 2**20 == pytest.approx(269)
    assert g["verify"].shuffle_read_mb * 2**20 == pytest.approx(177)
    assert g["band"].task_skew == pytest.approx(2579 / 2565)
    # task intervals: 2.582 + 0.329 + 0.121 + 0.165 + 0.054 s
    assert eventlog.busy_s(tasks, 0, 2e12) == pytest.approx(3.251)
    assert eventlog.busy_s(tasks, 1792206650000, 1792206650600) \
        == pytest.approx(0.259 + 0.068)
