"""Tests of the benchmark's own helpers; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ela_lib_spark.oracle.brute import brute_topk  # noqa: E402
from perfbench import gen, run  # noqa: E402
from perfbench.measure import steal_pct, tail_percentile  # noqa: E402
from perfbench.trace import Span, self_time  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    APPEND_CYCLE,
    CHURN_CYCLE,
    Oracle,
    warmup_sizes,
)


@pytest.mark.parametrize("n, p", [(100, 90), (60, 84), (11, 9), (1000, 99), (200, 95)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    xs = np.arange(n)
    assert (xs > np.percentile(xs, p)).sum() >= 10
    assert p == 99 or (xs > np.percentile(xs, p + 1)).sum() < 10


def test_tail_percentile_of_too_few_samples_is_none():
    assert tail_percentile(10) is None
    assert tail_percentile(0) is None


def _span(start, end, trace_s=0.0):
    return Span("s", 1, None, 1, start, end, trace_s)


def test_self_time_subtracts_the_union_of_children():
    parent = _span(0.0, 10.0)
    kids = [_span(1.0, 3.0), _span(2.0, 4.0), _span(6.0, 7.0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0)


def test_self_time_counts_child_bookkeeping_and_clips_to_parent():
    parent = _span(0.0, 10.0)
    # the child's tracer bookkeeping (trace_s) is not the parent's work,
    # and nothing outside the parent's interval is subtracted
    kids = [_span(1.0, 2.0, trace_s=0.5), _span(9.0, 12.0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 1.5 - 1.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_steal_pct_reads_the_eighth_cpu_field():
    a = {"cpu": [100, 0, 50, 800, 0, 0, 0, 50, 0, 0]}
    b = {"cpu": [200, 0, 100, 1600, 0, 0, 0, 100, 0, 0]}
    assert steal_pct(a, b) == pytest.approx(100 * 50 / 1000)


def test_generators_are_seed_deterministic():
    assert gen.batch_ids(3, 5) == gen.batch_ids(3, 5) == gen.batch_ids(3, 9)[:5]
    assert gen.batch_ids(3, 5) != gen.batch_ids(4, 5)
    a, b = gen.corpus(3, 300), gen.corpus(3, 300)
    assert a.equals(b)
    assert not a["url"].equals(gen.corpus(4, 300)["url"])
    assert gen.query_stream(3, 200) == gen.query_stream(3, 200)
    assert gen.query_stream(3, 200) != gen.query_stream(4, 200)
    ids = gen.batch_ids(3, 2)
    sizes = {"n_update": 10, "n_delete": 5, "n_create": 40, "n_clusters": 3,
             "copies": 2}
    c1 = gen.sync_cycle(a, 3, 1, ids[1], **sizes)
    c2 = gen.sync_cycle(a, 3, 1, ids[1], **sizes)
    assert c1.src.equals(c2.src) and c1.deletes == c2.deletes
    assert c1.clusters == c2.clusters
    assert gen.sync_cycle(a, 4, 1, ids[1], **sizes).deletes != c1.deletes


def test_sync_cycle_injects_what_it_declares():
    pages = gen.corpus(5, 400)
    ids = gen.batch_ids(5, 2)
    cyc = gen.sync_cycle(pages, 5, 1, ids[1], n_update=20, n_delete=7,
                         n_create=50, n_clusters=4, copies=2)
    old, new = set(pages["url"]), set(cyc.src["url"])
    assert len(old - new) == cyc.expected["delete"] == 7
    assert len(new - old) == cyc.expected["create"] == 50 + 4 * 2
    assert cyc.expected["same"] + cyc.expected["update"] == len(old & new)
    assert len(cyc.upserts) == cyc.expected["update"] + cyc.expected["create"]
    assert all(len(cl) == 3 for cl in cyc.clusters)


def test_maintain_cycles_and_their_warmup_inject_what_they_declare():
    # the gated maintain workload only adds pages, so its index never
    # holds tombstones; maintain-churn updates and deletes too
    pages = gen.corpus(6, 600)
    ids = gen.batch_ids(6, 2)
    for sizes in (APPEND_CYCLE, warmup_sizes(APPEND_CYCLE)):
        cyc = gen.sync_cycle(pages, 6, 1, ids[1], **sizes)
        assert cyc.deletes == [] and cyc.expected["update"] == 0
        assert set(pages["url"]) < set(cyc.src["url"])
        assert len(cyc.clusters) == sizes["n_clusters"] > 0
    for sizes in (CHURN_CYCLE, warmup_sizes(CHURN_CYCLE)):
        cyc = gen.sync_cycle(pages, 6, 1, ids[1], **sizes)
        assert len(cyc.deletes) == cyc.expected["delete"] == sizes["n_delete"] > 0
        assert cyc.expected["update"] == sizes["n_update"] > 0


def test_stream_shape_shares():
    q1 = gen.Query(("term0001",), "OR")
    q2 = gen.Query(("term0500", "term0900"), "AND")
    q3 = gen.Query(("term0005", "term0500", "term3000"), "OR", 2)
    shape = gen.stream_shape([q1, q2, q1, q3])
    assert shape["repeated_share"] == 0.25
    assert shape["and_share"] == 0.25
    assert shape["min_match_share"] == 0.25
    assert shape["head_term_share"] == 0.75


def test_oracle_restriction_and_dead_postings_match_full_brute_force():
    rng = np.random.default_rng(0)
    vocab = [f"t{i}" for i in range(30)]
    docs = {d: [vocab[int(i)] for i in rng.zipf(1.5, 40) % 30] for d in range(200)}
    live = {d: t for d, t in docs.items() if d % 7}
    dead = {d: t for d, t in docs.items() if not d % 7}
    manifest = {"n_docs": len(live), "avg_dl": 40.0}
    for q in (gen.Query(("t1",), "OR"), gen.Query(("t2", "t9"), "AND"),
              gen.Query(("t3", "t4", "t25"), "OR", 2)):
        full = brute_topk(docs, list(q.terms), q.mode, len(docs), n_docs=len(live),
                          avg_dl=40.0, min_match=q.min_match)
        want = [(d, s) for d, s in full if d in live][:10]
        assert Oracle(live, dead).topk(q, manifest) == want
        assert Oracle(live, {}).topk(q, manifest) == brute_topk(
            live, list(q.terms), q.mode, 10, n_docs=len(live), avg_dl=40.0,
            min_match=q.min_match)


def test_printed_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.LAYERS
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
