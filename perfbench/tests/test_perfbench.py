"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

from perfbench import inputs, measure, tracing

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def catalogue():
    return measure.load_catalogue(os.path.join(ROOT, "BENCHMARK.json"))


def test_catalogue_shape(catalogue):
    assert set(catalogue) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(catalogue["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in catalogue["workloads"])
    assert all(set(m) == {"name", "unit", "better", "bound"} for m in catalogue["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in catalogue["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in catalogue["per_layer"])
    setup = [m for m in catalogue["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower", "bound": max(m["bound"] for m in catalogue["end_to_end"])}]


def test_metric_names_well_formed(catalogue):
    names = [w["name"] for w in catalogue["workloads"]]
    for group in ("end_to_end", "per_layer"):
        for m in catalogue[group]:
            assert NAME_RE.match(m["name"]), m
            assert UNIT_RE.match(m["unit"]), m
            assert m["better"] in ("higher", "lower"), m
            names.append(m["name"])
    assert len(names) == len(set(names)), "a name is used twice"


def test_every_named_metric_is_present(catalogue):
    e2e = measure.end_to_end(1.0, 3.0)
    assert list(e2e) == [m["name"] for m in catalogue["end_to_end"]]
    assert tracing.layer_metric_names() == [m["name"] for m in catalogue["per_layer"]]
    tr = tracing.Tracer(enabled=True)
    with tr.span("kernels"):
        pass
    layer = tr.layer_metrics(None)
    assert set(layer) == set(tracing.layer_metric_names())
    for trace in (False, True):
        units = measure.metric_units(catalogue, trace)
        line = json.loads(measure.result_line(units, layer if trace else e2e, True, 1, 0))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert set(line["metrics"]) == set(units)


def test_result_line_rejects_a_missing_or_extra_metric(catalogue):
    units = measure.metric_units(catalogue, False)
    e2e = measure.end_to_end(1.0, 2.0)
    with pytest.raises(KeyError):
        measure.result_line(units, {k: v for k, v in e2e.items() if k != "setup_s"}, True, 1, 0)
    with pytest.raises(KeyError):
        measure.result_line(units, {**e2e, "surprise": 1.0}, True, 1, 0)


def test_failed_share_counting():
    assert measure.failed_share(20, 0) == 0.0
    assert measure.failed_share(4, 1) == 0.25
    with pytest.raises(ValueError):
        measure.failed_share(0, 0)
    with pytest.raises(ValueError):
        measure.failed_share(3, 4)
    planned = ["a", "b", "c", "d"]
    assert measure.feed_failures(planned, {"a", "b", "c", "d", "warm"}, True) == 0
    # a file never committed, or never dropped, is a failed operation
    assert measure.feed_failures(planned, {"a", "c"}, True) == 2
    # a failed output check fails every file of the feed
    assert measure.feed_failures(planned, set(planned), False) == 4
    assert measure.failed_share(len(planned), measure.feed_failures(planned, {"a"}, True)) == 0.75


def test_tail_percentile():
    values = [float(i) for i in range(1, 101)]
    # 10 samples (91..100) lie beyond the 90th value
    assert measure.tail(values) == (90.0, 90.0)
    assert measure.tail(values[:21]) == (11.0, 1100.0 / 21)
    # too few samples for a percentile above the median with 10 beyond it
    assert measure.tail(values[:20]) is None
    assert measure.tail([7.0]) is None


def test_feed_drops_cycle_under_fresh_names():
    from perfbench.workloads import feed_drops

    drops = feed_drops(["f0", "f1"], 5)
    assert [src for src, _ in drops] == ["f0", "f1", "f0", "f1", "f0"]
    assert len({name for _, name in drops}) == 5
    assert feed_drops(["f0", "f1"], 3) == drops[:3]


def test_kg_pass_count_follows_the_run_length_only():
    from perfbench.workloads import KG_PASS_S, kg_passes

    assert kg_passes(1) == 1
    assert kg_passes(KG_PASS_S) == 1
    assert kg_passes(3 * KG_PASS_S) == 3


def test_self_time_excludes_children():
    tr = tracing.Tracer(enabled=True)
    tr.spans = [
        {"layer": "storage", "group": "p", "parent": None, "start": 0.0, "end": 10.0},
        {"layer": "kernels", "group": "c", "parent": "p", "start": 2.0, "end": 6.0},
    ]
    m = tr.layer_metrics(None)
    assert m["storage.self_s"] == 6.0
    assert m["kernels.self_s"] == 4.0


SMALL = {"KG_HISTORY_SCALE": 6, "KG_DOCUMENTS": 200, "KG_CHAINS": 5, "KG_HUB_SPOKES": 20, "FEED_HISTORY_SCALE": 12}

# digests of one input set generated in a fresh interpreter
_DIGESTS = """
import json, sys
from perfbench import inputs
for k, v in json.loads(sys.argv[1]).items():
    setattr(inputs, k, v)
print(json.dumps(inputs.input_digests(inputs.ensure_inputs(sys.argv[2], sys.argv[3], int(sys.argv[4])))))
"""


@pytest.mark.parametrize("workload", sorted(inputs.GENERATORS))
def test_same_seed_same_inputs(tmp_path, monkeypatch, workload):
    for k, v in SMALL.items():
        monkeypatch.setattr(inputs, k, v)
    a = inputs.input_digests(inputs.ensure_inputs(str(tmp_path / "a"), workload, 11))
    c = inputs.input_digests(inputs.ensure_inputs(str(tmp_path / "c"), workload, 12))
    # the same seed in another process, with another string-hash seed
    out = subprocess.run(
        [sys.executable, "-c", _DIGESTS, json.dumps(SMALL), str(tmp_path / "b"), workload, "11"],
        capture_output=True, text=True, check=True, cwd=ROOT,
        env={**os.environ, "PYTHONHASHSEED": "7", "PYTHONPATH": ROOT},
    )
    b = json.loads(out.stdout.strip().splitlines()[-1])
    assert a and a == b
    assert a != c
    # a complete input directory is reused, not regenerated
    d = inputs.ensure_inputs(str(tmp_path / "a"), workload, 11)
    assert inputs.input_digests(d) == a


def test_sameas_graph_shape():
    import random

    edges = inputs.sameas_graph(random.Random(1), n_chains=3, chain_max=12, hub_spokes=7)
    nodes = {n for e in edges for n in e}
    # a forest of 3 chains and one hub star (which includes the hot entity)
    assert len(edges) == len(nodes) - (3 + 1)
    assert inputs.HOT_ENTITY in nodes
    assert len({len(n) for n in nodes if n != inputs.HOT_ENTITY}) == 1
