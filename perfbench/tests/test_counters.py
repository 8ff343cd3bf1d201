"""Counter exactness self-test of the benchmark.

Runs two traced ops of each workload in one session and asserts that
every counter ``counters.json`` labels exact on that workload
(``exact_on``) reads the same in both. Every counter carries a note
with the measurement behind its label.

    python3 -m pytest perfbench/tests -q

Needs the engine importable from the checkout root; takes a few
minutes (one Spark session per workload).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(HERE, "counters.json")) as fh:
    LABELS = json.load(fh)


def test_every_per_layer_metric_is_labelled_and_listed():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    listed = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    assert listed == spans.PER_LAYER
    counts = {n for n, u in spans.PER_LAYER if u in ("count", "bytes")}
    assert counts == set(LABELS), sorted(counts ^ set(LABELS))
    for v in LABELS.values():
        assert set(v["exact_on"]) <= set(workloads.WORKLOADS) and v["note"]


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_exact_counters_repeat(name):
    args = argparse.Namespace(workload=name, seed=run.DEFAULT_SEED, seconds=0,
                              trace=1, record=False)
    r = run.Run(args)
    try:
        a, b = r.traced_ops(2)
    finally:
        import shutil

        shutil.rmtree(r.run_dir, ignore_errors=True)
    assert a["digest"] == b["digest"]
    la, lb = a["layers"], b["layers"]
    exact = [k for k, v in LABELS.items() if name in v["exact_on"]]
    diff = {k: (la.get(k, 0), lb.get(k, 0)) for k in exact if la.get(k, 0) != lb.get(k, 0)}
    assert not diff, diff
