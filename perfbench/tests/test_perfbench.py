"""The benchmark's own tests: every workload at a tiny scale must check
clean, and each checker must reject a corrupted copy of the output it read.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import workloads as w
from perfbench.tracing import Tracer

TINY = {
    "bulk_sync": {"rows": 3_000, "batch_size": 100},
    "trickle_sync": {"history_rows": 20_000, "delta_rows": 200,
                     "checkpoint_every": 50},
    "crm_upsert": {"per_pass": 30, "cycles": 4, "every": 7},
    "near_dup_ingest": {"batch_docs": 40, "dup_frac": 0.25},
}


@pytest.fixture(scope="module")
def outcomes(tmp_path_factory):
    """One clean tiny run per workload (the first one traced), in this
    process; each run starts and stops its own Spark session."""
    root = str(tmp_path_factory.mktemp("work"))
    out = {}
    for i, name in enumerate(TINY):
        out[name] = w.run(name, seed=7, seconds=0, trace=(i == 0),
                          sizes=TINY[name], work_root=root)
    return out


def _failed_frac(failed: int, outcome: w.Outcome) -> float:
    return failed / outcome.attempted


@pytest.mark.parametrize("name", list(TINY))
def test_tiny_run_is_correct(outcomes, name):
    o = outcomes[name]
    assert o.attempted > 0
    assert o.failed == 0, o.evidence
    assert o.evidence["ops"] >= 2


def test_traced_run_reports_every_layer_metric(outcomes):
    with open(os.path.join(w.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = outcomes["bulk_sync"].metrics
    assert [m["name"] for m in bench["per_layer"]] == list(metrics)
    assert metrics["cursor.chunks"][0] > 0
    assert metrics["sinks.requests"][0] > 0
    assert metrics["runner.spark_jobs"][0] > 0


def test_bulk_checker_catches_a_dropped_row(outcomes):
    o = outcomes["bulk_sync"]
    got = copy.deepcopy(o.raw["got"][0])
    got.pop(next(iter(got)))
    missing, unexpected, _ = w.check_bulk(got, o.raw["expected"])
    assert _failed_frac(missing + unexpected, o) > 0


def test_bulk_checker_catches_a_foreign_row(outcomes):
    o = outcomes["bulk_sync"]
    got = dict(o.raw["got"][0], **{"999999999": 1})
    _, unexpected, _ = w.check_bulk(got, o.raw["expected"])
    assert _failed_frac(unexpected, o) > 0


def test_trickle_checker_catches_drop_extra_and_cursor(outcomes):
    o = outcomes["trickle_sync"]
    tick = o.raw["ticks"][-1]
    truth, delivered = tick["truth"], tick["delivered"]
    assert w.check_tick(truth, delivered, tick["cursor"]) == 0
    assert w.check_tick(truth, delivered[:-1], tick["cursor"]) > 0
    older = min(truth["boundary_ids"]) - 1
    assert w.check_tick(truth, delivered + [older], tick["cursor"]) > 0
    assert w.check_tick(truth, delivered + delivered[-1:], tick["cursor"]) > 0
    assert w.check_tick(truth, delivered, None) > 0


def test_crm_checker_catches_duplicate_and_stale_contact(outcomes):
    o = outcomes["crm_upsert"]
    objects, expected = o.raw["objects"], o.raw["expected"]
    size = o.raw["id_map_size"]
    assert w.check_crm(objects, expected, size) == 0
    dup = dict(objects)
    dup["dup-1"] = dict(next(iter(objects.values())))
    assert _failed_frac(w.check_crm(dup, expected, size), o) > 0
    stale = copy.deepcopy(objects)
    next(iter(stale.values()))["plan"] = "free"
    assert _failed_frac(w.check_crm(stale, expected, size), o) > 0
    assert _failed_frac(w.check_crm(objects, expected, size - 1), o) > 0


def test_near_dup_checker_catches_missing_and_false_pair(outcomes):
    o = outcomes["near_dup_ingest"]
    pairs, planted, texts = o.raw["pairs"], o.raw["planted"], o.raw["texts"]
    assert planted
    failed, recall, precision = w.check_near_dup(pairs, planted, texts)
    assert (failed, recall, precision) == (0, 1.0, 1.0)
    missing = set(pairs) - {next(iter(planted))}
    assert _failed_frac(w.check_near_dup(missing, planted, texts)[0], o) > 0
    ids = sorted(texts)
    a, b = next((a, b) for a, b in zip(ids, ids[1:])
                if (a, b) not in pairs and (a, b) not in planted)
    false = set(pairs) | {(a, b)}
    assert _failed_frac(w.check_near_dup(false, planted, texts)[0], o) > 0


def test_self_time_subtracts_covered_child_time():
    t = Tracer()
    t.spans = [
        ["root", 0.0, 10.0, None, 0],
        ["a", 1.0, 3.0, 0, 0],
        ["b", 2.0, 4.0, 0, 0],  # overlaps a: covered time is [1, 4]
        ["c", 6.0, 7.0, 0, 0],
        ["grandchild", 6.2, 6.5, 3, 0],
    ]
    assert t.self_ms(0) == pytest.approx(6000.0)
    assert t.self_ms(3) == pytest.approx(700.0)


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(w.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(w.ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_sync",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
