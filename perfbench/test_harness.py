"""Self-tests of the benchmark harness (no Spark needed):

    python3 -m pytest perfbench/test_harness.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from common import Ctx  # noqa: E402
from spans import Tracer  # noqa: E402
from stats import NAME_RE, UNIT_RE, Metrics, percentile  # noqa: E402

SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("kind", sorted(gen.GENERATORS))
def test_generator_is_a_function_of_the_seed(tmp_path, kind):
    digests = {}
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        out = tmp_path / name
        out.mkdir()
        gen.GENERATORS[kind](str(out), seed)
        digests[name] = _tree_digest(str(out))
    assert digests["a"] == digests["b"]
    assert digests["a"] != digests["c"]


def test_percentile_refuses_a_thin_tail():
    assert percentile(list(range(1, 101)), 90) == 90
    with pytest.raises(ValueError, match="needs at least 10"):
        percentile(list(range(1, 100)), 90)
    with pytest.raises(ValueError):
        percentile([1.0] * 5, 50)


def test_metrics_refuse_bad_names_units_and_values():
    m = Metrics()
    m.add("ok.name_1-x", 1.0, "ms")
    for name, unit, value in (
        ("bad name", "ms", 1.0),
        ("_lead", "ms", 1.0),
        ("x" * 65, "ms", 1.0),
        ("unitless", "", 1.0),
        ("unit.space", "m s", 1.0),
        ("nan", "ms", float("nan")),
        ("ok.name_1-x", "ms", 2.0),
    ):
        with pytest.raises(ValueError):
            m.add(name, value, unit)


def test_spec_names_and_units_are_well_formed():
    for group in ("workloads", "end_to_end", "per_layer"):
        for entry in SPEC[group]:
            assert NAME_RE.fullmatch(entry["name"]), entry
            if group != "workloads":
                assert UNIT_RE.fullmatch(entry["unit"]), entry


def test_end_to_end_metrics_match_the_spec():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.E2E_UNITS


@pytest.mark.parametrize("workload", ["build", "search", "curate"])
def test_every_per_layer_metric_is_reported_with_its_unit(workload):
    got = {}

    def add(name, value, unit):
        assert name not in got
        got[name] = unit

    ctx = Ctx(work=HERE, seed=0, tracer=Tracer(False))
    run._layer_metrics(ctx, run._workload(workload), [], add)
    assert got == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
