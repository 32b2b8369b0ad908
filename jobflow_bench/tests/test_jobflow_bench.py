"""Self-tests of the job-flow benchmark (no Spark session needed).

    python3 -m pytest jobflow_bench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time
from pathlib import Path

import pyarrow as pa
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from jobflow_bench.check import check_vectors, expectations  # noqa: E402
from jobflow_bench.gen import Spec, generate  # noqa: E402
from jobflow_bench.layers import PER_LAYER  # noqa: E402
from jobflow_bench.run import E2E_UNITS, WORKLOADS  # noqa: E402
from jobflow_bench.trace import Tracer  # noqa: E402
from semantic_similarity_system_using_aws_mapreduce_spark.schemas import VECTOR_COLUMNS  # noqa: E402

SMALL = Spec(lines=600, gold_pairs=120)
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _bytes(tmp_path: Path, seed: int, sub: str) -> bytes:
    d = tmp_path / sub
    d.mkdir()
    info = generate(SMALL, seed, str(d))
    return Path(info["corpus"]).read_bytes() + Path(info["gold"]).read_bytes()


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _bytes(tmp_path, 7, "a")
    assert a == _bytes(tmp_path, 7, "b")
    assert a != _bytes(tmp_path, 8, "c")


def test_inputs_carry_the_malformed_shares(tmp_path):
    info = generate(Spec(lines=3000, gold_pairs=200), 3, str(tmp_path))
    rows = [line.split("\t") for line in Path(info["corpus"]).read_text().splitlines()]
    assert any(len(r) < 4 for r in rows)
    full = [r for r in rows if len(r) >= 4]
    assert any(not r[2].isdigit() for r in full)
    heads = [
        (int(t.rsplit("/", 1)[1]), len(r[1].split()))
        for r in full
        for t in r[1].split()
        if t.count("/") == 3
    ]
    assert any(h == 0 for h, _ in heads)  # root heads
    assert any(h > n for h, n in heads)  # out-of-range heads
    assert any(t.count("/") != 3 for r in full for t in r[1].split())
    gold = Path(info["gold"]).read_text().splitlines()
    assert any("  " in g for g in gold)
    assert any(len(g.split()) != 3 for g in gold)


def _engine_table(sample: dict) -> pa.Table:
    keys = list(sample)
    cols = {
        "word1": [k[0] for k in keys],
        "word2": [k[1] for k in keys],
        "is_related": [k[2] for k in keys],
    }
    for i, c in enumerate(VECTOR_COLUMNS):
        cols[c] = [sample[k][i] for k in keys]
    return pa.table(cols)


def test_oracle_check_rejects_a_perturbed_vector(tmp_path):
    info = generate(SMALL, 5, str(tmp_path))
    expected = expectations(info["corpus"], info["gold"], sample=8)
    expected["n_vectors"] = len(expected["sample"])
    assert expected["sample"]
    good = _engine_table(expected["sample"])
    assert check_vectors(good, expected) == []

    key = next(iter(expected["sample"]))
    perturbed = {k: list(v) for k, v in expected["sample"].items()}
    finite = next(i for i, v in enumerate(perturbed[key]) if abs(v) not in (0.0, float("inf")))
    perturbed[key][finite] *= 1 + 1e-4
    errors = check_vectors(_engine_table(perturbed), expected)
    assert len(errors) == 1 and VECTOR_COLUMNS[finite] in errors[0]


def test_benchmark_json_matches_the_driver_and_the_limits():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    e2e, per_layer = bench["end_to_end"], bench["per_layer"]
    assert {m["name"]: m["unit"] for m in e2e} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in per_layer} == PER_LAYER
    assert 1 <= len(e2e) <= 16 and 1 <= len(per_layer) <= 128
    names = [m["name"] for m in e2e + per_layer] + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for m in e2e + per_layer:
        assert NAME.fullmatch(m["name"]) and UNIT.fullmatch(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in e2e)


def test_span_self_times_sum_to_the_root_duration():
    tr = Tracer()
    tr.flow = "f"
    with tr.span("root") as root:
        time.sleep(0.002)
        with tr.span("a"):
            time.sleep(0.002)
            with tr.span("a.1"):
                time.sleep(0.003)
        with tr.span("b"):
            time.sleep(0.001)
        time.sleep(0.001)
    assert sum(tr.self_time(s) for s in tr.spans) == pytest.approx(root.duration, abs=1e-9)
    assert all(tr.self_time(s) > 0 for s in tr.spans)
    assert [s.parent for s in tr.spans] == [None, 0, 1, 0]


def test_stop_child_stops_everything_the_invocation_started():
    from jobflow_bench import run
    from jobflow_bench.probes import process_tree

    run.become_subreaper()
    # the invocation's own child sits in a session of its own, as
    # PySpark's worker daemon sits in a process group of its own
    code = "import subprocess, time; subprocess.Popen(['sleep', '60'], start_new_session=True); time.sleep(60)"
    run._child = subprocess.Popen([sys.executable, "-c", code])
    deadline = time.monotonic() + 10
    while len(process_tree()) < 3 and time.monotonic() < deadline:
        time.sleep(0.05)
    assert len(process_tree()) == 3
    run.stop_child()
    assert process_tree() == [os.getpid()] and run._child is None
