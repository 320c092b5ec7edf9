"""Tests of the benchmark itself. Run from the repository root:

    python -m pytest perfbench -q

The smoke runs start a local Spark session per workload (a few minutes in
all); ``-k 'not smoke'`` skips them.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    assert all(UNIT.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])


def test_spec_matches_the_runner():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def _generate(base: str, seed: int) -> None:
    datagen.write_tables(os.path.join(base, "tables"), 0.001, seed)
    inp = datagen.ingest_inputs(0.001, seed)
    datagen.write_corpus(os.path.join(base, "corpus.parquet"), inp.vec_base, inp.vec_labels)
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i in range(2):
        pq.write_table(inp.cdc.next_batch(), os.path.join(base, f"cdc-{i}.parquet"))
        pq.write_table(pa.table(inp.event_batch(i)), os.path.join(base, f"ev-{i}.parquet"))
        ids, vecs, labels = inp.vector_batch(i)
        pq.write_table(datagen.vector_table(ids, vecs, labels), os.path.join(base, f"v-{i}.parquet"))


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_inputs_are_a_function_of_the_seed(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        _generate(str(tmp_path / name), seed)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    files = sorted(os.listdir(tmp_path / "a"))
    assert all(not filecmp.cmp(tmp_path / "a" / f, tmp_path / "c" / f, shallow=False)
               for f in files if f.endswith(".parquet"))
    assert not _same_tree(str(tmp_path / "a" / "tables"), str(tmp_path / "c" / "tables"))


def test_tail_is_the_eleventh_largest():
    from harness import tail

    value, pct, beyond = tail(list(range(100)))
    assert (value, beyond) == (89, 10) and pct == 90.0
    assert tail([3.0, 1.0])[0] == 1.0


def test_exact_rounding_rewrites_only_single_casts():
    from catalog import exact_rounding

    assert exact_rounding("round(CAST(sum(x) AS DOUBLE), 2)") == "CAST(round(sum(x), 2) AS DOUBLE)"
    assert (exact_rounding("round(CAST(sum(x) AS DOUBLE)\n  / count(*), 6)")
            == "(round((sum(x)) * 1000000 / count(*)) / 1000000)")
    ratio = "round(CAST(sum(a) AS DOUBLE) / CAST(sum(b) AS DOUBLE), 6)"
    assert exact_rounding(ratio) == ratio


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _bench("--workload", "ingest", "--seed", "1", "--seconds", "1", "--trace", "0",
               cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _result(p: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke(workload):
    p = _bench("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0",
               "--sf", "0.001")
    detail, line = _result(p)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["failed"] == 0, detail["failures"]
    assert detail["error_rate"] == 0 and line["attempted"] >= 1
    assert list(line["metrics"]) == list(run.END_TO_END)
    for m in line["metrics"].values():
        assert set(m) == {"value", "unit"} and m["value"] > 0
    assert {"nproc", "spark", "seed"} <= set(detail)


def test_smoke_traced():
    p = _bench("--workload", "ingest", "--seed", "4", "--seconds", "1", "--trace", "1",
               "--sf", "0.001")
    detail, line = _result(p)
    assert line["correct"] is True, detail["failures"]
    assert list(line["metrics"]) == list(run.PER_LAYER)
    for name in ("search.py4j_per_request", "ledger.hll.apply_s", "merge.apply_s"):
        assert line["metrics"][name]["value"] > 0, name
    assert line["metrics"]["self_s.exec"]["value"] > 0
    with open(os.path.join(ROOT, detail["trace_file"])) as fh:
        spans = json.load(fh)
    by_id = {s["sid"]: s for s in spans}
    # every child span belongs to the same request as its parent
    assert all(by_id[s["parent"]]["req"] == s["req"] for s in spans if s["parent"] is not None)
