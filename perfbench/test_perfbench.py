"""Smoke tests of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
import layers  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402


def _bench(*args, cwd=ROOT):
    """Run the benchmark in a session of its own; ``leftovers`` lists what it
    left running in that session once it exited."""
    proc = subprocess.Popen([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                            cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    out, err = proc.communicate(timeout=600)
    return types.SimpleNamespace(returncode=proc.returncode, stdout=out, stderr=err,
                                 leftovers=_leftovers(proc.pid))


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.leftovers == [], proc.leftovers
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _leftovers(sid: int) -> list[str]:
    """Processes, zombies included, left in the session a benchmark run was
    started in; the JVM and the Python workers it starts join it."""
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat[stat.rindex(")") + 2:].split()[3]) == sid:
            out.append(stat[:80])
    return out


def test_benchmark_json_names_what_the_code_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["paths"] == ["perfbench"]
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(layers.PER_LAYER)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_workload_smoke(workload):
    res = _result(_bench("--workload", workload, "--seed", "3", "--seconds", "0",
                         "--trace", "0", "--docs", "64"))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert list(res["metrics"]) == [name for name, _, _ in run.END_TO_END]


def test_traced_smoke():
    res = _result(_bench("--workload", "web_resume_half", "--seed", "5", "--seconds", "0",
                         "--trace", "1", "--docs", "64"))
    assert res["correct"], res
    assert sorted(res["metrics"]) == sorted(name for name, _, _ in layers.PER_LAYER)
    assert all(m["value"] is not None for m in res["metrics"].values())
    assert res["metrics"]["checkpoints.buckets_run"]["value"] == run.N_BUCKETS // 2


def test_output_check_rejects_a_corrupted_output(tmp_path):
    rows = corpus.pages(64, seed=11)
    pages = str(tmp_path / "pages")
    corpus.write(pages, rows)
    out = str(tmp_path / "out")
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "driver.py"), "--input", pages, "--output", out,
         "--mode", "web", "--buckets", str(run.N_BUCKETS), "--master", "local[2]"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYTHONPATH": ROOT},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    exp = reference.expected([r.url for r in rows], [reference.decide(r.text) for r in rows])
    buckets = set(range(run.N_BUCKETS))
    assert reference.check(out, exp, buckets, line) == []

    assert reference.check(out, exp, buckets, {**line, "docs_kept": line["docs_kept"] + 1})
    assert reference.check(out, exp, set(range(run.N_BUCKETS // 2)), line)

    # flip the first row's decision in one of the driver's data files
    data = os.path.join(out, "data")
    part = next(os.path.join(d, f) for d, _, fs in sorted(os.walk(data))
                for f in sorted(fs) if f.endswith(".parquet"))
    table = pq.read_table(part)
    keep = table.column("keep").to_pylist()
    keep[0] = not keep[0]
    table = table.set_column(table.schema.get_field_index("keep"), "keep",
                             pa.array(keep))
    pq.write_table(table, part)
    problems = reference.check(out, exp, buckets, line)
    assert problems and "digest" in problems[0]


def test_bare_directory_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench("--workload", "web_fresh", "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
