"""The benchmark's own tests.

    python3 -m pytest perfbench -q -p no:cacheprovider

The last group starts Spark: one tiny-size run per workload, from a
working directory outside the repository.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path[:0] = [str(HERE), str(REPO)]

import gen  # noqa: E402
import jobs  # noqa: E402
import run as bench  # noqa: E402

WORKLOADS = tuple(gen.GENERATORS)


def _generate(workload: str, seed: int, out: Path) -> Path:
    fn, size_cls = gen.GENERATORS[workload]
    out.mkdir(parents=True)
    fn(str(out), seed, size_cls(**bench.TINY[workload]))
    return out


def _same_tree(a: Path, b: Path) -> bool:
    files_a = sorted(p.relative_to(a) for p in a.rglob("*") if p.is_file())
    files_b = sorted(p.relative_to(b) for p in b.rglob("*") if p.is_file())
    if files_a != files_b:
        return False
    return all(filecmp.cmp(a / f, b / f, shallow=False) for f in files_a)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_bytes_other_seed_differs(workload, tmp_path):
    a = _generate(workload, 7, tmp_path / "a")
    b = _generate(workload, 7, tmp_path / "b")
    c = _generate(workload, 8, tmp_path / "c")
    assert _same_tree(a, b)
    assert not _same_tree(a, c)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    return _generate("mr_corpus", 5, tmp_path_factory.mktemp("mr") / "in")


def test_frame_check_catches_dropped_row_and_changed_count(corpus):
    from map_reduce_go_spark.registry import oracle_sqls

    con = jobs.duck_connection(str(corpus))
    expected = con.sql(oracle_sqls()["wordcount"]).df()
    check = jobs.frame_check(expected)
    assert check(expected.copy()) is None
    assert check(expected.sample(frac=1.0, random_state=1)) is None  # row order is free
    assert check(expected.iloc[1:]) is not None
    changed = expected.copy()
    changed.loc[changed.index[0], "cnt"] += 1
    assert check(changed) is not None


def test_lines_check_catches_dropped_line_and_changed_count(corpus, tmp_path):
    from map_reduce_go_spark.operators import mapreduce as mr

    files = sorted(str(p) for p in (corpus / "corpus").glob("*.txt"))
    expected = jobs.sequential_mapreduce(files, files, mr.wc_map, mr.wc_reduce)
    check = jobs.lines_check(expected)

    def write(lines):
        out = tmp_path / f"out{len(list(tmp_path.iterdir()))}"
        out.mkdir()
        half = len(lines) // 2
        (out / "part-00000").write_text("".join(f"{x}\n" for x in lines[half:]))
        (out / "part-00001").write_text("".join(f"{x}\n" for x in lines[:half]))
        return str(out)

    assert check(write(expected)) is None
    assert check(write(expected[1:])) is not None
    key, count = expected[0].split(" ")
    assert check(write([f"{key} {int(count) + 1}"] + expected[1:])) is not None


def test_sequential_oracle_by_hand(tmp_path):
    from map_reduce_go_spark.operators import mapreduce as mr

    (tmp_path / "a.txt").write_text("the cat, the hat.\nA cat 2 sat")
    (tmp_path / "b.txt").write_text("sat on the mat")
    files = [str(tmp_path / "a.txt"), str(tmp_path / "b.txt")]
    wc = jobs.sequential_mapreduce(files, ["a", "b"], mr.wc_map, mr.wc_reduce)
    assert wc == sorted(["A 1", "cat 2", "hat 1", "mat 1", "on 1", "sat 2", "the 3"])
    idx = jobs.sequential_mapreduce(files, ["a", "b"], mr.indexer_map, mr.indexer_reduce)
    assert "the 2 a,b" in idx and "mat 1 b" in idx


def test_covered_and_self_times():
    from spans import Span, covered, self_times

    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(1, 3), (2, 5)], 2.5, 4) == 1.5
    assert covered([], 0, 1) == 0
    root = Span(0, "job", "bench", None, "r", start=0.0, end=10.0)
    plan = Span(1, "q", "plan", 0, "r", start=1.0, end=4.0)
    act = Span(2, "q", "exec", 0, "r", start=4.0, end=9.0)
    assert self_times([root, plan, act]) == {"bench": 2.0, "plan": 3.0, "exec": 5.0}


def test_metric_names_match_benchmark_json():
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "star_sql", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_is_correct(workload, trace, tmp_path):
    # Run from outside the repository: the benchmark must find the program
    # itself and put it on the Python workers' path.
    p = subprocess.run(
        [
            sys.executable,
            str(HERE / "run.py"),
            "--workload", workload,
            "--seed", "3",
            "--seconds", "1",
            "--trace", str(trace),
            "--size", "tiny",
        ],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=900,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0, p.stderr[-3000:]
    names = bench.PER_LAYER if trace else bench.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert list(tmp_path.iterdir()) == []  # nothing written to the cwd
