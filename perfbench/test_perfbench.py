"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q`` from the
repository root. The smoke runs start Spark, about a minute each."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

import gen
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _hash(tmp_path, key, build) -> str:
    return gen.materialize(str(tmp_path), key, build)[1]


def test_generator_is_deterministic(tmp_path):
    def star(seed):
        return lambda: gen.star_tables(gen.rng_for(seed, 0), 300)

    def shard(seed, k):
        return lambda: gen.corpus_tables(gen.rng_for(seed, 1, k), 60, 60, id_offset=60 * k)

    assert _hash(tmp_path, "a", star(5)) == _hash(tmp_path, "b", star(5))
    assert _hash(tmp_path, "c", star(5)) != _hash(tmp_path, "d", star(6))
    assert _hash(tmp_path, "e", shard(5, 1)) == _hash(tmp_path, "f", shard(5, 1))
    assert _hash(tmp_path, "g", shard(5, 1)) != _hash(tmp_path, "h", shard(5, 2))
    assert _hash(tmp_path, "i", shard(5, 1)) != _hash(tmp_path, "j", shard(6, 1))


def test_cached_set_is_reused_and_half_written_set_rebuilt(tmp_path):
    calls = []

    def build():
        calls.append(1)
        return gen.star_tables(gen.rng_for(1, 0), 100)

    first = gen.materialize(str(tmp_path), "k", build)
    assert gen.materialize(str(tmp_path), "k", build) == (first[0], first[1], True)
    os.remove(os.path.join(first[0], "HASH"))
    assert gen.materialize(str(tmp_path), "k", build)[1:] == (first[1], False)
    assert len(calls) == 2


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    assert declared == run.metric_units()
    assert all(NAME.match(n) for n in declared)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_tiny_smoke_run_is_correct(workload):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "0", "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        e2e = {m["name"] for m in json.load(f)["end_to_end"]}
    assert set(result["metrics"]) == e2e


def test_refuses_to_run_without_the_repository(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", "audience_serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
