"""Tiny-size checks of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload runs end to end at a tiny ``--scale`` and must pass its
reference; the schedule digest and the crawl check must catch a corrupted
result; and every printed metric must be one ``BENCHMARK.json`` declares,
with its unit.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
TINY = "0.02"


def _run(workload: str, trace: int) -> tuple[int, dict]:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", TINY],
        capture_output=True, text=True, timeout=600, cwd=str(ROOT),
    )
    lines = proc.stdout.strip().splitlines()
    assert lines, proc.stderr[-3000:]
    return proc.returncode, json.loads(lines[-1])


def _declared(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def test_spec_names_are_well_formed():
    import run

    names = [w["name"] for w in SPEC["workloads"]] + list(_declared("end_to_end")) + list(_declared("per_layer"))
    assert len(names) == len(set(names))
    assert all(NAME_RE.match(n) for n in names)
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert _declared("end_to_end") == run.END_TO_END
    assert _declared("per_layer") == run.PER_LAYER


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_passes_reference(workload):
    rc, res = _run(workload, 0)
    assert rc == 0 and res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == _declared("end_to_end")
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_prints_every_layer_metric():
    rc, res = _run("schedule_1host", 1)
    assert rc == 0 and res["correct"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == _declared("per_layer")
    assert all(NAME_RE.match(k) for k in res["metrics"])


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    s = run.start_spark(2, tmp_path_factory.mktemp("spark"))
    yield s
    s.stop()


def test_corrupted_popped_set_is_caught(spark):
    from pyspark.sql import functions as F

    import schedule as S

    st = S.setup(spark, 11, float(TINY))
    ref = S.fingerprint(S.reference_popped(st))
    popped = S.pass_plan(st).persist()
    assert S.fingerprint(popped) == ref
    one = popped.orderBy("url_hash").limit(1)
    assert S.fingerprint(popped.exceptAll(one)) != ref  # a row missing
    assert S.fingerprint(popped.withColumn("rk", F.when(F.col("rk") == 1, 2).otherwise(F.col("rk")))) != ref
    assert S.fingerprint(popped.unionByName(one)) != ref  # a row twice
    assert S.check(st)["bloom_fn"] == 0


def test_corrupted_crawl_is_caught(spark, tmp_path):
    import crawl as C

    c = C.setup(spark, 5, float(TINY), tmp_path)
    wall, eng, stats, lake = C.run_crawl(c)
    assert C.check(c, eng, stats, lake) == 0
    c.ref_seen = set(c.ref_seen)
    c.ref_seen.pop()
    assert C.check(c, eng, stats, lake) > 0
