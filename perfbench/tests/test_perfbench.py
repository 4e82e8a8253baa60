"""Self-tests of the benchmark: tiny runs of every workload, metric names
against BENCHMARK.json, a planted wrong count, and the seeded inputs.

    python3 -m pytest perfbench/tests -q

The Spark runs take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402

WORKLOADS = ("bulk_agg", "tick_write", "codec_catalog")
NAME = re.compile(r"[A-Za-z0-9_.-]+")

# Runs perfbench/run.py's main on tiny inputs; {patch} may change the
# workloads first.
DRIVER = """
import sys
sys.path.insert(0, {root!r})
from perfbench import workloads
workloads.SIZE.update(bulk_block_rows=2_000, bulk_files=2, tick_rows=7_200, tick_window_h=12,
                      stream_files=2, stream_rows_per_file=500, docs=40, small_every=10)
{patch}
from perfbench.run import main
sys.exit(main(sys.argv[1:]))
"""

# A reference that is off by one for every full bulk_agg pass.
PLANT_WRONG_COUNT = """
build = workloads.BulkAgg.build
def planted(self):
    build(self)
    self.want["sec-alerts"] += 1
workloads.BulkAgg.build = planted
"""


def run(workload: str, trace: str, patch: str = "") -> subprocess.CompletedProcess:
    cmd = [sys.executable, "-c", DRIVER.format(root=ROOT, patch=patch), "--workload",
           workload, "--seed", "3", "--seconds", "1", "--trace", trace]
    return subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)


def result_of(done: subprocess.CompletedProcess) -> dict:
    assert done.returncode == 0, done.stderr[-3000:]
    return json.loads(done.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def smoke() -> dict:
    return {w: result_of(run(w, "0")) for w in WORKLOADS}


def test_smoke_runs_pass_their_output_checks(smoke):
    for workload, result in smoke.items():
        assert result["correct"] is True, workload
        assert result["failed"] == 0, workload
        assert result["attempted"] >= 1, workload


def test_untraced_names_are_the_end_to_end_metrics(smoke, benchmark_spec):
    want = {m["name"]: m["unit"] for m in benchmark_spec["end_to_end"]}
    for workload, result in smoke.items():
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want, workload
        assert all(NAME.fullmatch(k) for k in got)
        assert all(v["value"] > 0 for v in result["metrics"].values()), workload


@pytest.mark.parametrize("workload,measured", [
    ("bulk_agg", ("scan.s", "parse.task_cpu_s", "route_count.shuffle_bytes", "op.fixed_frac")),
    ("tick_write", ("route_write.s", "lineage.task_cpu_s", "tick.jobs", "op.fixed_frac",
                    "stream.batch_s", "stream.jobs_per_batch", "stream.write_s")),
    ("codec_catalog", ("codec.rel_xz_decode.s", "codec.task_cpu_s", "spark.jobs", "op.s")),
])
def test_traced_names_are_the_per_layer_metrics(workload, measured, benchmark_spec):
    result = result_of(run(workload, "1"))
    assert result["correct"] is True
    want = {m["name"]: m["unit"] for m in benchmark_spec["per_layer"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(NAME.fullmatch(k) for k in got)
    for name in measured:
        assert result["metrics"][name]["value"] > 0, name
    if workload == "tick_write":
        assert result["metrics"]["manifest.commits"]["value"] == 4


def test_planted_wrong_count_is_a_failure_not_a_pass():
    result = result_of(run("bulk_agg", "0", patch=PLANT_WRONG_COUNT))
    assert result["correct"] is False
    assert result["failed"] == result["attempted"]


def test_without_the_program_it_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    done = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_agg", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=60,
    )
    assert done.returncode != 0
    assert done.stdout.strip() == ""


def test_inputs_are_seeded_and_keep_their_properties():
    a, b = inputs.make_transcripts(50_000, 5), inputs.make_transcripts(50_000, 5)
    assert inputs.fingerprint(a.table) == inputs.fingerprint(b.table)
    assert inputs.fingerprint(inputs.make_transcripts(50_000, 6).table) != inputs.fingerprint(
        a.table)
    t = a.table
    conv = t["conv_id"].to_numpy(zero_copy_only=False)
    whales = {f"conv-{i:08d}" for i in range(inputs.PROPERTIES["whale_convs"])}
    assert abs(np.isin(conv, list(whales)).mean() - 0.15) < 0.01
    prose = pc.starts_with(t["text"], "free form").to_numpy(zero_copy_only=False)
    assert abs(prose.mean() - 0.03) < 0.005
    assert abs(t["tool"].null_count / t.num_rows - 0.02) < 0.005
    tools = set(pc.unique(t["tool"]).drop_null().to_pylist())
    assert len(tools) == 12
    assert len(tools - {row[0] for row in inputs.CATALOG_ROWS}) == 2
    ts = t["ts"].cast("int64").to_numpy()
    assert (np.diff(ts) >= 0).all()


def test_xxhash64_port_matches_spark():
    # Spark 4.1: SELECT xxhash64('conv-00000000', 0), xxhash64('conv-00000042', 7)
    got = inputs.spark_xxhash64_str_int(
        pa.array(["conv-00000000", "conv-00000042"]), np.array([0, 7], dtype=np.int32)
    )
    assert got.tolist() == [7787815193464210308, 7590109877766664317]
