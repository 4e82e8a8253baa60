import json
import os
import subprocess
import sys

import pytest

from hatchery_spark.cli import build_selectors, load_routes, parse_args
from hatchery_spark.config import DEFAULT_ROUTES, select_routes
from hatchery_spark.datagen import transcripts_df

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_selector_building():
    args = parse_args(["--input", "x", "--out", "y", "-i", "sec-alerts"])
    sel = build_selectors(args)
    chosen = select_routes(DEFAULT_ROUTES, sel)
    assert [r.route_id for r in chosen] == ["sec-alerts"]

    args = parse_args(["--input", "x", "--out", "y", "-t", "security"])
    chosen = select_routes(DEFAULT_ROUTES, build_selectors(args))
    assert {r.route_id for r in chosen} == {"sec-alerts", "auth-audit"}

    args = parse_args(["--input", "x", "--out", "y", "-a"])
    assert len(select_routes(DEFAULT_ROUTES, build_selectors(args))) == len(DEFAULT_ROUTES)


def test_routes_json_roundtrip(tmp_path):
    p = tmp_path / "routes.json"
    p.write_text(
        json.dumps(
            [
                {"route_id": "r1", "tags": ["x"], "predicate": "severity = 'error'"},
                {"route_id": "r2", "sink_format": "json"},
            ]
        )
    )
    routes = load_routes(str(p))
    assert routes[0].route_id == "r1" and routes[0].tags == ("x",)
    assert routes[1].predicate == "true" and routes[1].sink_format == "json"


@pytest.mark.slow
def test_cli_end_to_end_subprocess(spark, tmp_path):
    """Full spark-submit-style invocation in a fresh interpreter."""
    inp = str(tmp_path / "in")
    transcripts_df(spark, 2000, seed=5).write.mode("overwrite").parquet(inp)
    out = subprocess.run(
        [
            sys.executable, "-m", "hatchery_spark",
            "--input", inp, "--out", str(tmp_path / "out"),
            "--run-ts", "2025-06-04 00:00:00", "--cpus", "4", "-t", "security",
        ],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res["counts"]) == {"sec-alerts", "auth-audit"}
    assert all(n > 0 for n in res["counts"].values())


@pytest.mark.slow
def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    """REAL `spark-submit --py-files <zip>` run: build the dist zip with
    scripts/package.sh, submit dist/main.py against a fresh local master, and
    check route counts — the north rule's packaging requirement, not a
    python -m approximation. The zip is the ONLY source of package code on the
    submitted job's path (cwd is a temp dir)."""
    import shutil

    if shutil.which("spark-submit") is None:
        pytest.skip("spark-submit not on PATH")
    build = subprocess.run(
        ["bash", "scripts/package.sh"], cwd=REPO,
        capture_output=True, text=True, timeout=120,
    )
    assert build.returncode == 0, build.stderr
    inp = str(tmp_path / "in")
    transcripts_df(spark, 2000, seed=5).write.mode("overwrite").parquet(inp)
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    out = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", os.path.join(REPO, "dist", "hatchery_spark.zip"),
            os.path.join(REPO, "dist", "main.py"),
            "--input", inp, "--out", str(tmp_path / "out"),
            "--run-ts", "2025-06-04 00:00:00", "-t", "security",
        ],
        capture_output=True, text=True, timeout=420, cwd=str(tmp_path), env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res["counts"]) == {"sec-alerts", "auth-audit"}
    assert all(n > 0 for n in res["counts"].values())
    # the submitted --master must win over get_spark's local default —
    # before the PYSPARK_SUBMIT_ARGS detection this silently became local[32]
    assert res["master"] == "local[4]", res["master"]


def test_cli_requires_input_out_without_compact():
    import hatchery_spark.cli as cli

    assert cli.main([]) == 2


def test_cli_compact_mode(spark, tmp_path):
    from pyspark.sql import functions as F

    inp = str(tmp_path / "frag")
    transcripts_df(spark, 5000, seed=9).withColumn(
        "dt", F.to_date("ts")
    ).repartition(25).write.mode("overwrite").partitionBy("dt").parquet(inp)
    out = subprocess.run(
        [
            sys.executable, "-m", "hatchery_spark",
            "--compact", inp, str(tmp_path / "compacted"),
            "--compact-target-mb", "64", "--cpus", "4",
        ],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["files"] >= 1
    n = spark.read.parquet(str(tmp_path / "compacted")).count()
    assert n == 5000


def test_cli_compact_missing_src_clean_error(tmp_path):
    """A nonexistent SRC is an argument problem: exit code 2 and a one-line
    message, not a Py4J traceback."""
    out = subprocess.run(
        [
            sys.executable, "-m", "hatchery_spark",
            "--compact", str(tmp_path / "does_not_exist"), str(tmp_path / "dst"),
            "--cpus", "2",
        ],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )
    assert out.returncode == 2
    assert "--compact failed" in out.stderr
    assert "Traceback" not in out.stderr


@pytest.mark.slow
def test_cli_flagship_sf0001_sink_parity(spark, tmp_path):
    """North-rule e2e smoke (verdict r4 #7): drive the REAL pipeline
    (parse→enrich→route→sink) through the CLI in a fresh interpreter over
    the sf0.001 events-derived transcripts, and assert three-way sink
    parity — CLI-reported counts == in-process library counts == rows
    actually readable back from every sink directory."""
    from hatchery_spark.pipeline import prepare
    from hatchery_spark.router import sink_counts
    from hatchery_spark.datagen import service_catalog_df
    from hatchery_spark.plans.driver_queries import transcripts

    sf = "/root/testdata/sf0.001"
    inp = str(tmp_path / "transcripts")
    transcripts(spark, sf).write.mode("overwrite").parquet(inp)

    # the CLI reports every selected route (0 for empty sinks); the groupBy
    # naturally drops empty groups — seed them
    expected = {r.route_id: 0 for r in DEFAULT_ROUTES}
    expected.update(
        {
            r["route_id"]: r["row_count"]
            for r in sink_counts(
                prepare(spark.read.parquet(inp), service_catalog_df(spark)),
                DEFAULT_ROUTES,
            ).collect()
        }
    )

    out_dir = str(tmp_path / "out")
    out = subprocess.run(
        [
            sys.executable, "-m", "hatchery_spark",
            "--input", inp, "--out", out_dir,
            "--run-ts", "2025-06-04 00:00:00", "--cpus", "4", "-a",
        ],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["counts"] == expected

    for route_id, n in expected.items():
        if n == 0:
            continue
        back = spark.read.parquet(f"{out_dir}/{route_id}").count()
        assert back == n, (route_id, back, n)
