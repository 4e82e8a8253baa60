"""Per-stage scaling breakdown: WHERE does 8→32-thread efficiency go?

Companion to scaling_bench.py (same pinned-parallelism protocol, same probe
gating). The job is a linear pipeline — scan → parse → broadcast enrich →
per-route counts (one global aggregate) — so each stage is measured as a PREFIX of the
plan with a cheap forcing aggregate over exactly the columns that stage
produces (so column pruning cannot skip the stage's work), and a stage's
incremental cost is prefix_i − prefix_{i−1} at each parallelism level.

Stage-level efficiency = (Δt8 / Δt32) / 4 attributes the single-box scaling
gap to specific stages: scan/decompress is memory-bandwidth-bound (shared by
all 32 threads on ONE box, scales per-node on a real cluster); parse is
string-heavy codegen; enrich adds a broadcast hash probe; route_agg adds one
count(when(predicate, 1)) per route in a single global aggregate. Writes a markdown table appended to
BENCH/BASELINE.md and prints one JSON line.

Usage: python scripts/stage_scaling.py [n_rows] [n_clean] [max_attempts]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PROBE_TOLERANCE = 1.3


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 40_000_000
    n_clean = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    max_attempts = int(sys.argv[3]) if len(sys.argv) > 3 else 30

    from pyspark.sql import functions as F

    from hatchery_spark.config import DEFAULT_ROUTES
    from hatchery_spark.datagen import service_catalog_df, transcripts_df
    from hatchery_spark.enrich import enrich_turns
    from hatchery_spark.parse import parse_turns
    from hatchery_spark.router import routed_union, sink_counts
    from hatchery_spark.session import get_spark

    base = os.environ.get("SPARK_GRAFT_SCALING_DIR", "/tmp/hs_scaling_input")
    input_path = f"{base}/transcripts_{n_rows}_seed42"

    spark = get_spark(
        "stage_scaling", cpus=32,
        extra_conf={"spark.sql.adaptive.coalescePartitions.enabled": "false"},
    )
    if not os.path.exists(f"{input_path}/_SUCCESS"):
        transcripts_df(spark, n_rows, seed=42).write.mode("overwrite").parquet(input_path)
    spark.read.parquet(input_path).count()  # page-cache warm
    catalog = service_catalog_df(spark)

    def src(k: int):
        spark.conf.set("spark.sql.shuffle.partitions", str(k))
        return spark.read.parquet(input_path).coalesce(k)

    # each prefix forces exactly its stage's new columns through a cheap sum
    def force(df, cols):
        # pmod keeps the running sum far from long overflow (ANSI mode throws)
        return df.select(
            F.sum(F.pmod(F.xxhash64(*cols), F.lit(1_000_000_000))).alias("h")
        )

    stages = {
        # scan: decode the text + key bytes, nothing else
        "scan": lambda k: force(src(k), ["conv_id", "text"]),
        # + regex parse of the audit fields
        "parse": lambda k: force(
            parse_turns(src(k)), ["conv_id", "text", "actor", "action",
                                  "resource", "severity"]
        ),
        # + broadcast catalog probe
        "enrich": lambda k: force(
            enrich_turns(parse_turns(src(k)), catalog),
            ["conv_id", "text", "actor", "action", "resource", "severity",
             "service", "category"],
        ),
        # + the row-level router: routed_union's explode of matching route ids
        # (auxiliary, forced through the same sum)
        "route": lambda k: force(
            routed_union(enrich_turns(parse_turns(src(k)), catalog), DEFAULT_ROUTES),
            ["conv_id", "text", "actor", "action", "resource", "severity",
             "service", "category", "route_id"],
        ),
        # + sink_counts: one conditional count per route (the full measured job)
        "route_agg": lambda k: sink_counts(
            enrich_turns(parse_turns(src(k)), catalog), DEFAULT_ROUTES
        ),
    }
    order = list(stages)

    def probe() -> float:
        t0 = time.perf_counter()
        spark.range(0, 400_000_000, 1, 32).select(
            F.avg(F.pmod(F.xxhash64("id"), F.lit(1000)))
        ).collect()
        return time.perf_counter() - t0

    # JIT warm every plan shape at both parallelism levels
    for name in order:
        for k in (8, 32):
            stages[name](k).collect()
    probe_hist = [probe() for _ in range(4)]

    def probe_ref() -> float:
        # rolling q10, not min-ever — one transient turbo probe would make
        # the bar unattainable for the rest of the run (see scaling_bench)
        xs = sorted(probe_hist)
        return xs[min(len(xs) - 1, len(xs) // 10)]

    clean_runs: list[dict] = []
    all_runs: list[dict] = []
    for attempt in range(max_attempts):
        p_before = probe()
        run = {}
        for name in order:
            for k in (8, 32):
                t0 = time.perf_counter()
                stages[name](k).collect()
                run[f"{name}_{k}"] = round(time.perf_counter() - t0, 3)
        p_after = probe()
        probe_hist.extend([p_before, p_after])
        bar = PROBE_TOLERANCE * probe_ref()
        clean = p_before <= bar and p_after <= bar
        run["clean"] = clean
        all_runs.append(run)
        if clean:
            clean_runs.append(run)
        print(
            f"run {attempt + 1}: clean={clean} ({len(clean_runs)}/{n_clean}) "
            + " ".join(f"{name}:{run[f'{name}_8']}/{run[f'{name}_32']}" for name in order),
            file=sys.stderr,
        )
        if len(clean_runs) >= n_clean:
            break

    use = clean_runs or all_runs
    # MIN over clean runs, per leg: on a burst-throttling host the probes can
    # miss a burst that lands mid-leg, and a median over 5 runs tips if 2 are
    # contaminated; the minimum is the noise-free estimator (a leg can run
    # SLOWER than the hardware allows, never faster)
    med = {key: min(r[key] for r in use)
           for key in use[0] if key != "clean"}

    # "route" is NOT a prefix of route_agg (it explodes one row per matching
    # route and hashes text per routed row; sink_counts builds no per-row
    # route tags at all) — report it as an
    # auxiliary absolute row, and chain increments over the true prefixes
    chain = [name for name in order if name != "route"]
    rows = []
    prev8 = prev32 = 0.0
    for name in chain:
        t8, t32 = med[f"{name}_8"], med[f"{name}_32"]
        d8, d32 = t8 - prev8, t32 - prev32
        eff_cum = round((t8 / t32) / 4, 3)
        eff_inc = round((d8 / d32) / 4, 3) if d32 > 0 else None
        rows.append({
            "stage": name, "t8": round(t8, 3), "t32": round(t32, 3),
            "dt8": round(d8, 3), "dt32": round(d32, 3),
            "eff_cumulative": eff_cum, "eff_incremental": eff_inc,
        })
        prev8, prev32 = t8, t32
    if "route" in order:
        t8, t32 = med["route_8"], med["route_32"]
        rows.append({
            "stage": "route (auxiliary: routed_union forced per routed row)",
            "t8": round(t8, 3), "t32": round(t32, 3), "dt8": None, "dt32": None,
            "eff_cumulative": round((t8 / t32) / 4, 3), "eff_incremental": None,
        })

    result = {
        "metric": "stage_scaling_breakdown_8_to_32",
        "rows": n_rows,
        "clean_runs": len(clean_runs),
        "total_runs": len(all_runs),
        "stages": rows,
    }
    print(json.dumps(result))
    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    with open(f"{REPO}/BENCH/stage_scaling.json", "w") as f:
        json.dump(result, f, indent=1)

    # BENCH/BASELINE.md is regenerated by scripts/scaling_bench.py, which
    # embeds this breakdown from BENCH/stage_scaling.json — run it after
    # this script to refresh the markdown.


if __name__ == "__main__":
    main()
