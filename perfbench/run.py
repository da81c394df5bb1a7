"""Benchmark entry point.

    python3 perfbench/run.py --workload web_build --seed 1 --seconds 6 --trace 0

``--workload`` is one of ``workloads.json``'s names, or ``all`` to run
every workload in turn from this one process. ``--trace 0`` prints
the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` runs the
traced variant, prints the per-layer metrics and writes a span sidecar
to ``.perfbench_out/``. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; lines before it
repeat every metric as ``name value unit``. Exit status is 1 when an
output check failed and 2 when the program is not next to this
directory.

Everything the run writes (corpus, tables, Spark local dirs, JVM and
Python temp files) lives in a per-run directory under
``.perfbench_tmp/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# workload-specific names of the generic metrics
ALIASES = {
    "web_build": {"docs_per_s": "build_pages_per_s", "op_s_p50": "build_s_p50"},
    "crawl_increments": {"docs_per_s": "crawl_pages_per_s", "op_s_p50": "update_s_p50"},
    "near_dup": {"docs_per_s": "dedup_docs_per_s", "op_s_p50": "dedup_s_p50"},
}


def load_spec() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        shapes = json.load(f)
    return spec, shapes


def metric_units(spec: dict, trace: bool) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def end_to_end(ctx, rss_bytes: float) -> dict[str, float]:
    from perfbench.workloads import throughput

    return {
        "setup_s": statistics.median(ctx.setup_s),
        "docs_per_s": throughput(ctx),
        "op_s_p50": statistics.median(ctx.op_s),
        "rss_mb_p95": rss_bytes / 2**20,
    }


def per_layer(ctx, units: dict[str, str]) -> dict[str, float]:
    out = {}
    for name in units:
        value = ctx.tracer.median(name)
        if value is None:
            ctx.check(f"per-layer metric {name}", ["not measured"])
            value = 0.0
        out[name] = value
    return out


def run_one(name: str, args, spec: dict, shapes: dict, tmp: str) -> dict:
    from perfbench import telemetry
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    ctx = Ctx(
        root=ROOT,
        tmp=os.path.join(tmp, name),
        workload=name,
        seed=args.seed,
        seconds=args.seconds,
        shape=shapes[name],
        cores=len(os.sched_getaffinity(0)),
        tracer=Tracer() if args.trace else None,
    )
    host = telemetry.HostMeter()
    with telemetry.RssSampler() as rss:
        try:
            WORKLOADS[name](ctx).stop()
        except Exception:
            traceback.print_exc()
            ctx.attempted += 1
            ctx.problems.append(f"{name} raised {sys.exc_info()[0].__name__}")
    units = metric_units(spec, bool(args.trace))
    if args.trace:
        metrics = per_layer(ctx, units)
    elif ctx.op_s and ctx.lookup_ms:
        metrics = end_to_end(ctx, rss.high_water_bytes())
    else:  # the workload raised before measuring
        metrics = {}
    if set(metrics) - set(units):
        raise RuntimeError(f"metrics not in BENCHMARK.json: {sorted(set(metrics) - set(units))}")
    telemetry_row = {**host.stop(), "rss_max_mb": max(rss.samples, default=0) / 2**20}
    if args.trace:
        path = os.path.join(ROOT, ".perfbench_out", f"trace-{name}-seed{args.seed}.json")
        ctx.tracer.write_sidecar(
            path, {"workload": name, "seed": args.seed, "metrics": metrics, "host": telemetry_row}
        )
        print(f"# {name}: trace sidecar {os.path.relpath(path, ROOT)}")
    for problem in ctx.problems:
        print(f"# {name}: FAILED {problem}", file=sys.stderr)
    for key, value in metrics.items():
        print(f"{name} {key} {value:.6g} {units[key]}")
        alias = ALIASES[name].get(key)
        if alias:
            print(f"{name} {alias} {value:.6g} {units[key]}")
    failed = len(ctx.problems)
    if ctx.lookup_ms:  # reported, not gated: see perfbench/README.md
        print(f"{name} lookup_ms_p50 {statistics.median(ctx.lookup_ms):.6g} ms")
    print(f"{name} error_rate {failed / max(ctx.attempted, 1):.6g} ratio ({failed}/{ctx.attempted})")
    print(
        f"# {name}: loadavg_1m {telemetry_row['loadavg_1m_start']:.2f}->"
        f"{telemetry_row['loadavg_1m_end']:.2f}, steal {telemetry_row['steal_pct']:.2f}%, "
        f"wall {telemetry_row['wall_s']:.1f} s, rss max {telemetry_row['rss_max_mb']:.0f} MB, "
        f"ops {len(ctx.op_s)}, lookups {len(ctx.lookup_ms)}"
    )
    if len(ctx.lookup_ms) > 1 and len(ctx.op_s) > 1:
        deciles = statistics.quantiles(ctx.lookup_ms, n=10, method="inclusive")
        print(f"# {name}: op_s {' '.join(f'{v:.3f}' for v in ctx.op_s)}")
        print(f"# {name}: lookup_ms deciles {' '.join(f'{v:.0f}' for v in deciles)}")
    return {
        "correct": failed == 0,
        "attempted": max(ctx.attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    spec, shapes = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*shapes, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bootleg_spark", "__init__.py")):
        print(f"perfbench: no bootleg_spark package in {ROOT}", file=sys.stderr)
        return 2

    # Spark's JVM and its Python workers inherit this environment: the
    # workers import bootleg_spark from the checkout whatever the cwd
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp

    names = list(shapes) if args.workload == "all" else [args.workload]
    results = []
    try:
        for name in names:
            results.append(run_one(name, args, spec, shapes, tmp))
    finally:
        from perfbench.workloads import shutdown_jvm

        shutdown_jvm()
        shutil.rmtree(tmp, ignore_errors=True)

    if len(results) == 1:
        final = results[0]
    else:
        final = {
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {f"{n}.{k}": v for n, r in zip(names, results) for k, v in r["metrics"].items()},
        }
    print(json.dumps(final))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
