"""Benchmark of the usls_doc_spark pipelines.

    python3 perfbench/run.py --workload html_extract --seed 1 --seconds 10 --trace 0

Run from the root of a checkout holding ``usls_doc_spark``. One process is
one closed-loop client on local[nproc], pinned to nproc cores: it sets up
its seeded inputs five times, reporting the median, makes one warm-up
run, then runs the workload back to back until ``--seconds`` have passed
and checks every output. With ``--trace 0`` it reports the end-to-end
metrics of BENCHMARK.json; with ``--trace 1`` it makes one untraced run and
then the traced run, and reports the per-layer metrics. A per-layer metric
of a layer the workload does not exercise reads 0. The last stdout line is
the JSON result; the line before it carries the input sizes, every run's
time and load average, and failed_frac. Spans of a traced run are written
to .bench_work/trace-<workload>-<seed>.json. All scratch files stay under
.bench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUPS = 5  # set-ups per process; setup_s is their median


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _declared() -> tuple[dict[str, str], dict[str, str]]:
    """(end_to_end, per_layer) metric name -> unit, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def main() -> int:
    args = _parse()
    if not (ROOT / "usls_doc_spark" / "__init__.py").is_file():
        print(f"usls_doc_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import host
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    end_to_end, per_layer = _declared()
    host.own_descendants()
    cores = host.pin_cores()
    work = ROOT / ".bench_work" / f"{args.workload}-s{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    host.prepare_env(ROOT, work)
    rss = host.PeakRss()
    spark = None
    try:
        workload = WORKLOADS[args.workload]()
        setup_s: list[float] = []
        for i in range(SETUPS if not args.trace else 1):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = host.start_session(work, cores)
            sizes = workload.setup(spark, work / f"setup-{i}", args.seed)
            setup_s.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        workload.warmup(spark)
        warmup_s = time.perf_counter() - t0

        if args.trace:
            return _traced(spark, workload, cores, per_layer, sizes, setup_s, warmup_s, args, work)

        runs, outputs, errors = [], [], 0
        t_end = time.perf_counter() + args.seconds
        while not runs or time.perf_counter() < t_end:
            load0 = host.loadavg()
            rss.reset()
            t0 = time.perf_counter()
            try:
                outputs.append(workload.run(spark, len(runs)))
            except Exception:
                traceback.print_exc()
                errors += 1
            runs.append(
                {"s": time.perf_counter() - t0, "rss_mb": rss.peak_mb(),
                 "load": [load0, host.loadavg()]}
            )
        attempted, failed = workload.check(spark, outputs)
        attempted, failed = attempted + errors, failed + errors

        run_s = statistics.median(r["s"] for r in runs)
        metrics = {
            "setup_s": statistics.median(setup_s),
            "run_s": run_s,
            "docs_per_s": sizes["docs"] / run_s,
            "mb_per_s": sizes["input_mb"] / run_s,
            "peak_rss_mb": statistics.median(r["rss_mb"] for r in runs),
        }
        _report(metrics, end_to_end, attempted, failed,
                {"workload": args.workload, "seed": args.seed, "cores": cores,
                 "inputs": sizes, "setup_s": setup_s, "warmup_s": warmup_s, "runs": runs})
        return 0
    finally:
        rss.close()
        host.stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)


def _traced(spark, workload, cores, per_layer, sizes, setup_s, warmup_s, args, work) -> int:
    """One untraced run, then the traced run, of the workload and of the
    layer probes it carries; all their outputs are checked."""
    from perfbench import host
    from perfbench.sparkstats import SparkCounters
    from perfbench.trace import Tracer
    from perfbench.workloads import TRACE_PROBES, TraceContext

    stats = SparkCounters(spark)
    metrics, attempted, failed, records = {}, 0, 0, []
    info = {"workload": args.workload, "seed": args.seed, "cores": cores, "inputs": sizes,
            "setup_s": setup_s, "warmup_s": warmup_s}
    for wl in [workload] + [probe() for probe in TRACE_PROBES[workload.name]]:
        if wl is not workload:
            info[f"{wl.name}.inputs"] = wl.setup(spark, work / f"probe-{wl.name}", args.seed)
            wl.warmup(spark)
        mark = stats.mark()
        load0 = host.loadavg()
        t0 = time.perf_counter()
        output = wl.run(spark, 0)
        run_s = time.perf_counter() - t0
        info[f"{wl.name}.untraced_run_s"] = run_s
        info[f"{wl.name}.load"] = [load0, host.loadavg()]
        counters = stats.since(mark)
        info[f"{wl.name}.spark_counters"] = vars(counters)
        tracer = Tracer(f"{wl.name}-s{args.seed}")
        layers = wl.layers(spark, TraceContext(cores, run_s, counters, output, stats, tracer))
        if layers.keys() & metrics.keys():
            raise KeyError(f"{wl.name} re-measures {sorted(layers.keys() & metrics.keys())}")
        metrics.update(layers)
        a, f = wl.check(spark, [output])
        attempted, failed = attempted + a, failed + f
        records += tracer.records()
    trace_file = ROOT / ".bench_work" / f"trace-{args.workload}-{args.seed}.json"
    trace_file.write_text(json.dumps(records))
    info["trace_file"] = str(trace_file)

    unknown = metrics.keys() - per_layer.keys()
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    _report({name: float(metrics.get(name, 0.0)) for name in per_layer},
            per_layer, attempted, failed, info)
    return 0


def _report(metrics: dict, units: dict, attempted: int, failed: int, info: dict) -> None:
    missing = units.keys() - metrics.keys()
    if missing:
        raise KeyError(f"declared metrics not measured: {sorted(missing)}")
    info["failed_frac"] = failed / attempted
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units[name]}")
    print(f"failed_frac = {info['failed_frac']:.6g} (failed {failed} of {attempted})")
    print(json.dumps(info))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
