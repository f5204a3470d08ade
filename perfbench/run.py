"""One command for the rove_spark benchmark.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

Runs one workload on ``local[4]`` in this process, checks its outputs and
prints every end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``) by name with its unit. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``. The
workloads, metrics and bounds are described in ``BENCHMARK.json`` at the
root of the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness  # noqa: E402


def workload_class(name: str):
    if name == "backfill":
        from perfbench.backfill import Backfill

        return Backfill
    from perfbench.suite import OperatorSuite

    return OperatorSuite


def spark_per_op(tracer, log) -> dict:
    """Median over the timed operations of what Spark ran for each, read
    from the event log through the job groups of the operation's spans."""
    rows = []
    for op in (s for s in tracer.spans if s.name == "op"):
        total = log.stats(tracer.of_request(op.request), op.window)
        row = {k: v for k, v in vars(total).items() if k not in ("files_read", "rows_scanned")}
        row["slot_idle_frac"] = max(
            0.0, 1.0 - total.executor_run_s / (op.seconds * harness.CORES)
        )
        rows.append(row)
    units = {"jobs": "count", "stages": "count", "tasks": "count", "slot_idle_frac": "fraction"}
    return {
        f"spark.{k}": (
            statistics.median(r[k] for r in rows),
            units.get(k, "MB" if k.endswith("_mb") else "s"),
        )
        for k in rows[0]
    }


def per_layer(spec: dict, measured: dict) -> dict:
    """Every per-layer metric BENCHMARK.json lists, in its order. A layer the
    workload never calls reads 0: no call, no time, no jobs."""
    listed = {m["name"]: m["unit"] for m in spec["per_layer"]}
    unlisted = sorted(set(measured) - set(listed))
    if unlisted:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unlisted}")
    out = {}
    for name, unit in listed.items():
        value, got_unit = measured.get(name, (0, unit))
        if got_unit != unit:
            raise RuntimeError(f"{name}: measured in {got_unit}, BENCHMARK.json says {unit}")
        out[name] = (value, unit)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--workload", required=True, choices=("backfill", "operator_suite"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="measured time of the timed loop")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    harness.check_tree()

    work = harness.isolate(args.workload)
    event_log = work / "eventlog" if args.trace else None
    rss = harness.PeakRss().start()
    phases = harness.Phases()
    spark = tracer = wl = None
    try:
        with phases.measure("session_start"):
            spark = harness.start_spark(event_log)
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark.sparkContext)
            tracer.install()
        wl = workload_class(args.workload)(spark, work, args.seed, tracer)
        wl.setup(phases)
        loop = harness.Loop(args.seconds)
        steal0, t_loop = harness.host_steal_s(), time.perf_counter()
        wl.timed(loop)
        steal_share = (harness.host_steal_s() - steal0) / (
            (time.perf_counter() - t_loop) * (os.cpu_count() or 1))
        if tracer is not None:
            wl.traced_extras()
            tracer.uninstall()
        wl.close()
        harness.stop_spark(spark)
        spark = None
        layers = {}
        if tracer is not None:
            from perfbench.trace import read_event_log

            log = read_event_log(event_log)
            layers = wl.layer_metrics(log)
            layers.update(spark_per_op(tracer, log))
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            harness.stop_spark(spark)
        peak_mb = rss.stop_mb()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # the last run out removes the shared parent
        except OSError:
            pass

    samples = loop.samples + wl.checked
    failed = [s for s in samples if not s.ok]
    setup = phases.seconds
    # gated: CPU seconds, which the host's CPU steal leaves nearly alone
    e2e = {
        "cpu_s_per_request": (sum(s.cpu_s for s in loop.samples) / len(loop.samples), "s"),
        "setup_s": (sum(c for _, c in setup.values()), "s"),
    }
    # printed, not gated: wall-clock figures swing with the host's steal, and
    # the peak RSS with whether the JVM grew its heap toward the cap
    wall, tail = harness.latency_metrics(loop.samples)
    wall["peak_rss_mb"] = (peak_mb, "MB")
    wall["setup_wall_s"] = (sum(w for w, _ in setup.values()), "s")
    wall["failed_frac"] = (len(failed) / len(samples), "fraction")
    wall.update(wl.info_metrics())

    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cores={harness.CORES}")
    for k, (w, c) in setup.items():
        print(f"  setup.{k}: wall {w:.3f} s, cpu {c:.3f} s")
    by_name: dict[str, list] = {}
    for smp in samples:
        by_name.setdefault(smp.name, []).append(smp)
    for name, smps in by_name.items():
        # timed operations also print their CPU seconds in order, so the
        # first can be read against the next
        cpu = f", cpu s {[round(x.cpu_s, 2) for x in smps]}" if smps[0] in loop.samples else ""
        print(f"  op.{name}: n={len(smps)} median "
              f"{statistics.median(x.ms for x in smps):.1f} ms{cpu}")
    for s in failed:
        print(f"  FAILED {s.name}: {s.error.strip().splitlines()[-1] if s.error else ''}",
              file=sys.stderr)
    print(f"  host CPU steal during the timed loop: {steal_share:.1%} of the machine")
    print(f"  latency_tail_ms is p{tail['percentile']} of {tail['samples']} operations "
          f"({tail['beyond']} beyond it)")
    for k, (v, unit) in wall.items():
        print(f"  {k} {v:.6g} {unit}")
    if args.trace:
        # the traced run's own end-to-end figures: their distance from an
        # untraced run of the same seed is the tracing overhead
        for k in ("latency_p50_ms", "requests_per_s", "peak_rss_mb"):
            layers[f"traced.{k}"] = wall[k]
        for k, v in e2e.items():
            layers[f"traced.{k}"] = v
        layers["session.start_s"] = setup["session_start"][0], "s"
        spec = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
        metrics = per_layer(spec, layers)
    else:
        metrics = e2e
    for k, (v, unit) in metrics.items():
        print(f"  {k} {v:.6g} {unit}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(samples),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
