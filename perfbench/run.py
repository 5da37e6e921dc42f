"""Benchmark entry point.

    python3 perfbench/run.py --workload validate --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout.  Prints human-readable lines (host record,
the named end-to-end metrics by name and unit, the per-layer report of
a traced run) and, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

import harness

E2E_UNITS = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "step_s_p50": "s",
    "cold_s": "s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "driver_s": "s",
    "job_s": "s",
    "exec_cpu_s": "s",
    "gc_s": "s",
    "shuffle_mb": "MB",
    "scan_mb": "MB",
    "scans_per_row": "ratio",
    "spill_mb": "MB",
    "jobs_per_op": "count",
    "attributed_share": "ratio",
    "trace_overhead_s": "s",
}

#: the benchmark's input sizes; the self-test shrinks them
SIZES = {"validate_rows": 100_000, "ingest_batch_rows": 2_000, "ingest_batches": 2}
SELF_TEST_SIZES = {"validate_rows": 20_000, "ingest_batch_rows": 1_000, "ingest_batches": 2}

#: a measured run still going this long after it started is aborted (exit
#: code 1), so no run outlives its time limit
RUN_DEADLINE_S = 165


class Deadline(BaseException):
    """Not an ``Exception``: it must end the run, not one operation."""


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {RUN_DEADLINE_S} s")


def run_workload(name, seed, seconds, trace, sizes, deadline_s=None):
    """One run; with *deadline_s*, a run still going after that many seconds
    (not counting an untraced baseline child) is aborted."""
    import workloads

    key = {
        "source": harness.source_digest(),
        "bench": harness.bench_digest(),
        "sizes": sizes,
        "seconds": seconds,
    }
    if trace and not harness.recorded_ops_s(name, key):
        # the overhead baseline: one untraced run of the same code and sizes
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0", "--sizes", json.dumps(sizes)],
            check=True, stdout=sys.stderr, timeout=RUN_DEADLINE_S + 30,
        )
    run = workloads.Run(seed, seconds, trace, sizes)
    if deadline_s:
        signal.signal(signal.SIGALRM, _on_alarm)
        signal.alarm(deadline_s)
    try:
        workloads.WORKLOADS[name](run)
    finally:
        signal.alarm(0)
        run.close()
    if trace:
        base = harness.recorded_ops_s(name, key)
        if not base:
            raise RuntimeError("the untraced baseline run recorded no result")
        run.layers["trace_overhead_s"] = run.ops_s - harness.median(base)
        run.layers["untraced_ops_s"] = (harness.median(base), len(base))
    else:
        harness.record_result(name, key, run.ops_s, seed)
    return run


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report(name: str, run, trace: bool) -> dict:
    print(f"host {json.dumps(run.host, sort_keys=True)}")
    print(f"workload {name}  seed {run.seed}  sizes {json.dumps(run.sizes, sort_keys=True)}")
    for note in run.notes:
        print(f"  note: {note}")
    e2e = dict(run.e2e, setup_s=harness.median(run.setups[1:]))
    print(f"  jvm_start_s          {_fmt(run.setups[0])} s  (first set-up, includes the JVM launch)")
    print(f"  setup_s              {_fmt(e2e['setup_s'])} s  (median of the {len(run.setups) - 1} set-ups "
          f"in the running JVM: {', '.join(_fmt(x) for x in run.setups[1:])})")
    for k, (v, unit, note) in run.named.items():
        print(f"  {k:<20} {_fmt(v)} {unit}  ({note})")
    print(f"  peak_rss_mb          {_fmt(e2e.get('peak_rss_mb', float('nan')))} MB  (driver JVM VmHWM)")
    share = run.failed / run.attempted if run.attempted else 1.0
    print(f"  failed_share         {_fmt(share)} ratio  ({run.failed} of {run.attempted} operations)")
    for f in run.failures:
        print(f"  FAILED {f}")
    if trace and run.layers:
        tot = run.layers["totals"]
        base, n = run.layers["untraced_ops_s"]
        print(f"  (traced run: the metrics above were measured with tracing on)")
        print(f"  traced wall {_fmt(tot['wall_s'])} s = sum of self times {_fmt(tot['self_sum_s'])} s; "
              f"attributed share {_fmt(tot['attributed_share'])}")
        print(f"  tracing overhead {_fmt(run.layers['trace_overhead_s'])} s = operations {_fmt(run.ops_s)} s "
              f"traced - {_fmt(base)} s untraced (median of {n} recorded untraced runs)")
        for k, v in sorted(tot["self_s"].items()):
            print(f"    self {k:<34} {_fmt(v)} s")
        for k, v in run.layers["named"].items():
            print(f"    {k:<40} {_fmt(v)}")
        print(f"    jvm.gc_s {_fmt(tot['jvm_gc_s'])} s   spark.spill_mb {_fmt(tot['spill_mb'])} MB")
    if trace:
        metrics = {k: {"value": run.layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    return metrics


def save_trace(name: str, run) -> None:
    spans = [
        {"name": s.name, "layer": s.layer, "op": s.op, "t0": s.t0, "t1": s.t1,
         "self_s": s.self_s, "jobs": [
             {"id": j.job_id, "site": j.site, "t0": j.t0, "t1": j.t1, "tasks": j.tasks,
              "shuffle_write_bytes": j.shuffle_write_bytes, "input_records": j.input_records,
              "stage": j.stage_name} for j in s.jobs]}
        for s in (run.spans.spans if run.spans else [])
    ]
    path = os.path.join(harness.DATA, "traces", f"{name}-s{run.seed}-{int(time.time())}.json")
    harness.write_json(path, {
        "workload": name, "seed": run.seed, "host": run.host, "sizes": run.sizes,
        "named": run.named, "layers": run.layers,
        "spans": spans,
    })
    print(f"  trace written to {os.path.relpath(path, harness.ROOT)}")


def self_test() -> int:
    """Every workload at small size, traced: correctness checks, the trace
    parser and the self-time accounting, end to end."""
    import workloads

    bad = []
    for name in workloads.WORKLOADS:
        run = run_workload(name, seed=7, seconds=1, trace=True, sizes=SELF_TEST_SIZES)
        report(name, run, trace=True)
        tot = run.layers.get("totals")
        if run.failed or not run.attempted:
            bad.append(f"{name}: {run.failed} of {run.attempted} operations failed")
        if not tot:
            bad.append(f"{name}: no trace")
            continue
        if abs(tot["self_sum_s"] - tot["wall_s"]) > 1e-6 * max(1.0, tot["wall_s"]):
            bad.append(f"{name}: self times {tot['self_sum_s']} != traced wall {tot['wall_s']}")
        if tot["attributed_share"] < 0.9:
            bad.append(f"{name}: attributed share {tot['attributed_share']:.3f} < 0.9")
    for b in bad:
        print(f"SELF-TEST FAILED {b}")
    print("self-test " + ("failed" if bad else "passed"))
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    # internal: the input generator child process (workloads.ensure_cold_pages)
    # and the input sizes of a child run
    ap.add_argument("--make-inputs", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--sizes", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    try:
        harness.check_program()
    except harness.ProgramMissing as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    harness.prepare_environment()
    if args.self_test:
        return self_test()

    import workloads

    sizes = json.loads(args.sizes) if args.sizes else SIZES
    if args.make_inputs:
        workloads.make_pages(args.seed, sizes["validate_rows"])
        return 0

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    run = run_workload(
        args.workload, args.seed, args.seconds, bool(args.trace), sizes, RUN_DEADLINE_S
    )
    metrics = report(args.workload, run, bool(args.trace))
    if args.trace:
        save_trace(args.workload, run)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
