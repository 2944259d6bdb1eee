"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed <n> \\
        --seconds <s> --trace <0|1>

Run from the repository root.  One workload runs in one process with
one Spark session on ``local[nproc]``.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json, or with
``--trace 1`` its per-layer metrics).  ``--workload all`` runs every
workload in its own process and prints each metric by name and unit.

Everything the run writes stays under the working directory:
``.perfbench_work/`` (removed at exit) and, for traced runs, the span
dump in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import traceback

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:  # the numpy generators take non-negative seeds
        ap.error("--seed must be non-negative")
    return args


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_all(args) -> int:
    """Each workload in its own process; print every metric by name."""
    from workloads import WORKLOADS

    summary, code = {}, 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__),
               "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: failed with exit code {proc.returncode}")
            code = 1
            continue
        res = json.loads(lines[-1])
        summary[name] = res
        frac = res["failed"] / res["attempted"]
        print(f"{name}: correct={res['correct']} ops={res['attempted']}"
              f" ops_failed_frac={frac:.4f} fraction")
        for name, m in res["metrics"].items():
            print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(summary))
    return code


def run_one(args, spec, root) -> int:
    sys.path.insert(1, root)
    import harness
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    ctx = harness.make_ctx(args.workload, args.seed, bool(args.trace))
    wl = WORKLOADS[args.workload]()
    try:
        res = harness.run_workload(ctx, wl, args.seconds)
        if args.trace:
            names = [m["name"] for m in spec["per_layer"]]
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            values = harness.per_layer(ctx, res, wl, names)
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            ctx.tracer.dump(
                os.path.join(out_dir,
                             f"trace-{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "metrics": values})
        else:
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            values = harness.end_to_end(res)
        for e in res["errors"]:
            print(e, file=sys.stderr)
        print_op_summary(res)
        print(json.dumps({
            "correct": res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {n: {"value": float(values[n]), "unit": units[n]}
                        for n in units},
        }))
        return 0
    finally:
        shutdown(ctx, wl)


def print_op_summary(res) -> None:
    """Set-up phases and the median latency per operation name, on
    standard error."""
    gen = ", ".join(f"{g:.3f}" for g in res["gen_s"])
    print(f"session {res['session_s']:.3f}s, inputs [{gen}]s,"
          f" start+warm-up {res['warm_s']:.3f}s, timed loop {res['loop_s']:.3f}s",
          file=sys.stderr)
    walls = ", ".join(f"{w:.3f}" for w in res["pass_wall"].values())
    print(f"pass walls [{walls}]s", file=sys.stderr)
    by = {}
    for _, _, name, dt, _, _ in res["ops"]:
        if dt is not None:
            by.setdefault(name, []).append(dt)
    for name, v in by.items():
        print(f"op {name}: n={len(v)} median={statistics.median(v):.3f}s",
              file=sys.stderr)


def shutdown(ctx, wl) -> None:
    """Stop the queries, the session and the JVM, wait for the JVM to
    exit, and remove the run's scratch space."""
    try:
        if ctx.spark is not None:
            from pyspark import SparkContext

            wl.teardown(ctx)
            ctx.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)
        parent = os.path.dirname(ctx.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "faconne_spark", "__init__.py")):
        print("run from the repository root: faconne_spark/ not found",
              file=sys.stderr)
        return 2
    spec = load_spec(root)
    if args.workload == "all":
        return run_all(args)
    try:
        return run_one(args, spec, root)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
