"""Self-check of the benchmark's correctness checks, at a tiny size.

    python3 perfbench/selfcheck.py

Run from the repository root.  For every operation of every workload
the real output must pass its check, and a deliberately perturbed copy
of it must fail, so no check is vacuous.  Exits 0 when all hold.
"""

from __future__ import annotations

import copy
import os
import sys


def perturb(value):
    """A copy of ``value`` with one element changed."""
    v = copy.deepcopy(value)
    if isinstance(v, dict):
        k = sorted(v, key=repr)[0]
        v[k] = perturb(v[k])
        return v
    if isinstance(v, set):
        return v | {("perturbed",)}
    if isinstance(v, list):
        return [perturb(v[0])] + v[1:] if v else [("perturbed",)]
    if isinstance(v, tuple):
        return (perturb(v[0]),) + v[1:] if v else ("perturbed",)
    if isinstance(v, bool):
        return not v
    if isinstance(v, (int, float)):
        return v + 1
    if isinstance(v, str):
        return v + "~"
    raise TypeError(type(v))


def perturb_op(workload: str, name: str, value, ctx):
    """Workload-aware perturbations where changing one element is not a
    wrong answer to the check (a set of verdicts, an accuracy bound)."""
    truth = ctx.state.get("corpus", {}).get("truth")
    if name == "dedup_cascade":   # a planted exact copy is missed
        copy_id = min(truth["exact"])
        return [(d, "keep" if d == copy_id else s) for d, s in value]
    if name == "training_manifest":  # one document listed twice
        return value + value[:1]
    if name == "lang_id":  # every prediction the same language
        return [(d, "en") for d, _ in value]
    if workload == "events_stream":  # one window miscounted
        windows, dedup, n = value
        return perturb(windows), dedup, n
    return perturb(value)


def main() -> int:
    root = os.getcwd()
    sys.path.insert(1, root)
    import harness
    from workloads import (CurationCorpus, DslLiteral, DslNestedBatch,
                           EventsStream)

    tiny = [DslLiteral(), DslNestedBatch(), CurationCorpus(), EventsStream()]
    tiny[1].LINES = 3000
    tiny[2].DOCS = 400
    tiny[3].EVENTS = 500
    ctx = harness.make_ctx("selfcheck", 0, trace=False)
    bad = []
    try:
        ctx.start_session()
        for wl in tiny:
            ctx.state = {}
            wl.setup(ctx, 0)
            wl.start(ctx)
            for op in wl.pass_ops(ctx, 0):
                got = op.observe(ctx, op.run(ctx))
                errs = op.verify(ctx, got)
                wrong = op.verify(ctx, perturb_op(wl.name, op.name, got, ctx))
                status = "ok"
                if errs:
                    status = f"REAL OUTPUT REJECTED: {errs}"
                elif not wrong:
                    status = "PERTURBED OUTPUT ACCEPTED"
                if status != "ok":
                    bad.append(f"{wl.name}/{op.name}")
                print(f"{wl.name}/{op.name}: {status}")
            wl.teardown(ctx)
    finally:
        from run import shutdown

        shutdown(ctx, tiny[-1])
    print("selfcheck:", "FAILED " + ", ".join(bad) if bad else "all checks"
          " accept the real output and reject a perturbed one")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
