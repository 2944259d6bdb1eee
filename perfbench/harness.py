"""Run loop shared by the workloads: set-up, the closed timed loop,
noise controls, per-layer counters and the metric summary.

One workload runs in one process with one Spark session at a time
(``local[nproc]``) and one client issuing operations back to back.
"""

from __future__ import annotations

import gc
import json
import os
import re
import resource
import shutil
import statistics
import time
import traceback
import urllib.request
from dataclasses import dataclass, field
from typing import Callable

from spans import Tracer, median_over

SETUP_REPS = 3


@dataclass
class Op:
    """One operation of a pass.  ``run(ctx)`` is the timed work;
    untimed, ``observe(ctx, result)`` reads its output back and
    ``verify(ctx, observed)`` compares that with the oracle, returning
    the mismatches.  ``rows`` is the input rows the operation consumes."""

    name: str
    run: Callable
    observe: Callable
    verify: Callable
    rows: int

    def check(self, ctx, result) -> list[str]:
        return self.verify(ctx, self.observe(ctx, result))


@dataclass
class Ctx:
    workload: str
    seed: int
    root: str             # the checkout
    work: str             # scratch space for this run, removed at exit
    cpus: int
    trace: bool
    spark: object = None
    tracer: Tracer = field(default_factory=Tracer)
    traced_pass: bool = False
    state: dict = field(default_factory=dict)

    # ------------------------------------------------------ session

    def start_session(self) -> float:
        """Start the Spark session; returns the seconds it took."""
        from faconne_spark import session as S

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "spark-local"),
        }
        if self.trace:
            # the UI's REST API serves shuffle bytes; traced run only
            conf.update({"spark.ui.enabled": "true",
                         "spark.ui.retainedJobs": "100000",
                         "spark.ui.retainedStages": "100000"})
        t0 = time.perf_counter()
        self.spark = S.get_session(app=f"perfbench-{self.workload}",
                                   cpus=self.cpus, extra_conf=conf)
        took = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return took

    @property
    def tmp(self) -> str:
        return os.path.join(self.work, "tmp")

    def quiesce(self) -> None:
        """Untimed noise control between operations: drop the dedup
        family's cached relations and collect garbage on both sides."""
        from faconne_spark.operators.dedup import release_caches

        release_caches()
        gc.collect()
        self.spark._jvm.java.lang.System.gc()

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    # ------------------------------------------- traced-pass helpers

    def action(self, df, fn, dsl: bool = False):
        """Run the action ``fn()`` on ``df``; in a traced pass first plan
        it under a ``catalyst.plan`` span and record its plan counts, then
        run it under ``spark.exec``.  ``dsl``: ``df`` is a DSL transform
        result, whose plan size is the compiler's output."""
        if not self.traced_pass:
            return fn()
        record_plan(self, df, dsl)
        with self.tracer.span("spark.exec"):
            return fn()


def record_plan(ctx: Ctx, df, dsl: bool) -> None:
    """Force physical planning (the ``queryExecution().executedPlan()``
    boundary) under a span, then count plan operators."""
    from faconne_spark.session import plan_report

    qe = df._jdf.queryExecution()
    with ctx.tracer.span("catalyst.plan"):
        qe.executedPlan()
    rep = plan_report(df)
    t = ctx.tracer
    t.count("catalyst.exchanges", rep["n_exchanges"])
    t.count("catalyst.sort_merge_joins", rep["n_sort_merge_joins"])
    t.count("catalyst.broadcast_joins", rep["n_broadcast_joins"])
    t.count("catalyst.python_evals", int(rep["has_python_eval"]))
    if dsl:
        t.count("dsl.compiler.plan_nodes",
                plan_nodes(qe.optimizedPlan().toString()))


def plan_nodes(tree: str) -> int:
    """Operators in a Catalyst tree string: the root line plus one line
    per ``+-`` / ``:-`` child marker."""
    lines = [ln for ln in tree.splitlines() if ln.strip()]
    return sum(1 for ln in lines[1:] if re.match(r"^[\s:|]*[+:]- ", ln)) + (
        1 if lines else 0)


def job_stats(ctx: Ctx, job_ids) -> dict:
    """Jobs, stages and tasks of ``job_ids`` from the status tracker."""
    st = ctx.spark.sparkContext.statusTracker()
    stages, tasks, failed = set(), 0, 0
    for j in job_ids:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            if s in stages:
                continue
            stages.add(s)
            si = st.getStageInfo(s)
            if si is not None:
                tasks += si.numTasks
                failed += si.numFailedTasks
    return {"jobs": len(job_ids), "stage_ids": sorted(stages), "tasks": tasks,
            "failed_tasks": failed}


def rest_shuffle_write_bytes(ctx: Ctx) -> dict:
    """stage id -> shuffle bytes written, from the UI's REST API."""
    sc = ctx.spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = (f"http://127.0.0.1:{port}/api/v1/applications/"
           f"{sc.applicationId}/stages")
    with urllib.request.urlopen(url, timeout=30) as resp:
        stages = json.load(resp)
    out: dict = {}
    for s in stages:
        out[s["stageId"]] = out.get(s["stageId"], 0) + s.get("shuffleWriteBytes", 0)
    return out


def peak_rss_mb(ctx: Ctx) -> float:
    """Python process maxrss plus the JVM's VmHWM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{ctx.jvm_pid()}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


# ----------------------------------------------------------- the run


def run_workload(ctx: Ctx, wl, seconds: float) -> dict:
    """Start the session, generate the inputs ``SETUP_REPS`` times (the
    last set is used), run the warm-up passes, then run whole passes
    until the timed operations have taken ``seconds`` (at least the
    workload's ``MIN_PASSES``, four when traced; checks and noise controls between operations
    are not counted).  In the traced run untraced and traced passes
    alternate so the tracing overhead is measured in-process.

    ``setup_s`` is the session start plus the median input generation
    plus the workload's start and the warm-up pass (checks untimed)."""
    session_s = ctx.start_session()
    gen_times = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup(ctx, rep)
        gen_times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.start(ctx)
    warm_s = time.perf_counter() - t0
    errors: list[str] = []
    for _ in range(wl.WARMUP_PASSES):
        for op in wl.pass_ops(ctx, 0):
            t0 = time.perf_counter()
            try:
                op.check(ctx, op.run(ctx))
            except Exception:  # the timed runs of the op report it
                errors.append(f"warm-up {op.name}: {traceback.format_exc(limit=3)}")
            warm_s += time.perf_counter() - t0
            ctx.quiesce()

    ops_log = []      # (pass, op id, name, seconds or None, rows, ok)
    pass_wall = {}    # pass -> summed latency of its successful ops
    traced_passes = []
    attempted = failed = 0
    loop_t0 = time.perf_counter()
    p = 0
    timed = 0.0
    while True:
        p += 1
        # untraced, traced, traced, untraced, ...: a drift over the run
        # (the JIT still warming) cancels out of the overhead
        ctx.traced_pass = ctx.trace and p % 4 in (2, 3)
        if ctx.traced_pass:
            traced_passes.append(p)
        wall = 0.0
        for op in wl.pass_ops(ctx, p):
            op_id = len(ops_log)
            ctx.tracer.op = op_id if ctx.traced_pass else None
            attempted += 1
            jobs_before = _job_ids(ctx) if ctx.traced_pass else None
            t0 = time.perf_counter()
            try:
                if ctx.traced_pass:
                    with ctx.tracer.instrument(wl.instrument_targets()):
                        out = op.run(ctx)
                else:
                    out = op.run(ctx)
                dt = time.perf_counter() - t0
            except Exception:
                dt = None
                errors.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            timed += time.perf_counter() - t0
            if ctx.traced_pass:
                _record_jobs(ctx, jobs_before)
            ok = dt is not None
            if ok:
                wall += dt
                try:
                    errs = op.check(ctx, out)
                except Exception:  # reading the output back failed
                    errs = [f"{op.name} check: {traceback.format_exc(limit=3)}"]
                if errs:
                    ok = False
                    errors.extend(errs)
            failed += not ok
            ops_log.append((p, op_id, op.name, dt, op.rows, ok))
            ctx.tracer.op = None
            ctx.quiesce()
        pass_wall[p] = wall
        if (timed >= seconds and p >= wl.MIN_PASSES
                and (not ctx.trace or p >= 4)):
            break
    ctx.traced_pass = False

    res = {"attempted": attempted, "failed": failed, "errors": errors,
           "setup_s": session_s + statistics.median(gen_times) + warm_s,
           "session_s": session_s, "gen_s": gen_times, "warm_s": warm_s,
           "loop_s": time.perf_counter() - loop_t0,
           "ops": ops_log, "pass_wall": pass_wall,
           "traced_passes": traced_passes}
    res["peak_rss_mb"] = peak_rss_mb(ctx)
    return res


def _job_ids(ctx: Ctx) -> set:
    """Every job id the status tracker knows (the op's jobs are the
    difference after it ran; streaming queries run their own groups)."""
    st = ctx.spark.sparkContext.statusTracker()
    ids = set(st.getJobIdsForGroup(None))
    for q in ctx.spark.streams.active:
        ids.update(st.getJobIdsForGroup(str(q.runId)))
    return ids


def _record_jobs(ctx: Ctx, before: set) -> None:
    new = sorted(_job_ids(ctx) - before)
    s = job_stats(ctx, new)
    t = ctx.tracer
    t.count("spark.jobs", s["jobs"])
    t.count("spark.stages", len(s["stage_ids"]))
    t.count("spark.tasks", s["tasks"])
    t.count("spark.failed_tasks", s["failed_tasks"])
    ctx.state.setdefault("op_stages", {})[t.op] = s["stage_ids"]


def end_to_end(res: dict) -> dict:
    """The end-to-end metrics of an untraced run.  A pass is built from
    the median latency of each of its operations, so every sample in
    the run counts towards ``wall_s``."""
    by_name: dict = {}
    rows_of: dict = {}
    for _, _, name, dt, rows, _ in res["ops"]:
        if dt is not None:
            by_name.setdefault(name, []).append(dt)
            rows_of[name] = rows
    wall = sum(statistics.median(v) for v in by_name.values())
    lat = [dt for v in by_name.values() for dt in v]
    return {
        "setup_s": res["setup_s"],
        "wall_s": wall,
        "input_rows_per_s": sum(rows_of.values()) / wall if wall else 0.0,
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer(ctx: Ctx, res: dict, wl, names: list[str]) -> dict:
    """Per-layer metrics of a traced run: span time and counts summed
    per traced pass, median over traced passes; streaming progress
    figures are medians per micro-batch op."""
    groups = {p: [o[1] for o in res["ops"] if o[0] == p]
              for p in res["traced_passes"]}
    shuffle = rest_shuffle_write_bytes(ctx)
    op_stages = ctx.state.get("op_stages", {})
    per = ctx.tracer.per_group(groups)
    for p, ops in groups.items():
        per[p]["spark.shuffle_write_mb"] = sum(
            shuffle.get(s, 0) for op in ops for s in op_stages.get(op, ())
        ) / 2**20
    for p in groups:
        per[p]["session.get_session_s"] = res["session_s"]
    out = median_over(per, names)
    out.update(wl.layer_metrics(ctx, res))
    untraced = [w for p, w in res["pass_wall"].items()
                if p not in res["traced_passes"]]
    traced = [res["pass_wall"][p] for p in res["traced_passes"]]
    out["trace.overhead_s"] = (statistics.median(traced)
                               - statistics.median(untraced))
    return {n: out.get(n, 0.0) for n in names}


def make_ctx(workload: str, seed: int, trace: bool) -> Ctx:
    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work",
                        f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the JVM, started later, inherits these: its scratch space stays in
    # the working directory and its heap bounded
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    return Ctx(workload=workload, seed=seed, root=root, work=work,
               cpus=len(os.sched_getaffinity(0)), trace=trace)
