"""The four workloads.  Each provides:

* ``setup(ctx, rep)``: generate the seeded inputs (called several
  times; the last set is used);
* ``start(ctx)``: one-time set-up on those inputs;
* ``pass_ops(ctx, p)``: the fixed operation list of pass ``p`` (pass 0
  is the warm-up); ``WARMUP_PASSES`` untimed passes run first and at
  least ``MIN_PASSES`` timed ones;
* ``instrument_targets()``: the layer functions wrapped with spans in a
  traced pass;
* ``layer_metrics(ctx, res)``: per-layer figures that are not span
  sums (streaming progress, pair counts);
* ``teardown(ctx)``.

Sizes keep a whole run (set-up, warm-up, timed passes) between about
25 and 50 seconds on a 4-core machine; the fixed costs are the JVM
start and the cold first pass, not the data.
"""

from __future__ import annotations

import contextlib
import os
import statistics

import pyarrow.parquet as pq

import gen
import oracles
from harness import Op


def _span(ctx, name):
    return ctx.tracer.span(name) if ctx.traced_pass else contextlib.nullcontext()


def _dsl_targets():
    from faconne_spark.dsl import compiler, domain, pyobj

    return [(pyobj, "to_df", "dsl.pyobj.to_df"),
            (pyobj, "collect_nested", "dsl.pyobj.collect_nested"),
            (domain.Binder, "bind", "dsl.compiler.bind"),
            (compiler, "build_range", "dsl.compiler.build")]


def _top_level_size(obj) -> int:
    return len(obj) if isinstance(obj, (dict, list, set, frozenset)) else 1


# ------------------------------------------------------------ dsl_literal


class DslLiteral:
    """Nested Python literals through ``transform(..., spark=)`` and
    ``collect_nested``; checked against pure-Python oracles."""

    name = "dsl_literal"
    WARMUP_PASSES = 2
    MIN_PASSES = 1
    POOL_PASSES = 12  # distinct passes of literals; pass p uses p mod 12

    def setup(self, ctx, rep):
        ctx.state["pool"] = gen.literal_pool(ctx.seed, self.POOL_PASSES)

    def start(self, ctx):
        pass

    def _spec(self, lit):
        from faconne_spark import SetOf, V, Agg

        kind = lit["kind"]
        if kind == "store":
            dom = {V.store: {V.aisle: [V.product]}}
            rng = {"unnest_set": {V.store: SetOf(V.product)},
                   "invert": {V.product: SetOf(V.store)}}[lit["variant"]]
            return dom, rng, None
        if kind == "rows":
            return ([{"day": V.day, "type": V.type, "v": V.v}],
                    {V.day: {V.type: Agg("sum(v)")}}, None)
        if kind == "pairs":
            return ({V.k: V.v, V.k2: V.v2}, SetOf(SetOf([V.k, V.k2])),
                    ["k != k2", f"v + v2 = {lit['target']}"])
        return [V.a, V.b], ["a + b AS s"], None

    def pass_ops(self, ctx, p):
        n = len(gen.PASS_LITERALS)
        first = (p % self.POOL_PASSES) * n
        return [self._op(lit) for lit in ctx.state["pool"][first:first + n]]

    def _op(self, lit):
        from faconne_spark.dsl import compiler, pyobj

        dom, rng, where = self._spec(lit)

        def run(ctx):
            df = compiler.transform(lit["data"], dom, rng, where=where,
                                    spark=ctx.spark)
            out = ctx.action(df, lambda: pyobj.collect_nested(df), dsl=True)
            if ctx.traced_pass:
                ctx.tracer.count("dsl.pyobj.collect_rows",
                                 _top_level_size(out))
            return out

        return Op(f"{lit['kind']}/{lit['variant'] or '-'}", run,
                  lambda ctx, out: out,
                  lambda ctx, got: oracles.check_literal(lit, got),
                  gen.count_leaves(lit["data"]))

    def instrument_targets(self):
        return _dsl_targets()

    def layer_metrics(self, ctx, res):
        return {}

    def teardown(self, ctx):
        pass


# ------------------------------------------------------- dsl_nested_batch


class DslNestedBatch:
    """DSL transforms over a customers -> orders -> lines parquet table;
    checked against DuckDB over the flat line relation."""

    name = "dsl_nested_batch"
    WARMUP_PASSES = 1
    MIN_PASSES = 1
    LINES = 100_000
    ORDER = ("unnest", "regroup", "invert", "deep_where", "expand", "merge")

    def setup(self, ctx, rep):
        d = os.path.join(ctx.work, f"rep{rep}", "lines")
        ctx.state["lines"] = gen.write_lines_table(ctx.seed, self.LINES, d)
        ctx.state["out"] = os.path.join(ctx.work, f"rep{rep}", "merge_out")

    def start(self, ctx):
        pass

    def _specs(self):
        from faconne_spark import Agg, SetOf, V

        dom = [{"customer_id": V.c, "segment": V.seg,
                "orders": [{"order_id": V.o, "day": V.d,
                            "lines": [{"sku": V.sku, "qty": V.q,
                                       "price": V.p}]}]}]
        return {
            "unnest": (dom, [{"c": V.c, "o": V.o, "sku": V.sku, "q": V.q}],
                       None),
            "regroup": (dom, {V.sku: {V.seg: Agg("sum(q)")}}, None),
            "invert": (dom, {V.o: V.c}, None),
            "deep_where": (dom, {V.c: SetOf(V.sku)},
                           ["q > 40", "p < 2000", "d < 100"]),
            "expand": (dom, {V.seg: {"n_orders": Agg("count(distinct o)"),
                                     "revenue": Agg("sum(q * p)")}}, None),
            "merge": (dom, {V.c: {"orders": SetOf(V.o),
                                  "skus": {V.sku: Agg("sum(q)")}}}, None),
        }

    def pass_ops(self, ctx, p):
        specs = self._specs()
        return [self._op(name, *specs[name]) for name in self.ORDER]

    def _transform(self, ctx, dom, rng, where):
        from faconne_spark.dsl import compiler

        df = ctx.spark.read.parquet(ctx.state["lines"]["nested"])
        return compiler.transform(df, dom, rng, where=where)

    def _op(self, name, dom, rng, where):
        def run(ctx):
            out = self._transform(ctx, dom, rng, where)
            if name == "merge":
                w = out.write.mode("overwrite")
                ctx.action(out, lambda: w.parquet(ctx.state["out"]), dsl=True)
            else:
                w = out.write.format("noop").mode("overwrite")
                ctx.action(out, w.save, dsl=True)

        def observe(ctx, _):
            if name == "merge":
                return oracles.merge_output_fingerprint(ctx.state["out"])
            # the noop sink keeps nothing: observe each transform's output
            # once per run, from a separate execution of the same plan
            seen = ctx.state.setdefault("observed", {})
            if name not in seen:
                seen[name] = self._fingerprint(
                    name, self._transform(ctx, dom, rng, where))
            return seen[name]

        def verify(ctx, got):
            return oracles.check_nested(name, got, self._expected(ctx, name))

        return Op(name, run, observe, verify, self.LINES)

    def _expected(self, ctx, name):
        cache = ctx.state.setdefault("expected", {})
        if name not in cache:
            cache[name] = oracles.nested_expected(
                name, ctx.state["lines"]["flat"])
        return cache[name]

    @staticmethod
    def _fingerprint(name, out):
        from pyspark.sql import functions as F
        from faconne_spark.dsl import pyobj

        if name in ("regroup", "expand"):
            return pyobj.collect_nested(out)
        if name == "unnest":
            aggs = [F.count("*")] + [F.sum(c) for c in ("q", "c", "o", "sku")]
        elif name == "invert":
            aggs = [F.count("*"), F.sum("o"), F.sum("c"),
                    F.sum(F.expr("(o * 31 + c) % 1000003"))]
        else:  # deep_where
            out = out.selectExpr("size(value) AS n",
                                 "aggregate(value, 0L, (a, x) -> a + x) AS s")
            aggs = [F.count("*"), F.sum("n"), F.sum("s")]
        return tuple(int(v) for v in out.agg(*aggs).first())

    def instrument_targets(self):
        return _dsl_targets()

    def layer_metrics(self, ctx, res):
        return {}

    def teardown(self, ctx):
        pass


# -------------------------------------------------------- curation_corpus


class CurationCorpus:
    """Exact dedup, the dedup cascade with its parquet snapshot, the
    training manifest read back from it, and the two text scorers, over
    a corpus with planted duplicates."""

    name = "curation_corpus"
    WARMUP_PASSES = 1
    # one pass outlasts --seconds; a second gives each op two samples
    MIN_PASSES = 2
    DOCS = 800

    def setup(self, ctx, rep):
        d = os.path.join(ctx.work, f"rep{rep}", "corpus")
        ctx.state["corpus"] = gen.write_corpus(ctx.seed, self.DOCS, d)
        ctx.state["sf"] = d
        ctx.state["snap"] = os.path.join(ctx.work, f"rep{rep}", "snapshot")
        ctx.state["manifest"] = os.path.join(ctx.work, f"rep{rep}", "manifest")

    def start(self, ctx):
        pass

    def _docs(self, ctx):
        from faconne_spark.queries import T

        return T(ctx.spark, ctx.state["sf"], "documents")

    def pass_ops(self, ctx, p):
        rows = lambda ctx, out: out  # noqa: E731 - collected by the op
        return [
            Op("exact_dedup", self._exact, rows, self._check_exact, self.DOCS),
            Op("dedup_cascade", self._cascade, self._read_snapshot,
               self._check_cascade, self.DOCS),
            Op("training_manifest", self._manifest, self._read_manifest,
               self._check_manifest, self.DOCS),
            Op("quality_score", self._quality, rows, self._check_quality,
               self.DOCS),
            Op("lang_id", self._lang, rows, self._check_lang, self.DOCS),
        ]

    # ops -------------------------------------------------------------

    def _collect(self, ctx, df, cols):
        sel = df.select(*cols)
        return [tuple(r) for r in ctx.action(sel, sel.collect)]

    def _exact(self, ctx):
        from faconne_spark.operators import dedup

        with _span(ctx, "dedup.exact_dedup"):
            return self._collect(ctx, dedup.exact_dedup(self._docs(ctx)),
                                 ["keeper_id", "n_copies"])

    def _cascade(self, ctx):
        from faconne_spark.queries import pipeline

        with _span(ctx, "pipeline.dedup_cascade"):
            cas = pipeline.dedup_cascade(ctx.spark, ctx.state["sf"])
        with _span(ctx, "pipeline.snapshot_write"):
            w = cas.write.mode("overwrite")
            ctx.action(cas, lambda: w.parquet(ctx.state["snap"]))
        return ctx.state["snap"]

    def _manifest(self, ctx):
        from faconne_spark.queries import pipeline

        with _span(ctx, "pipeline.training_manifest"):
            snap = ctx.spark.read.parquet(ctx.state["snap"])
            m = pipeline.training_manifest(ctx.spark, ctx.state["sf"],
                                           cascade=snap)
            w = m.write.mode("overwrite")
            ctx.action(m, lambda: w.parquet(ctx.state["manifest"]))
        return ctx.state["manifest"]

    def _quality(self, ctx):
        from faconne_spark.operators import text

        return self._collect(ctx, text.quality_score(self._docs(ctx)),
                             ["doc_id", "n_tokens"])

    def _lang(self, ctx):
        from faconne_spark.operators import text

        return self._collect(ctx, text.lang_id(self._docs(ctx)),
                             ["doc_id", "pred_lang"])

    # checks (planted truth; outputs read back with pyarrow) ------------

    def _truth(self, ctx):
        return ctx.state["corpus"]["truth"]

    def _check_exact(self, ctx, rows):
        return oracles.check_exact_groups(rows, self._truth(ctx), self.DOCS)

    def _read_snapshot(self, ctx, path):
        t = pq.read_table(path, columns=["doc_id", "stage"]).to_pydict()
        pairs = list(zip(t["doc_id"], t["stage"]))
        ctx.state["stage"] = dict(pairs)
        ctx.state["recall"] = oracles.near_recall(ctx.state["stage"],
                                                  self._truth(ctx))
        return pairs

    def _check_cascade(self, ctx, pairs):
        return oracles.check_cascade(pairs, self._truth(ctx), self.DOCS)

    def _read_manifest(self, ctx, path):
        cols = ["doc_id", "stage", "quality_keep", "sampled", "selected"]
        t = pq.read_table(path, columns=cols).to_pydict()
        return list(zip(*(t[c] for c in cols)))

    def _check_manifest(self, ctx, rows):
        return oracles.check_manifest(rows, ctx.state.get("stage", {}),
                                      self.DOCS)

    def _check_quality(self, ctx, rows):
        return oracles.check_token_counts(rows, self._truth(ctx))

    def _check_lang(self, ctx, rows):
        return oracles.check_lang(rows, self._truth(ctx))

    # tracing -----------------------------------------------------------

    def instrument_targets(self):
        from faconne_spark.operators import dedup, text

        return [(text, "quality_score", "text.quality_score"),
                (text, "lang_id", "text.lang_id"),
                (dedup, "simhash_pairs", "dedup.simhash_pairs"),
                (dedup, "containment_pairs", "dedup.containment_pairs"),
                (dedup, "connected_components",
                 "dedup.connected_components")]

    def layer_metrics(self, ctx, res):
        """Pair counts at the thresholds the cascade uses against all
        candidates the same operators generate (simhash at hamming 60,
        containment at 0), counted once after the timed passes."""
        from faconne_spark.operators import dedup
        from faconne_spark.queries.pipeline import SIMHASH_MAX_HAM

        docs = self._docs(ctx)
        cand = (dedup.simhash_pairs(docs, 60).count()
                + dedup.containment_pairs(docs, threshold=0.0).count())
        ver = (dedup.simhash_pairs(docs, SIMHASH_MAX_HAM).count()
               + dedup.containment_pairs(docs, threshold=0.3).count())
        dedup.release_caches()
        snap_bytes = sum(
            os.path.getsize(os.path.join(ctx.state["snap"], f))
            for f in os.listdir(ctx.state["snap"]) if f.endswith(".parquet"))
        return {
            "dedup.candidate_pairs": cand,
            "dedup.verified_pairs": ver,
            "dedup.pair_yield": ver / cand if cand else 0.0,
            "dedup.planted_recall": ctx.state.get("recall", 0.0),
            "pipeline.snapshot_bytes_per_input_byte":
                snap_bytes / ctx.state["corpus"]["bytes"],
        }

    def teardown(self, ctx):
        pass


# ---------------------------------------------------------- events_stream


class EventsStream:
    """Two running streaming queries over a directory of event files;
    each operation (and pass) drops one file and waits for both queries
    to process it."""

    name = "events_stream"
    # start() already runs a micro-batch through both queries; the first
    # timed pass measures as fast as later ones
    WARMUP_PASSES = 0
    MIN_PASSES = 1
    EVENTS = 5000
    PROGRESS = {"streaming.trigger_ms": "triggerExecution",
                "streaming.add_batch_ms": "addBatch",
                "streaming.query_planning_ms": "queryPlanning",
                "streaming.wal_commit_ms": "walCommit"}

    def setup(self, ctx, rep):
        base = os.path.join(ctx.work, f"rep{rep}")
        st = {"base": base, "src": os.path.join(base, "events"),
              "staged": os.path.join(base, "staged"), "files": [], "seen": {}}
        os.makedirs(st["src"])
        os.makedirs(st["staged"])
        ctx.state["ev"] = st
        self._drop(st, self._stage(ctx, 0))  # the source needs a schema

    def start(self, ctx):
        from faconne_spark import streaming

        st, spark = ctx.state["ev"], ctx.spark
        win = (streaming.streaming_window_counts(spark, st["src"])
               .writeStream.format("memory").queryName("pb_win")
               .outputMode("complete")
               .option("checkpointLocation", os.path.join(st["base"], "ck_win"))
               .start())
        dd = (streaming.streaming_dedup(spark, st["src"])
              .writeStream.format("memory").queryName("pb_dedup")
              .outputMode("append")
              .option("checkpointLocation",
                      os.path.join(st["base"], "ck_dedup"))
              .start())
        st["queries"] = [win, dd]
        for q in st["queries"]:
            q.processAllAvailable()

    def _stage(self, ctx, index):
        path = os.path.join(ctx.state["ev"]["staged"], f"part-{index:05d}.parquet")
        pq.write_table(gen.event_file(ctx.seed, index, self.EVENTS), path)
        return path

    @staticmethod
    def _drop(st, staged):
        dst = os.path.join(st["src"], os.path.basename(staged))
        os.rename(staged, dst)  # atomic: the source never sees a partial file
        st["files"].append(dst)

    def pass_ops(self, ctx, p):
        staged = self._stage(ctx, len(ctx.state["ev"]["files"]))
        return [Op("batch", self._run(staged), self._observe, self._verify,
                   self.EVENTS)]

    def _run(self, staged):
        def run(ctx):
            st = ctx.state["ev"]
            if ctx.traced_pass:
                st["seen"] = {q.name: (q.lastProgress or {}).get("batchId", -1)
                              for q in st["queries"]}
            self._drop(st, staged)
            for q in st["queries"]:
                q.processAllAvailable()
            if ctx.traced_pass:
                self._record_progress(ctx, st)
            return len(st["files"])

        return run

    def _record_progress(self, ctx, st):
        rec = {k: 0.0 for k in self.PROGRESS}
        rec.update({"streaming.input_rows_per_batch": 0.0,
                    "streaming.state_rows": 0.0, "streaming.state_mb": 0.0})
        for q in st["queries"]:
            last = st["seen"].get(q.name, -1)
            new = [pr for pr in q.recentProgress if pr["batchId"] > last]
            for pr in new:
                for k, d in self.PROGRESS.items():
                    rec[k] += pr["durationMs"].get(d, 0)
                rec["streaming.input_rows_per_batch"] += pr["numInputRows"]
            prog = q.lastProgress
            if prog:
                for so in prog.get("stateOperators", []):
                    rec["streaming.state_rows"] += so["numRowsTotal"]
                    rec["streaming.state_mb"] += so["memoryUsedBytes"] / 2**20
        ctx.state.setdefault("progress", []).append(rec)

    def _observe(self, ctx, n_files):
        windows = {
            (r[0], r[1]): (r[2], r[3])
            for r in ctx.spark.sql(
                "SELECT unix_micros(window_start), event_type, n_events,"
                " sum_value FROM pb_win").collect()
        }
        dedup = tuple(ctx.spark.sql(
            "SELECT count(*), count(DISTINCT event_id) FROM pb_dedup").first())
        return windows, dedup, n_files

    def _verify(self, ctx, got):
        windows, dedup, n_files = got
        want_w, want_d = oracles.events_expected(
            ctx.state["ev"]["files"][:n_files])
        return oracles.check_events(windows, dedup, want_w, want_d)

    def instrument_targets(self):
        return []

    def layer_metrics(self, ctx, res):
        prog = ctx.state.get("progress", [])
        if not prog:
            return {}
        return {k: statistics.median(r[k] for r in prog) for k in prog[0]}

    def teardown(self, ctx):
        st = ctx.state.get("ev")
        for q in (st or {}).get("queries", []):
            q.stop()


WORKLOADS = {w.name: w for w in (DslLiteral, DslNestedBatch, CurationCorpus,
                                 EventsStream)}
