"""Correctness checks that do not use the code under test.

* ``dsl_literal``: pure-Python oracles over the generated literal.
* ``dsl_nested_batch`` and ``events_stream``: DuckDB over the flat
  relations the generators wrote next to the program's inputs.
* ``curation_corpus``: the planted truth from :func:`gen.corpus`.

Every checker returns a list of mismatch descriptions; an empty list
means the output is correct.  ``selfcheck.py`` feeds each checker a
perturbed output to prove it is not vacuous.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import duckdb

# ------------------------------------------------------------ literals


def literal_expected(lit: dict):
    """What the reference's ``transform`` returns for ``lit`` under the
    range the workload pairs with its kind (see ``DslLiteral._spec`` in workloads.py)."""
    kind, data = lit["kind"], lit["data"]
    if kind == "store":
        variant = lit["variant"]
        if variant == "unnest_set":
            return {s: {p for ps in aisles.values() for p in ps}
                    for s, aisles in data.items()}
        if variant == "invert":
            out = defaultdict(set)
            for s, aisles in data.items():
                for ps in aisles.values():
                    for p in ps:
                        out[p].add(s)
            return dict(out)
        raise ValueError(variant)
    if kind == "rows":
        out = defaultdict(lambda: defaultdict(int))
        for r in data:
            out[r["day"]][r["type"]] += r["v"]
        return {d: dict(t) for d, t in out.items()}
    if kind == "pairs":
        t = lit["target"]
        return {tuple(sorted((k, k2)))
                for k, v in data.items() for k2, v2 in data.items()
                if k != k2 and v + v2 == t}
    if kind == "vector":
        return [data[i] + data[i + 1] for i in range(0, len(data), 2)]
    raise ValueError(kind)


def check_literal(lit: dict, got) -> list[str]:
    want = literal_expected(lit)
    if got == want:
        return []
    return [f"{lit['kind']}/{lit['variant']}: got {_clip(got)} want {_clip(want)}"]


def _clip(x, n: int = 160) -> str:
    s = repr(x)
    return s if len(s) <= n else s[:n] + "..."


# ------------------------------------------------- nested lines table

# DuckDB over the flat relation, one query per nested-batch transform;
# each returns the same fingerprint the workload computes from the
# program's output.  ``{f}`` is the flat parquet path.
NESTED_ORACLES = {
    "unnest": """
        SELECT count(*), sum(qty), sum(customer_id), sum(order_id), sum(sku)
        FROM read_parquet('{f}')""",
    "invert": """
        SELECT count(*), sum(o), sum(c), sum((o * 31 + c) % 1000003)
        FROM (SELECT DISTINCT order_id AS o, customer_id AS c
              FROM read_parquet('{f}'))""",
    "deep_where": """
        SELECT count(*), sum(n), sum(s) FROM (
          SELECT customer_id, count(DISTINCT sku) AS n,
                 sum(DISTINCT sku) AS s
          FROM read_parquet('{f}')
          WHERE qty > 40 AND price < 2000 AND day < 100
          GROUP BY customer_id)""",
    "merge": """
        SELECT count(*), sum(n_orders), sum(order_sum), sum(n_skus),
               sum(qty_sum) FROM (
          SELECT customer_id, count(DISTINCT order_id) AS n_orders,
                 sum(DISTINCT order_id) AS order_sum,
                 count(DISTINCT sku) AS n_skus, sum(qty) AS qty_sum
          FROM read_parquet('{f}') GROUP BY customer_id)""",
}

# The same fingerprint read straight from the parquet the program wrote
# for the ``merge`` transform (a DuckDB read: no Spark on this side).
MERGE_OUTPUT_FINGERPRINT = """
    SELECT count(*), sum(len(orders)), sum(list_sum(orders)),
           sum(cardinality(skus)), sum(list_sum(map_values(skus)))
    FROM read_parquet('{d}/*.parquet')"""


def nested_expected(name: str, flat_path: str):
    """The oracle value for transform ``name``: a fingerprint tuple, or
    the full nested object for the small ``regroup`` / ``expand``
    results."""
    con = duckdb.connect()
    try:
        if name in NESTED_ORACLES:
            row = con.execute(NESTED_ORACLES[name].format(f=flat_path)).fetchone()
            return tuple(int(v) for v in row)
        if name == "regroup":
            out = defaultdict(dict)
            for sku, seg, q in con.execute(
                f"SELECT sku, segment, sum(qty) FROM read_parquet('{flat_path}')"
                " GROUP BY ALL"
            ).fetchall():
                out[sku][seg] = int(q)
            return dict(out)
        if name == "expand":
            return {
                seg: {"n_orders": int(n), "revenue": int(r)}
                for seg, n, r in con.execute(
                    "SELECT segment, count(DISTINCT order_id),"
                    f" sum(qty * price) FROM read_parquet('{flat_path}')"
                    " GROUP BY ALL"
                ).fetchall()
            }
    finally:
        con.close()
    raise ValueError(name)


def merge_output_fingerprint(out_dir: str) -> tuple:
    con = duckdb.connect()
    try:
        row = con.execute(MERGE_OUTPUT_FINGERPRINT.format(d=out_dir)).fetchone()
    finally:
        con.close()
    return tuple(int(v) for v in row)


def check_nested(name: str, got, want) -> list[str]:
    if got == want:
        return []
    return [f"{name}: got {_clip(got)} want {_clip(want)}"]


# ------------------------------------------------- curation corpus

NEAR_RECALL_MIN = 0.9   # planted near copies flagged by some dedup stage
LANG_ACCURACY_MIN = 0.9  # stopword language id against the planted language


def check_exact_groups(rows, truth: dict, n_docs: int) -> list[str]:
    """``rows``: (keeper_id, n_copies) per fingerprint group from
    ``exact_dedup``.  Every document that is not a planted copy keeps
    its own group, and every planted copy joins its original's."""
    copies = Counter(truth["exact"].values())
    want = {d: 1 + copies.get(d, 0)
            for d in range(n_docs) if d not in truth["exact"]}
    got = dict(rows)
    if len(got) != len(rows) or got != want:
        bad = sorted(k for k in got.keys() | want.keys()
                     if got.get(k) != want.get(k))
        return [f"exact groups: {len(rows)} groups, {len(want)} expected;"
                f" keepers differing {_clip(bad)}"]
    return []


def near_recall(stage: dict, truth: dict) -> float:
    near = truth["near"]
    hit = sum(1 for d in near if stage.get(d) not in (None, "keep"))
    return hit / len(near) if near else 1.0


def check_cascade(pairs, truth: dict, n_docs: int) -> list[str]:
    """``pairs``: (doc_id, verdict) rows of the cascade snapshot."""
    errs = []
    stage = dict(pairs)
    if len(pairs) != n_docs or sorted(stage) != list(range(n_docs)):
        errs.append(f"cascade: {len(pairs)} rows ({len(stage)} distinct)"
                    f" for {n_docs} docs")
    flagged = {d for d, s in stage.items() if s == "exact"}
    if flagged != set(truth["exact"]):
        missing = set(truth["exact"]) - flagged
        extra = flagged - set(truth["exact"])
        errs.append(f"cascade exact: missing {_clip(sorted(missing))}"
                    f" extra {_clip(sorted(extra))}")
    r = near_recall(stage, truth)
    if r < NEAR_RECALL_MIN:
        errs.append(f"cascade near recall {r:.3f} < {NEAR_RECALL_MIN}")
    return errs


def check_manifest(rows, stage: dict, n_docs: int) -> list[str]:
    """``rows``: (doc_id, stage, quality_keep, sampled, selected)."""
    errs = []
    ids = [r[0] for r in rows]
    if sorted(ids) != list(range(n_docs)):
        errs.append(f"manifest: {len(ids)} rows ({len(set(ids))} distinct)"
                    f" for {n_docs} docs")
    bad = [r[0] for r in rows
           if r[1] != stage.get(r[0])
           or r[4] != (r[1] == "keep" and r[2] and r[3])]
    if bad:
        errs.append(f"manifest rows disagree with the snapshot: {_clip(bad)}")
    return errs


def check_token_counts(rows, truth: dict) -> list[str]:
    """``rows``: (doc_id, n_tokens) from ``quality_score``."""
    want = truth["n_tokens"]
    bad = [d for d, n in rows if want.get(d) != n]
    if bad or len(rows) != len(want):
        return [f"quality n_tokens: {len(bad)} wrong of {len(rows)}"
                f" (want {len(want)} rows): {_clip(bad)}"]
    return []


def lang_accuracy(rows, truth: dict) -> float:
    want = truth["lang"]
    return sum(1 for d, p in rows if want.get(d) == p) / max(len(want), 1)


def check_lang(rows, truth: dict) -> list[str]:
    """``rows``: (doc_id, pred_lang) from ``lang_id``."""
    if len(rows) != len(truth["lang"]):
        return [f"lang_id: {len(rows)} rows for {len(truth['lang'])} docs"]
    acc = lang_accuracy(rows, truth)
    if acc < LANG_ACCURACY_MIN:
        return [f"lang_id accuracy {acc:.3f} < {LANG_ACCURACY_MIN}"]
    return []


# ------------------------------------------------------ event stream

WINDOWS_SQL = """
    SELECT epoch_us(time_bucket(INTERVAL 1 hour, ts)) AS w, event_type,
           count(*) AS n, sum(value) AS s
    FROM read_parquet({files}) GROUP BY ALL"""
DISTINCT_SQL = "SELECT count(DISTINCT event_id) FROM read_parquet({files})"


def events_expected(files: list[str]) -> tuple[dict, int]:
    """Window counts and the distinct event count over ``files``."""
    lit = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    con = duckdb.connect()
    try:
        windows = {(int(w), t): (int(n), float(s))
                   for w, t, n, s in con.execute(
                       WINDOWS_SQL.format(files=lit)).fetchall()}
        distinct = int(con.execute(DISTINCT_SQL.format(files=lit)).fetchone()[0])
    finally:
        con.close()
    return windows, distinct


def check_events(windows: dict, dedup: tuple[int, int], want_windows: dict,
                 want_distinct: int) -> list[str]:
    """``windows``: (window start µs, event_type) -> (count, rounded sum);
    ``dedup``: (rows, distinct event ids) in the dedup sink.  Sums are
    compared to 1e-6 relative: the engine rounds to 6 decimals and adds
    in another order than DuckDB."""
    errs = []
    if windows.keys() != want_windows.keys():
        errs.append(f"windows: got {len(windows)} keys want {len(want_windows)}")
    else:
        bad = [k for k, (n, s) in windows.items()
               if n != want_windows[k][0]
               or not math.isclose(s, want_windows[k][1], rel_tol=1e-6,
                                   abs_tol=1e-6)]
        if bad:
            errs.append(f"windows differ at {_clip(sorted(bad))}")
    if dedup != (want_distinct, want_distinct):
        errs.append(f"dedup sink rows/distinct {dedup} want {want_distinct}")
    return errs
