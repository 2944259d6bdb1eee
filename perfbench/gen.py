"""Seeded input generators for the four workloads.

Every generator is a pure function of its seed and size arguments: the
same seed gives byte-identical inputs.  Each returns the inputs the
program is given together with the ground truth the checkers use; the
truth never reaches the program.

Nothing here imports ``faconne_spark``: the oracles built on these
generators must stay independent of the code under test.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------ literals

STORES = ["Gas Station", "Grocer", "Pharmacy", "Hardware", "Bakery",
          "Florist", "Kiosk", "Deli", "Market", "Outlet"]
PRODUCTS = [f"p{i:03d}" for i in range(240)]
DAYS = [f"2024-01-{d:02d}" for d in range(1, 29)]
EVENT_TYPES = ["add-user", "remove-user", "login", "logout", "purchase",
               "refund", "view"]

# The literals of one pass: (kind, range variant).  The store ranges
# are unnest-to-set and invert; the oracles are in oracles.literal_expected.
PASS_LITERALS = (("store", "unnest_set"), ("store", "invert"), ("rows", None),
                 ("pairs", None), ("vector", None))


def count_leaves(obj) -> int:
    """Scalar leaves of a nested literal (map keys count as leaves)."""
    if isinstance(obj, dict):
        return sum(1 + count_leaves(v) for v in obj.values())
    if isinstance(obj, (list, tuple, set, frozenset)):
        return sum(count_leaves(v) for v in obj)
    return 1


def literal(rng: random.Random, kind: str, variant: str | None) -> dict:
    """One nested literal in a shape from the reference's demos.  Sizes
    are fixed per kind (so every pass does the same amount of work);
    keys and values are random.

    Returns ``{"kind", "data", "variant", "target"}``; ``variant`` is the
    range for store literals and ``target`` the pair sum for ``pairs``
    literals."""
    if kind == "store":
        data = {
            store: {aisle: [rng.choice(PRODUCTS) for _ in range(6)]
                    for aisle in rng.sample(range(1, 40), 5)}
            for store in rng.sample(STORES, 6)
        }
        return {"kind": kind, "data": data, "variant": variant,
                "target": None}
    if kind == "rows":
        data = [
            {"day": rng.choice(DAYS[:10]), "type": rng.choice(EVENT_TYPES),
             "v": rng.randint(-50, 500)}
            for _ in range(60)
        ]
        return {"kind": kind, "data": data, "variant": None, "target": None}
    if kind == "pairs":
        keys = rng.sample([f"k{i:02d}" for i in range(60)], 16)
        data = {k: rng.randint(0, 20) for k in keys}
        return {"kind": kind, "data": data, "variant": None,
                "target": rng.randint(8, 30)}
    if kind == "vector":
        data = [rng.randint(-1000, 1000) for _ in range(200)]
        return {"kind": kind, "data": data, "variant": None, "target": None}
    raise ValueError(f"unknown literal kind {kind!r}")


def literal_pool(seed: int, passes: int) -> list[dict]:
    """The literals of ``passes`` passes, :data:`PASS_LITERALS` each."""
    rng = random.Random(seed)
    return [literal(rng, kind, variant)
            for _ in range(passes) for kind, variant in PASS_LITERALS]


# ------------------------------------------------- nested lines table

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
N_SKUS = 2000


def lines_relation(seed: int, n_lines: int) -> pa.Table:
    """The flat line relation: one row per order line, sorted by
    (customer_id, order_id, line_no).  Orders hold 1-7 lines, customers
    1-19 orders; SKUs are Zipf-skewed so the regroup has hot keys."""
    rng = np.random.default_rng(seed)
    per_order = rng.integers(1, 8, size=n_lines // 2 + 8)
    ends = np.cumsum(per_order)
    n_orders = int(np.searchsorted(ends, n_lines)) + 1
    per_order = per_order[:n_orders].copy()
    per_order[-1] -= int(ends[n_orders - 1]) - n_lines
    per_cust = rng.integers(1, 20, size=n_orders + 8)
    cends = np.cumsum(per_cust)
    n_cust = int(np.searchsorted(cends, n_orders)) + 1
    per_cust = per_cust[:n_cust].copy()
    per_cust[-1] -= int(cends[n_cust - 1]) - n_orders

    order_cust = np.repeat(np.arange(n_cust, dtype=np.int64), per_cust)
    order_id = rng.permutation(n_orders).astype(np.int64) * 7 + 3
    order_day = rng.integers(0, 365, size=n_orders, dtype=np.int32)
    cust_seg = rng.integers(0, len(SEGMENTS), size=n_cust)

    line_order = np.repeat(np.arange(n_orders), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    line_no = (np.arange(n_lines) - starts + 1).astype(np.int32)
    sku = (rng.zipf(1.3, size=n_lines) - 1) % N_SKUS
    qty = rng.integers(1, 51, size=n_lines, dtype=np.int64)
    price = rng.integers(100, 10_000, size=n_lines, dtype=np.int64)
    cust = order_cust[line_order]
    return pa.table({
        "customer_id": pa.array(cust * 11 + 5, pa.int64()),
        "segment": pa.array(np.asarray(SEGMENTS, dtype=object)[cust_seg[cust]],
                            pa.string()),
        "order_id": pa.array(order_id[line_order], pa.int64()),
        "day": pa.array(order_day[line_order], pa.int32()),
        "line_no": pa.array(line_no, pa.int32()),
        "sku": pa.array(sku.astype(np.int64), pa.int64()),
        "qty": pa.array(qty, pa.int64()),
        "price": pa.array(price, pa.int64()),
    })


def nest_lines(flat: pa.Table) -> pa.Table:
    """customers -> orders -> lines, built from the sorted flat relation
    with list offsets (no per-row Python)."""
    n = flat.num_rows
    oid = flat["order_id"].to_numpy()
    cid = flat["customer_id"].to_numpy()
    o_start = np.flatnonzero(np.r_[True, oid[1:] != oid[:-1]])
    lines = pa.StructArray.from_arrays(
        [flat["sku"].combine_chunks(), flat["qty"].combine_chunks(),
         flat["price"].combine_chunks()],
        names=["sku", "qty", "price"],
    )
    lines_list = pa.ListArray.from_arrays(
        pa.array(np.r_[o_start, n], pa.int32()), lines)
    orders = pa.StructArray.from_arrays(
        [flat["order_id"].combine_chunks().take(pa.array(o_start)),
         flat["day"].combine_chunks().take(pa.array(o_start)),
         lines_list],
        names=["order_id", "day", "lines"],
    )
    oc = cid[o_start]
    c_start = np.flatnonzero(np.r_[True, oc[1:] != oc[:-1]])
    orders_list = pa.ListArray.from_arrays(
        pa.array(np.r_[c_start, len(o_start)], pa.int32()), orders)
    first_line = pa.array(o_start[c_start])
    return pa.table({
        "customer_id": flat["customer_id"].combine_chunks().take(first_line),
        "segment": flat["segment"].combine_chunks().take(first_line),
        "orders": orders_list,
    })


def write_lines_table(seed: int, n_lines: int, out_dir: str) -> dict:
    """Write ``customers.parquet`` (the program's input, nested) and
    ``lines_flat.parquet`` (the oracle's truth) under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    flat = lines_relation(seed, n_lines)
    nested = nest_lines(flat)
    paths = {"nested": os.path.join(out_dir, "customers.parquet"),
             "flat": os.path.join(out_dir, "lines_flat.parquet")}
    # several row groups so the scan splits across cores
    pq.write_table(nested, paths["nested"],
                   row_group_size=max(1, nested.num_rows // 8))
    pq.write_table(flat, paths["flat"])
    return {**paths, "lines": n_lines, "customers": nested.num_rows}


# ------------------------------------------------- curation corpus

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "por", "con", "una"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "que", "pour", "dans"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist",
           "nicht"],
    "zh": ["de5", "shi4", "bu4", "le5", "wo3", "you3", "zai4", "ta1", "men5",
           "zhe4"],
}
EXACT_RATE = 0.05  # share of documents planted as exact copies
NEAR_RATE = 0.05   # share planted as near copies
SYLLABLES = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "zu",
             "an", "el", "or", "is", "um", "qu", "bre", "sto", "gla", "fin"]


def _vocab(rng: random.Random, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(SYLLABLES)
                          for _ in range(rng.randint(2, 4))))
    return sorted(words)


def corpus(seed: int, n_docs: int) -> tuple[pa.Table, dict]:
    """A document corpus with planted exact and near duplicates.

    Base documents draw 40-120 tokens: the language's stopwords at rate
    0.35, otherwise content words from a Zipf-skewed synthetic
    vocabulary.  An exact copy re-cases and re-spaces an earlier base
    document (the same text once normalised); a near copy substitutes 1
    or 2 tokens of one, each by a different word.  Copies always get a
    larger ``doc_id`` than their original, so the original is the keeper.

    Truth: ``exact`` (copy -> original), ``near`` (copy -> original),
    ``lang`` and ``n_tokens`` per document."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 3000)
    weights = [1.0 / (i + 1) ** 0.9 for i in range(len(vocab))]
    langs = sorted(STOPWORDS)
    texts, lang_of, ntok = [], [], []
    base_ids: list[int] = []
    exact, near = {}, {}
    for doc_id in range(n_docs):
        u = rng.random()
        if base_ids and u < EXACT_RATE:
            src = rng.choice(base_ids)
            toks = texts[src].split(" ")
            text = "  ".join(t.upper() if rng.random() < 0.3 else t
                             for t in toks) + " "
            exact[doc_id] = src
            lang, n = lang_of[src], ntok[src]
        elif base_ids and u < EXACT_RATE + NEAR_RATE:
            src = rng.choice(base_ids)
            orig = texts[src].split(" ")
            toks = list(orig)
            for _ in range(rng.randint(1, 2)):
                word = rng.choice(vocab)
                i = rng.randrange(len(toks))
                while word == orig[i]:  # else the copy could be exact
                    word = rng.choice(vocab)
                toks[i] = word
            text = " ".join(toks)
            assert text != texts[src]
            near[doc_id] = src
            lang, n = lang_of[src], len(toks)
        else:
            lang = rng.choice(langs)
            n = rng.randint(40, 120)
            sw = STOPWORDS[lang]
            content = rng.choices(vocab, weights=weights, k=n)
            toks = [rng.choice(sw) if rng.random() < 0.35 else content[i]
                    for i in range(n)]
            text = " ".join(toks)
            base_ids.append(doc_id)
        texts.append(text)
        lang_of.append(lang)
        ntok.append(n)
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang_of, pa.string()),
        "source": pa.array([f"src{i % 7}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    truth = {"exact": exact, "near": near,
             "lang": dict(enumerate(lang_of)),
             "n_tokens": dict(enumerate(ntok))}
    return table, truth


def write_corpus(seed: int, n_docs: int, out_dir: str) -> dict:
    """Write ``documents.parquet`` (the program's input) under ``out_dir``
    and return the planted truth with the file size."""
    os.makedirs(out_dir, exist_ok=True)
    table, truth = corpus(seed, n_docs)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path)
    return {"path": path, "bytes": os.path.getsize(path), "truth": truth,
            "docs": n_docs}


# ------------------------------------------------------ event files

EVENT_KINDS = ["view", "click", "cart", "purchase", "error"]
N_USERS = 5000
DUP_RATE = 0.02  # share of rows re-sending an earlier event of the file
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def event_file(seed: int, index: int, n_events: int) -> pa.Table:
    """Events of micro-batch ``index``: Zipf-skewed users, timestamps
    spread over a two-hour span starting ``index`` hours after the
    epoch (so consecutive files share windows), and :data:`DUP_RATE` of the
    rows re-sending an earlier event of the same file."""
    rng = np.random.default_rng([seed, index])
    event_id = np.arange(n_events, dtype=np.int64) + index * n_events
    offs = rng.integers(0, 2 * 3600 * 10**6, size=n_events)
    ts_us = int(EPOCH.timestamp() * 10**6) + index * 3600 * 10**6 + offs
    user = (rng.zipf(1.4, size=n_events) - 1) % N_USERS
    kind = rng.integers(0, len(EVENT_KINDS), size=n_events)
    value = rng.integers(0, 100_000, size=n_events) / 100.0
    n_dup = int(n_events * DUP_RATE)
    dst = rng.choice(np.arange(1, n_events), size=n_dup, replace=False)
    src = (rng.random(n_dup) * dst).astype(np.int64)  # an earlier row
    for col in (event_id, ts_us, user, kind, value):
        col[dst] = col[src]
    return pa.table({
        "event_id": pa.array(event_id, pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64), pa.int64()),
        "event_type": pa.array(np.asarray(EVENT_KINDS, dtype=object)[kind],
                               pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in offs % 100],
                          pa.string()),
    })
