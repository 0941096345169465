"""Seeded input generators.

Every generator is a pure function of its seed and parameters: the same
seed yields byte-identical parquet files, another seed different ones.
The program under test only ever sees the files written here.

Open-loop inputs carry ``due_us``, the event's scheduled send time in
microseconds from the start of its phase, instead of a wall-clock stamp,
so the files stay reproducible; latency is measured against
``phase start + due_us``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_SCHEMA = pa.schema([
    ("order_id", pa.int64()),
    ("customer", pa.int64()),
    ("amount", pa.int64()),
    ("items", pa.list_(pa.struct([("sku", pa.string()),
                                  ("qty", pa.int64())]))),
    ("due_us", pa.int64()),
])
PAYMENT_SCHEMA = pa.schema([
    ("pay_id", pa.int64()),
    ("order_id", pa.int64()),
    ("method", pa.string()),
    ("paid", pa.int64()),
    ("due_us", pa.int64()),
])
COMMAND_SCHEMA = pa.schema([
    ("_id", pa.string()),
    ("_command", pa.string()),
    ("_jwt", pa.map_(pa.string(), pa.string())),
    ("amount", pa.int64()),
    ("seq", pa.int64()),
    ("due_us", pa.int64()),
    ("_ops", pa.list_(pa.struct([("op", pa.string()), ("path", pa.string()),
                                 ("value", pa.int64())]))),
])


def spark_schema(schema: pa.Schema) -> str:
    """The Spark DDL string for one of the schemas above (streaming
    sources are given their schema, so no inference job runs)."""
    def ddl(t: pa.DataType) -> str:
        if pa.types.is_int64(t):
            return "bigint"
        if pa.types.is_string(t):
            return "string"
        if pa.types.is_map(t):
            return f"map<{ddl(t.key_type)},{ddl(t.item_type)}>"
        if pa.types.is_list(t):
            return f"array<{ddl(t.value_type)}>"
        if pa.types.is_struct(t):
            return "struct<" + ",".join(
                f"{f.name}:{ddl(f.type)}" for f in t) + ">"
        raise TypeError(t)
    return ", ".join(f"`{f.name}` {ddl(f.type)}" for f in schema)


def rng_for(seed: int, stream: int) -> np.random.Generator:
    """An independent generator per (seed, input stream)."""
    return np.random.default_rng([seed, stream])


def zipf_keys(rng: np.random.Generator, n: int, distinct: int,
              skew: float) -> np.ndarray:
    """``n`` keys in ``[0, distinct)`` with P(rank k) ~ 1/k**skew; which
    key holds which rank is itself seeded."""
    w = 1.0 / np.arange(1, distinct + 1, dtype=np.float64) ** skew
    ranks = rng.choice(distinct, size=n, p=w / w.sum())
    return rng.permutation(distinct)[ranks]


def write_table(table: pa.Table, path: str) -> None:
    """Write ``table`` so that a directory reader never sees a partial
    file: Spark's file source skips names starting with '.'."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, path)


# -- stream_pipeline: orders + payments ---------------------------------

def order_events(seed: int, first_id: int, n: int, rate: float,
                 customers: int = 500, skew: float = 1.1,
                 pay_share: float = 0.5) -> tuple[pa.Table, pa.Table]:
    """``n`` orders (ids from ``first_id``) due at ``rate`` per second,
    and one payment for about ``pay_share`` of them, due with its
    order."""
    rng = rng_for(seed, 1 + first_id)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    due = (np.arange(n, dtype=np.int64) * 1_000_000 / rate).astype(np.int64)
    n_items = rng.integers(1, 4, size=n)
    skus = rng.integers(0, 200, size=int(n_items.sum()))
    qtys = rng.integers(1, 6, size=int(n_items.sum()))
    items, k = [], 0
    for m in n_items:
        items.append([{"sku": f"sku{skus[k + j]:03d}", "qty": int(qtys[k + j])}
                      for j in range(m)])
        k += m
    orders = pa.table({
        "order_id": ids,
        "customer": zipf_keys(rng, n, customers, skew).astype(np.int64),
        "amount": rng.integers(50, 10_000, size=n, dtype=np.int64),
        "items": items,
        "due_us": due,
    }, schema=ORDER_SCHEMA)
    paid = rng.random(n) < pay_share
    methods = np.array(["card", "bank", "wallet"])
    payments = pa.table({
        "pay_id": ids[paid] + 10**9,
        "order_id": ids[paid],
        "method": methods[rng.integers(0, 3, size=int(paid.sum()))],
        "paid": rng.integers(50, 10_000, size=int(paid.sum()),
                             dtype=np.int64),
        "due_us": due[paid],
    }, schema=PAYMENT_SCHEMA)
    return orders, payments


# -- aggregate_commands: put / patch / add commands ----------------------

def commands(seed: int, first_seq: int, n: int, rate: float,
             ids: int = 2000, skew: float = 1.1,
             seen: set | None = None) -> pa.Table:
    """``n`` aggregate commands with Zipf-distributed ``_id`` over
    ``ids`` distinct instances (the state size).  An instance's first
    command is a ``put``; later ones are 60% ``add``, 30% ``patch`` and
    10% ``put``.  ``seen`` carries the created instances across calls."""
    rng = rng_for(seed, 7 + first_seq)
    seen = set() if seen is None else seen
    keys = zipf_keys(rng, n, ids, skew)
    amounts = rng.integers(0, 1000, size=n, dtype=np.int64)
    roll = rng.random(n)
    seqs = np.arange(first_seq, first_seq + n, dtype=np.int64)
    due = (np.arange(n, dtype=np.int64) * 1_000_000 / rate).astype(np.int64)
    kinds, ops = [], []
    for i in range(n):
        key = int(keys[i])
        if key not in seen or roll[i] < 0.1:
            kind = "put"
        elif roll[i] < 0.4:
            kind = "patch"
        else:
            kind = "add"
        seen.add(key)
        kinds.append(kind)
        ops.append([
            {"op": "add", "path": "/amount", "value": int(amounts[i])},
            {"op": "add", "path": "/seq", "value": int(seqs[i])},
            {"op": "add", "path": "/due_us", "value": int(due[i])},
        ] if kind == "patch" else None)
    return pa.table({
        "_id": [f"acct{k:05d}" for k in keys],
        "_command": kinds,
        "_jwt": [[("sub", "system")]] * n,
        "amount": amounts,
        "seq": seqs,
        "due_us": due,
        "_ops": ops,
    }, schema=COMMAND_SCHEMA)


# -- pipeline_batch: customers, orders, payments, events ------------------

REGIONS = ["north", "south", "east", "west", "central"]
PAGES = [f"/p/{k}" for k in range(40)]
KINDS = ["view", "click", "cart", "buy"]


def shop_tables(seed: int, customers: int = 200, orders: int = 1500,
                events: int = 3000, skew: float = 1.1
                ) -> dict[str, pa.Table]:
    """The relational inputs of ``pipeline_batch``: customers, orders
    (as in :func:`order_events`, over ``customers`` Zipf-skewed buyers),
    their payments, and page events by the same users with Zipf-skewed
    pages."""
    rng = rng_for(seed, 11)
    o, p = order_events(seed, 1, orders, 1000.0, customers=customers,
                        skew=skew)
    cust = pa.table({
        "cust_id": np.arange(customers, dtype=np.int64),
        "name": [f"c{k:04d}" for k in range(customers)],
        "region": np.array(REGIONS)[rng.integers(0, len(REGIONS),
                                                 size=customers)],
        "tier": rng.integers(1, 4, size=customers, dtype=np.int64),
    })
    ev = pa.table({
        "event_id": np.arange(events, dtype=np.int64),
        "user": zipf_keys(rng, events, customers, skew).astype(np.int64),
        "page": np.array(PAGES)[zipf_keys(rng, events, len(PAGES), skew)],
        "kind": np.array(KINDS)[rng.integers(0, len(KINDS), size=events)],
        "ts": np.sort(rng.integers(0, 86_400_000, size=events,
                                   dtype=np.int64)),
        "dwell": rng.integers(1, 600, size=events, dtype=np.int64),
    })
    return {"customers": cust, "orders": o, "payments": p, "events": ev}


# -- curation_batch: HTML corpus + link graph -----------------------------

STOP = ["the", "and", "of", "to", "in", "is", "that", "it", "for", "on",
        "with", "as", "was", "at", "by", "this", "from", "be", "or", "are"]


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    syl = ["ka", "lo", "mi", "ran", "tes", "vu", "po", "sel", "dar", "ni",
           "qua", "ber", "to", "fen", "gri", "mol", "zu", "hat", "ce", "yo"]
    words = set()
    while len(words) < size:
        k = int(rng.integers(2, 4))
        words.add("".join(syl[j] for j in rng.integers(0, len(syl), k)))
    return sorted(words)


def corpus(seed: int, docs: int = 240, dup_share: float = 0.25,
           degree: int = 4, words: int = 160, skew: float = 1.1
           ) -> tuple[pa.Table, pa.Table, dict]:
    """HTML pages, a link graph, and the ground truth.

    ``dup_share`` of the pages are near-duplicates of an earlier
    original (one word replaced); one page in twenty is junk that the
    quality gate must drop.  Each page links to ``degree`` pages chosen
    with Zipf skew.  Returns (docs, links, truth) where truth maps
    ``"origin"`` to each page's original id and ``"junk"`` to the junk
    ids."""
    rng = rng_for(seed, 5)
    vocab = _vocab(rng, 3000)
    texts, origin, junk = [], [], []
    for i in range(docs):
        if i % 20 == 19:
            texts.append(" ".join("#!?" for _ in range(40)))
            origin.append(i)
            junk.append(i)
            continue
        originals = [j for j in range(i) if origin[j] == j and j not in junk]
        if originals and rng.random() < dup_share:
            src = originals[int(rng.integers(0, len(originals)))]
            toks = texts[src].split(" ")
            toks[int(rng.integers(0, len(toks)))] = \
                vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
            origin.append(src)
            continue
        toks = []
        for _ in range(words):
            toks.append(STOP[int(rng.integers(0, len(STOP)))]
                        if rng.random() < 0.3
                        else vocab[int(rng.integers(0, len(vocab)))])
        texts.append(" ".join(toks))
        origin.append(i)
    dst = zipf_keys(rng, docs * degree, docs, skew).astype(np.int64)
    src = np.repeat(np.arange(docs, dtype=np.int64), degree)
    keep = src != dst
    links = pa.table({"src": src[keep], "dst": dst[keep]})
    html = []
    for i, t in enumerate(texts):
        nav = " ".join(f'<a href="/p/{d}">page {d}</a>'
                       for d in dst[i * degree:(i + 1) * degree])
        paras = t.split(" ")
        body = "".join(f"<p>{' '.join(paras[k:k + 40])}.</p>"
                       for k in range(0, len(paras), 40))
        html.append(f"<html><head><title>page {i}</title>"
                    f"<script>var x = {i};</script></head><body>"
                    f"<div class=nav>{nav}</div>{body}</body></html>")
    table = pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "url": [f"https://site{i % 7}.example/p/{i}" for i in range(docs)],
        "html": html,
    })
    return table, links, {"origin": origin, "junk": junk}
