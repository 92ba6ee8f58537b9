"""Seeded inputs for the benchmark: the tables and the operation sequences.

Everything here is a pure function of the seed. Nothing reads the clock or
the environment, so two calls with one seed give byte-identical tables and
operations, whatever the timing of the run (``selftest.py`` checks this).
The tables follow the star-schema + events + corpus shape of the test data
(TESTDATA.md) at a size that lets one run finish inside the benchmark's
time budget on a 4-core host.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

N_USERS = 1500
N_EVENTS = 30_000
N_CUSTOMERS = 1_500
N_ORDERS = 15_000
N_LINEITEMS = 60_000
N_DOCS = 1_200
N_VECS = 600
EMB_DIM = 64

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
LANGS = ("en", "en", "de", "fr", "es", "zh")
WORDS = (
    "a agg batch big column data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table value "
    "window bitmap shard field index fragment view time range count top "
    "union xor set clear import export bucket offset spool batch schema "
    "plan stage task shuffle spill cache heap page block vector embed"
).split()

#: Zipf exponent of the user_id draws in serve_mixed: a few hot users take
#: most reads, as on a real serving tier.
ZIPF_S = 1.1


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a draw to one
    stream never shifts another."""
    tag = int.from_bytes(stream.encode(), "little") % (1 << 63)
    return np.random.default_rng([seed, tag])


def _us(d: dt.datetime) -> int:
    return int(d.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


# ---------------------------------------------------------------- tables


def events(seed: int) -> dict:
    r = _rng(seed, "events")
    t0, t1 = _us(dt.datetime(2024, 1, 1)), _us(dt.datetime(2024, 1, 31))
    return {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": np.sort(r.integers(t0, t1, N_EVENTS)),
        "user_id": r.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, N_EVENTS)],
        "value": np.round(r.gamma(2.0, 40.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, N_EVENTS)],
    }


def customer(seed: int) -> dict:
    r = _rng(seed, "customer")
    return {
        "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": r.integers(0, 25, N_CUSTOMERS).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, N_CUSTOMERS)],
    }


def orders(seed: int) -> dict:
    r = _rng(seed, "orders")
    d0 = _us(dt.datetime(1995, 1, 1))
    day = 86_400_000_000
    return {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": r.integers(0, N_CUSTOMERS, N_ORDERS).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(r.uniform(1000, 500_000, N_ORDERS), 2),
        "o_orderdate": d0 + r.integers(0, 2404, N_ORDERS) * day,
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, N_ORDERS)],
    }


def lineitem(seed: int) -> dict:
    r = _rng(seed, "lineitem")
    d0 = _us(dt.datetime(1995, 1, 2))
    day = 86_400_000_000
    qty = r.integers(1, 51, N_LINEITEMS).astype(np.float64)
    flags = r.integers(0, 3, N_LINEITEMS)
    return {
        "l_orderkey": r.integers(0, N_ORDERS, N_LINEITEMS).astype(np.int64),
        "l_partkey": r.integers(0, 2000, N_LINEITEMS).astype(np.int64),
        "l_suppkey": r.integers(0, 100, N_LINEITEMS).astype(np.int64),
        "l_linenumber": r.integers(1, 8, N_LINEITEMS).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2000, N_LINEITEMS), 2),
        "l_discount": r.integers(0, 11, N_LINEITEMS) / 100.0,
        "l_tax": r.integers(0, 9, N_LINEITEMS) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in flags],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, N_LINEITEMS)],
        "l_shipdate": d0 + r.integers(0, 2498, N_LINEITEMS) * day,
    }


def documents(seed: int) -> dict:
    """A corpus with planted near-duplicates: about 12% of documents copy an
    earlier document of at least 30 words, some of them copies of copies,
    so the dedup keys find chains, not only pairs. Like the test corpus,
    where every pair is either unrelated (4-shingle Jaccard near 0) or a
    near-copy (Jaccard >= 0.8), a copy is exact or has its last word
    replaced (Jaccard >= 0.93). Pairs near the 0.5 threshold are left out:
    there the 8-band MinHash LSH finds a pair with probability 0.4 by
    design, and the exact oracle would count each miss as a wrong answer.

    The shape (lengths, which document copies which, languages) is the same
    for every seed, so every seed gives the dedup keys the same amount of
    work (candidate pairs, component sizes, CC rounds); the seed draws the
    words."""
    shape = _rng(0, "documents-shape")
    r = _rng(seed, "documents")
    texts: list[str] = []
    long_docs: list[int] = []
    for i in range(N_DOCS):
        if long_docs and shape.random() < 0.12:
            words = texts[long_docs[int(shape.integers(0, len(long_docs)))]].split(" ")
            if shape.random() < 0.6:
                words[-1] = WORDS[int(r.integers(0, len(WORDS)))]
        else:
            n = int(shape.integers(8, 96))
            words = [WORDS[j] for j in r.integers(0, len(WORDS), n)]
        texts.append(" ".join(words))
        if len(words) >= 30:
            long_docs.append(i)
    return {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in shape.integers(0, len(LANGS), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(seed: int) -> dict:
    """Unit vectors around 10 weak cluster centres, with about 8% noisy
    copies of an earlier vector (the near-dup pairs the SRP LSH must find).
    Which vector copies which, and the labels, are the same for every seed;
    the seed draws the vectors."""
    shape = _rng(0, "embeddings-shape")
    r = _rng(seed, "embeddings")
    centres = r.normal(size=(10, EMB_DIM))
    labels = shape.integers(0, 10, N_VECS)
    vecs = r.normal(size=(N_VECS, EMB_DIM)) + 0.25 * centres[labels]
    for i in range(20, N_VECS):
        if shape.random() < 0.08:
            j = int(shape.integers(0, i))
            vecs[i] = vecs[j] / np.linalg.norm(vecs[j]) * 8 + r.normal(
                size=EMB_DIM
            )
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": vecs.astype(np.float32),
        "label": labels.astype(np.int32),
    }


TABLE_MAKERS = {
    "events": events,
    "customer": customer,
    "orders": orders,
    "lineitem": lineitem,
    "documents": documents,
    "embeddings": embeddings,
}

_TS_COLS = {"ts", "o_orderdate", "l_shipdate"}


def write_tables(seed: int, out_dir: str, names) -> None:
    """Write the named tables as ``<out_dir>/<name>.parquet`` — the layout
    ``session.load_tables`` and ``verify.duck_connection`` read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        cols = {}
        for col, v in TABLE_MAKERS[name](seed).items():
            if col in _TS_COLS:
                cols[col] = pa.array(v, type=pa.timestamp("us"))
            elif col == "embedding":
                cols[col] = pa.FixedSizeListArray.from_arrays(
                    pa.array(v.reshape(-1)), EMB_DIM
                ).cast(pa.list_(pa.float32()))
            else:
                cols[col] = pa.array(v)
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


# ------------------------------------------------------------ operations


#: serve_mixed operations of every block of SERVE_BLOCK: (class, kind,
#: user, count). Fixed counts per block, rather than a weighted draw, give
#: every seed the same mix, so the all-operation percentiles compare like
#: with like across seeds. Sorted by latency the classes run routed < scan
#: < SQL; with 6/5/5 the all-operation median falls inside the scan class's
#: count_and cluster instead of on the routed/scan boundary, where it would
#: flip between two modes. ``user`` fixes the fragment-cache outcome of a
#: routed read of a user_id row: "new" reads a user no routed read touched
#: before (a first-touch miss), "seen" one that was (a hit). A free draw
#: let the misses per block range from 0 to 4 between seeds, at about
#: 100 ms each.
SERVE_BLOCK_MIX = (
    ("pql_routed", "count_and", "new", 1),
    ("pql_routed", "count_and", "seen", 1),
    ("pql_routed", "sum_user", "new", 1),
    ("pql_routed", "sum_user", "seen", 1),
    ("pql_routed", "count_bsi", "any", 2),
    ("pql_scan", "count_and", "any", 2),
    ("pql_scan", "groupby", "any", 2),
    ("pql_scan", "topk", "any", 1),
    ("sql", "q1", None, 3),
    ("sql", "join", None, 2),
)
SERVE_BLOCK = sum(n for *_, n in SERVE_BLOCK_MIX)


def serve_ops(seed: int, n_blocks: int) -> list[dict]:
    """The serve_mixed operation sequence: ``n_blocks`` blocks, each a
    seeded shuffle of SERVE_BLOCK_MIX. Each op is ``{"cls", "kind",
    "touch", ...}`` with the parameters its text is built from. User ids are Zipf(ZIPF_S)-
    skewed over all N_USERS ids (which id is hot is itself seeded),
    restricted to unseen or seen ids where the mix says so."""
    r = _rng(seed, "serve_ops")
    weight = np.empty(N_USERS)
    weight[r.permutation(N_USERS)] = np.arange(1, N_USERS + 1, dtype=np.float64) ** -ZIPF_S
    seen = np.zeros(N_USERS, dtype=bool)  # user ids a routed read touched

    def draw(mask: np.ndarray) -> int:
        w = np.where(mask, weight, 0.0)
        return int(r.choice(N_USERS, p=w / w.sum()))

    block = [(c, k, u) for c, k, u, n in SERVE_BLOCK_MIX for _ in range(n)]
    ops: list[dict] = []
    for _ in range(n_blocks):
        for i in r.permutation(len(block)):
            cls, kind, touch = block[int(i)]
            op = {"cls": cls, "kind": kind, "touch": touch}
            if cls == "sql":
                day = dt.date(1995, 6, 1) + dt.timedelta(days=int(r.integers(0, 2000)))
                op.update(date=day.isoformat(), segment=SEGMENTS[int(r.integers(0, 5))])
            else:
                # the first "seen" read of a run has nothing seen yet
                u = draw(seen if touch == "seen" and seen.any()
                         else ~seen if touch in ("new", "seen") else np.ones_like(seen))
                if touch != "any":
                    seen[u] = True
                op.update(user=u, etype=EVENT_TYPES[int(r.integers(0, 5))],
                          v=int(r.integers(20, 200)))
            ops.append(op)
    return ops


#: ingest_serve: records per spool segment, and the share that overwrite an
#: already-imported _id (the rest are new ids).
INGEST_BATCH = 200
INGEST_OVERWRITE = 0.2
INGEST_ETYPES = ("click", "view", "buy", "share")


def ingest_steps(seed: int, n_steps: int) -> list[dict]:
    """The ingest_serve sequence: per step one NDJSON segment of
    INGEST_BATCH records and the parameters of the step's two routed reads.
    Record ``_id``s are unique within a segment."""
    r = _rng(seed, "ingest")
    next_id = 0
    steps = []
    for _ in range(n_steps):
        n_old = int(round(INGEST_BATCH * INGEST_OVERWRITE)) if next_id else 0
        old = (
            r.choice(next_id, size=n_old, replace=False).tolist()
            if n_old
            else []
        )
        new = list(range(next_id, next_id + INGEST_BATCH - n_old))
        next_id += len(new)
        ids = [int(i) for i in r.permutation(old + new)]
        recs = [
            {
                "_id": i,
                "etype": INGEST_ETYPES[int(r.integers(0, 4))],
                "score": int(r.integers(0, 1001)),
            }
            for i in ids
        ]
        steps.append({
            "records": recs,
            "count_etype": INGEST_ETYPES[int(r.integers(0, 4))],
            "sum_etype": INGEST_ETYPES[int(r.integers(0, 4))],
        })
    return steps

