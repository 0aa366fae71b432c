"""Seeded input generators for the lake benchmark.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and returns plain Arrow/NumPy data; the engine only ever sees
the parquet files the benchmark writes from it. The same seed gives the
same rows. The one wall-clock input is the ETL watermark column, which
must track the runner's real run start times (see :class:`EtlStream`).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# Keyed ETL stream (etl_incremental, and the lake_query keyed table)
# --------------------------------------------------------------------------

#: Row layout of the keyed source/target table. ``version`` is the
#: precombine field; ``ingest_ms`` the watermark column.
KEYED_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("version", pa.int64()),
        ("ingest_ms", pa.int64()),
        ("customer", pa.string()),
        ("category", pa.string()),
        ("amount", pa.float64()),
        ("payload", pa.string()),
    ]
)

UPDATE_SHARE = 0.30  # rows of a batch that hit keys already in the table
DUP_SHARE = 0.05  # rows whose key repeats another row of the same batch
STALE_SHARE = 0.05  # update rows carrying an OLDER precombine value
ZIPF_A = 1.2  # recency skew of the updated keys (rank 1 = newest key)
SEED_SPAN_MS = 30 * 24 * 3600 * 1000  # seed rows' watermarks span 30 days


def now_ms() -> int:
    return int(time.time() * 1000)


def wait_past(ms: int) -> None:
    """Sleep until the wall clock reads strictly later than ``ms``, so a
    run started afterwards takes a watermark above every landed row."""
    while now_ms() <= ms:
        time.sleep(0.001)


class EtlStream:
    """Oracle-tracked generator of keyed upsert batches.

    Keys are ``key_stride`` apart, so a stride above 1 leaves in-range
    ids that are never written (point-lookup misses).
    Versions are unique across the stream (normal rows take even values
    from one counter; stale rows take ``current - 1``, odd), so the
    latest row of every key is unambiguous and the expected table is a
    plain max-version-per-key."""

    def __init__(
        self, rng: np.random.Generator, n_keys: int, batch_rows: int, key_stride: int = 1
    ):
        self.rng = rng
        self.stride = key_stride
        self.batch_rows = batch_rows
        self.n_slots = 0  # key slots written so far; slot i is id i * stride
        self.next_version = 2
        # current max version per key, grown on demand
        self.cur = np.zeros(0, dtype=np.int64)
        self.rows_landed = 0
        self.seed_rows = n_keys

    def _versions(self, n: int) -> np.ndarray:
        v = self.next_version + 2 * np.arange(n, dtype=np.int64)
        self.next_version += 2 * n
        return v

    def _table(self, ids: np.ndarray, vers: np.ndarray, ingest: np.ndarray) -> pa.Table:
        n = len(ids)
        rng = self.rng
        return pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "version": pa.array(vers, pa.int64()),
                "ingest_ms": pa.array(ingest, pa.int64()),
                "customer": pa.array(
                    np.char.add("cust_", rng.integers(0, 50_000, n).astype(str))
                ),
                "category": pa.array(
                    np.char.add("cat_", rng.integers(0, 40, n).astype(str))
                ),
                "amount": pa.array(np.round(rng.random(n) * 1000.0, 2)),
                "payload": pa.array(
                    np.char.add("p", rng.integers(0, 10**15, n).astype(str))
                ),
            },
            schema=KEYED_SCHEMA,
        )

    def _track(self, ids: np.ndarray, vers: np.ndarray) -> None:
        top = int(ids.max()) + 1
        self.n_slots = max(self.n_slots, int(ids.max()) // self.stride + 1)
        if top > len(self.cur):
            self.cur = np.concatenate([self.cur, np.zeros(top - len(self.cur), np.int64)])
        np.maximum.at(self.cur, ids, vers)
        self.rows_landed += len(ids)

    def seed_batch(self, end_ms: int) -> pa.Table:
        """The initial full load: keys ``0..n-1`` with watermarks spread
        over the 30 days before ``end_ms`` (all in the past)."""
        n = self.seed_rows
        ids = np.arange(n, dtype=np.int64) * self.stride
        vers = self._versions(n)
        ingest = end_ms - 1 - (self.rng.random(n) * SEED_SPAN_MS).astype(np.int64)
        self._track(ids, vers)
        return self._table(ids, vers, ingest)

    def next_batch(self) -> tuple[np.ndarray, np.ndarray]:
        """(ids, versions) of the next incremental batch. Watermarks are
        stamped at landing time by :meth:`land`."""
        rng, b = self.rng, self.batch_rows
        n_upd = int(b * UPDATE_SHARE)
        # truncated power law over recency ranks 1..n_slots (inverse CDF)
        n = self.n_slots
        top = (n + 1.0) ** (1.0 - ZIPF_A)
        ranks = np.floor((1.0 + rng.random(n_upd) * (top - 1.0)) ** (1.0 / (1.0 - ZIPF_A)))
        upd = (n - np.clip(ranks.astype(np.int64), 1, n)) * self.stride
        new = np.arange(n, n + (b - n_upd), dtype=np.int64) * self.stride
        ids = np.concatenate([upd, new])
        vers = self._versions(b)
        # stale rows: distinct existing keys re-sent with an older version
        n_stale = int(b * STALE_SHARE)
        stale_pos = rng.choice(n_upd, size=n_stale, replace=False)
        keep = np.unique(ids[stale_pos], return_index=True)[1]
        stale_pos = stale_pos[keep]
        vers[stale_pos] = self.cur[ids[stale_pos]] - 1
        # in-batch duplicates: rows that repeat another row's key
        n_dup = int(b * DUP_SHARE)
        normal = np.setdiff1d(np.arange(b), stale_pos)
        dst = rng.choice(normal, size=n_dup, replace=False)
        src = rng.choice(np.setdiff1d(normal, dst), size=n_dup, replace=True)
        ids[dst] = ids[src]
        return ids, vers

    def land(self, path: str, ids: np.ndarray, vers: np.ndarray) -> int:
        """Write one batch with every watermark = now, wait until the
        clock has passed it, and return the file's size in bytes."""
        stamp = now_ms()
        t = self._table(ids, vers, np.full(len(ids), stamp, dtype=np.int64))
        pq.write_table(t, path)
        self._track(ids, vers)
        wait_past(stamp)
        return os.path.getsize(path)


# --------------------------------------------------------------------------
# Star-schema + events fixtures (lake_query analytic scans)
# --------------------------------------------------------------------------

_MS_DAY = 86_400_000
_EPOCH_1995 = 788_918_400_000  # 1995-01-01T00:00:00Z
_EPOCH_2024 = 1_704_067_200_000  # 2024-01-01T00:00:00Z
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_ADJ = np.array(["large", "hot", "blue", "old", "cold", "small", "red", "shiny"])
_NOUN = np.array(["ring", "bolt", "plate", "gear", "widget", "nut", "spring", "valve"])
_TYPES = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"])
_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def _ts_ms(values_ms: np.ndarray) -> pa.Array:
    return pa.array(values_ms.astype("datetime64[ms]"), pa.timestamp("ms"))


def write_fixtures(rng: np.random.Generator, out_dir: str, sf: float) -> dict[str, int]:
    """Write the star schema (region … lineitem) and ``events`` at scale
    factor ``sf`` with the fixture schemas of ``sources.catalog``; return
    rows per table. lineitem has 6M·sf rows, events 1M·sf."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)

    def put(name: str, cols: dict) -> int:
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        return t.num_rows

    rows = {}
    rows["region"] = put(
        "region",
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
    )
    rows["nation"] = put(
        "nation",
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        },
    )
    rows["customer"] = put(
        "customer",
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": np.char.add("Customer#", np.char.zfill(np.arange(n_cust).astype(str), 9)),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
        },
    )
    rows["supplier"] = put(
        "supplier",
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": np.char.add("Supplier#", np.char.zfill(np.arange(n_supp).astype(str), 9)),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        },
    )
    rows["part"] = put(
        "part",
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(
                np.char.add(_ADJ[rng.integers(0, len(_ADJ), n_part)], " "),
                _NOUN[rng.integers(0, len(_NOUN), n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": _TYPES[rng.integers(0, len(_TYPES), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
    )
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    rows["orders"] = put(
        "orders",
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 450_000.0, n_ord), 2),
            "o_orderdate": _ts_ms(_EPOCH_1995 + order_day * _MS_DAY),
            "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)],
        },
    )
    l_order = rng.integers(0, n_ord, n_line)
    rows["lineitem"] = put(
        "lineitem",
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts_ms(
                _EPOCH_1995 + (order_day[l_order] + rng.integers(1, 122, n_line)) * _MS_DAY
            ),
        },
    )
    evt_ts = np.sort(_EPOCH_2024 * 1000 + rng.integers(0, 30 * _MS_DAY * 1000, n_evt))
    rows["events"] = put(
        "events",
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(evt_ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": _EVENT_TYPES[rng.integers(0, 5, n_evt)],
            "value": np.round(rng.uniform(0.0, 200.0, n_evt), 2),
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, n_evt).astype(str)), "}"
            ),
        },
    )
    return rows


# --------------------------------------------------------------------------
# Curation corpus (the lake_query curation pass)
# --------------------------------------------------------------------------

#: Kept here rather than read from ``functions.text.STOPWORDS`` so a
#: change to the engine's lists cannot change the benchmark's inputs.
_LANG_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"),
    "fr": ("le", "la", "de", "et", "un", "une", "les", "des", "que", "pour"),
    "de": ("der", "die", "das", "und", "ein", "eine", "zu", "von", "mit", "ist"),
}


def corpus(
    rng: np.random.Generator, n_docs: int, dup_share: float = 0.10
) -> tuple[pa.Table, list[tuple[int, int]]]:
    """``n_docs`` documents (doc_id, text); ``dup_share`` of them are
    planted near-duplicates of an earlier original (1–2 tokens replaced,
    5-shingle Jaccard well above 0.5). Returns the table and the planted
    (original, copy) id pairs."""
    vocab = np.array([f"w{i}" for i in range(20_000)])
    zipf_p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf_p /= zipf_p.sum()
    langs = list(_LANG_STOPWORDS) + ["und"]
    n_dup = int(n_docs * dup_share)
    n_orig = n_docs - n_dup
    lens = rng.integers(40, 121, n_orig)
    words = vocab[rng.choice(len(vocab), int(lens.sum()), p=zipf_p)]
    stop_draw = rng.random(len(words)) < 0.2
    stop_pick = rng.integers(0, 10, len(words))
    doc_lang = rng.integers(0, len(langs), n_orig)
    texts: list[str] = []
    start = 0
    for d, n_tok in enumerate(lens):
        toks = words[start : start + n_tok].tolist()
        lang = langs[doc_lang[d]]
        if lang != "und":
            stop = _LANG_STOPWORDS[lang]
            for pos in np.flatnonzero(stop_draw[start : start + n_tok]):
                toks[pos] = stop[stop_pick[start + pos]]
        texts.append(" ".join(toks))
        start += n_tok
    originals = rng.choice(n_orig, n_dup, replace=False)
    pairs = []
    for j, src in enumerate(originals):
        toks = texts[src].split(" ")
        for pos in rng.choice(len(toks), int(rng.integers(1, 3)), replace=False):
            toks[pos] = f"x{int(rng.integers(0, 10**6))}"
        texts.append(" ".join(toks))
        pairs.append((int(src), n_orig + j))
    # shuffle ids so planted copies are not a contiguous id range
    perm = rng.permutation(n_docs)
    ids = np.empty(n_docs, dtype=np.int64)
    ids[perm] = np.arange(n_docs)
    table = pa.table(
        {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}
    )
    pairs = [tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in pairs]
    return table, pairs


def embeddings(
    rng: np.random.Generator, n_vecs: int, n_queries: int, dim: int = 64, n_clusters: int = 32
) -> tuple[np.ndarray, np.ndarray]:
    """Clustered float32 vectors (a Gaussian mixture, so an IVF index
    has structure to exploit) and query vectors drawn near corpus
    members."""
    centers = rng.normal(size=(n_clusters, dim))
    vecs = centers[rng.integers(0, n_clusters, n_vecs)] + 0.6 * rng.normal(size=(n_vecs, dim))
    near = vecs[rng.choice(n_vecs, n_queries, replace=False)]
    queries = near + 0.3 * rng.normal(size=(n_queries, dim))
    return vecs.astype(np.float32), queries.astype(np.float32)


def write_parts(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files, the layout a table
    written by ``n_files`` parallel writer tasks has."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(out_dir, f"part-{i:05d}.parquet")
        )


def vectors_table(ids_name: str, vecs: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    lists = pa.ListArray.from_arrays(
        pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32)), flat
    )
    return pa.table(
        {ids_name: pa.array(np.arange(len(vecs)), pa.int64()), "embedding": lists}
    )
