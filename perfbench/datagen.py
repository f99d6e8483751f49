"""Seeded input generator for the benchmark.

``make_tables(out_dir, seed, read)`` writes the ten fixture tables (the
FIXTURES.md schema) as parquet.  The tables a workload reads, named in
``read``, are shaped like the sf0.1 fixture set: the same row counts,
value domains and duplicate structure.  The others are shrunk to
``TINY`` of that size; they only need to exist, for the DuckDB twins
that attach every table.

``make_backlog(in_dir, seed, job, n_files)`` writes one file_drain
backlog: ``n_files`` opaque files whose sizes are log-uniform between
1 KiB and 256 KiB, stratified so that backlogs hold about equal bytes.

Both return a manifest of row (or file) counts, bytes and a content
hash; the same arguments give the same hash.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Row counts of the sf0.1 fixture set.
BASE_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
             "orders": 150_000, "events": 100_000, "documents": 5_000,
             "embeddings": 2_000}
N_USERS = 1_500
TINY = 0.001               # scale of the tables a workload does not read
ROW_GROUP = 65_536

VOCAB = ("spark", "window", "merge", "table", "column", "vector",
         "stream", "value", "data", "small", "join", "filter", "big",
         "group", "hash", "customer", "sort", "order", "slow", "line",
         "part", "fast", "row", "the", "agg", "key", "query", "a",
         "scan", "batch")
NEAR_DUP_SHARE = 0.05      # documents that copy an earlier one + " dup"
EXACT_DUP_SHARE = 0.0016   # documents that copy an earlier one verbatim

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float,
           n: int) -> np.ndarray:
    """Two-decimal amounts, exact as cents."""
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1,
                                 n) / 100.0, 2)


def _rows(name: str, scale: float) -> int:
    return max(1, round(BASE_ROWS[name] * scale))


def _base_star(rng: np.random.Generator,
               scale: float = 1.0) -> dict[str, pa.Table]:
    n_c, n_s, n_p, n_o = (_rows(t, scale) for t in
                          ("customer", "supplier", "part", "orders"))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                       "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)],
                                    pa.int32())}),
    }
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": segs[rng.integers(0, 5, n_c)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s)})
    colors = np.array(["large", "hot", "blue", "green", "red", "pale",
                       "dark", "light"])
    nouns = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
    out["part"] = pa.table({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": np.char.add(np.char.add(
            colors[rng.integers(0, len(colors), n_p)], " "),
            nouns[rng.integers(0, len(nouns), n_p)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_p).astype(str)),
        "p_type": ptypes[rng.integers(0, len(ptypes), n_p)],
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_p) % 1000) / 10.0,
                                  2)})
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_o) * np.timedelta64(
        _DAY_US, "us")
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, 1000, 500000, n_o),
        "o_orderdate": odate,
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
             "5-LOW"])[rng.integers(0, 5, n_o)]})
    lines = rng.integers(1, 8, n_o)
    n_l = int(lines.sum())
    order_of = np.repeat(np.arange(n_o), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    out["lineitem"] = pa.table({
        "l_orderkey": order_of.astype(np.int64),
        "l_partkey": rng.integers(0, n_p, n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
        "l_linenumber": (np.arange(n_l) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900.68, 104999.91, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": odate[order_of] + rng.integers(
            1, 123, n_l) * np.timedelta64(_DAY_US, "us")})
    return out


def _base_events(rng: np.random.Generator, scale: float = 1.0) -> pa.Table:
    n = _rows("events", scale)
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n)).astype(
        "timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(60.0, n), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n)]})


def _base_documents(rng: np.random.Generator,
                    scale: float = 1.0) -> tuple[pa.Table, dict]:
    """The table and its planted duplicate groups (original doc -> its
    copies)."""
    n = _rows("documents", scale)
    words: list[list[int]] = []
    originals: list[int] = []
    groups: dict[int, list[int]] = {}
    kind = rng.random(n)
    for i in range(n):
        if originals and kind[i] < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            src = originals[rng.integers(0, len(originals))]
            groups.setdefault(src, []).append(i)
            words.append(words[src] + [len(VOCAB)]      # + " dup"
                         if kind[i] < NEAR_DUP_SHARE else list(words[src]))
        else:
            words.append(rng.integers(0, len(VOCAB),
                                      rng.integers(10, 101)).tolist())
            originals.append(i)
    vocab = np.array(VOCAB + ("dup",))
    text = [" ".join(vocab[w]) for w in words]
    table = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": np.array(["en", "fr", "es", "zh", "de"])[np.searchsorted(
            [0.41, 0.56, 0.71, 0.86], rng.random(n), side="right")],
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})
    return table, groups


def planted_pairs(seed: int) -> set[tuple[int, int]]:
    """Every (smaller, larger) doc_id pair inside a planted duplicate
    group of ``documents``; each is a 2-gram Jaccard >= 0.6 near
    duplicate by construction."""
    _, groups = _base_documents(np.random.default_rng([seed, 2]))
    out = set()
    for src, copies in groups.items():
        ids = sorted([src, *copies])
        out.update((a, b) for x, a in enumerate(ids) for b in ids[x + 1:])
    return out


def _base_embeddings(rng: np.random.Generator,
                     scale: float = 1.0) -> pa.Table:
    n = _rows("embeddings", scale)
    v = rng.standard_normal((n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).reshape(-1), pa.float32())
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            flat, v.shape[1]).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)})


def _write(path: str, table: pa.Table) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=ROW_GROUP)
    os.replace(tmp, path)


def _file_digest(path: str, h) -> int:
    size = 0
    with open(path, "rb") as f:
        while chunk := f.read(1 << 20):
            h.update(chunk)
            size += len(chunk)
    return size


def make_tables(out_dir: str, seed: int, read: tuple[str, ...]) -> dict:
    """Write the ten tables under ``out_dir``; return the manifest.
    Tables in ``read`` get the sf0.1 size, the others ``TINY`` of it."""
    os.makedirs(out_dir, exist_ok=True)

    def scale(*group: str) -> float:
        return 1.0 if set(group) & set(read) else TINY

    tables = _base_star(np.random.default_rng([seed, 0]), scale(
        "customer", "supplier", "part", "orders", "lineitem"))
    tables["events"] = _base_events(np.random.default_rng([seed, 1]),
                                    scale("events"))
    tables["documents"], _ = _base_documents(
        np.random.default_rng([seed, 2]), scale("documents"))
    tables["embeddings"] = _base_embeddings(
        np.random.default_rng([seed, 3]), scale("embeddings"))
    manifest: dict = {"seed": seed, "read": sorted(read), "tables": {}}
    h = hashlib.sha256()
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(path, tables[name])
        h.update(name.encode())
        manifest["tables"][name] = {"rows": tables[name].num_rows,
                                    "bytes": _file_digest(path, h)}
    manifest["content_hash"] = h.hexdigest()
    return manifest


def backlog_sizes(seed: int, job: int, n_files: int) -> np.ndarray:
    """Log-uniform sizes from 1 KiB to 256 KiB, drawn one per stratum
    of the log range and shuffled, so every backlog holds about the
    same number of bytes."""
    rng = np.random.default_rng([seed, 1000, job])
    u = (np.arange(n_files) + rng.random(n_files)) / n_files
    lo, hi = np.log(1024), np.log(256 * 1024)
    return rng.permutation(np.exp(lo + u * (hi - lo))).astype(np.int64)


def make_backlog(in_dir: str, seed: int, job: int, n_files: int) -> dict:
    """Write one file_drain backlog of ``n_files`` opaque files."""
    os.makedirs(in_dir, exist_ok=True)
    sizes = backlog_sizes(seed, job, n_files)
    rng = np.random.default_rng([seed, 2000, job])
    h = hashlib.sha256()
    for i, size in enumerate(sizes):
        data = rng.bytes(int(size))
        name = f"j{job:05d}_f{i:04d}.bin"
        with open(os.path.join(in_dir, name), "wb") as f:
            f.write(data)
        h.update(name.encode())
        h.update(data)
    return {"files": n_files, "bytes": int(sizes.sum()),
            "content_hash": h.hexdigest()}

