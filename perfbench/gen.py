"""Seeded input generator for the benchmark workloads.

Uses numpy and pyarrow only, never engine code, so that both commits of
a comparison read identical input bytes. Each dataset is written once per
(name, seed) under a cache directory with a manifest that records
rows, files, row groups and bytes per table plus a content hash; a cached
copy is reused only when its files still hash to the recorded value.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generated bytes change for the same seed
FORMAT_VERSION = 2

NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
EVENT_TYPES = ["view", "click", "add_to_cart", "purchase", "search",
               "share", "login", "logout"]
EVENT_WEIGHTS = [0.40, 0.22, 0.10, 0.05, 0.12, 0.03, 0.05, 0.03]
CATEGORIES = ["shoes", "shirts", "books", "music", "garden", "toys",
              "kitchen", "sports", "beauty", "tools", "games", "travel"]
COUNTRIES = ["US", "DE", "FR", "GB", "JP", "BR", "IN", "CA", "AU", "ES",
             "IT", "NL", "SE", "PL", "MX", "KR", "CN", "ZA", "AR", "NG"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]

LINEITEM_ROWS = 600_000
EVENTS_ROWS = 100_000
LINEITEM_START = dt.datetime(1992, 1, 2)
LINEITEM_DAYS = 2526          # 1992-01-02 .. 1998-12-01
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 31
STREAM_START = dt.datetime(2024, 3, 1)
STREAM_HISTORY_HOURS = 24
STREAM_HISTORY_ROWS = 5_000      # per history hour
STREAM_BATCH_ROWS = 20_000
STREAM_BATCHES = 160             # more than a run can append
DOC_SHARDS = 8
DOCS_PER_SHARD = 2_000
DUP_FRAC = 0.1                   # share of base documents with copies

_EPOCH = dt.datetime(1970, 1, 1)


def rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent deterministic stream per (seed, purpose...)."""
    return np.random.Generator(np.random.PCG64([seed, *stream]))


def epoch_us(t: dt.datetime) -> int:
    return int((t - _EPOCH).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _pick(r: np.random.Generator, values: list[str], n: int,
          p: list[float] | None = None) -> pa.Array:
    idx = r.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype("int32")), pa.array(values)).cast(pa.string())


def _write(table: pa.Table, path: str, row_group: int) -> None:
    pq.write_table(table, path, row_group_size=row_group,
                   compression="snappy", store_schema=False)


def _write_split(table: pa.Table, out_dir: str, files: int,
                 row_group: int) -> None:
    """One table as `files` Parquet files of several row groups each, so
    a scan has several splits instead of one."""
    os.makedirs(out_dir)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        _write(part, os.path.join(out_dir, f"part-{i:03d}.parquet"), row_group)


# ------------------------------------------------------------ datasets
def _olap(out: str, seed: int) -> None:
    """TPC-H-like lineitem plus clickstream events and the small
    supplier/nation dimensions used by lookup-style joins."""
    n_li, n_ev = LINEITEM_ROWS, EVENTS_ROWS
    n_supp = 1000

    r = rng(seed, 1)
    qty = r.integers(1, 51, n_li).astype("float64")
    days = np.sort(r.integers(0, LINEITEM_DAYS, n_li))
    lineitem = pa.table({
        "l_orderkey": r.integers(1, 600_001, n_li),
        "l_partkey": r.integers(1, 20_001, n_li),
        "l_suppkey": r.integers(1, n_supp + 1, n_li),
        "l_linenumber": r.integers(1, 8, n_li).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2000.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(r, RETURN_FLAGS, n_li),
        "l_linestatus": _pick(r, LINE_STATUS, n_li),
        "l_shipdate": _ts(epoch_us(LINEITEM_START) + days * 86_400_000_000),
    })
    _write_split(lineitem, os.path.join(out, "lineitem"), 8, 25_000)

    r = rng(seed, 3)
    secs = np.sort(r.integers(0, EVENTS_DAYS * 86_400, n_ev))
    events = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(epoch_us(EVENTS_START) + secs * 1_000_000),
        "user_id": (20_000 * r.random(n_ev) ** 2).astype("int64"),
        "event_type": _pick(r, EVENT_TYPES, n_ev, EVENT_WEIGHTS),
        "value": np.round(r.lognormal(3.0, 1.0, n_ev), 2),
        "page": pa.array([f"/{c}/{i}" for c, i in zip(
            r.choice(CATEGORIES, n_ev).tolist(),
            r.integers(0, 500, n_ev).tolist())]),
        "country": _pick(r, COUNTRIES, n_ev),
    })
    _write_split(events, os.path.join(out, "events"), 4, 12_500)

    r = rng(seed, 4)
    supplier = pa.table({
        "s_suppkey": np.arange(1, n_supp + 1, dtype="int64"),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(1, n_supp + 1)]),
        "s_nationkey": r.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(r.uniform(-999.0, 9999.0, n_supp), 2),
    })
    os.makedirs(os.path.join(out, "supplier"))
    _write(supplier, os.path.join(out, "supplier", "part-000.parquet"), n_supp)
    nation = pa.table({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": pa.array(NATIONS),
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    })
    os.makedirs(os.path.join(out, "nation"))
    _write(nation, os.path.join(out, "nation", "part-000.parquet"), 25)


def stream_rows(r: np.random.Generator, hour: int, n: int) -> pa.Table:
    """`n` events inside hour number `hour` after STREAM_START."""
    base = epoch_us(STREAM_START) + hour * 3_600_000_000
    offs = np.sort(r.integers(0, 3_600, n)) * 1_000_000
    return pa.table({
        "ts": _ts(base + offs),
        "user_id": (5_000 * r.random(n) ** 2).astype("int64"),
        "event_type": _pick(r, EVENT_TYPES, n, EVENT_WEIGHTS),
        "country": _pick(r, COUNTRIES, n),
        "amount": np.round(r.lognormal(2.0, 0.8, n), 2),
    })


def _stream(out: str, seed: int) -> None:
    """ingest_mixed inputs: STREAM_HISTORY_HOURS already-ingested hours
    laid out as the engine's hour-partitioned warehouse
    (`__dt=yyyy-MM-dd-HH` directories), plus one source file per append
    batch, batch k being the k-th hour after the history."""
    hist = os.path.join(out, "history")
    os.makedirs(hist)
    for h in range(STREAM_HISTORY_HOURS):
        t = stream_rows(rng(seed, 10, h), h, STREAM_HISTORY_ROWS)
        t = t.rename_columns(["__time", *t.column_names[1:]])
        tag = (STREAM_START + dt.timedelta(hours=h)).strftime("%Y-%m-%d-%H")
        d = os.path.join(hist, f"__dt={tag}")
        os.makedirs(d)
        _write(t, os.path.join(d, "part-000.parquet"), 65_536)
    src = os.path.join(out, "batches")
    os.makedirs(src)
    for k in range(STREAM_BATCHES):
        t = stream_rows(rng(seed, 11, k), STREAM_HISTORY_HOURS + k,
                        STREAM_BATCH_ROWS)
        _write(t, os.path.join(src, f"b{k:04d}.parquet"), 65_536)


def vocabulary() -> list[str]:
    """5000 pronounceable lowercase words, fixed for every seed."""
    r = rng(0, 99)
    cons, vow = "bcdfghjklmnprstvwz", "aeiou"
    words = set()
    while len(words) < 5000:
        n = int(r.integers(2, 5))
        words.add("".join(cons[r.integers(len(cons))] + vow[r.integers(5)]
                          for _ in range(n)))
    return sorted(words)


def _docs(out: str, seed: int) -> None:
    """dedup inputs: DOC_SHARDS document sets. In each, a DUP_FRAC share of
    base documents get one or two near-duplicate copies (one word
    substituted per copy); the planted clusters are recorded beside the
    data as (doc_id, cluster) rows."""
    words = np.array(vocabulary())
    # Zipf-like word frequencies, like natural text
    p = 1.0 / np.arange(1, len(words) + 1) ** 0.8
    p /= p.sum()
    os.makedirs(os.path.join(out, "planted"))
    for s in range(DOC_SHARDS):
        r = rng(seed, 20, s)
        texts: list[str] = []
        cluster: list[int] = []
        n_base = int(DOCS_PER_SHARD / (1 + 1.5 * DUP_FRAC))
        for b in range(n_base):
            toks = words[r.choice(len(words), int(r.integers(60, 101)), p=p)]
            texts.append(" ".join(toks))
            cluster.append(-1)
            if r.random() < DUP_FRAC:
                cluster[-1] = b
                for _ in range(int(r.integers(1, 3))):
                    copy = toks.copy()
                    copy[r.integers(len(copy))] = words[r.integers(len(words))]
                    texts.append(" ".join(copy))
                    cluster.append(b)
        order = r.permutation(len(texts))
        first_id = s * 1_000_000
        t = pa.table({
            "doc_id": np.arange(first_id, first_id + len(texts), dtype="int64"),
            "text": pa.array([texts[i] for i in order]),
            "cluster": np.array([cluster[i] for i in order], dtype="int64"),
        })
        d = os.path.join(out, f"shard{s}")
        os.makedirs(d)
        _write(t.select(["doc_id", "text"]),
               os.path.join(d, "part-000.parquet"), 1024)
        _write(t.select(["doc_id", "cluster"]),
               os.path.join(out, "planted", f"shard{s}.parquet"), 65_536)


DATASETS = {"olap": _olap, "stream": _stream, "docs": _docs}


# ---------------------------------------------------------------- cache
def _files(root: str) -> list[str]:
    out = []
    for d, _, fns in os.walk(root):
        for fn in fns:
            if fn != "manifest.json":
                out.append(os.path.relpath(os.path.join(d, fn), root))
    return sorted(out)


def content_hash(root: str) -> str:
    h = hashlib.sha256()
    for rel in _files(root):
        h.update(rel.encode() + b"\0")
        with open(os.path.join(root, rel), "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def _describe(root: str) -> dict:
    """rows / files / row groups / bytes per top-level table directory."""
    tables: dict[str, dict] = {}
    for rel in _files(root):
        t = tables.setdefault(rel.split(os.sep)[0], {
            "rows": 0, "files": 0, "row_groups": 0, "bytes": 0})
        path = os.path.join(root, rel)
        md = pq.ParquetFile(path).metadata
        t["rows"] += md.num_rows
        t["files"] += 1
        t["row_groups"] += md.num_row_groups
        t["bytes"] += os.path.getsize(path)
    return tables


def dataset(cache_dir: str, name: str, seed: int) -> dict:
    """Path and manifest of dataset `name` for `seed`, generating it when
    no valid cached copy exists."""
    root = os.path.join(cache_dir, f"{name}-s{seed}-v{FORMAT_VERSION}")
    man_path = os.path.join(root, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            man = json.load(f)
        if man.get("sha256") == content_hash(root):
            man["path"] = root
            man["cached"] = True
            return man
    shutil.rmtree(root, ignore_errors=True)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    DATASETS[name](tmp, seed)
    man = {"dataset": name, "seed": seed,
           "format_version": FORMAT_VERSION, "tables": _describe(tmp),
           "sha256": content_hash(tmp)}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)
    os.rename(tmp, root)
    man["path"] = root
    man["cached"] = False
    return man
