"""Seeded input generator for the benchmark.

Every table is a pure function of (seed, scale): the same arguments give
byte-identical parquet. Schemas, types and value distributions follow the
repository's synthetic TPC-H-ish star schema (TESTDATA.md): ten tables,
`documents` with a 30-word vocabulary and 5% near-duplicates, 64-dim unit
`embeddings`, a 30-day `events` stream with `timestamp[us]` times.

Row counts scale like the reference data (at scale 0.01: 60,000
lineitems, 500 documents and 500 vectors), with small floors.

Two dataset shapes, one per workload:

- `base`: one seeded dataset at a scale (the serve workload).
- `maintained`: a seeded base whose lineitems stop at a cut-off date,
  turned into an N-times replica by `devtools/scalegen.py` (unchanged),
  plus seeded fixed-size batches of documents, vectors and strictly
  later lineitems (the maintain workload). Batches are written next to
  the base, never into it; the benchmark copies the base before
  appending.
"""
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big filter group stream vector").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY = np.timedelta64(1, "D")
SHIP0 = np.datetime64("1995-01-02")
ORDER0 = np.datetime64("1995-01-01")
EVENT0 = np.datetime64("2024-01-01T00:00:00", "us")


def _write(table, path):
    pq.write_table(table, path)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist(),
                    pa.string())


def _texts(rng, n):
    """Uniform bag-of-words texts of 10..100 words; 5% of the documents
    copy an earlier document's text and add ' dup' (near-duplicates)."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(WORDS), lens.sum())
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(WORDS[w] for w in words[pos:pos + ln]))
        pos += ln
    dups = np.flatnonzero(rng.random(n) < 0.05)
    for i in dups:
        if i > 0:
            out[i] = out[int(rng.integers(0, i))] + " dup"
    return out


def documents(rng, n, id0=0):
    texts = _texts(rng, n)
    ids = np.arange(id0, id0 + n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, id0=0):
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), pa.float32())
    offs = pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offs, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def lineitem(rng, n, n_orders, n_parts, n_supp, day_lo, day_hi):
    """`n` lineitems shipped on days [day_lo, day_hi) after 1995-01-02."""
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = SHIP0 + rng.integers(day_lo, day_hi, n) * DAY
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n)),
        "l_partkey": pa.array(rng.integers(0, n_parts, n)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })


def _counts(scale, floor):
    return {
        "customer": max(150, int(150_000 * scale)),
        "orders": max(1500, int(1_500_000 * scale)),
        "lineitem": max(6000, int(6_000_000 * scale)),
        "part": max(200, int(200_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "events": max(1000, int(1_000_000 * scale)),
        "users": max(15, int(15_000 * scale)),
        "documents": max(floor, int(50_000 * scale)),
        "embeddings": max(floor, int(20_000 * scale)),
    }


def base(seed, scale, out, ship_days=2499, floor=500):
    """Write the ten tables of one seeded dataset into `out`. Lineitems
    ship on the first `ship_days` days from 1995-01-02; documents and
    vectors number at least `floor` (the reference data's floor is 500)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, int(scale * 1e6), floor])
    c = _counts(scale, floor)
    _write(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": pa.array(REGIONS)}), f"{out}/region.parquet")
    nk = np.arange(25, dtype=np.int32)
    _write(pa.table({"n_nationkey": pa.array(nk),
                     "n_name": pa.array([f"NATION_{i}" for i in nk]),
                     "n_regionkey": pa.array(nk % 5)}), f"{out}/nation.parquet")
    n = c["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-1000.0, 10000.0, n), 2)),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    }), f"{out}/customer.parquet")
    n = c["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-1000.0, 10000.0, n), 2)),
    }), f"{out}/supplier.parquet")
    n = c["part"]
    keys = np.arange(n, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(pa.table({
        "p_partkey": pa.array(keys),
        "p_name": _pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PTYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    }), f"{out}/part.parquet")
    n = c["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": pa.array((ORDER0 + rng.integers(0, 2405, n) * DAY)
                                .astype("datetime64[us]")),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    }), f"{out}/orders.parquet")
    _write(lineitem(rng, c["lineitem"], c["orders"], c["part"], c["supplier"],
                    0, ship_days), f"{out}/lineitem.parquet")
    n = c["events"]
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n))
    _write(pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(EVENT0 + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, c["users"], n)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }), f"{out}/events.parquet")
    _write(documents(rng, c["documents"]), f"{out}/documents.parquet")
    _write(embeddings(rng, c["embeddings"]), f"{out}/embeddings.parquet")
    return c


def serving(seed, scale, out):
    """The serve workload's inputs: a seeded dataset at `scale` in
    `out/main`, and a tiny one (scale 0.001, 100 documents and vectors)
    in `out/warm` that warms the JVM before the timed calls."""
    base(seed, scale, f"{out}/main")
    base(seed, 0.001, f"{out}/warm", floor=100)


def maintained(seed, scale, reps, out, scalegen, batches, docs_per,
               vecs_per, days_per, base_days, floor):
    """The maintain workload's inputs: a seeded base at `scale` whose
    lineitems ship on its first `base_days` days, replicated `reps` times
    by `scalegen` into `out/base`, plus `batches` append batches under
    `out/batches/<i>/`: new documents and vectors with fresh ids, and
    lineitems (at the replica's density) shipped on the next `days_per`
    days — strictly later than everything before them, as the cube,
    granule-cache and frame appends require."""
    src = f"{out}/src"
    c = base(seed, scale, src, ship_days=base_days, floor=floor)
    subprocess.run([sys.executable, scalegen, src, f"{out}/base", str(reps)],
                   check=True, stdout=subprocess.DEVNULL)
    shutil.rmtree(src)  # scalegen hard-linked what it kept
    rng = np.random.default_rng([seed, int(scale * 1e6), floor, 7])
    per_day = reps * c["lineitem"] / base_days
    for b in range(batches):
        d = f"{out}/batches/{b}"
        os.makedirs(d)
        _write(documents(rng, docs_per, id0=10_000_000 + b * docs_per),
               f"{d}/documents.parquet")
        _write(embeddings(rng, vecs_per, id0=10_000_000 + b * vecs_per),
               f"{d}/embeddings.parquet")
        lo = base_days + b * days_per
        _write(lineitem(rng, int(per_day * days_per), c["orders"], c["part"],
                        c["supplier"], lo, lo + days_per),
               f"{d}/lineitem.parquet")


def dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def ensure(path, make):
    """Run `make(tmp)` once per cache path, recording the input bytes in
    `_READY.json`; a half-written dir from a killed run is never mistaken
    for a finished one."""
    stamp = os.path.join(path, "_READY.json")
    if os.path.exists(stamp):
        return
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    make(tmp)
    info = {"input_bytes": dir_bytes(tmp)}
    with open(os.path.join(tmp, "_READY.json"), "w") as f:
        json.dump(info, f)
    os.rename(tmp, path)
