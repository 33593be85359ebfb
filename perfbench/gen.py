"""Seeded input generation for the benchmark workloads.

Everything here is NumPy + pyarrow (no Spark), so generation time is
reported separately and never counted in ``setup_s``. The same
``(seed, sf)`` always produces byte-identical tables.

Shapes follow the engine's TPC-H-ish fixtures (``customer``, ``nation``,
``part``, ``orders``, ``lineitem``, ``documents``, ``embeddings``). Money
columns are ``decimal(12,2)`` so Spark and DuckDB aggregate them exactly
and the order-independent table hashes used by verification agree.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
P_TYPES = [f"{a} {b}" for a in ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
           for b in ("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")]
LANGS = ["en", "zh", "es", "de", "fr", "ja", "ru", "pt"]
VOCAB = ("key agg row scan slow fast table value part hash merge batch spark a the line sort "
         "window data column join small customer query order group filter big stream vector "
         "index shard delta model build cache plan stage task shuffle spill node graph").split()

BASE_DATE = dt.date(1995, 1, 1)
N_DATES = 60  # order dates span [BASE_DATE, BASE_DATE + N_DATES)
BASE_TS = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)
DUP_ID_OFFSET = 500_000  # injected near-duplicate ids (below the engine's 1e6 batch-id range)


# input-size record: table name -> {"rows": n, "bytes": parquet bytes}
Sizes = dict[str, dict[str, int]]


def rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, stream name)."""
    return np.random.default_rng([seed, sum(ord(c) << (i % 24) for i, c in enumerate(stream))])


def write(path: str, table: pa.Table) -> int:
    """Write atomically (tmp + rename) so a reader never sees a half file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)
    return os.path.getsize(path)


def _cents_to_decimal(cents) -> pa.Array:
    """Integer cents → decimal(12,2), built straight from the 128-bit
    little-endian unscaled values (no per-value Python objects)."""
    c = np.asarray(cents, dtype=np.int64)
    buf = np.empty((c.size, 2), dtype=np.int64)
    buf[:, 0], buf[:, 1] = c, c >> 63
    return pa.Array.from_buffers(pa.decimal128(12, 2), c.size, [None, pa.py_buffer(buf.tobytes())])


def _days(offsets) -> pa.Array:
    """Day offsets from BASE_DATE → date32."""
    epoch = (BASE_DATE - dt.date(1970, 1, 1)).days
    return pa.array(np.asarray(offsets, dtype=np.int32) + epoch, pa.int32()).cast(pa.date32())


def counts(sf: float) -> dict[str, int]:
    """Row counts at scale factor ``sf`` (sf0.1 ≈ the engine's sf0.1
    fixtures: 150k orders, 600k lineitems, 5k documents)."""
    return {
        "customer": max(50, int(150_000 * sf)),
        "part": max(50, int(200_000 * sf)),
        "orders": max(200, int(1_500_000 * sf)),
        "lines_per_order": 4,
        "documents": max(120, int(50_000 * sf)),
        "embeddings": max(64, int(20_000 * sf)),
        "chains": max(8, int(100_000 * sf)),
    }


# -- relational sources (ci_slim) -------------------------------------------


def gen_relational(src_dir: str, sf: float, seed: int, sizes: Sizes) -> dict:
    """TPC-H-ish sources. Returns the in-memory ``orders`` and ``customer``
    tables the nightly batches evolve."""
    n = counts(sf)
    r = rng(seed, "relational")
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    nc = n["customer"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, nc + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _cents_to_decimal(r.integers(-99999, 999999, nc)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, nc)]),
        "c_updated_at": pa.array([BASE_TS] * nc, pa.timestamp("us", tz="UTC")),
    })
    npart = n["part"]
    part = pa.table({
        "p_partkey": pa.array(np.arange(1, npart + 1), pa.int64()),
        "p_name": [f"part {i}" for i in range(1, npart + 1)],
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(11, 56, npart)]),
        "p_type": pa.array(np.array(P_TYPES)[r.integers(0, len(P_TYPES), npart)]),
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": _cents_to_decimal(r.integers(90000, 200000, npart)),
    })
    no = n["orders"]
    okeys = np.arange(1, no + 1, dtype=np.int64)
    odates = r.integers(0, N_DATES, no)
    orders = pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(r.integers(1, nc + 1, no), pa.int64()),
        "o_orderstatus": pa.array(np.array(STATUSES)[r.integers(0, 3, no)]),
        "o_totalprice": _cents_to_decimal(r.integers(100000, 50000000, no)),
        "o_orderdate": _days(odates),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, no)]),
    })
    per = n["lines_per_order"]
    nl = no * per
    lineitem = pa.table({
        "l_orderkey": pa.array(np.repeat(okeys, per), pa.int64()),
        "l_partkey": pa.array(r.integers(1, npart + 1, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(1, 1001, nl), pa.int64()),
        "l_linenumber": pa.array(np.tile(np.arange(1, per + 1), no), pa.int32()),
        "l_quantity": _cents_to_decimal(r.integers(1, 51, nl) * 100),
        "l_extendedprice": _cents_to_decimal(r.integers(100000, 10000000, nl)),
        "l_discount": _cents_to_decimal(r.integers(0, 11, nl)),
        "l_tax": _cents_to_decimal(r.integers(0, 9, nl)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, nl)]),
        "l_shipdate": _days(np.repeat(odates, per)),
    })
    for name, t in (("nation", nation), ("customer", customer), ("part", part),
                    ("orders", orders), ("lineitem", lineitem)):
        sizes[name] = {"rows": t.num_rows,
                       "bytes": write(os.path.join(src_dir, f"{name}.parquet"), t)}
    return {"orders": orders, "customer": customer}


def gen_batch(state: dict, day: int, seed: int, sf: float) -> dict:
    """Day ``day``'s landed batch. Gives a seeded half of the orders on
    one seeded order date a new price and status, and re-versions a
    seeded share of customers. It adds no keys, so every model's row
    count stays unchanged. Returns the batch tables and the evolved
    ``state``."""
    r = rng(seed, f"batch-{day}")
    orders: pa.Table = state["orders"]
    date_idx = int(r.integers(N_DATES - 30, N_DATES))
    day_date = BASE_DATE + dt.timedelta(days=date_idx)
    dates = orders["o_orderdate"].to_numpy(zero_copy_only=False)
    on_day = np.flatnonzero(dates == np.datetime64(day_date))
    upd_idx = on_day[r.random(on_day.size) < 0.5]
    keys = orders["o_orderkey"].to_numpy()[upd_idx]
    m = keys.size
    batch = pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(orders["o_custkey"].to_numpy()[upd_idx], pa.int64()),
        "o_orderstatus": pa.array(np.array(STATUSES)[r.integers(0, 3, m)]),
        "o_totalprice": _cents_to_decimal(r.integers(100000, 50000000, m)),
        "o_orderdate": pa.array([day_date] * m, pa.date32()),
        "o_orderpriority": orders["o_orderpriority"].combine_chunks().take(
            pa.array(upd_idx, pa.int64())),
    })
    keep = ~np.isin(orders["o_orderkey"].to_numpy(), keys)
    new_orders = pa.concat_tables([orders.filter(pa.array(keep)), batch])

    customer: pa.Table = state["customer"]
    nc = counts(sf)["customer"]
    nchg = max(1, nc // 50)
    chg = np.sort(r.choice(nc, nchg, replace=False))
    ts = BASE_TS + dt.timedelta(days=day + 1)
    acct = customer["c_acctbal"].to_pylist()
    upd = customer["c_updated_at"].to_pylist()
    new_bal = _cents_to_decimal(r.integers(-99999, 999999, nchg)).to_pylist()
    for i, b in zip(chg, new_bal):
        acct[i], upd[i] = b, ts
    new_customer = customer.set_column(
        customer.schema.get_field_index("c_acctbal"), "c_acctbal",
        pa.array(acct, pa.decimal128(12, 2)),
    ).set_column(
        customer.schema.get_field_index("c_updated_at"), "c_updated_at",
        pa.array(upd, pa.timestamp("us", tz="UTC")),
    )
    return {
        "orders_updates": batch,
        "customer": new_customer,
        "state": {"orders": new_orders, "customer": new_customer},
    }


# -- corpus (corpus_curation) --------------------------------------------


def gen_corpus(src_dir: str, sf: float, seed: int, sizes: Sizes) -> dict:
    """Documents with injected near-duplicates, embeddings, and a chain
    graph with seeded chain lengths. Returns the generator-known answers:
    the injected duplicate pairs and each chain node's component."""
    n = counts(sf)
    r = rng(seed, "corpus")
    nd = n["documents"]
    texts = []
    for _ in range(nd):
        words = np.array(VOCAB)[r.integers(0, len(VOCAB), int(r.integers(12, 80)))]
        texts.append(" ".join(words))
    # near-duplicates: every 10th document gets a copy with one word
    # swapped at the end (high Jaccard), under id DUP_ID_OFFSET + source
    dup_src = np.arange(0, nd, 10)
    dup_ids, dup_texts = [], []
    for s in dup_src:
        w = texts[s].split()
        w[-1] = VOCAB[(VOCAB.index(w[-1]) + 1) % len(VOCAB)]
        dup_ids.append(DUP_ID_OFFSET + int(s))
        dup_texts.append(" ".join(w))
    ids = np.concatenate([np.arange(nd), np.array(dup_ids, dtype=np.int64)])
    all_texts = texts + dup_texts
    langs = np.array(LANGS)[np.minimum(r.geometric(0.35, ids.size) - 1, len(LANGS) - 1)]
    documents = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(all_texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{int(i) % 5}" for i in ids]),
        "n_chars": pa.array([len(t) for t in all_texts], pa.int64()),
    })
    ne = n["embeddings"]
    centers = r.normal(0, 0.3, (10, 64))
    labels = r.integers(0, 10, ne)
    vecs = (centers[labels] + r.normal(0, 0.08, (ne, 64))).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    # chain lengths 2..8 in a seeded order; the multiset is the same for
    # every seed, so graph size and diameter do not depend on the seed
    n_chains = n["chains"]
    lengths = r.permutation(np.resize(np.arange(2, 9), n_chains))
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    a = np.concatenate([np.arange(s, s + ln - 1) for s, ln in zip(starts, lengths)])
    perm = r.permutation(a.size)
    a = a[perm]
    chain = pa.table({"id_a": pa.array(a, pa.int64()), "id_b": pa.array(a + 1, pa.int64())})
    component = {int(v): int(s) for s, ln in zip(starts, lengths) for v in range(s, s + ln)}
    for name, t in (("documents", documents), ("embeddings", embeddings), ("chain", chain)):
        sizes[name] = {"rows": t.num_rows,
                       "bytes": write(os.path.join(src_dir, f"{name}.parquet"), t)}
    return component


def gen_canary(src_dir: str) -> None:
    """The load canary's fixed input: seed 0, sf0.01 lineitem, identical in
    every run and workload so canary times compare across runs."""
    gen_relational(src_dir, 0.01, 0, {})
