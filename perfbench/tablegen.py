"""Seeded star-schema tables for the ``headline_queries`` workload.

The benchmark reads nothing outside its checkout, so it writes its own
copy of the sf0.1 test set described in TESTDATA.md: the same ten
tables, column names, types, row counts, key ranges and value
distributions, from ``--seed`` instead of that set's fixed seed.  What
the headline queries' cost depends on follows sf0.1:

- ``lineitem``: 600k rows in random order, uniform keys (about 147k
  distinct orders), dates in 1995-2001;
- ``events``: a 30-day stream sorted by time, 1500 users, exponential
  values (mean 50);
- ``documents``: 10-100 words from sf0.1's 30-word vocabulary; 5% are
  near-duplicates (a copy of another document plus the word ``dup``);
  40% are English, and ``source`` cycles over 20 values;
- ``embeddings``: isotropic 64-d vectors of unit norm, labels uniform.

Money carries two decimals, so sums are exact decimal values and a
result rounded to 2 dp can differ between engines only at an exact tie.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
        "part": 20_000, "orders": 150_000, "lineitem": 600_000,
        "events": 100_000, "documents": 5_000, "embeddings": 2_000}

_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_DAY_US = 86_400 * 1_000_000
_1995 = 9131            # 1995-01-01, days since the epoch
_2024 = 19723           # 2024-01-01
# q38 reads the documents below this id and must find no near-duplicate
# pair among them, only the copies it plants itself
_Q38_DOCS = 200


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0


def _days(rng, first: int, last: int, n: int) -> pa.Array:
    return pa.array(rng.integers(first, last + 1, n).astype("int64")
                    * _DAY_US, type=pa.timestamp("us"))


def _pick(rng, values: str, n: int) -> np.ndarray:
    """``n`` uniform draws from the comma-separated ``values``."""
    choices = np.array(values.split(","))
    return choices[rng.integers(0, len(choices), n)]


def _documents(rng, n: int) -> list[str]:
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 101, n)]
    copies = np.sort(rng.choice(n, n // 20, replace=False))
    originals = np.setdiff1d(np.arange(_Q38_DOCS, n), copies)
    # with replacement: a few sources are copied twice, so some copies
    # are exact duplicates of each other, as in sf0.1
    sources = rng.choice(originals, len(copies))
    low = copies < _Q38_DOCS
    sources[low] = rng.choice(originals, int(low.sum()), replace=False)
    for c, s in zip(copies.tolist(), sources.tolist()):
        texts[c] = texts[s] + " dup"
    return texts


def make_tables(dest: str, seed: int) -> str:
    """Write every table under ``dest`` (replaced) and return it."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nk = np.arange(25)
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(nk, i32),
        "n_name": [f"NATION_{k}" for k in nk],
        "n_regionkey": pa.array(nk % 5, i32)})

    n = ROWS["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, "AUTOMOBILE,BUILDING,FURNITURE,HOUSEHOLD,"
                              "MACHINERY", n)})

    n = ROWS["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})

    n = ROWS["part"]
    pk = np.arange(n)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": np.char.add(np.char.add(
            _pick(rng, "blue,cold,hot,large,new,old,red,small", n), " "),
            _pick(rng, "anvil,bolt,gear,gizmo,plate,ring,rod,widget", n)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": _pick(rng, "ECONOMY,LARGE,MEDIUM,PROMO,SMALL,STANDARD", n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})

    n = ROWS["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), i64),
        "o_orderstatus": _pick(rng, "F,O,P", n),
        "o_totalprice": _money(rng, 1000, 500_000, n),
        "o_orderdate": _days(rng, _1995, _1995 + 2404, n),   # to 2001-08-01
        "o_orderpriority": _pick(rng, "1-URGENT,2-HIGH,3-MEDIUM,"
                                 "4-NOT SPECIFIED,5-LOW", n)})

    n = ROWS["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105_000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, "A,N,R", n),
        "l_linestatus": _pick(rng, "F,O", n),
        "l_shipdate": _days(rng, _1995 + 1, _1995 + 2499, n)})  # to 2001-11

    n = ROWS["events"]
    ts = _2024 * _DAY_US + np.sort(rng.integers(0, 30 * _DAY_US, n))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), i64),
        "event_type": _pick(rng, "click,error,purchase,signup,view", n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    n = ROWS["documents"]
    texts = _documents(rng, n)
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), i64),
        "text": texts,
        "lang": np.where(rng.random(n) < 0.4, "en",
                         _pick(rng, "de,es,fr,zh", n)),
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    n = ROWS["embeddings"]
    vecs = rng.normal(0.0, 1.0, (n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(vecs.astype("float32")),
                              type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32)})

    for name, table in tables.items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
    return dest
