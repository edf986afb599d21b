"""The ``analytics`` workload: a fixed roster of catalog queries.

The star-schema and corpus tables the roster reads are generated here
from the seed (numpy + pyarrow), shaped like the sf0.1 tables described in
TESTDATA.md: the same columns, types, key ranges and value distributions. Each
roster query is checked against its DuckDB oracle twin from the catalog:
by value once in set-up, by row count on every timed pass.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import time
from decimal import Decimal

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from interop_datalake_spark import catalog

#: one or two queries per layer the lake workloads never reach:
#: relational operators, LLM-data operators, and streaming start-up over
#: a TxnTable mirrored as a Delta log. Kept to what a cold plus a warm
#: pass can run inside a one-minute run.
ROSTER = (
    "q18_large_orders",
    "dedup_minhash_lsh",
    "stream_delta_appends",
)
#: one roster pass at the reference host speed (s)
PASS_S = 9.0
TABLES = ("customer", "orders", "lineitem", "documents")
FULL_SF = 0.1
TINY_SF = 0.002

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query scan batch"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
DAY = np.timedelta64(1, "D")


def _days(rng, n, start: str, end: str):
    s, e = np.datetime64(start), np.datetime64(end)
    off = rng.integers(0, int((e - s) / DAY) + 1, n)
    return pa.array((s + off * DAY).astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int, sf: float) -> dict:
    """Write the roster's tables as parquet under ``out_dir``; returns
    row counts."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    tables = {}

    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    })

    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
    })

    # lines per order ~ Poisson(4), capped at 7 line numbers like TPC-H
    per = np.clip(rng.poisson(4.0, n_ord), 1, 7)
    okeys = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(okeys)
    starts = np.cumsum(per) - per
    linenum = (np.arange(n_li) - np.repeat(starts, per) + 1).astype(np.int32)
    tables["lineitem"] = pa.table({
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, max(200, int(200_000 * sf)), n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, max(10, int(10_000 * sf)), n_li).astype(np.int64),
        "l_linenumber": linenum,
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })

    # documents: bag-of-words text; one in twenty is a near-duplicate of
    # an earlier document with one token appended
    texts = []
    lengths = rng.integers(10, 101, n_docs)
    dup = rng.random(n_docs) < 0.05
    vocab = np.array(WORDS)
    for i in range(n_docs):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
    lang = LANGS[np.minimum(rng.integers(0, 7, n_docs), 4)]  # en is 3x as common
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    for name, tbl in tables.items():
        pq.write_table(tbl, f"{out_dir}/{name}.parquet")
    return {name: tbl.num_rows for name, tbl in tables.items()}


# ---- oracle comparison ------------------------------------------------------


def _canon(v):
    """A value's engine-independent form: floats to 9 significant digits
    (summation order differs between engines), timestamps as ISO text."""
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, Decimal):
        return float(f"{float(v):.9g}")
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def canonical_rows(columns, rows) -> list:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)


class Oracle:
    def __init__(self, sf_dir: str):
        self.conn = duckdb.connect()
        for t in TABLES:
            self.conn.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        self.sql = catalog.all_oracles()

    def rows(self, name: str):
        cur = self.conn.execute(self.sql[name])
        return [d[0] for d in cur.description], cur.fetchall()

    def close(self):
        self.conn.close()


# ---- the workload -------------------------------------------------------------


def run_query(spark, sf_dir: str, name: str):
    """One roster query run to its action; returns (columns, rows)."""
    df = catalog.all_queries()[name](spark, sf_dir)
    return df.columns, df.collect()


def analytics(run, work: str, tiny: bool):
    spark = run.spark
    sf_dir = f"{work}/sf"
    os.makedirs(sf_dir)
    with run.setup_part("generate"):
        generate(sf_dir, run.seed, TINY_SF if tiny else FULL_SF)
    oracle = Oracle(sf_dir)
    expected_rows = {}
    disagree = set()
    with run.setup_part("warmup"):
        for name in ROSTER:
            t = time.perf_counter()
            cols, rows = run_query(spark, sf_dir, name)
            run.setup_parts[f"warm.{name}"] = time.perf_counter() - t
            ocols, orows = oracle.rows(name)
            expected_rows[name] = len(orows)
            if (sorted(cols) != sorted(ocols)
                    or canonical_rows(cols, rows) != canonical_rows(ocols, orows)):
                disagree.add(name)
                run.failures.append(f"{name}: disagrees with its DuckDB oracle")
    oracle.close()
    yield
    run.probe.sample()
    passes = run.rounds(PASS_S)
    for _ in range(passes):
        for name in ROSTER:
            with run.phase():
                ok, got = run.call(f"catalog.{name}", run_query, spark, sf_dir, name)
            if ok and name in disagree:
                # an oracle disagreement found in set-up fails the query
                # on every pass, so the failed share stays constant
                run.failed += 1
            elif ok:
                run.check(len(got[1]) == expected_rows[name],
                          f"{name}: {len(got[1])} rows, oracle {expected_rows[name]}")
            run.probe.sample()
        run.end_round()
    yield
    return {"passes": passes, "oracle_disagree": sorted(disagree)}
