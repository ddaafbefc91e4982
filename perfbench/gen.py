"""Seeded input generator for the benchmark.

Everything is made with numpy from one ``--seed``; the same seed gives the
same bytes. DuckDB (threads <= nproc) derives the transcript view for the
curate stream with the engine's own shared derivation SQL, so the stream
input and the oracle start from the same ``events`` table. No Spark here.

Usage (stand-alone, for inspection):
    python3 perfbench/gen.py --seed 1 --out <dir>
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DOC_WORDS = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join customer the and of to in der die und le la el que"
).split()
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
FLUSH_USER = 10**9  # key of the watermark-advancing flush rows

# Input sizes. FULL is what the benchmark measures; TINY is the self-test.
FULL = {
    "catalog": {"customers": 500, "orders": 5000, "lines": 20000,
                "parts": 500, "suppliers": 50, "users": 150,
                "events": 5000, "docs": 300, "vectors": 300},
    "stream_curate": {"convs": 600, "turns": 60, "slices": 3},
    "stream_scd2": {"users": 400, "per_user": 40, "slices": 2},
}
TINY = {
    "catalog": {"customers": 100, "orders": 1000, "lines": 4000,
                "parts": 100, "suppliers": 10, "users": 40,
                "events": 1000, "docs": 100, "vectors": 100},
    "stream_curate": {"convs": 40, "turns": 40, "slices": 3},
    "stream_scd2": {"users": 40, "per_user": 20, "slices": 3},
}


def write_table(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> str:
    """Parquet with microsecond naive timestamps (Spark reads them as
    TIMESTAMP_NTZ, DuckDB as TIMESTAMP — the layout of the catalog's data)."""
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)
    return path


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "D").astype("datetime64[us]")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _events_frame(users, ts_us, types, rng) -> pd.DataFrame:
    """events schema, event_id assigned in (ts, user_id) order."""
    order = np.lexsort((users, ts_us))
    n = len(order)
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EPOCH_2024 + ts_us[order].astype("timedelta64[us]"),
        "user_id": users[order].astype(np.int64),
        "event_type": np.asarray(types, dtype=object)[order],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}").astype(object),
    })


def catalog_tables(seed: int, size: dict) -> dict[str, pd.DataFrame]:
    """The ten catalog tables, shaped like the catalog's sf data."""
    rng = np.random.default_rng([seed, 1])
    nc, no, nl = size["customers"], size["orders"], size["lines"]
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                                "r_name": REGIONS})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, nc, -999, 9999),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = size["suppliers"]
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, ns, -999, 9999)})
    np_ = size["parts"]
    adj = np.array(["large", "hot", "blue", "small", "red", "steel"])
    noun = np.array(["ring", "bolt", "gear", "pipe", "nut"])
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, np_), " "), rng.choice(noun, np_)).astype(object),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)).astype(object),
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO"], np_),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 2)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": _money(rng, no, 1000, 500000),
        "o_orderdate": _days(rng, no, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900, 105000),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", 2498)})
    ne = size["events"]
    t["events"] = _events_frame(
        rng.integers(0, size["users"], ne),
        rng.integers(0, 30 * 86400 * 10**6, ne),
        rng.choice(EVENT_TYPES, ne), rng)
    nd = size["docs"]
    texts = [" ".join(rng.choice(DOC_WORDS, rng.integers(8, 90))) for _ in range(nd)]
    for i in range(0, nd, 25):  # near-duplicates: one word changed
        words = texts[i].split()
        words[len(words) // 2] = "merge"
        texts[min(i + 1, nd - 1)] = " ".join(words)
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "de", "fr", "es", "zh"], nd),
        "source": np.char.add("src", rng.integers(0, 20, nd).astype(str)).astype(object),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    nv = size["vectors"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, nv).astype(np.int32)})
    return t


EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


def write_catalog(root: str, seed: int, size: dict) -> str:
    os.makedirs(root, exist_ok=True)
    for name, df in catalog_tables(seed, size).items():
        write_table(df, os.path.join(root, f"{name}.parquet"),
                    EMB_SCHEMA if name == "embeddings" else None)
    return root


def curate_events(seed: int, size: dict) -> pd.DataFrame:
    """Dense conversations: turns 1-20 s apart, about one gap of 31-90 min
    per 25 turns (a new session), conversations starting over 2 hours."""
    rng = np.random.default_rng([seed, 2])
    n, k = size["convs"], size["turns"]
    step = rng.integers(1_000_000, 20_000_000, (n, k))
    gap = rng.random((n, k)) < 0.04
    step[gap] = rng.integers(31 * 60 * 10**6, 90 * 60 * 10**6, int(gap.sum()))
    step[:, 0] = rng.integers(0, 2 * 3600 * 10**6, n)
    ts = np.cumsum(step, axis=1).ravel()
    users = np.repeat(np.arange(n), k)
    return _events_frame(users, ts, rng.choice(EVENT_TYPES, n * k), rng)


def scd2_events(seed: int, size: dict) -> pd.DataFrame:
    """A per-user change log: each user emits ``per_user`` events uniformly
    over 30 days with a uniform type, so about 1 event in 5 repeats the
    previous state and collapses (~0.8 closed versions per event)."""
    rng = np.random.default_rng([seed, 3])
    n, k = size["users"], size["per_user"]
    users = np.repeat(np.arange(n), k)
    ts = rng.integers(0, 30 * 86400 * 10**6, n * k)
    return _events_frame(users, ts, rng.choice(EVENT_TYPES, n * k), rng)


def duck():
    """A DuckDB connection with at most 4 (and at most nproc) threads."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {min(4, os.cpu_count() or 1)}")
    return con


def transcripts_of(events: pd.DataFrame) -> pd.DataFrame:
    """The engine's shared events -> transcripts derivation, run by DuckDB."""
    from data_harvesting_spark.derive import transcripts_sql

    con = duck()
    con.register("events", events)
    out = con.execute(transcripts_sql("events") + " ORDER BY ts, conv_id, turn_idx").fetchdf()
    con.close()
    out["turn_idx"] = out["turn_idx"].astype(np.int32)
    return out


def write_slices(df: pd.DataFrame, flush: pd.DataFrame, root: str, n_slices: int,
                 schema: pa.Schema, key: str) -> dict:
    """Replay layout in ``root/src``: ``n_slices`` event-time-ordered files,
    then one file per flush row, with increasing mtimes (one file = one
    micro-batch). ``root/warm`` gets the first slice and the flush rows: a
    short backlog that takes the warm-up pass through the same code paths.
    Returns the make-up of the data slices."""
    df = df.sort_values(["ts"], kind="stable").reset_index(drop=True)
    parts = [df.iloc[ix] for ix in np.array_split(np.arange(len(df)), n_slices)]
    keys = [p[key].nunique() for p in parts]
    flushes = [flush.iloc[[i]] for i in range(len(flush))]
    for sub, files in (("src", parts + flushes), ("warm", parts[:1] + flushes)):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
        for i, p in enumerate(files):
            path = os.path.join(root, sub, f"slice-{i:03d}.parquet")
            write_table(p.copy(), path, schema)
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return {"rows": len(df) + len(flush), "files": len(parts) + len(flushes),
            "keys": int(df[key].nunique()),
            "rows_per_batch": len(df) / n_slices, "keys_per_batch": float(np.mean(keys)),
            "rows_per_key_per_batch": len(df) / float(np.sum(keys))}


TRANSCRIPT_PA = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                           ("role", pa.string()), ("text", pa.string()),
                           ("tool", pa.string()), ("ts", pa.timestamp("us"))])
EVENT_PA = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                      ("user_id", pa.int64()), ("event_type", pa.string()),
                      ("value", pa.float64()), ("props", pa.string())])


def flush_times(ts: pd.Series) -> list:
    """One far-future event time. Its batch raises the watermark past every
    open session or buffered event; ``availableNow`` then runs one no-data
    batch under that watermark, which closes everything the stream read."""
    return [ts.max() + pd.Timedelta(hours=6)]


def write_curate_stream(root: str, seed: int, size: dict) -> dict:
    """Stream source for ``stream_curate`` plus the events table its
    oracle reads. Returns the input's make-up."""
    events = curate_events(seed, size)
    turns = transcripts_of(events)
    flush = pd.DataFrame({"conv_id": "conv-flush", "turn_idx": np.int32(0),
                          "role": "user", "text": "flush", "tool": "flush",
                          "ts": flush_times(turns["ts"])})
    info = write_slices(turns, flush, root, size["slices"], TRANSCRIPT_PA, "conv_id")
    write_table(events, os.path.join(root, "events.parquet"), EVENT_PA)
    gap = turns.sort_values(["conv_id", "ts"]).groupby("conv_id")["ts"].diff()
    info["sessions"] = int(turns["conv_id"].nunique() + (gap > pd.Timedelta("30min")).sum())
    return info


def write_scd2_stream(root: str, seed: int, size: dict) -> dict:
    """Stream source for ``stream_scd2`` plus the same events as one table
    for its oracle. Returns the input's make-up."""
    events = scd2_events(seed, size)
    flush = pd.DataFrame({"event_id": -1, "ts": flush_times(events["ts"]),
                          "user_id": FLUSH_USER, "event_type": "view",
                          "value": 0.0, "props": "{}"})
    info = write_slices(events, flush, root, size["slices"], EVENT_PA, "user_id")
    write_table(events, os.path.join(root, "events.parquet"), EVENT_PA)
    return info


def main(argv: list[str]) -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    info = {"catalog": write_catalog(os.path.join(a.out, "catalog"), a.seed, FULL["catalog"]),
            "stream_curate": write_curate_stream(os.path.join(a.out, "curate"), a.seed,
                                                 FULL["stream_curate"]),
            "stream_scd2": write_scd2_stream(os.path.join(a.out, "scd2"), a.seed,
                                             FULL["stream_scd2"])}
    print(json.dumps(info))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    raise SystemExit(main(sys.argv[1:]))
