"""Output checks, computed independently of the library: DuckDB SQL for the
pipeline routing, and plain Python for near-duplicate similarities."""

from __future__ import annotations

import functools
import glob
import json
import math
import os

import duckdb

from chain import reference_sql

MASK = (1 << 64) - 1
P1, P2, P3, P4, P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F,
                      0x165667B19E3779F9, 0x85EBCA77C2B2AE63,
                      0x27D4EB2F165667C5)
SPARK_HASH_SEED = 42  # the seed Spark's xxhash64() uses


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def expected_routing(parquet_dir: str) -> dict[str, int]:
    """{sink: rows} plus ``__dropped__``, for every parquet file under
    ``parquet_dir``."""
    with _connect() as con:
        rows = con.execute(reference_sql(os.path.join(parquet_dir, "*.parquet"))).fetchall()
    return {s: n for s, n in rows}


def compare_run(result, expected: dict[str, int]) -> list[str]:
    """Differences between a RunResult and the reference routing."""
    exp_sinks = {s: n for s, n in expected.items() if s != "__dropped__"}
    total = sum(expected.values())
    errs = []
    if result.sinks != exp_sinks:
        errs.append(f"sinks {result.sinks} != reference {exp_sinks}")
    if result.events_in != total:
        errs.append(f"events_in {result.events_in} != {total}")
    if result.events_dropped != expected.get("__dropped__", 0):
        errs.append(f"events_dropped {result.events_dropped} != "
                    f"{expected.get('__dropped__', 0)}")
    return errs


def landed_rows(warehouse: str, table: str) -> int:
    """Rows of ``table`` on disk, counted over its committed snapshots."""
    log = os.path.join(warehouse, table, "_snapshots.jsonl")
    files = []
    with open(log) as f:
        for line in f:
            if line.strip():
                files += glob.glob(os.path.join(json.loads(line)["path"], "*.parquet"))
    if not files:
        return 0
    with _connect() as con:
        return con.execute("SELECT count(*) FROM read_parquet(?)", [files]).fetchone()[0]


# -- near-duplicate pairs -----------------------------------------------------

def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & MASK


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * P2) & MASK, 31) * P1) & MASK


def xxh64(data: bytes, seed: int = SPARK_HASH_SEED) -> int:
    """XXH64 as Spark's ``xxhash64`` computes it for a string, returned as
    the signed 64-bit value Spark shows."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + P1 + P2) & MASK, (seed + P2) & MASK, seed, (seed - P1) & MASK]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i + 8 * k:i + 8 * k + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & MASK
        for x in v:
            h = ((h ^ _round(0, x)) * P1 + P4) & MASK
    else:
        h = (seed + P5) & MASK
    h = (h + n) & MASK
    while i + 8 <= n:
        h = ((_rotl(h ^ _round(0, int.from_bytes(data[i:i + 8], "little")), 27)) * P1 + P4) & MASK
        i += 8
    if i + 4 <= n:
        h = ((_rotl(h ^ (int.from_bytes(data[i:i + 4], "little") * P1 & MASK), 23)) * P2 + P3) & MASK
        i += 4
    while i < n:
        h = (_rotl(h ^ (data[i] * P5 & MASK), 11) * P1) & MASK
        i += 1
    h ^= h >> 33
    h = (h * P2) & MASK
    h ^= h >> 29
    h = (h * P3) & MASK
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


@functools.lru_cache(maxsize=None)
def _token_hash(tok: str) -> int:
    return xxh64(tok.encode()) & MASK


def simhash(text: str) -> int:
    """64-bit Charikar SimHash over whitespace tokens with xxhash64 votes,
    as an unsigned bit pattern."""
    counts = [0] * 64
    for tok in text.split():
        h = _token_hash(tok)
        for b in range(64):
            counts[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(64) if counts[b] > 0)


def shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    toks = text.split()
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def verify_pairs(op: str, pairs: list[tuple], docs: dict[str, str],
                 vecs: dict[str, list[float]], threshold: float) -> list[str]:
    """Recompute each emitted pair's similarity exactly; return mismatches."""
    errs = []
    sims: dict[str, int] = {}
    for a, b, value in pairs:
        if not a < b:
            errs.append(f"{op}: pair ({a}, {b}) not ordered")
            continue
        if op == "minhash_lsh":
            sa, sb = shingles(docs[a]), shingles(docs[b])
            exact = len(sa & sb) / len(sa | sb)
            ok = abs(exact - value) <= 1e-6 and exact >= threshold - 1e-9
        elif op == "simhash":
            for d in (a, b):
                if d not in sims:
                    sims[d] = simhash(docs[d])
            exact = bin(sims[a] ^ sims[b]).count("1")
            ok = exact == value and exact <= threshold
        else:
            va, vb = vecs[a], vecs[b]
            dot = math.fsum(x * y for x, y in zip(va, vb))
            exact = dot / (math.sqrt(math.fsum(x * x for x in va))
                           * math.sqrt(math.fsum(y * y for y in vb)))
            ok = abs(exact - value) <= 2e-6 and exact >= threshold - 1e-6
        if not ok:
            errs.append(f"{op}: pair ({a}, {b}) reported {value}, exact {exact}")
    return errs
