"""Seeded input generators. The program under test sees only the parquet
these write; the same seed always gives byte-identical files.

Transcripts mix three line formats so each parser in the chain has rows to
work on, and carry the properties the pipeline branches on:

- ``SYSTEM_SHARE`` of rows have role ``system`` (dropped by the chain);
- ``MALFORMED_SHARE`` of lines are truncated (parse-failure flags, dead
  letter);
- ``UNKNOWN_TOOL_SHARE`` of rows name a tool the lookup lacks (dead letter);
- ``HOT_SHARE`` of rows belong to one hot ``conv_id``.

The near-dup corpus copies the shape of the sf0.1 ``documents`` and
``embeddings`` test tables, measured on them: 5 000 documents of 10-100
tokens (uniform) over a 30-word vocabulary, where about 4.5 % are an
earlier document with the token ``dup`` appended (Jaccard >= 0.8 to their
source, the only pairs above 0.3); and 2 000 unit 64-dim float32 vectors
with iid Gaussian directions and no planted duplicates (their cosine pairs
are the random tail). That base is multiplied by perturbed copies, as ``bench.py``'s
``_synth_curve_point`` does: every token of copy ``i`` gets a ``-c{i}``
suffix and every vector of copy ``i`` a fixed sign-flip mask. Within a copy
the near-dup structure is exactly that of the base; across copies nothing
matches, so pairs grow linearly with the multiple. Per 5 000-document copy
this gives about 250 Jaccard >= 0.3 pairs, 550 SimHash pairs within 3 bits
and 4 200 cosine >= 0.35 pairs, as sf0.1 has (256, 525, 4 137).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SYSTEM_SHARE = 0.25
MALFORMED_SHARE = 0.05
UNKNOWN_TOOL_SHARE = 0.01
HOT_SHARE = 0.20
N_CONVS = 2_000

ROLES = ["user", "assistant", "tool"]          # plus "system"
TOOLS = ["search", "code", "browser", "none"]  # plus "mcp-custom" (unknown)
FORMATS = ["logfmt", "access", "kv"]
FORMAT_P = [0.5, 0.25, 0.25]

LEVELS = ["info", "info", "info", "warn", "error"]
MSGS = ["tool call ok", "tool call failed", "stream chunk", "plan step",
        "final answer"]
METHODS = ["GET", "GET", "GET", "POST", "PUT"]
PATHS = ["/", "/docs/intro.html", "/img/logo.png", "/api/v1/runs",
         "/search?q=spark", "/login"]
STATUSES = [200, 200, 200, 200, 304, 404, 500, 503]
REFERRERS = ["-", "-", "https://example.net/start", "https://example.org/"]
USER_AGENTS = [
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10.12; rv:49.0) Gecko/20100101 "
    "Firefox/49.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, "
    "like Gecko) Chrome/70.0.3538.102 Safari/537.36",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 12_1 like Mac OS X) AppleWebKit/605."
    "1.15 (KHTML, like Gecko) Version/12.0 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (Linux; Android 9; SM-G960F Build/PPR1.180610.011) AppleWeb"
    "Kit/537.36 (KHTML, like Gecko) Chrome/74.0.3729.157 Mobile Safari/537.36",
    "curl/8.1.2",
    "python-requests/2.31.0",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
]
USERS = ["alice", "bob", "carol", "dave", "-"]
ACTIONS = ["login", "logout", "read", "write"]
KV_STATUS = ["ok", "fail"]
# source networks: the first four are covered by the CIDR dim, the last is not
NETS = ["10.0", "10.1", "192.168", "203.0", "172.31"]

VOCAB = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data the join customer vector").split()
DOC_TOKENS = (10, 100)
DUP_SHARE = 0.045
DUP_TOKEN = "dup"
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64


def _write(table: pa.Table, path: str, files: int) -> None:
    """Split ``table`` over ``files`` parquet files so Spark reads it with
    that many tasks."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def transcripts(seed: int, n: int, row_offset: int = 0) -> pa.Table:
    """``n`` transcript turns: conv_id, turn_idx, role, text, tool, ts."""
    rng = np.random.default_rng([seed, row_offset])
    hot = rng.random(n) < HOT_SHARE
    conv = np.where(hot, 0, rng.integers(1, N_CONVS, n))
    role = np.where(rng.random(n) < SYSTEM_SHARE, -1,
                    rng.integers(0, len(ROLES), n))
    tool = np.where(rng.random(n) < UNKNOWN_TOOL_SHARE, -1,
                    rng.integers(0, len(TOOLS), n))
    fmt = rng.choice(len(FORMATS), n, p=FORMAT_P)
    bad = rng.random(n) < MALFORMED_SHARE
    a, b, c, d, e = (rng.integers(0, 1 << 16, n) for _ in range(5))

    texts = []
    for i in range(n):
        ai, bi, ci, di, ei = int(a[i]), int(b[i]), int(c[i]), int(d[i]), int(e[i])
        f = fmt[i]
        if f == 0:
            head = (f"level={LEVELS[ai % 5]} caller=agent.py:{100 + bi % 900} "
                    f'msg="{MSGS[ci % 5]}')
            texts.append(head if bad[i] else f'{head}" latency_ms={di % 500}')
        elif f == 1:
            ip = f"{NETS[ai % 5]}.{bi % 256}.{ci % 254 + 1}"
            head = (f"{ip} - {USERS[di % 5]} [11/Mar/2025:14:{di % 60:02d}:"
                    f'{ei % 60:02d} +0000] "{METHODS[ai % 5]} {PATHS[bi % 6]} '
                    f'HTTP/1.1" {STATUSES[ci % 8]}')
            texts.append(head if bad[i] else
                         f'{head} {ei % 50_000} "{REFERRERS[di % 4]}" '
                         f'"{USER_AGENTS[ei % 7]}"')
        else:
            ip = f"{NETS[bi % 5]}.{ci % 256}.{di % 254 + 1}"
            user = USERS[ai % 4]
            if bad[i]:
                texts.append(f"src={ip} user {user} action={ACTIONS[ei % 4]}")
            else:
                texts.append(f"src={ip} user={user} action={ACTIONS[ei % 4]} "
                             f"status={KV_STATUS[ai % 2]}")

    turn = np.arange(row_offset, row_offset + n, dtype=np.int32)
    conv_id = np.char.add("conv-", np.char.zfill(conv.astype(str), 6))
    role_s = np.array(ROLES + ["system"])[role]
    tool_s = np.array(TOOLS + ["mcp-custom"])[tool]
    ts = (np.datetime64("2026-01-01T00:00:00", "us")
          + turn.astype("timedelta64[s]") * 7)
    return pa.table({
        "conv_id": pa.array(conv_id.tolist(), pa.string()),
        "turn_idx": pa.array(turn, pa.int32()),
        "role": pa.array(role_s.tolist(), pa.string()),
        "text": pa.array(texts, pa.string()),
        "tool": pa.array(tool_s.tolist(), pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })


def write_transcripts(path: str, seed: int, n: int, files: int,
                      row_offset: int = 0) -> None:
    _write(transcripts(seed, n, row_offset), path, files)


def tools_dim() -> pa.Table:
    return pa.table({
        "tool": ["search", "code", "browser", "none"],
        "tool_family": ["retrieval", "execution", "retrieval", "n/a"],
        "tool_cost_class": ["cheap", "expensive", "expensive", "free"],
    })


def geo_dim() -> pa.Table:
    """At most 256 CIDR rows (the inline-map enrich_cidr strategy): a /16
    per covered network plus /24 overrides inside 10.1.0.0/16."""
    cidrs, countries, cities = [], [], []
    for i, net in enumerate(NETS[:4]):
        cidrs.append(f"{net}.0.0/16")
        countries.append(["DE", "US", "FR", "JP"][i])
        cities.append(None)
    for k in range(200):
        cidrs.append(f"10.1.{k}.0/24")
        countries.append("US")
        cities.append(f"city-{k:03d}")
    return pa.table({"cidr": cidrs, "country_iso_code": countries,
                     "city_name": cities})


def write_dims(path: str) -> dict[str, str]:
    out = {}
    for name, table in (("tools", tools_dim()), ("geo", geo_dim())):
        out[name] = os.path.join(path, f"dim_{name}")
        _write(table, out[name], 1)
    return out


def _base_docs(rng: np.random.Generator) -> list[str]:
    """Random documents; ``DUP_SHARE`` of them repeat an earlier one with
    ``DUP_TOKEN`` appended."""
    docs: list[str] = []
    lo, hi = DOC_TOKENS
    for j in range(N_DOCS):
        if j and rng.random() < DUP_SHARE:
            docs.append(f"{docs[int(rng.integers(0, j))]} {DUP_TOKEN}")
        else:
            toks = rng.integers(0, len(VOCAB), int(rng.integers(lo, hi + 1)))
            docs.append(" ".join(VOCAB[k] for k in toks))
    return docs


def _base_vectors(rng: np.random.Generator) -> np.ndarray:
    """Unit vectors with iid Gaussian directions."""
    v = rng.normal(size=(N_VECS, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def corpus(seed: int, mult: int) -> tuple[pa.Table, pa.Table]:
    """(documents, embeddings) of ``mult`` perturbed copies of one base."""
    rng = np.random.default_rng([seed, 1])
    docs = _base_docs(rng)
    vecs = _base_vectors(rng)
    doc_ids, texts, vec_ids, embs = [], [], [], []
    for i in range(mult):
        sfx = "" if i == 0 else f"_c{i}"
        doc_ids += [f"d{j}{sfx}" for j in range(N_DOCS)]
        texts += (docs if i == 0 else
                  [" ".join(t + f"-c{i}" for t in d.split()) for d in docs])
        mask = (np.ones(DIM, np.float32) if i == 0 else
                np.where(np.random.default_rng([seed, 2, i]).random(DIM) < 0.5,
                         -1.0, 1.0).astype(np.float32))
        vec_ids += [f"v{j}{sfx}" for j in range(N_VECS)]
        embs.append(vecs * mask)
    emb = np.concatenate(embs)
    documents = pa.table({"doc_id": doc_ids, "text": texts})
    embeddings = pa.table({
        "vec_id": vec_ids,
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), DIM).cast(pa.list_(pa.float32())),
    })
    return documents, embeddings


def write_corpus(path: str, seed: int, mult: int, files: int) -> dict[str, str]:
    documents, embeddings = corpus(seed, mult)
    out = {"documents": os.path.join(path, "documents"),
           "embeddings": os.path.join(path, "embeddings")}
    _write(documents, out["documents"], files)
    _write(embeddings, out["embeddings"], files)
    return out
