"""Property test: the ``Fields`` write set against a pure-Python MapStr.

The oracle is a dict-of-dicts with libbeat's sequential ``Put``/``GetValue``/
``Delete`` (mapstr.go:124-201) plus the NULL-parent rule: a write of NULL
creates no missing or NULL parent. Random sequences of sets, deletes and
reads over nested, prefix-overlapping and chained paths run on frames whose
parent structs are NULL and non-NULL, with and without ``where``; every
read, ``has`` and the final roots must equal the oracle's on every row. A
NULL field and a missing one compare equal (a struct column has every
field), a NULL struct and an all-NULL one do not.

A column cannot hold an empty struct, so the oracle also tracks the
frame's shape — the paths the output schema has: a delete removes a path,
and a struct left with no fields goes with it. Under ``where`` a delete
keeps a path the input has (NULL on matching rows). Values and reads are
compared over that shape.
"""

from __future__ import annotations

import copy

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from beats_spark.event import Fields

ROOTS = ["r", "s"]
# few paths, so random sequences overlap and chain often
MIDS = ["r.a", "r.b", "s.a"]
LEAVES = ["r.a.x", "r.a.y", "r.b.x", "s.a.x"]
MID_T = "struct<x:string,y:string>"
SCHEMA = (f"id int, k int, v1 string, v2 string, "
          f"r struct<a:{MID_T},b:{MID_T}>, s struct<a:{MID_T},b:{MID_T}>")
MIDS_SEEN = [None, {"x": None, "y": None}, {"x": "ox", "y": None},
             {"x": "px", "y": "py"}]
N_ROWS = 40


def _rows():
    rows = []
    for i in range(N_ROWS):
        def top(j):
            if j % 5 == 0:
                return None
            return {"a": MIDS_SEEN[j % 4], "b": MIDS_SEEN[(j // 4) % 4]}
        rows.append((i, i % 6, None if i % 3 == 0 else f"v{i}",
                     None if i % 4 == 1 else f"w{i}", top(i), top(i // 2 + 1)))
    return rows


# -- specs: (kind, ...) tuples evaluated by both sides ------------------------

LEAF = st.one_of(
    st.sampled_from([("col", "v1"), ("col", "v2"), ("lit", "c"), ("null",)]),
    st.sampled_from(LEAVES).map(lambda p: ("get", p)))


def _struct(names, sub):
    return st.tuples(st.just("struct"), st.just(names),
                     st.tuples(*[sub] * len(names)), st.booleans())


MID = _struct(("x", "y"), LEAF)
TOP = _struct(("a", "b"), MID)
COND = st.one_of(st.none(), st.tuples(st.sampled_from(["lt", "lt_null"]),
                                      st.integers(0, 6)))
OPS = st.lists(st.one_of(
    st.tuples(st.just("set"), st.sampled_from(LEAVES), LEAF, COND),
    st.tuples(st.just("set"), st.sampled_from(MIDS), MID, st.none()),
    st.tuples(st.just("set"), st.sampled_from(ROOTS), TOP, st.none()),
    st.tuples(st.just("read"), st.sampled_from(ROOTS + MIDS + LEAVES)),
    st.tuples(st.just("delete"), st.sampled_from(ROOTS + MIDS + LEAVES)),
), min_size=1, max_size=8)


def c_val(spec, f: Fields):
    kind = spec[0]
    if kind == "col":
        return F.col(spec[1])
    if kind == "lit":
        return F.lit(spec[1])
    if kind == "null":
        return F.lit(None).cast("string")
    if kind == "get":
        return f.get(spec[1]).cast("string")
    _, names, subs, nullable = spec
    out = F.struct(*[c_val(s, f).alias(n) for n, s in zip(names, subs)])
    return F.when(F.col("k") % 2 != 0, out) if nullable else out


def c_cond(spec):
    kind, m = spec
    lt = F.col("k") < m
    return lt if kind == "lt" else F.when(F.col("k") != 0, lt)


def o_val(spec, row, doc):
    kind = spec[0]
    if kind == "col":
        return row[spec[1]]
    if kind == "lit":
        return spec[1]
    if kind == "null":
        return None
    if kind == "get":
        return o_get(doc, spec[1])
    _, names, subs, nullable = spec
    if nullable and row["k"] % 2 == 0:
        return None
    return {n: o_val(s, row, doc) for n, s in zip(names, subs)}


def o_cond(spec, row):
    kind, m = spec
    return (kind == "lt" or row["k"] != 0) and row["k"] < m


def o_get(doc, path):
    cur = doc
    for p in path.split("."):
        if not isinstance(cur, dict):
            return None
        cur = cur.get(p)
    return copy.deepcopy(cur)


def o_put(doc, path, value):
    *parents, leaf = path.split(".")
    cur = doc
    for p in parents:
        if not isinstance(cur.get(p), dict):
            if value is None:  # the NULL-parent rule
                return
            cur[p] = {}
        cur = cur[p]
    cur[leaf] = copy.deepcopy(value)


def o_delete(doc, path):
    *parents, leaf = path.split(".")
    cur = doc
    for p in parents:
        cur = cur.get(p)
        if not isinstance(cur, dict):
            return
    cur.pop(leaf, None)


def spec_paths(path, spec):
    """``path`` and the paths below it that a value of ``spec`` has."""
    out = {path}
    if spec[0] == "struct":
        for n, sub in zip(spec[1], spec[2]):
            out |= spec_paths(f"{path}.{n}", sub)
    return out


def shape_set(shape, path, spec):
    parts = path.split(".")
    shape -= {q for q in shape if q.startswith(path + ".")}
    shape |= {".".join(parts[:i]) for i in range(1, len(parts))}
    shape |= spec_paths(path, spec)


def shape_delete(shape, path):
    shape -= {q for q in shape if q == path or q.startswith(path + ".")}
    parts = path.split(".")[:-1]
    while parts and not any(q.startswith(".".join(parts) + ".") for q in shape):
        shape.discard(".".join(parts))
        parts.pop()


def prune(v, path, shape):
    """``v`` (the oracle's value at ``path``) without what ``shape`` lacks."""
    if path not in shape:
        return None
    if isinstance(v, dict):
        return {k: prune(x, f"{path}.{k}", shape) for k, x in v.items()
                if f"{path}.{k}" in shape}
    return v


def norm(v):
    if isinstance(v, dict):
        return {k: n for k, n in ((k, norm(x)) for k, x in v.items())
                if n is not None}
    return v


def run_case(spark, with_roots, ops, where):
    df = spark.createDataFrame(_rows(), SCHEMA)
    if not with_roots:
        df = df.drop("r", "s")
    frame = {q for r in ROOTS for q in spec_paths(r, TOP_FULL)} if with_roots else set()
    f, shape, shapes = Fields(df), set(frame), []
    reads = []
    for op in ops:
        if op[0] == "read":
            assert f.has(op[1]) == (op[1] in shape), (op, ops)
            reads.append(f.get(op[1]))
            shapes.append(set(shape))
        elif op[0] == "delete":
            f.drop(op[1])
            shape_delete(shape, op[1])
        else:
            _, path, spec, cond = op
            f.set(path, c_val(spec, f), where=None if cond is None else c_cond(cond))
            shape_set(shape, path, spec)
    out = f.apply(where=None if where is None else c_cond(where))
    if where is not None and with_roots:  # every path the oracle sees is an input path
        shape = frame
    assert {r for r in ROOTS if r in shape} == {r for r in ROOTS if r in out.columns}

    got_reads = {r["id"]: r for r in df.select(
        "id", *[c.alias(f"rd{i}") for i, c in enumerate(reads)]).collect()}
    got = {r["id"]: r.asDict(recursive=True) for r in out.collect()}
    for row in df.collect():
        row = row.asDict(recursive=True)
        doc = {r: row.get(r) for r in ROOTS if r in row}
        before = copy.deepcopy(doc)
        want_reads = []
        for op in ops:
            if op[0] == "read":
                want_reads.append(prune(o_get(doc, op[1]), op[1],
                                        shapes[len(want_reads)]))
                continue
            if op[0] == "delete":
                o_delete(doc, op[1])
                continue
            _, path, spec, cond = op
            value = o_val(spec, row, doc)
            if cond is None or o_cond(cond, row):
                o_put(doc, path, value)
        if where is not None and not o_cond(where, row):
            doc = before
        g = got[row["id"]]
        for r in ROOTS:
            want = prune(doc.get(r), r, shape)
            assert norm(g.get(r)) == norm(want), (r, row, ops, where)
        gr = got_reads[row["id"]].asDict(recursive=True)
        for i, w in enumerate(want_reads):
            assert norm(gr[f"rd{i}"]) == norm(w), (i, row, ops)


TOP_FULL = ("struct", ("a", "b"),
            (("struct", ("x", "y"), (("lit", "c"), ("col", "v1")), False),
             ("struct", ("x", "y"), (("null",), ("col", "v2")), True)), False)
MID_NULLABLE = ("struct", ("x", "y"), (("lit", "c"), ("null",)), True)


@settings(max_examples=40, derandomize=True, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(with_roots=st.booleans(), ops=OPS, where=COND)
# a root written whole and then per field merges, in that order
@example(with_roots=False, ops=[("set", "r", TOP_FULL, None),
                                ("set", "r.a.x", ("col", "v2"), None),
                                ("read", "r.a")], where=None)
# a later whole write replaces the field, yet the field's earlier write
# still created the parent
@example(with_roots=False, ops=[("set", "r.a.x", ("col", "v1"), None),
                                ("set", "r.a", MID_NULLABLE, None)],
         where=None)
# chained rules read their predecessor's target, under a NULL-able where
@example(with_roots=True, ops=[("set", "r.a.x", ("col", "v1"), None),
                               ("set", "r.a.x", ("get", "r.a.x"), ("lt", 4)),
                               ("set", "s.b.y", ("get", "r.a.x"), None)],
         where=("lt_null", 3))
# deletes: a field, then the last field of its struct (the struct goes);
# a deleted struct re-created by a later set; a set-then-delete path the
# input lacks; deletes under a NULL-able where
@example(with_roots=True, ops=[("delete", "r.a.x"), ("read", "r.a"),
                               ("delete", "r.a.y"), ("read", "r.a"),
                               ("read", "r")], where=None)
@example(with_roots=True, ops=[("delete", "r.a"), ("delete", "r.b"),
                               ("read", "r")], where=None)
@example(with_roots=True, ops=[("delete", "r.a"), ("read", "r.a.x"),
                               ("set", "r.a.x", ("col", "v1"), None),
                               ("read", "r.a")], where=None)
@example(with_roots=False, ops=[("set", "r.a.x", ("col", "v1"), None),
                                ("set", "r.b.x", ("lit", "c"), None),
                                ("delete", "r.a.x"), ("read", "r")],
         where=("lt", 3))
@example(with_roots=True, ops=[("delete", "s"), ("delete", "r.a.x"),
                               ("set", "r.b", MID_NULLABLE, None),
                               ("delete", "r.b.y")], where=("lt_null", 3))
def test_fields_match_sequential_mapstr(spark, with_roots, ops, where):
    run_case(spark, with_roots, ops, where)
