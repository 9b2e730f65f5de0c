"""Dotted-path field access — the columnar analogue of Beats' MapStr.

The reference mutates row documents in place with dotted-path resolution
(common.MapStr: mapFind at libbeat/common/mapstr.go:444-482, Put/GetValue/
Delete at mapstr.go:124-201, AddTags at mapstr.go:377-412) and runs a
processor's field rules one after another on that document
(processor.go:189-202). Here a "path" addresses nested StructType columns
and every mutation is a projection the optimizer can see through: set =
struct rebuild via Column.withField, delete = Column.dropFields. All
plan-time; nothing per-row.

Every column a stage touches goes through one write set, :class:`Fields`::

    f = Fields(df)
    f.set("b", f.get("a"))       # a later read sees the earlier set
    f.drop("a")                  # ... and the earlier delete
    df = f.apply(where=cond)

Its contract is libbeat's sequential ``Put``/``GetValue``/``Delete`` on
each event, resolved at build time:

- sets and deletes apply in call order; a set below an earlier whole-value
  set merges into that value, and a set of an ancestor replaces the earlier
  sets below it (their values still count for the NULL-parent rule below);
  a set after a delete re-creates the path;
- ``get``/``has`` see pending sets and deletes first — the latest value, a
  field of a pending ancestor, or the merged struct of pending descendants —
  and then the frame; a missing or deleted path reads as NULL;
- a NULL parent stays NULL on rows where every value written under it is
  NULL, and a fresh root is NULL where all of its leaves are NULL (Put only
  creates intermediates for events a processor actually wrote);
- a deleted field leaves the frame, and so does a struct left with no
  fields (a column cannot hold an empty struct);
- ``set(p, v, where=w)`` puts only on rows where ``w`` holds, and
  ``apply(where=c)`` keeps every old value on rows where ``c`` is false or
  NULL; there a deleted field stays in the frame, NULL on the other rows.

Temp columns are part of the write set too: ``f.temps(values)`` stages one
layer of them on ``f.df`` under names from one allocator
(:func:`free_name`), and ``apply`` leaves them out.

Cost: one ``apply`` is the caller's ``temps`` layers, at most one staging
projection, and one ``select`` that writes every touched root and leaves
out every temp and deleted root, whatever the path count or overlap.
Values placed inside a struct are staged as temp columns, so the leaf write
and the NULL guards reference an attribute instead of re-inlining a large
expression (which blows whole-stage codegen). A ``get`` or ``has`` that
reads through a pending whole value, or of such a value with sets below it,
costs one analysis to learn that value's type.

Divergences, because a column has one type for every row: a scalar on the
path of a nested set is replaced by a struct (Put would fail; this keeps
the plan total), and under ``where`` a set that changes a path's type needs
an old value of the new type (see add_tags on a string ``tags``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T


def split_path(path: str) -> list[str]:
    return path.split(".")


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def col_path(path: str) -> Column:
    """Column reference for a dotted path (each segment backtick-quoted)."""
    return F.col(".".join(_quote(p) for p in split_path(path)))


def has_path(schema: T.StructType, path: str) -> bool:
    """True if the dotted path resolves to a field in the schema."""
    return path_type(schema, path) is not None


def path_type(schema: T.StructType, path: str) -> T.DataType | None:
    cur: T.DataType = schema
    for part in split_path(path):
        if not isinstance(cur, T.StructType) or part not in cur.fieldNames():
            return None
        cur = cur[part].dataType
    return cur


def get_path(df: DataFrame, path: str, default: Column | None = None) -> Column:
    """Missing-safe read: resolves to NULL (or ``default``) if absent."""
    if has_path(df.schema, path):
        return col_path(path)
    return default if default is not None else F.lit(None)


def _field(base: Column | None, btype: T.DataType | None,
           name: str) -> tuple[Column | None, T.DataType | None]:
    if isinstance(btype, T.StructType) and name in btype.fieldNames():
        return base.getField(name), btype[name].dataType
    return None, None


def _keep(where: Column, new: Column, old: Column | None) -> Column:
    """``new`` where ``where`` holds, else ``old`` (NULL when absent)."""
    out = F.when(where, new)
    return out if old is None else out.otherwise(old)


def _all_null(values: list[Column]) -> Column:
    if not values:
        return F.lit(True)
    cond = values[0].isNull()
    for v in values[1:]:
        cond = cond & v.isNull()
    return cond


def free_name(taken: set[str]) -> str:
    """The first ``__t<n>`` that no name in ``taken`` (lower-case) uses;
    it is added to ``taken``. Every temp column of a stage is named here."""
    i = 0
    while f"__t{i}" in taken:
        i += 1
    taken.add(f"__t{i}")
    return f"__t{i}"


class _Put:
    """A whole-value write; later writes below it merge into it. ``shadow``
    holds the values of the writes it replaced: they no longer show, but
    they still created this path's ancestors on the rows they were non-NULL
    (the NULL-parent rule counts every value written under a parent). A
    ``gone`` put is a delete: writes below it build a fresh struct."""

    __slots__ = ("value", "subs", "shadow", "dtype", "gone")

    def __init__(self, value: Column, shadow: list[Column] = (), gone: bool = False):
        self.value = value
        self.subs: dict = {}
        self.shadow = list(shadow)
        self.dtype: T.DataType | None = T.NullType() if gone else None
        self.gone = gone


def _leaves(ent) -> list[Column]:
    if isinstance(ent, _Put):
        return [*([] if ent.gone else [ent.value]), *ent.shadow, *_leaves(ent.subs)]
    return [v for sub in ent.values() for v in _leaves(sub)]


class Fields:
    """A write set over ``df`` with sequential per-event semantics (see the
    module docstring). Pending writes form a tree: a ``dict`` node merges
    its children into the frame's value at that path, a ``_Put`` replaces
    the value (or deletes it) and merges its ``subs`` into the new one.

    ``df`` is the frame the stage works on: :meth:`temps` adds columns to
    it, and a frame stage may replace it by a join or a filter of itself.
    :meth:`apply` leaves out every column named by :meth:`temp`."""

    def __init__(self, df: DataFrame):
        self.df = df
        self._roots: dict = {}
        self._temps: set[str] = set()
        self._taken = {c.lower() for c in df.columns}

    def temp(self) -> str:
        """A fresh temp column name (:func:`free_name`)."""
        name = free_name(self._taken)
        self._temps.add(name)
        return name

    def temps(self, values: list[Column]) -> list[Column]:
        """Stage ``values`` as one layer of temp columns; references to
        them, in order."""
        names = [self.temp() for _ in values]
        if names:
            self.df = self.df.withColumns(dict(zip(names, values)))
        return [F.col(_quote(n)) for n in names]

    def set(self, path: str, value: Column, where: Column | None = None) -> "Fields":
        if where is not None:
            value = _keep(where, value, self._read(path))
        return self._put(path, value, gone=False)

    def drop(self, path: str) -> "Fields":
        """Delete ``path``; a no-op where it is missing."""
        return self._put(path, F.lit(None), gone=True) if self.has(path) else self

    def get(self, path: str) -> Column:
        out = self._read(path)
        return out if out is not None else F.lit(None)

    def has(self, path: str) -> bool:
        return self._read(path) is not None

    def apply(self, where: Column | None = None) -> DataFrame:
        """The frame with every pending write, in one ``select`` (module
        docstring, Cost): a touched root stays in place, as in
        ``withColumns``, and new roots come last."""
        df = self.df
        if not (self._roots or self._temps):
            return df
        staged: dict[str, Column] = {}
        typed: dict[str, _Put] = {}

        def stage(v: Column) -> str:
            name = self.temp()
            staged[name] = v
            return name

        def prep(ent, path: str, nested: bool):
            # guard every value by `where` against the frame's old value,
            # and stage the ones that land inside a struct; a delete under
            # `where` NULLs an old value, and removes a path the frame lacks
            if not isinstance(ent, _Put):
                return {k: prep(s, f"{path}.{k}", True) for k, s in ent.items()}
            old = col_path(path) if self._in_frame(path) else None
            gone = ent.gone and (where is None or old is None)
            v = ent.value if where is None or gone else _keep(where, ent.value, old)
            if not (nested or ent.subs):
                return _Put(v, gone=gone)
            # a root's shadow has no ancestor to create: dropped
            shadow = [F.col(_quote(stage(F.when(where, c) if where is not None else c)))
                      for c in (ent.shadow if nested else [])]
            if gone:
                out = _Put(v, shadow, gone=True)
            else:
                name = stage(v)
                out = _Put(F.col(_quote(name)), shadow)
                if ent.subs:  # merged into: _build needs its type
                    typed[name] = out
            out.subs = {k: prep(s, f"{path}.{k}", True) for k, s in ent.subs.items()}
            return out

        roots = {r: prep(ent, r, False) for r, ent in self._roots.items()}
        if staged:
            df = df.withColumns(staged)
        for name, put in typed.items():
            put.dtype = df.schema[name].dataType
        out = {}
        for r, ent in roots.items():
            _, base, btype = self._find([r])
            out[r.lower()] = (r, _value(self._build(ent, base, btype)[0], base))
        cols = []
        for c in df.columns:
            if c.lower() in out:
                r, v = out.pop(c.lower())
                cols += [] if v is None else [v.alias(r)]
            elif c.lower() not in self._temps:
                cols.append(F.col(_quote(c)))
        return df.select(*cols, *[v.alias(r) for r, v in out.values() if v is not None])

    # -- resolution ---------------------------------------------------------

    def _put(self, path: str, value: Column, gone: bool) -> "Fields":
        *parents, leaf = split_path(path)
        tree = self._roots
        for p in parents:
            ent = tree.setdefault(p, {})
            tree = ent.subs if isinstance(ent, _Put) else ent
        old = tree.get(leaf)
        tree[leaf] = _Put(value, _leaves(old) if old is not None else (), gone)
        return self

    def _in_frame(self, path: str) -> bool:
        """Whether the frame holds ``path`` (a root named like a temp
        column does not see the temp)."""
        return (split_path(path)[0].lower() not in self._temps
                and has_path(self.df.schema, path))

    def _read(self, path: str) -> Column | None:
        """``get``, but None where the path is missing."""
        ent, base, btype = self._find(split_path(path))
        return _value(self._build(ent, base, btype)[0], base) if ent is not None else base

    def _dtype(self, put: _Put) -> T.DataType:
        if put.dtype is None:
            put.dtype = self.df.select(put.value).schema[0].dataType
        return put.dtype

    def _find(self, parts: list[str]):
        """(pending entry at the path or None, the value the path holds
        without that entry or None, its type or None)."""
        tree = self._roots
        btype = self.df.schema if self._in_frame(parts[0]) else None
        base, below = None, []  # nearest pending whole value above, path under it
        ent = None
        for i, name in enumerate(parts):
            ent = tree.get(name) if tree is not None else None
            btype = (btype[name].dataType if isinstance(btype, T.StructType)
                     and name in btype.fieldNames() else None)
            below.append(name)
            if isinstance(ent, _Put) and i < len(parts) - 1:
                base, below, btype, tree = ent.value, [], self._dtype(ent), ent.subs
            else:
                tree = ent if isinstance(ent, dict) else None
        if btype is None:
            return ent, None, None
        if base is None:
            return ent, col_path(".".join(below)), btype
        for name in below:
            base = base.getField(name)
        return ent, base, btype

    def _build(self, ent, base: Column | None, btype: T.DataType | None):
        """The value of a pending entry over ``base``, plus the values
        written at or below it (for the NULL-parent guard of its
        ancestors). The value is a Column; None where the entry deletes
        the path or every field of its struct; or, where it only deletes
        fields below ``base``, their quoted relative paths."""
        put = ent if isinstance(ent, _Put) else None
        if put is not None:
            if not put.subs:
                return (None if put.gone else put.value), _leaves(put)
            base, btype, ent = put.value, self._dtype(put), put.subs
        fields, drops, gone, leaves = [], [], set(), []
        for name, sub in ent.items():
            if isinstance(sub, _Put) and not sub.subs:  # needs no base
                v, sub_leaves = self._build(sub, None, None)
            else:
                v, sub_leaves = self._build(sub, *_field(base, btype, name))
            leaves += sub_leaves
            if isinstance(v, list):
                drops += [f"{_quote(name)}.{p}" for p in v]
            elif v is not None:
                fields.append((name, v))
            elif isinstance(btype, T.StructType) and name in btype.fieldNames():
                drops.append(_quote(name))
                gone.add(name)
        shadow = put.shadow if put is not None else []
        if not isinstance(btype, T.StructType):
            if not fields:
                return None, leaves + shadow
            out = F.when(~_all_null(leaves), F.struct(*[v.alias(n) for n, v in fields]))
            return out, leaves + shadow
        up = [put.value] if put is not None else []
        if not fields and set(btype.fieldNames()) <= gone:
            return None, up + leaves + shadow
        if not (fields or leaves):  # deletes only
            if put is None:
                return drops, shadow
            return (base.dropFields(*drops) if drops else base), up + shadow
        # withField on a NULL struct returns NULL: write into an all-NULL
        # stand-in, then restore NULL where nothing non-NULL was written
        out = F.coalesce(base, F.struct(*[
            F.lit(None).cast(f.dataType).alias(f.name) for f in btype.fields]))
        for name, v in fields:
            out = out.withField(_quote(name), v)
        if drops:
            out = out.dropFields(*drops)
        return F.when(~(base.isNull() & _all_null(leaves)), out), up + leaves + shadow


def _value(built, base: Column | None) -> Column | None:
    """A :meth:`Fields._build` value as a Column over ``base``."""
    if isinstance(built, list):
        return base.dropFields(*built) if built else base
    return built


def with_path(df: DataFrame, path: str, value: Column) -> DataFrame:
    """Set/overwrite one (possibly nested) field; creates intermediates."""
    return Fields(df).set(path, value).apply()


def tags_expr(f: Fields, tags: list[str], target: str = "tags") -> Column:
    """Expression appending tags to an array field, creating it if needed
    (MapStr.AddTagsWithKey, mapstr.go:390-412; de-dup preserving order is
    NOT done by the reference, so plain concat)."""
    existing = f.get(target)
    existing_t = path_type(f.df.schema, target)
    if isinstance(existing_t, T.ArrayType):
        base = F.coalesce(existing, F.array().cast("array<string>"))
    elif isinstance(existing_t, T.StringType):
        # reference wraps a scalar string into an array (mapstr.go:399-403)
        base = F.when(existing.isNull(), F.array().cast("array<string>")).otherwise(F.array(existing))
    else:
        base = F.array().cast("array<string>")
    return F.concat(base, F.array(*[F.lit(t) for t in tags]))


def append_flag(f: Fields, flag: str, cond: Column | None = None,
                path: str = "log.flags") -> None:
    """Append a value to log.flags (beat.FlagField semantics) in the write
    set ``f``, optionally only on rows matching ``cond``; used for
    *_parsing_error / truncated."""
    base = F.array().cast("array<string>")
    if isinstance(path_type(f.df.schema, path), T.ArrayType):
        base = F.coalesce(f.get(path), base)
    f.set(path, F.array_union(base, F.array(F.lit(flag))), where=cond)


def set_error_message(f: Fields, failed: Column, message: str) -> None:
    """Set ``error.message`` on failing rows while PRESERVING an earlier
    processor's message on rows that succeeded (the shared
    grok/dissect/syslog ``ignore_failure=False`` idiom)."""
    f.set("error.message", F.lit(message), where=failed)
