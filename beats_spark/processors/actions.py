"""Field-manipulation processors (libbeat/processors/actions/*).

Each builder takes the reference's config keys and returns a Stage whose
work is pure column algebra — no Python in the hot path.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from beats_spark.event import (Fields, append_flag, get_path, has_path,
                               path_type, tags_expr, with_path)
from beats_spark.processors.base import Stage, register

# fields the reference refuses to drop (actions/drop_fields.go:24) mapped to
# our column names (@timestamp ≡ ts)
PROTECTED_FIELDS = {"ts", "type"}


def _flatten(d: dict[str, Any], prefix: str = "") -> dict[str, Any]:
    out: dict[str, Any] = {}
    for k, v in d.items():
        key = f"{prefix}.{k}" if prefix else k
        if isinstance(v, dict):
            out.update(_flatten(v, key))
        else:
            out[key] = v
    return out


@register("add_fields")
def add_fields(cfg: dict[str, Any]) -> Stage:
    """Constant fields under ``target`` (default ``fields``); empty target
    = root (actions/add_fields.go:41-56,74)."""
    fields = cfg.get("fields", {})
    target = cfg.get("target", "fields")

    class AddFields(Stage):
        def updates(self, f: Fields) -> None:
            for path, v in _flatten(fields).items():
                f.set(f"{target}.{path}" if target else path, F.lit(v))

    return AddFields()


@register("add_labels")
def add_labels(cfg: dict[str, Any]) -> Stage:
    """add_fields pinned to the ``labels`` target with FLATTENED keys:
    nested input maps become literal dotted field names like ``nested.k``
    (actions/add_labels.go:31-41 flattens before merging)."""
    flat = _flatten(cfg.get("labels", {}))

    class AddLabels(Stage):
        def updates(self, f: Fields) -> None:
            # a dotted key is ONE literal field name, so it is written into
            # a whole ``labels`` value rather than through a dotted path
            old = path_type(f.df.schema, "labels")
            names = old.fieldNames() if isinstance(old, T.StructType) else []
            f.set("labels", F.struct(
                *[(F.lit(flat[n]) if n in flat else f.get("labels").getField(n)).alias(n)
                  for n in names],
                *[F.lit(v).alias(k) for k, v in flat.items() if k not in names]))

    return AddLabels()


@register("add_tags")
def add_tags_proc(cfg: dict[str, Any]) -> Stage:
    """Append tags to an array field (actions/add_tags.go:35-46)."""
    tags = list(cfg.get("tags", []))
    target = cfg.get("target", "tags")

    class AddTags(Stage):
        def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
            if cond is not None and isinstance(path_type(df.schema, target), T.StringType):
                # the column becomes array<string> on every row, so rows the
                # condition skips hold their scalar wrapped (mapstr.go:399-403)
                old = get_path(df, target)
                df = with_path(df, target, F.when(old.isNotNull(), F.array(old)))
            return super().apply(df, cond)

        def updates(self, f: Fields) -> None:
            f.set(target, tags_expr(f, tags, target))

    return AddTags()


@register("rename")
def rename(cfg: dict[str, Any]) -> Stage:
    """Move fields from→to; the reference fails when the target exists and
    rolls back on error (actions/rename.go:75-98). Existence is plan-time
    here, so the check is a plan-time error."""
    pairs = cfg.get("fields", [])
    ignore_missing = cfg.get("ignore_missing", False)
    fail_on_error = cfg.get("fail_on_error", True)

    class Rename(Stage):
        def updates(self, f: Fields) -> None:
            for p in pairs:
                src, dst = p["from"], p["to"]
                if not f.has(src):
                    if ignore_missing or not fail_on_error:
                        continue
                    raise ValueError(f"rename: missing source field {src!r}")
                if f.has(dst):
                    if fail_on_error:
                        raise ValueError(
                            f"rename: target field {dst!r} already exists")
                    # reference renameField errors on an existing target;
                    # with fail_on_error=false the event stays UNCHANGED —
                    # not overwritten (actions/rename.go:75-98)
                    continue
                # delete before put, so a can become a.b (rename.go:86-90)
                value = f.get(src)
                f.drop(src)
                f.set(dst, value)

    return Rename()


@register("copy_fields")
def copy_fields(cfg: dict[str, Any]) -> Stage:
    """Copy from→to without overwrite by default (actions/copy_fields.go:39-71)."""
    pairs = cfg.get("fields", [])
    ignore_missing = cfg.get("ignore_missing", False)
    fail_on_error = cfg.get("fail_on_error", True)

    class CopyFields(Stage):
        def updates(self, f: Fields) -> None:
            for p in pairs:
                src, dst = p["from"], p["to"]
                if not f.has(src):
                    if ignore_missing or not fail_on_error:
                        continue
                    raise ValueError(f"copy_fields: missing source field {src!r}")
                if fail_on_error and has_path(f.df.schema, dst):
                    raise ValueError(f"copy_fields: target {dst!r} already exists")
                f.set(dst, f.get(src))

    return CopyFields()


@register("drop_fields")
def drop_fields(cfg: dict[str, Any]) -> Stage:
    """Delete listed fields; @timestamp/type protected
    (actions/drop_fields.go:38-48)."""
    fields = cfg.get("fields", [])
    ignore_missing = cfg.get("ignore_missing", True)

    class DropFields(Stage):
        def updates(self, f: Fields) -> None:
            for fld in fields:
                if fld in PROTECTED_FIELDS:
                    continue
                if not f.has(fld):
                    if not ignore_missing:
                        raise ValueError(f"drop_fields: missing field {fld!r}")
                    continue
                f.drop(fld)

    return DropFields()


@register("include_fields")
def include_fields(cfg: dict[str, Any]) -> Stage:
    """Keep only listed fields plus @timestamp/type
    (actions/include_fields.go:36-46). System columns (``_``-prefixed) are
    kept so routing/lineage still work."""
    fields = list(cfg.get("fields", []))

    class IncludeFields(Stage):
        def updates(self, f: Fields) -> None:
            wanted = set(fields) | PROTECTED_FIELDS

            def unwanted(dtype: T.StructType, prefix: str) -> list[str]:
                """Paths that are neither wanted nor an ancestor of a wanted
                path: a kept struct must not smuggle sibling fields through
                (include_fields.go prunes to exactly the listed paths), and a
                struct none of whose fields is kept goes whole. A non-struct
                ancestor is kept whole."""
                out = []
                for fld in dtype.fields:
                    p = prefix + fld.name
                    if p in wanted or (not prefix and p.startswith("_")):
                        continue
                    if not any(w.startswith(p + ".") for w in wanted):
                        out.append(p)
                    elif isinstance(fld.dataType, T.StructType):
                        sub = unwanted(fld.dataType, p + ".")
                        every = [f"{p}.{c}" for c in fld.dataType.fieldNames()]
                        out += [p] if sub == every else sub
                return out

            for p in unwanted(f.df.schema, ""):
                f.drop(p)

    return IncludeFields()


@register("drop_event")
def drop_event(cfg: dict[str, Any]) -> Stage:
    """Unconditional drop — only meaningful under ``when``
    (actions/drop_event.go:29-43)."""

    class DropEvent(Stage):
        def keep(self, df: DataFrame) -> Column:
            return F.lit(False)

    return DropEvent()


@register("replace")
def replace(cfg: dict[str, Any]) -> Stage:
    """Regex replace per field (actions/replace.go:39-75)."""
    rules = cfg.get("fields", [])
    ignore_missing = cfg.get("ignore_missing", False)

    class Replace(Stage):
        def updates(self, f: Fields) -> None:
            for r in rules:
                fld = r["field"]
                if not f.has(fld):
                    if ignore_missing:
                        continue
                    raise ValueError(f"replace: missing field {fld!r}")
                f.set(fld, F.regexp_replace(
                    f.get(fld), r["pattern"], r.get("replacement", "")))

    return Replace()


@register("truncate_fields")
def truncate_fields(cfg: dict[str, Any]) -> Stage:
    """Truncate to max_characters XOR max_bytes; tags ``log.flags:
    truncated`` on rows actually clipped (actions/truncate_fields.go:37-84,
    158-173). Byte mode clips at a UTF-8 boundary like the reference."""
    fields = cfg.get("fields", [])
    max_chars = cfg.get("max_characters")
    max_bytes = cfg.get("max_bytes")
    if (max_chars is None) == (max_bytes is None):
        raise ValueError("truncate_fields: exactly one of max_characters/max_bytes")

    class Truncate(Stage):
        def updates(self, f: Fields) -> None:
            any_trunc = F.lit(False)
            for fld in fields:
                if not f.has(fld):
                    continue
                col = f.get(fld)
                if max_chars is not None:
                    clipped = F.substring(col, 1, int(max_chars))
                    did = F.length(col) > int(max_chars)
                else:
                    # clip the UTF-8 bytes; Spark's decode replaces a
                    # trailing partial sequence with U+FFFD, so strip those
                    b = F.encode(col, "UTF-8")
                    clipped = F.regexp_replace(
                        F.decode(F.substring(b, 1, int(max_bytes)), "UTF-8"),
                        "\ufffd+$", "")
                    did = F.length(b) > int(max_bytes)
                did = F.coalesce(did, F.lit(False))
                f.set(fld, clipped, where=did)
                any_trunc = any_trunc | did
            append_flag(f, "truncated", cond=any_trunc)

    return Truncate()


@register("extract_field")
def extract_field(cfg: dict[str, Any]) -> Stage:
    """Split ``field`` by ``separator``, take ``index`` → ``target``
    (actions/extract_field.go:39-75)."""
    fld = cfg["field"]
    sep = cfg["separator"]
    idx = int(cfg.get("index", 0))
    target = cfg.get("target") or fld

    class ExtractField(Stage):
        def updates(self, f: Fields) -> None:
            import re as _re

            # the reference splits on a LITERAL separator (strings.Split);
            # F.split takes a Java regex, so metacharacters ('.', '|') must
            # be escaped or they split on every character
            parts = F.split(f.get(fld), _re.escape(sep), -1)
            f.set(target, F.element_at(parts, idx + 1))

    return ExtractField()


@register("decode_base64_field")
def decode_base64_field(cfg: dict[str, Any]) -> Stage:
    """Base64-decode field.from → field.to
    (actions/decode_base64_field.go:45-76)."""
    spec = cfg.get("field", {})
    src, dst = spec["from"], spec.get("to", spec["from"])

    class DecodeB64(Stage):
        def updates(self, f: Fields) -> None:
            f.set(dst, F.unbase64(f.get(src)).cast("string"))

    return DecodeB64()


@register("urldecode")
def urldecode(cfg: dict[str, Any]) -> Stage:
    """URL-unescape from→to (urldecode/urldecode.go:40-47). Uses Spark's
    built-in url_decode (JVM-side) — the reference's QueryUnescape."""
    rules = cfg.get("fields", [])

    class UrlDecode(Stage):
        def updates(self, f: Fields) -> None:
            for r in rules:
                src, dst = r["from"], r.get("to", r["from"])
                f.set(dst, F.try_url_decode(f.get(src)))

    return UrlDecode()


@register("split")
def split_field(cfg: dict[str, Any]) -> Stage:
    """Split a string field into an array on a regex separator — the ES
    ingest ``split`` processor surface (used by filebeat module pipelines,
    e.g. nginx/access/ingest/pipeline.yml's remote_ip_list split). Pure
    JVM ``F.split``, with Java ``String.split`` semantics like the ingest
    processor: interior and leading empty fragments are KEPT (positional
    consumers rely on them); only trailing empties are dropped — except a
    bare empty input, which stays ``[""]``.
    """
    fld = cfg["field"]
    sep = cfg["separator"]
    target = cfg.get("target_field", fld)
    ignore_missing = cfg.get("ignore_missing", False)

    class Split(Stage):
        def updates(self, f: Fields) -> None:
            if not f.has(fld):
                if ignore_missing:
                    return
                raise ValueError(f"split: missing field {fld!r}")
            col = f.get(fld).cast("string")
            arr = F.split(col, sep)
            # length of the trailing run of empty fragments
            trail = F.aggregate(
                F.reverse(arr),
                F.struct(F.lit(0).alias("n"), F.lit(False).alias("stop")),
                lambda acc, x: F.struct(
                    F.when(~acc["stop"] & (x == ""), acc["n"] + 1)
                    .otherwise(acc["n"]).alias("n"),
                    (acc["stop"] | (x != "")).alias("stop")),
                lambda acc: acc["n"])
            parts = F.when(col == "", F.array(F.lit(""))).otherwise(
                F.slice(arr, 1, F.size(arr) - trail))
            f.set(target, F.when(col.isNotNull(), parts))

    return Split()


@register("uri_parts")
def uri_parts(cfg: dict[str, Any]) -> Stage:
    """Decompose a URI field into ``url.*`` — the ES ingest ``uri_parts``
    processor surface (module pipelines apply it to the grokked request
    path). JVM-side via Spark's ``parse_url``; scheme-less inputs (the
    common access-log case, ``/path?q=1``) are parsed against a synthetic
    base so PATH/QUERY still resolve.

    Documented divergence: a scheme-less input with a colon before the
    first slash (``example.com:8080/x``) is treated as a pure RELATIVE
    path here (the whole input becomes ``url.path``), whereas ES's
    ``java.net.URI`` would parse ``example.com`` as the SCHEME of an
    opaque URI — output that is itself wrong for what users mean by
    host:port. Neither engine extracts host/port from that shape; pass a
    full ``scheme://host:port/...`` URI for authority parsing.
    """
    fld = cfg["field"]
    target = cfg.get("target_field", "url")
    keep_original = cfg.get("keep_original", True)
    ignore_missing = cfg.get("ignore_missing", False)

    class UriParts(Stage):
        def updates(self, f: Fields) -> None:
            if not f.has(fld):
                if ignore_missing:
                    return
                raise ValueError(f"uri_parts: missing field {fld!r}")
            col = f.get(fld).cast("string")
            has_scheme = col.rlike("^[A-Za-z][A-Za-z0-9+.-]*://")
            # scheme-less inputs parse against a synthetic base. Inputs not
            # starting with '/' (e.g. 'example.com/x', '../a') get a '/'
            # separator inserted so they don't glue onto the base host, and
            # the synthetic leading '/' is stripped back off the PATH below
            # — matching ES's java.net.URI uri_parts, whose relative-URI
            # path is the whole input up to '?'/'#'.
            rooted = col.startswith("/")
            full = F.when(has_scheme, col).otherwise(F.concat(
                F.lit("http://__relative__"),
                F.when(rooted, col).otherwise(F.concat(F.lit("/"), col))))
            nullify = lambda c: F.when(c != "", c)  # noqa: E731
            raw_path = F.parse_url(full, F.lit("PATH"))
            path = F.when(has_scheme | rooted, raw_path).otherwise(
                F.regexp_replace(raw_path, "^/", ""))
            query = F.parse_url(full, F.lit("QUERY"))
            host = F.when(has_scheme, F.parse_url(full, F.lit("HOST")))
            # port/user_info only exist in absolute URIs; fragment (REF)
            # also resolves for relative inputs against the synthetic base
            authority = F.parse_url(full, F.lit("AUTHORITY"))
            port = F.when(has_scheme, F.regexp_extract(
                authority, r":(\d+)$", 1)).try_cast("long")
            userinfo = F.when(has_scheme,
                              nullify(F.parse_url(full, F.lit("USERINFO"))))
            out = {
                f"{target}.path": nullify(path),
                f"{target}.query": nullify(query),
                f"{target}.domain": nullify(host),
                f"{target}.port": port,
                f"{target}.fragment": nullify(F.parse_url(full, F.lit("REF"))),
                f"{target}.user_info": userinfo,
                f"{target}.username": nullify(
                    F.regexp_extract(userinfo, "^([^:]*)", 1)),
                f"{target}.password": nullify(
                    F.regexp_extract(userinfo, "^[^:]*:(.*)$", 1)),
                f"{target}.scheme": F.when(
                    has_scheme, F.regexp_extract(col, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)),
                f"{target}.extension": nullify(
                    F.regexp_extract(path, r"\.([^./]+)$", 1)),
            }
            if keep_original:
                out[f"{target}.original"] = col
            for path, v in out.items():
                f.set(path, v)

    return UriParts()
