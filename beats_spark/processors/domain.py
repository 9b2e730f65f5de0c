"""registered_domain: eTLD+1 extraction via a broadcast public-suffix join.

Reference: libbeat/processors/registered_domain/registered_domain.go —
``publicsuffix.EffectiveTLDPlusOne(domain)`` per event. The Go library
embeds the full Mozilla Public Suffix List; Spark-first, the PSL is DATA,
not code: a (suffix, is_wildcard, is_exception) dim table broadcast-joined
against the exploded candidate suffixes of each domain, longest winning
rule per PSL semantics. A built-in mini-list covers common TLDs for
out-of-the-box use; production loads the full list with
``register_suffix_list`` (same mechanism as the enrich lookup registry).

Algorithm (publicsuffix semantics):
- candidates = every label-suffix of the domain ("a.b.co.uk" →
  [a.b.co.uk, b.co.uk, co.uk, uk]);
- a rule matches a candidate exactly, or as a wildcard (*.X matches Y.X);
- exception rules (!W.X) override wildcards: the public suffix is X;
- the matched public suffix is the LONGEST match (most labels);
- registered domain = public suffix + one preceding label; a domain that
  IS a public suffix has no registered domain (NULL, like
  EffectiveTLDPlusOne's error → ignore_failure skip).

One broadcast hash join over ≤ #labels candidate rows per input row — no
UDF, no per-row Python.
"""

from __future__ import annotations

from typing import Any, Iterable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from beats_spark.event import Fields, _quote, get_path
from beats_spark.processors.base import Stage, register

# Common-coverage built-in subset of the PSL (production: load the full
# Mozilla list via register_suffix_list — it is ~9k rules of DATA).
DEFAULT_SUFFIXES: list[str] = [
    "com", "org", "net", "edu", "gov", "mil", "int", "io", "co", "ai",
    "dev", "app", "info", "biz", "me", "tv", "cc", "us", "uk", "de",
    "fr", "jp", "cn", "ru", "br", "in", "au", "ca", "nl", "se", "es",
    "it", "ch", "pl", "kr",
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk",
    "com.au", "net.au", "org.au", "com.br", "com.cn", "com.mx",
    "co.jp", "ne.jp", "or.jp", "ac.jp",
    "co.kr", "co.in", "co.nz", "org.nz",
    "github.io", "gitlab.io", "blogspot.com", "herokuapp.com",
    "cloudfront.net", "amazonaws.com", "azurewebsites.net",
]

_registry: dict[str, list[tuple[str, bool, bool]]] = {}


def register_suffix_list(name: str, rules: Iterable[str]) -> None:
    """Register a PSL rule list (raw PSL syntax: ``x.y``, ``*.y``,
    ``!exception.y``) under a name referencable from processor config."""
    parsed = []
    for r in rules:
        r = r.strip().lower()
        if not r or r.startswith("//"):
            continue
        wildcard = r.startswith("*.")
        exception = r.startswith("!")
        parsed.append((r.lstrip("!*."), wildcard, exception))
    _registry[name] = parsed


register_suffix_list("default", DEFAULT_SUFFIXES)


def _suffix_frame(spark: SparkSession, name: str) -> DataFrame:
    if name not in _registry:
        raise ValueError(f"registered_domain: unknown suffix list {name!r} "
                         f"(registered: {sorted(_registry)})")
    return spark.createDataFrame(
        _registry[name],
        "sfx string, wild boolean, exc boolean",
    )


@register("registered_domain")
def registered_domain(cfg: dict[str, Any]) -> Stage:
    unknown = set(cfg) - {"field", "target_field", "suffix_list",
                          "ignore_missing", "ignore_failure"}
    if unknown:
        raise ValueError(
            f"registered_domain: unknown config keys {sorted(unknown)}")
    fld = cfg.get("field", "domain")
    target = cfg.get("target_field", "registered_domain")
    list_name = cfg.get("suffix_list", "default")

    class RegisteredDomain(Stage):
        def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
            spark = df.sparkSession
            sfx = F.broadcast(_suffix_frame(spark, list_name))

            # keyed by the DOMAIN VALUE (deterministic under task retries
            # and recomputation — a monotonically_increasing_id join key
            # can diverge between the two evaluations of a self-join),
            # deduplicated so each distinct domain is matched once
            dom_expr = F.lower(get_path(df, fld))
            if cond is not None:  # skipped rows neither match nor probe
                dom_expr = F.when(cond, dom_expr)
            doms = df.select(dom_expr.alias("dom")).filter(
                F.col("dom").isNotNull()).distinct()
            labels = F.split(F.col("dom"), r"\.")
            n = F.size(labels)
            # candidate suffixes with their label counts
            cands = F.transform(
                F.sequence(F.lit(1), n),
                lambda k: F.struct(
                    F.array_join(F.slice(labels, n - k + 1, k), ".").alias("c"),
                    k.alias("k"),
                ),
            )
            ex = doms.select("dom", F.explode(cands).alias("cand"))
            j = ex.join(
                sfx,
                # exact rule: candidate == suffix; wildcard *.X: the
                # candidate's PARENT labels equal X (i.e. candidate
                # endswith ".X" with exactly one extra label) — encoded as
                # candidate minus first label == suffix
                (F.col("cand.c") == F.col("sfx"))
                | (F.col("wild")
                   & (F.expr("substring_index(cand.c, '.', -(cand.k - 1))")
                      == F.col("sfx"))
                   & (F.col("cand.k") > 1)),
                "left",
            )
            # effective public-suffix label count per rule match:
            # exact rule -> k; wildcard -> k (the extra label is part of the
            # suffix); exception !W.X -> the suffix is X, i.e. k - 1.
            # No rule matched at all -> the PSL's implicit '*' default rule:
            # the TLD itself is the public suffix (psk = 1).
            eff_k = F.when(F.col("exc"), F.col("cand.k") - 1).otherwise(
                F.col("cand.k"))
            f = Fields(df)
            dom, psk = f.temp(), f.temp()
            best = (
                j.groupBy("dom")
                .agg(F.max(F.when(F.col("sfx").isNotNull(), F.struct(
                    # PSL precedence: "the prevailing rule is the exception
                    # rule if any, else the longest match" — so exception
                    # flag orders BEFORE label count
                    F.col("exc").cast("int").alias("exc"),
                    eff_k.alias("k"),
                ))).alias("m"))
                .select(
                    F.col("dom").alias(dom),
                    F.coalesce(F.col("m.k"), F.lit(1)).alias(psk),
                )
            )
            # NOT broadcast: distinct-domain cardinality scales with the
            # data; AQE picks the strategy (and can still broadcast a
            # small best side at runtime)
            f.df = df.join(best, dom_expr == F.col(_quote(dom)), "left")
            labels2 = F.split(F.lower(get_path(df, fld)), r"\.")
            n2 = F.size(labels2)
            k = F.col(_quote(psk))
            reg = F.when(
                k.isNotNull() & (n2 > k),
                F.array_join(F.slice(labels2, n2 - k, k + 1), "."),
            )
            return f.set(target, reg).apply(where=cond)

    return RegisteredDomain()
