r"""user_agent: UA-string → browser / os / device split, pure column algebra.

The reference's module pipelines declare this as an ES ingest stage
(e.g. filebeat/module/nginx/access/ingest/pipeline.yml:123-125,
``field: user_agent.original``); the ES processor is backed by the public
uap-core regex dictionary. This stage carries a curated, ordered subset of
uap-core-shaped patterns for the major browser / OS / device families —
first match wins, exactly like uap-core's ordered list. No Python in the
plan.

Output (ES user_agent processor surface): ``{target}.name``, ``.version``,
``.os.{name,version,full}``, ``.device.name``, ``.original``.

Plan shape — O(1) code per rule, and each rule's regex runs at most once
per row (the winner's once more), so the stage fits in one whole-stage
codegen method:

1. the UA string is staged once as a temp column;
2. one first-match ``RLIKE`` CASE per rule list stages a browser-rule and
   an OS-rule index;
3. ``name`` and the OS name are picked from the indexes; the device spider
   test and ``os.full`` read the indexes instead of re-embedding the chains;
4. versions come from ONE ``regexp_replace`` per rule list, with the picked
   rule's ``^(?s:.*?)(?:rx)`` + ``()``×(4−n) + ``(?s:.*)$`` as pattern. It
   rewrites the string to that rule's first-match groups packed as
   ``$1 SEP $2 SEP $3 SEP $4``; one shared ``split`` / ``array_remove('')``
   / ``CONCAT_WS('.')`` joins the non-empty ones. The lazy prefix starts the
   match where ``regexp_extract``'s ``find()`` does and the suffix always
   succeeds, so the groups are ``find()``'s. This is exact only because no
   version group can contain ``SEP``: every group body is ``\d+``,
   ``a\d+[a-z]*`` or ``b\d+[a-z]*`` (pinned by a test). The pattern is
   recompiled on rows where it changes; one site per list instead of one per
   rule keeps the stage small enough to share a method with the apache
   module's four-pattern grok.

Temp-column staging alone does not shrink that method: codegen gives an
operator's consume its own method only when the parent uses every column
it outputs, and ``ProjectExec`` counts as used only the columns it
references twice — so every projection of a codegen stage lands in one
``processNext()`` and only the total code counts. A CASE per property that
re-runs every rule's ``RLIKE``, with a ``regexp_extract`` per version group,
overflows the JVM's 64 KB method limit and drops the stage out of codegen.

Documented divergences from a full uap-core run:
- version strings join the matched numeric groups with '.' (no trailing
  separator for empty trailing groups, which some recorded ES outputs show,
  e.g. "49.0.");
- Android device names are the raw model token from "; <model> Build/"
  (uap-core additionally brand-maps, e.g. "SM-G900F" → "Samsung SM-G900F").
"""

from __future__ import annotations

from functools import partial
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, functions as F

from beats_spark.event import Fields, _quote, get_path, has_path
from beats_spark.processors.base import Stage, register

# (family, regex, n_version_groups) — ordered, first match wins. Version
# capture groups MUST be the only capturing groups and numbered 1..n.
# Shapes follow the public uap-core regexes.yaml for each family.
_BROWSERS: list[tuple[str, str, int]] = [
    # robots / CLI clients first: their tokens often embed browser strings
    ("Googlebot", r"Googlebot(?:-Mobile|-Image|-News|-Video)?/(\d+)\.(\d+)", 2),
    ("bingbot", r"bingbot/(\d+)\.(\d+)", 2),
    ("Facebot", r"Facebot (\d+)\.(\d+)", 2),
    ("curl", r"\bcurl/(\d+)\.(\d+)(?:\.(\d+))?", 3),
    ("Wget", r"\bWget/(\d+)\.(\d+)(?:\.(\d+))?", 3),
    ("Python Requests", r"python-requests/(\d+)\.(\d+)(?:\.(\d+))?", 3),
    ("Go-http-client", r"Go-http-client/(\d+)(?:\.(\d+))?", 2),
    ("Apache-HttpClient", r"Apache-HttpClient/(\d+)\.(\d+)(?:\.(\d+))?", 3),
    # headless / embedded chromium before Chrome
    ("HeadlessChrome", r"HeadlessChrome/(\d+)\.(\d+)\.(\d+)(?:\.(\d+))?", 4),
    # Opera: modern OPR token, then legacy Opera/… Version/x.y
    ("Opera", r"\bOPR/(\d+)\.(\d+)(?:\.(\d+))?(?:\.(\d+))?", 4),
    ("Opera", r"Opera/.*\bVersion/(\d+)\.(\d+)(?:\.(\d+))?", 3),
    ("Opera", r"Opera[ /](\d+)\.(\d+)(?:\.(\d+))?", 3),
    # Edge (EdgeHTML "Edge/", chromium "Edg/", mobile EdgA/EdgiOS)
    ("Edge Mobile", r"Edg(?:A|iOS)/(\d+)\.(\d+)(?:\.(\d+))?(?:\.(\d+))?", 4),
    ("Edge", r"Edge?/(\d+)\.(\d+)(?:\.(\d+))?(?:\.(\d+))?", 4),
    # Firefox family: alpha/beta channels, iOS, mobile, desktop
    ("Firefox Alpha", r"Firefox/(\d+)\.(\d+)(a\d+[a-z]*)", 3),
    ("Firefox Beta", r"Firefox/(\d+)\.(\d+)(b\d+[a-z]*)", 3),
    ("Firefox iOS", r"FxiOS/(\d+)\.(\d+)(?:\.(\d+))?", 3),
    ("Firefox Mobile", r"(?:Android|Mobile;|Tablet;).*Firefox/(\d+)\.(\d+)(?:\.(\d+))?", 3),
    ("Firefox", r"Firefox/(\d+)\.(\d+)(?:\.(\d+))?", 3),
    # Chrome family: iOS token, Android WebView, Android mobile, Chromium
    ("Chrome Mobile iOS", r"CriOS/(\d+)\.(\d+)(?:\.(\d+))?(?:\.(\d+))?", 4),
    ("Chrome Mobile WebView", r"; wv\).*Chrome/(\d+)\.(\d+)(?:\.(\d+))?(?:\.(\d+))?", 4),
    ("Chrome Mobile", r"Android.*Chrome/(\d+)\.(\d+)(?:\.(\d+))?(?:\.(\d+))?\b.*\bMobile\b", 4),
    ("Chromium", r"Chromium/(\d+)\.(\d+)(?:\.(\d+))?(?:\.(\d+))?", 4),
    ("Chrome", r"Chrome/(\d+)\.(\d+)(?:\.(\d+))?(?:\.(\d+))?", 4),
    # Safari needs Version/x.y + Safari token (Chrome UAs carry bare Safari/)
    ("Mobile Safari", r"(?:iPhone|iPad|iPod).*Version/(\d+)\.(\d+)(?:\.(\d+))?.*Safari/", 3),
    ("Safari", r"Version/(\d+)\.(\d+)(?:\.(\d+))?.*Safari/", 3),
    # IE: classic MSIE token, then Trident rv:
    ("IE", r"MSIE (\d+)\.(\d+)", 2),
    ("IE", r"Trident/.*\brv[: ](\d+)\.(\d+)", 2),
]

# families whose device is "Spider" (uap-core device list marks robots so)
_SPIDER_FAMILIES = {"Googlebot", "bingbot", "Facebot"}
_SPIDER_RX = r"(?i)bot\b|crawler|spider|slurp|archiver|facebookexternalhit"

# (name, regex, n_version_groups, version_literal) — version_literal set
# means the version is mapped, not captured (Windows NT build → product).
_OSES: list[tuple[str, str, int, str | None]] = [
    ("Windows", r"Windows NT 10\.0", 0, "10"),
    ("Windows", r"Windows NT 6\.3", 0, "8.1"),
    ("Windows", r"Windows NT 6\.2", 0, "8"),
    ("Windows", r"Windows NT 6\.1", 0, "7"),
    ("Windows", r"Windows NT 6\.0", 0, "Vista"),
    ("Windows", r"Windows NT 5\.1", 0, "XP"),
    ("Windows Phone", r"Windows Phone (?:OS )?(\d+)(?:\.(\d+))?", 2, None),
    ("Windows", r"Windows NT", 0, None),
    # Android before Linux: Android UAs carry "Linux; Android x"
    ("Android", r"Android[ /](\d+)(?:\.(\d+))?(?:\.(\d+))?", 3, None),
    ("iOS", r"(?:iPhone|iPad|iPod).*OS (\d+)_(\d+)(?:_(\d+))?", 3, None),
    ("iOS", r"(?:iPhone|iPad|iPod)", 0, None),
    ("Mac OS X", r"Mac OS X (\d+)[_.](\d+)(?:[_.](\d+))?", 3, None),
    ("Mac OS X", r"Macintosh", 0, None),
    ("Chrome OS", r"CrOS [^ )]+ (\d+)\.(\d+)(?:\.(\d+))?", 3, None),
    ("Ubuntu", r"Ubuntu", 0, None),
    ("Fedora", r"Fedora", 0, None),
    ("Linux", r"(?i)\blinux", 0, None),
    ("FreeBSD", r"FreeBSD", 0, None),
]

# device model: the classic "; <model> Build/" token, else the modern
# Chrome Android shape "(Linux; Android 12; <model>)" which omits Build
_MODEL_RXS = (r";\s*([^;)]+?)\s+Build[/ )]", r"Android [\d.]+; ([^;)]+?)\)")

_UA_PROPS = {"name", "version", "os", "device", "original"}

# packs a rule's version groups into one string; no group can contain it
_SEP = "\x01"
_MAX_GROUPS = 4


def _sql_str(s: str, escaped_literals: bool = False) -> str:
    """SQL string literal. Quotes double ('' parses in BOTH parser modes);
    backslashes double only under the default parser, where backslash IS
    an escape char — with spark.sql.parser.escapedStringLiterals=true
    (Hive-style) a doubled backslash would corrupt every regex."""
    body = s.replace("'", "''")
    if not escaped_literals:
        body = body.replace("\\", "\\\\")
    return "'" + body + "'"


def _pack_rx(rx: str, n: int) -> str:
    """Whole-string regex whose groups 1..4 are ``rx``'s first match's
    version groups (padded with empty ones)."""
    return f"^(?s:.*?)(?:{rx}){'()' * (_MAX_GROUPS - n)}(?s:.*)$"


def _pick(idx: str, values: list[str | None]) -> str:
    """``values[idx]`` as SQL (NULL for a NULL idx or a None value)."""
    whens = " ".join(f"WHEN {k} THEN {v}" for k, v in enumerate(values)
                     if v is not None)
    return f"CASE {idx} {whens} END"


def _first_match(ua: str, rxs: list[str], lit: Callable[[str], str]) -> str:
    """Index of the first rule whose regex finds a match, else NULL."""
    whens = " ".join(f"WHEN {ua} RLIKE {lit(rx)} THEN {i}"
                     for i, rx in enumerate(rxs))
    return f"CASE {whens} END"


def _packed(ua: str, idx: str, rules: list[tuple[str, int]],
            lit: Callable[[str], str]) -> str:
    """The version groups of the rule ``idx`` picked, packed by ONE
    ``regexp_replace`` with that rule's pattern (``rules``: (regex,
    n_groups)); NULL for rules without groups."""
    pats = [lit(_pack_rx(rx, n)) if n else None for rx, n in rules]
    tmpl = lit(_SEP.join(f"${g}" for g in range(1, _MAX_GROUPS + 1)))
    return f"regexp_replace({ua}, {_pick(idx, pats)}, {tmpl})"


def _joined(packed: str, lit: Callable[[str], str]) -> str:
    """Non-empty packed groups joined with '.', NULL when none (what
    ``NULLIF(CONCAT_WS('.', NULLIF(regexp_extract(…), '')…), '')`` gives).
    No higher-order function: its lambda would be re-resolved by every
    downstream analysis walk of a long module chain."""
    return (f"NULLIF(CONCAT_WS('.', array_remove(split({packed}, "
            f"{lit(_SEP)}), '')), '')")


@register("user_agent")
def user_agent(cfg: dict[str, Any]) -> Stage:
    """ES-ingest-shaped ``user_agent`` processor (module pipelines:
    nginx/access pipeline.yml:123-125). Config: ``field`` (the UA string),
    ``target_field`` (default ``user_agent``), ``properties`` subset of
    name/version/os/device/original, ``ignore_missing``."""
    unknown = set(cfg) - {"field", "target_field", "properties",
                          "ignore_missing"}
    if unknown:
        raise ValueError(f"user_agent: unknown config keys {sorted(unknown)}")
    fld = cfg["field"]
    target = cfg.get("target_field", "user_agent")
    props = set(cfg.get("properties", sorted(_UA_PROPS)))
    bad = props - _UA_PROPS
    if bad:
        raise ValueError(f"user_agent: unknown properties {sorted(bad)} "
                         f"(known: {sorted(_UA_PROPS)})")
    ignore_missing = cfg.get("ignore_missing", False)
    spiders = ", ".join(str(i) for i, (fam, _, _) in enumerate(_BROWSERS)
                        if fam in _SPIDER_FAMILIES)

    class UserAgent(Stage):
        def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
            if not has_path(df.schema, fld):
                if ignore_missing:
                    return df
                raise ValueError(f"user_agent: missing field {fld!r}")
            # SQL text parsed once by F.expr: building the rule chains as
            # py4j Column nodes cost ~1.2 s of driver time per apply (r5)
            esc = (df.sparkSession.conf.get(
                "spark.sql.parser.escapedStringLiterals", "false")
                .lower() == "true")
            lit = partial(_sql_str, escaped_literals=esc)
            f = Fields(df)
            temps = [f.temp() for _ in range(5)]
            ua, b, o, bv, ov = (_quote(n) for n in temps)
            ua_t, b_t, o_t, bv_t, ov_t = temps

            # rows a `when` skips see a NULL UA, so they skip every regex
            # (their old values are kept by the write's `where`); the rule
            # indexes and packs go in as SQL text, so their layers name
            # the temps themselves
            raw = get_path(df, fld).cast("string")
            f.df = f.df.withColumn(ua_t, raw if cond is None else F.when(cond, raw))
            idx, packs = {}, {}
            if props & {"name", "version", "device"}:
                idx[b_t] = _first_match(ua, [r[1] for r in _BROWSERS], lit)
            if "version" in props:
                packs[bv_t] = _packed(ua, b, [r[1:3] for r in _BROWSERS], lit)
            if "os" in props:
                idx[o_t] = _first_match(ua, [r[1] for r in _OSES], lit)
                packs[ov_t] = _packed(ua, o, [r[1:3] for r in _OSES], lit)
            for cols in (idx, packs):
                if cols:
                    f.df = f.df.withColumns({k: F.expr(v) for k, v in cols.items()})

            if "name" in props:
                name = _pick(b, [lit(r[0]) for r in _BROWSERS])
                f.set(f"{target}.name", F.expr(
                    f"COALESCE({name}, CASE WHEN {ua} IS NOT NULL THEN 'Other' END)"))
            if "version" in props:
                f.set(f"{target}.version", F.expr(_joined(bv, lit)))
            if "os" in props:
                os_name = _pick(o, [lit(r[0]) for r in _OSES])
                os_lit = _pick(o, [lit(r[3]) if r[3] else None for r in _OSES])
                os_ver = f"COALESCE({os_lit}, {_joined(ov, lit)})"
                f.set(f"{target}.os.name", F.expr(os_name))
                f.set(f"{target}.os.version", F.expr(os_ver))
                f.set(f"{target}.os.full", F.expr(
                    f"CASE WHEN {o} IS NOT NULL "
                    f"THEN CONCAT_WS(' ', {os_name}, {os_ver}) END"))
            if "device" in props:
                models = ", ".join(f"NULLIF(regexp_extract({ua}, {lit(rx)}, 1), '')"
                                   for rx in _MODEL_RXS)
                f.set(f"{target}.device.name", F.expr(
                    f"CASE WHEN {b} IN ({spiders}) "
                    f"OR {ua} RLIKE {lit(_SPIDER_RX)} THEN 'Spider' "
                    f"WHEN {ua} RLIKE 'iPhone' THEN 'iPhone' "
                    f"WHEN {ua} RLIKE 'iPad' THEN 'iPad' "
                    f"WHEN {ua} RLIKE 'Macintosh' THEN 'Mac' "
                    f"ELSE COALESCE({models}, "
                    f"CASE WHEN {ua} IS NOT NULL THEN 'Other' END) END"))
            if "original" in props and f"{target}.original" != fld:
                f.set(f"{target}.original", F.col(ua))
            return f.apply(where=cond)

    return UserAgent()
