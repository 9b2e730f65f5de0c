"""user_agent: UA-string → browser / os / device split, pure column algebra.

The reference's module pipelines declare this as an ES ingest stage
(e.g. filebeat/module/nginx/access/ingest/pipeline.yml:123-125,
``field: user_agent.original``); the ES processor is backed by the public
uap-core regex dictionary. This stage carries a curated, ordered subset of
uap-core-shaped patterns for the major browser / OS / device families as a
single Catalyst CASE chain — first match wins, exactly like uap-core's
ordered list. No Python in the plan: every rule is ``rlike`` +
``regexp_extract``.

Output (ES user_agent processor surface): ``{target}.name``, ``.version``,
``.os.{name,version,full}``, ``.device.name``, ``.original``.

Documented divergences from a full uap-core run:
- version strings join the matched numeric groups with '.' (no trailing
  separator for empty trailing groups, which some recorded ES outputs show,
  e.g. "49.0.");
- Android device names are the raw model token from "; <model> Build/"
  (uap-core additionally brand-maps, e.g. "SM-G900F" → "Samsung SM-G900F").
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import functions as F

from beats_spark.event import Fields
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

_UA_PROPS = {"name", "version", "os", "device", "original"}


def _sql_str(s: str, escaped_literals: bool = False) -> str:
    """SQL string literal. Quotes double ('' parses in BOTH parser modes);
    backslashes double only under the default parser, where backslash IS
    an escape char — with spark.sql.parser.escapedStringLiterals=true
    (Hive-style) a doubled backslash would corrupt every regex."""
    body = s.replace("'", "''")
    if not escaped_literals:
        body = body.replace("\\", "\\\\")
    return "'" + body + "'"


def _ver_sql(ua_ref: str, rx: str, n: int, esc: bool) -> str:
    """Join the non-empty version captures with '.' (regexp_extract yields
    '' for optional groups that did not participate). Deliberately NO
    higher-order functions: a lambda per rule would be re-resolved by
    every downstream analysis walk and blow up plan time when the stage
    sits inside a long module chain."""
    if n == 0:
        return "CAST(NULL AS STRING)"
    parts = ", ".join(
        f"NULLIF(regexp_extract({ua_ref}, {_sql_str(rx, esc)}, {i}), '')"
        for i in range(1, n + 1))
    return f"NULLIF(CONCAT_WS('.', {parts}), '')"


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

    class UserAgent(Stage):
        def updates(self, f: Fields) -> None:
            if not f.has(fld):
                if ignore_missing:
                    return
                raise ValueError(f"user_agent: missing field {fld!r}")
            ua = f.get(fld).cast("string")
            # the big first-match-wins chains are emitted as SQL TEXT and
            # parsed once by F.expr: building ~500 Column nodes through
            # py4j cost ~1.2 s of driver time PER APPLY (measured r5) —
            # the same rule-of-thumb as the minhash/simhash SQL-text
            # rework (BENCH.md §3). CASE WHEN order = list order = the
            # uap-core first-match-wins semantics.
            from beats_spark.event import _quote

            esc = (f.df.sparkSession.conf.get(
                "spark.sql.parser.escapedStringLiterals", "false")
                .lower() == "true")
            ua_ref = ("CAST(" + ".".join(_quote(p) for p in fld.split("."))
                      + " AS STRING)")
            name = F.expr(
                "CASE "
                + " ".join(f"WHEN {ua_ref} RLIKE {_sql_str(rx, esc)} "
                           f"THEN {_sql_str(fam, esc)}"
                           for fam, rx, _ in _BROWSERS)
                + f" WHEN {ua_ref} IS NOT NULL THEN 'Other' END")
            version = F.expr(
                "CASE "
                + " ".join(f"WHEN {ua_ref} RLIKE {_sql_str(rx, esc)} "
                           f"THEN {_ver_sql(ua_ref, rx, n, esc)}"
                           for _, rx, n in _BROWSERS)
                + " END")

            def os_case(value_of) -> str:
                return ("CASE "
                        + " ".join(
                            f"WHEN {ua_ref} RLIKE {_sql_str(rx, esc)} "
                            f"THEN {value_of(oname, rx, n, vlit)}"
                            for oname, rx, n, vlit in _OSES)
                        + " END")

            os_name = F.expr(os_case(lambda o, rx, n, v: _sql_str(o, esc)))
            os_ver = F.expr(os_case(
                lambda o, rx, n, v: _sql_str(v, esc) if v
                else _ver_sql(ua_ref, rx, n, esc)))
            os_full = F.when(
                os_name.isNotNull(),
                F.when(os_ver.isNotNull(),
                       F.concat(os_name, F.lit(" "), os_ver))
                .otherwise(os_name))

            # classic "; <model> Build/" token, else the modern Chrome
            # Android shape "(Linux; Android 12; <model>)" which omits Build
            rx1 = _sql_str(r";\s*([^;)]+?)\s+Build[/ )]", esc)
            rx2 = _sql_str(r"Android [\d.]+; ([^;)]+?)\)", esc)
            model = F.expr(
                f"COALESCE(NULLIF(regexp_extract({ua_ref}, {rx1}, 1), ''), "
                f"NULLIF(regexp_extract({ua_ref}, {rx2}, 1), ''), '')")
            device = (
                F.when(name.isin(*sorted(_SPIDER_FAMILIES))
                       | ua.rlike(_SPIDER_RX), F.lit("Spider"))
                .when(ua.rlike(r"iPhone"), F.lit("iPhone"))
                .when(ua.rlike(r"iPad"), F.lit("iPad"))
                .when(ua.rlike(r"Macintosh"), F.lit("Mac"))
                .when(model != "", model)
                .when(ua.isNotNull(), F.lit("Other")))

            if "name" in props:
                f.set(f"{target}.name", name)
            if "version" in props:
                f.set(f"{target}.version", version)
            if "os" in props:
                f.set(f"{target}.os.name", os_name)
                f.set(f"{target}.os.version", os_ver)
                f.set(f"{target}.os.full", os_full)
            if "device" in props:
                f.set(f"{target}.device.name", device)
            if "original" in props and f"{target}.original" != fld:
                f.set(f"{target}.original", ua)

    return UserAgent()
