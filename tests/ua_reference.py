r"""The user_agent stage's semantics in plain Python, kept as the test oracle.

Each rule list is tried in order with ``re.search`` under ``re.ASCII``
(Java's ``\d`` and ``\s`` are ASCII and ``(?i)`` folds only ASCII); the first
rule that finds a match wins, and a version joins that first match's
non-empty groups with '.', as
``NULLIF(CONCAT_WS('.', NULLIF(regexp_extract(…, i), '')…), '')`` does.

Inputs must stay printable ASCII plus ``\n``: Java's ``.`` also stops at
``\r``, ``\u0085``, ``\u2028`` and ``\u2029``, and JDK 17's ``\b`` counts
non-ASCII letters as word characters.
"""

from __future__ import annotations

import re

from beats_spark.processors.uaparse import (_BROWSERS, _MODEL_RXS, _OSES,
                                            _SPIDER_FAMILIES, _SPIDER_RX)


def _search(rx: str, s: str) -> re.Match | None:
    return re.search(rx, s, re.ASCII)


def _first(rules, s: str):
    """(rule, match) of the first rule whose regex finds a match."""
    for rule in rules:
        m = _search(rule[1], s)
        if m:
            return rule, m
    return None, None


def _version(m: re.Match) -> str | None:
    return ".".join(g for g in m.groups() if g) or None


def parse(ua: str | None) -> tuple:
    """(name, version, os name, os version, os full, device name)."""
    if ua is None:
        return (None,) * 6
    rule, m = _first(_BROWSERS, ua)
    name, version = (rule[0], _version(m)) if rule else ("Other", None)
    orule, om = _first(_OSES, ua)
    os_name = os_version = os_full = None
    if orule:
        os_name = orule[0]
        os_version = orule[3] or _version(om)
        os_full = f"{os_name} {os_version}" if os_version else os_name
    models = [m.group(1) for m in (_search(rx, ua) for rx in _MODEL_RXS) if m]
    if name in _SPIDER_FAMILIES or _search(_SPIDER_RX, ua):
        device = "Spider"
    elif "iPhone" in ua:
        device = "iPhone"
    elif "iPad" in ua:
        device = "iPad"
    elif "Macintosh" in ua:
        device = "Mac"
    else:
        device = next((x for x in models if x), "Other")
    return name, version, os_name, os_version, os_full, device
