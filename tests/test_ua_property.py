"""Property test: the user_agent stage must equal the Python oracle.

Hypothesis splices and mutates the UA corpus — cuts of two agents joined,
then inserted, deleted or replaced spans drawn from the rule tokens and from
printable ASCII with ``\\n`` — and mixes in NULL, empty and newline-only
inputs. Each example runs all its strings as one DataFrame through the stage;
every row must equal ``ua_reference.parse``.

The stage packs a rule's version groups into one string joined by a
separator; the static check below pins the precondition that makes this
exact: every version group's body can only match ``[0-9A-Za-z]``.
"""

from __future__ import annotations

import re
import string

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from beats_spark.processors import apply_chain, build_chain
from beats_spark.processors.uaparse import _BROWSERS, _MAX_GROUPS, _OSES
from test_ua_cidr import UA_CORPUS
from ua_reference import parse

AGENTS = [row[0] for row in UA_CORPUS]
TOKENS = ["Version/", "Safari/", "Chrome/", "Firefox/", "Edg/", "OPR/",
          "Opera/", "CriOS/", "Android ", "; wv)", " Build/", "; SM-X1)",
          "iPhone", "iPad", "Macintosh", "Mobile", "bot", "MSIE ", "Trident/",
          "rv:", "Windows NT 6.1", "Windows Phone 8.1", "CPU OS 9_3",
          "Mac OS X 10_9", "CrOS x 1.2", "Linux", "1.2", "49.0a2", "4b1",
          "_", ".", "/", ";", ")", "\n"]
ALPHABET = string.ascii_letters + string.digits + string.punctuation + " \n"
EDGES = [None, "", "\n", " ", "\n\n"]

SAFE_GROUP_BODIES = {r"\d+", r"a\d+[a-z]*", r"b\d+[a-z]*"}


@st.composite
def agents(draw) -> str:
    s = draw(st.sampled_from(AGENTS))
    if draw(st.booleans()):
        t = draw(st.sampled_from(AGENTS))
        s = (s[:draw(st.integers(0, len(s)))]
             + t[draw(st.integers(0, len(t))):])
    for _ in range(draw(st.integers(0, 3))):
        i = draw(st.integers(0, len(s)))
        j = min(len(s), i + draw(st.integers(0, 4)))
        piece = draw(st.one_of(st.sampled_from(TOKENS),
                               st.text(ALPHABET, max_size=3)))
        s = s[:i] + piece + s[draw(st.sampled_from([i, j])):]
    return s


def _get(row, path: str):
    for part in path.split("."):
        if row is None:
            return None
        row = row[part]
    return row


def run_stage(spark, uas: list[str | None]) -> list[tuple]:
    """(oracle fields..., original) per UA, in input order."""
    df = spark.createDataFrame([(i, u) for i, u in enumerate(uas)],
                               "i int, ua string")
    out = apply_chain(df, build_chain([{"user_agent": {"field": "ua"}}]))
    paths = ["name", "version", "os.name", "os.version", "os.full",
             "device.name", "original"]
    return [tuple(_get(r, f"user_agent.{p}") for p in paths)
            for r in out.orderBy("i").collect()]


@settings(max_examples=25, deadline=None, derandomize=True)
@given(uas=st.lists(st.one_of(agents(), st.sampled_from(EDGES)),
                    min_size=20, max_size=40))
# a newline between a rule's tokens: `.` stops there, `(?s:.*?)` does not
@example(uas=["Firefox/1.2a3b\nChrome/4.5", "Opera/9.80\nVersion/12.1",
              "x (iPhone; CPU OS 1_2\n) Version/3.4 Safari/1",
              "Android 4.4\n; Nexus 5) Chrome/1.2 Mobile", "CrOS\nx 1.2",
              "\nMSIE 8.0", "crawler\n", None, "", "\n"])
def test_user_agent_matches_oracle(spark, uas):
    for ua, got in zip(uas, run_stage(spark, uas)):
        assert got == (*parse(ua), ua), ua


def test_user_agent_under_when_keeps_skipped_rows(spark):
    """Rows the condition skips run no regex and keep their old values."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, ua) for i, ua in enumerate(AGENTS)], "i int, ua string",
    ).withColumn("user_agent", F.struct(F.lit("keep").alias("name")))
    out = apply_chain(df, build_chain([{"user_agent": {
        "field": "ua", "when": {"range": {"i": {"lt": 10}}}}}]))
    paths = ["name", "version", "os.name", "os.version", "os.full",
             "device.name", "original"]
    for r in out.orderBy("i").collect():
        got = tuple(_get(r, f"user_agent.{p}") for p in paths)
        want = (*parse(r["ua"]), r["ua"]) if r["i"] < 10 else (
            "keep", *[None] * 6)
        assert got == want, r["ua"]


def test_oracle_matches_corpus():
    for ua, *want in UA_CORPUS:
        assert parse(ua) == tuple(want), ua


def _capture_bodies(rx: str) -> list[str]:
    """Bodies of the capturing groups of ``rx``, in group order."""
    bodies, opens, i = [], [], 0
    while i < len(rx):
        c = rx[i]
        if c == "\\":
            i += 1
        elif c == "[":  # a class may hold ')' literally
            i = rx.index("]", i + 2 if rx.startswith("[^", i) else i + 1)
        elif c == "(":
            opens.append((i, not rx.startswith("(?", i)))
        elif c == ")":
            start, capturing = opens.pop()
            if capturing:
                bodies.append((start, rx[start + 1:i]))
        i += 1
    return [body for _, body in sorted(bodies)]


@pytest.mark.parametrize("rx,n", [
    pytest.param(rule[1], rule[2], id=f"{rule[0]}-{i}".replace(" ", "_"))
    for i, rule in enumerate(_BROWSERS + _OSES)])
def test_version_groups_are_separator_safe(rx, n):
    bodies = _capture_bodies(rx)
    assert re.compile(rx).groups == n == len(bodies) <= _MAX_GROUPS
    assert set(bodies) <= SAFE_GROUP_BODIES, rx
