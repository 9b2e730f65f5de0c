"""Dissect tokenizer tests.

Feature-matrix corpus in the spirit of the reference's golden corpus
(libbeat/processors/dissect/testdata/dissect_tests.json): every modifier —
skip, named skip, append (+ ordinal /N), indirect &, pointer *, fixed-length
#N, greedy ->, data types |T, trim — plus failure cases. Cases are run
through BOTH the reference positional scanner and the dissect stage, which
must agree.
"""

import pytest

from beats_spark.processors import apply_chain, build_chain
from beats_spark.processors.dissect import parse_tokenizer
from dissect_reference import run_stage, scan_exact

# (name, tokenizer, message, expected-or-None)
CORPUS = [
    ("simple kv", "%{key}", "hello", {"key": "hello"}),
    ("two fields", "%{a} %{b}", "foo bar", {"a": "foo", "b": "bar"}),
    ("leading delim", "[%{a}] %{b}", "[x] y", {"a": "x", "b": "y"}),
    ("leading delim mismatch fails", "[%{a}]", "x]", None),
    ("missing delim fails", "%{a}-%{b}", "no dash here", None),
    ("empty string fails", "%{a}", "", None),
    (
        "kv line with quoted msg",
        'level=%{lvl} msg="%{msg}" code=%{code}',
        'level=info msg="all good" code=200',
        {"lvl": "info", "msg": "all good", "code": "200"},
    ),
    (
        "multi-line payload",
        "%{head}\n%{rest}",
        "line one\nline two\nline three",
        {"head": "line one", "rest": "line two\nline three"},
    ),
    ("skip field", "%{} %{b}", "drop keep", {"b": "keep"}),
    ("named skip not emitted", "%{?junk} %{b}", "x y", {"b": "y"}),
    (
        "append default join",
        "%{+name} %{+name}",
        "john smith",
        {"name": "john smith"},
    ),
    (
        "append with ordinals reorders",
        "%{+name/2} %{+name/1}",
        "smith john",
        {"name": "john smith"},
    ),
    (
        "append joins with previous delimiter",
        "%{+path}/%{+path}",
        "usr/local",
        {"path": "usr/local"},
    ),
    (
        "indirect key-value",
        "%{?key} %{&key}",
        "name alice",
        {"name": "alice"},
    ),
    (
        "pointer then indirect",
        "%{*key}: %{&key}",
        "host: web01",
        {"host": "web01"},
    ),
    ("fixed length", "%{a#3}%{b}", "abcdef", {"a": "abc", "b": "def"}),
    (
        "fixed length with delim",
        "%{code#3} %{rest}",
        "404 not found",
        {"code": "404", "rest": "not found"},
    ),
    ("fixed length overrun fails", "%{a#9}", "abc", None),
    (
        "greedy padding",
        "%{a->} %{b}",
        "x      y",
        {"a": "x", "b": "y"},
    ),
    (
        "greedy middle field",
        "%{id} %{function->} %{server}",
        "00000043 ViewReceive     machine-321",
        {"id": "00000043", "function": "ViewReceive", "server": "machine-321"},
    ),
    (
        "greedy trailing field",
        "%{id} %{function} %{server->} ",
        "00000043 ViewReceive machine-321    ",
        {"id": "00000043", "function": "ViewReceive", "server": "machine-321"},
    ),
    (
        "append ordinal fixed greedy combo",
        "%{+key/3#1}%{+key/1#1->} %{+key/2}",
        "12    3",
        {"key": "2 3 1"},
    ),
    (
        "adjacent tokens empty first value",
        "%{a}%{b}",
        "everything",
        {"a": "", "b": "everything"},
    ),
    (
        "trailing content ignored when fields consumed",
        "%{a} ",
        "x trailing",
        {"a": "x"},
    ),
    (
        "rest-of-line capture",
        "%{a} %{rest}",
        "x y z w",
        {"a": "x", "rest": "y z w"},
    ),
    # -- corner cases paraphrased from the reference corpus semantics
    #    (dissect.go extract(): a next-delimiter hit AT the cursor yields an
    #    empty value; a consumed string leaves the last field empty) --------
    (
        "consecutive delimiters empty middle value",
        "%{a},%{b},%{c}",
        "1,,3",
        {"a": "1", "b": "", "c": "3"},
    ),
    (
        "empty first and last values",
        "%{a}:%{b}:%{c}",
        ":x:",
        {"a": "", "b": "x", "c": ""},
    ),
    (
        "last field empty when string consumed",
        "%{a} %{b}",
        "x ",
        {"a": "x", "b": ""},
    ),
    (
        "repeated delimiter keeps inner spaces without greedy",
        "%{a} %{b}",
        "x  y",
        {"a": "x", "b": " y"},
    ),
    (
        "unicode content and delimiter",
        "%{a}→%{b}",
        "café→naïve wörld",
        {"a": "café", "b": "naïve wörld"},
    ),
    (
        "unicode greedy padding",
        "%{a->} %{b}",
        "héllo   wörld",
        {"a": "héllo", "b": "wörld"},
    ),
    (
        "delimiter containing curly braces",
        "%{a}{%{b}}",
        "x{y}",
        {"a": "x", "b": "y"},
    ),
    (
        "fixed length exactly consumes string",
        "%{a#3}",
        "abc",
        {"a": "abc"},
    ),
    (
        "fixed length then trailing garbage fails",
        "%{a#3}",
        "abcd",
        None,
    ),
    (
        "append across empty middle joins with delimiter",
        "%{+x},%{+x},%{+x}",
        "a,,c",
        {"x": "a,,c"},
    ),
    (
        "multiline with windows newlines",
        "%{head}\r\n%{rest}",
        "first\r\nsecond\r\nthird",
        {"head": "first", "rest": "second\r\nthird"},
    ),
]

TYPED_CORPUS = [
    (
        "integer and float types",
        "%{n|integer} %{f|float} %{s}",
        "42 3.5 txt",
        {"n": 42, "f": pytest.approx(3.5), "s": "txt"},
    ),
    (
        "long hex",
        "%{n|long} %{s}",
        "0xff end",
        {"n": 255, "s": "end"},
    ),
    (
        "boolean",
        "%{b|boolean} %{s}",
        "true x",
        {"b": True, "s": "x"},
    ),
    (
        "bad integer becomes null",
        "%{n|integer} %{s}",
        "notanum x",
        {"n": None, "s": "x"},
    ),
    (
        "ip valid kept invalid nulled",
        "%{ip1|ip} %{ip2|ip}",
        "10.0.0.1 999.not.an.ip",
        {"ip1": "10.0.0.1", "ip2": None},
    ),
    # Go ParseInt / ParseBool / ParseIP rules, one input each
    ("integer upper hex", "%{n|integer}", "0X1F", {"n": 31}),
    ("integer negative", "%{n|integer}", "-7", {"n": -7}),
    ("integer decimal point is null", "%{n|integer}", "3.0", {"n": None}),
    ("integer exponent is null", "%{n|integer}", "1e3", {"n": None}),
    ("integer overflow is null", "%{n|integer}", "2147483648", {"n": None}),
    ("boolean t", "%{b|boolean}", "t", {"b": True}),
    ("boolean F", "%{b|boolean}", "F", {"b": False}),
    ("boolean yes is null", "%{b|boolean}", "yes", {"b": None}),
    ("boolean mixed case is null", "%{b|boolean}", "tRuE", {"b": None}),
    ("ip v6 loopback", "%{ip|ip}", "::1", {"ip": "::1"}),
    ("ip trailing garbage is null", "%{ip|ip}", "10.0.0.1x", {"ip": None}),
]


@pytest.mark.parametrize("name,tok,msg,expected", CORPUS, ids=[c[0] for c in CORPUS])
def test_scan_exact(name, tok, msg, expected):
    t = parse_tokenizer(tok)
    assert scan_exact(t, msg) == expected


@pytest.mark.parametrize(
    "name,tok,msg,expected",
    [c for c in CORPUS],
    ids=[c[0] for c in CORPUS],
)
def test_vectorized_matches_exact(spark, name, tok, msg, expected):
    [(got, failed)] = run_stage(spark, tok, [msg])
    assert failed == (expected is None)
    assert got == expected


@pytest.mark.parametrize(
    "name,tok,msg,expected", TYPED_CORPUS, ids=[c[0] for c in TYPED_CORPUS]
)
def test_typed_extraction(spark, name, tok, msg, expected):
    [(got, failed)] = run_stage(spark, tok, [msg])
    assert not failed
    assert got == expected


def test_trim_values(spark):
    [(got, _)] = run_stage(spark, "%{a},%{b}", ["  x  ,  y  "],
                           trim_values="all", trim_chars=" ")
    assert got == {"a": "x", "b": "y"}


def test_batch_extraction_is_vectorized(spark):
    """One stage over many rows; mixed good/bad rows."""
    tok = "level=%{lvl} latency_ms=%{ms|integer}"
    msgs = [f"level=info latency_ms={i}" for i in range(50)] + ["garbage", None]
    rows = run_stage(spark, tok, msgs)
    ok = [d for d, failed in rows if not failed]
    assert len(ok) == 50
    assert ok[7] == {"lvl": "info", "ms": 7}
    assert rows[-2] == (None, True) and rows[-1] == (None, True)


def test_dissect_stage_end_to_end(spark):
    df = spark.createDataFrame(
        [
            ("c1", 0, 'level=info msg="ok" latency_ms=12'),
            ("c1", 1, "MALFORMED"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    stages = build_chain(
        [
            {
                "dissect": {
                    "tokenizer": 'level=%{level} msg="%{msg}" latency_ms=%{latency|integer}',
                    "field": "text",
                    "target_prefix": "parsed",
                    "ignore_failure": True,
                }
            }
        ]
    )
    out = apply_chain(df, stages).orderBy("turn_idx").collect()
    assert out[0]["parsed"]["level"] == "info"
    assert out[0]["parsed"]["latency"] == 12
    assert out[0]["log"] is None or out[0]["log"]["flags"] is None
    assert out[1]["parsed"] is None
    assert "dissect_parsing_error" in out[1]["log"]["flags"]
