"""Property test: the dissect stage must equal the reference scanner.

Hypothesis draws tokenizers over every modifier — skip, ``?``, ``*``, ``&``,
``+`` with ``/N`` ordinals, ``#N``, ``->``, every ``|type`` — with empty,
multi-character and newline delimiters and every trim mode, plus strings
over a small alphabet holding the delimiter characters and ``\\n``. Each
example runs all its strings as one DataFrame through the stage
(``build_chain``/``apply_chain``); every row must equal ``scan_exact`` plus
the type rules.
"""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from beats_spark.processors.dissect import parse_tokenizer
from dissect_reference import expected, run_stage

DELIMS = ["", " ", "  ", ",", "::", "ab", "\n", " -", "→"]
DTYPES = ["", "integer", "long", "float", "double", "boolean", "ip", "string"]
TRIMS = [("none", " "), ("left", " "), ("right", "a "), ("all", " \n"),
         ("all", "[]&")]
ALPHABET = "ab1x0F-.:, \n[]&→"
VALUES = ["", "1", "0x1F", "-7", "3.0", "1e3", "t", "F", "true", "::1",
          "10.0.0.1", " a", "b ", "[x]"]


@st.composite
def keys(draw) -> str:
    prefix = draw(st.sampled_from(["", "", "skip", "?", "*", "&", "+"]))
    if prefix == "skip":
        return "%{}"
    dtype = draw(st.sampled_from(DTYPES))
    return "%{" + "".join([
        prefix,
        draw(st.sampled_from(["a", "b", "c"])),
        draw(st.sampled_from(["", "", "/1", "/2"])),
        draw(st.sampled_from(["", "", "#1", "#2"])),
        draw(st.sampled_from(["", "->"])),
        "|" + dtype if dtype else "",
    ]) + "}"


def _valid(tok: str) -> bool:
    try:
        parse_tokenizer(tok)
    except ValueError:  # no saveable key
        return False
    return True


@st.composite
def cases(draw):
    ks = draw(st.lists(keys(), min_size=1, max_size=4))
    ds = draw(st.lists(st.sampled_from(DELIMS), min_size=len(ks) + 1,
                       max_size=len(ks) + 1))
    tok = ds[0] + "".join(k + d for k, d in zip(ks, ds[1:]))
    # rendered strings parse often; random ones probe the failure paths
    text = st.text(ALPHABET, max_size=10)
    value = st.one_of(st.sampled_from(VALUES), text)
    rendered = st.builds(
        lambda vs, pads: ds[0] + "".join(v + d * p
                                         for v, d, p in zip(vs, ds[1:], pads)),
        st.lists(value, min_size=len(ks), max_size=len(ks)),
        st.lists(st.sampled_from([1, 1, 2]), min_size=len(ks), max_size=len(ks)),
    )
    strings = draw(st.lists(st.one_of(rendered, text), min_size=20, max_size=40))
    mode, chars = draw(st.sampled_from(TRIMS))
    return tok, mode, chars, strings


@settings(max_examples=25, deadline=None, derandomize=True)
@given(case=cases().filter(lambda c: _valid(c[0])))
# the first-occurrence inputs a backtracking regex got wrong
@example(case=("%{a#3}", "none", " ", ["abc\n"]))
@example(case=("%{a->}  %{b}", "none", " ", ["   :ab:  b"]))
@example(case=("%{a#2} %{b}", "none", " ", ["abXcd"]))
# dynamic, greedy, fixed-length and append keys under trim in one tokenizer
@example(case=("%{?k->} %{&k}, %{+c/2#2}%{+c/1}", "all", " ",
               ["name   bob , abxy", " k v,  x", "k v", ""]))
def test_dissect_matches_scan_exact(spark, case):
    tok, mode, chars, strings = case
    rows = run_stage(spark, tok, strings, trim_values=mode, trim_chars=chars)
    for s, got in zip(strings, rows):
        want = expected(tok, s, mode, chars)
        assert got == (want, want is None), (tok, mode, chars, s)
