"""Text analysis: language-ID, quality scoring, token counting, document
fingerprinting. All pure column expressions (whole-stage codegen); every
heuristic is deliberately SQL-expressible so the DuckDB oracle can replicate
it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from beats_spark.ml.dedup import POLY_P, poly_string_hash, words

# tiny fixed stopword lists for the n-gram/stopword-voting language heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "que", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "por", "que", "para"],
}

# BPE-ish token regex: word pieces, numbers, or single non-space symbols —
# the usual pre-tokenizer shape (GPT-2 style, simplified to RE2/Java syntax).
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(col))


def token_count_bpe(col: Column) -> Column:
    """Count of BPE-ish regex tokens (JVM regexp_extract_all, no Python)."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_REGEX), 0))


def stopword_hits(col: Column, lang: str) -> Column:
    """Number of tokens (lowercased) that are stopwords of ``lang`` —
    duplicates count (list_filter semantics, matching the SQL oracle)."""
    sw = STOPWORDS[lang]
    toks = F.transform(words(col), lambda t: F.lower(t))
    return F.size(F.filter(toks, lambda t: t.isin(*sw)))


def lang_id(col: Column) -> Column:
    """Stopword-voting language id: argmax of per-language stopword hits,
    'und' (undetermined) when no list scores > 0. Ties break by language
    order en > de > fr > es (stable, documented)."""
    hits = {lang: stopword_hits(col, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    for lang in reversed(list(STOPWORDS)):  # earlier langs win ties
        expr = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def quality_features(col: Column) -> dict[str, Column]:
    """Cheap quality signals (Gopher/C4-style filters): length, token stats,
    punctuation/alpha ratios, stopword ratio, mean word length."""
    n_chars = F.length(col)
    toks = words(col)
    n_tokens = F.size(toks)
    n_alpha = F.length(F.regexp_replace(col, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(col, r"[^.,;:!?'\"()\[\]{}]", ""))
    sw_hits = stopword_hits(col, "en")
    mean_word_len = F.when(
        n_tokens > 0,
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)).cast("double")
        / n_tokens,
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "alpha_ratio": F.round(n_alpha.cast("double") / F.greatest(n_chars, F.lit(1)), 6),
        "punct_ratio": F.round(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)), 6),
        "stopword_ratio": F.round(
            sw_hits.cast("double") / F.greatest(n_tokens, F.lit(1)), 6
        ),
        "mean_word_len": F.round(mean_word_len, 6),
    }


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality score: documents that are too short, too
    punctuation-heavy, or stopword-free score low. Weights are arbitrary but
    fixed (and mirrored in the SQL oracle)."""
    f = quality_features(col)
    len_ok = F.when(f["n_tokens"] >= 20, 1.0).when(f["n_tokens"] >= 5, 0.5).otherwise(0.0)
    alpha_ok = F.when(f["alpha_ratio"] >= 0.6, 1.0).otherwise(f["alpha_ratio"] / 0.6)
    punct_ok = F.when(f["punct_ratio"] <= 0.1, 1.0).otherwise(0.5)
    sw_ok = F.when(f["stopword_ratio"] >= 0.05, 1.0).otherwise(0.5)
    return F.round((len_ok + alpha_ok + punct_ok + sw_ok) / 4.0, 6)


# -- PII scrubbing (training-data hygiene) -----------------------------------

# ordered: ipv4 must run before phone (a dotted quad is 8+ digits/dots and
# would otherwise match the phone shape). Patterns are RE2-compatible (no
# backreferences/lookaround) AND avoid \s so the DuckDB oracle replicates
# them byte-for-byte (Java's \s includes \x0B, RE2's does not — a latent
# oracle divergence). The phone shape is deliberately CONSERVATIVE: it
# requires a '+' country code or a parenthesized area code, because bare
# separator-digit runs are structurally identical to ISO dates/timestamps
# ('2026-08-18' is 4-2-2) and a permissive class corrupted every date in
# the corpus; local formats like 555-010-9999 are accepted false negatives.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("key", r"\b[A-Fa-f0-9]{32,}\b", "<KEY>"),
    ("phone",
     r"\+\d{1,4}(?:[ .()-]{1,2}\d{2,9}){1,4}"
     r"|\(\d{2,5}\)[ .-]?\d{2,4}(?:[ .-]\d{2,4}){0,2}",
     "<PHONE>"),
]


def pii_scrub(col: Column, kinds: list[str] | None = None) -> Column:
    """Replace common PII shapes (email, IPv4, hex API keys/hashes, phone
    numbers) with typed placeholders — the standard hygiene pass before
    text lands in a training corpus. A fixed chain of JVM
    ``regexp_replace`` calls (global, whole-stage codegen; zero Python);
    at 100 TB this is a pure map stage, no shuffle."""
    known = [k for k, _, _ in PII_PATTERNS]
    use = known if kinds is None else kinds
    bad = set(use) - set(known)
    if bad:
        raise ValueError(f"pii_scrub: unknown kinds {sorted(bad)} "
                         f"(known: {known})")
    out = col
    for kind, pat, repl in PII_PATTERNS:  # fixed order, see above
        if kind in use:
            out = F.regexp_replace(out, pat, repl)
    return out


# -- repetition / layout signals (Gopher-style filters) -----------------------


def repetition_signals(col: Column) -> dict[str, Column]:
    """Line-level repetition and layout signals from the Gopher paper's
    quality rules (Rae et al. '21 §A1.1): fraction of duplicate lines,
    fraction of bullet-point lines, fraction of lines ending in an
    ellipsis. Pure array algebra over split lines."""
    lines = F.split(col, "\n")
    n_lines = F.size(lines)
    safe_n = F.greatest(n_lines, F.lit(1))
    dup_frac = F.round(
        (n_lines - F.size(F.array_distinct(lines))).cast("double") / safe_n, 6)
    # [ \t] not \s: Java's \s ⊃ RE2's \s (\x0B), and the DuckDB oracle
    # must replicate these byte-for-byte
    bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^[ \t]*[-*•]")))
    ellipsis = F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.[ \t]*$")))
    return {
        "n_lines": n_lines,
        "dup_line_frac": dup_frac,
        "bullet_line_frac": F.round(bullet.cast("double") / safe_n, 6),
        "ellipsis_line_frac": F.round(ellipsis.cast("double") / safe_n, 6),
    }


def gopher_keep(col: Column) -> Column:
    """Boolean keep decision over the Gopher-style rules this module
    computes: mean word length in [3, 10], ≤30% duplicate lines, ≤90%
    bullet lines, ≤30% ellipsis lines (thresholds per the paper; mirrored
    in the SQL oracle)."""
    q = quality_features(col)
    r = repetition_signals(col)
    return (
        q["mean_word_len"].isNotNull()
        & (q["mean_word_len"] >= 3) & (q["mean_word_len"] <= 10)
        & (r["dup_line_frac"] <= 0.3)
        & (r["bullet_line_frac"] <= 0.9)
        & (r["ellipsis_line_frac"] <= 0.3)
    )


# -- document fingerprinting (rolling hash / winnowing-lite) -----------------

_FP_B = 1_000_003          # polynomial base; P = 2^31 - 1 keeps acc*B in 64 bits


def rolling_fingerprint(col: Column, window: int = 5) -> Column:
    """Winnowing-style document fingerprint: min over all word-``window``
    rolling polynomial hashes (Schleimer et al. '03, simplified to a single
    global min). Deterministic integer math only."""
    toks = words(col)
    k = F.size(toks) - F.lit(window - 1)
    # tokens are char-hashed ONCE; each shingle hash is a polynomial fold of
    # the precomputed token hashes via zip_with over shifted slices — a
    # transform-over-indices lambda would re-slice and re-char-hash every
    # token `window` times per row (interpreted HOFs have no common-subexpression
    # elimination), O(window × tokens) char hashing instead of O(tokens).
    # one argument: transform would bind base and seed to lambda variables
    th = F.transform(toks, lambda t: poly_string_hash(t))
    kk = F.greatest(k, F.lit(0))
    hs = F.slice(th, 1, kk)
    for j in range(1, window):
        hs = F.zip_with(
            hs, F.slice(th, 1 + j, kk),
            lambda acc, h: F.pmod(acc * _FP_B + h, F.lit(POLY_P)),
        )
    whole = F.aggregate(
        th,
        F.lit(0).cast("long"),
        lambda acc, h: F.pmod(acc * _FP_B + h, F.lit(POLY_P)),
    )
    return F.when(k > 0, F.array_min(hs)).otherwise(whole)
