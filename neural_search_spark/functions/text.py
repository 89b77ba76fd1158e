"""Text-analysis functions for the training-data pipeline surface:
language ID, quality scoring, token counting, fingerprinting, shingles.

All pure Catalyst expressions (exact integer/ratio arithmetic) so they
run inside codegen and match any ANSI-SQL oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .common import let
from .sparse import tokens

EN_STOPWORDS = ["the", "a", "an", "of", "to", "and", "in", "is", "it", "on"]


def token_count_ws(text_col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text_col))


def token_count_bpe_estimate(text_col: Column) -> Column:
    """BPE-ish token estimate: ceil(chars/4) — the standard rule of
    thumb for byte-pair encoders over English text."""
    return F.ceil(F.length(text_col) / F.lit(4.0)).cast("long")


def char_pairs(word_col: Column) -> Column:
    """Adjacent character pairs of a word (the BPE merge-candidate
    unit): ["sp","pa","ar","rk"] for "spark". Empty for 1-char words.
    Pure codegen (sequence + substring), no UDF."""
    n = F.length(word_col)
    return F.when(
        n >= 2,
        F.transform(F.sequence(F.lit(1), n - 1), lambda i: word_col.substr(i, F.lit(2))),
    ).otherwise(F.array().cast("array<string>"))


def stopword_ratio(text_col: Column) -> Column:
    toks = tokens(F.lower(text_col))
    n = F.size(toks)
    sw = F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS)))
    return F.when(n > 0, sw.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def lang_id(text_col: Column, threshold: float = 0.02) -> Column:
    """N-gram/stopword-heuristic language ID: flag 'en' when the English
    stopword ratio clears the threshold, else 'unk'."""
    return F.when(stopword_ratio(text_col) >= threshold, F.lit("en")).otherwise(F.lit("unk"))


def punct_ratio(text_col: Column) -> Column:
    stripped = F.regexp_replace(text_col, r"[^\w\s]", "")
    n = F.length(text_col)
    return F.when(n > 0, (n - F.length(stripped)).cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(text_col: Column) -> Column:
    """Composite [0,1] quality heuristic: rewards document length in a
    sane band, stopword presence, low punctuation noise."""
    n_tok = token_count_ws(text_col).cast("double")
    len_component = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    sw_component = F.least(stopword_ratio(text_col) * 10.0, F.lit(1.0))
    punct_component = F.lit(1.0) - F.least(punct_ratio(text_col) * 5.0, F.lit(1.0))
    return (len_component + sw_component + punct_component) / F.lit(3.0)


def fingerprint(text_col: Column) -> Column:
    """Key-collapse fingerprint: md5 over the sorted distinct lowercase
    token set — the classic OpenRefine 'fingerprint' clustering key."""
    toks = F.array_sort(F.array_distinct(tokens(F.lower(text_col))))
    return F.md5(F.array_join(toks, " "))


def shingles_from(toks: Column, n: int) -> Column:
    """Array of n-word shingle strings from an ALREADY-BOUND token
    array (a lambda variable or materialized column). Callers that
    build several shingle sizes from one text should bind the token
    array once (let) and call this per n — passing a raw tokens()
    expression here re-runs the tokenizer per shingle."""
    return F.when(
        # guard: sequence(1, 0) would generate a DESCENDING range
        F.size(toks) - (n - 1) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(text_col: Column, n: int = 3) -> Column:
    """Array of n-word shingle strings (for MinHash / Jaccard dedup)."""
    # let-bind the token array: referencing it straight inside the
    # transform lambda would re-run the tokenizer per shingle
    return let(tokens(F.lower(text_col)), lambda toks: shingles_from(toks, n))


# -- PII detection / redaction (training-data hygiene) ----------------------
# Regexes deliberately restricted to syntax Java regex and RE2 (the
# DuckDB oracle engine) interpret identically: no lookaround, no
# backrefs. Redaction order matters — emails first (they contain
# digits/dots), then IPs, then phones.
PII_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+\d{1,2}[- ]\d{3}[- ]\d{3}[- ]\d{4}"


def pii_counts(text_col: Column) -> dict[str, Column]:
    """Per-kind PII match counts (JVM-side regexp_extract_all, no UDF)."""
    return {
        "n_emails": F.size(F.regexp_extract_all(text_col, F.lit(PII_EMAIL_RE), 0)),
        "n_ips": F.size(F.regexp_extract_all(text_col, F.lit(PII_IPV4_RE), 0)),
        "n_phones": F.size(F.regexp_extract_all(text_col, F.lit(PII_PHONE_RE), 0)),
    }


def pii_redact(text_col: Column) -> Column:
    """Replace every PII span with a typed placeholder — the standard
    pre-training scrub (emails → [EMAIL], IPv4 → [IP], intl phones →
    [PHONE]). Pure codegen string expressions; one projection pass."""
    out = F.regexp_replace(text_col, PII_EMAIL_RE, "[EMAIL]")
    out = F.regexp_replace(out, PII_IPV4_RE, "[IP]")
    return F.regexp_replace(out, PII_PHONE_RE, "[PHONE]")
