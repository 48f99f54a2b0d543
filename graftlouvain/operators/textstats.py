"""Text-analysis operators for training-data pipelines over a documents table
[doc_id, text, (lang)]: language ID, quality scoring, token counting, document
fingerprinting. All pure JVM column expressions (regexp/aggregate) so every
operator is SQL-oracle-checkable and whole-stage-codegen'd — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Explicit whitespace class shared by the Spark operators (Java regex) and
# their DuckDB oracles (RE2): Java's \s includes \x0B (vertical tab), RE2's
# does not, so a bare \s/\S would silently diverge on \x0B-carrying text.
# Both engines understand these escapes inside a character class.
WS_CHARS = r" \t\n\x0B\f\r"
WS_RE = "[" + WS_CHARS + "]+"
NON_WS_RE = "[^" + WS_CHARS + "]"

# Tiny per-language stopword marker sets for the n-gram/stopword-hit heuristic.
# Deliberately small and hard-coded: the heuristic (argmax of stopword hits,
# ties broken by language name) must be reproducible in ANSI SQL.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "that"],
    "de": ["der", "die", "und", "das", "nicht", "ist"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "es": ["el", "los", "que", "es", "una", "por"],
}


def _hits(words: list[str]) -> "F.Column":
    pat = r"(?i)\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.col("text"), F.lit(pat))


def lang_id(docs: DataFrame) -> DataFrame:
    """[doc_id, pred_lang, hits] — argmax of stopword-marker hits across
    LANG_MARKERS; ties and zero hits resolve to the alphabetically-first
    language among the max (deterministic)."""
    scored = docs.select(
        "doc_id",
        *[_hits(ws).alias(f"h_{lang}") for lang, ws in LANG_MARKERS.items()],
    )
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"h_{l}") for l in langs])
    pred = F.coalesce(
        *[F.when(F.col(f"h_{l}") == best, F.lit(l)) for l in langs]
    )
    return scored.select("doc_id", pred.alias("pred_lang"), best.alias("hits"))


def token_counts(docs: DataFrame) -> DataFrame:
    """[doc_id, ws_tokens, bpe_ish_tokens, n_chars] — whitespace tokens plus a
    BPE-ish proxy: word-piece matches of the GPT-2-style pre-tokenizer regex
    family (runs of letters / digits / punctuation), the standard cheap
    token-count estimator."""
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(NON_WS_RE + "+")).alias("ws_tokens"),
        F.regexp_count(t, F.lit(r"[A-Za-z]+|[0-9]+|[^" + WS_CHARS + "A-Za-z0-9]")).alias("bpe_ish_tokens"),
        F.length(t).alias("n_chars"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """[doc_id, n_chars, n_words, mean_word_len, punct_ratio, stopword_ratio,
    quality] — Gopher/C4-style cheap quality features combined into a [0,1]
    score. Formula is fixed and documented so the SQL oracle reproduces it:

      quality = 0.25·[50 ≤ n_chars] + 0.25·[3 ≤ mean_word_len ≤ 12]
              + 0.25·[punct_ratio ≤ 0.2] + 0.25·[stopword_ratio ≥ 0.01]
    """
    t = F.col("text")
    n_chars = F.length(t)
    n_words = F.regexp_count(t, F.lit(NON_WS_RE + "+"))
    n_letters = F.regexp_count(t, F.lit(r"[A-Za-z]"))
    n_punct = F.regexp_count(t, F.lit(r"[.,;:!?]"))
    n_stop = _hits(LANG_MARKERS["en"])
    mean_wl = F.when(n_words > 0, n_letters / n_words).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
    quality = (
        F.when(n_chars >= 50, 0.25).otherwise(0.0)
        + F.when((mean_wl >= 3) & (mean_wl <= 12), 0.25).otherwise(0.0)
        + F.when(punct_ratio <= 0.2, 0.25).otherwise(0.0)
        + F.when(stop_ratio >= 0.01, 0.25).otherwise(0.0)
    )
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        quality.alias("quality"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """[doc_id, fingerprint] — sha256 of whitespace-normalized lower-cased
    text: the canonical near-exact-dup fingerprint (robust to formatting-only
    edits). A rolling-hash shingle fingerprint lives in dedup.minhash_signatures;
    this is the single-value document fingerprint."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), WS_RE, " "))
    return docs.select("doc_id", F.sha2(norm, 256).alias("fingerprint"))
