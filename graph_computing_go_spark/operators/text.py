"""Text-analysis operators for training-data pipelines (task mandate).

All pure built-in column expressions (JVM-side, whole-stage codegen) — no
Python UDFs anywhere.  Every function is deliberately arithmetic-portable so
the DuckDB oracles can reproduce values bit-for-bit:

- tokenization: split on ``\\s+`` after trim;
- language-ID: stopword-hit ratio per candidate language, argmax with
  lexicographic tie-break (n-gram-free heuristic; a real model plugs in as a
  pandas UDF without changing the plan shape);
- quality score: affine combination of length / word-length / stopword /
  punctuation signals (the classic Gopher-style rule family, arithmetic
  form);
- fingerprint: 31-base polynomial rolling hash of the normalized text modulo
  2^31-1 (deterministic; NOT cryptographic — use sha2 for integrity).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword seeds — enough for the heuristic to be
# discriminative on latin-script text; zh uses common particles.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "for", "with"),
    "fr": ("le", "la", "les", "de", "des", "et", "un", "une", "est", "pour"),
    "de": ("der", "die", "das", "und", "ein", "eine", "ist", "mit", "von", "zu"),
    "es": ("el", "la", "los", "de", "y", "un", "una", "es", "con", "para"),
    "zh": ("的", "了", "是", "在", "和", "有", "我", "不", "这", "他"),
}


def tokens_col(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def tokenizer_udf(tokenizer):
    """Wrap a Python tokenizer as an Arrow-batched ``pandas_udf`` returning
    ``array<string>`` — the pluggable-tokenizer seam (mirrors the multimodal
    codec seam: the Spark-side plumbing is real, the model is injected).

    ``tokenizer``: callable ``pd.Series[str|None] -> pd.Series[list[str]|None]``
    over a whole Arrow batch (vectorize inside it; never per row from Spark's
    side).  It must map ``None`` text to ``None`` (→ the row is dropped by
    the same isNotNull gate the whitespace path uses).  Built lazily —
    ``pandas_udf`` with a DDL return type needs an active session (CLAUDE.md
    invariant), so never call this at import time."""
    from pyspark.sql.functions import pandas_udf

    # non-decorator form: with `from __future__ import annotations` the
    # decorator's type-hint parsing sees unresolvable strings
    return pandas_udf(lambda s: tokenizer(s), "array<string>")


def tokens_expr(text: str | Column = "text", tokenizer=None) -> Column:
    """Token-array expression: the whitespace JVM fast path by default, the
    Arrow-batched ``tokenizer`` seam when one is supplied."""
    if tokenizer is None:
        return tokens_col(text)
    c = F.col(text) if isinstance(text, str) else text
    return tokenizer_udf(tokenizer)(c)


def token_count(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer=None,
) -> DataFrame:
    """(id, n_tokens) — whitespace tokenization by default; pass
    ``tokenizer`` (see ``tokenizer_udf``) to count BPE-style tokens instead.
    The default path is a pure column expression and stays bit-identical to
    the DuckDB oracle."""
    return df.select(
        F.col(id_col), F.size(tokens_expr(text_col, tokenizer)).alias("n_tokens")
    )


def language_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, pred_lang, hit_ratio) — stopword-ratio argmax.

    Plan shape: fully ROW-LOCAL array expressions — the stopword seeds are
    compile-time literals, so per-language hit counts are ``size(filter(
    tokens, t -> t IN (...)))`` and the argmax is ``array_min`` over
    per-language structs ordered by (-hits, lang).  Zero shuffle, zero join,
    one whole-stage-codegen pass: the previous explode→broadcast-join→
    two-stage-count shape shuffled the corpus-sized token stream by
    (doc, lang) — at 100 TB that exchange IS the cost of the operator.
    Row-locality also makes this directly usable on a STREAMING DataFrame
    (no stateful aggregation), which ``streaming.pipeline`` relies on.
    Tie-break unchanged: most hits, then smallest language code; no hits →
    ('und', 0).  The token array is materialized in a child projection
    once — Catalyst does not CSE into HOF lambdas.
    """
    toks = F.transform(tokens_col(text_col), lambda t: F.lower(t))
    # NULL text emits NO row — the exact contract of the previous
    # explode-based shape (explode of a NULL array yields zero rows) and of
    # the DuckDB oracle's unnest; pipeline.prepare_training_corpus's left
    # join + 'und' coalesce depends on it
    base = df.select(F.col(id_col), toks.alias("__toks")).filter(
        F.col("__toks").isNotNull()
    )
    pred, ratio = language_cols("__toks")
    return base.select(
        F.col(id_col), pred.alias("pred_lang"), ratio.alias("hit_ratio")
    )


def language_cols(toks_col: str | Column) -> tuple[Column, Column]:
    """(pred_lang, hit_ratio) expressions over an already-lowercased token
    ARRAY column — row-local, so usable in any projection, including a
    streaming one (``streaming.pipeline``).  The caller materializes the
    token array in a child projection (Catalyst does not CSE into HOF
    lambdas)."""
    toks = F.col(toks_col) if isinstance(toks_col, str) else toks_col
    per_lang = F.array(
        *[
            F.struct(
                (
                    -F.size(F.filter(toks, lambda t: t.isin(*ws))).cast(
                        "long"
                    )
                ).alias("nh"),
                F.lit(lang).alias("cand_lang"),
            )
            for lang, ws in sorted(STOPWORDS.items())
        ]
    )
    best = F.array_min(F.filter(per_lang, lambda s: s["nh"] < 0))
    pred = F.coalesce(best["cand_lang"], F.lit("und"))
    ratio = F.round(F.coalesce(-best["nh"], F.lit(0)) / F.size(toks), 6)
    return pred, ratio


def quality_cols(text_col: str | Column = "text") -> dict[str, Column]:
    """Row-local quality expressions keyed n_tokens / avg_word_len /
    alpha_ratio / score — reusable in any projection (batch or streaming).

    score = 0.4·min(n_tokens/100, 1) + 0.3·clamp((avg_word_len-2)/5)
          + 0.3·alpha_ratio, rounded to 6.
    """
    toks = tokens_col(text_col)
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    alpha_chars = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    avg_word_len = (n_chars - (n_tokens - 1)) / n_tokens
    clamp = lambda c: F.least(F.greatest(c, F.lit(0.0)), F.lit(1.0))  # noqa: E731
    score = (
        0.4 * clamp(n_tokens / F.lit(100.0))
        + 0.3 * clamp((avg_word_len - 2) / F.lit(5.0))
        + 0.3 * (alpha_chars / n_chars)
    )
    return {
        "n_tokens": n_tokens,
        "avg_word_len": F.round(avg_word_len, 6),
        "alpha_ratio": F.round(alpha_chars / n_chars, 6),
        "score": F.round(score, 6),
    }


def quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_tokens, avg_word_len, alpha_ratio, score) — rule-based
    quality (see ``quality_cols`` for the formula)."""
    cols = quality_cols(text_col)
    return df.select(
        F.col(id_col), *[c.alias(n) for n, c in cols.items()]
    )


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, fp) — polynomial rolling hash mod 2^31-1 over the normalized
    text (lowercased, whitespace collapsed to single spaces)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    codes = F.transform(F.split(norm, ""), lambda c: F.ascii(c).cast("long"))
    fp = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % F.lit(2147483647),
    )
    return df.select(F.col(id_col), fp.alias("fp"))


def repetition_cols(text_col: str | Column = "text") -> dict[str, Column]:
    """Row-local repetition signals (the Gopher / RefinedWeb repetition
    filter family, arithmetic form) keyed dup_line_frac / dup_2gram_frac /
    dup_3gram_frac — reusable in any projection, batch or streaming, zero
    exchanges (same contract as ``quality_cols``).

    - ``dup_line_frac``: fraction of non-blank lines that are repeats of an
      earlier line (trimmed, case-sensitive) — boilerplate nav bars and
      scraped templates score high;
    - ``dup_{2,3}gram_frac``: 1 − distinct/total word n-grams — repeated
      phrasing and keyword stuffing score high.  NULL text → NULL signals
      (the curation gates' null-safe coalesce handles them, exactly like
      ``quality_cols``).
    """
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    lines = F.filter(
        F.transform(F.split(text, r"\n"), lambda ln: F.trim(ln)),
        lambda ln: ln != "",
    )
    n_lines = F.size(lines)
    dup_line = F.when(
        n_lines > 0,
        F.round(1 - F.size(F.array_distinct(lines)) / n_lines, 6),
    )

    toks = tokens_col(text)

    def dup_ngram(n: int) -> Column:
        n_sh = F.size(toks) - (n - 1)
        grams = F.when(
            n_sh > 0,
            F.transform(
                F.sequence(F.lit(0), n_sh - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            ),
        )
        return F.when(
            n_sh > 0,
            F.round(1 - F.size(F.array_distinct(grams)) / n_sh, 6),
        )

    return {
        "dup_line_frac": dup_line,
        "dup_2gram_frac": dup_ngram(2),
        "dup_3gram_frac": dup_ngram(3),
    }


def repetition_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, dup_line_frac, dup_2gram_frac, dup_3gram_frac) — see
    ``repetition_cols``; one row per input row, signals NULL where the
    denominator is empty (no non-blank lines / fewer than n tokens)."""
    cols = repetition_cols(text_col)
    return df.select(F.col(id_col), *[c.alias(n) for n, c in cols.items()])


def remove_repeated_lines(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, text): each document with every repeat of an earlier line
    dropped (first occurrence kept, original order and blank-line
    structure otherwise preserved; lines compare trimmed).  The standard
    boilerplate-stripping pass before quality scoring.

    Row-local: lines array → keep line i iff the first occurrence of its
    trimmed form is at i (``array_position`` is 1-based and returns the
    FIRST match, so the predicate is position == own index).  O(lines²)
    per document in the worst case — bounded by document size, never by
    corpus size, and entirely inside whole-stage codegen.  NULL text
    passes through as NULL (gates ledger it).
    """
    text = F.col(text_col)
    raw = F.split(text, r"\n")
    trimmed = F.transform(raw, lambda ln: F.trim(ln))
    idx = F.sequence(F.lit(1), F.size(raw))
    kept = F.transform(
        idx,
        lambda i: F.when(
            (F.element_at(trimmed, i) == "")
            | (F.array_position(trimmed, F.element_at(trimmed, i)) == i),
            F.element_at(raw, i),
        ),
    )
    cleaned = F.when(
        text.isNotNull(),
        F.concat_ws("\n", F.filter(kept, lambda ln: ln.isNotNull())),
    )
    return df.select(F.col(id_col), cleaned.alias(text_col))
