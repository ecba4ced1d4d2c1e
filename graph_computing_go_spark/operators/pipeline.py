"""End-to-end training-corpus preparation — the composition a data-curation
run actually executes, as ONE operator with an auditable drop ledger.

Order of attribution (each document gets exactly one status, decided by the
FIRST stage that drops it — the convention curation reports use):

1. ``low_quality``  — rule-based quality score below ``min_quality``
2. ``repetitive``   — duplicate-line fraction above ``max_dup_line_frac``
                      (optional gate, off by default)
3. ``language``     — predicted language not in ``languages``
4. ``duplicate``    — non-canonical member of a near-dup cluster
5. ``kept``         — survived everything (canonical_id == its own id)

Every INPUT row comes back exactly once: curation at scale is judged on its
ledger (what was dropped and WHY, per stage) as much as on the kept set, and
recomputing drop reasons post-hoc costs another full pass.

Scale shape: quality AND language-ID are row-local projections (zero
exchanges — language_id is a per-row stopword-hit argmax, operators/text.py
``language_cols``); dedup runs ONLY on the quality+language survivors — the
cheap row-local filters come first precisely so the expensive candidate-pair
stage sees the smallest possible corpus.  All reassembly joins are doc-grain
equi-joins on the id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_computing_go_spark.operators.dedup import dedup_clusters
from graph_computing_go_spark.operators.text import language_id, quality_score
from graph_computing_go_spark.session import compute_once, eager_results


def prepare_training_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.35,
    languages: tuple[str, ...] | None = ("en",),
    max_dup_line_frac: float | None = None,
    **dedup_kwargs,
) -> DataFrame:
    """(id, status, canonical_id, score, pred_lang) — one row per input doc.

    ``status`` ∈ {kept, low_quality, repetitive, language, duplicate};
    ``canonical_id`` is the surviving representative for duplicate/kept
    rows and NULL for rows dropped before the dedup stage (they never
    entered a cluster).  ``languages=None`` disables the language gate;
    ``max_dup_line_frac`` (e.g. 0.3) enables the Gopher-style repetition
    gate (``text.repetition_cols`` — row-local like the other gates;
    attribution slots right after ``low_quality`` since it is a
    quality-family filter).  A NULL repetition signal (no non-blank lines)
    reads as PASS — absence of evidence, unlike a NULL quality score which
    reads as FAIL (poisoned arithmetic ⇒ unusable text).  ``dedup_kwargs``
    pass through to ``dedup_clusters`` (k, n_hashes, min_jaccard, chunk, …).
    """
    q = quality_score(df, id_col, text_col).select(id_col, "score")
    if max_dup_line_frac is not None:
        from graph_computing_go_spark.operators.text import repetition_cols

        rep = df.select(
            F.col(id_col),
            repetition_cols(text_col)["dup_line_frac"].alias("dup_line_frac"),
        )
        q = q.join(rep, id_col, "left")
    lang = language_id(df, id_col, text_col).select(id_col, "pred_lang")
    # narrow (id, score, pred_lang) metadata, PINNED: it is consumed twice
    # (the eligibility filter feeding dedup, then the final ledger join);
    # the pin avoids recomputing the quality/language projections — cheap
    # but corpus-sized — per consumer.  Deliberately excludes the text
    # column — at 100 TB the text
    # is the corpus; the gate columns are 3 scalars per doc.  LEFT join:
    # language_id emits no row for a NULL-text doc (exploding a null token
    # array yields zero rows), and an inner join here would silently drop
    # that doc from the ledger — 'und' is the same verdict language_id gives
    # hit-less docs it does emit.
    meta_cols = [id_col, "score"]
    if max_dup_line_frac is not None:
        meta_cols.append("dup_line_frac")
    meta = compute_once(
        q.join(lang, id_col, "left").select(
            *meta_cols, F.coalesce("pred_lang", F.lit("und")).alias("pred_lang")
        )
    )

    # null-safe gates: a NULL score (NULL text — length(NULL) poisons the
    # arithmetic) must read as a FAILED gate both in the eligibility filter
    # (where bare NULL already filters out) and in the ledger's when-chain
    # (where bare ~NULL would skip every arm and mislabel the doc 'kept')
    quality_ok = F.coalesce(F.col("score") >= min_quality, F.lit(False))
    # NULL signal (no non-blank lines) coalesces to PASS — see docstring
    rep_ok = (
        F.coalesce(F.col("dup_line_frac") <= max_dup_line_frac, F.lit(True))
        if max_dup_line_frac is not None
        else F.lit(True)
    )
    lang_ok = (
        F.coalesce(F.col("pred_lang").isin(*languages), F.lit(False))
        if languages
        else F.lit(True)
    )
    eligible = df.select(id_col, text_col).join(
        meta.filter(quality_ok & rep_ok & lang_ok).select(id_col),
        id_col,
        "left_semi",
    )
    clusters = dedup_clusters(eligible, id_col, text_col, **dedup_kwargs)

    ledger = (
        meta.join(
            clusters.select(
                F.col("id").alias(id_col), "canonical_id", "is_canonical"
            ),
            id_col,
            "left",
        )
        .select(
            F.col(id_col).alias("id"),
            F.when(~quality_ok, F.lit("low_quality"))
            .when(~rep_ok, F.lit("repetitive"))
            .when(~lang_ok, F.lit("language"))
            .when(~F.col("is_canonical"), F.lit("duplicate"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            "canonical_id",
            "score",
            "pred_lang",
        )
    )
    # doc-grain result: materialize so the meta pin retires with the call
    # (SPARK_GRAFT_EAGER=0 keeps it lazy for the plan audit, per the
    # eager_results() convention every materialization point follows)
    return ledger.localCheckpoint() if eager_results() else ledger


def compact_corpus(
    docs: DataFrame,
    kept_ledger: DataFrame,
    warehouse: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "corpus_compacted",
    **dedup_kwargs,
) -> DataFrame:
    """Streaming→batch compaction glue (the documented 100 TB split made
    operational): the stream (``streaming.pipeline.prepare_corpus_stream``)
    admits exact-first-seen content incrementally — near-dup clustering
    needs corpus-wide self-joins it cannot do — and THIS periodic batch
    sweep runs ``dedup_clusters`` over the accumulated kept set and MERGEs
    the full cluster mapping into ``<warehouse>/<table>``.

    ``kept_ledger`` is the stream's output table ``(hash, id, ts, …)``;
    ``docs`` is the source feed (the ledger carries no text — at 100 TB the
    text IS the corpus, so it is re-read from the source by a doc-grain
    semi-join rather than duplicated into stream state).

    The merge is keyed at doc grain (``id``) and upserts the WHOLE mapping
    row ``(id, canonical_id, cluster_size, is_canonical)``, so compaction is
    idempotent AND survivor-correcting: when a later cycle's arrival merges
    clusters or introduces a smaller-id member, the previous canonical's row
    is REPLACED with its demoted status instead of leaking a stale survivor
    (an insert-only sink could never demote).  The stable kept set at any
    point is ``is_canonical`` over the compacted table.

    Scale shape: each sweep re-clusters the full accumulated kept set —
    exact pre-collapse already happened on the stream, so the sweep's input
    is the deduplicated corpus, and every pair stage inside
    ``dedup_clusters`` is band-bounded (`grid_self_pairs`).  At 100 TB the
    operational knob is sweep cadence (state between sweeps is just the two
    parquet tables; no driver state), not algorithm shape.

    Returns the post-merge compacted table as a batch DataFrame.
    """
    from graph_computing_go_spark.sources.io import merge_result, read_result

    kept_ids = kept_ledger.select(F.col("id").alias(id_col)).distinct()
    kept_docs = docs.select(id_col, text_col).join(kept_ids, id_col, "left_semi")
    mapping = dedup_clusters(kept_docs, id_col, text_col, **dedup_kwargs)
    merge_result(mapping, warehouse, table, keys=("id",))
    return read_result(docs.sparkSession, warehouse, table)
