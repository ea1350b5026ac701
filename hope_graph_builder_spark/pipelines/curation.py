"""Composed corpus-curation pipeline — the selection chain between a
deduplicated web corpus and a training run, built entirely from the
repo's oracle-verified curation operators:

  documents(doc_id, source, text)
    → Gopher rule battery gate          (operators/text.gopher_flags)
    → per-source quota cap              (operators/corpus.quota_cap)
    → quality-first token-budget pack   (operators/corpus.pack_token_budget)
    → training-sequence chunking        (operators/corpus.chunk_tokens)
    → deterministic shuffle + sharding  (operators/corpus.shard_shuffle)

Every stage is deterministic (hash order, total-order tie-breaks, no
rand()), so the emitted shard files are byte-reproducible across
runs/retries — the corpus-lineage property the individual operators
were built for, demonstrated end to end.

Scale shape: one map scan over the corpus (gopher battery and the
quality/token signals on one projection, the gate as a filter), the
gated set materialized once, then the operators' own exchanges —
quota_cap's bucketed rank (giant-source sort never materializes),
pack's two-phase prefix sum (no global-order window), chunking as a
pure map stage, and the shard writer's own hash layout. Everything
downstream of the gate runs on the (much smaller) kept set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hope_graph_builder_spark.operators import text as textops
from hope_graph_builder_spark.operators.corpus import (
    chunk_tokens,
    pack_token_budget,
    quota_cap,
    shard_shuffle,
)

_CHUNK_UID_SHIFT = 20  # chunk_id rides the low 20 bits of the chunk uid


def run_corpus_curation(
    docs: DataFrame,
    quota_per_source: int = 1000,
    token_budget: int = 100_000_000,
    seq_len: int = 128,
    overlap: int = 16,
    n_shards: int = 64,
    by: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "cur0",
    gate_cols: list[str] | None = None,
) -> DataFrame:
    """→ one row per TRAINING SEQUENCE: ``(shard, pos, doc_id,
    chunk_id, n_tokens, chunk_text)`` — reading shards in (shard, pos)
    order is the reproducible training stream.

    ``gate_cols`` selects which gopher_flags rules gate admission
    (default ``["gopher_pass"]`` = all eight); a multilingual corpus
    drops ``ok_stop_words`` (the English-stopword rule), the standard
    adaptation. Document selection inside the budget is quality-first
    (quality_score desc, id) after a per-``by`` quota cap in salted-
    hash order — one domain cannot dominate, and the budget fills with
    the best of what remains. Chunk uids pack ``doc_id`` above 20 bits
    of ``chunk_id`` (guarded: a chunk_id ≥ 2^20 — a single document of
    ≥ 2^20·stride tokens — raises instead of silently colliding with
    the next doc's uid; split such documents upstream)."""
    gate_cols = gate_cols or ["gopher_pass"]
    t = F.col(text_col)
    gate = None
    for c in gate_cols:
        gate = F.col(c) if gate is None else gate & F.col(c)
    # one scan: battery flags inline on the same projection as the
    # quality/token signals, gate as a plain filter — no second pass
    # over the text and no doc_id self-join
    gated = (
        textops.with_gopher_flags(
            docs.select(F.col(id_col), F.col(by), t.alias(text_col)),
            text_col,
        )
        .filter(gate)
        .select(
            id_col,
            by,
            text_col,
            F.bround(textops.quality_score(t), 6).alias("quality"),
            textops.token_count(t).cast("long").alias("n_tokens"),
        )
    )
    # The two-phase operators downstream each consume their input twice
    # (counts + rank join; totals + prefix window), so the lazy plan
    # would re-evaluate this subtree — and the whole Gopher battery text
    # scan inside it — up to 4×. A LAZY localCheckpoint materializes the
    # gated set once per job and truncates the recompute tree; at 100 TB
    # it writes the (post-gate, much smaller) kept set once to
    # executor-local storage. The policy and its executor-loss failure
    # mode are written once, at pipelines/webtext._signals.
    gated = gated.localCheckpoint(eager=False)
    capped = quota_cap(
        gated, quota_per_source, by=by, id_col=id_col, salt=salt
    )
    # same multi-consumer argument one stage later: pack reads capped
    # twice, chunking reads pack's output once more
    capped = capped.localCheckpoint(eager=False)
    packed = pack_token_budget(
        capped, token_budget, tokens_col="n_tokens", quality_col="quality",
        id_col=id_col,
    )
    chunks = chunk_tokens(
        packed.select(id_col, text_col), seq_len, overlap,
        text_col=text_col, id_col=id_col,
    ).withColumn(
        "chunk_uid",
        F.when(
            F.col("chunk_id") < F.lit(1 << _CHUNK_UID_SHIFT),
            (F.col(id_col) * F.lit(1 << _CHUNK_UID_SHIFT)
             + F.col("chunk_id")).cast("long"),
        ).otherwise(
            F.raise_error(
                F.lit(
                    "chunk_id overflows the 20-bit uid field — a single "
                    "document produced >= 2^20 chunks; split such "
                    "documents upstream or raise _CHUNK_UID_SHIFT"
                )
            ).cast("long")
        ),
    )
    return shard_shuffle(
        chunks, n_shards, salt=salt, id_col="chunk_uid"
    ).select("shard", "pos", id_col, "chunk_id", "n_tokens", "chunk_text")
