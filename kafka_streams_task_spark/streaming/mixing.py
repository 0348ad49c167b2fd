"""Streaming mixing-policy maintenance: CCNet-style per-group score-bucket
boundaries kept current over an always-on document stream.

The deployment question: the serving tier filters/routes documents with
``apply_score_buckets`` (a stateless broadcast join — it drops into any
streaming pipeline), but the BOUNDARIES it applies must track the corpus
as it grows, or quality bands fitted on last month's distribution
misroute today's documents. This module maintains the fit side.

State is the boundaries' sufficient statistic — the ``(group, score, n)``
count table (``operators.sampling.score_boundaries_from_counts``): batch
counts merge by cell-wise SUM, and summing commutes with the rank-fraction
arithmetic downstream, so the boundaries read from stream-maintained
state are EXACTLY ``score_bucket_boundaries`` over everything ever
ingested (pinned by tests/test_streaming_mixing.py). State size is the
distinct (group, score) domain — quantize scores upstream to bound it,
exactly as the batch operator's docstring prescribes at 100 TB.

The count table is a ``streaming.state.versioned_fold`` (``counts_v{N}``),
and the fit parameters (group/score columns, n_buckets) persist WITH the
state (``mixing_meta``) and are validated on every batch and read —
boundaries computed under a different n_buckets against durable counters
would silently re-band the corpus, so it raises instead.

Reference parity: no analogue — beyond-reference training-data mandate
(SURVEY.md north-star extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .state import check_or_write_meta, read_latest_state, versioned_fold

__all__ = [
    "read_score_boundaries",
    "read_score_counts",
    "streaming_score_boundaries",
]

_PFX = "counts_v"


def streaming_score_boundaries(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    group_col: str = "lang",
    score_col: str = "score",
    n_buckets: int = 3,
):
    """Maintain the cumulative ``(group, score, n)`` count table over a
    scored document stream. Returns the StreamingQuery; read the current
    per-group cut arrays with :func:`read_score_boundaries` (equal to the
    batch fit over all ingested rows — the merge is exact) and apply them
    with the stateless ``operators.sampling.apply_score_buckets``."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    # a different n_buckets would silently re-band every group; different
    # columns mean the caller is pointing a new stream at old state
    params = {
        "group_col string": group_col,
        "score_col string": score_col,
        "n_buckets int": int(n_buckets),
    }
    check_or_write_meta(
        stream.sparkSession, state_dir, "mixing_meta", "mixing", params
    )

    def step(spark, batch_df, prev):
        check_or_write_meta(spark, state_dir, "mixing_meta", "mixing", params)
        # the batch operator's validity filter, verbatim — NULL/NaN scores
        # never enter the count table on either path
        valid = batch_df.filter(
            F.col(score_col).isNotNull()
            & ~F.isnan(F.col(score_col).cast("double"))
        )
        # key on the RAW score column, exactly like the batch fit —
        # casting to double here would collide distinct values the batch
        # path keeps apart (wide decimals, longs > 2^53) and silently
        # break the stream==batch bit-equality claim (advice r14); the
        # double cast happens only inside the boundary arithmetic, on
        # both paths alike
        batch_counts = valid.groupBy(
            F.col(group_col).alias("grp"),
            F.col(score_col).alias("s"),
        ).agg(F.count(F.lit(1)).cast("long").alias("n"))
        if prev is None:
            return batch_counts
        # REFUSE a committed table whose score key type disagrees with
        # the batch's raw type: unionByName would silently WIDEN (long ->
        # double under set-op coercion), re-keying the merged state and
        # reopening exactly the >2^53 collision the raw keying closes —
        # durable state written under a different dtype (a pre-raw-keying
        # double state, or a changed stream schema) needs a fresh state
        # dir, not a silent coercion (review r15)
        built_t = prev.schema["s"].dataType
        batch_t = batch_counts.schema["s"].dataType
        if built_t != batch_t:
            raise ValueError(
                f"mixing state at {state_dir} keys scores as "
                f"{built_t.simpleString()}, but the stream's "
                f"{score_col!r} column is {batch_t.simpleString()} — "
                "merging would silently coerce the score keys and "
                "break the stream==batch boundary equality; use a "
                "fresh state dir for the new key type"
            )
        return (
            prev.unionByName(batch_counts)
            .groupBy("grp", "s")
            .agg(F.sum("n").cast("long").alias("n"))
        )

    return versioned_fold(stream, state_dir, checkpoint_dir, _PFX, step)


def _read_meta_and_counts(
    spark: SparkSession, state_dir: str
) -> tuple[DataFrame, str, str, int]:
    counts, meta = read_latest_state(
        spark, state_dir, _PFX, "counts", "mixing_meta"
    )
    return counts, meta["group_col"], meta["score_col"], meta["n_buckets"]


def read_score_counts(spark: SparkSession, state_dir: str) -> DataFrame:
    """The latest committed cumulative count table, restated in the fit
    columns: ``(group_col, score_col, n)``."""
    counts, group_col, score_col, _ = _read_meta_and_counts(spark, state_dir)
    return counts.select(
        F.col("grp").alias(group_col),
        F.col("s").alias(score_col),
        F.col("n"),
    )


def read_score_boundaries(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current per-group cut arrays ``(group_col, cuts array<double>)``
    from the latest committed count table — bit-equal to
    ``score_bucket_boundaries`` over every row ever ingested (the count
    merge is exact and the cuts are a pure function of the counts).
    Parameters come from the durable ``mixing_meta``. Raises if no
    counts have committed yet."""
    from ..operators.sampling import score_boundaries_from_counts

    counts, group_col, score_col, n_buckets = _read_meta_and_counts(
        spark, state_dir
    )
    return score_boundaries_from_counts(
        counts.select(
            F.col("grp").alias(group_col),
            F.col("s").alias(score_col),
            F.col("n"),
        ),
        group_col=group_col,
        score_col=score_col,
        count_col="n",
        n_buckets=n_buckets,
    )
