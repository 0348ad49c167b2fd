"""Streaming sketches: durable, mergeable summaries maintained across
micro-batches.

The corpus-profiling questions a 100 TB always-on ingest actually asks —
"what are the top tokens flowing in RIGHT NOW, cumulatively", "how often
has this token appeared", "what is p99 of this value", "how many
distinct users" — cannot afford a full aggregate per batch. Mergeable
summaries (Agarwal et al. 2012; ``operators.sketch``) make the state a
bounded object: each batch builds its own summary, which merges with the
committed one into a NEW summary with the batch operator's guarantee
intact. Six families share one shape:

- Misra–Gries heavy hitters (``summary_v``): total undercount
  <= N_cumulative/(capacity+1);
- count-min (``cms_v``), DDSketch (``dd_v``), HyperLogLog (``hll_v``)
  and KMV theta (``theta_v``) sketches, plus the bottom-k distinct
  sample (``sample_v``): exact merges, so the committed state after
  batch N is bit-identical to the batch build over everything ingested
  (pinned by tests/test_sketch.py).

Each stream is a ``streaming.state.versioned_fold``: exactly once under
foreachBatch's at-least-once delivery, with the state dir bound to its
checkpoint and only the newest two versions kept on disk (each version
is the full cumulative summary, so older ones are dropped as the stream
runs). Build parameters persist beside the versions in a per-family
``*_meta`` (``streaming.state.check_or_write_meta``) and are validated on
every batch and every read: a sketch built under one parameter and read
or extended under another is silent garbage, so it raises instead.

Reference parity: no analogue — beyond-reference training-data mandate
(SURVEY.md north-star extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .state import check_or_write_meta, read_latest_state, versioned_fold

__all__ = [
    "read_distinct_count",
    "read_theta_distinct",
    "read_theta_sample",
    "read_theta_sketch",
    "read_token_frequencies",
    "read_top_tokens",
    "read_value_quantiles",
    "streaming_distinct_values",
    "streaming_theta_sample",
    "streaming_theta_sketch",
    "streaming_token_frequencies",
    "streaming_top_tokens",
    "streaming_value_quantiles",
]

_PFX = "summary_v"


def streaming_top_tokens(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    capacity: int = 4096,
    text_col: str = "text",
):
    """Maintain a cumulative Misra–Gries token summary over a document
    stream. Returns the StreamingQuery; read the current heavy hitters
    with :func:`read_top_tokens` (lower-bound ranking — counts are
    conservative undercounts within N/(capacity+1); run the batch
    :func:`~..operators.sketch.topk_tokens_sketched` over the landed
    corpus when exact counts matter)."""
    from ..operators.sketch import merge_mg_summaries, misra_gries_candidates

    def step(spark, batch_df, prev):
        cands = misra_gries_candidates(batch_df, text_col, capacity)
        unioned = cands if prev is None else prev.unionByName(cands)
        return merge_mg_summaries(unioned, capacity)

    return versioned_fold(stream, state_dir, checkpoint_dir, _PFX, step)


def read_top_tokens(spark: SparkSession, state_dir: str, k: int = 20) -> DataFrame:
    """Current top-``k`` heavy hitters from the latest committed summary:
    ``(token, lower_bound, rank)``, ranked by the conservative MG lower
    bound (ties to token ASC). Raises if no summary has committed yet."""
    s, _ = read_latest_state(spark, state_dir, _PFX, "summary")
    top = s.orderBy(F.col("lower_bound").desc(), F.col("token").asc()).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("lower_bound").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "token", "lower_bound", "rank"
    )


_CMS_PFX = "cms_v"


def streaming_token_frequencies(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 4096,
    text_col: str = "text",
):
    """Maintain a cumulative count-min sketch over a document stream —
    the point-frequency twin of :func:`streaming_top_tokens`. Unlike the
    MG merge, the CMS merge (cell-wise sum) is EXACT: the committed
    sketch after batch N is bit-identical to the batch
    :func:`~..operators.sketch.count_min_table` over everything ingested
    so far (pinned by tests/test_sketch.py), so estimates from
    :func:`read_token_frequencies` carry the standard one-pass CMS
    guarantee (est >= true cumulative count; overcount bounded by the
    colliding mass in the min row) forever, in O(depth x width) state
    per version. ``depth``/``width`` persist WITH the state (``cms_meta``)
    and are validated on every batch and every read — a mismatched
    ``width`` against durable counters would produce silent garbage
    (review r13), so it raises instead."""
    from ..operators.sketch import count_min_table, merge_cms_tables

    _check_or_write_cms_meta(stream.sparkSession, state_dir, depth, width)

    def step(spark, batch_df, prev):
        _check_or_write_cms_meta(spark, state_dir, depth, width)
        cms = count_min_table(batch_df, text_col, depth, width)
        return cms if prev is None else merge_cms_tables(prev, cms)

    return versioned_fold(stream, state_dir, checkpoint_dir, _CMS_PFX, step)


def _check_or_write_cms_meta(
    spark: SparkSession, state_dir: str, depth: int, width: int
) -> None:
    """(depth, width) are the sketch's identity: hashing with a
    different width reads arbitrary cells."""
    check_or_write_meta(
        spark, state_dir, "cms_meta", "CMS",
        {"depth int": int(depth), "width int": int(width)},
    )


def read_token_frequencies(
    spark: SparkSession,
    state_dir: str,
    probes: DataFrame,
    depth: int | None = None,
    width: int | None = None,
) -> DataFrame:
    """Point-frequency estimates ``(token, est)`` for a probe relation
    against the latest committed cumulative sketch. ``depth``/``width``
    default to the build parameters persisted with the state
    (``cms_meta``); passing values that disagree with the durable state
    raises rather than reading garbage cells (review r13). Raises if no
    sketch has committed yet, and raises — rather than trusting
    caller-supplied parameters against durable state of unknown
    provenance — when committed sketches exist WITHOUT their meta
    (partial state-dir cleanup; advice r14)."""
    from ..operators.sketch import cms_estimate

    cms, meta = read_latest_state(
        spark, state_dir, _CMS_PFX, "sketches", "cms_meta"
    )
    depth = meta["depth"] if depth is None else depth
    width = meta["width"] if width is None else width
    _check_or_write_cms_meta(spark, state_dir, depth, width)
    return cms_estimate(cms, probes, depth=depth, width=width)


_DD_PFX = "dd_v"


def streaming_value_quantiles(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    value_col: str = "value",
    gamma: float = 1.02,
    max_buckets: int | None = None,
    group_col: str | None = None,
    *,
    max_groups: int | None = None,
):
    """Maintain a cumulative DDSketch over a value stream — the quantile
    twin of :func:`streaming_token_frequencies`. The DDSketch merge
    (cell-wise sum over deterministic buckets) is EXACT: the committed
    sketch after batch N is bit-identical to the batch
    :func:`~..operators.sketch.dd_sketch_table` over everything ingested
    so far (pinned by tests/test_sketch.py), so quantiles from
    :func:`read_value_quantiles` carry the full relative-error guarantee
    (|est - x_q| <= alpha * x_q, alpha = (gamma-1)/(gamma+1)) forever,
    in O(bucket domain) state per version.

    ``max_buckets`` (r15, VERDICT r14 item 5): bound the bucket state of
    an ALWAYS-ON stream over a growing value range by applying the
    paper's collapse (:func:`~..operators.sketch.dd_collapse`) AFTER the
    merge each batch — the documented exactness-preserving order: the
    collapse cut (the max_buckets-th highest bucket index seen) is
    non-decreasing as data arrives and the fold-up map composes under
    increasing cuts, so the committed state after batch N is
    bit-identical to ``dd_collapse(dd_sketch_table(everything), max_
    buckets)`` (pinned by tests/test_sketch.py) — NOT the lossier merge
    of pre-collapsed shards. Upper quantiles (the p95/p99 deployment)
    keep the full alpha guarantee; ranks inside the collapsed low mass
    degrade to "at most the collapse boundary", the paper's trade.

    ``group_col`` (r15): maintain PER-GROUP sketches instead — "p99 per
    endpoint maintained over the stream", the sketch's canonical
    always-on shape — via the grouped builder/merge/collapse (each
    group behaves exactly as its own global sketch; ``max_buckets``
    bounds EACH group's buckets).

    ``max_groups`` (keyword-only, r16 — VERDICT r15 item 7): grouped
    state grows as |groups| x buckets, so an UNBOUNDED group domain
    (raw URLs, user ids) grows state without limit no matter how
    tightly each group's buckets are collapsed. The cap REFUSES the
    batch (loudly, BEFORE any version is written — the last committed
    state stays intact and readable) when the post-merge distinct group
    count would exceed it, instead of growing silently until the job
    dies of state size with no named cause. Refusal over eviction is
    deliberate: evicting groups would break the documented
    stream==batch bit-equality, and the correct 100 TB remedy is
    upstream — quantize or pre-filter the grouping key to a bounded
    domain (the ``streaming/mixing.py`` prescription) — after which the
    stream resumes on the same checkpoint and state. Requires
    ``group_col``; persisted and validated in ``dd_meta`` like every
    other build parameter (a different cap on reattach is refused, not
    silently adopted).

    ``gamma``, ``max_buckets``, ``group_col`` and ``max_groups`` persist
    WITH the state (``dd_meta``) and are validated on every batch and
    read — mismatched gamma against durable buckets reads arbitrary
    value ranges, a mismatched collapse budget silently changes which
    ranks carry the guarantee, and grouped vs global buckets are
    different sketches, so all of them raise instead."""
    from ..operators.sketch import (
        dd_collapse,
        dd_collapse_grouped,
        dd_sketch_table,
        dd_sketch_table_grouped,
        merge_dd_sketches,
        merge_dd_sketches_grouped,
    )

    if gamma <= 1.0:
        raise ValueError(f"gamma must be > 1, got {gamma}")
    if max_buckets is not None and max_buckets < 1:
        raise ValueError(f"max_buckets must be >= 1, got {max_buckets}")
    _check_group_cap_args(max_groups, group_col)
    params = (gamma, max_buckets, group_col, max_groups)
    _check_or_write_dd_meta(stream.sparkSession, state_dir, *params)

    def step(spark, batch_df, prev):
        _check_or_write_dd_meta(spark, state_dir, *params)
        if group_col is None:
            batch_dd = dd_sketch_table(batch_df, value_col, gamma)
            merge, collapse = merge_dd_sketches, dd_collapse
        else:
            batch_dd = dd_sketch_table_grouped(
                batch_df, group_col, value_col, gamma
            )
            merge, collapse = merge_dd_sketches_grouped, dd_collapse_grouped
        merged = batch_dd if prev is None else merge(prev, batch_dd)
        if max_buckets is not None:
            merged = collapse(merged, max_buckets)
        _enforce_group_cap(merged, max_groups, state_dir, "DDSketch")
        return merged

    return versioned_fold(stream, state_dir, checkpoint_dir, _DD_PFX, step)


def _check_group_cap_args(max_groups: int | None, group_col: str | None) -> None:
    """Shared validation for the grouped-state cap (r16): the knob only
    means anything for grouped state, and a silent no-op on a global
    build would read as protection that is not there."""
    if max_groups is not None:
        if max_groups < 1:
            raise ValueError(f"max_groups must be >= 1, got {max_groups}")
        if group_col is None:
            raise ValueError(
                "max_groups bounds PER-GROUP state and requires group_col; "
                "global sketch state is already bounded by construction"
            )


def _enforce_group_cap(
    merged: DataFrame, max_groups: int | None, state_dir: str, family: str
) -> None:
    """Refuse the batch BEFORE its version is written when the merged
    state's distinct group count exceeds the persisted cap — the last
    committed version stays intact and readable, and the stream resumes
    on the same checkpoint once the group domain is bounded upstream.
    One cheap distinct-count over the summary-sized state, only when a
    cap is set."""
    if max_groups is None:
        return
    n_groups = merged.select("grp").distinct().count()
    if n_groups > max_groups:
        raise ValueError(
            f"{family} grouped state at {state_dir} would hold {n_groups} "
            f"groups, over the persisted max_groups={max_groups} cap — "
            "refusing the batch (last committed version is intact). "
            "Grouped sketch state grows as |groups| x buckets; bound the "
            "grouping key upstream (quantize it, or pre-filter to the "
            "monitored domain) and resume on the same checkpoint, or "
            "start a fresh state dir with a higher cap."
        )


def _check_or_write_dd_meta(
    spark: SparkSession,
    state_dir: str,
    gamma: float,
    max_buckets: int | None = None,
    group_col: str | None = None,
    max_groups: int | None = None,
) -> None:
    """(gamma, max_buckets, group_col, max_groups) are the sketch's
    identity — a different gamma reads arbitrary value ranges, a
    different collapse budget silently changes which ranks carry the
    alpha guarantee, grouped vs global buckets are different sketches,
    and a different group cap silently changes which domains are
    refused."""
    check_or_write_meta(
        spark, state_dir, "dd_meta", "DDSketch",
        {
            "gamma double": float(gamma),
            "max_buckets int": max_buckets,
            "group_col string": group_col,
            "max_groups int": max_groups,
        },
    )


def read_value_quantiles(
    spark: SparkSession,
    state_dir: str,
    qs: list[float],
    gamma: float | None = None,
) -> DataFrame:
    """Quantile estimates against the latest committed cumulative
    sketch: ``(q, est)`` rows for global state, or ``(grp, q, est)`` per
    group when the state was built with a ``group_col`` (the shape is
    the durable state's own, read from ``dd_meta``). ``gamma`` defaults
    to the build value persisted with the state; passing a disagreeing
    value raises rather than reading garbage ranges. Raises if no
    sketch has committed yet, and raises — rather than trusting a
    caller-supplied gamma against durable state of unknown provenance —
    when committed sketches exist WITHOUT their meta (advice r14)."""
    from ..operators.sketch import dd_quantiles, dd_quantiles_grouped

    dd, meta = read_latest_state(spark, state_dir, _DD_PFX, "sketches", "dd_meta")
    built = meta["gamma"]
    if gamma is None:
        gamma = built
    elif gamma != built:
        raise ValueError(
            f"DDSketch state at {state_dir} was built with gamma={built}; "
            f"got {gamma}"
        )
    if meta.get("group_col") is None:
        return dd_quantiles(dd, qs, gamma=gamma)
    return dd_quantiles_grouped(dd, qs, gamma=gamma)


_HLL_PFX = "hll_v"


def streaming_distinct_values(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    value_col: str = "value",
    b: int = 10,
    group_col: str | None = None,
    *,
    max_groups: int | None = None,
):
    """Maintain a cumulative HyperLogLog register table over a value
    stream — the distinct-count twin of the MG/CMS/DDSketch family. The
    HLL merge (element-wise MAX) is not just exact but IDEMPOTENT, so
    even outside the versioned fold a redelivered batch could not
    corrupt the registers; the fold is kept anyway for uniform reads
    and bounded retention. The committed table after batch N is
    bit-identical to the batch
    :func:`~..operators.sketch.hll_register_table` over everything
    ingested (pinned by tests/test_sketch.py). ``b`` persists with the
    state (``hll_meta``) and is validated on every batch and read —
    registers indexed under a different b are a different sketch.

    ``group_col``: maintain PER-GROUP register tables instead — "distinct
    users per key", the canonical always-on form — via the grouped
    builder/merge (same per-cell arithmetic; state is the
    |groups| x 2^b domain). The grouping column persists in ``hll_meta``
    alongside b and is validated identically: grouped and global
    registers are different sketches, so a caller disagreeing about
    either is refused.

    ``max_groups`` (keyword-only, r16): |groups| x 2^b is bounded only
    while the GROUP domain is — cap it and the over-cap batch is
    REFUSED before any version is written (committed state intact),
    with the bound-the-key-upstream remedy named in the error. Same
    rationale, persistence, and validation as the DDSketch twin's cap
    (see :func:`streaming_value_quantiles`); requires ``group_col``."""
    from ..operators.sketch import (
        hll_register_table,
        hll_register_table_grouped,
        merge_hll_tables,
        merge_hll_tables_grouped,
    )

    if not 4 <= b <= 16:
        raise ValueError(f"b must be in [4, 16], got {b}")
    _check_group_cap_args(max_groups, group_col)
    _check_or_write_hll_meta(
        stream.sparkSession, state_dir, b, group_col, max_groups
    )

    def step(spark, batch_df, prev):
        _check_or_write_hll_meta(spark, state_dir, b, group_col, max_groups)
        if group_col is None:
            batch_hll = hll_register_table(batch_df, value_col, b)
            merge = merge_hll_tables
        else:
            batch_hll = hll_register_table_grouped(
                batch_df, group_col, value_col, b
            )
            merge = merge_hll_tables_grouped
        merged = batch_hll if prev is None else merge(prev, batch_hll)
        _enforce_group_cap(merged, max_groups, state_dir, "HLL")
        return merged

    return versioned_fold(stream, state_dir, checkpoint_dir, _HLL_PFX, step)


def _check_or_write_hll_meta(
    spark: SparkSession,
    state_dir: str,
    b: int,
    group_col: str | None = None,
    max_groups: int | None = None,
) -> None:
    """(b, group_col, max_groups) are the sketch's identity — a grouped
    register table and a global one are DIFFERENT sketches even at the
    same b, and a different group cap silently changes which domains
    are refused."""
    check_or_write_meta(
        spark, state_dir, "hll_meta", "HLL",
        {
            "b int": int(b),
            "group_col string": group_col,
            "max_groups int": max_groups,
        },
    )


def read_distinct_count(
    spark: SparkSession, state_dir: str, b: int | None = None
) -> DataFrame:
    """Cumulative distinct-count estimate from the latest committed
    register table: one ``(n_registers, est)`` row for global state, or
    ``(grp, n_registers, est)`` per group when the state was built with
    a ``group_col`` (the shape is the durable state's own, read from
    ``hll_meta``). ``b`` defaults to the persisted build value; a
    disagreeing value raises. Raises if nothing has committed yet, and
    raises — rather than trusting a caller-supplied b against durable
    state of unknown provenance — when committed registers exist
    WITHOUT their meta (advice r14)."""
    from ..operators.sketch import hll_cardinality, hll_cardinality_grouped

    regs, meta = read_latest_state(
        spark, state_dir, _HLL_PFX, "registers", "hll_meta"
    )
    group_col = meta.get("group_col")
    if b is None:
        b = meta["b"]
    else:
        _check_or_write_hll_meta(
            spark, state_dir, b, group_col, meta.get("max_groups")
        )
    if group_col is None:
        return hll_cardinality(regs, b=b)
    return hll_cardinality_grouped(regs, b=b)


_TH_PFX = "theta_v"


def streaming_theta_sketch(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    value_col: str = "value",
    k: int = 512,
):
    """Maintain a cumulative KMV theta sketch over a value stream — the
    SET-OPERATION member of the MG/CMS/DDSketch/HLL family (r16):
    the durable state is the k smallest distinct hashes of everything
    ever ingested, so two streams' states answer corpus-overlap
    questions (``operators.sketch.theta_intersect`` / ``theta_a_not_b``
    / ``theta_union`` over the two read sketches) with no corpus
    re-scan. The merge (k smallest distinct of committed ∪ batch,
    :func:`~..operators.sketch.theta_union`) is EXACT and IDEMPOTENT —
    the committed sketch after batch N is bit-identical to the batch
    build over everything ingested (pinned by tests/test_sketch.py) —
    and state per version is at most k rows, corpus-independent. ``k``
    persists WITH the state (``theta_meta``) and is validated on every
    batch and read — a sketch truncated at a different k is a different
    summary, so it raises instead."""
    from ..operators.sketch import theta_sketch_table, theta_union

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    _check_or_write_theta_meta(stream.sparkSession, state_dir, k)

    def step(spark, batch_df, prev):
        _check_or_write_theta_meta(spark, state_dir, k)
        batch_sk = theta_sketch_table(batch_df, value_col, k)
        return batch_sk if prev is None else theta_union(prev, batch_sk, k)

    return versioned_fold(stream, state_dir, checkpoint_dir, _TH_PFX, step)


def _check_or_write_theta_meta(
    spark: SparkSession, state_dir: str, k: int
) -> None:
    """The k-truncation IS the sketch's identity."""
    check_or_write_meta(
        spark, state_dir, "theta_meta", "theta", {"k int": int(k)}
    )


def read_theta_sketch(spark: SparkSession, state_dir: str) -> DataFrame:
    """The latest committed cumulative sketch (``(h)``, <= k rows) —
    feed it to the batch set-operation estimators (``theta_union`` /
    ``theta_intersect`` / ``theta_a_not_b`` / ``theta_distinct``) with
    the k returned by the persisted meta. Raises if nothing has
    committed yet, and raises — rather than trusting caller context
    against durable state of unknown provenance — when committed
    sketches exist WITHOUT their meta."""
    return read_latest_state(
        spark, state_dir, _TH_PFX, "sketches", "theta_meta"
    )[0]


def read_theta_distinct(spark: SparkSession, state_dir: str) -> DataFrame:
    """Cumulative distinct-count estimate from the latest committed
    sketch: one ``(n_kept, est)`` row, k from the persisted meta."""
    from ..operators.sketch import theta_distinct

    sketch, meta = read_latest_state(
        spark, state_dir, _TH_PFX, "sketches", "theta_meta"
    )
    return theta_distinct(sketch, k=meta["k"])


_SAMP_PFX = "sample_v"


def streaming_theta_sample(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    value_col: str = "value",
    k: int = 512,
):
    """Maintain a cumulative bottom-k uniform sample of DISTINCT values
    over a stream (``operators.sketch.theta_sample``'s twin): the
    durable state is the k smallest distinct hashes WITH their values —
    a reproducible uniform-without-replacement draw from the distinct
    domain of everything ever ingested ("show me 512 random distinct
    urls seen so far"), whose ``h`` column is simultaneously the theta
    sketch (feed :func:`read_theta_sample` output to the batch set-op
    estimators directly). The merge (k smallest distinct of committed ∪
    batch, values riding their hashes) is EXACT and IDEMPOTENT — the
    committed sample after batch N is bit-identical to the batch
    ``theta_sample`` over everything ingested (pinned) — and state per
    version is at most k rows, corpus-independent. ``k`` persists in
    ``sample_meta`` and is validated on every batch and read (the
    ``theta_meta`` discipline)."""
    from ..operators.sketch import theta_sample

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    params = {"k int": int(k)}
    check_or_write_meta(
        stream.sparkSession, state_dir, "sample_meta", "sample", params
    )

    def step(spark, batch_df, prev):
        check_or_write_meta(spark, state_dir, "sample_meta", "sample", params)
        batch_s = theta_sample(batch_df, value_col, k)
        if prev is None:
            return batch_s
        merged = prev.unionByName(batch_s).dropDuplicates(["h"])
        return merged.orderBy("h").limit(k)

    return versioned_fold(stream, state_dir, checkpoint_dir, _SAMP_PFX, step)


def read_theta_sample(spark: SparkSession, state_dir: str) -> DataFrame:
    """The latest committed cumulative sample ``(h, value)`` (<= k
    rows). Raises if nothing has committed, or when committed versions
    exist WITHOUT their meta (unknown provenance)."""
    return read_latest_state(
        spark, state_dir, _SAMP_PFX, "samples", "sample_meta"
    )[0]
