"""Streaming deduplication: the ingest-time tier of the dedup family.

Batch dedup (operators/dedup.py) assumes the corpus is at rest; a 100 TB
pipeline ALSO needs dedup at ingest, where the same document arrives many
times (re-crawls, retries, replayed topics). Two shapes:

  streaming_dedup_exact      — unbounded exact dedup on a content digest.
      State grows with distinct keys forever; correct when the key space is
      bounded (e.g. url) or the job is periodically rebootstrapped.

  streaming_dedup_watermarked — dedup within an event-time watermark via
      ``dropDuplicatesWithinWatermark``: duplicates arriving within the
      delay window collapse; state is evicted once the watermark passes,
      so state size is bounded by (arrival rate x delay) regardless of
      corpus size — the only formulation that survives an unbounded crawl.

Both keep the digest trick from the batch tier: state stores a 16-byte md5
digest, never document text, so the state store carries ~32 bytes/doc no
matter how large documents are.

Reference parity: the reference engine keys streams and relies on
Kafka-Streams KTable upsert semantics for "latest wins" (MyStream.java:
166-173 — see streaming/changelog.py); an explicit first-wins dedup
operator does not exist there. Beyond-reference training-data mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _with_digest(stream: DataFrame, text_col: str) -> DataFrame:
    return stream.withColumn("_digest", F.md5(F.col(text_col)))


def streaming_dedup_exact(stream: DataFrame, text_col: str = "text") -> DataFrame:
    """First-seen-wins exact dedup over the whole stream lifetime.

    State: one md5 digest per distinct document ever seen (unbounded —
    gate behind a bounded key domain or scheduled state resets).
    """
    return _with_digest(stream, text_col).dropDuplicates(["_digest"]).drop("_digest")


def streaming_dedup_watermarked(
    stream: DataFrame,
    time_col: str,
    delay: str = "10 minutes",
    text_col: str = "text",
) -> DataFrame:
    """First-seen-wins exact dedup within an event-time watermark window.

    A duplicate arriving more than ``delay`` after the original's event
    time may be re-emitted (its state was evicted) — the deliberate trade
    that keeps state bounded by (rate x delay). Downstream batch dedup
    (dedup_exact over the landed corpus) catches stragglers; this tier
    exists to stop the 99% duplicate mass from ever landing.
    """
    return (
        _with_digest(stream, text_col)
        .withWatermark(time_col, delay)
        .dropDuplicatesWithinWatermark(["_digest"])
        .drop("_digest")
    )


def _index_dedup_stream(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str,
    keep_cols: list,
    prefix: str,
    state_fn,
    pairs_fn,
    compact_every: int | None = None,
):
    """The shared exactly-once commit choreography of the index-backed
    streaming dedup tiers (r9 review: the near/image twins duplicated
    ~50 lines of it verbatim, reintroducing exactly the drift risk
    ``state.bind_state_to_checkpoint``'s rationale warns about).

    Per micro-batch: redelivery skip on the committed-shard set →
    pin the batch and its ``state_fn`` output (bands/blocks) → probe
    ``pairs_fn(new_state, committed index)`` (must return flagged
    ``(id_a, id_b, a_is_new, b_is_new)`` candidates; for BOTH-NEW pairs
    ``id_b`` must be the victim — the tier normalizes if its survivor
    rule is not min-id) → drop policy (drop the new side of mixed
    pairs, ``id_b`` of both-new pairs) → ALSO drop ids already committed to the index
    (ingest ids are unique: a re-crawl of the SAME id is a no-op, and
    changed content under one id is a CDC update for the merge tier,
    not an ingest insert — previously only the MinHash twin caught
    this, implicitly, through its band self-pairs) → kept FIRST
    (overwrite: redelivery-idempotent), then the batch's append-only
    state shard.

    ``compact_every=K`` merges the committed shards into one compact
    root (``state.compact_index_shards``) whenever K live shards have
    accumulated, bounding the per-batch index read at 1 root + <K
    shards. Without it every batch reads one parquet root PER
    ever-committed batch — listing and scan setup grow linearly, O(N²)
    cumulative over a long-lived stream (advice r9) — acceptable only
    for scheduled availableNow runs with few batches per run.
    """
    from .state import (
        bind_state_to_checkpoint,
        committed_index_state,
        compact_index_shards,
    )

    bind_state_to_checkpoint(stream.sparkSession, index_dir, checkpoint_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        compact_path, hi, versions = committed_index_state(
            spark, index_dir, prefix
        )
        if batch_id <= hi or batch_id in versions:
            return  # redelivery: kept output + shard for this batch are durable

        batch = batch_df.select(*keep_cols).localCheckpoint(eager=True)
        new_state = state_fn(batch).localCheckpoint(eager=True)
        roots = ([compact_path] if compact_path else []) + [
            f"{index_dir}/{prefix}{v}" for v in versions
        ]
        if roots:
            index = spark.read.parquet(*roots)
        else:
            # id-type-agnostic empty bootstrap (string ids etc. work)
            index = new_state.limit(0)
        pairs = pairs_fn(new_state, index).localCheckpoint(eager=True)
        drop_old = pairs.filter(
            F.col("a_is_new") != F.col("b_is_new")
        ).select(
            F.when(F.col("a_is_new"), F.col("id_a")).otherwise(F.col("id_b")).alias(id_col)
        )
        # contract: for both-new pairs id_b IS the victim. The LSH/hamming
        # tiers emit sorted pairs (id_a < id_b, min-id survives); the
        # containment tier NORMALIZES so id_a is the rank-rule survivor —
        # a new tier must emit both-new pairs victim-at-id_b, not rely on
        # id ordering (r12 review).
        drop_new = pairs.filter(
            F.col("a_is_new") & F.col("b_is_new")
        ).select(F.col("id_b").alias(id_col))
        already = batch.select(id_col).join(
            index.select(id_col).distinct(), on=id_col, how="left_semi"
        )
        kept = batch.join(
            drop_old.unionByName(drop_new).unionByName(already).distinct(),
            on=id_col,
            how="left_anti",
        ).localCheckpoint(eager=True)

        # kept FIRST (overwrite: redelivery-idempotent), then the shard
        kept.write.mode("overwrite").parquet(f"{index_dir}/kept/batch_id={batch_id}")
        new_state.join(kept.select(id_col), on=id_col, how="left_semi").write.mode(
            "overwrite"
        ).parquet(f"{index_dir}/{prefix}{batch_id}")
        # compaction AFTER this batch's shard commit: a crash anywhere
        # in it leaves the committed view intact (publish-then-cleanup)
        if compact_every and len(versions) + 1 >= compact_every:
            compact_index_shards(spark, index_dir, prefix)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup_near(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    seed: int = 42,
    compact_every: int | None = 32,
):
    """Ingest-time NEAR-duplicate dedup: each micro-batch is deduped
    against a durable MinHash-LSH band index
    (``operators.dedup.minhash_band_table`` layout) and the survivors'
    bands join the index — the streaming face of
    ``minhash_lsh_candidates_incremental``, for pipelines where re-crawled
    near-copies must be stopped at the boundary rather than at the next
    batch dedup run.

    Drop policy (deterministic, conservative): a document is dropped when
    it LSH-pairs with any already-indexed document, with a smaller-id
    document of the same batch, or when its ID is already committed to
    the index (ingest ids are unique: a re-crawled id is a no-op, and
    changed content under one id is a CDC update for the merge tier). Chains within one batch may over-drop
    relative to the batch path's transitive-survivor semantics — at
    ingest, over-dropping near-duplicates is the safe direction, and the
    at-rest corpus can always re-run the exact batch operator.

    Exactly-once under foreachBatch's at-least-once contract, via
    APPEND-ONLY per-batch index shards (the shard sibling of
    ``state.versioned_fold``: per-batch WRITE I/O is shard-sized — a
    100 TB index is never rewritten): the live index is
    the union of committed (``_SUCCESS``-marked) ``bands_v{N}`` shards,
    each holding only batch N's surviving bands. A batch writes its kept
    docs FIRST (``kept/batch_id={N}``, overwrite-idempotent), then its
    shard; a redelivered batch whose shard is committed skips wholesale,
    and a crash between the two writes recomputes both from the
    still-unchanged committed shard set. Uncommitted (crashed) shards
    are never read — the index is assembled from explicit committed
    paths, not directory globbing.

    The index directory is BOUND to its checkpoint directory for life
    (``state.bind_state_to_checkpoint``): redelivery detection keys on
    the checkpoint's batch_id sequence, so feeding an existing index from
    a fresh checkpoint (whose batch ids restart at 0) would silently
    mistake real batches for redeliveries — that misuse now raises up
    front instead. Per-batch WRITE I/O is shard-sized (the index is
    never rewritten); the probe read scans the committed shards (parquet
    min/max and Spark's runtime bloom-filter join prune what they can —
    an exact O(shard) probe is not expressible because the hit set is
    only known at runtime).

    Returns the StreamingQuery. Kept documents accumulate under
    ``{index_dir}/kept/batch_id={N}``; the live index is the union of
    committed ``{index_dir}/bands_v{N}`` shards (the
    ``minhash_band_table`` layout, reusable by batch
    ``minhash_lsh_candidates_incremental`` runs); every
    ``compact_every`` committed shards (default 32; None disables) the
    shards merge into one ``bands_vcompact_{N}`` root so per-batch index
    reads stay bounded over a long-lived stream.
    """
    from ..operators.dedup import incremental_pairs_from_bands, minhash_band_table

    return _index_dedup_stream(
        stream,
        index_dir,
        checkpoint_dir,
        id_col=id_col,
        keep_cols=[id_col, text_col],
        prefix="bands_v",
        state_fn=lambda batch: minhash_band_table(
            batch, text_col, id_col, num_hashes, bands,
            shingle_n=shingle_n, seed=seed,
        ),
        pairs_fn=lambda new_bands, index: incremental_pairs_from_bands(
            new_bands, index, id_col=id_col, max_bucket=max_bucket
        ),
        compact_every=compact_every,
    )


def streaming_dedup_embedding(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_tables: int = 8,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    max_bucket: int = 4000,
    compact_every: int | None = 32,
):
    """Ingest-time EMBEDDING near-dup dedup (r12): each micro-batch of
    vectors is bucketed (one Arrow hyperplane-projection stage), deduped
    against a durable LSH bucket index
    (``operators.dedup.embedding_bucket_index_table`` layout: 24-byte
    bucket rows, each vector stored ONCE on its ``tbl == 0`` row), and
    the survivors' rows join the index — the semantic twin of
    :func:`streaming_dedup_near` for embedding streams, completing the
    ingest-tier family (exact / watermarked / text-near / image /
    containment / embedding).

    Drop policy and exactly-once discipline are the family's: drop on
    any cosine-verified (>= ``threshold``) pair with an indexed vector,
    with a smaller-id vector of the same batch, or on an already-indexed
    id; append-only ``evec_v{N}`` committed shards, kept docs written
    FIRST (overwrite-idempotent), redelivered batches skip wholesale,
    index bound to its checkpoint, ``compact_every`` shard merges. The
    hyperplane family is a pure function of (dim, n_planes, n_tables,
    seed), so every batch and the committed index agree by construction.

    Reference parity: no analogue — beyond-reference training-data
    mandate (SURVEY.md north-star extensions)."""
    from ..operators.dedup import (
        embedding_bucket_index_table,
        embedding_incremental_pairs,
    )

    return _index_dedup_stream(
        stream,
        index_dir,
        checkpoint_dir,
        id_col=id_col,
        keep_cols=[id_col, vec_col],
        prefix="evec_v",
        state_fn=lambda batch: embedding_bucket_index_table(
            batch, id_col, vec_col, n_tables, n_planes, dim, seed
        ),
        pairs_fn=lambda new_state, index: embedding_incremental_pairs(
            new_state,
            index,
            id_col=id_col,
            threshold=threshold,
            max_bucket=max_bucket,
        ),
        compact_every=compact_every,
    )


def streaming_dedup_contained(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.95,
    max_shingle_freq: int = 10000,
    compact_every: int | None = 32,
):
    """Ingest-time CONTAINMENT dedup (r12, VERDICT r11 item 6): each
    micro-batch is checked against a durable shingle posting index
    (``operators.dedup.shingle_posting_table`` layout) and documents
    whose distinct-shingle set is >= ``threshold`` contained in a
    bigger already-indexed (or bigger same-batch) document drop at the
    boundary — the streaming twin of
    ``operators.dedup.drop_contained_documents``, for the always-on
    crawl-ingest story where truncated re-crawls and quote-swallowed
    copies should never land.

    Drop policy: WITHIN a batch, exactly the batch operator's single-
    pass rank rule (more distinct shingles wins, ties to smaller id) —
    one batch through this tier keeps the same survivors as
    ``drop_contained_documents`` on the same rows (equivalence pinned
    in tests/test_streaming.py). ACROSS batches the policy is
    conservative and directional: a new doc contained in an indexed doc
    drops; an indexed doc contained in a new SUPERSET is never
    retracted (landed data is immutable at ingest) — the at-rest batch
    pass catches that direction, the same asymmetry as the MinHash
    twin's over-drop note. A re-crawled already-indexed id is a no-op.

    Same exactly-once discipline as the family (append-only
    ``shpost_v{N}`` committed shards holding only survivors' postings;
    kept docs written FIRST under ``kept/batch_id={N}``, overwrite-
    idempotent; redelivered batches skip wholesale; index bound to its
    checkpoint for life; every ``compact_every`` shards merge into one
    compact root). Per-batch probe reads prune the index with a
    semi-join on the batch's shingle set before any pairing.

    Reference parity: no analogue — beyond-reference training-data
    mandate (SURVEY.md north-star extensions)."""
    from ..operators.dedup import (
        containment_incremental_pairs,
        shingle_posting_table,
    )

    return _index_dedup_stream(
        stream,
        index_dir,
        checkpoint_dir,
        id_col=id_col,
        keep_cols=[id_col, text_col],
        prefix="shpost_v",
        state_fn=lambda batch: shingle_posting_table(
            batch, text_col, id_col, shingle_n
        ),
        pairs_fn=lambda new_sh, index: containment_incremental_pairs(
            new_sh,
            index,
            id_col=id_col,
            threshold=threshold,
            max_shingle_freq=max_shingle_freq,
        ),
        compact_every=compact_every,
    )


def streaming_dedup_image(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    method: str = "phash",
    codec: str = "stub",
    max_hamming: int = 6,
    n_blocks: int = 8,
    max_bucket: int | None = 1000,
    compact_every: int | None = 32,
):
    """Ingest-time PERCEPTUAL image dedup (r9): each micro-batch of
    image payloads is hashed (one Arrow pHash/dHash stage), deduped
    against a durable Hamming block index
    (``operators.dedup.hamming_block_table`` layout), and the
    survivors' blocks join the index — the image twin of
    :func:`streaming_dedup_near`, for multimodal crawls where
    re-encoded/resized copies must be stopped at the boundary.

    Same drop policy (drop on any pair with an indexed image, with a
    smaller-id image of the same batch, or on an already-indexed id —
    conservative at ingest), same
    exactly-once discipline (append-only ``hblk_v{N}`` committed
    shards; kept docs written FIRST under ``kept/batch_id={N}`` with
    overwrite; redelivered batches whose shard committed skip
    wholesale), same checkpoint/index binding. ``max_bucket`` defaults
    ON here (1000): perceptual 8-bit chunks are coarse (see the
    candidate-volume note in ``hamming_near_dup_pairs``), and a mass
    bucket at ingest would stall the stream — the capped bucket's
    near-dups are exactly the mass-duplicate payloads an upstream exact
    (checksum) dedup should have removed.

    ``compact_every`` (default 32; None disables) merges committed
    shards into one compact root on the same schedule as the MinHash
    twin, keeping per-batch index reads bounded.

    Reference parity: no analogue — beyond-reference multimodal
    training-data mandate (SURVEY.md north-star extensions).
    """
    from ..operators.dedup import hamming_block_table, hamming_incremental_pairs
    from ..operators.image_hash import image_hash_table

    return _index_dedup_stream(
        stream,
        index_dir,
        checkpoint_dir,
        id_col=id_col,
        keep_cols=[id_col, payload_col],
        prefix="hblk_v",
        state_fn=lambda batch: hamming_block_table(
            image_hash_table(batch, id_col, payload_col, method, codec),
            id_col,
            "ih",
            n_blocks,
        ),
        pairs_fn=lambda new_blocks, index: hamming_incremental_pairs(
            new_blocks,
            index,
            id_col=id_col,
            hash_col="ih",
            max_hamming=max_hamming,
            n_blocks=n_blocks,
            max_bucket=max_bucket,
            keep_flags=True,
        ),
        compact_every=compact_every,
    )
