"""Durable-state protocol for the foreachBatch operators.

State lives in versioned parquet directories under one state dir: batch
N writes ``{pfx}N``, and a version counts as committed only once
parquet's ``_SUCCESS`` marker is in place. Every path goes through the
Hadoop FS API, so any reachable scheme (file://, hdfs://, s3a://) works.

Two lifecycles share these helpers:

- :func:`versioned_fold` — self-contained cumulative state, one full
  version per batch (the sketch, mixing, CDC and rollup operators). It
  owns the whole per-batch protocol: checkpoint binding, redelivery
  skip, fold, publish, and retention of the last two versions.
- :func:`compact_index_shards` — append-only per-batch shards merged
  into a compact root every K batches (the near-dedup and ANN indexes),
  where a full rewrite per batch would be too expensive.

Parameter metas (:func:`check_or_write_meta`) persist a state dir's
build parameters beside its versions, and :func:`read_latest_state` is
the guarded read side.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FS API, so state dirs on ANY
    reachable scheme (file://, hdfs://, s3a://) resolve correctly —
    ``os.path.exists`` on a non-local URI is always False and silently
    disables whatever check rides on it (review r13)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def meta_committed(spark: SparkSession, meta_path: str) -> bool:
    """True iff a single-row parquet meta directory is fully COMMITTED —
    i.e. carries the ``_SUCCESS`` marker parquet publishes last. Bare
    ``path_exists`` on the directory is not enough: a crash mid-first-
    write leaves a directory that exists but is unreadable, turning
    every later batch/read into an opaque schema-inference failure
    instead of a self-healing rewrite (advice r14). The versioned state
    dirs already gate on ``_SUCCESS`` via :func:`committed_versions`;
    this is the same discipline for the parameter metas."""
    return path_exists(spark, f"{meta_path}/_SUCCESS")


def committed_versions(spark: SparkSession, root_dir: str, pfx: str) -> list[int]:
    """Sorted versions N for which ``{root_dir}/{pfx}{N}/_SUCCESS``
    exists — i.e. fully committed parquet state directories."""
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    root = Path(root_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    versions: list[int] = []
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith(pfx):
                try:
                    v = int(name[len(pfx):])
                except ValueError:
                    continue
                if fs.exists(Path(st.getPath(), "_SUCCESS")):
                    versions.append(v)
    versions.sort()
    return versions


def bind_state_to_checkpoint(spark: SparkSession, state_dir: str, checkpoint_dir: str) -> None:
    """Pair a durable state directory with ONE streaming checkpoint for
    life. foreachBatch redelivery detection keys on the checkpoint's
    batch_id sequence, which restarts at 0 under a fresh checkpoint — so
    feeding an existing state dir from a NEW checkpoint would silently
    mistake its first batches for redeliveries and drop them. Writes a
    ``_checkpoint`` marker on first use; raises if the dir is already
    bound to a different checkpoint (restarts on the SAME checkpoint pass
    unhindered — that is the supported recovery path)."""
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    root = Path(state_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    marker = Path(state_dir, "_checkpoint")
    if fs.exists(marker):
        stream = fs.open(marker)
        try:
            bound = bytes(stream.readAllBytes()).decode("utf-8").strip()
        finally:
            stream.close()
        if bound != checkpoint_dir:
            raise ValueError(
                f"state dir {state_dir!r} is bound to checkpoint {bound!r}; "
                f"starting it under {checkpoint_dir!r} would replay batch ids "
                "and silently skip real batches. Use the original checkpoint "
                "dir to resume, or a fresh state dir for a new ingest run."
            )
        return
    fs.mkdirs(root)
    out = fs.create(marker, True)
    try:
        out.write(bytearray(checkpoint_dir.encode("utf-8")))
    finally:
        out.close()


def committed_index_state(
    spark: SparkSession, root_dir: str, pfx: str
) -> tuple[str | None, int, list[int]]:
    """``(compact_path, covered_hi, live_shard_versions)`` — the read
    view of a compactable shard index: the newest committed
    ``{pfx}compact_{hi}`` directory (None / hi=-1 when never compacted
    — batch ids start at 0, so 0 is a REAL coverable version, not a
    sentinel) plus the committed per-batch shards with version > hi.
    Shards <= hi and older compact dirs are leftovers of a crash between
    a compaction's publish and its cleanup — correct to ignore (their
    rows live in the newest compact dir) and deleted lazily by the next
    :func:`compact_index_shards`."""
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    root = Path(root_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    compact_hi, shards = -1, []
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not (st.isDirectory() and name.startswith(pfx)):
                continue
            suffix = name[len(pfx):]
            if not fs.exists(Path(st.getPath(), "_SUCCESS")):
                continue
            if suffix.startswith("compact_"):
                try:
                    compact_hi = max(compact_hi, int(suffix[len("compact_"):]))
                except ValueError:
                    continue
            else:
                try:
                    shards.append(int(suffix))
                except ValueError:
                    continue
    live = sorted(v for v in shards if v > compact_hi)
    path = (
        f"{root_dir}/{pfx}compact_{compact_hi}" if compact_hi >= 0 else None
    )
    return path, compact_hi, live


def compact_index_shards(
    spark: SparkSession, root_dir: str, pfx: str, defer_cleanup: bool = False
) -> str | None:
    """Merge the current compact root (if any) and every live committed
    shard into ONE new ``{pfx}compact_{hi}`` directory (hi = newest
    merged shard version), then delete the covered shards and older
    compact dirs. Returns the new compact path, or None when there was
    nothing to merge.

    ``defer_cleanup`` (r15, for shard dirs with EXTERNAL readers — the
    streaming ANN index): delete only what the PREVIOUS compact root
    already covered, keeping this round's newly-covered shards (and the
    previous compact root) on disk until the NEXT compaction. Readers
    resolve the newest committed compact root and ignore covered
    shards, so the leftovers are correctness-neutral (exactly the
    crash-leftover case below) — but a reader that LISTED the dir just
    before this publish keeps every root it planned to scan for a full
    compaction interval, instead of racing the delete into a
    FileNotFound. The single-reader streams (dedup) keep the default
    immediate cleanup.

    Keeps a long-lived stream's per-batch index read at one parquet
    root + the few shards since the last compaction, instead of one
    root per ever-committed batch (advice r9: O(N^2) cumulative listing
    and scan cost). Crash-safe by construction: the merged dir is
    published by its own ``_SUCCESS`` (a half-written attempt is
    invisible and simply overwritten by the retry), readers resolve the
    NEWEST committed compact dir and ignore shards it covers, and the
    covered-shard deletes after publish are pure cleanup — a crash
    between publish and delete leaves harmless leftovers the next
    compaction removes. Write amplification is the usual log-structured
    trade: each compaction rewrites the index once, so run it every K
    batches (K ~ tens) — reads stay O(K) roots, writes stay O(N/K)
    full rewrites over the stream's life."""
    compact_path, old_hi, live = committed_index_state(spark, root_dir, pfx)
    if not live:
        return None
    roots = ([compact_path] if compact_path else []) + [
        f"{root_dir}/{pfx}{v}" for v in live
    ]
    new_hi = live[-1]
    new_path = f"{root_dir}/{pfx}compact_{new_hi}"
    spark.read.parquet(*roots).write.mode("overwrite").parquet(new_path)
    # cleanup AFTER publish: everything below is now covered by new_path
    # (with defer_cleanup, only below the PREVIOUS cover — see docstring)
    cut = old_hi if defer_cleanup else new_hi
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    root = Path(root_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(pfx)):
            continue
        suffix = name[len(pfx):]
        if suffix.startswith("compact_"):
            try:
                stale = int(suffix[len("compact_"):]) < cut
            except ValueError:
                continue
        else:
            try:
                stale = int(suffix) <= cut
            except ValueError:
                continue
        if stale:
            fs.delete(st.getPath(), True)
    return new_path


def prune_state_versions(
    spark: SparkSession, root_dir: str, pfx: str, keep_last: int = 2
) -> list[int]:
    """Delete old self-contained state versions, keeping the newest
    ``keep_last`` — the retention side of :func:`versioned_fold`, which
    calls it after every commit. Each version is the full cumulative
    state, so dropping older ones loses nothing: readers resolve
    ``max(committed_versions)``, which is always kept, and redelivery
    detection compares against that same max. Keep at least 2 so a
    reader that resolved the previous max just before a new commit
    never races a delete.

    Only ``{pfx}N`` version directories are touched — parameter metas,
    ``_checkpoint`` markers, and compact/shard dirs (which have their
    own lifecycle, :func:`compact_index_shards`) are never candidates.
    Crash-safe: deletion is pure cleanup of fully-committed dirs; a
    crash mid-prune leaves some extra old versions for the next prune.
    Returns the pruned version numbers."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    versions = committed_versions(spark, root_dir, pfx)
    victims = versions[:-keep_last] if len(versions) > keep_last else []
    if not victims:
        return []
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    root = Path(root_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    for v in victims:
        fs.delete(Path(root_dir, f"{pfx}{v}"), True)
    return victims


def versioned_fold(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    pfx: str,
    step: Callable[[SparkSession, DataFrame, DataFrame | None], DataFrame],
    publish: Callable[[DataFrame], None] | None = None,
):
    """Fold ``stream`` into self-contained versioned state, exactly once
    under foreachBatch's at-least-once delivery; returns the started
    ``availableNow`` query.

    ``state_dir`` is bound to ``checkpoint_dir`` for life
    (:func:`bind_state_to_checkpoint`). Per batch N:

    - redelivery (N <= the newest committed version): the batch is
      already folded in, so only ``publish`` runs, on the newest
      version — this heals a crash between commit and publish;
    - otherwise ``step(spark, batch_df, prev)`` folds the batch into the
      newest committed version (``prev``; None before the first
      commit), the result is written with ``mode("overwrite")`` to
      ``{pfx}N`` (a crashed attempt has no ``_SUCCESS``, is invisible,
      and is overwritten by the retry), ``publish`` gets the new
      version, and versions older than the previous one are deleted.

    ``step`` must be a deterministic function of ``prev`` and the batch;
    it may raise to refuse a batch, leaving the committed state intact.
    Keeping the previous version lets a reader that resolved it just
    before this commit finish its scan, so a state dir holds at most
    three versions while a batch is in flight and two between batches.
    """
    bind_state_to_checkpoint(stream.sparkSession, state_dir, checkpoint_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        versions = committed_versions(spark, state_dir, pfx)
        prev = (
            spark.read.parquet(f"{state_dir}/{pfx}{versions[-1]}")
            if versions
            else None
        )
        if versions and batch_id <= versions[-1]:
            if publish is not None:
                publish(prev)
            return
        path = f"{state_dir}/{pfx}{batch_id}"
        step(spark, batch_df, prev).write.mode("overwrite").parquet(path)
        if publish is not None:
            publish(spark.read.parquet(path))
        prune_state_versions(spark, state_dir, pfx, keep_last=2)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_meta(spark: SparkSession, meta_path: str) -> dict:
    """The single meta row as a plain dict. Use ``.get`` for columns
    added after a meta's first release: metas written earlier lack them,
    and absent must read as None (the old default), not raise, or every
    pre-existing durable state dir dies on first contact after an
    upgrade."""
    return spark.read.parquet(meta_path).collect()[0].asDict()


def check_or_write_meta(
    spark: SparkSession,
    state_dir: str,
    meta_name: str,
    label: str,
    params: dict,
) -> None:
    """Persist a state dir's build parameters as ``{state_dir}/{meta_name}``
    on first contact; afterwards REFUSE any caller whose parameters
    disagree with the durable ones — folding under different parameters
    (a CMS width, a DDSketch gamma, a bucket count) into durable state
    produces silent garbage.

    ``params`` maps ``"column type"`` DDL fragments to values, e.g.
    ``{"k int": 512}``; the fragments together are the meta's schema.
    The probe is ``_SUCCESS``-gated (:func:`meta_committed`): a meta dir
    left half-written by a crash is rewritten, not read, so the state
    heals instead of failing every later read. Columns missing from an
    older meta read as None (:func:`read_meta`).

    Single-writer contract: the dir is owned by ONE streaming query
    (:func:`bind_state_to_checkpoint`). Two writers racing the first
    write with different parameters is outside it — the loser's
    parameters are overwritten, then refused on its next batch."""
    meta_path = f"{state_dir}/{meta_name}"
    want = {col.split()[0]: v for col, v in params.items()}
    if meta_committed(spark, meta_path):
        row = read_meta(spark, meta_path)
        got = {c: row.get(c) for c in want}
        if got != want:
            built = "/".join(f"{c}={v!r}" for c, v in got.items())
            asked = "/".join(repr(v) for v in want.values())
            raise ValueError(
                f"{label} state at {state_dir} was built with {built}; "
                f"got {asked}"
            )
    else:
        spark.createDataFrame(
            [tuple(want.values())], ", ".join(params)
        ).coalesce(1).write.mode("overwrite").parquet(meta_path)


def read_latest_state(
    spark: SparkSession,
    state_dir: str,
    pfx: str,
    what: str,
    meta_name: str | None = None,
) -> tuple[DataFrame, dict | None]:
    """``(newest committed version, meta row)`` of a versioned state
    dir. Raises when nothing has committed (``what`` names the state in
    the message), and — when the family keeps a ``meta_name`` — when
    committed versions exist WITHOUT their meta: the durable state's
    build parameters are then unknown (partial state-dir cleanup?), and
    caller-supplied ones cannot be trusted against it."""
    versions = committed_versions(spark, state_dir, pfx)
    meta_path = f"{state_dir}/{meta_name}"
    has_meta = meta_name is not None and meta_committed(spark, meta_path)
    if not versions:
        missing = f" and no {meta_name}" if meta_name and not has_meta else ""
        raise ValueError(f"no committed {what} under {state_dir}{missing}")
    if meta_name is not None and not has_meta:
        raise ValueError(
            f"no {meta_name} under {state_dir} but committed {what} exist — "
            "the durable state's build parameters are unknown (partial "
            "state-dir cleanup?), so caller-supplied ones cannot be "
            "trusted against it"
        )
    state = spark.read.parquet(f"{state_dir}/{pfx}{versions[-1]}")
    return state, read_meta(spark, meta_path) if has_meta else None
