"""Streaming sinks (SURVEY.md §2.2) behind one interface.

The reference uses exactly two sinks: Kafka with a checkpoint
(`sparkpykafkajoin.py:145-152`, here `sources/kafka.py:write_kafka`)
and console-append (`sparkpyrediskafkastreamtoconsole.py:102`, a debug
view). We add the test-friendly memory sink and a partitioned-parquet
sink (the 100 TB landing path),
with checkpointing configurable on EVERY query — the reference only
checkpoints the Kafka sink (SURVEY.md §2.8-T8).
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def _checkpoint(dir_: str | None) -> str:
    return dir_ or os.path.join(
        tempfile.gettempdir(), f"stedi-ckpt-{uuid.uuid4().hex}"
    )


def to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    available_now: bool = True,
) -> StreamingQuery:
    """Memory sink for assertable tests; availableNow processes the
    full backlog then stops (deterministic replay, SURVEY.md §2.8-T3)."""
    w = df.writeStream.outputMode(output_mode).format("memory").queryName(name)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def upsert_parquet(
    df: DataFrame,
    path: str,
    key_cols: tuple[str, ...],
    checkpoint_dir: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """MERGE-style upsert sink via foreachBatch (no Delta in this
    container): each micro-batch replaces rows whose key matches —
    target rows anti-joined against the batch, then unioned with it.

    Per-batch cost is a full target rewrite, acceptable for dimension
    tables; for fact-scale targets partition the path and restrict the
    rewrite to touched partitions (or use a table format with MERGE)."""

    def merge(batch: DataFrame, _epoch: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch.sparkSession
        cols = batch.columns
        try:
            target = spark.read.parquet(path).select(*cols)
        except AnalysisException as exc:
            # ONLY bootstrap on a genuinely absent target. Any other
            # read failure (corrupt footer, FS hiccup, schema drift)
            # must re-raise so the micro-batch retries — swallowing it
            # would overwrite the target with just the current batch.
            if (exc.getCondition() or "") != "PATH_NOT_FOUND":
                raise
            batch.write.mode("overwrite").parquet(path)
            return
        keep = target.join(batch.select(*key_cols).distinct(), list(key_cols), "left_anti")
        merged = keep.union(batch.select(*cols)).localCheckpoint()
        merged.write.mode("overwrite").parquet(path)

    w = df.writeStream.outputMode("update").foreachBatch(merge).option(
        "checkpointLocation", _checkpoint(checkpoint_dir)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def to_parquet(
    df: DataFrame,
    path: str,
    checkpoint_dir: str | None = None,
    partition_by: tuple[str, ...] = (),
    available_now: bool = False,
) -> StreamingQuery:
    """Partitioned parquet sink — the scale landing path. Exactly-once
    per file via the checkpoint + _spark_metadata commit log."""
    w = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", _checkpoint(checkpoint_dir))
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def additive_merge_parquet(
    df: DataFrame,
    path: str,
    key_cols: tuple[str, ...],
    add_cols: tuple[str, ...],
    checkpoint_dir: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Additive MV-maintenance sink: each micro-batch's rows are
    pre-aggregated per key and MERGED BY ADDITION into the parquet
    target (full-outer on the key, coalesce(a,0)+coalesce(b,0) per
    measure) — the foreachBatch spelling of incremental materialized-
    view maintenance where the accumulation state lives in the TABLE,
    not in streaming aggregation state. Use when the key space is too
    large or too long-lived for stream state (the
    `mv_incremental_maintenance` batch query is the same algebra with
    signed deltas; this sink is inserts-only per micro-batch).

    Measures must be associative adds (counts, fixed-point sums — see
    the _MV_FIX discipline in plans/warehouse.py): addition makes the
    merge order-independent across micro-batches.

    Replay-idempotent and crash-safe (r7/r8/r9, the failure windows a
    bare read-overwrite sink leaves open):
    - A per-lineage epoch MAP is persisted IN the target (an
      underscore-prefixed `_last_epoch` file, invisible to parquet
      readers; one `lineage\tepoch` line per lineage, carried forward
      into every new version). foreachBatch epoch ids are only unique
      PER CHECKPOINT LINEAGE — a brand-new query with a fresh
      checkpoint restarts at epoch 0 — so the skip fires only when the
      replaying batch's OWN lineage (the resolved checkpoint path) has
      epoch ≤ its recorded value: the "overwrite completed, checkpoint
      commit didn't" window is skipped instead of double-added, while a
      different lineage's low-numbered batches of genuinely new data
      still merge. The map (not a single last-writer pair, r9) keeps
      that guarantee when lineages interleave: A crashes in the
      committed-but-unacknowledged window, B merges, A restarts — A's
      replay still finds its own recorded epoch and skips.
    - Every merge writes a NEW versioned directory — named by
      (lineage-hash, epoch), so two lineages can never contend for the
      same version dir and the build-dir cleanup can never touch a
      version published by another lineage — and publishes it with an
      atomic symlink replace (`rename(2)` of the link), so the table
      path always resolves to a COMPLETE version; a crash mid-write
      leaves the previous version live and the next replay rebuilds
      the orphan. The self-overwrite of the exact path being read is
      gone, which also drops the defensive localCheckpoint. A belt-and-
      braces guard additionally refuses to rmtree any dir the live
      symlink currently resolves to.
    This is the transactional-commit discipline a lake table format
    (Delta/Iceberg) provides natively. LOCAL FILESYSTEM ONLY: the
    publish step uses os.symlink/os.rename, which do not exist on
    hdfs:// or s3a:// paths — a URI-schemed table path raises
    ValueError up front; on a cluster land this table in a real lake
    format (Delta/Iceberg) instead."""
    import os
    import shutil

    if "://" in path:
        raise ValueError(
            "additive_merge_parquet publishes via os.symlink/os.rename "
            f"(local filesystem only); got URI-schemed path {path!r} — "
            "use a lake table format (Delta/Iceberg) for remote stores"
        )

    import hashlib

    keys = list(key_cols)
    ckpt = _checkpoint(checkpoint_dir)
    # lineage id: epochs are unique only within one checkpoint lineage,
    # and the checkpoint path IS that lineage (stable across restarts
    # of the same query, different for any new query)
    lineage = os.path.abspath(ckpt)
    lin_tag = hashlib.md5(lineage.encode()).hexdigest()[:8]

    def _current_version(p: str) -> str | None:
        if os.path.islink(p):
            return os.path.realpath(p)
        if os.path.isdir(p):
            return p  # legacy plain-directory table
        return None

    def _read_epoch_map(real: str | None) -> dict[str, int]:
        """Per-lineage applied-epoch map from the live version. Accepts
        all three historical formats: `lineage\\tepoch` lines (r9 map),
        the r7/r8 two-line `lineage\\nepoch` pair, and the original
        bare-int record (lineage unknown → attributed to the current
        lineage, the conservative reading: skip rather than double-add)."""
        m: dict[str, int] = {}
        if real is None or not os.path.exists(f"{real}/_last_epoch"):
            return m
        with open(f"{real}/_last_epoch") as fh:
            rec = fh.read().strip().splitlines()
        if any("\t" in ln for ln in rec):
            for ln in rec:
                if "\t" in ln:
                    lin, ep = ln.rsplit("\t", 1)
                    m[lin] = int(ep)
        elif len(rec) >= 2:
            m[rec[0]] = int(rec[1])
        elif rec:
            m[lineage] = int(rec[0])
        return m

    def merge(batch: DataFrame, epoch: int) -> None:
        from pyspark.sql import functions as F

        spark = batch.sparkSession
        # recover from an interrupted legacy-dir conversion: the data
        # dir was renamed but the symlink publish didn't happen
        if not os.path.lexists(path) and os.path.isdir(f"{path}.v_legacy"):
            os.symlink(os.path.abspath(f"{path}.v_legacy"), path)
        real = _current_version(path)
        emap = _read_epoch_map(real)
        if emap.get(lineage, -1) >= epoch:
            return  # replay of an already-applied (committed) batch
            # of THIS lineage; other lineages' records don't gate us

        delta = batch.groupBy(*keys).agg(
            *[F.sum(c).alias(c) for c in add_cols]
        )
        if real is None:
            merged = delta
        else:
            target = spark.read.parquet(real).select(*keys, *add_cols)
            t, d = target.alias("t"), delta.alias("d")
            merged = t.join(d, keys, "full_outer").select(
                *[
                    F.coalesce(F.col(f"t.{k}"), F.col(f"d.{k}")).alias(k)
                    for k in keys
                ],
                *[
                    (
                        F.coalesce(F.col(f"t.{c}"), F.lit(0))
                        + F.coalesce(F.col(f"d.{c}"), F.lit(0))
                    ).alias(c)
                    for c in add_cols
                ],
            )

        # version dir keyed by (lineage-hash, epoch): a fresh lineage
        # restarting at epoch 0 can never name-collide with — and so
        # never rmtree — a version published by a previous lineage
        new_dir = f"{path}.v{lin_tag}_{epoch}"
        if real is not None and os.path.abspath(new_dir) == os.path.realpath(
            real
        ):
            # same lineage+epoch IS the live version (published but the
            # epoch-map read raced/was tampered): re-publishing it would
            # destroy live data mid-read — treat as already applied
            return
        shutil.rmtree(new_dir, ignore_errors=True)  # orphan from a crash
        merged.write.mode("overwrite").parquet(new_dir)
        emap[lineage] = epoch  # carry every lineage's record forward
        with open(f"{new_dir}/_last_epoch", "w") as fh:
            fh.write("\n".join(f"{k}\t{v}" for k, v in sorted(emap.items())))

        # publish: atomic symlink replace; convert a legacy plain dir
        # into a version first (with the recovery preamble covering a
        # crash between these two renames)
        if os.path.isdir(path) and not os.path.islink(path):
            shutil.rmtree(f"{path}.v_legacy", ignore_errors=True)  # stale
            os.rename(path, f"{path}.v_legacy")
            real = f"{path}.v_legacy"
        swap = f"{path}.swap"
        if os.path.lexists(swap):
            os.remove(swap)
        os.symlink(os.path.abspath(new_dir), swap)
        os.rename(swap, path)
        if real is not None and os.path.realpath(real) != os.path.abspath(
            new_dir
        ):
            shutil.rmtree(real, ignore_errors=True)

    w = df.writeStream.outputMode("append").foreachBatch(merge).option(
        "checkpointLocation", ckpt
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
