"""Incremental corpus maintenance: append new conversation batches to a
committed output table with CROSS-RUN content dedup — the continuous-
ingestion story of a 100 TB training-data platform (each crawl/delivery
lands as a batch; only conversations the corpus has never seen are
scored and appended).

Reference parity: the reference resumes WITHIN one run by skipping
completed request ids (base_request_processor.py:438-481). This module
generalizes that to ACROSS runs: the committed table itself is the
ledger of completed work, keyed by content fingerprint rather than row
index, so re-delivered or overlapping batches are skipped exactly like
completed requests.

Why this requires the commitlog ledger: an append adds files to
partitions that already have committed data. Under log-defined
visibility that is precisely Delta's add-file commit — one put per new
file plus one atomic `add_files` log entry merging the partition
manifest; a crash between the two leaves only invisible orphans
(read_committed ignores them, vacuum reclaims them) and the re-run
appends the batch cleanly. The markers backend publishes by whole-dir
swap and cannot express "extend a live partition" without a window
where readers see unmanifested files, so append refuses it.

Safety: a multi-run partition records every contributing run in its
marker (`runs`); checkpoint.revalidate_committed REFUSES to auto-
recompute such a partition (a recompute from one input would silently
drop the other runs' rows) and demands an explicit rebuild instead.

Scale shape: fingerprints are one salt-free groupBy(conv_id) over
(turn_idx, role, text) — text leaves the shuffle as a single md5 per
conversation; the novelty check is one left join of the batch's
per-fingerprint winners against the committed fingerprints (both
fingerprint-only, 16-byte keys), cached at batch size, so each side is
fingerprinted once per append; scoring runs only on novel
conversations, and the write is rebalanced to one file per touched
partition.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from datetime import datetime, timezone

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import schema
from .checkpoint import (
    _append_metrics, _gc_stale_scratch, detect_backend,
    file_column_stats, make_ledger, read_committed, run_fingerprint)
from .pipeline import curate_scored, score_turns

# unit separator: cannot occur in role/text tokens, so the fingerprint
# of ("a|b", "c") can never collide with ("a", "b|c")
_SEP = "\x1f"


def conv_fingerprints(turns: DataFrame, text_col: str = "text") -> DataFrame:
    """(conv_id, conv_fp): md5 over the conversation's turns in
    turn_idx order — role and text included, conv_id excluded, so the
    SAME content under a different conv_id (re-crawled page, re-sent
    delivery) is a duplicate. One groupBy with a deterministic sorted
    collect_list (the dedup_conversations reassembly shape)."""
    payload = F.concat_ws(_SEP, F.col("turn_idx").cast("string"),
                          F.col("role"), F.col(text_col))
    return (turns.groupBy("conv_id")
            .agg(F.md5(F.concat_ws("\n", F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("turn_idx").alias("i"),
                             payload.alias("p")))),
                lambda x: x["p"]))).alias("conv_fp")))


def append_new_conversations(spark: SparkSession, input_path: str,
                             out_dir: str, params: dict | None = None,
                             broadcast_conv_aggs: bool | None = None) -> dict:
    """Score and append the batch's NOVEL conversations to a committed
    output table.

    Dedup is two-layer, both content-keyed:
    * in-batch: one conversation per fingerprint survives (lowest
      conv_id — the keep-first convention);
    * cross-run: fingerprints already in the committed table are
      skipped (this is what makes re-running a delivery a no-op).

    Returns {run_id, convs_in, convs_new, convs_dup_prior,
    convs_dup_inbatch, rows_appended, wall_ms}.
    """
    t0 = time.monotonic()
    run_id = run_fingerprint(input_path, {"kind": "append",
                                          **(params or {})})
    new = spark.read.schema(schema.TRANSCRIPTS_SCHEMA).parquet(input_path)
    return append_batch_df(spark, new, out_dir, run_id=run_id,
                           input_desc=input_path, params=params,
                           broadcast_conv_aggs=broadcast_conv_aggs, t0=t0)


def upsert_conversations(spark: SparkSession, input_path: str,
                         out_dir: str, params: dict | None = None,
                         broadcast_conv_aggs: bool | None = None) -> dict:
    """MERGE with replace-on-conflict by conv_id (the missing third verb
    next to append's INSERT-if-absent and delete_conversations'
    DELETE): a batch conversation whose conv_id exists in the table
    with DIFFERENT content replaces the old rows; identical content is
    absorbed (the append dedup); unseen conversations append. The
    delete leg is file-pruned (bucket + stats) and the replaced rows
    stay time-travel-readable until vacuum — this is how a corrected
    re-delivery or a redaction re-run lands without rewriting the
    table.

    The revised key set stays a DATAFRAME end to end — fingerprints
    join, distributed delete (checkpoint.delete_matching: bucket-pruned
    via a pandas-UDF bucket transform, file-pruned by manifest ranges,
    survivors kept by LEFT ANTI join), counts from aggregates. Nothing
    key-volume-proportional ever reaches the driver, so a batch that
    revises 10^7 conversations costs the same driver memory as one that
    revises 10.

    Returns the append summary plus convs_revised."""
    t0 = time.monotonic()
    run_id = run_fingerprint(input_path, {"kind": "upsert",
                                          **(params or {})})
    new = spark.read.schema(schema.TRANSCRIPTS_SCHEMA).parquet(input_path)
    from .checkpoint import delete_matching
    backend = detect_backend(out_dir)
    existing = read_committed(spark, out_dir, backend)
    batch_fps = conv_fingerprints(new)
    table_fps = conv_fingerprints(
        existing.select("conv_id", "turn_idx", "role", "text"))
    revised = (batch_fps.alias("b")
               .join(table_fps.alias("t"), "conv_id")
               .filter(F.col("b.conv_fp") != F.col("t.conv_fp"))
               .select("conv_id"))
    d = delete_matching(spark, out_dir, revised, key="conv_id",
                        backend=backend)
    summary = append_batch_df(spark, new, out_dir, run_id=run_id,
                              input_desc=input_path, params=params,
                              broadcast_conv_aggs=broadcast_conv_aggs,
                              t0=t0)
    summary["convs_revised"] = int(d["n_keys"])
    return summary


def append_batch_df(spark: SparkSession, new: DataFrame, out_dir: str,
                    run_id: str, input_desc: str,
                    params: dict | None = None,
                    broadcast_conv_aggs: bool | None = None,
                    t0: float | None = None,
                    txn: tuple[str, int] | None = None) -> dict:
    """DataFrame-level core of the append: dedup → score → add-file
    commits. Shared by the path-based entry above and the streaming
    ingestion sink (streaming/append_stream.py), which feeds each
    micro-batch through here with an epoch-deterministic run_id.

    txn=(app_id, txn_version): idempotent-writer marker (Delta's txn
    action). If the log already records txn_version (or higher) for
    app_id, the whole batch is skipped BEFORE any Spark work — the
    cheap fast path for a replayed streaming epoch; the content-level
    dedup below remains the correctness backstop for replays whose txn
    never got recorded (crash between data commit and the txn commit)
    and for source-side re-deliveries no transaction id can see. The
    marker is committed only after every partition's add-file commit
    and the metrics/lineage writes have landed."""
    t0 = time.monotonic() if t0 is None else t0
    backend = detect_backend(out_dir)
    ledger = make_ledger(out_dir, backend)
    if not getattr(ledger, "log_defined_visibility", False):
        raise ValueError(
            f"append requires a log-defined-visibility ledger (got "
            f"'{backend}'): extending live partitions is an add-file "
            "commit, which the whole-dir-swap markers protocol cannot "
            "express atomically — create the table with "
            "ledger_backend='commitlog'")
    if txn is not None:
        seen = ledger.last_txn(txn[0])
        if seen is not None and seen >= int(txn[1]):
            return {"run_id": run_id, "convs_in": 0, "convs_new": 0,
                    "convs_dup_prior": 0, "convs_dup_inbatch": 0,
                    "rows_appended": 0, "skipped_txn": True,
                    "wall_ms": int((time.monotonic() - t0) * 1000)}

    # One fingerprint pass over the batch and one over the committed
    # table (DV-masked by read_committed, so a deleted conversation's
    # content counts as novel again), folded into ONE cached,
    # batch-sized frame: a row per batch fingerprint with its winner
    # (lowest conv_id — the keep-first convention), how many batch
    # conversations share it, and whether the table already holds it.
    # Every count and the pending semi-join read this frame, so the
    # table is never re-fingerprinted inside the write job.
    existing = read_committed(spark, out_dir, backend)
    table_fps = (conv_fingerprints(
        existing.select("conv_id", "turn_idx", "role", "text"))
        .select("conv_fp").distinct().withColumn("seen", F.lit(True)))
    dedup = (conv_fingerprints(new).groupBy("conv_fp")
             .agg(F.min("conv_id").alias("conv_id"),
                  F.count(F.lit(1)).alias("n"))
             .join(table_fps, "conv_fp", "left")
             .select("conv_fp", "conv_id", "n",
                     F.col("seen").isNotNull().alias("seen"))
             .persist(StorageLevel.MEMORY_AND_DISK))
    scored = None
    scratch_root = None
    try:
        c = dedup.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("convs_in"),
                      F.count(F.lit(1)).alias("winners"),
                      F.count(F.when(~F.col("seen"), 1)).alias("novel")
                      ).first()
        n_convs_in, n_winners, n_novel = (
            int(c.convs_in), int(c.winners), int(c.novel))

        summary = {"run_id": run_id, "convs_in": n_convs_in,
                   "convs_new": n_novel,
                   "convs_dup_prior": n_winners - n_novel,
                   "convs_dup_inbatch": n_convs_in - n_winners,
                   "rows_appended": 0, "wall_ms": 0}
        if n_novel == 0:
            if txn is not None:
                ledger.set_txn(txn[0], int(txn[1]))  # unit fully processed
            summary["wall_ms"] = int((time.monotonic() - t0) * 1000)
            return summary

        novel = dedup.filter(~F.col("seen")).select("conv_id")
        pending = new.join(novel, "conv_id", "left_semi")
        scored = score_turns(pending).persist(StorageLevel.MEMORY_AND_DISK)
        result = curate_scored(scored, broadcast_conv_aggs)

        _gc_stale_scratch(out_dir)
        shard = hashlib.md5(f"{run_id}|{uuid.uuid4().hex}".encode()) \
            .hexdigest()[:8]
        scratch_root = os.path.join(out_dir, f"_scored-{run_id}-{shard}")
        os.makedirs(scratch_root, exist_ok=True)
        with open(os.path.join(scratch_root, "OWNER"), "w") as f:
            f.write(str(os.getpid()))
        stage_out = os.path.join(scratch_root, "out")
        from .checkpoint import (
            record_table_schema, stats_columns, to_logical, to_physical)
        tmeta = ledger.table_meta() if getattr(
            ledger, "log_defined_visibility", False) else {}
        if tmeta.get("column_mapping"):
            # mapped table (ALTER history): mint physical names for any
            # new logical columns first, then land physical files
            record_table_schema(ledger, result.schema)
            tmeta = ledger.table_meta()
        # rebalanced on `part`: one file per touched partition, split
        # only where a partition outgrows AQE's advisory size
        (to_physical(result.hint("rebalance", "part"), tmeta)
         .write.mode("overwrite").partitionBy("part").parquet(stage_out))

        mrows = (to_logical(spark.read.parquet(stage_out),
                            tmeta).groupBy("part").agg(
            F.count(F.lit(1)).alias("n_in"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum((F.col("scrubbed_text") != F.col("text")).cast("long"))
            .alias("n_scrubbed"),
            F.sum((~F.col("role_valid")).cast("long")).alias("n_errors"),
            F.sum("n_tokens").alias("n_tokens"),
        ).collect())

        # Per-partition add-file commits: place this shard's files under
        # their final dirs with shard-unique names (one put per NEW
        # file), then publish ONE atomic log entry per partition. The
        # marker lands immediately after its partition's files, so a
        # crash orphans at most the partition being published — and
        # orphans are invisible to read_committed until vacuum.
        import pyarrow.parquet as pq
        record_table_schema(ledger, result.schema)
        data_dir = os.path.join(out_dir, "data")
        rows_appended = 0
        n_by_part = {int(r.part): int(r.n_in) for r in mrows}
        for p, n_rows in sorted(n_by_part.items()):
            src = os.path.join(stage_out, f"part={p}")
            if not os.path.isdir(src):
                continue
            dst = os.path.join(data_dir, f"part={p}")
            os.makedirs(dst, exist_ok=True)
            man: dict = {}
            stats: dict = {}
            for fn in sorted(os.listdir(src)):
                if not fn.endswith(".parquet"):
                    continue
                newname = f"{shard}-{fn}"
                fsrc = os.path.join(src, fn)
                man[newname] = {
                    "n_rows": pq.ParquetFile(fsrc).metadata.num_rows,
                    "n_bytes": os.path.getsize(fsrc)}
                stats[newname] = file_column_stats(
                    fsrc, stats_columns(tmeta))
                os.replace(fsrc, os.path.join(dst, newname))
            ledger.append_part(p, man, n_rows, run_id, stats=stats)
            rows_appended += n_rows

        wall_ms = int((time.monotonic() - t0) * 1000)
        _append_metrics(out_dir, run_id, shard, mrows, wall_ms)

        meta_dir = os.path.join(out_dir, "_meta")
        os.makedirs(meta_dir, exist_ok=True)
        with open(os.path.join(meta_dir, f"run_{run_id}.json"), "w") as f:
            json.dump({
                "run_id": run_id, "kind": "append", "input": input_desc,
                "params": params or {},
                "created_at": datetime.now(timezone.utc).isoformat(),
                "convs_new": n_novel,
                "parts_touched": sorted(n_by_part),
            }, f, indent=2)

        if txn is not None:
            # recorded LAST: a crash anywhere above leaves the txn
            # unrecorded, the epoch replays, and content dedup absorbs
            # what already landed — then this mark makes the NEXT
            # replay free
            ledger.set_txn(txn[0], int(txn[1]))
        summary["rows_appended"] = rows_appended
        summary["wall_ms"] = wall_ms
        return summary
    finally:
        if scratch_root is not None:
            shutil.rmtree(scratch_root, ignore_errors=True)
        if scored is not None:
            scored.unpersist()
        dedup.unpersist()
