"""Durable-cursor change-feed consumption (curator_spark.feed): a
downstream consumer processes each inserted row exactly once across
polls, crashes, and table maintenance — without ever re-reading the
corpus. Protocol shape: Spark Structured Streaming's offsets/commits +
Delta's streaming source, on the commitlog's put-if-absent primitive."""

from __future__ import annotations

import pytest

from curator_spark import fixtures
from curator_spark.checkpoint import (
    compact_partition, make_ledger, read_committed, restore_table,
    run_checkpointed, vacuum)
from curator_spark.feed import consume_changes, consumer_position
from curator_spark.incremental import append_new_conversations


@pytest.fixture()
def table(spark, tmp_path):
    p1 = str(tmp_path / "b1.parquet")
    pdf1 = fixtures.write_transcripts_parquet(p1, 700, seed=71, n_parts=4)
    out = str(tmp_path / "out")
    run_checkpointed(spark, p1, out, ledger_backend="commitlog")
    return {"out": out, "pdf1": pdf1, "tmp": tmp_path}


def _append(spark, table, seed, n):
    p = str(table["tmp"] / f"b{seed}.parquet")
    fixtures.write_transcripts_parquet(p, n, seed=seed, n_parts=4)
    return append_new_conversations(spark, p, table["out"])


def test_bootstrap_then_increments_then_noop(spark, table):
    out = table["out"]
    got: list[tuple[int, int, int]] = []

    def sink(df, since, until):
        got.append((df.count(), since, until))

    # poll 1: bootstrap — the whole table is the first batch
    r1 = consume_changes(spark, out, "trainer", sink)
    assert r1["advanced"] and r1["since"] == 0
    assert got[-1][0] == r1["consumed_rows"] == len(table["pdf1"])

    # poll 2: nothing new — no Spark job, no cursor movement
    r2 = consume_changes(spark, out, "trainer", sink)
    assert not r2["advanced"] and len(got) == 1

    # two appends, then ONE poll: a single batch of exactly the new rows
    a1 = _append(spark, table, 72, 300)
    a2 = _append(spark, table, 73, 250)
    r3 = consume_changes(spark, out, "trainer", sink)
    assert r3["consumed_rows"] == a1["rows_appended"] + a2["rows_appended"]
    assert got[-1][0] == r3["consumed_rows"]
    # total consumed over the consumer's life == the table, no dup/loss
    assert sum(g[0] for g in got) == read_committed(spark, out).count()


def test_crashed_sink_replays_same_window(spark, table):
    out = table["out"]
    consume_changes(spark, out, "c2", lambda df, s, u: None)  # bootstrap
    a = _append(spark, table, 74, 200)

    with pytest.raises(RuntimeError, match="sink died"):
        def dying(df, s, u):
            df.count()  # work happened, then crash BEFORE cursor commit
            raise RuntimeError("sink died")
        consume_changes(spark, out, "c2", dying)

    # cursor did not advance: the next poll replays the identical window
    got = []
    r = consume_changes(spark, out, "c2",
                        lambda df, s, u: got.append(df.count()))
    assert r["consumed_rows"] == a["rows_appended"] == got[0]
    # and the one after that is a no-op
    assert not consume_changes(spark, out, "c2",
                               lambda df, s, u: got.append(-1))["advanced"]


def test_independent_consumers_and_maintenance_versions(spark, table):
    out = table["out"]
    # consumer A bootstraps; B hasn't started
    consume_changes(spark, out, "A", lambda df, s, u: None)
    assert consumer_position(out, "A") > 0 == consumer_position(out, "B")

    # compaction + restore produce versions but NO feed rows: the poll
    # advances the cursor without running a Spark job
    # (one write lands one file per partition, and a plain compaction of
    # a one-file partition is a no-op: sort it, so the rewrite commits)
    part = next(iter(make_ledger(out, "commitlog").committed()))
    assert compact_partition(spark, out, part, target_files=1,
                             sort_by=["conv_id", "turn_idx"])["compacted"]
    r = consume_changes(spark, out, "A",
                        lambda df, s, u: pytest.fail("no-row window"))
    assert r["advanced"] and r["consumed_rows"] == 0

    # an append then a rollback of that append: B (behind since before
    # the append) must NOT be fed the discarded rows
    v_pre = make_ledger(out, "commitlog").latest_version()
    _append(spark, table, 75, 200)
    restore_table(out, version=v_pre)
    rb = consume_changes(spark, out, "B",
                         lambda df, s, u: None)
    assert rb["consumed_rows"] == len(table["pdf1"])  # bootstrap only

    # a consumer that fell behind vacuum re-bootstraps LOUDLY: C's
    # window includes the rolled-back insert whose files vacuum removed
    consume_changes(spark, out, "C", lambda df, s, u: None)
    _append(spark, table, 76, 150)
    v_mid = make_ledger(out, "commitlog").latest_version()
    restore_table(out, version=v_pre)
    assert vacuum(out, min_age_s=0) > 0
    # C's cursor is fine (the discarded insert left the feed with the
    # restore), but a cursor pinned BEFORE a vacuumed live-era would
    # raise — emulate by asking for the vacuumed window directly
    from curator_spark.checkpoint import read_changes
    with pytest.raises(FileNotFoundError, match="vacuum"):
        read_changes(spark, out, consumer_position(out, "C"), v_mid)


def test_cursor_files_are_garbage_collected(tmp_path):
    """Cursors are write-once and position reads max(listdir): without
    GC a long-lived consumer accretes one file per advancing poll and
    the scan grows with table age. Committing cursor N reclaims all but
    the max plus a short crash-safety tail — and never the max."""
    from curator_spark.feed import (
        CURSOR_KEEP_TAIL, _commit_cursor, _cursor_dir, consumer_position)
    import os
    out = str(tmp_path / "t")
    for v in range(1, 41):
        _commit_cursor(out, "trainer", v, rows=v * 10)
    assert consumer_position(out, "trainer") == 40
    d = _cursor_dir(out, "trainer")
    kept = sorted(fn for fn in os.listdir(d) if fn.startswith("cursor-"))
    assert len(kept) == CURSOR_KEEP_TAIL + 1
    assert kept[-1] == "cursor-000000000040.json"
    # an out-of-order late commit (a crashed racer replaying an old
    # window) neither resurrects history nor moves the position back
    _commit_cursor(out, "trainer", 3, rows=30)
    assert consumer_position(out, "trainer") == 40


def test_feed_refuses_markers_backend(spark, tmp_path):
    p = str(tmp_path / "in.parquet")
    fixtures.write_transcripts_parquet(p, 200, seed=77, n_parts=2)
    out = str(tmp_path / "mout")
    run_checkpointed(spark, p, out, ledger_backend="markers")
    with pytest.raises(ValueError, match="commitlog"):
        consume_changes(spark, out, "x", lambda df, s, u: None)


def test_cli_consume_and_status_surfacing(spark, table, tmp_path):
    """The ops face of the feed: `cli.py --consume ID --consume-out D`
    writes window-keyed batches with the durable cursor, and
    run_status surfaces table version + consumer positions (+ writer
    txn marks elsewhere)."""
    import glob
    import os

    from curator_spark import cli
    from curator_spark.status import format_run_status, run_status
    out = table["out"]
    dest = str(tmp_path / "batches")
    rc = cli.main(["--output", out, "--consume", "trainer",
                   "--consume-out", dest, "--local-cores", "4"])
    assert rc == 0
    dirs = glob.glob(os.path.join(dest, "batch-v*"))
    assert len(dirs) == 1
    got = spark.read.parquet(dirs[0])
    assert got.count() == read_committed(spark, out).count()  # bootstrap

    s = run_status(out)
    assert s["version"] and s["consumers"]["trainer"] >= s["version"] - 1
    txt = format_run_status(out)
    assert "consumers: trainer@v" in txt and "table version: v" in txt
    # second poll: nothing new, no second batch directory
    rc = cli.main(["--output", out, "--consume", "trainer",
                   "--consume-out", dest, "--local-cores", "4"])
    assert rc == 0
    assert len(glob.glob(os.path.join(dest, "batch-v*"))) == 1


def test_cli_vacuum_dry_run_reports_without_deleting(spark, table, tmp_path,
                                                     capsys):
    import json as _json

    from curator_spark import cli
    from curator_spark.checkpoint import restore_table, table_row_count
    out = table["out"]
    from curator_spark.checkpoint import make_ledger
    v_pre = table_row_count(out)
    v_log = make_ledger(out, "commitlog").latest_version()
    _append(spark, table, 78, 150)
    # roll back the append → its files become vacuum-able orphans
    restore_table(out, version=v_log)
    rc = cli.main(["--output", out, "--consume", "aud",
                   "--consume-out", str(tmp_path / "b"),
                   "--vacuum-dry-run", "--vacuum-min-age-sec", "0",
                   "--local-cores", "4"])
    assert rc == 0
    s = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["files_vacuumable"] > 0
    # nothing deleted: the rolled-back era still time-travel-reads
    assert table_row_count(out) == v_pre
