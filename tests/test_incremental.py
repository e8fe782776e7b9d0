"""Incremental corpus maintenance (curator_spark/incremental.py):
cross-run content dedup on append, in-batch keep-first, idempotent
re-delivery, ledger-backend governance, and the multi-run recompute
safety rail."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from curator_spark import fixtures
from curator_spark.checkpoint import (
    make_ledger, read_committed, read_metrics, revalidate_committed,
    run_checkpointed, vacuum)
from curator_spark.incremental import append_new_conversations


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """A committed commitlog table from batch1, plus a batch2 that mixes
    fresh conversations, re-delivered batch1 content under new ids, and
    one in-batch duplicate."""
    base = tmp_path_factory.mktemp("incr")
    b1 = fixtures.generate_transcripts(2000, seed=11, n_parts=8)
    p1 = str(base / "batch1.parquet")
    fixtures.to_spark_parquet(b1, p1)
    out = str(base / "out")
    run_checkpointed(spark, p1, out, ledger_backend="commitlog")

    fresh = fixtures.generate_transcripts(1000, seed=12, n_parts=8)
    dup_ids = sorted(b1["conv_id"].unique())[:5]
    redeliver = b1[b1["conv_id"].isin(dup_ids)].copy()
    redeliver["conv_id"] = "redeliver-" + redeliver["conv_id"]
    redeliver["part"] = redeliver["conv_id"].map(
        lambda c: fixtures.part_of(c, 8)).astype("int32")
    src = sorted(fresh["conv_id"].unique())[0]
    inbatch = fresh[fresh["conv_id"] == src].copy()
    inbatch["conv_id"] = "zz-" + inbatch["conv_id"]
    inbatch["part"] = inbatch["conv_id"].map(
        lambda c: fixtures.part_of(c, 8)).astype("int32")
    b2 = pd.concat([fresh, redeliver, inbatch], ignore_index=True)
    p2 = str(base / "batch2.parquet")
    fixtures.to_spark_parquet(b2, p2)
    return {"out": out, "p1": p1, "p2": p2, "b1": b1, "fresh": fresh,
            "n_redeliver": len(dup_ids)}


def test_append_dedups_across_and_within_batch(spark, corpus):
    s = append_new_conversations(spark, corpus["p2"], corpus["out"])
    n_fresh_convs = corpus["fresh"]["conv_id"].nunique()
    assert s["convs_in"] == n_fresh_convs + corpus["n_redeliver"] + 1
    assert s["convs_dup_prior"] == corpus["n_redeliver"]
    assert s["convs_dup_inbatch"] == 1
    assert s["convs_new"] == n_fresh_convs
    assert s["rows_appended"] == len(corpus["fresh"])

    table = read_committed(spark, corpus["out"])
    assert table.count() == len(corpus["b1"]) + len(corpus["fresh"])
    # no content duplicate survives: every fingerprint appears once
    from curator_spark.incremental import conv_fingerprints
    fps = conv_fingerprints(
        table.select("conv_id", "turn_idx", "role", "text"))
    assert fps.count() == fps.select("conv_fp").distinct().count()


def test_reappend_is_noop_and_base_run_stays_memoized(spark, corpus):
    s = append_new_conversations(spark, corpus["p2"], corpus["out"])
    assert s["convs_new"] == 0 and s["rows_appended"] == 0
    before = read_committed(spark, corpus["out"]).count()
    # resuming the ORIGINAL run must not clobber appended partitions
    r = run_checkpointed(spark, corpus["p1"], corpus["out"],
                         ledger_backend="commitlog")
    assert r["parts_committed"] == 0 and r["parts_invalidated"] == 0
    assert read_committed(spark, corpus["out"]).count() == before


def test_append_metrics_recorded_and_vacuum_safe(spark, corpus):
    m = read_metrics(spark, corpus["out"]).toPandas()
    assert m["run_id"].nunique() >= 2  # base run + append run
    assert (m.groupby("run_id")["n_in"].sum() > 0).all()
    # a clean append leaves no orphans: everything is referenced
    assert vacuum(corpus["out"], min_age_s=0) == 0


def test_run_status_counts_appended_rows(spark, corpus):
    """The status tracker's totals must include every contributing
    run's metrics for multi-run partitions — scoping to the marker's
    base run_id alone would hide appended rows."""
    from curator_spark.status import run_status
    s = run_status(corpus["out"])
    expected = len(corpus["b1"]) + len(corpus["fresh"])
    assert s["totals"]["n_in"] == expected
    assert s["parts_committed"] == 8


def test_append_refuses_markers_backend(spark, tmp_path):
    b = fixtures.generate_transcripts(300, seed=5, n_parts=4)
    p = str(tmp_path / "b.parquet")
    fixtures.to_spark_parquet(b, p)
    out = str(tmp_path / "out")
    run_checkpointed(spark, p, out)  # default markers ledger
    with pytest.raises(ValueError, match="commitlog"):
        append_new_conversations(spark, p, out)


def test_multirun_partition_refuses_silent_recompute(spark, corpus):
    """Corrupting a referenced file of a MULTI-run partition must raise
    (recomputing it from one input would drop the other run's rows),
    not silently invalidate."""
    ledger = make_ledger(corpus["out"], "commitlog")
    multi = {p: m for p, m in ledger.committed().items()
             if len((m or {}).get("runs", [])) > 1}
    assert multi, "fixture should have produced multi-run partitions"
    part, marker = sorted(multi.items())[0]
    fn = sorted(marker["files"])[0]
    fp = os.path.join(corpus["out"], "data", f"part={part}", fn)
    keep = open(fp, "rb").read()
    try:
        with open(fp, "wb") as f:
            f.write(b"corrupt")
        with pytest.raises(RuntimeError, match="appended"):
            revalidate_committed(corpus["out"], ledger)
    finally:
        with open(fp, "wb") as f:
            f.write(keep)
    valid, invalid = revalidate_committed(corpus["out"], ledger)
    assert part in valid and not invalid


def test_upsert_replaces_revised_keeps_same_adds_new(spark, tmp_path):
    """MERGE semantics: unchanged conv absorbed, revised conv REPLACED
    (old rows gone, new rows present exactly once), unseen conv added;
    the replaced rows survive in pre-upsert snapshots."""
    import pandas as pd

    from curator_spark.checkpoint import make_ledger, run_checkpointed
    from curator_spark.incremental import upsert_conversations

    p1 = str(tmp_path / "b1.parquet")
    b1 = fixtures.write_transcripts_parquet(p1, 800, seed=61, n_parts=4)
    out = str(tmp_path / "out")
    run_checkpointed(spark, p1, out, ledger_backend="commitlog",
                     bucket={"col": "conv_id", "n_parts": 4,
                             "fn": "md5full"})
    v0 = make_ledger(out, "commitlog").latest_version()

    ids = sorted(b1["conv_id"].unique())
    same_id, rev_id = ids[0], ids[1]
    same = b1[b1["conv_id"] == same_id].copy()
    revised = b1[b1["conv_id"] == rev_id].copy()
    revised["text"] = revised["text"] + " [redacted-rev2]"
    fresh = fixtures.generate_transcripts(120, seed=62, n_parts=4)
    batch = pd.concat([same, revised, fresh], ignore_index=True)
    p2 = str(tmp_path / "b2.parquet")
    fixtures.to_spark_parquet(batch, p2)

    s = upsert_conversations(spark, p2, out)
    assert s["convs_revised"] == 1
    assert s["rows_appended"] == len(revised) + len(fresh)
    assert s["convs_dup_prior"] >= 1          # the unchanged conv

    table = read_committed(spark, out)
    assert table.count() == len(b1) + len(fresh)  # replace, not add
    got = table.filter(table.conv_id == rev_id).orderBy("turn_idx") \
        .select("text").toPandas()["text"].tolist()
    assert got == revised.sort_values("turn_idx")["text"].tolist()
    # old version still shows the pre-revision text
    old = read_committed(spark, out, version=v0)
    assert old.filter(old.conv_id == rev_id) \
        .filter("text LIKE '%redacted-rev2%'").count() == 0
    # idempotent: re-upserting the same batch changes nothing
    s2 = upsert_conversations(spark, p2, out)
    assert s2["convs_revised"] == 0 and s2["rows_appended"] == 0
    assert read_committed(spark, out).count() == len(b1) + len(fresh)


def test_upsert_never_materializes_revised_keys_on_driver(
        spark, tmp_path, monkeypatch):
    """The upsert's delete leg is data-plane volume: a batch revising
    10^7 conversations must not collect them as a Python list. Guard:
    every DataFrame.collect() during the upsert returns O(n_parts)
    rows (bucket ranges, per-part metrics) — never O(revised keys)."""
    import pandas as pd
    from pyspark.sql import DataFrame

    from curator_spark.checkpoint import run_checkpointed
    from curator_spark.incremental import upsert_conversations

    p1 = str(tmp_path / "b1.parquet")
    b1 = fixtures.write_transcripts_parquet(p1, 2000, seed=64, n_parts=4)
    out = str(tmp_path / "out")
    run_checkpointed(spark, p1, out, ledger_backend="commitlog",
                     bucket={"col": "conv_id", "n_parts": 4,
                             "fn": "md5full"})
    # revise EVERY conversation (the replace-half-the-corpus shape)
    batch = b1.copy()
    batch["text"] = batch["text"] + " [rev2]"
    n_revised = batch["conv_id"].nunique()
    assert n_revised >= 100
    p2 = str(tmp_path / "b2.parquet")
    fixtures.to_spark_parquet(batch, p2)

    sizes: list[int] = []
    orig = DataFrame.collect

    def counting(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", counting)
    s = upsert_conversations(spark, p2, out)
    monkeypatch.undo()
    assert s["convs_revised"] == n_revised
    assert s["rows_appended"] == len(batch)
    assert max(sizes, default=0) <= 64, (
        f"a collect materialized {max(sizes)} rows — key-volume-"
        "proportional driver state")
    table = read_committed(spark, out)
    assert table.count() == len(b1)               # replaced, not added
    assert table.filter("text LIKE '%[rev2]%'").count() == len(batch)


def _renamed(pdf, prefix):
    """The same conversations' content under new conv_ids."""
    out = pdf.copy()
    out["conv_id"] = prefix + out["conv_id"]
    out["part"] = out["conv_id"].map(
        lambda c: fixtures.part_of(c, 4)).astype("int32")
    return out


def test_append_dedup_counts_exact_and_dv_deleted_content_is_novel(
        spark, tmp_path):
    """Novelty is judged against the LIVE table: content whose
    conversation was removed by a DV delete is novel again when it is
    re-delivered under a new conv_id. On a batch mixing novel,
    prior-duplicate and in-batch-duplicate conversations every count
    is exact."""
    from curator_spark.checkpoint import delete_rows_dv

    b1 = fixtures.generate_transcripts(800, seed=71, n_parts=4)
    p1 = str(tmp_path / "b1.parquet")
    fixtures.to_spark_parquet(b1, p1)
    out = str(tmp_path / "out")
    run_checkpointed(spark, p1, out, ledger_backend="commitlog")
    ids = sorted(b1["conv_id"].unique())
    gone, live = ids[:2], ids[2:5]
    assert delete_rows_dv(spark, out, gone)["rows_deleted"] == \
        int(b1["conv_id"].isin(gone).sum())

    fresh = fixtures.generate_transcripts(200, seed=72, n_parts=4)
    src = sorted(fresh["conv_id"].unique())[0]
    prior = b1[b1["conv_id"].isin(live)]
    batch = pd.concat([
        fresh,
        _renamed(fresh[fresh["conv_id"] == src], "zz-"),  # in-batch dup
        _renamed(b1[b1["conv_id"].isin(gone)], "back-"),  # deleted: novel
        _renamed(prior, "re-"),                          # prior dup
        _renamed(prior, "re2-"),            # prior dup AND in-batch dup
    ], ignore_index=True)
    p2 = str(tmp_path / "b2.parquet")
    fixtures.to_spark_parquet(batch, p2)

    n_fresh = fresh["conv_id"].nunique()
    s = append_new_conversations(spark, p2, out)
    assert s["convs_in"] == n_fresh + 1 + len(gone) + 2 * len(live)
    assert s["convs_new"] == n_fresh + len(gone)
    assert s["convs_dup_prior"] == len(live)
    assert s["convs_dup_inbatch"] == 1 + len(live)
    assert s["rows_appended"] == \
        len(fresh) + int(b1["conv_id"].isin(gone).sum())

    table = read_committed(spark, out)
    back = {r.conv_id for r in table.filter(
        table.conv_id.startswith("back-")).select("conv_id")
        .distinct().collect()}
    assert back == {"back-" + c for c in gone}
    assert table.count() == len(b1) + s["rows_appended"] \
        - int(b1["conv_id"].isin(gone).sum())


def test_append_releases_its_cached_frames(spark, tmp_path):
    """An append persists its dedup frame and scored stage and must
    release both — on the no-novel early return too — or every append
    (and every streaming micro-batch) leaks one more cached RDD. The
    in-memory (staged=False) checkpointed run releases its scored
    stage the same way."""
    def n_cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    n0 = n_cached()
    b1 = fixtures.generate_transcripts(400, seed=73, n_parts=4)
    p1 = str(tmp_path / "b1.parquet")
    fixtures.to_spark_parquet(b1, p1)
    out = str(tmp_path / "out")
    run_checkpointed(spark, p1, out, ledger_backend="commitlog",
                     staged=False)
    assert n_cached() == n0
    for seed in (74, 75):
        p = str(tmp_path / f"b{seed}.parquet")
        fixtures.to_spark_parquet(
            fixtures.generate_transcripts(150, seed=seed, n_parts=4), p)
        assert append_new_conversations(spark, p, out)["convs_new"] > 0
        assert n_cached() == n0
    s = append_new_conversations(spark, p, out)  # re-delivery
    assert s["convs_new"] == 0
    assert n_cached() == n0
