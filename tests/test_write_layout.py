"""Write layout of the checkpointed run and the append: both rebalance on
`part` before the partitioned write, so AQE lands ONE file per touched
partition per write and still splits a partition that outgrows its
advisory size across several files, without moving a row."""

from __future__ import annotations

from curator_spark import fixtures
from curator_spark.checkpoint import make_ledger, read_committed, run_checkpointed
from curator_spark.incremental import append_new_conversations

HOT = 0


def _files_per_part(out):
    return {int(p): set((m or {}).get("files") or {})
            for p, m in make_ledger(out, "commitlog").committed().items()}


def _rows(df):
    cols = ["conv_id", "turn_idx", "role", "text"]
    return sorted(tuple(r) for r in df[cols].itertuples(index=False))


def _hot_batch(n_turns, seed):
    """~3/4 of the batch's conversations in partition HOT."""
    pdf = fixtures.generate_transcripts(n_turns, seed=seed, n_parts=4)
    pdf.loc[pdf["part"] < 3, "part"] = HOT
    return pdf


def test_write_lands_one_file_per_touched_partition(spark, tmp_path):
    base = fixtures.generate_transcripts(1500, seed=61, n_parts=4)
    p1 = str(tmp_path / "b1.parquet")
    fixtures.to_spark_parquet(base, p1)
    out = str(tmp_path / "out")
    run_checkpointed(spark, p1, out, ledger_backend="commitlog")
    before = _files_per_part(out)
    assert sorted(before) == [0, 1, 2, 3]
    assert all(len(f) == 1 for f in before.values())

    batch = fixtures.generate_transcripts(300, seed=62, n_parts=4)
    p2 = str(tmp_path / "b2.parquet")
    fixtures.to_spark_parquet(batch, p2)
    s = append_new_conversations(spark, p2, out)
    assert s["rows_appended"] == len(batch)
    after = _files_per_part(out)
    touched = set(batch["part"].unique())
    for p, files in after.items():
        assert before[p] <= files
        assert len(files - before[p]) == (1 if p in touched else 0)


def test_rebalance_splits_a_hot_partition(spark, tmp_path, split_writes):
    base = _hot_batch(2000, seed=63)
    p1 = str(tmp_path / "b1.parquet")
    split_writes(base, p1)
    out = str(tmp_path / "out")
    run_checkpointed(spark, p1, out, ledger_backend="commitlog")
    before = _files_per_part(out)
    assert len(before[HOT]) >= 2

    batch = _hot_batch(1000, seed=64)
    p2 = str(tmp_path / "b2.parquet")
    split_writes(batch, p2)
    s = append_new_conversations(spark, p2, out)
    assert s["convs_new"] == s["convs_in"]
    assert len(_files_per_part(out)[HOT] - before[HOT]) >= 2

    got = read_committed(spark, out).select(
        "conv_id", "turn_idx", "role", "text").toPandas()
    assert _rows(got) == sorted(_rows(base) + _rows(batch))
