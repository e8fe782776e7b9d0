"""The benchmark's workloads, their generated inputs and their checks.

Each workload drives curator_spark only through its public functions, as
one closed-loop client: the next operation starts when the previous one
returned. Operations are of three kinds, timed separately:

* ``write``  - batch_curate: one ``run_checkpointed`` over the whole
  generated batch into a fresh table; append_probe: one
  ``append_new_conversations`` of a generated batch into the growing table.
* ``probe``  - ``read_committed(where=("conv_id", "=", c))`` then collect.
* ``delete`` - ``delete_rows_dv`` of one conversation.

Inputs are a pure function of the seed. Every operation's result is checked
against what the generator planned; a failed check counts as a failed
operation.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import sys
import time
import traceback
from collections import Counter

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from curator_spark import fixtures, pipeline, rules, scoring
from curator_spark.checkpoint import (
    make_ledger, read_committed, run_checkpointed, snapshot_files,
    table_row_count, delete_rows_dv)
from curator_spark.incremental import (
    append_new_conversations, conv_fingerprints)
from curator_spark.models import langid, ngram_lm
from curator_spark.oracle.pipeline_pandas import run_oracle

from tracing import median

N_PARTS = 16
BUCKET = {"col": "conv_id", "n_parts": N_PARTS, "fn": "md5full"}
ARROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us")), ("part", pa.int32())])

# (full run, --smoke) sizes in turns
SIZES = {
    "curate": (20_000, 2_000),    # batch_curate input
    "base": (20_000, 2_000),      # append_probe starting table
    "batch_novel": (800, 200),    # novel turns per append batch
    "batch_prior_dup": (150, 40),  # turns duplicating committed content
    "batch_inbatch_dup": (50, 20),  # turns duplicating the batch's own
}
LAYER_SAMPLE_TURNS = 2_000  # single-core layer calls run on this sample
MAX_CONV_TURNS_IN_BATCH = 40  # keeps append batches near their size


def write_partitioned(pdf, path: str) -> int:
    """Write a transcripts frame as `part=K/` directories, the bucketed
    input layout; returns the bytes written."""
    nbytes = 0
    for p, g in pdf.groupby("part"):
        d = os.path.join(path, f"part={int(p)}")
        os.makedirs(d)
        f = os.path.join(d, "turns.parquet")
        pq.write_table(pa.Table.from_pandas(
            g.drop(columns=["part"]), preserve_index=False,
            schema=ARROW_SCHEMA.remove(ARROW_SCHEMA.get_field_index("part"))),
            f)
        nbytes += os.path.getsize(f)
    return nbytes


def write_single(pdf, path: str) -> int:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False,
                                        schema=ARROW_SCHEMA), path)
    return os.path.getsize(path)


def content_keys(pdf) -> dict[str, str]:
    """Content identity of each conversation, independent of its conv_id:
    a hash of its (turn_idx, role, text) sequence. Written separately from
    the library's fingerprint so the two can check each other."""
    keys: dict[str, str] = {}
    cur, h = None, None
    df = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    for c, i, role, text in zip(df["conv_id"], df["turn_idx"], df["role"],
                                df["text"]):
        if c != cur:
            if cur is not None:
                keys[cur] = h.hexdigest()
            cur, h = c, hashlib.sha1()
        h.update(repr((int(i), role, text)).encode())
    if cur is not None:
        keys[cur] = h.hexdigest()
    return keys


def output_digest(pdf) -> str:
    """Order-independent digest of (conv_id, turn_idx, keep,
    scrubbed_text) rows."""
    rows = sorted(zip(pdf["conv_id"], (int(i) for i in pdf["turn_idx"]),
                      pdf["keep"], pdf["scrubbed_text"]),
                  key=lambda r: (r[0], r[1]))
    h = hashlib.sha1()
    for r in rows:
        h.update(repr((r[0], r[1], None if r[2] is None else bool(r[2]),
                       r[3])).encode())
    return h.hexdigest()


def live_bytes(table: str) -> int:
    return sum(os.path.getsize(p) for p in snapshot_files(table))


class Workload:
    """Shared op timing, failure accounting and layer measurements."""

    name = ""
    reads_per_cycle = 10  # every tenth read-side op is a delete

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.small = ctx.smoke
        self.rng = random.Random(f"perfbench-{self.name}-{ctx.seed}")
        self.work = ctx.work
        self.attempted = 0
        self.failures: list[str] = []
        self.recording = False  # False during warm-up
        self.samples: dict[tuple[str, bool], list[float]] = {}
        self.spark_ops: dict[str, Counter] = {}
        self.write_layers: list[dict] = []
        self.plans: list[tuple[float, int]] = []
        self.input_bytes = 1
        self.sample_text = None
        self.layer_metrics: dict[str, float] = {}

    def size(self, key: str) -> int:
        return SIZES[key][1 if self.small else 0]

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr, flush=True)

    def op(self, kind: str, fn, check=None, span: str = ""):
        """Run one timed operation; returns its result, or None if it
        raised. `check(result)` runs outside the timed region and returns
        an error message or None."""
        tr = self.ctx.tracer
        stages = self.ctx.stages if tr.enabled else None
        self.attempted += 1
        tr.new_op()
        if stages is not None:
            tb = time.perf_counter()
            stages.take()
            tr.bookkeeping_s += time.perf_counter() - tb
        t0 = time.perf_counter()
        try:
            with tr.span(span or kind):
                result = fn()
        except Exception as e:  # noqa: BLE001 - a failed op is a data point
            traceback.print_exc(file=sys.stderr)
            self.fail(f"{self.name} {kind} raised {type(e).__name__}: {e}")
            return None
        wall = time.perf_counter() - t0
        if self.recording:
            self.samples.setdefault((kind, tr.enabled), []).append(
                wall * 1000.0)
        if stages is not None and self.recording:
            tb = time.perf_counter()
            d = stages.take()
            acc = self.spark_ops.setdefault(kind, Counter())
            acc.update(d)
            acc["ops"] += 1
            acc["wall_ms"] += wall * 1000.0
            tr.bookkeeping_s += time.perf_counter() - tb
        if check is not None:
            msg = check(result)
            if msg:
                self.fail(f"{self.name} {kind}: {msg}")
        return result

    def probe(self, table: str, conv_id: str, expect: int) -> None:
        def run():
            with self.ctx.tracer.span("checkpoint.read_committed"):
                df = read_committed(self.spark, table,
                                    where=("conv_id", "=", conv_id))
            with self.ctx.tracer.span("spark.collect"):
                return len(df.collect())
        self.op("probe", run, span="probe",
                check=lambda n: None if n == expect else
                f"probe {conv_id} returned {n} rows, expected {expect}")
        if self.ctx.tracer.enabled and self.recording:
            with self.ctx.tracer.span("checkpoint.snapshot_files"):
                t0 = time.perf_counter()
                files = snapshot_files(table, where=("conv_id", "=", conv_id))
                self.plans.append(((time.perf_counter() - t0) * 1000.0,
                                   len(files)))

    def delete(self, table: str, conv_id: str, expect: int) -> None:
        self.op("delete",
                lambda: delete_rows_dv(self.spark, table, [conv_id]),
                span="checkpoint.delete_rows_dv",
                check=lambda r: None if r["rows_deleted"] == expect else
                f"delete {conv_id} removed {r['rows_deleted']} rows, "
                f"expected {expect}")

    def write_op(self, table: str, fn, check, span: str):
        """A write op; when traced, also records its commit-log and file
        deltas (taken outside the timed region)."""
        tr = self.ctx.tracer
        before = None
        if tr.enabled and self.recording:
            before = self._table_state(table)
        n_ops = len(self.samples.get(("write", tr.enabled), []))
        result = self.op("write", fn, check=check, span=span)
        if before is not None and result is not None:
            after = self._table_state(table)
            wall_ms = self.samples[("write", True)][n_ops]
            self.write_layers.append({
                "run_s": wall_ms / 1000.0,
                "commits": after[0] - before[0],
                "files_written": after[1] - before[1]})
        return result

    @staticmethod
    def _table_state(table: str) -> tuple[int, int]:
        if not os.path.isdir(os.path.join(table, "_commitlog")):
            return (-1, 0)
        v = make_ledger(table, "commitlog").latest_version()
        return (-1 if v is None else v, len(snapshot_files(table)))

    # -- layer measurements (traced pass only) --------------------------
    def measure_layers(self, pipeline_input: str, table: str) -> None:
        """Single-core model/rule calls on a fixed text sample, the
        pipeline stages on this workload's input, and the read-path and
        incremental layers on its table."""
        tr, m = self.ctx.tracer, self.layer_metrics
        text = self.sample_text
        n = len(text)

        def per_turn_us(name, fn):
            ts = []
            for _ in range(3):
                with tr.span(name):
                    t0 = time.perf_counter()
                    out = fn()
                    ts.append(time.perf_counter() - t0)
            return median(ts) / n * 1e6, out

        lm, lang_model = ngram_lm.get_model(), langid.get_model()
        m["langid.us_per_turn"], (lang, _) = per_turn_us(
            "models.langid", lambda: lang_model.classify_series(text))
        m["ngram_lm.us_per_turn"], ppl = per_turn_us(
            "models.ngram_lm", lambda: lm.perplexity_series(text))
        m["rules.scrub_us_per_turn"], _ = per_turn_us(
            "rules.scrub", lambda: rules.scrub_series(text))
        m["rules.heuristic_us_per_turn"], _ = per_turn_us(
            "rules.heuristic", lambda: rules.heuristic_flags(text, lang, ppl))
        m["scoring.us_per_turn"], _ = per_turn_us(
            "scoring", lambda: scoring.score_text_series(text))

        spark, stages = self.spark, self.ctx.stages
        from curator_spark import schema
        df = spark.read.schema(schema.TRANSCRIPTS_SCHEMA).parquet(
            pipeline_input)
        scored = os.path.join(self.work, "layers-scored")

        def timed(name, fn):
            stages.take()
            with tr.span(name):
                t0 = time.perf_counter()
                fn()
                wall = time.perf_counter() - t0
            return wall, stages.take()

        def force(d):
            d.write.format("noop").mode("overwrite").save()

        m["pipeline.score_s"], _ = timed(
            "pipeline.score_turns", lambda: force(pipeline.score_turns(df)))
        m["pipeline.staged_s"], io = timed(
            "pipeline.run_pipeline_staged",
            lambda: force(pipeline.run_pipeline_staged(spark, df, scored)))
        m["pipeline.shuffle_read_mb"] = io["shuffle_read_b"] / 2**20
        m["pipeline.input_mb"] = io["input_b"] / 2**20
        m["pipeline.conv_agg_s"], _ = timed(
            "pipeline.conversation_aggregates",
            lambda: force(pipeline.conversation_aggregates(
                spark.read.parquet(scored))))
        shutil.rmtree(scored, ignore_errors=True)

        with tr.span("incremental.conv_fingerprints"):
            t0 = time.perf_counter()
            conv_fingerprints(read_committed(spark, table).select(
                "conv_id", "turn_idx", "role", "text")).count()
            m["incremental.fingerprint_s"] = time.perf_counter() - t0

        committed = make_ledger(table, "commitlog").snapshot()[0]
        m["checkpoint.files_live"] = sum(
            len((mk or {}).get("files") or {}) for mk in committed.values())
        m["checkpoint.dv_files"] = sum(
            len((mk or {}).get("dv") or {}) for mk in committed.values())
        if self.plans:
            m["checkpoint.plan_ms"] = median([p[0] for p in self.plans])
            m["checkpoint.files_planned"] = median([p[1] for p in self.plans])

        if self.write_layers:
            w = self.write_layers
            m["checkpoint.run_s"] = median([x["run_s"] for x in w])
            m["checkpoint.overhead_s"] = (m["checkpoint.run_s"]
                                          - m["pipeline.staged_s"])
            m["checkpoint.commits"] = median([x["commits"] for x in w])
            m["checkpoint.files_written"] = median(
                [x["files_written"] for x in w])
        ops = self.spark_ops.get("write")
        if ops:
            m["checkpoint.spark_jobs"] = ops["jobs"] / ops["ops"]
        cores = self.ctx.nproc
        for kind in ("write", "probe", "delete"):
            ops = self.spark_ops.get(kind)
            if not ops:
                continue
            m[f"spark.{kind}_core_busy_frac"] = (
                ops["run_ms"] / (ops["wall_ms"] * cores))
            m[f"spark.{kind}_tasks"] = ops["tasks"] / ops["ops"]
            m[f"spark.{kind}_failed_tasks"] = float(ops["failed_tasks"])


class BatchCurate(Workload):
    """One checkpointed curation run over the whole generated batch into
    a fresh table per cycle, then point probes and one delete on it."""

    name = "batch_curate"

    def setup(self) -> None:
        pdf = fixtures.generate_transcripts(self.size("curate"),
                                            seed=self.ctx.seed,
                                            n_parts=N_PARTS)
        self.pdf = pdf
        self.n_turns = len(pdf)
        self.input = os.path.join(self.work, "input")
        self.input_bytes = write_partitioned(pdf, self.input)
        self.rows_by_conv = pdf.groupby("conv_id").size().to_dict()
        self.conv_ids = sorted(self.rows_by_conv)
        self.sample_text = pdf["text"].iloc[:LAYER_SAMPLE_TURNS] \
            .reset_index(drop=True)
        # warm-up: Python workers, model build and JVM code paths. The JIT
        # needs the full volume, so the warm-up curates the same input
        warm_out = os.path.join(self.work, "warm-table")
        self.write_op(warm_out, lambda: run_checkpointed(
            self.spark, self.input, warm_out, ledger_backend="commitlog",
            bucket=BUCKET), check=None, span="checkpoint.run_checkpointed")
        c = self.conv_ids[0]
        self.probe(warm_out, c, self.rows_by_conv[c])
        self.delete(warm_out, c, self.rows_by_conv[c])
        shutil.rmtree(warm_out, ignore_errors=True)
        self.reps: list[tuple[str, set]] = []  # (table, deleted convs)

    def cycle(self) -> None:
        table = os.path.join(self.work, f"table-{len(self.reps)}")
        n = self.n_turns
        self.write_op(
            table, lambda: run_checkpointed(
                self.spark, self.input, table, ledger_backend="commitlog",
                bucket=BUCKET),
            check=lambda r: None if table_row_count(table) == n else
            f"table holds {table_row_count(table)} rows, expected {n}",
            span="checkpoint.run_checkpointed")
        gone: set[str] = set()
        for j in range(self.reads_per_cycle):
            if j % 10 == 9:
                c = self.rng.choice([x for x in self.conv_ids
                                     if x not in gone])
                self.delete(table, c, self.rows_by_conv[c])
                gone.add(c)
                continue
            if gone and self.rng.random() < 0.15:
                c = self.rng.choice(sorted(gone))
            else:
                c = self.rng.choice(self.conv_ids)
            self.probe(table, c, 0 if c in gone else self.rows_by_conv[c])
        if self.reps:  # only the newest table is kept for the digest
            shutil.rmtree(self.reps[-1][0], ignore_errors=True)
        self.reps.append((table, gone))

    def verify(self) -> None:
        """The newest table must equal the pandas oracle on the same input
        (minus the conversations its cycle deleted)."""
        if not self.reps:
            return
        table, gone = self.reps[-1]
        self.attempted += 1
        try:
            got = read_committed(self.spark, table).select(
                "conv_id", "turn_idx", "keep", "scrubbed_text").toPandas()
        except Exception as e:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
            self.fail(f"reading {table} raised {type(e).__name__}: {e}")
            return
        want = run_oracle(self.pdf)
        want = want[~want["conv_id"].isin(gone)]
        if output_digest(got) != output_digest(want):
            self.fail(f"batch_curate output digest differs from the oracle "
                      f"({len(got)} rows vs {len(want)})")

    def corrupt_and_verify(self) -> bool:
        """Self-test: damage one live data file of the newest table and
        report whether verify() notices."""
        table, _ = self.reps[-1]
        drop_first_row(snapshot_files(table)[0])
        before = len(self.failures)
        self.verify()
        return len(self.failures) > before

    def metrics(self) -> dict[str, float]:
        writes = self.samples.get(("write", False), [])
        out = {"turns_per_s": self.n_turns / (median(writes) / 1000.0)}
        if self.reps:
            out["stored_bytes_per_input_byte"] = (
                live_bytes(self.reps[-1][0]) / self.input_bytes)
        return out

    def layers(self) -> None:
        self.measure_layers(self.input, self.reps[-1][0])
        self.layer_metrics["incremental.rows_rescanned"] = 0.0
        self.layer_metrics["incremental.novel_ratio"] = 0.0


class AppendProbe(Workload):
    """A growing table: each cycle appends one generated batch, then runs
    point probes with every tenth read-side op a one-conversation delete.
    """

    name = "append_probe"
    reads_per_cycle = 20  # the read path is this workload's subject

    def setup(self) -> None:
        seed = self.ctx.seed
        base = fixtures.generate_transcripts(self.size("base"), seed=seed,
                                             n_parts=N_PARTS)
        self.base_input = os.path.join(self.work, "base-input")
        self.input_bytes = write_partitioned(base, self.base_input)
        self.sample_text = base["text"].iloc[:LAYER_SAMPLE_TURNS] \
            .reset_index(drop=True)
        self.table = os.path.join(self.work, "table")
        # the base build also warms the curation path
        self.write_op(self.table, lambda: run_checkpointed(
            self.spark, self.base_input, self.table,
            ledger_backend="commitlog", bucket=BUCKET),
            check=None, span="checkpoint.run_checkpointed")
        # the generator's plan: rows per conversation and content keys
        self.expect_rows = base.groupby("conv_id").size().to_dict()
        self.turns = {c: g for c, g in base.groupby("conv_id")}
        self.key_of = content_keys(base)
        self.live_keys = Counter(self.key_of.values())
        self.expect_total = len(base)
        ids = sorted(self.expect_rows)
        self.rng.shuffle(ids)
        cut = len(ids) // 5
        self.delete_pool, self.dup_pool = ids[:cut], ids[cut:]
        self.base_ids = ids
        self.appended: list[str] = []   # conv_ids the appends introduced
        self.deleted: list[str] = []
        self.batches = 0
        self.novel_turns: list[int] = []
        self.summaries: list[dict] = []
        self.batch_input = ""
        # warm-up of the read path; the base build already warmed the
        # Python workers, the models and the write path
        c = self.dup_pool[0]
        self.probe(self.table, c, self.expect_rows[c])
        self.probe(self.table, c, self.expect_rows[c])

    def make_batch(self):
        """Novel conversations, content duplicates of committed ones under
        new conv_ids, and duplicates inside the batch itself."""
        k = self.batches
        self.batches += 1
        novel, n, attempt = [], 0, 0
        while n < self.size("batch_novel"):
            # conv_ids embed the seed: (run seed, batch, attempt) -> unique
            sub = 10**9 + (self.ctx.seed * 1000 + k) * 100 + attempt
            attempt += 1
            fresh = fixtures.generate_transcripts(
                2 * self.size("batch_novel"), seed=sub, n_parts=N_PARTS)
            for _, g in fresh.groupby("conv_id", sort=True):
                if len(g) <= MAX_CONV_TURNS_IN_BATCH:
                    novel.append(g)
                    n += len(g)
                    if n >= self.size("batch_novel"):
                        break

        def renamed(g, new_id):
            g = g.copy()
            g["conv_id"] = new_id
            g["part"] = fixtures.part_of(new_id, N_PARTS)
            return g

        dups, n, j = [], 0, 0
        tries = 10 * len(self.dup_pool)
        while n < self.size("batch_prior_dup") and j < tries:
            g = self.turns[self.rng.choice(self.dup_pool)]
            if len(g) <= MAX_CONV_TURNS_IN_BATCH:
                dups.append(renamed(g, f"dupp-{self.ctx.seed}-{k}-{j:05d}"))
                n += len(g)
            j += 1
        n, j = 0, 0
        for g in self.rng.sample(novel, len(novel)):
            if n >= self.size("batch_inbatch_dup"):
                break
            dups.append(renamed(g, f"dupb-{self.ctx.seed}-{k}-{j:05d}"))
            n += len(g)
            j += 1
        return pd.concat(novel + dups, ignore_index=True)

    def plan(self, batch) -> int:
        """Expected rows the append adds: per content group absent from
        the live table, the lowest conv_id wins; everything else is
        skipped. Updates the probe truth."""
        groups: dict[str, list[str]] = {}
        by_conv = {c: g for c, g in batch.groupby("conv_id")}
        for c, key in content_keys(batch).items():
            groups.setdefault(key, []).append(c)
        rows = 0
        for key, members in groups.items():
            winner = min(members) if self.live_keys[key] == 0 else None
            for c in members:
                self.appended.append(c)
                self.expect_rows[c] = len(by_conv[c]) if c == winner else 0
            if winner is not None:
                rows += len(by_conv[winner])
                self.live_keys[key] += 1
                self.key_of[winner] = key
        return rows

    def cycle(self) -> None:
        batch = self.make_batch()
        path = os.path.join(self.work, f"batch-{self.batches:03d}.parquet")
        self.input_bytes += write_single(batch, path)
        self.batch_input = path
        expect = self.plan(batch)
        self.expect_total += expect

        def check(r):
            if r["rows_appended"] != expect:
                return (f"append added {r['rows_appended']} rows, "
                        f"expected {expect}")
            got = table_row_count(self.table)
            if got != self.expect_total:
                return f"table holds {got} rows, expected {self.expect_total}"
            return None

        r = self.write_op(self.table, lambda: append_new_conversations(
            self.spark, path, self.table), check=check,
            span="incremental.append_new_conversations")
        if r is not None:
            self.novel_turns.append(expect)
            self.summaries.append(r)
        for j in range(self.reads_per_cycle):
            if j % 10 == 9 and len(self.deleted) < len(self.delete_pool):
                c = self.delete_pool[len(self.deleted)]
                n = self.expect_rows[c]
                self.deleted.append(c)
                self.expect_rows[c] = 0
                self.live_keys[self.key_of[c]] -= 1
                self.expect_total -= n
                self.delete(self.table, c, n)
                continue
            u = self.rng.random()
            if u < 0.15 and self.deleted:
                c = self.rng.choice(self.deleted)
            elif u < 0.40 and self.appended:
                c = self.rng.choice(self.appended)
            else:
                c = self.rng.choice(self.base_ids)
            self.probe(self.table, c, self.expect_rows[c])

    def verify(self) -> None:
        self.attempted += 1
        got = table_row_count(self.table)
        if got != self.expect_total:
            self.fail(f"append_probe table holds {got} rows, expected "
                      f"{self.expect_total}")

    def corrupt_and_verify(self) -> bool:
        """Self-test: drop one row from a live data file, then probe that
        row's conversation; the probe must fail its check."""
        committed = make_ledger(self.table, "commitlog").snapshot()[0]
        part, name = next(
            (p, fn) for p, mk in sorted(committed.items())
            for fn in sorted((mk or {}).get("files") or {})
            if fn not in ((mk or {}).get("dv") or {}))
        conv = drop_first_row(os.path.join(self.table, "data",
                                           f"part={part}", name))
        before = len(self.failures)
        self.probe(self.table, conv, self.expect_rows[conv])
        return len(self.failures) > before

    def metrics(self) -> dict[str, float]:
        writes = self.samples.get(("write", False), [])
        novel = self.novel_turns[:len(writes)]
        return {
            "turns_per_s": sum(novel) / (sum(writes) / 1000.0),
            "stored_bytes_per_input_byte":
                live_bytes(self.table) / self.input_bytes,
        }

    def layers(self) -> None:
        self.measure_layers(self.batch_input, self.table)
        m = self.layer_metrics
        ops = self.spark_ops.get("write")
        m["incremental.rows_rescanned"] = (
            ops["input_records"] / ops["ops"] if ops else 0.0)
        s = self.summaries
        m["incremental.novel_ratio"] = (
            sum(x["convs_new"] for x in s) / max(1, sum(x["convs_in"]
                                                       for x in s)))


def drop_first_row(path: str) -> str:
    """Rewrite a parquet file without its first row; returns that row's
    conv_id."""
    t = pq.read_table(path)
    conv = t.column("conv_id")[0].as_py()
    pq.write_table(t.slice(1), path)
    return conv


WORKLOADS = {w.name: w for w in (BatchCurate, AppendProbe)}
